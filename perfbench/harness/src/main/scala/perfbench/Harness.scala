package perfbench

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Bench
import graft.bench.Pipelines
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One benchmark process: a closed loop with one client that runs a
  * workload's pipelines one after another, each to a `noop` terminal.
  *
  * Usage: `perfbench.Harness --workload W --pipelines P1,P2,..
  * --staging S1,.. --sf DIR --cpus N --seconds S --trace 0|1 --out FILE`.
  * The pipelines are `Bench.entries` names and the staging calls
  * `Pipelines.stage*` names. After set-up comes the cold pass, whose
  * outputs are also checked outside its timed phases, then the timed
  * passes (and, with `--trace 1`, the traced passes). The report is
  * written to FILE as one JSON object, which `perfbench/run.py` turns
  * into metrics.
  */
object Harness {

  /** Approximate top-k rungs scored for recall against `ann_topk`. */
  val ApproxRungs: Seq[String] = Seq("ann_int8", "ann_pq", "ann_ivfadc", "ann_refine")
  val ExactRung = "ann_topk"

  final case class Timing(name: String, buildS: Double, terminalS: Double, ok: Boolean,
                          error: Option[String])
  final case class Pass(tag: String, wallS: Double, timings: Seq[Timing])

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val workloadName = arg(args, "workload")
    val pipelines = arg(args, "pipelines").split(",").toSeq.filter(_.nonEmpty)
    val staging = arg(args, "staging").split(",").toSeq.filter(_.nonEmpty)
    val sf = arg(args, "sf")
    val cpus = arg(args, "cpus")
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val out = arg(args, "out")

    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val stagedDirs = mutable.Map.empty[String, String].withDefaultValue("")
    val stageS = mutable.LinkedHashMap.empty[String, Double]
    for (call <- staging) {
      val t0 = System.nanoTime()
      stagedDirs(call) = call match {
        case "stageLoanCsv" => Pipelines.stageLoanCsv(spark, sf)
        case "stageInt8" => Pipelines.stageInt8(spark, sf)
        case "stageIndex" => Pipelines.stageIndex(spark, sf)
        case "stageIvfAdc" => Pipelines.stageIvfAdc(spark, sf)
      }
      stageS(call) = secondsSince(t0)
    }
    val setup = ListMap("session_s" -> sessionS, "stage_s" -> stageS,
      "setup_s" -> (sessionS + stageS.values.sum))

    val byName = Bench.entries(spark, sf, stagedDirs("stageLoanCsv"),
      stagedDirs("stageInt8"), stagedDirs("stageIndex"), stagedDirs("stageIvfAdc")).toMap
    val entries = pipelines.map(n => n -> byName.getOrElse(n,
      throw new IllegalStateException(s"Bench.entries has no pipeline $n")))

    val report = new Report(spark, entries)
    val (cold, check) = report.checkPass(recall = pipelines.contains(ExactRung))

    val heap = new HeapPeak
    heap.start()
    val timed = report.passesFor("t", seconds)
    val heapPeakMb = heap.stop()

    // A traced run goes on with traced passes and then untraced ones
    // again: the untraced passes bracket the traced ones, so warm-up
    // drift cancels out of the tracing overhead.
    val trace = if (traced) Some {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
      report.spanHook = tracer.driverSpan
      // deep call sites, so that jobs issued under library frames
      // (MLlib's optimizer loop) still reach their engine module
      System.setProperty("spark.callstack.depth", "200")
      val passes = report.passesFor("x", seconds)
      tracer.stop()
      System.clearProperty("spark.callstack.depth")
      report.spanHook = (_, _, _) => ()
      val after = report.passesFor("t", seconds)
      spark.stop()
      (passes, after, tracer)
    } else None
    if (trace.isEmpty) spark.stop()

    writeReport(out, ListMap(
      "workload" -> workloadName,
      "cpus" -> cpus.toInt,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup" -> setup,
      "cold" -> passJson(cold),
      "check" -> check,
      "timed" -> (timed ++ trace.toSeq.flatMap(_._2)).map(passJson),
      "traced" -> trace.toSeq.flatMap(_._1).map(passJson),
      "heap_peak_mb" -> heapPeakMb,
      "trace" -> trace.map { case (passes, after, tracer) =>
        TraceReport(setup, stageS.values.sum, Seq(cold), timed ++ after, passes,
          tracer.result(), cpus.toInt, heapPeakMb)
      }))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  def passJson(p: Pass): ListMap[String, Any] = ListMap(
    "tag" -> p.tag, "wall_s" -> p.wallS,
    "pipelines" -> p.timings.map(t => ListMap("name" -> t.name, "build_s" -> t.buildS,
      "terminal_s" -> t.terminalS, "ok" -> t.ok, "error" -> t.error)))

  /** Renders maps (in their iteration order), sequences and options;
    * a non-finite double is written as a bare `NaN`, which Python's
    * `json` reads as a float.
    */
  val mapper: JsonMapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  private def writeReport(path: String, report: ListMap[String, Any]): Unit =
    mapper.writeValue(new java.io.File(path), report)

  /** Runs passes over the workload's entries, labelling each phase with
    * the span property the tracer attributes work by.
    */
  final class Report(spark: SparkSession, entries: Seq[(String, () => DataFrame)]) {
    private val sc = spark.sparkContext
    private var passNo = 0
    /** Receives every leaf span's name and wall interval (epoch ms). */
    var spanHook: (String, Long, Long) => Unit = (_, _, _) => ()

    private def phase[T](span: String)(body: => T): (T, Double) = {
      sc.setLocalProperty(Tracer.SpanKey, span)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try (body, secondsSince(t0))
      finally {
        sc.setLocalProperty(Tracer.SpanKey, null)
        spanHook(span, startMs, System.currentTimeMillis())
      }
    }

    /** One pass over the entries. `after` runs outside the timed
      * phases, and its time is left out of the pass's wall time.
      */
    def pass(tag: String, terminal: (String, DataFrame) => Unit,
             after: (String, DataFrame) => Unit = (_, _) => ()): Pass = {
      val t0 = System.nanoTime()
      var untimedS = 0.0
      val timings = entries.map { case (name, mk) =>
        var buildS, terminalS = 0.0
        try {
          val (df, b) = phase(s"$tag/$name/build")(mk())
          buildS = b
          terminalS = phase(s"$tag/$name/terminal")(terminal(name, df))._2
          val u0 = System.nanoTime()
          try after(name, df) finally untimedS += secondsSince(u0)
          Timing(name, buildS, terminalS, ok = true, None)
        } catch {
          case e: Throwable => Timing(name, buildS, terminalS, ok = false, Some(describe(e)))
        }
      }
      Pass(tag, secondsSince(t0) - untimedS, timings)
    }

    /** Timed passes until `seconds` have elapsed (at least one). */
    def passesFor(prefix: String, seconds: Double): Seq[Pass] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer.empty[Pass]
      while (out.isEmpty || secondsSince(t0) < seconds) {
        passNo += 1
        out += pass(s"$prefix$passNo", (_, df) => noop(df))
      }
      out.toSeq
    }

    /** The cold pass, run to the `noop` terminal like the timed passes.
      * After each pipeline's terminal, outside the timed phases, its
      * frame is run again to a digest for the output check, and the
      * exact and approximate top-k rungs are collected to score recall.
      */
    def checkPass(recall: Boolean): (Pass, ListMap[String, Any]) = {
      val digests = mutable.Map.empty[String, Digest.Result]
      val neighbors = mutable.Map.empty[String, Map[Long, Set[Long]]]
      val p = pass("cold", (_, df) => noop(df), { (name, df) =>
        digests(name) = Digest.of(df)
        if (recall && (name == ExactRung || ApproxRungs.contains(name)))
          neighbors(name) = df.select("query_id", "neighbor_id").collect()
            .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      })
      val checks = ListMap.from(p.timings.map { t =>
        t.name -> digests.get(t.name).filter(_ => t.ok)
          .map(d => ListMap("ok" -> true, "rows" -> d.rows, "digest" -> d.digest))
          .getOrElse(ListMap("ok" -> false, "error" -> t.error))
      })
      val recallAt10 = neighbors.get(ExactRung).map { exact =>
        val perRung = ApproxRungs.flatMap(neighbors.get).map { got =>
          exact.map { case (q, truth) =>
            (got.getOrElse(q, Set.empty) intersect truth).size.toDouble / truth.size
          }.sum / exact.size
        }
        if (perRung.length == ApproxRungs.length) perRung.sum / perRung.length else Double.NaN
      }
      (p, ListMap("pipelines" -> checks, "recall_scored" -> recall,
        "recall_at_10" -> recallAt10))
    }
  }
}
