package graft.bench

import graft.Bench
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The one probe harness: times named [[graft.Bench.entries]] on
  * [[graft.Bench.session]] to the `noop` terminal `Bench.main` uses, so
  * a probe reading times the plan the bench runs. Each entry gets one
  * untimed warm-up pass, then [[Passes]] timed passes (build + terminal,
  * as in `Bench.main`); the probe prints the median and quartiles per
  * entry, then each entry's final adaptive plan from its last pass.
  *
  * Usage: `runMain graft.bench.Probe [--entries a,b] [--mult N]
  * [--files F] [--cpus C] <sfDir>`. Without `--entries` every entry
  * runs. With `mult > 1` or `files > 1` the entries read a staged copy
  * of the inputs ([[stage]]) instead of the fixture.
  */
object Probe {

  val Passes = 5

  final case class Args(entries: Seq[String], mult: Int, files: Int,
                        cpus: String, sfDir: String)

  private val Usage =
    "usage: Probe [--entries a,b] [--mult N] [--files F] [--cpus C] <sfDir>"

  def parse(args: Seq[String]): Args = {
    val flags = mutable.Map.empty[String, String]
    val positional = mutable.ArrayBuffer.empty[String]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case f @ ("--entries" | "--mult" | "--files" | "--cpus") =>
        require(it.hasNext, s"$f needs a value; $Usage")
        flags(f.drop(2)) = it.next()
      case f if f.startsWith("--") => throw new IllegalArgumentException(
        s"unknown option $f; $Usage")
      case p => positional += p
    }
    require(positional.size == 1, Usage)
    Args(flags.get("entries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      flags.getOrElse("mult", "1").toInt, flags.getOrElse("files", "1").toInt,
      flags.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString),
      positional.head)
  }

  /** The named entries in the order given (all of them when `names` is
    * empty); an unknown name fails with the list of valid ones.
    */
  def select[T](all: Seq[(String, T)], names: Seq[String]): Seq[(String, T)] = {
    val byName = all.toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown entries ${unknown.mkString(",")}; " +
      s"valid entries: ${all.map(_._1).mkString(",")}")
    if (names.isEmpty) all else names.map(n => n -> byName(n))
  }

  /** A copy of the inputs at `sfDir` with lineitem, orders, customer and
    * documents multiplied `mult`× (id-offset copies) and written in
    * `files` parquet parts each; every other table links to the
    * fixture. Each document copy's text gets a per-copy suffix, so
    * exact dedup keeps every copy and the near-dup stages see
    * `mult`-sized clusters.
    */
  def stage(spark: SparkSession, sfDir: String, mult: Int, files: Int): String = {
    val dir = graft.core.Staging.tmpDir(s"probe_x${mult}_f$files")
    def copies(df: DataFrame, idCol: String, offset: Long): DataFrame =
      (1 until mult).foldLeft(df)((acc, i) =>
        acc.union(df.withColumn(idCol, col(idCol) + lit(i * offset))))
    val staged = Map(
      "lineitem" -> copies(Tables.lineitem(spark, sfDir), "l_orderkey", 100000000L),
      "orders" -> copies(Tables.orders(spark, sfDir), "o_orderkey", 100000000L),
      "customer" -> copies(Tables.customer(spark, sfDir), "c_custkey", 100000000L),
      "documents" -> copies(Tables.documents(spark, sfDir), "doc_id", 10000000L)
        .withColumn("text", concat_ws(" ", col("text"), lit("rev"),
          expr("doc_id div 10000000").cast("string"))))
    for ((name, df) <- staged)
      df.repartition(files).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    for (name <- Tables.names if !staged.contains(name))
      Files.createSymbolicLink(Paths.get(s"$dir/$name.parquet"),
        Paths.get(s"$sfDir/$name.parquet").toAbsolutePath)
    dir
  }

  /** Keeps the executed plan of every `noop` write with the time its
    * planning ended; events arrive asynchronously, so read [[plans]]
    * only after the SparkContext stopped (which drains the bus).
    */
  private final class FinalPlans extends QueryExecutionListener {
    val plans = mutable.ArrayBuffer.empty[(Long, String)]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.logical.collectFirst { case w: V2WriteCommand => w.table.name }
          .contains("noop-table")) {
        val plannedAt = qe.tracker.phases.values.map(_.endTimeMs).maxOption.getOrElse(-1L)
        synchronized { plans += (plannedAt -> qe.executedPlan.treeString) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val a = parse(args.toSeq)
    val spark = Bench.session(a.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // names only: fail on a typo before any staging (these thunks never run)
    val names = select(Bench.entries(spark, a.sfDir, "", "", "", ""), a.entries).map(_._1)
    val listener = new FinalPlans
    spark.listenerManager.register(listener)

    val dir = if (a.mult > 1 || a.files > 1) stage(spark, a.sfDir, a.mult, a.files) else a.sfDir
    val entries = select(Bench.entries(spark, dir, Pipelines.stageLoanCsv(spark, dir),
      Pipelines.stageInt8(spark, dir), Pipelines.stageIndex(spark, dir),
      Pipelines.stageIvfAdc(spark, dir)), names)
    println(s"[probe] cpus=${a.cpus} mult=${a.mult} files=${a.files} inputs=$dir")

    val lastPass = mutable.LinkedHashMap.empty[String, (Long, Long)]
    for ((name, mk) <- entries) try {
      noop(mk())
      val secs = (1 to Passes).map { _ =>
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        noop(mk())
        lastPass(name) = (startMs, System.currentTimeMillis())
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[probe] $name%-24s median ${secs(Passes / 2)}%8.3f s  " +
        f"q1 ${secs(Passes / 4)}%8.3f  q3 ${secs(Passes * 3 / 4)}%8.3f")
    } catch {
      case e: Throwable => println(s"[probe] $name FAILED: ${e.getMessage}")
    }
    spark.stop()

    for ((name, (startMs, endMs)) <- lastPass) {
      val plan = listener.plans.collect { case (t, p) if startMs <= t && t <= endMs => p }
      println(s"[probe] final plan of $name:\n${plan.lastOption.getOrElse("(not captured)")}")
    }
  }
}
