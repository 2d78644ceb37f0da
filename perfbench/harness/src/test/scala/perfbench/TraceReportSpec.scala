package perfbench

import org.scalatest.funsuite.AnyFunSuite
import perfbench.Harness.{Pass, Timing}

import scala.collection.immutable.ListMap

class TraceReportSpec extends AnyFunSuite {

  private def pass(tag: String, wall: Double) = Pass(tag, wall, Seq(
    Timing("a", 0.25 * wall, 0.25 * wall, ok = true, None),
    Timing("b", 0.25 * wall, 0.25 * wall, ok = true, None)))

  private def counters(jobs: Long, taskMs: Long, intervals: (Long, Long)*) = {
    val c = new SpanCounters
    c.jobs = jobs
    c.taskMs = taskMs
    c.jobIntervals ++= intervals
    c.moduleJobs("dedup") += jobs
    c
  }

  private def report(secondJobs: Long) = TraceReport(ListMap("stage_s" -> Map("s" -> 1.5)), 1.5,
    Seq(pass("cold", 4.0)), Seq(pass("t1", 2.0)), Seq(pass("x2", 2.2), pass("x3", 2.4)),
    Map("x2/a/build" -> counters(2, 1000, (0L, 500L), (400L, 900L)),
      "x2/b/terminal" -> counters(1, 3000, (2000L, 2100L)),
      "x3/a/build" -> counters(secondJobs, 1000, (0L, 1000L))), cores = 4, heapPeakMb = 640.0)

  private def metrics(r: ListMap[String, Any]): Map[String, Any] =
    r("metrics").asInstanceOf[Map[String, Any]]

  test("per-layer metrics are medians over traced passes, bench times from timed passes") {
    val m = metrics(report(3))
    assert(m("spark.jobs") == 3.0)
    assert(m("dedup.jobs") == 3.0)
    assert(m("bench.a_s") == 1.0)
    assert(m("bench.build_s") == 1.0)
    assert(math.abs(m("bench.trace_overhead_s").asInstanceOf[Double] - 0.3) < 1e-9)
    assert(m("core.stage_s") == 1.5)
    assert(m("spark.heap_peak_mb") == 640.0)
    // pass x2: 2.2 s wall, job spans cover [0, 900] ∪ [2000, 2100] = 1.0 s
    assert(math.abs(TraceReport.median(Seq(2.2 - 1.0, 2.4 - 1.0)) -
      m("spark.driver_gap_s").asInstanceOf[Double]) < 1e-9)
  }

  test("a count that differs between traced passes is named") {
    val unsteady = report(7)("unsteady_counts").asInstanceOf[Seq[String]]
    assert(unsteady.contains("spark.jobs"))
    assert(!unsteady.contains("spark.task_s"))
    val steady = report(3)("unsteady_counts").asInstanceOf[Seq[String]]
    assert(steady.isEmpty)
  }

  test("the report renders as JSON with fields in order and NaN as a bare token") {
    val text = Harness.mapper.writeValueAsString(
      ListMap("b" -> Seq(1, 2), "a" -> ListMap("x" -> None, "y" -> Some(Double.NaN))))
    assert(text == "{\"b\":[1,2],\"a\":{\"x\":null,\"y\":NaN}}")
    assert(Harness.mapper.writeValueAsString(report(3)).contains("\"spark.jobs\":3.0"))
  }

  test("union of job intervals") {
    assert(TraceReport.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L))) == 30L)
    assert(TraceReport.unionMs(Seq.empty) == 0L)
  }

  test("every traced metric is declared in BENCHMARK.json with a unit") {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("../../BENCHMARK.json")), "UTF-8")
    val perLayer = text.substring(text.indexOf("\"per_layer\""))
    val declared = "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(perLayer).map(_.group(1)).toSet
    val produced = TraceReport.layerNames ++
      Seq("bench.build_s", "bench.terminal_s", "bench.trace_overhead_s", "core.stage_s",
        "spark.heap_peak_mb")
    assert(produced.toSet.diff(declared).isEmpty)
    assert(declared.filterNot(_.matches("bench\\..*_s")).diff(produced.toSet).isEmpty)
  }
}
