package perfbench

import perfbench.Harness.Pass

import scala.collection.immutable.ListMap

/** Turns a traced run into the per-layer metrics, the span tree and
  * the final-plan census per pipeline.
  *
  * Bench-layer times come from the untraced timed passes; every other
  * layer from the traced passes that followed them in the same JVM.
  * Each metric is the median over passes; a count that differs between
  * the traced passes of one run is listed under `unsteady_counts`.
  */
object TraceReport {

  /** Engine modules reported as `<module>.jobs` and `<module>.task_s`. */
  val Modules: Seq[String] = Seq("dedup", "similarity", "ml", "quality", "operators",
    "functions", "selection", "streaming")

  /** Metrics that count work rather than time it. */
  val CountMetrics: Set[String] = Set("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_retries", "spark.shuffle_records", "sources.input_rows",
    "sources.output_rows", "sources.files_written", "plans.exchanges",
    "plans.reused_exchanges", "plans.broadcasts", "plans.object_serde",
    "plans.object_aggs", "plans.nested_loop_joins") ++ Modules.map(m => s"$m.jobs")

  private val MiB = 1048576.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def merged(cs: Iterable[SpanCounters]): SpanCounters = {
    val m = new SpanCounters
    for (c <- cs) {
      m.jobs += c.jobs; m.stages += c.stages; m.tasks += c.tasks
      m.taskRetries += c.taskRetries; m.taskMs += c.taskMs; m.cpuNs += c.cpuNs
      m.gcMs += c.gcMs; m.fetchWaitMs += c.fetchWaitMs
      m.inputBytes += c.inputBytes; m.inputRows += c.inputRows
      m.outputBytes += c.outputBytes; m.outputRows += c.outputRows
      m.shuffleWriteBytes += c.shuffleWriteBytes; m.shuffleReadBytes += c.shuffleReadBytes
      m.shuffleRecords += c.shuffleRecords; m.spillBytes += c.spillBytes
      m.stragglerMs += c.stragglerMs
      m.planMs += c.planMs; m.census = m.census + c.census
      m.jobIntervals ++= c.jobIntervals
      c.moduleJobs.foreach { case (k, v) => m.moduleJobs(k) += v }
      c.moduleTaskMs.foreach { case (k, v) => m.moduleTaskMs(k) += v }
    }
    m
  }

  /** Length of the union of [start, end] intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total, curStart, curEnd = 0L
    var open = false
    for ((s, e) <- intervals.sortBy(_._1)) {
      if (open && s <= curEnd) curEnd = math.max(curEnd, e)
      else {
        if (open) total += curEnd - curStart
        curStart = s; curEnd = e; open = true
      }
    }
    if (open) total += curEnd - curStart
    total
  }

  private def layerMetrics(c: SpanCounters, wallS: Double, cores: Int): Seq[(String, Double)] = {
    val taskS = c.taskMs / 1000.0
    val cs = c.census
    Seq(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.task_retries" -> c.taskRetries.toDouble,
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> c.cpuNs / 1e9,
      "spark.gc_s" -> c.gcMs / 1000.0,
      "spark.core_busy" -> taskS / (wallS * cores),
      "spark.driver_gap_s" -> math.max(0.0, wallS - unionMs(c.jobIntervals.toSeq) / 1000.0),
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / MiB,
      "spark.shuffle_read_mb" -> c.shuffleReadBytes / MiB,
      "spark.shuffle_records" -> c.shuffleRecords.toDouble,
      "spark.fetch_wait_s" -> c.fetchWaitMs / 1000.0,
      "spark.spill_mb" -> c.spillBytes / MiB,
      "spark.straggler_s" -> c.stragglerMs / 1000.0,
      "sources.input_mb" -> c.inputBytes / MiB,
      "sources.input_rows" -> c.inputRows.toDouble,
      "sources.output_mb" -> c.outputBytes / MiB,
      "sources.output_rows" -> c.outputRows.toDouble,
      "sources.files_written" -> cs.filesWritten.toDouble,
      "plans.plan_s" -> c.planMs / 1000.0,
      "plans.exchanges" -> cs.exchanges.toDouble,
      "plans.reused_exchanges" -> cs.reusedExchanges.toDouble,
      "plans.broadcasts" -> cs.broadcasts.toDouble,
      "plans.object_serde" -> cs.objectSerde.toDouble,
      "plans.object_aggs" -> cs.objectAggs.toDouble,
      "plans.nested_loop_joins" -> cs.nestedLoopJoins.toDouble,
      "plans.codegen_share" ->
        (if (cs.operators == 0) 0.0 else cs.codegenOperators.toDouble / cs.operators)) ++
      Modules.flatMap(m => Seq(
        s"$m.jobs" -> c.moduleJobs(m).toDouble,
        s"$m.task_s" -> c.moduleTaskMs(m) / 1000.0))
  }

  /** Names of the metrics computed from traced passes. */
  val layerNames: Seq[String] = layerMetrics(new SpanCounters, 1.0, 1).map(_._1)

  private def censusJson(c: SpanCounters): ListMap[String, Any] = {
    val cs = c.census
    ListMap("exchanges" -> cs.exchanges, "reused_exchanges" -> cs.reusedExchanges,
      "broadcasts" -> cs.broadcasts, "object_serde" -> cs.objectSerde,
      "object_aggs" -> cs.objectAggs, "nested_loop_joins" -> cs.nestedLoopJoins,
      "operators" -> cs.operators, "codegen_operators" -> cs.codegenOperators,
      "files_written" -> cs.filesWritten, "tables" -> cs.tables.toSeq.sorted,
      "plan_s" -> c.planMs / 1000.0,
      "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
      "task_s" -> c.taskMs / 1000.0,
      "modules" -> c.moduleJobs.toSeq.sorted.map { case (m, n) =>
        ListMap("module" -> m, "jobs" -> n, "task_s" -> c.moduleTaskMs(m) / 1000.0)
      })
  }

  def apply(setup: ListMap[String, Any], stageS: Double, untimed: Seq[Pass], timed: Seq[Pass],
            traced: Seq[Pass], spans: Map[String, SpanCounters], cores: Int,
            heapPeakMb: Double): ListMap[String, Any] = {
    def under(prefix: String): Iterable[SpanCounters] =
      spans.collect { case (k, v) if k.startsWith(prefix) => v }

    val perPass = traced.map { p =>
      layerMetrics(merged(under(s"${p.tag}/")), p.wallS, cores).toMap
    }
    val unsteady = layerNames.filter(n => CountMetrics(n) && perPass.map(_(n)).distinct.size > 1)

    val pipelines = timed.head.timings.map(_.name)
    val bench = Seq(
      "bench.build_s" -> median(timed.map(_.timings.map(_.buildS).sum)),
      "bench.terminal_s" -> median(timed.map(_.timings.map(_.terminalS).sum))) ++
      pipelines.map(n => s"bench.${n}_s" -> median(timed.map(_.timings
        .filter(_.name == n).map(t => t.buildS + t.terminalS).sum))) :+
      ("bench.trace_overhead_s" -> (median(traced.map(_.wallS)) - median(timed.map(_.wallS))))
    val metrics = bench ++ layerNames.map(n => n -> median(perPass.map(_(n)))) :+
      ("core.stage_s" -> stageS) :+
      // old-generation peak after GC over the timed passes; it moves by
      // more than a tenth between runs, so it is a layer metric
      ("spark.heap_peak_mb" -> heapPeakMb)

    val last = traced.last
    def passTree(p: Pass, counted: Boolean): ListMap[String, Any] = ListMap(
      "name" -> p.tag, "dur_s" -> p.wallS,
      "children" -> p.timings.map(t => ListMap(
        "name" -> t.name, "dur_s" -> (t.buildS + t.terminalS), "ok" -> t.ok,
        "children" -> Seq("build" -> t.buildS, "terminal" -> t.terminalS).map { case (ph, s) =>
          val counters = if (counted) spans.get(s"${p.tag}/${t.name}/$ph") else None
          ListMap("name" -> ph, "dur_s" -> s, "jobs" -> counters.map(_.jobs),
            "stages" -> counters.map(_.stages), "tasks" -> counters.map(_.tasks),
            "task_s" -> counters.map(_.taskMs / 1000.0))
        })))
    ListMap(
      "metrics" -> ListMap.from(metrics),
      "unsteady_counts" -> unsteady,
      "traced_passes" -> traced.length,
      "per_pass" -> perPass.map(m => ListMap.from(layerNames.map(n => n -> m(n)))),
      "census" -> ListMap.from(pipelines.map(n =>
        n -> censusJson(merged(under(s"${last.tag}/$n/"))))),
      "spans" -> ListMap("name" -> "run", "children" ->
        ((ListMap("name" -> "setup", "detail" -> setup) +: untimed.map(passTree(_, counted = false))) ++
          timed.map(passTree(_, counted = false)) ++ traced.map(passTree(_, counted = true)))),
      "unattributed" -> spans.get(Tracer.Unspanned).map(censusJson))
  }
}
