package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Named pipeline stages with per-stage row counts — the engine-side
  * equivalent of the reference's `count()` checkpoints between notebook
  * cells (SURVEY.md §3.1, §5, §6), collected without them: a count per
  * stage is an extra action (a full upstream re-execution unless
  * cached), which is exactly the cost profile you do NOT want at
  * 100 TB. Each pipeline is also exposable as a `main()` so any
  * external scheduler (the reference uses Airflow, §2.14) can drive
  * it; scheduling itself stays out of engine scope.
  */
object Runner {

  final case class Stage(name: String, f: DataFrame => DataFrame)

  /** One-action row-count checkpoints: every stage output carries an
    * `observe` metric (CollectMetrics), all of which are aggregated as
    * a side effect of the SINGLE terminal action — per-stage counts at
    * 100 TB without one full re-execution per stage. Call [[ObservedRun
    * .counts]] only after running one action on `output`; a write
    * (`noop`, parquet, JDBC) counts as that action.
    */
  final case class ObservedRun(output: DataFrame, observations: Seq[(String, Observation)]) {
    def counts: Seq[(String, Long)] =
      observations.map { case (n, o) => n -> o.get("rows").asInstanceOf[Long] }
  }

  def runObserved(input: DataFrame, stages: Seq[Stage]): ObservedRun = {
    var df = input
    val obs = stages.map { s =>
      df = s.f(df)
      val o = Observation()
      df = df.observe(o, count(lit(1)).as("rows"))
      s.name -> o
    }
    ObservedRun(df, obs)
  }
}
