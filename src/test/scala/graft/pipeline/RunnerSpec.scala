package graft.pipeline

import graft.SparkSpec

class RunnerSpec extends SparkSpec {
  import spark.implicits._

  private def stages = Seq(
    Runner.Stage("filter_even", _.filter($"n" % 2 === 0)),
    Runner.Stage("gt_50", _.filter($"n" > 50)))

  test("observed run yields per-stage counts from ONE terminal action") {
    val run = Runner.runObserved((1 to 100).toDF("n"), stages)
    val terminal = run.output.count() // the single action
    assert(terminal == 25)
    assert(run.counts == Seq("filter_even" -> 50L, "gt_50" -> 25L))
  }

  test("a noop write as the one terminal fills the per-stage counts") {
    val run = Runner.runObserved((1 to 100).toDF("n"), stages)
    run.output.write.format("noop").mode("overwrite").save()
    assert(run.counts == Seq("filter_even" -> 50L, "gt_50" -> 25L))
  }
}
