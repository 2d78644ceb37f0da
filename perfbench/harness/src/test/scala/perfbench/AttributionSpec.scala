package perfbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  private def site(frames: String*): String = frames.mkString("\n")

  test("innermost graft.<module> frame wins") {
    val s = site(
      "org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1521)",
      "graft.ml.FeaturePipeline$.sizedForFit(FeaturePipeline.scala:101)",
      "graft.operators.QualityMlCatalog$.mlScoredTest(QualityMlCatalog.scala:183)",
      "graft.bench.Pipelines$.mlPrepFit(Pipelines.scala:267)")
    assert(Attribution.module(s).contains("ml"))
  }

  test("library frames above the engine are skipped") {
    val s = site(
      "org.apache.spark.ml.optim.loss.RDDLossFunction.calculate(RDDLossFunction.scala:61)",
      "breeze.optimize.CachedDiffFunction.calculate(CachedDiffFunction.scala:24)",
      "graft.ml.Logistic$.fit(Logistic.scala:40)")
    assert(Attribution.module(s).contains("ml"))
  }

  test("top-level mains name no module; harness-only stacks fall back to bench") {
    val s = site(
      "org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:120)",
      "graft.Bench$.$anonfun$entries$2(Bench.scala:41)",
      "perfbench.Harness$Report.phase(Harness.scala:140)")
    assert(Attribution.module(s).isEmpty)
    assert(Attribution.attribute(Some(s), Some(s)) == Attribution.Default)
  }

  test("class-loader prefixes and 'at' prefixes are tolerated") {
    assert(Attribution.module("\tat app//graft.dedup.Components$.run(Components.scala:9)")
      .contains("dedup"))
    assert(Attribution.module("loader/mod@1.0/graft.similarity.Ivf$.probe(Ivf.scala:3)")
      .contains("similarity"))
  }

  test("the execution's call site is preferred over the job's") {
    val exec = site("graft.similarity.Similarity$.kmeansTrain(Similarity.scala:737)")
    val job = site("graft.core.Tables$.load(Tables.scala:17)")
    assert(Attribution.attribute(Some(exec), Some(job)) == "similarity")
    assert(Attribution.attribute(None, Some(job)) == "core")
    assert(Attribution.attribute(Some("no engine frame"), Some(job)) == "core")
  }
}
