package graft.apps

import graft.bench.Pipelines
import graft.core.{Sessions, Tables}
import graft.ml.{CombinationSearch, FeaturePipeline}
import graft.operators.QualityMlCatalog
import graft.pipeline.Runner
import graft.quality.{Dedup, Validator}
import graft.sources.{Sinks, Sources}
import graft.transform.Cleansers
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The reference's three entry points as standalone apps (SURVEY.md §3;
  * orchestration mapping §2.14: each pipeline is a `main()` so any
  * scheduler — Airflow in the reference — can drive it; cluster
  * lifecycle stays outside the engine).
  */
object AppUtil {
  def session(): SparkSession = Sessions.local()
  def sfDir(args: Array[String]): String =
    args.headOption.getOrElse("/root/testdata/sf0.001")
  def printCounts(run: Runner.ObservedRun): Unit =
    run.counts.foreach { case (n, c) => println(f"[stage] $n%-24s rows=$c") }
}

/** Run one catalog query by name and print it — the single-operator
  * debugging loop (`runMain graft.apps.QueryApp <name> <sfDir> [cpus]`).
  */
object QueryApp {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sf = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Sessions.local(if (args.length > 2) args(2).toInt else 4)
    val df = graft.SparkEntry.queries(name)(spark, sf)
    df.show(200, truncate = false)
    println(s"[query] $name rows=${df.count()}")
    spark.stop()
  }
}

/** Entry point A — profile → clean → JDBC load → readback verify
  * (LAB-2022-Standalone-SparkETL-CSV-to-MSSQL-Copy3.ipynb lifecycle,
  * SURVEY §3.1), on the loan-like CSV staging of the fixtures.
  */
object EtlApp {
  def main(args: Array[String]): Unit = {
    val spark = AppUtil.session()
    val sf = AppUtil.sfDir(args)
    val csvDir = Pipelines.stageLoanCsv(spark, sf)
    val src = Sources.csv(spark, csvDir, Some(Pipelines.loanSchema))
    println(s"[profile] partitions=${src.rdd.getNumPartitions} cols=${src.columns.length}")

    val run = Runner.runObserved(src, Seq(
      Runner.Stage("dropna", _.na.drop("any")),
      Runner.Stage("cleanse_cast", Cleansers.applyCastPlan(_, Seq(
        Cleansers.ColumnSpec("int_rate", org.apache.spark.sql.types.DoubleType, Cleansers.stripPercent),
        Cleansers.ColumnSpec("term", org.apache.spark.sql.types.DoubleType, c => regexp_replace(c, "months", "")),
        Cleansers.ColumnSpec("earliest_cr_line", org.apache.spark.sql.types.StringType, Cleansers.monthToken)))),
      Runner.Stage("status_filter", _.filter(col("loan_status").isin("F", "O"))),
      Runner.Stage("dropna_final", _.na.drop("any"))))

    // JDBC load + write-then-readback verification (S8→S7); the load is
    // the run's one terminal and fills the stage counts
    val db = graft.core.Staging.tmpDir("etl_derby") + "/db"
    val opts = Map("url" -> s"jdbc:derby:$db;create=true",
      "dbtable" -> "loan_clean", "driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    Sinks.jdbc(run.output, opts)
    AppUtil.printCounts(run)
    val (w, r) = (run.counts.last._2, Sources.jdbc(spark, opts).count())
    println(s"[verify] wrote=$w readback=$r match=${w == r}")
    require(w == r, "write-then-readback row counts must match")
    spark.stop()
  }
}

/** Entry point B — dedup + validity audit
  * (2022-Standalone-SparkETL-identifyingDuplicateRows%26InvalidData
  * lifecycle, SURVEY §3.2) over lineitem.
  */
object DedupAuditApp {
  def main(args: Array[String]): Unit = {
    val spark = AppUtil.session()
    val sf = AppUtil.sfDir(args)
    val li = Tables.lineitem(spark, sf)
    val keys = li.columns.toSeq.filterNot(_ == "l_quantity")

    // batch main: cache scope is the app run (JVM exit releases)
    val numbered = Dedup.withOccurrenceId(li, keys, Seq(col("l_quantity"))).cache()
    val profile = Dedup.occurrenceProfile(numbered)
    println("[dup-profile]"); profile.show(10, truncate = false)
    val total = Dedup.reconcile(profile).head().getLong(0)
    val input = li.count()
    println(s"[reconcile] sum(histogram)=$total input=$input match=${total == input}")
    require(total == input)
    val deduped = Dedup.dedupByOccurrence(numbered)
    println(s"[dedup] ${input} -> ${deduped.count()} rows")

    // validity audit + repair on a constructed percent column (§3.2 validator loop)
    val rates = Tables.part(spark, sf).select(col("p_partkey"),
      concat(col("p_retailprice").cast("string"), lit("%")).as("rate_str"))
    val rule = QualityMlCatalog.rateRule
    Validator.census(rates, Seq(rule)).show(truncate = false)
    val repaired = Validator.repair(rates, Seq(rule))
    println(s"[re-validate] allValid=${repaired.filter(col("rate_str").isNull).isEmpty}")
    spark.stop()
  }
}

/** Entry point C — ML prep + feature-combination search
  * (LAB-2022-Standalone-SparkML-CSV-to-MLPCModel-3 lifecycle, §3.3).
  */
object MlSearchApp {
  def main(args: Array[String]): Unit = {
    val spark = AppUtil.session()
    val sf = AppUtil.sfDir(args)
    val df = Cleansers.minMaxNormalize(QualityMlCatalog.loanLike(spark, sf),
      Seq("o_totalprice", "c_acctbal", "order_year"))
    val balanced = FeaturePipeline.rebalance(df, "status", "F", 0.5, 42L)
    val Array(train, test) = balanced.randomSplit(Array(0.8, 0.2), 42L)
    val cfg = FeaturePipeline.Config(
      labelCol = "status", categoricalCols = Nil,
      continuousCols = Seq("o_totalprice_norm", "c_acctbal_norm", "order_year_norm"),
      hiddenLayers = Seq(5), numClasses = 3, maxIter = 15)
    // batch main: cache scope is the app run (JVM exit releases)
    val results = CombinationSearch.search(train.cache(), test.cache(), cfg,
      Seq("o_orderpriority", "c_mktsegment"), maxK = 2, positive = "F")
    results.foreach { r =>
      println(f"[combo] ${r.features.mkString("+")}%-32s acc=${r.metrics.accuracy}%.4f " +
        f"sens=${r.metrics.sensitivity}%.4f spec=${r.metrics.specificity}%.4f ${r.seconds}%6.1f s")
    }
    spark.stop()
  }
}
