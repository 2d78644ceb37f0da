package graft.operators

import graft.core.Tables
import graft.ml.{CombinationSearch, ConfusionMatrix, FeaturePipeline}
import graft.quality.Validator
import graft.transform.Cleansers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Validator-audit and ML-pipeline queries (SURVEY.md §3.2 validator
  * loop, §3.3 ML branch). The ML query is gated rows-only: MLPC weights
  * depend on data partitioning, so no cross-engine oracle exists — the
  * ScalaTest suite asserts the learning behavior instead.
  */
object QualityMlCatalog {

  /** Loan-like percent-string audit built deterministically from part:
    * every 100th part gets an unparseable rate (the full LendingClub
    * file has exactly one invalid int_rate, FIXTURES.md A3).
    */
  private def rates(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sfDir).select(
      $"p_partkey",
      when($"p_partkey" % 100 === 0, lit("N/A"))
        .otherwise(concat($"p_retailprice".cast("string"), lit("%")))
        .as("rate_str"))
  }

  /** The shared loan-like percent rule (Validator.repair applies the
    * validity guard itself — the pattern is stated once).
    */
  val rateRule: Validator.ValidationRule = Validator.ValidationRule(
    column = "rate_str", flagCol = "rate_flag",
    pattern = "^[0-9]+(\\.[0-9]+)?%$",
    repair = Cleansers.percentToDouble(col("rate_str")))

  /** Shared loan-like classification frame (entry point C analogue).
    * Keeps `o_orderkey` as the stable row key the deterministic
    * rebalance/split hash on (dropped before training — it never
    * enters the feature vector).
    */
  def loanLike(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)), $"o_custkey" === $"c_custkey")
      .filter($"o_orderstatus".isin("F", "O"))
      .select($"o_orderkey", $"o_orderstatus".as("status"), $"o_orderpriority",
        $"c_mktsegment", $"o_totalprice", $"c_acctbal",
        // order age is the one signal that actually predicts status
        year($"o_orderdate").cast("double").as("order_year"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // validator census before repair (one invalid class per 100 keys)
    "v4_validator_census" -> ((spark, dir) =>
      Validator.census(rates(spark, dir), Seq(rateRule))
        .orderBy(col("col_name"), col("flag"))),

    // repair + isNotNull filter; oracle derives expected values
    // independently from the source column (never through our parser)
    "v5_validator_repair" -> ((spark, dir) =>
      Validator.repair(rates(spark, dir), Seq(rateRule))
        .filter(col("rate_str").isNotNull)
        .select(col("p_partkey"), col("rate_str").as("rate"))
        .orderBy(col("p_partkey"))),

    // ML: rebalance → split → feature pipeline → MLPC → distributed
    // confusion cells, golden-gated. Deterministic by construction:
    // membership (rebalance + train/test) is hash-of-key, invariant to
    // partition layout and core count; the exactness-gate fit runs on
    // ONE partition so every float reduction has a fixed order (the
    // distributed fit is the scale path, benched as ml_prep_fit).
    // Golden oracle values were captured from three independent JVM
    // runs at 4/16/32 cores (identical all three).
    "ml1_confusion" -> ((spark, dir) => {
      import spark.implicits._
      goldenCells(spark, dir).toSeq.toDF("status", "prediction_label", "cnt")
        .orderBy("status", "prediction_label")
    }),

    // M8's combination loop, gated on the deterministic part: the
    // assembled feature width per categorical combination (what sets
    // each candidate model's layer-0 size; the trained metrics are
    // RNG-adjacent and covered by MlSpec instead)
    "ml3_combo_widths" -> ((spark, dir) => {
      import spark.implicits._
      val df = Cleansers.minMaxNormalize(loanLike(spark, dir),
        Seq("o_totalprice", "c_acctbal", "order_year"))
      CombinationSearch.comboWidths(df, mlConfig,
        Seq("o_orderpriority", "c_mktsegment"), maxK = 2)
        .toDF("features", "width").orderBy("features")
    }),

    // M3 (data-driven variant) — QuantileDiscretizer with
    // relativeError=0 (exact quantile splits). Split values are
    // engine-internal, so the gate asserts the discretizer's CONTRACT
    // as flags (a10 style): exactly numBuckets bins materialize, and
    // on a near-unique column they are near-equal-sized (within 2% of
    // each other + slack 2 for ties/rounding — holds at any SF)
    "ml4_quantile_bins" -> ((spark, dir) => {
      import spark.implicits._
      val df = Tables.orders(spark, dir).select($"o_totalprice")
      val disc = new org.apache.spark.ml.feature.QuantileDiscretizer()
        .setInputCol("o_totalprice").setOutputCol("bin")
        .setNumBuckets(4).setRelativeError(0.0)
      disc.fit(df).transform(df)
        .groupBy($"bin").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).cast("int").as("n_bins"),
          ((max($"n") - min($"n")) <=
            greatest(lit(2L), (sum($"n") * 0.02).cast("long")))
            .cast("int").as("balanced"))
    }),

    // ML5 — fastText-style text quality classifier: logistic model on
    // the DSIR hashed-bucket feature space. The fixture label is a
    // vocabulary signal (doc mentions "spark") — the shape a quality
    // classifier actually learns (vocabulary evidence), and one the
    // synthetic corpus genuinely carries (its lang/source tags are
    // independent of the text). Hash-split membership, 1-partition
    // sorted fit (ml1 determinism discipline); gated on the test-set
    // confusion census, which must beat the majority rate (see spec)
    "ml5_text_clf" -> ((spark, dir) => {
      val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"),
        array_contains(split(col("text"), " "), "spark")
          .cast("double").as("label"))
      val vecs = graft.ml.TextClassifier.hashedVectors(d, "doc_id", "text")
        .join(d.select(col("doc_id"), col("label")), Seq("doc_id"))
      val (train, test) = FeaturePipeline.hashSplit(vecs, col("doc_id"), 80)
      val model = graft.ml.TextClassifier.fitDeterministic(train, "doc_id")
      graft.ml.TextClassifier.confusionCells(
          graft.ml.TextClassifier.score(model, test))
        .orderBy(col("label"), col("prediction"))
    }),

    // the reference's deterministic-metrics block (MLPCModel-3.py:
    // 382-401): tp/fp/tn/fn + the five ratio metrics with its
    // ZeroDivisionError→0.0 handling, positive class = 'F'
    "ml2_metrics" -> ((spark, dir) => {
      import spark.implicits._
      val m = ConfusionMatrix.fromCells(
        goldenCells(spark, dir).map { case (l, p, n) =>
          (l == "F", p == "F") -> n
        }.toMap)
      Seq(m).toDF()
    })
  )

  /** One model fit + score per sf dir, memoized as the 4 collected
    * confusion cells (driver-side: 4 rows) — `ml1_confusion` and
    * `ml2_metrics` gate different views of the same run without
    * refitting, and Verify's clearCache between queries can't evict a
    * driver memo.
    */
  private val cellsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(String, String, Long)]]()
  private def goldenCells(spark: SparkSession, dir: String): Array[(String, String, Long)] =
    cellsMemo.computeIfAbsent(dir, _ =>
      ConfusionMatrix.cells(mlScoredTest(spark, dir, exactGate = true),
        "status", "prediction_label")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))))

  /** The §3.3 pipeline through scoring: shared by the golden-gated
    * verify query (`exactGate = true`: single-partition fit for
    * bit-reproducible gradient sums) and the ml_prep_fit bench
    * (`exactGate = false`: distributed fit, the 100 TB shape).
    */
  def mlScoredTest(spark: SparkSession, dir: String,
                   exactGate: Boolean): DataFrame = {
    // min-max normalize the continuous block (C9), like the reference
    // does before MLPC training
    val df = Cleansers.minMaxNormalize(loanLike(spark, dir),
      Seq("o_totalprice", "c_acctbal", "order_year"))
    val balanced = FeaturePipeline.rebalanceHash(df, "status", "F", 50,
      col("o_orderkey"))
    val (train, test) = FeaturePipeline.hashSplit(balanced, col("o_orderkey"), 80)
    // exactGate: single partition for bit-reproducible gradient sums;
    // distributed path: partitions follow row count, not session width
    // (FeaturePipeline.sizedForFit — an iterative fit pays per-task
    // overhead on every one of its ~100 jobs). The distributed path
    // caches `train` BEFORE sizing, so the sizing count() fills the
    // cache instead of running the orders⋈customer lineage once more.
    val cached = if (exactGate) train.coalesce(1).cache() else train.cache()
    val fitInput = if (exactGate) cached else FeaturePipeline.sizedForFit(cached)
    // fit() is eager (Pipeline.fit materializes every stage), so the
    // cache can be dropped immediately — leaving it resident poisons
    // every later query in the same session (measured: the bench's
    // fuzzy_pairs entry degraded 0.97 s → 3.5 s once this fit ran first)
    val model =
      try FeaturePipeline.fit(fitInput, mlConfig)
      finally cached.unpersist(blocking = false)
    CombinationSearch.scoreWithLabels(model, test)
  }

  /** Shared §3.3 model configuration (verify gate, bench, and the
    * combination-width gate all see the same shape).
    */
  val mlConfig: FeaturePipeline.Config = FeaturePipeline.Config(
    labelCol = "status",
    categoricalCols = Seq("o_orderpriority", "c_mktsegment"),
    continuousCols = Seq("o_totalprice_norm", "c_acctbal_norm", "order_year_norm"),
    buckets = Map("c_acctbal" -> Array(Double.NegativeInfinity, 0.0, 2500.0,
      5000.0, 7500.0, Double.PositiveInfinity)),
    hiddenLayers = Seq(5), numClasses = 3, maxIter = 100)

  def oracle: Map[String, String] = Map(
    "v4_validator_census" ->
      """SELECT 'rate_str' AS col_name,
        |  CASE WHEN p_partkey % 100 = 0 THEN 'invalid' ELSE 'valid' END AS flag,
        |  COUNT(*) AS cnt
        |FROM part GROUP BY 1, 2 ORDER BY col_name, flag""".stripMargin,

    "v5_validator_repair" ->
      """SELECT p_partkey, p_retailprice AS rate FROM part
        |WHERE p_partkey % 100 <> 0 ORDER BY p_partkey""".stripMargin,

    // golden cells at sf0.01 (seed-42 fixtures, TESTDATA.md): captured
    // from three independent JVM runs at 4/16/32 cores — the pipeline
    // is partition-invariant (hash membership + 1-partition fit), so
    // any numeric drift in the feature/MLPC path fails this gate
    "ml1_confusion" ->
      """SELECT * FROM (VALUES
        |  ('F', 'F', CAST(6 AS BIGINT)), ('F', 'O', CAST(479 AS BIGINT)),
        |  ('O', 'F', CAST(18 AS BIGINT)), ('O', 'O', CAST(974 AS BIGINT)))
        |  t(status, prediction_label, cnt)
        |ORDER BY status, prediction_label""".stripMargin,

    // widths: each 5-ary categorical one-hots to 5 slots (arity + keep
    // slot − dropLast), plus 3 normalized continuous + 1 bucketized
    "ml3_combo_widths" ->
      """SELECT * FROM (VALUES
        |  ('c_mktsegment', 9), ('o_orderpriority', 9),
        |  ('o_orderpriority+c_mktsegment', 14)) t(features, width)
        |ORDER BY features""".stripMargin,

    // exact split values are engine-internal; the flags state the
    // discretizer's contract DuckDB asserts (a10-style flag gate)
    "ml4_quantile_bins" ->
      "SELECT 4 AS n_bins, 1 AS balanced",

    // golden cells at sf0.01, captured from three independent JVM runs
    // at 4/8/32 cores — identical, because membership is key-hash and
    // the fit funnels one sorted partition; test accuracy 0.894 vs a
    // 0.753 majority rate (the spec asserts the learning behavior on
    // synthetic data; this VALUES gate freezes the fixture run)
    "ml5_text_clf" ->
      """SELECT * FROM (VALUES
        |  (0, 0, CAST(15 AS BIGINT)), (0, 1, CAST(6 AS BIGINT)),
        |  (1, 0, CAST(3 AS BIGINT)), (1, 1, CAST(61 AS BIGINT)))
        |  t(label, prediction, cnt)
        |ORDER BY label, prediction""".stripMargin,

    // same golden run, reference metric block: tp=6 fp=18 tn=974 fn=479
    // (positive='F'); ratios are IEEE divisions of the same integers on
    // both engines, so the doubles are bit-identical
    "ml2_metrics" ->
      """SELECT CAST(6 AS BIGINT) AS tp, CAST(18 AS BIGINT) AS fp,
        |  CAST(974 AS BIGINT) AS tn, CAST(479 AS BIGINT) AS fn,
        |  CAST(6 AS DOUBLE) / CAST(6 + 18 AS DOUBLE) AS ppv,
        |  CAST(974 AS DOUBLE) / CAST(974 + 479 AS DOUBLE) AS npv,
        |  CAST(6 AS DOUBLE) / CAST(6 + 479 AS DOUBLE) AS sensitivity,
        |  CAST(974 AS DOUBLE) / CAST(974 + 18 AS DOUBLE) AS specificity,
        |  CAST(6 + 974 AS DOUBLE) / CAST(6 + 974 + 18 + 479 AS DOUBLE) AS accuracy""".stripMargin
  )
}
