package graft.bench

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Physical-plan audits: these are the properties that decide whether
  * the plans survive a 100× scale-up — filter/projection pushdown into
  * the parquet scan, broadcast vs shuffle join choice, partial (map-
  * side) aggregation, and whole-stage codegen coverage.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("p1_projection: predicate and projection reach the parquet scan") {
    val plan = planOf(graft.operators.Catalog.queries("p1_projection")(spark, sf0001))
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema") &&
      !plan.contains("l_extendedprice,l_discount"), "projection not pruned")
  }

  test("bucketsKn approx path: partial percentile agg, no corpus window, thresholds broadcast back") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sf0001)
    val model = graft.functions.TextAnalysis.kneserNeyModel(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val df = graft.quality.Perplexity.bucketsKn(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", "lang", model)
    val plan = planOf(df)
    // the t15 scale shape at bench scale: per-language thresholds come
    // from ONE partial-combining percentile_approx aggregation (a
    // dominant language never funnels into one window partition) and
    // ride back as a broadcast; the only Window is absent entirely
    assert(plan.contains("percentile_approx"),
      s"approx terciles missing:\n$plan")
    assert(plan.linesIterator.count(_.contains("partial_percentile_approx")) >= 1,
      s"threshold agg not map-side combined:\n$plan")
    assert(!plan.contains("Window"),
      s"approx path must not rank the corpus in a window:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"threshold table should broadcast back:\n$plan")
  }

  test("w5_share: one window exchange, no extra sort beyond the window's own") {
    val plan = planOf(graft.operators.StatsCatalog.queries("w5_share")(spark, sf0001))
    // partition-total window: one hash exchange for the window, one
    // range exchange for the final orderBy — no join, no second window
    assert("Window".r.findAllIn(plan).size >= 1)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
  }

  test("sd1_snapshot_diff: full-outer key join is the ONLY shuffle pair") {
    val plan = planOf(graft.operators.StatsCatalog.queries("sd1_snapshot_diff")(spark, sf0001))
    assert(plan.contains("FullOuter"), s"expected full-outer join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"diff must stay an equi-join:\n$plan")
  }

  test("c10_calendar: date-part projection is a pure map over the scan (no shuffle before sort)") {
    val q = graft.operators.StatsCatalog.queries("c10_calendar")(spark, sf0001)
    val plan = planOf(q)
    // only the final orderBy exchanges; the extraction itself is narrow
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected only the orderBy exchange, got $exchanges:\n$plan")
  }

  test("j1: dimension joins broadcast (no shuffle of the fact side)") {
    val plan = planOf(graft.operators.Catalog.queries("j1_join_broadcast")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q1_agg: aggregation is two-phase (map-side partial)") {
    val qe: QueryExecution =
      graft.operators.Relational.q1Agg(spark, sf0001).queryExecution
    val aggs = qe.executedPlan.toString.linesIterator
      .filter(_.contains("HashAggregate")).toSeq
    assert(aggs.exists(_.contains("partial_")), "no partial aggregation")
    assert(aggs.size >= 2)
  }

  test("q18: the HAVING pre-agg shrinks lineitem BELOW the joins, two-phase") {
    val df = graft.operators.Relational.q18BigOrders(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // partial-combined quantity agg exists, and no cartesian/BNLJ —
    // only equi joins above the filtered aggregate
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 must not sort the full join:\n$plan")
  }

  test("t13_bm25: stats ride ONE broadcast row; term/doc aggs partial-combine") {
    val df = graft.functions.TextAnalysis.bm25(
      graft.core.Tables.documents(spark, sf0001), "doc_id", "text")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the N/avgdl stats row joins via BroadcastNestedLoopJoin over ONE
    // row (the crossJoin stats idiom) — never a shuffled cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")), plan)
  }

  test("e15 psiStream shape: baseline is plan literals, one single-row agg") {
    val base = spark.range(100).selectExpr("cast(id as double) as v")
    val df = graft.operators.Drift.psiStream(base, "v", base, "v", 10)
    val plan = df.queryExecution.executedPlan.toString
    // no join at all on the stream side — the baseline collapsed to
    // literals; the only exchange is the single-row final agg's
    assert(!plan.contains("Join"), s"baseline must be literal, not joined:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("HashAggregate") && l.contains("partial_")), plan)
  }

  test("q1_agg: whole-stage codegen covers the scan→partial-agg hot path") {
    val df = graft.operators.Relational.q1Agg(spark, sf0001)
    df.collect() // AQE: codegen spans appear only in THIS qe's finalized plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"no codegen spans in finalized plan:\n$plan")
  }

  test("minhash signatures: single shuffle with partial min combine") {
    val df = Pipelines.minhashLsh(spark, sf0001)
    val plan = planOf(df)
    assert(plan.contains("partial_min"), "minhash min not map-side combined")
  }

  test("a11_argmax: struct-max argmax combines map-side, no window") {
    val plan = planOf(graft.operators.Catalog.queries("a11_argmax")(spark, sf0001))
    // partial_max is the point: one row per key crosses the shuffle
    // (struct max plans as SortAggregate — that's fine; a Window would
    // ship and sort EVERY row)
    assert(plan.contains("partial_max"), s"struct max not map-side combined:\n$plan")
    assert(!plan.contains("Window"), s"argmax must not need a window:\n$plan")
  }

  test("hash sample: the md5 gate is a plain filter over the scan (no shuffle)") {
    val df = graft.operators.Sampling.hashSample(
      spark.read.parquet(s"$sf0001/orders.parquet"), "o_orderkey", 0.3)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("groupCentroids: one exchange, partial map-side sums (no explode before shuffle)") {
    val df = graft.similarity.Similarity.groupCentroids(
      spark.read.parquet(s"$sf0001/embeddings.parquet"), "label", "embedding", dim = 64)
    val plan = planOf(df)
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$plan")
    assert(plan.contains("partial_sum"), "centroid sums not map-side combined")
    // the unpivot explode must sit ABOVE the aggregation (tiny side),
    // not below it (which would shuffle rows × dim)
    val genIdx = plan.linesIterator.indexWhere(_.contains("Generate"))
    val aggIdx = plan.linesIterator.indexWhere(_.contains("HashAggregate"))
    assert(genIdx >= 0 && aggIdx > genIdx,
      s"explode must be above the aggregate in the plan:\n$plan")
  }

  test("candidatePairs: the window's partitioning feeds the self-join (no re-shuffle of the band table)") {
    import org.apache.spark.sql.functions._
    // plant an over-cap duplicate cluster so the audit exercises both
    // branches of the guarded plan (small-bucket pairwise + star cap)
    val base = graft.core.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val docs = base.union(
      base.filter(col("doc_id") === 0)
        .select(explode(sequence(lit(1L), lit(40L))).as("i"), col("text"))
        .select((lit(2000000L) + col("i")).as("doc_id"), col("text")))
    val df = graft.dedup.TextDedup.candidatePairs(
      graft.dedup.TextDedup.bandKeys(
        graft.dedup.TextDedup.minhashSignatures(
          graft.dedup.TextDedup.shingleSets(docs, "doc_id", "text"), "doc_id"),
        "doc_id"),
      "doc_id")
    // force the at-scale join strategy (no broadcast) so the audit
    // checks the SMJ path's partitioning reuse, then audit the FINAL
    // adaptive plan (CLAUDE.md trap). Top-level shuffle stages must be
    // ONLY the final distinct: the self-join has to reuse the stats
    // window's (band_id, band_key) hash partitioning out of the cache,
    // not re-shuffle the band table per join side. (The cache's own
    // window shuffle lives inside the InMemoryRelation, which collect
    // does not descend into.)
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    graft.TestSpark.withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") { ds =>
      // re-bind to the derived session so the no-broadcast override
      // reaches the planner (the withConfs contract)
      val bound = org.apache.spark.sql.graftbridge.SessionBridge.inSession(df, ds)
      try {
        bound.collect()
        val adaptive = bound.queryExecution.executedPlan
          .collectFirst { case a: AdaptiveSparkPlanExec => a }.get
        val shuffles = adaptive.executedPlan
          .collect { case s: ShuffleQueryStageExec => s }
        assert(shuffles.size <= 1,
          s"band table re-shuffled for the self-join (${shuffles.size} top-level shuffles):\n" +
            adaptive.executedPlan)
      } finally spark.catalog.clearCache()
    }
  }

  test("audio near-dup: hashing is shuffle-free map work up to the banding exchange") {
    import org.apache.spark.sql.functions._
    // the m16/m17 scale claim: WAV decode → frame energies → hash is
    // pure per-row work (a corpus scan), so the ONLY exchanges in the
    // whole candidate pipeline belong to the banding window + distinct
    // — nothing corpus-shaped shuffles before the hash exists
    val hashes = graft.multimodal.BinaryOps.audioHashes(
      graft.operators.StreamMediaCatalog.audioPayloads(spark, sf0001)).toDF()
    val hashPlan = hashes.queryExecution.executedPlan.toString
    assert(!hashPlan.toLowerCase.contains("exchange"),
      s"audio hashing should be map-only:\n$hashPlan")
    val pairs = graft.dedup.TextDedup.simhashCandidates(
      hashes.withColumnRenamed("ahash", "simhash"),
      "doc_id", maxHamming = 3, bits = 64, bucketCap = 32)
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ShuffleQueryStageExec}
    graft.TestSpark.withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") { ds =>
      val bound = org.apache.spark.sql.graftbridge.SessionBridge.inSession(pairs, ds)
      try {
        bound.collect()
        val adaptive = bound.queryExecution.executedPlan
          .collectFirst { case a: AdaptiveSparkPlanExec => a }.get
        val shuffles = adaptive.executedPlan
          .collect { case s: ShuffleQueryStageExec => s }
        // the banded table's window partitioning feeds the self-join out
        // of the cache (the candidatePairs discipline): the only
        // top-level shuffle is the closing distinct
        assert(shuffles.size <= 1,
          s"banded table re-shuffled (${shuffles.size} top-level shuffles):\n" +
            adaptive.executedPlan)
      } finally spark.catalog.clearCache()
    }
  }

  test("embedding cascade: composes end-to-end into a queryable IVFADC artifact") {
    val codes = Pipelines.embeddingCascade(spark, sf0001)
    val n = codes.count()
    assert(n > 0, "cascade must keep vectors end-to-end")
    // the artifact is a REAL index: every surviving vector carries an
    // m=4 residual code with in-range entries
    import org.apache.spark.sql.functions._
    val bad = codes.filter(size(col("codes")) =!= 4 ||
      exists(col("codes"), c => c < 0 || c >= 8)).count()
    assert(bad == 0, "malformed residual codes in the built artifact")
    // and the cascade SHRANK the corpus (dedup/decontam/sample did work)
    val corpus = graft.core.Tables.embeddings(spark, sf0001).count()
    assert(n <= corpus)
  }

  test("curation cascade: end-to-end composes, stays UDF-free, produces packed sequences") {
    val out = Pipelines.curationCascade(spark, sf0001)
    val n = out.count()
    assert(n > 0, "cascade must keep documents end-to-end")
    // every curation stage upstream of packing is pure Catalyst — no
    // UDF anywhere in the full cascade plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"),
      "cascade must be UDF-free")
    // packing contract: every pack holds ≥1 doc span and its token
    // fill never exceeds the 512-token sequence budget
    import spark.implicits._
    val bad = out.filter($"n_docs" < 1 || $"fill" > 512L).count()
    assert(bad == 0, s"$bad packs violate the fill/doc contract")
  }

  test("etl upstream: casts/cleansers stay native (no UDF in plan)") {
    val csv = Pipelines.stageLoanCsv(spark, sf0001)
    val plan = planOf(Pipelines.etlUpstream(spark, csv))
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"),
      "cleansing must be pure Catalyst expressions")
  }

  test("q5 six-table join: dimension chain broadcasts, no cartesian") {
    val plan = planOf(graft.operators.Relational.q5Region(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q10: the returnflag filter is pushed to the lineitem scan") {
    val plan = planOf(graft.operators.Relational.q10Returns(spark, sf0001))
    assert(plan.contains("PushedFilters") && plan.contains("l_returnflag"),
      plan)
  }

  test("unigram viterbiSegment: vocab side broadcasts, corpus never sorts for the join") {
    // the distinct-word DP table is Heaps'-law small — it must ride a
    // broadcast hash join; a sort-merge here would shuffle the corpus
    val plan = planOf(Pipelines.unigramSegment(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.toLowerCase.contains("batchevalpython") && !plan.contains("ScalaUDF"),
      "segmentation must stay a typed map + native expressions")
  }

  test("kmeans assignment: centroids broadcast; update shuffles k·dim scalars (partial sums)") {
    // the centroids ride one broadcast matrix into a row-local kernel:
    // no join, no exchange, no object aggregate in the assignment
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val m = graft.similarity.Similarity.kmeansTrain(
      emb, "vec_id", "embedding", k = 4, iters = 1, dim = 64)
    val assigned = graft.similarity.Similarity.assignToCentroids(
      emb, "vec_id", "embedding", m.centroids)
    val plan = planOf(assigned)
    assert(plan.contains("nearest_centroid"), s"kernel missing:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Exchange") &&
      !plan.contains("ObjectHashAggregate"), s"assignment must be narrow:\n$plan")
    // the mean update is a two-phase aggregation (map-side partial,
    // then final)
    val upd = planOf(graft.similarity.Similarity.groupCentroids(
      assigned, "cell", "embedding", dim = 64))
    val aggs = upd.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggs.exists(_.contains("partial_")) && aggs.exists(!_.contains("partial_")),
      s"no partial + final aggregation:\n$upd")
    assert(!upd.contains("ObjectHashAggregate"), upd)
    // PQ encoding: one kernel call per subspace, map-side only
    val cb = graft.similarity.ProductQuant.buildCodebook(
      emb, "vec_id", "embedding", m = 8, ks = 16)
    val enc = planOf(graft.similarity.ProductQuant.encode(
      emb, "vec_id", "embedding", cb))
    assert(enc.contains("nearest_centroid") && !enc.contains("Exchange") &&
      !enc.contains("Join"), s"encode must be narrow:\n$enc")
  }

  test("dc3 semanticProfile: probes broadcast, one per-id max agg, no cartesian") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val probes = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 41 === 0)
    val plan = planOf(graft.dedup.Decontam.semanticProfile(
      emb, probes, "vec_id", "embedding", tau = 0.9))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n$plan")
    // census preservation rides the SAME left-outer broadcast join —
    // one corpus pass, no corpus⇄corpus self-join, no sort anywhere
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
    assert(plan.linesIterator.filter(_.contains("HashAggregate"))
      .exists(_.contains("partial_")), s"no partial max aggregation:\n$plan")
  }
}
