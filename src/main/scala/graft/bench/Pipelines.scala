package graft.bench

import graft.core.Tables
import graft.dedup.TextDedup
import graft.functions.TextAnalysis
import graft.operators.Exact
import graft.quality.Dedup
import graft.similarity.Similarity
import graft.sources.{Sinks, Sources}
import graft.transform.Cleansers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Headline benchmark pipelines mirroring BASELINE.md:
  *  - `etl_upstream` = entry point A (SURVEY §3.1): CSV scan →
  *    project → dropna → native cleanse/cast → status filter → dropna
  *    (reference: 100.56 s for 1.4M rows on local[*]);
  *  - `dedup_window` = entry point B (§3.2): full-width occurrence
  *    window + histogram + dedup count (reference: 1,432,466 →
  *    1,142,104 rows);
  *  plus the engine's scale-path operators (join/agg, MinHash-LSH,
  *  ANN) so regressions in the non-reference surface show up too.
  *
  * CSV staging for the ETL pipeline happens once per JVM (setup, not
  * timed) — the reference's input is already-materialized CSV on HDFS.
  */
object Pipelines {

  /** The one-file-fixture spread (guide §2.5 input skew): each sf
    * fixture is a single small parquet file — below maxPartitionBytes
    * and holding one row group — so it scans as ONE partition, and
    * every per-row stage between the scan and the first exchange runs
    * on one core of the session. A round-robin repartition to the
    * session parallelism (adaptive — follows SPARK_GRAFT_CPUS, never a
    * constant) parallelizes the map-heavy head for one extra shuffle
    * of the raw rows. HASH-keyed on a unique row id, not round-robin:
    * a keyless repartition locally sorts its input by ALL columns
    * first (sortBeforeRepartition retry determinism) — lexicographic
    * comparisons over full text bodies that can cost more than the
    * parallelism recovers on document frames (measured on
    * curation_cascade).
    *
    * Applied SELECTIVELY, on same-session A/B measurements (r17):
    * the spread pays only where the pre-exchange per-row work is large
    * — range_join (the 35M-pair single-core probe: 6.1 s → 1.4 s),
    * text_quality (three regex scores/row, no exchange at all:
    * 0.40 s → 0.19 s), dsir_select (three feature-extraction scans).
    * Everywhere else (tokenizer explodes, window heads, Lloyd assign,
    * doc regex gates feeding an imminent exchange) the added exchange
    * plus the round-robin's sort-before-repartition cost MORE than the
    * parallelism recovered — measured 1.2–2× slower on pagerank,
    * repetition_cut, kmeans_train, bm25, boilerplate_strip,
    * ppl_buckets, dedup_exact — so those entries keep the single-scan
    * plan and the session's first exchange does the spreading.
    */
  private def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      col(key))

  /** Loan-like CSV staging (setup). */
  def stageLoanCsv(spark: SparkSession, sfDir: String): String = {
    import spark.implicits._
    val dir = graft.core.Staging.tmpDir("bench_csv")
    val df = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)), $"o_custkey" === $"c_custkey")
      .select(
        $"o_orderkey", $"o_orderstatus".as("loan_status"),
        concat($"o_totalprice".cast("string"), lit("%")).as("int_rate"),
        concat(lit(" "), ($"o_orderkey" % 60 + 1).cast("string"), lit(" months")).as("term"),
        concat(lit("Apr-"), (year($"o_orderdate")).cast("string")).as("earliest_cr_line"),
        $"c_acctbal".as("annual_inc"), $"c_mktsegment".as("purpose"))
    Sinks.csv(df, dir)
    dir
  }

  val loanSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("loan_status", StringType),
    StructField("int_rate", StringType), StructField("term", StringType),
    StructField("earliest_cr_line", StringType), StructField("annual_inc", DoubleType),
    StructField("purpose", StringType)))

  /** Entry point A upstream: all cleansing is native Catalyst (the
    * rewrite's headline optimization — no Python-worker hops, filters
    * reach the scan).
    */
  def etlUpstream(spark: SparkSession, csvDir: String): DataFrame = {
    import Cleansers._
    val df = Sources.csv(spark, csvDir, Some(loanSchema))
    applyCastPlan(df.na.drop("any"), Seq(
      ColumnSpec("int_rate", DoubleType, stripPercent),
      ColumnSpec("term", DoubleType, c => regexp_replace(c, "months", "")),
      ColumnSpec("earliest_cr_line", StringType, monthToken)))
      .filter(col("loan_status").isin("F", "O"))
      .na.drop("any")
  }

  /** Entry point B: full-width window dedup with occurrence profile. */
  def dedupWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val keys = li.columns.toSeq.filterNot(_ == "l_quantity")
    Dedup.dedupByOccurrence(
      Dedup.withOccurrenceId(li, keys, Seq(col("l_quantity"))))
  }

  /** The cheap dedup path (no occurrence profile): partial-agg
    * distinct — DESIGN.md claims this beats the window when only the
    * deduplicated output is needed; the bench measures both.
    */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.dropExactDuplicates(
      Tables.lineitem(spark, sfDir).drop("l_quantity"))

  /** ANN bench configuration, shared by the ANN entries. */
  val AnnQueryIds: Seq[Long] = (0L until 10L)
  val AnnK = 10
  val AnnLshDims: Seq[Int] = Seq(0, 8, 16, 24, 32, 40, 48, 56)

  def lshTopK(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      AnnQueryIds, AnnK, AnnLshDims)

  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // distinct=false: min-hash is multiset-safe, skip the set shuffle;
    // repartition: the fixture is one parquet file = one input partition
    val sh = TextDedup.shingleSets(docs, "doc_id", "text", distinct = false,
      parallelism = Some(spark.sparkContext.defaultParallelism))
    TextDedup.candidatePairs(
      TextDedup.bandKeys(TextDedup.minhashSignatures(sh, "doc_id"), "doc_id"),
      "doc_id")
  }

  /** Full near-dedup: LSH candidates → transitive closure → one label
    * per document (the operator chain CorpusPrepApp runs; supersteps
    * dominate — each is a job, so this measures iteration overhead too).
    */
  def dedupGroups(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    graft.dedup.Components.connectedComponents(
      minhashLsh(spark, sfDir), docs, "doc_id")
  }

  def annTopK(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding", AnnQueryIds, AnnK)

  /** Int8 staging (setup, untimed — the production shape quantizes once
    * at ingest): write the tinyint corpus copy.
    */
  def stageInt8(spark: SparkSession, sfDir: String): String = {
    val dir = graft.core.Staging.tmpDir("bench_int8")
    Similarity.quantizeInt8(Tables.embeddings(spark, sfDir), "embedding")
      .select(col("vec_id"), col("qvec"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** Int8 ANN scoring over the staged quantized corpus (byte vectors
    * scored natively by the codegen'd DotProduct — no per-row cast).
    */
  def annInt8TopK(spark: SparkSession, int8Dir: String): DataFrame =
    Similarity.int8TopKQuantized(spark.read.parquet(int8Dir),
      "vec_id", AnnQueryIds, AnnK)

  def annRpTopK(spark: SparkSession, sfDir: String): DataFrame =
    // NO input spread, measured twice (r18): the r17 round-robin
    // spread lost to sortBeforeRepartition, and the r18 HASH-KEYED
    // spread still lost (isolated min-of-4: 0.70 s spread vs 0.44 s
    // unspread) — the raw-embedding shuffle costs more than
    // parallelizing the ~0.5 s single-partition projection+scoring
    // head recovers at this fixture size
    Similarity.rpRerankTopK(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding", AnnQueryIds, AnnK,
      inDim = 64, outDim = 32, candidateK = 50)

  /** Two-stage PQ ANN (32×-compressed ADC candidate scan + exact
    * re-rank) — the memory-bandwidth rung of the ANN ladder.
    */
  /** Build + persist the IVFADC index (untimed setup, the stageInt8
    * convention — index construction is paid once at ingest).
    */
  def stageIvfAdc(spark: SparkSession, sfDir: String): String = {
    val dir = graft.core.Staging.tmpDir("bench_ivfadc")
    val emb = Tables.embeddings(spark, sfDir)
    val idx = Similarity.buildIvfTrained(emb, "vec_id", "embedding",
      nCentroids = 16, iters = 2, dim = 64)
    val cb = graft.similarity.ProductQuant.buildCodebookResidual(
      idx, "vec_id", "embedding", m = 8, ks = 16, iters = 2, dim = 64)
    // the refine layout is a superset of the plain residual layout,
    // so ann_ivfadc and ann_refine serve from the same staged index
    graft.similarity.ProductQuant.saveIvfPqResidualRefineFrozen(
      emb, "vec_id", "embedding", idx.centroids, cb, dir)
    dir
  }

  /** IVFADC serving from the staged index: probe 4 of 16 cells,
    * residual-ADC the probed partitions, exact-rerank candidates.
    */
  def annIvfAdc(spark: SparkSession, ivfAdcDir: String): DataFrame =
    graft.similarity.ProductQuant.ivfPqResidualTopKIndexed(spark,
      ivfAdcDir, "vec_id", "embedding", AnnQueryIds, AnnK,
      nProbe = 4, candidateK = 50)

  /** Refine-rung serving from the same staged index: a 4× larger ADC
    * candidate pool than [[annIvfAdc]], narrowed through the int8
    * layer so the exact stage still touches only 50 rows per query —
    * the dial the refine layer exists to turn.
    */
  def annRefine(spark: SparkSession, ivfAdcDir: String): DataFrame =
    graft.similarity.ProductQuant.ivfPqResidualRefineTopKIndexed(spark,
      ivfAdcDir, "vec_id", "embedding", AnnQueryIds, AnnK,
      nProbe = 4, candidateK = 200, refineK = 50)

  def annPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val cb = graft.similarity.ProductQuant.buildCodebook(
      emb, "vec_id", "embedding", m = 8, ks = 16)
    graft.similarity.ProductQuant.pqRerankTopK(emb, "vec_id", "embedding",
      AnnQueryIds, AnnK, cb, candidateK = 50)
  }

  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    spread(Tables.documents(spark, sfDir), "doc_id").select(
      col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      TextAnalysis.langId(col("text")).as("lang_pred"),
      TextAnalysis.normalizedFingerprint(col("text")).as("fp"))

  def joinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // exact discounted revenue in integer hundredths-of-cents (the
    // range_join cents discipline): dec(p)·(1−dec(d)) at scale 2 each
    // is exactly pc·(100−dc)/10⁴, so summing the int64 numerator and
    // dividing once is bit-identical to the decimal route (both emit
    // the correctly rounded double of Σ/10⁴; Σ < 2^53 by orders of
    // magnitude at any fixture sf) while the per-row work drops from
    // two BigDecimal casts + a scale-4 decimal multiply to two
    // codegen'd floors and a long multiply. RangeJoinSpec pins the
    // cents↔decimal bit identity; the q-gates keep the decimal route
    // (their exactness contract is unbounded scale).
    val cents = Exact.cents _ // hoisted (r18 advice): one spelling, spec-pinned
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        (sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
          .cast("double") / 10000.0).as("revenue"))
  }

  def q1(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Relational.q1Agg(spark, sfDir)

  /** §3.3 first-model pipeline end-to-end — prep (join, normalize,
    * rebalance, split) → feature fit → MLPC fit → score → confusion
    * cells — with the DISTRIBUTED fit (the 100 TB shape; the verify
    * query's single-partition fit is the exactness gate, not the scale
    * path). BASELINE.md rows: 169.37 s data-prep + 504.73 s first
    * model at 1.4 M rows.
    */
  def mlPrepFit(spark: SparkSession, sfDir: String): DataFrame =
    graft.ml.ConfusionMatrix.cells(
      graft.operators.QualityMlCatalog.mlScoredTest(spark, sfDir, exactGate = false),
      "status", "prediction_label")

  /** M8 combination-search marginal cost — BASELINE.md's ≈100 s/model
    * row (combos 1–5 at 1.4 M rows, MLPCModel-3.ipynb:2524): prep once,
    * then one distributed fit+score+metrics per categorical combination
    * (maxK=1 ⇒ 2 models — enough to time the marginal; the reference's
    * full loop is the same iteration ×31). Reported seconds / 2 is the
    * per-model marginal to hold against the scaled baseline.
    */
  def mlComboFit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cfg = graft.operators.QualityMlCatalog.mlConfig
    val df = Cleansers.minMaxNormalize(
      graft.operators.QualityMlCatalog.loanLike(spark, sfDir),
      Seq("o_totalprice", "c_acctbal", "order_year"))
    val balanced = graft.ml.FeaturePipeline.rebalanceHash(
      df, "status", "F", 50, col("o_orderkey"))
    val (train, test) = graft.ml.FeaturePipeline.hashSplit(
      balanced, col("o_orderkey"), 80)
    val trainC = train.cache(); val testC = test.cache()
    // fit() is eager; drop the caches before returning so the resident
    // blocks can't poison later pipelines in the same session
    val results =
      try graft.ml.CombinationSearch.search(trainC, testC, cfg,
        Seq("o_orderpriority", "c_mktsegment"), maxK = 1, positive = "F",
        // combos fit concurrently (CrossValidator idiom): each model's
        // optimizer is between jobs most of the time at this data size
        parallelism = 2)
      finally { trainC.unpersist(blocking = false); testC.unpersist(blocking = false) }
    results.map(r => (r.features.mkString("+"),
      r.metrics.accuracy, r.metrics.tp + r.metrics.fp + r.metrics.tn + r.metrics.fn))
      .toDF("features", "accuracy", "scored_rows")
  }

  /** Substring-level dedup end-to-end: positioned 5-grams → distinct-doc
    * census → hit filter → span merge → strip reassembly. The slogan
    * plant mirrors the ds1/ds2 verify fixtures so every stage does real
    * work (an empty frequent set would skip the mask join's probe side).
    */
  def dupSpanStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val planted = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0,
          concat(col("text"),
            lit(" limited time offer click here to claim your reward now")))
          .otherwise(col("text")).as("text"))
    graft.dedup.SpanMask.stripDuplicatedSpans(planted, "doc_id", "text",
      n = 5, minDocFreq = 40L)
  }

  /** EXACT Lee-et-al span strip (ds5/ds6's plan at corpus scale): the
    * md5'd 50-gram occurrence census + coverage islands + strip — the
    * hash-keyed window is the cost center (16 bytes/position through
    * the shuffle; the O(L) gram build is map-side).
    */
  def exactSpanStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val block = (1 to 60).map(i => s"dup$i").mkString(" ")
    val planted = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 0, concat(col("text"), lit(" " + block)))
          .otherwise(col("text")).as("text"))
    graft.dedup.SpanMask.stripDuplicatedSpansExact(planted, "doc_id", "text",
      spanTokens = 50, minCount = 2L)
  }

  /** Corpus-frequency boilerplate strip over 16-token line segments —
    * census agg + broadcast anti-join + doc-keyed reassembly.
    */
  def boilerplateStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val segs = graft.operators.Chunker.chunkByTokens(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      "doc_id", "text", 16, 16)
      .select(col("doc_id"), col("chunk_id").as("line_no"),
        col("chunk_text").as("line"))
    graft.quality.Boilerplate.stripFrequentLines(
      segs, "doc_id", "line_no", "line", minDocFreq = 40L)
  }

  /** End-to-end training-data export — the curation ops composed the
    * way a real pipeline runs them: quality filter → exact dedup →
    * concat-and-chunk packing → per-pack fill census. One narrow scan
    * feeds a dedup agg, a bucketed prefix sum, and a pack census — no
    * global sort anywhere.
    */
  /** Bucketed point-in-interval range join (rj1's shape at bench
    * scale): every lineitem price inside an order's 200-unit price
    * band, aggregated per interval — ~35M residual-checked pairs at
    * sf0.1 through one bucket-keyed equi shuffle, where the naive plan
    * is a 150k × 600k nested loop.
    */
  /** BM25 scoring over the document corpus — the vocabulary-keyed
    * shuffle workload (tf/df/dl aggs + two joins), reduced to a
    * per-doc top term so the benched count is small but the full
    * term table is computed.
    */
  /** BPE re-tokenization of the whole corpus under the frozen merges —
    * the vocab-memoized apply (per-DISTINCT-word merge loop + broadcast
    * join + doc-keyed reassembly), timed end to end.
    */
  def bpeTokenize(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.Bpe.tokenizeDocs(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      "doc_id", "text", graft.functions.Bpe.FrozenMerges)

  /** Byte-level tokenize→ids→detokenize round trip — the byte-BPE
    * stack's bench face (tk10–tk13's plan at corpus scale): vocab-
    * memoized merge loop over hex-byte symbols, broadcast word join,
    * doc-keyed ordered flatten, then the lossless decode map.
    */
  def byteBpeRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    graft.functions.Bpe.detokenizeBytes(
      graft.functions.Bpe.tokenizeToIdsBytesLossless(d, "doc_id", "text",
        graft.functions.Bpe.FrozenByteMerges),
      "doc_id", "bpe_ids", graft.functions.Bpe.FrozenByteMerges)
  }

  /** Unigram-LM Viterbi segmentation (tk23's plan at corpus scale):
    * distinct-word memoized DP under the frozen piece inventory,
    * broadcast join + one doc-keyed ordered reassembly — the
    * [[graft.functions.Bpe.tokenizeDocs]] plan shape, measuring the
    * second tokenizer family end-to-end.
    */
  def unigramSegment(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.Unigram.viterbiSegment(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      "doc_id", "text", graft.functions.Unigram.FrozenVocab)

  /** Distributed Lloyd's k-means over the embedding corpus (km1's
    * plan): per round one broadcast of k centroids (map work) + one
    * map-side-combined wide aggregation (k·dim scalars cross the
    * shuffle) — the oracle-exact IVF trainer end-to-end.
    */
  def kmeansTrain(spark: SparkSession, sfDir: String): DataFrame =
    graft.similarity.Similarity.kmeansTrain(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      k = 8, iters = 3, dim = 64).means

  /** Image near-dup pipeline (m13/m14's plan at corpus scale): the
    * gate's OWN fixture generator (one corpus for gate and bench —
    * tune the formula once, both follow), decode → dHash (shuffle-free
    * map work) → chain-capped banding join → exact hamming pairs. The
    * only exchanges are the band window + equi-join.
    */
  def imageNearDup(spark: SparkSession, sfDir: String): DataFrame =
    graft.dedup.TextDedup.simhashCandidates(
      graft.multimodal.BinaryOps.dHashes(
        graft.operators.StreamMediaCatalog.dhashPayloads(spark, sfDir)).toDF()
        .withColumnRenamed("dhash", "simhash"),
      "doc_id", maxHamming = 3, bits = 64, bucketCap = 32)

  /** Audio near-dup candidate pipeline (m16/m17's cost shape) over the
    * gate's OWN fixture generator: WAV decode → frame-energy sign hash
    * (shuffle-free map work) → chain-capped banding join → exact
    * hamming pairs. Same plan skeleton as [[imageNearDup]] — the third
    * modality of the one dedup recipe.
    */
  def audioNearDup(spark: SparkSession, sfDir: String): DataFrame =
    graft.dedup.TextDedup.simhashCandidates(
      graft.multimodal.BinaryOps.audioHashes(
        graft.operators.StreamMediaCatalog.audioPayloads(spark, sfDir)).toDF()
        .withColumnRenamed("ahash", "simhash"),
      "doc_id", maxHamming = 3, bits = 64, bucketCap = 32)

  /** Model-ready token-shard export: quality gate → BPE token IDS →
    * fixed 128-token sequence windows (the shape a dataloader maps
    * straight into a training batch). The window fan-out is a map-side
    * generate over the id arrays — after the tokenizer's one doc-keyed
    * agg, nothing reshuffles.
    */
  def tokenizedExport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val kept = docs.filter(
      graft.functions.TextAnalysis.qualityScore(col("text")) >= 0.2)
    val ids = graft.functions.Bpe.tokenizeToIds(kept, "doc_id", "text",
      graft.functions.Bpe.FrozenMerges)
    ids.select(col("doc_id"), col("bpe_ids"),
      posexplode(sequence(lit(0), greatest(col("n_bpe_tokens").cast("int") - 1,
        lit(0)), lit(128))).as(Seq("seq_id", "__start")))
      .select(col("doc_id"), col("seq_id").cast("long").as("seq_id"),
        slice(col("bpe_ids"), col("__start") + 1, lit(128)).as("ids"))
  }

  /** Cross-document packed-sequence export: quality gate → BPE ids →
    * separator-terminated concat-and-chunk into dense 128-id packs
    * (real training batches — no per-doc padded tails). The tokenized
    * frame is persisted so the offset derivation and the segment join
    * read it once instead of running the tokenizer twice.
    */
  def packedExport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val kept = docs.filter(
      graft.functions.TextAnalysis.qualityScore(col("text")) >= 0.2)
    val ids = graft.functions.Bpe.tokenizeToIds(kept, "doc_id", "text",
      graft.functions.Bpe.FrozenMerges).localCheckpoint()
    graft.operators.Packing.packSequences(ids, "doc_id", "bpe_ids",
      "n_bpe_tokens", seqLen = 128,
      sepId = graft.functions.Bpe.sepId(graft.functions.Bpe.FrozenMerges))
  }

  /** Full-corpus sharded inverted-index build (ii1's operator at
    * bench scale): tokenize → (doc,term) tf agg → term-keyed
    * df/row-number window → block-chunked posting rows. Two shuffles;
    * the (term, block) agg reuses the term partitioning.
    */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.InvertedIndex.postingsExport(
      Tables.documents(spark, sfDir), "doc_id", "text",
      nShards = 8, blockSize = 64)

  /** Untimed staging for the serving-path bench: build the postings
    * artifact + doc-length + block-max sidecars + the impact-quantized
    * variant once, write them as parquet (what a serving tier loads).
    */
  def stageIndex(spark: SparkSession, sfDir: String): String = {
    val dir = graft.core.Staging.tmpDir("bench_index")
    val d = Tables.documents(spark, sfDir)
    val idx = graft.functions.InvertedIndex.postingsExport(
      d, "doc_id", "text", nShards = 8, blockSize = 64)
    idx.write.mode("overwrite").parquet(s"$dir/postings")
    val dls = graft.functions.InvertedIndex
      .docLengths(d, "doc_id", "text").localCheckpoint()
    dls.write.mode("overwrite").parquet(s"$dir/doclens")
    graft.functions.InvertedIndex
      .blockMax(spark.read.parquet(s"$dir/postings"), dls)
      .write.mode("overwrite").parquet(s"$dir/blockmax")
    graft.functions.InvertedIndex.impactExport(
        d, "doc_id", "text", nShards = 8, blockSize = 64)
      .write.mode("overwrite").parquet(s"$dir/impact")
    // maintained-store sibling: the same artifact pushed through the
    // full lifecycle (3 append folds → remove a fifth → compact) —
    // index_topk_churned serves from THIS store, and its ≈index_topk
    // reading is the "serving stays flat after N appends" claim (ii12)
    val I = graft.functions.InvertedIndex
    val folded = (1 to 2).foldLeft(
      I.postingsExport(d.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", nShards = 8, blockSize = 64).localCheckpoint()) {
      (st, r) => I.indexAppend(st, d.filter(col("doc_id") % 3 === r),
        "doc_id", "text", nShards = 8, blockSize = 64).localCheckpoint()
    }
    I.compact(
        I.indexRemove(folded, d.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", nShards = 8, blockSize = 64),
        nShards = 8, blockSize = 64)
      .write.mode("overwrite").parquet(s"$dir/postings_churned")
    val survivors = d.filter(col("doc_id") % 5 =!= 0)
    val sdls = I.docLengths(survivors, "doc_id", "text").localCheckpoint()
    sdls.write.mode("overwrite").parquet(s"$dir/doclens_churned")
    I.blockMax(spark.read.parquet(s"$dir/postings_churned"), sdls)
      .write.mode("overwrite").parquet(s"$dir/blockmax_churned")
    dir
  }

  /** Compressed-artifact build: the d-gap varint export (codegen
    * LEB128 pack) over the full corpus — ii8's bench twin.
    */
  def compressedExport(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.InvertedIndex.compressedExport(
      Tables.documents(spark, sfDir), "doc_id", "text",
      nShards = 8, blockSize = 64)

  /** Impact-served top-k (same worst-case stopword query as
    * [[indexTopK]]) — the join-free serve path: no dl sidecar, no
    * stats, pure integer sums over the staged impact artifact.
    */
  def impactTopK(spark: SparkSession, indexDir: String): DataFrame = {
    val idx = spark.read.parquet(s"$indexDir/impact")
    val qterms = idx.groupBy(col("term")).agg(max(col("df")).as("df"))
      .orderBy(col("df").desc, col("term")).limit(3)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    graft.functions.InvertedIndex.queryTopKImpacts(idx, qterms, k = 10)
  }

  /** Index-served BM25 top-k through the lossless block-max pruned
    * path, query = 3 highest-df terms (the worst case: stopword-scale
    * posting lists, where pruning pays).
    */
  def indexTopK(spark: SparkSession, indexDir: String): DataFrame = {
    val idx = spark.read.parquet(s"$indexDir/postings")
    val qterms = idx.groupBy(col("term")).agg(max(col("df")).as("df"))
      .orderBy(col("df").desc, col("term")).limit(3)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    graft.functions.InvertedIndex.queryTopKPruned(idx,
      spark.read.parquet(s"$indexDir/blockmax"),
      spark.read.parquet(s"$indexDir/doclens"), qterms, k = 10)
  }

  /** [[indexTopK]] against the LIFECYCLE-CHURNED store (3 appends →
    * remove → compact, staged untimed like the fresh artifact):
    * reading ≈ index_topk is the proof that maintenance leaves the
    * serving path flat — the store carries no debt a query pays for.
    */
  def indexTopKChurned(spark: SparkSession, indexDir: String): DataFrame = {
    val idx = spark.read.parquet(s"$indexDir/postings_churned")
    val qterms = idx.groupBy(col("term")).agg(max(col("df")).as("df"))
      .orderBy(col("df").desc, col("term")).limit(3)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    graft.functions.InvertedIndex.queryTopKPruned(idx,
      spark.read.parquet(s"$indexDir/blockmax_churned"),
      spark.read.parquet(s"$indexDir/doclens_churned"), qterms, k = 10)
  }

  def bm25Score(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.TextAnalysis
      .bm25(Tables.documents(spark, sfDir), "doc_id", "text")
      .groupBy(col("doc_id"))
      .agg(max(struct(col("bm25_q"), col("term"))).as("top"))
      .select(col("doc_id"), col("top.term").as("top_term"))

  /** Integer PageRank over the event-derived graph, 6 supersteps —
    * past the every-4 localCheckpoint cadence, so the benched plan is
    * the truncated-lineage shape the operator ships at depth.
    */
  def pageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull)
      .select(col("user_id").as("src"),
        (conv(substring(md5(col("event_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100000L).as("dst"))
      .filter(col("src") =!= col("dst"))
    graft.operators.PageRank.ranks(edges, "src", "dst", iterations = 6)
  }

  def rangeJoinAgg(spark: SparkSession, sfDir: String): DataFrame = {
    // Exact-sum spelling, optimized for the 35M-pair multiplicity
    // (guide §1.2 "per-task work" + §2.3 narrower types): Exact.dsum's
    // decimal route evaluates a BigDecimal-allocating double→decimal
    // cast per JOINED pair and sums into a non-compact decimal(28,2)
    // buffer (measured ~18 s of this entry at sf0.1). Prices are exact
    // 2-decimal money values (the fixture contract Exact.dec relies
    // on), so floor(x·100 + 0.5) recovers the exact integer cents once
    // per POINT row — a codegen'd Math.floor, no allocation — and the
    // aggregate becomes an exact int64 add. The emitted double is
    // bit-identical to the decimal route's: both produce the correctly
    // rounded double of (Σcents)/100 (Σcents < 2^53 per group).
    val pts = spread(Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_extendedprice"),
        Exact.cents(col("l_extendedprice")).as("l_cents")), "l_orderkey")
    val iv = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice").as("lo"),
        (col("o_totalprice") + 200.0).as("hi"))
    graft.operators.RangeJoin
      .pointInInterval(pts, "l_extendedprice", iv, "lo", "hi", 200.0)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_points"),
        (sum(col("l_cents")).cast("double") / 100.0).as("sum_price"))
  }

  def corpusExport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val kept = docs.filter(TextAnalysis.qualityScore(col("text")) >= 0.2)
    val deduped = Dedup.dropExactDuplicates(kept)
    graft.operators.Packing.packFill(
      graft.operators.Packing.packSpans(deduped, "doc_id", "text",
        seqLen = 512, buckets = 256))
  }

  /** Flagship LLM-curation cascade — the full crawl→training-corpus
    * story in ONE measured pipeline, every stage the gated operator:
    * HTML→text (c14) → URL blocklist (cu4) → quality/length gate (t2)
    * → exact dedup on the normalized fingerprint (x1) → MinHash-LSH
    * near-dup components → canonical keep (x9/x10) → per-language
    * weighted sample (smp2) → sequence packing (pk1/pk2). Shuffle
    * inventory: the LSH band join + component supersteps dominate
    * (star-capped, log-star); everything upstream of exact dedup is
    * map-side on the scan.
    */
  def curationCascade(spark: SparkSession, sfDir: String): DataFrame =
    // NO input spread, re-measured in r18 with the HASH-KEYED spread
    // (the r17 rejection only covered the keyless round-robin): the
    // regex-heavy `gated` stage does run on one core here (1.64 s of
    // the 5.0 s entry), but shuffling the raw text bodies to spread it
    // cost more than it recovered — isolated min-of-4 read 5.66 s
    // spread vs 4.99 s unspread.
    curationCascadeOn(spark, Tables.documents(spark, sfDir))

  /** Gopher char-fraction repetition cut over the raw corpus — the
    * rep3 operator as a standalone throughput entry (positioned-gram
    * flatMap + doc-keyed aggs/windows; no cross-document state).
    */
  def repetitionCut(spark: SparkSession, sfDir: String): DataFrame =
    graft.quality.Repetition.repetitionFilter(
      Tables.documents(spark, sfDir), "doc_id", "text")

  /** Cascade over an explicit documents frame — `CorpusPrepApp` runs
    * it over its JSONL-ingested corpus, the bench over the fixture.
    */
  def curationCascadeOn(spark: SparkSession, raw: DataFrame): DataFrame = {
    // synthetic crawl facade over the plain-text fixture: html + url
    val crawl = raw.select(col("doc_id"), col("lang"), col("n_chars"),
      concat(lit("<html><head><style>p{color:red}</style></head><body><p>"),
        col("text"), lit("</p></body></html>")).as("html"),
      concat(lit("https://"), col("source"), lit(".org/p/"), col("doc_id"))
        .as("url"))
    val text = crawl
      .withColumn("text", Cleansers.stripHtml(col("html"))).drop("html")
    // encoding repair runs FIRST (mojibake/controls would corrupt
    // every downstream token); a pure map-side projection, free
    val mended = graft.quality.Encoding.repair(text, "text")
    val allowed = graft.quality.Urls.blocklistFilter(
      mended, "url", Seq("src3.org"))
    // Stage boundary MATERIALIZES (localCheckpoint — the r16
    // embedding_cascade lesson applied to the text flagship): `gated`
    // has two consumers (the fused token census and the semi-join back)
    // and sits on a pure map-side lineage (html strip + encoding repair
    // + two regex-heavy quality scores) that would otherwise execute
    // once per consumer — the regex work is the cascade's single most
    // expensive per-row stage, so paying it twice is measurable
    // (~0.9 s at sf0.1). At 100 TB each stage lands in storage anyway.
    val gated = allowed.filter(
      TextAnalysis.qualityScore(col("text")) >= 0.2 &&
        TextAnalysis.tokenCount(col("text")) >= 10)
      .localCheckpoint()
    // doc-level badwords cut (C4) + Gopher rule gate before the
    // expensive near-dedup stages — every doc they drop is LSH work
    // saved. FUSED into ONE token explode + one doc-keyed agg + one
    // semi-join: calling TermBlocklist.filterClean and
    // GopherRules.filterPass back-to-back would explode and aggregate
    // the corpus twice for per-doc counters that one pass computes
    // (measured: the unfused spelling added ~4 s to this cascade at
    // sf0.1). The RULE SHAPES are TermBlocklist's and GopherRules'
    // (each pinned standalone by its oracle gate), with cascade-tuned
    // PARAMETERS that deliberately diverge from the gates' choices:
    // minWords=10 (not Gopher's 50 — the fixture docs run 23–80 words
    // and the default would gut the corpus the packing stages need)
    // and a 2-term badwords list (not bw2's 3 — "spark" appears in
    // ~1/6 of fixture docs).
    val cascadeBadwords = Seq("slow", "dup")
    val tk = TextDedup.shingleSets(gated, "doc_id", "text", k = 1,
      distinct = false)
      .withColumn("__tok", lower(col("shingle")))
    val keepIds = tk.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_words"),
        sum(length(col("shingle"))).as("sum_len"),
        sum(when(col("shingle").rlike("\\A[A-Za-z]+\\z"), 1L).otherwise(0L))
          .as("n_alpha"),
        sum(when(col("__tok").isin(
          graft.quality.GopherRules.GopherStopwords: _*), 1L).otherwise(0L))
          .as("n_stop"),
        sum(when(col("__tok").isin(cascadeBadwords: _*), 1L).otherwise(0L))
          .as("n_bad"))
      .filter(col("n_bad") === 0L &&
        col("n_words") >= 10 && col("n_words") <= 100000 &&
        col("sum_len") >= lit(3L) * col("n_words") &&
        col("sum_len") <= lit(10L) * col("n_words") &&
        lit(10L) * col("n_alpha") >= lit(8L) * col("n_words") &&
        col("n_stop") >= 2L)
      .select(col("doc_id"))
    val ruled = gated.join(keepIds, Seq("doc_id"), "left_semi")
    // Second boundary: `exact` feeds THREE consumers — the LSH shingle
    // pipeline, the component-node universe, and the canonical-keep
    // join — and the CC loop below is EAGER (per-round count jobs), so
    // without materialization the dedup agg + upstream lineage execute
    // once for the pair build and again for the final kept join.
    val exact = Dedup.dropExactDuplicates(
      ruled.withColumn("fp", TextAnalysis.normalizedFingerprint(col("text"))),
      Seq("fp"))
      .localCheckpoint()
    val sh = TextDedup.shingleSets(exact, "doc_id", "text", distinct = false,
      parallelism = Some(spark.sparkContext.defaultParallelism))
    val comps = graft.dedup.Components.connectedComponentsLogStar(
      TextDedup.candidatePairs(
        TextDedup.bandKeys(TextDedup.minhashSignatures(sh, "doc_id"), "doc_id"),
        "doc_id"),
      exact.select(col("doc_id")), "doc_id")
    val canonical = comps.groupBy(col("comp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kept = exact.join(canonical, Seq("doc_id"))
    val sampled = graft.operators.Sampling.weightedTopKPerStratum(
      kept, "doc_id", "lang", "n_chars", k = 80, seed = "cascade")
    graft.operators.Packing.packFill(
      graft.operators.Packing.packSpans(
        sampled.select(col("doc_id"), col("text")), "doc_id", "text",
        seqLen = 512, buckets = 64))
  }

  /** Shared events projection for the secondary-sort pipelines. */
  private def evOrdered(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, sfDir)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        $"value", $"event_type")
      .filter($"user_id".isNotNull)
  }

  /** Secondary-sort fold throughput: recursive EWMA per user (one keyed
    * shuffle + spillable sort + streaming O(1)-state fold).
    */
  def ewmaFold(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Ewma.ewmaLast(
      evOrdered(spark, sfDir).filter(col("value").isNotNull),
      "user_id", "value", Seq("ts_us", "event_id"), alpha = 0.25)

  /** Funnel state machine over the same shuffle/sort shape. */
  def funnelStages(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Sequences.funnelStages(
      evOrdered(spark, sfDir), "user_id", "event_type",
      Seq("ts_us", "event_id"), Seq("signup", "click", "purchase"))

  /** As-of enrichment throughput: every purchase joined to the user's
    * most recent prior click (tag-union + keyed window carry — one
    * shuffle, no range explosion).
    */
  def asofEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ev = evOrdered(spark, sfDir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us", $"event_id", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts_us", $"event_id".as("click_id"),
        $"value".as("click_value"))
    graft.operators.AsOfJoin.asof(purchases, clicks,
      keys = Seq("user_id"), tsCol = "ts_us",
      rightCols = Seq("click_id", "click_value"))
  }

  /** DSIR end-to-end: hashed-bucket models for target (English slice)
    * and raw corpora, per-doc importance weights, Gumbel-top-1000
    * selection.
    */
  def dsirSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val d = spread(Tables.documents(spark, sfDir), "doc_id")
    val w = graft.selection.Dsir.importanceWeights(
      d.select(col("doc_id"), col("text")),
      d.filter(col("lang") === "en").select(col("doc_id"), col("text")),
      "doc_id", "text")
    graft.selection.Dsir.gumbelTopK(w, "doc_id", k = 1000, seed = "bench")
  }

  /** SemDeDup end-to-end over the raw embeddings (16 deterministic
    * cells; at sf0.1 every cell exceeds the default cap, so this
    * measures the star regime — the 100 TB shape).
    */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.semDedup(Tables.embeddings(spark, sfDir), "vec_id",
      "embedding", threshold = 0.9, nCentroids = 16)
      .filter(col("keep"))

  /** IVF-routed semantic decontamination (dc4's shape, the bounded-
    * scan path past dc3's broadcast-probe cap): train the coarse
    * quantizer once, assign the corpus once, route each probe to its
    * 2 nearest cells and score only those cells' members.
    */
  def semanticDecontamIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val cents = Similarity.kmeansTrain(emb, "vec_id", "embedding",
      k = 8, iters = 2, dim = 64).centroids
    val probes = emb.filter(col("vec_id") % 41 === 0)
      .select(col("vec_id").as("probe_id"),
        concat(array(lit(0.0f)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1))
          .as("embedding"))
    // the verdict filter keeps the benched terminal honest: Bench's
    // count() would otherwise prune max_cos and every pair cosine
    graft.dedup.Decontam.semanticProfileIvf(emb, probes, "vec_id",
      "embedding", tau = 0.9, cents, nProbe = 2)
      .filter(col("contaminated") === 1)
  }

  /** The EMBEDDING-side curation flagship — curation_cascade's sibling
    * for the vector corpus, composed the way a production run spends
    * it: exact dedup → ONE Lloyd training shared by every semantic
    * stage → SemDeDup (trained cells) → IVF-routed decontamination →
    * cluster-balanced selection → IVFADC artifact build. Every stage
    * is individually oracle-gated (x1-class, v21, dc4, km2, v22/v24);
    * the composition is benched end-to-end (`embedding_cascade`).
    * Returns the built index's residual-code table — counting it
    * forces the whole cascade plus the artifact write.
    */
  def embeddingCascade(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.similarity.ProductQuant
    val emb = Tables.embeddings(spark, sfDir)
    // stage boundaries MATERIALIZE (localCheckpoint): the downstream
    // trainers iterate, and every Lloyd round re-executing the whole
    // upstream cascade lineage is the difference between 4 s and 47 s
    // at sf0.1 (measured) — at 100 TB each stage lands in storage
    val exact = emb.select(col("vec_id"), col("embedding"))
      .dropDuplicates("embedding").localCheckpoint()
    val model = Similarity.kmeansTrain(exact, "vec_id", "embedding",
      k = 16, iters = 2, dim = 64)
    val idx = Similarity.IvfIndex(
      Similarity.assignToCentroids(exact, "vec_id", "embedding",
        model.centroids), model.centroids)
    val kept = Similarity.semDedupWithIndex(idx, "vec_id", "embedding",
      threshold = 0.9, bucketCap = 128)
      .filter(col("keep")).select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val probes = emb.filter(col("vec_id") % 41 === 0)
      .select(col("vec_id").as("probe_id"),
        concat(array(lit(0.0f)),
          slice(col("embedding"), lit(2), size(col("embedding")) - 1))
          .as("embedding"))
    val survivors = graft.dedup.Decontam.semanticProfileIvf(kept, probes,
        "vec_id", "embedding", tau = 0.9, model.centroids, nProbe = 2)
      .filter(col("contaminated") === 0).select(col("vec_id"))
      .join(kept, "vec_id").localCheckpoint()
    val picked = Similarity.clusterBalancedSample(survivors, "vec_id",
        "embedding", model.centroids, perCell = 24)
      .select(col("vec_id")).join(survivors, "vec_id").localCheckpoint()
    val pIdx = Similarity.IvfIndex(
      Similarity.assignToCentroids(picked, "vec_id", "embedding",
        model.centroids), model.centroids)
    val cb = ProductQuant.buildCodebookResidual(pIdx, "vec_id",
      "embedding", m = 4, ks = 8, iters = 2, dim = 64)
    ProductQuant.saveIvfPqResidualFrozen(picked, "vec_id", "embedding",
      model.centroids, cb, embCascadeDir)
    spark.read.parquet(s"$embCascadeDir/pq/codes")
  }

  // ONE artifact directory per JVM, overwritten per invocation: the
  // bench harness runs the thunk 5× (warmup + repeats), and a fresh
  // tmpDir each time accumulated 5 full IVFADC indexes on disk per
  // session (r16 advice). Overwrite semantics hold end-to-end:
  // saveIvfPqResidualFrozen → saveIvf (mode overwrite) + savePq
  // (mode overwrite on codes/codebook/meta).
  private lazy val embCascadeDir =
    graft.core.Staging.tmpDir("bench_emb_cascade")

  /** WordPiece re-tokenization throughput (tk33's operator at bench
    * scale — the third tokenizer family's sibling of bpe_tokenize /
    * unigram_segment; the distinct-word memoized encode + broadcast
    * join dominates, same plan shape).
    */
  def wordPieceTokenize(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.WordPiece.tokenizeDocs(
      Tables.documents(spark, sfDir), "doc_id", "text",
      graft.functions.WordPiece.FrozenVocab)

  /** CCNet perplexity bucketing, approx-threshold scale path. */
  def pplBuckets(spark: SparkSession, sfDir: String): DataFrame =
    graft.quality.Perplexity.buckets(
      Tables.documents(spark, sfDir), "doc_id", "text", "lang")

  /** CCNet bucketing under the REAL smoothed LM (the KN tier, cx4):
    * freeze the interpolated Kneser–Ney bigram model on the even half,
    * score + per-language tercile the odd half (approx-threshold scale
    * path). Model training is inside the timed thunk — it IS the
    * pipeline a production filter pays. The head-bucket filter keeps
    * the benched terminal honest (the count()-pruned-terminal trap):
    * the bucket tag and everything feeding it must compute, not prune.
    */
  def pplBucketsKn(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val model = graft.functions.TextAnalysis.kneserNeyModel(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    graft.quality.Perplexity.bucketsKn(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", "lang", model)
      .filter(col("bucket") === "head")
  }

  /** Blocked edit-distance matching: quadratic Levenshtein stage
    * confined to nation blocks (codegen'd built-in, equi-join shuffle).
    */
  def fuzzyPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Fuzzy.blockedEditDistancePairs(
      Tables.customer(spark, sfDir).select(
        col("c_custkey"), col("c_name"), col("c_nationkey")),
      "c_custkey", "c_name", Seq("c_nationkey"), maxDist = 2)

  private val streamRunN = new java.util.concurrent.atomic.AtomicInteger(0)
  private val streamSrcDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** File source wants a directory: expose the single-file fixture via
    * symlink, staged once per (JVM, sfDir).
    */
  private def streamSrc(sfDir: String): String =
    streamSrcDirs.computeIfAbsent(sfDir, { sf =>
      val d = java.nio.file.Paths.get(graft.core.Staging.tmpDir("bench_stream_src"))
      java.nio.file.Files.createSymbolicLink(
        d.resolve("events.parquet"), java.nio.file.Paths.get(s"$sf/events.parquet"))
      d.toString
    })

  /** Streaming throughput: drive the full micro-batch machinery — file
    * source over the events parquet → watermark → tumbling rollup →
    * memory sink — to completion. Measures the streaming path's
    * end-to-end rate (state store updates included), not just the
    * batch-equivalent plan. A fresh sink name per run keeps memory-sink
    * registrations from colliding across warmup/repeat runs.
    */
  def streamRollup(spark: SparkSession, sfDir: String): DataFrame = {
    // state partitions sized for state volume (hundreds of window×type
    // keys), NOT core count: 32 state stores per micro-batch is pure
    // per-instance open/commit overhead — see EventStream.stateSizedSession
    val ss = graft.streaming.EventStream.stateSizedSession(spark, 8)
    graft.streaming.EventStream.runToMemory(ss,
      graft.streaming.EventStream.tumblingCounts(
        graft.streaming.EventStream.read(ss, streamSrc(sfDir))),
      s"bench_stream_${streamRunN.incrementAndGet()}")
  }
}
