package graft.streaming

import graft.functions.TextAnalysis
import graft.quality.Redact
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming face of corpus curation — continuous
  * training-data ingestion: a file-source stream of document batches
  * flows through the SAME quality-filter / PII-redaction / chunking
  * expressions as the batch pipeline (they are stateless Catalyst
  * projections, so they run unchanged in micro-batch with Append
  * output and no watermark or state store at all).
  *
  * Scale note: stateless streams are embarrassingly parallel per
  * micro-batch — the only cross-batch machinery is source tracking of
  * processed files, so throughput is the batch pipeline's throughput.
  * Parity is the correctness contract: `e9_stream_curation` /
  * `e10_stream_chunks` must equal their batch twins exactly.
  */
object DocStream {

  /** documents.parquet schema as stored. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** (doc_id, text) schema for staged probe/doc streams — one
    * constant shared by every gate that stages a 2-column frame
    * (e25/e27 and their specs), so a column change is fixed in one
    * place instead of silently reading nulls through a stale copy.
    */
  val idTextSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** (doc_id, text, lang) schema for staged doc streams whose serve
    * step is language-keyed (e52) — [[idTextSchema]] plus the lang tag.
    */
  val idTextLangSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** (doc_id, payload) schema for staged binary-media streams — the
    * media sibling of [[idTextSchema]] (e32 and its specs).
    */
  val payloadSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("payload", BinaryType)))

  /** File-source stream over a directory of documents parquet. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** Stateless curation: quality-gate then PII-scrub. Identical
    * expressions to the batch faces (t2 quality, pii1 redact).
    */
  def curate(docs: DataFrame, minQuality: Double): DataFrame =
    docs
      .filter(TextAnalysis.qualityScore(col("text")) >= minQuality)
      .select(col("doc_id"), Redact.redactPii(col("text")).as("text"))

  /** Stateless chunking: the batch Chunker's generate fan-out, in
    * micro-batch (map-side explode streams straight to the sink).
    */
  def chunk(docs: DataFrame, size: Int, stride: Int): DataFrame =
    graft.operators.Chunker.chunkByTokens(docs, "doc_id", "text", size, stride)

  /** Streaming face of the length-bucketed batching census (bb1): the
    * per-row bucket/kept/waste projection is stateless and shared
    * verbatim with the batch operator (`Packing.bucketAssign`), and
    * the census is one bounded-cardinality streaming aggregation —
    * state is ≤|boundaries| bucket rows, Complete mode re-emits the
    * whole (tiny) census each trigger. The converged result equals
    * the batch `Packing.lengthBuckets` exactly, so the e23 gate
    * shares bb1's oracle. This is the continuous-ingestion planning
    * readout: bucket boundaries can be re-evaluated while the corpus
    * is still arriving, for the cost of the scan already being paid.
    */
  def lengthCensus(docs: DataFrame, boundaries: Seq[Int],
                   batchSize: Int): DataFrame =
    graft.operators.Packing.bucketCensus(
      graft.operators.Packing.bucketAssign(
        docs.select(TextAnalysis.tokenCount(col("text"))
          .cast("long").as("n_toks")),
        "n_toks", boundaries),
      batchSize)

  /** Streaming face of the shard manifest (mf1): every column is an
    * algebraic aggregate (count/sum/min/max) of a stateless per-row
    * projection, so the manifest folds as one streaming aggregation
    * with ≤nShards rows of state (Complete mode). The converged result
    * equals the batch `Manifest.shardManifest` — the e24 gate shares
    * mf1's oracle. Continuous export integrity: the manifest is
    * CURRENT while shards are still being written, instead of a
    * post-hoc full re-scan.
    */
  def manifestFold(docs: DataFrame, nShards: Int): DataFrame =
    graft.sources.Manifest.shardManifest(docs, "doc_id", "text", nShards)

  /** Stateless streaming face of the fused badwords + Gopher quality
    * gate: both verdicts are DOC-LOCAL, so on a stream they collapse
    * to one per-row predicate over the token array — no explode, no
    * aggregation state, no join, Append mode. The arithmetic is the
    * SAME integer arithmetic as the batch operators (cross-multiplied
    * bounds, exact long counts over the `split(" ", -1)` token
    * convention, badwords case-folded on whole tokens), so converged
    * output equals `GopherRules.filterPass ∩ TermBlocklist.filterClean`
    * row-for-row — which is how the e21 gate oracles it. The batch
    * path keeps its fused explode+agg+semi-join spelling (HOF lambdas
    * are interpreted — fine for micro-batches, wrong for a 100 TB
    * scan); null text drops, matching the batch word-count rule.
    */
  def fusedQualityGate(docs: DataFrame, badwords: Seq[String],
                       minWords: Int = 50,
                       maxWords: Int = 100000): DataFrame = {
    val toks = split(col("text"), " ", -1)
    val bw = array(badwords.map(_.toLowerCase).distinct.sorted.map(lit): _*)
    val nWords = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (a, w) => a + length(w).cast("long"))
    val nAlpha = size(filter(toks, w => w.rlike("\\A[A-Za-z]+\\z"))).cast("long")
    val nStop = size(filter(toks,
      w => lower(w).isin(graft.quality.GopherRules.GopherStopwords: _*)))
      .cast("long")
    val hasBad = arrays_overlap(transform(toks, w => lower(w)), bw)
    docs.select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
      .filter(!hasBad &&
        nWords >= minWords && nWords <= maxWords &&
        sumLen >= lit(3L) * nWords && sumLen <= lit(10L) * nWords &&
        lit(10L) * nAlpha >= lit(8L) * nWords &&
        nStop >= 2L)
  }

  /** Stateless streaming BPE re-tokenization — the continuous face of
    * `Bpe.tokenizeDocs`: tokenization under a frozen merge table is a
    * pure row function, so the stream needs no vocab aggregation, no
    * state store, no watermark — a compiled mapPartitions with a
    * per-partition word memo (capped; on overflow it just recomputes —
    * correctness never depends on the cache) replaces the batch path's
    * distinct-vocab broadcast join. Converged output equals batch tk1
    * EXACTLY, which is how the e18 gate oracles it.
    */
  def bpeTokenize(docs: DataFrame,
                  merges: Seq[(String, String)]): DataFrame =
    bpeTokenizeWith(docs, merges, graft.functions.Bpe.codePointSyms)

  /** Byte-level streaming face: the same per-partition memoized merge
    * loop over UTF-8 hex-byte symbols (tk10's tokenization, frozen
    * merges) — stream == batch on the tk10 oracle. */
  def bpeTokenizeBytes(docs: DataFrame,
                       merges: Seq[(String, String)]): DataFrame =
    bpeTokenizeWith(docs, merges, graft.functions.Bpe.byteSyms)

  /** CATEGORY-pre-tokenized byte-level streaming face (tk16's): the
    * same per-partition memoized merge loop, with words from
    * [[graft.functions.Bpe.pretokenize]] instead of the space split —
    * leading spaces ride inside the tokens, whitespace runs are real
    * tokens, and only a truly empty text drops (the lexer partitions
    * any non-empty text). Stream == batch on tk16's own oracle (e33).
    */
  def bpeTokenizeBytesPretok(docs: DataFrame,
                             merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = merges.zipWithIndex.toMap
    docs.select(col("doc_id").cast("long"), col("text"))
      .filter(col("text").isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, (String, Long)]()
        val MemoCap = 1 << 16
        it.map { case (id, text) =>
          val words = graft.functions.Bpe.pretokenize(text)
          var nTok = 0L
          val sb = new StringBuilder
          words.foreach { w =>
            var hit = memo.get(w)
            if (hit == null) {
              val toks = graft.functions.Bpe.applySyms(
                graft.functions.Bpe.byteSyms(w), ranks)
              hit = (toks.mkString(" "), toks.length.toLong)
              if (memo.size < MemoCap) memo.put(w, hit)
            }
            if (sb.nonEmpty) sb.append(' ')
            sb.append(hit._1)
            nTok += hit._2
          }
          (id, words.length.toLong, nTok, sb.toString)
        }.filter(_._2 > 0L) // only the empty text drops, matching tk16
      }
      .toDF("doc_id", "n_words", "n_bpe_tokens", "bpe_text")
  }

  /** Unigram-LM Viterbi streaming face (tk23's): the same per-
    * partition memoized distinct-word DP under a frozen piece
    * inventory — stateless map work, so stream == batch on the tk23
    * oracle (e34). Word filter ([a-z]+, length ≤
    * [[graft.functions.Unigram.MaxWordLen]]), no-path drops, and
    * empty-doc drops all mirror the batch join semantics.
    * `maxWordLen` mirrors the batch face's r15 lift: the gate default
    * is the oracle-unroll cap; pass `Int.MaxValue` for the uncapped
    * production path (the per-partition DP has no length limit).
    */
  def unigramSegment(docs: DataFrame,
                     vocab: Seq[(String, Long)],
                     maxWordLen: Int = graft.functions.Unigram.MaxWordLen): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lp = vocab.toMap
    docs.select(col("doc_id").cast("long"), col("text"))
      .filter(col("text").isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, (String, Long)]()
        val MemoCap = 1 << 16
        val absent = ("", -1L) // memoized no-path marker
        it.map { case (id, text) =>
          var nW = 0L
          var nP = 0L
          val sb = new StringBuilder
          text.split(" ", -1).foreach { w =>
            if (w.nonEmpty && w.length <= maxWordLen &&
                w.forall(c => c >= 'a' && c <= 'z')) {
              var hit = memo.get(w)
              if (hit == null) {
                hit = graft.functions.Unigram.viterbiWord(w, lp)
                  .map { case (s, _, n) => (s, n.toLong) }
                  .getOrElse(absent)
                if (memo.size < MemoCap) memo.put(w, hit)
              }
              if (hit._2 > 0L) {
                nW += 1L
                nP += hit._2
                if (sb.nonEmpty) sb.append(' ')
                sb.append(hit._1)
              }
            }
          }
          (id, nW, nP, sb.toString)
        }.filter(_._2 > 0L) // docs with no segmentable word drop, matching tk23
      }
      .toDF("doc_id", "n_words", "n_pieces", "piece_text")
  }

  private def bpeTokenizeWith(docs: DataFrame,
                              merges: Seq[(String, String)],
                              symbolize: String => Vector[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = merges.zipWithIndex.toMap
    // null text drops BEFORE the compiled map (the shingleSets
    // convention: crawl-scale norm, and split(null) would NPE the
    // executor) — the batch twin drops null-text docs the same way,
    // keeping stream == batch on dirty corpora, not just fixtures
    docs.select(col("doc_id").cast("long"), col("text"))
      .filter(col("text").isNotNull)
      .as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, (String, Long)]()
        val MemoCap = 1 << 16
        it.map { case (id, text) =>
          val words = text.split(" ", -1)
          var nWords = 0L
          var nTok = 0L
          val sb = new StringBuilder
          var i = 0
          while (i < words.length) {
            val w = words(i)
            if (w.nonEmpty) {
              var hit = memo.get(w)
              if (hit == null) {
                val toks = graft.functions.Bpe.applySyms(symbolize(w), ranks)
                hit = (toks.mkString(" "), toks.length.toLong)
                if (memo.size < MemoCap) memo.put(w, hit)
              }
              if (sb.nonEmpty) sb.append(' ')
              sb.append(hit._1)
              nWords += 1
              nTok += hit._2
            }
            i += 1
          }
          (id, nWords, nTok, sb.toString)
        }.filter(_._2 > 0L) // wordless docs drop, matching batch tk1
      }
      .toDF("doc_id", "n_words", "n_bpe_tokens", "bpe_text")
  }

  /** Continuous-ingestion dedup against a HISTORICAL store: drop
    * stream documents whose normalized fingerprint already exists in
    * the static fingerprint table (`store(fp)`). Spelled as
    * stream-static left-outer + null filter — the supported stateless
    * form of the anti-join (stream-static left_anti is not in
    * Structured Streaming's join matrix); per micro-batch the static
    * side broadcasts, so this is the same shape as the batch
    * Boilerplate/Decontam filters: the stream is filtered where it
    * lies, no state store, no watermark.
    *
    * In-batch duplicates are NOT collapsed here (that is
    * [[EventStream.dedupWithinWatermark]]'s job with a key on the
    * fingerprint); this operator's contract is purely
    * "never re-admit what the store already has".
    */
  final case class TopKState(rows: Seq[(Double, Long)])
  final case class KeptDoc(stratum: String, doc_id: Long, es_key: Double)

  /** Streaming per-stratum weighted sampling: the continuous-ingestion
    * face of [[graft.operators.Sampling.weightedTopKPerStratum]]. Each
    * stratum's keyed state holds exactly its current top-k
    * (rank-key, id) pairs — state is bounded by strata × k for ANY
    * stream length, and eviction is the merge itself (a new better row
    * pushes the worst one out). Because the rank key is a pure row
    * function (md5-uniform, no RNG), the stream's converged answer
    * equals the batch draw over the same rows EXACTLY — which is how
    * the e12 gate oracles it against DuckDB. Update mode re-emits a
    * stratum's refreshed top-k each micro-batch it changes.
    */
  def weightedTopKUpdates(docs: DataFrame, idCol: String,
                          strataCol: String, weightCol: String, k: Int,
                          seed: String = ""):
      org.apache.spark.sql.Dataset[KeptDoc] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(k >= 1, s"k=$k must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col(weightCol) > 0)
      .select(col(strataCol).cast("string"), col(idCol).cast("long"),
        graft.operators.Sampling.esKey(col(idCol), col(weightCol), seed))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TopKState, KeptDoc](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (stratum, it, state) =>
          val merged =
            (state.getOption.map(_.rows).getOrElse(Seq.empty) ++
              it.map(r => (r._3, r._2)))
              .distinct                       // redelivery-safe
              .sortBy { case (key, id) => (-key, id) }
              .take(k)
          state.update(TopKState(merged))
          merged.iterator.map { case (key, id) => KeptDoc(stratum, id, key) }
      }
  }

  final case class BudgetState(used: Long)
  final case class AdmittedDoc(source: String, doc_id: Long, n_toks: Long)

  /** Streaming per-group token-budget admission — the continuous face
    * of `GroupStats.tokenBudgetTrim`: each group's keyed state is ONE
    * long (tokens already admitted), and a document is admitted iff it
    * STARTS inside the budget, exactly the batch keep rule
    * (cum − n < budget). Admission is an ingestion-order prefix, so
    * the streaming contract orders by `doc_id` (within a micro-batch
    * explicitly, across batches by arrival) rather than batch tb1's
    * quality-descending order — a stream cannot sort the future; the
    * e17 oracle states the same doc_id-ordered spelling. State is
    * bounded by the group count for ANY stream length; admitted docs
    * emit once (Append).
    */
  def tokenBudgetUpdates(docs: DataFrame, idCol: String, groupCol: String,
                         nTokCol: String, budget: Long):
      org.apache.spark.sql.Dataset[AdmittedDoc] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(groupCol).cast("string"), col(idCol).cast("long"),
        col(nTokCol).cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[BudgetState, AdmittedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (source, it, state) =>
          var used = state.getOption.map(_.used).getOrElse(0L)
          val admitted = it.toSeq.sortBy(_._2).flatMap { case (_, id, n) =>
            if (used < budget) { used += n; Some(AdmittedDoc(source, id, n)) }
            else None
          }
          state.update(BudgetState(used))
          admitted.iterator
      }
  }

  def dedupAgainstStore(docs: DataFrame, store: DataFrame): DataFrame =
    docs
      .withColumn("__fp", TextAnalysis.normalizedFingerprint(col("text")))
      .join(store.select(col("fp").as("__fp")).distinct()
          .withColumn("__seen", lit(1)),
        Seq("__fp"), "left_outer")
      .filter(col("__seen").isNull)
      .drop("__fp", "__seen")

  /** Per-document MinHash band keys — [[graft.dedup.TextDedup]]'s
    * EXACT arithmetic (md5-derived 32-bit base hash, the universal
    * hash family, md5 band key over the "sig|sig" string) computed
    * compiled inside one row function, because the batch spelling
    * aggregates exploded shingles and a streaming aggregation would
    * drag in state the near-dup filter does not need. None when the
    * document has no shingles (< k tokens or null text) — the batch
    * path emits no signature for those either.
    */
  private[streaming] def bandKeysOf(text: String): Option[Array[String]] = {
    import graft.dedup.TextDedup._
    if (text == null) return None
    val toks = text.split(" ", -1)
    if (toks.length < DefaultShingle) return None
    val md = java.security.MessageDigest.getInstance("MD5")
    val sigs = Array.fill(NumHashes)(Long.MaxValue)
    toks.sliding(DefaultShingle).foreach { w =>
      val digest = md.digest(w.mkString(" ").getBytes("UTF-8"))
      md.reset()
      // first 8 hex chars of md5 == big-endian unsigned int of the
      // first 4 digest bytes (the conv(substring(md5,1,8),16,10) hash)
      val h = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
        ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
      var j = 0
      while (j < NumHashes) {
        val v = (HashA(j) * h + HashB(j)) % HashP
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
    }
    Some(Array.tabulate(Bands) { b =>
      val key = (0 until RowsPerBand)
        .map(r => sigs(b * RowsPerBand + r).toString).mkString("|")
      md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    })
  }

  /** Continuous-ingestion NEAR-dup filter — the LSH sibling of
    * [[dedupAgainstStore]]'s exact fingerprints: drop stream documents
    * that share any MinHash band with a historical band store
    * (`bandStore(band_id, band_key)`, built batch-side by
    * `TextDedup.bandKeys` and persisted like the e11 fingerprint
    * store). Admitted documents are returned as (doc_id, text).
    *
    * Statelessness: band keys are computed per row ([[bandKeysOf]]),
    * kept as COLUMNS rather than exploded rows, and probed with one
    * stream-static left join per band against that band's (distinct)
    * store keys — so no watermark, no state store, and no
    * re-aggregation of exploded rows. Per micro-batch each static
    * side broadcasts, the same shape as the batch Boilerplate /
    * Decontam filters. Documents too short to shingle are admitted
    * (they have no signature on the batch path either).
    *
    * Scale: the store is bands × distinct keys — for a 100 TB corpus
    * the band table is large, but each join is an equi join the
    * planner can shuffle instead of broadcast when it outgrows the
    * threshold; the stream side stays one row per document
    * throughout.
    */
  def nearDupAgainstStore(docs: DataFrame, bandStore: DataFrame): DataFrame = {
    import graft.dedup.TextDedup.Bands
    val spark = docs.sparkSession
    import spark.implicits._
    val withBands = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, text, bandKeysOf(text).map(_.toSeq).getOrElse(Seq.empty))
      }
      .toDF("doc_id", "text", "__bands")
    val keyed = (0 until Bands).foldLeft(withBands) { (df, b) =>
      // try_: ANSI element_at throws on the shingle-less docs' empty
      // band array; null keys fall through the left joins to admission
      df.withColumn(s"__bk$b", try_element_at(col("__bands"), lit(b + 1)))
    }
    val probed = (0 until Bands).foldLeft(keyed) { (df, b) =>
      df.join(
        bandStore.filter(col("band_id") === b)
          .select(col("band_key").as(s"__bk$b")).distinct()
          .withColumn(s"__seen$b", lit(1)),
        Seq(s"__bk$b"), "left_outer")
    }
    probed
      .filter((0 until Bands).map(b => col(s"__seen$b").isNull).reduce(_ && _))
      .select(col("doc_id"), col("text"))
  }

  /** [[read]] delivering ONE file per micro-batch — the maintenance
    * cadence knob for store-folding operators (each arriving file
    * becomes one fold step).
    */
  def readOneFilePerTrigger(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** Streaming per-source dataset cards (dcard2's face): every column
    * is a streaming-legal aggregate — count/sum are algebraic,
    * collect_set carries bounded state (the lang set is a language
    * inventory, not row data) — so the cards refresh each trigger in
    * Complete mode with ≤|sources| rows of state. Converged output
    * equals the batch dcard2 on its own oracle: corpus release
    * metadata stays current while ingestion runs.
    */
  def sourceCards(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScore(col("text"))
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(TextAnalysis.tokenCount(col("text")).cast("long"))
        .as("n_tokens"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      collect_set(col("lang")).as("__langs"),
      sum(floor(q * 1000000.0).cast("long")).as("q_micros"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        concat_ws(",", sort_array(col("__langs"))).as("langs"),
        col("q_micros"),
        (col("q_micros").cast("double") /
          (col("n_docs") * lit(1000000L)).cast("double"))
          .as("mean_quality"))
  }

  /** Streaming quality-decile census (qd1's face): the decile is a
    * stateless per-row projection and both aggregates are algebraic,
    * so the census is one Complete-mode streaming agg with ≤10 rows
    * of state — the threshold-calibration readout refreshes while
    * the corpus is still arriving.
    */
  def qualityDeciles(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityScore(col("text"))
    docs
      .select(least(floor(q * 10.0).cast("long"), lit(9L)).as("decile"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("mean_len"))
  }

  /** Streaming repetition cut (rep3's face): the Gopher char-fraction
    * verdicts are DOC-LOCAL (within-doc gram aggregates), so running
    * the batch filter per micro-batch via foreachBatch gives exactly
    * the global answer — no cross-batch state at all, survivor rows
    * accumulate under localCheckpoint. The e27 gate holds the drained
    * union to rep3's own oracle.
    */
  def repetitionCutFold(docStream: DataFrame): DataFrame = {
    var acc: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val kept = graft.quality.Repetition.repetitionFilter(
        batch, "doc_id", "text")
      acc = (if (acc == null) kept else acc.unionAll(kept)).localCheckpoint()
    })
    require(acc != null, "repetitionCutFold: stream delivered no batches")
    acc
  }

  /** Streaming containment-threshold admission (nv2's face): each
    * micro-batch runs the BATCH `TextDedup.containmentAdmit` against
    * the frozen gram store via foreachBatch — admission is per-doc
    * (needs a doc-keyed gram count, which as a streaming aggregation
    * would pin every doc_id in the state store forever; per-batch the
    * state is O(batch) and dies with it). Admitted docs accumulate
    * under localCheckpoint so no plan replays prior batches. Converged
    * output equals the batch admission over the same files — the e25
    * gate holds it to nv2's own oracle.
    */
  def containmentAdmitFold(docStream: DataFrame, store: DataFrame,
                           k: Int = 5): DataFrame = {
    // materialize the frozen store ONCE — without this every
    // micro-batch re-executes the store's plan (a full corpus
    // re-shingle per batch: O(corpus), not O(batch))
    val frozen = store.localCheckpoint()
    var acc: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val adm = graft.dedup.TextDedup.containmentAdmit(
        batch, "doc_id", "text", frozen, k)
      acc = (if (acc == null) adm else acc.unionAll(adm)).localCheckpoint()
    })
    require(acc != null, "containmentAdmitFold: stream delivered no batches")
    acc
  }

  /** Continuous index maintenance — the streaming face of ii6: fold a
    * document stream into a postings store, one
    * [[graft.functions.InvertedIndex.indexAppend]] per micro-batch
    * (first batch bootstraps via `postingsExport`). foreachBatch is
    * the right sink because the store is a cross-batch ARTIFACT, not a
    * row stream: each fold touches only the arriving docs' terms
    * (untouched postings pass through verbatim), and `localCheckpoint`
    * truncates lineage so the plan never replays prior batches — the
    * same discipline as the batch maintainer. Append-only contract:
    * arriving doc_ids must be disjoint from the store's (same as
    * `indexAppend`).
    *
    * Returns the FINAL store after the stream drains; the e22 gate
    * holds it to the one-shot full-corpus oracle — continuous
    * maintenance must equal a clean rebuild.
    */
  def indexAppendFold(docStream: DataFrame, idCol: String,
                      textCol: String, nShards: Int = 8,
                      blockSize: Int = 16): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val next =
        if (store == null)
          graft.functions.InvertedIndex.postingsExport(
            batch, idCol, textCol, nShards, blockSize)
        else
          graft.functions.InvertedIndex.indexAppend(
            store, batch, idCol, textCol, nShards, blockSize)
      store = next.localCheckpoint()
    })
    require(store != null, "indexAppendFold: stream delivered no batches")
    store
  }

  /** Streaming TAKEDOWNS — ii7's face, [[indexAppendFold]]'s other
    * direction (e38): removal batches arrive as the removed documents'
    * (id, text) forward records — the store's deletion contract — and
    * fold through [[graft.functions.InvertedIndex.indexRemove]] one
    * micro-batch at a time. Each fold touches only the arriving docs'
    * terms (untouched postings pass through verbatim, the same
    * O(affected) proof as the batch path); `localCheckpoint` truncates
    * lineage so the plan never replays prior batches. An empty stream
    * legitimately returns the store unchanged (no removals arrived).
    *
    * Returns the FINAL store after the stream drains; the e38 gate
    * holds it to a clean survivor rebuild on ii1's oracle — takedowns
    * during ingestion must equal a from-scratch build without the
    * removed docs.
    */
  def indexRemoveFold(store: DataFrame, removalStream: DataFrame,
                      idCol: String, textCol: String,
                      nShards: Int = 8, blockSize: Int = 16): DataFrame = {
    var acc = store.localCheckpoint()
    EventStream.runForeachBatch(removalStream, (batch, _) => {
      acc = graft.functions.InvertedIndex.indexRemove(
        acc, batch, idCol, textCol, nShards, blockSize).localCheckpoint()
    })
    acc
  }

  /** One (doc_id, payload) binary file per micro-batch — the media
    * sibling of [[readOneFilePerTrigger]], the ingestion cadence for
    * payload-store folds.
    */
  def readPayloadsOneFilePerTrigger(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(payloadSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** Continuous image-hash store maintenance (m13/m14's ingestion
    * face): fold arriving binary payloads into a (doc_id, dhash)
    * store — the expensive decode → 9×8 resize → luma → 64-bit dHash
    * map work runs per micro-batch as images land, so the near-dup
    * pass on the drained store (banding + capped pairing, which needs
    * GLOBAL bucket stats and therefore cannot stream — the e30
    * fold-then-serve split) starts from precomputed hashes. Same
    * accumulate-under-localCheckpoint discipline as
    * [[repetitionCutFold]]: no plan ever replays prior batches, and
    * checkpoint blocks are ContextCleaner-owned (released on GC), so
    * repeated folds in a long-lived session do not grow pinned
    * storage — the r13 cache-hygiene contract, exercised by the spec.
    */
  def dHashFold(payloadStream: DataFrame): DataFrame = {
    var acc: DataFrame = null
    EventStream.runForeachBatch(payloadStream, (batch, _) => {
      val hashed = graft.multimodal.BinaryOps.dHashes(batch).toDF()
      acc = (if (acc == null) hashed else acc.unionAll(hashed))
        .localCheckpoint()
    })
    require(acc != null, "dHashFold: stream delivered no batches")
    acc
  }

  /** Continuous AUDIO-hash store maintenance (m16/m17's ingestion
    * face, e39) — [[dHashFold]] with the WAV decode → frame-energy
    * hash map work: the expensive per-clip decode runs per micro-batch
    * as audio lands; the near-dup pass on the drained store (banding +
    * capped pairing — GLOBAL bucket stats, so it cannot stream) starts
    * from precomputed hashes. Same accumulate-under-localCheckpoint
    * discipline.
    */
  def audioHashFold(payloadStream: DataFrame): DataFrame = {
    var acc: DataFrame = null
    EventStream.runForeachBatch(payloadStream, (batch, _) => {
      val hashed = graft.multimodal.BinaryOps.audioHashes(batch).toDF()
      acc = (if (acc == null) hashed else acc.unionAll(hashed))
        .localCheckpoint()
    })
    require(acc != null, "audioHashFold: stream delivered no batches")
    acc
  }

  /** (vec_id, embedding) schema for staged embedding streams — the
    * vector sibling of [[idTextSchema]] (e35 and its specs).
    */
  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  def readEmbeddingsOneFilePerTrigger(spark: SparkSession,
                                      dir: String): DataFrame =
    spark.readStream.schema(embeddingSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** Streaming k-means assignment (the km-family ingestion face):
    * incoming vectors score against a FROZEN centroid table per
    * micro-batch via [[graft.similarity.Similarity.assignToCentroids]]
    * — the EXACT batch expression tree (rounded distance, cell
    * tiebreak), reused per batch instead of re-spelled, so stream and
    * batch cannot drift (the e32 fold-then-serve discipline).
    * Assignment is a pure row function of (vector, frozen centroids):
    * per-batch results ARE the global answer, no cross-batch state;
    * the fold accumulates (vec_id, cell) under localCheckpoint.
    */
  def kmeansAssignFold(embStream: DataFrame,
                       centroids: DataFrame): DataFrame = {
    var acc: DataFrame = null
    EventStream.runForeachBatch(embStream, (batch, _) => {
      val assigned = graft.similarity.Similarity
        .assignToCentroids(batch, "vec_id", "embedding", centroids)
      // (vec_id, embedding, cell) — the vector rides along so serve
      // phases that need it (e37's prototype ranks) fold once; e35
      // projects it away after the drain
      acc = (if (acc == null) assigned else acc.unionAll(assigned))
        .localCheckpoint()
    })
    require(acc != null, "kmeansAssignFold: stream delivered no batches")
    acc
  }

  /** Streaming semantic decontamination (dc3's ingestion face):
    * incoming vectors are screened against a FROZEN eval probe set
    * per micro-batch by reusing the EXACT batch operator
    * ([[graft.dedup.Decontam.semanticProfile]] — rounded cosine max,
    * τ verdict, probe cap, census preservation), the fold-then-serve
    * discipline. A vector's verdict depends only on (vector, probes),
    * so per-batch results ARE the global answer — zero cross-batch
    * state; contamination is caught DURING ingestion instead of in a
    * post-hoc sweep.
    */
  def semanticDecontamFold(embStream: DataFrame, probes: DataFrame,
                           tau: Double,
                           maxProbes: Int = 100000): DataFrame = {
    // validate + precompute the probe side ONCE, not per micro-batch
    // (the cap check is an eager count job; localCheckpoint pins the
    // tiny validated frame so triggers don't re-derive it)
    val p = graft.dedup.Decontam
      .preparedProbes(probes, "embedding", maxProbes).localCheckpoint()
    var acc: DataFrame = null
    EventStream.runForeachBatch(embStream, (batch, _) => {
      val prof = graft.dedup.Decontam.semanticProfileWith(
        batch, p, "vec_id", "embedding", tau)
      acc = (if (acc == null) prof else acc.unionAll(prof))
        .localCheckpoint()
    })
    require(acc != null, "semanticDecontamFold: stream delivered no batches")
    acc
  }

  /** Streaming face of the IVF-ROUTED semantic decontamination (dc4,
    * e40): incoming vectors assign to the FROZEN trained cells and
    * score against only their probes' cells, per micro-batch, by
    * reusing the exact batch operator — a vector's verdict depends
    * only on (vector, centroids, probes), so per-batch results ARE
    * the global answer, zero cross-batch state. The artifacts are
    * frozen once (the centroids — a local frame from `kmeansTrain` —
    * and the probe frame, both checkpointed) so no trigger re-derives
    * them.
    */
  def semanticDecontamIvfFold(embStream: DataFrame, probes: DataFrame,
                              tau: Double, centroids: DataFrame,
                              nProbe: Int): DataFrame = {
    val p = probes.localCheckpoint()
    val cents = centroids.localCheckpoint()
    var acc: DataFrame = null
    EventStream.runForeachBatch(embStream, (batch, _) => {
      val prof = graft.dedup.Decontam.semanticProfileIvf(
        batch, p, "vec_id", "embedding", tau, cents, nProbe)
      acc = (if (acc == null) prof else acc.unionAll(prof))
        .localCheckpoint()
    })
    require(acc != null, "semanticDecontamIvfFold: stream delivered no batches")
    acc
  }

  /** Streaming MINI-BATCH k-means TRAINING (e41) — the model itself
    * learns as data arrives, unlike e35's frozen-centroid assignment:
    * the FIRST micro-batch seeds the centroids (the hash-keyed
    * deterministic pick, over that batch's vectors) and takes one
    * update; every later batch assigns ITS vectors to the current
    * centroids and merges the batch means in
    * ([[graft.similarity.Similarity.kmeansMiniBatchStep]] — a cell
    * missing from the batch keeps its centroid, the mini-batch
    * convention). Every half is the proven exact fixed-point device,
    * so the whole streamed chain is deterministic given the batch
    * SPLIT — which the e41 gate stages explicitly (vec_id mod 3), and
    * the oracle replays batch-for-batch. localCheckpoint per fold:
    * lineage never replays prior batches. Returns the final model in
    * v7's long form (cell, dim, centroid).
    */
  def kmeansMiniBatchFold(embStream: DataFrame, k: Int, dim: Int): DataFrame = {
    import graft.similarity.Similarity
    import org.apache.spark.sql.expressions.Window
    var cents: DataFrame = null
    EventStream.runForeachBatch(embStream, (batch, _) => {
      if (cents == null) {
        val w = Window.orderBy(col("__h"), col("vec_id"))
        cents = batch.filter(Similarity.scorable(col("embedding")))
          .select(col("vec_id"), col("embedding"))
          .withColumn("__h", md5(col("vec_id").cast("string")))
          .orderBy(col("__h"), col("vec_id")).limit(k)
          .withColumn("cell", (row_number().over(w) - 1).cast("int"))
          .select(col("cell"),
            transform(col("embedding"), x => x.cast("double")).as("centroid"))
          .localCheckpoint()
      }
      cents = Similarity.kmeansMiniBatchStep(batch, "vec_id", "embedding",
        cents, dim).localCheckpoint()
    })
    require(cents != null, "kmeansMiniBatchFold: stream delivered no batches")
    cents.select(col("cell"), posexplode(col("centroid")))
      .select(col("cell"), (col("pos") + 1).cast("int").as("dim"),
        col("col").as("centroid"))
  }

  /** STREAMING IVFADC ingestion (e45) — the ANN index-maintenance
    * face: vectors arrive as micro-batches and APPEND into the
    * persisted index against its FROZEN quantizer pair
    * ([[graft.similarity.ProductQuant.appendToIvfPqResidual]]) —
    * O(batch) per trigger, cell partitions of the base corpus never
    * re-read (e38's O(affected) discipline on the vector side).
    * Assignment and residual encoding are pure row functions of the
    * frozen quantizers, so the drained index equals a ONE-SHOT frozen
    * build over everything that arrived — v24's invariant, streamed.
    * Returns the drained codes table.
    */
  def ivfAdcAppendFold(embStream: DataFrame, indexDir: String): DataFrame = {
    val spark = embStream.sparkSession
    // the quantizer pair is frozen by construction — load it ONCE
    // before the stream instead of two parquet reads + a codebook
    // collect per micro-batch
    val centroids = spark.read
      .parquet(s"$indexDir/ivf/centroids").localCheckpoint()
    val cb = graft.similarity.ProductQuant.loadPqCodebook(
      spark, s"$indexDir/pq")
    EventStream.runForeachBatch(embStream, (batch, _) => {
      graft.similarity.ProductQuant.appendToIvfPqResidualWith(
        indexDir, batch, "vec_id", "embedding", centroids, cb)
    })
    spark.read.parquet(s"$indexDir/pq/codes")
  }

  /** STREAMING Kneser–Ney scoring (e44) — the LM family's ingestion
    * face: the KN model (four count frames) freezes BEFORE the stream
    * (materialized once — [[graft.functions.TextAnalysis.kneserNeyModel]]);
    * each arriving micro-batch scores against it with the exact batch
    * operator. Scoring is a pure per-doc function of (doc, model), so
    * per-batch results ARE the global answer — the union folds with
    * no cross-batch state and the gate is held to t15's own oracle.
    */
  def kneserNeyScoreFold(docStream: DataFrame,
                         model: graft.functions.TextAnalysis.KnModel): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val scored = graft.functions.TextAnalysis.kneserNeyScore(
        batch, "doc_id", "text", model)
      store = (if (store == null) scored else store.unionByName(scored))
        .localCheckpoint()
    })
    require(store != null, "kneserNeyScoreFold: stream delivered no batches")
    store
  }

  /** STREAMING WordPiece encoding (e48): tokenization under a frozen
    * vocabulary is a pure per-doc function (the greedy longest-match
    * loop memoizes per distinct word WITHIN each batch), so per-batch
    * outputs union to exactly the batch answer — held to tk33's own
    * oracle. The e18/e44 fold shape.
    */
  def wordPieceFold(docStream: DataFrame,
                    vocab: Seq[String]): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val enc = graft.functions.WordPiece.tokenizeDocs(
        batch, "doc_id", "text", vocab)
      store = (if (store == null) enc else store.unionByName(enc))
        .localCheckpoint()
    })
    require(store != null, "wordPieceFold: stream delivered no batches")
    store
  }

  /** STREAMING WordPiece vocabulary TRAINING (e49) — the e43 recipe
    * on the WordPiece objective: the word census folds per
    * micro-batch into an exact (word, count) store (order-free int64
    * sums; the census spelling is [[graft.functions.WordPiece
    * .wordCountsOfCol]], shared with the batch trainer so the two
    * cannot drift), and [[graft.functions.WordPiece
    * .trainOnWordCounts]] serves from the drained census —
    * fold-then-serve because the score argmax is a global vocabulary
    * statistic. The drained census equals the one-shot census
    * exactly, so the merge sequence is byte-identical to tk35's.
    * Emits (rank, x, y).
    */
  def wordPieceTrainFold(docStream: DataFrame, nMerges: Int): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val wc = graft.functions.WordPiece.wordCountsOfCol(batch, "text")
      store = (if (store == null) wc
               else store.unionByName(wc)
                 .groupBy(col("__w")).agg(sum(col("f")).as("f")))
        .localCheckpoint()
    })
    require(store != null,
      "wordPieceTrainFold: stream delivered no batches")
    val spark = store.sparkSession
    import spark.implicits._
    graft.functions.WordPiece.trainOnWordCounts(store, nMerges)
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("rank", "x", "y")
  }

  /** STREAMING soft-EM census (e50) — tk34's ingestion face, the
    * e43/e49 fold-then-serve recipe on the forward–backward census:
    * the word census folds per micro-batch into an exact
    * (word, count) store (order-free int64 sums; the census spelling
    * is [[graft.functions.Unigram.wordFreqs]], SHARED with the batch
    * face so the two cannot drift), and [[graft.functions.Unigram
    * .softCensusOnWordFreqs]] serves from the drained store. The
    * per-word quantized expectation is a pure function of (word,
    * frozen vocab), so the drained census yields the one-shot census
    * exactly — fold-then-serve because the census spans the whole
    * corpus vocabulary.
    */
  def softCensusFold(docStream: DataFrame,
                     vocab: Seq[(String, Long)]): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val wc = graft.functions.Unigram.wordFreqs(batch, "text")
        .toDF("__w", "f")
      store = (if (store == null) wc
               else store.unionByName(wc)
                 .groupBy(col("__w")).agg(sum(col("f")).as("f")))
        .localCheckpoint()
    })
    require(store != null, "softCensusFold: stream delivered no batches")
    graft.functions.Unigram.softCensusOnWordFreqs(store, vocab)
  }

  /** STREAMING trigram-KN scoring (e47) — [[kneserNeyScoreFold]] one
    * n-gram order up: the six count frames freeze BEFORE the stream
    * (localCheckpoint inside [[graft.functions.TextAnalysis
    * .kneserNeyTrigramModel]] — the train corpus is scanned once, not
    * per micro-batch), and each batch scores with the exact batch
    * operator. Scoring is a pure per-doc function of (doc, model), so
    * per-batch scores ARE the global scores — held to t16's own
    * oracle.
    */
  def kneserNeyTrigramScoreFold(docStream: DataFrame,
                                model: graft.functions.TextAnalysis.KnTrigramModel): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val scored = graft.functions.TextAnalysis.kneserNeyTrigramScore(
        batch, "doc_id", "text", model)
      store = (if (store == null) scored else store.unionByName(scored))
        .localCheckpoint()
    })
    require(store != null,
      "kneserNeyTrigramScoreFold: stream delivered no batches")
    store
  }

  /** STREAMING modified-KN scoring (e51) — [[kneserNeyScoreFold]]
    * under the Chen–Goodman three-discount model: the five count
    * frames (incl. the 1-row counts-of-counts the discounts derive
    * from) freeze BEFORE the stream; each batch scores with the exact
    * batch operator, a pure per-doc function of (doc, model) — held
    * to t17's own oracle.
    */
  def kneserNeyModifiedScoreFold(docStream: DataFrame,
                                 model: graft.functions.TextAnalysis.KnModifiedModel): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val scored = graft.functions.TextAnalysis.kneserNeyModifiedScore(
        batch, "doc_id", "text", model)
      store = (if (store == null) scored else store.unionByName(scored))
        .localCheckpoint()
    })
    require(store != null,
      "kneserNeyModifiedScoreFold: stream delivered no batches")
    store
  }

  /** STREAMING perplexity bucketing (e52) — the CCNet quality tagger
    * as an ingestion pipeline: each micro-batch scores against the
    * frozen modified-KN model (pure per-doc — the e51 fold), scores
    * fold into a store, and the per-language TERCILE tagging serves
    * from the drained store — fold-then-serve because the thresholds
    * are global order statistics of the whole corpus's score
    * distribution (a per-batch tercile would tag against a drifting
    * threshold). Held to cx5's own oracle.
    */
  def pplBucketsFold(docStream: DataFrame,
                     model: graft.functions.TextAnalysis.KnModifiedModel): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val scored = graft.functions.TextAnalysis.kneserNeyModifiedScore(
        batch, "doc_id", "text", model)
        .join(batch.select(col("doc_id"), col("lang")), Seq("doc_id"))
      store = (if (store == null) scored else store.unionByName(scored))
        .localCheckpoint()
    })
    require(store != null, "pplBucketsFold: stream delivered no batches")
    graft.quality.Perplexity.bucketize(store, "mean_logscore",
      "doc_id", "lang", exact = true)
  }

  /** STREAMING modified-trigram-KN scoring (e53) — [[
    * kneserNeyModifiedScoreFold]] one n-gram order up: the eight
    * frames (incl. both counts-of-counts rows) freeze before the
    * stream; each batch scores with the exact batch operator (pure
    * per-doc) — held to t18's own oracle.
    */
  def kneserNeyModTrigramScoreFold(docStream: DataFrame,
                                   model: graft.functions.TextAnalysis.KnModTrigramModel): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      val scored = graft.functions.TextAnalysis.kneserNeyModTrigramScore(
        batch, "doc_id", "text", model)
      store = (if (store == null) scored else store.unionByName(scored))
        .localCheckpoint()
    })
    require(store != null,
      "kneserNeyModTrigramScoreFold: stream delivered no batches")
    store
  }

  /** STREAMING BPE vocabulary training (e43) — the batched trainer's
    * ingestion face: per micro-batch the expensive corpus work (token
    * explode + word census) folds into an exact (word, count) store
    * (order-free int64 sums — no pinned mtimes needed, the e22/e32
    * discipline), and the BATCHED merge-selection trainer
    * ([[graft.functions.Bpe.trainBytesBatchedOnCounts]] — tk31's
    * maximal-safe-prefix rule, so the streamed build gets tk31's
    * rounds-per-merge latency, not one census job per merge) serves
    * from the drained census. Fold-then-serve because merge selection
    * is a global argmax over the whole vocabulary; the drained census
    * equals the one-shot batch census exactly, so the merge sequence
    * is byte-identical to tk31's own (the gate borrows tk31's oracle).
    * Emits (rank, x, y).
    */
  def bpeTrainBatchedFold(docStream: DataFrame, nMerges: Int,
                          batchCap: Int = 32): DataFrame = {
    var store: DataFrame = null
    EventStream.runForeachBatch(docStream, (batch, _) => {
      // the BATCH trainer's own census spelling (Bpe.wordCountsOfCol)
      // — never re-implemented here, so the stream cannot drift from
      // the tk31 oracle it is held to
      val wc = graft.functions.Bpe.wordCountsOfCol(batch, "text")
      store = (if (store == null) wc
               else store.unionByName(wc)
                 .groupBy(col("__w")).agg(sum(col("f")).as("f")))
        .localCheckpoint()
    })
    require(store != null, "bpeTrainBatchedFold: stream delivered no batches")
    val spark = store.sparkSession
    import spark.implicits._
    graft.functions.Bpe.trainBytesBatchedOnCounts(store, nMerges, batchCap)
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("rank", "x", "y")
  }

  /** [[kmeansMiniBatchFold]]'s COUNT-WEIGHTED sibling (e42) — the
    * Sculley update via [[graft.similarity.Similarity.kmeansMiniBatchStepWeighted]]:
    * batch 0 seeds (hash-keyed pick, count 0) and every batch folds
    * its fixed-point sums and counts into the cumulative state, so a
    * cell's centroid is the exact mean of EVERYTHING it ever absorbed
    * rather than the last batch's mean. Emits the final
    * (cell, dim, centroid, n) — n witnesses the weighting. The chain
    * is order-sensitive: sources must stage with pinned mtimes.
    */
  def kmeansMiniBatchWeightedFold(embStream: DataFrame, k: Int,
                                  dim: Int): DataFrame = {
    import graft.similarity.Similarity
    import org.apache.spark.sql.expressions.Window
    var state: DataFrame = null
    EventStream.runForeachBatch(embStream, (batch, _) => {
      if (state == null) {
        val w = Window.orderBy(col("__h"), col("vec_id"))
        val seeds = batch.filter(Similarity.scorable(col("embedding")))
          .select(col("vec_id"), col("embedding"))
          .withColumn("__h", md5(col("vec_id").cast("string")))
          .orderBy(col("__h"), col("vec_id")).limit(k)
          .withColumn("cell", (row_number().over(w) - 1).cast("int"))
          .select(col("cell"),
            transform(col("embedding"), x => x.cast("double")).as("centroid"))
        state = Similarity.kmeansWeightedInit(seeds, dim).localCheckpoint()
      }
      state = Similarity.kmeansMiniBatchStepWeighted(batch, "vec_id",
        "embedding", state, dim).localCheckpoint()
    })
    require(state != null,
      "kmeansMiniBatchWeightedFold: stream delivered no batches")
    // emission derives from the SAME expression the chain assigned
    // against (kmeansWeightedCentroids) — never a re-inlined copy
    // that could drift from it
    Similarity.kmeansWeightedCentroids(state)
      .join(state.select(col("cell"), col("n")), Seq("cell"))
      .select(col("cell"), col("n"), posexplode(col("centroid")))
      .select(col("cell"), (col("pos") + 1).cast("int").as("dim"),
        col("col").as("centroid"), col("n"))
  }
}
