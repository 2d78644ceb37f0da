package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline and
  * a sign-bit LSH-bucketed variant as the scale path.
  *
  * Scale shape:
  *  - query vectors are broadcast (they're the small side by
  *    construction), so the candidate scan is a single pass with no
  *    candidate-side shuffle;
  *  - top-k selection uses [[graft.functions.TopKStructs]] (native
  *    TypedImperativeAggregate, r18 — [[TopKAgg]] is kept as the
  *    semantic reference for parity tests) with a bounded buffer, so
  *    the heavy reduction happens map-side (partial aggregation) and
  *    only k rows per query cross the wire — a `Window`+`row_number`
  *    formulation would shuffle every scored row;
  *  - the LSH variant buckets both sides on sign bits of fixed
  *    dimensions (bit-sampling LSH for cosine), turning the cross
  *    product into an equi-join Catalyst can shuffle-partition; recall
  *    is tunable via the number of sampled dimensions.
  *
  * Cross-engine discipline: dot products are left-fold double sums in
  * array order (`aggregate` over `zip_with`), which DuckDB reproduces
  * with `list_reduce`/`list_transform`; similarity values are rounded
  * (away from any representable tie) only for rank tie-breaking.
  */
object Similarity {

  /** Deterministic left-fold dot product in double precision —
    * codegen'd custom expression (see [[graft.functions.DotProduct]]);
    * bit-identical to the HOF fold it replaced.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dot_product(a, b)

  /** The interpreted HOF formulation, kept as the semantic reference
    * for parity tests.
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Scorable-vector gate applied at every cosine entry point: the
    * vector must be non-null, non-empty, finite, and of nonzero norm.
    * Crawl-scale embedding tables carry all four defect classes, and
    * ungated they are not merely noise: a null vector FABRICATES a
    * 0.0 similarity (null dot) and claims a top-k slot, an empty one
    * crashes [[signBucket]]'s element_at, a NaN component ranks FIRST
    * under descending sort (NaN compares greatest), and a zero vector
    * divides to NaN. An unembeddable document has no neighbors —
    * dropping it from similarity results is the correct semantics.
    */
  def scorable(vec: Column): Column = {
    val nrm2 = dot(vec, vec)
    vec.isNotNull && size(vec) > 0 && !isnan(nrm2) && nrm2 > 0
  }

  /** Sign-bit LSH bucket key over `dims` (0-based) — equal keys =
    * same orthant on the sampled axes.
    */
  def signBucket(emb: Column, dims: Seq[Int]): Column =
    concat(dims.map(d => when(element_at(emb, d + 1) >= 0, "1").otherwise("0")): _*)

  /** Bounded top-k partial aggregator over (score, id) pairs; keeps the
    * k largest by (score, then id) — map-side combinable. Since r18 the
    * serving paths aggregate with the native [[graft.functions
    * .TopKStructs]] instead (no per-row encoder); this Aggregator stays
    * as the semantic reference the parity spec holds it to (the
    * [[dotFold]] discipline).
    */
  class TopKAgg(k: Int) extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
    // amortized compaction: appends are O(1) and the buffer is trimmed
    // back to k only when it reaches `cap`, so the per-row cost is
    // O(log k) amortized instead of a full O(k log k) sort per input
    // row — at k=1000 the difference between usable and not. Top-k is
    // a selection, so compaction timing cannot change the result.
    private val cap = math.max(4 * k, 64)
    private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
      s.sortBy { case (sc, id) => (-sc, id) }.take(k)
    def zero: Seq[(Double, Long)] = Seq.empty
    def reduce(b: Seq[(Double, Long)], a: (Double, Long)): Seq[(Double, Long)] = {
      val grown = b :+ a
      if (grown.length >= cap) trim(grown) else grown
    }
    def merge(b1: Seq[(Double, Long)], b2: Seq[(Double, Long)]): Seq[(Double, Long)] = {
      val grown = b1 ++ b2
      if (grown.length >= cap) trim(grown) else grown
    }
    def finish(r: Seq[(Double, Long)]): Seq[(Double, Long)] = trim(r)
    def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    def outputEncoder: Encoder[Seq[(Double, Long)]] = bufferEncoder
  }

  /** Brute-force exact top-k neighbors for `queryIds` (self excluded).
    * Output: query_id, neighbor_id, cos_sim (rounded to 6 dp for rank
    * stability), rn 1..k.
    */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int): DataFrame =
    scoreAllPairsTopK(emb.filter(scorable(col(vecCol))), idCol, vecCol,
      queryIds, k)

  /** The shared brute-force scoring contract for the float and int8
    * paths: broadcast the query side, precompute norms once per side
    * (not per pair), score `round(cos, 6)` for rank stability, reduce
    * map-side to k per query. One implementation so the rounding /
    * tiebreak contract the oracles depend on cannot diverge per path.
    */
  /** Hard-negative mining for contrastive/embedding training: per
    * query, the top-k most-similar corpus vectors whose similarity
    * stays BELOW `posThreshold` — near-dups and positives (the planted
    * ≥ 0.9 variants, the doc itself) are excluded, leaving the
    * highest-scoring true negatives, which is exactly the batch a
    * hard-negative sampler feeds a bi-encoder. Identical scoring
    * contract to [[bruteForceTopK]] (rounded cos, map-side top-k);
    * the threshold is applied to the 6-dp-rounded score on both
    * engines so the boundary cannot straddle an ulp. Swap the
    * brute-force scorer for the IVF/LSH candidate paths at corpus
    * scale — the filter composes with any of them.
    */
  def hardNegatives(emb: DataFrame, idCol: String, vecCol: String,
                    queryIds: Seq[Long], k: Int,
                    posThreshold: Double = 0.9): DataFrame =
    topK(scoreAllPairs(emb.filter(scorable(col(vecCol))), idCol, vecCol,
      queryIds).filter(col("cos_sim") < lit(posThreshold)), k)

  private def scoreAllPairsTopK(emb: DataFrame, idCol: String, vecCol: String,
                                queryIds: Seq[Long], k: Int): DataFrame =
    topK(scoreAllPairs(emb, idCol, vecCol, queryIds), k)

  private def scoreAllPairs(emb: DataFrame, idCol: String, vecCol: String,
                            queryIds: Seq[Long]): DataFrame = {
    // PRECONDITION: every vector is already scorable — the gate lives
    // at the public entry points where vecCol is a SCAN attribute, so
    // the predicate pushes to the scan and codegen CSE makes it one
    // dot per row. Do NOT filter here: when vecCol is a computed
    // column (the RP path's 32-dot-product array), Catalyst's filter
    // pushdown re-substitutes the array expression into the predicate
    // and re-evaluates the whole projection per reference — measured
    // 5–9.6× on ann_rp before this was moved out.
    val q = emb.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        l2norm(col(vecCol)).as("q_nrm"))
    val c = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      l2norm(col(vecCol)).as("c_nrm"))
    // size equality: zip_with/the dot fold TRUNCATE to the shorter
    // operand, so a dimension-skewed row would score a silently wrong
    // partial dot instead of failing
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") &&
          size(col("c_vec")) === size(col("q_vec")))
      .withColumn("cos_sim",
        round(dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 6))
    scored
  }

  /** Retrieval-quality evaluation of an approximate top-k result
    * against exact ground truth — the eval harness every ANN artifact
    * ships with. Inputs are two (query_id, rn, neighbor_id, …) frames
    * (e.g. [[bruteForceTopK]] as `truth`, [[lshTopK]]/[[ivfTopKIndexed]]
    * as `system`). Per query: `n_hits` = |system ∩ truth| (recall@k's
    * numerator), `first_hit_rank` = the system rank of the first true
    * neighbor (0 = total miss), and `rr60` = 60/first_hit_rank — the
    * reciprocal rank scaled by lcm(1..5) so it stays an exact int64
    * (MRR = avg(rr60)/60; float 1/rank sums would be
    * partition-order-sensitive, integers are not). Two joins on
    * (query, neighbor), one agg — eval cost is O(k·queries), nothing
    * touches the corpus.
    */
  def retrievalEval(truth: DataFrame, system: DataFrame): DataFrame = {
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val s = system.select(col("query_id"), col("rn"), col("neighbor_id"))
    val perQ = s.join(t, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("rn")).cast("long").as("first_hit_rank"))
    t.select(col("query_id")).distinct()
      .join(perQ, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("first_hit_rank"), lit(0L)).as("first_hit_rank"),
        // rr60 = floor(60/rank): exact lcm(1..5) scaling for ranks <= 6
        // (divisors of 60 divide exactly, floor is identity), explicit
        // floor beyond — Spark's long cast TRUNCATES while DuckDB's
        // rounds, so without the floor any k > 6 caller got a silent
        // cross-engine divergence (60/7 -> 8 vs 9). Floor of a double
        // quotient of small exact ints is bit-identical on both engines.
        when(col("first_hit_rank").isNull, lit(0L))
          .otherwise(floor(lit(60.0) / col("first_hit_rank")).cast("long"))
          .as("rr60"))
  }

  /** LSH-bucketed ANN: identical contract to [[bruteForceTopK]] but
    * only candidates sharing the query's sign bucket are scored.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int, dims: Seq[Int]): DataFrame = {
    val withBucket = emb.filter(scorable(col(vecCol)))
      .withColumn("bucket", signBucket(col(vecCol), dims))
    val q = withBucket.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), col("bucket"),
        l2norm(col(vecCol)).as("q_nrm"))
    val c = withBucket.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      col("bucket"), l2norm(col(vecCol)).as("c_nrm"))
    val scored = c.join(broadcast(q), "bucket")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        round(dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 6))
    topK(scored, k)
  }

  private[similarity] def topK(scored: DataFrame, k: Int): DataFrame = {
    // Native TypedImperativeAggregate (r18): the previous
    // udaf(TopKAgg) path deserialized EVERY scored (cos_sim, id) row
    // through an ExpressionEncoder into a boxed Tuple2 and appended to
    // an immutable Seq — per-row encoder work on the candidate-scan
    // hot path of the whole ANN ladder. [[graft.functions.TopKStructs]]
    // (the GroupTopK aggregate) updates InternalRows directly with a
    // bounded 2k buffer. ORDER CONTRACT unchanged — k largest by
    // (cos_sim DESC, neighbor_id ASC), spelled as descending
    // lexicographic order on (cos_sim, −neighbor_id, neighbor_id):
    // the negated id inverts the tiebreak direction and the raw id
    // rides along for output (it never decides — field 2 already did).
    // Selection and emission order are bit-identical to TopKAgg's
    // (SimilaritySpec pins the parity).
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKStructs.top_k_structs(
        struct(col("cos_sim"), (-col("neighbor_id")).as("__negid"),
          col("neighbor_id")), k, descending = true).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rn"),
        col("col.neighbor_id").as("neighbor_id"),
        col("col.cos_sim").as("cos_sim"))
  }

  /** IVF (inverted-file) ANN: a KMeans coarse quantizer partitions the
    * corpus into `nCentroids` cells; each query probes only its
    * `nProbe` nearest cells. The candidate side is scanned once with an
    * equi-join on cell id (shuffle keyed by cell — balanced because
    * KMeans balances mass), so cost scales with corpus/nCentroids ×
    * nProbe instead of the full corpus. Recall is tunable via nProbe.
    * Not oracle-gated (KMeans centers are not cross-engine
    * reproducible); recall is asserted against brute force in tests.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int, nCentroids: Int, nProbe: Int,
              seed: Long = 42L): DataFrame =
    ivfTopKIndexed(buildIvf(emb, idCol, vecCol, nCentroids, seed),
      idCol, vecCol, queryIds, k, nProbe)

  /** A built IVF index: the cell-assigned corpus plus the centroid
    * table. Both are plain DataFrames so the index persists as two
    * parquet writes ([[saveIvf]]/[[loadIvf]]) — the KMeans training
    * cost is paid once at ingest, like [[quantizeInt8]]'s staging.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  /** Train the coarse quantizer and assign every vector to its cell. */
  def buildIvf(emb: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int, seed: Long = 42L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    import spark.implicits._
    val withVec = emb.filter(scorable(col(vecCol))).withColumn("__fv",
      array_to_vector(transform(col(vecCol), x => x.cast("double")))).cache()
    val model = new KMeans().setK(nCentroids).setSeed(seed)
      .setFeaturesCol("__fv").fit(withVec)
    val assigned = model.transform(withVec)
      .select(col(idCol), col(vecCol), col("prediction").as("cell"))
    // the cache served KMeans' iterations; release it here — consumers
    // of `assigned` pay one map-only re-derivation per materialization
    // (no shuffle in the lineage), and a long-lived session never
    // accumulates per-build cached corpora (r13 hygiene item)
    withVec.unpersist()
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    IvfIndex(assigned, centroids)
  }

  /** Deterministic coarse quantizer: the centroids are the embeddings
    * of the `nCentroids` vectors with the smallest
    * `md5(cast(id as string))` (random-sample init, made DATA-KEYED:
    * any engine — or any rebuild after a repartition — derives the
    * identical quantizer, which is what lets the full IVF top-k be
    * oracle-gated, unlike KMeans centers). Assignment is
    * argmin_cell round(c·c − 2·v·c, 6) with cell-id tiebreak
    * ([[assignToCentroids]]: one row-local kernel over the broadcast
    * centroid matrix — no window, no shuffle).
    * Trades cluster quality for reproducibility versus [[buildIvf]];
    * cell balance comes from the sample being hash-uniform.
    */
  def buildIvfHashInit(emb: DataFrame, idCol: String, vecCol: String,
                       nCentroids: Int): IvfIndex = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__h"), col(idCol))
    val clean = emb.filter(scorable(col(vecCol)))
    val cents = clean.select(col(idCol), col(vecCol))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .orderBy(col("__h"), col(idCol)).limit(nCentroids)
      // 16-row frame: the unpartitioned window is the cheap, right call
      .withColumn("cell", (row_number().over(w) - 1).cast("int"))
      .select(col("cell"),
        transform(col(vecCol), x => x.cast("double")).as("centroid"))
    IvfIndex(assignToCentroids(clean, idCol, vecCol, cents), cents)
  }

  /** Assign vectors to a FROZEN centroid table — the pure row function
    * at the heart of [[buildIvfHashInit]], exposed so incremental
    * index maintenance (append new crawl rows against the persisted
    * quantizer, no refit) assigns by exactly the same rounding and
    * tie rules as the original build. Argmin_cell
    * round(c·c − 2·v·c, 6) with cell-id tiebreak, computed row-locally
    * by [[graft.functions.NearestCentroid]]: the k centroid rows are
    * collected (model-sized; free on a local frame) and ship as one
    * broadcast matrix, so assignment is one narrow projection — no
    * join, no exchange. Output: (idCol, vecCol, cell).
    */
  def assignToCentroids(emb: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame =
    assignWith(emb.filter(scorable(col(vecCol))), idCol, vecCol,
      graft.functions.CentroidMatrix.collect(centroids))

  private def assignWith(clean: DataFrame, idCol: String, vecCol: String,
                         m: graft.functions.CentroidMatrix): DataFrame = {
    val bc = clean.sparkSession.sparkContext.broadcast(m)
    clean.select(col(idCol), col(vecCol),
      graft.functions.NearestCentroid.nearest_centroid(col(vecCol), bc).as("cell"))
  }

  /** Persist / reload the index (cell-partitioned corpus copy: probing
    * a cell then reads only that cell's files — partition pruning does
    * the candidate selection).
    */
  def saveIvf(idx: IvfIndex, dir: String): Unit = {
    // REBALANCE on the partition key before the partitioned write
    // (guide §6): without it every one of the session's shuffle
    // partitions writes a sliver into every cell directory — 32
    // partitions × 16 cells = up to 512 tiny files at bench scale,
    // paid again by every reader's file listing/opens (the serving
    // path). The AQE rebalance is scale-adaptive: it coalesces to
    // ~one file per cell when cells are small and SPLITS oversized
    // cells at advisoryPartitionSizeInBytes when they are not — a
    // plain repartition("cell") would write one unbounded file per
    // cell at 100 TB. Row content is unchanged; readers see the same
    // table.
    idx.assigned.hint("rebalance", col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assigned")
    idx.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }
  def loadIvf(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$dir/assigned"),
      spark.read.parquet(s"$dir/centroids"))

  /** Probe-and-score over a built index. */
  def ivfTopKIndexed(idx: IvfIndex, idCol: String, vecCol: String,
                     queryIds: Seq[Long], k: Int, nProbe: Int): DataFrame = {
    val assigned = idx.assigned
    val centroids = idx.centroids

    // probe selection: nProbe nearest centroids per query (cheap —
    // queries × nCentroids rows)
    val q = assigned.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    // rounded + cell-tiebroken (house float-rank rule) so probe choice
    // is reproducible cross-engine for the oracle-gated hash-init index
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("d2", round(dot(col("centroid"), col("centroid"))
        - lit(2.0) * dot(col("q_vec"), col("centroid")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))
    val probeSet = probes
      .withColumn("pr", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("q_vec"), l2norm(col("q_vec")).as("q_nrm"), col("cell"))

    val c = assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      col("cell"), l2norm(col(vecCol)).as("c_nrm"))
    val scored = c.join(broadcast(probeSet), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim",
        round(dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 6))
    topK(scored, k)
  }

  /** Int8 symmetric per-vector quantization: q = round(x·127 / max|x|),
    * stored as `array<tinyint>` plus a per-vector double scale — 4× less
    * memory and bandwidth than float32. The 100 TB point: ANN candidate
    * scans are memory-bandwidth-bound, so int8 quadruples the corpus an
    * executor streams per second and the vectors one broadcast batch can
    * carry. Cosine needs no de-quantization at all — the per-vector
    * scales cancel in the ratio; the scale column exists for raw
    * dot-product consumers.
    */
  def quantizeInt8(emb: DataFrame, vecCol: String,
                   qVecCol: String = "qvec", scaleCol: String = "qscale"): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    emb.withColumn(scaleCol,
        when(maxAbs > 0, maxAbs / lit(127.0)).otherwise(lit(1.0)))
      .withColumn(qVecCol,
        transform(col(vecCol),
          x => round(x.cast("double") / col(scaleCol)).cast("tinyint")))
  }

  /** ANN top-k over the int8-quantized corpus: identical contract to
    * [[bruteForceTopK]], scores computed directly on the tinyint
    * vectors ([[graft.functions.DotProduct]] reads bytes natively —
    * int8 values are exactly representable in double, so the fold is
    * deterministic). Recall vs the float baseline is gated in
    * `v8_int8_recall` / SimilaritySpec.
    */
  def int8TopK(emb: DataFrame, idCol: String, vecCol: String,
               queryIds: Seq[Long], k: Int): DataFrame =
    int8TopKQuantized(quantizeInt8(emb, vecCol), idCol, queryIds, k)

  /** Scoring-only int8 ANN over an ALREADY-quantized corpus (the
    * production shape: quantize once at ingest — see
    * [[quantizeInt8]] — score many times). Same scorer as the float
    * path, pointed at the tinyint column.
    */
  def int8TopKQuantized(qz: DataFrame, idCol: String,
                        queryIds: Seq[Long], k: Int,
                        qVecCol: String = "qvec"): DataFrame =
    scoreAllPairsTopK(qz.filter(scorable(col(qVecCol))), idCol, qVecCol,
      queryIds, k)

  /** Johnson–Lindenstrauss sign matrix, outDim rows × inDim columns of
    * ±1/√outDim. Entries derive from md5 parity of "rp:row:col" — a
    * pure function of the indices, so the projection is reproducible
    * across sessions, engines, and retries with no RNG state to ship
    * (same determinism discipline as the md5 hash gates). Sign (±1)
    * projections satisfy the JL lemma like Gaussian ones (Achlioptas
    * 2003) and keep every multiply a flip.
    */
  def projectionSigns(inDim: Int, outDim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    Array.tabulate(outDim) { r =>
      Array.tabulate(inDim) { j =>
        val h = md.digest(s"rp:$r:$j".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) scale else -scale
      }
    }
  }

  /** Project `vecCol` (inDim floats) to outDim doubles: one codegen'd
    * [[graft.functions.DotProduct]] per output dimension against a
    * literal sign row — no HOF lambdas, no shuffle, the matrix rides
    * into the task as plan literals (outDim·inDim doubles, trivially
    * broadcast-sized).
    */
  def randomProject(emb: DataFrame, vecCol: String, inDim: Int, outDim: Int,
                    outCol: String): DataFrame = {
    require(outDim > 0 && outDim <= inDim,
      s"outDim must be in [1, inDim=$inDim], got $outDim")
    val signs = projectionSigns(inDim, outDim)
    emb.withColumn(outCol, array(signs.map(row => dot(col(vecCol), lit(row))): _*))
  }

  /** ANN top-k in the random-projected space: identical contract to
    * [[bruteForceTopK]] but every distance costs outDim/inDim as much
    * (and the corpus scan moves outDim/inDim the bytes — compression
    * that COMPOSES with int8: project once at ingest, quantize the
    * projection). Recall vs the float baseline is gated in
    * `v9_rp_recall` / SimilaritySpec.
    */
  def rpTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryIds: Seq[Long], k: Int, inDim: Int, outDim: Int): DataFrame = {
    // gate the RAW vectors before projecting (scan-level, CSE'd); a
    // finite nonzero input projects to a finite vector, so the scorer
    // needs no gate on the computed __rp column (see scoreAllPairsTopK)
    val proj = randomProject(emb.filter(scorable(col(vecCol))),
        vecCol, inDim, outDim, "__rp")
      .select(col(idCol), col("__rp"))
    scoreAllPairsTopK(proj, idCol, "__rp", queryIds, k)
  }

  /** Two-stage RP ANN — the production shape for compressed-domain
    * search: stage 1 takes the projected top-`candidateK` per query
    * (outDim/inDim of the scan bandwidth and FLOP cost), stage 2
    * re-ranks ONLY those candidates with exact full-dimension cosine.
    * End-to-end recall@k equals the containment of the true top-k in
    * the projected top-candidateK (re-ranking recovers exactly the
    * true members present), so candidateK is the recall dial the way
    * nProbe is for IVF — measured on the (worst-ish case, weakly
    * structured) synthetic fixtures at k=5, outDim=32, candidateK=50:
    * 0.70 at sf0.001, 0.72 at sf0.01; gated ≥ 0.5 in `v9_rp_recall`.
    *
    * Scale shape: the candidate list (queries × candidateK ids) is
    * broadcast-joined back against the corpus, so the full-dim
    * re-rank scans the big side in place — no corpus shuffle in
    * either stage.
    */
  def rpRerankTopK(emb: DataFrame, idCol: String, vecCol: String,
                   queryIds: Seq[Long], k: Int, inDim: Int, outDim: Int,
                   candidateK: Int): DataFrame = {
    require(candidateK >= k, s"candidateK=$candidateK must be >= k=$k")
    val cands = rpTopK(emb, idCol, vecCol, queryIds, candidateK, inDim, outDim)
      .select(col("query_id"), col("neighbor_id"))
    // raw-attribute gate (scan-level, CSE'd — see scoreAllPairsTopK)
    val clean = emb.filter(scorable(col(vecCol)))
    val q = clean.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        l2norm(col(vecCol)).as("q_nrm"))
    val c = clean.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      l2norm(col(vecCol)).as("c_nrm"))
    val scored = c.join(broadcast(cands.join(q, "query_id")), "neighbor_id")
      .withColumn("cos_sim",
        round(dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")), 6))
    topK(scored, k)
  }

  /** Near-duplicate pairs by embedding cosine within LSH buckets.
    *
    * Scale guard (same contract as `TextDedup.candidatePairs`): a
    * bucket of m near-identical vectors would emit m(m-1)/2 scored
    * pairs under the plain self-join — quadratic in the duplicate
    * cluster, which AQE rebalances but cannot shrink. Buckets larger
    * than `bucketCap` therefore emit STAR pairs only: each member
    * scored against the bucket's min-id representative (m-1 pairs);
    * a downstream connected-components pass recovers the full group
    * transitively. Bucket stats are one partial-combining aggregation
    * on the bucket key the join already shuffles on, and the bucketed
    * table is cached so its lineage runs once across the consumers.
    */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, dims: Seq[Int],
                   bucketCap: Int = graft.dedup.TextDedup.DefaultBucketCap): DataFrame =
    cosPairsInBuckets(emb.filter(scorable(col(vecCol)))
        .withColumn("bucket", signBucket(col(vecCol), dims)),
      idCol, vecCol, threshold, bucketCap)

  /** Star-capped within-bucket cosine pairs over any precomputed
    * `bucket` column — the shared core of [[nearDupPairs]] (sign-LSH
    * buckets) and [[semDedup]] (IVF cells).
    */
  private def cosPairsInBuckets(withBucket: DataFrame, idCol: String,
                                vecCol: String, threshold: Double,
                                bucketCap: Int): DataFrame = {
    require(bucketCap >= 2, s"bucketCap=$bucketCap must be >= 2")
    // bucket stats via one window pass (see TextDedup.candidatePairs:
    // the window's hash-partitioning on the bucket key is the
    // self-join's key and survives the cache, so no extra shuffles;
    // the sorted pass is the standing price of the O(m) guarantee).
    // Cache ownership: CALLER releases via spark.catalog.clearCache()
    // once the pairs are materialized — the lazy result rules out an
    // in-operator unpersist, and an eager checkpoint would drop the
    // partitioning (TextDedup.simhashCandidates' ownership note).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("bucket"))
    val annotated = withBucket
      .withColumn("__nrm", l2norm(col(vecCol)))
      .withColumn("__rep", min(col(idCol)).over(w))
      .withColumn("__bsz", count(lit(1)).over(w))
      .cache()
    val sm = annotated.filter(col("__bsz") <= bucketCap)
    val a = sm.select(col("bucket"), col(idCol).as("a_id"),
      col(vecCol).as("a_vec"), col("__nrm").as("a_nrm"))
    val b = sm.select(col("bucket"), col(idCol).as("b_id"),
      col(vecCol).as("b_vec"), col("__nrm").as("b_nrm"))
    val smallPairs = a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
    val bigMembers = annotated.filter(col("__bsz") > bucketCap)
    val reps = bigMembers.filter(col(idCol) === col("__rep"))
      .select(col("bucket"), col(idCol).as("a_id"),
        col(vecCol).as("a_vec"), col("__nrm").as("a_nrm"))
    val starPairs = bigMembers.filter(col(idCol) =!= col("__rep"))
      .select(col("bucket"), col(idCol).as("b_id"),
        col(vecCol).as("b_vec"), col("__nrm").as("b_nrm"))
      .join(reps, Seq("bucket"))
      // union below is positional — restate the small-pair column order
      .select(col("bucket"), col("a_id"), col("a_vec"), col("a_nrm"),
        col("b_id"), col("b_vec"), col("b_nrm"))
    smallPairs.union(starPairs)
      .withColumn("cos_sim",
        round(dot(col("a_vec"), col("b_vec")) / (col("a_nrm") * col("b_nrm")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("a_id", "b_id", "cos_sim")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by embedding — cluster the corpus with the
    * deterministic coarse quantizer ([[buildIvfHashInit]], so the
    * whole pass is oracle-able), generate within-cell cosine pairs
    * (star-capped for megacells, the [[nearDupPairs]] contract), and
    * drop every vector that has a smaller-id neighbor at
    * `cos ≥ threshold` in its cell. Returns the assigned corpus with a
    * `keep` flag — callers filter for the deduped corpus, or census
    * per cell for an audit.
    *
    * Scale shape: clustering bounds the pair search to within-cell
    * (O(Σ m_c²) with m_c ≈ n/k, vs n² flat — and star-capped on top),
    * assignment is one broadcast-centroid aggregation, and the drop
    * set joins back as a (small) broadcast-able anti-join side in the
    * common heavy-dup case. Inside a cell the min-id keep rule is
    * exactly the star topology's representative, so the capped and
    * uncapped regimes agree on who survives a homogeneous megacell.
    * Unscorable vectors (see [[scorable]]) are absent from the result
    * — an unembeddable doc has no semantic duplicates to adjudicate.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
               threshold: Double, nCentroids: Int,
               bucketCap: Int = graft.dedup.TextDedup.DefaultBucketCap): DataFrame =
    semDedupAssigned(buildIvfHashInit(emb, idCol, vecCol, nCentroids).assigned,
      idCol, vecCol, threshold, bucketCap)

  /** [[semDedup]] over LLOYD-TRAINED cells (r15): tighter clusters put
    * more true semantic duplicates in the SAME cell, which is the only
    * place the within-cell pair search can see them — cluster quality
    * is semantic-dedup RECALL here, not just speed. Same min-id keep
    * rule, same star cap, and still oracle-exact end-to-end (the km1
    * induction makes the trained cells SQL-replayable; v21).
    */
  def semDedupTrained(emb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, nCentroids: Int, iters: Int,
                      dim: Int,
                      bucketCap: Int = graft.dedup.TextDedup.DefaultBucketCap): DataFrame =
    semDedupAssigned(
      buildIvfTrained(emb, idCol, vecCol, nCentroids, iters, dim).assigned,
      idCol, vecCol, threshold, bucketCap)

  /** [[semDedupTrained]] over a CALLER-built index — lets a composed
    * pipeline train the quantizer ONCE and share it across SemDeDup,
    * IVF-routed decontamination, cluster-balanced sampling, and the
    * IVFADC build (the embedding_cascade shape: one Lloyd training
    * amortized over four consumers, the way a production curation run
    * actually spends it).
    */
  def semDedupWithIndex(idx: IvfIndex, idCol: String, vecCol: String,
                        threshold: Double,
                        bucketCap: Int = graft.dedup.TextDedup.DefaultBucketCap): DataFrame =
    semDedupAssigned(idx.assigned, idCol, vecCol, threshold, bucketCap)

  /** The drop phase over an ALREADY-ASSIGNED corpus — shared by the
    * hash-init and trained faces.
    */
  private def semDedupAssigned(assigned: DataFrame, idCol: String,
                               vecCol: String, threshold: Double,
                               bucketCap: Int): DataFrame = {
    val pairs = cosPairsInBuckets(assigned.withColumn("bucket", col("cell")),
      idCol, vecCol, threshold, bucketCap)
    val dropped = pairs.select(col("b_id").as(idCol)).distinct()
      .withColumn("__drop", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col(vecCol), col("cell"),
        coalesce(!col("__drop"), lit(true)).as("keep"))
  }

  /** Per-group centroid (mean embedding) — the building block for
    * semantic cluster profiling, label prototypes, and IVF re-training.
    *
    * Output is long-form (`groupCol`, dim, centroid, n): one row per
    * (group, dimension), deterministic and hash-friendly.
    *
    * Scale shape: ONE wide aggregation — `dim` map-side-combined
    * partial sums per group; only groups × dim scalars cross the
    * shuffle (a posexplode → groupBy(group, pos) formulation would
    * shuffle rows × dim exploded elements instead). The tiny result is
    * then unpivoted.
    *
    * Exactness discipline: a double sum is order-dependent in the last
    * ulp, and full-precision floats sit on decimal-cast tie boundaries,
    * so neither a raw sum nor the decimal(18,2) route can hash-match a
    * foreign engine. Instead each element is quantized to a 1e-9 fixed
    * point (`floor(x * 1e9)` as int64 — floor, not round: both engines
    * floor identically while round-half ties differ). The int64 sum is
    * exact and associative; the final two double divisions are the same
    * IEEE ops on identical operands in both engines. Quantization bias
    * is ≤ 1e-9 per element — documented, deterministic, and 7 orders
    * below the fixture's float precision. Headroom: |x| ≤ 1 ⇒ int64
    * overflows only past ~9e9 rows per group; guard or rescale there.
    * The floor result is CAST TO LONG before summing — Spark's floor
    * returns double, and sum(double) keeps partial sums exact only
    * under 2^53 (~9e6 rows/group at |x| ≤ 1, 1000× tighter than the
    * documented horizon); the long sum matches the oracle's
    * CAST(FLOOR(...) AS BIGINT) and restores the int64 guarantee.
    */
  def groupCentroids(emb: DataFrame, groupCol: String, vecCol: String,
                     dim: Int): DataFrame = {
    val scale = 1e9
    val sums = (1 to dim).map(d =>
      sum(floor(element_at(col(vecCol), d).cast("double") * lit(scale))
        .cast("long")).as(s"s_$d"))
    val aggs = sums :+ count(lit(1)).as("n")
    val agg = emb.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val unpivot = (1 to dim).map(d => struct(
      lit(d).as("dim"),
      (col(s"s_$d").cast("double") / lit(scale) / col("n").cast("double")).as("centroid")))
    agg.select(col(groupCol), col("n"), explode(array(unpivot: _*)).as("dc"))
      .select(col(groupCol), col("dc.dim"), col("dc.centroid"), col("n"))
  }

  /** A trained k-means model: the final per-(cell, dim) means in v7's
    * long form (hash-friendly) plus the same centroids re-assembled as
    * arrays (what assignment consumes). Both are local frames (k·dim
    * and k rows), built from collected means.
    */
  final case class KmeansModel(means: DataFrame, centroids: DataFrame)

  /** Deterministic distributed Lloyd's k-means — the oracle-exact
    * trainer that closes IVF training's one non-gated rung
    * ([[buildIvf]] uses MLlib KMeans, whose centers are
    * init-order-dependent; [[buildIvfHashInit]] never iterates). Init
    * is the hash-keyed sample (data-keyed — any engine, or any rebuild
    * after a repartition, derives identical seeds); each Lloyd round is
    *
    *  - assign: argmin_cell round(c·c − 2·v·c, 6), cell-id tiebreak
    *    ([[assignToCentroids]]'s kernel verbatim);
    *  - update: per-(cell, dim) fixed-point mean ([[groupCentroids]]'s
    *    floor(x·1e9) int64 sums — exact and order-independent; the two
    *    closing divisions are identical IEEE ops on identical operands
    *    in both engines).
    *
    * Updated centroids are bit-identical doubles cross-engine, so the
    * next round's rounded distances are again identical — the whole
    * iteration chain is deterministic by induction, and the DuckDB
    * oracle unrolls it stage-for-stage (the learnSql discipline). A
    * cell that attracts no vectors in a round VANISHES (its mean is
    * undefined); both sides mirror this and labels are never
    * renumbered.
    *
    * Scale shape per round: one narrow kernel pass over the corpus
    * against the broadcast k-row centroid matrix, one map-side-combined
    * wide aggregation (k·dim scalars cross the shuffle — NOT rows·dim
    * exploded elements), and one collect of those k·dim means, from
    * which the next round's matrix is built locally (the way MLlib
    * KMeans keeps its centers). No plan lineage carries across rounds.
    * The O(iters) sequential-job latency is inherent to Lloyd (each
    * assignment needs the previous round's means).
    */
  def kmeansTrain(emb: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int, dim: Int): KmeansModel = {
    import graft.functions.CentroidMatrix
    require(k >= 1 && iters >= 1, s"need k >= 1 and iters >= 1, got k=$k iters=$iters")
    // iterating-tail discipline: the seed pick plus every Lloyd round
    // re-executes this frame's lineage (scan + scorable filter — or a
    // whole upstream cascade when the caller composes); materialize it
    // once so the rounds read checkpointed blocks. Value-neutral.
    // IN-OPERATOR materialization, deliberately (callers with iterating
    // tails get it for free) — EXCEPT when the caller hands us an
    // already-materialized frame (a bare LogicalRDD scan, i.e. a
    // localCheckpoint'ed stage boundary like embeddingCascade's
    // `exact`): re-checkpointing that would double-materialize the
    // blocks (r17 advice); the per-round scorable filter over cached
    // blocks is a map-only pass and costs ~nothing.
    val preMaterialized = emb.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val cleanBase = emb.filter(scorable(col(vecCol)))
    val clean = if (preMaterialized) cleanBase else cleanBase.localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__h"), col(idCol))
    var cents = CentroidMatrix.collect(clean.select(col(idCol), col(vecCol))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .orderBy(col("__h"), col(idCol)).limit(k) // bounded k-row frame
      .withColumn("cell", (row_number().over(w) - 1).cast("int"))
      .select(col("cell"),
        transform(col(vecCol), x => x.cast("double")).as("centroid")))
    var means: DataFrame = null
    var rows: Seq[Row] = Nil
    var centRows: Seq[(Int, Array[Double])] = Nil
    for (_ <- 1 to iters) {
      means = groupCentroids(assignWith(clean, idCol, vecCol, cents),
        "cell", vecCol, dim)
      // (cell, dim, centroid, n), k·dim rows: the next round's matrix
      rows = means.collect().toSeq.sortBy(r => (r.getInt(0), r.getInt(1)))
      centRows = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (cell, rs) => cell -> rs.map(_.getDouble(2)).toArray }
      cents = CentroidMatrix(centRows)
    }
    val spark = emb.sparkSession
    val schema = means.schema
    val centSchema = StructType(Seq(schema("cell"), StructField("centroid",
      ArrayType(DoubleType, containsNull = schema("centroid").nullable))))
    KmeansModel(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      spark.createDataFrame(java.util.Arrays.asList(centRows.map {
        case (cell, c) => Row(cell, c.toSeq)
      }: _*), centSchema))
  }

  /** IVF over the Lloyd-TRAINED deterministic quantizer — the rung
    * that closes the FAISS recipe's quantizer-training step while
    * keeping the whole chain oracle-exact: [[kmeansTrain]]'s centroids
    * (bit-identical doubles cross-engine by induction) replace the
    * seed pick of [[buildIvfHashInit]], so cluster quality comes from
    * Lloyd iterations (inertia non-increasing per round) instead of a
    * random sample, and the resulting index still gates exactly
    * (v16 — the v4 probe/score contract over the trained cells).
    * [[buildIvf]]'s MLlib path remains only as the
    * non-reproducible-centers comparison point (v6's recall flag).
    */
  def buildIvfTrained(emb: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int, iters: Int, dim: Int): IvfIndex = {
    val m = kmeansTrain(emb, idCol, vecCol, nCentroids, iters, dim)
    IvfIndex(assignToCentroids(emb, idCol, vecCol, m.centroids), m.centroids)
  }

  /** Re-assemble [[groupCentroids]]' long form back into (cell,
    * centroid array) as a distributed frame — the mini-batch streaming
    * trainer's per-batch merge.
    */
  private[graft] def toCentroidArrays(means: DataFrame): DataFrame =
    means.groupBy(col("cell"))
      // codegen reassembly (r18): dim-sorted values, no HOF lambdas
      // (dim is unique per cell); runs once per Lloyd round/trainer
      .agg(graft.functions.Reassemble.pos_sorted_vals(
        collect_list(struct(col("dim"), col("centroid"))))
        .as("centroid"))

  /** One MINI-BATCH k-means step — the streaming trainer's per-batch
    * update (e41): assign only THIS batch's vectors to the current
    * centroids, take the fixed-point mean over this batch's
    * assignment, and merge — a cell that attracted no vectors in the
    * batch KEEPS its previous centroid (the mini-batch convention;
    * unlike [[kmeansTrain]], cells never vanish). Both halves are the
    * proven exact devices, so the merged centroids are bit-identical
    * doubles cross-engine and a chain of steps is deterministic by
    * the km1 induction — which is what lets the STREAMED training run
    * gate exactly.
    */
  def kmeansMiniBatchStep(batch: DataFrame, idCol: String, vecCol: String,
                          cents: DataFrame, dim: Int): DataFrame = {
    val upd = toCentroidArrays(groupCentroids(
        assignToCentroids(batch, idCol, vecCol, cents), "cell", vecCol, dim))
      .withColumnRenamed("centroid", "__nc")
    cents.join(upd, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("__nc"), col("centroid")).as("centroid"))
  }

  /** COUNT-WEIGHTED mini-batch k-means state (Sculley's web-scale
    * k-means update, the canonical form [[kmeansMiniBatchStep]]'s
    * plain replace-merge approximates badly): per cell, the SEED
    * centroid plus cumulative per-dim fixed-point sums (int64, the
    * groupCentroids device) and a cumulative member count. The
    * Sculley update c ← (n·c + Σ_batch x)/(n + m) is EXACTLY the
    * cumulative-sum mean when n·c is carried as the int64 sum instead
    * of being recomputed from the rounded double — so the whole
    * training chain stays exact and order-deterministic (gate e42),
    * and history is never forgotten: a later batch moves a centroid
    * in proportion to its weight, not wholesale (the plain merge's
    * last-batch dominance — see KmeansSpec's planted-drift arm).
    */
  def kmeansWeightedInit(cents: DataFrame, dim: Int): DataFrame =
    cents.select(col("cell"), col("centroid").as("seed"),
      array((0 until dim).map(_ => lit(0L)): _*).as("sums"),
      lit(0L).as("n"))

  /** The state's CURRENT centroids: cumulative fixed-point mean when
    * the cell has absorbed any vectors, else the seed — two IEEE
    * divisions on exact int64-derived doubles (identical on both
    * engines), so the next step's rounded assignment distances are
    * deterministic by the km1 induction.
    */
  def kmeansWeightedCentroids(state: DataFrame): DataFrame =
    state.select(col("cell"),
      when(col("n") > 0,
        transform(col("sums"),
          s => s.cast("double") / lit(1e9) / col("n").cast("double")))
        .otherwise(col("seed")).as("centroid"))

  /** One Sculley step: assign THIS batch to the state's current
    * centroids, accumulate the batch's per-(cell, dim) fixed-point
    * sums and counts into the state. Scale shape per step matches
    * [[kmeansMiniBatchStep]]: one k-row broadcast across the batch,
    * one map-side-combined wide aggregation (k·dim int64 scalars
    * cross the shuffle), one k-row merge join.
    */
  def kmeansMiniBatchStepWeighted(batch: DataFrame, idCol: String,
                                  vecCol: String, state: DataFrame,
                                  dim: Int): DataFrame = {
    val assigned = assignToCentroids(batch, idCol, vecCol,
      kmeansWeightedCentroids(state))
    val scale = 1e9
    val sums = (1 to dim).map(d =>
      sum(floor(element_at(col(vecCol), d).cast("double") * lit(scale))
        .cast("long")).as(s"__s_$d"))
    val aggs = sums :+ count(lit(1)).as("__bn")
    val bs = assigned.groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
      .select(col("cell"),
        array((1 to dim).map(d => col(s"__s_$d")): _*).as("__bs"),
        col("__bn"))
    state.join(bs, Seq("cell"), "left")
      .select(col("cell"), col("seed"),
        when(col("__bs").isNull, col("sums"))
          .otherwise(zip_with(col("sums"), col("__bs"), (a, b) => a + b))
          .as("sums"),
        (col("n") + coalesce(col("__bn"), lit(0L))).as("n"))
  }

  /** Cluster-balanced selection — the data-mixing face of k-means:
    * assign the corpus to a trained model's cells, keep the `perCell`
    * members with the smallest md5(id) per cell (a data-keyed
    * deterministic "random" sample, the buildIvfHashInit init device).
    * The window partitions by cell — at most k partitions, each ranked
    * independently; no corpus-wide window.
    */
  def clusterBalancedSample(emb: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, perCell: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    assignToCentroids(emb, idCol, vecCol, centroids)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= perCell)
      .select(col("cell"), col(idCol))
  }

  /** Prototype pruning (the Sorscher-et-al "beyond neural scaling
    * laws" recipe, deterministic spelling): within each trained cell,
    * rank members by FULL rounded squared distance to the centroid
    * ascending — closest = most prototypical = least informative —
    * ties by id, and mark the closest `dropPerCell` as dropped,
    * keeping the hard examples. Note the metric here carries the
    * +v·v term [[assignToCentroids]] legitimately drops: that term is
    * constant per VECTOR across cells (so it can't change a vector's
    * argmin cell) but varies ACROSS members within a cell, and this
    * ranking is across members. Returns (idCol, cell, kept 0/1) — the
    * verdict census; the removal face is a `kept = 1` filter.
    *
    * Scale shape: one broadcast re-join of k centroids (to recover
    * the distance) + per-cell windows (at most k partitions). The
    * drop COUNT is per cell rather than a fraction so the contract
    * is exact under any corpus size; callers wanting Sorscher's
    * fraction pass ceil(f·|cell|) per their own census.
    */
  def prototypePrune(emb: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, dropPerCell: Int): DataFrame =
    prototypePruneAssigned(assignToCentroids(emb, idCol, vecCol, centroids),
      idCol, vecCol, centroids, dropPerCell)

  /** The rank-and-drop phase over an ALREADY-ASSIGNED frame
    * ((idCol, vecCol, cell) — [[assignToCentroids]]'s output): exposed
    * so the streaming face can fold assignments batch-by-batch (the
    * expensive map work streams) and run the global per-cell ranks
    * once on the drained store — prototype rank needs ALL of a cell's
    * members, so fold-then-serve is the only stream-shaped spelling.
    */
  def prototypePruneAssigned(assigned: DataFrame, idCol: String,
                             vecCol: String, centroids: DataFrame,
                             dropPerCell: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
      .orderBy(col("__d"), col(idCol))
    assigned
      .join(broadcast(centroids), Seq("cell"))
      .withColumn("__d",
        round(dot(col("centroid"), col("centroid"))
          - lit(2.0) * dot(col(vecCol), col("centroid"))
          + dot(col(vecCol), col(vecCol)), 6))
      .withColumn("__r", row_number().over(w))
      .select(col(idCol), col("cell"),
        (col("__r") > dropPerCell).cast("long").as("kept"))
  }

  /** Per-cell inertia — the k-means model-quality readout (the elbow
    * criterion's y-axis): Σ of full squared distances to the cell
    * centroid, each distance quantized ONCE by the nudged floor
    * (`floor(d·1e6 + 1e-4)` int64 — d is pure IEEE arithmetic on
    * identical operands both engines, so the quantized value is
    * deterministic and the SUM is exact and order-independent).
    * Returns (cell, n_members, inertia_q).
    */
  def cellInertia(emb: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame): DataFrame =
    assignToCentroids(emb, idCol, vecCol, centroids)
      .join(broadcast(centroids), Seq("cell"))
      .withColumn("__dq",
        floor((dot(col("centroid"), col("centroid"))
          - lit(2.0) * dot(col(vecCol), col("centroid"))
          + dot(col(vecCol), col(vecCol))) * lit(1e6) + lit(1e-4))
          .cast("long"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("__dq")).as("inertia_q"))

  // ------------------------------------------------------- DuckDB spellings

  object Sql {
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    def cosine(a: String, b: String): String =
      s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
    def signBucket(e: String, dims: Seq[Int]): String =
      dims.map(d => s"CASE WHEN $e[${d + 1}] >= 0 THEN '1' ELSE '0' END").mkString(" || ")

    /** SQL mirror of [[Similarity.scorable]] — needed wherever an
      * oracle replays a pipeline stage that the engine gates on
      * scorability of a COMPUTED vector (e.g. a PQ subspace slice,
      * which can be zero-norm even when the full fixture vector is
      * scorable, so the FixtureContractSpec pin does not cover it).
      */
    def scorable(vec: String): String =
      s"($vec IS NOT NULL AND len($vec) > 0" +
        s" AND NOT isnan(${dot(vec, vec)}) AND ${dot(vec, vec)} > 0)"

    /** One Lloyd assignment stage — [[Similarity.assignToCentroids]]'s
      * rounded-distance + cell-tiebreak argmin (the v4/v10 spelling,
      * shared so the k-means unroll and its consumers cannot drift).
      */
    def kmeansAssign(src: String, id: String, vec: String,
                     cents: String): String =
      s"""SELECT $id, $vec, cell FROM (
         |    SELECT e.$id, e.$vec, c.cell, ROW_NUMBER() OVER (PARTITION BY e.$id
         |        ORDER BY round(${dot("c.centroid", "c.centroid")}
         |          - 2 * ${dot(s"e.$vec", "c.centroid")}, 6), c.cell) AS arn
         |    FROM $src e CROSS JOIN $cents c) z
         |  WHERE arn = 1""".stripMargin

    /** DuckDB spelling of [[Similarity.kmeansTrain]]: the hash-keyed
      * init then `iters` unrolled (assign → fixed-point mean →
      * re-assemble) stages, every stage MATERIALIZED (the learnSql
      * discipline). Exposes `${pfx}m$iters` (the final long-form
      * means) and `${pfx}c$iters` (the final centroid arrays) for the
      * composing gate. `pfx` namespaces the stage CTEs so several
      * unrolls (one per PQ subspace — v17) can share one WITH clause:
      * DuckDB's binder rejects re-declared CTE names (the r14
      * Duplicate-alias trap).
      */
    def kmeansCtes(src: String, id: String, vec: String,
                   k: Int, iters: Int, dim: Int, pfx: String = ""): String = {
      val sb = new StringBuilder
      sb ++= s"""${pfx}kcb AS MATERIALIZED (SELECT $id, $vec FROM $src
         |  ORDER BY md5(CAST($id AS VARCHAR)), $id LIMIT $k),
         |${pfx}c0 AS MATERIALIZED (SELECT
         |    ROW_NUMBER() OVER (ORDER BY md5(CAST($id AS VARCHAR)), $id) - 1 AS cell,
         |    list_transform($vec, x -> CAST(x AS DOUBLE)) AS centroid
         |  FROM ${pfx}kcb)""".stripMargin
      for (t <- 1 to iters) {
        sb ++= s""",
         |${pfx}a$t AS MATERIALIZED (${kmeansAssign(src, id, vec, s"${pfx}c${t - 1}")}),
         |${pfx}m$t AS MATERIALIZED (${groupCentroids(s"${pfx}a$t", "cell", vec, dim)}),
         |${pfx}c$t AS MATERIALIZED (SELECT cell, list(centroid ORDER BY dim) AS centroid
         |  FROM ${pfx}m$t GROUP BY cell)""".stripMargin
      }
      sb.result()
    }

    /** Same fixed-point centroid as [[Similarity.groupCentroids]] —
      * identical quantization, sum, and division order.
      */
    def groupCentroids(src: String, group: String, vec: String, dim: Int): String =
      s"""SELECT $group, CAST(d.dim AS INTEGER) AS dim,
         |  CAST(SUM(CAST(FLOOR(CAST($vec[d.dim] AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
         |    / 1000000000.0 / CAST(COUNT(*) AS DOUBLE) AS centroid,
         |  COUNT(*) AS n
         |FROM $src CROSS JOIN (SELECT unnest(generate_series(1, $dim)) AS dim) d
         |GROUP BY $group, d.dim""".stripMargin
  }
}
