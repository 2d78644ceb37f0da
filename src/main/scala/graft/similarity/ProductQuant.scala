package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-scale ANN path (FAISS's
  * IVF-PQ workhorse): each `dim`-vector is split into `m` subvectors;
  * each subvector is replaced by the index of its nearest codeword in
  * a per-subspace codebook of `ks` entries. A 64-float vector becomes
  * `m` small ints — with m=8, a 32× scan-bandwidth/memory reduction,
  * which at 100 TB of embeddings is the difference between an
  * in-memory candidate scan and an I/O-bound one (int8's 4×, RP's 2×,
  * PQ's 32× are the three rungs of the same ladder).
  *
  * Query scoring is the classic asymmetric-distance LUT: the query
  * precomputes its dot product against every codeword (`m·ks` dots on
  * the handful of query rows), then each corpus row costs `m` array
  * lookups + `m−1` adds — NO multiplications, codegen'd `element_at`
  * chains, never a lambda. Codes are computed map-side by one
  * [[graft.functions.NearestCentroid]] kernel call per subspace, each
  * against its codewords shipped as a broadcast matrix (the plan holds
  * only the handle), so encoding shuffles nothing and its plan does not
  * grow with m·ks.
  *
  * Codebooks are md5-ordered deterministic picks (the
  * `buildIvfHashInit` discipline): the whole pipeline — codebook,
  * codes, LUT scores — is a pure function of the data, re-derivable
  * in SQL, so the code assignment is oracle-EXACT (`v11_pq_codes`)
  * and recall is oracle-gated (`v12_pq_recall`). A KMeans-refined
  * codebook drops in by replacing the seed pick only (the IVF
  * `buildIvf`/`buildIvfHashInit` pairing, same trade).
  */
object ProductQuant {

  /** Per-subspace codebooks derived from `ks` md5-ordered seed
    * vectors; codebook j = the seeds' j-th subvector slices.
    */
  case class PqCodebook(seeds: Seq[Seq[Double]], m: Int) {
    require(seeds.nonEmpty, "empty codebook")
    val dim: Int = seeds.head.size
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub: Int = dim / m
    val ks: Int = seeds.size
    /** codeword c of subspace j */
    def slice(j: Int, c: Int): Seq[Double] =
      seeds(c).slice(j * sub, (j + 1) * sub)
    /** ||codeword||² as a plan literal */
    def sliceNorm2(j: Int, c: Int): Double = {
      val s = slice(j, c); s.map(x => x * x).sum
    }
  }

  /** Deterministic codebook: the `ks` seed vectors with smallest
    * md5(id) — a BOUNDED driver collect (`ks` rows, same contract as
    * the IVF centroid pick and the capped pivot-value collect).
    */
  def buildCodebook(emb: DataFrame, idCol: String, vecCol: String,
                    m: Int, ks: Int): PqCodebook = {
    require(ks >= 2 && ks <= 256, s"ks must be in [2,256]: $ks")
    val rows = emb.filter(Similarity.scorable(col(vecCol)))
      .select(col(idCol), col(vecCol))
      .withColumn("__h", md5(col(idCol).cast("string")))
      .orderBy(col("__h"), col(idCol)).limit(ks)
      .select(transform(col(vecCol), x => x.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(rows.size == ks, s"corpus has ${rows.size} scorable vectors < ks=$ks")
    PqCodebook(rows, m)
  }

  /** Lloyd-TRAINED per-subspace codebooks — the FAISS-recipe upgrade
    * of [[buildCodebook]]'s md5 seed pick: subspace j's codewords are
    * the centroids of [[Similarity.kmeansTrain]] run over the corpus's
    * j-th subvector slices (same hash-keyed init, same fixed-point
    * means — bit-identical doubles cross-engine by induction, so the
    * code assignment gates oracle-EXACTLY like the seed-pick path,
    * v17). The per-subspace centroid sets are re-packed as full-dim
    * "seeds" (seed c = concat over j of subspace-j centroid c) so the
    * existing [[PqCodebook]] slicing, persistence, and every ADC
    * scorer work unchanged.
    *
    * Training filters each SLICED frame by [[Similarity.scorable]]
    * (inside kmeansTrain): a subvector can be zero-norm even when the
    * full vector is scorable, so the oracle mirrors the predicate on
    * the sliced CTE ([[Similarity.Sql.scorable]]) rather than relying
    * on the fixture pin. A Lloyd cell that ends a round empty VANISHES
    * (kmeansTrain contract); a vanished cell would leave subspace
    * codeword c undefined, so this REQUIRES all ks cells survive —
    * deterministic for a given corpus, and loud when ks is set too
    * close to the scorable row count.
    *
    * Scale shape: m independent kmeansTrain runs over 1/m-width
    * slices — the per-round cost is the same one broadcast + one
    * k·(dim/m) shuffle as full-dim training, and the m runs share the
    * corpus scan shape; collects are model-sized (ks rows each).
    */
  def buildCodebookTrained(emb: DataFrame, idCol: String, vecCol: String,
                           m: Int, ks: Int, iters: Int, dim: Int): PqCodebook = {
    require(ks >= 2 && ks <= 256, s"ks must be in [2,256]: $ks")
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    // the m per-subspace trainings are INDEPENDENT (each a pure
    // function of its own slice frame), so they submit CONCURRENTLY —
    // Lloyd's per-round latency is job-scheduling-bound at index-build
    // scale, and sequential subspaces pay that floor m times
    // (the CombinationSearch concurrent-fit idiom; results are
    // bit-identical either way, pinned by v17's exact gate)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(m)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // siblings train under one JOB GROUP so a failed subspace cancels
    // the others' in-flight Spark jobs cleanly (cancelJobGroup) before
    // the pool is torn down — a bare shutdownNow interrupts a sibling
    // mid-collect and the shared context logs it as a noisy
    // cancelled-job stack trace (r16 advice)
    val sc = emb.sparkSession.sparkContext
    val group = s"graft_pq_train_${java.lang.Long.toHexString(System.nanoTime())}"
    val perSub: Seq[Map[Int, Seq[Double]]] =
      try Await.result(Future.sequence((0 until m).map { j =>
        Future {
          sc.setJobGroup(group, s"PQ subspace $j Lloyd training",
            interruptOnCancel = false)
          try {
            val sliced = emb.filter(Similarity.scorable(col(vecCol)))
              .select(col(idCol), slice(col(vecCol), j * sub + 1, sub).as("__sv"))
            val model = Similarity.kmeansTrain(sliced, idCol, "__sv",
              k = ks, iters = iters, dim = sub)
            val cents = model.centroids.collect().map { r =>
              r.getAs[Int]("cell") -> r.getSeq[Double](r.fieldIndex("centroid")).toSeq
            }.toMap
            require(cents.size == ks,
              s"subspace $j: ${cents.size} of $ks Lloyd cells survived training " +
                "— a cell emptied mid-iteration; lower ks (or iters)")
            cents
          } finally sc.clearJobGroup()
        }
      }), Duration.Inf)
      catch {
        case t: Throwable => sc.cancelJobGroup(group); throw t
      }
      // shutdownNow: on a failed subspace (emptied cell), don't let the
      // surviving trainings keep burning jobs for a discarded result
      finally { pool.shutdownNow(); () }
    val seeds = (0 until ks).map(c => (0 until m).flatMap(j => perSub(j)(c)))
    PqCodebook(seeds, m)
  }

  /** Per-row coarse RESIDUALS — the IVFADC ingredient: r = x − c(x),
    * where c(x) is the centroid of x's assigned cell. Computed as one
    * broadcast join of the k-row centroid table + a zip_with
    * subtraction (map-side, exact double arithmetic: CAST(x) − c is
    * one IEEE op on identical operands in both engines, so everything
    * downstream of the residual can still gate exactly). Emits
    * (idCol, cell, __res) — `assigned` is [[Similarity.assignToCentroids]]
    * output, already scorable-filtered.
    */
  def residualFrame(assigned: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame): DataFrame =
    assigned.join(broadcast(centroids), Seq("cell"))
      .select(col(idCol), col("cell"),
        zip_with(col(vecCol), col("centroid"),
          (x, c) => x.cast("double") - c).as("__res"))

  /** RESIDUAL-trained per-subspace codebooks — the canonical FAISS
    * IVFADC recipe [[buildCodebookTrained]] stops one rung short of:
    * codewords are Lloyd centroids of `x − coarse_centroid(x)` slices,
    * so the m·log2(ks) code bits spend on WITHIN-cell variance instead
    * of re-describing the coarse structure the cell id already
    * carries. Same exactness argument as the raw-vector trainer: the
    * residual is one exact subtraction, kmeansTrain is bit-identical
    * cross-engine by the km1 induction, so residual CODES gate
    * oracle-exactly (v22). Same scale shape too — the residual is a
    * map-side zip over the already-assigned corpus.
    */
  def buildCodebookResidual(idx: Similarity.IvfIndex, idCol: String,
                            vecCol: String, m: Int, ks: Int, iters: Int,
                            dim: Int): PqCodebook =
    buildCodebookTrained(
      residualFrame(idx.assigned, idCol, vecCol, idx.centroids),
      idCol, "__res", m, ks, iters, dim)

  /** Encode residuals against a residual codebook: (id, cell, codes).
    * Unlike [[encode]] there is NO scorable re-filter — the input is
    * the assigned corpus (already scorable), and a residual may be
    * legitimately zero-norm (a vector sitting ON its centroid) yet
    * must still be indexed; the argmin is well-defined on any finite
    * vector. Rounded-distance + first-index tiebreak as everywhere.
    */
  def encodeResidual(idx: Similarity.IvfIndex, idCol: String,
                     vecCol: String, cb: PqCodebook): DataFrame = {
    val res = residualFrame(idx.assigned, idCol, vecCol, idx.centroids)
    res.select(col(idCol), col("cell"), codesOf(res.sparkSession, col("__res"), cb))
  }

  /** Map-side encoding: (id, codes array<int> of length m). Per
    * subspace, the code is the argmin over the `ks` codewords of
    * `round(||c||² − 2·v_j·c, 6)` (the ||v_j||² term is constant
    * across codewords and cannot move the argmin), first index on
    * ties — rounding + first-index tiebreak make the argmin
    * engine-exact.
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             cb: PqCodebook): DataFrame =
    emb.filter(Similarity.scorable(col(vecCol)))
      .select(col(idCol), codesOf(emb.sparkSession, col(vecCol), cb))

  /** The `codes` column: one [[graft.functions.NearestCentroid]] call
    * per subspace j, over the slice [j·sub, (j+1)·sub) against
    * subspace j's codewords as cells 0..ks−1. Each subspace's
    * codewords ship as one broadcast, not as plan literals.
    */
  private def codesOf(spark: org.apache.spark.sql.SparkSession, vec: Column,
                      cb: PqCodebook): Column = {
    import graft.functions.{CentroidMatrix, NearestCentroid}
    array((0 until cb.m).map { j =>
      val bc = spark.sparkContext.broadcast(
        CentroidMatrix((0 until cb.ks).map(c => c -> cb.slice(j, c).toArray)))
      NearestCentroid.nearest_centroid(vec, bc, cb.dim, j * cb.sub)
    }: _*).as("codes")
  }

  /** The query side's LUT: table[j][c] = q_j · codeword(j, c), computed
    * once per QUERY row (m·ks dots over a handful of rows).
    */
  private def lutFor(qVec: Column, cb: PqCodebook): Column =
    array((0 until cb.m).map { j =>
      val subq = slice(qVec, j * cb.sub + 1, cb.sub)
      array((0 until cb.ks).map { c =>
        Similarity.dot(subq, lit(cb.slice(j, c).toArray))
      }: _*)
    }: _*)

  /** ADC top-k by approximate COSINE: score(q, v) ≈
    * (q · v̂) / ‖v̂‖ where v̂ = reconstruct(codes(v)) — the numerator is
    * Σ_j lut[j][codes_j] and ‖v̂‖² is Σ_j ‖codeword(j, codes_j)‖², BOTH
    * read from literal tables with m codegen'd `element_at` lookups per
    * corpus row (unrolled fixed-order add chains; no multiplications
    * beyond the final divide). Ranking by raw inner product instead
    * biases toward large-norm neighbors and measurably loses recall on
    * mixed-norm corpora (caught by the sf0.001 stress: recall@5
    * dropped below the 0.5 gate). ‖q‖ is constant per query and cannot
    * move ranks, so it is omitted. Corpus cost: the CODES table only —
    * the full vectors never rescan. Output contract matches
    * bruteForceTopK (query_id, rn, neighbor_id, cos_sim≈score rounded
    * 6dp, id-tiebroken).
    */
  def adcTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryIds: Seq[Long], k: Int, cb: PqCodebook,
              codes: Option[DataFrame] = None): DataFrame = {
    val coded = codes.getOrElse(encode(emb, idCol, vecCol, cb))
    val q = emb.filter(Similarity.scorable(col(vecCol)))
      .filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), lutFor(col(vecCol), cb).as("__lut"))
    // literal ‖codeword‖² table, indexed like the per-query LUT
    val normLut = array((0 until cb.m).map { j =>
      array((0 until cb.ks).map(c => lit(cb.sliceNorm2(j, c))): _*)
    }: _*)
    val ip = (0 until cb.m)
      .map(j => element_at(element_at(col("__lut"), j + 1),
        element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val n2 = (0 until cb.m)
      .map(j => element_at(element_at(normLut, j + 1),
        element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val scored = coded.select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(when(n2 > 0, ip / sqrt(n2)).otherwise(lit(0.0)), 6))
    Similarity.topK(scored, k)
  }

  /** IVF-PQ: the full FAISS composition — coarse cells prune WHERE to
    * look ([[Similarity.buildIvfHashInit]]'s deterministic quantizer),
    * PQ codes compress WHAT is scanned there (cosine-ADC over the
    * probed cells' codes only), and an exact re-rank restores full
    * precision on the `candidateK` survivors. At 100 TB this is the
    * production shape: the cell join prunes the scan to
    * nProbe/nCells of the corpus, the scan itself reads m-byte codes
    * instead of d floats (32×), and full vectors are touched only for
    * candidateK rows per query. Scale shape: one equi join on the cell
    * key (the pruning), map-side LUT scoring, bounded top-k, broadcast
    * candidate join back — the corpus shuffles once at index-build
    * time, never per query.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryIds: Seq[Long], k: Int, nCells: Int, nProbe: Int,
                cb: PqCodebook, candidateK: Int): DataFrame =
    ivfPqTopKWithIndex(emb, idCol, vecCol,
      Similarity.buildIvfHashInit(emb, idCol, vecCol, nCells),
      queryIds, k, nProbe, cb, candidateK)

  /** The FULLY-TRAINED FAISS composition (r15): Lloyd-trained coarse
    * cells ([[Similarity.buildIvfTrained]]) × Lloyd-trained PQ
    * codebooks ([[buildCodebookTrained]]) × exact re-rank — every
    * quantizer in the stack trained rather than seed-picked, and
    * still deterministic end-to-end (both trainings are oracle-exact
    * by the km1 induction). The v20 recall flag re-measures v13 over
    * this composition.
    */
  def ivfPqTopKTrained(emb: DataFrame, idCol: String, vecCol: String,
                       queryIds: Seq[Long], k: Int, nCells: Int,
                       nProbe: Int, cb: PqCodebook, candidateK: Int,
                       iters: Int, dim: Int): DataFrame =
    ivfPqTopKWithIndex(emb, idCol, vecCol,
      Similarity.buildIvfTrained(emb, idCol, vecCol, nCells, iters, dim),
      queryIds, k, nProbe, cb, candidateK)

  /** [[ivfPqTopK]] over a CALLER-built coarse index — the shared tail
    * of the hash-init and trained compositions.
    */
  def ivfPqTopKWithIndex(emb: DataFrame, idCol: String, vecCol: String,
                         idx: Similarity.IvfIndex,
                         queryIds: Seq[Long], k: Int, nProbe: Int,
                         cb: PqCodebook, candidateK: Int): DataFrame = {
    require(candidateK >= k, s"candidateK=$candidateK must be >= k=$k")
    val codes = encode(emb, idCol, vecCol, cb)
      .join(idx.assigned.select(col(idCol), col("cell")), idCol)
    // probe selection: nProbe nearest cells per query (rounded +
    // cell-tiebroken, the ivfTopKIndexed rule)
    val q = idx.assigned.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val probes = q.crossJoin(broadcast(idx.centroids))
      .withColumn("d2", round(Similarity.dot(col("centroid"), col("centroid"))
        - lit(2.0) * Similarity.dot(col("q_vec"), col("centroid")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))
    val probeSet = probes.withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), lutFor(col("q_vec"), cb).as("__lut"), col("cell"))
    val normLut = array((0 until cb.m).map { j =>
      array((0 until cb.ks).map(c => lit(cb.sliceNorm2(j, c))): _*)
    }: _*)
    val ip = (0 until cb.m)
      .map(j => element_at(element_at(col("__lut"), j + 1),
        element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val n2 = (0 until cb.m)
      .map(j => element_at(element_at(normLut, j + 1),
        element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val cands = codes.select(col(idCol).as("neighbor_id"), col("codes"), col("cell"))
      .join(broadcast(probeSet), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(when(n2 > 0, ip / sqrt(n2)).otherwise(lit(0.0)), 6))
    val picked = Similarity.topK(cands, candidateK)
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank of the candidates only
    val clean = emb.filter(Similarity.scorable(col(vecCol)))
    val qv = clean.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        Similarity.l2norm(col(vecCol)).as("q_nrm"))
    val cv = clean.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      Similarity.l2norm(col(vecCol)).as("c_nrm"))
    val scored = cv.join(broadcast(picked.join(qv, "query_id")), "neighbor_id")
      .withColumn("cos_sim",
        round(Similarity.dot(col("q_vec"), col("c_vec")) /
          (col("q_nrm") * col("c_nrm")), 6))
    Similarity.topK(scored, k)
  }

  /** IVFADC proper — the residual composition of [[ivfPqTopKWithIndex]]:
    * probe the coarse cells, ADC-score RESIDUAL codes, exact-rerank
    * the survivors. The reconstruction is v̂ = c_cell + r̂(codes), so
    * the approximate cosine decomposes exactly:
    *
    *   q·v̂   = q·c_cell + Σ_j lut[j][code_j]        (lut from RAW q —
    *            an inner product needs no query-side residual)
    *   ‖v̂‖²  = ‖c‖² + 2·Σ_j (c_j · w_{j,code_j}) + Σ_j ‖w_{j,code_j}‖²
    *
    * The centroid/codeword cross-term table (nCells·m·ks doubles) is
    * built driver-side from the BOUNDED collected centroid table and
    * joined onto the tiny probe set; ‖c‖² and q·c ride the probe rows.
    * Per-candidate cost stays m `element_at` lookups + adds — the
    * adcTopK shape — while the codes now describe within-cell variance
    * only, which is what lifts recall at the same m·log2(ks) bit
    * budget (v23 vs v20). Scale shape identical to the raw path: one
    * cell-key equi join prunes the scan, map-side LUT scoring, bounded
    * top-k, broadcast candidate join back.
    */
  def ivfPqResidualTopK(idx: Similarity.IvfIndex, idCol: String,
                        vecCol: String, queryIds: Seq[Long],
                        k: Int, nProbe: Int, cb: PqCodebook,
                        candidateK: Int): DataFrame =
    residualAdcCore(idx, encodeResidual(idx, idCol, vecCol, cb),
      idCol, vecCol, queryIds, k, nProbe, cb, candidateK)

  /** Query a [[saveIvfPqResidualFrozen]] IVFADC index from disk —
    * the residual sibling of [[ivfPqTopKIndexed]], completing the
    * serving story: probe against the persisted centroids, residual-
    * ADC over ONLY the probed cells' code partitions (partition
    * pruning does the candidate selection on disk), exact-rerank
    * against the persisted vectors. Answers identical to the
    * in-memory [[ivfPqResidualTopK]] over the same corpus
    * (ProductQuantSpec) — build cost is paid once, not per session.
    */
  def ivfPqResidualTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                               dir: String, idCol: String, vecCol: String,
                               queryIds: Seq[Long], k: Int, nProbe: Int,
                               candidateK: Int): DataFrame = {
    val idx = Similarity.loadIvf(spark, s"$dir/ivf")
    val (codes, cb) = loadPq(spark, s"$dir/pq")
    residualAdcCore(idx, codes, idCol, vecCol, queryIds, k, nProbe, cb,
      candidateK)
  }

  /** The shared residual-ADC query core (see [[ivfPqResidualTopK]]
    * for the decomposition): probes, LUTs, cross terms, bounded
    * top-candidateK, exact re-rank against the index's own vectors.
    */
  private def residualAdcCore(idx: Similarity.IvfIndex, codes: DataFrame,
                              idCol: String, vecCol: String,
                              queryIds: Seq[Long], k: Int, nProbe: Int,
                              cb: PqCodebook, candidateK: Int): DataFrame = {
    require(candidateK >= k, s"candidateK=$candidateK must be >= k=$k")
    exactRerankOnIndex(idx, idCol, vecCol, queryIds,
      residualAdcCandidates(idx, codes, idCol, vecCol, queryIds, nProbe,
        cb, candidateK), k)
  }

  /** The residual-ADC candidate stage alone: (query_id, neighbor_id),
    * candidateK per query — shared by the plain path (ADC → exact)
    * and the refine path (ADC → int8 → exact).
    */
  private def residualAdcCandidates(idx: Similarity.IvfIndex, codes: DataFrame,
                                    idCol: String, vecCol: String,
                                    queryIds: Seq[Long], nProbe: Int,
                                    cb: PqCodebook, candidateK: Int): DataFrame = {
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    // bounded collect: nCells rows, the codebook-build contract
    val cents = idx.centroids.select(col("cell"), col("centroid"))
      .collect().map(r => r.getAs[Int]("cell") ->
        r.getSeq[Double](r.fieldIndex("centroid")).toArray)
    val xt = cents.toSeq.map { case (cell, cent) =>
      (cell, (0 until cb.m).map { j =>
        (0 until cb.ks).map { c =>
          val cs = cent.slice(j * cb.sub, (j + 1) * cb.sub)
          cs.zip(cb.slice(j, c)).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
        }
      })
    }.toDF("cell", "__xt")
    val q = idx.assigned.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val probes = q.crossJoin(broadcast(idx.centroids))
      .withColumn("d2", round(Similarity.dot(col("centroid"), col("centroid"))
        - lit(2.0) * Similarity.dot(col("q_vec"), col("centroid")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))
    val probeSet = probes.withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("cell"),
        lutFor(col("q_vec"), cb).as("__lut"),
        Similarity.dot(col("q_vec"), col("centroid")).as("__qc"),
        Similarity.dot(col("centroid"), col("centroid")).as("__cn2"))
      .join(broadcast(xt), "cell")
    val normLut = array((0 until cb.m).map { j =>
      array((0 until cb.ks).map(c => lit(cb.sliceNorm2(j, c))): _*)
    }: _*)
    def lk(tbl: Column, j: Int): Column =
      element_at(element_at(tbl, j + 1), element_at(col("codes"), j + 1) + 1)
    val ip = col("__qc") +
      (0 until cb.m).map(j => lk(col("__lut"), j)).reduce(_ + _)
    val n2 = col("__cn2") +
      lit(2.0) * (0 until cb.m).map(j => lk(col("__xt"), j)).reduce(_ + _) +
      (0 until cb.m).map(j => lk(normLut, j)).reduce(_ + _)
    val cands = codes.select(col(idCol).as("neighbor_id"), col("codes"), col("cell"))
      .join(broadcast(probeSet), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(when(n2 > 0, ip / sqrt(n2)).otherwise(lit(0.0)), 6))
    Similarity.topK(cands, candidateK)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** Exact full-precision re-rank of a (query_id, neighbor_id)
    * candidate list against the index's OWN vectors (idx.assigned
    * carries them — already scorable-filtered, and the disk path must
    * never need the original corpus frame). The candidate list is
    * queries×candidateK rows — always the broadcast side.
    */
  private def exactRerankOnIndex(idx: Similarity.IvfIndex, idCol: String,
                                 vecCol: String, queryIds: Seq[Long],
                                 picked: DataFrame, k: Int): DataFrame = {
    val qv = idx.assigned.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec2"),
        Similarity.l2norm(col(vecCol)).as("q_nrm"))
    val cv = idx.assigned.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"), Similarity.l2norm(col(vecCol)).as("c_nrm"))
    // the candidate list is queries×candidateK rows — hint BOTH joins
    // (plan-size estimates over computed array columns can balloon
    // past the auto threshold and flip the inner join to SMJ)
    val scored = cv.join(broadcast(broadcast(picked).join(qv, "query_id")),
        "neighbor_id")
      .withColumn("cos_sim",
        round(Similarity.dot(col("q_vec2"), col("c_vec")) /
          (col("q_nrm") * col("c_nrm")), 6))
    Similarity.topK(scored, k)
  }

  /** The int8 REFINE table an IVFADC index stores beside its residual
    * codes (FAISS's refine flag with an SQ8 layer): every assigned
    * vector's symmetric per-vector int8 quantization
    * ([[Similarity.quantizeInt8]] — v8's device), keyed by (id, cell).
    * 4 bytes/dim → 1, so the refine pass streams a quarter of the
    * full-precision bytes; cosine needs no de-quantization (the
    * per-vector scales cancel in the ratio — the scale column rides
    * along for raw-dot consumers). Pure row function of the index →
    * oracle-EXACT (v25).
    */
  def int8RefineTable(idx: Similarity.IvfIndex, idCol: String,
                      vecCol: String): DataFrame =
    Similarity.quantizeInt8(idx.assigned, vecCol)
      .select(col(idCol), col("cell"), col("qvec"), col("qscale"))

  /** IVFADC with an int8 REFINE rung between the ADC scan and the
    * exact re-rank (FAISS's IndexRefine recipe): ADC keeps the top
    * `candidateK` per query from the m-byte codes, the int8 layer
    * re-ranks those to `refineK` survivors at 1 byte/dim, and only
    * the survivors touch full-precision vectors — so candidateK (the
    * ADC recall dial) can grow without growing the expensive exact
    * stage. Scale shape: the candidate list is always the broadcast
    * side of both refine joins; the corpus-sized int8 table is
    * scanned in place, never shuffled (ProductQuantSpec plan audit).
    * Deterministic end-to-end: quantization is a pure row function,
    * int8 cosines round to 6 dp with the id tiebreak (the v8
    * contract).
    */
  def ivfPqResidualRefineTopK(idx: Similarity.IvfIndex, idCol: String,
                              vecCol: String, queryIds: Seq[Long],
                              k: Int, nProbe: Int, cb: PqCodebook,
                              candidateK: Int, refineK: Int,
                              refine: Option[DataFrame] = None): DataFrame = {
    require(candidateK >= refineK && refineK >= k,
      s"need candidateK=$candidateK >= refineK=$refineK >= k=$k")
    val cands = residualAdcCandidates(idx,
      encodeResidual(idx, idCol, vecCol, cb),
      idCol, vecCol, queryIds, nProbe, cb, candidateK)
    refineRerank(idx, idCol, vecCol, queryIds, cands,
      refine.getOrElse(int8RefineTable(idx, idCol, vecCol)), refineK, k)
  }

  /** The int8 → exact refine tail over a candidate list — shared by
    * the in-memory and disk-serving refine paths.
    */
  private def refineRerank(idx: Similarity.IvfIndex, idCol: String,
                           vecCol: String, queryIds: Seq[Long],
                           cands: DataFrame, ref: DataFrame,
                           refineK: Int, k: Int): DataFrame = {
    // per-vector scales cancel in the cosine ratio — score on the raw
    // int8 arrays (DotProduct reads bytes natively, the v8 path)
    val q8 = ref.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col("qvec").as("q8"),
        Similarity.l2norm(col("qvec")).as("q8n"))
    val c8 = ref.select(col(idCol).as("neighbor_id"), col("qvec").as("c8"),
      Similarity.l2norm(col("qvec")).as("c8n"))
    val scored8 = c8.join(broadcast(broadcast(cands).join(q8, "query_id")),
        "neighbor_id")
      .withColumn("cos_sim",
        round(Similarity.dot(col("q8"), col("c8")) /
          (col("q8n") * col("c8n")), 6))
    val picked = Similarity.topK(scored8, refineK)
      .select(col("query_id"), col("neighbor_id"))
    exactRerankOnIndex(idx, idCol, vecCol, queryIds, picked, k)
  }

  /** Persist an IVFADC index WITH its refine layer: the frozen
    * residual index ([[saveIvfPqResidualFrozen]]'s layout) plus the
    * cell-partitioned int8 table under `refine/`. One assignment pass
    * feeds all three artifacts.
    */
  def saveIvfPqResidualRefineFrozen(emb: DataFrame, idCol: String,
                                    vecCol: String, centroids: DataFrame,
                                    cb: PqCodebook, dir: String): Unit = {
    val idx = Similarity.IvfIndex(
      Similarity.assignToCentroids(emb, idCol, vecCol, centroids), centroids)
    Similarity.saveIvf(idx, s"$dir/ivf")
    savePq(encodeResidual(idx, idCol, vecCol, cb), cb, s"$dir/pq")
    int8RefineTable(idx, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/refine")
  }

  /** [[appendToIvfPqResidual]] for a REFINE-carrying index: new rows
    * also land in the cell-partitioned int8 table, so the refine
    * layer never goes stale under maintenance (quantization is a
    * pure row function of the new vectors — append == frozen rebuild
    * holds for all THREE artifacts; ProductQuantSpec). O(|new|), the
    * base partitions never re-read. [[removeFromIvfPq]] callers with
    * a refine layer must prune it too — see [[removeFromIvfPqRefine]].
    */
  def appendToIvfPqResidualRefine(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, newRows: DataFrame,
                                  idCol: String, vecCol: String): Unit = {
    val centroids = spark.read.parquet(s"$dir/ivf/centroids")
    val cb = loadPqCodebook(spark, s"$dir/pq")
    val idx = Similarity.IvfIndex(
      Similarity.assignToCentroids(newRows, idCol, vecCol, centroids),
      centroids)
    idx.assigned.write.mode("append").partitionBy("cell")
      .parquet(s"$dir/ivf/assigned")
    encodeResidual(idx, idCol, vecCol, cb)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/pq/codes")
    int8RefineTable(idx, idCol, vecCol)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/refine")
  }

  /** [[removeFromIvfPq]] extended to the refine layer: prunes
    * ivf/assigned, pq/codes AND refine by (id, cell) — all three
    * artifacts stay mutually consistent under takedowns.
    */
  def removeFromIvfPqRefine(spark: org.apache.spark.sql.SparkSession,
                            dir: String, removeIds: DataFrame,
                            idCol: String): Unit =
    removeFromIvfPq(spark, dir, removeIds, idCol,
      tables = Seq("ivf/assigned", "pq/codes", "refine"))

  /** Query a [[saveIvfPqResidualRefineFrozen]] index from disk:
    * residual-ADC candidates from the persisted codes, int8 re-rank
    * from the persisted refine table, exact re-rank from the persisted
    * vectors — answers identical to the in-memory
    * [[ivfPqResidualRefineTopK]] over the same corpus
    * (ProductQuantSpec disk==memory).
    */
  def ivfPqResidualRefineTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                                     dir: String, idCol: String,
                                     vecCol: String, queryIds: Seq[Long],
                                     k: Int, nProbe: Int, candidateK: Int,
                                     refineK: Int): DataFrame = {
    require(candidateK >= refineK && refineK >= k,
      s"need candidateK=$candidateK >= refineK=$refineK >= k=$k")
    val idx = Similarity.loadIvf(spark, s"$dir/ivf")
    val (codes, cb) = loadPq(spark, s"$dir/pq")
    val cands = residualAdcCandidates(idx, codes, idCol, vecCol, queryIds,
      nProbe, cb, candidateK)
    refineRerank(idx, idCol, vecCol, queryIds, cands,
      spark.read.parquet(s"$dir/refine"), refineK, k)
  }

  /** The fully-trained IVFADC: Lloyd-trained coarse cells, Lloyd-
    * trained RESIDUAL codebooks, residual ADC, exact re-rank — every
    * rung of the FAISS recipe, all deterministic.
    */
  def ivfPqResidualTopKTrained(emb: DataFrame, idCol: String, vecCol: String,
                               queryIds: Seq[Long], k: Int, nCells: Int,
                               nProbe: Int, m: Int, ks: Int,
                               candidateK: Int, iters: Int,
                               dim: Int): DataFrame = {
    val idx = Similarity.buildIvfTrained(emb, idCol, vecCol, nCells, iters, dim)
    val cb = buildCodebookResidual(idx, idCol, vecCol, m, ks, iters, dim)
    ivfPqResidualTopK(idx, idCol, vecCol, queryIds, k, nProbe, cb,
      candidateK)
  }

  /** Persist the FULL IVF-PQ index: the coarse index (cell-assigned
    * vectors + centroids, via [[Similarity.saveIvf]]) plus the
    * cell-partitioned codes and the codebook. Probing a cell then
    * reads only that cell's code files — partition pruning does the
    * candidate selection on disk, the way a production ANN service
    * keeps its postings.
    */
  def saveIvfPq(emb: DataFrame, idCol: String, vecCol: String,
                nCells: Int, cb: PqCodebook, dir: String): Unit = {
    val idx = Similarity.buildIvfHashInit(emb, idCol, vecCol, nCells)
    Similarity.saveIvf(idx, s"$dir/ivf")
    val codes = encode(emb, idCol, vecCol, cb)
      .join(idx.assigned.select(col(idCol), col("cell")), idCol)
    savePq(codes, cb, s"$dir/pq")
  }

  /** [[saveIvfPq]] with a FROZEN quantizer: assign + encode against a
    * given centroid table and codebook instead of refitting. This is
    * the reference implementation [[appendToIvfPq]]'s invariant is
    * stated against: append(base, new) must equal frozen-rebuild over
    * (base ∪ new) — exactly, not by recall, because assignment and
    * encoding are pure row functions of the frozen quantizer.
    */
  def saveIvfPqFrozen(emb: DataFrame, idCol: String, vecCol: String,
                      centroids: DataFrame, cb: PqCodebook,
                      dir: String): Unit = {
    val assigned = Similarity.assignToCentroids(emb, idCol, vecCol, centroids)
    Similarity.saveIvf(Similarity.IvfIndex(assigned, centroids), s"$dir/ivf")
    val codes = encode(emb, idCol, vecCol, cb)
      .join(assigned.select(col(idCol), col("cell")), idCol)
    savePq(codes, cb, s"$dir/pq")
  }

  /** Persist an IVFADC index with a FROZEN quantizer pair (coarse
    * centroids + RESIDUAL codebook): assign, residual-encode, write
    * cell-partitioned — [[saveIvfPqFrozen]] with residual codes. The
    * invariant carries over verbatim: assignment and residual
    * encoding are pure row functions of the frozen quantizers, so
    * append(base, new) must equal a frozen rebuild over the union
    * EXACTLY (v24, ProductQuantSpec).
    */
  def saveIvfPqResidualFrozen(emb: DataFrame, idCol: String, vecCol: String,
                              centroids: DataFrame, cb: PqCodebook,
                              dir: String): Unit = {
    val idx = Similarity.IvfIndex(
      Similarity.assignToCentroids(emb, idCol, vecCol, centroids), centroids)
    Similarity.saveIvf(idx, s"$dir/ivf")
    savePq(encodeResidual(idx, idCol, vecCol, cb), cb, s"$dir/pq")
  }

  /** [[appendToIvfPq]] for an IVFADC index: new vectors assign to the
    * PERSISTED centroids and residual-encode against the persisted
    * codebook — O(|new|), the base corpus never re-read. Removal needs
    * no sibling: [[removeFromIvfPq]] prunes by (id, cell) and never
    * looks at code semantics.
    */
  def appendToIvfPqResidual(spark: org.apache.spark.sql.SparkSession,
                            dir: String, newRows: DataFrame, idCol: String,
                            vecCol: String): Unit =
    appendToIvfPqResidualWith(dir, newRows, idCol, vecCol,
      spark.read.parquet(s"$dir/ivf/centroids"),
      loadPqCodebook(spark, s"$dir/pq"))

  /** [[appendToIvfPqResidual]] against CALLER-loaded quantizers — the
    * streaming-ingestion entry (e45): the centroids and codebook are
    * frozen by construction, so a long-running stream loads them ONCE
    * instead of paying two parquet reads + a codebook collect per
    * micro-batch.
    */
  def appendToIvfPqResidualWith(dir: String, newRows: DataFrame,
                                idCol: String, vecCol: String,
                                centroids: DataFrame,
                                cb: PqCodebook): Unit = {
    val idx = Similarity.IvfIndex(
      Similarity.assignToCentroids(newRows, idCol, vecCol, centroids),
      centroids)
    idx.assigned.write.mode("append").partitionBy("cell")
      .parquet(s"$dir/ivf/assigned")
    encodeResidual(idx, idCol, vecCol, cb)
      .write.mode("append").partitionBy("cell").parquet(s"$dir/pq/codes")
  }

  /** Incremental index maintenance — the daily-crawl story for
    * similarity search, the ANN sibling of dedup's incremental
    * connected components: encode NEW vectors against the PERSISTED
    * centroids and codebook (both frozen at build time — no refit, no
    * corpus re-scan) and append them to the cell-partitioned
    * assigned/codes tables. Cost is O(|new|): the new rows broadcast-
    * join the tiny centroid table, encode map-side, and land in their
    * cells' partitions; the base corpus is never read, let alone
    * reshuffled. Because assignment and encoding are pure row
    * functions of the frozen quantizer, the index afterwards is
    * IDENTICAL to a [[saveIvfPqFrozen]] build over the union
    * (spec- and v14-gated as exact equality, not recall).
    *
    * Caller contract: `newRows` ids are genuinely new — appending an
    * id already in the index duplicates it (this layer is
    * append-only, like the parquet files it writes; upsert belongs to
    * a table format above it).
    */
  def appendToIvfPq(spark: org.apache.spark.sql.SparkSession, dir: String,
                    newRows: DataFrame, idCol: String,
                    vecCol: String): Unit = {
    val centroids = spark.read.parquet(s"$dir/ivf/centroids")
    val (_, cb) = loadPq(spark, s"$dir/pq")
    val assigned = Similarity.assignToCentroids(newRows, idCol, vecCol,
      centroids)
    assigned.write.mode("append").partitionBy("cell")
      .parquet(s"$dir/ivf/assigned")
    val codes = encode(newRows, idCol, vecCol, cb)
      .join(assigned.select(col(idCol), col("cell")), idCol)
    codes.write.mode("append").partitionBy("cell").parquet(s"$dir/pq/codes")
  }

  /** Query a [[saveIvfPq]] index from disk: probe cells against the
    * persisted centroids, ADC-score ONLY the probed cells' code
    * partitions, exact-rerank candidates against the persisted
    * vectors. Answers are identical to the in-memory [[ivfPqTopK]]
    * over the same corpus (spec-verified) — the index build cost is
    * paid once, not per query session.
    */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, dir: String,
                       idCol: String, vecCol: String, queryIds: Seq[Long],
                       k: Int, nProbe: Int, candidateK: Int): DataFrame = {
    require(candidateK >= k, s"candidateK=$candidateK must be >= k=$k")
    val idx = Similarity.loadIvf(spark, s"$dir/ivf")
    val (codes, cb) = loadPq(spark, s"$dir/pq")
    val q = idx.assigned.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val probes = q.crossJoin(broadcast(idx.centroids))
      .withColumn("d2", round(Similarity.dot(col("centroid"), col("centroid"))
        - lit(2.0) * Similarity.dot(col("q_vec"), col("centroid")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))
    val probeSet = probes.withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), lutFor(col("q_vec"), cb).as("__lut"), col("cell"))
    val normLut = array((0 until cb.m).map { j =>
      array((0 until cb.ks).map(c => lit(cb.sliceNorm2(j, c))): _*)
    }: _*)
    val ip = (0 until cb.m)
      .map(j => element_at(element_at(col("__lut"), j + 1),
        element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val n2 = (0 until cb.m)
      .map(j => element_at(element_at(normLut, j + 1),
        element_at(col("codes"), j + 1) + 1))
      .reduce(_ + _)
    val cands = codes.select(col(idCol).as("neighbor_id"), col("codes"), col("cell"))
      .join(broadcast(probeSet), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim",
        round(when(n2 > 0, ip / sqrt(n2)).otherwise(lit(0.0)), 6))
    val picked = Similarity.topK(cands, candidateK)
      .select(col("query_id"), col("neighbor_id"))
    val c = idx.assigned.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"), Similarity.l2norm(col(vecCol)).as("c_nrm"))
    val qv = idx.assigned.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec2"),
        Similarity.l2norm(col(vecCol)).as("q_nrm"))
    val scored = c.join(broadcast(picked.join(qv, "query_id")), "neighbor_id")
      .withColumn("cos_sim",
        round(Similarity.dot(col("q_vec2"), col("c_vec")) /
          (col("q_nrm") * col("c_nrm")), 6))
    Similarity.topK(scored, k)
  }

  /** Remove ids from a persisted IVF-PQ index, rewriting ONLY the
    * cells that contain them — [[appendToIvfPq]]'s other direction
    * (takedowns, dedup retractions, TTL expiry). The removal set
    * joins the assigned table to find its cells (≤ nCells values — a
    * bounded collect), the surviving rows of THOSE cells are
    * anti-joined and written back under dynamic partition overwrite
    * (a derived session carries the conf, the Bloom pattern — the
    * caller's session is never mutated), and cells left EMPTY are
    * deleted explicitly (dynamic overwrite cannot write an empty
    * partition, so without the delete their stale files would
    * survive). Untouched cells' files are never read or written:
    * cost is O(rows in affected cells), not O(index).
    *
    * The quantizer is untouched, so remove(base ∪ X, X) equals a
    * [[saveIvfPqFrozen]] build over base exactly — the v15 gate's
    * claim.
    */
  def removeFromIvfPq(spark: org.apache.spark.sql.SparkSession, dir: String,
                      removeIds: DataFrame, idCol: String,
                      tables: Seq[String] = Seq("ivf/assigned", "pq/codes")): Unit = {
    import org.apache.spark.sql.graftbridge.SessionBridge
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // materialize the removal set BEFORE any overwrite: a caller-built
    // frame may derive from the index's own files (e.g. "everything in
    // cell 7"), and its plan would re-list those files after we
    // rewrote them — localCheckpoint truncates that lineage eagerly
    val ids = SessionBridge.inSession(
      removeIds.select(col(idCol)).distinct(), s).localCheckpoint()
    def prune(table: String): Unit = {
      val full = s.read.parquet(s"$dir/$table")
      val affected = full.join(ids, idCol)
        .select(col("cell")).distinct()
        .collect().map(_.getAs[Int]("cell")).toSeq
      if (affected.isEmpty) return
      val scoped = full.filter(col("cell").isInCollection(affected))
      val remaining = scoped.join(ids, Seq(idCol), "left_anti")
      // Spark refuses to overwrite a path that appears in the read
      // plan, so the survivors stage through a scratch dir first —
      // bounded by the affected cells' rows, the same O(affected)
      val tmp = graft.core.Staging.tmpDir(
        "ivfpq_remove_" + table.replace('/', '_'))
      remaining.write.mode("overwrite").parquet(tmp)
      val staged = s.read.parquet(tmp)
      staged.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$dir/$table")
      val stillThere = staged.select(col("cell")).distinct()
        .collect().map(_.getAs[Int]("cell")).toSet
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir match {
          case d if d.contains("://") => d
          case d => s"file:$d"
        }), s.sparkContext.hadoopConfiguration)
      affected.filterNot(stillThere).foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$table/cell=$c"), true)
      }
    }
    tables.foreach(prune)
  }

  /** Persist a PQ index: the codes table (cell-partitioned when a
    * `cell` column is present, so IVF-PQ probing prunes files) plus
    * the codebook seeds — the saveIvf contract extended to the
    * compressed regime. At 100 TB the codes parquet is ~32× smaller
    * than the vectors it stands in for; rebuilding it per run would
    * re-scan the full corpus, so persistence IS the scale feature.
    */
  def savePq(codes: DataFrame, cb: PqCodebook, dir: String): Unit = {
    val spark = codes.sparkSession
    // REBALANCE by cell before the partitioned write — the saveIvf
    // small-files discipline (≤512 sliver files → ~one right-sized
    // file per cell locally; AQE splits oversized cells at scale)
    val laidOut =
      if (codes.columns.contains("cell")) codes.hint("rebalance", col("cell"))
      else codes
    val writer = laidOut.write.mode("overwrite")
    (if (codes.columns.contains("cell")) writer.partitionBy("cell") else writer)
      .parquet(s"$dir/codes")
    import spark.implicits._
    cb.seeds.zipWithIndex.map { case (v, c) => (c, v) }
      .toDF("c", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
    Seq((cb.m, cb.ks, cb.dim)).toDF("m", "ks", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Reload a persisted PQ index; the codebook round-trips exactly
    * (doubles stored losslessly), so reloaded ADC scores are
    * bit-identical to the building session's.
    */
  def loadPq(spark: org.apache.spark.sql.SparkSession,
             dir: String): (DataFrame, PqCodebook) =
    (spark.read.parquet(s"$dir/codes"), loadPqCodebook(spark, dir))

  /** Load ONLY the codebook + meta (no codes scan) — what append-side
    * maintenance needs: an index freshly initialized over an EMPTY
    * corpus (the streaming-ingestion bootstrap, e45) has no code
    * files yet, and parquet schema inference over the empty dir
    * would fail.
    */
  def loadPqCodebook(spark: org.apache.spark.sql.SparkSession,
                     dir: String): PqCodebook = {
    import spark.implicits._
    val m = spark.read.parquet(s"$dir/meta")
      .select(col("m")).as[Int].head()
    val seeds = spark.read.parquet(s"$dir/codebook")
      .orderBy(col("c")).select(col("seed"))
      .as[Seq[Double]].collect().toSeq
    PqCodebook(seeds, m)
  }

  /** Two-stage PQ: ADC candidate generation (`candidateK` per query
    * from the 32×-compressed codes scan) + exact full-precision
    * re-rank of the candidates only — the standard production shape
    * (compressed first pass pays the scan, exact second pass pays only
    * candidateK rows per query). Same candidate-pool-scales-with-N
    * contract as rpRerankTopK.
    */
  def pqRerankTopK(emb: DataFrame, idCol: String, vecCol: String,
                   queryIds: Seq[Long], k: Int, cb: PqCodebook,
                   candidateK: Int): DataFrame = {
    require(candidateK >= k, s"candidateK=$candidateK must be >= k=$k")
    val cands = adcTopK(emb, idCol, vecCol, queryIds, candidateK, cb)
      .select(col("query_id"), col("neighbor_id"))
    val clean = emb.filter(Similarity.scorable(col(vecCol)))
    val q = clean.filter(col(idCol).isInCollection(queryIds))
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        Similarity.l2norm(col(vecCol)).as("q_nrm"))
    val c = clean.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      Similarity.l2norm(col(vecCol)).as("c_nrm"))
    val scored = c.join(broadcast(cands.join(q, "query_id")), "neighbor_id")
      .withColumn("cos_sim",
        round(Similarity.dot(col("q_vec"), col("c_vec")) /
          (col("q_nrm") * col("c_nrm")), 6))
    Similarity.topK(scored, k)
  }
}
