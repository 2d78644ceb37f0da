package graft.operators

import graft.core.Tables
import graft.multimodal.BinaryOps
import graft.streaming.EventStream
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming + multimodal queries. `e3_stream_windows` drives the full
  * Structured Streaming micro-batch machinery (file source → watermark
  * → tumbling windows → memory sink) and must produce EXACTLY the
  * batch rollup — its oracle is the same SQL as `e1_event_windows`.
  */
object StreamMediaCatalog {

  private val streamNo = new AtomicInteger(0)

  /** Real mixed-modality media table for the m1/m2 gates: even docs a
    * real BMP whose pixel bytes are the doc's utf-8 bytes (zero-padded
    * to w·h·3, dims ≥ 2×2 so the first FeatureDim bytes always fit),
    * odd docs a real mono 16-bit WAV whose samples are the byte
    * values. Deterministic per doc_id, so DuckDB can predict the
    * decoded features from `text` alone.
    */
  private def mixedRealMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        if (id % 2 == 0) {
          val w = 2 + (id % 6).toInt
          val h = 2 + (id % 4).toInt
          val px = Array.tabulate(w * h * 3)(i =>
            if (i < bytes.length) bytes(i) else 0.toByte)
          (id, BinaryOps.encodeBmp(w, h, px), "image/bmp", w, h)
        } else {
          val n = 8 + (id % 16).toInt
          val samples = Array.tabulate(n)(j =>
            (if (j < bytes.length) bytes(j) & 0xff else 0).toShort)
          (id, BinaryOps.encodeWav(8000, 1, samples), "audio/wav", 0, 0)
        }
      }
      .toDF("doc_id", "payload", "format", "width", "height")
  }

  /** m12/e19 shared IMA-ADPCM payload: 1-3 blocks per doc, every
    * header field and nibble byte a pure function of doc_id — the
    * SAME formulas AdpcmDecodeSql restates, kept in exactly one place
    * so the batch gate, the stream gate, and the oracle cannot
    * desynchronize.
    */
  // ---- perceptual-hash fixtures (m13/m14/m15 + the bench entry) -------
  // One BMP per doc, pixels a nonlinear integer formula of
  // (src, x, y, c) — nonlinear in x/y so dHashes are near-unique across
  // docs (a linear gradient collapses to a handful of hash values and
  // the band join degenerates). Every 7th doc also emits a NEAR-DUP
  // variant at id+8e6: the same image with one byte perturbed (+64 at
  // pixel (0,0) channel B). That source pixel covers up to a 2×2 block
  // of the 9×8 luma grid (for w ≤ 8, gx∈{0,1} both map to source x=0;
  // likewise gy for h ≤ 7), so up to TWO comparison bits can flip —
  // hamming ≤ 2, safely inside the gate's ≤ 3 budget but NOT ≤ 1.
  // Same construction on both engines; shared with the bench entry
  // (Pipelines.imageNearDup) so gate and bench measure one corpus.
  private[graft] val DHashVariantOffset = 8000000L

  private def dhashPixel(src: Long, x: Int, y: Int, c: Int): Int =
    ((src * 31 + y.toLong * y * 7 + x.toLong * x * 5 + x.toLong * y * 3 + c)
      % 256).toInt

  /** The dHash fixture image for one source id — dims and pixel bytes
    * pure functions of `src`, one optionally-perturbed byte at (0,0)B.
    * SINGLE source of truth for the gate/bench corpus (the r13 review
    * deduplicated Pipelines.imageNearDup onto dhashPayloads; DocStreamSpec
    * calls this directly so a formula tweak can never decouple a spec
    * from what the gates measure).
    */
  private[graft] def dhashImage(src: Long, pert: Int): Array[Byte] = {
    val w = 6 + (src % 5).toInt
    val h = 5 + (src % 4).toInt
    val px = Array.tabulate(w * h * 3) { i =>
      val c = i % 3; val x = (i / 3) % w; val y = i / (3 * w)
      (((dhashPixel(src, x, y, c) + (if (i == 0) pert else 0)) % 256)).toByte
    }
    BinaryOps.encodeBmp(w, h, px)
  }

  private[graft] def dhashPayloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    ids.map(id => (id, dhashImage(id, 0)))
      .union(ids.filter(_ % 7 == 0)
        .map(id => (id + DHashVariantOffset, dhashImage(id, 64))))
      .toDF("doc_id", "payload")
  }

  /** DuckDB replay of the full m13 chain — fixture pixel formula →
    * nearest-neighbor 9×8 source mapping → integer luma → 64 ordered
    * comparison bits aggregated to the hash string. The `pert` branch
    * applies only where the source pixel is (0,0), channel B — exactly
    * the engine fixture's one perturbed byte.
    */
  private def dhashOracleCte: String = {
    val sx = "((gx.x * w) // 9)"
    val sy = "((gy.y * h) // 8)"
    val base = s"(src*31 + $sy*$sy*7 + $sx*$sx*5 + $sx*$sy*3)"
    s"""d AS (SELECT doc_id, doc_id AS src, 0 AS pert FROM documents
       |  UNION ALL
       |  SELECT doc_id + $DHashVariantOffset, doc_id AS src, 64 AS pert
       |  FROM documents WHERE doc_id % 7 = 0),
       |dm AS (SELECT doc_id, src, pert,
       |    6 + src % 5 AS w, 5 + src % 4 AS h FROM d),
       |grid AS (SELECT doc_id, gx.x AS gx, gy.y AS gy,
       |    (77 * (($base + 2) % 256) + 150 * (($base + 1) % 256)
       |     + 29 * ((CASE WHEN $sx = 0 AND $sy = 0
       |              THEN $base + pert ELSE $base END) % 256)) // 256 AS luma
       |  FROM dm CROSS JOIN LATERAL unnest(range(0, 9)) AS gx(x)
       |          CROSS JOIN LATERAL unnest(range(0, 8)) AS gy(y)),
       |bits AS (SELECT a.doc_id, a.gy, a.gx,
       |    CASE WHEN b.luma > a.luma THEN '1' ELSE '0' END AS bit
       |  FROM grid a JOIN grid b
       |    ON a.doc_id = b.doc_id AND a.gy = b.gy AND b.gx = a.gx + 1
       |  WHERE a.gx < 8),
       |hashes AS (SELECT doc_id, string_agg(bit, '' ORDER BY gy, gx) AS dhash
       |  FROM bits GROUP BY doc_id)""".stripMargin
  }

  /** Banding + chain-cap + hamming CTE chain over `hashes` (from
    * [[dhashOracleCte]]) — ends in `pairs(a_id, b_id, hamming)`.
    * Replays simhashCandidates' bucketCap=32 sorted-adjacency logic
    * exactly (LAG over (hash, id) order within the bucket).
    */
  private def dhashPairsCtes: String = {
    val hamming = (1 to 64)
      .map(i => s"CASE WHEN substr(ha, $i, 1) <> substr(hb, $i, 1) THEN 1 ELSE 0 END")
      .mkString(" + ")
    val bands = (0 until 4)
      .map(bnd => s"SELECT doc_id, dhash, $bnd AS band, substr(dhash, ${bnd * 16 + 1}, 16) AS key FROM hashes")
      .mkString("\n  UNION ALL\n  ")
    s"""banded AS MATERIALIZED (
       |  $bands),
       |chainw AS MATERIALIZED (SELECT band, key, doc_id, dhash,
       |    COUNT(*) OVER (PARTITION BY band, key) AS c,
       |    MIN(doc_id) OVER (PARTITION BY band, key, dhash) AS runmin,
       |    LAG(doc_id) OVER (PARTITION BY band, key ORDER BY dhash, doc_id) AS pid,
       |    LAG(dhash) OVER (PARTITION BY band, key ORDER BY dhash, doc_id) AS psim
       |  FROM banded),
       |cand AS (
       |  SELECT a.doc_id AS a_id, a.dhash AS ha, b.doc_id AS b_id, b.dhash AS hb
       |  FROM chainw a JOIN chainw b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  WHERE a.c <= 32
       |  UNION ALL
       |  SELECT runmin, dhash, doc_id, dhash
       |  FROM chainw WHERE c > 32 AND doc_id <> runmin
       |  UNION ALL
       |  SELECT LEAST(pid, doc_id),
       |    CASE WHEN pid < doc_id THEN psim ELSE dhash END,
       |    GREATEST(pid, doc_id),
       |    CASE WHEN pid < doc_id THEN dhash ELSE psim END
       |  FROM chainw WHERE c > 32 AND pid IS NOT NULL AND psim <> dhash),
       |pairs AS (SELECT DISTINCT a_id, b_id, $hamming AS hamming FROM cand)""".stripMargin
  }

  // ---- audio perceptual-hash fixtures (m16/m17 + the bench entry) ----
  // One mono 16-bit PCM WAV per doc, 260 samples (65 frames × 4), each
  // sample a nonlinear integer formula of (src, j) — nonlinear in j so
  // frame energies (and hence hashes) are near-unique across docs.
  // Every 7th doc also emits a NEAR-DUP variant at id+8.5e6: the same
  // clip with samples 0 and 9 perturbed (+40000 pre-mod). Sample 0
  // lives in frame 0 (flips at most comparison bit 0), sample 9 in
  // frame 2 (bits 1 and 2) — hamming ≤ 3, inside the gate's band
  // budget, and all flips land in band 0 so bands 1–3 still match.
  // Same construction on both engines; shared with the bench entry.
  private[graft] val AudioVariantOffset = 8500000L

  private def audioSample(src: Long, j: Int, pert: Boolean): Short = {
    val bump = if (pert && (j == 0 || j == 9)) 40000L else 0L
    (((src * 31 + j.toLong * j * 7 + j.toLong * 13 + bump) % 65536L)
      - 32768L).toShort
  }

  /** The m16 fixture clip for one source id — the single source of
    * truth for the gate/bench corpus (the dhashImage discipline).
    */
  private[graft] def audioClip(src: Long, pert: Boolean): Array[Byte] =
    BinaryOps.encodeWav(8000, 1,
      Array.tabulate(260)(j => audioSample(src, j, pert)))

  private[graft] def audioPayloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    ids.map(id => (id, audioClip(id, pert = false)))
      .union(ids.filter(_ % 7 == 0)
        .map(id => (id + AudioVariantOffset, audioClip(id, pert = true))))
      .toDF("doc_id", "payload")
  }

  /** DuckDB replay of the full m16 chain — fixture sample formula →
    * per-frame int64 energy sums → 64 ordered comparison bits. Ends in
    * `hashes(doc_id, dhash)` so [[dhashPairsCtes]] (banding + chain
    * cap + hamming) composes verbatim, and `ad` is the id universe for
    * the components CTE.
    */
  private def audioHashOracleCte: String =
    s"""ad AS (SELECT doc_id, doc_id AS src, 0 AS pert FROM documents
       |  UNION ALL
       |  SELECT doc_id + $AudioVariantOffset, doc_id AS src, 1 AS pert
       |  FROM documents WHERE doc_id % 7 = 0),
       |asam AS (SELECT doc_id, j.j // 4 AS f,
       |    ((src * 31 + j.j * j.j * 7 + j.j * 13
       |      + CASE WHEN pert = 1 AND (j.j = 0 OR j.j = 9)
       |             THEN 40000 ELSE 0 END) % 65536) - 32768 AS s
       |  FROM ad CROSS JOIN LATERAL unnest(range(0, 260)) AS j(j)),
       |aen AS (SELECT doc_id, f, CAST(SUM(s * s) AS BIGINT) AS e
       |  FROM asam GROUP BY doc_id, f),
       |hashes AS (SELECT a.doc_id,
       |    string_agg(CASE WHEN b.e > a.e THEN '1' ELSE '0' END, ''
       |               ORDER BY a.f) AS dhash
       |  FROM aen a JOIN aen b ON a.doc_id = b.doc_id AND b.f = a.f + 1
       |  WHERE a.f < 64
       |  GROUP BY a.doc_id)""".stripMargin

  private def adpcmFixture(id: Long): Array[Byte] = {
    val nBlocks = 1 + (id % 3).toInt
    val blocks = (0 until nBlocks).map { b =>
      val pred0 = (((id * 37 + b * 101) % 65536) - 32768).toShort
      val idx0 = ((id + 13 * b) % 89).toInt
      val data = Array.tabulate(8)(j =>
        ((id * 11 + b * 17 + j * 29) % 256).toByte)
      (pred0, idx0, data)
    }
    BinaryOps.encodeWavIma(8000, blocks)
  }

  /** Stage parts as separate files with STRICTLY INCREASING pinned
    * mtimes — the file source orders micro-batches by modification
    * time with arbitrary tie-break, so any ORDER-SENSITIVE fold (e41's
    * mini-batch training; unlike the order-free e22/e32/e36 folds)
    * must pin the delivery order explicitly (the DocStreamSpec
    * token-budget lesson).
    */
  private def stageOrderedBatches(name: String,
                                  parts: Seq[DataFrame]): String = {
    val base = graft.core.Staging.tmpDir(name + "_stage")
    val out = graft.core.Staging.tmpDir(name)
    val t0 = System.currentTimeMillis() - 600000L
    parts.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.parquet(s"$base/b$i")
      val src = java.nio.file.Paths.get(base, s"b$i")
      // close the directory stream (Files.list holds a handle open
      // until closed — one leaked per staged micro-batch otherwise,
      // the Staging.deleteRecursively walk.close() discipline)
      val listing = java.nio.file.Files.list(src)
      try {
        listing.filter(_.toString.endsWith(".parquet"))
          .forEach { q =>
            val dst = java.nio.file.Paths.get(out, s"b${i}_${q.getFileName}")
            java.nio.file.Files.copy(q, dst)
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(t0 + i * 60000L))
          }
      } finally listing.close()
    }
    out
  }

  /** The e42/e46 Sculley-weighted mini-batch chain in long-form state
    * (batches → hash-pick init → per-batch derive/assign/accumulate),
    * WITHOUT a final SELECT — e42 reads the final state, e46 serves a
    * full assignment under it, and sharing the CTE body keeps the two
    * spellings from drifting.
    */
  private lazy val weightedKmeansCtes: String = {
    val S = graft.similarity.Similarity.Sql
    // scorable mirrored on every batch CTE (and hence the kcb seed
    // pick, which selects from b0): the engine filters both the seed
    // frame and each step's assignToCentroids input, so the oracle
    // must not lean on the all-vectors-scorable fixture pin — a regen
    // with a defective embedding would otherwise diverge instead of
    // failing loudly (the dc3 computed-probe lesson, r16 advice)
    val batches = (0 to 2).map(r =>
      s"""b$r AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 3 = $r AND ${S.scorable("embedding")})""".stripMargin)
      .mkString(",\n")
    val steps = (0 to 2).map { r =>
      s"""w$r AS MATERIALIZED (SELECT st.cell,
         |    list(CASE WHEN st.n > 0
         |      THEN CAST(st.s AS DOUBLE) / 1000000000.0 / CAST(st.n AS DOUBLE)
         |      ELSE c0.centroid[st.dim] END ORDER BY st.dim) AS centroid
         |  FROM s$r st JOIN c0 ON c0.cell = st.cell GROUP BY st.cell),
         |a${r + 1} AS MATERIALIZED (
         |  ${S.kmeansAssign(s"b$r", "vec_id", "embedding", s"w$r")}),
         |bs${r + 1} AS MATERIALIZED (SELECT cell, d.dim,
         |    CAST(SUM(CAST(FLOOR(CAST(embedding[d.dim] AS DOUBLE) * 1000000000.0) AS BIGINT)) AS BIGINT) AS s,
         |    COUNT(*) AS n
         |  FROM a${r + 1} CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) d
         |  GROUP BY cell, d.dim),
         |s${r + 1} AS MATERIALIZED (SELECT p.cell, p.dim,
         |    CAST(p.s + COALESCE(b.s, 0) AS BIGINT) AS s,
         |    CAST(p.n + COALESCE(b.n, 0) AS BIGINT) AS n
         |  FROM s$r p LEFT JOIN bs${r + 1} b ON b.cell = p.cell AND b.dim = p.dim)""".stripMargin
    }.mkString(",\n")
    s"""$batches,
       |kcb AS MATERIALIZED (SELECT vec_id, embedding FROM b0
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
       |c0 AS MATERIALIZED (SELECT
       |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM kcb),
       |s0 AS MATERIALIZED (SELECT cell, d.dim,
       |    CAST(0 AS BIGINT) AS s, CAST(0 AS BIGINT) AS n
       |  FROM c0 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS dim) d),
       |$steps""".stripMargin
  }

  /** Stage one fixture parquet behind a fresh symlink directory (file
    * sources want a directory); shared by every file-source stream
    * gate so the staging convention lives in one place.
    */
  private def stageFixtureDir(name: String, dir: String,
                              file: String): String = {
    val d = java.nio.file.Paths.get(graft.core.Staging.tmpDir(name))
    java.nio.file.Files.createSymbolicLink(
      d.resolve(file), java.nio.file.Paths.get(s"$dir/$file"))
    d.toString
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e3_stream_windows" -> ((spark, dir) => {
      // file source wants a directory: expose the fixture via symlink
      val d = java.nio.file.Paths.get(stageFixtureDir("stream", dir, "events.parquet"))
      val rolled = EventStream.tumblingCounts(EventStream.read(spark, d.toString))
      EventStream.runToMemory(spark, rolled,
        s"stream_windows_${streamNo.incrementAndGet()}")
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // M1 — media features over REAL ENCODED PAYLOADS end-to-end: even
    // docs become a real BMP (pixel bytes = the doc's utf-8 bytes,
    // zero-padded; dims sized so w·h·3 ≥ FeatureDim), odd docs a real
    // 16-bit PCM WAV (samples = byte values) — then the format-
    // dispatching REAL extractor decodes each and emits normalized
    // features. The oracle predicts every feature from the text bytes
    // (ASCII fixture ⇒ byte = codepoint) without touching a codec.
    "m1_media_features" -> ((spark, dir) => {
      import spark.implicits._
      val media = mixedRealMedia(spark, dir)
      val feats = BinaryOps.extractFeaturesReal(media)
      val fCols = (0 until BinaryOps.FeatureDim).map(i =>
        element_at(col("features"), i + 1).as(s"f$i"))
      feats.toDF().select(
        Seq(col("doc_id"), col("format"), col("width"), col("height")) ++ fCols: _*)
        .orderBy(col("doc_id"))
    }),

    // M3 — REAL codec roundtrip: synthesize an uncompressed 24-bit BMP
    // per doc (dims and pixel bytes pure functions of doc_id), decode
    // it with the real byte-level parser, and emit header dims, corner
    // channel probes (top-left proves the bottom-up un-flip,
    // bottom-right the row stride/padding), and an integer red-channel
    // sum. All-integer output; the oracle restates the pixel formula
    // arithmetically without ever parsing a BMP.
    "m3_bmp_decode" -> ((spark, dir) => {
      import spark.implicits._
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val w = 2 + (id % 6).toInt
          val h = 1 + (id % 4).toInt
          val px = Array.tabulate(w * h * 3) { i =>
            val c = i % 3; val x = (i / 3) % w; val y = i / (3 * w)
            ((id * 31 + y * 7 + x * 3 + c) % 256).toByte
          }
          (id, BinaryOps.encodeBmp(w, h, px))
        }
        .toDF("doc_id", "payload")
      BinaryOps.bmpStats(payloads).toDF().orderBy(col("doc_id"))
    }),

    // M10 — REAL palette image codec (GIF via the JDK's LZW reader):
    // grayscale ramps (≤256 colors) make the exact-palette encode
    // LOSSLESS, so decoded pixels are gated integer-EXACT — no m8-style
    // tolerance band; dims/corners/channel-sum restate the synthesis
    // formula in SQL
    "m10_gif_decode" -> ((spark, dir) => {
      import spark.implicits._
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val w = 2 + (id % 5).toInt
          val h = 1 + (id % 3).toInt
          val px = Array.tabulate(w * h * 3) { i =>
            val x = (i / 3) % w; val y = i / (3 * w)
            ((id * 29 + y * 5 + x * 11) % 256).toByte
          }
          (id, BinaryOps.encodeGif(w, h, px))
        }
        .toDF("doc_id", "payload")
      BinaryOps.gifStats(payloads).toDF().orderBy(col("doc_id"))
    }),

    // M7 — REAL video frame-sampling: an uncompressed-DIB AVI per doc
    // (dims/frame-count/pixels pure functions of doc_id), decoded with
    // the real RIFF walker, every 2nd frame probed — frame-stride
    // ingestion on real container bytes, all-integer oracle
    "m7_avi_frames" -> ((spark, dir) => {
      import spark.implicits._
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val w = 2 + (id % 4).toInt
          val h = 1 + (id % 3).toInt
          val nf = 3 + (id % 5).toInt
          val frames = (0 until nf).map { f =>
            Array.tabulate(w * h * 3) { i =>
              val c = i % 3; val x = (i / 3) % w; val y = i / (3 * w)
              ((id * 37 + f * 13 + y * 7 + x * 3 + c) % 256).toByte
            }
          }
          (id, BinaryOps.encodeAvi(w, h, fps = 10, frames))
        }
        .toDF("doc_id", "payload")
      BinaryOps.aviFrameSample(payloads, stride = 2)
        .toDF().orderBy(col("doc_id"), col("frame_idx"))
    }),

    // M6 — decode + REAL pixel resize: each doc's BMP (m3 formula)
    // thumbnailed to 4×3 nearest-neighbor; probes hit three distinct
    // source pixels via the floor(x2·w/outW) mapping, all integer
    "m6_resize" -> ((spark, dir) => {
      import spark.implicits._
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val w = 2 + (id % 6).toInt
          val h = 1 + (id % 4).toInt
          val px = Array.tabulate(w * h * 3) { i =>
            val c = i % 3; val x = (i / 3) % w; val y = i / (3 * w)
            ((id * 31 + y * 7 + x * 3 + c) % 256).toByte
          }
          (id, BinaryOps.encodeBmp(w, h, px))
        }
        .toDF("doc_id", "payload")
      BinaryOps.resizedStats(payloads, outW = 4, outH = 3)
        .toDF().orderBy(col("doc_id"))
    }),

    // M13 — perceptual dHash over REAL decoded BMPs: decode → 9×8
    // nearest resize → integer luma → 64-bit difference hash (as a
    // bit string, the simhash banding convention). The oracle replays
    // the whole chain arithmetically from the pixel formula.
    "m13_dhash" -> ((spark, dir) =>
      BinaryOps.dHashes(dhashPayloads(spark, dir)).toDF()
        .orderBy(col("doc_id"))),

    // M14 — image NEAR-DUP via dHash banding: hamming ≤ 3 pairs agree
    // on one of four 16-bit bands (pigeonhole), so candidates come
    // from an equi-join — the same scale shape as text SimHash — and
    // band buckets past 32 members emit STAR pairs only (the LSH
    // bucket-cap discipline; a 1028-member bucket at sf0.1 made the
    // all-pairs spelling quadratic). The oracle replays the cap.
    "m14_dhash_neardup" -> ((spark, dir) =>
      graft.dedup.TextDedup.simhashCandidates(
        BinaryOps.dHashes(dhashPayloads(spark, dir)).toDF()
          .withColumnRenamed("dhash", "simhash"),
        "doc_id", maxHamming = 3, bits = 64, bucketCap = 32)
        .orderBy(col("a_id"), col("b_id"))),

    // M15 — the image-dedup loop CLOSED: corpus → dHash → banded
    // near-dup pairs → connected components — one component per
    // duplicate-image cluster, the artifact an image-dedup pass
    // actually keys its canonical pick on. CC goes through LOG-STAR,
    // not min-label: a capped bucket whose members have DISTINCT
    // hashes emits its boundary edges as a sorted CHAIN, and if
    // sort-adjacent hashes are within maxHamming (smooth-gradient /
    // burst-frame corpora) the chain survives the filter — min-label
    // needs ~chain-length supersteps and aborts at maxIter, while
    // log-star converges in O(log n) rounds regardless of diameter
    // (ComponentsSpec pins the pathology). The fixpoint (min reachable
    // id) is identical, so the recursive-CTE oracle is unchanged.
    "m15_image_components" -> ((spark, dir) => {
      val payloads = dhashPayloads(spark, dir)
      val pairs = graft.dedup.TextDedup.simhashCandidates(
        BinaryOps.dHashes(payloads).toDF()
          .withColumnRenamed("dhash", "simhash"),
        "doc_id", maxHamming = 3, bits = 64, bucketCap = 32)
      graft.dedup.Components.connectedComponentsLogStar(
        pairs, payloads.select(col("doc_id")), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // M16 — frame-energy sign hash over REAL decoded WAV PCM: decode →
    // 65 frames × 4 samples → exact int64 energy sums → 64 comparison
    // bits (dHash's recipe turned to audio; gain-invariant because a
    // uniform g scales every energy by g²). The oracle replays the
    // whole chain arithmetically from the sample formula.
    "m16_audio_hash" -> ((spark, dir) =>
      BinaryOps.audioHashes(audioPayloads(spark, dir)).toDF()
        .orderBy(col("doc_id"))),

    // M17 — the audio-dedup loop CLOSED (text ✓ image ✓ audio ✓): WAV
    // corpus → energy hash → banded near-dup pairs (the m14 pigeonhole
    // + bucket-cap machinery, verbatim — the hash is a 64-bit string
    // by construction) → LOG-STAR connected components (the m15
    // routing rule: capped-bucket boundary edges can chain, min-label
    // cannot be trusted with the diameter)
    "m17_audio_components" -> ((spark, dir) => {
      val payloads = audioPayloads(spark, dir)
      val pairs = graft.dedup.TextDedup.simhashCandidates(
        BinaryOps.audioHashes(payloads).toDF()
          .withColumnRenamed("ahash", "simhash"),
        "doc_id", maxHamming = 3, bits = 64, bucketCap = 32)
      graft.dedup.Components.connectedComponentsLogStar(
        pairs, payloads.select(col("doc_id")), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // M5 — REAL COMPRESSED codec roundtrip: PNG per doc (JDK DEFLATE +
    // CRC32 + all five scanline filters — heights ≥ 5 so every filter
    // type appears), decoded with the real inflater/un-filter path and
    // compared against the pixel formula restated in SQL
    "m5_png_decode" -> ((spark, dir) => {
      import spark.implicits._
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val w = 2 + (id % 5).toInt
          val h = 5 + (id % 4).toInt
          val px = Array.tabulate(w * h * 3) { i =>
            val c = i % 3; val x = (i / 3) % w; val y = i / (3 * w)
            ((id * 29 + y * 11 + x * 5 + c) % 256).toByte
          }
          (id, BinaryOps.encodePng(w, h, px))
        }
        .toDF("doc_id", "payload")
      BinaryOps.pngStats(payloads).toDF().orderBy(col("doc_id"))
    }),

    // M8 — REAL lossy codec: a baseline JPEG per doc (smooth grayscale
    // gradient, pure function of doc_id, dims NOT multiples of the 8×8
    // DCT block so edge extension is exercised), encoded and decoded
    // through the JDK's independent JPEG codec. Dimensions and pixel
    // count gate EXACTLY; pixel values gate via a pinned ±8 tolerance
    // flag — a wrong stride / row flip / channel swap blows the flag,
    // quantization noise on a smooth gray ramp (channels equal ⇒ no
    // chroma-subsampling error) cannot.
    "m8_jpeg_decode" -> ((spark, dir) => {
      import spark.implicits._
      def source(id: Long): BinaryOps.BmpImage = {
        val w = 9 + (id % 5).toInt
        val h = 9 + (id % 4).toInt
        val px = Array.tabulate(w * h * 3) { i =>
          val x = (i / 3) % w; val y = i / (3 * w)
          ((id % 64) + x * 2 + y * 3).toByte // ≤ 63+24+33 < 256: no wrap
        }
        BinaryOps.BmpImage(w, h, px)
      }
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val s = source(id)
          (id, BinaryOps.encodeJpeg(s.width, s.height, s.pixels))
        }
        .toDF("doc_id", "payload")
      BinaryOps.jpegProbe(payloads, source, tol = 8)
        .toDF().orderBy(col("doc_id"))
    }),

    // M9 — REAL COMPRESSED video: an M-JPEG AVI per doc (each '00dc'
    // chunk a complete JPEG of the same smooth-gradient family as m8,
    // varying per frame), frame-stride sampled through the real RIFF
    // walker + JDK JPEG decode. Frame geometry/count gate exactly;
    // per-frame pixels gate via the ±8 tolerance flag.
    "m9_mjpeg_frames" -> ((spark, dir) => {
      import spark.implicits._
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val w = 9 + (id % 4).toInt
          val h = 9 + (id % 3).toInt
          val nf = 3 + (id % 4).toInt
          val frames = (0 until nf).map { f =>
            Array.tabulate(w * h * 3) { i =>
              val x = (i / 3) % w; val y = i / (3 * w)
              ((id % 40) + f * 2 + x * 2 + y * 3).toByte // ≤ 39+6+22+30
            }
          }
          (id, BinaryOps.encodeAviMjpeg(w, h, fps = 10, frames))
        }
        .toDF("doc_id", "payload")
      payloads.as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, payload) =>
          val w = 9 + (id % 4).toInt
          val h = 9 + (id % 3).toInt
          val nf = 3 + (id % 4).toInt
          BinaryOps.decodeAvi(payload).iterator.flatMap { v =>
            (0 until v.frames.length by 2).iterator.map { fi =>
              val f = v.frames(fi)
              var maxErr = 0
              val geomOk = v.width == w && v.height == h && v.frames.length == nf
              if (geomOk) {
                var i = 0
                while (i < f.length) {
                  val x = (i / 3) % w; val y = i / (3 * w)
                  val expPx = ((id % 40).toInt + fi * 2 + x * 2 + y * 3) & 0xff
                  val e = math.abs((f(i) & 0xff) - expPx)
                  if (e > maxErr) maxErr = e
                  i += 1
                }
              }
              (id, fi, v.width, v.height, v.frames.length.toLong,
                geomOk && maxErr <= 8)
            }
          }
        })
        .toDF("doc_id", "frame_idx", "width", "height", "n_frames", "decode_ok")
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // M4 — REAL audio codec roundtrip: 16-bit PCM WAV per doc (rate,
    // channels, samples all pure functions of doc_id), decoded with the
    // real chunk-walking parser; first/last sample probes catch
    // endianness and data-offset bugs, the integer |amplitude| sum and
    // peak catch sample-width slips. All-integer oracle.
    "m4_wav_decode" -> ((spark, dir) => {
      import spark.implicits._
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val rate = 8000 + (id % 3).toInt * 4000
          val ch = 1 + (id % 2).toInt
          val n = (40 + (id % 40).toInt) * ch
          val samples = Array.tabulate(n)(j =>
            (((id * 13 + j * 17) % 4001) - 2000).toShort)
          (id, BinaryOps.encodeWav(rate, ch, samples))
        }
        .toDF("doc_id", "payload")
      BinaryOps.wavStats(payloads).toDF().orderBy(col("doc_id"))
    }),

    // M11 — REAL COMPRESSED audio codec (G.711, the telephony
    // standard; the JDK ships the same encodings in
    // javax.sound.sampled): per doc the raw mu-law (even ids) or
    // A-law (odd ids) BYTE STREAM is a pure function of doc_id,
    // wrapped in a tag-7/tag-6 WAV and expanded by the real
    // chunk-walking decoder. G.711 expansion is a fixed 256-entry
    // integer table, so the oracle restates it as bit arithmetic and
    // every probe gates integer-EXACT — no tolerance band.
    "m11_g711_decode" -> ((spark, dir) => {
      import spark.implicits._
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val n = 32 + (id % 32).toInt
          val g711 = Array.tabulate(n)(j => ((id * 7 + j * 13) % 256).toByte)
          (id, BinaryOps.encodeWavG711(8000, 1, g711, aLaw = id % 2 == 1))
        }
        .toDF("doc_id", "payload")
      BinaryOps.g711Stats(payloads).toDF().orderBy(col("doc_id"))
    }),

    // M12 — real IMA-ADPCM (WAV tag 0x11) decode: per doc 1–3 blocks,
    // each with a doc_id-derived (predictor, step-index) header and
    // 8 nibble bytes, wrapped in a real tag-0x11 container and decoded
    // by the chunk-walking block decoder. The state machine is pure
    // integer shifts/adds over the 89-entry step table, so the oracle
    // replays it sample-by-sample with a recursive CTE — integer-EXACT
    // like m11, no tolerance band. (No javax.sound cross-check exists:
    // the JDK ships no ADPCM codec — which is exactly why this rung
    // was previously on the fake-codec boundary.)
    "m12_adpcm_decode" -> ((spark, dir) => {
      import spark.implicits._
      val payloads = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map(id => (id, adpcmFixture(id)))
        .toDF("doc_id", "payload")
      BinaryOps.adpcmStats(payloads).toDF().orderBy(col("doc_id"))
    }),

    // E7 — stateful streaming EWMA: keyed mapGroupsWithState carrying
    // (acc, n); single-batch file source ⇒ one Update row per user that
    // must equal the batch secondary-sort fold bit-for-bit (same oracle
    // as ts2_ewma)
    "e7_stream_ewma" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_ewma", dir, "events.parquet"))
      val updates = EventStream.ewmaUpdates(
        EventStream.read(spark, d.toString), alpha = 0.25)
      EventStream.runToMemory(spark, updates.toDF(),
        s"stream_ewma_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Update())
        .orderBy(col("user_id"))
    }),

    // E8 — stateful streaming funnel: same machinery as e7, integer
    // stage state; single-batch source must equal the batch state
    // machine (same oracle as sq1)
    "e8_stream_funnel" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_funnel", dir, "events.parquet"))
      val updates = EventStream.funnelUpdates(
        EventStream.read(spark, d.toString), Seq("signup", "click", "purchase"))
      EventStream.runToMemory(spark, updates.toDF(),
        s"stream_funnel_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Update())
        .orderBy(col("user_id"))
    }),

    // M2 — frame sampling over REAL decoded media: stride-2 sample of
    // the feature vector produced by the real BMP/WAV extractor (the
    // video-frame-sampler contract), exploded to one row per frame —
    // proves the explode/posexplode plumbing over mapPartitions-
    // produced arrays, now fed by real codec output
    "m2_frame_sample" -> ((spark, dir) => {
      val media = mixedRealMedia(spark, dir)
      val frames = BinaryOps.frameSample(
        BinaryOps.extractFeaturesReal(media), stride = 2)
      frames.select(col("doc_id"),
        posexplode(col("sampled")).as(Seq("frame_idx", "v")))
        .withColumn("frame_idx", col("frame_idx").cast("bigint"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // stream-stream interval join (watermarked both sides, time-bounded
    // predicate ⇒ bounded state); inner-join matches emit per
    // micro-batch, so the static-dir run must equal the batch join the
    // oracle spells independently
    "e6_stream_join" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_ss", dir, "events.parquet"))
      val joined = EventStream.purchaseClickJoin(EventStream.read(spark, d.toString))
      EventStream.runToMemory(spark, joined,
        s"stream_ss_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // E9 — streaming curation: the batch quality-filter + PII-redact
    // expressions running stateless in micro-batch (Append, no state
    // store); PII planted in-stream per the pii1 convention, parity
    // with the batch spelling is the gate
    "e9_stream_curation" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_doc", dir, "documents.parquet"))
      val curated = graft.streaming.DocStream.curate(
        graft.streaming.DocStream.read(spark, d.toString)
          .withColumn("text", CurationCatalog.piiText),
        minQuality = 0.4)
      EventStream.runToMemory(spark, curated,
        s"stream_doc_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E12 — streaming per-stratum weighted sampling: top-20 docs per
    // language by n_chars weight in strata×k keyed state; the rank key
    // is a pure row function, so the single-batch stream's Update
    // emission must equal the batch smp2 draw exactly
    "e12_stream_weighted_topk" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_wtopk", dir, "documents.parquet"))
      val kept = graft.streaming.DocStream.weightedTopKUpdates(
        graft.streaming.DocStream.read(spark, d.toString),
        "doc_id", "lang", "n_chars", k = 20, seed = "mix")
      EventStream.runToMemory(spark, kept.toDF(),
        s"stream_wtopk_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Update())
        .orderBy(col("stratum"), col("es_key").desc, col("doc_id"))
    }),

    // E11 — continuous-ingestion dedup vs a historical fingerprint
    // store (planted overlap: every 3rd doc is already "in history");
    // stream-static left-outer+filter, stateless per micro-batch
    "e11_stream_dedup_store" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_dd", dir, "documents.parquet"))
      val store = Tables.documents(spark, dir)
        .filter(col("doc_id") % 3 === 0)
        .select(graft.functions.TextAnalysis
          .normalizedFingerprint(col("text")).as("fp"))
      val deduped = graft.streaming.DocStream.dedupAgainstStore(
        graft.streaming.DocStream.read(spark, d.toString)
          .select(col("doc_id"), col("text")),
        store)
      EventStream.runToMemory(spark, deduped,
        s"stream_dd_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E17 — stateful streaming token-budget admission: per-source
    // state is one long; docs admitted in doc_id order while their
    // start sits inside the budget (the batch keep rule). Must equal
    // the doc_id-ordered batch cumsum spelling exactly.
    "e17_stream_token_budget" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_tb", dir, "documents.parquet"))
      val stream = graft.streaming.DocStream.read(spark, d.toString)
        .select(col("doc_id"), col("source"),
          graft.functions.TextAnalysis.tokenCount(col("text"))
            .cast("long").as("n_toks"))
        // null-text docs drop on BOTH paths (the oracle's cum - n_toks
        // predicate is NULL for them); filtering first keeps the typed
        // encoder away from a null primitive
        .filter(col("n_toks").isNotNull)
      val admitted = graft.streaming.DocStream.tokenBudgetUpdates(
        stream, "doc_id", "source", "n_toks", budget = 800L)
      EventStream.runToMemory(spark, admitted.toDF(),
        s"stream_tb_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E16 — streaming MEDIA decode: the multimodal pipeline's
    // continuous-ingestion face. G.711 payloads (m11's byte formula)
    // stage to parquet, stream in as binary rows, and the REAL
    // partition-batched decoder runs unchanged inside the micro-batch
    // (typed mapPartitions is a stateless projection — no watermark,
    // no state). Must equal the batch m11 gate exactly, which is the
    // point: payload decode composes with streams for free because it
    // never needed an aggregation.
    "e16_stream_media" -> ((spark, dir) => {
      import spark.implicits._
      val staged = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map { id =>
          val n = 32 + (id % 32).toInt
          val g711 = Array.tabulate(n)(j => ((id * 7 + j * 13) % 256).toByte)
          (id, BinaryOps.encodeWavG711(8000, 1, g711, aLaw = id % 2 == 1))
        }
        .toDF("doc_id", "payload")
      val d = graft.core.Staging.tmpDir("stream_media")
      staged.write.mode("overwrite").parquet(d)
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("payload",
            org.apache.spark.sql.types.BinaryType))))
        .parquet(d)
      EventStream.runToMemory(spark, BinaryOps.g711Stats(stream).toDF(),
        s"stream_media_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E19 — streaming IMA-ADPCM decode: m12's stateful-ARITHMETIC
    // codec (per-block predictor walk) is still a STATELESS stream
    // operator, because blocks re-seed state inside one payload — so
    // adpcmStats runs unchanged on a binary file stream, Append mode,
    // no watermark (same composition claim as e16, one codec up)
    "e19_stream_adpcm" -> ((spark, dir) => {
      import spark.implicits._
      val staged = Tables.documents(spark, dir).select(col("doc_id"))
        .as[Long]
        .map(id => (id, adpcmFixture(id)))
        .toDF("doc_id", "payload")
      val d = graft.core.Staging.tmpDir("stream_adpcm")
      staged.write.mode("overwrite").parquet(d)
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("payload",
            org.apache.spark.sql.types.BinaryType))))
        .parquet(d)
      EventStream.runToMemory(spark, BinaryOps.adpcmStats(stream).toDF(),
        s"stream_adpcm_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E15 — streaming PSI drift monitor against a frozen baseline:
    // yesterday's snapshot fixes bounds + q as plan literals, today's
    // (planted-shift) snapshot streams in, one Complete-mode agg row
    // refreshes PSI per micro-batch. Converged answer must equal the
    // batch dd2 arithmetic exactly over the same snapshot pair.
    "e15_stream_psi" -> ((spark, dir) => {
      val ev = Tables.events(spark, dir)
      val base = ev.select(col("value"))
      val shifted = ev.select(
        when(col("event_id") % 4 === 0, col("value") + 5.0)
          .otherwise(col("value")).as("value"))
      val d = graft.core.Staging.tmpDir("stream_psi")
      shifted.write.mode("overwrite").parquet(d)
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType))))
        .parquet(d)
      val psi = Drift.psiStream(stream, "value", base, "value", nBuckets = 10)
      EventStream.runToMemory(spark, psi,
        s"stream_psi_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Complete())
    }),

    // X15 — PERSISTED band store with append (the dedup sibling of
    // v14's ANN index maintenance): save even/4 docs' bands, append
    // the even/2 docs', then batch-admit odd docs against the LOADED
    // store. Band keys are pure row functions — nothing to freeze, so
    // append ≡ rebuild by construction; the gate shares e14's oracle,
    // proving persisted == inline == SQL.
    "x15_band_store_append" -> ((spark, dir) => {
      import graft.dedup.TextDedup
      val docs = Tables.documents(spark, dir)
      val storeDir = graft.core.Staging.tmpDir("band_store")
      TextDedup.saveBandStore(docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", storeDir)
      TextDedup.appendToBandStore(docs.filter(col("doc_id") % 4 === 2),
        "doc_id", "text", storeDir)
      val store = TextDedup.loadBandStore(spark, storeDir)
        .select(col("band_id"), col("band_key"))
      graft.streaming.DocStream.nearDupAgainstStore(
        docs.filter(col("doc_id") % 2 === 1), store)
        .orderBy(col("doc_id"))
    }),

    // E22 — CONTINUOUS index maintenance (ii6's streaming face): the
    // corpus staged as 3 disjoint files → 3 micro-batches
    // (maxFilesPerTrigger=1); the postings store folds batch-by-batch
    // via indexAppend (untouched terms pass through verbatim each
    // fold) and the FINAL store must equal the one-shot full-corpus
    // build — continuous maintenance == clean rebuild, on ii1's own
    // oracle.
    "e22_stream_index_append" -> ((spark, dir) => {
      val in = graft.core.Staging.tmpDir("stream_idx_in")
      val d = Tables.documents(spark, dir)
      for (r <- 0 to 2)
        d.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      graft.streaming.DocStream.indexAppendFold(
        graft.streaming.DocStream.readOneFilePerTrigger(spark, in),
        "doc_id", "text", nShards = 8, blockSize = 16)
        .orderBy(col("term"), col("block"))
    }),

    // E38 — STREAMING INDEX REMOVAL (ii7's face, e22's other
    // direction): the full-corpus store bootstraps one-shot, then the
    // takedown set (every 3rd doc) arrives as 3 disjoint files → 3
    // removal micro-batches folding via indexRemove (untouched terms
    // pass through verbatim each fold). The churned final store must
    // equal a clean rebuild on the SURVIVORS — ii7's own oracle.
    "e38_stream_index_remove" -> ((spark, dir) => {
      val in = graft.core.Staging.tmpDir("stream_idx_rm_in")
      val d = Tables.documents(spark, dir)
      val store = graft.functions.InvertedIndex.postingsExport(
        d, "doc_id", "text", nShards = 8, blockSize = 16)
      val removals = d.filter(col("doc_id") % 3 === 0)
      for (r <- Seq(0, 3, 6))
        removals.filter(pmod(col("doc_id"), lit(9)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      graft.streaming.DocStream.indexRemoveFold(store,
        graft.streaming.DocStream.readOneFilePerTrigger(spark, in),
        "doc_id", "text", nShards = 8, blockSize = 16)
        .orderBy(col("term"), col("block"))
    }),

    // E30 — STREAMING RETRIEVAL: the serving half over the maintained
    // index. The e22 fold keeps postings current per micro-batch; this
    // gate SERVES an ii2-style BM25 top-k query against the drained
    // store — proving the streamed artifact is query-ready without a
    // rebuild. Query terms derive from the folded index exactly as ii2
    // derives them from the one-shot build (fold == build, pinned by
    // e22), so the gate holds to the SAME corpus-side oracle as ii2.
    "e30_stream_index_topk" -> ((spark, dir) => {
      import spark.implicits._
      val in = graft.core.Staging.tmpDir("stream_idx_serve_in")
      val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      for (r <- 0 to 2)
        d.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val idx = graft.streaming.DocStream.indexAppendFold(
        graft.streaming.DocStream.readOneFilePerTrigger(spark, in),
        "doc_id", "text", nShards = 8, blockSize = 16)
        .localCheckpoint()
      val qterms = idx.groupBy(col("term")).agg(max(col("df")).as("df"))
        .orderBy(col("df").desc, col("term"))
        .limit(3).select(col("term")).as[String].collect().toSeq
      graft.functions.InvertedIndex.queryTopK(idx,
        graft.functions.InvertedIndex.docLengths(d, "doc_id", "text"),
        qterms, k = 10)
        .orderBy(col("rn"))
    }),

    // E23 — streaming length-bucket census (bb1's streaming face):
    // the per-doc bucket projection is stateless and SHARED with the
    // batch operator (Packing.bucketAssign), and the census is one
    // bounded-state streaming aggregation (≤5 bucket rows, Complete
    // mode). Converged result == batch bb1, stated by bb1's own
    // oracle — the batching plan can be re-read while the corpus is
    // still arriving.
    "e23_stream_length_census" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(
        stageFixtureDir("stream_lencensus", dir, "documents.parquet"))
      val census = graft.streaming.DocStream.lengthCensus(
        graft.streaming.DocStream.read(spark, d.toString),
        CurationCatalog.LengthBucketBounds,
        CurationCatalog.LengthBucketBatch)
      EventStream.runToMemory(spark, census,
        s"stream_lencensus_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy(col("bucket"))
    }),

    // E28 — streaming PII census (pii2's face): the census is a pure
    // codegen'd projection (no state, Append mode — the e20 shape);
    // the drained stream equals batch pii2 on its own oracle, so PII
    // rates are tracked live during ingestion.
    "e28_stream_pii_census" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(
        stageFixtureDir("stream_pii", dir, "documents.parquet"))
      EventStream.runToMemory(spark,
        graft.streaming.DocStream.read(spark, d.toString)
          .select(CurationCatalog.piiCensusCols: _*),
        s"stream_pii_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E27 — streaming repetition cut (rep3's face): the char-fraction
    // verdicts are DOC-LOCAL, so per-batch filtering via foreachBatch
    // IS the global answer — zero cross-batch state; the drained
    // union must equal batch rep3 on its own oracle.
    "e27_stream_repetition" -> ((spark, dir) => {
      val in = graft.core.Staging.tmpDir("stream_rep_in")
      val planted = CurationCatalog.repDocs(spark, dir)
      for (r <- 0 to 2)
        planted.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val stream = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.repetitionCutFold(stream)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // E29 — streaming quality-decile census (qd1's face): stateless
    // decile projection + two algebraic aggs, Complete mode, ≤10 rows
    // of state — the threshold-calibration readout refreshes while
    // the corpus is still arriving; shares qd1's oracle.
    "e29_stream_quality_deciles" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(
        stageFixtureDir("stream_qdec", dir, "documents.parquet"))
      EventStream.runToMemory(spark,
        graft.streaming.DocStream.qualityDeciles(
          graft.streaming.DocStream.read(spark, d.toString)),
        s"stream_qdec_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy(col("decile"))
    }),

    // E26 — streaming per-source dataset cards (dcard2's face): all
    // columns are streaming-legal aggregates (collect_set's state is
    // the bounded language inventory), Complete mode, ≤|sources| rows
    // of state; release metadata stays current while ingestion runs.
    "e26_stream_source_cards" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(
        stageFixtureDir("stream_cards", dir, "documents.parquet"))
      EventStream.runToMemory(spark,
        graft.streaming.DocStream.sourceCards(
          graft.streaming.DocStream.read(spark, d.toString)),
        s"stream_cards_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy(col("source"))
    }),

    // E25 — streaming novelty admission (nv2's face): the probe set
    // arrives as 3 micro-batches; each batch runs the BATCH
    // containment admission against the FROZEN corpus gram store via
    // foreachBatch (per-doc aggregation state is O(batch), not
    // O(stream)). The drained union must equal the one-shot batch
    // admission on nv2's own oracle.
    "e25_stream_novelty" -> ((spark, dir) => {
      val in = graft.core.Staging.tmpDir("stream_nov_in")
      val d = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val probes = TrainingCatalog.nv2Probes(d)
      for (r <- 0 to 2)
        probes.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val probeStream = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.containmentAdmitFold(probeStream,
        graft.dedup.TextDedup.shingleSets(d, "doc_id", "text", k = 5))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // E24 — continuous shard-manifest maintenance (mf1's streaming
    // face): count/sum/min/max are all algebraic, so the manifest is
    // ONE streaming aggregation with ≤8 rows of state (Complete
    // mode); the converged fold must equal the batch manifest on
    // mf1's own oracle — integrity is current while the export runs.
    "e24_stream_manifest" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(
        stageFixtureDir("stream_manifest", dir, "documents.parquet"))
      val m = graft.streaming.DocStream.manifestFold(
        graft.streaming.DocStream.read(spark, d.toString), nShards = 8)
      EventStream.runToMemory(spark, m,
        s"stream_manifest_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy(col("shard"))
    }),

    // E14 — streaming NEAR-dup against a historical band store: the
    // LSH face of e11. Band keys are pure row functions (computed
    // compiled per doc, no streaming aggregation), kept as columns and
    // probed by four stateless stream-static left joins; odd docs
    // stream in, even docs' bands are the store. Must equal the batch
    // LSH band-join spelling over the same files exactly.
    "e14_stream_neardup" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_nd", dir, "documents.parquet"))
      import graft.dedup.TextDedup
      val storeDocs = Tables.documents(spark, dir)
        .filter(col("doc_id") % 2 === 0)
      val store = TextDedup.bandKeys(
        TextDedup.minhashSignatures(
          TextDedup.shingleSets(storeDocs, "doc_id", "text",
            distinct = false), "doc_id"), "doc_id")
        .select(col("band_id"), col("band_key"))
      val admitted = graft.streaming.DocStream.nearDupAgainstStore(
        graft.streaming.DocStream.read(spark, d.toString)
          .filter(col("doc_id") % 2 === 1),
        store)
      EventStream.runToMemory(spark, admitted,
        s"stream_nd_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E10 — streaming chunk fan-out: the Chunker generate in
    // micro-batch; must equal the batch ck1 exactly
    // E20 — streaming encoding repair: the ftfy stage is a pure
    // codegen'd projection, so it runs unchanged on a doc stream
    // (Append, no state); artifacts planted with the SAME expression
    // as the batch en2 gate, whose oracle this shares
    "e20_stream_encoding" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_enc", dir, "documents.parquet"))
      val planted = graft.streaming.DocStream.read(spark, d.toString)
        .select(col("doc_id"), CurationCatalog.encPlantText.as("text"))
      EventStream.runToMemory(spark,
        graft.quality.Encoding.repair(planted, "text"),
        s"stream_enc_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E21 — streaming fused badwords + Gopher quality gate: both
    // verdicts are doc-local, so the stream face is ONE per-row
    // integer predicate (no explode/agg/join state, Append); converged
    // output equals the batch gq2 ∩ bw2 composition, which the oracle
    // states directly
    "e21_stream_quality_gate" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_qgate", dir, "documents.parquet"))
      val gated = graft.streaming.DocStream.fusedQualityGate(
        graft.streaming.DocStream.read(spark, d.toString),
        CurationCatalog.BadWords)
      EventStream.runToMemory(spark, gated,
        s"stream_qgate_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E18 — streaming BPE re-tokenization: pure-row-function
    // tokenization under the frozen merges needs no state store, so
    // the converged stream equals batch tk1 exactly (same oracle)
    "e18_stream_bpe" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_bpe", dir, "documents.parquet"))
      val toks = graft.streaming.DocStream.bpeTokenize(
        graft.streaming.DocStream.read(spark, d.toString),
        graft.functions.Bpe.FrozenMerges)
      EventStream.runToMemory(spark, toks,
        s"stream_bpe_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E31 — BYTE-level BPE on a stream (tk10's streaming face): the
    // frozen-byte-merge memoized loop per micro-batch, mixed-script
    // plants included in the staged source. Stream == batch on tk10's
    // own oracle.
    "e31_stream_byte_bpe" -> ((spark, dir) => {
      import spark.implicits._
      val in = graft.core.Staging.tmpDir("stream_bytebpe_in")
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .unionByName(TrainingCatalog.BytePlants
          .toDF("doc_id", "lang", "text").select(col("doc_id"), col("text")))
        .coalesce(1).write.mode("overwrite").parquet(in)
      val toks = graft.streaming.DocStream.bpeTokenizeBytes(
        graft.streaming.DocStream.read(spark, in),
        graft.functions.Bpe.FrozenByteMerges)
      EventStream.runToMemory(spark, toks,
        s"stream_bytebpe_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E33 — CATEGORY-pre-tokenized byte BPE on a stream (tk16's
    // streaming face): the per-partition memoized merge loop with the
    // category lexer replacing the space split; punctuated plants in
    // the staged source. Stream == batch on tk16's own oracle.
    "e33_stream_pretok_bpe" -> ((spark, dir) => {
      import spark.implicits._
      val in = graft.core.Staging.tmpDir("stream_pretokbpe_in")
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .unionByName(TrainingCatalog.BytePlants
          .toDF("doc_id", "lang", "text").select(col("doc_id"), col("text")))
        .unionByName(TrainingCatalog.PretokPlants
          .toDF("doc_id", "lang", "text").select(col("doc_id"), col("text")))
        .coalesce(1).write.mode("overwrite").parquet(in)
      val toks = graft.streaming.DocStream.bpeTokenizeBytesPretok(
        graft.streaming.DocStream.read(spark, in),
        graft.functions.Bpe.FrozenPretokMerges)
      EventStream.runToMemory(spark, toks,
        s"stream_pretokbpe_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E34 — unigram-LM Viterbi segmentation on a stream (tk23's
    // streaming face): stateless distinct-word-memoized DP per
    // micro-batch under the frozen inventory; segmentation plants in
    // the staged source. Stream == batch on tk23's own oracle.
    "e34_stream_unigram" -> ((spark, dir) => {
      import spark.implicits._
      val in = graft.core.Staging.tmpDir("stream_unigram_in")
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .unionByName(TrainingCatalog.UnigramPlants
          .toDF("doc_id", "lang", "text").select(col("doc_id"), col("text")))
        .coalesce(1).write.mode("overwrite").parquet(in)
      val segs = graft.streaming.DocStream.unigramSegment(
        graft.streaming.DocStream.read(spark, in),
        graft.functions.Unigram.FrozenVocab)
      EventStream.runToMemory(spark, segs,
        s"stream_unigram_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"))
    }),

    // E35 — STREAMING k-means assignment (the km-family ingestion
    // face): the model trains batch-side (km1's trainer), then
    // vectors arrive as 3 micro-batches and score against the FROZEN
    // centroids per batch via the EXACT batch operator
    // (assignToCentroids — rounded distance, cell tiebreak), the e32
    // fold-then-serve discipline. Assignment is a pure row function
    // of (vector, centroids), so per-batch results ARE the global
    // answer. Held to the unrolled Lloyd chain's own oracle.
    "e35_stream_kmeans" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val m = graft.similarity.Similarity.kmeansTrain(
        emb, "vec_id", "embedding", k = 8, iters = 3, dim = 64)
      val in = graft.core.Staging.tmpDir("stream_kmeans_in")
      for (r <- 0 to 2)
        emb.select(col("vec_id"), col("embedding"))
          .filter(pmod(col("vec_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      graft.streaming.DocStream.kmeansAssignFold(
        graft.streaming.DocStream.readEmbeddingsOneFilePerTrigger(spark, in),
        m.centroids)
        .select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    }),

    // E37 — STREAMING prototype pruning (km3's ingestion face):
    // assignments fold batch-by-batch (the expensive map work
    // streams — kmeansAssignFold keeps the vector), and the per-cell
    // prototype RANKS run once on the drained store, because a rank
    // needs ALL of a cell's members — fold-then-serve, the e32
    // discipline. Held to km3's own oracle.
    "e37_stream_prototype_prune" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val m = graft.similarity.Similarity.kmeansTrain(
        emb, "vec_id", "embedding", k = 8, iters = 3, dim = 64)
      val in = graft.core.Staging.tmpDir("stream_proto_in")
      for (r <- 0 to 2)
        emb.select(col("vec_id"), col("embedding"))
          .filter(pmod(col("vec_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val folded = graft.streaming.DocStream.kmeansAssignFold(
        graft.streaming.DocStream.readEmbeddingsOneFilePerTrigger(spark, in),
        m.centroids)
      graft.similarity.Similarity.prototypePruneAssigned(
        folded, "vec_id", "embedding", m.centroids, dropPerCell = 8)
        .orderBy(col("vec_id"))
    }),

    // E36 — STREAMING semantic decontamination (dc3's ingestion
    // face): the frozen probe set (dc3's planted perturbed variants,
    // derived batch-side from the full corpus) screens vectors as
    // they arrive — per-batch reuse of the exact batch operator, the
    // fold-then-serve discipline; verdicts are per-vector, so no
    // cross-batch state. Held to dc3's own oracle.
    "e36_stream_semantic_decontam" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val probes = CurationCatalog.dc3Probes(emb)
      val in = graft.core.Staging.tmpDir("stream_semdc_in")
      for (r <- 0 to 2)
        emb.select(col("vec_id"), col("embedding"))
          .filter(pmod(col("vec_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      graft.streaming.DocStream.semanticDecontamFold(
        graft.streaming.DocStream.readEmbeddingsOneFilePerTrigger(spark, in),
        probes, tau = 0.9)
        .orderBy(col("vec_id"))
    }),

    // E40 — STREAMING IVF-routed semantic decontamination (dc4's
    // face): trained centroids + the id-carrying probe set freeze
    // BEFORE the stream starts; arriving vectors assign to their
    // cells and score against the probes' 2 nearest cells per
    // micro-batch (pure row functions ⇒ per-batch == global).
    // Stream == batch on dc4's own oracle.
    "e40_stream_semantic_ivf" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
      val cents = graft.similarity.Similarity.kmeansTrain(
        emb, "vec_id", "embedding", k = 8, iters = 2, dim = 64).centroids
      val probes = emb.filter(col("vec_id") % 41 === 0)
        .select(col("vec_id").as("probe_id"),
          concat(array(lit(0.0f)),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1))
            .as("embedding"))
      val in = graft.core.Staging.tmpDir("stream_semivf_in")
      for (r <- 0 to 2)
        emb.select(col("vec_id"), col("embedding"))
          .filter(pmod(col("vec_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      graft.streaming.DocStream.semanticDecontamIvfFold(
        graft.streaming.DocStream.readEmbeddingsOneFilePerTrigger(spark, in),
        probes, tau = 0.9, cents, nProbe = 2)
        .orderBy(col("vec_id"))
    }),

    // E41 — STREAMING MINI-BATCH K-MEANS TRAINING: the model itself
    // learns as vectors arrive (e35 froze the centroids; this one
    // updates them per batch). Batch 0 seeds (hash-keyed pick over
    // batch 0) and updates once; each later batch assigns ITS vectors
    // to the current centroids and merges the batch means in (missing
    // cells keep their centroid — the mini-batch convention). Every
    // half is the proven exact fixed-point device, so the streamed
    // 3-batch chain replays stage-for-stage in the oracle. Staged with
    // PINNED mtimes — the chain is order-sensitive.
    "e41_stream_kmeans_minibatch" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val in = stageOrderedBatches("stream_mbkm_in",
        (0 to 2).map(r => emb.filter(pmod(col("vec_id"), lit(3)) === r)))
      graft.streaming.DocStream.kmeansMiniBatchFold(
        graft.streaming.DocStream.readEmbeddingsOneFilePerTrigger(spark, in),
        k = 8, dim = 64)
        .orderBy(col("cell"), col("dim"))
    }),

    // E42 — COUNT-WEIGHTED streaming mini-batch k-means (Sculley's
    // update, closing e41's plain-merge caveat): per cell the state
    // carries cumulative int64 fixed-point sums + counts, so the
    // merged centroid is the exact mean of everything the cell ever
    // absorbed — c ← (n·c + Σbatch)/(n + m) with n·c held exactly as
    // the running sum. Same 3 pinned-mtime batches as e41; the oracle
    // replays the weighted chain batch-for-batch in long-form state.
    "e42_stream_kmeans_weighted" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val in = stageOrderedBatches("stream_mbkmw_in",
        (0 to 2).map(r => emb.filter(pmod(col("vec_id"), lit(3)) === r)))
      graft.streaming.DocStream.kmeansMiniBatchWeightedFold(
        graft.streaming.DocStream.readEmbeddingsOneFilePerTrigger(spark, in),
        k = 8, dim = 64)
        .orderBy(col("cell"), col("dim"))
    }),

    // E46 — the weighted trainer's SERVE face (e35's pairing for the
    // Sculley model): stream-train on the 3 pinned batches, then
    // assign the FULL corpus under the final cumulative-mean
    // centroids. Oracle = the e42 chain + one kmeansAssign.
    "e46_stream_kmeans_weighted_serve" -> ((spark, dir) => {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val in = stageOrderedBatches("stream_mbkmw_serve_in",
        (0 to 2).map(r => emb.filter(pmod(col("vec_id"), lit(3)) === r)))
      val folded = graft.streaming.DocStream.kmeansMiniBatchWeightedFold(
        graft.streaming.DocStream.readEmbeddingsOneFilePerTrigger(spark, in),
        k = 8, dim = 64)
      val cents = graft.similarity.Similarity.toCentroidArrays(
        folded.select(col("cell"), col("dim"), col("centroid")))
      graft.similarity.Similarity.assignToCentroids(emb, "vec_id",
          "embedding", cents)
        .select(col("vec_id"), col("cell").cast("int").as("cell"))
        .orderBy(col("vec_id"))
    }),

    // E45 — STREAMING IVFADC index ingestion (v24's invariant,
    // streamed): the frozen quantizer pair persists over an EMPTY
    // corpus before the stream; vectors arrive as 3 micro-batches and
    // append O(batch) into the cell partitions. Drained index ==
    // one-shot frozen build over the union, compared on the residual-
    // code artifact (codes stringified, the a15 convention).
    "e45_stream_ivfadc_ingest" -> ((spark, dir) => {
      import graft.similarity.{ProductQuant, Similarity}
      val emb = Tables.embeddings(spark, dir)
      val idx = Similarity.buildIvfTrained(emb, "vec_id", "embedding",
        nCentroids = 8, iters = 2, dim = 64)
      val cb = ProductQuant.buildCodebookResidual(idx, "vec_id",
        "embedding", m = 4, ks = 8, iters = 2, dim = 64)
      val ixDir = graft.core.Staging.tmpDir("stream_ivfadc_ix")
      ProductQuant.saveIvfPqResidualFrozen(emb.filter(lit(false)),
        "vec_id", "embedding", idx.centroids, cb, ixDir)
      val in = graft.core.Staging.tmpDir("stream_ivfadc_in")
      for (r <- 0 to 2)
        emb.select(col("vec_id"), col("embedding"))
          .filter(pmod(col("vec_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val streamed = graft.streaming.DocStream.ivfAdcAppendFold(
        graft.streaming.DocStream.readEmbeddingsOneFilePerTrigger(spark, in),
        ixDir)
      val oneDir = graft.core.Staging.tmpDir("stream_ivfadc_oneshot")
      ProductQuant.saveIvfPqResidualFrozen(emb, "vec_id", "embedding",
        idx.centroids, cb, oneDir)
      def cs(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("cell").cast("int").as("cell"),
          concat_ws(",", col("codes")).as("cs"))
      cs(streamed).withColumn("__a", lit(1))
        .join(cs(spark.read.parquet(s"$oneDir/pq/codes"))
          .withColumn("__b", lit(1)),
          Seq("vec_id", "cell", "cs"), "full_outer")
        .agg(count(lit(1)).as("n_rows"),
          sum((col("__a").isNull || col("__b").isNull).cast("long"))
            .as("n_mismatch"))
    }),

    // E44 — STREAMING Kneser–Ney LM scoring (t15's ingestion face,
    // extending the every-batch-family-has-a-streaming-face claim to
    // the smoothed-LM family): the KN model freezes from the even
    // docs before the stream; odd docs arrive as 3 micro-batches and
    // score per batch with the exact batch operator (pure per-doc
    // function). Stream == batch on t15's own oracle.
    "e44_stream_kneser_ney" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val model = graft.functions.TextAnalysis.kneserNeyModel(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val in = graft.core.Staging.tmpDir("stream_kn_in")
      val odd = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
      for (r <- 0 to 2)
        odd.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val src = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.kneserNeyScoreFold(src, model)
        .orderBy(col("doc_id"))
    }),

    // E47 — STREAMING trigram-KN scoring (e44 one n-gram order up,
    // closing the r16 verdict's gap: t16's five-frame model had no
    // ingestion face): the trigram count frames freeze from the even
    // docs before the stream; odd docs arrive as 3 micro-batches and
    // score per batch with the exact batch operator (pure per-doc
    // function of the frozen frames). Stream == batch on t16's own
    // oracle.
    "e47_stream_kn_trigram" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val model = graft.functions.TextAnalysis.kneserNeyTrigramModel(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val in = graft.core.Staging.tmpDir("stream_kn3_in")
      val odd = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
      for (r <- 0 to 2)
        odd.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val src = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.kneserNeyTrigramScoreFold(src, model)
        .orderBy(col("doc_id"))
    }),

    // E51 — STREAMING modified-KN scoring (e44 under the Chen–Goodman
    // three-discount model): the count frames AND the 1-row counts-of-
    // counts freeze from the even docs before the stream; odd docs
    // score per batch with the exact batch operator. Stream == batch
    // on t17's own oracle.
    "e51_stream_kn_modified" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val model = graft.functions.TextAnalysis.kneserNeyModifiedModel(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val in = graft.core.Staging.tmpDir("stream_knmod_in")
      val odd = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
      for (r <- 0 to 2)
        odd.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val src = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.kneserNeyModifiedScoreFold(src, model)
        .orderBy(col("doc_id"))
    }),

    // E52 — STREAMING perplexity bucketing (cx5's ingestion face, the
    // CCNet quality tagger as a pipeline): scores fold per micro-batch
    // under the frozen modified-KN model; the per-language terciles
    // serve from the drained store (global order statistics —
    // fold-then-serve). Stream == batch on cx5's own oracle.
    "e52_stream_ppl_buckets" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val model = graft.functions.TextAnalysis.kneserNeyModifiedModel(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val in = graft.core.Staging.tmpDir("stream_pplb_in")
      val odd = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("lang"))
      for (r <- 0 to 2)
        odd.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val src = spark.readStream
        .schema(graft.streaming.DocStream.idTextLangSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.pplBucketsFold(src, model)
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("mean_logscore")), 6).as("min_score"),
          round(max(col("mean_logscore")), 6).as("max_score"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // E53 — STREAMING modified-trigram-KN scoring (e51 one order up,
    // t18's ingestion face): all eight frames freeze from the even
    // docs; odd docs score per batch. Stream == batch on t18's own
    // oracle.
    "e53_stream_kn_mod_trigram" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val model = graft.functions.TextAnalysis.kneserNeyModTrigramModel(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val in = graft.core.Staging.tmpDir("stream_knmod3_in")
      val odd = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
      for (r <- 0 to 2)
        odd.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val src = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.kneserNeyModTrigramScoreFold(src, model)
        .orderBy(col("doc_id"))
    }),

    // E48 — STREAMING WordPiece encoding (tk33's ingestion face,
    // extending the every-tokenizer-has-a-streaming-face claim to the
    // BERT family): docs arrive as 3 micro-batches, each encodes with
    // the exact batch operator under the frozen vocabulary (pure
    // per-doc function). Stream == batch on tk33's own oracle.
    "e48_stream_wordpiece" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val in = graft.core.Staging.tmpDir("stream_wp_in")
      for (r <- 0 to 2)
        docs.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val src = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.wordPieceFold(src,
        graft.functions.WordPiece.FrozenVocab)
        .orderBy(col("doc_id"))
    }),

    // E49 — STREAMING WordPiece vocabulary TRAINING (tk35's ingestion
    // face, the e43 recipe on the WordPiece score objective): the
    // word census folds per micro-batch (order-free exact sums), the
    // trainer serves from the drained census. Stream == batch on
    // tk35's own oracle (same corpus, same merges).
    "e49_stream_wordpiece_train" -> ((spark, dir) => {
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val in = graft.core.Staging.tmpDir("stream_wptrain_in")
      for (r <- 0 to 2)
        docs.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val src = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.wordPieceTrainFold(src, nMerges = 8)
        .orderBy(col("rank"))
    }),

    // E50 — STREAMING soft-EM census (tk34's ingestion face): the
    // word census folds per micro-batch (order-free exact sums over
    // the SAME corpus-with-plants frame tk34 reads), and the
    // forward–backward quantized-expectation census serves from the
    // drained store. Stream == batch on tk34's own oracle.
    "e50_stream_soft_census" -> ((spark, dir) => {
      import spark.implicits._
      val in = graft.core.Staging.tmpDir("stream_softcensus_in")
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .unionByName(TrainingCatalog.UnigramPlants
          .toDF("doc_id", "lang", "text").select(col("doc_id"), col("text")))
      for (r <- 0 to 2)
        docs.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val src = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.softCensusFold(src,
        graft.functions.Unigram.FrozenVocab)
        .orderBy(col("piece"))
    }),

    // E43 — STREAMING BPE vocabulary TRAINING (tk31's ingestion face;
    // e31/e33 only tokenize under frozen merges): the word census
    // folds per micro-batch (order-free exact sums — 3 unpinned
    // batches), the BATCHED merge selector serves from the drained
    // census at tk31's rounds-per-merge latency. Stream == batch on
    // tk31's own oracle (same corpus incl. byte plants, same merges).
    "e43_stream_bpe_train" -> ((spark, dir) => {
      import spark.implicits._
      val in = graft.core.Staging.tmpDir("stream_bpetrain_in")
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
        .unionByName(TrainingCatalog.BytePlants
          .toDF("doc_id", "lang", "text").select(col("doc_id"), col("text")))
      for (r <- 0 to 2)
        docs.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val src = spark.readStream
        .schema(graft.streaming.DocStream.idTextSchema)
        .option("maxFilesPerTrigger", 1).parquet(in)
      graft.streaming.DocStream.bpeTrainBatchedFold(src, nMerges = 8)
        .orderBy(col("rank"))
    }),

    // E32 — STREAMING image near-dup (m14's ingestion face, the image
    // sibling of x15/e14): the dHash payloads stage as 3 disjoint
    // files → 3 micro-batches; decode→hash folds into a (doc_id,
    // dhash) store per batch (the expensive map work streams), and the
    // banded + chain-capped near-dup pass SERVES from the drained
    // store — fold-then-serve, because the bucket cap needs global
    // stats. Held to batch m14's own oracle: stream-maintained ==
    // one-shot, exact.
    "e32_stream_image_neardup" -> ((spark, dir) => {
      val in = graft.core.Staging.tmpDir("stream_dhash_in")
      val payloads = dhashPayloads(spark, dir)
      for (r <- 0 to 2)
        payloads.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val hashes = graft.streaming.DocStream.dHashFold(
        graft.streaming.DocStream.readPayloadsOneFilePerTrigger(spark, in))
      graft.dedup.TextDedup.simhashCandidates(
        hashes.withColumnRenamed("dhash", "simhash"),
        "doc_id", maxHamming = 3, bits = 64, bucketCap = 32)
        .orderBy(col("a_id"), col("b_id"))
    }),

    // E39 — streaming AUDIO near-dup (m16/m17's ingestion face, the
    // e32 recipe on WAV): clips land as 3 micro-batches, the decode →
    // energy-hash map work folds per batch, and the banded near-dup
    // pass (global bucket stats — fold-then-serve) runs on the
    // drained store. Stream == batch on the audio pairs oracle.
    "e39_stream_audio_neardup" -> ((spark, dir) => {
      val in = graft.core.Staging.tmpDir("stream_ahash_in")
      val payloads = audioPayloads(spark, dir)
      for (r <- 0 to 2)
        payloads.filter(pmod(col("doc_id"), lit(3)) === r).coalesce(1)
          .write.mode("append").parquet(in)
      val hashes = graft.streaming.DocStream.audioHashFold(
        graft.streaming.DocStream.readPayloadsOneFilePerTrigger(spark, in))
      graft.dedup.TextDedup.simhashCandidates(
        hashes.withColumnRenamed("ahash", "simhash"),
        "doc_id", maxHamming = 3, bits = 64, bucketCap = 32)
        .orderBy(col("a_id"), col("b_id"))
    }),

    "e10_stream_chunks" -> ((spark, dir) => {
      val d = java.nio.file.Paths.get(stageFixtureDir("stream_ck", dir, "documents.parquet"))
      val chunks = graft.streaming.DocStream.chunk(
        graft.streaming.DocStream.read(spark, d.toString), size = 32, stride = 24)
      EventStream.runToMemory(spark, chunks,
        s"stream_ck_${streamNo.incrementAndGet()}",
        org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("doc_id"), col("chunk_id"))
    })
  )

  /** G.711 expansion tables (CCITT) restated as bit arithmetic:
    * mu-law complements the byte then shifts mantissa*8+132 by the
    * exponent; A-law xors 0x55 with segment-0/1 special cases. The
    * byte stream itself is the (doc_id, j) formula of the m11/e16
    * gates — same payloads, same decoder, batch and streamed.
    */
  private val G711DecodeSql: String =
    """WITH d AS (SELECT doc_id, 32 + doc_id % 32 AS n FROM documents),
        |b AS (SELECT d.doc_id, d.n, j.j,
        |    CAST((d.doc_id * 7 + j.j * 13) % 256 AS INT) AS byte
        |  FROM d CROSS JOIN LATERAL unnest(range(0, d.n)) AS j(j)),
        |x AS (SELECT doc_id, n, j,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    CASE WHEN (255 - byte) >= 128
        |      THEN 132 - ((((255 - byte) & 15) * 8 + 132)
        |                  << (((255 - byte) >> 4) & 7))
        |      ELSE ((((255 - byte) & 15) * 8 + 132)
        |            << (((255 - byte) >> 4) & 7)) - 132 END
        |  ELSE
        |    CASE WHEN (xor(byte, 85) & 128) != 0 THEN 1 ELSE -1 END *
        |    CASE WHEN ((xor(byte, 85) >> 4) & 7) = 0
        |           THEN (xor(byte, 85) & 15) * 16 + 8
        |         WHEN ((xor(byte, 85) >> 4) & 7) = 1
        |           THEN (xor(byte, 85) & 15) * 16 + 264
        |         ELSE ((xor(byte, 85) & 15) * 16 + 264)
        |              << (((xor(byte, 85) >> 4) & 7) - 1) END
        |  END AS s
        |  FROM b),
        |agg AS (SELECT doc_id, n,
        |    CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
        |    CAST(MAX(ABS(s)) AS INT) AS peak,
        |    CAST(MIN(CASE WHEN j = 0 THEN s END) AS INT) AS first_sample,
        |    CAST(MIN(CASE WHEN j = n - 1 THEN s END) AS INT) AS last_sample
        |  FROM x GROUP BY doc_id, n)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
        |  CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
        |  CAST(n AS BIGINT) AS n_samples, first_sample, last_sample,
        |  sum_abs, peak
        |FROM agg ORDER BY doc_id""".stripMargin

  /** m12's oracle: replay the IMA-ADPCM state machine sample-by-sample
    * with a recursive CTE (depth 16 = nibbles per block; blocks are
    * independent because each header re-seeds the state). The step and
    * index-adjust tables are emitted from the SAME arrays the engine
    * decodes with ([[BinaryOps.ImaStepTable]]) — no transcription to
    * drift. All arithmetic is integer shifts/adds, so every probe
    * gates exact.
    */
  private val AdpcmDecodeSql: String = {
    val stepvals = BinaryOps.ImaStepTable.zipWithIndex
      .map { case (v, i) => s"($i, $v)" }.mkString(", ")
    val idxvals = BinaryOps.ImaIndexTable.zipWithIndex
      .map { case (a, n) => s"($n, $a)" }.mkString(", ")
    s"""WITH RECURSIVE
       |steps(i, s) AS (SELECT * FROM (VALUES $stepvals) v(i, s)),
       |idxadj(n, a) AS (SELECT * FROM (VALUES $idxvals) v(n, a)),
       |d AS (SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS nb
       |  FROM documents),
       |blk AS (SELECT doc_id, b.b,
       |    CAST((doc_id * 37 + b.b * 101) % 65536 - 32768 AS BIGINT) AS pred0,
       |    CAST((doc_id + 13 * b.b) % 89 AS BIGINT) AS idx0
       |  FROM d CROSS JOIN LATERAL unnest(range(0, nb)) AS b(b)),
       |walk(doc_id, b, j, pred, idx) AS (
       |  SELECT doc_id, b, CAST(0 AS BIGINT), pred0, idx0 FROM blk
       |  UNION ALL
       |  SELECT t.doc_id, t.b, t.j + 1,
       |    GREATEST(-32768, LEAST(32767,
       |      CASE WHEN t.nib >= 8 THEN t.pred - t.diff ELSE t.pred + t.diff END)),
       |    GREATEST(0, LEAST(88, t.idx + ia.a))
       |  FROM (
       |    SELECT w.doc_id, w.b, w.j, w.pred, w.idx, n.nib,
       |      (st.s >> 3)
       |      + CASE WHEN (n.nib & 4) != 0 THEN st.s ELSE 0 END
       |      + CASE WHEN (n.nib & 2) != 0 THEN st.s >> 1 ELSE 0 END
       |      + CASE WHEN (n.nib & 1) != 0 THEN st.s >> 2 ELSE 0 END AS diff
       |    FROM walk w
       |    JOIN steps st ON st.i = w.idx
       |    CROSS JOIN LATERAL (SELECT CASE WHEN w.j % 2 = 0
       |        THEN ((w.doc_id * 11 + w.b * 17 + (w.j // 2) * 29) % 256) & 15
       |        ELSE (((w.doc_id * 11 + w.b * 17 + (w.j // 2) * 29) % 256) >> 4) & 15
       |      END AS nib) n(nib)
       |    WHERE w.j < 16) t
       |  JOIN idxadj ia ON ia.n = (t.nib & 7)),
       |agg AS (SELECT w.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_samples,
       |    CAST(MIN(CASE WHEN w.b = 0 AND w.j = 0 THEN w.pred END) AS INT) AS first_sample,
       |    CAST(MIN(CASE WHEN w.b = d.nb - 1 AND w.j = 16 THEN w.pred END) AS INT) AS last_sample,
       |    CAST(SUM(ABS(w.pred)) AS BIGINT) AS sum_abs,
       |    CAST(MAX(ABS(w.pred)) AS INT) AS peak
       |  FROM walk w JOIN d USING (doc_id) GROUP BY w.doc_id)
       |SELECT doc_id, 'ima_adpcm' AS codec, CAST(8000 AS INT) AS sample_rate,
       |  CAST(1 AS INT) AS channels, n_samples, first_sample, last_sample,
       |  sum_abs, peak
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** The LSH band-join admission spelling shared by e14 (inline
    * store, streamed) and x15 (persisted+appended store, batch): odd
    * docs sharing any band with the even-doc store drop; shingle-less
    * docs admit.
    */
  private val NearDupAdmitSql: String = {
    import graft.dedup.TextDedup.{Sql => D}
    val bandsCte = "bands AS (" + D.bandKeyExprs().map { case (b, e) =>
      s"SELECT doc_id, $b AS band_id, $e AS band_key FROM sig"
    }.mkString(" UNION ALL ") + ")"
    s"""WITH sh AS ${D.shingleSets("documents", "doc_id", "text")},
       |sig AS (SELECT doc_id, ${D.minhashAggs()} FROM sh GROUP BY doc_id),
       |$bandsCte,
       |flagged AS (SELECT DISTINCT a.doc_id
       |  FROM bands a JOIN bands s
       |    ON a.band_id = s.band_id AND a.band_key = s.band_key
       |  WHERE a.doc_id % 2 = 1 AND s.doc_id % 2 = 0)
       |SELECT doc_id, text FROM documents
       |WHERE doc_id % 2 = 1
       |  AND doc_id NOT IN (SELECT doc_id FROM flagged)
       |ORDER BY doc_id""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    // identical to the batch rollup — streaming must agree with batch
    "e3_stream_windows" -> Catalog.oracle("e1_event_windows"),

    // streaming == batch for the stateless curation projections
    "e9_stream_curation" -> {
      val planted = s"(${CurationCatalog.piiTextSql})"
      s"""SELECT doc_id,
         |  ${graft.quality.Redact.redactSql(planted)} AS text
         |FROM documents
         |WHERE ${graft.functions.TextAnalysis.Sql.qualityScore(planted)} >= 0.4
         |ORDER BY doc_id""".stripMargin
    },

    // streaming == batch for the deterministic weighted draw (the
    // smp2 construction, restricted to the stream's emitted columns)
    "e12_stream_weighted_topk" ->
      """WITH s AS (SELECT doc_id, lang, n_chars,
        |  floor(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 15))::UBIGINT::DOUBLE + 0.5)
        |           / 1152921504606846976.0) / n_chars * 1e6 + 1e-4) / 1e6 AS es_key
        |FROM documents WHERE n_chars > 0),
        |r AS (SELECT *, ROW_NUMBER() OVER
        |  (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rn FROM s)
        |SELECT lang AS stratum, doc_id, es_key FROM r WHERE rn <= 20
        |ORDER BY stratum, es_key DESC, doc_id""".stripMargin,

    // streaming chunk fan-out == the batch ck1 chunking exactly
    "e10_stream_chunks" -> CurationCatalog.oracle("ck1_chunk_tokens"),

    // streaming == batch for the pure-row-function BPE re-tokenization
    "e18_stream_bpe" -> TrainingCatalog.oracle("tk1_bpe_apply"),
    "e31_stream_byte_bpe" -> TrainingCatalog.oracle("tk10_byte_bpe"),

    // the stream-folded word census == the one-shot census exactly, so
    // the batched merge sequence replays on tk31's own oracle
    "e43_stream_bpe_train" -> TrainingCatalog.oracle("tk31_bpe_batched"),

    // frozen-model per-batch scoring == the one-shot batch scores
    "e44_stream_kneser_ney" -> TrainingCatalog.oracle("t15_kneser_ney"),

    // stream-scored == batch t16 (the frozen trigram frames are the
    // same count tables; scoring is a pure per-doc function of them)
    "e47_stream_kn_trigram" -> TrainingCatalog.oracle("t16_kn_trigram"),

    // stream-encoded == batch tk33 (frozen-vocab encoding is a pure
    // per-doc function)
    "e48_stream_wordpiece" -> TrainingCatalog.oracle("tk33_wordpiece_encode"),

    // stream-trained == batch tk35 (the drained census equals the
    // one-shot census exactly, so the merge sequence is identical)
    "e49_stream_wordpiece_train" -> TrainingCatalog.oracle("tk35_wordpiece_train"),
    "e50_stream_soft_census" -> TrainingCatalog.oracle("tk34_unigram_soft_census"),
    "e51_stream_kn_modified" -> TrainingCatalog.oracle("t17_kn_modified"),
    "e52_stream_ppl_buckets" -> TrainingCatalog.oracle("cx5_knmod_ppl_buckets"),
    "e53_stream_kn_mod_trigram" -> TrainingCatalog.oracle("t18_kn_mod_trigram"),

    // every scorable vector lands exactly once; appends against the
    // frozen quantizers == the one-shot frozen build (v24, streamed)
    "e45_stream_ivfadc_ingest" ->
      """SELECT count(*) AS n_rows, CAST(0 AS BIGINT) AS n_mismatch
        |FROM embeddings""".stripMargin,

    // streaming == batch for the category-pre-tokenized byte BPE
    "e33_stream_pretok_bpe" -> TrainingCatalog.oracle("tk16_bpe_pretok"),

    // stream == batch on tk23's own oracle (the e31/e33 discipline)
    "e34_stream_unigram" -> TrainingCatalog.oracle("tk23_unigram_viterbi"),

    // stream-screened verdicts == the one-shot batch census
    "e36_stream_semantic_decontam" -> CurationCatalog.oracle("dc3_semantic_decontam"),

    // stream == batch on dc4's own trained-cell bounded-scan oracle
    "e40_stream_semantic_ivf" -> CurationCatalog.oracle("dc4_semantic_decontam_ivf"),

    // the streamed mini-batch chain replayed batch-for-batch: init
    // from batch 0's hash pick, then per batch assign → batch means →
    // COALESCE merge (missing cells keep their centroid)
    "e41_stream_kmeans_minibatch" -> {
      val S = graft.similarity.Similarity.Sql
      val batches = (0 to 2).map(r =>
        s"b$r AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = $r)")
        .mkString(",\n")
      val steps = (0 to 2).map { r =>
        s"""a${r + 1} AS MATERIALIZED (
           |  ${S.kmeansAssign(s"b$r", "vec_id", "embedding", s"c$r")}),
           |m${r + 1} AS MATERIALIZED (
           |  ${S.groupCentroids(s"a${r + 1}", "cell", "embedding", 64)}),
           |n${r + 1} AS MATERIALIZED (SELECT cell, list(centroid ORDER BY dim) AS centroid
           |  FROM m${r + 1} GROUP BY cell),
           |c${r + 1} AS MATERIALIZED (SELECT o.cell,
           |    COALESCE(n.centroid, o.centroid) AS centroid
           |  FROM c$r o LEFT JOIN n${r + 1} n ON n.cell = o.cell)""".stripMargin
      }.mkString(",\n")
      s"""WITH $batches,
         |kcb AS MATERIALIZED (SELECT vec_id, embedding FROM b0
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         |c0 AS MATERIALIZED (SELECT
         |    ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
         |  FROM kcb),
         |$steps
         |SELECT CAST(cell AS INTEGER) AS cell, CAST(d.i AS INTEGER) AS dim,
         |  centroid[d.i] AS centroid
         |FROM c3 CROSS JOIN LATERAL unnest(generate_series(1, 64)) AS d(i)
         |ORDER BY cell, dim""".stripMargin
    },

    // the Sculley-weighted chain replayed batch-for-batch in
    // long-form state: init (sums 0, n 0) from batch 0's hash pick,
    // then per batch derive current centroids (cumulative fixed-point
    // mean, seed where n=0) → assign → accumulate int64 sums + counts
    "e42_stream_kmeans_weighted" ->
      s"""WITH $weightedKmeansCtes
         |SELECT CAST(st.cell AS INTEGER) AS cell, CAST(st.dim AS INTEGER) AS dim,
         |  CASE WHEN st.n > 0
         |    THEN CAST(st.s AS DOUBLE) / 1000000000.0 / CAST(st.n AS DOUBLE)
         |    ELSE c0.centroid[st.dim] END AS centroid,
         |  CAST(st.n AS BIGINT) AS n
         |FROM s3 st JOIN c0 ON c0.cell = st.cell
         |ORDER BY cell, dim""".stripMargin,

    // the weighted chain's SERVE face: the final cumulative-mean
    // centroids re-assemble and the FULL corpus assigns under them
    // (e35's pairing for the Sculley trainer)
    "e46_stream_kmeans_weighted_serve" -> {
      val S = graft.similarity.Similarity.Sql
      s"""WITH $weightedKmeansCtes,
         |wf AS MATERIALIZED (SELECT st.cell,
         |    list(CASE WHEN st.n > 0
         |      THEN CAST(st.s AS DOUBLE) / 1000000000.0 / CAST(st.n AS DOUBLE)
         |      ELSE c0.centroid[st.dim] END ORDER BY st.dim) AS centroid
         |  FROM s3 st JOIN c0 ON c0.cell = st.cell GROUP BY st.cell),
         |scemb AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE ${S.scorable("embedding")}),
         |af AS (${S.kmeansAssign("scemb", "vec_id", "embedding", "wf")})
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM af
         |ORDER BY vec_id""".stripMargin
    },

    // stream-folded assignments + drained-store ranks == batch km3
    "e37_stream_prototype_prune" -> TrainingCatalog.oracle("km3_prototype_prune"),

    // the unrolled Lloyd chain + a final full assignment — stream-
    // maintained assignments must equal the one-shot batch answer
    "e35_stream_kmeans" -> {
      val S = graft.similarity.Similarity.Sql
      s"""WITH ${S.kmeansCtes("embeddings", "vec_id", "embedding",
             k = 8, iters = 3, dim = 64)},
         |af AS (${S.kmeansAssign("embeddings", "vec_id", "embedding", "c3")})
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell FROM af
         |ORDER BY vec_id""".stripMargin
    },

    // streaming == batch for the pure-projection encoding repair
    "e20_stream_encoding" -> CurationCatalog.oracle("en2_encoding_repair"),

    // streaming == batch for the doc-local fused quality gate: the
    // gq2 Gopher pass-set composed with the bw2 badwords anti-set
    "e21_stream_quality_gate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT doc_id, u.tk FROM tok CROSS JOIN LATERAL unnest(t) AS u(tk)),
        |g AS (SELECT doc_id, COUNT(*) AS n_words, SUM(length(tk)) AS sum_len,
        |  SUM(CASE WHEN regexp_full_match(tk, '[A-Za-z]+') THEN 1 ELSE 0 END)
        |    AS n_alpha_words,
        |  SUM(CASE WHEN lower(tk) IN
        |        ('the','be','to','of','and','that','have','with')
        |      THEN 1 ELSE 0 END) AS n_stop_hits
        |  FROM uni GROUP BY doc_id),
        |p AS (SELECT doc_id FROM g
        |  WHERE n_words BETWEEN 50 AND 100000
        |    AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words
        |    AND 10 * n_alpha_words >= 8 * n_words AND n_stop_hits >= 2),
        |h AS (SELECT DISTINCT doc_id FROM uni
        |      WHERE lower(tk) IN ('slow', 'dup', 'spark'))
        |SELECT d.doc_id, d.text FROM documents d JOIN p USING (doc_id)
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM h)
        |ORDER BY d.doc_id""".stripMargin,

    // streaming store-dedup == the batch anti-join spelling
    "e11_stream_dedup_store" -> {
      val fp = graft.functions.TextAnalysis.Sql.normalizedFingerprint("text")
      s"""WITH store AS (SELECT DISTINCT $fp AS fp
         |  FROM documents WHERE doc_id % 3 = 0)
         |SELECT doc_id, text FROM documents
         |WHERE $fp NOT IN (SELECT fp FROM store)
         |ORDER BY doc_id""".stripMargin
    },

    // the doc_id-ordered batch cumsum spelling (arrival-order prefix —
    // the streaming contract; tb1's quality order needs the future)
    "e17_stream_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_toks,
        |    SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT source, doc_id, n_toks FROM c
        |WHERE cum - n_toks < 800 ORDER BY doc_id""".stripMargin,

    // the batch dd2 PSI spelling over the same snapshot pair
    "e15_stream_psi" ->
      s"""WITH base AS (SELECT value AS x FROM events),
         |cur AS (SELECT CASE WHEN event_id % 4 = 0 THEN value + 5.0
         |               ELSE value END AS x FROM events)
         |SELECT list_reduce(
         |    list_prepend(CAST(0.0 AS DOUBLE),
         |      array_agg(term ORDER BY bucket)),
         |    (a, b) -> a + b) AS psi
         |FROM ${Drift.profileSql(10)} t""".stripMargin,

    // the batch LSH band-join spelling: docs that share any band with
    // the even-id store are dropped; shingle-less docs are admitted
    "e14_stream_neardup" -> NearDupAdmitSql,

    // the converged stream census must equal batch bb1: its own oracle
    "e23_stream_length_census" -> CurationCatalog.LengthBucketsOracleSql,

    // the drained stream admission must equal batch nv2: its own oracle
    "e25_stream_novelty" -> TrainingCatalog.oracle("nv2_store_admit"),

    // the converged cards must equal batch dcard2: its own oracle
    "e26_stream_source_cards" -> CurationCatalog.oracle("dcard2_source_cards"),

    // the converged census must equal batch qd1: its own oracle
    "e29_stream_quality_deciles" -> CurationCatalog.oracle("qd1_quality_deciles"),

    // the drained repetition cut must equal batch rep3: its own oracle
    "e27_stream_repetition" -> CurationCatalog.oracle("rep3_repetition_filter"),

    // the drained census must equal batch pii2: its own oracle
    "e28_stream_pii_census" -> CurationCatalog.oracle("pii2_pii_census"),

    // the converged manifest fold must equal batch mf1: its own oracle
    "e24_stream_manifest" ->
      s"""${TrainingCatalog.manifestSql("documents")}
         |ORDER BY shard""".stripMargin,

    // the folded store must equal the one-shot build: ii1's own oracle
    // serving over the maintained store == serving over a fresh build:
    // ii2's own corpus-side oracle, unchanged
    "e30_stream_index_topk" -> TrainingCatalog.indexTopKOracleSql,

    "e22_stream_index_append" ->
      s"""SELECT shard, term, df, block, block_df, postings
         |FROM ${graft.functions.InvertedIndex.postingsSql(
             "documents", "doc_id", "text", nShards = 8, blockSize = 16)} q
         |ORDER BY term, block""".stripMargin,

    // streamed takedowns must reproduce a clean SURVIVOR rebuild —
    // ii7's oracle, unchanged
    "e38_stream_index_remove" ->
      s"""SELECT shard, term, df, block, block_df, postings
         |FROM ${graft.functions.InvertedIndex.postingsSql(
             "(SELECT * FROM documents WHERE doc_id % 3 <> 0) dsrc",
             "doc_id", "text", nShards = 8, blockSize = 16)} q
         |ORDER BY term, block""".stripMargin,

    // identical admission semantics through the PERSISTED, APPENDED
    // band store: same oracle proves persisted == inline == SQL
    "x15_band_store_append" -> NearDupAdmitSql,

    // stride-2 frame indices + the per-frame pixel formula in SQL
    "m7_avi_frames" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(2 + doc_id % 4 AS INT) AS width,
        |    CAST(1 + doc_id % 3 AS INT) AS height,
        |    3 + doc_id % 5 AS nf FROM documents),
        |fr AS (SELECT d.*, CAST(f.f AS INT) AS frame_idx
        |  FROM d CROSS JOIN LATERAL unnest(range(0, d.nf, 2)) AS f(f)),
        |s AS (SELECT fr.doc_id, fr.frame_idx, fr.width, fr.height, fr.nf,
        |    CAST(SUM((fr.doc_id * 37 + fr.frame_idx * 13 + y.y * 7
        |              + x.x * 3) % 256) AS BIGINT) AS sum_b
        |  FROM fr
        |  CROSS JOIN LATERAL unnest(range(0, fr.width)) AS x(x)
        |  CROSS JOIN LATERAL unnest(range(0, fr.height)) AS y(y)
        |  GROUP BY fr.doc_id, fr.frame_idx, fr.width, fr.height, fr.nf)
        |SELECT doc_id, frame_idx, width, height,
        |  CAST(nf AS BIGINT) AS n_frames,
        |  CAST((doc_id * 37 + frame_idx * 13) % 256 AS INT) AS p00_b,
        |  sum_b
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,

    // nearest-neighbor source mapping floor(x2*w/4), floor(y2*h/3)
    // restated with DuckDB integer division over the m3 pixel formula
    "m6_resize" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(2 + doc_id % 6 AS INT) AS src_w,
        |    CAST(1 + doc_id % 4 AS INT) AS src_h FROM documents),
        |s AS (SELECT d.doc_id, d.src_w, d.src_h,
        |    CAST(SUM((d.doc_id * 31 + ((y2.y * d.src_h) // 3) * 7
        |              + ((x2.x * d.src_w) // 4) * 3) % 256) AS BIGINT) AS sum_c0
        |  FROM d
        |  CROSS JOIN LATERAL unnest(range(0, 4)) AS x2(x)
        |  CROSS JOIN LATERAL unnest(range(0, 3)) AS y2(y)
        |  GROUP BY d.doc_id, d.src_w, d.src_h)
        |SELECT doc_id, src_w, src_h,
        |  CAST((doc_id * 31) % 256 AS INT) AS p00,
        |  CAST((doc_id * 31 + ((1 * src_h) // 3) * 7
        |        + ((2 * src_w) // 4) * 3) % 256 AS INT) AS p_mid,
        |  CAST((doc_id * 31 + ((2 * src_h) // 3) * 7
        |        + ((3 * src_w) // 4) * 3) % 256 AS INT) AS p_last,
        |  sum_c0
        |FROM s ORDER BY doc_id""".stripMargin,

    "m13_dhash" ->
      s"""WITH $dhashOracleCte
         |SELECT doc_id, dhash FROM hashes ORDER BY doc_id""".stripMargin,

    "m14_dhash_neardup" ->
      s"""WITH $dhashOracleCte,
         |$dhashPairsCtes
         |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    // stream-maintained store == one-shot build, on m14's own oracle
    "e32_stream_image_neardup" ->
      s"""WITH $dhashOracleCte,
         |$dhashPairsCtes
         |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    // the full image-dedup loop: corpus → dHash → banded near-dup
    // pairs → connected components (x9's CC spelling over the m14
    // edges — the star-capped pairs recover full groups transitively)
    "m15_image_components" ->
      s"""WITH RECURSIVE $dhashOracleCte,
         |$dhashPairsCtes,
         |fp AS (SELECT a_id, b_id FROM pairs WHERE hamming <= 3),
         |${graft.dedup.Components.Sql.componentsCtes("fp", "d", "doc_id")}
         |SELECT id AS doc_id, comp FROM comps ORDER BY doc_id""".stripMargin,

    // stream-maintained audio-hash store == one-shot, on the audio
    // pairs replay (the e32 discipline on the m16 chain)
    "e39_stream_audio_neardup" ->
      s"""WITH $audioHashOracleCte,
         |$dhashPairsCtes
         |SELECT a_id, b_id, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    // the m16 sample formula replayed end-to-end; bit-string column
    // emitted as `ahash` to match the engine's AudioHashRow
    "m16_audio_hash" ->
      s"""WITH $audioHashOracleCte
         |SELECT doc_id, dhash AS ahash FROM hashes ORDER BY doc_id""".stripMargin,

    // the full audio-dedup loop: energy hashes → the SHARED banding /
    // chain-cap / hamming CTEs (dhashPairsCtes reads `hashes(doc_id,
    // dhash)` — the audio CTE ends in exactly that shape) → the
    // recursive-CTE components fixpoint over the `ad` universe
    "m17_audio_components" ->
      s"""WITH RECURSIVE $audioHashOracleCte,
         |$dhashPairsCtes,
         |fp AS (SELECT a_id, b_id FROM pairs WHERE hamming <= 3),
         |${graft.dedup.Components.Sql.componentsCtes("fp", "ad", "doc_id")}
         |SELECT id AS doc_id, comp FROM comps ORDER BY doc_id""".stripMargin,

    // the same (doc_id, x, y, channel) formula restated in SQL; column
    // names carry PNG's RGB order (p00_b here is channel index 0 = R
    // in PNG — the BmpStats field names are positional)
    "m5_png_decode" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(2 + doc_id % 5 AS INT) AS width,
        |    CAST(5 + doc_id % 4 AS INT) AS height FROM documents),
        |s AS (SELECT d.doc_id, d.width, d.height,
        |    CAST(SUM((d.doc_id * 29 + y.y * 11 + x.x * 5 + 2) % 256) AS BIGINT) AS sum_r
        |  FROM d
        |  CROSS JOIN LATERAL unnest(range(0, d.width)) AS x(x)
        |  CROSS JOIN LATERAL unnest(range(0, d.height)) AS y(y)
        |  GROUP BY d.doc_id, d.width, d.height)
        |SELECT doc_id, width, height,
        |  CAST((doc_id * 29 + 0) % 256 AS INT) AS p00_b,
        |  CAST((doc_id * 29 + 1) % 256 AS INT) AS p00_g,
        |  CAST((doc_id * 29 + 2) % 256 AS INT) AS p00_r,
        |  CAST((doc_id * 29 + (height - 1) * 11 + (width - 1) * 5 + 2) % 256 AS INT) AS pbr_r,
        |  sum_r, CAST(width * height AS BIGINT) AS n_px
        |FROM s ORDER BY doc_id""".stripMargin,

    // lossless facets of the lossy codec predicted exactly (dims from
    // the doc_id formula); the pixel fidelity flag must be TRUE — the
    // Spark side computes it against the source formula with the
    // pinned ±8 tolerance, so a decode that is absent, mis-strided,
    // flipped, or channel-swapped hash-mismatches here
    "m8_jpeg_decode" ->
      """SELECT doc_id,
        |  CAST(9 + doc_id % 5 AS INT) AS width,
        |  CAST(9 + doc_id % 4 AS INT) AS height,
        |  CAST((9 + doc_id % 5) * (9 + doc_id % 4) AS BIGINT) AS n_px,
        |  TRUE AS decode_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // stride-2 frame indices + exact geometry; per-frame pixel
    // fidelity rides the same tolerance-flag contract as m8
    "m9_mjpeg_frames" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(9 + doc_id % 4 AS INT) AS width,
        |    CAST(9 + doc_id % 3 AS INT) AS height,
        |    3 + doc_id % 4 AS nf FROM documents)
        |SELECT d.doc_id, CAST(f.f AS INT) AS frame_idx, d.width, d.height,
        |  CAST(d.nf AS BIGINT) AS n_frames, TRUE AS decode_ok
        |FROM d CROSS JOIN LATERAL unnest(range(0, d.nf, 2)) AS f(f)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // the same (doc_id, sample-index) formula restated in SQL
    "m4_wav_decode" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INT) AS channels,
        |    (40 + doc_id % 40) * (1 + doc_id % 2) AS n FROM documents),
        |s AS (SELECT d.doc_id, d.sample_rate, d.channels, d.n,
        |    CAST(SUM(ABS((d.doc_id * 13 + j.j * 17) % 4001 - 2000)) AS BIGINT) AS sum_abs,
        |    CAST(MAX(ABS((d.doc_id * 13 + j.j * 17) % 4001 - 2000)) AS INT) AS peak
        |  FROM d CROSS JOIN LATERAL unnest(range(0, d.n)) AS j(j)
        |  GROUP BY d.doc_id, d.sample_rate, d.channels, d.n)
        |SELECT doc_id, sample_rate, channels, CAST(n AS BIGINT) AS n_samples,
        |  CAST((doc_id * 13) % 4001 - 2000 AS INT) AS first_sample,
        |  CAST((doc_id * 13 + (n - 1) * 17) % 4001 - 2000 AS INT) AS last_sample,
        |  sum_abs, peak
        |FROM s ORDER BY doc_id""".stripMargin,

    // the G.711 expansion tables (CCITT) restated as bit arithmetic:
    // mu-law complements the byte then shifts mantissa*8+132 by the
    // exponent; A-law xors 0x55 with segment-0/1 special cases. The
    // byte stream itself is the (doc_id, j) formula from the gate.
    "m11_g711_decode" -> G711DecodeSql,
    "m12_adpcm_decode" -> AdpcmDecodeSql,
    // streaming == batch for the stateless per-payload decode
    "e19_stream_adpcm" -> AdpcmDecodeSql,

    // identical payloads, identical decoder, streamed: same oracle
    "e16_stream_media" -> G711DecodeSql,


    // the same (doc_id, x, y, channel) pixel formula, restated in SQL —
    // the gate then proves the whole encode→decode byte path: a wrong
    // row un-flip or stride shows in the corner probes, a padding slip
    // in the sum
    "m10_gif_decode" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(2 + doc_id % 5 AS INT) AS width,
        |    CAST(1 + doc_id % 3 AS INT) AS height FROM documents),
        |s AS (SELECT d.doc_id, d.width, d.height,
        |    CAST(SUM((d.doc_id * 29 + y.y * 5 + x.x * 11) % 256) AS BIGINT) AS sum_r
        |  FROM d
        |  CROSS JOIN LATERAL unnest(range(0, d.width)) AS x(x)
        |  CROSS JOIN LATERAL unnest(range(0, d.height)) AS y(y)
        |  GROUP BY d.doc_id, d.width, d.height)
        |SELECT doc_id, width, height,
        |  CAST((doc_id * 29) % 256 AS INT) AS p00_r,
        |  CAST((doc_id * 29) % 256 AS INT) AS p00_g,
        |  CAST((doc_id * 29) % 256 AS INT) AS p00_b,
        |  CAST((doc_id * 29 + (height - 1) * 5 + (width - 1) * 11) % 256 AS INT) AS pbr_r,
        |  sum_r, CAST(width * height AS BIGINT) AS n_px
        |FROM s ORDER BY doc_id""".stripMargin,

    "m3_bmp_decode" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(2 + doc_id % 6 AS INT) AS width,
        |    CAST(1 + doc_id % 4 AS INT) AS height FROM documents),
        |s AS (SELECT d.doc_id, d.width, d.height,
        |    CAST(SUM((d.doc_id * 31 + y.y * 7 + x.x * 3 + 2) % 256) AS BIGINT) AS sum_r
        |  FROM d
        |  CROSS JOIN LATERAL unnest(range(0, d.width)) AS x(x)
        |  CROSS JOIN LATERAL unnest(range(0, d.height)) AS y(y)
        |  GROUP BY d.doc_id, d.width, d.height)
        |SELECT doc_id, width, height,
        |  CAST((doc_id * 31 + 0) % 256 AS INT) AS p00_b,
        |  CAST((doc_id * 31 + 1) % 256 AS INT) AS p00_g,
        |  CAST((doc_id * 31 + 2) % 256 AS INT) AS p00_r,
        |  CAST((doc_id * 31 + (height - 1) * 7 + (width - 1) * 3 + 2) % 256 AS INT) AS pbr_r,
        |  sum_r, CAST(width * height AS BIGINT) AS n_px
        |FROM s ORDER BY doc_id""".stripMargin,

    // independent derivation, never touching a codec: utf-8 bytes of
    // the ASCII fixture text ARE the codepoints, so pixel i of the BMP
    // (and sample i of the WAV) is ord(text[i]) — normalized by the
    // modality's scale (/255 pixels, /32768 PCM). Dims restate the
    // encode formulas; WAV rows carry (0,0) by the extractor contract.
    "m1_media_features" -> {
      val fs = (0 until BinaryOps.FeatureDim).map(i =>
        s"""CASE WHEN len(text) > $i
           |    THEN CAST(ord(substr(text, ${i + 1}, 1)) AS DOUBLE)
           |         / (CASE WHEN doc_id % 2 = 0 THEN 255.0 ELSE 32768.0 END)
           |    ELSE 0.0 END AS f$i""".stripMargin)
        .mkString(",\n  ")
      s"""SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS format,
         |  CASE WHEN doc_id % 2 = 0 THEN CAST(2 + doc_id % 6 AS INT) ELSE 0 END AS width,
         |  CASE WHEN doc_id % 2 = 0 THEN CAST(2 + doc_id % 4 AS INT) ELSE 0 END AS height,
         |  $fs
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // streaming must agree with the batch fold — same oracle as ts2
    "e7_stream_ewma" -> StatsCatalog.oracle("ts2_ewma"),

    // streaming funnel must agree with the batch state machine
    "e8_stream_funnel" -> StatsCatalog.oracle("sq1_funnel"),

    // same byte-is-codepoint equivalence as m1 (ASCII fixture guard in
    // CatalogSmokeSpec); sampled indices are 0,2,4,6 of the 8-wide
    // REAL-decoded feature vector, so the modality scale rides along
    "m2_frame_sample" ->
      """SELECT doc_id, i AS frame_idx,
        |  CASE WHEN len(text) > 2*i
        |       THEN CAST(ord(substr(text, 2*i + 1, 1)) AS DOUBLE)
        |            / (CASE WHEN doc_id % 2 = 0 THEN 255.0 ELSE 32768.0 END)
        |       ELSE 0.0 END AS v
        |FROM documents, (SELECT unnest(generate_series(0, 3)) AS i) s
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "e6_stream_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id
        |FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM ev WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.us >= p.us - 600000000 AND c.us <= p.us
        |ORDER BY purchase_id, click_id""".stripMargin
  )
}
