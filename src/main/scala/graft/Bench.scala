package graft

import graft.bench.Pipelines
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs the headline pipelines on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Timed work is the full
  * pipeline execution (terminal count over the materialized plan);
  * CSV staging for the ETL pipeline is untimed setup, mirroring the
  * reference whose input CSV pre-exists on HDFS (BASELINE.md).
  */
object Bench {

  /** Session construction shared with [[graft.bench.Probe]] so probe
    * readings see exactly the bench's conf (AQE, shuffle partitions).
    */
  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The headline entry list over pre-staged input dirs — exposed (not
    * inlined in main) so [[graft.bench.Probe]] and the benchmark harness
    * run these entries without duplicating the list.
    */
  def entries(spark: SparkSession, sfDir: String, csvDir: String,
              int8Dir: String, indexDir: String,
              ivfAdcDir: String): Seq[(String, () => DataFrame)] = {
    val sinkDir = graft.core.Staging.tmpDir("bench_sink")
    Seq(
      "etl_upstream" -> (() => Pipelines.etlUpstream(spark, csvDir)),
      "etl_with_sink" -> (() => {
        // BASELINE's ETL number includes the load; parquet stands in for
        // the JDBC sink (a single-connection Derby write measures the
        // DB, not the engine)
        val out = Pipelines.etlUpstream(spark, csvDir)
        out.write.mode("overwrite").parquet(s"$sinkDir/etl")
        spark.read.parquet(s"$sinkDir/etl")
      }),
      "dedup_window" -> (() => Pipelines.dedupWindow(spark, sfDir)),
      "dedup_exact" -> (() => Pipelines.dedupExact(spark, sfDir)),
      "q1_agg" -> (() => Pipelines.q1(spark, sfDir)),
      "q5_join" -> (() => operators.Relational.q5Region(spark, sfDir)),
      "join_agg" -> (() => Pipelines.joinAgg(spark, sfDir)),
      "minhash_lsh" -> (() => Pipelines.minhashLsh(spark, sfDir)),
      "dedup_groups" -> (() => Pipelines.dedupGroups(spark, sfDir)),
      "ann_topk" -> (() => Pipelines.annTopK(spark, sfDir)),
      "ann_int8" -> (() => Pipelines.annInt8TopK(spark, int8Dir)),
      "ann_lsh" -> (() => Pipelines.lshTopK(spark, sfDir)),
      "ann_rp" -> (() => Pipelines.annRpTopK(spark, sfDir)),
      "ann_pq" -> (() => Pipelines.annPqTopK(spark, sfDir)),
      "ann_ivfadc" -> (() => Pipelines.annIvfAdc(spark, ivfAdcDir)),
      "ann_refine" -> (() => Pipelines.annRefine(spark, ivfAdcDir)),
      "text_quality" -> (() => Pipelines.textQuality(spark, sfDir)),
      "asof_join" -> (() => Pipelines.asofEnrich(spark, sfDir)),
      "ewma_fold" -> (() => Pipelines.ewmaFold(spark, sfDir)),
      "funnel_stages" -> (() => Pipelines.funnelStages(spark, sfDir)),
      "fuzzy_pairs" -> (() => Pipelines.fuzzyPairs(spark, sfDir)),
      "dsir_select" -> (() => Pipelines.dsirSelect(spark, sfDir)),
      "semdedup" -> (() => Pipelines.semDedup(spark, sfDir)),
      "semantic_decontam_ivf" -> (() => Pipelines.semanticDecontamIvf(spark, sfDir)),
      "embedding_cascade" -> (() => Pipelines.embeddingCascade(spark, sfDir)),
      "ppl_buckets" -> (() => Pipelines.pplBuckets(spark, sfDir)),
      "ppl_buckets_kn" -> (() => Pipelines.pplBucketsKn(spark, sfDir)),
      "stream_rollup" -> (() => Pipelines.streamRollup(spark, sfDir)),
      "boilerplate_strip" -> (() => Pipelines.boilerplateStrip(spark, sfDir)),
      "dup_span_strip" -> (() => Pipelines.dupSpanStrip(spark, sfDir)),
      "exact_span_strip" -> (() => Pipelines.exactSpanStrip(spark, sfDir)),
      "range_join" -> (() => Pipelines.rangeJoinAgg(spark, sfDir)),
      "pagerank" -> (() => Pipelines.pageRank(spark, sfDir)),
      "bm25" -> (() => Pipelines.bm25Score(spark, sfDir)),
      "inverted_index" -> (() => Pipelines.invertedIndex(spark, sfDir)),
      "index_topk" -> (() => Pipelines.indexTopK(spark, indexDir)),
      "index_topk_churned" -> (() => Pipelines.indexTopKChurned(spark, indexDir)),
      "compressed_export" -> (() => Pipelines.compressedExport(spark, sfDir)),
      "impact_topk" -> (() => Pipelines.impactTopK(spark, indexDir)),
      "bpe_tokenize" -> (() => Pipelines.bpeTokenize(spark, sfDir)),
      "byte_bpe_roundtrip" -> (() => Pipelines.byteBpeRoundtrip(spark, sfDir)),
      "unigram_segment" -> (() => Pipelines.unigramSegment(spark, sfDir)),
      "wordpiece_tokenize" -> (() => Pipelines.wordPieceTokenize(spark, sfDir)),
      "kmeans_train" -> (() => Pipelines.kmeansTrain(spark, sfDir)),
      "image_neardup" -> (() => Pipelines.imageNearDup(spark, sfDir)),
      "audio_neardup" -> (() => Pipelines.audioNearDup(spark, sfDir)),
      "tokenized_export" -> (() => Pipelines.tokenizedExport(spark, sfDir)),
      "packed_export" -> (() => Pipelines.packedExport(spark, sfDir)),
      "corpus_export" -> (() => Pipelines.corpusExport(spark, sfDir)),
      "repetition_cut" -> (() => Pipelines.repetitionCut(spark, sfDir)),
      "curation_cascade" -> (() => Pipelines.curationCascade(spark, sfDir)),
      "ml_prep_fit" -> (() => Pipelines.mlPrepFit(spark, sfDir)),
      "ml_combo_fit" -> (() => Pipelines.mlComboFit(spark, sfDir))) ++
      // the TRUE JDBC load — a single-connection embedded-Derby insert
      // stream, so it mostly measures the database, not the engine;
      // standing entry so BASELINE.md's ETL+MSSQL row has a
      // driver-recorded counterpart every round. The lambda
      // does ETL + load eagerly and returns a 1-row literal: returning
      // the un-materialized ETL frame would make the harness's timed
      // count() run the full ETL a second time.
      {
        val jdbcN = new java.util.concurrent.atomic.AtomicInteger(0)
        val db = graft.core.Staging.tmpDir("bench_jdbc") + "/loans"
        Seq("etl_jdbc_sink" -> (() => {
          val out = Pipelines.etlUpstream(spark, csvDir)
          graft.sources.Sinks.jdbc(out,
            Map("url" -> s"jdbc:derby:$db;create=true",
              "dbtable" -> s"loans_${jdbcN.incrementAndGet()}",
              // 10× the writer's default 1000-row executeBatch unit:
              // fewer JDBC round trips into the single-connection
              // Derby stream (same rows, same table — writer tuning
              // only; guide §1.2 step 2)
              "batchsize" -> "10000"))
          spark.range(1).toDF("ok")
        }))
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // setup (untimed): stage ETL input CSV; warm the JVM/codegen paths
    val csvDir = Pipelines.stageLoanCsv(spark, sfDir)
    val int8Dir = Pipelines.stageInt8(spark, sfDir)
    val indexDir = Pipelines.stageIndex(spark, sfDir)
    val ivfAdcDir = Pipelines.stageIvfAdc(spark, sfDir)
    Pipelines.q1(spark, sfDir).count()

    val headline = entries(spark, sfDir, csvDir, int8Dir, indexDir, ivfAdcDir)

    // Timed action (r17 measurement fix, guide §1.4): the noop sink —
    // `df.write.format("noop")` — computes EVERY column of every row
    // and discards the result. The previous `count()` terminal let
    // Catalyst prune computed aggregate/projection columns, so entries
    // whose final operator derives expensive columns timed only their
    // join/grouping bookkeeping (measured: range_join 6.9 s
    // count-timed vs 25.4 s honestly timed before its own
    // optimization; text_quality timed a bare row count). The old
    // count()-terminal numbers are retained in OPTIMIZATION_r17.md
    // next to the honest ones. Row-count bookkeeping keeps the same
    // failure semantics: 0 on success, -1 on failure.
    def timedAction(df: DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); 0L
    }

    // untimed warm-up pass: the first execution of each pipeline pays
    // whole-stage-codegen janino compilation and FS cache misses — on a
    // contended shared host that inflated a 1 s pipeline to 12 s in a
    // recorded round. Steady-state throughput is what we report.
    headline.foreach { case (name, mk) =>
      try timedAction(mk()) catch { case _: Throwable =>
        System.err.println(s"[bench] warmup $name failed (reported below)") }
    }

    // best-of-N: single-shot numbers on a shared host carry multi-second
    // GC/scheduler noise; min over repeats is the standard stabilizer.
    // Structure: 3 CONSECUTIVE timed runs per entry (immediate reruns
    // keep codegen/JIT/page-cache warmth — the min stays comparable to
    // prior rounds' warmed best-of-3) PLUS one DEFERRED pass over all
    // entries at session end. The deferred run is the contention
    // cross-check: round 5's phantom "join_agg 7.5x" (re-measured
    // 0.47 s) happened because a few-minute contention window inflated
    // all three consecutive repeats at once, defeating bench_delta's
    // min-moved-means-real heuristic — now a window in the consecutive
    // phase leaves the deferred sample clean and vice versa. (A fully
    // interleaved schedule was measured and rejected: with ~24 entries
    // between repeats every entry loses rerun warmth and reads
    // 1.2–1.5x its isolated min — see DESIGN.md.)
    val runsByName = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[(Double, Long)]]
    val schedule = headline.flatMap(e => Seq.fill(3)(e)) ++ headline
    for ((name, mk) <- schedule) {
      val t0 = System.nanoTime()
      val n = try timedAction(mk()) catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1L
      }
      val run = ((System.nanoTime() - t0) / 1e9, n)
      runsByName.update(name, runsByName.getOrElse(name, Vector.empty) :+ run)
    }
    val results = headline.map { case (name, _) =>
      val runs = runsByName(name)
      // a failed run must not contribute its (fast) duration to the
      // total; min over successful runs only
      val ok = runs.filter(_._2 >= 0)
      if (ok.isEmpty) (name, runs.map(_._1).max, -1L, runs.map(_._1))
      else (name, ok.map(_._1).min, ok.head._2, ok.map(_._1))
    }
    // a failed pipeline must not masquerade as a fast run
    val qs = results.map { case (k, v, n, _) =>
      "\"" + k + "\":" + (if (n < 0) -1.0 else v)
    }.mkString("{", ",", "}")
    // variance guard: min alone hid a 3.1x host-contention spike in a
    // recorded round — publish the per-entry spread so a noisy entry
    // (med >> min) is distinguishable from a real regression (min moved)
    val spread = results.map { case (k, _, _, ts) =>
      val s = ts.sorted
      "\"" + k + "\":{\"min\":" + s.head + ",\"med\":" + s(s.length / 2) +
        ",\"max\":" + s.last + "}"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, n, _) if n < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // run-provenance stamp: the SAME wall value appears at the END of
    // the big line (truncation eats the front, so it survives), in the
    // BENCHMIN line, and in the dual-written sibling file. bench_delta
    // accepts the sibling for an artifact ONLY when the stamps match —
    // without this, a later local run's bench_out.json silently stood
    // in for an older round's artifact (recorded: r8 compared itself
    // to itself and printed uniform 1.00x).
    val wall = System.currentTimeMillis()
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"failed":$failed,"sf":"$sfDir","wall":$wall}"""
    println(line)
    // durable copy: the driver captures a BOUNDED stdout tail, which has
    // truncated the head of this line (losing "queries") in recorded
    // rounds — a file the delta ritual can read survives intact
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}") }
    // tail-survival record: the driver keeps a BOUNDED stdout tail that
    // has chopped the HEAD of the big line (losing the whole "queries"
    // map) in two recorded rounds. Truncation eats the front, so a
    // compact mins-only line printed LAST always survives intact;
    // bench_delta prefers it whenever the artifact's parsed is null.
    println(s"""BENCHMIN {"queries":$qs,"failed":$failed,"value":$total,"sf":"$sfDir","wall":$wall}""")
    spark.stop()
  }
}
