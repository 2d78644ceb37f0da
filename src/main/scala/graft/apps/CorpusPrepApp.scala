package graft.apps

import graft.bench.Pipelines
import graft.core.Tables
import graft.pipeline.Runner
import graft.sources.{Sinks, Sources}

/** The training-corpus preparation pipeline end-to-end (the engine's
  * north-star use case, BASELINE.json): JSONL ingest → the curation
  * cascade ([[graft.bench.Pipelines.curationCascadeOn]]: html strip →
  * encoding repair → url blocklist → quality and Gopher gates → exact
  * dedup → MinHash-LSH components → canonical keep → stratified sample
  * → sequence packing) → JSONL sink of the packed-sequence census. The
  * cascade is the one the `curation_cascade` bench entry times, so the
  * app and the bench run the same definition.
  */
object CorpusPrepApp {

  def main(args: Array[String]): Unit = {
    val spark = AppUtil.session()
    val sf = AppUtil.sfDir(args)

    // ingest: stage the fixture as JSONL, read it back — the wire
    // format a real corpus arrives in
    val staging = graft.core.Staging.tmpDir("corpus")
    Sinks.jsonl(Tables.documents(spark, sf), staging)
    val run = Runner.runObserved(Sources.jsonl(spark, staging), Seq(
      Runner.Stage("curation_cascade", Pipelines.curationCascadeOn(spark, _))))

    // the app's deliverable — NOT under the auto-cleaned staging root;
    // it must survive JVM exit. The write is the run's one terminal and
    // fills the stage count.
    val outDir = java.nio.file.Files.createTempDirectory("graft_corpus_out").toString
    Sinks.jsonl(run.output, outDir)
    AppUtil.printCounts(run)
    println(s"[corpus] packed-sequence census -> $outDir")
    spark.stop()
  }
}
