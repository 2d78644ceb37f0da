package graft.bench

import graft.core.Tables
import graft.quality.Dedup
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Paths}

class ProbeSpec extends graft.SparkSpec {

  private lazy val staged = Probe.stage(spark, sf0001, mult = 3, files = 4)

  private def partFiles(table: String): Long = {
    val walk = Files.list(Paths.get(s"$staged/$table.parquet"))
    try walk.filter(_.getFileName.toString.startsWith("part-")).count()
    finally walk.close()
  }

  test("stage multiplies the four tables with disjoint ids, in F part files") {
    val ids: Seq[(String, DataFrame => DataFrame)] = Seq(
      "lineitem" -> (_.select("l_orderkey", "l_linenumber")),
      "orders" -> (_.select("o_orderkey")),
      "customer" -> (_.select("c_custkey")),
      "documents" -> (_.select("doc_id")))
    for ((table, key) <- ids) {
      val before = Tables.load(spark, sf0001, table)
      val after = Tables.load(spark, staged, table)
      assert(after.count() == 3 * before.count(), table)
      // the fixture plants duplicate keys; copies must not collide
      assert(key(after).distinct().count() == 3 * key(before).distinct().count(),
        s"$table ids")
      assert(partFiles(table) == 4, s"$table part files")
    }
  }

  test("every document copy survives exact dedup on text") {
    def exact(dir: String) =
      Dedup.dropExactDuplicates(Tables.documents(spark, dir).select("text")).count()
    assert(exact(staged) == 3 * exact(sf0001))
  }

  test("untouched tables link to the fixture") {
    for (table <- Seq("region", "nation", "supplier", "part", "events", "embeddings")) {
      val link = Paths.get(s"$staged/$table.parquet")
      assert(Files.isSymbolicLink(link), table)
      assert(Files.isSameFile(link, Paths.get(s"$sf0001/$table.parquet")), table)
    }
  }

  test("an unknown entry name fails with the list of valid names") {
    val all = graft.Bench.entries(spark, sf0001, "", "", "", "")
    assert(Probe.select(all, Seq("q1_agg", "bm25")).map(_._1) == Seq("q1_agg", "bm25"))
    assert(Probe.select(all, Nil).map(_._1) == all.map(_._1))
    val e = intercept[IllegalArgumentException](Probe.select(all, Seq("q1_agg", "nope")))
    assert(e.getMessage.contains("unknown entries nope"))
    all.foreach { case (name, _) => assert(e.getMessage.contains(name)) }
  }

  test("parse reads the four options and the sf directory") {
    val a = Probe.parse(Seq("--entries", "a,b", "--mult", "4", "--files", "32",
      "--cpus", "2", "/data/sf0.1"))
    assert(a == Probe.Args(Seq("a", "b"), 4, 32, "2", "/data/sf0.1"))
    intercept[IllegalArgumentException](Probe.parse(Seq("--repeats", "3", "/data")))
    intercept[IllegalArgumentException](Probe.parse(Seq("--mult", "2")))
  }
}
