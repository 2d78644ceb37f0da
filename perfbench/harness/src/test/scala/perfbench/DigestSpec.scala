package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame = spark.range(0, 500).select(
    col("id"),
    (col("id") % 7).cast("string").as("k"),
    (col("id") / 3.0).as("x"),
    array(col("id"), col("id") + 1).as("arr"),
    map(lit("a"), col("id")).as("m"),
    when(col("id") % 11 === 0, lit(null)).otherwise(col("id") * 2).as("maybe"))

  test("digest ignores row order and partitioning") {
    val base = Digest.of(frame.coalesce(1))
    assert(base.rows == 500)
    assert(Digest.of(frame.repartition(7)) == base)
    assert(Digest.of(frame.orderBy(rand(3))) == base)
    assert(Digest.of(frame.repartition(5, col("k")).sortWithinPartitions(col("x").desc)) == base)
  }

  test("digest sees a changed value, a dropped row and a changed schema") {
    val base = Digest.of(frame)
    assert(Digest.of(frame.withColumn("x", col("x") + 1e-9)) != base)
    assert(Digest.of(frame.filter(col("id") =!= 42)) != base)
    assert(Digest.of(frame.withColumn("id", col("id").cast("int"))) != base)
  }

  test("negative zero and NaN payloads compare equal") {
    import spark.implicits._
    val a = Seq(0.0, Double.NaN).toDF("v")
    val b = Seq(-0.0, java.lang.Double.longBitsToDouble(0x7ff8000000000001L)).toDF("v")
    assert(Digest.of(a) == Digest.of(b))
  }
}
