package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content digest of a frame: row count plus the
  * exact sums of two per-row hashes, folded with the schema.
  *
  * Values are compared exactly, as the oracle comparison does
  * (`tools/check_oracle.py`): floats are not rounded. Only the
  * representations that compare equal are unified first: `-0.0` with
  * `0.0` and every NaN payload with one NaN. Map entries are sorted so
  * that insertion order does not count. Row order and partitioning do
  * not enter the digest; the order of elements inside an array does,
  * because it is part of the value.
  */
object Digest {

  final case class Result(rows: Long, digest: String)

  private def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(isnan(d), lit(Double.NaN)).when(d === 0.0, lit(0.0)).otherwise(d)
    case MapType(_, _, _) => array_sort(map_entries(c))
    case _ => c
  }

  /** One job: the frame's rows hashed and summed into exact decimals. */
  def of(df: DataFrame): Result = {
    val fields = df.schema.fields.toSeq
    val cols = fields.map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val hashed =
      if (cols.isEmpty) df.select(lit(0L).as("h1"), lit(0).as("h2"))
      else df.select(xxhash64(cols: _*).as("h1"), hash(cols: _*).as("h2"))
    val row = hashed.agg(
      count(lit(1)),
      coalesce(sum(col("h1").cast(DecimalType(38, 0))), lit(BigDecimal(0))),
      coalesce(sum(col("h2").cast(DecimalType(38, 0))), lit(BigDecimal(0))))
      .head()
    val rows = row.getLong(0)
    val schema = fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    val text = s"$schema|$rows|${row.getDecimal(1).toPlainString}|" +
      row.getDecimal(2).toPlainString
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Result(rows, md.digest(text.getBytes("UTF-8"))
      .take(12).map(b => f"${b & 0xff}%02x").mkString)
  }
}
