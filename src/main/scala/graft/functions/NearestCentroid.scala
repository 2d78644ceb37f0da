package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** A centroid table in primitive arrays: cell ids ascending, each row's
  * coordinates at `starts(c)` in one flat array, and each row's ‖c‖²
  * precomputed with [[DotProduct]]'s left-to-right fold (so it equals
  * the plan's `dot(centroid, centroid)` bit for bit). Shipped to
  * executors as one Spark broadcast, never as plan literals.
  */
final class CentroidMatrix private (val cells: Array[Int], widths: Array[Int],
                                    starts: Array[Int], coords: Array[Double],
                                    norm2: Array[Double])
    extends Serializable {

  def k: Int = cells.length

  /** The common row width; fails when the rows differ. */
  def width: Int = {
    require(widths.forall(_ == widths(0)),
      s"nearest_centroid: centroid widths differ (${widths.distinct.sorted.mkString("/")})")
    widths(0)
  }

  /** The cell of `v` — of its slice `[offset, offset + width)` when
    * `dim >= 0`, in which case `v` must have `dim` elements. The
    * argmin over cells of `round(‖c‖² − 2.0·(v·c), 6)` under Spark's
    * double ordering (NaN greatest, −0.0 = 0.0), ties to the lowest
    * cell. A distance is defined only between equal lengths
    * ([[DotProduct]] is NULL otherwise), so a whole vector is compared
    * with the centroids of its own length, and fails when there are
    * none.
    *
    * `round6` is monotone and moves a value by at most 0.5e-6 plus
    * about one ulp, so two distances that round to the same value lie
    * within 1e-6 + a few ulps of each other. Only the candidates
    * within a wider margin of the raw minimum are rounded; when the
    * raw minimum is not finite every candidate is rounded.
    */
  def nearest(v: ArrayData, floats: Boolean, dim: Int, offset: Int): Int = {
    val n = v.numElements()
    if (dim >= 0 && n != dim)
      throw new IllegalArgumentException(
        s"nearest_centroid: vector has $n elements, expected $dim")
    val len = if (dim >= 0) widths(0) else n
    val x = new Array[Double](len)
    var i = 0
    while (i < len) {
      val j = offset + i
      if (v.isNullAt(j))
        throw new IllegalArgumentException(
          s"nearest_centroid: vector element $j is NULL")
      x(i) = if (floats) v.getFloat(j).toDouble else v.getDouble(j)
      i += 1
    }
    val d = new Array[Double](k)
    var lo = 0.0
    var any = false
    var c = 0
    while (c < k) {
      if (widths(c) == len) {
        val base = starts(c)
        var acc = 0.0
        i = 0
        while (i < len) { acc += x(i) * coords(base + i); i += 1 }
        d(c) = norm2(c) - 2.0 * acc
        if (!any || CentroidMatrix.less(d(c), lo)) lo = d(c)
        any = true
      }
      c += 1
    }
    if (!any)
      throw new IllegalArgumentException(
        s"nearest_centroid: vector has $n elements, centroids expect " +
          widths.distinct.sorted.mkString("/"))
    val finite = !lo.isNaN && !lo.isInfinite
    val bound = lo + 2e-6 + 8 * math.ulp(lo)
    var best = -1
    var bestR = 0.0
    c = 0
    while (c < k) {
      if (widths(c) == len && (!finite || d(c) <= bound)) {
        val r = CentroidMatrix.round6(d(c))
        if (best < 0 || CentroidMatrix.less(r, bestR)) { best = c; bestR = r }
      }
      c += 1
    }
    cells(best)
  }
}

object CentroidMatrix {

  /** Spark `round(x, 6)` on a double: BigDecimal of `Double.toString`,
    * HALF_UP at scale 6; NaN and ±Infinity pass through.
    */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Strict `a < b` under Spark's double ordering (NaN greatest and
    * equal to itself, −0.0 equal to 0.0).
    */
  def less(a: Double, b: Double): Boolean =
    if (a == b || a.isNaN) false
    else b.isNaN || a < b

  /** Build from (cell, centroid) pairs; rows are ordered by cell so the
    * lowest cell wins ties. Fails on an empty set or an empty centroid.
    */
  def apply(rows: Seq[(Int, Array[Double])]): CentroidMatrix = {
    require(rows.nonEmpty, "nearest_centroid: empty centroid set")
    val sorted = rows.sortBy(_._1)
    sorted.foreach { case (cell, c) =>
      require(c.nonEmpty, s"nearest_centroid: cell $cell has no coordinates")
    }
    val widths = sorted.map(_._2.length).toArray
    val norm2 = sorted.map { case (_, c) =>
      var acc = 0.0
      c.foreach(x => acc += x * x)
      acc
    }.toArray
    new CentroidMatrix(sorted.map(_._1).toArray, widths,
      widths.scanLeft(0)(_ + _).init, sorted.flatMap(_._2).toArray, norm2)
  }

  /** Collect a (cell int, centroid array<numeric>) frame — k rows. */
  def collect(centroids: DataFrame): CentroidMatrix =
    apply(centroids.select("cell", "centroid").collect().toSeq.map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "nearest_centroid: NULL cell or centroid")
      r.getInt(0) -> toDoubles(r, 1)
    })

  private def toDoubles(r: Row, i: Int): Array[Double] =
    r.getSeq[Any](i).map {
      case null => throw new IllegalArgumentException(
        s"nearest_centroid: cell ${r.getInt(0)} has a NULL coordinate")
      case x => x.asInstanceOf[Number].doubleValue()
    }.toArray
}

/** Nearest-centroid cell of a vector (or of its slice
  * `[offset, offset + width)`), against a broadcast [[CentroidMatrix]]:
  * the cell that `min(struct(round(‖c‖² − 2.0·(v·c), 6), cell))` picks
  * over every (vector, centroid) pair whose distance is defined,
  * computed row-locally — no cross join, no shuffle, no per-pair row.
  * The plan holds only the broadcast handle, so neither it nor the
  * task binary grows with the centroid table. `dim < 0` compares the
  * whole vector; otherwise the vector must have `dim` elements. A
  * vector no centroid can be compared with, or one with a NULL element
  * in the compared range, fails the task; a NULL vector gives NULL.
  */
case class NearestCentroid(child: Expression,
                           centroids: Broadcast[CentroidMatrix],
                           dim: Int, offset: Int)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "nearest_centroid"

  private def floats: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid needs array<float|double>, got $t")
    }

  @transient private lazy val matrix = centroids.value

  override def nullSafeEval(v: Any): Any =
    matrix.nearest(v.asInstanceOf[ArrayData], floats, dim, offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[CentroidMatrix].getName
    val bc = ctx.addReferenceObj("ncBroadcast", centroids,
      classOf[Broadcast[_]].getName)
    val m = ctx.addMutableState(cls, "ncMatrix",
      v => s"$v = ($cls) $bc.value();")
    defineCodeGen(ctx, ev, v => s"$m.nearest($v, $floats, $dim, $offset)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** The cell of the whole vector `vec`. */
  def nearest_centroid(vec: Column, m: Broadcast[CentroidMatrix]): Column =
    ColumnBridge.toColumn(NearestCentroid(ColumnBridge.toExpr(vec), m, -1, 0))

  /** The cell of the slice of `vec` (which has `dim` elements) starting
    * at `offset`, as wide as the centroids (a PQ subspace).
    */
  def nearest_centroid(vec: Column, m: Broadcast[CentroidMatrix],
                       dim: Int, offset: Int): Column = {
    val width = m.value.width
    require(offset >= 0 && offset + width <= dim,
      s"nearest_centroid: slice [$offset, ${offset + width}) outside dim $dim")
    ColumnBridge.toColumn(NearestCentroid(ColumnBridge.toExpr(vec), m, dim, offset))
  }
}
