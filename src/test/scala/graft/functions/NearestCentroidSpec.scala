package graft.functions

import graft.similarity.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Parity of the [[NearestCentroid]] kernel with the relational
  * spelling it replaced: per (vector, centroid) pair Spark's own
  * `round(dot(c, c) − 2.0·dot(v, c), 6)`, then `min(struct(d, cell))`
  * per vector. Generated cases aim at the places a row-local argmin
  * can drift from it: exact ties and duplicate centroids, −0.0,
  * distances straddling a 6-dp half boundary, magnitudes whose ulp
  * exceeds 1e-6, non-finite distances, PQ subspace slices,
  * non-contiguous cell ids, and centroids of mixed widths (a pair of
  * unequal lengths has no distance: DotProduct is NULL, and the
  * reference drops it). Every case runs codegen'd and interpreted.
  */
class NearestCentroidSpec extends graft.SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  /** One generated case: whole vectors (`slice` None) or vectors of
    * length `dim` matched on the slice starting at `offset` whose width
    * is the centroids'.
    */
  private case class Case(slice: Option[(Int, Int)], floats: Boolean,
                          cents: Seq[(Int, Array[Double])],
                          vecs: Seq[Array[Double]])

  /** Distinct, unsorted, non-contiguous cell ids. */
  private def cellIds(k: Int): Gen[Seq[Int]] =
    Gen.pick(k, 0 until 1000).map(_.toSeq)

  /** Centroids drawn from `coord`, some of them copied onto a second
    * cell (duplicate centroids tie on every vector).
    */
  private def centroids(k: Int, width: Int, coord: Gen[Double]): Gen[Seq[(Int, Array[Double])]] =
    for {
      ids <- cellIds(k)
      base <- Gen.listOfN(k, Gen.listOfN(width, coord).map(_.toArray))
      dupes <- Gen.listOfN(k, Gen.choose(0, 3))
    } yield ids.indices.map { i =>
      // a quarter of the cells repeat an earlier centroid
      val src = if (i > 0 && dupes(i) == 0) base(i / 2) else base(i)
      ids(i) -> src.clone()
    }

  private val grid: Gen[Double] = Gen.oneOf(-2.0, -1.0, -0.5, -0.0, 0.0, 0.5, 1.0, 2.0)
  private val wide: Gen[Double] = Gen.choose(-3.0, 3.0)

  private def plain(floats: Boolean, coord: Gen[Double]): Gen[Case] = for {
    width <- Gen.choose(1, 8)
    k <- Gen.choose(1, 12)
    cents <- centroids(k, width, coord)
    vecs <- Gen.listOfN(40, Gen.listOfN(width, coord).map(_.toArray))
  } yield Case(None, floats, cents, vecs)

  /** Centroids of widths 1..3 and vectors of the same widths: each
    * vector competes only among the centroids of its own length.
    */
  private val ragged: Gen[Case] = for {
    ids <- cellIds(9)
    cents <- Gen.sequence[Seq[Array[Double]], Array[Double]](
      ids.indices.map(i => Gen.listOfN(i % 3 + 1, grid).map(_.toArray)))
    vecs <- Gen.listOfN(40, Gen.choose(1, 3).flatMap(w =>
      Gen.listOfN(w, wide).map(_.toArray)))
  } yield Case(None, floats = false, ids.zip(cents), vecs)

  /** Vector i = s_i·e_i against cell A at the origin (d = 0 exactly)
    * and cell B_i = t_i·e_i, with t_i solved so that
    * d = t_i² − 2·s_i·t_i lands within a few ulps of (n + 0.5)·1e-6:
    * the rounding alone decides between A and B_i (every other B_j
    * sits at d = t_j², which rounds to 0 and ties with A).
    */
  private val straddle: Gen[Case] = for {
    ids <- cellIds(11)
    rows <- Gen.listOfN(10, for {
      s <- Gen.choose(0.1, 2.0)
      n <- Gen.choose(-3, 2)
      nudge <- Gen.choose(-40, 40)
    } yield {
      val target = (n + 0.5) * 1e-6 + nudge * 1e-22
      // the cancellation-free root of t² − 2st − target = 0
      (s, -target / (s + math.sqrt(s * s + target)))
    })
  } yield {
    def axis(i: Int, x: Double) = Array.tabulate(10)(j => if (j == i) x else 0.0)
    Case(None, floats = false,
      (ids.head -> Array.fill(10)(0.0)) +:
        rows.indices.map(i => ids(i + 1) -> axis(i, rows(i)._2)),
      rows.indices.map(i => axis(i, rows(i)._1)))
  }

  /** Components around 1e5..1e7 (d around 1e10..1e14, ulp > 1e-6),
    * with centroids a few ulps apart.
    */
  private val huge: Gen[Case] = for {
    width <- Gen.choose(1, 4)
    ids <- cellIds(6)
    base <- Gen.listOfN(width, Gen.choose(1e5, 1e7))
    ulps <- Gen.listOfN(6, Gen.listOfN(width, Gen.choose(-3, 3)))
    vecs <- Gen.listOfN(40, Gen.listOfN(width, Gen.choose(1e5, 1e7)).map(_.toArray))
  } yield Case(None, floats = false,
    ids.zip(ulps).map { case (id, u) =>
      id -> base.zip(u).map { case (b, n) => b + n * math.ulp(b) }.toArray
    }, vecs)

  /** Overflowing dot products: −Infinity and NaN distances. */
  private val nonFinite: Gen[Case] = for {
    ids <- cellIds(4)
    cents <- Gen.listOfN(4, Gen.listOfN(2, Gen.oneOf(-1e200, 1e200, 1.0, 0.0)).map(_.toArray))
    vecs <- Gen.listOfN(20, Gen.listOfN(2, Gen.oneOf(-1e200, 1e200, 1.0)).map(_.toArray))
  } yield Case(None, floats = false, ids.zip(cents), vecs)

  /** PQ shape: a dim = m·sub vector, one subspace's codewords. */
  private val sliced: Gen[Case] = for {
    m <- Gen.choose(2, 4)
    sub <- Gen.choose(1, 4)
    j <- Gen.choose(0, m - 1)
    floats <- Gen.oneOf(true, false)
    ks <- Gen.choose(2, 10)
    cents <- centroids(ks, sub, wide)
    vecs <- Gen.listOfN(40, Gen.listOfN(m * sub, wide).map(_.toArray))
  } yield Case(Some((m * sub, j * sub)), floats, cents, vecs)

  private def frames(s: SparkSession, c: Case): (DataFrame, DataFrame) = {
    import s.implicits._
    val vecs =
      if (c.floats) c.vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
        .toDF("id", "vec")
      else c.vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "vec")
    (vecs, c.cents.toDF("cell", "centroid"))
  }

  /** The relational spelling, computed by Spark itself. */
  private def reference(vecs: DataFrame, cents: DataFrame, c: Case): Map[Long, Int] = {
    val v = c.slice.fold(col("vec")) { case (_, off) =>
      slice(col("vec"), off + 1, c.cents.head._2.length)
    }
    vecs.crossJoin(cents)
      .withColumn("d", round(Similarity.dot(col("centroid"), col("centroid"))
        - lit(2.0) * Similarity.dot(v, col("centroid")), 6))
      .filter(col("d").isNotNull)
      .groupBy(col("id")).agg(min(struct(col("d"), col("cell"))).as("m"))
      .select(col("id"), col("m.cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def kernel(vecs: DataFrame, c: Case): Map[Long, Int] = {
    val bc = vecs.sparkSession.sparkContext.broadcast(CentroidMatrix(c.cents))
    val cell = c.slice.fold(NearestCentroid.nearest_centroid(col("vec"), bc)) {
      case (dim, off) => NearestCentroid.nearest_centroid(col("vec"), bc, dim, off)
    }
    vecs.select(col("id"), cell)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def checkCases(name: String, g: Gen[Case], seeds: Range): Unit =
    for (seed <- seeds) {
      val c = sample(g, seed.toLong)
      val (vecs, cents) = frames(spark, c)
      val want = reference(vecs, cents, c)
      assert(kernel(vecs, c) == want, s"$name seed $seed (codegen)")
      graft.TestSpark.withConfs(
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { s =>
        val (v2, _) = frames(s, c)
        assert(kernel(v2, c) == want, s"$name seed $seed (interpreted)")
      }
    }

  test("property: kernel = round-6 min(struct) on double vectors, ties and duplicate centroids") {
    checkCases("double grid", plain(floats = false, grid), 1 to 6)
    checkCases("double wide", plain(floats = false, wide), 7 to 12)
  }

  test("property: kernel = round-6 min(struct) on float vectors, including -0.0") {
    checkCases("float grid", plain(floats = true, grid), 21 to 26)
    checkCases("float wide", plain(floats = true, wide), 27 to 32)
  }

  test("property: distances straddling a 6-dp half boundary round like Spark") {
    checkCases("straddle", straddle, 41 to 50)
  }

  test("property: magnitudes with ulp > 1e-6 and non-finite distances") {
    checkCases("huge", huge, 61 to 66)
    checkCases("non-finite", nonFinite, 71 to 74)
  }

  test("property: sliced PQ subspaces with non-contiguous cell ids") {
    checkCases("sliced", sliced, 81 to 90)
  }

  test("property: mixed-width centroids — each vector among its own length") {
    checkCases("ragged", ragged, 91 to 96)
  }

  test("round6 is Spark's round(x, 6) on the values the margin depends on") {
    import spark.implicits._
    val xs = Seq(0.0000005, -0.0000005, 0.0000015, 1.0000005, -2.5e-7,
      1e15 + 0.5, 123456789.1234565, -0.0, 1e-300, 0.49999949999999997)
    val got = xs.toDF("x").select(round(col("x"), 6)).as[Double].collect().toSeq
    assert(xs.map(CentroidMatrix.round6) == got)
  }

  test("a vector whose length differs from the centroid dimension fails loudly") {
    import spark.implicits._
    // before the kernel, DotProduct's NULL sorted first inside
    // min(struct) and this 3-dim vector silently got cell 0
    val cents = Seq((0, Array(1.0, 0.0)), (1, Array(0.0, 1.0))).toDF("cell", "centroid")
    val emb = Seq((1L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.assignToCentroids(emb, "vec_id", "embedding", cents).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.contains("vector has 3 elements, centroids expect 2"), msgs)
  }

  test("an empty centroid set or a NULL coordinate fails at construction") {
    import spark.implicits._
    val emb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val empty = Seq.empty[(Int, Array[Double])].toDF("cell", "centroid")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.assignToCentroids(emb, "vec_id", "embedding", empty)
    }
    assert(e1.getMessage.contains("empty centroid set"), e1.getMessage)
    val holed = Seq((0, Seq[java.lang.Double](1.0, null))).toDF("cell", "centroid")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.assignToCentroids(emb, "vec_id", "embedding", holed)
    }
    assert(e2.getMessage.contains("cell 0 has a NULL coordinate"), e2.getMessage)
  }
}
