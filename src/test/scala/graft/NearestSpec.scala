package graft

import graft.functions.Vec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Pins [[Vec.nearest]], the map-only nearest-centroid ranking, to the
  * brute-force ranking it replaced: every point crossed with the centroids
  * and `row_number() OVER (PARTITION BY id ORDER BY d, cid) <= k` — the
  * definition `Vec.sqlNearest` keeps for the DuckDB oracles. Equal on every
  * column, `d` by its bits, on centroids with duplicates (equal d, so the
  * tie goes to the lower cid) listed out of cid order, points equal to a
  * centroid (d = 0), NaN and ±0.0 components, null embeddings, and points
  * and centroids of another length (null d). For k ∈ {1, 2, 3, K}, over
  * points spread round-robin (not partitioned by their id) at partition
  * widths 1, 8 and 32. */
class NearestSpec extends SparkSpec {

  private val component: Gen[Float] = Gen.frequency(
    8 -> Gen.oneOf(0f, -0f, 1f, -1f, 0.5f, 2f),
    6 -> Gen.choose(-2f, 2f),
    1 -> Gen.const(Float.NaN))

  private def vecGen(n: Int): Gen[Array[Float]] = Gen.listOfN(n, component).map(_.toArray)

  private def sample[A](g: Gen[A], seed: Long): A = g.pureApply(Gen.Parameters.default, Seed(seed))

  /** Ten centroids out of cid order: cid 8 duplicates cid 1 and cid 2
    * duplicates cid 7; cid 6 is a signed zero. With `odd`, cid 5 has 3
    * dims instead of 4. */
  private def cents(odd: Boolean): Seq[(Long, Array[Float])] = {
    val base = sample(Gen.listOfN(10, vecGen(4).suchThat(!_.exists(_.isNaN))), 3L)
    val ids = Seq(3L, 0L, 7L, 1L, 9L, 4L, 8L, 2L, 6L, 5L)
    val byId = ids.zip(base).toMap
    ids.map {
      case 8L => 8L -> byId(1L).clone()
      case 2L => 2L -> byId(7L).clone()
      case 6L => 6L -> Array(0f, -0f, 0f, -0f)
      case 5L if odd => 5L -> byId(5L).take(3)
      case id => id -> byId(id)
    }
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("emb", ArrayType(FloatType))))

  /** 240 points: mostly 4-dim, some a copy of a centroid, some 3-dim,
    * some null. */
  private def points(cs: Seq[(Long, Array[Float])], seed: Long): DataFrame = {
    val emb: Gen[Array[Float]] = Gen.frequency(
      6 -> vecGen(4),
      2 -> Gen.oneOf(cs.map(_._2)).map(_.clone()),
      1 -> vecGen(3),
      1 -> Gen.const(null))
    val rows = sample(Gen.listOfN(240, emb), seed).zipWithIndex
      .map { case (e, i) => Row(i.toLong * 7 + 1, e) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The brute-force ranking, in [[Vec.nearest]]'s column order. */
  private def bruteForce(pts: DataFrame, cs: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val cent = cs.toDF("cid", "c_emb")
    pts.crossJoin(broadcast(cent))
      .select(col("id"), col("emb"), col("cid"), Vec.l2(spark, "emb", "c_emb").as("d"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("id")).orderBy(col("d"), col("cid"))))
      .where(col("rn") <= k)
  }

  /** Rows with every float and double by its bits. */
  private def bits(df: DataFrame): Seq[(Long, Option[Seq[Int]], Long, Option[Long], Int)] =
    df.collect().toSeq.map { r =>
      (r.getLong(0),
        Option(r.getSeq[Float](1)).map(_.map(java.lang.Float.floatToRawIntBits)),
        r.getLong(2),
        if (r.isNullAt(3)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(3))),
        r.getInt(4))
    }.sortBy(t => (t._1, t._5))

  private def check(k: Int, width: Int, odd: Boolean): Seq[(Long, Option[Seq[Int]], Long, Option[Long], Int)] = {
    val cs = cents(odd)
    val pts = points(cs, 11L + k + width).repartition(width)
    val got = Vec.nearest(pts, "emb", cs, k)
    val want = bruteForce(pts, cs, k)
    assert(got.schema.map(f => (f.name, f.dataType)) === want.schema.map(f => (f.name, f.dataType)))
    val rs = bits(got)
    assert(rs === bits(want), s"k $k, width $width, odd $odd")
    assert(rs.size === 240 * math.min(k, cs.size))
    rs
  }

  for (k <- Seq(1, 2, 3, 10); width <- Seq(1, 8, 32))
    test(s"equals the brute-force (d, cid) ranking: k $k, width $width") {
      val rs = check(k, width, odd = false)
      check(k, width, odd = true)
      // the edge cases are exercised, not vacuous
      assert(rs.exists(t => t._5 == 1 && t._4.contains(0L)), "no point on a centroid")
      assert(rs.exists(t => t._5 == 1 && t._4.isEmpty), "no null distance")
      assert(rs.exists(t => t._4.exists(b => java.lang.Double.isNaN(java.lang.Double.longBitsToDouble(b)))),
        "no NaN distance")
      if (k > 1) {
        val byPoint = rs.groupBy(_._1).values
        assert(byPoint.exists { p =>
          val ds = p.flatMap(_._4).map(java.lang.Double.longBitsToDouble).filterNot(_.isNaN)
          ds.distinct.size < ds.size
        }, "no tie on a finite distance")
      }
    }

  test("the map-only plan: no window, no nested-loop join, no exchange") {
    val cs = cents(odd = false)
    val p = Vec.nearest(points(cs, 5L).repartition(8), "emb", cs, 3)
      .queryExecution.executedPlan.toString
    for (op <- Seq("Window", "BroadcastNestedLoopJoin", "Exchange hashpartitioning"))
      assert(!p.contains(op), s"$op in the plan:\n$p")
  }
}
