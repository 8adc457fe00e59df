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
  * widths 1, 8 and 32.
  *
  * Pins [[Vec.knn]], the brute-force query × corpus top-k, the same way:
  * for each metric, to a `crossJoin` + `row_number() OVER (PARTITION BY
  * q_id ORDER BY score[ DESC], n_id) <= k` kept here, the cosine's norms
  * spelled `VecDot(a, a)`. */
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

  private val qSchema = StructType(Seq(StructField("q_id", LongType, nullable = false),
    StructField("q_emb", ArrayType(FloatType)), StructField("q_tag", StringType)))
  private val nSchema = StructType(Seq(StructField("n_id", LongType, nullable = false),
    StructField("n_emb", ArrayType(FloatType)), StructField("n_lbl", IntegerType)))

  /** 60 corpus rows and 14 queries, each with an extra column. Rows
    * 40-59 repeat the vectors of rows 0-19, and row 20 repeats row 0
    * (equal scores); row 25 is null, row 30 has 3 dims and row 35 a NaN.
    * 7 queries carry the id and vector of a corpus row, which the helper
    * must exclude; of the other 7, one is null, one has 3 dims and one a
    * NaN. No vector is all zeros: a zero norm makes the cosine's division
    * raise, in the helper and the reference alike. */
  private def knnSides(seed: Long): (DataFrame, DataFrame) = {
    val emb = vecGen(4).suchThat(_.exists(_ != 0f))
    val base = sample(Gen.listOfN(40, emb), seed).toArray
    base(0) = Array(1f, -0f, 0.5f, 2f)
    val vecs = base ++ base.take(20).map(_.clone())
    vecs(20) = base(0).clone()
    vecs(25) = null
    vecs(30) = Array(1f, 0f, -1f)
    vecs(35) = Array(0.5f, Float.NaN, -0f, 1f)
    val nIds = vecs.indices.map(i => i.toLong * 3 + 2)
    val corpus = vecs.indices.map(i => Row(nIds(i), vecs(i), i % 4))
    val own = (0 until 7).map(j => Row(nIds(j * 8), vecs(j * 8), s"own$j"))
    val other = sample(Gen.listOfN(7, emb), seed + 1).toArray
    other(0) = null
    other(1) = Array(2f, -0f, 1f)
    other(2) = Array(Float.NaN, 1f, 0f, -1f)
    val fresh = other.indices.map(j => Row(1000L + j, other(j), s"new$j"))
    (spark.createDataFrame(java.util.Arrays.asList(own ++ fresh: _*), qSchema),
      spark.createDataFrame(java.util.Arrays.asList(corpus: _*), nSchema))
  }

  /** The brute-force ranking, in [[Vec.knn]]'s column order. */
  private def bruteKnn(q: DataFrame, n: DataFrame, metric: Vec.Metric, k: Int): DataFrame = {
    val score = metric match {
      case Vec.L2 => Vec.l2(spark, "q_emb", "n_emb")
      case Vec.L1 => Vec.l1(spark, "q_emb", "n_emb").cast("float")
      case Vec.Cosine => Vec.dot(spark, "q_emb", "n_emb") /
        (sqrt(Vec.dot(spark, "q_emb", "q_emb")) * sqrt(Vec.dot(spark, "n_emb", "n_emb")))
    }
    val order = if (metric.desc) col("score").desc else col("score")
    q.crossJoin(n).where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_tag"), col("n_id"), col("n_lbl"), score.as("score"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_id")).orderBy(order, col("n_id"))))
      .where(col("rn") <= k)
  }

  /** Rows with the score by its bits. */
  private def knnBits(df: DataFrame): Seq[(Long, String, Long, Int, Option[Long], Int)] =
    df.collect().toSeq.map { r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3), r.get(4) match {
        case null => None
        case f: Float => Some(java.lang.Float.floatToRawIntBits(f).toLong)
        case d: Double => Some(java.lang.Double.doubleToRawLongBits(d))
      }, r.getInt(5))
    }.sortBy(t => (t._1, t._6))

  private def score(bits: Long, metric: Vec.Metric): Double =
    if (metric == Vec.L1) java.lang.Float.intBitsToFloat(bits.toInt).toDouble
    else java.lang.Double.longBitsToDouble(bits)

  for (k <- Seq(1, 3, 5, 100); width <- Seq(1, 8, 32))
    test(s"Vec.knn equals the brute-force (score, n_id) ranking: k $k, width $width") {
      for (metric <- Seq(Vec.L2, Vec.Cosine, Vec.L1)) {
        val (q, n) = knnSides(23L + k + width)
        val corpus = n.repartition(width)
        val got = Vec.knn(q, corpus, metric, k)
        val want = bruteKnn(q, corpus, metric, k)
        assert(got.schema.map(f => (f.name, f.dataType)) === want.schema.map(f => (f.name, f.dataType)))
        val rs = knnBits(got)
        assert(rs === knnBits(want), s"$metric, k $k, width $width")
        // 7 queries lose their own row, so each has 59 candidates
        assert(rs.size === 7 * math.min(k, 59) + 7 * math.min(k, 60), s"$metric")
        assert(rs.forall(t => t._1 != t._3), s"$metric: a query ranked itself")
        // the edge cases are exercised, not vacuous: k 100 keeps every pair
        if (k == 100) {
          assert(rs.exists(_._5.isEmpty), s"$metric: no null score")
          assert(rs.exists(t => t._5.exists(b => score(b, metric).isNaN)), s"$metric: no NaN score")
          assert(rs.groupBy(_._1).values.exists { p =>
            val ss = p.flatMap(_._5).map(score(_, metric)).filterNot(_.isNaN)
            ss.distinct.size < ss.size
          }, s"$metric: no tie on a finite score")
        }
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
