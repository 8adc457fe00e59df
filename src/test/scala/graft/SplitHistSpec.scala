package graft

import graft.ops.Supervised
import graft.ops.Supervised.Moment
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Pins [[Supervised.splitHist]], the histogram split search, to the
  * brute-force search it replaced: every row crossed with the candidate
  * grid and one conditional aggregate per (feature, threshold) — the
  * definition the DuckDB oracle texts keep. Equal on every column,
  * schema included, on features that hold nulls, NaN, ±∞, ±0.0, each
  * threshold exactly and one ulp either side, and values below the first
  * and above the last threshold; with and without `extra` keys (one-row
  * groups and a null key among them), at partition widths 1, 8 and 32,
  * and on empty input. Both left-sum defaults are covered: the zeroed
  * `posl` and the null `sylc`. */
class SplitHistSpec extends SparkSpec {

  private val sums = Seq(
    Moment("y", "pos", "posl", zeroLeft = true),
    Moment("yc", "syc", "sylc", zeroLeft = false))

  /** The brute-force ×grid aggregation, in [[Supervised.splitHist]]'s
    * column order. */
  private def bruteForce(rows: DataFrame, extra: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    val cands = Supervised.grid.toDF("feature", "thrs")
      .select(col("feature"), col("thrs").cast("double").as("thr"))
    val left = expr("CASE feature WHEN 'quantity' THEN q WHEN 'discount' THEN d ELSE t END") <=
      col("thr")
    rows.crossJoin(broadcast(cands))
      .groupBy((extra ++ Seq("feature", "thr")).map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"), sum(col("yc")).as("syc"),
        sum(when(left, 1L).otherwise(0L)).as("nl"),
        sum(when(left, col("y")).otherwise(0L)).as("posl"),
        sum(when(left, col("yc"))).as("sylc"))
  }

  /** A feature value: mostly the edge cases, each threshold exactly and
    * one ulp either side among them. */
  private def xGen(f: String): Gen[Option[Double]] = {
    val ts = Supervised.grid.collect { case (`f`, t) => t.toDouble }
    Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0)
        .map(Some(_)),
      4 -> Gen.oneOf(ts).flatMap(t => Gen.oneOf(t, Math.nextUp(t), Math.nextDown(t))).map(Some(_)),
      1 -> Gen.choose(-1.0, ts.head).map(Some(_)),
      1 -> Gen.choose(ts.last, ts.last * 2).map(Some(_)),
      2 -> Gen.choose(ts.head, ts.last).map(Some(_)))
  }

  private val rowGen: Gen[Row] = for {
    h <- Gen.oneOf(null, "a", "b")
    q <- xGen("quantity")
    d <- xGen("discount")
    t <- xGen("tax")
    y <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.choose(0L, 1L).map(Some(_)))
    yc <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.choose(-1000000L, 1000000L).map(Some(_)))
  } yield Row(h, q.map(Double.box).orNull, d.map(Double.box).orNull, t.map(Double.box).orNull,
    y.map(Long.box).orNull, yc.map(Long.box).orNull)

  private val schema = StructType(Seq(StructField("g", IntegerType, nullable = false),
    StructField("h", StringType), StructField("q", DoubleType), StructField("d", DoubleType),
    StructField("t", DoubleType), StructField("y", LongType), StructField("yc", LongType)))

  /** 80 groups `g` of 1 to 12 rows, a quarter of them one-row groups. */
  private def rows(seed: Long): DataFrame = {
    val gen = Gen.listOfN(80, Gen.frequency(1 -> Gen.const(1), 3 -> Gen.choose(2, 12))
      .flatMap(Gen.listOfN(_, rowGen)))
    val groups = gen.pureApply(Gen.Parameters.default, Seed(seed))
    val all = for ((rs, g) <- groups.zipWithIndex; r <- rs) yield Row.fromSeq(g +: r.toSeq)
    spark.createDataFrame(java.util.Arrays.asList(all: _*), schema)
  }

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def check(df: DataFrame, extra: Seq[String]): Seq[Row] = {
    val got = Supervised.splitHist(df, extra, sums)
    val want = bruteForce(df, extra)
    assert(got.schema === want.schema)
    val rs = sorted(got)
    assert(rs === sorted(want), s"extra $extra")
    rs
  }

  for ((extra, k) <- Seq(Seq.empty[String], Seq("g"), Seq("g", "h")).zipWithIndex;
       width <- Seq(1, 8, 32))
    test(s"equals the brute-force ×grid aggregation: extra ${extra.mkString("(", ", ", ")")}, width $width") {
      val df = rows(17L + k)
      val rs = check(df.repartition(width), extra)
      assert(rs.size === df.select(extra.map(col): _*).distinct().count() * Supervised.grid.size)
      if (extra.nonEmpty) {
        // the null defaults are exercised, not vacuous
        val f = rs.head.fieldIndex _
        assert(rs.exists(r => r.getLong(f("nl")) == 0 && r.getLong(f("posl")) == 0 && r.isNullAt(f("sylc"))))
        assert(rs.exists(r => r.getLong(f("nl")) > 0 && r.isNullAt(f("posl"))))
        assert(rs.exists(r => r.getLong(f("nl")) > 0 && r.isNullAt(f("sylc"))))
      }
    }

  test("empty input: no rows, the brute-force schema") {
    val empty = rows(5L).where(lit(false))
    for (extra <- Seq(Seq.empty[String], Seq("g")))
      assert(check(empty, extra).isEmpty)
  }
}
