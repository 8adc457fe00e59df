package graft

import graft.functions.{Fixed, FixedSum}
import java.math.{BigDecimal => JBD, RoundingMode}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Pins the exact fixed-point sum kernel ([[Fixed]], [[FixedSum]]) to the
  * cast-and-sum it replaces: `Fixed.scaled` is the cast's unscaled integer,
  * and the aggregate is bit-equal to `sum(CAST(x AS DECIMAL(p, s)))` at
  * every (p, s) the Tables helpers use, as a global aggregate, a grouped
  * aggregate and a running window, at partition widths 1, 8 and 32. Each
  * loud bound (the per-row cast, the DECIMAL(38, s) sum, NaN and ±∞) raises
  * the same error condition as the cast-and-sum on both sides of it. */
class FixedSumSpec extends SparkSpec {

  /** (cast type, the largest magnitude the random cases draw). Random cases
    * stay inside the bounds so the sums compare as values; the bounds have
    * their own tests. */
  private val wires = Seq(
    DecimalType(30, 12) -> 1e17, // xsum / xsumD
    DecimalType(18, 4) -> 1e13,  // dsum
    DecimalType(38, 0) -> 1e33)  // sumE12

  /** A double near the scale-s rounding tie of a random integer k. */
  private def nearTie(r: java.util.SplittableRandom, s: Int, span: Long): Double = {
    val tie = java.lang.Double.parseDouble(s"${r.nextLong(-span, span)}5E-${s + 1}")
    r.nextInt(3) match {
      case 0 => tie
      case 1 => Math.nextUp(tie)
      case _ => Math.nextDown(tie)
    }
  }

  test("Fixed.scaled equals BigDecimal.valueOf(d).setScale(s, HALF_UP) on 10^7 doubles") {
    val r = new java.util.SplittableRandom(20261018L)
    val scales = Seq(0, 4, 6, 12)
    var fast = 0L
    val n = 10000000
    var i = 0
    while (i < n) {
      val s = scales(i & 3)
      val d = (i >> 2) % 6 match {
        case 0 => java.lang.Double.longBitsToDouble(r.nextLong())
        case 1 => (r.nextDouble() - 0.5) * Math.scalb(1.0, r.nextInt(-60, 60))
        case 2 => nearTie(r, s, 1000000000L)
        case 3 => r.nextLong(-(1L << 53), 1L << 53).toDouble / Math.pow(10, r.nextInt(0, 13))
        case 4 => Math.scalb((1L << 52) + r.nextLong(-4096, 4096), -r.nextInt(0, 60)) * (if (r.nextBoolean()) 1 else -1)
        case _ => Double.MinPositiveValue * r.nextInt(1, 1 << 20) * (if (r.nextBoolean()) 1 else -1)
      }
      if (d.isNaN || d.isInfinite) {
        assert(Fixed.fast(d, s) === Fixed.Slow)
        intercept[NumberFormatException](Fixed.scaled(d, s))
      } else {
        val want = JBD.valueOf(d).setScale(s, RoundingMode.HALF_UP).unscaledValue()
        val v = Fixed.fast(d, s)
        if (v != Fixed.Slow) fast += 1
        // the message is built only on a failure
        if (if (want.bitLength < 64) Fixed.scaled(d, s) != want.longValue else v != Fixed.Slow)
          fail(s"d=$d (bits ${java.lang.Double.doubleToRawLongBits(d)}) s=$s: " +
            s"fast $v, want $want")
      }
      i += 1
    }
    // the fast path is not vacuous
    assert(fast > n / 3, s"fast path decided only $fast of $n")
    for (s <- scales; d <- Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue))
      assert(Fixed.scaled(d, s) === 0L)
    // past the long range the fallback raises, as longValueExact does
    intercept[ArithmeticException](Fixed.scaled(1e300, 12))
  }

  private def caseGen(s: Int, max: Double): Gen[Option[Double]] = {
    // an exact remainder folds a finite draw into the case's range
    def inRange(d: Double) = if (d.isNaN || d.isInfinite) 0.5 else d % max
    val tie = Gen.choose(-1000000000L, 1000000000L).flatMap { k =>
      val t = java.lang.Double.parseDouble(s"${k}5E-${s + 1}")
      Gen.oneOf(t, Math.nextUp(t), Math.nextDown(t))
    }
    val near2p = for {
      e <- Gen.oneOf(52, 53)
      k <- Gen.choose(-64L, 64L)
      sc <- Gen.oneOf(0, s)
      sign <- Gen.oneOf(1.0, -1.0)
    } yield sign * ((1L << e) + k).toDouble / Math.pow(10, sc)
    Gen.frequency(
      1 -> Gen.const(None),
      3 -> Gen.long.map(java.lang.Double.longBitsToDouble).map(inRange).map(Some(_)),
      2 -> Gen.choose(-9007199254740992L, 9007199254740992L).map(_.toDouble).map(inRange).map(Some(_)),
      3 -> tie.map(inRange).map(Some(_)),
      2 -> near2p.map(inRange).map(Some(_)),
      1 -> Gen.oneOf(-0.0, 0.0, Double.MinPositiveValue, -Double.MinPositiveValue * 3).map(Some(_)),
      3 -> Gen.choose(-1000.0, 1000.0).map(Some(_)))
  }

  private val schema = StructType(Seq(StructField("g", IntegerType, nullable = false),
    StructField("i", IntegerType, nullable = false), StructField("x", DoubleType)))

  /** 120 random cases of up to 40 values, one group `g` each. */
  private def cases(s: Int, max: Double, seed: Long): DataFrame = {
    val gen = Gen.listOfN(120, Gen.choose(1, 40).flatMap(Gen.listOfN(_, caseGen(s, max))))
    val groups = gen.pureApply(Gen.Parameters.default, Seed(seed))
    val rows = for ((vs, g) <- groups.zipWithIndex; (v, i) <- vs.zipWithIndex)
      yield Row(g, i, v.map(Double.box).orNull)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def fixed(c: Column, t: DecimalType): Column = Fixed.sum(c, t)
  private def plain(c: Column, t: DecimalType): Column = sum(c.cast(t))

  /** The three shapes, each with the value and its DOUBLE cast. */
  private def shapes(df: DataFrame, agg: Column => Column): Seq[(String, DataFrame)] = {
    val w = Window.partitionBy("g").orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Seq(
      "global" -> df.agg(agg(col("x")).as("v"), agg(when(col("g") < 3, col("x"))).as("v3"))
        .select(col("v"), col("v3"), col("v").cast("double").as("d")),
      "grouped" -> df.groupBy("g").agg(agg(col("x")).as("v"))
        .select(col("g"), col("v"), col("v").cast("double").as("d")),
      "window" -> df.select(col("g"), col("i"), agg(col("x")).over(w).as("v"))
        .select(col("g"), col("i"), col("v"), col("v").cast("double").as("d")))
  }

  private def usesKernel(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[FixedSum])))

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  for (((t, max), k) <- wires.zipWithIndex; width <- Seq(1, 8, 32))
    test(s"aggregate: bit-equal to sum(CAST(x AS $t)) at width $width: global, grouped, running window") {
      val df = cases(t.scale, max, 7L + k).repartition(width)
      for (((shape, got), (_, want)) <- shapes(df, fixed(_, t)).zip(shapes(df, plain(_, t)))) {
        assert(usesKernel(got), s"$shape: the kernel is not in the plan")
        assert(!usesKernel(want))
        assert(got.schema === want.schema, shape)
        assert(sorted(got) === sorted(want), s"$shape at $t, width $width")
      }
    }

  test("aggregate: bit-equal with code generation off (the interpreted lanes)") {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val (t, max) = wires.head
      val df = cases(t.scale, max, 11L).repartition(8)
      for (((shape, got), (_, want)) <- shapes(df, fixed(_, t)).zip(shapes(df, plain(_, t))))
        assert(sorted(got) === sorted(want), shape)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("aggregate: only a DOUBLE cast takes the kernel; other inputs keep sum") {
    val df = spark.range(10).select(col("id"), (col("id") / 3).cast("double").as("x"),
      (col("id") / 3).cast("float").as("f"))
    val t = DecimalType(30, 12)
    assert(usesKernel(df.agg(fixed(col("x"), t))))
    for (c <- Seq(col("id"), col("f"), col("x").cast(DecimalType(20, 6)))) {
      val got = df.agg(fixed(c, t))
      assert(!usesKernel(got))
      // the names are sum's; a bare (unaliased) column lacks the
      // auto-generated-alias metadata sum's own column carries
      assert(got.columns === df.agg(plain(c, t)).columns)
      assert(got.schema.map(_.dataType) === df.agg(plain(c, t)).schema.map(_.dataType))
      assert(got.collect() === df.agg(plain(c, t)).collect())
    }
    // the names Spark gives the columns are the cast-and-sum's
    assert(df.agg(fixed(col("x"), t)).columns === df.agg(plain(col("x"), t)).columns)
  }

  test("aggregate: all-null and empty inputs give null") {
    val t = DecimalType(30, 12)
    val nulls = spark.range(5).select(lit(null).cast("double").as("x"))
    for (df <- Seq(nulls, nulls.where(lit(false)))) {
      assert(df.agg(fixed(col("x"), t)).collect() === Array(Row(null)))
      assert(df.agg(fixed(col("x"), t)).collect() === df.agg(plain(col("x"), t)).collect())
    }
    val g = nulls.select(lit(1).as("g"), col("x")).groupBy("g").agg(fixed(col("x"), t))
    assert(g.collect() === Array(Row(1, null)))
  }

  /** The deepest error condition under `body`'s failure, or None. */
  private def condition(body: => Any): Option[String] =
    try { body; None }
    catch {
      case e: Throwable =>
        val conds = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).collect {
          case t: SparkThrowable if t.getCondition != null => t.getCondition
        }.toSeq
        Some(conds.lastOption.getOrElse(e.getClass.getName))
    }

  /** Both sides on one set of values, in every shape and width: equal
    * values, or an error on both. Returns each shape's (kernel, sum) error
    * conditions. */
  private def outcomes(t: DecimalType, xs: Seq[Double]): Seq[(String, Option[String], Option[String])] = {
    val rows = xs.zipWithIndex.map { case (x, i) => Row(0, i, Double.box(x)) }
    val base = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    for (width <- Seq(1, 8, 32);
         ((shape, got), (_, want)) <- shapes(base.repartition(width), fixed(_, t))
           .zip(shapes(base.repartition(width), plain(_, t)))) yield {
      var wantRows: Seq[Row] = Nil
      val wantCond = condition { wantRows = sorted(want) }
      var gotRows: Seq[Row] = Nil
      val gotCond = condition { gotRows = sorted(got) }
      assert(gotCond.isDefined === wantCond.isDefined, s"$shape at width $width on $xs")
      assert(gotRows === wantRows, s"$shape at width $width on $xs")
      (s"$shape@$width", gotCond, wantCond)
    }
  }

  /** The error condition both sides raise in every shape, or None. */
  private def sameOutcome(t: DecimalType, xs: Seq[Double]): Option[String] = {
    val os = outcomes(t, xs)
    for ((shape, got, want) <- os) assert(got === want, s"$shape on $xs")
    assert(os.map(_._2).distinct.size === 1, s"$os on $xs")
    os.head._2
  }

  test("bounds: the per-row cast bound, 10^18 for xsum and 10^14 for dsum") {
    for ((t, b) <- Seq(DecimalType(30, 12) -> 1e18, DecimalType(18, 4) -> 1e14,
                       DecimalType(38, 0) -> 1e38)) {
      assert(sameOutcome(t, Seq(1.0, Math.nextDown(b))) === None, s"$t just inside")
      assert(sameOutcome(t, Seq(1.0, -Math.nextDown(b))) === None, s"$t just inside")
      assert(sameOutcome(t, Seq(1.0, b)).isDefined, s"$t just outside")
      assert(sameOutcome(t, Seq(-b, 1.0)).isDefined, s"$t just outside")
    }
  }

  test("bounds: NaN and ±∞ cast to null and are skipped, as by the cast-and-sum") {
    // one group per case: (1, bad) and (bad) alone, for each bad value
    val groups = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
      .flatMap(bad => Seq(Seq(1.0, bad), Seq(bad)))
    val rows = for ((xs, g) <- groups.zipWithIndex; (x, i) <- xs.zipWithIndex)
      yield Row(g, i, Double.box(x))
    val base = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    for ((t, _) <- wires; width <- Seq(1, 8, 32)) {
      val df = base.repartition(width)
      for (((shape, got), (_, want)) <- shapes(df, fixed(_, t)).zip(shapes(df, plain(_, t))))
        assert(sorted(got) === sorted(want), s"$shape at $t, width $width")
      // the lone bad values' groups stay null
      assert(df.groupBy("g").agg(fixed(col("x"), t).as("v")).where(col("g") % 2 === 1)
        .collect().forall(_.isNullAt(1)))
    }
  }

  /** A sum that leaves the DECIMAL(38, s) range raises ARITHMETIC_OVERFLOW
    * in every shape, as a grouped sum does: its buffer turns null. A global
    * or window sum over one partition instead carries the oversize decimal
    * to the end and raises NUMERIC_VALUE_OUT_OF_RANGE there. */
  private def sumOverflow(t: DecimalType, xs: Seq[Double]): Unit =
    for ((shape, got, want) <- outcomes(t, xs)) {
      assert(got === Some("ARITHMETIC_OVERFLOW"), s"$shape on $xs")
      assert(want.isDefined, s"$shape on $xs")
      if (shape.startsWith("grouped")) assert(got === want, s"$shape on $xs")
    }

  test("bounds: the DECIMAL(38, 0) sum bound, and the 128-bit buffer never wraps") {
    val t = DecimalType(38, 0)
    assert(sameOutcome(t, Seq(5e37, Math.nextDown(5e37))) === None)
    assert(sameOutcome(t, Seq(-5e37, -Math.nextDown(5e37))) === None)
    sumOverflow(t, Seq(5e37, 5e37))
    sumOverflow(t, Seq(-5e37, -5e37))
    // 1.98e38 needs 128 bits: an unchecked hi lane would wrap negative
    sumOverflow(t, Seq(9.9e37, 9.9e37))
    sumOverflow(t, Seq(-9.9e37, -9.9e37, -9.9e37))
  }

  /** The kernel's and sum's evaluate on buffers holding `v` (a sum at scale
    * s that `adds` reaches): the DECIMAL(38, 12) and DECIMAL(28, 4) bounds
    * need ~10⁸ rows to reach with data, so they are checked on the buffer. */
  test("bounds: the DECIMAL(38, 12) and DECIMAL(28, 4) sum bounds, on the buffer") {
    for ((t, rp) <- Seq(DecimalType(30, 12) -> 38, DecimalType(18, 4) -> 28)) {
      val top = java.math.BigInteger.TEN.pow(rp)
      val step = JBD.valueOf(Math.nextDown(math.pow(10, t.precision - t.scale)))
        .setScale(t.scale).unscaledValue()
      for ((start, adds) <- Seq(
          top.subtract(step) -> 1, top.subtract(step).subtract(java.math.BigInteger.ONE) -> 1,
          top.subtract(step).negate() -> -1, top.subtract(step).negate().add(java.math.BigInteger.ONE) -> -1)) {
        val d = adds * Math.nextDown(math.pow(10, t.precision - t.scale))
        val sum = start.add(step.multiply(java.math.BigInteger.valueOf(adds)))
        val inRange = sum.abs.compareTo(top) < 0
        // kernel: one row added to a buffer holding `start`
        val (hi, lo) = (start.shiftRight(64).longValue, start.longValue)
        val k = FixedSum(BoundReference(0, DoubleType, nullable = false), t.precision, t.scale,
          ansi = true)
        val nh = Fixed.addHi(hi, lo, d, 1L, t.precision, t.scale, true, rp)
        val nl = Fixed.addLo(lo, d, 1L, t.precision, t.scale, true)
        val kOut = condition(BindReferences.bindReference(k.evaluateExpression, k.aggBufferAttributes)
          .eval(InternalRow(nh, nl, true)))
        // sum: its evaluate on the decimal the buffer would hold (a grouped
        // sum's buffer holds null once it leaves the range)
        val s = Sum(Literal(Decimal(0), t))
        val held = if (inRange) Decimal(new JBD(sum, t.scale)) else null
        val sOut = condition(BindReferences.bindReference(s.evaluateExpression, s.aggBufferAttributes)
          .eval(InternalRow(held, false)))
        assert(kOut === sOut, s"$t from $start")
        assert(kOut.isEmpty === inRange, s"$t from $start")
        if (inRange) assert(Fixed.value(nh, nl, t.scale) === Decimal(new JBD(sum, t.scale)))
      }
    }
  }

  test("outside ANSI mode: an overflowing row is skipped and an overflowing sum is null, as by sum") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      for ((t, xs) <- Seq(
          DecimalType(30, 12) -> Seq(1.5, 1e18, Double.NaN),
          DecimalType(30, 12) -> Seq(1e18),
          DecimalType(38, 0) -> Seq(9.9e37, 9.9e37, 1.0))) {
        val rows = xs.zipWithIndex.map { case (x, i) => Row(0, i, Double.box(x)) }
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        for (((shape, got), (_, want)) <- shapes(df, fixed(_, t)).zip(shapes(df, plain(_, t))))
          assert(sorted(got) === sorted(want), s"$shape at $t on $xs")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  // ---- the weighted form: each row counted n times ----------------------

  private val wSchema = StructType(Seq(StructField("g", IntegerType, nullable = false),
    StructField("i", IntegerType, nullable = false), StructField("x", DoubleType),
    StructField("n", LongType)))

  /** Values on both sides of the fast path at scale 0 and 12: |d| ≥ 2¹³
    * (slow at 12 dp), near-ties, NaN, ±∞, null and ±0.0. */
  private val wValues: Seq[java.lang.Double] = Seq(1.5, -2.25, 0.1, 8192.5, -12345.678901,
    3.0e13, -7.5e13, 5.0000000000005e-3, -2.5000000000005e-1, 0.5, 2.5, -3.5,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, null, 0.0, -0.0, 1e-13)

  /** `rows` random (x, n) rows in 40 groups, n drawn from `ns`. */
  private def weighted(rows: Int, ns: Seq[Long], seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    val data = (0 until rows).map { i =>
      Row(r.nextInt(40), i, wValues(r.nextInt(wValues.size)), Long.box(ns(r.nextInt(ns.size))))
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), wSchema)
  }

  private def wShapes(df: DataFrame, agg: Column => Column): Seq[(String, DataFrame)] = Seq(
    "global" -> df.agg(agg(col("x")).as("v")).select(col("v"), col("v").cast("double").as("d")),
    "grouped" -> df.groupBy("g").agg(agg(col("x")).as("v"))
      .select(col("g"), col("v"), col("v").cast("double").as("d")))

  test("weighted: equals the sum over each row repeated n times, n in {1, 2, 3}, scales 0 and 12") {
    for (t <- Seq(DecimalType(30, 12), DecimalType(38, 0)); width <- Seq(1, 8)) {
      val df = weighted(600, Seq(1L, 2L, 3L), 5L).repartition(width)
      val rows = df.selectExpr("g", "i", "x", "explode(sequence(1L, n)) AS copy")
      assert(rows.count() === df.agg(sum("n")).collect()(0).getLong(0))
      val got = wShapes(df, Fixed.sum(_, t, col("n")))
      for ((want, what) <- Seq(wShapes(rows, fixed(_, t)) -> "kernel",
          wShapes(rows, plain(_, t)) -> "cast-and-sum");
          ((shape, g), (_, w)) <- got.zip(want)) {
        assert(g.schema.map(_.dataType) === w.schema.map(_.dataType), s"$shape vs $what")
        assert(sorted(g) === sorted(w), s"$shape at $t, width $width, vs the $what")
      }
    }
  }

  test("weighted: n = 2^31 - 1 equals n times each row's cast, scales 0 and 12") {
    val big = Int.MaxValue.toLong
    for (t <- Seq(DecimalType(30, 12), DecimalType(38, 0))) {
      val df = weighted(300, Seq(1L, 3L, big), 9L).repartition(8)
      // each row's own cast, from the cast-and-sum of that row alone
      val perRow = df.groupBy("g", "i", "n").agg(plain(col("x"), t).as("v")).collect()
      val want = perRow.groupBy(_.getInt(0)).map { case (g, rs) =>
        val vs = rs.filter(!_.isNullAt(3))
        g -> (if (vs.isEmpty) null
              else vs.map(r => r.getDecimal(3).multiply(JBD.valueOf(r.getLong(2))))
                .reduce(_ add _).setScale(t.scale))
      }
      val got = df.groupBy("g").agg(Fixed.sum(col("x"), t, col("n")).as("v")).collect()
        .map(r => r.getInt(0) -> r.getDecimal(1)).toMap
      assert(got === want, s"at $t")
      assert(got.values.exists(v => v != null && v.abs.compareTo(JBD.valueOf(1e15)) > 0),
        "the fixture reaches past the fast path's 2^53")
    }
  }

  /** The weighted aggregate's error condition on (x, n) rows, global and
    * grouped, at widths 1 and 8; both shapes agree. */
  private def wOutcome(t: DecimalType, xn: Seq[(Double, Long)]): Option[String] = {
    val rows = xn.zipWithIndex.map { case ((x, n), i) => Row(0, i, Double.box(x), Long.box(n)) }
    val base = spark.createDataFrame(java.util.Arrays.asList(rows: _*), wSchema)
    val outs = for (width <- Seq(1, 8);
        (_, df) <- wShapes(base.repartition(width), Fixed.sum(_, t, col("n"))))
      yield condition(sorted(df))
    assert(outs.distinct.size === 1, s"$outs on $xn")
    outs.head
  }

  test("weighted bounds: a total or a product past the range raises ARITHMETIC_OVERFLOW") {
    val x12 = DecimalType(30, 12) // result DECIMAL(38, 12): |Σ| < 10^26
    assert(wOutcome(x12, Seq(9e17 -> 100000000L)) === None)
    // two in-range products whose total passes 10^26
    assert(wOutcome(x12, Seq(9e17 -> 100000000L, 9e17 -> 100000000L)) === Some("ARITHMETIC_OVERFLOW"))
    // one product past 10^26 (the slow path's BigInteger product)
    assert(wOutcome(x12, Seq(9e17 -> Int.MaxValue.toLong)) === Some("ARITHMETIC_OVERFLOW"))
    // the fast path's product past DECIMAL(28, 4)'s 10^24
    assert(wOutcome(DecimalType(18, 4), Seq(1e9 -> 1000000000000000L)) === Some("ARITHMETIC_OVERFLOW"))
    assert(wOutcome(DecimalType(18, 4), Seq(1e9 -> 10000000000000L)) === None)
    // a product past 128 bits
    val e0 = DecimalType(38, 0)
    assert(wOutcome(e0, Seq(9e37 -> Long.MaxValue)) === Some("ARITHMETIC_OVERFLOW"))
    // as the row sum does: 2 × 5e37 and 4e37 × 2 + 4e37 leave DECIMAL(38, 0)
    for (xn <- Seq(Seq(5e37 -> 2L), Seq(4e37 -> 2L, 4e37 -> 1L))) {
      assert(wOutcome(e0, xn) === Some("ARITHMETIC_OVERFLOW"))
      sumOverflow(e0, xn.flatMap { case (x, n) => Seq.fill(n.toInt)(x) })
    }
    assert(wOutcome(e0, Seq(4e37 -> 2L)) === None)
  }

  test("weighted bounds: outside ANSI mode an overflowing sum is null") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      for ((t, xn) <- Seq(DecimalType(30, 12) -> Seq(9e17 -> 100000000L, 9e17 -> 100000000L),
          DecimalType(30, 12) -> Seq(9e17 -> Int.MaxValue.toLong),
          DecimalType(38, 0) -> Seq(9e37 -> Long.MaxValue))) {
        val rows = xn.zipWithIndex.map { case ((x, n), i) => Row(0, i, Double.box(x), Long.box(n)) }
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), wSchema)
        assert(df.agg(Fixed.sum(col("x"), t, col("n"))).collect() === Array(Row(null)), s"$t on $xn")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("weighted: a non-DOUBLE value or non-BIGINT weight fails analysis") {
    val df = spark.range(5).select(col("id"), (col("id") / 3).as("x"), lit(2L).as("n"))
    val t = DecimalType(30, 12)
    for (bad <- Seq(Fixed.sum(col("id"), t, col("n")), Fixed.sum(col("x").cast("float"), t, col("n")),
        Fixed.sum(col("x"), t, col("n").cast("int"))))
      intercept[org.apache.spark.sql.AnalysisException](df.agg(bad))
    intercept[IllegalArgumentException](Fixed.sum(col("x"), DecimalType(38, 20), col("n")))
  }
}
