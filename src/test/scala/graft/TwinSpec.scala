package graft

import graft.{Tables => T}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Pins [[Twin]], the one owner of the shared-text discipline: the unrolled
  * elimination is bit-equal to the same op sequence in Scala, the CTE
  * renderer chains each step from the previous one, and the driver-held
  * fit loop reproduces the hand-written 2×2 logistic Newton loop it
  * replaced bit for bit — including what happens on a singular Hessian —
  * and its cell histogram reproduces the row-level loop on every wire.
  * The round loop equals the hand-written loop, its pinned form returns
  * holding one round's pins, every query on that form holds a bounded
  * number of pins, and the oracle unroll names round k from round k-1. */
class TwinSpec extends SparkSpec {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** The elimination [[Twin.gauss]] unrolls, as plain Scala doubles in
    * the same op order (left-associated back substitution). */
  private def gaussRef(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val m = a.map(_.clone)
    val r = b.clone
    for (k <- 0 until n - 1; i <- k + 1 until n) {
      val f = m(i)(k) / m(k)(k)
      for (j <- k + 1 until n) m(i)(j) = m(i)(j) - f * m(k)(j)
      r(i) = r(i) - f * r(k)
    }
    val x = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var acc = r(i)
      for (j <- i + 1 until n) acc = acc - m(i)(j) * x(j)
      x(i) = acc / m(i)(i)
    }
    x
  }

  /** A random SPD system: A = M·Mᵀ + n·I, b uniform. */
  private def spd(n: Int): Gen[(Array[Array[Double]], Array[Double])] = for {
    m <- Gen.listOfN(n * n, Gen.choose(-10.0, 10.0))
    b <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield {
    val mm = m.toArray.grouped(n).toArray
    val a = Array.tabulate(n, n) { (i, j) =>
      (0 until n).map(k => mm(i)(k) * mm(j)(k)).sum + (if (i == j) n.toDouble else 0.0)
    }
    (a, b.toArray)
  }

  test("gauss: n = 2..4 on random SPD systems, bit-equal to Scala in the same op order") {
    val spark = this.spark
    for (n <- 2 to 4) {
      // symmetric entry names: the upper triangle names both halves
      val names = Seq.tabulate(n, n)((i, j) => s"a${math.min(i, j)}${math.max(i, j)}")
      val steps = Twin.gauss(names, Seq.tabulate(n)(i => s"b$i"), "g")
      val prop = Prop.forAll(spd(n)) { case (a, b) =>
        val cols = (for (i <- 0 until n; j <- i until n) yield lit(a(i)(j)).as(s"a$i$j")) ++
          (0 until n).map(i => lit(b(i)).as(s"b$i"))
        val row = Twin.chain(spark.range(1).select(cols: _*), steps)
          .select((0 until n).map(i => col(s"gx$i")): _*).collect()(0)
        val want = gaussRef(a, b)
        (0 until n).forall(i => bits(row.getDouble(i)) == bits(want(i)))
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
      assert(res.passed, s"n = $n: $res")
    }
  }

  test("gauss: the 4×4 and prefixed 3×3 texts are the ones the fits always ran") {
    val a4 = Seq(Seq("a00", "a01", "a02", "a03"), Seq("a01", "a11", "a12", "a13"),
      Seq("a02", "a12", "a22", "a23"), Seq("a03", "a13", "a23", "a33"))
    val g4 = Twin.gauss(a4, Seq("b0", "b1", "b2", "b3"), "")
    assert(g4.size === 30)
    assert(g4.take(5) === Seq("f10" -> "a01 / a00", "a11_0" -> "a11 - f10 * a01",
      "a12_0" -> "a12 - f10 * a02", "a13_0" -> "a13 - f10 * a03", "b1_0" -> "b1 - f10 * b0"))
    assert(g4.takeRight(4) === Seq(
      "x3" -> "b3_2 / a33_2",
      "x2" -> "(b2_1 - a23_1 * x3) / a22_1",
      "x1" -> "(b1_0 - a12_0 * x2 - a13_0 * x3) / a11_0",
      "x0" -> "(b0 - a01 * x1 - a02 * x2 - a03 * x3) / a00"))
    val g3 = Twin.gauss(Seq(Seq("k11", "cqd", "cqt"), Seq("cqd", "k22", "cdt"),
      Seq("cqt", "cdt", "k33")), Seq("cqy", "cdy", "cty"), "rg")
    assert(g3 === Seq(
      "rgf10" -> "cqd / k11", "rga11_0" -> "k22 - rgf10 * cqd",
      "rga12_0" -> "cdt - rgf10 * cqt", "rgb1_0" -> "cdy - rgf10 * cqy",
      "rgf20" -> "cqt / k11", "rga21_0" -> "cdt - rgf20 * cqd",
      "rga22_0" -> "k33 - rgf20 * cqt", "rgb2_0" -> "cty - rgf20 * cqy",
      "rgf21" -> "rga21_0 / rga11_0", "rga22_1" -> "rga22_0 - rgf21 * rga12_0",
      "rgb2_1" -> "rgb2_0 - rgf21 * rgb1_0",
      "rgx2" -> "rgb2_1 / rga22_1",
      "rgx1" -> "(rgb1_0 - rga12_0 * rgx2) / rga11_0",
      "rgx0" -> "(cqy - cqd * rgx1 - cqt * rgx2) / k11"))
  }

  test("ctes: each CTE reads the previous one, starting at `from`") {
    val (text, fin) = Twin.ctes(Seq("x" -> "1", "y" -> "x + 1", "z" -> "y * 2"), "src", "p")
    assert(text ===
      """p1 AS (SELECT *, 1 AS x FROM src),
        |  p2 AS (SELECT *, x + 1 AS y FROM p1),
        |  p3 AS (SELECT *, y * 2 AS z FROM p2)""".stripMargin)
    assert(fin === "p3")
  }

  /** A small in-memory logistic frame (x, y). */
  private def frame(xs: Seq[Double], ys: Seq[Double]): DataFrame = {
    val spark = this.spark
    import spark.implicits._
    xs.zip(ys).toDF("x", "y").repartition(3)
  }

  /** The hand-written 2×2 logistic Newton loop the fits ran before
    * [[Twin.fit]]: the update in Scala doubles on the collected sums. */
  private def handLoop(d: DataFrame, iters: Int): (Double, Double) = {
    val spark = this.spark
    import spark.implicits._
    var a = 0.0
    var b = 0.0
    for (_ <- 1 to iters) {
      val ab = Seq((a, b)).toDF("ca", "cb")
      val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
        .cast("float").cast("double")
      val w = mu * (lit(1.0) - mu)
      val r = d.crossJoin(broadcast(ab))
        .select(col("x"), col("y"), mu.as("mu"), w.as("w"))
        .agg(
          T.xsum(col("y") - col("mu")).as("g0"),
          T.xsum((col("y") - col("mu")) * col("x")).as("g1"),
          T.xsum(col("w")).as("h00"),
          T.xsum(col("w") * col("x")).as("h01"),
          T.xsum(col("w") * col("x") * col("x")).as("h11"))
        .collect()(0)
      val g0 = r.getDouble(0); val g1 = r.getDouble(1)
      val h00 = r.getDouble(2); val h01 = r.getDouble(3); val h11 = r.getDouble(4)
      a = a + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01)
      b = b + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01)
    }
    (a, b)
  }

  private val newton = Twin.Fit(
    Seq("a" -> 0.0, "b" -> 0.0),
    Seq("mu" -> "CAST(CAST(1e0 / (1e0 + exp(-(a + b * x))) AS FLOAT) AS DOUBLE)"),
    Seq(Twin.xsum("g0", "y - mu"), Twin.xsum("g1", "(y - mu) * x"),
      Twin.xsum("h00", "mu * (1e0 - mu)"), Twin.xsum("h01", "mu * (1e0 - mu) * x"),
      Twin.xsum("h11", "mu * (1e0 - mu) * x * x")),
    Twin.newton2("h00", "h01", "h11", "g0", "g1"), Seq("a + d0", "b + d1"), 3)

  test("fit: reproduces the hand-written 2×2 logistic Newton loop bit for bit") {
    val xs = (0 until 300).map(i => (i % 23) * 1.5 + 0.25)
    val ys = (0 until 300).map(i => if ((i * 7) % 5 < 2 + (i % 23) / 12) 1.0 else 0.0)
    val d = frame(xs, ys)
    val trail = Twin.fit(d, newton)
    assert(trail.size === 3)
    val (a, b) = handLoop(d, 3)
    assert(bits(trail.last(0)) === bits(a), s"a: ${trail.last(0)} vs $a")
    assert(bits(trail.last(1)) === bits(b), s"b: ${trail.last(1)} vs $b")
    assert(!a.isNaN && b != 0.0, "the fixture must fit a real slope")
  }

  test("sqlFit: block k reads the rows CTE and block k-1, ends in the parameter CTE") {
    val text = Twin.sqlFit(newton, "d", "b")
    assert(text.startsWith(
      "b0 AS (SELECT CAST('0.0' AS DOUBLE) AS a, CAST('0.0' AS DOUBLE) AS b)"))
    for (k <- 1 to 3) {
      assert(text.contains(s"b${k}x AS (SELECT * FROM d, b${k - 1})"))
      assert(text.contains(s"b${k}g AS (SELECT a, b, g0, g1, h00, h01, h11 FROM b${k}s, b${k - 1})"))
      assert(text.contains(s"b$k AS (SELECT a + d0 AS a, b + d1 AS b FROM b${k}u3)"))
    }
    assert(!text.contains("b4"))
  }

  test("fit: a singular 2×2 Hessian fails loudly (the hand loop returned NaN)") {
    // constant x makes H = Σw·[[1, x], [x, x²]] exactly singular
    val d = frame(Seq.fill(8)(2.0), Seq(1.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 0.0))
    val (a, b) = handLoop(d, 1)
    assert(a.isNaN && b.isNaN, s"hand loop: ($a, $b)")
    val e = intercept[Exception](Twin.fit(d, newton.copy(iters = 1)))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("DIVIDE_BY_ZERO")), e.toString)
  }

  test("trail: a singular 2×2 Hessian fails loudly in-plan, as fit does") {
    val d = frame(Seq.fill(8)(2.0), Seq(1.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 0.0))
    val one = newton.copy(iters = 1)
    val e = intercept[Exception](Twin.trail(d, one, paramFrame(one)).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("DIVIDE_BY_ZERO")), e.toString)
  }

  test("sqlFit with init and sqlTrail: round 0 is the start, the trail unions every round") {
    val text = Twin.sqlFit(newton, "d", "b", Some("SELECT a0 AS a, b0 AS b FROM st"))
    assert(text.startsWith(
      "b0 AS (SELECT a0 AS a, b0 AS b FROM st),\n  b1x AS (SELECT * FROM d, b0),"))
    assert(text.contains("b3 AS (SELECT a + d0 AS a, b + d1 AS b FROM b3u3)"))
    assert(!text.contains("CAST('0.0' AS DOUBLE)") && !text.contains("b4"))
    assert(Twin.sqlTrail(newton, "b") ===
      """SELECT 0 AS round, a, b FROM b0
        |    UNION ALL SELECT 1 AS round, a, b FROM b1
        |    UNION ALL SELECT 2 AS round, a, b FROM b2
        |    UNION ALL SELECT 3 AS round, a, b FROM b3""".stripMargin)
  }

  /** The row-level loop [[Twin.fit]] ran before it read cells: each step
    * crosses the rows with the parameters and sums over every row on the
    * unweighted wires. */
  private def rowFit(frame: DataFrame, f: Twin.Fit): Seq[Array[Double]] = {
    val names = f.params.map(_._1)
    val schema = StructType(names.map(StructField(_, DoubleType, nullable = false)))
    val aggs = f.sums.map {
      case Twin.Sum(nm, Twin.XSum, t) => T.xsum(expr(t)).as(nm)
      case Twin.Sum(nm, Twin.E12, t) => T.sumE12(expr(t)).as(s"s_$nm")
      case Twin.Sum(nm, Twin.Count, _) => count(lit(1)).cast(DoubleType).as(nm)
    }
    val decoded = names ++ f.sums.map {
      case Twin.Sum(nm, Twin.E12, _) => s"${T.bitsE12(s"s_$nm")} AS $nm"
      case sm => sm.name
    }
    (1 to f.iters).scanLeft(f.params.map(_._2).toArray) { (p, _) =>
      val pt = broadcast(spark.createDataFrame(
        java.util.Arrays.asList(Row.fromSeq(p.toSeq)), schema))
      var rows = frame.crossJoin(pt)
      for (w <- f.where) rows = rows.where(expr(w))
      for ((nm, ex) <- f.rows) rows = rows.selectExpr("*", s"$ex AS $nm")
      var out = rows.agg(aggs.head, aggs.tail: _*).crossJoin(pt).selectExpr(decoded: _*)
      for ((nm, ex) <- f.update) out = out.selectExpr("*", s"$ex AS $nm")
      val r = out.selectExpr(f.next.zip(names).map { case (ex, nm) => s"$ex AS $nm" }: _*)
        .collect()(0)
      Array.tabulate(names.size)(r.getDouble)
    }.tail
  }

  /** One fit over every wire: XSum, E12 and Count, with a `where` over the
    * parameter `k` and row steps that tell -0.0 from 0.0 (the string cast)
    * or not (`atan2`, which Spark evaluates on x + 0.0). */
  private val wires = Twin.Fit(
    Seq("a" -> 0.5, "b" -> -0.25, "k" -> 0.0),
    Seq("t" -> "atan2(x, -1e0)", "z" -> "CASE WHEN CAST(x AS STRING) = '-0.0' THEN 1e0 ELSE 0e0 END",
      "m" -> "CAST(CAST(1e0 / (1e0 + exp(-(a + b * x))) AS FLOAT) AS DOUBLE)"),
    Seq(Twin.count("n"), Twin.xsum("s1", "t * y + z * 1e3"), Twin.xsum("s2", "(y - m) * x"),
      Twin.e12("s3", "m * (1e0 + z) - y"), Twin.e12("s4", "x * 1e-3")),
    Seq("u" -> "coalesce(s1, 0e0) / greatest(n, 1e0)"),
    Seq("a + 1e-1 * u + 1e-2 * coalesce(s2, 0e0)", "b - 1e-3 * coalesce(s3, 0e0) + coalesce(s4, 0e0)",
      "k + 1e0"), 3, where = Some("g IS NULL OR g >= k"))

  private val cellSchema = StructType(Seq(StructField("g", IntegerType),
    StructField("x", DoubleType), StructField("y", DoubleType, nullable = false)))

  /** `n` rows drawn from a pool of 12 tuples: NaN, ±0.0, a null, a value
    * whose 12-dp cast takes the slow path (|x| ≥ 2¹³) and a near-tie. */
  private def dupRows(n: Int, seed: Long): DataFrame = {
    val xs = Seq[java.lang.Double](Double.NaN, 0.0, -0.0, null, 1.5, -2.25, 12345.678,
      0.1, 5.0000000000005e-3, -0.0, 0.0, 3.0)
    val r = new scala.util.Random(seed)
    val rows = Seq.fill(n) {
      Row(if (r.nextInt(7) == 0) null else Int.box(r.nextInt(3)), xs(r.nextInt(xs.size)),
        (r.nextInt(2)).toDouble)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), cellSchema).repartition(3)
  }

  private def sameTrail(got: Seq[Array[Double]], want: Seq[Array[Double]], what: String): Unit = {
    assert(got.size === want.size, what)
    for ((g, w) <- got.zip(want); i <- g.indices)
      assert(bits(g(i)) === bits(w(i)), s"$what: param $i ${g(i)} vs ${w(i)}")
  }

  /** The frames both fit paths are pinned on: duplicate-heavy draws, one
    * row (a -0.0) and none. */
  private def draws: Seq[(String, DataFrame)] = Seq(
    "duplicate-heavy" -> dupRows(400, 7L),
    "duplicate-heavy, second draw" -> dupRows(150, 11L),
    "one row" -> spark.createDataFrame(
      java.util.Arrays.asList(Row(Int.box(1), Double.box(-0.0), 1.0)), cellSchema),
    "empty" -> dupRows(20, 3L).where(lit(false)))

  test("fit: the cell histogram reproduces the row-level loop bit for bit on every wire") {
    for ((what, d) <- draws) {
      val got = Twin.fit(d, wires)
      sameTrail(got, rowFit(d, wires), what)
      assert(got.forall(_.forall(p => !p.isNaN)), s"$what: ${got.map(_.toSeq)}")
    }
    // the fixture exercises the -0.0 cells: merged into 0.0 the z sums move
    val d = dupRows(400, 7L)
    val merged = d.selectExpr("g", "x + 0e0 AS x", "y")
    assert(rowFit(merged, wires).last(0) !== rowFit(d, wires).last(0))
  }

  test("fit: no pin outlives the fit, whether it returns or a step throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Twin.fit(dupRows(100, 5L), wires)
    assert(sc.getPersistentRDDs.keySet === before)
    val singular = frame(Seq.fill(8)(2.0), Seq(1.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 0.0))
    intercept[Exception](Twin.fit(singular, newton.copy(iters = 1)))
    assert(sc.getPersistentRDDs.keySet === before)
  }

  /** `f`'s initial parameters as a one-row frame. */
  private def paramFrame(f: Twin.Fit): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(Row.fromSeq(f.params.map(_._2))),
    StructType(f.params.map(p => StructField(p._1, DoubleType, nullable = false))))

  /** [[Twin.trail]]'s rounds 0..iters, in order, as parameter arrays. */
  private def trailRounds(d: DataFrame, f: Twin.Fit, init: DataFrame): Seq[Array[Double]] = {
    val rows = Twin.trail(d, f, init).collect().sortBy(_.getInt(0)).toSeq
    assert(rows.map(_.getInt(0)) === (0 to f.iters))
    rows.map(r => Array.tabulate(f.params.size)(i => r.getDouble(i + 1)))
  }

  test("trail: the in-plan unroll reproduces the row-level loop bit for bit on every wire") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for ((what, d) <- draws) {
      val got = trailRounds(d, wires, paramFrame(wires))
      sameTrail(got.take(1), Seq(wires.params.map(_._2).toArray), s"$what, round 0")
      sameTrail(got.tail, rowFit(d, wires), what)
    }
    // a start computed from the rows, as the OLS and null-model starts are
    val d = dupRows(400, 7L)
    val init = d.agg(T.xsum(col("y")).as("a"), (count(lit(1)).cast("double") * -1e-3).as("b"))
      .withColumn("k", lit(0.0))
    val p0 = init.collect()(0)
    val from = wires.copy(params = Seq("a" -> p0.getDouble(0), "b" -> p0.getDouble(1), "k" -> 0.0))
    assert(from.params.map(_._2) !== wires.params.map(_._2))
    sameTrail(trailRounds(d, wires, init), from.params.map(_._2).toArray +: rowFit(d, from),
      "init from a frame")
    assert(Twin.trail(d, wires, init).columns.toSeq === Seq("round", "a", "b", "k"))
    assert(sc.getPersistentRDDs.keySet === before, "a trail pins nothing")
  }

  test("trail: each step is one pass over the rows, however its parameters are read") {
    // `a` feeds the rows but not the next values, so the two reads of a
    // step would each keep other columns if the parameters were columns
    val f = wires.copy(next = Seq("1e-1 * u", "b - 1e-3 * coalesce(s3, 0e0)", "k + 1e0"))
    val aqe = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      val plan = Twin.trail(dupRows(100, 5L), f, paramFrame(f)).queryExecution.executedPlan
      val passes = plan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.numPartitions == 1 => e
      }
      assert(passes.size === f.iters, plan)
    } finally spark.conf.set(aqe, was)
  }

  /** A synthetic round over (k, x): a shuffle (the self-join on k) and a
    * per-row update that depends on the round. */
  private def synthStep(prev: DataFrame, r: Int): DataFrame =
    prev.join(prev.select(col("k"), (col("x") * 2).as("x2")), "k")
      .selectExpr("k", s"x + x2 / 3e0 + $r AS x")

  private def synthInit: DataFrame =
    spark.range(0, 40).selectExpr("id AS k", "CAST(id % 7 AS DOUBLE) AS x")

  private def sorted(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), bits(r.getDouble(1)))).toSeq.sorted

  test("rounds: k frozen rounds equal the hand-written loop row for row") {
    var hand = synthInit
    for (r <- 1 to 4) hand = T.freeze(synthStep(hand, r))
    val twin = Twin.rounds(synthInit, 4)(synthStep)
    assert(sorted(twin) === sorted(hand))
    assert(sorted(Twin.rounds(synthInit, 0)(synthStep)) === sorted(synthInit))
  }

  /** Divides the round's product by its max, collected on the driver. */
  private def byMax(raw: DataFrame): DataFrame = {
    val m = raw.agg(max(col("x"))).collect()(0).getDouble(0)
    raw.select(col("k"), (col("x") / lit(m)).as("x"))
  }

  test("rounds: the pinned form returns holding one round's pin, and its result collects") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val twin = Twin.rounds(synthInit, 4, byMax)((prev, r, _) => synthStep(prev, r))
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size === 1, s"pins held after 4 rounds: $added")
    var hand = synthInit
    for (r <- 1 to 4) hand = byMax(T.pin(synthStep(hand, r)))
    assert(sorted(twin) === sorted(hand))
    assert(twin.count() === 40)
    // a frame the step pins through the round's pin is released with the
    // round: 4 rounds that each pin a second frame hold 2 pins, not 8
    val mid = sc.getPersistentRDDs.keySet
    val twice = Twin.rounds(synthInit, 4, byMax) { (prev, r, pin) =>
      val half = pin(prev.selectExpr("k", "x / 2e0 AS x"))
      synthStep(half.join(half.selectExpr("k"), "k"), r)
    }
    val held = sc.getPersistentRDDs.keySet -- mid
    assert(held.size === 2, s"pins held after 4 rounds with a step pin: $held")
    hand = synthInit
    for (r <- 1 to 4) hand = byMax(T.pin(synthStep(hand.selectExpr("k", "x / 2e0 AS x"), r)))
    assert(sorted(twice) === sorted(hand))
  }

  test("sqlRounds: round k reads k-1, rounds joined in order") {
    assert(Twin.sqlRounds(3)(k => s"s$k AS (SELECT x + 1 AS x FROM s${k - 1})") ===
      "s1 AS (SELECT x + 1 AS x FROM s0),\n  s2 AS (SELECT x + 1 AS x FROM s1),\n  " +
        "s3 AS (SELECT x + 1 AS x FROM s2)")
    assert(Twin.sqlRounds(0)(k => s"s$k") === "")
  }

  /** The persisted RDDs building and collecting query `q` adds. */
  private def pinsAddedBy(q: String): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val rows = SparkEntry.queries(q)(spark, sf).collect()
    assert(rows.nonEmpty)
    (sc.getPersistentRDDs.keySet -- before).toSet
  }

  // A query on a pinned loop holds the pins it makes before its loop plus
  // one round's; a loop that pins every round by hand holds one set per
  // round.
  for ((q, bound, what) <- Seq(
      ("ml_spectral_embed", 3, "nbr, deg and its last round's pin"),
      ("graph_hits", 2, "edges and its last round's hub product"),
      ("ml_nmf", 3, "the doc-terms memo, v and the W its last H update reads"),
      ("ml_umap_distributed", 4, "ep, the initial points and its last round's product and pairs"),
      ("ml_tsne_distributed", 5,
        "ep, the initial points and its last round's product, pairs and negatives"),
      ("ml_perceptron", 1, "the lineitem fit memo; the fit releases its cells")))
    test(s"$q holds at most $what") {
      val added = pinsAddedBy(q)
      assert(added.size <= bound, s"$q left ${added.size} persisted RDDs: $added")
    }

  test("ml_spectral_cluster reads picEmbed's pins without pinning the embedding again") {
    val added = pinsAddedBy("ml_spectral_cluster")
    assert(added.size <= 3, s"ml_spectral_cluster left ${added.size} persisted RDDs: $added")
  }
}
