package graft

import graft.{Tables => T}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, concat, explode, expr, lit,
  struct, sum, when, count => countRows}
import org.apache.spark.sql.types.{DoubleType, FloatType, StructField, StructType}

/** The shared-text discipline, written once. graft fits follow the
  * dask-cuml execution model: one distributed aggregation produces a few
  * sufficient statistics and a closed-form update runs on the client. Both
  * engines must run that update as the SAME IEEE op sequence or the DuckDB
  * oracle stops hash-matching, so every update is a list of named
  * (name, SQL text) steps — each step may reference every earlier name —
  * rendered twice from the one list: as a Spark `selectExpr` cascade
  * ([[chain]]) and as a DuckDB CTE chain ([[ctes]]). The text is rendered
  * verbatim on both sides (DuckDB's FLOAT is an alias of REAL, so a
  * `CAST(… AS FLOAT)` collapse reads the same in both).
  *
  * [[gauss]] is the one unrolled elimination; [[Fit]] declares an
  * iterative fit once, and [[fit]] / [[sqlFit]] run it in Spark, over the
  * frame's cell histogram, and unroll it for the oracle, over the rows;
  * [[trail]] is [[sqlFit]]'s Spark twin, the same unroll over the rows in
  * one plan. [[rounds]] / [[sqlRounds]] do the
  * same for a fixed-round graph or power loop whose state is a table:
  * the round count, the oracle's CTE naming and the lineage cut of each
  * round are written here, not at the loop.
  */
object Twin {

  type Steps = Seq[(String, String)]

  /** Apply `steps` as a sequential `selectExpr` cascade over `df`. */
  def chain(df: DataFrame, steps: Steps): DataFrame =
    steps.foldLeft(df) { case (d, (nm, ex)) => d.selectExpr("*", s"$ex AS $nm") }

  /** The DuckDB twin of [[chain]]: one CTE per step, `prefix1` reading
    * `from` and each later CTE reading the one before. Returns the CTE
    * text (no leading or trailing comma) and the name of the final CTE. */
  def ctes(steps: Steps, from: String, prefix: String): (String, String) = {
    require(steps.nonEmpty, "ctes needs at least one step")
    val out = steps.zipWithIndex.map { case ((nm, ex), i) =>
      val src = if (i == 0) from else s"$prefix$i"
      s"$prefix${i + 1} AS (SELECT *, $ex AS $nm FROM $src)"
    }
    (out.mkString(",\n  "), s"$prefix${steps.size}")
  }

  /** Unrolled n×n Gaussian elimination without pivoting (the callers'
    * systems are positive definite: Gram matrices, ridge-shifted Grams,
    * logistic Hessians) over named scalar steps. `a` holds the matrix
    * entries' names (row-major), `b` the right-hand side's; every
    * generated name carries `p`: `{p}f{i}{k}` elimination factors,
    * `{p}a{i}{j}_{k}` / `{p}b{i}_{k}` reduced entries, `{p}x0..` the
    * solution. */
  def gauss(a: Seq[Seq[String]], b: Seq[String], p: String): Steps = {
    val n = b.size
    require(a.size == n && a.forall(_.size == n), s"gauss needs an $n×$n matrix")
    val m = a.map(_.toArray).toArray
    val r = b.toArray
    val steps = Seq.newBuilder[(String, String)]
    for (k <- 0 until n - 1; i <- k + 1 until n) {
      val f = s"${p}f$i$k"
      steps += f -> s"${m(i)(k)} / ${m(k)(k)}"
      for (j <- k + 1 until n) {
        val nm = s"${p}a$i${j}_$k"
        steps += nm -> s"${m(i)(j)} - $f * ${m(k)(j)}"
        m(i)(j) = nm
      }
      val nb = s"${p}b${i}_$k"
      steps += nb -> s"${r(i)} - $f * ${r(k)}"
      r(i) = nb
    }
    for (i <- n - 1 to 0 by -1) {
      val rest = (i + 1 until n).map(j => s" - ${m(i)(j)} * ${p}x$j").mkString
      steps += s"${p}x$i" ->
        (if (rest.isEmpty) s"${r(i)} / ${m(i)(i)}" else s"(${r(i)}$rest) / ${m(i)(i)}")
    }
    steps.result()
  }

  /** The 2×2 Newton step by Cramer's rule: `d0`, `d1` solve
    * [[h00 h01] [h01 h11]]·d = (g0, g1) over the determinant `den`. */
  def newton2(h00: String, h01: String, h11: String, g0: String, g1: String): Steps = Seq(
    "den" -> s"$h00 * $h11 - $h01 * $h01",
    "d0" -> s"($h11 * $g0 - $h01 * $g1) / den",
    "d1" -> s"($h00 * $g1 - $h01 * $g0) / den")

  /** How a named sum crosses from the executors to the update. */
  sealed trait Wire
  /** Exact DECIMAL(30,12) sum widened to DOUBLE ([[Tables.xsum]]). */
  case object XSum extends Wire
  /** The bit-identical 12-dp integer wire ([[Tables.sumE12]]). */
  case object E12 extends Wire
  /** The row count as DOUBLE (the sum's text is unused). */
  case object Count extends Wire

  final case class Sum(name: String, wire: Wire, text: String)
  def xsum(name: String, text: String): Sum = Sum(name, XSum, text)
  def e12(name: String, text: String): Sum = Sum(name, E12, text)
  def count(name: String): Sum = Sum(name, Count, "")

  /** An iterative fit, declared once for both engines: driver-held on
    * [[fit]], carried in-plan on [[trail]].
    *  - `params`: the parameters and their initial values ([[trail]]
    *    takes its start from a frame instead).
    *    A parameter whose `next` is its own name is a fixed fit input
    *    that rides along (a penalty, another fit's coefficients).
    *  - `rows`: per-row steps over the frame × the parameters.
    *  - `where`: an optional row filter over the same columns.
    *  - `sums`: the named sums over those rows, each with its wire.
    *  - `update`: steps over the sums × the parameters.
    *  - `next`: per parameter, the text of its value after the step.
    *  - `iters`: the number of steps. */
  final case class Fit(
      params: Seq[(String, Double)],
      rows: Steps,
      sums: Seq[Sum],
      update: Steps,
      next: Seq[String],
      iters: Int,
      where: Option[String] = None) {
    require(next.size == params.size, "one next-value text per parameter")
    def names: Seq[String] = params.map(_._1)
    private[Twin] def nextCols: Seq[String] =
      next.zip(names).map { case (ex, nm) => s"$ex AS $nm" }
  }

  /** Run `f` over `frame` in Spark. The frame is first reduced to its
    * [[cells]], one row per distinct tuple of ALL its columns plus the
    * tuple's row count, and the cells are pinned ([[Tables.pin]]) for the
    * fit's duration: so a caller projects only what the fit reads, and a
    * frame whose columns take few values (the TPC-H domains) is read
    * once, not once per step. Each step crosses the
    * cells with the parameters as a broadcast one-row table (column
    * references, not literals, so the generated code is the same every
    * step and the codegen cache hits), evaluates the row steps and `where`
    * once per cell, sums every addend times the cell's count on the exact
    * weighted wires, applies the update through [[chain]] on the one-row
    * result and collects once. That is exact: a row's addends depend only
    * on its tuple and the parameters, and Σ_rows CAST(f AS DECIMAL) =
    * Σ_cells n·CAST(f AS DECIMAL) in integer arithmetic, so every step is
    * bit-identical to the row-level loop [[sqlFit]] renders. Returns the
    * parameters after each step; the cells' pin is released on return,
    * and when a step throws. */
  def fit(frame: DataFrame, f: Fit): Seq[Array[Double]] = {
    val spark = frame.sparkSession
    val schema = StructType(f.names.map(StructField(_, DoubleType, nullable = false)))
    require(!(frame.columns ++ f.names ++ f.rows.map(_._1)).contains(CellN),
      s"$CellN is the cell count's name")
    val aggs = f.sums.map(cellSum)
    val pinned = T.pin(cells(frame))
    try (1 to f.iters).scanLeft(f.params.map(_._2).toArray) { (p, _) =>
      val pt = broadcast(spark.createDataFrame(
        java.util.Arrays.asList(Row.fromSeq(p.toSeq)), schema))
      val r = step(pinned.crossJoin(pt), f, aggs, _.crossJoin(pt)).collect()(0)
      Array.tabulate(f.names.size)(r.getDouble)
    }.tail
    finally release(pinned)
  }

  /** The Spark twin of [[sqlFit]]: `f` unrolled over the rows of `frame`
    * in one plan, for a frame whose rows are nearly all distinct, where
    * [[fit]]'s grouping buys nothing. The parameters are a one-row frame
    * carried in-plan from `init` (round 0; its columns are `f`'s parameter
    * names, and `f`'s own initial values are unused) through `f.iters`
    * steps. Each step is [[fit]]'s, over the rows on the unweighted wires
    * and with the previous step as its broadcast parameter table: no
    * cells, no pin, no collect. Returns `(round, params…)`, one row per
    * round 0..iters.
    *
    * A step reads the previous one twice (crossed with the rows, and with
    * the sums), and Spark runs it once only when both reads plan the same
    * subtree. Each read would be pruned to the parameters it uses, so a
    * step's parameters, after every earlier round's, travel as one DOUBLE
    * array that both reads take whole; a fit whose rows read no parameter
    * would escape that and re-run the previous step. */
  def trail(frame: DataFrame, f: Fit, init: DataFrame): DataFrame = {
    require(!(frame.columns ++ f.names ++ f.rows.map(_._1)).contains(Held),
      s"$Held is the trail's own column")
    val aggs = f.sums.map(rowSum)
    def round(k: Int) =
      f.names.zipWithIndex.map { case (n, i) => s"$Held[${k * f.names.size + i}] AS $n" }
    val last = (1 to f.iters).foldLeft(init.select(array(f.names.map(col): _*).as(Held))) { (p, k) =>
      val pt = broadcast(p)
      def cross(df: DataFrame, keep: String*) =
        df.crossJoin(pt).selectExpr(df.columns.toSeq.map(c => s"`$c`") ++ round(k - 1) ++ keep: _*)
      step(cross(frame), f, aggs, cross(_, Held), Seq(Held))
        .select(concat(col(Held), array(f.names.map(col): _*)).as(Held))
    }
    last.select(explode(array((0 to f.iters).map(k =>
        struct(lit(k).as("round") +: round(k).map(expr): _*)): _*)).as(Held))
      .select(s"$Held.*")
  }

  /** [[trail]]'s parameter array: every round's parameters so far. */
  private val Held = "twin_trail"

  /** One step of `f`, shared by [[fit]] and [[trail]]: `where` and the row
    * steps over `crossed` (the rows × the parameters), the sums `aggs`,
    * `params` (which joins the parameters to the one-row sums), the
    * decode, the update and the next values; the columns `keep` ride
    * along. */
  private def step(crossed: DataFrame, f: Fit, aggs: Seq[Column],
      params: DataFrame => DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val rows = chain(f.where.fold(crossed)(w => crossed.where(expr(w))), f.rows)
    chain(params(rows.agg(aggs.head, aggs.tail: _*))
        .selectExpr(f.names ++ f.sums.map(s => decode(s, T.bitsE12)) ++ keep: _*), f.update)
      .selectExpr(f.nextCols ++ keep: _*)
  }

  /** The name of a cell's row count in [[cells]]. */
  val CellN = "cell_n"

  /** `frame`'s cell histogram: its distinct tuples of all columns, with
    * their row counts in a non-null LONG [[CellN]], from one aggregation.
    * A pass whose every addend depends only on the tuple reads the cells
    * in place of the rows and weights each sum by [[CellN]]. Spark
    * normalizes -0.0 to 0.0 in a grouping key, and a step can tell them
    * apart (a string cast, a division), so each float column is keyed
    * with its sign of zero as well and -0.0 is restored in its own cell. */
  def cells(frame: DataFrame): DataFrame = {
    val cols = frame.schema.fields.toSeq
    val zeros = cols.zipWithIndex.collect {
      case (c, i) if c.dataType == DoubleType || c.dataType == FloatType => (c, s"${CellN}_z$i")
    }
    val keyed = frame.select(cols.map(c => col(c.name)) ++ zeros.map { case (c, z) =>
      (col(c.name) === 0 && col(c.name).cast("string").startsWith("-")).as(z)
    }: _*)
    val restored = cols.map { c =>
      zeros.collectFirst { case (`c`, z) =>
        when(col(z), lit(-0.0).cast(c.dataType)).otherwise(col(c.name)).as(c.name)
      }.getOrElse(col(c.name))
    }
    keyed.groupBy(keyed.columns.toSeq.map(col): _*)
      .agg(countRows(lit(1)).as(CellN))
      .select(restored :+ col(CellN): _*)
  }

  /** The oracle twin of [[fit]] and [[trail]]: `${p}0` holds the initial
    * parameters (`init`, a SELECT, when they come from another CTE) and block k
    * unrolls step k over the rows CTE `rows`, ending in the parameter CTE
    * `$p$k` — `$p${f.iters}` is the fitted model. Returns the CTE text. */
  def sqlFit(f: Fit, rows: String, p: String, init: Option[String] = None): String = {
    val p0 = init.getOrElse(
      "SELECT " + f.params.map { case (nm, v) => s"CAST('$v' AS DOUBLE) AS $nm" }.mkString(", "))
    val blocks = (1 to f.iters).map { k =>
      val (prev, b) = (s"$p${k - 1}", s"$p$k")
      val (rowCtes, rowFin) = ctes(f.rows, s"${b}x", s"${b}r")
      val (updCtes, updFin) =
        if (f.update.isEmpty) ("", s"${b}g") else ctes(f.update, s"${b}g", s"${b}u")
      Seq(
        s"${b}x AS (SELECT * FROM $rows, $prev${f.where.fold("")(w => s" WHERE $w")})",
        rowCtes,
        s"${b}s AS (SELECT ${f.sums.map(sqlSum).mkString(",\n    ")}\n  FROM $rowFin)",
        s"${b}g AS (SELECT ${(f.names ++ f.sums.map(s => decode(s, T.sqlBitsE12))).mkString(", ")}" +
          s" FROM ${b}s, $prev)",
        updCtes,
        s"$b AS (SELECT ${f.nextCols.mkString(", ")} FROM $updFin)")
        .filter(_.nonEmpty).mkString(",\n  ")
    }
    (s"${p}0 AS ($p0)" +: blocks).mkString(",\n  ")
  }

  /** The oracle twin of [[trail]]'s result over [[sqlFit]]'s CTEs named
    * `p`: `(round, params…)` from `${p}0` .. `$p${f.iters}`, as one
    * `UNION ALL` query. */
  def sqlTrail(f: Fit, p: String): String =
    (0 to f.iters).map(k => s"SELECT $k AS round, ${f.names.mkString(", ")} FROM $p$k")
      .mkString("\n    UNION ALL ")

  /** A fixed-round loop over a table-valued state: `step(prev, k)` for
    * k = 1..n, starting from `init` as the caller built it. The lineage
    * cut follows from the declaration:
    *  - this form freezes each round ([[Tables.freeze]]): the next round's
    *    plan starts from a flat leaf and the round is computed lazily, with
    *    the rest of the query. That is the right cut for flat rounds;
    *    caching a round every time measured > 6× slower on the min-label
    *    loop, whose round is its query's largest intermediate.
    *  - the form with a `normalize` pins each round instead. */
  def rounds(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((prev, k) => T.freeze(step(prev, k)))

  /** A fixed-round loop whose rounds end in a driver-read normalizer (a
    * power iteration): `step(prev, k, pin)` yields the round's raw
    * product, which is pinned ([[Tables.pin]]) because `normalize` reads
    * it more than once — it collects its scalars (a mean, a norm) from the
    * product as driver-held literals and maps the product to the next
    * state. A literal, unlike an in-plan broadcast of the aggregate, does
    * not re-run the round's subtree per reference when AQE is off, and it
    * is bit-neutral: the same exact-wire value feeds the same division.
    * A step that reads one of its own intermediates twice pins it through
    * the round's `pin`, never [[Tables.pin]]: it belongs to the round.
    * Round k-1's pins are released once round k's product has
    * materialized, so the loop returns holding one round's pins, not n. */
  def rounds(init: DataFrame, n: Int, normalize: DataFrame => DataFrame)(
      step: (DataFrame, Int, DataFrame => DataFrame) => DataFrame): DataFrame = {
    val (_, last) = (1 to n).foldLeft((Seq.empty[DataFrame], init)) {
      case ((held, prev), k) =>
        val pins = Seq.newBuilder[DataFrame]
        val pin = (df: DataFrame) => { val p = T.pin(df); pins += p; p }
        val raw = pin(step(prev, k, pin))
        held.foreach(release)
        (pins.result(), normalize(raw))
    }
    last
  }

  /** Free a pinned frame's blocks. `Dataset.unpersist` does not reach a
    * local checkpoint's storage; the checkpointed RDD under its leaf
    * does. */
  private def release(pinned: DataFrame): Unit = pinned.queryExecution.logical match {
    case leaf: LogicalRDD => leaf.rdd.unpersist(blocking = false)
    case other => throw new IllegalStateException(s"not a pinned frame: ${other.nodeName}")
  }

  /** The oracle twin of [[rounds]]: the CTEs of rounds 1..n, in order.
    * Round k reads `<state>{k-1}` and defines `<state>{k}`; the caller
    * names round 0 and reads the final state from the same `n`. */
  def sqlRounds(n: Int)(round: Int => String): String =
    (1 to n).map(round).mkString(",\n  ")

  /** A sum over [[cells]]: each cell's addend counted n times. */
  private def cellSum(s: Sum): Column = s.wire match {
    case XSum => T.xsum(expr(s.text), col(CellN)).as(s.name)
    case E12 => T.sumE12(expr(s.text), col(CellN)).as(s"s_${s.name}")
    case Count => coalesce(sum(col(CellN)), lit(0L)).cast(DoubleType).as(s.name)
  }

  /** A sum over rows, each counted once. */
  private def rowSum(s: Sum): Column = s.wire match {
    case XSum => T.xsum(expr(s.text)).as(s.name)
    case E12 => T.sumE12(expr(s.text)).as(s"s_${s.name}")
    case Count => countRows(lit(1)).cast(DoubleType).as(s.name)
  }

  private def sqlSum(s: Sum): String = s.wire match {
    case XSum => s"${T.sqlXsum(s.text)} AS ${s.name}"
    case E12 => s"${T.sqlSumE12(s.text)} AS s_${s.name}"
    case Count => s"CAST(count(*) AS DOUBLE) AS ${s.name}"
  }

  /** The sum as the update sees it: the integer wires decode to DOUBLE
    * through the engine's bits splitter ([[Tables.bitsE12]] /
    * [[Tables.sqlBitsE12]]). */
  private def decode(s: Sum, bits: String => String): String = s.wire match {
    case E12 => s"${bits(s"s_${s.name}")} AS ${s.name}"
    case XSum | Count => s.name
  }
}
