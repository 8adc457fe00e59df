package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, KnownNullable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

/** Codegen'd vector kernels (SURVEY §4.2 "custom extension points").
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are
  * INTERPRETED — each element evaluation walks a lambda expression tree, so
  * a 64-dim dot product costs ~100× a fused loop, and whole-stage codegen
  * breaks around it. These expressions generate a tight primitive `double`
  * loop instead (measured ~10× on the sim_* pair scans; the same shape
  * cuML's C++ brute-force kernels have [R SURVEY §3.1]).
  *
  * Numeric contract (matches the interpreted form they replace and the
  * DuckDB oracle's `CAST(... AS DOUBLE[])` path): each float element is
  * widened to double BEFORE any arithmetic; accumulation is sequential
  * left-to-right in double. Array elements are assumed non-null (fixture
  * embeddings are dense); a null array yields null via BinaryExpression's
  * null-safe plumbing. Length MISMATCH also yields null (ADVICE r11):
  * `zip_with` null-pads the shorter array, so the HOF form these kernels
  * replace returns null the moment a padded element enters the fold —
  * looping to xs.length and indexing ys[i] instead would throw (or read
  * past the logical end). Mirroring the null keeps the FuseVecKernels
  * rewrite bit-neutral on EVERY input, not just equal-length ones.
  */
abstract class VecBinary extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType
  // nullable even over non-null inputs: length mismatch yields null
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two float[] or two double[] arrays, " +
            s"got ${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  protected def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Java source for the loop body given xs/ys primitive arrays in scope.
    * `i` is a freshName'd loop-variable identifier: a literal `i` collides
    * (janino "Redefinition of local variable") when the same projection
    * also contains Spark's higher-order-function codegen, which declares
    * its own `i` in the enclosing scope. */
  protected def loopBody(xs: String, ys: String, acc: String, i: String): String

  /** Final transform applied to the accumulator (identity by default). */
  protected def finishJava(acc: String): String = acc

  /** Scala closure mirror of loopBody for interpreted eval. */
  protected def evalLoop(xs: Array[Double], ys: Array[Double]): Double

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) =
      if (isFloat)
        (a.asInstanceOf[ArrayData].toFloatArray().map(_.toDouble),
         b.asInstanceOf[ArrayData].toFloatArray().map(_.toDouble))
      else
        (a.asInstanceOf[ArrayData].toDoubleArray(),
         b.asInstanceOf[ArrayData].toDoubleArray())
    if (xs.length != ys.length) null else evalLoop(xs, ys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = if (isFloat) "float" else "double"
    val arr = if (isFloat) "toFloatArray()" else "toDoubleArray()"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val xs = ctx.freshName("xs")
      val ys = ctx.freshName("ys")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |$jt[] $xs = $a.$arr;
         |$jt[] $ys = $b.$arr;
         |if ($xs.length != $ys.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  ${loopBody(xs, ys, acc, i)}
         |  ${ev.value} = ${finishJava(acc)};
         |}
       """.stripMargin
    })
  }
}

/** Σ xᵢ·yᵢ (widened to double per element). */
case class VecDot(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "vec_dot"
  protected def loopBody(xs: String, ys: String, acc: String, i: String): String =
    s"""for (int $i = 0; $i < $xs.length; $i++) {
       |  $acc += (double) $xs[$i] * (double) $ys[$i];
       |}""".stripMargin
  protected def evalLoop(xs: Array[Double], ys: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < xs.length) { acc += xs(i) * ys(i); i += 1 }
    acc
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** √Σ (xᵢ−yᵢ)² — Euclidean (L2) distance. */
case class VecL2Dist(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "vec_l2_dist"
  protected def loopBody(xs: String, ys: String, acc: String, i: String): String =
    s"""for (int $i = 0; $i < $xs.length; $i++) {
       |  double d$i = (double) $xs[$i] - (double) $ys[$i];
       |  $acc += d$i * d$i;
       |}""".stripMargin
  override protected def finishJava(acc: String): String = s"Math.sqrt($acc)"
  protected def evalLoop(xs: Array[Double], ys: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < xs.length) { val d = xs(i) - ys(i); acc += d * d; i += 1 }
    math.sqrt(acc)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ |xᵢ−yᵢ| — Manhattan (L1) distance (the NearestNeighbors metric
  * variant the reference exposes next to euclidean/cosine). */
case class VecL1Dist(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "vec_l1_dist"
  protected def loopBody(xs: String, ys: String, acc: String, i: String): String =
    s"""for (int $i = 0; $i < $xs.length; $i++) {
       |  $acc += Math.abs((double) $xs[$i] - (double) $ys[$i]);
       |}""".stripMargin
  protected def evalLoop(xs: Array[Double], ys: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < xs.length) { acc += math.abs(xs(i) - ys(i)); i += 1 }
    acc
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** max |xᵢ−yᵢ| — Chebyshev (L∞) distance, completing the pairwise-metric
  * family (euclidean / cosine / manhattan / chebyshev). */
case class VecLInfDist(left: Expression, right: Expression) extends VecBinary {
  override def prettyName: String = "vec_linf_dist"
  protected def loopBody(xs: String, ys: String, acc: String, i: String): String =
    s"""for (int $i = 0; $i < $xs.length; $i++) {
       |  double d$i = Math.abs((double) $xs[$i] - (double) $ys[$i]);
       |  if (d$i > $acc) $acc = d$i;
       |}""".stripMargin
  protected def evalLoop(xs: Array[Double], ys: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < xs.length) {
      val d = math.abs(xs(i) - ys(i)); if (d > acc) acc = d; i += 1
    }
    acc
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ xᵢ² — unary squared norm (ADVICE r11: the old FuseVecKernels
  * squared-norm case rewrote aggregate(a, ...) to VecDot(a, a), duplicating
  * the child expression — a non-deterministic child was evaluated twice and
  * diverged, and even a deterministic densify `transform(a, x->coalesce(x,0d))`
  * paid double. The unary kernel evaluates the child ONCE; the fold order
  * (acc += x[i]·x[i], left-to-right in double) is identical to both the HOF
  * form and VecDot(a, a), so the rewrite stays bit-neutral). */
case class VecNormSq(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with Serializable {
  override def prettyName: String = "vec_normsq"
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects a float[] or double[] array, got ${other.catalogString}")
    }
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(a: Any): Any = {
    val xs =
      if (isFloat) a.asInstanceOf[ArrayData].toFloatArray().map(_.toDouble)
      else a.asInstanceOf[ArrayData].toDoubleArray()
    var acc = 0.0; var i = 0
    while (i < xs.length) { acc += xs(i) * xs(i); i += 1 }
    acc
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = if (isFloat) "float" else "double"
    val arr = if (isFloat) "toFloatArray()" else "toDoubleArray()"
    nullSafeCodeGen(ctx, ev, a => {
      val xs = ctx.freshName("xs")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |$jt[] $xs = $a.$arr;
         |double $acc = 0.0;
         |for (int $i = 0; $i < $xs.length; $i++) {
         |  $acc += (double) $xs[$i] * (double) $xs[$i];
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Registration + Column helpers. The expressions are registered as SQL
  * functions in the session's FunctionRegistry (idempotent), then reached
  * through `expr("vec_dot(a, b)")` — no private Spark APIs involved, and
  * the driver's vanilla session works because every query fn calls
  * `Vec.register(s)` through the helpers below.
  */
object Vec {
  def register(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    // idempotent: re-registering an existing name logs a WARN per call
    // ("replaced a previously registered function"), which at one call per
    // Column construction spammed every bench/test log (VERDICT r3 #6)
    if (!reg.functionExists(FunctionIdentifier("graft_vec_dot"))) {
      reg.createOrReplaceTempFunction(
        "graft_vec_dot", args => VecDot(args.head, args(1)), "built-in")
      reg.createOrReplaceTempFunction(
        "graft_vec_l2", args => VecL2Dist(args.head, args(1)), "built-in")
      reg.createOrReplaceTempFunction(
        "graft_vec_l1", args => VecL1Dist(args.head, args(1)), "built-in")
      reg.createOrReplaceTempFunction(
        "graft_vec_linf", args => VecLInfDist(args.head, args(1)), "built-in")
      reg.createOrReplaceTempFunction(
        "graft_vec_normsq", args => VecNormSq(args.head), "built-in")
      reg.createOrReplaceTempFunction(
        "graft_trigrams", args => TrigramGenerator(args.head), "built-in")
    }
  }

  def normSq(s: SparkSession, a: String): Column = {
    register(s); expr(s"graft_vec_normsq($a)")
  }

  def dot(s: SparkSession, a: String, b: String): Column = {
    register(s); expr(s"graft_vec_dot($a, $b)")
  }
  def l2(s: SparkSession, a: String, b: String): Column = {
    register(s); expr(s"graft_vec_l2($a, $b)")
  }
  /** Each point's `k` nearest of a driver-held centroid set (`(cid,
    * embedding)`, K rows): `points`' columns plus `cid`, `d` (the
    * graft_vec_l2 distance) and `rn` (1 = nearest). Ties go to the lower
    * cid, and a null `d` ranks first — the rows of `row_number() OVER
    * (PARTITION BY id ORDER BY d, cid) <= k` over points × centroids.
    * Map-only: each point sorts its K literal (d, cid) structs in place,
    * so no exchange on the point id and no nested-loop join. Fits a small
    * client-held model; a centroid set that grows with the data does not
    * belong in K literal terms. */
  def nearest(points: DataFrame, emb: String, cents: Seq[(Long, Array[Float])],
      k: Int): DataFrame = {
    require(cents.nonEmpty, "nearest needs at least one centroid")
    register(points.sparkSession)
    val ranked = F.sort_array(F.array(cents.map { case (cid, c) =>
      F.struct(F.call_function("graft_vec_l2", F.col(emb), F.typedLit(c)).as("d"),
        F.lit(cid).as("cid"))
    }: _*))
    // cid is nullable, as a centroid id read from a table is, so a
    // result's schema does not depend on where its centroids came from
    val cid = GraftBridge.column(KnownNullable(GraftBridge.expression(F.col("nc.cid"))))
    points.select(F.col("*"), F.posexplode(F.slice(ranked, 1, k)).as(Seq("pos", "nc")))
      .select(points.columns.toSeq.map(c => F.col(s"`$c`")) ++ Seq(cid.as("cid"),
        F.col("nc.d").as("d"), (F.col("pos") + 1).as("rn")): _*)
  }

  /** A `(cid, c_emb)` centroid frame, collected in cid order — the K-row
    * driver-held form [[nearest]] takes. */
  def centroids(cent: DataFrame): Seq[(Long, Array[Float])] =
    cent.select("cid", "c_emb").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)

  /** DuckDB oracle twin of [[nearest]], kept brute-force so the
    * hash-match checks the helper independently: every `points` row
    * (aliased `p`, keyed `id`) crossed with the `cents(cid, c_emb)`
    * relation, ranked by `row_number() OVER (PARTITION BY id ORDER BY
    * list_distance NULLS FIRST, cid)`; `p.*` plus cid, d and rn for
    * rn ≤ k. A null or length-mismatched embedding scores null, as
    * graft_vec_l2 does. */
  def sqlNearest(points: String, id: String, emb: String, k: Int,
      cents: String = "cent"): String = {
    val d = sqlGuard(L2, s"CAST(p.$emb AS DOUBLE[])", "CAST(c.c_emb AS DOUBLE[])")
    s"""SELECT * FROM (
          SELECT p.*, c.cid, $d AS d,
            row_number() OVER (PARTITION BY p.$id ORDER BY $d NULLS FIRST, c.cid) AS rn
          FROM $points p CROSS JOIN $cents c) t
        WHERE rn <= $k"""
  }

  /** The brute-force kNN metrics: each pairs a Spark score over
    * `(q_emb, n_emb)` with its DuckDB twin over two DOUBLE[] lists, and
    * `desc` says a larger score is nearer. */
  sealed abstract class Metric(val desc: Boolean) {
    private[Vec] def sql(q: String, n: String): String
  }
  /** graft_vec_l2 ↔ list_distance. */
  case object L2 extends Metric(false) {
    private[Vec] def sql(q: String, n: String) = s"list_distance($q, $n)"
  }
  /** dot / (√normSq q · √normSq n) ↔ list_cosine_similarity. */
  case object Cosine extends Metric(true) {
    private[Vec] def sql(q: String, n: String) = s"list_cosine_similarity($q, $n)"
  }
  /** graft_vec_l1 collapsed to FLOAT ↔ the exploded sum collapsed to REAL:
    * the two engines' double sums can differ in the last ulp, their float
    * collapses do not. */
  case object L1 extends Metric(false) {
    private[Vec] def sql(q: String, n: String) =
      s"(SELECT CAST(CAST(sum(abs(x - y)) AS REAL) AS DOUBLE) FROM (SELECT unnest($q) AS x, unnest($n) AS y))"
  }

  /** Each query's `k` nearest corpus rows, itself excluded (the
    * NearestNeighbors.kneighbors brute force): `queries` has `(q_id,
    * q_emb, …)`, `corpus` `(n_id, n_emb, …)`, and the result both sides'
    * other columns plus `score` and `rn` (1 = nearest) — the rows of
    * `row_number() OVER (PARTITION BY q_id ORDER BY score[ DESC], n_id)
    * <= k` over the pairs with `q_id <> n_id`. Ties go to the lower n_id;
    * a null score (null embedding, length mismatch) ranks first
    * ascending and last descending.
    *
    * The small query side is broadcast and the corpus streams once
    * through `Tables.fanOut` on n_id (a one-row-group fixture file would
    * otherwise stream single-threaded), so the corpus never shuffles to
    * the queries: the pair rows meet the per-partition WindowGroupLimit
    * first, and only each partition's top k per query reaches the q_id
    * exchange. Cosine norms are computed once per row, before the join. */
  def knn(queries: DataFrame, corpus: DataFrame, metric: Metric, k: Int): DataFrame = {
    val keep = queries.columns.filterNot(_ == "q_emb") ++ corpus.columns.filterNot(_ == "n_emb")
    register(queries.sparkSession)
    def kernel(f: String, args: String*) = F.call_function(f, args.map(F.col): _*)
    def normed(df: DataFrame, side: String) =
      if (metric != Cosine) df
      else df.withColumn(s"${side}_nrm", F.sqrt(kernel("graft_vec_normsq", s"${side}_emb")))
    val score = metric match {
      case L2 => kernel("graft_vec_l2", "q_emb", "n_emb")
      case L1 => kernel("graft_vec_l1", "q_emb", "n_emb").cast("float")
      case Cosine => kernel("graft_vec_dot", "q_emb", "n_emb") / (F.col("q_nrm") * F.col("n_nrm"))
    }
    val order = if (metric.desc) F.col("score").desc else F.col("score")
    graft.Tables.fanOut(normed(corpus, "n"), F.col("n_id"))
      .crossJoin(F.broadcast(normed(queries, "q")))
      .where(F.col("q_id") =!= F.col("n_id"))
      .select(keep.map(c => F.col(s"`$c`")) :+ score.as("score"): _*)
      .withColumn("rn", F.row_number().over(
        Window.partitionBy(F.col("q_id")).orderBy(order, F.col("n_id"))))
      .where(F.col("rn") <= k)
  }

  /** DuckDB oracle twin of [[knn]], kept brute-force so the hash-match
    * checks the helper independently: the `queries` relation (`q_id`,
    * `q_emb`, …; a name or a parenthesized query) crossed with
    * `embeddings`, ranked by `row_number() OVER (PARTITION BY q_id ORDER
    * BY <metric>, vec_id)`; `q.*` plus n_id, score and rn for rn ≤ k. A
    * null score ranks as in Spark: first ascending (spelled `NULLS
    * FIRST`, DuckDB's default is last), last descending. */
  def sqlKnn(queries: String, metric: Metric, k: Int): String = {
    val score = sqlGuard(metric, "CAST(q.q_emb AS DOUBLE[])", "CAST(e.embedding AS DOUBLE[])")
    s"""SELECT * FROM (
          SELECT q.*, e.vec_id AS n_id, $score AS score,
            row_number() OVER (PARTITION BY q.q_id
              ORDER BY $score${if (metric.desc) " DESC" else " NULLS FIRST"}, e.vec_id) AS rn
          FROM $queries q CROSS JOIN embeddings e
          WHERE q.q_id <> e.vec_id) t
        WHERE rn <= $k"""
  }

  /** `metric`'s DuckDB twin, null where the Spark kernels give null: on a
    * null list or a length mismatch, where DuckDB's list functions raise
    * (or, for the exploded L1 sum, pad the shorter list). */
  private def sqlGuard(metric: Metric, q: String, n: String): String =
    s"CASE WHEN len($q) = len($n) THEN ${metric.sql(q, n)} END"

  def l1(s: SparkSession, a: String, b: String): Column = {
    register(s); expr(s"graft_vec_l1($a, $b)")
  }
  def linf(s: SparkSession, a: String, b: String): Column = {
    register(s); expr(s"graft_vec_linf($a, $b)")
  }
}
