package graft.ops

import graft.{QueryDef, Tables => T, Twin}
import graft.functions.{Fixed, Vec}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's own ML algorithms re-expressed as Spark dataflows
  * (SURVEY.md §2.11; dask-cuml LinearRegression/Ridge/NearestNeighbors/
  * KMeans [R]).
  *
  * Structure mirrors the reference's MNMG execution model exactly:
  * - fit = ONE distributed aggregation producing the tiny sufficient
  *   statistics (Gram matrix / moment sums) — the analog of per-GPU partial
  *   reductions merged on one node — followed by a driver-side closed-form
  *   solve on a handful of doubles (the analog of cuML's client-held coef_).
  * - predict = broadcast of those few doubles back into a per-row
  *   expression (the analog of coef broadcast + GEMV).
  * - kneighbors = `Vec.knn`: broadcast(small query side) × all vectors +
  *   per-query top-k via window row_number — Spark's native replacement
  *   for the reference's IPC-gathered FAISS brute force + k-selection.
  *
  * Determinism (SURVEY §7.3): sufficient statistics are exact DECIMAL sums,
  * so the driver-side solve sees bit-identical inputs in Spark and DuckDB;
  * per-row distance math is order-independent; every double output is
  * round(,6).
  */
object ML {

  /** Exact first/second-moment sums for y = a + b*x on lineitem:
    * x = l_quantity, y = l_extendedprice. Emitted as one row of DECIMAL
    * sums; slope/intercept derive in closed form (normal equations — the
    * same system cuML's `eig` solver factorizes [R]). The row is
    * MEMOIZED in T.memo like gram4Row (r7): four solver queries (linreg/ridge/lasso/enet 1-feature fits) start
    * from the same five exact sums over lineitem, and each re-paid the
    * ~1.3 s decimal aggregation sequentially. Deterministic statistic →
    * first consumer collects, the rest rebuild the one-row frame locally
    * (the cuML client-held sufficient-statistic pattern). */
  private def olsMoments(s: SparkSession, dir: String): DataFrame = {
    val (rows, schema) = T.memo("olsMoments", s, dir) {
      val df = T.lineitem(s, dir).agg(
        count(lit(1)).cast("double").as("n"),
        T.xsum(col("l_quantity")).as("sx"),
        T.xsum(col("l_extendedprice")).as("sy"),
        T.xsum(col("l_quantity") * col("l_quantity")).as("sxx"),
        T.xsum(col("l_quantity") * col("l_extendedprice")).as("sxy"))
      (df.collect(), df.schema)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private val sqlOlsMoments: String =
    s"""SELECT CAST(count(*) AS DOUBLE) AS n,
          ${T.sqlXsum("l_quantity")} AS sx,
          ${T.sqlXsum("l_extendedprice")} AS sy,
          ${T.sqlXsum("l_quantity * l_quantity")} AS sxx,
          ${T.sqlXsum("l_quantity * l_extendedprice")} AS sxy
        FROM lineitem"""

  /** slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²), intercept = (Sy − b·Sx)/n —
    * computed from the exact sums so both engines do identical double ops. */
  private val slopeExpr =
    "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
  private val interceptExpr =
    s"(sy - ($slopeExpr) * sx) / n"

  /** Scaled-BIGINT wire encoding (value × 10⁴ — exact for ≤2 dp source
    * data, see ml_linreg_normal_eq). ADVICE r3 guard: per-group sum(y·y)×10⁴
    * is ~6e18 at sf0.1, within Int64 but close; at a larger SF Spark's
    * non-ANSI decimal→long cast would silently return NULL while DuckDB
    * errors, so fail loudly just short of 2⁶³ instead.
    */
  private def e4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val v = c * lit(10000)
    when(abs(v) > lit(9.0e18),
      raise_error(concat(lit("e4 wire overflow: "), v.cast("string"))))
      .otherwise(v.cast("long"))
  }

  /** Test hook for the overflow guard (MicroSpec). */
  private[graft] def e4ForTest(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = e4(c)

  // ---- k-means‖ internals (shared by ml_kmeans_scalable_init and
  // ml_kmeans_parallel_recluster — see their docstrings) ------------------

  /** Bahmani candidate generation: R = 3 derandomized oversampling passes
    * (ℓ = 20). Returns (per-pass stats (pass, |C|, φ), final candidates).
    * The driver holds only the candidate set; each pass is ONE
    * broadcast(candidates) × streamed-points aggregation; φ rides the
    * exact DECIMAL(30,12) wire so the next pass's threshold is
    * bit-identical cross-engine. */
  private def bahmaniRun(s: SparkSession, dir: String)
      : (Seq[(Int, Long, Double)], Seq[(Long, Seq[Float])]) = {
    val spark = s
    import spark.implicits._
    val L = 20.0 // ℓ = 2k oversampling, k = 10
    val e = T.pin(T.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .transform(T.fanOut(_, col("vec_id"))))
    val h = (lit(387143L) * col("vec_id") + lit(31337L)) % lit(2147483647L)
    val first = e.orderBy(h, col("vec_id")).limit(1).collect()(0)
    var cand = Seq[(Long, Seq[Float])]((first.getLong(0), first.getSeq[Float](1)))
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Double)]()
    for (pass <- 0 to 3) {
      val cd = cand.toDF("cid", "c_emb")
      val d2 = T.pin(e.crossJoin(broadcast(cd))
        .select(col("vec_id"), col("embedding"),
          graft.functions.Vec.l2(s, "embedding", "c_emb").as("d"))
        .groupBy("vec_id", "embedding").agg(min(col("d")).as("dm"))
        .select(col("vec_id"), col("embedding"),
          (col("dm") * col("dm")).as("dd")))
      val phi = d2.agg(T.xsum(col("dd"))).collect()(0).getDouble(0)
      out += ((pass, cand.size.toLong, phi))
      if (pass < 3) {
        // coin = TWO-STAGE affine hash of (vec_id, pass) — exact integer
        // mods then one division, bit-identical in both engines. Two
        // stages matter: a single small-multiplier affine over the
        // fixture's CONSECUTIVE vec_ids never wraps mod P, so its "fracs"
        // all land in one narrow band and threshold sampling collects
        // nothing (caught by the MicroSpec seeding invariant); the
        // composed step 48271·69621 mod P ≈ 0.565 wraps every ~2 ids —
        // measured decile-uniform. Stage-1 reduces mod P first so the
        // stage-2 product stays ≤ P·69621 ≪ 2⁶³ at ANY id. Members of C
        // have d² = 0 exactly (Vec.l2(x,x) = 0), so p = 0 and they are
        // never re-drawn — no dedup step needed on either side.
        val hv = (((col("vec_id") + lit(7919L * (pass + 1))) * lit(48271L)
          + lit(11L)) % lit(2147483647L) * lit(69621L) + lit(7L)) % lit(2147483647L)
        val frac = hv.cast("double") / lit(2147483647e0)
        // Driver-held candidate bound (ADVICE r12 #4 — was a hard
        // require): a pass that over-draws keeps only the 512
        // LOWEST-COIN picks (the hash that admitted them, ties by
        // vec_id) — deterministic, mirrored in the oracle's ORDER BY/
        // LIMIT, and a graceful degrade instead of an abort. Expected
        // draw is ℓ = 20 per pass, so the cap drops nothing except on
        // an adversarial corpus; recluster re-weights whatever survives.
        val picked = d2
          .where(frac < least(lit(1e0), lit(L) * col("dd") / lit(phi)))
          .select(col("vec_id"), col("embedding"), hv.as("hv"))
          .orderBy(col("hv"), col("vec_id")).limit(512)
          .collect()
        cand = cand ++ picked.toSeq.sortBy(_.getLong(0))
          .map(r => (r.getLong(0), r.getSeq[Float](1)))
      }
    }
    (out.toSeq, cand)
  }

  /** Oracle twin of [[bahmaniRun]] as a CTE prefix: e, k0..k3 (candidate
    * sets per pass), d0..d3 (per-point min distances), p0..p3 (φ). */
  private lazy val sqlBahmaniCtes: String = {
    def passCtes(p: Int): String =
      s"""d$p AS (SELECT e.vec_id, e.emb, min(list_distance(e.emb, c.emb)) AS dm
            FROM e CROSS JOIN k$p c GROUP BY e.vec_id, e.emb),
          p$p AS (SELECT CAST(sum(CAST(dm * dm AS DECIMAL(30,12))) AS DOUBLE) AS phi FROM d$p)""" +
        (if (p == 3) ""
         else s""",
          s${p + 1} AS (SELECT vec_id, emb FROM d$p, p$p
            WHERE CAST((((vec_id + ${7919L * (p + 1)}) * 48271 + 11) % 2147483647 * 69621 + 7) % 2147483647 AS DOUBLE) / 2147483647e0
                  < least(1e0, 20e0 * (dm * dm) / phi)
            ORDER BY (((vec_id + ${7919L * (p + 1)}) * 48271 + 11) % 2147483647 * 69621 + 7) % 2147483647, vec_id
            LIMIT 512),
          k${p + 1} AS (SELECT vec_id, emb FROM k$p UNION ALL SELECT vec_id, emb FROM s${p + 1})""")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
          k0 AS (SELECT vec_id, emb FROM e
                 ORDER BY (387143 * vec_id + 31337) % 2147483647, vec_id LIMIT 1),
          ${(0 to 3).map(passCtes).mkString(",\n          ")}"""
  }

  // ---- PCA internals (shared by ml_pca_power / ml_pca_deflate) -----------

  /** Distributed 64×64 Gram via PER-PARTITION ACCUMULATION (VERDICT r3 fix
    * #2 — replaces the 64×64 explode, which amplified every input row into
    * 4,096 shuffle rows): each task folds its rows into one buffer of
    * ×10⁶-scaled longs, and the driver merges the per-partition buffers —
    * a classic map-side sufficient statistic with zero row amplification.
    * The arithmetic is bit-identical to the old plan AND the DuckDB
    * oracle: per cell, each float is widened to double, multiplied in
    * double, rounded HALF_UP at 6 dp (exactly Spark's double→DECIMAL(18,6)
    * cast: `Fixed.scaled`, which decides from the double's bits and falls
    * back to BigDecimal.valueOf only near a rounding tie), and summed as an
    * exact integer — long addition is associative, so partitioning/merge
    * order cannot change the sum. addExact (and longValueExact on the
    * fallback) guards the (far-off) ×10⁶ overflow loudly. Final cell =
    * DECIMAL(·,6)→double, correctly rounded.
    */
  private def gram64(s: SparkSession, dir: String): Array[Array[Double]] =
    gramStats64(s, dir)._1

  /** gram64 plus the column-sum vector and row count from the SAME pass
    * (r6 second half, for the centered-covariance PCA): the accumulator
    * gains 64 sum cells + 1 count cell — the sums use the identical
    * ×10⁶-scaled exact-long discipline as the products, and the gram cells
    * are bit-for-bit what gram64 always produced. */
  private def gramStats64(s: SparkSession, dir: String): (Array[Array[Double]], Array[Double], Long) =
    T.memo("gramStats64", s, dir) { gramStats64Compute(s, dir) }

  private def gramStats64Compute(s: SparkSession, dir: String): (Array[Array[Double]], Array[Double], Long) = {
    val N = 64 * 64
    val partials = T.embeddings(s, dir).select(col("embedding"))
      .transform(T.fanOut(_))
      .rdd.mapPartitions { it =>
        val acc = new Array[Long](N + 64 + 1)
        it.foreach { r =>
          val seq = r.getSeq[Float](0)
          val v = new Array[Double](64)
          var i = 0
          while (i < 64) { v(i) = seq(i).toDouble; i += 1 }
          i = 0
          while (i < 64) {
            var j = i
            while (j < 64) {
              val p = Fixed.scaled(v(i) * v(j), 6)
              acc(i * 64 + j) = Math.addExact(acc(i * 64 + j), p)
              if (j != i) acc(j * 64 + i) = acc(i * 64 + j)
              j += 1
            }
            val m = Fixed.scaled(v(i), 6)
            acc(N + i) = Math.addExact(acc(N + i), m)
            i += 1
          }
          acc(N + 64) += 1
        }
        Iterator.single(acc)
      }
    val totals = partials.reduce { (a, b) =>
      val m = new Array[Long](N + 64 + 1)
      var k = 0
      while (k < N + 64 + 1) { m(k) = Math.addExact(a(k), b(k)); k += 1 }
      m
    }
    val g = Array.tabulate(64, 64)((i, j) =>
      java.math.BigDecimal.valueOf(totals(i * 64 + j), 6).doubleValue())
    val sums = Array.tabulate(64)(i =>
      java.math.BigDecimal.valueOf(totals(N + i), 6).doubleValue())
    (g, sums, totals(N + 64))
  }

  private def matvec64(g: Array[Array[Double]], x: Array[Double]): Array[Double] =
    Array.tabulate(64) { i =>
      var acc = 0.0; var j = 0
      while (j < 64) { acc += g(i)(j) * x(j); j += 1 }
      acc
    }

  // ---- multi-feature OLS internals (ml_linreg_normal_eq / ml_linreg_multi)

  /** Plan-size bytes past which the e4 BIGINT wire is presumed unsafe and
    * gram4 routes to the exact-decimal fallback (VERDICT r6 #8). The e4
    * ceiling is ~sf150 ≈ 9·10⁸ lineitem rows ≈ 90 GB of parquet; 50 GB
    * leaves a 2× margin. Driver-side plan statistics only — no job runs
    * (the Tables.fanOut discipline). */
  private val E4_SAFE_BYTES = BigInt(50L * 1000 * 1000 * 1000)

  /** The 4-feature design X = (1, quantity, discount, tax), y =
    * extendedprice: exact moment row (see ml_linreg_normal_eq for the
    * wire-type rationale). Shared by the sufficient-statistics query and
    * the full solve. */
  private def gram4(s: SparkSession, dir: String): DataFrame = {
    val raw = T.lineitem(s, dir)
    val big = raw.queryExecution.optimizedPlan.stats.sizeInBytes > E4_SAFE_BYTES
    if (big) gram4Decimal(raw) else gram4Long(raw)
  }

  /** The gram4 moment row as driver state MEMOIZED in T.memo (VERDICT r6 #7):
    * eight solver queries (normal_eq, linreg_multi ×3 consumers, ridge/
    * lasso/enet multi + their predicts) each start from the SAME one-row
    * sufficient statistic over lineitem, and under the stateless-query
    * contract each re-paid the full aggregation pass. The row is a
    * deterministic exact-integer statistic (see gram4Long), so the first
    * consumer collects it (running both loud guards) and the rest rebuild
    * the identical one-row frame locally — the cuML client-held
    * sufficient-statistic pattern, result-invisible. */
  private def gram4Row(s: SparkSession, dir: String): DataFrame = {
    val (rows, schema) = T.memo("gram4Row", s, dir) {
      val df = gram4(s, dir)
      (df.collect(), df.schema)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The fast path: 13 moment sums in LONG space (r6 — ~3× cheaper than
    * decimal sums, measured 2.7 s → 1.0 s cold at sf0.1; decimal sums
    * accumulate through Decimal128 objects outside the primitive codegen
    * path). The e4 wire is an exact integer (value × 10⁴). The per-row
    * decimal CASTS canonicalize the double's 2-dp payload (quantity
    * integral, discount/tax/price 2-dp — checked against the fixtures), so
    * every product ×10⁴ is an exact long.
    * TWO loud guards, both failing the query rather than shifting results:
    * - PRECISION (r6 ADVICE): the integral/2-dp assumption is DATA, not
    *   schema — on finer-precision input the casts would round silently
    *   and only an oracle compare would notice (production has no oracle).
    *   Per-row cast-back mismatch flags are summed; any nonzero count
    *   raises.
    * - OVERFLOW (r6 review): Σ_rows max_col |term| in double bounds every
    *   column's |sum| with no data assumption; raises near 2⁶³ (8.9e18
    *   leaves a 3% margin ≫ the double sum's rounding error).
    *   Positive-addend monotonicity then rules out silent intermediate
    *   wraps in every long sum. */
  private[graft] def gram4Long(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def mis(c: Column, scale: Int): Column =
      when(c.cast(DecimalType(18, scale)).cast("double") =!= c.cast("double"), 1L)
        .otherwise(0L)
    val l = raw.select(
      col("l_quantity").cast(DecimalType(18, 0)).cast("long").as("q"),
      (col("l_discount").cast(DecimalType(18, 2)) * 100).cast("long").as("d2"),
      (col("l_tax").cast(DecimalType(18, 2)) * 100).cast("long").as("t2"),
      (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("y2"),
      (mis(col("l_quantity"), 0) + mis(col("l_discount"), 2)
        + mis(col("l_tax"), 2) + mis(col("l_extendedprice"), 2)).as("pmis"))
      .transform(T.fanOut(_))
    val (aq, ad, at, ay) = (abs(col("q")).cast("double"), abs(col("d2")).cast("double"),
      abs(col("t2")).cast("double"), abs(col("y2")).cast("double"))
    val rowMax = greatest(
      aq * 1e4, ad * 100, at * 100, aq * aq * 1e4, aq * ad * 100, aq * at * 100,
      ad * ad, ad * at, at * at, ay * 100, aq * ay * 100, ad * ay, at * ay)
    val guarded = l.agg(
      count(lit(1)).as("n"),
      sum(col("q") * 10000).as("s_q_e4"),
      sum(col("d2") * 100).as("s_d_e4"),
      sum(col("t2") * 100).as("s_t_e4"),
      sum(col("q") * col("q") * 10000).as("s_qq_e4"),
      sum(col("q") * col("d2") * 100).as("s_qd_e4"),
      sum(col("q") * col("t2") * 100).as("s_qt_e4"),
      sum(col("d2") * col("d2")).as("s_dd_e4"),
      sum(col("d2") * col("t2")).as("s_dt_e4"),
      sum(col("t2") * col("t2")).as("s_tt_e4"),
      sum(col("y2") * 100).as("s_y_e4"),
      sum(col("q") * col("y2") * 100).as("s_qy_e4"),
      sum(col("d2") * col("y2")).as("s_dy_e4"),
      sum(col("t2") * col("y2")).as("s_ty_e4"),
      sum(rowMax).as("gbound"),
      sum(col("pmis")).as("pbad"))
    guarded.select(
      when(col("pbad") > 0,
        raise_error(concat(lit("gram4 precision: "), col("pbad").cast("string"),
          lit(" rows finer than the integral/2-dp wire assumption"))))
        .otherwise(
          when(col("gbound") > lit(8.9e18),
            raise_error(concat(lit("e4 wire overflow risk: bound "), col("gbound").cast("string"))))
            .otherwise(col("n"))).as("n"),
      col("s_q_e4"), col("s_d_e4"), col("s_t_e4"),
      col("s_qq_e4"), col("s_qd_e4"), col("s_qt_e4"),
      col("s_dd_e4"), col("s_dt_e4"), col("s_tt_e4"),
      col("s_y_e4"), col("s_qy_e4"), col("s_dy_e4"), col("s_ty_e4"))
  }

  /** The exact-decimal fallback past the e4 ceiling (VERDICT r6 #8 — the
    * sharded variant made real): the SAME 13 moments summed exactly in
    * DECIMAL(38) space, emitted ×10⁴ as DECIMAL(38,0) under the same
    * column names, so every consumer's shared step text (`s_q_e4 / 1e4`
    * etc) works unchanged — decimal/1e4 widens to double exactly like the
    * BIGINT wire, but the sums are exact to ~10³⁸ instead of 2⁶³
    * (≈ sf10¹⁹ for the dominant moment — effectively unbounded). Costs
    * ~3× the long path per pass (the r6 measurement), which is why it is
    * reached only via the E4_SAFE_BYTES plan-stats dispatch; on data WITH
    * an oracle the long path always runs, so the registered wire stays
    * bit-identical BIGINT. Assumes ≤6-dp input (DECIMAL(18,6) per-factor
    * casts — the documented contract of the r2–r5 decimal path this
    * revives). */
  private[graft] def gram4Decimal(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d6 = DecimalType(18, 6)
    val l = raw.select(
      col("l_quantity").cast(d6).as("q"),
      col("l_discount").cast(d6).as("d"),
      col("l_tax").cast(d6).as("t"),
      col("l_extendedprice").cast(d6).as("y"))
      .transform(T.fanOut(_))
    def e4d(c: Column): Column =
      (c.cast(DecimalType(38, 6)) * 10000).cast(DecimalType(38, 0))
    l.agg(
      count(lit(1)).as("n"),
      e4d(sum(col("q"))).as("s_q_e4"),
      e4d(sum(col("d"))).as("s_d_e4"),
      e4d(sum(col("t"))).as("s_t_e4"),
      e4d(sum(col("q") * col("q"))).as("s_qq_e4"),
      e4d(sum(col("q") * col("d"))).as("s_qd_e4"),
      e4d(sum(col("q") * col("t"))).as("s_qt_e4"),
      e4d(sum(col("d") * col("d"))).as("s_dd_e4"),
      e4d(sum(col("d") * col("t"))).as("s_dt_e4"),
      e4d(sum(col("t") * col("t"))).as("s_tt_e4"),
      e4d(sum(col("y"))).as("s_y_e4"),
      e4d(sum(col("q") * col("y"))).as("s_qy_e4"),
      e4d(sum(col("d") * col("y"))).as("s_dy_e4"),
      e4d(sum(col("t") * col("y"))).as("s_ty_e4"))
  }

  private val sqlGram4: String =
    """SELECT count(*) AS n,
         CAST(sum(q) * 10000 AS BIGINT) AS s_q_e4,
         CAST(sum(d) * 10000 AS BIGINT) AS s_d_e4,
         CAST(sum(t) * 10000 AS BIGINT) AS s_t_e4,
         CAST(sum(q * q) * 10000 AS BIGINT) AS s_qq_e4,
         CAST(sum(q * d) * 10000 AS BIGINT) AS s_qd_e4,
         CAST(sum(q * t) * 10000 AS BIGINT) AS s_qt_e4,
         CAST(sum(d * d) * 10000 AS BIGINT) AS s_dd_e4,
         CAST(sum(d * t) * 10000 AS BIGINT) AS s_dt_e4,
         CAST(sum(t * t) * 10000 AS BIGINT) AS s_tt_e4,
         CAST(sum(y) * 10000 AS BIGINT) AS s_y_e4,
         CAST(sum(q * y) * 10000 AS BIGINT) AS s_qy_e4,
         CAST(sum(d * y) * 10000 AS BIGINT) AS s_dy_e4,
         CAST(sum(t * y) * 10000 AS BIGINT) AS s_ty_e4
       FROM (SELECT
         CAST(l_quantity AS DECIMAL(19,6)) AS q,
         CAST(l_discount AS DECIMAL(19,6)) AS d,
         CAST(l_tax AS DECIMAL(19,6)) AS t,
         CAST(l_extendedprice AS DECIMAL(19,6)) AS y
       FROM lineitem) l"""

  /** The 4×4 symmetric system over the named slots a00..a33 / b0..b3
    * (XᵀX or a logistic Hessian, both positive definite) as the one
    * unrolled [[Twin.gauss]] elimination; `x0..x3` are the solution. */
  private lazy val gauss4: Twin.Steps = Twin.gauss(
    Seq(Seq("a00", "a01", "a02", "a03"), Seq("a01", "a11", "a12", "a13"),
      Seq("a02", "a12", "a22", "a23"), Seq("a03", "a13", "a23", "a33")),
    Seq("b0", "b1", "b2", "b3"), "")

  /** The BIGINT moment row widened to the named double matrix/vector both
    * engines start elimination from (BIGINT→DOUBLE is IEEE-exact ≤ 2⁵³ and
    * identical cross-engine, as is `/ 1e4`). */
  private val gaussBase: Seq[(String, String)] = Seq(
    "a00" -> "CAST(n AS DOUBLE)",
    "a01" -> "s_q_e4 / 1e4", "a02" -> "s_d_e4 / 1e4", "a03" -> "s_t_e4 / 1e4",
    "a11" -> "s_qq_e4 / 1e4", "a12" -> "s_qd_e4 / 1e4", "a13" -> "s_qt_e4 / 1e4",
    "a22" -> "s_dd_e4 / 1e4", "a23" -> "s_dt_e4 / 1e4", "a33" -> "s_tt_e4 / 1e4",
    "b0" -> "s_y_e4 / 1e4", "b1" -> "s_qy_e4 / 1e4",
    "b2" -> "s_dy_e4 / 1e4", "b3" -> "s_ty_e4 / 1e4")

  /** One row holding the solved coefficients x0..x3 (plus elimination
    * intermediates) — shared by ml_linreg_multi and its predict twin. */
  private[graft] def gaussSolved(s: SparkSession, dir: String): DataFrame =
    Twin.chain(gram4Row(s, dir).selectExpr(
      gaussBase.map { case (nm, ex) => s"$ex AS $nm" }: _*), gauss4)

  /** The matching oracle CTE chain, ending in [[sqlGaussFinal]] with x0..x3. */
  private[ops] lazy val (sqlGaussChain: String, sqlGaussFinal: String) = {
    val (ctes, fin) = Twin.ctes(gauss4, "c0", "c")
    (s"""m AS ($sqlGram4),
        c0 AS (SELECT ${gaussBase.map { case (nm, ex) => s"$ex AS $nm" }.mkString(", ")} FROM m),
        $ctes""", fin)
  }

  // ---- multi-feature ridge / coordinate descent (r6, VERDICT r5 #3/#4) ---

  /** Centered moments from the gram4 BIGINT wire, as shared expression
    * text: m* = Σ of each column, c_ab = Σab − Σa·Σb/n (absolute centered
    * cross-products, not normalized). BIGINT→DOUBLE and /1e4 are
    * IEEE-identical cross-engine (see gaussBase). */
  private val centeredBase: Seq[(String, String)] = Seq(
    "nn" -> "CAST(n AS DOUBLE)",
    "mq" -> "s_q_e4 / 1e4", "md" -> "s_d_e4 / 1e4",
    "mt" -> "s_t_e4 / 1e4", "my" -> "s_y_e4 / 1e4",
    "cqq" -> "s_qq_e4 / 1e4 - mq * mq / nn",
    "cqd" -> "s_qd_e4 / 1e4 - mq * md / nn",
    "cqt" -> "s_qt_e4 / 1e4 - mq * mt / nn",
    "cdd" -> "s_dd_e4 / 1e4 - md * md / nn",
    "cdt" -> "s_dt_e4 / 1e4 - md * mt / nn",
    "ctt" -> "s_tt_e4 / 1e4 - mt * mt / nn",
    "cqy" -> "s_qy_e4 / 1e4 - mq * my / nn",
    "cdy" -> "s_dy_e4 / 1e4 - md * my / nn",
    "cty" -> "s_ty_e4 / 1e4 - mt * my / nn")

  /** LARS (least-angle regression, Efron et al. 2004 — the reference ships
    * it as cuml.experimental.linear_model.Lars [R]) over the 3 standardized
    * lineitem features, as ONE shared-text scalar cascade on the centered
    * moment row: correlations from the Gram wire, the first two equiangular
    * steps in closed form (p = 3 ⇒ the 2-active equiangular quantities
    * reduce to A₂ = √((1+g)/2), a_j = A₂(s₁ρ_{j1,j}+s₂ρ_{j2,j})/(1+g)),
    * join γ's by the min-positive rule with the standard ±-branch guards.
    * Feature selection (argmax/argmin over 3 candidates) is a deterministic
    * CASE chain with q<d<t tie-break — no driver decision, the whole path
    * is one row of scalar text both engines evaluate identically. */
  private lazy val larsSteps: Seq[(String, String)] = Seq(
    "vq" -> "sqrt(cqq)", "vd" -> "sqrt(cdd)", "vt" -> "sqrt(ctt)",
    "cqn" -> "cqy / vq", "cdn" -> "cdy / vd", "ctn" -> "cty / vt",
    "rqd" -> "cqd / (vq * vd)", "rqt" -> "cqt / (vq * vt)", "rdt" -> "cdt / (vd * vt)",
    "awq" -> "abs(cqn)", "awd" -> "abs(cdn)", "awt" -> "abs(ctn)",
    "j1" -> "CASE WHEN awq >= awd AND awq >= awt THEN 'q' WHEN awd >= awt THEN 'd' ELSE 't' END",
    "cc1" -> "CASE j1 WHEN 'q' THEN cqn WHEN 'd' THEN cdn ELSE ctn END",
    "sg1" -> "CASE WHEN cc1 >= 0 THEN 1.0 ELSE -1.0 END",
    "bc1" -> "abs(cc1)",
    "a1q" -> "sg1 * (CASE j1 WHEN 'q' THEN 1.0 WHEN 'd' THEN rqd ELSE rqt END)",
    "a1d" -> "sg1 * (CASE j1 WHEN 'q' THEN rqd WHEN 'd' THEN 1.0 ELSE rdt END)",
    "a1t" -> "sg1 * (CASE j1 WHEN 'q' THEN rqt WHEN 'd' THEN rdt ELSE 1.0 END)",
    "gjq" -> ("CASE WHEN j1 = 'q' THEN 1e30 ELSE least(" +
      "CASE WHEN 1.0 - a1q > 1e-12 AND (bc1 - cqn) / (1.0 - a1q) > 0 THEN (bc1 - cqn) / (1.0 - a1q) ELSE 1e30 END, " +
      "CASE WHEN 1.0 + a1q > 1e-12 AND (bc1 + cqn) / (1.0 + a1q) > 0 THEN (bc1 + cqn) / (1.0 + a1q) ELSE 1e30 END) END"),
    "gjd" -> ("CASE WHEN j1 = 'd' THEN 1e30 ELSE least(" +
      "CASE WHEN 1.0 - a1d > 1e-12 AND (bc1 - cdn) / (1.0 - a1d) > 0 THEN (bc1 - cdn) / (1.0 - a1d) ELSE 1e30 END, " +
      "CASE WHEN 1.0 + a1d > 1e-12 AND (bc1 + cdn) / (1.0 + a1d) > 0 THEN (bc1 + cdn) / (1.0 + a1d) ELSE 1e30 END) END"),
    "gjt" -> ("CASE WHEN j1 = 't' THEN 1e30 ELSE least(" +
      "CASE WHEN 1.0 - a1t > 1e-12 AND (bc1 - ctn) / (1.0 - a1t) > 0 THEN (bc1 - ctn) / (1.0 - a1t) ELSE 1e30 END, " +
      "CASE WHEN 1.0 + a1t > 1e-12 AND (bc1 + ctn) / (1.0 + a1t) > 0 THEN (bc1 + ctn) / (1.0 + a1t) ELSE 1e30 END) END"),
    "gam1" -> "least(gjq, gjd, gjt)",
    "j2" -> "CASE WHEN gjq <= gjd AND gjq <= gjt THEN 'q' WHEN gjd <= gjt THEN 'd' ELSE 't' END",
    "cc2" -> "CASE j2 WHEN 'q' THEN cqn - gam1 * a1q WHEN 'd' THEN cdn - gam1 * a1d ELSE ctn - gam1 * a1t END",
    "sg2" -> "CASE WHEN cc2 >= 0 THEN 1.0 ELSE -1.0 END",
    "bc2" -> "bc1 - gam1",
    "r12" -> ("CASE WHEN (j1 = 'q' AND j2 = 'd') OR (j1 = 'd' AND j2 = 'q') THEN rqd " +
      "WHEN (j1 = 'q' AND j2 = 't') OR (j1 = 't' AND j2 = 'q') THEN rqt ELSE rdt END"),
    "gg" -> "sg1 * sg2 * r12",
    "aa2" -> "sqrt((1.0 + gg) / 2.0)",
    "j3" -> "CASE WHEN j1 <> 'q' AND j2 <> 'q' THEN 'q' WHEN j1 <> 'd' AND j2 <> 'd' THEN 'd' ELSE 't' END",
    "r31" -> ("CASE WHEN (j3 = 'q' AND j1 = 'd') OR (j3 = 'd' AND j1 = 'q') THEN rqd " +
      "WHEN (j3 = 'q' AND j1 = 't') OR (j3 = 't' AND j1 = 'q') THEN rqt ELSE rdt END"),
    "r32" -> ("CASE WHEN (j3 = 'q' AND j2 = 'd') OR (j3 = 'd' AND j2 = 'q') THEN rqd " +
      "WHEN (j3 = 'q' AND j2 = 't') OR (j3 = 't' AND j2 = 'q') THEN rqt ELSE rdt END"),
    "c3u" -> "CASE j3 WHEN 'q' THEN cqn - gam1 * a1q WHEN 'd' THEN cdn - gam1 * a1d ELSE ctn - gam1 * a1t END",
    "a2j3" -> "aa2 / (1.0 + gg) * (sg1 * r31 + sg2 * r32)",
    "g2raw" -> ("least(" +
      "CASE WHEN aa2 - a2j3 > 1e-12 AND (bc2 - c3u) / (aa2 - a2j3) > 0 THEN (bc2 - c3u) / (aa2 - a2j3) ELSE 1e30 END, " +
      "CASE WHEN aa2 + a2j3 > 1e-12 AND (bc2 + c3u) / (aa2 + a2j3) > 0 THEN (bc2 + c3u) / (aa2 + a2j3) ELSE 1e30 END)"),
    "gols" -> "bc2 / aa2",
    "gam2" -> "least(g2raw, gols)",
    "c3e" -> "abs(c3u - gam2 * a2j3)",
    "fn1" -> "CASE j1 WHEN 'q' THEN 'quantity' WHEN 'd' THEN 'discount' ELSE 'tax' END",
    "fn2" -> "CASE j2 WHEN 'q' THEN 'quantity' WHEN 'd' THEN 'discount' ELSE 'tax' END",
    "fn3" -> "CASE j3 WHEN 'q' THEN 'quantity' WHEN 'd' THEN 'discount' ELSE 'tax' END")

  /** Multi-feature ridge (VERDICT r5 #3 — the reference Ridge's `eig`
    * contract with 3 features): centered normal equations with α = 1000 on
    * the penalized diagonal (intercept unpenalized — the multi-feature
    * generalization of ml_ridge_fit's closed form), solved by the unrolled
    * 3×3 elimination. One symbolic unrolling feeds both engines. */
  private lazy val ridgeSteps: Seq[(String, String)] =
    centeredBase ++
    Seq("k11" -> "cqq + 1000.0", "k22" -> "cdd + 1000.0", "k33" -> "ctt + 1000.0") ++
    Twin.gauss(
      Seq(Seq("k11", "cqd", "cqt"), Seq("cqd", "k22", "cdt"), Seq("cqt", "cdt", "k33")),
      Seq("cqy", "cdy", "cty"), "rg") ++
    Seq("rgb0" -> "(my - rgx0 * mq - rgx1 * md - rgx2 * mt) / nn")

  /** ml_kernel_ridge's landmark system (K + λI)α = y: λ = 0.1 on the
    * unit kernel diagonal, dual coefficients `krx0..krx2`. */
  private lazy val kernelRidgeSteps: Twin.Steps = Twin.gauss(
    Seq(Seq("1.1", "k01", "k02"), Seq("k01", "1.1", "k12"), Seq("k02", "k12", "1.1")),
    Seq("y0", "y1", "y2"), "kr")

  /** Centered ridge normal equations over the SPARSE hashed-feature
    * moment row (ml_ridge_sparse): the same eig-contract elimination as
    * [[ridgeSteps]], on moments assembled from the COO long form. Slot
    * names g00..g22 / s0..s2 / x0y..x2y / sy / nn come from the sparse
    * gram wire; α = 100 on the penalized diagonal; intercept closed-form
    * from the uncentered means. */
  private lazy val sparseRidgeSteps: Seq[(String, String)] =
    Seq(
      "c00" -> "g00 - s0 * s0 / nn", "c01" -> "g01 - s0 * s1 / nn",
      "c02" -> "g02 - s0 * s2 / nn", "c11" -> "g11 - s1 * s1 / nn",
      "c12" -> "g12 - s1 * s2 / nn", "c22" -> "g22 - s2 * s2 / nn",
      "cy0" -> "x0y - s0 * sy / nn", "cy1" -> "x1y - s1 * sy / nn",
      "cy2" -> "x2y - s2 * sy / nn",
      "k00" -> "c00 + 100.0", "k11" -> "c11 + 100.0", "k22" -> "c22 + 100.0") ++
    Twin.gauss(
      Seq(Seq("k00", "c01", "c02"), Seq("c01", "k11", "c12"), Seq("c02", "c12", "k22")),
      Seq("cy0", "cy1", "cy2"), "sr") ++
    Seq("srb0" -> "(sy - srx0 * s0 - srx1 * s1 - srx2 * s2) / nn")

  /** Penalized IRLS to CONVERGENCE for LOGISTIC regression over the SPARSE
    * COO wire (r10 — VERDICT r9 #3: the one Newton-from-zero step, which
    * could reuse the ridge Gram unchanged because W = I/4 at β = 0, now
    * iterates 3 steps like the dense family; cuML's sparse
    * LogisticRegression QN path iterates [R]). Per step, two passes over
    * the COO table: (1) the per-doc decimal dot-product aggregation +
    * REAL-collapsed sigmoid (order-independent, so mu is bit-identical
    * cross-engine), (2) 14 weighted sums — the 4×4 Hessian XᵀWX over
    * (1, v₀, v₁, v₂) needs the per-doc self-join because a doc's present
    * features cross-multiply — on the sumE12 wire, then the shared
    * [[gauss4]] elimination. λ = 10 ridge on the feature diagonal AND
    * the gradient (∇ = Xᵀ(y−p) − λβ), intercept unpenalized. β accumulates
    * client-side (cuML's coef_), re-entering each step as a broadcast
    * one-row table (codegen-stable, the [[Twin.fit]] discipline); the
    * oracle unrolls the identical 3 blocks as CTEs. Its three
    * aggregations over the self-joined COO frame do not fit one
    * [[Twin.Fit]], so the loop stays hand-written around Twin's pieces. */
  private val sparseIrlsCt =
    "CAST(v * (CASE h WHEN 0 THEN e1 WHEN 1 THEN e2 ELSE e3 END) AS DECIMAL(30,12))"
  private val sparseIrlsMu =
    "CAST(CAST(1e0 / (1e0 + exp(-(e0 + coalesce(ct, 0e0)))) AS FLOAT) AS DOUBLE)"
  private def sparseIrlsPair(i: Int, j: Int): String =
    s"CASE WHEN ia = $i AND jb = $j THEN mu * (1e0 - mu) * va * vb END"
  private def sparseIrlsWv(i: Int): String =
    s"CASE WHEN h = $i THEN mu * (1e0 - mu) * v END"
  private def sparseIrlsRv(i: Int): String =
    s"CASE WHEN h = $i THEN (y - mu) * v END"
  // parametrized on the bits-splitter: T.bitsE12 (Spark) / T.sqlBitsE12
  // (DuckDB) — the split expressions differ textually (div vs HUGEINT //)
  // but decode the identical BIGINT to the identical double
  private def sparseIrlsMs(bits: String => String): Seq[String] = Seq(
    s"${bits("s_w")} AS a00",
    s"${bits("s_wv0")} AS a01",
    s"${bits("s_wv1")} AS a02",
    s"${bits("s_wv2")} AS a03",
    s"${bits("s_g00")} + 1e1 AS a11",
    s"${bits("s_g01")} AS a12",
    s"${bits("s_g02")} AS a13",
    s"${bits("s_g11")} + 1e1 AS a22",
    s"${bits("s_g12")} AS a23",
    s"${bits("s_g22")} + 1e1 AS a33",
    s"${bits("s_r")} AS b0",
    s"${bits("s_rv0")} - 1e1 * e1 AS b1",
    s"${bits("s_rv1")} - 1e1 * e2 AS b2",
    s"${bits("s_rv2")} - 1e1 * e3 AS b3")

  private def sparseIrlsBeta(s: SparkSession, dir: String): Array[Double] =
    T.memo("sparseIrlsBeta", s, dir) { sparseIrlsBetaCompute(s, dir) }

  private def sparseIrlsBetaCompute(s: SparkSession, dir: String): Array[Double] = {
    val spark = s
    import spark.implicits._
    val lf = T.freeze(T.documents(s, dir).transform(T.fanOut(_, col("doc_id")))
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("term"))
      .select(col("doc_id"), (T.polyTid("term") % 3).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).cast("double").as("v")))
    val yd = T.freeze(T.documents(s, dir).select(col("doc_id"),
      when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y")))
    val pairs = for (i <- 0 to 2; j <- i to 2) yield (i, j)
    var e = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to 3) {
      val bt = Seq((e(0), e(1), e(2), e(3))).toDF("e0", "e1", "e2", "e3")
      val ct = lf.crossJoin(broadcast(bt))
        .selectExpr("doc_id", s"$sparseIrlsCt AS t")
        .groupBy("doc_id").agg(sum(col("t")).cast("double").as("ct"))
      val sc = T.freeze(yd.join(ct, Seq("doc_id"), "left")
        .crossJoin(broadcast(bt))
        .selectExpr("doc_id", "y", s"$sparseIrlsMu AS mu"))
      val wg = lf.select(col("doc_id"), col("h").as("ia"), col("v").as("va"))
        .join(lf.select(col("doc_id"), col("h").as("jb"), col("v").as("vb")),
          "doc_id")
        .join(sc.select(col("doc_id"), col("mu")), "doc_id")
      val gr = wg.agg(
        T.sumE12(expr(sparseIrlsPair(0, 0))).as("s_g00"),
        pairs.tail.map { case (i, j) =>
          T.sumE12(expr(sparseIrlsPair(i, j))).as(s"s_g$i$j") }: _*)
      val xv = lf.join(sc, "doc_id").agg(
        T.sumE12(expr(sparseIrlsWv(0))).as("s_wv0"),
        ((1 to 2).map(i => T.sumE12(expr(sparseIrlsWv(i))).as(s"s_wv$i")) ++
          (0 to 2).map(i => T.sumE12(expr(sparseIrlsRv(i))).as(s"s_rv$i"))): _*)
      val sm = sc.agg(T.sumE12(expr("mu * (1e0 - mu)")).as("s_w"),
        T.sumE12(expr("y - mu")).as("s_r"))
      val sums = gr.crossJoin(xv).crossJoin(sm).crossJoin(broadcast(bt))
        .selectExpr(sparseIrlsMs(T.bitsE12): _*)
      val x = Twin.chain(sums, gauss4)
        .selectExpr("x0", "x1", "x2", "x3").collect()(0)
      e = Array(e(0) + x.getDouble(0), e(1) + x.getDouble(1),
        e(2) + x.getDouble(2), e(3) + x.getDouble(3))
    }
    e
  }

  /** Oracle twin of [[sparseIrlsBeta]]: assumes `lf(doc_id, h, v)` and
    * `yd(doc_id, y)` CTEs in scope; 3 unrolled (dot → sigmoid → 14 sums →
    * gauss chain → β update) blocks ending in `bet3(e0..e3)`. */
  private lazy val sqlSparseIrlsChain: String = {
    val pairs = for (i <- 0 to 2; j <- i to 2) yield (i, j)
    val blocks = (1 to 3).map { k =>
      val (gauss, fin) = Twin.ctes(gauss4, s"ms$k", s"sg${k}_")
      s"""ct$k AS (SELECT doc_id,
               CAST(sum($sparseIrlsCt) AS DOUBLE) AS ct
             FROM lf, bet${k - 1} GROUP BY doc_id),
         sc$k AS (SELECT doc_id, y, $sparseIrlsMu AS mu
             FROM yd LEFT JOIN ct$k USING (doc_id), bet${k - 1}),
         wg$k AS (SELECT a.h AS ia, b.h AS jb, a.v AS va, b.v AS vb, s.mu
             FROM lf a JOIN lf b ON a.doc_id = b.doc_id
               JOIN sc$k s ON s.doc_id = a.doc_id),
         gr$k AS (SELECT ${pairs.map { case (i, j) =>
               s"${T.sqlSumE12(sparseIrlsPair(i, j))} AS s_g$i$j"
             }.mkString(",\n             ")}
             FROM wg$k),
         xv$k AS (SELECT ${((0 to 2).map(i =>
               s"${T.sqlSumE12(sparseIrlsWv(i))} AS s_wv$i") ++
             (0 to 2).map(i =>
               s"${T.sqlSumE12(sparseIrlsRv(i))} AS s_rv$i"))
               .mkString(",\n             ")}
             FROM lf JOIN sc$k USING (doc_id)),
         sm$k AS (SELECT ${T.sqlSumE12("mu * (1e0 - mu)")} AS s_w,
               ${T.sqlSumE12("y - mu")} AS s_r
             FROM sc$k),
         ms$k AS (SELECT ${sparseIrlsMs(T.sqlBitsE12).mkString(",\n             ")}
             FROM gr$k, xv$k, sm$k, bet${k - 1}),
         $gauss,
         bet$k AS (SELECT e0 + x0 AS e0, e1 + x1 AS e1,
               e2 + x2 AS e2, e3 + x3 AS e3
             FROM bet${k - 1}, $fin)"""
    }
    s"""bet0 AS (SELECT 0e0 AS e0, 0e0 AS e1, 0e0 AS e2, 0e0 AS e3),
         ${blocks.mkString(",\n         ")}"""
  }

  /** Multi-feature coordinate descent (VERDICT r5 #4 — the reference's `cd`
    * solver): `sweeps` unrolled cyclic sweeps over the 3 centered-feature
    * coordinates. Per update the residual cross-moment is soft-thresholded:
    *   b_j ← S((c_jy − Σ_{k≠j} c_jk·b_k)/n, λ1) / (c_jj/n + λ2)
    * — the exact multi-feature generalization of ml_lasso_fit /
    * ml_elasticnet_fit's 1-feature fixed point (λ2 = 0 → lasso). Final
    * coefficient names: {p}b{sweeps}_0..2 and intercept {p}bint. */
  private def cdSteps(p: String, lam1: String, lam2: String, sweeps: Int): Seq[(String, String)] = {
    val c = Array(Array("cqq", "cqd", "cqt"), Array("cqd", "cdd", "cdt"), Array("cqt", "cdt", "ctt"))
    val cy = Array("cqy", "cdy", "cty")
    val b = Array("0.0", "0.0", "0.0")
    val steps = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (sw <- 1 to sweeps; j <- 0 until 3) {
      val g = s"${p}g${sw}_$j"
      val minus = (0 until 3).filter(_ != j).map(k => s" - ${c(j)(k)} * ${b(k)}").mkString
      steps += g -> s"(${cy(j)}$minus) / nn"
      val nm = s"${p}b${sw}_$j"
      // `+ 0` canonicalizes -0.0 → 0.0 (the ml_linreg_holdout discipline):
      // soft-thresholding a NEGATIVE gradient to zero yields sign(g)·0 =
      // -0.0, and the engines serialize the sign bit differently (Spark's
      // round() goes through BigDecimal, which has no -0.0; DuckDB's
      // preserves it) — r6's only two red rows. Lasso's whole point is
      // exact zeros, so the zero must be canonical in the SHARED step text.
      steps += nm -> s"sign($g) * greatest(abs($g) - $lam1, 0.0) / (${c(j)(j)} / nn + $lam2) + 0"
      b(j) = nm
    }
    steps += s"${p}bint" -> s"(my - ${b(0)} * mq - ${b(1)} * md - ${b(2)} * mt) / nn"
    steps.toSeq
  }

  private lazy val lassoMultiSteps: Seq[(String, String)] =
    centeredBase ++ cdSteps("ls", "1000.0", "0.0", 3)
  private lazy val enetMultiSteps: Seq[(String, String)] =
    centeredBase ++ cdSteps("en", "500.0", "500.0", 3)

  /** Shared predict pass for the regularized multi-feature solvers
    * (VERDICT r6 #3 — completes the fit→predict estimator contract for
    * ridge/lasso, the reference `Ridge.predict` [R] shape): solve the
    * coefficient chain in-plan over the gram4 row, broadcast the solved
    * one-row frame back into a per-row residual expression (the
    * ml_linreg_multi_predict template), emit per-returnflag residual
    * diagnostics. One sufficient-statistic pass + one scoring pass; the
    * chain text and the residual text feed both engines verbatim. */
  private def regMultiPredict(s: SparkSession, dir: String,
      steps: Seq[(String, String)], b0: String, b1: String, b2: String, b3: String): DataFrame = {
    val coefs = Twin.chain(gram4Row(s, dir), steps)
      .selectExpr(s"$b0 AS c0", s"$b1 AS c1", s"$b2 AS c2", s"$b3 AS c3")
    val l = T.lineitem(s, dir).select(
      col("l_returnflag"),
      col("l_quantity").cast("double").as("q"),
      col("l_discount").cast("double").as("d"),
      col("l_tax").cast("double").as("t"),
      col("l_extendedprice").cast("double").as("y"))
      .transform(T.fanOut(_))
    l.crossJoin(broadcast(coefs))
      .select(col("l_returnflag"),
        expr("y - (c0 + c1 * q + c2 * d + c3 * t)").as("r"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(T.xsum(col("r")) / count(lit(1)), 6).as("avg_resid"),
        round(sqrt(T.xsum(col("r") * col("r")) / count(lit(1))), 6).as("rmse"))
      .orderBy("l_returnflag")
  }

  /** Oracle twin of [[regMultiPredict]]. */
  private def sqlRegMultiPredict(steps: Seq[(String, String)], p: String,
      b0: String, b1: String, b2: String, b3: String): String = {
    val (ctes, fin) = Twin.ctes(steps, "m", p)
    s"""WITH m AS ($sqlGram4),
            $ctes,
            co AS (SELECT $b0 AS c0, $b1 AS c1, $b2 AS c2, $b3 AS c3 FROM $fin),
            l AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS q,
                    CAST(l_discount AS DOUBLE) AS d, CAST(l_tax AS DOUBLE) AS t,
                    CAST(l_extendedprice AS DOUBLE) AS y
                  FROM lineitem),
            scored AS (SELECT l_returnflag,
                y - (c0 + c1 * q + c2 * d + c3 * t) AS r
              FROM l, co)
          SELECT l_returnflag, count(*) AS n,
            round(${T.sqlXsum("r")} / count(*), 6) AS avg_resid,
            round(sqrt(${T.sqlXsum("r * r")} / count(*)), 6) AS rmse
          FROM scored GROUP BY l_returnflag ORDER BY l_returnflag"""
  }

  // ---- logistic-regression internals (ml_logreg_fit / ml_logreg_predict)

  /** The REAL-collapsed sigmoid of the linear predictor `eta`: exp() is
    * the one op the engines may round differently in the last ulp, and the
    * FLOAT collapse absorbs it (DuckDB's FLOAT is REAL). The immediate
    * DOUBLE re-widen keeps the downstream sums in double: a bare REAL mu
    * dragged DuckDB's weight sums into FLOAT arithmetic while Spark
    * promoted to double (measured: a00 off by 1024 in ml_logreg_multi). */
  private[ops] def sigmoidR(eta: String): String =
    s"CAST(CAST(1e0 / (1e0 + exp(-($eta))) AS FLOAT) AS DOUBLE)"

  /** The 1-feature logistic fits' rows: x = quantity, y = (returnflag = R).
    * Only fits read it, and [[Twin.fit]] reads it once into its cells, so
    * it is not fanned out. */
  private def logitRows(s: SparkSession, dir: String): DataFrame =
    T.lineitem(s, dir).select(
      col("l_quantity").cast("double").as("x"),
      when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))

  private lazy val sqlLogitRows =
    """d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
         FROM lineitem)"""

  /** One driver-held logistic Newton/IRLS fit of (a, b) over rows (x, y)
    * from (0, 0): per step the 5 exact-decimal gradient/Hessian sums over
    * the REAL-collapsed sigmoid, then `update` and `next`. `inputs` are
    * fixed parameters the update reads (a penalty). */
  private def logitFit(iters: Int, update: Twin.Steps, next: Seq[String],
      inputs: Seq[(String, Double)] = Nil): Twin.Fit = Twin.Fit(
    Seq("a" -> 0.0, "b" -> 0.0) ++ inputs,
    Seq("mu" -> sigmoidR("a + b * x")),
    Seq(Twin.xsum("g0", "y - mu"), Twin.xsum("g1", "(y - mu) * x"),
      Twin.xsum("h00", "mu * (1e0 - mu)"), Twin.xsum("h01", "mu * (1e0 - mu) * x"),
      Twin.xsum("h11", "mu * (1e0 - mu) * x * x")),
    update, next ++ inputs.map(_._1), iters)

  /** The unpenalized Newton step: (a, b) += H⁻¹g by Cramer's rule. */
  private def newtonFit(iters: Int): Twin.Fit = logitFit(iters,
    Twin.newton2("h00", "h01", "h11", "g0", "g1"), Seq("a + d0", "b + d1"))

  /** The L2 ridge-Newton step (H + λ·diag(0,1))δ = g − λ·(0, b), λ = 10⁶. */
  private lazy val ridgeNewton: Twin.Steps =
    Seq("k11" -> "h11 + 1e6", "r1" -> "g1 - 1e6 * b") ++
      Twin.newton2("h00", "h01", "k11", "g0", "r1")

  /** 3 Newton/IRLS steps with DRIVER-HELD (intercept, slope) — one exact
    * decimal gradient/Hessian aggregation per step (see ml_logreg_fit).
    * Returns the unrounded coefficients for predict-side reuse. */
  private def irlsBeta(s: SparkSession, dir: String): (Double, Double) =
    T.memo("irlsBeta", s, dir) { ab(Twin.fit(logitRows(s, dir), newtonFit(3)).last) }

  private def ab(p: Array[Double]): (Double, Double) = (p(0), p(1))

  /** The oracle twin of [[irlsBeta]] through `b3(a, b)`, with its rows CTE
    * `d` — shared by the fit and predict oracles. */
  private lazy val sqlIrlsChain: String =
    s"$sqlLogitRows,\n  ${Twin.sqlFit(newtonFit(3), "d", "b")}"

  /** The causal-inference frame shared by ml_propensity_ipw /
    * ml_doubly_robust: confounder x = quantity, treatment tr = deep
    * discount (> 0.05), outcome yv = extendedprice. */
  private def causalFrame(s: SparkSession, dir: String): DataFrame =
    T.lineitem(s, dir).select(
      col("l_quantity").cast("double").as("x"),
      when(col("l_discount") > 0.05, 1.0).otherwise(0.0).as("tr"),
      col("l_extendedprice").cast("double").as("yv"))
      .transform(T.fanOut(_))

  /** 2 driver-held IRLS steps for the PROPENSITY e(x) = P(tr = 1 | x) —
    * the irlsBeta fit on [[causalFrame]]'s treatment; T.memo'd so the
    * IPW, AIPW and strata rows share one fit. */
  private def propensityBeta(s: SparkSession, dir: String): (Double, Double) =
    T.memo[(Double, Double)]("propensityBeta", s, dir) {
      ab(Twin.fit(causalFrame(s, dir).selectExpr("x", "tr AS y"), newtonFit(2)).last)
    }

  /** The oracle twin of [[propensityBeta]] through `b2(a, b)`, with its
    * rows CTE `d(x, y = treatment, yv)`. */
  private lazy val sqlPropensityChain: String =
    s"""d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
           CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS y,
           CAST(l_extendedprice AS DOUBLE) AS yv
         FROM lineitem),
  ${Twin.sqlFit(newtonFit(2), "d", "b")}"""

  /** L2-penalized IRLS (LogisticRegression(penalty='l2') — the ridge
    * Newton step (H + λ·diag(0,1))δ = g − λ·(0, b): the SLOPE is
    * penalized, the intercept is not (the sklearn/cuml convention).
    * λ = 10⁶ — sized against the Σw·x² ≈ 1e7 Hessian scale so the
    * shrinkage is visible (λ = 100 measured shrinkage 0.99996 — noise).
    * Same driver-held 3-step fit as [[irlsBeta]]; the oracle's chain is
    * [[sqlIrlsL2Chain]]. */
  private lazy val l2Fit: Twin.Fit = logitFit(3, ridgeNewton, Seq("a + d0", "b + d1"))

  private def irlsBetaL2(s: SparkSession, dir: String): (Double, Double) =
    T.memo("irlsBetaL2", s, dir) { ab(Twin.fit(logitRows(s, dir), l2Fit).last) }

  /** L1-penalized IRLS (LogisticRegression(penalty='l1') — the lasso
    * sibling of [[irlsBetaL2]], the cuML QN/OWL-QN surface): PROXIMAL
    * Newton — each step takes the unpenalized Newton update, then
    * soft-thresholds the SLOPE by λ/h11 (the diagonal-curvature scaling;
    * intercept unpenalized, the sklearn/cuml convention). λ = 100 sized
    * against BOTH fixture scales (h11 ≈ 1.1e6 at sf0.001 / 1.1e7 at
    * sf0.01; MLE slope −7e-4 / −2.4e-4) so the shrinkage is visible
    * (≈0.87 / ≈0.96) without zeroing at either — the exact-zero branch
    * is pinned separately in MicroSpec. `+ 0e0` canonicalizes the sign of
    * a thresholded-to-zero slope (the cdSteps −0.0 lesson: L1 is the one
    * family DESIGNED to produce exact zeros). λ rides the fit as a fixed
    * input parameter. */
  private def l1Fit(lam: Double): Twin.Fit = logitFit(3,
    Twin.newton2("h00", "h01", "h11", "g0", "g1") ++ Seq("braw" -> "b + d1"),
    Seq("a + d0", "sign(braw) * greatest(abs(braw) - lam / h11, 0e0) + 0e0"),
    Seq("lam" -> lam))

  private[graft] def irlsBetaL1(s: SparkSession, dir: String,
      lam: Double = 100.0): (Double, Double) =
    T.memo(s"irlsBetaL1-$lam", s, dir) { ab(Twin.fit(logitRows(s, dir), l1Fit(lam)).last) }

  /** Elastic-net IRLS (LogisticRegression(penalty='elasticnet') —
    * completing the cuML penalty contract {none, l1, l2, elasticnet}):
    * the ridge-Newton step of [[irlsBetaL2]] (λ2 on the slope's Hessian
    * diagonal and gradient) followed by [[irlsBetaL1]]'s proximal
    * soft-threshold scaled by the PENALIZED curvature λ1/(h11+λ2) —
    * the standard prox-of-the-smooth-part composition. λ2 = 10⁶ /
    * λ1 = 100: the λ sizes already validated for the pure penalties. */
  private lazy val enFit: Twin.Fit = logitFit(3,
    ridgeNewton ++ Seq("braw" -> "b + d1"),
    Seq("a + d0", "sign(braw) * greatest(abs(braw) - 1e2 / k11, 0e0) + 0e0"))

  private def irlsBetaEN(s: SparkSession, dir: String): (Double, Double) =
    T.memo("irlsBetaEN", s, dir) { ab(Twin.fit(logitRows(s, dir), enFit).last) }

  /** Oracle twins of the penalized fits over the shared rows CTE `d`,
    * ending in pb3 (L2), qb3 (L1, λ = 100) and eb3 (elastic net). */
  private lazy val sqlIrlsL2Chain: String = Twin.sqlFit(l2Fit, "d", "pb")
  private lazy val sqlIrlsL1Chain: String = Twin.sqlFit(l1Fit(100.0), "d", "qb")
  private lazy val sqlIrlsENChain: String = Twin.sqlFit(enFit, "d", "eb")

  /** Multi-feature IRLS (r6 second half — completes the solver matrix's
    * last cell: logreg at 3 features + intercept). Per step: ONE pass of
    * 14 weighted sums (gradient 4 + Hessian 10 over the REAL-collapsed
    * sigmoid), named straight into the [[gauss4]] slots (H → a..,
    * gradient → b..), then the 4×4 Newton solve — so the step's δ is
    * bit-identical cross-engine; β accumulates on the driver (cuML's
    * client-held coef_). The sums ride the 12-dp split wire, NOT xsum:
    * DuckDB's decimal→double cast is off by ulps, and this solve
    * amplifies input ulps ~1e8× through the ill-conditioned Hessian. */
  private lazy val irlsMultiFit: Twin.Fit = Twin.Fit(
    Seq("e0" -> 0.0, "e1" -> 0.0, "e2" -> 0.0, "e3" -> 0.0),
    Seq("mu" -> sigmoidR("e0 + e1 * q + e2 * dd + e3 * tt"),
      "r" -> "y - mu", "w" -> "mu * (1e0 - mu)"),
    Seq("a00" -> "w", "a01" -> "w * q", "a02" -> "w * dd", "a03" -> "w * tt",
      "a11" -> "w * q * q", "a12" -> "w * q * dd", "a13" -> "w * q * tt",
      "a22" -> "w * dd * dd", "a23" -> "w * dd * tt", "a33" -> "w * tt * tt",
      "b0" -> "r", "b1" -> "r * q", "b2" -> "r * dd", "b3" -> "r * tt")
      .map { case (nm, ex) => Twin.e12(nm, ex) },
    gauss4, Seq("e0 + x0", "e1 + x1", "e2 + x2", "e3 + x3"), 3)

  private def irlsMultiBeta(s: SparkSession, dir: String): Array[Double] =
    T.memo("irlsMultiBeta", s, dir) {
      Twin.fit(T.lineitem(s, dir).select(
        col("l_quantity").cast("double").as("q"),
        col("l_discount").cast("double").as("dd"),
        col("l_tax").cast("double").as("tt"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y")), irlsMultiFit).last
    }

  /** Oracle twin of [[irlsMultiBeta]] with its rows CTE `d`, ending in
    * `bet3(e0..e3)`. */
  private lazy val sqlIrlsMultiChain: String =
    s"""d AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
           CAST(l_discount AS DOUBLE) AS dd,
           CAST(l_tax AS DOUBLE) AS tt,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
         FROM lineitem),
  ${Twin.sqlFit(irlsMultiFit, "d", "bet")}"""

  /** The log-link GLM rows shared by ml_poisson_glm and ml_tweedie_glm:
    * x = discount, y = quantity (a count), from the pinned fit frame. */
  private[ops] def glmRows(s: SparkSession, dir: String): DataFrame =
    T.lineitemFit(s, dir).select(
      col("l_discount").cast("double").as("x"),
      col("l_quantity").cast("double").as("y"))

  private[ops] lazy val sqlGlmRows =
    """prows AS (SELECT CAST(l_discount AS DOUBLE) AS x,
                   CAST(l_quantity AS DOUBLE) AS y FROM lineitem)"""

  /** A log-link GLM's driver-held Newton/Fisher fit of (a, b) from (0, 0)
    * over the [[glmRows]]: μ = exp(η) REAL-collapsed per row (exp() is the
    * one non-IEEE-pinned op), `sums` the named gradient/Hessian texts
    * g0, g1, h00, h01, h11 over (x, y, mu) on the exact decimal wire, then
    * the 2×2 Cramer step. */
  private[ops] def logLinkFit(sums: (String, String)*): Twin.Fit = Twin.Fit(
    Seq("a" -> 0.0, "b" -> 0.0),
    Seq("mu" -> "CAST(CAST(exp(a + b * x) AS FLOAT) AS DOUBLE)"),
    sums.map { case (nm, ex) => Twin.xsum(nm, ex) },
    Twin.newton2("h00", "h01", "h11", "g0", "g1"), Seq("a + d0", "b + d1"), 3)

  private lazy val poissonFit: Twin.Fit = logLinkFit(
    "g0" -> "y - mu", "g1" -> "(y - mu) * x",
    "h00" -> "mu", "h01" -> "mu * x", "h11" -> "mu * x * x")

  /** ml_mcfadden_r2's collapsed base-rate logs (DuckDB's FLOAT is an
    * alias of REAL, so one text serves both engines). */
  private lazy val lnR_p0 = "CAST(CAST(ln(p0) AS FLOAT) AS DOUBLE)"
  private lazy val lnR_1mp0 = "CAST(CAST(ln(1e0 - p0) AS FLOAT) AS DOUBLE)"

  /** The oracle-side twin of gram64 + powerEig64, shared by ALL four PCA
    * oracles (power / deflate / variance / transform) so the 20-step
    * iterate and its fold order are written exactly once — the same
    * shared-text discipline as [[Twin]]. Chain:
    * e(vec_id, emb) → gram → gmat(G) → it/fin/nrm/unit(u) → ray(lam). */
  private val sqlPcaPowerCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       gram AS (
         SELECT i, j, CAST(sum(CAST(emb[i] * emb[j] AS DECIMAL(18,6))) AS DOUBLE) AS g
         FROM e, (SELECT unnest(generate_series(1,64)) AS i) a,
                 (SELECT unnest(generate_series(1,64)) AS j) b
         GROUP BY i, j),
       gmat AS (
         SELECT list(gl ORDER BY i) AS G FROM (
           SELECT i, list(g ORDER BY j) AS gl FROM gram GROUP BY i) t),
       it(k, v) AS (
         SELECT 0, list_transform(generate_series(1,64),
           x -> CAST(CASE WHEN x = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE))
         UNION ALL
         SELECT k + 1,
           list_transform(generate_series(1,64),
             i -> list_reduce(list_transform(generate_series(1,64),
                    j -> G[i][j] * v[j]), (a, b) -> a + b))
         FROM it, gmat WHERE k < 20),
       fin AS (SELECT v FROM it WHERE k = 20),
       nrm AS (SELECT v, sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS n
               FROM fin),
       unit AS (SELECT list_transform(v, x -> x / n) AS u FROM nrm),
       ray AS (SELECT u, list_reduce(list_transform(generate_series(1,64),
                 i -> u[i] * list_reduce(list_transform(generate_series(1,64),
                        j -> G[i][j] * u[j]), (a,b) -> a+b)), (a,b) -> a+b) AS lam
               FROM unit, gmat)"""

  /** Hotelling deflation continuation: G2 from (G, lam, u), second power
    * iterate → unit2(u2) → ray2(lam2). Appended after sqlPcaPowerCtes. */
  private val sqlPcaDeflateCtes: String =
    """g2 AS (SELECT list_transform(generate_series(1,64), i ->
                list_transform(generate_series(1,64), j ->
                  G[i][j] - lam * u[i] * u[j])) AS G2
              FROM gmat, ray),
       it2(k, v) AS (
         SELECT 0, list_transform(generate_series(1,64),
           x -> CAST(CASE WHEN x = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE))
         UNION ALL
         SELECT k + 1,
           list_transform(generate_series(1,64),
             i -> list_reduce(list_transform(generate_series(1,64),
                    j -> G2[i][j] * v[j]), (a, b) -> a + b))
         FROM it2, g2 WHERE k < 20),
       fin2 AS (SELECT v FROM it2 WHERE k = 20),
       nrm2 AS (SELECT v, sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS n
                FROM fin2),
       unit2 AS (SELECT list_transform(v, x -> x / n) AS u2 FROM nrm2),
       ray2 AS (SELECT u2, list_reduce(list_transform(generate_series(1,64),
                  i -> u2[i] * list_reduce(list_transform(generate_series(1,64),
                         j -> G2[i][j] * u2[j]), (a,b) -> a+b)), (a,b) -> a+b) AS lam2
                FROM unit2, g2)"""

  /** Centered-covariance continuation (ml_pca_covariance): column sums →
    * scatter matrix C = G − S·Sᵀ/n, then the same 20-step power chain as
    * sqlPcaPowerCtes, renamed (itc/finc/nrmc/unitc/rayc). Appended after
    * sqlPcaPowerCtes (reuses its `e` and `gmat`). */
  private val sqlPcaCovCtes: String =
    """msum AS (
         SELECT i, CAST(sum(CAST(emb[i] AS DECIMAL(18,6))) AS DOUBLE) AS s
         FROM e, (SELECT unnest(generate_series(1,64)) AS i) a
         GROUP BY i),
       mvec AS (SELECT list(s ORDER BY i) AS S FROM msum),
       cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
       cmat AS (
         SELECT list_transform(generate_series(1,64), i ->
           list_transform(generate_series(1,64), j ->
             G[i][j] - S[i] * S[j] / n)) AS C
         FROM gmat, mvec, cnt),
       itc(k, v) AS (
         SELECT 0, list_transform(generate_series(1,64),
           x -> CAST(CASE WHEN x = 1 THEN 1.0 ELSE 0.0 END AS DOUBLE))
         UNION ALL
         SELECT k + 1,
           list_transform(generate_series(1,64),
             i -> list_reduce(list_transform(generate_series(1,64),
                    j -> C[i][j] * v[j]), (a, b) -> a + b))
         FROM itc, cmat WHERE k < 20),
       finc AS (SELECT v FROM itc WHERE k = 20),
       nrmc AS (SELECT v, sqrt(list_reduce(list_transform(v, x -> x*x), (a,b) -> a+b)) AS nn
                FROM finc),
       unitc AS (SELECT list_transform(v, x -> x / nn) AS u FROM nrmc),
       rayc AS (SELECT u, list_reduce(list_transform(generate_series(1,64),
                  i -> u[i] * list_reduce(list_transform(generate_series(1,64),
                         j -> C[i][j] * u[j]), (a,b) -> a+b)), (a,b) -> a+b) AS lam
                FROM unitc, cmat)"""

  /** Evaluation-sample size for the cuml.metrics rows: accuracy on a
    * fixed EVAL_N-query sample estimates corpus accuracy (binomial CI
    * ~1/√EVAL_N) at cost n·EVAL_N instead of the r6 all-pairs n². */
  private[ops] val EVAL_N = 200

  /** The fixed k-means model every K=10 row scores against (cuML's
    * client-held `cluster_centers_`): corpus `e`'s first ten vectors as
    * centroids `(cid, c_emb)`. */
  private[ops] def kmCentFrame(e: DataFrame): DataFrame =
    e.where(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"))

  /** [[kmCentFrame]] of the corpus, driver-held — the form
    * `Vec.nearest` ranks against — and collected once per session. */
  private[ops] def kmCents(s: SparkSession, dir: String): Seq[(Long, Array[Float])] =
    T.memo("kmCents", s, dir) { Vec.centroids(kmCentFrame(T.embeddings(s, dir))) }

  /** Oracle twin of [[kmCentFrame]] over the relation `from`: the
    * `cent(cid, c_emb)` CTE that `Vec.sqlNearest` ranks against. */
  private[ops] def sqlKmCent(from: String = "embeddings"): String =
    s"""cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb
                 FROM $from WHERE vec_id < 10)"""

  /** One Lloyd step of a driver-held model over the corpus `e(vec_id,
    * embedding)`: each point to its nearest centroid, then each cluster's
    * elementwise mean of the 64 dims, float-rounded (so both engines agree
    * bit-exactly) and collected as the next model. */
  private def lloydStep(e: DataFrame, cent: Seq[(Long, Array[Float])])
      : Seq[(Long, Array[Float])] =
    Vec.centroids(Vec.nearest(e, "embedding", cent, 1)
      .groupBy("cid")
      .agg(array((1 to 64).map(i =>
        avg(element_at(col("embedding"), i).cast("double")).cast("float")): _*).as("c_emb")))

  /** The oracle corpus `e(vec_id, emb)` and model `c0` of [[sqlLloydStep]]. */
  private lazy val sqlLloydCorpus =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        ${sqlKmCent()}, c0 AS (SELECT cid, c_emb FROM cent)"""

  /** Oracle twin of the i-th [[lloydStep]]: `a$i`, the assignment against
    * `c${i-1}`, and `c$i(cid, c_emb)`, its float-rounded means. */
  private def sqlLloydStep(i: Int): String = {
    val means = (1 to 64).map(j =>
      s"CAST(CAST(avg(emb[$j]) AS REAL) AS DOUBLE)").mkString("list_value(", ", ", ")")
    s"""a$i AS (${Vec.sqlNearest("e", "vec_id", "emb", 1, s"c${i - 1}")}),
        c$i AS (SELECT cid, $means AS c_emb FROM a$i GROUP BY cid)"""
  }

  /** Leave-one-out kNN language prediction over a BOUNDED deterministic
    * evaluation sample (VERDICT r6 #4 — shared by ml_confusion_matrix /
    * ml_accuracy_score): the EVAL_N labeled vectors with the smallest
    * affine hash of their id (a pseudo-random but engine-reproducible
    * pick, the ml_train_test_split discipline with its own multiplier —
    * 84589, distinct from every other registered hash family, r6's
    * collision lesson). Returns (q_id, pred_lang).
    *
    * SCALE CONTRACT: the sample is selected by per-partition top-k
    * (TakeOrderedAndProject — no global sort), so the broadcast query
    * side is ≤ EVAL_N rows AT ANY CORPUS SIZE and the distance cost is
    * n·EVAL_N, linear in the corpus — the r6 verdict's fix for the one
    * registered n² evaluation. The candidate side streams; swapping it
    * to the IVF probe join (ml_knn_graph's shape) remains the
    * approximate-classifier option when even one linear pass is too
    * much. */
  /** MEMOIZED in T.memo (r7): three metric queries (confusion matrix,
    * accuracy, per-class F1) score the same deterministic ≤EVAL_N
    * prediction set; the n·EVAL_N distance pass runs once per session and
    * the ≤EVAL_N (q_id, pred_lang) rows are driver-held after that — the
    * same client-held-model discipline as gram4Row, result-invisible. */
  private[ops] def knnPredLang(s: SparkSession, dir: String): DataFrame = {
    val (rows, schema) = T.memo("knnPredLang", s, dir) {
      val df = knnPredLangCompute(s, dir)
      (df.collect(), df.schema)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def knnPredLangCompute(s: SparkSession, dir: String): DataFrame = {
    val labels = T.documents(s, dir).select(col("doc_id"), col("lang"))
    val nn = knnEvalNN(s, dir)
    val voted = nn.join(labels, nn("n_id") === labels("doc_id"))
      .groupBy("q_id", "lang").agg(count(lit(1)).as("votes"))
    val pick = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("lang").asc)
    voted.withColumn("vr", row_number().over(pick)).where(col("vr") === 1)
      .select(col("q_id"), col("lang").as("pred_lang"))
  }

  /** The rn-carrying 5-NN table `(q_id, n_id, rn)` over the shared EVAL_N
    * sample — [[knnPredLang]]'s vote and the model-comparison rows
    * (ml_mcnemar, ml_knn_k_sweep) derive their k-prefix votes for every
    * k ≤ 5 from this ONE n·EVAL_N distance pass. */
  private[ops] def knnEvalNN(s: SparkSession, dir: String): DataFrame = {
    val e = T.embeddings(s, dir)
    val labels = T.documents(s, dir).select(col("doc_id"))
    val q = e.join(labels, e("vec_id") === labels("doc_id"), "left_semi")
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .orderBy((lit(84589L) * col("q_id") + lit(12345L)) % lit(2147483647L), col("q_id"))
      .limit(EVAL_N)
    Vec.knn(q, e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")), Vec.L2, 5)
      .select("q_id", "n_id", "rn")
  }

  /** Oracle twin of [[knnEvalNN]], ending in `nnr(q_id, n_id, rn)`. */
  private[ops] val sqlKnnNNCtes: String =
    s"""qs AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         WHERE vec_id IN (SELECT doc_id FROM documents)
         ORDER BY (84589 * vec_id + 12345) % 2147483647, vec_id LIMIT $EVAL_N),
       nnr AS (SELECT q_id, n_id, rn FROM (${Vec.sqlKnn("qs", Vec.L2, 5)}) t)"""

  /** Oracle twin of [[knnPredLang]]: [[sqlKnnNNCtes]] then the vote,
    * ending in `pred(q_id, pred_lang)`. */
  private[ops] val sqlKnnPredCtes: String =
    s"""$sqlKnnNNCtes,
       voted AS (SELECT q_id, lang, count(*) AS votes
                 FROM nnr JOIN documents ON n_id = doc_id
                 GROUP BY q_id, lang),
       pred AS (SELECT q_id, lang AS pred_lang FROM (
           SELECT q_id, lang, votes,
             row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, lang ASC) AS vr
           FROM voted) v
         WHERE vr = 1)"""

  /** [[Vec.knn]] over `embeddings`: the rows where `pick` holds are the
    * queries, every row is the corpus; `(q_id, n_id, score, rn)`. */
  private[ops] def embKnn(s: SparkSession, dir: String, pick: Column,
      metric: Vec.Metric, k: Int): DataFrame = {
    val e = T.embeddings(s, dir)
    Vec.knn(e.where(pick).select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
      e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")), metric, k)
  }

  /** Oracle twin of [[embKnn]], `pick` over `embeddings`' columns;
    * `(q_id, q_emb, n_id, score, rn)`. */
  private[ops] def sqlEmbKnn(pick: String, metric: Vec.Metric, k: Int): String =
    Vec.sqlKnn(s"(SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE $pick)",
      metric, k)

  /** Deterministic 20-step power iterate from e₁, then Rayleigh quotient.
    * Returns the UNROUNDED (eigenvalue, unit vector) — every fold is
    * sequential ascending, matching the oracle's list_reduce left fold
    * bit-for-bit (verified to the last bit in round 3). */
  private def powerEig64(g: Array[Array[Double]]): (Double, Array[Double]) = {
    var v = Array.tabulate(64)(k => if (k == 0) 1.0 else 0.0)
    for (_ <- 1 to 20) v = matvec64(g, v)
    var n2 = 0.0; v.foreach(x => n2 += x * x)
    val u = v.map(_ / math.sqrt(n2))
    val gu = matvec64(g, u)
    var lam = 0.0
    for (i <- 0 until 64) lam += u(i) * gu(i)
    (lam, u)
  }

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "ml_linreg_fit",
      // dask-cuml LinearRegression.fit (eig path): distributed moment sums
      // + closed-form solve. Output: 1 row (slope, intercept).
      (s, dir) => olsMoments(s, dir).select(
        round(expr(slopeExpr), 6).as("slope"),
        round(expr(interceptExpr), 6).as("intercept")),
      Some(s"""SELECT round($slopeExpr, 6) AS slope,
                 round($interceptExpr, 6) AS intercept
               FROM ($sqlOlsMoments) m""")),

    QueryDef(
      "ml_linreg_normal_eq",
      // Multi-feature Gram matrix XᵀX and Xᵀy for X = (1, quantity,
      // discount, tax), y = extendedprice — the distributed half of MG OLS.
      // The k×k solve is a driver-side few-floats job, exactly like cuML
      // holding coef_ on the client; the engine's work is this one row.
      // Each FACTOR is cast to DECIMAL(18,6) before multiplying — a
      // double×double product cast to decimal rounds differently per engine
      // at deep scales (the 12th decimal sits at double's precision edge),
      // while the raw column values are 0–2 dp data where the 6-dp cast is
      // unambiguous. Decimal×decimal is then exact in both engines.
      //
      // WIRE TYPE: scaled BIGINT (value × 10^4), not DECIMAL. The source
      // data has ≤2 dp, so every product has ≤4 dp and every sum × 10^4 is
      // an exact integer (< 2^63 through sf0.1). Round 2 shipped
      // DECIMAL(38,12) here and the driver's compare hash-mismatched —
      // its pandas path renders DuckDB decimals and parquet decimals
      // differently — while BIGINT columns compare bit-exact everywhere.
      (s, dir) => gram4Row(s, dir),
      Some(sqlGram4)),

    QueryDef(
      "ml_linreg_multi",
      // VERDICT r4 Missing #1: the FULL multi-feature fit — the same
      // distributed sufficient-statistic row as ml_linreg_normal_eq, then
      // the 4×4 normal-equation SOLVE, emitting actual coefficients
      // (dask-cuml LinearRegression.fit with 3 features + intercept). The
      // solve is a pure scalar expression cascade over the one moment row —
      // generated ONCE as text and fed verbatim to both Spark (selectExpr
      // chain) and DuckDB (CTE chain), so both engines execute the same
      // IEEE double sequence (see Twin.gauss). Cluster work stays ONE
      // aggregation; the solve is O(k³) on 14 scalars — cuML's client-held
      // coef_ shape without even a collect.
      (s, dir) => gaussSolved(s, dir).select(
        round(col("x0"), 6).as("intercept"),
        round(col("x1"), 6).as("b_quantity"),
        round(col("x2"), 6).as("b_discount"),
        round(col("x3"), 6).as("b_tax")),
      Some(s"""WITH $sqlGaussChain
               SELECT round(x0, 6) AS intercept, round(x1, 6) AS b_quantity,
                      round(x2, 6) AS b_discount, round(x3, 6) AS b_tax
               FROM $sqlGaussFinal""")),

    QueryDef(
      "ml_linreg_multi_predict",
      // Predict for the multi-feature fit (fit+predict estimator contract,
      // as ml_linreg_predict does for 1 feature): score every lineitem row
      // with the in-plan solved coefficients — the solved one-row frame is
      // broadcast back into a per-row residual expression (cuML's
      // coef_-broadcast GEMV shape) — and emit per-returnflag residual
      // diagnostics. One sufficient-statistic pass + one scoring pass.
      // Determinism: x0..x3 are hash-equal cross-engine (ml_linreg_multi's
      // row), the residual expression text is shared verbatim, and the
      // residual sums go through the exact-decimal xsum wire.
      (s, dir) => {
        val coefs = gaussSolved(s, dir).selectExpr("x0", "x1", "x2", "x3")
        val l = T.lineitem(s, dir).select(
          col("l_returnflag"),
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"),
          col("l_tax").cast("double").as("t"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
        l.crossJoin(broadcast(coefs))
          .select(col("l_returnflag"),
            expr("y - (x0 + x1 * q + x2 * d + x3 * t)").as("r"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("r")) / count(lit(1)), 6).as("avg_resid"),
            round(sqrt(T.xsum(col("r") * col("r")) / count(lit(1))), 6).as("rmse"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH $sqlGaussChain,
                 l AS (SELECT l_returnflag,
                     CAST(l_quantity AS DOUBLE) AS q,
                     CAST(l_discount AS DOUBLE) AS d,
                     CAST(l_tax AS DOUBLE) AS t,
                     CAST(l_extendedprice AS DOUBLE) AS y
                   FROM lineitem),
                 scored AS (SELECT l_returnflag,
                     y - (x0 + x1 * q + x2 * d + x3 * t) AS r
                   FROM l, $sqlGaussFinal)
               SELECT l_returnflag, count(*) AS n,
                 round(${T.sqlXsum("r")} / count(*), 6) AS avg_resid,
                 round(sqrt(${T.sqlXsum("r * r")} / count(*)), 6) AS rmse
               FROM scored GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QueryDef(
      "ml_linreg_predict",
      // predict + residual diagnostics per (returnflag, linestatus) in ONE
      // scan: aggregate exact per-group moments (n, Σx, Σy, Σx², Σxy, Σy²),
      // derive the global coefficients from the group moments with a 6-row
      // global window (no second pass over lineitem), and expand the
      // residual sums algebraically:
      //   Σr  = Σy − n·a − b·Σx
      //   Σr² = Σy² − 2a·Σy − 2b·Σxy + n·a² + 2ab·Σx + b²·Σx²
      // This is the sufficient-statistics form of "broadcast coef + score":
      // at 100 TB one pass replaces two, and the per-group moments are the
      // only shuffled state. Round 2 ran the naive two-pass version — 8.5 s
      // cold at sf0.1 vs ~2 s for this plan.
      //
      // WIRE/ALGEBRA DISCIPLINE: moments cross the engine boundary as
      // exactly-scaled BIGINT (value × 10^4 — source data has ≤2 dp, see
      // ml_linreg_normal_eq), BIGINT→DOUBLE conversion is IEEE-identical in
      // both engines, and both engines evaluate the SAME double expression
      // tree, so round(,6) agrees.
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d6 = DecimalType(19, 6)
        val l = T.lineitem(s, dir).select(
          col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast(d6).as("x"),
          col("l_extendedprice").cast(d6).as("y"))
        val g = l.groupBy("l_returnflag", "l_linestatus").agg(
          count(lit(1)).as("n"),
          e4(sum(col("x"))).as("sx"),
          e4(sum(col("y"))).as("sy"),
          e4(sum(col("x") * col("x"))).as("sxx"),
          e4(sum(col("x") * col("y"))).as("sxy"),
          e4(sum(col("y") * col("y"))).as("syy"))
        val w = Window.partitionBy() // global window over the 6 group rows
        val tot = g.select(
          col("l_returnflag"), col("l_linestatus"), col("n"),
          (col("sx") / 1e4).as("gsx"), (col("sy") / 1e4).as("gsy"),
          (col("sxx") / 1e4).as("gsxx"), (col("sxy") / 1e4).as("gsxy"),
          (col("syy") / 1e4).as("gsyy"),
          sum(col("n")).over(w).cast("double").as("tn"),
          (sum(col("sx")).over(w) / 1e4).as("tsx"),
          (sum(col("sy")).over(w) / 1e4).as("tsy"),
          (sum(col("sxx")).over(w) / 1e4).as("tsxx"),
          (sum(col("sxy")).over(w) / 1e4).as("tsxy"))
        tot
          .withColumn("b", expr("(tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)"))
          .withColumn("a", expr("(tsy - b * tsx) / tn"))
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            round(expr("(gsy - n * a - b * gsx) / n"), 6).as("avg_resid"),
            round(expr(
              "sqrt((gsyy - 2*a*gsy - 2*b*gsxy + n*a*a + 2*a*b*gsx + b*b*gsxx) / n)"), 6)
              .as("rmse"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""WITH l AS (SELECT l_returnflag, l_linestatus,
                  CAST(l_quantity AS DECIMAL(19,6)) AS x,
                  CAST(l_extendedprice AS DECIMAL(19,6)) AS y
                FROM lineitem),
                g AS (SELECT l_returnflag, l_linestatus, count(*) AS n,
                  CAST(sum(x) * 10000 AS BIGINT) AS sx,
                  CAST(sum(y) * 10000 AS BIGINT) AS sy,
                  CAST(sum(x * x) * 10000 AS BIGINT) AS sxx,
                  CAST(sum(x * y) * 10000 AS BIGINT) AS sxy,
                  CAST(sum(y * y) * 10000 AS BIGINT) AS syy
                FROM l GROUP BY 1, 2),
                t AS (SELECT l_returnflag, l_linestatus, n,
                  sx / 1e4 AS gsx, sy / 1e4 AS gsy, sxx / 1e4 AS gsxx,
                  sxy / 1e4 AS gsxy, syy / 1e4 AS gsyy,
                  CAST(sum(n) OVER () AS DOUBLE) AS tn,
                  sum(sx) OVER () / 1e4 AS tsx, sum(sy) OVER () / 1e4 AS tsy,
                  sum(sxx) OVER () / 1e4 AS tsxx, sum(sxy) OVER () / 1e4 AS tsxy
                FROM g),
                c AS (SELECT *,
                  (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS b
                FROM t),
                c2 AS (SELECT *, (tsy - b * tsx) / tn AS a FROM c)
              SELECT l_returnflag, l_linestatus, n,
                round((gsy - n * a - b * gsx) / n, 6) AS avg_resid,
                round(sqrt((gsyy - 2*a*gsy - 2*b*gsxy + n*a*a + 2*a*b*gsx + b*b*gsxx) / n), 6) AS rmse
              FROM c2
              ORDER BY l_returnflag, l_linestatus""")),

    QueryDef(
      "ml_ridge_fit",
      // dask-cuml Ridge.fit: centered normal equations with L2 penalty —
      // slope = Sxy_c / (Sxx_c + α), α = 1000 (matches cuML's closed form
      // for 1 feature; intercept unpenalized).
      (s, dir) => olsMoments(s, dir).select(
        round(expr("(sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0)"), 6).as("slope"),
        round(expr("(sy - ((sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0)) * sx) / n"), 6).as("intercept")),
      Some(s"""SELECT
                 round((sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0), 6) AS slope,
                 round((sy - ((sxy - sx * sy / n) / ((sxx - sx * sx / n) + 1000.0)) * sx) / n, 6) AS intercept
               FROM ($sqlOlsMoments) m""")),

    QueryDef(
      "ml_pca_power",
      // dask-cuml PCA analog: distributed exact-decimal Gram matrix (the
      // per-partition partial aggregation is the MNMG covariance step),
      // then a DRIVER-side 20-step power iteration on the 64×64 sufficient
      // statistic — cuML's client-held eig solve. The fixture embeddings
      // are near-isotropic (λ1/λ2 ≈ 1.01), so 20 steps don't converge to
      // the eigenvector; the OPERATOR's contract is the deterministic
      // 20-step iterate itself, which is bit-identical cross-engine:
      // decimal Gram sums are exact, and both the Scala loop and the
      // oracle's list_reduce fold doubles in the same sequential order
      // (verified equal to the last bit before this was written).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        // gram64 = per-partition accumulator sufficient statistic;
        // powerEig64 = the client-held deterministic eig solve
        val g = gram64(s, dir)
        val (lam, u) = powerEig64(g)
        Seq((lam, u(0), u(1), u(2))).toDF("eigenvalue", "c1", "c2", "c3")
          .select(round(col("eigenvalue"), 4).as("eigenvalue"),
            round(col("c1"), 6).as("c1"),
            round(col("c2"), 6).as("c2"),
            round(col("c3"), 6).as("c3"))
      },
      Some(s"""WITH RECURSIVE
                $sqlPcaPowerCtes
              SELECT round(lam, 4) AS eigenvalue, round(u[1], 6) AS c1,
                     round(u[2], 6) AS c2, round(u[3], 6) AS c3
              FROM ray""")),

    QueryDef(
      "ml_pca_deflate",
      // Second principal component via Hotelling deflation (VERDICT r3
      // stretch #10 — proves the PCA operator generalizes beyond the top
      // eigenpair): G₂ = G − λ₁·u₁·u₁ᵀ on the driver-held Gram (a 64×64
      // outer-product update, zero extra cluster work — the cluster's job
      // stays the ONE sufficient-statistic pass), then the same 20-step
      // power iterate on G₂. `ortho` = u₁·u₂ is emitted as a built-in
      // sanity check (≈0 when deflation worked). Bit-identity discipline
      // as ml_pca_power: deflation is `G[i][j] − λ·u[i]·u[j]` with
      // identical IEEE evaluation order in Scala and SQL, and λ₁/u₁ enter
      // UNROUNDED on both sides.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val g = gram64(s, dir)
        val (lam1, u1) = powerEig64(g)
        val g2 = Array.tabulate(64, 64)((i, j) => g(i)(j) - lam1 * u1(i) * u1(j))
        val (lam2, u2) = powerEig64(g2)
        var ortho = 0.0
        for (i <- 0 until 64) ortho += u1(i) * u2(i)
        Seq((lam2, u2(0), u2(1), u2(2), ortho))
          .toDF("eigenvalue2", "c1", "c2", "c3", "ortho")
          .select(round(col("eigenvalue2"), 4).as("eigenvalue2"),
            round(col("c1"), 6).as("c1"),
            round(col("c2"), 6).as("c2"),
            round(col("c3"), 6).as("c3"),
            round(col("ortho"), 6).as("ortho"))
      },
      Some(s"""WITH RECURSIVE
                $sqlPcaPowerCtes,
                $sqlPcaDeflateCtes,
                orth AS (SELECT list_reduce(list_transform(generate_series(1,64),
                           i -> u[i] * u2[i]), (a,b) -> a+b) AS o
                         FROM unit, unit2)
              SELECT round(lam2, 4) AS eigenvalue2, round(u2[1], 6) AS c1,
                     round(u2[2], 6) AS c2, round(u2[3], 6) AS c3,
                     round(o, 6) AS ortho
              FROM ray2, orth""")),

    QueryDef(
      "ml_pca_variance",
      // The explained_variance_ratio_ surface of the PCA estimator: λ₁ and
      // λ₂ (power iterate + Hotelling deflation, as ml_pca_power/deflate)
      // over the total variance trace(G) — the number every PCA user reads
      // first. Pure driver arithmetic on the one distributed Gram
      // sufficient statistic; the trace is an ascending fold mirroring the
      // oracle's list_reduce, and λ₁/λ₂ enter unrounded (bit-identity
      // pinned by the power/deflate rows).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val g = gram64(s, dir)
        val (lam1, u1) = powerEig64(g)
        val g2 = Array.tabulate(64, 64)((i, j) => g(i)(j) - lam1 * u1(i) * u1(j))
        val (lam2, _) = powerEig64(g2)
        var tr = g(0)(0)
        for (i <- 1 until 64) tr += g(i)(i)
        Seq((tr, lam1 / tr, lam2 / tr, (lam1 + lam2) / tr))
          .toDF("total_var", "ratio_1", "ratio_2", "ratio_top2")
          .select(round(col("total_var"), 4).as("total_var"),
            round(col("ratio_1"), 6).as("ratio_1"),
            round(col("ratio_2"), 6).as("ratio_2"),
            round(col("ratio_top2"), 6).as("ratio_top2"))
      },
      Some(s"""WITH RECURSIVE
                $sqlPcaPowerCtes,
                $sqlPcaDeflateCtes,
                tr AS (SELECT list_reduce(list_transform(generate_series(1,64),
                         i -> G[i][i]), (a,b) -> a+b) AS total FROM gmat)
              SELECT round(total, 4) AS total_var,
                round(lam / total, 6) AS ratio_1,
                round(lam2 / total, 6) AS ratio_2,
                round((lam + lam2) / total, 6) AS ratio_top2
              FROM ray, ray2, tr""")),

    QueryDef(
      "ml_pca_covariance",
      // The CENTERED-covariance PCA fit (r6 second half): cuML's PCA
      // subtracts the mean before the eig solve — its uncentered sibling
      // is TruncatedSVD, which is what ml_pca_power's raw Gram computes.
      // This row completes the pair: the one Gram pass now also carries
      // the exact column-sum vector and count (gramStats64 — still a
      // single sufficient-statistic job), the driver forms the scatter
      // matrix C = G − S·Sᵀ/n (a rank-1 downdate, the same outer-product
      // arithmetic as Hotelling deflation) and runs the shared 20-step
      // power iterate on C. Output: top sample variance λ/(n−1), the
      // first three loadings, and the first three mean components the
      // transform would subtract.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (g, sums, n) = gramStats64(s, dir)
        val nD = n.toDouble
        val c = Array.tabulate(64, 64)((i, j) => g(i)(j) - sums(i) * sums(j) / nD)
        val (lam, u) = powerEig64(c)
        Seq((lam / (nD - 1.0), u(0), u(1), u(2),
            sums(0) / nD, sums(1) / nD, sums(2) / nD))
          .toDF("var_1", "c1", "c2", "c3", "m1", "m2", "m3")
          .select(round(col("var_1"), 6).as("var_1"),
            round(col("c1"), 6).as("c1"),
            round(col("c2"), 6).as("c2"),
            round(col("c3"), 6).as("c3"),
            round(col("m1"), 6).as("m1"),
            round(col("m2"), 6).as("m2"),
            round(col("m3"), 6).as("m3"))
      },
      Some(s"""WITH RECURSIVE
                $sqlPcaPowerCtes,
                $sqlPcaCovCtes
              SELECT round(lam / (n - 1), 6) AS var_1,
                round(u[1], 6) AS c1, round(u[2], 6) AS c2, round(u[3], 6) AS c3,
                round(S[1] / n, 6) AS m1, round(S[2] / n, 6) AS m2,
                round(S[3] / n, 6) AS m3
              FROM rayc, mvec, cnt""")),

    QueryDef(
      "ml_lasso_fit",
      // dask-cuml Lasso.fit, 1 feature: the coordinate-descent fixed point
      // has a closed form — soft-threshold the centered cross-moment:
      //   b = sign(Sxy_c)·max(|Sxy_c|/n − λ, 0) / (Sxx_c/n),   λ = 1000
      // Same single-aggregation sufficient-statistics shape as OLS/ridge;
      // the L1 path needs no iteration with one feature.
      (s, dir) => olsMoments(s, dir).select(
        round(expr(
          """sign(sxy - sx * sy / n) *
             greatest(abs(sxy - sx * sy / n) / n - 1000.0, 0.0) /
             ((sxx - sx * sx / n) / n)"""), 6).as("slope"),
        round(expr(
          """(sy - (sign(sxy - sx * sy / n) *
               greatest(abs(sxy - sx * sy / n) / n - 1000.0, 0.0) /
               ((sxx - sx * sx / n) / n)) * sx) / n"""), 6).as("intercept")),
      Some(s"""SELECT
                 round(sign(sxy - sx * sy / n) *
                   greatest(abs(sxy - sx * sy / n) / n - 1000.0, 0.0) /
                   ((sxx - sx * sx / n) / n), 6) AS slope,
                 round((sy - (sign(sxy - sx * sy / n) *
                   greatest(abs(sxy - sx * sy / n) / n - 1000.0, 0.0) /
                   ((sxx - sx * sx / n) / n)) * sx) / n, 6) AS intercept
               FROM ($sqlOlsMoments) m""")),

    QueryDef(
      "ml_elasticnet_fit",
      // dask-cuml ElasticNet.fit, 1 feature: soft-threshold numerator (L1,
      // λ1 = 500) over an L2-inflated denominator (λ2 = 500) —
      //   b = sign(Sxy_c)·max(|Sxy_c|/n − λ1, 0) / (Sxx_c/n + λ2)
      (s, dir) => olsMoments(s, dir).select(
        round(expr(
          """sign(sxy - sx * sy / n) *
             greatest(abs(sxy - sx * sy / n) / n - 500.0, 0.0) /
             ((sxx - sx * sx / n) / n + 500.0)"""), 6).as("slope"),
        round(expr(
          """(sy - (sign(sxy - sx * sy / n) *
               greatest(abs(sxy - sx * sy / n) / n - 500.0, 0.0) /
               ((sxx - sx * sx / n) / n + 500.0)) * sx) / n"""), 6).as("intercept")),
      Some(s"""SELECT
                 round(sign(sxy - sx * sy / n) *
                   greatest(abs(sxy - sx * sy / n) / n - 500.0, 0.0) /
                   ((sxx - sx * sx / n) / n + 500.0), 6) AS slope,
                 round((sy - (sign(sxy - sx * sy / n) *
                   greatest(abs(sxy - sx * sy / n) / n - 500.0, 0.0) /
                   ((sxx - sx * sx / n) / n + 500.0)) * sx) / n, 6) AS intercept
               FROM ($sqlOlsMoments) m""")),

    QueryDef(
      "ml_knn",
      // dask-cuml NearestNeighbors.kneighbors: brute-force L2 top-5 of the
      // 20 queries vec_id < 20 (Vec.knn; an IVF/LSH index is the declared
      // scale-up path, SURVEY §4.2).
      (s, dir) => embKnn(s, dir, col("vec_id") < 20, Vec.L2, 5)
        .select(col("q_id"), col("rn"), col("n_id"), round(col("score"), 6).as("dist"))
        .orderBy("q_id", "rn"),
      Some(s"""SELECT q_id, rn, n_id, round(score, 6) AS dist
              FROM (${sqlEmbKnn("vec_id < 20", Vec.L2, 5)}) t ORDER BY q_id, rn""")),

    QueryDef(
      "ml_knn_cosine",
      // Cosine metric variant: similarity = dot / (|a|·|b|), top-5 most
      // similar per query.
      (s, dir) => embKnn(s, dir, col("vec_id") < 20, Vec.Cosine, 5)
        .select(col("q_id"), col("rn"), col("n_id"), round(col("score"), 6).as("sim"))
        .orderBy("q_id", "rn"),
      Some(s"""SELECT q_id, rn, n_id, round(score, 6) AS sim
              FROM (${sqlEmbKnn("vec_id < 20", Vec.Cosine, 5)}) t ORDER BY q_id, rn""")),

    QueryDef(
      "ml_knn_manhattan",
      // NearestNeighbors metric='manhattan' [R] — the third metric of the
      // reference's kneighbors family (euclidean/cosine above), on the
      // codegen'd VecL1Dist loop, NOT an interpreted zip_with. The L1 sum
      // is collapsed to FLOAT before ranking and output (Vec.L1).
      (s, dir) => embKnn(s, dir, col("vec_id") < 20, Vec.L1, 5)
        .select(col("q_id"), col("rn"), col("n_id"),
          round(col("score").cast("double"), 6).as("dist"))
        .orderBy("q_id", "rn"),
      Some(s"""SELECT q_id, rn, n_id, round(score, 6) AS dist
              FROM (${sqlEmbKnn("vec_id < 20", Vec.L1, 5)}) t ORDER BY q_id, rn""")),

    QueryDef(
      "ml_kmeans_assign",
      // Lloyd assignment step against the fixed model (kmCents): each
      // point's nearest centroid by (d, cid), map-only (Vec.nearest) —
      // cuml.dask KMeans labels_ analog. Output: cluster sizes + mean
      // distance (bounded).
      (s, dir) =>
        Vec.nearest(T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id"))),
            "embedding", kmCents(s, dir), 1)
          .groupBy("cid")
          .agg(count(lit(1)).as("n_points"),
            round(T.xsum(col("d")) / count(lit(1)), 6).as("avg_dist"))
          .orderBy("cid"),
      // ADVICE r3: arg_min has unspecified tie-breaking in DuckDB; the
      // row_number (d, cid) form mirrors Spark's deterministic tiebreak.
      Some(s"""WITH ${sqlKmCent()},
                 a AS (${Vec.sqlNearest("embeddings", "vec_id", "embedding", 1)})
               SELECT cid, count(*) AS n_points,
                 round(${T.sqlXsum("d")} / count(*), 6) AS avg_dist
               FROM a GROUP BY cid ORDER BY cid""")),

    QueryDef(
      "ml_kmeans_update",
      // Lloyd update step: per-cluster mean of the first 4 embedding dims.
      // Mean of a few thousand floats in double accumulates ~1e-12 noise —
      // round(,6) absorbs it (same discipline as agg_stats_moments).
      (s, dir) =>
        Vec.nearest(T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id"))),
            "embedding", kmCents(s, dir), 1)
          .groupBy("cid")
          .agg(
            count(lit(1)).as("n"),
            round(avg(element_at(col("embedding"), 1).cast("double")), 6).as("m1"),
            round(avg(element_at(col("embedding"), 2).cast("double")), 6).as("m2"),
            round(avg(element_at(col("embedding"), 3).cast("double")), 6).as("m3"),
            round(avg(element_at(col("embedding"), 4).cast("double")), 6).as("m4"))
          .orderBy("cid"),
      // row_number tie-break form — see ml_kmeans_assign oracle note
      Some(s"""WITH ${sqlKmCent()},
                a AS (${Vec.sqlNearest("embeddings", "vec_id", "embedding", 1)})
              SELECT cid, count(*) AS n,
                round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS m1,
                round(avg(CAST(embedding[2] AS DOUBLE)), 6) AS m2,
                round(avg(CAST(embedding[3] AS DOUBLE)), 6) AS m3,
                round(avg(CAST(embedding[4] AS DOUBLE)), 6) AS m4
              FROM a GROUP BY cid ORDER BY cid""")),

    QueryDef(
      "ml_kmeans_weighted",
      // Weighted Lloyd update — cuML KMeans' sample_weight parameter [R]:
      // the update step with per-point weights w = 1 + vec_id % 5
      // (deterministic importance weights; in a curation pipeline these
      // would be dedup multiplicities or quality scores). Weighted
      // centroid = Σ w·x / Σ w on the exact-decimal wire (weights are
      // small integers, x is a float32 dim — the products are exactly
      // representable, so the decimal sums are bit-deterministic); the
      // assignment step is the unweighted argmin (weights bias the
      // UPDATE, not the metric — the sklearn/cuML contract). Same scale
      // shape as ml_kmeans_update: map-only assignment, one groupBy.
      (s, dir) =>
        Vec.nearest(T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id"))),
            "embedding", kmCents(s, dir), 1)
          .selectExpr("cid", "embedding",
            "CAST(1 + vec_id % 5 AS DOUBLE) AS sw")
          .groupBy("cid")
          .agg(
            count(lit(1)).as("n"),
            T.xsum(col("sw")).as("wsum"),
            round(T.xsum(col("sw") * element_at(col("embedding"), 1).cast("double")) /
              T.xsum(col("sw")), 6).as("m1"),
            round(T.xsum(col("sw") * element_at(col("embedding"), 2).cast("double")) /
              T.xsum(col("sw")), 6).as("m2"),
            round(T.xsum(col("sw") * element_at(col("embedding"), 3).cast("double")) /
              T.xsum(col("sw")), 6).as("m3"),
            round(T.xsum(col("sw") * element_at(col("embedding"), 4).cast("double")) /
              T.xsum(col("sw")), 6).as("m4"))
          .orderBy("cid"),
      // row_number tie-break form — see ml_kmeans_assign oracle note
      Some(s"""WITH ${sqlKmCent()},
                a AS (SELECT vec_id, embedding, cid,
                  CAST(1 + vec_id % 5 AS DOUBLE) AS sw FROM (
                  ${Vec.sqlNearest("embeddings", "vec_id", "embedding", 1)}) t)
              SELECT cid, count(*) AS n, ${T.sqlXsum("sw")} AS wsum,
                round(${T.sqlXsum("sw * CAST(embedding[1] AS DOUBLE)")} / ${T.sqlXsum("sw")}, 6) AS m1,
                round(${T.sqlXsum("sw * CAST(embedding[2] AS DOUBLE)")} / ${T.sqlXsum("sw")}, 6) AS m2,
                round(${T.sqlXsum("sw * CAST(embedding[3] AS DOUBLE)")} / ${T.sqlXsum("sw")}, 6) AS m3,
                round(${T.sqlXsum("sw * CAST(embedding[4] AS DOUBLE)")} / ${T.sqlXsum("sw")}, 6) AS m4
              FROM a GROUP BY cid ORDER BY cid""")),

    QueryDef(
      "ml_kmeans_minibatch",
      // Mini-batch k-means update (Sculley 2010 — cuML/sklearn
      // MiniBatchKMeans [R]): ONE update round on a deterministic ~10%
      // batch (affine hash of vec_id — the sampled-negatives discipline),
      // per-center learning rate η = n_b / (n_b + N0) with prior count
      // N0 = 100 (the streaming-counts schedule with a warm prior), new
      // center c′ = c + η·(batch_mean − c). The at-scale point: the
      // corpus pass touches ONLY the batch (the hash predicate prunes
      // before the nearest-centroid ranking), so a round costs 10% of a full
      // Lloyd round — the reason mini-batch exists. Weighted means ride
      // the exact-decimal wire; η and the convex update are shared text.
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val batch = e.where((col("vec_id") * 48271L + 11L) % T.HASH_P % 10 === 0)
        val bm = Vec.nearest(batch.transform(T.fanOut(_, col("vec_id"))),
            "embedding", kmCents(s, dir), 1)
          .groupBy("cid")
          .agg(count(lit(1)).as("nb"),
            (T.xsum(element_at(col("embedding"), 1).cast("double")) / count(lit(1))).as("b1"),
            (T.xsum(element_at(col("embedding"), 2).cast("double")) / count(lit(1))).as("b2"),
            (T.xsum(element_at(col("embedding"), 3).cast("double")) / count(lit(1))).as("b3"),
            (T.xsum(element_at(col("embedding"), 4).cast("double")) / count(lit(1))).as("b4"))
        kmCentFrame(e).join(bm, "cid")
          .selectExpr("cid", "nb",
            "CAST(nb AS DOUBLE) / (nb + 100e0) AS eta0",
            // element_at is 1-based in Spark; bare [k] would be 0-based
            // (DuckDB's [k] is 1-based — the one indexing split)
            "CAST(element_at(c_emb, 1) AS DOUBLE) AS c1",
            "CAST(element_at(c_emb, 2) AS DOUBLE) AS c2",
            "CAST(element_at(c_emb, 3) AS DOUBLE) AS c3",
            "CAST(element_at(c_emb, 4) AS DOUBLE) AS c4",
            "b1", "b2", "b3", "b4")
          .selectExpr("cid", "nb", "round(eta0, 6) AS eta",
            "round(c1 + eta0 * (b1 - c1), 6) AS m1",
            "round(c2 + eta0 * (b2 - c2), 6) AS m2",
            "round(c3 + eta0 * (b3 - c3), 6) AS m3",
            "round(c4 + eta0 * (b4 - c4), 6) AS m4")
          .orderBy("cid")
      },
      Some(s"""WITH ${sqlKmCent()},
                 batch AS (SELECT vec_id, embedding FROM embeddings
                   WHERE (vec_id * 48271 + 11) % ${T.HASH_P} % 10 = 0),
                 a AS (${Vec.sqlNearest("batch", "vec_id", "embedding", 1)}),
                 bm AS (SELECT cid, count(*) AS nb,
                     ${T.sqlXsum("CAST(embedding[1] AS DOUBLE)")} / count(*) AS b1,
                     ${T.sqlXsum("CAST(embedding[2] AS DOUBLE)")} / count(*) AS b2,
                     ${T.sqlXsum("CAST(embedding[3] AS DOUBLE)")} / count(*) AS b3,
                     ${T.sqlXsum("CAST(embedding[4] AS DOUBLE)")} / count(*) AS b4
                   FROM a GROUP BY cid),
                 u AS (SELECT cent.cid, nb,
                     CAST(nb AS DOUBLE) / (nb + 100e0) AS eta0,
                     CAST(c_emb[1] AS DOUBLE) AS c1, CAST(c_emb[2] AS DOUBLE) AS c2,
                     CAST(c_emb[3] AS DOUBLE) AS c3, CAST(c_emb[4] AS DOUBLE) AS c4,
                     b1, b2, b3, b4
                   FROM cent JOIN bm ON bm.cid = cent.cid)
               SELECT cid, nb, round(eta0, 6) AS eta,
                 round(c1 + eta0 * (b1 - c1), 6) AS m1,
                 round(c2 + eta0 * (b2 - c2), 6) AS m2,
                 round(c3 + eta0 * (b3 - c3), 6) AS m3,
                 round(c4 + eta0 * (b4 - c4), 6) AS m4
               FROM u ORDER BY cid""")),

    QueryDef(
      "ml_kmeans_iterate",
      // 3 full Lloyd iterations — the driver-side loop is the idiomatic
      // Spark replacement for dask's dynamic task graph. The centroids are
      // DRIVER-HELD state (K×64 floats, cuML's client-held cluster_centers_):
      // after each update step (lloydStep) they are collect()ed and become
      // iteration i+1's K literal terms in Vec.nearest, instead of a
      // plan that re-executes iterations 1..i (the r3 nested-plan shape —
      // each broadcast build recomputed every earlier Lloyd pass, the bulk
      // of its 31 s bench cost), and no cache() is needed at all
      // (VERDICT r3 #3/#4: repartition the one-row-group fixture; nothing
      // persisted may outlive the query).
      //
      // ORACLE: the same 3 unrolled iterations as DuckDB CTEs. The float
      // cast on every centroid element is what makes this checkable —
      // avg(double) is summation-order-dependent at the last ulp, but both
      // engines' averages round to the SAME float, so centroids (and hence
      // assignments and distances) agree bit-exactly.
      (s, dir) => {
        val e = T.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
          .transform(T.fanOut(_, col("vec_id")))
        var cent = kmCents(s, dir)
        for (_ <- 1 to 3) cent = lloydStep(e, cent)
        Vec.nearest(e, "embedding", cent, 1)
          .groupBy("cid")
          .agg(count(lit(1)).as("n_points"),
            round(T.xsum(col("d")) / count(lit(1)), 6).as("avg_dist"),
            // inertia = Σ d² within the cluster (VERDICT r4 #9's
            // convergence signal — the global inertia is the sum of this
            // column; per-cid keeps the wire bounded and more informative)
            round(T.xsum(col("d") * col("d")), 6).as("inertia"))
          .orderBy("cid")
      },
      Some(s"""WITH $sqlLloydCorpus,
              ${(1 to 3).map(sqlLloydStep).mkString(",\n              ")},
              af AS (${Vec.sqlNearest("e", "vec_id", "emb", 1, "c3")})
            SELECT cid, count(*) AS n_points,
              round(${T.sqlXsum("d")} / count(*), 6) AS avg_dist,
              round(${T.sqlXsum("d * d")}, 6) AS inertia
            FROM af GROUP BY cid ORDER BY cid""")),

    QueryDef(
      "ml_kmeans_converge",
      // KMeans fit TO CONVERGENCE (r8 — VERDICT r7 #5, the estimator
      // contract ml_kmeans_iterate's fixed 3 steps simplified away): the
      // driver tolerance loop cuML/sklearn run — Lloyd steps until the
      // max centroid shift ≤ tol = 1e-4 or maxIter = 10. Each iteration
      // is ONE distributed assignment+update pass (the ml_kmeans_iterate
      // machinery: re-literalized driver-held centroids, float-rounded
      // elementwise means so both engines agree bit-exactly); the shift
      // is an L2 over the K re-collected centroid pairs — driver-held
      // model state, so the convergence CHECK costs nothing distributed.
      // Output: the shift trail — one row per iteration actually run,
      // with the convergence verdict. The sequence is deterministic, so
      // the DuckDB oracle unrolls all 10 candidate iterations as CTEs and
      // truncates at the same stopping index the driver loop used.
      // Assignment is map-only (lloydStep → Vec.nearest over the K
      // driver-held centroids), so per iteration the only shuffle is the
      // K-group partial-aggregated mean (the Lloyd shape MLlib itself
      // uses). The shift check is driver-side (same widen-then-accumulate
      // IEEE sequence as graft_vec_l2).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        // cached across the Lloyd iterations (the MLlib discipline: an
        // iterative fit over an immutable corpus persists it once —
        // MEMORY_AND_DISK, so at 100 TB partitions spill, never OOM)
        val e = T.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
          .transform(T.fanOut(_, col("vec_id")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        def l2Local(a: Array[Float], b: Array[Float]): Double = {
          var acc = 0.0; var i = 0
          while (i < a.length) {
            val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
          }
          math.sqrt(acc)
        }
        val trail = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
        try {
          // client-held model state (the cuML coef_ pattern): K=10 rows
          var cent = kmCents(s, dir)
          var shift = Double.MaxValue
          while (trail.size < 10 && shift > 1e-4) {
            val nextCent = lloydStep(e, cent)
            val old = cent.toMap
            shift = nextCent.flatMap { case (cid, emb) =>
              old.get(cid).map(l2Local(_, emb))
            }.max
            trail += ((trail.size + 1, shift))
            cent = nextCent
          }
        } finally e.unpersist(blocking = false)
        trail.toSeq.toDF("iter", "s")
          .selectExpr("iter", "round(s, 6) AS shift", "s <= 1e-4 AS converged")
          .orderBy("iter")
      },
      Some {
        val shifts = (1 to 10).map(i => s"""s$i AS (SELECT max(list_distance(o.c_emb, n.c_emb)) AS s
                FROM c${i - 1} o JOIN c$i n ON o.cid = n.cid)""")
        val shRows = (1 to 10).map(i => s"SELECT $i AS iter, (SELECT s FROM s$i) AS s")
          .mkString("\n                UNION ALL ")
        s"""WITH $sqlLloydCorpus,
              ${(1 to 10).map(sqlLloydStep).mkString(",\n              ")},
              ${shifts.mkString(",\n              ")},
              sh AS ($shRows),
              stop AS (SELECT coalesce(min(iter) FILTER (WHERE s <= 1e-4), 10) AS last
                FROM sh)
            SELECT iter, round(s, 6) AS shift, s <= 1e-4 AS converged
            FROM sh, stop WHERE iter <= last ORDER BY iter"""
      }),

    QueryDef(
      "ml_kernel_ridge",
      // cuml.kernel_ridge.KernelRidge [R] (RBF kernel, gamma=1, alpha=0.1)
      // in the Nyström/landmark shape that scales: the kernel system is
      // built on m=3 LANDMARK vectors (vec_id < 3, the model side — m is a
      // design constant, never corpus-sized), dual coefficients α =
      // (K + λI)⁻¹y solved by the same unrolled shared-text elimination as
      // the ridge/CD family (Twin.gauss), and prediction is ONE broadcast
      // pass: ŷ(x) = Σ_j α_j·k(x, x_j) over the m landmarks. Cross-engine:
      // every kernel entry is REAL-collapsed exp(−d²) (the k_rbf
      // discipline) BEFORE entering the elimination, so both engines run
      // the identical IEEE op sequence on identical inputs; targets are
      // exact INTEGER labels widened once.
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val krbf = "CAST(CAST(exp(-(kd * kd)) AS FLOAT) AS DOUBLE)"
        val la = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("id_a"), col("embedding").as("q_emb"))
        val lb = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("id_b"), col("embedding").as("n_emb"))
        val kp = la.crossJoin(broadcast(lb)).where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.functions.Vec.l2(s, "q_emb", "n_emb").as("kd"))
          .selectExpr("id_a", "id_b", s"$krbf AS k")
        val kv = kp.agg(
          max(when(col("id_a") === 0 && col("id_b") === 1, col("k"))).as("k01"),
          max(when(col("id_a") === 0 && col("id_b") === 2, col("k"))).as("k02"),
          max(when(col("id_a") === 1 && col("id_b") === 2, col("k"))).as("k12"))
        val yv = e.where(col("vec_id") < 3).agg(
          max(when(col("vec_id") === 0, col("label"))).cast("double").as("y0"),
          max(when(col("vec_id") === 1, col("label"))).cast("double").as("y1"),
          max(when(col("vec_id") === 2, col("label"))).cast("double").as("y2"))
        val solved = Twin.chain(kv.crossJoin(yv), kernelRidgeSteps)
          .select(col("krx0"), col("krx1"), col("krx2"))
        val qv = e.where(col("vec_id") >= 3 && col("vec_id") < 13)
          .select(col("vec_id"), col("label"), col("embedding").as("q_emb"))
        val lm = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("lid"), col("embedding").as("n_emb"))
        qv.crossJoin(broadcast(lm))
          .select(col("vec_id"), col("label"), col("lid"),
            graft.functions.Vec.l2(s, "q_emb", "n_emb").as("kd"))
          .selectExpr("vec_id", "label", "lid", s"$krbf AS k")
          .groupBy("vec_id", "label")
          .agg(max(when(col("lid") === 0, col("k"))).as("kq0"),
            max(when(col("lid") === 1, col("k"))).as("kq1"),
            max(when(col("lid") === 2, col("k"))).as("kq2"))
          .crossJoin(broadcast(solved))
          .selectExpr("vec_id", "CAST(label AS DOUBLE) AS y_true",
            "round(kq0 * krx0 + kq1 * krx1 + kq2 * krx2, 6) AS y_pred")
          .orderBy("vec_id")
      },
      Some {
        val (chain, fin) = Twin.ctes(kernelRidgeSteps, "m", "krc")
        val krbf = "CAST(CAST(exp(-(kd * kd)) AS REAL) AS DOUBLE)"
        s"""WITH kp AS (SELECT ia, ib, $krbf AS k FROM (
                 SELECT a.vec_id AS ia, b.vec_id AS ib,
                   list_distance(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) AS kd
                 FROM embeddings a CROSS JOIN embeddings b
                 WHERE a.vec_id < 3 AND b.vec_id < 3 AND a.vec_id < b.vec_id) t),
               kv AS (SELECT
                   max(CASE WHEN ia = 0 AND ib = 1 THEN k END) AS k01,
                   max(CASE WHEN ia = 0 AND ib = 2 THEN k END) AS k02,
                   max(CASE WHEN ia = 1 AND ib = 2 THEN k END) AS k12 FROM kp),
               yv AS (SELECT
                   CAST(max(CASE WHEN vec_id = 0 THEN label END) AS DOUBLE) AS y0,
                   CAST(max(CASE WHEN vec_id = 1 THEN label END) AS DOUBLE) AS y1,
                   CAST(max(CASE WHEN vec_id = 2 THEN label END) AS DOUBLE) AS y2
                 FROM embeddings WHERE vec_id < 3),
               m AS (SELECT * FROM kv CROSS JOIN yv),
               $chain,
               kq AS (SELECT vec_id, CAST(label AS DOUBLE) AS y_true,
                   max(CASE WHEN lid = 0 THEN k END) AS kq0,
                   max(CASE WHEN lid = 1 THEN k END) AS kq1,
                   max(CASE WHEN lid = 2 THEN k END) AS kq2
                 FROM (SELECT vec_id, label, lid, $krbf AS k
                   FROM (SELECT q.vec_id, q.label, l.vec_id AS lid,
                       list_distance(CAST(q.embedding AS DOUBLE[]),
                                     CAST(l.embedding AS DOUBLE[])) AS kd
                     FROM embeddings q CROSS JOIN embeddings l
                     WHERE q.vec_id >= 3 AND q.vec_id < 13 AND l.vec_id < 3) i
                   ) t GROUP BY vec_id, label)
             SELECT vec_id, y_true,
               round(kq0 * krx0 + kq1 * krx1 + kq2 * krx2, 6) AS y_pred
             FROM kq CROSS JOIN $fin ORDER BY vec_id"""
      }),

    QueryDef(
      "ml_lars_path",
      // cuml.experimental.linear_model.Lars [R]: the least-angle regression
      // path over the 3 standardized lineitem features — see larsSteps for
      // the closed-form cascade. Output = the three JOIN EVENTS of the
      // path: (step, feature, |corr| at entry, γ moved during the step);
      // step 2's γ is capped at the 2-active OLS endpoint C₂/A₂ (the LARS
      // termination rule), and the step-3 row's γ is NULL — once all
      // features are active the remaining segment is ordinary least
      // squares on the full set, which is ml_linreg_multi's solve. Scale:
      // ONE moment pass (the memoized gram4 wire); everything after is a
      // single-row scalar cascade.
      (s, dir) => {
        val solved = Twin.chain(gram4Row(s, dir), centeredBase ++ larsSteps)
        val r1 = solved.selectExpr("1 AS step", "fn1 AS feature",
          "round(bc1, 6) AS c_entry", "round(gam1, 6) AS gamma")
        val r2 = solved.selectExpr("2 AS step", "fn2 AS feature",
          "round(bc2, 6) AS c_entry", "round(gam2, 6) AS gamma")
        val r3 = solved.selectExpr("3 AS step", "fn3 AS feature",
          "round(c3e, 6) AS c_entry", "CAST(NULL AS DOUBLE) AS gamma")
        r1.union(r2).union(r3).orderBy("step")
      },
      Some {
        val (chain, fin) = Twin.ctes(centeredBase ++ larsSteps, "m", "lrc")
        s"""WITH m AS ($sqlGram4),
               $chain
             SELECT * FROM (
               SELECT 1 AS step, fn1 AS feature, round(bc1, 6) AS c_entry,
                 round(gam1, 6) AS gamma FROM $fin
               UNION ALL
               SELECT 2, fn2, round(bc2, 6), round(gam2, 6) FROM $fin
               UNION ALL
               SELECT 3, fn3, round(c3e, 6), CAST(NULL AS DOUBLE) FROM $fin
             ) t ORDER BY step"""
      }),

    QueryDef(
      "ml_kmeans_score",
      // cuml.dask.cluster.KMeans.score [R]: the opposite of inertia —
      // score(X) = −Σ‖x − c_nearest(x)‖² for the fitted model, as ONE
      // global row (the estimator-method companion to ml_kmeans_assign's
      // per-cluster breakdown, against the same fixed vec_id < 10
      // centroids = the model). One map-only nearest-centroid pass
      // (Vec.nearest), map-side-combined; d² sums on the exact decimal wire.
      (s, dir) =>
        Vec.nearest(T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id"))),
            "embedding", kmCents(s, dir), 1)
          .agg(count(lit(1)).as("n_points"),
            round(T.xsum(col("d") * col("d")), 6).as("inertia"),
            round(-T.xsum(col("d") * col("d")), 6).as("score")),
      Some(s"""WITH ${sqlKmCent()},
                 a AS (${Vec.sqlNearest("embeddings", "vec_id", "embedding", 1)})
               SELECT count(*) AS n_points,
                 round(${T.sqlXsum("d * d")}, 6) AS inertia,
                 round(-${T.sqlXsum("d * d")}, 6) AS score
               FROM a""")),

    QueryDef(
      "ml_kmeans_elbow",
      // The k-selection sweep (the elbow diagnostic every KMeans user
      // runs): inertia for k ∈ {2, 4, 6, 8, 10} — computed from ONE
      // points × 10-centroid broadcast pass, not one pass per k. The
      // trick: with the fixed vec_id < K centroid convention, min over
      // the first k centroids is a PREFIX MIN over cid, so a single
      // running-min window per point yields every k's nearest-centroid
      // distance simultaneously (min is order-free and exact — no float
      // hazard in the window). Output: per k the inertia and the ratio
      // to the previous k (the elbow signal; NULL on the first row).
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cent = kmCentFrame(e)
        val dist = graft.functions.Vec.l2(s, "embedding", "c_emb")
        val wp = Window.partitionBy(col("vec_id")).orderBy(col("cid"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wk = Window.orderBy("k")
        e.transform(T.fanOut(_, col("vec_id")))
          .crossJoin(broadcast(cent))
          .select(col("vec_id"), col("cid"), (dist * dist).as("d2"))
          .withColumn("pm", min(col("d2")).over(wp))
          .where(col("cid") % 2 === 1)
          .select((col("cid") + 1).as("k"), col("pm"))
          .groupBy("k")
          .agg(count(lit(1)).as("n_points"), T.xsum(col("pm")).as("inertia"))
          .withColumn("prev", lag(col("inertia"), 1).over(wk))
          .selectExpr("k", "n_points", "round(inertia, 6) AS inertia",
            "round(inertia / prev, 6) AS ratio_vs_prev")
          .orderBy("k")
      },
      Some(s"""WITH dd AS (SELECT e.vec_id, c.vec_id AS cid,
                   list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                     * list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS d2
                 FROM embeddings e CROSS JOIN embeddings c
                 WHERE c.vec_id < 10),
                 pm AS (SELECT vec_id, cid,
                     min(d2) OVER (PARTITION BY vec_id ORDER BY cid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm
                   FROM dd),
                 kk AS (SELECT cid + 1 AS k, pm FROM pm WHERE cid % 2 = 1),
                 g AS (SELECT k, count(*) AS n_points,
                     ${T.sqlXsum("pm")} AS inertia FROM kk GROUP BY k),
                 w AS (SELECT *, lag(inertia, 1) OVER (ORDER BY k) AS prev FROM g)
               SELECT k, n_points, round(inertia, 6) AS inertia,
                 round(inertia / prev, 6) AS ratio_vs_prev
               FROM w ORDER BY k""")),

    QueryDef(
      "ml_kmeans_knee",
      // Automatic knee detection over the elbow sweep (Satopää 2011's
      // Kneedle, the difference-curve form): normalize the (k, inertia)
      // curve to the unit square, measure each point's vertical distance
      // to the (0,1)→(1,0) chord — diff = 1 − x̂ − ŷ — and flag the
      // argmax as the knee, the k the sweep recommends. The inertia
      // table is the SAME one-pass prefix-min wire as ml_kmeans_elbow;
      // the Kneedle layer is a 5-row window computation. Ties break to
      // the smaller k (row_number).
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cent = kmCentFrame(e)
        val dist = graft.functions.Vec.l2(s, "embedding", "c_emb")
        val wp = Window.partitionBy(col("vec_id")).orderBy(col("cid"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val g = e.transform(T.fanOut(_, col("vec_id")))
          .crossJoin(broadcast(cent))
          .select(col("vec_id"), col("cid"), (dist * dist).as("d2"))
          .withColumn("pm", min(col("d2")).over(wp))
          .where(col("cid") % 2 === 1)
          .select((col("cid") + 1).as("k"), col("pm"))
          .groupBy("k")
          .agg(T.xsum(col("pm")).as("inertia"))
        val wg = Window.partitionBy()
        val norm = g.select(col("k"), col("inertia"),
            min(col("k")).over(wg).as("kmn"), max(col("k")).over(wg).as("kmx"),
            min(col("inertia")).over(wg).as("imn"),
            max(col("inertia")).over(wg).as("imx"))
          .selectExpr("k", "inertia",
            "CAST(k - kmn AS DOUBLE) / (kmx - kmn) AS xh",
            "(inertia - imn) / (imx - imn) AS yh")
          .selectExpr("k", "inertia", "1e0 - xh - yh AS diff")
        val wr = Window.orderBy(col("diff").desc, col("k"))
        norm.withColumn("rn", row_number().over(wr))
          .selectExpr("k", "round(inertia, 6) AS inertia",
            "round(diff, 6) AS kneedle_diff",
            "CAST(rn = 1 AS INT) AS is_knee")
          .orderBy("k")
      },
      Some(s"""WITH dd AS (SELECT e.vec_id, c.vec_id AS cid,
                   list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                     * list_distance(CAST(e.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS d2
                 FROM embeddings e CROSS JOIN embeddings c
                 WHERE c.vec_id < 10),
                 pm AS (SELECT vec_id, cid,
                     min(d2) OVER (PARTITION BY vec_id ORDER BY cid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pm
                   FROM dd),
                 kk AS (SELECT cid + 1 AS k, pm FROM pm WHERE cid % 2 = 1),
                 g AS (SELECT k, ${T.sqlXsum("pm")} AS inertia FROM kk GROUP BY k),
                 nm AS (SELECT k, inertia,
                     min(k) OVER () AS kmn, max(k) OVER () AS kmx,
                     min(inertia) OVER () AS imn, max(inertia) OVER () AS imx
                   FROM g),
                 nh AS (SELECT k, inertia,
                     CAST(k - kmn AS DOUBLE) / (kmx - kmn) AS xh,
                     (inertia - imn) / (imx - imn) AS yh
                   FROM nm),
                 df AS (SELECT k, inertia, 1e0 - xh - yh AS diff FROM nh),
                 rk AS (SELECT *, row_number() OVER (ORDER BY diff DESC, k) AS rn
                   FROM df)
               SELECT k, round(inertia, 6) AS inertia,
                 round(diff, 6) AS kneedle_diff,
                 CAST(rn = 1 AS INT) AS is_knee
               FROM rk ORDER BY k""")),

    QueryDef(
      "ml_kmeans_transform",
      // cuml.dask.cluster.KMeans.transform [R]: the full sample×centroid
      // distance matrix (not just the argmin) — what the estimator's
      // transform() emits for downstream pipelines. Bounded sample
      // (vec_id in [10, 30)) × the K = 10 model centroids, broadcast
      // nested loop, 200 rows; at scale the transform is the same map
      // pass over the full table with the K×64 model broadcast.
      (s, dir) => {
        val e = T.embeddings(s, dir)
        val cent = kmCentFrame(e)
        val dist = graft.functions.Vec.l2(s, "embedding", "c_emb")
        e.where(col("vec_id") >= 10 && col("vec_id") < 30)
          .crossJoin(broadcast(cent))
          .select(col("vec_id"), col("cid"), round(dist, 6).as("dist"))
          .orderBy("vec_id", "cid")
      },
      Some("""SELECT e.vec_id, c.vec_id AS cid,
                round(list_distance(CAST(e.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])), 6) AS dist
              FROM embeddings e CROSS JOIN embeddings c
              WHERE e.vec_id >= 10 AND e.vec_id < 30 AND c.vec_id < 10
              ORDER BY e.vec_id, cid""")),

    QueryDef(
      "ml_knn_classify",
      // dask-cuml KNeighborsClassifier: predict = majority label of the 5
      // nearest neighbors, labels joined from documents.lang (doc_id =
      // vec_id); the vote is a bounded per-query groupBy with a
      // deterministic (votes desc, label asc) tie-break window.
      (s, dir) => {
        val labels = T.documents(s, dir).select(col("doc_id"), col("lang"))
        val nn = embKnn(s, dir, col("vec_id") < 20, Vec.L2, 5)
        val voted = nn.join(labels, nn("n_id") === labels("doc_id"))
          .groupBy("q_id", "lang").agg(count(lit(1)).as("votes"))
        val pick = Window.partitionBy(col("q_id"))
          .orderBy(col("votes").desc, col("lang").asc)
        voted.withColumn("vr", row_number().over(pick)).where(col("vr") === 1)
          .select(col("q_id"), col("lang").as("pred_lang"), col("votes"))
          .orderBy("q_id")
      },
      Some(s"""WITH nn AS (${sqlEmbKnn("vec_id < 20", Vec.L2, 5)}),
                voted AS (SELECT q_id, lang, count(*) AS votes
                          FROM nn JOIN documents ON n_id = doc_id
                          GROUP BY q_id, lang)
              SELECT q_id, lang AS pred_lang, votes FROM (
                SELECT q_id, lang, votes,
                  row_number() OVER (PARTITION BY q_id ORDER BY votes DESC, lang ASC) AS vr
                FROM voted) v
              WHERE vr = 1 ORDER BY q_id""")),

    QueryDef(
      "ml_knn_predict_proba",
      // KNeighborsClassifier.predict_proba [R] (r7): the full per-class
      // vote distribution behind ml_knn_classify's argmax — proba =
      // votes/k for every (query, language) the 5-NN voted for; the
      // output is the ≤20×|langs| probability table (k = 5 exactly
      // divides each vote, so votes/5.0 is an exact binary fraction —
      // identical doubles).
      (s, dir) => {
        val labels = T.documents(s, dir).select(col("doc_id"), col("lang"))
        val nn = embKnn(s, dir, col("vec_id") < 20, Vec.L2, 5)
        nn.join(labels, nn("n_id") === labels("doc_id"))
          .groupBy("q_id", "lang").agg(count(lit(1)).as("votes"))
          .select(col("q_id"), col("lang"), col("votes"),
            (col("votes") / lit(5.0)).as("proba"))
          .orderBy("q_id", "lang")
      },
      Some(s"""WITH nn AS (${sqlEmbKnn("vec_id < 20", Vec.L2, 5)})
              SELECT q_id, lang, count(*) AS votes,
                count(*) / 5.0 AS proba
              FROM nn JOIN documents ON n_id = doc_id
              GROUP BY q_id, lang ORDER BY q_id, lang""")),

    QueryDef(
      "ml_confusion_matrix",
      // cuml.metrics confusion_matrix over the kNN language classifier,
      // on the bounded EVAL_N evaluation sample (true label = the doc's
      // own lang; its own embedding is excluded from the vote, so this
      // is leave-one-out evaluation, not memorization). n·EVAL_N
      // distances (knnEvalNN), not n² (VERDICT r6 #4); the matrix itself
      // is one bounded groupBy (≤ n_langs² rows).
      (s, dir) => {
        val pred = knnPredLang(s, dir)
        val truth = T.documents(s, dir).select(col("doc_id"), col("lang").as("true_lang"))
        pred.join(truth, pred("q_id") === truth("doc_id"))
          .groupBy("true_lang", "pred_lang")
          .agg(count(lit(1)).as("n"))
          .orderBy("true_lang", "pred_lang")
      },
      Some(s"""WITH $sqlKnnPredCtes
               SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
               FROM pred p JOIN documents d ON p.q_id = d.doc_id
               GROUP BY 1, 2 ORDER BY 1, 2""")),

    QueryDef(
      "ml_accuracy_score",
      // cuml.metrics accuracy_score for the same leave-one-out kNN
      // classifier on the same bounded evaluation sample — the
      // single-number evaluation surface next to the full confusion
      // matrix.
      (s, dir) => {
        val pred = knnPredLang(s, dir)
        val truth = T.documents(s, dir).select(col("doc_id"), col("lang").as("true_lang"))
        pred.join(truth, pred("q_id") === truth("doc_id"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("pred_lang") === col("true_lang"), 1L).otherwise(0L)).as("n_correct"))
          .select(col("n"), col("n_correct"),
            round(col("n_correct").cast("double") / col("n"), 6).as("accuracy"))
      },
      Some(s"""WITH $sqlKnnPredCtes
               SELECT count(*) AS n,
                 CAST(sum(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                 round(CAST(sum(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
               FROM pred p JOIN documents d ON p.q_id = d.doc_id""")),

    QueryDef(
      "ml_r2_score",
      // cuml.metrics r2_score of the multi-feature OLS fit: one scoring
      // pass with the in-plan solved coefficients (the
      // ml_linreg_multi_predict shape), R² = 1 − SS_res/SS_tot with both
      // sums on the exact-decimal wire and the ratio text shared
      // verbatim.
      (s, dir) => {
        val coefs = gaussSolved(s, dir).selectExpr("x0", "x1", "x2", "x3")
        val l = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"),
          col("l_tax").cast("double").as("t"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
        l.crossJoin(broadcast(coefs))
          .select(expr("y - (x0 + x1 * q + x2 * d + x3 * t)").as("r"), col("y"))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("r") * col("r")).as("ssr"),
            T.xsum(col("y")).as("sy"),
            T.xsum(col("y") * col("y")).as("syy"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "round(1.0 - ssr / (syy - sy * sy / n), 6) AS r2")
      },
      Some(s"""WITH $sqlGaussChain,
                 l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                         CAST(l_discount AS DOUBLE) AS d,
                         CAST(l_tax AS DOUBLE) AS t,
                         CAST(l_extendedprice AS DOUBLE) AS y
                       FROM lineitem),
                 sc AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum("(y - (x0 + x1 * q + x2 * d + x3 * t)) * (y - (x0 + x1 * q + x2 * d + x3 * t))")} AS ssr,
                     ${T.sqlXsum("y")} AS sy,
                     ${T.sqlXsum("y * y")} AS syy
                   FROM l, $sqlGaussFinal)
               SELECT CAST(n AS BIGINT) AS n,
                 round(1.0 - ssr / (syy - sy * sy / n), 6) AS r2
               FROM sc""")),

    QueryDef(
      "ml_silhouette",
      // cuml.metrics silhouette (SIMPLIFIED form — centroid-based, the
      // standard scalable variant: a = distance to own centroid, b =
      // distance to the nearest OTHER centroid, s = (b−a)/max(a,b);
      // full silhouette is all-pairs by definition and lives in the
      // same n² bucket as the recall references). The top-2 centroid
      // distances per point in one map-only pass (Vec.nearest),
      // per-cluster mean s through the exact wire.
      (s, dir) => {
        val e = T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id")))
        val ranked = Vec.nearest(e.select(col("vec_id"), col("embedding")),
          "embedding", kmCents(s, dir), 2)
        val own = ranked.where(col("rn") === 1)
          .select(col("vec_id"), col("cid"), col("d").as("a"))
        val nxt = ranked.where(col("rn") === 2)
          .select(col("vec_id").as("v2"), col("d").as("b"))
        own.join(nxt, own("vec_id") === nxt("v2"))
          .select(col("cid"),
            ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sil"))
          .groupBy("cid")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("sil")) / count(lit(1)), 6).as("mean_sil"))
          .orderBy("cid")
      },
      Some(s"""WITH ${sqlKmCent()},
                 ranked AS (${Vec.sqlNearest("embeddings", "vec_id", "embedding", 2)}),
                 pairs2 AS (SELECT o.cid, (n.d - o.d) / greatest(o.d, n.d) AS sil
                            FROM (SELECT vec_id, cid, d FROM ranked WHERE rn = 1) o
                            JOIN (SELECT vec_id, d FROM ranked WHERE rn = 2) n
                              ON o.vec_id = n.vec_id)
               SELECT cid, count(*) AS n,
                 round(${T.sqlXsum("sil")} / count(*), 6) AS mean_sil
               FROM pairs2 GROUP BY cid ORDER BY cid""")),

    QueryDef(
      "ml_silhouette_full",
      // cuml.metrics silhouette, FULL definition (VERDICT r6 #6 —
      // completes the metrics parity claim next to the simplified
      // centroid variant): a(i) = mean distance to the OTHER points of
      // i's cluster, b(i) = min over other clusters of the mean distance
      // to that cluster's points, s = (b−a)/max(a,b). All-pairs by
      // definition, so it runs on a DETERMINISTIC ≤1000-vector sample
      // (smallest affine hash, per-partition top-k — the knnPredLang
      // discipline with its own multiplier 28657): the pair cost is
      // capped at SIL_N² = 10⁶ distances AT ANY CORPUS SIZE, never a
      // registered n². Cluster labels = nearest vec_id<10 centroid (the
      // ml_silhouette assignment); per-(i, cluster) means go through the
      // exact xsum wire so the min over clusters picks identical doubles
      // in both engines.
      (s, dir) => {
        val SIL_N = 1000
        val e = T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id")))
        val samp = e.select(col("vec_id"), col("embedding"))
          .orderBy((lit(28657L) * col("vec_id") + lit(9949L)) % lit(2147483647L), col("vec_id"))
          .limit(SIL_N)
        val assigned = Vec.nearest(samp, "embedding", kmCents(s, dir), 1)
          .select(col("vec_id"), col("embedding"), col("cid"))
        val right = assigned.select(col("vec_id").as("j_id"),
          col("embedding").as("j_emb"), col("cid").as("j_cid"))
        val md = assigned.crossJoin(broadcast(right))
          .where(col("vec_id") =!= col("j_id"))
          .select(col("vec_id"), col("cid"), col("j_cid"),
            graft.functions.Vec.l2(s, "embedding", "j_emb").as("d"))
          .groupBy("vec_id", "cid", "j_cid")
          .agg((T.xsum(col("d")) / count(lit(1))).as("md"))
        val aT = md.where(col("j_cid") === col("cid"))
          .select(col("vec_id"), col("cid"), col("md").as("a"))
        val bT = md.where(col("j_cid") =!= col("cid"))
          .groupBy("vec_id").agg(min(col("md")).as("b"))
        aT.join(bT, "vec_id")
          .select(col("cid"),
            ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sil"))
          .groupBy("cid")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("sil")) / count(lit(1)), 6).as("mean_sil"))
          .orderBy("cid")
      },
      Some(s"""WITH samp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings
                   ORDER BY (28657 * vec_id + 9949) % 2147483647, vec_id LIMIT 1000),
                 ${sqlKmCent()},
                 assigned AS (${Vec.sqlNearest("samp", "vec_id", "emb", 1)}),
                 md AS (SELECT i.vec_id, i.cid, j.cid AS j_cid,
                     ${T.sqlXsum("list_distance(i.emb, j.emb)")} / count(*) AS md
                   FROM assigned i JOIN assigned j ON i.vec_id <> j.vec_id
                   GROUP BY i.vec_id, i.cid, j.cid),
                 aT AS (SELECT vec_id, cid, md AS a FROM md WHERE j_cid = cid),
                 bT AS (SELECT vec_id, min(md) AS b FROM md WHERE j_cid <> cid GROUP BY vec_id),
                 sil AS (SELECT aT.cid, (b - a) / greatest(a, b) AS sil
                         FROM aT JOIN bT ON aT.vec_id = bT.vec_id)
               SELECT cid, count(*) AS n,
                 round(${T.sqlXsum("sil")} / count(*), 6) AS mean_sil
               FROM sil GROUP BY cid ORDER BY cid""")),

    QueryDef(
      "ml_logreg_multi_predict",
      // Predict for the multi-feature logistic fit (fit→predict
      // estimator contract, as ml_logreg_predict does for 1 feature):
      // score P(returnflag = R | quantity, discount, tax) with the
      // driver-held IRLS-multi coefficients and emit the
      // probability-decile calibration table. Stateless-query contract:
      // the fit re-runs here (3 passes) before the one scoring pass.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val e = irlsMultiBeta(s, dir)
        val bt = Seq((e(0), e(1), e(2), e(3))).toDF("e0", "e1", "e2", "e3")
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("dd"),
          col("l_tax").cast("double").as("tt"),
          when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
          .transform(T.fanOut(_))
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("e0") + col("e1") * col("q")
          + col("e2") * col("dd") + col("e3") * col("tt")))))
          .cast("float").cast("double")
        d.crossJoin(broadcast(bt))
          .select(col("y"), mu.as("mu"))
          .select(col("y"), col("mu"),
            least(floor(col("mu") * 10).cast("int"), lit(9)).as("decile"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("mu")) / count(lit(1)), 6).as("avg_pred"),
            round(sum(col("y").cast("long")).cast("double") / count(lit(1)), 6).as("actual_rate"))
          .orderBy("decile")
      },
      Some(s"""WITH $sqlIrlsMultiChain,
                 scored AS (SELECT y,
                     CAST(CAST(1.0 / (1.0 + exp(-(e0 + e1 * q + e2 * dd + e3 * tt))) AS REAL) AS DOUBLE) AS mu
                   FROM d, bet3),
                 bk AS (SELECT y, mu,
                     least(CAST(floor(mu * 10) AS INT), 9) AS decile
                   FROM scored)
               SELECT decile, count(*) AS n,
                 round(${T.sqlXsum("mu")} / count(*), 6) AS avg_pred,
                 round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS actual_rate
               FROM bk GROUP BY decile ORDER BY decile""")),

    QueryDef(
      "ml_knn_regress",
      // dask-cuml KNeighborsRegressor: predict = mean target (n_chars) of
      // the 5 nearest neighbors. Integer targets → exact long sum → one
      // double division per query; deterministic without decimal plumbing.
      (s, dir) => {
        val target = T.documents(s, dir).select(col("doc_id"), col("n_chars"))
        embKnn(s, dir, col("vec_id") < 20, Vec.L2, 5)
          .join(target, col("n_id") === col("doc_id"))
          .groupBy("q_id")
          .agg(round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("pred_chars"))
          .orderBy("q_id")
      },
      Some(s"""WITH nn AS (${sqlEmbKnn("vec_id < 20", Vec.L2, 5)})
              SELECT q_id,
                round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS pred_chars
              FROM nn JOIN documents ON n_id = doc_id
              GROUP BY q_id ORDER BY q_id""")),

    QueryDef(
      "ml_standard_scaler",
      // cuML-preprocessing parity (StandardScaler fit + transform): exact
      // decimal moments give per-feature (μ, σ), then the z-scored columns
      // are aggregated per group in the SAME scan shape a transform
      // pipeline uses — the fit row is broadcast back into the per-row
      // expression, exactly like coef_ broadcast in predict. All z math is
      // IEEE +,-,*,/ on engine-identical doubles (μ, σ come from exact
      // decimal sums), so per-group exact-decimal z sums hash-match.
      (s, dir) => {
        val l = T.lineitem(s, dir).select(
          col("l_returnflag"), col("l_quantity").cast("double").as("q"),
          col("l_extendedprice").cast("double").as("p"))
          // fan both the fit pass and the z pass past the 3-task scan; the
          // exchange is shared by the two branches (ReuseExchange)
          .transform(T.fanOut(_))
        val fit = l.agg(
          count(lit(1)).cast("double").as("n"),
          T.xsum(col("q")).as("sq"), T.xsum(col("q") * col("q")).as("sqq"),
          T.xsum(col("p")).as("sp"), T.xsum(col("p") * col("p")).as("spp"))
          .select(
            (col("sq") / col("n")).as("mu_q"),
            sqrt(col("sqq") / col("n") - (col("sq") / col("n")) * (col("sq") / col("n"))).as("sd_q"),
            (col("sp") / col("n")).as("mu_p"),
            sqrt(col("spp") / col("n") - (col("sp") / col("n")) * (col("sp") / col("n"))).as("sd_p"))
        l.crossJoin(broadcast(fit))
          .select(col("l_returnflag"),
            ((col("q") - col("mu_q")) / col("sd_q")).as("zq"),
            ((col("p") - col("mu_p")) / col("sd_p")).as("zp"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("zq")) / count(lit(1)), 6).as("avg_zq"),
            round(T.xsum(col("zp")) / count(lit(1)), 6).as("avg_zp"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH l AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_extendedprice AS DOUBLE) AS p FROM lineitem),
                 m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   ${T.sqlXsum("q")} AS sq, ${T.sqlXsum("q * q")} AS sqq,
                   ${T.sqlXsum("p")} AS sp, ${T.sqlXsum("p * p")} AS spp
                 FROM l),
                 fit AS (SELECT sq / n AS mu_q,
                   sqrt(sqq / n - (sq / n) * (sq / n)) AS sd_q,
                   sp / n AS mu_p,
                   sqrt(spp / n - (sp / n) * (sp / n)) AS sd_p FROM m)
               SELECT l_returnflag, count(*) AS n,
                 round(${T.sqlXsum("(q - mu_q) / sd_q")} / count(*), 6) AS avg_zq,
                 round(${T.sqlXsum("(p - mu_p) / sd_p")} / count(*), 6) AS avg_zp
               FROM l, fit GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QueryDef(
      "ml_minmax_scaler",
      // The other half of the cuML preprocessing pair (MinMaxScaler fit +
      // transform, r6 second half): per-feature (min, max) — exact
      // doubles, no summation-order hazard — broadcast back into the
      // per-row (x − min)/(max − min) expression, per-group scaled means
      // through the exact-decimal wire. Same fit-row-broadcast shape as
      // ml_standard_scaler: ONE scan feeds fit and transform, fused by
      // ReuseExchange.
      (s, dir) => {
        val l = T.lineitem(s, dir).select(
          col("l_returnflag"), col("l_quantity").cast("double").as("q"),
          col("l_extendedprice").cast("double").as("p"))
          .transform(T.fanOut(_))
        val fit = l.agg(
          min(col("q")).as("min_q"), max(col("q")).as("max_q"),
          min(col("p")).as("min_p"), max(col("p")).as("max_p"))
        l.crossJoin(broadcast(fit))
          .select(col("l_returnflag"),
            ((col("q") - col("min_q")) / (col("max_q") - col("min_q"))).as("uq"),
            ((col("p") - col("min_p")) / (col("max_p") - col("min_p"))).as("up"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("uq")) / count(lit(1)), 6).as("avg_uq"),
            round(T.xsum(col("up")) / count(lit(1)), 6).as("avg_up"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH l AS (SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_extendedprice AS DOUBLE) AS p FROM lineitem),
                 fit AS (SELECT min(q) AS min_q, max(q) AS max_q,
                   min(p) AS min_p, max(p) AS max_p FROM l)
               SELECT l_returnflag, count(*) AS n,
                 round(${T.sqlXsum("(q - min_q) / (max_q - min_q)")} / count(*), 6) AS avg_uq,
                 round(${T.sqlXsum("(p - min_p) / (max_p - min_p)")} / count(*), 6) AS avg_up
               FROM l, fit GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QueryDef(
      "ml_logreg_fit",
      // dask-cuml LogisticRegression.fit analog, 1 feature + intercept:
      // 3 Newton/IRLS steps, each ONE distributed aggregation of exact
      // decimal gradient/Hessian sums with the coefficients DRIVER-HELD
      // between steps (collect 5 doubles, solve the 2×2 system on the
      // client, re-broadcast as literals — cuML's coef_ shape; same
      // driver-loop pattern as ml_kmeans_iterate).
      //
      // Cross-engine determinism: exp() is the one non-IEEE-pinned op in
      // the sigmoid (engines may differ in the last ulp), so μ is collapsed
      // to REAL per row — the float cast absorbs the ulp exactly as the
      // k-means centroid REAL cast does — and every downstream product is
      // deterministic double math summed via exact decimals. Model:
      // P(returnflag = 'R' | quantity).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        Seq((a, b)).toDF("intercept", "slope")
          .select(round(col("intercept"), 6).as("intercept"),
            round(col("slope"), 6).as("slope"))
      },
      Some(s"""WITH $sqlIrlsChain
               SELECT round(a, 6) AS intercept, round(b, 6) AS slope FROM b3""")),

    QueryDef(
      "ml_poisson_glm",
      // Poisson regression with the log link (the GLM loss cuML's QN
      // solver exposes next to logistic [R]): E[y|x] = exp(a + b·x),
      // y = l_quantity (a count), x = l_discount. 3 Newton/IRLS steps —
      // per step ONE distributed aggregation (gradient g = Σ(y−μ)·(1,x),
      // Hessian H = Σμ·(1,x)(1,x)ᵀ on the exact decimal wire), the 2×2
      // solve on the client ([[logLinkFit]], the ml_logreg_fit
      // discipline). μ = exp(η) is REAL-collapsed per row —
      // exp() is the one non-IEEE-pinned op, and the float cast absorbs
      // the engine ulp exactly as the sigmoid rows do. Output: the fitted
      // coefficients and the implied mean at x = 0.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val Array(a, b) = Twin.fit(glmRows(s, dir), poissonFit).last
        Seq((a, b)).toDF("ia", "ib")
          .selectExpr("round(ia, 6) AS intercept", "round(ib, 6) AS slope",
            "round(CAST(CAST(exp(ia) AS REAL) AS DOUBLE), 6) AS mu_at_zero")
      },
      Some {
        s"""WITH $sqlGlmRows,
                 ${Twin.sqlFit(poissonFit, "prows", "pg")}
               SELECT round(a, 6) AS intercept, round(b, 6) AS slope,
                 round(CAST(CAST(exp(a) AS REAL) AS DOUBLE), 6) AS mu_at_zero
               FROM pg3"""
      }),

    QueryDef(
      "ml_logreg_l2",
      // LogisticRegression(penalty='l2') — the regularized twin of
      // ml_logreg_fit: 3 ridge-Newton steps (H + λ·diag(0,1))δ =
      // g − λ·(0, b) with λ = 10⁶, slope penalized, intercept not (the
      // sklearn/cuml convention). Emitted NEXT TO the unpenalized fit
      // (both T.memo'd — the session pays each 3-pass fit once) so the
      // shrinkage is visible and pinnable: |slope_l2| < |slope_mle|.
      // Same REAL-collapsed sigmoid + exact-wire sums discipline; both
      // chains share one rows CTE in the oracle.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a0, b0) = irlsBeta(s, dir)
        val (a2, b2) = irlsBetaL2(s, dir)
        Seq((a2, b2, a0, b0)).toDF("ai", "bi", "am", "bm")
          .selectExpr("round(ai, 6) AS intercept_l2", "round(bi, 6) AS slope_l2",
            "round(am, 6) AS intercept_mle", "round(bm, 6) AS slope_mle",
            "round(bi / bm, 6) AS shrinkage")
      },
      Some(s"""WITH $sqlIrlsChain,
                 $sqlIrlsL2Chain
               SELECT round(pb3.a, 6) AS intercept_l2, round(pb3.b, 6) AS slope_l2,
                 round(b3.a, 6) AS intercept_mle, round(b3.b, 6) AS slope_mle,
                 round(pb3.b / b3.b, 6) AS shrinkage
               FROM b3, pb3""")),

    QueryDef(
      "ml_logreg_l1",
      // LogisticRegression(penalty='l1') — the lasso twin of
      // ml_logreg_l2 via PROXIMAL Newton (see irlsBetaL1: unpenalized
      // Newton update, then soft-threshold the slope by λ/h11; intercept
      // unpenalized). Emitted next to the MLE fit so the L1 shrinkage is
      // visible and pinnable; λ = 100 shrinks the slope at BOTH fixture
      // scales WITHOUT zeroing (the exact-zero branch — L1's signature — is
      // pinned in MicroSpec at a larger λ). `+ 0` canonicalization on the
      // soft-threshold output on BOTH engines: the one family designed to
      // produce exact zeros is the one that must never emit −0.0 (the
      // cdSteps r6 lesson). Same driver-held 3-pass loop, REAL-collapsed
      // sigmoid, exact decimal sums.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a0, b0) = irlsBeta(s, dir)
        val (a1, b1) = irlsBetaL1(s, dir)
        Seq((a1, b1, a0, b0)).toDF("ai", "bi", "am", "bm")
          .selectExpr("round(ai, 6) AS intercept_l1", "round(bi, 6) + 0 AS slope_l1",
            "round(am, 6) AS intercept_mle", "round(bm, 6) AS slope_mle",
            "round(bi / bm, 6) AS shrinkage")
      },
      Some(s"""WITH $sqlIrlsChain,
                 $sqlIrlsL1Chain
               SELECT round(qb3.a, 6) AS intercept_l1, round(qb3.b, 6) + 0 AS slope_l1,
                 round(b3.a, 6) AS intercept_mle, round(b3.b, 6) AS slope_mle,
                 round(qb3.b / b3.b, 6) AS shrinkage
               FROM b3, qb3""")),

    QueryDef(
      "ml_logreg_elasticnet",
      // LogisticRegression(penalty='elasticnet') — completes the cuML
      // penalty contract {none, l1, l2, elasticnet} (see irlsBetaEN:
      // ridge-Newton smooth part, then the proximal soft-threshold scaled
      // by the PENALIZED curvature). Emitted next to BOTH pure penalties
      // so the composition is visible: |slope_en| ≤ |slope_l2| (the extra
      // L1 threshold can only shrink further) and sign preserved. Same
      // `+ 0` sign-of-zero canonicalization, same driver-held 3-pass
      // loop on the REAL-collapsed sigmoid and exact decimal sums.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a2, b2) = irlsBetaL2(s, dir)
        val (ae, be) = irlsBetaEN(s, dir)
        Seq((ae, be, a2, b2)).toDF("ae", "be", "a2", "b2")
          .selectExpr("round(ae, 6) AS intercept_en", "round(be, 6) + 0 AS slope_en",
            "round(a2, 6) AS intercept_l2", "round(b2, 6) AS slope_l2",
            "round(be / b2, 6) AS l1_extra_shrinkage")
      },
      Some(s"""WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                   CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
                 FROM lineitem),
                 $sqlIrlsL2Chain,
                 $sqlIrlsENChain
               SELECT round(eb3.a, 6) AS intercept_en, round(eb3.b, 6) + 0 AS slope_en,
                 round(pb3.a, 6) AS intercept_l2, round(pb3.b, 6) AS slope_l2,
                 round(eb3.b / pb3.b, 6) AS l1_extra_shrinkage
               FROM pb3, eb3""")),

    QueryDef(
      "ml_logreg_predict",
      // VERDICT r4 #6 — the predict half of the logreg estimator contract:
      // score P(returnflag = 'R' | quantity) per row with the DRIVER-HELD
      // (a, b) from the same 3-step IRLS as ml_logreg_fit (re-run here —
      // fit state lives on the client exactly as cuML's coef_, and queries
      // share no cross-query state by design), then emit the bounded
      // calibration table: fixed-width probability decile × (count,
      // mean predicted, actual rate). The decile is floor(10·μ) — a pure
      // map-side expression, NOT an ntile window (which would funnel all
      // rows through one global sort partition). Determinism: μ collapses
      // to REAL per row (absorbs cross-engine exp() ulps — the
      // ml_logreg_fit trick); float→double widening is exact, so bucket
      // and sums agree bit-for-bit. μ depends only on x, so the pass scores
      // the (x, y) [[Twin.cells]] once each, with every sum weighted by the
      // cell's row count — the same integers as the per-row sums.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val cells = Twin.cells(T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1).otherwise(0).as("y")))
        val ab = Seq((a, b)).toDF("ca", "cb") // broadcast params, as in irlsBeta
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
          .cast("float")
        val cnt = col(Twin.CellN)
        val n = coalesce(sum(cnt), lit(0L))
        cells.crossJoin(broadcast(ab))
          .select(col("y"), cnt, mu.cast("double").as("mu"))
          .select(col("y"), cnt, col("mu"),
            least(floor(col("mu") * 10).cast("int"), lit(9)).as("decile"))
          .groupBy("decile")
          .agg(n.as("n"),
            round(T.xsum(col("mu"), cnt) / n, 6).as("avg_pred"),
            round(sum(col("y") * cnt).cast("double") / n, 6).as("actual_rate"))
          .orderBy("decile")
      },
      Some(s"""WITH $sqlIrlsChain,
                 scored AS (SELECT CAST(y AS INT) AS y,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM d, b3),
                 bk AS (SELECT y, mu,
                     least(CAST(floor(mu * 10) AS INT), 9) AS decile
                   FROM scored)
               SELECT decile, count(*) AS n,
                 round(${T.sqlXsum("mu")} / count(*), 6) AS avg_pred,
                 round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS actual_rate
               FROM bk GROUP BY decile ORDER BY decile""")),

    QueryDef(
      "ml_ece",
      // Expected Calibration Error — the modern calibration headline:
      // ECE = Σ_b (n_b/n)·|avg_pred_b − actual_rate_b| + the max-gap MCE.
      // Buckets are QUANTITY bins (least(floor(x/5), 9)): μ is strictly
      // monotone in x, so feature bins ARE probability-ordered groups —
      // the fixed-width μ-decile of ml_logreg_predict collapses to ONE
      // bucket on this weak-signal fit (measured; and with an intercept,
      // Σμ = Σy over the whole sample makes single-bucket ECE exactly 0
      // — the score equation, not calibration). One scoring pass over the
      // (x, y) [[Twin.cells]], every sum weighted by the cell's row count
      // (the ml_logreg_predict pass), + one bounded aggregate; gaps are
      // deterministic ratios on the exact wire.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val cells = Twin.cells(T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1).otherwise(0).as("y")))
        val ab = Seq((a, b)).toDF("ca", "cb")
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
          .cast("float")
        val cnt = col(Twin.CellN)
        val nb = coalesce(sum(cnt), lit(0L))
        val wg = Window.partitionBy()
        cells.crossJoin(broadcast(ab))
          .select(col("y"), col("x"), cnt, mu.cast("double").as("mu"))
          .select(col("y"), cnt, col("mu"),
            least(floor(col("x") / 5).cast("int"), lit(9)).as("decile"))
          .groupBy("decile")
          .agg(nb.as("nb"),
            (T.xsum(col("mu"), cnt) / nb).as("avg_pred"),
            (sum(col("y") * cnt).cast("double") / nb).as("actual"))
          .select(col("nb"), col("avg_pred"), col("actual"),
            sum(col("nb")).over(wg).as("n"))
          .selectExpr(
            "CAST(nb AS DOUBLE) / n * abs(avg_pred - actual) AS term",
            "abs(avg_pred - actual) AS gap")
          .agg(T.xsum(col("term")).as("ece"), max(col("gap")).as("mce"))
          .selectExpr("round(ece, 6) AS ece", "round(mce, 6) AS mce")
      },
      Some(s"""WITH $sqlIrlsChain,
                 scored AS (SELECT CAST(y AS INT) AS y, x,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM d, b3),
                 bk AS (SELECT y, mu,
                     least(CAST(floor(x / 5) AS INT), 9) AS decile
                   FROM scored),
                 dec AS (SELECT decile, count(*) AS nb,
                     ${T.sqlXsum("mu")} / count(*) AS avg_pred,
                     CAST(sum(y) AS DOUBLE) / count(*) AS actual
                   FROM bk GROUP BY decile),
                 tm AS (SELECT nb, avg_pred, actual,
                     sum(nb) OVER () AS n FROM dec),
                 terms AS (SELECT
                     CAST(nb AS DOUBLE) / n * abs(avg_pred - actual) AS term,
                     abs(avg_pred - actual) AS gap
                   FROM tm)
               SELECT round(${T.sqlXsum("term")}, 6) AS ece,
                 round(max(gap), 6) AS mce
               FROM terms""")),

    QueryDef(
      "ml_hosmer_lemeshow",
      // The Hosmer–Lemeshow goodness-of-fit statistic for the logistic
      // fit — the classical calibration TEST next to ml_ece's summary
      // gap: over the same fixed-width deciles,
      // HL = Σ_b (O_b − E_b)² / (E_b·(1 − E_b/n_b)) with O the observed
      // positives and E the expected (Σμ) — asymptotically χ²(B−2).
      // Groups are the same monotone QUANTITY bins as ml_ece (see its
      // comment: the μ-decile collapses to one bucket on this fit).
      // Expected counts ride the exact wire; terms are shared-text
      // ratios; E ∈ (0, n_b) always since μ is strictly inside (0,1).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1).otherwise(0).as("y"))
          .transform(T.fanOut(_))
        val ab = Seq((a, b)).toDF("ca", "cb")
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
          .cast("float")
        d.crossJoin(broadcast(ab))
          .select(col("y"), col("x"), mu.cast("double").as("mu"))
          .select(col("y"), col("mu"),
            least(floor(col("x") / 5).cast("int"), lit(9)).as("decile"))
          .groupBy("decile")
          .agg(count(lit(1)).cast("double").as("nb"),
            sum(col("y")).cast("double").as("o"),
            T.xsum(col("mu")).as("e"))
          .selectExpr("(o - e) * (o - e) / (e * (1e0 - e / nb)) AS term")
          .agg(T.xsum(col("term")).as("hl"), count(lit(1)).as("nbk"))
          .selectExpr("round(hl, 6) AS hl_stat",
            "CAST(nbk - 2 AS INT) AS dof")
      },
      Some(s"""WITH $sqlIrlsChain,
                 scored AS (SELECT CAST(y AS INT) AS y, x,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM d, b3),
                 bk AS (SELECT y, mu,
                     least(CAST(floor(x / 5) AS INT), 9) AS decile
                   FROM scored),
                 dec AS (SELECT decile, CAST(count(*) AS DOUBLE) AS nb,
                     CAST(sum(y) AS DOUBLE) AS o,
                     ${T.sqlXsum("mu")} AS e
                   FROM bk GROUP BY decile),
                 terms AS (SELECT (o - e) * (o - e) / (e * (1e0 - e / nb)) AS term
                   FROM dec)
               SELECT round(${T.sqlXsum("term")}, 6) AS hl_stat,
                 CAST(count(*) - 2 AS INT) AS dof
               FROM terms""")),

    QueryDef(
      "ml_brier_score",
      // brier_score_loss — the probabilistic-accuracy companion of
      // ml_log_loss over the same logistic fit: mean (μ − y)², plus its
      // standard decomposition baseline (the climatological Brier of
      // always predicting the base rate, whose skill-score ratio tells a
      // monitor whether the model beats the prior). One scoring pass on
      // the driver-held IRLS coefficients; μ REAL-collapsed, sums exact.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
          .transform(T.fanOut(_))
        val ab = Seq((a, b)).toDF("ca", "cb")
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
          .cast("float").cast("double")
        d.crossJoin(broadcast(ab))
          .select(col("y"), mu.as("mu"))
          .agg(count(lit(1)).cast("double").as("nd"),
            T.xsum((col("mu") - col("y")) * (col("mu") - col("y"))).as("sq"),
            T.xsum(col("y")).as("sy"))
          .selectExpr("nd", "sq / nd AS brier", "sy / nd AS base")
          .selectExpr("round(brier, 6) AS brier",
            "round(base * (1e0 - base), 6) AS brier_baseline",
            "round(1e0 - brier / (base * (1e0 - base)), 6) AS skill_score")
      },
      Some(s"""WITH $sqlIrlsChain,
                 scored AS (SELECT y,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM d, b3),
                 m AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                     ${T.sqlXsum("(mu - y) * (mu - y)")} AS sq,
                     ${T.sqlXsum("y")} AS sy
                   FROM scored),
                 r AS (SELECT nd, sq / nd AS brier, sy / nd AS base FROM m)
               SELECT round(brier, 6) AS brier,
                 round(base * (1e0 - base), 6) AS brier_baseline,
                 round(1e0 - brier / (base * (1e0 - base)), 6) AS skill_score
               FROM r""")),

    QueryDef(
      "ml_lift_table",
      // Decile lift table for the logistic return-flag classifier — the
      // campaign-targeting readout (score the population, sort by
      // predicted response, report each decile's response rate vs the
      // base rate). SCALE TRICK: μ = σ(a + b·x) is monotone in x, and
      // x = quantity has a BOUNDED integral domain — so deciles of the
      // score are computable from the ≤50-row per-value histogram
      // (ordered by each value's own μ), never a corpus-wide
      // rank/ntile. Value groups stay together at decile boundaries
      // (the standard grouped-lift convention). One grouped corpus pass;
      // coefficients from the shared 3-step IRLS fit (driver-held,
      // oracle re-derives the identical chain).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val ab = Seq((a, b)).toDF("ca", "cb")
        val g = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
          .transform(T.fanOut(_))
          .groupBy("x")
          .agg(count(lit(1)).as("nv"), sum(col("y")).as("pos"))
        val scored = g.crossJoin(broadcast(ab))
          .selectExpr("x", "nv", "pos",
            "CAST(CAST(1.0 / (1.0 + exp(-(ca + cb * x))) AS FLOAT) AS DOUBLE) AS mu")
        val wo = Window.orderBy(col("mu").desc, col("x"))
        val wg = Window.partitionBy()
        scored
          .withColumn("cb4",
            coalesce(sum(col("nv")).over(
              wo.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n", sum(col("nv")).over(wg))
          .withColumn("npos", sum(col("pos")).over(wg))
          .selectExpr("nv", "pos", "n", "npos",
            "CAST(least(floor(cb4 * 10 / n), 9) AS INT) AS decile")
          .groupBy("decile")
          .agg(sum(col("nv")).as("n_rows"), sum(col("pos")).as("n_pos"),
            first(col("n")).as("n"), first(col("npos")).as("npos"))
          .selectExpr("decile", "n_rows", "n_pos",
            "round(CAST(n_pos AS DOUBLE) / n_rows, 6) AS response_rate",
            "round((CAST(n_pos AS DOUBLE) / n_rows) / (CAST(npos AS DOUBLE) / n), 6) AS lift")
          .orderBy("decile")
      },
      Some(s"""WITH $sqlIrlsChain,
                 g AS (SELECT x, count(*) AS nv,
                     CAST(sum(y) AS BIGINT) AS pos
                   FROM d GROUP BY x),
                 sc AS (SELECT x, nv, pos,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM g, b3),
                 cu AS (SELECT *,
                     coalesce(sum(nv) OVER (ORDER BY mu DESC, x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb4,
                     sum(nv) OVER () AS n, sum(pos) OVER () AS npos
                   FROM sc),
                 dd AS (SELECT nv, pos, n, npos,
                     CAST(least(floor(cb4 * 10 / n), 9) AS INT) AS decile
                   FROM cu)
               SELECT decile, CAST(sum(nv) AS BIGINT) AS n_rows,
                 CAST(sum(pos) AS BIGINT) AS n_pos,
                 round(CAST(sum(pos) AS DOUBLE) / sum(nv), 6) AS response_rate,
                 round((CAST(sum(pos) AS DOUBLE) / sum(nv)) / (CAST(any_value(npos) AS DOUBLE) / any_value(n)), 6) AS lift
               FROM dd GROUP BY decile ORDER BY decile""")),

    QueryDef(
      "ml_ransac",
      // RANSAC robust regression (Fischler & Bolles 1981; sklearn
      // RANSACRegressor): 5 candidate lines, each fit exactly through a
      // MINIMAL SAMPLE of 2 points, scored by consensus — the count of
      // corpus rows within the inlier band |y − (a + b·x)| ≤ τ; the
      // largest consensus wins. Determinized per the knnPredLang
      // discipline: the 10 sample points are the smallest affine-hash
      // ranks (TakeOrdered — no global sort), paired (1,2)(3,4)…;
      // degenerate pairs (equal x) drop. τ = 20000 — about half the
      // fixture's price IQR, documented not derived, so the band is a
      // fixed contract. Scale: candidates are a 5-row broadcast against
      // ONE corpus scoring pass. Output: every candidate's line +
      // consensus + the winner flag (ties → smaller candidate id).
      (s, dir) => {
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          col("l_extendedprice").cast("double").as("y"),
          col("l_orderkey"), col("l_linenumber"))
          .transform(T.fanOut(_))
        // ADVICE r10 #3: (x*1e6 + y) alone can tie (two sampled lineitems
        // sharing quantity+extendedprice) and row_number over a tie is
        // engine/run-dependent — carry the natural key through pts as the
        // final tiebreak on both sides.
        val pts = d
          .orderBy((col("l_orderkey") * 69621L + col("l_linenumber") * 823L + 7L)
            % T.HASH_P, col("l_orderkey"), col("l_linenumber"))
          .limit(10)
          .select(col("x"), col("y"), col("l_orderkey"), col("l_linenumber"))
          .withColumn("i", row_number().over(
            Window.orderBy(col("x") * 1e6 + col("y"),
              col("l_orderkey"), col("l_linenumber"))))
        val cand = pts.selectExpr("CAST(floor((i + 1) / 2) AS INT) AS cid",
            "CASE WHEN i % 2 = 1 THEN x END AS x1",
            "CASE WHEN i % 2 = 1 THEN y END AS y1",
            "CASE WHEN i % 2 = 0 THEN x END AS x2",
            "CASE WHEN i % 2 = 0 THEN y END AS y2")
          .groupBy("cid")
          .agg(max(col("x1")).as("x1"), max(col("y1")).as("y1"),
            max(col("x2")).as("x2"), max(col("y2")).as("y2"))
          .where(col("x1") =!= col("x2"))
          .selectExpr("cid", "(y2 - y1) / (x2 - x1) AS b",
            "y1 - (y2 - y1) / (x2 - x1) * x1 AS a")
        val scored = d.crossJoin(broadcast(cand))
          .groupBy("cid", "a", "b")
          .agg(sum(when(abs(col("y") - (col("a") + col("b") * col("x")))
            <= 20000.0, 1L).otherwise(0L)).as("n_inliers"),
            count(lit(1)).as("n"))
        val wb = Window.orderBy(col("n_inliers").desc, col("cid"))
        scored.withColumn("rk", row_number().over(wb))
          .selectExpr("cid", "round(a, 6) AS icept", "round(b, 6) AS slope",
            "n_inliers", "round(CAST(n_inliers AS DOUBLE) / n, 6) AS inlier_frac",
            "CAST(rk = 1 AS INT) AS is_best")
          .orderBy("cid")
      },
      Some {
        // the candidate chain needs y1/x1 alongside b — spell the pair
        // pivot once, reuse for a
        s"""WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                   CAST(l_extendedprice AS DOUBLE) AS y,
                   l_orderkey, l_linenumber
                 FROM lineitem),
                 pts AS (SELECT x, y, l_orderkey, l_linenumber FROM d
                   ORDER BY (l_orderkey * 69621 + l_linenumber * 823 + 7) % ${T.HASH_P},
                     l_orderkey, l_linenumber LIMIT 10),
                 ix AS (SELECT x, y,
                     row_number() OVER (ORDER BY (x * 1e6 + y),
                       l_orderkey, l_linenumber) AS i
                   FROM pts),
                 pv AS (SELECT CAST(floor((i + 1) / 2) AS INT) AS cid,
                     max(CASE WHEN i % 2 = 1 THEN x END) AS x1,
                     max(CASE WHEN i % 2 = 1 THEN y END) AS y1,
                     max(CASE WHEN i % 2 = 0 THEN x END) AS x2,
                     max(CASE WHEN i % 2 = 0 THEN y END) AS y2
                   FROM ix GROUP BY 1),
                 cand AS (SELECT cid, (y2 - y1) / (x2 - x1) AS b,
                     y1 - (y2 - y1) / (x2 - x1) * x1 AS a
                   FROM pv WHERE x1 <> x2),
                 scored AS (SELECT cid, a, b,
                     CAST(sum(CASE WHEN abs(y - (a + b * x)) <= 20000.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
                     count(*) AS n
                   FROM d CROSS JOIN cand GROUP BY cid, a, b),
                 rk AS (SELECT *, row_number() OVER (
                     ORDER BY n_inliers DESC, cid) AS rk FROM scored)
               SELECT cid, round(a, 6) AS icept, round(b, 6) AS slope,
                 n_inliers, round(CAST(n_inliers AS DOUBLE) / n, 6) AS inlier_frac,
                 CAST(rk = 1 AS INT) AS is_best
               FROM rk ORDER BY cid"""
      }),

    QueryDef(
      "ml_cuped",
      // CUPED variance reduction (Deng et al. 2013 — the industry-
      // standard experiment readout next to ml_ab_ttest): adjust the
      // outcome with a pre-treatment covariate, Y' = Y − θ(X − X̄) with
      // θ = cov(X,Y)/var(X), then compare arm means of Y'. Here arm =
      // the ml_propensity_ipw treatment (deep discount), X = quantity
      // (set before pricing), Y = extendedprice. ONE grouped moment pass
      // yields θ, both raw and adjusted arm means, and the variance-
      // reduction ratio 1 − var(Y')/var(Y) = ρ² — all shared-text
      // arithmetic over exact-wire sums.
      (s, dir) => {
        val d = causalFrame(s, dir)
        val g = d.agg(count(lit(1)).cast("double").as("nn"),
          T.xsum(col("x")).as("sx"), T.xsum(col("yv")).as("sy"),
          T.xsum(col("x") * col("x")).as("sxx"),
          T.xsum(col("x") * col("yv")).as("sxy"),
          T.xsum(col("yv") * col("yv")).as("syy"))
          .selectExpr("nn", "sx / nn AS mx",
            "(sxy - sx * sy / nn) / (sxx - sx * sx / nn) AS theta",
            "(syy - sy * sy / nn) / nn AS vy",
            "((sxy - sx * sy / nn) / (sxx - sx * sx / nn)) * ((sxy - sx * sy / nn) / (sxx - sx * sx / nn)) * (sxx - sx * sx / nn) / nn AS explained")
        d.crossJoin(broadcast(g))
          .selectExpr("tr", "yv", "yv - theta * (x - mx) AS ya",
            "nn", "vy", "explained")
          .groupBy("tr")
          .agg(count(lit(1)).as("n"),
            (T.xsum(col("yv")) / count(lit(1))).as("raw_mean"),
            (T.xsum(col("ya")) / count(lit(1))).as("adj_mean"),
            first(expr("explained / vy")).as("vr"))
          .selectExpr("CAST(tr AS INT) AS treated", "n",
            "round(raw_mean, 6) AS raw_mean",
            "round(adj_mean, 6) AS cuped_mean",
            "round(vr, 6) AS variance_reduction")
          .orderBy("treated")
      },
      Some(s"""WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                   CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS tr,
                   CAST(l_extendedprice AS DOUBLE) AS yv
                 FROM lineitem),
                 g AS (SELECT nn, sx / nn AS mx,
                     (sxy - sx * sy / nn) / (sxx - sx * sx / nn) AS theta,
                     (syy - sy * sy / nn) / nn AS vy,
                     ((sxy - sx * sy / nn) / (sxx - sx * sx / nn)) * ((sxy - sx * sy / nn) / (sxx - sx * sx / nn)) * (sxx - sx * sx / nn) / nn AS explained
                   FROM (SELECT CAST(count(*) AS DOUBLE) AS nn,
                       ${T.sqlXsum("x")} AS sx, ${T.sqlXsum("yv")} AS sy,
                       ${T.sqlXsum("x * x")} AS sxx,
                       ${T.sqlXsum("x * yv")} AS sxy,
                       ${T.sqlXsum("yv * yv")} AS syy
                     FROM d) t),
                 sc AS (SELECT tr, yv, yv - theta * (x - mx) AS ya,
                     explained / vy AS vr
                   FROM d, g)
               SELECT CAST(tr AS INT) AS treated, count(*) AS n,
                 round(${T.sqlXsum("yv")} / count(*), 6) AS raw_mean,
                 round(${T.sqlXsum("ya")} / count(*), 6) AS cuped_mean,
                 round(any_value(vr), 6) AS variance_reduction
               FROM sc GROUP BY tr ORDER BY treated""")),

    QueryDef(
      "ml_conformal_interval",
      // Split-conformal prediction interval (Vovk; Lei et al. 2018 — the
      // distribution-free uncertainty layer modern ML serving wraps
      // around ANY point model): hash-split lineitem into train (~80%)
      // and calibration (~20%), fit the closed-form OLS y ~ quantity on
      // train, take q̂ = the ⌈(n_cal+1)·0.9⌉-th smallest absolute
      // calibration residual — then ŷ ± q̂ covers ≥ 90% by construction
      // (the CurationSpec pin). The rank is one row_number window over
      // the calibration scores (the agg_describe exact-percentile
      // precedent); k's double product is the same IEEE value in both
      // engines. One grouped moment pass + one scoring pass.
      (s, dir) => {
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          col("l_extendedprice").cast("double").as("y"),
          ((col("l_orderkey") * 48271L + col("l_linenumber")) % T.HASH_P % 5 === 0)
            .as("is_cal"))
          .transform(T.fanOut(_))
        val cf = d.where(!col("is_cal"))
          .agg(count(lit(1)).cast("double").as("nn"),
            T.xsum(col("x")).as("sx"), T.xsum(col("y")).as("sy"),
            T.xsum(col("x") * col("x")).as("sxx"),
            T.xsum(col("x") * col("y")).as("sxy"))
          .selectExpr("nn",
            "(nn * sxy - sx * sy) / (nn * sxx - sx * sx) AS slope",
            "(sy - (nn * sxy - sx * sy) / (nn * sxx - sx * sx) * sx) / nn AS icept")
        val sc = d.where(col("is_cal")).crossJoin(broadcast(cf))
          .selectExpr("nn", "abs(y - (icept + slope * x)) AS sv")
        val wr = Window.orderBy("sv")
        val wg = Window.partitionBy()
        sc.withColumn("rn", row_number().over(wr))
          .withColumn("ncal", count(lit(1)).over(wg))
          .withColumn("k", least(
            ceil((col("ncal") + 1) * lit(0.9)).cast("long"), col("ncal")))
          .withColumn("qhat",
            max(when(col("rn") === col("k"), col("sv"))).over(wg))
          .agg(first(col("nn")).cast("long").as("n_train"),
            first(col("ncal")).as("n_cal"), first(col("k")).as("k"),
            round(first(col("qhat")), 6).as("qhat"),
            round(T.xsum(when(col("sv") <= col("qhat"), 1.0).otherwise(0.0)) /
              count(lit(1)), 6).as("coverage_cal"),
            round(first(col("qhat")) * 2, 6).as("interval_width"))
      },
      Some(s"""WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                   CAST(l_extendedprice AS DOUBLE) AS y,
                   (l_orderkey * 48271 + l_linenumber) % ${T.HASH_P} % 5 = 0 AS is_cal
                 FROM lineitem),
                 cf AS (SELECT nn,
                     (nn * sxy - sx * sy) / (nn * sxx - sx * sx) AS slope,
                     (sy - (nn * sxy - sx * sy) / (nn * sxx - sx * sx) * sx) / nn AS icept
                   FROM (SELECT CAST(count(*) AS DOUBLE) AS nn,
                       ${T.sqlXsum("x")} AS sx, ${T.sqlXsum("y")} AS sy,
                       ${T.sqlXsum("x * x")} AS sxx, ${T.sqlXsum("x * y")} AS sxy
                     FROM d WHERE NOT is_cal) t),
                 sc AS (SELECT nn, abs(y - (icept + slope * x)) AS sv
                   FROM d, cf WHERE is_cal),
                 rk AS (SELECT nn, sv,
                     row_number() OVER (ORDER BY sv) AS rn,
                     count(*) OVER () AS ncal
                   FROM sc),
                 kk AS (SELECT *, least(CAST(ceil((ncal + 1) * 0.9) AS BIGINT), ncal) AS k
                   FROM rk),
                 qh AS (SELECT *, max(CASE WHEN rn = k THEN sv END) OVER () AS qhat
                   FROM kk)
               SELECT CAST(any_value(nn) AS BIGINT) AS n_train,
                 CAST(any_value(ncal) AS BIGINT) AS n_cal,
                 CAST(any_value(k) AS BIGINT) AS k,
                 round(any_value(qhat), 6) AS qhat,
                 round(${T.sqlXsum("CASE WHEN sv <= qhat THEN 1.0 ELSE 0.0 END")} / count(*), 6) AS coverage_cal,
                 round(any_value(qhat) * 2, 6) AS interval_width
               FROM qh""")),

    QueryDef(
      "ml_doubly_robust",
      // AIPW — the doubly-robust treatment-effect estimator layered on
      // ml_propensity_ipw's fitted propensity (Robins, Rotnitzky & Zhao
      // 1994): per-arm outcome models m₁/m₀ = closed-form OLS of Y on x
      // within each arm (two moment rows from ONE grouped pass), then
      // ATE = mean[T·(Y−m₁)/e + m₁] − mean[(1−T)·(Y−m₀)/(1−e) + m₀] —
      // consistent if EITHER the propensity or the outcome model is
      // right. Propensity coefficients shared (T.memo) with the IPW
      // row; e clipped identically; every reduction exact-wire.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val d = causalFrame(s, dir)
        val (a, b) = propensityBeta(s, dir)
        val ab = Seq((a, b)).toDF("ca", "cb")
        val om = d.groupBy("tr")
          .agg(count(lit(1)).cast("double").as("nn"),
            T.xsum(col("x")).as("sx"), T.xsum(col("yv")).as("sy"),
            T.xsum(col("x") * col("x")).as("sxx"),
            T.xsum(col("x") * col("yv")).as("sxy"))
          .selectExpr("tr",
            "(nn * sxy - sx * sy) / (nn * sxx - sx * sx) AS slope",
            "(sy - (nn * sxy - sx * sy) / (nn * sxx - sx * sx) * sx) / nn AS icept")
        val m1 = om.where(col("tr") === 1.0)
          .selectExpr("slope AS sl1", "icept AS ic1")
        val m0 = om.where(col("tr") === 0.0)
          .selectExpr("slope AS sl0", "icept AS ic0")
        d.crossJoin(broadcast(ab))
          .crossJoin(broadcast(m1)).crossJoin(broadcast(m0))
          .selectExpr("tr", "yv",
            "greatest(1e-2, least(99e-2, CAST(CAST(1.0 / (1.0 + exp(-(ca + cb * x))) AS FLOAT) AS DOUBLE))) AS e",
            "ic1 + sl1 * x AS mm1", "ic0 + sl0 * x AS mm0")
          .agg(count(lit(1)).as("n"),
            T.xsum(expr("tr * (yv - mm1) / e + mm1")).as("t1"),
            T.xsum(expr("(1e0 - tr) * (yv - mm0) / (1e0 - e) + mm0")).as("t0"))
          .selectExpr("n",
            "round(t1 / n, 6) AS mean_treated_dr",
            "round(t0 / n, 6) AS mean_control_dr",
            "round(t1 / n - t0 / n, 6) AS ate_aipw")
      },
      Some {
        s"""WITH $sqlPropensityChain,
                 om AS (SELECT y AS tr,
                     (nn * sxy - sx * sy) / (nn * sxx - sx * sx) AS slope,
                     (sy - (nn * sxy - sx * sy) / (nn * sxx - sx * sx) * sx) / nn AS icept
                   FROM (SELECT y, CAST(count(*) AS DOUBLE) AS nn,
                       ${T.sqlXsum("x")} AS sx, ${T.sqlXsum("yv")} AS sy,
                       ${T.sqlXsum("x * x")} AS sxx, ${T.sqlXsum("x * yv")} AS sxy
                     FROM d GROUP BY y) g),
                 mm1 AS (SELECT slope AS sl1, icept AS ic1 FROM om WHERE tr = 1.0),
                 mm0 AS (SELECT slope AS sl0, icept AS ic0 FROM om WHERE tr = 0.0),
                 sc AS (SELECT y AS tr, yv,
                     greatest(1e-2, least(99e-2, CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE))) AS e,
                     ic1 + sl1 * x AS mm1, ic0 + sl0 * x AS mm0
                   FROM d, b2, mm1, mm0),
                 ag AS (SELECT count(*) AS n,
                     ${T.sqlXsum("tr * (yv - mm1) / e + mm1")} AS t1,
                     ${T.sqlXsum("(1e0 - tr) * (yv - mm0) / (1e0 - e) + mm0")} AS t0
                   FROM sc)
               SELECT n,
                 round(t1 / n, 6) AS mean_treated_dr,
                 round(t0 / n, 6) AS mean_control_dr,
                 round(t1 / n - t0 / n, 6) AS ate_aipw
               FROM ag"""
      }),

    QueryDef(
      "ml_propensity_ipw",
      // Inverse-propensity-weighted treatment effect (Horvitz–Thompson /
      // Hájek — the observational-causal estimator an A/B-less analysis
      // runs): treatment T = deep discount (l_discount > 0.05), outcome
      // Y = extendedprice, confounder X = quantity. Propensity
      // e(x) = σ(a + bx) from 2 driver-held IRLS steps (the irlsBeta
      // discipline, unrolled identically in the oracle), clipped to
      // [0.01, 0.99] (the standard positivity guard); ATE_ipw =
      // Σ(TY/e)/Σ(T/e) − Σ((1−T)Y/(1−e))/Σ((1−T)/(1−e)), reported next
      // to the confounded naive difference. One fit pass per step + one
      // scoring pass, all sums exact-wire, μ REAL-collapsed.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val d = causalFrame(s, dir)
        val (a, b) = propensityBeta(s, dir)
        val ab = Seq((a, b)).toDF("ca", "cb")
        d.crossJoin(broadcast(ab))
          .selectExpr("tr", "yv",
            "greatest(1e-2, least(99e-2, CAST(CAST(1.0 / (1.0 + exp(-(ca + cb * x))) AS FLOAT) AS DOUBLE))) AS e")
          .agg(count(lit(1)).as("n"),
            T.xsum(expr("tr * yv / e")).as("s1"),
            T.xsum(expr("tr / e")).as("w1"),
            T.xsum(expr("(1e0 - tr) * yv / (1e0 - e)")).as("s0"),
            T.xsum(expr("(1e0 - tr) / (1e0 - e)")).as("w0"),
            T.xsum(expr("tr * yv")).as("sn1"), T.xsum(col("tr")).as("n1"),
            T.xsum(expr("(1e0 - tr) * yv")).as("sn0"),
            T.xsum(expr("1e0 - tr")).as("n0"))
          .selectExpr("n",
            "round(s1 / w1, 6) AS mean_treated_ipw",
            "round(s0 / w0, 6) AS mean_control_ipw",
            "round(s1 / w1 - s0 / w0, 6) AS ate_ipw",
            "round(sn1 / n1 - sn0 / n0, 6) AS ate_naive")
      },
      Some {
        s"""WITH $sqlPropensityChain,
                 sc AS (SELECT y AS tr, yv,
                     greatest(1e-2, least(99e-2, CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE))) AS e
                   FROM d, b2),
                 ag AS (SELECT count(*) AS n,
                     ${T.sqlXsum("tr * yv / e")} AS s1,
                     ${T.sqlXsum("tr / e")} AS w1,
                     ${T.sqlXsum("(1e0 - tr) * yv / (1e0 - e)")} AS s0,
                     ${T.sqlXsum("(1e0 - tr) / (1e0 - e)")} AS w0,
                     ${T.sqlXsum("tr * yv")} AS sn1, ${T.sqlXsum("tr")} AS n1,
                     ${T.sqlXsum("(1e0 - tr) * yv")} AS sn0,
                     ${T.sqlXsum("1e0 - tr")} AS n0
                   FROM sc)
               SELECT n,
                 round(s1 / w1, 6) AS mean_treated_ipw,
                 round(s0 / w0, 6) AS mean_control_ipw,
                 round(s1 / w1 - s0 / w0, 6) AS ate_ipw,
                 round(sn1 / n1 - sn0 / n0, 6) AS ate_naive
               FROM ag"""
      }),

    QueryDef(
      "ml_propensity_strata",
      // Propensity-score subclassification (Rosenbaum & Rubin 1983/84 —
      // the 5-strata workhorse next to ml_propensity_ipw's weighting and
      // ml_doubly_robust's AIPW): rows stratify by fixed-width bands of
      // the SHARED clipped propensity fit, within-stratum treated−control
      // gaps are confound-adjusted by construction, and ATT is the
      // treated-weighted average over strata holding BOTH arms. The
      // whole estimator is the scoring pass + one bounded groupBy; ATT
      // closes over the ≤5-row frame (bounded global window on the
      // exact wire). Same σ REAL-collapse / clip texts as the IPW row.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val d = causalFrame(s, dir)
        val (a, b) = propensityBeta(s, dir)
        val ab = Seq((a, b)).toDF("ca", "cb")
        val w = Window.partitionBy()
        val scored = d.crossJoin(broadcast(ab))
          .selectExpr("tr", "yv",
            "greatest(1e-2, least(99e-2, CAST(CAST(1.0 / (1.0 + exp(-(ca + cb * x))) AS FLOAT) AS DOUBLE))) AS e")
        // band edges from the fitted score's own range (one bounded
        // min/max pass, broadcast): the fixture's e spans a narrow slice
        // of [0,1], so fixed-width [0,1] bands would collapse to one
        // stratum and the subclassification would degenerate to naive
        val mm = scored.agg(min(col("e")).as("emin"), max(col("e")).as("emax"))
        scored.crossJoin(broadcast(mm))
          .selectExpr("tr", "yv",
            "least(4, CAST(floor((e - emin) / ((emax - emin) / 5e0)) AS INT)) AS stratum")
          .groupBy("stratum")
          .agg(T.xsum(col("tr")).as("n1"),
            T.xsum(expr("1e0 - tr")).as("n0"),
            T.xsum(expr("tr * yv")).as("s1"),
            T.xsum(expr("(1e0 - tr) * yv")).as("s0"))
          .withColumn("attn", T.xsumD(expr(
            "CASE WHEN n1 > 0e0 AND n0 > 0e0 THEN n1 * (s1 / n1 - s0 / n0) ELSE 0e0 END"))
            .over(w).cast("double"))
          .withColumn("attd", T.xsumD(expr(
            "CASE WHEN n1 > 0e0 AND n0 > 0e0 THEN n1 ELSE 0e0 END"))
            .over(w).cast("double"))
          .selectExpr("stratum",
            "CAST(n1 AS BIGINT) AS n_treated", "CAST(n0 AS BIGINT) AS n_control",
            "round(CASE WHEN n1 > 0e0 AND n0 > 0e0 THEN s1 / n1 - s0 / n0 END, 6) AS diff",
            "round(attn / attd, 6) AS att")
          .orderBy("stratum")
      },
      Some {
        s"""WITH $sqlPropensityChain,
                 sc0 AS (SELECT y AS tr, yv,
                     greatest(1e-2, least(99e-2,
                       CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE))) AS e
                   FROM d, b2),
                 mm AS (SELECT min(e) AS emin, max(e) AS emax FROM sc0),
                 sc AS (SELECT tr, yv,
                     least(4, CAST(floor((e - emin) / ((emax - emin) / 5e0)) AS INT)) AS stratum
                   FROM sc0, mm),
                 g AS (SELECT stratum,
                     ${T.sqlXsum("tr")} AS n1, ${T.sqlXsum("1e0 - tr")} AS n0,
                     ${T.sqlXsum("tr * yv")} AS s1,
                     ${T.sqlXsum("(1e0 - tr) * yv")} AS s0
                   FROM sc GROUP BY stratum),
                 t AS (SELECT stratum, n1, n0, s1, s0,
                     CAST(sum(CAST(CASE WHEN n1 > 0e0 AND n0 > 0e0
                         THEN n1 * (s1 / n1 - s0 / n0) ELSE 0e0 END AS DECIMAL(30,12)))
                       OVER () AS DOUBLE) AS attn,
                     CAST(sum(CAST(CASE WHEN n1 > 0e0 AND n0 > 0e0
                         THEN n1 ELSE 0e0 END AS DECIMAL(30,12)))
                       OVER () AS DOUBLE) AS attd
                   FROM g)
               SELECT stratum,
                 CAST(n1 AS BIGINT) AS n_treated, CAST(n0 AS BIGINT) AS n_control,
                 round(CASE WHEN n1 > 0e0 AND n0 > 0e0 THEN s1 / n1 - s0 / n0 END, 6) AS diff,
                 round(attn / attd, 6) AS att
               FROM t ORDER BY stratum"""
      }),

    QueryDef(
      "ml_mcfadden_r2",
      // McFadden's pseudo-R² (1974) for the shared logreg fit — the
      // goodness-of-fit number the ml_logreg_* family was missing
      // (R² has no direct analog under Bernoulli likelihood; 1 − LL/LL₀
      // is the standard substitute): LL from ONE scoring pass over the
      // fitted σ(a+bx) (μ REAL-collapsed, per-row log-likelihood
      // ln REAL-collapsed, summed on the exact wire), LL₀ in closed form
      // from the base rate. Also emits the AIC = 2k − 2LL companion.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val ab = Seq((a, b)).toDF("ca", "cb")
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
          .transform(T.fanOut(_))
        d.crossJoin(broadcast(ab))
          .selectExpr("y",
            "CAST(CAST(1.0 / (1.0 + exp(-(ca + cb * x))) AS FLOAT) AS DOUBLE) AS mu")
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("y")).as("n1"),
            T.xsum(expr(
              "y * CAST(CAST(ln(mu) AS FLOAT) AS DOUBLE) + (1e0 - y) * CAST(CAST(ln(1e0 - mu) AS FLOAT) AS DOUBLE)")).as("ll"))
          .selectExpr("n", "ll", "n1 / n AS p0")
          .selectExpr("CAST(n AS BIGINT) AS n", "round(ll, 4) AS log_lik",
            s"n * (p0 * $lnR_p0 + (1e0 - p0) * $lnR_1mp0) AS ll0")
          .selectExpr("n", "log_lik", "round(ll0, 4) AS log_lik_null",
            "round(1e0 - log_lik / ll0, 6) AS mcfadden_r2",
            "round(4e0 - 2e0 * log_lik, 4) AS aic")
      },
      Some(s"""WITH $sqlIrlsChain,
               sc AS (SELECT y,
                   CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                 FROM d, b3),
               ag AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   ${T.sqlXsum("y")} AS n1,
                   ${T.sqlXsum("y * CAST(CAST(ln(mu) AS REAL) AS DOUBLE) + (1e0 - y) * CAST(CAST(ln(1e0 - mu) AS REAL) AS DOUBLE)")} AS ll
                 FROM sc),
               p AS (SELECT n, ll, n1 / n AS p0 FROM ag),
               l0 AS (SELECT CAST(n AS BIGINT) AS n, round(ll, 4) AS log_lik,
                   n * (p0 * $lnR_p0 + (1e0 - p0) * $lnR_1mp0) AS ll0
                 FROM p)
               SELECT n, log_lik, round(ll0, 4) AS log_lik_null,
                 round(1e0 - log_lik / ll0, 6) AS mcfadden_r2,
                 round(4e0 - 2e0 * log_lik, 4) AS aic
               FROM l0""")),

    QueryDef(
      "ml_cohen_kappa",
      // Cohen's kappa between the engine's TWO multiclass meta-strategies
      // (ml_ovr_classifier vs ml_ovo_classifier predictions on the same
      // rows) — chance-corrected inter-model agreement, the metric a
      // shadow-deploy comparison reports: po = observed agreement, pe =
      // Σ_k p_ovr(k)·p_ovo(k) from the marginals, κ = (po − pe)/(1 − pe).
      // Both classifiers solve from their one-pass moments and broadcast
      // into ONE shared scoring pass; the agreement contingency is a
      // bounded 3×3 aggregate. pe is computed from the TWO marginal
      // distributions joined on class — not from diagonal contingency
      // cells, which silently drop a class's marginal product whenever
      // both models predict class k but never on the same row (the (k,k)
      // cell is then absent from the groupBy output). A class missing
      // from ONE side's marginal contributes 0 to pe, so the inner join
      // on k is exact.
      (s, dir) => {
        val preds = Supervised.ovrOvoPreds(s, dir)
        // PINNED (r14): the ≤9-row contingency is referenced by FOUR
        // downstream aggregates (tot/rm/cm/po) — left lazy, each re-ran
        // the whole scoring chain including both broadcast moment passes
        // (~12 corpus passes for a 3×3 table)
        val ct = T.pin(preds.groupBy("p_ovr", "p_ovo").agg(count(lit(1)).as("n")))
        val tot = ct.agg(sum(col("n")).cast("double").as("tot"))
        val rm = ct.groupBy(col("p_ovr").as("k")).agg(sum(col("n")).as("nr"))
        val cm = ct.groupBy(col("p_ovo").as("k")).agg(sum(col("n")).as("nc"))
        val pe = rm.join(cm, "k").crossJoin(broadcast(tot))
          .agg(T.xsum((col("nr").cast("double") / col("tot")) *
            (col("nc").cast("double") / col("tot"))).as("pe"))
        val po = ct.crossJoin(broadcast(tot))
          .selectExpr(
            "CASE WHEN p_ovr = p_ovo THEN CAST(n AS DOUBLE) ELSE 0e0 END / tot AS po_term")
          .agg(T.xsum(col("po_term")).as("po"))
        po.crossJoin(broadcast(pe))
          .selectExpr("round(po, 6) AS p_observed", "round(pe, 6) AS p_expected",
            "round((po - pe) / (1e0 - pe), 6) AS kappa")
      },
      Some(s"""WITH ${Supervised.sqlOvrOvoPreds},
                 ct AS (SELECT p_ovr, p_ovo, count(*) AS n
                        FROM preds GROUP BY p_ovr, p_ovo),
                 tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM ct),
                 rm AS (SELECT p_ovr AS k, sum(n) AS nr FROM ct GROUP BY p_ovr),
                 cm AS (SELECT p_ovo AS k, sum(n) AS nc FROM ct GROUP BY p_ovo),
                 pe AS (SELECT ${T.sqlXsum(
                     "(CAST(nr AS DOUBLE) / tot) * (CAST(nc AS DOUBLE) / tot)")} AS pe
                   FROM rm JOIN cm USING (k), tot),
                 po AS (SELECT ${T.sqlXsum(
                     "CASE WHEN p_ovr = p_ovo THEN CAST(n AS DOUBLE) ELSE 0e0 END / tot")} AS po
                   FROM ct, tot)
               SELECT round(po, 6) AS p_observed, round(pe, 6) AS p_expected,
                 round((po - pe) / (1e0 - pe), 6) AS kappa
               FROM po, pe""")),

    QueryDef(
      "ml_roc_auc",
      // cuml.metrics roc_auc_score [R] for the 1-feature logistic scores:
      // AUC by the Mann-Whitney rank identity with tie handling, computed
      // from the DISTINCT-score histogram — μ is a function of quantity
      // (≤ ~50 distinct values), so the per-score (pos, neg) table is
      // bounded and the cumulative window runs over aggregated rows, never
      // the corpus (the agg_approx_quantile discipline). AUC =
      // Σ_g pos_g·(cumneg_<g + neg_g/2) / (NP·NN) — integer counts and
      // exact halves, deterministic cross-engine; the one unpartitioned
      // window is over the bounded histogram.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
          .transform(T.fanOut(_))
        val ab = Seq((a, b)).toDF("ca", "cb")
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
          .cast("float")
        val g = d.crossJoin(broadcast(ab))
          .select(col("y"), mu.as("mu"))
          .groupBy("mu")
          .agg(sum(col("y")).as("pos"), (count(lit(1)) - sum(col("y"))).as("neg"))
        val w = Window.orderBy(col("mu"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val c = g.withColumn("cumneg", coalesce(sum(col("neg")).over(w), lit(0L)))
        val num = c.agg(T.xsum(col("pos").cast("double") *
          (col("cumneg").cast("double") + col("neg").cast("double") / lit(2.0))).as("num"))
        val tot = g.agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
        num.crossJoin(tot)
          .select(
            round(col("num") / (col("n_pos") * col("n_neg")).cast("double"), 6).as("auc"),
            col("n_pos"), col("n_neg"))
      },
      Some(s"""WITH $sqlIrlsChain,
                 scored AS (SELECT y,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM d, b3),
                 g AS (SELECT mu, CAST(sum(y) AS BIGINT) AS pos,
                         CAST(count(*) - sum(y) AS BIGINT) AS neg
                       FROM scored GROUP BY mu),
                 c AS (SELECT *, coalesce(sum(neg) OVER (ORDER BY mu
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
                       FROM g),
                 num AS (SELECT ${T.sqlXsum(
                     "CAST(pos AS DOUBLE) * (CAST(cumneg AS DOUBLE) + CAST(neg AS DOUBLE) / 2.0)")} AS num
                         FROM c),
                 tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                           CAST(sum(neg) AS BIGINT) AS n_neg FROM g)
               SELECT round(num / CAST(n_pos * n_neg AS DOUBLE), 6) AS auc, n_pos, n_neg
               FROM num, tot""")),

    QueryDef(
      "ml_roc_curve",
      // cuml.metrics.roc_curve [R] for the same 1-feature logistic scores:
      // the actual (fpr, tpr) operating points behind ml_roc_auc's scalar,
      // one row per DISTINCT threshold in descending-score order (sklearn's
      // thresholds contract; the leading (0,0) virtual point is implied by
      // the first row and not emitted). Same bounded DISTINCT-score
      // histogram as ml_roc_auc — μ is a function of quantity (≤ ~50
      // distinct values), so the cumulative ≥-threshold window runs over
      // aggregated rows, never the corpus. Counts are exact BIGINTs;
      // fpr/tpr are single-division doubles rounded at 6.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
          .transform(T.fanOut(_))
        val ab = Seq((a, b)).toDF("ca", "cb")
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
          .cast("float")
        val g = d.crossJoin(broadcast(ab))
          .select(col("y"), mu.as("mu"))
          .groupBy("mu")
          .agg(sum(col("y")).as("pos"), (count(lit(1)) - sum(col("y"))).as("neg"))
        val w = Window.orderBy(col("mu").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = g.agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
        g.withColumn("cumpos", sum(col("pos")).over(w))
          .withColumn("cumneg", sum(col("neg")).over(w))
          .crossJoin(broadcast(tot))
          .select(round(col("mu").cast("double"), 6).as("thr"),
            round(col("cumneg").cast("double") / col("n_neg").cast("double"), 6).as("fpr"),
            round(col("cumpos").cast("double") / col("n_pos").cast("double"), 6).as("tpr"))
          .orderBy(col("thr").desc)
      },
      Some(s"""WITH $sqlIrlsChain,
                 scored AS (SELECT y,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM d, b3),
                 g AS (SELECT mu, CAST(sum(y) AS BIGINT) AS pos,
                         CAST(count(*) - sum(y) AS BIGINT) AS neg
                       FROM scored GROUP BY mu),
                 c AS (SELECT *,
                         sum(pos) OVER (ORDER BY mu DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumpos,
                         sum(neg) OVER (ORDER BY mu DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumneg
                       FROM g),
                 tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                           CAST(sum(neg) AS BIGINT) AS n_neg FROM g)
               SELECT round(mu, 6) AS thr,
                 round(CAST(cumneg AS DOUBLE) / CAST(n_neg AS DOUBLE), 6) AS fpr,
                 round(CAST(cumpos AS DOUBLE) / CAST(n_pos AS DOUBLE), 6) AS tpr
               FROM c CROSS JOIN tot ORDER BY thr DESC""")),

    QueryDef(
      "ml_avg_precision",
      // cuml.metrics average_precision_score [R] for the same 1-feature
      // logistic scores: the step-interpolation definition
      // AP = Σ_g (pos_g/NP) · precision_g over distinct thresholds in
      // DESCENDING score order (precision_g from the cumulative ≥-score
      // counts — ties grouped by construction, sklearn's form). Same
      // bounded DISTINCT-score histogram as ml_roc_auc: the cumulative
      // window runs over ≤~50 aggregated rows, never the corpus.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
          .transform(T.fanOut(_))
        val ab = Seq((a, b)).toDF("ca", "cb")
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
          .cast("float")
        val g = d.crossJoin(broadcast(ab))
          .select(col("y"), mu.as("mu"))
          .groupBy("mu")
          .agg(sum(col("y")).as("pos"), (count(lit(1)) - sum(col("y"))).as("neg"))
        val w = Window.orderBy(col("mu").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val c = g.select(col("mu"), col("pos"),
          sum(col("pos")).over(w).as("cumpos"),
          (sum(col("pos")).over(w) + sum(col("neg")).over(w)).as("cumall"))
        val tot = g.agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
        c.crossJoin(broadcast(tot))
          .select((col("pos").cast("double") / col("n_pos") *
            (col("cumpos").cast("double") / col("cumall").cast("double"))).as("term"),
            col("n_pos"), col("n_neg"))
          .groupBy("n_pos", "n_neg")
          .agg(round(T.xsum(col("term")), 6).as("avg_precision"))
          .select(col("avg_precision"), col("n_pos"), col("n_neg"))
      },
      Some(s"""WITH $sqlIrlsChain,
                 scored AS (SELECT y,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM d, b3),
                 g AS (SELECT mu, CAST(sum(y) AS BIGINT) AS pos,
                         CAST(count(*) - sum(y) AS BIGINT) AS neg
                       FROM scored GROUP BY mu),
                 c AS (SELECT mu, pos,
                         sum(pos) OVER (ORDER BY mu DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumpos,
                         sum(pos + neg) OVER (ORDER BY mu DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumall
                       FROM g),
                 tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
                           CAST(sum(neg) AS BIGINT) AS n_neg FROM g)
               SELECT round(${T.sqlXsum(
                   "CAST(pos AS DOUBLE) / n_pos * (CAST(cumpos AS DOUBLE) / CAST(cumall AS DOUBLE))")}, 6) AS avg_precision,
                 n_pos, n_neg
               FROM c CROSS JOIN tot
               GROUP BY n_pos, n_neg""")),

    QueryDef(
      "ml_precision_recall_curve",
      // cuml.metrics precision_recall_curve [R] (r7): the full bounded
      // curve behind ml_avg_precision — one (threshold, precision,
      // recall) row per distinct score, descending. Every point is a
      // ratio of exact cumulative counts over the ≤~50-row histogram;
      // the curve is a bounded output at any corpus size because the
      // score domain is (the ml_roc_auc discipline).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
          .transform(T.fanOut(_))
        val ab = Seq((a, b)).toDF("ca", "cb")
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
          .cast("float")
        val g = d.crossJoin(broadcast(ab))
          .select(col("y"), mu.as("mu"))
          .groupBy("mu")
          .agg(sum(col("y")).as("pos"), (count(lit(1)) - sum(col("y"))).as("neg"))
        val w = Window.orderBy(col("mu").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = g.agg(sum(col("pos")).as("n_pos"))
        g.select(col("mu"),
            sum(col("pos")).over(w).as("cumpos"),
            (sum(col("pos")).over(w) + sum(col("neg")).over(w)).as("cumall"))
          .crossJoin(broadcast(tot))
          .select(round(col("mu").cast("double"), 6).as("threshold"),
            round(col("cumpos").cast("double") / col("cumall").cast("double"), 6).as("precision"),
            round(col("cumpos").cast("double") / col("n_pos").cast("double"), 6).as("recall"))
          .orderBy(col("threshold").desc)
      },
      Some(s"""WITH $sqlIrlsChain,
                 scored AS (SELECT y,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM d, b3),
                 g AS (SELECT mu, CAST(sum(y) AS BIGINT) AS pos,
                         CAST(count(*) - sum(y) AS BIGINT) AS neg
                       FROM scored GROUP BY mu),
                 c AS (SELECT mu,
                         sum(pos) OVER (ORDER BY mu DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumpos,
                         sum(pos + neg) OVER (ORDER BY mu DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumall
                       FROM g),
                 tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n_pos FROM g)
               SELECT round(CAST(mu AS DOUBLE), 6) AS threshold,
                 round(CAST(cumpos AS DOUBLE) / CAST(cumall AS DOUBLE), 6) AS precision,
                 round(CAST(cumpos AS DOUBLE) / CAST(n_pos AS DOUBLE), 6) AS recall
               FROM c CROSS JOIN tot
               ORDER BY threshold DESC""")),

    QueryDef(
      "ml_log_loss",
      // cuml.metrics log_loss [R] of the same scores: −mean(y·ln p +
      // (1−y)·ln(1−p)) with the standard ε-clamp (p ∈ [1e-7, 1−1e-7] —
      // sklearn's eps discipline, and it makes ln finite even if a float
      // μ rounds to 0 or 1). Each ln is REAL-collapsed before the exact-
      // decimal sum (libm last-ulp differences, the irlsBeta discipline);
      // one map pass + one aggregate.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = irlsBeta(s, dir)
        val d = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
          .transform(T.fanOut(_))
        val ab = Seq((a, b)).toDF("ca", "cb")
        val mu = (lit(1.0) / (lit(1.0) + exp(-(col("ca") + col("cb") * col("x")))))
          .cast("float").cast("double")
        d.crossJoin(broadcast(ab))
          .select(col("y"), mu.as("mu"))
          .selectExpr("y", "least(greatest(mu, 1e-07), 1.0 - 1e-07) AS p")
          .selectExpr("-(y * CAST(CAST(ln(p) AS FLOAT) AS DOUBLE) " +
            "+ (1.0 - y) * CAST(CAST(ln(1.0 - p) AS FLOAT) AS DOUBLE)) AS addend")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("addend")) / count(lit(1)), 6).as("log_loss"))
      },
      Some(s"""WITH $sqlIrlsChain,
                 scored AS (SELECT y,
                     CAST(CAST(1.0 / (1.0 + exp(-(a + b * x))) AS REAL) AS DOUBLE) AS mu
                   FROM d, b3),
                 cl AS (SELECT y, least(greatest(mu, 1e-07), 1.0 - 1e-07) AS p FROM scored),
                 ad AS (SELECT -(y * CAST(CAST(ln(p) AS REAL) AS DOUBLE)
                          + (1.0 - y) * CAST(CAST(ln(1.0 - p) AS REAL) AS DOUBLE)) AS addend
                        FROM cl)
               SELECT count(*) AS n,
                 round(${T.sqlXsum("addend")} / count(*), 6) AS log_loss
               FROM ad""")),

    QueryDef(
      "ml_tsvd",
      // cuml.dask.decomposition TruncatedSVD [R] — the RAW-Gram sibling of
      // the centered PCA (ml_pca_covariance's comment names exactly this
      // split): σᵢ = √λᵢ(XᵀX) over the same one-pass distributed Gram
      // sufficient statistic, components via the shared deterministic
      // 20-step power iterate + Hotelling deflation, explained-variance
      // ratios off the ascending trace fold. Driver arithmetic only —
      // zero extra cluster passes beyond the (T.memo'd) Gram.
      // IEEE sqrt is correctly rounded in both engines, so σ is
      // bit-identical given the λ bit-identity the power/deflate rows pin.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val g = gram64(s, dir)
        val (lam1, u1) = powerEig64(g)
        val g2 = Array.tabulate(64, 64)((i, j) => g(i)(j) - lam1 * u1(i) * u1(j))
        val (lam2, _) = powerEig64(g2)
        var tr = g(0)(0)
        for (i <- 1 until 64) tr += g(i)(i)
        Seq((1, math.sqrt(lam1), lam1 / tr), (2, math.sqrt(lam2), lam2 / tr))
          .toDF("component", "singular_value", "explained_var_ratio")
          .select(col("component"),
            round(col("singular_value"), 4).as("singular_value"),
            round(col("explained_var_ratio"), 6).as("explained_var_ratio"))
          .orderBy("component")
      },
      Some(s"""WITH RECURSIVE
                $sqlPcaPowerCtes,
                $sqlPcaDeflateCtes,
                tr AS (SELECT list_reduce(list_transform(generate_series(1,64),
                         i -> G[i][i]), (a,b) -> a+b) AS total FROM gmat)
              SELECT component, round(singular_value, 4) AS singular_value,
                round(explained_var_ratio, 6) AS explained_var_ratio
              FROM (SELECT 1 AS component, sqrt(lam) AS singular_value,
                      lam / total AS explained_var_ratio FROM ray, tr
                    UNION ALL
                    SELECT 2, sqrt(lam2), lam2 / total FROM ray2, tr) u
              ORDER BY component""")),

    QueryDef(
      "ml_incremental_pca",
      // cuml.dask IncrementalPCA's partial_fit → merge contract [R] (r7),
      // made a first-class registered row: 4 affine-hash shards each emit
      // their RAW sufficient statistics over the first two embedding dims
      // (n, Σx1, Σx2, Σx1², Σx1x2, Σx2²), and the merged row is their
      // plain SUM — the mergeability that makes the MNMG estimator work —
      // with the top eigenvalue of the merged centered covariance in 2×2
      // closed form. Partials stay exact DECIMAL until the merge (order-
      // free), so shard count never changes the merged fit: exactly the
      // partial_fit algebra, visible and oracle-checked.
      (s, dir) => {
        val x1 = element_at(col("embedding"), 1).cast("double")
        val x2 = element_at(col("embedding"), 2).cast("double")
        val sh = T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id")))
          .groupBy(((lit(233449L) * col("vec_id") + lit(54323L))
            % lit(2147483647L) % 4).as("shard"))
          .agg(count(lit(1)).as("n"),
            T.xsumD(x1).as("s1d"), T.xsumD(x2).as("s2d"),
            T.xsumD(x1 * x1).as("s11d"), T.xsumD(x1 * x2).as("s12d"),
            T.xsumD(x2 * x2).as("s22d"))
        val shardRows = sh.select(col("shard").cast("int").as("shard"), col("n"),
          round(col("s1d").cast("double"), 6).as("s1"),
          round(col("s2d").cast("double"), 6).as("s2"),
          round(col("s11d").cast("double"), 6).as("s11"),
          round(col("s12d").cast("double"), 6).as("s12"),
          round(col("s22d").cast("double"), 6).as("s22"),
          lit(null).cast("double").as("top_eig"))
        val eigSteps = Seq(
          "nn" -> "CAST(n AS DOUBLE)",
          "m1" -> "CAST(s1d AS DOUBLE) / nn", "m2" -> "CAST(s2d AS DOUBLE) / nn",
          "c11" -> "CAST(s11d AS DOUBLE) / nn - m1 * m1",
          "c12" -> "CAST(s12d AS DOUBLE) / nn - m1 * m2",
          "c22" -> "CAST(s22d AS DOUBLE) / nn - m2 * m2",
          "eig" -> "(c11 + c22) / 2 + sqrt(((c11 - c22) / 2) * ((c11 - c22) / 2) + c12 * c12)")
        val merged0 = sh.agg(sum(col("n")).as("n"),
          sum(col("s1d")).as("s1d"), sum(col("s2d")).as("s2d"),
          sum(col("s11d")).as("s11d"), sum(col("s12d")).as("s12d"),
          sum(col("s22d")).as("s22d"))
        val mergedRow = Twin.chain(merged0, eigSteps)
          .select(lit(-1).as("shard"), col("n"),
            round(col("s1d").cast("double"), 6).as("s1"),
            round(col("s2d").cast("double"), 6).as("s2"),
            round(col("s11d").cast("double"), 6).as("s11"),
            round(col("s12d").cast("double"), 6).as("s12"),
            round(col("s22d").cast("double"), 6).as("s22"),
            round(col("eig"), 6).as("top_eig"))
        shardRows.unionByName(mergedRow).orderBy("shard")
      },
      Some(s"""WITH e AS (SELECT
                  (233449 * vec_id + 54323) % 2147483647 % 4 AS shard,
                  CAST(embedding[1] AS DOUBLE) AS x1,
                  CAST(embedding[2] AS DOUBLE) AS x2
                FROM embeddings),
                sh AS (SELECT shard, count(*) AS n,
                  ${T.sqlXsumD("x1")} AS s1d, ${T.sqlXsumD("x2")} AS s2d,
                  ${T.sqlXsumD("x1 * x1")} AS s11d, ${T.sqlXsumD("x1 * x2")} AS s12d,
                  ${T.sqlXsumD("x2 * x2")} AS s22d
                FROM e GROUP BY shard),
                m0 AS (SELECT CAST(sum(n) AS BIGINT) AS n,
                  sum(s1d) AS s1d, sum(s2d) AS s2d, sum(s11d) AS s11d,
                  sum(s12d) AS s12d, sum(s22d) AS s22d FROM sh),
                m1 AS (SELECT *, CAST(n AS DOUBLE) AS nn FROM m0),
                m2 AS (SELECT *, CAST(s1d AS DOUBLE) / nn AS m1v,
                  CAST(s2d AS DOUBLE) / nn AS m2v FROM m1),
                m3 AS (SELECT *,
                  CAST(s11d AS DOUBLE) / nn - m1v * m1v AS c11,
                  CAST(s12d AS DOUBLE) / nn - m1v * m2v AS c12,
                  CAST(s22d AS DOUBLE) / nn - m2v * m2v AS c22 FROM m2),
                m4 AS (SELECT *,
                  (c11 + c22) / 2 + sqrt(((c11 - c22) / 2) * ((c11 - c22) / 2) + c12 * c12) AS eig
                FROM m3)
              SELECT CAST(shard AS INT) AS shard, n,
                round(CAST(s1d AS DOUBLE), 6) AS s1,
                round(CAST(s2d AS DOUBLE), 6) AS s2,
                round(CAST(s11d AS DOUBLE), 6) AS s11,
                round(CAST(s12d AS DOUBLE), 6) AS s12,
                round(CAST(s22d AS DOUBLE), 6) AS s22,
                CAST(NULL AS DOUBLE) AS top_eig
              FROM sh
              UNION ALL
              SELECT -1, n,
                round(CAST(s1d AS DOUBLE), 6), round(CAST(s2d AS DOUBLE), 6),
                round(CAST(s11d AS DOUBLE), 6), round(CAST(s12d AS DOUBLE), 6),
                round(CAST(s22d AS DOUBLE), 6), round(eig, 6)
              FROM m4
              ORDER BY shard""")),

    QueryDef(
      "ml_logreg_multi",
      // LogisticRegression.fit with the FULL design (quantity, discount,
      // tax + intercept) — the last empty cell of the solver matrix
      // (eig/cd/irls × 1-feature/multi-feature). 3 Newton/IRLS steps; per
      // step one 14-sum aggregation pass and the shared-text 4×4 solve
      // (see irlsMultiBeta). P(returnflag = R | x).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val e = irlsMultiBeta(s, dir)
        Seq((e(0), e(1), e(2), e(3)))
          .toDF("intercept", "b_quantity", "b_discount", "b_tax")
          .select(round(col("intercept"), 6).as("intercept"),
            round(col("b_quantity"), 6).as("b_quantity"),
            round(col("b_discount"), 6).as("b_discount"),
            round(col("b_tax"), 6).as("b_tax"))
      },
      Some(s"""WITH $sqlIrlsMultiChain
               SELECT round(e0, 6) AS intercept, round(e1, 6) AS b_quantity,
                      round(e2, 6) AS b_discount, round(e3, 6) AS b_tax
               FROM bet3""")),

    QueryDef(
      "ml_pca_transform",
      // VERDICT r4 #5 — the transform half of the PCA estimator: project
      // every embedding onto the driver-held top-2 eigenvectors (u₁ from
      // the Gram power iterate, u₂ from the Hotelling-deflated Gram — the
      // exact state ml_pca_power/ml_pca_deflate fit) and emit per-language
      // mean component scores. The projection is the coef-broadcast shape:
      // u enters as 64 literal doubles in a per-row expression — one scan,
      // no second distributed job beyond the Gram sufficient statistic.
      // Determinism: the Scala score is the same ascending left-fold the
      // oracle's list_reduce performs ((e₁u₁ + e₂u₂) + e₃u₃ …), u₁/u₂ are
      // bit-identical cross-engine (pinned by the pca_power/deflate rows),
      // and the per-lang mean goes through the exact-decimal xsum wire.
      (s, dir) => {
        val g = gram64(s, dir)
        val (lam1, u1) = powerEig64(g)
        val g2 = Array.tabulate(64, 64)((i, j) => g(i)(j) - lam1 * u1(i) * u1(j))
        val (_, u2) = powerEig64(g2)
        def score(u: Array[Double]) = (1 to 64).map(i =>
          element_at(col("embedding"), i).cast("double") * lit(u(i - 1))).reduce(_ + _)
        T.embeddings(s, dir)
          .join(T.documents(s, dir).select(col("doc_id"), col("lang")),
            col("vec_id") === col("doc_id"))
          .select(col("lang"), score(u1).as("s1"), score(u2).as("s2"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("s1")) / count(lit(1)), 6).as("m1"),
            round(T.xsum(col("s2")) / count(lit(1)), 6).as("m2"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE
                $sqlPcaPowerCtes,
                $sqlPcaDeflateCtes,
                sc AS (SELECT d.lang,
                    list_reduce(list_transform(generate_series(1,64), i -> e.emb[i] * u[i]),
                      (x, y) -> x + y) AS s1,
                    list_reduce(list_transform(generate_series(1,64), i -> e.emb[i] * u2[i]),
                      (x, y) -> x + y) AS s2
                  FROM e JOIN documents d ON e.vec_id = d.doc_id, unit, unit2)
              SELECT lang, count(*) AS n,
                round(${T.sqlXsum("s1")} / count(*), 6) AS m1,
                round(${T.sqlXsum("s2")} / count(*), 6) AS m2
              FROM sc GROUP BY lang ORDER BY lang""")),

    QueryDef(
      "ml_pca_whiten",
      // PCA(whiten=True) — the remaining estimator parameter: components
      // rescaled to unit mean-square, w_k = s_k / √(λ_k/n). With the raw
      // Gram the identity is EXACT in algebra: Σ s_k² = uᵀG u = λ_k, so
      // the global mean square of each whitened component is 1 — emitted
      // per language so the audit is the n-weighted average of the msq
      // columns (MicroSpec-pinned ≈ 1). λ enters as the driver-held
      // literal (bit-identical cross-engine, pinned by pca_power/deflate);
      // n stays IN-PLAN (one count aggregate, no driver literal), so the
      // whitening factor is the same shared-text expression both engines
      // evaluate.
      (s, dir) => {
        val g = gram64(s, dir)
        val (lam1, u1) = powerEig64(g)
        val g2 = Array.tabulate(64, 64)((i, j) => g(i)(j) - lam1 * u1(i) * u1(j))
        val (lam2, u2) = powerEig64(g2)
        def score(u: Array[Double]) = (1 to 64).map(i =>
          element_at(col("embedding"), i).cast("double") * lit(u(i - 1))).reduce(_ + _)
        val cnt = T.embeddings(s, dir).agg(count(lit(1)).as("nn"))
        T.embeddings(s, dir)
          .join(T.documents(s, dir).select(col("doc_id"), col("lang")),
            col("vec_id") === col("doc_id"))
          .crossJoin(broadcast(cnt))
          .select(col("lang"),
            (score(u1) / sqrt(lit(lam1) / col("nn"))).as("w1"),
            (score(u2) / sqrt(lit(lam2) / col("nn"))).as("w2"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("w1")) / count(lit(1)), 6).as("mean_w1"),
            round(T.xsum(col("w2")) / count(lit(1)), 6).as("mean_w2"),
            round(T.xsum(col("w1") * col("w1")) / count(lit(1)), 6).as("msq_w1"),
            round(T.xsum(col("w2") * col("w2")) / count(lit(1)), 6).as("msq_w2"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE
                $sqlPcaPowerCtes,
                $sqlPcaDeflateCtes,
                cnt AS (SELECT count(*) AS nn FROM e),
                sc AS (SELECT d.lang,
                    list_reduce(list_transform(generate_series(1,64), i -> e.emb[i] * unit.u[i]),
                      (x, y) -> x + y) / sqrt(ray.lam / nn) AS w1,
                    list_reduce(list_transform(generate_series(1,64), i -> e.emb[i] * unit2.u2[i]),
                      (x, y) -> x + y) / sqrt(ray2.lam2 / nn) AS w2
                  FROM e JOIN documents d ON e.vec_id = d.doc_id,
                       unit, unit2, ray, ray2, cnt)
              SELECT lang, count(*) AS n,
                round(${T.sqlXsum("w1")} / count(*), 6) AS mean_w1,
                round(${T.sqlXsum("w2")} / count(*), 6) AS mean_w2,
                round(${T.sqlXsum("w1 * w1")} / count(*), 6) AS msq_w1,
                round(${T.sqlXsum("w2 * w2")} / count(*), 6) AS msq_w2
              FROM sc GROUP BY lang ORDER BY lang""")),

    QueryDef(
      "ml_pca_inverse",
      // PCA.inverse_transform (r7 — completing the reference estimator's
      // fit → transform → inverse_transform triple): reconstruction from
      // the top-2 components. The residual is computed by the Pythagorean
      // identity ‖x − x̂‖² = ‖x‖² − s₁² − s₂² (u₁⊥u₂ orthonormal — pinned
      // by the pca_deflate orthogonality check), so NO 64-dim x̂ ever
      // materializes: one scan emits per-language mean squared norm, mean
      // squared reconstruction residual, and the retained-energy ratio.
      // The identity is evaluated as one shared-text IEEE expression on
      // scores both engines derived identically; sums ride the exact wire.
      (s, dir) => {
        val g = gram64(s, dir)
        val (lam1, u1) = powerEig64(g)
        val g2 = Array.tabulate(64, 64)((i, j) => g(i)(j) - lam1 * u1(i) * u1(j))
        val (_, u2) = powerEig64(g2)
        def score(u: Array[Double]) = (1 to 64).map(i =>
          element_at(col("embedding"), i).cast("double") * lit(u(i - 1))).reduce(_ + _)
        val nrm2 = (1 to 64).map(i =>
          element_at(col("embedding"), i).cast("double") *
            element_at(col("embedding"), i).cast("double")).reduce(_ + _)
        T.embeddings(s, dir)
          .join(T.documents(s, dir).select(col("doc_id"), col("lang")),
            col("vec_id") === col("doc_id"))
          .select(col("lang"), nrm2.as("n2"), score(u1).as("s1"), score(u2).as("s2"))
          .select(col("lang"), col("n2"),
            (col("n2") - col("s1") * col("s1") - col("s2") * col("s2")).as("err"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            T.xsum(col("n2")).as("st"), T.xsum(col("err")).as("se"))
          .selectExpr("lang", "n",
            "round(st / n, 6) AS mean_norm2",
            "round(se / n, 6) AS mean_resid2",
            "round(1e0 - se / st, 6) AS recon_ratio")
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE
                $sqlPcaPowerCtes,
                $sqlPcaDeflateCtes,
                sc AS (SELECT d.lang,
                    list_reduce(list_transform(generate_series(1,64), i -> e.emb[i] * e.emb[i]),
                      (x, y) -> x + y) AS n2,
                    list_reduce(list_transform(generate_series(1,64), i -> e.emb[i] * u[i]),
                      (x, y) -> x + y) AS s1,
                    list_reduce(list_transform(generate_series(1,64), i -> e.emb[i] * u2[i]),
                      (x, y) -> x + y) AS s2
                  FROM e JOIN documents d ON e.vec_id = d.doc_id, unit, unit2),
                er AS (SELECT lang, n2, n2 - s1 * s1 - s2 * s2 AS err FROM sc),
                gg AS (SELECT lang, count(*) AS n,
                    ${T.sqlXsum("n2")} AS st, ${T.sqlXsum("err")} AS se
                  FROM er GROUP BY lang)
              SELECT lang, n,
                round(st / n, 6) AS mean_norm2,
                round(se / n, 6) AS mean_resid2,
                round(1e0 - se / st, 6) AS recon_ratio
              FROM gg ORDER BY lang""")),

    QueryDef(
      "ml_kmeans_pp_init",
      // VERDICT r4 #9 — real K-Means initialization (the gap: iterate
      // seeds from `vec_id < 10`). Deterministic k-means++-style seeding,
      // engine-reproducible: seed 1 is the argmin of the affine hash
      // (387143·id + 31337) mod p — a pseudo-random but deterministic
      // pick; seeds 2..10 are farthest-point: argmax over points of the
      // min distance to the chosen set, ties broken by id (the
      // deterministic twin of kmeans++'s D²-weighted sampling — same
      // spread guarantee, no RNG to disagree over). Driver holds the
      // growing center set (≤ K×64 floats — cuML's client-held init
      // state); each step is one broadcast(centers) × streamed-points
      // aggregation, K−1 passes total. Output: (step, chosen id,
      // separation = distance to the prior set).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val e = T.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
          .transform(T.fanOut(_, col("vec_id")))
        val h = (lit(387143L) * col("vec_id") + lit(31337L)) % lit(2147483647L)
        val first = e.orderBy(h, col("vec_id")).limit(1).collect()(0)
        val chosen = scala.collection.mutable.ArrayBuffer[(Int, Long, Seq[Float], Double)](
          (1, first.getLong(0), first.getSeq[Float](1), 0.0))
        for (step <- 2 to 10) {
          val cent = chosen.toSeq.map { case (_, id, emb, _) => (id, emb) }
            .toDF("cid", "c_emb")
          val d = graft.functions.Vec.l2(s, "embedding", "c_emb")
          // the embedding rides the group key (as in the oracle's GROUP BY
          // e.vec_id, e.emb) so the chosen vector comes back in the same
          // single job — one pass per step, not a pass plus a point fetch
          val far = e.crossJoin(broadcast(cent))
            .select(col("vec_id"), col("embedding"), d.as("d"))
            .groupBy("vec_id", "embedding").agg(min(col("d")).as("d"))
            .orderBy(col("d").desc, col("vec_id").asc).limit(1).collect()(0)
          chosen += ((step, far.getLong(0), far.getSeq[Float](1), far.getDouble(2)))
        }
        chosen.toSeq.map { case (st, id, _, d) => (st, id, d) }
          .toDF("step", "cid", "sep")
          .select(col("step"), col("cid"), round(col("sep"), 6).as("sep"))
          .orderBy("step")
      },
      Some {
        val steps = (2 to 10).map { j =>
          s"""d$j AS (SELECT e.vec_id, e.emb, min(list_distance(e.emb, c.emb)) AS d
                FROM e CROSS JOIN c${j - 1} c GROUP BY e.vec_id, e.emb),
              s$j AS (SELECT vec_id, emb, d, $j AS step FROM d$j ORDER BY d DESC, vec_id LIMIT 1),
              c$j AS (SELECT vec_id, emb FROM c${j - 1} UNION ALL SELECT vec_id, emb FROM s$j)"""
        }.mkString(",\n              ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
              s1 AS (SELECT vec_id, emb, CAST(0.0 AS DOUBLE) AS d, 1 AS step FROM e
                     ORDER BY (387143 * vec_id + 31337) % 2147483647, vec_id LIMIT 1),
              c1 AS (SELECT vec_id, emb FROM s1),
              $steps
            SELECT step, vec_id AS cid, round(d, 6) AS sep
            FROM (${(1 to 10).map(j => s"SELECT step, vec_id, d FROM s$j").mkString(" UNION ALL ")}) u
            ORDER BY step"""
      }),

    QueryDef(
      "ml_kmeans_scalable_init",
      // k-means‖ (Bahmani et al. 2012, "Scalable K-Means++" — VERDICT r11
      // missing #2): the 100 TB replacement for ml_kmeans_pp_init's K−1
      // sequential passes. Each of R=3 passes oversamples ~ℓ=2k candidates
      // in ONE broadcast(candidates) × streamed-points pass, so init is
      // O(R) scans instead of O(K). Bahmani's independent coin flip
      // p = min(1, ℓ·d²(x,C)/φ) is derandomized with the same affine-hash
      // discipline as ml_kmeans_pp_init: the coin is the hash of
      // (vec_id, pass) normalized to [0,1) — deterministic, engine-
      // reproducible, and faithful to the expected-ℓ oversampling. The
      // driver holds only the candidate set (≤ 1+R·2ℓ × 64 floats — the
      // cuML client-held init state); φ crosses passes on the exact
      // DECIMAL(30,12) wire so the next threshold is bit-identical
      // cross-engine. Output: per pass, |C| and the clustering cost φ
      // (monotone ↓ — the paper's Theorem 1 contraction, visible in data).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        bahmaniRun(s, dir)._1.toDF("pass", "n_candidates", "phi")
          .select(col("pass"), col("n_candidates"), round(col("phi"), 6).as("phi"))
          .orderBy("pass")
      },
      Some {
        s"""WITH $sqlBahmaniCtes
            SELECT pass, n_candidates, phi FROM (
              ${(0 to 3).map(p =>
                s"""SELECT $p AS pass, (SELECT count(*) FROM k$p) AS n_candidates,
                    (SELECT round(phi, 6) FROM p$p) AS phi""").mkString(" UNION ALL ")}) u
            ORDER BY pass"""
      }),

    QueryDef(
      "ml_kmeans_parallel_recluster",
      // k-means‖ FINISH (Bahmani 2012 §3.3, steps 7–8): the oversampled
      // candidate set is weighted by how many corpus points each candidate
      // is nearest to (ONE broadcast(candidates) × points pass —
      // nearest-pick deterministic via (distance, cid) ordering), then the
      // weighted candidates — a driver-held table of ≤ ~70 rows — are
      // reclustered to k = 10 by weighted farthest-point: seed = argmax
      // weight, then argmax of w(c)·d²(c, chosen) per step (the
      // deterministic twin of weighted k-means++ over candidates, the
      // powerEig64 driver-math discipline — the oracle unrolls the same 9
      // picks as CTEs). Output: the 10 selected centers with their weight
      // and pick score. This is the complete 100 TB init: O(R) corpus
      // passes + one weighting pass + local recluster over ℓ·R rows.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val cand = bahmaniRun(s, dir)._2
        val cd = cand.toDF("cid", "c_emb")
        val e = T.embeddings(s, dir)
          .select(col("vec_id"), col("embedding"))
          .transform(T.fanOut(_, col("vec_id")))
        val wNear = Window.partitionBy(col("vec_id"))
          .orderBy(col("d").asc, col("cid").asc)
        val weights = e.crossJoin(broadcast(cd))
          .select(col("vec_id"), col("cid"),
            graft.functions.Vec.l2(s, "embedding", "c_emb").as("d"))
          .withColumn("rn", row_number().over(wNear))
          .where(col("rn") === 1)
          .groupBy("cid").agg(count(lit(1)).as("w"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // driver-held weighted candidates. A candidate whose embedding
        // exactly duplicates a lower-cid candidate loses every nearest
        // tie (ordering is (d, cid)) and gets NO points — it carries zero
        // mass and is dropped, mirroring the oracle's inner join on wts.
        val cw = cand.flatMap { case (cid, emb) =>
          weights.get(cid).map(w => (cid, emb.map(_.toDouble).toArray, w))
        }
        def l2(a: Array[Double], b: Array[Double]): Double = {
          var acc = 0.0; var i = 0
          while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
          math.sqrt(acc)
        }
        val first = cw.maxBy { case (cid, _, w) => (w, -cid) }
        var chosen = Seq(first)
        val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Double)](
          (1, first._1, first._3, 0.0))
        for (step <- 2 to 10) {
          // already-chosen cids leave the pick pool (ADVICE r12 #1): a
          // chosen candidate scores w·0² = 0, and on a degenerate corpus
          // where every REMAINING candidate also scores 0 (exact
          // duplicates of chosen centers) the (score, -cid) maxBy would
          // re-pick a chosen cid — duplicate centers, silently green
          // because the oracle mirrored the flaw. Exclusion (mirrored as
          // NOT IN in the oracle CTEs) keeps the k-distinct contract.
          val chosenIds = chosen.map(_._1).toSet
          val pick = cw
            .filter { case (cid, _, _) => !chosenIds(cid) }
            .map { case (cid, emb, w) =>
              val dm = chosen.map(c => l2(emb, c._2)).min
              (cid, emb, w, w * (dm * dm))
            }
            .maxBy { case (cid, _, _, score) => (score, -cid) }
          chosen = chosen :+ ((pick._1, pick._2, pick._3))
          out += ((step, pick._1, pick._3, pick._4))
        }
        out.toSeq.toDF("step", "cid", "weight", "score")
          .select(col("step"), col("cid"), col("weight"),
            round(col("score"), 6).as("score"))
          .orderBy("step")
      },
      Some {
        val steps = (2 to 10).map { j =>
          s"""g$j AS (SELECT c.cid, c.emb, c.w,
                  min(list_distance(c.emb, ch.emb)) AS dm
                FROM cw c CROSS JOIN ch${j - 1} ch
                WHERE c.cid NOT IN (SELECT cid FROM ch${j - 1})
                GROUP BY c.cid, c.emb, c.w),
              r$j AS (SELECT cid, emb, w, w * (dm * dm) AS score, $j AS step
                FROM g$j ORDER BY w * (dm * dm) DESC, cid LIMIT 1),
              ch$j AS (SELECT cid, emb FROM ch${j - 1} UNION ALL SELECT cid, emb FROM r$j)"""
        }.mkString(",\n              ")
        s"""WITH $sqlBahmaniCtes,
              near AS (SELECT e.vec_id, c.vec_id AS cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY list_distance(e.emb, c.emb), c.vec_id) AS rn
                FROM e CROSS JOIN k3 c),
              wts AS (SELECT cid, count(*) AS w FROM near WHERE rn = 1 GROUP BY cid),
              cw AS (SELECT k3.vec_id AS cid, k3.emb, wts.w
                FROM k3 JOIN wts ON wts.cid = k3.vec_id),
              r1 AS (SELECT cid, emb, w, CAST(0 AS DOUBLE) AS score, 1 AS step
                FROM cw ORDER BY w DESC, cid LIMIT 1),
              ch1 AS (SELECT cid, emb FROM r1),
              $steps
            SELECT step, cid, w AS weight, round(score, 6) AS score
            FROM (${(1 to 10).map(j => s"SELECT step, cid, w, score FROM r$j").mkString(" UNION ALL ")}) u
            ORDER BY step"""
      }),

    QueryDef(
      "ml_model_save_load",
      // Fitted-model persistence roundtrip (VERDICT r11 missing #4 — the
      // deploy boundary every real pipeline crosses, cuML's joblib.dump/
      // load): the gram4-solved OLS coefficient row (x0 intercept +
      // x1..x3 slopes, the ml_linreg_multi fit) is EXPORTED as a parquet
      // model artifact, re-READ in a fresh scan, and the RELOADED
      // coefficients score lineitem per returnflag through the exact-
      // moment wire (mean prediction = x0 + (x1·Σq + x2·Σd + x3·Σt)/n —
      // sufficient statistics, so scoring is one aggregation, never a
      // second pass). Parquet doubles are lossless, so the reloaded fit
      // is bit-identical to the in-session fit — MicroSpec pins that
      // equality; this row proves the artifact boundary end-to-end
      // against the oracle, which re-derives the same fit from raw data.
      (s, dir) => {
        val path = s"/tmp/graft_io/model_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"
        gaussSolved(s, dir).select(col("x0"), col("x1"), col("x2"), col("x3"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
        val model = s.read.parquet(path)
        val g = T.lineitem(s, dir).groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          e4(sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(19, 6)))).as("s_q"),
          e4(sum(col("l_discount").cast(org.apache.spark.sql.types.DecimalType(19, 6)))).as("s_d"),
          e4(sum(col("l_tax").cast(org.apache.spark.sql.types.DecimalType(19, 6)))).as("s_t"))
        g.crossJoin(broadcast(model))
          .selectExpr("l_returnflag", "n",
            "round(x0 + (x1 * (s_q / 1e4) + x2 * (s_d / 1e4) + x3 * (s_t / 1e4)) / CAST(n AS DOUBLE), 6) AS mean_pred")
          .orderBy("l_returnflag")
      },
      Some(s"""WITH $sqlGaussChain,
               g AS (SELECT l_returnflag, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(19,6))) * 10000 AS BIGINT) AS s_q,
                   CAST(sum(CAST(l_discount AS DECIMAL(19,6))) * 10000 AS BIGINT) AS s_d,
                   CAST(sum(CAST(l_tax AS DECIMAL(19,6))) * 10000 AS BIGINT) AS s_t
                 FROM lineitem GROUP BY l_returnflag)
             SELECT l_returnflag, n,
               round(x0 + (x1 * (s_q / 1e4) + x2 * (s_d / 1e4) + x3 * (s_t / 1e4)) / CAST(n AS DOUBLE), 6) AS mean_pred
             FROM g CROSS JOIN $sqlGaussFinal ORDER BY l_returnflag""")),

    QueryDef(
      "ml_ridge_multi",
      // VERDICT r5 #3 — multi-feature Ridge.fit (the reference Ridge's
      // `eig` contract, 3 features + unpenalized intercept): the SAME
      // distributed gram4 sufficient-statistic row as ml_linreg_multi, then
      // the centered 3×3 system (C + αI)·b = c_y solved by the unrolled
      // symbolic elimination — cluster work stays ONE aggregation, the
      // solve is a scalar expression cascade whose text feeds both engines
      // verbatim (the Twin.gauss discipline). α = 1000 matches
      // ml_ridge_fit's 1-feature closed form, which this generalizes.
      (s, dir) => Twin.chain(gram4Row(s, dir), ridgeSteps).select(
        round(col("rgb0"), 6).as("intercept"),
        round(col("rgx0"), 6).as("b_quantity"),
        round(col("rgx1"), 6).as("b_discount"),
        round(col("rgx2"), 6).as("b_tax")),
      Some {
        val (ctes, fin) = Twin.ctes(ridgeSteps, "m", "r")
        s"""WITH m AS ($sqlGram4),
                $ctes
              SELECT round(rgb0, 6) AS intercept, round(rgx0, 6) AS b_quantity,
                     round(rgx1, 6) AS b_discount, round(rgx2, 6) AS b_tax
              FROM $fin"""
      }),

    QueryDef(
      "ml_lasso_multi",
      // VERDICT r5 #4 — multi-feature Lasso.fit via 3 unrolled coordinate-
      // descent sweeps over the centered gram4 statistics (the reference's
      // `cd` solver): every update soft-thresholds a residual cross-moment
      // (see cdSteps) — pure scalar arithmetic on the one moment row, no
      // extra cluster pass, shared text in both engines. λ = 1000 as
      // ml_lasso_fit (which is the 1-feature fixed point of this loop).
      (s, dir) => Twin.chain(gram4Row(s, dir), lassoMultiSteps).select(
        round(col("lsbint"), 6).as("intercept"),
        round(col("lsb3_0"), 6).as("b_quantity"),
        round(col("lsb3_1"), 6).as("b_discount"),
        round(col("lsb3_2"), 6).as("b_tax")),
      Some {
        val (ctes, fin) = Twin.ctes(lassoMultiSteps, "m", "l")
        s"""WITH m AS ($sqlGram4),
                $ctes
              SELECT round(lsbint, 6) AS intercept, round(lsb3_0, 6) AS b_quantity,
                     round(lsb3_1, 6) AS b_discount, round(lsb3_2, 6) AS b_tax
              FROM $fin"""
      }),

    QueryDef(
      "ml_elasticnet_multi",
      // Multi-feature ElasticNet.fit: the same 3-sweep CD unrolling with
      // the L2 term in the update denominator (λ1 = λ2 = 500, matching
      // ml_elasticnet_fit's 1-feature closed form). Completes the
      // reference's solver matrix: eig (ridge/OLS) and cd (lasso/enet),
      // both 1- and multi-feature.
      (s, dir) => Twin.chain(gram4Row(s, dir), enetMultiSteps).select(
        round(col("enbint"), 6).as("intercept"),
        round(col("enb3_0"), 6).as("b_quantity"),
        round(col("enb3_1"), 6).as("b_discount"),
        round(col("enb3_2"), 6).as("b_tax")),
      Some {
        val (ctes, fin) = Twin.ctes(enetMultiSteps, "m", "w")
        s"""WITH m AS ($sqlGram4),
                $ctes
              SELECT round(enbint, 6) AS intercept, round(enb3_0, 6) AS b_quantity,
                     round(enb3_1, 6) AS b_discount, round(enb3_2, 6) AS b_tax
              FROM $fin"""
      }),

    QueryDef(
      "ml_ridge_sparse",
      // Ridge over SPARSE input (r8 — VERDICT r7 missing #4: cuML accepts
      // sparse X [R]; this is the CSR-path normal-equation shape): the
      // design matrix is the (doc_id, feature, value) COO long form of a
      // 3-bucket HashingVectorizer over document tokens — NEVER
      // densified. The Gram matrix comes from the sparse SELF-JOIN on
      // doc_id (cost Σ_d nnz_d², zeros contribute nothing — exactly how a
      // distributed sparse solver assembles XᵀX), the cross-moments from
      // one join against the target, and centering handles the implicit
      // zeros algebraically (c_ij = S_ij − S_i·S_j/n is exact when absent
      // entries are 0). α = 100 ridge solved by the shared unrolled
      // elimination; scoring is the sparse dot product — a groupBy(doc)
      // over PRESENT entries only, absent features contributing their
      // true 0. Target y = n_chars/100. All sums on the bit-identical
      // sumE12 wire (the gram4 discipline — the elimination amplifies
      // input ulps).
      (s, dir) => {
        val toks = T.documents(s, dir).transform(T.fanOut(_, col("doc_id")))
          .select(col("doc_id"),
            explode(filter(split(col("text"), " "), t => t =!= "")).as("term"))
        val lf = toks
          .select(col("doc_id"), (T.polyTid("term") % 3).as("h"))
          .groupBy("doc_id", "h").agg(count(lit(1)).cast("double").as("v"))
        val yd = T.documents(s, dir).select(col("doc_id"), col("source"),
          (col("n_chars").cast("double") / lit(100.0)).as("y"))
        val pairs = for (i <- 0 to 2; j <- i to 2) yield (i, j)
        val gr = lf.select(col("doc_id"), col("h").as("ia"), col("v").as("va"))
          .join(lf.select(col("doc_id"), col("h").as("jb"), col("v").as("vb")), "doc_id")
          .agg(
            T.sumE12(expr(s"CASE WHEN ia = 0 AND jb = 0 THEN va * vb END")).as("s_g00"),
            pairs.tail.map { case (i, j) =>
              T.sumE12(expr(s"CASE WHEN ia = $i AND jb = $j THEN va * vb END")).as(s"s_g$i$j")
            }: _*)
        val xy = lf.join(yd, "doc_id")
          .agg(
            T.sumE12(expr("CASE WHEN h = 0 THEN v END")).as("s_s0"),
            (1 to 2).map(i =>
              T.sumE12(expr(s"CASE WHEN h = $i THEN v END")).as(s"s_s$i")) ++
            (0 to 2).map(i =>
              T.sumE12(expr(s"CASE WHEN h = $i THEN v * y END")).as(s"s_x${i}y")): _*)
        val ym = yd.agg(count(lit(1)).as("n"), T.sumE12(col("y")).as("s_sy"))
        val m = gr.crossJoin(xy).crossJoin(ym)
          .selectExpr(Seq("CAST(n AS DOUBLE) AS nn") ++
            pairs.map { case (i, j) => s"${T.bitsE12(s"s_g$i$j")} AS g$i$j" } ++
            (0 to 2).map(i => s"${T.bitsE12(s"s_s$i")} AS s$i") ++
            (0 to 2).map(i => s"${T.bitsE12(s"s_x${i}y")} AS x${i}y") ++
            Seq(s"${T.bitsE12("s_sy")} AS sy"): _*)
        val coefs = Twin.chain(m, sparseRidgeSteps)
          .selectExpr("srx0 AS c0", "srx1 AS c1", "srx2 AS c2", "srb0 AS b0")
        val contrib = lf.crossJoin(broadcast(coefs))
          .selectExpr("doc_id",
            "CAST(v * (CASE h WHEN 0 THEN c0 WHEN 1 THEN c1 ELSE c2 END) AS DECIMAL(30,12)) AS t")
          .groupBy("doc_id").agg(sum(col("t")).cast("double").as("ct"))
        yd.join(contrib, Seq("doc_id"), "left").crossJoin(broadcast(coefs))
          .selectExpr("source", "y - (b0 + coalesce(ct, 0e0)) AS r",
            "c0", "c1", "c2", "b0")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(max(col("c0")), 6).as("coef0"),
            round(max(col("c1")), 6).as("coef1"),
            round(max(col("c2")), 6).as("coef2"),
            round(max(col("b0")), 6).as("intercept"),
            round(T.xsum(col("r")) / count(lit(1)), 6).as("avg_resid"),
            round(sqrt(T.xsum(col("r") * col("r")) / count(lit(1))), 6).as("rmse"))
          .orderBy("source")
      },
      Some {
        val pairs = for (i <- 0 to 2; j <- i to 2) yield (i, j)
        val (ctes, fin) = Twin.ctes(sparseRidgeSteps, "m", "spr")
        s"""WITH tk AS (SELECT doc_id,
                  unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
                FROM documents),
              lf AS (SELECT doc_id, ${T.sqlPolyTid("term")} % 3 AS h,
                  CAST(count(*) AS DOUBLE) AS v
                FROM tk GROUP BY doc_id, h),
              yd AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) / 100.0 AS y
                FROM documents),
              gr AS (SELECT
                  ${pairs.map { case (i, j) =>
                    s"${T.sqlSumE12(s"CASE WHEN a.h = $i AND b.h = $j THEN a.v * b.v END")} AS s_g$i$j"
                  }.mkString(",\n                  ")}
                FROM lf a JOIN lf b ON a.doc_id = b.doc_id),
              xy AS (SELECT
                  ${(0 to 2).map(i =>
                    s"${T.sqlSumE12(s"CASE WHEN h = $i THEN v END")} AS s_s$i").mkString(",\n                  ")},
                  ${(0 to 2).map(i =>
                    s"${T.sqlSumE12(s"CASE WHEN h = $i THEN v * y END")} AS s_x${i}y").mkString(",\n                  ")}
                FROM lf JOIN yd USING (doc_id)),
              ym AS (SELECT count(*) AS n, ${T.sqlSumE12("y")} AS s_sy FROM yd),
              m AS (SELECT CAST(n AS DOUBLE) AS nn,
                  ${pairs.map { case (i, j) => s"${T.sqlBitsE12(s"s_g$i$j")} AS g$i$j" }.mkString(",\n                  ")},
                  ${(0 to 2).map(i => s"${T.sqlBitsE12(s"s_s$i")} AS s$i").mkString(",\n                  ")},
                  ${(0 to 2).map(i => s"${T.sqlBitsE12(s"s_x${i}y")} AS x${i}y").mkString(",\n                  ")},
                  ${T.sqlBitsE12("s_sy")} AS sy
                FROM gr, xy, ym),
              $ctes,
              co AS (SELECT srx0 AS c0, srx1 AS c1, srx2 AS c2, srb0 AS b0 FROM $fin),
              contrib AS (SELECT doc_id,
                  CAST(sum(CAST(v * (CASE h WHEN 0 THEN c0 WHEN 1 THEN c1 ELSE c2 END) AS DECIMAL(30,12))) AS DOUBLE) AS ct
                FROM lf, co GROUP BY doc_id),
              scored AS (SELECT source, y - (b0 + coalesce(ct, 0e0)) AS r,
                  c0, c1, c2, b0
                FROM yd LEFT JOIN contrib USING (doc_id), co)
            SELECT source, count(*) AS n_docs,
              round(max(c0), 6) AS coef0, round(max(c1), 6) AS coef1,
              round(max(c2), 6) AS coef2, round(max(b0), 6) AS intercept,
              round(${T.sqlXsum("r")} / count(*), 6) AS avg_resid,
              round(sqrt(${T.sqlXsum("r * r")} / count(*)), 6) AS rmse
            FROM scored GROUP BY source ORDER BY source"""
      }),

    QueryDef(
      "ml_logreg_sparse",
      // Logistic regression over SPARSE input (the QN-solver sibling of
      // ml_ridge_sparse — cuML's logistic QN path accepts sparse X [R]):
      // same (doc_id, feature, value) COO long form from the 3-bucket
      // HashingVectorizer, binary target y = (lang = 'en'). Fit = 3
      // penalized IRLS steps on the COO wire (see sparseIrlsBeta — r10:
      // was one Newton step from β = 0; now iterates like the dense
      // family). Scoring is the sparse dot product over PRESENT entries +
      // the REAL-collapsed sigmoid; output = per-class calibration
      // (mean p, predicted-positive count) with the converged
      // coefficients on the wire.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val e = sparseIrlsBeta(s, dir)
        val toks = T.documents(s, dir).transform(T.fanOut(_, col("doc_id")))
          .select(col("doc_id"),
            explode(filter(split(col("text"), " "), t => t =!= "")).as("term"))
        val lf = toks
          .select(col("doc_id"), (T.polyTid("term") % 3).as("h"))
          .groupBy("doc_id", "h").agg(count(lit(1)).cast("double").as("v"))
        val yd = T.documents(s, dir).select(col("doc_id"),
          when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"))
        val coefs = Seq((e(1), e(2), e(3), e(0))).toDF("c0", "c1", "c2", "b0")
        val contrib = lf.crossJoin(broadcast(coefs))
          .selectExpr("doc_id",
            "CAST(v * (CASE h WHEN 0 THEN c0 WHEN 1 THEN c1 ELSE c2 END) AS DECIMAL(30,12)) AS t")
          .groupBy("doc_id").agg(sum(col("t")).cast("double").as("ct"))
        yd.join(contrib, Seq("doc_id"), "left").crossJoin(broadcast(coefs))
          .selectExpr("y",
            "CAST(CAST(1e0 / (1e0 + exp(-(b0 + coalesce(ct, 0e0)))) AS FLOAT) AS DOUBLE) AS p",
            "c0", "c1", "c2", "b0")
          .groupBy("y")
          .agg(count(lit(1)).as("n_docs"),
            round(max(col("c0")), 6).as("coef0"),
            round(max(col("c1")), 6).as("coef1"),
            round(max(col("c2")), 6).as("coef2"),
            round(max(col("b0")), 6).as("intercept"),
            round(T.xsum(col("p")) / count(lit(1)), 6).as("avg_p"),
            sum(expr("CASE WHEN p >= 5e-1 THEN 1 ELSE 0 END")).cast("long").as("n_pred_pos"))
          .selectExpr("CAST(y AS INT) AS actual", "n_docs", "coef0", "coef1",
            "coef2", "intercept", "avg_p", "n_pred_pos")
          .orderBy("actual")
      },
      Some {
        s"""WITH tk AS (SELECT doc_id,
                  unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
                FROM documents),
              lf AS (SELECT doc_id, ${T.sqlPolyTid("term")} % 3 AS h,
                  CAST(count(*) AS DOUBLE) AS v
                FROM tk GROUP BY doc_id, h),
              yd AS (SELECT doc_id,
                  CASE WHEN lang = 'en' THEN 1e0 ELSE 0e0 END AS y
                FROM documents),
              $sqlSparseIrlsChain,
              co AS (SELECT e1 AS c0, e2 AS c1, e3 AS c2, e0 AS b0 FROM bet3),
              contrib AS (SELECT doc_id,
                  CAST(sum(CAST(v * (CASE h WHEN 0 THEN c0 WHEN 1 THEN c1 ELSE c2 END) AS DECIMAL(30,12))) AS DOUBLE) AS ct
                FROM lf, co GROUP BY doc_id),
              scored AS (SELECT y,
                  CAST(CAST(1e0 / (1e0 + exp(-(b0 + coalesce(ct, 0e0)))) AS REAL) AS DOUBLE) AS p,
                  c0, c1, c2, b0
                FROM yd LEFT JOIN contrib USING (doc_id), co)
            SELECT CAST(y AS INT) AS actual, count(*) AS n_docs,
              round(max(c0), 6) AS coef0, round(max(c1), 6) AS coef1,
              round(max(c2), 6) AS coef2, round(max(b0), 6) AS intercept,
              round(${T.sqlXsum("p")} / count(*), 6) AS avg_p,
              CAST(sum(CASE WHEN p >= 5e-1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos
            FROM scored GROUP BY y ORDER BY actual"""
      }),

    QueryDef(
      "ml_ridge_multi_predict",
      // Ridge.predict for the multi-feature fit (VERDICT r6 #3): the
      // ml_ridge_multi chain solved in-plan, then one broadcast scoring
      // pass — per-returnflag residual diagnostics of the α=1000 model.
      (s, dir) => regMultiPredict(s, dir, ridgeSteps, "rgb0", "rgx0", "rgx1", "rgx2"),
      Some(sqlRegMultiPredict(ridgeSteps, "r", "rgb0", "rgx0", "rgx1", "rgx2"))),

    QueryDef(
      "ml_lasso_multi_predict",
      // Lasso.predict for the multi-feature CD fit: same scoring pass with
      // the soft-thresholded coefficients (exact zeros drop features from
      // the score — the sparsity contract made visible in the residuals).
      (s, dir) => regMultiPredict(s, dir, lassoMultiSteps, "lsbint", "lsb3_0", "lsb3_1", "lsb3_2"),
      Some(sqlRegMultiPredict(lassoMultiSteps, "l", "lsbint", "lsb3_0", "lsb3_1", "lsb3_2"))),

    QueryDef(
      "ml_linreg_holdout",
      // VERDICT r5 #5 — the fit(train) → score(test) composition the
      // reference estimator API implies: the deterministic affine-hash
      // split of ml_train_test_split (keyed on (orderkey, linenumber) so it
      // is reproducible and repartition-stable), OLS fit on the TRAIN
      // moments only, both splits scored against the train coefficients.
      // ONE pass: per-split exact e4 moments, the train row's coefficients
      // pulled across the 2-row aggregate by a bounded global window (the
      // ml_linreg_predict shape), residual sums expanded algebraically —
      // no second scan of lineitem, which is the 100 TB point of
      // sufficient-statistic fitting. Train-side RMSE vs test-side RMSE on
      // one wire is the generalization-gap readout.
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d6 = DecimalType(19, 6)
        val l = T.lineitem(s, dir).select(
          when((lit(48271L) * (col("l_orderkey") * 8 + col("l_linenumber")) + lit(16807L))
            % lit(2147483647L) % 100 < 80, lit("train"))
            .otherwise(lit("test")).as("split"),
          col("l_quantity").cast(d6).as("x"),
          col("l_extendedprice").cast(d6).as("y"),
          // syy is the one moment the e4 wire can NOT carry: sum(y²)·10⁴ =
          // 1.78e19 > 2⁶³ already at sf0.1 (the e4 guard caught it — r6).
          // Exact integer route instead: y in CENTS (2-dp data → ×100 is
          // integral), y² in cents² per row (≤1.21e14, fits long), summed
          // as DECIMAL(38,0) — exact at any SF.
          ((col("l_extendedprice").cast(DecimalType(18, 2)) * lit(100)).cast("long"))
            .as("yc"))
        val g = l.groupBy("split").agg(
          count(lit(1)).as("n"),
          e4(sum(col("x"))).as("sx"), e4(sum(col("y"))).as("sy"),
          e4(sum(col("x") * col("x"))).as("sxx"),
          e4(sum(col("x") * col("y"))).as("sxy"),
          sum((col("yc") * col("yc")).cast(DecimalType(38, 0))).as("syyc"))
        val w = Window.partitionBy() // global window over the 2 split rows
        def tr(c: String) = sum(when(col("split") === "train", col(c))).over(w)
        val t = g.select(col("split"), col("n"),
          (col("sx") / 1e4).as("gsx"), (col("sy") / 1e4).as("gsy"),
          (col("sxx") / 1e4).as("gsxx"), (col("sxy") / 1e4).as("gsxy"),
          // hi/lo split of the exact cents² sum into two BIGINTs (integer
          // div/mod — no decimal→double cast whose rounding could differ),
          // recombined with the SAME double ops in both engines; /1e4
          // converts cents² to the dollars² the residual algebra expects
          ((expr("syyc div 100000000").cast("double") * 1e8
            + (col("syyc") % lit(100000000L)).cast("double")) / 1e4).as("gsyy"),
          tr("n").cast("double").as("tn"),
          (tr("sx") / 1e4).as("tsx"), (tr("sy") / 1e4).as("tsy"),
          (tr("sxx") / 1e4).as("tsxx"), (tr("sxy") / 1e4).as("tsxy"))
        t.withColumn("b", expr("(tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)"))
          .withColumn("a", expr("(tsy - b * tsx) / tn"))
          .select(col("split"), col("n"),
            round(col("b"), 6).as("slope"), round(col("a"), 6).as("intercept"),
            // + 0 canonicalizes -0.0 → 0.0: the train residual is
            // algebraically zero and the float-noise SIGN differs across
            // engines (measured r6: Spark 0.0, DuckDB -0.0)
            (round(expr("(gsy - n * a - b * gsx) / n"), 6) + lit(0.0)).as("avg_resid"),
            round(expr(
              "sqrt((gsyy - 2*a*gsy - 2*b*gsxy + n*a*a + 2*a*b*gsx + b*b*gsxx) / n)"), 6)
              .as("rmse"))
          .orderBy("split")
      },
      Some("""WITH l AS (SELECT
                  CASE WHEN (48271 * (l_orderkey * 8 + l_linenumber) + 16807)
                         % 2147483647 % 100 < 80
                       THEN 'train' ELSE 'test' END AS split,
                  CAST(l_quantity AS DECIMAL(19,6)) AS x,
                  CAST(l_extendedprice AS DECIMAL(19,6)) AS y,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
                FROM lineitem),
                g AS (SELECT split, count(*) AS n,
                  CAST(sum(x) * 10000 AS BIGINT) AS sx,
                  CAST(sum(y) * 10000 AS BIGINT) AS sy,
                  CAST(sum(x * x) * 10000 AS BIGINT) AS sxx,
                  CAST(sum(x * y) * 10000 AS BIGINT) AS sxy,
                  sum(CAST(yc * yc AS DECIMAL(38,0))) AS syyc
                FROM l GROUP BY 1),
                t AS (SELECT split, n,
                  sx / 1e4 AS gsx, sy / 1e4 AS gsy, sxx / 1e4 AS gsxx,
                  sxy / 1e4 AS gsxy,
                  -- HUGEINT, not DECIMAL: DuckDB's // on DECIMAL is true
                  -- division, on HUGEINT it is the integral division that
                  -- mirrors Spark's `div` (measured r6)
                  (CAST(CAST(syyc AS HUGEINT) // 100000000 AS DOUBLE) * 1e8
                   + CAST(CAST(syyc AS HUGEINT) % 100000000 AS DOUBLE)) / 1e4 AS gsyy,
                  CAST(sum(CASE WHEN split = 'train' THEN n END) OVER () AS DOUBLE) AS tn,
                  sum(CASE WHEN split = 'train' THEN sx END) OVER () / 1e4 AS tsx,
                  sum(CASE WHEN split = 'train' THEN sy END) OVER () / 1e4 AS tsy,
                  sum(CASE WHEN split = 'train' THEN sxx END) OVER () / 1e4 AS tsxx,
                  sum(CASE WHEN split = 'train' THEN sxy END) OVER () / 1e4 AS tsxy
                FROM g),
                c AS (SELECT *,
                  (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS b
                FROM t),
                c2 AS (SELECT *, (tsy - b * tsx) / tn AS a FROM c)
              SELECT split, n, round(b, 6) AS slope, round(a, 6) AS intercept,
                round((gsy - n * a - b * gsx) / n, 6) + 0 AS avg_resid,
                round(sqrt((gsyy - 2*a*gsy - 2*b*gsxy + n*a*a + 2*a*b*gsx + b*b*gsxx) / n), 6) AS rmse
              FROM c2
              ORDER BY split""")),

    QueryDef(
      "ml_kfold_cv",
      // K-fold cross-validation (r7) — the cross_val_score workflow over
      // the 1-feature OLS: 5 leave-one-fold-out fits and their validation
      // RMSEs from ONE lineitem pass. Per-fold exact moments on the
      // ml_linreg_holdout wire; each fold's TRAIN moments are total − fold
      // via a bounded 5-row global window (sufficient statistics
      // subtract), so K folds cost one aggregation regardless of K — the
      // 100 TB point of moment-based CV. Validation RMSE by the algebraic
      // residual expansion on the fold's OWN moments (no second scan).
      // Fold assignment: a dedicated affine-hash family on (orderkey,
      // linenumber) — reproducible and repartition-stable, multiplier
      // distinct from every other registered family on this key.
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val d6 = DecimalType(19, 6)
        val l = T.lineitem(s, dir).select(
          ((lit(650087L) * (col("l_orderkey") * 8 + col("l_linenumber")) + lit(28657L))
            % lit(2147483647L) % 5).as("fold"),
          col("l_quantity").cast(d6).as("x"),
          col("l_extendedprice").cast(d6).as("y"),
          // cents² exact-integer route for sum(y²) — see ml_linreg_holdout
          ((col("l_extendedprice").cast(DecimalType(18, 2)) * lit(100)).cast("long"))
            .as("yc"))
        val g = l.groupBy("fold").agg(
          count(lit(1)).as("n"),
          e4(sum(col("x"))).as("sx"), e4(sum(col("y"))).as("sy"),
          e4(sum(col("x") * col("x"))).as("sxx"),
          e4(sum(col("x") * col("y"))).as("sxy"),
          sum((col("yc") * col("yc")).cast(DecimalType(38, 0))).as("syyc"))
        val w = Window.partitionBy() // global window over the 5 fold rows
        def tot(c: String) = sum(col(c)).over(w)
        val t = g.select(col("fold"), col("n"),
          (col("sx") / 1e4).as("gsx"), (col("sy") / 1e4).as("gsy"),
          (col("sxx") / 1e4).as("gsxx"), (col("sxy") / 1e4).as("gsxy"),
          ((expr("syyc div 100000000").cast("double") * 1e8
            + (col("syyc") % lit(100000000L)).cast("double")) / 1e4).as("gsyy"),
          (tot("n") - col("n")).cast("double").as("tn"),
          ((tot("sx") - col("sx")) / 1e4).as("tsx"),
          ((tot("sy") - col("sy")) / 1e4).as("tsy"),
          ((tot("sxx") - col("sxx")) / 1e4).as("tsxx"),
          ((tot("sxy") - col("sxy")) / 1e4).as("tsxy"))
        t.withColumn("b", expr("(tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)"))
          .withColumn("a", expr("(tsy - b * tsx) / tn"))
          .select(col("fold"), col("n"),
            round(col("b"), 6).as("slope"), round(col("a"), 6).as("intercept"),
            round(expr(
              "sqrt((gsyy - 2*a*gsy - 2*b*gsxy + n*a*a + 2*a*b*gsx + b*b*gsxx) / n)"), 6)
              .as("rmse_valid"))
          .orderBy("fold")
      },
      Some("""WITH l AS (SELECT
                  (650087 * (l_orderkey * 8 + l_linenumber) + 28657)
                    % 2147483647 % 5 AS fold,
                  CAST(l_quantity AS DECIMAL(19,6)) AS x,
                  CAST(l_extendedprice AS DECIMAL(19,6)) AS y,
                  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
                FROM lineitem),
                g AS (SELECT fold, count(*) AS n,
                  CAST(sum(x) * 10000 AS BIGINT) AS sx,
                  CAST(sum(y) * 10000 AS BIGINT) AS sy,
                  CAST(sum(x * x) * 10000 AS BIGINT) AS sxx,
                  CAST(sum(x * y) * 10000 AS BIGINT) AS sxy,
                  sum(CAST(yc * yc AS DECIMAL(38,0))) AS syyc
                FROM l GROUP BY 1),
                t AS (SELECT fold, n,
                  sx / 1e4 AS gsx, sy / 1e4 AS gsy, sxx / 1e4 AS gsxx,
                  sxy / 1e4 AS gsxy,
                  (CAST(CAST(syyc AS HUGEINT) // 100000000 AS DOUBLE) * 1e8
                   + CAST(CAST(syyc AS HUGEINT) % 100000000 AS DOUBLE)) / 1e4 AS gsyy,
                  CAST(sum(n) OVER () - n AS DOUBLE) AS tn,
                  (sum(sx) OVER () - sx) / 1e4 AS tsx,
                  (sum(sy) OVER () - sy) / 1e4 AS tsy,
                  (sum(sxx) OVER () - sxx) / 1e4 AS tsxx,
                  (sum(sxy) OVER () - sxy) / 1e4 AS tsxy
                FROM g),
                c AS (SELECT *,
                  (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS b
                FROM t),
                c2 AS (SELECT *, (tsy - b * tsx) / tn AS a FROM c)
              SELECT fold, n, round(b, 6) AS slope, round(a, 6) AS intercept,
                round(sqrt((gsyy - 2*a*gsy - 2*b*gsxy + n*a*a + 2*a*b*gsx + b*b*gsxx) / n), 6) AS rmse_valid
              FROM c2
              ORDER BY fold""")),

    QueryDef(
      "ml_sgd_linreg",
      // cuML MBSGDRegressor's first-order solver family (r7): FULL-BATCH
      // gradient descent on the 1-feature OLS objective, 3 unrolled steps
      // from (0, 0) at lr = 5e-4 — the deterministic batch form of the
      // reference's SGD estimators (per-sample order would be
      // engine-divergent; the full batch IS the distributed shape anyway:
      // each step is one moment aggregation, here all three steps run on
      // ONE moment row). Emits (step, intercept, slope, mse) so the
      // objective's descent is visible. The gradient/loss algebra runs on
      // exact-wire means; mse rounds at 2 (its ~1e9 magnitude puts 6-dp
      // rounding inside double ulp — the one output where round(,6)
      // CANNOT absorb a last-ulp difference).
      (s, dir) => {
        val m = T.lineitem(s, dir).agg(
          count(lit(1)).cast("double").as("n"),
          T.xsum(col("l_quantity")).as("sx"),
          T.xsum(col("l_extendedprice")).as("sy"),
          T.xsum(col("l_quantity") * col("l_quantity")).as("sxx"),
          T.xsum(col("l_quantity") * col("l_extendedprice")).as("sxy"),
          T.xsum(col("l_extendedprice") * col("l_extendedprice")).as("syy"))
        Twin.chain(m, sgdSteps).selectExpr(
          """stack(3,
               1, round(a1, 6), round(b1, 6), round(l1, 2),
               2, round(a2, 6), round(b2, 6), round(l2, 2),
               3, round(a3, 6), round(b3, 6), round(l3, 2)
             ) AS (step, intercept, slope, mse)""")
          .orderBy("step")
      },
      Some {
        val (ctes, fin) = Twin.ctes(sgdSteps, "m", "sg")
        s"""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                ${T.sqlXsum("l_quantity")} AS sx,
                ${T.sqlXsum("l_extendedprice")} AS sy,
                ${T.sqlXsum("l_quantity * l_quantity")} AS sxx,
                ${T.sqlXsum("l_quantity * l_extendedprice")} AS sxy,
                ${T.sqlXsum("l_extendedprice * l_extendedprice")} AS syy
              FROM lineitem),
              $ctes
            SELECT 1 AS step, round(a1, 6) AS intercept, round(b1, 6) AS slope, round(l1, 2) AS mse FROM $fin
            UNION ALL
            SELECT 2, round(a2, 6), round(b2, 6), round(l2, 2) FROM $fin
            UNION ALL
            SELECT 3, round(a3, 6), round(b3, 6), round(l3, 2) FROM $fin
            ORDER BY step"""
      }),

    QueryDef(
      "ml_mbsgd",
      // cuML MBSGDRegressor proper (the minibatch refinement of
      // ml_sgd_linreg): standardize (x, y) with the global mean/std, then
      // 3 GD steps at lr = 0.1 where step k's gradient comes ONLY from
      // minibatch k−1 (batch = l_orderkey % 3 — in dask the batches ARE
      // partition subsets, the ml_scaler_merge sharding argument). ONE
      // pass collects per-batch sufficient moments as conditional sums on
      // the bit-identical sumE12 wire; standardized batch moments, the
      // per-batch gradients, and the de-standardized (coef, intercept)
      // all unfold as shared expression text over that single pivoted
      // row — 3 minibatch steps, zero extra cluster passes (the 100 TB
      // point of moment-form minibatching). Emits per-step standardized
      // and raw coefficients so the batch-to-batch drift is visible.
      (s, dir) => {
        val l = T.lineitem(s, dir).select(
          (col("l_orderkey") % 3).as("b"),
          col("l_quantity").cast("double").as("x"),
          col("l_extendedprice").cast("double").as("y"))
        def cnt(b: Int) = sum(when(col("b") === b, 1L)).cast("double")
        def ce12(b: Int, c: org.apache.spark.sql.Column) =
          T.sumE12(when(col("b") === b, c))
        val aggs =
          (0 to 2).flatMap(b => Seq(
            cnt(b).as(s"n$b"),
            ce12(b, col("x")).as(s"sx${b}r"), ce12(b, col("y")).as(s"sy${b}r"),
            ce12(b, col("x") * col("x")).as(s"sxx${b}r"),
            ce12(b, col("x") * col("y")).as(s"sxy${b}r"))) :+
          T.sumE12(col("y") * col("y")).as("syyr")
        val m = l.agg(aggs.head, aggs.tail: _*)
          .selectExpr(((0 to 2).flatMap(b => Seq(s"n$b",
            s"${T.bitsE12(s"sx${b}r")} AS sx$b", s"${T.bitsE12(s"sy${b}r")} AS sy$b",
            s"${T.bitsE12(s"sxx${b}r")} AS sxx$b",
            s"${T.bitsE12(s"sxy${b}r")} AS sxy$b")) :+
            s"${T.bitsE12("syyr")} AS syy"): _*)
        Twin.chain(m, mbsgdSteps).selectExpr(
          """stack(3,
               1, 0, round(w1, 6), round(c1, 6), round(cr1, 6), round(ir1, 6),
               2, 1, round(w2, 6), round(c2, 6), round(cr2, 6), round(ir2, 6),
               3, 2, round(w3, 6), round(c3, 6), round(cr3, 6), round(ir3, 6)
             ) AS (step, batch, coef_std, intercept_std, coef, intercept)""")
          .orderBy("step")
      },
      Some {
        val (ctes, fin) = Twin.ctes(mbsgdSteps, "m", "mg")
        val shard = (0 to 2).map(b =>
          s"""CAST(sum(CASE WHEN b = $b THEN 1 END) AS DOUBLE) AS n$b,
              ${T.sqlSumE12(s"CASE WHEN b = $b THEN x END")} AS sx${b}r,
              ${T.sqlSumE12(s"CASE WHEN b = $b THEN y END")} AS sy${b}r,
              ${T.sqlSumE12(s"CASE WHEN b = $b THEN x * x END")} AS sxx${b}r,
              ${T.sqlSumE12(s"CASE WHEN b = $b THEN x * y END")} AS sxy${b}r""").mkString(",\n              ")
        val bits = (0 to 2).map(b =>
          s"""n$b, ${T.sqlBitsE12(s"sx${b}r")} AS sx$b, ${T.sqlBitsE12(s"sy${b}r")} AS sy$b,
              ${T.sqlBitsE12(s"sxx${b}r")} AS sxx$b, ${T.sqlBitsE12(s"sxy${b}r")} AS sxy$b""").mkString(",\n              ")
        s"""WITH l AS (SELECT l_orderkey % 3 AS b,
                CAST(l_quantity AS DOUBLE) AS x,
                CAST(l_extendedprice AS DOUBLE) AS y
              FROM lineitem),
              mr AS (SELECT
              $shard,
              ${T.sqlSumE12("y * y")} AS syyr
              FROM l),
              m AS (SELECT
              $bits,
              ${T.sqlBitsE12("syyr")} AS syy
              FROM mr),
              $ctes
            SELECT 1 AS step, 0 AS batch, round(w1, 6) AS coef_std, round(c1, 6) AS intercept_std,
                   round(cr1, 6) AS coef, round(ir1, 6) AS intercept FROM $fin
            UNION ALL
            SELECT 2, 1, round(w2, 6), round(c2, 6), round(cr2, 6), round(ir2, 6) FROM $fin
            UNION ALL
            SELECT 3, 2, round(w3, 6), round(c3, 6), round(cr3, 6), round(ir3, 6) FROM $fin
            ORDER BY step"""
      }),

    QueryDef(
      "ml_softmax_multi",
      // Multiclass (multinomial) logistic regression — cuML's softmax GLM,
      // the K=3 generalization of ml_logreg_fit: classes (A, N, R) of
      // l_returnflag with A as the pivot class, per-class logits
      // z_k = a_k + b_k·q, 3 full-batch GD steps at lr = 5e-3 on the
      // mean cross-entropy gradient. Per step: ONE pass whose softmax
      // probabilities ride the REAL-collapsed exp (the irlsBeta
      // discipline) and whose 4 gradient sums ride the bit-identical
      // sumE12 wire; the driver accumulates (a_N, b_N, a_R, b_R) with
      // the same left-associated update text the oracle's CTE chain
      // evaluates, so the coefficients are bit-same cross-engine. The
      // registered output scores the final model: coefficients plus the
      // argmax-class prediction counts and training accuracy (argmax on
      // logits — monotone, no exp needed at scoring).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val p = softmaxBeta(s, dir)
        val bt = Seq((p(0), p(1), p(2), p(3))).toDF("can", "cbn", "car", "cbr")
        T.lineitem(s, dir)
          .select(col("l_returnflag").as("rf"), col("l_quantity").cast("double").as("q"))
          .transform(T.fanOut(_))
          .crossJoin(broadcast(bt))
          .selectExpr("rf", "can + cbn * q AS zn", "car + cbr * q AS zr",
            "can", "cbn", "car", "cbr")
          .selectExpr("rf", "can", "cbn", "car", "cbr",
            "CASE WHEN zn > 0 AND zn >= zr THEN 'N' WHEN zr > 0 AND zr > zn THEN 'R' ELSE 'A' END AS pred")
          .groupBy("can", "cbn", "car", "cbr")
          .agg(count(lit(1)).as("n"),
            sum(when(col("pred") === "A", 1L).otherwise(0L)).as("pred_a"),
            sum(when(col("pred") === "N", 1L).otherwise(0L)).as("pred_n"),
            sum(when(col("pred") === "R", 1L).otherwise(0L)).as("pred_r"),
            sum(when(col("pred") === col("rf"), 1L).otherwise(0L)).as("hits"))
          .selectExpr("n",
            "round(can, 6) AS a_n", "round(cbn, 6) AS b_n",
            "round(car, 6) AS a_r", "round(cbr, 6) AS b_r",
            "pred_a", "pred_n", "pred_r",
            "round(CAST(hits AS DOUBLE) / n, 6) AS accuracy")
      },
      Some {
        s"""WITH d AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                CASE WHEN l_returnflag = 'N' THEN 1e0 ELSE 0e0 END AS yn,
                CASE WHEN l_returnflag = 'R' THEN 1e0 ELSE 0e0 END AS yr,
                l_returnflag AS rf
              FROM lineitem),
              $sqlSoftmaxChain,
              sc AS (SELECT rf,
                  CASE WHEN can + cbn * q > 0 AND can + cbn * q >= car + cbr * q THEN 'N'
                       WHEN car + cbr * q > 0 AND car + cbr * q > can + cbn * q THEN 'R'
                       ELSE 'A' END AS pred,
                  can, cbn, car, cbr
                FROM d CROSS JOIN bet3)
            SELECT CAST(count(*) AS BIGINT) AS n,
              round(max(can), 6) AS a_n, round(max(cbn), 6) AS b_n,
              round(max(car), 6) AS a_r, round(max(cbr), 6) AS b_r,
              CAST(sum(CASE WHEN pred = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS pred_a,
              CAST(sum(CASE WHEN pred = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS pred_n,
              CAST(sum(CASE WHEN pred = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pred_r,
              round(CAST(sum(CASE WHEN pred = rf THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
            FROM sc"""
      }),

    QueryDef(
      "ml_ridge_cv",
      // RidgeCV / GridSearchCV over alpha (r7): the model-selection
      // workflow the reference's estimator API implies. ONE lineitem pass
      // collects per-split (train/valid, the ml_linreg_holdout affine-hash
      // 80/20) exact moments as conditional sums; each alpha in the grid
      // solves centered 1-feature ridge on the TRAIN moments and scores
      // BOTH splits by the algebraic residual expansion — 3 alphas cost
      // zero extra cluster work beyond the one sufficient-statistic row
      // (the 100 TB point of moment-based model selection). `picked` marks
      // the valid-RMSE argmin.
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val spark = s
        import spark.implicits._
        val d6 = DecimalType(19, 6)
        val l = T.lineitem(s, dir).select(
          ((lit(48271L) * (col("l_orderkey") * 8 + col("l_linenumber")) + lit(16807L))
            % lit(2147483647L) % 100 < 80).as("tr"),
          col("l_quantity").cast(d6).as("x"),
          col("l_extendedprice").cast(d6).as("y"),
          ((col("l_extendedprice").cast(DecimalType(18, 2)) * lit(100)).cast("long"))
            .as("yc"))
        def cond(tr: Boolean, c: org.apache.spark.sql.Column) =
          sum(when(col("tr") === tr, c))
        val m = l.agg(
          cond(true, lit(1L)).cast("double").as("tn"),
          e4(cond(true, col("x"))).as("tsx4"), e4(cond(true, col("y"))).as("tsy4"),
          e4(cond(true, col("x") * col("x"))).as("tsxx4"),
          e4(cond(true, col("x") * col("y"))).as("tsxy4"),
          cond(true, (col("yc") * col("yc")).cast(DecimalType(38, 0))).as("tsyyc"),
          cond(false, lit(1L)).cast("double").as("vn"),
          e4(cond(false, col("x"))).as("vsx4"), e4(cond(false, col("y"))).as("vsy4"),
          e4(cond(false, col("x") * col("x"))).as("vsxx4"),
          e4(cond(false, col("x") * col("y"))).as("vsxy4"),
          cond(false, (col("yc") * col("yc")).cast(DecimalType(38, 0))).as("vsyyc"))
          // hi/lo BIGINT split of the exact cents² sums (the
          // ml_linreg_holdout syy route — no decimal→double cast whose
          // rounding could differ), recombined with identical double ops
          .selectExpr("tn", "vn",
            "tsx4 / 1e4 AS tsx", "tsy4 / 1e4 AS tsy",
            "tsxx4 / 1e4 AS tsxx", "tsxy4 / 1e4 AS tsxy",
            "(CAST(tsyyc div 100000000 AS DOUBLE) * 1e8 + CAST(tsyyc % 100000000 AS DOUBLE)) / 1e4 AS tsyy",
            "vsx4 / 1e4 AS vsx", "vsy4 / 1e4 AS vsy",
            "vsxx4 / 1e4 AS vsxx", "vsxy4 / 1e4 AS vsxy",
            "(CAST(vsyyc div 100000000 AS DOUBLE) * 1e8 + CAST(vsyyc % 100000000 AS DOUBLE)) / 1e4 AS vsyy")
        val alphas = Seq(1.0, 100.0, 10000.0).toDF("alpha")
        val scored = Twin.chain(m.crossJoin(broadcast(alphas)), ridgeCvSteps)
        scored.select(col("alpha"),
          round(col("cvb"), 6).as("slope"), round(col("cva"), 6).as("intercept"),
          round(col("cvrt"), 6).as("rmse_train"), round(col("cvrv"), 6).as("rmse_valid"),
          (col("cvrv") === min(col("cvrv")).over(Window.partitionBy())).as("picked"))
          .orderBy("alpha")
      },
      Some {
        val (ctes, fin) = Twin.ctes(ridgeCvSteps, "m", "cv")
        s"""WITH l AS (SELECT
                (48271 * (l_orderkey * 8 + l_linenumber) + 16807)
                  % 2147483647 % 100 < 80 AS tr,
                CAST(l_quantity AS DECIMAL(19,6)) AS x,
                CAST(l_extendedprice AS DECIMAL(19,6)) AS y,
                CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
              FROM lineitem),
              g AS (SELECT
                CAST(count(CASE WHEN tr THEN 1 END) AS DOUBLE) AS tn,
                CAST(sum(CASE WHEN tr THEN x END) * 10000 AS BIGINT) AS tsx4,
                CAST(sum(CASE WHEN tr THEN y END) * 10000 AS BIGINT) AS tsy4,
                CAST(sum(CASE WHEN tr THEN x * x END) * 10000 AS BIGINT) AS tsxx4,
                CAST(sum(CASE WHEN tr THEN x * y END) * 10000 AS BIGINT) AS tsxy4,
                sum(CASE WHEN tr THEN CAST(yc * yc AS DECIMAL(38,0)) END) AS tsyyc,
                CAST(count(CASE WHEN NOT tr THEN 1 END) AS DOUBLE) AS vn,
                CAST(sum(CASE WHEN NOT tr THEN x END) * 10000 AS BIGINT) AS vsx4,
                CAST(sum(CASE WHEN NOT tr THEN y END) * 10000 AS BIGINT) AS vsy4,
                CAST(sum(CASE WHEN NOT tr THEN x * x END) * 10000 AS BIGINT) AS vsxx4,
                CAST(sum(CASE WHEN NOT tr THEN x * y END) * 10000 AS BIGINT) AS vsxy4,
                sum(CASE WHEN NOT tr THEN CAST(yc * yc AS DECIMAL(38,0)) END) AS vsyyc
              FROM l),
              m AS (SELECT tn, vn,
                tsx4 / 1e4 AS tsx, tsy4 / 1e4 AS tsy,
                tsxx4 / 1e4 AS tsxx, tsxy4 / 1e4 AS tsxy,
                (CAST(CAST(tsyyc AS HUGEINT) // 100000000 AS DOUBLE) * 1e8
                 + CAST(CAST(tsyyc AS HUGEINT) % 100000000 AS DOUBLE)) / 1e4 AS tsyy,
                vsx4 / 1e4 AS vsx, vsy4 / 1e4 AS vsy,
                vsxx4 / 1e4 AS vsxx, vsxy4 / 1e4 AS vsxy,
                (CAST(CAST(vsyyc AS HUGEINT) // 100000000 AS DOUBLE) * 1e8
                 + CAST(CAST(vsyyc AS HUGEINT) % 100000000 AS DOUBLE)) / 1e4 AS vsyy
              FROM g) ,
              ma AS (SELECT * FROM m CROSS JOIN (VALUES (1e0), (1e2), (1e4)) av(alpha)),
              ${ctes.replace("FROM m)", "FROM ma)")}
            SELECT alpha, round(cvb, 6) AS slope, round(cva, 6) AS intercept,
              round(cvrt, 6) AS rmse_train, round(cvrv, 6) AS rmse_valid,
              cvrv = min(cvrv) OVER () AS picked
            FROM $fin ORDER BY alpha"""
      }),

    QueryDef(
      "ml_svc_rbf",
      // cuML SVC(kernel='rbf') [R] in the landmark (Nyström) shape — the
      // kernelized classifier next to ml_svm_hinge's linear case: lift
      // every vector to m = 3 REAL-collapsed RBF landmark features
      // (svcRows), run the same 3-step driver-held hinge subgradient loop
      // on (a, w1..w3) (svcParams, T.memo'd), score in one pass. At
      // scale the landmark count is the model size, the lift is a map
      // pass with a broadcast model — the kernel trick without the n²
      // kernel matrix. Output: the fitted dual-free weights, hinge loss,
      // support count, training accuracy.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, w1, w2, w3) = svcParams(s, dir)
        val d = svcRows(s, dir)
        val ab = Seq((a, w1, w2, w3)).toDF("ca", "c1", "c2", "c3")
        val m = col("y") * (col("ca") + col("c1") * col("f1") +
          col("c2") * col("f2") + col("c3") * col("f3"))
        d.crossJoin(broadcast(ab))
          .select(col("y"), m.as("m"))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(greatest(lit(0d), lit(1d) - col("m"))).as("hs"),
            sum(when(col("m") < 1, 1L).otherwise(0L)).as("nsv"),
            sum(when(col("m") > 0, 1L).otherwise(0L)).as("ncorr"))
          .crossJoin(broadcast(Seq((a, w1, w2, w3)).toDF("fa", "f1w", "f2w", "f3w")))
          .selectExpr("round(fa, 6) AS intercept",
            "round(f1w, 6) AS w1", "round(f2w, 6) AS w2", "round(f3w, 6) AS w3",
            "round(hs / n, 6) AS hinge_loss", "nsv AS n_sv",
            "round(ncorr / n, 6) AS accuracy")
      },
      Some(s"""WITH $sqlSvcChain,
                 fin AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum("greatest(0e0, 1e0 - y * (b3.a + b3.w1 * f1 + b3.w2 * f2 + b3.w3 * f3))")} AS hs,
                     CAST(sum(CASE WHEN y * (b3.a + b3.w1 * f1 + b3.w2 * f2 + b3.w3 * f3) < 1 THEN 1 ELSE 0 END) AS BIGINT) AS nsv,
                     CAST(sum(CASE WHEN y * (b3.a + b3.w1 * f1 + b3.w2 * f2 + b3.w3 * f3) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS ncorr,
                     max(b3.a) AS fa, max(b3.w1) AS f1w, max(b3.w2) AS f2w, max(b3.w3) AS f3w
                   FROM d, b3)
               SELECT round(fa, 6) AS intercept,
                 round(f1w, 6) AS w1, round(f2w, 6) AS w2, round(f3w, 6) AS w3,
                 round(hs / n, 6) AS hinge_loss, nsv AS n_sv,
                 round(ncorr / n, 6) AS accuracy
               FROM fin""")),

    QueryDef(
      "ml_svm_hinge",
      // Linear SVM (cuML SVC's linear case, by the distributed solver a
      // cluster actually runs — full-batch subgradient descent on the
      // hinge objective λ/2·b² + (1/n)Σ max(0, 1 − y·(a + b·x))): 3 steps,
      // each ONE conditional-sum aggregation over the margin-violating
      // rows with (a, b) DRIVER-HELD between steps (the irlsBeta shape,
      // T.memo'd), then one scoring pass emits the fitted line, the final
      // hinge loss, and the support count (margin < 1). x = quantity/50,
      // y = ±1 on returnflag R. Determinism: the margin indicator compares
      // doubles both engines computed identically; every sum runs on the
      // exact-decimal wire; the update is one Twin.Fit text both engines
      // run, so each step's (a, b) is bit-identical cross-engine.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = svmAB(s, dir)
        val d = svmRows(s, dir)
        val ab = Seq((a, b)).toDF("ca", "cb")
        val m = col("cy") * (col("ca") + col("cb") * col("cx"))
        d.crossJoin(broadcast(ab))
          .select(col("cx"), col("cy"), m.as("m"))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(greatest(lit(0d), lit(1d) - col("m"))).as("hs"),
            sum(when(col("m") < 1, 1L).otherwise(0L)).as("nsv"))
          .crossJoin(broadcast(Seq((a, b)).toDF("fa", "fb")))
          .selectExpr("round(fa, 6) AS intercept", "round(fb, 6) AS slope",
            "round(hs / n, 6) AS hinge_loss", "nsv AS n_sv")
      },
      Some(s"""WITH $sqlSvmChain,
                 fin AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum("greatest(0e0, 1e0 - y * (b3.a + b3.b * x))")} AS hs,
                     CAST(sum(CASE WHEN y * (b3.a + b3.b * x) < 1 THEN 1 ELSE 0 END) AS BIGINT) AS nsv,
                     max(b3.a) AS fa, max(b3.b) AS fb
                   FROM d, b3)
               SELECT round(fa, 6) AS intercept, round(fb, 6) AS slope,
                 round(hs / n, 6) AS hinge_loss, nsv AS n_sv
               FROM fin""")),

    QueryDef(
      "ml_svr_epsilon",
      // Linear SVR (cuML SVR's linear case) by the same distributed
      // solver shape as ml_svm_hinge: full-batch subgradient descent on
      // the ε-insensitive objective λ/2·b² + (1/n)Σ max(0, |y−(a+b·x)|−ε),
      // ε = 0.1. Each step is ONE conditional-sum aggregation over the
      // tube-violating rows — g0 = Σ sign(r), g1 = Σ sign(r)·x for
      // residual r = y − (a+b·x), |r| > ε — with (a, b) DRIVER-HELD
      // between steps (T.memo'd); the scoring pass emits the fitted
      // line, the final ε-loss, and the out-of-tube count. x = quantity
      // /50, y = extendedprice/50000 (both unit-ish; the fixed 0.1 step
      // converges). Determinism: sign() compares doubles both engines
      // computed from the same text; every sum runs on the exact-decimal
      // wire; the update is one Twin.Fit text both engines run, so each
      // step's (a, b) is bit-identical cross-engine.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = svrAB(s, dir)
        val d = svrRows(s, dir)
        val ab = Seq((a, b)).toDF("ca", "cb")
        val r = col("cy") - (col("ca") + col("cb") * col("cx"))
        d.crossJoin(broadcast(ab))
          .select(col("cx"), r.as("r"))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(greatest(lit(0d), abs(col("r")) - lit(0.1))).as("es"),
            sum(when(abs(col("r")) > 0.1, 1L).otherwise(0L)).as("nout"))
          .crossJoin(broadcast(Seq((a, b)).toDF("fa", "fb")))
          .selectExpr("round(fa, 6) AS intercept", "round(fb, 6) AS slope",
            "round(es / n, 6) AS eps_loss", "nout AS n_outside")
      },
      Some(s"""WITH $sqlSvrChain,
                 fin AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum("greatest(0e0, abs(y - (b3.a + b3.b * x)) - 1e-1)")} AS es,
                     CAST(sum(CASE WHEN abs(y - (b3.a + b3.b * x)) > 1e-1 THEN 1 ELSE 0 END) AS BIGINT) AS nout,
                     max(b3.a) AS fa, max(b3.b) AS fb
                   FROM d, b3)
               SELECT round(fa, 6) AS intercept, round(fb, 6) AS slope,
                 round(es / n, 6) AS eps_loss, nout AS n_outside
               FROM fin""")),

    QueryDef(
      "ml_svm_predict",
      // SVC.predict for the hinge fit (r7, completing the SVM fit→predict
      // contract like the regularized-regression twins): ONE scoring pass
      // with the driver-held (a, b) — decision value f = a + b·x, class =
      // sign(f) — emitting the confusion counts (tp/fp/fn/tn vs the ±1
      // label), accuracy, and the positive-class rates on each side of the
      // boundary. The decision comparison is f >= 0 on doubles both
      // engines computed from the same text; counts are exact integers.
      // T.memo'd: within one session the three SVM queries pay the
      // subgradient passes once.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = svmAB(s, dir)
        val d = svmRows(s, dir)
        val ab = Seq((a, b)).toDF("ca", "cb")
        d.crossJoin(broadcast(ab))
          .select(col("cy"), (col("ca") + col("cb") * col("cx")).as("f"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("f") >= 0 && col("cy") > 0, 1L).otherwise(0L)).as("tp"),
            sum(when(col("f") >= 0 && col("cy") < 0, 1L).otherwise(0L)).as("fp"),
            sum(when(col("f") < 0 && col("cy") > 0, 1L).otherwise(0L)).as("fn"),
            sum(when(col("f") < 0 && col("cy") < 0, 1L).otherwise(0L)).as("tn"))
          .selectExpr("n", "tp", "fp", "fn", "tn",
            "round(CAST(tp + tn AS DOUBLE) / n, 6) AS accuracy",
            "round(CASE WHEN tp + fp = 0 THEN 0e0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision_pos",
            "round(CASE WHEN tp + fn = 0 THEN 0e0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall_pos")
      },
      Some(s"""WITH $sqlSvmChain,
                 fin AS (SELECT count(*) AS n,
                     CAST(sum(CASE WHEN b3.a + b3.b * x >= 0 AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                     CAST(sum(CASE WHEN b3.a + b3.b * x >= 0 AND y < 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                     CAST(sum(CASE WHEN b3.a + b3.b * x < 0 AND y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                     CAST(sum(CASE WHEN b3.a + b3.b * x < 0 AND y < 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
                   FROM d, b3)
               SELECT n, tp, fp, fn, tn,
                 round(CAST(tp + tn AS DOUBLE) / n, 6) AS accuracy,
                 round(CASE WHEN tp + fp = 0 THEN 0e0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision_pos,
                 round(CASE WHEN tp + fn = 0 THEN 0e0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall_pos
               FROM fin""")),

    QueryDef(
      "ml_isotonic_calibration",
      // Isotonic regression (sklearn IsotonicRegression / the missing
      // member of the calibration family next to ml_platt_scaling):
      // monotone non-decreasing fit of P(returnflag = R | quantity) over
      // the 50 natural integer quantity bins. NO PAVA loop: the L2
      // isotonic solution has the closed MINIMAX form f(i) = max_{j≤i}
      // min_{k≥i} avg(y[j..k]), and with B bins the O(B³) triple space is
      // a BOUNDED ~22k-row aggregate-table computation — one corpus pass
      // to (bin, n, pos), prefix sums by one 50-row window, interval
      // averages from a bounded inequality self-join, then min-per-(i,j)
      // → max-per-i. Exact integer counts end-to-end; the only doubles
      // are the shared-text interval-average divisions, and min/max over
      // identical doubles is order-free, so the fit is bit-deterministic
      // cross-engine. At 100 TB the corpus pass is the only scan; the
      // bin table is fixed-size driver-independent aggregate state.
      (s, dir) => {
        val b = T.lineitem(s, dir)
          .selectExpr("CAST(l_quantity AS INT) AS q",
            "CASE WHEN l_returnflag = 'R' THEN 1L ELSE 0L END AS y")
          .transform(T.fanOut(_))
          .groupBy("q").agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
        val wc = Window.orderBy("q")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val c = T.freeze(b.select(col("q"), col("n"), col("pos"),
          sum(col("n")).over(wc).as("cn"), sum(col("pos")).over(wc).as("cpos")))
        val pairs = c.selectExpr("q AS jq", "n AS jn", "pos AS jpos",
            "cn AS jcn", "cpos AS jcpos")
          .join(broadcast(c.selectExpr("q AS kq", "cn AS kcn", "cpos AS kcpos")),
            expr("jq <= kq"))
          .selectExpr("jq", "kq",
            "CAST(kcpos - jcpos + jpos AS DOUBLE) / CAST(kcn - jcn + jn AS DOUBLE) AS avgjk")
        val tri = c.select(col("q"), col("n"), col("pos"))
          .join(broadcast(pairs), expr("jq <= q AND q <= kq"))
        tri.groupBy("q", "n", "pos", "jq").agg(min(col("avgjk")).as("mnk"))
          .groupBy("q", "n", "pos").agg(max(col("mnk")).as("iso"))
          .selectExpr("q AS quantity", "n",
            "round(CAST(pos AS DOUBLE) / n, 6) AS emp_rate",
            "round(iso, 6) AS iso_rate")
          .orderBy("quantity")
      },
      Some("""WITH b AS (SELECT CAST(l_quantity AS INT) AS q, count(*) AS n,
                     CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS pos
                   FROM lineitem GROUP BY q),
                 c AS (SELECT q, n, pos,
                     sum(n) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cn,
                     sum(pos) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cpos
                   FROM b),
                 pr AS (SELECT j.q AS jq, k.q AS kq,
                     CAST(k.cpos - j.cpos + j.pos AS DOUBLE) /
                       CAST(k.cn - j.cn + j.n AS DOUBLE) AS avgjk
                   FROM c j JOIN c k ON j.q <= k.q),
                 tri AS (SELECT i.q, i.n, i.pos, pr.jq, pr.avgjk
                   FROM c i JOIN pr ON pr.jq <= i.q AND i.q <= pr.kq),
                 mn AS (SELECT q, n, pos, jq, min(avgjk) AS mnk
                   FROM tri GROUP BY q, n, pos, jq),
                 iso AS (SELECT q, n, pos, max(mnk) AS iso
                   FROM mn GROUP BY q, n, pos)
               SELECT q AS quantity, n,
                 round(CAST(pos AS DOUBLE) / n, 6) AS emp_rate,
                 round(iso, 6) AS iso_rate
               FROM iso ORDER BY quantity""")),

    QueryDef(
      "ml_platt_scaling",
      // SVC(probability=True) — Platt scaling: calibrate the linear SVC's
      // decision values f = a + b·x into probabilities p = σ(A + B·f) by
      // 2 full-batch GD steps on the logistic loss (target t = (y+1)/2,
      // start (0,0), lr = 1). The sigmoid is REAL-collapsed (the k_rbf /
      // lnR discipline) so both engines train on bit-identical per-row
      // probabilities; gradient sums ride the exact-decimal wire; (A, B)
      // are driver-held between steps (T.memo'd) with update text
      // mirroring the oracle CTE chain. Output: the calibration line plus
      // the audit — mean calibrated probability on each true class and
      // the final log loss (ln REAL-collapsed). Scale: 2 extra bounded
      // aggregation passes over the svmAB rows — the calibration never
      // materializes anything but two scalars.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val (a, b) = svmAB(s, dir)
        val (pa, pb) = plattAB(s, dir)
        val d = svmRows(s, dir)
        val cf = Seq((a, b, pa, pb)).toDF("ca", "cb", "fa", "fb")
        d.crossJoin(broadcast(cf))
          .selectExpr("cy",
            "CAST(CAST(1e0 / (1e0 + exp(-(fa + fb * (ca + cb * cx)))) AS FLOAT) AS DOUBLE) AS p")
          .selectExpr("cy", "p", "(cy + 1e0) / 2 AS t")
          .agg(
            count(lit(1)).cast("double").as("n"),
            sum(when(col("cy") > 0, 1L).otherwise(0L)).cast("double").as("np"),
            T.xsum(when(col("cy") > 0, col("p"))).as("spp"),
            T.xsum(when(col("cy") < 0, col("p"))).as("spn"),
            T.xsum(expr("-(t * CAST(CAST(ln(p) AS FLOAT) AS DOUBLE) + (1e0 - t) * CAST(CAST(ln(1e0 - p) AS FLOAT) AS DOUBLE))")).as("sll"))
          .crossJoin(broadcast(Seq((pa, pb)).toDF("opa", "opb")))
          .selectExpr("round(opa, 6) AS a_platt", "round(opb, 6) AS b_platt",
            "CAST(n AS BIGINT) AS n",
            "round(spp / np, 6) AS mean_p_pos",
            "round(spn / (n - np), 6) AS mean_p_neg",
            "round(sll / n, 6) AS log_loss")
      },
      Some(s"""WITH $sqlPlattChain,
                 sc AS (SELECT y, (y + 1e0) / 2 AS t,
                     CAST(CAST(1e0 / (1e0 + exp(-(c2.pa + c2.pb * (b3.a + b3.b * x)))) AS REAL) AS DOUBLE) AS p
                   FROM d, b3, c2),
                 fin AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS np,
                     ${T.sqlXsum("CASE WHEN y > 0 THEN p END")} AS spp,
                     ${T.sqlXsum("CASE WHEN y < 0 THEN p END")} AS spn,
                     ${T.sqlXsum("-(t * CAST(CAST(ln(p) AS REAL) AS DOUBLE) + (1e0 - t) * CAST(CAST(ln(1e0 - p) AS REAL) AS DOUBLE))")} AS sll
                   FROM sc)
               SELECT round(c2.pa, 6) AS a_platt, round(c2.pb, 6) AS b_platt,
                 CAST(n AS BIGINT) AS n,
                 round(spp / np, 6) AS mean_p_pos,
                 round(spn / (n - np), 6) AS mean_p_neg,
                 round(sll / n, 6) AS log_loss
               FROM fin, c2""")),

    QueryDef(
      "ml_mbsgd_classifier",
      // cuml.dask MBSGDClassifier [R] — the minibatch-hinge sibling of
      // ml_mbsgd (which covers the regressor): 3 subgradient steps where
      // step k's gradient reads ONLY minibatch k−1 (batch = l_orderkey
      // mod 3, the dask partition-subset model). Unlike the regressor the
      // hinge indicator depends on the CURRENT (a, b), so batch moments
      // can't be precollected — each step is one conditional-sum pass
      // over its batch (a third of the data; at scale the batch predicate
      // prunes on the partition key). (a, b) driver-held between steps
      // (T.memo'd); the update is one Twin.Fit text both engines run, so
      // every step's coefficients are bit-identical cross-engine. Output:
      // the per-step coefficient trail + the final model's training
      // accuracy from one full scoring pass.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val trail = mbsgdClsTrail(s, dir) // Seq of (a, b) after steps 1..3
        val (fa, fb) = trail.last
        val d = svmRows2(s, dir)
        val ab = Seq((fa, fb)).toDF("ca", "cb")
        val acc = d.crossJoin(broadcast(ab))
          .select(col("cy"), (col("ca") + col("cb") * col("cx")).as("f"))
          .agg(count(lit(1)).as("n"),
            sum(when((col("f") >= 0 && col("cy") > 0) ||
                     (col("f") < 0 && col("cy") < 0), 1L).otherwise(0L)).as("hits"))
          .selectExpr("n", "round(CAST(hits AS DOUBLE) / n, 6) AS accuracy")
        val tdf = trail.zipWithIndex
          .map { case ((a, b), i) => (i + 1, i, a, b) }
          .toDF("step", "batch", "ta", "tb")
        tdf.crossJoin(broadcast(acc))
          .selectExpr("step", "batch",
            "round(ta, 6) AS intercept", "round(tb, 6) AS slope",
            "n", "accuracy")
          .orderBy("step")
      },
      Some(s"""WITH $sqlMbsgdClsChain,
                 acc AS (SELECT count(*) AS n,
                     round(CAST(sum(CASE WHEN (c3.a + c3.b * x >= 0 AND y > 0)
                         OR (c3.a + c3.b * x < 0 AND y < 0) THEN 1 ELSE 0 END) AS DOUBLE)
                       / count(*), 6) AS accuracy
                   FROM db, c3)
               SELECT 1 AS step, 0 AS batch, round(c1.a, 6) AS intercept,
                 round(c1.b, 6) AS slope, n, accuracy FROM c1 CROSS JOIN acc
               UNION ALL
               SELECT 2, 1, round(c2.a, 6), round(c2.b, 6), n, accuracy
               FROM c2 CROSS JOIN acc
               UNION ALL
               SELECT 3, 2, round(c3.a, 6), round(c3.b, 6), n, accuracy
               FROM c3 CROSS JOIN acc
               ORDER BY step""")),

    QueryDef(
      "ml_weighted_linreg",
      // sample_weight OLS (cuML LinearRegression(sample_weight=…) [R]) —
      // the weighted twin of ml_linreg_fit: minimize Σ wᵢ(yᵢ − a − bxᵢ)²
      // with w = l_linenumber (an integer per-row weight). One
      // map-side-combined weighted-moment pass on the exact decimal wire,
      // then the closed-form 2×2 solve and the weighted RMSE by residual
      // expansion (the ridge_cv identity — no second data pass). All
      // divisions run on identical xsum-derived doubles, so the
      // coefficients are bit-deterministic cross-engine.
      (s, dir) => {
        T.lineitem(s, dir)
          .select(col("l_quantity").cast("double").as("x"),
            col("l_extendedprice").cast("double").as("y"),
            col("l_linenumber").cast("double").as("w"))
          .transform(T.fanOut(_))
          .agg(count(lit(1)).as("n"),
            T.xsum(col("w")).as("sw"),
            T.xsum(col("w") * col("x")).as("swx"),
            T.xsum(col("w") * col("y")).as("swy"),
            T.xsum(col("w") * col("x") * col("x")).as("swxx"),
            T.xsum(col("w") * col("x") * col("y")).as("swxy"),
            T.xsum(col("w") * col("y") * col("y")).as("swyy"))
          .selectExpr("n", "sw", "swx", "swy", "swxx", "swxy", "swyy",
            "(sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS b")
          .selectExpr("n", "sw", "swx", "swy", "swxx", "swxy", "swyy", "b",
            "(swy - b * swx) / sw AS a")
          .selectExpr("n", "round(a, 6) AS intercept", "round(b, 6) AS slope",
            "round(sqrt((swyy - 2*a*swy - 2*b*swxy + sw*a*a + 2*a*b*swx + b*b*swxx) / sw), 6) AS weighted_rmse")
      },
      Some(s"""WITH m AS (SELECT count(*) AS n,
                   ${T.sqlXsum("w")} AS sw,
                   ${T.sqlXsum("w * x")} AS swx,
                   ${T.sqlXsum("w * y")} AS swy,
                   ${T.sqlXsum("w * x * x")} AS swxx,
                   ${T.sqlXsum("w * x * y")} AS swxy,
                   ${T.sqlXsum("w * y * y")} AS swyy
                 FROM (SELECT CAST(l_quantity AS DOUBLE) AS x,
                         CAST(l_extendedprice AS DOUBLE) AS y,
                         CAST(l_linenumber AS DOUBLE) AS w
                       FROM lineitem) d),
                 cb AS (SELECT *,
                     (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS b
                   FROM m),
                 ca AS (SELECT *, (swy - b * swx) / sw AS a FROM cb)
               SELECT n, round(a, 6) AS intercept, round(b, 6) AS slope,
                 round(sqrt((swyy - 2*a*swy - 2*b*swxy + sw*a*a + 2*a*b*swx + b*b*swxx) / sw), 6) AS weighted_rmse
               FROM ca""")),

    QueryDef(
      "ml_huber_regression",
      // Huber-loss robust regression (sklearn HuberRegressor's loss; the
      // robust member the linear family was missing): OLS warm start,
      // δ = 1.345·σ̂ from the OLS residual scale (the classic 95%%-
      // efficiency constant; held fixed across rounds — the standard
      // simplification), then 2 IRLS rounds with the Huber weight
      // w = min(1, δ/|r|). Every round is ONE weighted-moment pass (the
      // ml_weighted_linreg aggregation) with (a, b, δ) carried IN-PLAN
      // by Twin.trail — no driver round trip inside the loop. Addends are
      // price-scale, so the moments ride the xsum decimal wire;
      // weights/residuals are identical double chains from those sums.
      // Output: the 3-row coefficient trail (round 0 = OLS) — a
      // fat-tailed target shows the slope walking away from OLS.
      (s, dir) => robustTrail(s, dir, huberFit, huberStart),
      Some(sqlRobustTrail(huberFit, huberStart, "c"))),

    QueryDef(
      "ml_quantile_regression",
      // Quantile regression at q = 0.9 (the pinball/check loss — the
      // sklearn QuantileRegressor surface, and the estimator a pipeline
      // uses for tail-latency / price-ceiling curves): OLS warm start,
      // then 3 IRLS rounds with the check-loss weights w = q/max(r, ε)
      // above the line and (1−q)/max(−r, ε) below. ε is DATA-DERIVED
      // from the OLS residual scale (σ̂/20, the ml_huber_regression
      // delta discipline; a fixture-constant floor measured unstable —
      // ε ≪ σ makes the weighted fit degenerate to the near-line band
      // and the slope saw-tooths). Structure is the huber trail with
      // another weight: one weighted xsum moment pass per round,
      // coefficients carried IN-PLAN, 4-row coefficient trail out. The
      // q = 0.9 fit climbs ABOVE the OLS line — the intercept trail is
      // strictly increasing (MicroSpec pin).
      (s, dir) => robustTrail(s, dir, quantileFit, quantileStart),
      Some(sqlRobustTrail(quantileFit, quantileStart, "q"))),

    QueryDef(
      "ml_gamma_glm",
      // Gamma GLM with the log link (the positive-continuous-target GLM
      // next to ml_poisson_glm — insurance severity / spend modeling):
      // E[y|x] = exp(a + b·x), y = extendedprice/1000 (positive), x =
      // quantity. For gamma+log the IRLS weights are identically 1, so
      // each step is an UNWEIGHTED OLS of the working response z = η +
      // y/μ − 1 on x — one xsum moment pass per step, coefficients
      // carried in-plan by Twin.trail. Warm start a₀ = ln(ȳ) (the null
      // model), b₀ = 0. μ = exp(η) and ln(ȳ) are REAL-collapsed (the one
      // non-IEEE-pinned op, the ml_poisson_glm discipline). Output: the
      // 3-row (a, b) trail, round 0 = the null model.
      (s, dir) => {
        val d = T.lineitemFit(s, dir)
          .select(col("l_quantity").cast("double").as("x"),
            (col("l_extendedprice").cast("double") / 1000).as("y"))
        Twin.trail(d, gammaFit, d.agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("y")).as("sy")).selectExpr(gammaStart: _*))
          .selectExpr(gammaOut: _*)
          .orderBy("round")
      },
      Some(s"""WITH gd AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
                   CAST(l_extendedprice AS DOUBLE) / 1000 AS y FROM lineitem),
                 ${Twin.sqlFit(gammaFit, "gd", "gc", Some(s"""SELECT ${gammaStart.mkString(", ")}
                   FROM (SELECT CAST(count(*) AS DOUBLE) AS n, ${T.sqlXsum("y")} AS sy
                     FROM gd) m"""))}
               SELECT ${gammaOut.mkString(", ")}
               FROM (${Twin.sqlTrail(gammaFit, "gc")}) u
               ORDER BY round"""))
  )

  /** One IRLS round of the robust trails: the weighted least squares of y
    * on x with row weight `w` over (x, y) and the parameters (a, b,
    * `scale`), b then a in closed form from the weighted moments on the
    * exact wire; the residual scale `scale` rides along. Its start is
    * the OLS fit ([[olsStart]]), so the initial values are unused. */
  private def irlsFit(scale: String, w: String, iters: Int): Twin.Fit = Twin.Fit(
    Seq("a" -> 0.0, "b" -> 0.0, scale -> 0.0), Seq("w" -> w),
    Seq(Twin.xsum("sw", "w"), Twin.xsum("swx", "w * x"), Twin.xsum("swy", "w * y"),
      Twin.xsum("swxx", "w * x * x"), Twin.xsum("swxy", "w * x * y")),
    Seq("nb" -> "(sw * swxy - swx * swy) / (sw * swxx - swx * swx)",
      "na" -> "(swy - nb * swx) / sw"),
    Seq("na", "nb", scale), iters)

  private lazy val huberFit = irlsFit("delta",
    "CASE WHEN abs(y - a - b * x) <= delta THEN 1e0 ELSE delta / abs(y - a - b * x) END", 2)
  private lazy val huberStart = olsStart("delta" -> "1.345e0 * rse")

  private lazy val quantileFit = irlsFit("eps",
    "CASE WHEN y - a - b * x >= 0e0 THEN 0.9e0 / greatest(y - a - b * x, eps) " +
      "ELSE 0.1e0 / greatest(a + b * x - y, eps) END", 3)
  private lazy val quantileStart = olsStart("eps" -> "rse / 20e0")

  /** The robust trails' start over the OLS moments (n, sx, sy, sxx, sxy,
    * syy): the OLS b and a, the residual scale rse = √(RSS / n) by the
    * residual expansion (no second pass), and the fixed parameter
    * `scale` over it. */
  private def olsStart(scale: (String, String)): Twin.Steps = Seq(
    "b" -> "(n * sxy - sx * sy) / (n * sxx - sx * sx)", "a" -> "(sy - b * sx) / n",
    "rse" -> "sqrt((syy - 2*a*sy - 2*b*sxy + n*a*a + 2*a*b*sx + b*b*sxx) / n)", scale)

  private lazy val robustOut = Seq("round", "round(a, 6) AS intercept", "round(b, 6) AS slope")

  /** A robust trail: `f` run by [[Twin.trail]] over x = quantity, y =
    * price, from `start` over the OLS moments. */
  private def robustTrail(s: SparkSession, dir: String, f: Twin.Fit,
      start: Twin.Steps): DataFrame = {
    val d = T.lineitemFit(s, dir).select(col("l_quantity").cast("double").as("x"),
      col("l_extendedprice").cast("double").as("y"))
    val m = d.agg(count(lit(1)).cast("double").as("n"),
      T.xsum(col("x")).as("sx"), T.xsum(col("y")).as("sy"),
      T.xsum(col("x") * col("x")).as("sxx"),
      T.xsum(col("x") * col("y")).as("sxy"),
      T.xsum(col("y") * col("y")).as("syy"))
    Twin.trail(d, f, Twin.chain(m, start)).selectExpr(robustOut: _*).orderBy("round")
  }

  /** Oracle twin of [[robustTrail]], its CTEs named `p`. */
  private def sqlRobustTrail(f: Twin.Fit, start: Twin.Steps, p: String): String = {
    val (startCtes, startFin) = Twin.ctes(start, s"${p}m", s"${p}o")
    s"""WITH ${p}d AS (SELECT CAST(l_quantity AS DOUBLE) AS x,
               CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem),
             ${p}m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 ${T.sqlXsum("x")} AS sx, ${T.sqlXsum("y")} AS sy,
                 ${T.sqlXsum("x * x")} AS sxx, ${T.sqlXsum("x * y")} AS sxy,
                 ${T.sqlXsum("y * y")} AS syy
               FROM ${p}d),
             $startCtes,
             ${Twin.sqlFit(f, s"${p}d", p, Some(s"SELECT ${f.names.mkString(", ")} FROM $startFin"))}
           SELECT ${robustOut.mkString(", ")}
           FROM (${Twin.sqlTrail(f, p)}) u
           ORDER BY round"""
  }

  /** ml_gamma_glm's IRLS step: the unweighted OLS of the working response
    * z = η + y/μ − 1 on x, μ = exp(η) FLOAT-collapsed. Its start is the
    * null model ([[gammaStart]]), so the initial values are unused. */
  private lazy val gammaFit = Twin.Fit(
    Seq("a" -> 0.0, "b" -> 0.0),
    Seq("z" -> "a + b * x + y / CAST(CAST(exp(a + b * x) AS FLOAT) AS DOUBLE) - 1e0"),
    Seq(Twin.count("n"), Twin.xsum("sx", "x"), Twin.xsum("sz", "z"),
      Twin.xsum("sxx", "x * x"), Twin.xsum("sxz", "x * z")),
    Seq("nb" -> "(n * sxz - sx * sz) / (n * sxx - sx * sx)"),
    Seq("(sz - nb * sx) / n", "nb"), 2)

  /** The null model a₀ = ln(ȳ), b₀ = 0 over (n, sy). */
  private lazy val gammaStart = Seq("CAST(CAST(ln(sy / n) AS FLOAT) AS DOUBLE) AS a", "0e0 AS b")

  private lazy val gammaOut = Seq("round", "round(a, 6) AS intercept", "round(b, 6) AS slope",
    "round(CAST(CAST(exp(a) AS FLOAT) AS DOUBLE), 6) AS mu_at_zero")

  /** svmRows with the minibatch id (l_orderkey mod 3) retained. */
  private def svmRows2(s: SparkSession, dir: String): DataFrame =
    T.lineitem(s, dir).select(
      (col("l_orderkey") % 3).as("cb3"),
      (col("l_quantity").cast("double") / 50).as("cx"),
      when(col("l_returnflag") === "R", 1.0).otherwise(-1.0).as("cy"))

  /** The hinge subgradient step shared by the linear SVM fits over rows
    * (x, y = ±1): with margin m = y·(a + b·x), g0 = Σ_{m<1} y and
    * g1 = Σ_{m<1} y·x on the exact wire, then a ← a + lr·(g0/n),
    * b ← b + lr·(g1/n − λ·b) at lr = 0.1, λ = 0.01. */
  private lazy val hingeRows: Twin.Steps = Seq("m" -> "y * (a + b * x)")
  private lazy val hingeSums: Seq[Twin.Sum] = Seq(Twin.count("n"),
    Twin.xsum("g0", "CASE WHEN m < 1 THEN y END"),
    Twin.xsum("g1", "CASE WHEN m < 1 THEN y * x END"))
  private lazy val sgdNext = Seq("a + 1e-1 * (g0 / n)", "b + 1e-1 * (g1 / n - 1e-2 * b)")

  /** Driver-held minibatch-hinge trail: (a, b) after each of 3 steps,
    * step k reading only batch k−1 — the svmAB fit with the batch filter,
    * the step counter `k` riding as a parameter. T.memo'd. */
  private lazy val mbsgdClsFit: Twin.Fit = Twin.Fit(
    Seq("a" -> 0.0, "b" -> 0.0, "k" -> 0.0), hingeRows, hingeSums, Nil,
    sgdNext :+ "k + 1e0", 3, where = Some("b3 = k"))

  private def mbsgdClsTrail(s: SparkSession, dir: String): Seq[(Double, Double)] =
    T.memo("mbsgdClsTrail", s, dir) {
      Twin.fit(svmRows2(s, dir).toDF("b3", "x", "y"), mbsgdClsFit).map(ab)
    }

  /** Oracle twin of [[mbsgdClsTrail]] with the batched rows CTE `db`,
    * ending in c1..c3(a, b, k). */
  private lazy val sqlMbsgdClsChain: String =
    s"""db AS (SELECT l_orderkey % 3 AS b3,
           CAST(l_quantity AS DOUBLE) / 50 AS x,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE -1.0 END AS y
         FROM lineitem),
  ${Twin.sqlFit(mbsgdClsFit, "db", "c")}"""

  /** SVR feature frame: x = quantity/50, y = extendedprice/50000 — both
    * O(1) scale so the shared fixed step size is stable. */
  private def svrRows(s: SparkSession, dir: String): DataFrame =
    T.lineitem(s, dir).select(
      (col("l_quantity").cast("double") / 50).as("cx"),
      (col("l_extendedprice").cast("double") / 50000).as("cy"))

  /** 3 driver-held ε-insensitive subgradient steps (lr = 0.1, λ = 0.01,
    * ε = 0.1), T.memo'd: the hinge update with g0 = Σ_{|r|>ε} sign(r),
    * g1 = Σ_{|r|>ε} sign(r)·x for the residual r = y − (a + b·x). */
  private lazy val svrFit: Twin.Fit = Twin.Fit(
    Seq("a" -> 0.0, "b" -> 0.0), Seq("r" -> "y - (a + b * x)"),
    Seq(Twin.count("n"),
      Twin.xsum("g0", "CASE WHEN abs(r) > 1e-1 THEN sign(r) END"),
      Twin.xsum("g1", "CASE WHEN abs(r) > 1e-1 THEN sign(r) * x END")),
    Nil, sgdNext, 3)

  private def svrAB(s: SparkSession, dir: String): (Double, Double) =
    T.memo("svrAB", s, dir) { ab(Twin.fit(svrRows(s, dir).toDF("x", "y"), svrFit).last) }

  /** Oracle twin of [[svrAB]] with its rows CTE `d`, ending in b3(a, b). */
  private lazy val sqlSvrChain: String =
    s"""d AS (SELECT CAST(l_quantity AS DOUBLE) / 50 AS x,
           CAST(l_extendedprice AS DOUBLE) / 50000 AS y
         FROM lineitem),
  ${Twin.sqlFit(svrFit, "d", "b")}"""

  /** SVM feature frame: x = quantity/50 (unit-ish scale keeps the fixed
    * step size stable), y = ±1 on returnflag R. */
  private def svmRows(s: SparkSession, dir: String): DataFrame =
    T.lineitem(s, dir).select(
      (col("l_quantity").cast("double") / 50).as("cx"),
      when(col("l_returnflag") === "R", 1.0).otherwise(-1.0).as("cy"))

  /** 3 driver-held hinge subgradient steps, T.memo'd. */
  private lazy val svmFit: Twin.Fit =
    Twin.Fit(Seq("a" -> 0.0, "b" -> 0.0), hingeRows, hingeSums, Nil, sgdNext, 3)

  private def svmAB(s: SparkSession, dir: String): (Double, Double) =
    T.memo("svmAB", s, dir) { ab(Twin.fit(svmRows(s, dir).toDF("x", "y"), svmFit).last) }

  /** Oracle twin of [[svmAB]] with its rows CTE `d`, ending in b3(a, b). */
  private lazy val sqlSvmChain: String =
    s"""d AS (SELECT CAST(l_quantity AS DOUBLE) / 50 AS x,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE -1.0 END AS y
         FROM lineitem),
  ${Twin.sqlFit(svmFit, "d", "b")}"""

  /** 2 driver-held GD steps of Platt scaling on the svmAB decision values
    * f = sa + sb·x (lr = 1, start (0,0)): A ← A + (Σ(t − p))/n,
    * B ← B + (Σ(t − p)·f)/n with t = (y+1)/2, p = σ(A + B·f)
    * REAL-collapsed per row. The SVM line (sa, sb) rides as a fixed
    * input. T.memo'd. */
  private lazy val plattFit: Twin.Fit = Twin.Fit(
    Seq("sa" -> 0.0, "sb" -> 0.0, "pa" -> 0.0, "pb" -> 0.0),
    Seq("t" -> "(y + 1e0) / 2", "f" -> "sa + sb * x", "p" -> sigmoidR("pa + pb * f")),
    Seq(Twin.count("n"), Twin.xsum("g0", "t - p"), Twin.xsum("g1", "(t - p) * f")),
    Nil, Seq("sa", "sb", "pa + 1e0 * (g0 / n)", "pb + 1e0 * (g1 / n)"), 2)

  private def plattAB(s: SparkSession, dir: String): (Double, Double) =
    T.memo("plattAB", s, dir) {
      val (a, b) = svmAB(s, dir)
      val p = Twin.fit(svmRows(s, dir).toDF("x", "y"),
        plattFit.copy(params = Seq("sa" -> a, "sb" -> b, "pa" -> 0.0, "pb" -> 0.0))).last
      (p(2), p(3))
    }

  /** Oracle twin of [[plattAB]] — extends [[sqlSvmChain]] (so the decision
    * line b3(a, b) is bit-identical to the Spark session's svmAB), ending
    * in c2(sa, sb, pa, pb). */
  private lazy val sqlPlattChain: String =
    s"""$sqlSvmChain,
  ${Twin.sqlFit(plattFit, "d", "c",
      Some("SELECT a AS sa, b AS sb, 0e0 AS pa, 0e0 AS pb FROM b3"))}"""

  /** SVC(kernel='rbf') feature frame in the LANDMARK (Nyström) shape the
    * reference's kernel machines scale by: f_j(x) = exp(−‖x − l_j‖²) for
    * the m = 3 model landmarks (vec_id < 3 — the ml_kernel_ridge basis),
    * label y = ±1 on the landmark-0-vs-1 Voronoi side (balanced by construction, and genuinely separable in the landmark feature space: y = sign(f1 − f2) up to the kernel's monotone map — so the fit's accuracy measures real convergence, not a degenerate prior). Kernel features are
    * REAL-collapsed (the k_rbf discipline) so both engines train on
    * bit-identical inputs; the landmark rows ride three broadcast
    * single-row joins. y is DOUBLE (the oracle's `1.0` is DECIMAL, the
    * same ±1): a fit's weighted exact sums take only DOUBLE addends. */
  private def svcRows(s: SparkSession, dir: String): DataFrame = {
    val e = T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id")))
    def lm(id: Int, nm: String) = broadcast(
      T.embeddings(s, dir).where(col("vec_id") === id)
        .select(col("embedding").as(nm)))
    val raw = e
      .crossJoin(lm(0, "le0")).crossJoin(lm(1, "le1")).crossJoin(lm(2, "le2"))
      .select(col("label"),
        graft.functions.Vec.l2(s, "embedding", "le0").as("d1"),
        graft.functions.Vec.l2(s, "embedding", "le1").as("d2"),
        graft.functions.Vec.l2(s, "embedding", "le2").as("d3"))
      .selectExpr(
        "CASE WHEN d1 < d2 THEN 1e0 ELSE -1e0 END AS y",
        "CAST(CAST(exp(-(d1 * d1)) AS FLOAT) AS DOUBLE) AS f1",
        "CAST(CAST(exp(-(d2 * d2)) AS FLOAT) AS DOUBLE) AS f2",
        "CAST(CAST(exp(-(d3 * d3)) AS FLOAT) AS DOUBLE) AS f3")
    // STANDARDIZED features (the preprocessing cuML users run before a
    // kernel-feature SVM, and what makes the fixed-step subgradient
    // converge: raw exp(-d^2) features concentrate in high dimension, so
    // unscaled they are flat and the bias swamps the weights -- measured
    // acc 0.51 raw vs 0.98 standardized at the same 3 steps). Moments
    // ride the exact decimal wire; (f - mu)/sd is shared text.
    val mom = raw.agg(
      count(lit(1)).cast("double").as("n"),
      T.xsum(col("f1")).as("s1"), T.xsum(col("f1") * col("f1")).as("q1"),
      T.xsum(col("f2")).as("s2"), T.xsum(col("f2") * col("f2")).as("q2"),
      T.xsum(col("f3")).as("s3"), T.xsum(col("f3") * col("f3")).as("q3"))
    raw.crossJoin(broadcast(mom)).selectExpr("y",
      "(f1 - s1 / n) / sqrt(q1 / n - (s1 / n) * (s1 / n)) AS f1",
      "(f2 - s2 / n) / sqrt(q2 / n - (s2 / n) * (s2 / n)) AS f2",
      "(f3 - s3 / n) / sqrt(q3 / n - (s3 / n) * (s3 / n)) AS f3")
  }

  /** 3 driver-held subgradient steps on the landmark-feature hinge
    * objective (lr = 2.0, λ = 0.01) — the svmAB fit lifted to 4
    * parameters; T.memo'd. */
  private lazy val svcFit: Twin.Fit = Twin.Fit(
    Seq("a" -> 0.0, "w1" -> 0.0, "w2" -> 0.0, "w3" -> 0.0),
    Seq("m" -> "y * (a + w1 * f1 + w2 * f2 + w3 * f3)"),
    Twin.count("n") +: Twin.xsum("g0", "CASE WHEN m < 1 THEN y END") +:
      (1 to 3).map(j => Twin.xsum(s"g$j", s"CASE WHEN m < 1 THEN y * f$j END")),
    Nil,
    "a + 2e0 * (g0 / n)" +: (1 to 3).map(j => s"w$j + 2e0 * (g$j / n - 1e-2 * w$j)"), 3)

  private def svcParams(s: SparkSession, dir: String): (Double, Double, Double, Double) =
    T.memo("svcRbf", s, dir) {
      val Array(a, w1, w2, w3) = Twin.fit(svcRows(s, dir), svcFit).last
      (a, w1, w2, w3)
    }

  /** Oracle twin of [[svcParams]] with its rows CTE `d(y, f1, f2, f3)`,
    * ending in b3(a, w1, w2, w3). */
  private lazy val sqlSvcChain: String = {
    val f = (j: Int) =>
      s"CAST(CAST(exp(-(list_distance(CAST(e.embedding AS DOUBLE[]), l$j.e$j) * " +
        s"list_distance(CAST(e.embedding AS DOUBLE[]), l$j.e$j))) AS REAL) AS DOUBLE)"
    s"""d0 AS (SELECT CASE WHEN
             list_distance(CAST(e.embedding AS DOUBLE[]), l0.e0)
             < list_distance(CAST(e.embedding AS DOUBLE[]), l1.e1)
           THEN 1.0 ELSE -1.0 END AS y,
           ${f(0)} AS f1, ${f(1)} AS f2, ${f(2)} AS f3
         FROM embeddings e
         CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS e0 FROM embeddings WHERE vec_id = 0) l0
         CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS e1 FROM embeddings WHERE vec_id = 1) l1
         CROSS JOIN (SELECT CAST(embedding AS DOUBLE[]) AS e2 FROM embeddings WHERE vec_id = 2) l2),
         m0 AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             ${T.sqlXsum("f1")} AS s1, ${T.sqlXsum("f1 * f1")} AS q1,
             ${T.sqlXsum("f2")} AS s2, ${T.sqlXsum("f2 * f2")} AS q2,
             ${T.sqlXsum("f3")} AS s3, ${T.sqlXsum("f3 * f3")} AS q3
           FROM d0),
         d AS (SELECT y,
             (f1 - s1 / n) / sqrt(q1 / n - (s1 / n) * (s1 / n)) AS f1,
             (f2 - s2 / n) / sqrt(q2 / n - (s2 / n) * (s2 / n)) AS f2,
             (f3 - s3 / n) / sqrt(q3 / n - (s3 / n) * (s3 / n)) AS f3
           FROM d0, m0),
  ${Twin.sqlFit(svcFit, "d", "b")}"""
  }

  /** 3 unrolled full-batch GD steps for ml_sgd_linreg — shared
    * (name, text) cascade; a0/b0 = 0, lr = 5e-4 (spectral radius of the
    * 1-feature Hessian ≈ E[x²] ≈ 850 on the fixture keeps 2·lr·λ < 1). */
  private lazy val sgdSteps: Seq[(String, String)] = {
    val base = Seq(
      "mx" -> "sx / n", "my" -> "sy / n", "mxx" -> "sxx / n",
      "mxy" -> "sxy / n", "myy" -> "syy / n",
      "a0" -> "0e0", "b0" -> "0e0")
    val steps = scala.collection.mutable.ArrayBuffer[(String, String)](base: _*)
    for (k <- 1 to 3) {
      val (ap, bp) = (s"a${k - 1}", s"b${k - 1}")
      steps += s"ga$k" -> s"2 * ($ap + $bp * mx - my)"
      steps += s"gb$k" -> s"2 * ($ap * mx + $bp * mxx - mxy)"
      steps += s"a$k" -> s"$ap - 5e-4 * ga$k"
      steps += s"b$k" -> s"$bp - 5e-4 * gb$k"
      steps += s"l$k" ->
        s"myy - 2 * a$k * my - 2 * b$k * mxy + a$k * a$k + 2 * a$k * b$k * mx + b$k * b$k * mxx"
    }
    steps.toSeq
  }

  /** ml_mbsgd's shared cascade: global standardization scalars from the
    * summed batch moments, then 3 GD steps at lr = 0.1 where step k reads
    * ONLY batch k−1's standardized moments (derived algebraically from the
    * raw conditional sums — no second data pass), then the de-standardized
    * coefficients. All on the bit-same bitsE12 doubles. */
  private lazy val mbsgdSteps: Seq[(String, String)] = {
    val base = Seq(
      "n" -> "n0 + n1 + n2",
      "mx" -> "(sx0 + sx1 + sx2) / n", "my" -> "(sy0 + sy1 + sy2) / n",
      "vx" -> "(sxx0 + sxx1 + sxx2) / n - mx * mx",
      "vy" -> "syy / n - my * my",
      "sdx" -> "sqrt(vx)", "sdy" -> "sqrt(vy)",
      "c0" -> "0e0", "w0" -> "0e0")
    val steps = scala.collection.mutable.ArrayBuffer[(String, String)](base: _*)
    for (k <- 1 to 3) {
      val b = k - 1
      steps += s"szb$k" -> s"(sx$b - n$b * mx) / sdx"
      steps += s"sub$k" -> s"(sy$b - n$b * my) / sdy"
      steps += s"szzb$k" -> s"(sxx$b - 2 * mx * sx$b + n$b * mx * mx) / vx"
      steps += s"szub$k" -> s"(sxy$b - mx * sy$b - my * sx$b + n$b * mx * my) / (sdx * sdy)"
      steps += s"gc$k" -> s"2 * (n$b * c${k - 1} + w${k - 1} * szb$k - sub$k) / n$b"
      steps += s"gw$k" -> s"2 * (c${k - 1} * szb$k + w${k - 1} * szzb$k - szub$k) / n$b"
      steps += s"c$k" -> s"c${k - 1} - 1e-1 * gc$k"
      steps += s"w$k" -> s"w${k - 1} - 1e-1 * gw$k"
      steps += s"cr$k" -> s"w$k * sdy / sdx"
      steps += s"ir$k" -> s"my + c$k * sdy - cr$k * mx"
    }
    steps.toSeq
  }

  /** 3 softmax GD steps with DRIVER-HELD (a_N, b_N, a_R, b_R) — one
    * REAL-collapsed softmax pass + 4 sumE12 gradient sums per step (see
    * ml_softmax_multi), then `p − 5e-3 * g / cnt`. Rows `d(q, yn, yr)`. */
  private lazy val softmaxFit: Twin.Fit = Twin.Fit(
    Seq("can" -> 0.0, "cbn" -> 0.0, "car" -> 0.0, "cbr" -> 0.0),
    Seq("en" -> "CAST(CAST(exp(can + cbn * q) AS FLOAT) AS DOUBLE)",
      "er" -> "CAST(CAST(exp(car + cbr * q) AS FLOAT) AS DOUBLE)",
      "pn" -> "en / (1e0 + en + er)", "pr" -> "er / (1e0 + en + er)"),
    Seq(Twin.count("cnt"), Twin.e12("gan", "pn - yn"), Twin.e12("gbn", "(pn - yn) * q"),
      Twin.e12("gar", "pr - yr"), Twin.e12("gbr", "(pr - yr) * q")),
    Nil,
    Seq("can - 5e-3 * gan / cnt", "cbn - 5e-3 * gbn / cnt",
      "car - 5e-3 * gar / cnt", "cbr - 5e-3 * gbr / cnt"), 3)

  private def softmaxBeta(s: SparkSession, dir: String): Array[Double] =
    T.memo("softmaxBeta", s, dir) {
      Twin.fit(T.lineitem(s, dir).select(
        col("l_quantity").cast("double").as("q"),
        when(col("l_returnflag") === "N", 1.0).otherwise(0.0).as("yn"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("yr")), softmaxFit).last
    }

  /** Oracle twin of [[softmaxBeta]] over a CTE `d(q, yn, yr, ...)`,
    * ending in `bet3(can, cbn, car, cbr)`. */
  private lazy val sqlSoftmaxChain: String = Twin.sqlFit(softmaxFit, "d", "bet")

  /** Per-alpha centered ridge solve + train/valid RMSE by residual
    * expansion — ml_ridge_cv's shared cascade (prefix cv). */
  private lazy val ridgeCvSteps: Seq[(String, String)] = Seq(
    "cvcxx" -> "tsxx - tsx * tsx / tn",
    "cvcxy" -> "tsxy - tsx * tsy / tn",
    "cvb" -> "cvcxy / (cvcxx + alpha)",
    "cva" -> "(tsy - cvb * tsx) / tn",
    "cvrt" -> "sqrt((tsyy - 2*cva*tsy - 2*cvb*tsxy + tn*cva*cva + 2*cva*cvb*tsx + cvb*cvb*tsxx) / tn)",
    "cvrv" -> "sqrt((vsyy - 2*cva*vsy - 2*cvb*vsxy + vn*cva*cva + 2*cva*cvb*vsx + cvb*cvb*vsxx) / vn)")
}
