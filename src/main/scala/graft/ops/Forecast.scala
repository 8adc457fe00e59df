package graft.ops

import graft.{QueryDef, Tables => T, Twin}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series smoothing (r7) — the cuML HoltWinters surface, as far as a
  * deterministic cross-engine contract can carry it: simple exponential
  * smoothing over the daily event series with α = 1/2.
  *
  * Why α = 1/2: the recurrence level_t = α·y_t + (1−α)·level_{t−1} unrolls
  * to a weighted sum whose weights (1−α)^k are EXACT powers of two — so
  * the whole computation stays rounding-free: u_t = y_t·2^t is exact
  * BIGINT, the running sum U_t is exact BIGINT, and the final
  * level_t = 0.5^{t+1}·(U_t − u_1) + 0.5^{t−1}·y_1 multiplies an exactly
  * represented integer by a power of two (an exponent shift, no mantissa
  * rounding) and performs ONE IEEE add. No pow() ulp hazard (libm pow is
  * exact on powers of two), no decimal wire needed.
  *
  * Scale: the heavy step is the daily count aggregation (map-side
  * combined); the smoothing itself runs on the ~30 aggregated rows, so the
  * single-partition window is bounded by the date range, not the corpus
  * (the agg_approx_quantile offset-window discipline). The 2^t encoding
  * bounds t ≤ 62 − log2(max daily count); t here is ≤ 31 days and counts
  * ≤ ~2^21 at any tested SF — a 100 TB deployment would shard the series
  * per key and re-base t per window, as the comment contract states.
  */
object Forecast {

  /** DTW series cap: the DP is O(n²), so the compared prefix is bounded
    * at the first 24 days regardless of corpus span (the LEV_CAP
    * discipline). One constant feeds the Spark collect bound AND the
    * oracle's unrolled diagonal count. */
  private val DTW_CAP = 24

  /** Dyadic SES span bound (ADVICE r10 #4 — the DTW_CAP/LEV_CAP
    * discipline applied to ml_holtwinters/ml_ewma_control's u = y·2ᵗ
    * cumulative trick): u must stay an exact BIGINT, which holds while
    * t ≤ 63 − log₂(max daily y). CAP = 40 leaves room for daily volumes
    * up to 2²³ ≈ 8.4M events (the fixture peaks ~10³; a 100 TB corpus
    * whose per-day counts exceed 2²³ would pre-aggregate to coarser
    * buckets long before this operator). Beyond the cap Spark's non-ANSI
    * cast would SATURATE silently while DuckDB raises — so the Spark side
    * fails loudly instead (the e4-wire guard pattern); the oracle needs no
    * twin guard because DuckDB's overflow is already an error, never a
    * wrong answer. */
  private val SES_SPAN_CAP = 40

  /** The guarded u = y·2ᵗ column (requires `t` and `y` in scope). */
  private def dyadicU: org.apache.spark.sql.Column =
    when(col("t") > SES_SPAN_CAP,
      raise_error(concat(
        lit(s"SES dyadic wire: day index exceeds SES_SPAN_CAP=$SES_SPAN_CAP ("),
        col("t").cast("string"), lit(")"))))
      .otherwise(col("y") * expr("CAST(pow(2, t) AS BIGINT)"))

  /** Cramer's-rule determinant texts for the AR(2) normal equations
    *   [ nd  s1  s2 ] [c ]   [ sy ]
    *   [ s1  s11 s12] [p1] = [ s1y]
    *   [ s2  s12 s22] [p2]   [ s2y]
    * — shared verbatim by the Spark selectExpr and the DuckDB CTE, so the
    * double arithmetic is the identical op sequence in both engines.
    * (Declared before `entries`: the oracle strings interpolate them at
    * object init.) */
  private val arDet =
    "nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)"
  private val arDetC =
    "sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)"
  private val arDetP1 =
    "nd * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)"
  private val arDetP2 =
    "nd * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)"

  /** AR(1)-on-differences slope for ml_arima_diff / the DF regression slope
    * for ml_adf_test — the same 2×2 normal-equation closed form, shared
    * verbatim by both engines (declared before `entries`, as arDet). */
  private val ar1Phi = "(nd * sld - sl * sd) / (nd * sll - sl * sl)"
  private val adfGam = "(nd * sxy - sx * sy) / (nd * sxx - sx * sx)"

  /** KPSS long-run variance (Bartlett window, L = 4: w_l = 1 − l/5) and
    * the η statistic, from the decimal-wire sums — shared verbatim by both
    * engines (declared before `entries`, as arDet). γ_l = Σe_t·e_{t−l}/n;
    * the /nd is folded into each term here so the text stays one line. */
  private val kpssLrv =
    "g0s / nd + 2.0 * (0.8 * g1s / nd + 0.6 * g2s / nd + 0.4 * g3s / nd + 0.2 * g4s / nd)"
  private val kpssStat = "ss / (nd * nd) / lrv"

  /** MA(1) method-of-moments texts for ml_arima_ma: r₁ = Pearson lag-1
    * autocorrelation over the (d, dl) pairs; θ̂ = the invertible root of
    * ρ₁ = θ/(1+θ²), NULL when |r₁| > 0.5 (no real root). Shared verbatim. */
  private val maR1 =
    "(nd * sld - sd * sl) / sqrt((nd * sdd - sd * sd) * (nd * sll - sl * sl))"
  private val maTheta =
    "CASE WHEN abs(r1) <= 0.5 AND abs(r1) > 1e-12 THEN (1.0 - sqrt(1.0 - 4.0 * r1 * r1)) / (2.0 * r1) WHEN abs(r1) <= 1e-12 THEN 0.0 ELSE CAST(NULL AS DOUBLE) END"

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "ml_holtwinters",
      // Daily event volume, smoothed: (day, y = count, level = SES state
      // after that day). t is the row index over observed days (gap-proof),
      // so level_1 = y_1 and each later level is the textbook recurrence,
      // verified exactly by the closed form both engines evaluate.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy()
        daily
          .withColumn("t", row_number().over(wIdx))
          .withColumn("u", dyadicU)
          .withColumn("cu", sum(col("u")).over(wCum))
          .withColumn("u1", sum(when(col("t") === 1, col("u"))).over(wAll))
          .withColumn("y1", sum(when(col("t") === 1, col("y"))).over(wAll))
          .select(col("day"), col("y"),
            round(expr(
              "pow(0.5, t + 1) * CAST(cu - u1 AS DOUBLE) + pow(0.5, t - 1) * CAST(y1 AS DOUBLE)"
            ), 6).as("level"))
          .orderBy("day")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                             FROM events GROUP BY 1),
                idx AS (SELECT day, y, row_number() OVER (ORDER BY day) AS t
                        FROM daily),
                u AS (SELECT *, y * CAST(pow(2, t) AS BIGINT) AS u FROM idx),
                c AS (SELECT *,
                    sum(u) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu,
                    sum(CASE WHEN t = 1 THEN u END) OVER () AS u1,
                    sum(CASE WHEN t = 1 THEN y END) OVER () AS y1
                  FROM u)
              SELECT day, y,
                round(pow(0.5, t + 1) * CAST(cu - u1 AS DOUBLE)
                      + pow(0.5, t - 1) * CAST(y1 AS DOUBLE), 6) AS level
              FROM c ORDER BY day""")),

    QueryDef(
      "ml_ewma_control",
      // EWMA control chart (Roberts 1959 — the SPC layer over
      // ml_holtwinters' smoothing state): center line μ0 = ȳ, control
      // limits μ0 ± 3σ·√(λ/(2−λ)·(1 − (1−λ)²ᵗ)) with λ = ½ so every
      // power is DYADIC-exact (pow(2,t)/pow(.5,t)/pow(.25,t) — no libm
      // ulp hazard, the ml_holtwinters lesson), and the statistic is the
      // same closed-form SES level (the u = y·2ᵗ cumulative trick, exact
      // BIGINTs). σ from one exact moment pass. Output per day: the
      // statistic, both limits, and the out-of-control flag — the drift
      // monitor a daily-volume pipeline pages on.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val wCum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.partitionBy()
        daily
          .withColumn("t", row_number().over(wIdx))
          .withColumn("u", dyadicU)
          .withColumn("cu", sum(col("u")).over(wCum))
          .withColumn("u1", sum(when(col("t") === 1, col("u"))).over(wAll))
          .withColumn("y1", sum(when(col("t") === 1, col("y"))).over(wAll))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("sy", T.xsumD(col("y")).over(wAll).cast("double"))
          .withColumn("syy",
            T.xsumD(col("y") * col("y")).over(wAll).cast("double"))
          .selectExpr("day", "y", "t",
            "pow(0.5, t + 1) * CAST(cu - u1 AS DOUBLE) + pow(0.5, t - 1) * CAST(y1 AS DOUBLE) AS z",
            "sy / n AS mu0",
            "sqrt(syy / n - (sy / n) * (sy / n)) AS sig",
            "sqrt((1e0 / 3e0) * (1e0 - pow(0.25, t))) AS hw")
          .selectExpr("day", "y", "round(z, 6) AS ewma",
            "round(mu0 + 3e0 * sig * hw, 6) AS ucl",
            "round(mu0 - 3e0 * sig * hw, 6) AS lcl",
            "CAST(z > mu0 + 3e0 * sig * hw OR z < mu0 - 3e0 * sig * hw AS INT) AS out_of_control")
          .orderBy("day")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                             FROM events GROUP BY 1),
                idx AS (SELECT day, y, row_number() OVER (ORDER BY day) AS t
                        FROM daily),
                u AS (SELECT *, y * CAST(pow(2, t) AS BIGINT) AS u FROM idx),
                c AS (SELECT *,
                    sum(u) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cu,
                    sum(CASE WHEN t = 1 THEN u END) OVER () AS u1,
                    sum(CASE WHEN t = 1 THEN y END) OVER () AS y1,
                    count(*) OVER () AS n,
                    CAST(sum(CAST(y AS DECIMAL(30,12))) OVER () AS DOUBLE) AS sy,
                    CAST(sum(CAST(y * y AS DECIMAL(30,12))) OVER () AS DOUBLE) AS syy
                  FROM u),
                z AS (SELECT day, y,
                    pow(0.5, t + 1) * CAST(cu - u1 AS DOUBLE) + pow(0.5, t - 1) * CAST(y1 AS DOUBLE) AS z,
                    sy / n AS mu0,
                    sqrt(syy / n - (sy / n) * (sy / n)) AS sig,
                    sqrt((1e0 / 3e0) * (1e0 - pow(0.25, t))) AS hw
                  FROM c)
              SELECT day, y, round(z, 6) AS ewma,
                round(mu0 + 3e0 * sig * hw, 6) AS ucl,
                round(mu0 - 3e0 * sig * hw, 6) AS lcl,
                CAST(z > mu0 + 3e0 * sig * hw OR z < mu0 - 3e0 * sig * hw AS INT) AS out_of_control
              FROM z ORDER BY day""")),

    QueryDef(
      "ml_theil_sen",
      // Theil–Sen robust trend (sklearn TheilSenRegressor's 1-feature
      // core): the MEDIAN of all pairwise slopes (y_j − y_i)/(t_j − t_i)
      // of the daily series — 29.3% breakdown vs OLS's 0. The pair
      // enumeration is the bounded day-table self-join (≤ day-range²
      // rows); the median is the exact interpolated (N−1)·½ rank (the
      // agg_describe bracket) over those pairs. The OLS slope rides
      // along from the same pass's moments for contrast. Slopes are
      // ratios of BIGINT differences — identical doubles cross-engine.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        val a = daily.selectExpr("t AS ta", "y AS ya")
        val b = daily.selectExpr("t AS tb", "y AS yb")
        val sl = a.join(b, col("ta") < col("tb"))
          .selectExpr("CAST(yb - ya AS DOUBLE) / (tb - ta) AS s")
        val wr = Window.orderBy("s")
        val wg = Window.partitionBy()
        val med = sl.withColumn("rn", row_number().over(wr))
          .withColumn("np", count(lit(1)).over(wg))
          .withColumn("lo", max(when(
            col("rn") === floor((col("np") - 1) * 0.5).cast("long") + 1,
            col("s"))).over(wg))
          .withColumn("hi", max(when(
            col("rn") === least(floor((col("np") - 1) * 0.5).cast("long") + 2,
              col("np")), col("s"))).over(wg))
        val m = daily.agg(count(lit(1)).cast("double").as("nd"),
          T.xsum(col("t")).as("st"), T.xsum(col("y")).as("sy"),
          T.xsum(col("t") * col("t")).as("stt"),
          T.xsum(col("t") * col("y")).as("sty"))
        med.agg(first(col("np")).as("n_pairs"),
            first(expr(
              "lo + ((np - 1) * 0.5 - floor((np - 1) * 0.5)) * (hi - lo)"))
              .as("ts_slope"))
          .crossJoin(broadcast(m))
          .selectExpr("n_pairs", "round(ts_slope, 6) AS theil_sen_slope",
            "round((nd * sty - st * sy) / (nd * stt - st * st), 6) AS ols_slope")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                             FROM events GROUP BY 1),
                idx AS (SELECT y, row_number() OVER (ORDER BY day) AS t
                        FROM daily),
                sl AS (SELECT CAST(b.y - a.y AS DOUBLE) / (b.t - a.t) AS s
                  FROM idx a JOIN idx b ON a.t < b.t),
                rk AS (SELECT s, row_number() OVER (ORDER BY s) AS rn,
                    count(*) OVER () AS np
                  FROM sl),
                br AS (SELECT any_value(np) AS n_pairs,
                    max(CASE WHEN rn = CAST(floor((np - 1) * 0.5) AS BIGINT) + 1 THEN s END) AS lo,
                    max(CASE WHEN rn = least(CAST(floor((np - 1) * 0.5) AS BIGINT) + 2, np) THEN s END) AS hi
                  FROM rk),
                m AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                    ${T.sqlXsum("t")} AS st, ${T.sqlXsum("y")} AS sy,
                    ${T.sqlXsum("t * t")} AS stt, ${T.sqlXsum("t * y")} AS sty
                  FROM idx)
              SELECT n_pairs,
                round(lo + ((n_pairs - 1) * 0.5 - floor((n_pairs - 1) * 0.5)) * (hi - lo), 6) AS theil_sen_slope,
                round((nd * sty - st * sy) / (nd * stt - st * st), 6) AS ols_slope
              FROM br CROSS JOIN m""")),

    QueryDef(
      "ml_mann_kendall",
      // Mann–Kendall trend test (Mann 1945; Kendall 1975 — the
      // nonparametric "is there a monotone trend" check run before any
      // forecast is trusted): S = Σ_{i<j} sign(y_j − y_i) over the daily
      // series, tie-corrected variance Var(S) = [n(n−1)(2n+5) −
      // Σ_g t_g(t_g−1)(2t_g+5)]/18, and the continuity-corrected normal
      // score Z = (S ∓ 1)/√Var. S and every tie term are exact BIGINTs
      // from the bounded day-pair self-join + one value-group count.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        val a = daily.selectExpr("t AS ta", "y AS ya")
        val b = daily.selectExpr("t AS tb", "y AS yb")
        val sAgg = a.join(b, col("ta") < col("tb"))
          .agg(count(lit(1)).as("n0"),
            sum(expr("CAST(sign(yb - ya) AS BIGINT)")).as("s"))
        val ties = daily.groupBy("y").agg(count(lit(1)).as("tg"))
          .agg(sum(expr("tg * (tg - 1) * (2 * tg + 5)")).as("tie_term"))
        val nAgg = daily.agg(count(lit(1)).as("n"))
        sAgg.crossJoin(ties).crossJoin(nAgg)
          .selectExpr("n", "s",
            "(CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) - tie_term) / 18e0 AS var_s")
          .selectExpr("n", "s", "round(var_s, 6) AS var_s",
            "round(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s) " +
              "WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0e0 END, 6) AS z")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                             FROM events GROUP BY 1),
                idx AS (SELECT y, row_number() OVER (ORDER BY day) AS t
                        FROM daily),
                sa AS (SELECT count(*) AS n0,
                    CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS s
                  FROM idx a JOIN idx b ON a.t < b.t),
                tt AS (SELECT CAST(sum(tg * (tg - 1) * (2 * tg + 5)) AS BIGINT) AS tie_term
                  FROM (SELECT count(*) AS tg FROM idx GROUP BY y) g),
                nn AS (SELECT count(*) AS n FROM idx),
                v AS (SELECT n, s,
                    (CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) - tie_term) / 18e0 AS var_s
                  FROM sa CROSS JOIN tt CROSS JOIN nn)
              SELECT n, s, round(var_s, 6) AS var_s,
                round(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                  WHEN s < 0 THEN (s + 1) / sqrt(var_s) ELSE 0e0 END, 6) AS z
              FROM v""")),

    QueryDef(
      "ml_ar2",
      // cuML's ARIMA surface, by the estimator a cluster actually solves
      // in closed form: an AR(2) fit on the daily event series via
      // conditional least squares — regress y_t on (1, y_{t−1}, y_{t−2})
      // over t ≥ 3 and solve the 3×3 normal equations by Cramer's rule.
      // Determinism: the lagged frame is integer counts, so EVERY moment
      // (Σy, Σy², cross-products) is an exact BIGINT sum; the determinant
      // algebra runs on those exactly-represented integers as doubles
      // with shared expression text — the same IEEE op sequence in both
      // engines. Scale: the heavy step is the daily count aggregation
      // (map-side combined); lag/solve run on the ≤|days| aggregated rows
      // (the ml_holtwinters bounded-series discipline — a 100 TB
      // deployment shards the series per key).
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val lagged = daily
          .withColumn("y1", lag(col("y"), 1).over(wIdx))
          .withColumn("y2", lag(col("y"), 2).over(wIdx))
          .where(col("y1").isNotNull && col("y2").isNotNull)
        lagged.agg(
          count(lit(1)).as("n"),
          sum(col("y")).as("sy"), sum(col("y1")).as("s1"), sum(col("y2")).as("s2"),
          sum(col("y1") * col("y1")).as("s11"), sum(col("y2") * col("y2")).as("s22"),
          sum(col("y1") * col("y2")).as("s12"),
          sum(col("y1") * col("y")).as("s1y"), sum(col("y2") * col("y")).as("s2y"))
          .selectExpr("n", "CAST(n AS DOUBLE) AS nd",
            "CAST(sy AS DOUBLE) AS sy", "CAST(s1 AS DOUBLE) AS s1",
            "CAST(s2 AS DOUBLE) AS s2", "CAST(s11 AS DOUBLE) AS s11",
            "CAST(s22 AS DOUBLE) AS s22", "CAST(s12 AS DOUBLE) AS s12",
            "CAST(s1y AS DOUBLE) AS s1y", "CAST(s2y AS DOUBLE) AS s2y")
          .selectExpr("n AS n_obs",
            s"round(($arDetC) / ($arDet), 6) AS intercept",
            s"round(($arDetP1) / ($arDet), 6) AS phi1",
            s"round(($arDetP2) / ($arDet), 6) AS phi2")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 lg AS (SELECT y,
                     lag(y, 1) OVER (ORDER BY day) AS y1,
                     lag(y, 2) OVER (ORDER BY day) AS y2
                   FROM daily),
                 f AS (SELECT * FROM lg WHERE y1 IS NOT NULL AND y2 IS NOT NULL),
                 m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y1) AS BIGINT) AS s1,
                     CAST(sum(y2) AS BIGINT) AS s2,
                     CAST(sum(y1 * y1) AS BIGINT) AS s11,
                     CAST(sum(y2 * y2) AS BIGINT) AS s22,
                     CAST(sum(y1 * y2) AS BIGINT) AS s12,
                     CAST(sum(y1 * y) AS BIGINT) AS s1y,
                     CAST(sum(y2 * y) AS BIGINT) AS s2y
                   FROM f),
                 d AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                     CAST(sy AS DOUBLE) AS sy, CAST(s1 AS DOUBLE) AS s1,
                     CAST(s2 AS DOUBLE) AS s2, CAST(s11 AS DOUBLE) AS s11,
                     CAST(s22 AS DOUBLE) AS s22, CAST(s12 AS DOUBLE) AS s12,
                     CAST(s1y AS DOUBLE) AS s1y, CAST(s2y AS DOUBLE) AS s2y
                   FROM m)
               SELECT n AS n_obs,
                 round(($arDetC) / ($arDet), 6) AS intercept,
                 round(($arDetP1) / ($arDet), 6) AS phi1,
                 round(($arDetP2) / ($arDet), 6) AS phi2
               FROM d""")),

    QueryDef(
      "ml_arima_diff",
      // The cuML ARIMA surface one step past ml_ar2: ARIMA(1,1,0) on the
      // daily event series — first-difference d_t = y_t − y_{t−1}, then a
      // conditional-least-squares AR(1)-with-intercept fit on d, then the
      // one-step-ahead forecast ŷ_{T+1} = y_T + c + φ·d_T (undoing the
      // difference). Every moment (Σd, Σd², cross-products) and both last
      // values are exact BIGINTs; the closed-form solve and the forecast
      // run on shared double expression text, so the IEEE op sequence is
      // identical cross-engine. Scale: heavy step = the daily count
      // aggregation (map-side combined); diff/lag/solve run on the
      // ≤|days| aggregated rows (the ml_ar2 bounded-series discipline).
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val lg = daily
          .withColumn("t", row_number().over(wIdx))
          .withColumn("d", col("y") - lag(col("y"), 1).over(wIdx))
          .withColumn("dl", lag(col("d"), 1).over(wIdx))
        val m = lg.where(col("dl").isNotNull).agg(
          count(lit(1)).as("n"),
          sum(col("d")).as("sd"), sum(col("dl")).as("sl"),
          sum(col("dl") * col("dl")).as("sll"),
          sum(col("dl") * col("d")).as("sld"))
        val last = lg.where(col("d").isNotNull).agg(
          max_by(col("y"), col("t")).as("y_last"),
          max_by(col("d"), col("t")).as("d_last"))
        m.crossJoin(last)
          .selectExpr("n", "CAST(n AS DOUBLE) AS nd",
            "CAST(sd AS DOUBLE) AS sd", "CAST(sl AS DOUBLE) AS sl",
            "CAST(sll AS DOUBLE) AS sll", "CAST(sld AS DOUBLE) AS sld",
            "y_last", "d_last")
          .selectExpr("*", s"$ar1Phi AS phi")
          .selectExpr("*", "(sd - phi * sl) / nd AS c")
          .selectExpr("n AS n_obs",
            "round(c, 6) AS intercept",
            "round(phi, 6) AS phi",
            "round(CAST(y_last AS DOUBLE) + c + phi * CAST(d_last AS DOUBLE), 6) AS forecast")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 lg0 AS (SELECT day, y,
                     row_number() OVER (ORDER BY day) AS t,
                     y - lag(y, 1) OVER (ORDER BY day) AS d
                   FROM daily),
                 lg AS (SELECT *, lag(d, 1) OVER (ORDER BY day) AS dl FROM lg0),
                 m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(d) AS BIGINT) AS sd, CAST(sum(dl) AS BIGINT) AS sl,
                     CAST(sum(dl * dl) AS BIGINT) AS sll,
                     CAST(sum(dl * d) AS BIGINT) AS sld
                   FROM lg WHERE dl IS NOT NULL),
                 lst AS (SELECT max_by(y, t) AS y_last, max_by(d, t) AS d_last
                         FROM lg WHERE d IS NOT NULL),
                 dd AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                     CAST(sd AS DOUBLE) AS sd, CAST(sl AS DOUBLE) AS sl,
                     CAST(sll AS DOUBLE) AS sll, CAST(sld AS DOUBLE) AS sld,
                     y_last, d_last
                   FROM m CROSS JOIN lst),
                 p AS (SELECT *, $ar1Phi AS phi FROM dd),
                 cc AS (SELECT *, (sd - phi * sl) / nd AS c FROM p)
               SELECT n AS n_obs,
                 round(c, 6) AS intercept,
                 round(phi, 6) AS phi,
                 round(CAST(y_last AS DOUBLE) + c + phi * CAST(d_last AS DOUBLE), 6) AS forecast
               FROM cc""")),

    QueryDef(
      "ml_adf_test",
      // cuML tsa stationarity surface: the (augmented, lag-0) Dickey-Fuller
      // regression Δy_t = α + γ·y_{t−1} + ε on the daily event series — the
      // unit-root test statistic t(γ) = γ̂/se(γ̂), compared against the 5%
      // constant-only critical value (−2.86). Every regression moment
      // (including Σ(Δy)² for the residual SS) is an exact BIGINT sum; γ̂,
      // α̂, SSR = syy − α·sy − γ·sxy (the normal-equation identity applied
      // as shared text, so both engines cancel identically), s², and the
      // t-stat are single shared-text IEEE expressions. Scale: identical
      // bounded-series shape as ml_ar2/ml_arima_diff.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val lg = daily
          .withColumn("x", lag(col("y"), 1).over(wIdx))
          .withColumn("dy", col("y") - lag(col("y"), 1).over(wIdx))
          .where(col("x").isNotNull)
        lg.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("dy")).as("sxy"),
          sum(col("dy") * col("dy")).as("syy"))
          .selectExpr("n", "CAST(n AS DOUBLE) AS nd",
            "CAST(sx AS DOUBLE) AS sx", "CAST(sy AS DOUBLE) AS sy",
            "CAST(sxx AS DOUBLE) AS sxx", "CAST(sxy AS DOUBLE) AS sxy",
            "CAST(syy AS DOUBLE) AS syy")
          .selectExpr("*", s"$adfGam AS gam")
          .selectExpr("*", "(sy - gam * sx) / nd AS alpha")
          .selectExpr("*", "syy - alpha * sy - gam * sxy AS ssr")
          .selectExpr("n AS n_obs",
            "round(gam, 6) AS gamma",
            "round(gam / sqrt((ssr / (nd - 2.0)) * nd / (nd * sxx - sx * sx)), 6) AS t_stat",
            "CAST(gam / sqrt((ssr / (nd - 2.0)) * nd / (nd * sxx - sx * sx)) < -2.86 AS BOOLEAN) AS stationary_5pct")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 lg AS (SELECT day, y,
                     lag(y, 1) OVER (ORDER BY day) AS x,
                     y - lag(y, 1) OVER (ORDER BY day) AS dy
                   FROM daily),
                 m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(x * dy) AS BIGINT) AS sxy,
                     CAST(sum(dy * dy) AS BIGINT) AS syy
                   FROM lg WHERE x IS NOT NULL),
                 dd AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                     CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
                     CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
                     CAST(syy AS DOUBLE) AS syy
                   FROM m),
                 g AS (SELECT *, $adfGam AS gam FROM dd),
                 a AS (SELECT *, (sy - gam * sx) / nd AS alpha FROM g),
                 r AS (SELECT *, syy - alpha * sy - gam * sxy AS ssr FROM a)
               SELECT n AS n_obs,
                 round(gam, 6) AS gamma,
                 round(gam / sqrt((ssr / (nd - 2.0)) * nd / (nd * sxx - sx * sx)), 6) AS t_stat,
                 CAST(gam / sqrt((ssr / (nd - 2.0)) * nd / (nd * sxx - sx * sx)) < -2.86 AS BOOLEAN) AS stationary_5pct
               FROM r""")),

    QueryDef(
      "ml_kpss_test",
      // The KPSS level-stationarity test (cuML tsa.stationarity's other
      // half, next to ml_adf_test — ADF's null is a unit root, KPSS's null
      // is stationarity, so the pair is how the reference surface decides
      // differencing order). η = (1/n²)·Σ S_t² / σ²_lr over the daily
      // event series, with S_t the cumulative demeaned partial sum and
      // σ²_lr the Bartlett-window long-run variance at L = 4 lags
      // (w_l = 1 − l/5).
      //
      // Determinism: the demeaned series is kept INTEGER as long as
      // possible — e'_t = n·y_t − Σy is an exact BIGINT, and the partial
      // sum S'_t is an exact BIGINT window cumsum (order-free), so both
      // engines divide the IDENTICAL integer by n before any IEEE work;
      // every squared/lagged product then sums on the exact decimal wire
      // and the final ratios are shared-text expressions. Scale: the only
      // corpus-sized step is the map-side-combined daily count; windows
      // run over the bounded day series (the ml_adf_test shape).
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val tot = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
        val w = Window.orderBy("day")
        val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val e = daily.crossJoin(broadcast(tot))
          .withColumn("ep", col("n") * col("y") - col("sy"))
          .withColumn("sp", sum(col("ep")).over(cum))
          .selectExpr("n", "CAST(ep AS DOUBLE) / n AS ed",
            "CAST(sp AS DOUBLE) / n AS sd", "day")
          .withColumn("e1", lag(col("ed"), 1).over(w))
          .withColumn("e2", lag(col("ed"), 2).over(w))
          .withColumn("e3", lag(col("ed"), 3).over(w))
          .withColumn("e4", lag(col("ed"), 4).over(w))
        e.agg(
          max(col("n")).as("n"),
          T.xsum(col("sd") * col("sd")).as("ss"),
          T.xsum(col("ed") * col("ed")).as("g0s"),
          T.xsum(col("ed") * col("e1")).as("g1s"),
          T.xsum(col("ed") * col("e2")).as("g2s"),
          T.xsum(col("ed") * col("e3")).as("g3s"),
          T.xsum(col("ed") * col("e4")).as("g4s"))
          .selectExpr("n", "CAST(n AS DOUBLE) AS nd",
            "ss", "g0s", "g1s", "g2s", "g3s", "g4s")
          .selectExpr("*", s"$kpssLrv AS lrv")
          .selectExpr("*", s"$kpssStat AS stat")
          .selectExpr("n AS n_obs",
            "round(lrv, 6) AS lrv",
            "round(stat, 6) AS kpss_stat",
            "CAST(stat < 0.463 AS BOOLEAN) AS stationary_5pct")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                                CAST(sum(y) AS BIGINT) AS sy FROM daily),
                 ec AS (SELECT day, n, n * y - sy AS ep,
                          sum(n * y - sy) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp
                        FROM daily CROSS JOIN tot),
                 ed AS (SELECT day, n, CAST(ep AS DOUBLE) / n AS ed,
                          CAST(sp AS DOUBLE) / n AS sd
                        FROM ec),
                 lg AS (SELECT *,
                          lag(ed, 1) OVER (ORDER BY day) AS e1,
                          lag(ed, 2) OVER (ORDER BY day) AS e2,
                          lag(ed, 3) OVER (ORDER BY day) AS e3,
                          lag(ed, 4) OVER (ORDER BY day) AS e4
                        FROM ed),
                 m AS (SELECT max(n) AS n, CAST(max(n) AS DOUBLE) AS nd,
                         ${T.sqlXsum("sd * sd")} AS ss,
                         ${T.sqlXsum("ed * ed")} AS g0s,
                         ${T.sqlXsum("ed * e1")} AS g1s,
                         ${T.sqlXsum("ed * e2")} AS g2s,
                         ${T.sqlXsum("ed * e3")} AS g3s,
                         ${T.sqlXsum("ed * e4")} AS g4s
                       FROM lg),
                 v AS (SELECT *, $kpssLrv AS lrv FROM m),
                 r AS (SELECT *, $kpssStat AS stat FROM v)
               SELECT n AS n_obs,
                 round(lrv, 6) AS lrv,
                 round(stat, 6) AS kpss_stat,
                 CAST(stat < 0.463 AS BOOLEAN) AS stationary_5pct
               FROM r""")),

    QueryDef(
      "ml_arima_ma",
      // ARIMA(0,1,1) — the MA side of the cuML ARIMA order grid (the
      // existing rows cover AR(1)/AR(2)/ARIMA(1,1,0)): fitted by the
      // CLOSED-FORM method-of-moments MA(1) estimator on the differenced
      // daily series. ρ₁ = θ/(1+θ²) for an MA(1), so θ̂ is the invertible
      // root (1 − √(1−4r₁²))/(2r₁) of the lag-1 sample autocorrelation
      // r₁ (Pearson form over the lag pairs — every moment an exact
      // BIGINT), and σ²_ε = var(Δy)/(1+θ̂²). |r₁| > 0.5 has no real MA(1)
      // root — emitted as invertible = false with NULL θ (the loud
      // contract, not a silent clamp). No iterative CSS pass: the moment
      // estimator is one lag-window pass + a scalar cascade, the
      // bounded-series shape of the whole tsa family.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val lg = daily
          .withColumn("d", col("y") - lag(col("y"), 1).over(wIdx))
          .withColumn("dl", lag(col("d"), 1).over(wIdx))
          .where(col("dl").isNotNull)
        lg.agg(
          count(lit(1)).as("n"),
          sum(col("d")).as("sd"), sum(col("dl")).as("sl"),
          sum(col("d") * col("d")).as("sdd"),
          sum(col("dl") * col("dl")).as("sll"),
          sum(col("dl") * col("d")).as("sld"))
          .selectExpr("n", "CAST(n AS DOUBLE) AS nd",
            "CAST(sd AS DOUBLE) AS sd", "CAST(sl AS DOUBLE) AS sl",
            "CAST(sdd AS DOUBLE) AS sdd", "CAST(sll AS DOUBLE) AS sll",
            "CAST(sld AS DOUBLE) AS sld")
          .selectExpr("*", s"$maR1 AS r1")
          .selectExpr("*", s"$maTheta AS theta")
          .selectExpr("n AS n_obs",
            "round(sd / nd, 6) AS mu_diff",
            "round(r1, 6) AS r1",
            "round(theta, 6) AS theta",
            "round((sdd / nd - (sd / nd) * (sd / nd)) / (1.0 + theta * theta), 6) AS sigma2_eps",
            "CAST(abs(r1) <= 0.5 AS BOOLEAN) AS invertible")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 lg0 AS (SELECT day, y,
                     y - lag(y, 1) OVER (ORDER BY day) AS d
                   FROM daily),
                 lg AS (SELECT *, lag(d, 1) OVER (ORDER BY day) AS dl FROM lg0),
                 m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(d) AS BIGINT) AS sd, CAST(sum(dl) AS BIGINT) AS sl,
                     CAST(sum(d * d) AS BIGINT) AS sdd,
                     CAST(sum(dl * dl) AS BIGINT) AS sll,
                     CAST(sum(dl * d) AS BIGINT) AS sld
                   FROM lg WHERE dl IS NOT NULL),
                 dd AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                     CAST(sd AS DOUBLE) AS sd, CAST(sl AS DOUBLE) AS sl,
                     CAST(sdd AS DOUBLE) AS sdd, CAST(sll AS DOUBLE) AS sll,
                     CAST(sld AS DOUBLE) AS sld
                   FROM m),
                 r AS (SELECT *, $maR1 AS r1 FROM dd),
                 t AS (SELECT *, $maTheta AS theta FROM r)
               SELECT n AS n_obs,
                 round(sd / nd, 6) AS mu_diff,
                 round(r1, 6) AS r1,
                 round(theta, 6) AS theta,
                 round((sdd / nd - (sd / nd) * (sd / nd)) / (1.0 + theta * theta), 6) AS sigma2_eps,
                 CAST(abs(r1) <= 0.5 AS BOOLEAN) AS invertible
               FROM t""")),

    QueryDef(
      "ml_seasonal_decompose",
      // Classical additive seasonal decomposition of the daily event
      // series (the tsa.seasonal_decompose companion to the ARIMA/ADF
      // rows): trend = 7-day centered moving average (defined only where
      // the window is full — the endpoints are NULL, the statsmodels
      // contract), seasonal = per-day-of-week mean of the detrended
      // series, resid = y − trend − seasonal. Day-of-week is computed as
      // epoch-days mod 7 (locale-free, identical cross-engine). Every
      // window runs over the ≤|days| AGGREGATED rows (the bounded-series
      // discipline); the trend mean is a ratio of exact BIGINTs, the
      // seasonal means ride the exact-decimal wire.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val wMA = Window.orderBy("t").rowsBetween(-3, 3)
        val ws = Window.partitionBy("dow")
        daily
          .withColumn("t", row_number().over(wIdx))
          .withColumn("dow",
            expr("CAST(datediff(day, DATE '1970-01-01') % 7 AS INT)"))
          .withColumn("c7", count(lit(1)).over(wMA))
          .withColumn("s7", sum(col("y")).over(wMA))
          .withColumn("trend",
            when(col("c7") === 7, expr("CAST(s7 AS DOUBLE) / 7")))
          .withColumn("det", col("y") - col("trend"))
          .withColumn("seasonal",
            T.xsumD(col("det")).over(ws).cast("double") /
              count(col("det")).over(ws))
          .select(col("day"), col("y"), col("dow"),
            round(col("trend"), 6).as("trend"),
            round(col("seasonal"), 6).as("seasonal"),
            round(col("y") - col("trend") - col("seasonal"), 6).as("resid"))
          .orderBy("day")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                             FROM events GROUP BY 1),
                idx AS (SELECT day, y, row_number() OVER (ORDER BY day) AS t,
                    CAST((day - DATE '1970-01-01') % 7 AS INT) AS dow
                  FROM daily),
                ma AS (SELECT *, count(*) OVER w7 AS c7, sum(y) OVER w7 AS s7
                  FROM idx
                  WINDOW w7 AS (ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
                tr AS (SELECT *, CASE WHEN c7 = 7 THEN CAST(s7 AS DOUBLE) / 7 END AS trend
                  FROM ma),
                dt AS (SELECT *, y - trend AS det FROM tr),
                se AS (SELECT *,
                    CAST(sum(CAST(det AS DECIMAL(30,12))) OVER (PARTITION BY dow) AS DOUBLE)
                      / count(det) OVER (PARTITION BY dow) AS seasonal
                  FROM dt)
              SELECT day, y, dow, round(trend, 6) AS trend,
                round(seasonal, 6) AS seasonal,
                round(y - trend - seasonal, 6) AS resid
              FROM se ORDER BY day""")),

    QueryDef(
      "ml_seasonal_strength",
      // Trend/seasonal strength (Hyndman & Athanasopoulos, FPP §12.2 —
      // the scalar summary of ml_seasonal_decompose a feature-store
      // computes per series): F_T = max(0, 1 − Var(R)/Var(T+R)) and
      // F_S = max(0, 1 − Var(R)/Var(S+R)) over the days where the
      // centered window is full. Same decomposition chain; the three
      // variances come from ONE exact-wire moment pass over the bounded
      // day rows, with T+R = y − seasonal and S+R = y − trend.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val wMA = Window.orderBy("t").rowsBetween(-3, 3)
        val ws = Window.partitionBy("dow")
        daily
          .withColumn("t", row_number().over(wIdx))
          .withColumn("dow",
            expr("CAST(datediff(day, DATE '1970-01-01') % 7 AS INT)"))
          .withColumn("c7", count(lit(1)).over(wMA))
          .withColumn("s7", sum(col("y")).over(wMA))
          .withColumn("trend",
            when(col("c7") === 7, expr("CAST(s7 AS DOUBLE) / 7")))
          .withColumn("det", col("y") - col("trend"))
          .withColumn("seasonal",
            T.xsumD(col("det")).over(ws).cast("double") /
              count(col("det")).over(ws))
          .where(col("trend").isNotNull)
          .selectExpr("y - trend - seasonal AS r",
            "y - seasonal AS a", "y - trend AS b")
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("r")).as("sr"), T.xsum(col("r") * col("r")).as("srr"),
            T.xsum(col("a")).as("sa"), T.xsum(col("a") * col("a")).as("saa"),
            T.xsum(col("b")).as("sb"), T.xsum(col("b") * col("b")).as("sbb"))
          .selectExpr("n",
            "srr / n - (sr / n) * (sr / n) AS vr",
            "saa / n - (sa / n) * (sa / n) AS va",
            "sbb / n - (sb / n) * (sb / n) AS vb")
          .selectExpr("CAST(n AS BIGINT) AS n_full",
            "round(greatest(0e0, 1e0 - vr / va), 6) AS f_trend",
            "round(greatest(0e0, 1e0 - vr / vb), 6) AS f_seasonal")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                             FROM events GROUP BY 1),
                idx AS (SELECT day, y, row_number() OVER (ORDER BY day) AS t,
                    CAST((day - DATE '1970-01-01') % 7 AS INT) AS dow
                  FROM daily),
                ma AS (SELECT *, count(*) OVER w7 AS c7, sum(y) OVER w7 AS s7
                  FROM idx
                  WINDOW w7 AS (ORDER BY t ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
                tr AS (SELECT *, CASE WHEN c7 = 7 THEN CAST(s7 AS DOUBLE) / 7 END AS trend
                  FROM ma),
                dt AS (SELECT *, y - trend AS det FROM tr),
                se AS (SELECT *,
                    CAST(sum(CAST(det AS DECIMAL(30,12))) OVER (PARTITION BY dow) AS DOUBLE)
                      / count(det) OVER (PARTITION BY dow) AS seasonal
                  FROM dt),
                fl AS (SELECT y - trend - seasonal AS r,
                    y - seasonal AS a, y - trend AS b
                  FROM se WHERE trend IS NOT NULL),
                m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                    ${T.sqlXsum("r")} AS sr, ${T.sqlXsum("r * r")} AS srr,
                    ${T.sqlXsum("a")} AS sa, ${T.sqlXsum("a * a")} AS saa,
                    ${T.sqlXsum("b")} AS sb, ${T.sqlXsum("b * b")} AS sbb
                  FROM fl),
                v AS (SELECT n,
                    srr / n - (sr / n) * (sr / n) AS vr,
                    saa / n - (sa / n) * (sa / n) AS va,
                    sbb / n - (sb / n) * (sb / n) AS vb
                  FROM m)
              SELECT CAST(n AS BIGINT) AS n_full,
                round(greatest(0e0, 1e0 - vr / va), 6) AS f_trend,
                round(greatest(0e0, 1e0 - vr / vb), 6) AS f_seasonal
              FROM v""")),

    QueryDef(
      "ml_auto_arima",
      // cuML tsa auto_arima [R] — order selection by AIC over the
      // candidate set {AR(1), AR(2), ARIMA(1,1,0)} on the daily event
      // series. ONE lag-window pass over the ≤|days| aggregated rows
      // collects every conditional BIGINT moment (the three models use
      // different effective samples — y₁ defined vs y₂ defined — so the
      // sums are conditional, the ml_mbsgd sharding discipline); each
      // candidate solves its closed-form conditional-LS fit, SSR comes
      // from the normal-equation identity applied as shared text, and
      // AIC = n·ln(SSR/n) + 2k (ln REAL-collapsed). The selected flag is
      // aic = least(all three) — both engines compare identical doubles.
      // The AR(2) solve reuses the arDet Cramer texts verbatim by naming
      // its moment columns exactly as ml_ar2 does.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val lg = daily
          .withColumn("y1", lag(col("y"), 1).over(wIdx))
          .withColumn("y2", lag(col("y"), 2).over(wIdx))
        def cs(cond: String, e: String) = s"sum(CASE WHEN $cond THEN $e END)"
        val m = lg.selectExpr("y", "y1", "y2", "y - y1 AS dy", "y1 - y2 AS dyl")
          .selectExpr(
            // AR(1) sample: y1 defined
            s"${cs("y1 IS NOT NULL", "1")} AS n1r",
            s"${cs("y1 IS NOT NULL", "y1")} AS a_sx", s"${cs("y1 IS NOT NULL", "y")} AS a_sy",
            s"${cs("y1 IS NOT NULL", "y1 * y1")} AS a_sxx",
            s"${cs("y1 IS NOT NULL", "y1 * y")} AS a_sxy",
            s"${cs("y1 IS NOT NULL", "y * y")} AS a_syy",
            // AR(2) sample: y2 defined — names match the arDet texts
            s"${cs("y2 IS NOT NULL", "1")} AS n2r",
            s"${cs("y2 IS NOT NULL", "y1")} AS s1r", s"${cs("y2 IS NOT NULL", "y2")} AS s2r",
            s"${cs("y2 IS NOT NULL", "y1 * y1")} AS s11r",
            s"${cs("y2 IS NOT NULL", "y1 * y2")} AS s12r",
            s"${cs("y2 IS NOT NULL", "y2 * y2")} AS s22r",
            s"${cs("y2 IS NOT NULL", "y")} AS syr",
            s"${cs("y2 IS NOT NULL", "y1 * y")} AS s1yr",
            s"${cs("y2 IS NOT NULL", "y2 * y")} AS s2yr",
            s"${cs("y2 IS NOT NULL", "y * y")} AS syy2r",
            // differenced AR(1) sample: y2 defined (dy and dyl both exist)
            s"${cs("y2 IS NOT NULL", "dyl")} AS d_slr", s"${cs("y2 IS NOT NULL", "dy")} AS d_sdr",
            s"${cs("y2 IS NOT NULL", "dyl * dyl")} AS d_sllr",
            s"${cs("y2 IS NOT NULL", "dyl * dy")} AS d_sldr",
            s"${cs("y2 IS NOT NULL", "dy * dy")} AS d_sddr")
        Twin.chain(m, autoArimaSteps).selectExpr(
          """stack(3,
               'ar1',       CAST(n1 AS BIGINT), 2, round(ssr1, 6), round(aic1, 6), aic1 = best,
               'ar2',       CAST(nd AS BIGINT), 3, round(ssr2, 6), round(aic2, 6), aic2 = best,
               'arima_110', CAST(ndd AS BIGINT), 2, round(ssrd, 6), round(aicd, 6), aicd = best
             ) AS (model, n_obs, params, ssr, aic, selected)""")
          .orderBy("model")
      },
      Some {
        val (ctes, fin) = Twin.ctes(autoArimaSteps, "m", "aa")
        def cs(cond: String, e: String) = s"sum(CASE WHEN $cond THEN $e END)"
        s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                           FROM events GROUP BY 1),
              lg AS (SELECT y, lag(y, 1) OVER (ORDER BY day) AS y1,
                  lag(y, 2) OVER (ORDER BY day) AS y2
                FROM daily),
              lx AS (SELECT y, y1, y2, y - y1 AS dy, y1 - y2 AS dyl FROM lg),
              m AS (SELECT
                  ${cs("y1 IS NOT NULL", "1")} AS n1r,
                  ${cs("y1 IS NOT NULL", "y1")} AS a_sx, ${cs("y1 IS NOT NULL", "y")} AS a_sy,
                  ${cs("y1 IS NOT NULL", "y1 * y1")} AS a_sxx,
                  ${cs("y1 IS NOT NULL", "y1 * y")} AS a_sxy,
                  ${cs("y1 IS NOT NULL", "y * y")} AS a_syy,
                  ${cs("y2 IS NOT NULL", "1")} AS n2r,
                  ${cs("y2 IS NOT NULL", "y1")} AS s1r, ${cs("y2 IS NOT NULL", "y2")} AS s2r,
                  ${cs("y2 IS NOT NULL", "y1 * y1")} AS s11r,
                  ${cs("y2 IS NOT NULL", "y1 * y2")} AS s12r,
                  ${cs("y2 IS NOT NULL", "y2 * y2")} AS s22r,
                  ${cs("y2 IS NOT NULL", "y")} AS syr,
                  ${cs("y2 IS NOT NULL", "y1 * y")} AS s1yr,
                  ${cs("y2 IS NOT NULL", "y2 * y")} AS s2yr,
                  ${cs("y2 IS NOT NULL", "y * y")} AS syy2r,
                  ${cs("y2 IS NOT NULL", "dyl")} AS d_slr, ${cs("y2 IS NOT NULL", "dy")} AS d_sdr,
                  ${cs("y2 IS NOT NULL", "dyl * dyl")} AS d_sllr,
                  ${cs("y2 IS NOT NULL", "dyl * dy")} AS d_sldr,
                  ${cs("y2 IS NOT NULL", "dy * dy")} AS d_sddr
                FROM lx),
              $ctes
            SELECT 'ar1' AS model, CAST(n1 AS BIGINT) AS n_obs, 2 AS params,
              round(ssr1, 6) AS ssr, round(aic1, 6) AS aic, aic1 = best AS selected
            FROM $fin
            UNION ALL
            SELECT 'ar2', CAST(nd AS BIGINT), 3, round(ssr2, 6), round(aic2, 6), aic2 = best
            FROM $fin
            UNION ALL
            SELECT 'arima_110', CAST(ndd AS BIGINT), 2, round(ssrd, 6), round(aicd, 6), aicd = best
            FROM $fin
            ORDER BY model"""
      }),

    QueryDef(
      "ml_arima_forecast",
      // The h-step forecast path of the ARIMA surface (the forecast(nsteps)
      // contract ml_arima_diff's single step opens): the fitted ARIMA(1,1,0)
      // rolled out 7 steps with 95% intervals. Closed forms on the fitted
      // (c, φ): d̂_{T+h} = φʰ·d_T + c·(1−φʰ)/(1−φ), ŷ_{T+h} = y_T + Σd̂;
      // se²_h = σ²·Σ_{q=1..h} ψ_q² with ψ_q = (1−φ^q)/(1−φ) (the integrated
      // AR(1) ψ-weights) and σ² the CLS residual variance from the same
      // moment pass. Determinism: per-h pow() terms are REAL-collapsed, the
      // two cumulative sums run ORDER BY h (identical addends + identical
      // order = identical doubles); everything else is shared-text IEEE on
      // exact BIGINT moments. Scale: the rollout is 7 rows crossed with a
      // 1-row fit — free at any corpus size; the heavy step stays the daily
      // count aggregation.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val lg = daily
          .withColumn("t", row_number().over(wIdx))
          .withColumn("d", col("y") - lag(col("y"), 1).over(wIdx))
          .withColumn("dl", lag(col("d"), 1).over(wIdx))
        val m = lg.where(col("dl").isNotNull).agg(
          count(lit(1)).as("n"),
          sum(col("d")).as("sd"), sum(col("dl")).as("sl"),
          sum(col("dl") * col("dl")).as("sll"),
          sum(col("dl") * col("d")).as("sld"),
          sum(col("d") * col("d")).as("sdd"))
        val last = lg.where(col("d").isNotNull).agg(
          max_by(col("y"), col("t")).as("y_last"),
          max_by(col("d"), col("t")).as("d_last"))
        val fit = m.crossJoin(last)
          .selectExpr("CAST(n AS DOUBLE) AS nd",
            "CAST(sd AS DOUBLE) AS sd", "CAST(sl AS DOUBLE) AS sl",
            "CAST(sll AS DOUBLE) AS sll", "CAST(sld AS DOUBLE) AS sld",
            "CAST(sdd AS DOUBLE) AS sdd",
            "CAST(y_last AS DOUBLE) AS yl", "CAST(d_last AS DOUBLE) AS dlast")
          .selectExpr("*", s"$ar1Phi AS phi")
          .selectExpr("*", "(sd - phi * sl) / nd AS c")
          .selectExpr("yl", "dlast", "phi", "c",
            "(sdd - 2 * c * sd - 2 * phi * sld + 2 * c * phi * sl + nd * c * c + phi * phi * sll) / nd AS s2")
        val hs = s.range(1, 8).toDF("h")
        val wH = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
        hs.crossJoin(broadcast(fit))
          .selectExpr("h", "yl", "s2",
            "CAST(CAST(pow(phi, h) * dlast + c * (1e0 - pow(phi, h)) / (1e0 - phi) AS FLOAT) AS DOUBLE) AS dh",
            "CAST(CAST((1e0 - pow(phi, h)) / (1e0 - phi) AS FLOAT) AS DOUBLE) AS psi")
          .withColumn("cd", sum(col("dh")).over(wH))
          .withColumn("cp", sum(col("psi") * col("psi")).over(wH))
          .selectExpr("h", "yl + cd AS yh", "sqrt(s2 * cp) AS se")
          .selectExpr("h", "round(yh, 6) AS forecast", "round(se, 6) AS se",
            "round(yh - 196e-2 * se, 6) AS lo95",
            "round(yh + 196e-2 * se, 6) AS hi95")
          .orderBy("h")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 lg0 AS (SELECT day, y,
                     row_number() OVER (ORDER BY day) AS t,
                     y - lag(y, 1) OVER (ORDER BY day) AS d
                   FROM daily),
                 lg AS (SELECT *, lag(d, 1) OVER (ORDER BY day) AS dl FROM lg0),
                 m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(d) AS BIGINT) AS sd, CAST(sum(dl) AS BIGINT) AS sl,
                     CAST(sum(dl * dl) AS BIGINT) AS sll,
                     CAST(sum(dl * d) AS BIGINT) AS sld,
                     CAST(sum(d * d) AS BIGINT) AS sdd
                   FROM lg WHERE dl IS NOT NULL),
                 lst AS (SELECT max_by(y, t) AS y_last, max_by(d, t) AS d_last
                         FROM lg WHERE d IS NOT NULL),
                 dd AS (SELECT CAST(n AS DOUBLE) AS nd,
                     CAST(sd AS DOUBLE) AS sd, CAST(sl AS DOUBLE) AS sl,
                     CAST(sll AS DOUBLE) AS sll, CAST(sld AS DOUBLE) AS sld,
                     CAST(sdd AS DOUBLE) AS sdd,
                     CAST(y_last AS DOUBLE) AS yl, CAST(d_last AS DOUBLE) AS dlast
                   FROM m CROSS JOIN lst),
                 p AS (SELECT *, $ar1Phi AS phi FROM dd),
                 cc AS (SELECT *, (sd - phi * sl) / nd AS c FROM p),
                 fit AS (SELECT yl, dlast, phi, c,
                     (sdd - 2 * c * sd - 2 * phi * sld + 2 * c * phi * sl + nd * c * c + phi * phi * sll) / nd AS s2
                   FROM cc),
                 hs AS (SELECT h FROM generate_series(1, 7) t(h)),
                 r AS (SELECT h, yl, s2,
                     CAST(CAST(pow(phi, h) * dlast + c * (1e0 - pow(phi, h)) / (1e0 - phi) AS REAL) AS DOUBLE) AS dh,
                     CAST(CAST((1e0 - pow(phi, h)) / (1e0 - phi) AS REAL) AS DOUBLE) AS psi
                   FROM hs CROSS JOIN fit),
                 w AS (SELECT h, yl, s2,
                     sum(dh) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cd,
                     sum(psi * psi) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
                   FROM r),
                 f2 AS (SELECT h, yl + cd AS yh, sqrt(s2 * cp) AS se FROM w)
               SELECT h, round(yh, 6) AS forecast, round(se, 6) AS se,
                 round(yh - 196e-2 * se, 6) AS lo95,
                 round(yh + 196e-2 * se, 6) AS hi95
               FROM f2 ORDER BY h""")),

    QueryDef(
      "ml_make_arima",
      // The time-series dataset generator (make_arima, next to
      // ml_make_blobs / ml_make_regression): an ARIMA(0,1,1)-with-drift
      // series generated STATELESSLY — ε_t from a QUADRATIC congruential
      // hash → Box-Muller per index (each partition generates its index
      // range independently, the distributed-generator contract). The
      // make_blobs two-round AFFINE hash is deliberately not reused: its
      // consecutive outputs differ by a constant mod P (a lattice), which
      // is invisible to make_blobs' per-cluster moments but serially
      // correlates a TIME series' noise (measured acf1 = −0.11 on the
      // affine stream vs the required MA(1) 0.44). The r²-mod-P squaring
      // step breaks the lattice (r·r ≈ 4.6e18 stays under BIGINT), then
      // the differences d_t = μ + ε_t + θ·ε_{t−1} (μ = 0.5, θ = 0.6) via
      // one lag window, y = the integrated cumulative sum (its endpoint
      // Σd is emitted — order-free on the exact wire). The audit output
      // recovers the declared parameters from the generated series: mean
      // of d ≈ μ, lag-1 autocorrelation r₁ ≈ θ/(1+θ²) = 0.441 (the MA(1)
      // signature), lag-2 r₂ ≈ 0, and the method-of-moments θ̂ from r₁
      // ([[maR1]]/[[maTheta]] texts shared with ml_arima_ma). Gaussians
      // are REAL-collapsed; moments ride the exact decimal wire. The
      // constant series length IS the semantics (the generator's
      // parameter, not a data-derived cap).
      (s, dir) => {
        val eps = s.range(0, 501).toDF("t")
          .selectExpr("t",
            "(t * 48271 + 11) % 2147483647 AS r1",
            "(t * 16807 + 26) % 2147483647 AS q1")
          .selectExpr("t",
            "((r1 * r1 + 19) % 2147483647 * 69621 + r1) % 2147483647 AS r3",
            "((q1 * q1 + 14) % 2147483647 * 48271 + q1) % 2147483647 AS q3")
          .selectExpr("t",
            "(CAST(r3 AS DOUBLE) + 1e0) / 2147483648e0 AS u1",
            "(CAST(q3 AS DOUBLE) + 1e0) / 2147483648e0 AS u2")
          .selectExpr("t",
            "sqrt(-2e0 * CAST(CAST(ln(u1) AS FLOAT) AS DOUBLE)) * CAST(CAST(cos(6.283185307179586e0 * u2) AS FLOAT) AS DOUBLE) AS e")
        val wIdx = Window.orderBy("t")
        val d = eps
          .withColumn("el", lag(col("e"), 1).over(wIdx))
          .where(col("el").isNotNull)
          .selectExpr("t", "5e-1 + e + 6e-1 * el AS d")
          .withColumn("dl", lag(col("d"), 1).over(wIdx))
          .withColumn("dl2", lag(col("d"), 2).over(wIdx))
        d.agg(
          count(lit(1)).cast("double").as("ntot"),
          T.xsum(col("d")).as("sdall"),
          count(when(col("dl").isNotNull, 1)).cast("double").as("nd"),
          T.xsum(when(col("dl").isNotNull, col("d"))).as("sd"),
          T.xsum(when(col("dl").isNotNull, col("dl"))).as("sl"),
          T.xsum(when(col("dl").isNotNull, col("d") * col("d"))).as("sdd"),
          T.xsum(when(col("dl").isNotNull, col("dl") * col("dl"))).as("sll"),
          T.xsum(when(col("dl").isNotNull, col("dl") * col("d"))).as("sld"),
          count(when(col("dl2").isNotNull, 1)).cast("double").as("n2"),
          T.xsum(when(col("dl2").isNotNull, col("d"))).as("t_sd"),
          T.xsum(when(col("dl2").isNotNull, col("dl2"))).as("t_sl"),
          T.xsum(when(col("dl2").isNotNull, col("d") * col("d"))).as("t_sdd"),
          T.xsum(when(col("dl2").isNotNull, col("dl2") * col("dl2"))).as("t_sll"),
          T.xsum(when(col("dl2").isNotNull, col("dl2") * col("d"))).as("t_sld"))
          .selectExpr("*", s"$maR1 AS r1",
            "(n2 * t_sld - t_sd * t_sl) / sqrt((n2 * t_sdd - t_sd * t_sd) * (n2 * t_sll - t_sl * t_sl)) AS r2")
          .selectExpr("CAST(ntot AS BIGINT) AS n",
            "round(sdall / ntot, 6) AS mean_d",
            "round(r1, 6) AS acf1", "round(r2, 6) AS acf2",
            s"round($maTheta, 6) AS theta_hat",
            "round(sdall, 6) AS y_endpoint")
      },
      Some(s"""WITH ids AS (SELECT t FROM generate_series(0, 500) g(t)),
                 s1 AS (SELECT t, (t * 48271 + 11) % 2147483647 AS r1,
                     (t * 16807 + 26) % 2147483647 AS q1 FROM ids),
                 s2 AS (SELECT t,
                     ((r1 * r1 + 19) % 2147483647 * 69621 + r1) % 2147483647 AS r3,
                     ((q1 * q1 + 14) % 2147483647 * 48271 + q1) % 2147483647 AS q3
                   FROM s1),
                 s3 AS (SELECT t,
                     (CAST(r3 AS DOUBLE) + 1e0) / 2147483648e0 AS u1,
                     (CAST(q3 AS DOUBLE) + 1e0) / 2147483648e0 AS u2
                   FROM s2),
                 eps AS (SELECT t,
                     sqrt(-2e0 * CAST(CAST(ln(u1) AS REAL) AS DOUBLE)) * CAST(CAST(cos(6.283185307179586e0 * u2) AS REAL) AS DOUBLE) AS e
                   FROM s3),
                 dd0 AS (SELECT t, e, lag(e, 1) OVER (ORDER BY t) AS el FROM eps),
                 dd1 AS (SELECT t, 5e-1 + e + 6e-1 * el AS d FROM dd0
                         WHERE el IS NOT NULL),
                 dd AS (SELECT t, d, lag(d, 1) OVER (ORDER BY t) AS dl,
                     lag(d, 2) OVER (ORDER BY t) AS dl2 FROM dd1),
                 m AS (SELECT CAST(count(*) AS DOUBLE) AS ntot,
                     ${T.sqlXsum("d")} AS sdall,
                     CAST(count(CASE WHEN dl IS NOT NULL THEN 1 END) AS DOUBLE) AS nd,
                     ${T.sqlXsum("CASE WHEN dl IS NOT NULL THEN d END")} AS sd,
                     ${T.sqlXsum("CASE WHEN dl IS NOT NULL THEN dl END")} AS sl,
                     ${T.sqlXsum("CASE WHEN dl IS NOT NULL THEN d * d END")} AS sdd,
                     ${T.sqlXsum("CASE WHEN dl IS NOT NULL THEN dl * dl END")} AS sll,
                     ${T.sqlXsum("CASE WHEN dl IS NOT NULL THEN dl * d END")} AS sld,
                     CAST(count(CASE WHEN dl2 IS NOT NULL THEN 1 END) AS DOUBLE) AS n2,
                     ${T.sqlXsum("CASE WHEN dl2 IS NOT NULL THEN d END")} AS t_sd,
                     ${T.sqlXsum("CASE WHEN dl2 IS NOT NULL THEN dl2 END")} AS t_sl,
                     ${T.sqlXsum("CASE WHEN dl2 IS NOT NULL THEN d * d END")} AS t_sdd,
                     ${T.sqlXsum("CASE WHEN dl2 IS NOT NULL THEN dl2 * dl2 END")} AS t_sll,
                     ${T.sqlXsum("CASE WHEN dl2 IS NOT NULL THEN dl2 * d END")} AS t_sld
                   FROM dd),
                 rr AS (SELECT *, $maR1 AS r1,
                     (n2 * t_sld - t_sd * t_sl) / sqrt((n2 * t_sdd - t_sd * t_sd) * (n2 * t_sll - t_sl * t_sl)) AS r2
                   FROM m)
               SELECT CAST(ntot AS BIGINT) AS n,
                 round(sdall / ntot, 6) AS mean_d,
                 round(r1, 6) AS acf1, round(r2, 6) AS acf2,
                 round($maTheta, 6) AS theta_hat,
                 round(sdall, 6) AS y_endpoint
               FROM rr""")),

    QueryDef(
      "ml_holtwinters_forecast",
      // The h-step forecast path of the Holt-Winters surface
      // (ml_holtwinters emits the smoothed level; the forecast() contract
      // needs trend + seasonality rolled forward): additive decomposition
      // form — global linear trend (OLS of y on the day index t, exact
      // BIGINT moments) plus the per-day-of-week seasonal index (mean
      // detrended y per epoch-days-mod-7, the ml_seasonal_decompose
      // dow discipline), extrapolated 7 days past the last observed day:
      // ŷ(T+h) = a + b·(t_max+h) + s_dow(T+h). Everything after the daily
      // count aggregation runs on ≤|days| rows; the 7 forecast rows come
      // from a broadcast of the 1-row fit and the 7-row seasonal table.
      // Determinism: a, b from exact integer moments via shared text;
      // seasonal means on the exact decimal wire; the forecast expression
      // is one shared-text IEEE chain.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val idx = daily
          .withColumn("t", row_number().over(wIdx))
          .withColumn("dow",
            expr("CAST(datediff(day, DATE '1970-01-01') % 7 AS INT)"))
        val m = idx.agg(
          count(lit(1)).as("n"), sum(col("t")).as("st"), sum(col("y")).as("sy"),
          sum(col("t") * col("t")).as("stt"), sum(col("t") * col("y")).as("sty"),
          max(col("day")).as("last_day"), max(col("t")).as("tmax"))
          .selectExpr("CAST(n AS DOUBLE) AS nd", "CAST(st AS DOUBLE) AS st",
            "CAST(sy AS DOUBLE) AS sy", "CAST(stt AS DOUBLE) AS stt",
            "CAST(sty AS DOUBLE) AS sty", "last_day", "tmax")
          .selectExpr("*", "(nd * sty - st * sy) / (nd * stt - st * st) AS b")
          .selectExpr("*", "(sy - b * st) / nd AS a")
        val season = idx.crossJoin(broadcast(m.selectExpr("a", "b")))
          .selectExpr("dow", "y - (a + b * t) AS det")
          .groupBy("dow").agg((T.xsum(col("det")) / count(lit(1))).as("sdow"))
        s.range(1, 8).toDF("h")
          .crossJoin(broadcast(m.selectExpr("a", "b", "last_day", "tmax")))
          .selectExpr("h", "a", "b", "tmax",
            "date_add(last_day, CAST(h AS INT)) AS day",
            "CAST(datediff(date_add(last_day, CAST(h AS INT)), DATE '1970-01-01') % 7 AS INT) AS dow")
          .join(broadcast(season), "dow")
          .selectExpr("h", "day", "dow",
            "round(a + b * (tmax + h), 6) AS trend_part",
            "round(sdow, 6) AS seasonal_part",
            "round(a + b * (tmax + h) + sdow, 6) AS forecast")
          .orderBy("h")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 idx AS (SELECT day, y, row_number() OVER (ORDER BY day) AS t,
                     CAST((day - DATE '1970-01-01') % 7 AS INT) AS dow
                   FROM daily),
                 m0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(t) AS BIGINT) AS st, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(t * t) AS BIGINT) AS stt,
                     CAST(sum(t * y) AS BIGINT) AS sty,
                     max(day) AS last_day, CAST(max(t) AS BIGINT) AS tmax
                   FROM idx),
                 m1 AS (SELECT CAST(n AS DOUBLE) AS nd, CAST(st AS DOUBLE) AS st,
                     CAST(sy AS DOUBLE) AS sy, CAST(stt AS DOUBLE) AS stt,
                     CAST(sty AS DOUBLE) AS sty, last_day, tmax
                   FROM m0),
                 m2 AS (SELECT *, (nd * sty - st * sy) / (nd * stt - st * st) AS b FROM m1),
                 m AS (SELECT *, (sy - b * st) / nd AS a FROM m2),
                 season AS (SELECT dow, ${T.sqlXsum("y - (a + b * t)")} / count(*) AS sdow
                   FROM idx CROSS JOIN m GROUP BY dow),
                 hs AS (SELECT h FROM generate_series(1, 7) g(h)),
                 f AS (SELECT h, a, b, tmax,
                     last_day + CAST(h AS INT) AS day,
                     CAST((last_day + CAST(h AS INT) - DATE '1970-01-01') % 7 AS INT) AS dow
                   FROM hs CROSS JOIN m)
               SELECT h, day, dow,
                 round(a + b * (tmax + h), 6) AS trend_part,
                 round(sdow, 6) AS seasonal_part,
                 round(a + b * (tmax + h) + sdow, 6) AS forecast
               FROM f JOIN season USING (dow)
               ORDER BY h""")),

    QueryDef(
      "ml_anomaly_residual",
      // Seasonal-residual anomaly detection on the hourly event volume —
      // the monitoring twin of ml_seasonal_decompose: the expected volume
      // for an hour is its hour-of-day profile mean (the seasonal naive
      // model), the residual z-scores against that same hour-of-day's
      // spread, and hours with |z| ≥ 2 flag as anomalies — the alert an
      // operations stream fires on volume spikes/collapses. Dataflow: one
      // hour-bucket count, one 24-group moment aggregate (mean + MLE
      // variance from exact integer sums — counts are BIGINT, so the
      // moments are bit-exact before ONE division), one map-side z pass.
      // Profile and variance stay integer until the final doubles, so
      // cross-engine determinism is structural. Output: flagged hours
      // only (span-bounded, like the daily forecasting rows).
      (s, dir) => {
        val hr = T.events(s, dir)
          .select((unix_micros(col("ts").cast("timestamp")) / lit(3600000000L))
            .cast("long").as("hr"))
          .groupBy("hr").agg(count(lit(1)).as("y"))
          .withColumn("hod", col("hr") % 24)
        val prof = hr.groupBy("hod")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
            sum(col("y") * col("y")).as("ss"))
          .selectExpr("hod",
            "CAST(s AS DOUBLE) / n AS mu",
            "CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) AS vr")
        hr.join(broadcast(prof), "hod")
          .selectExpr("hr", "hod", "y", "mu",
            "(CAST(y AS DOUBLE) - mu) / sqrt(vr + 1e-9) AS z")
          .where(expr("abs(z) >= 2e0"))
          .selectExpr("hr", "CAST(hod AS INT) AS hour_of_day", "y",
            "round(mu, 6) AS expected", "round(z, 4) AS zscore")
          .orderBy("hr")
      },
      Some("""WITH hc AS (SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hr,
                   count(*) AS y
                 FROM events GROUP BY 1),
                 hh AS (SELECT *, hr % 24 AS hod FROM hc),
                 prof AS (SELECT hod,
                     CAST(sum(y) AS DOUBLE) / count(*) AS mu,
                     CAST(sum(y * y) AS DOUBLE) / count(*)
                       - (CAST(sum(y) AS DOUBLE) / count(*))
                       * (CAST(sum(y) AS DOUBLE) / count(*)) AS vr
                   FROM hh GROUP BY hod),
                 z AS (SELECT hr, hod, y, mu,
                     (CAST(y AS DOUBLE) - mu) / sqrt(vr + 1e-9) AS z
                   FROM hh JOIN prof USING (hod))
               SELECT hr, CAST(hod AS INT) AS hour_of_day, y,
                 round(mu, 6) AS expected, round(z, 4) AS zscore
               FROM z WHERE abs(z) >= 2e0
               ORDER BY hr""")),

    QueryDef(
      "ml_survival_km",
      // Kaplan–Meier survival over user activity spans — the retention
      // curve a product-analytics run reads off the event stream: a
      // user's duration is last-event − first-event in whole days, the
      // "death" is going quiet, and users still active in the final 7
      // days are right-CENSORED (they count in the risk set but not the
      // event count — the estimator's whole point). S(d) = Π_{d'≤d}
      // (1 − e_{d'}/r_{d'}), computed as exp of the cumulative sum of
      // REAL-collapsed ln factors on the exact decimal wire (the
      // deterministic product), with the e = r full-dropout edge mapped
      // to S = 0 through a running flag rather than ln(0). One per-user
      // aggregate + bounded windows over the ≤ day-span duration table.
      (s, dir) => {
        val ev = T.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
        val spans = ev.groupBy("user_id")
          .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
        val gmax = ev.agg(max(col("us")).as("gmax"))
        val dur = spans.crossJoin(broadcast(gmax))
          .selectExpr("(last_us - first_us) div 86400000000 AS d",
            "CASE WHEN last_us <= gmax - 604800000000 THEN 1 ELSE 0 END AS e")
        val byd = dur.groupBy("d")
          .agg(count(lit(1)).as("c"), sum(col("e")).as("ev"))
        val tot = dur.agg(count(lit(1)).as("n_total"))
        val wAsc = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wPrev = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, -1)
        byd.crossJoin(broadcast(tot))
          .withColumn("at_risk",
            col("n_total") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
          .withColumn("lnf", expr(
            "CASE WHEN ev < at_risk THEN CAST(CAST(ln(1e0 - CAST(ev AS DOUBLE) / at_risk) AS FLOAT) AS DOUBLE) ELSE 0e0 END"))
          .withColumn("dead", max((col("ev") === col("at_risk")).cast("int")).over(wAsc))
          .withColumn("cln", T.xsumD(col("lnf")).over(wAsc).cast("double"))
          .selectExpr("d AS duration_days", "c AS n_users", "ev AS n_events",
            "at_risk",
            "CASE WHEN dead = 1 THEN 0e0 " +
              "ELSE round(CAST(CAST(exp(cln) AS FLOAT) AS DOUBLE), 6) END AS survival")
          .orderBy("duration_days")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
                 spans AS (SELECT user_id, min(us) AS first_us, max(us) AS last_us
                           FROM ev GROUP BY user_id),
                 gm AS (SELECT max(us) AS gmax FROM ev),
                 dur AS (SELECT CAST((last_us - first_us) // 86400000000 AS BIGINT) AS d,
                     CASE WHEN last_us <= gmax - 604800000000 THEN 1 ELSE 0 END AS e
                   FROM spans CROSS JOIN gm),
                 byd AS (SELECT d, count(*) AS c, CAST(sum(e) AS BIGINT) AS ev
                         FROM dur GROUP BY d),
                 tot AS (SELECT count(*) AS n_total FROM dur),
                 rk AS (SELECT *, n_total - coalesce(sum(c) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
                   FROM byd CROSS JOIN tot),
                 lf AS (SELECT *,
                     CASE WHEN ev < at_risk THEN CAST(CAST(ln(1e0 - CAST(ev AS DOUBLE) / at_risk) AS REAL) AS DOUBLE) ELSE 0e0 END AS lnf,
                     max(CASE WHEN ev = at_risk THEN 1 ELSE 0 END) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
                   FROM rk),
                 cl AS (SELECT *,
                     CAST(sum(CAST(lnf AS DECIMAL(30,12))) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cln
                   FROM lf)
               SELECT d AS duration_days, c AS n_users, ev AS n_events,
                 CAST(at_risk AS BIGINT) AS at_risk,
                 CASE WHEN dead = 1 THEN 0e0
                      ELSE round(CAST(CAST(exp(cln) AS REAL) AS DOUBLE), 6) END AS survival
               FROM cl ORDER BY duration_days""")),

    QueryDef(
      "ml_survival_na",
      // Nelson–Aalen cumulative hazard over the same activity spans —
      // the estimator read NEXT to Kaplan–Meier (H(d) = Σ_{d'≤d} e/r is
      // the additive view; −ln S approximates it, and their gap is the
      // small-risk-set diagnostic): identical span/censor wire as
      // ml_survival_km, but the accumulation is a pure RATIONAL sum on
      // the exact decimal wire — no transcendentals at all, so the only
      // rounding is the final 6 dp. Also emits the KM cross-check column
      // exp(−H) a practitioner eyeballs against the KM curve.
      (s, dir) => {
        val ev = T.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
        val spans = ev.groupBy("user_id")
          .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
        val gmax = ev.agg(max(col("us")).as("gmax"))
        val dur = spans.crossJoin(broadcast(gmax))
          .selectExpr("(last_us - first_us) div 86400000000 AS d",
            "CASE WHEN last_us <= gmax - 604800000000 THEN 1 ELSE 0 END AS e")
        val byd = dur.groupBy("d")
          .agg(count(lit(1)).as("c"), sum(col("e")).as("ev"))
        val tot = dur.agg(count(lit(1)).as("n_total"))
        val wAsc = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wPrev = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, -1)
        byd.crossJoin(broadcast(tot))
          .withColumn("at_risk",
            col("n_total") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
          .withColumn("h",
            T.xsumD(expr("CAST(ev AS DOUBLE) / at_risk"))
              .over(wAsc).cast("double"))
          .selectExpr("d AS duration_days", "ev AS n_events", "at_risk",
            "round(h, 6) AS cum_hazard",
            "round(CAST(CAST(exp(-h) AS FLOAT) AS DOUBLE), 6) AS surv_na")
          .orderBy("duration_days")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
                 spans AS (SELECT user_id, min(us) AS first_us, max(us) AS last_us
                           FROM ev GROUP BY user_id),
                 gm AS (SELECT max(us) AS gmax FROM ev),
                 dur AS (SELECT CAST((last_us - first_us) // 86400000000 AS BIGINT) AS d,
                     CASE WHEN last_us <= gmax - 604800000000 THEN 1 ELSE 0 END AS e
                   FROM spans CROSS JOIN gm),
                 byd AS (SELECT d, count(*) AS c, CAST(sum(e) AS BIGINT) AS ev
                         FROM dur GROUP BY d),
                 tot AS (SELECT count(*) AS n_total FROM dur),
                 rk AS (SELECT *, n_total - coalesce(sum(c) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS at_risk
                   FROM byd CROSS JOIN tot),
                 hz AS (SELECT *,
                     CAST(sum(CAST(CAST(ev AS DOUBLE) / at_risk AS DECIMAL(30,12)))
                       OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS h
                   FROM rk)
               SELECT d AS duration_days, ev AS n_events,
                 CAST(at_risk AS BIGINT) AS at_risk,
                 round(h, 6) AS cum_hazard,
                 round(CAST(CAST(exp(-h) AS REAL) AS DOUBLE), 6) AS surv_na
               FROM hz ORDER BY duration_days""")),

    QueryDef(
      "ml_logrank_test",
      // Log-rank (Mantel–Cox) two-cohort survival comparison — the
      // hypothesis test that goes WITH the KM curves (do even- and
      // odd-id users churn at the same rate?): at each event time,
      // E₁ = d·n₁/n expected cohort-1 events under H₀ and hypergeometric
      // variance v = d·(n₁/n)·(1−n₁/n)·(n−d)/(n−1); χ² = (O₁−E₁)²/ΣV.
      // Cohort = user parity (deterministic, the split-by-entity rule —
      // never by row). Same span wire; per-cohort at-risk counts come
      // from two cumulative windows over the bounded duration table;
      // every input to the ratio algebra is an exact integer.
      (s, dir) => {
        val ev = T.events(s, dir)
          .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
        val spans = ev.groupBy("user_id")
          .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
        val gmax = ev.agg(max(col("us")).as("gmax"))
        val dur = spans.crossJoin(broadcast(gmax))
          .selectExpr("user_id % 2 AS grp",
            "(last_us - first_us) div 86400000000 AS d",
            "CASE WHEN last_us <= gmax - 604800000000 THEN 1 ELSE 0 END AS e")
        val byd = dur.groupBy("d").agg(
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("grp") === 1, col("e")).otherwise(0L)).as("ev1"),
          sum(when(col("grp") === 0, col("e")).otherwise(0L)).as("ev0"))
        val tot = dur.agg(
          sum(when(col("grp") === 1, 1L).otherwise(0L)).as("t1"),
          sum(when(col("grp") === 0, 1L).otherwise(0L)).as("t0"))
        val wPrev = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, -1)
        byd.crossJoin(broadcast(tot))
          .withColumn("n1", col("t1") - coalesce(sum(col("c1")).over(wPrev), lit(0L)))
          .withColumn("n0", col("t0") - coalesce(sum(col("c0")).over(wPrev), lit(0L)))
          .selectExpr("ev1", "ev0", "n1", "n0",
            "ev1 + ev0 AS dd", "n1 + n0 AS nn")
          .where(col("dd") > 0 && col("nn") > 1)
          .selectExpr("ev1",
            "CAST(dd AS DOUBLE) * n1 / nn AS e1",
            """CAST(dd AS DOUBLE) * (CAST(n1 AS DOUBLE) / nn)
               * (1e0 - CAST(n1 AS DOUBLE) / nn)
               * (CAST(nn - dd AS DOUBLE) / (nn - 1e0)) AS v""")
          .agg(sum(col("ev1")).as("o1"),
            T.xsum(col("e1")).as("e1"), T.xsum(col("v")).as("v"))
          .selectExpr("CAST(o1 AS BIGINT) AS observed_1",
            "round(e1, 6) AS expected_1", "round(v, 6) AS variance",
            "round((o1 - e1) * (o1 - e1) / v, 6) AS logrank_chi2")
      },
      Some(s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
                 spans AS (SELECT user_id, min(us) AS first_us, max(us) AS last_us
                           FROM ev GROUP BY user_id),
                 gm AS (SELECT max(us) AS gmax FROM ev),
                 dur AS (SELECT user_id % 2 AS grp,
                     CAST((last_us - first_us) // 86400000000 AS BIGINT) AS d,
                     CASE WHEN last_us <= gmax - 604800000000 THEN 1 ELSE 0 END AS e
                   FROM spans CROSS JOIN gm),
                 byd AS (SELECT d,
                     CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
                     CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
                     CAST(sum(CASE WHEN grp = 1 THEN e ELSE 0 END) AS BIGINT) AS ev1,
                     CAST(sum(CASE WHEN grp = 0 THEN e ELSE 0 END) AS BIGINT) AS ev0
                   FROM dur GROUP BY d),
                 tot AS (SELECT
                     CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
                     CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0
                   FROM dur),
                 rk AS (SELECT *,
                     t1 - coalesce(sum(c1) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
                     t0 - coalesce(sum(c0) OVER (ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0
                   FROM byd CROSS JOIN tot),
                 tm AS (SELECT ev1,
                     CAST(ev1 + ev0 AS DOUBLE) * n1 / (n1 + n0) AS e1,
                     CAST(ev1 + ev0 AS DOUBLE) * (CAST(n1 AS DOUBLE) / (n1 + n0))
                       * (1e0 - CAST(n1 AS DOUBLE) / (n1 + n0))
                       * (CAST((n1 + n0) - (ev1 + ev0) AS DOUBLE) / ((n1 + n0) - 1e0)) AS v
                   FROM rk WHERE ev1 + ev0 > 0 AND n1 + n0 > 1),
                 ag AS (SELECT CAST(sum(ev1) AS BIGINT) AS o1,
                     ${T.sqlXsum("e1")} AS e1, ${T.sqlXsum("v")} AS v
                   FROM tm)
               SELECT o1 AS observed_1, round(e1, 6) AS expected_1,
                 round(v, 6) AS variance,
                 round((o1 - e1) * (o1 - e1) / v, 6) AS logrank_chi2
               FROM ag""")),

    QueryDef(
      "ml_theta_forecast",
      // Theta-method forecast (Assimakopoulos & Nikolopoulos 2000 — the
      // M3 benchmark winner, the other classical forecaster next to
      // ml_holtwinters/ml_auto_arima): decompose the daily series into
      // the θ=0 line (the OLS linear trend) and the θ=2 line
      // zₜ = 2yₜ − (a + b·t), SES the θ=2 line (α = ½, closed form — one
      // weighted sum, no recurrence), and forecast the average of the
      // extrapolated trend and the flat SES level. One daily aggregate,
      // one exact-wire moment pass for the trend, one weighted-sum pass
      // for the level (pow(½, n−t) shared text), 7 horizon rows from the
      // one-row model.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val idx = daily.withColumn("t",
          row_number().over(Window.orderBy("day")).cast("double"))
        val m = idx.agg(count(lit(1)).cast("double").as("n"),
          T.xsum(col("t")).as("st"), T.xsum(col("y")).as("sy"),
          T.xsum(col("t") * col("t")).as("stt"),
          T.xsum(col("t") * col("y")).as("sty"))
          .selectExpr("n", "(n * sty - st * sy) / (n * stt - st * st) AS b", "st", "sy")
          .selectExpr("n", "b", "(sy - b * st) / n AS a")
        val lvl = idx.crossJoin(broadcast(m))
          .selectExpr("n", "a", "b",
            "(2e0 * y - (a + b * t)) * (CASE WHEN t = 1e0 THEN pow(5e-1, n - 1e0) ELSE pow(5e-1, n - t + 1e0) END) AS zw")
          .groupBy("n", "a", "b").agg(T.xsum(col("zw")).as("l"))
        val spark = s
        import spark.implicits._
        val hs = (1 to 7).toDF("h")
        hs.crossJoin(broadcast(lvl))
          .selectExpr("h",
            "round(5e-1 * (a + b * (n + h)) + 5e-1 * l, 6) AS forecast")
          .orderBy("h")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 idx AS (SELECT y, CAST(row_number() OVER (ORDER BY day) AS DOUBLE) AS t
                         FROM daily),
                 m0 AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum("t")} AS st, ${T.sqlXsum("y")} AS sy,
                     ${T.sqlXsum("t * t")} AS stt, ${T.sqlXsum("t * y")} AS sty
                   FROM idx),
                 mb AS (SELECT n, st, sy,
                     (n * sty - st * sy) / (n * stt - st * st) AS b FROM m0),
                 m AS (SELECT n, b, (sy - b * st) / n AS a FROM mb),
                 lvl AS (SELECT n, a, b, ${T.sqlXsum(
                   "(2e0 * y - (a + b * t)) * (CASE WHEN t = 1e0 THEN pow(5e-1, n - 1e0) ELSE pow(5e-1, n - t + 1e0) END)")} AS l
                   FROM idx CROSS JOIN m GROUP BY n, a, b)
               SELECT CAST(h AS INT) AS h,
                 round(5e-1 * (a + b * (n + h)) + 5e-1 * l, 6) AS forecast
               FROM (SELECT unnest(generate_series(1, 7)) AS h) hs CROSS JOIN lvl
               ORDER BY h""")),

    QueryDef(
      "ml_forecast_backtest",
      // Rolling-origin backtest (the time-series analogue of ml_kfold_cv —
      // the evaluation loop every cuml.tsa user runs before trusting a
      // forecaster): for each of the last 3 days as a 1-step holdout,
      // fit SES (α = ½, the ml_theta_forecast closed form — one weighted
      // sum, no recurrence) on the strictly-prior days and score the
      // forecast against the actual. Output: one row per fold (cutoff
      // index, actual, forecast, abs error) — MAE is their mean. Scale:
      // ONE daily aggregate (the only corpus pass), then a 3-row
      // broadcast of cutoffs against the bounded day table; folds never
      // rescan events.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val idx = T.freeze(daily.withColumn("t",
          row_number().over(Window.orderBy("day")).cast("double")))
        val n = idx.count()
        val cuts = broadcast((1 to 3).map(k => n - k).toDF("c"))
        val lvl = idx.crossJoin(cuts)
          .where(col("t") <= col("c"))
          .selectExpr("c",
            "y * (CASE WHEN t = 1e0 THEN pow(5e-1, c - 1e0) ELSE pow(5e-1, c - t + 1e0) END) AS zw")
          .groupBy("c").agg(T.xsum(col("zw")).as("forecast"))
        lvl.join(idx.selectExpr("t", "y AS actual"),
            col("t") === col("c") + 1)
          .selectExpr("CAST(c AS BIGINT) AS cutoff", "actual",
            "round(forecast, 6) AS forecast",
            "round(abs(actual - forecast), 6) AS abs_err")
          .orderBy("cutoff")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 idx AS (SELECT y, CAST(row_number() OVER (ORDER BY day) AS DOUBLE) AS t
                         FROM daily),
                 nn AS (SELECT count(*) AS n FROM idx),
                 cuts AS (SELECT CAST(n - k AS DOUBLE) AS c
                   FROM (SELECT unnest(generate_series(1, 3)) AS k) ks, nn),
                 lvl AS (SELECT c, ${T.sqlXsum(
                   "y * (CASE WHEN t = 1e0 THEN pow(5e-1, c - 1e0) ELSE pow(5e-1, c - t + 1e0) END)")} AS forecast
                   FROM idx CROSS JOIN cuts WHERE t <= c GROUP BY c)
               SELECT CAST(c AS BIGINT) AS cutoff, i.y AS actual,
                 round(forecast, 6) AS forecast,
                 round(abs(i.y - forecast), 6) AS abs_err
               FROM lvl JOIN idx i ON i.t = lvl.c + 1
               ORDER BY cutoff""")),

    QueryDef(
      "ml_dtw_distance",
      // Dynamic time warping between the 'click' and 'view' daily count
      // series (Sakoe & Chiba 1978) — the alignment distance a
      // time-series pipeline uses where Euclidean is wrong because the
      // shapes are shifted. Classic unit DP: D(i,j) = |x_i − y_j| +
      // min(D(i−1,j), D(i,j−1), D(i−1,j−1)). Both series are capped at
      // the first DTW_CAP days (the LEV_CAP discipline — bounds the
      // O(n²) DP regardless of corpus span). Scale: ONE daily aggregate
      // is the only corpus pass; the capped series is driver-held model
      // state (≤ 24 points — the kcoreAlive local-finish discipline) and
      // the DP runs on it; counts are integers so every DP value is an
      // exactly-representable double on both engines. The oracle unrolls
      // the same DP by anti-diagonals (the only order a CTE chain can
      // express); min/+ per cell is order-free so row-major == diagonal.
      // Output: series length used, DTW, and the path-normalized DTW.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("xa"),
               sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("xb"))
        val idx = daily
          .withColumn("t", row_number().over(Window.orderBy("day")))
          .where(col("t") <= DTW_CAP)
          .orderBy("t")
          .selectExpr("CAST(xa AS DOUBLE) AS x", "CAST(xb AS DOUBLE) AS y")
          .collect()
        val n = idx.length
        val x = idx.map(_.getDouble(0)); val y = idx.map(_.getDouble(1))
        val SENT = 1e308
        val dp = Array.fill(n + 1, n + 1)(SENT)
        for (i <- 1 to n; j <- 1 to n) {
          val cost = math.abs(x(i - 1) - y(j - 1))
          dp(i)(j) =
            if (i == 1 && j == 1) cost
            else cost + math.min(dp(i - 1)(j), math.min(dp(i)(j - 1), dp(i - 1)(j - 1)))
        }
        Seq((n.toLong, dp(n)(n), dp(n)(n) / (2.0 * n)))
          .toDF("n_days", "dtw", "dtw_norm")
          .selectExpr("n_days", "round(dtw, 6) AS dtw",
            "round(dtw_norm, 6) AS dtw_norm")
      },
      Some {
        def dg(d: Int): String = {
          val diagJoin =
            if (d >= 4)
              s"LEFT JOIN dg${d - 2} g ON g.i = a.i - 1 AND g.j = b.j - 1"
            else ""
          val gRef = if (d >= 4) "coalesce(g.c, 1e308)" else "1e308"
          s"""dg$d AS MATERIALIZED (SELECT a.i, b.j, abs(a.x - b.y) + least(
                     coalesce(u.c, 1e308), coalesce(l.c, 1e308), $gRef) AS c
                   FROM sa a JOIN sb b ON a.i + b.j = $d
                   LEFT JOIN dg${d - 1} u ON u.i = a.i - 1 AND u.j = b.j
                   LEFT JOIN dg${d - 1} l ON l.i = a.i AND l.j = b.j - 1
                   $diagJoin)"""
        }
        val chain = (3 to 2 * DTW_CAP).map(dg).mkString(",\n                 ")
        val unions = (2 to 2 * DTW_CAP)
          .map(d => s"SELECT * FROM dg$d").mkString(" UNION ALL ")
        s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                     sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS xa,
                     sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS xb
                   FROM events GROUP BY 1),
                 idx AS MATERIALIZED (SELECT CAST(xa AS DOUBLE) AS x,
                     CAST(xb AS DOUBLE) AS y,
                     row_number() OVER (ORDER BY day) AS t
                   FROM daily QUALIFY t <= $DTW_CAP),
                 sa AS MATERIALIZED (SELECT t AS i, x FROM idx),
                 sb AS MATERIALIZED (SELECT t AS j, y FROM idx),
                 dg2 AS MATERIALIZED (SELECT 1 AS i, 1 AS j, abs(a.x - b.y) AS c
                   FROM sa a, sb b WHERE a.i = 1 AND b.j = 1),
                 $chain,
                 alld AS ($unions),
                 nn AS (SELECT max(i) AS n FROM sa)
               SELECT CAST(nn.n AS BIGINT) AS n_days, round(a.c, 6) AS dtw,
                 round(a.c / (2e0 * nn.n), 6) AS dtw_norm
               FROM alld a, nn WHERE a.i = nn.n AND a.j = nn.n"""
      }),

    QueryDef(
      "ml_granger_f",
      // Granger-causality F-test (Granger 1969): does yesterday's 'view'
      // count help predict today's 'click' count beyond yesterday's
      // 'click'? Unrestricted OLS click_t ~ [1, click_{t−1}, view_{t−1}]
      // vs restricted click_t ~ [1, click_{t−1}];
      // F = (SSR_r − SSR_u) / (SSR_u / (n − 3)) with 1 numerator df.
      // Every regression input is an all-BIGINT moment of the lagged
      // day table (ONE daily aggregate + a t/t−1 self-join on ≤ day-range
      // rows); the centered 2×2 Cramer solve and both SSR identities are
      // one shared-text double cascade — bit-deterministic, the ml_acf
      // discipline. Output: n, both SSRs, the F statistic.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
               sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        val cur = daily.select(col("t"), col("c").as("y"))
        val lag = daily.select((col("t") + 1).as("t"),
          col("c").as("x1"), col("v").as("x2"))
        val m = cur.join(lag, "t")
          .agg(count(lit(1)).as("n"),
            sum(col("y")).as("sy"), sum(col("x1")).as("s1"),
            sum(col("x2")).as("s2"),
            sum(col("x1") * col("x1")).as("s11"),
            sum(col("x2") * col("x2")).as("s22"),
            sum(col("x1") * col("x2")).as("s12"),
            sum(col("x1") * col("y")).as("s1y"),
            sum(col("x2") * col("y")).as("s2y"),
            sum(col("y") * col("y")).as("syy"))
        m.selectExpr("CAST(n AS DOUBLE) AS nd", "n",
            "CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11",
            "CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22",
            "CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12",
            "CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n AS c1y",
            "CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n AS c2y",
            "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy")
          .selectExpr("n", "nd", "cyy", "c1y", "c11",
            "(c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1",
            "(c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2",
            "c2y")
          .selectExpr("n", "nd",
            "cyy - b1 * c1y - b2 * c2y AS ssr_u",
            "cyy - (c1y / c11) * c1y AS ssr_r")
          .selectExpr("n",
            "round(ssr_u, 6) AS ssr_unrestricted",
            "round(ssr_r, 6) AS ssr_restricted",
            "round((ssr_r - ssr_u) / (ssr_u / (nd - 3e0)), 6) AS f_stat")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                     sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                     sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v
                   FROM events GROUP BY 1),
                 idx AS (SELECT c, v, row_number() OVER (ORDER BY day) AS t
                         FROM daily),
                 j AS (SELECT cur.c AS y, lg.c AS x1, lg.v AS x2
                   FROM idx cur JOIN idx lg ON cur.t = lg.t + 1),
                 m AS (SELECT count(*) AS n,
                     CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x1) AS BIGINT) AS s1,
                     CAST(sum(x2) AS BIGINT) AS s2,
                     CAST(sum(x1 * x1) AS BIGINT) AS s11,
                     CAST(sum(x2 * x2) AS BIGINT) AS s22,
                     CAST(sum(x1 * x2) AS BIGINT) AS s12,
                     CAST(sum(x1 * y) AS BIGINT) AS s1y,
                     CAST(sum(x2 * y) AS BIGINT) AS s2y,
                     CAST(sum(y * y) AS BIGINT) AS syy
                   FROM j),
                 cm AS (SELECT CAST(n AS DOUBLE) AS nd, n,
                     CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11,
                     CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22,
                     CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12,
                     CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n AS c1y,
                     CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n AS c2y,
                     CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy
                   FROM m),
                 sol AS (SELECT n, nd, cyy, c1y, c11,
                     (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
                     (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2,
                     c2y
                   FROM cm),
                 ssr AS (SELECT n, nd,
                     cyy - b1 * c1y - b2 * c2y AS ssr_u,
                     cyy - (c1y / c11) * c1y AS ssr_r
                   FROM sol)
               SELECT n,
                 round(ssr_u, 6) AS ssr_unrestricted,
                 round(ssr_r, 6) AS ssr_restricted,
                 round((ssr_r - ssr_u) / (ssr_u / (nd - 3e0)), 6) AS f_stat
               FROM ssr"""))
  )

  /** Shared scalar cascade for ml_auto_arima: widen the conditional BIGINT
    * moments to doubles, solve each candidate's closed form, apply the
    * normal-equation SSR identity, and score AIC = n·ln(SSR/n) + 2k with
    * REAL-collapsed ln. The AR(2) block names its doubles exactly as the
    * [[arDet]] Cramer texts expect. */
  private lazy val autoArimaSteps: Seq[(String, String)] = Seq(
    // widen (BIGINT→DOUBLE is exact and identical cross-engine)
    "n1" -> "CAST(n1r AS DOUBLE)",
    "asx" -> "CAST(a_sx AS DOUBLE)", "asy" -> "CAST(a_sy AS DOUBLE)",
    "asxx" -> "CAST(a_sxx AS DOUBLE)", "asxy" -> "CAST(a_sxy AS DOUBLE)",
    "asyy" -> "CAST(a_syy AS DOUBLE)",
    "nd" -> "CAST(n2r AS DOUBLE)",
    "s1" -> "CAST(s1r AS DOUBLE)", "s2" -> "CAST(s2r AS DOUBLE)",
    "s11" -> "CAST(s11r AS DOUBLE)", "s12" -> "CAST(s12r AS DOUBLE)",
    "s22" -> "CAST(s22r AS DOUBLE)", "sy" -> "CAST(syr AS DOUBLE)",
    "s1y" -> "CAST(s1yr AS DOUBLE)", "s2y" -> "CAST(s2yr AS DOUBLE)",
    "syy2" -> "CAST(syy2r AS DOUBLE)",
    "ndd" -> "CAST(n2r AS DOUBLE)",
    "dsl" -> "CAST(d_slr AS DOUBLE)", "dsd" -> "CAST(d_sdr AS DOUBLE)",
    "dsll" -> "CAST(d_sllr AS DOUBLE)", "dsld" -> "CAST(d_sldr AS DOUBLE)",
    "dsdd" -> "CAST(d_sddr AS DOUBLE)",
    // AR(1) on levels
    "b1" -> "(n1 * asxy - asx * asy) / (n1 * asxx - asx * asx)",
    "c1" -> "(asy - b1 * asx) / n1",
    "ssr1" -> "asyy - c1 * asy - b1 * asxy",
    // AR(2) via the shared Cramer determinant texts
    "det" -> arDet, "detc" -> arDetC, "detp1" -> arDetP1, "detp2" -> arDetP2,
    "c2" -> "detc / det", "p1" -> "detp1 / det", "p2" -> "detp2 / det",
    "ssr2" -> "syy2 - c2 * sy - p1 * s1y - p2 * s2y",
    // AR(1) on first differences (ARIMA(1,1,0))
    "phid" -> "(ndd * dsld - dsl * dsd) / (ndd * dsll - dsl * dsl)",
    "cd0" -> "(dsd - phid * dsl) / ndd",
    "ssrd" -> "dsdd - cd0 * dsd - phid * dsld",
    // AIC = n ln(SSR/n) + 2k, ln REAL-collapsed
    "aic1" -> "n1 * CAST(CAST(ln(ssr1 / n1) AS FLOAT) AS DOUBLE) + 4e0",
    "aic2" -> "nd * CAST(CAST(ln(ssr2 / nd) AS FLOAT) AS DOUBLE) + 6e0",
    "aicd" -> "ndd * CAST(CAST(ln(ssrd / ndd) AS FLOAT) AS DOUBLE) + 4e0",
    "best" -> "least(aic1, aic2, aicd)")
}
