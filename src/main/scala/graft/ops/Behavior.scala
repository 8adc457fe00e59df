package graft.ops

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-series behavioral analytics (r10 cont.) — the product-analytics
  * layer over the `events` stream that sits next to the forecasting family:
  * batch sessionization, CUSUM changepoint detection, the autocorrelation
  * profile, and Cox proportional-hazards churn regression.
  *
  * Shared determinism discipline: every per-row quantity stays on exact
  * integer arithmetic (micros, counts) as long as possible; the few double
  * reductions ride the DECIMAL(30,12) wire ([[T.exact]]) so summation order
  * can never split the engines; `exp`/`ln` are REAL-collapsed per the
  * ml_poisson_glm convention. Scale notes per query.
  */
object Behavior {

  /** Session gap threshold: 30 minutes, in micros (shared with the SQL
    * text via interpolation). */
  private val GAP_US = 1800000000L

  // Shared closing texts — declared BEFORE `entries` (the oracle strings
  // interpolate them at object init; a later val would still be null).

  /** Shared ACF closing texts (exact-int inputs → one double sequence). */
  private val acfNum =
    "CAST(sxy AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(sa + sb AS DOUBLE) " +
      "+ CAST(m AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
  private val acfDen =
    "CAST(syy AS DOUBLE) - CAST(n AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"

  /** Shared Cox per-duration score/information texts. Step 1 (β = 0):
    * all-BIGINT inputs. */
  private val coxU0 =
    "CAST(sex AS DOUBLE) - CAST(m AS DOUBLE) * (CAST(rx AS DOUBLE) / CAST(rc AS DOUBLE))"
  private val coxI0 =
    "CAST(m AS DOUBLE) * (CAST(rxx AS DOUBLE) / CAST(rc AS DOUBLE) " +
      "- (CAST(rx AS DOUBLE) / CAST(rc AS DOUBLE)) * (CAST(rx AS DOUBLE) / CAST(rc AS DOUBLE)))"

  /** Step 2 (β = β₁): decimal-backed weighted risk sums. */
  private val coxU1 = "CAST(sex AS DOUBLE) - CAST(m AS DOUBLE) * (rwx / rw)"
  private val coxI1 =
    "CAST(m AS DOUBLE) * (rwxx / rw - (rwx / rw) * (rwx / rw))"

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "win_sessionize",
      // Batch sessionization — the batch twin of stream_session (which
      // uses session_window): per user, a new session starts when the gap
      // since the previous event exceeds 30 min; session ids are the
      // running count of breaks. The whole computation is per-user
      // windows (partitionBy user_id — fully distributed, no global
      // window) on exact integer micros, so it is bit-deterministic and
      // shuffle-minimal: ONE hash exchange on user_id feeds both the
      // window and the session aggregation (same key). At 100 TB the
      // window partitions by the high-cardinality user key — the
      // scale-correct sessionize shape.
      (s, dir) => {
        val ev = T.events(s, dir).select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("brk",
            when(col("us") - lag(col("us"), 1).over(w) > GAP_US
              || lag(col("us"), 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("session_seq", sum(col("brk")).over(wCum))
          .groupBy("user_id", "session_seq")
          .agg(count(lit(1)).as("n_events"),
            min(col("us")).as("start_us"),
            (max(col("us")) - min(col("us"))).as("duration_us"))
          .orderBy("user_id", "session_seq")
      },
      Some(s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us
                           FROM events),
                 b AS (SELECT user_id, us,
                     CASE WHEN us - lag(us) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) > $GAP_US
                          OR lag(us) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) IS NULL
                       THEN 1 ELSE 0 END AS brk
                   FROM ev),
                 sid AS (SELECT user_id, us,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_seq
                   FROM b)
               SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                 count(*) AS n_events,
                 min(us) AS start_us,
                 max(us) - min(us) AS duration_us
               FROM sid GROUP BY user_id, session_seq
               ORDER BY user_id, session_seq""")),

    QueryDef(
      "ml_changepoint_cusum",
      // CUSUM changepoint detection on the daily event series (Page 1954
      // — the classic control chart): C_t = Σ_{i≤t}(y_i − ȳ) peaks at the
      // most likely level-shift point. All inputs are exact BIGINTs
      // (daily counts, cumulative counts, row index), so C_t = cy −
      // t·(sy/n) is one identical double expression in both engines; the
      // argmax flag compares those bit-identical doubles. The daily
      // aggregate is the only corpus-scale pass (map-side combined); the
      // window runs over the ≤ day-range aggregate rows (the
      // agg_approx_quantile bounded-window discipline).
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val wIdx = Window.orderBy("day")
        val wCum = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy()
        daily
          .withColumn("t", row_number().over(wIdx))
          .withColumn("cy", sum(col("y")).over(wCum))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("sy", sum(col("y")).over(wAll))
          .withColumn("cusum", expr(
            "CAST(cy AS DOUBLE) - CAST(t AS DOUBLE) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"))
          .withColumn("mx", max(abs(col("cusum"))).over(wAll))
          .selectExpr("day", "y", "round(cusum, 6) AS cusum",
            "CASE WHEN abs(cusum) = mx THEN 1 ELSE 0 END AS is_changepoint")
          .orderBy("day")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                             FROM events GROUP BY 1),
                 idx AS (SELECT day, y,
                     row_number() OVER (ORDER BY day) AS t,
                     sum(y) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy,
                     count(*) OVER () AS n,
                     sum(y) OVER () AS sy
                   FROM daily),
                 cs AS (SELECT day, y,
                     CAST(cy AS DOUBLE) - CAST(t AS DOUBLE)
                       * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cusum
                   FROM idx),
                 mx AS (SELECT max(abs(cusum)) AS mx FROM cs)
               SELECT day, y, round(cusum, 6) AS cusum,
                 CASE WHEN abs(cusum) = mx THEN 1 ELSE 0 END AS is_changepoint
               FROM cs CROSS JOIN mx ORDER BY day""")),

    QueryDef(
      "ml_acf",
      // Autocorrelation function of the daily event series at lags 1–7 —
      // the diagnostic that motivates the ARIMA family (ml_ar2/
      // ml_arima_*): ρ_L = Σ_{t>L}(y_t−ȳ)(y_{t−L}−ȳ) / Σ_t(y_t−ȳ)².
      // The cross-moment expands to pure BIGINT sums (Σy_t·y_{t−L},
      // Σ'y_t, Σ'y_{t−L}, pair count) so the only doubles are one shared
      // closing expression — bit-deterministic. The lag pairing is a
      // bounded self-join on the ≤ day-range aggregate (t differs by ≤
      // 7), nothing corpus-scale beyond the daily aggregation.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        val a = daily.select(col("t").as("ta"), col("y").as("ya"))
        val b = daily.select(col("t").as("tb"), col("y").as("yb"))
        val pairs = a.join(b,
            col("ta") - col("tb") >= 1 && col("ta") - col("tb") <= 7)
          .groupBy((col("ta") - col("tb")).cast("long").as("lag"))
          .agg(count(lit(1)).as("m"),
            sum(col("ya") * col("yb")).as("sxy"),
            sum(col("ya")).as("sa"), sum(col("yb")).as("sb"))
        val glob = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("y") * col("y")).as("syy"))
        pairs.crossJoin(broadcast(glob))
          .selectExpr("lag", "m AS n_pairs",
            s"round(($acfNum) / ($acfDen), 6) AS acf")
          .orderBy("lag")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 idx AS (SELECT y, row_number() OVER (ORDER BY day) AS t
                         FROM daily),
                 pr AS (SELECT CAST(a.t - b.t AS BIGINT) AS lag, count(*) AS m,
                     CAST(sum(a.y * b.y) AS BIGINT) AS sxy,
                     CAST(sum(a.y) AS BIGINT) AS sa,
                     CAST(sum(b.y) AS BIGINT) AS sb
                   FROM idx a JOIN idx b
                     ON a.t - b.t BETWEEN 1 AND 7
                   GROUP BY 1),
                 g AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(y * y) AS BIGINT) AS syy
                   FROM idx)
               SELECT lag, m AS n_pairs,
                 round(($acfNum) / ($acfDen), 6) AS acf
               FROM pr CROSS JOIN g ORDER BY lag""")),

    QueryDef(
      "ml_pacf",
      // Partial autocorrelation at lags 1–3 via the Durbin–Levinson
      // recursion on the ACF values (Box & Jenkins' AR-order diagnostic —
      // the plot a tsa user reads next to ml_acf to pick p):
      // φ11 = ρ1; φ22 = (ρ2 − ρ1²)/(1 − ρ1²); φ21 = ρ1(1 − φ22);
      // φ33 = (ρ3 − φ21ρ2 − φ22ρ1)/(1 − φ21ρ1 − φ22ρ2). The ρ's come
      // from the same all-BIGINT lag-pair moments as ml_acf; the
      // recursion is a bounded shared-text double cascade on the 1-row
      // pivot — nothing corpus-scale beyond the daily aggregation.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        val a = daily.select(col("t").as("ta"), col("y").as("ya"))
        val b = daily.select(col("t").as("tb"), col("y").as("yb"))
        val pairs = a.join(b,
            col("ta") - col("tb") >= 1 && col("ta") - col("tb") <= 3)
          .groupBy((col("ta") - col("tb")).cast("long").as("lag"))
          .agg(count(lit(1)).as("m"),
            sum(col("ya") * col("yb")).as("sxy"),
            sum(col("ya")).as("sa"), sum(col("yb")).as("sb"))
        val glob = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("y") * col("y")).as("syy"))
        pairs.crossJoin(broadcast(glob))
          .selectExpr("lag", s"($acfNum) / ($acfDen) AS r")
          .agg(
            max(when(col("lag") === 1, col("r"))).as("r1"),
            max(when(col("lag") === 2, col("r"))).as("r2"),
            max(when(col("lag") === 3, col("r"))).as("r3"))
          .selectExpr("r1", "r2", "r3",
            "(r2 - r1 * r1) / (1e0 - r1 * r1) AS p22")
          .selectExpr("r1", "r2", "r3", "p22", "r1 * (1e0 - p22) AS p21")
          .selectExpr("r1", "p22",
            "(r3 - p21 * r2 - p22 * r1) / (1e0 - p21 * r1 - p22 * r2) AS p33")
          .selectExpr("stack(3, 1L, r1, 2L, p22, 3L, p33) AS (lag, pacf)")
          .selectExpr("lag", "round(pacf, 6) AS pacf")
          .orderBy("lag")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                              FROM events GROUP BY 1),
                 idx AS (SELECT y, row_number() OVER (ORDER BY day) AS t
                         FROM daily),
                 pr AS (SELECT CAST(a.t - b.t AS BIGINT) AS lag, count(*) AS m,
                     CAST(sum(a.y * b.y) AS BIGINT) AS sxy,
                     CAST(sum(a.y) AS BIGINT) AS sa,
                     CAST(sum(b.y) AS BIGINT) AS sb
                   FROM idx a JOIN idx b
                     ON a.t - b.t BETWEEN 1 AND 3
                   GROUP BY 1),
                 g AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(y * y) AS BIGINT) AS syy
                   FROM idx),
                 ac AS (SELECT lag, ($acfNum) / ($acfDen) AS r
                   FROM pr CROSS JOIN g),
                 rv AS (SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
                     max(CASE WHEN lag = 2 THEN r END) AS r2,
                     max(CASE WHEN lag = 3 THEN r END) AS r3 FROM ac),
                 s2 AS (SELECT r1, r2, r3,
                     (r2 - r1 * r1) / (1e0 - r1 * r1) AS p22 FROM rv),
                 s3 AS (SELECT r1, r2, r3, p22,
                     r1 * (1e0 - p22) AS p21 FROM s2),
                 s4 AS (SELECT r1, p22,
                     (r3 - p21 * r2 - p22 * r1) / (1e0 - p21 * r1 - p22 * r2) AS p33
                   FROM s3)
               SELECT lag, round(pacf, 6) AS pacf FROM (
                 SELECT CAST(1 AS BIGINT) AS lag, r1 AS pacf FROM s4
                 UNION ALL SELECT 2, p22 FROM s4
                 UNION ALL SELECT 3, p33 FROM s4) t
               ORDER BY lag""")),

    QueryDef(
      "ml_kendall_tau",
      // Kendall's τ-b between the daily 'click' and 'view' series — the
      // rank-correlation sibling of ml_spearman_corr that is robust to
      // ties (Kendall 1945's tie-corrected form):
      // τ_b = (C − D) / √((n0 − t_x)(n0 − t_y)) with n0 = n(n−1)/2 and
      // t the tied-pair counts. The pair enumeration is a bounded
      // self-join on the day table (≤ day-range², never corpus rows);
      // C/D/t are exact BIGINT counts, so the only doubles are the two
      // √ of integer-valued operands — bit-deterministic.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
               sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        val a = daily.selectExpr("t AS ta", "x AS xa", "y AS ya")
        val b = daily.selectExpr("t AS tb", "x AS xb", "y AS yb")
        a.join(b, col("ta") < col("tb"))
          .agg(count(lit(1)).as("n0"),
            sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
                     (col("xa") > col("xb") && col("ya") > col("yb")), 1L)
              .otherwise(0L)).as("c"),
            sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
                     (col("xa") > col("xb") && col("ya") < col("yb")), 1L)
              .otherwise(0L)).as("d"),
            sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
            sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"))
          .selectExpr("n0", "c AS concordant", "d AS discordant",
            "round(CAST(c - d AS DOUBLE) / " +
              "(sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE))), 6) AS tau_b")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                     sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
                     sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS y
                   FROM events GROUP BY 1),
                 idx AS (SELECT x, y, row_number() OVER (ORDER BY day) AS t
                         FROM daily),
                 pr AS (SELECT count(*) AS n0,
                     CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                       OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT) AS c,
                     CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                       OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT) AS d,
                     CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                     CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
                   FROM idx a JOIN idx b ON a.t < b.t)
               SELECT n0, c AS concordant, d AS discordant,
                 round(CAST(c - d AS DOUBLE) /
                   (sqrt(CAST(n0 - tx AS DOUBLE)) * sqrt(CAST(n0 - ty AS DOUBLE))), 6) AS tau_b
               FROM pr""")),

    QueryDef(
      "ml_cox_ph",
      // Cox proportional-hazards time-to-conversion regression — does
      // activity level (a user's event count) predict how fast they reach
      // their first 'purchase'? Duration = hours from a user's first
      // event to their first purchase; users who never purchase are
      // right-censored at their last event (the fixture converts
      // everyone, but the text is the general estimator). Breslow partial
      // likelihood with tied event times, covariate x = per-user event
      // count, 2 Newton steps from β = 0. The risk-set statistics
      // R(d) = Σ_{d'≥d} over users come from DESCENDING cumulative
      // windows on the per-duration aggregate (bounded by the hour
      // range) — step 1's sums are exact BIGINTs (x is an integer
      // count); step 2's exp(β·x) weights are REAL-collapsed per row and
      // every reduction rides the DECIMAL(30,12) wire, so both engines
      // walk one double sequence. Scale: two corpus passes (the per-user
      // span/count aggregate + the first-purchase aggregate), the rest
      // on ≤ hour-range rows; the score/information sums over event
      // durations also ride the decimal wire (order-proof).
      (s, dir) => {
        val ev = T.events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts").cast("timestamp")).as("us"))
        val sp = ev.groupBy("user_id")
          .agg(min(col("us")).as("t0"), max(col("us")).as("tl"),
            count(lit(1)).as("x"))
        val pv = ev.where(col("event_type") === "purchase")
          .groupBy("user_id").agg(min(col("us")).as("tp"))
        val dur = sp.join(pv, Seq("user_id"), "left")
          .selectExpr("(coalesce(tp, tl) - t0) div 3600000000 AS d",
            "CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS e",
            "x")
        // per-duration exact integer moments: event side (m, sex) and
        // risk side (c, cx, cxx)
        val byd = dur.groupBy("d").agg(
          count(lit(1)).as("c"), sum(col("x")).as("cx"),
          sum(col("x") * col("x")).as("cxx"),
          sum(col("e")).as("m"), sum(col("e") * col("x")).as("sex"))
        val wDesc = Window.orderBy(col("d").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val risk0 = byd
          .withColumn("rc", sum(col("c")).over(wDesc))
          .withColumn("rx", sum(col("cx")).over(wDesc))
          .withColumn("rxx", sum(col("cxx")).over(wDesc))
        // step 1 at β = 0: U = Σ_d [sex − m·(rx/rc)], I = Σ_d m·(rxx/rc −
        // (rx/rc)²) — per-d terms are identical doubles from exact ints;
        // the Σ_d rides the decimal wire.
        val c1 = risk0.where(col("m") > 0)
          .agg(T.xsum(expr(coxU0)).as("u"), T.xsum(expr(coxI0)).as("i"))
          .selectExpr("u / i AS beta1")
        // step 2 at β₁: per-user weight w = REAL(exp(β₁·x)); risk sums of
        // (w, w·x, w·x²) are per-duration decimal sums cumulated by the
        // same descending window (decimal all the way — order-proof).
        val wtd = dur.crossJoin(broadcast(c1))
          .withColumn("w", expr("CAST(CAST(exp(beta1 * x) AS REAL) AS DOUBLE)"))
        val byd2 = wtd.groupBy("d", "beta1").agg(
          T.xsumD(col("w")).as("sw"),
          T.xsumD(col("w") * col("x")).as("swx"),
          T.xsumD(col("w") * col("x") * col("x")).as("swxx"),
          sum(col("e")).as("m"), sum(col("e") * col("x")).as("sex"))
        val risk1 = byd2
          .withColumn("rw", sum(col("sw")).over(wDesc).cast("double"))
          .withColumn("rwx", sum(col("swx")).over(wDesc).cast("double"))
          .withColumn("rwxx", sum(col("swxx")).over(wDesc).cast("double"))
        risk1.where(col("m") > 0)
          .groupBy("beta1")
          .agg(T.xsum(expr(coxU1)).as("u"), T.xsum(expr(coxI1)).as("i"))
          .selectExpr("round(beta1, 6) AS beta_step1",
            "round(beta1 + u / i, 6) AS beta_step2",
            "round(CAST(CAST(exp(beta1 + u / i) AS REAL) AS DOUBLE), 6) AS hazard_ratio")
      },
      Some(s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
                           FROM events),
                 sp AS (SELECT user_id, min(us) AS t0, max(us) AS tl,
                          count(*) AS x FROM ev GROUP BY 1),
                 pv AS (SELECT user_id, min(us) AS tp FROM ev
                        WHERE event_type = 'purchase' GROUP BY 1),
                 dur AS (SELECT
                     CAST((coalesce(tp, tl) - t0) // 3600000000 AS BIGINT) AS d,
                     CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS e, x
                   FROM sp LEFT JOIN pv USING (user_id)),
                 byd AS (SELECT d, count(*) AS c,
                     CAST(sum(x) AS BIGINT) AS cx,
                     CAST(sum(x * x) AS BIGINT) AS cxx,
                     CAST(sum(e) AS BIGINT) AS m,
                     CAST(sum(e * x) AS BIGINT) AS sex
                   FROM dur GROUP BY d),
                 rk AS (SELECT *,
                     sum(c) OVER (ORDER BY d DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc,
                     sum(cx) OVER (ORDER BY d DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rx,
                     sum(cxx) OVER (ORDER BY d DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rxx
                   FROM byd),
                 c1 AS (SELECT u / i AS beta1 FROM (
                   SELECT CAST(sum(CAST(($coxU0) AS DECIMAL(30,12))) AS DOUBLE) AS u,
                       CAST(sum(CAST(($coxI0) AS DECIMAL(30,12))) AS DOUBLE) AS i
                     FROM rk WHERE m > 0) t),
                 wtd AS (SELECT d, e, x, beta1,
                     CAST(CAST(exp(beta1 * x) AS REAL) AS DOUBLE) AS w
                   FROM dur CROSS JOIN c1),
                 byd2 AS (SELECT d, beta1,
                     sum(CAST(w AS DECIMAL(30,12))) AS sw,
                     sum(CAST(w * x AS DECIMAL(30,12))) AS swx,
                     sum(CAST(w * x * x AS DECIMAL(30,12))) AS swxx,
                     CAST(sum(e) AS BIGINT) AS m,
                     CAST(sum(e * x) AS BIGINT) AS sex
                   FROM wtd GROUP BY d, beta1),
                 rk2 AS (SELECT *,
                     CAST(sum(sw) OVER (ORDER BY d DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS rw,
                     CAST(sum(swx) OVER (ORDER BY d DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS rwx,
                     CAST(sum(swxx) OVER (ORDER BY d DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS rwxx
                   FROM byd2)
               SELECT round(beta1, 6) AS beta_step1,
                 round(beta1 + u / i, 6) AS beta_step2,
                 round(CAST(CAST(exp(beta1 + u / i) AS REAL) AS DOUBLE), 6) AS hazard_ratio
               FROM (SELECT beta1,
                   CAST(sum(CAST(($coxU1) AS DECIMAL(30,12))) AS DOUBLE) AS u,
                   CAST(sum(CAST(($coxI1) AS DECIMAL(30,12))) AS DOUBLE) AS i
                 FROM rk2 WHERE m > 0 GROUP BY beta1) t""")),

    QueryDef(
      "ml_friedman_test",
      // Friedman's rank test (Friedman 1937 — the nonparametric
      // repeated-measures ANOVA): do the 5 event types keep the same
      // volume ordering across days, or does some type's rank genuinely
      // shift? Blocks = days, treatments = event types; within each day
      // the types are AVERAGE-ranked by count (ties get the mean of
      // their row numbers — rank() + (tied−1)/2, identical text both
      // engines), and χ²_F = 12/(n·k(k+1))·ΣR_j² − 3n(k+1). The grid is
      // the bounded (day × type) aggregate with missing cells as 0;
      // every rank and rank-sum is exact.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val e = T.events(s, dir)
        val days = e.select(to_date(col("ts")).as("day")).distinct()
        val types = e.select(col("event_type")).distinct()
        val counts = e.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("c"))
        val grid = days.crossJoin(broadcast(types))
          .join(counts, Seq("day", "event_type"), "left")
          .selectExpr("day", "event_type", "coalesce(c, 0L) AS c")
        val wr = Window.partitionBy("day").orderBy("c")
        val wt = Window.partitionBy("day", "c")
        val ranked = grid
          .withColumn("rk",
            rank().over(wr) + (count(lit(1)).over(wt) - 1) / lit(2e0))
        val rj = ranked.groupBy("event_type")
          .agg(T.xsum(col("rk")).as("rsum"))
        val nk = days.agg(count(lit(1)).as("n"))
          .crossJoin(types.agg(count(lit(1)).as("k")))
        rj.agg(T.xsum(col("rsum") * col("rsum")).as("ss"))
          .crossJoin(broadcast(nk))
          .selectExpr("n", "CAST(k AS INT) AS k",
            "round(12e0 / (n * k * (k + 1)) * ss - 3e0 * n * (k + 1), 6) AS friedman_chi2")
      },
      Some(s"""WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
                 types AS (SELECT DISTINCT event_type FROM events),
                 counts AS (SELECT CAST(ts AS DATE) AS day, event_type,
                     count(*) AS c
                   FROM events GROUP BY 1, 2),
                 grid AS (SELECT d.day, t.event_type, coalesce(c.c, 0) AS c
                   FROM days d CROSS JOIN types t
                   LEFT JOIN counts c ON c.day = d.day
                     AND c.event_type = t.event_type),
                 ranked AS (SELECT day, event_type,
                     rank() OVER (PARTITION BY day ORDER BY c)
                       + (count(*) OVER (PARTITION BY day, c) - 1) / 2e0 AS rk
                   FROM grid),
                 rj AS (SELECT event_type, ${T.sqlXsum("rk")} AS rsum
                   FROM ranked GROUP BY event_type),
                 nk AS (SELECT (SELECT count(*) FROM days) AS n,
                     (SELECT count(*) FROM types) AS k),
                 ss AS (SELECT ${T.sqlXsum("rsum * rsum")} AS ss FROM rj)
               SELECT CAST(n AS BIGINT) AS n, CAST(k AS INT) AS k,
                 round(12e0 / (n * k * (k + 1)) * ss - 3e0 * n * (k + 1), 6) AS friedman_chi2
               FROM ss CROSS JOIN nk""")),

    QueryDef(
      "ml_hurst_exponent",
      // Hurst exponent by rescaled-range analysis (Hurst 1951; Mandelbrot
      // & Wallis 1969 — the long-memory diagnostic next to ml_acf:
      // H ≈ ½ random walk, > ½ trending, < ½ mean-reverting): for window
      // sizes w ∈ {5, 10, 15} split the daily series into ⌊n/w⌋ blocks,
      // per block R = range of cumulative mean-deviations and S = the
      // population std, average R/S over blocks (S > 0), then H = the
      // ln–ln OLS slope over the three (w, R/S) points. Everything runs
      // on the bounded day table: per-block windows, exact sums,
      // REAL-collapsed ln.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        val ws = broadcast(Seq(5, 10, 15).toDF("w"))
        val blk = daily.crossJoin(ws)
          .selectExpr("w", "CAST(floor((t - 1) / w) AS INT) AS b",
            "t", "CAST(y AS DOUBLE) AS y")
          .withColumn("nb", count(lit(1)).over(
            Window.partitionBy("w", "b")))
          .where(col("nb") === col("w"))
        val wb = Window.partitionBy("w", "b")
        val wc = Window.partitionBy("w", "b").orderBy("t")
          .rowsBetween(Window.unboundedPreceding, 0)
        val rs = blk
          .withColumn("mb", T.xsumD(col("y")).over(wb).cast("double") / col("w"))
          .withColumn("z", T.xsumD(col("y") - col("mb")).over(wc).cast("double"))
          .withColumn("r", max(col("z")).over(wb) - min(col("z")).over(wb))
          .withColumn("s2",
            T.xsumD((col("y") - col("mb")) * (col("y") - col("mb")))
              .over(wb).cast("double") / col("w"))
          .where(col("t") % col("w") === 0 && col("s2") > 0)
          .selectExpr("w", "r / sqrt(s2) AS rs")
          .groupBy("w")
          .agg(count(lit(1)).as("n_blocks"), (T.xsum(col("rs")) / count(lit(1))).as("rsm"))
        val pts = rs.selectExpr(
          "CAST(CAST(ln(CAST(w AS DOUBLE)) AS FLOAT) AS DOUBLE) AS lx",
          "CAST(CAST(ln(rsm) AS FLOAT) AS DOUBLE) AS ly",
          "w", "n_blocks", "rsm")
        pts.agg(count(lit(1)).cast("double").as("np"),
            T.xsum(col("lx")).as("sx"), T.xsum(col("ly")).as("sy"),
            T.xsum(col("lx") * col("lx")).as("sxx"),
            T.xsum(col("lx") * col("ly")).as("sxy"),
            round(max(when(col("w") === 5, col("rsm"))), 6).as("rs_5"),
            round(max(when(col("w") === 10, col("rsm"))), 6).as("rs_10"),
            round(max(when(col("w") === 15, col("rsm"))), 6).as("rs_15"))
          .selectExpr("rs_5", "rs_10", "rs_15",
            "round((np * sxy - sx * sy) / (np * sxx - sx * sx), 6) AS hurst")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                             FROM events GROUP BY 1),
                 idx AS (SELECT CAST(y AS DOUBLE) AS y,
                     row_number() OVER (ORDER BY day) AS t
                   FROM daily),
                 ws AS (SELECT unnest([5, 10, 15]) AS w),
                 blk0 AS (SELECT w, CAST(floor((t - 1) / w) AS INT) AS b, t, y
                   FROM idx CROSS JOIN ws),
                 blk AS (SELECT * FROM (SELECT *,
                     count(*) OVER (PARTITION BY w, b) AS nb FROM blk0) t0
                   WHERE nb = w),
                 st AS (SELECT w, b, t, y,
                     CAST(sum(CAST(y AS DECIMAL(30,12))) OVER (PARTITION BY w, b) AS DOUBLE) / w AS mb
                   FROM blk),
                 zc AS (SELECT *,
                     CAST(sum(CAST(y - mb AS DECIMAL(30,12))) OVER (PARTITION BY w, b ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS z
                   FROM st),
                 rb AS (SELECT *,
                     max(z) OVER (PARTITION BY w, b) - min(z) OVER (PARTITION BY w, b) AS r,
                     CAST(sum(CAST((y - mb) * (y - mb) AS DECIMAL(30,12))) OVER (PARTITION BY w, b) AS DOUBLE) / w AS s2
                   FROM zc),
                 rs AS (SELECT w, count(*) AS n_blocks,
                     ${T.sqlXsum("r / sqrt(s2)")} / count(*) AS rsm
                   FROM rb WHERE t % w = 0 AND s2 > 0 GROUP BY w),
                 pt AS (SELECT w, rsm,
                     CAST(CAST(ln(CAST(w AS DOUBLE)) AS REAL) AS DOUBLE) AS lx,
                     CAST(CAST(ln(rsm) AS REAL) AS DOUBLE) AS ly
                   FROM rs),
                 ag AS (SELECT CAST(count(*) AS DOUBLE) AS np,
                     ${T.sqlXsum("lx")} AS sx, ${T.sqlXsum("ly")} AS sy,
                     ${T.sqlXsum("lx * lx")} AS sxx, ${T.sqlXsum("lx * ly")} AS sxy,
                     round(max(CASE WHEN w = 5 THEN rsm END), 6) AS rs_5,
                     round(max(CASE WHEN w = 10 THEN rsm END), 6) AS rs_10,
                     round(max(CASE WHEN w = 15 THEN rsm END), 6) AS rs_15
                   FROM pt)
               SELECT rs_5, rs_10, rs_15,
                 round((np * sxy - sx * sy) / (np * sxx - sx * sx), 6) AS hurst
               FROM ag""")),

    QueryDef(
      "ml_frequent_itemsets",
      // Frequent itemsets over per-user event-type baskets — the
      // market-basket layer (Agrawal & Srikant 1994; Spark MLlib ships
      // it as FPGrowth): support of every 1- and 2-itemset of event
      // types, basket = the DISTINCT types a user ever fired. The item
      // alphabet is bounded (5 types → ≤ 5 + 10 itemsets), so after ONE
      // (user, type) distinct pass everything is a per-user ≤10-row pair
      // expansion + a bounded groupBy — the shape that holds when users
      // number billions: no candidate generation over the corpus, only
      // over the alphabet. Counts exact; support = one final division.
      (s, dir) => {
        val ut = T.events(s, dir)
          .select(col("user_id"), col("event_type")).distinct()
        val nUsers = ut.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("n_users"))
        val singles = ut.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_baskets"))
          .selectExpr("event_type AS itemset", "1 AS size", "n_baskets")
        val a = ut.select(col("user_id"), col("event_type").as("ta"))
        val b = ut.select(col("user_id"), col("event_type").as("tb"))
        val pairs = a.join(b, "user_id").where(col("ta") < col("tb"))
          .groupBy("ta", "tb").agg(count(lit(1)).as("n_baskets"))
          .selectExpr("concat(ta, '+', tb) AS itemset", "2 AS size",
            "n_baskets")
        singles.unionAll(pairs).crossJoin(broadcast(nUsers))
          .selectExpr("itemset", "size", "n_baskets",
            "round(CAST(n_baskets AS DOUBLE) / n_users, 6) AS support")
          .orderBy("size", "itemset")
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
                 nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
                 s1 AS (SELECT event_type AS itemset, 1 AS size,
                     count(*) AS n_baskets FROM ut GROUP BY event_type),
                 s2 AS (SELECT concat(a.event_type, '+', b.event_type) AS itemset,
                     2 AS size, count(*) AS n_baskets
                   FROM ut a JOIN ut b ON a.user_id = b.user_id
                     AND a.event_type < b.event_type
                   GROUP BY 1),
                 u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
               SELECT itemset, size, n_baskets,
                 round(CAST(n_baskets AS DOUBLE) / n_users, 6) AS support
               FROM u CROSS JOIN nu ORDER BY size, itemset""")),

    QueryDef(
      "ml_assoc_rules",
      // Association rules a → b over the same baskets: confidence =
      // supp(ab)/supp(a) and lift = confidence / P(b) for every ordered
      // type pair (the FPGrowth associationRules output). Same one-pass
      // wire as ml_frequent_itemsets; both directions of each pair emit,
      // all counts exact, the two ratios shared text. lift > 1 ⇒ the
      // antecedent genuinely raises the consequent's odds — the number a
      // recommendation/funnel analysis reads.
      (s, dir) => {
        val ut = T.events(s, dir)
          .select(col("user_id"), col("event_type")).distinct()
        val nUsers = ut.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("n_users"))
        val singles = ut.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val a = ut.select(col("user_id"), col("event_type").as("ante"))
        val b = ut.select(col("user_id"), col("event_type").as("cons"))
        val both = a.join(b, "user_id").where(col("ante") =!= col("cons"))
          .groupBy("ante", "cons").agg(count(lit(1)).as("n_ab"))
        both
          .join(broadcast(singles.selectExpr("event_type AS ante", "cnt AS n_a")), "ante")
          .join(broadcast(singles.selectExpr("event_type AS cons", "cnt AS n_b")), "cons")
          .crossJoin(broadcast(nUsers))
          .selectExpr("ante", "cons", "n_ab",
            "round(CAST(n_ab AS DOUBLE) / n_a, 6) AS confidence",
            "round((CAST(n_ab AS DOUBLE) / n_a) / (CAST(n_b AS DOUBLE) / n_users), 6) AS lift")
          .orderBy("ante", "cons")
      },
      Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
                 nu AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
                 s1 AS (SELECT event_type, count(*) AS cnt FROM ut
                   GROUP BY event_type),
                 ab AS (SELECT a.event_type AS ante, b.event_type AS cons,
                     count(*) AS n_ab
                   FROM ut a JOIN ut b ON a.user_id = b.user_id
                     AND a.event_type <> b.event_type
                   GROUP BY 1, 2)
               SELECT ante, cons, n_ab,
                 round(CAST(n_ab AS DOUBLE) / sa.cnt, 6) AS confidence,
                 round((CAST(n_ab AS DOUBLE) / sa.cnt) / (CAST(sb.cnt AS DOUBLE) / n_users), 6) AS lift
               FROM ab JOIN s1 sa ON sa.event_type = ab.ante
                 JOIN s1 sb ON sb.event_type = ab.cons
                 CROSS JOIN nu
               ORDER BY ante, cons""")),

    QueryDef(
      "ml_wilcoxon_signrank",
      // Wilcoxon signed-rank test (1945) on the week-over-week change of
      // the daily order series — the PAIRED nonparametric test completing
      // the family next to ml_mannwhitney_u's unpaired one (pairs =
      // (day, day−7), the natural seasonal pairing): rank |d| with
      // midranks for ties, W⁺ = Σ ranks of positive changes, normal
      // approximation with the exact tie correction Σ(t³−t)/48. Corpus
      // work = ONE daily aggregate; ranking runs on the bounded day
      // frame. Every input is an exact integer (counts, ranks, tie
      // sizes), so midranks are exact dyadic rationals and the z closes
      // over shared text.
      (s, dir) => {
        val daily = T.orders(s, dir)
          .groupBy(col("o_orderdate").as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        val d = daily.alias("a")
          .join(daily.alias("b"), expr("a.t = b.t + 7"))
          .selectExpr("a.y - b.y AS d")
          .where(col("d") =!= 0)
          .selectExpr("d", "abs(d) AS ad")
        val wAbs = Window.orderBy("ad")
        val ranked = d
          .withColumn("rk", rank().over(wAbs))
          .withColumn("nt", count(lit(1)).over(Window.partitionBy("ad")))
          .selectExpr("d", "nt",
            "CAST(rk AS DOUBLE) + (CAST(nt AS DOUBLE) - 1e0) / 2e0 AS mr")
        ranked.agg(count(lit(1)).as("n"),
            T.xsum(expr("CASE WHEN d > 0 THEN mr ELSE 0e0 END")).as("wp"),
            T.xsum(expr("CASE WHEN d < 0 THEN mr ELSE 0e0 END")).as("wm"),
            // Σ(t³−t) counts each tie GROUP once: every member row carries
            // the group size nt, so divide the per-row sum by nt
            T.xsum(expr("(CAST(nt AS DOUBLE) * nt * nt - nt) / nt")).as("tt"))
          .selectExpr("n", "wp", "wm", "tt",
            "CAST(n AS DOUBLE) * (n + 1e0) / 4e0 AS mu",
            "CAST(n AS DOUBLE) * (n + 1e0) * (2e0 * n + 1e0) / 24e0 - tt / 48e0 AS v")
          .selectExpr("CAST(n AS BIGINT) AS n_pairs",
            "round(wp, 1) AS w_plus", "round(wm, 1) AS w_minus",
            "round((wp - mu) / sqrt(v), 6) AS z")
      },
      Some(s"""WITH daily AS (SELECT o_orderdate AS day, count(*) AS y
                 FROM orders GROUP BY 1),
               idx AS (SELECT y, row_number() OVER (ORDER BY day) AS t
                 FROM daily),
               df AS (SELECT a.y - b.y AS d, abs(a.y - b.y) AS ad
                 FROM idx a JOIN idx b ON a.t = b.t + 7
                 WHERE a.y - b.y <> 0),
               rk AS (SELECT d,
                   rank() OVER (ORDER BY ad) AS rk,
                   count(*) OVER (PARTITION BY ad) AS nt
                 FROM df),
               mr AS (SELECT d, nt,
                   CAST(rk AS DOUBLE) + (CAST(nt AS DOUBLE) - 1e0) / 2e0 AS mr
                 FROM rk),
               ag AS (SELECT count(*) AS n,
                   ${T.sqlXsum("CASE WHEN d > 0 THEN mr ELSE 0e0 END")} AS wp,
                   ${T.sqlXsum("CASE WHEN d < 0 THEN mr ELSE 0e0 END")} AS wm,
                   ${T.sqlXsum("(CAST(nt AS DOUBLE) * nt * nt - nt) / nt")} AS tt
                 FROM mr),
               st AS (SELECT n, wp, wm, tt,
                   CAST(n AS DOUBLE) * (n + 1e0) / 4e0 AS mu,
                   CAST(n AS DOUBLE) * (n + 1e0) * (2e0 * n + 1e0) / 24e0 - tt / 48e0 AS v
                 FROM ag)
               SELECT CAST(n AS BIGINT) AS n_pairs,
                 round(wp, 1) AS w_plus, round(wm, 1) AS w_minus,
                 round((wp - mu) / sqrt(v), 6) AS z
               FROM st""")),

    QueryDef(
      "ml_sign_test",
      // The sign test — the assumption-free floor under
      // ml_wilcoxon_signrank (same (day, day−7) pairing, but only the
      // SIGN of each change counts): under H₀ positives ~ Binomial(n, ½),
      // z = (n⁺ − n/2)/√(n/4) with continuity correction toward the
      // mean. Everything is exact integers until the one shared-text z.
      (s, dir) => {
        val daily = T.orders(s, dir)
          .groupBy(col("o_orderdate").as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        daily.alias("a")
          .join(daily.alias("b"), expr("a.t = b.t + 7"))
          .selectExpr("a.y - b.y AS d")
          .where(col("d") =!= 0)
          .agg(count(lit(1)).as("n"),
            sum(expr("CASE WHEN d > 0 THEN 1 ELSE 0 END")).as("npos"))
          .selectExpr("CAST(n AS BIGINT) AS n_pairs",
            "CAST(npos AS BIGINT) AS n_positive",
            """round((CAST(npos AS DOUBLE) - CAST(n AS DOUBLE) / 2e0
               - CASE WHEN npos * 2 > n THEN 5e-1 WHEN npos * 2 < n THEN -5e-1 ELSE 0e0 END)
               / sqrt(CAST(n AS DOUBLE) / 4e0), 6) AS z""")
      },
      Some("""WITH daily AS (SELECT o_orderdate AS day, count(*) AS y
                 FROM orders GROUP BY 1),
               idx AS (SELECT y, row_number() OVER (ORDER BY day) AS t
                 FROM daily),
               df AS (SELECT a.y - b.y AS d
                 FROM idx a JOIN idx b ON a.t = b.t + 7
                 WHERE a.y - b.y <> 0),
               ag AS (SELECT count(*) AS n,
                   CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS npos
                 FROM df)
               SELECT CAST(n AS BIGINT) AS n_pairs, npos AS n_positive,
                 round((CAST(npos AS DOUBLE) - CAST(n AS DOUBLE) / 2e0
                   - CASE WHEN npos * 2 > n THEN 5e-1 WHEN npos * 2 < n THEN -5e-1 ELSE 0e0 END)
                   / sqrt(CAST(n AS DOUBLE) / 4e0), 6) AS z
               FROM ag""")),

    QueryDef(
      "ml_page_hinkley",
      // Page–Hinkley drift detector (Page 1954; the streaming
      // change-alarm next to ml_changepoint_cusum's offline argmax and
      // ml_ewma_control's chart): PH_t = Σ_{i≤t}(y_i − ȳ − δ) with
      // tolerance δ, alarm when PH_t − min_{i≤t} PH_i exceeds λ = 3σ̂.
      // Both thresholds are DATA-DERIVED (ȳ, σ̂ from the series' own
      // exact moments — no magic constants to disagree over); the
      // detector state is two running windows over the bounded daily
      // frame. Output: the alarm audit — days flagged, first alarm day,
      // max excursion.
      (s, dir) => {
        val daily = T.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val m = daily.agg(count(lit(1)).cast("double").as("n"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("y") * col("y")).cast("double").as("syy"))
          .selectExpr("sy / n AS mu",
            "sqrt((syy - sy * sy / n) / (n - 1e0)) AS sig")
        val wCum = Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        daily.crossJoin(broadcast(m))
          .withColumn("ph", T.xsumD(expr("CAST(y AS DOUBLE) - mu - sig / 1e1"))
            .over(wCum).cast("double"))
          .withColumn("phmin", min(col("ph")).over(wCum))
          .selectExpr("day", "ph - phmin AS exc", "3e0 * sig AS lambda")
          .agg(count(lit(1)).as("n_days"),
            sum(expr("CASE WHEN exc > lambda THEN 1 ELSE 0 END")).as("n_alarms"),
            min(expr("CASE WHEN exc > lambda THEN day END")).as("first_alarm"),
            round(max(col("exc")), 4).as("max_excursion"))
          .selectExpr("n_days", "CAST(n_alarms AS BIGINT) AS n_alarms",
            "first_alarm", "max_excursion")
      },
      Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
                 FROM events GROUP BY 1),
               m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(y * y) AS DOUBLE) AS syy
                 FROM daily),
               mm AS (SELECT sy / n AS mu,
                   sqrt((syy - sy * sy / n) / (n - 1e0)) AS sig
                 FROM m),
               ph AS (SELECT day,
                   CAST(sum(CAST(CAST(y AS DOUBLE) - mu - sig / 1e1 AS DECIMAL(30,12)))
                     OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS ph,
                   3e0 * sig AS lambda
                 FROM daily CROSS JOIN mm),
               ex AS (SELECT day, lambda,
                   ph - min(ph) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS exc
                 FROM ph)
               SELECT count(*) AS n_days,
                 CAST(sum(CASE WHEN exc > lambda THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
                 min(CASE WHEN exc > lambda THEN day END) AS first_alarm,
                 round(max(exc), 4) AS max_excursion
               FROM ex""")),

    QueryDef(
      "win_activity_streaks",
      // Longest-activity-streak distribution — the DAY-granularity
      // engagement metric next to win_sessionize's intra-day sessions
      // (streaks are what a retention dashboard calls "N-day streaks"):
      // per user, consecutive active days group by the classic
      // gaps-and-islands key (epoch-day − row_number — constant within a
      // run of consecutive days), the user's longest island is their
      // streak, and the output is the #users-per-streak-length histogram.
      // One distinct (user, day) pass; windows partitioned per user;
      // integers end-to-end.
      (s, dir) => {
        val ud = T.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        ud.withColumn("isl",
            datediff(col("day"), lit("1970-01-01").cast("date"))
              - row_number().over(w))
          .groupBy("user_id", "isl").agg(count(lit(1)).as("len"))
          .groupBy("user_id").agg(max(col("len")).as("streak"))
          .groupBy("streak").agg(count(lit(1)).as("n_users"))
          .selectExpr("CAST(streak AS BIGINT) AS streak_days", "n_users")
          .orderBy("streak_days")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events),
               isl AS (SELECT user_id,
                   (day - DATE '1970-01-01')
                     - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
                 FROM ud),
               runs AS (SELECT user_id, isl, count(*) AS len
                 FROM isl GROUP BY user_id, isl),
               mx AS (SELECT user_id, max(len) AS streak FROM runs
                 GROUP BY user_id)
               SELECT CAST(streak AS BIGINT) AS streak_days,
                 count(*) AS n_users
               FROM mx GROUP BY streak ORDER BY streak_days""")),

    QueryDef(
      "fn_interpolate_gaps",
      // Linear gap interpolation with a built-in reconstruction audit —
      // the time-series imputation sibling of fn_ffill: BLANK every 7th
      // day of the daily order series (t ≡ 3 mod 7 — deterministic,
      // isolated gaps, endpoints excluded), reconstruct each blank from
      // its two surviving neighbors, and score the reconstruction
      // against the held-back truth (the only honest way to registry-
      // check an imputer). Corpus work = ONE daily aggregate; the
      // lag/lead windows run on the bounded day-range frame. Counts are
      // exact integers; the midpoint and errors are shared-text doubles.
      (s, dir) => {
        val daily = T.orders(s, dir)
          .groupBy(col("o_orderdate").as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
          .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
        val w = Window.orderBy("t")
        daily
          .withColumn("yp", lag(col("y"), 1).over(w))
          .withColumn("yn", lead(col("y"), 1).over(w))
          .where(col("t") % 7 === 3 && col("t") > 1 && col("t") < col("nn"))
          .selectExpr("y",
            "(CAST(yp AS DOUBLE) + CAST(yn AS DOUBLE)) / 2e0 AS yhat")
          .agg(count(lit(1)).as("n_blanked"),
            (T.xsum(expr("abs(yhat - y)")) / count(lit(1))).as("mae"),
            (T.xsum(expr("(yhat - y) * (yhat - y)")) / count(lit(1))).as("mse"))
          .selectExpr("n_blanked", "round(mae, 4) AS interp_mae",
            "round(sqrt(mse), 4) AS interp_rmse")
      },
      Some("""WITH daily AS (SELECT o_orderdate AS day, count(*) AS y
                 FROM orders GROUP BY 1),
               idx AS (SELECT y, row_number() OVER (ORDER BY day) AS t,
                   count(*) OVER () AS nn
                 FROM daily),
               lagd AS (SELECT y, t, nn,
                   lag(y, 1) OVER (ORDER BY t) AS yp,
                   lead(y, 1) OVER (ORDER BY t) AS yn
                 FROM idx),
               bl AS (SELECT y,
                   (CAST(yp AS DOUBLE) + CAST(yn AS DOUBLE)) / 2e0 AS yhat
                 FROM lagd WHERE t % 7 = 3 AND t > 1 AND t < nn)
               SELECT count(*) AS n_blanked,
                 round(CAST(sum(CAST(abs(yhat - y) AS DECIMAL(30,12))) AS DOUBLE)
                   / count(*), 4) AS interp_mae,
                 round(sqrt(CAST(sum(CAST((yhat - y) * (yhat - y) AS DECIMAL(30,12))) AS DOUBLE)
                   / count(*)), 4) AS interp_rmse
               FROM bl"""))
  )
}
