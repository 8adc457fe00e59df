package graft.ops

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regression-diagnostics catalog — the residual-analysis tests a
  * statsmodels/cuML user runs AFTER the ml_linreg_* family fits: normality
  * of residuals (Jarque–Bera), serial correlation (Durbin–Watson), and
  * heteroskedasticity (Breusch–Pagan). [R] dask-cuml itself stops at the
  * fit; these are the standard post-fit checks from the same public
  * literature (Jarque & Bera 1980; Durbin & Watson 1950; Breusch & Pagan
  * 1979) that complete the regression story next to ml_ab_ttest /
  * ml_bartlett / ml_ks_test.
  *
  * Scale shape: every query is one or two map-side-combined moment passes
  * over lineitem (or a daily aggregate of orders) — sufficient statistics
  * only, nothing quadratic, no driver-side math beyond broadcasting a
  * one-row coefficient frame back into the scoring pass (the
  * ml_linreg_multi_predict coef_-broadcast shape).
  *
  * Determinism: moment sums ride the exact decimal wire ([[T.xsum]]); the
  * closed-form coefficient and moment-expansion expressions are SHARED
  * TEXT between the Spark selectExpr chain and the DuckDB oracle, so both
  * engines execute the same IEEE double sequence on hash-equal inputs.
  */
object Diagnostics {

  /** Simple-OLS closed form (extendedprice on quantity) — the
    * ml_linreg_fit textbook expressions, re-derived here from this
    * catalog's own moments CTE so each oracle stays self-contained. */
  private val bTxt = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
  private val aTxt = s"(sy - ($bTxt) * sx) / n"

  /** Residuals are scaled ×1e-4 before powering: l_extendedprice reaches
    * ~1.05e5, so raw r⁴ would overflow the DECIMAL(30,12) exact wire's 18
    * integer digits at any SF, while skewness/kurtosis (and the aux-R² of
    * Breusch–Pagan) are scale-invariant. 1e-4 is the same (inexact) double
    * in both engines, so the multiply rounds identically. */
  private val residTxt = "(y - ((a) + (b) * q)) * 1e-4"

  /** Central-moment expansion from raw residual power sums — shared text;
    * the cancellation the expansion introduces is bounded because the
    * scaled residuals are O(10). */
  private val muTxt = "s1 / n"
  private val m2Txt = "s2 / n - mu * mu"
  private val m3Txt = "s3 / n - 3e0 * mu * (s2 / n) + 2e0 * mu * mu * mu"
  private val m4Txt =
    "s4 / n - 4e0 * mu * (s3 / n) + 6e0 * mu * mu * (s2 / n) - 3e0 * mu * mu * mu * mu"

  /** Daily-trend residual for the Durbin–Watson series: y and t are exact
    * BIGINTs (daily order counts, row index), so the residual doubles are
    * bit-identical cross-engine without any decimal wire. */
  private val dwResidTxt = "CAST(y AS DOUBLE) - ((a) + (b) * CAST(t AS DOUBLE))"

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "ml_jarque_bera",
      // Jarque–Bera residual-normality test: JB = n/6·(S² + E²/4) with S
      // the residual skewness and E the excess kurtosis. Pass 1 aggregates
      // the OLS sufficient statistics (5 exact sums); the solved (a, b)
      // one-row frame is broadcast into pass 2, which accumulates the four
      // residual power sums on the exact wire. S and E close over shared
      // text; JB is computed FROM THE 6-dp-ROUNDED S/E so the headline
      // statistic is a function of already-hash-equal values.
      (s, dir) => {
        val m = T.lineitem(s, dir).agg(
          count(lit(1)).cast("double").as("n"),
          T.xsum(col("l_quantity")).as("sx"),
          T.xsum(col("l_extendedprice")).as("sy"),
          T.xsum(col("l_quantity") * col("l_quantity")).as("sxx"),
          T.xsum(col("l_quantity") * col("l_extendedprice")).as("sxy"))
        val coef = m.selectExpr("n", s"$aTxt AS a", s"$bTxt AS b")
        T.lineitem(s, dir)
          .select(col("l_quantity").cast("double").as("q"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .crossJoin(broadcast(coef))
          .select(expr(residTxt).as("r"))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("r")).as("s1"),
            T.xsum(col("r") * col("r")).as("s2"),
            T.xsum(col("r") * col("r") * col("r")).as("s3"),
            T.xsum(col("r") * col("r") * col("r") * col("r")).as("s4"))
          .selectExpr("n", "s1", "s2", "s3", "s4", s"$muTxt AS mu")
          .selectExpr("n", "mu",
            s"$m2Txt AS m2", s"$m3Txt AS m3", s"$m4Txt AS m4")
          .selectExpr("n",
            "round(m3 / (sqrt(m2) * m2), 6) AS skewness",
            "round(m4 / (m2 * m2) - 3e0, 6) AS excess_kurtosis")
          .selectExpr("CAST(n AS BIGINT) AS n", "skewness", "excess_kurtosis",
            "round(n / 6e0 * (skewness * skewness + excess_kurtosis * excess_kurtosis / 4e0), 4) AS jb")
      },
      Some(s"""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   ${T.sqlXsum("l_quantity")} AS sx,
                   ${T.sqlXsum("l_extendedprice")} AS sy,
                   ${T.sqlXsum("l_quantity * l_quantity")} AS sxx,
                   ${T.sqlXsum("l_quantity * l_extendedprice")} AS sxy
                 FROM lineitem),
               c AS (SELECT n, $aTxt AS a, $bTxt AS b FROM m),
               l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_extendedprice AS DOUBLE) AS y
                 FROM lineitem),
               p AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   ${T.sqlXsum(residTxt.replace("(a)", "c.a").replace("(b)", "c.b"))} AS s1,
                   ${T.sqlXsum(s"($residTxt) * ($residTxt)".replace("(a)", "c.a").replace("(b)", "c.b"))} AS s2,
                   ${T.sqlXsum(s"($residTxt) * ($residTxt) * ($residTxt)".replace("(a)", "c.a").replace("(b)", "c.b"))} AS s3,
                   ${T.sqlXsum(s"($residTxt) * ($residTxt) * ($residTxt) * ($residTxt)".replace("(a)", "c.a").replace("(b)", "c.b"))} AS s4
                 FROM l CROSS JOIN c),
               mu AS (SELECT n, s1, s2, s3, s4, $muTxt AS mu FROM p),
               cm AS (SELECT n, mu, $m2Txt AS m2, $m3Txt AS m3, $m4Txt AS m4
                 FROM mu),
               sk AS (SELECT n,
                   round(m3 / (sqrt(m2) * m2), 6) AS skewness,
                   round(m4 / (m2 * m2) - 3e0, 6) AS excess_kurtosis
                 FROM cm)
               SELECT CAST(n AS BIGINT) AS n, skewness, excess_kurtosis,
                 round(n / 6e0 * (skewness * skewness + excess_kurtosis * excess_kurtosis / 4e0), 4) AS jb
               FROM sk""")),

    QueryDef(
      "ml_durbin_watson",
      // Durbin–Watson serial-correlation statistic on the detrended daily
      // order series: DW = Σ(r_t − r_{t−1})² / Σr_t² over the ~2.4k-day
      // aggregate. The corpus-scale work is ONE map-side-combined daily
      // count; the trend fit is exact-integer sufficient statistics
      // (t, y are BIGINTs) closed over shared double text, and the lag
      // window runs on the bounded day-range rows (the ml_acf discipline).
      // DW ≈ 2(1 − ρ₁); the companion rho1 column reads the test the way
      // a practitioner does.
      (s, dir) => {
        val daily = T.orders(s, dir)
          .groupBy(col("o_orderdate").as("day"))
          .agg(count(lit(1)).as("y"))
          .withColumn("t", row_number().over(Window.orderBy("day")))
        val m = daily.agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("t")).cast("double").as("sx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("t") * col("t")).cast("double").as("sxx"),
          sum(col("t") * col("y")).cast("double").as("sxy"))
        val coef = m.selectExpr("n", s"$aTxt AS a", s"$bTxt AS b")
        val r = daily.crossJoin(broadcast(coef))
          .selectExpr("t", s"$dwResidTxt AS r")
          .withColumn("rp", lag(col("r"), 1).over(Window.orderBy("t")))
        r.agg(count(lit(1)).as("n_days"),
            T.xsum(expr("CASE WHEN rp IS NULL THEN 0e0 ELSE (r - rp) * (r - rp) END")).as("num"),
            T.xsum(col("r") * col("r")).as("den"))
          .selectExpr("n_days", "round(num / den, 6) AS dw",
            "round(1e0 - (num / den) / 2e0, 6) AS rho1")
      },
      Some(s"""WITH daily AS (SELECT o_orderdate AS day, count(*) AS y
                 FROM orders GROUP BY 1),
               idx AS (SELECT y, row_number() OVER (ORDER BY day) AS t
                 FROM daily),
               m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(t) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                   CAST(sum(t * t) AS DOUBLE) AS sxx,
                   CAST(sum(t * y) AS DOUBLE) AS sxy
                 FROM idx),
               c AS (SELECT $aTxt AS a, $bTxt AS b FROM m),
               r AS (SELECT t, $dwResidTxt AS r
                 FROM idx CROSS JOIN c),
               lg AS (SELECT r, lag(r, 1) OVER (ORDER BY t) AS rp FROM r)
               SELECT count(*) AS n_days,
                 round(${T.sqlXsum("CASE WHEN rp IS NULL THEN 0e0 ELSE (r - rp) * (r - rp) END")}
                   / ${T.sqlXsum("r * r")}, 6) AS dw,
                 round(1e0 - (${T.sqlXsum("CASE WHEN rp IS NULL THEN 0e0 ELSE (r - rp) * (r - rp) END")}
                   / ${T.sqlXsum("r * r")}) / 2e0, 6) AS rho1
               FROM lg""")),

    QueryDef(
      "ml_breusch_pagan",
      // Breusch–Pagan heteroskedasticity LM test: regress the squared
      // (scaled) OLS residuals u = r² on the regressor and report
      // LM = n·R²_aux (χ²₁ under homoskedasticity). Same two-pass shape as
      // ml_jarque_bera — the second pass accumulates the aux-regression
      // sufficient statistics (Σu, Σu², Σxu) alongside nothing else; the
      // aux R² closes over shared text and LM is derived from the
      // 6-dp-rounded R² so the headline is a function of hash-equal parts.
      (s, dir) => {
        val m = T.lineitem(s, dir).agg(
          count(lit(1)).cast("double").as("n"),
          T.xsum(col("l_quantity")).as("sx"),
          T.xsum(col("l_extendedprice")).as("sy"),
          T.xsum(col("l_quantity") * col("l_quantity")).as("sxx"),
          T.xsum(col("l_quantity") * col("l_extendedprice")).as("sxy"))
        val coef = m.selectExpr("n", s"$aTxt AS a", s"$bTxt AS b")
        T.lineitem(s, dir)
          .select(col("l_quantity").cast("double").as("q"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .crossJoin(broadcast(coef))
          .selectExpr("q", s"($residTxt) * ($residTxt) AS u")
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("q")).as("sx"),
            T.xsum(col("q") * col("q")).as("sxx"),
            T.xsum(col("u")).as("su"),
            T.xsum(col("u") * col("u")).as("suu"),
            T.xsum(col("q") * col("u")).as("sxu"))
          .selectExpr("n",
            """round((n * sxu - sx * su) * (n * sxu - sx * su)
              / ((n * sxx - sx * sx) * (n * suu - su * su)), 6) AS r2_aux""")
          .selectExpr("CAST(n AS BIGINT) AS n", "r2_aux",
            "round(n * r2_aux, 4) AS bp_lm")
      },
      Some(s"""WITH m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   ${T.sqlXsum("l_quantity")} AS sx,
                   ${T.sqlXsum("l_extendedprice")} AS sy,
                   ${T.sqlXsum("l_quantity * l_quantity")} AS sxx,
                   ${T.sqlXsum("l_quantity * l_extendedprice")} AS sxy
                 FROM lineitem),
               c AS (SELECT n, $aTxt AS a, $bTxt AS b FROM m),
               l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_extendedprice AS DOUBLE) AS y
                 FROM lineitem),
               ux AS (SELECT q,
                   (${residTxt.replace("(a)", "c.a").replace("(b)", "c.b")})
                     * (${residTxt.replace("(a)", "c.a").replace("(b)", "c.b")}) AS u
                 FROM l CROSS JOIN c),
               p AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   ${T.sqlXsum("q")} AS sx, ${T.sqlXsum("q * q")} AS sxx,
                   ${T.sqlXsum("u")} AS su, ${T.sqlXsum("u * u")} AS suu,
                   ${T.sqlXsum("q * u")} AS sxu
                 FROM ux),
               r2 AS (SELECT n,
                   round((n * sxu - sx * su) * (n * sxu - sx * su)
                     / ((n * sxx - sx * sx) * (n * suu - su * su)), 6) AS r2_aux
                 FROM p)
               SELECT CAST(n AS BIGINT) AS n, r2_aux,
                 round(n * r2_aux, 4) AS bp_lm
               FROM r2""")),

    QueryDef(
      "ml_anova_f",
      // One-way ANOVA F (Fisher) across the returnflag groups on
      // extendedprice — the omnibus mean-equality test the ml_ab_ttest
      // pair generalizes to k groups, and the test ml_bartlett is the
      // variance precondition FOR: SSB = Σn_g(ȳ_g − ȳ)², SSW = Σ(Σy² −
      // (Σy)²/n)_g, F = (SSB/(k−1)) / (SSW/(N−k)). ONE map-side-combined
      // per-group moment pass; everything after is a k-row reduction on
      // the exact wire with shared closing text.
      (s, dir) => {
        T.lineitem(s, dir)
          .select(col("l_returnflag").as("g"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .groupBy("g")
          .agg(count(lit(1)).cast("double").as("ng"),
            T.xsum(col("y")).as("sy"), T.xsum(col("y") * col("y")).as("syy"))
          .agg(count(lit(1)).cast("double").as("k"),
            T.xsum(col("ng")).as("nn"),
            T.xsum(col("sy")).as("ty"),
            T.xsum(expr("sy * sy / ng")).as("sbp"),
            T.xsum(expr("syy - sy * sy / ng")).as("ssw"))
          .selectExpr("k", "nn", "ssw", "sbp - ty * ty / nn AS ssb")
          // mean squares, not raw SS: at ~5e13 the sums' 4-dp rounding sits
          // INSIDE double ulp (the ml_sgd_linreg mse lesson); dividing by n
          // restores ~6 safe digits of headroom at 2 dp
          .selectExpr("CAST(k AS INT) AS k", "CAST(nn AS BIGINT) AS n",
            "round(ssb / (k - 1e0), 2) AS ms_between",
            "round(ssw / (nn - k), 2) AS ms_within",
            "round((ssb / (k - 1e0)) / (ssw / (nn - k)), 6) AS f_stat")
      },
      Some(s"""WITH g AS (SELECT l_returnflag AS g,
                   CAST(count(*) AS DOUBLE) AS ng,
                   ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE)")} AS sy,
                   ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)")} AS syy
                 FROM lineitem GROUP BY 1),
               a AS (SELECT CAST(count(*) AS DOUBLE) AS k,
                   ${T.sqlXsum("ng")} AS nn, ${T.sqlXsum("sy")} AS ty,
                   ${T.sqlXsum("sy * sy / ng")} AS sbp,
                   ${T.sqlXsum("syy - sy * sy / ng")} AS ssw
                 FROM g),
               b AS (SELECT k, nn, ssw, sbp - ty * ty / nn AS ssb FROM a)
               SELECT CAST(k AS INT) AS k, CAST(nn AS BIGINT) AS n,
                 round(ssb / (k - 1e0), 2) AS ms_between,
                 round(ssw / (nn - k), 2) AS ms_within,
                 round((ssb / (k - 1e0)) / (ssw / (nn - k)), 6) AS f_stat
               FROM b""")),

    QueryDef(
      "ml_levene_test",
      // Levene's variance-homogeneity test (1960, mean-centered form) —
      // the robust companion to ml_bartlett (which collapses under
      // non-normality): z = |y − ȳ_g|, then the one-way ANOVA F on z.
      // Two passes: per-group means (a k-row broadcast joined back), then
      // per-group z moments; the W statistic closes over the k-row frame.
      // Determinism: means from exact sums, |·| and the ANOVA algebra are
      // shared text on the exact wire.
      (s, dir) => {
        val means = T.lineitem(s, dir)
          .select(col("l_returnflag").as("g"),
            col("l_extendedprice").cast("double").as("y"))
          .groupBy("g")
          .agg(count(lit(1)).cast("double").as("ng"), T.xsum(col("y")).as("sy"))
          .selectExpr("g", "sy / ng AS mu")
        T.lineitem(s, dir)
          .select(col("l_returnflag").as("g"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .join(broadcast(means), "g")
          .selectExpr("g", "abs(y - mu) AS z")
          .groupBy("g")
          .agg(count(lit(1)).cast("double").as("ng"),
            T.xsum(col("z")).as("sz"), T.xsum(col("z") * col("z")).as("szz"))
          .agg(count(lit(1)).cast("double").as("k"),
            T.xsum(col("ng")).as("nn"),
            T.xsum(col("sz")).as("tz"),
            T.xsum(expr("sz * sz / ng")).as("sbp"),
            T.xsum(expr("szz - sz * sz / ng")).as("ssw"))
          .selectExpr("k", "nn", "ssw", "sbp - tz * tz / nn AS ssb")
          .selectExpr("CAST(k AS INT) AS k", "CAST(nn AS BIGINT) AS n",
            "round(((nn - k) / (k - 1e0)) * (ssb / ssw), 6) AS levene_w")
      },
      Some(s"""WITH l AS (SELECT l_returnflag AS g,
                   CAST(l_extendedprice AS DOUBLE) AS y
                 FROM lineitem),
               m AS (SELECT g, CAST(count(*) AS DOUBLE) AS ng,
                   ${T.sqlXsum("y")} AS sy
                 FROM l GROUP BY g),
               mu AS (SELECT g, sy / ng AS mu FROM m),
               z AS (SELECT l.g, abs(y - mu) AS z FROM l JOIN mu ON l.g = mu.g),
               gm AS (SELECT g, CAST(count(*) AS DOUBLE) AS ng,
                   ${T.sqlXsum("z")} AS sz, ${T.sqlXsum("z * z")} AS szz
                 FROM z GROUP BY g),
               a AS (SELECT CAST(count(*) AS DOUBLE) AS k,
                   ${T.sqlXsum("ng")} AS nn, ${T.sqlXsum("sz")} AS tz,
                   ${T.sqlXsum("sz * sz / ng")} AS sbp,
                   ${T.sqlXsum("szz - sz * sz / ng")} AS ssw
                 FROM gm),
               b AS (SELECT k, nn, ssw, sbp - tz * tz / nn AS ssb FROM a)
               SELECT CAST(k AS INT) AS k, CAST(nn AS BIGINT) AS n,
                 round(((nn - k) / (k - 1e0)) * (ssb / ssw), 6) AS levene_w
               FROM b""")),

    QueryDef(
      "ml_chow_test",
      // Chow structural-break test (1960) on the price~quantity fit at
      // the corpus ship-date midpoint: F = ((SSR_pooled − SSR_1 − SSR_2)
      // / p) / ((SSR_1 + SSR_2) / (n − 2p)), p = 2 parameters. Everything
      // derives from ONE conditional moment pass (per-half n, Σx, Σy,
      // Σx², Σxy, Σy² — the split date is a broadcast scalar from a
      // bounded min/max pre-pass); each half's SSR uses the closed-form
      // residual identity SSR = Syy − b·Sxy (centered), pooled from the
      // summed halves. All algebra on the exact wire with shared text.
      (s, dir) => {
        val mid = T.lineitem(s, dir)
          .agg(min(col("l_shipdate").cast("date")).as("d0"),
            max(col("l_shipdate").cast("date")).as("d1"))
          // floor before the INT cast: Spark's cast truncates but DuckDB's
          // ROUNDS — floor makes the midpoint identical on odd day spans
          .selectExpr("date_add(d0, CAST(floor(datediff(d1, d0) / 2) AS INT)) AS dm")
        val m = T.lineitem(s, dir)
          .select(col("l_shipdate").cast("date").as("sd"),
            col("l_quantity").cast("double").as("x"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .crossJoin(broadcast(mid))
          .selectExpr("CASE WHEN sd <= dm THEN 0 ELSE 1 END AS h",
            "x", "y")
          .groupBy("h")
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("x")).as("sx"), T.xsum(col("y")).as("sy"),
            T.xsum(col("x") * col("x")).as("sxx"),
            T.xsum(col("x") * col("y")).as("sxy"),
            T.xsum(col("y") * col("y")).as("syy"))
        val w = Window.partitionBy()
        m.withColumn("tn", sum(col("n")).over(w))
          .withColumn("tsx", T.xsumD(col("sx")).over(w).cast("double"))
          .withColumn("tsy", T.xsumD(col("sy")).over(w).cast("double"))
          .withColumn("tsxx", T.xsumD(col("sxx")).over(w).cast("double"))
          .withColumn("tsxy", T.xsumD(col("sxy")).over(w).cast("double"))
          .withColumn("tsyy", T.xsumD(col("syy")).over(w).cast("double"))
          .selectExpr("h", "n", "tn",
            s"${ssrTxt("n", "sx", "sy", "sxx", "sxy", "syy")} AS ssr_h",
            s"${ssrTxt("tn", "tsx", "tsy", "tsxx", "tsxy", "tsyy")} AS ssr_p")
          .agg(sum(col("n").cast("long")).as("n"),
            T.xsumD(col("ssr_h")).cast("double").as("ssr_halves"),
            first(col("ssr_p")).as("ssr_pooled"))
          // per-row mean SSRs: the raw 5e13-magnitude sums round inside
          // double ulp at 2 dp (the ml_anova_f lesson this same catalog)
          .selectExpr("n", "round(ssr_pooled / n, 2) AS mse_pooled",
            "round(ssr_halves / n, 2) AS mse_halves",
            "round(((ssr_pooled - ssr_halves) / 2e0) / (ssr_halves / (n - 4e0)), 6) AS chow_f")
      },
      Some(s"""WITH mid AS (SELECT min(CAST(l_shipdate AS DATE)) AS d0,
                   max(CAST(l_shipdate AS DATE)) AS d1
                 FROM lineitem),
               dm AS (SELECT d0 + CAST(floor(CAST(d1 - d0 AS BIGINT) / 2) AS INT) AS dm
                 FROM mid),
               l AS (SELECT CASE WHEN CAST(l_shipdate AS DATE) <= dm THEN 0 ELSE 1 END AS h,
                   CAST(l_quantity AS DOUBLE) AS x,
                   CAST(l_extendedprice AS DOUBLE) AS y
                 FROM lineitem CROSS JOIN dm),
               g AS (SELECT h, CAST(count(*) AS DOUBLE) AS n,
                   ${T.sqlXsum("x")} AS sx, ${T.sqlXsum("y")} AS sy,
                   ${T.sqlXsum("x * x")} AS sxx, ${T.sqlXsum("x * y")} AS sxy,
                   ${T.sqlXsum("y * y")} AS syy
                 FROM l GROUP BY h),
               t AS (SELECT h, n,
                   CAST(sum(CAST(n AS DECIMAL(30,12))) OVER () AS DOUBLE) AS tn,
                   CAST(sum(CAST(sx AS DECIMAL(30,12))) OVER () AS DOUBLE) AS tsx,
                   CAST(sum(CAST(sy AS DECIMAL(30,12))) OVER () AS DOUBLE) AS tsy,
                   CAST(sum(CAST(sxx AS DECIMAL(30,12))) OVER () AS DOUBLE) AS tsxx,
                   CAST(sum(CAST(sxy AS DECIMAL(30,12))) OVER () AS DOUBLE) AS tsxy,
                   CAST(sum(CAST(syy AS DECIMAL(30,12))) OVER () AS DOUBLE) AS tsyy,
                   sx, sy, sxx, sxy, syy
                 FROM g),
               r AS (SELECT h, n, tn,
                   ${ssrTxt("n", "sx", "sy", "sxx", "sxy", "syy")} AS ssr_h,
                   ${ssrTxt("tn", "tsx", "tsy", "tsxx", "tsxy", "tsyy")} AS ssr_p
                 FROM t),
               f AS (SELECT CAST(sum(CAST(n AS BIGINT)) AS BIGINT) AS n,
                   CAST(sum(CAST(ssr_h AS DECIMAL(30,12))) AS DOUBLE) AS ssr_halves,
                   any_value(ssr_p) AS ssr_pooled
                 FROM r)
               SELECT n, round(ssr_pooled / n, 2) AS mse_pooled,
                 round(ssr_halves / n, 2) AS mse_halves,
                 round(((ssr_pooled - ssr_halves) / 2e0) / (ssr_halves / (n - 4e0)), 6) AS chow_f
               FROM f"""))
  ) ++ extraEntries ++ testEntries2

  /** Centered-SSR closed form SSR = Syy_c − (Sxy_c)²/Sxx_c on raw moment
    * column names — shared verbatim by the Spark selectExpr and the
    * oracle CTE (the ml_kfold_cv residual-identity discipline). */
  private def ssrTxt(n: String, sx: String, sy: String, sxx: String,
      sxy: String, syy: String): String =
    s"(($syy - $sy * $sy / $n) - ($sxy - $sx * $sy / $n) * ($sxy - $sx * $sy / $n) / ($sxx - $sx * $sx / $n))"

  /** Pearson r from raw moment columns — the ml_corr_matrix closing text,
    * parameterized on suffixes for the VIF triple. */
  private def corrTxt(n: String, sx: String, sy: String, sxx: String,
      syy: String, sxy: String): String =
    s"(($n * $sxy - $sx * $sy) / sqrt(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy)))"

  private lazy val extraEntries: Seq[QueryDef] = Seq(

    QueryDef(
      "ml_cohens_d",
      // Cohen's d effect size for the O-vs-F linestatus split on
      // extendedprice — the companion number ml_ab_ttest's p-value needs
      // to MEAN anything (significance without magnitude is the classic
      // A/B-test misread), plus Hedges' small-sample correction g. ONE
      // conditional moment pass (per-group n/Σy/Σy² on the exact wire);
      // the pooled-SD algebra is a 2-row reduction with shared text.
      (s, dir) => {
        T.lineitem(s, dir)
          .select(col("l_linestatus").as("g"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .groupBy("g")
          .agg(count(lit(1)).cast("double").as("ng"),
            T.xsum(col("y")).as("sy"), T.xsum(col("y") * col("y")).as("syy"))
          .selectExpr("g", "ng", "sy / ng AS m",
            "(syy - sy * sy / ng) / (ng - 1e0) AS s2")
          .agg(
            max(when(col("g") === "O", col("ng"))).as("n1"),
            max(when(col("g") === "F", col("ng"))).as("n2"),
            max(when(col("g") === "O", col("m"))).as("m1"),
            max(when(col("g") === "F", col("m"))).as("m2"),
            max(when(col("g") === "O", col("s2"))).as("v1"),
            max(when(col("g") === "F", col("s2"))).as("v2"))
          .selectExpr("n1", "n2", "m1 - m2 AS md",
            "sqrt(((n1 - 1e0) * v1 + (n2 - 1e0) * v2) / (n1 + n2 - 2e0)) AS sp")
          .selectExpr("CAST(n1 AS BIGINT) AS n1", "CAST(n2 AS BIGINT) AS n2",
            "round(md, 4) AS mean_diff", "round(sp, 4) AS pooled_sd",
            "round(md / sp, 6) AS cohens_d",
            "round((md / sp) * (1e0 - 3e0 / (4e0 * (n1 + n2) - 9e0)), 6) AS hedges_g")
      },
      Some(s"""WITH g AS (SELECT l_linestatus AS g,
                   CAST(count(*) AS DOUBLE) AS ng,
                   ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE)")} AS sy,
                   ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)")} AS syy
                 FROM lineitem GROUP BY 1),
               m AS (SELECT g, ng, sy / ng AS m,
                   (syy - sy * sy / ng) / (ng - 1e0) AS s2
                 FROM g),
               p AS (SELECT
                   max(CASE WHEN g = 'O' THEN ng END) AS n1,
                   max(CASE WHEN g = 'F' THEN ng END) AS n2,
                   max(CASE WHEN g = 'O' THEN m END) AS m1,
                   max(CASE WHEN g = 'F' THEN m END) AS m2,
                   max(CASE WHEN g = 'O' THEN s2 END) AS v1,
                   max(CASE WHEN g = 'F' THEN s2 END) AS v2
                 FROM m),
               d AS (SELECT n1, n2, m1 - m2 AS md,
                   sqrt(((n1 - 1e0) * v1 + (n2 - 1e0) * v2) / (n1 + n2 - 2e0)) AS sp
                 FROM p)
               SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                 round(md, 4) AS mean_diff, round(sp, 4) AS pooled_sd,
                 round(md / sp, 6) AS cohens_d,
                 round((md / sp) * (1e0 - 3e0 / (4e0 * (n1 + n2) - 9e0)), 6) AS hedges_g
               FROM d""")),

    QueryDef(
      "ml_vif",
      // Variance inflation factors for (quantity, discount, tax) — the
      // multicollinearity gate before trusting ml_linreg_multi's
      // coefficients: VIF_j = 1/(1 − R²_j) with R²_j from regressing
      // feature j on the other two, closed over pairwise correlations
      // (R²_{y·12} = (r_y1² + r_y2² − 2r_y1r_y2r_12)/(1 − r_12²)) — so
      // the WHOLE diagnostic is one ml_corr_matrix-style moment pass and
      // a 3-arm scalar stack, no per-feature refits. Near-1 VIFs on this
      // independent fixture are the point (the text_pii_redact
      // prove-the-zeros discipline).
      (s, dir) => {
        val rQD = corrTxt("n", "sq", "sd", "sqq", "sdd", "sqd")
        val rQT = corrTxt("n", "sq", "st", "sqq", "stt", "sqt")
        val rDT = corrTxt("n", "sd", "st", "sdd", "stt", "sdt")
        T.lineitem(s, dir)
          .select(col("l_quantity").cast("double").as("q"),
            col("l_discount").cast("double").as("d"),
            col("l_tax").cast("double").as("t"))
          .transform(T.fanOut(_))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("q")).as("sq"), T.xsum(col("d")).as("sd"),
            T.xsum(col("t")).as("st"),
            T.xsum(col("q") * col("q")).as("sqq"),
            T.xsum(col("d") * col("d")).as("sdd"),
            T.xsum(col("t") * col("t")).as("stt"),
            T.xsum(col("q") * col("d")).as("sqd"),
            T.xsum(col("q") * col("t")).as("sqt"),
            T.xsum(col("d") * col("t")).as("sdt"))
          .selectExpr(s"$rQD AS rqd", s"$rQT AS rqt", s"$rDT AS rdt")
          .selectExpr(
            "stack(3, " +
              s"'quantity', ${vifR2("rqd", "rqt", "rdt")}, " +
              s"'discount', ${vifR2("rqd", "rdt", "rqt")}, " +
              s"'tax', ${vifR2("rqt", "rdt", "rqd")}" +
              ") AS (feature, r2_aux)")
          .selectExpr("feature", "round(r2_aux, 6) AS r2_aux",
            "round(1e0 / (1e0 - r2_aux), 6) AS vif")
          .orderBy("feature")
      },
      Some {
        val rQD = corrTxt("n", "sq", "sd", "sqq", "sdd", "sqd")
        val rQT = corrTxt("n", "sq", "st", "sqq", "stt", "sqt")
        val rDT = corrTxt("n", "sd", "st", "sdd", "stt", "sdt")
        s"""WITH l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                 CAST(l_discount AS DOUBLE) AS d,
                 CAST(l_tax AS DOUBLE) AS t
               FROM lineitem),
             m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 ${T.sqlXsum("q")} AS sq, ${T.sqlXsum("d")} AS sd,
                 ${T.sqlXsum("t")} AS st,
                 ${T.sqlXsum("q * q")} AS sqq, ${T.sqlXsum("d * d")} AS sdd,
                 ${T.sqlXsum("t * t")} AS stt,
                 ${T.sqlXsum("q * d")} AS sqd, ${T.sqlXsum("q * t")} AS sqt,
                 ${T.sqlXsum("d * t")} AS sdt
               FROM l),
             r AS (SELECT $rQD AS rqd, $rQT AS rqt, $rDT AS rdt FROM m),
             u AS (SELECT 'quantity' AS feature, ${vifR2("rqd", "rqt", "rdt")} AS r2_aux FROM r
               UNION ALL SELECT 'discount', ${vifR2("rqd", "rdt", "rqt")} FROM r
               UNION ALL SELECT 'tax', ${vifR2("rqt", "rdt", "rqd")} FROM r)
             SELECT feature, round(r2_aux, 6) AS r2_aux,
               round(1e0 / (1e0 - r2_aux), 6) AS vif
             FROM u ORDER BY feature"""
      })
  )

  /** R² of one feature on the other two from pairwise correlations:
    * R² = (a² + b² − 2abc)/(1 − c²) where a, b are the target's
    * correlations with the two regressors and c theirs with each other. */
  private def vifR2(a: String, b: String, c: String): String =
    s"(($a * $a + $b * $b - 2e0 * $a * $b * $c) / (1e0 - $c * $c))"

  private lazy val testEntries2: Seq[QueryDef] = Seq(

    QueryDef(
      "ml_power_analysis",
      // Two-sample power analysis — the experiment-design half of
      // ml_cohens_d: n per arm ≈ 2·(z_{1−α/2} + z_{1−β})²/d² for α=0.05,
      // power=0.8 (z constants are literals of the standard normal — the
      // engines never evaluate an inverse CDF). Reuses the cohens_d
      // conditional moment pass verbatim; the headline n is computed from
      // the 6-dp-ROUNDED d so the ceil can never straddle an engine ulp.
      // The answer a growth team actually asks of a historical metric:
      // "how many rows would detecting this gap need?"
      (s, dir) => {
        T.lineitem(s, dir)
          .select(col("l_linestatus").as("g"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .groupBy("g")
          .agg(count(lit(1)).cast("double").as("ng"),
            T.xsum(col("y")).as("sy"), T.xsum(col("y") * col("y")).as("syy"))
          .selectExpr("g", "ng", "sy / ng AS m",
            "(syy - sy * sy / ng) / (ng - 1e0) AS s2")
          .agg(
            max(when(col("g") === "O", col("ng"))).as("n1"),
            max(when(col("g") === "F", col("ng"))).as("n2"),
            max(when(col("g") === "O", col("m"))).as("m1"),
            max(when(col("g") === "F", col("m"))).as("m2"),
            max(when(col("g") === "O", col("s2"))).as("v1"),
            max(when(col("g") === "F", col("s2"))).as("v2"))
          .selectExpr(
            s"round((m1 - m2) / sqrt(((n1 - 1e0) * v1 + (n2 - 1e0) * v2) / (n1 + n2 - 2e0)), 6) AS cohens_d")
          .selectExpr("cohens_d",
            "CAST(0.05 AS DOUBLE) AS alpha", "CAST(0.8 AS DOUBLE) AS power",
            s"CAST(ceil(2e0 * ($PWR_Z * $PWR_Z) / (cohens_d * cohens_d)) AS BIGINT) AS n_per_arm")
      },
      Some(s"""WITH g AS (SELECT l_linestatus AS g,
                   CAST(count(*) AS DOUBLE) AS ng,
                   ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE)")} AS sy,
                   ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)")} AS syy
                 FROM lineitem GROUP BY 1),
               m AS (SELECT g, ng, sy / ng AS m,
                   (syy - sy * sy / ng) / (ng - 1e0) AS s2
                 FROM g),
               p AS (SELECT
                   max(CASE WHEN g = 'O' THEN ng END) AS n1,
                   max(CASE WHEN g = 'F' THEN ng END) AS n2,
                   max(CASE WHEN g = 'O' THEN m END) AS m1,
                   max(CASE WHEN g = 'F' THEN m END) AS m2,
                   max(CASE WHEN g = 'O' THEN s2 END) AS v1,
                   max(CASE WHEN g = 'F' THEN s2 END) AS v2
                 FROM p0),
               d AS (SELECT round((m1 - m2) / sqrt(((n1 - 1e0) * v1
                   + (n2 - 1e0) * v2) / (n1 + n2 - 2e0)), 6) AS cohens_d
                 FROM p)
               SELECT cohens_d, CAST(0.05 AS DOUBLE) AS alpha,
                 CAST(0.8 AS DOUBLE) AS power,
                 CAST(ceil(2e0 * ($PWR_Z * $PWR_Z) / (cohens_d * cohens_d)) AS BIGINT) AS n_per_arm
               FROM d""".replace("FROM p0", "FROM m"))),

    QueryDef(
      "ml_tukey_hsd",
      // Tukey's honestly-significant-difference post-hoc — what a
      // significant ml_anova_f licenses next: the studentized-range
      // statistic q = |ȳᵢ − ȳⱼ| / √(MSW/2 · (1/nᵢ + 1/nⱼ)) for every
      // returnflag pair, with MSW from the SAME single moment pass the
      // ANOVA uses. The pair space is the k-row fitted frame joined to
      // itself (k = 3 — model-side work, not data-side); everything rides
      // the exact wire with shared texts.
      (s, dir) => {
        val g = T.lineitem(s, dir)
          .select(col("l_returnflag").as("g"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .groupBy("g")
          .agg(count(lit(1)).cast("double").as("ng"),
            T.xsum(col("y")).as("sy"), T.xsum(col("y") * col("y")).as("syy"))
          .selectExpr("g", "ng", "sy / ng AS m", "syy - sy * sy / ng AS ssw_g")
        val msw = g.agg(count(lit(1)).cast("double").as("k"),
            T.xsumD(col("ng")).cast("double").as("nn"),
            T.xsumD(col("ssw_g")).cast("double").as("ssw"))
          .selectExpr("ssw / (nn - k) AS msw")
        g.select(col("g").as("g1"), col("ng").as("n1"), col("m").as("m1"))
          .join(g.select(col("g").as("g2"), col("ng").as("n2"), col("m").as("m2")),
            col("g1") < col("g2"))
          .crossJoin(broadcast(msw))
          .selectExpr("g1", "g2", "m1 - m2 AS md",
            "sqrt(msw / 2e0 * (1e0 / n1 + 1e0 / n2)) AS se")
          .selectExpr("g1", "g2", "round(md, 4) AS mean_diff",
            "round(se, 4) AS se", "round(abs(md) / se, 6) AS q_stat")
          .orderBy("g1", "g2")
      },
      Some(s"""WITH gr AS (SELECT l_returnflag AS g,
                   CAST(count(*) AS DOUBLE) AS ng,
                   ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE)")} AS sy,
                   ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)")} AS syy
                 FROM lineitem GROUP BY 1),
               f AS (SELECT g, ng, sy / ng AS m, syy - sy * sy / ng AS ssw_g
                 FROM gr),
               w AS (SELECT CAST(sum(CAST(ssw_g AS DECIMAL(30,12))) AS DOUBLE)
                     / (CAST(sum(CAST(ng AS DECIMAL(30,12))) AS DOUBLE) - count(*)) AS msw
                 FROM f),
               pr AS (SELECT a.g AS g1, b.g AS g2, a.ng AS n1, b.ng AS n2,
                   a.m - b.m AS md
                 FROM f a JOIN f b ON a.g < b.g),
               se AS (SELECT g1, g2, md,
                   sqrt(msw / 2e0 * (1e0 / n1 + 1e0 / n2)) AS se
                 FROM pr CROSS JOIN w)
               SELECT g1, g2, round(md, 4) AS mean_diff,
                 round(se, 4) AS se, round(abs(md) / se, 6) AS q_stat
               FROM se ORDER BY g1, g2"""))
  )

  /** z_{0.975} + z_{0.8} of the standard normal, as one literal constant
    * text (1.959963984540054 + 0.8416212335729143). */
  private lazy val PWR_Z = "(1.959963984540054e0 + 0.8416212335729143e0)"
}
