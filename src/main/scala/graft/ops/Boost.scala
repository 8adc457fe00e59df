package graft.ops

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ensemble-contract closures on top of the r8 depth-2 tree machinery
  * (VERDICT r7 framed the depth-1→depth-2 recursion; these finish the
  * estimator API surface around it, the way ml_kmeans_converge finished
  * KMeans):
  *
  * - ml_gbm_fit: gradient boosting run TO COMPLETION — a driver loop of
  *   boosting rounds over ml_gbm_round's one-pass stump primitive, with a
  *   learning rate and the per-round train-MSE trail (the staged-predict
  *   contract every GBM library exposes).
  * - ml_rf_proba: RandomForest predict_proba [R cuml.dask.ensemble
  *   RandomForestClassifier.predict_proba] — merged LEAF PROBABILITIES
  *   instead of hard votes, emitted as a 1%-bin calibration table.
  * - ml_rf_importance: feature_importances_ — mean decrease in impurity
  *   over every split of the 8-tree forest, the introspection sklearn/cuML
  *   attach to a fitted forest.
  * - ml_shap_kernel: cuml.explainer KernelExplainer [R] in its EXACT mode —
  *   interventional Shapley values of the fitted depth-2 tree for 3 probe
  *   points by full coalition enumeration (2³ value functions, each an
  *   expectation over the data), all 22 coalition means from ONE
  *   map-side-combined pass.
  *
  * Scale design: every fit pass is one |grid|-bounded conditional
  * aggregation (map-side combine collapses the shuffle to |grid| rows per
  * partition); fitted models are driver-held literals (the cuML
  * client-held-model pattern) so scoring is a pure map pass; the SHAP
  * value functions are 22 aggregate columns of one scan, never 22 scans.
  * Cross-engine determinism: counts exact BIGINT, sums on the
  * DECIMAL(30,12) wire, ranking keys shared-text IEEE doubles, integer
  * micro-probabilities for the forest merge (order-free integer sums).
  */
object Boost {

  private def D(x: Double): String = java.lang.Double.toString(x)

  // ---- ml_gbm_fit internals ----------------------------------------------

  /** Boosting candidate grid over BOTH features (ml_gbm_round searched one
    * feature per stage; the full fit searches the union every round, the
    * greedy GBM step). */
  private val bcands: Seq[(String, String, Double)] = Seq(
    ("quantity", "x1", 10.0), ("quantity", "x1", 25.0), ("quantity", "x1", 40.0),
    ("discount", "x2", 0.02), ("discount", "x2", 0.05), ("discount", "x2", 0.08))

  private def btag(f: String, c: Double): String =
    s"${f.head}_${Supervised.cs(c)}"

  /** Post-update MSE with learning rate η = 0.5: Σ(res − η·stump)² =
    * syy − (2η − η²)(sl²/nl + sr²/nr); 2η − η² = 0.75. Shared text. */
  private val mseAfterText =
    "(syy - 75e-2 * (sl * sl / nl + (sy - sl) * (sy - sl) / (nd - nl))) / nd"
  private val sseText =
    "(ssl - sl * sl / nl) + ((syy - ssl) - (sy - sl) * (sy - sl) / (nd - nl))"

  /** One boosting round's moment aggregates over the residual expression
    * `res` (column text): global (nd, sy, syy) + per-candidate left-side
    * (nl, sl, ssl) — ONE pass, 21 aggregate columns. */
  private def roundAggs(res: String) = {
    val r = expr(res)
    val rr = expr(s"($res) * ($res)")
    Seq(count(lit(1)).cast("double").as("nd"),
      T.xsum(r).as("sy"), T.xsum(rr).as("syy")) ++
      bcands.flatMap { case (f, xc, c) =>
        val t = btag(f, c)
        Seq(
          sum(when(col(xc) <= c, 1L).otherwise(0L)).cast("double").as(s"nl_$t"),
          T.xsum(when(col(xc) <= c, expr(res))).as(s"sl_$t"),
          T.xsum(when(col(xc) <= c, expr(s"($res) * ($res)"))).as(s"ssl_$t"))
      }
  }

  private def sqlRoundMoments(src: String): String =
    s"""SELECT CAST(count(*) AS DOUBLE) AS nd,
          ${T.sqlXsum("res")} AS sy, ${T.sqlXsum("res * res")} AS syy,
          ${bcands.map { case (f, xc, c) =>
            val t = btag(f, c)
            s"""CAST(sum(CASE WHEN $xc <= ${D(c)} THEN 1 ELSE 0 END) AS DOUBLE) AS nl_$t,
          ${T.sqlXsum(s"CASE WHEN $xc <= ${D(c)} THEN res END")} AS sl_$t,
          ${T.sqlXsum(s"CASE WHEN $xc <= ${D(c)} THEN res * res END")} AS ssl_$t"""
          }.mkString(",\n          ")}
        FROM $src"""

  private def sqlRoundArms(src: String): String =
    bcands.map { case (f, _, c) =>
      val t = btag(f, c)
      s"""SELECT nd, sy, syy, '$f' AS feature, CAST(${D(c)} AS DOUBLE) AS c,
            nl_$t AS nl, sl_$t AS sl, ssl_$t AS ssl FROM $src"""
    }.mkString("\n          UNION ALL ")

  private def sqlRoundPick(u: String): String =
    s"""SELECT feature, c, sl / nl AS lmean, (sy - sl) / (nd - nl) AS rmean,
          $mseAfterText AS msea,
          row_number() OVER (ORDER BY $sseText, feature, c) AS rn
        FROM $u WHERE nl > 0 AND nd - nl > 0"""

  // ---- ml_shap_kernel internals ------------------------------------------

  /** The fitted depth-2 tree evaluated as a LEAF-PROBABILITY function of
    * substitutable inputs (qv, dv, tv are expression texts — eval-point
    * literals for coalition members, row columns otherwise). Column refs
    * f1/t1/f2l/… come from the 1-row broadcast tree frame; text shared
    * verbatim with the oracle. */
  private def treeVal(qv: String, dv: String, tv: String): String =
    s"""CASE WHEN (CASE f1 WHEN 'quantity' THEN ($qv) WHEN 'discount' THEN ($dv) ELSE ($tv) END) <= t1
        THEN (CASE WHEN (CASE f2l WHEN 'quantity' THEN ($qv) WHEN 'discount' THEN ($dv) ELSE ($tv) END) <= t2l THEN pll ELSE plr END)
        ELSE (CASE WHEN (CASE f2r WHEN 'quantity' THEN ($qv) WHEN 'discount' THEN ($dv) ELSE ($tv) END) <= t2r THEN prl ELSE prr END) END"""

  /** 3 probe points as exact e-notation double literals (both engines
    * parse them to identical doubles), chosen to land in three DISTINCT
    * leaves of the fixture's fitted tree (root: discount, children:
    * tax / quantity) so the attributions differentiate. */
  private val shapPoints: Seq[(Int, String, String, String)] = Seq(
    (1, "1e1", "4e-2", "2e-2"),
    (2, "2e1", "6e-2", "7e-2"),
    (3, "4.5e1", "1e-1", "3e-2"))

  /** Coalition mask bits: q = 1, d = 2, t = 4. */
  private def shapArgs(p: (Int, String, String, String), m: Int): (String, String, String) =
    (if ((m & 1) != 0) p._2 else "q",
     if ((m & 2) != 0) p._3 else "d",
     if ((m & 4) != 0) p._4 else "t")

  /** φ_q/φ_d/φ_t for point p from the coalition means v0, v{p}_1..v{p}_7 —
    * the exact 3-feature Shapley weights (1/3, 1/6, 1/6, 1/3). */
  private def phiExprs(p: Int): Seq[String] = Seq(
    s"(v${p}_1 - v0) / 3e0 + (v${p}_3 - v${p}_2) / 6e0 + (v${p}_5 - v${p}_4) / 6e0 + (v${p}_7 - v${p}_6) / 3e0 AS phq$p",
    s"(v${p}_2 - v0) / 3e0 + (v${p}_3 - v${p}_1) / 6e0 + (v${p}_6 - v${p}_4) / 6e0 + (v${p}_7 - v${p}_5) / 3e0 AS phd$p",
    s"(v${p}_4 - v0) / 3e0 + (v${p}_5 - v${p}_1) / 6e0 + (v${p}_6 - v${p}_2) / 6e0 + (v${p}_7 - v${p}_3) / 3e0 AS pht$p")

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "ml_gbm_fit",
      // Gradient boosting fit TO COMPLETION (the estimator contract over
      // ml_gbm_round's single-round primitive, the way ml_kmeans_converge
      // completes ml_kmeans_iterate): F₀ = mean(y); three boosting rounds,
      // each fitting the best depth-1 stump over the UNION of both
      // features' candidate grids on the current residuals, then
      // F += η·stump with learning rate η = 0.5. Each round is ONE
      // map-side-combined conditional-moment pass (21 aggregate columns);
      // the winning stump is collected and RE-LITERALIZED into the next
      // round's residual expression (driver-held model state, flat plans —
      // the kmeans_converge discipline), so round r never re-executes
      // rounds 1..r−1. Output: the boosting trail — intercept row + one
      // row per round with the η-scaled leaf increments and the train MSE
      // after the update, which boosting guarantees non-increasing
      // (BoostSpec pin). Determinism: moments on the exact-decimal wire;
      // the argmin ranks shared-text doubles with (sse, feature, c)
      // tie-break; collected doubles re-enter as exact Double.toString
      // literals, so both engines evaluate the identical IEEE chain.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val l = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x1"),
          col("l_discount").cast("double").as("x2"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
        val (mu, mse0, rounds) =
          T.memo[(java.lang.Double, java.lang.Double, Array[(String, Double, Double, Double, Double)])]("gbmFit", s, dir) {
            val base = l.agg(
              count(lit(1)).cast("double").as("nd"),
              T.xsum(col("y")).as("sy"), T.xsum(col("y") * col("y")).as("syy"))
              .selectExpr("sy / nd AS mu", "(syy - sy * sy / nd) / nd AS mse0")
              .collect()(0)
            val mu0 = base.getDouble(0)
            var res = s"(y - ${D(mu0)})"
            val picked = (1 to 3).map { _ =>
              val aggs = roundAggs(res)
              val stackArgs = bcands.map { case (f, _, c) =>
                val t = btag(f, c)
                s"'$f', CAST(${D(c)} AS DOUBLE), nl_$t, sl_$t, ssl_$t"
              }.mkString(", ")
              val w = Window.orderBy(col("sse"), col("feature"), col("c"))
              val win = l.agg(aggs.head, aggs.tail: _*)
                .selectExpr("nd", "sy", "syy",
                  s"stack(${bcands.size}, $stackArgs) AS (feature, c, nl, sl, ssl)")
                .where("nl > 0 AND nd - nl > 0")
                .selectExpr("feature", "c",
                  "sl / nl AS lmean", "(sy - sl) / (nd - nl) AS rmean",
                  s"$sseText AS sse", s"$mseAfterText AS msea")
                .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
                .select("feature", "c", "lmean", "rmean", "msea")
                .collect()(0)
              val (f, c, lm, rm, ms) = (win.getString(0), win.getDouble(1),
                win.getDouble(2), win.getDouble(3), win.getDouble(4))
              val xc = if (f == "quantity") "x1" else "x2"
              res = s"(($res) - (CASE WHEN $xc <= ${D(c)} THEN 5e-1 * ${D(lm)} ELSE 5e-1 * ${D(rm)} END))"
              (f, c, lm, rm, ms)
            }
            (Double.box(mu0), Double.box(base.getDouble(1)), picked.toArray)
          }
        val trail =
          Seq((0, "intercept", 0.0, mu.doubleValue, mu.doubleValue, mse0.doubleValue)) ++
            rounds.zipWithIndex.map { case ((f, c, lm, rm, ms), i) =>
              (i + 1, f, c, lm, rm, ms)
            }
        trail.toDF("round", "feature", "sp", "lm", "rm", "ms")
          .selectExpr("round", "feature",
            "CASE WHEN round = 0 THEN CAST(NULL AS DOUBLE) ELSE sp END AS split",
            "round(CASE WHEN round = 0 THEN lm ELSE 5e-1 * lm END, 6) AS left_inc",
            "round(CASE WHEN round = 0 THEN rm ELSE 5e-1 * rm END, 6) AS right_inc",
            "round(ms, 4) AS mse_after")
          .orderBy("round")
      },
      Some {
        def roundCte(r: Int) =
          s"""m$r AS (${sqlRoundMoments(s"r$r")}),
             u$r AS (${sqlRoundArms(s"m$r")}),
             p$r AS (${sqlRoundPick(s"u$r")}),
             w$r AS (SELECT feature, c, lmean, rmean, msea FROM p$r WHERE rn = 1)"""
        val resCtes = (2 to 3).map { r =>
          s"""r$r AS (SELECT x1, x2,
               res - (CASE WHEN (CASE feature WHEN 'quantity' THEN x1 ELSE x2 END) <= c
                 THEN 5e-1 * lmean ELSE 5e-1 * rmean END) AS res
             FROM r${r - 1} CROSS JOIN w${r - 1})"""
        }
        val arms = (1 to 3).map { r =>
          s"""SELECT $r AS round, feature, c AS split,
                round(5e-1 * lmean, 6) AS left_inc,
                round(5e-1 * rmean, 6) AS right_inc,
                round(msea, 4) AS mse_after FROM w$r"""
        }.mkString("\n             UNION ALL ")
        s"""WITH l AS (SELECT CAST(l_quantity AS DOUBLE) AS x1,
               CAST(l_discount AS DOUBLE) AS x2,
               CAST(l_extendedprice AS DOUBLE) AS y
             FROM lineitem),
             m0 AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                 ${T.sqlXsum("y")} AS sy, ${T.sqlXsum("y * y")} AS syy
               FROM l),
             st0 AS (SELECT sy / nd AS mu, (syy - sy * sy / nd) / nd AS mse0 FROM m0),
             r1 AS (SELECT x1, x2, y - mu AS res FROM l CROSS JOIN st0),
             ${roundCte(1)},
             ${resCtes(0)},
             ${roundCte(2)},
             ${resCtes(1)},
             ${roundCte(3)}
           SELECT round, feature, split, left_inc, right_inc, mse_after FROM (
             SELECT 0 AS round, 'intercept' AS feature, CAST(NULL AS DOUBLE) AS split,
               round(mu, 6) AS left_inc, round(mu, 6) AS right_inc,
               round(mse0, 4) AS mse_after FROM st0
             UNION ALL $arms) z
           ORDER BY round"""
      }),

    QueryDef(
      "ml_rf_proba",
      // RandomForestClassifier.predict_proba [R cuml.dask.ensemble]: the
      // merged-forest probability is the MEAN of the 8 trees' Laplace-
      // smoothed leaf rates (pos+1)/(n+2) instead of ml_rf_predict's hard
      // votes. The whole forest fit is the same TWO aggregation passes
      // (shared shard/tree machinery); the fitted leaf probabilities are
      // driver-held INTEGER MICRO-probabilities ⌊(pos+1)·10⁶/(n+2)⌋ — the
      // engine-portable fixed-point form: the 8-tree merge is then an
      // integer sum (order-free, exact in both engines; doubles would be
      // summation-order-dependent), and the percent bucket is pure integer
      // division. The fit comes from the shared memoized Supervised.rfStats
      // (r14: this query re-ran its own 2-pass amplified grid search) —
      // the micro-probs are Long divisions of the exact counts, truncating
      // toward zero on positive operands exactly like both engines' div —
      // and scoring derives from the shared rfScoreHist leaf-code
      // histogram (order-free integer sums ⇒ bit-identical to the raw-row
      // scan the oracle runs). Output: the probability calibration table
      // at 1% bins (bucket, n, mean predicted, actual rate) — monotone
      // calibration is the BoostSpec pin. SCALE NOTE: (pos+1)·10⁶ needs
      // pos < 9.2e12 for BIGINT — at larger scale the micro-prob is
      // computed per shard BEFORE the merge (as here), never on global
      // counts.
      (s, dir) => {
        val st = Supervised.rfStats(s, dir)
        val byShard = st.filter(_.node.nonEmpty).groupBy(_.shard)
        def p6Of(p: Supervised.Split): (Long, Long) =
          (((p.posl + 1) * 1000000L) / (p.nl + 2),
            (((p.pos - p.posl) + 1) * 1000000L) / ((p.n - p.nl) + 2))
        val p6 = st.filter(_.node.isEmpty).sortBy(_.shard).map { r =>
          val (pll, plr) = p6Of(byShard(r.shard).find(_.node == "L").get)
          val (prl, prr) = p6Of(byShard(r.shard).find(_.node == "R").get)
          Supervised.leafCase(r.shard, s"${pll}L", s"${plr}L", s"${prl}L", s"${prr}L")
        }.mkString(" + ")
        Supervised.rfScoreHist(s, dir)
          .select(col("y"), col("cnt"), expr(s"CAST($p6 AS BIGINT)").as("p6"))
          .groupBy(expr("p6 div 80000").as("bucket"))
          .agg(sum(col("cnt")).as("n"), sum(col("p6") * col("cnt")).as("sp6"),
            sum(col("y") * col("cnt")).as("sy"))
          .selectExpr("bucket", "n",
            "round(CAST(sp6 AS DOUBLE) / (n * 8000000e0), 6) AS mean_proba",
            "round(CAST(sy AS DOUBLE) / n, 6) AS actual_rate")
          .orderBy("bucket")
      },
      Some(s"""WITH ${Supervised.sqlFeats}, ${Supervised.sqlGrid},
                 sh AS (SELECT *, ${Supervised.shardExpr} AS shard FROM l),
                 sc1 AS (${Supervised.sqlSplitCounts("sh", "shard, ")}),
                 g1 AS (SELECT *, ${Supervised.giniExpr} AS gini FROM sc1),
                 b1 AS (SELECT shard, feature AS f1, thr AS t1
                   FROM (SELECT *, row_number() OVER (PARTITION BY shard
                       ORDER BY gini ASC, feature ASC, thr ASC) AS rn
                     FROM g1 WHERE nl > 0 AND n - nl > 0
                       AND ${Supervised.mtryExpr}) t
                   WHERE rn = 1),
                 l2 AS (SELECT sh.*, CASE WHEN (CASE f1 WHEN 'quantity' THEN q
                       WHEN 'discount' THEN d ELSE t END) <= t1
                     THEN 'L' ELSE 'R' END AS node
                   FROM sh JOIN b1 USING (shard)),
                 sc2 AS (${Supervised.sqlSplitCounts("l2", "shard, node, ")}),
                 g2 AS (SELECT *, ${Supervised.giniExpr} AS gini FROM sc2),
                 b2 AS (SELECT shard, node, feature AS f2, thr AS t2,
                     ((posl + 1) * 1000000) // (nl + 2) AS pl,
                     (((pos - posl) + 1) * 1000000) // ((n - nl) + 2) AS pr
                   FROM (SELECT *, row_number() OVER (PARTITION BY shard, node
                       ORDER BY gini ASC, feature ASC, thr ASC) AS rn
                     FROM g2 WHERE ${Supervised.mtryExpr}) t
                   WHERE rn = 1),
                 tr AS (SELECT b1.shard, f1, t1,
                     max(CASE WHEN node = 'L' THEN f2 END) AS f2l,
                     max(CASE WHEN node = 'L' THEN t2 END) AS t2l,
                     max(CASE WHEN node = 'L' THEN pl END) AS pll,
                     max(CASE WHEN node = 'L' THEN pr END) AS plr,
                     max(CASE WHEN node = 'R' THEN f2 END) AS f2r,
                     max(CASE WHEN node = 'R' THEN t2 END) AS t2r,
                     max(CASE WHEN node = 'R' THEN pl END) AS prl,
                     max(CASE WHEN node = 'R' THEN pr END) AS prr
                   FROM b1 JOIN b2 USING (shard)
                   GROUP BY b1.shard, f1, t1),
                 scored AS (SELECT l.y,
                     (SELECT CAST(sum(CASE WHEN (CASE tr.f1
                           WHEN 'quantity' THEN l.q WHEN 'discount' THEN l.d
                           ELSE l.t END) <= tr.t1
                         THEN (CASE WHEN (CASE tr.f2l
                             WHEN 'quantity' THEN l.q WHEN 'discount' THEN l.d
                             ELSE l.t END) <= tr.t2l THEN tr.pll ELSE tr.plr END)
                         ELSE (CASE WHEN (CASE tr.f2r
                             WHEN 'quantity' THEN l.q WHEN 'discount' THEN l.d
                             ELSE l.t END) <= tr.t2r THEN tr.prl ELSE tr.prr END)
                         END) AS BIGINT)
                      FROM tr) AS p6
                   FROM l)
               SELECT p6 // 80000 AS bucket, count(*) AS n,
                 round(CAST(sum(p6) AS DOUBLE) / (count(*) * 8000000e0), 6) AS mean_proba,
                 round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS actual_rate
               FROM scored GROUP BY p6 // 80000 ORDER BY bucket""")),

    QueryDef(
      "ml_rf_importance",
      // RandomForest feature_importances_ — mean decrease in impurity: for
      // every split of every tree (8 shards × {root, L, R}), the node-
      // weighted gini gain (n_node/n_root)·(gini(node) − gini(split)),
      // summed per feature and NORMALIZED to sum 1 (each feature's share
      // of the forest's total impurity decrease — the sklearn/cuML
      // feature_importances_ contract). The winner statistics come from
      // the shared memoized Supervised.rfStats fit (r14: this query
      // re-ran the whole 2-pass amplified grid search in-plan); the gain
      // arithmetic is UNCHANGED — the same shared expression texts over
      // the same exact counts, now a 24-row local relation, so the
      // importances describe the identical forest with zero data passes.
      // Determinism: gains are shared-text doubles from exact counts,
      // summed per feature on the exact-decimal wire.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val st = Supervised.rfStats(s, dir)
        def rel(ps: Seq[Supervised.Split]) =
          ps.map(p => (p.shard, p.node, p.feature, p.n, p.pos, p.nl, p.posl))
            .toDF("shard", "node", "feature", "n", "pos", "nl", "posl")
            .withColumn("gini", expr(Supervised.giniExpr))
        val b1f = rel(st.filter(_.node.isEmpty).toSeq)
        val b2f = rel(st.filter(_.node.nonEmpty).toSeq)
        val rg = b1f.selectExpr("shard", "feature",
          "(1e0 - pow(CAST(pos AS DOUBLE) / n, 2) - pow(CAST(n - pos AS DOUBLE) / n, 2)) - gini AS wg")
        val ng = b2f.join(broadcast(b1f.select(col("shard"), col("n").as("n1"))), "shard")
          .selectExpr("shard", "feature",
            "(CAST(n AS DOUBLE) / n1) * ((1e0 - pow(CAST(pos AS DOUBLE) / n, 2) - pow(CAST(n - pos AS DOUBLE) / n, 2)) - gini) AS wg")
        rg.unionAll(ng)
          .groupBy("feature")
          .agg(T.xsum(col("wg")).as("g"))
          // normalize to sum 1 — feature_importances_'s actual contract
          // (VERDICT r8 ADVICE): per-feature share of the forest's total
          // impurity decrease. The global window runs over 3 aggregate
          // rows; the total rides the exact-decimal wire so the division
          // is order-independent cross-engine. Zero-total guard (ADVICE
          // r9): on degenerate data where every winning split has zero
          // gain, Spark's x/0 → NULL but DuckDB's → inf, so both texts
          // emit 0 explicitly. Note: this normalizes the POOLED gain sum
          // (trees weighted by their total gain); sklearn normalizes per
          // tree then averages — a deliberate simplification, since the
          // pooled form needs one aggregation instead of a per-shard
          // normalize + re-average and ranks features identically when
          // shard totals are comparable.
          .select(col("feature"),
            round(expr("CASE WHEN CAST(sum(CAST(g AS DECIMAL(30,12))) " +
              "OVER () AS DOUBLE) = 0e0 THEN 0e0 ELSE g / " +
              "CAST(sum(CAST(g AS DECIMAL(30,12))) OVER () AS DOUBLE) END"), 6)
              .as("importance"))
          .orderBy("feature")
      },
      Some(s"""WITH ${Supervised.sqlFeats}, ${Supervised.sqlGrid},
                 sh AS (SELECT *, ${Supervised.shardExpr} AS shard FROM l),
                 sc1 AS (${Supervised.sqlSplitCounts("sh", "shard, ")}),
                 g1 AS (SELECT *, ${Supervised.giniExpr} AS gini FROM sc1),
                 b1f AS (SELECT * FROM (SELECT *, row_number() OVER (
                       PARTITION BY shard ORDER BY gini ASC, feature ASC,
                       thr ASC) AS rn
                     FROM g1 WHERE nl > 0 AND n - nl > 0
                       AND ${Supervised.mtryExpr}) t WHERE rn = 1),
                 rg AS (SELECT shard, feature,
                     (1e0 - pow(CAST(pos AS DOUBLE) / n, 2) - pow(CAST(n - pos AS DOUBLE) / n, 2)) - gini AS wg
                   FROM b1f),
                 l2 AS (SELECT sh.*, CASE WHEN (CASE f1 WHEN 'quantity' THEN q
                       WHEN 'discount' THEN d ELSE t END) <= t1
                     THEN 'L' ELSE 'R' END AS node
                   FROM sh JOIN (SELECT shard, feature AS f1, thr AS t1
                     FROM b1f) b1 USING (shard)),
                 sc2 AS (${Supervised.sqlSplitCounts("l2", "shard, node, ")}),
                 g2 AS (SELECT *, ${Supervised.giniExpr} AS gini FROM sc2),
                 b2f AS (SELECT * FROM (SELECT *, row_number() OVER (
                       PARTITION BY shard, node ORDER BY gini ASC, feature ASC,
                       thr ASC) AS rn
                     FROM g2 WHERE ${Supervised.mtryExpr}) t WHERE rn = 1),
                 ng AS (SELECT b2f.shard, feature,
                     (CAST(n AS DOUBLE) / n1) * ((1e0 - pow(CAST(pos AS DOUBLE) / n, 2) - pow(CAST(n - pos AS DOUBLE) / n, 2)) - gini) AS wg
                   FROM b2f JOIN (SELECT shard, n AS n1 FROM b1f) nn USING (shard))
               SELECT feature,
                 round(CASE WHEN CAST(sum(CAST(g AS DECIMAL(30,12))) OVER ()
                     AS DOUBLE) = 0e0 THEN 0e0 ELSE g /
                   CAST(sum(CAST(g AS DECIMAL(30,12))) OVER ()
                     AS DOUBLE) END, 6) AS importance
               FROM (SELECT feature, ${T.sqlXsum("wg")} AS g
                 FROM (SELECT * FROM rg UNION ALL SELECT * FROM ng) u
                 GROUP BY feature) gf
               ORDER BY feature""")),

    QueryDef(
      "ml_shap_kernel",
      // cuml.explainer KernelExplainer [R] in its EXACT mode: interventional
      // Shapley values of the fitted depth-2 gini tree (leaf positive-rate
      // output) for 3 probe points, by FULL coalition enumeration over the
      // 3 features — v(S) = E_background[f(x_S, B_\S)] with the data itself
      // as background. All 2³ value functions × 3 points collapse to 22
      // aggregate columns of ONE scan (v(∅) is point-independent): the
      // conditional-moment trick that makes exact SHAP a dataflow instead
      // of 24 passes. φ_i = Σ_S |S|!(2−|S|)!/3!·(v(S∪i)−v(S)) with the
      // exact weights (1/3, 1/6, 1/6, 1/3); the efficiency identity
      // Σφ = f(x) − E[f] is emitted per point as the audit column
      // (~0 up to IEEE residue, identical cross-engine). The tree comes
      // from the shared memoized Supervised.treeStats fit (r14: this
      // query re-fit the depth-2 tree in-plan — two more amplified
      // passes); the leaf rates are re-derived in-plan from the exact
      // winner counts with the SAME division text the in-plan fit used,
      // so the explained tree is bit-identical.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val fr = Supervised.feats(s, dir)
        val st = Supervised.treeStats(s, dir)
        val root = st.find(_.node.isEmpty).get
        val lw = st.find(_.node == "L").get
        val rw = st.find(_.node == "R").get
        val tree = Seq((root.feature, root.thr,
            lw.feature, lw.thr, lw.n, lw.pos, lw.nl, lw.posl,
            rw.feature, rw.thr, rw.n, rw.pos, rw.nl, rw.posl))
          .toDF("f1", "t1", "f2l", "t2l", "nL", "posL", "nlL", "poslL",
            "f2r", "t2r", "nR", "posR", "nlR", "poslR")
          .selectExpr("f1", "t1", "f2l", "t2l",
            "CAST(poslL AS DOUBLE) / nlL AS pll",
            "CAST(posL - poslL AS DOUBLE) / (nL - nlL) AS plr",
            "f2r", "t2r",
            "CAST(poslR AS DOUBLE) / nlR AS prl",
            "CAST(posR - poslR AS DOUBLE) / (nR - nlR) AS prr")
        // r14 wire swap (the PQ-train precedent): the 22 coalition sums
        // add leaf PROBABILITIES ∈ [0,1] on the 12-dp integer wire
        // (sumE12); both engines run the identical text.
        val vAggs = Seq(count(lit(1)).cast("double").as("nd"),
          T.sumE12(expr(treeVal("q", "d", "t"))).as("vs_0")) ++
          shapPoints.flatMap { p =>
            (1 to 7).map { m =>
              val (qa, da, ta) = shapArgs(p, m)
              T.sumE12(expr(treeVal(qa, da, ta))).as(s"vs_${p._1}_$m")
            }
          }
        val mom = fr.crossJoin(broadcast(tree)).agg(vAggs.head, vAggs.tail: _*)
        val vCols = s"${T.bitsE12("vs_0")} / nd AS v0" +:
          shapPoints.flatMap(p => (1 to 7).map(m =>
            s"${T.bitsE12(s"vs_${p._1}_$m")} / nd AS v${p._1}_$m"))
        val phis = shapPoints.flatMap(p => phiExprs(p._1))
        val gaps = shapPoints.map(p =>
          s"(v${p._1}_7 - v0) - (phq${p._1} + phd${p._1} + pht${p._1}) AS gap${p._1}")
        val arms = shapPoints.flatMap { p =>
          val i = p._1
          Seq(s"$i, 'discount', round(phd$i, 6), round(gap$i, 6)",
            s"$i, 'quantity', round(phq$i, 6), round(gap$i, 6)",
            s"$i, 'tax', round(pht$i, 6), round(gap$i, 6)")
        }.mkString(", ")
        mom.selectExpr(vCols: _*)
          .selectExpr("*" +: phis: _*)
          .selectExpr("*" +: gaps: _*)
          .selectExpr(s"stack(9, $arms) AS (point_id, feature, phi, efficiency_gap)")
          .selectExpr("point_id", "feature", "phi", "efficiency_gap")
          .orderBy("point_id", "feature")
      },
      Some {
        val vCtes =
          s"""mom AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
               ${T.sqlSumE12(treeVal("q", "d", "t"))} AS vs_0,
               ${shapPoints.flatMap { p =>
                 (1 to 7).map { m =>
                   val (qa, da, ta) = shapArgs(p, m)
                   s"${T.sqlSumE12(treeVal(qa, da, ta))} AS vs_${p._1}_$m"
                 }
               }.mkString(",\n               ")}
             FROM l CROSS JOIN tree)"""
        val vSel = s"${T.sqlBitsE12("vs_0")} / nd AS v0" +:
          shapPoints.flatMap(p => (1 to 7).map(m =>
            s"${T.sqlBitsE12(s"vs_${p._1}_$m")} / nd AS v${p._1}_$m"))
        val phis = shapPoints.flatMap(p => phiExprs(p._1)).mkString(",\n               ")
        val gaps = shapPoints.map(p =>
          s"(v${p._1}_7 - v0) - (phq${p._1} + phd${p._1} + pht${p._1}) AS gap${p._1}")
          .mkString(",\n               ")
        val arms = shapPoints.flatMap { p =>
          val i = p._1
          Seq(
            s"SELECT $i AS point_id, 'discount' AS feature, round(phd$i, 6) AS phi, round(gap$i, 6) AS efficiency_gap FROM g",
            s"SELECT $i, 'quantity', round(phq$i, 6), round(gap$i, 6) FROM g",
            s"SELECT $i, 'tax', round(pht$i, 6), round(gap$i, 6) FROM g")
        }.mkString("\n             UNION ALL ")
        s"""WITH ${Supervised.sqlFeats}, ${Supervised.sqlGrid},
             sc1 AS (${Supervised.sqlSplitCounts("l", "")}),
             g1 AS (SELECT *, ${Supervised.giniExpr} AS gini FROM sc1),
             b1 AS (SELECT feature AS f1, thr AS t1
               FROM (SELECT *, row_number() OVER (ORDER BY gini ASC,
                   feature ASC, thr ASC) AS rn FROM g1) t WHERE rn = 1),
             l2 AS (SELECT l.*, CASE WHEN (CASE f1 WHEN 'quantity' THEN q
                   WHEN 'discount' THEN d ELSE t END) <= t1
                 THEN 'L' ELSE 'R' END AS node
               FROM l CROSS JOIN b1),
             sc2 AS (${Supervised.sqlSplitCounts("l2", "node, ")}),
             g2 AS (SELECT *, ${Supervised.giniExpr} AS gini FROM sc2),
             b2 AS (SELECT * FROM (SELECT *, row_number() OVER (
                   PARTITION BY node ORDER BY gini ASC, feature ASC,
                   thr ASC) AS rn FROM g2) t WHERE rn = 1),
             tp AS (SELECT
                 max(CASE WHEN node = 'L' THEN feature END) AS f2l,
                 max(CASE WHEN node = 'L' THEN thr END) AS t2l,
                 max(CASE WHEN node = 'L' THEN CAST(posl AS DOUBLE) / nl END) AS pll,
                 max(CASE WHEN node = 'L' THEN CAST(pos - posl AS DOUBLE) / (n - nl) END) AS plr,
                 max(CASE WHEN node = 'R' THEN feature END) AS f2r,
                 max(CASE WHEN node = 'R' THEN thr END) AS t2r,
                 max(CASE WHEN node = 'R' THEN CAST(posl AS DOUBLE) / nl END) AS prl,
                 max(CASE WHEN node = 'R' THEN CAST(pos - posl AS DOUBLE) / (n - nl) END) AS prr
               FROM b2),
             tree AS (SELECT f1, t1, f2l, t2l, pll, plr, f2r, t2r, prl, prr
               FROM b1 CROSS JOIN tp),
             $vCtes,
             v AS (SELECT ${vSel.mkString(",\n               ")} FROM mom),
             ph AS (SELECT *,
               $phis
             FROM v),
             g AS (SELECT *,
               $gaps
             FROM ph)
           SELECT point_id, feature, phi, efficiency_gap FROM (
             $arms) z
           ORDER BY point_id, feature"""
      })
  )
}
