package graft.ops

import graft.{QueryDef, Tables => T, Twin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Supervised estimators from the dask-cuml surface that the r6 solver
  * matrix did not yet cover (r7): MultinomialNB (`cuml.dask.naive_bayes`
  * [R] — the reference's only text classifier), a gini decision stump and
  * the bagged-forest calibration row (`cuml.dask.ensemble` trains
  * embarrassingly-parallel per-partition sub-forests and merges — the
  * same shape as the per-shard stump fit here), all as first-class
  * oracle-checked queries.
  *
  * Scale design:
  * - NB fit/predict: token-count aggregates (shuffle key = term), class
  *   state is a 5-row broadcast; predict is one equi-join on (term, class)
  *   over the token table — inverted-index shape, never n².
  * - tree/forest: candidate-split evaluation is ONE aggregation pass that
  *   bins each row once into a joint (quantity, discount, tax) histogram
  *   ([[splitHist]], the LightGBM/cuML histogram split search): the map
  *   output is at most 800·|extra| cells per task, and every candidate's
  *   counts are derived from that bounded histogram; the fitted stumps are
  *   driver-held literals (the cuML client-held-model pattern), so scoring
  *   is a pure map pass.
  *
  * Cross-engine determinism: every ln() is collapsed to REAL before
  * summation (the ml_logreg sigmoid discipline — absorbs last-ulp libm
  * differences), class scores stay in exact DECIMAL until the argmax so
  * no decimal→double cast can reorder candidates, and the tree/forest
  * path is integer/rational arithmetic end-to-end.
  */
object Supervised {

  // ---- shared NB internals ----------------------------------------------

  /** Non-empty whitespace tokens with the document's label. */
  private def toks(s: SparkSession, dir: String): DataFrame =
    T.documents(s, dir).transform(T.fanOut(_, col("doc_id")))
      .select(col("doc_id"), col("lang"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("term"))

  private val sqlToks =
    """tk AS (SELECT doc_id, lang, term FROM (
         SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
         FROM documents) t WHERE term <> '')"""

  /** Laplace-smoothed log-likelihood, REAL-collapsed then re-widened —
    * the shared expression text both engines evaluate on identical double
    * inputs (counts are exact; the division is one IEEE op). */
  private val lnLik =
    "CAST(CAST(ln((cnt + 1.0) / (tot + v)) AS FLOAT) AS DOUBLE)"
  private val sqlLnLik =
    "CAST(CAST(ln((cnt + 1.0) / (tot + v)) AS REAL) AS DOUBLE)"

  /** ComplementNB's smoothed complement log-likelihood: counts from all
    * OTHER classes (cc = tt − cnt, totc = ta − tot), same REAL-collapse
    * discipline as lnLik. */
  private val lnComp =
    "CAST(CAST(ln((tt - cnt + 1.0) / (ta - tot + v)) AS FLOAT) AS DOUBLE)"
  private val sqlLnComp =
    "CAST(CAST(ln((tt - cnt + 1.0) / (ta - tot + v)) AS REAL) AS DOUBLE)"

  // ---- shared tree/forest internals -------------------------------------

  /** Candidate split grid over the three lineitem features (the values
    * are exact decimal literals — both engines parse them to the same
    * doubles). Fixed and data-independent: at any scale the split search
    * is ONE pass into a histogram of Π(k_f + 1) = 800 bins per group (k_f
    * = the feature's threshold count), see [[splitHist]]. */
  private[graft] val grid: Seq[(String, String)] =
    (5 to 45 by 5).map(v => ("quantity", s"$v.0")) ++
      (1 to 9).map(v => ("discount", s"0.0$v")) ++
      (1 to 7).map(v => ("tax", s"0.0$v"))

  /** Weighted gini impurity of a candidate split from its four counts
    * (n, pos, nl, posl) — pure rational arithmetic, identical cross-engine;
    * an empty side contributes zero impurity. */
  private[ops] val giniExpr =
    """(CASE WHEN nl = 0 THEN 0.0 ELSE
         nl * (1.0 - pow(CAST(posl AS DOUBLE) / nl, 2)
                   - pow(CAST(nl - posl AS DOUBLE) / nl, 2)) END
      + CASE WHEN n - nl = 0 THEN 0.0 ELSE
         (n - nl) * (1.0 - pow(CAST(pos - posl AS DOUBLE) / (n - nl), 2)
                         - pow(CAST((n - nl) - (pos - posl) AS DOUBLE) / (n - nl), 2)) END
      ) / n"""

  /** Feature/label projection shared by the tree and forest rows: the
    * binary target is returnflag = 'R' (the ml_logreg fixture). */
  private[ops] def feats(s: SparkSession, dir: String): DataFrame =
    // projected off the session-pinned narrow base (r15): the forest fits
    // are memoized but every family row's in-plan scans (shap moments, rf
    // predictions, oob votes) re-paid the parquet scan + repartition
    T.lineitemFit(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("double").as("q"),
      col("l_discount").cast("double").as("d"),
      col("l_tax").cast("double").as("t"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))

  private[ops] val sqlFeats =
    """l AS (SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS DOUBLE) AS q, CAST(l_discount AS DOUBLE) AS d,
         CAST(l_tax AS DOUBLE) AS t,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
       FROM lineitem)"""

  /** Regression sibling of [[feats]]: continuous target yr = extendedprice
    * (the ml_rf_regress frame). `yc` is the target in exact integer CENTS
    * (the ml_linreg_holdout discipline: double → DECIMAL(18,2) rounds
    * identically in both engines, ×100 is then integral), so the forest's
    * histogram moment passes sum primitive BIGINTs instead of decimals.
    * Cents sums stay < 2⁶³ up to ~9e16 cents per aggregation group —
    * ample headroom; the sumE12 decimal wire remains the fallback past
    * that. */
  private def featsR(s: SparkSession, dir: String): DataFrame =
    T.lineitemFit(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("double").as("q"),
      col("l_discount").cast("double").as("d"),
      col("l_tax").cast("double").as("t"),
      col("l_extendedprice").cast("double").as("yr"),
      (col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * lit(100))
        .cast("long").as("yc"))

  private val sqlFeatsR =
    """lr AS (SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS DOUBLE) AS q, CAST(l_discount AS DOUBLE) AS d,
         CAST(l_tax AS DOUBLE) AS t,
         CAST(l_extendedprice AS DOUBLE) AS yr,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS yc
       FROM lineitem)"""

  /** Variance-reduction split score (maximizing Σ_l²/n_l + Σ_r²/n_r ≡
    * minimizing SSE; the Σy² term is split-independent and cancels) —
    * shared verbatim so argmax ordering is identical cross-engine; an
    * empty side is excluded with a -1 sentinel (every real split scores
    * > 0 on a positive target). */
  private val scoreTextR =
    """CASE WHEN nl = 0 OR n - nl = 0 THEN -1e0
       ELSE syl * syl / nl + (sy - syl) * (sy - syl) / (n - nl) END"""

  /** A row column that [[splitHist]] sums per candidate split: `total` is
    * its sum over the group, `left` its sum over the rows that go left —
    * 0 when none does if `zeroLeft` (the gini counts' `posl`), null
    * otherwise (the regression cents' `sylc`). */
  private[graft] final case class Moment(col: String, total: String, left: String, zeroLeft: Boolean)

  /** Every [[grid]] candidate's split statistics from one histogram pass —
    * the brute-force aggregation over `rows` × grid, computed without the
    * ×|grid| row amplification. Columns: `extra`, feature, thr, n, each
    * moment's total, nl, each moment's left sum; n = rows in the group,
    * nl = rows with x_f <= thr. Types, nullability and null semantics are
    * those of the brute-force aggregation, which the oracle texts keep.
    *
    * The row stage bins each row once per feature — b_f is the index of
    * the first of f's ascending thresholds t with x_f <= t, or k_f when
    * there is none (NaN and null go right, as they do against every
    * threshold) — and aggregates a count and each moment's sum per
    * (`extra`, b_q, b_d, b_t) cell: at most Π(k_f + 1) = 800 cells per
    * `extra` key, at any scale. The histogram moves to one partition
    * after its final aggregate (a repartition, so the final merge stays
    * distributed) and crosses the |grid| (feature, thr, rank) rows: a row
    * goes left of a feature's rank-th threshold exactly when b_f < rank. */
  private[graft] def splitHist(rows: DataFrame, extra: Seq[String], sums: Seq[Moment]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val cuts = grid.map(_._1).distinct.map(f =>
      f -> grid.collect { case (`f`, t) => t }.sortBy(_.toDouble))
    val bins = cuts.map { case (f, ts) =>
      expr(ts.zipWithIndex.map { case (t, i) => s"WHEN ${xOf(f)} <= CAST('$t' AS DOUBLE) THEN $i" }
        .mkString("CASE ", " ", s" ELSE ${ts.size} END")).as("b" + xOf(f))
    }
    val cells = rows.groupBy(extra.map(col) ++ bins: _*)
      .agg(count(lit(1)).as("c"), sums.map(m => sum(col(m.col)).as(m.total)): _*)
      .repartition(1)
    val ranks = cuts.flatMap { case (f, ts) => ts.zipWithIndex.map { case (t, i) => (f, t, i + 1) } }
      .toDF("feature", "thrs", "rank")
      .select(col("feature"), col("thrs").cast("double").as("thr"), col("rank"))
    val left = expr(cuts.map { case (f, _) => s"WHEN '$f' THEN b${xOf(f)}" }
      .mkString("CASE feature ", " ", " END")) < col("rank")
    cells.crossJoin(broadcast(ranks))
      .groupBy((extra ++ Seq("feature", "thr")).map(col): _*)
      // the coalesce only keeps count(*)'s non-nullable type
      .agg(coalesce(sum(col("c")), lit(0L)).as("n"),
        sums.map(m => sum(col(m.total)).as(m.total)) ++
          Seq(sum(when(left, col("c")).otherwise(0L)).as("nl")) ++
          sums.map { m =>
            val l = when(left, col(m.total))
            sum(if (m.zeroLeft) l.otherwise(0L) else l).as(m.left)
          }: _*)
  }

  /** The gini family's candidate-split counts (n, pos, nl, posl) over a
    * [[feats]]-shaped frame. `extra` prepends grouping columns (the
    * forest's shard id, a tree node). */
  private[ops] def splitCounts(rows: DataFrame, extra: Seq[String]): DataFrame =
    splitHist(rows, extra, Seq(Moment("y", "pos", "posl", zeroLeft = true)))

  /** The oracle's candidate grid as a VALUES CTE (same literal text; thr
    * cast to DOUBLE — a bare VALUES decimal literal is DECIMAL(3,2) in
    * DuckDB, which would leak into the output schema). */
  private[ops] val sqlGrid: String =
    grid.map { case (f, v) => s"('$f', $v)" }.mkString(
      "cand AS (SELECT feature, CAST(thr AS DOUBLE) AS thr FROM (VALUES ",
      ", ", ") v(feature, thr))")

  private[ops] def sqlSplitCounts(src: String, extra: String): String =
    s"""SELECT ${extra}feature, thr, count(*) AS n,
          CAST(sum(y) AS BIGINT) AS pos,
          CAST(sum(CASE WHEN (CASE feature WHEN 'quantity' THEN q
                    WHEN 'discount' THEN d ELSE t END) <= thr
                  THEN 1 ELSE 0 END) AS BIGINT) AS nl,
          CAST(sum(CASE WHEN (CASE feature WHEN 'quantity' THEN q
                    WHEN 'discount' THEN d ELSE t END) <= thr
                  THEN y ELSE 0 END) AS BIGINT) AS posl
        FROM $src CROSS JOIN cand
        GROUP BY ${extra}feature, thr"""

  /** Affine shard hash for the forest (fresh multiplier 104729 — distinct
    * from the 387143/48271/69621 families so shards can't alias another
    * query's split on the same table). k ≤ 8·maxOrderkey+7 keeps
    * k·104729 ≪ 2⁶³ at any tested SF. */
  private[ops] val shardExpr =
    s"CAST(((l_orderkey * 8 + l_linenumber) * 104729 + 7919) % ${T.HASH_P} % 8 AS INT)"

  /** Per-tree feature mask — mtry (r10, VERDICT r9 #4: "trees differ only
    * by data rows"): each shard BANS one of the 3 features by an affine
    * hash of the shard id, so every tree searches max_features = 2 of 3 —
    * cuML RandomForest's feature subsampling [R], made deterministic the
    * same way the row bagging is (shardExpr's affine hash, not an RNG).
    * Applied as a WHERE on the candidate-split AGGREGATE rows (both
    * levels), so the data passes are unchanged — only the argmin searches
    * a per-tree feature subset. Shared text; TRUE = feature allowed. */
  private[graft] val mtryExpr =
    "(CASE feature WHEN 'quantity' THEN 0 WHEN 'discount' THEN 1 ELSE 2 END)" +
      " <> (shard * 104729 + 11) % 3"

  private[ops] def D(x: Double): String = java.lang.Double.toString(x)

  /** Row-column name of a feature in [[feats]]/[[featsR]]. */
  private[ops] def xOf(f: String): String =
    f match { case "quantity" => "q"; case "discount" => "d"; case _ => "t" }

  /** One winning split of a depth-2 fit: `node` is "" for the level-1
    * (root) winner, "L"/"R" for level-2. Only EXACT values are held —
    * the feature name, the grid threshold (exact Double roundtrip) and
    * the four BIGINT conditional counts; every double a consumer needs
    * (gini, leaf rate, micro-probability) is re-derived from these
    * in-plan via the SAME shared expression texts, so consolidating the
    * fits changes nothing about cross-engine determinism. */
  private[ops] final case class Split(shard: Int, node: String,
      feature: String, thr: Double, n: Long, pos: Long, nl: Long, posl: Long)

  private def collectSplits(df: DataFrame, shardCol: Boolean, nodeCol: Boolean): Array[Split] =
    df.collect().map { r =>
      var i = 0
      def nxt: Int = { val j = i; i += 1; j }
      val sh = if (shardCol) r.getInt(nxt) else 0
      val nd = if (nodeCol) r.getString(nxt) else ""
      Split(sh, nd, r.getString(nxt), r.getDouble(nxt),
        r.getLong(nxt), r.getLong(nxt), r.getLong(nxt), r.getLong(nxt))
    }

  /** ONE shared LEVEL-1 moments pass for BOTH forest families (r15,
    * VERDICT r14 #3 — ml_rf_regress was the last forest row fitting
    * alone): per (shard, feature, thr), the gini family's four exact
    * counts (n, pos, nl, posl) AND the regression family's exact
    * integer-cents sums (syc, sylc) from a single [[splitHist]] pass over
    * the combined projection of the pinned [[T.lineitemFit]] frame — the
    * two families' level-1 searches differ only in which of these exact
    * columns their score reads. ~|grid|·8 ≈ 200 exact rows, pinned
    * (KB-sized at any scale); winner arithmetic downstream uses the SAME
    * expression texts as before, so every derived double — and every
    * oracle value — is bit-unchanged. Level-2 passes stay per-family
    * (their node tagging depends on each family's own level-1 winners). */
  private def rfL1Moments(s: SparkSession, dir: String): DataFrame =
    T.memo("rfL1Moments", s, dir) {
      val both = T.lineitemFit(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("q"),
        col("l_discount").cast("double").as("d"),
        col("l_tax").cast("double").as("t"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
        (col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * lit(100))
          .cast("long").as("yc"))
        .withColumn("shard", expr(shardExpr))
      T.pin(splitHist(both, Seq("shard"), Seq(
        Moment("y", "pos", "posl", zeroLeft = true),
        Moment("yc", "syc", "sylc", zeroLeft = false))))
    }

  /** ONE memoized fit of the sharded depth-2 gini forest — the shared
    * level-1 moments plus one histogram level-2 pass for the whole
    * family (r14, VERDICT r13 #1a: ml_rf_proba re-ran its own 2-pass fit
    * and ml_rf_importance re-ran another in-plan; the forest family
    * totalled 578 cpu-s, most of it repeated fitting). [[rfTrees]] (hard
    * votes), the proba leaf micro-probabilities and the importance gain
    * arithmetic all derive from these 24 exact-count rows. The level-1
    * winners re-enter the level-2 pass as exact literals (the collect
    * feeds the memo anyway), so neither pass executes twice. */
  private[ops] def rfStats(s: SparkSession, dir: String): Array[Split] =
    T.memo("rfStats", s, dir) {
      val sharded = feats(s, dir).withColumn("shard", expr(shardExpr))
      val w1 = Window.partitionBy(col("shard"))
        .orderBy(col("gini").asc, col("feature").asc, col("thr").asc)
      val b1 = rfL1Moments(s, dir)
        .select(col("shard"), col("feature"), col("thr"),
          col("n"), col("pos"), col("nl"), col("posl"))
        .withColumn("gini", expr(giniExpr))
        // A pure/constant shard can gini-tie-break into a split that
        // routes ALL rows one way; the absent child node group would
        // leave a leaf undefined (the ml_gbm_round guard, VERDICT r8) —
        // only genuine splits may win level 1.
        .where("nl > 0 AND n - nl > 0").where(expr(mtryExpr))
        .withColumn("rn", row_number().over(w1)).where(col("rn") === 1)
        .select(col("shard"), col("feature"), col("thr"),
          col("n"), col("pos"), col("nl"), col("posl"))
      val b1c = collectSplits(b1, shardCol = true, nodeCol = false)
      val nodeE = b1c.map { p =>
        s"WHEN shard = ${p.shard} THEN (CASE WHEN ${xOf(p.feature)} <= ${D(p.thr)} THEN 'L' ELSE 'R' END)"
      }.mkString("CASE ", " ", " END")
      val l2 = sharded.withColumn("node", expr(nodeE))
        .where(col("node").isNotNull) // shards with no level-1 winner drop out
      val w2 = Window.partitionBy(col("shard"), col("node"))
        .orderBy(col("gini").asc, col("feature").asc, col("thr").asc)
      val b2 = splitCounts(l2, Seq("shard", "node"))
        .withColumn("gini", expr(giniExpr))
        .where(expr(mtryExpr))
        .withColumn("rn", row_number().over(w2)).where(col("rn") === 1)
        .select(col("shard"), col("node"), col("feature"), col("thr"),
          col("n"), col("pos"), col("nl"), col("posl"))
      val b2c = collectSplits(b2, shardCol = true, nodeCol = true)
      (b1c ++ b2c).sortBy(p => (p.shard, p.node))
    }

  /** Hard-vote leaf literals of the [[rfStats]] forest, in the (shard,
    * f1, t1, f2l, t2l, vll, vlr, f2r, t2r, vrl, vrr) shape ml_rf_predict
    * and ml_rf_oob's expressions are built from. A leaf votes R when its
    * positive rate beats the 1/3 base rate — integer arithmetic on the
    * exact counts, identical to the oracle's CASE text. */
  private def rfTrees(s: SparkSession, dir: String)
      : Array[(Int, String, String, String, String, Int, Int, String, String, Int, Int)] = {
    val st = rfStats(s, dir)
    val byShard = st.filter(_.node.nonEmpty).groupBy(_.shard)
    def vl(p: Split): Int = if (p.posl * 3 > p.nl) 1 else 0
    def vr(p: Split): Int = if ((p.pos - p.posl) * 3 > (p.n - p.nl)) 1 else 0
    st.filter(_.node.isEmpty).sortBy(_.shard).map { r =>
      val ch = byShard(r.shard)
      val l = ch.find(_.node == "L").get
      val rr = ch.find(_.node == "R").get
      (r.shard, r.feature, D(r.thr),
        l.feature, D(l.thr), vl(l), vr(l),
        rr.feature, D(rr.thr), vl(rr), vr(rr))
    }
  }

  /** Session-pinned (shard, y, leaf-code) → row-count histogram: the ONE
    * scoring pass over the corpus that ml_rf_predict / ml_rf_oob /
    * ml_rf_proba all derive from (r14, VERDICT r13 #1a — they each ran
    * their own full-corpus scoring scan). `code` packs each tree's leaf
    * index (2 bits per tree: bit1 = root branch, bit0 = level-2 branch),
    * so any per-tree leaf payload — vote, micro-probability — is a CASE
    * over the code bits. The distinct codes are bounded by the forest's
    * CELL PARTITION of the 3-feature space (the arrangement of ~25 grid
    * thresholds — a few hundred cells on ANY data), so the pinned frame
    * stays KB-sized at 100 TB while each consumer's remaining work is
    * integer arithmetic over it; all consumer aggregates are order-free
    * integer sums, so their values are bit-identical to the raw-row
    * scans they replace. */
  private[ops] def rfScoreHist(s: SparkSession, dir: String): DataFrame =
    T.memo("rfScoreHist", s, dir) {
      val code = rfTrees(s, dir).map {
        case (sh, f1, t1, f2l, t2l, _, _, f2r, t2r, _, _) =>
          s"""(CASE WHEN ${xOf(f1)} <= $t1
               THEN (CASE WHEN ${xOf(f2l)} <= $t2l THEN 0L ELSE 1L END)
               ELSE (CASE WHEN ${xOf(f2r)} <= $t2r THEN 2L ELSE 3L END) END) * ${1L << (2 * sh)}L"""
      }.mkString(" + ")
      T.pin(feats(s, dir).withColumn("shard", expr(shardExpr))
        .groupBy(col("shard"), col("y"), expr(code).as("code"))
        .agg(count(lit(1)).as("cnt")))
    }

  /** Per-tree leaf-payload CASE over [[rfScoreHist]]'s code column. */
  private[ops] def leafCase(sh: Int, ll: String, lr: String, rl: String, rr: String): String =
    s"(CASE (code div ${1L << (2 * sh)}L) % 4 WHEN 0 THEN $ll WHEN 1 THEN $lr WHEN 2 THEN $rl ELSE $rr END)"

  /** Unsharded depth-2 winner statistics — ONE memoized fit (two
    * [[splitHist]] passes) serving ml_tree_depth2's output rows,
    * ml_tree_depth3's first two levels and ml_shap_kernel's explained
    * tree, which each re-ran the same recursion before r14. Same
    * exact-values-only contract as [[rfStats]]. */
  private[ops] def treeStats(s: SparkSession, dir: String): Array[Split] =
    T.memo("treeD2Stats", s, dir) {
      val fr = feats(s, dir)
      val w1 = Window.orderBy(col("gini").asc, col("feature").asc, col("thr").asc)
      val b1 = splitCounts(fr, Seq.empty)
        .withColumn("gini", expr(giniExpr))
        .withColumn("rn", row_number().over(w1)).where(col("rn") === 1)
        .select(col("feature"), col("thr"),
          col("n"), col("pos"), col("nl"), col("posl"))
      val root = collectSplits(b1, shardCol = false, nodeCol = false).head
      val l2 = fr.withColumn("node", expr(
        s"CASE WHEN ${xOf(root.feature)} <= ${D(root.thr)} THEN 'L' ELSE 'R' END"))
      val w2 = Window.partitionBy(col("node"))
        .orderBy(col("gini").asc, col("feature").asc, col("thr").asc)
      val b2 = splitCounts(l2, Seq("node"))
        .withColumn("gini", expr(giniExpr))
        .withColumn("rn", row_number().over(w2)).where(col("rn") === 1)
        .select(col("node"), col("feature"), col("thr"),
          col("n"), col("pos"), col("nl"), col("posl"))
      (root +: collectSplits(b2, shardCol = false, nodeCol = true).toSeq)
        .sortBy(_.node).toArray
    }

  /** ml_rf_predict's oracle — the forest fit + in-bag vote calibration
    * (lifted out verbatim when the fit moved into [[rfTrees]]). */
  private val rfPredictOracle: Option[String] =
    Some(s"""WITH $sqlFeats, $sqlGrid,
                 sh AS (SELECT *, $shardExpr AS shard FROM l),
                 sc1 AS (${sqlSplitCounts("sh", "shard, ")}),
                 g1 AS (SELECT *, $giniExpr AS gini FROM sc1),
                 b1 AS (SELECT shard, feature AS f1, thr AS t1
                   FROM (SELECT *, row_number() OVER (PARTITION BY shard
                       ORDER BY gini ASC, feature ASC, thr ASC) AS rn
                     FROM g1 WHERE nl > 0 AND n - nl > 0 AND $mtryExpr) t
                   WHERE rn = 1),
                 l2 AS (SELECT sh.*, CASE WHEN (CASE f1 WHEN 'quantity' THEN q
                       WHEN 'discount' THEN d ELSE t END) <= t1
                     THEN 'L' ELSE 'R' END AS node
                   FROM sh JOIN b1 USING (shard)),
                 sc2 AS (${sqlSplitCounts("l2", "shard, node, ")}),
                 g2 AS (SELECT *, $giniExpr AS gini FROM sc2),
                 b2 AS (SELECT shard, node, feature AS f2, thr AS t2,
                     CASE WHEN posl * 3 > nl THEN 1 ELSE 0 END AS vl,
                     CASE WHEN (pos - posl) * 3 > (n - nl) THEN 1 ELSE 0 END AS vr
                   FROM (SELECT *, row_number() OVER (PARTITION BY shard, node
                       ORDER BY gini ASC, feature ASC, thr ASC) AS rn
                     FROM g2 WHERE $mtryExpr) t
                   WHERE rn = 1),
                 tr AS (SELECT b1.shard, f1, t1,
                     max(CASE WHEN node = 'L' THEN f2 END) AS f2l,
                     max(CASE WHEN node = 'L' THEN t2 END) AS t2l,
                     max(CASE WHEN node = 'L' THEN vl END) AS vll,
                     max(CASE WHEN node = 'L' THEN vr END) AS vlr,
                     max(CASE WHEN node = 'R' THEN f2 END) AS f2r,
                     max(CASE WHEN node = 'R' THEN t2 END) AS t2r,
                     max(CASE WHEN node = 'R' THEN vl END) AS vrl,
                     max(CASE WHEN node = 'R' THEN vr END) AS vrr
                   FROM b1 JOIN b2 USING (shard)
                   GROUP BY b1.shard, f1, t1),
                 scored AS (SELECT l.y,
                     (SELECT CAST(sum(CASE WHEN (CASE tr.f1
                           WHEN 'quantity' THEN l.q WHEN 'discount' THEN l.d
                           ELSE l.t END) <= tr.t1
                         THEN (CASE WHEN (CASE tr.f2l
                             WHEN 'quantity' THEN l.q WHEN 'discount' THEN l.d
                             ELSE l.t END) <= tr.t2l THEN tr.vll ELSE tr.vlr END)
                         ELSE (CASE WHEN (CASE tr.f2r
                             WHEN 'quantity' THEN l.q WHEN 'discount' THEN l.d
                             ELSE l.t END) <= tr.t2r THEN tr.vrl ELSE tr.vrr END)
                         END) AS INT)
                      FROM tr) AS votes
                   FROM l)
               SELECT votes, count(*) AS n,
                 round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS actual_rate
               FROM scored GROUP BY votes ORDER BY votes""")

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "ml_nb_fit",
      // cuml.dask.naive_bayes MultinomialNB.fit [R]: per-class document
      // priors and token totals with the add-one-smoothing vocabulary
      // size — the sufficient statistics of the fitted model (class_count_,
      // class_log_prior_, feature totals). Two bounded aggregates + a
      // broadcast total; the per-(class, term) count table stays
      // distributed (it IS the model at 100 TB; predict joins it).
      (s, dir) => {
        val tk = toks(s, dir)
        val nAll = T.documents(s, dir).agg(count(lit(1)).as("n_all"))
        val pri = T.documents(s, dir).groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
        val ctot = tk.groupBy("lang").agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("term")).as("n_terms"))
        pri.join(ctot, "lang").crossJoin(broadcast(nAll))
          .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_terms"),
            round(expr("CAST(CAST(ln(CAST(n_docs AS DOUBLE) / n_all) AS FLOAT) AS DOUBLE)"), 6)
              .as("log_prior"))
          .orderBy("lang")
      },
      Some(s"""WITH $sqlToks,
                 na AS (SELECT count(*) AS n_all FROM documents),
                 pri AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
                 ctot AS (SELECT lang, count(*) AS n_tokens,
                            count(DISTINCT term) AS n_terms
                          FROM tk GROUP BY lang)
               SELECT pri.lang, pri.n_docs, ctot.n_tokens, ctot.n_terms,
                 round(CAST(CAST(ln(CAST(pri.n_docs AS DOUBLE) / na.n_all) AS REAL) AS DOUBLE), 6) AS log_prior
               FROM pri JOIN ctot ON pri.lang = ctot.lang CROSS JOIN na
               ORDER BY pri.lang""")),

    QueryDef(
      "ml_nb_predict",
      // MultinomialNB.predict [R]: argmax over classes of log prior +
      // Σ_term count·ln((cnt+1)/(tot+V)), emitted as the actual×predicted
      // confusion matrix. Determinism: each ln is REAL-collapsed (libm
      // last-ulp differences vanish at float precision), every addend is
      // cast to DECIMAL(30,12) and summed EXACTLY, and the argmax compares
      // those decimals directly — no decimal→double cast anywhere in the
      // ranking, so the winner is bit-identical cross-engine. Scale: the
      // scoring join is (doc, term, m) ⨯ 5 broadcast classes, equi-joined
      // on (term, class) against the count table — shuffle key = term.
      (s, dir) => {
        val tk = toks(s, dir)
        val dt = tk.groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("m"))
        val cnt0 = tk.groupBy(col("lang").as("c_lang"), col("term").as("c_term"))
          .agg(count(lit(1)).as("cnt"))
        val classes = tk.groupBy(col("lang").as("c_lang")).agg(count(lit(1)).as("tot"))
          .crossJoin(tk.agg(countDistinct(col("term")).as("v")))
        val nAll = T.documents(s, dir).agg(count(lit(1)).as("n_all"))
        val pri = T.documents(s, dir).groupBy(col("lang").as("c_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(nAll))
          .select(col("c_lang"),
            expr("CAST(CAST(CAST(ln(CAST(n_docs AS DOUBLE) / n_all) AS FLOAT) AS DOUBLE) AS DECIMAL(30,12))")
              .as("lpri"))
        val scored = dt.crossJoin(broadcast(classes))
          .join(cnt0,
            dt("term") === cnt0("c_term") && classes("c_lang") === cnt0("c_lang"),
            "left")
          .select(dt("doc_id"), dt("lang"), classes("c_lang"),
            (col("m").cast("double") *
              expr(lnLik.replace("cnt", "coalesce(cnt, 0)"))).as("addend"))
          .groupBy("doc_id", "lang", "c_lang")
          .agg(T.xsumD(col("addend")).as("sc"))
          .join(broadcast(pri), "c_lang")
          .select(col("doc_id"), col("lang"), col("c_lang"),
            (col("sc") + col("lpri")).as("total"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("total").desc, col("c_lang").asc)
        scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .groupBy(col("lang").as("actual"), col("c_lang").as("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("actual", "pred")
      },
      Some(s"""WITH $sqlToks,
                 dt AS (SELECT doc_id, lang, term, count(*) AS m
                        FROM tk GROUP BY doc_id, lang, term),
                 cnt0 AS (SELECT lang AS c_lang, term, count(*) AS cnt
                          FROM tk GROUP BY lang, term),
                 cls AS (SELECT c_lang, tot, v FROM
                           (SELECT lang AS c_lang, count(*) AS tot FROM tk GROUP BY lang) a
                           CROSS JOIN (SELECT count(DISTINCT term) AS v FROM tk) b),
                 pri AS (SELECT d.lang AS c_lang,
                     CAST(CAST(CAST(ln(CAST(count(*) AS DOUBLE) / max(na.n_all)) AS REAL) AS DOUBLE) AS DECIMAL(30,12)) AS lpri
                   FROM documents d CROSS JOIN (SELECT count(*) AS n_all FROM documents) na
                   GROUP BY d.lang),
                 sc AS (SELECT dt.doc_id, dt.lang, cls.c_lang,
                     sum(CAST(CAST(dt.m AS DOUBLE) *
                       ${sqlLnLik.replace("cnt", "coalesce(cnt0.cnt, 0)")}
                       AS DECIMAL(30,12))) AS sc
                   FROM dt CROSS JOIN cls
                   LEFT JOIN cnt0 ON cnt0.c_lang = cls.c_lang AND cnt0.term = dt.term
                   GROUP BY dt.doc_id, dt.lang, cls.c_lang),
                 tot AS (SELECT sc.doc_id, sc.lang, sc.c_lang, sc.sc + pri.lpri AS total
                         FROM sc JOIN pri ON pri.c_lang = sc.c_lang),
                 pred AS (SELECT doc_id, lang, c_lang FROM (
                     SELECT doc_id, lang, c_lang,
                       row_number() OVER (PARTITION BY doc_id
                         ORDER BY total DESC, c_lang ASC) AS rn
                     FROM tot) t WHERE rn = 1)
               SELECT lang AS actual, c_lang AS pred, count(*) AS n
               FROM pred GROUP BY lang, c_lang ORDER BY actual, pred""")),

    QueryDef(
      "ml_nb_complement",
      // cuml.naive_bayes ComplementNB [R] — the imbalance-robust sibling
      // of MultinomialNB: class weights are fitted on the COMPLEMENT
      // counts (every class's statistics come from all the OTHER classes'
      // tokens), and predict is argmin_c Σ_term m·ln((cc+1)/(totc+V))
      // (sklearn's norm=False form negates the logged weights, so the
      // argmax of the joint likelihood is the argmin of the complement
      // form; CNB uses no class prior). Complement counts derive from the
      // SAME (class, term) count table as MultinomialNB plus one per-term
      // total — cc = total(term) − cnt(c, term), so the fit adds one
      // term-keyed aggregate, not a second corpus pass. Determinism: all
      // counts exact BIGINTs, each ln REAL-collapsed, addends summed in
      // DECIMAL(30,12), and the argmin compares those decimals directly
      // (the ml_nb_predict discipline). Scale: scoring is the same
      // (term, class)-keyed inverted-index equi-join — never n².
      (s, dir) => {
        val tk = toks(s, dir)
        val dt = tk.groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("m"))
        val cnt0 = tk.groupBy(col("lang").as("c_lang"), col("term").as("c_term"))
          .agg(count(lit(1)).as("cnt"))
        val ttot = tk.groupBy("term").agg(count(lit(1)).as("tt"))
        val classes = tk.groupBy(col("lang").as("c_lang")).agg(count(lit(1)).as("tot"))
          .crossJoin(tk.agg(countDistinct(col("term")).as("v"),
            count(lit(1)).as("ta")))
        val scored = dt.join(ttot, "term")
          .crossJoin(broadcast(classes))
          .join(cnt0,
            dt("term") === cnt0("c_term") && classes("c_lang") === cnt0("c_lang"),
            "left")
          .select(dt("doc_id"), dt("lang"), classes("c_lang"),
            (col("m").cast("double") *
              expr(lnComp.replace("cnt", "coalesce(cnt, 0)"))).as("addend"))
          .groupBy("doc_id", "lang", "c_lang")
          .agg(T.xsumD(col("addend")).as("total"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("total").asc, col("c_lang").asc)
        scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .groupBy(col("lang").as("actual"), col("c_lang").as("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("actual", "pred")
      },
      Some(s"""WITH $sqlToks,
                 dt AS (SELECT doc_id, lang, term, count(*) AS m
                        FROM tk GROUP BY doc_id, lang, term),
                 cnt0 AS (SELECT lang AS c_lang, term, count(*) AS cnt
                          FROM tk GROUP BY lang, term),
                 ttot AS (SELECT term, count(*) AS tt FROM tk GROUP BY term),
                 cls AS (SELECT c_lang, tot, v, ta FROM
                           (SELECT lang AS c_lang, count(*) AS tot FROM tk GROUP BY lang) a
                           CROSS JOIN (SELECT count(DISTINCT term) AS v,
                                              count(*) AS ta FROM tk) b),
                 sc AS (SELECT dt.doc_id, dt.lang, cls.c_lang,
                     sum(CAST(CAST(dt.m AS DOUBLE) *
                       ${sqlLnComp.replace("cnt", "coalesce(cnt0.cnt, 0)")}
                       AS DECIMAL(30,12))) AS total
                   FROM dt JOIN ttot ON ttot.term = dt.term
                   CROSS JOIN cls
                   LEFT JOIN cnt0 ON cnt0.c_lang = cls.c_lang AND cnt0.term = dt.term
                   GROUP BY dt.doc_id, dt.lang, cls.c_lang),
                 pred AS (SELECT doc_id, lang, c_lang FROM (
                     SELECT doc_id, lang, c_lang,
                       row_number() OVER (PARTITION BY doc_id
                         ORDER BY total ASC, c_lang ASC) AS rn
                     FROM sc) t WHERE rn = 1)
               SELECT lang AS actual, c_lang AS pred, count(*) AS n
               FROM pred GROUP BY lang, c_lang ORDER BY actual, pred""")),

    QueryDef(
      "ml_tree_gini",
      // DecisionTree split search (the per-node step of cuml.dask.ensemble
      // RandomForest [R]): exhaustive candidate grid over (feature,
      // threshold), weighted gini impurity from one pass of conditional
      // counts, best split per feature. Each row is binned once into the
      // [[splitHist]] histogram — at most 800 cells per task reach the
      // shuffle regardless of corpus size — and the 25 candidates' counts
      // are summed from it on one partition.
      (s, dir) => {
        val best = Window.partitionBy(col("feature"))
          .orderBy(col("gini").asc, col("thr").asc)
        splitCounts(feats(s, dir), Seq.empty)
          .withColumn("gini", expr(giniExpr))
          .withColumn("rn", row_number().over(best)).where(col("rn") === 1)
          .select(col("feature"), col("thr").as("threshold"),
            round(col("gini"), 6).as("gini"),
            col("nl").as("n_left"), col("posl").as("pos_left"),
            (col("n") - col("nl")).as("n_right"),
            (col("pos") - col("posl")).as("pos_right"))
          .orderBy("gini", "feature")
      },
      Some(s"""WITH $sqlFeats, $sqlGrid,
                 sc AS (${sqlSplitCounts("l", "")}),
                 g AS (SELECT *, $giniExpr AS gini FROM sc),
                 b AS (SELECT * FROM (
                     SELECT *, row_number() OVER (PARTITION BY feature
                       ORDER BY gini ASC, thr ASC) AS rn FROM g) t
                   WHERE rn = 1)
               SELECT feature, thr AS threshold, round(gini, 6) AS gini,
                 nl AS n_left, posl AS pos_left,
                 n - nl AS n_right, pos - posl AS pos_right
               FROM b ORDER BY gini, feature""")),

    QueryDef(
      "ml_tree_depth2",
      // Depth-2 DecisionTree fit (r8 — VERDICT r7 #3: the distributed-
      // histogram recursion cuML RandomForest [R] runs per level): level 1
      // picks the global best gini split from ONE conditional-count pass;
      // the 1-row winner BROADCASTS back (no driver round trip) to tag
      // every row with its child node, and level 2 re-runs the same grid
      // search per node in ONE more pass — per-level cost is one
      // [[splitHist]] histogram pass whose map output is at most
      // 800·|nodes| cells per task regardless of corpus size, exactly the
      // recursion a deeper tree repeats. Output: the fitted tree as
      // (node, split, gini, leaf counts) rows; depth-3+ iterates the same
      // broadcast-tag-and-search step. The fit itself is the memoized
      // [[treeStats]] (shared with ml_tree_depth3 / ml_shap_kernel since
      // r14); this query's remaining plan is arithmetic over the three
      // exact-count winner rows, with gini re-derived by the SAME shared
      // expression text the in-plan search used.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        treeStats(s, dir).toSeq
          .map(p => (if (p.node.isEmpty) "root" else p.node,
            p.feature, p.thr, p.n, p.pos, p.nl, p.posl))
          .toDF("node", "feature", "thr", "n", "pos", "nl", "posl")
          .withColumn("gini", expr(giniExpr))
          .selectExpr("node", "feature", "thr AS threshold",
            "round(gini, 6) AS gini", "nl AS n_left", "posl AS pos_left",
            "n - nl AS n_right", "pos - posl AS pos_right")
          .orderBy("node")
      },
      Some(s"""WITH $sqlFeats, $sqlGrid,
                 sc1 AS (${sqlSplitCounts("l", "")}),
                 g1 AS (SELECT *, $giniExpr AS gini FROM sc1),
                 b1 AS (SELECT feature AS f1, thr AS t1, gini AS gini1,
                     n AS n1, pos AS pos1, nl AS nl1, posl AS posl1
                   FROM (SELECT *, row_number() OVER (ORDER BY gini ASC,
                       feature ASC, thr ASC) AS rn FROM g1) t WHERE rn = 1),
                 l2 AS (SELECT l.*, CASE WHEN (CASE f1 WHEN 'quantity' THEN q
                       WHEN 'discount' THEN d ELSE t END) <= t1
                     THEN 'L' ELSE 'R' END AS node
                   FROM l CROSS JOIN b1),
                 sc2 AS (${sqlSplitCounts("l2", "node, ")}),
                 g2 AS (SELECT *, $giniExpr AS gini FROM sc2),
                 b2 AS (SELECT * FROM (SELECT *, row_number() OVER (
                       PARTITION BY node ORDER BY gini ASC, feature ASC,
                       thr ASC) AS rn FROM g2) t WHERE rn = 1)
               SELECT * FROM (
                 SELECT 'root' AS node, f1 AS feature, t1 AS threshold,
                   round(gini1, 6) AS gini, nl1 AS n_left, posl1 AS pos_left,
                   n1 - nl1 AS n_right, pos1 - posl1 AS pos_right FROM b1
                 UNION ALL
                 SELECT node, feature, thr AS threshold, round(gini, 6) AS gini,
                   nl AS n_left, posl AS pos_left,
                   n - nl AS n_right, pos - posl AS pos_right FROM b2) u
               ORDER BY node""")),

    QueryDef(
      "ml_tree_depth3",
      // Depth-3 DecisionTree fit — the proof that ml_tree_depth2's
      // broadcast-tag-and-search recursion iterates: level 3 re-tags every
      // row with its depth-2 node (root branch ++ level-2 branch, via the
      // 2-row broadcast of the level-2 winners) and runs the SAME grid
      // search per node in ONE more pass. Per-level cost stays one
      // [[splitHist]] histogram pass whose map output is at most
      // 800·|nodes| cells per task (4 nodes here) regardless of corpus
      // size — the distributed-histogram recursion cuML RandomForest [R]
      // runs to max_depth.
      // Output: the full 7-node fitted tree. Levels 1–2 come from the
      // memoized [[treeStats]] fit (shared with ml_tree_depth2 /
      // ml_shap_kernel since r14) and re-enter as exact literals to tag
      // each row's depth-2 node, so only the level-3 grid search still
      // touches the corpus — ONE histogram pass instead of three.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val st = treeStats(s, dir)
        val root = st.find(_.node.isEmpty).get
        val lw = st.find(_.node == "L").get
        val rw = st.find(_.node == "R").get
        val l3 = feats(s, dir)
          .withColumn("node", expr(
            s"CASE WHEN ${xOf(root.feature)} <= ${D(root.thr)} THEN 'L' ELSE 'R' END"))
          .withColumn("node2", expr(
            s"""concat(node, CASE WHEN node = 'L'
                THEN (CASE WHEN ${xOf(lw.feature)} <= ${D(lw.thr)} THEN 'L' ELSE 'R' END)
                ELSE (CASE WHEN ${xOf(rw.feature)} <= ${D(rw.thr)} THEN 'L' ELSE 'R' END) END)"""))
        val w3 = Window.partitionBy(col("node2"))
          .orderBy(col("gini").asc, col("feature").asc, col("thr").asc)
        val b3 = splitCounts(l3, Seq("node2"))
          .withColumn("gini", expr(giniExpr))
          .withColumn("rn", row_number().over(w3)).where(col("rn") === 1)
        val upper = Seq(root, lw, rw)
          .map(p => (if (p.node.isEmpty) "root" else p.node,
            p.feature, p.thr, p.n, p.pos, p.nl, p.posl))
          .toDF("node", "feature", "thr", "n", "pos", "nl", "posl")
          .withColumn("gini", expr(giniExpr))
        def leafCols(src: DataFrame, nodeExpr: String) =
          src.selectExpr(s"$nodeExpr AS node", "feature", "thr AS threshold",
            "round(gini, 6) AS gini", "nl AS n_left", "posl AS pos_left",
            "n - nl AS n_right", "pos - posl AS pos_right")
        leafCols(upper, "node")
          .unionAll(leafCols(b3, "node2"))
          .orderBy("node")
      },
      Some(s"""WITH $sqlFeats, $sqlGrid,
                 sc1 AS (${sqlSplitCounts("l", "")}),
                 g1 AS (SELECT *, $giniExpr AS gini FROM sc1),
                 b1 AS (SELECT * FROM (SELECT *, row_number() OVER (
                       ORDER BY gini ASC, feature ASC, thr ASC) AS rn
                     FROM g1) t WHERE rn = 1),
                 l2 AS (SELECT l.*, CASE WHEN (CASE f1 WHEN 'quantity' THEN q
                       WHEN 'discount' THEN d ELSE t END) <= t1
                     THEN 'L' ELSE 'R' END AS node
                   FROM l CROSS JOIN (SELECT feature AS f1, thr AS t1 FROM b1) bb),
                 sc2 AS (${sqlSplitCounts("l2", "node, ")}),
                 g2 AS (SELECT *, $giniExpr AS gini FROM sc2),
                 b2 AS (SELECT * FROM (SELECT *, row_number() OVER (
                       PARTITION BY node ORDER BY gini ASC, feature ASC,
                       thr ASC) AS rn FROM g2) t WHERE rn = 1),
                 l3 AS (SELECT l2.*, node || CASE WHEN (CASE f2
                       WHEN 'quantity' THEN q WHEN 'discount' THEN d
                       ELSE t END) <= t2 THEN 'L' ELSE 'R' END AS node2
                   FROM l2 JOIN (SELECT node, feature AS f2, thr AS t2
                     FROM b2) b2s USING (node)),
                 sc3 AS (${sqlSplitCounts("l3", "node2, ")}),
                 g3 AS (SELECT *, $giniExpr AS gini FROM sc3),
                 b3 AS (SELECT * FROM (SELECT *, row_number() OVER (
                       PARTITION BY node2 ORDER BY gini ASC, feature ASC,
                       thr ASC) AS rn FROM g3) t WHERE rn = 1)
               SELECT * FROM (
                 SELECT 'root' AS node, feature, thr AS threshold,
                   round(gini, 6) AS gini, nl AS n_left, posl AS pos_left,
                   n - nl AS n_right, pos - posl AS pos_right FROM b1
                 UNION ALL
                 SELECT node, feature, thr AS threshold, round(gini, 6) AS gini,
                   nl AS n_left, posl AS pos_left,
                   n - nl AS n_right, pos - posl AS pos_right FROM b2
                 UNION ALL
                 SELECT node2, feature, thr AS threshold, round(gini, 6) AS gini,
                   nl AS n_left, posl AS pos_left,
                   n - nl AS n_right, pos - posl AS pos_right FROM b3) u
               ORDER BY node""")),

    QueryDef(
      "ml_rf_predict",
      // cuml.dask.ensemble RandomForestClassifier [R], the MNMG shape:
      // the reference trains independent sub-forests on each partition's
      // data and predicts by merged vote. Here (r8, rebased from depth-1
      // stumps per VERDICT r7 #3): 8 affine-hash shards each fit a
      // DEPTH-2 gini tree by the ml_tree_depth2 recursion — level 1 is
      // one histogram pass (at most 8·800 cells per task), the 8 winners
      // tag nodes, level 2 is one more (16·800) —
      // so the whole forest fit is TWO passes at any corpus size. The 8
      // fitted trees become DRIVER-HELD literals (client-held model
      // state); each tree routes a row to one of its 4 leaves and votes R
      // when that leaf's positive rate beats the 1/3 base rate — integer
      // arithmetic end-to-end — and scoring derives from the session's
      // shared [[rfScoreHist]] leaf-code histogram (r14: predict/oob/proba
      // each ran their own full-corpus scan; one pinned pass now serves
      // all three). Every aggregate here is an order-free integer sum
      // over the histogram, so the values are bit-identical to the
      // raw-row scan the oracle still runs.
      // Output: votes → (n, actual R rate) calibration.
      (s, dir) => {
        val votes = rfTrees(s, dir).map {
          case (sh, _, _, _, _, vll, vlr, _, _, vrl, vrr) =>
            leafCase(sh, s"$vll", s"$vlr", s"$vrl", s"$vrr")
        }.mkString(" + ")
        rfScoreHist(s, dir)
          .select(col("y"), col("cnt"), expr(votes).as("votes"))
          .groupBy("votes")
          .agg(sum(col("cnt")).as("n"),
            round(sum(col("y") * col("cnt")).cast("double") / sum(col("cnt")), 6)
              .as("actual_rate"))
          .orderBy("votes")
      },
      rfPredictOracle),

    QueryDef(
      "ml_rf_oob",
      // Out-of-bag error for the sharded forest (cuML RandomForest's
      // oob_score companion [R], in the MNMG partition-bag form): each of
      // the 8 trees trained on ONE affine-hash shard, so every row is
      // in-bag for exactly its own shard's tree and OUT-of-bag for the
      // other 7 — its OOB prediction is the majority of those 7 votes
      // (7 is odd: no tie rule needed), an unbiased test-error estimate
      // with zero extra fitting (the fit is the SAME driver-held literal
      // table as ml_rf_predict, shared through the fit memo). Scoring
      // derives from the shared [[rfScoreHist]] leaf-code histogram
      // (r14) — the row's shard picks which 7 tree leaf-codes count, all
      // integer arithmetic over the KB-sized pinned frame. Output: the
      // 2×2 OOB confusion matrix with per-cell share — the oob_score_
      // surface.
      (s, dir) => {
        val votes = rfTrees(s, dir).map {
          case (sh, _, _, _, _, vll, vlr, _, _, vrl, vrr) =>
            s"(CASE WHEN shard = $sh THEN 0 ELSE " +
              leafCase(sh, s"$vll", s"$vlr", s"$vrl", s"$vrr") + " END)"
        }.mkString(" + ")
        val scored = rfScoreHist(s, dir)
          .select(col("y"), col("cnt"), expr(votes).as("v"))
          .selectExpr("y", "cnt", "CASE WHEN v * 2 > 7 THEN 1 ELSE 0 END AS oob_pred")
        val tot = scored.agg(sum(col("cnt")).as("n_total"))
        scored.groupBy("y", "oob_pred")
          .agg(sum(col("cnt")).as("n"))
          .crossJoin(broadcast(tot))
          .selectExpr("y", "oob_pred", "n",
            "round(CAST(n AS DOUBLE) / n_total, 6) AS share")
          .orderBy("y", "oob_pred")
      },
      Some(s"""WITH $sqlFeats, $sqlGrid,
                 sh AS (SELECT *, $shardExpr AS shard FROM l),
                 sc1 AS (${sqlSplitCounts("sh", "shard, ")}),
                 g1 AS (SELECT *, $giniExpr AS gini FROM sc1),
                 b1 AS (SELECT shard, feature AS f1, thr AS t1
                   FROM (SELECT *, row_number() OVER (PARTITION BY shard
                       ORDER BY gini ASC, feature ASC, thr ASC) AS rn
                     FROM g1 WHERE nl > 0 AND n - nl > 0 AND $mtryExpr) t
                   WHERE rn = 1),
                 l2 AS (SELECT sh.*, CASE WHEN (CASE f1 WHEN 'quantity' THEN q
                       WHEN 'discount' THEN d ELSE t END) <= t1
                     THEN 'L' ELSE 'R' END AS node
                   FROM sh JOIN b1 USING (shard)),
                 sc2 AS (${sqlSplitCounts("l2", "shard, node, ")}),
                 g2 AS (SELECT *, $giniExpr AS gini FROM sc2),
                 b2 AS (SELECT shard, node, feature AS f2, thr AS t2,
                     CASE WHEN posl * 3 > nl THEN 1 ELSE 0 END AS vl,
                     CASE WHEN (pos - posl) * 3 > (n - nl) THEN 1 ELSE 0 END AS vr
                   FROM (SELECT *, row_number() OVER (PARTITION BY shard, node
                       ORDER BY gini ASC, feature ASC, thr ASC) AS rn
                     FROM g2 WHERE $mtryExpr) t
                   WHERE rn = 1),
                 tr AS (SELECT b1.shard, f1, t1,
                     max(CASE WHEN node = 'L' THEN f2 END) AS f2l,
                     max(CASE WHEN node = 'L' THEN t2 END) AS t2l,
                     max(CASE WHEN node = 'L' THEN vl END) AS vll,
                     max(CASE WHEN node = 'L' THEN vr END) AS vlr,
                     max(CASE WHEN node = 'R' THEN f2 END) AS f2r,
                     max(CASE WHEN node = 'R' THEN t2 END) AS t2r,
                     max(CASE WHEN node = 'R' THEN vl END) AS vrl,
                     max(CASE WHEN node = 'R' THEN vr END) AS vrr
                   FROM b1 JOIN b2 USING (shard)
                   GROUP BY b1.shard, f1, t1),
                 scored AS (SELECT sh.y,
                     (SELECT CAST(sum(CASE WHEN (CASE tr.f1
                           WHEN 'quantity' THEN sh.q WHEN 'discount' THEN sh.d
                           ELSE sh.t END) <= tr.t1
                         THEN (CASE WHEN (CASE tr.f2l
                             WHEN 'quantity' THEN sh.q WHEN 'discount' THEN sh.d
                             ELSE sh.t END) <= tr.t2l THEN tr.vll ELSE tr.vlr END)
                         ELSE (CASE WHEN (CASE tr.f2r
                             WHEN 'quantity' THEN sh.q WHEN 'discount' THEN sh.d
                             ELSE sh.t END) <= tr.t2r THEN tr.vrl ELSE tr.vrr END)
                         END) AS INT)
                      FROM tr WHERE tr.shard <> sh.shard) AS v
                   FROM sh),
                 pr AS (SELECT y, CASE WHEN v * 2 > 7 THEN 1 ELSE 0 END AS oob_pred
                        FROM scored),
                 tot AS (SELECT count(*) AS n_total FROM pr)
               SELECT y, oob_pred, count(*) AS n,
                 round(CAST(count(*) AS DOUBLE) / any_value(n_total), 6) AS share
               FROM pr CROSS JOIN tot
               GROUP BY y, oob_pred ORDER BY y, oob_pred""")),

    QueryDef(
      "ml_nb_gaussian",
      // GaussianNB (cuml.naive_bayes.GaussianNB [R]) fit + probe score on
      // the continuous lineitem features (quantity, discount) per
      // returnflag class: class-conditional mean and MLE variance from ONE
      // map-side-combined moment pass on the exact-decimal wire, plus the
      // joint log-density of a fixed probe point (q=25, d=0.05) — the
      // score GaussianNB.predict ranks. Determinism: means/variances are
      // ratios of exact decimal moments (identical doubles), each ln is
      // REAL-collapsed, and the density text is shared verbatim, so every
      // double op runs in the same sequence cross-engine. Scale: one
      // aggregation, 3 groups; the probe scoring runs on the 3-row model.
      (s, dir) => {
        val m = T.lineitem(s, dir)
          .select(col("l_returnflag").as("cls"),
            col("l_quantity").as("q"), col("l_discount").as("d"))
          .transform(T.fanOut(_))
          .groupBy("cls")
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("q")).as("sq"), T.xsum(col("q") * col("q")).as("sqq"),
            T.xsum(col("d")).as("sd"), T.xsum(col("d") * col("d")).as("sdd"))
        val tot = m.agg(sum(col("n")).as("n_all"))
        m.crossJoin(broadcast(tot))
          .selectExpr("cls", "n", "n_all",
            "sq / n AS mq", "sqq / n - (sq / n) * (sq / n) AS vq",
            "sd / n AS md", "sdd / n - (sd / n) * (sd / n) AS vd")
          .selectExpr("cls", "CAST(n AS BIGINT) AS n",
            "round(mq, 6) AS mean_q", "round(vq, 6) AS var_q",
            "round(md, 6) AS mean_d", "round(vd, 6) AS var_d",
            s"""round(${rc("n / n_all", real = false)}
                 + (-5e-1 * ${rc("6.283185307179586e0 * vq", real = false)} - (25e0 - mq) * (25e0 - mq) / (2e0 * vq))
                 + (-5e-1 * ${rc("6.283185307179586e0 * vd", real = false)} - (5e-2 - md) * (5e-2 - md) / (2e0 * vd)), 6) AS logp_probe""")
          .orderBy("cls")
      },
      Some(s"""WITH g AS (SELECT l_returnflag AS cls,
                     CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum("l_quantity")} AS sq,
                     ${T.sqlXsum("l_quantity * l_quantity")} AS sqq,
                     ${T.sqlXsum("l_discount")} AS sd,
                     ${T.sqlXsum("l_discount * l_discount")} AS sdd
                   FROM lineitem GROUP BY l_returnflag),
                 m AS (SELECT cls, n, sum(n) OVER () AS n_all,
                     sq / n AS mq, sqq / n - (sq / n) * (sq / n) AS vq,
                     sd / n AS md, sdd / n - (sd / n) * (sd / n) AS vd
                   FROM g)
               SELECT cls, CAST(n AS BIGINT) AS n,
                 round(mq, 6) AS mean_q, round(vq, 6) AS var_q,
                 round(md, 6) AS mean_d, round(vd, 6) AS var_d,
                 round(${rc("n / n_all", real = true)}
                   + (-5e-1 * ${rc("6.283185307179586e0 * vq", real = true)} - (25e0 - mq) * (25e0 - mq) / (2e0 * vq))
                   + (-5e-1 * ${rc("6.283185307179586e0 * vd", real = true)} - (5e-2 - md) * (5e-2 - md) / (2e0 * vd)), 6) AS logp_probe
               FROM m ORDER BY cls""")),

    QueryDef(
      "ml_nb_bernoulli",
      // BernoulliNB (cuml.naive_bayes.BernoulliNB [R]): term PRESENCE
      // features with the absent-term mass folded into a per-class
      // constant — score(d, c) = ln prior + K_c + Σ_{t∈d} [ln p_tc −
      // ln(1−p_tc)], K_c = Σ_{t∈V} ln(1−p_tc), p_tc Laplace-smoothed
      // (df+1)/(n_c+2). K_c splits into the seen-term sum plus
      // (V−V_c)·ln(1−1/(n_c+2)) for the zero-df tail, so NO dense
      // vocab×class frame ever materializes — the 100 TB shape: the
      // (term, class) df table stays distributed, scoring is one equi-join
      // on term. Determinism: every ln REAL-collapsed, every sum exact
      // DECIMAL(30,12), argmax compares decimals (the ml_nb_predict
      // discipline). Output: actual×predicted confusion matrix.
      (s, dir) => {
        val dt = toks(s, dir).select("doc_id", "lang", "term").distinct()
        val df0 = dt.groupBy(col("lang").as("c_lang"), col("term").as("c_term"))
          .agg(count(lit(1)).as("df"))
        val ncls = T.documents(s, dir).groupBy(col("lang").as("c_lang"))
          .agg(count(lit(1)).as("nc"))
        val voc = dt.select("term").distinct().agg(count(lit(1)).as("v"))
        val kc = df0.join(broadcast(ncls), "c_lang")
          .groupBy("c_lang")
          .agg(T.xsumD(expr(rc("1e0 - (df + 1e0) / (nc + 2e0)", real = false))).as("kp"),
            count(lit(1)).as("vc"))
          .join(broadcast(ncls), "c_lang").crossJoin(broadcast(voc))
          .select(col("c_lang"), (col("kp") +
            expr(s"CAST(CAST(v - vc AS DOUBLE) * ${rc("1e0 - 1e0 / (nc + 2e0)", real = false)} AS DECIMAL(30,12))"))
            .as("kc"))
        val nAll = T.documents(s, dir).agg(count(lit(1)).as("n_all"))
        val pri2 = T.documents(s, dir).groupBy(col("lang").as("c_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .crossJoin(broadcast(nAll))
          .select(col("c_lang"),
            expr(s"CAST(${rc("CAST(n_docs AS DOUBLE) / n_all", real = false)} AS DECIMAL(30,12))").as("lpri"))
        val corr = dt.crossJoin(broadcast(ncls))
          .join(df0,
            dt("term") === df0("c_term") && ncls("c_lang") === df0("c_lang"),
            "left")
          .select(dt("doc_id"), dt("lang"), ncls("c_lang"),
            expr(s"""${rc("(coalesce(df, 0) + 1e0) / (nc + 2e0)", real = false)}
                     - ${rc("1e0 - (coalesce(df, 0) + 1e0) / (nc + 2e0)", real = false)}""").as("addend"))
          .groupBy("doc_id", "lang", "c_lang")
          .agg(T.xsumD(col("addend")).as("corr"))
        val scored = corr.join(broadcast(kc), "c_lang")
          .join(broadcast(pri2), "c_lang")
          .select(col("doc_id"), col("lang"), col("c_lang"),
            (col("corr") + col("kc") + col("lpri")).as("total"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("total").desc, col("c_lang").asc)
        scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .groupBy(col("lang").as("actual"), col("c_lang").as("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("actual", "pred")
      },
      Some(s"""WITH $sqlToks,
                 dt AS (SELECT DISTINCT doc_id, lang, term FROM tk),
                 df0 AS (SELECT lang AS c_lang, term, count(*) AS df
                         FROM dt GROUP BY lang, term),
                 ncls AS (SELECT lang AS c_lang, count(*) AS nc
                          FROM documents GROUP BY lang),
                 voc AS (SELECT count(DISTINCT term) AS v FROM tk),
                 kc AS (SELECT kp.c_lang,
                     kp.kp + CAST(CAST(voc.v - kp.vc AS DOUBLE) *
                       ${rc("1e0 - 1e0 / (nc2.nc + 2e0)", real = true)} AS DECIMAL(30,12)) AS kc
                   FROM (SELECT df0.c_lang,
                       ${T.sqlXsumD(rc("1e0 - (df + 1e0) / (nc + 2e0)", real = true))} AS kp,
                       count(*) AS vc
                     FROM df0 JOIN ncls ON ncls.c_lang = df0.c_lang
                     GROUP BY df0.c_lang) kp
                   JOIN ncls nc2 ON nc2.c_lang = kp.c_lang CROSS JOIN voc),
                 pri AS (SELECT d.lang AS c_lang,
                     CAST(${rc("CAST(count(*) AS DOUBLE) / max(na.n_all)", real = true)} AS DECIMAL(30,12)) AS lpri
                   FROM documents d CROSS JOIN (SELECT count(*) AS n_all FROM documents) na
                   GROUP BY d.lang),
                 corr AS (SELECT dt.doc_id, dt.lang, ncls.c_lang,
                     ${T.sqlXsumD(s"""${rc("(coalesce(df0.df, 0) + 1e0) / (ncls.nc + 2e0)", real = true)}
                       - ${rc("1e0 - (coalesce(df0.df, 0) + 1e0) / (ncls.nc + 2e0)", real = true)}""")} AS corr
                   FROM dt CROSS JOIN ncls
                   LEFT JOIN df0 ON df0.c_lang = ncls.c_lang AND df0.term = dt.term
                   GROUP BY dt.doc_id, dt.lang, ncls.c_lang),
                 tot AS (SELECT corr.doc_id, corr.lang, corr.c_lang,
                     corr.corr + kc.kc + pri.lpri AS total
                   FROM corr JOIN kc ON kc.c_lang = corr.c_lang
                   JOIN pri ON pri.c_lang = corr.c_lang),
                 pred AS (SELECT doc_id, lang, c_lang FROM (
                     SELECT doc_id, lang, c_lang,
                       row_number() OVER (PARTITION BY doc_id
                         ORDER BY total DESC, c_lang ASC) AS rn
                     FROM tot) t WHERE rn = 1)
               SELECT lang AS actual, c_lang AS pred, count(*) AS n
               FROM pred GROUP BY lang, c_lang ORDER BY actual, pred""")),

    QueryDef(
      "ml_rf_regress",
      // cuml.dask.ensemble RandomForestRegressor [R] in the same MNMG
      // merged-vote shape as ml_rf_predict, with the regression split
      // criterion, rebased (r8, VERDICT r7 #3) on DEPTH-2 trees: level 1
      // fits the per-shard variance-reduction split (argmax of
      // Σ_l²/n_l + Σ_r²/n_r from ONE pass of conditional counts + exact
      // integer-cents sums per shard), the 8 winners broadcast back to tag child nodes,
      // and level 2 re-runs the search per (shard, node) in ONE more
      // pass — 4 leaf means per tree. The 8 fitted trees are driver-held
      // literals; the forest predicts the MEAN of the 8 depth-2 leaf
      // means. Scoring is a pure map pass; the output groups by the
      // integer ROOT-BRANCH PATTERN (bit i = shard i's level-1 branch) —
      // exact integer arithmetic, immune to float grouping hazards — and
      // emits the per-pattern MEAN prediction (leaf choice varies within
      // a root pattern) on the exact-decimal wire next to the actual
      // target mean. Leaf means derive from exact integer-cents sums
      // (one shared-text double divide); each row's 8-way mean sums
      // DECIMAL(30,12) leaf terms (order-free) before one double divide.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val trees: Array[(Int, String, String, String, String, String, String, String, String, String, String)] =
          T.memo("rfRegTrees2", s, dir) {
            val sharded = featsR(s, dir).withColumn("shard", expr(shardExpr))
            // the split score from a level's integer-cents moments (see
            // featsR): the cents sums convert to sy/syl through one shared
            // CAST/1e2 text, so level 1 reading the SHARED moments pass
            // (r15 — see rfL1Moments) scores bit-identically to its own pass
            def regScore(moments: DataFrame, extra: Seq[String]): DataFrame =
              moments.selectExpr(extra ++ Seq("feature", "thr", "n", "nl",
                  "CAST(syc AS DOUBLE) / 1e2 AS sy",
                  "CAST(sylc AS DOUBLE) / 1e2 AS syl"): _*)
                .withColumn("score", expr(scoreTextR))
            val w1 = Window.partitionBy(col("shard"))
              .orderBy(col("score").desc, col("feature").asc, col("thr").asc)
            val b1 = regScore(rfL1Moments(s, dir), Seq("shard"))
              // same empty-child guard as the gini forest (ml_gbm_round
              // discipline): an all-one-way winner would NPE the pivot.
              .where("nl > 0 AND n - nl > 0").where(expr(mtryExpr))
              .withColumn("rn", row_number().over(w1)).where(col("rn") === 1)
              .select(col("shard"), col("feature").as("f1"), col("thr").as("t1"))
            val l2 = sharded.join(broadcast(b1), "shard")
              .withColumn("node", expr(
                "CASE WHEN (CASE f1 WHEN 'quantity' THEN q WHEN 'discount' THEN d ELSE t END) <= t1 THEN 'L' ELSE 'R' END"))
            val w2 = Window.partitionBy(col("shard"), col("node"))
              .orderBy(col("score").desc, col("feature").asc, col("thr").asc)
            val b2 = regScore(splitHist(l2, Seq("shard", "node"),
                Seq(Moment("yc", "syc", "sylc", zeroLeft = false))), Seq("shard", "node"))
              .where(expr(mtryExpr))
              .withColumn("rn", row_number().over(w2)).where(col("rn") === 1)
              .selectExpr("shard", "node", "feature AS f2", "thr AS t2",
                "syl / nl AS ml", "(sy - syl) / (n - nl) AS mr")
            def nmax(node: String, c: String) =
              max(when(col("node") === node, col(c)))
            b1.join(
                b2.groupBy("shard").agg(
                  nmax("L", "f2").as("f2l"), nmax("L", "t2").as("t2l"),
                  nmax("L", "ml").as("mll"), nmax("L", "mr").as("mlr"),
                  nmax("R", "f2").as("f2r"), nmax("R", "t2").as("t2r"),
                  nmax("R", "ml").as("mrl"), nmax("R", "mr").as("mrr")),
                "shard")
              .collect()
              .map(r => (r.getInt(0), r.getString(1),
                java.lang.Double.toString(r.getDouble(2)),
                r.getString(3), java.lang.Double.toString(r.getDouble(4)),
                java.lang.Double.toString(r.getDouble(5)),
                java.lang.Double.toString(r.getDouble(6)),
                r.getString(7), java.lang.Double.toString(r.getDouble(8)),
                java.lang.Double.toString(r.getDouble(9)),
                java.lang.Double.toString(r.getDouble(10))))
              .sortBy(_._1)
          }
        val pattern = trees.map { case (sh, f1, t1, _, _, _, _, _, _, _, _) =>
          s"(CASE WHEN ${xOf(f1)} <= $t1 THEN ${1 << sh} ELSE 0 END)"
        }.mkString(" + ")
        val pred = trees.map { case (_, f1, t1, f2l, t2l, mll, mlr, f2r, t2r, mrl, mrr) =>
          s"""CAST((CASE WHEN ${xOf(f1)} <= $t1
               THEN (CASE WHEN ${xOf(f2l)} <= $t2l THEN $mll ELSE $mlr END)
               ELSE (CASE WHEN ${xOf(f2r)} <= $t2r THEN $mrl ELSE $mrr END) END)
             AS DECIMAL(30,12))"""
        }.mkString(" + ")
        featsR(s, dir)
          .select(col("yr"),
            expr(s"CAST($pattern AS BIGINT)").as("pattern"),
            expr(s"CAST(($pred) AS DOUBLE) / 8").as("p"))
          .groupBy("pattern")
          .agg(count(lit(1)).as("n"), T.xsum(col("p")).as("sp"),
            T.xsum(col("yr")).as("sy2"))
          .selectExpr("pattern", "n", "round(sp / n, 6) AS pred",
            "round(sy2 / n, 6) AS actual_mean")
          .orderBy("pattern")
      },
      Some(s"""WITH $sqlFeatsR, $sqlGrid,
                 sh AS (SELECT *, $shardExpr AS shard FROM lr),
                 sc1 AS (SELECT shard, feature, thr, count(*) AS n,
                     CAST(sum(CASE WHEN (CASE feature WHEN 'quantity' THEN q
                           WHEN 'discount' THEN d ELSE t END) <= thr
                         THEN 1 ELSE 0 END) AS BIGINT) AS nl,
                     CAST(sum(yc) AS BIGINT) AS syc,
                     CAST(sum(CASE WHEN (CASE feature WHEN 'quantity' THEN q WHEN 'discount' THEN d ELSE t END) <= thr THEN yc END) AS BIGINT) AS sylc
                   FROM sh CROSS JOIN cand GROUP BY shard, feature, thr),
                 g1 AS (SELECT *, $scoreTextR AS score FROM
                   (SELECT shard, feature, thr, n, nl,
                     CAST(syc AS DOUBLE) / 1e2 AS sy, CAST(sylc AS DOUBLE) / 1e2 AS syl
                   FROM sc1) sb1),
                 b1 AS (SELECT shard, feature AS f1, thr AS t1
                   FROM (SELECT *, row_number() OVER (PARTITION BY shard
                       ORDER BY score DESC, feature ASC, thr ASC) AS rn
                     FROM g1 WHERE nl > 0 AND n - nl > 0 AND $mtryExpr) t
                   WHERE rn = 1),
                 l2 AS (SELECT sh.*, CASE WHEN (CASE f1 WHEN 'quantity' THEN q
                       WHEN 'discount' THEN d ELSE t END) <= t1
                     THEN 'L' ELSE 'R' END AS node
                   FROM sh JOIN b1 USING (shard)),
                 sc2 AS (SELECT shard, node, feature, thr, count(*) AS n,
                     CAST(sum(CASE WHEN (CASE feature WHEN 'quantity' THEN q
                           WHEN 'discount' THEN d ELSE t END) <= thr
                         THEN 1 ELSE 0 END) AS BIGINT) AS nl,
                     CAST(sum(yc) AS BIGINT) AS syc,
                     CAST(sum(CASE WHEN (CASE feature WHEN 'quantity' THEN q WHEN 'discount' THEN d ELSE t END) <= thr THEN yc END) AS BIGINT) AS sylc
                   FROM l2 CROSS JOIN cand GROUP BY shard, node, feature, thr),
                 g2 AS (SELECT *, $scoreTextR AS score FROM
                   (SELECT shard, node, feature, thr, n, nl,
                     CAST(syc AS DOUBLE) / 1e2 AS sy, CAST(sylc AS DOUBLE) / 1e2 AS syl
                   FROM sc2) sb2),
                 b2 AS (SELECT shard, node, feature AS f2, thr AS t2,
                     syl / nl AS ml, (sy - syl) / (n - nl) AS mr
                   FROM (SELECT *, row_number() OVER (PARTITION BY shard, node
                       ORDER BY score DESC, feature ASC, thr ASC) AS rn
                     FROM g2 WHERE $mtryExpr) t
                   WHERE rn = 1),
                 tr AS (SELECT b1.shard, f1, t1,
                     max(CASE WHEN node = 'L' THEN f2 END) AS f2l,
                     max(CASE WHEN node = 'L' THEN t2 END) AS t2l,
                     max(CASE WHEN node = 'L' THEN ml END) AS mll,
                     max(CASE WHEN node = 'L' THEN mr END) AS mlr,
                     max(CASE WHEN node = 'R' THEN f2 END) AS f2r,
                     max(CASE WHEN node = 'R' THEN t2 END) AS t2r,
                     max(CASE WHEN node = 'R' THEN ml END) AS mrl,
                     max(CASE WHEN node = 'R' THEN mr END) AS mrr
                   FROM b1 JOIN b2 USING (shard)
                   GROUP BY b1.shard, f1, t1),
                 scored AS (SELECT lr.yr,
                     (SELECT CAST(sum(CASE WHEN (CASE tr.f1
                           WHEN 'quantity' THEN lr.q WHEN 'discount' THEN lr.d
                           ELSE lr.t END) <= tr.t1
                         THEN CAST(pow(2, tr.shard) AS BIGINT) ELSE 0 END) AS BIGINT)
                      FROM tr) AS pattern,
                     (SELECT CAST(sum(CAST(CASE WHEN (CASE tr.f1
                           WHEN 'quantity' THEN lr.q WHEN 'discount' THEN lr.d
                           ELSE lr.t END) <= tr.t1
                         THEN (CASE WHEN (CASE tr.f2l
                             WHEN 'quantity' THEN lr.q WHEN 'discount' THEN lr.d
                             ELSE lr.t END) <= tr.t2l THEN tr.mll ELSE tr.mlr END)
                         ELSE (CASE WHEN (CASE tr.f2r
                             WHEN 'quantity' THEN lr.q WHEN 'discount' THEN lr.d
                             ELSE lr.t END) <= tr.t2r THEN tr.mrl ELSE tr.mrr END)
                         END AS DECIMAL(30,12))) AS DOUBLE)
                      FROM tr) / 8 AS p
                   FROM lr)
               SELECT pattern, count(*) AS n,
                 round(${T.sqlXsum("p")} / count(*), 6) AS pred,
                 round(${T.sqlXsum("yr")} / count(*), 6) AS actual_mean
               FROM scored GROUP BY pattern ORDER BY pattern""")),

    QueryDef(
      "ml_nb_categorical",
      // CategoricalNB (the naive_bayes family's categorical member, next
      // to multinomial/bernoulli/gaussian/complement): fit on two document
      // categoricals — source and the n_chars DIV 100 length bucket —
      // emitting the fitted model itself: per (feature, category, class)
      // the count and Laplace-smoothed log-probability ln((cnt+1)/(n_c+K_f))
      // over the COMPLETE category×class grid (a zero-count cell still
      // gets its smoothed mass — the left-join + coalesce makes absent
      // combinations explicit), plus the class-prior rows. All counting,
      // cardinality-bounded outputs; ln is REAL-collapsed.
      (s, dir) => {
        val d = T.documents(s, dir).transform(T.fanOut(_))
        val cls = d.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("nc"))
        val nt = d.agg(count(lit(1)).as("nt"))
        def featTab(catExpr: String, name: String): DataFrame = {
          val wc = d.selectExpr(s"$catExpr AS category", "lang AS cls")
          val cnts = wc.groupBy("category", "cls").agg(count(lit(1)).as("cnt"))
          val cats = wc.select("category").distinct()
          val kf = cats.agg(count(lit(1)).as("kf"))
          cats.crossJoin(broadcast(cls))
            .join(cnts, Seq("category", "cls"), "left")
            .na.fill(0L, Seq("cnt"))
            .crossJoin(broadcast(kf))
            .selectExpr(s"'$name' AS feature", "category", "cls", "cnt",
              "CAST(CAST(ln((cnt + 1e0) / (nc + kf)) AS FLOAT) AS DOUBLE) AS lp")
        }
        val priors = cls.crossJoin(broadcast(nt))
          .selectExpr("'_prior' AS feature", "'' AS category", "cls",
            "nc AS cnt",
            "CAST(CAST(ln(CAST(nc AS DOUBLE) / nt) AS FLOAT) AS DOUBLE) AS lp")
        featTab("source", "source")
          .unionAll(featTab("CAST(n_chars DIV 100 AS STRING)", "len_bucket"))
          .unionAll(priors)
          .selectExpr("feature", "category", "cls", "cnt",
            "round(lp, 6) AS log_prob")
          .orderBy("feature", "category", "cls")
      },
      Some("""WITH cls AS (SELECT lang AS cls, count(*) AS nc
                           FROM documents GROUP BY lang),
                tot AS (SELECT count(*) AS nt FROM documents),
                w1 AS (SELECT source AS category, lang AS cls FROM documents),
                c1 AS (SELECT category, cls, count(*) AS cnt
                       FROM w1 GROUP BY category, cls),
                u1 AS (SELECT DISTINCT category FROM w1),
                k1 AS (SELECT count(*) AS kf FROM u1),
                f1 AS (SELECT 'source' AS feature, u1.category, cls.cls,
                    coalesce(c1.cnt, 0) AS cnt, cls.nc, k1.kf
                  FROM u1 CROSS JOIN cls
                  LEFT JOIN c1 ON c1.category = u1.category AND c1.cls = cls.cls
                  CROSS JOIN k1),
                w2 AS (SELECT CAST(n_chars // 100 AS VARCHAR) AS category,
                    lang AS cls FROM documents),
                c2 AS (SELECT category, cls, count(*) AS cnt
                       FROM w2 GROUP BY category, cls),
                u2 AS (SELECT DISTINCT category FROM w2),
                k2 AS (SELECT count(*) AS kf FROM u2),
                f2 AS (SELECT 'len_bucket' AS feature, u2.category, cls.cls,
                    coalesce(c2.cnt, 0) AS cnt, cls.nc, k2.kf
                  FROM u2 CROSS JOIN cls
                  LEFT JOIN c2 ON c2.category = u2.category AND c2.cls = cls.cls
                  CROSS JOIN k2),
                ft AS (SELECT feature, category, cls, cnt,
                    CAST(CAST(ln((cnt + 1e0) / (nc + kf)) AS REAL) AS DOUBLE) AS lp
                  FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2) u
                  UNION ALL
                  SELECT '_prior', '', cls, nc,
                    CAST(CAST(ln(CAST(nc AS DOUBLE) / nt) AS REAL) AS DOUBLE)
                  FROM cls CROSS JOIN tot)
              SELECT feature, category, cls, cnt, round(lp, 6) AS log_prob
              FROM ft ORDER BY feature, category, cls""")),

    QueryDef(
      "ml_fil_predict",
      // The forest-inference path (FIL's contract: the model arrives
      // PRETRAINED and serialized; the engine's whole job is the scoring
      // pass): a fixed literal 4-tree depth-2 regression forest over
      // (quantity, discount, tax) — thresholds and leaf values are
      // literals of the query text, the serialized-model stand-in — scored
      // over lineitem as a PURE MAP (no fit pass, no join, no shuffle
      // until the audit aggregation). Output: per returnflag the forest
      // prediction vs actual mean and the RMSE. Leaf means are integer
      // literals so the per-row prediction is exact; sums ride the exact
      // decimal wire.
      (s, dir) => {
        val pred = "(" +
          "(CASE WHEN q <= 25 THEN CASE WHEN d <= 5e-2 THEN 20000 ELSE 18000 END ELSE CASE WHEN d <= 5e-2 THEN 55000 ELSE 50000 END END) + " +
          "(CASE WHEN q <= 10 THEN 9000 ELSE CASE WHEN q <= 40 THEN 38000 ELSE 68000 END END) + " +
          "(CASE WHEN t <= 4e-2 THEN CASE WHEN q <= 30 THEN 25000 ELSE 60000 END ELSE CASE WHEN q <= 30 THEN 26000 ELSE 62000 END END) + " +
          "(CASE WHEN d <= 2e-2 THEN 40000 ELSE CASE WHEN t <= 6e-2 THEN 36000 ELSE 35000 END END)" +
          ") / 4e0"
        T.lineitem(s, dir).select(
          col("l_returnflag").as("rf"),
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"),
          col("l_tax").cast("double").as("t"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .selectExpr("rf", "y", s"$pred AS p")
          .groupBy("rf")
          .agg(count(lit(1)).as("n"),
            T.xsum(col("p")).as("sp"), T.xsum(col("y")).as("sy"),
            T.xsum((col("p") - col("y")) * (col("p") - col("y"))).as("se"))
          .selectExpr("rf", "n",
            "round(sp / n, 6) AS mean_pred",
            "round(sy / n, 6) AS mean_actual",
            "round(sqrt(se / n), 6) AS rmse")
          .orderBy("rf")
      },
      Some(s"""WITH l AS (SELECT l_returnflag AS rf,
                   CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_discount AS DOUBLE) AS d,
                   CAST(l_tax AS DOUBLE) AS t,
                   CAST(l_extendedprice AS DOUBLE) AS y
                 FROM lineitem),
                 sc AS (SELECT rf, y, (
                     (CASE WHEN q <= 25 THEN CASE WHEN d <= 5e-2 THEN 20000 ELSE 18000 END ELSE CASE WHEN d <= 5e-2 THEN 55000 ELSE 50000 END END) +
                     (CASE WHEN q <= 10 THEN 9000 ELSE CASE WHEN q <= 40 THEN 38000 ELSE 68000 END END) +
                     (CASE WHEN t <= 4e-2 THEN CASE WHEN q <= 30 THEN 25000 ELSE 60000 END ELSE CASE WHEN q <= 30 THEN 26000 ELSE 62000 END END) +
                     (CASE WHEN d <= 2e-2 THEN 40000 ELSE CASE WHEN t <= 6e-2 THEN 36000 ELSE 35000 END END)
                   ) / 4e0 AS p FROM l)
               SELECT rf, count(*) AS n,
                 round(${T.sqlXsum("p")} / count(*), 6) AS mean_pred,
                 round(${T.sqlXsum("y")} / count(*), 6) AS mean_actual,
                 round(sqrt(${T.sqlXsum("(p - y) * (p - y)")} / count(*)), 6) AS rmse
               FROM sc GROUP BY rf ORDER BY rf""")),

    QueryDef(
      "ml_ovr_classifier",
      // OneVsRestClassifier (the multiclass meta-estimator wrapping binary
      // base estimators — the strategy alternative to ml_softmax_multi's
      // multinomial GLM): 3 one-vs-rest least-squares classifiers on
      // (1, quantity, discount), all three solved from ONE moment pass —
      // the shared-Gram trick: X'X is class-independent, only the three
      // X'y_k right-hand sides differ, so the pass collects 6 shared + 9
      // class sums and each binary fit is a closed-form 3×3 Cramer solve
      // (the arDet structure) on the same determinant. Scoring is one map
      // pass: class = argmax of the three linear scores (ties broken
      // A > N > R by the fixed comparison text). Output: the confusion
      // matrix counts. Moments ride the exact decimal wire; every solve
      // and score is shared-text IEEE.
      (s, dir) => {
        val l = T.lineitem(s, dir).select(
          col("l_returnflag").as("rf"),
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"))
          .transform(T.fanOut(_))
        val m = l.agg(
          count(lit(1)).cast("double").as("nd"),
          T.xsum(col("q")).as("s1"), T.xsum(col("d")).as("s2"),
          T.xsum(col("q") * col("q")).as("s11"),
          T.xsum(col("d") * col("d")).as("s22"),
          T.xsum(col("q") * col("d")).as("s12"),
          sum(when(col("rf") === "A", 1L).otherwise(0L)).cast("double").as("sya"),
          T.xsum(when(col("rf") === "A", col("q"))).as("s1ya"),
          T.xsum(when(col("rf") === "A", col("d"))).as("s2ya"),
          sum(when(col("rf") === "N", 1L).otherwise(0L)).cast("double").as("syn"),
          T.xsum(when(col("rf") === "N", col("q"))).as("s1yn"),
          T.xsum(when(col("rf") === "N", col("d"))).as("s2yn"),
          sum(when(col("rf") === "R", 1L).otherwise(0L)).cast("double").as("syr"),
          T.xsum(when(col("rf") === "R", col("q"))).as("s1yr"),
          T.xsum(when(col("rf") === "R", col("d"))).as("s2yr"))
          .selectExpr("*", s"$det3 AS det")
        val solved = Seq("a", "n", "r").foldLeft(m) { (df, k) =>
          val (b0, b1, b2) = cram3(s"sy$k", s"s1y$k", s"s2y$k")
          df.selectExpr("*", s"$b0 AS b0$k", s"$b1 AS b1$k", s"$b2 AS b2$k")
        }.selectExpr("b0a", "b1a", "b2a", "b0n", "b1n", "b2n", "b0r", "b1r", "b2r")
        l.crossJoin(broadcast(solved))
          .selectExpr("rf",
            "b0a + b1a * q + b2a * d AS sa",
            "b0n + b1n * q + b2n * d AS sn",
            "b0r + b1r * q + b2r * d AS sr")
          .selectExpr("rf",
            "CASE WHEN sa >= sn AND sa >= sr THEN 'A' WHEN sn >= sr THEN 'N' ELSE 'R' END AS pred")
          .groupBy("rf", "pred").agg(count(lit(1)).as("n"))
          .orderBy("rf", "pred")
      },
      Some(s"""WITH l AS (SELECT l_returnflag AS rf,
                   CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_discount AS DOUBLE) AS d
                 FROM lineitem),
                 m AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                     ${T.sqlXsum("q")} AS s1, ${T.sqlXsum("d")} AS s2,
                     ${T.sqlXsum("q * q")} AS s11, ${T.sqlXsum("d * d")} AS s22,
                     ${T.sqlXsum("q * d")} AS s12,
                     CAST(sum(CASE WHEN rf = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS sya,
                     ${T.sqlXsum("CASE WHEN rf = 'A' THEN q END")} AS s1ya,
                     ${T.sqlXsum("CASE WHEN rf = 'A' THEN d END")} AS s2ya,
                     CAST(sum(CASE WHEN rf = 'N' THEN 1 ELSE 0 END) AS DOUBLE) AS syn,
                     ${T.sqlXsum("CASE WHEN rf = 'N' THEN q END")} AS s1yn,
                     ${T.sqlXsum("CASE WHEN rf = 'N' THEN d END")} AS s2yn,
                     CAST(sum(CASE WHEN rf = 'R' THEN 1 ELSE 0 END) AS DOUBLE) AS syr,
                     ${T.sqlXsum("CASE WHEN rf = 'R' THEN q END")} AS s1yr,
                     ${T.sqlXsum("CASE WHEN rf = 'R' THEN d END")} AS s2yr
                   FROM l),
                 md AS (SELECT *, $det3 AS det FROM m),
                 ${Seq("a", "n", "r").zipWithIndex.map { case (k, i) =>
                   val (b0, b1, b2) = cram3(s"sy$k", s"s1y$k", s"s2y$k")
                   val src = if (i == 0) "md" else s"sv${i - 1}"
                   s"sv$i AS (SELECT *, $b0 AS b0$k, $b1 AS b1$k, $b2 AS b2$k FROM $src)"
                 }.mkString(",\n                 ")},
                 sc AS (SELECT rf,
                     b0a + b1a * q + b2a * d AS sa,
                     b0n + b1n * q + b2n * d AS sn,
                     b0r + b1r * q + b2r * d AS sr
                   FROM l CROSS JOIN sv2),
                 pr AS (SELECT rf,
                     CASE WHEN sa >= sn AND sa >= sr THEN 'A' WHEN sn >= sr THEN 'N' ELSE 'R' END AS pred
                   FROM sc)
               SELECT rf, pred, count(*) AS n
               FROM pr GROUP BY rf, pred ORDER BY rf, pred""")),

    QueryDef(
      "ml_gbm_round",
      // One gradient-boosting round — the additive-stump primitive under
      // GradientBoosting/XGBoost (whose serialized forests ml_fil_predict
      // already scores; this is the TRAINING step): stage 1 fits the best
      // depth-1 stump on quantity over a candidate split grid, stage 2
      // fits a stump on discount over the stage-1 RESIDUALS. Each stage
      // is ONE conditional moment pass (total + per-candidate left-side
      // sums; the right side is the complement — the ml_ovo additivity
      // trick), the split choice is an argmin over the CANDIDATE-bounded
      // frame, and stage-1's solved one-row frame broadcasts into
      // stage-2's residual expression. Two passes for the whole round —
      // the distributed-histogram shape every scalable GBM uses (the
      // grid IS the histogram bin set). Train MSE is emitted per stage;
      // boosting guarantees it non-increasing (MicroSpec pin). Squared
      // losses at the price scale make the e12 wire the right precision;
      // all picks rank on shared-text doubles.
      (s, dir) => {
        val l = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x1"),
          col("l_discount").cast("double").as("x2"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
        def stumpPick(moments: DataFrame, cands: Seq[Double]): DataFrame = {
          val stackArgs = cands.map(c =>
            s"CAST($c AS DOUBLE), nl_${cs(c)}, sl_${cs(c)}, ssl_${cs(c)}").mkString(", ")
          val w = Window.orderBy(col("sse"), col("c"))
          moments
            .selectExpr("nd", "sy", "syy",
              s"stack(${cands.size}, $stackArgs) AS (c, nl, sl, ssl)")
            .selectExpr("nd", "sy", "syy", "c", "nl", "sl", "ssl",
              "nd - nl AS nr", "sy - sl AS sr", "syy - ssl AS ssr")
            // a candidate that empties one side has no defined stump: its
            // SSE would divide by zero (NaN/NULL rank differs per engine),
            // so such candidates are excluded BEFORE the argmin — the
            // shared-text guard both engines apply identically
            .where("nl > 0 AND nr > 0")
            .selectExpr("nd", "c", "nl", "sl", "nr", "sr",
              "(ssl - sl * sl / nl) + (ssr - sr * sr / nr) AS sse")
            .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
            .selectExpr("c AS split", "sl / nl AS lmean", "sr / nr AS rmean",
              "sse / nd AS mse")
        }
        def momentAggs(x: String, tgt: String, cands: Seq[Double]) =
          Seq(count(lit(1)).cast("double").as("nd"),
            T.xsum(col(tgt)).as("sy"),
            T.xsum(col(tgt) * col(tgt)).as("syy")) ++
          cands.flatMap(c => Seq(
            sum(when(col(x) <= c, 1L).otherwise(0L)).cast("double").as(s"nl_${cs(c)}"),
            T.xsum(when(col(x) <= c, col(tgt))).as(s"sl_${cs(c)}"),
            T.xsum(when(col(x) <= c, col(tgt) * col(tgt))).as(s"ssl_${cs(c)}")))
        val c1 = Seq(10.0, 25.0, 40.0)
        val a1 = momentAggs("x1", "y", c1)
        val st1 = stumpPick(l.agg(a1.head, a1.tail: _*), c1)
          .selectExpr("split AS s1", "lmean AS m1l", "rmean AS m1r", "mse AS mse1")
        val c2 = Seq(0.02, 0.05, 0.08)
        val r = l.crossJoin(broadcast(st1))
          .selectExpr("x2", "y - (CASE WHEN x1 <= s1 THEN m1l ELSE m1r END) AS rres",
            "s1", "m1l", "m1r", "mse1")
        val a2 = momentAggs("x2", "rres", c2) ++ Seq(
          first(col("s1")).as("s1"), first(col("m1l")).as("m1l"),
          first(col("m1r")).as("m1r"), first(col("mse1")).as("mse1"))
        // ONE m2 aggregation feeds both output branches; the identical
        // exchange subtrees dedup via ReuseExchange (the text_langid shape)
        val m2 = r.agg(a2.head, a2.tail: _*)
        val st2 = stumpPick(m2, c2)
        m2.selectExpr("1 AS stage", "'quantity' AS feature",
            "s1 AS split", "m1l AS left_fit", "m1r AS right_fit",
            "round(mse1, 4) AS mse_after")
          .unionAll(st2.selectExpr("2 AS stage", "'discount' AS feature",
            "split", "lmean AS left_fit", "rmean AS right_fit",
            "round(mse, 4) AS mse_after"))
          .selectExpr("stage", "feature", "split",
            "round(left_fit, 6) AS left_fit", "round(right_fit, 6) AS right_fit",
            "mse_after")
          .orderBy("stage")
      },
      Some {
        def arm(cands: Seq[Double], src: String) = cands.map(c =>
          s"SELECT nd, CAST($c AS DOUBLE) AS c, nl_${cs(c)} AS nl, sl_${cs(c)} AS sl, ssl_${cs(c)} AS ssl, sy, syy FROM $src")
          .mkString("\n                       UNION ALL ")
        def momentSql(x: String, tgt: String, cands: Seq[Double], extra: String, from: String) =
          s"""SELECT CAST(count(*) AS DOUBLE) AS nd,
              ${T.sqlXsum(tgt)} AS sy, ${T.sqlXsum(s"$tgt * $tgt")} AS syy,
              ${cands.map(c =>
                s"""CAST(sum(CASE WHEN $x <= $c THEN 1 ELSE 0 END) AS DOUBLE) AS nl_${cs(c)},
              ${T.sqlXsum(s"CASE WHEN $x <= $c THEN $tgt END")} AS sl_${cs(c)},
              ${T.sqlXsum(s"CASE WHEN $x <= $c THEN $tgt * $tgt END")} AS ssl_${cs(c)}""").mkString(",\n              ")}$extra
            FROM $from"""
        def pickSql(u: String) =
          s"""SELECT c AS split, sl / nl AS lmean, (sy - sl) / (nd - nl) AS rmean,
              ((ssl - sl * sl / nl) + ((syy - ssl) - (sy - sl) * (sy - sl) / (nd - nl))) / nd AS mse,
              row_number() OVER (ORDER BY (ssl - sl * sl / nl) + ((syy - ssl) - (sy - sl) * (sy - sl) / (nd - nl)), c) AS rn
            FROM $u
            WHERE nl > 0 AND nd - nl > 0"""
        val c1 = Seq(10.0, 25.0, 40.0)
        val c2 = Seq(0.02, 0.05, 0.08)
        s"""WITH l AS (SELECT CAST(l_quantity AS DOUBLE) AS x1,
                   CAST(l_discount AS DOUBLE) AS x2,
                   CAST(l_extendedprice AS DOUBLE) AS y
                 FROM lineitem),
                 m1 AS (${momentSql("x1", "y", c1, "", "l")}),
                 u1 AS (${arm(c1, "m1")}),
                 p1 AS (${pickSql("u1")}),
                 st1 AS (SELECT split AS s1, lmean AS m1l, rmean AS m1r, mse AS mse1
                         FROM p1 WHERE rn = 1),
                 r AS (SELECT x2,
                     y - (CASE WHEN x1 <= s1 THEN m1l ELSE m1r END) AS rres,
                     s1, m1l, m1r, mse1
                   FROM l CROSS JOIN st1),
                 m2 AS (${momentSql("x2", "rres", c2,
                   """,
              any_value(s1) AS s1, any_value(m1l) AS m1l,
              any_value(m1r) AS m1r, any_value(mse1) AS mse1""", "r")}),
                 u2 AS (${arm(c2, "m2")}),
                 p2 AS (${pickSql("u2")})
               SELECT stage, feature, split,
                 round(left_fit, 6) AS left_fit, round(right_fit, 6) AS right_fit,
                 mse_after
               FROM (
                 SELECT 1 AS stage, 'quantity' AS feature, s1 AS split,
                   m1l AS left_fit, m1r AS right_fit, round(mse1, 4) AS mse_after
                 FROM m2
                 UNION ALL
                 SELECT 2, 'discount', split, lmean, rmean, round(mse, 4)
                 FROM p2 WHERE rn = 1) z
               ORDER BY stage"""
      }),

    QueryDef(
      "ml_ovo_classifier",
      // OneVsOneClassifier [R] — cuml.multiclass's OTHER meta-strategy,
      // next to ml_ovr_classifier: one binary least-squares classifier per
      // class PAIR (AN, AR, NR), majority vote. The distributed trick that
      // makes OvO affordable at scale: each pairwise fit needs moments
      // over only its two classes, and moments are ADDITIVE over disjoint
      // classes — so ONE conditional pass collecting per-class moments
      // (3 classes × 7 sums) yields all three pairwise normal equations by
      // summing class blocks; no per-pair data passes (naive OvO re-scans
      // the data K(K−1)/2 times — the trap). Each pair is a closed-form
      // 3×3 Cramer solve on its own subset determinant; scoring is one map
      // pass: binary vote at the LS 0.5 threshold, majority with the fixed
      // A > N > R tie order. Output: the confusion matrix. Moments ride
      // the exact decimal wire; solves and scores are shared-text IEEE.
      (s, dir) => {
        val l = T.lineitem(s, dir).select(
          col("l_returnflag").as("rf"),
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"))
          .transform(T.fanOut(_))
        val aggCols = Seq("a", "n", "r").flatMap { k =>
          val kc = k.toUpperCase
          Seq(
            sum(when(col("rf") === kc, 1L).otherwise(0L)).cast("double").as(s"n$k"),
            T.xsum(when(col("rf") === kc, col("q"))).as(s"s1$k"),
            T.xsum(when(col("rf") === kc, col("d"))).as(s"s2$k"),
            T.xsum(when(col("rf") === kc, col("q") * col("q"))).as(s"s11$k"),
            T.xsum(when(col("rf") === kc, col("d") * col("d"))).as(s"s22$k"),
            T.xsum(when(col("rf") === kc, col("q") * col("d"))).as(s"s12$k"))
        }
        val m = l.agg(aggCols.head, aggCols.tail: _*)
        val withPairs = ovoPairs.foldLeft(m) { case (df, (i, j)) =>
          df.selectExpr("*" +: ovoPairCols(i, j): _*)
            .selectExpr("*", s"${det3S(s"$i$j")} AS det$i$j")
            .selectExpr("*",
              s"${cram3S(s"$i$j")._1} AS b0$i$j",
              s"${cram3S(s"$i$j")._2} AS b1$i$j",
              s"${cram3S(s"$i$j")._3} AS b2$i$j")
        }
        val solved = withPairs.selectExpr(
          ovoPairs.flatMap { case (i, j) =>
            Seq(s"b0$i$j", s"b1$i$j", s"b2$i$j") }: _*)
        l.crossJoin(broadcast(solved))
          .selectExpr("rf",
            "CASE WHEN b0an + b1an * q + b2an * d >= 0.5 THEN 1 ELSE 0 END AS wa_an",
            "CASE WHEN b0ar + b1ar * q + b2ar * d >= 0.5 THEN 1 ELSE 0 END AS wa_ar",
            "CASE WHEN b0nr + b1nr * q + b2nr * d >= 0.5 THEN 1 ELSE 0 END AS wn_nr")
          .selectExpr("rf",
            "wa_an + wa_ar AS va",
            "(1 - wa_an) + wn_nr AS vn",
            "(1 - wa_ar) + (1 - wn_nr) AS vr")
          .selectExpr("rf",
            "CASE WHEN va >= vn AND va >= vr THEN 'A' WHEN vn >= vr THEN 'N' ELSE 'R' END AS pred")
          .groupBy("rf", "pred").agg(count(lit(1)).as("n"))
          .orderBy("rf", "pred")
      },
      Some(s"""WITH l AS (SELECT l_returnflag AS rf,
                   CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_discount AS DOUBLE) AS d
                 FROM lineitem),
                 m AS (SELECT ${Seq("a", "n", "r").map { k =>
                   val kc = k.toUpperCase
                   s"""CAST(sum(CASE WHEN rf = '$kc' THEN 1 ELSE 0 END) AS DOUBLE) AS n$k,
                     ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN q END")} AS s1$k,
                     ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN d END")} AS s2$k,
                     ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN q * q END")} AS s11$k,
                     ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN d * d END")} AS s22$k,
                     ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN q * d END")} AS s12$k"""
                 }.mkString(",\n                     ")}
                   FROM l),
                 ${ovoPairs.zipWithIndex.map { case ((i, j), ix) =>
                   val src = if (ix == 0) "m" else s"pv${ix - 1}"
                   val cols = ovoPairCols(i, j).mkString(",\n                     ")
                   s"""pc$ix AS (SELECT *, $cols FROM $src),
                 pd$ix AS (SELECT *, ${det3S(s"$i$j")} AS det$i$j FROM pc$ix),
                 pv$ix AS (SELECT *, ${cram3S(s"$i$j")._1} AS b0$i$j,
                     ${cram3S(s"$i$j")._2} AS b1$i$j,
                     ${cram3S(s"$i$j")._3} AS b2$i$j FROM pd$ix)"""
                 }.mkString(",\n                 ")},
                 w AS (SELECT rf,
                     CASE WHEN b0an + b1an * q + b2an * d >= 0.5 THEN 1 ELSE 0 END AS wa_an,
                     CASE WHEN b0ar + b1ar * q + b2ar * d >= 0.5 THEN 1 ELSE 0 END AS wa_ar,
                     CASE WHEN b0nr + b1nr * q + b2nr * d >= 0.5 THEN 1 ELSE 0 END AS wn_nr
                   FROM l CROSS JOIN pv2),
                 v AS (SELECT rf,
                     wa_an + wa_ar AS va,
                     (1 - wa_an) + wn_nr AS vn,
                     (1 - wa_ar) + (1 - wn_nr) AS vr
                   FROM w),
                 pr AS (SELECT rf,
                     CASE WHEN va >= vn AND va >= vr THEN 'A' WHEN vn >= vr THEN 'N' ELSE 'R' END AS pred
                   FROM v)
               SELECT rf, pred, count(*) AS n
               FROM pr GROUP BY rf, pred ORDER BY rf, pred""")),

    QueryDef(
      "ml_scaling_curve",
      // Learning/scaling curve — training-set-size sweep (sklearn
      // learning_curve; the loss-vs-data accounting behind scaling-law
      // fits, Kaplan et al. 2020): OLS of extendedprice on quantity at
      // NESTED 10/25/50/100% training subsets, each point's closed-form
      // fit from conditional sufficient statistics, plus the log-log
      // slope of mse against n fitted over the 4 curve points (the
      // scaling exponent; ≈0 on this homoskedastic fixture — the
      // machinery is the deliverable, like text_pii_redact's zeros).
      // Subsets are a deterministic hash prefix (u = (okey·31+line) mod
      // 1000 < thr), so each smaller set is contained in every larger
      // one — a real learning curve, not 4 disjoint samples. Dataflow:
      // the 4-row threshold dimension broadcasts, rows fan out ×4 into
      // ONE map-side-combined moment pass (n, Σx, Σy, Σxx, Σxy in LONG
      // space after the gram4Long 2-dp canonicalization; Σyy alone needs
      // the decimal wire — y²·rows passes 2⁶³ at sf0.1); the fits and
      // the exponent are scalar expressions over 4 post-aggregation rows
      // (bounded global window, the domain_mix pattern). Determinism:
      // integer/decimal sums exact, the double algebra is shared text,
      // ln REAL-collapsed per row.
      (s, dir) => {
        val thr = s.sql("SELECT * FROM VALUES (100, CAST(0.10 AS DOUBLE)), " +
          "(250, CAST(0.25 AS DOUBLE)), (500, CAST(0.50 AS DOUBLE)), " +
          "(1000, CAST(1.00 AS DOUBLE)) AS t(thr, frac)")
        val base = T.lineitem(s, dir).transform(T.fanOut(_))
          .selectExpr(
            "(l_orderkey * 31 + l_linenumber) % 1000 AS u",
            "CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q",
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y2")
        val m = base.crossJoin(broadcast(thr)).where(col("u") < col("thr"))
          .groupBy("thr", "frac").agg(
            count(lit(1)).as("n"),
            sum(col("q")).as("sq"), sum(col("y2")).as("sy2"),
            sum(col("q") * col("q")).as("sqq"),
            sum(col("q") * col("y2")).as("sqy"),
            sum((col("y2") * col("y2")).cast("decimal(30,0)")).as("syy2"))
        val fit = m.selectExpr("thr", "frac", "n",
            "CAST(n AS DOUBLE) AS nd",
            "CAST(sq AS DOUBLE) AS sx", "CAST(sy2 AS DOUBLE) / 1e2 AS sy",
            "CAST(sqq AS DOUBLE) AS sxx", "CAST(sqy AS DOUBLE) / 1e2 AS sxy",
            "CAST(syy2 AS DOUBLE) / 1e4 AS syy")
          .selectExpr("thr", "frac", "n", "nd", "sx", "sy", "sxx", "sxy", "syy",
            "(nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS b")
          .selectExpr("thr", "frac", "n", "nd", "sy", "sxx", "sxy", "syy", "sx", "b",
            "(sy - b * sx) / nd AS a")
          .selectExpr("thr", "frac", "n", "nd",
            "(syy - 2e0 * b * sxy - 2e0 * a * sy + b * b * sxx + 2e0 * a * b * sx + a * a * nd) / nd AS mse",
            "1e0 - (syy - 2e0 * b * sxy - 2e0 * a * sy + b * b * sxx + 2e0 * a * b * sx + a * a * nd) / (syy - sy * sy / nd) AS r2",
            "b")
        val w = Window.partitionBy()
        fit
          .withColumn("lnn", expr("CAST(CAST(ln(nd) AS FLOAT) AS DOUBLE)"))
          .withColumn("lnm", expr("CAST(CAST(ln(mse) AS FLOAT) AS DOUBLE)"))
          .withColumn("k", count(lit(1)).over(w).cast("double"))
          .withColumn("su", sum(col("lnn").cast("decimal(30,12)")).over(w).cast("double"))
          .withColumn("sv", sum(col("lnm").cast("decimal(30,12)")).over(w).cast("double"))
          .withColumn("suu", sum((col("lnn") * col("lnn")).cast("decimal(30,12)")).over(w).cast("double"))
          .withColumn("suv", sum((col("lnn") * col("lnm")).cast("decimal(30,12)")).over(w).cast("double"))
          .selectExpr("frac", "n AS n_rows",
            "round(b, 6) AS slope_b", "round(mse, 4) AS mse",
            "round(r2, 6) AS r2",
            "round((k * suv - su * sv) / (k * suu - su * su), 6) AS scaling_exponent")
          .orderBy("frac")
      },
      Some(s"""WITH thr AS (SELECT * FROM (VALUES (100, CAST(0.10 AS DOUBLE)),
                   (250, CAST(0.25 AS DOUBLE)), (500, CAST(0.50 AS DOUBLE)),
                   (1000, CAST(1.00 AS DOUBLE))) t(thr, frac)),
                 base AS (SELECT (l_orderkey * 31 + l_linenumber) % 1000 AS u,
                     CAST(CAST(l_quantity AS DECIMAL(18,0)) AS BIGINT) AS q,
                     CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y2
                   FROM lineitem),
                 m AS (SELECT thr, frac, count(*) AS n,
                     CAST(sum(q) AS BIGINT) AS sq, CAST(sum(y2) AS BIGINT) AS sy2,
                     CAST(sum(q * q) AS BIGINT) AS sqq,
                     CAST(sum(q * y2) AS BIGINT) AS sqy,
                     sum(CAST(y2 * y2 AS DECIMAL(30,0))) AS syy2
                   FROM base CROSS JOIN thr WHERE u < thr
                   GROUP BY thr, frac),
                 sc AS (SELECT thr, frac, n, CAST(n AS DOUBLE) AS nd,
                     CAST(sq AS DOUBLE) AS sx, CAST(sy2 AS DOUBLE) / 1e2 AS sy,
                     CAST(sqq AS DOUBLE) AS sxx, CAST(sqy AS DOUBLE) / 1e2 AS sxy,
                     CAST(syy2 AS DOUBLE) / 1e4 AS syy
                   FROM m),
                 fb AS (SELECT *,
                     (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS b FROM sc),
                 fa AS (SELECT *, (sy - b * sx) / nd AS a FROM fb),
                 ft AS (SELECT thr, frac, n, nd, b,
                     (syy - 2e0 * b * sxy - 2e0 * a * sy + b * b * sxx + 2e0 * a * b * sx + a * a * nd) / nd AS mse,
                     1e0 - (syy - 2e0 * b * sxy - 2e0 * a * sy + b * b * sxx + 2e0 * a * b * sx + a * a * nd) / (syy - sy * sy / nd) AS r2
                   FROM fa),
                 lg AS (SELECT *,
                     CAST(CAST(ln(nd) AS REAL) AS DOUBLE) AS lnn,
                     CAST(CAST(ln(mse) AS REAL) AS DOUBLE) AS lnm
                   FROM ft),
                 wn AS (SELECT *,
                     CAST(count(*) OVER () AS DOUBLE) AS k,
                     CAST(sum(CAST(lnn AS DECIMAL(30,12))) OVER () AS DOUBLE) AS su,
                     CAST(sum(CAST(lnm AS DECIMAL(30,12))) OVER () AS DOUBLE) AS sv,
                     CAST(sum(CAST(lnn * lnn AS DECIMAL(30,12))) OVER () AS DOUBLE) AS suu,
                     CAST(sum(CAST(lnn * lnm AS DECIMAL(30,12))) OVER () AS DOUBLE) AS suv
                   FROM lg)
               SELECT frac, n AS n_rows,
                 round(b, 6) AS slope_b, round(mse, 4) AS mse,
                 round(r2, 6) AS r2,
                 round((k * suv - su * sv) / (k * suu - su * su), 6) AS scaling_exponent
               FROM wn ORDER BY frac""")),

    QueryDef(
      "ml_perceptron",
      // Rosenblatt batch perceptron (1958) — the ancestral margin
      // classifier under ml_svm_hinge: 3 full-batch rounds of
      // w ← w + η·mean(y·x over misclassified), from w = 0, on the
      // price>20k label with (1, quantity·0.1, discount·10) features
      // (pre-scales keep the three gradient components commensurate).
      // The batch form IS the distributed shape (per-sample order would
      // be engine-divergent and sequential anyway): one conditional
      // moment pass per round with the current w broadcast — the
      // ml_gbm_fit loop discipline. y·(w·x) ≤ 0 counts as misclassified,
      // so round 1 from the zero vector updates on every row. Emits the
      // per-round PRE-UPDATE error rate and post-update weights — the
      // descent trace a training log shows. Gradient sums ride the exact
      // wire; margin and update texts are shared verbatim. The rounds are
      // one Twin.Fit ([[pcFit]]) over the (y, q, dc) cells; the error rate
      // rides as a parameter whose next value is the step's nmis / n.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        Twin.fit(T.lineitemFit(s, dir).select(
          expr("CASE WHEN l_extendedprice > 20000 THEN 1e0 ELSE -1e0 END").as("y"),
          (col("l_quantity").cast("double") * lit(0.1)).as("q"),
          (col("l_discount").cast("double") * lit(10.0)).as("dc")), pcFit)
          .zipWithIndex.map { case (Array(wi, wq, wd, err), i) =>
            // the weights round as literals and fold to non-null columns;
            // the error rate rounds from a column of a local relation,
            // which range(1) keeps from being evaluated into one, so it
            // stays nullable: the row-level loop's schema
            Seq(err).toDF("err").crossJoin(s.range(1)).select(lit(i + 1).as("step"),
              round(col("err"), 6).as("err_rate"), round(lit(wi), 6).as("w_intercept"),
              round(lit(wq), 6).as("w_quantity"), round(lit(wd), 6).as("w_discount"))
          }.reduce(_ unionAll _).orderBy("step")
      },
      Some(s"""WITH base AS (SELECT
               CASE WHEN l_extendedprice > 20000 THEN 1e0 ELSE -1e0 END AS y,
               CAST(l_quantity AS DOUBLE) * 0.1 AS q,
               CAST(l_discount AS DOUBLE) * 10.0 AS dc
             FROM lineitem),
             ${Twin.sqlFit(pcFit, "base", "w")}
           ${(1 to pcFit.iters).map(k => s"""SELECT $k AS step, round(err, 6) AS err_rate,
               round(wi, 6) AS w_intercept, round(wq, 6) AS w_quantity,
               round(wd, 6) AS w_discount FROM w$k""").mkString("\n           UNION ALL ")}
           ORDER BY step"""))
  )

  /** Perceptron margin/update shared texts: the margin reads the PREVIOUS
    * round's weights (wi/wq/wd columns in scope), η = 1 is scale-free on
    * the mean-gradient update. */
  private lazy val pcMargin = "y * (wi + wq * q + wd * dc)"
  private lazy val PC_ETA = "1e0"

  /** The batch perceptron, 3 rounds from w = 0: `err` is each round's
    * pre-update error rate, riding along as a parameter. */
  private lazy val pcFit: Twin.Fit = Twin.Fit(
    Seq("wi" -> 0.0, "wq" -> 0.0, "wd" -> 0.0, "err" -> 0.0),
    Seq("mis" -> s"CASE WHEN $pcMargin <= 0e0 THEN 1e0 ELSE 0e0 END"),
    Seq(Twin.count("n"), Twin.xsum("nmis", "mis"), Twin.xsum("gi", "mis * y"),
      Twin.xsum("gq", "mis * y * q"), Twin.xsum("gd", "mis * y * dc")),
    Nil,
    Seq(s"wi + $PC_ETA * (gi / n)", s"wq + $PC_ETA * (gq / n)",
      s"wd + $PC_ETA * (gd / n)", "nmis / n"),
    3)

  /** Column-name-safe suffix for a split-candidate value (10.0 → 10_0,
    * 0.02 → 0_02) — shared by the Spark aggregate aliases and the oracle
    * CTE text so the per-candidate sums line up by construction. */
  private[ops] def cs(c: Double): String = c.toString.replace('.', '_')

  /** Per-row predictions of BOTH multiclass meta-strategies (OvR argmax
    * and OvO majority vote) in ONE scoring pass — the shared input of
    * ml_cohen_kappa's inter-model agreement. Recomputes both solved
    * coefficient frames (each one conditional moment pass, as their
    * standalone queries) and broadcasts them into a single map. */
  private[ops] def ovrOvoPreds(s: SparkSession, dir: String): DataFrame = {
    val l = T.lineitem(s, dir).select(
      col("l_returnflag").as("rf"),
      col("l_quantity").cast("double").as("q"),
      col("l_discount").cast("double").as("d"))
      .transform(T.fanOut(_))
    // OvR: shared-Gram one-vs-rest LS (the ml_ovr_classifier chain)
    val mOvr = l.agg(
      count(lit(1)).cast("double").as("nd"),
      T.xsum(col("q")).as("s1"), T.xsum(col("d")).as("s2"),
      T.xsum(col("q") * col("q")).as("s11"),
      T.xsum(col("d") * col("d")).as("s22"),
      T.xsum(col("q") * col("d")).as("s12"),
      sum(when(col("rf") === "A", 1L).otherwise(0L)).cast("double").as("sya"),
      T.xsum(when(col("rf") === "A", col("q"))).as("s1ya"),
      T.xsum(when(col("rf") === "A", col("d"))).as("s2ya"),
      sum(when(col("rf") === "N", 1L).otherwise(0L)).cast("double").as("syn"),
      T.xsum(when(col("rf") === "N", col("q"))).as("s1yn"),
      T.xsum(when(col("rf") === "N", col("d"))).as("s2yn"),
      sum(when(col("rf") === "R", 1L).otherwise(0L)).cast("double").as("syr"),
      T.xsum(when(col("rf") === "R", col("q"))).as("s1yr"),
      T.xsum(when(col("rf") === "R", col("d"))).as("s2yr"))
      .selectExpr("*", s"$det3 AS det")
    val ovrSolved = Seq("a", "n", "r").foldLeft(mOvr) { (df, k) =>
      val (b0, b1, b2) = cram3(s"sy$k", s"s1y$k", s"s2y$k")
      df.selectExpr("*", s"$b0 AS b0$k", s"$b1 AS b1$k", s"$b2 AS b2$k")
    }.selectExpr("b0a", "b1a", "b2a", "b0n", "b1n", "b2n", "b0r", "b1r", "b2r")
    // OvO: pairwise LS by moment additivity (the ml_ovo_classifier chain)
    val aggCols = Seq("a", "n", "r").flatMap { k =>
      val kc = k.toUpperCase
      Seq(
        sum(when(col("rf") === kc, 1L).otherwise(0L)).cast("double").as(s"n$k"),
        T.xsum(when(col("rf") === kc, col("q"))).as(s"s1$k"),
        T.xsum(when(col("rf") === kc, col("d"))).as(s"s2$k"),
        T.xsum(when(col("rf") === kc, col("q") * col("q"))).as(s"s11$k"),
        T.xsum(when(col("rf") === kc, col("d") * col("d"))).as(s"s22$k"),
        T.xsum(when(col("rf") === kc, col("q") * col("d"))).as(s"s12$k"))
    }
    val ovoSolved = ovoPairs.foldLeft(l.agg(aggCols.head, aggCols.tail: _*)) {
      case (df, (i, j)) =>
        df.selectExpr("*" +: ovoPairCols(i, j): _*)
          .selectExpr("*", s"${det3S(s"$i$j")} AS det$i$j")
          .selectExpr("*",
            s"${cram3S(s"$i$j")._1} AS c0$i$j",
            s"${cram3S(s"$i$j")._2} AS c1$i$j",
            s"${cram3S(s"$i$j")._3} AS c2$i$j")
    }.selectExpr(ovoPairs.flatMap { case (i, j) =>
      Seq(s"c0$i$j", s"c1$i$j", s"c2$i$j") }: _*)
    l.crossJoin(broadcast(ovrSolved)).crossJoin(broadcast(ovoSolved))
      .selectExpr("rf",
        "b0a + b1a * q + b2a * d AS sa",
        "b0n + b1n * q + b2n * d AS sn",
        "b0r + b1r * q + b2r * d AS sr",
        "CASE WHEN c0an + c1an * q + c2an * d >= 0.5 THEN 1 ELSE 0 END AS wa_an",
        "CASE WHEN c0ar + c1ar * q + c2ar * d >= 0.5 THEN 1 ELSE 0 END AS wa_ar",
        "CASE WHEN c0nr + c1nr * q + c2nr * d >= 0.5 THEN 1 ELSE 0 END AS wn_nr")
      .selectExpr("rf",
        "CASE WHEN sa >= sn AND sa >= sr THEN 'A' WHEN sn >= sr THEN 'N' ELSE 'R' END AS p_ovr",
        "wa_an + wa_ar AS va", "(1 - wa_an) + wn_nr AS vn",
        "(1 - wa_ar) + (1 - wn_nr) AS vr")
      .selectExpr("rf", "p_ovr",
        "CASE WHEN va >= vn AND va >= vr THEN 'A' WHEN vn >= vr THEN 'N' ELSE 'R' END AS p_ovo")
  }

  /** Oracle twin of [[ovrOvoPreds]] — CTE prefix ending in
    * preds(rf, p_ovr, p_ovo). */
  private[ops] lazy val sqlOvrOvoPreds: String = {
    val ovrM = s"""SELECT CAST(count(*) AS DOUBLE) AS nd,
          ${T.sqlXsum("q")} AS s1, ${T.sqlXsum("d")} AS s2,
          ${T.sqlXsum("q * q")} AS s11, ${T.sqlXsum("d * d")} AS s22,
          ${T.sqlXsum("q * d")} AS s12,
          CAST(sum(CASE WHEN rf = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS sya,
          ${T.sqlXsum("CASE WHEN rf = 'A' THEN q END")} AS s1ya,
          ${T.sqlXsum("CASE WHEN rf = 'A' THEN d END")} AS s2ya,
          CAST(sum(CASE WHEN rf = 'N' THEN 1 ELSE 0 END) AS DOUBLE) AS syn,
          ${T.sqlXsum("CASE WHEN rf = 'N' THEN q END")} AS s1yn,
          ${T.sqlXsum("CASE WHEN rf = 'N' THEN d END")} AS s2yn,
          CAST(sum(CASE WHEN rf = 'R' THEN 1 ELSE 0 END) AS DOUBLE) AS syr,
          ${T.sqlXsum("CASE WHEN rf = 'R' THEN q END")} AS s1yr,
          ${T.sqlXsum("CASE WHEN rf = 'R' THEN d END")} AS s2yr
        FROM kl"""
    val ovrChain = Seq("a", "n", "r").zipWithIndex.map { case (k, i) =>
      val (b0, b1, b2) = cram3(s"sy$k", s"s1y$k", s"s2y$k")
      val src = if (i == 0) "kmd" else s"ksv${i - 1}"
      s"ksv$i AS (SELECT *, $b0 AS b0$k, $b1 AS b1$k, $b2 AS b2$k FROM $src)"
    }.mkString(",\n         ")
    val ovoM = s"""SELECT ${Seq("a", "n", "r").map { k =>
      val kc = k.toUpperCase
      s"""CAST(sum(CASE WHEN rf = '$kc' THEN 1 ELSE 0 END) AS DOUBLE) AS n$k,
          ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN q END")} AS s1$k,
          ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN d END")} AS s2$k,
          ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN q * q END")} AS s11$k,
          ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN d * d END")} AS s22$k,
          ${T.sqlXsum(s"CASE WHEN rf = '$kc' THEN q * d END")} AS s12$k"""
    }.mkString(",\n          ")}
        FROM kl"""
    val ovoChain = ovoPairs.zipWithIndex.map { case ((i, j), ix) =>
      val src = if (ix == 0) "kom" else s"kpv${ix - 1}"
      val cols = ovoPairCols(i, j).mkString(",\n             ")
      s"""kpc$ix AS (SELECT *, $cols FROM $src),
         kpd$ix AS (SELECT *, ${det3S(s"$i$j")} AS det$i$j FROM kpc$ix),
         kpv$ix AS (SELECT *, ${cram3S(s"$i$j")._1} AS c0$i$j,
             ${cram3S(s"$i$j")._2} AS c1$i$j,
             ${cram3S(s"$i$j")._3} AS c2$i$j FROM kpd$ix)"""
    }.mkString(",\n         ")
    s"""kl AS (SELECT l_returnflag AS rf,
           CAST(l_quantity AS DOUBLE) AS q,
           CAST(l_discount AS DOUBLE) AS d
         FROM lineitem),
         km AS ($ovrM),
         kmd AS (SELECT *, $det3 AS det FROM km),
         $ovrChain,
         kom AS ($ovoM),
         $ovoChain,
         ksc AS (SELECT rf,
             b0a + b1a * q + b2a * d AS sa,
             b0n + b1n * q + b2n * d AS sn,
             b0r + b1r * q + b2r * d AS sr,
             CASE WHEN c0an + c1an * q + c2an * d >= 0.5 THEN 1 ELSE 0 END AS wa_an,
             CASE WHEN c0ar + c1ar * q + c2ar * d >= 0.5 THEN 1 ELSE 0 END AS wa_ar,
             CASE WHEN c0nr + c1nr * q + c2nr * d >= 0.5 THEN 1 ELSE 0 END AS wn_nr
           FROM kl CROSS JOIN ksv2 CROSS JOIN kpv2),
         kvt AS (SELECT rf,
             CASE WHEN sa >= sn AND sa >= sr THEN 'A' WHEN sn >= sr THEN 'N' ELSE 'R' END AS p_ovr,
             wa_an + wa_ar AS va, (1 - wa_an) + wn_nr AS vn,
             (1 - wa_ar) + (1 - wn_nr) AS vr
           FROM ksc),
         preds AS (SELECT rf, p_ovr,
             CASE WHEN va >= vn AND va >= vr THEN 'A' WHEN vn >= vr THEN 'N' ELSE 'R' END AS p_ovo
           FROM kvt)"""
  }

  /** The three OvO class pairs, lowercase suffixes. */
  private lazy val ovoPairs = Seq(("a", "n"), ("a", "r"), ("n", "r"))

  /** Pairwise-subset normal-equation inputs by MOMENT ADDITIVITY: the
    * {i, j}-subset moments are the sums of the two class blocks, and the
    * right-hand side (y = 1 ⇔ class i) is class i's block alone. Shared
    * verbatim by both engines. */
  private def ovoPairCols(i: String, j: String): Seq[String] = Seq(
    s"n$i + n$j AS nd$i$j", s"s1$i + s1$j AS s1$i$j", s"s2$i + s2$j AS s2$i$j",
    s"s11$i + s11$j AS s11$i$j", s"s22$i + s22$j AS s22$i$j",
    s"s12$i + s12$j AS s12$i$j",
    s"n$i AS sy$i$j", s"s1$i AS s1y$i$j", s"s2$i AS s2y$i$j")

  /** [[det3]] generalized to a pair-suffixed name set. */
  private def det3S(s: String) =
    s"nd$s * (s11$s * s22$s - s12$s * s12$s) - s1$s * (s1$s * s22$s - s12$s * s2$s) + s2$s * (s1$s * s12$s - s11$s * s2$s)"

  /** [[cram3]] generalized to a pair-suffixed name set. */
  private def cram3S(s: String): (String, String, String) = (
    s"(sy$s * (s11$s * s22$s - s12$s * s12$s) - s1$s * (s1y$s * s22$s - s12$s * s2y$s) + s2$s * (s1y$s * s12$s - s11$s * s2y$s)) / det$s",
    s"(nd$s * (s1y$s * s22$s - s12$s * s2y$s) - sy$s * (s1$s * s22$s - s12$s * s2$s) + s2$s * (s1$s * s2y$s - s1y$s * s2$s)) / det$s",
    s"(nd$s * (s11$s * s2y$s - s1y$s * s12$s) - s1$s * (s1$s * s2y$s - s1y$s * s2$s) + sy$s * (s1$s * s12$s - s11$s * s2$s)) / det$s")

  /** REAL-collapsed ln — the shared float-precision collapse text (lnLik's
    * generalization): `rc(x)` ≡ CAST(CAST(ln(x) AS FLOAT/REAL) AS DOUBLE). */
  private def rc(inner: String, real: Boolean): String = {
    val t = if (real) "REAL" else "FLOAT"
    s"CAST(CAST(ln($inner) AS $t) AS DOUBLE)"
  }

  /** 3×3 normal-equation determinant for features (1, q, d) — the arDet
    * Cramer structure (Forecast.scala) with ml_ovr_classifier's moment
    * names. Shared verbatim by both engines. LAZY because `entries`
    * interpolates it during object init and this declaration sits below
    * the Seq — a plain val would interpolate as "null" (caught by the
    * driver compare: every DuckDB coefficient came back NULL). */
  private lazy val det3 =
    "nd * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2)"

  /** Cramer numerators (÷ det) for one class's right-hand side
    * (sy, s1y, s2y) — the arDetC/P1/P2 texts parameterized on the class
    * suffix so all three one-vs-rest fits share [[det3]]. */
  private def cram3(sy: String, s1y: String, s2y: String): (String, String, String) = (
    s"($sy * (s11 * s22 - s12 * s12) - s1 * ($s1y * s22 - s12 * $s2y) + s2 * ($s1y * s12 - s11 * $s2y)) / det",
    s"(nd * ($s1y * s22 - s12 * $s2y) - $sy * (s1 * s22 - s12 * s2) + s2 * (s1 * $s2y - $s1y * s2)) / det",
    s"(nd * (s11 * $s2y - $s1y * s12) - s1 * (s1 * $s2y - $s1y * s2) + $sy * (s1 * s12 - s11 * s2)) / det")
}
