package graft.ops

import graft.{QueryDef, Tables => T, Twin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation closures (r10 cont.): SemDeDup embedding dedup, the
  * pair-counting Fowlkes–Mallows clustering score, binary MCC / balanced
  * accuracy for the kNN language classifier, and Levenshtein verification
  * of the MinHash candidate pairs — four rows that close gaps a pretraining
  * curation run hits right after the existing dedup/metric families.
  *
  * Shared determinism discipline: counts and pair counts stay BIGINT to the
  * last expression; cosines ride the shared Vec.dot / list_cosine_similarity
  * agreement already pinned by sim_threshold; Levenshtein is the classic
  * unit-cost DP both engines implement identically on ASCII text. Scale
  * notes per query.
  */
object Curation {

  /** SemDeDup similarity threshold. The fixture embeddings are
    * near-orthogonal (max within-cluster cosine ≈ 0.49), so the
    * demonstration threshold sits below the paper's 0.9+ production
    * values; the plan is threshold-independent. Shared with the SQL text
    * via interpolation. */
  private val SEM_TAU = "0.35"

  /** Edit-distance verification window: the DP is O(len²) per pair, so a
    * production pass caps the compared prefix (here 240 chars — beyond the
    * fixture's ~300-char mean, so most docs compare whole). Shared with the
    * SQL text. */
  private val LEV_CAP = 240

  /** BFS seed rule: vertices with id ≡ 0 (mod 10) — a deterministic
    * ~10% multi-source seed set, shared with the SQL text. */
  private val BFS_SEED_MOD = 10
  /** Hops of the truncated BFS rounds (graph_bfs, graph_harmonic_centrality). */
  private val BFS_HOPS = 3

  // ---- shared per-(cluster, dimension) moment wire ------------------------

  /** One posexplode pass over the Lloyd-assigned corpus reduced to exact
    * DECIMAL sums: per-(cid, j) coordinate sums `sx`, and per-cid counts +
    * second moments `(nc, ss)`. Everything downstream of this pass is
    * bounded at k×64 (+k) rows, so the variance-ratio metrics
    * (Calinski–Harabasz, Davies–Bouldin) cost ONE corpus scan each — the
    * scale-correct shape (the all-pairs definitions are not needed: both
    * metrics are moment-expressible). */
  private def clusterMoments(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val asg = Metrics.lloydAssign(s, dir).select(col("vec_id"), col("cid"))
    val ex = asg
      .join(T.embeddings(s, dir).select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("cid"), posexplode(col("embedding")).as(Seq("j", "xf")))
      .select(col("cid"), col("j"), col("xf").cast("double").as("x"))
    val sx = ex.groupBy("cid", "j").agg(T.xsumD(col("x")).as("sx"))
    val mc = ex.groupBy("cid").agg(
      count(when(col("j") === 0, 1)).as("nc"),
      T.xsumD(expr("x * x")).as("ss"))
    (sx, mc)
  }

  /** Oracle twin of [[clusterMoments]] ending in `sx(cid, j, sx)` and
    * `mc(cid, nc, ss)` (prefix: Metrics.sqlLloydAssign's `a`). */
  private val sqlClusterMoments =
    s"""asg AS (SELECT a.cid, CAST(e.embedding AS DOUBLE[]) AS emb
           FROM a JOIN embeddings e ON a.vec_id = e.vec_id),
       exz AS (SELECT cid, generate_subscripts(emb, 1) - 1 AS j, unnest(emb) AS x
               FROM asg),
       sx AS (SELECT cid, j, ${T.sqlXsumD("x")} AS sx FROM exz GROUP BY cid, j),
       mc AS (SELECT cid,
           CAST(count(*) FILTER (WHERE j = 0) AS BIGINT) AS nc,
           ${T.sqlXsumD("x * x")} AS ss
         FROM exz GROUP BY cid)"""

  /** Per-(cid, j) centroid coordinates from the moment wire — shared
    * closing text (m = sx/nc, everything bounded). */
  private val sqlCentroids =
    """mj AS (SELECT sx.cid, sx.j, mc.nc, CAST(sx.sx AS DOUBLE) / mc.nc AS m
         FROM sx JOIN mc ON sx.cid = mc.cid)"""

  // ---- shared n-gram overlap wire (BLEU / ROUGE) --------------------------

  /** REAL-collapsed ln/exp (the agg_entropy / GLM-family discipline). */
  private def lnR(a: String) = s"CAST(CAST(ln($a) AS FLOAT) AS DOUBLE)"
  private def lnRD(a: String) = s"CAST(CAST(ln($a) AS REAL) AS DOUBLE)"
  private def expR(a: String) = s"CAST(CAST(exp($a) AS FLOAT) AS DOUBLE)"
  private def expRD(a: String) = s"CAST(CAST(exp($a) AS REAL) AS DOUBLE)"

  /** Candidate/reference pairing for the MT-metric rows: each document
    * scores against the NEXT doc_id of its source (a deterministic
    * same-distribution pairing — the shape of an eval harness scoring
    * generations against references; the window is per-source, so fully
    * distributed). */
  private def evalPairs(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    T.documents(s, dir).select(col("doc_id"), col("source"))
      .withColumn("ref_id", lead(col("doc_id"), 1).over(w))
      .where(col("ref_id").isNotNull)
      .select(col("doc_id").as("ca"), col("ref_id").as("re"))
  }

  private val sqlEvalPairs =
    """pr AS (SELECT doc_id AS ca, ref_id AS re FROM (
         SELECT doc_id, source,
           lead(doc_id, 1) OVER (PARTITION BY source ORDER BY doc_id) AS ref_id
         FROM documents) t
       WHERE ref_id IS NOT NULL)"""

  /** Per-doc n-gram multiset counts (n = 1, 2): (doc_id, g, c). The gram
    * key is the raw token text (bounded vocab on the fixture; at 100 TB
    * the key would be Tables.polyTid — the dedup-family discipline). */
  private def gramCounts(s: SparkSession, dir: String, n: Int): DataFrame = {
    val base = T.documents(s, dir)
      .transform(T.fanOut(_, col("doc_id")))
      .selectExpr("doc_id", "filter(split(text, ' '), t -> t <> '') AS ts")
    val g =
      if (n == 1) base.select(col("doc_id"), explode(col("ts")).as("g"))
      else base.where(size(col("ts")) >= 2)
        .selectExpr("doc_id",
          "explode(transform(sequence(1, size(ts) - 1), i -> concat_ws(' ', element_at(ts, i), element_at(ts, i + 1)))) AS g")
    g.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
  }

  /** Oracle twin of [[gramCounts]] as a CTE named `g$n(doc_id, g, c)`. */
  private def sqlGramCounts(n: Int): String =
    if (n == 1)
      """g1 AS (SELECT doc_id, g, count(*) AS c FROM (
           SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS g
           FROM documents) t GROUP BY doc_id, g)"""
    else
      """g2 AS (SELECT doc_id, g, count(*) AS c FROM (
           SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS g
           FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
                 FROM (SELECT doc_id,
                         list_filter(string_split(text, ' '), t -> t <> '') AS ts
                       FROM documents) b0
                 WHERE len(ts) >= 2) b) t GROUP BY doc_id, g)"""

  /** ml_tweedie_glm's fit (power p = 1.5): score Σ(y−μ)·μ^(1−p)·(1,x)
    * and information Σμ^(2−p)·(1,x)(1,x)ᵀ with μ^(1/2) spelled sqrt. */
  private lazy val tweedieFit: Twin.Fit = ML.logLinkFit(
    "g0" -> "(y - mu) / sqrt(mu)", "g1" -> "(y - mu) / sqrt(mu) * x",
    "h00" -> "sqrt(mu)", "h01" -> "sqrt(mu) * x", "h11" -> "sqrt(mu) * x * x")

  /** ml_quality_classifier's 3 Newton/IRLS steps of (a, b1, b2) over rows
    * (x1, x2, y): the 9 exact-decimal gradient/Hessian sums over the
    * REAL-collapsed sigmoid, then the 3×3 Newton solve by [[Twin.gauss]]
    * (no pivoting — the logistic Hessian is positive definite). */
  private lazy val qualityFit: Twin.Fit = Twin.Fit(
    Seq("a" -> 0.0, "b1" -> 0.0, "b2" -> 0.0),
    Seq("mu" -> ML.sigmoidR("a + b1 * x1 + b2 * x2")),
    Seq(Twin.xsum("g0", "y - mu"), Twin.xsum("g1", "(y - mu) * x1"),
      Twin.xsum("g2", "(y - mu) * x2"), Twin.xsum("h00", "mu * (1e0 - mu)"),
      Twin.xsum("h01", "mu * (1e0 - mu) * x1"), Twin.xsum("h02", "mu * (1e0 - mu) * x2"),
      Twin.xsum("h11", "mu * (1e0 - mu) * x1 * x1"),
      Twin.xsum("h12", "mu * (1e0 - mu) * x1 * x2"),
      Twin.xsum("h22", "mu * (1e0 - mu) * x2 * x2")),
    Twin.gauss(Seq(Seq("h00", "h01", "h02"), Seq("h01", "h11", "h12"),
      Seq("h02", "h12", "h22")), Seq("g0", "g1", "g2"), "n"),
    Seq("a + nx0", "b1 + nx1", "b2 + nx2"), 3)

  /** ml_quality_classifier's rows: the two map-only text features (x1 the
    * stopword ratio, x2 the mean token length) and y = (lang = 'en'). */
  private def qualityRows(s: SparkSession, dir: String): DataFrame =
    T.documents(s, dir).transform(T.fanOut(_, col("doc_id")))
      .selectExpr("filter(split(text, ' '), t -> t <> '') AS ts", "n_chars", "lang")
      .selectExpr(
        "CAST(size(filter(ts, t -> array_contains(array('the','a','data','row','value'), t))) AS DOUBLE) / size(ts) AS x1",
        "CAST(n_chars AS DOUBLE) / size(ts) AS x2",
        "CASE WHEN lang = 'en' THEN 1e0 ELSE 0e0 END AS y")

  /** [[qualityFit]]'s (a, b1, b2) over [[qualityRows]], T.memo'd: the
    * features are near-unique per document, so the fit's cells are about
    * as many as the rows and a repeat would pay the grouping again. */
  private def qualityBeta(s: SparkSession, dir: String): Array[Double] =
    T.memo("qualityBeta", s, dir) { Twin.fit(qualityRows(s, dir), qualityFit).last }

  /** Clipped-overlap sums for order n against the pair table `pr`:
    * (ca, re, num = Σ min(c_cand, c_ref), den_c = Σ c_cand). The join is
    * gram-keyed per pair — inverted-index shaped, never all-pairs. */
  private def clipOverlap(s: SparkSession, dir: String, n: Int): DataFrame = {
    val g = gramCounts(s, dir, n)
    evalPairs(s, dir)
      .join(g.select(col("doc_id").as("ca"), col("g"), col("c").as("cc")), "ca")
      .join(g.select(col("doc_id").as("re"), col("g"), col("c").as("cr")),
        Seq("re", "g"), "left")
      .groupBy("ca", "re")
      .agg(sum(least(col("cc"), coalesce(col("cr"), lit(0L)))).as("num"),
        sum(col("cc")).as("den"))
  }

  /** Oracle twin of [[clipOverlap]] ending in `ov$n(ca, re, num, den)`. */
  private def sqlClipOverlap(n: Int): String =
    s"""ov$n AS (SELECT pr.ca, pr.re,
           CAST(sum(least(a.c, COALESCE(b.c, 0))) AS BIGINT) AS num,
           CAST(sum(a.c) AS BIGINT) AS den
         FROM pr JOIN g$n a ON a.doc_id = pr.ca
         LEFT JOIN g$n b ON b.doc_id = pr.re AND b.g = a.g
         GROUP BY pr.ca, pr.re)"""

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "dedup_semantic",
      // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
      // embedding space, then compare pairs ONLY within a cluster and drop
      // every member cosine-closer than τ to a lower-id member. The cluster
      // partition is what makes semantic dedup tractable: pair cost is
      // Σ_c n_c² instead of n², and production scales k ∝ n so the
      // per-cluster population (and thus per-cluster pair cost) stays
      // CONSTANT as the corpus grows — the 100 TB story is "more clusters",
      // not "bigger clusters". Here k = 10 fixed vec_id<10 centroids (the
      // clustering-metric family's shared Lloyd assignment) so the oracle
      // is exactly mirrorable. The pair scan is a hash JOIN ON cid (never
      // broadcast, never cartesian): both sides shuffle-partition by
      // cluster, each cluster's pairs form locally. Keep-lowest-id is the
      // standard greedy: a member is a duplicate iff SOME lower-id member
      // of its cluster is ≥ τ-similar (no transitive chaining — matches
      // the paper's one-shot per-cluster sweep). Output: per-cluster
      // member/duplicate/kept counts — the removal-rate readout a curation
      // run logs per shard.
      (s, dir) => {
        val e = T.embeddings(s, dir).select(col("vec_id"), col("embedding"),
          sqrt(graft.functions.Vec.dot(s, "embedding", "embedding")).as("nrm"))
        val m = T.freeze(Metrics.lloydAssign(s, dir).select(col("vec_id"), col("cid"))
          .join(e, "vec_id"))
        val a = m.select(col("cid"), col("vec_id").as("id_a"),
          col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
          .transform(T.fanOut(_, col("id_a")))
        val b = m.select(col("cid"), col("vec_id").as("id_b"),
          col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
        val cos = graft.functions.Vec.dot(s, "emb_a", "emb_b") /
          (col("nrm_a") * col("nrm_b"))
        val dups = a.join(b, "cid").where(col("id_a") < col("id_b"))
          .where(cos > expr(SEM_TAU))
          .select(col("cid"), col("id_b").as("dup_id")).distinct()
        m.groupBy("cid").agg(count(lit(1)).as("n_members"))
          .join(dups.groupBy("cid").agg(count(lit(1)).as("nd")), Seq("cid"), "left")
          .select(col("cid"), col("n_members"),
            coalesce(col("nd"), lit(0L)).as("n_dup"),
            (col("n_members") - coalesce(col("nd"), lit(0L))).as("n_kept"))
          .orderBy("cid")
      },
      Some(s"""WITH ${Metrics.sqlLloydAssign},
                 m AS (SELECT a.cid, a.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb
                       FROM a JOIN embeddings e ON a.vec_id = e.vec_id),
                 dups AS (SELECT DISTINCT x.cid, y.vec_id AS dup_id
                          FROM m x JOIN m y
                            ON x.cid = y.cid AND x.vec_id < y.vec_id
                          WHERE list_cosine_similarity(x.emb, y.emb) > $SEM_TAU),
                 dc AS (SELECT cid, count(*) AS nd FROM dups GROUP BY cid),
                 mc AS (SELECT cid, count(*) AS n_members FROM m GROUP BY cid)
               SELECT mc.cid, mc.n_members,
                 COALESCE(dc.nd, 0) AS n_dup,
                 mc.n_members - COALESCE(dc.nd, 0) AS n_kept
               FROM mc LEFT JOIN dc ON mc.cid = dc.cid
               ORDER BY mc.cid""")),

    QueryDef(
      "ml_fowlkes_mallows",
      // cuml.metrics-adjacent Fowlkes–Mallows index between the k-means
      // assignment and the ground-truth label, from the same (cid, label)
      // contingency pass as ml_adjusted_rand: FMI = TP/√((TP+FP)(TP+FN))
      // over same-cluster/same-label point pairs, i.e.
      // ΣC(nij,2) / √(ΣC(ai,2)·ΣC(bj,2)). All pair counts are exact BIGINT
      // (n(n−1) products — the /2 factors cancel in the ratio, so the only
      // double op is the final sqrt division). Bounded after the K×|labels|
      // contingency, as the whole clustering-metric family.
      (s, dir) => {
        val ct = T.freeze(Metrics.lloydAssign(s, dir)
          .groupBy("cid", "label").agg(count(lit(1)).as("nij")))
        val ra = ct.groupBy("cid").agg(sum(col("nij")).as("ai"))
          .agg(sum(col("ai") * (col("ai") - 1)).as("sa2"))
        val cb = ct.groupBy("label").agg(sum(col("nij")).as("bj"))
          .agg(sum(col("bj") * (col("bj") - 1)).as("sb2"))
        val sij = ct.agg(
          sum(col("nij") * (col("nij") - 1)).as("sij2"),
          sum(col("nij")).as("n"))
        sij.crossJoin(broadcast(ra)).crossJoin(broadcast(cb))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "round(CAST(sij2 AS DOUBLE) / sqrt(CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE)), 6) AS fmi")
      },
      Some(s"""WITH ${Metrics.sqlContingency},
                 ra AS (SELECT CAST(sum(ai * (ai - 1)) AS BIGINT) AS sa2 FROM
                          (SELECT CAST(sum(nij) AS BIGINT) AS ai FROM ct GROUP BY cid) r),
                 cb AS (SELECT CAST(sum(bj * (bj - 1)) AS BIGINT) AS sb2 FROM
                          (SELECT CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY label) c),
                 s0 AS (SELECT CAST(sum(nij * (nij - 1)) AS BIGINT) AS sij2,
                               CAST(sum(nij) AS BIGINT) AS n FROM ct)
               SELECT CAST(n AS BIGINT) AS n,
                 round(CAST(sij2 AS DOUBLE) / sqrt(CAST(sa2 AS DOUBLE) * CAST(sb2 AS DOUBLE)), 6) AS fmi
               FROM s0 CROSS JOIN ra CROSS JOIN cb""")),

    QueryDef(
      "ml_matthews_corrcoef",
      // Binary Matthews correlation + balanced accuracy for the bounded
      // kNN language classifier (positive class = 'en', the majority
      // lang), on the shared EVAL_N evaluation sample (ML.knnPredLang —
      // one n·EVAL_N distance pass per session, reused across the whole
      // scoring family). The 2×2 confusion counts are exact BIGINT; MCC's
      // numerator tp·tn − fp·fn and the four marginal products stay in
      // BIGINT (≤ EVAL_N² each), so the only double ops are the final
      // sqrt and divisions — bit-deterministic cross-engine.
      (s, dir) => {
        val pred = ML.knnPredLang(s, dir)
        val truth = T.documents(s, dir).select(col("doc_id"), col("lang"))
        pred.join(truth, pred("q_id") === truth("doc_id"))
          .select((col("lang") === "en").cast("int").as("y"),
            (col("pred_lang") === "en").cast("int").as("p"))
          .agg(
            sum(when(col("y") === 1 && col("p") === 1, 1L).otherwise(0L)).as("tp"),
            sum(when(col("y") === 0 && col("p") === 1, 1L).otherwise(0L)).as("fp"),
            sum(when(col("y") === 1 && col("p") === 0, 1L).otherwise(0L)).as("fn"),
            sum(when(col("y") === 0 && col("p") === 0, 1L).otherwise(0L)).as("tn"))
          .selectExpr("tp", "fp", "fn", "tn",
            "round(CAST(tp * tn - fp * fn AS DOUBLE) / sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE) * CAST((tn + fp) * (tn + fn) AS DOUBLE)), 6) AS mcc",
            "round((CAST(tp AS DOUBLE) / (tp + fn) + CAST(tn AS DOUBLE) / (tn + fp)) / 2, 6) AS bal_acc")
      },
      Some(s"""WITH ${ML.sqlKnnPredCtes},
                 bin AS (SELECT CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y,
                                CASE WHEN p.pred_lang = 'en' THEN 1 ELSE 0 END AS p
                         FROM pred p JOIN documents d ON p.q_id = d.doc_id),
                 c AS (SELECT
                     CAST(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                     CAST(sum(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                     CAST(sum(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                     CAST(sum(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
                   FROM bin)
               SELECT tp, fp, fn, tn,
                 round(CAST(tp * tn - fp * fn AS DOUBLE) / sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE) * CAST((tn + fp) * (tn + fn) AS DOUBLE)), 6) AS mcc,
                 round((CAST(tp AS DOUBLE) / (tp + fn) + CAST(tn AS DOUBLE) / (tn + fp)) / 2, 6) AS bal_acc
               FROM c""")),

    QueryDef(
      "ml_knn_k_sweep",
      // k-selection sweep for the kNN language classifier — accuracy at
      // k ∈ {1, 3, 5} from ONE n·EVAL_N distance pass (ML.knnEvalNN's
      // rn-carrying neighbor table: the vote at k is a PREFIX of the
      // k = 5 neighbor list, the ml_kmeans_elbow prefix trick applied to
      // classification). Votes and corrects are exact BIGINTs; ties
      // break (votes DESC, lang ASC) — the knnPredLang contract.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val nn = ML.knnEvalNN(s, dir)
        val labels = T.documents(s, dir).select(col("doc_id"), col("lang"))
        val ks = broadcast(Seq(1, 3, 5).toDF("k"))
        val voted = nn.join(labels, nn("n_id") === labels("doc_id"))
          .crossJoin(ks).where(col("rn") <= col("k"))
          .groupBy("k", "q_id", "lang").agg(count(lit(1)).as("votes"))
        val pick = Window.partitionBy(col("k"), col("q_id"))
          .orderBy(col("votes").desc, col("lang").asc)
        val pred = voted.withColumn("vr", row_number().over(pick))
          .where(col("vr") === 1)
          .select(col("k"), col("q_id"), col("lang").as("pred_lang"))
        pred.join(labels.select(col("doc_id").as("q_id"),
            col("lang").as("true_lang")), "q_id")
          .groupBy("k")
          .agg(count(lit(1)).as("n_eval"),
            sum(when(col("pred_lang") === col("true_lang"), 1L)
              .otherwise(0L)).as("n_correct"))
          .selectExpr("k", "n_eval", "n_correct",
            "round(CAST(n_correct AS DOUBLE) / n_eval, 6) AS accuracy")
          .orderBy("k")
      },
      Some(s"""WITH ${ML.sqlKnnNNCtes},
                 ks AS (SELECT unnest([1, 3, 5]) AS k),
                 voted AS (SELECT k, q_id, lang, count(*) AS votes
                   FROM nnr JOIN documents ON n_id = doc_id
                   CROSS JOIN ks WHERE rn <= k
                   GROUP BY k, q_id, lang),
                 pred AS (SELECT k, q_id, lang AS pred_lang FROM (
                     SELECT k, q_id, lang, row_number() OVER (
                       PARTITION BY k, q_id ORDER BY votes DESC, lang ASC) AS vr
                     FROM voted) t WHERE vr = 1)
               SELECT k, count(*) AS n_eval,
                 CAST(sum(CASE WHEN pred_lang = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                 round(CAST(sum(CASE WHEN pred_lang = d.lang THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
               FROM pred JOIN documents d ON pred.q_id = d.doc_id
               GROUP BY k ORDER BY k""")),

    QueryDef(
      "ml_mcnemar",
      // McNemar's paired test (continuity-corrected) between the k = 1
      // and k = 5 kNN language classifiers on the SAME evaluation sample
      // — the statistically-sound way to compare two models on one test
      // set (Dietterich 1998): only the discordant pairs matter,
      // X² = (|b − c| − 1)² / (b + c) with b = k5-right/k1-wrong and
      // c = k1-right/k5-wrong. Both prediction sets derive from one
      // n·EVAL_N pass (ML.knnEvalNN prefix votes); all counts exact.
      (s, dir) => {
        val nn = ML.knnEvalNN(s, dir)
        val labels = T.documents(s, dir).select(col("doc_id"), col("lang"))
        val nl = T.freeze(nn.join(labels, nn("n_id") === labels("doc_id"))
          .select(col("q_id"), col("rn"), col("lang")))
        val p1 = nl.where(col("rn") === 1)
          .select(col("q_id"), col("lang").as("p1"))
        val pick = Window.partitionBy(col("q_id"))
          .orderBy(col("votes").desc, col("lang").asc)
        val p5 = nl.groupBy("q_id", "lang").agg(count(lit(1)).as("votes"))
          .withColumn("vr", row_number().over(pick)).where(col("vr") === 1)
          .select(col("q_id"), col("lang").as("p5"))
        p1.join(p5, "q_id")
          .join(labels.select(col("doc_id").as("q_id"),
            col("lang").as("y")), "q_id")
          .agg(count(lit(1)).as("n"),
            sum(when(col("p5") === col("y") && col("p1") =!= col("y"), 1L)
              .otherwise(0L)).as("b"),
            sum(when(col("p5") =!= col("y") && col("p1") === col("y"), 1L)
              .otherwise(0L)).as("c"))
          .selectExpr("n", "b", "c",
            "CASE WHEN b + c = 0 THEN 0e0 ELSE " +
              "round((abs(CAST(b - c AS DOUBLE)) - 1e0) * (abs(CAST(b - c AS DOUBLE)) - 1e0) / (b + c), 6) END AS mcnemar")
      },
      Some(s"""WITH ${ML.sqlKnnNNCtes},
                 nl AS (SELECT q_id, rn, lang
                   FROM nnr JOIN documents ON n_id = doc_id),
                 p1 AS (SELECT q_id, lang AS p1 FROM nl WHERE rn = 1),
                 p5 AS (SELECT q_id, lang AS p5 FROM (
                     SELECT q_id, lang, row_number() OVER (
                       PARTITION BY q_id ORDER BY count(*) DESC, lang ASC) AS vr
                     FROM nl GROUP BY q_id, lang) t WHERE vr = 1),
                 j AS (SELECT p1.q_id, p1.p1, p5.p5, d.lang AS y
                   FROM p1 JOIN p5 ON p1.q_id = p5.q_id
                   JOIN documents d ON p1.q_id = d.doc_id),
                 cnt AS (SELECT count(*) AS n,
                     CAST(sum(CASE WHEN p5 = y AND p1 <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
                     CAST(sum(CASE WHEN p5 <> y AND p1 = y THEN 1 ELSE 0 END) AS BIGINT) AS c
                   FROM j)
               SELECT n, b, c,
                 CASE WHEN b + c = 0 THEN 0e0 ELSE
                   round((abs(CAST(b - c AS DOUBLE)) - 1e0) * (abs(CAST(b - c AS DOUBLE)) - 1e0) / (b + c), 6) END AS mcnemar
               FROM cnt""")),

    QueryDef(
      "text_edit_distance",
      // Levenshtein verification of the MinHash candidate pairs — the
      // second-stage exact check a dedup pipeline runs AFTER LSH banding
      // (candidates only, never all pairs: the pair set is the
      // LSH-bucket-bounded TextSim.minhashPairs, so the O(len²) DP cost is
      // per-candidate, with the compared prefix capped at LEV_CAP chars —
      // the standard guard against pathological document lengths). Both
      // engines implement the classic unit-cost insert/delete/substitute
      // DP; the fixture text is ASCII so char semantics agree exactly.
      // Output: per candidate pair the distance and the normalized
      // similarity 1 − lev/max(len) — the score a curation run thresholds.
      (s, dir) => {
        val txt = T.documents(s, dir)
          .select(col("doc_id"), substring(col("text"), 1, LEV_CAP).as("tx"))
        val pairs = TextSim.minhashPairs(s, dir)
        pairs
          .join(txt.select(col("doc_id").as("doc_a"), col("tx").as("ta")), "doc_a")
          .join(txt.select(col("doc_id").as("doc_b"), col("tx").as("tb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            length(col("ta")).as("la"), length(col("tb")).as("lb"),
            levenshtein(col("ta"), col("tb")).as("lev"))
          .withColumn("sim",
            round(lit(1.0) - col("lev").cast("double") / greatest(col("la"), col("lb")), 6))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH ${TextSim.sqlMinhashCtes},
                 tx AS (SELECT doc_id, substring(text, 1, $LEV_CAP) AS t
                        FROM documents),
                 sc AS (SELECT p.doc_a, p.doc_b,
                     length(a.t) AS la, length(b.t) AS lb,
                     levenshtein(a.t, b.t) AS lev
                   FROM pairs p
                   JOIN tx a ON p.doc_a = a.doc_id
                   JOIN tx b ON p.doc_b = b.doc_id)
               SELECT doc_a, doc_b, la, lb, lev,
                 round(1.0 - CAST(lev AS DOUBLE) / greatest(la, lb), 6) AS sim
               FROM sc ORDER BY doc_a, doc_b""")),

    QueryDef(
      "ml_calinski_harabasz",
      // cuml.metrics-adjacent Calinski–Harabasz (variance-ratio) score of
      // the k-means labeling: CH = (B/(k−1))/(W/(n−k)) with B/W the
      // between/within scatter. Computed from MOMENTS, not pairs: one
      // posexplode pass yields exact per-(cid,j) coordinate sums and
      // per-cid second moments (clusterMoments); B = Σ_{c,j} n_c(m_cj−g_j)²
      // and W = Σ_c (ss_c − n_c·Σ_j m_cj²) are then bounded k×64-row
      // computations. The corpus is touched ONCE; the exact decimal sums
      // make every downstream double identical cross-engine (each bounded
      // reduction rides the xsum wire, so order can't split the engines).
      (s, dir) => {
        val (sx0, mc0) = clusterMoments(s, dir)
        val sx = T.freeze(sx0); val mc = T.freeze(mc0)
        val mj = sx.join(mc.select("cid", "nc"), "cid")
          .selectExpr("cid", "j", "nc", "CAST(sx AS DOUBLE) / nc AS m")
        val gj = sx.groupBy("j").agg(sum(col("sx")).as("gs"))
        val tot = mc.agg(sum(col("nc")).cast("long").as("n"),
          count(lit(1)).as("k"))
        val bss = mj.join(gj, "j").crossJoin(broadcast(tot))
          .selectExpr(
            "CAST(nc AS DOUBLE) * (m - CAST(gs AS DOUBLE) / n) * (m - CAST(gs AS DOUBLE) / n) AS t")
          .agg(T.xsum(col("t")).as("bss"))
        val sm2 = mj.groupBy("cid").agg(T.xsum(expr("m * m")).as("sm2"))
        val wss = mc.join(sm2, "cid")
          .selectExpr("CAST(ss AS DOUBLE) - CAST(nc AS DOUBLE) * sm2 AS wc")
          .agg(T.xsum(col("wc")).as("wss"))
        bss.crossJoin(wss).crossJoin(broadcast(tot))
          .selectExpr("n", "k", "round(bss, 6) AS bss", "round(wss, 6) AS wss",
            "round((bss / (k - 1)) / (wss / (n - k)), 6) AS ch")
      },
      Some(s"""WITH ${Metrics.sqlLloydAssign},
                 $sqlClusterMoments,
                 $sqlCentroids,
                 gj AS (SELECT j, sum(sx) AS gs FROM sx GROUP BY j),
                 tot AS (SELECT CAST(sum(nc) AS BIGINT) AS n,
                                count(*) AS k FROM mc),
                 bs AS (SELECT ${T.sqlXsum(
                     "CAST(nc AS DOUBLE) * (m - CAST(gs AS DOUBLE) / n) * (m - CAST(gs AS DOUBLE) / n)")} AS bss
                        FROM mj JOIN gj ON mj.j = gj.j CROSS JOIN tot),
                 sm2 AS (SELECT cid, ${T.sqlXsum("m * m")} AS sm2
                         FROM mj GROUP BY cid),
                 ws AS (SELECT ${T.sqlXsum(
                     "CAST(ss AS DOUBLE) - CAST(nc AS DOUBLE) * sm2")} AS wss
                        FROM mc JOIN sm2 ON mc.cid = sm2.cid)
               SELECT n, k, round(bss, 6) AS bss, round(wss, 6) AS wss,
                 round((bss / (k - 1)) / (wss / (n - k)), 6) AS ch
               FROM bs CROSS JOIN ws CROSS JOIN tot""")),

    QueryDef(
      "ml_davies_bouldin",
      // Davies–Bouldin index of the same labeling, centroid-diameter
      // (RMS-radius) variant: s_c = √(W_c/n_c), d_ij = ‖m_i − m_j‖,
      // R_i = max_{j≠i}(s_i+s_j)/d_ij, DB = mean_i R_i. Shares the ONE
      // corpus moment pass with ml_calinski_harabasz; the pairwise
      // centroid table is k²×64 bounded rows (k = 10 here; production k
      // is the SemDeDup cluster count — still driver-trivial). Output:
      // per-cluster radius and worst separation ratio, plus the index.
      (s, dir) => {
        val (sx0, mc0) = clusterMoments(s, dir)
        val sx = T.freeze(sx0); val mc = T.freeze(mc0)
        val mj = sx.join(mc.select("cid", "nc"), "cid")
          .selectExpr("cid", "j", "CAST(sx AS DOUBLE) / nc AS m")
        val sm2 = mj.groupBy("cid").agg(T.xsum(expr("m * m")).as("sm2"))
        val sc = mc.join(sm2, "cid")
          .selectExpr("cid",
            "sqrt((CAST(ss AS DOUBLE) - CAST(nc AS DOUBLE) * sm2) / nc) AS s")
        val d2 = mj.join(
            mj.select(col("cid").as("cid2"), col("j"), col("m").as("m2")), "j")
          .where(col("cid") =!= col("cid2"))
          .groupBy("cid", "cid2")
          .agg(T.xsum(expr("(m - m2) * (m - m2)")).as("d2"))
        val rmax = d2.join(sc, "cid")
          .join(sc.select(col("cid").as("cid2"), col("s").as("s2")), "cid2")
          .selectExpr("cid", "(s + s2) / sqrt(d2) AS r")
          .groupBy("cid").agg(max(col("r")).as("rmax"))
        val db = rmax.agg((T.xsum(col("rmax")) / count(lit(1))).as("db"))
        sc.join(rmax, "cid").crossJoin(broadcast(db))
          .selectExpr("cid", "round(s, 6) AS radius",
            "round(rmax, 6) AS r_max", "round(db, 6) AS db_index")
          .orderBy("cid")
      },
      Some(s"""WITH ${Metrics.sqlLloydAssign},
                 $sqlClusterMoments,
                 $sqlCentroids,
                 sm2 AS (SELECT cid, ${T.sqlXsum("m * m")} AS sm2
                         FROM mj GROUP BY cid),
                 sc AS (SELECT mc.cid,
                     sqrt((CAST(ss AS DOUBLE) - CAST(nc AS DOUBLE) * sm2) / nc) AS s
                   FROM mc JOIN sm2 ON mc.cid = sm2.cid),
                 d2 AS (SELECT x.cid, y.cid AS cid2,
                     ${T.sqlXsum("(x.m - y.m) * (x.m - y.m)")} AS d2
                   FROM mj x JOIN mj y ON x.j = y.j AND x.cid <> y.cid
                   GROUP BY x.cid, y.cid),
                 rm AS (SELECT d2.cid, max((a1.s + a2.s) / sqrt(d2.d2)) AS rmax
                   FROM d2 JOIN sc a1 ON d2.cid = a1.cid
                           JOIN sc a2 ON d2.cid2 = a2.cid
                   GROUP BY d2.cid),
                 db AS (SELECT ${T.sqlXsum("rmax")} / count(*) AS db FROM rm)
               SELECT sc.cid, round(sc.s, 6) AS radius,
                 round(rm.rmax, 6) AS r_max, round(db.db, 6) AS db_index
               FROM sc JOIN rm ON sc.cid = rm.cid CROSS JOIN db
               ORDER BY sc.cid""")),

    QueryDef(
      "ml_tweedie_glm",
      // Tweedie GLM, power p = 1.5 (compound Poisson–gamma — the
      // insurance/claims loss between Poisson p=1 and gamma p=2), log
      // link, on the same (y = l_quantity, x = l_discount) frame as
      // ml_poisson_glm so the family is directly comparable. 3 Fisher
      // scoring steps; per step ONE distributed aggregation — score
      // U = Σ(y−μ)·μ^(1−p)·(1,x) = Σ(y−μ)/√μ·(1,x), information
      // I = Σμ^(2−p)·(1,x)(1,x)ᵀ = Σ√μ·(1,x)(1,x)ᵀ — on the exact
      // decimal wire, the 2×2 solve on the client (ML.logLinkFit, the
      // GLM family's one Twin fit). μ = exp(η) is
      // REAL-collapsed; √ and / are IEEE-exact so every per-row term is
      // identical cross-engine.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val Array(a, b) = Twin.fit(ML.glmRows(s, dir), tweedieFit).last
        Seq((a, b)).toDF("ia", "ib")
          .selectExpr("round(ia, 6) AS intercept", "round(ib, 6) AS slope",
            "round(CAST(CAST(exp(ia) AS REAL) AS DOUBLE), 6) AS mu_at_zero")
      },
      Some {
        s"""WITH ${ML.sqlGlmRows},
                 ${Twin.sqlFit(tweedieFit, "prows", "tw")}
               SELECT round(a, 6) AS intercept, round(b, 6) AS slope,
                 round(CAST(CAST(exp(a) AS REAL) AS DOUBLE), 6) AS mu_at_zero
               FROM tw3"""
      }),

    QueryDef(
      "graph_bfs",
      // Multi-source BFS on the near-duplicate graph: hop distance from
      // the deterministic ~10% seed set (id ≡ 0 mod BFS_SEED_MOD), 3
      // unrolled frontier rounds — the reachability profile a dedup run
      // uses to see how far boilerplate contagion spreads from known
      // templates. The distributed shape: the label table is (v, dist);
      // one round = frontier semi-join against the symmetric edge list +
      // a left join back onto labels (both shuffles on vertex keys,
      // AQE-friendly), one Twin.rounds round. Unrolled-fixed rounds keep
      // the oracle expressible; the at-scale form iterates to frontier
      // exhaustion with the same per-round body. Output: the hop-distance
      // histogram (dist −1 = unreached within 3 hops).
      (s, dir) => {
        val pairs = T.freeze(TextSim.minhashPairs(s, dir))
        val edges = pairs
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val verts = edges.select(col("src").as("v")).distinct()
        val init = T.freeze(verts.select(col("v"),
          when(col("v") % BFS_SEED_MOD === 0, lit(0))
            .otherwise(lit(null).cast("int")).as("dist")))
        Twin.rounds(init, BFS_HOPS) { (lab, k) =>
          val frontier = lab.where(col("dist") === k - 1).select(col("v").as("src"))
          val nxt = edges.join(frontier, "src")
            .select(col("dst").as("v")).distinct()
            .withColumn("nd", lit(k))
          lab.join(nxt, Seq("v"), "left")
            .select(col("v"), coalesce(col("dist"), col("nd")).as("dist"))
        }.groupBy(coalesce(col("dist"), lit(-1)).as("dist"))
          .agg(count(lit(1)).as("n_vertices"))
          .orderBy("dist")
      },
      Some(s"""WITH ${TextSim.sqlMinhashCtes},
                 ed AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                        UNION ALL SELECT doc_b, doc_a FROM pairs),
                 v0 AS (SELECT DISTINCT src AS v FROM ed),
                 l0 AS (SELECT v, CASE WHEN v % $BFS_SEED_MOD = 0 THEN 0 END AS dist
                        FROM v0),
                 ${Twin.sqlRounds(BFS_HOPS)(k =>
                   s"""f$k AS (SELECT DISTINCT e.dst AS v, $k AS nd
                   FROM ed e JOIN l${k - 1} l ON l.v = e.src AND l.dist = ${k - 1}),
                 l$k AS (SELECT l.v, COALESCE(l.dist, f$k.nd) AS dist
                   FROM l${k - 1} l LEFT JOIN f$k ON f$k.v = l.v)""")}
               SELECT COALESCE(dist, -1) AS dist, count(*) AS n_vertices
               FROM l$BFS_HOPS GROUP BY 1 ORDER BY 1""")),

    QueryDef(
      "graph_harmonic_centrality",
      // Truncated harmonic centrality of 3 probe vertices on the
      // near-duplicate graph: H(s) = Σ_{v reached, v≠s} 1/d(s,v) with the
      // BFS truncated at 3 hops — the HyperBall-family centrality
      // (Boldi & Vigna 2014 compute exactly this with sketched frontiers;
      // here the frontiers are exact). Probes = the 3 smallest vertices
      // of graph_bfs's seed residue class, so the two rows profile the
      // same template set. The distributed shape: a SPARSE (v, seed,
      // dist) label table — only reached pairs exist, so the state is
      // Σ ball sizes, not |V|×seeds; one round = frontier join against
      // the symmetric edge list + anti-join against the labels (all
      // vertex-keyed shuffles), one Twin.rounds round. Output: per probe
      // the ball profile n1/n2/n3 and the truncated harmonic sum.
      (s, dir) => {
        val pairs = T.freeze(TextSim.minhashPairs(s, dir))
        val edges = pairs
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
          .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        val seeds = edges.select(col("src").as("v")).distinct()
          .where(col("v") % BFS_SEED_MOD === 0)
          .orderBy("v").limit(3)
        val init = T.freeze(seeds
          .select(col("v"), col("v").as("seed"), lit(0).as("dist")))
        Twin.rounds(init, BFS_HOPS) { (lab, k) =>
          val frontier = lab.where(col("dist") === k - 1)
            .select(col("v").as("src"), col("seed"))
          val nxt = edges.join(frontier, "src")
            .select(col("dst").as("v"), col("seed")).distinct()
            .join(lab.select("v", "seed"), Seq("v", "seed"), "left_anti")
            .withColumn("dist", lit(k))
          lab.unionAll(nxt)
        }.where(col("dist") > 0)
          .groupBy("seed")
          .agg(
            sum(when(col("dist") === 1, 1L).otherwise(0L)).as("n1"),
            sum(when(col("dist") === 2, 1L).otherwise(0L)).as("n2"),
            sum(when(col("dist") === 3, 1L).otherwise(0L)).as("n3"))
          .selectExpr("seed", "n1", "n2", "n3",
            "round(n1 + n2 / 2e0 + n3 / 3e0, 6) AS harmonic")
          .orderBy("seed")
      },
      Some(s"""WITH ${TextSim.sqlMinhashCtes},
                 ed AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                        UNION ALL SELECT doc_b, doc_a FROM pairs),
                 seeds AS (SELECT DISTINCT src AS v FROM ed
                   WHERE src % $BFS_SEED_MOD = 0 ORDER BY v LIMIT 3),
                 l0 AS (SELECT v, v AS seed, 0 AS dist FROM seeds),
                 ${Twin.sqlRounds(BFS_HOPS)(k =>
                   s"""f$k AS (SELECT DISTINCT e.dst AS v, l.seed
                   FROM ed e JOIN l${k - 1} l ON l.v = e.src AND l.dist = ${k - 1}),
                 n$k AS (SELECT f.v, f.seed, $k AS dist FROM f$k f
                   LEFT JOIN l${k - 1} l ON l.v = f.v AND l.seed = f.seed
                   WHERE l.v IS NULL),
                 l$k AS (SELECT * FROM l${k - 1} UNION ALL SELECT * FROM n$k)""")}
               SELECT seed,
                 CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                 round(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END)
                   + sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) / 2e0
                   + sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) / 3e0, 6) AS harmonic
               FROM l$BFS_HOPS WHERE dist > 0 GROUP BY seed ORDER BY seed""")),

    QueryDef(
      "text_bleu",
      // Sentence-level BLEU-2 (Papineni et al. 2002) of each document
      // against its source's next document — the eval-harness metric shape
      // (modified/clipped n-gram precision × brevity penalty) over a
      // deterministic pairing. The overlap join is GRAM-KEYED per pair
      // (inverted-index cost Σ|cand grams|, never pairwise over the
      // corpus); clipped counts stay BIGINT; ln/exp are REAL-collapsed and
      // the geometric mean is one shared-text expression — the GLM-family
      // determinism discipline.
      (s, dir) => {
        val ov1 = clipOverlap(s, dir, 1)
        val ov2 = clipOverlap(s, dir, 2)
          .select(col("ca"), col("num").as("num2"), col("den").as("den2"))
        val dl = T.documents(s, dir).selectExpr("doc_id",
          "size(filter(split(text, ' '), t -> t <> '')) AS rlen")
        ov1.join(ov2, "ca")
          .join(dl.select(col("doc_id").as("re"), col("rlen")), "re")
          .selectExpr("ca", "re",
            "CAST(num AS DOUBLE) / den AS p1",
            "CASE WHEN den2 > 0 THEN CAST(num2 AS DOUBLE) / den2 ELSE 0e0 END AS p2",
            s"CASE WHEN den >= rlen THEN 1e0 ELSE ${expR("1e0 - CAST(rlen AS DOUBLE) / den")} END AS bp")
          .selectExpr("ca AS doc_id", "re AS ref_id",
            "round(p1, 6) AS p1", "round(p2, 6) AS p2",
            s"round(CASE WHEN p1 > 0 AND p2 > 0 THEN bp * ${expR(s"(${lnR("p1")} + ${lnR("p2")}) / 2")} ELSE 0e0 END, 6) AS bleu2")
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlEvalPairs,
                 ${sqlGramCounts(1)},
                 ${sqlGramCounts(2)},
                 ${sqlClipOverlap(1)},
                 ${sqlClipOverlap(2)},
                 dl AS (SELECT doc_id,
                     len(list_filter(string_split(text, ' '), t -> t <> '')) AS rlen
                   FROM documents),
                 m AS (SELECT ov1.ca, ov1.re,
                     CAST(ov1.num AS DOUBLE) / ov1.den AS p1,
                     CASE WHEN ov2.den > 0 THEN CAST(ov2.num AS DOUBLE) / ov2.den ELSE 0e0 END AS p2,
                     CASE WHEN ov1.den >= dl.rlen THEN 1e0 ELSE ${expRD("1e0 - CAST(dl.rlen AS DOUBLE) / ov1.den")} END AS bp
                   FROM ov1 JOIN ov2 ON ov1.ca = ov2.ca
                   JOIN dl ON dl.doc_id = ov1.re)
               SELECT ca AS doc_id, re AS ref_id,
                 round(p1, 6) AS p1, round(p2, 6) AS p2,
                 round(CASE WHEN p1 > 0 AND p2 > 0 THEN bp * ${expRD(s"(${lnRD("p1")} + ${lnRD("p2")}) / 2")} ELSE 0e0 END, 6) AS bleu2
               FROM m ORDER BY doc_id""")),

    QueryDef(
      "text_rouge_n",
      // ROUGE-1/2 recall for the same candidate/reference pairing as
      // text_bleu: clipped overlap over the REFERENCE length (recall,
      // where BLEU is precision — together they complete the n-gram eval
      // pair). Shares the gram-keyed clip wire; the clipped numerator is
      // symmetric, so only the denominators change (reference token /
      // bigram totals, map-only per doc).
      (s, dir) => {
        val ov1 = clipOverlap(s, dir, 1)
          .select(col("ca"), col("re"), col("num").as("num1"))
        val ov2 = clipOverlap(s, dir, 2).select(col("ca"), col("num").as("num2"))
        val dl = T.documents(s, dir).selectExpr("doc_id",
          "size(filter(split(text, ' '), t -> t <> '')) AS rl1")
          .selectExpr("doc_id", "rl1", "greatest(rl1 - 1, 0) AS rl2")
        ov1.join(ov2, "ca")
          .join(dl.select(col("doc_id").as("re"), col("rl1"), col("rl2")), "re")
          .selectExpr("ca AS doc_id", "re AS ref_id",
            "round(CAST(num1 AS DOUBLE) / rl1, 6) AS rouge1",
            "round(CASE WHEN rl2 > 0 THEN CAST(num2 AS DOUBLE) / rl2 ELSE 0e0 END, 6) AS rouge2")
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlEvalPairs,
                 ${sqlGramCounts(1)},
                 ${sqlGramCounts(2)},
                 ${sqlClipOverlap(1)},
                 ${sqlClipOverlap(2)},
                 dl AS (SELECT doc_id, rl1, greatest(rl1 - 1, 0) AS rl2 FROM (
                     SELECT doc_id,
                       len(list_filter(string_split(text, ' '), t -> t <> '')) AS rl1
                     FROM documents) t)
               SELECT ov1.ca AS doc_id, ov1.re AS ref_id,
                 round(CAST(ov1.num AS DOUBLE) / dl.rl1, 6) AS rouge1,
                 round(CASE WHEN dl.rl2 > 0 THEN CAST(ov2.num AS DOUBLE) / dl.rl2 ELSE 0e0 END, 6) AS rouge2
               FROM ov1 JOIN ov2 ON ov1.ca = ov2.ca
               JOIN dl ON dl.doc_id = ov1.re
               ORDER BY doc_id""")),

    QueryDef(
      "join_bloom_filter",
      // Bloom-filter semi-join reduction — THE 100 TB shuffle-pruning
      // pattern: build a 2048-bit Bloom filter (64 32-bit words, 3 affine hashes
      // — the engine's deterministic hash family, since engine hash()
      // builtins differ) over the small filtered build side, broadcast it
      // (32 rows!), and pre-filter the probe side before the expensive
      // join/shuffle. The row reports the filter's effectiveness: exact
      // matches, Bloom passes, false positives. At scale the filter size
      // grows ∝ build keys (m/n ≈ 15 bits/key for 1% FP) and the probe
      // prune happens BEFORE the shuffle — the probe side never moves
      // non-candidate rows. No engine-native bloom is used, so the oracle
      // mirrors the filter bit-for-bit.
      (s, dir) => {
        val M = 2048L
        val hashes = Seq((387143L, 31337L), (670871L, 271829L), (919393L, 828181L))
        def positions(k: org.apache.spark.sql.Column) =
          array(hashes.map { case (a, b) =>
            ((lit(a) * k + lit(b)) % T.HASH_P) % M }: _*)
        val bld = T.orders(s, dir).where(col("o_totalprice") > 495000)
          .select(col("o_custkey").as("k")).distinct()
        val bloom = bld.select(explode(positions(col("k"))).as("pos")).distinct()
          .selectExpr("pos DIV 32 AS w", "CAST(pos % 32 AS INT) AS b")
          .groupBy("w").agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), b))").as("m"))
        val pb = T.customer(s, dir).select(col("c_custkey").as("k"))
          .transform(T.fanOut(_, col("k")))
          .select(col("k"), explode(positions(col("k"))).as("pos"))
          .selectExpr("k", "pos DIV 32 AS w", "CAST(pos % 32 AS INT) AS b")
        val pass = pb.join(broadcast(bloom), Seq("w"), "left")
          .selectExpr("k",
            "CASE WHEN m IS NOT NULL AND (m & shiftleft(CAST(1 AS BIGINT), b)) <> 0 THEN 1 ELSE 0 END AS hit")
          .groupBy("k").agg(sum(col("hit")).as("nh")).where(col("nh") === 3)
        val cust = T.customer(s, dir)
        val exact = cust.join(bld, cust("c_custkey") === bld("k"), "left_semi")
        bld.agg(count(lit(1)).as("n_build_keys"))
          .crossJoin(cust.agg(count(lit(1)).as("n_probe")))
          .crossJoin(pass.agg(count(lit(1)).as("n_bloom_pass")))
          .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
          .selectExpr("n_build_keys", "n_probe", "n_bloom_pass", "n_exact",
            "n_bloom_pass - n_exact AS n_false_pos")
      },
      Some(s"""WITH bld AS (SELECT DISTINCT o_custkey AS k FROM orders
                            WHERE o_totalprice > 495000),
                 bp0 AS (SELECT ((387143 * k + 31337) % ${T.HASH_P}) % 2048 AS pos FROM bld
                         UNION ALL SELECT ((670871 * k + 271829) % ${T.HASH_P}) % 2048 FROM bld
                         UNION ALL SELECT ((919393 * k + 828181) % ${T.HASH_P}) % 2048 FROM bld),
                 bm AS (SELECT pos // 32 AS w,
                     bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS m
                   FROM (SELECT DISTINCT pos FROM bp0) t GROUP BY pos // 32),
                 pp AS (SELECT c_custkey AS k, ((387143 * c_custkey + 31337) % ${T.HASH_P}) % 2048 AS pos FROM customer
                        UNION ALL SELECT c_custkey, ((670871 * c_custkey + 271829) % ${T.HASH_P}) % 2048 FROM customer
                        UNION ALL SELECT c_custkey, ((919393 * c_custkey + 828181) % ${T.HASH_P}) % 2048 FROM customer),
                 hit AS (SELECT pb.k,
                     CASE WHEN bm.m IS NOT NULL AND (bm.m & (CAST(1 AS BIGINT) << CAST(pb.b AS INT))) <> 0 THEN 1 ELSE 0 END AS hit
                   FROM (SELECT k, pos // 32 AS w, pos % 32 AS b FROM pp) pb
                   LEFT JOIN bm ON pb.w = bm.w),
                 pass AS (SELECT k FROM hit GROUP BY k HAVING sum(hit) = 3),
                 ex AS (SELECT count(*) AS n_exact FROM customer
                        WHERE c_custkey IN (SELECT k FROM bld)),
                 cc AS (SELECT count(*) AS n_probe FROM customer),
                 bc AS (SELECT count(*) AS n_build_keys FROM bld),
                 pc AS (SELECT count(*) AS n_bloom_pass FROM pass)
               SELECT n_build_keys, n_probe, n_bloom_pass, n_exact,
                 n_bloom_pass - n_exact AS n_false_pos
               FROM bc CROSS JOIN cc CROSS JOIN pc CROSS JOIN ex""")),

    QueryDef(
      "ml_quality_classifier",
      // The GPT-3-style document quality filter (Brown et al. 2020 §A —
      // a linear classifier on document features deciding what enters the
      // training mix): logistic regression of y = (lang = 'en') on two
      // map-only text features (stopword ratio, mean token length), 3
      // Newton/IRLS steps. Feature extraction fuses into the scan; per
      // step ONE distributed 9-sum aggregation (gradient + the 3×3
      // Hessian's unique entries) on the exact decimal wire; the 3×3
      // solve is the shared [[qualityFit]] text both engines run
      // (sigmoid REAL-collapsed). Output: the
      // fitted weights + training accuracy — the numbers a curation run
      // logs before applying the filter.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val d = qualityRows(s, dir)
        val Array(a, b1, b2) = qualityBeta(s, dir)
        val co = Seq((a, b1, b2)).toDF("ca", "cb1", "cb2")
        val mu = (lit(1.0) / (lit(1.0) +
          exp(-(col("ca") + col("cb1") * col("x1") + col("cb2") * col("x2")))))
          .cast("float").cast("double")
        d.crossJoin(broadcast(co))
          .select(col("y"), mu.as("mu"), col("ca"), col("cb1"), col("cb2"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CASE WHEN (mu >= 5e-1) = (y = 1e0) THEN 1 ELSE 0 END")).as("nc"),
            first(col("ca")).as("ca"), first(col("cb1")).as("cb1"),
            first(col("cb2")).as("cb2"))
          .selectExpr("round(ca, 6) AS intercept", "round(cb1, 6) AS w_stop",
            "round(cb2, 6) AS w_toklen", "n",
            "round(CAST(nc AS DOUBLE) / n, 6) AS train_acc")
      },
      Some {
        val sig = ML.sigmoidR("a + b1 * x1 + b2 * x2")
        s"""WITH drows AS (SELECT
                   CAST(len(list_filter(ts, t -> list_contains(['the','a','data','row','value'], t))) AS DOUBLE) / len(ts) AS x1,
                   CAST(n_chars AS DOUBLE) / len(ts) AS x2,
                   CASE WHEN lang = 'en' THEN 1e0 ELSE 0e0 END AS y
                 FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS ts,
                         n_chars, lang FROM documents) t0),
                 ${Twin.sqlFit(qualityFit, "drows", "q")},
                 fin AS (SELECT y, $sig AS mu, a, b1, b2 FROM drows, q3)
               SELECT round(any_value(a), 6) AS intercept,
                 round(any_value(b1), 6) AS w_stop,
                 round(any_value(b2), 6) AS w_toklen,
                 count(*) AS n,
                 round(CAST(sum(CASE WHEN (mu >= 5e-1) = (y = 1e0) THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS train_acc
               FROM fin"""
      }),

    QueryDef(
      "graph_assortativity",
      // Degree assortativity (Newman 2002) of the near-duplicate graph:
      // the Pearson correlation of endpoint degrees over the DIRECTED
      // edge list (both orientations — the standard undirected
      // convention). A dedup graph with positive assortativity has
      // template hubs linking to template hubs (one boilerplate family);
      // negative means hubs surrounded by leaves (star-shaped
      // contamination). Every sum is exact BIGINT (degrees × degrees);
      // the correlation is ONE final shared-text double expression —
      // bit-deterministic, no xsum needed. Scale: two vertex-keyed joins
      // of the edge list against the degree table, one 6-sum reduce.
      (s, dir) => {
        val pairs = T.freeze(TextSim.minhashPairs(s, dir))
        val dn = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
          .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        val deg = dn.groupBy("u").agg(count(lit(1)).as("deg"))
        val ed = dn.join(deg, "u").withColumnRenamed("deg", "dx")
          .join(deg.select(col("u").as("v"), col("deg").as("dy")), "v")
        ed.agg(count(lit(1)).as("mm"),
            sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
            sum(col("dx") * col("dx")).as("sxx"),
            sum(col("dy") * col("dy")).as("syy"),
            sum(col("dx") * col("dy")).as("sxy"))
          .selectExpr("mm AS n_directed_edges",
            "round((CAST(sxy AS DOUBLE) / mm - (CAST(sx AS DOUBLE) / mm) * (CAST(sy AS DOUBLE) / mm)) / sqrt((CAST(sxx AS DOUBLE) / mm - (CAST(sx AS DOUBLE) / mm) * (CAST(sx AS DOUBLE) / mm)) * (CAST(syy AS DOUBLE) / mm - (CAST(sy AS DOUBLE) / mm) * (CAST(sy AS DOUBLE) / mm))), 6) AS assortativity")
      },
      Some(s"""WITH ${TextSim.sqlMinhashCtes},
                 dn AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                        UNION ALL SELECT doc_b, doc_a FROM pairs),
                 deg AS (SELECT u, count(*) AS deg FROM dn GROUP BY u),
                 ed AS (SELECT a.deg AS dx, b.deg AS dy
                   FROM dn JOIN deg a ON dn.u = a.u
                   JOIN deg b ON dn.v = b.u),
                 sm AS (SELECT count(*) AS mm,
                     CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
                     CAST(sum(dx * dx) AS BIGINT) AS sxx,
                     CAST(sum(dy * dy) AS BIGINT) AS syy,
                     CAST(sum(dx * dy) AS BIGINT) AS sxy
                   FROM ed)
               SELECT mm AS n_directed_edges,
                 round((CAST(sxy AS DOUBLE) / mm - (CAST(sx AS DOUBLE) / mm) * (CAST(sy AS DOUBLE) / mm)) / sqrt((CAST(sxx AS DOUBLE) / mm - (CAST(sx AS DOUBLE) / mm) * (CAST(sx AS DOUBLE) / mm)) * (CAST(syy AS DOUBLE) / mm - (CAST(sy AS DOUBLE) / mm) * (CAST(sy AS DOUBLE) / mm))), 6) AS assortativity
               FROM sm""")),

    QueryDef(
      "ml_als_round",
      // One ALS alternation (Koren/Hu implicit-MF, rank 2, ridge λ=0.1)
      // on the user × event-type count matrix — THE distributed
      // matrix-factorization shape: item factors enter as a
      // deterministic broadcast table (affine-hash init from the
      // stateless polyTid item id — no RNG); the user-side solve is a
      // per-GROUP closed form (each user's 2×2 normal equations
      // assembled by ONE groupBy over its rated cells on the exact wire,
      // then a shared-text 2×2 inverse) — embarrassingly parallel, no
      // user ever sees another user's rows. The scoring pass re-joins
      // factors to cells for the reconstruction RMSE. At 100 TB: cells
      // partition by user (one shuffle), items broadcast (small side),
      // exactly Spark MLlib ALS's layout for the user half-step.
      (s, dir) => {
        val r = T.events(s, dir)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("r"))
        val items = r.select("event_type").distinct()
          .select(col("event_type"), T.polyTid("event_type").as("tid"))
          .selectExpr("event_type",
            s"CAST(tid * 48271 % ${T.HASH_P} % 1000 AS DOUBLE) / 1e3 AS q0",
            s"CAST(tid * 16807 % ${T.HASH_P} % 1000 AS DOUBLE) / 1e3 AS q1")
        val cells = T.freeze(r.join(broadcast(items), "event_type"))
        val det = "((a00 + 1e-1) * (a11 + 1e-1) - a01 * a01)"
        val p = cells.groupBy("user_id").agg(
            T.xsum(expr("q0 * q0")).as("a00"),
            T.xsum(expr("q0 * q1")).as("a01"),
            T.xsum(expr("q1 * q1")).as("a11"),
            T.xsum(expr("r * q0")).as("b0"),
            T.xsum(expr("r * q1")).as("b1"))
          .selectExpr("user_id",
            s"((a11 + 1e-1) * b0 - a01 * b1) / $det AS p0",
            s"((a00 + 1e-1) * b1 - a01 * b0) / $det AS p1")
        val sc = cells.join(p, "user_id")
          .selectExpr("CAST(r AS DOUBLE) - (p0 * q0 + p1 * q1) AS e")
          .agg(count(lit(1)).as("n_cells"), T.xsum(expr("e * e")).as("sse"))
        sc.crossJoin(p.agg(count(lit(1)).as("n_users")))
          .crossJoin(items.agg(count(lit(1)).as("n_items")))
          .selectExpr("n_users", "n_items", "n_cells",
            "round(sqrt(sse / n_cells), 6) AS rmse")
      },
      Some {
        val det = "((a00 + 1e-1) * (a11 + 1e-1) - a01 * a01)"
        s"""WITH r AS (SELECT user_id, event_type, count(*) AS r
                 FROM events GROUP BY 1, 2),
                 it AS (SELECT event_type, ${T.sqlPolyTid("event_type")} AS tid
                   FROM (SELECT DISTINCT event_type FROM r) t),
                 itf AS (SELECT event_type,
                     CAST(tid * 48271 % ${T.HASH_P} % 1000 AS DOUBLE) / 1e3 AS q0,
                     CAST(tid * 16807 % ${T.HASH_P} % 1000 AS DOUBLE) / 1e3 AS q1
                   FROM it),
                 cells AS MATERIALIZED (SELECT r.user_id, r.r, itf.q0, itf.q1
                   FROM r JOIN itf USING (event_type)),
                 ua AS (SELECT user_id,
                     ${T.sqlXsum("q0 * q0")} AS a00,
                     ${T.sqlXsum("q0 * q1")} AS a01,
                     ${T.sqlXsum("q1 * q1")} AS a11,
                     ${T.sqlXsum("r * q0")} AS b0,
                     ${T.sqlXsum("r * q1")} AS b1
                   FROM cells GROUP BY user_id),
                 p AS MATERIALIZED (SELECT user_id,
                     ((a11 + 1e-1) * b0 - a01 * b1) / $det AS p0,
                     ((a00 + 1e-1) * b1 - a01 * b0) / $det AS p1
                   FROM ua),
                 sc AS (SELECT CAST(r AS DOUBLE) - (p0 * q0 + p1 * q1) AS e
                   FROM cells JOIN p USING (user_id)),
                 ag AS (SELECT count(*) AS n_cells, ${T.sqlXsum("e * e")} AS sse
                        FROM sc),
                 uu AS (SELECT count(*) AS n_users FROM p),
                 ii AS (SELECT count(*) AS n_items FROM itf)
               SELECT n_users, n_items, n_cells,
                 round(sqrt(sse / n_cells), 6) AS rmse
               FROM ag CROSS JOIN uu CROSS JOIN ii"""
      }),

    QueryDef(
      "text_dedup_curve",
      // Dedup yield curve — the threshold-sweep diagnostic a curation run
      // reads before committing to a similarity cutoff: for each Jaccard
      // threshold in {0.5..0.9}, the surviving verified pair count and
      // the docs the keep-lowest-id rule would remove. ONE pass over the
      // already-thresholded trigram-Jaccard pair set (Dedup.ngramJaccard,
      // inverted-index cost) joined to a 5-row broadcast threshold table
      // — the sweep costs 5 predicate evaluations per pair, not 5 dedup
      // runs. Thresholds written as exact double literals (5e-1 …) on
      // both engines.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val pairs = Dedup.ngramJaccard(s, dir, Dedup.DF_CAP)
        val th = Seq(0.5, 0.6, 0.7, 0.8, 0.9).toDF("t")
        pairs.crossJoin(broadcast(th)).where(col("jaccard") >= col("t"))
          .groupBy("t")
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("doc_b")).as("n_removable"))
          .orderBy("t")
      },
      Some(s"""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
                FROM documents),
                ng AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
                       FROM (SELECT doc_id, ts,
                               unnest(generate_series(1, len(ts) - 2)) AS i
                             FROM toks) x),
                sz AS (SELECT doc_id, count(*) AS sz FROM ng GROUP BY doc_id),
                ngf AS (SELECT doc_id, g FROM ng
                        WHERE g IN (SELECT g FROM ng GROUP BY g HAVING count(*) <= ${Dedup.DF_CAP})),
                shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                           FROM ngf a JOIN ngf b ON a.g = b.g AND a.doc_id < b.doc_id
                           GROUP BY 1, 2),
                -- ADVICE r10 #2: filter on the UNROUNDED jac and round in
                -- the projection, exactly as Dedup.ngramJaccard (and the
                -- dedup_ngram_jaccard oracle) do — thresholding the
                -- rounded value would keep a raw jac in [0.4999995, 0.5)
                -- that the Spark side drops
                j AS (SELECT doc_a, doc_b,
                        CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jac
                      FROM shared
                      JOIN sz sa ON sa.doc_id = doc_a
                      JOIN sz sb ON sb.doc_id = doc_b),
                pairs2 AS (SELECT doc_a, doc_b, round(jac, 6) AS jaccard
                           FROM j WHERE jac >= 0.5),
                th AS (SELECT unnest([5e-1, 6e-1, 7e-1, 8e-1, 9e-1]) AS t)
              SELECT t, count(*) AS n_pairs,
                count(DISTINCT doc_b) AS n_removable
              FROM pairs2 CROSS JOIN th
              WHERE jaccard >= t
              GROUP BY t ORDER BY t""")),

    QueryDef(
      "multimodal_dedup",
      // Exact dedup over the BINARY payload column — the multimodal twin
      // of dedup_exact (a media corpus dedups on the content digest, not
      // on any decoded representation): digest = sha2-256 of the payload
      // bytes, one digest-keyed shuffle (the 32-byte digest is the
      // shuffle key — the payload itself never moves), then the
      // duplicate-group accounting a curation run logs. The payload is
      // the multimodal family's synthesized UTF-8 binary (this container
      // has no media libs — builder-prompt mandate); a real corpus swaps
      // the encode() for the stored bytes, same plan.
      (s, dir) => {
        val grp = T.documents(s, dir).transform(T.fanOut(_, col("doc_id")))
          .select(sha2(encode(col("text"), "UTF-8"), 256).as("digest"))
          .groupBy("digest").agg(count(lit(1)).as("cnt"))
        grp.agg(sum(col("cnt")).as("n_payloads"),
            count(lit(1)).as("n_distinct"),
            sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
            sum(when(col("cnt") > 1, col("cnt") - 1).otherwise(0L)).as("n_removable"))
          .selectExpr("CAST(n_payloads AS BIGINT) AS n_payloads", "n_distinct",
            "CAST(n_dup_groups AS BIGINT) AS n_dup_groups",
            "CAST(n_removable AS BIGINT) AS n_removable")
      },
      Some("""WITH grp AS (SELECT sha256(text) AS digest, count(*) AS cnt
                 FROM documents GROUP BY 1)
              SELECT CAST(sum(cnt) AS BIGINT) AS n_payloads,
                count(*) AS n_distinct,
                CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
                CAST(sum(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT) AS n_removable
              FROM grp""")),

    QueryDef(
      "text_dsir_weight",
      // DSIR data selection (Xie et al. 2023, "Data Selection for
      // Language Models via Importance Resampling" — the modern
      // target-domain curation step next to the GPT-3-style
      // ml_quality_classifier and CCNet's text_unigram_lm): score every
      // raw document by the log importance ratio of a TARGET-domain
      // unigram LM over the RAW-corpus LM, log w(d) = Σ_t c_d(t)·
      // (ln p_T(t) − ln p_R(t)); docs with log w > 0 look more like the
      // target than like the raw pool and survive the resampling. Target
      // here = the lang='en' slice (the fixture's stand-in for the
      // Wikipedia+books target DSIR uses); both LMs are add-one smoothed
      // over the SHARED raw vocabulary so the ratio is defined
      // everywhere. DSIR's hashed n-gram buckets collapse this to a
      // fixed 10⁴-dim table at 100 TB — same plan with gid = hash(term)
      // % 10⁴; the fixture's bounded vocab makes exact unigrams the
      // honest twin. Dataflow: ONE (term → c_R, c_T) vocab aggregate
      // (map-side combined), one-row totals broadcast, per-term log
      // ratio REAL-collapsed ONCE in the vocab table (the unigram_lm
      // lnR discipline), then a SHUFFLED vocab equi-join (Heaps' law —
      // never broadcast) feeding exact per-doc and per-source sums.
      // Output per source: docs, resampling survivors, mean log weight.
      (s, dir) => {
        val tok = T.documents(s, dir)
          .transform(T.fanOut(_, col("doc_id")))
          .selectExpr("doc_id", "source", "lang",
            "explode(filter(split(text, ' '), t -> t <> '')) AS t")
          .select(col("doc_id"), col("source"),
            col("lang"), lower(col("t")).as("term"))
        val totals = tok.agg(
          count(lit(1)).as("n_raw"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_tgt"),
          countDistinct(col("term")).as("v"))
        val vocab = tok.groupBy("term")
          .agg(count(lit(1)).as("c_raw"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_tgt"))
          .crossJoin(broadcast(totals))
          .selectExpr("term",
            "CAST(CAST(ln(CAST(c_tgt + 1 AS DOUBLE) / (n_tgt + v)) AS FLOAT) AS DOUBLE)" +
              " - CAST(CAST(ln(CAST(c_raw + 1 AS DOUBLE) / (n_raw + v)) AS FLOAT) AS DOUBLE) AS lr")
        tok.join(vocab, "term")
          .groupBy("doc_id", "source")
          .agg(T.xsum(col("lr")).as("logw"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("logw") > 0, 1L).otherwise(0L)).as("n_selected"),
            round(T.xsum(col("logw")) / count(lit(1)), 6).as("avg_logw"))
          .orderBy("source")
      },
      Some(s"""WITH tok AS (SELECT doc_id, source, lang, lower(t) AS term FROM (
                   SELECT doc_id, source, lang,
                     unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
                   FROM documents) x),
                 totals AS (SELECT count(*) AS n_raw,
                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_tgt,
                     count(DISTINCT term) AS v
                   FROM tok),
                 vocab AS (SELECT term,
                     CAST(CAST(ln(CAST(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) + 1 AS DOUBLE)
                         / (any_value(n_tgt) + any_value(v))) AS REAL) AS DOUBLE)
                     - CAST(CAST(ln(CAST(count(*) + 1 AS DOUBLE)
                         / (any_value(n_raw) + any_value(v))) AS REAL) AS DOUBLE) AS lr
                   FROM tok CROSS JOIN totals GROUP BY term),
                 pd AS (SELECT doc_id, source, ${T.sqlXsum("lr")} AS logw
                        FROM tok JOIN vocab USING (term)
                        GROUP BY doc_id, source)
               SELECT source, count(*) AS n_docs,
                 CAST(sum(CASE WHEN logw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
                 round(${T.sqlXsum("logw")} / count(*), 6) AS avg_logw
               FROM pd GROUP BY source ORDER BY source""")),

    QueryDef(
      "text_mixture_sample",
      // Deterministic mixture resampling — the Pile/DoReMi-style domain
      // rebalancing pass every pre-training corpus runs: downsample each
      // LANGUAGE to the smallest language's size so the kept corpus is an
      // equal mixture (the fixture is language-imbalanced — en holds ~42%
      // — so the sampler genuinely fires; sources are exactly balanced,
      // which would make p ≡ 1). Keep probability p_l = n_min/n_l; the
      // coin is the two-stage affine hash of doc_id normalized to [0,1)
      // (the kmeans‖/bootstrap derandomization discipline — reproducible,
      // resumable, no RNG state), so membership is a pure map over
      // (doc_id, lang) given one tiny per-language probability table. ONE
      // counting pass + ONE map-only filter pass at any corpus size;
      // realized share tracks the target within hash noise (audited per
      // language in the output).
      (s, dir) => {
        val d = T.documents(s, dir).select(col("doc_id"), col("lang"))
        val counts = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val nmin = counts.agg(min(col("n_docs")).as("n_min"))
        val probs = counts.crossJoin(broadcast(nmin))
          .selectExpr("lang", "n_docs",
            "CAST(n_min AS DOUBLE) / n_docs AS p")
        // two-stage coin (the kmeans‖ lesson, see ML.bahmaniRun): a single
        // small-multiplier affine over consecutive doc_ids never wraps mod
        // P, so its "fracs" occupy one narrow band and per-source keep
        // rates are all-or-nothing instead of ≈ p_s
        val coin = (((col("doc_id") * lit(48271L) + lit(11L)) % lit(2147483647L)
          * lit(69621L) + lit(7L)) % lit(2147483647L))
          .cast("double") / lit(2147483647e0)
        d.join(broadcast(probs), "lang")
          .select(col("lang"), col("n_docs"), col("p"),
            when(coin < col("p"), 1L).otherwise(0L).as("keep"))
          .groupBy("lang", "n_docs", "p")
          .agg(sum(col("keep")).as("n_kept"))
          .selectExpr("lang", "n_docs", "CAST(n_kept AS BIGINT) AS n_kept",
            "round(p, 6) AS target_frac",
            "round(CAST(n_kept AS DOUBLE) / n_docs, 6) AS kept_frac")
          .orderBy("lang")
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
                 m AS (SELECT min(n_docs) AS n_min FROM c),
                 pr AS (SELECT lang, n_docs, CAST(n_min AS DOUBLE) / n_docs AS p
                        FROM c CROSS JOIN m),
                 k AS (SELECT d.lang, pr.n_docs, pr.p,
                     CASE WHEN CAST(((d.doc_id * 48271 + 11) % 2147483647 * 69621 + 7) % 2147483647 AS DOUBLE) / 2147483647e0 < pr.p
                          THEN 1 ELSE 0 END AS keep
                   FROM documents d JOIN pr USING (lang))
               SELECT lang, n_docs, CAST(sum(keep) AS BIGINT) AS n_kept,
                 round(p, 6) AS target_frac,
                 round(CAST(sum(keep) AS DOUBLE) / n_docs, 6) AS kept_frac
               FROM k GROUP BY lang, n_docs, p ORDER BY lang"""))
  )
}
