package graft.ops

import graft.{QueryDef, Tables => T}
import graft.functions.Vec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** cuml.metrics completion (r7): the scoring surface around the estimators
  * the r6/r7 rounds fitted — per-class precision/recall/F1 for the bounded
  * kNN classifier, adjusted Rand / normalized mutual information for the
  * k-means labeling against the fixture's ground-truth labels, and
  * MSE/RMSE/MAE for the multi-feature OLS fit. Everything reuses the
  * session-shared fit helpers (knnPredLang, gaussSolved) so the metric
  * rows add scoring passes, not repeated fits.
  *
  * Scale design:
  * - f1: the prediction set is the bounded EVAL_N sample (n·EVAL_N
  *   distances — ML.knnPredLang's contract); the per-class pivot is a
  *   ≤|langs| broadcast against ≤EVAL_N rows.
  * - ARI/NMI: one map-only assignment pass (`Vec.nearest`, the
  *   ml_kmeans_assign shape); every sum after the (K×|labels|)-row
  *   contingency table is bounded. Pair counts stay in BIGINT (exact); only the final ratios
  *   are doubles.
  * - mse/mae: one scoring pass over lineitem on the exact-decimal wire.
  *
  * Cross-engine determinism: counts are integers end-to-end; each ln() is
  * REAL-collapsed then summed through the DECIMAL(30,12) wire (the
  * agg_entropy discipline); final ratios are single IEEE expressions with
  * shared text, rounded at 6.
  */
object Metrics {

  // ---- shared k-means-vs-truth contingency --------------------------------

  /** Lloyd assignment against the fixed model (`ML.kmCents`) carrying the
    * ground-truth label: (vec_id, label, cid, d, rn = 1). One map-only pass
    * (`Vec.nearest`). Shared with the clustering-metric family here and
    * the SemDeDup row (Curation.scala), so the whole family runs one
    * assignment shape. */
  private[ops] def lloydAssign(s: SparkSession, dir: String): DataFrame =
    Vec.nearest(T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id")))
      .select(col("vec_id"), col("label"), col("embedding")),
      "embedding", ML.kmCents(s, dir), 1).drop("embedding")

  /** [[lloydAssign]] reduced to the (cid, label) contingency counts —
    * bounded output. */
  private def contingency(s: SparkSession, dir: String): DataFrame =
    lloydAssign(s, dir).groupBy("cid", "label").agg(count(lit(1)).as("nij"))

  /** Oracle twin of [[lloydAssign]]: the `cent` model and
    * `a(vec_id, label, cid)` — the row_number (d, cid) argmin form mirrors
    * Spark's deterministic tiebreak (the ml_kmeans_assign oracle note). */
  private[ops] val sqlLloydAssign =
    s"""${ML.sqlKmCent()},
       a AS (SELECT vec_id, label, cid FROM (
         ${Vec.sqlNearest("embeddings", "vec_id", "embedding", 1)}) t)"""

  /** Oracle twin ending in `ct(cid, label, nij)`. */
  private[ops] val sqlContingency =
    s"""$sqlLloydAssign,
       ct AS (SELECT cid, label, count(*) AS nij FROM a GROUP BY cid, label)"""

  /** REAL-collapsed ln for entropy/MI terms (libm last-ulp differences
    * vanish at float precision; the sum runs on the exact decimal wire). */
  private def lnR(arg: String): String = s"CAST(CAST(ln($arg) AS FLOAT) AS DOUBLE)"

  // ---- sparse-random-projection internals ---------------------------------

  /** Deterministic ±1/√k entry of the k=4 projection matrix for flat index
    * (i·4+j): the 48271 LCG hash mod 1000 as the sign coin (mod 2 would
    * collapse to parity of j — 48271·(4i+j)+16807 is odd iff j is even). */
  private val projSign =
    "(CASE WHEN ((48271 * ((i * 4) + j) + 16807) % 2147483647) % 1000 < 500 THEN 5e-1 ELSE -5e-1 END)"

  /** Projected squared distance — 4 shared-text double ops over the pivoted
    * decimal coordinates (fixed order: z0..z3; each cast is exact). */
  private val projD2 = (0 to 3).map(j =>
    s"CAST(az$j - bz$j AS DOUBLE) * CAST(az$j - bz$j AS DOUBLE)").mkString(" + ")

  private val trustText =
    "1e0 - 2e0 * CAST(pen AS DOUBLE) / (CAST(n AS DOUBLE) * 3e0 * (2e0 * CAST(n AS DOUBLE) - 1e1))"

  /** The bounded sample's projected coordinates: one posexplode pass, each
    * z_j an order-free exact DECIMAL(30,12) sum of identically-computed
    * double addends, pivoted to 4 columns. */
  private def projZ(s: SparkSession, dir: String): DataFrame = {
    val e = T.embeddings(s, dir).where(col("vec_id") < 15)
    val spark = s
    import spark.implicits._
    e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .crossJoin(broadcast(Seq(0, 1, 2, 3).toDF("j")))
      .select(col("vec_id"), col("j"),
        expr(s"CAST(x AS DOUBLE) * $projSign").as("addend"))
      .groupBy("vec_id", "j").agg(T.xsumD(col("addend")).as("zd"))
      .groupBy("vec_id").agg(
        max(when(col("j") === 0, col("zd"))).as("z0"),
        max(when(col("j") === 1, col("zd"))).as("z1"),
        max(when(col("j") === 2, col("zd"))).as("z2"),
        max(when(col("j") === 3, col("zd"))).as("z3"))
  }

  /** Oracle twin of [[projZ]] — s (the sample), pj, z CTEs. */
  private val sqlProjCtes: String =
    s"""s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE vec_id < 15),
         exz AS (SELECT vec_id, generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS x
                 FROM s),
         pj AS (SELECT vec_id, j,
             ${T.sqlXsumD(s"CAST(x AS DOUBLE) * $projSign")} AS zd
           FROM exz CROSS JOIN (VALUES (0), (1), (2), (3)) jj(j)
           GROUP BY vec_id, j),
         z AS (SELECT vec_id,
             max(CASE WHEN j = 0 THEN zd END) AS z0,
             max(CASE WHEN j = 1 THEN zd END) AS z1,
             max(CASE WHEN j = 2 THEN zd END) AS z2,
             max(CASE WHEN j = 3 THEN zd END) AS z3
           FROM pj GROUP BY vec_id)"""


  /** Gaussian projection entry for flat index (i·4+j), scaled 1/√k = 0.5:
    * two independent two-round LCG streams → Box-Muller (the make_blobs
    * generator discipline); ln/cos REAL-collapsed so both engines emit the
    * identical double entry. */
  private lazy val gaussEntry: String = {
    val flat = "((CAST(i AS BIGINT) * 4) + j)"
    val u1 = s"(CAST((($flat * 48271 + 11) * 69621 + 7) % 2147483647 AS DOUBLE) + 1e0) / 2147483648e0"
    val u2 = s"(CAST((($flat * 16807 + 3) * 48271 + 19) % 2147483647 AS DOUBLE) + 1e0) / 2147483648e0"
    s"5e-1 * sqrt(-2e0 * CAST(CAST(ln($u1) AS FLOAT) AS DOUBLE)) * CAST(CAST(cos(6.283185307179586e0 * $u2) AS FLOAT) AS DOUBLE)"
  }

  /** ml_rbf_sampler phase offset b_j = 2π·u(j): a dedicated two-round LCG
    * on the FEATURE index (family 92717/4051 — disjoint from the w
    * streams' 48271/16807/69621 mixes), emitted as a literal constant in
    * the shared expression text so both engines fold the same IEEE ops. */
  private def rffB(j: Int): String =
    s"6.283185307179586e0 * ((CAST((($j * 92717 + 4051) * CAST(48271 AS BIGINT) + 7) % 2147483647 AS DOUBLE) + 1e0) / 2147483648e0)"

  /** Gaussian twin of [[projZ]]. */
  private def projZGauss(s: SparkSession, dir: String): DataFrame = {
    val e = T.embeddings(s, dir).where(col("vec_id") < 15)
    val spark = s
    import spark.implicits._
    e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .crossJoin(broadcast(Seq(0, 1, 2, 3).toDF("j")))
      .select(col("vec_id"), col("j"),
        expr(s"CAST(x AS DOUBLE) * $gaussEntry").as("addend"))
      .groupBy("vec_id", "j").agg(T.xsumD(col("addend")).as("zd"))
      .groupBy("vec_id").agg(
        max(when(col("j") === 0, col("zd"))).as("z0"),
        max(when(col("j") === 1, col("zd"))).as("z1"),
        max(when(col("j") === 2, col("zd"))).as("z2"),
        max(when(col("j") === 3, col("zd"))).as("z3"))
  }

  /** Oracle twin of [[projZGauss]] — same CTE names as sqlProjCtes. */
  private lazy val sqlProjCtesGauss: String =
    s"""s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE vec_id < 15),
         exz AS (SELECT vec_id, generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS x
                 FROM s),
         pj AS (SELECT vec_id, j,
             ${T.sqlXsumD(s"CAST(x AS DOUBLE) * $gaussEntry")} AS zd
           FROM exz CROSS JOIN (VALUES (0), (1), (2), (3)) jj(j)
           GROUP BY vec_id, j),
         z AS (SELECT vec_id,
             max(CASE WHEN j = 0 THEN zd END) AS z0,
             max(CASE WHEN j = 1 THEN zd END) AS z1,
             max(CASE WHEN j = 2 THEN zd END) AS z2,
             max(CASE WHEN j = 3 THEN zd END) AS z3
           FROM pj GROUP BY vec_id)"""

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "ml_random_projection_gauss",
      // cuml.random_projection GaussianRandomProjection [R] — the dense
      // gaussian sibling of ml_random_projection's sparse Achlioptas
      // matrix: entries g(i,j) = N(0, 1)/√k from the stateless LCG →
      // Box-Muller hash of the flat index (the matrix is a FORMULA — zero
      // state to ship, each executor materializes the entries it needs),
      // same bounded-sample JL distortion report. Same scale shape:
      // projection is one map-side pass, the report is the vec_id < 15
      // sample.
      (s, dir) => {
        val z = projZGauss(s, dir)
        val e = T.embeddings(s, dir).where(col("vec_id") < 15)
          .select(col("vec_id"), col("embedding"))
        val za = z.join(e, "vec_id").select(
          col("vec_id").as("id_a"), col("embedding").as("a_emb"),
          col("z0").as("az0"), col("z1").as("az1"),
          col("z2").as("az2"), col("z3").as("az3"))
        val zb = z.join(e, "vec_id").select(
          col("vec_id").as("id_b"), col("embedding").as("b_emb"),
          col("z0").as("bz0"), col("z1").as("bz1"),
          col("z2").as("bz2"), col("z3").as("bz3"))
        za.crossJoin(broadcast(zb)).where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.functions.Vec.l2(s, "a_emb", "b_emb").as("dor"),
            expr(s"sqrt($projD2)").as("dpr"))
          .selectExpr("id_a", "id_b",
            "round(dor, 6) AS dist_orig", "round(dpr, 6) AS dist_proj",
            "round(dpr / dor, 6) AS distortion")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $sqlProjCtesGauss
               SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_distance(sa.emb, sb.emb), 6) AS dist_orig,
                 round(sqrt(${projD2.replaceAll("([ab])z([0-3])", "$1.z$2")}), 6) AS dist_proj,
                 round(sqrt(${projD2.replaceAll("([ab])z([0-3])", "$1.z$2")})
                   / list_distance(sa.emb, sb.emb), 6) AS distortion
               FROM z a JOIN s sa ON sa.vec_id = a.vec_id,
                    z b JOIN s sb ON sb.vec_id = b.vec_id
               WHERE a.vec_id < b.vec_id
               ORDER BY id_a, id_b""")),

    QueryDef(
      "ml_rbf_sampler",
      // sklearn/cuML RBFSampler — random Fourier features (Rahimi & Recht
      // 2007): ẑ_j(x) = √(2/D)·cos(w_j·x + b_j) with w ~ N(0, 2γI) makes
      // E[ẑ(x)ᵀẑ(y)] = exp(−γ‖x−y‖²), turning any linear learner into an
      // approximate kernel machine. γ = 1/8 on purpose: √(2γ) = 1/2 is
      // exactly the projZGauss entry scale, so the FITTED feature map IS
      // the shared gaussian projection (w_j·x = z_j) — zero new
      // distributed passes; b_j comes from the registered LCG family.
      // Output: the kernel-approximation audit a user runs after fitting —
      // per sample pair the exact RBF kernel, the D=4 RFF estimate, and
      // the error (coarse at D=4 BY DESIGN; the row documents the
      // variance, recall ml_jl_min_dim's honest-bounds discipline).
      // Determinism: cos/exp REAL-collapsed, decimal projection wire,
      // shared texts.
      (s, dir) => {
        val z = projZGauss(s, dir)
        val e = T.embeddings(s, dir).where(col("vec_id") < 15)
          .select(col("vec_id"), col("embedding"))
        def phi(side: String) = (0 to 3).map(j =>
          s"sqrt(5e-1) * CAST(CAST(cos(CAST(${side}z$j AS DOUBLE) + ${rffB(j)}) AS FLOAT) AS DOUBLE) AS ${side}p$j")
        val za = z.join(e, "vec_id").select(
          col("vec_id").as("id_a"), col("embedding").as("a_emb"),
          col("z0").as("az0"), col("z1").as("az1"),
          col("z2").as("az2"), col("z3").as("az3"))
          .selectExpr(Seq("id_a", "a_emb") ++ phi("a"): _*)
        val zb = z.join(e, "vec_id").select(
          col("vec_id").as("id_b"), col("embedding").as("b_emb"),
          col("z0").as("bz0"), col("z1").as("bz1"),
          col("z2").as("bz2"), col("z3").as("bz3"))
          .selectExpr(Seq("id_b", "b_emb") ++ phi("b"): _*)
        za.crossJoin(broadcast(zb)).where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.functions.Vec.l2(s, "a_emb", "b_emb").as("dor"),
            expr("ap0 * bp0 + ap1 * bp1 + ap2 * bp2 + ap3 * bp3").as("krff"))
          .selectExpr("id_a", "id_b",
            "round(CAST(CAST(exp(-0.125e0 * dor * dor) AS FLOAT) AS DOUBLE), 6) AS k_exact",
            "round(krff, 6) AS k_rff",
            "round(abs(CAST(CAST(exp(-0.125e0 * dor * dor) AS FLOAT) AS DOUBLE) - krff), 6) AS abs_err")
          .orderBy("id_a", "id_b")
      },
      Some {
        def phi(side: String) = (0 to 3).map(j =>
          s"sqrt(5e-1) * CAST(CAST(cos(CAST(${side}.z$j AS DOUBLE) + ${rffB(j)}) AS REAL) AS DOUBLE)")
        val krff = (0 to 3).map(j =>
          s"(${phi("a")(j)}) * (${phi("b")(j)})").mkString(" + ")
        s"""WITH $sqlProjCtesGauss
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(CAST(CAST(exp(-0.125e0 * list_distance(sa.emb, sb.emb)
                 * list_distance(sa.emb, sb.emb)) AS REAL) AS DOUBLE), 6) AS k_exact,
               round($krff, 6) AS k_rff,
               round(abs(CAST(CAST(exp(-0.125e0 * list_distance(sa.emb, sb.emb)
                 * list_distance(sa.emb, sb.emb)) AS REAL) AS DOUBLE) - ($krff)), 6) AS abs_err
             FROM z a JOIN s sa ON sa.vec_id = a.vec_id,
                  z b JOIN s sb ON sb.vec_id = b.vec_id
             WHERE a.vec_id < b.vec_id
             ORDER BY id_a, id_b"""
      }),

    QueryDef(
      "ml_f1_score",
      // cuml.metrics precision/recall/F1 per class for the leave-one-out
      // kNN language classifier on the bounded EVAL_N sample (the
      // ml_confusion_matrix classifier, scored per class instead of
      // matrix-wide). tp/fp/fn are integer counts from one ≤EVAL_N × 5
      // broadcast pivot; the ratios are single IEEE divisions with
      // zero-denominator guards, shared text both engines.
      (s, dir) => {
        val pred = ML.knnPredLang(s, dir)
        val truth = T.documents(s, dir)
          .select(col("doc_id"), col("lang").as("true_lang"))
        val pairs = pred.join(truth, pred("q_id") === truth("doc_id"))
          .select(col("true_lang"), col("pred_lang"))
        val classes = T.documents(s, dir).select(col("lang").as("cls")).distinct()
        pairs.crossJoin(broadcast(classes))
          .groupBy("cls")
          .agg(
            sum(when(col("true_lang") === col("cls") && col("pred_lang") === col("cls"), 1L).otherwise(0L)).as("tp"),
            sum(when(col("pred_lang") === col("cls") && col("true_lang") =!= col("cls"), 1L).otherwise(0L)).as("fp"),
            sum(when(col("true_lang") === col("cls") && col("pred_lang") =!= col("cls"), 1L).otherwise(0L)).as("fn"))
          .selectExpr("cls AS lang", "tp", "fp", "fn",
            "CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS pr",
            "CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rc")
          .selectExpr("lang", "tp", "fp", "fn",
            "round(pr, 6) AS prec", "round(rc, 6) AS rec",
            "round(CASE WHEN pr + rc = 0 THEN 0.0 ELSE 2 * pr * rc / (pr + rc) END, 6) AS f1")
          .orderBy("lang")
      },
      Some(s"""WITH $sqlKnnPredCtesRef,
                 pairs AS (SELECT d.lang AS true_lang, p.pred_lang
                           FROM pred p JOIN documents d ON p.q_id = d.doc_id),
                 cls AS (SELECT DISTINCT lang AS cls FROM documents),
                 cnt AS (SELECT cls,
                     CAST(sum(CASE WHEN true_lang = cls AND pred_lang = cls THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                     CAST(sum(CASE WHEN pred_lang = cls AND true_lang <> cls THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                     CAST(sum(CASE WHEN true_lang = cls AND pred_lang <> cls THEN 1 ELSE 0 END) AS BIGINT) AS fn
                   FROM pairs CROSS JOIN cls GROUP BY cls),
                 pr AS (SELECT cls AS lang, tp, fp, fn,
                     CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS pr,
                     CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rc
                   FROM cnt)
               SELECT lang, tp, fp, fn, round(pr, 6) AS prec, round(rc, 6) AS rec,
                 round(CASE WHEN pr + rc = 0 THEN 0.0 ELSE 2 * pr * rc / (pr + rc) END, 6) AS f1
               FROM pr ORDER BY lang""")),

    QueryDef(
      "ml_adjusted_rand",
      // cuml.metrics adjusted_rand_score between the k-means assignment
      // (fixed vec_id<10 centroids) and the fixture's ground-truth label.
      // All pair counts C(n,2) stay in BIGINT (n(n−1) is even, the /2.0
      // halving and the expected-index term are the only double ops) —
      // exact at any corpus size below 2⁶³ pairs.
      (s, dir) => {
        val ct = contingency(s, dir)
        val ra = ct.groupBy("cid").agg(sum(col("nij")).as("ai"))
          .agg(sum(col("ai") * (col("ai") - 1)).as("sa2"))
        val cb = ct.groupBy("label").agg(sum(col("nij")).as("bj"))
          .agg(sum(col("bj") * (col("bj") - 1)).as("sb2"))
        val sij = ct.agg(
          sum(col("nij") * (col("nij") - 1)).as("sij2"),
          sum(col("nij")).as("n"))
        // `x / 2.0` is the decimal-literal trap (SURVEY §7.3 rule 7):
        // Spark parses 2.0 as DECIMAL(2,1) and the whole ratio goes
        // decimal while DuckDB stays double — cast the numerators instead.
        sij.crossJoin(broadcast(ra)).crossJoin(broadcast(cb))
          .selectExpr("n",
            "CAST(sij2 AS DOUBLE) / 2 AS sij", "CAST(sa2 AS DOUBLE) / 2 AS sa",
            "CAST(sb2 AS DOUBLE) / 2 AS sb",
            "CAST(n * (n - 1) AS DOUBLE) / 2 AS cn2")
          .selectExpr("CAST(n AS BIGINT) AS n",
            "round((sij - sa * sb / cn2) / ((sa + sb) / 2 - sa * sb / cn2), 6) AS ari")
      },
      Some(s"""WITH $sqlContingency,
                 ra AS (SELECT CAST(sum(ai * (ai - 1)) AS BIGINT) AS sa2 FROM
                          (SELECT CAST(sum(nij) AS BIGINT) AS ai FROM ct GROUP BY cid) r),
                 cb AS (SELECT CAST(sum(bj * (bj - 1)) AS BIGINT) AS sb2 FROM
                          (SELECT CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY label) c),
                 s0 AS (SELECT CAST(sum(nij * (nij - 1)) AS BIGINT) AS sij2,
                               CAST(sum(nij) AS BIGINT) AS n FROM ct),
                 t AS (SELECT n, CAST(sij2 AS DOUBLE) / 2 AS sij,
                              CAST(sa2 AS DOUBLE) / 2 AS sa,
                              CAST(sb2 AS DOUBLE) / 2 AS sb,
                              CAST(n * (n - 1) AS DOUBLE) / 2 AS cn2
                       FROM s0 CROSS JOIN ra CROSS JOIN cb)
               SELECT CAST(n AS BIGINT) AS n,
                 round((sij - sa * sb / cn2) / ((sa + sb) / 2 - sa * sb / cn2), 6) AS ari
               FROM t""")),

    QueryDef(
      "ml_mutual_info",
      // cuml.metrics mutual_info_score + the normalized variant (NMI,
      // sqrt normalization) for the same k-means-vs-truth contingency.
      // Every ln argument is a ratio of exact BIGINT counts (identical
      // doubles cross-engine), each ln REAL-collapsed, each weighted term
      // summed on the DECIMAL(30,12) wire — the agg_entropy discipline.
      (s, dir) => {
        val ct = T.freeze(contingency(s, dir))
        val ra = ct.groupBy("cid").agg(sum(col("nij")).as("ai"))
        val cb = ct.groupBy("label").agg(sum(col("nij")).as("bj"))
        val tot = ct.agg(sum(col("nij")).as("n"))
        val mi = ct.join(broadcast(ra), "cid").join(broadcast(cb), "label")
          .crossJoin(broadcast(tot))
          .select((col("nij").cast("double") / col("n") *
            expr(lnR("CAST(n * nij AS DOUBLE) / (ai * bj)"))).as("term"))
          .agg(T.xsum(col("term")).as("mi"))
        val hp = ra.crossJoin(broadcast(tot))
          .select((col("ai").cast("double") / col("n") * lit(-1.0) *
            expr(lnR("CAST(ai AS DOUBLE) / n"))).as("term"))
          .agg(T.xsum(col("term")).as("h_pred"))
        val ht = cb.crossJoin(broadcast(tot))
          .select((col("bj").cast("double") / col("n") * lit(-1.0) *
            expr(lnR("CAST(bj AS DOUBLE) / n"))).as("term"))
          .agg(T.xsum(col("term")).as("h_true"))
        mi.crossJoin(hp).crossJoin(ht)
          .selectExpr("round(mi, 6) AS mi",
            "round(h_true, 6) AS h_true", "round(h_pred, 6) AS h_pred",
            "round(mi / sqrt(h_true * h_pred), 6) AS nmi")
      },
      Some(s"""WITH $sqlContingency,
                 ra AS (SELECT cid, CAST(sum(nij) AS BIGINT) AS ai FROM ct GROUP BY cid),
                 cb AS (SELECT label, CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY label),
                 tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct),
                 mi AS (SELECT ${T.sqlXsum(
                     s"CAST(nij AS DOUBLE) / n * ${lnR("CAST(n * nij AS DOUBLE) / (ai * bj)")}")} AS mi
                        FROM ct JOIN ra USING (cid) JOIN cb USING (label) CROSS JOIN tot),
                 hp AS (SELECT ${T.sqlXsum(
                     s"CAST(ai AS DOUBLE) / n * (-1.0) * ${lnR("CAST(ai AS DOUBLE) / n")}")} AS h_pred
                        FROM ra CROSS JOIN tot),
                 ht AS (SELECT ${T.sqlXsum(
                     s"CAST(bj AS DOUBLE) / n * (-1.0) * ${lnR("CAST(bj AS DOUBLE) / n")}")} AS h_true
                        FROM cb CROSS JOIN tot)
               SELECT round(mi, 6) AS mi, round(h_true, 6) AS h_true,
                 round(h_pred, 6) AS h_pred,
                 round(mi / sqrt(h_true * h_pred), 6) AS nmi
               FROM mi CROSS JOIN hp CROSS JOIN ht""")),

    QueryDef(
      "ml_v_measure",
      // cuml.metrics homogeneity/completeness/v_measure_score for the same
      // k-means-vs-truth contingency, via the entropy identities
      // (homogeneity = MI/H(true), completeness = MI/H(pred), v = their
      // harmonic mean = 2·MI/(H(true)+H(pred)) — the form sklearn
      // computes). Identical plan to ml_mutual_info up to the final
      // bounded expressions, so the clustering-metric family shares one
      // contingency pass and one entropy wire.
      (s, dir) => {
        val ct = T.freeze(contingency(s, dir))
        val ra = ct.groupBy("cid").agg(sum(col("nij")).as("ai"))
        val cb = ct.groupBy("label").agg(sum(col("nij")).as("bj"))
        val tot = ct.agg(sum(col("nij")).as("n"))
        val mi = ct.join(broadcast(ra), "cid").join(broadcast(cb), "label")
          .crossJoin(broadcast(tot))
          .select((col("nij").cast("double") / col("n") *
            expr(lnR("CAST(n * nij AS DOUBLE) / (ai * bj)"))).as("term"))
          .agg(T.xsum(col("term")).as("mi"))
        val hp = ra.crossJoin(broadcast(tot))
          .select((col("ai").cast("double") / col("n") * lit(-1.0) *
            expr(lnR("CAST(ai AS DOUBLE) / n"))).as("term"))
          .agg(T.xsum(col("term")).as("h_pred"))
        val ht = cb.crossJoin(broadcast(tot))
          .select((col("bj").cast("double") / col("n") * lit(-1.0) *
            expr(lnR("CAST(bj AS DOUBLE) / n"))).as("term"))
          .agg(T.xsum(col("term")).as("h_true"))
        mi.crossJoin(hp).crossJoin(ht)
          .selectExpr("round(mi / h_true, 6) AS homogeneity",
            "round(mi / h_pred, 6) AS completeness",
            "round(2.0 * mi / (h_true + h_pred), 6) AS v_measure")
      },
      Some(s"""WITH $sqlContingency,
                 ra AS (SELECT cid, CAST(sum(nij) AS BIGINT) AS ai FROM ct GROUP BY cid),
                 cb AS (SELECT label, CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY label),
                 tot AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct),
                 mi AS (SELECT ${T.sqlXsum(
                     s"CAST(nij AS DOUBLE) / n * ${lnR("CAST(n * nij AS DOUBLE) / (ai * bj)")}")} AS mi
                        FROM ct JOIN ra USING (cid) JOIN cb USING (label) CROSS JOIN tot),
                 hp AS (SELECT ${T.sqlXsum(
                     s"CAST(ai AS DOUBLE) / n * (-1.0) * ${lnR("CAST(ai AS DOUBLE) / n")}")} AS h_pred
                        FROM ra CROSS JOIN tot),
                 ht AS (SELECT ${T.sqlXsum(
                     s"CAST(bj AS DOUBLE) / n * (-1.0) * ${lnR("CAST(bj AS DOUBLE) / n")}")} AS h_true
                        FROM cb CROSS JOIN tot)
               SELECT round(mi / h_true, 6) AS homogeneity,
                 round(mi / h_pred, 6) AS completeness,
                 round(2.0 * mi / (h_true + h_pred), 6) AS v_measure
               FROM mi CROSS JOIN hp CROSS JOIN ht""")),

    QueryDef(
      "ml_mse_mae",
      // cuml.metrics mean_squared_error / mean_absolute_error of the
      // multi-feature OLS fit — the regression twins of ml_r2_score, on
      // the same one scoring pass with the in-plan solved coefficients
      // and the exact-decimal sum wire.
      (s, dir) => {
        val coefs = ML.gaussSolved(s, dir).selectExpr("x0", "x1", "x2", "x3")
        val l = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"),
          col("l_tax").cast("double").as("t"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
        l.crossJoin(broadcast(coefs))
          .select(expr("y - (x0 + x1 * q + x2 * d + x3 * t)").as("r"))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("r") * col("r")).as("ssr"),
            T.xsum(abs(col("r"))).as("sar"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "round(ssr / n, 6) AS mse",
            "round(sqrt(ssr / n), 6) AS rmse",
            "round(sar / n, 6) AS mae")
      },
      Some(s"""WITH ${ML.sqlGaussChain},
                 l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                         CAST(l_discount AS DOUBLE) AS d,
                         CAST(l_tax AS DOUBLE) AS t,
                         CAST(l_extendedprice AS DOUBLE) AS y
                       FROM lineitem),
                 sc AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum("(y - (x0 + x1 * q + x2 * d + x3 * t)) * (y - (x0 + x1 * q + x2 * d + x3 * t))")} AS ssr,
                     ${T.sqlXsum("abs(y - (x0 + x1 * q + x2 * d + x3 * t))")} AS sar
                   FROM l, ${ML.sqlGaussFinal})
               SELECT CAST(n AS BIGINT) AS n,
                 round(ssr / n, 6) AS mse,
                 round(sqrt(ssr / n), 6) AS rmse,
                 round(sar / n, 6) AS mae
               FROM sc""")),

    QueryDef(
      "ml_explained_variance",
      // cuml.metrics explained_variance_score of the multi-feature OLS —
      // 1 − Var(resid)/Var(y), the mean-insensitive sibling of r2_score
      // (they differ exactly when the residual mean is nonzero; OLS with
      // an intercept drives that gap to float noise, so emitting both
      // variances makes the identity checkable). Same ONE scoring pass as
      // ml_mse_mae; variances from sufficient sums, single shared-text
      // IEEE expressions.
      (s, dir) => {
        val coefs = ML.gaussSolved(s, dir).selectExpr("x0", "x1", "x2", "x3")
        val l = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"),
          col("l_tax").cast("double").as("t"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
        l.crossJoin(broadcast(coefs))
          .select(col("y"), expr("y - (x0 + x1 * q + x2 * d + x3 * t)").as("r"))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("r")).as("sr"),
            T.xsum(col("r") * col("r")).as("ssr"),
            T.xsum(col("y")).as("sy"),
            T.xsum(col("y") * col("y")).as("syy"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "round(ssr / n - (sr / n) * (sr / n), 2) AS var_resid",
            "round(syy / n - (sy / n) * (sy / n), 2) AS var_y",
            "round(1.0 - (ssr / n - (sr / n) * (sr / n)) / (syy / n - (sy / n) * (sy / n)), 6) AS explained_variance")
      },
      Some(s"""WITH ${ML.sqlGaussChain},
                 l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                         CAST(l_discount AS DOUBLE) AS d,
                         CAST(l_tax AS DOUBLE) AS t,
                         CAST(l_extendedprice AS DOUBLE) AS y
                       FROM lineitem),
                 sc AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum("y - (x0 + x1 * q + x2 * d + x3 * t)")} AS sr,
                     ${T.sqlXsum("(y - (x0 + x1 * q + x2 * d + x3 * t)) * (y - (x0 + x1 * q + x2 * d + x3 * t))")} AS ssr,
                     ${T.sqlXsum("y")} AS sy,
                     ${T.sqlXsum("y * y")} AS syy
                   FROM l, ${ML.sqlGaussFinal})
               SELECT CAST(n AS BIGINT) AS n,
                 round(ssr / n - (sr / n) * (sr / n), 2) AS var_resid,
                 round(syy / n - (sy / n) * (sy / n), 2) AS var_y,
                 round(1.0 - (ssr / n - (sr / n) * (sr / n)) / (syy / n - (sy / n) * (sy / n)), 6) AS explained_variance
               FROM sc""")),

    QueryDef(
      "ml_pairwise_distances",
      // cuml.metrics.pairwise_distances on the bounded vec_id < 15 sample:
      // every unordered pair's L2 distance and cosine similarity — the
      // full small-matrix form next to the top-k shapes (ml_knn /
      // ml_knn_cosine). 15×15 stays a broadcast nested loop; at scale the
      // bounded sample IS the contract (a full n² matrix is not a
      // registered-query shape, per the sim_threshold recall-reference
      // precedent).
      (s, dir) => {
        val e = T.embeddings(s, dir).where(col("vec_id") < 15)
          .select(col("vec_id"), col("embedding"),
            sqrt(graft.functions.Vec.dot(s, "embedding", "embedding")).as("nrm"))
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("q_emb"),
          col("nrm").as("a_nrm"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("n_emb"),
          col("nrm").as("b_nrm"))
        a.crossJoin(broadcast(b)).where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(graft.functions.Vec.l2(s, "q_emb", "n_emb"), 6).as("dist_l2"),
            round(graft.functions.Vec.dot(s, "q_emb", "n_emb")
              / (col("a_nrm") * col("b_nrm")), 6).as("cos_sim"))
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_distance(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS dist_l2,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                             CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
              FROM embeddings a CROSS JOIN embeddings b
              WHERE a.vec_id < 15 AND b.vec_id < 15 AND a.vec_id < b.vec_id
              ORDER BY id_a, id_b""")),

    QueryDef(
      "ml_pairwise_manhattan",
      // cuml.metrics.pairwise_distances metric='cityblock'/'chebyshev' [R]
      // — the remaining two metrics of the pairwise family, on the same
      // bounded vec_id < 15 sample as ml_pairwise_distances. Both run the
      // codegen'd vector loops (VecL1Dist / VecLInfDist). Cross-engine:
      // the L1 SUM is FLOAT-collapsed (summation order differs between
      // Spark's sequential loop and DuckDB's exploded-join aggregate);
      // the L∞ MAX needs no collapse — max over identical per-element
      // doubles is order-free and bit-identical.
      (s, dir) => {
        val e = T.embeddings(s, dir).where(col("vec_id") < 15)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("q_emb"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("n_emb"))
        a.crossJoin(broadcast(b)).where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.functions.Vec.l1(s, "q_emb", "n_emb").cast("float").as("d1"),
            graft.functions.Vec.linf(s, "q_emb", "n_emb").as("di"))
          .select(col("id_a"), col("id_b"),
            round(col("d1").cast("double"), 6).as("dist_l1"),
            round(col("di"), 6).as("dist_linf"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ex AS (SELECT vec_id,
                   generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
                   unnest(CAST(embedding AS DOUBLE[])) AS x
                 FROM embeddings WHERE vec_id < 15)
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(CAST(CAST(sum(abs(a.x - b.x)) AS REAL) AS DOUBLE), 6) AS dist_l1,
                round(max(abs(a.x - b.x)), 6) AS dist_linf
              FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
              GROUP BY a.vec_id, b.vec_id
              ORDER BY id_a, id_b""")),

    QueryDef(
      "ml_kl_divergence",
      // cuml.metrics.kl_divergence between two empirical distributions
      // from ONE conditional-count pass: P = the returnflag distribution
      // of high-discount lineitems (l_discount >= 0.05), Q = the overall
      // returnflag distribution. Both directions emitted (KL is
      // asymmetric; the pair makes that visible). Determinism: class
      // probabilities are ratios of exact BIGINT counts (identical
      // doubles), each ln REAL-collapsed, the 3 weighted terms summed on
      // the exact decimal wire. Scale: one map-side-combined count
      // aggregation; everything after runs on |classes| rows.
      (s, dir) => {
        val c = T.lineitem(s, dir).groupBy("l_returnflag")
          .agg(sum(when(col("l_discount") >= 0.05, 1L).otherwise(0L)).as("np"),
            count(lit(1)).as("nq"))
        val tot = c.agg(sum(col("np")).as("tp"), sum(col("nq")).as("tq"))
        c.crossJoin(broadcast(tot))
          .select(
            col("tp"), col("tq"),
            ((col("np").cast("double") / col("tp")) *
              expr(lnR("(CAST(np AS DOUBLE) / tp) / (CAST(nq AS DOUBLE) / tq)"))).as("t_pq"),
            ((col("nq").cast("double") / col("tq")) *
              expr(lnR("(CAST(nq AS DOUBLE) / tq) / (CAST(np AS DOUBLE) / tp)"))).as("t_qp"))
          .groupBy("tp", "tq")
          .agg(T.xsum(col("t_pq")).as("kl_pq"), T.xsum(col("t_qp")).as("kl_qp"))
          .selectExpr("tp AS n_p", "tq AS n_q",
            "round(kl_pq, 6) AS kl_pq", "round(kl_qp, 6) AS kl_qp")
      },
      Some(s"""WITH c AS (SELECT l_returnflag,
                     CAST(sum(CASE WHEN l_discount >= 0.05e0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
                     CAST(count(*) AS BIGINT) AS nq
                   FROM lineitem GROUP BY l_returnflag),
                 tot AS (SELECT CAST(sum(np) AS BIGINT) AS tp,
                                CAST(sum(nq) AS BIGINT) AS tq FROM c),
                 t AS (SELECT tp, tq,
                     (CAST(np AS DOUBLE) / tp) *
                       ${lnR("(CAST(np AS DOUBLE) / tp) / (CAST(nq AS DOUBLE) / tq)")} AS t_pq,
                     (CAST(nq AS DOUBLE) / tq) *
                       ${lnR("(CAST(nq AS DOUBLE) / tq) / (CAST(np AS DOUBLE) / tp)")} AS t_qp
                   FROM c CROSS JOIN tot)
               SELECT tp AS n_p, tq AS n_q,
                 round(${T.sqlXsum("t_pq")}, 6) AS kl_pq,
                 round(${T.sqlXsum("t_qp")}, 6) AS kl_qp
               FROM t GROUP BY tp, tq""")),

    QueryDef(
      "ml_spearman_corr",
      // Spearman rank correlation (the rank twin of the Pearson moment
      // rows — cuML exposes it on cudf/cuml stats): tie-averaged ranks
      // for (l_quantity, l_discount), then Pearson on the ranks. The
      // tie-average for value v is C_v + (c_v+1)/2 (C_v = rows below v),
      // computed on the ≤|distinct| aggregated value table — windows run
      // over ≤50 post-aggregation rows (the agg_approx_quantile offset
      // discipline), never over the corpus. Ranks are exact .5 multiples
      // (decimal-cast safe); the Pearson moments run on the exact decimal
      // wire; the final ratio is one shared-text IEEE expression. Scale:
      // two map-combined count aggs + two broadcast joins + one moment
      // pass; continuous features would bucket or use denseIds first.
      (s, dir) => {
        def ranks(column: String): DataFrame = {
          val w = Window.orderBy(col("v"))
          T.lineitem(s, dir).groupBy(col(column).as("v"))
            .agg(count(lit(1)).as("c"))
            .withColumn("cum", coalesce(
              sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
            .select(col("v"), (col("cum").cast("double") +
              (col("c").cast("double") + 1) / 2).as("r"))
        }
        val rx = ranks("l_quantity").withColumnRenamed("r", "rx")
        val ry = ranks("l_discount").withColumnRenamed("r", "ry")
        T.lineitem(s, dir).select(col("l_quantity").as("xv"), col("l_discount").as("yv"))
          .transform(T.fanOut(_))
          .join(broadcast(rx), col("xv") === rx("v")).drop("v")
          .join(broadcast(ry), col("yv") === ry("v")).drop("v")
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("rx")).as("sx"), T.xsum(col("ry")).as("sy"),
            T.xsum(col("rx") * col("rx")).as("sxx"),
            T.xsum(col("ry") * col("ry")).as("syy"),
            T.xsum(col("rx") * col("ry")).as("sxy"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS spearman_rho")
      },
      Some(s"""WITH rx AS (SELECT v, CAST(cum AS DOUBLE) + (CAST(c AS DOUBLE) + 1) / 2 AS rx FROM (
                     SELECT l_quantity AS v, count(*) AS c,
                       coalesce(sum(count(*)) OVER (ORDER BY l_quantity
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                     FROM lineitem GROUP BY l_quantity) t),
                 ry AS (SELECT v, CAST(cum AS DOUBLE) + (CAST(c AS DOUBLE) + 1) / 2 AS ry FROM (
                     SELECT l_discount AS v, count(*) AS c,
                       coalesce(sum(count(*)) OVER (ORDER BY l_discount
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
                     FROM lineitem GROUP BY l_discount) t),
                 j AS (SELECT rx.rx, ry.ry FROM lineitem l
                       JOIN rx ON l.l_quantity = rx.v
                       JOIN ry ON l.l_discount = ry.v),
                 m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum("rx")} AS sx, ${T.sqlXsum("ry")} AS sy,
                     ${T.sqlXsum("rx * rx")} AS sxx, ${T.sqlXsum("ry * ry")} AS syy,
                     ${T.sqlXsum("rx * ry")} AS sxy
                   FROM j)
               SELECT CAST(n AS BIGINT) AS n,
                 round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS spearman_rho
               FROM m"""))
  ,

    QueryDef(
      "ml_random_projection",
      // cuml.random_projection SparseRandomProjection [R]: project the
      // 64-dim embeddings to k=4 dims with the deterministic ±1/√k sign
      // matrix s(i,j) = hash(i·4+j) (Achlioptas's database-friendly
      // construction — the matrix is a FORMULA, zero state to ship), then
      // emit every bounded-sample pair's original vs projected distance
      // and their JL distortion ratio. Determinism: each projected
      // coordinate is an order-free exact DECIMAL sum of identically-
      // computed double addends; the projected distance is 4 shared-text
      // double ops; the original distance is the proven
      // ml_pairwise_distances kernel path. Scale: projection is one
      // map-side pass (|rows|·64·4 multiply-adds, shuffle key = vec_id,
      // output k columns per row); only the distortion REPORT is bounded
      // to the vec_id<15 sample — the transform itself is the 100 TB
      // shape.
      (s, dir) => {
        val z = projZ(s, dir)
        val e = T.embeddings(s, dir).where(col("vec_id") < 15)
          .select(col("vec_id"), col("embedding"))
        val za = z.join(e, "vec_id").select(
          col("vec_id").as("id_a"), col("embedding").as("a_emb"),
          col("z0").as("az0"), col("z1").as("az1"),
          col("z2").as("az2"), col("z3").as("az3"))
        val zb = z.join(e, "vec_id").select(
          col("vec_id").as("id_b"), col("embedding").as("b_emb"),
          col("z0").as("bz0"), col("z1").as("bz1"),
          col("z2").as("bz2"), col("z3").as("bz3"))
        za.crossJoin(broadcast(zb)).where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            graft.functions.Vec.l2(s, "a_emb", "b_emb").as("dor"),
            expr(s"sqrt($projD2)").as("dpr"))
          .selectExpr("id_a", "id_b",
            "round(dor, 6) AS dist_orig", "round(dpr, 6) AS dist_proj",
            "round(dpr / dor, 6) AS distortion")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $sqlProjCtes
               SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_distance(sa.emb, sb.emb), 6) AS dist_orig,
                 round(sqrt(${projD2.replaceAll("([ab])z([0-3])", "$1.z$2")}), 6) AS dist_proj,
                 round(sqrt(${projD2.replaceAll("([ab])z([0-3])", "$1.z$2")})
                   / list_distance(sa.emb, sb.emb), 6) AS distortion
               FROM z a JOIN s sa ON sa.vec_id = a.vec_id,
                    z b JOIN s sb ON sb.vec_id = b.vec_id
               WHERE a.vec_id < b.vec_id
               ORDER BY id_a, id_b""")),

    QueryDef(
      "ml_trustworthiness",
      // cuml.metrics.trustworthiness(X, X_proj) for the k=4 sparse random
      // projection above, k_neighbors=3 on the bounded vec_id<15 sample:
      // T = 1 − 2/(n·k·(2n−3k−1)) · Σ_i Σ_{j ∈ kNN_proj(i) \\ kNN_orig(i)}
      // (rank_orig(i,j) − k). Both rank tables order by EXACT decimal
      // squared distances (order-free sums of identical double addends),
      // ties broken by id, so every rank — and therefore the integer
      // penalty — is bit-identical cross-engine; the final score is one
      // shared-text double expression. Scale: trustworthiness is a
      // diagnostic on a sample by definition (it is O(n²) in ANY engine —
      // cuML's own implementation materializes the full pairwise matrix);
      // the bounded sample IS the contract, per the sim_threshold
      // recall-reference precedent.
      (s, dir) => {
        val e = T.embeddings(s, dir).where(col("vec_id") < 15)
        val ex = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        val exa = ex.select(col("vec_id").as("ia"), col("i"), col("x").as("ax"))
        val exb = ex.select(col("vec_id").as("ib"), col("i"), col("x").as("bx"))
        val d2o = exa.join(exb, "i").where(col("ia") =!= col("ib"))
          .select(col("ia"), col("ib"),
            expr("(CAST(ax AS DOUBLE) - CAST(bx AS DOUBLE)) * (CAST(ax AS DOUBLE) - CAST(bx AS DOUBLE))").as("sq"))
          .groupBy("ia", "ib").agg(T.xsumD(col("sq")).as("d2"))
        val z = projZ(s, dir)
        val za = z.select(col("vec_id").as("ia"), col("z0").as("az0"),
          col("z1").as("az1"), col("z2").as("az2"), col("z3").as("az3"))
        val zb = z.select(col("vec_id").as("ib"), col("z0").as("bz0"),
          col("z1").as("bz1"), col("z2").as("bz2"), col("z3").as("bz3"))
        val d2p = za.crossJoin(broadcast(zb)).where(col("ia") =!= col("ib"))
          .select(col("ia"), col("ib"), expr(projD2).as("d2"))
        val ro = d2o.withColumn("r", row_number().over(
          Window.partitionBy(col("ia")).orderBy(col("d2").asc, col("ib").asc)))
        val rp = d2p.withColumn("r", row_number().over(
          Window.partitionBy(col("ia")).orderBy(col("d2").asc, col("ib").asc)))
        ro.select(col("ia"), col("ib"), col("r").as("r_o"))
          .join(rp.select(col("ia"), col("ib"), col("r").as("r_p")), Seq("ia", "ib"))
          .agg(countDistinct(col("ia")).as("n"),
            sum(when(col("r_p") <= 3 && col("r_o") > 3, col("r_o") - 3)
              .otherwise(0L)).as("pen"))
          .selectExpr("n", "3 AS k", "pen AS penalty",
            s"round($trustText, 6) AS trustworthiness")
      },
      Some(s"""WITH $sqlProjCtes,
                 ex AS (SELECT vec_id, generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS x
                        FROM s),
                 d2o AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                     ${T.sqlXsumD("(CAST(a.x AS DOUBLE) - CAST(b.x AS DOUBLE)) * (CAST(a.x AS DOUBLE) - CAST(b.x AS DOUBLE))")} AS d2
                   FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
                   GROUP BY a.vec_id, b.vec_id),
                 d2p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                     ${projD2.replaceAll("([ab])z([0-3])", "$1.z$2")} AS d2
                   FROM z a, z b WHERE a.vec_id <> b.vec_id),
                 ro AS (SELECT ia, ib, row_number() OVER (
                     PARTITION BY ia ORDER BY d2 ASC, ib ASC) AS r_o FROM d2o),
                 rp AS (SELECT ia, ib, row_number() OVER (
                     PARTITION BY ia ORDER BY d2 ASC, ib ASC) AS r_p FROM d2p),
                 pen AS (SELECT count(DISTINCT ro.ia) AS n,
                     CAST(sum(CASE WHEN rp.r_p <= 3 AND ro.r_o > 3
                       THEN ro.r_o - 3 ELSE 0 END) AS BIGINT) AS pen
                   FROM ro JOIN rp ON rp.ia = ro.ia AND rp.ib = ro.ib)
               SELECT n, 3 AS k, pen AS penalty,
                 round($trustText, 6) AS trustworthiness
               FROM pen""")),

    QueryDef(
      "ml_pairwise_kernels",
      // cuml.metrics.pairwise_kernels on the bounded vec_id < 15 sample —
      // the kernel quartet next to ml_pairwise_distances: linear (x·y),
      // polynomial ((x·y + 1)², gamma=1 coef0=1 degree=2), RBF
      // (exp(−‖x−y‖²), gamma=1 — distances here are ~1.2–1.6 so the
      // values spread over [0.07, 0.25]), sigmoid (tanh(x·y + 1),
      // spelled (e²ᶻ−1)/(e²ᶻ+1): this DuckDB build has no tanh builtin,
      // and the shared exp-based text keeps the op sequence identical).
      // Determinism: dot/distance agree cross-engine to ulps (the
      // ml_pairwise_distances precedent); the transcendental kernels
      // (exp, tanh) are REAL-collapsed before the 6-dp round so both
      // engines serialize the identical value (the lnR discipline).
      // Scale: bounded-sample broadcast nested loop — the full n² kernel
      // matrix is not a registered-query shape; production pairs come
      // from the LSH candidates.
      (s, dir) => {
        val e = T.embeddings(s, dir).where(col("vec_id") < 15)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("q_emb"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("n_emb"))
        val dot = graft.functions.Vec.dot(s, "q_emb", "n_emb")
        val d = graft.functions.Vec.l2(s, "q_emb", "n_emb")
        a.crossJoin(broadcast(b)).where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), dot.as("xy"), d.as("dd"))
          .selectExpr("id_a", "id_b",
            "round(xy, 6) AS k_linear",
            "round((xy + 1.0) * (xy + 1.0), 6) AS k_poly",
            "round(CAST(CAST(exp(-(dd * dd)) AS FLOAT) AS DOUBLE), 6) AS k_rbf",
            "round(CAST(CAST((exp(2.0 * (xy + 1.0)) - 1.0) / (exp(2.0 * (xy + 1.0)) + 1.0) AS FLOAT) AS DOUBLE), 6) AS k_sigmoid")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS xy,
                   list_distance(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) AS dd
                 FROM embeddings a CROSS JOIN embeddings b
                 WHERE a.vec_id < 15 AND b.vec_id < 15 AND a.vec_id < b.vec_id)
              SELECT id_a, id_b,
                round(xy, 6) AS k_linear,
                round((xy + 1.0) * (xy + 1.0), 6) AS k_poly,
                round(CAST(CAST(exp(-(dd * dd)) AS REAL) AS DOUBLE), 6) AS k_rbf,
                round(CAST(CAST((exp(2.0 * (xy + 1.0)) - 1.0) / (exp(2.0 * (xy + 1.0)) + 1.0) AS REAL) AS DOUBLE), 6) AS k_sigmoid
              FROM p ORDER BY id_a, id_b""")),

    QueryDef(
      "ml_msle",
      // cuml.metrics mean_squared_log_error of the multi-feature OLS —
      // completing the regression-metric family next to ml_mse_mae /
      // ml_r2_score on the SAME one scoring pass with the in-plan solved
      // coefficients. Predictions are clamped at 0 before log1p (the
      // sklearn non-negativity contract, met by construction here since
      // extendedprice predictions are positive — the clamp makes the
      // operator total). Each ln is REAL-collapsed, the squared log-error
      // terms (one IEEE subtract + multiply of identical doubles) sum on
      // the exact-decimal wire.
      (s, dir) => {
        val coefs = ML.gaussSolved(s, dir).selectExpr("x0", "x1", "x2", "x3")
        val l = T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"),
          col("l_tax").cast("double").as("t"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
        l.crossJoin(broadcast(coefs))
          .select(
            expr(s"${lnR("1e0 + y")} - ${lnR(
                "1e0 + greatest(0e0, x0 + x1 * q + x2 * d + x3 * t)")}")
              .as("le"))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("le") * col("le")).as("sle"))
          .selectExpr("CAST(n AS BIGINT) AS n",
            "round(sle / n, 6) AS msle",
            "round(sqrt(sle / n), 6) AS rmsle")
      },
      Some(s"""WITH ${ML.sqlGaussChain},
                 l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                         CAST(l_discount AS DOUBLE) AS d,
                         CAST(l_tax AS DOUBLE) AS t,
                         CAST(l_extendedprice AS DOUBLE) AS y
                       FROM lineitem),
                 sc AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     ${T.sqlXsum(
                       s"""(${lnR("1e0 + y")} - ${lnR(
                         "1e0 + greatest(0e0, x0 + x1 * q + x2 * d + x3 * t)")}) * (${lnR("1e0 + y")} - ${lnR(
                         "1e0 + greatest(0e0, x0 + x1 * q + x2 * d + x3 * t)")})""")} AS sle
                   FROM l, ${ML.sqlGaussFinal})
               SELECT CAST(n AS BIGINT) AS n,
                 round(sle / n, 6) AS msle,
                 round(sqrt(sle / n), 6) AS rmsle
               FROM sc""")),

    QueryDef(
      "ml_shap_linear",
      // cuml.explainer [R] for the linear model — exact SHAP values, no
      // sampling: for an additive model the Shapley value of feature i on
      // row x is φ_i = w_i·(x_i − E[x_i]) and the base value is the mean
      // prediction, so ONE scoring pass with the in-plan solved OLS
      // coefficients (and the feature means, free from the same gram row)
      // yields the full attribution. Output: per-returnflag global feature
      // importance (mean |φ| per feature — the SHAP summary-plot
      // aggregate), the shared base value, and the additivity audit
      // max|pred − (base + Σφ)| (abs() keeps it sign-safe; it rounds to 0).
      (s, dir) => {
        val cf = ML.gaussSolved(s, dir).selectExpr("x0", "x1", "x2", "x3",
          "a01 / a00 AS mq", "a02 / a00 AS md", "a03 / a00 AS mt")
        val l = T.lineitem(s, dir).select(
          col("l_returnflag").as("rf"),
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"),
          col("l_tax").cast("double").as("t"))
          .transform(T.fanOut(_))
        l.crossJoin(broadcast(cf))
          .selectExpr("rf",
            "x1 * (q - mq) AS pq", "x2 * (d - md) AS pd", "x3 * (t - mt) AS pt",
            "x0 + x1 * mq + x2 * md + x3 * mt AS base",
            "(x0 + x1 * q + x2 * d + x3 * t) - ((x0 + x1 * mq + x2 * md + x3 * mt) + x1 * (q - mq) + x2 * (d - md) + x3 * (t - mt)) AS gap")
          .groupBy("rf")
          .agg(count(lit(1)).as("n"),
            T.xsum(abs(col("pq"))).as("sq"),
            T.xsum(abs(col("pd"))).as("sd"),
            T.xsum(abs(col("pt"))).as("st"),
            max(col("base")).as("bv"),
            max(abs(col("gap"))).as("mg"))
          .selectExpr("rf", "n",
            "round(sq / n, 6) AS mean_abs_shap_q",
            "round(sd / n, 6) AS mean_abs_shap_d",
            "round(st / n, 6) AS mean_abs_shap_t",
            "round(bv, 6) AS base_value",
            "round(mg, 6) AS max_additivity_gap")
          .orderBy("rf")
      },
      Some(s"""WITH ${ML.sqlGaussChain},
                 cf AS (SELECT x0, x1, x2, x3,
                     a01 / a00 AS mq, a02 / a00 AS md, a03 / a00 AS mt
                   FROM ${ML.sqlGaussFinal}),
                 l AS (SELECT l_returnflag AS rf,
                         CAST(l_quantity AS DOUBLE) AS q,
                         CAST(l_discount AS DOUBLE) AS d,
                         CAST(l_tax AS DOUBLE) AS t
                       FROM lineitem),
                 sc AS (SELECT rf,
                     x1 * (q - mq) AS pq, x2 * (d - md) AS pd, x3 * (t - mt) AS pt,
                     x0 + x1 * mq + x2 * md + x3 * mt AS base,
                     (x0 + x1 * q + x2 * d + x3 * t) - ((x0 + x1 * mq + x2 * md + x3 * mt) + x1 * (q - mq) + x2 * (d - md) + x3 * (t - mt)) AS gap
                   FROM l CROSS JOIN cf),
                 g AS (SELECT rf, count(*) AS n,
                     ${T.sqlXsum("abs(pq)")} AS sq,
                     ${T.sqlXsum("abs(pd)")} AS sd,
                     ${T.sqlXsum("abs(pt)")} AS st,
                     max(base) AS bv, max(abs(gap)) AS mg
                   FROM sc GROUP BY rf)
               SELECT rf, n,
                 round(sq / n, 6) AS mean_abs_shap_q,
                 round(sd / n, 6) AS mean_abs_shap_d,
                 round(st / n, 6) AS mean_abs_shap_t,
                 round(bv, 6) AS base_value,
                 round(mg, 6) AS max_additivity_gap
               FROM g ORDER BY rf""")),

    QueryDef(
      "ml_median_abs_error",
      // median_absolute_error (the sklearn-parity robust metric completing
      // the regression family next to ml_mse_mae / ml_msle) of the
      // multi-feature OLS fit, plus the p90 absolute error and max_error.
      // The quantiles are EXACT interpolated (n−1)·p percentiles by the
      // TWO-PHASE BUCKET-HISTOGRAM RANK (agg_describe / ml_robust_scaler
      // machinery — VERDICT r8 #4 replaced Spark's `percentile`
      // aggregate, whose per-partition value→count maps merge at the
      // DRIVER and are memory-bound in distinct values): phase 1 is one
      // map-combinable pass to a bounded bucket histogram (bucket =
      // floor(ar/2^k) with 2^k ≈ max(ar)/1024 — monotone in ar, exact
      // binary division, and sized from the OBSERVED residual scale so
      // both the bucket count and the densest bucket stay ~n/1k), phase 2
      // ranks only inside the ≤4 target buckets. max_error is order-free and exact. Oracle = the
      // plain rank-window decomposition proof with shared interpolation
      // text (the agg_describe discipline).
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val coefs = ML.gaussSolved(s, dir).selectExpr("x0", "x1", "x2", "x3")
        // PINNED once (r14, VERDICT r13 #1c): the residual column feeds
        // three passes (max-residual width probe, the bucket histogram,
        // and the phase-2 target-bucket rank) and was a `def` — each pass
        // re-ran the scan + OLS scoring expression. One localCheckpoint
        // of the single double column serves all three; values unchanged.
        val r = T.pin(T.lineitem(s, dir).select(
            col("l_quantity").cast("double").as("q"),
            col("l_discount").cast("double").as("d"),
            col("l_tax").cast("double").as("t"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .crossJoin(broadcast(coefs))
          .select(expr("abs(y - (x0 + x1 * q + x2 * d + x3 * t))").as("ar")))
        // ADVICE r9: a FIXED width of 64 bounded the bucket COUNT but not
        // the densest bucket's SIZE — small-residual fits put nearly every
        // row in bucket 0 and phase 2 then sorted the whole corpus in one
        // task. Derive a power-of-two width from the observed max residual
        // (one extra map-combinable max pass; a bounded driver scalar, the
        // model-coefficient discipline) so the histogram spans ~1k buckets
        // and the densest bucket holds ~n/1k rows; floor(ar / 2^k) stays
        // an exact binary division. Only Spark sees the buckets — the
        // oracle is the bucket-free rank proof — so the width choice can't
        // desync the engines, it only shapes the phase-2 partition.
        val mxAr = r.agg(max(col("ar"))).head().getDouble(0)
        val width = math.pow(2.0,
          math.ceil(math.log(math.max(mxAr, 1e-12) / 1024.0) / math.log(2.0)))
        def rb = r.selectExpr("ar", s"CAST(floor(ar / $width) AS BIGINT) AS bkt")
        val bk = T.freeze(rb.groupBy("bkt")
          .agg(count(lit(1)).as("c"), max(col("ar")).as("mx")))
        val tot = bk.agg(sum(col("c")).as("n"), max(col("mx")).as("mx"))
        // bounded window: the bucket table, not the raw support
        val wOff = Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = bk.select(col("bkt"), col("c"),
            coalesce(sum(col("c")).over(wOff), lit(0L)).as("off"))
          .crossJoin(broadcast(tot.select("n")))
        val targets = off.crossJoin(broadcast(Seq(0.5, 0.9).toDF("qq")))
          .withColumn("klo", floor((col("n") - 1) * col("qq")).cast("long"))
          .selectExpr("bkt", "c", "off", "qq",
            "stack(2, 'lo', klo + 1, 'hi', least(klo + 2, n)) AS (br, rk)")
          .where(col("off") < col("rk") && col("rk") <= col("off") + col("c"))
          .select("bkt", "off", "qq", "br", "rk")
        // phase 2: rank only the target buckets' rows (ties in ar are
        // interchangeable — the value at rank rk is unique)
        val wIn = Window.partitionBy("qq", "br").orderBy("ar")
        val qv = rb.join(broadcast(targets), Seq("bkt"))
          .withColumn("rn", col("off") + row_number().over(wIn))
          .where(col("rn") === col("rk"))
          .agg(
            max(when(col("qq") === 0.5 && col("br") === "lo", col("ar"))).as("lo_q50"),
            max(when(col("qq") === 0.5 && col("br") === "hi", col("ar"))).as("hi_q50"),
            max(when(col("qq") === 0.9 && col("br") === "lo", col("ar"))).as("lo_q90"),
            max(when(col("qq") === 0.9 && col("br") === "hi", col("ar"))).as("hi_q90"))
        def interp(q: String, t: String): String =
          s"round(lo_$t + ((n - 1) * $q - floor((n - 1) * $q)) * (hi_$t - lo_$t), 6)"
        tot.crossJoin(qv)
          .selectExpr("n",
            s"${interp("5e-1", "q50")} AS median_abs_error",
            s"${interp("9e-1", "q90")} AS p90_abs_error",
            "round(mx, 6) AS max_error")
      },
      Some {
        def bracket(q: String, t: String): String =
          s"""max(CASE WHEN rn = CAST(floor((n - 1) * $q) AS BIGINT) + 1 THEN ar END) AS lo_$t,
                     max(CASE WHEN rn = least(CAST(floor((n - 1) * $q) AS BIGINT) + 2, n) THEN ar END) AS hi_$t"""
        def interp(q: String, t: String): String =
          s"round(lo_$t + ((n - 1) * $q - floor((n - 1) * $q)) * (hi_$t - lo_$t), 6)"
        s"""WITH ${ML.sqlGaussChain},
                 l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                         CAST(l_discount AS DOUBLE) AS d,
                         CAST(l_tax AS DOUBLE) AS t,
                         CAST(l_extendedprice AS DOUBLE) AS y
                       FROM lineitem),
                 r AS (SELECT abs(y - (x0 + x1 * q + x2 * d + x3 * t)) AS ar
                       FROM l, ${ML.sqlGaussFinal}),
                 rk AS (SELECT ar, row_number() OVER (ORDER BY ar) AS rn,
                          count(*) OVER () AS n
                        FROM r),
                 qb AS (SELECT ${bracket("5e-1", "q50")},
                     ${bracket("9e-1", "q90")}
                   FROM rk),
                 mt AS (SELECT count(*) AS n, max(ar) AS mx FROM r)
               SELECT CAST(mt.n AS BIGINT) AS n,
                 ${interp("5e-1", "q50")} AS median_abs_error,
                 ${interp("9e-1", "q90")} AS p90_abs_error,
                 round(mx, 6) AS max_error
               FROM mt CROSS JOIN qb"""
      }),

    QueryDef(
      "ml_permutation_importance",
      // The permutation-importance explainer next to ml_shap_linear (the
      // model-agnostic attribution: how much does MSE rise when feature j
      // is decoupled from the target?). The permutation is DETERMINISTIC
      // and distributed: within each l_orderkey % 8 shard, feature j takes
      // the NEXT row's value (lead over the (orderkey, linenumber) order —
      // a shard-local cyclic-ish shift; the shard-tail rows where lead is
      // undefined are excluded from baseline and permuted scores alike, so
      // the comparison runs on identical rows). A partition-local shift is
      // exactly how a cluster permutes without a global shuffle — at scale
      // the shards ARE the partitions. ONE window pass + ONE aggregation
      // computes the baseline and all three permuted MSEs of the solved
      // OLS model; importance = (SSR_perm − SSR_base)/n, shared text.
      (s, dir) => {
        val coefs = ML.gaussSolved(s, dir).selectExpr("x0", "x1", "x2", "x3")
        // (orderkey, linenumber) is NOT unique in the fixture (45832
        // distinct of 60000 rows) — ordering must extend to the value
        // columns so any remaining tie is a FULL duplicate row and the
        // engines' lead() assignments cannot diverge.
        val w = Window.partitionBy(expr("l_orderkey % 8"))
          .orderBy("l_orderkey", "l_linenumber", "y", "q", "d", "t")
        val l = T.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("q"),
          col("l_discount").cast("double").as("d"),
          col("l_tax").cast("double").as("t"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .withColumn("qp", lead(col("q"), 1).over(w))
          .withColumn("dp", lead(col("d"), 1).over(w))
          .withColumn("tp", lead(col("t"), 1).over(w))
          .where(col("qp").isNotNull)
        l.crossJoin(broadcast(coefs))
          .agg(count(lit(1)).cast("double").as("nd"),
            T.xsum(expr("(y - (x0 + x1 * q + x2 * d + x3 * t)) * (y - (x0 + x1 * q + x2 * d + x3 * t))")).as("sb"),
            T.xsum(expr("(y - (x0 + x1 * qp + x2 * d + x3 * t)) * (y - (x0 + x1 * qp + x2 * d + x3 * t))")).as("pq"),
            T.xsum(expr("(y - (x0 + x1 * q + x2 * dp + x3 * t)) * (y - (x0 + x1 * q + x2 * dp + x3 * t))")).as("pd"),
            T.xsum(expr("(y - (x0 + x1 * q + x2 * d + x3 * tp)) * (y - (x0 + x1 * q + x2 * d + x3 * tp))")).as("pt"))
          .selectExpr("nd",
            "stack(3, 'quantity', pq, 'discount', pd, 'tax', pt) AS (feature, sp)",
            "sb")
          .selectExpr("feature", "CAST(nd AS BIGINT) AS n",
            "round(sb / nd, 4) AS mse_base",
            "round(sp / nd, 4) AS mse_permuted",
            "round((sp - sb) / nd, 4) AS importance")
          .orderBy("feature")
      },
      Some(s"""WITH ${ML.sqlGaussChain},
                 pl0 AS (SELECT l_orderkey, l_linenumber,
                     CAST(l_quantity AS DOUBLE) AS q,
                     CAST(l_discount AS DOUBLE) AS d,
                     CAST(l_tax AS DOUBLE) AS t,
                     CAST(l_extendedprice AS DOUBLE) AS y
                   FROM lineitem),
                 plw AS (SELECT *,
                     lead(q, 1) OVER (PARTITION BY l_orderkey % 8 ORDER BY l_orderkey, l_linenumber, y, q, d, t) AS qp,
                     lead(d, 1) OVER (PARTITION BY l_orderkey % 8 ORDER BY l_orderkey, l_linenumber, y, q, d, t) AS dp,
                     lead(t, 1) OVER (PARTITION BY l_orderkey % 8 ORDER BY l_orderkey, l_linenumber, y, q, d, t) AS tp
                   FROM pl0),
                 plf AS (SELECT * FROM plw WHERE qp IS NOT NULL),
                 pm AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                     ${T.sqlXsum("(y - (x0 + x1 * q + x2 * d + x3 * t)) * (y - (x0 + x1 * q + x2 * d + x3 * t))")} AS sb,
                     ${T.sqlXsum("(y - (x0 + x1 * qp + x2 * d + x3 * t)) * (y - (x0 + x1 * qp + x2 * d + x3 * t))")} AS pq,
                     ${T.sqlXsum("(y - (x0 + x1 * q + x2 * dp + x3 * t)) * (y - (x0 + x1 * q + x2 * dp + x3 * t))")} AS pd,
                     ${T.sqlXsum("(y - (x0 + x1 * q + x2 * d + x3 * tp)) * (y - (x0 + x1 * q + x2 * d + x3 * tp))")} AS pt
                   FROM plf, ${ML.sqlGaussFinal})
               SELECT feature, CAST(nd AS BIGINT) AS n,
                 round(sb / nd, 4) AS mse_base,
                 round(sp / nd, 4) AS mse_permuted,
                 round((sp - sb) / nd, 4) AS importance
               FROM (SELECT nd, 'quantity' AS feature, pq AS sp, sb FROM pm
                     UNION ALL SELECT nd, 'discount', pd, sb FROM pm
                     UNION ALL SELECT nd, 'tax', pt, sb FROM pm) u
               ORDER BY feature""")),

    QueryDef(
      "ml_pairwise_minkowski",
      // The remaining pairwise_distances metric= values, completing the
      // family next to euclidean/cosine (ml_pairwise_distances) and
      // cityblock/chebyshev (ml_pairwise_manhattan): minkowski p=3,
      // canberra, sqeuclidean, and sign-pattern hamming (continuous
      // vectors make element-equality hamming degenerate — every pair
      // differs everywhere — so the meaningful variant compares the SIGN
      // pattern, labeled as such). Same bounded vec_id < 15 sample.
      // Determinism: each per-element term is identical IEEE both engines;
      // the SUMS are FLOAT-collapsed (Spark's sequential fold vs DuckDB's
      // exploded-join aggregate sum in different orders — the
      // ml_pairwise_manhattan discipline); the hamming count is an exact
      // integer.
      (s, dir) => {
        val e = T.embeddings(s, dir).where(col("vec_id") < 15)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("q_emb"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("n_emb"))
        val zw = "zip_with(q_emb, n_emb, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        a.crossJoin(broadcast(b)).where(col("id_a") < col("id_b"))
          .selectExpr("id_a", "id_b",
            s"CAST(CAST(aggregate(transform($zw, v -> abs(v * v * v)), 0D, (acc, el) -> acc + el) AS FLOAT) AS DOUBLE) AS s3",
            "CAST(CAST(aggregate(zip_with(q_emb, n_emb, (x, y) -> CASE WHEN abs(CAST(x AS DOUBLE)) + abs(CAST(y AS DOUBLE)) = 0D THEN 0D ELSE abs(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) / (abs(CAST(x AS DOUBLE)) + abs(CAST(y AS DOUBLE))) END), 0D, (acc, el) -> acc + el) AS FLOAT) AS DOUBLE) AS cb",
            s"CAST(CAST(aggregate(transform($zw, v -> v * v), 0D, (acc, el) -> acc + el) AS FLOAT) AS DOUBLE) AS sq",
            "aggregate(zip_with(q_emb, n_emb, (x, y) -> CASE WHEN sign(CAST(x AS DOUBLE)) <> sign(CAST(y AS DOUBLE)) THEN 1 ELSE 0 END), 0, (acc, el) -> acc + el) AS hc")
          .selectExpr("id_a", "id_b",
            "round(cbrt(s3), 6) AS dist_minkowski3",
            "round(cb, 6) AS dist_canberra",
            "round(sq, 6) AS dist_sqeuclidean",
            "round(CAST(hc AS DOUBLE) / 64, 6) AS dist_hamming_sign")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ex AS (SELECT vec_id,
                   generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
                   unnest(CAST(embedding AS DOUBLE[])) AS x
                 FROM embeddings WHERE vec_id < 15),
                 g AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     CAST(CAST(sum(abs((a.x - b.x) * (a.x - b.x) * (a.x - b.x))) AS REAL) AS DOUBLE) AS s3,
                     CAST(CAST(sum(CASE WHEN abs(a.x) + abs(b.x) = 0 THEN 0 ELSE abs(a.x - b.x) / (abs(a.x) + abs(b.x)) END) AS REAL) AS DOUBLE) AS cb,
                     CAST(CAST(sum((a.x - b.x) * (a.x - b.x)) AS REAL) AS DOUBLE) AS sq,
                     CAST(sum(CASE WHEN sign(a.x) <> sign(b.x) THEN 1 ELSE 0 END) AS BIGINT) AS hc
                   FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
                   GROUP BY a.vec_id, b.vec_id)
               SELECT id_a, id_b,
                 round(cbrt(s3), 6) AS dist_minkowski3,
                 round(cb, 6) AS dist_canberra,
                 round(sq, 6) AS dist_sqeuclidean,
                 round(CAST(hc AS DOUBLE) / 64, 6) AS dist_hamming_sign
               FROM g ORDER BY id_a, id_b""")),

    QueryDef(
      "ml_sparse_pairwise",
      // sparse_pairwise_distances — cosine similarity between documents in
      // their SPARSE tf-idf representation, computed the way sparse
      // vectors must be at scale: no dense materialization, the dot
      // product is an INVERTED-INDEX equi-join on term (only co-occurring
      // terms contribute; a pair sharing no term never exists — the
      // sparsity contract). Weights w = tf·ln(N/df) are REAL-collapsed per
      // (doc, term); norms and dots ride the exact decimal wire; cosine is
      // one shared-text division. Bounded doc_id < 30 sample for the
      // oracle-checkable matrix; the join shape itself is df-bounded at
      // any corpus size (the dedup_ngram_jaccard posting discipline).
      // Output: the top-20 most similar pairs by the ROUNDED cosine (ties
      // broken by ids).
      (s, dir) => {
        val dt = TextSim.docTermsPinned(s, dir)
        val nTot = T.documents(s, dir).agg(count(lit(1)).as("n_total"))
        val df_ = dt.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
        val tf = dt.where(col("doc_id") < 30)
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val w = tf.join(df_, "term").crossJoin(broadcast(nTot))
          .selectExpr("doc_id", "term",
            "CAST(CAST(tf * ln(CAST(n_total AS DOUBLE) / df) AS FLOAT) AS DOUBLE) AS w")
        val nrm = w.groupBy("doc_id")
          .agg(sqrt(T.xsum(col("w") * col("w"))).as("nrm"))
        val wa = w.select(col("doc_id").as("id_a"), col("term"), col("w").as("wa"))
        val wb = w.select(col("doc_id").as("id_b"), col("term"), col("w").as("wb"))
        wa.join(wb, "term").where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(T.xsum(col("wa") * col("wb")).as("dot"),
            count(lit(1)).as("n_shared"))
          .join(broadcast(nrm.select(col("doc_id").as("id_a"), col("nrm").as("na"))), "id_a")
          .join(broadcast(nrm.select(col("doc_id").as("id_b"), col("nrm").as("nb"))), "id_b")
          .selectExpr("id_a", "id_b", "n_shared",
            "round(dot / (na * nb), 6) AS cos_sim")
          .orderBy(col("cos_sim").desc, col("id_a"), col("id_b"))
          .limit(20)
      },
      Some(s"""WITH dt0 AS (${TextSim.sqlDocTerms}),
                 dt AS (SELECT doc_id, term FROM dt0 WHERE term <> ''),
                 ntot AS (SELECT count(*) AS n_total FROM documents),
                 dfx AS (SELECT term, count(DISTINCT doc_id) AS df
                         FROM dt GROUP BY term),
                 tf AS (SELECT doc_id, term, count(*) AS tf
                        FROM dt WHERE doc_id < 30 GROUP BY doc_id, term),
                 w AS (SELECT doc_id, term,
                     CAST(CAST(tf * ln(CAST(n_total AS DOUBLE) / df) AS REAL) AS DOUBLE) AS w
                   FROM tf JOIN dfx USING (term) CROSS JOIN ntot),
                 nrm AS (SELECT doc_id, sqrt(${T.sqlXsum("w * w")}) AS nrm
                         FROM w GROUP BY doc_id),
                 dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     ${T.sqlXsum("a.w * b.w")} AS dot,
                     count(*) AS n_shared
                   FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
               SELECT id_a, id_b, n_shared,
                 round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
               FROM dots JOIN nrm na ON na.doc_id = id_a
                         JOIN nrm nb ON nb.doc_id = id_b
               ORDER BY cos_sim DESC, id_a, id_b LIMIT 20""")),

    QueryDef(
      "ml_pairwise_correlation",
      // pairwise_distances metric='correlation' — the remaining member of
      // the distance-metric family: d = 1 − Pearson corr between the two
      // CENTERED vectors (each centered by its OWN mean — the metric's
      // definition, distinct from cosine which centers nothing). The
      // per-vector mean and variance are computed in ONE map pass over the
      // sample (no recompute inside the pair loop); the pair pass adds
      // only the centered dot. Same bounded vec_id < 15 sample and the
      // same FLOAT-collapsed-sum discipline as ml_pairwise_minkowski
      // (Spark's sequential array fold vs DuckDB's exploded-join sum run
      // in different orders; the REAL collapse absorbs exactly that).
      // `+ 0` on the rounded output: d → 0 for near-identical vectors and
      // round can surface a −0.0 (the cdSteps lesson).
      (s, dir) => {
        val e = T.embeddings(s, dir).where(col("vec_id") < 15)
          .selectExpr("vec_id", "embedding",
            "CAST(CAST(aggregate(embedding, 0D, (acc, el) -> acc + CAST(el AS DOUBLE)) AS FLOAT) AS DOUBLE) / 64 AS m")
          .selectExpr("vec_id", "embedding", "m",
            "CAST(CAST(aggregate(embedding, 0D, (acc, el) -> acc + (CAST(el AS DOUBLE) - m) * (CAST(el AS DOUBLE) - m)) AS FLOAT) AS DOUBLE) AS s2")
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
          col("m").as("ma"), col("s2").as("sa"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
          col("m").as("mb"), col("s2").as("sb"))
        a.crossJoin(broadcast(b)).where(col("id_a") < col("id_b"))
          .selectExpr("id_a", "id_b", "sa", "sb",
            "CAST(CAST(aggregate(zip_with(ea, eb, (x, y) -> (CAST(x AS DOUBLE) - ma) * (CAST(y AS DOUBLE) - mb)), 0D, (acc, el) -> acc + el) AS FLOAT) AS DOUBLE) AS dot")
          .selectExpr("id_a", "id_b",
            "round(1.0 - dot / sqrt(sa * sb), 6) + 0 AS dist_correlation")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH ex AS (SELECT vec_id,
                   generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS i,
                   unnest(CAST(embedding AS DOUBLE[])) AS x
                 FROM embeddings WHERE vec_id < 15),
                 mv AS (SELECT vec_id, CAST(CAST(sum(x) AS REAL) AS DOUBLE) / 64 AS m
                        FROM ex GROUP BY vec_id),
                 sv AS (SELECT e.vec_id, m,
                     CAST(CAST(sum((x - m) * (x - m)) AS REAL) AS DOUBLE) AS s2
                   FROM ex e JOIN mv USING (vec_id) GROUP BY e.vec_id, m),
                 g AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     CAST(CAST(sum((a.x - sa.m) * (b.x - sb.m)) AS REAL) AS DOUBLE) AS dot,
                     any_value(sa.s2) AS sa2, any_value(sb.s2) AS sb2
                   FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
                     JOIN sv sa ON sa.vec_id = a.vec_id
                     JOIN sv sb ON sb.vec_id = b.vec_id
                   GROUP BY a.vec_id, b.vec_id)
               SELECT id_a, id_b,
                 round(1.0 - dot / sqrt(sa2 * sb2), 6) + 0 AS dist_correlation
               FROM g ORDER BY id_a, id_b""")),

    QueryDef(
      "ml_jl_min_dim",
      // johnson_lindenstrauss_min_dim [R] — the closed-form companion of
      // the random-projection transformers: the minimum projected
      // dimensionality that preserves pairwise distances within ±eps for
      // n points, k ≥ 4·ln(n) / (eps²/2 − eps³/3). n is the embeddings
      // corpus count IN-PLAN (one count aggregate); the eps grid is a
      // 4-row literal explode. At any corpus size this is one
      // map-side-combined count — the cheapest query in the engine, and
      // the one a pipeline runs FIRST to size its projection stage.
      // Determinism: ln REAL-collapsed (the lnR discipline); everything
      // after is exact rational double arithmetic; floor matches the
      // reference's int truncation of a positive value.
      (s, dir) => {
        T.embeddings(s, dir).agg(count(lit(1)).as("n"))
          .select(col("n"), explode(array(
            lit(0.1), lit(0.2), lit(0.3), lit(0.5))).as("eps"))
          .selectExpr("eps", "n",
            "CAST(floor(4.0 * CAST(CAST(ln(CAST(n AS DOUBLE)) AS FLOAT) AS DOUBLE) / (eps * eps / 2 - eps * eps * eps / 3)) AS BIGINT) AS min_dim")
          .orderBy("eps")
      },
      Some("""WITH n AS (SELECT count(*) AS n FROM embeddings),
                 e AS (SELECT CAST(unnest([0.1, 0.2, 0.3, 0.5]) AS DOUBLE) AS eps)
               SELECT eps, n,
                 CAST(floor(4.0 * CAST(CAST(ln(CAST(n AS DOUBLE)) AS REAL) AS DOUBLE) / (eps * eps / 2 - eps * eps * eps / 3)) AS BIGINT) AS min_dim
               FROM n CROSS JOIN e ORDER BY eps""")),

    QueryDef(
      "ml_ab_ttest",
      // Welch's two-sample t-test — the A/B-experimentation primitive
      // (scipy.stats.ttest_ind(equal_var=False) as a dataflow): does
      // extendedprice differ between returnflag cohorts R and A? ONE
      // conditional moment pass (per-cohort n, Σy, Σy² — the ml_ovo
      // conditional-sum discipline), then the closed Welch t and the
      // Satterthwaite degrees of freedom on shared-text doubles. The
      // p-value needs the t CDF (no shared special function on either
      // SQL engine) — the test statistic and df ARE the deterministic
      // engine output; the caller applies their table. |t| < 2 on this
      // fixture: the columns are independent by construction, which is
      // exactly what an A/A test should report (MicroSpec pins it).
      (s, dir) => {
        T.lineitem(s, dir)
          .where(col("l_returnflag").isin("R", "A"))
          .select(col("l_returnflag").as("g"),
            col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .agg(
            sum(when(col("g") === "R", 1L).otherwise(0L)).cast("double").as("na"),
            T.xsum(when(col("g") === "R", col("y"))).as("sa"),
            T.xsum(when(col("g") === "R", col("y") * col("y"))).as("ssa"),
            sum(when(col("g") === "A", 1L).otherwise(0L)).cast("double").as("nb"),
            T.xsum(when(col("g") === "A", col("y"))).as("sb"),
            T.xsum(when(col("g") === "A", col("y") * col("y"))).as("ssb"))
          .selectExpr("na", "nb", "sa / na AS ma", "sb / nb AS mb",
            "(ssa - sa * sa / na) / (na - 1) AS va",
            "(ssb - sb * sb / nb) / (nb - 1) AS vb")
          .selectExpr("na", "nb", "ma", "mb", "va", "vb",
            "va / na + vb / nb AS sesq")
          .selectExpr(
            "CAST(na AS BIGINT) AS n_a", "CAST(nb AS BIGINT) AS n_b",
            "round(ma, 6) AS mean_a", "round(mb, 6) AS mean_b",
            "round(ma - mb, 6) AS diff",
            "round(sqrt(sesq), 6) AS se",
            "round((ma - mb) / sqrt(sesq), 6) AS t_stat",
            "round(sesq * sesq / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)), 2) AS df_welch")
      },
      Some(s"""WITH l AS (SELECT l_returnflag AS g,
                   CAST(l_extendedprice AS DOUBLE) AS y
                 FROM lineitem WHERE l_returnflag IN ('R', 'A')),
                 m AS (SELECT
                     CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
                     ${T.sqlXsum("CASE WHEN g = 'R' THEN y END")} AS sa,
                     ${T.sqlXsum("CASE WHEN g = 'R' THEN y * y END")} AS ssa,
                     CAST(sum(CASE WHEN g = 'A' THEN 1 ELSE 0 END) AS DOUBLE) AS nb,
                     ${T.sqlXsum("CASE WHEN g = 'A' THEN y END")} AS sb,
                     ${T.sqlXsum("CASE WHEN g = 'A' THEN y * y END")} AS ssb
                   FROM l),
                 v AS (SELECT na, nb, sa / na AS ma, sb / nb AS mb,
                     (ssa - sa * sa / na) / (na - 1) AS va,
                     (ssb - sb * sb / nb) / (nb - 1) AS vb
                   FROM m),
                 e AS (SELECT na, nb, ma, mb, va, vb,
                     va / na + vb / nb AS sesq FROM v)
               SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                 round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                 round(ma - mb, 6) AS diff,
                 round(sqrt(sesq), 6) AS se,
                 round((ma - mb) / sqrt(sesq), 6) AS t_stat,
                 round(sesq * sesq / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)), 2) AS df_welch
               FROM e""")),

    QueryDef(
      "ml_ks_test",
      // Two-sample Kolmogorov–Smirnov — the distribution-shift detector a
      // production pipeline runs between training and serving cohorts:
      // D = max |ECDF_R − ECDF_A| over quantity for the returnflag R/A
      // cohorts. The ECDFs live on the VALUE-DISTINCT table (quantity has
      // a bounded support; a continuous column bins through
      // agg_histogram's edges first — same plan after that): per-value
      // cohort counts from one conditional pass, cumulative fractions by
      // a window over the bounded support, D = one max. All-integer
      // counts make the ECDF steps exact rationals → deterministic
      // doubles.
      (s, dir) => {
        val wc = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wg = Window.partitionBy()
        T.lineitem(s, dir)
          .where(col("l_returnflag").isin("R", "A"))
          .select(col("l_quantity").cast("double").as("v"),
            col("l_returnflag").as("g"))
          .groupBy("v")
          .agg(sum(when(col("g") === "R", 1L).otherwise(0L)).as("ca"),
            sum(when(col("g") === "A", 1L).otherwise(0L)).as("cb"))
          .select(col("v"),
            sum(col("ca")).over(wc).as("cuma"),
            sum(col("cb")).over(wc).as("cumb"),
            sum(col("ca")).over(wg).as("na"),
            sum(col("cb")).over(wg).as("nb"))
          .selectExpr("na", "nb",
            "abs(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb) AS gap")
          .agg(first(col("na")).as("na"), first(col("nb")).as("nb"),
            max(col("gap")).as("d"))
          .selectExpr("na AS n_a", "nb AS n_b", "round(d, 6) AS ks_d")
      },
      Some("""WITH cnt AS (SELECT CAST(l_quantity AS DOUBLE) AS v,
                   CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                   CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                 FROM lineitem WHERE l_returnflag IN ('R', 'A')
                 GROUP BY v),
                 cum AS (SELECT v,
                     sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
                     sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
                     sum(ca) OVER () AS na,
                     sum(cb) OVER () AS nb
                   FROM cnt),
                 gaps AS (SELECT na, nb,
                     abs(CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb) AS gap
                   FROM cum)
               SELECT CAST(any_value(na) AS BIGINT) AS n_a,
                 CAST(any_value(nb) AS BIGINT) AS n_b,
                 round(max(gap), 6) AS ks_d
               FROM gaps""")),

    QueryDef(
      "ml_mannwhitney_u",
      // Mann–Whitney U — the nonparametric sibling of ml_ab_ttest (and
      // the rank identity under AUC: U/(n_a·n_b) is exactly the
      // probability a random R draw exceeds a random A draw): midranks
      // from cumulative counts over the BOUNDED value-support table (the
      // ml_ks_test scaffold — ranks never touch an unbounded sort),
      // U = Σranks_R − n_R(n_R+1)/2, z via the TIE-CORRECTED normal
      // variance (quantity's 50-value support is all ties — the
      // correction is the point, not a refinement). Integer counts →
      // exact-rational midranks → deterministic doubles.
      (s, dir) => {
        val wc = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wg = Window.partitionBy()
        T.lineitem(s, dir)
          .where(col("l_returnflag").isin("R", "A"))
          .select(col("l_quantity").cast("double").as("v"),
            col("l_returnflag").as("g"))
          .groupBy("v")
          .agg(sum(when(col("g") === "R", 1L).otherwise(0L)).as("ca"),
            sum(when(col("g") === "A", 1L).otherwise(0L)).as("cb"))
          .select(col("v"), col("ca"), col("cb"),
            (col("ca") + col("cb")).as("t"),
            sum(col("ca") + col("cb")).over(wc).as("cum"),
            sum(col("ca")).over(wg).as("na"),
            sum(col("cb")).over(wg).as("nb"))
          .selectExpr("ca", "t", "na", "nb",
            "CAST(cum - t AS DOUBLE) + (CAST(t AS DOUBLE) + 1) / 2 AS midrank",
            "CAST(t AS DOUBLE) * t * t - t AS tie3")
          .agg(T.xsum(col("ca") * col("midrank")).as("ra"),
            T.xsum(col("tie3")).as("ties"),
            first(col("na")).as("na"), first(col("nb")).as("nb"))
          .selectExpr("CAST(na AS BIGINT) AS n_a", "CAST(nb AS BIGINT) AS n_b",
            "ra - CAST(na AS DOUBLE) * (na + 1) / 2 AS u", "ties",
            "CAST(na AS DOUBLE) AS nad", "CAST(nb AS DOUBLE) AS nbd",
            "CAST(na + nb AS DOUBLE) AS n")
          .selectExpr("n_a", "n_b", "round(u, 2) AS u_stat",
            "round(u / (nad * nbd), 6) AS auc_equiv",
            "round((u - nad * nbd / 2) / sqrt(nad * nbd / 12 * ((n + 1) - ties / (n * (n - 1)))), 6) AS z_score")
      },
      Some(s"""WITH cnt AS (SELECT CAST(l_quantity AS DOUBLE) AS v,
                   CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                   CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cb
                 FROM lineitem WHERE l_returnflag IN ('R', 'A')
                 GROUP BY v),
                 rk AS (SELECT v, ca, cb, ca + cb AS t,
                     sum(ca + cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(ca) OVER () AS na, sum(cb) OVER () AS nb
                   FROM cnt),
                 mr AS (SELECT ca, t, na, nb,
                     CAST(cum - t AS DOUBLE) + (CAST(t AS DOUBLE) + 1) / 2 AS midrank,
                     CAST(t AS DOUBLE) * t * t - t AS tie3
                   FROM rk),
                 ag AS (SELECT ${T.sqlXsum("ca * midrank")} AS ra,
                     ${T.sqlXsum("tie3")} AS ties,
                     any_value(na) AS na, any_value(nb) AS nb
                   FROM mr),
                 uu AS (SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                     ra - CAST(na AS DOUBLE) * (na + 1) / 2 AS u, ties,
                     CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
                     CAST(na + nb AS DOUBLE) AS n
                   FROM ag)
               SELECT n_a, n_b, round(u, 2) AS u_stat,
                 round(u / (nad * nbd), 6) AS auc_equiv,
                 round((u - nad * nbd / 2) / sqrt(nad * nbd / 12 * ((n + 1) - ties / (n * (n - 1)))), 6) AS z_score
               FROM uu""")),

    QueryDef(
      "ml_bootstrap_ci",
      // The POISSON bootstrap (the streaming/MapReduce bootstrap of
      // Chamandy et al. — resampling without materializing resamples):
      // replicate b's weight for a row is a deterministic-hash draw from
      // Poisson(1) (CASE over the hash's uniform bucket against the
      // Poisson CDF: 0 w.p. .368, 1 w.p. .368, 2 w.p. .184, 3 w.p. .061,
      // else 4), so all B=8 weighted replicate means come from ONE pass
      // of 8 weighted sum pairs — no data duplication, no shuffle per
      // replicate, the exact shape that makes bootstrap CIs affordable
      // at 100 TB. CI = mean ± 2·sd of the replicate means (normal
      // interval). The hash family is a fifth disjoint (multiplier,
      // increment) pair per replicate — replicates must be independent
      // draws, not shifts of one stream.
      (s, dir) => {
        val B = 8
        def wexpr(b: Int): String = {
          val m = 104729L + 2 * b; val a = 7919L * (b + 1)
          s"""CASE WHEN ($m * (l_orderkey * 8 + l_linenumber) + $a) % ${T.HASH_P} % 1000 < 368 THEN 0
                  WHEN ($m * (l_orderkey * 8 + l_linenumber) + $a) % ${T.HASH_P} % 1000 < 736 THEN 1
                  WHEN ($m * (l_orderkey * 8 + l_linenumber) + $a) % ${T.HASH_P} % 1000 < 920 THEN 2
                  WHEN ($m * (l_orderkey * 8 + l_linenumber) + $a) % ${T.HASH_P} % 1000 < 981 THEN 3
                  ELSE 4 END"""
        }
        val l = T.lineitem(s, dir)
          .selectExpr(Seq("CAST(l_extendedprice AS DOUBLE) AS y") ++
            (0 until B).map(b => s"${wexpr(b)} AS w$b"): _*)
          .transform(T.fanOut(_))
        val aggs = (0 until B).flatMap(b => Seq(
          sum(col(s"w$b")).as(s"n$b"),
          T.xsum(col(s"w$b") * col("y")).as(s"s$b")))
        val reps = l.agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack($B, ${(0 until B).map(b => s"$b, n$b, s$b").mkString(", ")}) AS (b, nw, sw)")
          .selectExpr("b", "sw / nw AS rep_mean")
        // the replicate mean enters the deviation pass via an EXACT
        // decimal aggregate + broadcast, not a window avg: an 8-double
        // window average sums in engine-internal order (ulp hazard)
        val mstats = reps.agg(T.xsum(col("rep_mean")).as("sm"),
          count(lit(1)).cast("double").as("bn"))
        reps.crossJoin(broadcast(mstats))
          .selectExpr("rep_mean", "bn", "sm / bn AS mm")
          .agg(first(col("mm")).as("mm"), first(col("bn")).as("bn"),
            T.xsum((col("rep_mean") - col("mm")) * (col("rep_mean") - col("mm"))).as("ssd"))
          .selectExpr("mm AS boot_mean", "sqrt(ssd / (bn - 1)) AS boot_se")
          .selectExpr("round(boot_mean, 6) AS boot_mean",
            "round(boot_se, 6) AS boot_se",
            "round(boot_mean - 2 * boot_se, 6) AS ci_lo",
            "round(boot_mean + 2 * boot_se, 6) AS ci_hi")
      },
      Some {
        val B = 8
        def wexpr(b: Int): String = {
          val m = 104729L + 2 * b; val a = 7919L * (b + 1)
          s"""CASE WHEN ($m * (l_orderkey * 8 + l_linenumber) + $a) % ${T.HASH_P} % 1000 < 368 THEN 0
                  WHEN ($m * (l_orderkey * 8 + l_linenumber) + $a) % ${T.HASH_P} % 1000 < 736 THEN 1
                  WHEN ($m * (l_orderkey * 8 + l_linenumber) + $a) % ${T.HASH_P} % 1000 < 920 THEN 2
                  WHEN ($m * (l_orderkey * 8 + l_linenumber) + $a) % ${T.HASH_P} % 1000 < 981 THEN 3
                  ELSE 4 END"""
        }
        s"""WITH l AS (SELECT CAST(l_extendedprice AS DOUBLE) AS y,
                   ${(0 until B).map(b => s"${wexpr(b)} AS w$b").mkString(",\n                   ")}
                 FROM lineitem),
                 m AS (SELECT ${(0 until B).map(b =>
                   s"CAST(sum(w$b) AS BIGINT) AS n$b, ${T.sqlXsum(s"w$b * y")} AS s$b").mkString(", ")}
                   FROM l),
                 reps AS (${(0 until B).map(b =>
                   s"SELECT $b AS b, s$b / n$b AS rep_mean FROM m").mkString(" UNION ALL ")}),
                 ms AS (SELECT ${T.sqlXsum("rep_mean")} AS sm,
                     CAST(count(*) AS DOUBLE) AS bn
                   FROM reps),
                 dv AS (SELECT rep_mean, bn, sm / bn AS mm
                        FROM reps CROSS JOIN ms),
                 ag AS (SELECT any_value(mm) AS mm, any_value(bn) AS bn,
                     ${T.sqlXsum("(rep_mean - mm) * (rep_mean - mm)")} AS ssd
                   FROM dv),
                 fin AS (SELECT mm AS boot_mean, sqrt(ssd / (bn - 1)) AS boot_se
                         FROM ag)
               SELECT round(boot_mean, 6) AS boot_mean,
                 round(boot_se, 6) AS boot_se,
                 round(boot_mean - 2 * boot_se, 6) AS ci_lo,
                 round(boot_mean + 2 * boot_se, 6) AS ci_hi
               FROM fin"""
      }),

    QueryDef(
      "ml_psi",
      // Population Stability Index — THE deployed-model drift monitor:
      // PSI = Σ_bins (p_ref − p_cur)·ln(p_ref/p_cur) between the
      // linestatus O (current) and F (reference) cohorts over 10 shared
      // extendedprice bins. Bins come from the GLOBAL bounds (one bounded
      // aggregate, broadcast) with agg_histogram's explicit shared floor
      // text; per-bin cohort counts are one conditional pass; fractions
      // are Laplace-smoothed ((c+0.5)/(n+5)) so an empty bin cannot blow
      // up the log — the smoothing is part of the shared text, not an
      // engine-side fixup. ln is REAL-collapsed (lnR); the sum rides the
      // exact wire. PSI < 0.1 = stable (pinned on the identically-
      // distributed fixture cohorts).
      (s, dir) => {
        val l = T.lineitem(s, dir)
          .where(col("l_linestatus").isin("O", "F"))
          .select(col("l_extendedprice").cast("double").as("v"),
            col("l_linestatus").as("g"))
          .transform(T.fanOut(_))
        val bounds = l.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        l.crossJoin(broadcast(bounds))
          .selectExpr("g",
            "CASE WHEN hi > lo THEN least(CAST(floor((v - lo) / (hi - lo) * 10) AS INT) + 1, 10) ELSE 1 END AS bin")
          .groupBy("bin")
          .agg(sum(when(col("g") === "F", 1L).otherwise(0L)).as("cr"),
            sum(when(col("g") === "O", 1L).otherwise(0L)).as("cc"))
          .select(col("bin"), col("cr"), col("cc"),
            sum(col("cr")).over(Window.partitionBy()).as("nr"),
            sum(col("cc")).over(Window.partitionBy()).as("nc"))
          .selectExpr("bin",
            "(CAST(cr AS DOUBLE) + 0.5) / (nr + 5) AS pr",
            "(CAST(cc AS DOUBLE) + 0.5) / (nc + 5) AS pc")
          .selectExpr(
            "(pr - pc) * CAST(CAST(ln(pr / pc) AS FLOAT) AS DOUBLE) AS term")
          .agg(T.xsum(col("term")).as("psi"))
          .selectExpr("round(psi, 6) AS psi")
      },
      Some(s"""WITH l AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                   l_linestatus AS g
                 FROM lineitem WHERE l_linestatus IN ('O', 'F')),
                 b AS (SELECT min(v) AS lo, max(v) AS hi FROM l),
                 binned AS (SELECT g,
                     CASE WHEN hi > lo THEN least(CAST(floor((v - lo) / (hi - lo) * 10) AS INT) + 1, 10) ELSE 1 END AS bin
                   FROM l CROSS JOIN b),
                 cnt AS (SELECT bin,
                     CAST(sum(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cr,
                     CAST(sum(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cc
                   FROM binned GROUP BY bin),
                 tot AS (SELECT bin, cr, cc,
                     sum(cr) OVER () AS nr, sum(cc) OVER () AS nc
                   FROM cnt),
                 p AS (SELECT bin,
                     (CAST(cr AS DOUBLE) + 0.5) / (nr + 5) AS pr,
                     (CAST(cc AS DOUBLE) + 0.5) / (nc + 5) AS pc
                   FROM tot),
                 terms AS (SELECT
                     (pr - pc) * CAST(CAST(ln(pr / pc) AS REAL) AS DOUBLE) AS term
                   FROM p)
               SELECT round(${T.sqlXsum("term")}, 6) AS psi
               FROM terms""")),

    QueryDef(
      "ml_chi2_test",
      // Chi-square independence test over the (returnflag × linestatus)
      // contingency table — the categorical sibling of ml_ab_ttest and
      // the statistic behind sklearn's chi2 feature screening: one
      // map-side-combined contingency count (the cells are
      // cardinality-bounded), marginals as window sums OVER THE CELL
      // TABLE (never the data), χ² = Σ(o−e)²/e on the exact decimal
      // wire, dof = (r−1)(c−1) from in-plan distinct counts.
      (s, dir) => {
        val ct = T.lineitem(s, dir)
          .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
          .agg(count(lit(1)).as("o"))
        val wr = Window.partitionBy(col("rf"))
        val wc = Window.partitionBy(col("ls"))
        val wg = Window.partitionBy()
        ct.select(col("rf"), col("ls"), col("o"),
            sum(col("o")).over(wr).as("rt"),
            sum(col("o")).over(wc).as("st"),
            sum(col("o")).over(wg).as("n"))
          .selectExpr("rf", "ls", "o", "n",
            "CAST(rt AS DOUBLE) * st / n AS e")
          .agg(T.xsum(expr("(o - e) * (o - e) / e")).as("chi2"),
            countDistinct(col("rf")).as("r"),
            countDistinct(col("ls")).as("c"),
            first(col("n")).as("n"))
          .selectExpr("round(chi2, 6) AS chi2",
            "CAST((r - 1) * (c - 1) AS INT) AS dof", "n")
      },
      Some("""WITH ct AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
                   count(*) AS o
                 FROM lineitem GROUP BY rf, ls),
                 mg AS (SELECT rf, ls, o,
                     sum(o) OVER (PARTITION BY rf) AS rt,
                     sum(o) OVER (PARTITION BY ls) AS st,
                     sum(o) OVER () AS n
                   FROM ct),
                 ex AS (SELECT rf, ls, o, n,
                     CAST(rt AS DOUBLE) * st / n AS e FROM mg)
               SELECT round(CAST(sum(CAST(((o - e) * (o - e) / e) AS DECIMAL(30,12))) AS DOUBLE), 6) AS chi2,
                 CAST((count(DISTINCT rf) - 1) * (count(DISTINCT ls) - 1) AS INT) AS dof,
                 CAST(any_value(n) AS BIGINT) AS n
               FROM ex""")),

    QueryDef(
      "ml_cramers_v",
      // Cramér's V — the [0,1]-normalized effect size over ml_chi2_test's
      // statistic (the number a feature-screening run actually thresholds,
      // since raw χ² grows with n): V = √(χ²/(n·min(r−1, c−1))). Same
      // one-pass bounded contingency wire; √ is IEEE-correctly-rounded so
      // it needs no collapse.
      (s, dir) => {
        val ct = T.lineitem(s, dir)
          .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"))
          .agg(count(lit(1)).as("o"))
        val wr = Window.partitionBy(col("rf"))
        val wc = Window.partitionBy(col("ls"))
        val wg = Window.partitionBy()
        ct.select(col("rf"), col("ls"), col("o"),
            sum(col("o")).over(wr).as("rt"),
            sum(col("o")).over(wc).as("st"),
            sum(col("o")).over(wg).as("n"))
          .selectExpr("rf", "ls", "o", "n",
            "CAST(rt AS DOUBLE) * st / n AS e")
          .agg(T.xsum(expr("(o - e) * (o - e) / e")).as("chi2"),
            countDistinct(col("rf")).as("r"),
            countDistinct(col("ls")).as("c"),
            first(col("n")).as("n"))
          .selectExpr("round(chi2, 6) AS chi2", "n",
            "CAST(least(r - 1, c - 1) AS INT) AS min_dim",
            "round(sqrt(chi2 / (CAST(n AS DOUBLE) * least(r - 1, c - 1))), 6) AS cramers_v")
      },
      Some("""WITH ct AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
                   count(*) AS o
                 FROM lineitem GROUP BY rf, ls),
                 mg AS (SELECT rf, ls, o,
                     sum(o) OVER (PARTITION BY rf) AS rt,
                     sum(o) OVER (PARTITION BY ls) AS st,
                     sum(o) OVER () AS n
                   FROM ct),
                 ex AS (SELECT rf, ls, o, n,
                     CAST(rt AS DOUBLE) * st / n AS e FROM mg),
                 ag AS (SELECT
                     CAST(sum(CAST(((o - e) * (o - e) / e) AS DECIMAL(30,12))) AS DOUBLE) AS chi2,
                     count(DISTINCT rf) AS r, count(DISTINCT ls) AS c,
                     CAST(any_value(n) AS BIGINT) AS n
                   FROM ex)
               SELECT round(chi2, 6) AS chi2, n,
                 CAST(least(r - 1, c - 1) AS INT) AS min_dim,
                 round(sqrt(chi2 / (CAST(n AS DOUBLE) * least(r - 1, c - 1))), 6) AS cramers_v
               FROM ag""")),

    QueryDef(
      "ml_bartlett",
      // Bartlett's test of variance homogeneity across the returnflag
      // groups (Snedecor & Cochran §10.21 — the ANOVA precondition check
      // completing the test family next to ml_ab_ttest / ml_ks_test /
      // ml_mannwhitney_u): X² = [(N−k)·ln(S_p²) − Σ(n_i−1)·ln(s_i²)] / C
      // with C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)). ONE map-side
      // contingency-free moment pass (per-group n/Σy/Σy² on the exact
      // wire); everything after is a k-row reduction — ln REAL-collapsed,
      // per-group terms re-summed on the decimal wire.
      (s, dir) => {
        val g = T.lineitem(s, dir)
          .select(col("l_returnflag").as("rf"),
            col("l_extendedprice").cast("double").as("y"))
          .groupBy("rf")
          .agg(count(lit(1)).as("ni"),
            T.xsum(col("y")).as("sy"), T.xsum(col("y") * col("y")).as("syy"))
          .selectExpr("rf", "ni",
            "(syy - sy * sy / ni) / (ni - 1) AS s2")
        g.agg(count(lit(1)).as("k"),
            sum(col("ni")).as("nn"),
            T.xsum(expr("(ni - 1) * CAST(CAST(ln(s2) AS FLOAT) AS DOUBLE)")).as("sl"),
            T.xsum(expr("(ni - 1) * s2")).as("sp"),
            T.xsum(expr("1e0 / (ni - 1)")).as("si"))
          .selectExpr("k", "nn", "sl", "si",
            "sp / (nn - k) AS sp2")
          .selectExpr("k", "nn",
            "((nn - k) * CAST(CAST(ln(sp2) AS FLOAT) AS DOUBLE) - sl) AS num",
            "1e0 + (si - 1e0 / (nn - k)) / (3e0 * (k - 1)) AS corr")
          .selectExpr("CAST(k AS INT) AS k", "nn AS n",
            "round(num / corr, 6) AS bartlett",
            "round(corr, 6) AS correction")
      },
      Some(s"""WITH g AS (SELECT l_returnflag AS rf, count(*) AS ni,
                     ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE)")} AS sy,
                     ${T.sqlXsum("CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)")} AS syy
                   FROM lineitem GROUP BY rf),
                 v AS (SELECT rf, ni, (syy - sy * sy / ni) / (ni - 1) AS s2
                   FROM g),
                 ag AS (SELECT count(*) AS k, CAST(sum(ni) AS BIGINT) AS nn,
                     ${T.sqlXsum("(ni - 1) * CAST(CAST(ln(s2) AS REAL) AS DOUBLE)")} AS sl,
                     ${T.sqlXsum("(ni - 1) * s2")} AS sp,
                     ${T.sqlXsum("1e0 / (ni - 1)")} AS si
                   FROM v),
                 s1 AS (SELECT k, nn, sl, si, sp / (nn - k) AS sp2 FROM ag),
                 s2t AS (SELECT k, nn,
                     ((nn - k) * CAST(CAST(ln(sp2) AS REAL) AS DOUBLE) - sl) AS num,
                     1e0 + (si - 1e0 / (nn - k)) / (3e0 * (k - 1)) AS corr
                   FROM s1)
               SELECT CAST(k AS INT) AS k, nn AS n,
                 round(num / corr, 6) AS bartlett,
                 round(corr, 6) AS correction
               FROM s2t""")),

    QueryDef(
      "ml_corr_matrix",
      // DataFrame.corr() — the cudf/pandas correlation matrix [R] over
      // (quantity, extendedprice, discount, tax): ALL 6 pairwise Pearson
      // coefficients from ONE moment pass (4 sums + 4 squares + 6 cross
      // products + count = 15 aggregates; adding a feature adds k+2 sums,
      // never a pass), unpivoted in-plan to the long (f1, f2, corr) form.
      // The closed form is the shared learning-curve/select-kbest moment
      // text; everything rides the exact decimal wire.
      (s, dir) => {
        val names = Seq("q" -> "quantity", "p" -> "extendedprice",
          "d" -> "discount", "t" -> "tax")
        val pairs = for {
          i <- names.indices; j <- names.indices if i < j
        } yield (names(i), names(j))
        val stackArgs = pairs.map { case ((a, an), (b, bn)) =>
          s"'$an', '$bn', s$a, s$b, s$a$a, s$b$b, s$a$b"
        }.mkString(", ")
        T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("q"),
          col("l_extendedprice").cast("double").as("p"),
          col("l_discount").cast("double").as("d"),
          col("l_tax").cast("double").as("t"))
          .transform(T.fanOut(_))
          .agg(count(lit(1)).cast("double").as("nd"),
            T.xsum(col("q")).as("sq"), T.xsum(col("p")).as("sp"),
            T.xsum(col("d")).as("sd"), T.xsum(col("t")).as("st"),
            T.xsum(col("q") * col("q")).as("sqq"),
            T.xsum(col("p") * col("p")).as("spp"),
            T.xsum(col("d") * col("d")).as("sdd"),
            T.xsum(col("t") * col("t")).as("stt"),
            T.xsum(col("q") * col("p")).as("sqp"),
            T.xsum(col("q") * col("d")).as("sqd"),
            T.xsum(col("q") * col("t")).as("sqt"),
            T.xsum(col("p") * col("d")).as("spd"),
            T.xsum(col("p") * col("t")).as("spt"),
            T.xsum(col("d") * col("t")).as("sdt"))
          .selectExpr("nd",
            s"stack(${pairs.size}, $stackArgs) AS (f1, f2, sx, sy, sxx, syy, sxy)")
          .selectExpr("f1", "f2",
            "round((nd * sxy - sx * sy) / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) + 0 AS corr")
          .orderBy("f1", "f2")
      },
      Some {
        val names = Seq("q" -> "quantity", "p" -> "extendedprice",
          "d" -> "discount", "t" -> "tax")
        val pairs = for {
          i <- names.indices; j <- names.indices if i < j
        } yield (names(i), names(j))
        val arms = pairs.map { case ((a, an), (b, bn)) =>
          s"SELECT nd, '$an' AS f1, '$bn' AS f2, s$a AS sx, s$b AS sy, s$a$a AS sxx, s$b$b AS syy, s$a$b AS sxy FROM m"
        }.mkString("\n                       UNION ALL ")
        s"""WITH l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_extendedprice AS DOUBLE) AS p,
                   CAST(l_discount AS DOUBLE) AS d,
                   CAST(l_tax AS DOUBLE) AS t
                 FROM lineitem),
                 m AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                     ${T.sqlXsum("q")} AS sq, ${T.sqlXsum("p")} AS sp,
                     ${T.sqlXsum("d")} AS sd, ${T.sqlXsum("t")} AS st,
                     ${T.sqlXsum("q * q")} AS sqq, ${T.sqlXsum("p * p")} AS spp,
                     ${T.sqlXsum("d * d")} AS sdd, ${T.sqlXsum("t * t")} AS stt,
                     ${T.sqlXsum("q * p")} AS sqp, ${T.sqlXsum("q * d")} AS sqd,
                     ${T.sqlXsum("q * t")} AS sqt, ${T.sqlXsum("p * d")} AS spd,
                     ${T.sqlXsum("p * t")} AS spt, ${T.sqlXsum("d * t")} AS sdt
                   FROM l),
                 u AS ($arms)
               SELECT f1, f2,
                 round((nd * sxy - sx * sy) / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) + 0 AS corr
               FROM u ORDER BY f1, f2"""
      })
  )

  /** knnPredLang's oracle CTE chain (ML.sqlKnnPredCtes), referenced via a
    * private alias so the interpolation above stays readable. */
  private def sqlKnnPredCtesRef: String = ML.sqlKnnPredCtes
}
