package graft.ops

import graft.{QueryDef, Tables => T, Twin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** cuml.preprocessing completion (r7) — the transformer quartet next to
  * ml_standard_scaler / ml_minmax_scaler: Normalizer (L2 row scaling),
  * SimpleImputer (mean strategy), RobustScaler (median/IQR), and
  * KBinsDiscretizer (uniform bins). Every fit is a bounded aggregate
  * broadcast back into a per-row transform expression (the cuML
  * client-held-model shape); every output is a bounded audit table.
  *
  * Scale design:
  * - normalizer: pure map pass (no fit state at all).
  * - imputer/kbins: one 1-row fit aggregate + one scoring pass.
  * - robust_scaler: the two-phase EXACT quantile shape of
  *   agg_approx_quantile (map-combinable bucket histogram; the rank
  *   window only ever sees the rows of the target buckets), then one
  *   scoring pass — no global sort anywhere.
  *
  * Cross-engine determinism: fit scalars are single IEEE expressions on
  * exact inputs (min/max/integer counts, or the decimal-wire sum); all
  * averaged outputs go through the DECIMAL(30,12) wire and round at 6.
  */
object Preprocess {

  /** L2 norm of the float[64] embedding as a sequential left fold —
    * identical op order to the oracle's list_reduce. */
  private val sparkNorm =
    "sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
  private val sqlNorm =
    "sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (a, b) -> a + b))"

  val entries: Seq[QueryDef] = Seq(

    QueryDef(
      "ml_normalizer",
      // cuml.preprocessing.Normalizer(norm='l2'): scale each embedding row
      // to unit L2 norm — a stateless map pass (the one transformer with
      // no fit step). Audit: per ground-truth label, the distribution of
      // the normalized first component plus the unit-norm invariant
      // (max |‖z‖−1| rounds to 0 at 6 dp — the transform's proof).
      (s, dir) => {
        val e = T.embeddings(s, dir).transform(T.fanOut(_, col("vec_id")))
          .select(col("vec_id"), col("label"),
            expr(sparkNorm).as("nrm"),
            element_at(col("embedding"), 1).cast("double").as("x1"))
          .select(col("vec_id"), col("label"),
            (col("x1") / col("nrm")).as("z1"))
        e.groupBy("label")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("z1")) / count(lit(1)), 6).as("avg_z1"),
            round(min(col("z1")), 6).as("min_z1"),
            round(max(col("z1")), 6).as("max_z1"))
          .orderBy("label")
      },
      Some(s"""WITH e AS (SELECT vec_id, label,
                   $sqlNorm AS nrm,
                   CAST(embedding[1] AS DOUBLE) AS x1
                 FROM embeddings),
                 z AS (SELECT vec_id, label, x1 / nrm AS z1 FROM e)
               SELECT label, count(*) AS n,
                 round(${T.sqlXsum("z1")} / count(*), 6) AS avg_z1,
                 round(min(z1), 6) AS min_z1,
                 round(max(z1), 6) AS max_z1
               FROM z GROUP BY label ORDER BY label""")),

    QueryDef(
      "ml_simple_imputer",
      // cuml.preprocessing SimpleImputer(strategy='mean'): the masked
      // feature is `value` on purchase events only (the fn_ffill fixture
      // column — NULL on every other event type); fit = one global mean
      // over the non-null rows (exact-decimal sum / count), transform =
      // coalesce to the broadcast fill value. Audit per event_type:
      // missingness and the imputed column's mean.
      (s, dir) => {
        val ev = T.events(s, dir).select(col("event_type"),
          when(col("event_type") === "purchase", col("value")).as("v"))
        val fit = ev.agg(T.xsum(col("v")).as("sv"), count(col("v")).as("cv"))
          .selectExpr("sv / cv AS mu")
        ev.crossJoin(broadcast(fit))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_missing"),
            round(max(col("mu")), 6).as("fill_value"),
            round(T.xsum(coalesce(col("v"), col("mu"))) / count(lit(1)), 6).as("avg_imputed"))
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (SELECT event_type,
                   CASE WHEN event_type = 'purchase' THEN value END AS v
                 FROM events),
                 fit AS (SELECT ${T.sqlXsum("v")} / count(v) AS mu FROM ev)
               SELECT event_type, count(*) AS n,
                 CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
                 round(max(mu), 6) AS fill_value,
                 round(${T.sqlXsum("coalesce(v, mu)")} / count(*), 6) AS avg_imputed
               FROM ev CROSS JOIN fit
               GROUP BY event_type ORDER BY event_type""")),

    QueryDef(
      "ml_robust_scaler",
      // cuml.preprocessing RobustScaler: center = exact global median of
      // o_totalprice, scale = IQR (p75 − p25), computed by the two-phase
      // bucket-histogram rank (agg_approx_quantile's decomposition, here
      // global): phase 1 = map-combinable counts per ⌊price/1000⌋ bucket;
      // phase 2 ranks ONLY the rows of the three target buckets. The
      // transform pass emits per-status z = (x − median)/IQR diagnostics.
      // 0.25/0.5/0.75 are exact binary fractions, so ceil(p·n) is the
      // same integer in both engines.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val o = T.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .withColumn("bkt", floor(col("o_totalprice") / 1000).cast("long"))
        val cnt = o.groupBy("bkt").agg(count(lit(1)).as("c"))
        val wOff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
        val wTot = Window.partitionBy()
        val off = cnt.select(col("bkt"), col("c"),
          coalesce(sum(col("c")).over(wOff), lit(0L)).as("off"),
          sum(col("c")).over(wTot).as("n"))
        val targets = off.crossJoin(broadcast(Seq(0.25, 0.5, 0.75).toDF("p")))
          .withColumn("r", greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
          .where(col("off") < col("r") && col("r") <= col("off") + col("c"))
          .select(col("bkt"), col("p"), col("r"), col("off"))
        val wIn = Window.partitionBy("p").orderBy("o_totalprice", "o_orderkey")
        val qs = o.join(broadcast(targets), Seq("bkt"))
          .withColumn("rn", col("off") + row_number().over(wIn))
          .where(col("rn") === col("r"))
          .groupBy()
          .agg(max(when(col("p") === 0.25, col("o_totalprice"))).as("q1"),
            max(when(col("p") === 0.5, col("o_totalprice"))).as("med"),
            max(when(col("p") === 0.75, col("o_totalprice"))).as("q3"))
          .withColumn("iqr", col("q3") - col("q1"))
        T.orders(s, dir).crossJoin(broadcast(qs))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(max(col("med")), 6).as("median"),
            round(max(col("iqr")), 6).as("iqr"),
            round(T.xsum((col("o_totalprice") - col("med")) / col("iqr")) / count(lit(1)), 6).as("mean_z"),
            round(min((col("o_totalprice") - col("med")) / col("iqr")), 6).as("min_z"),
            round(max((col("o_totalprice") - col("med")) / col("iqr")), 6).as("max_z"))
          .orderBy("o_orderstatus")
      },
      // Oracle = the plain rank-window definition (the decomposition
      // proof, as in agg_approx_quantile).
      Some(s"""WITH r AS (SELECT o_totalprice,
                   row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
                   count(*) OVER () AS n
                 FROM orders),
                 q AS (SELECT
                     max(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.25 AS DOUBLE) * n) AS BIGINT)) THEN o_totalprice END) AS q1,
                     max(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)) THEN o_totalprice END) AS med,
                     max(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.75 AS DOUBLE) * n) AS BIGINT)) THEN o_totalprice END) AS q3
                   FROM r),
                 fit AS (SELECT q1, med, q3, q3 - q1 AS iqr FROM q)
               SELECT o_orderstatus, count(*) AS n,
                 round(max(med), 6) AS median,
                 round(max(iqr), 6) AS iqr,
                 round(${T.sqlXsum("(o_totalprice - med) / iqr")} / count(*), 6) AS mean_z,
                 round(min((o_totalprice - med) / iqr), 6) AS min_z,
                 round(max((o_totalprice - med) / iqr), 6) AS max_z
               FROM orders CROSS JOIN fit
               GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    QueryDef(
      "ml_kbins",
      // cuml.preprocessing KBinsDiscretizer(n_bins=5, strategy='uniform',
      // encode='ordinal'): fit = exact global (min, max) of o_totalprice,
      // transform = ⌊(x−min)/width⌋ capped into the last bin. min/max are
      // exact data values, the width division is one IEEE op on identical
      // doubles, so bin boundaries agree bit-for-bit cross-engine.
      (s, dir) => {
        val fit = T.orders(s, dir)
          .agg(min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
          .selectExpr("mn", "(mx - mn) / 5 AS w")
        T.orders(s, dir).crossJoin(broadcast(fit))
          .selectExpr("o_totalprice",
            "LEAST(CAST(floor((o_totalprice - mn) / w) AS INT), 4) AS bin", "mn", "w")
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            round(max(col("mn")) + col("bin") * max(col("w")), 6).as("lo"),
            round(max(col("mn")) + (col("bin") + 1) * max(col("w")), 6).as("hi"),
            round(T.xsum(col("o_totalprice")) / count(lit(1)), 6).as("avg_price"))
          .orderBy("bin")
      },
      Some(s"""WITH fit AS (SELECT mn, (mx - mn) / 5 AS w FROM
                   (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders) f),
                 b AS (SELECT o_totalprice,
                     LEAST(CAST(floor((o_totalprice - mn) / w) AS INT), 4) AS bin, mn, w
                   FROM orders CROSS JOIN fit)
               SELECT bin, count(*) AS n,
                 round(max(mn) + bin * max(w), 6) AS lo,
                 round(max(mn) + (bin + 1) * max(w), 6) AS hi,
                 round(${T.sqlXsum("o_totalprice")} / count(*), 6) AS avg_price
               FROM b GROUP BY bin ORDER BY bin""")),

    QueryDef(
      "ml_target_encode",
      // cuml.dask.preprocessing TargetEncoder [R] (r7): leave-one-out mean
      // target encoding of a category — enc_i = (S_g − y_i)/(n_g − 1), the
      // out-of-fold form that blocks target leakage (encoding a row with
      // its own label). Fit = one bounded groupBy (5 priority classes);
      // transform = broadcast fit row per category + one IEEE
      // subtract/divide per row. The audit emits the LOO mean next to the
      // raw category mean — their gap is the leakage the LOO form removes
      // (exactly n_g/(n_g−1) shrinkage of each row's own contribution).
      // n_g = 1 → NULL via nullif (no fallback value is leak-free).
      (s, dir) => {
        val fit = T.orders(s, dir).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("ng"), T.xsum(col("o_totalprice")).as("sg"))
        T.orders(s, dir).join(broadcast(fit), Seq("o_orderpriority"))
          .withColumn("enc",
            (col("sg") - col("o_totalprice")) / nullif(col("ng") - 1, lit(0)).cast("double"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("enc")) / count(lit(1)), 6).as("avg_enc"),
            round(min(col("enc")), 6).as("min_enc"),
            round(max(col("enc")), 6).as("max_enc"),
            round(max(col("sg")) / max(col("ng")).cast("double"), 6).as("raw_mean"))
          .orderBy("o_orderpriority")
      },
      Some(s"""WITH fit AS (SELECT o_orderpriority, count(*) AS ng,
                   ${T.sqlXsum("o_totalprice")} AS sg
                 FROM orders GROUP BY o_orderpriority),
                 e AS (SELECT o.o_orderpriority,
                     (sg - o_totalprice) / CAST(nullif(ng - 1, 0) AS DOUBLE) AS enc,
                     sg, ng
                   FROM orders o JOIN fit USING (o_orderpriority))
               SELECT o_orderpriority, count(*) AS n,
                 round(${T.sqlXsum("enc")} / count(*), 6) AS avg_enc,
                 round(min(enc), 6) AS min_enc,
                 round(max(enc), 6) AS max_enc,
                 round(max(sg) / CAST(max(ng) AS DOUBLE), 6) AS raw_mean
               FROM e GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    QueryDef(
      "ml_quantile_transform",
      // cuml.preprocessing QuantileTransformer(output_distribution=
      // 'uniform'), the exact-ECDF form a distributed engine serves:
      // F(x) = count(v ≤ x)/n from the value histogram. l_quantity has a
      // bounded integer domain, so the fit is a ~50-row aggregate, the
      // cumulative window runs over AGGREGATED rows (the ml_roc_auc
      // discipline — never a per-row global sort), and the transform is a
      // broadcast join. All ratios are exact-BIGINT divisions → identical
      // doubles cross-engine. (sklearn's n_quantiles interpolation is a
      // subsample of this exact curve; on an integer domain the exact
      // ECDF is strictly more faithful.)
      (s, dir) => {
        val hist = T.lineitem(s, dir).groupBy("l_quantity")
          .agg(count(lit(1)).as("c"))
        val wCum = Window.orderBy("l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTot = Window.partitionBy()
        val ecdf = hist.select(col("l_quantity"),
          (sum(col("c")).over(wCum).cast("double") /
            sum(col("c")).over(wTot).cast("double")).as("f"))
        T.lineitem(s, dir).join(broadcast(ecdf), Seq("l_quantity"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(T.xsum(col("f")) / count(lit(1)), 6).as("avg_f"),
            round(min(col("f")), 6).as("min_f"),
            round(max(col("f")), 6).as("max_f"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH hist AS (SELECT l_quantity, count(*) AS c
                 FROM lineitem GROUP BY l_quantity),
                 ecdf AS (SELECT l_quantity,
                     CAST(sum(c) OVER (ORDER BY l_quantity
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                     / CAST(sum(c) OVER () AS DOUBLE) AS f
                   FROM hist)
               SELECT l_returnflag, count(*) AS n,
                 round(${T.sqlXsum("f")} / count(*), 6) AS avg_f,
                 round(min(f), 6) AS min_f,
                 round(max(f), 6) AS max_f
               FROM lineitem JOIN ecdf USING (l_quantity)
               GROUP BY l_returnflag ORDER BY l_returnflag""")),

    QueryDef(
      "ml_maxabs_scaler",
      // cuml.preprocessing MaxAbsScaler — completes the scaler quartet
      // (standard/minmax/robust/maxabs): scale = exact max(|x|), transform
      // x/scale preserves zero and sign (no centering — the sparse-data
      // scaler). Fit is one exact max; the division is one IEEE op on
      // identical doubles.
      (s, dir) => {
        val fit = T.orders(s, dir).agg(max(abs(col("o_totalprice"))).as("sc"))
        T.orders(s, dir).crossJoin(broadcast(fit))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(max(col("sc")), 6).as("scale"),
            round(T.xsum(col("o_totalprice") / col("sc")) / count(lit(1)), 6).as("avg_s"),
            round(min(col("o_totalprice") / col("sc")), 6).as("min_s"),
            round(max(col("o_totalprice") / col("sc")), 6).as("max_s"))
          .orderBy("o_orderstatus")
      },
      Some(s"""WITH fit AS (SELECT max(abs(o_totalprice)) AS sc FROM orders)
               SELECT o_orderstatus, count(*) AS n,
                 round(max(sc), 6) AS scale,
                 round(${T.sqlXsum("o_totalprice / sc")} / count(*), 6) AS avg_s,
                 round(min(o_totalprice / sc), 6) AS min_s,
                 round(max(o_totalprice / sc), 6) AS max_s
               FROM orders CROSS JOIN fit
               GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    QueryDef(
      "ml_binarizer",
      // cuml.preprocessing Binarizer (r7): threshold indicators for two
      // features (discount > 0.05, quantity > 25) — a stateless map pass
      // (zero fit state, the 100 TB default) audited per returnflag: the
      // indicator rates and their co-occurrence. Pure integer arithmetic
      // after two double comparisons both engines evaluate identically.
      (s, dir) => {
        T.lineitem(s, dir)
          .select(col("l_returnflag").as("rf"),
            (col("l_discount") > 0.05).cast("long").as("bd"),
            (col("l_quantity") > 25).cast("long").as("bq"))
          .groupBy("rf")
          .agg(count(lit(1)).as("n"),
            sum(col("bd")).as("n_disc"),
            sum(col("bq")).as("n_qty"),
            sum(col("bd") * col("bq")).as("n_both"))
          .selectExpr("rf", "n", "n_disc", "n_qty", "n_both",
            "round(CAST(n_disc AS DOUBLE) / n, 6) AS rate_disc",
            "round(CAST(n_qty AS DOUBLE) / n, 6) AS rate_qty")
          .orderBy("rf")
      },
      Some("""WITH b AS (SELECT l_returnflag AS rf,
                   CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS bd,
                   CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS bq
                 FROM lineitem),
                 g AS (SELECT rf, count(*) AS n,
                     CAST(sum(bd) AS BIGINT) AS n_disc,
                     CAST(sum(bq) AS BIGINT) AS n_qty,
                     CAST(sum(bd * bq) AS BIGINT) AS n_both
                   FROM b GROUP BY rf)
               SELECT rf, n, n_disc, n_qty, n_both,
                 round(CAST(n_disc AS DOUBLE) / n, 6) AS rate_disc,
                 round(CAST(n_qty AS DOUBLE) / n, 6) AS rate_qty
               FROM g ORDER BY rf""")),

    QueryDef(
      "ml_polynomial_features",
      // cuml.preprocessing PolynomialFeatures(degree=2): expand (q, d, t)
      // to the full degree-2 basis — 3 linear + 6 quadratic terms (squares
      // + pairwise interactions). A stateless map pass like ml_normalizer;
      // the registered output is a deterministic bounded page
      // (l_orderkey < 300, keyed order) rather than the whole 100 TB
      // transform — the transform itself is embarrassingly parallel and
      // the filter reaches the scan. Each term is one IEEE multiply of
      // doubles exact at 2 dp, shared text cross-engine.
      (s, dir) => {
        T.lineitem(s, dir).where(col("l_orderkey") < 300)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("double").as("q"),
            col("l_discount").cast("double").as("d"),
            col("l_tax").cast("double").as("t"))
          .selectExpr("l_orderkey", "l_linenumber", "q", "d", "t",
            "round(q * q, 6) AS q2", "round(q * d, 6) AS qd",
            "round(q * t, 6) AS qt", "round(d * d, 6) AS d2",
            "round(d * t, 6) AS dt", "round(t * t, 6) AS t2")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""WITH b AS (SELECT l_orderkey, l_linenumber,
                   CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_discount AS DOUBLE) AS d,
                   CAST(l_tax AS DOUBLE) AS t
                 FROM lineitem WHERE l_orderkey < 300)
              SELECT l_orderkey, l_linenumber, q, d, t,
                round(q * q, 6) AS q2, round(q * d, 6) AS qd,
                round(q * t, 6) AS qt, round(d * d, 6) AS d2,
                round(d * t, 6) AS dt, round(t * t, 6) AS t2
              FROM b ORDER BY l_orderkey, l_linenumber""")),

    QueryDef(
      "ml_scaler_merge",
      // The dask-cuml MNMG partial_fit→merge contract for StandardScaler
      // (the cuml.dask preprocessing shape, like ml_incremental_pca for
      // PCA): shard lineitem into 4 "workers" by l_orderkey % 4 — in dask
      // the shards ARE the collection's partitions, so a deterministic
      // key-range split is the honest model (an affine hash % 4 would
      // degenerate anyway: any multiplier ≡ 0 mod 4 collapses to one
      // shard) — reduce each shard to its (n, Σx, Σx²) sufficient moments
      // in ONE map-side-combined pass, then fold the shards through
      // Chan's pairwise merge (m ← m₁ + δ·n₂/n, M2 ← M2₁ + M2₂ +
      // δ²·n₁n₂/n) in fixed shard order. The merged mean/variance are
      // emitted NEXT TO the direct single-pass global values — the
      // merge-exactness audit a distributed partial_fit must pass.
      // Determinism: shard sums ride the bit-identical sumE12 wire; the
      // per-shard stats and the whole merge chain are shared-text IEEE
      // expressions on those bit-same doubles. Scale: the only heavy step
      // is the 4-group aggregation; the merge runs on a pivoted 1-row
      // frame (shards would be real partitions at 100 TB, the fold a
      // driver-side reduce over per-partition rows).
      (s, dir) => {
        val l = T.lineitem(s, dir).select(
          expr("l_orderkey % 4").as("shard"),
          col("l_extendedprice").cast("double").as("x"))
          .transform(T.fanOut(_))
        val sh = l.groupBy("shard").agg(
          count(lit(1)).as("cnt"),
          T.sumE12(col("x")).as("sxr"),
          T.sumE12(col("x") * col("x")).as("sxxr"))
          .selectExpr("shard", "CAST(cnt AS DOUBLE) AS cn",
            s"${T.bitsE12("sxr")} AS sx", s"${T.bitsE12("sxxr")} AS sxx")
        val pivotAggs = (0 to 3).flatMap(k => Seq(
          max(when(col("shard") === k, col("cn"))).as(s"n$k"),
          max(when(col("shard") === k, col("sx"))).as(s"s$k"),
          max(when(col("shard") === k, col("sxx"))).as(s"ss$k")))
        val piv = sh.agg(pivotAggs.head, pivotAggs.tail: _*)
        Twin.chain(piv.selectExpr(("*" +: (0 to 3).flatMap(k => Seq(
            s"s$k / n$k AS m$k", s"ss$k - s$k * s$k / n$k AS q$k"))): _*), mergeSteps)
          .selectExpr(
            ((0 to 3).map(k => s"CAST(n$k AS BIGINT) AS n_shard$k") ++ Seq(
              "CAST(nc AS BIGINT) AS n_merged",
              "round(mc, 6) AS mean_merged",
              "round(qc / nc, 6) AS var_merged",
              "round((s0 + s1 + s2 + s3) / nc, 6) AS mean_direct",
              "round(((ss0 + ss1 + ss2 + ss3) - (s0 + s1 + s2 + s3) * (s0 + s1 + s2 + s3) / nc) / nc, 6) AS var_direct")): _*)
      },
      Some {
        val (merge, fin) = Twin.ctes(mergeSteps, "st", "g")
        s"""WITH l AS (SELECT l_orderkey % 4 AS shard,
                   CAST(l_extendedprice AS DOUBLE) AS x
                 FROM lineitem),
                 sh AS (SELECT shard, CAST(count(*) AS DOUBLE) AS cn,
                     ${T.sqlSumE12("x")} AS sxr, ${T.sqlSumE12("x * x")} AS sxxr
                   FROM l GROUP BY shard),
                 shd AS (SELECT shard, cn, ${T.sqlBitsE12("sxr")} AS sx,
                     ${T.sqlBitsE12("sxxr")} AS sxx FROM sh),
                 piv AS (SELECT
                     ${(0 to 3).map(k =>
                       s"max(CASE WHEN shard = $k THEN cn END) AS n$k, " +
                       s"max(CASE WHEN shard = $k THEN sx END) AS s$k, " +
                       s"max(CASE WHEN shard = $k THEN sxx END) AS ss$k").mkString(",\n                     ")}
                   FROM shd),
                 st AS (SELECT *,
                     ${(0 to 3).map(k =>
                       s"s$k / n$k AS m$k, ss$k - s$k * s$k / n$k AS q$k").mkString(",\n                     ")}
                   FROM piv),
                 $merge
               SELECT ${(0 to 3).map(k => s"CAST(n$k AS BIGINT) AS n_shard$k").mkString(", ")},
                 CAST(nc AS BIGINT) AS n_merged,
                 round(mc, 6) AS mean_merged,
                 round(qc / nc, 6) AS var_merged,
                 round((s0 + s1 + s2 + s3) / nc, 6) AS mean_direct,
                 round(((ss0 + ss1 + ss2 + ss3) - (s0 + s1 + s2 + s3) * (s0 + s1 + s2 + s3) / nc) / nc, 6) AS var_direct
               FROM $fin"""
      }),

    QueryDef(
      "ml_power_transform",
      // PowerTransformer(method='box-cox') on l_extendedprice (strictly
      // positive): y(λ) = (x^λ − 1)/λ (ln x at λ = 0), λ chosen from the
      // candidate grid {−1, −0.5, 0, 0.5, 1} by maximum profile
      // log-likelihood LL(λ) = (λ−1)·Σln x − n/2·ln(Var[y(λ)]). The grid
      // is the distributed fit shape: lineitem × 5 broadcast λ rows → ONE
      // grouped aggregation computes every candidate's sufficient sums
      // (×5 row amplification, map-side combined — no per-λ passes).
      // Determinism: pow/ln are REAL-collapsed per row (the k_rbf
      // discipline), sums ride the exact-decimal wire, LL/mean/std are
      // shared-text IEEE on those; ln(Var) is collapsed again so the
      // engines' ulp-level Var difference cannot reach the round.
      // Output: one row per candidate λ with its LL, the argmax flag
      // (each engine compares its own LL column — consistent even under
      // ulp drift), and the transformed column's mean/std.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val lams = Seq(-1.0, -0.5, 0.0, 0.5, 1.0).toDF("lam")
        val l = T.lineitem(s, dir)
          .select(col("l_extendedprice").cast("double").as("x"))
          .transform(T.fanOut(_))
        val y = "CASE WHEN lam = 0e0 THEN CAST(CAST(ln(x) AS FLOAT) AS DOUBLE) " +
          "ELSE (CAST(CAST(pow(x, lam) AS FLOAT) AS DOUBLE) - 1e0) / lam END"
        l.crossJoin(broadcast(lams))
          .selectExpr("lam", s"$y AS y",
            "CAST(CAST(ln(x) AS FLOAT) AS DOUBLE) AS lx")
          .groupBy("lam")
          .agg(count(lit(1)).cast("double").as("nd"),
            T.xsum(col("y")).as("sy"),
            T.xsum(col("y") * col("y")).as("syy"),
            T.xsum(col("lx")).as("sl"))
          .selectExpr("lam", "nd", "sy / nd AS mu",
            "syy / nd - (sy / nd) * (sy / nd) AS vr", "sl")
          .selectExpr("lam", "nd", "mu", "vr",
            "(lam - 1e0) * sl - nd / 2 * CAST(CAST(ln(vr) AS FLOAT) AS DOUBLE) AS ll")
          .withColumn("best", max(col("ll")).over(Window.partitionBy()))
          .selectExpr("lam AS lambda", "CAST(nd AS BIGINT) AS n",
            "round(ll, 4) AS log_likelihood",
            "CASE WHEN ll = best THEN 1 ELSE 0 END AS is_best",
            "round(mu, 6) AS mean_t", "round(sqrt(vr), 6) AS std_t")
          .orderBy("lambda")
      },
      Some(s"""WITH lams(lam) AS (VALUES (-1e0), (-5e-1), (0e0), (5e-1), (1e0)),
                 l AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
                 r AS (SELECT lam,
                     CASE WHEN lam = 0e0 THEN CAST(CAST(ln(x) AS REAL) AS DOUBLE) ELSE (CAST(CAST(pow(x, lam) AS REAL) AS DOUBLE) - 1e0) / lam END AS y,
                     CAST(CAST(ln(x) AS REAL) AS DOUBLE) AS lx
                   FROM l CROSS JOIN lams),
                 m AS (SELECT lam, CAST(count(*) AS DOUBLE) AS nd,
                     ${T.sqlXsum("y")} AS sy, ${T.sqlXsum("y * y")} AS syy,
                     ${T.sqlXsum("lx")} AS sl
                   FROM r GROUP BY lam),
                 v AS (SELECT lam, nd, sy / nd AS mu,
                     syy / nd - (sy / nd) * (sy / nd) AS vr, sl FROM m),
                 f AS (SELECT lam, nd, mu, vr,
                     (lam - 1e0) * sl - nd / 2 * CAST(CAST(ln(vr) AS REAL) AS DOUBLE) AS ll
                   FROM v),
                 w AS (SELECT *, max(ll) OVER () AS best FROM f)
               SELECT lam AS lambda, CAST(nd AS BIGINT) AS n,
                 round(ll, 4) AS log_likelihood,
                 CASE WHEN ll = best THEN 1 ELSE 0 END AS is_best,
                 round(mu, 6) AS mean_t, round(sqrt(vr), 6) AS std_t
               FROM w ORDER BY lambda""")),

    QueryDef(
      "ml_missing_indicator",
      // MissingIndicator over a two-feature frame with constructed
      // missingness (the ml_simple_imputer fixture discipline): f_value =
      // events.value on purchase events only, f_propk = the props JSON
      // 'k' field on click events only. Fit+transform summary in ONE
      // aggregation pass: per feature the row count, missing count, and
      // missing rate — the indicator matrix's column sums (the
      // transformer's features_ are exactly the rows with n_missing > 0).
      // Counts are exact integers; the rate is one shared-text division.
      (s, dir) => {
        val ev = T.events(s, dir).selectExpr(
          "CASE WHEN event_type = 'purchase' THEN value END AS f_value",
          "CASE WHEN event_type = 'click' THEN CAST(get_json_object(props, '$.k') AS DOUBLE) END AS f_propk")
        ev.agg(count(lit(1)).as("n"),
            sum(when(col("f_value").isNull, 1L).otherwise(0L)).as("m1"),
            sum(when(col("f_propk").isNull, 1L).otherwise(0L)).as("m2"))
          .selectExpr("stack(2, 'f_value', n, m1, 'f_propk', n, m2) AS (feature, n, n_missing)")
          .selectExpr("feature", "n", "n_missing",
            "round(CAST(n_missing AS DOUBLE) / n, 6) AS missing_rate")
          .orderBy("feature")
      },
      Some(s"""WITH ev AS (SELECT
                   CASE WHEN event_type = 'purchase' THEN value END AS f_value,
                   CASE WHEN event_type = 'click' THEN CAST(json_extract(props, '$$.k') AS DOUBLE) END AS f_propk
                 FROM events),
                 m AS (SELECT count(*) AS n,
                     CAST(sum(CASE WHEN f_value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS m1,
                     CAST(sum(CASE WHEN f_propk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS m2
                   FROM ev)
               SELECT feature, n, n_missing,
                 round(CAST(n_missing AS DOUBLE) / n, 6) AS missing_rate
               FROM (SELECT 'f_value' AS feature, n, m1 AS n_missing FROM m
                     UNION ALL
                     SELECT 'f_propk' AS feature, n, m2 AS n_missing FROM m) u
               ORDER BY feature""")),

    QueryDef(
      "ml_kernel_centerer",
      // KernelCenterer: center the RBF kernel matrix in feature space —
      // k_c(i,j) = k(i,j) − rowmean_i − rowmean_j + grandmean (the kernel
      // matrix is symmetric, so column means ARE row means) — over the
      // bounded vec_id < 10 sample, diagonal included (centering needs
      // the FULL matrix, unlike ml_pairwise_kernels' upper triangle).
      // Kernel entries are REAL-collapsed; means ride the exact-decimal
      // wire; k_c is one shared-text expression. The audit: each centered
      // row sums to 0 — the window sum is order-dependent float noise at
      // ~1e−15, so round(…, 6) + 0 canonicalizes the sign of zero (the
      // cdSteps −0.0 lesson). Output: the 55 upper-triangle entries with
      // raw and centered values plus the row-sum audit.
      (s, dir) => {
        val e = T.embeddings(s, dir).where(col("vec_id") < 10)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("q_emb"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("n_emb"))
        val d = graft.functions.Vec.l2(s, "q_emb", "n_emb")
        val km = a.crossJoin(broadcast(b))
          .select(col("id_a"), col("id_b"), d.as("dd"))
          .selectExpr("id_a", "id_b",
            "CAST(CAST(exp(-(dd * dd)) AS FLOAT) AS DOUBLE) AS k")
        val rm = km.groupBy("id_a").agg((T.xsum(col("k")) / count(lit(1))).as("rm"))
        val rma = rm.select(col("id_a"), col("rm").as("rma"))
        val rmb = rm.select(col("id_a").as("id_b"), col("rm").as("rmb"))
        val gm = km.agg((T.xsum(col("k")) / count(lit(1))).as("gm"))
        km.join(broadcast(rma), "id_a").join(broadcast(rmb), "id_b")
          .crossJoin(broadcast(gm))
          .selectExpr("id_a", "id_b", "k", "k - rma - rmb + gm AS kc")
          .withColumn("rs", sum(col("kc")).over(Window.partitionBy("id_a")))
          .where(col("id_a") <= col("id_b"))
          .selectExpr("id_a", "id_b", "round(k, 6) AS k_rbf",
            "round(kc, 6) AS k_centered", "round(rs, 6) + 0 AS row_sum")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings WHERE vec_id < 10),
                 km AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     CAST(CAST(exp(-(list_distance(a.emb, b.emb) * list_distance(a.emb, b.emb))) AS REAL) AS DOUBLE) AS k
                   FROM e a CROSS JOIN e b),
                 rm AS (SELECT id_a AS id, ${T.sqlXsum("k")} / count(*) AS rm
                        FROM km GROUP BY id_a),
                 gm AS (SELECT ${T.sqlXsum("k")} / count(*) AS gm FROM km),
                 c AS (SELECT id_a, id_b, k, k - r1.rm - r2.rm + gm AS kc
                   FROM km JOIN rm r1 ON km.id_a = r1.id
                           JOIN rm r2 ON km.id_b = r2.id
                           CROSS JOIN gm),
                 w AS (SELECT *, sum(kc) OVER (PARTITION BY id_a) AS rs FROM c)
               SELECT id_a, id_b, round(k, 6) AS k_rbf,
                 round(kc, 6) AS k_centered, round(rs, 6) + 0 AS row_sum
               FROM w WHERE id_a <= id_b ORDER BY id_a, id_b""")),

    QueryDef(
      "ml_ordinal_encode",
      // OrdinalEncoder over the two document categoricals (lang, source):
      // fit = the sorted unique category list per feature, codes 0..k−1
      // by lexicographic order (the sklearn/cuml contract); emitted as
      // the fitted categories_ mapping plus each category's support.
      // Scale: one map-side-combined count per (feature, category) —
      // cardinality-bounded output; the dense_rank window runs on the
      // ≤|categories| aggregated rows, never the raw table.
      (s, dir) => {
        val d = T.documents(s, dir)
        val cats = d.selectExpr("'lang' AS feature", "lang AS category")
          .unionAll(d.selectExpr("'source' AS feature", "source AS category"))
          .groupBy("feature", "category").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("feature").orderBy("category")
        cats.withColumn("code", (dense_rank().over(w) - 1).cast("long"))
          .select(col("feature"), col("category"), col("code"), col("n"))
          .orderBy("feature", "code")
      },
      Some("""WITH c AS (SELECT 'lang' AS feature, lang AS category, count(*) AS n
                         FROM documents GROUP BY lang
                         UNION ALL
                         SELECT 'source' AS feature, source AS category, count(*) AS n
                         FROM documents GROUP BY source)
              SELECT feature, category,
                dense_rank() OVER (PARTITION BY feature ORDER BY category) - 1 AS code,
                n
              FROM c ORDER BY feature, code""")),

    QueryDef(
      "ml_pipeline_compose",
      // The sklearn/cuml Pipeline composition contract [R] — the estimator
      // chain a user actually ships: SimpleImputer(mean) →
      // StandardScaler → LinearRegression, fit end-to-end as ONE
      // dataflow. The distributed shape: each stage's fit is one bounded
      // aggregation whose one-row result broadcasts into the next stage's
      // expressions — 3 sequential passes for 3 stages (a Pipeline.fit
      // can't do better: stage k's parameters define stage k+1's inputs),
      // every pass map-side combined, parameters never larger than a few
      // doubles (the cuML client-held-model shape). Missingness is a
      // deterministic constructed mask (hash % 10 = 0 → NULL, ~10% — the
      // fixture has no native NULLs; multipliers 40692/3791, a fourth
      // disjoint hash family). Output: every fitted parameter of every
      // stage + the train RMSE via the SSE moment identity — the full
      // pipeline state a Pipeline.get_params() exposes.
      (s, dir) => {
        val l = T.lineitem(s, dir).selectExpr(
          "CASE WHEN (40692 * l_orderkey + 3791 * l_linenumber) % " + s"${T.HASH_P} % 10 = 0 THEN NULL ELSE CAST(l_quantity AS DOUBLE) END AS x",
          "CAST(l_extendedprice AS DOUBLE) AS y")
          .transform(T.fanOut(_))
        // stage 1: imputer fit (mean over observed) + missing rate
        val imp = l.agg(count(lit(1)).as("n"), count(col("x")).as("n_obs"),
          (T.xsum(col("x")) / count(col("x"))).as("mu_imp"))
        // stage 2: scaler fit over the imputed column
        val sc = l.crossJoin(broadcast(imp))
          .selectExpr("coalesce(x, mu_imp) AS x1", "y", "n", "n_obs", "mu_imp")
          .agg(first(col("n")).as("n"), first(col("n_obs")).as("n_obs"),
            first(col("mu_imp")).as("mu_imp"),
            (T.xsum(col("x1")) / first(col("n"))).as("m1"),
            sqrt(T.xsum(col("x1") * col("x1")) / first(col("n"))
              - (T.xsum(col("x1")) / first(col("n"))) * (T.xsum(col("x1")) / first(col("n")))).as("s1"))
        // stage 3: regressor fit on the standardized column
        l.crossJoin(broadcast(sc))
          .selectExpr("(coalesce(x, mu_imp) - m1) / s1 AS z", "y",
            "n", "n_obs", "mu_imp", "m1", "s1")
          .agg(first(col("n")).as("n"), first(col("n_obs")).as("n_obs"),
            first(col("mu_imp")).as("mu_imp"), first(col("m1")).as("m1"),
            first(col("s1")).as("s1"),
            T.xsum(col("z")).as("sz"), T.xsum(col("y")).as("sy"),
            T.xsum(col("z") * col("z")).as("szz"),
            T.xsum(col("z") * col("y")).as("szy"),
            T.xsum(col("y") * col("y")).as("syy"))
          .selectExpr("CAST(n AS DOUBLE) AS nd", "n", "n_obs", "mu_imp", "m1", "s1",
            "sz", "sy", "szz", "szy", "syy")
          .selectExpr("*",
            "(nd * szy - sz * sy) / (nd * szz - sz * sz) AS slope")
          .selectExpr("*", "(sy - slope * sz) / nd AS icept")
          .selectExpr(
            "round(1.0 - CAST(n_obs AS DOUBLE) / nd, 6) AS missing_rate",
            "round(mu_imp, 6) AS impute_mean",
            "round(m1, 6) AS scale_mean", "round(s1, 6) AS scale_std",
            "round(slope, 6) AS slope", "round(icept, 6) AS intercept",
            "round(sqrt((syy + nd * icept * icept + slope * slope * szz - 2 * icept * sy - 2 * slope * szy + 2 * icept * slope * sz) / nd), 6) AS rmse_train")
      },
      Some(s"""WITH l AS (SELECT
                   CASE WHEN (40692 * l_orderkey + 3791 * l_linenumber) % ${T.HASH_P} % 10 = 0
                        THEN NULL ELSE CAST(l_quantity AS DOUBLE) END AS x,
                   CAST(l_extendedprice AS DOUBLE) AS y
                 FROM lineitem),
                 imp AS (SELECT count(*) AS n, count(x) AS n_obs,
                     ${T.sqlXsum("x")} / count(x) AS mu_imp
                   FROM l),
                 sc AS (SELECT any_value(n) AS n, any_value(n_obs) AS n_obs,
                     any_value(mu_imp) AS mu_imp,
                     ${T.sqlXsum("coalesce(x, mu_imp)")} / any_value(n) AS m1,
                     sqrt(${T.sqlXsum("coalesce(x, mu_imp) * coalesce(x, mu_imp)")} / any_value(n)
                       - (${T.sqlXsum("coalesce(x, mu_imp)")} / any_value(n)) * (${T.sqlXsum("coalesce(x, mu_imp)")} / any_value(n))) AS s1
                   FROM l CROSS JOIN imp),
                 r0 AS (SELECT any_value(n) AS n, any_value(n_obs) AS n_obs,
                     any_value(mu_imp) AS mu_imp, any_value(m1) AS m1,
                     any_value(s1) AS s1,
                     ${T.sqlXsum("(coalesce(x, mu_imp) - m1) / s1")} AS sz,
                     ${T.sqlXsum("y")} AS sy,
                     ${T.sqlXsum("((coalesce(x, mu_imp) - m1) / s1) * ((coalesce(x, mu_imp) - m1) / s1)")} AS szz,
                     ${T.sqlXsum("((coalesce(x, mu_imp) - m1) / s1) * y")} AS szy,
                     ${T.sqlXsum("y * y")} AS syy
                   FROM l CROSS JOIN sc),
                 r1 AS (SELECT *, CAST(n AS DOUBLE) AS nd FROM r0),
                 r2 AS (SELECT *,
                     (nd * szy - sz * sy) / (nd * szz - sz * sz) AS slope FROM r1),
                 r3 AS (SELECT *, (sy - slope * sz) / nd AS icept FROM r2)
               SELECT round(1.0 - CAST(n_obs AS DOUBLE) / nd, 6) AS missing_rate,
                 round(mu_imp, 6) AS impute_mean,
                 round(m1, 6) AS scale_mean, round(s1, 6) AS scale_std,
                 round(slope, 6) AS slope, round(icept, 6) AS intercept,
                 round(sqrt((syy + nd * icept * icept + slope * slope * szz - 2 * icept * sy - 2 * slope * szy + 2 * icept * slope * sz) / nd), 6) AS rmse_train
               FROM r3""")),

    QueryDef(
      "ml_select_kbest",
      // SelectKBest(f_regression, k=2) — univariate feature selection, the
      // screening pass a wide-feature pipeline runs before paying for a
      // full fit: per-feature F = r²(n−2)/(1−r²) from the SAME single
      // moment pass (11 sums: y's moments shared across features, one
      // (Σx, Σx², Σxy) block per feature — adding features adds 3 sums,
      // never a pass). The 3-row score frame unpivots in-plan; rank is a
      // window over it (bounded by the FEATURE count, not data). Output:
      // feature, F, rank, and the k=2 selection flag. r² and F are
      // shared-text doubles off the exact decimal wire.
      (s, dir) => {
        val rw = Window.orderBy(col("f_stat").desc, col("feature"))
        T.lineitem(s, dir).select(
          col("l_quantity").cast("double").as("x1"),
          col("l_discount").cast("double").as("x2"),
          col("l_tax").cast("double").as("x3"),
          col("l_extendedprice").cast("double").as("y"))
          .transform(T.fanOut(_))
          .agg(count(lit(1)).cast("double").as("nd"),
            T.xsum(col("y")).as("sy"), T.xsum(col("y") * col("y")).as("syy"),
            T.xsum(col("x1")).as("s1"), T.xsum(col("x1") * col("x1")).as("s11"),
            T.xsum(col("x1") * col("y")).as("s1y"),
            T.xsum(col("x2")).as("s2"), T.xsum(col("x2") * col("x2")).as("s22"),
            T.xsum(col("x2") * col("y")).as("s2y"),
            T.xsum(col("x3")).as("s3"), T.xsum(col("x3") * col("x3")).as("s33"),
            T.xsum(col("x3") * col("y")).as("s3y"))
          .selectExpr("nd", "sy", "syy",
            "stack(3, 'quantity', s1, s11, s1y, 'discount', s2, s22, s2y, 'tax', s3, s33, s3y) AS (feature, sx, sxx, sxy)")
          .selectExpr("feature", "nd",
            "((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) AS r2")
          .selectExpr("feature", "r2 * (nd - 2) / (1e0 - r2) AS f_stat")
          .select(col("feature"), round(col("f_stat"), 4).as("f_stat"),
            row_number().over(rw).as("rank"))
          .selectExpr("feature", "f_stat", "rank",
            "CASE WHEN rank <= 2 THEN 1 ELSE 0 END AS selected")
          .orderBy("rank")
      },
      Some(s"""WITH l AS (SELECT CAST(l_quantity AS DOUBLE) AS x1,
                   CAST(l_discount AS DOUBLE) AS x2,
                   CAST(l_tax AS DOUBLE) AS x3,
                   CAST(l_extendedprice AS DOUBLE) AS y
                 FROM lineitem),
                 m AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                     ${T.sqlXsum("y")} AS sy, ${T.sqlXsum("y * y")} AS syy,
                     ${T.sqlXsum("x1")} AS s1, ${T.sqlXsum("x1 * x1")} AS s11,
                     ${T.sqlXsum("x1 * y")} AS s1y,
                     ${T.sqlXsum("x2")} AS s2, ${T.sqlXsum("x2 * x2")} AS s22,
                     ${T.sqlXsum("x2 * y")} AS s2y,
                     ${T.sqlXsum("x3")} AS s3, ${T.sqlXsum("x3 * x3")} AS s33,
                     ${T.sqlXsum("x3 * y")} AS s3y
                   FROM l),
                 u AS (SELECT nd, sy, syy, 'quantity' AS feature, s1 AS sx, s11 AS sxx, s1y AS sxy FROM m
                       UNION ALL SELECT nd, sy, syy, 'discount', s2, s22, s2y FROM m
                       UNION ALL SELECT nd, sy, syy, 'tax', s3, s33, s3y FROM m),
                 r AS (SELECT feature, nd,
                     ((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)) AS r2
                   FROM u),
                 f AS (SELECT feature, r2 * (nd - 2) / (1e0 - r2) AS f_stat FROM r),
                 rk AS (SELECT feature, round(f_stat, 4) AS f_stat,
                     row_number() OVER (ORDER BY f_stat DESC, feature) AS rank
                   FROM f)
               SELECT feature, f_stat, rank,
                 CASE WHEN rank <= 2 THEN 1 ELSE 0 END AS selected
               FROM rk ORDER BY rank""")),

    QueryDef(
      "ml_vector_scaler",
      // Feature-wise StandardScaler over the EMBEDDING column — the
      // vector sibling of ml_standard_scaler, the normalization an
      // embedding pipeline applies before indexing/clustering: per-DIM
      // mean and sample std from one posexplode + groupBy(dim) pass
      // (64 bounded keys, map-side combined — the explode never shuffles
      // more than (vec_id, i, x) triples and at 100 TB the dim key keeps
      // every partial tiny). Output: the 64-row fitted scaler state plus
      // a z-range audit (the min/max standardized value per dim, off the
      // same pass via the moment identities). Exact decimal sums; std
      // and z bounds are shared-text doubles.
      (s, dir) => {
        T.embeddings(s, dir)
          .transform(T.fanOut(_, col("vec_id")))
          .select(posexplode(col("embedding")))
          .selectExpr("CAST(pos + 1 AS BIGINT) AS dim", "CAST(col AS DOUBLE) AS x")
          .groupBy("dim")
          .agg(count(lit(1)).as("n"),
            T.xsum(col("x")).as("sx"),
            T.xsum(col("x") * col("x")).as("sxx"),
            min(col("x")).as("mn"), max(col("x")).as("mx"))
          .selectExpr("dim", "n", "sx / n AS mean",
            "sqrt((sxx - sx * sx / n) / (n - 1)) AS std", "mn", "mx")
          .selectExpr("dim", "n", "round(mean, 6) AS mean",
            "round(std, 6) AS std",
            "round((mn - mean) / std, 6) AS z_min",
            "round((mx - mean) / std, 6) AS z_max")
          .orderBy("dim")
      },
      Some(s"""WITH ex AS (SELECT
                   generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS dim,
                   unnest(CAST(embedding AS DOUBLE[])) AS x
                 FROM embeddings),
                 m AS (SELECT dim, count(*) AS n,
                     ${T.sqlXsum("x")} AS sx, ${T.sqlXsum("x * x")} AS sxx,
                     min(x) AS mn, max(x) AS mx
                   FROM ex GROUP BY dim),
                 f AS (SELECT dim, n, sx / n AS mean,
                     sqrt((sxx - sx * sx / n) / (n - 1)) AS std, mn, mx
                   FROM m)
               SELECT CAST(dim AS BIGINT) AS dim, n, round(mean, 6) AS mean,
                 round(std, 6) AS std,
                 round((mn - mean) / std, 6) AS z_min,
                 round((mx - mean) / std, 6) AS z_max
               FROM f ORDER BY dim""")),

    QueryDef(
      "ml_variance_threshold",
      // sklearn/cuML VarianceThreshold over the 4 lineitem features — the
      // zeroth feature-selection pass of every tabular pipeline: population
      // variance per feature from ONE moment pass (Σx, Σx² on the exact
      // wire), keep features with var > 1.0 (quantity and extendedprice
      // survive; the 0–0.1-range discount/tax rates don't). Output: the
      // full fitted state (feature, variance, selected flag) — what a
      // transform would broadcast.
      (s, dir) => {
        T.lineitem(s, dir)
          .select(col("l_quantity").cast("double").as("q"),
            col("l_extendedprice").cast("double").as("p"),
            col("l_discount").cast("double").as("dc"),
            col("l_tax").cast("double").as("tx"))
          .transform(T.fanOut(_))
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("q")).as("sq"), T.xsum(col("q") * col("q")).as("sqq"),
            T.xsum(col("p")).as("sp"), T.xsum(col("p") * col("p")).as("spp"),
            T.xsum(col("dc")).as("sd"), T.xsum(col("dc") * col("dc")).as("sdd"),
            T.xsum(col("tx")).as("st"), T.xsum(col("tx") * col("tx")).as("stt"))
          .selectExpr("stack(4, " +
            "'quantity', sqq / n - (sq / n) * (sq / n), " +
            "'extendedprice', spp / n - (sp / n) * (sp / n), " +
            "'discount', sdd / n - (sd / n) * (sd / n), " +
            "'tax', stt / n - (st / n) * (st / n)) AS (feature, variance)")
          .selectExpr("feature", "round(variance, 6) AS variance",
            "CAST(CASE WHEN variance > 1e0 THEN 1 ELSE 0 END AS INT) AS selected")
          .orderBy("feature")
      },
      Some(s"""WITH l AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
                   CAST(l_extendedprice AS DOUBLE) AS p,
                   CAST(l_discount AS DOUBLE) AS dc,
                   CAST(l_tax AS DOUBLE) AS tx
                 FROM lineitem),
               m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   ${T.sqlXsum("q")} AS sq, ${T.sqlXsum("q * q")} AS sqq,
                   ${T.sqlXsum("p")} AS sp, ${T.sqlXsum("p * p")} AS spp,
                   ${T.sqlXsum("dc")} AS sd, ${T.sqlXsum("dc * dc")} AS sdd,
                   ${T.sqlXsum("tx")} AS st, ${T.sqlXsum("tx * tx")} AS stt
                 FROM l),
               v AS (SELECT 'quantity' AS feature,
                     sqq / n - (sq / n) * (sq / n) AS variance FROM m
                 UNION ALL SELECT 'extendedprice',
                     spp / n - (sp / n) * (sp / n) FROM m
                 UNION ALL SELECT 'discount',
                     sdd / n - (sd / n) * (sd / n) FROM m
                 UNION ALL SELECT 'tax',
                     stt / n - (st / n) * (st / n) FROM m)
               SELECT feature, round(variance, 6) AS variance,
                 CAST(CASE WHEN variance > 1e0 THEN 1 ELSE 0 END AS INT) AS selected
               FROM v ORDER BY feature""")),

    QueryDef(
      "ml_ledoit_wolf",
      // Ledoit–Wolf shrinkage covariance (Ledoit & Wolf 2004 — sklearn
      // covariance.ledoit_wolf) over the pre-scaled 4-feature lineitem
      // matrix: Σ* = ρ·μI + (1−ρ)·S with ρ = min(b̄², d²)/d², the
      // closed-form optimal blend toward the scaled identity. Everything
      // reduces to TWO moment passes — means, then for each of the 10
      // (j ≤ k) pairs Σ(x_j x_k) and Σ(x_j x_k)² over CENTERED features —
      // because d² = ΣS² − d·μ² and b̄² = (Σ_jk R_jk/n − ΣS²)/n need no
      // per-sample state beyond those sums. Features carry fixed
      // power-of-ten pre-scales (quantity×0.1, price×1e-4; documented in
      // the labels' units) so the 4th-order products stay inside the
      // exact wire's 18 integer digits at any SF. Output: the long-form
      // (f1, f2) covariance table with sample + shrunk entries and the
      // fitted shrinkage.
      (s, dir) => {
        val means = T.lineitemFit(s, dir)
          .select(lwScaled: _*)
          .agg(count(lit(1)).cast("double").as("n"),
            T.xsum(col("q")).as("zq"), T.xsum(col("p")).as("zp"),
            T.xsum(col("dc")).as("zd"), T.xsum(col("tx")).as("zt"))
          .selectExpr("n", "zq / n AS mq", "zp / n AS mp",
            "zd / n AS md", "zt / n AS mt")
        val aggs = count(lit(1)).cast("double").as("n") +: lwPairs.flatMap {
          case (a, b) => Seq(
            T.xsum(col(s"x$a") * col(s"x$b")).as(s"s_$a$b"),
            T.xsum((col(s"x$a") * col(s"x$b")) * (col(s"x$a") * col(s"x$b")))
              .as(s"r_$a$b"))
        }
        val carry = Seq("n") ++ lwPairs.map { case (a, b) => s"r_$a$b" }
        val stackArgs = lwPairs.map { case (a, b) =>
          s"'${lwLabel(a)}', '${lwLabel(b)}', c_$a$b, sh_$a$b" }.mkString(", ")
        T.lineitemFit(s, dir).select(lwScaled: _*)
          .crossJoin(broadcast(means))
          .selectExpr("q - mq AS xq", "p - mp AS xp",
            "dc - md AS xdc", "tx - mt AS xtx")
          .agg(aggs.head, aggs.tail: _*)
          .selectExpr(carry ++ lwPairs.map { case (a, b) =>
            s"s_$a$b / n AS c_$a$b" }: _*)
          .selectExpr("*", s"($lwTr) / 4e0 AS mu", s"$lwSumS2 AS sums2",
            s"$lwRfull AS rfull")
          .selectExpr("*", "sums2 - 4e0 * mu * mu AS d2",
            "(rfull / n - sums2) / n AS bbar2")
          .selectExpr("*", "least(bbar2, d2) / d2 AS shrink")
          .selectExpr(("*" +: lwShrunk): _*)
          .selectExpr("round(shrink, 6) AS shrinkage", "round(mu, 8) AS mu_target",
            s"stack(${lwPairs.size}, $stackArgs) AS (f1, f2, sample_cov, shrunk_cov)")
          .selectExpr("f1", "f2", "round(sample_cov, 8) AS sample_cov",
            "round(shrunk_cov, 8) AS shrunk_cov", "shrinkage", "mu_target")
          .orderBy("f1", "f2")
      },
      Some {
        val sqlAggs = lwPairs.map { case (a, b) =>
          s"${T.sqlXsum(s"x$a * x$b")} AS s_$a$b, " +
            s"${T.sqlXsum(s"(x$a * x$b) * (x$a * x$b)")} AS r_$a$b"
        }.mkString(",\n                   ")
        val sqlC = lwPairs.map { case (a, b) => s"s_$a$b / n AS c_$a$b" }
          .mkString(", ")
        val sqlCarry = ("n" +: lwPairs.map { case (a, b) => s"r_$a$b" })
          .mkString(", ")
        val sqlSh = lwPairs.map { case (a, b) =>
          val base = s"(1e0 - shrink) * c_$a$b"
          s"${if (a == b) s"$base + shrink * mu" else base} AS sh_$a$b"
        }.mkString(", ")
        val arms = lwPairs.map { case (a, b) =>
          s"SELECT '${lwLabel(a)}' AS f1, '${lwLabel(b)}' AS f2, c_$a$b AS sample_cov, sh_$a$b AS shrunk_cov, shrink, mu FROM sh"
        }.mkString("\n                 UNION ALL ")
        s"""WITH l AS (SELECT $lwSqlScaled FROM lineitem),
               m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   ${T.sqlXsum("q")} AS zq, ${T.sqlXsum("p")} AS zp,
                   ${T.sqlXsum("dc")} AS zd, ${T.sqlXsum("tx")} AS zt
                 FROM l),
               mm AS (SELECT n, zq / n AS mq, zp / n AS mp,
                   zd / n AS md, zt / n AS mt FROM m),
               x AS (SELECT q - mq AS xq, p - mp AS xp,
                   dc - md AS xdc, tx - mt AS xtx
                 FROM l CROSS JOIN mm),
               p AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                   $sqlAggs
                 FROM x),
               c AS (SELECT $sqlCarry, $sqlC FROM p),
               g AS (SELECT *, ($lwTr) / 4e0 AS mu, $lwSumS2 AS sums2,
                   $lwRfull AS rfull FROM c),
               dd AS (SELECT *, sums2 - 4e0 * mu * mu AS d2,
                   (rfull / n - sums2) / n AS bbar2 FROM g),
               sk AS (SELECT *, least(bbar2, d2) / d2 AS shrink FROM dd),
               sh AS (SELECT *, $sqlSh FROM sk),
               u AS ($arms)
             SELECT f1, f2, round(sample_cov, 8) AS sample_cov,
               round(shrunk_cov, 8) AS shrunk_cov,
               round(shrink, 6) AS shrinkage, round(mu, 8) AS mu_target
             FROM u ORDER BY f1, f2"""
      }),

    QueryDef(
      "ml_hash_encoder",
      // sklearn/cuML FeatureHasher for a high-cardinality CATEGORICAL
      // (l_partkey → 64 buckets via the 733007/100003 affine family —
      // disjoint from every other registered family): the encoding that
      // needs NO fitted vocabulary, the only categorical encoder whose
      // state is O(1) at 100 TB (ml_onehot/ml_target_encode ship a
      // category table; this ships a formula). The query is the audit a
      // user runs before trusting it: per-bucket category and row loads
      // plus the χ² uniformity statistic across buckets (the collision
      // cost is bounded by the max bucket). One map-side-combined pass;
      // the χ² is a 64-row window reduction on exact integers.
      (s, dir) => {
        val w = Window.partitionBy()
        T.lineitem(s, dir)
          .select(((lit(733007L) * col("l_partkey") + lit(100003L))
            % lit(T.HASH_P) % 64).as("bucket"), col("l_partkey"))
          .groupBy("bucket")
          .agg(countDistinct(col("l_partkey")).as("n_categories"),
            count(lit(1)).as("n_rows"))
          .withColumn("tc", sum(col("n_categories")).over(w))
          .selectExpr("bucket", "n_categories", "n_rows",
            "CAST(n_categories AS DOUBLE) - CAST(tc AS DOUBLE) / 64e0 AS dev",
            "CAST(tc AS DOUBLE) / 64e0 AS e")
          .withColumn("chi2",
            T.xsumD(expr("dev * dev / e")).over(w).cast("double"))
          .selectExpr("bucket", "n_categories", "n_rows",
            "round(chi2, 4) AS chi2_uniformity")
          .orderBy("bucket")
      },
      Some(s"""WITH b AS (SELECT
                   (733007 * l_partkey + 100003) % ${T.HASH_P} % 64 AS bucket,
                   l_partkey
                 FROM lineitem),
               g AS (SELECT bucket, count(DISTINCT l_partkey) AS n_categories,
                   count(*) AS n_rows
                 FROM b GROUP BY bucket),
               t AS (SELECT bucket, n_categories, n_rows,
                   CAST(n_categories AS DOUBLE)
                     - CAST(sum(n_categories) OVER () AS DOUBLE) / 64e0 AS dev,
                   CAST(sum(n_categories) OVER () AS DOUBLE) / 64e0 AS e
                 FROM g)
               SELECT bucket, n_categories, n_rows,
                 round(CAST(sum(CAST(dev * dev / e AS DECIMAL(30,12))) OVER () AS DOUBLE), 4) AS chi2_uniformity
               FROM t ORDER BY bucket"""))
  )

  /** Ledoit–Wolf feature set: fixed power-of-ten pre-scales keep the
    * 4th-order moment products inside DECIMAL(30,12)'s integer digits
    * (price⁴ raw would be ~1e20/row). The scale factors are exact binary
    * operations on both engines (×0.1/×1e-4 round identically). */
  private def lwScaled = Seq(
    (col("l_quantity").cast("double") * lit(0.1)).as("q"),
    (col("l_extendedprice").cast("double") * lit(1.0e-4)).as("p"),
    col("l_discount").cast("double").as("dc"),
    col("l_tax").cast("double").as("tx"))
  private lazy val lwSqlScaled =
    """CAST(l_quantity AS DOUBLE) * 0.1 AS q,
       CAST(l_extendedprice AS DOUBLE) * 0.0001 AS p,
       CAST(l_discount AS DOUBLE) AS dc,
       CAST(l_tax AS DOUBLE) AS tx"""
  private lazy val lwFeats = Seq("q", "p", "dc", "tx")
  private lazy val lwLabel = Map("q" -> "quantity_e-1", "p" -> "extendedprice_e-4",
    "dc" -> "discount", "tx" -> "tax")
  private lazy val lwPairs: Seq[(String, String)] =
    for { i <- lwFeats.indices; j <- i until lwFeats.size }
      yield (lwFeats(i), lwFeats(j))
  private lazy val lwDiagK = lwFeats.map(f => s"$f$f")
  private lazy val lwOffK = lwPairs.collect { case (a, b) if a != b => s"$a$b" }
  private lazy val lwTr = lwDiagK.map(p => s"c_$p").mkString(" + ")
  private lazy val lwSumS2 = lwDiagK.map(p => s"c_$p * c_$p").mkString(" + ") +
    " + 2e0 * (" + lwOffK.map(p => s"c_$p * c_$p").mkString(" + ") + ")"
  private lazy val lwRfull = lwDiagK.map(p => s"r_$p").mkString(" + ") +
    " + 2e0 * (" + lwOffK.map(p => s"r_$p").mkString(" + ") + ")"
  private lazy val lwShrunk: Seq[String] = lwPairs.map { case (a, b) =>
    val base = s"(1e0 - shrink) * c_$a$b"
    s"${if (a == b) s"$base + shrink * mu" else base} AS sh_$a$b"
  }

  /** Chan's pairwise merge of (n, mean, M2), folded shard 0→3 in fixed
    * order — shared verbatim by the Spark selectExpr chain and the oracle
    * CTE chain (each step one new column, referencing prior steps). */
  private lazy val mergeSteps: Seq[(String, String)] = Seq(
    "na" -> "n0 + n1", "da" -> "m1 - m0",
    "ma" -> "m0 + da * n1 / na",
    "qa" -> "q0 + q1 + da * da * n0 * n1 / na",
    "nb" -> "na + n2", "db" -> "m2 - ma",
    "mb" -> "ma + db * n2 / nb",
    "qb" -> "qa + q2 + db * db * na * n2 / nb",
    "nc" -> "nb + n3", "dc" -> "m3 - mb",
    "mc" -> "mb + dc * n3 / nc",
    "qc" -> "qb + q3 + dc * dc * nb * n3 / nc")
}
