package graft.ops

import graft.{QueryDef, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregations and window functions (SURVEY.md §2.4–2.5). Group-bys run as
  * partial (map-side) + final HashAggregate — the partial/final split is the
  * same structure as the reference's per-GPU partial Gram matrices merged on
  * one node (dask-cuml LinearRegression MG path). Exact decimal sums per
  * §7.3 so results hash-match DuckDB regardless of partitioning.
  */
object Aggregates {

  /** The shared rank-decomposition scaffold of win_ntile_cume and
    * agg_approx_quantile: orders rows tagged with a price-range bucket
    * (bkt = ⌊o_totalprice/1000⌋), plus the per-(status, bkt) counts `c`,
    * cumulative offsets `off` (rows in strictly lower buckets of the same
    * status), and per-status totals `n`. Correctness hinges on one
    * invariant kept in one place: the bucket key is MONOTONE in the
    * window order key (price, orderkey), so
    * global rank = off + rank-within-bucket. The offset windows run over
    * the tiny counts table, never the data.
    */
  private def priceRankBuckets(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = T.orders(s, dir)
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("bkt", floor(col("o_totalprice") / 1000).cast("long"))
    val cnt = o.groupBy("o_orderstatus", "bkt").agg(count(lit(1)).as("c"))
    val wOff = Window.partitionBy("o_orderstatus").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy("o_orderstatus")
    val off = cnt.select(col("o_orderstatus"), col("bkt"), col("c"),
      coalesce(sum(col("c")).over(wOff), lit(0L)).as("off"),
      sum(col("c")).over(wTot).as("n"))
    (o, off)
  }

  val entries: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------ §2.4 aggs
    QueryDef(
      "agg_hash_groupby",
      // TPC-H Q1 pricing summary — the flagship query (SparkEntry.entry).
      (s, dir) => T.lineitem(s, dir)
        .where(expr("l_shipdate <= TIMESTAMP_NTZ '1998-09-01 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          T.dsum(col("l_quantity")).as("sum_qty"),
          T.dsum(col("l_extendedprice")).as("sum_base_price"),
          T.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          T.davg(col("l_quantity")).as("avg_qty"),
          T.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
                 ${T.sqlDsum("l_quantity")} AS sum_qty,
                 ${T.sqlDsum("l_extendedprice")} AS sum_base_price,
                 ${T.sqlDsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
                 ${T.sqlDavg("l_quantity")} AS avg_qty,
                 ${T.sqlDavg("l_discount")} AS avg_disc,
                 count(*) AS count_order
               FROM lineitem
               WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
               GROUP BY l_returnflag, l_linestatus
               ORDER BY l_returnflag, l_linestatus""")),

    QueryDef(
      "agg_distinct_count",
      // count(DISTINCT) expands to a 2-phase aggregate; joined through
      // customer so the distinct runs over a shuffled join output.
      (s, dir) => {
        val o = T.orders(s, dir); val c = T.customer(s, dir)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(c("c_mktsegment"))
          .agg(countDistinct(o("o_custkey")).as("n_cust"), count(lit(1)).as("n_orders"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_cust,
                count(*) AS n_orders
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    QueryDef(
      "agg_approx_hll",
      // HyperLogLog++ sketch (built-in) — the 100 TB answer to exact
      // distinct counts. Sketch VALUES are engine-specific, so the wire
      // carries an exact count plus accuracy verdicts on the sketches: the
      // oracle pins the count and expects TRUE, which fails if Spark's
      // estimate ever drifts past 10% (5σ at the configured rsd=0.02).
      // ONE PASS (VERDICT r4 #1c): o_orderkey is the orders PK, so the
      // exact distinct is a plain count(*) — no expensive countDistinct
      // expand anywhere; both sketches partial-aggregate map-side in the
      // same single aggregation (the production shape, bounded memory).
      // The custkey sketch's verdict against its EXACT distinct (which
      // would cost a real distinct pass) lives in MicroSpec instead; here
      // it is pinned to its always-true bound n_cust ≤ n_orders.
      (s, dir) => T.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("exact_orders"),
          approx_count_distinct(col("o_orderkey"), 0.02).as("hll_o"),
          approx_count_distinct(col("o_custkey"), 0.02).as("hll_c"))
        .select(col("o_orderstatus"), col("exact_orders"),
          (abs(col("hll_o") - col("exact_orders")).cast("double") / col("exact_orders") < 0.10)
            .as("hll_within_10pct"),
          (col("hll_c") > 0 && col("hll_c") <= col("exact_orders") * 110L / 100L)
            .as("hll_cust_bounded"))
        .orderBy("o_orderstatus"),
      Some("""SELECT o_orderstatus,
                count(*) AS exact_orders,
                TRUE AS hll_within_10pct,
                TRUE AS hll_cust_bounded
              FROM orders GROUP BY o_orderstatus
              ORDER BY o_orderstatus""")),

    QueryDef(
      "agg_count_min_sketch",
      // Count-Min sketch frequency estimation (Spark's built-in
      // count_min_sketch aggregate) — the frequency companion to
      // agg_approx_hll's cardinality sketch, and the 100 TB answer to
      // "how often does each key occur" when the key space is too large
      // to group exactly: the sketch is a fixed-size 2D counter array,
      // map-side mergeable, one pass. Sketch BYTES are engine-specific,
      // so (as with HLL) the wire carries the exact per-key counts plus
      // accuracy verdicts evaluated against the CMS contract: estimates
      // never undercount, and overcount ≤ ε·N with confidence δ (ε=0.001,
      // δ=0.99, fixed seed → the estimates are DETERMINISTIC, so the
      // verdicts cannot flap). The driver holds one sketch (KB-sized
      // bounded state, like kmeans' centroids); the probe keys here are
      // the 5 known priorities — a production probe set would be any
      // bounded key sample.
      (s, dir) => {
        val skBytes = T.orders(s, dir)
          .agg(count_min_sketch(col("o_orderpriority"), lit(0.001), lit(0.99), lit(42))
            .as("cms"))
          .collect()(0).getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(skBytes))
        val exact = T.orders(s, dir)
          .groupBy("o_orderpriority").agg(count(lit(1)).as("exact_n"))
          .collect() // bounded: 5 priority values
        val total = exact.map(_.getLong(1)).sum
        val rows = exact.map { r =>
          val key = r.getString(0); val n = r.getLong(1)
          val est = cms.estimateCount(key)
          org.apache.spark.sql.Row(key, n, est >= n, est <= n + Math.ceil(0.001 * total).toLong)
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderpriority",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("exact_n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cms_no_undercount",
            org.apache.spark.sql.types.BooleanType),
          org.apache.spark.sql.types.StructField("cms_within_eps",
            org.apache.spark.sql.types.BooleanType)))
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS exact_n,
                TRUE AS cms_no_undercount, TRUE AS cms_within_eps
              FROM orders GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    QueryDef(
      "agg_approx_quantile",
      // The quantile companion to agg_approx_hll: distributed EXACT
      // p50/p90/p99 of o_totalprice per status via the two-phase
      // bucket-histogram shape (phase 1: map-combinable counts per
      // (status, ⌊price/1000⌋); phase 2: rank only the rows of each
      // target bucket — the window never sees more than one bucket), plus
      // an accuracy verdict on Spark's approx_percentile sketch. Oracle =
      // the plain rank-window definition (value at rank ⌈p·n⌉ under
      // (price, orderkey) order), so the green row proves the distributed
      // decomposition — same proof style as win_ntile_cume.
      (s, dir) => {
        val ps = Seq(0.5, 0.9, 0.99)
        val (o, off) = priceRankBuckets(s, dir)
        val spark = s
        import spark.implicits._
        val targets = off.crossJoin(broadcast(ps.toDF("p")))
          .withColumn("r", greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
          .where(col("off") < col("r") && col("r") <= col("off") + col("c"))
          .select(col("o_orderstatus"), col("bkt"), col("p"), col("r"), col("off"))
        val wIn = Window.partitionBy("o_orderstatus", "p")
          .orderBy("o_totalprice", "o_orderkey")
        val exact = o.join(broadcast(targets), Seq("o_orderstatus", "bkt"))
          .withColumn("rn", col("off") + row_number().over(wIn))
          .where(col("rn") === col("r"))
          .select(col("o_orderstatus"), col("p"), col("o_totalprice").as("exact_q"))
        val approx = T.orders(s, dir).groupBy("o_orderstatus")
          .agg(percentile_approx(col("o_totalprice"),
            array(ps.map(lit): _*), lit(10000)).as("aq"))
          .select(col("o_orderstatus"), posexplode(col("aq")).as(Seq("i", "approx_q")))
          .select(col("o_orderstatus"),
            element_at(array(ps.map(lit): _*), col("i") + 1).as("p"), col("approx_q"))
        exact.join(approx, Seq("o_orderstatus", "p"))
          .select(col("o_orderstatus"), col("p"), col("exact_q"),
            (abs(col("approx_q") - col("exact_q")) / col("exact_q") < 0.05)
              .as("sketch_within_5pct"))
          .orderBy("o_orderstatus", "p")
      },
      Some("""WITH r AS (SELECT o_orderstatus, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice, o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_orderstatus) AS n
                FROM orders),
                ps AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS p)
              SELECT o_orderstatus, p, o_totalprice AS exact_q,
                TRUE AS sketch_within_5pct
              FROM r, ps
              WHERE rn = greatest(1, CAST(ceil(p * n) AS BIGINT))
              ORDER BY o_orderstatus, p""")),

    QueryDef(
      "agg_grouping_sets",
      // Dataset.groupingSets (Spark 4.0+) — pure DataFrame API, no temp-view
      // catalog side effects.
      (s, dir) => T.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(T.dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus,
                 ${T.sqlDsum("l_quantity")} AS sum_qty, count(*) AS n
               FROM lineitem
               GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
               ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    QueryDef(
      "agg_rollup",
      // groupingSets with rollup-shaped sets, not Dataset.rollup: in Spark
      // 4.1 rollup/cube after a join trip DetectAmbiguousSelfJoin (their
      // Expand re-resolves grouping attrs through dataset-id metadata);
      // groupingSets takes plain Columns and has no such re-resolution.
      (s, dir) => T.customer(s, dir)
        .join(broadcast(T.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("c_acctbal"))
        .groupingSets(
          Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
          col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), T.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first),
      Some(s"""SELECT r_name, n_name, count(*) AS n_cust,
                 ${T.sqlDsum("c_acctbal")} AS sum_bal
               FROM customer
                 JOIN nation ON c_nationkey = n_nationkey
                 JOIN region ON n_regionkey = r_regionkey
               GROUP BY ROLLUP (r_name, n_name)
               ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")),

    QueryDef(
      "agg_cube",
      (s, dir) => T.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), T.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
                 ${T.sqlDsum("l_extendedprice")} AS sum_price
               FROM lineitem
               GROUP BY CUBE (l_returnflag, l_linestatus)
               ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    QueryDef(
      "agg_stats_moments",
      // Second moments — the building blocks of the reference's OLS solvers.
      // Rounded to 6 dp: per-group accumulation-order noise is ~1e-10.
      (s, dir) => T.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6).as("cov_qty_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
                round(stddev_samp(l_quantity), 6) AS sd_qty,
                round(var_samp(l_quantity), 6) AS var_qty,
                round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                round(covar_samp(l_quantity, l_extendedprice), 6) AS cov_qty_price
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // --------------------------------------------------------- §2.5 windows
    QueryDef(
      "win_rank_dense",
      // rank/dense_rank values are tie-stable, so the window ORDER BY needs
      // no tiebreaker; the final output ORDER BY does (o_orderkey).
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
        T.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"))
          .where(col("rnk") <= 5)
          .orderBy(col("o_custkey"), col("rnk"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rnk, drnk FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                  rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
                  dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk
                FROM orders) t
              WHERE rnk <= 5 ORDER BY o_custkey, rnk, o_orderkey""")),

    QueryDef(
      "win_topk_rownum",
      // Top-3 per customer — the same k-selection pattern at the heart of
      // the reference's kneighbors; unique tiebreak key makes row_number
      // deterministic (§7.3 rule 3).
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        T.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            row_number().over(w).as("rn"))
          .where(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders) t
              WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    QueryDef(
      "win_lag_lead",
      // Inter-event gaps per user, on micros since epoch (BIGINT both
      // engines — sidesteps any timestamp-encoding skew).
      // ORACLE FORM: final global ORDER BY for hash-match only. PRODUCTION
      // FORM ends at the window: output stays partitioned by user_id and
      // sorted within partitions — the window''s own shuffle is the last
      // one needed; the extra global sort is pure oracle overhead.
      (s, dir) => {
        val e = T.events(s, dir).select(
          col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        e.select(col("user_id"), col("event_id"), col("us"),
            coalesce(col("us") - lag(col("us"), 1).over(w), lit(-1L)).as("delta_us"),
            coalesce(lead(col("us"), 1).over(w) - col("us"), lit(-1L)).as("next_us"))
          .orderBy("user_id", "us", "event_id")
      },
      Some("""SELECT user_id, event_id, us,
                coalesce(us - lag(us, 1)  OVER w, -1) AS delta_us,
                coalesce(lead(us, 1) OVER w - us, -1) AS next_us
              FROM (SELECT user_id, event_id, epoch_us(ts) AS us FROM events) t
              WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
              ORDER BY user_id, us, event_id""")),

    QueryDef(
      "win_frame_moving",
      // 10-row moving average per user: frame order is unique (us, event_id)
      // so both engines sum the same ≤10 doubles in the same order.
      // ORACLE FORM: trailing global sort for hash-match; PRODUCTION FORM
      // reuses the window''s (user_id; us, event_id) partitioning as-is.
      (s, dir) => {
        val e = T.events(s, dir).select(
          col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id")).rowsBetween(-9, 0)
        e.select(col("user_id"), col("event_id"),
            round(avg(col("value")).over(w), 6).as("mov_avg"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
                round(avg(value) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS mov_avg
              FROM (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events) t
              ORDER BY user_id, event_id""")),

    QueryDef(
      "agg_histogram",
      // Fixed-width histogram of extendedprice — the profiling primitive
      // next to agg_describe's quantiles: global (min, max) in one
      // bounded aggregate, broadcast into a width_bucket map, one
      // map-side-combined count per bin. Two passes because the bounds
      // define the bins (a single-pass variant would need a pre-agreed
      // domain). The bin index is the EXPLICIT shared floor expression,
      // not width_bucket: the builtin's edge arithmetic is
      // engine-internal and a boundary value could land in adjacent bins
      // across engines, while the shared text is bit-identical; the top
      // edge folds into the last bin (the classic off-by-one). Output:
      // 10 bins with edges and counts.
      (s, dir) => {
        val l = T.lineitem(s, dir)
          .select(col("l_extendedprice").cast("double").as("v"))
          .transform(T.fanOut(_))
        val bounds = l.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
        l.crossJoin(broadcast(bounds))
          .selectExpr("lo", "hi",
            "CASE WHEN hi > lo THEN least(CAST(floor((v - lo) / (hi - lo) * 10) AS INT) + 1, 10) ELSE 1 END AS bin")
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            first(col("lo")).as("lo"), first(col("hi")).as("hi"))
          .selectExpr("bin", "n",
            "round(lo + (bin - 1) * (hi - lo) / 10, 6) AS bin_lo",
            "round(lo + bin * (hi - lo) / 10, 6) AS bin_hi")
          .orderBy("bin")
      },
      Some("""WITH l AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem),
                 b AS (SELECT min(v) AS lo, max(v) AS hi FROM l),
                 binned AS (SELECT lo, hi,
                     CASE WHEN hi > lo THEN least(CAST(floor((v - lo) / (hi - lo) * 10) AS INT) + 1, 10) ELSE 1 END AS bin
                   FROM l CROSS JOIN b)
               SELECT bin, count(*) AS n,
                 round(lo + (bin - 1) * (hi - lo) / 10, 6) AS bin_lo,
                 round(lo + bin * (hi - lo) / 10, 6) AS bin_hi
               FROM binned GROUP BY bin, lo, hi ORDER BY bin""")),

    QueryDef(
      "agg_benford",
      // Benford's-law first-digit audit — the numeric-integrity check a
      // finance/data-quality pass runs over money columns: observed
      // first-digit shares of extendedprice vs the Benford expectation
      // log10(1 + 1/d), plus the per-digit deviation. The digit comes
      // from the CANONICAL DECIMAL STRING (2-dp money cast, first char)
      // — NOT floor(v/10^floor(log10 v)), whose collapsed log at an
      // exact power of ten can round below the integer and shift the
      // digit cross-engine. One map + one bounded 9-row aggregate; the
      // expectation is a shared lnR-collapsed expression.
      (s, dir) => {
        val wg = Window.partitionBy()
        T.lineitem(s, dir)
          .selectExpr("CAST(substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS STRING), 1, 1) AS INT) AS d")
          .groupBy("d").agg(count(lit(1)).as("n"))
          .select(col("d"), col("n"), sum(col("n")).over(wg).as("tot"))
          .selectExpr("d", "n",
            "round(CAST(n AS DOUBLE) / tot, 6) AS observed",
            "round(CAST(CAST(ln(1e0 + 1e0 / d) AS FLOAT) AS DOUBLE) / CAST(CAST(ln(10e0) AS FLOAT) AS DOUBLE), 6) AS benford")
          .selectExpr("d", "n", "observed", "benford",
            "round(observed - benford, 6) + 0 AS deviation")
          .orderBy("d")
      },
      Some("""WITH dg AS (SELECT CAST(substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS INT) AS d
                 FROM lineitem),
                 c AS (SELECT d, count(*) AS n FROM dg GROUP BY d),
                 t AS (SELECT d, n, sum(n) OVER () AS tot FROM c),
                 ob AS (SELECT d, n,
                     round(CAST(n AS DOUBLE) / tot, 6) AS observed,
                     round(CAST(CAST(ln(1e0 + 1e0 / d) AS REAL) AS DOUBLE) / CAST(CAST(ln(10e0) AS REAL) AS DOUBLE), 6) AS benford
                   FROM t)
               SELECT d, n, observed, benford,
                 round(observed - benford, 6) + 0 AS deviation
               FROM ob ORDER BY d""")),

    QueryDef(
      "agg_lorenz_gini",
      // Revenue-concentration analytics — the Lorenz curve and Gini
      // coefficient over per-customer revenue, computed the way
      // inequality is measured at scale: per-customer totals (bounded
      // entity aggregation), then a BINNED Lorenz curve over 20 shared
      // global-bounds revenue bins (the agg_histogram floor text — a
      // partitionless rank window over hundreds of millions of customers
      // is the trap this avoids; binning trades exactness for a fixed
      // 20-point curve, the standard reporting form). Cumulative
      // population/revenue shares by a window over the 20-row bin table;
      // Gini by the trapezoid rule over the binned curve. Exact decimal
      // revenue sums; every share is a deterministic ratio.
      (s, dir) => {
        val rev = T.orders(s, dir).groupBy("o_custkey")
          .agg(T.dsum(col("o_totalprice")).as("rev"))
        val bounds = rev.agg(min(col("rev")).as("lo"), max(col("rev")).as("hi"))
        val binned = rev.crossJoin(broadcast(bounds))
          .selectExpr("rev",
            "CASE WHEN hi > lo THEN least(CAST(floor((rev - lo) / (hi - lo) * 20) AS INT) + 1, 20) ELSE 1 END AS bin")
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), T.dsum(col("rev")).as("brev"))
        val wc = Window.orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wg = Window.partitionBy()
        binned
          .select(col("bin"), col("n"), col("brev"),
            sum(col("n")).over(wc).as("cumn"),
            T.dsumD(col("brev")).over(wc).cast("double").as("cumr"),
            sum(col("n")).over(wg).as("tn"),
            T.dsumD(col("brev")).over(wg).cast("double").as("tr"))
          .selectExpr("bin", "n",
            "CAST(cumn AS DOUBLE) / tn AS pop_share",
            "cumr / tr AS rev_share",
            "(CAST(cumn AS DOUBLE) / tn - CAST(coalesce(cumn - n, 0) AS DOUBLE) / tn) * (cumr / tr + (cumr - brev) / tr) AS trap")
          .select(col("bin"), col("n"),
            round(col("pop_share"), 6).as("pop_share"),
            round(col("rev_share"), 6).as("rev_share"),
            T.xsumD(col("trap")).over(Window.partitionBy())
              .cast("double").as("_s"))
          .selectExpr("bin", "n", "pop_share", "rev_share",
            "round(1e0 - _s, 6) AS gini")
          .orderBy("bin")
      },
      Some("""WITH rev AS (SELECT o_custkey,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
                 FROM orders GROUP BY o_custkey),
                 b AS (SELECT min(rev) AS lo, max(rev) AS hi FROM rev),
                 binned AS (SELECT bin, count(*) AS n,
                     CAST(sum(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) AS brev
                   FROM (SELECT rev,
                           CASE WHEN hi > lo THEN least(CAST(floor((rev - lo) / (hi - lo) * 20) AS INT) + 1, 20) ELSE 1 END AS bin
                         FROM rev CROSS JOIN b) x
                   GROUP BY bin),
                 cw AS (SELECT bin, n, brev,
                     sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn,
                     CAST(sum(CAST(brev AS DECIMAL(18,4))) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cumr,
                     sum(n) OVER () AS tn,
                     CAST(sum(CAST(brev AS DECIMAL(18,4))) OVER () AS DOUBLE) AS tr
                   FROM binned),
                 tshare AS (SELECT bin, n,
                     CAST(cumn AS DOUBLE) / tn AS pop_share,
                     cumr / tr AS rev_share,
                     (CAST(cumn AS DOUBLE) / tn - CAST(coalesce(cumn - n, 0) AS DOUBLE) / tn) * (cumr / tr + (cumr - brev) / tr) AS trap
                   FROM cw),
                 g AS (SELECT bin, n,
                     round(pop_share, 6) AS pop_share,
                     round(rev_share, 6) AS rev_share,
                     CAST(sum(CAST(trap AS DECIMAL(30,12))) OVER () AS DOUBLE) AS _s
                   FROM tshare)
               SELECT bin, n, pop_share, rev_share,
                 round(1e0 - _s, 6) AS gini
               FROM g ORDER BY bin""")),

    QueryDef(
      "win_range_frame",
      // The RANGE-frame window — the time-based sibling of
      // win_frame_moving's ROWS frame: per user, count and exact decimal
      // sum of activity in the TRAILING HOUR (RANGE BETWEEN 3600e6
      // PRECEDING AND CURRENT ROW over the micros timeline). RANGE
      // includes ALL peers at equal us, so the frame is deterministic
      // even under timestamp ties (where a ROWS frame would depend on
      // tie order) — that is the feature, and why the single-column
      // ORDER BY is required. Partitioned by user_id (unbounded key —
      // scale-safe); the decimal sum is order-free.
      // ORACLE FORM: trailing global sort for hash-match; PRODUCTION
      // FORM reuses the window's per-user ordering.
      (s, dir) => {
        val e = T.events(s, dir).select(
          col("user_id"), col("event_id"), col("value"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-3600L * 1000000L, 0)
        e.select(col("user_id"), col("event_id"),
            count(lit(1)).over(w).as("n_trailing_1h"),
            T.dsumD(col("value")).over(w).cast("double").as("sum_trailing_1h"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
                count(*) OVER w AS n_trailing_1h,
                CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_trailing_1h
              FROM (SELECT user_id, event_id, value, epoch_us(ts) AS us FROM events) t
              WINDOW w AS (PARTITION BY user_id ORDER BY us
                           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
              ORDER BY user_id, event_id""")),

    QueryDef(
      "win_running_sum",
      // Cumulative revenue per customer — running DECIMAL sum is exact, so
      // every prefix matches DuckDB bit-for-bit.
      // ORACLE FORM: trailing global sort for hash-match; PRODUCTION FORM
      // reuses the window''s per-customer ordering (no second shuffle).
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        T.orders(s, dir)
          .select(col("o_custkey"), col("o_orderkey"),
            T.dsumD(col("o_totalprice")).over(w).cast("double").as("running_rev"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  AS running_rev
              FROM orders ORDER BY o_custkey, o_orderkey""")),

    QueryDef(
      "win_ntile_cume",
      // Deciles + cumulative distribution within order-status partitions —
      // WITHOUT the skewed 3-partition WindowExec (VERDICT r4 #7). The
      // global per-status rank decomposes over value-range buckets
      // (bkt = ⌊price/1000⌋): bucket counts roll up to per-bucket OFFSETS
      // (a window over the tiny counts table — ~100s of rows/status, never
      // the data), and each row's rank = offset + row_number within its
      // (status, bkt) window — hundreds of balanced partitions instead of
      // 3. ntile/cume_dist then derive ARITHMETICALLY from (rank, n):
      // cume_dist = rank/n because the order key (price, orderkey) is
      // unique (no peer groups), and the decile replicates the ANSI ntile
      // fill (first n%10 buckets get ⌈n/10⌉ rows). The UNCHANGED window
      // oracle below is the equivalence proof. At 100 TB bkt comes from
      // sampled quantiles instead of a fixed width; the shape is the same.
      (s, dir) => {
        val (o, off) = priceRankBuckets(s, dir)
        val wIn = Window.partitionBy("o_orderstatus", "bkt")
          .orderBy("o_totalprice", "o_orderkey")
        o.join(broadcast(off.drop("c")), Seq("o_orderstatus", "bkt"))
          .withColumn("rn", col("off") + row_number().over(wIn))
          .selectExpr("o_orderstatus", "o_orderkey", "rn", "n",
            "n DIV 10 AS q", "n % 10 AS r")
          .selectExpr("o_orderstatus", "o_orderkey",
            """CAST(CASE WHEN rn <= (q + 1) * r THEN (rn - 1) DIV (q + 1) + 1
                         ELSE r + (rn - (q + 1) * r - 1) DIV q + 1 END AS INT) AS decile""",
            "round(CAST(rn AS DOUBLE) / n, 6) AS cd")
          .orderBy("o_orderstatus", "o_orderkey")
      },
      Some("""SELECT o_orderstatus, o_orderkey,
                ntile(10)  OVER w AS decile,
                round(cume_dist() OVER w, 6) AS cd
              FROM orders
              WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
              ORDER BY o_orderstatus, o_orderkey""")),

    QueryDef(
      "win_value_fns",
      // The value-positional window functions completing the §2.8 family
      // (rank/row_number/lag/lead/frames are covered; this row exercises
      // first_value, last_value and nth_value over the FULL partition
      // frame — last_value needs the explicit UNBOUNDED FOLLOWING frame,
      // the classic default-frame trap — plus percent_rank). Per order
      // status, the 5 cheapest orders with the partition's min/max/3rd
      // price alongside. Ordering (price, orderkey) is unique within a
      // status, so every emitted value is deterministic; percent_rank is
      // rank arithmetic on exact inputs.
      (s, dir) => {
        val full = Window.partitionBy("o_orderstatus")
          .orderBy("price", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val ord = Window.partitionBy("o_orderstatus")
          .orderBy("price", "o_orderkey")
        T.orders(s, dir).transform(T.fanOut(_, col("o_orderstatus")))
          .select(col("o_orderstatus"), col("o_orderkey"),
            col("o_totalprice").cast("double").as("price"))
          .withColumn("rn", row_number().over(ord))
          .withColumn("pr", percent_rank().over(ord))
          .withColumn("fv", first(col("price")).over(full))
          .withColumn("lv", last(col("price")).over(full))
          .withColumn("nv", nth_value(col("price"), 3).over(full))
          .where(col("rn") <= 5)
          .selectExpr("o_orderstatus", "rn", "o_orderkey",
            "round(price, 2) AS price",
            "round(pr, 6) AS pct_rank",
            "round(fv, 2) AS min_price",
            "round(lv, 2) AS max_price",
            "round(nv, 2) AS third_price")
          .orderBy("o_orderstatus", "rn")
      },
      Some("""SELECT o_orderstatus, rn, o_orderkey,
                round(price, 2) AS price,
                round(pr, 6) AS pct_rank,
                round(fv, 2) AS min_price,
                round(lv, 2) AS max_price,
                round(nv, 2) AS third_price
              FROM (SELECT o_orderstatus, o_orderkey,
                  CAST(o_totalprice AS DOUBLE) AS price,
                  row_number() OVER w AS rn,
                  percent_rank() OVER w AS pr,
                  first_value(CAST(o_totalprice AS DOUBLE)) OVER wf AS fv,
                  last_value(CAST(o_totalprice AS DOUBLE)) OVER wf AS lv,
                  nth_value(CAST(o_totalprice AS DOUBLE), 3) OVER wf AS nv
                FROM orders
                WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey),
                  wf AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) t
              WHERE rn <= 5
              ORDER BY o_orderstatus, rn""")),

    QueryDef(
      "agg_collect_sorted",
      // collect_list/array_agg — the array-building aggregate surface,
      // with the wire-determinism trap handled head-on: collection order
      // is partition-arbitrary, so the collected list is sort_array'd
      // DESC and sliced to the top 5 before anything reaches the wire
      // (equal values are interchangeable under a value sort, so ties
      // cannot diverge). Elements go to the wire as a comma-joined
      // string of fixed-scale DECIMAL(12,2) renderings (both engines
      // pad decimals to scale identically), because an ARRAY column is
      // unhashable to the scorer's comparator. SCALE NOTE:
      // slice(sort(collect)) still collects the whole group — the
      // bounded-k production shape is the win_topk window; this row
      // exercises the array-aggregate API itself on cardinality-bounded
      // groups.
      (s, dir) => T.customer(s, dir)
        .select(col("c_mktsegment"), col("c_acctbal").cast("double").as("bal"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          expr("""concat_ws(',', transform(slice(sort_array(collect_list(bal), false), 1, 5),
                    v -> CAST(CAST(round(v, 2) AS DECIMAL(12,2)) AS STRING)))""")
            .as("top5_bal"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, count(*) AS n,
                array_to_string(list_transform((list_sort(array_agg(CAST(c_acctbal AS DOUBLE)), 'DESC'))[1:5],
                  v -> CAST(CAST(round(v, 2) AS DECIMAL(12,2)) AS VARCHAR)), ',') AS top5_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    QueryDef(
      "agg_entropy",
      // Shannon entropy of each source's language mix (r6 second half) —
      // the diversity metric a corpus-curation dashboard reads next to
      // the count tables. p = exact count ratio; ln() may differ by an
      // ulp cross-engine, so each p·ln(p) term goes through the 12-dp
      // exact-decimal wire (quantization absorbs the ulp, decimal
      // addition is order-proof) before the bounded per-source sum.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val counts = T.documents(s, dir)
          .groupBy("source", "lang").agg(count(lit(1)).as("c"))
        val p = (col("c").cast("double") /
          sum(col("c")).over(Window.partitionBy(col("source"))).cast("double"))
        counts.select(col("source"), col("c"), p.as("p"))
          .groupBy("source")
          .agg(sum(col("c")).as("n_docs"),
            round(-T.xsum(col("p") * log(col("p"))), 6).as("entropy"))
          .orderBy("source")
      },
      Some(s"""WITH counts AS (SELECT source, lang, count(*) AS c
                 FROM documents GROUP BY source, lang),
                 ps AS (SELECT source, c,
                     CAST(c AS DOUBLE) / CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE) AS p
                   FROM counts)
               SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
                 round(-(${T.sqlXsum("p * ln(p)")}), 6) AS entropy
               FROM ps GROUP BY source ORDER BY source""")),

    QueryDef(
      "agg_describe",
      // DataFrame.describe() — the cudf/pandas profiling staple [R]: per
      // numeric column count / mean / SAMPLE std / min / p25 / p50 / p75
      // / max, in long format. The quantiles are EXACT interpolated
      // (n−1)p percentiles computed by the TWO-PHASE BUCKET-HISTOGRAM
      // RANK (ml_robust_scaler's decomposition, generalized to a
      // per-feature bucket key and both interpolation brackets): phase 1
      // is ONE map-combinable pass producing per-(feature, bucket)
      // counts AND decimal moment partials (the bucket key is a fixed
      // monotone-in-v expression per feature, so global rank = bucket
      // offset + rank-within-bucket); phase 2 ranks ONLY the rows of the
      // ≤6 target buckets per feature — never a (feature)-partitioned
      // window over the raw support, whose single ~n-row sort partition
      // is the scale trap the r7 version conceded on near-continuous
      // columns. Moments roll up from the phase-1 decimal partials
      // (decimal addition is associative, so the two-level sum equals
      // the oracle's flat per-row sum bit-for-bit). SCALE NOTE: phase-2
      // window partitions are single-bucket row sets (~n/B rows); a
      // still-finer split recurses the same decomposition.
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val bktExpr = "CAST(CASE feature WHEN 'quantity' THEN floor(v) " +
          "WHEN 'extendedprice' THEN floor(v / 1000) " +
          "ELSE floor(v * 100) END AS BIGINT)"
        // project to the 3 columns BEFORE the fan-out so the parallelism
        // shuffle moves 24 bytes/row, not the full lineitem width
        def u = T.lineitem(s, dir)
          .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"))
          .transform(T.fanOut(_))
          .selectExpr(
            "stack(3, 'quantity', CAST(l_quantity AS DOUBLE), 'extendedprice', CAST(l_extendedprice AS DOUBLE), 'discount', CAST(l_discount AS DOUBLE)) AS (feature, v)")
          .selectExpr("feature", "v", s"$bktExpr AS bkt")
        // phase 1: one pass → bounded (feature, bucket) histogram with
        // moment partials; frozen because it feeds totals, offsets AND
        // the target-bucket selection (ReuseExchange won't dedup under AQE)
        val bk = T.freeze(u.groupBy("feature", "bkt")
          .agg(count(lit(1)).as("c"),
            T.xsumD(col("v")).as("svd"), T.xsumD(col("v") * col("v")).as("svvd"),
            min(col("v")).as("mn"), max(col("v")).as("mx")))
        val tot = bk.groupBy("feature")
          .agg(sum(col("c")).as("n"),
            sum(col("svd")).cast("double").as("sv"),
            sum(col("svvd")).cast("double").as("svv"),
            min(col("mn")).as("min_v"), max(col("mx")).as("max_v"))
        val wOff = Window.partitionBy("feature").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val off = bk
          .select(col("feature"), col("bkt"), col("c"),
            coalesce(sum(col("c")).over(wOff), lit(0L)).as("off"))
          .join(tot.select("feature", "n"), "feature")
        // target ranks: lo bracket = ⌊(n−1)q⌋+1 (1-indexed), hi = the next
        // rank (clamped; unused when the position is integral, fr = 0)
        val targets = off.crossJoin(broadcast(Seq(0.25, 0.5, 0.75).toDF("q")))
          .withColumn("klo", floor((col("n") - 1) * col("q")).cast("long"))
          .selectExpr("feature", "bkt", "c", "off", "q",
            "stack(2, 'lo', klo + 1, 'hi', least(klo + 2, n)) AS (br, r)")
          .where(col("off") < col("r") && col("r") <= col("off") + col("c"))
          .select("feature", "bkt", "off", "q", "br", "r")
        // phase 2: rank only inside target buckets (ties in v are
        // interchangeable — the emitted value at rank r is unique)
        val wIn = Window.partitionBy("feature", "q", "br").orderBy("v")
        val qv = u.join(broadcast(targets), Seq("feature", "bkt"))
          .withColumn("rn", col("off") + row_number().over(wIn))
          .where(col("rn") === col("r"))
          .groupBy("feature")
          .agg(max(when(col("q") === 0.25 && col("br") === "lo", col("v"))).as("lo_q25"),
            Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75").flatMap { case (q, t) =>
              Seq(max(when(col("q") === q && col("br") === "lo", col("v"))).as(s"lo_$t"),
                max(when(col("q") === q && col("br") === "hi", col("v"))).as(s"hi_$t"))
            }.tail: _*)
        def interp(q: String, t: String): String =
          s"round(lo_$t + ((n - 1) * $q - floor((n - 1) * $q)) * (hi_$t - lo_$t), 6)"
        tot.join(qv, "feature")
          .selectExpr("feature", "n",
            "round(sv / n, 6) AS mean",
            "round(sqrt((svv - sv * sv / n) / (n - 1)), 6) AS std",
            "min_v AS min",
            s"${interp("0.25", "q25")} AS p25",
            s"${interp("0.5", "q50")} AS p50",
            s"${interp("0.75", "q75")} AS p75",
            "max_v AS max")
          .orderBy("feature")
      },
      // Oracle = the plain per-feature rank-window definition (the
      // decomposition proof, as in ml_robust_scaler): row_number over the
      // raw long form picks both brackets, moments are flat per-row
      // decimal sums, interpolation text shared with the Spark side.
      Some {
        def bracket(q: String, t: String): String =
          s"""max(CASE WHEN rn = CAST(floor((n - 1) * $q) AS BIGINT) + 1 THEN v END) AS lo_$t,
                     max(CASE WHEN rn = least(CAST(floor((n - 1) * $q) AS BIGINT) + 2, n) THEN v END) AS hi_$t"""
        def interp(q: String, t: String): String =
          s"round(lo_$t + ((n - 1) * $q - floor((n - 1) * $q)) * (hi_$t - lo_$t), 6)"
        s"""WITH u AS (SELECT 'quantity' AS feature, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
                   UNION ALL SELECT 'extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
                   UNION ALL SELECT 'discount', CAST(l_discount AS DOUBLE) FROM lineitem),
                 r AS (SELECT feature, v,
                     row_number() OVER (PARTITION BY feature ORDER BY v) AS rn,
                     count(*) OVER (PARTITION BY feature) AS n
                   FROM u),
                 q AS (SELECT feature,
                     ${Seq("0.25" -> "q25", "0.5" -> "q50", "0.75" -> "q75")
                       .map { case (p, t) => bracket(p, t) }.mkString(",\n                     ")}
                   FROM r GROUP BY feature),
                 m AS (SELECT feature, count(*) AS n,
                     ${T.sqlXsum("v")} AS sv, ${T.sqlXsum("v * v")} AS svv,
                     min(v) AS min_v, max(v) AS max_v
                   FROM u GROUP BY feature)
               SELECT feature, CAST(m.n AS BIGINT) AS n,
                 round(sv / m.n, 6) AS mean,
                 round(sqrt((svv - sv * sv / m.n) / (m.n - 1)), 6) AS std,
                 min_v AS min,
                 ${interp("0.25", "q25")} AS p25,
                 ${interp("0.5", "q50")} AS p50,
                 ${interp("0.75", "q75")} AS p75,
                 max_v AS max
               FROM m JOIN q USING (feature) ORDER BY feature"""
      }),

    QueryDef(
      "agg_weighted_median",
      // Weighted median of l_quantity with revenue weights — the robust
      // location estimate a skew-aware rollup reports (the 50% revenue
      // quantity, not the 50% row-count one). l_quantity's value domain
      // is bounded (integral 1..50), so the whole computation after ONE
      // map-side-combined (value → Σweight) aggregate is a ≤50-row
      // cumulative window: the median is the least v with
      // 2·cumw ≥ total. Weights are parquet DECIMALs summed exactly and
      // COMPARED in decimal (2·cumw is exact), so the pick is
      // bit-deterministic in both engines — no double enters until the
      // output cast.
      (s, dir) => {
        val byV = T.lineitem(s, dir)
          .groupBy(col("l_quantity").as("v"))
          .agg(sum(col("l_extendedprice")).as("w"))
        val wc = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wg = Window.partitionBy()
        byV.select(col("v"), col("w"),
            sum(col("w")).over(wc).as("cw"),
            sum(col("w")).over(wg).as("tot"),
            count(lit(1)).over(wg).as("nv"))
          .where(col("cw") * 2 >= col("tot"))
          .agg(min(col("v")).as("mv"), first(col("tot")).as("tot"),
            first(col("nv")).as("nv"))
          .selectExpr("CAST(mv AS DOUBLE) AS weighted_median",
            "round(CAST(tot AS DOUBLE), 2) AS total_weight",
            "nv AS n_values")
      },
      Some("""WITH byv AS (SELECT l_quantity AS v, sum(l_extendedprice) AS w
                 FROM lineitem GROUP BY l_quantity),
                 cum AS (SELECT v, w,
                     sum(w) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                     sum(w) OVER () AS tot,
                     count(*) OVER () AS nv
                   FROM byv)
               SELECT CAST(min(v) AS DOUBLE) AS weighted_median,
                 round(CAST(any_value(tot) AS DOUBLE), 2) AS total_weight,
                 CAST(any_value(nv) AS BIGINT) AS n_values
               FROM cum WHERE cw * 2 >= tot""")),

    QueryDef(
      "agg_kmv_distinct",
      // KMV (k-minimum-values) distinct-count sketch, Bar-Yossef et al.
      // 2002 — the MERGEABLE cardinality estimator whose values (unlike
      // agg_approx_hll's engine-private HLL bytes) are pure arithmetic,
      // so the oracle checks the SKETCH itself value-for-value. Estimate:
      // with U_(k) the k-th smallest of the distinct keys' hashes mapped
      // into [0, P), D ≈ (k−1)·P / U_(k). The 100 TB story is the MERGE:
      // each group keeps only its k smallest hashes (k=64 rows — map-side
      // combinable, constant memory), and the global sketch is the k
      // smallest OF THE UNION OF SKETCHES (3·k rows, never the data) —
      // exactly how a 1000-executor run combines per-partition sketches.
      // The merged 'ALL' row here is computed from the three per-status
      // sketches alone, next to each estimate's exact truth and relative
      // error. Hash = the repo's affine family mod P (engine hash()
      // builtins differ, arithmetic doesn't); distinct-before-rank makes
      // the sketch a function of the key SET, so duplicates can't bias
      // it. Groups smaller than k fall back to |sketch| = exact count
      // (the KMV convention). Determinism: everything is integer until
      // the one estimate division; rel_err is one more exact-input
      // division, rounded on both engines. The multiplier must WRAP P on
      // the key domain (1203248983 ≈ P/1.8): a small multiplier leaves
      // dense integer keys clustered at the bottom of [0, P) and the
      // order-statistic estimate off by orders of magnitude (measured:
      // 48271 gave rel_err 28 at sf0.01; this one ≤ 0.007 at all SFs).
      (s, dir) => {
        val K = 64
        val hashed = T.orders(s, dir)
          .selectExpr("o_orderstatus AS grp",
            s"(o_custkey * 1203248983 + 7) % ${T.HASH_P} AS h")
          .distinct()
        val wk = Window.partitionBy(col("grp")).orderBy(col("h"))
        val sk = hashed.withColumn("rk", row_number().over(wk))
          .where(col("rk") <= K)
        val wm = Window.orderBy(col("h"))
        val merged = sk.select(col("h")).distinct()
          .withColumn("rk", row_number().over(wm)).where(col("rk") <= K)
          .select(lit("ALL").as("grp"), col("h"))
        val exact = T.orders(s, dir)
          .selectExpr("o_orderstatus AS grp", "o_custkey").distinct()
          .groupBy("grp").agg(count(lit(1)).as("exact_distinct"))
          .unionAll(T.orders(s, dir).select(col("o_custkey")).distinct()
            .agg(count(lit(1)).as("exact_distinct"))
            .selectExpr("'ALL' AS grp", "exact_distinct"))
        sk.select(col("grp"), col("h")).unionAll(merged)
          .groupBy("grp").agg(count(lit(1)).as("k_used"), max(col("h")).as("uk"))
          .join(exact, "grp")
          .selectExpr("grp", "exact_distinct", "k_used",
            s"""CASE WHEN k_used < $K THEN CAST(k_used AS DOUBLE)
                  ELSE CAST((k_used - 1) * ${T.HASH_P}L AS DOUBLE) / uk
                END AS kmv_est""")
          .selectExpr("grp", "exact_distinct", "k_used",
            "round(kmv_est, 4) AS kmv_est",
            "round(abs(kmv_est - exact_distinct) / exact_distinct, 4) AS rel_err")
          .orderBy("grp")
      },
      Some(s"""WITH hashed AS (SELECT DISTINCT o_orderstatus AS grp,
                   (o_custkey * 1203248983 + 7) % ${T.HASH_P} AS h
                 FROM orders),
                 sk AS (SELECT grp, h FROM (
                     SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
                     FROM hashed) x WHERE rk <= 64),
                 merged AS (SELECT 'ALL' AS grp, h FROM (
                     SELECT h, row_number() OVER (ORDER BY h) AS rk
                     FROM (SELECT DISTINCT h FROM sk) u) x WHERE rk <= 64),
                 exact AS (SELECT o_orderstatus AS grp,
                     count(DISTINCT o_custkey) AS exact_distinct FROM orders GROUP BY grp
                   UNION ALL SELECT 'ALL', count(DISTINCT o_custkey) FROM orders),
                 est AS (SELECT grp, count(*) AS k_used, max(h) AS uk
                   FROM (SELECT grp, h FROM sk UNION ALL SELECT grp, h FROM merged) a
                   GROUP BY grp),
                 out0 AS (SELECT grp, exact_distinct, k_used,
                     CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE)
                       ELSE CAST((k_used - 1) * ${T.HASH_P} AS DOUBLE) / uk
                     END AS kmv_est
                   FROM est JOIN exact USING (grp))
               SELECT grp, exact_distinct, k_used,
                 round(kmv_est, 4) AS kmv_est,
                 round(abs(kmv_est - exact_distinct) / exact_distinct, 4) AS rel_err
               FROM out0 ORDER BY grp"""))
  )
}
