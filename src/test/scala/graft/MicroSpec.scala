package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Hand-checkable micro-assertions (SURVEY §5.2 item 2): each pins one
  * operator's semantics against an independent local (driver-side Scala)
  * computation on sf0.001.
  */
class MicroSpec extends SparkSpec {

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Local copy of the embeddings fixture for independent recomputation. */
  private lazy val localEmb: Map[Long, Array[Double]] =
    Tables.embeddings(spark, sf).collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.toMap

  test("ml_knn: neighbors of vec 0 match a local brute-force computation") {
    def l2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val expected = localEmb.toSeq
      .filter(_._1 != 0L)
      .map { case (id, v) => (id, l2(localEmb(0L), v)) }
      .sortBy { case (id, d) => (d, id) }
      .take(5).map(_._1)
    val got = q("ml_knn").where(col("q_id") === 0).orderBy("rn")
      .select("n_id").collect().map(_.getLong(0)).toSeq
    assert(got == expected, s"got $got expected $expected")
  }

  test("ml_kmeans_assign: every point is closest to its assigned centroid") {
    // invariant: total n_points == embedding count; avg_dist >= 0
    val rows = q("ml_kmeans_assign").collect()
    assert(rows.map(_.getLong(1)).sum == localEmb.size)
    assert(rows.forall(_.getDouble(2) >= 0))
  }

  test("ml_ridge_fit with alpha -> 0 reduces to OLS (closed forms agree)") {
    // Recompute both closed forms from the same local moments.
    val l = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("double"), col("l_extendedprice").cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    val n = l.length.toDouble
    val sx = l.map(_._1).sum; val sy = l.map(_._2).sum
    val sxx = l.map(x => x._1 * x._1).sum; val sxy = l.map(x => x._1 * x._2).sum
    val olsSlope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val ridge0 = (sxy - sx * sy / n) / ((sxx - sx * sx / n) + 0.0)
    assert(math.abs(olsSlope - ridge0) < 1e-9)
    // and the registered queries are consistent with these moments
    val fit = q("ml_linreg_fit").collect().head
    assert(math.abs(fit.getDouble(0) - olsSlope) < 1e-4,
      s"query slope ${fit.getDouble(0)} vs local $olsSlope")
  }

  test("stream_session: sessions of one user match a local gaps-and-islands") {
    val uid = 1L
    val times = Tables.events(spark, sf)
      .where(col("user_id") === uid)
      .select(unix_micros(col("ts").cast("timestamp")))
      .orderBy("unix_micros(CAST(ts AS TIMESTAMP))")
      .collect().map(_.getLong(0)).sorted
    val gapUs = 1800L * 1000000L
    val nSessions = 1 + times.sliding(2).count {
      case Array(a, b) => b - a > gapUs
      case _           => false
    }
    val got = q("stream_session").where(col("user_id") === uid).count()
    assert(got == nSessions, s"got $got expected $nSessions")
  }

  test("win_topk_rownum: top-3 rows are a subset of each customer's orders") {
    val topk = q("win_topk_rownum")
    assert(topk.groupBy("o_custkey").count()
      .where(col("count") > 3).count() == 0)
    // rank-1 rows carry the max price of the customer
    val viaMax = Tables.orders(spark, sf).groupBy("o_custkey")
      .agg(max("o_totalprice").as("mx"))
    val rank1 = topk.where(col("rn") === 1)
      .join(viaMax, "o_custkey")
      .where(col("o_totalprice") =!= col("mx"))
    assert(rank1.count() == 0)
  }

  test("dedup_exact is idempotent: re-running on kept docs finds nothing") {
    val dups = q("dedup_exact")
    val keep = Tables.documents(spark, sf).join(
      dups.select(col("keep_doc")), col("doc_id") === col("keep_doc"), "left_anti")
    // a corpus where every duplicate group lost all but one member has no dups
    val docs = Tables.documents(spark, sf)
    val survivors = docs.join(
      docs.groupBy("text").agg(min("doc_id").as("k")), col("doc_id") === col("k"), "left_semi")
    val again = survivors.groupBy("text").count().where(col("count") > 1).count()
    assert(again == 0)
  }

  test("set algebra: union_distinct == intersect + both excepts (disjoint)") {
    val u = q("set_union_distinct").count()
    val i = q("set_intersect").count()
    val building = Tables.customer(spark, sf)
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey").distinct().count()
    val big = Tables.orders(spark, sf)
      .where(col("o_totalprice") > 150000).select("o_custkey").distinct().count()
    assert(u == building + big - i)
  }

  test("vec kernels: codegen dot/l2 agree with interpreted lambda forms") {
    import graft.functions.Vec
    val e = Tables.embeddings(spark, sf).limit(200)
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).where(col("ia") < col("ib")).limit(500)
    val interpDot = aggregate(
      zip_with(col("ea"), col("eb"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, v) => acc + v)
    val interpL2 = sqrt(aggregate(
      zip_with(col("ea"), col("eb"),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0d), (acc, v) => acc + v))
    val diff = pairs.select(
      abs(Vec.dot(spark, "ea", "eb") - interpDot).as("dd"),
      abs(Vec.l2(spark, "ea", "eb") - interpL2).as("dl"))
      .agg(max("dd"), max("dl")).collect().head
    assert(diff.getDouble(0) == 0.0, s"dot mismatch ${diff.getDouble(0)}")
    assert(diff.getDouble(1) == 0.0, s"l2 mismatch ${diff.getDouble(1)}")
  }

  test("dedup_ngram_jaccard: first pair's score matches a local recomputation") {
    val rows = q("dedup_ngram_jaccard").collect()
    assert(rows.forall { r =>
      val j = r.getDouble(2); j >= 0.5 && j <= 1.0
    })
    if (rows.nonEmpty) {
      val r0 = rows.head
      val texts = Tables.documents(spark, sf)
        .where(col("doc_id").isin(r0.getLong(0), r0.getLong(1)))
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      def grams(t: String): Set[String] = {
        val ts = t.split(" ").filter(_.nonEmpty)
        ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }
      val a = grams(texts(r0.getLong(0))); val b = grams(texts(r0.getLong(1)))
      val local = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(r0.getDouble(2) - local) < 1e-6,
        s"query ${r0.getDouble(2)} vs local $local")
    }
  }

  test("dedup_simhash: fingerprint is word-order-invariant (bag-of-words)") {
    // Docs in the same exact-duplicate group must share a fingerprint; more
    // useful on this fixture: every group the query reports really has
    // n_docs members and n_docs > 1.
    val rows = q("dedup_simhash").collect()
    assert(rows.forall(_.getLong(1) > 1))
    // and fingerprints are 24-bit
    assert(rows.forall { r => val fp = r.getLong(0); fp >= 0 && fp < (1L << 24) })
  }

  test("dedup_embed_cosine: one best neighbor per vector, cos in [-1, 1]") {
    val rows = q("dedup_embed_cosine").collect()
    val ids = rows.map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "duplicate id_a rows")
    assert(rows.forall { r => val c = r.getDouble(2); c >= -1.0001 && c <= 1.0001 })
  }

  test("text_token_count: BPE-ish lexer never yields fewer tokens than whitespace") {
    val rows = q("text_token_count").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(3) >= r.getLong(2)),
      "every whitespace token contains at least one lexer token")
  }

  test("join_asof: picked click is the latest prior click (spot check)") {
    val res = q("join_asof").limit(20).collect()
    assert(res.nonEmpty)
    assert(res.forall(_.getLong(4) >= 0), "as-of lag must be non-negative")
  }

  test("denseIds == row_number() OVER (ORDER BY key), id for id") {
    // the r4 scale-safe vocab assignment must be VALUE-identical to the
    // global window the oracles still use — any divergence silently breaks
    // every affine-hash operator
    import org.apache.spark.sql.expressions.Window
    val terms = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "").distinct()
    val viaZip = Tables.denseIds(terms, "term", "tid")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaWindow = terms
      .select(col("term"), row_number().over(Window.orderBy(col("term"))).as("tid"))
      .collect().map(r => r.getString(0) -> r.getInt(1).toLong).toMap
    assert(viaZip == viaWindow)
    assert(viaZip.values.min == 1L && viaZip.values.max == viaZip.size.toLong)
  }

  test("agg_approx_hll: sketches within 10% of TRUE exact distincts (moved verdict)") {
    // VERDICT r4 #1c moved the exact-vs-sketch accuracy check here so the
    // benched query pays one pass. This is the REAL verdict, against exact
    // countDistinct of BOTH columns (the wire only carries the cheap
    // count(*) exact for the PK column).
    val rows = Tables.orders(spark, sf)
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_orderkey")).as("eo"),
        countDistinct(col("o_custkey")).as("ec"),
        approx_count_distinct(col("o_orderkey"), 0.02).as("ho"),
        approx_count_distinct(col("o_custkey"), 0.02).as("hc"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (eo, ec, ho, hc) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(math.abs(ho - eo).toDouble / eo < 0.10, s"orderkey sketch off: $ho vs $eo")
      assert(math.abs(hc - ec).toDouble / ec < 0.10, s"custkey sketch off: $hc vs $ec")
    }
  }

  test("udtf_generator handles documents longer than any constant oracle bound") {
    // VERDICT r4 #2: the old oracle capped trigram positions at 10000 —
    // prove the registered Spark side is correct on a >10k-char document
    // by recomputing its trigram counts locally.
    val dir = java.nio.file.Files.createTempDirectory("graft_udtf").toString
    val text = (("abcdefg " * 1500) + "zzz").trim // 12002 chars
    import spark.implicits._
    Seq((1L, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("udtf_generator")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val local = text.sliding(3).toSeq.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = local.toSeq.sortBy { case (t, n) => (-n, t) }.take(100).toMap
    assert(got == expected, s"got ${got.size} trigrams, expected ${expected.size}")
    assert(got.values.sum > 10000, "test doc too short to catch a 10k cap")
  }

  test("ml_linreg_multi: coefficients solve the normal equations (local check)") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("double"), col("l_discount").cast("double"),
        col("l_tax").cast("double"), col("l_extendedprice").cast("double"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // local 4x4 normal-equation solve via naive Gaussian elimination
    val x = rows.map { case (q, d, t, _) => Array(1.0, q, d, t) }
    val y = rows.map(_._4)
    val a = Array.ofDim[Double](4, 4); val b = new Array[Double](4)
    for (r <- x.indices; i <- 0 until 4) {
      b(i) += x(r)(i) * y(r)
      for (j <- 0 until 4) a(i)(j) += x(r)(i) * x(r)(j)
    }
    for (k <- 0 until 3; i <- k + 1 until 4) {
      val f = a(i)(k) / a(k)(k)
      for (j <- k until 4) a(i)(j) -= f * a(k)(j)
      b(i) -= f * b(k)
    }
    val sol = new Array[Double](4)
    for (i <- 3 to 0 by -1) {
      var acc = b(i)
      for (j <- i + 1 until 4) acc -= a(i)(j) * sol(j)
      sol(i) = acc / a(i)(i)
    }
    val got = q("ml_linreg_multi").collect().head
    for (i <- 0 until 4)
      assert(math.abs(got.getDouble(i) - sol(i)) < 1e-3,
        s"coef $i: query ${got.getDouble(i)} vs local ${sol(i)}")
  }

  test("win_ntile_cume: salted decomposition == direct window (value identity)") {
    // VERDICT r4 #7: the bucket-offset rank decomposition must reproduce
    // ANSI ntile/cume_dist exactly; compare against the plain window form.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val direct = Tables.orders(spark, sf)
      .select(col("o_orderstatus"), col("o_orderkey"),
        ntile(10).over(w).as("decile"),
        round(cume_dist().over(w), 6).as("cd"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getInt(2), r.getDouble(3))).toMap
    val salted = q("win_ntile_cume")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getInt(2), r.getDouble(3))).toMap
    assert(salted == direct)
  }

  test("ml_kmeans_pp_init: 10 distinct seeds, farthest-point separations non-increasing") {
    val rows = q("ml_kmeans_pp_init").collect()
    assert(rows.length == 10)
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length == 10, "duplicate seed chosen")
    val seps = rows.sortBy(_.getInt(0)).map(_.getDouble(2)).drop(1) // step 1 sep = 0
    assert(seps.zip(seps.tail).forall { case (a, b) => b <= a + 1e-9 },
      s"max-min separation must be non-increasing: ${seps.mkString(", ")}")
  }

  test("denseIds stays correct at range-sampling scale (100k keys)") {
    // The 31-term fixture vocab is below RangePartitioner's sample size,
    // so the small identity test can't catch boundary divergence between
    // the count pass and the zip pass (the hazard that killed the
    // re-planned-branch design, r5). 100k distinct keys force real
    // boundary sampling; ids must still be a permutation of 1..n in key
    // order.
    import spark.implicits._
    val keys = spark.range(100000)
      .selectExpr("concat('k', lpad(cast(id as string), 7, '0')) AS k")
    val ids = Tables.denseIds(keys, "k", "tid").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(ids.length == 100000)
    val sorted = ids.sortBy(_._1)
    assert(sorted.zipWithIndex.forall { case ((_, tid), i) => tid == i + 1L },
      "ids are not 1..n in key order")
  }

  test("Lsh.bitsFor grows the bucket space with corpus size (VERDICT r5 #1)") {
    assert(ops.Lsh.bitsFor(1000) == 8, "fixture scale clamps to the 8-bit floor")
    assert(ops.Lsh.bitsFor(1L << 20, 4096) == 8)  // 1M / 4k-target = 256 buckets
    assert(ops.Lsh.bitsFor(1L << 30, 4096) == 18) // 1G / 4k-target = 262k buckets
    assert(ops.Lsh.bitsFor(Long.MaxValue) == 30,
      "clamped to the int bucket-key budget (hyperplane bits lifted the r5 64-dim cap)")
    // the bound the comments state: per-band candidate cost at the target
    // is n·targetBucket, not n²/256
    val n = 1L << 30
    val buckets = 1L << ops.Lsh.bitsFor(n, 4096)
    assert(n / buckets <= 4096)
  }

  /** Write a minimal 4-column lineitem.parquet into a temp dir and return
    * the dir — the gram4 guard tests point queries at synthetic data. */
  private def lineitemDir(rows: Seq[(Double, Double, Double, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gram4").toString
    rows.toDF("l_quantity", "l_discount", "l_tax", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("gram4: the e4 overflow guard fires LOUDLY past the ceiling (VERDICT r6 #8)") {
    // 100 rows of q=3000, y=3e9: the dominant per-row term q·y₂·100 = 9e16,
    // so the double bound Σ rowMax = 9e18 > the 8.9e18 guard while every
    // long sum stays below 2⁶³ ≈ 9.22e18 — the guard must fail the query
    // before any wrap can happen, never return shifted numbers.
    val dir = lineitemDir(Seq.fill(100)((3000.0, 0.04, 0.02, 3.0e9)))
    val e = intercept[Exception] {
      SparkEntry.queries("ml_linreg_normal_eq")(spark, dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("e4 wire overflow risk")),
      s"expected the loud e4 guard, got: ${msgs(e).mkString(" | ")}")
  }

  test("gram4: the precision guard fires on data finer than the 2-dp wire assumption (ADVICE r6)") {
    // l_discount = 0.005 has 3 dp — the DECIMAL(18,2) cast would silently
    // round it and shift every moment; the guard must raise instead.
    val dir = lineitemDir(Seq.fill(10)((5.0, 0.005, 0.02, 100.0)))
    val e = intercept[Exception] {
      SparkEntry.queries("ml_linreg_normal_eq")(spark, dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("gram4 precision")),
      s"expected the loud precision guard, got: ${msgs(e).mkString(" | ")}")
  }

  test("gram4Decimal fallback equals the long-path moments on the fixture (VERDICT r6 #8)") {
    // The past-the-ceiling path must be VALUE-identical where both paths
    // are exact, so the plan-stats dispatch can never shift a result.
    val raw = Tables.lineitem(spark, sf)
    val longRow = ops.ML.gram4Long(raw).collect().head
    val dec = ops.ML.gram4Decimal(raw)
    val decRow = dec
      .selectExpr(dec.columns.head +: dec.columns.tail.map(c => s"CAST($c AS LONG) AS $c"): _*)
      .collect().head
    for (i <- 0 until 14)
      assert(longRow.getLong(i) == decRow.getLong(i),
        s"moment $i: long ${longRow.getLong(i)} vs decimal ${decRow.getLong(i)}")
  }

  /** All-pairs cosine over the local fixture copy — the independent recall
    * reference for the LSH tests below (VERDICT r5 #2). */
  private lazy val localAllPairs: Seq[((Long, Long), Double)] = {
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val ids = localEmb.keys.toSeq.sorted
    for (i <- ids; j <- ids if i < j) yield ((i, j), cosine(localEmb(i), localEmb(j)))
  }

  test("multimodal_resize_columnar: real columnar execution, bit-equal to the row twin") {
    // (1) value contract: the columnar operator computes the identical
    // summary as the mapPartitions twin — same oracle, same rows
    val rowTwin = q("multimodal_resize").collect().map(_.toSeq).toSeq
    val colDf = q("multimodal_resize_columnar")
    val colTwin = colDf.collect().map(_.toSeq).toSeq
    assert(colTwin.nonEmpty && colTwin == rowTwin,
      s"columnar twin diverged from row twin: ${colTwin.diff(rowTwin).take(3)}")
    // (2) boundary contract: the EXECUTED plan really ran the custom
    // columnar exec between planner-inserted transitions (RowToColumnar
    // below — the child is a row-producing projection — and ColumnarToRow
    // above), i.e. batches actually flowed, this wasn't planned away
    val executed = colDf.queryExecution.executedPlan.toString
    assert(executed.contains("ColumnarResize"), s"custom exec missing:\n$executed")
    assert(executed.contains("RowToColumnar"), s"no row→columnar transition:\n$executed")
    assert(executed.contains("ColumnarToRow"), s"no columnar→row transition:\n$executed")
  }

  test("ml_index_save_load: reloaded index reproduces the in-session search bit-for-bit") {
    // The deploy-boundary contract: parquet round-trips the centroid
    // floats, codebook doubles, and int64 codes losslessly, so the search
    // through the RELOADED artifacts must equal the search through the
    // in-session frames on every row (same ids, same rounded d² bits).
    val (cent, cb, codes) = ops.Pipeline.ivfSq8IndexFrames(spark, sf)
    val inSession = ops.Pipeline.ivfSq8Search(spark, sf, cent, cb, codes)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val reloaded = q("ml_index_save_load")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    assert(reloaded.nonEmpty)
    assert(reloaded == inSession,
      s"reloaded-index search diverged from in-session: ${reloaded.diff(inSession).take(3)}")
  }

  test("ml_index_pq_save_load: reloaded PQ index reproduces ml_knn_pq bit-for-bit") {
    // the PQ deploy contract: codebook doubles (exact ratios of exact
    // sums) and int codes round-trip parquet losslessly, so ADC through
    // the reloaded artifacts equals the in-session ml_knn_pq on every row
    def rows(name: String) = q(name).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val reloaded = rows("ml_index_pq_save_load")
    val inSession = rows("ml_knn_pq")
    assert(reloaded.nonEmpty && reloaded == inSession,
      s"reloaded PQ search diverged: ${reloaded.diff(inSession).take(3)}")
  }

  test("ml_index_incremental: add() through the artifacts equals the in-session merge bit-for-bit") {
    // The faiss add() contract, pinned the dedup_incremental way: the new
    // batch encoded against the RELOADED frozen quantizer and searched
    // through the merged parquet segments must equal the same merge done
    // fully in-session (base frames + ivfSq8Encode of the batch) — the
    // parquet boundary and the segment split are both invisible. (The
    // DuckDB oracle separately pins add() ≡ encode-all-in-one-shot.)
    val e = Tables.embeddings(spark, sf)
    val (cent, cb, baseCodes) =
      ops.Pipeline.ivfSq8IndexFramesOn(e.where(col("vec_id") % 10 =!= 7))
    val batchCodes = ops.Pipeline.ivfSq8Encode(e.where(col("vec_id") % 10 === 7), cent, cb)
    val inSession = ops.Pipeline.ivfSq8Search(
        spark, sf, cent, cb, baseCodes.unionByName(batchCodes))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSeq
    val viaArtifacts = q("ml_index_incremental").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getInt(4))).toSeq
    assert(viaArtifacts.nonEmpty)
    assert(viaArtifacts.map(t => (t._1, t._2, t._3, t._4)) == inSession,
      s"artifact-merged search diverged from in-session merge")
    // the ingested batch is actually reachable: is_new flags agree with the
    // id partition, and at least one ingested vector serves as a neighbor
    assert(viaArtifacts.forall(t => (t._5 == 1) == (t._3 % 10 == 7)))
    assert(viaArtifacts.exists(_._5 == 1),
      "no ingested vector reachable in any top-5 — ingest path dead")
  }

  test("ml_knn_nndescent: one NN-descent round never loses recall@3 vs the IVF seed") {
    // The Dong 2011 convergence direction, pinned on the fixture: the
    // neighbor-of-neighbor candidate set always CONTAINS the current
    // graph (cand ∪= seed edges), so keep-best-k recall vs the exact
    // top-3 is monotone non-decreasing per round by construction —
    // a refactor that breaks the union or the (d, id) keep order shows
    // up here as a recall drop.
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      math.sqrt(acc)
    }
    val exact: Map[Long, Set[Long]] = localEmb.map { case (u, eu) =>
      u -> localEmb.toSeq.filter(_._1 != u)
        .map { case (w, ew) => (w, l2(eu, ew)) }
        .sortBy { case (w, d) => (d, w) }.take(3).map(_._1).toSet
    }
    def recallOf(name: String): Double = {
      val got = q(name).select("vec_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val hits = exact.toSeq.map { case (u, ex) =>
        (got.getOrElse(u, Set.empty) & ex).size
      }.sum
      hits.toDouble / exact.valuesIterator.map(_.size).sum
    }
    val seedR = recallOf("ml_knn_graph")
    val refinedR = recallOf("ml_knn_nndescent")
    info(f"recall@3 vs exact: IVF seed $seedR%.3f -> NN-descent $refinedR%.3f")
    assert(refinedR >= seedR,
      f"NN-descent round lost recall: $refinedR%.3f < seed $seedR%.3f")
    assert(refinedR > 0.5, f"refined recall implausibly low: $refinedR%.3f")
  }

  test("sim_threshold_lsh: every brute-force pair above 0.9 is recalled (VERDICT r5 #2)") {
    // containment on the REGISTERED semantics: recall(lsh vs brute force)
    // at the 0.9 threshold must be 1.0 on this fixture — the design point
    // assertion below makes the guarantee non-vacuous when (as here) the
    // synthetic fixture has no >0.9 pair at all
    val exact = localAllPairs.filter(_._2 > 0.9).map(_._1).toSet
    val lsh = ops.Lsh.candidates(spark, sf, ordered = true)
      .where(col("sim") > 0.9).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh),
      s"brute-force >0.9 pairs missed by the banded LSH: ${exact -- lsh}")
    // the honest sub-knee measurement, recorded (VERDICT r5 #2): the
    // fixture's TOP pairs sit near cosine ~0.45 — far below the
    // amplification knee (1−(1−s^RB)^NB ≥ 0.9 needs cosine ≳ 0.96) — so
    // their recall is structurally low; that is the documented trade-off,
    // not a defect, and the design-point recall is pinned below.
    val top = localAllPairs.sortBy(-_._2).take(50)
    val got = ops.Lsh.candidates(spark, sf, ordered = true)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = top.count(p => got.contains(p._1)).toDouble / top.size
    info(f"fixture top-50 (max sim ${top.head._2}%.3f): sub-knee recall = $recall%.3f")
  }

  test("banded sign-LSH recalls ≥ 85% of planted near-duplicates (design point, VERDICT r5 #2)") {
    // The guarantee the production twins rely on: pairs ABOVE the
    // amplification knee are recalled w.p. 1−(1−s^RB)^NB. Plant 50
    // deterministic near-duplicate twins (~0.99 cosine — additive ±15% rms
    // noise, which DOES flip low-magnitude sign bits) and measure the
    // candidate-generation recall of the banding itself.
    import org.apache.spark.sql.types._
    def sgn(id: Long, d: Int): Double = if ((id * 31 + d * 7 + 3) % 2 == 0) 1.0 else -1.0
    val base = localEmb.toSeq.sortBy(_._1).take(50)
    val planted = base.map { case (id, v) =>
      val rms = math.sqrt(v.map(x => x * x).sum / v.length)
      (id, v, v.zipWithIndex.map { case (x, d) => x + 0.15 * rms * sgn(id, d) })
    }
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val minCos = planted.map(p => cosine(p._2, p._3)).min
    assert(minCos > 0.95, f"planted twins not at the design point: min cosine $minCos%.4f")
    val rows = planted.flatMap { case (id, v, t) =>
      Seq(Row(id, v.map(_.toFloat).toSeq), Row(id + 10000L, t.map(_.toFloat).toSeq))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val banded = ops.Lsh.withBands(df, "embedding")
    val a = banded.select(col("vec_id").as("ia"), col("band"), col("bkey"))
    val b = banded.select(col("vec_id").as("ib"), col("band"), col("bkey"))
    val got = a.join(b, Seq("band", "bkey"))
      .where(col("ia") + 10000L === col("ib"))
      .select("ia").distinct().collect().map(_.getLong(0)).toSet
    val recall = got.size.toDouble / planted.size
    info(f"planted near-dup recall = $recall%.3f (min pair cosine $minCos%.4f)")
    assert(recall >= 0.85, f"design-point recall $recall%.3f below the 0.85 floor")
  }

  test("ml_ridge_multi: alpha -> 0 limit of the 3x3 solve equals the OLS multi solve") {
    // independent local check: solve the centered normal equations with
    // alpha = 0 from local moments and compare to ml_linreg_multi's
    // registered coefficients (which solve the uncentered 4x4 system —
    // algebraically identical at alpha = 0)
    val rows = Tables.lineitem(spark, sf).select(
      col("l_quantity").cast("double"), col("l_discount").cast("double"),
      col("l_tax").cast("double"), col("l_extendedprice").cast("double"))
      .collect().map(r => Array(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val n = rows.length.toDouble
    val k = 3
    val s = Array.fill(k)(0.0); val sy = Array.fill(k)(0.0)
    val ss = Array.fill(k, k)(0.0); var ty = 0.0
    for (r <- rows) {
      ty += r(3)
      for (i <- 0 until k) {
        s(i) += r(i); sy(i) += r(i) * r(3)
        for (j <- 0 until k) ss(i)(j) += r(i) * r(j)
      }
    }
    val c = Array.tabulate(k, k)((i, j) => ss(i)(j) - s(i) * s(j) / n)
    val cy = Array.tabulate(k)(i => sy(i) - s(i) * ty / n)
    // 3x3 Gauss, alpha = 0
    for (p <- 0 until k - 1; i <- p + 1 until k) {
      val f = c(i)(p) / c(p)(p)
      for (j <- p until k) c(i)(j) -= f * c(p)(j)
      cy(i) -= f * cy(p)
    }
    val b = Array.fill(k)(0.0)
    for (i <- k - 1 to 0 by -1) {
      var acc = cy(i)
      for (j <- i + 1 until k) acc -= c(i)(j) * b(j)
      b(i) = acc / c(i)(i)
    }
    val multi = q("ml_linreg_multi").collect().head
    for (i <- 0 until k)
      assert(math.abs(multi.getDouble(i + 1) - b(i)) < 1e-3,
        s"coef $i: query ${multi.getDouble(i + 1)} vs local ${b(i)}")
    // and the registered ridge (alpha = 1000) must SHRINK the solution
    val ridge = q("ml_ridge_multi").collect().head
    val norm0 = b.map(x => x * x).sum
    val normR = (1 to 3).map(ridge.getDouble).map(x => x * x).sum
    assert(normR <= norm0 + 1e-9, s"ridge norm $normR vs OLS $norm0")
  }

  test("ml_lasso_multi: CD fixed point shrinks toward zero and respects the soft threshold") {
    val lasso = q("ml_lasso_multi").collect().head
    val ols = q("ml_linreg_multi").collect().head
    // L1 at lambda = 1000 must not EXPAND any coefficient's magnitude much
    // beyond OLS (CD soft-thresholds every update)
    val l1Lasso = (1 to 3).map(i => math.abs(lasso.getDouble(i))).sum
    val l1Ols = (1 to 3).map(i => math.abs(ols.getDouble(i))).sum
    assert(l1Lasso <= l1Ols * 1.05 + 1e-6, s"lasso L1 $l1Lasso vs OLS L1 $l1Ols")
  }

  test("cdSteps: thresholded-to-zero coefficients carry a POSITIVE zero sign bit (r6 red rows)") {
    // The r6 driver failure: soft-thresholding a negative gradient emits
    // sign(g)·0 = -0.0, and the engines serialize the sign bit differently.
    // cdSteps now appends `+ 0` in the SHARED step text; this pins the
    // Spark side byte-exactly — every zeroed coefficient must be +0.0
    // (raw bits 0), never -0.0 (raw bits 0x8000000000000000).
    for (name <- Seq("ml_lasso_multi", "ml_elasticnet_multi")) {
      val r = q(name).collect().head
      val zeroed = (1 to 3).map(r.getDouble).filter(_ == 0.0)
      assert(zeroed.nonEmpty, s"$name: fixture should threshold ≥1 coefficient to zero")
      zeroed.foreach { v =>
        assert(java.lang.Double.doubleToRawLongBits(v) == 0L,
          s"$name: zeroed coefficient is -0.0 (raw bits ${java.lang.Double.doubleToRawLongBits(v).toHexString})")
      }
    }
  }

  test("ml_linreg_holdout: split sizes ~80/20 and test RMSE is finite and positive") {
    val rows = q("ml_linreg_holdout").collect()
    assert(rows.length == 2)
    val byName = rows.map(r => r.getString(0) -> r).toMap
    val nTrain = byName("train").getLong(1).toDouble
    val nTest = byName("test").getLong(1).toDouble
    val frac = nTrain / (nTrain + nTest)
    assert(frac > 0.75 && frac < 0.85, s"train fraction $frac")
    // both splits scored with the SAME (train-fit) coefficients
    assert(byName("train").getDouble(2) == byName("test").getDouble(2), "slope differs across rows")
    assert(byName("test").getDouble(5) > 0 && !byName("test").getDouble(5).isNaN)
  }

  test("polyTid: Spark rolling hash == local fold, incl. non-ASCII (r6 review)") {
    // the cross-engine term-id contract: the in-plan aggregate() fold must
    // equal the plain Scala fold at any code point (the pre-review 7-char
    // prefix polynomial overflowed BIGINT on astral chars — DuckDB raised,
    // Spark wrapped — and collided 'performance' with 'performing')
    val P = Tables.HASH_P
    def local(t: String): Long =
      t.codePoints().toArray.foldLeft(0L)((a, c) => (a * 31 + c) % P)
    val terms = Seq("a", "performance", "performing", "the", "日本語テスト",
      "emoji😀tail", "internationalization")
    import spark.implicits._
    val got = terms.toDF("term").select(Tables.polyTid("term").as("tid"))
      .collect().map(_.getLong(0)).toSeq
    // Spark substring/length/ascii and DuckDB substr/length/unicode all
    // count CODE POINTS (probed r6: length('emoji😀tail') = 10 and
    // substr(...,6,1) = U+1F600 in both engines), so the code-point fold
    // is the reference
    assert(got == terms.map(local), s"got $got expected ${terms.map(local)}")
    assert(local("performance") != local("performing"))
  }

  test("holdout hi/lo moment split is exact past the 2^63 e4 ceiling (r6)") {
    // ml_linreg_holdout's sum(y²) moment crosses engines as an exact
    // DECIMAL(38,0) cents² sum split into two BIGINTs by 10⁸ (the e4
    // ×10⁴-BIGINT wire overflows at sf0.1: 1.78e19 > 2⁶³). Pin the split
    // on a value ABOVE the ceiling: div/mod must recombine to the exact
    // integer, and the double recombination must equal the directly
    // computed double of the same integer.
    val v = BigDecimal("17799555593794042189") // the measured sf0.1 train sum
    val df = spark.sql(
      "SELECT CAST('17799555593794042189' AS DECIMAL(38,0)) AS syyc")
    val r = df.selectExpr(
      "syyc div 100000000 AS hi", "CAST(syyc % 100000000 AS BIGINT) AS lo",
      "CAST(syyc div 100000000 AS DOUBLE) * 1e8 + CAST(syyc % 100000000 AS DOUBLE) AS d")
      .collect().head
    assert(BigDecimal(r.getLong(0)) * BigDecimal(100000000L) + r.getLong(1) == v)
    assert(r.getDouble(2) == v.toDouble)
  }

  test("minhash BAND_CAP: 2×4 cap drops nothing on the fixture; 4×2 capped ⊆ uncapped (VERDICT r11 #2)") {
    // production config (2×4 bands): fixture max band-bucket is 3 (sf0.01)
    // / 4 (sf0.1), far under BAND_CAP = 64 — the capped pair set must be
    // IDENTICAL, so every minhashPairs consumer (dedup_minhash/_cluster/
    // _pipeline/_contamination, graph_*) keeps its uncapped oracle. The
    // cap only has teeth on hot boilerplate buckets at corpus scale —
    // and on the sweep's sensitive 4×2 split, where sf0.1's max bucket
    // is 156: there the capped set must be a strict subset (the dropped
    // bucket's pairs and nothing else), which dedup_lsh_band_sweep's
    // oracle mirrors with the same HAVING count(*) <= cap.
    def pairs(cap: Int) = ops.TextSim.minhashPairsForTest(spark, sf, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(ops.TextSim.BAND_CAP) == pairs(Int.MaxValue))
    def banded(cap: Int) = ops.TextSim.bandedPairsForTest(spark, sf, 4, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (capped, uncapped) = (banded(ops.TextSim.BAND_CAP), banded(Int.MaxValue))
    assert(capped.subsetOf(uncapped),
      "capped 4×2 pair set must never invent pairs")
  }

  test("ml_model_save_load: reloaded coefficients are bit-identical to the in-session fit") {
    // the deploy boundary (VERDICT r11 missing #4): parquet doubles are
    // lossless, so dump → load must reproduce the gauss-solved x0..x3
    // exactly — no tolerance
    SparkEntry.queries("ml_model_save_load")(spark, sf).collect() // writes the artifact
    val path = s"/tmp/graft_io/model_${sf.replaceAll("[^A-Za-z0-9.]", "_")}"
    val re = spark.read.parquet(path)
      .select("x0", "x1", "x2", "x3").collect().head
    val fit = ops.ML.gaussSolved(spark, sf)
      .select("x0", "x1", "x2", "x3").collect().head
    for (i <- 0 until 4)
      assert(java.lang.Double.doubleToRawLongBits(re.getDouble(i)) ==
        java.lang.Double.doubleToRawLongBits(fit.getDouble(i)),
        s"x$i changed across the parquet roundtrip")
  }

  test("ml_kmeans_scalable_init: seeding invariants (VERDICT r11 #5)") {
    // Bahmani contract on the fixture: the clustering cost φ is monotone
    // non-increasing across passes (adding candidates can only shrink a
    // min-distance), the candidate set only grows, and pass 0 starts from
    // exactly ONE seed (the affine-hash pick, the ml_kmeans_pp_init rule)
    val rows = SparkEntry.queries("ml_kmeans_scalable_init")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    assert(rows.head._2 == 1L, "pass 0 must hold exactly the one hash seed")
    assert(rows.sliding(2).forall { case Seq(a, b) => b._2 >= a._2 },
      s"candidate count must be non-decreasing: ${rows.mkString(",")}")
    assert(rows.sliding(2).forall { case Seq(a, b) => b._3 <= a._3 },
      s"phi must be monotone non-increasing: ${rows.mkString(",")}")
    assert(rows.last._2 > 10, "3 oversampling passes should exceed k = 10 candidates")
  }

  test("ml_kmeans_parallel_recluster: k distinct centers, weights bounded by corpus") {
    val rows = SparkEntry.queries("ml_kmeans_parallel_recluster")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 10)
    assert(rows.map(_._2).distinct.length == 10, "centers must be distinct docs")
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_._3).sum <= n, "assigned weights cannot exceed the corpus")
    assert(rows.forall(_._3 >= 1L), "every selected center carries mass")
  }

  test("dedup_ngram_jaccard: df cap drops nothing on the fixture (VERDICT r5 #9)") {
    // measured max gram df is 7 (sf0.01) / 25 (sf0.1), both < DF_CAP = 64,
    // so the capped index must produce the identical pair set; the cap
    // only has teeth on adversarial stop-gram corpora
    def rows(cap: Int) = ops.Dedup.ngramJaccard(spark, sf, cap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(ops.Dedup.DF_CAP) == rows(Int.MaxValue))
  }

  test("e4 wire guard raises on overflow instead of silently NULLing") {
    // ADVICE r3: a sum whose ×10⁴ scaling exceeds ~2⁶³ must fail loudly
    import spark.implicits._
    val big = Seq(java.math.BigDecimal.valueOf(1e15))
      .toDF("v").select(col("v").cast(org.apache.spark.sql.types.DecimalType(30, 4)).as("v"))
    val guarded = big.select(ops.ML.e4ForTest(sum(col("v"))).as("s"))
    val ex = intercept[Exception] { guarded.collect() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(ex).exists(_.contains("e4 wire overflow")), chain(ex).mkString(" | "))
  }

  // ---- ml_dbscan (r6 second half) ----------------------------------------

  /** Independent local DBSCAN on dims 1–2 of the fixture, same arithmetic. */
  private lazy val localDbscan: Map[Long, (String, Long)] = {
    val eps2 = ops.Cluster.EPS * ops.Cluster.EPS
    val pts = localEmb.toSeq.map { case (id, v) => (id, v(0), v(1)) }.sortBy(_._1)
    val nbr = collection.mutable.Map[Long, List[Long]]().withDefaultValue(Nil)
    for (i <- pts.indices; j <- i + 1 until pts.size) {
      val (ia, xa, ya) = pts(i); val (ib, xb, yb) = pts(j)
      if ((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= eps2) {
        nbr(ia) = ib :: nbr(ia); nbr(ib) = ia :: nbr(ib)
      }
    }
    val core = pts.map(_._1).filter(id => nbr(id).size + 1 >= ops.Cluster.MIN_PTS).toSet
    // min-label fixpoint over core-core edges (the unique component min)
    val lbl = collection.mutable.Map[Long, Long](core.toSeq.map(c => c -> c): _*)
    var changed = true
    while (changed) {
      changed = false
      for (c <- core; n <- nbr(c) if core(n) && lbl(n) < lbl(c)) {
        lbl(c) = lbl(n); changed = true
      }
    }
    pts.map { case (id, _, _) =>
      if (core(id)) id -> ("core", lbl(id))
      else {
        val coreNb = nbr(id).filter(core)
        if (coreNb.nonEmpty) id -> ("border", coreNb.map(lbl).min)
        else id -> ("noise", -1L)
      }
    }.toMap
  }

  test("ml_dbscan: grid candidate join finds exactly the brute-force eps-pairs") {
    // the 3×3 cell probe is Spark-side pruning the oracle doesn't mirror —
    // pin its completeness independently (any eps-pair spans ≤ 1 cell index
    // per axis because the cell side IS eps)
    val got = ops.Cluster.epsPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val eps2 = ops.Cluster.EPS * ops.Cluster.EPS
    val want = (for {
      (ia, va) <- localEmb.toSeq; (ib, vb) <- localEmb.toSeq
      if ia < ib
      dx = va(0) - vb(0); dy = va(1) - vb(1)
      if dx * dx + dy * dy <= eps2
    } yield (ia, ib)).toSet
    assert(got == want, s"grid pairs ${got.size} vs brute ${want.size}")
  }

  test("ml_dbscan: roles and cluster labels match an independent local DBSCAN") {
    val got = q("ml_dbscan").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == localDbscan,
      s"diff: ${(got.toSet diff localDbscan.toSet).take(5)} / ${(localDbscan.toSet diff got.toSet).take(5)}")
  }

  test("ml_knn_graph: every edge distance matches the true L2, 3 edges per vector") {
    def l2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val rows = q("ml_knn_graph").collect()
    assert(rows.length == 3 * localEmb.size)
    rows.foreach { r =>
      val (q0, n0, d) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      assert(math.abs(d - l2(localEmb(q0), localEmb(n0))) < 1e-5,
        s"edge ($q0,$n0) dist $d")
    }
  }

  test("sumE12/bitsE12 wire: exact for 12-dp addends, same bits as plain double math") {
    // the bit-identical wire behind ml_logreg_multi (r6): integer-scaled
    // exact sum + hi/lo split. 0.25 scales to exactly 250000000000 (the
    // FLOAT-promotion bug made DuckDB produce 249999998976 — pinned in
    // the oracle, this is the Spark half), and the split conversion of a
    // known sum must equal the correctly-rounded double.
    import spark.implicits._
    val df = Seq(0.25, 0.25, 1929.095e-3, -52.255).toDF("v")
    val s = df.agg(Tables.sumE12(col("v")).as("s"))
    val got = s.selectExpr(s"${Tables.bitsE12("s")} AS d").collect().head.getDouble(0)
    val want = (BigDecimal("0.25") + BigDecimal("0.25") +
      BigDecimal("1.929095") - BigDecimal("52.255")).toDouble
    assert(got == want, s"got $got want $want")
  }

  test("ml_pca_covariance: emitted means match the local column means") {
    val r = q("ml_pca_covariance").collect().head
    val n = localEmb.size.toDouble
    for ((idx, gotCol) <- Seq(0 -> 4, 1 -> 5, 2 -> 6)) {
      val want = localEmb.values.map(_(idx)).sum / n
      assert(math.abs(r.getDouble(gotCol) - want) < 1e-5,
        s"mean[$idx]: got ${r.getDouble(gotCol)} want $want")
    }
  }

  test("ml_target_encode: mean of LOO encodings equals the raw category mean (r7)") {
    // algebra: mean_i (S−y_i)/(n−1) = (nS−S)/(n(n−1)) = S/n — the LOO
    // transform is unbiased per category; float noise only
    for (r <- q("ml_target_encode").collect()) {
      assert(math.abs(r.getDouble(2) - r.getDouble(5)) < 1e-4,
        s"${r.getString(0)}: avg_enc ${r.getDouble(2)} != raw_mean ${r.getDouble(5)}")
    }
  }

  test("ml_kfold_cv: folds partition lineitem and every validation RMSE is finite (r7)") {
    val rows = q("ml_kfold_cv").collect()
    assert(rows.length == 5)
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total,
      s"fold sizes ${rows.map(_.getLong(1)).toSeq} don't sum to $total")
    assert(rows.forall(r => r.getDouble(4) > 0 && !r.getDouble(4).isNaN))
  }

  test("ml_v_measure: harmonic-mean identity against ml_mutual_info's entropies (r7)") {
    val mi = q("ml_mutual_info").collect().head
    val vm = q("ml_v_measure").collect().head
    val (m, hTrue, hPred) = (mi.getDouble(0), mi.getDouble(1), mi.getDouble(2))
    assert(math.abs(vm.getDouble(0) - m / hTrue) < 1e-5)   // homogeneity
    assert(math.abs(vm.getDouble(1) - m / hPred) < 1e-5)   // completeness
    assert(math.abs(vm.getDouble(2) - 2 * m / (hTrue + hPred)) < 1e-5)
  }

  test("ml_quantile_transform: ECDF output is a valid distribution map (r7)") {
    // max quantity maps to exactly 1.0; every transformed value in (0, 1]
    val rows = q("ml_quantile_transform").collect()
    assert(rows.forall(r => r.getDouble(3) > 0 && r.getDouble(4) <= 1.0))
    assert(rows.exists(_.getDouble(4) == 1.0))
  }

  test("ml_avg_precision: AP and AUC agree on ordering quality bounds (r7)") {
    val ap = q("ml_avg_precision").collect().head
    val prevalence = ap.getLong(1).toDouble / (ap.getLong(1) + ap.getLong(2))
    // a score with AUC > 0.5 must have AP above prevalence-at-random floor × 0.9
    assert(ap.getDouble(0) > prevalence * 0.9 && ap.getDouble(0) <= 1.0)
  }

  test("ml_incremental_pca: shard partials sum exactly to the merged row (r7)") {
    val rows = q("ml_incremental_pca").collect()
    val (shards, merged) = rows.partition(_.getInt(0) >= 0)
    assert(shards.length == 4 && merged.length == 1)
    val m = merged.head
    assert(shards.map(_.getLong(1)).sum == m.getLong(1)) // n merges exactly
    for (c <- 2 to 6) { // s1, s2, s11, s12, s22 — rounded shard values re-sum
      assert(math.abs(shards.map(_.getDouble(c)).sum - m.getDouble(c)) < 1e-4,
        s"col $c: ${shards.map(_.getDouble(c)).sum} vs ${m.getDouble(c)}")
    }
    assert(m.getDouble(7) > 0) // top eigenvalue of a covariance is positive
  }

  test("ml_precision_recall_curve: recall is monotone and reaches 1.0 (r7)") {
    val rows = q("ml_precision_recall_curve").collect() // threshold DESC
    val recalls = rows.map(_.getDouble(2)).toSeq
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b })
    assert(recalls.last == 1.0)
    assert(rows.forall(r => r.getDouble(1) > 0 && r.getDouble(1) <= 1.0))
  }

  test("ml_knn_predict_proba: per-query probabilities sum to 1 (r7)") {
    val byQ = q("ml_knn_predict_proba").collect().groupBy(_.getLong(0))
    assert(byQ.size == 20)
    for ((qid, rows) <- byQ) {
      val s = rows.map(_.getDouble(3)).sum
      assert(math.abs(s - 1.0) < 1e-12, s"q $qid proba sum $s")
    }
  }

  test("ml_make_blobs: generated moments recover the declared centers and std (r7)") {
    // Pins the generator's mixing quality: a degenerate uniform stream
    // (e.g. an unmixed single-round LCG on small ids) would skew the
    // Box-Muller output far outside these bands.
    val centers = Map(0L -> (0.0, 0.0), 1L -> (4.0, 0.0), 2L -> (0.0, 4.0), 3L -> (4.0, 4.0))
    val rows = q("ml_make_blobs").collect()
    assert(rows.length == 4 && rows.map(_.getLong(1)).sum == 1000)
    for (r <- rows) {
      val (cx, cy) = centers(r.getLong(0))
      assert(math.abs(r.getDouble(2) - cx) < 0.15, s"mean_x ${r.getDouble(2)} vs $cx")
      assert(math.abs(r.getDouble(4) - cy) < 0.15, s"mean_y ${r.getDouble(4)} vs $cy")
      assert(r.getDouble(3) > 0.4 && r.getDouble(3) < 0.6, s"std_x ${r.getDouble(3)}")
      assert(r.getDouble(5) > 0.4 && r.getDouble(5) < 0.6, s"std_y ${r.getDouble(5)}")
    }
  }

  test("ml_tsne_affinity: the symmetrized joint P is a distribution (r7)") {
    // Σ_ordered P_ij = 1 ⟺ Σ over unordered rows of p_sym = 0.5 (each row
    // carries both directions once); every affinity strictly positive.
    val ps = q("ml_tsne_affinity").collect().map(_.getDouble(2))
    assert(ps.forall(_ > 0))
    assert(math.abs(ps.sum - 0.5) < 1e-4, s"sum ${ps.sum}")
  }

  test("ml_umap_graph: t-conorm symmetrization dominates both directions (r7)") {
    for (r <- q("ml_umap_graph").collect()) {
      val (ab, ba, sym) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(sym >= math.max(ab, ba) - 1e-9 && sym <= 1.0 + 1e-9, s"$ab $ba $sym")
      assert(math.abs(sym - (ab + ba - ab * ba)) < 2e-6)
    }
  }

  test("ml_umap_layout: the step is a real contraction signal, not NaN (r8)") {
    val rows = q("ml_umap_layout").collect()
    assert(rows.length == 30)
    for (r <- rows) {
      val step = r.getDouble(5)
      assert(!step.isNaN && step >= 0, s"step $step")
      // one lr=0.1 step over unit-scale coordinates cannot teleport
      assert(step < 10.0, s"step $step")
    }
  }

  test("ml_tsne_layout: pairwise forces cancel, so the center of mass is fixed (r8)") {
    val rows = q("ml_tsne_layout").collect()
    assert(rows.length == 30)
    // p, q and w are symmetric, so each pair's gradient terms are equal
    // and opposite — one step cannot move the centroid (up to 6-dp wire)
    val dx = rows.map(r => r.getDouble(3) - r.getDouble(1)).sum
    val dy = rows.map(r => r.getDouble(4) - r.getDouble(2)).sum
    assert(math.abs(dx) < 1e-4 && math.abs(dy) < 1e-4, s"$dx $dy")
  }

  test("ml_kmeans_converge: converged is a terminal flag and shifts stay positive (r8)") {
    val rows = q("ml_kmeans_converge").orderBy(col("iter")).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.forall(_.getDouble(1) > 0))
    // only the last row may be converged; every earlier shift beats tol
    assert(rows.init.forall(!_.getBoolean(2)))
    if (rows.last.getBoolean(2)) assert(rows.last.getDouble(1) <= 1e-4 + 1e-12)
  }

  test("ml_umap_converge: cross-entropy descends monotonically over 5 steps (r9)") {
    val rows = q("ml_umap_converge").orderBy(col("iter")).collect()
    assert(rows.length == 5)
    val ce = rows.map(_.getDouble(3))
    ce.sliding(2).foreach { case Array(a, b) =>
      assert(b < a, s"ce_total not monotone: ${ce.toSeq}")
    }
    // descent slows: the mean step shrinks after the big first move
    val steps = rows.map(_.getDouble(4))
    assert(steps.forall(_ > 0) && steps.last < steps.head)
  }

  test("ml_tsne_converge: KL descends monotonically over 5 steps (r9)") {
    val rows = q("ml_tsne_converge").orderBy(col("iter")).collect()
    assert(rows.length == 5)
    val kl = rows.map(_.getDouble(1))
    kl.sliding(2).foreach { case Array(a, b) =>
      assert(b < a, s"kl not monotone: ${kl.toSeq}")
    }
    assert(kl.forall(_ > 0), "KL divergence is nonnegative")
  }

  test("ml_hdbscan_dendrogram: Boruvka forest obeys the handshake (r9)") {
    val rows = q("ml_hdbscan_dendrogram").orderBy(col("cut")).collect()
    assert(rows.length == 3)
    // all mutual-reachability edges have w <= horizon, so the top cut sees
    // the whole graph: no noise, and the forest handshake — MST edge count
    // = nodes − components — holds per component summed
    val top = rows.last
    assert(top.getLong(3) == 0, "no noise at the horizon cut")
    assert(top.getLong(4) == top.getLong(5) - top.getLong(1),
      s"mst_edges ${top.getLong(4)} != nodes ${top.getLong(5)} - components ${top.getLong(1)}")
    // single-linkage monotonicity: raising λ can only merge, never split
    rows.map(_.getLong(2)).sliding(2).foreach { case Array(a, b) =>
      assert(b >= a, "n_clustered nondecreasing in cut")
    }
  }

  test("text_pii_redact: the shared patterns actually redact (r10)") {
    // The corpus is synthetic word-salad with zero PII, so the registered
    // row's audit proves zeros; THIS pins the machinery on a fixture that
    // does contain all three types — same shared Column, same patterns.
    import spark.implicits._
    val docs = Seq(
      "contact me at alice.smith+test@example.co.uk today",
      "server at 192.168.1.254 timed out",
      "call +1 (555) 123-4567 or +44 20 7946 0958",
      "no pii here at all").toDF("text")
    val red = docs.select(graft.ops.Pipeline.piiRedact(col("text")).as("r"))
      .collect().map(_.getString(0))
    assert(red(0) == "contact me at <EMAIL> today", red(0))
    assert(red(1) == "server at <IP> timed out", red(1))
    assert(red(2) == "call <PHONE> or <PHONE>", red(2))
    assert(red(3) == "no pii here at all", red(3))
    // and the corpus really is PII-free — the row's zeros aren't vacuous
    val z = q("text_pii_redact")
      .agg((sum(col("n_emails")) + sum(col("n_ips")) +
        sum(col("n_phones"))).as("t")).collect()(0)
    assert(z.getLong(0) == 0L)
  }

  test("ml_lof: scores are positive and inliers sit near 1 (r10)") {
    val rows = q("ml_lof").collect()
    assert(rows.nonEmpty)
    // LOF is a positive ratio of local reachability densities; the top-k
    // list is sorted descending and deterministic on ties
    val lofs = rows.map(_.getDouble(1))
    assert(lofs.forall(_ > 0))
    assert(lofs.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    // every listed point carries at least MIN_PTS-worth of neighbors? no:
    // n_k counts core neighbors within k-distance — at least 1 by
    // construction (inner joins), bounded by the in-horizon degree
    assert(rows.map(_.getLong(2)).forall(_ >= 1))
  }

  test("ml_hdbscan_glosh: scores in [0,1], noise row accounts for the rest (r10)") {
    val rows = q("ml_hdbscan_glosh").collect()
    val noise = rows.filter(_.getLong(0) == -1L)
    assert(noise.length == 1 && noise.head.getDouble(3) == 1.0)
    val clustered = rows.filter(_.getLong(0) >= 0L)
    assert(clustered.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) < 1.0))
    // a cluster's densest join level scores exactly 0 (its own core)
    val byCluster = clustered.groupBy(_.getLong(0))
    byCluster.foreach { case (_, rs) =>
      assert(rs.minBy(_.getInt(1)).getDouble(3) == 0.0)
    }
    // universe accounting: clustered + noise = all embedding rows
    val total = rows.map(_.getLong(2)).sum
    assert(total == Tables.embeddings(spark, sf).count())
  }

  test("ml_hdbscan_predict: 20 queries, noise iff no labeled neighbor (r10)") {
    val rows = q("ml_hdbscan_predict").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (cluster, level, dist) = (r.getLong(1), r.getInt(2), r.getDouble(3))
      assert(Set(-1, 1, 2, 3).contains(level), s"bad level $level")
      // cluster and level are -1 together (noise), never one-sided
      assert((cluster == -1L) == (level == -1), s"cluster $cluster level $level")
      // no in-horizon neighbor (dist sentinel) forces noise
      if (dist == -1.0) assert(cluster == -1L)
      else assert(dist >= 0.0 && dist <= 0.01 + 1e-9, s"dist $dist > horizon")
    }
    // the fixture is dense enough that at least one query lands in a cluster
    assert(rows.exists(_.getLong(1) >= 0L))
  }

  test("boruvkaMst: distributed rounds == local Kruskal, same unique MST (r10)") {
    // Pins the Filtering local-finish equivalence claim (Cluster.boruvkaMst
    // doc): under the strict (w, a, b) total edge order the MSF is unique,
    // so the fully-distributed loop (localFinish=0 — never collect) and
    // pure driver Kruskal (localFinish=MaxValue — collect immediately)
    // must emit the identical edge set. Graph: two components with
    // deliberate weight TIES so the tie-break is exercised.
    import spark.implicits._
    val edges = Seq(
      (1L, 2L, 0.5), (2L, 3L, 0.5), (1L, 3L, 0.5), // tied triangle
      (3L, 4L, 0.2), (4L, 5L, 0.9), (3L, 5L, 0.9), // tied heavier pair
      (10L, 11L, 0.1), (11L, 12L, 0.3), (10L, 12L, 0.05) // second comp
    ).toDF("a", "b", "w")
    def mstSet(localFinish: Long) =
      graft.ops.Cluster.boruvkaMst(spark, edges, localFinish)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dist = mstSet(0L)
    val local = mstSet(Long.MaxValue)
    assert(dist == local, s"distributed $dist != local $local")
    // forest handshake: 8 vertices, 2 components -> 6 MST edges
    assert(dist.size == 6, s"expected 6 MST edges, got ${dist.size}")
    // the tied triangle resolves lexicographically: (1,2,.5) and (1,3,.5)
    assert(dist.contains((1L, 2L, 0.5)) && dist.contains((1L, 3L, 0.5)) &&
      !dist.contains((2L, 3L, 0.5)), "tie-break not lexicographic")
  }

  test("ml_tree_depth2: child nodes partition the root's branches (r8)") {
    val rows = q("ml_tree_depth2").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("root", "L", "R"))
    val (root, l, r) = (rows("root"), rows("L"), rows("R"))
    // each child's total rows = the root branch that feeds it, same for
    // the positive counts — the level-2 pass saw exactly the level-1 split
    assert(l.getLong(4) + l.getLong(6) == root.getLong(4))
    assert(r.getLong(4) + r.getLong(6) == root.getLong(6))
    assert(l.getLong(5) + l.getLong(7) == root.getLong(5))
    assert(r.getLong(5) + r.getLong(7) == root.getLong(7))
    // a child's best weighted gini cannot exceed 0.5 (binary impurity cap)
    assert(l.getDouble(3) <= 0.5 && r.getDouble(3) <= 0.5)
  }

  test("ml_rf_regress: patterns partition lineitem, predictions stay in the target hull (r7)") {
    val rows = q("ml_rf_regress").collect()
    val total = Tables.lineitem(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total)
    val (lo, hi) = {
      val mm = Tables.lineitem(spark, sf)
        .agg(min(col("l_extendedprice").cast("double")),
          max(col("l_extendedprice").cast("double"))).collect()(0)
      (mm.getDouble(0), mm.getDouble(1))
    }
    // a mean of leaf means can't leave the hull of leaf means, which
    // themselves are means of observed targets
    assert(rows.forall(r => r.getDouble(2) >= lo && r.getDouble(2) <= hi))
  }

  test("ml_radius_neighbors: per-query stats are internally consistent (r7)") {
    val rows = q("ml_radius_neighbors").collect()
    assert(rows.length == 40)
    for (r <- rows; if r.getLong(1) > 0) {
      assert(r.getDouble(2) <= r.getDouble(3) + 1e-9,
        s"min ${r.getDouble(2)} > mean ${r.getDouble(3)}")
      assert(r.getDouble(3) <= 0.01 + 1e-9)
    }
  }

  test("ml_svm_predict: confusion counts partition the training set (r7)") {
    val r = q("ml_svm_predict").collect()(0)
    val (n, tp, fp, fn, tn) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(tp + fp + fn + tn == n)
    assert(math.abs(r.getDouble(5) - (tp + tn).toDouble / n) < 1e-6)
  }

  test("ml_msle: rmsle is the square root of msle and both are finite (r7)") {
    val r = q("ml_msle").collect()(0)
    assert(r.getDouble(1) >= 0)
    assert(math.abs(math.sqrt(r.getDouble(1)) - r.getDouble(2)) < 1e-5)
  }

  test("ml_auto_arima: exactly one candidate selected, at the minimum AIC (r7)") {
    val rows = q("ml_auto_arima").collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getDouble(3) > 0), "non-positive SSR")
    val sel = rows.filter(_.getBoolean(5))
    assert(sel.length == 1, s"selected ${sel.length}")
    assert(sel.head.getDouble(4) == rows.map(_.getDouble(4)).min)
  }

  test("ml_shap_linear: additivity gap rounds to zero, base value shared (r7)") {
    val rows = q("ml_shap_linear").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(6) == 0.0), "additivity violated")
    assert(rows.map(_.getDouble(5)).distinct.length == 1, "base value differs by group")
  }

  test("ml_make_regression: recovered slopes match the declared coefficients (r7)") {
    val r = q("ml_make_regression").collect()(0)
    assert(r.getLong(0) == 1000)
    assert(math.abs(r.getDouble(1)) < 0.15, s"mean_f1 ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(3) - 3.0) < 0.3, s"slope_f1 ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) + 1.5) < 0.3, s"slope_f2 ${r.getDouble(4)}")
    assert(math.abs(r.getDouble(5) - 0.5) < 0.3, s"slope_f3 ${r.getDouble(5)}")
  }

  test("ml_hdbscan_reach: cluster label is the component-min member id (r7)") {
    for (r <- q("ml_hdbscan_reach").collect()) {
      assert(r.getLong(1) >= 2, "singleton cluster emitted")
      assert(r.getLong(0) == r.getLong(2), "label != min member")
      assert(r.getLong(2) <= r.getLong(3))
    }
  }

  test("ml_mbsgd_classifier: three minibatch steps, each on its own batch (r7)") {
    val rows = q("ml_mbsgd_classifier").orderBy(col("step")).collect()
    assert(rows.length == 3)
    for (r <- rows) assert(r.getInt(1) == r.getInt(0) - 1)
    val acc = rows.head.getDouble(5)
    assert(acc > 0 && acc <= 1.0)
    assert(rows.forall(_.getDouble(5) == acc)) // accuracy is the FINAL model's
  }

  test("ml_pca_inverse: the Pythagorean residual stays inside [0, mean_norm2] (r7)") {
    for (r <- q("ml_pca_inverse").collect()) {
      val (norm2, resid2, ratio) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(resid2 >= -1e-9 && resid2 <= norm2 + 1e-9, s"$resid2 vs $norm2")
      assert(ratio > 0 && ratio <= 1.0 + 1e-9)
    }
  }

  test("ml_roc_curve: fpr/tpr are monotone non-decreasing and end at (1,1) (r7)") {
    val rows = q("ml_roc_curve").orderBy(col("thr").desc).collect()
    assert(rows.length > 5)
    val pts = rows.map(r => (r.getDouble(1), r.getDouble(2)))
    for (Array((f0, t0), (f1, t1)) <- pts.sliding(2)) {
      assert(f1 >= f0, s"fpr decreased: $f0 -> $f1")
      assert(t1 >= t0, s"tpr decreased: $t0 -> $t1")
    }
    assert(pts.last == ((1.0, 1.0)), s"curve ends at ${pts.last}")
  }

  test("ml_kmeans_score: score is exactly -inertia and covers every point (r7)") {
    val r = q("ml_kmeans_score").collect()(0)
    assert(r.getDouble(2) == -r.getDouble(1))
    // same model as ml_kmeans_assign: the global inertia-bearing pass must
    // count the whole corpus (every vector has a nearest centroid)
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(r.getLong(0) == total, s"${r.getLong(0)} != $total")
  }

  test("ml_kpss_test: statistic positive, agrees with the ADF verdict direction (r7)") {
    val r = q("ml_kpss_test").collect()(0)
    assert(r.getDouble(1) > 0, "long-run variance must be positive")
    assert(r.getDouble(2) > 0, "KPSS statistic must be positive")
    // the daily-count fixture series is mean-reverting: ADF rejects the
    // unit root AND KPSS fails to reject stationarity — the two tests the
    // reference surface pairs must agree on this fixture
    val adf = q("ml_adf_test").collect()(0)
    assert(adf.getBoolean(3) == r.getBoolean(3),
      s"ADF says stationary=${adf.getBoolean(3)}, KPSS says ${r.getBoolean(3)}")
  }

  test("ml_knn_manhattan: L1 dominates L2 on every shared neighbor pair (r7)") {
    val l1 = q("ml_knn_manhattan").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val l2 = q("ml_knn").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(l1.size == 100)
    val shared = l1.keySet intersect l2.keySet
    assert(shared.nonEmpty, "no overlapping (query, neighbor) pairs to cross-check")
    for (k <- shared)
      assert(l1(k) >= l2(k) - 1e-6, s"L1 ${l1(k)} < L2 ${l2(k)} at $k")
  }

  test("ml_kernel_ridge: predictions finite, inside the landmark target hull + slack (r7)") {
    val rows = q("ml_kernel_ridge").collect()
    assert(rows.length == 10)
    val preds = rows.map(_.getDouble(2))
    assert(preds.forall(p => !p.isNaN && !p.isInfinite))
    // dual weights are bounded by (K+λI)⁻¹y with K ⪰ 0, so |ŷ| ≤ 3·max|y|/λ
    // is a loose sanity ceiling; the tight check is that the kernel
    // actually discriminates: not all queries score identically
    assert(preds.distinct.length > 1, "kernel scores are degenerate")
    assert(preds.forall(p => math.abs(p) < 100.0), s"runaway prediction: ${preds.max}")
  }

  test("ml_nb_complement: confusion partitions the corpus and beats chance (r7)") {
    val rows = q("ml_nb_complement").collect()
    val total = rows.map(_.getLong(2)).sum
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(total == docs, s"$total != $docs")
    // the whitespace-token fixture is a hard task (MNB itself sits ~0.47);
    // the pin is "well above 5-class chance", not absolute quality
    val diag = rows.filter(r => r.getString(0) == r.getString(1)).map(_.getLong(2)).sum
    assert(diag.toDouble / total > 0.3, s"CNB accuracy ${diag.toDouble / total}")
  }

  test("text_porter_stem: cascade reproduces the canonical Porter step-1 examples (r7)") {
    import spark.implicits._
    // the exact example set from Porter's 1980 paper for steps 1a/1b/1c,
    // plus the y/measure edge cases the encoding must get right
    val cases = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agree",
      "plastered" -> "plaster", "bled" -> "bled",
      "motoring" -> "motor", "sing" -> "sing",
      "conflated" -> "conflate", "troubled" -> "trouble", "sized" -> "size",
      "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
      "hissing" -> "hiss", "fizzed" -> "fizz",
      "failing" -> "fail", "filing" -> "file",
      "happy" -> "happi", "sky" -> "sky")
    val df = cases.map(_._1).toDF("tok")
    val out = ops.Pipeline.porterSteps(spark = true)
      .foldLeft(df) { case (d, (nm, ex)) => d.selectExpr("*", s"$ex AS $nm") }
      .select("tok", "stem").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    for ((w, want) <- cases)
      assert(out(w) == want, s"stem($w) = ${out(w)}, want $want")
  }

  test("ml_make_classification: centers recovered, redundant identity, separable (r7)") {
    val rows = q("ml_make_classification").orderBy(col("label")).collect()
    assert(rows.length == 2)
    for (r <- rows) {
      val c = if (r.getLong(0) == 1) 2.0 else -2.0
      assert(math.abs(r.getDouble(2) - c) < 0.15, s"mean_f1 ${r.getDouble(2)}")
      assert(math.abs(r.getDouble(3) - c) < 0.15, s"mean_f2 ${r.getDouble(3)}")
      // f3 = 2 f1 - f2 exactly, so the means obey the same identity
      assert(math.abs(r.getDouble(4) - (2 * r.getDouble(2) - r.getDouble(3))) < 2e-6)
      assert(math.abs(r.getDouble(5)) < 0.15, s"noise mean ${r.getDouble(5)}")
      assert(r.getDouble(6) > 0.95, s"separation ${r.getDouble(6)}")
    }
  }

  test("ml_label_binarize: one hot per doc, inverse_transform recovers the label (r7)") {
    val rows = q("ml_label_binarize").collect()
    assert(rows.length == 100)
    val byDoc = rows.groupBy(_.getLong(0))
    for ((_, rs) <- byDoc) {
      assert(rs.map(_.getLong(3)).sum == 1, "row is not one-hot")
      val hot = rs.find(_.getLong(3) == 1L).get
      assert(hot.getString(2) == hot.getString(1), "argmax class != label")
    }
  }

  test("ml_pairwise_manhattan: norm inequalities against the L2 matrix (r7)") {
    val m = q("ml_pairwise_manhattan").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    val l2 = q("ml_pairwise_distances").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m.size == 105 && l2.size == 105)
    for ((k, (d1, di)) <- m) {
      assert(di <= d1 + 1e-6, s"linf > l1 at $k")
      assert(di <= l2(k) + 1e-6, s"linf > l2 at $k")
      assert(d1 >= l2(k) - 1e-6, s"l1 < l2 at $k")
      assert(d1 <= 64.0 * di + 1e-6, s"l1 > 64*linf at $k")
    }
  }

  test("ml_lars_path: correlations decrease along the path, step identity holds (r7)") {
    val rows = q("ml_lars_path").orderBy(col("step")).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(1)).distinct.length == 3, "a feature joined twice")
    val (c1, g1) = (rows(0).getDouble(2), rows(0).getDouble(3))
    val (c2, g2) = (rows(1).getDouble(2), rows(1).getDouble(3))
    val c3 = rows(2).getDouble(2)
    assert(g1 > 0 && g2 > 0)
    // |c| at the second join is exactly the first |c| minus the distance
    // moved (A = 1 for a single active predictor)
    assert(math.abs(c2 - (c1 - g1)) < 2e-6, s"$c2 != $c1 - $g1")
    assert(c1 > c2 && c2 > c3 && c3 >= 0, s"not decreasing: $c1, $c2, $c3")
    assert(rows(2).isNullAt(3), "step-3 gamma must be NULL (OLS tail)")
  }

  test("ml_kmeans_transform: vec 10's row of the distance matrix matches local math (r7)") {
    val rows = q("ml_kmeans_transform").collect()
    assert(rows.length == 200)
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .where(col("vec_id") < 30).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    for (r <- rows if r.getLong(0) == 10L) {
      val d = math.sqrt(embs(10L).zip(embs(r.getLong(1)))
        .map { case (a, b) => (a - b) * (a - b) }.sum)
      assert(math.abs(r.getDouble(2) - d) < 1e-5, s"cid ${r.getLong(1)}: ${r.getDouble(2)} vs $d")
    }
  }

  test("ml_arima_ma: moment estimator round-trips rho1 = theta/(1+theta^2) (r7)") {
    val r = q("ml_arima_ma").collect()(0)
    val (r1, inv) = (r.getDouble(2), r.getBoolean(5))
    assert(math.abs(r1) <= 1.0)
    assert(inv == (math.abs(r1) <= 0.5))
    if (inv) {
      val th = r.getDouble(3)
      assert(math.abs(th) <= 1.0, s"non-invertible theta $th")
      assert(math.abs(th / (1 + th * th) - r1) < 1e-5, s"round-trip ${th / (1 + th * th)} vs $r1")
      assert(r.getDouble(4) > 0, "innovation variance must be positive")
    }
  }

  test("ml_random_projection_gauss: JL distortion concentrates like the sparse twin (r7)") {
    val g = q("ml_random_projection_gauss").collect()
    assert(g.length == 105)
    val ds = g.map(_.getDouble(4))
    assert(ds.forall(d => d > 0 && !d.isInfinite))
    val mean = ds.sum / ds.length
    assert(mean > 0.5 && mean < 2.0, s"gaussian k=4 distortion mean $mean")
  }

  test("ml_svc_rbf: learns the landmark Voronoi separator, not the prior (r7)") {
    val r = q("ml_svc_rbf").collect()(0)
    val (w1, w2, w3) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    // y = [closer to landmark 0 than 1] => the separator is +f1 -f2 with
    // f3 irrelevant; the solver must find that sign structure
    assert(w1 > 0 && w2 < 0, s"wrong separator signs: $w1, $w2")
    assert(math.abs(w3) < 0.5 * math.min(w1, -w2), s"w3 $w3 not negligible")
    assert(r.getDouble(6) > 0.9, s"accuracy ${r.getDouble(6)}")
    assert(r.getLong(5) > 0 && r.getLong(5) < 500, s"degenerate support count ${r.getLong(5)}")
  }

  test("ml_seasonal_decompose: MA trend is NULL exactly at the 3-row endpoints (r7)") {
    val rows = q("ml_seasonal_decompose").collect()
    val n = rows.length
    assert(n > 7, s"fixture series too short: $n")
    for ((r, i) <- rows.zipWithIndex) {
      val edge = i < 3 || i >= n - 3
      assert(r.isNullAt(3) == edge, s"row $i trend null=${r.isNullAt(3)}")
      assert(r.isNullAt(5) == edge, s"row $i resid null=${r.isNullAt(5)}")
      assert(!r.isNullAt(4), s"row $i seasonal null")
    }
    assert(rows.map(_.getInt(2)).distinct.length <= 7)
  }

  // ---- r7 closing-session operator pins ----------------------------------

  test("ml_isotonic_calibration: monotone fit preserving the weighted mean (r10)") {
    val rows = q("ml_isotonic_calibration").orderBy("quantity").collect()
    assert(rows.length >= 10)
    val iso = rows.map(_.getAs[Double]("iso_rate"))
    assert(iso.zip(iso.tail).forall { case (a, b) => b >= a - 1e-9 },
      "iso_rate not monotone non-decreasing")
    assert(iso.forall(v => v >= 0.0 && v <= 1.0))
    // L2 projection onto the monotone cone preserves the weighted mean
    val wIso = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("iso_rate")).sum
    val wEmp = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("emp_rate")).sum
    assert(math.abs(wIso - wEmp) <= 1e-3 * math.max(wEmp, 1.0),
      s"weighted mean not preserved: iso=$wIso emp=$wEmp")
  }

  test("ml_platt_scaling: calibration orders the classes and log loss is sane (r7)") {
    val r = q("ml_platt_scaling").collect()(0)
    val (pPos, pNeg, ll) = (r.getAs[Double]("mean_p_pos"),
      r.getAs[Double]("mean_p_neg"), r.getAs[Double]("log_loss"))
    assert(pPos > 0 && pPos < 1 && pNeg > 0 && pNeg < 1)
    assert(pPos >= pNeg, s"calibrated p must rank the positive class: $pPos < $pNeg")
    assert(ll > 0 && ll < 1, s"binary log loss $ll outside (0, 1)")
  }

  test("ml_median_abs_error: quantile ordering median <= p90 <= max (r7)") {
    val r = q("ml_median_abs_error").collect()(0)
    val (med, p90, mx) = (r.getAs[Double]("median_abs_error"),
      r.getAs[Double]("p90_abs_error"), r.getAs[Double]("max_error"))
    assert(med > 0 && med <= p90 && p90 <= mx, s"$med / $p90 / $mx")
  }

  test("ml_power_transform: one argmax and the lambda=0 branch is ln (r7)") {
    val rows = q("ml_power_transform").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Int]("is_best")).sum == 1, "exactly one chosen lambda")
    assert(rows.forall(_.getAs[Double]("std_t") > 0))
    // the ln-branch mean must match a local recompute (float-collapsed)
    val lx = Tables.lineitem(spark, sf).select(col("l_extendedprice").cast("double"))
      .collect().map(r => math.log(r.getDouble(0)).toFloat.toDouble)
    val local = lx.sum / lx.length
    val got = rows.find(_.getAs[Double]("lambda") == 0.0).get.getAs[Double]("mean_t")
    assert(math.abs(got - local) < 1e-3, s"ln-mean $got vs local $local")
  }

  test("ml_missing_indicator: rates reproduce the constructed masks (r7)") {
    val rows = q("ml_missing_indicator").collect()
    val ev = Tables.events(spark, sf).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = ev.values.sum
    for (r <- rows) {
      val present = r.getAs[String]("feature") match {
        case "f_value" => ev("purchase"); case _ => ev("click")
      }
      assert(r.getAs[Long]("n_missing") == n - present,
        s"${r.getAs[String]("feature")}: ${r.getAs[Long]("n_missing")} vs ${n - present}")
    }
  }

  test("ml_kernel_centerer: centered rows sum to zero, diagonal kernel is 1 (r7)") {
    val rows = q("ml_kernel_centerer").collect()
    assert(rows.length == 55)
    assert(rows.forall(_.getAs[Double]("row_sum") == 0.0), "centering audit")
    for (r <- rows if r.getAs[Long]("id_a") == r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("k_rbf") == 1.0, "exp(-0) diagonal")
  }

  test("ml_ordinal_encode: codes are dense 0..k-1 in category sort order (r7)") {
    val rows = q("ml_ordinal_encode").collect()
    for ((feat, rs) <- rows.groupBy(_.getAs[String]("feature"))) {
      val sorted = rs.sortBy(_.getAs[String]("category"))
      assert(sorted.map(_.getAs[Long]("code")).toSeq == sorted.indices.map(_.toLong),
        s"feature $feat codes not dense-ordinal")
    }
  }

  test("ml_arima_forecast: widening intervals that bracket the forecast (r7)") {
    val rows = q("ml_arima_forecast").orderBy("h").collect()
    assert(rows.length == 7)
    val ses = rows.map(_.getAs[Double]("se"))
    assert(ses.zip(ses.tail).forall { case (a, b) => b >= a },
      s"forecast se must widen with horizon: ${ses.toSeq}")
    for (r <- rows)
      assert(r.getAs[Double]("lo95") < r.getAs[Double]("forecast") &&
        r.getAs[Double]("forecast") < r.getAs[Double]("hi95"))
  }

  test("ml_make_arima: the generated series carries the MA(1) signature (r7)") {
    // acf1 ~= theta/(1+theta^2) = 0.441 for theta = 0.6; the affine-hash
    // lattice regression produced acf1 = -0.11 — this pin would catch it.
    val r = q("ml_make_arima").collect()(0)
    val (acf1, acf2, md) = (r.getAs[Double]("acf1"),
      r.getAs[Double]("acf2"), r.getAs[Double]("mean_d"))
    assert(acf1 > 0.3 && acf1 < 0.55, s"acf1 $acf1 outside the MA(1) band")
    assert(math.abs(acf2) < 0.15, s"acf2 $acf2 not near zero")
    assert(md > 0.35 && md < 0.65, s"drift recovery $md vs 0.5")
  }

  test("ml_nb_categorical: smoothed probabilities normalize per (feature, class) (r7)") {
    val rows = q("ml_nb_categorical").collect()
      .filter(_.getAs[String]("feature") != "_prior")
    for (((f, c), rs) <- rows.groupBy(r =>
        (r.getAs[String]("feature"), r.getAs[String]("cls")))) {
      val mass = rs.map(r => math.exp(r.getAs[Double]("log_prob"))).sum
      assert(math.abs(mass - 1.0) < 1e-3, s"($f, $c) prob mass $mass")
    }
  }

  test("ml_fil_predict: pure-map inference covers every row (r7)") {
    val rows = q("ml_fil_predict").collect()
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.lineitem(spark, sf).count())
    assert(rows.forall(_.getAs[Double]("rmse") > 0))
  }

  test("ml_ovr_classifier: confusion covers all rows and beats the 1/3 baseline (r7)") {
    val rows = q("ml_ovr_classifier").collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.lineitem(spark, sf).count())
    val correct = rows.filter(r => r.getAs[String]("rf") == r.getAs[String]("pred"))
      .map(_.getAs[Long]("n")).sum
    assert(correct.toDouble / total > 1.0 / 3,
      s"OvR accuracy ${correct.toDouble / total} not above the uniform baseline")
  }

  test("ml_permutation_importance: shared baseline, bounded noise floor (r7)") {
    val rows = q("ml_permutation_importance").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Double]("mse_base")).distinct.length == 1,
      "all features score against one baseline")
    val base = rows(0).getAs[Double]("mse_base")
    // permuting can only help by sampling noise — bound the negative side
    assert(rows.forall(_.getAs[Double]("importance") > -1e-3 * base))
    assert(rows.map(_.getAs[Double]("importance")).max > 0,
      "at least one feature must matter")
  }

  test("ml_pairwise_minkowski: p-norm ordering and bounded metrics (r7)") {
    for (r <- q("ml_pairwise_minkowski").collect()) {
      val mink = r.getAs[Double]("dist_minkowski3")
      val l2 = math.sqrt(r.getAs[Double]("dist_sqeuclidean"))
      assert(mink <= l2 + 1e-6, s"||.||_3 $mink > ||.||_2 $l2")
      val h = r.getAs[Double]("dist_hamming_sign")
      assert(h >= 0 && h <= 1)
      val cb = r.getAs[Double]("dist_canberra")
      assert(cb >= 0 && cb <= 64)
    }
  }

  test("ml_sparse_pairwise: cosine in [0,1], descending, co-occurrence required (r7)") {
    val rows = q("ml_sparse_pairwise").collect()
    val cs = rows.map(_.getAs[Double]("cos_sim"))
    assert(cs.forall(c => c >= 0 && c <= 1.0 + 1e-9))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, "top-k order")
    assert(rows.forall(_.getAs[Long]("n_shared") >= 1))
  }

  test("ml_holtwinters_forecast: additive decomposition of consecutive days (r7)") {
    val rows = q("ml_holtwinters_forecast").orderBy("h").collect()
    assert(rows.length == 7)
    val days = rows.map(_.getAs[java.sql.Date]("day").toLocalDate)
    assert(days.zip(days.tail).forall { case (a, b) => b == a.plusDays(1) },
      "forecast days must be consecutive")
    for (r <- rows)
      assert(math.abs(r.getAs[Double]("forecast") -
        (r.getAs[Double]("trend_part") + r.getAs[Double]("seasonal_part"))) < 2e-6)
  }

  test("ml_hdbscan_mst: ordered lightest picks with canonical endpoints (r7)") {
    val rows = q("ml_hdbscan_mst").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("node_a") < r.getAs[Long]("node_b")))
    val ws = rows.map(_.getAs[Double]("weight"))
    assert(ws.zip(ws.tail).forall { case (a, b) => a <= b }, "weight order")
    assert(rows.forall(_.getAs[Long]("n_picks") >= rows.length))
  }

  test("ml_kmeans_elbow: inertia is monotone nonincreasing in k (r7)") {
    val rows = q("ml_kmeans_elbow").orderBy("k").collect()
    assert(rows.map(_.getAs[Long]("k")).toSeq == Seq(2L, 4L, 6L, 8L, 10L))
    val in = rows.map(_.getAs[Double]("inertia"))
    assert(in.zip(in.tail).forall { case (a, b) => b <= a },
      s"prefix-min inertia must not increase: ${in.toSeq}")
    assert(rows.map(_.getAs[Long]("n_points")).distinct.length == 1)
  }

  test("ml_pca_whiten: whitened components have unit global mean square (r7)") {
    val rows = q("ml_pca_whiten").collect()
    val tot = rows.map(_.getAs[Long]("n")).sum.toDouble
    val m1 = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("msq_w1")).sum / tot
    val m2 = rows.map(r => r.getAs[Long]("n") * r.getAs[Double]("msq_w2")).sum / tot
    assert(math.abs(m1 - 1.0) < 1e-3, s"msq(w1) $m1 != 1 — u'Gu = lambda identity broken")
    assert(math.abs(m2 - 1.0) < 1e-2, s"msq(w2) $m2 != 1 (deflated-gram tolerance)")
  }

  test("ml_logreg_l2: the penalty shrinks the slope toward zero (r7)") {
    val r = q("ml_logreg_l2").collect()(0)
    val (bl2, bmle) = (r.getAs[Double]("slope_l2"), r.getAs[Double]("slope_mle"))
    assert(math.abs(bl2) < math.abs(bmle), s"no shrinkage: $bl2 vs $bmle")
    assert(bl2 * bmle >= 0, "penalty must not flip the slope sign")
    val sh = r.getAs[Double]("shrinkage")
    assert(sh > 0 && sh < 1, s"shrinkage $sh outside (0, 1)")
  }

  test("text_bigram_freq: frequency-ordered true bigrams (r7)") {
    val rows = q("text_bigram_freq").collect()
    assert(rows.length == 30)
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(_.getAs[String]("bigram").count(_ == ' ') == 1))
  }

  test("ml_pairwise_correlation: matches a local Pearson computation (r7)") {
    val rows = q("ml_pairwise_correlation").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val d = r.getAs[Double]("dist_correlation"); d >= 0.0 && d <= 2.0
    }, "correlation distance must lie in [0, 2]")
    def corr(a: Array[Double], b: Array[Double]): Double = {
      val (ma, mb) = (a.sum / a.length, b.sum / b.length)
      val dot = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
      val sa = a.map(x => (x - ma) * (x - ma)).sum
      val sb = b.map(x => (x - mb) * (x - mb)).sum
      dot / math.sqrt(sa * sb)
    }
    val got = rows.find(r =>
      r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 1L).get
      .getAs[Double]("dist_correlation")
    val want = 1.0 - corr(localEmb(0L), localEmb(1L))
    // FLOAT-collapsed engine sums vs exact local doubles: ~1e-5 agreement
    assert(math.abs(got - want) < 1e-4, s"pair (0,1): engine $got local $want")
  }

  test("ml_jl_min_dim: closed form, monotone decreasing in eps (r7)") {
    val rows = q("ml_jl_min_dim").orderBy(col("eps")).collect()
    assert(rows.length == 4)
    val dims = rows.map(_.getAs[Long]("min_dim"))
    assert(dims.zip(dims.tail).forall { case (a, b) => a > b },
      s"min_dim must strictly decrease in eps: ${dims.toSeq}")
    val n = rows(0).getAs[Long]("n").toDouble
    rows.foreach { r =>
      val eps = r.getAs[Double]("eps")
      val want = math.floor(
        4.0 * math.log(n) / (eps * eps / 2 - eps * eps * eps / 3)).toLong
      assert(r.getAs[Long]("min_dim") == want, s"eps=$eps formula mismatch")
    }
  }

  test("text_repetition: ratios bounded, flagged subset, full doc coverage (r7)") {
    val rows = q("text_repetition").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_dup_ratio")
      assert(avg >= 0.0 && avg < 1.0, s"avg_dup_ratio $avg outside [0, 1)")
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_docs"))
    }
    // every fixture doc has >= 3 tokens, so the per-source doc counts
    // must add back up to the corpus
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf).count(), s"doc coverage $total")
  }

  test("text_unigram_lm: NLL positive with max dominating the mean (r7)") {
    val rows = q("text_unigram_lm").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (avg, mx) = (r.getAs[Double]("avg_nll"), r.getAs[Double]("max_nll"))
      assert(avg > 0.0, s"mean NLL $avg must be positive (probs < 1)")
      assert(mx >= avg, s"max $mx < mean $avg within a source")
    }
  }

  test("dedup_paragraph: multiplicity histogram over cross-doc passages (r7)") {
    val rows = q("dedup_paragraph").orderBy(col("n_docs")).collect()
    assert(rows.nonEmpty, "fixture has cross-doc duplicate passages")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2, "histogram admits only dup groups")
      assert(r.getAs[Long]("n_passages") > 0)
    }
  }

  test("ml_logreg_l1: proximal shrinkage, and a large lambda zeroes to +0.0 (r7)") {
    val r = q("ml_logreg_l1").collect()(0)
    val (bl1, bmle) = (r.getAs[Double]("slope_l1"), r.getAs[Double]("slope_mle"))
    assert(math.abs(bl1) < math.abs(bmle), s"no shrinkage: $bl1 vs $bmle")
    assert(bl1 * bmle > 0, "lambda=1000 must shrink without zeroing or flipping")
    val sh = r.getAs[Double]("shrinkage")
    assert(sh > 0 && sh < 1, s"shrinkage $sh outside (0, 1)")
    // The exact-zero branch — L1's signature — with the sign bit
    // canonicalized POSITIVE (the cdSteps −0.0 wire hazard): a lambda far
    // above the |gradient| scale must drive the slope to exactly +0.0.
    val (_, bz) = ops.ML.irlsBetaL1(spark, sf, lam = 1e9)
    assert(bz == 0.0, s"slope $bz must threshold to exactly zero")
    assert(1.0 / bz == Double.PositiveInfinity,
      "thresholded zero must serialize as +0.0, not -0.0")
  }

  test("ml_logreg_elasticnet: L1 on top of L2 can only shrink further (r7)") {
    val r = q("ml_logreg_elasticnet").collect()(0)
    val (ben, bl2) = (r.getAs[Double]("slope_en"), r.getAs[Double]("slope_l2"))
    assert(math.abs(ben) <= math.abs(bl2), s"EN $ben exceeds L2 $bl2")
    assert(ben * bl2 >= 0, "the extra threshold must not flip the sign")
    val sh = r.getAs[Double]("l1_extra_shrinkage")
    assert(sh >= 0 && sh <= 1, s"extra shrinkage $sh outside [0, 1]")
  }

  test("stream_funnel: monotone stage counts with rates in [0, 1] (r7)") {
    val rows = q("stream_funnel").orderBy(col("step")).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("stage")).toSeq ==
      Seq("view", "click", "purchase"))
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a },
      s"funnel counts must be nonincreasing: ${ns.toSeq}")
    assert(rows(0).isNullAt(rows(0).fieldIndex("conv_rate")))
    rows.drop(1).foreach { r =>
      val c = r.getAs[Double]("conv_rate")
      assert(c >= 0 && c <= 1, s"conversion rate $c outside [0, 1]")
    }
  }

  test("ml_learning_curve: nested subsets, 100% row matches ml_linreg_fit (r7)") {
    val rows = q("ml_learning_curve").orderBy(col("frac")).collect()
    assert(rows.map(_.getAs[Int]("frac")).toSeq == Seq(25, 50, 75, 100))
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a < b }, "subsets must nest")
    assert(ns.last == Tables.lineitem(spark, sf).count(),
      "the 100% subset must cover every row")
    rows.foreach(r => assert(r.getAs[Double]("rmse_train") > 0))
    // the 100% fit IS the full OLS — cross-check against ml_linreg_fit
    val full = q("ml_linreg_fit").collect()(0)
    val last = rows.last
    assert(math.abs(last.getAs[Double]("slope") - full.getAs[Double]("slope")) < 1e-5,
      "100% slope must equal the ml_linreg_fit slope")
    assert(math.abs(last.getAs[Double]("intercept") - full.getAs[Double]("intercept")) < 1e-5,
      "100% intercept must equal the ml_linreg_fit intercept")
  }

  test("ml_ovo_classifier: confusion covers all rows and beats the 1/3 baseline (r7)") {
    val rows = q("ml_ovo_classifier").collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.lineitem(spark, sf).count(), "every row is scored")
    val correct = rows.filter(r =>
      r.getAs[String]("rf") == r.getAs[String]("pred")).map(_.getAs[Long]("n")).sum
    assert(correct.toDouble / total > 1.0 / 3,
      s"pairwise-vote accuracy ${correct.toDouble / total} at or below chance")
  }

  test("ml_knn_sq8: 8-bit quantization keeps recall@5 against exact kNN (r7)") {
    val exact = q("ml_knn").where(col("q_id") < 10).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n_id")).toSet }
    val sq = q("ml_knn_sq8").collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n_id")).toSet }
    assert(sq.keySet == exact.keySet, "same query set as exact kNN")
    val recall = sq.map { case (k, ids) => (ids & exact(k)).size.toDouble / 5 }
      .sum / sq.size
    assert(recall >= 0.8, s"SQ8 recall@5 $recall below the 0.8 floor")
  }

  test("ml_pipeline_compose: stage params consistent through the chain (r7)") {
    val r = q("ml_pipeline_compose").collect()(0)
    val rate = r.getAs[Double]("missing_rate")
    assert(rate > 0.05 && rate < 0.15, s"mask rate $rate far from 10%")
    assert(r.getAs[Double]("scale_std") > 0)
    assert(r.getAs[Double]("rmse_train") > 0)
    // mean(z) = 0 by the scaler's construction, so the intercept of the
    // standardized fit must equal the plain mean of y
    val meanY = Tables.lineitem(spark, sf)
      .agg(avg(col("l_extendedprice").cast("double"))).collect()(0).getDouble(0)
    assert(math.abs(r.getAs[Double]("intercept") - meanY) < 1.0,
      s"intercept ${r.getAs[Double]("intercept")} vs mean(y) $meanY")
  }

  test("stream_error_burst: every flagged user has an ordered burst interval (r7)") {
    val rows = q("stream_error_burst").collect()
    assert(rows.nonEmpty, "fixture has 3-in-24h error bursts")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bursts") >= 1)
      assert(r.getAs[Long]("first_burst_end_us") <= r.getAs[Long]("last_burst_end_us"))
    }
  }

  test("ml_gmm_em: a proper two-component mixture after 2 EM steps (r7)") {
    val r = q("ml_gmm_em").collect()(0)
    val pi1 = r.getAs[Double]("pi1")
    assert(pi1 > 0 && pi1 < 1, s"pi1 $pi1 degenerate")
    assert(r.getAs[Double]("sd1") > 0 && r.getAs[Double]("sd2") > 0)
    assert(r.getAs[Double]("mu1") < r.getAs[Double]("mu2"),
      "component order (low, high) must survive the EM steps")
    assert(r.getAs[Double]("mean_loglik") < 0, "densities < 1 => negative loglik")
  }

  test("dedup_contamination: covers exactly the training split, rates bounded (r7)") {
    val rows = q("dedup_contamination").collect()
    val nTrain = rows.map(_.getAs[Long]("n_train")).sum
    val expected = Tables.documents(spark, sf).where(col("doc_id") >= 50).count()
    assert(nTrain == expected, s"training coverage $nTrain != $expected")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_contaminated") <= r.getAs[Long]("n_train"))
      val rate = r.getAs[Double]("contamination_rate")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("join_asof_nearest: dominates the backward as-of on shared keys (r7)") {
    val near = q("join_asof_nearest").collect()
      .map(r => r.getAs[Long]("err_id") -> r).toMap
    val back = q("join_asof").collect()
      .map(r => r.getAs[Long]("err_id") -> r.getAs[Long]("lag_us")).toMap
    assert(near.size >= back.size,
      "nearest matches every error backward does (and the click-before-first ones)")
    back.foreach { case (id, lagB) =>
      val lagN = near(id).getAs[Long]("lag_us")
      assert(math.abs(lagN) <= math.abs(lagB),
        s"err $id: nearest |$lagN| worse than backward |$lagB|")
    }
    near.values.foreach { r =>
      val d = r.getAs[String]("direction")
      val lag = r.getAs[Long]("lag_us")
      assert(if (d == "backward") lag >= 0 else lag < 0,
        s"direction $d inconsistent with signed lag $lag")
    }
  }

  test("ml_select_kbest: k=2 selection over descending F scores (r7)") {
    val rows = q("ml_select_kbest").orderBy(col("rank")).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    val fs = rows.map(_.getAs[Double]("f_stat"))
    assert(fs.forall(_ >= 0) && fs.zip(fs.tail).forall { case (a, b) => a >= b })
    assert(rows.map(_.getAs[Int]("selected")).sum == 2)
  }

  test("agg_histogram: bins partition the value range and cover every row (r7)") {
    val rows = q("agg_histogram").orderBy(col("bin")).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.lineitem(spark, sf).count(), "bin counts cover every row")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("bin_hi") == b.getAs[Double]("bin_lo"),
        "adjacent bins share an edge")
    }
  }

  test("ml_ab_ttest: an A/A comparison on independent columns stays null (r7)") {
    val r = q("ml_ab_ttest").collect()(0)
    assert(r.getAs[Double]("se") > 0)
    assert(math.abs(r.getAs[Double]("t_stat")) < 4,
      "independent cohorts must not produce a confident difference")
    val df = r.getAs[Double]("df_welch")
    val n = r.getAs[Long]("n_a") + r.getAs[Long]("n_b")
    assert(df > 0 && df < n, s"Welch df $df outside (0, n)")
    assert(math.abs(r.getAs[Double]("diff") -
      (r.getAs[Double]("mean_a") - r.getAs[Double]("mean_b"))) < 1e-4)
  }

  test("ml_ks_test: small D on identically-distributed cohorts (r7)") {
    val r = q("ml_ks_test").collect()(0)
    val d = r.getAs[Double]("ks_d")
    assert(d >= 0 && d <= 1, s"KS D $d outside [0, 1]")
    assert(d < 0.1, "independent same-distribution cohorts must not drift")
    assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
  }

  test("graph ops: handshake lemma ties the degree histogram to the edge count (r7)") {
    val deg = q("graph_degree_dist").collect()
    val tri = q("graph_triangles").collect()(0)
    val degreeSum = deg.map(r =>
      r.getAs[Long]("degree") * r.getAs[Long]("n_vertices")).sum
    assert(degreeSum == 2 * tri.getAs[Long]("n_edges"),
      s"handshake: sum(degrees) $degreeSum != 2x edges ${tri.getAs[Long]("n_edges")}")
    assert(deg.map(_.getAs[Long]("n_vertices")).sum == tri.getAs[Long]("n_vertices"))
    assert(tri.getAs[Long]("n_triangles") >= 0)
  }

  test("ml_recall_at_k: per-query SQ8 recall stays above the index floor (r7)") {
    val rows = q("ml_recall_at_k").collect()
    assert(rows.length == 10)
    val rs = rows.map(_.getAs[Double]("recall_at_5"))
    assert(rs.forall(r => r >= 0 && r <= 1))
    assert(rs.sum / rs.length >= 0.8, s"mean recall ${rs.sum / rs.length} below 0.8")
  }

  test("ml_ndcg: bounded ranking quality with consistent hit counts (r7)") {
    val rows = q("ml_ndcg").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val n = r.getAs[Double]("ndcg_at_10")
      assert(n >= 0 && n <= 1, s"NDCG $n outside [0, 1]")
      val hits = r.getAs[Long]("n_rel_top10")
      assert(hits >= 0 && hits <= 10)
      if (hits == 0) assert(n == 0.0, "no relevant hits means zero NDCG")
    }
    assert(rows.exists(_.getAs[Double]("ndcg_at_10") > 0))
  }

  test("ml_gmm_bic: likelihoods and criteria ordered consistently (r7)") {
    val r = q("ml_gmm_bic").collect()(0)
    val (llG, llS) = (r.getAs[Double]("ll_gmm"), r.getAs[Double]("ll_single"))
    assert(llG > llS,
      "on the uniform fixture the 2-component fit must beat one Gaussian")
    val (bg, bs) = (r.getAs[Double]("bic_gmm"), r.getAs[Double]("bic_single"))
    val pref = r.getAs[String]("preferred")
    assert((bg < bs) == (pref == "gmm"), "preferred flag matches the BICs")
  }

  test("ml_vector_scaler: 64 fitted dims with a sane standardized envelope (r7)") {
    val rows = q("ml_vector_scaler").collect()
    assert(rows.length == 64)
    val nVec = Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == nVec, "every vector contributes every dim")
      assert(r.getAs[Double]("std") > 0)
      assert(r.getAs[Double]("z_min") < 0 && r.getAs[Double]("z_max") > 0,
        "standardized extremes straddle the mean")
    }
  }

  test("graph_component_sizes: member totals reconcile with the label table (r7)") {
    val rows = q("graph_component_sizes").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("component_size") >= 2,
        "pair-graph components have at least two members")
      assert(r.getAs[Long]("droppable_docs") ==
        (r.getAs[Long]("component_size") - 1) * r.getAs[Long]("n_components"))
    }
  }

  test("agg_lorenz_gini: the curve stays under the diagonal, Gini bounded (r7)") {
    val rows = q("agg_lorenz_gini").orderBy(col("bin")).collect()
    assert(rows.nonEmpty)
    val gini = rows(0).getAs[Double]("gini")
    assert(gini >= 0 && gini < 1, s"Gini $gini outside [0, 1)")
    var (prevP, prevR) = (0.0, 0.0)
    rows.foreach { r =>
      val (p, rv) = (r.getAs[Double]("pop_share"), r.getAs[Double]("rev_share"))
      assert(p >= prevP && rv >= prevR, "both shares monotone")
      assert(rv <= p + 1e-6, "the Lorenz curve cannot exceed the diagonal")
      prevP = p; prevR = rv
    }
    assert(math.abs(prevP - 1.0) < 1e-6 && math.abs(prevR - 1.0) < 1e-6,
      "the curve ends at (1, 1)")
  }

  test("ml_ece: the mean calibration gap is bounded by the max gap (r7)") {
    val r = q("ml_ece").collect()(0)
    val (ece, mce) = (r.getAs[Double]("ece"), r.getAs[Double]("mce"))
    assert(ece >= 0 && mce >= ece && mce <= 1,
      s"ECE $ece / MCE $mce violate 0 <= ECE <= MCE <= 1")
    assert(ece < 0.05, "a logistic fit scored on train must be near-calibrated")
  }

  test("ml_hosmer_lemeshow: small GOF statistic on the training fit (r7)") {
    val r = q("ml_hosmer_lemeshow").collect()(0)
    assert(r.getAs[Int]("dof") == 8, "10 feature bins -> dof 8")
    val hl = r.getAs[Double]("hl_stat")
    assert(hl >= 0)
    assert(hl < 40, s"HL $hl implausibly large for an in-sample fit")
  }

  test("ml_brier_score: bounded loss with the decomposition identity (r7)") {
    val r = q("ml_brier_score").collect()(0)
    val (b, base) = (r.getAs[Double]("brier"), r.getAs[Double]("brier_baseline"))
    assert(b >= 0 && b <= 1)
    assert(base > 0 && base <= 0.25, "p(1-p) peaks at 1/4")
    assert(b <= base + 1e-6, "a fitted model cannot lose to the prior on train")
    val sk = r.getAs[Double]("skill_score")
    assert(math.abs(sk - (1.0 - b / base)) < 1e-4)
  }

  test("ml_cohen_kappa: chance-corrected agreement identity (r7)") {
    val r = q("ml_cohen_kappa").collect()(0)
    val (po, pe, k) = (r.getAs[Double]("p_observed"),
      r.getAs[Double]("p_expected"), r.getAs[Double]("kappa"))
    assert(po >= 0 && po <= 1 && pe > 0 && pe < 1)
    assert(math.abs(k - (po - pe) / (1 - pe)) < 1e-4, "kappa identity")
    assert(k >= -1 && k <= 1)
    // the weak-signal fixture drives both meta-strategies to the same
    // majority-ish predictions — near-total agreement is the honest value
    assert(po >= pe, "two fits of the same data agree at least at chance")
  }

  test("stream_gap_audit: gaps plus covered hours tile the event span (r7)") {
    val rows = q("stream_gap_audit").collect()
    val (summary, gaps) = rows.partition(_.getAs[Long]("hour") == -1L)
    assert(summary.length == 1)
    gaps.foreach(r => assert(r.getAs[Long]("n_events") == 0L))
    val hours = Tables.events(spark, sf)
      .selectExpr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000 AS h")
      .agg(max(col("h")) - min(col("h")) + 1).collect()(0).getLong(0)
    assert(summary(0).getAs[Long]("n_events") + gaps.length == hours,
      s"covered ${summary(0).getAs[Long]("n_events")} + gaps ${gaps.length} != span $hours")
  }

  test("agg_benford: digit shares normalize on both sides (r7)") {
    val rows = q("agg_benford").collect()
    assert(rows.length == 9)
    assert(rows.map(_.getAs[Int]("d")).sorted.toSeq == (1 to 9))
    val obs = rows.map(_.getAs[Double]("observed")).sum
    val ben = rows.map(_.getAs[Double]("benford")).sum
    assert(math.abs(obs - 1.0) < 1e-4, s"observed shares sum to $obs")
    assert(math.abs(ben - 1.0) < 1e-4, s"Benford shares sum to $ben")
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables.lineitem(spark, sf).count())
  }

  test("ml_mrr: reciprocal ranks consistent with first-hit positions (r7)") {
    val rows = q("ml_mrr").collect()
    val (summary, perQ) = rows.partition(_.getAs[Long]("q_id") == -1L)
    assert(summary.length == 1 && perQ.length == 10)
    perQ.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("first_hit"))) {
        val fh = r.getAs[Int]("first_hit")
        assert(fh >= 1 && fh <= 20)
        assert(math.abs(r.getAs[Double]("rr") - 1.0 / fh) < 1e-5)
      } else assert(r.getAs[Double]("rr") == 0.0)
    }
    val mean = perQ.map(_.getAs[Double]("rr")).sum / perQ.length
    assert(math.abs(summary(0).getAs[Double]("rr") - mean) < 1e-5,
      "the q_id = -1 row must be the mean of the per-query rows")
  }

  test("text_fuzzy_terms: symmetric-canonical close pairs only (r7)") {
    val rows = q("text_fuzzy_terms").collect()
    assert(rows.nonEmpty, "the small vocabulary has edit-close terms")
    rows.foreach { r =>
      assert(r.getAs[String]("term_a") < r.getAs[String]("term_b"), "canonical order")
      val d = r.getAs[Int]("edit_dist")
      assert(d >= 1 && d <= 2)
    }
  }

  test("graph_pagerank: damped ranks bounded below by the teleport floor (r7)") {
    val rows = q("graph_pagerank").collect()
    assert(rows.length == 10)
    val tri = q("graph_triangles").collect()(0)
    val floor = (1.0 - 0.85) / tri.getAs[Long]("n_vertices")
    rows.foreach { r =>
      val pr = r.getAs[Double]("pagerank")
      assert(pr >= floor - 1e-9, s"rank $pr below the teleport floor $floor")
      assert(pr < 1.0)
    }
    val prs = rows.map(_.getAs[Double]("pagerank"))
    assert(prs.zip(prs.tail).forall { case (a, b) => a >= b }, "descending")
  }

  test("ml_mannwhitney_u: null result on identical distributions (r7)") {
    val r = q("ml_mannwhitney_u").collect()(0)
    val auc = r.getAs[Double]("auc_equiv")
    assert(auc >= 0 && auc <= 1)
    assert(math.abs(auc - 0.5) < 0.05,
      s"rank AUC $auc should be ~0.5 for identical cohorts")
    assert(math.abs(r.getAs[Double]("z_score")) < 4)
  }

  test("ml_bootstrap_ci: the Poisson-bootstrap interval brackets the mean (r7)") {
    val r = q("ml_bootstrap_ci").collect()(0)
    val (lo, m, hi) = (r.getAs[Double]("ci_lo"),
      r.getAs[Double]("boot_mean"), r.getAs[Double]("ci_hi"))
    assert(lo < m && m < hi)
    assert(r.getAs[Double]("boot_se") > 0)
    val stats = Tables.lineitem(spark, sf)
      .agg(avg(col("l_extendedprice").cast("double")),
        stddev_pop(col("l_extendedprice").cast("double")),
        count(lit(1))).collect()(0)
    val (trueMean, sd, n) = (stats.getDouble(0), stats.getDouble(1), stats.getLong(2))
    val seTheory = sd / math.sqrt(n.toDouble)
    assert(math.abs(m - trueMean) < 6 * seTheory,
      s"bootstrap mean $m far from sample mean $trueMean")
    assert(r.getAs[Double]("boot_se") < 10 * seTheory,
      "replicate spread must be on the sampling-error scale")
  }

  test("ml_psi: stable index on identically-distributed cohorts (r7)") {
    val psi = q("ml_psi").collect()(0).getAs[Double]("psi")
    assert(psi >= 0, s"PSI $psi must be nonnegative (it is an f-divergence)")
    assert(psi < 0.1, s"PSI $psi flags drift on a drift-free fixture")
  }

  test("ml_chi2_test: nonnegative statistic with the right dof (r7)") {
    val r = q("ml_chi2_test").collect()(0)
    assert(r.getAs[Double]("chi2") >= 0)
    assert(r.getAs[Int]("dof") == 2, "3 returnflags x 2 linestatuses -> dof 2")
    assert(r.getAs[Long]("n") == Tables.lineitem(spark, sf).count())
  }

  test("ml_gbm_round: boosting stages monotonically reduce train MSE (r7)") {
    val rows = q("ml_gbm_round").orderBy(col("stage")).collect()
    assert(rows.length == 2)
    val (m1, m2) = (rows(0).getAs[Double]("mse_after"), rows(1).getAs[Double]("mse_after"))
    assert(m2 <= m1, s"stage 2 MSE $m2 above stage 1 $m1 — boosting must not regress")
    val varY = Tables.lineitem(spark, sf)
      .agg(var_pop(col("l_extendedprice").cast("double"))).collect()(0).getDouble(0)
    assert(m1 <= varY, s"a fitted stump cannot exceed the variance baseline $varY")
    // stage-2 leaf means fit residuals that sum to zero: opposite signs
    val (l2, r2) = (rows(1).getAs[Double]("left_fit"), rows(1).getAs[Double]("right_fit"))
    assert(l2 * r2 <= 0, s"residual leaf means $l2 / $r2 must straddle zero")
  }

  test("dedup_apply: the written corpus agrees with the pipeline verdicts (r7)") {
    val audit = q("dedup_apply").collect()
    val keptFromAudit = audit.map(_.getAs[Long]("n_kept")).sum
    val keptFromVerdicts = q("dedup_pipeline")
      .where(col("status") === "kept").count()
    assert(keptFromAudit == keptFromVerdicts,
      s"roundtrip kept $keptFromAudit != verdict kept $keptFromVerdicts")
    audit.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_orig"))
      val d = r.getAs[Double]("drop_rate")
      assert(d >= 0 && d < 1)
    }
  }

  test("win_range_frame: trailing-hour frame always contains the current row (r7)") {
    val rows = q("win_range_frame").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_trailing_1h") >= 1, "RANGE frame includes self")
    }
    val total = Tables.events(spark, sf).count()
    assert(rows.length == total, "one output row per event")
  }

  test("fn_date_arith: calendar identities per month bucket (r7)") {
    val rows = q("fn_date_arith").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dim = r.getAs[Int]("days_in_month")
      assert(dim >= 28 && dim <= 31, s"days_in_month $dim")
      assert(r.getAs[Int]("max_day_in_month") < dim)
      assert(!r.getAs[java.sql.Date]("month_end")
        .before(r.getAs[java.sql.Date]("month_start")))
      assert(r.getAs[java.sql.Date]("next_month_start")
        .after(r.getAs[java.sql.Date]("month_end")))
    }
  }

  test("fn_bitwise: exact integer identities across the group lanes (r7)") {
    val rows = q("fn_bitwise").orderBy(col("g")).collect()
    assert(rows.length == 8)
    rows.foreach { r =>
      val (and_, or_) = (r.getAs[Long]("mask_and"), r.getAs[Long]("mask_or"))
      assert((and_ & or_) == and_, "AND must be a sub-mask of OR")
      assert(or_ <= 1023, "masked inputs bound the OR")
      assert(r.getAs[Long]("popcount_sum") >= r.getAs[Long]("n"),
        "every nonzero id contributes at least one bit")
    }
  }

  test("agg_describe: ordered quantiles inside the min/max envelope (r7)") {
    val rows = q("agg_describe").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (mn, mx) = (r.getAs[Double]("min"), r.getAs[Double]("max"))
      val qs = Seq(r.getAs[Double]("p25"), r.getAs[Double]("p50"), r.getAs[Double]("p75"))
      assert(qs.zip(qs.tail).forall { case (a, b) => a <= b }, "quantiles ordered")
      assert(mn <= qs.head && qs.last <= mx, "quantiles inside [min, max]")
      assert(r.getAs[Double]("std") > 0)
      val mean = r.getAs[Double]("mean")
      assert(mean >= mn && mean <= mx)
    }
  }

  test("ml_corr_matrix: symmetric-bounded coefficients, known sign structure (r7)") {
    val rows = q("ml_corr_matrix").collect()
    assert(rows.length == 6, "4 features -> 6 upper-triangle pairs")
    rows.foreach { r =>
      val c = r.getAs[Double]("corr")
      assert(c >= -1.0 && c <= 1.0, s"corr $c outside [-1, 1]")
    }
    // the fixture columns are independently generated: every coefficient
    // should be near zero — a large value would mean a moment-wiring bug
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("corr")) < 0.2,
        s"${r.getAs[String]("f1")}~${r.getAs[String]("f2")} corr " +
          s"${r.getAs[Double]("corr")} too large for independent columns")
    }
    val pairs = rows.map(r => (r.getAs[String]("f1"), r.getAs[String]("f2"))).toSet
    assert(pairs.size == 6, "all pairs distinct")
  }

  test("stream_retention: full cohort at offset 0, bounded retention after (r7)") {
    val rows = q("stream_retention").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_active") <= r.getAs[Long]("n_cohort"))
      val ret = r.getAs[Double]("retention")
      assert(ret > 0 && ret <= 1.0)
      if (r.getAs[Long]("day_offset") == 0L)
        assert(ret == 1.0, "every cohort member is active on their first day")
    }
  }

  test("stream_rolling_dau: the trailing-7 distinct count dominates DAU (r7)") {
    val rows = q("stream_rolling_dau").collect()
    assert(rows.nonEmpty)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    rows.foreach { r =>
      assert(r.getAs[Long]("rolling7_au") >= r.getAs[Long]("dau"),
        "a trailing window can only add users")
      assert(r.getAs[Long]("rolling7_au") <= users)
    }
  }

  test("text_lsa_power: nonnegative unit-bounded descending topic loadings (r7)") {
    val rows = q("text_lsa_power").collect()
    assert(rows.length == 10)
    val ls = rows.map(_.getAs[Double]("loading"))
    assert(ls.forall(_ >= 0), "A >= 0 keeps the Perron iterate nonnegative")
    assert(ls.zip(ls.tail).forall { case (a, b) => a >= b }, "descending")
    assert(ls.map(x => x * x).sum <= 1.0 + 1e-6,
      "top-10 energy of a unit vector cannot exceed 1")
    assert(ls.head > 0.1, "the dominant topic direction must carry real mass")
  }

  test("text_zipf: negative log-log slope with bounded fit quality (r7)") {
    val r = q("text_zipf").collect()(0)
    assert(r.getAs[Long]("n_terms") > 10)
    assert(r.getAs[Double]("zipf_slope") < 0, "frequency must fall with rank")
    val r2 = r.getAs[Double]("r2")
    assert(r2 >= 0 && r2 <= 1)
  }

  test("text_pack_sequences: window accounting is exact (r8)") {
    q("text_pack_sequences").collect().foreach { r =>
      val (tot, wins) = (r.getAs[Long]("total_tokens"), r.getAs[Long]("n_windows"))
      assert(wins == (tot + 511) / 512, "n_windows must be ceil(total/512)")
      val fill = r.getAs[Double]("fill_ratio")
      // fill = total / (windows*512) ∈ (0, 1]; the last window is the
      // only one that can be short
      assert(fill > 0 && fill <= 1.0)
      assert(r.getAs[Long]("max_docs_per_window") >= 1)
    }
  }

  test("text_domain_mix: shares and temperature weights are distributions (r8)") {
    val rows = q("text_domain_mix").collect()
    val shares = rows.map(_.getAs[Double]("token_share"))
    val weights = rows.map(_.getAs[Double]("mix_weight"))
    assert(math.abs(shares.sum - 1.0) < 1e-3, s"shares sum ${shares.sum}")
    assert(math.abs(weights.sum - 1.0) < 1e-3, s"weights sum ${weights.sum}")
    // α = 1/2 compresses toward uniform: the largest domain's weight must
    // not exceed its raw share, the smallest must not fall below it
    val mx = rows.maxBy(_.getAs[Double]("token_share"))
    val mn = rows.minBy(_.getAs[Double]("token_share"))
    assert(mx.getAs[Double]("mix_weight") <= mx.getAs[Double]("token_share") + 1e-6)
    assert(mn.getAs[Double]("mix_weight") >= mn.getAs[Double]("token_share") - 1e-6)
  }

  test("dedup_span_ngrams: duplication fraction is a fraction (r8)") {
    q("dedup_span_ngrams").collect().foreach { r =>
      val (n, dup) = (r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup"))
      assert(n > 0 && dup >= 0 && dup <= n)
      assert(math.abs(r.getAs[Double]("dup_frac") - dup.toDouble / n) < 1e-5)
    }
  }

  test("text_bpe_merge: 3 iterated rounds, re-segmentation provably applied (r10)") {
    val rows = q("text_bpe_merge").collect()
    assert(rows.length == 15, s"expected 3 rounds x top-5, got ${rows.length}")
    for (r <- 1 to 3) {
      val rnd = rows.filter(_.getAs[Int]("round") == r)
      assert(rnd.map(_.getAs[Int]("rank")).toSeq == (1 to 5),
        s"round $r ranks not 1..5")
      val ns = rnd.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("n"))
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
        s"round $r counts not descending")
    }
    // the merge actually re-segments: each round's winner never reappears
    // as a candidate pair in any LATER round (its adjacency was consumed)
    for (r <- 1 to 2) {
      val win = rows.filter(x => x.getAs[Int]("round") == r &&
        x.getAs[Int]("rank") == 1).head
      val (w1, w2) = (win.getAs[String]("p1"), win.getAs[String]("p2"))
      assert(!rows.exists(x => x.getAs[Int]("round") > r &&
        x.getAs[String]("p1") == w1 && x.getAs[String]("p2") == w2),
        s"round-$r winner ($w1,$w2) reappears after its merge")
    }
  }

  test("polyTid: Spark ascii() is the full CODE POINT, matching DuckDB unicode() (r9)") {
    // Pins the cross-engine equivalence claim every hash family rides on
    // (sqlPolyTid doc, VERDICT r8 ADVICE): Spark 4's ascii() returns the
    // Unicode code point of the first character — NOT the first UTF-8
    // byte — so polyTid (Spark) and sqlPolyTid (DuckDB unicode()) agree
    // on non-ASCII text even though the fixture happens to be ASCII.
    val cp = spark.sql("SELECT ascii('é') a, ascii('ß') b, ascii('中') c")
      .collect()(0)
    assert((cp.getInt(0), cp.getInt(1), cp.getInt(2)) == ((233, 223, 20013)))
    // and the full rolling hash on a non-ASCII token matches a driver-side
    // reimplementation of the DuckDB fold (codePoints stepping)
    def duckFold(s: String): Long = {
      var acc = 0L
      s.codePoints().forEach(c => acc = (acc * 31 + c) % Tables.HASH_P)
      acc
    }
    val toks = Seq("café", "straße", "中文档", "naïve-东京")
    import spark.implicits._
    val got = toks.toDF("term").select(Tables.polyTid("term").as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == toks.map(duckFold), s"got $got expected ${toks.map(duckFold)}")
  }

  test("graph_kcore: the 3-core keeps every vertex at degree >= 3 (r11)") {
    val rows = q("graph_kcore").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("degree") >= 3, "vertex below k in the k-core")
      assert(r.getAs[Long]("n_vertices") > 0)
    }
    // handshake: within-core degree mass is even (each edge counted twice)
    val mass = rows.map(r => r.getAs[Long]("degree") * r.getAs[Long]("n_vertices")).sum
    assert(mass % 2 == 0, s"odd degree mass $mass")
  }

  test("graph_clustering_coeff: coefficients bucket into [0, 1] (r11)") {
    val rows = q("graph_clustering_coeff").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, a) = (r.getAs[Double]("coeff_bucket"), r.getAs[Double]("avg_coeff"))
      assert(b >= -1e-9 && b <= 1.0 + 1e-9, s"bucket $b out of range")
      assert(a >= b - 1e-9 && a <= b + 0.1 + 1e-9, s"mean $a outside bucket $b")
    }
  }

  test("ml_dbscan_predict: cluster and distance sentinels agree (r11)") {
    val rows = q("ml_dbscan_predict").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (c, d) = (r.getAs[Long]("cluster"), r.getAs[Double]("dist"))
      // the nearest in-eps fit point is a CORE by construction, and every
      // core carries a component label — so noise ⟺ no in-eps neighbor
      if (c == -1L) assert(d == -1e0, s"noise row with distance $d")
      else assert(d >= 0 && d <= 0.006 + 1e-12, s"assigned row at distance $d")
    }
  }

  test("stream_cdc_upsert: compacted state covers every user exactly once (r11)") {
    val rows = q("stream_cdc_upsert").collect()
    val n = rows.map(_.getAs[Long]("n_users")).sum
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(n == users, s"state rows $n != distinct users $users")
    rows.foreach(r => assert(!r.getAs[Double]("state_value").isNaN))
  }

  test("text_chunk_overlap: stride-24 windows of <= 32 tokens inflate the index (r11)") {
    q("text_chunk_overlap").collect().foreach { r =>
      assert(r.getAs[Double]("inflation") >= 1.0 - 1e-9, "overlap cannot deflate")
      val avg = r.getAs[Double]("avg_chunk_tokens")
      assert(avg > 0 && avg <= 32.0 + 1e-9, s"avg chunk $avg out of range")
      assert(r.getAs[Long]("n_chunks") >= r.getAs[Long]("n_docs"))
    }
  }

  test("text_perplexity_bucket: terciles partition the corpus in NLL order (r11)") {
    val rows = q("text_perplexity_bucket").collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf).count())
    def agg(f: Array[org.apache.spark.sql.Row] => Double)(b: Int) =
      f(rows.filter(_.getAs[Int]("bucket") == b))
    val hi = agg(_.map(_.getAs[Double]("max_nll")).max)(1)
    val lo = agg(_.map(_.getAs[Double]("min_nll")).min)(3)
    assert(hi <= lo + 1e-9, s"head max NLL $hi above tail min $lo")
  }

  test("ml_anomaly_residual: every flagged hour is a 2-sigma deviation (r11)") {
    q("ml_anomaly_residual").collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("zscore")) >= 2.0 - 1e-4)
      assert(r.getAs[Int]("hour_of_day") == (r.getAs[Long]("hr") % 24).toInt)
    }
  }

  test("ml_rf_oob: the OOB confusion partitions the corpus (r11)") {
    val rows = q("ml_rf_oob").collect()
    val n = rows.map(_.getAs[Long]("n")).sum
    assert(n == Tables.lineitem(spark, sf).count(), "confusion must cover every row")
    val share = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(share - 1.0) < 1e-3, s"shares sum $share")
    rows.foreach { r =>
      assert(Set(0L, 1L).contains(r.getAs[Long]("y")))
      assert(Set(0, 1).contains(r.getAs[Int]("oob_pred")))
    }
  }

  test("ml_nmf: nonnegative loadings over the full top-20 vocabulary (r11)") {
    val rows = q("ml_nmf").collect()
    assert(rows.length == 20, s"expected 20 vocab rows, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Double]("topic0") >= 0 && r.getAs[Double]("topic1") >= 0,
        "multiplicative updates must preserve nonnegativity")
    }
    // both topics carry mass (the factorization did not collapse a column)
    assert(rows.map(_.getAs[Double]("topic0")).sum > 0)
    assert(rows.map(_.getAs[Double]("topic1")).sum > 0)
  }

  test("ml_knn_pq: ADC-selected neighbors are truly nearer than average (r11)") {
    import org.apache.spark.sql.functions._
    val pq = q("ml_knn_pq").collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val e = Tables.embeddings(spark, sf)
    val qs = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val all = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      .crossJoin(broadcast(qs))
      .where(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        graft.functions.Vec.l2(spark, "q_emb", "n_emb").as("d"))
      .collect().map(r =>
        ((r.getAs[Long]("q_id"), r.getAs[Long]("n_id")), r.getAs[Double]("d")))
    // The synthetic embeddings are near-uniform in 64-d (distance
    // concentration: even the TRUE top-5 of a query isn't same-label), so
    // a 2×16 product code retains only a thin distance signal — exact
    // recall is NOT the pin (the ADC math itself is hash-pinned by the
    // sf0.01 oracle). The semantic pin: the TRUE distance of ADC-selected
    // pairs must still beat the candidate average — code assignment or
    // LUT breakage collapses the ratio to ~1.0, measured 0.90 healthy.
    val meanAll = all.map(_._2).sum / all.length
    val sel = all.filter(x => pq.contains(x._1))
    val meanSel = sel.map(_._2).sum / sel.length
    assert(sel.length == pq.size, "every PQ pair must exist in the candidate set")
    assert(pq.size == 50, s"expected 10 queries x top-5, got ${pq.size}")
    assert(meanSel < 0.95 * meanAll,
      s"ADC selection mean $meanSel not better than average $meanAll")
  }

  test("dedup_minhash_accuracy: estimator and truth are Jaccards, err is their gap (r11)") {
    val rows = q("dedup_minhash_accuracy").collect()
    assert(rows.nonEmpty, "banded candidates exist in the fixture")
    rows.foreach { r =>
      val (e, t) = (r.getAs[Double]("est_jaccard"), r.getAs[Double]("true_jaccard"))
      assert(e >= 0 && e <= 1 && t >= 0 && t <= 1)
      assert(math.abs(r.getAs[Double]("err") - (e - t)) < 2e-6)
      // a banded candidate matched at least one full band = 4 of 8 minima
      assert(e >= 0.5 - 1e-9, s"candidate with est $e below the band floor")
    }
  }

  test("ml_weighted_linreg: closed-form WLS with a positive residual scale (r11)") {
    val r = q("ml_weighted_linreg").collect()(0)
    assert(r.getAs[Long]("n") == Tables.lineitem(spark, sf).count())
    assert(r.getAs[Double]("weighted_rmse") > 0)
    assert(!r.getAs[Double]("slope").isNaN && !r.getAs[Double]("intercept").isNaN)
  }

  test("ml_huber_regression: 3-round trail from the OLS warm start (r11)") {
    val rows = q("ml_huber_regression").collect()
    assert(rows.map(_.getAs[Int]("round")).toSeq == Seq(0, 1, 2))
    rows.foreach { r =>
      assert(!r.getAs[Double]("slope").isNaN && !r.getAs[Double]("intercept").isNaN)
    }
    // downweighting the tails must move the fit off the OLS start
    val b = rows.map(_.getAs[Double]("slope"))
    assert(b(0) != b(1) || rows.map(_.getAs[Double]("intercept")).distinct.length > 1,
      "IRLS rounds left the OLS fit untouched")
  }

  test("minLabelComponents: driver union-find == distributed hash-to-min (r11)") {
    import spark.implicits._
    // two chains, one triangle, one isolated vertex via the vertices option
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("doc_a", "doc_b")
    val verts = (Seq(99L) ++ Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 22L, 23L)).toDF("v")
    def run(lf: Long) = graft.ops.Dedup
      .minLabelComponents(pairs, Some(verts), 24, lf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = run(65536L)
    val dist = run(0L) // cap 0 forces the distributed hash-to-min loop
    assert(local == dist, s"local $local vs distributed $dist")
    assert(local.contains((99L, 99L)), "isolated vertex labels itself")
    assert(local.filter(_._1 <= 3L).forall(_._2 == 1L), "triangle min label")
  }

  test("kcoreAlive: driver peel == distributed peel (r11)") {
    import spark.implicits._
    // K4 core + a pendant chain that must peel away
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("a", "b")
    val nbr = e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))
    def run(lf: Long) = graft.ops.Cluster.kcoreAlive(e, nbr, 3, lf)
      .collect().map(_.getLong(0)).toSet
    val local = run(65536L)
    val dist = run(0L)
    assert(local == dist, s"local $local vs distributed $dist")
    assert(local == Set(1L, 2L, 3L, 4L), local.toString)
  }

  test("ml_hbos: rare-bin scores are nonnegative and descending (r11)") {
    val rows = q("ml_hbos").collect()
    assert(rows.length == 20)
    val scores = rows.map(_.getAs[Double]("hbos"))
    assert(scores.forall(_ >= -1e-9), "density ≤ 1 ⇒ −ln ≥ 0")
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b - 1e-9 })
  }

  test("ml_mahalanobis_outlier: squared distances nonnegative, descending (r11)") {
    val d = q("ml_mahalanobis_outlier").collect()
      .map(_.getAs[Double]("mahalanobis_sq"))
    assert(d.length == 20 && d.forall(_ >= 0))
    assert(d.zip(d.tail).forall { case (a, b) => a >= b - 1e-9 })
  }

  test("ml_survival_km: a monotone survival curve over a shrinking risk set (r11)") {
    val rows = q("ml_survival_km").collect()
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == users)
    val s = rows.map(_.getAs[Double]("survival"))
    assert(s.forall(v => v >= 0 && v <= 1 + 1e-9))
    assert(s.zip(s.tail).forall { case (a, b) => a >= b - 1e-9 }, "S must not rise")
    val r = rows.map(_.getAs[Long]("at_risk"))
    assert(r.zip(r.tail).forall { case (a, b) => a >= b }, "risk set must shrink")
    rows.foreach(x => assert(x.getAs[Long]("n_events") <= x.getAs[Long]("at_risk")))
  }

  test("ml_theta_forecast: 7 finite horizon rows (r11)") {
    val rows = q("ml_theta_forecast").collect()
    assert(rows.map(_.getAs[Int]("h")).toSeq == (1 to 7))
    rows.foreach(r => assert(!r.getAs[Double]("forecast").isNaN))
  }

  test("dedup_contamination_span: longest shared spans on a constructed overlap fixture (r11)") {
    // VERDICT r10 #4 done-criterion: a hand-built corpus with KNOWN shared
    // runs. bench doc 1 = e1..e40 (unique tokens). train doc 100 embeds a
    // 20-token run (e5..e24) AND a 9-token run (e30..e38) -> flagged,
    // longest 20, two maximal spans. train doc 101 embeds a 10-token run
    // -> 10 < MIN_SPAN=16, must NOT be flagged. train doc 102 shares
    // nothing 8 tokens long.
    val dir = java.nio.file.Files.createTempDirectory("graft_cspan").toString
    val e = (1 to 40).map(i => s"e$i")
    val bench = e.mkString(" ")
    val t100 = ((1 to 5).map(i => s"t$i") ++ e.slice(4, 24) ++
      (6 to 10).map(i => s"t$i") ++ e.slice(29, 38) ++ Seq("t99")).mkString(" ")
    val t101 = ((1 to 10).map(i => s"u$i") ++ e.slice(9, 19) ++
      (11 to 20).map(i => s"u$i")).mkString(" ")
    val t102 = (1 to 30).map(i => s"v$i").mkString(" ")
    import spark.implicits._
    Seq((1L, bench), (100L, t100), (101L, t101), (102L, t102))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_contamination_span")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 100L, 20L, 2L)),
      s"expected one flagged pair (1,100) longest=20 n_spans=2, got ${got.toSeq}")
  }

  test("text_dsir_weight: the importance ratio separates target-language docs (r11)") {
    // Semantic direction check (values are oracle-checked): per-doc
    // log w computed locally with the same add-one LMs must be higher on
    // average for lang='en' docs (the target slice) than for the rest —
    // DSIR's whole point. Plus per-source invariants on the query output.
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").filter(_.nonEmpty).map(_.toLowerCase).toSeq))
    val all = docs.flatMap(_._3)
    val cRaw = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cTgt = docs.filter(_._2 == "en").flatMap(_._3)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (nRaw, nTgt, v) = (all.size.toLong,
      docs.filter(_._2 == "en").map(_._3.size).sum.toLong, cRaw.size.toLong)
    def logw(ts: Seq[String]): Double = ts.map { t =>
      math.log((cTgt.getOrElse(t, 0L) + 1).toDouble / (nTgt + v)) -
        math.log((cRaw(t) + 1).toDouble / (nRaw + v))
    }.sum
    val en = docs.filter(_._2 == "en").map(d => logw(d._3))
    val rest = docs.filter(_._2 != "en").map(d => logw(d._3))
    assert(en.sum / en.size > rest.sum / rest.size,
      "target-language docs must score higher under the importance ratio")
    val rows = q("text_dsir_weight").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, sel) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_selected"))
      assert(sel >= 0 && sel <= n)
      assert(!r.getAs[Double]("avg_logw").isNaN)
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.length)
  }

  test("dedup_span_removal: accounting equals a local ExactSubstr replay (r11)") {
    // Local replay with EXACT 8-token tuples as span identity (the engine
    // rides the rolling hash; agreement here simultaneously proves the
    // removal logic and that no hash collision perturbs the fixture):
    // canonical occurrence = corpus-min (doc_id, offset); every other
    // occurrence of a repeated span marks [i, i+7]; removed = per-doc
    // interval-union size.
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").filter(_.nonEmpty).toSeq))
    val occ = docs.flatMap { case (id, _, ts) =>
      if (ts.length < 8) Seq.empty
      else (0 to ts.length - 8).map(i => (ts.slice(i, i + 8), id, i))
    }
    val byKey = occ.groupBy(_._1)
    val removable = byKey.values.flatMap { os =>
      if (os.length < 2) Seq.empty
      else { val c = os.minBy(o => (o._2, o._3)); os.filterNot(_ == c) }
    }.toSeq
    val removedPerDoc = removable.groupBy(_._2).view.mapValues { os =>
      val ivs = os.map(o => (o._3, o._3 + 7)).sortBy(_._1)
      var tot = 0L; var end = -1
      for ((a, b) <- ivs) {
        if (a > end) { tot += b - a + 1; end = b }
        else if (b > end) { tot += b - end; end = b }
      }
      tot
    }.toMap
    val expected = docs.groupBy(_._2).view.mapValues { ds =>
      val total = ds.map(_._3.length.toLong).sum
      val rem = ds.map(d => removedPerDoc.getOrElse(d._1, 0L)).sum
      val touched = ds.count(d => removedPerDoc.getOrElse(d._1, 0L) > 0).toLong
      (ds.length.toLong, touched, total, rem)
    }.toMap
    val got = q("dedup_span_removal").collect()
    assert(got.nonEmpty)
    for (r <- got) {
      val src = r.getAs[String]("source")
      val (nd, tch, tot, rem) = expected(src)
      assert(r.getAs[Long]("n_docs") == nd, s"$src n_docs")
      assert(r.getAs[Long]("n_docs_touched") == tch,
        s"$src touched ${r.getAs[Long]("n_docs_touched")} != local $tch")
      assert(r.getAs[Long]("total_tokens") == tot, s"$src total_tokens")
      assert(r.getAs[Long]("tokens_removed") == rem,
        s"$src removed ${r.getAs[Long]("tokens_removed")} != local $rem")
    }
  }

  test("text_bpe_apply: per-source metering equals a driver-side replay of the learned merges (r11)") {
    // VERDICT r10 #5 done-criterion: applying the trainer's merge table
    // reproduces the trainer's segmentation. Collect the 3 round winners
    // from text_bpe_merge, replay them locally with the SAME
    // separator-string replace (java.lang.String.replace is the
    // left-to-right non-overlapping scan both engines implement), and
    // recompute every source's BPE token count from the raw fixture.
    val merges = q("text_bpe_merge").collect()
      .filter(_.getAs[Int]("rank") == 1)
      .sortBy(_.getAs[Int]("round"))
      .map(r => (r.getAs[String]("p1"), r.getAs[String]("p2")))
    assert(merges.length == 3)
    val SEP = "\u001f" // chr(31), the query's symbol separator
    def nTokens(word: String): Long =
      if (word.length < 2) 1L
      else {
        var s = SEP + word.map(c => s"$c$SEP").mkString
        for ((a, b) <- merges) s = s.replace(s"$SEP$a$SEP$b$SEP", s"$SEP$a$b$SEP")
        s.split(SEP).count(_.nonEmpty).toLong
      }
    val local = Tables.documents(spark, sf).select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ").filter(_.nonEmpty)
        .map(w => (r.getString(0), w)))
      .groupBy(_._1).map { case (src, ws) =>
        src -> ((ws.length.toLong, ws.map(w => nTokens(w._2)).sum))
      }
    val got = q("text_bpe_apply").collect()
    assert(got.nonEmpty)
    for (r <- got) {
      val (nw, nt) = local(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_words") == nw,
        s"${r.getAs[String]("source")}: n_words ${r.getAs[Long]("n_words")} != local $nw")
      assert(r.getAs[Long]("n_tokens_bpe") == nt,
        s"${r.getAs[String]("source")}: n_tokens ${r.getAs[Long]("n_tokens_bpe")} != local $nt")
    }
  }

  test("text_keywords: bounded tag cloud with descending document votes (r11)") {
    val rows = q("text_keywords").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val n = rows.map(_.getAs[Long]("n_docs_rank1"))
    assert(n.forall(_ >= 1))
    assert(n.zip(n.tail).forall { case (a, b) => a >= b })
    // every document elects exactly one keyword, so the votes can never
    // exceed the corpus
    assert(n.sum <= Tables.documents(spark, sf).count())
  }

  test("text_quality_funnel: first-fail attribution on a one-doc-per-rule fixture (r11)") {
    // Six constructed docs, each engineered to PASS every rule before the
    // one it targets: A fails the token floor, B the mean-token-length
    // band, C the symbol cap, D stopword presence, E the repetition cap,
    // F survives. Expected funnel: one rejection per stage, survival
    // 5,4,3,2,1.
    val dir = java.nio.file.Files.createTempDirectory("graft_funnel").toString
    val a = "aaa bbb ccc ddd eee"
    val b = (1 to 16).map(i => f"longword$i%02d").mkString(" ")       // atl ~ 10
    val c = (1 to 16).map(_ => "ab%%").mkString(" ")                  // symr ~ 0.4
    val d = (1 to 16).map(i => f"tok$i%02d").mkString(" ")            // no stopword
    val e = ("the" +: (1 to 11).map(i => f"tok$i%02d") ++: Seq("zzzz", "zzzz", "zzzz", "zzzz")).mkString(" ")
    val f = ("the" +: (1 to 15).map(i => f"tok$i%02d")).mkString(" ")
    import spark.implicits._
    Seq(a, b, c, d, e, f).zipWithIndex
      .map { case (t, i) => (i.toLong, t, "src1", t.length.toLong) }
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_quality_funnel")(spark, dir)
      .collect().map(r => (r.getAs[Int]("stage"), r.getAs[String]("rule"),
        r.getAs[Long]("n_rejected"), r.getAs[Long]("n_surviving")))
    assert(got.toSeq == Seq(
      (1, "min_tokens", 1L, 5L), (2, "avg_tok_len", 1L, 4L),
      (3, "symbol_ratio", 1L, 3L), (4, "stopword_hit", 1L, 2L),
      (5, "repetition", 1L, 1L)),
      s"funnel attribution mismatch: ${got.toSeq}")
  }

  test("text_bigram_backoff: exact backoff rate and NLL on a two-doc corpus (r11)") {
    // Train (src10, even parity) "a b a c": bigrams (a,b) (b,a) (a,c),
    // c(a·)=2, N=4, V=3. Eval (src11) "a b x": (a,b) seen -> S=1/2;
    // (b,x) unseen, x OOV -> S=0.4*(0+1)/(4+3). backoff_rate=1/2 and the
    // NLL is the mean of the two -ln S, replayed here driver-side.
    val dir = java.nio.file.Files.createTempDirectory("graft_bigram").toString
    import spark.implicits._
    Seq((0L, "a b a c", "src10", 7L), (1L, "a b x", "src11", 5L))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("text_bigram_backoff")(spark, dir).collect()
    assert(rows.length == 1, s"expected one eval source row, got ${rows.toSeq}")
    val r = rows(0)
    assert(r.getAs[String]("source") == "src11" && r.getAs[Long]("n_docs") == 1L
      && r.getAs[Long]("n_bigrams") == 2L)
    assert(r.getAs[Double]("backoff_rate") == 0.5)
    val want = -(math.log(0.5) + math.log(0.4 / 7.0)) / 2.0
    assert(math.abs(r.getAs[Double]("avg_nll") - want) < 1e-5,
      s"avg_nll ${r.getAs[Double]("avg_nll")} != $want")
  }

  test("ml_scaling_curve: nested subsets, full point covers the table, one exponent (r11)") {
    val rows = q("ml_scaling_curve").collect()
    assert(rows.length == 4)
    val ns = rows.map(_.getAs[Long]("n_rows"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a < b },
      s"hash-prefix subsets must be strictly nested: ${ns.toSeq}")
    assert(ns.last == Tables.lineitem(spark, sf).count(),
      "the 100% point must cover the whole training table")
    assert(rows.forall(_.getAs[Double]("mse") > 0))
    // the log-log exponent is a property of the whole curve — identical
    // on every row by construction
    assert(rows.map(_.getAs[Double]("scaling_exponent")).distinct.length == 1)
  }

  test("agg_kmv_distinct: merged sketch equals a driver-side KMV replay (r11)") {
    // The merge is lossless by construction (k smallest of the union of
    // per-group k-smallest sets = k smallest of the union) — so the 'ALL'
    // row, computed in-engine FROM THE SKETCHES, must equal this replay
    // over the raw distinct keys.
    val rows = q("agg_kmv_distinct").collect()
    val P = Tables.HASH_P
    val hs = Tables.orders(spark, sf).select("o_custkey").distinct()
      .collect().map(r => (r.getLong(0) * 1203248983L + 7L) % P).sorted
    val est = 63.0 * P / hs(63)
    val all = rows.find(_.getString(0) == "ALL").get
    assert(all.getAs[Long]("k_used") == 64L)
    assert(math.abs(all.getAs[Double]("kmv_est") - est) < 1e-3,
      s"merged estimate ${all.getAs[Double]("kmv_est")} != replay $est")
    assert(rows.forall(_.getAs[Double]("rel_err") < 0.1),
      s"KMV estimates drifted: ${rows.toSeq}")
  }

  test("dedup_bloom_prefilter: duplicates always pass, accounting is consistent (r11)") {
    // Constructed corpus with a KNOWN cross-parity duplicate: probe doc 1
    // repeats build doc 0's text. The Bloom contract: every true
    // duplicate is a candidate (no false negatives, structurally), and
    // the counters tie out (candidates = true dups flagged + false
    // positives, both bounded by the probe count).
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    import spark.implicits._
    val texts = (0 to 9).map {
      case 1 => "shared duplicate text zero"
      case 0 => "shared duplicate text zero"
      case i => s"unique text number $i " + ("w" + i) * 3
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, s"src${i % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dedup_bloom_prefilter")(spark, dir).collect()
    val tot = (rows.map(_.getAs[Long]("n_probe")).sum,
      rows.map(_.getAs[Long]("n_candidate")).sum,
      rows.map(_.getAs[Long]("n_true_dup")).sum,
      rows.map(_.getAs[Long]("n_false_pos")).sum)
    assert(tot._1 == 5L, s"probe side must be the 5 odd docs: $tot")
    assert(tot._3 == 1L, s"exactly one constructed true duplicate: $tot")
    assert(rows.forall(_.getAs[Boolean]("no_false_negatives")),
      "a Bloom filter can never reject a true duplicate")
    assert(tot._2 == tot._3 + tot._4 && tot._2 <= tot._1,
      s"candidates must tie out to dups + false positives: $tot")
  }

  test("dedup_cdc_chunk: boundaries survive a prefix insertion (the CDC property)") {
    // The whole point of content-defined chunking: inserting tokens at the
    // FRONT of a document must leave the downstream chunk boundaries (and
    // so the duplicate accounting) intact, where fixed-width windows would
    // re-key everything. doc 1 = 64 shared tokens; doc 2 = 3 junk tokens +
    // the same 64. Every doc-2 chunk from the first content-defined
    // boundary onward realigns with doc 1 and is flagged duplicate.
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    import spark.implicits._
    val shared = (1 to 64).map(i => s"tok$i").mkString(" ")
    Seq((1L, shared, "canon"), (2L, s"x1 x2 x3 $shared", "shift"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("dedup_cdc_chunk")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("total_tokens"), r.getAs[Long]("tokens_saved"))).toMap
    assert(rows("canon") == (64L, 0L),
      s"lower doc_id must stay canonical (zero saved): $rows")
    assert(rows("shift")._1 == 67L, s"3 junk + 64 shared tokens: $rows")
    // at least the suffix chunks past the first re-synchronized boundary
    // dedup; with ~16-token chunks that is >half the document
    assert(rows("shift")._2 >= 32L,
      s"CDC must re-synchronize after the insertion: $rows")
  }

  test("text_readability: Flesch on a constructed doc with hand-countable parts") {
    // "aa bb. cc dd." -> 4 words, 2 sentences, syllables 1+1(floor)+1(floor)
    // +1 = 4: wps = 2, spw = 1, flesch = 206.835 - 1.015*2 - 84.6 = 120.205.
    val dir = java.nio.file.Files.createTempDirectory("graft_flesch").toString
    import spark.implicits._
    Seq((1L, "aa bb. cc dd.", "s"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("text_readability")(spark, dir).collect().head
    assert(r.getAs[Double]("avg_words_per_sentence") == 2.0, r.toString)
    assert(r.getAs[Double]("avg_syllables_per_word") == 1.0, r.toString)
    assert(r.getAs[Double]("avg_flesch") == 120.205, r.toString)
  }

  test("ml_perceptron: the descent trace improves on the all-wrong start") {
    val rows = SparkEntry.queries("ml_perceptron")(spark, sf)
      .collect().sortBy(_.getAs[Int]("step"))
    val errs = rows.map(_.getAs[Double]("err_rate"))
    assert(errs.head == 1.0, s"round 1 from w=0 must update on every row: ${errs.toSeq}")
    assert(errs.last < errs.head, s"training must beat the start: ${errs.toSeq}")
  }

  test("ml_knn_graph_search: recall@5 vs exact is >= the IVF probe row's") {
    // The graph-ANN deploy claim (VERDICT r13 next #2): greedy descent
    // through the NN-descent graph must answer at least as well as the
    // IVF probe on the SAME query sample (vec_id < 20), both measured
    // against a local exact top-5.
    def exactTop5(q: Long): Seq[Long] = {
      def l2(a: Array[Double], b: Array[Double]): Double =
        math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
      localEmb.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, l2(localEmb(q), v)) }
        .sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    }
    def recall(rows: Array[Row]): Double = {
      val byQ = rows.groupBy(_.getLong(0))
      val qs = byQ.keys.toSeq.sorted
      qs.map { q =>
        val got = byQ(q).map(_.getLong(2)).toSet
        val ex = exactTop5(q)
        got.intersect(ex.toSet).size.toDouble / ex.size
      }.sum / qs.size
    }
    val graph = recall(q("ml_knn_graph_search")
      .select("q_id", "rn", "n_id").collect())
    val ivf = recall(q("ml_knn_ivf").select("q_id", "rn", "n_id").collect())
    assert(graph >= ivf,
      s"graph-search recall@5 $graph must be >= IVF probe recall@5 $ivf")
  }

  test("ml_graph_search_hops_sweep: monotone, and hop 5 equals the search row") {
    // The visited set only grows per hop, so recall@5 must be
    // non-decreasing; and the final point of the curve must equal the
    // recall of ml_knn_graph_search's own answers (both read the same
    // memoized trail — a drift means the sweep measures something else).
    val curve = q("ml_graph_search_hops_sweep").collect()
      .map(r => (r.getAs[Int]("hops"), r.getAs[Double]("recall_at_5")))
      .sortBy(_._1)
    assert(curve.map(_._1).sameElements(0 to 5), curve.mkString(","))
    curve.sliding(2).foreach { case Array((_, a), (h, b)) =>
      assert(b >= a, s"recall fell at hop $h: ${curve.mkString(",")}")
    }
    def l2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    def exactTop5(qq: Long): Set[Long] = localEmb.toSeq.filter(_._1 != qq)
      .map { case (id, v) => (id, l2(localEmb(qq), v)) }
      .sortBy { case (id, d) => (d, id) }.take(5).map(_._1).toSet
    val byQ = q("ml_knn_graph_search").select("q_id", "n_id").collect()
      .groupBy(_.getLong(0))
    val searchRecall = byQ.map { case (qq, rows) =>
      rows.map(_.getLong(1)).toSet.intersect(exactTop5(qq)).size
    }.sum.toDouble / (5.0 * byQ.size)
    assert(math.abs(curve.last._2 - searchRecall) < 1e-6,
      s"sweep hop-5 ${curve.last._2} != search row's recall $searchRecall")
  }

  test("ml_index_graph_save_load: the reloaded graph answers bit-identically") {
    // The deploy-boundary pin (the ml_index_save_load discipline): edge
    // ids and exact distances round-trip parquet losslessly, so searching
    // THROUGH the persisted artifact must equal the in-session search.
    val inSession = q("ml_knn_graph_search").collect().map(_.toString).sorted
    val reloaded = q("ml_index_graph_save_load").collect().map(_.toString).sorted
    assert(inSession.sameElements(reloaded),
      s"reloaded graph search diverged: ${inSession.length} vs ${reloaded.length} rows")
  }

  test("dedup_incremental: batch-vs-store verdicts match the full-corpus pair set") {
    // A new-batch doc (doc_id % 10 = 7) is a duplicate-vs-store exactly
    // when the full-corpus banded pair set (dedup_minhash) links it to a
    // doc on the OTHER side of the split — the incremental path must not
    // invent or lose verdicts relative to the monolithic one. The
    // equivalence includes BAND_CAP (ADVICE r14): the probe now mirrors
    // the monolithic bucket cap via store+batch key counts, so this pin
    // holds on hot-bucket corpora too, not only when every bucket
    // happens to stay under cap (as this fixture's do).
    val pairs = q("dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dupNew = pairs.flatMap { case (a, b) =>
      Seq(a, b).filter(d => d % 10 == 7 &&
        (if (d == a) b else a) % 10 != 7)
    }.toSet
    val batch = Tables.documents(spark, sf)
      .where(col("doc_id") % 10 === 7)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = batch.groupBy(_._2).map { case (src, ds) =>
      val nd = ds.count(d => dupNew.contains(d._1))
      (src, (ds.length.toLong, nd.toLong, (ds.length - nd).toLong))
    }
    val got = q("dedup_incremental").collect().map(r =>
      (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected, s"got $got expected $expected")
  }

  test("text_unigram_train: learned pieces match a local brute-force EM round") {
    // Independent driver-side replication of the whole trainer: seed
    // substring counts, REAL-collapsed −ln weights on the decimal wire
    // (JBD.valueOf mirrors Spark's double→decimal path through the
    // shortest decimal representation), exhaustive mask enumeration with
    // the ≤4-char piece constraint, (score, mask) argmin, hard-EM
    // re-estimation, (n DESC, piece ASC) ranking.
    import java.math.{BigDecimal => JBD, RoundingMode}
    val words: Map[String, Long] = Tables.documents(spark, sf).select("text")
      .collect().flatMap(_.getString(0).split(" ").filter(_.nonEmpty))
      .filter(w => w.length >= 2 && w.length <= 12)
      .groupBy(identity).map { case (w, o) => w -> o.length.toLong }
    val cnt = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((w, f) <- words; st <- 0 until w.length; ln <- 1 to math.min(4, w.length - st))
      cnt(w.substring(st, st + ln)) += f
    val total = cnt.values.sum.toDouble
    def wgt(p: String): JBD =
      JBD.valueOf(-math.log(cnt(p) / total).toFloat.toDouble)
        .setScale(12, RoundingMode.HALF_UP)
    val mcnt = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    for ((w, f) <- words) {
      val n = w.length
      var bestScore: JBD = null
      var bestPieces: Seq[String] = Nil
      for (mask <- 0L until (1L << (n - 1))) {
        val cuts = (1 until n).filter(j => ((mask >> (j - 1)) & 1L) == 1L)
        val bnd = 0 +: cuts :+ n
        val gaps = bnd.sliding(2).map(p => p(1) - p(0)).toSeq
        if (gaps.max <= 4) {
          val pieces = bnd.sliding(2).map(p => w.substring(p(0), p(1))).toSeq
          val score = pieces.map(wgt).reduce(_ add _)
          // ascending mask order: strict < keeps the lowest-mask tie winner
          if (bestScore == null || score.compareTo(bestScore) < 0) {
            bestScore = score; bestPieces = pieces
          }
        }
      }
      bestPieces.foreach(p => mcnt(p) += f)
    }
    val total2 = mcnt.values.sum.toDouble
    val expected = mcnt.toSeq.sortBy { case (p, c) => (-c, p) }.take(20).zipWithIndex
      .map { case ((p, c), i) =>
        (i + 1, p, c, JBD.valueOf(c / total2).setScale(6, RoundingMode.HALF_UP).doubleValue) }
    val got = q("text_unigram_train").collect().map(r =>
      (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == expected,
      s"trainer diverged from local brute force: ${got.diff(expected).take(3)} vs ${expected.diff(got).take(3)}")
  }

  test("corpus is ASCII — the char-indexed generator precondition holds") {
    // TrigramGenerator windows by Java char index while the oracle's
    // substr counts code points (ADVICE r13: documented ASCII-only).
    // This pin turns the silent-divergence hazard into a loud failure the
    // moment the fixture gains non-ASCII text — the cue to move the
    // generator to offsetByCodePoints.
    val nonAscii = Tables.documents(spark, sf)
      .where("text RLIKE '[^\\\\x00-\\\\x7F]'").count()
    assert(nonAscii == 0L,
      s"$nonAscii documents contain non-ASCII text; TrigramGenerator " +
        "must switch to code-point stepping before this fixture is valid")
  }
}
