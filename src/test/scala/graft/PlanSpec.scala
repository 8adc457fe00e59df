package graft

import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan regression guards (SURVEY §4.2): the scale story lives in
  * the PLAN — pushdown reaching the parquet scan, dims broadcast, top-k as
  * TakeOrderedAndProject, partial aggregation — so pin it. A refactor that
  * silently turns a broadcast join into a sort-merge join or defeats
  * pushdown breaks these before it costs hours on a cluster.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  test("scan_pruned_pushdown: filter reaches the parquet scan, columns pruned") {
    val p = plan("scan_pruned_pushdown")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), "no filters pushed:\n" + p)
    // projection pruned to the selected columns — the wide lineitem schema
    // must NOT be read in full (16 columns); ReadSchema should stay narrow
    val readSchema = p.linesIterator.find(_.contains("ReadSchema:")).getOrElse("")
    assert(readSchema.split(",").length <= 6, s"scan reads too many columns: $readSchema")
  }

  test("join_broadcast_dim: dims are broadcast, never shuffled") {
    val p = plan("join_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SMJ:\n" + p)
  }

  test("topk_limit plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("topk_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sim_topk_pairs: global top-50 is heap-based, not a full sort") {
    val p = plan("sim_topk_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sim_topk_pairs_lsh: bounded candidates (equi-join on bucket) + heap top-k") {
    val p = plan("sim_topk_pairs_lsh")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "LSH twin must not pair-scan the full table:\n" + p)
  }

  test("sign-LSH family: candidates join on the banded bucket key (VERDICT r5 #1)") {
    // all three consumers of Lsh.candidates must keep (band, bkey) as the
    // equi-join key — never a pair scan outside the buckets
    for (q <- Seq("dedup_embed_cosine", "sim_threshold_lsh", "sim_topk_pairs_lsh")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q pair-scans outside the LSH buckets:\n$p")
      assert(p.contains("bkey"), s"$q: bucket key missing from the plan:\n$p")
    }
  }

  test("win_ntile_cume: no window partitioned by the 3-value status alone (VERDICT r4 #7)") {
    val p = plan("win_ntile_cume")
    // the big-table window must include the salt bucket in its partition
    // spec; windows over the tiny counts table keep plain status keys
    val winLines = p.linesIterator.filter(_.contains("row_number()")).toSeq
    assert(winLines.nonEmpty, p)
    assert(winLines.forall(_.contains("bkt")),
      s"row_number window not salted:\n${winLines.mkString("\n")}")
  }

  test("agg_hash_groupby: partial (map-side) aggregation precedes the shuffle") {
    val p = plan("agg_hash_groupby")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final HashAggregate:\n" + p)
  }

  test("dedup_exact: shuffle carries the 40-byte digest, not document text") {
    val p = plan("dedup_exact")
    // the exchange's hashpartitioning key must be the hash/len pair
    assert(p.contains("sha2"), p)
  }

  test("sink_partitioned_parquet: re-read prunes to one partition directory") {
    val p = plan("sink_partitioned_parquet")
    val pf = p.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("o_orderstatus"), s"no partition pruning:\n$p")
  }

  test("text_langid: profile and scoring share ONE documents scan (ReuseExchange, r6)") {
    // the r5 form persisted the exploded trigram stream so the two
    // consumers would not rescan; the r6 form relies on ReuseExchange
    // deduping the scan+repartition exchange instead — if a refactor
    // breaks the reuse (e.g. diverging fanOut keys), the corpus is read
    // and exploded per consumer, which at 100 TB doubles the scan cost.
    // Under AQE the reuse happens at stage materialization, so the plan
    // must be EXECUTED before the final plan shows the ReusedExchange.
    val qe = SparkEntry.queries("text_langid")(spark, sf).queryExecution
    qe.toRdd.count()
    val p = qe.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      "trigram exchange not reused between profile and scoring:\n" + p)
  }

  test("no query ever plans a CartesianProduct") {
    // every pair scan must be a broadcast nested-loop (small side broadcast)
    // or a bucketed equi-join — an unpartitioned cartesian is the one join
    // shape with no 100 TB story at all
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
        .toString.contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("sink_bucketed_join: the bucketed layout join plans zero shuffles (r6)") {
    // the whole point of bucketBy on the join key: both catalog reads
    // carry the bucket spec, so the join needs NO Exchange on either side
    // (the write paid the partitioning once). Sorts may remain; shuffles
    // may not.
    // the fixture's customer side is broadcast-sized, which would hide the
    // bucket story (broadcast also has zero exchanges) — disable broadcast
    // so the plan must stand on the bucket spec alone
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = ops.Sources.bucketedJoin(spark, sf).queryExecution.sparkPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a bucket-colocated join:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join still shuffles:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("join_interval_bucket: the keyless range join plans as an equi-join on the cell") {
    // without the bucket trick Spark would plan BroadcastNestedLoopJoin
    // (O(n·m) at any scale); the cell key must make it a hash/merge join
    val p = SparkEntry.queries("join_interval_bucket")(spark, sf)
      .queryExecution.sparkPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop range join:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"expected an equi-join on cell:\n$p")
  }

  test("vocab id assignment has no single-partition exchange (VERDICT r3 #1)") {
    // dense term-ids come from a distributed sort + zipWithIndex
    // (Tables.denseIds), not a global row_number window — the plan must
    // never funnel the vocabulary through one task
    for (q <- Seq("dedup_minhash", "dedup_simhash", "text_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("SinglePartition"),
        s"$q plans a single-partition exchange:\n$p")
    }
  }

  test("denseIds is lazy: construction + explain launch zero jobs (VERDICT r4 #8)") {
    import org.apache.spark.sql.functions._
    // the table read is inside the window too: it launches no job either
    val jobs = jobsLaunchedBy {
      val terms = Tables.documents(spark, sf)
        .select(explode(split(col("text"), " ")).as("term"))
        .where(col("term") =!= "").distinct()
      val ids = Tables.denseIds(terms, "term", "tid")
      ids.queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
    assert(jobs.isEmpty,
      s"table read, denseIds construction or explain launched ${jobs.size} job(s)")
  }

  test("the recall sweeps count their queries in the plan, not while they are built") {
    // a build may run a memo's pin or a fit's collect, never an action
    // whose only use is to print its result into the query as a literal
    for (q <- Seq("ml_nndescent_converge", "ml_graph_search_hops_sweep")) {
      val actions = actionsLaunchedBy { SparkEntry.queries(q)(spark, sf) }
      assert(!actions.exists(_.startsWith("count at ")),
        s"$q launched a count while it was built: ${actions.mkString(", ")}")
    }
  }

  test("ml_poisson_glm: its fit reads the frame in one execution, its 3 steps read only the pinned cells") {
    // the shared lineitemFit pin is paid by whichever query builds first
    Tables.lineitemFit(spark, sf)
    val plans = plansLaunchedBy { SparkEntry.queries("ml_poisson_glm")(spark, sf) }
    // the fit frame is (l_discount, l_quantity) over the lineitemFit leaf
    val readsFrame = plans.filter(_._2.contains("l_discount"))
    assert(readsFrame.size === 1, readsFrame.map(_._1).mkString(", "))
    val steps = plans.filter(_._1.startsWith("collect at "))
    assert(steps.size === 3, plans.map(_._1).mkString(", "))
    for ((site, p) <- steps) {
      assert(!p.contains("l_discount") && !p.contains("l_quantity"), s"$site reads the frame:\n$p")
      assert(!p.toLowerCase.contains("parquet"), s"$site scans parquet:\n$p")
      assert(p.contains("ExistingRDD"), s"$site does not read the pinned cells:\n$p")
    }
  }

  test("no persisted blocks outlive a query (VERDICT r3 #3/#4)") {
    // queries that use caches internally must release them before
    // returning; snapshot-diff guards against leaks without racing other
    // suites sharing the session
    for (q <- Seq("text_langid", "ml_kmeans_iterate", "dedup_minhash",
        "dedup_ngram_jaccard", "ml_pca_power")) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      SparkEntry.queries(q)(spark, sf).queryExecution.toRdd.count()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"$q leaked cached RDDs: $leaked")
    }
  }

  test("dedup_contamination_span: hits join on the span hash, never a pair scan (r11)") {
    val p = plan("dedup_contamination_span")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "span decontamination must stay inverted-index shaped:\n" + p)
    assert(p.contains("gid"), s"span-hash join key missing from the plan:\n$p")
  }

  test("text_bpe_apply: the lexicon join is a shuffled equi-join on the word (r11)") {
    // the BNLJs in this plan are the trainer's one-row broadcast winner
    // crossJoins (the repo's model-side convention) — the metering join
    // itself must be the shuffled SMJ (Heaps' law: no vocab broadcast)
    val p = plan("text_bpe_apply")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin LeftOuter"),
      "per-source counts must left-join the lexicon as a shuffled equi-join:\n" + p)
  }

  test("dedup_span_removal: occurrence join keyed on gid, windows per doc (r11)") {
    val p = plan("dedup_span_removal")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "span removal must stay inverted-index shaped:\n" + p)
    // the interval-union window must partition by doc_id — a global
    // unpartitioned window over span occurrences would serialize the corpus
    assert("windowspecdefinition\\(doc_id".r.findFirstIn(p).isDefined,
      "interval-union window not partitioned by doc_id:\n" + p)
  }

  test("text_dsir_weight: vocab scoring is an equi-join, only the totals cross (r11)") {
    // At fixture scale the vocab side broadcasts (BroadcastHashJoin); at
    // 100 TB it degrades gracefully to SMJ — either way it must be an
    // EQUI-join. The single allowed BNLJ is the one-row totals crossJoin.
    val p = plan("text_dsir_weight")
    assert(!p.contains("CartesianProduct"), p)
    // count detail headers only — formatted explain prints every node
    // twice (tree line + numbered detail)
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "more than the totals crossJoin plans as BNLJ:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "the vocab scoring join must be an equi-join:\n" + p)
  }

  test("udtf_trigram_gen: plans a Generate node over the custom Generator (VERDICT r12 #5)") {
    val p = plan("udtf_trigram_gen")
    assert(p.contains("Generate"), s"no Generate node:\n$p")
    assert(p.toLowerCase.contains("graft_trigrams"),
      s"Generate is not the custom generator:\n$p")
  }

  test("ml_knn_nndescent: bounded candidates — every graph step is an id equi-join") {
    // The NN-descent scale contract: no nested loop at all — the IVF
    // seed's K=10 centroid ranking is map-only (Vec.nearest) and the seed
    // is a pinned leaf; the neighbor-of-neighbor candidate join and both
    // embedding rescoring joins must be id-keyed equi-joins (O(n·k²)
    // candidates), never a pair scan. The registered row serves from the
    // pinned session memo (r14) whose executed plan is a leaf scan, so
    // the contract is pinned on the round's own dataflow via the plan
    // probe.
    val p = ops.Cluster.nnDescentRoundPlanProbe(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), "a nested loop in the round:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      "candidate/rescore joins must be equi-joins:\n" + p)
  }

  test("ml_knn_graph_search: per-hop id equi-joins, no corpus scan per hop") {
    // The graph-ANN query contract (r14): no nested loop in a hop — the
    // 10-vector entry-point fan-out (the IVF coarse step) is a pinned
    // leaf; every hop's neighbor expansion, visited anti-join and
    // embedding rescore must be id-keyed equi-joins — a corpus scan per
    // hop would defeat the whole point of searching through the graph.
    // The registered row answers from the pinned session trail (a leaf
    // scan), so the contract is pinned on the hop's own dataflow via the
    // plan probe.
    val p = ops.Cluster.graphSearchPlanProbe(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), "a nested loop in the hop:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      "hop/rescore joins must be equi-joins:\n" + p)
  }

  test("text_quality_funnel: map-only rules, the only BNLJ is the 5-row rule grid (r11)") {
    val p = plan("text_quality_funnel")
    assert(!p.contains("CartesianProduct"), p)
    // one BNLJ allowed: the broadcast crossJoin with the literal rule
    // dimension (5 rows); the repetition join and the funnel join must be
    // equi-joins, and the survival window must partition by source
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "more than the rule-grid crossJoin plans as BNLJ:\n" + p)
    assert("windowspecdefinition\\(source".r.findFirstIn(p).isDefined,
      "funnel window not partitioned by source:\n" + p)
  }

  test("text_bigram_backoff: LM joins are vocab-keyed equi-joins, only totals cross (r11)") {
    val p = plan("text_bigram_backoff")
    assert(!p.contains("CartesianProduct"), p)
    // the (N, V) one-row totals frame is the single allowed BNLJ; the
    // bigram/unigram/prefix-count joins must stay shuffled-or-broadcast
    // EQUI-joins (Heaps' law: at 100 TB these are SMJ, never a broadcast
    // of the bigram table)
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "more than the totals crossJoin plans as BNLJ:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "LM scoring joins must be equi-joins:\n" + p)
  }

  test("dedup_bloom_prefilter: bit membership is an equi-join, m broadcasts as one row (r11)") {
    val p = plan("dedup_bloom_prefilter")
    assert(!p.contains("CartesianProduct"), p)
    // two one-row crossJoins carry m (set-bit build + probe); the probe
    // subtree is referenced twice (bit explode + final accounting), so
    // its crossJoin prints twice — 3 BNLJ detail headers, all one-row
    // scalar broadcasts. The bit membership check and the exact-truth
    // join must be equi-joins — the build corpus itself is never
    // broadcast as a filter.
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3,
      "more than the m-scalar crossJoins plan as BNLJ:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "bit membership must be an equi-join:\n" + p)
  }

  test("r11 additions: bounded-join shapes (no CartesianProduct anywhere)") {
    // dedup_cdc_chunk: duplicate accounting joins on the chunk fingerprint;
    // text_pmi_collocations: the pair space is a doc-keyed equi-join with a
    // bounded range conjunct; graph_hits: score tables join the edge list on
    // vertex keys (the one-row norm frames ride broadcast BNLJs, which is
    // the point — a CartesianProduct would mean a table-sized pair scan).
    for (q <- Seq("dedup_cdc_chunk", "text_pmi_collocations", "graph_hits",
        "graph_adamic_adar", "ml_jarque_bera", "ml_breusch_pagan",
        "ml_ledoit_wolf", "ml_perceptron")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q pair-scans:\n$p")
    }
  }

  test("text_pmi_collocations / graph_adamic_adar: top-k is heap-based") {
    for (q <- Seq("text_pmi_collocations", "graph_adamic_adar"))
      assert(plan(q).contains("TakeOrderedAndProject"),
        s"$q top-k degraded to a global sort:\n${plan(q)}")
  }

  test("dedup_cdc_chunk: chunk-assembly windows are partitioned by doc_id") {
    val p = plan("dedup_cdc_chunk")
    val winLines = p.linesIterator
      .filter(l => l.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, p)
    assert(winLines.forall(_.contains("doc_id")),
      s"unpartitioned corpus-scale window:\n${winLines.mkString("\n")}")
  }

  test("scan_partition_pruned_join: fact scan carries a DynamicPruningExpression (r12)") {
    // the 100 TB scan optimization: the qualifying years are only known
    // after filtering the dim, so the fact directories must be pruned at
    // RUNTIME via the dim's broadcast — statically the filter is invisible
    val p = ops.Sources.dppJoin(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted")).toLowerCase
    assert(p.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("text_sparse_search: retrieval is inverted-index joins, never a doc×doc scan (r12)") {
    val p = plan("text_sparse_search")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join allowed is the 1-row corpus-count
    // broadcast (crossJoin(broadcast(n)) — same shape as text_tfidf)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"doc-pair scan leaked into the retrieval plan:\n$p")
  }

  test("ml_tree_gini: rows bin into a histogram with no join; its expansion runs on one partition") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.CoalesceExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = SparkEntry.queries("ml_tree_gini")(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val single = p.collect { case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e }
    assert(single.size === 1, s"expected one single-partition exchange:\n$p")
    // everything below that exchange is the row-level stage
    assert(single.head.collect { case j: BaseJoinExec => j }.isEmpty,
      s"a join in the row-level stage:\n$p")
    val joins = p.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(_.exists(_ eq single.head)),
      s"the grid expansion does not consume the single-partition histogram:\n$p")
    assert(p.collect { case c: CoalesceExec => c }.isEmpty, s"coalesce in the plan:\n$p")
  }

  /** Every operator from a leaf up to the first aggregate or join above
    * it, that operator included. */
  private def rowStage(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    p.collect {
      case n if n.children.forall(!_.exists {
        case _: BaseAggregateExec | _: BaseJoinExec => true
        case _ => false
      }) => n
    }
  }

  test("nearest-centroid assignment is map-only: ml_kmeans_assign, ivfSq8Encode") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val e = Tables.embeddings(spark, sf)
    val (cent, cb, _) = ops.Pipeline.ivfSq8IndexFramesOn(e.where(col("vec_id") % 10 =!= 7))
    // the batch is not fanned out: an exchange here would be the ranking's
    val batch = e.where(col("vec_id") % 10 === 7)
    for ((name, df) <- Seq(
        "ml_kmeans_assign" -> SparkEntry.queries("ml_kmeans_assign")(spark, sf),
        "ivfSq8Encode" -> ops.Pipeline.ivfSq8Encode(batch, cent, cb))) {
      val stage = rowStage(df)
      assert(stage.nonEmpty, name)
      if (name == "ml_kmeans_assign")
        assert(stage.exists(_.isInstanceOf[BaseAggregateExec]), s"$name: no aggregate reached")
      // the one exchange allowed is the query's own fanOut repartition
      val bad = stage.filter {
        case _: WindowExec | _: BroadcastNestedLoopJoinExec => true
        case x: ShuffleExchangeExec => x.shuffleOrigin != REPARTITION_BY_NUM
        case _ => false
      }
      assert(bad.isEmpty, s"$name ranks with ${bad.map(_.nodeName).mkString(", ")}:\n${stage.head}")
    }
  }

  private def physical(name: String): org.apache.spark.sql.execution.SparkPlan = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
  }

  test("kNN rankings broadcast the queries: text_rrf_fusion, ml_ivf_nprobe_sweep") {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def has(out: Seq[Attribute], p: Attribute => Boolean) = out.exists(p)
    val vec = (a: Attribute) => a.dataType match { case ArrayType(FloatType, _) => true; case _ => false }
    val qid = (a: Attribute) => a.name == "q_id"
    val byQ = (w: WindowExec) => w.partitionSpec match {
      case Seq(a: AttributeReference) => a.name == "q_id"
      case _ => false
    }
    for (name <- Seq("text_rrf_fusion", "ml_ivf_nprobe_sweep")) {
      val p = physical(name)
      // the query × corpus pairings below a ranking partitioned by q_id alone
      val pairings = p.collect {
        case w: WindowExec if byQ(w) => w.collect {
          case j: BroadcastNestedLoopJoinExec if has(j.left.output, vec) && has(j.right.output, vec) &&
              has(j.left.output, qid) != has(j.right.output, qid) => j
        }
      }.flatten.distinct
      assert(pairings.nonEmpty, s"$name: no query × corpus nested-loop join under a q_id ranking:\n$p")
      for (j <- pairings) {
        val (build, stream) = j.buildSide match {
          case BuildRight => (j.right, j.left)
          case BuildLeft => (j.left, j.right)
        }
        assert(build.isInstanceOf[BroadcastExchangeExec] && has(build.output, qid) &&
          !has(stream.output, qid), s"$name: the corpus is the broadcast side:\n$j")
        assert(build.collect { case x: ShuffleExchangeExec => x }.isEmpty,
          s"$name: the broadcast side shuffles first:\n$j")
      }
    }
  }

  test("ml_knn: one partial WindowGroupLimit below the q_id exchange") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    val p = physical("ml_knn")
    val byQ = p.collect { case x: ShuffleExchangeExec => x }.filter(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect { case a: AttributeReference => a.name } == Seq("q_id")
      case _ => false
    })
    assert(byQ.size === 1, s"expected one exchange on q_id:\n$p")
    val partial = p.collect { case w: WindowGroupLimitExec if w.mode == Partial => w }
    assert(partial.size === 1 && byQ.head.child.exists(_ eq partial.head),
      s"expected one partial WindowGroupLimit below the q_id exchange:\n$p")
  }

  test("whole-stage codegen covers the hot path of filter_pred") {
    // pre-execution the AQE wrapper hides codegen spans — run the query,
    // then inspect the final adaptive plan
    val df = SparkEntry.queries("filter_pred")(spark, sf)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes are the WholeStageCodegen span markers
    assert(p.contains("*(1)"), p)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("Filter")),
      "Filter not inside a codegen span:\n" + p)
  }
}
