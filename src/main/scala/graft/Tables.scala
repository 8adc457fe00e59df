package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.functions.Fixed
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.Try

/** One named query of the engine: the Spark dataflow plus (optionally) the
  * equivalent ANSI SQL the driver's DuckDB oracle runs on the same parquet
  * tables (SURVEY.md §2, §7.1). Oracle = None → rows-only check.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Log hygiene shared by the Bench/Verify mains. */
object Log {
  /** VERDICT r5 #8: the engine's only unpartitioned windows are bounded
    * fit-state pulls over POST-AGGREGATION rows (≤6 group rows —
    * ml_linreg_predict / ml_linreg_holdout / win_ntile_cume's counts side),
    * where a single partition is the point, not a hazard. WindowExec still
    * warns per instantiation and floods the bench tail (hundreds of lines),
    * burying real signals — silence exactly the emitting class's logger
    * (r6 review: the whole ...execution.window package would also have
    * swallowed unrelated window WARNs); every other WARN stays visible. */
  def quietBoundedWindowWarn(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** Bench runs FAIR with one ad-hoc pool per query (r7); pools created on
    * first use are exactly the design, but FairSchedulableBuilder WARNs
    * once per pool — ~140 identical lines per bench run. Same targeted
    * silencing discipline as above. */
  def quietFairPoolWarn(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.scheduler.FairSchedulableBuilder",
      org.apache.logging.log4j.Level.ERROR)
}

/** Table loaders + cross-engine determinism helpers (SURVEY.md §1.2, §7.3).
  *
  * The fixture layout is one parquet file per table under the sf dir
  * (TESTDATA.md). Every loader goes through `t`, which reads that file's
  * footer on the driver and hands the reader its schema: a bare
  * `spark.read.parquet` infers the schema with a one-task Spark job
  * (`mergeSchemasInParallel`), even for one file, so each table read cost a
  * job. The footer is converted by the same function that job runs, with a
  * converter built from the session's current conf (`events` relies on its
  * `nanosAsLong`), and it is read again on every call, so a file rewritten
  * in place is seen on the next read. A path that is a directory (the
  * 100 TB layout, one table per directory of part files) falls back to
  * `spark.read.parquet`: Spark picks which part file to infer from there.
  * So does a path that cannot be stat'ed, which then fails with Spark's
  * usual error.
  * Predicate pushdown / column pruning are left to Catalyst (SURVEY.md
  * §4.2).
  */
object Tables {
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    val hc = s.sessionState.newHadoopConf()
    val path = new Path(p)
    Try(path.getFileSystem(hc).getFileStatus(path)).toOption.filter(_.isFile) match {
      case Some(st) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, hc), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, footer), new ParquetToSparkSchemaConverter(s.sessionState.conf))
        s.read.schema(schema).parquet(p)
      case None => s.read.parquet(p)
    }
  }

  def region(s: SparkSession, dir: String): DataFrame   = t(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame   = t(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = t(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = t(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = t(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame   = t(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = t(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = t(s, dir, "embeddings")

  /** `events.ts` is parquet INT64 TIMESTAMP(NANOS, utc=false), which Spark 4
    * rejects outright ([PARQUET_TYPE_ILLEGAL]). The legacy conf surfaces it
    * as raw BIGINT nanos; `DIV 1000` truncates to micros — exactly what
    * DuckDB 1.0 does when it reads the same file (verified: it exposes the
    * column as micros TIMESTAMP, truncated not rounded). We emit
    * TIMESTAMP_NTZ so written parquet matches DuckDB's no-timezone output.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    // Conf must be set here (not only in Verify/Bench): the driver's own
    // sessions carry no custom confs (SURVEY §7.1), so the loader is the one
    // place guaranteed to run before the read.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      // Legacy fixture layout: INT64 TIMESTAMP(NANOS) surfaced as raw BIGINT
      // nanos by the conf above. timestampadd onto an NTZ epoch literal is
      // session-timezone-independent, unlike timestamp_micros (LTZ) + cast
      // which shifts by the local UTC offset in any session that doesn't pin
      // spark.sql.session.timeZone. DIV 1000 truncates to micros — exactly
      // what DuckDB does reading the same file.
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(
          "ts",
          expr("timestampadd(MICROSECOND, ts DIV 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
      // Current fixture layout (driver regenerated the parquet mid-r7):
      // native TIMESTAMP(MICROS, utc=false) → Spark reads TIMESTAMP_NTZ,
      // DuckDB reads TIMESTAMP — already the agreed wire type, no rewrite.
      case org.apache.spark.sql.types.TimestampNTZType => df
      // Any other surfacing (e.g. LTZ under a foreign conf): normalize to
      // NTZ so written parquet keeps matching DuckDB's no-timezone output.
      case _ => df.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  /** Fixture-aware fan-out (VERDICT r5 #6 — replaces the blanket
    * `repartition(defaultParallelism)` after scans). The test parquet is ONE
    * row group, so scans plan 1–3 tasks and CPU-heavy map work would run
    * nearly single-threaded (measured r5) — but an UNCONDITIONAL repartition
    * is a gratuitous full-table shuffle at real scale, where the scan
    * already yields thousands of tasks. The rule: repartition ONLY when the
    * scan itself cannot feed `defaultParallelism` tasks, estimated from
    * driver-side plan statistics (sizeInBytes / maxPartitionBytes — no job
    * runs; `df.rdd.getNumPartitions` would materialize shuffle stages under
    * AQE). At 100 TB the estimate is ~800k tasks ≫ cores, so this is a
    * no-op and the scan's own partitioning flows through. With keys the
    * fan-out hash-partitions on them, so a downstream join/groupBy on the
    * same keys reuses the exchange.
    *
    * Fan WIDTH (r15 — guide §2.2 "fewer, larger partitions"): the r5 width
    * of a flat `defaultParallelism` blew every sub-128MB table out to 32
    * near-empty partitions, and the suite's per-TASK fixed cost (task
    * closure deserialization + generated-class setup, ~100–200 ms on
    * wide-agg plans) dwarfed the per-row work: the 10-iteration kmeans
    * loop measured 62–70 CPU-s at width 32 vs 9.5 at width 1 for the SAME
    * wall. Width now follows the session's shuffle width (already
    * input-sized by the Bench harness, AQE-coalesced on a real cluster)
    * unless the DATA justifies more — so a 1 GB table still fans to its
    * ~9 scan-sized tasks, a 0.5 MB one stops making 32, and at 100 TB the
    * whole helper remains the same no-op as before. */
  def fanOut(df: DataFrame, keys: Column*): DataFrame = {
    val s = df.sparkSession
    val par = s.sparkContext.defaultParallelism
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val estTasks = df.queryExecution.optimizedPlan.stats.sizeInBytes / maxPart + 1
    if (estTasks >= par) df
    else {
      val shufW = s.sessionState.conf.numShufflePartitions
      val width = math.max(math.min(par.toLong, shufW.toLong),
        math.min(par.toLong, estTasks.toLong)).toInt
      if (keys.isEmpty) df.repartition(width)
      else df.repartition(width, keys: _*)
    }
  }

  /** Lineage truncation for ITERATIVE dataflows (r6: ml_dbscan /
    * dedup_cluster). A fixpoint loop whose round references the previous
    * round's frame more than once (labels feed both the propagation join
    * and the merge join) doubles the LOGICAL PLAN TREE every round —
    * analysis/optimization cost goes 2^R and the driver OOMs walking the
    * tree long before the data is a problem. Wrapping the round's RDD in
    * a fresh LogicalRDD makes the next plan start flat: under AQE, `.rdd`
    * materializes the round's shuffle stages eagerly, and every later
    * reference (the convergence count, the next round, the final result)
    * reuses those shuffle files instead of recomputing — the exact
    * semantics checkpointing gives a 100 TB run, without cache blocks
    * that could outlive the query (no persist() involved). */
  def freeze(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)

  /** Hard materialization for NESTED fixpoint loops (r10 — VERDICT r9 #1).
    * [[freeze]] flattens the LOGICAL plan but the underlying RDD lineage
    * still chains through every prior round; a loop that nests another
    * fixpoint inside it (the dendrogram's Borůvka × label-propagation)
    * compounds that chain until the serialized task closure overflows the
    * default ~1 MB executor thread stack at DESERIALIZATION time (a
    * reproduced `StackOverflowError` in `ObjectInputStream.readObject`),
    * and every action re-walks the chain (1,700+ planned stages). Eager
    * `localCheckpoint` cuts the RDD lineage too: the round's result is
    * computed ONCE, stored in executor-local blocks, and every later
    * reference starts from a flat leaf. On a real cluster the executor-
    * local blocks are lost on executor failure — the documented tradeoff
    * vs reliable checkpointing — which is exactly right for per-round
    * state a retry can rebuild from the previous pin.
    *
    * NOT a drop-in freeze replacement: pin pays a full eager
    * compute-and-cache job per call, where freeze defers to the next
    * action and reuses shuffle files. Swapping minLabelComponents' flat
    * per-round freezes for pin measured a >6× REGRESSION at sf0.1 (the
    * propagation table is the query's largest intermediate; caching it
    * every round dwarfs the recompute it saves). Use pin where lineage
    * DEPTH is the hazard (nested fixpoints, state reused across many
    * later actions); keep freeze for flat single-loop rounds. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** The third cut, for a frame bounded by the schema or the model (a
    * 20-term factor, 5 event types, a 30-point layout): collect it and
    * re-enter it as a literal relation with the same schema. It holds no
    * executor blocks, so nothing outlives the query, and the doubles
    * cross the driver unchanged. */
  def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The one session memo (VERDICT r6 #7 — "batch the three logreg
    * queries' shared fit"). The estimator queries follow the stateless
    * contract (every query re-derives its model from the tables), so a
    * predict twin re-runs its fit's aggregation passes and a five-query PCA
    * family collects the same Gram five times. Fits and pinned training
    * frames are DETERMINISTIC functions of (helper, fixture data) — same
    * inputs, bit-same values — so `compute` runs once per key and later
    * calls get its value: a pure cache, invisible in results. Values are
    * driver-held arrays/tuples (the cuML client-held `coef_` pattern) or
    * [[pin]]ned frames, whose blocks live in the session that built them;
    * callers that memoize a frame write `memo(...) { pin(...) }`.
    *
    * The key is (tag, session, dir). The session is the object itself
    * (SparkSession keeps reference equality), so a second session on the
    * same dir builds its own entry and is never served a frame bound to
    * another session; each call drops the entries of sessions whose
    * SparkContext has stopped, which would otherwise pin dead sessions for
    * the JVM's lifetime. Each entry carries a stamp of `dir`: the name,
    * length and modification time of every `*.parquet` entry, from one
    * listing. A call that finds a different stamp replaces the entry and
    * rebuilds, so a fixture rewritten or touched in place is never served
    * stale; the dropped value's pinned blocks are freed by Spark's
    * ContextCleaner. The stamp sees a table stored as a directory of part
    * files (the 100 TB layout) only as that directory's own entry: an
    * in-place rewrite of one part file is not seen.
    *
    * Concurrent callers never recompute: the first registers a
    * CompletableFuture and computes, later callers block on it and get its
    * value or rethrow the builder's own exception. A failed build
    * unregisters itself, so the next call recomputes. */
  private final case class Entry(stamp: Seq[(String, Long, Long)],
      value: java.util.concurrent.CompletableFuture[AnyRef])
  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(String, SparkSession, String), Entry]()
  def memo[A <: AnyRef](tag: String, s: SparkSession, dir: String)(compute: => A): A = {
    memos.keySet().removeIf(_._2.sparkContext.isStopped)
    val k = (tag, s, dir)
    val mine = Entry(stamp(s, dir), new java.util.concurrent.CompletableFuture[AnyRef]())
    val cur = memos.merge(k, mine, (old, fresh) => if (old.stamp == fresh.stamp) old else fresh)
    if (cur ne mine)
      try cur.value.join().asInstanceOf[A]
      catch { case e: java.util.concurrent.CompletionException if e.getCause != null =>
        throw e.getCause }
    else
      try { val v = compute; mine.value.complete(v); v }
      catch { case e: Throwable =>
        memos.remove(k, mine)
        mine.value.completeExceptionally(e)
        throw e
      }
  }

  /** (name, length, modification time) of each `*.parquet` entry in `dir`,
    * sorted by name; empty when `dir` cannot be listed. */
  private def stamp(s: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val p = new Path(dir)
    Try(p.getFileSystem(s.sessionState.newHadoopConf()).listStatus(p).toSeq)
      .getOrElse(Nil)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sorted
  }

  /** Session-pinned narrow fit columns of lineitem (r15). The estimator
    * families (IRLS/GLM fits, the perceptron, the forest feature frames)
    * each re-scan lineitem and re-fan the same handful of narrow columns
    * once per fit ROUND — 3–5 scan+exchange passes per query across ~30
    * queries, ~1.3 CPU-s each at sf0.1 (measured: a 5-xsum moment pass
    * costs ~2.5 CPU-s of which ~half is the scan+repartition). One
    * localCheckpoint of the 7 narrow columns serves every pass from
    * executor-local blocks instead. Consumers project their own (x, y)
    * expressions from this base, so values are bit-identical; their
    * downstream aggregation all rides the exact decimal/long wires,
    * which are summation-order-proof by design, so the changed
    * partitioning provably cannot move results. At 100 TB this is the
    * MLlib iterative-fit persist discipline (cache the training frame,
    * not the table). */
  def lineitemFit(s: SparkSession, dir: String): DataFrame =
    memo("lineitemFitPinned", s, dir) {
      pin(fanOut(t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"))))
    }

  // --- determinism helpers (SURVEY.md §7.3) -------------------------------
  // Raw sum(DOUBLE) is summation-order-dependent and can't hash-match across
  // engines/partitionings. Per-row cast to DECIMAL(p, s) → exact decimal sum
  // is order-proof and identical in Spark and DuckDB. Every Spark-side exact
  // sum goes through these helpers, which run it on the fixed-point kernel
  // (graft.functions.Fixed): for a DOUBLE input its result type, value and
  // error conditions are those of `sum(CAST(x AS DECIMAL(p, s)))`, without
  // per-row BigDecimal work. Its loud bounds, raised as the cast-and-sum
  // raises them:
  //  - per row: |x| ≥ 10^(p−s) raises the cast's NUMERIC_VALUE_OUT_OF_RANGE
  //    (10¹⁸ for xsum, 10¹⁴ for dsum, 10²⁶ for sumE12);
  //  - per sum: a running sum that reaches ±10^(P−s) of the DECIMAL(P, s)
  //    result (10²⁶ for xsum, 10²⁴ for dsum, 10²⁶ for sumE12) raises
  //    ARITHMETIC_OVERFLOW in every shape, as a grouped sum does;
  //  - NaN and ±∞ cast to null and are skipped, as by the cast-and-sum.
  // There is no row-count bound: the buffer is a checked 128-bit integer.
  // A weighted sum (`xsum(c, n)`, `sumE12(c, n)`: a cell histogram's rows,
  // each standing for n rows) adds each row's addend times n as one
  // checked product. The product must itself stay inside the sum's
  // ±10^(P−s) range, or the sum raises ARITHMETIC_OVERFLOW, as the n-row
  // partial sum it stands for does; a null weight skips the row.

  val money: DecimalType = DecimalType(18, 4)

  /** Exact cross-engine sum of a double column. */
  def dsum(c: Column): Column = dsumD(c).cast(DoubleType)

  /** [[dsum]] kept as its DECIMAL(28,4). */
  def dsumD(c: Column): Column = Fixed.sum(c, money)

  /** Deterministic mean to 6 dp (exact decimal sum / count). */
  def davg(c: Column): Column = round(dsum(c) / count(lit(1)), 6)

  /** Mirror SQL fragments for DuckDB oracles. */
  def sqlDsum(e: String): String = s"CAST(sum(CAST(($e) AS DECIMAL(18,4))) AS DOUBLE)"
  def sqlDavg(e: String): String = s"round(${sqlDsum(e)} / count(*), 6)"

  /** High-precision exact sum for ML normal-equation cross-products, where
    * values like discount*tax (~1e-3) would vanish at 4 dp: 12 decimals,
    * per-row |x| < 10¹⁸, sum |Σ| < 10²⁶ (the bounds above). */
  val exact: DecimalType = DecimalType(30, 12)
  def xsum(c: Column): Column = xsumD(c).cast(DoubleType)

  /** [[xsum]] with each row counted `n` times (a cell count). */
  def xsum(c: Column, n: Column): Column = Fixed.sum(c, exact, n).cast(DoubleType)
  def sqlXsum(e: String): String = s"CAST(sum(CAST(($e) AS DECIMAL(30,12))) AS DOUBLE)"

  /** Exact sum kept as DECIMAL (no double cast): for outputs compared
    * directly, DuckDB's int128-decimal→double conversion is off by ulps on
    * large magnitudes, so the decimal itself is the only safe wire type.
    * Both engines widen sum(DECIMAL(30,12)) to DECIMAL(38,12). */
  def xsumD(c: Column): Column = Fixed.sum(c, exact)
  def sqlXsumD(e: String): String = s"sum(CAST(($e) AS DECIMAL(30,12)))"

  /** BIT-IDENTICAL exact-sum wire for doubles at 12 dp (r6 second half,
    * found by ml_logreg_multi): DuckDB's DECIMAL→DOUBLE cast is NOT
    * correctly rounded (it scales the int128 by 10⁻ˢ instead of dividing
    * — measured 1-ulp errors on 12-dp fractions), which [[xsum]]'s
    * consumers tolerate under their final round(…,6) but a Newton solve
    * amplifies ~1e8× through an ill-conditioned Hessian. The fix: scale
    * each addend to an INTEGER decimal at 12 dp (one double multiply +
    * one double→decimal cast, both rounding identically cross-engine),
    * sum exactly as integers, and cross to double via the holdout hi/lo
    * split — the SAME IEEE op sequence in both engines, so the result
    * bits cannot differ. Addends below 10⁻¹² truncate identically on
    * both sides. */
  def sumE12(c: Column): Column = Fixed.sum(c * lit(1.0e12), DecimalType(38, 0))

  /** [[sumE12]] with each row counted `n` times (a cell count). */
  def sumE12(c: Column, n: Column): Column = Fixed.sum(c * lit(1.0e12), DecimalType(38, 0), n)

  /** selectExpr fragment converting a [[sumE12]] column to DOUBLE (Spark
    * spelling: `div` on DECIMAL(38,0) is integral division). */
  def bitsE12(name: String): String =
    s"(CAST($name div 100000000 AS DOUBLE) * 1e8 + CAST($name % 100000000 AS DOUBLE)) / 1e12"

  /** DuckDB twin of [[sumE12]]. */
  def sqlSumE12(e: String): String =
    s"sum(CAST(($e) * 1000000000000.0 AS DECIMAL(38,0)))"

  /** DuckDB twin of [[bitsE12]] — `//` on DECIMAL is TRUE division in
    * DuckDB (the r6 holdout gotcha), so route through HUGEINT; both
    * engines truncate integer division toward zero and give `%` the
    * dividend's sign, so hi/lo agree for negative sums too. */
  def sqlBitsE12(name: String): String =
    s"(CAST(CAST($name AS HUGEINT) // 100000000 AS DOUBLE) * 1e8 + " +
      s"CAST(CAST($name AS HUGEINT) % 100000000 AS DOUBLE)) / 1e12"

  /** Text canonicalization shared by text_normalize and dedup_pipeline
    * (r6 review: the chain was stated in four places — one drift away
    * from the pipeline's exact-dedup disagreeing with the standalone
    * query): lowercase → strip outside [a-z0-9 ] → collapse space runs →
    * trim. ASCII fixture ⇒ Java and RE2 regex semantics coincide on
    * these classes. */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** DuckDB twin of [[normText]] (needs the explicit 'g' flag). */
  def sqlNormText(e: String): String =
    s"trim(regexp_replace(regexp_replace(lower($e), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"

  /** Prime modulus of every deterministic hash family in the repo
    * (2³¹ − 1). */
  val HASH_P: Long = 2147483647L

  /** STATELESS term id: base-31 rolling hash over ALL characters, reduced
    * mod [[HASH_P]] at every step — f = fold(c: (f·31 + codepoint(c)) mod
    * P). Engine hash() builtins differ across Spark/DuckDB; integer
    * polynomial arithmetic doesn't — and unlike a denseIds vocab it needs
    * no global distinct + sort + join: hashing is embarrassingly parallel,
    * the honest 100 TB design (r6, generalizing the dedup_minhash shingle
    * id). The per-step mod keeps the accumulator < 31·P + 0x10FFFF ≈
    * 6.7e10 at ANY term length and ANY code point (an unreduced 7-char
    * polynomial over astral-plane chars reached ~1e15, whose ~4e5 affine
    * multiple overflows BIGINT: DuckDB raises, Spark wraps — the r6 review
    * catch), and full-length hashing removes the systematic collisions of
    * a fixed-prefix id ('performance' vs 'performing' shared their first 7
    * chars). Remaining collisions are the generic ~1/P kind, deterministic
    * and mirrored exactly by the SQL twin.
    *
    * `term` is a column NAME (the expression embeds it twice); callers
    * must guarantee non-empty strings — Spark's sequence(1, 0) counts
    * DOWN, the usual sub-length trap. */
  def polyTid(term: String): Column =
    expr(s"aggregate(sequence(1, length($term)), 0L, " +
      s"(acc, i) -> (acc * 31 + ascii(substring($term, i, 1))) % $HASH_P)")

  /** DuckDB twin of [[polyTid]]: list_reduce takes the FIRST element as
    * the initial accumulator, so a 0 is prepended to mirror Spark's
    * explicit 0L seed; unicode() == Spark's ascii() (full code point) on
    * the non-empty single chars this enumerates — verified on non-ASCII
    * text and pinned by MicroSpec "polyTid: Spark ascii() is the full
    * CODE POINT" (r9), so the equivalence survives multilingual corpora. */
  def sqlPolyTid(term: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(1, length($term)), " +
      s"i -> CAST(unicode(substr($term, CAST(i AS INT), 1)) AS BIGINT))), " +
      s"(acc, x) -> (acc * 31 + x) % $HASH_P)"

  /** Lazily zip a sorted row RDD with global 1-based positions: partition
    * offsets are counted in a job that runs at FIRST EXECUTION (inside
    * `getPartitions`, exactly where `sortByKey` runs its sampling job),
    * not at construction. Both the count pass and the data pass run over
    * the SAME RDD instance, so the range-sort shuffle is materialized
    * once and the partition boundaries cannot diverge between passes —
    * the hazard that rules out re-planning the sort in a second branch
    * (range boundary SAMPLING is seeded per plan instantiation). One of
    * the repo's two justified raw-RDD uses: per-partition imperative
    * logic (positional zip) that no Catalyst operator expresses without a
    * single-partition window.
    */
  private final class LazyZipIdsRDD(
      @transient private val sc: org.apache.spark.SparkContext,
      @transient private val makeParent: () => org.apache.spark.rdd.RDD[org.apache.spark.sql.Row])
    extends org.apache.spark.rdd.RDD[org.apache.spark.sql.Row](sc, Nil) {
    // Driver-only: created on first DAG use. `df.rdd` itself is EAGER
    // under AQE (getFinalPhysicalPlan materializes every shuffle stage),
    // so even obtaining the parent RDD must wait for first execution.
    @transient private lazy val parentRdd = makeParent()
    // NOT transient: computed on the driver in getPartitions, shipped to
    // executors inside the task closure.
    private var offs: Array[Long] = _
    override def getDependencies: Seq[org.apache.spark.Dependency[_]] =
      Seq(new org.apache.spark.OneToOneDependency(parentRdd))
    override protected def getPartitions: Array[org.apache.spark.Partition] = {
      if (offs == null) {
        val counts = parentRdd
          .mapPartitionsWithIndex((i, it) => Iterator((i, it.size)), preservesPartitioning = true)
          .collect().sortBy(_._1).map(_._2.toLong)
        offs = counts.scanLeft(0L)(_ + _)
      }
      parentRdd.partitions
    }
    override def compute(
        split: org.apache.spark.Partition,
        ctx: org.apache.spark.TaskContext): Iterator[org.apache.spark.sql.Row] = {
      val off = offs(split.index)
      firstParent[org.apache.spark.sql.Row].iterator(split, ctx).zipWithIndex.map {
        case (r, i) => org.apache.spark.sql.Row(r.get(0), off + i + 1L)
      }
    }
  }

  /** Dense 1-based ids over a distinct key column — value-identical to
    * `row_number() OVER (ORDER BY key)` (the oracles' form) but with NO
    * single-partition exchange: a distributed range-partitioned sort, then
    * partition-offset ids zipped per partition. This is the 100 TB-safe
    * vocab-id assignment (VERDICT r3 fix #1): every partition sorts its
    * range in parallel and one lightweight count job supplies the offsets.
    * Ids depend only on the total key order (keys are distinct), so they
    * are deterministic and engine-portable.
    *
    * LAZY (VERDICT r4 #8): the offset job is deferred into
    * [[LazyZipIdsRDD.getPartitions]], so constructing or explaining a
    * query that embeds a vocab launches zero Spark jobs (pinned by
    * PlanSpec); the count pass runs when the query itself first runs, and
    * the main pass then reuses its materialized sort shuffle.
    */
  def denseIds(distinctKeys: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val s = distinctKeys.sparkSession
    val sorted = distinctKeys.select(keyCol).sort(keyCol)
    val keyField = sorted.schema.head
    val rdd = new LazyZipIdsRDD(s.sparkContext, () => sorted.rdd)
    // Deferral is only safe under AQE, where the parent's partitions are
    // resolved on the action thread (submitMapStage computes them before
    // posting to the scheduler). With AQE off, a downstream shuffle would
    // first touch getPartitions on the DAGScheduler event loop — and the
    // nested offset-count job would deadlock it. Fall back to the eager
    // (r4) behavior there: force the partitions now, on this thread.
    if (!s.conf.get("spark.sql.adaptive.enabled", "true").toBoolean) rdd.partitions
    s.createDataFrame(rdd,
      StructType(Seq(keyField, StructField(idCol, LongType, nullable = false))))
  }
}
