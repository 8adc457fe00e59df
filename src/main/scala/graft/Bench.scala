package graft
import Harness.{HZ, procCpu}
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query at the given scale factor.
  *
  * Materializes the FULL physical plan (`queryExecution.toRdd.count()`), not
  * `df.count()` — the latter lets Catalyst drop sorts/projections/window
  * filters not needed for counting, which would understate real cost.
  *
  * The suite is PIPELINED over a small worker pool (default 8): single-query
  * wall time here is dominated by one-shot driver-side work (plan analysis +
  * Janino codegen compile, ~0.5–2 s per query shape) that uses ONE core
  * while the other 31 idle, so running queries strictly one-by-one measures
  * the JIT compiler, not the engine. With the pool, compile overlaps with
  * other queries' execution — exactly how a real multi-tenant Spark driver
  * amortizes it. Admission is DEMAND-BUDGETED (r15, replacing the r12 cost
  * bands): each query's measured core demand (cpu/wall from the committed
  * threads=1 truth) is summed across co-running queries and kept inside a
  * budget of measured-free cores × an overlap factor — the constraint the
  * fixed band widths were always a proxy for (r11: ten 10-core queries at
  * once = 3–4× oversubscription, 401 s wall; r15: width-2 heavy band =
  * half the box idle, 191–228 s wall). `value` is the end-to-end suite
  * wall time; per-query timings are each query's own wall (slightly
  * inflated by sharing); `sum` is their total for comparison with
  * sequential runs.
  *
  * Emits ONE JSON line on stdout (driver contract) and also writes the same
  * line to `bench.json` in the cwd (or $SPARK_GRAFT_BENCH_OUT), so a log
  * framework prefixing stdout can't corrupt the round's bench record.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    // Worker threads = max concurrent queries; actual co-running load is
    // governed by the demand budget below, so workers are cheap headroom
    // rather than the load control they were under the r12 band scheduler
    // (where 8 was the measured knee). Default scales with the box —
    // 3/8 of the cores (12 at 32 cpus, 3 at 8 cpus) — because the driver
    // also benches at lower core counts, where 8 fixed workers of
    // 1-core-minimum admission would oversubscribe a small box.
    val threads = sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS",
      math.max(2, math.min(12, cpus * 3 / 8)).toString).toInt
    val spark = Harness.session(cpus, sfDir)
    // LPT scheduling (r8): with a fixed worker pool, wall time is set by
    // stragglers — an expensive query submitted LAST runs alone at the
    // end, extending the wall by its full duration (measured: alphabetical
    // order left ml_agglo_single straggling 70 s contended). Classic
    // longest-processing-time-first fixes it: submit queries in descending
    // historical cost, using the committed bench_seq.json (the threads=1
    // uncontended truth of a prior run of this same registry) as the cost
    // model. Unknown queries (new since the last seq run) sort FIRST with
    // an infinite prior — assuming new work is expensive is the safe side
    // of LPT. No file → alphabetical, the prior behavior.
    val (histCost: Map[String, Double], histCpu: Map[String, Double]) =
      try {
        // real JSON parse (ADVICE r8: the old regex slice silently degraded
        // to partial/alphabetical order on any format change) — Jackson is
        // already on Spark's classpath
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(Files.readString(Paths.get("bench_seq.json")))
        def numMap(field: String): Map[String, Double] = {
          val qn = root.get(field)
          if (qn == null || !qn.isObject) Map.empty[String, Double]
          else {
            val b = Map.newBuilder[String, Double]
            // non-number nodes are SKIPPED (ADVICE r9: asDouble() coerces
            // malformed entries to 0.0 — the cheapest slot, the exact
            // opposite of the unknown-is-expensive prior; skipping lets the
            // Double.MaxValue fallback below handle them)
            qn.fields().forEachRemaining { e =>
              if (e.getValue.isNumber) b += e.getKey -> e.getValue.asDouble()
            }
            b.result()
          }
        }
        // queries = threads=1 wall seconds (the LPT cost model);
        // queries_cpu = the same run's per-query JVM-CPU seconds — in a
        // threads=1 run the attribution is exact (no overlap), so
        // cpu/wall is each query's measured average core DEMAND, the
        // input to the admission budget below.
        (numMap("queries"), numMap("queries_cpu"))
      } catch { case _: Throwable => (Map.empty[String, Double], Map.empty[String, Double]) }
    if (histCost.isEmpty)
      System.err.println("[bench] bench_seq.json missing or unparseable — " +
        s"(exists=${Files.exists(Paths.get("bench_seq.json"))}) " +
        "submission order degrades to alphabetical (LPT disabled)")
    val names = SparkEntry.queries.toSeq
      .sortBy { case (n, _) => (-histCost.getOrElse(n, Double.MaxValue), n) }
    // DEMAND-BUDGET scheduling (r15 — replaces the two fixed-width cost
    // bands). The r15-head measurement that killed the bands: idle-box
    // wall 191–228 s at proc-CPU ~3.0–3.9 ks, i.e. average parallelism
    // 16–17 of 32 cores — the width-2 heavy band serialized its 71+ rows
    // (many of them 2–4-core driver-loop fits that could safely co-run)
    // while the box sat half idle. The band widths were always a proxy
    // for the real constraint, measured directly by r11's failure: the
    // box thrashes when the CO-RUNNING QUERIES' SUMMED CORE DEMAND
    // exceeds the cores (10 heavy rows × ~10–25 cores each = 3–4×
    // oversubscription → 401 s wall, 2.6× CPU). So schedule on that
    // constraint itself: each query's measured demand is cpu/wall from
    // the committed threads=1 truth (exact attribution — no overlap),
    // and a query is ADMITTED when the running demand sum stays inside
    // the budget of measured-free cores × an overlap factor (stages ramp
    // up/down inside a query, so Σdemand slightly over the cores keeps
    // the box full — the same reason §2.6-style pipelining works).
    // Admission scans the LPT queue first-fit, so a wide query at the
    // head never idles workers while narrow ones behind it fit; the scan
    // can only delay a query until strictly-smaller work drains, so
    // nothing starves. Unknown queries (no seq history) assume
    // half-the-box demand and sort first — the safe side of LPT.
    // External load folds into the SAME budget continuously:
    // budget = (cpus − ext_ema) × factor, floor 2 concurrent (near the
    // CPU-minimal schedule; seq is minimal but a floor of 2 keeps plan
    // compile overlapped with execution), so ~2 external cores shave the
    // budget ~6% instead of tripping a quantized width cliff, and a
    // fully-busy box degrades to ~2 co-running queries.
    // External load is measured INSTANTANEOUSLY from /proc/stat: sample
    // whole-box busy jiffies minus this JVM's own jiffies over a short
    // window — unlike the 1-min loadavg this has no lag, separates our own
    // demand from the external share exactly, and counts hypervisor steal
    // (jiffies the guest lost) as external load, which for scheduling
    // purposes it is.
    def loadavg1(): Double =
      Harness.loadavg().headOption.flatMap(_.toDoubleOption).getOrElse(0.0)
    def busy(): Long = Harness.boxJiffies()._1
    def own(): Long = { val (u, s) = Harness.ownJiffies(); if (u < 0) -1L else u + s }
    /** External busy cores over a sampling window. Falls back to loadavg
      * (lagged, but better than nothing) where /proc is unreadable. */
    def extCores(windowMs: Long): Double = {
      val b0 = busy(); val o0 = own()
      if (b0 < 0 || o0 < 0) return loadavg1()
      Thread.sleep(windowMs)
      val b1 = busy(); val o1 = own()
      val dt = windowMs / 1000.0
      math.max(0.0, ((b1 - b0) - (o1 - o0)) / HZ / dt)
    }
    val extStart = extCores(600)
    // Per-query core demand from the threads=1 truth. Clamps: a sub-50 ms
    // wall makes cpu/wall noise, and demand can never exceed the box.
    // Unknown rows (new since the last seq run) assume HALF the box — wide
    // enough that two unknowns fill it, narrow enough that one unknown
    // still co-runs with known narrow work.
    def demandOf(n: String): Double = {
      val w = histCost.getOrElse(n, 0.0)
      val c = histCpu.getOrElse(n, -1.0)
      if (w > 0.05 && c >= 0.0) math.min(cpus.toDouble, math.max(1.0, c / w))
      else cpus / 2.0
    }
    // Overlap factor: the seq-measured demands OVERESTIMATE concurrent
    // usage ~2.5× (a query's wall stretches under sharing while its CPU
    // stays fixed, so instantaneous cores-used sits far below cpu/wall
    // measured alone — the factor-1.5 run held Σdemand at its budget of
    // 48 yet kept only 19 of 32 cores busy). Measured on this head
    // (32 cores, 12 workers, parts 8, idle): factor 1.25 → 244 s,
    // 1.5 → 153–155 s, 2.0 → 111 s, 2.5 → 145 s (one run, sys-CPU
    // anomaly), 3.0 → 97–146 s across 3 runs (ambient variance) with the
    // LOWEST CPU of the sweep (2,433–2,793 s). At 3.0 the budget stops
    // binding on an idle box (12 workers × avg demand ≈ 32 × 3) and acts
    // purely as the CONTENTION governor: 8 external cores → budget 72,
    // 24 → 24, 30 → 6 — measured under 8 synthetic busy cores: 132 s
    // wall / 2,610 CPU-s (1.06× idle CPU), vs 217 s at factor 1.5.
    val budgetFactor = 3.0
    @volatile var extEma = extStart
    def budget(): Double =
      math.max(2.0, (cpus - extEma) * budgetFactor)
    if (extStart >= 1.0)
      System.err.println(
        f"[bench] external load ~$extStart%.1f cores at start — budget ${budget()}%.1f")
    // Self-diagnosis (VERDICT r8 #2): the graded r8 artifact showed every
    // query uniformly ~13× slower than the same HEAD on an idle box, with
    // zero failures — sandbox contention, but nothing in bench.json could
    // prove it. Record machine load (loadavg) at start/end and whole-JVM
    // process-CPU seconds per query window: an externally-contended run has
    // high loadavg and LOW jvm-cpu/wall (our threads starved by other
    // processes), while a genuinely expensive run has jvm-cpu ≈ wall ×
    // effective-parallelism. Per-query cpu deltas OVERLAP in pipelined mode
    // (concurrent queries share the JVM counter) — they bound, not
    // attribute; the run-level cpu/wall ratio is the honest verdict.
    val loadStart = Harness.loadavg().mkString(",")
    val cpu0all = procCpu()
    // Mechanism attribution (VERDICT r14 #1b): the r14 driver artifact
    // burned 4.2× the idle run's process CPU under external load and
    // nothing in the file could say where. These run-level aggregates
    // make a contended artifact self-attributing: task count up vs the
    // idle artifact = RECOMPUTE (cached/pinned blocks lost); task_cpu_sec
    // up with spill_mb up = execution-memory thrash (too many co-resident
    // tasks splitting the pool); proc CPU up while task_cpu stays flat =
    // GC or driver-side work (gc_wall_sec / plan+codegen); cpu_sys_sec up
    // = kernel time (memory reclaim, paging — co-tenants eating RAM
    // rather than cycles).
    val tt = TaskTotals.attach(spark.sparkContext)
    def gcWallMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val gcMs0 = gcWallMs()
    val (uj0, sj0) = Harness.ownJiffies()
    // Whole-box steal jiffies across the run (r15): this environment's
    // hypervisor co-tenants produce MINUTES-long steal storms (measured:
    // identical back-to-back suite runs at 107 s / 2,769 proc-CPU-s in a
    // quiet window vs 349 s / 8,357 under ~720 s of steal — charged CPU
    // inflates with steal under tick accounting, so even "JVM's own CPU"
    // is not contention-proof). Recording the run's steal makes a slow
    // artifact self-attributing: high steal_sec = the box, not the engine.
    val steal0 = Harness.boxJiffies()._2
    // The admission queue: LPT order (most-expensive first, unknowns at
    // the head), each entry carrying its measured demand. Workers pull
    // FIRST-FIT under the budget; `runningDemand` tracks the admitted
    // demand sum. Progress guarantee: when nothing is running, the head
    // is admitted regardless of budget (a single query can never
    // deadlock, and the degenerate budget <= min-demand case degrades to
    // sequential — the CPU-minimal schedule).
    val queue = scala.collection.mutable.ArrayBuffer(
      names.map { case (n, f) => (n, f, demandOf(n)) }: _*)
    val qLock = new Object
    var runningDemand = 0.0
    var runningCount = 0
    var peakDemand = 0.0
    var minBudgetSeen = budget()
    def acquire(): (String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame, Double) =
      qLock.synchronized {
        while (queue.nonEmpty) {
          val b = budget()
          if (b < minBudgetSeen) minBudgetSeen = b
          val idx =
            if (runningCount == 0) 0
            else queue.indexWhere { case (_, _, d) => runningDemand + d <= b }
          if (idx >= 0) {
            val q = queue.remove(idx)
            runningDemand += q._3; runningCount += 1
            if (runningDemand > peakDemand) peakDemand = runningDemand
            return q
          }
          qLock.wait(1000)
        }
        null
      }
    def release(d: Double): Unit = qLock.synchronized {
      runningDemand -= d; runningCount -= 1; qLock.notifyAll()
    }
    val t0all = System.nanoTime()
    val resultsBuf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Boolean, Double)]()
    def runOne(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
      val t0 = System.nanoTime()
      val c0 = procCpu()
      val ok =
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      resultsBuf.add((name, (System.nanoTime() - t0) / 1e9, ok, procCpu() - c0))
    }
    val workers = (1 to threads).map { i =>
      val t = new Thread(() => {
        var q = acquire()
        while (q != null) {
          try runOne(q._1, q._2) finally release(q._3)
          q = acquire()
        }
      }, s"bench-worker-$i")
      t.start(); t
    }
    // Mid-run load adaptation (VERDICT r14 #1a, continuous): every 5 s
    // measure external busy cores by the same jiffies delta as the start
    // probe (no lag, own demand subtracted exactly, steal counted),
    // smooth with a 2-sample EMA, and let the admission budget track
    // free x factor directly. No widths to resize and no debounce
    // machinery: a transient 2-core blip shaves the budget ~6% for one
    // admission decision instead of stepping a pool width, and a loaded
    // box admits less work until the EMA recedes.
    val loadWatcher = new Thread(() => {
      var lastBusy = busy(); var lastOwn = own()
      var lastNs = System.nanoTime(); var lastCpuSec = procCpu()
      while (true) {
        Thread.sleep(5000)
        val nowBusy = busy(); val nowOwn = own()
        val nowNs = System.nanoTime(); val nowCpuSec = procCpu()
        val dt = math.max((nowNs - lastNs) / 1e9, 1e-3)
        val ext =
          if (nowBusy < 0 || lastBusy < 0 || nowOwn < 0 || lastOwn < 0) {
            // /proc unreadable: the r12 estimate — loadavg minus our own
            // CPU rate (~ our runnable thread count; lagged but safe-side)
            val ownRate =
              if (nowCpuSec < 0 || lastCpuSec < 0) 0.0
              else (nowCpuSec - lastCpuSec) / dt
            math.max(0.0, loadavg1() - ownRate)
          } else math.max(0.0, ((nowBusy - lastBusy) - (nowOwn - lastOwn)) / HZ / dt)
        lastBusy = nowBusy; lastOwn = nowOwn; lastNs = nowNs; lastCpuSec = nowCpuSec
        val prev = extEma
        extEma = 0.5 * extEma + 0.5 * ext
        if (math.abs(extEma - prev) >= 2.0)
          System.err.println(f"[bench] external load ~$extEma%.1f cores — budget ${budget()}%.1f")
        qLock.synchronized { qLock.notifyAll() }
      }
    })
    loadWatcher.setDaemon(true)
    if (threads > 1) loadWatcher.start() // threads = 1: the flat seq truth
    workers.foreach(_.join())
    val results = resultsBuf.toArray(Array.empty[(String, Double, Boolean, Double)]).toSeq
    val wall = (System.nanoTime() - t0all) / 1e9
    val cpuAll = procCpu() - cpu0all
    val loadEnd = Harness.loadavg().mkString(",")
    // The driver records only the LAST ~2000 chars of stdout and parses the
    // JSON line out of that window (round-2 failure mode: a 4 KB line with
    // full-precision timings + a per-query ok map got truncated mid-line →
    // "parsed": null). Keep this line compact — 2-decimal per-query timings
    // (~22 chars/entry keeps 80+ queries under the window with margin),
    // and name failed queries only when there are any.
    def fmt(v: Double, dp: Int): String = {
      // adaptive precision keeps the line short even on a slow machine:
      // ≥10 s → whole seconds; otherwise `dp` decimals, trailing zeros
      // stripped
      val s =
        if (v >= 10) "%.0f".formatLocal(java.util.Locale.ROOT, v)
        else s"%.${dp}f".formatLocal(java.util.Locale.ROOT, v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".") else s
    }
    val sum = results.map(_._2).sum
    // name at most 3 failed queries on stdout (full list in the file) so a
    // pathological run can't push the line past the parser's tail window
    val failed = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
    val failedPart =
      if (failed.isEmpty) ""
      else s""","failed":${failed.take(3).mkString("[", ",", "]")}"""
    // stdout line: compact — the driver parses it from a ~2 KB tail window
    // (round-2 failure mode: a 4 KB line got truncated → "parsed": null).
    // "sum" stays on the line (ADVICE r3: consumers must be able to tell
    // pipelined wall from total work); per-query precision degrades 1 dp →
    // 0 dp, and at 99 queries even the 0-dp full map overflows the window
    // (measured 2,030 B), so the map is BUDGETED: most expensive queries
    // first until ~1,550 B, the rest summarized by "queries_omitted". The
    // file copy always carries the complete map.
    def mkLine(dp: Int): String = {
      val ents = results.sortBy(-_._2)
        .map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v, dp) }
      // strict prefix of the cost-sorted list (stop at the first overflow,
      // don't backfill with shorter names) so "omitted" really means "the
      // cheapest N queries", as documented
      val budget = 1550
      val kept = scala.collection.mutable.ArrayBuffer[String]()
      var used = 0
      var full = false
      for (e <- ents if !full) {
        if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
        else full = true
      }
      val omPart =
        if (kept.size < ents.size) s""","queries_omitted":${ents.size - kept.size}""" else ""
      // "pipelined":true lives only in the file copy — every stdout byte
      // competes with the parser's tail window
      s"""{"metric":"total","value":${fmt(wall, dp)},"unit":"sec","sum":${fmt(sum, dp)},"cpu":${fmt(cpuAll, 0)},"load":"${loadStart.split(",").headOption.getOrElse("")}|${loadEnd.split(",").headOption.getOrElse("")}","queries":{${kept.mkString(",")}}$omPart,"n_failed":${failed.size}$failedPart,"sf":"$sfDir"}"""
    }
    val line = { val l1 = mkLine(1); if (l1.length <= 1800) l1 else mkLine(0) }
    val failedPartFull =
      if (failed.isEmpty) "" else s""","failed":${failed.mkString("[", ",", "]")}"""
    // file copy: no size constraint → full 2-dp precision
    val qs2 = results.map { case (k, v, _, _) => "\"" + k + "\":" + fmt(v, 2) }
      .mkString("{", ",", "}")
    // per-query JVM-CPU seconds (overlapping windows in pipelined mode —
    // see the self-diagnosis note above) + run-level load/cpu truth
    val qcpu = results.map { case (k, _, _, c) => "\"" + k + "\":" + fmt(c, 2) }
      .mkString("{", ",", "}")
    val (uj1, sj1) = Harness.ownJiffies()
    val diagPart = {
      val userSec = if (uj1 < 0 || uj0 < 0) -1.0 else (uj1 - uj0) / HZ
      val sysSec = if (sj1 < 0 || sj0 < 0) -1.0 else (sj1 - sj0) / HZ
      val steal1 = Harness.boxJiffies()._2
      val stealSec = if (steal1 < 0 || steal0 < 0) -1.0 else (steal1 - steal0) / HZ
      s""","steal_sec":${fmt(stealSec, 1)},"proc_cpu_sec":${fmt(cpuAll, 1)},"cpu_wall_ratio":${fmt(cpuAll / math.max(wall, 1e-9), 2)},"cpu_user_sec":${fmt(userSec, 1)},"cpu_sys_sec":${fmt(sysSec, 1)},"gc_wall_sec":${fmt((gcWallMs() - gcMs0) / 1e3, 1)},"tasks":${tt.tasks.get()},"task_run_sec":${fmt(tt.runMs.get() / 1e3, 1)},"task_cpu_sec":${fmt(tt.cpuNs.get() / 1e9, 1)},"task_gc_sec":${fmt(tt.gcMs.get() / 1e3, 1)},"spill_mem_mb":${tt.memSpill.get() >> 20},"spill_disk_mb":${tt.diskSpill.get() >> 20},"ext_cores_start":${fmt(extStart, 1)},"ext_cores_end":${fmt(extEma, 1)},"budget_factor":${fmt(budgetFactor, 2)},"budget_min":${fmt(minBudgetSeen, 1)},"peak_demand":${fmt(peakDemand, 1)},"n_demand_unknown":${names.count { case (n, _) => !(histCost.contains(n) && histCpu.contains(n)) }},"loadavg_start":"$loadStart","loadavg_end":"$loadEnd","queries_cpu":$qcpu"""
    }
    // "threads" records the pool width (VERDICT r4 #10): with threads=1 the
    // per-query timings are uncontended sequential truth and sum ≈ value;
    // with threads>1 they are pipelined and contention-inflated — consumers
    // comparing rounds across machines need this to tell the two apart.
    // bench_seq.json (committed) holds a threads=1 run of the same commit.
    val rich =
      s"""{"metric":"total","value":${fmt(wall, 2)},"unit":"sec","sum":${fmt(sum, 2)},"pipelined":${threads > 1},"threads":$threads,"queries":$qs2,"n_failed":${failed.size}$failedPartFull$diagPart,"sf":"$sfDir"}"""
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    try Files.writeString(Paths.get(outFile), rich + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
