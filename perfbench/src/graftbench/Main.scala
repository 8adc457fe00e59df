package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, InterpretedUnsafeProjection}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** One benchmark run in one fresh JVM.
  *
  * `Main <plan.json> <result.json>`: the plan names the session conf, the
  * fixture directory, the seeded query order of each pass and the client
  * count. The run builds and warms the session, then runs the passes in
  * turn: in each, `clients` closed-loop threads pull the pass's queue until
  * it is empty. The first `warmup_passes` passes are untimed warm-up. Every
  * timing, fingerprint and (with `trace`) the per-layer ledger goes to the
  * result file. It only calls graft's public entry point
  * `SparkEntry.queries` and Spark's own `QueryExecution`, listener and JMX
  * surfaces.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val result = run(plan)
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(result))
  }

  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def run(plan: JsonNode): Map[String, Any] = {
    val sfDir = plan.get("sf_dir").asText
    val trace = plan.get("trace").asBoolean
    val clients = plan.get("clients").asInt
    val passes = plan.get("passes").elements().asScala
      .map(_.elements().asScala.map(_.asText).toSeq).toSeq
    val warmup = plan.get("warmup_passes").asInt

    val mainS = sinceJvmStart()
    val builder = SparkSession.builder().master(plan.get("master").asText)
    plan.get("confs").properties().asScala.foreach(e => builder.config(e.getKey, e.getValue.asText))
    val spark = builder.getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionS = sinceJvmStart()
    graft.Log.quietBoundedWindowWarn()
    graft.Log.quietFairPoolWarn()
    // graft.Bench's warm-up: codegen compiler, shuffle machinery and the
    // parquet reader, so the first query does not absorb JVM start-up.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).collect()
    val setupS = sinceJvmStart()

    val ledger = if (trace) { val l = new Ledger; sc.addSparkListener(l); Some(l) } else None
    val entries = graft.SparkEntry.queries
    val records = new ConcurrentLinkedQueue[Map[String, Any]]()
    val heldPeak = new java.util.concurrent.atomic.AtomicLong(held(sc))

    def runPass(pass: Int, queue: Seq[String], t0: Long): Unit = {
      val pending = new ConcurrentLinkedQueue[String](queue.asJava)
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          var q = pending.poll()
          while (q != null) {
            records.add(runQuery(spark, entries, q, pass, c, sfDir, trace, t0))
            heldPeak.accumulateAndGet(held(sc), math.max)
            q = pending.poll()
          }
        }, s"graftbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    val passStats = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    var timedStart: Probe.Snap = null
    val t0 = System.nanoTime()
    for ((queue, p) <- passes.zipWithIndex) {
      val before = Probe.snapshot()
      if (p == warmup) timedStart = before
      runPass(p, queue, t0)
      passStats += Map[String, Any]("pass" -> p, "warmup" -> (p < warmup)) ++
        Probe.delta(before, Probe.snapshot())
    }
    val after = Probe.snapshot()

    val queries = records.asScala.toSeq.sortBy(r => r("start_s").asInstanceOf[Double])
    val traced = ledger.map { l =>
      org.apache.spark.graftbench.Bus.drain(sc)
      traceReport(l, queries)
    }
    val out = Map[String, Any](
      "setup_s" -> setupS,
      "setup_phases" -> Map("jvm_to_main_s" -> mainS, "session_built_s" -> sessionS, "warmed_s" -> setupS),
      "window" -> Probe.delta(timedStart, after),
      "passes" -> passStats.toSeq,
      "held_mb_peak" -> heldPeak.get / Probe.MiB,
      "held_mb_end" -> held(sc) / Probe.MiB,
      "persisted_rdds_end" -> sc.getPersistentRDDs.size,
      "rss_peak_mb" -> Probe.rssPeakMb(),
      "confs" -> sc.getConf.getAll.toSeq.sorted.map { case (k, v) => Seq(k, v) },
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "queries" -> (if (traced.isEmpty) queries else traced.get._1),
      "trace" -> traced.map(_._2).orNull)
    spark.stop()
    out
  }

  /** Storage memory the block manager holds: pinned frames, caches and
    * broadcast pieces. */
  private def held(sc: SparkContext): Long =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum

  private def runQuery(spark: SparkSession,
                       entries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
                       name: String, pass: Int, client: Int, sfDir: String, trace: Boolean,
                       t0: Long): Map[String, Any] = {
    val sc = spark.sparkContext
    val tag = s"$name#$pass"
    def phase(p: String): Unit = sc.setLocalProperty(Ledger.PhaseKey, p)
    sc.setLocalProperty("spark.scheduler.pool", name)
    sc.setLocalProperty(Ledger.QueryKey, tag)
    phase("build")
    val before = if (trace) Probe.snapshot() else null
    val ts = Array.fill(6)(0L)
    ts(0) = System.nanoTime()
    var exchanges: Option[Int] = None
    val outcome: Either[String, (Long, Long)] =
      try {
        val df = entries(name)(spark, sfDir)
        ts(1) = System.nanoTime(); phase("plan")
        val qe = df.queryExecution
        qe.optimizedPlan
        ts(2) = System.nanoTime()
        val plan = qe.executedPlan
        ts(3) = System.nanoTime()
        exchanges = Some(plan.collectWithSubqueries { case e: Exchange => e }.size)
        phase("codegen")
        val rdd = qe.toRdd
        ts(4) = System.nanoTime(); phase("exec")
        val fp = Fingerprint(rdd, plan.output.map(_.dataType))
        ts(5) = System.nanoTime()
        Right(fp)
      } catch {
        case e: Throwable =>
          ts(5) = System.nanoTime()
          Left(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally {
        sc.setLocalProperty(Ledger.QueryKey, null)
        sc.setLocalProperty(Ledger.PhaseKey, null)
        sc.setLocalProperty("spark.scheduler.pool", null)
      }
    val secs = (a: Int, b: Int) => if (ts(b) == 0L || ts(a) == 0L) 0.0 else (ts(b) - ts(a)) / 1e9
    val base = Map[String, Any](
      "name" -> name,
      "tag" -> tag,
      "pass" -> pass,
      "client" -> client,
      "start_s" -> (ts(0) - t0) / 1e9,
      "end_s" -> (ts(5) - t0) / 1e9,
      "latency_s" -> (ts(5) - ts(0)) / 1e9,
      "ok" -> outcome.isRight,
      "error" -> outcome.swap.toOption.orNull,
      "rows" -> outcome.toOption.map(_._1).getOrElse(-1L),
      "hash" -> outcome.toOption.map(f => java.lang.Long.toHexString(f._2)).orNull)
    if (!trace) base
    else base ++ Map(
      "ops.build_s" -> secs(0, 1),
      "plan.optimize_s" -> secs(1, 2),
      "plan.physical_s" -> secs(2, 3),
      "codegen.rdd_s" -> secs(3, 4),
      "exec.s" -> secs(4, 5),
      "plan.exchanges" -> exchanges.map(Int.box).orNull,
      "tables.held_mb_end" -> held(sc) / Probe.MiB,
      "tables.persisted_rdds_end" -> sc.getPersistentRDDs.size,
      "jvm.rss_peak_mb" -> Probe.rssPeakMb()) ++
      Probe.delta(before, Probe.snapshot()).filter { case (k, _) =>
        Set("codegen.compiles", "jit.compile_s", "jvm.gc_s", "box.steal_s")(k) }
  }

  /** Joins the listener's ledger onto the per-query records and checks
    * that the attribution is complete. */
  private def traceReport(l: Ledger, queries: Seq[Map[String, Any]])
      : (Seq[Map[String, Any]], Map[String, Any]) = {
    val perQuery = queries.map { q =>
      val tag = q("tag").asInstanceOf[String]
      val build = l.phase(tag, "build")
      // qe.toRdd runs the plan's broadcast builds and scalar subqueries
      // before it returns, so their jobs land in the codegen phase.
      val codegen = l.phase(tag, "codegen")
      q ++ l.query(tag).metrics ++ Map(
        "ops.build_jobs" -> build.jobs,
        "ops.build_task_cpu_s" -> build.cpuNs / 1e9,
        "codegen.jobs" -> codegen.jobs,
        "codegen.task_cpu_s" -> codegen.cpuNs / 1e9)
    }
    def sum(k: String) = perQuery.map(_(k).asInstanceOf[Double]).sum
    val total = l.total.metrics.toMap
    val within = (k: String) =>
      math.abs(sum(k) - total(k)) <= 0.01 * math.max(total(k), 1e-9)
    val check = Map[String, Any](
      "untagged_jobs" -> l.untagged.jobs,
      "untagged_tasks" -> l.untagged.tasks,
      "task.cpu_s_queries" -> sum("task.cpu_s"),
      "task.cpu_s_total" -> total("task.cpu_s"),
      "exec.tasks_queries" -> sum("exec.tasks"),
      "exec.tasks_total" -> total("exec.tasks"),
      "ok" -> (l.untagged.jobs == 0 && within("task.cpu_s") && within("exec.tasks")))
    (perQuery, Map("totals" -> total, "attribution" -> check))
  }
}

/** Row count and an order-insensitive 64-bit row hash, computed in the
  * same job that materializes the rows. Each row is hashed over its
  * UnsafeRow bytes (an interpreted projection, so no code is generated
  * for the check itself) and the hashes are summed. */
object Fingerprint {
  def apply(rdd: RDD[InternalRow], types: Seq[DataType]): (Long, Long) = {
    val refs = types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }
    rdd.mapPartitions { rows =>
      val proj = InterpretedUnsafeProjection.createProjection(refs)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        val a = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42)
        val b = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x5bd1e995)
        h += (a.toLong << 32) ^ (b & 0xffffffffL)
        n += 1
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }
}

/** Process and box counters read from the JMX beans and /proc. */
object Probe {
  val MiB = 1024.0 * 1024.0
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (busy, steal) jiffies of the whole box, from the first line of /proc/stat. */
  private def boxJiffies(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
  } catch { case _: Throwable => (0L, 0L) }

  private def loadavg1(): Double = try {
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
  } catch { case _: Throwable => -1.0 }

  final case class Snap(wallNs: Long, cpuNs: Long, gcMs: Long, jitMs: Long, compiles: Long,
                        boxBusy: Long, steal: Long, load: Double)

  def snapshot(): Snap = {
    val (busy, steal) = boxJiffies()
    Snap(System.nanoTime(), os.getProcessCpuTime, gcMs(), jitMs(), compiles(), busy, steal, loadavg1())
  }

  /** The measured window: process CPU, GC, JIT, codegen, and what the rest
    * of the box did meanwhile (steal and busy cores outside this JVM). */
  def delta(a: Snap, b: Snap): Map[String, Any] = {
    val hz = 100.0
    val wall = (b.wallNs - a.wallNs) / 1e9
    val cpu = (b.cpuNs - a.cpuNs) / 1e9
    Map(
      "wall_s" -> wall,
      "cpu_s" -> cpu,
      "jvm.gc_s" -> (b.gcMs - a.gcMs) / 1e3,
      "jit.compile_s" -> (b.jitMs - a.jitMs) / 1e3,
      "codegen.compiles" -> (b.compiles - a.compiles),
      "box.steal_s" -> (b.steal - a.steal) / hz,
      "box.external_busy_cores" ->
        (if (wall <= 0) 0.0 else math.max(0.0, ((b.boxBusy - a.boxBusy) / hz - cpu) / wall)),
      "box.loadavg_start" -> a.load,
      "box.loadavg_end" -> b.load)
  }

  def rssPeakMb(): Double = try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  } catch { case _: Throwable => 0.0 }
}
