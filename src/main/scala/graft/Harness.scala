package graft
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** The one harness session and the run probes the mains share.
  *
  * Bench, Verify and the two triage modes below all start their session
  * here, so a timing, a correctness dump, a profile and a plan dump of the
  * same query see the same conf.
  *
  * Modes:
  *   sbt "runMain graft.Harness profile <sfDir> <query>..."
  *     runs each query 3 times in one warmed session and prints wall,
  *     process CPU and task totals per rep. The cold−warm gap is one-shot
  *     driver work (analysis + Janino codegen); the warm floor is execution.
  *     `pinned=` is how many persisted RDDs the rep left behind and their
  *     bytes: a loop that never releases its rounds' pins shows up here.
  *   sbt "runMain graft.Harness plans <sfDir> <outDir> <tag> <query>..."
  *     writes each query's `explain("formatted")` to
  *     `<outDir>/<query>_<tag>.txt`, the plans the bench executes.
  */
object Harness {
  /** Cores of the local master. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Shuffle width sized to the input, not the core count: one 32 MiB unit
    * of input per partition, floor 8 so a single query still spreads, cap
    * `cpus`. With AQE off nothing coalesces after a shuffle, so every reduce
    * stage runs exactly this many tasks. Measured on the sf0.1 suite (32
    * cores, 12 workers): width 32 ran 207 s wall / 3,841 CPU-s / 82k tasks,
    * 16 ran 145 / 3,140 / 58k, 8 ran 145 / 2,909 / 45k; near-empty stages
    * pay a per-task fixed cost (shuffle-file open/commit, ~11 ms sys each).
    */
  def width(cpus: Int, inputBytes: Long): Int =
    math.max(8L, math.min(cpus.toLong, inputBytes >> 25)).toInt

  /** Total bytes of the files under `path`; 0 when unreadable. */
  def bytesUnder(path: String): Long = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) { val cs = f.listFiles(); if (cs == null) 0L else cs.map(sizeOf).sum }
      else f.length()
    try sizeOf(new java.io.File(path)) catch { case _: Throwable => 0L }
  }

  /** The harness session conf for `cpus` local cores over the tables in
    * `sfDir`. FAIR, AQE off, `/dev/shm` and the input-sized width are
    * harness-only: a library session keeps Spark's defaults (AQE on).
    */
  def conf(cpus: Int, sfDir: String): Map[String, String] = {
    val shm = Paths.get("/dev/shm")
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> width(cpus, bytesUnder(sfDir)).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // Generated-class cache sized to the suite: the default 100 entries
      // thrash across 475 plan shapes, and every evicted class pays Janino
      // plus a fresh HotSpot JIT of the same source again (a single cold
      // query measured 61 s of JIT against 43 s of task CPU). Static conf.
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      // FAIR across per-query pools: under FIFO an iterative query's many
      // 1-task jobs (IRLS steps, k-means++ picks) queue behind another
      // worker's wide scan. Unknown pool names get the default weight.
      "spark.scheduler.mode" -> "FAIR",
      // AQE materializes every shuffle stage as its own job submission,
      // each one a turn of the single-threaded DAG event loop; at sf0.1
      // stages are milliseconds of work, so the loop, not the engine, set
      // the wall. Results are AQE-invariant.
      "spark.sql.adaptive.enabled" -> "false") ++
      // Shuffle and spill files on tmpfs when there is one: the fixed cost
      // of tiny stages is shuffle-file metadata operations, which measured
      // ~20% of the CPU of the iterative micro-queries on ext4.
      (if (Files.isDirectory(shm) && Files.isWritable(shm))
        Map("spark.local.dir" -> "/dev/shm/graft-spark-local")
      else Map.empty)
  }

  /** The harness session: `conf`, quiet logs, and a warm-up (codegen
    * compiler, shuffle machinery, and a lineitem read through the same
    * `Tables` loader the queries use) so the first query does not absorb
    * ~5 s of JVM start that belongs to no operator. */
  def session(cpus: Int, sfDir: String): SparkSession = {
    val spark = SparkSession.builder().config(conf(cpus, sfDir)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Log.quietBoundedWindowWarn()
    Log.quietFairPoolWarn()
    spark.range(1000000).selectExpr("sum(id)").collect()
    try Tables.lineitem(spark, sfDir).limit(10).collect()
    catch { case _: Throwable => () }
    spark
  }

  /** USER_HZ, the unit of /proc jiffies (the Linux ABI default). */
  val HZ = 100.0

  /** Whole-box (busy, steal) jiffies from the cpu line of /proc/stat. Busy
    * counts steal and excludes idle and iowait; (-1, -1) when unreadable. */
  def boxJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum - f(3) - (if (f.length > 4) f(4) else 0L), if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (-1L, -1L) }

  /** This process's (user, sys) jiffies, fields 14 and 15 of
    * /proc/self/stat, parsed past the ")" so an exotic comm can't shift
    * fields; (-1, -1) when unreadable. */
  def ownJiffies(): (Long, Long) =
    try {
      val s = Files.readString(Paths.get("/proc/self/stat"))
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong, f(12).toLong)
    } catch { case _: Throwable => (-1L, -1L) }

  /** The 1, 5 and 15 minute load averages; empty when unreadable. */
  def loadavg(): Seq[String] =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).toSeq
    catch { case _: Throwable => Seq.empty }

  private val osBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }

  /** This JVM's process CPU seconds; -1 when the platform does not say. */
  def procCpu(): Double = osBean.map(_.getProcessCpuTime / 1e9).getOrElse(-1.0)

  def main(args: Array[String]): Unit = args.toList match {
    case "profile" :: sfDir :: names => profile(sfDir, names)
    case "plans" :: sfDir :: outDir :: tag :: names => plans(sfDir, outDir, tag, names)
    case _ =>
      System.err.println("usage: graft.Harness profile <sfDir> <query>...\n" +
        "       graft.Harness plans <sfDir> <outDir> <tag> <query>...")
      sys.exit(2)
  }

  private def profile(sfDir: String, names: Seq[String]): Unit = {
    val spark = session(cpus, sfDir)
    val sc = spark.sparkContext
    val tt = TaskTotals.attach(sc)
    for (name <- names; r <- 1 to 3) {
      val t0 = System.nanoTime(); val c0 = procCpu()
      val k0 = tt.tasks.get(); val tc0 = tt.cpuNs.get(); val tr0 = tt.runMs.get()
      val pins0 = sc.getPersistentRDDs.keys.toSet
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val w = (System.nanoTime() - t0) / 1e9
      val pins = sc.getPersistentRDDs.keys.toSet -- pins0
      val pinned = sc.getRDDStorageInfo.filter(i => pins(i.id)).map(i => i.memSize + i.diskSize).sum
      println(f"[profile] $name%-28s rep$r wall=$w%7.2f cpu=${procCpu() - c0}%7.1f " +
        f"tasks=${tt.tasks.get() - k0}%6d taskCpu=${(tt.cpuNs.get() - tc0) / 1e9}%7.1f " +
        f"taskRun=${(tt.runMs.get() - tr0) / 1e3}%7.1f " +
        f"pinned=+${pins.size}%d/${pinned / 1048576.0}%.1fMiB")
    }
    spark.stop()
  }

  private def plans(sfDir: String, outDir: String, tag: String, names: Seq[String]): Unit = {
    val spark = session(cpus, sfDir)
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      try {
        val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
        println(s"[plans] wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

/** Totals over every task that ends in a session: count, run time, CPU,
  * GC and spill. The one task-metrics listener of the harness. */
final class TaskTotals extends SparkListener {
  val tasks, runMs, cpuNs, gcMs, memSpill, diskSpill = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.incrementAndGet(); runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime); gcMs.addAndGet(m.jvmGCTime)
      memSpill.addAndGet(m.memoryBytesSpilled); diskSpill.addAndGet(m.diskBytesSpilled)
    }
  }
}

object TaskTotals {
  def attach(sc: SparkContext): TaskTotals = {
    val t = new TaskTotals
    sc.addSparkListener(t)
    t
  }
}
