package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._

/** Task-level counters summed over a set of tasks. */
final class Acc {
  var jobs, stages, tasks, emptyTasks = 0L
  var cpuNs, runMs, deserMs, gcMs = 0L
  var resultBytes, shWriteBytes, shReadBytes, fetchWaitMs, spillBytes = 0L

  def addTask(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      deserMs += m.executorDeserializeTime
      gcMs += m.jvmGCTime
      resultBytes += m.resultSize
      val sr = m.shuffleReadMetrics
      shReadBytes += sr.remoteBytesRead + sr.localBytesRead
      fetchWaitMs += sr.fetchWaitTime
      shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled
      if (m.inputMetrics.recordsRead + sr.recordsRead == 0) emptyTasks += 1
    } else emptyTasks += 1
  }

  def add(o: Acc): Unit = synchronized {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; emptyTasks += o.emptyTasks
    cpuNs += o.cpuNs; runMs += o.runMs; deserMs += o.deserMs; gcMs += o.gcMs
    resultBytes += o.resultBytes; shWriteBytes += o.shWriteBytes
    shReadBytes += o.shReadBytes; fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
  }

  /** The per-layer names of the execution layer, in their units. */
  def metrics: Seq[(String, Double)] = synchronized {
    val mb = 1024.0 * 1024.0
    Seq(
      "exec.jobs" -> jobs.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.toDouble,
      "task.cpu_s" -> cpuNs / 1e9,
      "task.run_s" -> runMs / 1e3,
      "task.deser_s" -> deserMs / 1e3,
      "task.gc_s" -> gcMs / 1e3,
      "task.empty_frac" -> (if (tasks == 0) 0.0 else emptyTasks.toDouble / tasks),
      "task.result_mb" -> resultBytes / mb,
      "shuffle.write_mb" -> shWriteBytes / mb,
      "shuffle.read_mb" -> shReadBytes / mb,
      "shuffle.fetch_wait_s" -> fetchWaitMs / 1e3,
      "spill.mb" -> spillBytes / mb)
  }
}

/** Attributes every job, stage and task to the query execution (query name
  * and pass) and phase named by the local properties the benchmark sets
  * before it calls into graft.
  * Untagged work lands in `untagged` and fails the traced run's
  * attribution check. */
final class Ledger extends SparkListener {
  val byTag = new ConcurrentHashMap[(String, String), Acc]()
  val total = new Acc
  val untagged = new Acc
  private val stageTag = new ConcurrentHashMap[Integer, Option[(String, String)]]()

  private def tagOf(p: java.util.Properties): Option[(String, String)] =
    Option(p).flatMap(p => Option(p.getProperty(Ledger.QueryKey)))
      .map(q => (q, p.getProperty(Ledger.PhaseKey, "?")))

  private def acc(t: Option[(String, String)]): Acc = t match {
    case Some(k) => byTag.computeIfAbsent(k, _ => new Acc)
    case None => untagged
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t = tagOf(e.properties)
    e.stageIds.foreach(s => stageTag.putIfAbsent(s, t))
    val a = acc(t)
    a.synchronized(a.jobs += 1)
    total.synchronized(total.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val t = tagOf(e.properties).orElse(stageTag.getOrDefault(e.stageInfo.stageId, None))
    stageTag.put(e.stageInfo.stageId, t)
    val a = acc(t)
    a.synchronized(a.stages += 1)
    total.synchronized(total.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    acc(stageTag.getOrDefault(e.stageId, None)).addTask(e.taskMetrics)
    total.addTask(e.taskMetrics)
  }

  /** All counters of one query execution (its tag), every phase together. */
  def query(tag: String): Acc = {
    val a = new Acc
    byTag.forEach((k, v) => if (k._1 == tag) a.add(v))
    a
  }

  def phase(tag: String, phase: String): Acc =
    Option(byTag.get((tag, phase))).getOrElse(new Acc)
}

object Ledger {
  val QueryKey = "graftbench.query"
  val PhaseKey = "graftbench.phase"
}
