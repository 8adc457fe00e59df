package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (SURVEY §5.2). sf0.001 keeps every
  * suite fast; the DuckDB oracle at sf0.01 is the driver's job, these tests
  * pin SEMANTICS (hand-checkable micro-results, invariants, streaming
  * mirrors) that an oracle diff can't localize.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session — never stop it per-suite

  /** Ids of the Spark jobs `body` launches on this thread. `body` runs
    * under its own job group; a barrier job then runs under a second group.
    * The listener bus is FIFO, so once the barrier's event is seen every job
    * event of `body` has already been delivered — waiting for the barrier
    * SPECIFICALLY (not just any first event) is what makes a zero count
    * sound. */
  def jobsLaunchedBy(body: => Unit): Seq[Int] = jobStartsOf(body).map(_._1.jobId)

  /** What launched each job `body` launches, under the same barrier as
    * [[jobsLaunchedBy]]: the call site of the job's SQL execution
    * (`count at Cluster.scala:1194`), or, for a job outside one (a pin's
    * checkpoint), its stage names. Spark 4 runs a query's jobs on a
    * pool thread, so their stage names carry the pool's call site, not
    * the action's; the execution start event carries the action's. */
  def actionsLaunchedBy(body: => Unit): Seq[String] = jobStartsOf(body).map {
    case (_, Some((callSite, _, _))) => callSite
    case (j, None) => j.stageInfos.map(_.name).mkString("; ")
  }

  /** The (call site, physical plan) of each SQL execution `body` runs a
    * job in, once per execution, under the same barrier as
    * [[jobsLaunchedBy]]. */
  def plansLaunchedBy(body: => Unit): Seq[(String, String)] =
    jobStartsOf(body).flatMap(_._2).distinct.map { case (site, plan, _) => (site, plan) }

  private def jobStartsOf(body: => Unit)
      : Seq[(org.apache.spark.scheduler.SparkListenerJobStart, Option[(String, String, String)])] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    val watchGroup = s"jobs-probe-${System.nanoTime()}"
    val barrierGroup = s"$watchGroup-barrier"
    val watched = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    // per execution id: its call site, its physical plan and the id
    val executions = new java.util.concurrent.ConcurrentHashMap[String, (String, String, String)]()
    val barrierSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = if (j.properties == null) null
                else j.properties.getProperty("spark.jobGroup.id")
        if (watchGroup == g) watched.add(j)
        if (barrierGroup == g) barrierSeen.set(true)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          executions.put(x.executionId.toString,
            (x.description, x.physicalPlanDescription, x.executionId.toString))
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // the group id only: a job description would replace every SQL
      // execution's call site in its start event
      sc.setLocalProperty("spark.jobGroup.id", watchGroup)
      body
      sc.setLocalProperty("spark.jobGroup.id", barrierGroup)
      sc.parallelize(Seq(1)).count()
      var waited = 0
      while (!barrierSeen.get() && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(barrierSeen.get(), "barrier job event never delivered")
      watched.asScala.toSeq.map { j =>
        val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        j -> exec.flatMap(id => Option(executions.get(id)))
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // VERDICT r10 #6: the specs instantiate the same bounded post-agg
    // windows Verify/Bench do — without this the test log floods with
    // hundreds of WindowExec single-partition warns, burying real signal.
    Log.quietBoundedWindowWarn()
    s
  }
}
