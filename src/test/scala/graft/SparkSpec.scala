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
  def jobsLaunchedBy(body: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val watchGroup = s"jobs-probe-${System.nanoTime()}"
    val barrierGroup = s"$watchGroup-barrier"
    val watched = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val barrierSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = if (j.properties == null) null
                else j.properties.getProperty("spark.jobGroup.id")
        if (watchGroup == g) watched.add(j.jobId)
        if (barrierGroup == g) barrierSeen.set(true)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(watchGroup, "job-count probe")
      body
      sc.setJobGroup(barrierGroup, "job-count probe barrier")
      sc.parallelize(Seq(1)).count()
      var waited = 0
      while (!barrierSeen.get() && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(barrierSeen.get(), "barrier job event never delivered")
      watched.asScala.toSeq
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
