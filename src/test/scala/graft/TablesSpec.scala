package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.types.TimestampNTZType
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Pins `Tables.t`'s driver-side footer read: the schema it hands the
  * reader is the one Spark's own inference job would have produced, a table
  * read launches no Spark job, and a table stored as a directory of part
  * files still loads through the plain-reader fallback. Also pins the
  * contract of `Tables.memo`, the one session memo: single flight, failed
  * builds retried, one entry per session, and a stamp of the fixture files
  * that rebuilds a rewritten fixture's memos and nothing else. */
class TablesSpec extends SparkSpec {

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** Runs `body` with `nanosAsLong` set to `v`, then restores the shared
    * session's value. */
  private def withNanosAsLong[A](v: Boolean)(body: => A): A = {
    val prev = spark.conf.getOption(nanosAsLong)
    spark.conf.set(nanosAsLong, v.toString)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(nanosAsLong, p)
      case None => spark.conf.unset(nanosAsLong)
    }
  }

  test("footer schema equals Spark's inferred schema for every fixture table") {
    for (dir <- Seq(sf, Paths.get(sf).resolveSibling("sf0.01").toString)) {
      val files = Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      assert(files.map(_.getFileName.toString).toSet === tables.map(_ + ".parquet").toSet,
        s"$dir must hold the ten fixture tables")
      for (f <- files; nanos <- Seq(false, true)) withNanosAsLong(nanos) {
        val name = f.getFileName.toString.stripSuffix(".parquet")
        assert(Tables.t(spark, dir, name).schema === spark.read.parquet(f.toString).schema,
          s"$f with nanosAsLong=$nanos")
      }
    }
  }

  test("loading each of the ten tables launches zero jobs") {
    for (name <- tables) {
      val jobs = jobsLaunchedBy {
        val df = if (name == "events") Tables.events(spark, sf) else Tables.t(spark, sf, name)
        df.queryExecution.analyzed
      }
      assert(jobs.isEmpty, s"loading $name launched ${jobs.size} job(s)")
    }
  }

  test("a table stored as a directory of part files loads through the fallback") {
    val dir = Files.createTempDirectory("graft-tables-spec")
    try {
      val written = spark.range(0, 40)
        .selectExpr("id", "cast(id * 3 AS string) AS s", "id / 8.0 AS d")
        .repartition(2)
      val table = dir.resolve("two.parquet")
      written.write.parquet(table.toString)
      val parts = Files.list(table).iterator().asScala
        .count(_.getFileName.toString.startsWith("part-"))
      assert(parts === 2, "the table directory must hold two part files")
      val loaded = Tables.t(spark, dir.toString, "two")
      assert(loaded.schema === spark.read.parquet(table.toString).schema)
      assert(loaded.collect().map(_.toString).sorted === written.collect().map(_.toString).sorted)
    } finally {
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  test("events.ts is still TIMESTAMP_NTZ") {
    assert(Tables.events(spark, sf).schema("ts").dataType === TimestampNTZType)
  }

  private def tag(name: String): String = s"tables-spec-$name-${System.nanoTime()}"

  /** Runs `body` on a fresh temp dir holding a copy of the sf0.001
    * fixtures, then deletes it. */
  private def withFixtureCopy[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("graft-memo-spec")
    try {
      Files.list(Paths.get(sf)).iterator().asScala.foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
      body(dir)
    } finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Runs `f` on `n` threads at once and returns each thread's outcome. */
  private def concurrently[A](n: Int)(f: Int => A): Seq[Either[Throwable, A]] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val go = new CountDownLatch(1)
    try {
      val all = Future.sequence((0 until n).map(i => Future {
        go.await()
        try Right(f(i)) catch { case e: Throwable => Left(e) }
      }))
      go.countDown()
      Await.result(all, 2.minutes)
    } finally pool.shutdown()
  }

  test("memo: 8 concurrent callers run compute once and share its value") {
    val k = tag("single-flight")
    val runs = new AtomicInteger()
    val got = concurrently(8) { _ =>
      Tables.memo(k, spark, sf) { runs.incrementAndGet(); Thread.sleep(300); new Object }
    }
    assert(runs.get() === 1)
    val values = got.map(_.toOption.get)
    assert(values.forall(_ eq values.head), "every caller must get the one built value")
  }

  test("memo: after a failed build the next call recomputes") {
    val k = tag("retry")
    val runs = new AtomicInteger()
    intercept[IllegalStateException](
      Tables.memo[Object](k, spark, sf) { runs.incrementAndGet(); throw new IllegalStateException("build failed") })
    assert(Tables.memo(k, spark, sf) { runs.incrementAndGet(); "built" } === "built")
    assert(Tables.memo(k, spark, sf) { runs.incrementAndGet(); "again" } === "built")
    assert(runs.get() === 2)
  }

  test("memo: a waiter on a failing build rethrows the builder's own exception") {
    val k = tag("waiter")
    val building = new CountDownLatch(1)
    val waiting = new CountDownLatch(1)
    val failure = new ArithmeticException("singular system")
    val got = concurrently(2) {
      case 0 =>
        Tables.memo[Object](k, spark, sf) {
          building.countDown()
          waiting.await(30, TimeUnit.SECONDS)
          Thread.sleep(500) // the waiter is now blocked on this build
          throw failure
        }
      case _ =>
        building.await(30, TimeUnit.SECONDS)
        waiting.countDown()
        Tables.memo[Object](k, spark, sf)(throw new AssertionError("the waiter recomputed"))
    }
    assert(got.map(_.left.toOption.map(_.getClass)) === Seq.fill(2)(Some(classOf[ArithmeticException])))
    assert(got.forall(_.left.toOption.get eq failure))
  }

  test("memo: a second session gets its own entry, bound to that session") {
    val s2 = spark.newSession()
    val f1 = Tables.lineitemFit(spark, sf)
    val f2 = Tables.lineitemFit(s2, sf)
    assert(f1.sparkSession eq spark)
    assert(f2.sparkSession eq s2)
    assert(f1 ne f2)
    assert(Tables.lineitemFit(s2, sf) eq f2, "a repeat call in the same session is a hit")
    assert(Tables.lineitemFit(spark, sf) eq f1)
  }

  test("memo: a fixture rewritten in place rebuilds its memos") {
    withFixtureCopy { dir =>
      val all = Tables.lineitemFit(spark, dir.toString).count()
      assert(Tables.lineitemFit(spark, dir.toString).count() === all)
      val out = dir.resolve("subset")
      Tables.lineitem(spark, dir.toString).limit(100).coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      Files.copy(part, dir.resolve("lineitem.parquet"), StandardCopyOption.REPLACE_EXISTING)
      assert(all > 100)
      assert(Tables.lineitemFit(spark, dir.toString).count() === 100)
    }
  }

  test("memo: a non-parquet file does not rebuild, touching a fixture does") {
    withFixtureCopy { dir =>
      val k = tag("stamp")
      val runs = new AtomicInteger()
      def call(): Int = Tables.memo[Integer](k, spark, dir.toString)(runs.incrementAndGet())
      assert(call() === 1)
      Files.writeString(dir.resolve("notes.txt"), "not a table")
      assert(call() === 1)
      val li = dir.resolve("lineitem.parquet").toFile
      assert(li.setLastModified(li.lastModified() - 60000))
      assert(call() === 2)
      assert(call() === 2)
    }
  }
}
