package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types.TimestampNTZType
import scala.jdk.CollectionConverters._

/** Pins `Tables.t`'s driver-side footer read: the schema it hands the
  * reader is the one Spark's own inference job would have produced, a table
  * read launches no Spark job, and a table stored as a directory of part
  * files still loads through the plain-reader fallback. */
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
}
