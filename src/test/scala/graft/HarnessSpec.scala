package graft

import java.nio.file.{Files, Paths}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

/** Pins the one harness session every main starts from, its task listener,
  * and the structure that keeps it the only one: no other session builder,
  * task listener or main in `src/main`, and no environment knob beyond the
  * four the mains document. Also pins [[Twin]] as the one renderer of the
  * shared-text step lists, and [[Tables]] as the one reader of fixture
  * paths, the owner of the one session memo and the one place an exact
  * sum is spelled, `Vec.nearest` as the one nearest-centroid ranking,
  * `Vec.knn` as the one query × corpus kNN ranking, and `Twin.rounds` /
  * `Twin.sqlRounds` as the one fixed-round loop and unroll. */
class HarnessSpec extends SparkSpec {

  test("conf: Bench's settings, key by key") {
    val c = Harness.conf(4, sf)
    assert((c - "spark.local.dir") === Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.scheduler.mode" -> "FAIR",
      "spark.sql.adaptive.enabled" -> "false"))
    // tmpfs local dirs only where /dev/shm is a writable directory
    val shm = Paths.get("/dev/shm")
    assert(c.get("spark.local.dir") === (
      if (Files.isDirectory(shm) && Files.isWritable(shm)) Some("/dev/shm/graft-spark-local")
      else None))
  }

  test("width: one partition per 32 MiB of input, floor 8, cap cpus") {
    assert(Harness.width(4, Harness.bytesUnder(sf)) === 8)
    assert(Harness.width(32, 1L << 30) === 32)
    assert(Harness.width(4, 1L << 30) === 8)
    assert(Harness.bytesUnder(sf) > 0, "sf0.001 fixtures must be readable")
  }

  test("TaskTotals counts every task of a job") {
    val tt = TaskTotals.attach(spark.sparkContext)
    try {
      spark.sparkContext.parallelize(1 to 700, 7).map(_ * 2).count()
      // task-end events arrive on the asynchronous listener bus
      eventually(timeout(Span(30, Seconds))) { assert(tt.tasks.get() === 7) }
      assert(tt.runMs.get() >= 0 && tt.cpuNs.get() > 0)
    } finally spark.sparkContext.removeSparkListener(tt)
  }

  /** Each `src/main/scala` file's code, comments stripped. */
  private lazy val mainSources: Map[String, String] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        Files.readString(p).replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", ""))
      .toMap
  }

  private def filesWith(needle: String): Set[String] =
    mainSources.collect { case (f, code) if code.contains(needle) => f }.toSet

  /** How often each file that contains `needle` contains it. */
  private def occurrences(needle: String): Map[String, Int] = mainSources.map { case (f, code) =>
    f -> (code.split(java.util.regex.Pattern.quote(needle), -1).length - 1)
  }.filter(_._2 > 0)

  test("structure: Harness is the only session builder and task listener") {
    assert(mainSources.size > 20, "scan must see the whole source tree")
    assert(filesWith("SparkSession.builder") === Set("graft/Harness.scala"))
    assert(filesWith("onTaskEnd") === Set("graft/Harness.scala"))
  }

  test("structure: mains only in Bench, Verify and Harness") {
    assert(filesWith("def main(") ===
      Set("graft/Bench.scala", "graft/Verify.scala", "graft/Harness.scala"))
  }

  test("structure: the shared-text cascade and CTE renderer live only in Twin") {
    assert(filesWith("selectExpr(\"*\", s\"$ex AS $nm\")") === Set("graft/Twin.scala"))
    assert(filesWith("AS (SELECT *, $ex AS $nm FROM") === Set("graft/Twin.scala"))
    for (gone <- Seq("stepChain", "sqlChainFrom", "gaussSteps", "symGauss3", "solve3", "mStep"))
      assert(filesWith(gone) === Set.empty[String], s"$gone is back")
  }

  test("structure: fixture tables are read only through the Tables loader") {
    // a bare read of a fixture path would bypass the driver-side footer
    // schema and pay a schema-inference Spark job per read
    for (needle <- Seq("read.parquet(s\"$dir/", "read.parquet(s\"$sfDir/"))
      assert(filesWith(needle) subsetOf Set("graft/Tables.scala"), s"$needle outside Tables")
  }

  test("structure: one session memo, and Tables owns its future and the pin") {
    for (gone <- Seq("fitCache", "frameCache", "sessionIds", "fitCacheClear"))
      assert(filesWith(gone) === Set.empty[String], s"$gone is back")
    for (needle <- Seq("CompletableFuture", ".localCheckpoint("))
      assert(filesWith(needle) === Set("graft/Tables.scala"), s"$needle outside Tables")
  }

  /** Whether `code` sums a cast to an exact-sum type inline: a `sum(`
    * whose argument ends in `.cast(T.exact)`, `.cast(T.money)`,
    * `.cast(exact)` or `.cast(money)`. */
  private def sumsExactCastInline(code: String): Boolean =
    Seq(".cast(T.exact))", ".cast(T.money))", ".cast(exact))", ".cast(money))").exists { needle =>
      Iterator.iterate(code.indexOf(needle))(i => code.indexOf(needle, i + 1)).takeWhile(_ >= 0)
        .exists { i =>
          // walk back to the unmatched `(` that the needle's last `)` closes
          var depth = 0
          var j = i - 1
          while (j >= 0 && !(code(j) == '(' && depth == 0)) {
            if (code(j) == ')') depth += 1 else if (code(j) == '(') depth -= 1
            j -= 1
          }
          j >= 3 && code.substring(j - 3, j) == "sum"
        }
    }

  /** A Spark `expr` that casts to an exact-sum type in SQL spelling:
    * group 1 is its alias, when it has one. */
  private val exactCastExpr =
    ("""expr\(s?"CAST\([^"]*AS DECIMAL\((?:30,12|18,4)\)\)"\)""" +
      """(?:\s*\.as\("(\w+)"\))?""").r

  /** Whether `code` sums such an `expr` inline: directly, as
    * `sum(expr("CAST(… AS DECIMAL(30,12))"))`, or through its alias, as
    * `sum(col("<alias>"))`. */
  private def sumsExactCastInSql(code: String): Boolean =
    exactCastExpr.findAllMatchIn(code).exists { m =>
      code.substring(math.max(0, m.start - 40), m.start).trim.endsWith("sum(") ||
        Option(m.group(1)).exists(a => code.contains(s"""sum(col("$a"))"""))
    }

  test("structure: every Spark-side exact sum goes through a Tables helper") {
    assert(sumsExactCastInline("""sum((col("d") - col("rho")).cast(T.exact)).over(rw)"""))
    assert(sumsExactCastInline("sum(c.cast(money)).cast(DoubleType)"))
    assert(!sumsExactCastInline("""col("c_acctbal").cast(T.money).cast("double")"""))
    assert(sumsExactCastInSql("""sum(expr("CAST(sq AS DECIMAL(30,12))")).over(w)"""))
    assert(sumsExactCastInSql("sum(\n  expr(\"CAST(-m * x AS DECIMAL(30,12))\"))"))
    assert(sumsExactCastInSql("""expr(s"CAST(($u) AS DECIMAL(30,12))").as("ud")).agg(sum(col("ud")))"""))
    assert(!sumsExactCastInSql("""expr("CAST(ln(p) AS DECIMAL(30,12))").as("lpri")"""))
    assert(!sumsExactCastInSql("""s"SELECT sum(CAST(x AS DECIMAL(30,12))) FROM t""""))
    val inline = mainSources.collect {
      case (f, code) if sumsExactCastInline(code) || sumsExactCastInSql(code) => f
    }.toSet
    assert(inline subsetOf Set("graft/Tables.scala"), inline)
  }

  test("structure: no split search crosses its rows with the candidate grid") {
    // split searches go through Supervised.splitHist, which bins each row
    // once; only the oracle texts keep the brute-force ×grid definition
    assert(filesWith("crossJoin(broadcast(cands))") === Set.empty[String])
  }

  test("structure: nearest-centroid ranking goes through Vec.nearest, on one fixed model") {
    // the map-only helper is the one (d, cid) ranking; the oracle texts
    // keep the brute-force window through Vec.sqlNearest
    for (needle <- Seq("orderBy(col(\"d\"), col(\"cid\"))", "orderBy(col(\"qd\"), col(\"cid\"))",
        "orderBy(col(\"dc\"), col(\"cid\"))", "least(cent"))
      assert(filesWith(needle) === Set.empty[String], s"$needle is back")
    // the crossJoins left rank nothing: ml_kmeans_elbow/_knee's prefix-min,
    // ml_kmeans_transform's distance matrix, ml_kmeans_pp_init's growing
    // seed set and the flat-cluster memberships
    assert(occurrences("crossJoin(broadcast(cent))") ===
      Map("graft/ops/ML.scala" -> 4, "graft/ops/Cluster.scala" -> 1))
    // the fixed vec_id < 10 model frame is built in one place (ML.kmCentFrame)
    assert(mainSources.values.map("col\\(\"vec_id\"\\)\\.as\\(\"cid\"\\)".r.findAllIn(_).size).sum === 1)
  }

  test("structure: query × corpus kNN ranking goes through Vec.knn, its oracle through Vec.sqlKnn") {
    assert(filesWith("crossJoin(broadcast(q))") === Set.empty[String])
    assert(filesWith("orderBy(col(\"sim\").desc, col(\"n_id\"))") === Set.empty[String])
    // the (d, n_id) windows left rank index candidates, not the corpus:
    // Cluster.ivfKnn3 and ml_knn_ivf's probed cells
    assert(occurrences("partitionBy(col(\"q_id\")).orderBy(col(\"d\"), col(\"n_id\"))") ===
      Map("graft/ops/Cluster.scala" -> 1, "graft/ops/Pipeline.scala" -> 1))
    // the oracle ranking is spelled once, from each Vec.Metric's DuckDB twin
    for (needle <- Seq("ORDER BY list_distance(CAST(q.", "ORDER BY list_cosine_similarity"))
      assert(filesWith(needle) === Set.empty[String], s"$needle is back")
    assert(filesWith("PARTITION BY q.") === Set("graft/functions/VecExpressions.scala"))
    // the EVAL_N sample is drawn in one place per engine
    assert(occurrences("lit(84589L)") === Map("graft/ops/ML.scala" -> 1))
    assert(occurrences("(84589 * vec_id + 12345)") === Map("graft/ops/ML.scala" -> 1))
  }

  test("structure: fixed-round loops run on Twin.rounds, their oracles on Twin.sqlRounds") {
    val inScope = Set("graft/ops/Dedup.scala", "graft/ops/Curation.scala",
      "graft/ops/Cluster.scala", "graft/ops/TextSim.scala", "graft/ops/Supervised.scala")
    assert(inScope subsetOf mainSources.keySet)
    // a hand-written round generator or a hand-listed unroll
    for (needle <- Seq("def round(", "def lpRound(", "def peel(", "roundCtes(", "${round(1)}"))
      assert((occurrences(needle).keySet intersect inScope) === Set.empty[String],
        s"$needle is back")
    // the HORIZON eps graph is built once per engine
    assert(occurrences("T.freeze(epsPairs(s, dir, HORIZON))") === Map("graft/ops/Cluster.scala" -> 1))
    val horizonEp = ("q\\.id AS b FROM pts p JOIN pts q\\s+ON p\\.id < q\\.id\\s+AND " +
      "\\(p\\.x - q\\.x\\) \\* \\(p\\.x - q\\.x\\) \\+ \\(p\\.y - q\\.y\\) \\* \\(p\\.y - q\\.y\\)" +
      "\\s+<= \\$\\{HORIZON \\* HORIZON\\}").r
    assert(mainSources.map { case (f, code) => f -> horizonEp.findAllIn(code).size }
      .filter(_._2 > 0) === Map("graft/ops/Cluster.scala" -> 1))
  }

  test("structure: the iterative fits are Twin.Fits, with no hand loop or unroll left") {
    // the in-plan trails' hand rounds (ml_huber_regression,
    // ml_quantile_regression, ml_gamma_glm) and gmmEm's driver loop
    for (needle <- Seq("crossJoin(broadcast(c))", "def stepCte(", "var (p1, m1"))
      assert(filesWith(needle) === Set.empty[String], s"$needle is back")
    // the one roundCte left is ml_gbm_fit's boosting round, a tree search
    assert(filesWith("def roundCte(") === Set("graft/ops/Boost.scala"))
  }

  test("structure: the mains read exactly four SPARK_GRAFT_ knobs") {
    val knobs = mainSources.values
      .flatMap("SPARK_GRAFT_[A-Z_]+".r.findAllIn(_)).toSet
    assert(knobs === Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_THREADS", "SPARK_GRAFT_BENCH_OUT"))
  }
}
