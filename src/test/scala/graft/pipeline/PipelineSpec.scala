package graft.pipeline

import java.nio.file.{Files, Paths}

import java.time.Instant

import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.Success

import graft.SparkSpec
import graft.dq.{DqPass, DqSummary}
import graft.ingest._

/** Full A ∥ B → C run against canned HTTP: fixture BLS listing/file and
  * population payload land in a temp raw zone, analytics publishes the
  * three curated tables + DQ run log, validation passes, and the golden
  * values from the reference's executed outputs hold.
  */
class PipelineSpec extends SparkSpec {

  private val source = "https://example.test/pub/time.series/pr/"
  private val apiUrl = "https://api.test/data.jsonrecords"

  test("pipeline end-to-end: ingest concurrently, publish, validate") {
    val dir = Files.createTempDirectory("graft-pipeline").toString
    val blsBody = new String(
      Files.readAllBytes(Paths.get(fixturePath("pr.data.0.Current"))), "UTF-8")
    val popBody = new String(
      Files.readAllBytes(Paths.get(fixturePath("population.json"))), "UTF-8")

    val cfg = PipelineConfig(
      blsSource = source,
      blsTargetDir = s"$dir/raw_bls",
      populationUrl = apiUrl,
      populationTargetPath = s"$dir/raw_datausa/population.json",
      populationMetaPath = s"$dir/raw_datausa/_meta/population_ingest_run.json",
      database = "graft_test_db")

    val popCfg = PopulationIngestConfig(
      url = apiUrl,
      targetPath = cfg.populationTargetPath,
      metaPath = cfg.populationMetaPath)
    val fetcher = new FakeFetcher(Map(
      source -> Success("""<a href="pr.data.0.Current">x</a>"""),
      (source + "pr.data.0.Current") -> Success(blsBody),
      PopulationIngest.queryUrl(popCfg) -> Success(popBody)))

    val report = Pipeline.run(spark, fetcher, LocalFileStore, cfg)

    assert(report.blsSync.status.contains("success"))
    assert(report.blsSync.uploaded == 1)
    assert(report.populationIngest.mode.contains("api_success"))
    assert(report.populationIngest.rows.contains(10))
    assert(report.publishedTables.size == 3)

    // published tables are re-readable through the catalog (S5)
    val stats = spark.table("graft_test_db.population_stats_2013_2018").head()
    assert(math.abs(stats.getDouble(0) - 3.22069808e8) < 1.0)
    assert(math.abs(stats.getDouble(1) - 4158441.040908095) < 1e-6)

    val best = spark.table("graft_test_db.bls_best_year_by_series")
    assert(best.filter("series_id = 'PRS30006011'").head().getInt(1) == 1995)
    val bestCount = best.count()

    val rep = spark.table("graft_test_db.report_prs30006032_q01")
    assert(rep.count() == 4)
    assert(rep.filter("year = 2020").head().isNullAt(4))

    // DQ run log appends one row per run
    val n1 = spark.table("graft_test_db.dq_summary_runlog").count()
    Pipeline.runAnalytics(spark, cfg)
    val n2 = spark.table("graft_test_db.dq_summary_runlog").count()
    assert(n2 == n1 + 1, "dq_summary_runlog must be append-only")

    // overwrite publish is idempotent: re-run leaves the same row count
    assert(spark.table("graft_test_db.bls_best_year_by_series").count() == bestCount)
  }

  private def cacheIsEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("Task C re-reads rewritten raw files: no cached input outlives runAnalytics") {
    val dir = Files.createTempDirectory("graft-stale-cache")
    val cfg = PipelineConfig(
      blsSource = source,
      blsTargetDir = s"$dir/raw_bls",
      populationUrl = apiUrl,
      populationTargetPath = s"$dir/raw_datausa/population.json",
      populationMetaPath = s"$dir/raw_datausa/_meta/population_ingest_run.json",
      database = "graft_stale_cache_db")
    val blsFile = Paths.get(cfg.blsTargetDir, cfg.blsFileName)
    val popFile = Paths.get(cfg.populationTargetPath)
    Files.createDirectories(blsFile.getParent)
    Files.createDirectories(popFile.getParent)
    Files.copy(Paths.get(fixturePath("pr.data.0.Current")), blsFile)
    Files.copy(Paths.get(fixturePath("population.json")), popFile)
    // frames other suites left cached would hide what this run leaves
    spark.catalog.clearCache()

    Pipeline.runAnalytics(spark, cfg)
    assert(cacheIsEmpty, "runAnalytics left a cached relation behind")

    Files.write(blsFile, Seq(
      "series_id\tyear\tperiod\tvalue",
      "PRS30006032\t2013\tQ01\t0.7",
      "PRS30006032\t2014\tQ01\t-0.4",
      "PRS30006011\t2014\tQ02\t1.5").mkString("", "\n", "\n").getBytes("UTF-8"))
    Pipeline.runAnalytics(spark, cfg)
    assert(cacheIsEmpty, "runAnalytics left a cached relation behind")
    val blsRows = spark.table("graft_stale_cache_db.dq_summary_runlog").collect().toSeq
      .sortBy(r => Instant.parse(r.getAs[String]("run_utc")))
      .map(_.getAs[Long]("bls_rows"))
    assert(blsRows == Seq(16L, 3L), "the second run must read the rewritten BLS file")
    assert(spark.table("graft_stale_cache_db.bls_best_year_by_series").count() == 2)

    // a population payload with no parseable row fails validation
    Files.write(popFile, """{"data": [{"Nation": "United States", "Population": "n/a", "Year": 2013}]}"""
      .getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Pipeline.runAnalytics(spark, cfg))
    assert(e.getMessage.contains("population parse produced 0 rows"))
    assert(cacheIsEmpty, "a throwing runAnalytics left a cached relation behind")
  }

  test("validate names a missing output table") {
    val row = DqSummary(16, 3, 6, 0, 10, 10, 0, 7, 0, 1, Instant.now().toString)
    val e = intercept[IllegalArgumentException](
      Pipeline.validate(spark, DqPass(row, 0), Seq("graft_test_db.no_such_table")))
    assert(e.getMessage.contains("missing output table graft_test_db.no_such_table"))
  }
}
