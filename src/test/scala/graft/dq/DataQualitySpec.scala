package graft.dq

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.parse.{BlsParser, PopulationParser}

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  lazy val bls = BlsParser.parseFile(spark, fixturePath("pr.data.0.Current")).cache()
  lazy val population = PopulationParser.parseFile(spark, fixturePath("population.json")).cache()

  test("full-row duplicates: zero on clean data, counted when present") {
    assert(DataQuality.fullRowDuplicates(bls) == 0)
    val withDup = bls.union(bls.limit(3))
    assert(DataQuality.fullRowDuplicates(withDup) == 3)
  }

  test("business-key duplicate detector is empty on unique keys") {
    assert(DataQuality.businessKeyDuplicates(bls, Seq("series_id", "year", "period")).count() == 0)
    val dup = bls.union(bls.limit(1))
    assert(DataQuality.businessKeyDuplicates(dup, Seq("series_id", "year", "period")).count() == 1)
  }

  test("null profile counts per column in one pass") {
    val df = Seq((Some(1), Option.empty[String]), (None, Some("x")), (Some(3), Some("y")))
      .toDF("a", "b")
    val row = DataQuality.nullProfile(df, Seq("a", "b")).head()
    assert(row.getLong(0) == 1 && row.getLong(1) == 1)
  }

  test("quarter completeness counts ALL periods including Q05 (reference semantics)") {
    val qc = DataQuality.quarterCompleteness(bls)
    // PRS30006011/1995 has Q01..Q05 -> 5 periods -> NOT complete (==4)
    val r = qc.filter("series_id = 'PRS30006011' and year = 1995").head()
    assert(r.getLong(2) == 5)
    assert(!r.getBoolean(3))
    // TIE0000001/2001 has only Q01 -> 1
    assert(qc.filter("series_id = 'TIE0000001' and year = 2001").head().getLong(2) == 1)
  }

  test("IQR bounds via approxQuantile and outlier filter") {
    val vals = (1 to 100).map(_.toDouble) :+ 10000.0
    val df = vals.toDF("v")
    val (lo, hi) = DataQuality.iqrBounds(df, "v")
    assert(lo < 1.0 && hi < 10000.0)
    assert(DataQuality.iqrOutliers(df, "v").count() == 1)
  }

  test("domain checks: min/max and negative census") {
    val (lo, hi) = DataQuality.minMax(bls, "year")
    assert(lo == 1995 && hi == 2020)
    assert(DataQuality.countWhere(bls, col("value") < 0) == 7)
  }

  test("summary row carries the reference's metric names") {
    val row = DataQuality.summary(spark, bls, population)
    val names = row.columns.toSeq
    assert(names.contains("bls_rows") && names.contains("bls_outlier_rows_iqr")
      && names.contains("population_non_positive_values") && names.contains("run_utc"))
    val r = row.head()
    assert(r.getAs[Long]("bls_rows") == 16)
    assert(r.getAs[Long]("population_rows") == 10)
    assert(r.getAs[Long]("bls_distinct_series_id") == 3)
  }

  /** BLS rows planted with everything the fused pass must count:
    * full-row duplicates (also of a null-keyed row), a null series_id,
    * a null year, a null value, negatives and IQR outliers on both
    * sides.
    */
  private lazy val plantedBls = {
    val base = (1 to 60).map(i => (Option(s"S${i % 4}"), Option(2000 + i % 7), s"Q0${i % 4 + 1}", Option(i.toDouble)))
    val planted = Seq(
      (Option("S1"), Option(2001), "Q01", Option(-3.0)),
      (Option("S1"), Option(2001), "Q01", Option(-3.0)),
      (Option("S2"), Option(2002), "Q02", Option(5000.0)),
      (Option("S3"), Option(2003), "Q03", Option(-4000.0)),
      (None, Option(2004), "Q04", Option(10.0)),
      (None, Option(2004), "Q04", Option(10.0)),
      (Option("S0"), None, "Q01", Option(20.0)),
      (Option("S0"), Option(2005), "Q02", None))
    (base ++ base.take(5) ++ planted).toDF("series_id", "year", "period", "value")
  }

  private lazy val plantedPopulation =
    Seq((2013, 3.0e8), (2013, 3.0e8), (2014, 0.0), (2015, -1.0), (2016, 3.1e8))
      .toDF("Year", "Population")

  /** The run-log row from the per-metric helpers, one job or more each. */
  private def oracle(bls: DataFrame, population: DataFrame, runUtc: String): DqSummary = {
    val (lo, hi) = DataQuality.iqrBounds(bls, "value")
    DqSummary(
      bls_rows = bls.count(),
      bls_distinct_series_id = bls.select("series_id").distinct().count(),
      bls_distinct_years = bls.select("year").distinct().count(),
      bls_full_row_duplicates = DataQuality.fullRowDuplicates(bls),
      population_rows = population.count(),
      population_distinct_years = population.select("Year").distinct().count(),
      population_full_row_duplicates = DataQuality.fullRowDuplicates(population),
      bls_negative_values = DataQuality.countWhere(bls, col("value") < 0),
      population_non_positive_values = DataQuality.countWhere(population, col("Population") <= 0),
      bls_outlier_rows_iqr = DataQuality.countWhere(bls, col("value") < lo || col("value") > hi),
      run_utc = runUtc)
  }

  test("fused DQ pass equals the per-metric helpers on a planted frame and an empty one") {
    val got = DataQuality.measure(plantedBls, plantedPopulation)
    val want = oracle(plantedBls, plantedPopulation, got.row.run_utc)
    assert(got.row == want)
    // the planted cases are really there, so equality is not vacuous
    assert(want.bls_full_row_duplicates == 7 && want.population_full_row_duplicates == 1)
    assert(want.bls_distinct_series_id == 5 && want.bls_distinct_years == 8)
    assert(want.bls_negative_values == 3 && want.population_non_positive_values == 2)
    assert(want.bls_outlier_rows_iqr == 2)
    assert(got.blsNullCritical == DataQuality.countWhere(plantedBls,
      col("series_id").isNull || col("year").isNull || col("period").isNull || col("value").isNull))
    assert(got.blsNullCritical == 4)

    // an empty input gives zero counts, not nulls
    val empty = plantedPopulation.limit(0)
    val none = DataQuality.measure(plantedBls, empty).row
    assert(none == oracle(plantedBls, empty, none.run_utc))
    assert(Seq(none.population_rows, none.population_distinct_years,
      none.population_full_row_duplicates, none.population_non_positive_values).forall(_ == 0L))
  }

  test("DQ summary runs exactly 2 SQL executions") {
    val executions = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    val (b, p) = (bls, population) // the JSON read infers its schema with a job of its own
    ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      DataQuality.summary(spark, b, p)
      ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(executions.get == 2,
      s"DataQuality.summary ran ${executions.get} SQL executions; the fused shape is " +
        "one quantile pass plus one aggregate action")
  }
}
