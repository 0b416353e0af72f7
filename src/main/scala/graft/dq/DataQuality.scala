package graft.dq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's EDA/data-quality suite (21_EDA.ipynb) as reusable
  * checks. Every check is a distributed plan — the only driver-side
  * values are the final scalar metrics, mirroring the reference's
  * collected counters. The per-check helpers run one or more jobs
  * each; the run-log row (`summary` / `measure`) fuses all of its
  * metrics into two SQL executions, with the helpers as its oracle.
  */
object DataQuality {

  /** Full-row duplicate count (21_EDA.ipynb:657-658):
    * total − dropDuplicates.
    */
  def fullRowDuplicates(df: DataFrame): Long =
    df.count() - df.dropDuplicates().count()

  /** Business-key duplicate groups (21_EDA.ipynb:666-668) — rows whose
    * key occurs more than once; "should be 0".
    */
  def businessKeyDuplicates(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .count()
      .where(col("count") > 1)

  /** Per-column null counts in one pass (21_EDA.ipynb:1073-1081). */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(c => sum(col(c).isNull.cast("int")).as(c)): _*)

  /** Per-column null percentage (the `/ total * 100` variant). */
  def nullProfilePct(df: DataFrame, cols: Seq[String]): DataFrame = {
    val total = df.count().toDouble
    df.select(cols.map(c =>
      round(sum(col(c).isNull.cast("int")) / lit(total) * 100, 4).as(c)): _*)
  }

  /** Domain check: distinct values of a column, sorted
    * (21_EDA.ipynb:1369).
    */
  def distinctValues(df: DataFrame, c: String): DataFrame =
    df.select(c).distinct().orderBy(col(c))

  /** Year-range domain check (21_EDA.ipynb:1372-1373). */
  def minMax(df: DataFrame, c: String): (Any, Any) = {
    val row = df.agg(min(col(c)), max(col(c))).head()
    (row.get(0), row.get(1))
  }

  /** Negative-value census (21_EDA.ipynb:1376). */
  def countWhere(df: DataFrame, predicate: org.apache.spark.sql.Column): Long =
    df.where(predicate).count()

  /** Quarter-completeness per (series_id, year): countDistinct(period)
    * over ALL periods — Q05 included, so a fully-populated year counts
    * 5 and `is_complete_year` (== 4) is false for it; that is the
    * reference's actual behavior (21_EDA.ipynb:1877-1888, histogram
    * {1: 1260, 3: 237, 5: 7110}) and is preserved verbatim.
    */
  def quarterCompleteness(bls: DataFrame): DataFrame =
    bls
      .groupBy(col("series_id"), col("year"))
      .agg(countDistinct(col("period")).as("quarters_present"))
      .withColumn("is_complete_year", col("quarters_present") === 4)

  def quarterHistogram(bls: DataFrame): DataFrame =
    quarterCompleteness(bls)
      .groupBy(col("quarters_present"))
      .count()
      .orderBy(col("quarters_present"))

  /** Incomplete series-years (21_EDA.ipynb:1888-1891: filter ~is_complete,
    * orderBy desc(quarters_present), limit 50).
    */
  def incompleteYears(bls: DataFrame, limit: Int = 50): DataFrame =
    quarterCompleteness(bls)
      .where(!col("is_complete_year"))
      .orderBy(col("quarters_present").desc)
      .limit(limit)

  /** describe() summary of one column (21_EDA.ipynb:2121). */
  def describeColumn(df: DataFrame, c: String): DataFrame = df.describe(c)

  /** IQR outlier bounds via approxQuantile at 1% relative error
    * (Greenwald–Khanna — 21_EDA.ipynb:2309-2312). Two-pass semantics:
    * quantiles are collected to the driver as scalars, then injected
    * as literals into the outlier filter — this is semantics, not an
    * optimization shortcut (SURVEY.md §4).
    */
  def iqrBounds(df: DataFrame, c: String, relErr: Double = 0.01): (Double, Double) = {
    val Array(q1, q3) = df.stat.approxQuantile(c, Array(0.25, 0.75), relErr)
    val iqr = q3 - q1
    (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
  }

  /** Outlier rows outside the IQR bounds, largest |value| first
    * (21_EDA.ipynb:2314-2318).
    */
  def iqrOutliers(df: DataFrame, c: String, limit: Int = 50): DataFrame = {
    val (lo, hi) = iqrBounds(df, c)
    df.where(col(c) < lo || col(c) > hi)
      .orderBy(abs(col(c)).desc)
      .limit(limit)
  }

  /** The one-row DQ summary the reference appends to
    * `dq_summary_runlog` per run (21_EDA.ipynb:33297-33367).
    */
  def summary(spark: SparkSession, bls: DataFrame, population: DataFrame): DataFrame = {
    import spark.implicits._
    Seq(measure(bls, population).row).toDF()
  }

  /** Every DQ metric of one run in two SQL executions:
    *  1. the `approxQuantile` pass behind the IQR bounds (`iqrBounds`'s
    *     two-pass semantics: the bounds enter the second pass as
    *     literals);
    *  2. one aggregate per input over its full-row groups, both read
    *     by a single action. A group's multiplicity sums to the row
    *     count, the group count is the distinct-row count, and every
    *     predicate counts its groups' multiplicities — so each metric
    *     equals its per-metric helper (`fullRowDuplicates`,
    *     `countWhere`, `select(c).distinct().count()`), which the spec
    *     checks as the oracle.
    * Nothing is cached here: the caller decides whether the inputs are
    * parsed once (Task C caches them for its whole run).
    */
  def measure(bls: DataFrame, population: DataFrame): DqPass = {
    val (lo, hi) = iqrBounds(bls, "value")
    val value = col("value")
    val blsAgg = fullRowGroups(bls).agg(
      rows(lit(true)), count(lit(1)), distinctWithNull("series_id"), distinctWithNull("year"),
      rows(value < 0), rows(value < lo || value > hi),
      rows(Seq("series_id", "year", "period", "value").map(col(_).isNull).reduce(_ || _)))
    val popAgg = fullRowGroups(population).agg(
      rows(lit(true)), count(lit(1)), distinctWithNull("Year"), rows(col("Population") <= 0))
    val r = blsAgg.crossJoin(popAgg).head()
    val Seq(blsRows, blsDistinct, blsSeries, blsYears, blsNegative, blsOutliers, blsNullCritical,
      popRows, popDistinct, popYears, popNonPositive) = (0 until r.length).map(r.getLong)
    DqPass(
      DqSummary(
        bls_rows = blsRows,
        bls_distinct_series_id = blsSeries,
        bls_distinct_years = blsYears,
        bls_full_row_duplicates = blsRows - blsDistinct,
        population_rows = popRows,
        population_distinct_years = popYears,
        population_full_row_duplicates = popRows - popDistinct,
        bls_negative_values = blsNegative,
        population_non_positive_values = popNonPositive,
        bls_outlier_rows_iqr = blsOutliers,
        run_utc = java.time.Instant.now().toString),
      blsNullCritical)
  }

  private val Multiplicity = "__dq_rows"

  /** Distinct full rows of `df`, each with how often it occurs. */
  private def fullRowGroups(df: DataFrame): DataFrame =
    df.groupBy(df.columns.map(df.col).toIndexedSeq: _*).agg(count(lit(1)).as(Multiplicity))

  /** Rows of the original frame satisfying `predicate` (0, not null, on
    * empty input; a null predicate counts as false, as in `where`).
    */
  private def rows(predicate: Column): Column =
    coalesce(sum(when(predicate, col(Multiplicity))), lit(0L))

  /** Distinct values of `c`, a null counted as one value, as
    * `select(c).distinct().count()` does.
    */
  private def distinctWithNull(c: String): Column =
    count_distinct(col(c)) + coalesce(max(col(c).isNull.cast("long")), lit(0L))
}

/** One run's DQ pass: the run-log row, plus the count Task C's
  * validation needs beside it — BLS rows with a null critical field
  * (series_id, year, period or value), which is not a run-log column.
  */
final case class DqPass(row: DqSummary, blsNullCritical: Long)

/** Schema of the append-only DQ run log (one wide row per run). */
final case class DqSummary(
    bls_rows: Long,
    bls_distinct_series_id: Long,
    bls_distinct_years: Long,
    bls_full_row_duplicates: Long,
    population_rows: Long,
    population_distinct_years: Long,
    population_full_row_duplicates: Long,
    bls_negative_values: Long,
    population_non_positive_values: Long,
    bls_outlier_rows_iqr: Long,
    run_utc: String)
