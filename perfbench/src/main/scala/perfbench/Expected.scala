package perfbench

/** One `dq_summary_runlog` row without its timestamp; the IQR outlier
  * count comes from Spark's approximate quantiles, so the answer is
  * the set of counts any quantile within the sketch's rank error gives.
  */
final case class DqRow(
    blsRows: Long,
    blsDistinctSeries: Long,
    blsDistinctYears: Long,
    blsFullRowDuplicates: Long,
    populationRows: Long,
    populationDistinctYears: Long,
    populationFullRowDuplicates: Long,
    blsNegativeValues: Long,
    populationNonPositiveValues: Long,
    blsOutlierRowsIqr: Set[Long])

final case class Answers(
    reqA: (Double, Double),
    reqB: Map[String, (Int, Double)],
    reqC: Seq[(Int, String, String, Double, Option[Double])],
    dq: DqRow)

/** The published tables' expected contents, computed from the
  * generator's model with plain Scala collections — no Spark, no parser
  * from the engine.
  */
object Expected {

  def answers(src: Source): Answers = {
    val pop = src.population.toMap
    val popWindow = src.population.filter { case (y, _) => y >= 2013 && y <= 2018 }.map(_._2.toDouble)
    val mean = popWindow.sum / popWindow.size
    val sd = math.sqrt(popWindow.map(p => (p - mean) * (p - mean)).sum / (popWindow.size - 1))

    val reqB = src.bls.groupBy(_.series).map { case (s, rows) =>
      val (year, tenths) = rows.groupMapReduce(_.year)(_.tenths)(_ + _)
        .toSeq.sortBy { case (y, t) => (-t, y) }.head
      s -> (year, tenths / 10.0)
    }

    val reqC = src.bls
      .filter(o => o.series == Generator.ReportSeries && o.period == "Q01")
      .map(o => (o.year, o.series, o.period, o.value, pop.get(o.year).map(_.toDouble)))
      .sortBy(r => (r._1, r._4))

    Answers((mean, sd), reqB, reqC, dqRow(src))
  }

  def dqRow(src: Source): DqRow = {
    val bls = src.bls
    val values = bls.map(_.value)
    DqRow(
      blsRows = bls.size,
      blsDistinctSeries = bls.map(_.series).distinct.size,
      blsDistinctYears = bls.map(_.year).distinct.size,
      blsFullRowDuplicates = bls.size - bls.distinct.size,
      populationRows = src.population.size,
      populationDistinctYears = src.population.map(_._1).distinct.size,
      populationFullRowDuplicates = src.population.size - src.population.distinct.size,
      blsNegativeValues = values.count(_ < 0),
      populationNonPositiveValues = src.population.count(_._2 <= 0),
      blsOutlierRowsIqr = iqrOutlierCounts(values, relErr = 0.01))
  }

  /** Outlier counts for every (q1, q3) pair a quantile sketch with rank
    * error `relErr` may return.
    */
  def iqrOutlierCounts(values: Seq[Double], relErr: Double): Set[Long] = {
    val s = values.sorted.toArray
    val n = s.length
    def candidates(p: Double): Set[Double] = {
      val lo = math.max(0, math.floor((p - relErr) * n).toInt - 1)
      val hi = math.min(n - 1, math.ceil((p + relErr) * n).toInt)
      (lo to hi).map(s(_)).toSet
    }
    for (q1 <- candidates(0.25); q3 <- candidates(0.75)) yield {
      val iqr = q3 - q1
      val (lo, hi) = (q1 - 1.5 * iqr, q3 + 1.5 * iqr)
      s.count(v => v < lo || v > hi).toLong
    }
  }

  /** Req B after `TableSink.merge`: CDC rows replace or add by key. */
  def merged(reqB: Map[String, (Int, Double)], cdc: Seq[(String, Int, Double)]): Map[String, (Int, Double)] =
    reqB ++ cdc.map { case (s, y, v) => s -> (y, v) }

  /** BLS mirror-sync counters (uploaded, updated, skipped, deleted) for
    * a local mirror of `before` syncing to upstream `after`.
    */
  def syncCounts(before: Map[String, Array[Byte]], after: Map[String, Array[Byte]]): (Int, Int, Int, Int) = {
    val (b, a) = (before.filter(_._1.startsWith("pr.")), after.filter(_._1.startsWith("pr.")))
    val same = a.count { case (k, v) => b.get(k).exists(_.sameElements(v)) }
    val common = a.keys.count(b.contains)
    (a.size - common, common - same, same, b.keys.count(k => !a.contains(k)))
  }
}
