package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The expected answers on an input small enough to check by hand. */
class ExpectedSpec extends AnyFunSuite {

  private val src = Source(
    files = Map.empty,
    bls = Vector(
      Obs("PRS30006032", 2014, "Q01", 15), // 1.5
      Obs("PRS30006032", 2014, "Q02", 5), // 0.5 -> 2014 sums to 2.0
      Obs("PRS30006032", 2015, "Q01", -10), // -1.0
      Obs("PRS30006032", 2015, "Q05", 40), // 4.0 -> 2015 sums to 3.0 (best)
      Obs("PRS30006011", 2014, "Q01", 20),
      Obs("PRS30006011", 2014, "Q01", 20), // full-row duplicate -> 2014 sums to 4.0
      Obs("PRS30006011", 2013, "Q03", 40)), // 2013 sums to 4.0: tie -> earliest
    population = Vector(2013 -> 100L, 2014 -> 200L, 2015 -> 300L, 2019 -> 1000L))

  test("Req A: mean and sample stddev over 2013-2018") {
    val (mean, sd) = Expected.answers(src).reqA
    assert(mean == 200.0)
    assert(math.abs(sd - 100.0) < 1e-9)
  }

  test("Req B: largest yearly sum, earliest year on ties") {
    assert(Expected.answers(src).reqB == Map(
      "PRS30006032" -> (2015, 3.0),
      "PRS30006011" -> (2013, 4.0)))
  }

  test("Req C: the report series' Q01 rows left-joined to population") {
    assert(Expected.answers(src).reqC == Seq(
      (2014, "PRS30006032", "Q01", 1.5, Some(200.0)),
      (2015, "PRS30006032", "Q01", -1.0, Some(300.0))))
  }

  test("DQ row counts") {
    val dq = Expected.answers(src).dq
    assert(dq.blsRows == 7)
    assert(dq.blsDistinctSeries == 2)
    assert(dq.blsDistinctYears == 3)
    assert(dq.blsFullRowDuplicates == 1)
    assert(dq.blsNegativeValues == 1)
    assert(dq.populationRows == 4)
    assert(dq.populationDistinctYears == 4)
    assert(dq.populationNonPositiveValues == 0)
  }

  test("IQR outliers: every quantile the sketch may return") {
    // 1..8 and one far outlier: exact q1 = 3, q3 = 7 -> bounds [-3, 13]
    val values = (1 to 8).map(_.toDouble) :+ 100.0
    assert(Expected.iqrOutlierCounts(values, relErr = 0.0).contains(1L))
    // with rank error the far outlier is still the only one
    assert(Expected.iqrOutlierCounts(values, relErr = 0.01) == Set(1L))
  }

  test("merge replaces matching keys and inserts new ones") {
    val merged = Expected.merged(Map("a" -> (2000, 1.0), "b" -> (2001, 2.0)),
      Seq(("b", 2005, 9.0), ("c", 2006, 3.0)))
    assert(merged == Map("a" -> (2000, 1.0), "b" -> (2005, 9.0), "c" -> (2006, 3.0)))
  }

  test("sync counters from the served directories") {
    val b = "x".getBytes
    val before = Map("pr.a" -> b, "pr.b" -> b, "pr.c" -> b, "population.json" -> b)
    val after = Map("pr.a" -> b, "pr.b" -> "y".getBytes, "pr.d" -> b, "population.json" -> b)
    assert(Expected.syncCounts(before, after) == (1, 1, 1, 1))
    assert(Expected.syncCounts(Map.empty, after) == (3, 0, 0, 0))
  }
}
