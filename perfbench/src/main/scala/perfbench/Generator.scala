package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** One BLS observation as the generator meant it; `tenths` is the value
  * in tenths so sums are exact.
  */
final case class Obs(series: String, year: Int, period: String, tenths: Long) {
  def value: Double = tenths / 10.0
}

/** A generated source directory: the served files plus the model the
  * expected answers are computed from.
  */
final case class Source(
    files: Map[String, Array[Byte]],
    bls: Vector[Obs],
    population: Vector[(Int, Long)]) {
  def bytes: Long = files.valuesIterator.map(_.length.toLong).sum

  def writeTo(dir: Path): Unit = {
    Files.createDirectories(dir)
    files.toSeq.sortBy(_._1).foreach { case (n, b) => Files.write(dir.resolve(n), b) }
  }
}

/** The reference workload's inputs: the cold source, the source after
  * the incremental mutation, and the unique-key CDC batch merged into
  * `bls_best_year_by_series` afterwards.
  */
final case class Inputs(base: Source, mutated: Source, cdc: Vector[(String, Int, Double)])

/** Seeded generator of BLS `pr.*` files and a DataUSA-shaped population
  * document. Same seed, same bytes: every draw comes from one
  * `java.util.Random` in a fixed order, and nothing reads the clock.
  */
object Generator {

  val Periods: Vector[String] = Vector("Q01", "Q02", "Q03", "Q04", "Q05")
  val Years: Range = 1995 to 2024
  val ReportSeries = "PRS30006032"
  val CdcInserts = 5

  private def value(t: Long): String = java.math.BigDecimal.valueOf(t, 1).toPlainString

  def generate(seed: Long, lines: Int): Inputs = {
    val rnd = new java.util.Random(seed)
    val nSeries = math.max(2, lines / (Years.size * Periods.size))
    val series = (Vector(ReportSeries, "PRS30006011") ++
      Iterator.continually(f"PRS${30000000 + rnd.nextInt(60000000)}%08d")
        .distinct.filterNot(Set(ReportSeries, "PRS30006011")).take(nSeries - 2)).sorted
    // values in tenths, mostly -2.0..12.5; a few large outliers
    def draw(): Long = if (rnd.nextInt(1000) < 3) 5000L + rnd.nextInt(5000) else -20L + rnd.nextInt(146)
    val obs = for (s <- series; y <- Years; p <- Periods) yield Obs(s, y, p, draw())
    // a few exact duplicate rows (full-row duplicates for the DQ check)
    val dups = obs.indices.filter(_ => rnd.nextInt(1000) == 0).map(obs)
    val base = untie(obs ++ dups)

    val population = Vector.tabulate(11)(i => 2013 + i).filterNot(_ == 2020)
      .map(y => y -> (316000000L + (y - 2013) * 2500000L + rnd.nextInt(1000000)))
    val blankEvery = 400
    val malformed = Vector(
      s"$ReportSeries\t19x5\tQ01\t1.0\t",
      s"PRS30006011\t2001\tQ02",
      s"PRS30006011\t2001\tQ03\t-\t")
    val baseSrc = render(base, population, rnd, blankEvery, malformed,
      Seq("pr.class", "pr.footnote", "pr.measure", "pr.period", "pr.series"), series)

    // incremental mutation: ~1% of lines change value, population moves a
    // little, pr.class is deleted upstream and pr.contacts appears
    val mutatedObs = untie(base.map(o => if (rnd.nextInt(100) == 0) o.copy(tenths = draw()) else o))
    val mutatedPop = population.map { case (y, p) => y -> (p + rnd.nextInt(50000)) }
    val mutSrc = render(mutatedObs, mutatedPop, rnd, blankEvery, malformed,
      Seq("pr.contacts", "pr.footnote", "pr.measure", "pr.period", "pr.series"), series)

    // CDC batch: ~1% of existing series updated, a few new series
    val updated = series.filter(_ => rnd.nextInt(100) == 0)
    val inserted = Iterator.continually(f"PRX${rnd.nextInt(100000000)}%08d").distinct.take(CdcInserts)
    val cdc = (updated ++ inserted).map(s => (s, Years(rnd.nextInt(Years.size)), (rnd.nextInt(9000) - 1000) / 10.0))
    Inputs(baseSrc, mutSrc, cdc)
  }

  /** Give every series a unique best year, so the expected Req B answer
    * does not depend on floating-point summation order: bump the
    * earliest tied year by one tenth.
    */
  private def untie(obs: Vector[Obs]): Vector[Obs] = {
    val bump = mutable.Set.empty[(String, Int)]
    obs.groupBy(_.series).foreach { case (s, rows) =>
      val sums = rows.groupMapReduce(_.year)(_.tenths)(_ + _)
      val top = sums.values.max
      val tied = sums.filter(_._2 == top).keys.toSeq.sorted
      if (tied.size > 1) bump += (s -> tied.head)
    }
    val seen = mutable.Set.empty[(String, Int)]
    obs.map { o =>
      val k = (o.series, o.year)
      if (bump(k) && seen.add(k)) o.copy(tenths = o.tenths + 1) else o
    }
  }

  private def render(
      obs: Vector[Obs],
      population: Vector[(Int, Long)],
      rnd: java.util.Random,
      blankEvery: Int,
      malformed: Vector[String],
      extraFiles: Seq[String],
      series: Vector[String]): Source = {
    val sb = new StringBuilder
    sb ++= "series_id        \tyear\tperiod\t       value\tfootnote_codes\n"
    obs.zipWithIndex.foreach { case (o, i) =>
      if (i % blankEvery == blankEvery - 1) sb ++= "\n"
      if (i % (blankEvery * 3) == 7) sb ++= malformed(rnd.nextInt(malformed.size)) += '\n'
      val foot = if (rnd.nextInt(50) == 0) "R" else ""
      sb ++= f"${o.series}%-17s\t${o.year}\t${o.period}\t${value(o.tenths)}%12s\t$foot\n"
    }
    val small = extraFiles.map { n =>
      val body = n match {
        case "pr.series" => series.map(s => s"$s\tseries $s\n").mkString("series_id\tseries_title\n", "", "")
        case "pr.period" => Periods.map(p => s"$p\tquarter $p\n").mkString("period\tperiod_name\n", "", "")
        case other => s"${other.stripPrefix("pr.")}_code\t${other.stripPrefix("pr.")}_text\n"
      }
      n -> body.getBytes(UTF_8)
    }
    val records = population.map { case (y, p) =>
      s"""{"ID Nation":"01000US","Nation":"United States","ID Year":$y,"Year":"$y",""" +
        s""""Population":$p,"Slug Nation":"united-states"}"""
    } :+ """{"ID Nation":"01000US","Nation":"United States","ID Year":0,"Year":"n/a","Population":1,"Slug Nation":"united-states"}"""
    val popJson = records.mkString("{\"data\":[\n", ",\n",
      "\n],\"source\":[{\"annotations\":{\"source_name\":\"Census Bureau\"}}]}\n")
    Source(
      (small :+ ("pr.data.0.Current" -> sb.result().getBytes(UTF_8)) :+
        ("population.json" -> popJson.getBytes(UTF_8))).toMap,
      obs,
      population)
  }
}
