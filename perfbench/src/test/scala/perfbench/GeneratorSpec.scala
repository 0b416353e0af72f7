package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def bytes(in: Inputs) =
    Seq(in.base, in.mutated).flatMap(_.files.toSeq.sortBy(_._1).map { case (n, b) => n -> b.toSeq })

  test("the same seed gives byte-identical files and the same CDC batch") {
    val a = Generator.generate(7, 6000)
    val b = Generator.generate(7, 6000)
    assert(bytes(a) == bytes(b))
    assert(a.cdc == b.cdc)
  }

  test("another seed gives other files") {
    assert(bytes(Generator.generate(7, 6000)) != bytes(Generator.generate(8, 6000)))
  }

  test("the BLS file has a header, blank lines, footnotes and malformed lines") {
    val text = new String(Generator.generate(3, 6000).base.files("pr.data.0.Current"), UTF_8)
    val lines = text.split("\n", -1).toSeq
    assert(lines.head.startsWith("series_id"))
    assert(lines.count(_.trim.isEmpty) > 1)
    assert(lines.exists(_.trim.endsWith("\tR")))
    assert(lines.exists(_.contains("19x5")))
    assert(lines.exists(l => l.nonEmpty && l.split("\\s+").length == 3))
  }

  test("the incremental mutation changes ~1% of values, adds one file and deletes one") {
    val in = Generator.generate(5, 30000)
    val changed = in.base.bls.zip(in.mutated.bls).count { case (x, y) => x != y }
    val share = changed.toDouble / in.base.bls.size
    assert(share > 0.005 && share < 0.02, s"share $share")
    assert(Expected.syncCounts(in.base.files, in.mutated.files) == (1, 1, 4, 1))
  }

  test("the CDC batch has unique keys, updating and inserting") {
    val in = Generator.generate(5, 30000)
    val keys = in.cdc.map(_._1)
    assert(keys.distinct.size == keys.size)
    val existing = in.base.bls.map(_.series).toSet
    assert(keys.count(existing) > 0)
    assert(keys.count(k => !existing(k)) == Generator.CdcInserts)
  }

  test("every series has a unique best year") {
    val in = Generator.generate(9, 30000)
    Seq(in.base, in.mutated).foreach { src =>
      src.bls.groupBy(_.series).values.foreach { rows =>
        val sums = rows.groupMapReduce(_.year)(_.tenths)(_ + _).values.toSeq
        assert(sums.count(_ == sums.max) == 1)
      }
    }
  }
}
