package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.queries.Registry

class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  private def windowTopK(k: Int) = {
    val yearly = Tables.lineitem(spark, sfDir)
      .groupBy($"l_suppkey", year($"l_shipdate").as("ship_year"))
      .agg(round(sum($"l_extendedprice"), 2).as("revenue"))
    val w = Window.partitionBy($"l_suppkey").orderBy($"revenue".desc, $"ship_year".asc)
    yearly.withColumn("rn", row_number().over(w)).filter($"rn" <= k)
  }

  test("RankLimitRule rewrites filter-over-row_number into TopKPerGroupExec") {
    val df = windowTopK(3)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerGroup"),
      s"expected TopKPerGroup, got:\n$physical")
    // WindowGroupLimit (map-side pre-truncation) must be kept as a
    // pre-filter; the full Window exec itself must be gone
    assert(physical.contains("WindowGroupLimit"),
      s"pre-truncation lost:\n$physical")
    assert(!physical.contains("Window ["), "the Window exec should be gone")
  }

  test("TopKPerGroup results == window row_number results (k=3, with rank values)") {
    val viaOperator = windowTopK(3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet
    // reference computed without the rule
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before.filterNot(_ == RankLimitRule)
    val viaWindow =
      try windowTopK(3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet
      finally spark.experimental.extraOptimizations = before
    assert(viaOperator == viaWindow)
    assert(viaOperator.nonEmpty)
    // exactly k rows per group with contiguous ranks
    viaOperator.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).toSeq.sorted == (1 to rows.size))
      assert(rows.size <= 3)
    }
  }

  test("rn === 1 (the Req-B best-year shape) also rewrites and matches the oracle query") {
    val q05 = Registry.byName("q05_window_top1")
    val viaOperator = q05.run(spark, sfDir)
    assert(viaOperator.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    val got = viaOperator.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before.filterNot(_ == RankLimitRule)
    val expected =
      try q05.run(spark, sfDir).collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      finally spark.experimental.extraOptimizations = before
    assert(got == expected)
  }

  test("property: operator == window on random data, random k, heavy ties") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { trial =>
      val k = 1 + rnd.nextInt(4)
      // few groups, few distinct values -> lots of ties; unique id as
      // the final tiebreak keeps both paths deterministic
      val rows = (1 to 300).map { id =>
        (rnd.nextInt(7).toLong, rnd.nextInt(5).toDouble, id.toLong)
      }
      val df = rows.toDF("g", "v", "id")
      val w = Window.partitionBy($"g").orderBy($"v".desc, $"id".asc)
      val q = df.withColumn("rn", row_number().over(w)).filter($"rn" <= k)
      assert(q.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
        s"trial $trial: rule did not fire")
      val got = q.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getInt(3))).toSet
      // reference: compute expected top-k per group in plain Scala
      val expected = rows.groupBy(_._1).flatMap { case (g, rs) =>
        rs.sortBy(t => (-t._2, t._3)).take(k).zipWithIndex
          .map { case ((_, v, id), i) => (g, v, id, i + 1) }
      }.toSet
      assert(got == expected, s"trial $trial k=$k")
    }
  }

  test("filters NOT on the rank attribute are left untouched") {
    val yearly = Tables.lineitem(spark, sfDir)
      .groupBy($"l_suppkey", year($"l_shipdate").as("ship_year"))
      .agg(round(sum($"l_extendedprice"), 2).as("revenue"))
    val w = Window.partitionBy($"l_suppkey").orderBy($"revenue".desc)
    val df = yearly.withColumn("rn", row_number().over(w)).filter($"revenue" > 0)
    assert(!df.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    assert(df.count() > 0)
  }
}
