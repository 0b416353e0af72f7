package graft.tools

import org.apache.spark.sql.functions._

/** Measures the sliced as-of join's reason to exist: wall time of the
  * single-window vs two-phase forms on a DELIBERATELY hot-keyed
  * corpus (a fraction of all events collapsed onto one bot user —
  * the key whose whole history the single-window form serializes
  * through one task's sort). Prints one JSON line per form plus the
  * row-identity check between them; SCALE.md records the readings.
  *
  * Usage: runMain graft.tools.SkewProbe <sfDir> [hotFraction] [copies]
  * `copies` explodes the corpus in-memory (day-shifted, id-offset —
  * ScaleData's events recipe) so the hot key's timeline reaches the
  * size where the one-task sort actually binds.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val hotFraction = if (args.length > 1) args(1).toDouble else 0.5
    val copies = if (args.length > 2) args(2).toInt else 1
    val spark = graft.core.GraftSession.local(appName = "skew-probe")
    import spark.implicits._

    // collapse a deterministic hotFraction of users onto user 0: the
    // md5-style spread keeps which EVENTS go hot stable across runs
    val base0 = graft.core.Tables.events(spark, sfDir)
    val spanDays = base0.select(
      (unix_micros(max($"ts")) - unix_micros(min($"ts"))) / lit(86400000000L))
      .head().getDouble(0).toLong + 1
    val evSpan = base0.select(max($"event_id")).head().getLong(0) + 1
    val base =
      if (copies == 1) base0
      else base0
        .withColumn("__k", explode(sequence(lit(0L), lit(copies - 1L))))
        .withColumn("ts", expr(s"timestampadd(DAY, __k * $spanDays, ts)"))
        .withColumn("event_id", $"event_id" + $"__k" * lit(evSpan))
        .drop("__k")
        .repartition(spark.sparkContext.defaultParallelism)
    val ev = base
      .withColumn("user_id",
        when(pmod(xxhash64($"event_id"), lit(1000)) < lit((hotFraction * 1000).toLong),
          lit(0L)).otherwise($"user_id"))
      .localCheckpoint(true) // exclude scan + skew synthesis from both timings
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id".as("click_id"),
        $"value".as("click_value"))

    def time(tag: String)(df: => org.apache.spark.sql.DataFrame): (Long, Long) = {
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // aggregate THROUGH the carried struct: a bare count() lets
        // column pruning delete the window (and join-eliminate the
        // stitch), timing a plan that never ran the as-of at all
        val row = df.agg(count(lit(1)), count($"asof.click_id")).head()
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, row.getLong(0), row.getLong(1))
      }
      val med = reps.map(_._1).sorted.apply(1)
      println(f"""{"probe":"$tag","median_sec":$med%.3f,"rows":${reps.head._2},"matched":${reps.head._3}}""")
      (reps.head._2, reps.head._3)
    }

    val hotRows = ev.filter($"user_id" === 0L).count()
    println(s"""{"hot_user_rows":$hotRows,"total":${ev.count()}}""")
    val n1 = time("single_window") {
      graft.operators.AsofJoin
        .asofJoin(purchases, clicks, Seq("user_id"), "ts", "click_id")
    }
    val n2 = time("sliced_1day") {
      graft.operators.AsofJoin
        .asofJoinSliced(purchases, clicks, Seq("user_id"), "ts", "click_id",
          sliceWidth = 86400000000L)
    }
    // the derived default (span / defaultParallelism, from the min/max
    // census) — must land within noise of the best hand-picked width
    val n3 = time("sliced_derived") {
      graft.operators.AsofJoin
        .asofJoinSliced(purchases, clicks, Seq("user_id"), "ts", "click_id")
    }
    require(n1 == n2 && n2 == n3,
      s"forms disagree on (rows, matched): $n1 vs $n2 vs $n3")
    spark.stop()
  }
}
