package graft.tools

import graft.queries.Registry

/** Same-shape A/B timer for a subset of registry queries: each rep is
  * one `graft.Bench.timeRep` (clear the per-rep memos, build the df
  * fresh, time the noop sink — guide §1.4) without the 72-headliner
  * sweep. Subset readings run JIT-cold and read 1.3-1.7× above
  * full-registry numbers (the r14 lesson) — compare ONLY probe-vs-probe
  * under the same conditions, never probe-vs-anchor.
  *
  * Usage: runMain graft.tools.TimeQueries <q1,q2,...> [sfDir] [reps]
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 5
    val spark = graft.core.GraftSession.local(appName = "time-queries")
    names.foreach { name =>
      val q = Registry.byName(name)
      val times = (1 to reps).flatMap(_ => graft.Bench.timeRep(spark, q, sfDir))
      // -1.0 when every rep failed, as in Bench (each cause is on stderr)
      val med = if (times.isEmpty) -1.0 else times.sorted.apply(times.length / 2)
      println(f"""{"query":"$name","median":$med%.3f,"reps":[${
        times.map(t => f"$t%.3f").mkString(",")}]}""")
    }
    spark.stop()
  }
}
