package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main builds its session
  * here, and the session comes back with the engine's extensions
  * (`graft.plans.GraftExtensions`: SQL functions, optimizer rules,
  * planner strategy) installed, so every entry point plans queries the
  * way the oracle gate does.
  *
  * Tuned for this environment: single-JVM `local[N]` standing in for a
  * multi-executor cluster. Shuffle partitions are sized to cores (not
  * the 200 default) so small-SF runs don't pay scheduling overhead;
  * AQE stays on so the same code re-plans (coalesce post-shuffle
  * partitions, skew-join split) at real scale.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` parsed: unset → 32; anything but a positive
    * integer fails here with the variable's name, not later as Spark's
    * opaque master-URL error.
    */
  private[graft] def parseCores(raw: Option[String]): Int = raw match {
    case None => 32
    case Some(s) =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** @param cores `local[cores]` and the shuffle partition count;
    *   defaults to `SPARK_GRAFT_CPUS` (32 when unset).
    * @param hive enable the Hive (derby) metastore so `saveAsTable`
    *   publishes survive JVM restarts — required for the pipeline's
    *   idempotent latest-snapshot overwrite semantics; query-only
    *   sessions skip it (faster startup, no metastore lock).
    */
  def local(
      cores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS")),
      appName: String = "graft",
      hive: Boolean = false): SparkSession = {
    val b = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = (if (hive) b.enableHiveSupport() else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.install(spark)
    spark
  }
}
