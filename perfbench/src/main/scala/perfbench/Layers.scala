package perfbench

/** The per-layer metrics of a traced pass. Every workload reports every
  * name; a layer the workload does not drive reads 0.
  */
object Layers {

  /** The queries ROADMAP direction 3 targets, reported one by one. */
  val Tracked: Seq[String] = Seq("pipe02_manifest", "pipe01_hygiene_ladder")

  val Units: Seq[(String, String)] = Seq(
    "core.session_s" -> "s", "plans.install_s" -> "s", "core.warmup_s" -> "s",
    "gen.inputs_s" -> "s",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.action_s" -> "s", "queries.action_jobs" -> "count",
    "queries.pipe02_manifest.build_jobs" -> "count", "queries.pipe02_manifest.wall_s" -> "s",
    "queries.pipe01_hygiene_ladder.build_jobs" -> "count", "queries.pipe01_hygiene_ladder.wall_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_s" -> "s", "sched.failed_tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.core_util" -> "ratio",
    "exec.gc_s" -> "s", "exec.deser_s" -> "s", "exec.input_mb" -> "MB", "exec.result_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.peak_mem_mb" -> "MB",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.fetch_wait_s" -> "s",
    "storage.rdd_blocks" -> "count", "storage.rdd_mb" -> "MB", "jvm.old_gen_mb" -> "MB",
    "log.error_lines" -> "count", "log.warn_lines" -> "count",
    "ingest.fetch_calls" -> "count", "ingest.fetch_mb" -> "MB", "ingest.fetch_s" -> "s",
    "ingest.store_writes" -> "count", "ingest.store_mb" -> "MB", "ingest.store_s" -> "s",
    "ingest.files_uploaded" -> "count", "ingest.files_updated" -> "count",
    "ingest.files_skipped" -> "count", "ingest.files_deleted" -> "count",
    "pipeline.ingest_s" -> "s", "pipeline.analytics_s" -> "s",
    "pipeline.cold_s" -> "s", "pipeline.incr_s" -> "s",
    "sources.bls_scans" -> "count",
    "analytics.req_a_s" -> "s", "analytics.req_b_s" -> "s", "analytics.req_c_s" -> "s",
    "dq.summary_s" -> "s", "pipeline.validate_s" -> "s",
    "sink.overwrite_s" -> "s", "sink.append_s" -> "s", "sink.merge_s" -> "s", "sink.written_mb" -> "MB",
    "sink.stored_bytes_per_input_byte" -> "ratio",
    "ops.failed_frac" -> "ratio",
    "trace.overhead" -> "ratio")

  private def mb(b: Long): Double = b / 1e6

  /** Metrics of the traced pass [passStart, passEnd) (epoch ns).
    * `extra` carries what only the workload knows (pipeline segments);
    * `untracedWall` is the mean wall of the untraced passes around it.
    */
  def compute(
      run: Run,
      probe: Probe,
      passStart: Long,
      passEnd: Long,
      untracedWall: Double,
      extra: Map[String, Double]): Map[String, Double] = {
    probe.drain()
    val spans = run.spans.all
    val inPass = spans.filter(s => s.start >= passStart && s.start < passEnd)
    def sumSpans(name: String, in: Seq[Span] = inPass) = in.filter(_.name == name).map(_.duration).sum / 1e9
    // the pass wall net of the benchmark's own checks
    val wall = (passEnd - passStart) / 1e9 - sumSpans(Probe.CheckPhase)
    val g = probe.get _
    val taskRun = g("exec.task_run_ms") / 1000.0
    val base = Map(
      "core.session_s" -> sumSpans("GraftSession.local", spans),
      "plans.install_s" -> sumSpans("GraftExtensions.install", spans),
      "core.warmup_s" -> sumSpans("warmup", spans),
      "queries.build_s" -> sumSpans("build"),
      "queries.build_jobs" -> g("jobs.phase.build").toDouble,
      "queries.action_s" -> sumSpans("action"),
      "queries.action_jobs" -> g("jobs.phase.action").toDouble,
      "catalyst.analysis_s" -> g("catalyst.analysis_ms") / 1000.0,
      "catalyst.optimization_s" -> g("catalyst.optimization_ms") / 1000.0,
      "catalyst.planning_s" -> g("catalyst.planning_ms") / 1000.0,
      "sched.jobs" -> g("sched.jobs").toDouble,
      "sched.stages" -> g("sched.stages").toDouble,
      "sched.tasks" -> g("sched.tasks").toDouble,
      "sched.driver_gap_s" -> (wall - probe.jobBusyNs(passStart, passEnd) / 1e9),
      "sched.failed_tasks" -> g("sched.failed_tasks").toDouble,
      "exec.task_run_s" -> taskRun,
      "exec.task_cpu_s" -> g("exec.task_cpu_ns") / 1e9,
      "exec.core_util" -> taskRun / (wall * run.cores),
      "exec.gc_s" -> g("exec.gc_ms") / 1000.0,
      "exec.deser_s" -> g("exec.deser_ms") / 1000.0,
      "exec.input_mb" -> mb(g("exec.input_b")),
      "exec.result_mb" -> mb(g("exec.result_b")),
      "exec.spill_mb" -> mb(g("exec.spill_b")),
      "exec.peak_mem_mb" -> mb(probe.peakExecMemory),
      "shuffle.write_mb" -> mb(g("shuffle.write_b")),
      "shuffle.read_mb" -> mb(g("shuffle.read_b")),
      "shuffle.fetch_wait_s" -> g("shuffle.fetch_wait_ms") / 1000.0,
      "storage.rdd_blocks" -> g("storage.rdd_blocks").toDouble,
      "storage.rdd_mb" -> mb(g("storage.rdd_b")),
      "jvm.old_gen_mb" -> mb(Probe.oldGenBytes()),
      "log.error_lines" -> g("log.error_lines").toDouble,
      "log.warn_lines" -> g("log.warn_lines").toDouble,
      "ingest.fetch_calls" -> g("ingest.fetch_calls").toDouble,
      "ingest.fetch_mb" -> mb(g("ingest.fetch_b")),
      "ingest.fetch_s" -> g("ingest.fetch_ns") / 1e9,
      "ingest.store_writes" -> g("ingest.store_writes").toDouble,
      "ingest.store_mb" -> mb(g("ingest.store_b")),
      "ingest.store_s" -> g("ingest.store_ns") / 1e9,
      "ingest.files_uploaded" -> g("ingest.files_uploaded").toDouble,
      "ingest.files_updated" -> g("ingest.files_updated").toDouble,
      "ingest.files_skipped" -> g("ingest.files_skipped").toDouble,
      "ingest.files_deleted" -> g("ingest.files_deleted").toDouble,
      "pipeline.ingest_s" -> sumSpans("Pipeline.runIngest"),
      "pipeline.analytics_s" -> sumSpans("Pipeline.runAnalytics"),
      "sink.merge_s" -> sumSpans("TableSink.merge"),
      "sink.written_mb" -> mb(g("exec.output_b")),
      "ops.failed_frac" -> (if (run.attempted == 0) 0.0 else run.failures.size.toDouble / run.attempted),
      "trace.overhead" -> (wall / untracedWall - 1))
    val perQuery = Tracked.flatMap { q =>
      Seq(s"queries.$q.wall_s" -> sumSpans(q), s"queries.$q.build_jobs" -> g(s"jobs.op.$q.build").toDouble)
    }.toMap
    val all = Units.map(_._1).map(n => n -> 0.0).toMap ++ perQuery ++ base ++ extra
    Units.map(_._1).map(n => n -> all(n)).toMap
  }
}
