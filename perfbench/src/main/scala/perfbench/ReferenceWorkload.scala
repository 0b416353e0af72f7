package perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.ExecutionContext.Implicits.global
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.Row

import graft.ingest.{BlsRunMeta, FileStore, HttpFetcher, LocalFileStore}
import graft.pipeline.{LocalDirFetcher, Pipeline, PipelineConfig, PipelineReport, TableSink}

/** Times the calls the pipeline makes into `graft.ingest` and counts
  * their bytes (traced runs only).
  */
final class TimedFetcher(inner: HttpFetcher, probe: Probe, spans: Spans) extends HttpFetcher {
  override def get(url: String): Try[Array[Byte]] = {
    val t0 = System.nanoTime()
    val r = spans.timed(s"fetch ${url.substring(url.lastIndexOf('/') + 1)}", "graft.ingest")(inner.get(url))
    probe.add("ingest.fetch_ns", System.nanoTime() - t0)
    probe.add("ingest.fetch_calls", 1)
    r.foreach(b => probe.add("ingest.fetch_b", b.length))
    r
  }
}

final class TimedStore(inner: FileStore, probe: Probe, spans: Spans) extends FileStore {
  private def timed[T](call: String, path: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try spans.timed(s"store.$call ${path.substring(path.lastIndexOf('/') + 1)}", "graft.ingest")(body)
    finally probe.add("ingest.store_ns", System.nanoTime() - t0)
  }
  override def listFiles(dir: String): Seq[String] = timed("listFiles", dir)(inner.listFiles(dir))
  override def read(path: String): Array[Byte] = timed("read", path)(inner.read(path))
  override def write(path: String, bytes: Array[Byte], overwrite: Boolean): Unit = {
    timed("write", path)(inner.write(path, bytes, overwrite))
    probe.add("ingest.store_writes", 1)
    probe.add("ingest.store_b", bytes.length)
  }
  override def delete(path: String): Unit = timed("delete", path)(inner.delete(path))
  override def exists(path: String): Boolean = timed("exists", path)(inner.exists(path))
  override def mkdirs(dir: String): Unit = timed("mkdirs", dir)(inner.mkdirs(dir))
}

/** The paper's workflow, A ∥ B → C, cold and then incremental, over a
  * seeded generated source directory.
  */
object ReferenceWorkload {

  val Tables: Seq[String] = Seq(
    "population_stats_2013_2018", "bls_best_year_by_series", "report_prs30006032_q01", "dq_summary_runlog")

  val ReadRounds = 3

  /** BLS lines in the generated `pr.data.0.Current`. */
  val BlsLines = 40000

  final case class PassResult(
      wall: Double, cold: Double, incr: Double, reads: Seq[Double], storedRatio: Double)

  def run(r: Run): Unit = {
    val a = r.args
    val genStart = System.nanoTime()
    val inputs = Generator.generate(a.seed, BlsLines)
    val warm = Generator.generate(a.seed + 1, 3000)
    val srcRoot = a.out.resolve("source")
    inputs.base.writeTo(srcRoot.resolve("base"))
    inputs.mutated.writeTo(srcRoot.resolve("mutated"))
    warm.base.writeTo(srcRoot.resolve("warm_base"))
    val genS = (System.nanoTime() - genStart) / 1e9

    r.startSession(hive = true)
    r.spans.timed("metastore", "graft.pipeline")(r.spark.sql("SHOW DATABASES").collect())
    r.spans.timed("warmup", "graft.core") {
      val warmSrc = srcRoot.resolve("warm_base")
      cycle(r, warm, warmSrc, warmSrc, "warm", None, coldOnly = true)
    }
    val setupS = (System.nanoTime() - r.entryNs) / 1e9 - genS

    val base = srcRoot.resolve("base")
    val mutated = srcRoot.resolve("mutated")
    if (a.trace) {
      // untraced passes on both sides of the traced one, as in QueryWorkload
      val before = cycle(r, inputs, base, mutated, "p1", None).wall
      val probe = new Probe(r.spark, r.spans)
      r.probe = Some(probe)
      probe.attach()
      probe.reset()
      val start = r.spans.now()
      val res = cycle(r, inputs, base, mutated, "p2", Some(probe))
      val end = r.spans.now()
      val extra = segments(r, probe, start, end) ++ Map(
        "gen.inputs_s" -> genS,
        "pipeline.cold_s" -> res.cold,
        "pipeline.incr_s" -> res.incr,
        "sink.stored_bytes_per_input_byte" -> res.storedRatio)
      probe.detach()
      val untraced = (before + cycle(r, inputs, base, mutated, "p3", None).wall) / 2
      r.metrics ++= Layers.compute(r, probe, start, end, untraced, extra)
      // the pass wall is the sum of its operations, as for the untraced passes
      r.metrics("trace.overhead") = res.wall / untraced - 1
      r.notes ++= Notes.logLines(probe)
      r.notes("trace.checks_left_out") = s"${probe.get("check.jobs")} jobs, ${probe.get("check.sql")} SQL " +
        s"executions, ${probe.get("check.qe")} Catalyst traces"
    } else {
      val passes = (1 to r.timedPasses).map(i => cycle(r, inputs, base, mutated, s"p$i", None))
      r.metrics("setup_s") = setupS
      r.metrics("wall_s") = Stats.median(passes.map(_.wall))
      r.metrics("query_p50_s") = Stats.median(passes.flatMap(_.reads))
      r.notes("pipeline_cold_s") = Stats.median(passes.map(_.cold)).toString
      r.notes("pipeline_incr_s") = Stats.median(passes.map(_.incr)).toString
      r.notes("stored_bytes_per_input_byte") = Stats.median(passes.map(_.storedRatio)).toString
      r.notes("gen_inputs_s") = genS.toString
      r.notes("passes") = passes.size.toString
    }
  }

  /** One pass: cold run on an empty work dir, table reads, incremental
    * run plus CDC merge, table reads. Outputs are checked between the
    * operations, outside their timings. The warm-up stops after the cold
    * half.
    */
  private def cycle(
      r: Run, in: Inputs, baseDir: Path, mutatedDir: Path, tag: String, probe: Option[Probe],
      coldOnly: Boolean = false): PassResult = {
    val spark = r.spark
    val work = r.args.out.resolve(s"work_$tag")
    val db = s"perfbench_$tag"
    val config = PipelineConfig(
      blsSource = "https://local.test/pub/time.series/pr/",
      blsTargetDir = s"$work/raw_bls",
      populationUrl = "https://local.test/tesseract/data.jsonrecords",
      populationTargetPath = s"$work/raw_datausa/population.json",
      populationMetaPath = s"$work/raw_datausa/_meta/population_ingest_run.json",
      database = db)

    def pipeline(name: String, src: Path): (Option[Double], Option[PipelineReport]) = {
      var report: Option[PipelineReport] = None
      val t = r.op(name, "graft.pipeline") {
        Probe.setPhase(spark, name, "pipeline")
        report = Some(probe match {
          case Some(p) =>
            val fetcher = new TimedFetcher(new LocalDirFetcher(src.toString), p, r.spans)
            val store = new TimedStore(LocalFileStore, p, r.spans)
            val (bls, pop) = r.spans.timed("Pipeline.runIngest", "graft.pipeline")(
              Pipeline.runIngest(fetcher, store, config))
            val tables = r.spans.timed("Pipeline.runAnalytics", "graft.pipeline")(
              Pipeline.runAnalytics(spark, config))
            Seq("uploaded" -> bls.uploaded, "updated" -> bls.updated,
              "skipped" -> bls.skipped, "deleted" -> bls.deleted)
              .foreach { case (k, v) => p.add(s"ingest.files_$k", v) }
            PipelineReport(bls, pop, tables)
          case None =>
            Pipeline.run(spark, new LocalDirFetcher(src.toString), LocalFileStore, config)
        })
      }
      (t, report)
    }
    // each published table is read ReadRounds times, so the median read
    // latency rests on enough samples to be steady
    def reads(): Seq[Double] = (1 to ReadRounds).flatMap(_ => Tables.flatMap { t =>
      r.op(s"read:$t", "lakehouse.read")(r.noop(spark.table(s"$db.$t")))
    })

    val (cold, coldReport) = pipeline("pipeline_cold", baseDir)
    val baseAnswers = r.checking {
      val want = Expected.answers(in.base)
      checkSync(r, "pipeline_cold", coldReport, Map.empty, in.base.files)
      checkTables(r, s"$tag.cold", db, want, want.reqB, Seq(want.dq))
      want
    }
    val reads1 = reads()
    if (coldOnly) return PassResult((cold ++ reads1).sum, cold.getOrElse(0.0), 0.0, reads1, 0.0)

    val (incrRun, incrReport) = pipeline("pipeline_incr", mutatedDir)
    val merge = r.op("merge", "graft.pipeline") {
      Probe.setPhase(spark, "merge", "merge")
      import spark.implicits._
      val updates = in.cdc.toDF("series_id", "best_year", "summed_value")
      r.spans.timed("TableSink.merge", "graft.pipeline")(
        TableSink.merge(updates, s"$db.bls_best_year_by_series", Seq("series_id")))
    }
    Probe.setPhase(spark, "", "other")
    r.checking {
      val want = Expected.answers(in.mutated)
      checkSync(r, "pipeline_incr", incrReport, in.base.files, in.mutated.files)
      checkTables(r, s"$tag.incr", db, want, Expected.merged(want.reqB, in.cdc), Seq(baseAnswers.dq, want.dq))
    }
    val reads2 = reads()

    val stored = r.checking {
      val dbDir = Path.of(new java.net.URI(spark.catalog.getDatabase(db).locationUri))
      (du(work) + du(dbDir)).toDouble / in.mutated.bytes
    }
    val ops = Seq(cold, incrRun, merge).flatten ++ reads1 ++ reads2
    PassResult(ops.sum, cold.getOrElse(0.0), incrRun.getOrElse(0.0) + merge.getOrElse(0.0),
      reads1 ++ reads2, stored)
  }

  private def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The sync counters must match the difference between the two served
    * directories.
    */
  private def checkSync(
      r: Run, op: String, report: Option[PipelineReport],
      before: Map[String, Array[Byte]], after: Map[String, Array[Byte]]): Unit =
    report.foreach { rep =>
      r.check(s"$op.sync") {
        val want = Expected.syncCounts(before, after)
        val b: BlsRunMeta = rep.blsSync
        val got = (b.uploaded, b.updated, b.skipped, b.deleted)
        if (got != want || !b.status.contains("success"))
          Some(s"sync (uploaded, updated, skipped, deleted) = $got status ${b.status}, expected $want")
        else if (!rep.populationIngest.mode.contains("api_success"))
          Some(s"population ingest mode ${rep.populationIngest.mode}")
        else None
      }
    }

  private def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def checkTables(
      r: Run, tag: String, db: String, want: Answers,
      reqB: Map[String, (Int, Double)], dq: Seq[DqRow]): Unit = {
    val spark = r.spark
    r.check(s"$tag.population_stats_2013_2018") {
      val row = spark.table(s"$db.population_stats_2013_2018").collect().toSeq
      if (row.size != 1) Some(s"${row.size} rows")
      else {
        val (m, sd) = (row.head.getAs[Double]("mean_population"), row.head.getAs[Double]("stddev_population"))
        if (close(m, want.reqA._1) && close(sd, want.reqA._2)) None
        else Some(s"($m, $sd) expected ${want.reqA}")
      }
    }
    r.check(s"$tag.bls_best_year_by_series") {
      val got = spark.table(s"$db.bls_best_year_by_series").collect()
        .map(x => x.getAs[String]("series_id") -> (x.getAs[Int]("best_year"), x.getAs[Double]("summed_value")))
      val gotMap = got.toMap
      val bad = reqB.keys.filterNot(k => gotMap.get(k).exists { case (y, v) =>
        y == reqB(k)._1 && close(v, reqB(k)._2, 1e-12) })
      if (got.length != reqB.size) Some(s"${got.length} rows, expected ${reqB.size}")
      else if (bad.nonEmpty) Some(s"${bad.size} series differ, e.g. ${bad.head}: ${gotMap.get(bad.head)} vs ${reqB(bad.head)}")
      else None
    }
    r.check(s"$tag.report_prs30006032_q01") {
      val got = spark.table(s"$db.report_prs30006032_q01").collect().toSeq.map { x =>
        (x.getAs[Int]("year"), x.getAs[String]("series_id"), x.getAs[String]("period"),
          x.getAs[Double]("value"), Option(x.getAs[Any]("population")).map(_.asInstanceOf[Double]))
      }.sortBy(t => (t._1, t._4))
      if (got == want.reqC) None else Some(s"${got.size} rows differ from the ${want.reqC.size} expected")
    }
    r.check(s"$tag.dq_summary_runlog") {
      val got = spark.table(s"$db.dq_summary_runlog").collect().toSeq
      val ok = got.size == dq.size && dq.permutations.exists(p => p.zip(got).forall { case (w, g) => dqMatches(w, g) })
      if (ok) None else Some(s"${got.size} rows; got ${got.mkString("; ")} expected ${dq.mkString("; ")}")
    }
  }

  private def dqMatches(w: DqRow, g: Row): Boolean = {
    def l(c: String) = g.getAs[Long](c)
    l("bls_rows") == w.blsRows && l("bls_distinct_series_id") == w.blsDistinctSeries &&
      l("bls_distinct_years") == w.blsDistinctYears &&
      l("bls_full_row_duplicates") == w.blsFullRowDuplicates &&
      l("population_rows") == w.populationRows &&
      l("population_distinct_years") == w.populationDistinctYears &&
      l("population_full_row_duplicates") == w.populationFullRowDuplicates &&
      l("bls_negative_values") == w.blsNegativeValues &&
      l("population_non_positive_values") == w.populationNonPositiveValues &&
      w.blsOutlierRowsIqr.contains(l("bls_outlier_rows_iqr"))
  }

  private val WarehouseTable = """\.db/([A-Za-z0-9_]+)""".r

  /** Splits the traced pass's `runAnalytics` calls by the SQL executions
    * they issued. Each publish write names its table in its plan; the DQ
    * summary is the stretch from the last curated-table write to the end
    * of the run-log append, validation is the rest of the call.
    */
  private def segments(r: Run, probe: Probe, start: Long, end: Long): Map[String, Double] = {
    probe.drain()
    val ms = 1000000L
    val execs = probe.sqlDone.asScala.toSeq.filter(e => e.startMs * ms >= start && e.startMs * ms < end)
    // table written by each root execution, from its nested write command
    val writes: Map[Long, String] = execs.flatMap(e => e.nodes
      .filter(_.nodeName.contains("InsertIntoHadoopFsRelationCommand"))
      .flatMap(n => WarehouseTable.findFirstMatchIn(n.simpleString).map(m => e.root -> m.group(1))))
      .toMap
    val roots = execs.filter(e => e.root == e.id).sortBy(_.startMs)
    val analytics = r.spans.all.filter(s => s.name == "Pipeline.runAnalytics" && s.start >= start && s.start < end)
    val seg = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    analytics.foreach { call =>
      val inCall = roots.filter(e => e.startMs * ms >= call.start && e.startMs * ms < call.end)
      val tableWrites = inCall.flatMap(e => writes.get(e.id).map(_ -> e))
      tableWrites.foreach { case (table, e) =>
        val key = table match {
          case "population_stats_2013_2018" => "analytics.req_a_s"
          case "bls_best_year_by_series" => "analytics.req_b_s"
          case "report_prs30006032_q01" => "analytics.req_c_s"
          case _ => ""
        }
        if (key.nonEmpty) { seg(key) += e.seconds; seg("sink.overwrite_s") += e.seconds }
        else if (table == "dq_summary_runlog") seg("sink.append_s") += e.seconds
      }
      val lastCurated = tableWrites.filter(_._1 != "dq_summary_runlog").map(_._2.endMs).maxOption
      val dqEnd = tableWrites.find(_._1 == "dq_summary_runlog").map(_._2.endMs)
      for (from <- lastCurated; to <- dqEnd) {
        seg("dq.summary_s") += (to - from) / 1000.0
        seg("pipeline.validate_s") += math.max(0L, call.end - to * ms) / 1e9
      }
    }
    seg("sources.bls_scans") = execs.map(_.nodes.count(_.simpleString.startsWith("BatchScan bls("))).sum
    seg.toMap
  }
}
