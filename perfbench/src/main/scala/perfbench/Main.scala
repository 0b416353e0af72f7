package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GraftSession
import graft.plans.GraftExtensions

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    out: Path,
    sfDir: String)

/** Shared state of one benchmark run: the session, the span recorder,
  * the probe (traced runs only) and the operation ledger.
  */
final class Run(val args: Args, val entryNs: Long) {
  /** `local[cores]`; the JVM's count honours the process's CPU affinity. */
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val spans = new Spans
  var spark: SparkSession = _
  var probe: Option[Probe] = None
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[Failure]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, String]

  /** Run one client operation: count it, time it, record its cause if it
    * fails. Returns the latency in seconds, or None on failure.
    */
  def op(name: String, layer: String)(body: => Unit): Option[Double] = {
    attempted += 1
    spans.newOp()
    probe.foreach(_.currentOpName = name)
    val t0 = spans.now()
    try {
      spans.timed(name, layer)(body)
      Some((spans.now() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        failures += Failure.of(name, e)
        None
    }
  }

  /** Timed passes per run: one per `PassSeconds` of `--seconds`, at
    * least one. The count depends on nothing else, so every commit times
    * the same executions at the same JIT warmth.
    */
  def timedPasses: Int = math.max(1, math.round(args.seconds / Run.PassSeconds).toInt)

  /** A correctness check outside the timed work. */
  def check(name: String)(ok: => Option[String]): Unit = {
    attempted += 1
    try ok.foreach(msg => failures += Failure(name, msg))
    catch { case e: Throwable => failures += Failure.of(name, e) }
  }

  /** Checks between the operations of a pass. The probe leaves their
    * Spark work out, and their span is taken off the pass wall that the
    * traced metrics divide by.
    */
  def checking[T](body: => T): T = {
    val sc = spark.sparkContext
    Probe.setPhase(spark, "", Probe.CheckPhase)
    sc.addJobTag(Probe.CheckPhase)
    probe.foreach(_.checkStarted())
    try spans.timed(Probe.CheckPhase, "perfbench")(body)
    finally {
      probe.foreach(_.checkEnded())
      sc.removeJobTag(Probe.CheckPhase)
      Probe.setPhase(spark, "", "other")
    }
  }

  /** Session build and extension install, timed as their own layers. */
  def startSession(hive: Boolean): Unit = {
    spark = spans.timed("GraftSession.local", "graft.core") {
      GraftSession.local(cores = cores, appName = "perfbench", hive = hive)
    }
    spans.timed("GraftExtensions.install", "graft.plans")(GraftExtensions.install(spark))
  }

  /** What `graft.Bench` clears between executions. */
  def clearMemos(): Unit = {
    spark.catalog.clearCache()
    graft.operators.TextDedup.clearSharedSignatures(spark)
    graft.operators.AnnIndex.clear(spark)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Run {
  val PassSeconds = 10.0
}

/** Benchmark entry point. Writes `result.json` (and `spans.jsonl` for a
  * traced run) into `--out`; `run.py` adds the digest checks and prints
  * the final line.
  */
object Main {

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      out = Paths.get(need("out")),
      sfDir = m.getOrElse("sf", ""))
  }

  def main(argv: Array[String]): Unit = {
    val entry = System.nanoTime()
    val args = parse(argv)
    val run = new Run(args, entry)
    Files.createDirectories(args.out)
    try {
      args.workload match {
        case "llm_pipeline" => QueryWorkload.run(run, QueryWorkload.LlmPipeline)
        case "reference_pipeline" => ReferenceWorkload.run(run)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally {
      if (args.trace) run.spans.write(args.out.resolve("spans.jsonl"))
      writeResult(run)
      if (run.spark != null) run.spark.stop()
    }
  }

  private def writeResult(run: Run): Unit = {
    val failures = run.failures.map(f => Map("op" -> f.op, "cause" -> f.cause).asJava).asJava
    val result = Map(
      "attempted" -> run.attempted,
      "failed" -> run.failures.size,
      "failures" -> failures,
      "metrics" -> run.metrics.asJava,
      "notes" -> run.notes.asJava).asJava
    new ObjectMapper().writeValue(run.args.out.resolve("result.json").toFile, result)
  }
}

/** Writes the DuckDB oracle SQL of the llm_pipeline queries as JSON, for
  * `make_digests.py`.
  */
object OracleDump {
  def main(argv: Array[String]): Unit = {
    val sql = QueryWorkload.LlmPipeline.map(n => n -> graft.queries.Registry.byName(n).oracle.getOrElse(
      throw new IllegalArgumentException(s"$n has no oracle SQL"))).toMap
    new ObjectMapper().writeValue(Paths.get(argv(0)).toFile, sql.asJava)
  }
}
