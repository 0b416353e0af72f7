package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A finished SQL execution as the listener bus reported it. */
final case class SqlExec(id: Long, root: Long, startMs: Long, endMs: Long, plan: SparkPlanInfo) {
  def seconds: Double = (endMs - startMs) / 1000.0

  def nodes: Seq[SparkPlanInfo] = {
    def walk(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(walk)
    walk(plan)
  }
}

/** Spark's public listeners plus a log4j appender, attached only for
  * the traced run. Jobs carry the benchmark's operation and phase as
  * local properties; everything else is summed per pass. The work of the
  * benchmark's own checks (`Run.checking`) is left out: its jobs by their
  * phase, its stages and tasks through those jobs, its SQL executions by
  * their job tag, and its Catalyst phases by their start time, since a
  * `QueryExecution` does not carry its SQL execution id publicly.
  */
final class Probe(spark: SparkSession, spans: Spans) {
  import Probe._

  private val sc = spark.sparkContext
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, SqlExec]()
  private val checkStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val checkWindows = new ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var checkOpenMs = Long.MaxValue
  val sqlDone = new ConcurrentLinkedQueue[SqlExec]()
  private val peakMem = new AtomicLong(0)
  val logLines = new ConcurrentLinkedQueue[(String, String, String)]()
  @volatile var currentOpName: String = "setup"

  def add(key: String, v: Long): Unit =
    counters.computeIfAbsent(key, _ => new AtomicLong(0)).addAndGet(v)

  def get(key: String): Long = Option(counters.get(key)).map(_.get).getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")
      val op = props.flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
      if (phase == CheckPhase) {
        add("check.jobs", 1)
        e.stageIds.foreach(checkStages.add)
      } else {
        jobStarts.put(e.jobId, e.time)
        add("sched.jobs", 1)
        add(s"jobs.phase.$phase", 1)
        if (op.nonEmpty) add(s"jobs.op.$op.$phase", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.get(e.jobId)).foreach { start =>
        jobIntervals.add((start, e.time))
        spans.record(s"job ${e.jobId}", "spark.scheduler", start * 1000000L, e.time * 1000000L, -1L, 0L)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (!checkStages.contains(i.stageId)) {
        add("sched.stages", 1)
        for (s <- i.submissionTime; c <- i.completionTime)
          spans.record(s"stage ${i.stageId}", "spark.scheduler", s * 1000000L, c * 1000000L, -1L, 0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!checkStages.contains(e.stageId)) {
      add("sched.tasks", 1)
      if (!e.taskInfo.successful) add("sched.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime)
        add("exec.task_cpu_ns", m.executorCpuTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.deser_ms", m.executorDeserializeTime)
        add("exec.input_b", m.inputMetrics.bytesRead)
        add("exec.result_b", m.resultSize)
        add("exec.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("exec.output_b", m.outputMetrics.bytesWritten)
        add("shuffle.write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_b", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        add("storage.rdd_blocks", 1)
        add("storage.rdd_b", b.memSize + b.diskSize)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.jobTags.contains(CheckPhase) =>
        add("check.sql", 1)
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, SqlExec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
          s.time, s.time, s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        Option(sqlStarts.get(u.executionId)).foreach(x =>
          sqlStarts.put(u.executionId, x.copy(plan = u.sparkPlanInfo)))
      case end: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(end.executionId)).foreach { x =>
          val done = x.copy(endMs = end.time)
          sqlDone.add(done)
          spans.record(s"sql ${x.id}", "spark.sql", x.startMs * 1000000L, end.time * 1000000L, -1L, 0L)
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      if (ps.nonEmpty && inCheck(ps.values.map(_.startTimeMs).min)) add("check.qe", 1)
      else ps.foreach { case (phase, s) => add(s"catalyst.${phase}_ms", s.durationMs) }
    }
  }

  private val tap = new AbstractAppender("perfbench-tap", null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val lvl = e.getLevel
      if (lvl.isMoreSpecificThan(Level.WARN)) {
        val key = if (lvl.isMoreSpecificThan(Level.ERROR)) "ERROR" else "WARN"
        add(if (key == "ERROR") "log.error_lines" else "log.warn_lines", 1)
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        logLines.add((currentOpName, key, msg.linesIterator.nextOption().getOrElse("").take(300)))
      }
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    tap.start()
    ctx.getConfiguration.getRootLogger.addAppender(tap, Level.WARN, null)
    ctx.updateLoggers()
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(tap.getName)
    ctx.updateLoggers()
    tap.stop()
  }

  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(sc)

  /** Bracket a check window (wall-clock ms, the clock Catalyst's phase
    * tracker uses). A window is listed as closed before it stops being
    * open, so a listener never sees it as neither.
    */
  def checkStarted(): Unit = checkOpenMs = System.currentTimeMillis()

  def checkEnded(): Unit = {
    checkWindows.add((checkOpenMs, System.currentTimeMillis()))
    checkOpenMs = Long.MaxValue
  }

  private def inCheck(ms: Long): Boolean =
    ms >= checkOpenMs || checkWindows.asScala.exists { case (s, e) => ms >= s && ms <= e }

  def peakExecMemory: Long = peakMem.get

  /** Union of job-running time inside [fromNs, toNs). */
  def jobBusyNs(fromNs: Long, toNs: Long): Long =
    Span.unionLength(jobIntervals.asScala.toSeq
      .map { case (s, e) => (math.max(s * 1000000L, fromNs), math.min(e * 1000000L, toNs)) }
      .filter { case (s, e) => e > s })

  def reset(): Unit = {
    drain()
    counters.clear(); jobStarts.clear(); jobIntervals.clear(); sqlDone.clear(); logLines.clear()
    checkStages.clear(); checkWindows.clear()
    peakMem.set(0)
  }
}

object Probe {
  val PhaseKey = "perfbench.phase"
  val OpKey = "perfbench.op"
  /** Phase property and job tag of the benchmark's own checks. */
  val CheckPhase = "perfbench-check"

  def setPhase(spark: SparkSession, op: String, phase: String): Unit = {
    spark.sparkContext.setLocalProperty(OpKey, op)
    spark.sparkContext.setLocalProperty(PhaseKey, phase)
  }

  /** Old-generation occupancy after the last collection, in bytes. */
  def oldGenBytes(): Long =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage).map(_.getUsed))
      .foldLeft(0L)(math.max)
}

/** A failure of one benchmark operation, with its cause. */
final case class Failure(op: String, cause: String)

object Failure {
  def of(op: String, e: Throwable): Failure = {
    val msg = Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
    Failure(op, s"${e.getClass.getName}: ${msg.take(300)}")
  }
}
