package perfbench

import graft.queries.Registry

/** Registry queries in a closed loop: one client, one execution at a
  * time, each `q.run` plus the noop-sink write that `graft.Bench` times.
  */
object QueryWorkload {

  /** The two composite pipelines, the slowest headliners and the job
    * chains ROADMAP direction 3 targets.
    */
  val LlmPipeline: Seq[String] = Layers.Tracked

  def run(r: Run, names: Seq[String]): Unit = {
    val a = r.args
    r.startSession(hive = false)
    val qs = names.map(Registry.byName)
    r.notes("queries") = names.mkString(",")

    // Warm-up, untimed: every query runs once, so every timed execution
    // re-runs a plan that has been compiled in this JVM.
    r.spans.timed("warmup", "graft.core") {
      qs.foreach { q =>
        r.clearMemos()
        r.op(s"warmup:${q.name}", "graft.queries")(r.noop(q.run(r.spark, a.sfDir)))
      }
    }
    val setupS = (System.nanoTime() - r.entryNs) / 1e9

    val rnd = new scala.util.Random(a.seed)
    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    val byQuery = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    def pass(): Double = {
      val start = r.spans.now()
      rnd.shuffle(qs).foreach { q =>
        r.clearMemos()
        r.op(q.name, "graft.queries") {
          Probe.setPhase(r.spark, q.name, "build")
          val df = r.spans.timed("build", "graft.queries")(q.run(r.spark, a.sfDir))
          Probe.setPhase(r.spark, q.name, "action")
          r.spans.timed("action", "graft.queries")(r.noop(df))
        }.foreach { t => latencies += t; byQuery(q.name) :+= t }
        Probe.setPhase(r.spark, "", "other")
      }
      (r.spans.now() - start) / 1e9
    }

    if (a.trace) {
      // An untraced pass on each side of the traced one; the overhead is
      // read against their mean, which is as warm as the traced pass.
      val before = pass()
      val probe = new Probe(r.spark, r.spans)
      r.probe = Some(probe)
      probe.attach()
      probe.reset()
      val start = r.spans.now()
      pass()
      val end = r.spans.now()
      probe.detach()
      val after = pass()
      r.metrics ++= Layers.compute(r, probe, start, end, (before + after) / 2, Map.empty)
      r.notes ++= Notes.logLines(probe)
    } else {
      val walls = Seq.fill(r.timedPasses)(pass())
      r.metrics("setup_s") = setupS
      r.metrics("wall_s") = Stats.median(walls)
      r.metrics("query_p50_s") = Stats.median(latencies.toSeq)
      Stats.percentile(latencies.toSeq, 0.9).foreach(p => r.notes("query_p90_s") = p.toString)
      r.notes("passes") = walls.size.toString
      byQuery.toSeq.sortBy(_._1).foreach { case (q, ts) => r.notes(s"latency_s.$q") = ts.mkString(",") }
    }

    // Output check, untimed, after the timed work: one more execution of
    // each query writes its result for run.py's digest comparison, so
    // state a timed execution leaves behind shows as a wrong answer.
    val checkDir = a.out.resolve("check")
    qs.foreach { q =>
      r.clearMemos()
      r.op(s"check:${q.name}", "graft.queries") {
        q.run(r.spark, a.sfDir).repartition(1).write.mode("overwrite")
          .parquet(checkDir.resolve(q.name).toString)
      }
    }
  }
}

object Notes {

  /** ERROR and WARN lines per operation, first message of each kind. */
  def logLines(probe: Probe): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    probe.logLines.asScala.toSeq.groupBy(l => (l._1, l._2)).toSeq.sortBy(_._1).map {
      case ((op, level), lines) => s"log.$level.$op" -> s"${lines.size}x ${lines.head._3}"
    }
  }
}
