package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json (at the repository root) must name every metric the
  * benchmark reports, with the unit it reports it in.
  */
class SchemaSpec extends AnyFunSuite {

  private lazy val spec = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))

  private def metrics(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.toSeq.map(m => m.get("name").asText -> m.get("unit").asText)

  test("per-layer metrics match the traced run's metrics and units") {
    assert(metrics("per_layer") == Layers.Units)
  }

  test("every measured layer has metrics") {
    val names = Layers.Units.map(_._1).toSet
    val prefixes = Seq("core.", "plans.", "queries.", "catalyst.", "sched.", "exec.", "shuffle.",
      "storage.", "jvm.", "log.", "ingest.", "pipeline.", "sources.", "analytics.", "dq.", "sink.", "trace.")
    prefixes.foreach(p => assert(names.exists(_.startsWith(p)), s"no $p metric"))
    Layers.Tracked.foreach(q => assert(names(s"queries.$q.wall_s"), q))
  }

  test("end-to-end metrics are times in seconds, setup_s included") {
    val e2e = metrics("end_to_end")
    assert(e2e.toMap == Map("setup_s" -> "s", "wall_s" -> "s", "query_p50_s" -> "s"))
    val setup = spec.get("end_to_end").elements().asScala.find(_.get("name").asText == "setup_s").get
    val bounds = spec.get("end_to_end").elements().asScala.map(_.get("bound").asDouble).toSeq
    assert(setup.get("bound").asDouble == bounds.max)
  }

  test("the workloads are the ones the benchmark runs") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names == Seq("llm_pipeline", "reference_pipeline"))
  }
}
