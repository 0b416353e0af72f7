package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkShims

import graft.SparkSpec
import graft.core.Tables
import graft.functions.VectorFunctions

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("install exposes the native expressions through SQL") {
    val h = spark.sql("SELECT rolling_hash('ab') AS h").head().getLong(0)
    assert(h == (97L * 31 + 98) % 1000000007L)
    val d = spark.sql(
      "SELECT dot_f(cast(array(1.0, 2.0) AS array<float>), cast(array(3.0, 4.0) AS array<float>)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    val sh = spark.sql("SELECT word_shingles('a b c d e f', 5) AS s")
      .head().getSeq[String](0)
    assert(sh == Seq("a b c d e", "b c d e f"))
  }

  test("NativeKernelRule rewrites the declarative dot-product fold to dot_f") {
    val e = Tables.embeddings(spark, sfDir).limit(50)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("q_emb"))
    val df = e.crossJoin(q)
      .select(VectorFunctions.dotFold($"embedding", $"q_emb").as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dot_f"),
      s"expected dot_f after NativeKernelRule, got:\n$optimized")
    // and the rewritten plan computes the same values as the kernel API
    val viaRule = df.collect().map(_.getDouble(0)).sorted.toSeq
    val viaKernel = e.crossJoin(q)
      .select(VectorFunctions.dot($"embedding", $"q_emb").as("d"))
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(viaRule == viaKernel)
  }

  test("the rule leaves non-matching folds untouched") {
    // a sum-fold (not a dot product) must not be rewritten
    val df = Seq(Seq(1.0f, 2.0f)).toDF("a")
      .select(aggregate(transform($"a", x => x.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("s"))
    assert(!df.queryExecution.optimizedPlan.toString.contains("dot_f"))
    assert(df.head().getDouble(0) == 3.0)
  }

  /** WARN-or-worse messages logged while `body` runs, via a root-logger
    * appender.
    */
  private def warnsDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tap = new AbstractAppender("graft-extensions-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(Option(e.getMessage).map(_.getFormattedMessage).getOrElse(""))
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    tap.start()
    ctx.getConfiguration.getRootLogger.addAppender(tap, Level.WARN, null)
    ctx.updateLoggers()
    try body
    finally {
      ctx.getConfiguration.getRootLogger.removeAppender(tap.getName)
      ctx.updateLoggers()
      tap.stop()
    }
    seen.asScala.toSeq
  }

  private val Replaced = "replaced a previously registered function"

  test("install is idempotent: each rule, strategy and function once, no re-registration WARN") {
    // the capture sees a WARN on the logger the registry warns through
    val registryLog = LogManager.getLogger(
      classOf[org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry].getName)
    assert(warnsDuring(registryLog.warn("GraftExtensionsSpec capture probe"))
      .contains("GraftExtensionsSpec capture probe"))

    val warns = warnsDuring {
      GraftExtensions.install(spark)
      GraftExtensions.install(spark)
    }
    assert(!warns.exists(_.contains(Replaced)), warns.mkString("\n"))
    val rules = spark.experimental.extraOptimizations
    assert(rules.count(_ == NativeKernelRule) == 1 && rules.count(_ == RankLimitRule) == 1, rules)
    assert(spark.experimental.extraStrategies.count(_ == TopKStrategy) == 1,
      spark.experimental.extraStrategies)

    GraftExtensions.functions.foreach { case (f, _) => assert(SparkShims.functionExists(spark, f), f) }
    val r = spark.sql(
      """SELECT rolling_hash('ab') AS rh, simhash60(array('a', 'b')) AS sh,
        |  token_hash60('a') AS th,
        |  dot_f(cast(array(1.0) AS array<float>), cast(array(2.0) AS array<float>)) AS d,
        |  word_shingles('a b c', 2) AS ws""".stripMargin).head()
    assert((0 until 4).forall(i => !r.isNullAt(i)))
    assert(r.getSeq[String](4) == Seq("a b", "b c"))
  }
}
