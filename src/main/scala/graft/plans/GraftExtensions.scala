package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.SparkShims

import graft.functions._

/** The graft engine's session extensions: the native expressions as
  * SQL functions, the native-kernel and rank-limit optimizer rules, and
  * the top-k planner strategy. `graft.core.GraftSession.local` installs
  * them on every session it builds.
  */
object GraftExtensions {

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> (es => RollingHash(es.head)),
    "simhash60" -> (es => SimHash60(es.head)),
    "token_hash60" -> (es => TokenHash60(es.head)),
    "dot_f" -> (es => DotProductF(es(0), es(1))),
    "word_shingles" -> (es => WordShingles(es.head, es(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _) => n
      case other => throw new IllegalArgumentException(
        s"word_shingles(text, n): n must be an integer literal, got $other")
    })))

  /** Register on a live session: SQL functions via the registry, the
    * rules and the strategy via the public experimental hooks. Each
    * piece is added only when the session lacks it, so a repeat call
    * changes nothing (and logs no "replaced a previously registered
    * function" WARN).
    */
  def install(spark: SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      if (!SparkShims.functionExists(spark, name))
        SparkShims.registerFunction(spark, name, builder)
    }
    Seq(NativeKernelRule, RankLimitRule).foreach { rule =>
      if (!spark.experimental.extraOptimizations.contains(rule))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ rule
    }
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
  }
}
