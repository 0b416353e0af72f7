package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — sbt forks a
  * single test JVM), with the engine's extensions installed once, as
  * `graft.core.GraftSession.local` does for every main: each suite sees
  * the plans the gate runs, whatever ran before it.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", tmp)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.plans.GraftExtensions.install(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def fixturePath(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  def sfDir: String = "/root/testdata/sf0.001"
}
