package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Harness

/** Shared session base: one lazy local session per suite, UTC, small
  * shuffle-partition count (local mode — SURVEY guide).
  *
  * Every suite in the forked test JVM builds its session here, with the
  * program's codegen settings ([[Harness.codegenConf]]), and Spark's class
  * cache is built from them when this session is first built
  * ([[Harness.initCodegenCache]]). So the cache size the tests run with
  * does not depend on which suite runs first.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(Harness.codegenConf.toMap)
      .getOrCreate()
    Harness.initCodegenCache()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
