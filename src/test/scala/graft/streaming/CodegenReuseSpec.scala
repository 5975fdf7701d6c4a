package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics

import graft.SparkSpec
import graft.f1.Fixtures
import graft.sources.EventSource

/** Gate on generated-code reuse: a steady `loadBatch` must find every
  * class it needs in Spark's class cache. The suite session carries the
  * program's codegen settings (SparkSpec → `Harness.codegenConf`); at
  * Spark's default of 100 entries a load evicts its own classes before
  * their next use and recompiles all of them on every call.
  */
class CodegenReuseSpec extends SparkSpec {

  /** Measured: the steady load below compiles 0 classes with the cache
    * sized by Harness, and 145 at Spark's default size (this spec run
    * before Harness sized the cache). The slack of 2 covers a stray
    * compile from another suite's leftover asynchronous work, since the
    * counter is JVM-wide.
    */
  private val MaxSteadyCompiles = 2L

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated loadBatch on the same events and batch id recompiles no generated class") {
    val tables = java.nio.file.Files.createTempDirectory("cgreuse").toString
    val events = EventSource.fromLines(spark, Fixtures.pyLines)
    // the first load creates all eight tables, so the two loads below
    // both plan the merge-into-an-existing-table shapes
    F1Pipeline.loadBatch(spark, events, tables, batchId = 1)
    F1Pipeline.loadBatch(spark, events, tables, batchId = 1)
    val before = compiles
    F1Pipeline.loadBatch(spark, events, tables, batchId = 1)
    val compiled = compiles - before
    assert(compiled <= MaxSteadyCompiles,
      s"the second of two identical loadBatch calls compiled $compiled generated classes")
  }
}
