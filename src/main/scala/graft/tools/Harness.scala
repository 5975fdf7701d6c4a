package graft.tools

import org.apache.spark.sql.SparkSession

/** One session-builder + one noop-sink timer. Every main builds its
  * session here: the measurement mains (Bench, ColdWarmBench, ScaleProbe,
  * ProfileQuery, RegistrySweep), Orchestrate and the correctness dump
  * (Verify). The configs drifting apart between these runners silently
  * breaks their comparability — Verify had already lost
  * `spark.sql.adaptive.enabled` relative to Bench before this was
  * extracted.
  */
object Harness {

  def buildSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // the cluster-admin install path: scalar kernels AND the
      // table-valued entry points (ann_topk/bm25_topk/dedup_keep) are
      // session-registered exactly as a production deploy would, so the
      // x68/x69/x70 pure-SQL registry entries resolve under the driver
      // gate with zero Scala-side registration
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Coalesce post-shuffle partitions to the advisory TARGET SIZE
      // instead of maximizing parallelism (guide §2.2 "fewer, larger
      // reduce partitions"; the Spark config reference itself recommends
      // parallelismFirst=false "to respect the configured target size").
      // AQE only merges partitions DOWNWARD from
      // `spark.sql.shuffle.partitions` (= cores here), so this never adds
      // partitions: a large shuffle stays at `cores` partitions, while a
      // 2 MB per-trigger micro-batch stage collapses to 1 task instead of
      // `cores` tiny ones — the round-16 verdict's anti-scaling family
      // (x43, x48, x49, x13, x16) was exactly per-trigger task count
      // growing with local core count.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // Let AQE size CACHED plans too (off by default for historical
      // partitioning-stability reasons): every `.persist()` that follows
      // a shuffle — the LSH signature frames, the streaming-dedup
      // increment frames — otherwise pins `spark.sql.shuffle.partitions`
      // partitions into the cache, and every consumer pays a
      // core-count-sized map stage over mostly-empty blocks.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // File listing below this path count happens driver-side (µs on
      // any FS metadata service) instead of launching a distributed
      // listing JOB (~100 ms fixed): the manifest stores re-plan their
      // file lists on every trigger/search, and the default threshold
      // (32) put a listing job in front of every post-growth postings/
      // doclens read. At production file counts (>1024/table) the
      // parallel path still engages — this moves the crossover, not the
      // mechanism (guide §6 small-files/listing).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      // events.parquet carries TIMESTAMP(NANOS) which Spark can only read
      // as raw nanos longs (see graft.tables.Tables.load).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Time one registry query through the noop sink (a bare `.count()`
    * lets Catalyst shortcut to parquet footer counts). Failures record
    * as -1.0; the per-query cache is always cleared so a failed LSH/dedup
    * query cannot leave persisted intermediates behind to skew the next
    * timing.
    */
  def timeNoop(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      -1.0
    } finally releaseAllPinned(spark)
  }

  /** Release EVERYTHING pinned in executor storage between queries:
    * `catalog.clearCache()` only drops CacheManager (Dataset.persist)
    * entries — `localCheckpoint` blocks are RDD-level and survive it, so
    * a query that RETURNS a frame built over a checkpoint (CC labels,
    * bm25's tf pin) leaks its blocks for the rest of the session. Across
    * a 94-query run the dead blocks stack up in storage memory, and
    * later iterative queries (x43's LSH→CC→pack chain) degrade
    * nonlinearly once eviction starts — the bimodal bench timings round
    * 8 chased. `getPersistentRDDs` sees both kinds; unpersist them all.
    */
  def releaseAllPinned(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
