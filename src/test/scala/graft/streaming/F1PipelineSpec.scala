package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.f1.Fixtures
import graft.sinks.{MergeEngine, ParquetSwapMergeEngine, TableSink}

/** Streaming-semantics tests (SURVEY §5 plan #5): the unified pipeline over
  * a file source, cross-batch upsert convergence, replay idempotence, and
  * watermarked dedup.
  */
class F1PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The default parquet engine with `before(op)` run ahead of every
    * operation — the seam tests' recording/blocking probe.
    */
  private class HookedEngine(before: String => Unit) extends MergeEngine {
    def upsert(s: SparkSession, p: String, b: DataFrame, k: Seq[String]): Unit = {
      before("upsert"); ParquetSwapMergeEngine.upsert(s, p, b, k)
    }
    def coalescingUpsert(s: SparkSession, p: String, b: DataFrame, k: Seq[String]): Unit = {
      before("coalescing"); ParquetSwapMergeEngine.coalescingUpsert(s, p, b, k)
    }
    def partitionedCoalescingUpsert(s: SparkSession, p: String, b: DataFrame,
        k: Seq[String], pc: String): Unit = {
      before("partitionedCoalescing")
      ParquetSwapMergeEngine.partitionedCoalescingUpsert(s, p, b, k, pc)
    }
    def append(p: String, b: DataFrame): Unit = {
      before("append"); ParquetSwapMergeEngine.append(p, b)
    }
    def dedupAppend(s: SparkSession, p: String, b: DataFrame, k: String): Unit = {
      before("dedupAppend"); ParquetSwapMergeEngine.dedupAppend(s, p, b, k)
    }
  }

  test("unified streaming pipeline: two files → two batches → converged tables") {
    val src = tmp("f1src")
    val tables = tmp("f1tables")
    val ckpt = tmp("f1ckpt")
    // split the fixture capture in two files: laps arrive across batches,
    // so lap consolidation must merge cross-batch via the coalescing sink
    val (part1, part2) = Fixtures.pyLines.splitAt(6)
    Files.write(java.nio.file.Paths.get(s"$src/p1.txt"),
      part1.mkString("\n").getBytes)
    val metrics = new Metrics(batchIntervalMs = 50)
    spark.streams.addListener(metrics)
    val q = F1Pipeline.startUnified(spark, src, tables, ckpt,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    try {
      q.processAllAvailable()
      Files.write(java.nio.file.Paths.get(s"$src/p2.txt"),
        part2.mkString("\n").getBytes)
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.streams.removeListener(metrics)
    }

    // ST5/A4: the listener observed the batches and their row counts
    val (nBatches, nRows, _, _, _) = metrics.summary
    assert(nBatches >= 2, s"expected >=2 progress reports, got $nBatches")
    assert(nRows == Fixtures.pyLines.length,
      s"listener counted $nRows input rows")

    val laps = spark.read.parquet(s"$tables/lap_data")
      .orderBy("driver_number", "lap_number").collect()
    assert(laps.length == 2)
    val l1 = laps(0)
    assert(l1.getAs[Int]("driver_number") == 1)
    assert(math.abs(l1.getAs[Double]("lap_time") - 92.633) < 1e-9)
    assert(l1.getAs[Int]("speed_trap") == 315) // app-data fragment from batch 2 merged in

    val drivers = spark.read.parquet(s"$tables/drivers")
    assert(drivers.count() == 3)
    assert(drivers.filter($"driver_number" === 1).head().getAs[String]("name")
      == "A DRIVERONE") // first-wins survived the upsert across batches

    assert(spark.read.parquet(s"$tables/weather").count() == 3)
    assert(spark.read.parquet(s"$tables/telemetry").count() == 5)
    assert(spark.read.parquet(s"$tables/sessions").count() == 1)
    // A9: dict-form duplicate msg_id collapsed across the whole run
    assert(spark.read.parquet(s"$tables/race_control").count() == 2)
  }

  test("maxFilesPerTrigger paces a multi-file replay (ST1) and observed metrics surface") {
    val src = tmp("f1srcP")
    val tables = tmp("f1tablesP")
    val ckpt = tmp("f1ckptP")
    // 4 single-line-ish files, paced at 1 file per trigger → >=4 batches:
    // the reference's 100ms trickle replay shape (config.py:36)
    val parts = Fixtures.pyLines.grouped((Fixtures.pyLines.length + 3) / 4).toSeq
    parts.zipWithIndex.foreach { case (lines, i) =>
      Files.write(java.nio.file.Paths.get(s"$src/p$i.txt"),
        lines.mkString("\n").getBytes)
    }
    val metrics = new Metrics(batchIntervalMs = 50)
    spark.streams.addListener(metrics)
    val q = F1Pipeline.startUnified(spark, src, tables, ckpt,
      trigger = Trigger.ProcessingTime("50 milliseconds"),
      maxFilesPerTrigger = Some(1))
    try q.processAllAvailable()
    finally {
      q.stop()
      spark.streams.removeListener(metrics)
    }
    val nonEmpty = metrics.batchReports.filter(_.numInputRows > 0)
    assert(nonEmpty.size >= parts.size,
      s"paced replay should take >=${parts.size} batches, got ${nonEmpty.size}")
    assert(nonEmpty.map(_.numInputRows).sum == Fixtures.pyLines.length)
    // tables still converge identically to the unpaced run
    assert(spark.read.parquet(s"$tables/lap_data").count() == 2)
    assert(spark.read.parquet(s"$tables/weather").count() == 3)
  }

  test("restart from checkpoint: no duplicates, upserts converge (S2/S6)") {
    val src = tmp("f1srcR")
    val tables = tmp("f1tablesR")
    val ckpt = tmp("f1ckptR")
    val (part1, part2) = Fixtures.pyLines.splitAt(6)
    Files.write(java.nio.file.Paths.get(s"$src/p1.txt"), part1.mkString("\n").getBytes)
    val q1 = F1Pipeline.startUnified(spark, src, tables, ckpt,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    try q1.processAllAvailable() finally q1.stop()

    // new query, same checkpoint: file source must not re-deliver p1
    Files.write(java.nio.file.Paths.get(s"$src/p2.txt"), part2.mkString("\n").getBytes)
    val q2 = F1Pipeline.startUnified(spark, src, tables, ckpt,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    try q2.processAllAvailable() finally q2.stop()

    assert(spark.read.parquet(s"$tables/weather").count() == 3)      // not 6
    assert(spark.read.parquet(s"$tables/telemetry").count() == 5)    // not 10
    assert(spark.read.parquet(s"$tables/drivers").count() == 3)
    assert(spark.read.parquet(s"$tables/race_control").count() == 2)
    val laps = spark.read.parquet(s"$tables/lap_data")
      .orderBy("driver_number").collect()
    assert(laps.length == 2)
    assert(laps.head.getAs[Int]("speed_trap") == 315)
  }

  test("MergeEngine seam: unified pipeline + replay route every sink through a pluggable engine") {
    // A recording engine wrapping the parquet default: proves the pipeline
    // dispatches 100% of its table maintenance through the MergeEngine
    // trait (the one-class ACID swap point), with unchanged semantics.
    import java.util.concurrent.ConcurrentHashMap
    val calls = new ConcurrentHashMap[String, Integer]()
    val recording = new HookedEngine(op => calls.merge(op, 1, (a, b) => a + b))

    val src = tmp("f1srcE")
    val tables = tmp("f1tablesE")
    val ckpt = tmp("f1ckptE")
    val (part1, part2) = Fixtures.pyLines.splitAt(6)
    Files.write(java.nio.file.Paths.get(s"$src/p1.txt"), part1.mkString("\n").getBytes)
    val q = F1Pipeline.startUnified(spark, src, tables, ckpt,
      trigger = Trigger.ProcessingTime("50 milliseconds"), engine = recording)
    try {
      q.processAllAvailable()
      Files.write(java.nio.file.Paths.get(s"$src/p2.txt"), part2.mkString("\n").getBytes)
      q.processAllAvailable()
    } finally q.stop()

    // every sink kind the fixture exercises went through the seam
    assert(calls.getOrDefault("upsert", 0) >= 2, calls)               // sessions+drivers
    assert(calls.getOrDefault("partitionedCoalescing", 0) >= 1, calls) // lap_data
    assert(calls.getOrDefault("append", 0) >= 2, calls)               // weather/telemetry/…
    assert(calls.getOrDefault("dedupAppend", 0) >= 1, calls)          // race_control

    // semantics identical to the default engine (same convergence checks as
    // the unified-pipeline test), and a replayed batch stays idempotent
    val laps = spark.read.parquet(s"$tables/lap_data")
      .orderBy("driver_number", "lap_number").collect()
    assert(laps.length == 2)
    assert(laps.head.getAs[Int]("speed_trap") == 315)
    assert(spark.read.parquet(s"$tables/race_control").count() == 2)
    val events = graft.sources.EventSource.fromLines(spark, part2)
    F1Pipeline.loadBatch(spark, events, tables, batchId = 1, engine = recording)
    assert(spark.read.parquet(s"$tables/lap_data").count() == 2)
    assert(spark.read.parquet(s"$tables/sessions").count() == 1)
    assert(spark.read.parquet(s"$tables/race_control").count() == 2)
  }

  test("a restarted unified query's sink jobs carry its own query id and group, so stop() cancels them") {
    import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
    import java.util.concurrent.atomic.AtomicBoolean
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (part1, part2) = Fixtures.pyLines.splitAt(6)

    // a first query whose two triggers run sink jobs on the pool's
    // threads, then stops: the second query's sinks reuse those threads
    val src1 = tmp("f1srcQ1")
    val q1 = F1Pipeline.startUnified(spark, src1, tmp("f1tablesQ1"), tmp("f1ckptQ1"),
      trigger = Trigger.ProcessingTime("50 milliseconds"), maxFilesPerTrigger = Some(1))
    try Seq(part1, part2).zipWithIndex.foreach { case (lines, i) =>
      Files.write(java.nio.file.Paths.get(s"$src1/p$i.txt"), lines.mkString("\n").getBytes)
      q1.processAllAvailable()
    } finally q1.stop()

    // (submit time, query id, job group, description) of every job
    val jobs = new ConcurrentLinkedQueue[(Long, String, String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new java.util.Properties)
        jobs.add((e.time, p.getProperty("sql.streaming.queryId"),
          p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.description")))
      }
    }
    // listener events arrive in submit order, and a job is active by the
    // time its start event is seen
    def awaitJob(desc: String): Unit = {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!jobs.asScala.exists(_._4 == desc)) {
        assert(System.nanoTime() < deadline, s"job '$desc' never reached the listener")
        Thread.sleep(20)
      }
    }
    // the second query's engine blocks one sink inside a long Spark job
    val armed = new AtomicBoolean(false)
    val blocking = new HookedEngine(_ => if (armed.compareAndSet(true, false)) {
      sc.setJobDescription("f1-blocking")
      sc.parallelize(Seq(1), 1).foreach(_ => Thread.sleep(60000))
    })
    val src2 = tmp("f1srcQ2")
    Files.write(java.nio.file.Paths.get(s"$src2/p1.txt"), part1.mkString("\n").getBytes)
    sc.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    val q2 = F1Pipeline.startUnified(spark, src2, tmp("f1tablesQ2"), tmp("f1ckptQ2"),
      trigger = Trigger.ProcessingTime("50 milliseconds"), engine = blocking)
    val stopper = new Thread(() => q2.stop())
    stopper.setDaemon(true)
    try {
      q2.processAllAvailable()
      // once this job is seen, every job of q2's triggers has been recorded
      sc.setJobDescription("f1-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      awaitJob("f1-marker")
      val during = jobs.asScala.toSeq.filter(j => j._1 >= t0 && j._4 != "f1-marker")
      assert(during.nonEmpty)
      val foreign = during.filter(j => j._2 != q2.id.toString || j._3 != q2.runId.toString)

      armed.set(true)
      Files.write(java.nio.file.Paths.get(s"$src2/p2.txt"), part2.mkString("\n").getBytes)
      awaitJob("f1-blocking")
      // stop() on a helper thread, so a stop that never returns fails the
      // test instead of hanging it
      stopper.start()
      stopper.join(10000)
      val problems = Seq(
        Option.when(foreign.nonEmpty)(s"${foreign.size} of ${during.size} jobs of the " +
          s"second query's triggers carry another (query id, job group): " +
          foreign.map(j => (j._2, j._3)).distinct.mkString(", ")),
        Option.when(stopper.isAlive)(
          "stop() did not return within 10 s: the blocked sink job was not cancelled")).flatten
      if (problems.nonEmpty) fail(problems.mkString("; "))
    } finally {
      if (stopper.getState == Thread.State.NEW) q2.stop()
      sc.removeSparkListener(listener)
      // do not leave the sleeping task holding an executor slot if the
      // cancellation under test failed
      sc.cancelAllJobs()
    }
  }

  test("coalescing upsert is idempotent under batch replay (U3)") {
    val path = tmp("lapsink") + "/lap_data"
    val frag1 = Seq((1, 1, Some(92.5), None: Option[Double], 10L))
      .toDF("driver_number", "lap_number", "lap_time", "sector_1_time", "line_id")
    val frag2 = Seq((1, 1, None: Option[Double], Some(28.1), 11L))
      .toDF("driver_number", "lap_number", "lap_time", "sector_1_time", "line_id")
    val keys = Seq("driver_number", "lap_number")

    TableSink.coalescingUpsert(spark, path, TableSink.withSeq(frag1, 1), keys)
    TableSink.coalescingUpsert(spark, path, TableSink.withSeq(frag2, 2), keys)
    val once = spark.read.parquet(path).collect()
    assert(once.length == 1)
    assert(once.head.getAs[Double]("lap_time") == 92.5)      // kept from batch 1
    assert(once.head.getAs[Double]("sector_1_time") == 28.1) // filled by batch 2

    // replay batch 2 (at-least-once delivery) → nothing changes
    TableSink.coalescingUpsert(spark, path, TableSink.withSeq(frag2, 2), keys)
    val replayed = spark.read.parquet(path).collect()
    assert(replayed.length == 1)
    assert(replayed.head.getAs[Double]("lap_time") == 92.5)
    assert(replayed.head.getAs[Double]("sector_1_time") == 28.1)
  }

  test("partitioned coalescing upsert rewrites only touched partitions (U3 at scale)") {
    val path = tmp("lapsinkP") + "/lap_data"
    val keys = Seq("driver_number", "lap_number")
    def snapshot(sub: String): Map[String, Array[Byte]] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(path, sub)
      Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p)).toMap
    }

    val b1 = Seq(
      (1, 1, Some(92.5), None: Option[Double], 10L),
      (2, 1, Some(95.0), None: Option[Double], 11L))
      .toDF("driver_number", "lap_number", "lap_time", "sector_1_time", "line_id")
    TableSink.partitionedCoalescingUpsert(spark, path,
      TableSink.withSeq(b1, 1), keys, "driver_number")
    val before = snapshot("driver_number=1")
    assert(before.nonEmpty)
    assert(before.keys.exists(_.endsWith(".parquet")), before.keys.toSeq)

    // merge a batch touching ONLY driver 2
    val b2 = Seq((2, 1, None: Option[Double], Some(30.2), 12L))
      .toDF("driver_number", "lap_number", "lap_time", "sector_1_time", "line_id")
    TableSink.partitionedCoalescingUpsert(spark, path,
      TableSink.withSeq(b2, 2), keys, "driver_number")

    // driver 1's partition directory is byte-identical — never rewritten
    val after = snapshot("driver_number=1")
    assert(after.keySet == before.keySet, s"${before.keySet} vs ${after.keySet}")
    before.foreach { case (f, bytes) =>
      assert(java.util.Arrays.equals(bytes, after(f)), s"$f changed bytes") }

    // driver 2 got the coalescing-merge semantics
    val rows = spark.read.parquet(path).orderBy("driver_number").collect()
    assert(rows.length == 2)
    val d2 = rows(1)
    assert(d2.getAs[Int]("driver_number") == 2)
    assert(d2.getAs[Double]("lap_time") == 95.0)      // kept from batch 1
    assert(d2.getAs[Double]("sector_1_time") == 30.2) // filled by batch 2

    // replay of batch 2 is idempotent, and driver 1 still untouched
    TableSink.partitionedCoalescingUpsert(spark, path,
      TableSink.withSeq(b2, 2), keys, "driver_number")
    assert(spark.read.parquet(path).count() == 2)
    val replayed = snapshot("driver_number=1")
    before.foreach { case (f, bytes) =>
      assert(java.util.Arrays.equals(bytes, replayed(f)), s"$f changed on replay") }
  }

  test("partitioned coalescing upsert: schema drift triggers a uniform full rewrite") {
    val path = tmp("lapsinkD") + "/lap_data"
    val keys = Seq("driver_number", "lap_number")
    val b1 = Seq((1, 1, Some(92.5), 10L), (2, 1, Some(95.0), 11L))
      .toDF("driver_number", "lap_number", "lap_time", "line_id")
    TableSink.partitionedCoalescingUpsert(spark, path,
      TableSink.withSeq(b1, 1), keys, "driver_number")

    // batch 2 carries a NEW column and touches only driver 2: a pruned
    // rewrite would leave driver 1's files without the column
    val b2 = Seq((2, 1, Some(28.1), 12L))
      .toDF("driver_number", "lap_number", "sector_1_time", "line_id")
    TableSink.partitionedCoalescingUpsert(spark, path,
      TableSink.withSeq(b2, 2), keys, "driver_number")

    val rows = spark.read.parquet(path).orderBy("driver_number").collect()
    assert(rows.length == 2)
    // every partition re-wrote with the uniform widened schema
    assert(rows.forall(_.schema.fieldNames.contains("sector_1_time")))
    assert(rows(0).getAs[Any]("sector_1_time") == null) // driver 1: filled as null
    assert(rows(1).getAs[Double]("sector_1_time") == 28.1)
    assert(rows(1).getAs[Double]("lap_time") == 95.0) // coalescing kept batch 1's value
  }

  test("compact: collapses micro-batch file fragmentation, preserves rows") {
    val path = tmp("compactsink") + "/telemetry"
    // simulate 12 micro-batch appends → ≥12 parquet files
    (1 to 12).foreach { i =>
      TableSink.append(path, Seq((i, i * 10.0)).toDF("driver_number", "speed"))
    }
    def parquetFiles(): Seq[java.io.File] =
      new java.io.File(path).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles().size >= 12)
    val before = spark.read.parquet(path).collect().map(_.toString).sorted

    TableSink.compact(spark, path) // 12 tiny rows ≪ targetBytes → one file
    assert(parquetFiles().size == 1, parquetFiles().map(_.getName))
    val after = spark.read.parquet(path).collect().map(_.toString).sorted
    assert(after.sameElements(before))
  }

  test("keyed upsert: later _seq wins, replay idempotent (U1)") {
    val path = tmp("sessink") + "/sessions"
    val v1 = Seq((9001, "Quali v1", 5L)).toDF("session_key", "name", "line_id")
    val v2 = Seq((9001, "Quali v2", 3L)).toDF("session_key", "name", "line_id")
    TableSink.upsert(spark, path, TableSink.withSeq(v1, 1), Seq("session_key"))
    TableSink.upsert(spark, path, TableSink.withSeq(v2, 2), Seq("session_key"))
    assert(spark.read.parquet(path).head().getAs[String]("name") == "Quali v2")
    TableSink.upsert(spark, path, TableSink.withSeq(v1, 1), Seq("session_key"))
    // replaying the OLDER batch must not regress the row (lower _seq loses)
    assert(spark.read.parquet(path).head().getAs[String]("name") == "Quali v2")
    assert(spark.read.parquet(path).count() == 1)
  }

  test("unified pipeline through the JDBC sink (embedded Derby) converges like parquet") {
    val src = tmp("f1srcJ")
    val ckpt = tmp("f1ckptJ")
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val target = graft.sinks.JdbcSink.JdbcTarget(
      "jdbc:derby:memory:f1jdbc;create=true", props)
    val (part1, part2) = Fixtures.pyLines.splitAt(6)
    Files.write(java.nio.file.Paths.get(s"$src/p1.txt"), part1.mkString("\n").getBytes)
    val q = F1Pipeline.startUnifiedJdbc(spark, src, target, ckpt,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    try {
      q.processAllAvailable()
      Files.write(java.nio.file.Paths.get(s"$src/p2.txt"), part2.mkString("\n").getBytes)
      q.processAllAvailable()
    } finally q.stop()

    def table(name: String) = spark.read.jdbc(target.url, name, props)
    // cross-batch upsert convergence through read-merge-overwrite
    val laps = table("lap_data").orderBy("driver_number", "lap_number").collect()
    assert(laps.length == 2)
    assert(math.abs(laps.head.getAs[Double]("lap_time") - 92.633) < 1e-9)
    assert(laps.head.getAs[Int]("speed_trap") == 315) // merged across batches
    assert(table("drivers").count() == 3)
    assert(table("weather").count() == 3)
    assert(table("telemetry").count() == 5)
    assert(table("sessions").count() == 1)
    assert(table("race_control").count() == 2) // dedup-append collapsed the dup
  }

  test("per-topic queries with watermarked race-control dedup (ST2/A2)") {
    val src = tmp("f1src2")
    val tables = tmp("f1tables2")
    val ckpt = tmp("f1ckpt2")
    Files.write(java.nio.file.Paths.get(s"$src/all.txt"),
      Fixtures.pyLines.mkString("\n").getBytes)
    val queries = F1Pipeline.startPerTopic(spark, src, tables, ckpt,
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())

    assert(spark.read.parquet(s"$tables/weather").count() == 3)
    assert(spark.read.parquet(s"$tables/telemetry").count() == 5)
    assert(spark.read.parquet(s"$tables/car_positions").count() == 5)
    // 3 raw race-control rows, one duplicated msg_id → 2 after streaming dedup
    assert(spark.read.parquet(s"$tables/race_control").count() == 2)
  }
}
