package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.Dashboard
import graft.sources.EventSource
import graft.streaming.F1Pipeline

/** The F1 workloads, both through one run of the unified pipeline with its
  * default engine and trigger, one segment file per trigger:
  *  - `f1_backfill`: a backlog of large segments landed at once and drained
  *    with no pacing, then a closed-loop dashboard client polls the
  *    finished tables;
  *  - `f1_trickle`: small segments landed one at a time, each as soon as
  *    the previous one is committed, with one dashboard poll after each
  *    commit.
  * Both start with the same warm-up: the capture's first segments go
  * through the same query, one at a time, and one poll reads the tables.
  * The streamed tables are checked against one batch load of the whole
  * capture.
  */
object F1Bench {

  /** Warm-up: segments and their race seconds. It ends after the first
    * sector time, so every polled table then holds a data file.
    */
  val WarmSegments = 1
  val WarmRaceSeconds = 30
  /** Backfill: segments per measured second, race seconds per segment,
    * and dashboard polls after the drain.
    */
  val BackfillSegmentsPerSecond = 0.4
  val BackfillRaceSeconds = 240
  val Polls = 4
  /** Trickle: segments per measured second, and race seconds per segment. */
  val TrickleSegmentsPerSecond = 0.4
  val TrickleRaceSeconds = 10
  /** Tables the dashboard reads, with their time column. */
  val PollTables: Seq[(String, String)] = Seq("sessions" -> "date",
    "lap_data" -> "timestamp", "positions" -> "timestamp", "telemetry" -> "timestamp",
    "car_positions" -> "timestamp", "race_control" -> "timestamp", "weather" -> "timestamp")
  val SinkTables: Seq[String] = F1Pipeline.tableSinks.map(_._1)

  /** Capture files in landing order, with their line counts. */
  final case class Landing(files: Seq[String], lines: Seq[Int], bytes: Seq[Long])

  def writeFiles(dir: String, chunks: Seq[Seq[Capture.Line]], prefix: String): Landing = {
    val written = chunks.zipWithIndex.map { case (c, i) =>
      val p = new File(dir, f"$prefix-$i%06d.txt").toPath
      (p.toString, Capture.writeFile(p, c))
    }
    Landing(written.map(_._1), chunks.map(_.size), written.map(_._2))
  }

  /** Lines split at the race milliseconds `bounds` (ascending, the last
    * the capture's end): one chunk per bound.
    */
  def chunk(lines: Seq[Capture.Line], bounds: Seq[Long]): Seq[Seq[Capture.Line]] = {
    val by = lines.groupBy(l => bounds.indexWhere(l.raceMs < _))
    bounds.indices.map(i => by.getOrElse(i, Nil))
  }

  def pollOnce(spark: SparkSession, tablesDir: String): Array[org.apache.spark.sql.Row] = {
    val df = Dashboard.allStats(PollTables.map { case (t, c) =>
      (t, spark.read.parquet(s"$tablesDir/$t"), c)
    }, current_timestamp())
    val rows = df.collect()
    Sweep.noteScan(df)
    rows
  }

  /** One batch load of `files`, concatenated in order into one capture. */
  private def batchLoad(ctx: Ctx, files: Seq[String], ref: String): Double = {
    val all = new File(ref, "capture.txt")
    all.getParentFile.mkdirs()
    val out = new java.io.FileOutputStream(all)
    try files.foreach(f => out.write(java.nio.file.Files.readAllBytes(new File(f).toPath)))
    finally out.close()
    val t0 = System.nanoTime()
    ctx.tracer.span("batch.load_batch")(
      F1Pipeline.loadBatch(ctx.spark, EventSource.readBatch(ctx.spark, all.getPath), s"$ref/tables", 0L))
    (System.nanoTime() - t0) / 1e9
  }

  /** Every polled table holds a data file. Before a table's first
    * non-empty batch its directory holds none, and reading it fails.
    */
  private def tablesReady(tables: String): Boolean =
    PollTables.forall { case (t, _) =>
      Files2.sizeAndCount(s"$tables/$t")._2 > 0
    }

  /** One timed dashboard poll; a failed poll counts as failed, and is not
    * retried.
    */
  private def poll(ctx: Ctx, tables: String, into: mutable.ArrayBuffer[Double]): Unit = {
    val t0 = System.nanoTime()
    ctx.attempted.incrementAndGet()
    try {
      ctx.tracer.span("dashboard.allstats")(pollOnce(ctx.spark, tables))
      into += (System.nanoTime() - t0) / 1e6
    } catch { case e: Throwable => ctx.fail("dashboard poll", e) }
  }

  def run(ctx: Ctx): Unit = {
    val trickle = ctx.workload == "f1_trickle"
    val (nSegments, segS) =
      if (trickle) (math.max(2, math.round(ctx.seconds * TrickleSegmentsPerSecond).toInt), TrickleRaceSeconds)
      else (math.max(2, math.round(ctx.seconds * BackfillSegmentsPerSecond).toInt), BackfillRaceSeconds)
    val bounds = (1 to WarmSegments).map(_ * WarmRaceSeconds * 1000L) ++
      (1 to nSegments).map(k => (WarmSegments * WarmRaceSeconds + k * segS) * 1000L)
    (1 to 3).foreach(_ => ctx.setupRep(ctx.newSession()))
    val (landing, zShare) = ctx.generation {
      val lines = Capture.generate(ctx.seed, (bounds.last / 1000).toInt)
      (writeFiles(ctx.dir("stage"), chunk(lines, bounds), "segment"), Capture.zShare(lines))
    }
    val src = ctx.dir("src"); val tables = ctx.dir("tables"); val ckpt = ctx.dir("ckpt")
    val (warm, measured) = landing.files.splitAt(WarmSegments)
    val pollMs = mutable.ArrayBuffer[Double]()
    val landedEpochMs = mutable.Map[String, Long]()
    var startEpochMs = 0L
    val q = ctx.warmUp {
      val q = ctx.tracer.span("streaming.start_unified")(
        F1Pipeline.startUnified(ctx.spark, src, tables, ckpt, maxFilesPerTrigger = Some(1)))
      warm.foreach { f =>
        Files2.land(f, src)
        ctx.tracer.span("streaming.drain")(q.processAllAvailable())
      }
      if (!tablesReady(tables)) sys.error("a polled table is still empty after the warm-up")
      poll(ctx, tables, mutable.ArrayBuffer[Double]())
      q
    }
    val qid = q.id.toString
    try {
      ctx.beginMeasure()
      ctx.tracer.span(s"workload.${ctx.workload}") {
        startEpochMs = System.currentTimeMillis()
        if (trickle) measured.foreach { f =>
          landedEpochMs(new File(f).getName) = System.currentTimeMillis()
          Files2.land(f, src)
          ctx.tracer.span("streaming.drain")(q.processAllAvailable())
          poll(ctx, tables, pollMs)
        } else {
          measured.foreach { f =>
            landedEpochMs(new File(f).getName) = startEpochMs
            Files2.land(f, src)
          }
          ctx.tracer.span("streaming.drain")(q.processAllAvailable())
          (1 to Polls).foreach(_ => poll(ctx, tables, pollMs))
        }
      }
    } finally q.stop()
    ctx.endMeasure()

    // commit latency per trigger: from when it could start (its segment's
    // landing, or the end of the trigger before) to its end, from the
    // source log and the query progress
    val batchOf = Files2.batchOfFiles(ckpt)
    val names = measured.map(f => new File(f).getName)
    val measuredBatches = names.flatMap(batchOf.get).toSet
    val trig = ctx.progress.of(qid).filter(t => measuredBatches.contains(t.batchId))
    val uncommitted = names.count(f => !batchOf.get(f).exists(b => trig.exists(_.batchId == b)))
    ctx.attempted.addAndGet(names.size)
    ctx.failed.addAndGet(uncommitted)
    if (uncommitted > 0) ctx.failures.add(s"$uncommitted landed files never committed")
    if (trig.size != names.size)
      ctx.validity += s"${trig.size} triggers for ${names.size} segments; each trigger should read one"
    var prevEnd = 0L
    val commit = trig.map { t =>
      val landed = names.filter(f => batchOf.get(f).contains(t.batchId)).map(landedEpochMs).max
      val ms = (t.endEpochMs - math.max(landed, prevEnd)).toDouble
      prevEnd = t.endEpochMs
      ms
    }
    val measuredLines = landing.lines.drop(WarmSegments).sum
    ctx.e2e("retained_heap_mb") = HeapMonitor.retainedMb
    ctx.detail("heap_peak_mb") = HeapMonitor.peakMb
    ctx.e2e("commit_p50_ms") = Stats.median(commit)
    ctx.e2e("read_p50_ms") = Stats.median(pollMs.toSeq)
    ctx.e2e("input_rows_per_s") = measuredLines / (trig.map(_.totalMs).sum / 1000.0)
    val (commitName, rateName) =
      if (trickle) ("freshness", "trickle_lines_per_s") else ("segment_commit", "backfill_lines_per_s")
    ctx.detail(rateName) = ctx.e2e("input_rows_per_s")
    ctx.detail(s"${commitName}_p50_ms") = ctx.e2e("commit_p50_ms")
    ctx.detail(s"${commitName}_ms") = commit
    ctx.detail("drain_wall_s") = (trig.map(_.endEpochMs).max - startEpochMs) / 1000.0
    ctx.detail("dashboard_poll_p50_ms") = ctx.e2e("read_p50_ms")
    ctx.detail("dashboard_poll_ms") = pollMs.toSeq
    ctx.detail("trigger_ms") = trig.map(_.totalMs)
    ctx.detail("lines") = measuredLines
    ctx.detail("lines_per_segment") = landing.lines.drop(WarmSegments)
    ctx.detail("bytes_per_line") = landing.bytes.sum.toDouble / landing.lines.sum
    ctx.detail("z_topic_share") = zShare
    ctx.detail("segments") = names.size
    ctx.detail("triggers") = trig.size
    ctx.measuredTriggers = trig
    ctx.backlogMaxLines = if (trickle) landing.lines.drop(WarmSegments).max else measuredLines

    // correctness: one batch load of the whole capture, in landing order
    val allNames = landing.files.map(f => new File(f).getName)
    ctx.detail("batch_build_s") = batchLoad(ctx, allNames.map(f => new File(src, f).getPath), ctx.dir("ref"))
    ctx.tracer.span("check.tables")(checkTables(ctx, tables, ctx.dir("ref") + "/tables"))
      .foreach(ctx.mismatches += _)
    val observedLines = trig.map(_.nLines).sum
    if (observedLines != measuredLines)
      ctx.mismatches += s"pipeline observed $observedLines lines, landed $measuredLines"

    if (ctx.trace) {
      val (sz, n) = Files2.sizeAndCount(tables)
      ctx.layer("sinks.bytes_written_per_input_byte") = ctx.bytesWritten.toDouble / landing.bytes.drop(WarmSegments).sum
      ctx.layer("sinks.files_end") = n
      ctx.detail("tables_bytes_end") = sz
    }
  }

  /** Tables under `streamed` whose contents differ from those under `ref`:
    * one job compares, per table, both sides' row counts and two order-free
    * hash sums over every column except the merge bookkeeping
    * (`_`-prefixed).
    */
  def checkTables(ctx: Ctx, streamed: String, ref: String): Seq[String] = {
    def side(t: String, dir: String, tag: Int): DataFrame = {
      val df = ctx.spark.read.parquet(s"$dir/$t")
      val cols = df.columns.filterNot(_.startsWith("_")).sorted.map(col)
      df.select(lit(t).as("t"), lit(tag).as("side"), xxhash64(cols: _*).cast("decimal(38,0)").as("h1"),
        hash(cols: _*).cast("long").as("h2"))
    }
    val r = SinkTables.flatMap(t => Seq(side(t, streamed, 0), side(t, ref, 1))).reduce(_ unionByName _)
      .groupBy("t", "side").agg(count(lit(1)).as("n"), sum("h1").as("h1"), sum("h2").as("h2"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.get(3), r.get(4))).toMap
    SinkTables.flatMap { t =>
      val (a, b) = (r.getOrElse((t, 0), (0L, null, null)), r.getOrElse((t, 1), (0L, null, null)))
      ctx.detail(s"rows.$t") = a._1
      if (a != b) Some(s"$t: streamed ${a._1} rows, batch ${b._1} rows, contents differ") else None
    }
  }
}
