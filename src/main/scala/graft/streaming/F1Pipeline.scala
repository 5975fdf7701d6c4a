package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{F1Transforms, StagePool}
import graft.sinks.{MergeEngine, ParquetSwapMergeEngine, TableSink}
import graft.sources.EventSource
import graft.sources.EventSource.WireFormat

/** The full streaming ETL (SURVEY §3.1 / §2.8): Structured Streaming over
  * the capture directory → per-topic transforms → multi-table sinks.
  *
  * Reference mechanisms → Spark mappings:
  *  - 100 ms adaptive batch cadence (ST1, main_supabase.py:79,173-185)
  *    → `Trigger.ProcessingTime` (configurable);
  *  - per-topic monitor processes sharing one file with independent offsets
  *    (ST2, orchestrator-simple.py:24-49) → [[startPerTopic]]: N concurrent
  *    streaming queries on one session, independent checkpoints;
  *  - one transaction per batch across 7 tables (S6, supabase_loader.py:134-172)
  *    → [[startUnified]]: one foreachBatch deriving every table; Spark has
  *    no cross-table transaction, so the contract is at-least-once delivery
  *    + idempotent `_seq`-ordered merges in [[TableSink]] (documented);
  *  - cross-batch message-id dedup with an unbounded in-memory set
  *    (A2/ST6, monitor_race_control.py:38,124-149) → `withWatermark` +
  *    `dropDuplicates` — bounded state store instead of unbounded set;
  *  - crash-unsafe byte-offset tailing (S2, extractor.py:60-80) → file
  *    source + checkpointed offsets, exactly-once source tracking.
  */
object F1Pipeline {

  /** Which derived tables the unified pipeline maintains, with their sink
    * semantics (upsert keys or append).
    */
  sealed trait SinkKind
  case class Upsert(keys: Seq[String]) extends SinkKind
  /** Per-column last-non-null upsert over a `partitionCol`-partitioned
    * table layout: each merge rewrites only the partitions present in the
    * batch (see [[TableSink.partitionedCoalescingUpsert]]) — the scale
    * path for a high-churn keyed table that outgrows dimension-sized full
    * rewrites.
    */
  case class PartitionedCoalescing(keys: Seq[String], partitionCol: String) extends SinkKind
  case object Append extends SinkKind
  /** Append with cross-batch key dedup: new rows anti-joined against the
    * existing table (A9/A2 — the reference seeds its dedup set from
    * `SELECT id … WHERE session_id=$1`, monitor_race_control.py:87-92;
    * here the table itself is the state).
    */
  case class DedupAppend(key: String) extends SinkKind

  /** (table, source topics, transform, sink semantics). Source topics gate
    * per-batch work: a micro-batch carrying no DriverList lines skips the
    * drivers merge entirely — in a live stream most batches touch only a
    * few topics, so this avoids 8 read-merge-write jobs per batch.
    */
  val tableSinks: Seq[(String, Set[String], DataFrame => DataFrame, SinkKind)] = Seq(
    ("sessions", Set("SessionInfo"), F1Transforms.sessions _, Upsert(Seq("session_key"))),
    ("drivers", Set("DriverList"), F1Transforms.drivers _, Upsert(Seq("driver_number"))),
    ("lap_data", Set("TimingData", "TimingAppData"),
      (e: DataFrame) => F1Transforms.laps(e),
      PartitionedCoalescing(Seq("driver_number", "lap_number"), "driver_number")),
    ("positions", Set("TimingData"), F1Transforms.positionsFromTiming _, Append),
    ("telemetry", Set("CarData.z"), F1Transforms.telemetry _, Append),
    ("car_positions", Set("Position.z"), F1Transforms.carPositions _, Append),
    ("race_control", Set("RaceControlMessages"), F1Transforms.raceControl _, DedupAppend("msg_id")),
    ("weather", Set("WeatherData"), F1Transforms.weather _, Append))

  /** Sessions/drivers/laps need `line_id` to survive into the sink for
    * `_seq`; transforms that already drop it get it re-attached as 0 (their
    * outputs are append-only, order within batch irrelevant).
    */
  private def ensureLineId(df: DataFrame): DataFrame =
    if (df.columns.contains("line_id")) df else df.withColumn("line_id", lit(0L))

  /** The four per-kind write operations a batch load dispatches to — one
    * implementation per storage backend, so the batch mechanics
    * (line_id assignment, caching, topic-presence gating, `_seq`
    * attachment, seq-column stripping) exist exactly once.
    */
  private trait BatchSinkOps {
    def upsert(table: String, out: DataFrame, keys: Seq[String]): Unit
    def partitionedCoalescing(table: String, out: DataFrame, keys: Seq[String],
        partitionCol: String): Unit
    def append(table: String, out: DataFrame): Unit
    def dedupAppend(table: String, out: DataFrame, key: String): Unit
  }

  /** Each table's read-merge-write is independent (distinct paths/tables,
    * no shared session conf — [[TableSink]] mutates nothing session-wide),
    * and Spark schedules jobs submitted from multiple threads concurrently,
    * so the per-batch loads run on [[graft.operators.StagePool]] (one
    * thread per table) and overlap instead of serializing their
    * driver/commit latencies.
    */
  private def loadBatchWith(events: DataFrame, batchId: Long,
      ops: BatchSinkOps): Unit = {
    // The streaming source carries a placeholder line_id (see EventSource);
    // inside foreachBatch this is a plain batch frame, so assign the real
    // in-batch arrival order here.
    val cached = events.withColumn("line_id", monotonically_increasing_id()).cache()
    try {
      // one tiny job over the cached batch decides which tables have work;
      // it also materializes the cache before the concurrent table jobs
      // race to compute it
      val presentTopics = cached.select("topic").distinct()
        .collect().map(_.getString(0)).toSet
      val pending = tableSinks.collect {
        case (name, topics, transform, kind) if topics.exists(presentTopics) =>
          StagePool.submit(cached.sparkSession) {
            val out = TableSink.withSeq(ensureLineId(transform(cached)), batchId)
            kind match {
              case Upsert(keys)     => ops.upsert(name, out, keys)
              case PartitionedCoalescing(keys, pc) =>
                ops.partitionedCoalescing(name, out, keys, pc)
              case Append           => ops.append(name, out.drop("_batch", "_line", "line_id"))
              // keeps (_batch, _line) so first-wins is deterministic; the
              // sink consumes them before writing
              case DedupAppend(key) => ops.dedupAppend(name, out.drop("line_id"), key)
            }
          }
      }
      // Await ALL tables before declaring the batch done (and before the
      // finally-unpersist): a failed table fails the batch, but only after
      // its siblings finish, so no write races a cache eviction.
      StagePool.getAll(pending)
    } finally cached.unpersist()
  }

  /** Load one micro-batch into every derived table (S6). Also used by the
    * batch (non-streaming) pipeline with batchId=0. `engine` is the
    * storage-backend seam ([[graft.sinks.MergeEngine]]): the default is the
    * parquet directory-swap; an ACID deployment passes a Delta/Iceberg
    * implementation here and nothing else changes.
    */
  def loadBatch(spark: SparkSession, events: DataFrame, tablesDir: String,
      batchId: Long, engine: MergeEngine = ParquetSwapMergeEngine): Unit =
    loadBatchWith(events, batchId, new BatchSinkOps {
      def upsert(table: String, out: DataFrame, keys: Seq[String]): Unit =
        engine.upsert(spark, s"$tablesDir/$table", out, keys)
      def partitionedCoalescing(table: String, out: DataFrame, keys: Seq[String],
          partitionCol: String): Unit =
        engine.partitionedCoalescingUpsert(spark, s"$tablesDir/$table", out,
          keys, partitionCol)
      def append(table: String, out: DataFrame): Unit =
        engine.append(s"$tablesDir/$table", out)
      def dedupAppend(table: String, out: DataFrame, key: String): Unit =
        engine.dedupAppend(spark, s"$tablesDir/$table", out, key)
    })

  /** [[loadBatch]] against a JDBC database instead of parquet — the
    * reference's actual deployment (Postgres/Supabase,
    * supabase_loader.py:134-172). Same [[tableSinks]] seam, same batch
    * mechanics, routed through [[graft.sinks.JdbcSink]]'s batched writes.
    */
  def loadBatchJdbc(spark: SparkSession, events: DataFrame,
      target: graft.sinks.JdbcSink.JdbcTarget, batchId: Long): Unit =
    loadBatchWith(events, batchId, new BatchSinkOps {
      def upsert(table: String, out: DataFrame, keys: Seq[String]): Unit =
        graft.sinks.JdbcSink.upsert(spark, target, table, out, keys)
      // a keyed SQL merge already touches only the affected rows — the
      // partition-pruned rewrite is a parquet-layout concern
      def partitionedCoalescing(table: String, out: DataFrame, keys: Seq[String],
          partitionCol: String): Unit =
        graft.sinks.JdbcSink.coalescingUpsert(spark, target, table, out, keys)
      def append(table: String, out: DataFrame): Unit =
        graft.sinks.JdbcSink.append(target, table, out)
      def dedupAppend(table: String, out: DataFrame, key: String): Unit =
        graft.sinks.JdbcSink.dedupAppend(spark, target, table, out, key)
    })

  /** The one starter behind every unified pipeline: `events` with per-batch
    * observed metrics (rows + corrupt lines, ST5/T13, surfaced in
    * QueryProgress via [[Metrics.observed]]) → `load` per micro-batch.
    */
  private def startForeachBatch(events: DataFrame, queryName: String,
      checkpointDir: String, trigger: Trigger)(
      load: (DataFrame, Long) => Unit): StreamingQuery =
    Metrics.observed(events).writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => load(batch, batchId) }
      .start()

  /** Unified streaming pipeline with the JDBC sink ([[loadBatchJdbc]]). */
  def startUnifiedJdbc(spark: SparkSession, sourceDir: String,
      target: graft.sinks.JdbcSink.JdbcTarget, checkpointDir: String,
      format: WireFormat = WireFormat.PyList,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds"),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    startForeachBatch(EventSource.readStream(spark, sourceDir, format, maxFilesPerTrigger),
        "f1_unified_jdbc", checkpointDir, trigger) { (batch, batchId) =>
      loadBatchJdbc(spark, batch, target, batchId)
    }

  /** Unified pipeline: one streaming query, all tables per micro-batch.
    *
    * `maxFilesPerTrigger` is the replay-pacing knob (ST1): combined with
    * `trigger` it reproduces the reference's 100 ms-paced trickle replay
    * (config.py:36) — bound files-per-batch instead of ingesting the whole
    * backlog in one micro-batch. Per-batch observed metrics
    * (rows + corrupt lines, ST5/T13) ride on the frame via
    * [[Metrics.observed]] and surface in QueryProgress.
    */
  def startUnified(spark: SparkSession, sourceDir: String, tablesDir: String,
      checkpointDir: String, format: WireFormat = WireFormat.PyList,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds"),
      maxFilesPerTrigger: Option[Int] = None,
      engine: MergeEngine = ParquetSwapMergeEngine): StreamingQuery =
    startForeachBatch(EventSource.readStream(spark, sourceDir, format, maxFilesPerTrigger),
        "f1_unified", checkpointDir, trigger) { (batch, batchId) =>
      loadBatch(spark, batch, tablesDir, batchId, engine)
    }

  /** Unified pipeline fed from a LIVE network feed (S1:
    * [[graft.sources.EventSource.readLiveFeed]]) instead of the file
    * tail: the full 8-table ETL off a TCP line stream. Delivery caveat
    * is the socket source's (at-most-once, no replayable offsets) — the
    * idempotent `_seq` merges still make whatever arrives converge; the
    * ETL of record stays on the checkpointed file tail, and a production
    * live deployment bridges the feed into Kafka for replayability.
    */
  def startUnifiedLive(spark: SparkSession, host: String, port: Int,
      tablesDir: String, checkpointDir: String,
      format: WireFormat = WireFormat.PyList,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds")): StreamingQuery =
    startForeachBatch(EventSource.readLiveFeed(spark, host, port, format),
        "f1_unified_live", checkpointDir, trigger) { (batch, batchId) =>
      loadBatch(spark, batch, tablesDir, batchId)
    }

  /** The four monitor topics, in the reference's launch order
    * (`orchestrator-simple.py:26-31` script_map). */
  val MonitorTopics: Seq[String] =
    Seq("weather", "telemetry", "car_positions", "race_control")

  /** Per-topic parallelism (ST2): independent queries with independent
    * checkpoints — the monitors' process-level parallelism, minus the
    * processes. Race control gets the watermarked streaming dedup (A2).
    * `maxFilesPerTrigger` paces each query's replay independently (ST1).
    */
  def startPerTopic(spark: SparkSession, sourceDir: String, tablesDir: String,
      checkpointRoot: String, format: WireFormat = WireFormat.PyList,
      trigger: Trigger = Trigger.ProcessingTime("100 milliseconds"),
      maxFilesPerTrigger: Option[Int] = None,
      topics: Seq[String] = MonitorTopics): Seq[StreamingQuery] = {
    val unknown = topics.filterNot(MonitorTopics.contains)
    require(unknown.isEmpty,
      s"unknown monitor topic(s) ${unknown.mkString(",")} — " +
        s"valid: ${MonitorTopics.mkString(",")}")

    def sink(name: String)(build: DataFrame => DataFrame): StreamingQuery =
      build(Metrics.observed(
        EventSource.readStream(spark, sourceDir, format, maxFilesPerTrigger)))
        .writeStream
        .queryName(s"f1_$name")
        .option("checkpointLocation", s"$checkpointRoot/$name")
        .option("path", s"$tablesDir/$name")
        .trigger(trigger)
        .format("parquet")
        .outputMode("append")
        .start()

    val builders: Map[String, () => StreamingQuery] = Map(
      "weather" -> (() => sink("weather")(e => F1Transforms.weather(e).drop("line_id"))),
      "telemetry" -> (() => sink("telemetry")(F1Transforms.telemetry)),
      "car_positions" -> (() => sink("car_positions")(F1Transforms.carPositions)),
      // A2: drop duplicate message ids across batches; watermark bounds the
      // dedup state (the reference's `processed_ids` set grows forever).
      "race_control" -> (() => sink("race_control")(e =>
        F1Transforms.raceControl(e).drop("line_id")
          .withWatermark("timestamp", "10 minutes")
          .dropDuplicatesWithinWatermark("msg_id"))))
    MonitorTopics.filter(topics.contains).map(t => builders(t)())
  }
}
