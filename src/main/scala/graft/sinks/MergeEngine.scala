package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The storage-backend seam for the F1 tables' keyed maintenance
  * (SURVEY §2.6).
  *
  * [[graft.streaming.F1Pipeline]] dispatches every per-batch table load
  * through one of these operations; the trait is the single point where a
  * deployment swaps the F1 table format. The default, [[ParquetSwapMergeEngine]],
  * is the vanilla-parquet read-merge-write with an atomic-ish directory swap
  * ([[TableSink]] — correct and replay-idempotent, but the swap is not
  * transactional under concurrent readers). [[ManifestMergeEngine]] is the
  * ACID-flavored implementation (file-level manifest log, snapshot-isolated
  * readers, version retention + GC); a Delta `MERGE INTO` / Iceberg `MERGE`
  * backend is likewise one class with the same five operations and identical
  * call sites — the reference's analogue is Postgres transactional upserts
  * (loader.py:159-193, supabase_loader.py:134-172). The search stores
  * ([[graft.operators.LexIndexStore]], [[graft.operators.AnnIndexStore]]
  * and their sidecar and model tables) are manifest-only: they take a
  * [[ManifestMergeEngine]], whose staging, snapshot and maintenance
  * operations are plain methods of that class, not of this seam.
  *
  * Contract shared by every implementation:
  *  - incoming batches carry `(_batch, _line)` arrival-order columns
  *    ([[TableSink.withSeq]]); merges resolve precedence by that
  *    lexicographic order, which makes batch replay idempotent;
  *  - `upsert` is whole-row last-wins per key; `coalescingUpsert` is
  *    per-column last-non-null per key; `partitionedCoalescingUpsert` is the
  *    same merge over a partitioned layout touching only the batch's
  *    partitions; `append` never rewrites; `dedupAppend` appends only keys
  *    absent from the table.
  */
trait MergeEngine {
  /** U1/U2 — keyed upsert, whole-row last-wins by (_batch, _line). */
  def upsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String]): Unit

  /** U3 — per-column last-non-null merge per key. */
  def coalescingUpsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String]): Unit

  /** U3 at scale — coalescing merge over a `partCol`-partitioned layout;
    * IO is O(touched partitions) per merge.
    */
  def partitionedCoalescingUpsert(spark: SparkSession, path: String,
      batch: DataFrame, keys: Seq[String], partCol: String): Unit

  /** U4 — plain append; the high-volume path, never rewrites. */
  def append(path: String, batch: DataFrame): Unit

  /** A9/A2 — append only keys not already present in the table. */
  def dedupAppend(spark: SparkSession, path: String, batch: DataFrame,
      key: String): Unit
}

/** Default engine: vanilla-parquet read-merge-write with staged directory
  * swaps and crash recovery — [[TableSink]]'s semantics, unchanged.
  */
object ParquetSwapMergeEngine extends MergeEngine {
  def upsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String]): Unit =
    TableSink.upsert(spark, path, batch, keys)

  def coalescingUpsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String]): Unit =
    TableSink.coalescingUpsert(spark, path, batch, keys)

  def partitionedCoalescingUpsert(spark: SparkSession, path: String,
      batch: DataFrame, keys: Seq[String], partCol: String): Unit =
    TableSink.partitionedCoalescingUpsert(spark, path, batch, keys, partCol)

  def append(path: String, batch: DataFrame): Unit =
    TableSink.append(path, batch)

  def dedupAppend(spark: SparkSession, path: String, batch: DataFrame,
      key: String): Unit =
    TableSink.dedupAppend(spark, path, batch, key)
}
