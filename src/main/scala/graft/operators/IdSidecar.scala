package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.sinks.ManifestMergeEngine

/** Id-hash-bucketed stored-id sidecar — the structure that makes a
  * store's REPLAY PROBE cost per trigger O(increment + touched buckets
  * + pending), never O(store).
  *
  * Both persisted search stores dedup streaming arrivals against their
  * stored ids (checkpoint replay must heal, not double-index). The
  * natural probe — semi-join the increment against the main data
  * table's id column — scans the WHOLE store every trigger: measured in
  * `ScaleProbe datadom6`, the 5k-vector trigger wall grew 5.6 → 6.5 s
  * from a 1M- to a 2M-row store, a per-trigger term linear in store
  * size that a 100 ms-cadence ingest cannot carry at billions of rows.
  * The main tables cannot re-partition to fix it (`cid`/`tb` layouts
  * are what make SEARCH pruning work), so the store keeps a sidecar of
  * ids only, in the LSM shape the problem actually has:
  *
  *  - `ids/` — the FOLDED layout, partitioned by `ib = pmod(xxhash64(
  *    id), buckets)` (the [[Dedup.streamingMinhashDedup]] `sb`/`bb`
  *    state-store discipline). The probe reads only the increment's own
  *    buckets as a literal `ib IN (…)` partition filter (plan-guarded
  *    in the store specs).
  *  - `ids_pending/` — the per-trigger APPEND LOG (L0): each grow
  *    appends one small unpartitioned file. A first-cut design appended
  *    every increment directly into the bucketed layout; that pays a
  *    min(|increment|, buckets)-directory fanout write per trigger,
  *    measured SLOWER than the scan it replaced at 5k-row arrivals.
  *    One log file per trigger is O(1); the probe scans the pending log
  *    whole (expected small between folds).
  *  - `ids_runs/` — the FOLDED RUNS (L1): [[fold]] drains pending into
  *    ONE id-sorted file per pass, so the in-stream cadence is O(pending)
  *    with a single file create. A first-cut fold went straight into the
  *    bucketed layout; at datadom6 scale that paid the same per-bucket
  *    fanout the pending log exists to avoid (~1k tiny files and ~12 s
  *    per fold at a 1M-id base, and every probe slowed as folds
  *    accreted). Probes prune runs by the pushed `id IN (…)` filter
  *    against each run's id-sorted row-group stats — no partition dirs
  *    needed at run sizes.
  *  - [[compact]] merges runs into the bucketed layout and rewrites its
  *    small files — the O(store-ids) pass that stays on the stores' own
  *    maintenance cadence. A crash between any fold/merge append and its
  *    log clear re-folds on the next pass: duplicate ids are harmless
  *    for a presence probe and coalesce at the next compact.
  *
  * The bucket count is FROZEN per store at first append, sized from the
  * seed corpus (`buckets ≈ nIds / 1024`, clamped to [16, 4096]) and
  * persisted in `ids_meta` — a fixture-sized store folds into 16 small
  * directories while a billion-row store gets a ~4096-way pruning
  * factor. The win regime is the one that needs it: a 250-row trigger
  * against a 4096-bucket billion-row store reads ≤ 250/4096 ≈ 6% of
  * the folded ids plus the pending log; a bulk million-row backfill
  * touches every bucket and amortizes the read over its own size (the
  * probe skips the `isin` when the increment covers all buckets).
  *
  * Commit-order contract (the [[LexIndexStore.appendCorpus]]
  * doclens-first rationale, one level up): the sidecar is the probe
  * AUTHORITY, so its append lands FIRST in every grow path. A crash
  * after the sidecar append but before the data appends leaves the
  * batch's ids recorded-but-dataless — the replay skips them and the
  * batch degrades to absent-from-search (clean loss: no table ever
  * counts it), instead of the reverse order's re-appended DUPLICATE
  * data rows, which would corrupt every future search and aggregate.
  * [[growStaged]] is the one implementation of that order: it stages
  * every table of the grow first and commits only once all staging has
  * succeeded, so a failed staging write commits nothing.
  * Tombstoned ids stay in the sidecar until purge — a deleted id's
  * re-arrival is filtered while its rows are still stored, and
  * re-enters only after [[purge]] physically drops it (the existing
  * re-arrival contract).
  *
  * Pre-sidecar stores (no `ids/` table) fall back to the exact
  * full-scan probe — older indexes keep working, they just pay the old
  * cost until rebuilt.
  */
private[graft] object IdSidecar {

  private[graft] def path(indexPath: String) = s"$indexPath/ids"
  private[graft] def pendingPath(indexPath: String) = s"$indexPath/ids_pending"
  private[graft] def runsPath(indexPath: String) = s"$indexPath/ids_runs"
  private[graft] def metaPath(indexPath: String) = s"$indexPath/ids_meta"

  private[graft] def ib(idCol: String, buckets: Int): Column =
    pmod(xxhash64(col(idCol)), lit(buckets.toLong))

  /** Seed-corpus sizing: ~64k ids per folded bucket (≈0.5 MB parquet),
    * clamped to [16, 4096]. Round 15 re-sized this from ~1k ids/bucket:
    * the measured probe cost at datadom6 scale was FILE-COUNT overhead,
    * not bytes — a 1M-id base in 976 8-KB files cost every 5k-row probe
    * a thousand footer reads while the whole column is 8 MB. Coarser
    * buckets keep partition pruning meaningful at the billion-row end
    * (4096-way) without shattering the small end.
    */
  private def sizeBuckets(nIds: Long): Int =
    math.min(4096L, math.max(16L, nIds / 65536L)).toInt

  private def readBuckets(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine): Option[Int] =
    // the bucket modulus is FROZEN at first append, but this head() was a
    // Spark job paid 2-3× per streaming trigger — cache it per committed
    // snapshot (round-16; an absent ids_meta has no snapshot token and
    // stays uncached, so the sidecar's creation is seen immediately)
    graft.sinks.MetaCache.cached(spark, metaPath(indexPath), "ids_meta",
      engine) {
      engine.read(spark, metaPath(indexPath))
        .map(_.select("buckets").head().getInt(0))
    }

  /** Record `ids` (idCol only) into the sidecar. Call FIRST in every
    * grow path — see the commit-order contract above. The first append
    * freezes the bucket modulus from the seed's row count and writes
    * the FOLDED layout directly; every later append is one small file
    * into the pending log.
    *
    * `backfillFrom` is the GROW-path guard: a grow against a store
    * written before the sidecar existed must NOT seed the fold from its
    * own increment — the first such grow would dedup via the full-scan
    * fallback, but every later grow would probe a sidecar missing the
    * ORIGINAL corpus, re-admitting replayed original ids as "new"
    * (duplicated doclens/postings, double-indexed vectors — permanent).
    * So grow callers pass the store's COMPLETE stored-id frame here; a
    * sidecar-less store's first grow pays one full id-column scan to
    * BACKFILL the fold (the same scan the fallback probe pays every
    * trigger today), and every grow after that is O(increment). Build
    * callers pass None — at build the increment IS the corpus.
    *
    * Seed commit order: folded layout FIRST, `ids_meta` LAST. The meta
    * row is what flips every reader (probe, pending-append, fold) onto
    * the sidecar, so a crash between the two appends must leave meta
    * absent — the next attempt re-seeds (duplicate folded ids are
    * harmless for presence and coalesce at compact) and only then
    * publishes. The reverse order would publish a fold that may be
    * EMPTY: probes would still fall back (ids/ missing) but the first
    * [[fold]] would materialize a layout missing the whole seed corpus.
    */
  def append(indexPath: String, ids: DataFrame, idCol: String,
      engine: ManifestMergeEngine, backfillFrom: Option[DataFrame] = None,
      knownIdCount: Option[Long] = None): Unit =
    commitStaged(ids.sparkSession, indexPath, engine,
      stageAppend(indexPath, ids, idCol, engine, backfillFrom, knownIdCount))

  private def writeBucketsMeta(spark: SparkSession, indexPath: String,
      b: Int, engine: ManifestMergeEngine): Unit = {
    val schema = StructType(Seq(StructField("buckets", IntegerType,
      nullable = false)))
    engine.overwrite(spark, metaPath(indexPath), spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(b)), schema).coalesce(1))
    // write-through: the very next probe/append reads the modulus back
    graft.sinks.MetaCache.put(spark, metaPath(indexPath), "ids_meta",
      engine, Some(b): Option[Int])
  }

  /** [[append]] split in two, for [[growStaged]]: [[stageAppend]] runs
    * the Spark write (pending-log file in steady state; the folded seed
    * layout on first contact) with nothing published; [[commitStaged]]
    * publishes, keeping the seed's folded-before-meta order (meta is a
    * driver-local write, published last).
    */
  private sealed trait Staged
  private final case class PendingStaged(
      staged: ManifestMergeEngine.StagedAppend) extends Staged
  private final case class SeedStaged(
      staged: ManifestMergeEngine.StagedAppend,
      buckets: Int) extends Staged

  private def stageAppend(indexPath: String, ids: DataFrame,
      idCol: String, engine: ManifestMergeEngine,
      backfillFrom: Option[DataFrame] = None,
      knownIdCount: Option[Long] = None): Staged = {
    require(idCol != "ib",
      "id column may not be named 'ib' (reserved for the sidecar bucket)")
    val spark = ids.sparkSession
    readBuckets(spark, indexPath, engine) match {
      case Some(_) =>
        // steady-state grow: one log file, O(1) write fanout
        PendingStaged(engine.stageAppend(spark, pendingPath(indexPath),
          ids.select(col(idCol)).coalesce(1), None))
      case None =>
        val seed = backfillFrom.fold(ids.select(col(idCol)))(stored =>
          stored.select(col(idCol)).unionByName(ids.select(col(idCol))))
        // sizing only: a caller-supplied count skips the extra pass; with
        // a backfill the union's count is unknown and is paid (pre-sidecar
        // grow — rare)
        val b = sizeBuckets(
          if (backfillFrom.isEmpty && knownIdCount.isDefined) knownIdCount.get
          else seed.count())
        // id-sorted within each bucket — see the fold in [[compact]]
        SeedStaged(engine.stageAppend(spark, path(indexPath),
          seed.withColumn("ib", ib(idCol, b))
            .repartition(col("ib"))
            .sortWithinPartitions(col("ib"), col(idCol)), Some("ib")), b)
    }
  }

  private def commitStaged(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine, staged: Staged): Unit =
    staged match {
      case PendingStaged(st) => engine.commitStaged(spark, st)
      case SeedStaged(st, b) =>
        // folded layout FIRST, ids_meta LAST — the seed commit-order
        // contract [[append]] documents
        engine.commitStaged(spark, st)
        writeBucketsMeta(spark, indexPath, b, engine)
    }

  /** One data table's share of a grow: its rows, the partition column
    * they stage under (None: the table's existing layout), and the
    * [[graft.tools.PhaseTimer]] phase that times its commit.
    */
  private[graft] final case class TableAppend(path: String, rows: DataFrame,
      partCol: Option[String], phase: String)

  /** A store grow under the commit-order contract above. The sidecar
    * append of `ids` and every table of `tables` STAGE concurrently on
    * [[StagePool]] (the Spark jobs; the contract orders commits, not
    * writes). Only once EVERY staging write has succeeded do the
    * manifest commits run: the sidecar first, then `tables` in order. A
    * failed staging write therefore commits nothing — the grow is absent
    * and its replay re-runs it whole; the staged files are orphans GC
    * reclaims. [[StagePool.getAll]] awaits every staging job before it
    * rethrows, so none is left running against frames the caller
    * releases on abort. `backfillFrom`/`knownIdCount` are [[append]]'s.
    */
  private[graft] def growStaged(indexPath: String, ids: DataFrame,
      idCol: String, engine: ManifestMergeEngine, sidecarPhase: String,
      tables: Seq[TableAppend], backfillFrom: Option[DataFrame] = None,
      knownIdCount: Option[Long] = None): Unit = {
    val spark = ids.sparkSession
    val sidecar = StagePool.submit(spark) {
      val st = stageAppend(indexPath, ids, idCol, engine, backfillFrom,
        knownIdCount)
      () => commitStaged(spark, indexPath, engine, st)
    }
    val data = tables.map { t =>
      StagePool.submit(spark) {
        val st = engine.stageAppend(spark, t.path, t.rows, t.partCol)
        () => engine.commitStaged(spark, st)
      }
    }
    val commits = StagePool.getAll(sidecar +: data)
    (sidecarPhase +: tables.map(_.phase)).zip(commits).foreach {
      case (phase, commit) => graft.tools.PhaseTimer(phase)(commit())
    }
  }

  /** Increments at or below this id count probe by LITERAL `id IN (…)`
    * pushed to the parquet reader — with [[compact]] sorting each folded
    * bucket by id, row-group min/max stats prune WITHIN the touched
    * buckets, so the read is O(|increment| × touched row-groups) rather
    * than the touched buckets whole. Bigger increments (bulk backfills)
    * fall back to the semi-join form, whose scan they amortize anyway.
    */
  private val IsinProbeMax = 10000

  /** The increment's already-stored ids — probed against the
    * bucket-pruned folded layout UNION the runs UNION the pending log
    * when the sidecar exists, against `fallback` (the main table) when
    * it does not. The `ib` value set is collected to the driver (≤ the
    * stored bucket count) and pushed as a literal partition filter over
    * the base layout (skipped when a bulk backfill covers every bucket
    * anyway); small increments additionally push their id set as a
    * row-group-pruning IN filter ([[IsinProbeMax]]) — which is also what
    * prunes the id-sorted runs — larger ones ride [[Dedup.presentIds]]'
    * broadcast-semi.
    */
  def presentIds(spark: SparkSession, indexPath: String,
      fallback: => DataFrame, increment: DataFrame, idCol: String,
      engine: ManifestMergeEngine): DataFrame =
    (readBuckets(spark, indexPath, engine),
      engine.read(spark, path(indexPath))) match {
      case (Some(buckets), Some(ids)) =>
        // ONE capped collect yields both the increment's id set and its
        // bucket set (ib is a pure function of the id, so the (id, ib)
        // distinct has exactly the id-distinct's cardinality) — round-16,
        // previously two jobs over the increment. A bulk backfill blows
        // the cap and falls back to the two-sided form it amortizes.
        val pairs = increment
          .select(col(idCol), ib(idCol, buckets).as("ib")).distinct()
          .limit(IsinProbeMax + 1).collect()
        def foldedFor(ibs: Seq[Long]) =
          if (ibs.length >= buckets) ids.select(col(idCol))
          else ids.filter(col("ib").isin(ibs: _*)).select(col(idCol))
        def storedOver(folded: DataFrame) =
          Seq(engine.read(spark, runsPath(indexPath)),
            engine.read(spark, pendingPath(indexPath)))
            .flatten.map(_.select(col(idCol)))
            .foldLeft(folded)(_ unionByName _)
        if (pairs.length <= IsinProbeMax) {
          val incIds = pairs.map(_.get(0)).toSeq
          val ibs = pairs.map(_.getLong(1)).distinct.toSeq
          storedOver(foldedFor(ibs))
            .filter(col(idCol).isin(incIds: _*)).distinct()
        } else {
          val ibs = increment.select(ib(idCol, buckets).as("ib")).distinct()
            .collect().map(_.getLong(0)).toSeq
          Dedup.presentIds(storedOver(foldedFor(ibs)), increment, idCol)
        }
      case _ => Dedup.presentIds(fallback, increment, idCol)
    }

  /** Physically drop purged ids — O(touched buckets + pending), the
    * [[ManifestMergeEngine.replacePartitions]] machinery the main tables' purge
    * already uses. No-op on sidecar-less stores.
    */
  def purge(spark: SparkSession, indexPath: String, deletedIds: DataFrame,
      idCol: String, engine: ManifestMergeEngine): Unit =
    (readBuckets(spark, indexPath, engine),
      engine.read(spark, path(indexPath))) match {
      case (Some(buckets), Some(ids)) =>
        val touched = deletedIds.select(ib(idCol, buckets).as("ib"))
          .distinct().collect().map(_.get(0)).toSeq
        if (touched.nonEmpty) {
          val kept = ids.filter(col("ib").isin(touched: _*))
            .join(deletedIds.select(col(idCol)).distinct(), Seq(idCol),
              "left_anti")
            .localCheckpoint(true)
          try engine.replacePartitions(spark, path(indexPath), kept, "ib",
            touched)
          finally Dedup.releaseLocalCheckpoint(kept)
        }
        Seq(runsPath(indexPath), pendingPath(indexPath)).foreach { p0 =>
          engine.read(spark, p0).foreach { p =>
            val keptP = p.join(deletedIds.select(col(idCol)).distinct(),
              Seq(idCol), "left_anti").localCheckpoint(true)
            try engine.overwrite(spark, p0, keptP)
            finally Dedup.releaseLocalCheckpoint(keptP)
          }
        }
      case _ => ()
    }

  /** FOLD the pending log into ONE id-sorted run file, then clear it —
    * O(pending) work and a single file create, NEVER O(store) or
    * O(buckets), which is what lets the streaming loops run it in-stream
    * on a batch cadence (without it the log grows one file per trigger
    * forever and every probe reads it whole — O(triggers-since-
    * maintenance) at the 100 ms cadence the feature exists for). The run
    * is sorted by id so the probes' pushed `IN` filter prunes it at
    * row-group stats. Crash-idempotent in the presence sense: a crash
    * between the run-append and the log clear re-folds on the next pass;
    * duplicated ids cannot change any probe verdict and coalesce at the
    * next [[compact]]'s merge. No-op on sidecar-less stores and empty
    * logs.
    */
  def fold(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine): Unit =
    readBuckets(spark, indexPath, engine).foreach { _ =>
      engine.read(spark, pendingPath(indexPath)).foreach { p =>
        if (!p.isEmpty) {
          val idCol = p.columns.head
          val pinned = p.localCheckpoint(true)
          try {
            engine.append(runsPath(indexPath),
              pinned.coalesce(1).sortWithinPartitions(col(idCol)))
            engine.overwrite(spark, pendingPath(indexPath), pinned.limit(0))
          } finally Dedup.releaseLocalCheckpoint(pinned)
        }
      }
    }

  /** Full maintenance: [[fold]] the pending log, MERGE the accumulated
    * runs into the bucketed base layout (clearing them), then compact
    * the layout's small files — the O(stored-ids) passes that stay on
    * the stores' own [[ManifestMergeEngine.compact]] maintenance cadence while
    * the in-stream cadence runs only the O(pending) fold. Each step is
    * crash-idempotent in the presence sense (re-merged duplicates cannot
    * change a probe verdict and coalesce at the next rewrite). No-op on
    * sidecar-less stores.
    */
  def compact(spark: SparkSession, indexPath: String, engine: ManifestMergeEngine,
      targetBytes: Long): Unit =
    readBuckets(spark, indexPath, engine).foreach { buckets =>
      fold(spark, indexPath, engine)
      engine.read(spark, runsPath(indexPath)).foreach { r =>
        if (!r.isEmpty) {
          val idCol = r.columns.head
          val pinned = r.localCheckpoint(true)
          try {
            // id-sorted within each bucket so parquet row-group min/max
            // stats prune the literal IN probes INSIDE touched buckets
            engine.appendPartitioned(path(indexPath),
              pinned.withColumn("ib", ib(idCol, buckets))
                .repartition(col("ib"))
                .sortWithinPartitions(col("ib"), col(idCol)), "ib")
            engine.overwrite(spark, runsPath(indexPath), pinned.limit(0))
          } finally Dedup.releaseLocalCheckpoint(pinned)
        }
      }
      if (engine.read(spark, path(indexPath)).isDefined)
        engine.compact(spark, path(indexPath), targetBytes)
    }
}
