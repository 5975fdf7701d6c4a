package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** ACID-flavored [[MergeEngine]] over vanilla parquet: a file-level
  * manifest log (the public Delta/Iceberg design, minus the formats'
  * dependencies, which this build cannot take — zero egress).
  *
  * Layout per table root:
  * {{{
  *   data/…                immutable parquet files (partition subdirs when
  *                         the table is partitioned); files are NEVER
  *                         rewritten in place — a merge adds new files
  *   _manifests/d{N}.json  version N's commit record: the DELTA vs N-1
  *                         ("+path" added / "-path" removed lines) — the
  *                         CAS target, O(changed files) bytes per commit
  *   _manifests/m{N}.json  periodic CHECKPOINT: the full file list at N
  *                         (every `checkpointEvery` commits; derived from
  *                         the log, written by the commit's winner)
  * }}}
  * The delta log is what bounds commit cost: a long-lived table with
  * millions of files pays O(delta) JSON per commit, not O(files) — the
  * public Delta-log design. A reader reconstructs version N from the
  * newest checkpoint ≤ N plus the deltas after it (≤ `checkpointEvery`
  * small reads). Tables written by the pre-delta format (full m{N} only)
  * read transparently: their newest m{N} is just a checkpoint with no
  * trailing deltas.
  *
  * Commit protocol: (1) stage the merge's output files into `data/` under
  * names no other version references, (2) write version N+1's delta to a
  * temp name and atomically PUBLISH it as `_manifests/d{N+1}.json` via a
  * compare-and-swap (fail-if-exists). The current version IS the
  * max-numbered log record, so there is no pointer file to overwrite and
  * no window where the table is missing: a reader resolves either version
  * N or N+1, never a half-swapped directory. A crash before the delta
  * publish leaves only orphaned data files (invisible to every reader;
  * removed by the next GC), after it the commit is complete — a missed
  * checkpoint write only delays log truncation, never correctness.
  *
  * Multi-writer CAS: the publish is atomic fail-if-exists — on HDFS-like
  * filesystems `rename` refuses an existing destination; on the local
  * filesystem POSIX `rename(2)` silently REPLACES, so the publish uses
  * the `link(2)` trick instead (hard-link the temp file to the final
  * name — fails with EEXIST atomically). A writer that loses version
  * N+1 re-reads the NEW current manifest, recomputes its merge against
  * that snapshot (rebase — untouched files re-carried, keyed merges
  * re-run so the winner's rows participate), restages, and retries at
  * N+2; its lost attempt's staged files become GC-able orphans. Bounded
  * by `maxCommitAttempts` (fails loudly rather than livelocking).
  *
  * Partitioned merges carry UNTOUCHED partitions' file entries forward
  * into the new manifest instead of copying the files — O(touched
  * partitions) IO per merge, same as the directory-swap engine, but old
  * versions stay intact for in-flight readers. The flat ops
  * (append/dedupAppend/upsert/coalescingUpsert) detect a partitioned
  * manifest and stage UNDER the partition layout (so a mixed
  * flat+partitioned manifest — which breaks basePath partition discovery
  * — can never be committed); a batch missing the partition column fails
  * fast instead.
  *
  * GC: after each commit, log segments below the retention window's
  * reconstruction base are truncated and data files referenced by NO
  * retained version are deleted. `retainVersions` ≥ 2 keeps the previous
  * snapshot alive for readers that resolved it just before a commit.
  * `orphanGraceMs` guards CONCURRENT writers' in-flight work from the
  * sweep, in two places: (1) a staged-but-not-yet-committed data file is
  * unreferenced by every manifest, so a competing writer's GC would
  * delete it mid-commit; (2) truncating a delta REOPENS its version slot
  * — a stale writer's CAS on the recreated name would "succeed" invisibly
  * (reconstruction prefers the newer checkpoint), a silent lost update.
  * With the grace ≥ the longest attempt's read-to-publish window, only
  * genuine orphans and long-dead slots age into deletion. The default 0
  * keeps single-writer GC prompt (delete-on-next-commit) — but prompt
  * mode is NOT trusted blindly under concurrency: the first time any
  * writer observes contention at a table (a lost CAS or a rebase fault)
  * it stamps a durable `.contention` marker in the manifest dir, and
  * every subsequent GC at that table — from ANY engine instance,
  * whatever its `orphanGraceMs` — applies a grace floor of
  * `ContentionGraceFloorMs` (15 min). So multi-writer safety does not
  * depend on every caller remembering the constructor arg; the exposure
  * is one prompt sweep racing the FIRST-ever contended commit, and
  * `tryCommit`'s pre-publish log re-check shrinks the stale-slot half of
  * that window from attempt-duration to milliseconds. Deployments that
  * KNOW they are multi-writer should still set `orphanGraceMs` ≥ their
  * longest attempt (the Delta tombstone/log-retention posture) rather
  * than lean on the detector.
  */
final class ManifestMergeEngine(retainVersions: Int = 3,
    orphanGraceMs: Long = 0L, maxCommitAttempts: Int = 20,
    checkpointEvery: Int = 10, gcEvery: Int = 1) extends MergeEngine {
  require(retainVersions >= 1, "retainVersions must be >= 1")
  require(orphanGraceMs >= 0, "orphanGraceMs must be >= 0")
  require(maxCommitAttempts >= 1, "maxCommitAttempts must be >= 1")
  require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
  require(gcEvery >= 1, "gcEvery must be >= 1")
  import ManifestMergeEngine._

  def upsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String]): Unit =
    retryingCommit(spark, path) { prev =>
      val all = readPrev(spark, path, prev) match {
        case Some(existing) => existing.unionByName(batch, allowMissingColumns = true)
        case None           => batch
      }
      stageFiles(spark, path, TableSink.mergeLastWins(all, keys),
        rewritePartitioning(prev, all, "upsert"))
    }

  def coalescingUpsert(spark: SparkSession, path: String, batch: DataFrame,
      keys: Seq[String]): Unit =
    retryingCommit(spark, path) { prev =>
      val all = readPrev(spark, path, prev) match {
        case Some(existing) => existing.unionByName(batch, allowMissingColumns = true)
        case None           => batch
      }
      stageFiles(spark, path, TableSink.mergeCoalescing(all, keys),
        rewritePartitioning(prev, all, "coalescingUpsert"))
    }

  def partitionedCoalescingUpsert(spark: SparkSession, path: String,
      batch: DataFrame, keys: Seq[String], partCol: String): Unit = {
    require(keys.contains(partCol),
      s"partition column $partCol must be part of the merge key $keys")
    retryingCommit(spark, path) { prev =>
      val existingOpt = readPrev(spark, path, prev)
      val schemaDrifted = existingOpt.exists(_.columns.toSet != batch.columns.toSet)
      if (existingOpt.isEmpty || schemaDrifted) {
        // first write, or column-set drift: merge the WHOLE table once so
        // every partition carries the uniform widened schema (same rule as
        // the directory-swap engine)
        val all = existingOpt match {
          case Some(existing) => existing.unionByName(batch, allowMissingColumns = true)
          case None           => batch
        }
        stageFiles(spark, path,
          TableSink.mergeCoalescing(all.repartitionByRange(keys.map(col): _*), keys),
          partitionBy = Some(partCol))
      } else {
        val touched = batch.select(col(partCol)).distinct().collect()
          .map(r => Option(r.get(0)).map(_.toString)).toSet
        val touchedDirs = touched.map(v => partDirName(partCol, v))
        val (touchedFiles, untouchedFiles) = prev.get.files.partition { f =>
          // files of a partitioned table live under "<partCol>=<v>/…"; the
          // root-level case (unpartitioned history) counts as touched so it
          // gets folded into the rewrite rather than silently carried
          val slash = f.indexOf('/')
          slash < 0 || touchedDirs.contains(f.substring(0, slash))
        }
        val existingTouched = readFiles(spark, path, touchedFiles)
        val all = existingTouched match {
          case Some(t) => t.unionByName(batch, allowMissingColumns = true)
          case None    => batch
        }
        val staged = stageFiles(spark, path,
          TableSink.mergeCoalescing(all.repartitionByRange(keys.map(col): _*), keys),
          partitionBy = Some(partCol))
        untouchedFiles ++ staged
      }
    }
  }

  def append(path: String, batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    // append never reads data: stage the new files (under the table's
    // partition layout when it has one), carry every current entry forward
    retryingCommit(spark, path) { prev =>
      val staged = stageFiles(spark, path, batch,
        appendPartitioning(prev, batch, "append"))
      prev.map(_.files).getOrElse(Seq.empty) ++ staged
    }
  }

  /** [[append]] establishing/extending a `partCol`-partitioned layout —
    * for tables whose READ path prunes on that column (e.g. an ANN
    * index's inverted lists keyed by list id). The distinct entry point
    * exists because a FIRST write has no layout to derive from.
    */
  def appendPartitioned(path: String, batch: DataFrame, partCol: String): Unit = {
    val spark = batch.sparkSession
    require(batch.columns.contains(partCol),
      s"appendPartitioned requires the batch to carry $partCol")
    retryingCommit(spark, path) { prev =>
      // an existing table must already be on the SAME layout — committing
      // a second partition scheme would poison basePath discovery
      prev.map(_.files).filter(_.nonEmpty).foreach { fs =>
        require(manifestPartitionCol(fs).contains(partCol),
          s"appendPartitioned($partCol) on a table whose layout is " +
            s"${manifestPartitionCol(fs).getOrElse("flat")}")
      }
      val staged = stageFiles(spark, path, batch, Some(partCol))
      prev.map(_.files).getOrElse(Seq.empty) ++ staged
    }
  }

  def dedupAppend(spark: SparkSession, path: String, batch: DataFrame,
      key: String): Unit = {
    val inBatch = TableSink.firstWinsInBatch(batch, key)
    retryingCommit(spark, path) { prev =>
      // the anti-join runs against THIS attempt's snapshot — a retry after
      // a lost race re-filters against the winner's keys, preserving the
      // only-absent-keys contract under concurrency
      val fresh = readPrev(spark, path, prev) match {
        case Some(existing) =>
          inBatch.join(existing.select(col(key)), Seq(key), "left_anti")
        case None => inBatch
      }
      val staged = stageFiles(spark, path, fresh,
        appendPartitioning(prev, batch, "dedupAppend"))
      prev.map(_.files).getOrElse(Seq.empty) ++ staged
    }
  }

  /** Maintenance: rewrite into ≈`targetBytes` files, row multiset and
    * partition layout unchanged (Delta/Iceberg `OPTIMIZE`).
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Unit = {
    val fs = fileSystem(spark, path)
    if (currentManifest(fs, path).isEmpty) return
    retryingCommit(spark, path) { prevOpt =>
      val m = prevOpt.getOrElse(
        throw new java.io.IOException(s"manifest vanished mid-compact at $path"))
      readFiles(spark, path, m.files) match {
        case None => m.files // empty table: recommit the (empty) list as-is
        case Some(df) =>
          // size from one recursive summary of data/ — per-file
          // getFileStatus round-trips serialize on the driver at high file
          // counts; the summary may overcount by not-yet-GC'd older
          // versions, which only rounds the target file count up (harmless
          // for a layout pass)
          val bytes = fs.getContentSummary(dataRoot(path)).getLength
          val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          // preserve a partitioned layout: a flat rewrite would demote the
          // partition column to an embedded field, killing directory
          // pruning and forcing the next partitionedCoalescingUpsert into
          // a full-table merge (every file would look "touched")
          stageFiles(spark, path, df.repartition(nFiles),
            manifestPartitionCol(m.files))
      }
    }
    // a maintenance pass is where reclamation belongs: sweep now even if
    // the commit cadence (gcEvery) would have skipped this version — a
    // store maintained only through compact still reclaims orphans
    try gc(fs, path, retainVersions, orphanGraceMs)
    catch { case _: java.io.IOException => () }
  }

  /** Maintenance: REPLACE the listed `partCol` partitions' contents with
    * `batch`'s rows (all of which must belong to those partitions),
    * leaving every other partition untouched — the physical row-delete
    * primitive tombstone purging needs (a replaced partition's absent
    * rows are gone; an empty replacement drops the partition entirely).
    * Single-maintainer contract: `batch` is computed by the CALLER from a
    * snapshot, so a concurrent write into the same partitions between
    * that read and this commit can be lost — run it as a maintenance
    * pass, like [[compact]].
    */
  def replacePartitions(spark: SparkSession, path: String, batch: DataFrame,
      partCol: String, partitions: Seq[Any]): Unit = {
    require(batch.columns.contains(partCol),
      s"replacePartitions requires the batch to carry $partCol")
    val touchedDirs = partitions
      .map(v => partDirName(partCol, Option(v).map(_.toString))).toSet
    retryingCommit(spark, path) { prev =>
      prev.map(_.files).filter(_.nonEmpty).foreach { fs =>
        require(manifestPartitionCol(fs).contains(partCol),
          s"replacePartitions($partCol) on a table whose layout is " +
            s"${manifestPartitionCol(fs).getOrElse("flat")}")
      }
      val untouched = prev.map(_.files).getOrElse(Seq.empty).filterNot { f =>
        // root-level files (no partition dir) can't belong to a listed
        // partition — the layout guard above already rejects flat tables
        val slash = f.indexOf('/')
        slash >= 0 && touchedDirs.contains(f.substring(0, slash))
      }
      // cluster by the partition column so each replaced list lands in
      // few contiguous files (same reason as the index save path)
      untouched ++ stageFiles(spark, path,
        batch.repartition(col(partCol)), Some(partCol))
    }
  }

  /** Replace the WHOLE table's contents atomically. Same single-maintainer
    * caveat as [[replacePartitions]].
    */
  def overwrite(spark: SparkSession, path: String, batch: DataFrame): Unit =
    retryingCommit(spark, path) { prev =>
      // the new contents REPLACE the table: commit only the staged files;
      // the old version's files stay readable for in-flight snapshots
      // until GC retires them
      stageFiles(spark, path, batch, appendPartitioning(prev, batch, "overwrite"))
    }

  /** The current committed manifest version of a table; None before the
    * first commit. Pairs with [[conditionalOverwrite]] for read-modify-
    * write state slots.
    */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val fs = fileSystem(spark, path)
    currentManifest(fs, path).map(_.version)
  }

  /** [[overwrite]] guarded by the version the caller read: commits only
    * while the table is STILL at `expectedVersion` (None = table must
    * not exist yet), otherwise throws ConcurrentModificationException.
    * A plain overwrite under two read-modify-write writers is silent
    * last-write-wins — both compute from the same snapshot and the
    * second commit erases the first's update; this makes the stale
    * writer FAIL LOUDLY instead (the scalar-state CAS
    * [[graft.operators.Pack]] rides).
    */
  def conditionalOverwrite(spark: SparkSession, path: String,
      batch: DataFrame, expectedVersion: Option[Long]): Unit =
    retryingCommit(spark, path) { prev =>
      if (prev.map(_.version) != expectedVersion)
        throw new java.util.ConcurrentModificationException(
          s"state at $path advanced from version $expectedVersion to " +
            s"${prev.map(_.version)} since it was read — concurrent writer; " +
            "re-read before retrying")
      stageFiles(spark, path, batch,
        appendPartitioning(prev, batch, "conditionalOverwrite"))
    }

  /** STAGE an append's files without committing them (pairs with
    * [[commitStaged]]) — the separation that lets a multi-table grow path
    * overlap its independent staging WRITES (the expensive Spark jobs)
    * while keeping the COMMIT order its crash contract demands
    * (guide-§2.6 overlap: publish order is what degradation semantics
    * hang on, not staging order). The staged files live under `data/`
    * with a unique commit prefix — invisible to every reader until the
    * manifest publishes, reclaimed as orphans by GC if the commit never
    * happens (exactly a crashed append's window, which the contract
    * already tolerates).
    *
    * `partCol` = Some requires the table be on that layout already (or
    * empty); None stages under the table's existing layout like
    * [[append]] does. Layout is re-validated at commit time against the
    * snapshot actually committed over.
    */
  def stageAppend(spark: SparkSession, path: String, batch: DataFrame,
      partCol: Option[String]): StagedAppend = {
    val fs = fileSystem(spark, path)
    val prev = currentManifest(fs, path)
    val layout = partCol match {
      case Some(pc) =>
        require(batch.columns.contains(pc),
          s"stageAppend($pc) requires the batch to carry $pc")
        prev.map(_.files).filter(_.nonEmpty).foreach { fls =>
          require(manifestPartitionCol(fls).contains(pc),
            s"stageAppend($pc) on a table whose layout is " +
              s"${manifestPartitionCol(fls).getOrElse("flat")}")
        }
        Some(pc)
      case None => appendPartitioning(prev, batch, "stageAppend")
    }
    StagedAppend(path, stageFiles(spark, path, batch, layout), layout)
  }

  /** Publish a [[stageAppend]]'s files: append them to the CURRENT
    * manifest (CAS-retried; a retry re-carries the new snapshot's files —
    * no re-staging, appends never read). Layout is re-validated against
    * the snapshot committed over, so a concurrent layout change fails
    * loudly instead of poisoning partition discovery.
    */
  def commitStaged(spark: SparkSession, staged: StagedAppend): Unit =
    retryingCommit(spark, staged.path) { prev =>
      val existing = prev.map(_.files).getOrElse(Seq.empty)
      if (existing.nonEmpty) {
        val have = manifestPartitionCol(existing)
        require(have == staged.partCol ||
            (staged.partCol.isEmpty && have.isEmpty),
          s"commitStaged at ${staged.path}: table layout is " +
            s"${have.getOrElse("flat")} but the staged files are " +
            s"${staged.partCol.getOrElse("flat")}")
      }
      existing ++ staged.files
    }

  /** Current snapshot of a manifest table (readers' entry point); None
    * before the table's first commit.
    */
  def read(spark: SparkSession, path: String): Option[DataFrame] = {
    val fs = fileSystem(spark, path)
    currentManifest(fs, path).flatMap(m => readFiles(spark, path, m.files))
  }

  /** Cheap identity of the table's CURRENT committed snapshot — (version,
    * newest-log-segment mtime ⊕ length-mix), resolved from the log
    * listing alone (no data read, no Spark job). The second component
    * guards the delete-and-recreate case: a table torn down and rebuilt
    * at the same path restarts version numbering, so version alone would
    * alias two unrelated snapshots. Folding the segment LENGTH into it
    * (round-17 advice fix) covers coarse-mtime filesystems (s3a's
    * second granularity), where a teardown-and-rebuild reaching the same
    * version within one mtime unit would otherwise alias — two unrelated
    * snapshots at the same version virtually never serialize to the
    * byte-identical log segment. Drives the driver-side scalar-metadata
    * cache ([[MetaCache]]) — the Delta SnapshotManagement posture.
    */
  def snapshotToken(spark: SparkSession, path: String): Option[(Long, Long)] = {
    val fs = fileSystem(spark, path)
    val (ms, ds) = listLog(fs, path)
    val all = ms ++ ds
    if (all.isEmpty) None
    else {
      val v = all.max
      val p = if (ds.contains(v)) deltaPath(path, v) else checkpointPath(path, v)
      try {
        val st = fs.getFileStatus(p)
        Some((v, st.getModificationTime * 1000003L + st.getLen))
      } catch { case _: java.io.IOException => None }
    }
  }

  private def readPrev(spark: SparkSession, path: String,
      prev: Option[Manifest]): Option[DataFrame] =
    prev.flatMap(m => readFiles(spark, path, m.files))

  /** Full-rewrite staging layout for the flat keyed merges: keep a
    * partitioned table partitioned (never commit a mixed manifest); fail
    * fast when the merged frame can't express the layout.
    */
  private def rewritePartitioning(prev: Option[Manifest], merged: DataFrame,
      op: String): Option[String] =
    prev.map(_.files).flatMap(manifestPartitionCol) match {
      case some @ Some(pc) =>
        require(merged.columns.contains(pc),
          s"$op on a $pc-partitioned manifest table: merged frame lost " +
            s"the partition column $pc — cannot preserve the layout")
        some
      case None => None
    }

  /** Append-staging layout: a batch appended to a partitioned table must
    * carry the partition column (there is no existing data to recover it
    * from — appends never read).
    */
  private def appendPartitioning(prev: Option[Manifest], batch: DataFrame,
      op: String): Option[String] =
    prev.map(_.files).flatMap(manifestPartitionCol) match {
      case some @ Some(pc) =>
        require(batch.columns.contains(pc),
          s"$op on a $pc-partitioned manifest table requires the batch to " +
            s"carry the partition column $pc (got ${batch.columns.toSeq})")
        some
      case None => None
    }

  /** Optimistic-concurrency commit loop: each attempt computes+stages its
    * file list against the CURRENT manifest, then CASes the next version.
    * A lost race (or a staging fault caused by a competing GC) rebases:
    * re-read, recompute, restage, retry. Lost attempts' staged files are
    * orphans the next GC removes (after `orphanGraceMs`).
    */
  private def retryingCommit(spark: SparkSession, path: String)
      (attempt: Option[Manifest] => Seq[String]): Unit = {
    val fs = fileSystem(spark, path)
    var n = 0
    while (true) {
      n += 1
      val prev = currentManifest(fs, path)
      val files =
        try graft.tools.PhaseTimer("engine_stage")(attempt(prev))
        catch {
          // a competing writer's GC can invalidate this attempt's input
          // mid-read; Spark surfaces that as AnalysisException
          // (driver-side path resolution) or SparkException (a task's
          // FileNotFoundException), and our own staging renames as a
          // bare IOException — but ONLY vanished-file faults rebase.
          // A persistent failure (schema mismatch in unionByName,
          // corrupt parquet, a bad column) would recur identically on
          // every retry, re-staging a full merge's files as orphans
          // each time before surfacing — propagate it on first
          // occurrence instead. Contract violations
          // (IllegalArgumentException from the layout guards) propagate.
          case e @ (_: java.io.IOException
                    | _: org.apache.spark.SparkException
                    | _: org.apache.spark.sql.AnalysisException)
              if n < maxCommitAttempts && isVanishedInputFault(e) =>
            stampContention(fs, path)
            Thread.sleep(10L * n)
            null
        }
      if (files != null) {
        val version = prev.map(_.version + 1).getOrElse(0L)
        if (graft.tools.PhaseTimer("engine_commit")(
            tryCommit(fs, path, prev, files, version, checkpointEvery))) {
          // GC is best-effort maintenance: the COMMIT already landed, and
          // two writers sweeping concurrently can race each other's
          // deletions (listStatus on a just-deleted subtree) — that must
          // not surface as a failure of a succeeded write; a later
          // commit's GC retries the sweep. CADENCE (gcEvery): the sweep
          // walks the whole data/ tree and reconstructs the retained
          // manifests — O(store files) work that a high-cadence streaming
          // writer must NOT pay per commit (datadom6's per-trigger
          // residual tracked store size through exactly this term).
          // gcEvery=1 (the default) keeps the historical prompt-sweep
          // behavior; streaming stores amortize it over N commits —
          // orphans and rotated versions just linger ≤ N commits longer,
          // which the grace ledger already tolerates by design.
          if (version % gcEvery == 0) {
            try graft.tools.PhaseTimer("engine_gc")(
              gc(fs, path, retainVersions, orphanGraceMs))
            catch { case _: java.io.IOException => () }
          }
          return
        }
        // a lost CAS is the unambiguous concurrency signal — record it
        // durably so every future GC at this table applies the
        // contention grace floor (see class doc)
        stampContention(fs, path)
        if (n >= maxCommitAttempts)
          throw new java.io.IOException(
            s"manifest commit lost the CAS $maxCommitAttempts times at $path")
        Thread.sleep(10L * n) // linear backoff; contention here is writer-count-bounded
      }
    }
  }
}

object ManifestMergeEngine {

  final case class Manifest(version: Long, files: Seq[String])

  /** A [[ManifestMergeEngine.stageAppend]]'s result: files staged under
    * `path`'s data/ (not yet referenced by any manifest) and the layout
    * they were staged under.
    */
  final case class StagedAppend(path: String, files: Seq[String],
      partCol: Option[String])

  private def dataRoot(path: String) = new Path(path, "data")
  private def manifestDir(path: String) = new Path(path, "_manifests")

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val CheckpointName = "m(\\d+)\\.json".r
  private val DeltaName = "d(\\d+)\\.json".r

  private def checkpointPath(path: String, v: Long) =
    new Path(manifestDir(path), s"m$v.json")
  private def deltaPath(path: String, v: Long) =
    new Path(manifestDir(path), s"d$v.json")

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    body.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** (checkpoint versions, delta versions) present in the log dir. */
  private def listLog(fs: FileSystem, path: String): (Seq[Long], Seq[Long]) = {
    val dir = manifestDir(path)
    if (!fs.exists(dir)) return (Seq.empty, Seq.empty)
    val names = fs.listStatus(dir).map(_.getPath.getName)
    (names.collect { case CheckpointName(n) => n.toLong }.toSeq.sorted,
      names.collect { case DeltaName(n) => n.toLong }.toSeq.sorted)
  }

  /** File list at version `v`: newest checkpoint ≤ v, then the deltas
    * after it. A version covered by a checkpoint but missing its delta
    * (pre-delta-format history) reads from the checkpoint alone.
    */
  private def reconstruct(fs: FileSystem, path: String, v: Long,
      checkpoints: Seq[Long]): Seq[String] = {
    val base = checkpoints.filter(_ <= v).lastOption
    val files = scala.collection.mutable.LinkedHashSet.empty[String]
    base.foreach(b => files ++= readLines(fs, checkpointPath(path, b)))
    (base.map(_ + 1).getOrElse(0L) to v).foreach { i =>
      val d = deltaPath(path, i)
      if (fs.exists(d)) applyDelta(files, readLines(fs, d))
      else if (fs.exists(checkpointPath(path, i))) {
        // old-format full manifest without a delta twin: it IS the state
        files.clear()
        files ++= readLines(fs, checkpointPath(path, i))
      } else throw new java.io.IOException(
        s"manifest log at $path is missing version $i (needed to read $v)")
    }
    files.toSeq
  }

  private def applyDelta(files: scala.collection.mutable.LinkedHashSet[String],
      lines: Seq[String]): Unit =
    lines.foreach { l =>
      if (l.startsWith("-")) files -= l.substring(1)
      else if (l.startsWith("+")) files += l.substring(1)
      else throw new java.io.IOException(s"malformed delta line: $l")
    }

  private[sinks] def currentManifest(fs: FileSystem, path: String): Option[Manifest] = {
    // a concurrent writer's GC can truncate log segments between our
    // listLog and the reconstruct reads; re-listing picks up the newer
    // checkpoint that replaced them — transient by construction, so a
    // short bounded retry rides it out
    var attempt = 0
    while (true) {
      val (ms, ds) = listLog(fs, path)
      val all = ms ++ ds
      if (all.isEmpty) return None
      val v = all.max
      try return Some(Manifest(v, reconstruct(fs, path, v, ms)))
      catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt >= 5) throw e
          Thread.sleep(20L * attempt)
      }
    }
    None // unreachable
  }

  private def readFiles(spark: SparkSession, path: String,
      files: Seq[String]): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      val root = dataRoot(path).toString
      // basePath keeps partition-directory columns visible when files sit
      // under "<partCol>=<v>/" subdirs
      Some(spark.read.option("basePath", root)
        .parquet(files.map(f => s"$root/$f"): _*))
    }

  private def partDirName(partCol: String, value: Option[String]): String = {
    // match Spark's partitioned-write directory naming (escaping aside —
    // the engine's partition values are alphanumeric by contract)
    s"$partCol=${value.getOrElse("__HIVE_DEFAULT_PARTITION__")}"
  }

  /** The single partition column of a manifest's layout, when EVERY entry
    * sits under one "<col>=<value>/" directory level; None for flat (or
    * mixed-history) layouts.
    */
  private[sinks] def manifestPartitionCol(files: Seq[String]): Option[String] = {
    if (files.isEmpty || !files.forall(_.contains('/'))) return None
    val partCols = files.flatMap { f =>
      val slash = f.indexOf('/')
      val eq = f.indexOf('=')
      if (eq > 0 && eq < slash) Some(f.substring(0, eq)) else None
    }.distinct
    if (partCols.length == 1) Some(partCols.head) else None
  }

  /** Write `df` into a staging dir, then move its part-files under
    * `data/` with a unique commit id prefixed to each name (no version
    * ever references another version's staged names). Returns relative
    * paths (including the partition subdir when `partitionBy` is set).
    */
  private def stageFiles(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Option[String]): Seq[String] = {
    val fs = fileSystem(spark, path)
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    // Driver-local frames (1-row meta, subtotal caches, model matrices)
    // write on the DRIVER — no Spark job for rows that never left it (the
    // Delta/Iceberg commit-metadata posture). The file lands directly
    // under data/ with this commit's unique prefix: until the manifest
    // publishes it is exactly as invisible as a staged file, and a crash
    // strands an orphan the next GC removes — the same guarantee the
    // staging dir gives the executor path. Empty and partitioned frames
    // keep the Spark path (file-count parity with the historical writer).
    if (partitionBy.isEmpty) {
      LocalParquet.localRows(df) match {
        case Some((schema, rows)) =>
          val data = dataRoot(path)
          fs.mkdirs(data)
          val rel = s"c$commitId-part-00000-local.parquet"
          LocalParquet.write(spark, schema, rows, new Path(data, rel),
            spark.sparkContext.hadoopConfiguration)
          return Seq(rel)
        case None => ()
      }
    }
    val staging = new Path(path, s"_staging_$commitId")
    val writer = df.write.mode(SaveMode.Overwrite)
    partitionBy.fold(writer)(writer.partitionBy(_)).parquet(staging.toString)
    val data = dataRoot(path)
    fs.mkdirs(data)
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    def moveTree(dir: Path, relPrefix: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) moveTree(st.getPath,
          if (relPrefix.isEmpty) name else s"$relPrefix/$name")
        else if (name.startsWith("part-")) {
          val rel = (if (relPrefix.isEmpty) "" else s"$relPrefix/") +
            s"c$commitId-$name"
          val target = new Path(data, rel)
          fs.mkdirs(target.getParent)
          // rename failure returns FALSE — unchecked, the manifest would
          // commit a path whose file never arrived and every later read
          // of this version fails
          if (!fs.rename(st.getPath, target))
            throw new java.io.IOException(
              s"failed to stage $rel into $data (rename returned false)")
          moved += rel
        }
      }
    moveTree(staging, "")
    fs.delete(staging, true)
    moved.toSeq
  }

  /** Atomically publish version `v`'s DELTA via temp write +
    * fail-if-exists CAS; returns false when another writer already owns
    * version `v`. The winner also writes the periodic full checkpoint —
    * non-CAS (only the winner of `v` writes m{v}, and its content is a
    * pure function of the log), and a crash between delta and checkpoint
    * just delays log truncation.
    *
    * Local filesystems need the hard-link trick: Hadoop's local `rename`
    * bottoms out in POSIX rename(2), which silently REPLACES an existing
    * destination — the one semantics a commit record cannot tolerate.
    * `link(2)` fails with EEXIST atomically at the syscall level. On
    * HDFS-like filesystems `rename` already refuses an existing
    * destination (the public Delta commit protocol's assumption); object
    * stores would use conditional put here.
    */
  private def tryCommit(fs: FileSystem, path: String, prev: Option[Manifest],
      files: Seq[String], v: Long, checkpointEvery: Int): Boolean = {
    val dir = manifestDir(path)
    fs.mkdirs(dir)
    // Stale-slot guard: `prev` was read at attempt start, and a long
    // merge can leave minutes between that read and this publish. If the
    // log has meanwhile advanced to ≥ v, creating d{v} would either fail
    // (normal CAS loss) or — if d{v} was truncated and its slot REOPENED
    // by GC — "succeed" invisibly (reconstruction prefers the newer
    // checkpoint): a silent lost update. Re-listing here shrinks that
    // window from attempt-duration to the milliseconds between this
    // check and the link/rename. Treat either case as a lost CAS.
    locally {
      val (ms0, ds0) = listLog(fs, path)
      if ((ms0.iterator ++ ds0.iterator).exists(_ >= v)) return false
    }
    val prevFiles = prev.map(_.files).getOrElse(Seq.empty)
    val prevSet = prevFiles.toSet
    val fileSet = files.toSet
    val delta =
      prevFiles.filterNot(fileSet.contains).map("-" + _) ++
        files.filterNot(prevSet.contains).map("+" + _)
    val tmp = new Path(dir, s".d$v.json.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write((delta.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = deltaPath(path, v)
    val won =
      if (fs.getUri.getScheme == "file") {
        val t = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri)
        val d = java.nio.file.Paths.get(fs.makeQualified(dst).toUri)
        try { java.nio.file.Files.createLink(d, t); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else fs.rename(tmp, dst)
    // the temp record is consumed either way (link copies the name, a
    // failed rename keeps the source); losing is not an error — the
    // caller rebases and retries
    fs.delete(tmp, false)
    if (won && v % checkpointEvery == 0) {
      // checkpoint publish must be ATOMIC: a plain create() exposes an
      // empty/partial m{v} to concurrent readers, whose reconstruction
      // would silently resolve an empty table (a torn checkpoint read is
      // a lost update in the making). Temp write + rename; overwrite
      // semantics are fine — only v's winner writes m{v}, and a repeat
      // would carry identical content.
      val ckTmp = new Path(dir,
        s".m$v.json.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val ck = fs.create(ckTmp, true)
      try ck.write((files.mkString("\n") + "\n").getBytes("UTF-8"))
      finally ck.close()
      if (!fs.rename(ckTmp, checkpointPath(path, v))) fs.delete(ckTmp, false)
    }
    won
  }

  /** Truncate the log below the oldest retained version's reconstruction
    * base, then delete data files no retained version references (and
    * stray temp files). `graceMs` spares young unreferenced files — a
    * CONCURRENT writer's staged-but-uncommitted work looks exactly like
    * an orphan until its manifest publishes.
    *
    * Log truncation rule: the oldest retained version reconstructs from
    * `base` = the newest checkpoint ≤ it, so every segment OLDER than
    * base (checkpoints < base, deltas ≤ base) is droppable. base trails
    * the retention horizon by < `checkpointEvery` commits, which bounds
    * the live log at retain + checkpointEvery segments.
    */
  private def gc(fs: FileSystem, path: String, retain: Int, configuredGraceMs: Long): Unit = {
    // contention floor: once any writer has stamped the marker, prompt
    // (grace-0) sweeps are unsafe at this table no matter which engine
    // instance runs them — apply the floor (see class doc)
    val graceMs =
      if (fs.exists(contentionMarkerPath(path)))
        math.max(configuredGraceMs, ContentionGraceFloorMs)
      else configuredGraceMs
    val cutoff = System.currentTimeMillis() - graceMs
    def aged(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.getModificationTime <= cutoff
    // crash leftovers: _staging_<uuid>/ trees from a crash mid-write,
    // .d*.tmp records from a crash between create and publish. With a
    // grace window these too wait it out (a live writer's staging tree is
    // indistinguishable from a stranded one by name alone).
    fs.listStatus(new Path(path)).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("_staging_") && aged(st))
        fs.delete(st.getPath, true)
    }
    val dir = manifestDir(path)
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      if (!st.isDirectory && st.getPath.getName.startsWith(".") &&
          st.getPath.getName.endsWith(".tmp") && aged(st))
        fs.delete(st.getPath, false)
    }
    val (ms, ds) = listLog(fs, path)
    val versions = (ms ++ ds).distinct.sorted
    if (versions.isEmpty) return
    val retained = versions.takeRight(retain)
    val minRetained = retained.head
    val base = ms.filter(_ <= minRetained).lastOption
    base.foreach { b =>
      // log truncation honors the SAME grace window as data files, for a
      // sharper reason than orphan safety: deleting d{v} REOPENS version
      // slot v — a stale concurrent writer's CAS on the recreated name
      // would "succeed" while reconstruction (which prefers the newer
      // checkpoint) never sees its payload: a silent lost update. With
      // the grace ≥ any in-flight attempt's age, only long-dead slots
      // truncate (the public Delta log-retention posture).
      def agedSegment(p: Path): Boolean =
        fs.exists(p) && fs.getFileStatus(p).getModificationTime <= cutoff
      ms.filter(_ < b).map(checkpointPath(path, _)).filter(agedSegment)
        .foreach(fs.delete(_, false))
      ds.filter(_ <= b).map(deltaPath(path, _)).filter(agedSegment)
        .foreach(fs.delete(_, false))
    }
    // live data files: walk the retained versions incrementally (one
    // reconstruction + one delta application per newer version)
    val live = scala.collection.mutable.Set.empty[String]
    val state = scala.collection.mutable.LinkedHashSet.empty[String]
    state ++= reconstruct(fs, path, minRetained, ms)
    live ++= state
    retained.tail.foreach { v =>
      val d = deltaPath(path, v)
      if (fs.exists(d)) applyDelta(state, readLines(fs, d))
      else { // old-format full manifest
        state.clear()
        state ++= readLines(fs, checkpointPath(path, v))
      }
      live ++= state
    }
    val data = dataRoot(path)
    if (!fs.exists(data)) return
    // Data-file grace is measured from the moment a file became
    // UNREFERENCED (a tombstone ledger), not from its modification time:
    // a carried file can be weeks old when its last referencing version
    // rotates out of retention, and an mtime-keyed grace would delete it
    // instantly — under the nose of a reader/writer still holding that
    // snapshot. First sighting as unreferenced starts the clock; deletion
    // happens a full grace later. (Staging trees, tmp records and log
    // segments keep mtime aging — for them mtime IS creation time.)
    // grace=0 short-circuits to immediate deletion, no ledger.
    val now = System.currentTimeMillis()
    val tombstones = if (graceMs == 0) Map.empty[String, Long]
      else readTombstones(fs, path)
    val nextTombstones = scala.collection.mutable.Map.empty[String, Long]
    def sweep(d: Path, relPrefix: String): Unit =
      fs.listStatus(d).foreach { st =>
        val name = st.getPath.getName
        val rel = if (relPrefix.isEmpty) name else s"$relPrefix/$name"
        if (st.isDirectory) {
          sweep(st.getPath, rel)
          if (fs.listStatus(st.getPath).isEmpty && aged(st))
            fs.delete(st.getPath, false)
        } else if (!live.contains(rel)) {
          if (graceMs == 0) fs.delete(st.getPath, false)
          else tombstones.get(rel) match {
            case Some(t) if now - t >= graceMs => fs.delete(st.getPath, false)
            case Some(t)                       => nextTombstones(rel) = t
            case None                          => nextTombstones(rel) = now
          }
        }
      }
    sweep(data, "")
    if (graceMs > 0 && nextTombstones.toMap != tombstones)
      writeTombstones(fs, path, nextTombstones.toMap)
  }

  private def tombstonePath(path: String) =
    new Path(manifestDir(path), ".tombstones")

  private def readTombstones(fs: FileSystem, path: String): Map[String, Long] = {
    val p = tombstonePath(path)
    if (!fs.exists(p)) Map.empty
    else readLines(fs, p).flatMap { l =>
      l.split('\t') match {
        case Array(rel, t) => t.toLongOption.map(rel -> _)
        case _             => None
      }
    }.toMap
  }

  /** Last-writer-wins overwrite (temp + rename): concurrent GCs racing
    * the ledger can at worst LOSE a tombstone, which re-starts that
    * file's clock on the next sweep — deletions are only ever delayed,
    * never hastened.
    */
  private def writeTombstones(fs: FileSystem, path: String,
      entries: Map[String, Long]): Unit = {
    val tmp = new Path(manifestDir(path),
      s".tombstones.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .map { case (r, t) => s"$r\t$t" }.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(tombstonePath(path), false)
    if (!fs.rename(tmp, tombstonePath(path))) fs.delete(tmp, false)
  }

  /** GC grace floor applied at any table whose `.contention` marker is
    * stamped — generous enough to cover a long merge attempt's
    * read-to-publish window, so a grace-0 engine can't sweep a live
    * competing writer's staged work or reopen its delta slot.
    */
  val ContentionGraceFloorMs: Long = 15L * 60 * 1000

  private def contentionMarkerPath(path: String) =
    new Path(manifestDir(path), ".contention")

  /** Durably records that this table has seen concurrent writers (a lost
    * CAS or a vanished-input rebase). Idempotent, best-effort: the
    * marker only tightens GC, so a failed stamp merely leaves the
    * pre-existing exposure for the next contention event to close.
    */
  private def stampContention(fs: FileSystem, path: String): Unit =
    try {
      val p = contentionMarkerPath(path)
      if (!fs.exists(p)) {
        fs.mkdirs(manifestDir(path))
        val out = fs.create(p, true)
        try out.write("contended\n".getBytes("UTF-8")) finally out.close()
      }
    } catch { case _: java.io.IOException => () }

  /** True only for the fault family a competing writer's GC produces —
    * a file that existed at read time vanishing mid-attempt. Spark
    * surfaces it as a FileNotFoundException somewhere in the cause
    * chain, or (driver-side path resolution) an AnalysisException whose
    * message names a missing path; task-side causes can arrive
    * serialization-flattened into message text. Anything else (schema
    * mismatch, corrupt footer, bad column) is persistent: retrying
    * re-stages a full merge's files as orphans per attempt and cannot
    * succeed, so the caller propagates it on first occurrence.
    */
  private def isVanishedInputFault(e: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set.empty[Throwable]
    var t: Throwable = e
    while (t != null && seen.add(t)) {
      t match {
        case _: java.io.FileNotFoundException => return true
        case _ =>
          val m = Option(t.getMessage).getOrElse("")
          if (m.contains("FileNotFoundException") ||
              m.contains("PATH_NOT_FOUND") ||
              m.contains("Path does not exist") ||
              m.contains("does not exist") && m.contains("file:"))
            return true
      }
      t = t.getCause
    }
    false
  }
}
