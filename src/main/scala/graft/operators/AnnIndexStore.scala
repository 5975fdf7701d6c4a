package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity.{IvfIndex, PqModel}
import graft.sinks.ManifestMergeEngine

/** Persisted, reusable ANN index artifacts — the build-once/search-many
  * lifecycle a 100 TB embedding corpus forces. [[Similarity.buildIvf]] /
  * [[Similarity.buildPq]] return in-memory driver objects; at scale the
  * index build is its own pipeline stage and every search must load a
  * STORED artifact instead of re-touching the corpus (the per-query
  * rebuild was ~80% of x24's wall).
  *
  * Layout under `indexPath` — four tables, all managed through a
  * [[ManifestMergeEngine]] (the ACID manifest backend, so index growth
  * is snapshot-isolated from concurrent searches):
  * {{{
  *   centroids/  (cid INT 1-based, vec ARRAY<DOUBLE>)        IVF quantizer
  *   codebooks/  (idx INT, vec ARRAY<DOUBLE>, m INT, k INT)  PQ model
  *   assigned/   cid=<N>/ (<id>, <vec>)                      inverted lists
  *   encoded/    cid=<N>/ (<id>, codes, _cn)                 PQ codes + norms
  *   deleted/    (<id>, cid)                                 tombstones
  * }}}
  * The model tables are driver-sized (k×dim and m·k×subDim); the data
  * tables are the corpus reorganized by list id — the index IS the
  * storage layout, as in any IVF system. Both data tables are
  * PARTITIONED BY the list id, so a search's probe set becomes a literal
  * partition filter: the scan reads ONLY the probed lists' files
  * (nprobe/nlists of the corpus — plan-guarded in AnnIndexStoreSpec),
  * which is the entire point of an inverted-file layout at 100 TB.
  *
  * Incremental growth: [[addVectors]] encodes new vectors with the FROZEN
  * stored models (map-only assignment + PQ encode — no retraining, no
  * touch of existing rows) and appends. Byte-identical to what a full
  * re-encode with the same models would produce (parity-pinned in
  * AnnIndexStoreSpec). Retraining on drift = build a new index path and
  * swap readers, the standard blue/green index rotation.
  */
object AnnIndexStore {

  /** `ivf`/`pq` mirror the in-memory builders' shapes (encoded WITHOUT
    * the list id, so it composes with [[Similarity.ivfPqTopKAdaptive]]
    * unchanged); `encodedWithCid` is the stored cid-partitioned frame the
    * pruned [[searchTopK]] path scans directly.
    */
  final case class PersistedAnnIndex(ivf: IvfIndex, pq: PqModel,
      encodedWithCid: DataFrame)

  /** Store-default manifest engine: gcEvery=16 amortizes the O(store
    * files) orphan sweep over 16 commits — a streaming grow commits
    * 3-4 tables per trigger, and a per-commit sweep was the per-trigger
    * term that tracked STORE size in datadom6 (round-14 verdict ask #1b).
    * [[compact]]'s engine.compact still forces a sweep, so a maintained
    * store reclaims promptly.
    */
  private[operators] def defaultEngine: ManifestMergeEngine =
    new ManifestMergeEngine(gcEvery = 16)

  private def centroidsPath(p: String) = s"$p/centroids"
  private def codebooksPath(p: String) = s"$p/codebooks"
  private def assignedPath(p: String) = s"$p/assigned"
  private def encodedPath(p: String) = s"$p/encoded"
  private def deletedPath(p: String) = s"$p/deleted"

  private def vecRows(spark: SparkSession, mats: Array[Array[Double]],
      withMk: Option[(Int, Int)]): DataFrame = {
    val base = StructType(Seq(StructField("idx", IntegerType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))
    val schema = withMk.fold(base)(_ => base
      .add(StructField("m", IntegerType, nullable = false))
      .add(StructField("k", IntegerType, nullable = false)))
    val rows = mats.zipWithIndex.map { case (v, i) =>
      withMk.fold(Row(i, v.toSeq))(mk => Row(i, v.toSeq, mk._1, mk._2))
    }
    // model tables are driver-sized by construction; one file each
    spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)), schema)
      .coalesce(1)
  }

  /** Refuse a metadata frame that does not cover every id in `ids`
    * EXACTLY once. The denormalizing joins below are inner, so a missing
    * metadata row would silently drop that id from the index (never
    * searchable, filtered or not) and a duplicated metadata id would
    * silently multiply index rows — both must fail as loudly as the
    * column-set mismatch does. Cost: two metadata-sized probe jobs with
    * limit-1 early exit plus one anti-join pass over the batch's ids;
    * nothing corpus-sized is collected.
    */
  private[operators] def requireMetadataCoversIds(ids: DataFrame,
      idCol: String, metadata: DataFrame, where: String): Unit = {
    // ONE pass answers both questions (round-16; previously two jobs):
    // a full-outer join of the metadata's per-id counts against the
    // batch's distinct ids — max count > 1 ⇒ duplicated metadata id
    // (anywhere, same global scope as before), a batch id with no count
    // ⇒ uncovered. Same two failure messages, half the passes.
    val r = metadata.groupBy(col(idCol)).agg(count(lit(1)).as("_c"))
      .join(ids.select(col(idCol)).distinct().withColumn("_in", lit(1)),
        Seq(idCol), "full_outer")
      .agg(coalesce(max(col("_c")), lit(0L)).as("maxc"),
        coalesce(sum(when(col("_in").isNotNull && col("_c").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("missing"))
      .head()
    require(r.getLong(0) <= 1L,
      s"$where: metadata carries duplicate $idCol rows — each id must " +
        "appear exactly once or the denormalizing join multiplies index rows")
    require(r.getLong(1) == 0L,
      s"$where: metadata does not cover every $idCol in the batch — a " +
        "missing row would silently drop that id from the index")
  }

  /** Persist a freshly built index at `indexPath` (must not already hold
    * one — an index rebuild is a NEW path + reader swap, never an
    * in-place mutation).
    *
    * `metadata` (optional, `(id, metadata columns…)`): denormalized into
    * BOTH data tables at build time — the scale answer to filtered
    * search over attributes ("near-dups within the same language/
    * source"): a [[searchTopK]] `corpusPred` over a stored metadata
    * column reaches the parquet scans as a pushed filter, no join
    * against a side table at query time. Incremental growth must then
    * supply the same columns ([[addVectors]] enforces it — a null-filled
    * metadata column would silently drop appended rows from every
    * filtered search).
    */
  def save(spark: SparkSession, indexPath: String, ivf: IvfIndex, pq: PqModel,
      engine: ManifestMergeEngine = AnnIndexStore.defaultEngine,
      metadata: Option[DataFrame] = None): Unit = {
    require(engine.read(spark, centroidsPath(indexPath)).isEmpty,
      s"index already exists at $indexPath — rebuilds go to a new path")
    engine.append(centroidsPath(indexPath), vecRows(spark, ivf.centroids, None))
    engine.append(codebooksPath(indexPath),
      vecRows(spark, pq.codebooks, Some((pq.m, pq.k))))
    // both builders emit the id as their FIRST column by construction
    val idCol = pq.encoded.columns.head
    metadata.foreach(m => requireMetadataCoversIds(
      ivf.assigned.select(col(idCol)), idCol, m, s"ANN index at $indexPath"))
    def withMeta(df: DataFrame): DataFrame =
      metadata.fold(df)(m => df.join(m, Seq(idCol)))
    // cluster by list id before the partitioned write: without it every
    // upstream task sprays a file into every cid=N/ directory
    // (tasks × lists tiny files); clustered, each list lands contiguously
    // — fewer, bigger files per inverted list, which is also what a
    // search wants to scan. The codes table carries the list id too (one
    // id equi-join at save time), so BOTH scans prune to the probed
    // lists at search time.
    val assignedFrame = withMeta(ivf.assigned).repartition(col("cid"))
    val encodedFrame = withMeta(
        pq.encoded.join(ivf.assigned.select(col(idCol), col("cid")), idCol))
      .repartition(col("cid"))
    // stored-id sidecar FIRST (probe authority — the IdSidecar
    // commit-order contract), then assigned, then encoded; all three
    // stage concurrently and none commits until all have staged
    IdSidecar.growStaged(indexPath, ivf.assigned.select(col(idCol)), idCol,
      engine, "ann_sidecar_append", Seq(
        IdSidecar.TableAppend(assignedPath(indexPath), assignedFrame,
          Some("cid"), "ann_assigned_append"),
        IdSidecar.TableAppend(encodedPath(indexPath), encodedFrame,
          Some("cid"), "ann_encoded_append")))
  }

  private def loadMatrix(spark: SparkSession, path: String,
      engine: ManifestMergeEngine): Array[Array[Double]] =
    // model matrices are FROZEN per store (retraining = new path); cache
    // the driver collect per committed snapshot (round-16) — searches and
    // stream-start loads stop re-paying a Spark job for immutable state
    graft.sinks.MetaCache.cached(spark, path, "ann_matrix", engine) {
      matrixOf(engine.read(spark, path)
        .getOrElse(throw new IllegalStateException(s"no index table at $path")))
    }

  private def matrixOf(table: org.apache.spark.sql.DataFrame): Array[Array[Double]] =
    table.select("idx", "vec").orderBy("idx").collect()
      .map(_.getSeq[Double](1).toArray)

  /** The PQ model (codebooks, m, k) off the stored codebooks table — one
    * cached driver read per committed snapshot (the matrix collect and
    * the (m, k) head were separate jobs at every load/grow/stream-start).
    */
  private def loadCodebookModel(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine, missing: => String): (Array[Array[Double]], Int, Int) =
    graft.sinks.MetaCache.cached(spark, codebooksPath(indexPath),
      "ann_codebooks", engine) {
      val cb = engine.read(spark, codebooksPath(indexPath))
        .getOrElse(throw new IllegalStateException(missing))
      val mk = cb.select("m", "k").head()
      (matrixOf(cb), mk.getInt(0), mk.getInt(1))
    }

  /** Load a stored index: model matrices to the driver (the position
    * [[Similarity.buildIvf]] already takes), data tables as lazy frames —
    * a search plans directly against the stored parquet, reading only the
    * probed lists' rows (list-id filter → pushed to the scan).
    */
  def load(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine = AnnIndexStore.defaultEngine): PersistedAnnIndex = {
    val centroids = loadMatrix(spark, centroidsPath(indexPath), engine)
    val (codebooks, pqM, pqK) = loadCodebookModel(spark, indexPath, engine,
      s"no codebooks at $indexPath")
    val assignedAll = engine.read(spark, assignedPath(indexPath))
      .getOrElse(throw new IllegalStateException(s"no assigned table at $indexPath"))
    val encodedAll = engine.read(spark, encodedPath(indexPath))
      .getOrElse(throw new IllegalStateException(s"no encoded table at $indexPath"))
    // tombstones ([[deleteVectors]]): anti-join deleted ids out of BOTH
    // data frames HERE, so every downstream search path — pruned
    // searchTopK, the generic Similarity variants, the rerank's
    // true-vector fetch — sees only live rows. The tombstone table is
    // O(deletes since last purge); the anti-join broadcasts it and sits
    // above the scans, so partition pruning on cid is untouched.
    val (assigned, encoded) = engine.read(spark, deletedPath(indexPath)) match {
      case Some(del) =>
        val idc = del.columns.filterNot(_ == "cid").head
        (assignedAll.join(broadcast(del.select(idc)), Seq(idc), "left_anti"),
          encodedAll.join(broadcast(del.select(idc)), Seq(idc), "left_anti"))
      case None => (assignedAll, encodedAll)
    }
    // PqModel.encoded drops the partition id so the loaded model composes
    // with Similarity's generic search paths (which join cid in from the
    // assigned table themselves)
    PersistedAnnIndex(IvfIndex(centroids, assigned),
      PqModel(codebooks, pqM, pqK, encoded.drop("cid")),
      encodedWithCid = encoded)
  }

  /** Grow a stored index: assign + PQ-encode `vectors` with the FROZEN
    * stored models and append — O(increment) work, existing rows and
    * models untouched. Ids must be new (the store doesn't re-dedup;
    * upstream ingest owns identity).
    */
  def addVectors(spark: SparkSession, indexPath: String, vectors: DataFrame,
      corpusId: String, corpusVec: String,
      engine: ManifestMergeEngine = AnnIndexStore.defaultEngine,
      metadata: Option[DataFrame] = None): Unit = {
    val centroids = loadMatrix(spark, centroidsPath(indexPath), engine)
    val (codebooks, pqM, pqK) = loadCodebookModel(spark, indexPath, engine,
      s"no codebooks at $indexPath")
    appendEncoded(indexPath, vectors, corpusId, corpusVec,
      centroids, codebooks, pqM, pqK, engine, metadata)
  }

  /** Frozen-model encode + list-clustered partitioned append of new
    * vectors — shared by [[addVectors]] and [[streamingAddVectors]].
    * Refuses a column-set mismatch against the stored assigned table:
    * appending rows WITHOUT a metadata column the index was built with
    * would null-fill them, and a filtered search would silently never
    * see the increment.
    */
  private def appendEncoded(indexPath: String, vectors: DataFrame,
      corpusId: String, corpusVec: String, centroids: Array[Array[Double]],
      codebooks: Array[Array[Double]], m: Int, k: Int,
      engine: ManifestMergeEngine, metadata: Option[DataFrame] = None): Unit = {
    val proj = vectors.select(col(corpusId), col(corpusVec))
    metadata.foreach(m0 => requireMetadataCoversIds(
      proj.select(col(corpusId)), corpusId, m0,
      s"ANN index increment at $indexPath"))
    val newAssigned0 = Similarity.assignCid(proj, corpusVec, centroids)
    val newAssigned = metadata.fold(newAssigned0)(m0 =>
      newAssigned0.join(m0, Seq(corpusId)))
    val stored = engine.read(vectors.sparkSession, assignedPath(indexPath))
    stored.foreach { st =>
      val want = st.columns.toSet
      val got = newAssigned.columns.toSet
      require(got == want,
        s"index at $indexPath stores columns ${want.toSeq.sorted.mkString(",")} " +
          s"but the increment carries ${got.toSeq.sorted.mkString(",")} — supply " +
          "the same metadata columns the index was built with")
    }
    val enc0 = Similarity.pqEncode(proj, corpusId, corpusVec, codebooks, m, k)
      .join(newAssigned0.select(col(corpusId), col("cid")), corpusId)
    val assignedFrame = newAssigned.repartition(col("cid"))
    val encodedFrame = metadata.fold(enc0)(m0 => enc0.join(m0, Seq(corpusId)))
      .repartition(col("cid"))
    // sidecar first — see the IdSidecar commit-order contract. This is a
    // GROW path, so a pre-sidecar store's first grow BACKFILLS the fold
    // from the complete stored-id set (one full id-column scan, once) —
    // seeding from the increment alone would make every LATER grow
    // re-admit replayed original ids as new (double-indexed rows).
    IdSidecar.growStaged(indexPath, newAssigned0.select(col(corpusId)),
      corpusId, engine, "ann_sidecar_append", Seq(
        IdSidecar.TableAppend(assignedPath(indexPath), assignedFrame,
          Some("cid"), "ann_assigned_append"),
        IdSidecar.TableAppend(encodedPath(indexPath), encodedFrame,
          Some("cid"), "ann_encoded_append")),
      backfillFrom = stored.map(_.select(col(corpusId))))
  }

  /** Delete vectors from a stored index: TOMBSTONES, not rewrites — the
    * ids land in a `deleted/` side table (replay-idempotent dedupAppend
    * through the engine, each id carrying its inverted-list id so
    * the purge pass knows which partitions to touch) and [[load]]
    * anti-joins them out of both data frames, so a deleted id can never
    * surface from any search path over a loaded index. O(deletes) work:
    * one point equi-join against the assigned table to attach list ids;
    * the index's own rows are untouched until [[purgeDeleted]].
    *
    * Ids absent from the index are ignored (the attach join drops them).
    * Deleting an id is terminal until a purge: a re-arrival of the same
    * id on the streaming ingest path is filtered as a duplicate while
    * the tombstoned row is still stored, and only re-indexes after
    * [[purgeDeleted]] has physically dropped it.
    */
  def deleteVectors(spark: SparkSession, indexPath: String, ids: DataFrame,
      corpusId: String,
      engine: ManifestMergeEngine = AnnIndexStore.defaultEngine): Unit = {
    // the tombstone table is (corpusId, cid) by construction and load/
    // purge recover the id column as "the non-cid one" — an id column
    // literally named "cid" would silently mis-key every later
    // anti-join, so refuse it loudly here
    require(corpusId != "cid",
      "id column may not be named 'cid' (reserved for the list id)")
    val assigned = engine.read(spark, assignedPath(indexPath))
      .getOrElse(throw new IllegalStateException(s"no index at $indexPath"))
    val tomb = assigned.select(col(corpusId), col("cid"))
      .join(ids.select(col(corpusId)).distinct(), Seq(corpusId))
    engine.dedupAppend(spark, deletedPath(indexPath), tomb, corpusId)
  }

  /** Physically drop tombstoned rows and reclaim their inverted lists:
    * for each TOUCHED list (the tombstones carry their cid — O(touched)
    * partitions, never the whole index), rewrite the partition minus the
    * deleted ids through the engine's [[ManifestMergeEngine.replacePartitions]],
    * then clear the tombstone table. A fully-deleted list's partition
    * disappears entirely. Maintenance pass, single-maintainer contract
    * (same as [[compact]]); searches against an already-LOADED index are
    * snapshot-isolated by the manifest backend.
    */
  def purgeDeleted(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine = AnnIndexStore.defaultEngine): Unit = {
    engine.read(spark, deletedPath(indexPath)).foreach { del =>
      val idc = del.columns.filterNot(_ == "cid").head
      val touched = del.select("cid").distinct().collect().map(_.get(0)).toSeq
      if (touched.nonEmpty) {
        Seq(assignedPath(indexPath), encodedPath(indexPath)).foreach { p =>
          val table = engine.read(spark, p).getOrElse(
            throw new IllegalStateException(s"no index table at $p"))
          // pin the survivors BEFORE the replace rewrites the partitions
          // they're read from
          val kept = table.filter(col("cid").isin(touched: _*))
            .join(del.select(idc), Seq(idc), "left_anti")
            .localCheckpoint(true)
          try engine.replacePartitions(spark, p, kept, "cid", touched)
          finally Dedup.releaseLocalCheckpoint(kept)
        }
      }
      // the sidecar drops the purged ids too (O(touched ib buckets)) —
      // a purged id's re-arrival must re-index, so it must leave the
      // probe authority here and not before
      IdSidecar.purge(spark, indexPath, del.select(idc), idc, engine)
      engine.overwrite(spark, deletedPath(indexPath), del.limit(0))
    }
  }

  /** Index maintenance: every [[addVectors]]/streaming trigger appends
    * one file per touched inverted list, so a long-grown index accretes
    * small files (scan cost grows with file COUNT). Delegates to the
    * engine's compact, which preserves the cid-partitioned layout — the
    * pruned search keeps its partition filters after compaction.
    */
  def compact(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine = AnnIndexStore.defaultEngine,
      targetBytes: Long = 128L << 20): Unit = {
    engine.compact(spark, assignedPath(indexPath), targetBytes)
    engine.compact(spark, encodedPath(indexPath), targetBytes)
    IdSidecar.compact(spark, indexPath, engine, targetBytes)
  }

  /** Streaming index growth: new vectors arriving on a file stream are
    * encoded with the FROZEN stored models and appended per micro-batch —
    * the ingestion half of the index lifecycle (build once offline, grow
    * continuously, search any time; searches are snapshot-isolated from
    * the growth by the manifest backend). Re-arrived ids (checkpoint
    * replay) are filtered against the stored assigned table, so a
    * replayed batch heals instead of duplicating index rows — the same
    * discipline as streamingMinhashDedup's state appends.
    */
  def streamingAddVectors(spark: SparkSession, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType, indexPath: String,
      checkpointDir: String, corpusId: String, corpusVec: String,
      engine: ManifestMergeEngine = AnnIndexStore.defaultEngine,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
      foldEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(foldEvery >= 1, "foldEvery must be >= 1")
    // the models are FROZEN by contract — load them once at stream start
    // (a per-trigger reload would pay the manifest read + driver collect
    // on every micro-batch for state that cannot change)
    val centroids = loadMatrix(spark, centroidsPath(indexPath), engine)
    val (codebooks, pqM, pqK) = loadCodebookModel(spark, indexPath, engine,
      s"no index at $indexPath — build and save it before streaming growth")
    // in-stream sidecar maintenance cadence (round-14 verdict ask #1a):
    // without it the pending log grows ONE FILE PER TRIGGER until an
    // external compact runs — O(triggers-since-maintenance) probe cost
    // at exactly the 100 ms-cadence regime the sidecar exists for. The
    // fold is O(pending), crash-idempotent (a replayed fold's duplicate
    // ids cannot change a presence verdict), and counted per PROCESSED
    // batch so a crash-restarted stream just restarts the cadence.
    val sinceFold = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .queryName("graft_ann_ingest")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val existing = engine.read(s, assignedPath(indexPath))
          .getOrElse(throw new IllegalStateException(
            s"no index at $indexPath — build and save it before streaming growth"))
        val fresh = graft.tools.PhaseTimer("ann_probe") {
          batch.select(col(corpusId), col(corpusVec))
            .dropDuplicates(corpusId)
            // broadcast-semi probe, not a corpus-shuffling anti-join
            // ([[Dedup.presentIds]] — the batch is small, the index huge),
            // and bucket-pruned through the [[IdSidecar]]: the stored-id
            // read touches only the increment's ib partitions, so the
            // per-trigger probe cost tracks the INCREMENT, not the store
            // (datadom6's finding; full-scan fallback for old indexes)
            .join(broadcast(IdSidecar.presentIds(s, indexPath, existing,
              batch, corpusId, engine)),
              Seq(corpusId), "left_anti")
            // materialize BEFORE the appends: the probe join reads the
            // table the first append writes to
            .localCheckpoint(true)
        }
        try {
          if (!fresh.isEmpty)
            appendEncoded(indexPath, fresh, corpusId, corpusVec,
              centroids, codebooks, pqM, pqK, engine)
        } finally Dedup.releaseLocalCheckpoint(fresh)
        if (sinceFold.incrementAndGet() >= foldEvery) {
          sinceFold.set(0)
          graft.tools.PhaseTimer("ann_sidecar_fold") {
            IdSidecar.fold(s, indexPath, engine)
          }
        }
      }
      .start()
  }

  /** IVF-PQ adaptive search against a LOADED index — the search-many half
    * of the lifecycle: no training, no corpus re-encode; the rerank's true
    * vectors come from the index's own assigned table (point reads by id).
    *
    * The probed list ids are collected to the driver (queries are small
    * by the same contract every top-k variant broadcasts them) and pushed
    * as a LITERAL `cid IN (…)` filter, which the cid-partitioned layout
    * turns into partition pruning: both the codes scan and the rerank's
    * vector scan read only nprobe/nlists of the stored files
    * (plan-asserted in AnnIndexStoreSpec). Results are identical to the
    * unpruned [[Similarity.ivfPqTopKAdaptive]] — the per-query cid
    * equi-join inside restricts to each query's own lists; the literal
    * filter only removes never-probed partitions.
    *
    * `corpusPred`: optional FILTERED-search predicate over the stored
    * tables' columns (the id — an id set, range, or expression over it):
    * "near-dups within this metadata slice" without scanning the whole
    * index. Applied directly above BOTH stored scans (codes + the
    * rerank's vector fetch), so it reaches the parquet reader as a pushed
    * filter COMPOSED with the cid partition pruning (plan-asserted in
    * AnnIndexStoreSpec), and the search equals an index search over the
    * filtered corpus — filter-then-rank, never a post-filtered top-k
    * (which would return < k rows and drop covered neighbors). At scale a
    * metadata slice ("same language/source") arrives as an id predicate
    * computed upstream, or the metadata column is denormalized into the
    * index tables at build time.
    *
    * `matchCols`: PER-QUERY attribute matching — "near-dups of this doc
    * within ITS OWN source/language", where the slice varies by query
    * and a single global `corpusPred` cannot express it. Each named
    * column must exist on BOTH the query frame and the stored index
    * (denormalized at build via `save(metadata=…)`); a candidate
    * survives only when its stored values equal the query's own,
    * applied BEFORE ranking inside the broadcast candidate join — every
    * query keeps k within-its-slice neighbors at zero extra scan cost
    * (the probed-lists read is unchanged; the equality rides the join
    * filter). Composes with `corpusPred` (global slice ∧ per-query
    * match).
    */
  def searchTopK(index: PersistedAnnIndex, queries: DataFrame,
      corpusId: String, corpusVec: String, queryId: String, queryVec: String,
      k: Int, minProbe: Int = 4, maxProbe: Int = 12, margin: Double = 0.5,
      rerank: Int = 0, corpusPred: Option[org.apache.spark.sql.Column] = None,
      matchCols: Seq[String] = Nil): DataFrame = {
    val ivf = index.ivf
    val pq = index.pq
    matchCols.foreach { c =>
      require(queries.columns.contains(c),
        s"matchCols column '$c' missing from the query frame")
      require(index.encodedWithCid.columns.contains(c),
        s"matchCols column '$c' not stored in the index — build with " +
          "save(metadata = ...) carrying it")
    }
    val probeLists = graft.functions.TextVectorExpressions
      .adaptive_nearest_centroids(col(queryVec), ivf.centroids,
        minProbe, maxProbe, margin)
    // query-side match columns rename to _q_<c> so the candidate join
    // keeps both sides addressable for the equality filter
    val q = matchCols.foldLeft(queries
        .withColumn("_qn", Similarity.norm(col(queryVec)))
        .withColumn("_lut", graft.functions.TextVectorExpressions.pq_lut(
          col(queryVec), pq.codebooks, pq.m, pq.k))
        .withColumn("cid", explode(probeLists))
        .drop(queryVec))((df, c) => df.withColumnRenamed(c, s"_q_$c"))
    // deterministic routing kernel → collecting the probe union re-derives
    // exactly the lists the join below uses
    val probed = q.select("cid").distinct().collect().map(_.getInt(0)).toSeq
    val pruned = index.encodedWithCid.filter(col("cid").isin(probed: _*))
    val matchPred = matchCols.map(c => col(c) === col(s"_q_$c"))
      .foldLeft(lit(true))(_ && _)
    val scored = corpusPred.fold(pruned)(pruned.filter)
      .join(broadcast(q), Seq("cid"))
      .filter(col(queryId) =!= col(corpusId))
      .filter(matchPred)
      .withColumn("adc", graft.functions.TextVectorExpressions.pq_adc(
        col("codes"), col("_lut"), pq.k))
      .withColumn("cos", when(col("_cn") * col("_qn") === 0.0, lit(0.0))
        .otherwise(col("adc") / (col("_cn") * col("_qn"))))
    // the rerank's true-vector fetch prunes to the same lists (a
    // shortlist candidate always comes from a probed partition) and
    // carries the same slice predicate
    val rerankBase = ivf.assigned.filter(col("cid").isin(probed: _*))
    val corpus = corpusPred.fold(rerankBase)(rerankBase.filter)
      .select(col(corpusId), col(corpusVec))
    Similarity.rerankOrRank(scored, corpus, queries, corpusId, corpusVec,
      queryId, queryVec, k, rerank)
  }
}
