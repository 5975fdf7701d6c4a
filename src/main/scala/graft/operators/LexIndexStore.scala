package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks.ManifestMergeEngine

/** Persisted inverted index for lexical (BM25) retrieval — the
  * build-once/search-many lifecycle for text, mirroring what
  * [[AnnIndexStore]] does for vectors. [[Terms.bm25TopK]] re-tokenizes
  * and re-aggregates the whole corpus per query batch; at 100 TB the
  * index build is its own pipeline stage and every search must plan
  * against STORED postings instead of re-touching the corpus.
  *
  * Layout under `indexPath` — four tables, all managed through a
  * [[ManifestMergeEngine]] (the ACID manifest backend, so growth and
  * maintenance are snapshot-isolated from concurrent searches):
  * {{{
  *   postings/  tb=<N>/ (<id>, token, tf)   inverted lists, bucketed by token hash
  *   doclens/   (<id>, dl)                  per-document token counts
  *   doclens_sub/ (file, n_docs, sum_dl)    per-file subtotal cache (derived)
  *   meta/      (n_docs, total_dl, n_buckets)  1-row corpus scalars
  *   deleted/   (<id>, dl)                  tombstones
  * }}}
  * `postings` is PARTITIONED BY `tb = pmod(xxhash64(token), n_buckets)`,
  * so a search's query vocabulary becomes a literal partition filter: the
  * scan reads ONLY the buckets holding the query's terms — ≤ |query vocab|
  * of `n_buckets` partitions regardless of corpus size (plan-guarded in
  * LexIndexStoreSpec), with the `token IN (…)` filter pushed further down
  * to parquet row groups inside each bucket. The corpus scalars a scorer
  * needs (`n_docs`, `avgdl`) ride the 1-row `meta` table instead of a
  * corpus-wide re-aggregation per search.
  *
  * Incremental growth: [[addDocuments]] tokenizes ONLY the increment and
  * appends — O(increment) work; re-arrived ids (checkpoint replay) are
  * filtered against the stored doclens, so a replayed batch heals instead
  * of double-counting (the [[AnnIndexStore.streamingAddVectors]]
  * discipline). The meta scalars update through the engine's
  * CAS-committed overwrite; growth is single-maintainer by contract
  * (like the pack state), and a concurrent writer loses the CAS instead
  * of silently clobbering.
  *
  * Deletes are TOMBSTONES ([[deleteDocuments]]): searches anti-join them
  * out and correct `n_docs`/`avgdl` from the tombstoned rows' own stored
  * lengths (O(deletes), broadcast), so a deleted document neither
  * surfaces nor skews anyone else's score. [[purgeDeleted]] physically
  * drops tombstoned postings, rewriting only the TOUCHED token buckets.
  *
  * No reference analogue (SURVEY §2.11 retrieval family).
  */
object LexIndexStore {

  /** Store-default manifest engine — the [[AnnIndexStore.defaultEngine]]
    * rationale: gcEvery=16 keeps the per-trigger commit cost free of the
    * O(store files) orphan sweep; [[compact]] still forces a sweep.
    */
  private[operators] def defaultEngine: ManifestMergeEngine =
    new ManifestMergeEngine(gcEvery = 16)

  private def postingsPath(p: String) = s"$p/postings"
  private def doclensPath(p: String) = s"$p/doclens"
  private def doclensSubPath(p: String) = s"$p/doclens_sub"
  private def metaPath(p: String) = s"$p/meta"
  private def deletedPath(p: String) = s"$p/deleted"

  /** Token → bucket id. Spark-side xxhash64 is the single source of
    * truth; driver code that needs a token's bucket evaluates THIS
    * expression through a local frame rather than re-implementing the
    * hash (see [[searchTopK]]).
    */
  private def tokenBucket(token: Column, nBuckets: Int): Column =
    pmod(xxhash64(token), lit(nBuckets.toLong)).cast("int")

  private def metaRow(spark: SparkSession, nDocs: Long, totalDl: Long,
      nBuckets: Int, idColName: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("n_docs", LongType, nullable = false),
      StructField("total_dl", LongType, nullable = false),
      StructField("n_buckets", IntegerType, nullable = false),
      StructField("id_col", StringType, nullable = false)))
    spark.createDataFrame(
      java.util.Collections.singletonList(Row(nDocs, totalDl, nBuckets,
        idColName)),
      schema).coalesce(1)
  }

  private final case class Meta(nDocs: Long, totalDl: Long, nBuckets: Int,
      idCol: String)

  private def readMeta(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine): Meta =
    // scalar-metadata cache keyed by the meta table's committed snapshot
    // (round-16: the head() here was a full Spark job paid several times
    // per trigger/search for a value that only changes on commit)
    graft.sinks.MetaCache.cached(spark, metaPath(indexPath), "lex_meta",
      engine) {
      val metaDf = engine.read(spark, metaPath(indexPath))
        .getOrElse(throw new IllegalStateException(
          s"no lexical index at $indexPath"))
      // loud refusal for pre-id_col indexes instead of an opaque
      // UNRESOLVED_COLUMN from deep inside the select
      if (!metaDf.columns.contains("id_col"))
        throw new IllegalStateException(
          s"index at $indexPath predates the id_col meta format — rebuild " +
            "it (rebuilds go to a new path); positional id inference was " +
            "removed because metadata denormalization made it unsafe")
      val r = metaDf.select("n_docs", "total_dl", "n_buckets", "id_col").head()
      Meta(r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3))
    }

  /** Tokenize `docs` and append their lengths + postings. The tf frame is
    * pinned once (two consumers) and released after.
    *
    * Commit ORDER is the crash contract: id sidecar FIRST (the probe
    * authority — [[IdSidecar]]), doclens second, postings last.
    * [[addDocuments]] dedups replayed batches against the sidecar, so a
    * crash anywhere in the chain makes the replay SKIP the batch, and
    * each crash window degrades monotonically: after sidecar only, the
    * batch is absent-and-uncounted (clean loss — n_docs/avgdl see
    * nothing); after doclens too, it is counted-but-unscorable. The
    * REVERSE order would instead re-append on replay — duplicated
    * (id, token, tf) rows that inflate df and double-sum those docs'
    * BM25 contributions forever, the one unrecoverable corruption.
    */
  private def appendCorpus(indexPath: String, docs: DataFrame, idCol: String,
      textCol: String, nBuckets: Int, engine: ManifestMergeEngine,
      metadata: Option[DataFrame] = None,
      backfillIds: Option[DataFrame] = None,
      knownDocCount: Option[Long] = None): Unit = {
    // Bound the tf aggregation's PER-TASK hash state (round-14 verdict
    // wrong #1: the 10M-doc datadom6lex build needed a 96 GB heap —
    // per-task partial-agg state tracked the corpus). Pre-shuffling the
    // exploded token stream on the doc id, with a partition count sized
    // from the doc count, means the aggregate's required distribution
    // (clustering on (id, token) — id alone co-locates every group) is
    // already satisfied: no second exchange, and per-task state is
    // (corpus postings / nPart) — constant in the corpus once nPart
    // scales with it. Keying the pre-shuffle on id ALONE (round-16;
    // previously (id, token)) additionally makes the downstream doclens
    // roll-up `groupBy(id)` reuse the SAME exchange — one less full
    // shuffle of the tf frame per append, same per-task state bound
    // (docs-per-partition × tokens-per-doc either way). The trade is
    // shuffling token OCCURRENCES instead of partially-aggregated pairs —
    // disk-backed, linear, and ~the same volume at word-frequency
    // duplication rates; heap that tracks the corpus is the build-path
    // scale-killer, a bigger shuffle is not. ~16k docs/partition ≈ 0.8M
    // postings/task at the probe's 48-token salad; capped at 4096 like
    // every other driver-literal bound. `knownDocCount` rides in from
    // callers that already counted the increment (the grow path counts
    // it for the empty-batch check) so sizing costs no extra pass.
    val nDocsEst = knownDocCount.getOrElse(docs.select(col(idCol)).count())
    // Partition count derived from the INCREMENT SIZE, not floored at
    // spark.sql.shuffle.partitions (round-17, guide §2 "make partitioning
    // scale-adaptive rather than a constant tuned for local mode or the
    // cluster"): the old `max(shufflePartitions, …)` floor made every
    // micro-batch trigger shuffle into `cores` partitions regardless of
    // batch size, so the per-trigger task count GREW with local core
    // count (the round-16 scaling block's anti-scaling family) while the
    // tf checkpoint's 32 partitions taxed every downstream consumer's
    // map stage. ~2k docs/partition keeps per-task partial-agg state an
    // order of magnitude under the round-14 heap bound (≈0.1M postings/
    // task at the probe's 48-token salad) and still fans out past any
    // realistic core count for big appends (cap 4096 as before).
    val nPart = math.max(1L, math.min(4096L,
      (nDocsEst + 2047L) / 2048L)).toInt
    val tf = Terms.tokens(docs, idCol, textCol)
      .repartition(nPart, col(idCol))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    try {
      val dl0 = tf.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
      // metadata denormalizes into doclens (1 row/doc — the natural
      // home): a filtered search's doc predicate then hits the stored
      // table with no query-time side join. Column-set mismatches vs the
      // stored layout are refused: a null-filled metadata column would
      // silently drop appended docs from every filtered search (the
      // AnnIndexStore.appendEncoded contract). Row coverage is refused
      // too: the denormalizing join is inner, so a doc id with no
      // metadata row would silently vanish from doclens while its
      // postings are still written — searchable-but-unscorable, df
      // skewed vs n_docs, and a later re-add (which dedups against
      // doclens) would append its postings a SECOND time, permanently
      // double-counting its BM25 mass.
      val dl = metadata.fold(dl0) { m =>
        AnnIndexStore.requireMetadataCoversIds(dl0, idCol, m,
          s"lexical index at $indexPath")
        dl0.join(m, Seq(idCol))
      }
      engine.read(docs.sparkSession, doclensPath(indexPath)).foreach { stored =>
        val want = stored.columns.toSet
        val got = dl.columns.toSet
        require(got == want,
          s"index at $indexPath stores doclens columns " +
            s"${want.toSeq.sorted.mkString(",")} but the increment carries " +
            s"${got.toSeq.sorted.mkString(",")} — supply the same metadata " +
            "columns the index was built with")
      }
      // stored-id sidecar FIRST (probe authority — the IdSidecar
      // commit-order contract), then doclens, then postings: each crash
      // window degrades to absent-from-search, never to duplicated rows.
      // All three stage concurrently over the pinned tf; none commits
      // until all have staged. `backfillIds` rides through from the GROW
      // path so a pre-sidecar store's first grow seeds the fold from the
      // COMPLETE stored-id set, never from its own increment
      // (IdSidecar.append's contract). The postings frame is clustered by
      // bucket before the partitioned write (the AnnIndexStore save
      // rationale: unclustered, every task sprays a file into every tb=N/
      // directory).
      IdSidecar.growStaged(indexPath, dl0.select(col(idCol)), idCol, engine,
        "lex_sidecar_append", Seq(
          IdSidecar.TableAppend(doclensPath(indexPath), dl, None,
            "lex_doclens_append"),
          IdSidecar.TableAppend(postingsPath(indexPath), tf
            .withColumn("tb", tokenBucket(col("token"), nBuckets))
            .repartition(col("tb")), Some("tb"), "lex_postings_append")),
        backfillFrom = backfillIds,
        // bucket sizing only — saves the seed path's own count pass
        knownIdCount = Some(nDocsEst))
    } finally Dedup.releaseLocalCheckpoint(tf)
  }

  /** Recompute the corpus scalars FROM doclens (1 row/doc) and overwrite
    * `meta` — never an incremental ±delta. A recompute is idempotent
    * under replay: a crash before the meta commit just leaves meta stale
    * until the next maintenance call re-derives the same truth, whereas
    * a re-applied delta skews `avgdl`/idf for every future search.
    *
    * COST is bounded by a per-file subtotal cache (`doclens_sub`), not by
    * the corpus — the round-14 watch-list item (an O(docs) column agg per
    * streaming trigger; sub-second at 10M docs, minutes at 10B). Doclens
    * files are immutable and content-addressed (UUID part names), so
    * `(n_docs, sum_dl)` per FILE is a pure function of the file: the
    * refresh lists the live file set (via the engine read's inputFiles),
    * aggregates ONLY files missing from the cache — O(increment) on a
    * grow trigger, one full pass the first time on a pre-cache store or
    * right after compact/purge rewrites the filenames — and sums exact
    * longs driver-side, O(#files), the same scale the manifest already
    * holds on the driver. The cache is DERIVED state validated against
    * the live file list on every refresh: it needs no commit atomicity
    * with the doclens append (a missing row is recomputed, a duplicate
    * row from a crash-replayed append collapses in the keyed map, a
    * stale row for a compacted-away file is ignored and pruned). Meta
    * values are bit-identical to the full re-aggregation: same rows,
    * same integer sums, grouped by file first.
    *
    * Below `graft.lex.subCacheMinDocs` stored docs (session conf, then
    * system property, default 20M, per
    * meta's own last count) the refresh takes the DIRECT single-job
    * aggregation instead: the cache path's fixed cost is four small
    * jobs (~0.6 s measured) while a ≤20M-row column agg is one cheaper
    * job — both bounded, so the per-trigger cost is capped by
    * max(threshold-sized scan, cache fixed cost) at every store size.
    * A stale/corrupt meta only mis-routes ONE refresh (both paths are
    * exact; the refresh itself repairs the count the next one reads).
    */
  private def refreshMeta(spark: SparkSession, indexPath: String,
      nBuckets: Int, idColName: String, engine: ManifestMergeEngine,
      prevDocs: Long): Unit = {
    val dl = engine.read(spark, doclensPath(indexPath))
      .getOrElse(throw new IllegalStateException(
        s"no doclens at $indexPath"))
    // session-conf first (scopable per SparkSession — tests override on a
    // spark.newSession() clone instead of mutating the JVM-global system
    // property out from under parallel suites), sysprop fallback for
    // spark-submit --conf-less deployments
    val minDocs = spark.conf.getOption("graft.lex.subCacheMinDocs")
      .map(_.toLong)
      .getOrElse(java.lang.Long.getLong("graft.lex.subCacheMinDocs",
        20000000L).longValue())
    if (prevDocs < minDocs) {
      val m = dl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
      engine.overwrite(spark, metaPath(indexPath),
        metaRow(spark, m.getLong(0), m.getLong(1), nBuckets, idColName))
      // write-through: the next trigger/search's readMeta would miss the
      // snapshot cache (meta's version advances every refresh) for a
      // value this writer has in hand
      graft.sinks.MetaCache.put(spark, metaPath(indexPath), "lex_meta",
        engine, Meta(m.getLong(0), m.getLong(1), nBuckets, idColName))
      return
    }
    // key on the content-addressed basename: inputFiles and
    // input_file_name() render the scheme differently (file:/ vs
    // file:///) and a mismatched key would silently degrade every
    // refresh back to the full scan (MetaSubtotalSpec pins the hit)
    def basename(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val live = dl.inputFiles
    val liveByName = live.iterator.map(p => basename(p) -> p).toMap
    // UUID part names never collide in practice, but a collision here
    // would silently DROP a file from the map and undercount meta — fail
    // loudly instead (the refresh is re-runnable; nothing is committed yet)
    require(liveByName.size == live.length,
      s"doclens basename collision among ${live.length} live files at " +
        s"$indexPath — subtotal cache would undercount; " +
        "file a distinct-basename layout or compact first")
    val subPath = doclensSubPath(indexPath)
    val subSchema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("n_docs", LongType, nullable = false),
      StructField("sum_dl", LongType, nullable = false)))
    val cached: Map[String, (Long, Long)] =
      engine.read(spark, subPath).map(_.collect().iterator.map { r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))
      }.toMap).getOrElse(Map.empty)
    val missing = liveByName.keysIterator.filterNot(cached.contains).toSeq
    val fresh: Map[String, (Long, Long)] =
      if (missing.isEmpty) Map.empty
      else spark.read.parquet(missing.map(liveByName): _*)
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("sum_dl"))
        .collect().iterator.map { r =>
          basename(r.getString(0)) -> (r.getLong(1), r.getLong(2))
        }.toMap
    val perFile = liveByName.keysIterator.map { f =>
      // a zero-row part file produces no group — it counts (0, 0)
      cached.getOrElse(f, fresh.getOrElse(f, (0L, 0L)))
    }.toSeq
    val nDocs = perFile.iterator.map(_._1).sum
    val sumDl = perFile.iterator.map(_._2).sum
    if (missing.nonEmpty) {
      val rows = missing.map { f =>
        val (n, s) = fresh.getOrElse(f, (0L, 0L)); Row(f, n, s)
      }
      engine.append(subPath, spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), subSchema).coalesce(1))
    }
    // prune dead cache rows (compact/purge rewrote the filenames) once
    // they dominate, so the driver-side map stays O(live files)
    if (cached.size > 2 * liveByName.size + 16) {
      val keep = (cached ++ fresh).iterator.collect {
        case (f, (n, s)) if liveByName.contains(f) => Row(f, n, s)
      }.toSeq
      engine.overwrite(spark, subPath, spark.createDataFrame(
        java.util.Arrays.asList(keep: _*), subSchema).coalesce(1))
    }
    engine.overwrite(spark, metaPath(indexPath),
      metaRow(spark, nDocs, sumDl, nBuckets, idColName))
    // write-through — the direct-path rationale above
    graft.sinks.MetaCache.put(spark, metaPath(indexPath), "lex_meta",
      engine, Meta(nDocs, sumDl, nBuckets, idColName))
  }

  /** Build a fresh index at `indexPath` (must not already hold one — a
    * rebuild is a NEW path + reader swap, never an in-place mutation).
    * `nBuckets` bounds the partition count of the postings layout; it is
    * frozen into `meta` because every later add/search must bucket with
    * the same modulus.
    */
  def build(spark: SparkSession, indexPath: String, docs: DataFrame,
      idCol: String, textCol: String, nBuckets: Int = 64,
      engine: ManifestMergeEngine = LexIndexStore.defaultEngine,
      metadata: Option[org.apache.spark.sql.DataFrame] = None): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(engine.read(spark, metaPath(indexPath)).isEmpty,
      s"index already exists at $indexPath — rebuilds go to a new path")
    appendCorpus(indexPath, docs, idCol, textCol, nBuckets, engine, metadata)
    // build: prevDocs=0 routes the first refresh through the direct agg —
    // one more O(corpus) column pass on a path that just scanned the
    // whole corpus anyway; the cache seeds on the first big-store grow
    refreshMeta(spark, indexPath, nBuckets, idCol, engine, prevDocs = 0L)
  }

  /** Grow a stored index: tokenize ONLY the increment and append —
    * O(increment) work, existing rows untouched. Ids already indexed
    * (checkpoint replay / upstream dup) are dropped against the stored
    * doclens so re-delivery heals instead of double-counting. A
    * tombstoned id still physically present also counts as existing —
    * it re-enters only after [[purgeDeleted]] (the
    * [[AnnIndexStore.deleteVectors]] re-arrival contract).
    */
  def addDocuments(spark: SparkSession, indexPath: String, docs: DataFrame,
      idCol: String, textCol: String,
      engine: ManifestMergeEngine = LexIndexStore.defaultEngine,
      metadata: Option[org.apache.spark.sql.DataFrame] = None): Unit = {
    val meta = readMeta(spark, indexPath, engine)
    require(idCol == meta.idCol,
      s"index at $indexPath was built with id column '${meta.idCol}' " +
        s"but the increment names '$idCol'")
    val existing = engine.read(spark, doclensPath(indexPath))
      .getOrElse(throw new IllegalStateException(
        s"no lexical index at $indexPath"))
    val fresh = graft.tools.PhaseTimer("lex_probe") {
      docs.select(col(idCol), col(textCol))
        .dropDuplicates(idCol)
        // bucket-pruned stored-id probe ([[IdSidecar]]): per-trigger cost
        // tracks the increment, not the store (full-scan fallback for
        // indexes written before the sidecar existed)
        .join(broadcast(IdSidecar.presentIds(spark, indexPath, existing,
          docs, idCol, engine)),
          Seq(idCol), "left_anti")
        // materialize BEFORE the appends: the probe join reads the table
        // the doclens append writes to
        .localCheckpoint(true)
    }
    try {
      // one count replaces the isEmpty probe AND the append's
      // partition-sizing pass (round-16): same job count when the batch
      // is empty, one less when it isn't
      val freshCount = fresh.count()
      if (freshCount > 0) {
        // grow path: hand the complete stored-id frame down so a
        // pre-sidecar store backfills instead of mis-seeding from the
        // increment (the doclens table physically keeps tombstoned docs
        // until purge, so it IS the complete stored-id set)
        appendCorpus(indexPath, fresh, idCol, textCol, meta.nBuckets, engine,
          metadata, backfillIds = Some(existing.select(col(idCol))),
          knownDocCount = Some(freshCount))
        // recompute, don't ±delta: heals a prior crash-before-meta too
        graft.tools.PhaseTimer("lex_meta_refresh") {
          refreshMeta(spark, indexPath, meta.nBuckets, meta.idCol, engine,
            prevDocs = meta.nDocs)
        }
      }
    } finally Dedup.releaseLocalCheckpoint(fresh)
  }

  /** Streaming index growth: documents landing on a file stream are
    * absorbed per micro-batch through [[addDocuments]] — each trigger is
    * O(increment), re-arrived ids (checkpoint replay, cross-batch
    * overlap) heal through the doclens filter, and meta is recomputed
    * from doclens per batch so the corpus scalars can never drift from
    * the stored rows. Single-maintainer contract, same as
    * [[AnnIndexStore.streamingAddVectors]].
    */
  def streamingAddDocuments(spark: SparkSession, sourceDir: String,
      schema: StructType, indexPath: String, checkpointDir: String,
      idCol: String, textCol: String,
      engine: ManifestMergeEngine = LexIndexStore.defaultEngine,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"),
      foldEvery: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(foldEvery >= 1, "foldEvery must be >= 1")
    // fail fast at stream start, not first trigger
    readMeta(spark, indexPath, engine)
    // in-stream sidecar maintenance cadence — the
    // [[AnnIndexStore.streamingAddVectors]] rationale: the pending log
    // must fold ON the stream's own cadence or it grows one file per
    // trigger until an external compact, and every probe reads it whole
    val sinceFold = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.readStream.schema(schema).parquet(sourceDir)
      .writeStream
      .queryName("graft_lex_ingest")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        addDocuments(batch.sparkSession, indexPath, batch, idCol, textCol,
          engine)
        if (sinceFold.incrementAndGet() >= foldEvery) {
          sinceFold.set(0)
          graft.tools.PhaseTimer("lex_sidecar_fold") {
            IdSidecar.fold(batch.sparkSession, indexPath, engine)
          }
          // the per-file subtotal cache appends one small file per
          // refresh — fold it on the same cadence or a long stream's
          // refresh pays an O(triggers-since-compact) tiny-file read
          // (the ids_pending disease, same cure; manifest-scale cost)
          graft.tools.PhaseTimer("lex_sub_fold") {
            engine.compact(batch.sparkSession, doclensSubPath(indexPath))
          }
        }
      }
      .start()
  }

  /** Delete documents: tombstones, not rewrites. Each tombstone carries
    * the doc's stored length so searches can correct the corpus scalars
    * without re-aggregating doclens — O(deletes) work: one point join
    * against doclens, replay-idempotent dedupAppend through the engine.
    * Ids absent from the index are ignored (the attach join drops
    * them).
    */
  def deleteDocuments(spark: SparkSession, indexPath: String, ids: DataFrame,
      idCol: String, engine: ManifestMergeEngine = LexIndexStore.defaultEngine): Unit = {
    val doclens = engine.read(spark, doclensPath(indexPath))
      .getOrElse(throw new IllegalStateException(
        s"no lexical index at $indexPath"))
    val tomb = doclens.join(ids.select(col(idCol)).distinct(), Seq(idCol))
    engine.dedupAppend(spark, deletedPath(indexPath), tomb, idCol)
  }

  /** Physically drop tombstoned postings and lengths, then fold the
    * tombstones into `meta` and clear them. The postings rewrite touches
    * ONLY the buckets that actually hold a deleted doc's terms (found by
    * one maintenance scan — this is the batch pass that pays the full
    * postings read so every search doesn't have to); doclens (1 row/doc,
    * ~1% of postings mass) rewrites whole. Single-maintainer contract,
    * same as [[AnnIndexStore.purgeDeleted]]; searches against already-
    * planned frames are snapshot-isolated by the manifest backend.
    */
  def purgeDeleted(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine = LexIndexStore.defaultEngine): Unit = {
    engine.read(spark, deletedPath(indexPath)).foreach { del =>
      if (!del.isEmpty) {
        val meta = readMeta(spark, indexPath, engine)
        // id column name comes from meta, never inferred from column
        // position — a metadata column ordered before the id (or one
        // literally named "dl") must not mis-key the purge joins
        val idc = meta.idCol
        // Commit sequence is crash-idempotent end to end: every step is a
        // left_anti/no-op on rows already purged, meta is RECOMPUTED from
        // the purged doclens (never shrunk by tombstone deltas — a crash
        // between a delta-shrink and the tombstone clear would re-subtract
        // on the re-run and permanently skew avgdl/idf), and the tombstone
        // clear comes last so an interrupted purge simply re-runs.
        val delIds = del.select(idc).localCheckpoint(true)
        try {
          val postings = engine.read(spark, postingsPath(indexPath))
            .getOrElse(throw new IllegalStateException(
              s"no postings at $indexPath"))
          val touched = postings.join(delIds, Seq(idc))
            .select("tb").distinct().collect().map(_.get(0)).toSeq
          if (touched.nonEmpty) {
            // pin the survivors BEFORE the replace rewrites the partitions
            // they're read from
            val kept = postings.filter(col("tb").isin(touched: _*))
              .join(delIds, Seq(idc), "left_anti")
              .localCheckpoint(true)
            try engine.replacePartitions(spark, postingsPath(indexPath),
              kept, "tb", touched)
            finally Dedup.releaseLocalCheckpoint(kept)
          }
          val doclens = engine.read(spark, doclensPath(indexPath))
            .getOrElse(throw new IllegalStateException(
              s"no doclens at $indexPath"))
          val keptLens = doclens.join(delIds, Seq(idc), "left_anti")
            .localCheckpoint(true)
          try engine.overwrite(spark, doclensPath(indexPath), keptLens)
          finally Dedup.releaseLocalCheckpoint(keptLens)
          refreshMeta(spark, indexPath, meta.nBuckets, meta.idCol, engine,
            prevDocs = meta.nDocs)
          // sidecar drops the purged ids (O(touched ib buckets)) so a
          // purged id's re-arrival re-indexes — and not before the data
          // rewrites, or a crash between would re-admit a still-stored id
          IdSidecar.purge(spark, indexPath, delIds, idc, engine)
          engine.overwrite(spark, deletedPath(indexPath), del.limit(0))
        } finally Dedup.releaseLocalCheckpoint(delIds)
      }
    }
  }

  /** Index maintenance: every [[addDocuments]] trigger appends one file
    * per touched bucket, so a long-grown index accretes small files.
    * Delegates to the engine's compact, which preserves the bucketed
    * layout — the pruned search keeps its partition filters after
    * compaction.
    */
  def compact(spark: SparkSession, indexPath: String,
      engine: ManifestMergeEngine = LexIndexStore.defaultEngine,
      targetBytes: Long = 128L << 20): Unit = {
    engine.compact(spark, postingsPath(indexPath), targetBytes)
    engine.compact(spark, doclensPath(indexPath), targetBytes)
    // the subtotal cache accretes one small file per refresh-with-new-
    // data; fold it too (its rows for the pre-compact doclens filenames
    // go stale here — the next refreshMeta ignores and prunes them)
    engine.compact(spark, doclensSubPath(indexPath), targetBytes)
    IdSidecar.compact(spark, indexPath, engine, targetBytes)
  }

  /** BM25 top-`k` against the STORED index — identical output to
    * [[Terms.bm25TopK]] over the same live corpus (parity is structural:
    * both paths run [[Terms.bm25ScoreTopK]]), but the corpus work is
    * already done: the scan reads only the query vocabulary's buckets
    * (literal `tb IN (…)` partition filter + `token IN (…)` pushed to
    * row groups), df comes off that pruned frame, and `n_docs`/`avgdl`
    * come from the 1-row meta corrected by the tombstones' own stored
    * lengths. Per-search cost is O(matched postings), not O(corpus).
    *
    * The query batch is bounded by contract (it broadcasts), so its
    * distinct tokens collect to the driver for the literal filters — the
    * same contract under which [[AnnIndexStore.searchTopK]] collects its
    * probed list ids. Bucket ids are computed by evaluating the SAME
    * Spark expression the writers used, through a local frame — never a
    * driver-side reimplementation of the hash.
    */
  /** `docPred`: optional FILTERED-retrieval predicate over the stored
    * doclens columns (the id, or metadata denormalized at build time via
    * `build(metadata=…)`) — "top-k within this source/language" with the
    * Lucene filtered-query semantics: idf and avgdl stay CORPUS-level
    * (a filter restricts candidates, it does not define a new corpus),
    * and the restriction applies BEFORE ranking at the doclens join, so
    * each query still gets k in-slice results instead of a post-filtered
    * shortfall. The postings scan itself stays pruned by the query
    * vocabulary; out-of-slice candidates drop at the id-keyed score join.
    *
    * `matchCols`: PER-QUERY attribute matching — "top-k within the
    * query's OWN source/language", the slice varying by query. Each
    * named column must exist on both the query frame and the stored
    * doclens (denormalized at build via `build(metadata=…)`); the
    * equality applies before ranking, composing with `docPred`
    * (global slice ∧ per-query match), idf/avgdl corpus-level as above.
    */
  def searchTopK(spark: SparkSession, indexPath: String, queries: DataFrame,
      qidCol: String, qtextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      engine: ManifestMergeEngine = LexIndexStore.defaultEngine,
      docPred: Option[Column] = None,
      matchCols: Seq[String] = Nil): DataFrame = {
    val meta = readMeta(spark, indexPath, engine)
    val postings = engine.read(spark, postingsPath(indexPath))
      .getOrElse(throw new IllegalStateException(
        s"no postings at $indexPath"))
    val doclens = engine.read(spark, doclensPath(indexPath))
      .getOrElse(throw new IllegalStateException(
        s"no doclens at $indexPath"))
    // the stored id column name rides meta (written at build) — inferring
    // it from doclens column POSITION would silently mis-join scores the
    // day a backend reorders columns or a metadata column is named "dl"
    val idCol = meta.idCol
    val qt = Terms.queryTerms(queries, qidCol, qtextCol)
    // ONE collect yields both the query vocabulary and its bucket ids —
    // the bucket expression is evaluated Spark-side on the same frame
    // (never a driver-side hash reimplementation), just in the same job
    // as the token collect instead of a second one (round-16)
    val tokRows = qt.select(col("token"),
        tokenBucket(col("token"), meta.nBuckets).as("tb"))
      .distinct().collect()
    val qTokens = tokRows.map(_.getString(0)).toSeq
    val buckets = tokRows.map(_.getInt(1)).distinct.toSeq
    val pruned = postings
      .filter(col("tb").isin(buckets: _*) && col("token").isin(qTokens: _*))
      .drop("tb")
    // tombstone correction: exclusion by anti-join (broadcast — the
    // tombstone table is O(deletes since last purge)) and the corpus
    // scalars shrunk by the tombstoned rows' own stored (count, dl sum)
    val (tfq, dl, liveDocs, liveDl) =
      engine.read(spark, deletedPath(indexPath)).filter(!_.isEmpty) match {
        case Some(del) =>
          val g = del.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
          val delIds = del.select(idCol)
          (pruned.join(broadcast(delIds), Seq(idCol), "left_anti"),
            doclens.join(broadcast(delIds), Seq(idCol), "left_anti"),
            meta.nDocs - g.getLong(0), meta.totalDl - g.getLong(1))
        case None => (pruned, doclens, meta.nDocs, meta.totalDl)
      }
    require(liveDocs > 0, s"index at $indexPath holds no live documents")
    // exact long sum / count as double — the arithmetic bm25TopK's
    // corpus-side stats aggregate runs
    val stats = spark.range(1)
      .select(lit(liveDocs).as("n_docs"),
        lit(liveDl.toDouble / liveDocs).as("avgdl"))
    matchCols.foreach { c =>
      require(queries.columns.contains(c),
        s"matchCols column '$c' missing from the query frame")
      require(doclens.columns.contains(c),
        s"matchCols column '$c' not stored in doclens — build with " +
          "metadata = ... carrying it")
    }
    val qMatch =
      if (matchCols.isEmpty) None
      else Some((matchCols.foldLeft(
        queries.select((qidCol +: matchCols).map(col): _*)
          .withColumnRenamed(qidCol, "query_id"))(
        (df, c) => df.withColumnRenamed(c, s"_q_$c")), matchCols))
    // the slice filter lands on doclens only: candidates drop at the
    // score join (filter-then-rank) while df/idf/avgdl stay corpus-level
    Terms.bm25ScoreTopK(tfq, qt, docPred.fold(dl)(dl.filter), stats,
      idCol, k, k1, b, qMatch)
  }
}
