package graft.sinks

import org.apache.spark.sql.SparkSession

/** Driver-side cache for SCALAR table metadata (a store's 1-row meta, the
  * sidecar's bucket modulus, an ANN index's model matrices) keyed by the
  * owning manifest table's snapshot token. Reading one of these through
  * the engine costs a full Spark job (tiny-parquet scan + `head()`), and
  * the streaming stores pay it several times PER TRIGGER for values that
  * only change when the table commits. Keying on
  * [[ManifestMergeEngine.snapshotToken]] — (version, newest-segment
  * mtime·length mix) — makes staleness structurally impossible: any
  * commit advances the version; a torn-down-and-rebuilt path changes the
  * second component. This is metadata caching in the public Delta
  * `SnapshotManagement` sense, never result caching: every cached value
  * is a pure function of one committed table version, and the first read
  * at each version still computes it from the stored bytes.
  */
private[graft] object MetaCache {

  private val MaxEntries = 4096

  /** Memoizing holder: the compute runs inside the holder's own lock, so
    * the ConcurrentHashMap bin lock is held only for the (cheap) holder
    * insertion — a seconds-long Spark collect under a CHM bin lock would
    * block unrelated keys hashing to the same bin, and a compute that
    * re-entered the cache would hit CHM's recursive-update
    * IllegalStateException (round-17 advice fix).
    */
  private final class Holder(compute: () => AnyRef) {
    @volatile private var value: AnyRef = _
    def force(): AnyRef = {
      val v0 = value
      if (v0 != null) v0
      else synchronized {
        if (value == null) value = compute()
        value
      }
    }
  }

  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String, Long, Long), Holder](
      64, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, Long, Long), Holder])
          : Boolean = size() > MaxEntries
    })

  /** `compute` the value of scalar metadata stored under `path` (a table
    * root managed by `engine`), cached per committed snapshot. `kind`
    * namespaces different projections of the same table.
    */
  def cached[T <: AnyRef](spark: SparkSession, path: String, kind: String,
      engine: ManifestMergeEngine)(compute: => T): T =
    engine.snapshotToken(spark, path) match {
      case Some(tok) =>
        val key = (path, kind, tok._1, tok._2)
        var h = cache.get(key)
        if (h == null) {
          val fresh = new Holder(() => compute)
          val prev = cache.putIfAbsent(key, fresh)
          h = if (prev != null) prev else fresh
        }
        h.force().asInstanceOf[T]
      case None => compute
    }

  /** Populate the cache at WRITE time with the value the writer just
    * committed — a maintenance pass that overwrites scalar metadata (a
    * streaming trigger's meta refresh) advances the snapshot version on
    * every trigger, so read-side caching alone misses once per trigger
    * for a value the writer had in hand. The token is resolved AFTER the
    * commit, so the entry maps the exact committed snapshot. CAVEAT
    * (explicit, not self-healing): if ANOTHER writer commits in the
    * window between this writer's commit and the token read, this value
    * is keyed to the newer snapshot and would be served for that
    * snapshot's whole lifetime — safe only under the stores'
    * single-maintainer contract, which every caller of put() operates
    * under (streaming triggers and maintenance passes hold the single
    * writer role by contract; concurrent writers already fail the
    * engine's CAS).
    */
  def put[T <: AnyRef](spark: SparkSession, path: String, kind: String,
      engine: ManifestMergeEngine, value: T): Unit =
    engine.snapshotToken(spark, path).foreach { tok =>
      val h = new Holder(() => value)
      h.force()
      cache.put((path, kind, tok._1, tok._2), h)
    }
}
