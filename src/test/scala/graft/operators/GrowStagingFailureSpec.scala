package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, StagingFaultFileSystem}
import graft.sinks.ManifestMergeEngine

/** A store grow stages its sidecar and data tables concurrently and
  * commits them sidecar-first. These specs fail the LAST data table's
  * staging write and check that the grow committed nothing — no table of
  * the store gains a manifest version — and that the retried grow (a
  * direct re-call for the lexical store, the stream's batch replay for
  * the ANN store) ends equal to a one-shot build.
  */
class GrowStagingFailureSpec extends SparkSpec {

  private val engine = new ManifestMergeEngine()

  private val storeTables = Seq("ids", "ids_pending", "ids_runs", "ids_meta")

  private def versions(dir: String, tables: Seq[String]): Map[String, Option[Long]] =
    tables.map(t => t -> engine.currentVersion(spark, s"$dir/$t")).toMap

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" / ")

  /** Run `grow` with the next create under `marker` failing; the failure
    * must fire and surface from `grow`.
    */
  private def failingOnce(marker: String)(grow: => Unit): Unit = {
    StagingFaultFileSystem.failNextCreateUnder(marker)
    try {
      val err = intercept[Exception](grow)
      assert(!StagingFaultFileSystem.pending, "the injected failure never fired")
      assert(messages(err).contains("injected staging failure"), messages(err))
    } finally StagingFaultFileSystem.disarm()
  }

  private def docs(maxId: Long): DataFrame = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .filter(col("doc_id") < maxId)
    .select("doc_id", "text")

  test("lex grow: a failed postings staging write commits no table; the retried grow equals a one-shot build") {
    import spark.implicits._
    StagingFaultFileSystem.register(spark)
    val all = docs(400)
    val increment = all.filter(col("doc_id") >= 300)
    val dir = StagingFaultFileSystem.tempDir("lex_fault")
    LexIndexStore.build(spark, dir, all.filter(col("doc_id") < 300), "doc_id",
      "text", nBuckets = 16, engine = engine)
    val tables = Seq("postings", "doclens", "doclens_sub", "meta", "deleted") ++
      storeTables
    val before = versions(dir, tables)

    failingOnce("/postings/_staging_") {
      LexIndexStore.addDocuments(spark, dir, increment, "doc_id", "text",
        engine = engine)
    }
    assert(versions(dir, tables) == before,
      "a table of the store committed although the grow's staging failed")

    LexIndexStore.addDocuments(spark, dir, increment, "doc_id", "text",
      engine = engine)
    val oneShot = java.nio.file.Files.createTempDirectory("lex_oneshot").toString
    LexIndexStore.build(spark, oneShot, all, "doc_id", "text", nBuckets = 16,
      engine = engine)
    val queries = Seq((1L, "hash join"), (2L, "window merge sort"),
      (3L, "spark stream vector")).toDF("query_id", "qtext")
    def search(at: String) = LexIndexStore.searchTopK(spark, at, queries,
      "query_id", "qtext", k = 10, engine = engine)
      .orderBy("query_id", "rank").collect().toSeq
    val got = search(dir)
    assert(got == search(oneShot), s"retried grow: $got")
    assert(got.exists(_.getAs[Long]("doc_id") >= 300),
      s"no increment document in the top-k: $got")
  }

  test("ann grow: a failed encoded staging write commits no table; the replayed batch equals a one-shot build") {
    StagingFaultFileSystem.register(spark)
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 500)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val base = all.filter(col("c_id") < 250)
    val ivf = Similarity.buildIvf(base, "c_id", "c_vec", k = 8, iters = 2)
    val pq = Similarity.buildPq(base, "c_id", "c_vec", m = 16, k = 8, iters = 2)
    val dir = StagingFaultFileSystem.tempDir("ann_fault")
    AnnIndexStore.save(spark, dir, ivf, pq, engine)
    val tables = Seq("centroids", "codebooks", "assigned", "encoded",
      "deleted") ++ storeTables
    val before = versions(dir, tables)

    val work = java.nio.file.Files.createTempDirectory("ann_fault_src").toString
    val src = s"$work/src"
    all.filter(col("c_id") >= 250).coalesce(1).write.parquet(src)
    def stream() = AnnIndexStore.streamingAddVectors(spark, src, all.schema,
      dir, s"$work/ckpt", "c_id", "c_vec", engine)
    failingOnce("/encoded/_staging_") {
      val q = stream()
      try q.processAllAvailable() finally q.stop()
    }
    assert(versions(dir, tables) == before,
      "a table of the store committed although the grow's staging failed")

    // the restarted stream replays the failed batch from its checkpoint
    val q = stream()
    try q.processAllAvailable() finally q.stop()
    val oneShot = java.nio.file.Files.createTempDirectory("ann_oneshot").toString
    AnnIndexStore.save(spark, oneShot,
      Similarity.IvfIndex(ivf.centroids,
        Similarity.assignCid(all, "c_vec", ivf.centroids)),
      Similarity.PqModel(pq.codebooks, pq.m, pq.k,
        Similarity.pqEncode(all, "c_id", "c_vec", pq.codebooks, pq.m, pq.k)),
      engine)
    val queries = all.filter(col("c_id") < 5 || col("c_id") >= 495)
      .select(col("c_id").as("q_id"), col("c_vec").as("q_vec"))
    def search(at: String) = AnnIndexStore.searchTopK(
      AnnIndexStore.load(spark, at, engine), queries,
      "c_id", "c_vec", "q_id", "q_vec", k = 5, rerank = 30)
      .orderBy("query_id", "rank").collect().toSeq
    val got = search(dir)
    assert(got == search(oneShot), s"replayed grow: $got")
    assert(got.exists(_.getLong(1) >= 250),
      s"no increment vector in the top-k: $got")
  }
}
