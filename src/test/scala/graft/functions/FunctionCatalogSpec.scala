package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TableFunctionRegistry}
import org.apache.spark.sql.functions.col

import graft.{GraftExtensions, SparkSpec}
import graft.sql.TableFunctions

/** The function catalog is declared once ([[Registry.kernels]] and
  * [[TableFunctions.functions]]) and every install route yields exactly
  * that catalog: the session extension, and the Column wrappers on a bare
  * session, whichever wrapper runs first.
  */
class FunctionCatalogSpec extends SparkSpec {

  private val kernelNames = Set(
    "inflate_raw", "parse_pyline", "shingle_hashes", "shingle_hash_seq",
    "minhash_signature", "simhash64", "sig_agreement", "token_gram",
    "pii_scan", "repetition_stats", "stopword_ratios", "lang_id",
    "vec_dot", "hyperplane_bucket", "sign_pack", "hamming_dist",
    "nearest_centroids", "adaptive_nearest_centroids", "pq_encode", "pq_lut",
    "pq_adc", "sq8_encode", "sq8_dot", "sq8_norm", "hashed_bow_ids",
    "hashed_tf_vec", "hashed_bow_margin", "hashed_bow_margins",
    "wordpiece_encode", "merge_fold", "unigram_viterbi", "mg_topk")

  private val tableFunctionNames = Set(
    "ann_topk", "bm25_topk", "dedup_keep", "line_dedup", "bloom_new_ids",
    "media_probe", "heavy_hitters", "trigram_kn_score", "weighted_sample",
    "asof_join", "sessionize", "chunk_docs", "pack_sequences",
    "stratified_sample", "shuffle_shards", "budget_select", "resample_locf",
    "hybrid_topk", "pii_scrub", "decontaminate", "containment_decontaminate",
    "semdedup_keep", "mix_sample", "split_assign")

  private def names(ids: Seq[FunctionIdentifier]): Set[String] = ids.map(_.funcName).toSet

  /** (scalar/aggregate names, table-function names) a session holds on
    * top of Spark's built-ins.
    */
  private def added(s: SparkSession): (Set[String], Set[String]) = (
    names(s.sessionState.functionRegistry.listFunction()) --
      names(FunctionRegistry.builtin.listFunction()),
    names(s.sessionState.tableFunctionRegistry.listFunction()) --
      names(TableFunctionRegistry.builtin.listFunction()))

  private def withActive[T](s: SparkSession)(f: => T): T = {
    SparkSession.setActiveSession(s)
    try f finally SparkSession.setActiveSession(spark)
  }

  private def causes(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("the catalog holds the 32 kernels and 24 table functions, each once") {
    val kernels = Registry.kernels.map(_._1.funcName)
    val tvfs = TableFunctions.functions.map(_._1.funcName)
    assert(kernels.distinct.length == kernels.length, kernels.diff(kernels.distinct))
    assert(tvfs.distinct.length == tvfs.length, tvfs.diff(tvfs.distinct))
    assert(kernels.toSet == kernelNames)
    assert(tvfs.toSet == tableFunctionNames)
    assert(kernelNames.size == 32 && tableFunctionNames.size == 24)
  }

  test("an extension-built session exposes exactly the catalog") {
    val master = spark.sparkContext.master
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    try {
      assert(ext ne spark, "builder returned the suite session — extensions untested")
      assert(added(ext) == ((kernelNames, tableFunctionNames)))
      Registry.kernels.foreach { case (id, info, _) =>
        assert(ext.sessionState.functionRegistry.lookupFunction(id)
          .map(_.getClassName).contains(info.getClassName), id)
      }
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a bare session exposes exactly the catalog after one wrapper call; " +
      "a second call registers nothing") {
    val bare = spark.newSession()
    assert(added(bare) == ((Set.empty[String], Set.empty[String])))
    withActive(bare)(LangExpressions.lang_id(col("t")))
    assert(added(bare) == ((kernelNames, tableFunctionNames)))

    // a second wrapper call must leave every installed entry as it is:
    // plant a sentinel builder under one kernel and one table-function name
    val fr = bare.sessionState.functionRegistry
    val tr = bare.sessionState.tableFunctionRegistry
    val kid = FunctionIdentifier("lang_id")
    val tid = FunctionIdentifier("ann_topk")
    val kSentinel: FunctionRegistry.FunctionBuilder = e => LangId(e.head)
    val tSentinel: TableFunctionRegistry.TableFunctionBuilder = e => TableFunctions.annTopK(e)
    fr.registerFunction(kid, fr.lookupFunction(kid).get, kSentinel)
    tr.registerFunction(tid, tr.lookupFunction(tid).get, tSentinel)
    withActive(bare)(TextVectorExpressions.simhash64(col("t")))
    TableFunctions.registerOnce(bare)
    assert(fr.lookupFunctionBuilder(kid).exists(_ eq kSentinel))
    assert(tr.lookupFunctionBuilder(tid).exists(_ eq tSentinel))
    assert(added(bare) == ((kernelNames, tableFunctionNames)))
  }

  test("an integer literal past Int range is rejected, not wrapped") {
    val bare = spark.newSession()
    withActive(bare)(InflateRaw.inflate_raw(col("b")))
    // in range, a BIGINT literal still works
    assert(bare.sql("SELECT size(shingle_hashes('a b c', CAST(2 AS BIGINT)))")
      .head().getInt(0) == 2)
    // 4294967298 = 2^32 + 2: narrowing it would run with n = 2
    val e = intercept[Exception](
      bare.sql("SELECT shingle_hashes('a b c', 4294967298)").collect())
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("4294967298")), e)
    // the table functions decode their knobs with the same literal decoder
    bare.createDataFrame(Seq((1L, "a b c d"), (2L, "a b c e")))
      .toDF("doc_id", "text").createOrReplaceTempView("catalog_docs")
    val e2 = intercept[Exception](bare.sql(
      "SELECT * FROM dedup_keep('catalog_docs', 'doc_id', 'text', 4294967298, 16, 4, 0.5)")
      .collect())
    assert(causes(e2).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("4294967298")), e2)
  }
}
