package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{AnnIndexStore, AsofJoin, Dedup, LexIndexStore, Similarity}

/** Training-data stores for the traced sweep: built over a base with
  * `LexIndexStore.build` and `AnnIndexStore.save`, grown arrival by arrival
  * through the four streaming growers (lex, ANN, MinHash dedup, as-of),
  * searched through the `bm25_topk`/`ann_topk` SQL table functions, and
  * checked against the batch paths over everything that arrived.
  */
object CorpusBench {

  val Mini = Corpus.Sizes(docs = 160, vecs = 160, events = 600, users = 30)
  val BaseShare = 0.5
  val LexBuckets = 64
  val K = 5
  val AsofWatermark = 4000000000000000000L

  final class Stores(val root: String) {
    def p(x: String): String = { val f = new File(root, x); f.mkdirs(); f.getPath }
    val lex = s"$root/lex"; val ann = s"$root/ann"
    val dedupState = s"$root/dedup/state"; val pairs = s"$root/dedup/pairs"
    val asofState = s"$root/asof/state"; val asofOut = s"$root/asof/out"
    val srcLex = p("src/lex"); val srcAnn = p("src/ann")
    val srcDedup = p("src/dedup"); val srcAsof = p("src/asof")
    val queries = mutable.ArrayBuffer[StreamingQuery]()
    def stop(): Unit = queries.foreach(q => try q.stop() catch { case _: Throwable => () })
  }

  /** Files of one arrival, staged for landing. */
  final case class Arrival(docs: String, docsCopy: String, vecs: String, events: String)

  final case class Prepared(data: Corpus.Data, baseDocs: Set[Long], baseVecs: Set[Long],
      baseEvents: Set[Long], arrivals: Seq[Arrival], landed: Seq[(Seq[Long], Seq[Long], Seq[Long])])

  /** Generate the corpus and stage every arrival's files. */
  def prepare(spark: SparkSession, seed: Long, sizes: Corpus.Sizes, nArrivals: Int, stage: String): Prepared = {
    val data = Corpus.generate(seed, sizes)
    val (bd, ad) = Corpus.split(seed + 1, sizes.docs, BaseShare, nArrivals)
    val (bv, av) = Corpus.split(seed + 2, sizes.vecs, BaseShare, nArrivals)
    val (be, ae) = Corpus.split(seed + 3, sizes.events, BaseShare, nArrivals)
    val arrivals = (0 until nArrivals).map { k =>
      val docs = ad(k).map(i => data.docs(i.toInt))
      val d1 = Corpus.writeOne(Corpus.docsDf(spark, docs), stage, f"docs-$k%03d.parquet")
      val d2 = Corpus.writeOne(Corpus.docsDf(spark, docs), stage, f"docs-copy-$k%03d.parquet")
      val v = Corpus.writeOne(Corpus.vecsDf(spark, av(k).map(i => data.vecs(i.toInt))), stage, f"vecs-$k%03d.parquet")
      val e = Corpus.writeOne(Corpus.eventsDf(spark, ae(k).map(i => data.events(i.toInt))), stage, f"events-$k%03d.parquet")
      Arrival(d1, d2, v, e)
    }
    Prepared(data, bd, bv, be, arrivals, (0 until nArrivals).map(k => (ad(k), av(k), ae(k))))
  }

  /** Train the frozen ANN models over every vector the run will see. */
  def train(spark: SparkSession, data: Corpus.Data): (Similarity.IvfIndex, Similarity.PqModel) = {
    val corpus = Corpus.vecsDf(spark, data.vecs).cache()
    (Similarity.buildIvf(corpus, "c_id", "c_vec", k = 16, iters = 2),
      Similarity.buildPq(corpus, "c_id", "c_vec", m = 16, k = 16, iters = 2))
  }

  /** Base stores and the four growers, started and caught up on the base. */
  def build(ctx: Ctx, st: Stores, prep: Prepared): (Similarity.IvfIndex, Similarity.PqModel) = {
    val spark = ctx.spark
    val t = ctx.tracer
    val (ivf, pq) = t.span("ann.train")(train(spark, prep.data))
    val baseDocs = Corpus.docsDf(spark, prep.data.docs.filter(d => prep.baseDocs.contains(d.doc_id)))
    t.span("lex.build")(LexIndexStore.build(spark, st.lex, baseDocs.select("doc_id", "text"),
      "doc_id", "text", nBuckets = LexBuckets))
    t.span("ann.save")(AnnIndexStore.save(spark, st.ann,
      ivf.copy(assigned = ivf.assigned.filter(col("c_id").isin(prep.baseVecs.toSeq: _*))),
      pq.copy(encoded = pq.encoded.filter(col("c_id").isin(prep.baseVecs.toSeq: _*)))))
    val stage = st.p("stage-base")
    Files2.land(Corpus.writeOne(baseDocs, stage, "docs-base.parquet"), st.srcDedup)
    Files2.land(Corpus.writeOne(Corpus.eventsDf(spark,
      prep.data.events.filter(e => prep.baseEvents.contains(e.event_id))), stage, "events-base.parquet"), st.srcAsof)
    t.span("streaming.start_growers") {
      st.queries += LexIndexStore.streamingAddDocuments(spark, st.srcLex, Corpus.docSchema,
        st.lex, st.p("ckpt/lex"), "doc_id", "text")
      st.queries += AnnIndexStore.streamingAddVectors(spark, st.srcAnn, Corpus.vecSchema,
        st.ann, st.p("ckpt/ann"), "c_id", "c_vec")
      st.queries += Dedup.streamingMinhashDedup(spark, st.srcDedup, Corpus.docSchema,
        st.dedupState, st.pairs, st.p("ckpt/dedup"), "doc_id", "text", nStateBuckets = 16)
      st.queries += AsofJoin.streamingAsofJoin(spark, st.srcAsof, Corpus.eventSchema,
        st.asofState, st.asofOut, st.p("ckpt/asof"), Seq("user_id"),
        leftFilter = "event_type = 'purchase'", rightFilter = "event_type = 'click'",
        leftId = "event_id", leftTs = "ts", rightTs = "ts",
        rightCols = Map("event_id" -> "click_id"), rightTieBreak = "event_id",
        watermark = AsofWatermark)
    }
    st.queries.foreach(_.processAllAvailable())
    (ivf, pq)
  }

  /** Land one arrival for all four growers; returns seconds until every
    * grower has committed it.
    */
  def grow(ctx: Ctx, st: Stores, a: Arrival): Double = {
    val t0 = System.nanoTime()
    Files2.land(a.docs, st.srcLex); Files2.land(a.docsCopy, st.srcDedup)
    Files2.land(a.vecs, st.srcAnn); Files2.land(a.events, st.srcAsof)
    st.queries.foreach(_.processAllAvailable())
    (System.nanoTime() - t0) / 1e9
  }

  private val wordsQ = Corpus.Words.filter(_.length > 2)

  def bm25Queries(spark: SparkSession, rnd: SplittableRandom, n: Int): DataFrame =
    spark.createDataFrame((1 to n).map(i => (i.toLong,
      (0 until 2 + rnd.nextInt(2)).map(_ => wordsQ(rnd.nextInt(wordsQ.length))).mkString(" "))))
      .toDF("query_id", "qtext")

  def annQueries(spark: SparkSession, rnd: SplittableRandom, data: Corpus.Data, n: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize((1 to n).map { i =>
      val v = data.vecs(rnd.nextInt(data.vecs.size)).embedding
      Row(i.toLong, v.map(x => (x + (rnd.nextDouble() - 0.5) * 0.05).toFloat).toSeq)
    }, 1), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("q_vec",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  /** One SQL search through a table function; returns its rows and planning ms. */
  def sqlSearch(spark: SparkSession, kind: String, dir: String, queries: DataFrame): (Array[Row], Double) = {
    val view = s"q_${viewSeq.incrementAndGet()}"
    queries.createOrReplaceTempView(view)
    try {
      val df =
        if (kind == "bm25") spark.sql("SELECT query_id, doc_id, n_hit_terms, score, rank " +
          s"FROM bm25_topk('$dir', '$view', 'query_id', 'qtext', $K)")
        else spark.sql("SELECT query_id, neighbor_id, cos, rank " +
          s"FROM ann_topk('$dir', '$view', 'c_id', 'c_vec', 'q_id', 'q_vec', $K, 50)")
      val rows = df.collect()
      val planMs = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
      (rows, planMs)
    } finally spark.catalog.dropTempView(view)
  }

  /** Grown stores against the batch paths over everything that arrived. */
  def check(ctx: Ctx, st: Stores, ref: Stores, prep: Prepared,
      ivf: Similarity.IvfIndex, pq: Similarity.PqModel): Unit = {
    val spark = ctx.spark
    val docIds = prep.baseDocs ++ prep.landed.flatMap(_._1)
    val vecIds = prep.baseVecs ++ prep.landed.flatMap(_._2)
    val evIds = prep.baseEvents ++ prep.landed.flatMap(_._3)
    val docs = Corpus.docsDf(spark, prep.data.docs.filter(d => docIds.contains(d.doc_id)))
      .select("doc_id", "text").cache()
    LexIndexStore.build(spark, ref.lex, docs, "doc_id", "text", nBuckets = LexBuckets)
    AnnIndexStore.save(spark, ref.ann,
      ivf.copy(assigned = ivf.assigned.filter(col("c_id").isin(vecIds.toSeq: _*))),
      pq.copy(encoded = pq.encoded.filter(col("c_id").isin(vecIds.toSeq: _*))))
    val rnd = new SplittableRandom(ctx.seed * 17 + 3)
    val bq = bm25Queries(spark, rnd, 12)
    val aq = annQueries(spark, rnd, prep.data, 12)
    def norm(rows: Array[Row]): Set[String] = rows.map(_.toSeq.map {
      case d: Double => f"$d%.6f"; case x => String.valueOf(x)
    }.mkString("|")).toSet
    if (norm(sqlSearch(spark, "bm25", st.lex, bq)._1) != norm(sqlSearch(spark, "bm25", ref.lex, bq)._1))
      ctx.mismatches += "bm25_topk on the grown lex store differs from a one-shot build"
    if (norm(sqlSearch(spark, "ann", st.ann, aq)._1) != norm(sqlSearch(spark, "ann", ref.ann, aq)._1))
      ctx.mismatches += "ann_topk on the grown ANN store differs from a one-shot save"
    val streamedPairs = spark.read.parquet(st.pairs).select("a_id", "b_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = Dedup.minhashLsh(docs, "doc_id", "text", 3, 32, 8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    ctx.detail("dedup_pairs") = batchPairs.size
    if (streamedPairs != batchPairs)
      ctx.mismatches += s"dedup pairs: streamed ${streamedPairs.size}, batch ${batchPairs.size}"
    val ev = Corpus.eventsDf(spark, prep.data.events.filter(e => evIds.contains(e.event_id)))
    val asCols = Seq("event_id", "user_id", "ts", "asof_ts", "click_id")
    def rowsOf(df: DataFrame): Set[String] =
      df.select(asCols.map(col): _*).collect().map(_.toSeq.mkString("|")).toSet
    val streamedAsof = rowsOf(spark.read.parquet(st.asofOut))
    val batchAsof = rowsOf(AsofJoin.asofJoin(
      ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts"),
      ev.filter(col("event_type") === "click").select(col("user_id"), col("ts"), col("event_id").as("cid")),
      Seq("user_id"), "ts", "ts", Map("cid" -> "click_id"), rightTieBreak = "cid"))
    ctx.detail("asof_rows") = batchAsof.size
    if (streamedAsof != batchAsof)
      ctx.mismatches += s"as-of output: streamed ${streamedAsof.size} rows, batch ${batchAsof.size}"
    docs.unpersist()
  }
}
