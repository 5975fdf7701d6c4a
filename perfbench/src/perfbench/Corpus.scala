package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Seeded `documents`, `embeddings` and `events` tables in the shape of the
  * sf0.1 test data (same columns and types, smaller row counts), split by
  * the seed into a base and a series of arrivals. Each arrival re-ships a
  * quarter of the delivery before it, as a replayed delivery would.
  * Documents plant near-duplicates (a copy of an earlier document with its
  * tail cut) so the MinHash grower finds pairs.
  */
object Corpus {

  val Words: Array[String] = ("a the batch part spark line column order small sort fast value " +
    "scan hash slow group agg filter query big key window row table stream merge data " +
    "vector join customer index shard token score rank probe bucket codec frame lap").split(" ")
  val Langs = Array("en", "de", "fr", "es", "zh")
  val Dim = 64
  val Clusters = 16
  val Types = Array("view", "click", "purchase", "signup", "error")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)
  final case class Event(event_id: Long, ts: Long, user_id: Long, event_type: String,
      value: Double, props: String)

  final case class Sizes(docs: Int, vecs: Int, events: Int, users: Int)

  final case class Data(docs: Vector[Doc], vecs: Vector[Vec], events: Vector[Event])

  def generate(seed: Long, s: Sizes): Data = {
    val rnd = new SplittableRandom(seed)
    val docs = Vector.newBuilder[Doc]
    val texts = new Array[String](s.docs)
    (0 until s.docs).foreach { i =>
      val text =
        if (i > 50 && rnd.nextInt(40) == 0) {
          val orig = texts(rnd.nextInt(i))
          orig.substring(0, math.max(1, orig.length - 12))
        } else (0 until 8 + rnd.nextInt(80)).map(_ => Words(rnd.nextInt(Words.length))).mkString(" ")
      texts(i) = text
      docs += Doc(i.toLong, text, Langs(rnd.nextInt(Langs.length)), s"src${rnd.nextInt(5)}",
        text.length.toLong)
    }
    val centers = Array.fill(Clusters, Dim)(rnd.nextDouble() * 2 - 1)
    val vecs = (0 until s.vecs).map { i =>
      val c = rnd.nextInt(Clusters)
      val v = Array.tabulate(Dim)(d => centers(c)(d) + (rnd.nextDouble() - 0.5) * 0.6)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Vec(i.toLong, v.map(x => (x / norm).toFloat), c)
    }.toVector
    val t0 = 1704067200000000000L
    var ts = t0
    val events = (0 until s.events).map { i =>
      ts += 1000000000L + rnd.nextInt(60000) * 1000000L
      Event(i.toLong, ts, rnd.nextInt(s.users).toLong, Types(rnd.nextInt(Types.length)),
        rnd.nextInt(20000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
    }.toVector
    Data(docs.result(), vecs, events)
  }

  /** Seeded base/arrival assignment of ids: the base takes `baseShare`, the
    * rest is dealt into `n` arrivals; each arrival also re-ships a quarter
    * of the delivery before it (the base, for the first).
    */
  def split(seed: Long, nRows: Int, baseShare: Double, n: Int): (Set[Long], Seq[Seq[Long]]) = {
    val rnd = new SplittableRandom(seed)
    val ids = (0L until nRows).toArray
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val nBase = (nRows * baseShare).toInt
    val base = ids.take(nBase).toSeq
    val rest = ids.drop(nBase).toSeq
    val fresh = (0 until n).map(k => rest.slice(k * rest.size / n, (k + 1) * rest.size / n))
    val arrivals = fresh.indices.map { k =>
      val prev = if (k == 0) base else fresh(k - 1)
      fresh(k) ++ prev.take(prev.size / 4)
    }
    (base.toSet, arrivals)
  }

  val docSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val vecSchema: StructType = StructType(Seq(StructField("c_id", LongType),
    StructField("c_vec", ArrayType(FloatType))))
  val eventSchema: StructType = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType),
    StructField("props", StringType)))

  def docsDf(spark: SparkSession, xs: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      xs.map(d => org.apache.spark.sql.Row(d.doc_id, d.text, d.lang, d.source, d.n_chars)), 1), docSchema)
  def vecsDf(spark: SparkSession, xs: Seq[Vec]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      xs.map(v => org.apache.spark.sql.Row(v.vec_id, v.embedding.toSeq)), 1), vecSchema)
  def eventsDf(spark: SparkSession, xs: Seq[Event]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      xs.map(e => org.apache.spark.sql.Row(e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props)), 1),
      eventSchema)

  /** Write a frame as one parquet file named `name` in `dir`. */
  def writeOne(df: DataFrame, dir: String, name: String): String = {
    val tmp = s"$dir/.tmp-$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(dir, name)
    java.nio.file.Files.move(part.toPath, dst.toPath)
    Files2.delete(tmp)
    dst.getPath
  }
}
