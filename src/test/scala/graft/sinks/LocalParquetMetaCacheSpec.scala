package graft.sinks

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-16 internals: the driver-side local-frame parquet path inside
  * [[ManifestMergeEngine]] staging, the snapshot-keyed [[MetaCache]],
  * and the stageAppend/commitStaged split.
  */
class LocalParquetMetaCacheSpec extends graft.SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("lpmc").toString

  test("local-frame overwrite writes driver-side and reads back " +
      "type-faithfully (incl. arrays, nulls, timestamps)") {
    val engine = new ManifestMergeEngine()
    val dir = s"${tmp()}/t"
    val schema = StructType(Seq(
      StructField("l", LongType, nullable = false),
      StructField("i", IntegerType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("d", DoubleType, nullable = false),
      StructField("b", BooleanType, nullable = false),
      StructField("arr", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("ts", TimestampType, nullable = true)))
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.678")
    val rows = Seq(
      Row(1L, 2, "x", 3.5, true, Seq(1.0, -2.25, 0.0), ts),
      Row(-9L, 0, null, -0.125, false, Seq(7.75), null))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(rows: _*)),
      schema).coalesce(1)
    // sanity: this frame takes the driver-side path
    assert(LocalParquet.localRows(df).isDefined)
    engine.overwrite(spark, dir, df)
    // exactly one data file, written without a Spark job naming scheme
    val files = engine.read(spark, dir).get.inputFiles
    assert(files.length == 1 && files.head.contains("-local.parquet"),
      s"expected one driver-written file, got ${files.toSeq}")
    val back = engine.read(spark, dir).get.orderBy("l").collect()
    val want = rows.sortBy(_.getLong(0))
    assert(back.length == 2)
    back.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0))
      assert(g.getInt(1) == w.getInt(1))
      assert(Option(g.getString(2)) == Option(w.getString(2)))
      assert(g.getDouble(3) == w.getDouble(3))
      assert(g.getBoolean(4) == w.getBoolean(4))
      assert(g.getSeq[Double](5) == w.getSeq[Double](5))
      assert(Option(g.getTimestamp(6)) == Option(w.get(6)))
    }
    // distributed frames must NOT take the local path
    assert(LocalParquet.localRows(
      spark.range(10).select(col("id"))).isEmpty)
    // empty local frames must NOT either (file-count parity contract)
    assert(LocalParquet.localRows(df.limit(0)).isEmpty)
  }

  test("MetaCache: caches per committed snapshot, re-reads after a new " +
      "commit, and never aliases a deleted-and-recreated table") {
    val engine = new ManifestMergeEngine()
    val root = tmp()
    val dir = s"$root/meta"
    def metaDf(v: Long) = spark.createDataFrame(
      new java.util.ArrayList[Row](java.util.Arrays.asList(Row(v))),
      StructType(Seq(StructField("v", LongType, nullable = false))))
      .coalesce(1)
    var computes = 0
    def readV(): Long = MetaCache.cached(spark, dir, "spec", engine) {
      computes += 1
      java.lang.Long.valueOf(engine.read(spark, dir).get.head().getLong(0))
    }.longValue()
    engine.overwrite(spark, dir, metaDf(1L))
    assert(readV() == 1L && computes == 1)
    assert(readV() == 1L && computes == 1, "second read must hit the cache")
    engine.overwrite(spark, dir, metaDf(2L))
    assert(readV() == 2L && computes == 2,
      "a commit advances the snapshot — the cache must re-read")
    // delete-and-recreate at the same path: version numbering restarts,
    // so the mtime component must keep the snapshots distinct
    val frozen = readV()
    assert(frozen == 2L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    Thread.sleep(20) // mtime resolution guard
    engine.overwrite(spark, dir, metaDf(7L))
    assert(readV() == 7L,
      "recreated table at the same path must not serve the old value")
  }

  test("stageAppend files are invisible until commitStaged publishes " +
      "them, in the caller's order") {
    val engine = new ManifestMergeEngine()
    val dir = s"${tmp()}/t"
    engine.append(dir, spark.range(5).select(col("id")))
    val before = engine.read(spark, dir).get.count()
    val staged = engine.stageAppend(spark, dir,
      spark.range(100, 105).select(col("id")), None)
    assert(engine.read(spark, dir).get.count() == before,
      "staged-but-uncommitted files must be invisible to readers")
    engine.commitStaged(spark, staged)
    assert(engine.read(spark, dir).get.count() == before + 5)
    // layout guard: flat staged files cannot publish into a partitioned
    // table
    val pdir = s"${tmp()}/p"
    engine.appendPartitioned(pdir,
      spark.range(8).select(col("id"), (col("id") % 2).cast("int").as("pc")),
      "pc")
    val flatStaged = engine.stageAppend(spark, s"${tmp()}/q",
      spark.range(3).select(col("id")), None)
    intercept[IllegalArgumentException] {
      engine.commitStaged(spark,
        flatStaged.copy(path = pdir))
    }
  }
}
