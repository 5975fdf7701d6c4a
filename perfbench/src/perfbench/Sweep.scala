package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndexStore, F1Transforms, LexIndexStore}
import graft.sinks.{ParquetSwapMergeEngine, TableSink}
import graft.sources.EventSource
import graft.streaming.F1Pipeline

/** Direct calls into each layer's public functions on small seeded inputs,
  * run only in a traced run after the workload, so that every per-layer
  * metric is measured whichever workload ran.
  */
object Sweep {

  val filesScanned = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  /** Files read by the scans of an executed query. */
  def noteScan(df: DataFrame): Unit = {
    def files(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => files(a.executedPlan)
      case q: QueryStageExec => files(q.plan)
      case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case o => o.children.map(files).sum + o.subqueries.map(files).sum
    }
    filesScanned.add(files(df.queryExecution.executedPlan).toDouble)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def withLineId(df: DataFrame): DataFrame =
    if (df.columns.contains("line_id")) df else df.withColumn("line_id", lit(0L))

  /** The sink ops the pipeline dispatches to, each with the table it
    * maintains and that table's transform.
    */
  private val sinkOps: Seq[(String, DataFrame => DataFrame, (String, DataFrame) => Unit)] = {
    val e = ParquetSwapMergeEngine
    val lapKeys = Seq("driver_number", "lap_number")
    Seq(
      ("upsert", F1Transforms.laps(_), (p: String, b: DataFrame) =>
        e.upsert(b.sparkSession, p, b, lapKeys)),
      ("coalescing", F1Transforms.laps(_), (p: String, b: DataFrame) =>
        e.coalescingUpsert(b.sparkSession, p, b, lapKeys)),
      ("partitioned_coalescing", F1Transforms.laps(_), (p: String, b: DataFrame) =>
        e.partitionedCoalescingUpsert(b.sparkSession, p, b, lapKeys, "driver_number")),
      ("append", F1Transforms.telemetry(_), (p: String, b: DataFrame) =>
        e.append(p, b.drop("_batch", "_line", "line_id"))),
      ("dedup_append", F1Transforms.raceControl(_), (p: String, b: DataFrame) =>
        e.dedupAppend(b.sparkSession, p, b.drop("line_id"), "msg_id")))
  }

  def run(ctx: Ctx): Unit = ctx.tracer.span("sweep") {
    f1Layers(ctx)
    corpusLayers(ctx)
  }

  private def f1Layers(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val dir = ctx.dir("sweep/f1")
    val lines = Capture.generate(ctx.seed + 77, 120)
    val file = new File(dir, "capture.txt")
    Capture.writeFile(file.toPath, lines)
    t.span("sources.normalize")(noop(EventSource.readBatch(spark, file.getPath)))
    val events = EventSource.readBatch(spark, file.getPath).cache()
    ctx.layer("sources.corrupt_lines") =
      t.span("sources.corrupt_count")(EventSource.corruptCount(events).head().getLong(0)).toDouble
    ctx.layer("sources.lines_total") = events.count().toDouble
    F1Pipeline.tableSinks.foreach { case (name, _, transform, _) =>
      t.span(s"f1transforms.$name")(noop(transform(events)))
      ctx.layer(s"f1transforms.${name}_rows") = transform(events).count().toDouble
    }
    // sink ops on one fixed batch, over a table grown from 60 race seconds
    // and over one grown from the whole capture (twice as many rows)
    def segment(fromMs: Long, toMs: Long): DataFrame = {
      val f = new File(dir, s"seg-$fromMs-$toMs.txt")
      Capture.writeFile(f.toPath, lines.filter(l => l.raceMs >= fromMs && l.raceMs < toMs))
      EventSource.readBatch(spark, f.getPath)
    }
    val base = segment(0, 60000); val fixed = segment(60000, 90000)
    sinkOps.foreach { case (op, transform, apply) =>
      val batch = TableSink.withSeq(withLineId(transform(fixed)), 1000L).cache()
      batch.count()
      Seq("start" -> base, "end" -> events).foreach { case (size, grown) =>
        val path = s"$dir/sinks/$op-$size"
        apply(path, TableSink.withSeq(withLineId(transform(grown)), 0L))
        t.span(s"sinks.$op.$size")(apply(path, batch))
      }
      batch.unpersist()
    }
    events.unpersist()
  }

  /** One lex and one ANN search, directly and through SQL, on stores `st`. */
  def searches(ctx: Ctx, st: CorpusBench.Stores, data: Corpus.Data, planMs: java.util.Collection[Double]): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val rnd = new SplittableRandom(ctx.seed + 5)
    val bq = CorpusBench.bm25Queries(spark, rnd, 4)
    val aq = CorpusBench.annQueries(spark, rnd, data, 4)
    t.span("lex.search")(LexIndexStore.searchTopK(spark, st.lex, bq, "query_id", "qtext",
      CorpusBench.K).collect())
    t.span("ann.search")(AnnIndexStore.searchTopK(AnnIndexStore.load(spark, st.ann), aq,
      "c_id", "c_vec", "q_id", "q_vec", CorpusBench.K, rerank = 50).collect())
    planMs.add(t.span("sql.bm25_topk")(CorpusBench.sqlSearch(spark, "bm25", st.lex, bq))._2)
    planMs.add(t.span("sql.ann_topk")(CorpusBench.sqlSearch(spark, "ann", st.ann, aq))._2)
  }

  private def corpusLayers(ctx: Ctx): Unit = {
    graft.sql.TableFunctions.registerOnce(ctx.spark)
    val prep = CorpusBench.prepare(ctx.spark, ctx.seed + 78, CorpusBench.Mini, 1, ctx.dir("sweep/corpus/stage"))
    val st = new CorpusBench.Stores(ctx.dir("sweep/corpus/stores"))
    val (ivf, pq) = try {
      val models = CorpusBench.build(ctx, st, prep)
      prep.arrivals.foreach(a => ctx.tracer.span("corpus.grow")(CorpusBench.grow(ctx, st, a)))
      models
    } finally st.stop()
    searches(ctx, st, prep.data, Layers.planMs)
    ctx.manifestRoot = st.root
    ctx.tracer.span("check.corpus")(
      CorpusBench.check(ctx, st, new CorpusBench.Stores(ctx.dir("sweep/corpus/ref")), prep, ivf, pq))
  }
}
