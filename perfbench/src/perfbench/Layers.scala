package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the spans, the Spark job ledger
  * and the streaming progress.
  */
object Layers {

  val planMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  val GrowerQueries: Seq[(String, String)] = Seq("lex" -> "graft_lex_ingest",
    "ann" -> "graft_ann_ingest", "dedup" -> "graft_dedup", "asof" -> "graft_asof")

  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Manifest tables under `root`: versions, data files and bytes. */
  private def manifests(ctx: Ctx, root: String): Unit = {
    val tables = java.nio.file.Files.walk(new File(root).toPath).iterator().asScala
      .filter(p => p.getFileName.toString == "_manifests" && p.toFile.isDirectory).map(_.getParent).toSeq
    val ver = """[dm](\d+)\.json""".r
    var versions = 0L; var files = 0L; var bytes = 0L
    tables.foreach { t =>
      val vs = Option(t.resolve("_manifests").toFile.list()).getOrElse(Array.empty[String])
        .collect { case ver(n) => n.toLong }
      if (vs.nonEmpty) versions += vs.max + 1
      val (b, n) = Files2.sizeAndCount(t.resolve("data").toString)
      files += n; bytes += b
    }
    ctx.layer("manifest.tables") = tables.size
    ctx.layer("manifest.versions") = versions
    ctx.layer("manifest.files_end") = files
    ctx.layer("manifest.bytes_end") = bytes
  }

  /** Every per-layer metric, once the workload and the sweep have run. */
  def finish(ctx: Ctx): Unit = {
    val t = ctx.tracer
    ctx.ledger.settle()
    // streaming triggers become spans under whichever span was open then
    val top = t.all.filter(s => s.name.startsWith("workload.") || s.name == "sweep")
    val trigSpans = ctx.progress.triggers.asScala.toSeq.map { tr =>
      val s = t.epochToTrace(tr.startEpochMs); val e = t.epochToTrace(tr.endEpochMs)
      val parent = top.find(p => p.start <= s && s <= p.end).map(_.id).getOrElse(0)
      (tr, t.record(s"trigger.${tr.name}", parent, s, e), tr.startEpochMs, tr.endEpochMs)
    }
    val spans = t.all
    val byId = spans.map(s => s.id -> s).toMap
    // attribute each job: a streaming job to the trigger of its own query
    // running at its submission, anything else to the span its thread had
    // open then. Threads of the program's pools carry the properties of
    // whichever thread created them, so a job that fits neither goes by
    // time alone to the innermost span open at its submission (counted
    // apart), or stays at the root.
    val slackNs = 5 * 1000000L
    val jobs = ctx.ledger.jobs.values().asScala.toSeq
    val trigIds = trigSpans.map(_._2).toSet
    val opened = spans.filterNot(s => trigIds.contains(s.id))
    def openAt(s: Span, at: Long) = s.start - slackNs <= at && at <= s.end + slackNs
    val matched: Map[Int, (Int, Boolean)] = jobs.map { j =>
      val at = t.epochToTrace(j.submitMs)
      val exact = Option(j.queryId)
        .flatMap(q => trigSpans.find(x => x._1.queryId == q && openAt(byId(x._2), at))).map(_._2)
        .orElse(byId.get(j.spanProp).filter(s => !trigIds.contains(s.id) && openAt(s, at)).map(_.id))
      j.id -> exact.map(_ -> true).getOrElse(
        opened.filter(openAt(_, at)).sortBy(-_.start).headOption.map(_.id).getOrElse(0) -> false)
    }.toMap
    val spanOf: Map[Int, Int] = matched.map { case (k, v) => k -> v._1 }
    val kids = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id) }
    def subtree(id: Int): Set[Int] = {
      val out = mutable.Set(id); val todo = mutable.Stack(id)
      while (todo.nonEmpty) kids.getOrElse(todo.pop(), Nil).foreach(k => if (out.add(k)) todo.push(k))
      out.toSet
    }
    def jobsUnder(id: Int) = { val ids = subtree(id); jobs.filter(j => ids.contains(spanOf(j.id))) }
    def named(n: String) = spans.filter(_.name == n)
    def durS(n: String) = med(named(n).map(_.dur / 1e9))
    def durMs(n: String) = med(named(n).map(_.dur / 1e6))
    def jobsPer(n: String) = mean(named(n).map(s => jobsUnder(s.id).size.toDouble))

    // sources and transforms
    val norm = named("sources.normalize").map(_.dur / 1e9)
    ctx.layer("sources.normalize_s") = med(norm)
    ctx.layer("sources.lines_per_s") = ctx.layer("sources.lines_total") / med(norm)
    ctx.layer.remove("sources.lines_total")
    F1Bench.SinkTables.foreach(n => ctx.layer(s"f1transforms.${n}_s") = durS(s"f1transforms.$n"))

    // streaming: the workload's measured triggers
    val measured = ctx.measuredTriggers.map(x => (x.queryId, x.batchId)).toSet
    val wl = trigSpans.filter(x => measured.contains((x._1.queryId, x._1.batchId)))
    def d(k: String) = mean(wl.map(_._1.durations.getOrElse(k, 0L).toDouble))
    ctx.layer("streaming.triggers") = wl.size
    ctx.layer("streaming.trigger_p50_ms") = med(wl.map(_._1.totalMs.toDouble))
    ctx.layer("streaming.trigger_max_ms") = if (wl.isEmpty) 0.0 else wl.map(_._1.totalMs.toDouble).max
    ctx.layer("streaming.add_batch_ms") = d("addBatch")
    ctx.layer("streaming.planning_ms") = d("queryPlanning")
    ctx.layer("streaming.wal_commit_ms") = d("walCommit")
    ctx.layer("streaming.latest_offset_ms") = d("latestOffset")
    ctx.layer("streaming.rows_per_trigger") = med(wl.map(_._1.inputRows.toDouble))
    ctx.layer("streaming.backlog_max_lines") = ctx.backlogMaxLines
    ctx.layer("streaming.jobs_per_trigger") = mean(wl.map(x => jobsUnder(x._2).size.toDouble))
    ctx.layer("streaming.tasks_per_trigger") = mean(wl.map(x => jobsUnder(x._2).map(_.tasks.get).sum.toDouble))

    // sinks, dashboard
    Seq("upsert", "coalescing", "partitioned_coalescing", "append", "dedup_append").foreach { op =>
      ctx.layer(s"sinks.${op}_start_s") = durS(s"sinks.$op.start")
      ctx.layer(s"sinks.${op}_end_s") = durS(s"sinks.$op.end")
      ctx.layer(s"sinks.${op}_jobs") = jobsPer(s"sinks.$op.start") + jobsPer(s"sinks.$op.end")
    }
    ctx.layer("dashboard.allstats_s") = durS("dashboard.allstats")
    ctx.layer("dashboard.jobs_per_poll") = jobsPer("dashboard.allstats")
    ctx.layer("dashboard.files_scanned") = med(Sweep.filesScanned.asScala)

    // store growers, searches, SQL, manifest
    GrowerQueries.foreach { case (k, name) =>
      val g = trigSpans.filter(_._1.name == name)
      ctx.layer(s"$k.grow_s") = med(g.map(_._1.totalMs / 1000.0))
      ctx.layer(s"$k.grow_jobs") = mean(g.map(x => jobsUnder(x._2).size.toDouble))
    }
    ctx.layer("lex.search_ms") = durMs("lex.search")
    ctx.layer("ann.search_ms") = durMs("ann.search")
    ctx.layer("sql.bm25_topk_ms") = durMs("sql.bm25_topk")
    ctx.layer("sql.ann_topk_ms") = durMs("sql.ann_topk")
    ctx.layer("sql.planning_ms") = med(planMs.asScala)
    manifests(ctx, ctx.manifestRoot)

    // Spark cost of the measured workload
    val w = spans.find(_.name.startsWith("workload.")).get
    val wj = jobsUnder(w.id)
    ctx.layer("spark.jobs") = wj.size
    ctx.layer("spark.stages") = wj.map(_.stages.get).sum
    ctx.layer("spark.tasks") = wj.map(_.tasks.get).sum
    ctx.layer("spark.shuffle_read_bytes") = wj.map(_.shuffleRead.get).sum.toDouble
    ctx.layer("spark.shuffle_write_bytes") = wj.map(_.shuffleWrite.get).sum.toDouble
    ctx.layer("spark.spill_bytes") = wj.map(_.spill.get).sum.toDouble
    ctx.layer("spark.executor_run_s") = wj.map(_.runMs.get).sum / 1000.0
    ctx.layer("spark.executor_cpu_s") = wj.map(_.cpuNs.get).sum / 1e9
    ctx.layer("spark.gc_s") = wj.map(_.gcMs.get).sum / 1000.0
    val wStart = t.epochMs0 + w.start / 1000000; val wEnd = t.epochMs0 + w.end / 1000000
    ctx.layer("spark.driver_share") = 1.0 - ctx.ledger.busyMs(wStart, wEnd).toDouble / (wEnd - wStart)

    // the trace itself
    ctx.layer("trace.spans") = spans.size
    ctx.layer("trace.jobs") = jobs.size
    ctx.layer("trace.jobs_unattributed") = matched.count(m => !m._2._2)
    ctx.layer("trace.jobs_time_matched") = matched.count(m => !m._2._2 && byId.contains(m._2._1))
    Seq("commit_p50_ms", "read_p50_ms", "input_rows_per_s").foreach(k =>
      ctx.layer(s"traced.$k") = ctx.e2e(k))
    ctx.layer("batch.load_batch_s") = durS("batch.load_batch")

    // jobs not attributed by their own properties, by the span their
    // thread named and whether they carried a query id
    ctx.detail("jobs_time_matched_by_span_prop") = jobs.filter(j => !matched(j.id)._2)
      .groupBy(j => byId.get(j.spanProp).map(_.name).getOrElse("root") + (if (j.queryId == null) "" else "+query"))
      .map { case (k, v) => k -> v.size }
    writeSpans(ctx, spans, spanOf, jobs)
  }

  /** Spans with self time and their jobs' Spark cost, one JSON line each. */
  private def writeSpans(ctx: Ctx, spans: Seq[Span], spanOf: Map[Int, Int], jobs: Seq[JobLedger#Job]): Unit = {
    val self = ctx.tracer.selfTimes
    val byJob = jobs.groupBy(j => spanOf(j.id))
    val out = new java.io.PrintWriter(new File(ctx.work, "spans.jsonl"), "UTF-8")
    try spans.foreach { s =>
      val js = byJob.getOrElse(s.id, Nil)
      out.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.start / 1e6, "end_ms" -> s.end / 1e6, "self_ms" -> self(s.id) / 1e6,
        "jobs" -> js.size, "tasks" -> js.map(_.tasks.get).sum,
        "executor_run_ms" -> js.map(_.runMs.get).sum,
        "shuffle_bytes" -> js.map(j => j.shuffleRead.get + j.shuffleWrite.get).sum)))
    } finally out.close()
  }
}
