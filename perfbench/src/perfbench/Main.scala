package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

/** `Main <workload> <seed> <seconds> <trace 0|1> <workdir> <source-hash>`:
  * runs one workload and prints, as its last stdout line, one JSON object
  * with `correct`, `valid`, `attempted`, `failed`, `metrics` (name →
  * value), and before it the run's stamp, validity and detail records.
  */
object Main {

  val Workloads = Seq("f1_backfill", "f1_trickle")

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, workDir, sourceHash) = args
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val ctx = new Ctx(workload, seed.toLong, seconds.toInt, trace == "1", new File(workDir))
    var code = 0
    try {
      F1Bench.run(ctx)
      if (ctx.trace) { Sweep.run(ctx); Layers.finish(ctx) }
      ctx.e2e("setup_s") = ctx.setupS
      ctx.detail("session_build_s") = ctx.setupSeconds.toSeq
      ctx.detail("generation_s") = ctx.generationSeconds
      ctx.detail("warm_up_s") = ctx.warmUpSeconds
      ctx.detail("failed_share") = ctx.failed.get.toDouble / ctx.attempted.get
      val sc = ctx.spark.sparkContext
      println(Json.obj(Seq("stamp" -> Map(
        "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds, "trace" -> ctx.trace,
        "source_hash" -> sourceHash, "nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_master" -> sc.master, "spark_cores" -> sc.defaultParallelism,
        "spark_version" -> sc.version,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
          .filter(f => f.startsWith("-X") && !f.startsWith("-Xlog")),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576))))
      println(Json.obj(Seq("validity" -> Map("valid" -> ctx.validity.isEmpty,
        "reasons" -> ctx.validity.toSeq))))
      println(Json.obj(Seq("detail" -> ctx.detail.toMap)))
      if (!ctx.failures.isEmpty) println(Json.obj(Seq("failures" -> ctx.failures.toArray.toSeq.map(_.toString))))
      if (ctx.mismatches.nonEmpty) println(Json.obj(Seq("mismatches" -> ctx.mismatches.toSeq)))
      val metrics = if (ctx.trace) ctx.layer else ctx.e2e
      println(Json.obj(Seq("correct" -> ctx.mismatches.isEmpty, "valid" -> ctx.validity.isEmpty,
        "attempted" -> ctx.attempted.get, "failed" -> ctx.failed.get,
        "metrics" -> metrics.toMap)))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally {
      if (ctx.spark != null) {
        ctx.spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
        ctx.spark.stop()
      }
    }
    System.out.flush()
    sys.exit(code)
  }
}
