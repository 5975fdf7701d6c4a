package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One streaming trigger as the query reported it. */
final case class Trigger(queryId: String, name: String, batchId: Long,
    startEpochMs: Long, durations: Map[String, Long], inputRows: Long, nLines: Long) {
  def totalMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endEpochMs: Long = startEpochMs + totalMs
}

/** Collects every trigger's progress from outside the pipeline. */
final class ProgressLog extends StreamingQueryListener {
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    if (d.contains("addBatch")) {
      val obs = Option(p.observedMetrics).flatMap(m => Option(m.get("f1_metrics")))
      triggers.add(Trigger(p.id.toString, Option(p.name).getOrElse(""), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows,
        obs.map(_.getAs[Long]("n_lines")).getOrElse(0L)))
    }
  }
  def of(queryId: String): Seq[Trigger] =
    triggers.asScala.toSeq.filter(_.queryId == queryId).sortBy(_.batchId)
  def clear(): Unit = triggers.clear()
}

/** State shared by a run: the session, tracer, listeners and the counts
  * every result carries.
  */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: File) {
  val tracer = new Tracer(trace)
  val ledger = new JobLedger
  val progress = new ProgressLog
  var spark: SparkSession = _
  val setupSeconds = mutable.ArrayBuffer[Double]()
  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val failures = new ConcurrentLinkedQueue[String]()
  val mismatches = mutable.ArrayBuffer[String]()
  /** End-to-end values, per-workload detail, and per-layer values. */
  val e2e = mutable.LinkedHashMap[String, Double]()
  val detail = mutable.LinkedHashMap[String, Any]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val validity = mutable.ArrayBuffer[String]()
  /** The measured triggers, the most lines waiting at once, and the root
    * of the stores the sweep grew.
    */
  var measuredTriggers: Seq[Trigger] = Nil
  var backlogMaxLines = 0.0
  var manifestRoot: String = _

  def dir(name: String): String = {
    val f = new File(work, name); f.mkdirs(); f.getAbsolutePath
  }

  def fail(what: String, e: Throwable): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(s"$what: ${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").take(200))
  }

  /** Builds a fresh session with the program's own builder; every
    * listener the run needs is attached to it.
    */
  def newSession(): Unit = {
    if (spark != null) {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    spark = graft.tools.Harness.buildSession()
    spark.streams.addListener(progress)
  }

  var generationSeconds = 0.0
  var warmUpSeconds = 0.0

  /** Time the input generation and the warm-up, each run once after the
    * repeated session build.
    */
  def generation[T](f: => T): T = timed(f, generationSeconds = _)
  def warmUp[T](f: => T): T = timed(f, warmUpSeconds = _)

  private def timed[T](f: => T, done: Double => Unit): T = {
    val t0 = System.nanoTime()
    val r = f
    done((System.nanoTime() - t0) / 1e9)
    r
  }

  /** Set-up time: the median of the repeated session build, plus the
    * input generation and the warm-up.
    */
  def setupS: Double = Stats.median(setupSeconds.toSeq) + generationSeconds + warmUpSeconds

  /** Time one build of a fresh session. */
  def setupRep[T](f: => T): T = timed(f, setupSeconds += _)

  private var bytes0 = 0L
  /** Bytes the local filesystem wrote between `beginMeasure` and `endMeasure`. */
  var bytesWritten = 0L

  /** After set-up: start counting heap, bytes written and Spark cost for
    * the measured part.
    */
  def beginMeasure(): Unit = {
    if (trace) spark.sparkContext.addSparkListener(ledger)
    bytes0 = Files2.bytesWritten
    HeapMonitor.reset()
  }

  def endMeasure(): Unit = {
    HeapMonitor.read()
    bytesWritten = Files2.bytesWritten - bytes0
  }
}

object Files2 {
  private val lastMtime = new AtomicLong(0L)

  /** Publish a finished file into a watched directory in one rename. A file
    * source takes files in modification-time order, so each landed file
    * first gets a modification time later than every file landed before.
    */
  def land(from: String, toDir: String): Unit = {
    val src = Paths.get(from)
    val now = System.currentTimeMillis()
    src.toFile.setLastModified(lastMtime.updateAndGet(t => math.max(now, t + 1000)))
    Files.move(src, Paths.get(toDir).resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  def sizeAndCount(path: String): (Long, Int) = {
    val root = new File(path)
    if (!root.exists()) (0L, 0)
    else {
      val files = Files.walk(root.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p)).toSeq
      val data = files.filter(_.getFileName.toString.endsWith(".parquet"))
      (files.map(Files.size).sum, data.size)
    }
  }

  /** Bytes the local filesystem has written in this JVM so far. */
  def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Files of a file-source checkpoint, each with the batch that read it. */
  def batchOfFiles(checkpointDir: String): Map[String, Long] = {
    val dir = new File(checkpointDir, "sources/0")
    val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
      .flatMap(l => entry.findFirstMatchIn(l).map(m =>
        new File(new java.net.URI(m.group(1)).getPath).getName -> m.group(2).toLong))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
  }

  def delete(path: String): Unit = {
    val root = new File(path)
    if (root.exists()) Files.walk(root.toPath).iterator().asScala.toSeq.reverse
      .foreach(p => p.toFile.delete())
  }
}
