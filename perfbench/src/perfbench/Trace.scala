package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A span around one call into a layer: times are nanoseconds since the
  * tracer started; `parent` 0 is the root span of the run.
  */
final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled, `span` is one branch around the
  * call. Enabled, it records the span and tags every Spark job the call
  * submits with the span id through the `perfbench.span` local property,
  * which threads started inside the span inherit.
  */
final class Tracer(val enabled: Boolean) {
  val t0: Long = System.nanoTime()
  val epochMs0: Long = System.currentTimeMillis()
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  def now: Long = System.nanoTime() - t0
  def epochToTrace(epochMs: Long): Long = (epochMs - epochMs0) * 1000000L

  private def setProp(v: String): Unit =
    SparkSession.getDefaultSession.foreach(_.sparkContext.setLocalProperty("perfbench.span", v))

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      setProp(id.toString)
      val s = now
      try f
      finally {
        spans.add(Span(id, name, parent, s, now))
        current.set(parent)
        setProp(if (parent == 0) null else parent.toString)
      }
    }

  /** A span known only after the fact, such as a streaming trigger. */
  def record(name: String, parent: Int, start: Long, end: Long): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, name, parent, start, end)); id
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Span duration minus the part of it that its children cover. */
  def selfTimes: Map[Int, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter(k => k._2 > k._1).sortBy(_._1)
      var covered = 0L; var edge = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, edge)
        if (b > from) covered += b - from
        edge = math.max(edge, b)
      }
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** Spark cost per job, gathered by one listener: stages, tasks, shuffle
  * bytes, spill, executor run, CPU and GC time, plus task intervals for the
  * share of wall time with no task running.
  */
final class JobLedger extends SparkListener {
  final class Job(val id: Int, val submitMs: Long, val spanProp: Int, val queryId: String) {
    val stages = new AtomicInteger(); val tasks = new AtomicInteger()
    val shuffleRead = new AtomicLong(); val shuffleWrite = new AtomicLong()
    val spill = new AtomicLong(); val runMs = new AtomicLong()
    val cpuNs = new AtomicLong(); val gcMs = new AtomicLong()
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val ended = new AtomicInteger()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toInt).getOrElse(0)
    val qid = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).orNull
    val j = new Job(e.jobId, e.time, span, qid)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    if (info != null) taskIntervals.add((info.launchTime, info.finishTime))
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        j.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        j.runMs.addAndGet(m.executorRunTime)
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
      }
    }
  }

  /** Waits until every started job has ended on the listener bus. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get() < jobs.size && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  /** Milliseconds of [fromMs, toMs) during which at least one task ran. */
  def busyMs(fromMs: Long, toMs: Long): Long = {
    val iv = taskIntervals.asScala.toSeq
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0L; var edge = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, edge)
      if (b > from) busy += b - from
      edge = math.max(edge, b)
    }
    busy
  }
}

/** Heap use over the measured part of a run. `retainedMb`: heap in use
  * right after two full collections 0.3 s apart, taken once the measured
  * part has ended (the second collection takes in the blocks Spark's
  * cleaner frees once the first has dropped their last reference).
  * `peakMb`: the heap pools' peaks over the measured part, summed, garbage
  * not yet collected included; no collection is forced inside it.
  */
object HeapMonitor {
  private def pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  @volatile private var peak = 0L
  @volatile private var retained = 0L
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def read(): Unit = {
    peak = pools.map(_.getPeakUsage.getUsed).sum
    System.gc()
    Thread.sleep(300)
    System.gc()
    retained = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  def peakMb: Double = peak / 1048576.0
  def retainedMb: Double = retained / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Minimal JSON writer for the benchmark's flat records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
