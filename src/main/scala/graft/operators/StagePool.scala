package graft.operators

import java.util.concurrent.{CancellationException, ExecutionException, Executors,
  Future, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** The one daemon pool for overlapping INDEPENDENT Spark jobs (guide §2.6:
  * actions are only sequential because driver code calls them
  * sequentially): the unified F1 pipeline's per-table sinks, the store
  * grow paths staging several tables' append files while their manifest
  * commits stay in contract order, and independent trainings/profiles.
  *
  * Sized to the widest fan-out, F1's eight table sinks, one thread per
  * table: each sink job is a small keyed merge whose cost is
  * DRIVER/commit latency, not executor compute, so fewer threads make a
  * batch that touches all eight tables pay serialized rounds — overlapping
  * all of them cuts the trigger wall to ~the slowest single merge without
  * oversubscribing the executor (the jobs' task counts are tiny).
  *
  * A task runs with the caller's Spark context, handed over the way Spark
  * hands it to its own broadcast and subquery threads: the caller's active
  * session (analysis on a bare thread would resolve against a session
  * missing the graft kernels) and a copy of ALL of the caller's local
  * properties as of [[submit]] — job group, description, job tags, the
  * streaming query id. So a streaming query's `stop()` cancels the jobs
  * its trigger staged here, and every job is labelled by the caller that
  * launched it, not by whichever caller first started the thread.
  *
  * No nesting: a task running on this pool must not submit to it and then
  * wait — eight sink tasks on eight threads waiting for queued children
  * would deadlock.
  */
private[graft] object StagePool {

  private lazy val pool = Executors.newFixedThreadPool(8, (r: Runnable) => {
    val t = new Thread(r, "graft-stage"); t.setDaemon(true); t
  })

  /** How long [[getAll]] keeps waiting for running siblings after its
    * thread is interrupted, before it gives up on them.
    */
  private val interruptGraceNanos = TimeUnit.SECONDS.toNanos(30)

  /** Submit `f` to run with the caller's session and local properties. */
  def submit[T](spark: SparkSession)(f: => T): Future[T] =
    SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(f)

  /** Await, unwrapping the ExecutionException to the real cause. */
  def get[T](fut: Future[T]): T =
    try fut.get()
    catch { case e: ExecutionException => throw e.getCause }

  /** Await ALL futures; if any failed, every other future is still
    * awaited before the FIRST failure rethrows — the abort discipline for
    * Seq-shaped overlap sites: a caller that throws with siblings still
    * running would release frames (a cache, a checkpoint) those jobs read.
    *
    * Interrupts (a streaming query's `stop()` interrupts its stream
    * thread): the await must not be abandoned at once, for the same
    * reason, but must not wait UNBOUNDED either, or one hung job makes the
    * stream thread uninterruptible and `stop()` wedges. After the first
    * interrupt the siblings get a bounded grace window; the interrupt flag
    * is set again before returning or rethrowing. Past the deadline the
    * futures are cancelled — which only keeps still-queued tasks from
    * starting; running ones are stopped by cancelling their Spark jobs,
    * which the caller's job group reaches — and InterruptedException is
    * thrown.
    */
  def getAll[T](futs: Seq[Future[T]]): Seq[T] = {
    var deadline = Option.empty[Long]
    def await(f: Future[T]): Either[Throwable, T] = {
      var result = Option.empty[Either[Throwable, T]]
      while (result.isEmpty) {
        try result = Some(Right(deadline match {
          case None => f.get()
          case Some(d) => f.get(d - System.nanoTime(), TimeUnit.NANOSECONDS)
        }))
        catch {
          case e: ExecutionException => result = Some(Left(e.getCause))
          case e: CancellationException => result = Some(Left(e))
          case _: TimeoutException =>
            futs.foreach(_.cancel(true))
            Thread.currentThread().interrupt()
            throw new InterruptedException(
              "await interrupted and grace window expired; remaining tasks cancelled")
          case _: InterruptedException =>
            if (deadline.isEmpty) deadline = Some(System.nanoTime() + interruptGraceNanos)
        }
      }
      result.get
    }
    val results = futs.map(await)
    if (deadline.nonEmpty) Thread.currentThread().interrupt()
    results.collectFirst { case Left(e) => e }.foreach(e => throw e)
    results.collect { case Right(v) => v }
  }

  /** Await ignoring outcome — for abort paths that must not leave a
    * staging job running against state the caller is about to release.
    */
  def awaitQuietly(fut: Future[_]): Unit =
    try { fut.get(); () } catch { case _: Throwable => () }

  /** Await ignoring failure, returning the value when the future
    * SUCCEEDED — abort paths use this to release a successfully built
    * sibling's resources (e.g. a localCheckpoint's blocks) instead of
    * pinning them until context GC (round-17 advice fix).
    */
  def awaitValueQuietly[T](fut: Future[T]): Option[T] =
    try Some(fut.get()) catch { case _: Throwable => None }
}
