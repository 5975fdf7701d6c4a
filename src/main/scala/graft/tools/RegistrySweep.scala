package graft.tools

import java.security.MessageDigest

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.functions._

/** Registry-wide determinism + ordering-totality sweep (dev/CI tooling,
  * not part of the shipped library). Two failure classes have shipped in
  * systems like this as "mystery hash mismatches" that burn a full
  * verification round to diagnose:
  *
  *  1. NONDETERMINISM — a query whose output depends on rdd-id offsets,
  *     cache pressure, or partition arrival order. Caught by running the
  *     WHOLE registry twice in one JVM, as two passes (the second pass
  *     sees different rdd ids, warm caches, leftover shuffle state — the
  *     adversarial environment) and comparing the written parquet
  *     byte-for-byte, falling back to row-level compare to separate value
  *     drift from encoding drift.
  *  2. NON-TOTAL ORDERING — a query whose ORDER BY keys don't uniquely
  *     identify rows, so two value-identical runs can hash differently.
  *     Caught by extracting the outermost global Sort's keys from the
  *     analyzed plan and grouping the output by them; any group > 1 row
  *     is an offender. Multi-row outputs with NO global sort are
  *     offenders too (their dump order is partition-arrival order).
  *
  * Usage: runMain graft.tools.RegistrySweep <sfDir> <outDir> [name ...]
  * (names restrict the sweep — also handy as a single-query dev runner).
  * Exits nonzero if any query fails either check. Each pass also prints
  * how many generated classes it compiled (`[sweep] pass N compiled …`):
  * the second pass re-plans every query, so its count is what the
  * registry does not reuse from Spark's class cache.
  */
object RegistrySweep {

  private def sha256(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    // part NAMES embed the write-job UUID and legitimately differ per
    // run — only file COUNT and contents enter the digest
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    files.foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
    files.length + ":" + md.digest().map("%02x".format(_)).mkString
  }

  /** Head-of-plan ordering analysis. Descends through Project /
    * GlobalLimit / LocalLimit to the outermost global Sort, translating
    * attribute names through projection renames (exprId-composed, so
    * `orderBy("timestamp").select(... AS timestamp_ms)` resolves to the
    * OUTPUT name). Verdicts:
    *  - SortedBy(keys): every key visible in the output → group the
    *    written parquet by them;
    *  - SortedHidden: sorted, but some key is dropped by a later
    *    projection (the f1_weather `orderBy(line_id)` shape) — order is
    *    deterministic but not derivable from output columns; the
    *    empirical double-run is the check that still applies;
    *  - Materialized: root is a checkpointed LogicalRDD (x43) — order
    *    frozen at materialization, same empirical-check posture;
    *  - Unsorted: no global sort above the head — an offender for
    *    multi-row output.
    */
  private sealed trait OrderShape
  private case class SortedBy(keys: Seq[String]) extends OrderShape
  private case class SortedHidden(keys: Seq[String]) extends OrderShape
  private case object Materialized extends OrderShape
  private case object Unsorted extends OrderShape

  private def orderShape(plan: LogicalPlan, output: Set[String]): OrderShape = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit}
    def walk(p: LogicalPlan, rename: Map[Long, String]): OrderShape = p match {
      case s: Sort if s.global =>
        val keys = s.order.map(_.child).map {
          case a: Attribute => rename.getOrElse(a.exprId.id, a.name)
          case e => s"<expr:${e.sql}>"
        }
        if (keys.forall(output)) SortedBy(keys) else SortedHidden(keys)
      case pr: Project =>
        val next = pr.projectList.flatMap {
          case a: Alias => a.child match {
            // compose: inner alias's source maps to whatever name the
            // OUTER projections give the alias itself
            case ar: Attribute =>
              Some(ar.exprId.id -> rename.getOrElse(a.exprId.id, a.name))
            case _ => None
          }
          case _ => None
        }.toMap
        walk(pr.child, rename ++ next)
      case g: GlobalLimit => walk(g.child, rename)
      case l: LocalLimit  => walk(l.child, rename)
      case r if r.getClass.getSimpleName == "LogicalRDD" => Materialized
      case _ => Unsorted
    }
    walk(plan, Map.empty)
  }

  /** Janino compiles so far in this JVM (Spark's own codegen counter). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val spark = Harness.buildSession()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    var offenders = List.empty[String]

    def runOnce(name: String, suffix: String): String = {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val path = s"$outDir/$name$suffix"
      df.coalesce(1).write.mode("overwrite").parquet(path)
      Harness.releaseAllPinned(spark)
      path
    }
    def rows(path: String): Seq[String] = {
      val df = spark.read.parquet(path)
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(col): _*).collect().map(_.toString).toSeq
    }
    def crashed(name: String, e: Throwable): Unit = {
      offenders ::= s"$name: CRASHED ${e.getMessage}"
      println(s"[sweep] $name CRASHED: ${e.getMessage}")
      Harness.releaseAllPinned(spark)
    }
    def pass[T](n: Int)(body: => T): T = {
      val c0 = compiles
      val r = body
      println(s"[sweep] pass $n compiled ${compiles - c0} generated classes")
      r
    }

    // pass 1: every query once, plus its ordering totality
    val first: Seq[(String, String, String)] = pass(1)(names.flatMap { name =>
      val t0 = System.nanoTime()
      try {
        val p1 = runOnce(name, "")
        // totality: group run-1's output by the query's own sort keys
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val out1 = spark.read.parquet(p1)
        val nRows = out1.count()
        val shape = orderShape(df.queryExecution.analyzed, out1.columns.toSet)
        val totality = shape match {
          case SortedBy(ks) if ks.exists(_.startsWith("<expr:")) =>
            s"UNCHECKABLE sort keys $ks"
          case SortedBy(ks) =>
            val dup = out1.groupBy(ks.map(col): _*).count()
              .filter(col("count") > 1).limit(1).count()
            if (dup > 0) s"NON-TOTAL ordering ${ks.mkString(",")}" else "total"
          case SortedHidden(ks) =>
            s"total-by-hidden-key ${ks.mkString(",")} (empirical check only)"
          case Materialized =>
            "materialized head (order frozen at checkpoint; empirical check only)"
          case Unsorted =>
            if (nRows > 1) "NON-TOTAL no global sort on multi-row output"
            else "total (single row, unsorted)"
        }
        Harness.releaseAllPinned(spark)
        println(f"[sweep] $name%-34s rows=$nRows%-7d ${(System.nanoTime() - t0) / 1e9}%6.1fs $totality")
        Seq((name, p1, totality))
      } catch { case e: Throwable => crashed(name, e); Nil }
    })

    // pass 2: the whole registry again in the same JVM (different rdd
    // ids, warm caches, leftover shuffle state), byte-compared to pass 1
    pass(2)(first.foreach { case (name, p1, totality) =>
      try {
        val p2 = runOnce(name, "__2")
        val (h1, h2) = (sha256(p1), sha256(p2))
        val determinism =
          if (h1 == h2) "bytes-identical"
          else {
            val (r1, r2) = (rows(p1), rows(p2))
            if (r1 == r2) "BYTES-DIFFER rows identical"
            else s"NONDETERMINISTIC values differ (${r1.diff(r2).take(3)} ...)"
          }
        val bad = totality.contains("NON-TOTAL") || totality.contains("UNCHECKABLE") ||
          determinism.contains("NONDETERMINISTIC")
        if (bad) offenders ::= s"$name: $totality / $determinism"
        println(f"[sweep] $name%-34s $determinism")
      } catch { case e: Throwable => crashed(name, e) }
    })
    println(s"[sweep] ${names.size} queries, ${offenders.size} offenders")
    offenders.reverse.foreach(o => println(s"[sweep] OFFENDER $o"))
    spark.stop()
    if (offenders.nonEmpty) sys.exit(1)
  }
}
