package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling — the ANALYZE-style data-quality pass that complements
  * [[SchemaVerify]] (schema says what SHOULD be there; the profile says
  * what IS): per column, null count, distinct count, and min/max rendered
  * as strings so every column type shares one output schema.
  *
  * Shape: ONE aggregation pass computes all four statistics for every
  * column (partial-aggregated map-side), then a driver-free unpivot
  * (explode over an array of structs) emits one row per column. Exact
  * `countDistinct` over multiple columns expands the input (one copy per
  * distinct aggregate) — fine at profile-sized tables and what the oracle
  * can reproduce; [[profileApprox]] is the 100 TB route: HLL-sketch
  * distinct counts ([[approx_count_distinct]]) keep the pass single-scan
  * with NO expand node (plan-guarded in QueriesPlanSpec) at a bounded
  * relative error. Min/max string rendering uses Spark's binary string
  * ordering, which matches the oracle engine's default collation.
  *
  * Internal aggregate aliases are POSITIONAL (`__p{i}_…`), never derived
  * from the user's column names: a name-derived alias would round-trip a
  * profiled column containing dots or backticks through column-name
  * parsing and break the lookup.
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, c => countDistinct(c))

  /** [[profile]] with sketch-based distinct counts: one scan, no expand,
    * mergeable partials — the shape that survives 100 TB. `rsd` is the
    * HLL++ target relative standard deviation (Spark's default 0.05).
    */
  def profileApprox(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame =
    profileWith(df, cols, c => approx_count_distinct(c, rsd))

  /** Backtick-quoted reference: a profiled column named `a.b` must hit the
    * column literally, not parse as struct-field access.
    */
  private def qcol(df: DataFrame, c: String): Column =
    df.col("`" + c.replace("`", "``") + "`")

  private def profileWith(df: DataFrame, cols: Seq[String],
      distinctAgg: Column => Column): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val in = qcol(df, c)
      Seq(
        sum(when(in.isNull, 1).otherwise(0)).cast("long").as(s"__p${i}_nulls"),
        distinctAgg(in).as(s"__p${i}_distinct"),
        min(in).cast("string").as(s"__p${i}_min"),
        max(in).cast("string").as(s"__p${i}_max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val perCol = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"),
        col(s"__p${i}_nulls").as("n_nulls"),
        col(s"__p${i}_distinct").as("n_distinct"),
        col(s"__p${i}_min").as("min_value"),
        col(s"__p${i}_max").as("max_value"))
    }
    one.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** Persist a table's profile as its `_stats` side table — the catalog
    * hook a cost-based decision needs at scale ("should I broadcast
    * this?", "how many salts?"): per-column sketch stats plus `n_rows`,
    * and for `freqCols` the TOP KEY FREQUENCY (max per-value group count
    * — the number skew mitigation actually keys off; one extra
    * aggregation per requested column, so callers name only join keys).
    * Upserted by column name through a [[graft.sinks.ManifestMergeEngine]]:
    * re-profiling after a load updates in place, and readers get
    * snapshot isolation from the manifest backend.
    */
  def saveStats(df: DataFrame, cols: Seq[String], statsPath: String,
      freqCols: Seq[String] = Seq.empty,
      engine: graft.sinks.ManifestMergeEngine = new graft.sinks.ManifestMergeEngine())
      : Unit = {
    require(freqCols.forall(cols.contains),
      s"freqCols $freqCols must be a subset of the profiled cols $cols")
    val spark = df.sparkSession
    val nRows = df.count()
    val topFreq: Map[String, Long] = freqCols.map { c =>
      // max over zero groups (empty table) is null — an empty table's
      // hottest key holds 0 rows
      c -> Option(df.groupBy(qcol(df, c)).count()
        .agg(max("count")).head().get(0)).fold(0L)(_.asInstanceOf[Long])
    }.toMap
    val freqExpr = freqCols.foldLeft(lit(null).cast("long")) { (acc, c) =>
      when(col("column") === c, lit(topFreq(c))).otherwise(acc)
    }
    val stats = profileApprox(df, cols)
      .withColumn("n_rows", lit(nRows))
      .withColumn("top_freq", freqExpr)
      // arrival-order columns for the keyed merge: stats versions win by
      // wall-clock save time (a maintenance op, not a data path)
      .withColumn("_batch", lit(System.currentTimeMillis()))
      .withColumn("_line", lit(0L))
    engine.upsert(spark, statsPath, stats, Seq("column"))
  }

  /** The `_stats` side table written by [[saveStats]]; None when absent.
    * Consumers: [[graft.operators.Skew.saltedJoinAuto]] (salt count from
    * `top_freq`), broadcast-or-shuffle decisions (`n_rows`).
    */
  def loadStats(spark: org.apache.spark.sql.SparkSession, statsPath: String,
      engine: graft.sinks.ManifestMergeEngine = new graft.sinks.ManifestMergeEngine())
      : Option[DataFrame] =
    engine.read(spark, statsPath)
}
