package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's analytics read path (/root/reference/dashboard.py:29-211)
  * as plain DataFrame functions: per-table COUNT(*) (A5), last-5-minute
  * windowed count (A6) and MAX(created_at) latest-record probe (A7), all
  * tables in one pass. The session-header LEFT JOIN (J1) is registry
  * query q05.
  *
  * The reference polls these as SQL against Postgres every 5 s; here each is
  * a one-pass aggregate over the derived tables, so the TUI-equivalent can
  * poll a cached DataFrame or a memory-sink streaming aggregation
  * (SURVEY §3.3). `now` is injectable — the reference's wall-clock
  * dependence is nondeterministic and untestable.
  */
object Dashboard {

  /** All-tables stats frame: one row per table name, like the dashboard's
    * per-table panel. Each input is (name, df, timestamp column) — the
    * timestamp columns must share one type, since the per-table
    * projections are unioned into a single (table_name, ts) stream and
    * aggregated in ONE grouped pass (a per-table `agg` fan-out runs a
    * separate aggregate subtree per table). Tables with zero rows still
    * get their (0, 0, NULL) row via the names left join — a bare groupBy
    * would drop them.
    */
  def allStats(tables: Seq[(String, DataFrame, String)], now: Column): DataFrame = {
    val spark = tables.head._2.sparkSession
    val unioned = tables.map { case (name, df, tsCol) =>
      df.select(lit(name).as("table_name"), col(tsCol).as("_ts"))
    }.reduce(_ unionByName _)
    val agg = unioned.groupBy("table_name").agg(
      count(lit(1)).as("n_rows"),
      count(when(col("_ts") > now - expr("INTERVAL 5 MINUTES"), 1)).as("n_last_5min"),
      max(col("_ts")).as("latest_ts"))
    val names = spark.createDataset(tables.map(_._1))(
      org.apache.spark.sql.Encoders.STRING).toDF("table_name")
    // left-outer builds right: broadcast the (tiny) aggregated side
    names.join(broadcast(agg), Seq("table_name"), "left")
      .select(col("table_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_last_5min"), lit(0L)).as("n_last_5min"),
        col("latest_ts"))
  }

  /** The reference's 5 s TUI polling loop (/root/reference/dashboard.py:
    * 114-177) as a render-agnostic poll: every `intervalMs`, recompute
    * [[allStats]] and hand one formatted panel string to `out` (stdout by
    * default), `rounds` times. `now` is a thunk so live callers pass
    * `() => current_timestamp()` while tests inject a fixed clock; the
    * curses rendering itself is presentation and intentionally out of
    * scope — `out` is the seam a TUI plugs into.
    */
  def poll(tables: Seq[(String, DataFrame, String)], now: () => Column,
      rounds: Int, intervalMs: Long = 5000,
      out: String => Unit = println(_)): Unit =
    (1 to rounds).foreach { i =>
      val rows = allStats(tables, now()).orderBy("table_name").collect()
      val panel = rows.map { r =>
        f"${r.getString(0)}%-16s rows=${r.getLong(1)}%-9d last5min=${r.getLong(2)}%-9d " +
          s"latest=${Option(r.get(3)).map(_.toString).getOrElse("-")}"
      }.mkString(s"== dashboard poll $i/$rounds ==\n", "\n", "")
      out(panel)
      if (i < rounds && intervalMs > 0) Thread.sleep(intervalMs)
    }
}
