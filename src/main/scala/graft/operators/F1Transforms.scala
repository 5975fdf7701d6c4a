package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.f1.Schemas
import graft.functions.Coercions._

/** Per-topic transforms (SURVEY §2.3 T1–T13): each takes the normalized
  * event frame from [[graft.sources.EventSource]] (`topic, payload, ts,
  * event_ts, line_id`) and produces one typed derived table, matching the
  * reference's output schemas (FIXTURES.md §A.7).
  *
  * All fan-out is `explode` over parsed structs — no UDTFs; all scalar work
  * is Column compositions + the two custom codecs (P1 UDF upstream, P3
  * `InflateRaw`). The expensive `.z` inflate runs strictly after the topic
  * equality filter, so at scale it touches only the ~60% of lines that are
  * compressed topics, and the topic filter itself can push into the scan.
  *
  * Deliberate divergences from reference bugs (SURVEY §7.4):
  *  - R2: `carPositions` always emits rows (the reference's indentation bug
  *    emits only on unparseable timestamps — monitor_car_positions.py:125-152);
  *  - R1: weather exposes BOTH `rainfall_bool` and `rainfall_num`;
  *  - `broadcast_name` uses the payload's BroadcastName, falling back to
  *    Name — not RacingNumber (transformer.py:112 populates it from
  *    RacingNumber by mistake).
  */
object F1Transforms {

  private def topicIs(events: DataFrame, t: String): DataFrame =
    events.filter(col("topic") === t)

  /** T2 — DriverList map-explode → one driver row per entry, first-wins
    * dedup by driver_number in arrival order (A1;
    * /root/reference/transformer.py:79-120).
    */
  def drivers(events: DataFrame): DataFrame = {
    val exploded = topicIs(events, "DriverList")
      .select(col("line_id"), col("event_ts"),
        explode(from_json(col("payload"), Schemas.driverList)).as(Seq("driver_key", "d")))
      .filter(col("d").isNotNull)
    val w = Window.partitionBy("driver_number").orderBy(col("line_id"))
    exploded
      .select(
        col("driver_key").try_cast("int").as("driver_number"),
        // (int key, line_id) first, as in `sessions`: both first-wins
        // windows then share one generated sort ordering
        col("line_id"),
        col("d.Name").as("name"),
        col("d.TeamName").as("team"),
        col("d.Tla").as("short_name"),
        col("d.TeamColour").as("team_color"),
        col("d.FirstName").as("first_name"),
        col("d.LastName").as("last_name"),
        col("d.CountryCode").as("country_code"),
        col("d.HeadshotUrl").as("headshot_url"),
        coalesce(col("d.BroadcastName"), col("d.Name")).as("broadcast_name"))
      .filter(col("driver_number").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "line_id")
  }

  /** T3 — SessionInfo projection (/root/reference/transformer.py:122-151). */
  def sessions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("session_key").orderBy(col("line_id"))
    topicIs(events, "SessionInfo")
      .select(col("line_id"), from_json(col("payload"), Schemas.sessionInfo).as("s"))
      .select(
        col("s.Key").as("session_key"),
        col("line_id"), // right after the key; see `drivers`
        col("s.Meeting.Key").as("meeting_key"),
        col("s.Name").as("name"),
        col("s.Type").as("type"),
        parseTs(col("s.StartDate")).as("date"),
        col("s.Meeting.Circuit.ShortName").as("circuit"),
        col("s.Meeting.Location").as("location"),
        col("s.Meeting.Country.Name").as("country_name"))
      .filter(col("session_key").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "line_id")
  }

  /** Explode TimingData into per-driver delta rows, handling BOTH payload
    * shapes: the real wire format wraps drivers under `Lines`
    * (FIXTURES.md §A.1) while the transformer's simplified JSON keys drivers
    * at top level (/root/reference/transformer.py:162). Format is detected
    * structurally (presence of the `Lines` key), never guessed per row
    * beyond that.
    */
  private def timingLines(events: DataFrame): DataFrame = {
    val raw = topicIs(events, "TimingData")
    val withLines = raw.withColumn("lines",
      when(get_json_object(col("payload"), "$.Lines").isNotNull,
        from_json(col("payload"), Schemas.timingData).getField("Lines"))
        .otherwise(from_json(col("payload"), Schemas.timingDataSimplified)))
    withLines
      .select(col("line_id"), col("event_ts"),
        explode(col("lines")).as(Seq("driver_key", "f")))
      .withColumn("driver_number", col("driver_key").try_cast("int"))
      .filter(col("driver_number").isNotNull)
  }

  /** T4 — lap extraction with P6 lap-time parse and sector/speed
    * projections (/root/reference/transformer.py:153-199).
    *
    * Documented divergence: the reference only materializes a lap row when
    * the delta carries `LastLapTime`, silently losing sector times that
    * arrive in earlier deltas of the same lap. We also emit lap-keyed
    * fragments for sector/speed-only deltas — the A3 consolidation merges
    * them, so no timing data is dropped.
    */
  def lapFragmentsFromTiming(events: DataFrame): DataFrame =
    timingLines(events)
      .filter(col("f.LastLapTime").isNotNull ||
        (col("f.NumberOfLaps").isNotNull &&
          (col("f.Sector1Time").isNotNull || col("f.Sector2Time").isNotNull ||
            col("f.Sector3Time").isNotNull || col("f.BestSpeed").isNotNull)))
      .select(
        col("driver_number"),
        // delta events can carry LastLapTime without repeating NumberOfLaps;
        // the reference keys those to lap 0 (int(fields.get('NumberOfLaps',
        // 0)), transformer.py) — a NULL key would collapse all such deltas
        // of a driver into one consolidation group
        coalesce(col("f.NumberOfLaps"), lit(0)).as("lap_number"),
        lapSeconds(col("f.LastLapTime.Value")).as("lap_time"),
        lapSeconds(col("f.Sector1Time.Value")).as("sector_1_time"),
        lapSeconds(col("f.Sector2Time.Value")).as("sector_2_time"),
        lapSeconds(col("f.Sector3Time.Value")).as("sector_3_time"),
        toInt(col("f.BestSpeed.Value")).as("speed_trap"),
        col("event_ts").as("timestamp"),
        col("line_id"))

  /** T5 — per-driver position snapshots from TimingData
    * (/root/reference/transformer.py:201-212).
    */
  def positionsFromTiming(events: DataFrame): DataFrame =
    timingLines(events)
      .filter(col("f.Position").isNotNull)
      .select(
        col("driver_number"),
        toInt(col("f.Position")).as("position"),
        col("event_ts").as("timestamp"))

  /** T6 — TimingAppData lap fragments (/root/reference/transformer.py:217-266). */
  def lapFragmentsFromApp(events: DataFrame): DataFrame =
    topicIs(events, "TimingAppData")
      .select(col("line_id"), col("event_ts"),
        explode(from_json(col("payload"), Schemas.timingAppData).getField("Lines"))
          .as(Seq("driver_key", "f")))
      .withColumn("driver_number", col("driver_key").try_cast("int"))
      .filter(col("driver_number").isNotNull && col("f.NumberOfLaps").isNotNull)
      .select(
        col("driver_number"),
        col("f.NumberOfLaps").as("lap_number"),
        lit(null).cast("double").as("lap_time"),
        lapSeconds(col("f.Sector1.Value")).as("sector_1_time"),
        lapSeconds(col("f.Sector2.Value")).as("sector_2_time"),
        lapSeconds(col("f.Sector3.Value")).as("sector_3_time"),
        toInt(col("f.SpeedTrap.Value")).as("speed_trap"),
        col("event_ts").as("timestamp"),
        col("line_id"))

  /** A3/T6 — lap consolidation: the reference's in-batch mutate-or-append
    * (/root/reference/transformer.py:235-249) plus the sink's per-column
    * `COALESCE(EXCLUDED.col, old.col)` upsert (/root/reference/loader.py:267-273),
    * re-expressed as a declarative last-non-null aggregate per
    * (driver, lap) in arrival order. One shuffle on the composite key.
    */
  def laps(events: DataFrame): DataFrame = {
    val fragments = lapFragmentsFromTiming(events)
      .unionByName(lapFragmentsFromApp(events))
    consolidateLaps(fragments)
  }

  /** Last-non-null per column over (driver_number, lap_number), ordered by
    * arrival (`line_id`). Exposed separately so tests can exercise replay
    * idempotence (U3).
    */
  def consolidateLaps(fragments: DataFrame): DataFrame = {
    val key = Seq("driver_number", "lap_number")
    val frame = Window.partitionBy(key.map(col): _*).orderBy(col("line_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val latest = Window.partitionBy(key.map(col): _*).orderBy(col("line_id").desc)
    def lastNonNull(c: String): Column = last(col(c), ignoreNulls = true).over(frame).as(c)
    fragments
      .select(col("driver_number"), col("lap_number"), col("line_id"),
        lastNonNull("lap_time"), lastNonNull("sector_1_time"),
        lastNonNull("sector_2_time"), lastNonNull("sector_3_time"),
        lastNonNull("speed_trap"), lastNonNull("timestamp"))
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1)
      .drop("rn", "line_id")
  }

  /** T9 — CarData.z: base64 → raw-inflate → JSON → Entries×Cars explode →
    * channel mapping 0→rpm, 2→speed, 3→gear, 4→throttle, 5→brake, 45→drs
    * (/root/reference/monitor_car_telemetry.py:122-163).
    */
  def telemetry(events: DataFrame): DataFrame = {
    def ch(n: String): Column = try_element_at(col("car.Channels"), lit(n))
    topicIs(events, "CarData.z")
      .select(col("event_ts"),
        from_json(inflateZ(col("payload")), Schemas.carData).as("p"))
      .select(col("event_ts"), explode(col("p.Entries")).as("entry"))
      .select(
        coalesce(parseTs(col("entry.Utc")), col("event_ts")).as("timestamp"),
        explode(col("entry.Cars")).as(Seq("driver_key", "car")))
      .select(
        col("driver_key").try_cast("int").as("driver_number"),
        col("timestamp"),
        ch("0").as("rpm"),
        ch("2").as("speed"),
        ch("3").as("gear"),
        ch("4").as("throttle"),
        ch("5").as("brake"),
        ch("45").as("drs"))
      .filter(col("driver_number").isNotNull)
  }

  /** T8 — Position.z full explode → one row per (snapshot ts, driver) with
    * X/Y/Z/Status (/root/reference/monitor_car_positions.py:119-153,
    * implementing the INTENDED semantics — divergence R2 documented above).
    */
  def carPositions(events: DataFrame): DataFrame =
    topicIs(events, "Position.z")
      .select(col("event_ts"),
        from_json(inflateZ(col("payload")), Schemas.positionZ).as("p"))
      .select(col("event_ts"), explode(col("p.Position")).as("snap"))
      .select(
        coalesce(parseTs(col("snap.Timestamp")), col("event_ts")).as("timestamp"),
        explode(col("snap.Entries")).as(Seq("driver_key", "e")))
      .select(
        col("driver_key").try_cast("int").as("driver_number"),
        col("timestamp"),
        col("e.X").as("x"),
        col("e.Y").as("y"),
        col("e.Z").as("z"),
        col("e.Status").as("status"))
      .filter(col("driver_number").isNotNull)

  /** T7 — the transformer's *simplified* Position.z shape
    * (`driver → [x, y, z]`; /root/reference/transformer.py:271-299), the
    * second source codec of SURVEY §1.2.
    */
  def telemetryPositionsSimplified(events: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
    topicIs(events, "Position.z")
      .filter(col("payload").startsWith("{")) // already-simplified JSON only
      .select(col("event_ts"),
        explode(from_json(col("payload"), schema)).as(Seq("driver_key", "xyz")))
      .select(
        col("driver_key").try_cast("int").as("driver_number"),
        col("event_ts").as("timestamp"),
        try_element_at(col("xyz"), lit(1)).as("x"),
        try_element_at(col("xyz"), lit(2)).as("y"),
        try_element_at(col("xyz"), lit(3)).as("z"))
      .filter(col("driver_number").isNotNull)
  }

  /** T10/T11 — RaceControlMessages, both payload shapes: list form
    * (/root/reference/transformer.py:345-382) and dict form keyed by message
    * id (/root/reference/monitor_race_control.py:120-152). Rows from the
    * dict form carry their `msg_id` for A2 dedup; list-form rows synthesize
    * one from (ts, message).
    */
  def raceControl(events: DataFrame): DataFrame = {
    val raw = topicIs(events, "RaceControlMessages")
    val isList = get_json_object(col("payload"), "$.Messages[0]").isNotNull
    val listRows = raw.filter(isList)
      .select(col("event_ts"), col("line_id"),
        explode(from_json(col("payload"), Schemas.raceControlList).getField("Messages")).as("m"))
      .withColumn("msg_id", lit(null).cast("string"))
    val dictRows = raw.filter(!isList)
      .select(col("event_ts"), col("line_id"),
        explode(from_json(col("payload"), Schemas.raceControlDict).getField("Messages"))
          .as(Seq("msg_id", "m")))
    val unioned = listRows.unionByName(dictRows)
    unioned.select(
      coalesce(parseTs(col("m.Utc")), col("event_ts")).as("timestamp"),
      col("m.Message").as("message"),
      col("m.Category").as("category"),
      col("m.Flag").as("flag"),
      coalesce(col("m.RacingNumber"), col("m.DriverNumber")).try_cast("int").as("driver_number"),
      col("m.Scope").as("scope"),
      col("m.Sector").as("sector"),
      col("m.Lap").as("lap_number"),
      coalesce(col("msg_id"),
        concat_ws("|", col("m.Utc"), col("m.Message"))).as("msg_id"),
      col("line_id"))
  }

  /** T12 — WeatherData projection with P7/P8/P9 coercions
    * (/root/reference/transformer.py:384-420, main.py:123-177,
    * monitor_weather.py:83-147). Exposes both rainfall semantics (R1).
    */
  def weather(events: DataFrame): DataFrame =
    topicIs(events, "WeatherData")
      .select(col("event_ts"), col("line_id"),
        from_json(col("payload"), Schemas.weatherData).as("w"))
      .select(
        col("event_ts").as("timestamp"),
        toNumeric(col("w.AirTemp")).as("air_temp"),
        toNumeric(col("w.TrackTemp")).as("track_temp"),
        toNumeric(col("w.Humidity")).as("humidity"),
        toNumeric(col("w.Pressure")).as("pressure"),
        toNumeric(col("w.WindSpeed")).as("wind_speed"),
        toInt(col("w.WindDirection")).as("wind_direction"),
        rainfallBool(col("w.Rainfall")).as("rainfall_bool"),
        toNumeric(col("w.Rainfall")).as("rainfall_num"),
        col("line_id"))
}
