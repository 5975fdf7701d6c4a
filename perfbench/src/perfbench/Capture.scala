package perfbench

import java.util.{Base64, SplittableRandom}
import java.util.zip.Deflater

/** Seeded F1 live-timing capture in the wire format the pipeline reads:
  * one Python-list literal `['Topic', payload, 'ts']` per line.
  *
  * Covers every topic the eight sink tables derive from: SessionInfo,
  * DriverList, TimingData (sector, lap-end, position and gap deltas of
  * several cars per line), TimingAppData (speed traps), CarData.z and
  * Position.z (raw-deflated, base64), WeatherData and RaceControlMessages in
  * both payload shapes (list, and dict keyed by message id, dict messages
  * re-sent with the same id), plus PitLaneTimeCollection, which no table
  * reads.
  *
  * The cadence follows the real feed as SURVEY.md documents it: the topic
  * mix of the sample capture (§1.2: per 70 `CarData.z` lines, 70
  * `Position.z`, 19 `TimingData`, 9 `TimingAppData`, 4 `DriverList`, 4
  * `PitLaneTimeCollection`, 1 `RaceControlMessages`, 1 `WeatherData`), and about 15.2
  * telemetry rows per feed line (§6), which at that mix is two 20-car
  * samples per `CarData.z` line. See perfbench/DESIGN.md for what departs
  * from it.
  *
  * `malformedShare` of the lines are followed by a malformed line (a
  * truncated copy or plain garbage); `outOfOrderShare` of the lines carry
  * an envelope timestamp one to four seconds earlier than their place in
  * the stream. Same seed and duration give byte-identical lines.
  */
object Capture {

  val Cars = 20
  val MalformedShare = 0.005
  val OutOfOrderShare = 0.02
  /** Milliseconds between lines of a topic, from the sample's mix: the
    * `.z` topics once a second, the others at their count per 70 of them.
    */
  val ZEveryMs = 1000L
  val TimingEveryMs: Long = 70000L / 19
  val TimingAppEveryMs: Long = 70000L / 9
  val PitEveryMs: Long = 70000L / 4
  val DriverEveryMs: Long = 70000L / 4
  val RaceControlEveryMs = 70000L
  val WeatherEveryMs = 60000L
  val KeyframeEveryMs = 300000L
  /** Samples per `.z` line: 2 × 20 cars = 40 telemetry rows per CarData.z
    * line, about 15 per feed line at the mix above.
    */
  val ZSamples = 2

  /** One line with the race millisecond it belongs to. */
  final case class Line(raceMs: Long, text: String)

  private val startEpochMs = java.time.Instant.parse("2025-05-18T13:00:00Z").toEpochMilli

  def iso(raceMs: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(startEpochMs + raceMs))

  def deflateB64(json: String): String = {
    val d = new Deflater(6, true)
    d.setInput(json.getBytes("UTF-8"))
    d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    Base64.getEncoder.encodeToString(out.toByteArray)
  }

  private val numbers = Seq(1, 4, 5, 10, 11, 12, 14, 16, 18, 22, 23, 27, 30, 31, 43, 44, 55, 63, 81, 87)
  private val teams = Seq("Red", "Orange", "Green", "Blue", "Silver", "Black", "White", "Pink", "Yellow", "Grey")

  private def fmtLap(s: Double): String = {
    val m = (s / 60).toInt
    f"$m:${s - 60 * m}%06.3f"
  }

  /** Per-car fields of one topic's updates grouped into lines of `everyMs`:
    * one line per window that has any update, stamped with its last
    * update, each car's fields merged into one entry.
    */
  private def batched(updates: Seq[(Long, Int, String)], everyMs: Long): Seq[(Long, String)] =
    updates.groupBy(_._1 / everyMs).toSeq.sortBy(_._1).map { case (_, us) =>
      val sorted = us.sortBy(u => (u._1, u._2))
      val cars = sorted.map(_._2).distinct.map { n =>
        s"'$n': {${sorted.filter(_._2 == n).map(_._3).mkString(", ")}}"
      }
      (sorted.last._1, cars.mkString("{'Lines': {", ", ", "}}"))
    }

  /** `raceSeconds` of race from the start of the session. */
  def generate(seed: Long, raceSeconds: Int): Vector[Line] = {
    val rnd = new SplittableRandom(seed)
    val events = Vector.newBuilder[(Long, Int, String)]
    var seq = 0
    def emit(ms: Long, topic: String, payload: String): Unit = {
      events += ((ms, seq, s"['$topic', $payload, '${iso(ms)}']")); seq += 1
    }
    val endMs = raceSeconds * 1000L
    val meetingKey = 1200 + rnd.nextInt(100)
    val sessionKey = 9000 + rnd.nextInt(1000)
    val sessionPayload =
      s"{'Meeting': {'Key': $meetingKey, 'Name': 'Bench Grand Prix', " +
        s"'OfficialName': 'FORMULA 1 BENCH GRAND PRIX 2025', 'Location': 'Benchville', " +
        s"'Country': {'Key': 77, 'Code': 'BEN', 'Name': 'Benchland'}, " +
        s"'Circuit': {'Key': 31, 'ShortName': 'Bench Ring'}}, 'Key': $sessionKey, " +
        s"'Type': 'Race', 'Name': 'Race', 'StartDate': '2025-05-18T13:00:00', " +
        s"'EndDate': '2025-05-18T15:00:00', 'GmtOffset': '02:00:00', " +
        s"'Path': '2025/bench_gp/race/', '_kf': True}"
    val driverPayload = numbers.zipWithIndex.map { case (n, i) =>
      s"'$n': {'RacingNumber': '$n', 'Tla': 'D${"%02d".format(i)}', " +
        s"'Name': 'DRIVER $n', 'FirstName': 'First$n', 'LastName': 'Last$n', " +
        s"'TeamName': 'Team ${teams(i / 2)}', 'TeamColour': '${"%06X".format(i * 797003 % 0xFFFFFF)}', " +
        s"'BroadcastName': 'D $n', 'CountryCode': 'C${i % 7}', 'Line': ${i + 1}}"
    }
    // keyframes re-sent identically, as the feed does on reconnect, and
    // between them one car's entry at a time
    (0L until endMs by KeyframeEveryMs).foreach { t =>
      emit(t, "SessionInfo", sessionPayload)
      emit(t, "DriverList", driverPayload.mkString("{", ", ", "}"))
    }
    (DriverEveryMs until endMs by DriverEveryMs).foreach { t =>
      emit(t, "DriverList", s"{${driverPayload(rnd.nextInt(Cars))}}")
    }
    // timing updates per car: sector times and lap ends on each car's
    // pace, gap deltas for four cars per line, position swaps every ~6 s;
    // speed traps once a lap
    val timing = Vector.newBuilder[(Long, Int, String)]
    val traps = Vector.newBuilder[(Long, Int, String)]
    val pace = numbers.map(_ => 88.0 + rnd.nextDouble() * 4.0)
    numbers.zipWithIndex.foreach { case (n, i) =>
      var lapStart = i * 250L
      var lap = 1
      while (lapStart < endMs) {
        val lapS = pace(i) + (rnd.nextDouble() - 0.5) * 1.6
        val s1 = lapS * 0.31; val s2 = lapS * 0.36; val s3 = lapS - s1 - s2
        val t1 = lapStart + (s1 * 1000).toLong
        val t2 = t1 + (s2 * 1000).toLong
        val tEnd = lapStart + (lapS * 1000).toLong
        timing += ((t1, n, f"'NumberOfLaps': $lap, 'Sector1Time': {'Value': '$s1%.3f'}"))
        traps += ((lapStart + (lapS * 500).toLong, n,
          s"'NumberOfLaps': $lap, 'SpeedTrap': {'Value': '${300 + rnd.nextInt(30)}'}"))
        timing += ((t2, n, f"'NumberOfLaps': $lap, 'Sector2Time': {'Value': '$s2%.3f'}"))
        timing += ((tEnd, n, f"'NumberOfLaps': $lap, 'Sector3Time': {'Value': '$s3%.3f'}, " +
          s"'LastLapTime': {'Value': '${fmtLap(lapS)}', " +
          s"'PersonalFastest': ${if (rnd.nextInt(8) == 0) "True" else "False"}}"))
        lapStart = tEnd
        lap += 1
      }
    }
    // gap deltas carry no field the lap and position transforms read, so
    // they are filtered work
    (0L until endMs by TimingEveryMs).foreach { t =>
      (0 until 4).foreach { k =>
        timing += ((t + 100L * k, numbers(rnd.nextInt(Cars)),
          s"'GapToLeader': '+${rnd.nextInt(60000) / 1000.0}', " +
            s"'IntervalToPositionAhead': {'Value': '+${rnd.nextInt(3000) / 1000.0}'}"))
      }
    }
    (3000L until endMs by 6000L).foreach { t =>
      val p = 1 + rnd.nextInt(Cars - 1)
      val a = rnd.nextInt(Cars); val b = (a + 1 + rnd.nextInt(Cars - 1)) % Cars
      timing += ((t, numbers(a), s"'Position': '$p'"))
      timing += ((t, numbers(b), s"'Position': '${p + 1}'"))
    }
    batched(timing.result(), TimingEveryMs).foreach { case (t, p) => emit(t, "TimingData", p) }
    // the cars run close together, so most windows hold no speed trap;
    // those carry a stint update, which no transform reads
    (0L until endMs by TimingAppEveryMs).foreach { t =>
      val n = numbers(rnd.nextInt(Cars))
      traps += ((t + TimingAppEveryMs - 1, n, s"'Stints': {'0': {'TotalLaps': ${1 + t / 90000}}}"))
    }
    batched(traps.result().filter(_._1 < endMs), TimingAppEveryMs)
      .foreach { case (t, p) => emit(t, "TimingAppData", p) }
    // telemetry and positions once a race second, each car's channels and
    // coordinates on a random walk
    val rpm = Array.fill(Cars)(9000 + rnd.nextInt(3000))
    val speed = Array.fill(Cars)(120 + rnd.nextInt(180))
    val xy = Array.fill(Cars * 2)(rnd.nextInt(16000) - 8000)
    def walk(v: Int, step: Int, lo: Int, hi: Int): Int =
      math.max(lo, math.min(hi, v + rnd.nextInt(2 * step + 1) - step))
    (0L until endMs by ZEveryMs).foreach { t =>
      val entries = (0 until ZSamples).map { k =>
        val cars = numbers.indices.map { c =>
          rpm(c) = walk(rpm(c), 400, 7000, 12500); speed(c) = walk(speed(c), 15, 70, 345)
          val throttle = if (speed(c) > 250) 100 else rnd.nextInt(101)
          s""""${numbers(c)}": {"Channels": {"0": ${rpm(c)}, "2": ${speed(c)}, """ +
            s""""3": ${1 + speed(c) / 45}, "4": $throttle, "5": ${if (throttle < 20) 100 else 0}, """ +
            s""""45": ${if (speed(c) > 290) 12 else 8}}}"""
        }.mkString(",")
        s"""{"Utc": "${iso(t + ZEveryMs / ZSamples * k)}", "Cars": {$cars}}"""
      }.mkString(",")
      emit(t, "CarData.z", s"'${deflateB64(s"""{"Entries": [$entries]}""")}'")
      val snaps = (0 until ZSamples).map { k =>
        val cars = numbers.indices.map { c =>
          xy(2 * c) = walk(xy(2 * c), 300, -10000, 10000)
          xy(2 * c + 1) = walk(xy(2 * c + 1), 300, -10000, 10000)
          val status = if (rnd.nextInt(40) == 0) "OffTrack" else "OnTrack"
          s""""${numbers(c)}": {"Status": "$status", "X": ${xy(2 * c)}, """ +
            s""""Y": ${xy(2 * c + 1)}, "Z": ${50 + rnd.nextInt(30)}}"""
        }.mkString(",")
        s"""{"Timestamp": "${iso(t + ZEveryMs / ZSamples * k)}", "Entries": {$cars}}"""
      }.mkString(",")
      emit(t + 500L, "Position.z", s"'${deflateB64(s"""{"Position": [$snaps]}""")}'")
    }
    (0L until endMs by PitEveryMs).foreach { t =>
      val n = numbers(rnd.nextInt(Cars))
      emit(t + 1500L, "PitLaneTimeCollection", s"{'PitTimes': {'$n': {'RacingNumber': '$n', " +
        s"'Duration': '${20 + rnd.nextInt(80) / 10.0}', 'Lap': '${1 + t / 90000}'}}}")
    }
    (0L until endMs by WeatherEveryMs).foreach { t =>
      emit(t, "WeatherData",
        s"{'AirTemp': '${20 + rnd.nextInt(80) / 10.0}', 'Humidity': '${30 + rnd.nextInt(40)}.0', " +
          s"'Pressure': '${1005 + rnd.nextInt(9)}.${rnd.nextInt(10)}', " +
          s"'Rainfall': '${if (rnd.nextInt(9) == 0) "true" else "0"}', " +
          s"'TrackTemp': '${35 + rnd.nextInt(100) / 10.0}', 'WindDirection': '${rnd.nextInt(360)}', " +
          s"'WindSpeed': '${rnd.nextInt(50) / 10.0}'}")
    }
    // race control: alternating list and dict shapes; every dict message
    // is re-sent with the same id a few seconds later
    var msgId = 1
    (0L until endMs by RaceControlEveryMs).zipWithIndex.foreach { case (t, k) =>
      val n = numbers(rnd.nextInt(Cars))
      val text = Seq("TRACK LIMITS AT TURN 4", "YELLOW IN SECTOR 7", "DRS ENABLED",
        "CAR INCIDENT NOTED", "BLUE FLAG")(k % 5) + s" CAR $n LAP ${1 + t / 90000}"
      val msg = s"{'Utc': '${iso(t).dropRight(1)}', 'Category': '${if (k % 3 == 0) "Flag" else "Other"}', " +
        s"'Flag': '${if (k % 3 == 0) "YELLOW" else "CLEAR"}', 'Scope': 'Sector', 'Sector': ${1 + k % 20}, " +
        s"'Message': '$text', 'RacingNumber': '$n', 'Lap': ${1 + t / 90000}}"
      if (k % 2 == 0) emit(t, "RaceControlMessages", s"{'Messages': [$msg]}")
      else {
        val payload = s"{'Messages': {'$msgId': $msg}}"
        emit(t, "RaceControlMessages", payload)
        emit(t + 2000L + rnd.nextInt(3000), "RaceControlMessages", payload)
        msgId += 1
      }
    }
    val ordered = events.result().filter(_._1 < endMs).sortBy(e => (e._1, e._2))
    // stream faults: stale envelope timestamps and malformed lines
    val faults = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val out = Vector.newBuilder[Line]
    ordered.foreach { case (ms, _, text) =>
      val line =
        if (faults.nextDouble() < OutOfOrderShare && ms > 5000) {
          val stale = iso(ms - 1000L - faults.nextInt(3000))
          text.substring(0, text.lastIndexOf(", '")) + s", '$stale']"
        } else text
      out += Line(ms, line)
      if (faults.nextDouble() < MalformedShare)
        out += Line(ms,
          if (faults.nextBoolean()) line.substring(0, line.length / 2)
          else s"garbage ${faults.nextLong()} not an event")
    }
    out.result()
  }

  /** Share of `lines` whose topic is a deflated `.z` topic. */
  def zShare(lines: Seq[Line]): Double =
    lines.count(l => l.text.startsWith("['CarData.z'") || l.text.startsWith("['Position.z'")).toDouble /
      math.max(1, lines.size)

  /** Writes `lines` as one text file; returns its byte count. */
  def writeFile(path: java.nio.file.Path, lines: Seq[Line]): Long = {
    val sb = new StringBuilder
    lines.foreach(l => sb.append(l.text).append('\n'))
    val bytes = sb.toString.getBytes("UTF-8")
    java.nio.file.Files.write(path, bytes)
    bytes.length.toLong
  }

  /** Entry point for the determinism test: writes the capture for a seed
    * and duration to a file.
    */
  def main(args: Array[String]): Unit = {
    val Array(seed, seconds, out) = args
    writeFile(java.nio.file.Paths.get(out), generate(seed.toLong, seconds.toInt))
  }
}
