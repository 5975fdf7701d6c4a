package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Salted-join semantics: result parity with the unsalted join, and the
  * hot key actually spreads over the salt space.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // 10k rows, 90% on one hot key — the shape that serializes a shuffle
  private lazy val big = spark.range(10000)
    .select((when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id"))).as("k"),
      col("id").as("payload"))
  private lazy val small = Seq((1L, "hot"), (10L, "a"), (20L, "b"), (30L, "c"))
    .toDF("k", "v")

  test("salted join equals the plain join (inner and left)") {
    for (jt <- Seq("inner", "left")) {
      val plain = big.join(small, Seq("k"), jt)
        .select("k", "payload", "v").collect()
        .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val salted = Skew.saltedJoin(big, small, "k", salts = 8, joinType = jt)
        .select("k", "payload", "v").collect()
        .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      assert(salted == plain, s"$jt join multiset mismatch")
    }
  }

  test("hot key spreads across the salt space (content-hash salt)") {
    val saltsUsed = big.withColumn("_salt",
      pmod(xxhash64(big.columns.map(col): _*), lit(8L)))
      .filter(col("k") === 1L)
      .select(countDistinct(col("_salt"))).collect().head.getLong(0)
    assert(saltsUsed == 8L, s"hot key only used $saltsUsed of 8 salts")
  }

  test("stats round-trip: saveStats/loadStats through the manifest engine; updates upsert") {
    val statsPath = java.nio.file.Files.createTempDirectory("skewstats").toString + "/_stats"
    graft.catalog.Profile.saveStats(big, Seq("k", "payload"), statsPath,
      freqCols = Seq("k"))
    val st = graft.catalog.Profile.loadStats(spark, statsPath).get
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(st("k").getAs[Long]("n_rows") == 10000L)
    // the hot key holds 9000 of 10000 rows
    assert(st("k").getAs[Long]("top_freq") == 9000L)
    // non-freq column carries null top_freq, sketch distinct ≈ exact
    assert(st("payload").getAs[Any]("top_freq") == null)
    assert(math.abs(st("payload").getAs[Long]("n_distinct") - 10000L) < 500L)
    // re-profiling a GROWN table updates rows in place (upsert by column)
    graft.catalog.Profile.saveStats(
      big.unionByName(big), Seq("k", "payload"), statsPath, freqCols = Seq("k"))
    val st2 = graft.catalog.Profile.loadStats(spark, statsPath).get
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(st2("k").getAs[Long]("n_rows") == 20000L)
    assert(st2("k").getAs[Long]("top_freq") == 18000L)
    assert(st2.size == 2, st2.keys) // updated, not appended
  }

  test("statsJoin: small stats pick broadcast; big/missing stats pick the shuffled path") {
    val root = java.nio.file.Files.createTempDirectory("statsjoin").toString
    val smallStats = s"$root/small_stats"
    val bigStats = s"$root/big_stats"
    graft.catalog.Profile.saveStats(small, Seq("k"), smallStats)
    graft.catalog.Profile.saveStats(big, Seq("k"), bigStats, freqCols = Seq("k"))
    // 4-row small side under the threshold → direct broadcast, no salting
    val bPlan = Skew.statsJoin(big, small, "k", smallStats, bigStats,
      broadcastRows = 100L).queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), bPlan)
    assert(!bPlan.contains("_salt"), bPlan)
    // threshold below the small side's 4 rows → the salted path (Spark
    // may still pick BHJ for the tiny replicated side at toy scale — the
    // decision under test is broadcast-direct vs salted, i.e. the key)
    val sJoin = Skew.statsJoin(big, small, "k", smallStats, bigStats,
      broadcastRows = 2L, targetRowsPerSalt = 2000L)
    assert(sJoin.queryExecution.executedPlan.toString.contains("_salt"))
    // results match the plain join either way
    val plain = big.join(small, Seq("k")).select("k", "payload", "v").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val viaStats = sJoin.select("k", "payload", "v").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(viaStats == plain)
    // missing small stats → safe shuffled path, still correct
    val missing = Skew.statsJoin(big, small, "k", s"$root/nope", bigStats)
      .select("k", "payload", "v").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(missing == plain)
  }

  test("saveStats on an empty table records zero frequencies instead of crashing") {
    val statsPath = java.nio.file.Files.createTempDirectory("skewempty").toString + "/_stats"
    graft.catalog.Profile.saveStats(big.limit(0), Seq("k"), statsPath,
      freqCols = Seq("k"))
    val st = graft.catalog.Profile.loadStats(spark, statsPath).get.head()
    assert(st.getAs[Long]("n_rows") == 0L)
    assert(st.getAs[Long]("top_freq") == 0L)
    assert(Skew.saltsFromStats(spark, statsPath, "k", 1000L, 64) == 1)
  }

  test("saltedJoinAuto picks salts from stored key frequency; parity with plain join") {
    val statsPath = java.nio.file.Files.createTempDirectory("skewauto").toString + "/_stats"
    graft.catalog.Profile.saveStats(big, Seq("k"), statsPath, freqCols = Seq("k"))
    // hottest key = 9000 rows; at 2000 rows/salt the decision is ceil = 5
    assert(Skew.saltsFromStats(spark, statsPath, "k", 2000L, 64) == 5)
    // clamped by maxSalts
    assert(Skew.saltsFromStats(spark, statsPath, "k", 100L, 16) == 16)
    // a cool table (or missing stats) joins unsalted
    assert(Skew.saltsFromStats(spark, statsPath, "k", 1000000L, 64) == 1)
    assert(Skew.saltsFromStats(spark, statsPath + "_nope", "k", 2000L, 64) == 1)
    val plain = big.join(small, Seq("k"), "inner")
      .select("k", "payload", "v").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val auto = Skew.saltedJoinAuto(big, small, "k", statsPath,
      targetRowsPerSalt = 2000L)
      .select("k", "payload", "v").collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(auto == plain)
  }

  test("count-min sketch: one-sided guarantee, mergeability, determinism, one exchange") {
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 300)
      .select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val truth = toks.groupBy("token").agg(count(lit(1)).as("true_n"))
      .localCheckpoint(true)
    val n = toks.count()
    val cm = Skew.countMin(toks, "token", depth = 4, width = 2048)
    val sketch = cm.cells.localCheckpoint(true)
    // every estimate >= truth (the one-sided contract), and the
    // overcount stays under the eps*N bound with big margin
    val est = Skew.countMinEstimate(cm.copy(cells = sketch),
      truth.select("token"), "token")
      .join(truth, "token")
    assert(est.filter(col("est_n") < col("true_n")).isEmpty,
      "count-min UNDER-estimated - the one-sided guarantee is broken")
    val maxOver = est.agg(max(col("est_n") - col("true_n"))).head().getLong(0)
    val bound = math.ceil(math.E / 2048.0 * n).toLong * 4
    assert(maxOver <= bound, s"overcount $maxOver exceeds 4x the eps*N bound $bound")
    // a never-seen item estimates near zero (at most collision noise)
    val ghost = Skew.countMinEstimate(cm.copy(cells = sketch),
      Seq("zzznevertokenzzz").toDF("token"), "token")
      .head().getLong(1)
    assert(ghost <= bound, ghost.toString)
    // executor-count invariance: same sketch at any parallelism (the
    // partial agg IS the paper's cell-wise merge)
    val s2 = Skew.countMin(toks.repartition(13), "token", depth = 4, width = 2048).cells
    assert(s2.join(sketch, Seq("r", "c"), "full")
      .filter(s2("n") =!= sketch("n") ||
        s2("n").isNull || sketch("n").isNull).isEmpty,
      "sketch drifted under repartition")
    // explicit mergeability: sketch(A union B) == cellwise sum of
    // sketch(A) + sketch(B)
    val a = toks.filter(xxhash64(col("token")) % 2 === 0)
    val b = toks.filter(xxhash64(col("token")) % 2 =!= 0)
    val merged = Skew.countMin(a, "token", 4, 2048).cells
      .unionByName(Skew.countMin(b, "token", 4, 2048).cells)
      .groupBy("r", "c").agg(sum("n").as("n"))
    assert(merged.join(sketch, Seq("r", "c"), "full")
      .filter(merged("n") =!= sketch("n") ||
        merged("n").isNull || sketch("n").isNull).isEmpty,
      "cell-wise merge differs from the union sketch")
    // plan shape: building the sketch is ONE partial-aggregated exchange
    val plan = Skew.countMin(toks, "token", 4, 2048).cells
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1, plan)
    Dedup.releaseLocalCheckpoint(truth)
    Dedup.releaseLocalCheckpoint(sketch)
  }

  test("count-min: item columns named r/c/n/cell don't collide with sketch internals") {
    // round-11 advisor: unprefixed internal names made these ambiguous
    Seq("r", "c", "n", "cell").foreach { name =>
      val df = Seq("x", "y", "x").toDF(name)
      val cm = Skew.countMin(df, name, depth = 2, width = 64)
      val est = Skew.countMinEstimate(cm, Seq("x", "zz").toDF(name), name)
        .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
      assert(est("x") >= 2L, s"col $name: $est")
      assert(est.contains("zz"), s"col $name: $est")
    }
    // and the internal prefix itself is refused loudly
    val cm = Skew.countMin(Seq("x").toDF("_cm_r"), "_cm_r")
    intercept[IllegalArgumentException](
      Skew.countMinEstimate(cm, Seq("x").toDF("_cm_r"), "_cm_r"))
  }

  private lazy val seenKeys = (0 until 500).map(i => s"key$i")
  private lazy val seenDf = seenKeys.toDF("text")
  // 300 novel keys + 50 exact dups of seen keys
  private lazy val incDf =
    ((0 until 300).map(i => (i.toLong, s"new$i")) ++
      (0 until 50).map(i => (1000L + i, s"key${i * 7}"))).toDF("id", "text")

  test("bloom: no false negatives, exact is_new parity, real pruning at sane sizing") {
    val out = Skew.bloomNewIds(seenDf, incDf, "id", "text",
      mBits = 1L << 20, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(out.size == 350)
    // the hard guarantee: every true duplicate is flagged maybe (a false
    // negative here means the prefilter silently drops a dup)
    (0 until 50).foreach { i =>
      assert(out(1000L + i) == ((true, false)), s"dup $i: ${out(1000L + i)}")
    }
    // exact parity with the plain anti-join semantics
    (0 until 300).foreach(i => assert(out(i.toLong)._2, s"new$i not new"))
    // and the sketch actually prunes: at m=2^20 over 500 keys FP≈0, so
    // (nearly) every novel row skips the exact confirmation entirely
    val pruned = out.collect { case (id, (false, _)) => id }
    assert(pruned.size >= 295, s"only ${pruned.size} rows pruned")
  }

  test("bloom: an undersized FP-dense sketch changes the plan, never the answer") {
    // 64 bits for 500 keys: nearly every bit set, maybe≈always true —
    // the prefilter degrades to the plain join but stays exact
    val out = Skew.bloomNewIds(seenDf, incDf, "id", "text",
      mBits = 64, k = 2).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val truth = incDf.join(seenDf, Seq("text"), "left_anti")
      .select("id").collect().map(_.getLong(0)).toSet
    out.foreach { case (id, isNew) =>
      assert(isNew == truth.contains(id), s"id $id: $isNew vs ${truth.contains(id)}")
    }
    assert(truth.size == 300)
  }

  test("bloom store: grown store ≡ one-shot build bit-for-bit, appends idempotent, verdicts unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/bf"
    val gen1 = seenKeys.take(250).toDF("text")
    val gen2 = seenKeys.drop(250).toDF("text")
    Skew.bloomSave(Skew.bloomBuild(gen1, "text", mBits = 1L << 16, k = 5), dir)
    val grown = Skew.bloomAppend(spark, dir, gen2, "text")
    // params ride the store — a probe can't hash with different ones
    assert(grown.mBits == (1L << 16) && grown.k == 5)
    val oneShot = Skew.bloomBuild(seenDf, "text", mBits = 1L << 16, k = 5)
    def posSet(s: Skew.BloomSketch): Seq[Long] =
      s.bits.collect().map(_.getLong(0)).sorted.toSeq
    assert(posSet(grown) == posSet(oneShot),
      "grown store diverged from the one-shot build")
    // re-appending overlapping keys adds ZERO rows: the distinct-store
    // invariant (size — the sketch must grow with set bits, not ingest
    // volume; the probe itself is join-multiplicity-proof) holds under
    // replay
    assert(posSet(Skew.bloomAppend(spark, dir, gen2, "text")) == posSet(oneShot))
    // and end-to-end verdicts through the reloaded store equal the
    // fresh-build path exactly
    val viaStore = Skew.bloomNewIdsWith(Skew.bloomLoad(spark, dir),
        seenDf, incDf, "id", "text")
      .select("id", "is_new").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val fresh = Skew.bloomNewIds(seenDf, incDf, "id", "text", 1L << 16, 5)
      .select("id", "is_new").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaStore == fresh)
  }

  test("bloom: duplicate probe rows can never produce a false negative") {
    // regression (round-12 review): the all-hit test was `count == k`,
    // so a duplicated (id, key) increment row doubled the joined hit
    // count and a TRUE DUP skipped exact confirmation as "definitely
    // new". Verdicts now collapse to one row per distinct (id, key) and
    // the test is "every distinct probed position hit".
    val dupInc = incDf.unionAll(incDf).unionAll(incDf) // every row 3x
    val rows = Skew.bloomNewIds(seenDf, dupInc, "id", "text",
        mBits = 1L << 20, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3))))
    assert(rows.length == 350, s"${rows.length} rows: duplicates must collapse")
    val byId = rows.toMap
    (0 until 50).foreach { i =>
      assert(byId(1000L + i) == ((true, false)),
        s"dup $i under duplicated probe rows: ${byId(1000L + i)}")
    }
    (0 until 300).foreach(i => assert(byId(i.toLong)._2, s"new$i not new"))
  }

  test("bloom: corpus-stays-put confirmation (candidate-bounded broadcasts) and guards") {
    // both exact-confirmation joins ride forced candidate-bounded
    // broadcasts — the seen corpus is never shuffled
    val plan = Skew.bloomNewIds(seenDf, incDf, "id", "text",
      mBits = 1L << 20, k = 5).queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2, plan)
    intercept[IllegalArgumentException](
      Skew.bloomBuild(seenDf, "text", mBits = 32))
    intercept[IllegalArgumentException](
      Skew.bloomBuild(seenDf, "text", k = 0))
    intercept[IllegalArgumentException](
      Skew.bloomBuild(seenDf.select(col("text").as("_bf_x")), "_bf_x"))
    val sk = Skew.bloomBuild(seenDf, "text")
    intercept[IllegalArgumentException](
      Skew.bloomMaybe(sk, incDf.select(col("id").as("_bf_id"), col("text")),
        "_bf_id", "text"))
  }

  // ---- Misra-Gries heavy hitters ----

  // n = 10000: h1 ×1500, h2 ×800, 100 light items ×77 each. With k = 19
  // the MG bound is n/(k+1) = 500 — h1/h2 are guaranteed members, every
  // light item is guaranteed-or-not by partition order (that's the
  // point of the exact confirmation).
  private lazy val mgItems = spark.range(10000).select(
    when(col("id") < 1500, lit("h1"))
      .when(col("id") < 2300, lit("h2"))
      .otherwise(concat(lit("l_"), pmod(col("id"), lit(100)))).as("item"))
  private lazy val mgTruth: Map[String, Long] =
    mgItems.groupBy("item").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("misra-gries: containment + one-sided bound at every partitioning") {
    for (parts <- Seq(1, 7, 32)) {
      val hh = Skew.heavyHitters(mgItems.repartition(parts), "item", k = 19)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(hh.size <= 19, s"summary exceeded capacity: ${hh.size}")
      // one-sided error: est <= true <= est + n/(k+1), for every entry
      hh.foreach { case (item, est) =>
        val t = mgTruth(item)
        assert(est <= t, s"$item est $est > true $t (parts=$parts)")
        assert(t <= est + 500, s"$item true $t > est $est + 500 (parts=$parts)")
      }
      // containment: anything above the bound is guaranteed present
      assert(hh.contains("h1") && hh.contains("h2"),
        s"guaranteed heavy hitter missing at parts=$parts: ${hh.keys}")
    }
  }

  test("heavyHittersExact equals the plain groupBy/having; nulls skipped") {
    val expected = Seq(("h1", 1500L, 0.15), ("h2", 800L, 0.08))
    for (parts <- Seq(1, 7, 32)) {
      val got = Skew.heavyHittersExact(mgItems.repartition(parts), "item",
        phi = 0.05).orderBy("item").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == expected, s"parts=$parts: $got")
    }
    // null items don't count toward the stream or the verdicts
    val withNulls = mgItems.unionByName(spark.range(500)
      .select(lit(null).cast("string").as("item")))
    val got = Skew.heavyHittersExact(withNulls, "item", phi = 0.05)
      .orderBy("item").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected, s"nulls leaked into the verdict: $got")
    intercept[IllegalArgumentException](
      Skew.heavyHittersExact(mgItems, "item", phi = 0.0))
  }

  test("heavyHittersExact: count exactly AT phi·n is excluded (exact rational threshold)") {
    // n = 10000, phi = 0.05 → the bar is EXACTLY 500. 'edge' lands
    // exactly AT it (must be excluded: strict >), 'over' one above
    // (must be included). A double `phi * total` product can round to
    // either side of 500.0; the integer-rational comparison cannot.
    val boundary = spark.range(10000).select(
      when(col("id") < 500, lit("edge"))
        .when(col("id") < 1001, lit("over"))
        .otherwise(concat(lit("l_"), pmod(col("id"), lit(200)))).as("item"))
    for (parts <- Seq(1, 32)) {
      val got = Skew.heavyHittersExact(boundary.repartition(parts), "item",
        phi = 0.05).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == Seq(("over", 501L, 0.0501)),
        s"parts=$parts: boundary verdict wrong: $got")
    }
    // a phi whose shortest decimal is long (1/3 as a double) still
    // builds an exact rational and keeps the strict-> semantics
    val third = Skew.heavyHittersExact(boundary, "item", phi = 1.0 / 3.0)
    assert(third.collect().isEmpty)
  }

  test("misra-gries summary merges across partitions (serialize path), SQL-callable") {
    // 32 partitions of ~312 rows with k = 19 forces real partial
    // summaries through serialize/deserialize/merge — identical
    // verdict set to the single-partition run is asserted above; here
    // pin the aggregate is also reachable from SQL (the session-
    // extension surface) and arity/type errors surface
    mgItems.createOrReplaceTempView("mg_items")
    graft.functions.Registry.registerOnce(spark)
    val viaSql = spark.sql(
      "SELECT explode(mg_topk(item, 19)) AS e FROM mg_items")
      .select("e.item", "e.est").collect()
    assert(viaSql.nonEmpty && viaSql.length <= 19)
    val err = intercept[Exception](
      spark.sql("SELECT mg_topk(item) FROM mg_items").collect())
    assert(err.getMessage != null)
  }
}
