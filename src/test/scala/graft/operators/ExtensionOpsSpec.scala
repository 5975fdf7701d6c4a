package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Training-data operator semantics on small controlled corpora. */
class ExtensionOpsSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer internals and shuffles"),
    (4L, "el rapido zorro marron salta sobre el perro perezoso en la ribera del rio"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup: min-id keeper with duplicate count") {
    val out = Dedup.exact(corpus, col("text"), col("doc_id"))
      .orderBy("keep_id").collect()
    assert(out.length == 4)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L) // 1 & 5 collapse
  }

  test("minhash LSH finds the near-dup pair and not unrelated docs") {
    val pairs = Dedup.minhashLsh(corpus, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L))) // exact dup certainly caught
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("connected components: transitive closure, min-id labels, convergence") {
    // path graph 1-2-3-4 (diameter 3, several propagation rounds) plus an
    // isolated edge 10-11: transitivity must fuse the path into one cluster
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    // worst case for plain propagation: a 64-node path (diameter 63) must
    // converge well inside 12 rounds — the pointer-halving step compresses
    // label chains geometrically (O(log d)), plain propagation would need 63
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val longCc = Dedup.connectedComponents(path, "a_id", "b_id", maxIters = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(longCc.length == 64 && longCc.forall(_._2 == 0L))
  }

  test("keepDecisions: one keeper per cluster, singletons kept, full-corpus coverage") {
    val pairs = Dedup.minhashLsh(corpus, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
    val out = Dedup.keepDecisions(corpus, "doc_id", pairs)
      .orderBy("doc_id").collect()
    assert(out.length == 5) // every doc gets a verdict, paired or not
    val byId = out.map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(byId(1L) == (1L, true))   // cluster {1,2,5} keeps min id
    assert(byId(2L) == (1L, false))
    assert(byId(5L) == (1L, false))
    assert(byId(3L) == (3L, true))   // singletons keep themselves
    assert(byId(4L) == (4L, true))
  }

  test("duplicateSpans: finds shared runs, merges windows, ignores short/unique text") {
    val docs = Seq(
      // docs 1 and 2 share the 10-token run "a b c d e f g h i j" at
      // different positions; doc 3 shares nothing long enough
      (1L, "a b c d e f g h i j unique tail one"),
      (2L, "prefix two words a b c d e f g h i j"),
      (3L, "a b c d e completely different ending here now"),
      (4L, "short doc")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", n = 8, minDocs = 2)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // 10-token run with n=8 → 3 consecutive windows, merged into ONE span
    assert(spans.toSeq == Seq((1L, 0, 9, 10), (2L, 3, 12, 10)), spans.toSeq.toString)
    // determinism
    val again = Dedup.duplicateSpans(docs, "doc_id", "text", n = 8, minDocs = 2)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(again.sameElements(spans))
    // two disjoint shared runs in one doc stay two spans
    val multi = Seq(
      (1L, "x1 x2 x3 x4 x5 x6 x7 x8 GAP1 GAP2 y1 y2 y3 y4 y5 y6 y7 y8"),
      (2L, "x1 x2 x3 x4 x5 x6 x7 x8 OTHER WORDS HERE NOW"),
      (3L, "y1 y2 y3 y4 y5 y6 y7 y8 SOMETHING ELSE ENTIRELY THERE")
    ).toDF("doc_id", "text")
    val ms = Dedup.duplicateSpans(multi, "doc_id", "text", n = 8, minDocs = 2)
      .filter(col("doc_id") === 1L).orderBy("span_start").collect()
      .map(r => (r.getInt(1), r.getInt(2)))
    assert(ms.toSeq == Seq((0, 7), (10, 17)), ms.toSeq.toString)
  }

  test("duplicateSpans verify=true: equals verify=false on a collision-free corpus") {
    val docs = Seq(
      (1L, "a b c d e f g h i j unique tail one"),
      (2L, "prefix two words a b c d e f g h i j"),
      (3L, "a b c d e completely different ending here now"),
      (4L, "short doc")
    ).toDF("doc_id", "text")
    def spans(verify: Boolean) =
      Dedup.duplicateSpans(docs, "doc_id", "text", n = 8, minDocs = 2, verify = verify)
        .orderBy("doc_id", "span_start").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    assert(spans(verify = true) == spans(verify = false))
    assert(spans(verify = true) == Seq((1L, 0, 9, 10), (2L, 3, 12, 10)))
  }

  test("verifySpanWindows: a planted hash collision is dropped, verbatim windows survive") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 extra"),
      (2L, "w1 w2 w3 w4 other"),
      (3L, "q1 q2 q3 q4 stuff")   // different text, same planted hash below
    ).toDF("doc_id", "text")
    // windows as the frequency filter would flag them IF hash 42 collided:
    // docs 1 and 2 genuinely share the 4-gram at pos 0; doc 3's window has
    // the same hash but different text (the collision being planted — not
    // constructible through the real 64-bit kernel on demand)
    val windows = Seq((1L, 0, 42L), (2L, 0, 42L), (3L, 0, 42L))
      .toDF("doc_id", "pos", "h")
    val ok = Dedup.verifySpanWindows(docs, "doc_id", "text", windows, n = 4, minDocs = 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(ok.toSeq == Seq((1L, 0), (2L, 0)), ok.toSeq.toString)
    // and if the collision had split the group below minDocs entirely,
    // nothing survives: docs 2 and 3 "colliding" with different grams
    val split = Seq((2L, 0, 7L), (3L, 0, 7L)).toDF("doc_id", "pos", "h")
    assert(Dedup.verifySpanWindows(docs, "doc_id", "text", split, n = 4, minDocs = 2)
      .count() == 0)
    // out-of-range planted window → null gram → dropped, not crashed
    val oob = Seq((1L, 99, 42L), (2L, 99, 42L)).toDF("doc_id", "pos", "h")
    assert(Dedup.verifySpanWindows(docs, "doc_id", "text", oob, n = 4, minDocs = 2)
      .count() == 0)
  }

  test("decontaminate: planted benchmark overlap reported with merged spans, clean docs silent") {
    val docs = Seq(
      // doc 1 embeds the benchmark's 9-token prompt mid-document
      (1L, "lead in words the quick brown fox jumps over the lazy dog trailing text"),
      // doc 2 is clean
      (2L, "совершенно unrelated content with no overlap at all whatsoever here"),
      // doc 3 shares a run with benchmark 101 too (prefix position)
      (3L, "the quick brown fox jumps over the lazy dog and then some")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"),
      (102L, "an entirely different benchmark prompt with nothing shared anywhere")
    ).toDF("bench_id", "prompt")
    for (verify <- Seq(false, true)) {
      val out = Dedup.decontaminate(docs, "doc_id", "text",
          bench, "bench_id", "prompt", n = 8, verify = verify)
        .orderBy("doc_id", "benchmark_id", "span_start").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      // 9-token shared run → two n=8 windows, merged into ONE span each
      assert(out.toSeq == Seq((1L, 101L, 3, 11, 9), (3L, 101L, 0, 8, 9)),
        s"verify=$verify: ${out.toSeq}")
    }
  }

  test("semDeDup: cluster-scoped groups, transitive keep-one, cap skips pairing visibly") {
    // ids 1 and 2 are the two lowest — deterministic k-means init puts
    // one centroid in each direction group
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),      // group A representative
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),      // group B representative
      (3L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),   // ~dup of 1
      (4L, Seq(0.996f, 0.02f, 0.0f, 0.0f)),   // ~dup of 3 (and 1) — transitive
      (5L, Seq(0.9f, 0.436f, 0.0f, 0.0f)),    // A-cluster singleton (cos ≈ 0.9)
      (6L, Seq(0.01f, 0.9999f, 0.0f, 0.0f))   // ~dup of 2
    ).toDF("id", "v")
    val out = Dedup.semDeDup(emb, "id", "v", nClusters = 2, minCos = 0.99,
        iters = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // (id, cluster_size, dup_group, keep): {1,3,4} one transitive group
    // keeping 1; {2,6} keeping 2; 5 a kept singleton
    assert(out.toSeq == Seq(
      (1L, 4L, 1L, true), (2L, 2L, 2L, true), (3L, 4L, 1L, false),
      (4L, 4L, 1L, false), (5L, 4L, 5L, true), (6L, 2L, 2L, false)),
      out.toSeq.toString)
    // cap: the size-4 cluster exceeds maxCluster=2 and is RECURSIVELY
    // re-clustered with a finer quantizer until its leaves fit — the
    // planted dup pair that lands in one leaf (3~4) is caught where the
    // pre-recursion cap skipped the whole cluster; the 1~3 edge crosses
    // a leaf boundary and is missed (the documented bounded recall
    // tradeoff — missed dups, never false merges). cluster_size stays
    // the TOP-LEVEL provenance, and every refined row reports paired.
    val capped = Dedup.semDeDup(emb, "id", "v", nClusters = 2, minCos = 0.99,
        iters = 2, maxCluster = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4), r.getBoolean(5)))
    assert(capped.toSeq == Seq(
      (1L, 4L, true, true), (2L, 2L, true, true), (3L, 4L, true, true),
      (4L, 4L, false, true), (5L, 4L, true, true), (6L, 2L, false, true)),
      capped.toSeq.toString)
    // refineDepth=0 restores the hard skip: the oversize cluster's rows
    // all keep and are flagged paired=false (the cap is never silent)
    val skipped = Dedup.semDeDup(emb, "id", "v", nClusters = 2, minCos = 0.99,
        iters = 2, maxCluster = 2, refineDepth = 0)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4), r.getBoolean(5)))
    assert(skipped.toSeq == Seq(
      (1L, 4L, true, false), (2L, 2L, true, true), (3L, 4L, true, false),
      (4L, 4L, true, false), (5L, 4L, true, false), (6L, 2L, false, true)),
      skipped.toSeq.toString)
  }

  test("semDeDup recursion: planted identical dups inside an oversize cluster are caught") {
    // ONE dominant semantic cluster (all vectors in the +x hemisphere,
    // well inside any 0.99 gate of each other only where planted) big
    // enough to blow a maxCluster=8 cap, holding three IDENTICAL-vector
    // dup pairs. Identical vectors assign identically under ANY
    // quantizer, so recursion must land each pair in one leaf and catch
    // it — the zero-recall-loss core of the refinement contract. A far
    // -x singleton anchors the second top-level centroid so the fixture
    // clusters deterministically.
    val base = (0 until 24).map { i =>
      // distinct directions ≥ 0.15 rad (8.6°) apart — safely below the
      // 0.99 gate (acos 0.99 ≈ 8.1°), so only the planted EXACT copies
      // form dup edges; the i%5 third component separates the two
      // same-angle rows (i, i+12) well under the gate too
      val a = 0.15 * (i % 12)
      (100L + i, Seq(math.cos(a).toFloat, math.sin(a).toFloat,
        (0.1f * (i % 5)), 0.0f))
    }
    val dups = Seq(0, 5, 11).zipWithIndex.map { case (src, j) =>
      (200L + j, base(src)._2) // exact copies of three base vectors
    }
    val emb = ((-1L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)) +: (base ++ dups))
      .toDF("id", "v")
    val out = Dedup.semDeDup(emb, "id", "v", nClusters = 2, minCos = 0.99,
        iters = 2, maxCluster = 8, refineBranch = 4, refineDepth = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getBoolean(4), r.getBoolean(5))).toSeq
    // the dominant cluster's rows sat ABOVE the cap (top-level
    // provenance proves it), yet every planted copy was caught
    val copies = out.filter(r => r._1 >= 200L)
    assert(copies.size == 3)
    assert(copies.forall(_._2 > 8), s"expected oversize provenance: $copies")
    assert(copies.forall(r => !r._4), s"planted copies must drop: $copies")
    assert(copies.map(_._3).toSet == Set(100L, 105L, 111L),
      s"dup_group must be the original id: $copies")
    // the originals keep, as group representatives
    assert(out.filter(r => Set(100L, 105L, 111L)(r._1)).forall(_._4))
    // recursion terminated under the cap: every row was pairwise-compared
    assert(out.forall(_._5), s"unpaired rows remain: ${out.filterNot(_._5)}")
  }

  test("containmentDecontaminate: exact partial/full ratios, threshold both sides, clean docs silent") {
    // benchmark 201: 5 tokens at n=4 → 2 distinct grams (t1..t4, t2..t5)
    val bench = Seq((201L, "alpha bravo charlie delta echo"),
      (202L, "foxtrot golf hotel india juliet")).toDF("bench_id", "prompt")
    val docs = Seq(
      // doc 1 contains the full benchmark → 2/2 = 1.0, contaminated
      (1L, "noise words alpha bravo charlie delta echo more noise"),
      // doc 2 contains only the first gram → 1/2 = 0.5, NOT contaminated
      (2L, "prefix alpha bravo charlie delta and unrelated tail here"),
      // doc 3 is clean — must not appear at all
      (3L, "nothing shared with any benchmark prompt in this text"),
      // doc 4 matches benchmark 202 fully but case-shifted: gram
      // canonicalization lowercases, so it still counts
      (4L, "FOXTROT GOLF hotel india JULIET plus extra")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentDecontaminate(docs, "doc_id", "text",
        bench, "bench_id", "prompt", n = 4, minRatio = 0.8)
      .orderBy("doc_id", "benchmark_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(out.toSeq == Seq(
      (1L, 201L, 2L, 2L, 1.0, true),
      (2L, 201L, 1L, 2L, 0.5, false),
      (4L, 202L, 2L, 2L, 1.0, true)), out.toSeq.toString)
    // a benchmark shorter than n has no grams and never pairs
    val shortBench = Seq((301L, "too short")).toDF("bench_id", "prompt")
    assert(Dedup.containmentDecontaminate(docs, "doc_id", "text",
      shortBench, "bench_id", "prompt", n = 4).count() == 0)
  }

  test("keepDecisions edge cases: clean corpus (no pairs), pairs from a superset of docs") {
    // a clean corpus produces ZERO pairs — must converge to all-keep, not NPE
    val noPairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val clean = Dedup.keepDecisions(corpus, "doc_id", noPairs).collect()
    assert(clean.length == 5 && clean.forall(_.getBoolean(2)))
    // pairs computed over a superset: doc 1 (the cluster's global min) was
    // filtered out of docs — the surviving member must still be kept
    val pairs = Seq((1L, 5L)).toDF("a_id", "b_id")
    val filtered = Dedup.keepDecisions(corpus.filter(col("doc_id") =!= 1L), "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(filtered(5L), "cluster lost all keepers when its min id left the corpus")
  }

  test("incremental LSH: re-ingested id (in seen AND incoming) emits each pair once") {
    val seen = corpus.filter(col("doc_id").isin(1L, 3L))
    // doc 1 re-arrives in the increment (replay) alongside its exact dup 5
    val incoming = corpus.filter(col("doc_id").isin(1L, 5L))
    val out = Dedup.minhashLshIncremental(seen, incoming, "doc_id", "text",
      3, 32, 8, 0.5).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == out.distinct.length, s"duplicate pair rows: ${out.toSeq}")
    assert(out.contains((1L, 5L)))
  }

  test("pq_adc kernel: out-of-range codes contribute zero instead of crashing") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val lut = new GenericArrayData(Array(1.0, 2.0, 3.0, 4.0))
    val good = new GenericArrayData(Array(1, 1))
    assert(graft.functions.TextVectorKernels.pqAdc(good, lut, 2) == 2.0 + 4.0)
    val bad = new GenericArrayData(Array(-5, 99))
    assert(graft.functions.TextVectorKernels.pqAdc(bad, lut, 2) == 0.0)
  }

  test("streaming dedup: arrival-split pair union equals the one-shot batch run") {
    val base = java.nio.file.Files.createTempDirectory("dedupstream").toString
    val src = s"$base/src"
    new java.io.File(src).mkdirs()
    val schema = corpus.schema
    // the file stream source lists plain files, not nested directories —
    // land each arrival as a single flat parquet file
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("arrival").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$src/$name"))
    }
    // two arrival files: docs {1,3} then {2,4,5}
    land(corpus.filter(col("doc_id").isin(1L, 3L)), "f1.parquet")
    val q = Dedup.streamingMinhashDedup(spark, src, schema,
      s"$base/state", s"$base/pairs", s"$base/ckpt", "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
    try {
      q.processAllAvailable()
      land(corpus.filter(col("doc_id").isin(2L, 4L, 5L)), "f2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$base/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.minhashLsh(corpus, "doc_id", "text", 3, 32, 8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    // state accumulated every doc exactly once — and the persisted
    // band-bucket index carries exactly `bands` rows per doc, matching
    // what bandBuckets would re-derive from the signatures
    assert(spark.read.parquet(s"$base/state/sigs").count() == 5)
    assert(spark.read.parquet(s"$base/state/buckets").count() == 5 * 8)
  }

  test("dedup state probe: band scan partition-pruned to the increment's bb set") {
    val stateDir = java.nio.file.Files.createTempDirectory("dedupstate").toString
    def sigsOf(ids: Long*) = Dedup.minhashSigs(
      corpus.filter(col("doc_id").isin(ids.map(Long.box): _*)),
      "doc_id", "text", 3, 32).dropDuplicates("id").persist()
    val s1 = sigsOf(1L, 3L); val b1 = Dedup.bandBuckets(s1, 32, 8).persist()
    Dedup.growState(spark, s1, b1, stateDir, nStateBuckets = 16)
    s1.unpersist(); b1.unpersist()

    val s2 = sigsOf(2L, 4L, 5L); val b2 = Dedup.bandBuckets(s2, 32, 8).persist()
    val pairsDf = Dedup.statePairsPlan(spark, s2, b2, stateDir,
      numHashes = 32, minJaccard = 0.5, nStateBuckets = 16)
    val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // parity with the one-shot incremental API over the same split
    val expected = Dedup.minhashLshIncremental(
      corpus.filter(col("doc_id").isin(1L, 3L)),
      corpus.filter(col("doc_id").isin(2L, 4L, 5L)),
      "doc_id", "text", 3, 32, 8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == expected, s"pruned probe pairs=$pairs expected=$expected")

    // the stored band index must be read through a literal bb partition
    // filter — the scan that keeps the probe O(touched buckets), not
    // O(store) (a full-scan probe is the 100 TB killer this layout exists
    // to prevent)
    val plan = pairsDf.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters: [")).toSeq
    assert(pf.exists(l => l.contains("bb") && l.contains(" IN (")),
      s"bb set not pushed as a partition filter on the state scan:\n$plan")
    s2.unpersist(); b2.unpersist()

    // growState replay: re-growing with the same increment appends nothing
    Dedup.growState(spark, s2, b2, stateDir, nStateBuckets = 16)
    Dedup.growState(spark, s2, b2, stateDir, nStateBuckets = 16)
    assert(spark.read.parquet(s"$stateDir/sigs").count() == 5)
    assert(spark.read.parquet(s"$stateDir/buckets").count() == 5 * 8)
    // crash window: buckets committed, sigs lost — replay restores the
    // sig row without duplicating bucket rows
    val sigsPath = new java.io.File(s"$stateDir/sigs")
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec); f.delete()
    }
    deleteRec(sigsPath)
    val s3 = sigsOf(1L, 2L, 3L, 4L, 5L)
    val b3 = Dedup.bandBuckets(s3, 32, 8).persist()
    Dedup.growState(spark, s3, b3, stateDir, nStateBuckets = 16)
    assert(spark.read.parquet(s"$stateDir/sigs").count() == 5)
    assert(spark.read.parquet(s"$stateDir/buckets").count() == 5 * 8,
      "bucket rows duplicated on sig-loss replay")
    s3.unpersist(); b3.unpersist()
  }

  test("dedup state: legacy flat (unpartitioned) layout is refused loudly") {
    // a pre-partitioning store read against the sb/bb schema surfaces
    // every stored row with a null partition column — invisible to the
    // isin-pruned probe (silently missed duplicates). The reader must
    // fail with a migration message instead (ADVICE r9).
    val stateDir = java.nio.file.Files.createTempDirectory("legacystate").toString
    val s1 = Dedup.minhashSigs(corpus.filter(col("doc_id").isin(1L, 3L)),
      "doc_id", "text", 3, 32).dropDuplicates("id").persist()
    val b1 = Dedup.bandBuckets(s1, 32, 8).persist()
    // simulate the legacy writer: flat parquet, no sb=/bb= directories
    s1.write.parquet(s"$stateDir/sigs")
    b1.write.parquet(s"$stateDir/buckets")
    val e = intercept[IllegalStateException] {
      Dedup.statePairsPlan(spark, s1, b1, stateDir,
        numHashes = 32, minJaccard = 0.5, nStateBuckets = 16)
    }
    assert(e.getMessage.contains("legacy FLAT layout"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      Dedup.growState(spark, s1, b1, stateDir, nStateBuckets = 16)
    }
    assert(e2.getMessage.contains("legacy FLAT layout"), e2.getMessage)
    s1.unpersist(); b1.unpersist()
  }

  test("dsirScore: target-domain docs score positive, off-domain negative, length-robust") {
    // two disjoint vocabularies: "medical" target vs "legal" background
    val docs = Seq(
      (1L, "dose patient trial dose symptom patient"),
      (2L, "patient dose trial symptom"),
      (3L, "court clause verdict appeal court clause"),
      (4L, "clause verdict appeal court"),
      (5L, "dose patient court clause") // mixed: should sit between
    ).toDF("doc_id", "text")
    val scored = Terms.dsirScore(docs, "doc_id", "text",
      col("doc_id") <= 2, alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(1) > 0 && scored(2) > 0, s"target docs must score > 0: $scored")
    assert(scored(3) < 0 && scored(4) < 0, s"off-domain docs must score < 0: $scored")
    assert(scored(5) > scored(3) && scored(5) < scored(1),
      s"mixed doc sits between: $scored")
    // per-token normalization: repeating a doc's text doesn't move its score
    val doubled = Seq((9L, "dose patient trial symptom dose patient trial symptom"))
      .toDF("doc_id", "text")
    val s2 = Terms.dsirScore(docs.unionByName(doubled), "doc_id", "text",
      col("doc_id") <= 2, alpha = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(s2(9) - s2(2)) < 0.01,
      s"length-doubled same-distribution doc scores equal: $s2")
  }

  test("bigramLogprob: scrambled word order scores worse; unigram model can't tell") {
    // docs 1-3 share natural phrasing; doc 4 is doc 1's tokens SHUFFLED —
    // identical unigram distribution, broken bigrams
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the mat"),
      (3L, "the cat ran on the mat"),
      (4L, "mat the on sat cat the")
    ).toDF("doc_id", "text")
    val bi = Terms.bigramLogprob(docs, "doc_id", "text", lambda = 0.9)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bi(4) > bi(1), s"scrambled doc must score worse under bigrams: $bi")
    val uniScores = Terms.unigramLogprob(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uniScores(4) == uniScores(1),
      s"unigram model is order-blind (the gap x52 closes): $uniScores")
    // single-token doc has no bigrams and drops (documented contract)
    val tiny = Seq((9L, "word")).toDF("doc_id", "text")
    assert(Terms.bigramLogprob(docs.unionByName(tiny), "doc_id", "text")
      .filter(col("doc_id") === 9L).isEmpty)
  }

  test("trigramKnLogprob: scrambled trigrams score worse; short docs drop; partition-invariant") {
    // docs 1-3 share natural phrasing; doc 4 scrambles doc 1 so most of
    // its trigram contexts are singletons — the interpolated-KN score
    // must penalize it past the natural docs
    val docs = Seq(
      (1L, "the cat sat on the mat in the house"),
      (2L, "the dog sat on the mat in the house"),
      (3L, "the cat ran on the mat in the barn"),
      (4L, "house the in mat sat the on cat the")
    ).toDF("doc_id", "text")
    val kn = Terms.trigramKnLogprob(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(kn(4) > kn(1), s"scrambled doc must score worse under KN trigrams: $kn")
    // a two-token doc has no trigrams and drops (documented contract)
    val tiny = Seq((9L, "two words")).toDF("doc_id", "text")
    assert(Terms.trigramKnLogprob(docs.unionByName(tiny), "doc_id", "text")
      .filter(col("doc_id") === 9L).isEmpty)
    // exact counts + pure-double scoring => bit-identical at any layout
    val rep = Terms.trigramKnLogprob(docs.repartition(13), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(rep == kn, "score drifted under repartition")
    intercept[IllegalArgumentException](
      Terms.trigramKnLogprob(docs, "doc_id", "text", discount = 1.5))
  }

  test("KN model lifecycle: save->load->score(self) == trigramKnLogprob; held-out backoff finite, OOV at the floor") {
    val docs = Seq(
      (1L, "the cat sat on the mat in the house"),
      (2L, "the dog sat on the mat in the house"),
      (3L, "the cat ran on the mat in the barn")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("kn_model").toString
    Terms.saveTrigramKn(Terms.trainTrigramKn(docs, "doc_id", "text"), dir)
    val reloaded = Terms.loadTrigramKn(spark, dir)
    assert(reloaded.discount == 0.75) // the discount rode the store
    val viaStore = Terms.scoreTrigramKn(reloaded, docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val direct = Terms.trigramKnLogprob(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaStore == direct, "persisted model drifted from self-trained")
    // held-out: unseen trigrams/contexts back off, never NaN/zero-out;
    // a wholly-OOV doc lands at the uniform floor — the WORST score
    val held = Seq(
      (10L, "the dog ran on the mat in the barn"), // unseen trigram mix
      (11L, "zz qq vv ww rr")                      // fully OOV
    ).toDF("doc_id", "text")
    val s = Terms.scoreTrigramKn(reloaded, held, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s.size == 2 && s.values.forall(v => v > 0 && !v.isNaN), s.toString)
    assert(s(11L) > s(10L), s"OOV doc must score worst: $s")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("incremental LSH: increment-vs-seen and increment-vs-increment, never seen-vs-seen") {
    // seen: 1 (and unrelated 3); incoming: 2 (near-dup of seen 1), 5 and
    // 6 (exact dups of seen 1 and of each other)
    val seen = corpus.filter(col("doc_id").isin(1L, 3L))
    val incoming = corpus.filter(col("doc_id").isin(2L, 5L))
      .unionByName(Seq((6L,
        "the quick brown fox jumps over the lazy dog near the river bank today"))
        .toDF("doc_id", "text"))
    val pairs = Dedup.minhashLshIncremental(seen, incoming, "doc_id", "text",
      shingleN = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // incoming vs seen
    assert(pairs.contains((1L, 5L)))
    assert(pairs.contains((5L, 6L))) // incoming vs incoming
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // batch parity: the incremental run finds every pair the full batch
    // run finds that involves at least one incoming doc
    val batch = Dedup.minhashLsh(corpus.unionByName(incoming.filter(col("doc_id") === 6L)),
      "doc_id", "text", shingleN = 3, numHashes = 32, bands = 8, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incIds = Set(2L, 5L, 6L)
    assert(batch.filter(p => incIds(p._1) || incIds(p._2)) == pairs)
  }

  test("chunk: overlapping windows, short tail, empty-doc safety") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "only three tokens"),
      (3L, "   "),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = TextOps.chunk(docs, "doc_id", "text", chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    // doc 1: starts 0,3,6,9 → windows of 4,4,4,1 tokens
    assert(out.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0, "t0 t1 t2 t3", 4), (1L, 1, "t3 t4 t5 t6", 4),
      (1L, 2, "t6 t7 t8 t9", 4), (1L, 3, "t9", 1)))
    // doc 2: one window, shorter than chunkSize
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, "only three tokens", 3)))
    // whitespace-only and empty docs emit nothing
    assert(!out.exists(r => r._1 == 3L || r._1 == 4L))
  }

  test("splitAssign: deterministic, exhaustive, weight-proportional") {
    val ids = (0L until 2000L).toDF("doc_id")
    val out = ids.select(col("doc_id"), TextOps.splitAssign(col("doc_id")).as("split"))
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train") > 1500 && counts("train") < 1700) // ~80% of 2000
    assert(counts("val") + counts("test") == 2000 - counts("train"))
    // stable under corpus growth: the same id keeps its split
    val first = out.filter(col("doc_id") < 100).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val grown = (0L until 4000L).toDF("doc_id")
      .select(col("doc_id"), TextOps.splitAssign(col("doc_id")).as("split"))
      .filter(col("doc_id") < 100).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == grown)
  }

  test("simhash: identical docs at hamming 0; near-dups within 3; unrelated far") {
    val sigs = corpus.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(5L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 6)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 10)
    val dups = Dedup.simhashDups(corpus, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((1L, 5L)))
  }

  test("sig_agreement kernel: identical, disjoint, partial, ragged") {
    val df = Seq(
      (Array(1L, 2L, 3L, 4L), Array(1L, 2L, 3L, 4L), 4),
      (Array(1L, 2L, 3L, 4L), Array(5L, 6L, 7L, 8L), 0),
      (Array(1L, 2L, 3L, 4L), Array(1L, 9L, 3L, 9L), 2),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L, 4L), 3) // common-prefix compare
    ).toDF("a", "b", "expect")
    val bad = df.select(
      graft.functions.TextVectorExpressions.sig_agreement(col("a"), col("b")).as("got"),
      col("expect")).filter(col("got") =!= col("expect")).count()
    assert(bad == 0)
  }

  test("minhash estimate tracks exact jaccard within sampling error") {
    val est = Dedup.minhashLsh(corpus, "doc_id", "text",
      shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Dedup.ngramJaccardDups(corpus, "doc_id", "text",
      shingleN = 3, minJaccard = 0.1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(est.nonEmpty)
    exact.foreach { case (pair, j) =>
      est.get(pair).foreach { e =>
        // 64 hashes → stderr ≈ sqrt(j(1-j)/64) ≤ 0.063; allow 4σ
        assert(math.abs(e - j) < 0.26, s"$pair est=$e exact=$j")
      }
    }
    // false-positive direction: a confidently-high estimate must have a
    // real exact counterpart (guards against a broken hash mix inflating
    // agreement between unrelated docs)
    est.filter(_._2 >= 0.35).keys.foreach { pair =>
      assert(exact.contains(pair), s"est-only pair $pair at ${est(pair)}")
    }
    assert(est.contains((1L, 5L)) && est((1L, 5L)) == 1.0)
  }

  test("declarative shingles agree with the ShingleHashes kernel on set size") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "one two", "single", "",
      // exotic Unicode whitespace (U+2028 line sep, U+00A0 nbsp): the
      // kernel must tokenize with the SAME \s set as the declarative
      // split — Character.isWhitespace would split on U+2028 and diverge
      "alpha\u2028beta gamma", "nbsp\u00A0stays one-token here"
    ).toDF("text")
    val out = df.select(
      size(array_distinct(TextOps.shingles(col("text"), 3))).as("decl"),
      size(graft.functions.TextVectorExpressions.shingle_hashes(col("text"), 3)).as("kern"))
      .collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("ngram jaccard verification bounds the LSH estimate") {
    val out = Dedup.ngramJaccardDups(corpus, "doc_id", "text",
      shingleN = 3, minJaccard = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 5L)) == 1.0)
    assert(out((1L, 2L)) > 0.7 && out((1L, 2L)) < 1.0)
    assert(!out.contains((1L, 3L)))
  }

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.999f, 0.01f, 0.0f, 0.0f)), // near-dup of 1
    (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (5L, Array(0.7f, 0.7f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine + embedding near-dup LSH") {
    val cos = vecs.filter(col("vec_id") === 1).crossJoin(
      vecs.filter(col("vec_id") === 3).select(col("embedding").as("other")))
      .select(Similarity.cosine(col("embedding"), col("other"))).head().getDouble(0)
    assert(math.abs(cos) < 1e-9)
    val dups = Dedup.embeddingDups(vecs, "vec_id", "embedding", minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups == Set((1L, 2L)))
  }

  test("brute-force topk ranks by cosine with deterministic tiebreak") {
    val out = Similarity.bruteForceTopK(
      vecs.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
      vecs.filter(col("vec_id") === 1)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      "c_id", "c_vec", "q_id", "q_vec", k = 2).orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 5L))
  }

  test("LSH topk returns the planted near-neighbor for near-dup vectors") {
    val out = Similarity.lshTopK(
      vecs.select(col("vec_id").as("c_id"), col("embedding").as("c_vec")),
      vecs.filter(col("vec_id") === 1)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      "c_id", "c_vec", "q_id", "q_vec", k = 2, planes = 8).collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).contains(2L))
  }

  test("IVF: index assigns every vector; probe search finds the near-dup") {
    val corpus = vecs.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val index = Similarity.buildIvf(corpus, "c_id", "c_vec", k = 2, iters = 2)
    assert(index.assigned.count() == 5)
    assert(index.centroids.length == 2)
    val out = Similarity.ivfTopK(index,
      vecs.filter(col("vec_id") === 1)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
      "c_id", "c_vec", "q_id", "q_vec", k = 2, nprobe = 2).collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).contains(2L))
  }

  test("IVF recall@5 vs brute force stays above 0.7 on real testdata") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5))
    val index = Similarity.buildIvf(corpus, "c_id", "c_vec", 16, 2)
    val ivf = pairs(Similarity.ivfTopK(index, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, 4))
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.7, f"ivf recall@5 = $recall%.3f") // measured 0.82; deterministic
  }

  test("PQ: codes in range, deterministic, ADC recall@5 vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val model = Similarity.buildPq(corpus, "c_id", "c_vec", m = 16, k = 16, iters = 2)
    assert(model.codebooks.length == 16 * 16)
    val codes = model.encoded.select("codes").collect()
      .map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 16 && c.forall(j => j >= 0 && j < 16)))
    // deterministic rebuild: identical codebooks bit for bit
    val model2 = Similarity.buildPq(corpus, "c_id", "c_vec", m = 16, k = 16, iters = 2)
    assert(model.codebooks.zip(model2.codebooks).forall { case (a, b) => a.sameElements(b) })
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5))
    // pure ADC finds a plurality; ADC-shortlist + exact rerank recovers
    // nearly all of brute force at O(queries x rerank) exact work
    val adc = pairs(Similarity.pqTopK(model, corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5))
    assert((brute & adc).size.toDouble / brute.size >= 0.3,
      f"adc-only recall@5 = ${(brute & adc).size.toDouble / brute.size}%.3f")
    val rr = pairs(Similarity.pqTopK(model, corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, rerank = 50))
    val recall = (brute & rr).size.toDouble / brute.size
    assert(recall >= 0.85, f"pq+rerank recall@5 = $recall%.3f") // measured 0.92; deterministic
  }

  test("SQ8: codes in range, deterministic, near-lossless recall@5 vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val model = Similarity.buildSq8(corpus, "c_id", "c_vec")
    assert(model.mins.length == model.scales.length)
    assert(model.scales.forall(_ >= 0))
    val codes = model.encoded.select("codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == model.mins.length &&
      c.forall(j => j >= 0 && j <= 255)))
    // deterministic rebuild (min/max are exact): identical model
    val model2 = Similarity.buildSq8(corpus.repartition(7), "c_id", "c_vec")
    assert(model.mins.sameElements(model2.mins) &&
      model.scales.sameElements(model2.scales))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5))
    val sq8 = pairs(Similarity.sq8TopK(model, queries, "q_id", "q_vec", 5))
    val recall = (brute & sq8).size.toDouble / brute.size
    // 8 bits/dim is near-lossless — far above PQ's ADC-only plurality
    assert(recall >= 0.9, f"sq8 recall@5 = $recall%.3f")
  }

  test("IVF-SQ8: full probe equals flat SQ8 exactly; pruned probe holds the recall floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val ivf = Similarity.buildIvf(corpus, "c_id", "c_vec", k = 16, iters = 2)
    val model = Similarity.buildSq8(corpus, "c_id", "c_vec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    // probing EVERY list = the exhaustive candidate set = flat SQ8, exactly
    val full = rows(Similarity.ivfSq8TopK(ivf, model, corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", k = 5,
      minProbe = 16, maxProbe = 16, margin = 0.0))
    assert(full == rows(Similarity.sq8TopK(model, queries, "q_id", "q_vec", 5)))
    // pruned probes + rerank hold the recall floor vs brute force
    def pairs(s: Seq[(Long, Long, Double, Int)]) = s.map(r => (r._1, r._2)).toSet
    val brute = pairs(rows(Similarity.bruteForceTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5)))
    val pruned = pairs(rows(Similarity.ivfSq8TopK(ivf, model, corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", k = 5, rerank = 50)))
    val recall = (brute & pruned).size.toDouble / brute.size
    assert(recall >= 0.85, f"ivf-sq8 recall@5 = $recall%.3f")
  }

  test("matryoshka: prefix-only scan + full rerank recovers brute-force recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5))
    // prefix-only on NON-MRL synthetic vectors is lossy by construction…
    val coarse = pairs(Similarity.matryoshkaTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", dPrefix = 32, k = 5))
    val coarseRecall = (brute & coarse).size.toDouble / brute.size
    // …and the full-vector rerank of a 10x shortlist absorbs the loss
    val rr = pairs(Similarity.matryoshkaTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", dPrefix = 32, k = 5, rerank = 100))
    val recall = (brute & rr).size.toDouble / brute.size
    assert(recall >= 0.8 && recall >= coarseRecall,
      f"matryoshka rerank recall@5 = $recall%.3f (coarse $coarseRecall%.3f)")
    // full-prefix degenerate case equals brute force exactly
    assert(pairs(Similarity.matryoshkaTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", dPrefix = 64, k = 5)) == brute)
  }

  test("IVF-PQ composition: pruned + compressed + reranked search keeps IVF's recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5))
    val ivf = Similarity.buildIvf(corpus, "c_id", "c_vec", 16, 2)
    val pq = Similarity.buildPq(corpus, "c_id", "c_vec", m = 16, k = 16, iters = 2)
    val out = pairs(Similarity.ivfPqTopK(ivf, pq, corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, nprobe = 4, rerank = 50))
    val recall = (brute & out).size.toDouble / brute.size
    // measured 0.82 — the nprobe=4 coarse pruning is the binding
    // constraint (plain IVF is 0.82 too); PQ+rerank loses nothing on top
    assert(recall >= 0.75, f"ivf-pq recall@5 = $recall%.3f")
  }

  test("adaptive nprobe: recall recovers past fixed-nprobe's ceiling at ≤2× scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5))
    val ivf = Similarity.buildIvf(corpus, "c_id", "c_vec", 16, 2)
    val pq = Similarity.buildPq(corpus, "c_id", "c_vec", m = 16, k = 16, iters = 2)

    // scan cost = candidate (query, corpus-row) pairs read from the lists
    def scanned(probes: org.apache.spark.sql.Column): Long =
      ivf.assigned.join(
        broadcast(queries.withColumn("cid", explode(probes))), Seq("cid")).count()
    val fixedScan = scanned(
      graft.functions.TextVectorExpressions.nearest_centroids(
        col("q_vec"), ivf.centroids, 4))
    val adaptScan = scanned(
      graft.functions.TextVectorExpressions.adaptive_nearest_centroids(
        col("q_vec"), ivf.centroids, 4, 12, 0.5))
    assert(adaptScan <= 2 * fixedScan,
      s"adaptive scan $adaptScan vs fixed $fixedScan — budget blown")

    val out = pairs(Similarity.ivfPqTopKAdaptive(ivf, pq, corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, rerank = 50))
    val recall = (brute & out).size.toDouble / brute.size
    // measured 0.91 at 1.4× the fixed-nprobe=4 scan (which is 0.82):
    // queries with a small top-centroid margin fan out to up to 12 lists,
    // unambiguous ones stay at 4 — deterministic, so the floor is tight
    assert(recall >= 0.9, f"adaptive ivf-pq recall@5 = $recall%.3f")

    // an unambiguous-routing corpus must not pay for the margin: every
    // query whose runner-up centroid is >margin below its best keeps
    // exactly minProbe lists, so the probe count equals fixed nprobe=4
    val probeCounts = queries.select(size(
      graft.functions.TextVectorExpressions.adaptive_nearest_centroids(
        col("q_vec"), ivf.centroids, 4, 12, 0.5)).as("n"))
      .collect().map(_.getInt(0))
    assert(probeCounts.forall(n => n >= 4 && n <= 12), probeCounts.toSeq)
    assert(probeCounts.exists(_ > 4),
      "expected at least one ambiguous query to fan out on this corpus")
  }

  test("incremental LSH composes with streaming: per-batch dedup against growing state") {
    // simulate an append-only ingest: three arrival batches of the corpus,
    // each probed only against what arrived before it plus itself
    val batches = Seq(
      corpus.filter(col("doc_id").isin(1L, 3L)),
      corpus.filter(col("doc_id").isin(2L, 4L)),
      corpus.filter(col("doc_id") === 5L))
    var seen = batches.head
    val found = scala.collection.mutable.Set[(Long, Long)]()
    // batch 1 arrives first: in-batch dups only (full batch variant)
    found ++= Dedup.minhashLsh(batches.head, "doc_id", "text",
      3, 32, 8, 0.5).collect().map(r => (r.getLong(0), r.getLong(1)))
    batches.tail.foreach { b =>
      found ++= Dedup.minhashLshIncremental(seen, b, "doc_id", "text",
        3, 32, 8, 0.5).collect().map(r => (r.getLong(0), r.getLong(1)))
      seen = seen.unionByName(b)
    }
    // the streamed union finds exactly what one big batch run finds
    val batch = Dedup.minhashLsh(corpus, "doc_id", "text", 3, 32, 8, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.toSet == batch, s"streamed=$found batch=$batch")
  }

  test("text stats: token counts, punct, empty-string safety") {
    val df = Seq("a b  c", "", "hello, world! x2").toDF("text")
    val out = df.select(
      TextOps.wsTokenCount(col("text")).as("ws"),
      TextOps.bpeTokenCount(col("text")).as("bpe"),
      TextOps.punctCount(col("text")).as("punct")).collect()
    assert(out(0).getInt(0) == 3 && out(0).getInt(1) == 3 && out(0).getInt(2) == 0)
    assert(out(1).getInt(0) == 0 && out(1).getInt(1) == 0)
    assert(out(2).getInt(0) == 3)
    assert(out(2).getInt(1) == 5) // [hello][,][world][!][x2]
  }

  test("pii scan: detects and redacts emails, phones, IPs, SSNs; clean text untouched") {
    val df = Seq(
      "mail me at jane.doe+x@sub.example.co.uk or call 555-123-4567",
      "server 192.168.1.100 and (800) 555-0199 plus +1 212.555.7890",
      "ssn 123-45-6789 but order 123-456-7890 is a phone not an ssn",
      "no pii here, just words and numbers like 1234567890 or 3.14",
      ""
    ).toDF("text")
    val out = df.select(TextOps.piiScan(col("text")).as("p"))
      .select("p.n_email", "p.n_phone", "p.n_ip", "p.n_ssn", "p.redacted")
      .collect()
    assert(out(0).getInt(0) == 1 && out(0).getInt(1) == 1)
    assert(out(0).getString(4) == "mail me at <EMAIL> or call <PHONE>")
    assert(out(1).getInt(2) == 1 && out(1).getInt(1) == 2)
    assert(out(1).getString(4) == "server <IP> and <PHONE> plus <PHONE>")
    assert(out(2).getInt(3) == 1 && out(2).getInt(1) == 1)
    assert(out(2).getString(4) == "ssn <SSN> but order <PHONE> is a phone not an ssn")
    // bare digit runs and decimals are NOT pii — false-positive guard
    assert(out(3).toSeq.take(4) == Seq(0, 0, 0, 0) &&
      out(3).getString(4) == "no pii here, just words and numbers like 1234567890 or 3.14")
    assert(out(4).toSeq.take(4) == Seq(0, 0, 0, 0) && out(4).getString(4) == "")
    // an IP inside an email-like local@host stays an IP (email needs an
    // alpha TLD), and the counts reflect the same sequential passes the
    // redaction applied — no double counting
    val tricky = Seq("ping admin@192.168.0.1 now").toDF("text")
      .select(TextOps.piiScan(col("text")).as("p"))
      .select("p.n_email", "p.n_ip", "p.redacted").collect()(0)
    assert(tricky.getInt(0) == 0 && tricky.getInt(1) == 1 &&
      tricky.getString(2) == "ping admin@<IP> now")
  }

  test("repetition stats: duplicate lines, repeated n-grams, clean-text floors") {
    val boiler = "nav | home | shop\nnav | home | shop\nreal payload sentence here\nnav | home | shop"
    val phrase = "click here to subscribe " * 6 // 24 tokens, one repeated 4-gram run
    val clean = "every word in this sentence differs from all neighbours entirely"
    val df = Seq(boiler, phrase, clean, "", "one").toDF("text")
    val out = df.select(TextOps.repetitionStats(col("text")).as("r"))
      .select("r.n_lines", "r.dup_line_frac", "r.dup_line_char_frac",
        "r.top_2gram_char_frac", "r.dup_5gram_char_frac").collect()

    // boilerplate: 4 lines, 2 non-first duplicates of "nav | home | shop"
    assert(out(0).getInt(0) == 4)
    assert(math.abs(out(0).getDouble(1) - 0.5) < 1e-12)
    assert(out(0).getDouble(2) > 0.4 && out(0).getDouble(2) < 0.7)

    // repeated phrase: every 5-gram occurs more than once → full coverage,
    // and the top 2-gram covers a large share
    assert(out(1).getInt(0) == 1 && out(1).getDouble(1) == 0.0)
    assert(out(1).getDouble(4) == 1.0)
    assert(out(1).getDouble(3) > 0.4)

    // clean text: no duplicate lines/5-grams, and no REPEATED 2-gram →
    // the top-2gram arm is 0 (a count-1 "top" gram is not repetition)
    assert(out(2).getDouble(1) == 0.0 && out(2).getDouble(4) == 0.0)
    assert(out(2).getDouble(3) == 0.0)

    // degenerate inputs: empty and sub-n-gram docs are all-zero, not NaN
    assert(out(3).getInt(0) == 0 && (1 to 4).forall(out(3).getDouble(_) == 0.0))
    assert(out(4).getInt(0) == 1 && (1 to 4).forall(out(4).getDouble(_) == 0.0))

    // DataFrame gate: planted boilerplate trips the verdict, clean doesn't
    val prof = TextOps.repetitionProfile(
      Seq((1L, boiler), (2L, clean)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(prof(0).getAs[Boolean]("repetitive"))
    assert(!prof(1).getAs[Boolean]("repetitive"))
  }

  test("mixSample: deterministic, growth-stable, rate-proportional, allowlist-only") {
    val docs = (0L until 4000L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1, "src3" -> 0.0)
    val kept = TextOps.mixSample(docs, "doc_id", "source", rates)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // deterministic across runs
    val kept2 = TextOps.mixSample(docs, "doc_id", "source", rates)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.sorted.sameElements(kept2.sorted))
    // per-source proportions near the target (1000 docs/source)
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc("src0") == 1000)
    assert(math.abs(bySrc("src1") - 500) < 60, bySrc)
    assert(math.abs(bySrc("src2") - 100) < 35, bySrc)
    assert(!bySrc.contains("src3")) // rate 0
    // unlisted source dropped entirely
    val extra = Seq((99999L, "srcX")).toDF("doc_id", "source")
    assert(TextOps.mixSample(extra, "doc_id", "source", rates).count() == 0)
    // growth-stable: decisions on the original ids are unchanged when the
    // corpus doubles (the rand()-sampling failure mode this op exists to avoid)
    val grown = (0L until 8000L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val grownKept = TextOps.mixSample(grown, "doc_id", "source", rates)
      .filter(col("doc_id") < 4000).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(grownKept.sorted.sameElements(kept.sorted))
    // independent of the split hash: the kept set is not just "train" docs
    val splits = TextOps.mixSample(docs, "doc_id", "source", rates)
      .select(TextOps.splitAssign(col("doc_id")).as("s")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(splits == Set("train", "val", "test"), splits)
  }

  test("approx_percentile tracks exact percentiles within its accuracy bound") {
    // the 100 TB route for x33: approx_percentile is a mergeable sketch
    // (partial-aggregates per partition) with a deterministic rank-error
    // bound of n/accuracy rows; at accuracy=10000 on ~2k-row groups the
    // estimate must land within one value-neighborhood of exact
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    val joined = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.95)").as("exact"),
        expr("approx_percentile(value, 0.95, 10000)").as("approx"),
        expr("percentile(value, 0.93)").as("lo"),
        expr("percentile(value, 0.97)").as("hi"))
      .collect()
    joined.foreach { r =>
      val (a, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(a >= lo && a <= hi,
        s"${r.getString(0)}: approx p95 $a outside exact [p93=$lo, p97=$hi]")
    }
  }

  test("x33b's approx_percentile estimates are parallelism-stable (frozen-oracle precondition)") {
    // the frozen VALUES oracle for x33b assumes the estimate is a pure
    // function of the data. QuantileSummaries merges are order-sensitive
    // in general, BUT at accuracy=10000 >> group sizes (~2k at the verify
    // SF) no compression triggers and the query returns the exact rank
    // value — deterministic at any parallelism. This guard turns that
    // precondition into a failing test if the data outgrows the accuracy
    // budget or Spark's sketch changes.
    val ev = spark.read.option("mergeSchema", "false")
      .parquet("/root/testdata/sf0.01/events.parquet")
    def estimates(df: org.apache.spark.sql.DataFrame) = df.groupBy("event_type")
      .agg(expr("approx_percentile(value, 0.5, 10000)").as("p50"),
        expr("approx_percentile(value, 0.95, 10000)").as("p95"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sorted.toSeq
    assert(estimates(ev.repartition(32)) == estimates(ev.repartition(1)))
  }

  test("profileApprox: sketch distinct within 5% of exact, other stats identical") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val exact = graft.catalog.Profile.profile(docs, cols).collect()
      .map(r => r.getString(0) -> r).toMap
    val approx = graft.catalog.Profile.profileApprox(docs, cols).collect()
      .map(r => r.getString(0) -> r).toMap
    cols.foreach { c =>
      val (e, a) = (exact(c), approx(c))
      // nulls/min/max run the same exact aggregates — byte-identical
      assert(a.getLong(1) == e.getLong(1), s"$c nulls")
      assert(a.getString(3) == e.getString(3) && a.getString(4) == e.getString(4),
        s"$c min/max")
      val (en, an) = (e.getLong(2), a.getLong(2))
      // rsd=0.05 with an absolute-1 floor: at tiny cardinalities (the
      // 20-distinct source column) a single-count wobble is within the
      // sketch's contract but trips a pure relative bound
      assert(math.abs(an - en) <= math.max(1L, math.round(0.05 * en)),
        s"$c: approx distinct $an vs exact $en")
    }
  }

  test("profile survives column names with dots and backticks") {
    // the aggregate aliases are positional, and input refs are
    // backtick-quoted — a name like "a.b" must profile the COLUMN, not
    // parse as struct-field access
    val df = spark.range(5).toDF("id")
      .withColumn("a.b", col("id") * 2)
      .withColumn("we`ird", col("id").cast("string"))
    val out = graft.catalog.Profile.profile(df, Seq("a.b", "we`ird"))
      .orderBy("column").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a.b", "we`ird"))
    assert(out.forall(_.getLong(2) == 5L), out.mkString("; ")) // 5 distinct each
  }

  test("hll sketch: estimates within 5% of exact; union ≈ sketch-of-union; parallelism-stable") {
    val ev = spark.read.option("mergeSchema", "false")
      .parquet("/root/testdata/sf0.01/events.parquet")
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      val a = approx(t)
      assert(math.abs(a - n).toDouble / n < 0.05, s"$t: approx $a vs exact $n")
    }
    // mergeability: union of per-type sketches tracks the global distinct
    val globalExact = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
    val merged = ev.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))).head().getLong(0)
    assert(math.abs(merged - globalExact).toDouble / globalExact < 0.05,
      s"union estimate $merged vs exact $globalExact")
    // register merge is order-independent: same estimates at 1 partition
    val serial = ev.repartition(1).groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(serial == approx, s"parallelism changed sketch estimates")
  }

  test("langId picks stopword-dominant language; CJK → zh") {
    val df = Seq(
      ("en", "the cat and the dog went to the park in the morning"),
      ("es", "el gato y la casa de los amigos en un lugar del mundo"),
      ("zh", "这是一个中文句子用来测试语言识别功能"),
      ("und", "xyzzy plugh qwerty asdf")).toDF("expected", "text")
    val out = df.select(col("expected"), TextOps.langId(col("text")).as("got")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"expected ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("fingerprint is stable and shingle-minimum based") {
    val df = Seq("the quick brown fox jumps over the lazy dog").toDF("text")
    val a = df.select(TextOps.fingerprint(col("text"))).head().getStruct(0)
    val b = df.select(TextOps.fingerprint(col("text"))).head().getStruct(0)
    assert(a == b)
  }

  test("multimodal: synthetic assets, stubbed decode, metadata pruning") {
    val docs = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val assets = Multimodal.syntheticAssets(docs)
    assert(assets.schema("content").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(assets).collect()
    assert(feats.length == 3)
    assert(feats.forall(_.getSeq[Double](2).length == 16))
    // the fixture's WAV/GFV1/PNG all decode for REAL — no silent stubs
    assert(feats.forall(!_.getBoolean(4)),
      feats.map(r => (r.getLong(0), r.getString(3))).toSeq.toString)
    assert(feats.map(r => (r.getString(1), r.getString(3))).toSet ==
      Set(("audio", "pcm_wav"), ("video", "gfv1"), ("image", "png")))
    val stats = Multimodal.metadataStats(assets).collect()
    assert(stats.map(_.getLong(1)).sum == 3)
  }

  test("multimodal: unknown containers are stub-flagged in-band, filterable by gates") {
    // a fake MP4 (ftyp box header + noise) and a fake MP3 (ID3 header):
    // containers this build can't demux. Pre-round-11 these produced
    // plausible-looking fake vectors indistinguishable from real
    // features; now every row says what decoded it.
    val mp4 = ("    ftypisom".getBytes("ISO-8859-1") ++
      Array.tabulate(64)(i => (i * 7 + 3).toByte))
    val mp3 = ("ID3 ".getBytes("ISO-8859-1") ++
      Array.tabulate(64)(i => (i * 13 + 1).toByte))
    val assets = Seq(
      (1L, "video", mp4), (2L, "audio", mp3),
      (3L, "image", Array.tabulate(32)(_.toByte)) // not a decodable image
    ).toDF("asset_id", "media_type", "content")
    val out = Multimodal.extractFeatures(assets)
      .orderBy("asset_id").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getBoolean(4)))
    assert(out.toSeq == Seq((1L, "stub", true), (2L, "stub", true),
      (3L, "undecodable", true)), out.toSeq.toString)
    // the gate contract: filtering on is_stub drops exactly the fakes
    val mixed = Multimodal.syntheticAssets(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
      .select("asset_id", "media_type", "content")
      .unionByName(assets.withColumn("asset_id", col("asset_id") + 100))
    val kept = Multimodal.extractFeatures(mixed)
      .filter(!col("is_stub")).select("asset_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L), kept.toString)
    // stub features remain deterministic (the frozen-fake contract)
    val f1 = Multimodal.videoFeatures(mp4)
    assert(f1.sameElements(Multimodal.videoFeatures(mp4.clone())))
    // a DEMUXABLE GFV1 container whose frame fails pixel decode must
    // not masquerade as real luminance: inner verdict propagates
    val badFrame = {
      val garbage = Array.tabulate(16)(i => (i * 31 + 7).toByte)
      val bb = java.nio.ByteBuffer.allocate(12 + 4 + garbage.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("GFV1".getBytes("US-ASCII")).putInt(1).putInt(100)
      bb.putInt(garbage.length); bb.put(garbage)
      bb.array()
    }
    val (bf, btag) = Multimodal.videoFeaturesTagged(badFrame)
    assert(btag == "gfv1_bad_frame", btag)
    assert(bf.forall(_ == 0.0))
    val badOut = Multimodal.extractFeatures(
      Seq((9L, "video", badFrame)).toDF("asset_id", "media_type", "content"))
      .head()
    assert(badOut.getString(3) == "gfv1_bad_frame" && badOut.getBoolean(4))
  }

  test("multimodal: MediaCodec seam — an external decoder claims stub containers, flips is_stub, built-ins untouched") {
    // test-double for the documented ffmpeg/JNI slot: claims fake-MP4
    // video containers (ftyp magic at offset 4), leaves everything else
    val double = new Multimodal.MediaCodec {
      def decode(mediaType: String, content: Array[Byte]) =
        if (mediaType == "video" && content != null && content.length >= 12 &&
          new String(content, 4, 7, "ISO-8859-1") == "ftypiso")
          Some((Array.tabulate(Multimodal.featureDim)(_ * 0.5), "ext_mp4"))
        else None
    }
    val mp4 = ("    ftypisom".getBytes("ISO-8859-1") ++
      Array.tabulate(64)(i => (i * 7 + 3).toByte))
    val mp3 = ("ID3 ".getBytes("ISO-8859-1") ++
      Array.tabulate(64)(i => (i * 13 + 1).toByte))
    val real = Multimodal.syntheticAssets(
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))
      .select("asset_id", "media_type", "content")
    val assets = real.unionByName(Seq(
      (101L, "video", mp4), (102L, "audio", mp3)
    ).toDF("asset_id", "media_type", "content"))
    val out = Multimodal.extractFeatures(assets, Some(double))
      .collect().map(r =>
        r.getLong(0) -> (r.getString(3), r.getBoolean(4))).toMap
    // the claimed container carries the external tag with is_stub off
    assert(out(101L) == ("ext_mp4", false), out(101L).toString)
    // an unclaimed container stays a flagged stub
    assert(out(102L) == ("stub", true), out(102L).toString)
    // built-in decodes never consult the codec: same rows as codec-less
    val base = Multimodal.extractFeatures(real)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getBoolean(4),
        r.getSeq[Double](2))).toSet
    val withCodec = Multimodal.extractFeatures(real, Some(double))
      .collect().map(r => (r.getLong(0), r.getString(3), r.getBoolean(4),
        r.getSeq[Double](2))).toSet
    assert(base == withCodec)
    // and the claimed features are the double's, verbatim
    val feats = Multimodal.extractFeatures(assets, Some(double))
      .filter(col("asset_id") === 101L).head().getSeq[Double](2)
    assert(feats == Array.tabulate(Multimodal.featureDim)(_ * 0.5).toSeq)
  }

  test("semDeDup: an unsplittable over-cap identical mass goes terminal, stays visible, never blocks siblings") {
    // 12 identical vectors (unsplittable by ANY quantizer) over a cap of
    // 4, next to a SPLITTABLE oversize cluster of distinct directions
    // with one planted exact-dup pair. The mass must land paired=false
    // (visible skip, all keep); the splittable sibling must still refine
    // and catch its planted pair.
    val mass = (0 until 12).map(i => (300L + i, Seq(-1.0f, 0.0f, 0.0f, 0.0f)))
    val spread = (0 until 12).map { i =>
      val a = 0.15 * i
      (100L + i, Seq(math.cos(a).toFloat, math.sin(a).toFloat, 0.0f, 0.0f))
    }
    val emb = (mass ++ spread :+ (200L, spread(3)._2)).toDF("id", "v")
    val out = Dedup.semDeDup(emb, "id", "v", nClusters = 2, minCos = 0.99,
        iters = 2, maxCluster = 4, refineBranch = 3, refineDepth = 3)
      .collect().map(r => (r.getLong(0), r.getBoolean(4), r.getBoolean(5)))
      .toSeq
    val massRows = out.filter(r => r._1 >= 300L)
    assert(massRows.size == 12)
    assert(massRows.forall(r => r._2 && !r._3),
      s"identical mass must keep and read paired=false: $massRows")
    // the splittable sibling refined: its planted copy was caught
    val planted = out.find(_._1 == 200L).get
    assert(!planted._2 && planted._3, s"planted dup not caught: $planted")
  }

  test("multimodal: bilinear resize preserves solid color, honors dims, deterministic") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(17, 13, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 13; x <- 0 until 17) img.setRGB(x, y, 0x336699)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val solid = bos.toByteArray

    val out = Multimodal.resizeImage(solid, 64, 48)
    val dec = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(dec.getWidth == 64 && dec.getHeight == 48)
    // interpolating a constant field must return the constant — any
    // weight/offset bug in the hand-rolled bilinear breaks this
    for (y <- 0 until 48; x <- 0 until 64)
      assert((dec.getRGB(x, y) & 0xFFFFFF) == 0x336699, s"pixel ($x,$y)")
    assert(Multimodal.resizeImage(solid, 64, 48).sameElements(out))
  }

  test("multimodal: PNG codec round-trips and matches ImageIO pixel-for-pixel") {
    // encodePng → decodePngFast: exact pixel round-trip
    val w = 37; val h = 23
    val px = Array.tabulate(w * h)(i => (i * 2654435761L).toInt & 0xFFFFFF)
    val bytes = Multimodal.encodePng(px, w, h)
    val Some((dw, dh, dpx)) = Multimodal.decodePngFast(bytes)
    assert(dw == w && dh == h)
    assert(dpx.sameElements(px))
    // encodePng → ImageIO: the fast encoder emits standard PNG
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val ioPx = img.getRGB(0, 0, w, h, null, 0, w).map(_ & 0xFFFFFF)
    assert(ioPx.sameElements(px))
    // ImageIO-encoded (adaptive row filters) → decodePngFast: defilter
    // path agrees with ImageIO's own decode
    val bi = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    bi.setRGB(0, 0, w, h, px, 0, w)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", bos)
    val Some((_, _, dpx2)) = Multimodal.decodePngFast(bos.toByteArray)
    assert(dpx2.sameElements(px))
    // non-PNG payloads decline the fast path instead of throwing
    assert(Multimodal.decodePngFast(Array[Byte](1, 2, 3, 4)).isEmpty)
    assert(Multimodal.decodePngFast(Multimodal.makeWav(3L)).isEmpty)
    // truncated IDAT must return None, not hang the inflate loop
    assert(Multimodal.decodePngFast(bytes.take(bytes.length - 20)).isEmpty)
  }

  test("multimodal: real WAV audio decode produces windowed RMS features") {
    val bytes = Multimodal.makeWav(7L)
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF") // genuine WAV container
    val f = Multimodal.audioFeatures(bytes)
    assert(f.length == 16)
    // a steady two-harmonic tone has energy in every time window
    assert(f.forall(v => v > 0.0 && v < 1.0), f.mkString(","))
    assert(Multimodal.audioFeatures(bytes).sameElements(f)) // deterministic
    // undecodable bytes fall back to the stub instead of crashing
    assert(Multimodal.audioFeatures(Array[Byte](1, 2, 3)).length == 16)
  }

  test("multimodal: resize updates metadata; frame sampling fans out per interval") {
    val docs = (1L to 9L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val assets = Multimodal.syntheticAssets(docs)
    val resized = Multimodal.resizeImages(assets, 224, 224).collect()
    assert(resized.nonEmpty)
    assert(resized.forall(r => r.getAs[Int]("width") == 224 && r.getAs[Int]("height") == 224))
    val frames = Multimodal.sampleFrames(assets, everyMs = 100)
    val perAsset = frames.groupBy("asset_id").count().collect()
    assert(perAsset.nonEmpty)
    // duration_ms = (doc_id % 300) * 100; sampling every 100 ms → duration/100 frames
    perAsset.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == (id % 300) * 100 / 100, s"asset $id")
    }
    // real demux: every sampled frame is an actual PNG out of the container
    val pngMagic = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
    frames.select("frame").collect().foreach { r =>
      assert(r.getAs[Array[Byte]](0).take(4).sameElements(pngMagic))
    }
    // and the extracted frame round-trips through the real image decode
    val f = Multimodal.videoFeatures(Multimodal.makeVideo(5L, 1000))
    assert(f.length == 16 && f.sum > 0.0)
  }

  test("bm25: OOV-only query yields no rows; matched scores positive; k caps ranks") {
    val docs = Seq(
      (1L, "spark shuffle join"), (2L, "spark spark spark"),
      (3L, "window sort"), (4L, "")).toDF("doc_id", "text")
    val queries = Seq(
      (10L, "spark"), (20L, "nosuchtoken alsonothere")).toDF("query_id", "qtext")
    val out = Terms.bm25TopK(docs, "doc_id", "text",
      queries, "query_id", "qtext", k = 2).collect()
    // the OOV-only query matches nothing — zero rows, not null scores
    assert(!out.exists(_.getLong(0) == 20L))
    val hits = out.filter(_.getLong(0) == 10L)
    // three docs contain 'spark' but k=2 caps the result
    assert(hits.length == 2 && hits.forall(_.getDouble(3) > 0.0))
    assert(hits.map(_.getLong(4)).sorted.toSeq == Seq(1L, 2L))
    // tf dominance with equal dl terms: doc 2 (tf=3) outranks doc 1 (tf=1)
    assert(hits.find(_.getLong(4) == 1L).get.getLong(1) == 2L)
  }

  test("probeContainer: header-only census across families; structural lies degrade, never throw") {
    import graft.operators.Multimodal.{makeIsoBmff, probeContainer}
    // PNG dims without pixel decode
    val png = probeContainer(Multimodal.makePng(7L, 36, 20))
    assert(png.container == "png" && png.width.contains(36) && png.height.contains(20))
    // WAV rate + duration from fmt/data headers
    val wav = probeContainer(Multimodal.makeWav(7L))
    assert(wav.container == "wav" && wav.sampleRate.exists(_ > 0) &&
      wav.durationMs.exists(_ > 0))
    // GFV1 frame census
    val vid = probeContainer(Multimodal.makeVideo(7L, 1200))
    assert(vid.container == "gfv1" && vid.nFrames.contains(4) &&
      vid.durationMs.contains(1200L))
    // ISO-BMFF: brand, mvhd duration, per-trak handler census
    val mp4 = probeContainer(makeIsoBmff("isom", 45000L, 2, 1))
    assert(mp4.container == "isobmff" && mp4.brand.contains("isom") &&
      mp4.durationMs.contains(45000L) && mp4.nVideoTracks.contains(2) &&
      mp4.nAudioTracks.contains(1))
    // truncation mid-moov: still isobmff, walk stops at the lie
    val whole = makeIsoBmff("mp42", 1000L, 1, 0)
    val cut = probeContainer(whole.take(whole.length - 6))
    assert(cut.container == "isobmff" && cut.brand.contains("mp42"))
    // a box size pointing past the buffer must not throw
    val lying = whole.clone(); lying(0) = 0x7F.toByte
    probeContainer(lying)
    // odd-sized FINAL chunk with no pad byte (encoders often omit it):
    // the probe must keep its already-parsed fields instead of letting
    // the past-EOF pad skip throw the whole result into "unknown"
    // (round-12 review). Layout: RIFF | fmt(16) | data(odd, at EOF).
    val odd = {
      val data = 7 // odd on purpose
      val bb = java.nio.ByteBuffer.allocate(44 + data)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(data)
        .put(new Array[Byte](data))
      bb.array()
    }
    val oddWav = probeContainer(odd)
    assert(oddWav.container == "wav" && oddWav.sampleRate.contains(8000),
      oddWav.toString)
    // and the PCM decode path survives the same layout (odd unknown
    // chunk before data, also unpadded at EOF)
    val oddMid = {
      val bb = java.nio.ByteBuffer.allocate(44 + 8 + 3)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 8 + 3)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      bb.put("LIST".getBytes("US-ASCII")).putInt(3)
        .put(new Array[Byte](3)) // odd, unpadded, then nothing follows
      bb.array()
    }
    // no data chunk: rate survives, duration absent, still "wav"
    val midWav = probeContainer(oddMid)
    assert(midWav.container == "wav" && midWav.sampleRate.contains(8000) &&
      midWav.durationMs.isEmpty, midWav.toString)
    // unknown / empty / null
    assert(probeContainer(Array.tabulate(16)(_.toByte)).container == "unknown")
    assert(probeContainer(Array.emptyByteArray).container == "empty")
    assert(probeContainer(null).container == "empty")
  }

  test("lineDedup: cross-doc boilerplate lines removed everywhere, order kept, within-doc repeats exempt") {
    import spark.implicits._
    val docs = Seq(
      (1L, "nav bar\nunique alpha\nfooter line"),
      (2L, "nav bar\nunique beta\nfooter line"),
      (3L, "nav bar\nunique gamma\nfooter line"),
      // within-doc repetition alone must NOT cross the distinct-doc bar
      (4L, "solo line\nsolo line\nsolo line\nunique delta"),
      // all-boilerplate page collapses to empty, never null
      (5L, "nav bar\nfooter line"),
      // blank lines are exempt from heavy candidacy
      (6L, "\nunique epsilon\n")
    ).toDF("doc_id", "text")
    val out = TextOps.lineDedup(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(out(1L) == ((3L, 1L, "unique alpha")))
    assert(out(2L) == ((3L, 1L, "unique beta")))
    assert(out(3L) == ((3L, 1L, "unique gamma")))
    assert(out(4L) == ((4L, 4L, "solo line\nsolo line\nsolo line\nunique delta")))
    assert(out(5L) == ((2L, 0L, "")))
    assert(out(6L) == ((3L, 3L, "\nunique epsilon\n")))
    // order preservation under interleaved removals
    val mixed = Seq(
      (10L, "keep one\nnav x\nkeep two\nnav x\nkeep three"),
      (11L, "nav x\na"), (12L, "nav x\nb")).toDF("doc_id", "text")
    val m = TextOps.lineDedup(mixed, "doc_id", "text", minDocs = 3)
      .filter(col("doc_id") === 10L).head()
    assert(m.getString(3) == "keep one\nkeep two\nkeep three")
    intercept[IllegalArgumentException](
      TextOps.lineDedup(docs, "doc_id", "text", minDocs = 1))
  }

  test("weightedSample: weight-biased, deterministic at any partitioning, zero-weight excluded, k>=n total") {
    // 2000 heavy (w=10) vs 2000 light (w=1): heavy mass is 10/11 of the
    // stream, so a k=400 sample is overwhelmingly heavy (ES inclusion
    // for k<<n tracks weight share; 300 is a generous floor)
    val items = spark.range(4000).select(col("id"),
      when(col("id") < 2000, 10.0).otherwise(1.0).as("w"))
    val got = TextOps.weightedSample(items, "id", col("w"), k = 400,
      seed = "s1").collect()
    assert(got.length == 400)
    val heavy = got.count(_.getLong(0) < 2000)
    assert(heavy >= 300, s"weight bias too weak: $heavy/400 heavy")
    assert(got.map(_.getLong(2)).sorted.toSeq == (1L to 400L), "ranks not dense")
    // bit-deterministic across partitionings (the md5 contract)
    val rep = TextOps.weightedSample(items.repartition(13), "id", col("w"),
      k = 400, seed = "s1").collect().map(_.toSeq).toSet
    assert(rep == got.map(_.toSeq).toSet, "sample drifted under repartition")
    // a different seed draws a different sample
    val other = TextOps.weightedSample(items, "id", col("w"), k = 400,
      seed = "s2").collect().map(_.getLong(0)).toSet
    assert(other != got.map(_.getLong(0)).toSet)
    // zero/negative weights never selected; k >= eligible returns all
    val withDead = items.unionByName(spark.range(9000, 9010)
      .select(col("id"), lit(0.0).as("w")))
    val all = TextOps.weightedSample(withDead, "id", col("w"), k = 99999,
      seed = "s1").collect()
    assert(all.length == 4000 && all.forall(_.getLong(0) < 9000))
    intercept[IllegalArgumentException](
      TextOps.weightedSample(items, "id", col("w"), k = 0, seed = "s"))
  }

  // ---- binary-quantization (Hamming) ANN ----

  test("sign_pack: >0 bits little-endian per 64-word, multi-word; hamming_dist = popcount of xor") {
    import graft.functions.TextVectorExpressions.{hamming_dist, sign_pack}
    // 70-d vector: bits 0, 3 and 69 positive, everything else <= 0 —
    // exercises the two-word path and the strict >0 tie rule (zeros
    // and negatives both clear)
    val v = Array.fill(70)(-1.0f)
    v(0) = 0.5f; v(3) = 1.0f; v(69) = 2.0f; v(5) = 0.0f
    val w = Array.fill(70)(-1.0f)
    w(0) = 0.5f; w(7) = 1.0f // differs from v at bits 3, 7, 69
    val df = Seq((v.toSeq, w.toSeq)).toDF("a", "b")
      .select(sign_pack(col("a")).as("pa"), sign_pack(col("b")).as("pb"))
    val r = df.select(col("pa"), col("pb"),
      hamming_dist(col("pa"), col("pb")).as("h")).collect().head
    val pa = r.getSeq[Long](0)
    assert(pa.length == 2, s"70 dims should pack into 2 words, got ${pa.length}")
    assert(pa(0) == ((1L << 0) | (1L << 3)), s"word0 = ${pa(0)}")
    assert(pa(1) == (1L << 5), s"word1 (bit 69 = word 1 bit 5) = ${pa(1)}")
    assert(r.getInt(2) == 3, s"hamming = ${r.getInt(2)}")
  }

  test("hamming ANN: rerank emits exact cosines; recall@5 vs brute on real testdata") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteDf = Similarity.bruteForceTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5)
    val brute = pairs(bruteDf)
    // this corpus is the hard near-random regime (top-5 cos ~ 0.4):
    // 1-bit quantization is genuinely lossy there, and the rerank depth
    // buys the recall back — the knob the scaladoc documents
    val r50 = pairs(Similarity.hammingTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, rerank = 50))
    val r150df = Similarity.hammingTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, rerank = 150)
    val r150 = pairs(r150df)
    val rec50 = (brute & r50).size.toDouble / brute.size
    val rec150 = (brute & r150).size.toDouble / brute.size
    assert(rec50 >= 0.6, f"hamming rerank=50 recall@5 = $rec50%.3f")
    assert(rec150 >= 0.9, f"hamming rerank=150 recall@5 = $rec150%.3f")
    // the reranked cos IS the exact cosine: identical to brute force on
    // every pair both report
    val bruteCos = bruteDf.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    r150df.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bruteCos.get(key).foreach(c =>
        assert(c == r.getDouble(2), s"rerank cos drifted at $key"))
    }
    // the deployment shape — search over a PRE-PACKED (persisted) code
    // table — is row-identical to packing inline
    val packed = Similarity.signPackCorpus(corpus, "c_id", "c_vec")
      .localCheckpoint(true)
    val viaPacked = Similarity.hammingTopKPacked(packed, corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, rerank = 150)
      .collect().map(_.toSeq).toSet
    assert(viaPacked == r150df.collect().map(_.toSeq).toSet,
      "packed-corpus search drifted from inline packing")
  }

  test("IVF-Hamming: full probe equals flat hamming exactly; pruned probe holds a recall floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val ivf = Similarity.buildIvf(corpus, "c_id", "c_vec", k = 16, iters = 2)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing EVERY list = no pruning: must reproduce flat hammingTopK
    // row for row (same candidates, same keys, same rerank)
    val full = Similarity.ivfHammingTopK(ivf, corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, nprobe = 16, rerank = 50)
      .collect().map(_.toSeq).toSet
    val flat = Similarity.hammingTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, rerank = 50)
      .collect().map(_.toSeq).toSet
    assert(full == flat, "full-probe IVF-Hamming drifted from flat hamming")
    // pruned probe keeps most of the flat variant's answer set
    val pruned = pairs(Similarity.ivfHammingTopK(ivf, corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 5, nprobe = 4, rerank = 50))
    val flatPairs = flat.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long]))
    val recall = (flatPairs & pruned).size.toDouble / flatPairs.size
    assert(recall >= 0.5, f"ivf-hamming pruned recall = $recall%.3f")
  }

  test("hashed_tf_vec: unit-norm text embeddings; near-dup copies link to originals through the full ANN stack") {
    import graft.functions.TextVectorExpressions.hashed_tf_vec
    val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    // kernel contract: dim-length, unit L2 norm for non-empty text, the
    // zero vector (never null) for empty/whitespace text, null-safe
    val vecs = docs.select(col("doc_id"), hashed_tf_vec(col("text"), 64).as("v"))
      .collect()
    vecs.foreach { r =>
      val v = r.getSeq[Double](1)
      assert(v.length == 64)
      val n2 = v.map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-9 || n2 == 0.0,
        s"doc ${r.getLong(0)}: norm^2 = $n2")
    }
    graft.functions.TextVectorExpressions.hashed_tf_vec(col("text"), 8) // registers
    val edge = spark.sql(
      "SELECT hashed_tf_vec('', 8) AS a, hashed_tf_vec('  ', 8) AS b, " +
        "hashed_tf_vec(CAST(NULL AS STRING), 8) AS c")
    val e = edge.collect()(0)
    assert(e.getSeq[Double](0).forall(_ == 0.0) && e.getSeq[Double](1).forall(_ == 0.0))
    assert(e.isNullAt(2), "null text must stay null, not a zero vector")
    // end-to-end near-dup linkage: index the corpus embeddings, query
    // with the planted truncated-tail copies (not in the corpus). The
    // corpus carries genuine near-identical twin FAMILIES (the testdata
    // generator plants them), so a copy's original may be LEGITIMATELY
    // outranked by a twin that is closer — measured on this corpus, even
    // exact brute force puts copy 1000012's top-3 at (120, 8, 360), all
    // true cos ≥ 0.99, its own original at 0.983. The honest contract is
    // therefore anchored on ground truth, in two independent halves:
    //   (1) embedding linkage, index-free — every copy's original scores
    //       true cos > 0.9 via a direct pair dot product;
    //   (2) pruned-search recall — the persisted IVF-PQ rank-1 answer
    //       equals brute force for EVERY query (the near-dup-linkage
    //       answer), and set recall@3 ≥ 0.9 (deep ranks sit in the
    //       0.78–0.83 cos mid-pack where PQ's ADC ordering is allowed
    //       to blur — measured: probing ALL 16 lists leaves the same 5
    //       rank-2/3 swaps, so the blur is quantization, not routing).
    //       (The m=8/k=8 regime this spec first shipped with was too
    //       distorting even for rank-1 over 64-dim hashed-TF vectors;
    //       the x85 entry's own m=16/k=16 + rerank=50 regime is the one
    //       the library actually ships.)
    val corpus = docs.select(col("doc_id").as("c_id"),
      hashed_tf_vec(col("text"), 64).as("c_vec"))
    val ivf = Similarity.buildIvf(corpus, "c_id", "c_vec", k = 16, iters = 2)
    val pq = Similarity.buildPq(corpus, "c_id", "c_vec", m = 16, k = 16, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("tfvec_ann").toString + "/idx"
    AnnIndexStore.save(spark, dir, ivf, pq)
    val queries = graft.queries.ExtensionQueries.plantTextDups(docs)
      .filter(col("doc_id") >= 1000000L)
      .select(col("doc_id").as("q_id"), hashed_tf_vec(col("text"), 64).as("q_vec"))
    // (1) direct copy↔original cosine, no index in the loop
    val pairCos = corpus.join(queries, col("c_id") === col("q_id") - 1000000L)
      .select(col("q_id"),
        aggregate(zip_with(col("c_vec"), col("q_vec"), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x).as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pairCos.size == 20)
    pairCos.foreach { case (qid, c) =>
      assert(c > 0.9, s"copy $qid: true cos to its original is $c")
    }
    // (2) pruned persisted search ≡ exact brute force, rank for rank
    val top = AnnIndexStore.searchTopK(AnnIndexStore.load(spark, dir),
      queries, "c_id", "c_vec", "q_id", "q_vec", k = 3, rerank = 50)
      .collect()
    val brute = Similarity.bruteForceTopK(corpus, queries,
      "c_id", "c_vec", "q_id", "q_vec", 3).collect()
    assert(top.length == 60 && brute.length == 60)
    def rank1(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rank1(top) == rank1(brute),
      "pruned IVF-PQ rank-1 drifted from brute-force ground truth: " +
        (rank1(top).toSet diff rank1(brute).toSet).mkString(", "))
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall3 = (pairs(top) & pairs(brute)).size.toDouble / 60
    assert(recall3 >= 0.9, f"pruned recall@3 = $recall3%.3f")
    // and the ground truth itself carries the near-dup linkage: each
    // copy's original is in the brute top-3, or everything outranking it
    // is a genuinely-closer twin (true cos ≥ the original's own)
    brute.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      rows.find(_.getLong(1) == qid - 1000000L) match {
        case Some(orig) =>
          assert(orig.getDouble(2) > 0.9,
            s"copy $qid vs original cos ${orig.getDouble(2)}")
        case None => rows.foreach { r =>
          assert(r.getDouble(2) >= pairCos(qid) - 1e-9,
            s"copy $qid: ${r.getLong(1)} (cos ${r.getDouble(2)}) beat the " +
              s"original (cos ${pairCos(qid)}) without being closer")
        }
      }
    }
  }

  test("perplexityBuckets: exact integer terciles, ties share a bucket, map-only gate") {
    import spark.implicits._
    // 9 distinct scores -> perfect terciles 0/1/2 by rank
    val even = (1 to 9).map(i => (i.toLong, 10L, i / 10.0)).toDF(
      "doc_id", "n_trigrams", "avg_neg_logprob")
    val b1 = Terms.perplexityBuckets(even, "doc_id", "avg_neg_logprob")
      .select("doc_id", "ppl_bucket", "kept").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert((1L to 3L).forall(b1(_) == ((0L, 1))), s"head wrong: $b1")
    assert((4L to 6L).forall(b1(_) == ((1L, 1))), s"middle wrong: $b1")
    assert((7L to 9L).forall(b1(_) == ((2L, 0))), s"tail wrong: $b1")

    // a tie STRADDLING the 1/3 boundary: scores [.1 x4, .2 x2, .3 x3];
    // c(.1)=0 -> 0, c(.2)=4 -> 12 div 9 = 1, c(.3)=6 -> 18 div 9 = 2.
    // All four .1 docs share bucket 0 (by-value gating: a threshold
    // never splits equal-quality docs, even past the rank boundary).
    val tied = (Seq.fill(4)(0.1) ++ Seq.fill(2)(0.2) ++ Seq.fill(3)(0.3))
      .zipWithIndex.map { case (sc, i) => (i.toLong, 10L, sc) }
      .toDF("doc_id", "n_trigrams", "avg_neg_logprob")
    val b2 = Terms.perplexityBuckets(tied, "doc_id", "avg_neg_logprob")
      .select("avg_neg_logprob", "ppl_bucket").distinct().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(b2 == Map(0.1 -> 0L, 0.2 -> 1L, 0.3 -> 2L), s"tie buckets: $b2")

    // all-equal corpus: one shared bucket 0, everything kept
    val flat = (1 to 6).map(i => (i.toLong, 10L, 0.5)).toDF(
      "doc_id", "n_trigrams", "avg_neg_logprob")
    val b3 = Terms.perplexityBuckets(flat, "doc_id", "avg_neg_logprob")
    assert(b3.select("ppl_bucket").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(0L))
    assert(b3.filter(col("kept") === 1).count() == 6)

    // scale shape: the corpus-sized frame is gated by a BROADCAST join
    // of the score-frequency boundary frame -- no corpus-wide sort or
    // single-partition exchange on the scored side
    val plan = Terms.perplexityBuckets(even, "doc_id", "avg_neg_logprob")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"boundary frame not broadcast:\n$plan")
  }
}
