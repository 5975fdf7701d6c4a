package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Data-dominated scale probes (SCALING.md / BASELINE.md evidence, not a
  * driver gate): each mode grows one operator family to a corpus size
  * where wall clearly tracks data, prints one JSON line per timed stage,
  * and checks an exact quality invariant next to every wall so a
  * fast-but-wrong scale-up cannot read as a win.
  *
  *   scripts/run_scale_probe.sh <heap> <factor> <mode> <log>
  *   sbt "runMain graft.tools.ScaleProbe <factor> <mode>"
  *
  * Modes: `datadom2` (persisted BM25 index + tokenizer training),
  * `datadom3` (line dedup + Bloom ingest prefilter), `datadom4` (heavy
  * hitters, KN trigram, 1-bit ANN), `datadom6` (streaming ANN index
  * growth) and `datadom6lex` (streaming lexical index growth). The
  * session comes from [[Harness.buildSession]].
  */
object ScaleProbe {

  /** The one probe timer: one JSON line per stage, factor carried so
    * multi-factor runs are self-labeling.
    */
  private def timedJson[T](name: String, factor: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"""{"probe":"$name","factor":$factor,"wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    r
  }

  /** Lands `df` as ONE parquet file `srcDir/name`: written in a scratch
    * temp directory, then renamed into `srcDir` (also a temp directory), so
    * the file-stream source never lists a half-written file.
    */
  private def land(df: DataFrame, srcDir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("dd6_land").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(s"$srcDir/$name"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** Data-dominated probe, round 12 (verdict directive #3): BM25 and the
    * tokenizers were the two major families still measured only in the
    * overhead-bound regime (lexindex ran at ≤1M docs near-flat; bpe at
    * 24 merges). This mode prices (a) the persisted-index lexical
    * lifecycle at MILLIONS of docs — build, batch search, rare-term
    * search with an exact-surfacing invariant, and a 1%-increment
    * addDocuments — and (b) tokenizer training at 10× the vocabulary
    * (24 → 240 merges, fixed corpus), which isolates the
    * rounds-priced-by-vocabulary exponent in a single run. Run at two
    * factors for the corpus-side exponents:
    *
    *   sbt "runMain graft.tools.ScaleProbe 1000 datadom2"   // 5M docs
    *   sbt "runMain graft.tools.ScaleProbe 2000 datadom2"   // 10M docs
    */
  private def datadom2Probe(spark: SparkSession, factor: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Bpe, LexIndexStore, WordPiece}
    val par = spark.sparkContext.defaultParallelism
    // word-salad corpus with a rare term planted in EXACTLY 20 known
    // docs (ids ≡ 7 mod nDocs/20): the retrieval invariant — top-k for
    // that term must surface only planted ids — rides every wall
    val nDocs = factor * 5000L
    val spacing = nDocs / 20
    val vocab = (0 until 1024).map(i => f"w$i%04d")
    val body = (0 until 48).map(j => element_at(typedlit(vocab),
      (pmod(xxhash64(col("id") * 48 + j), lit(1024)) + 1).cast("int")))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", body :+
        when(pmod(col("id"), lit(spacing)) === 7, lit("zzrareterm"))
          .otherwise(lit("")): _*).as("text"))
      .repartition(par).cache()
    println(s"""{"probe":"dd2_corpus","factor":$factor,"docs":${docs.count()}}""")
    val base = Files.createTempDirectory("dd2probe").toString
    val dir = s"$base/lexidx"
    timedJson("dd2_lex_build", factor) {
      LexIndexStore.build(spark, dir, docs, "doc_id", "text", nBuckets = 64)
    }
    val queries = spark.createDataFrame(Seq(
      (1L, s"${vocab(17)} ${vocab(901)}"), (2L, s"${vocab(3)} ${vocab(512)} ${vocab(777)}"),
      (3L, vocab(256)), (4L, s"${vocab(64)} zzabsent"))).toDF("query_id", "qtext")
    timedJson("dd2_lex_search_batch", factor) {
      val n = LexIndexStore.searchTopK(spark, dir, queries,
        "query_id", "qtext", k = 10).count()
      println(s"""{"probe":"dd2_lex_search_rows","factor":$factor,"n":$n}""")
    }
    timedJson("dd2_lex_search_rare", factor) {
      val rare = spark.createDataFrame(Seq((9L, "zzrareterm")))
        .toDF("query_id", "qtext")
      val got = LexIndexStore.searchTopK(spark, dir, rare,
        "query_id", "qtext", k = 20)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val ok = got.size == 20 && got.forall(_ % spacing == 7)
      println(s"""{"probe":"dd2_lex_rare_invariant","factor":$factor,"n":${got.size},"all_planted":$ok}""")
      require(ok, s"rare-term search missed planted docs: $got")
    }
    timedJson("dd2_lex_add_1pct", factor) {
      val inc = spark.range(nDocs, nDocs + nDocs / 100).select(
        col("id").as("doc_id"),
        concat_ws(" ", body: _*).as("text"))
      LexIndexStore.addDocuments(spark, dir, inc, "doc_id", "text")
    }
    docs.unpersist()
    // ---- tokenizer vocabulary scaling on a FIXED real-text corpus
    // (sf0.1 docs ×50 ≈ 250k): 24 vs 240 merges in one run — the
    // between-the-two-walls ratio IS the vocabulary exponent, with the
    // corpus-side pre-tokenize pass held constant
    val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select("doc_id", "text")
    val tcorpus = (0 until 50).map(i => docs0.select(
      (col("doc_id") + lit(i * 1000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _).repartition(par).cache()
    println(s"""{"probe":"dd2_tok_corpus","factor":$factor,"docs":${tcorpus.count()}}""")
    Seq(24, 240).foreach { m =>
      timedJson(s"dd2_bpe_train_$m", factor) {
        val merges = Bpe.train(tcorpus, "text", numMerges = m,
          mergesPerRound = 8).merges.collect()
        println(s"""{"probe":"dd2_bpe_merges","factor":$factor,"want":$m,"got":${merges.length}}""")
      }
      timedJson(s"dd2_wp_train_$m", factor) {
        val model = WordPiece.train(tcorpus, "text", numMerges = m,
          mergesPerRound = 8)
        println(s"""{"probe":"dd2_wp_merges","factor":$factor,"want":$m,"got":${model.merges.count()},"vocab":${model.vocab.count()}}""")
      }
    }
    // the batched walls above are dominated by the FIXED pre-tokenize
    // pass (the factor-1000 run measured 240-merge ≈ 24-merge wall) —
    // which is itself the headline claim confirmed (corpus-sized work
    // is one pass). Sequential mode (one pair-count round per merge)
    // isolates the per-ROUND cost the vocabulary prices: 24 vs 88
    // rounds (88 stays under this corpus's ~90-merge pair exhaustion)
    Seq(24, 88).foreach { m =>
      timedJson(s"dd2_bpe_seq_$m", factor) {
        Bpe.train(tcorpus, "text", numMerges = m, mergesPerRound = 1)
          .merges.count()
      }
      timedJson(s"dd2_wp_seq_$m", factor) {
        WordPiece.train(tcorpus, "text", numMerges = m, mergesPerRound = 1)
          .merges.count()
      }
    }
    tcorpus.unpersist()
  }

  /** Data-dominated probe for the round-12 additions — cross-document
    * line dedup (x72) and the Bloom ingest prefilter (x74) — at corpus
    * sizes where wall clearly grows with data, two factors per family so
    * BASELINE.md records measured exponents. Quality invariants ride
    * every wall (a fast-but-wrong scale-up must not read as a win):
    *
    *  - lineDedup: every doc keeps EXACTLY its 10 unique body lines —
    *    planted nav/footer boilerplate (1% of docs) and the 10-doc group
    *    banner cross the minDocs=3 bar and vanish everywhere, unique
    *    lines all survive, in order. Checked as exact aggregate counts
    *    over the full output, not a sample.
    *  - bloom: the planted dup set comes back EXACTLY (zero false
    *    negatives — the contract that makes the prefilter sound), novel
    *    keys all new, and the pruned (bloom_maybe=false) fraction is
    *    reported so the sketch's actual selectivity is on the record.
    *
    *   sbt "runMain graft.tools.ScaleProbe 200 datadom3"   // 1M docs
    *   sbt "runMain graft.tools.ScaleProbe 400 datadom3"   // 2M docs
    */
  private def datadom3Probe(spark: SparkSession, factor: Int): Unit = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import graft.operators.{Skew, TextOps}
    val par = spark.sparkContext.defaultParallelism
    val nDocs = factor * 5000L
    // ---- line-structured corpus: 10 body lines unique to each doc
    // (doc_id baked in), one banner shared by each run of 10 docs
    // (crosses minDocs=3), nav+footer planted on docs ≡ 7 (mod 100).
    // concat_ws skips nulls, so unplanted docs simply lack those lines.
    val planted = pmod(col("id"), lit(100)) === 7
    val lineCols: Seq[Column] =
      when(planted, lit("nav | home | about | products")).otherwise(lit(null)) +:
      (0 until 10).map(j =>
        concat(lit(s"body line $j of document "), col("id"),
          lit(" lorem ipsum dolor sit amet"))) :+
      concat(lit("shared banner of group "), (col("id") / 10).cast("long")) :+
      when(planted, lit("copyright 2024 example corp")).otherwise(lit(null))
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), concat_ws("\n", lineCols: _*).as("text"))
      .repartition(par).cache()
    println(s"""{"probe":"dd3_corpus","factor":$factor,"docs":${docs.count()}}""")
    timedJson("dd3_line_dedup", factor) {
      val out = TextOps.lineDedup(docs, "doc_id", "text", minDocs = 3)
      val bad = out.filter(col("n_kept") =!= 10 ||
        (col("n_lines") =!= when(pmod(col("doc_id"), lit(100)) === 7, 13)
          .otherwise(11))).count()
      val docsOut = out.count()
      println(s"""{"probe":"dd3_line_dedup_invariant","factor":$factor,"docs":$docsOut,"bad":$bad}""")
      require(bad == 0 && docsOut == nDocs, s"line-dedup invariant broke: bad=$bad")
    }
    docs.unpersist()
    // ---- bloom: corpus-sized key set, fixed-RATE 1% increment with a
    // 0.1% planted-dup tail. Build is the one-time corpus-sized summary;
    // the end-to-end ingest verdict (build + probe + confirm) is what an
    // increment actually pays today (a persisted-bits deployment pays
    // only the probe half — the build wall is reported separately so
    // both deployments are priced).
    val seen = spark.range(nDocs).select(col("id").as("doc_id"),
      concat(lit("document content number "), col("id"),
        lit(" with enough padding text to look like a real key")).as("text"))
      .repartition(par).cache()
    println(s"""{"probe":"dd3_seen","factor":$factor,"keys":${seen.count()}}""")
    val mBits = 16L * nDocs
    timedJson("dd3_bloom_build", factor) {
      val n = Skew.bloomBuild(seen, "text", mBits = mBits, k = 5).bits.count()
      println(s"""{"probe":"dd3_bloom_bits","factor":$factor,"set_bits":$n}""")
    }
    val nInc = nDocs / 100
    val nDup = nDocs / 1000
    val increment = spark.range(nDocs, nDocs + nInc - nDup).select(
        col("id").as("doc_id"),
        concat(lit("novel content number "), col("id")).as("text"))
      .unionByName(seen.filter(col("doc_id") % 97 === 0).limit(nDup.toInt)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    timedJson("dd3_bloom_ingest_e2e", factor) {
      val out = Skew.bloomNewIds(seen, increment, "doc_id", "text",
        mBits = mBits, k = 5).cache()
      val dupsFound = out.filter(!col("is_new")).count()
      val pruned = out.filter(!col("bloom_maybe")).count()
      val total = out.count()
      out.unpersist()
      println(s"""{"probe":"dd3_bloom_invariant","factor":$factor,"rows":$total,"dups":$dupsFound,"expected_dups":$nDup,"pruned":$pruned}""")
      require(dupsFound == nDup && total == nInc,
        s"bloom verdicts broke: dups=$dupsFound expected=$nDup total=$total")
    }
    seen.unpersist()
  }

  /** Data-dominated probe for the round-12 continuation families —
    * Misra-Gries heavy hitters, KN trigram perplexity, binary-quantized
    * Hamming ANN — at two factors so BASELINE.md can record exponents.
    * Every arm carries an EXACT invariant (planted heavies with exact
    * counts and fractions; per-doc trigram counts; result-shape +
    * recall floor), so a scaling number can never come from a silently
    * wrong answer.
    *
    *   sbt "runMain graft.tools.ScaleProbe 100 datadom4"   // 5M items
    *   sbt "runMain graft.tools.ScaleProbe 200 datadom4"   // 10M items
    */
  private def datadom4Probe(spark: SparkSession, factor: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Similarity, Skew, Terms}
    val par = spark.sparkContext.defaultParallelism
    // ---- heavy hitters: n = factor×50k items, three planted heavies
    // (30% / 10% / 6%) over a 100k-key light tail — the Zipf head/tail
    // split MG exists for. Verdicts at phi = 0.05 must be EXACTLY the
    // three planted keys with exact counts.
    val nItems = factor * 50000L
    val items = spark.range(nItems).select(
      when(col("id") % 10 < 3, lit("hh_a"))
        .when(col("id") % 10 < 4, lit("hh_b"))
        .when(col("id") % 100 >= 44 && col("id") % 100 < 50, lit("hh_c"))
        .otherwise(concat(lit("tail_"), pmod(col("id"), lit(100000)))).as("item"))
      .repartition(par).cache()
    println(s"""{"probe":"dd4_items","factor":$factor,"items":${items.count()}}""")
    timedJson("dd4_heavy_hitters", factor) {
      val got = Skew.heavyHittersExact(items, "item", phi = 0.05)
        .orderBy("item").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val expect = Seq(("hh_a", nItems * 3 / 10), ("hh_b", nItems / 10),
        ("hh_c", nItems * 6 / 100))
      require(got.toSeq == expect, s"heavy-hitter verdicts broke: ${got.toSeq} vs $expect")
    }
    items.unpersist()
    // ---- KN trigram: factor×2500 docs × 30 tokens hashed from a
    // 200-word vocabulary. Hashed, not modular-arithmetic: a linear
    // token sequence makes every context continue UNIQUELY, the whole
    // corpus scores p≈1 and the per-trigram round-6 legitimately hits
    // 0.0000 — a hash-mixed stream has natural-text-like type richness
    // (trigram/context tables are corpus-scale, the shape that actually
    // prices the model joins). Every doc must emit exactly 28 trigrams
    // and a strictly positive score.
    val nDocs = factor * 2500L
    val words = transform(sequence(lit(0), lit(29)),
      i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(200))))
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), concat_ws(" ", words).as("text"))
      .repartition(par).cache()
    println(s"""{"probe":"dd4_docs","factor":$factor,"docs":${docs.count()}}""")
    timedJson("dd4_trigram_kn", factor) {
      val out = Terms.trigramKnLogprob(docs, "doc_id", "text").cache()
      val n = out.count()
      val bad = out.filter(col("n_trigrams") =!= 28 ||
        col("avg_neg_logprob") <= 0.0 || isnan(col("avg_neg_logprob"))).count()
      out.unpersist()
      println(s"""{"probe":"dd4_trigram_invariant","factor":$factor,"docs":$n,"bad":$bad}""")
      require(n == nDocs && bad == 0, s"trigram invariant broke: n=$n bad=$bad")
    }
    docs.unpersist()
    // ---- Hamming ANN: factor×2500 hash-random 64-d vectors, 20
    // queries that are NOISED TWINS of corpus rows 0-19 (5% jitter —
    // cos > 0.99). The coarse 1-bit scan is timed against the float32
    // brute scan on the SAME corpus (the 32×-smaller-scan claim
    // priced); the EXACT invariant is the twin contract — a planted
    // near-duplicate's sign pattern is a few bits from its original,
    // so it must survive any shortlist and the exact rerank must put
    // it at rank 1, all 20/20. Recall vs brute is additionally
    // REPORTED (not floored): on isotropic-random vectors with a
    // corpus-constant rerank the sign proxy is the documented weak
    // regime (SCALING.md) — the honest number belongs on the record,
    // the twin contract is what a dedup/linkage deployment relies on.
    val nVecs = factor * 2500L
    def rndVec(seed: String, idc: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(lit(seed), idc, i), lit(2001L)) - 1000L) / 1000.0)
    val corpus = spark.range(nVecs)
      .select(col("id").as("c_id"), rndVec("v", col("id")).as("c_vec"))
      .repartition(par).cache()
    println(s"""{"probe":"dd4_vecs","factor":$factor,"vecs":${corpus.count()}}""")
    val queries = spark.range(20)
      .select((col("id") + 9000000L).as("q_id"),
        zip_with(rndVec("v", col("id")), rndVec("q", col("id")),
          (b, n) => b + n * 0.05).as("q_vec"))
      .cache()
    val brute = timedJson("dd4_brute_scan", factor) {
      Similarity.bruteForceTopK(corpus, queries,
        "c_id", "c_vec", "q_id", "q_vec", 5).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val twins = timedJson("dd4_hamming_scan_rerank", factor) {
      val t = Similarity.hammingTopK(corpus, queries,
        "c_id", "c_vec", "q_id", "q_vec", 5, rerank = 200).cache()
      require(t.count() == 100, "hamming topk shape broke")
      t
    }
    // the deployment shape: codes STORED (cached here standing in for a
    // persisted pack column), probe pays only popcount scan + rerank —
    // this is the wall to weigh against dd4_brute_scan
    val packed = Similarity.signPackCorpus(corpus, "c_id", "c_vec").cache()
    packed.count()
    timedJson("dd4_hamming_packed_scan", factor) {
      val n = Similarity.hammingTopKPacked(packed, corpus, queries,
        "c_id", "c_vec", "q_id", "q_vec", 5, rerank = 200).count()
      require(n == 100, "packed hamming topk shape broke")
    }
    packed.unpersist()
    val hit = twins.filter(col("rank") === 1 &&
      col("neighbor_id") === col("query_id") - 9000000L).count()
    val got = twins.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    twins.unpersist()
    val recall = (brute & got).size.toDouble / brute.size
    println(s"""{"probe":"dd4_hamming_twins","factor":$factor,"twins_at_rank1":$hit,"recall_vs_brute":$recall}""")
    require(hit == 20, s"twin contract broke: $hit/20 at rank 1")
    corpus.unpersist()
    queries.unpersist()
  }

  /** datadom6 (round-13 verdict ask #5) — price the STREAMING growth
    * paths in the data-dominated regime: per-trigger cost must track the
    * INCREMENT (plus its touched lists/buckets), never the stored state.
    * Both stores grow through the REAL checkpointed file-stream
    * machinery (landed parquet files, processAllAvailable-bounded
    * triggers) with TWO arrival sizes and a deliberate replay overlap
    * (the second file re-ships the first's tail — the heal path is
    * priced, not just asserted), and a retrieval invariant rides every
    * trigger:
    *
    *  - ANN: IVF-PQ index at factor×2500 64-d vectors (400 → 1M,
    *    800 → 2M; 64 lists, m=16/k=16); arrivals of 5k then 20k vectors.
    *    After each trigger the 20 noised twins of arrival-1 rows must
    *    hit their originals at rank 1 through the stored pruned search,
    *    and the index row count must equal seed + distinct-landed ids
    *    exactly (double-indexing from the overlap would show here).
    *  - LEX (mode `datadom6lex`, its own JVM — see
    *    [[datadom6LexProbe]]): postings at factor×12500 word-salad docs
    *    (400 → 5M, 800 → 10M; 64 token buckets); arrivals of 10k then
    *    40k docs, `zzrareterm` planted at ids ≡ 7 (mod 500) of the
    *    STREAMED region only — retrieval must return exactly the
    *    planted set (count AND membership), so a replay-duplicated
    *    posting or a lost arrival both fail loudly.
    *
    * Exponent read-out: the same increments at two factors → store
    * exponent (want ≈ 0); the two increment sizes at one factor →
    * increment exponent (want ≈ 1 down to the touched-bucket floor).
    *
    *   sbt "runMain graft.tools.ScaleProbe 400 datadom6"   // 1M vectors
    *   sbt "runMain graft.tools.ScaleProbe 800 datadom6"   // 2M vectors
    */
  private def datadom6Probe(spark: SparkSession, factor: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{AnnIndexStore, LexIndexStore, Similarity}
    val par = spark.sparkContext.defaultParallelism
    val base = Files.createTempDirectory("dd6").toString

    // ---- ANN streaming growth ----
    val nVecs = factor * 2500L
    def rndVec(seed: String, idc: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(lit(seed), idc, i), lit(2001L)) - 1000L) / 1000.0)
    val corpus = spark.range(nVecs)
      .select(col("id").as("c_id"), rndVec("v", col("id")).as("c_vec"))
      .repartition(par).cache()
    println(s"""{"probe":"dd6_vecs","factor":$factor,"vecs":${corpus.count()}}""")
    val annDir = s"$base/annidx"
    val annSrc = s"$base/annsrc"
    new java.io.File(annSrc).mkdirs()
    timedJson("dd6_ann_build", factor) {
      AnnIndexStore.save(spark, annDir,
        Similarity.buildIvf(corpus, "c_id", "c_vec", k = 64, iters = 2),
        Similarity.buildPq(corpus, "c_id", "c_vec", m = 16, k = 16, iters = 2))
    }
    corpus.unpersist()
    // arrivals live at ids 50M+ so seed and stream regions never collide
    def arrival(lo: Long, hi: Long) = spark.range(lo, hi)
      .select((col("id") + 50000000L).as("c_id"),
        rndVec("a", col("id")).as("c_vec"))
    // foldEvery=2 so the in-stream sidecar maintenance is PRICED inside
    // this probe's six triggers, not deferred past them
    val annStream = AnnIndexStore.streamingAddVectors(spark, annSrc,
      arrival(0L, 1L).schema, annDir, s"$base/annckpt", "c_id", "c_vec",
      foldEvery = 2)
    // noised twins of 20 arrival-1 vectors: findable ONLY once the
    // stream has landed them — the invariant proves the GROWN region
    // is searchable through the frozen quantizers
    val twinQ = spark.range(20)
      .select((col("id") + 9000000L).as("q_id"),
        zip_with(rndVec("a", col("id")), rndVec("q", col("id")),
          (b, n) => b + n * 0.05).as("q_vec")).cache()
    twinQ.count()
    def annInvariant(stage: String, expectRows: Long): Unit = {
      val idx = AnnIndexStore.load(spark, annDir)
      val nRows = idx.encodedWithCid.count()
      val got = AnnIndexStore.searchTopK(idx, twinQ, "c_id", "c_vec",
        "q_id", "q_vec", k = 5, rerank = 200).collect()
      val hit = got.count(r => r.getInt(3) == 1 &&
        r.getLong(1) == r.getLong(0) - 9000000L + 50000000L)
      println(s"""{"probe":"dd6_ann_${stage}","factor":$factor,""" +
        s""""index_rows":$nRows,"twins_at_rank1":$hit}""")
      require(nRows == expectRows,
        s"$stage: index has $nRows rows, expected $expectRows " +
          "(replay overlap double-indexed or an arrival was lost)")
      require(hit == 20, s"$stage twin contract broke: $hit/20 at rank 1")
    }
    try {
      // the high-cadence regime the sidecar exists for: a SMALL trigger
      // whose bucket set is a real fraction of the folded layout
      timedJson("dd6_ann_trigger_250", factor) {
        land(arrival(0L, 250L), annSrc, "a0.parquet")
        annStream.processAllAvailable()
      }
      annInvariant("after_250", nVecs + 250L)
      timedJson("dd6_ann_trigger_5k", factor) {
        land(arrival(250L, 5250L), annSrc, "a1.parquet")
        annStream.processAllAvailable()
      }
      annInvariant("after_5k", nVecs + 5250L)
      // 20k arrival whose first 2.5k re-ship arrival 2's tail
      timedJson("dd6_ann_trigger_20k_overlap", factor) {
        land(arrival(2750L, 22750L), annSrc, "a2.parquet")
        annStream.processAllAvailable()
      }
      annInvariant("after_20k", nVecs + 22750L)
      // FLAT-TRIGGER samples (round-14 verdict ask #1): SIX same-size
      // 5k triggers against the (~)same store — the cell compared across
      // factors, six replicates for the same reason as the lex half
      // (ambient/GC variance is the same order as any store term; the
      // spread is the evidence). If the 1M and 2M stores' sample means
      // agree within noise, the per-trigger wall is store-flat; if not,
      // the phase decomposition (GRAFT_PHASE_TIMING) names the term
      // that grows.
      var sLo = 22750L
      (1 to 6).foreach { i =>
        timedJson(s"dd6_ann_trigger_5k_s$i", factor) {
          land(arrival(sLo, sLo + 5000L), annSrc, s"s$i.parquet")
          annStream.processAllAvailable()
        }
        sLo += 5000L
      }
      annInvariant("after_samples", nVecs + 52750L)
    } finally annStream.stop()
    twinQ.unpersist()
  }

  /** The lexical half of datadom6, in its own JVM (mode `datadom6lex`):
    * the ANN phase's block-manager residue plus a 5M-doc cached corpus
    * and the postings shuffle would not co-fit one local[32] heap — and
    * a fresh JVM is the honest shape anyway (one probe, one store).
    * Same contract as the ANN half: two arrival sizes through the real
    * checkpointed stream, a replay overlap, and exact planted-set
    * retrieval after every trigger.
    *
    *   sbt "runMain graft.tools.ScaleProbe 400 datadom6lex"  //  5M docs
    *   sbt "runMain graft.tools.ScaleProbe 800 datadom6lex"  // 10M docs
    */
  private def datadom6LexProbe(spark: SparkSession, factor: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.LexIndexStore
    val par = spark.sparkContext.defaultParallelism
    val base = Files.createTempDirectory("dd6lex").toString
    val nDocs = factor * 12500L
    val vocab = (0 until 1024).map(i => f"w$i%04d")
    val body = (0 until 48).map(j => element_at(typedlit(vocab),
      (pmod(xxhash64(col("id") * 48 + j), lit(1024)) + 1).cast("int")))
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", body: _*).as("text"))
      .repartition(par)
    println(s"""{"probe":"dd6_docs","factor":$factor,"docs":${docs.count()}}""")
    val lexDir = s"$base/lexidx"
    val lexSrc = s"$base/lexsrc"
    new java.io.File(lexSrc).mkdirs()
    timedJson("dd6_lex_build", factor) {
      LexIndexStore.build(spark, lexDir, docs, "doc_id", "text",
        nBuckets = 64)
    }
    // streamed docs: rare term planted at ids ≡ 7 (mod 500) — the
    // seed corpus has NONE, so retrieval reads only grown postings
    def docArrival(lo: Long, hi: Long) = spark.range(lo, hi)
      .select((col("id") + nDocs).as("doc_id"),
        concat_ws(" ", body :+
          when(pmod(col("id"), lit(500L)) === 7, lit("zzrareterm"))
            .otherwise(lit("")): _*).as("text"))
    val lexStream = LexIndexStore.streamingAddDocuments(spark, lexSrc,
      docArrival(0L, 1L).schema, lexDir, s"$base/lexckpt",
      "doc_id", "text", foldEvery = 2)
    def lexInvariant(stage: String, expectPlanted: Long): Unit = {
      val rare = spark.createDataFrame(Seq((9L, "zzrareterm")))
        .toDF("query_id", "qtext")
      val got = LexIndexStore.searchTopK(spark, lexDir, rare,
        "query_id", "qtext", k = 1000)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val ok = got.size == expectPlanted &&
        got.forall(id => (id - nDocs) % 500 == 7)
      println(s"""{"probe":"dd6_lex_${stage}","factor":$factor,""" +
        s""""planted_hits":${got.size},"all_planted":$ok}""")
      require(ok, s"$stage rare-term contract broke: ${got.size} hits " +
        s"(expected $expectPlanted, all ≡ 7 mod 500)")
    }
    try {
      // small-trigger regime first (one planted doc: id 7)
      timedJson("dd6_lex_trigger_500", factor) {
        land(docArrival(0L, 500L), lexSrc, "d0.parquet")
        lexStream.processAllAvailable()
      }
      lexInvariant("after_500", 1L)
      timedJson("dd6_lex_trigger_10k", factor) {
        land(docArrival(500L, 10500L), lexSrc, "d1.parquet")
        lexStream.processAllAvailable()
      }
      lexInvariant("after_10k", 21L)
      // 40k arrival re-shipping arrival 2's back half (ids 5.5k–10.5k)
      timedJson("dd6_lex_trigger_40k_overlap", factor) {
        land(docArrival(5500L, 45500L), lexSrc, "d2.parquet")
        lexStream.processAllAvailable()
      }
      // planted docs now ids ≡ 7 (mod 500) in [0, 45500) → 91; the
      // overlap's 10 re-shipped planted docs must NOT duplicate
      lexInvariant("after_40k", 91L)
      // flat-trigger samples (the ANN half's rationale): SIX same-size
      // 10k triggers — the cross-factor cell. Six, not three, because
      // the lex walls carry GC/ambient variance of the same order as
      // the signal on a 48 GB heap (the round-14 finding); the sample
      // spread is the evidence.
      var sLo = 45500L
      (1 to 6).foreach { i =>
        timedJson(s"dd6_lex_trigger_10k_s$i", factor) {
          land(docArrival(sLo, sLo + 10000L), lexSrc, s"s$i.parquet")
          lexStream.processAllAvailable()
        }
        sLo += 10000L
      }
      // 60k more streamed ids → 120 more planted
      lexInvariant("after_samples", 211L)
    } finally lexStream.stop()
  }

  /** The probe modes, by the name `main` takes. */
  private val probes: Map[String, (SparkSession, Int) => Unit] = Map(
    "datadom2" -> datadom2Probe,
    "datadom3" -> datadom3Probe,
    "datadom4" -> datadom4Probe,
    "datadom6" -> datadom6Probe,
    "datadom6lex" -> datadom6LexProbe)

  /** `<factor> <mode>` → (factor, mode). Throws IllegalArgumentException,
    * naming the modes, on anything else — before any session is built.
    */
  private[tools] def parseArgs(args: Array[String]): (Int, String) = {
    def usage(why: String) = new IllegalArgumentException(
      s"$why; usage: ScaleProbe <factor> <mode>, " +
        s"mode one of ${probes.keys.toSeq.sorted.mkString(", ")}")
    args match {
      case Array(f, mode) =>
        val factor = f.toIntOption.filter(_ > 0)
          .getOrElse(throw usage(s"factor '$f' is not a positive integer"))
        if (!probes.contains(mode)) throw usage(s"unknown mode '$mode'")
        (factor, mode)
      case _ => throw usage(s"expected 2 arguments, got ${args.length}")
    }
  }

  def main(args: Array[String]): Unit = {
    val (factor, mode) = parseArgs(args)
    val spark = Harness.buildSession()
    try probes(mode)(spark, factor) finally spark.stop()
  }
}
