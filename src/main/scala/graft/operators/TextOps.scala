package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM training-data pipelines over the
  * `documents` table (doc_id, text, lang, source, n_chars): language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * Everything is Column-composition (built-in string/regex/higher-order
  * functions) — no UDFs, so the whole stage is a single codegen'd pass per
  * document; at 100 TB these run scan-parallel with zero shuffles.
  */
object TextOps {

  /** Whitespace tokenization (empty string → 0 tokens). */
  def wsTokens(text: Column): Column =
    when(trim(text) === "" || text.isNull, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def wsTokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish subword-boundary token count: runs of word chars OR single
    * non-word-non-space chars — the usual pre-tokenizer regex shape.
    * ASCII classes keep Spark (Java regex) and any SQL oracle (RE2)
    * agreeing byte-for-byte.
    */
  val BpeTokenPattern = "[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"
  def bpeTokenCount(text: Column): Column =
    coalesce(regexp_count(text, lit(BpeTokenPattern)), lit(0))

  /** Punctuation/symbol count: chars that are neither alphanumeric nor
    * whitespace.
    */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]+", ""))

  def punctRatio(text: Column): Column =
    punctCount(text).cast("double") / greatest(length(text), lit(1)).cast("double")

  /** Per-language stopword lists (single source of truth lives with the
    * [[graft.functions.Stopwords]] kernel).
    */
  val stopwords: Map[String, Seq[String]] = graft.functions.Stopwords.lists

  /** Language-ID heuristic: CJK-character density decides zh; otherwise the
    * language whose stopword list hits most tokens (ties break to the
    * lexicographically larger code — deterministic).
    * [[graft.functions.LangId]] kernel.
    */
  def langId(text: Column): Column =
    graft.functions.LangExpressions.lang_id(text)

  /** Quality score in [0,1]: blend of length band, punctuation sanity,
    * mean-word-length band, and stopword presence — the standard cheap
    * quality gates (length/punct/stopword ratios).
    */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val lenScore = least(len / 200.0, lit(1.0)) * when(len > 20000, 0.5).otherwise(1.0)
    val punctScore = when(punctRatio(text) > 0.2, 0.3).otherwise(1.0)
    val toks = wsTokenCount(text).cast("double")
    val meanWord = len / greatest(toks, lit(1.0))
    val wordScore = when(meanWord < 2 || meanWord > 12, 0.5).otherwise(1.0)
    val anyStop = array_max(graft.functions.LangExpressions.stopword_ratios(text))
    val stopScore = when(anyStop > 0.05, 1.0).otherwise(0.7)
    round(lenScore * punctScore * wordScore * stopScore, 4)
  }

  /** One-pass PII scan of a text column: struct(n_email, n_phone, n_ip,
    * n_ssn, redacted) — detection counts plus the text with each match
    * replaced by its class token (`<EMAIL>`/`<SSN>`/`<IP>`/`<PHONE>`),
    * from a single codegen'd kernel scan
    * ([[graft.functions.PiiScanExpr]]). The standard corpus-cleaning
    * gate before training-data release; patterns and application order
    * documented on the kernel.
    */
  def piiScan(text: Column): Column =
    graft.functions.TextVectorExpressions.pii_scan(text)

  /** PII scrub as a DataFrame pass: one row per input doc with the four
    * detection counts and the redacted text. Map-only — scan-parallel at
    * 100 TB with zero shuffles, like every other TextOps gate.
    *
    * The scan hides behind `explode(array(…))`: a bare struct ALIAS gets
    * inlined by CollapseProject/PushDownPredicate into every downstream
    * field use — a filter over the four counts re-ran the full text scan
    * four times per row (measured 2.5× on x26) — whereas a Generate
    * output is an attribute nothing can substitute through, so the
    * kernel runs exactly once per row and the one-element explode is
    * itself codegen'd.
    */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(array(piiScan(col(textCol)))).as("_p"))
      .select(col("doc_id"),
        col("_p.n_email").as("n_email"), col("_p.n_phone").as("n_phone"),
        col("_p.n_ip").as("n_ip"), col("_p.n_ssn").as("n_ssn"),
        col("_p.redacted").as("redacted"))

  /** One-pass repetition/boilerplate profile of a text column: struct
    * (n_lines, dup_line_frac, dup_line_char_frac, top_2gram_char_frac,
    * dup_5gram_char_frac) — the Gopher-rules repetition signals (Rae et
    * al. 2021), which catch machine-generated/template text before any
    * semantic filter sees it. Definitions on
    * [[graft.functions.TextVectorKernels.repetitionStats]].
    */
  def repetitionStats(text: Column): Column =
    graft.functions.TextVectorExpressions.repetition_stats(text)

  /** Composite repetition verdict over a [[repetitionStats]] struct, at
    * the Gopher-family thresholds: dup_line_frac > 0.30,
    * dup_line_char_frac > 0.20, top_2gram_char_frac > 0.20,
    * dup_5gram_char_frac > 0.15 — any one trips it. One definition,
    * shared by [[repetitionProfile]] and the x23 corpus-clean gate.
    */
  def repetitive(rep: Column): Column =
    rep.getField("dup_line_frac") > 0.30 ||
      rep.getField("dup_line_char_frac") > 0.20 ||
      rep.getField("top_2gram_char_frac") > 0.20 ||
      rep.getField("dup_5gram_char_frac") > 0.15

  /** Repetition profile as a DataFrame pass: one row per doc with the
    * four repetition fractions plus the [[repetitive]] verdict. Map-only,
    * zero shuffles, like every TextOps gate; the same explode(array(…))
    * barrier as [[piiScrub]] keeps the single kernel scan from being
    * inlined into each of the five field uses.
    */
  def repetitionProfile(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(array(repetitionStats(col(textCol)))).as("_r"))
      .select(col("doc_id"),
        col("_r.n_lines").as("n_lines"),
        round(col("_r.dup_line_frac"), 6).as("dup_line_frac"),
        round(col("_r.dup_line_char_frac"), 6).as("dup_line_char_frac"),
        round(col("_r.top_2gram_char_frac"), 6).as("top_2gram_char_frac"),
        round(col("_r.dup_5gram_char_frac"), 6).as("dup_5gram_char_frac"),
        repetitive(col("_r")).as("repetitive"))

  /** Cross-document LINE deduplication — the C4/CCNet boilerplate
    * remover that per-doc repetition profiling (x27) cannot express: a
    * nav bar or cookie banner appearing ONCE per page is invisible to
    * any within-doc statistic, but lights up across documents. A line
    * (exact match, whitespace-only lines exempt) occurring in at least
    * `minDocs` DISTINCT documents is removed from EVERY document; the
    * survivors reassemble in original order.
    *
    * Shape at 100 TB: one posexplode pass, one distinct + count
    * aggregation over (line) — the same partial-agg heavy-hitter
    * exchange every dedup family runs — and one equi-join of the line
    * stream against the heavy set. The heavy set is bounded by lines
    * crossing the threshold (template/boilerplate mass — tiny vs the
    * corpus; Zipf guarantees the join's build side stays small relative
    * to the stream, and AQE picks broadcast when it fits). Reassembly is
    * the per-doc groupBy that any per-doc output needs. Output:
    * `(doc_id, n_lines, n_kept, text_clean)` with `text_clean` the
    * surviving lines joined by newline ("" when everything was
    * boilerplate — never null).
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      minDocs: Long = 3L): DataFrame = {
    require(minDocs >= 2, s"minDocs ($minDocs) must be >= 2 — at 1 every line is boilerplate")
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
    val heavy = lines.filter(trim(col("line")) =!= "")
      .select(col("doc_id"), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("line"), lit(true).as("_dup"))
    lines.join(heavy, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_dup").isNull, 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips nulls, so the when() keeps only surviving
        // lines; array_sort on (line_no, line) restores document order
        concat_ws("\n", transform(array_sort(collect_list(
            when(col("_dup").isNull, struct(col("line_no"), col("line"))))),
          x => x.getField("line"))).as("text_clean"))
  }

  /** Word n-gram shingles of the lowercased text — the declarative
    * reference semantics for [[graft.functions.ShingleHashes]] (which the
    * dedup/fingerprint operators use; this Column form re-evaluates the
    * token split per element). ExtensionOpsSpec cross-checks the two
    * agree on shingle-set size so kernel semantics can't silently drift.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = wsTokens(lower(text))
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Document fingerprint: min-hash of word-5-gram shingle hashes (a
    * winnowing-style rolling fingerprint — the minimum of the shingle hash
    * sequence, via the [[graft.functions.ShingleHashes]] kernel), plus the
    * full-text hash. Identical pipeline on every executor → deterministic.
    */
  def fingerprint(text: Column): Column =
    struct(
      xxhash64(text).as("full_hash"),
      array_min(graft.functions.TextVectorExpressions.shingle_hashes(text, 5))
        .as("min_shingle_hash"))

  /** Token-window chunking for context-window preparation: whitespace
    * tokens re-joined into windows of `chunkSize` tokens starting every
    * `stride` tokens (stride < chunkSize ⇒ overlapping windows; the last
    * window may be shorter). Map-only — a projection + explode, no
    * shuffle, no UDF; the token array materializes as a column first so
    * the window lambda captures a bound attribute, not a re-evaluated
    * split (the HOF-recapture pitfall). Tokenization is [[wsTokens]],
    * whose trim+`\s+` semantics the x09 oracle already pins against SQL.
    *
    * Output per doc: (chunk_idx, chunk, n_tokens), one row per window,
    * starts at 0, stride, 2·stride … while < token count.
    */
  def chunk(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1 && stride >= 1,
      s"chunkSize ($chunkSize) and stride ($stride) must be ≥ 1")
    docs.select(col(idCol).as("doc_id"), wsTokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("toks")) - 1, lit(stride)),
          start => struct(
            concat_ws(" ", slice(col("toks"), start + 1, lit(chunkSize))).as("chunk"),
            least(lit(chunkSize), size(col("toks")) - start).as("n_tokens"))))
          .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx"),
        col("c.chunk").as("chunk"), col("c.n_tokens").as("n_tokens"))
  }

  /** Deterministic train/val/test assignment from a numeric id: a
    * Knuth-multiplicative hash of the id mapped to [0,1), compared against
    * cumulative weight thresholds. Map-only (no shuffle, no RNG state), so
    * the split is stable under re-runs, retries, repartitioning, AND
    * corpus growth — a doc keeps its split forever, which is the property
    * training pipelines need (a re-shuffled split leaks yesterday's train
    * docs into today's test set). The arithmetic stays in exact-integer
    * long range so the same expression is reproducible in any engine
    * (the oracle recomputes it in DuckDB SQL verbatim).
    */
  /** Deterministic per-source mixture sampling ("data mixing"): keep each
    * doc with probability `rates(source)`, decided by the same
    * Knuth-multiplicative id hash [[splitAssign]] uses but with a
    * different additive salt, so a doc's mixture decision is independent
    * of its split assignment. Map-only and id-pure: stable under re-runs,
    * retries, repartitioning, and corpus growth — the doc set a mixture
    * produces never silently shifts between pipeline runs (`rand()`-based
    * sampling re-draws every run and every retry of a failed task).
    * Sources absent from `rates` are dropped: a mixture spec is an
    * explicit allowlist, and silently passing an unlisted source through
    * would skew the trained distribution.
    */
  def mixSample(docs: DataFrame, idCol: String, sourceCol: String,
      rates: Map[String, Double]): DataFrame = {
    require(rates.nonEmpty && rates.values.forall(r => r >= 0.0 && r <= 1.0),
      s"mixture rates must be in [0,1] (got $rates)")
    val rate = rates.foldLeft(lit(0.0)) { case (acc, (s, r)) =>
      when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    // same exact-integer-range arithmetic as splitAssign (reproducible in
    // any engine); salt 777777 decorrelates from the split's 12345
    val frac = pmod(pmod(col(idCol).cast("long"), lit(1000003L)) * lit(2654435761L)
      + lit(777777L), lit(4294967296L)).cast("double") / lit(4294967296.0)
    docs.filter(frac < rate)
  }

  /** Per-stratum uniform sample: a deterministic top-`perStratum` draw
    * inside each stratum, ordered by md5 of the id (cross-engine-
    * identical, the repo sampling idiom — `rand()` would re-draw per
    * retry) with the id as total-order tiebreak. Output: (stratumCol,
    * idCol, rank). Stable under corpus growth in the prefix sense: a
    * document's md5 order key never changes, so adding documents can
    * only push rows OUT of the sample, never reshuffle the kept prefix.
    *
    * Scale posture: one shuffle on the stratum; the rank window scans
    * each stratum's partition once and the filter keeps `perStratum`
    * rows, so the output is strata × perStratum — driver-safe at any
    * corpus size (a skewed mega-stratum still ranks on one task; when a
    * stratum outgrows a partition, pre-filter on a cheap md5-prefix
    * range to bound the window's input first).
    */
  def stratifiedSample(docs: DataFrame, idCol: String, stratumCol: String,
      perStratum: Int): DataFrame = {
    require(perStratum >= 1, s"perStratum ($perStratum) must be >= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.select(col(stratumCol), col(idCol),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= perStratum)
  }

  /** Token-budget mixture selection: per source, take documents in
    * (quality desc, id) order until the source's TOKEN budget is spent —
    * the operator that turns per-source token targets ("300B web, 50B
    * code, 30B books") into an actual document selection. A document is
    * kept iff its group-wise running token total (its own tokens
    * included) fits the budget — greedy best-first, deterministic, and
    * growth-stable in the prefix sense (adding worse docs never evicts
    * better ones). Sources without a budget are dropped (the
    * [[mixSample]] allowlist semantics).
    *
    * Scale posture: the running total is
    * [[Prefix.cumsumLongByKey]] — a range-partitioned group-wise scan,
    * NOT a per-source window (one dominant source would pin a window's
    * whole partition on one task). Output: the kept rows plus
    * `(n_tokens, cum_tokens)`.
    */
  def budgetSelect(docs: DataFrame, idCol: String, sourceCol: String,
      textCol: String, budgets: Map[String, Long],
      quality: Column): DataFrame = {
    require(budgets.nonEmpty && budgets.values.forall(_ >= 0),
      s"budgets must be non-negative (got $budgets)")
    val budget = budgets.foldLeft(lit(-1L)) { case (acc, (s, b)) =>
      when(col(sourceCol) === s, lit(b)).otherwise(acc)
    }
    val scored = docs
      .withColumn("_budget", budget)
      .filter(col("_budget") >= 0L)
      .withColumn("n_tokens", wsTokenCount(col(textCol)).cast("long"))
      .withColumn("_q", quality)
    graft.operators.Prefix.cumsumLongByKey(scored, sourceCol,
        Seq(col("_q").desc, col(idCol)), "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= col("_budget"))
      .drop("_budget", "_q")
  }

  /** Deterministic global corpus shuffle + training-shard assignment:
    * every document gets a `shard` in [0, nShards) and a dense 1-based
    * `pos` within its shard, both pure functions of (seed, id) — the
    * "global shuffle" step between packing and the training loader, made
    * reproducible (a `rand()` shuffle re-draws on every retry, so two
    * runs of the same export would feed different batch orders).
    * Hash = md5 of `"seed:id"` (cross-engine-identical, the x37 idiom);
    * shard = first 8 hex digits mod nShards, order within shard =
    * (full hash, id) — id tiebreak makes the order total even under a
    * (astronomically unlikely) hash collision.
    *
    * Scale posture: one shuffle on `shard`; each window partition holds
    * ~corpus/nShards rows, so `nShards` sizes partitions exactly the way
    * `spark.sql.shuffle.partitions` does — the caller picks it to bound
    * partition memory (1024 shards over 100 TB ≈ 100 GB of ids/hashes
    * per partition is still too hot; real exports use 10k+ shards, and
    * the rank is over (hash, id) only — text does NOT ride the shuffle).
    */
  def shuffleShards(docs: DataFrame, idCol: String, nShards: Int,
      seed: String): DataFrame = {
    require(nShards >= 1, s"nShards ($nShards) must be >= 1")
    val h = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_h"), col(idCol))
    docs.select(col(idCol), h.as("_h"),
        pmod(conv(substring(h, 1, 8), 16, 10).cast("long"),
          lit(nShards.toLong)).as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis & Spirakis 2006),
    * deterministic: each row draws a reproducible 52-bit uniform
    * u = (md5₁₃(seed:id) + 0.5) / 2⁵² — every step dyadic-exact, so u is
    * bit-identical on any engine — and the k rows with the smallest
    * exponential race time e = −ln(u)/w win (the A-ES key u^(1/w) in its
    * monotone-equivalent log form). Higher weight ⇒ stochastically
    * smaller e ⇒ selected more often; a rerun or retry redraws NOTHING
    * (the x37/x51 md5 idiom — `rand()` sampling re-draws per retry, the
    * SPARK-23207 class). The sampling-family completion: splitAssign
    * partitions, stratifiedSample is per-group uniform, budgetSelect is
    * best-first under a budget, mixSample is rate-per-class — this is
    * importance-weighted selection (sample ∝ quality/recency weight).
    *
    * Output: `(idCol, weight, rank)`, rank 1 = first selected. The race
    * keys themselves are NOT emitted: ln/pow differ by ±1 ulp across
    * engines, which is harmless to the selected SET (two rows' keys
    * within an ulp of each other is a ~n²/10¹⁶ event) but would
    * hash-fail a value compare — the ids/weights/ranks are the stable
    * contract (same reasoning as the dedup families' ids-only outputs).
    *
    * Scale posture: the uniform and the key are map-only; selection is
    * `orderBy(e).limit(k)` — TakeOrderedAndProject (per-partition heaps,
    * never a global sort; plan-guarded) — and the rank window runs on
    * the ALREADY-LIMITED k-row frame, so its single partition holds k
    * rows by construction, not a corpus partition.
    */
  def weightedSample(docs: DataFrame, idCol: String, weight: Column,
      k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val h = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val u = (conv(substring(h, 1, 13), 16, 10).cast("double") + lit(0.5)) /
      lit(4503599627370496.0)
    // rows with weight <= 0 are unsampleable (a zero-weight row must
    // never win and −ln(u)/0 is ±Inf) — drop them before racing
    val top = docs.withColumn("_w", weight.cast("double"))
      .filter(col("_w") > 0.0)
      .withColumn("_e", -log(u) / col("_w"))
      .orderBy(col("_e"), col(idCol))
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_e"), col(idCol))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col(idCol), col("_w").as("weight"), col("rank"))
  }

  def splitAssign(id: Column,
      weights: Seq[(String, Double)] =
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))): Column = {
    require(weights.nonEmpty && math.abs(weights.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1 (got $weights)")
    // ((id mod p) * A + B) mod 2^32 / 2^32: p keeps the product in exact
    // long range for ANY id (no overflow wrap to match across engines),
    // A = Knuth's 2654435761 scatters consecutive ids
    val frac = pmod(pmod(id.cast("long"), lit(1000003L)) * lit(2654435761L)
      + lit(12345L), lit(4294967296L)).cast("double") / lit(4294967296.0)
    val cum = weights.scanLeft(0.0)(_ + _._2).tail
    weights.zip(cum).init.foldRight(lit(weights.last._1): Column) {
      case (((name, _), threshold), elseCol) =>
        when(frac < threshold, lit(name)).otherwise(elseCol)
    }
  }
}
