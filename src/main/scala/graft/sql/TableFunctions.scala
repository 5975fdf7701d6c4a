package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TableFunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.functions.Registry
import graft.functions.Registry.{litBoolean, litDouble, litInt}
import graft.operators.{AnnIndexStore, Dedup, LexIndexStore, Skew, TextOps}

/** SQL-callable table functions for the engine's flagship operator
  * families — ANN search, BM25 search, near-dup keep verdicts. The
  * reference's entire query surface is SQL (`dashboard.py:59-108` is four
  * raw SELECTs); until round 12 these families were Scala-API-only, which
  * on a shared 100 TB cluster means every analyst needs a compiled jar on
  * the driver classpath AND Scala fluency. A table-valued function closes
  * that gap: a cluster admin installs `graft.GraftExtensions` once
  * (`spark.sql.extensions`) and `SELECT * FROM ann_topk(...)` works from
  * any SQL client, notebook, or JDBC session.
  *
  * Contract shared by every function here: every argument is a foldable
  * literal (the SQL-native calling convention — paths, column names and
  * knobs are query text, not data), and table-shaped inputs arrive as the
  * NAME of a registered view/table (`queriesView` / `docsView`), resolved
  * against the current catalog at analysis time. The builder runs during
  * analysis on the driver, where loading index *models* (centroid /
  * codebook matrices, corpus scalars — driver-sized by the store's own
  * contract) is exactly the work the Scala entry points do before
  * planning; the returned plan's corpus-sized work stays fully
  * distributed and partition-pruned (the underlying operators are
  * unchanged — parity with the Scala API is spec-pinned in
  * SqlTableFunctionsSpec, and the x68/x69/x70 registry entries run pure
  * `spark.sql` strings under the driver's DuckDB gate).
  */
object TableFunctions {

  type TableFunction =
    (FunctionIdentifier, ExpressionInfo, TableFunctionRegistry.TableFunctionBuilder)

  private def tvf(name: String)(build: Seq[Expression] => LogicalPlan): TableFunction =
    (FunctionIdentifier(name), new ExpressionInfo(getClass.getName, name), build)

  /** The one list of table functions. [[graft.GraftExtensions]] injects it,
    * [[registerOnce]] installs it, and the Column wrappers install it with
    * the kernels (see [[graft.functions.Registry]]).
    */
  val functions: Seq[TableFunction] = Seq(
    tvf("ann_topk")(annTopK),
    tvf("bm25_topk")(bm25TopK),
    tvf("dedup_keep")(dedupKeep),
    tvf("line_dedup")(lineDedup),
    tvf("bloom_new_ids")(bloomNewIds),
    tvf("media_probe")(mediaProbe),
    tvf("heavy_hitters")(heavyHitters),
    tvf("trigram_kn_score")(trigramKnScore),
    tvf("weighted_sample")(weightedSample),
    tvf("asof_join")(asofJoin),
    tvf("sessionize")(sessionize),
    tvf("chunk_docs")(chunkDocs),
    tvf("pack_sequences")(packSequences),
    tvf("stratified_sample")(stratifiedSample),
    tvf("shuffle_shards")(shuffleShards),
    tvf("budget_select")(budgetSelect),
    tvf("resample_locf")(resampleLocf),
    tvf("hybrid_topk")(hybridTopK),
    tvf("pii_scrub")(piiScrub),
    tvf("decontaminate")(decontaminate),
    tvf("containment_decontaminate")(containmentDecontaminate),
    tvf("semdedup_keep")(semdedupKeep),
    tvf("mix_sample")(mixSample),
    tvf("split_assign")(splitAssign))

  /** Imperative register-once path: a session built WITHOUT
    * `spark.sql.extensions=graft.GraftExtensions` opts in with one call —
    * how the registry queries stay runnable under any caller's session.
    * Installs only the names the session lacks, so repeats are free.
    */
  def registerOnce(spark: SparkSession): Unit =
    Registry.installMissing(spark.sessionState.tableFunctionRegistry, functions)

  private def litString(e: Expression): String = e.eval(null) match {
    case null => throw new IllegalArgumentException(
      "expected string literal, got NULL")
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => throw new IllegalArgumentException(
      s"expected string literal, got $other")
  }

  private def table(name: String) = SparkSession.active.table(name)

  /** `ann_topk(indexPath, queriesView, corpusId, corpusVec, queryId,
    * queryVec, k [, rerank])` → (query_id, neighbor_id, cos, rank).
    *
    * Adaptive IVF-PQ search against the PERSISTED index at `indexPath`
    * ([[AnnIndexStore.searchTopK]] verbatim: probed lists become literal
    * partition filters, optional exact rerank of the top `rerank`
    * shortlist). The search-many half of the index lifecycle, now one SQL
    * statement.
    */
  def annTopK(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 7 || exprs.length == 8,
      "ann_topk(indexPath, queriesView, corpusId, corpusVec, queryId, " +
        s"queryVec, k [, rerank]) takes 7 or 8 arguments, got ${exprs.length}")
    val spark = SparkSession.active
    val index = AnnIndexStore.load(spark, litString(exprs(0)))
    val rerank = if (exprs.length == 8) litInt(exprs(7)) else 0
    AnnIndexStore.searchTopK(index, table(litString(exprs(1))),
      litString(exprs(2)), litString(exprs(3)),
      litString(exprs(4)), litString(exprs(5)),
      k = litInt(exprs(6)), rerank = rerank)
      .queryExecution.logical
  }

  /** `bm25_topk(indexPath, queriesView, queryIdCol, queryTextCol, k)` →
    * (query_id, <stored id col>, n_hit_terms, score, rank).
    *
    * BM25 top-k against the PERSISTED inverted index at `indexPath`
    * ([[LexIndexStore.searchTopK]] verbatim: postings scan pruned to the
    * query vocabulary's token buckets, tombstone-corrected corpus
    * scalars). The stored document-id column name rides the index meta —
    * no argument needed.
    */
  def bm25TopK(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 5,
      "bm25_topk(indexPath, queriesView, queryIdCol, queryTextCol, k) " +
        s"takes 5 arguments, got ${exprs.length}")
    val spark = SparkSession.active
    LexIndexStore.searchTopK(spark, litString(exprs(0)),
      table(litString(exprs(1))), litString(exprs(2)), litString(exprs(3)),
      k = litInt(exprs(4)))
      .queryExecution.logical
  }

  /** `dedup_keep(docsView, idCol, textCol, shingleN, numHashes, bands,
    * minJaccard)` → (doc_id, cluster_id, keep).
    *
    * Full-corpus near-dup keep/drop verdicts: banded MinHash-LSH pairs
    * ([[Dedup.minhashLsh]] — bucketed candidates, never all-pairs) fed
    * through min-label connected components into one keeper per cluster
    * ([[Dedup.keepDecisions]]). Pairs are evidence; this is the verdict a
    * curation pipeline actually filters on — now `CREATE TABLE verdicts
    * AS SELECT * FROM dedup_keep(...)` away from any SQL session.
    */
  def dedupKeep(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 7,
      "dedup_keep(docsView, idCol, textCol, shingleN, numHashes, bands, " +
        s"minJaccard) takes 7 arguments, got ${exprs.length}")
    val docs = table(litString(exprs(0)))
    val idCol = litString(exprs(1))
    val pairs = Dedup.minhashLsh(docs, idCol, litString(exprs(2)),
      shingleN = litInt(exprs(3)), numHashes = litInt(exprs(4)),
      bands = litInt(exprs(5)), minJaccard = litDouble(exprs(6)))
    Dedup.keepDecisions(docs, idCol, pairs).queryExecution.logical
  }

  // int-or-long literal (mBits is a bit-space size — a 100 TB sketch
  // wants 2^37, past Int range, and SQL integer literals that size
  // arrive as BIGINT)
  private def litLong(e: Expression): Long = e.eval(null) match {
    case i: java.lang.Integer => i.toLong
    case l: java.lang.Long => l
    case other => throw new IllegalArgumentException(
      s"expected integer literal, got $other")
  }

  /** `line_dedup(docsView, idCol, textCol, minDocs)` →
    * (doc_id, n_lines, n_kept, text_clean).
    *
    * Cross-document boilerplate-line removal ([[TextOps.lineDedup]]
    * verbatim: a non-blank line in >= minDocs DISTINCT docs is dropped
    * from every doc, survivors reassemble in original order) — the
    * C4/CCNet cleaning step, now one SQL statement.
    */
  def lineDedup(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 4,
      "line_dedup(docsView, idCol, textCol, minDocs) takes 4 arguments, " +
        s"got ${exprs.length}")
    TextOps.lineDedup(table(litString(exprs(0))), litString(exprs(1)),
      litString(exprs(2)), minDocs = litLong(exprs(3)))
      .queryExecution.logical
  }

  /** `bloom_new_ids(seenView, incrementView, idCol, keyCol, mBits, k)` →
    * (idCol, keyCol, bloom_maybe, is_new).
    *
    * Bloom-prefiltered incremental new-key detection with exact
    * semantics ([[graft.operators.Skew.bloomNewIds]] verbatim) — the
    * ingest-dedup verdict as one SQL statement.
    */
  def bloomNewIds(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 6,
      "bloom_new_ids(seenView, incrementView, idCol, keyCol, mBits, k) " +
        s"takes 6 arguments, got ${exprs.length}")
    Skew.bloomNewIds(table(litString(exprs(0))), table(litString(exprs(1))),
      litString(exprs(2)), litString(exprs(3)),
      mBits = litLong(exprs(4)), k = litInt(exprs(5)))
      .queryExecution.logical
  }

  /** `media_probe(assetsView)` → (asset_id, media_type, container, width,
    * height, sample_rate, n_frames, duration_ms, brand, n_video_tracks,
    * n_audio_tracks).
    *
    * Header/box-structure-only container census
    * ([[graft.operators.Multimodal.containerProbe]] verbatim) — the
    * format-triage scan a multimodal corpus runs before any decode, as
    * one SQL statement. The view must carry (asset_id, media_type,
    * content).
    */
  def mediaProbe(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 1,
      s"media_probe(assetsView) takes 1 argument, got ${exprs.length}")
    graft.operators.Multimodal.containerProbe(table(litString(exprs(0))))
      .queryExecution.logical
  }

  /** `trigram_kn_score(modelPath, docsView, idCol, textCol)` →
    * (idCol, n_trigrams, avg_neg_logprob).
    *
    * Per-document interpolated-Kneser–Ney trigram perplexity scoring
    * against the PERSISTED model at `modelPath`
    * ([[graft.operators.Terms.loadTrigramKn]] +
    * [[graft.operators.Terms.scoreTrigramKn]] verbatim, held-out
    * backoff included) — the score-many half of the LM-filter
    * lifecycle as one SQL statement.
    */
  def trigramKnScore(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 4,
      "trigram_kn_score(modelPath, docsView, idCol, textCol) takes 4 " +
        s"arguments, got ${exprs.length}")
    val spark = SparkSession.active
    graft.operators.Terms.scoreTrigramKn(
      graft.operators.Terms.loadTrigramKn(spark, litString(exprs(0))),
      table(litString(exprs(1))), litString(exprs(2)), litString(exprs(3)))
      .queryExecution.logical
  }

  /** `weighted_sample(docsView, idCol, weightCol, k, seed)` →
    * (idCol, weight, rank).
    *
    * Deterministic Efraimidis–Spirakis weighted sampling without
    * replacement ([[TextOps.weightedSample]] verbatim: md5-derived
    * uniforms, exponential race, TakeOrderedAndProject top-k) — the
    * importance-weighted selection step as one SQL statement.
    */
  def weightedSample(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 5,
      "weighted_sample(docsView, idCol, weightCol, k, seed) takes 5 " +
        s"arguments, got ${exprs.length}")
    TextOps.weightedSample(table(litString(exprs(0))), litString(exprs(1)),
      org.apache.spark.sql.functions.col(litString(exprs(2))),
      k = litInt(exprs(3)), seed = litString(exprs(4)))
      .queryExecution.logical
  }

  /** `heavy_hitters(itemsView, itemCol, phi)` → (item, n, frac).
    *
    * Exact items exceeding `phi` of the stream through the Misra–Gries
    * bounded-state prefilter ([[graft.operators.Skew.heavyHittersExact]]
    * verbatim: one ≤k-entry-per-partition summary pass surfaces a
    * candidate superset, one candidate-filtered exact count confirms) —
    * the "what are my frequent items" question as one SQL statement,
    * with the sketch changing the plan, never the answer.
    */
  def heavyHitters(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 3,
      s"heavy_hitters(itemsView, itemCol, phi) takes 3 arguments, got ${exprs.length}")
    Skew.heavyHittersExact(table(litString(exprs(0))), litString(exprs(1)),
      phi = litDouble(exprs(2)))
      .queryExecution.logical
  }

  // comma-separated column list — the SQL-native encoding for a Seq
  // argument (`'user_id'` or `'user_id,region'`); names are trimmed,
  // empties refused so `'a,,b'` fails loudly instead of planning a
  // phantom column
  private def litCols(e: Expression, what: String): Seq[String] = {
    // split with limit -1: plain split(',') DROPS trailing empty fields,
    // so `'user_id,'` would pass the non-empty check silently
    val parts = litString(e).split(",", -1).map(_.trim).toSeq
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"$what must be a non-empty comma-separated column list")
    parts
  }

  /** `asof_join(leftView, rightView, keysCsv, leftTs, rightTs,
    * rightColsCsv, rightTieBreak [, toleranceNanos])` → left's columns +
    * (asof_ts, <carried right columns>).
    *
    * Most-recent-at-or-before temporal join ([[graft.operators.AsofJoin
    * .asofJoin]] verbatim: one union + one keyed window, never a
    * nested-loop). `rightColsCsv` entries are `src` or `src:outName`
    * (e.g. `'event_id:click_id,value'`); `keysCsv` is the equi-key list.
    * The timeseries family's flagship — now one SQL statement.
    */
  def asofJoin(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 7 || exprs.length == 8,
      "asof_join(leftView, rightView, keysCsv, leftTs, rightTs, " +
        "rightColsCsv, rightTieBreak [, toleranceNanos]) takes 7 or 8 " +
        s"arguments, got ${exprs.length}")
    val rightCols = litCols(exprs(5), "rightColsCsv").map { spec =>
      spec.split(':') match {
        case Array(src) => src.trim -> src.trim
        case Array(src, out) => src.trim -> out.trim
        case _ => throw new IllegalArgumentException(
          s"rightColsCsv entry '$spec' must be 'col' or 'col:outName'")
      }
    }.toMap
    graft.operators.AsofJoin.asofJoin(
      table(litString(exprs(0))), table(litString(exprs(1))),
      keys = litCols(exprs(2), "keysCsv"),
      leftTs = litString(exprs(3)), rightTs = litString(exprs(4)),
      rightCols = rightCols, rightTieBreak = litString(exprs(6)),
      tolerance = if (exprs.length == 8) Some(litLong(exprs(7))) else None)
      .queryExecution.logical
  }

  /** `sessionize(eventsView, keysCsv, tsCol, tieBreak, maxGap)` →
    * events' columns + session_seq.
    *
    * Gap-based session assignment ([[graft.operators.Sessionize
    * .sessionize]] verbatim: one keyed window, a new session whenever
    * the gap to the previous event exceeds `maxGap` in the timestamp
    * column's own units) — the clickstream/telemetry grouping step as
    * one SQL statement.
    */
  def sessionize(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 5,
      "sessionize(eventsView, keysCsv, tsCol, tieBreak, maxGap) takes 5 " +
        s"arguments, got ${exprs.length}")
    graft.operators.Sessionize.sessionize(table(litString(exprs(0))),
      keys = litCols(exprs(1), "keysCsv"), tsCol = litString(exprs(2)),
      tieBreak = litString(exprs(3)), maxGap = litLong(exprs(4)))
      .queryExecution.logical
  }

  /** `chunk_docs(docsView, idCol, textCol, chunkSize, stride)` →
    * (doc_id, chunk_idx, chunk, n_tokens).
    *
    * Sliding-window token chunking ([[TextOps.chunk]] verbatim: map-only
    * per-row window explosion, overlap = chunkSize − stride) — the
    * context-window splitting step as one SQL statement.
    */
  def chunkDocs(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 5,
      "chunk_docs(docsView, idCol, textCol, chunkSize, stride) takes 5 " +
        s"arguments, got ${exprs.length}")
    TextOps.chunk(table(litString(exprs(0))), litString(exprs(1)),
      litString(exprs(2)), chunkSize = litInt(exprs(3)),
      stride = litInt(exprs(4)))
      .queryExecution.logical
  }

  /** `pack_sequences(docsView, idCol, textCol, budget)` →
    * (idCol, seq_id, tok_start, tok_end, n_toks).
    *
    * Concat-and-chunk pack manifest ([[graft.operators.Pack
    * .packSequences]] verbatim). DELIBERATE exception to the
    * zero-jobs-at-analysis discipline the other builders keep: the
    * corpus-wide token offset is a distributed prefix sum whose
    * per-partition totals must materialize before any span can be
    * planned ([[graft.operators.Prefix.cumsumLong]] — a range shuffle +
    * one partitions-sized collect), so this builder runs that job at
    * analysis time, exactly the work the Scala call performs before
    * returning. Callers composing it into views should expect the
    * offset pass to run when the view is ANALYZED, not executed.
    */
  def packSequences(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 4,
      "pack_sequences(docsView, idCol, textCol, budget) takes 4 " +
        s"arguments, got ${exprs.length}")
    graft.operators.Pack.packSequences(table(litString(exprs(0))),
      litString(exprs(1)), litString(exprs(2)), budget = litInt(exprs(3)))
      .queryExecution.logical
  }

  /** `stratified_sample(docsView, idCol, stratumCol, perStratum)` →
    * (stratumCol, idCol, rank).
    *
    * Deterministic per-stratum uniform sample ([[graft.operators.TextOps
    * .stratifiedSample]] verbatim: md5-of-id order, id tiebreak, dense
    * 1-based rank) — the balanced per-stratum draw as one SQL statement.
    */
  def stratifiedSample(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 4,
      "stratified_sample(docsView, idCol, stratumCol, perStratum) takes " +
        s"4 arguments, got ${exprs.length}")
    graft.operators.TextOps.stratifiedSample(table(litString(exprs(0))),
      litString(exprs(1)), litString(exprs(2)), perStratum = litInt(exprs(3)))
      .queryExecution.logical
  }

  /** `shuffle_shards(docsView, idCol, nShards, seed)` → (idCol, shard,
    * pos).
    *
    * Deterministic global corpus shuffle + training-shard assignment
    * ([[graft.operators.TextOps.shuffleShards]] verbatim: md5("seed:id")
    * shard hash, (hash, id) order within shard) — the reproducible
    * export-shuffle step as one SQL statement.
    */
  def shuffleShards(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 4,
      "shuffle_shards(docsView, idCol, nShards, seed) takes 4 " +
        s"arguments, got ${exprs.length}")
    graft.operators.TextOps.shuffleShards(table(litString(exprs(0))),
      litString(exprs(1)), nShards = litInt(exprs(2)),
      seed = litString(exprs(3)))
      .queryExecution.logical
  }

  /** `budget_select(docsView, idCol, sourceCol, textCol, budgetsCsv,
    * qualityCol)` → kept rows + (n_tokens, cum_tokens).
    *
    * Token-budget mixture selection ([[graft.operators.TextOps
    * .budgetSelect]] verbatim: greedy best-first per source until the
    * source's token budget is spent; unlisted sources drop). `budgetsCsv`
    * is the SQL-native encoding of the per-source Map:
    * `'src1:800,src2:700'` — names trimmed, budgets non-negative longs,
    * malformed entries refused at analysis. `qualityCol` names the
    * best-first ordering column.
    */
  def budgetSelect(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 6,
      "budget_select(docsView, idCol, sourceCol, textCol, budgetsCsv, " +
        s"qualityCol) takes 6 arguments, got ${exprs.length}")
    val budgets = litCols(exprs(4), "budgetsCsv").map { spec =>
      spec.split(':') match {
        case Array(src, b) if src.trim.nonEmpty =>
          val n = try b.trim.toLong catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"budgetsCsv entry '$spec': budget '$b' is not a long")
          }
          src.trim -> n
        case _ => throw new IllegalArgumentException(
          s"budgetsCsv entry '$spec' must be 'source:tokenBudget'")
      }
    }.toMap
    graft.operators.TextOps.budgetSelect(table(litString(exprs(0))),
      litString(exprs(1)), litString(exprs(2)), litString(exprs(3)),
      budgets = budgets,
      quality = org.apache.spark.sql.functions.col(litString(exprs(5))))
      .queryExecution.logical
  }

  /** `resample_locf(eventsView, keyCol, tsCol, valueCol, step,
    * tieBreak)` → (keyCol, grid_ts, asof_ts, valueCol, src_<tieBreak>).
    *
    * Fixed-grid LOCF resample ([[graft.operators.Resample.resampleLocf]]
    * verbatim: per-key grid from floor(min/step)*step to max at `step`
    * spacing, each point carrying the most recent event at-or-before it
    * through the as-of machinery — union + keyed window, no join node).
    * `step` is in the timestamp column's own units (the engine's events
    * tables carry epoch-nanos longs).
    */
  def resampleLocf(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 6,
      "resample_locf(eventsView, keyCol, tsCol, valueCol, step, " +
        s"tieBreak) takes 6 arguments, got ${exprs.length}")
    graft.operators.Resample.resampleLocf(table(litString(exprs(0))),
      litString(exprs(1)), litString(exprs(2)), litString(exprs(3)),
      step = litLong(exprs(4)), tieBreak = litString(exprs(5)))
      .queryExecution.logical
  }

  /** `pii_scrub(docsView, idCol, textCol)` → (doc_id, n_email, n_phone,
    * n_ip, n_ssn, redacted).
    *
    * One-pass PII detection + redaction ([[TextOps.piiScrub]] verbatim:
    * the codegen'd scan kernel counts emails/phones/IPs/SSNs and emits
    * the redacted text in the same pass) — the scrub every training-data
    * pipeline runs before export, as one SQL statement.
    */
  def piiScrub(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 3,
      s"pii_scrub(docsView, idCol, textCol) takes 3 arguments, got ${exprs.length}")
    TextOps.piiScrub(table(litString(exprs(0))), litString(exprs(1)),
      litString(exprs(2)))
      .queryExecution.logical
  }

  /** `decontaminate(corpusView, idCol, textCol, benchView, benchIdCol,
    * promptCol, n [, verify])` → (doc_id, benchmark_id, span_start,
    * span_end, n_tokens).
    *
    * Benchmark decontamination ([[Dedup.decontaminate]] verbatim:
    * maximal ≥n-token spans of corpus docs appearing verbatim in the
    * held-out benchmark, positional rolling hashes, optional two-sided
    * verbatim verification) — the eval-leak scan as one SQL statement.
    */
  def decontaminate(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 7 || exprs.length == 8,
      "decontaminate(corpusView, idCol, textCol, benchView, benchIdCol, " +
        s"promptCol, n [, verify]) takes 7 or 8 arguments, got ${exprs.length}")
    Dedup.decontaminate(table(litString(exprs(0))), litString(exprs(1)),
      litString(exprs(2)), table(litString(exprs(3))), litString(exprs(4)),
      litString(exprs(5)), n = litInt(exprs(6)),
      verify = if (exprs.length == 8) litBoolean(exprs(7)) else false)
      .queryExecution.logical
  }

  /** `containment_decontaminate(corpusView, idCol, textCol, benchView,
    * benchIdCol, promptCol, n, minRatio)` → (doc_id, benchmark_id,
    * n_matched, n_bench_grams, containment, contaminated).
    *
    * Containment-ratio decontamination at the published n-gram recipe
    * ([[Dedup.containmentDecontaminate]] verbatim: distinct-gram
    * containment of each benchmark doc in each training doc, exact
    * 4-decimal HALF_UP ratio, whole-doc drop/keep verdict) — the
    * Brown et al. 2020 appendix-C gate as one SQL statement.
    */
  def containmentDecontaminate(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 8,
      "containment_decontaminate(corpusView, idCol, textCol, benchView, " +
        "benchIdCol, promptCol, n, minRatio) takes 8 arguments, " +
        s"got ${exprs.length}")
    Dedup.containmentDecontaminate(table(litString(exprs(0))),
      litString(exprs(1)), litString(exprs(2)), table(litString(exprs(3))),
      litString(exprs(4)), litString(exprs(5)), n = litInt(exprs(6)),
      minRatio = litDouble(exprs(7)))
      .queryExecution.logical
  }

  /** `semdedup_keep(embView, idCol, vecCol, nClusters, minCos, iters)` →
    * (idCol, cid, cluster_size, dup_group, keep, paired).
    *
    * SemDeDup whole-corpus semantic dedup ([[Dedup.semDeDup]] verbatim:
    * k-means clusters scope the pair search, transitive groups, one
    * keeper per group, a verdict row for EVERY vector; oversize clusters
    * refine recursively at the defaults) — the embedding-space
    * curation verdict as one SQL statement.
    */
  def semdedupKeep(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 6,
      "semdedup_keep(embView, idCol, vecCol, nClusters, minCos, iters) " +
        s"takes 6 arguments, got ${exprs.length}")
    Dedup.semDeDup(table(litString(exprs(0))), litString(exprs(1)),
      litString(exprs(2)), nClusters = litInt(exprs(3)),
      minCos = litDouble(exprs(4)), iters = litInt(exprs(5)))
      .queryExecution.logical
  }

  /** `mix_sample(docsView, idCol, sourceCol, ratesCsv)` → the kept rows.
    *
    * Deterministic per-source mixture sampling ([[TextOps.mixSample]]
    * verbatim: id-hash-decided keep verdicts, growth-stable). `ratesCsv`
    * is the SQL-native encoding of the rate table: `'web:0.5,books:1.0'`
    * — names trimmed, rates in [0,1], malformed entries refused at
    * analysis (the `budget_select` convention).
    */
  def mixSample(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 4,
      "mix_sample(docsView, idCol, sourceCol, ratesCsv) takes 4 " +
        s"arguments, got ${exprs.length}")
    val rates = litCols(exprs(3), "ratesCsv").map { spec =>
      spec.split(':') match {
        case Array(src, r) if src.trim.nonEmpty =>
          val v = try r.trim.toDouble catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"ratesCsv entry '$spec': rate '$r' is not a double")
          }
          src.trim -> v
        case _ => throw new IllegalArgumentException(
          s"ratesCsv entry '$spec' must be 'source:rate'")
      }
    }.toMap
    TextOps.mixSample(table(litString(exprs(0))), litString(exprs(1)),
      litString(exprs(2)), rates)
      .queryExecution.logical
  }

  /** `split_assign(docsView, idCol [, weightsCsv])` → (idCol, split).
    *
    * Deterministic train/val/test assignment ([[TextOps.splitAssign]]
    * verbatim: exact-integer-range id hash, cross-engine-reproducible;
    * default weights train:0.8,val:0.1,test:0.1). `weightsCsv` follows
    * the `mix_sample` encoding and must sum to 1.
    */
  def splitAssign(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 2 || exprs.length == 3,
      "split_assign(docsView, idCol [, weightsCsv]) takes 2 or 3 " +
        s"arguments, got ${exprs.length}")
    val idCol = litString(exprs(1))
    val weights =
      if (exprs.length == 2) Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
      else litCols(exprs(2), "weightsCsv").map { spec =>
        spec.split(':') match {
          case Array(name, w) if name.trim.nonEmpty =>
            val v = try w.trim.toDouble catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                s"weightsCsv entry '$spec': weight '$w' is not a double")
            }
            name.trim -> v
          case _ => throw new IllegalArgumentException(
            s"weightsCsv entry '$spec' must be 'split:weight'")
        }
      }
    val docs = table(litString(exprs(0)))
    docs.select(org.apache.spark.sql.functions.col(idCol),
      TextOps.splitAssign(
        org.apache.spark.sql.functions.col(idCol), weights).as("split"))
      .queryExecution.logical
  }

  /** `hybrid_topk(annIndexPath, lexIndexPath, queriesView, qidCol,
    * qtextCol, dim, k [, nCand, kRrf, rerank])` → (query_id, doc_id,
    * rrf, ann_rank, lex_rank, rank).
    *
    * Reciprocal-rank fusion of the two persisted search stores
    * ([[graft.operators.Retrieval.hybridTopK]] verbatim: the query
    * embeds in-engine via `hashed_tf_vec(qtext, dim)`, BM25 postings
    * and IVF-PQ lists are each read pruned, and the rank-only fusion
    * joins two nCand-bounded frames) — the RAG first-stage hybrid
    * retriever as one SQL statement.
    */
  def hybridTopK(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length >= 7 && exprs.length <= 10,
      "hybrid_topk(annIndexPath, lexIndexPath, queriesView, qidCol, " +
        "qtextCol, dim, k [, nCand, kRrf, rerank]) takes 7 to 10 " +
        s"arguments, got ${exprs.length}")
    graft.operators.Retrieval.hybridTopK(SparkSession.active,
      litString(exprs(0)), litString(exprs(1)), table(litString(exprs(2))),
      litString(exprs(3)), litString(exprs(4)),
      dim = litInt(exprs(5)), k = litInt(exprs(6)),
      nCand = if (exprs.length > 7) litInt(exprs(7)) else 20,
      kRrf = if (exprs.length > 8) litInt(exprs(8)) else 60,
      rerank = if (exprs.length > 9) litInt(exprs(9)) else 50)
      .queryExecution.logical
  }
}
