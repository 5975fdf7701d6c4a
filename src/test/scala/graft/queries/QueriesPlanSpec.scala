package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Physical-plan assertions (the 100 TB posture, checked at sf0.001):
  * filters and projections must reach the parquet scan, dimension joins
  * must broadcast, scans must prune columns, and single-pass operators must
  * not shuffle. Guards against regressions that stay correct but stop
  * scaling.
  */
class QueriesPlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q06 point lookup: predicate pushed to parquet scan") {
    val p = plan("q06_point_lookup")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]"), p)
  }

  test("q05 left join: small dimension broadcast, no shuffle join") {
    val p = plan("q05_left_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q01 filter+count: filter pushdown + column pruning to empty schema") {
    val p = plan("q01_filter_count")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"), p)
    // count(*) after the filter needs no other columns
    assert(p.contains("ReadSchema: struct<event_type:string>"), p)
  }

  test("q02 projection: scan reads only the two projected columns") {
    val p = plan("q02_project_cast")
    assert(p.contains("ReadSchema: struct<event_id:bigint,value:double>"), p)
  }

  test("q13 group agg: partial aggregation before the exchange") {
    val p = plan("q13_group_agg")
    // HashAggregate(partial) -> Exchange -> HashAggregate(final): map-side combine
    val firstAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0, p)
    assert(p.substring(exchange).contains("HashAggregate"), p)
  }

  test("q15 topk: TakeOrderedAndProject, not a global sort") {
    val p = plan("q15_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x09 text stats: map-only pass — no shuffle exchange except the sort") {
    val p = plan("x09_text_stats")
    // a single Sort for the ORDER BY is expected; no aggregation/join exchange
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
  }

  test("x27 repetition profile: map-only pass — the kernel runs once per row") {
    val p = plan("x27_repetition")
    // per-doc gate: no aggregation or join may appear; only the ORDER BY sort
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
    // the explode(array(…)) barrier must survive as a Generate — if
    // CollapseProject inlines the struct alias, the one-pass kernel
    // re-runs per projected field (the measured 2.5× x26 hazard)
    assert(p.contains("Generate"), p)
    assert(p.split("repetition_stats", -1).length - 1 <= 1,
      s"repetition_stats must appear at most once in the plan:\n$p")
  }

  test("x26 pii scrub: single Generate barrier — one kernel scan per row") {
    val p = plan("x26_pii_scrub")
    assert(p.contains("Generate"), p)
    assert(p.split("pii_scan", -1).length - 1 <= 1,
      s"pii_scan must appear at most once in the plan:\n$p")
  }

  test("q18 decode pipeline: inflate_raw runs after the topic filter") {
    // needs a real file source: over a LocalRelation Catalyst constant-folds
    // the entire decode away (ConvertToLocalRelation), which is itself good
    val f = java.nio.file.Files.createTempDirectory("plancheck")
    java.nio.file.Files.write(f.resolve("cap.txt"),
      graft.f1.Fixtures.pyLines.mkString("\n").getBytes)
    val events = graft.sources.EventSource.readBatch(spark, f.toString)
    val plan = graft.operators.F1Transforms.telemetry(events)
      .queryExecution.executedPlan
    // structural check (string offsets can't express tree order): the
    // topic Filter must be a DESCENDANT of the node computing inflate_raw,
    // i.e. rows are filtered before the decode ever evaluates
    val inflateNode = plan.collectFirst {
      case n if n.expressions.exists(_.exists(_.toString.contains("inflate_raw"))) => n
    }
    assert(inflateNode.isDefined, s"no node computes inflate_raw:\n$plan")
    val topicFilterBelow = inflateNode.get.children.flatMap(_.collect {
      case fx: org.apache.spark.sql.execution.FilterExec
        if fx.condition.exists(_.toString.contains("topic")) => fx
    })
    assert(topicFilterBelow.nonEmpty,
      s"topic Filter is not below the inflate_raw projection:\n$plan")
  }

  test("x13 metadata stats: content/text columns pruned from the scan") {
    // the multimodal scaladoc's claim that metadata aggregation never
    // deserializes the (synthetic) binary column — the projection chain
    // must collapse so the parquet scan reads doc_id alone
    val p = plan("x13_multimodal_metadata")
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
  }

  test("entry: all dimension joins broadcast; single agg shuffle") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x20 split: codegen'd expression, no UDF, split column never shuffles raw rows") {
    val p = plan("x20_train_split")
    // the assignment is a pure case-when over hash arithmetic: it must
    // stay inside whole-stage codegen (no BatchEvalPython/ScalaUDF) and
    // partial-aggregate before the exchange (corpus rows never shuffle)
    assert(!p.contains("UDF") && !p.contains("BatchEval"), p)
    assert(p.contains("partial_count"), p)
  }

  test("x18 PQ search: queries broadcast against the code scan, no shuffle join") {
    val p = plan("x18_ann_pq_topk")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x34b sketch profile: single scan, NO expand node (x34's exact path expands)") {
    // exact multi-column countDistinct expands the input ×distinct-aggs;
    // the sketch route must not — that's the whole point of x34b
    val sketch = plan("x34b_profile_sketch")
    assert(!sketch.contains("Expand"), sketch)
    assert(sketch.contains("partial"), sketch) // still partial-aggregated map-side
    val exact = plan("x34_profile")
    assert(exact.contains("Expand"), "x34's exact path stopped expanding — " +
      "if countDistinct planning improved, retire this contrast assertion")
  }

  test("x35 overlap join: hash equi-join on (key, bucket), never nested-loop") {
    val p = plan("x35_overlap_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x33b sketch quantiles: partial aggregation, no per-group value sort") {
    val p = plan("x33b_quantiles_sketch")
    // the exact path (x33) sorts every group's values; the sketch path is
    // a hash aggregate with map-side partials — one exchange, no Sort
    assert(p.contains("partial_approx_percentile"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("x36 pack: global token offsets WITHOUT a single-partition collapse") {
    // the corpus-wide cumsum is the distributed three-step scan
    // (Prefix.cumsumLong); a naive global-window formulation would plan
    // `Exchange SinglePartition` here and die at 100 TB
    val p = plan("x36_pack_sequences")
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("x39 vocab: partial-aggregated count + top-k, never a global sort") {
    val p = plan("x39_vocab_topk")
    assert(p.contains("partial_count"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x40 tfidf: df by groupBy+join off the pinned tf table, never a term-partitioned window") {
    val exec = SparkEntry.queries("x40_tfidf_topterms")(spark, dir)
      .queryExecution.executedPlan
    val p = exec.toString
    // ≤ 2 parquet scans: the token explode feeding the pinned tf table +
    // the column-pruned doc count; both df and the rank window read the
    // checkpointed tf, so the explode subtree is never duplicated (the
    // df self-join regression this originally guarded against)
    assert("Scan parquet".r.findAllIn(p).length <= 2, p)
    // df must arrive via partial-aggregated groupBy (skew-immune) joined
    // back on term — NOT a count window partitioned by the term, whose
    // hottest Zipf partition is O(n_docs) rows on one task that AQE
    // cannot split (skew split covers joins/aggs, not window exchanges)
    val termWindows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.length == 1 &&
            w.partitionSpec.head.references.toSeq.map(_.name.toLowerCase) == Seq("token") => w
    }
    assert(termWindows.isEmpty, s"df computed by a token-partitioned window:\n$p")
    // the rank window (per-doc, uniform) is still there
    assert(p.contains("Window"), p)
  }

  test("x46 bm25: broadcast query-term match + map-side rank-limit prune before the exchange") {
    val p = plan("x46_bm25_topk")
    // the query batch broadcasts onto tf — the corpus side never
    // shuffles for the term match
    assert(p.contains("BroadcastHashJoin"), p)
    // the per-query top-k window is partitioned by query_id, a
    // bounded-cardinality key whose partitions are O(matched corpus) —
    // survivable ONLY because InferWindowGroupLimit pushes the
    // `row_number ≤ k` filter to a map-side partial top-k per input
    // partition BEFORE the exchange, capping the final partition at
    // k·numPartitions rows. Assert the Partial prune is in the plan so
    // a formulation drift that defeats the pushdown fails here instead
    // of at 100 TB.
    assert("WindowGroupLimit.*Partial".r.findFirstIn(p).isDefined, p)
  }

  test("x50 dsir / x52 bigram: model joins are hash joins, no corpus-sized nested loop") {
    // the 1-row scalar frames ride BroadcastNestedLoopJoin (cross of a
    // single row — fine); what must NEVER appear is a nested loop or
    // cartesian between two corpus-sized sides, and the term-keyed model
    // joins must stay hash-joinable (equi-keys AQE can split)
    Seq("x50_dsir_score", "x52_bigram_logprob").foreach { n =>
      val p = plan(n)
      assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
        s"$n: model attach is not an equi-join\n$p")
      assert(!p.contains("CartesianProduct"), s"$n: cartesian product\n$p")
    }
  }

  test("x51 shuffle shards: one exchange on shard, scan prunes to the id column") {
    val p = plan("x51_shuffle_shards")
    // only (hash, id) ride the shuffle — text must not reach the scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p)
    assert(!p.contains("text"), p)
  }

  test("x53 sq8: encode/score stay map-side — single exchange for the rank window") {
    val p = plan("x53_ann_sq8_topk")
    // queries broadcast onto the encoded corpus; no corpus-sized shuffle
    // join anywhere in the scoring path
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("WindowGroupLimit"), p) // per-query top-k pre-pruned
  }

  test("x56 filtered ann: slice predicate pushed into the stored list scan, pruning intact") {
    val p = plan("x56_ann_filtered")
    // the slice predicate reaches the stored parquet scans (codes +
    // rerank vectors) as a pushed filter, composed with the cid
    // partition pruning — the filtered search reads only probed lists
    // AND only in-slice rows of them
    assert(p.contains("LessThan(c_id,300)"),
      s"slice predicate not pushed into a stored scan\n$p")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters: [")).toSeq
    // literal probe sets render as `cid IN (...)` or `cid INSET ...`
    // depending on list length
    assert(pf.exists(l => l.contains("cid") &&
        (l.contains(" IN (") || l.contains(" INSET "))),
      s"cid partition pruning lost under the slice predicate\n${pf.mkString("\n")}")
  }

  test("registry sweep: no Window partitioned solely by an unbounded-skew term-like key") {
    // the defect class x40 had: a window whose ONLY partition key is a
    // token/term-shaped column puts the Zipf head key's entire partition
    // on one task, and AQE cannot split window exchanges. Catch it
    // mechanically across every registry entry.
    val skewish = Set("token", "term", "word", "ngram", "shingle", "gram")
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val exec = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.length == 1 &&
              w.partitionSpec.head.references.size == 1 &&
              skewish.contains(w.partitionSpec.head.references.head.name.toLowerCase) =>
          s"$name: Window partitioned by ${w.partitionSpec.head.references.head.name}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("x45 stats join: broadcast chosen from stored n_rows, salt count from stored top_freq") {
    val p = plan("x45_stats_join")
    // part A: customer's persisted n_rows is under the broadcast
    // threshold, so statsJoin must have hinted broadcast — no shuffle of
    // the orders side
    assert(p.contains("BroadcastHashJoin"), p)
    // part B: forced shuffled; the join must run on (key, _salt)
    assert(p.contains("_salt"), p)
    // the salt COUNT is the stats-implied one: sf0.001 lineitem's
    // stored top_freq(l_orderkey) = 12, targetRowsPerSalt = 4 →
    // ceil(12/4) = 3 salts. The salt array constant-folds in the plan
    // (opaque UnsafeArrayData), so pin the decision through the same
    // stats table the query just persisted.
    val liStats = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_stats_x45_${spark.sparkContext.applicationId}/lineitem").toString
    assert(graft.operators.Skew.saltsFromStats(spark, liStats, "l_orderkey",
      targetRowsPerSalt = 4, maxSalts = 8) == 3)
    // and missing stats fall back to the honest unsalted default
    assert(graft.operators.Skew.saltsFromStats(spark, liStats + "_nope",
      "l_orderkey", targetRowsPerSalt = 4, maxSalts = 8) == 1)
  }

  test("x38 resample: gap-fill is a window pass, no join node") {
    val p = plan("x38_resample_locf")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("NestedLoopJoin"), p)
    assert(p.contains("Window"), p)
  }

  test("x72 line dedup: exactly the two designed corpus scans, no nested-loop") {
    val p = plan("x72_line_dedup")
    // two-phase by design: one line-scan to find heavy lines, one to
    // filter against them — a third scan would mean the explode subtree
    // got duplicated somewhere (the x40/x58 regression class)
    assert("Scan parquet".r.findAllIn(p).length <= 2, p)
    assert(!p.contains("NestedLoopJoin"), p)
  }

  test("x78 weighted sample: corpus-side top-k is TakeOrderedAndProject, never a global sort") {
    // the selection must be per-partition heaps (TakeOrderedAndProject);
    // the rank window runs only AFTER the limit, so its single partition
    // holds k rows by construction, not a corpus partition
    val p = plan("x78_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x74 bloom ingest: corpus-stays-put confirmation, candidate-bounded broadcasts") {
    val p = plan("x74_bloom_ingest")
    // both exact-confirmation joins ride forced broadcasts; the seen
    // corpus must never cross a SortMergeJoin exchange
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("NestedLoopJoin"), p)
  }

  test("x86-x89 sampling TVFs: same physical shape as their Scala siblings") {
    // the TVF layer is a calling convention — a plan regression here
    // means the builder wrapped the operator in something extra
    val strat = plan("x86_sql_stratified_sample")
    assert(!strat.contains("Exchange SinglePartition"), strat)
    val shards = plan("x87_sql_shuffle_shards")
    assert(!shards.contains("Exchange SinglePartition"), shards)
    val budget = plan("x88_sql_budget_select")
    assert(!budget.contains("Exchange SinglePartition"), budget)
    assert(!budget.contains("NestedLoopJoin"), budget)
    val locf = plan("x89_sql_resample_locf")
    // x38's guard verbatim: the gap-fill is a window pass, never a join
    assert(!locf.contains("SortMergeJoin") && !locf.contains("BroadcastHashJoin") &&
      !locf.contains("NestedLoopJoin"), locf)
    assert(locf.contains("Window"), locf)
  }

  test("x90 hybrid rrf: bounded fusion — no cartesian, no single-partition collapse") {
    val p = plan("x90_hybrid_rrf")
    // both sides are pruned store reads; the fusion joins two
    // (queries × nCand)-bounded frames and ranks per query. The BM25
    // side legitimately carries ONE BroadcastNestedLoopJoin: the 1-row
    // corpus-scalars (n_docs/avgdl) attach — a broadcast of one row,
    // not a corpus pairing. Anything beyond that, or a non-broadcast
    // CartesianProduct, or an Exchange SinglePartition, would mean the
    // fusion stopped being candidate-bounded
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // the stored scans keep their pruning under the TVF
    assert(p.contains("PartitionFilters: ["), p)
  }

  test("x97 / x21b: within-run pins keep the returned plans off parquet, Exchanges bounded") {
    // the round-17 pins (plans/r17/*_after.txt: 14 and 10, down from 56
    // and 66). Counted as those files were: lines of the formatted
    // explain that contain "Exchange" (node line + detail line, broadcast
    // included). The bounds are the counts on this fixture, not looser.
    Seq("x97_perplexity_gate" -> 14, "x21b_dedup_spans_verified" -> 10).foreach {
      case (name, bound) =>
        val p = try SparkEntry.queries(name)(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        finally graft.tools.Harness.releaseAllPinned(spark)
        assert(!p.contains("Scan parquet"), s"$name scans parquet:\n$p")
        val exchanges = p.linesIterator.count(_.contains("Exchange"))
        assert(exchanges <= bound, s"$name: $exchanges Exchange lines > $bound:\n$p")
    }
  }
}
