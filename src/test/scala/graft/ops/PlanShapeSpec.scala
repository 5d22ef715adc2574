package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Physical-plan assertions for the round-4 operators — the structural
  * claims SURVEY.md §9 makes, pinned the way BucketingSpec pins the
  * bucketed join: the plan must not contain the shapes that stop
  * scaling (cartesian/nested-loop pair joins, corpus-global
  * single-partition exchanges), independent of what AQE picks among
  * the good shapes.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def executedPlan(query: String): String = {
    val df = SparkEntry.queries(query)(spark, sfDir)
    // execute THIS df's own QueryExecution (a write would plan a fresh
    // one and leave df's AdaptiveSparkPlan un-finalized), then keep
    // only the final-plan section: the AdaptiveSparkPlanExec dump
    // also prints "== Initial Plan ==", and a negative assertion
    // matching the PRE-AQE text would fail on exactly the runtime
    // conversions this suite is meant to tolerate
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  private def assertNoDisasterJoin(q: String, plan: String): Unit = {
    assert(!plan.contains("CartesianProduct"),
      s"$q plans a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"$q plans a nested-loop join:\n$plan")
  }

  test("p26 decontamination: benchmark side broadcasts; no sort-merge over corpus n-grams") {
    val plan = executedPlan("p26_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark n-gram join should be a broadcast hash join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge join means the corpus n-grams shuffled on the join key:\n$plan")
    assertNoDisasterJoin("p26", plan)
  }

  test("p25 banded LSH / p6 / p13 / p23 / p44: candidate joins are equi-joins, never cartesian") {
    Seq("p25_lsh_topk_banded", "p6_lsh_topk", "p13_ivf_topk", "p23_blocked_neardup",
      "p44_semantic_dedup", "p59_hard_negatives", "p64_ivfpq_topk",
      "p66_ivfpq_residual")
      .foreach { q => assertNoDisasterJoin(q, executedPlan(q)) }
  }

  test("p63 PQ encode: map-only — codebooks ride as literals, no join or shuffle in the encode plan") {
    val plan = executedPlan("p63_pq_encode")
    assert(!plan.contains("Join"), s"p63 encode plans a join:\n$plan")
    assert(!plan.contains("Exchange"), s"p63 encode shuffles:\n$plan")
  }

  test("p45 quality buckets: boundaries broadcast back; no window over the document rows") {
    // the CCNet shape inverted: a |languages|-row percentile table
    // ships to the rows — a per-language window (or CCNet's corpus
    // sort) would range-exchange every document
    val plan = executedPlan("p45_quality_buckets")
    assertNoDisasterJoin("p45", plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"tercile boundaries should broadcast onto the rows:\n$plan")
    assert(!plan.contains("Window"),
      s"p45 plans a window over the data:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"p45 plans a corpus sort:\n$plan")
  }

  test("p48 mixture calibration: rates broadcast; the data never shuffles") {
    val plan = executedPlan("p48_mixture_calibrate")
    assertNoDisasterJoin("p48", plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"rates should broadcast onto the rows:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"p48 shuffles the documents to find their rate:\n$plan")
  }

  test("p47 vocab encode: the vocabulary broadcasts; no term-keyed shuffle of the corpus") {
    val plan = executedPlan("p47_vocab_encode")
    assertNoDisasterJoin("p47", plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"the bounded vocabulary should broadcast to the encode pass:\n$plan")
  }

  test("p46 keep-best dedup: one max-of-struct aggregation, no window over the corpus") {
    val plan = executedPlan("p46_dedup_best")
    assertNoDisasterJoin("p46", plan)
    assert(!plan.contains("Window"),
      s"p46 plans a per-group window sort instead of the d5 max-of-struct shape:\n$plan")
  }

  test("p50 BPE encode: the word-pieces join is no disaster; the only window partitions by document") {
    val plan = executedPlan("p50_bpe_encode")
    assertNoDisasterJoin("p50", plan)
    // the per-doc token-offset window must carry its doc_id
    // partitioning — a partition-less window would funnel the corpus
    // through one task (the round-6 row_seq failure mode)
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, s"p50 lost its per-doc offset window:\n$plan")
    assert(windows.forall(_.contains("doc_id")),
      s"p50 window lost its doc_id partitioning:\n$plan")
  }

  test("p51 unigram-LM: word-table-sized plan — no window, no corpus sort") {
    val plan = executedPlan("p51_unigram_lm")
    // the ONE nested-loop join is the deliberate 1-row scalar
    // broadcast (total uses onto the piece table) — a disaster shape
    // only when both sides carry data, which the cartesian check
    // still forbids
    assert(!plan.contains("CartesianProduct"),
      s"p51 plans a cartesian product:\n$plan")
    assert(!plan.contains("Window"),
      s"p51 plans a window (E/M are aggregations only):\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"p51 plans a corpus sort:\n$plan")
  }

  test("p54 perplexity filter: no corpus window or sort; tercile boundaries broadcast") {
    // the CCNet filter at scale: the DP is word-table-sized (UDF over
    // the distinct-word table), the doc join is word-keyed, and the
    // per-language boundaries ship to the rows like p45 — a corpus
    // sort or per-language window would range-exchange every document
    val plan = executedPlan("p54_perplexity_filter")
    assert(!plan.contains("CartesianProduct"),
      s"p54 plans a cartesian product:\n$plan")
    assert(!plan.contains("Window"),
      s"p54 plans a window over the data:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"p54 plans a corpus sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"tercile boundaries should broadcast onto the rows:\n$plan")
  }

  test("p55 domain cap: the ranking window partitions by source — never a corpus sort") {
    val plan = executedPlan("p55_domain_cap")
    assertNoDisasterJoin("p55", plan)
    // the cap ranks each source group in parallel; a partition-less
    // window (or a range exchange) would funnel the corpus through one
    // task — the round-6 row_seq failure mode
    val windows = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty, s"p55 lost its ranking window:\n$plan")
    assert(windows.forall(_.contains("source")),
      s"p55 window lost its source partitioning:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"p55 plans a corpus sort:\n$plan")
  }

  test("p56 BM25: heap top-k, no corpus sort or window; df table broadcasts") {
    val plan = executedPlan("p56_bm25_topk")
    // the one nested-loop join is the deliberate 1-row corpus-stats
    // broadcast (the p51 pattern); cartesian stays forbidden
    assert(!plan.contains("CartesianProduct"),
      s"p56 plans a cartesian product:\n$plan")
    assert(!plan.contains("Window"),
      s"p56 plans a window over the postings:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"p56 plans a corpus sort — the cut must be a heap top-k:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"p56 lost its TakeOrderedAndProject cut:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the query-term df table should broadcast:\n$plan")
  }

  test("p57 LR classifier: scoring is map-only over the checkpointed features") {
    // training runs during plan construction (bounded per-round
    // collects, the Lloyd-loop discipline); the RESULT plan is pure
    // broadcast column math on the feature frame — any exchange or
    // window here would mean scoring shuffles the corpus
    val plan = executedPlan("p57_lr_quality")
    assert(!plan.contains("Exchange"),
      s"p57 scoring must not shuffle:\n$plan")
    assert(!plan.contains("Window"),
      s"p57 scoring must not window:\n$plan")
  }

  test("p58 DSIR: scoring is a map-only codegen fold — no join, no shuffle, no window") {
    // the fit collects during plan construction (B-bounded, the
    // Lloyd-loop discipline); the RESULT plan folds a literal score
    // array over each row's tokens — any exchange or join here would
    // mean the score table failed to ride the plan as a literal
    val plan = executedPlan("p58_dsir_select")
    assert(!plan.contains("Exchange"), s"p58 scoring must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"p58 scoring must not join:\n$plan")
    assert(!plan.contains("Window"), s"p58 scoring must not window:\n$plan")
  }

  test("p60 signal bundle: the composed signals table is ONE map-only pass — no join, no key shuffle") {
    // the oracle computes each signal separately and joins on doc_id;
    // the engine must NOT — the composition collapses into per-row
    // column math on a single corpus scan (the only exchanges are the
    // round-robin spreads for the single-split-parquet fixture)
    val plan = executedPlan("p60_signal_bundle")
    assert(!plan.contains("Join"), s"p60 must not join:\n$plan")
    assert(!plan.contains("Window"), s"p60 must not window:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"p60 must not key-shuffle:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"p60 must not sort:\n$plan")
  }

  test("p62 hashed LR: scoring folds the literal weight array — no join, no key shuffle") {
    // training's explode+agg rounds run during plan construction;
    // the RESULT plan is a per-row array fold over the checkpointed
    // features under a 64-long plan literal (the p58 pattern)
    val plan = executedPlan("p62_lr_hashed")
    assert(!plan.contains("Join"), s"p62 scoring must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"p62 scoring must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"p62 scoring must not window:\n$plan")
  }

  test("x25 vocab drift: the vocabulary broadcasts onto the token stream") {
    val plan = executedPlan("x25_stream_vocab_drift")
    // same deliberate 1-row scalar broadcast as p51 (reference total)
    assert(!plan.contains("CartesianProduct"),
      s"x25 plans a cartesian product:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"x25 reference/vocab should broadcast:\n$plan")
  }

  test("a6 sketches: percentile buffers never ride the distinct rewrite") {
    // Fusing countDistinct with the percentile aggregates builds one
    // percentile buffer per (flag, partkey) PARTIAL group instead of one
    // per flag — measured 0.4 s -> 10.6 s at sf0.1. The split plan keeps
    // l_partkey out of every aggregate that carries a percentile buffer.
    val plan = executedPlan("a6_sketches")
    val fused = plan.linesIterator.exists(l =>
      l.contains("percentile") && l.contains("l_partkey"))
    assert(!fused,
      s"a percentile buffer aggregates alongside the distinct key:\n$plan")
  }

  test("p29 token budget / p21 packing: the running sum is per-stratum, never a single-partition exchange") {
    Seq("p29_token_budget", "p21_sequence_packing").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("Exchange SinglePartition"),
        s"$q plans a corpus-global single-partition exchange:\n$plan")
    }
  }

  test("p83 retrieval eval: the truth panel broadcasts; no sort-merge, no corpus sort") {
    val plan = executedPlan("p83_retrieval_eval")
    assert(plan.contains("BroadcastHashJoin"),
      s"the truth-panel attach should be a broadcast hash join:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"retrieval eval plans a global sort:\n$plan")
    // NO assertNoDisasterJoin here: the TRUTH side is the exact
    // brute-force ranker, whose all-pairs `<>` self-join IS a
    // BroadcastNestedLoopJoin by design (p5, the quality oracle) —
    // the eval layer's own joins must still be hash, pinned above
    assert(!plan.contains("CartesianProduct"),
      s"p83 plans an unbounded cartesian product:\n$plan")
  }

  test("p82 vocab rebalance: budgets broadcast onto per-group ranks; no corpus-global sort") {
    val plan = executedPlan("p82_vocab_rebalance")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |langs|-row budget table should broadcast:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"the rebalance plans a corpus-global sort:\n$plan")
    // the apportionment's crossJoins against 1-row totals plan as
    // BroadcastNestedLoopJoins over |langs|-row frames — benign by
    // construction (the repo-wide crossJoin discipline); what must
    // not appear is an unbounded cartesian over data rows
    assert(!plan.contains("CartesianProduct"),
      s"p82 plans an unbounded cartesian product:\n$plan")
  }

  test("a20 KS drift: nothing after the scans exceeds the bin grid — no join over data rows") {
    val plan = executedPlan("a20_ks_drift")
    // the only joins are the |bins|-row spine attaches
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge join means data rows shuffled on a join key:\n$plan")
    assertNoDisasterJoin("a20", plan)
  }

  test("p84 paragraph dedup: keyed joins only — no cartesian, no corpus-global sort") {
    val plan = executedPlan("p84_paragraph_dedup")
    assertNoDisasterJoin("p84", plan)
    // reassembly sorts in-memory per doc (array_sort), never the plan:
    // a global Sort would mean the collect_list rode a window
    assert(!plan.contains("Window"),
      s"paragraph reassembly must not plan a window:\n$plan")
  }

  test("p85 McNemar: one co-partitioned equi-join, no window, no disaster join") {
    val plan = executedPlan("p85_mcnemar")
    assertNoDisasterJoin("p85", plan)
    assert(!plan.contains("Window"),
      s"the paired contingency is a plain aggregation, never a window:\n$plan")
  }

  test("p87 pagerank: keyed joins only across all five iterations — no cartesian, no window, no global sort") {
    val plan = executedPlan("p87_pagerank")
    assertNoDisasterJoin("p87", plan)
    assert(!plan.contains("Window"),
      s"the power iteration is joins + aggregations, never a window:\n$plan")
  }

  test("p88 Fleiss' kappa: co-partitioned id joins + one aggregation — no window, no disaster join") {
    val plan = executedPlan("p88_fleiss_kappa")
    assertNoDisasterJoin("p88", plan)
    assert(!plan.contains("Window"),
      s"the panel contingency is a plain aggregation, never a window:\n$plan")
  }

  test("p89 subgroup audit: the pooled row broadcasts back onto the groups frame — no window, no corpus re-scan join") {
    val plan = executedPlan("p89_subgroup_audit")
    assert(!plan.contains("CartesianProduct"),
      s"p89 plans a cartesian product:\n$plan")
    assert(!plan.contains("Window"),
      s"the audit is aggregations + one broadcast, never a window:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the pooled attach must broadcast, not sort-merge:\n$plan")
  }

  test("p31 split assign: map-only — no exchange of any kind") {
    val plan = executedPlan("p31_split_assign")
    assert(!plan.contains("Exchange"),
      s"split assignment must be a free column on the scan:\n$plan")
  }

  test("p32 reshard: per-shard sort, never a global one") {
    val plan = executedPlan("p32_reshard")
    assert(!plan.contains("Exchange SinglePartition"),
      s"reshard plans a corpus-global exchange:\n$plan")
    // a global ORDER BY would appear as a range exchange
    assert(!plan.contains("Exchange rangepartitioning"),
      s"reshard plans a global sort:\n$plan")
    assertNoDisasterJoin("p32", plan)
  }

  test("p33 boilerplate: group-and-count shape, no line self-join") {
    assertNoDisasterJoin("p33", executedPlan("p33_boilerplate"))
  }

  test("s16 sorted layout: the ts-range predicate reaches the parquet scan's PushedFilters") {
    // The cutoff literal must fold and push into the scan so parquet
    // row-group min/max stats can skip — a post-scan filter would read
    // the whole sorted lake and the layout would buy nothing.
    val plan = executedPlan("s16_sorted_layout")
    val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
    assert(pushed.exists(l => l.contains("LessThan(ts")),
      s"ts range predicate did not reach PushedFilters:\n$plan")
  }

  test("parquet scans stay vectorized: columnar batch reads, pruned read schemas") {
    // The 100 TB scan path is the vectorized parquet reader feeding
    // WholeStageCodegen via ColumnarToRow; a scan falling back to
    // row-at-a-time (e.g. a schema the vectorized reader can't handle)
    // would silently cost ~3-10x at the scan. Also pin column pruning:
    // the two-column x2 aggregate must not read props (the widest
    // column) — ReadSchema is the contract that pruning reached the
    // reader.
    val plan = executedPlan("x2_hourly_agg")
    assert(plan.contains("ColumnarToRow"),
      s"x2 scan is not vectorized (no ColumnarToRow):\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
    assert(readSchema.exists(l => !l.contains("props") && l.contains("ts")),
      s"x2 reads more columns than it needs:\n$plan")
  }

  test("s13 hive-partitioned source: event_type predicate prunes partitions at the scan") {
    // The predicate on the partition column must land in the scan's
    // PartitionFilters (directory pruning at planning time), never as a
    // post-scan Filter over the full lake — at 100 TB that is the
    // difference between reading two event types and reading everything.
    val plan = executedPlan("s13_partitioned_source")
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.exists(_.contains("event_type")),
      s"event_type filter did not reach PartitionFilters:\n$plan")
    val postScanFilter = plan.linesIterator.exists(l =>
      l.trim.startsWith("+- Filter") && l.contains("event_type"))
    assert(!postScanFilter,
      s"event_type is re-filtered after the scan instead of pruned:\n$plan")
  }

  test("d7 snapshot diff: one co-partitioned join, never a disaster join") {
    val plan = executedPlan("d7_snapshot_diff")
    assertNoDisasterJoin("d7", plan)
    // the diff is ONE full-outer join of the two snapshots — a second
    // join would mean the op re-reads a side
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(joins == 1, s"expected exactly one shuffle join, got $joins:\n$plan")
    assert(plan.contains("FullOuter"), s"diff join must be full outer:\n$plan")
  }

  test("a11 k-anonymity: the suppressed-group membership join broadcasts") {
    // the sub-k group list is bounded by the group space, not the
    // data; shipping it to the rows must never shuffle the rows
    val plan = executedPlan("a11_kanon")
    assertNoDisasterJoin("a11", plan)
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"),
      s"suppressed-group membership should be a broadcast semi join:\n$plan")
  }

  test("d8 CDC apply: one latest-change aggregate + one full-outer join, no window sort") {
    val plan = executedPlan("d8_cdc_apply")
    assertNoDisasterJoin("d8", plan)
    assert(plan.contains("FullOuter"), s"merge join must be full outer:\n$plan")
    // latest-change selection is a max-of-struct AGGREGATE (the d5
    // shape) — a per-key window sort over the feed is the shape that
    // stops scaling
    assert(!plan.contains("Window"), s"d8 must not sort the feed per key:\n$plan")
  }

  test("d9 FK audit: dim-sized parents broadcast; the fact side never shuffles") {
    val plan = executedPlan("d9_fk_check")
    assertNoDisasterJoin("d9", plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"FK parents should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge join means a fact side shuffled for the audit:\n$plan")
  }

  test("p70 extended-arity LR: scoring stays map-only at arity 6") {
    // the pluggability contract must not cost plan shape: a wider
    // feature frame is still broadcast column math, no exchange
    val plan = executedPlan("p70_lr_features")
    assert(!plan.contains("Exchange"), s"p70 scoring must not shuffle:\n$plan")
    assert(!plan.contains("Window"), s"p70 scoring must not window:\n$plan")
  }

  test("p71 cluster stats: one map-side-combined aggregation, no join, no window") {
    // assignment is per-row math against literal centroids; the only
    // exchange is the <= C-group aggregation's partial->final hash
    // exchange (and the fixture's round-robin spread)
    val plan = executedPlan("p71_cluster_stats")
    assert(!plan.contains("Join"), s"p71 must not join:\n$plan")
    assert(!plan.contains("Window"), s"p71 must not window:\n$plan")
    assert(plan.contains("partial"), s"p71 aggregation must map-side combine:\n$plan")
  }

  test("a16 bootstrap CI: data rows never key-shuffle; the resample ensemble is map-side combined") {
    // the one-pass bootstrap's whole claim: the only hash exchanges
    // carry (group, b) partial sums (groups x 65 rows), never
    // documents; the CI window runs over the 65-row resample frame.
    // (meanCi deliberately stays un-checkpointed — AQE exchange reuse
    // dedupes the three consumers and measured faster than an eager
    // materialization; medianCi/p75 ARE checkpointed, see their pins.)
    val plan = executedPlan("a16_bootstrap_ci")
    assert(plan.contains("partial"), s"a16 must map-side combine:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"a16 plans a disaster join:\n$plan")
    // the resample explode must sit UNDER a partial aggregate, not
    // above any exchange of document rows carrying text
    assert(!plan.contains("Exchange rangepartitioning"),
      s"a16 must not sort the corpus:\n$plan")
  }

  test("p72 AUC: exactly the fractional-rank window shuffle, no pair join") {
    // the rank-sum identity's claim: no positive x negative join —
    // the only join-free window shuffle is the per-cohort rank sort
    val plan = executedPlan("p72_classifier_auc")
    assert(!plan.contains("Join"), s"p72 must not pair-join:\n$plan")
    assert(plan.contains("Window"), s"p72 needs the rank window:\n$plan")
  }

  test("p73 calibration: map-only binning + one bounded aggregation") {
    val plan = executedPlan("p73_calibration")
    assert(!plan.contains("Join"), s"p73 must not join:\n$plan")
    assert(!plan.contains("Window"), s"p73 must not window:\n$plan")
    assert(plan.contains("partial"), s"p73 must map-side combine:\n$plan")
  }

  test("p74 RRF: per-signal top-L is a heap TakeOrdered, never a global sort of the corpus") {
    val plan = executedPlan("p74_rrf_selection")
    assert(plan.contains("TakeOrderedAndProject"),
      s"p74 top-L must plan TakeOrderedAndProject:\n$plan")
    // the only windows run over the <= L-row fused lists; the corpus
    // itself must never range-exchange (a global sort)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"p74 must not globally sort the corpus:\n$plan")
    assertNoDisasterJoin("p74", plan)
  }

  test("p75 bootstrap AUC: one materialized ensemble; consumers never touch the corpus") {
    // round-14 shape (the a16 rationale): the explode + cumulative
    // window + rank-sum aggregation execute ONCE into an eager
    // localCheckpoint; consumers read the (cohort, resample) ensemble
    // and must not re-scan documents or globally sort anything. The
    // build pass's grid-bounded window claim is pinned by the
    // committed p75 before/after plan pair + the oracle.
    val plan = executedPlan("p75_auc_bootstrap")
    assert(plan.contains("ExistingRDD"),
      s"p75 consumers must read the checkpointed ensemble:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"p75 consumers must not re-scan the corpus:\n$plan")
    assert(plan.contains("Window"), s"p75 needs the CI rank window:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"p75 must not globally sort:\n$plan")
    assertNoDisasterJoin("p75", plan)
  }

  test("a18 median CI: one materialized ensemble; consumers never touch the corpus") {
    // round-14 shape (the a16 rationale; the old plan held FOURTEEN
    // parquet scans — the ensemble subtree once per consumer)
    val plan = executedPlan("a18_median_ci")
    assert(plan.contains("ExistingRDD"),
      s"a18 consumers must read the checkpointed ensemble:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"a18 consumers must not re-scan the corpus:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"a18 must not globally sort:\n$plan")
    assertNoDisasterJoin("a18", plan)
  }

  test("p77 kappa: one equi-join of the two scored frames, no window, map-side-combined contingency") {
    val plan = executedPlan("p77_agreement_kappa")
    assertNoDisasterJoin("p77", plan)
    assert(!plan.contains("Window"), s"p77 must not window:\n$plan")
    assert(plan.contains("partial"), s"p77 must map-side combine:\n$plan")
  }

  test("a17 ESS: one aggregation — no join, no window, no shuffle beyond the group-by") {
    val plan = executedPlan("a17_ess")
    assert(!plan.contains("Join"), s"a17 must not join:\n$plan")
    assert(!plan.contains("Window"), s"a17 must not window:\n$plan")
    assert(plan.contains("partial"), s"a17 must map-side combine:\n$plan")
  }

  test("p40 bloom decontamination: the bitmap probe gates corpus n-grams before the join") {
    val plan = executedPlan("p40_bloom_decontaminate")
    assertNoDisasterJoin("p40", plan)
    // the UDF filter must sit below the join: the join's corpus side
    // then carries only bloom survivors, which is the operator's
    // entire scale claim
    val joinIdx = plan.linesIterator.indexWhere(l => l.contains("Join"))
    val probeIdx = plan.linesIterator.indexWhere(l =>
      l.contains("Filter") && l.contains("UDF"))
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe filter should appear under the verify join:\n$plan")
  }

  test("p90 MJPEG decode: one explicit spread exchange, then map-only codec work — no join") {
    val plan = executedPlan("p90_mjpeg_decode")
    assert(!plan.contains("Join"), s"p90 decode must not join:\n$plan")
    // exactly the renderAvis single-split spread; per-row codec work
    // after it must stay in the same stage (no second shuffle)
    val nEx = plan.linesIterator.count(_.contains("Exchange"))
    assert(nEx == 1,
      s"expected exactly the single-split spread exchange, got $nEx:\n$plan")
  }

  test("a22 TVD: the grid tail never sort-merges — bin frames broadcast") {
    val plan = executedPlan("a22_tvd_drift")
    assertNoDisasterJoin("a22", plan)
    assert(!plan.contains("SortMergeJoin"),
      s"a sort-merge join means a |bins|-row frame shuffled instead of broadcasting:\n$plan")
  }

  test("x35 batch twin: the map-only YAML gate is ZERO joins, ZERO keyed exchanges; gates filter below the spread") {
    val cfg = CurationPipeline.loadString(
      """pipeline:
        |  stages:
        |    - kind: quality_gate
        |      min_quality: 0.78
        |    - kind: lang_filter
        |      keep: en
        |    - kind: pii_redact
        |    - kind: hash_sample
        |      pct: 60
        |""".stripMargin)
    val out = CurationPipeline.run(
      spark.read.parquet(s"$sfDir/documents.parquet"), cfg)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"the map-only gate must not join:\n$plan")
    // the ONE allowed exchange is the deliberate round-robin spread
    // before the regex-heavy redact (the single-split trap); a
    // hash-keyed exchange would mean a stage smuggled in a shuffle
    val keyedEx = plan.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("RoundRobinPartitioning")).toSeq
    assert(keyedEx.isEmpty,
      s"the map-only gate must not key-shuffle: $keyedEx\n$plan")
    // and the cheap gates run BELOW the spread, fused into the scan
    // stage — the filter-before-shuffle shape
    val exIdx = plan.linesIterator.indexWhere(_.contains("Exchange"))
    val filterIdx = plan.linesIterator.indexWhere(_.contains("Filter"))
    assert(exIdx >= 0 && filterIdx > exIdx,
      s"gates should filter below the spread exchange:\n$plan")
  }

  test("lr_gate: the frozen-weights gate is join-free (weights are literals, carry rides)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val feat = graft.ops.Logistic.features(docs).localCheckpoint(true)
    val wPath = tmpDir("graft_ps_lrw")
      .resolve("w").toString
    graft.ops.Logistic.saveWeights(spark, wPath,
      graft.ops.Logistic.train(feat, rounds = 1))
    val cfg = CurationPipeline.loadString(
      s"pipeline:\n  stages:\n    - kind: lr_gate\n      weights_path: $wPath\n")
    val out = CurationPipeline.run(docs, cfg)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"lr_gate must not join:\n$plan")
    assert(!plan.contains("Exchange"), s"lr_gate must not shuffle:\n$plan")
  }
}
