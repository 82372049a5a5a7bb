package graft

/** Plan-shape guards: the physical plans these operators were designed
  * around, pinned so a refactor can't silently degrade them.
  */
class ExplainSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q36 candidate join is an equi join (no CartesianProduct/BNLJ)") {
    val p = plan("q36_jaccard_self_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q08 five-way join broadcasts every dimension (no dim shuffles)") {
    val p = plan("q08_join_multi_broadcast")
    // customer, nation, region are hinted broadcast — three BroadcastExchanges
    assert("BroadcastExchange".r.findAllIn(p).size >= 3, p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q40 cosine knn broadcasts the query side, never the data side") {
    val p = plan("q40_cosine_knn")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    // the native codegen'd dot product is in the plan, not a HOF lambda
    assert(p.contains("graft_dot"), p.take(2000))
  }

  test("q12 theta join keeps brand as the equi key (hash join + residual)") {
    val p = plan("q12_join_theta_range")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q02 filter reaches the parquet scan as pushed filters") {
    val qe = SparkEntry.queries("q02_filter_pred")(spark, sf0001).queryExecution
    // formatted mode carries the full (untruncated) PushedFilters metadata
    val scan = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val idx = scan.indexOf("PushedFilters: [")
    assert(idx >= 0, scan.take(2000))
    // the quantity predicate must be INSIDE the pushed-filter list — the
    // column name appearing elsewhere in the plan must not satisfy this
    val pushed = scan.substring(idx, scan.indexOf("]", idx))
    assert(pushed.contains("GreaterThanOrEqual(l_quantity,10.0)"), pushed)
  }

  test("q15 aggregation is partial+final hash agg (map-side combine)") {
    val p = plan("q15_agg_sum_group")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q60 containment candidates are an equi-join on shingles (no product)") {
    val p = plan("q60_decontaminate")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q61 interval join is a bucket equi-join, not a nested-loop product") {
    val p = plan("q61_range_bucket_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("sketch signatures are per-row expressions: no exchange, no aggregate (r6)") {
    // the r6 fused kernels removed the explode + N-agg shuffle — a refactor
    // that reintroduces data movement into signature computation fails here
    for ((label, df) <- Seq(
      "simhash" -> graft.ops.SimHash.signatures(
        Tables.documents(spark, sf0001), "doc_id", "text"),
      "minhash" -> graft.ops.MinHash.signatures(
        Tables.documents(spark, sf0001), "doc_id", "text"))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"$label: ${p.take(1500)}")
      assert(!p.contains("HashAggregate"), s"$label: ${p.take(1500)}")
    }
  }

  test("q69/q75 retrieval: rank pushdown fires, only 1-row stats cross-joins (r7)") {
    for (name <- Seq("q69_bm25_rs", "q75_tfidf_cosine")) {
      val p = plan(name)
      // top-k via row_number <= k must plan the WindowGroupLimit pushdown —
      // without it every (query, doc) candidate sorts through a full window
      assert(p.contains("WindowGroupLimit"), s"$name: ${p.take(1500)}")
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(1500)}")
      // the only nested-loop joins are the declared 1-row stats attaches
      assert(p.contains("BroadcastHashJoin"), s"$name: ${p.take(1500)}")
    }
  }

  test("q77 masking is a pure per-row projection: no exchange before the sort (r7)") {
    val p = plan("q77_redact_pii")
    // one global sort for the ORDER BY is the ONLY exchange in the plan
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(1500))
  }

  test("q80 chunking is ONE generator with no exchange before the output sort (r8)") {
    val p = plan("q80_chunk_documents")
    // one posexplode/explode over the arithmetic chunk count — a second
    // Generate means somebody re-introduced a per-chunk explode
    assert("Generate".r.findAllIn(p).size === 1, p.take(1500))
    // the ORDER BY's range exchange is the only data movement
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500))
  }

  test("q81 packing is one window + one aggregation exchange (r8)") {
    val p = plan("q81_sequence_packing")
    // the per-lang cumsum is the single Window in the plan
    assert("Window".r.findAllIn(p).size === 1, p.take(1500))
    // exchanges: window/agg hash partitioning (shared via the lang key)
    // plus the output sort — more means a redundant repartition crept in
    assert("Exchange".r.findAllIn(p).size <= 3, p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q85 mixture report attaches the corpus total as a broadcast, never a global window (r8)") {
    val p = plan("q85_mixture_report")
    // an empty Window.partitionBy() would funnel every group through ONE
    // task at 100 TB — the 1-row total must ride a broadcast join instead
    assert(!p.contains("Window"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
    // partial+final agg on (lang, source) — map-side combine present
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q82 quality filter is scan-speed: zero exchanges before the output sort (r8)") {
    val p = plan("q82_quality_filter")
    // every rule is per-row scalar arithmetic — the range exchange feeding
    // the ORDER BY must be the only data movement, and nothing may explode
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500))
    assert(!p.contains("Generate"), p.take(1500))
  }

  test("q83 canonicalization window and agg share one cluster_id exchange (r8)") {
    val p = plan("q83_cluster_canonical")
    // one row_number window; its hashpartitioning(cluster_id) is reused by
    // the member-count aggregation — a second cluster exchange means the
    // reuse broke
    assert("Window".r.findAllIn(p).size === 1, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q84 incremental dedup anti-join is hash-based, never a product (r8)") {
    val p = plan("q84_incremental_dedup")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q86 unigram model broadcasts onto the token stream (r8)") {
    val p = plan("q86_unigram_surprisal")
    // the vocab-sized model must be the build side of a broadcast hash
    // join — a sort-merge join here would shuffle the full token stream
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // corpus-total attach + doc scoring are aggs, never a global window
    assert(!p.contains("Window"), p.take(2000))
  }

  test("q87 chunk dedup is one generator + one aggregation (r8)") {
    val p = plan("q87_chunk_dedup")
    assert("Generate".r.findAllIn(p).size === 1, p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q88 repetition ratio is scan-speed: shingle kernel, no explode, no pre-sort exchange (r8)") {
    val p = plan("q88_repetition_ratio")
    assert(p.contains("graft_shingles"), p.take(1500))
    assert(!p.contains("Generate"), p.take(1500))
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500))
  }

  test("q89 zipf regression windows the vocab relation, not the token stream (r8)") {
    val p = plan("q89_zipf_slope")
    // the rank window must sit ABOVE the (lang, tok) frequency aggregation —
    // a window over raw tokens means the full stream serializes per lang
    assert("Window".r.findAllIn(p).size === 1, p.take(2000))
    val winAt = p.indexOf("Window")
    val aggBeforeWindow = p.indexOf("HashAggregate", winAt) >= 0
    assert(aggBeforeWindow, "frequency agg must feed the window\n" + p.take(2000))
  }

  test("q90 interval join keeps user_id as the equi key (hash/merge join + range residual)") {
    val p = plan("q90_stream_interval_join")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q91 per-stratum sample pushes the rank limit into the sort (WindowGroupLimit, r8)") {
    val p = plan("q91_sample_k_per_stratum")
    // rnk <= 20 must become a per-partition top-k heap, not a full
    // per-stratum sort + filter — losing this pushdown is the difference
    // between O(k) and O(stratum) memory per lang at 100 TB
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert("Window".r.findAllIn(p).size >= 1, p.take(2000))
  }

  test("q92 quartile agg reuses the ntile window's lang partitioning (r8)") {
    val p = plan("q92_length_quartiles")
    assert("Window".r.findAllIn(p).size === 1, p.take(2000))
    // window exchange + output sort exchange only — a third means the
    // bucket agg re-shuffled what the window already partitioned
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(2000))
  }

  test("q93 SQL-surface Q3 broadcasts both dimensions and pushes the top-10 (r8)") {
    val p = plan("q93_sql_surface_q3")
    // customer and orders both fit the broadcast threshold at graded SFs;
    // the LIMIT must fuse with the ORDER BY (TakeOrderedAndProject), never
    // a global sort
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q94 bucketed join is exchange-free below the join (co-located buckets, r8)") {
    val p = plan("q94_bucketed_join")
    // both scans must report bucket pruning metadata and the merge join
    // must sit directly on them — the only exchanges allowed are the
    // mktsegment aggregation and the output sort ABOVE the join
    assert("SelectedBucketsCount".r.findAllIn(p).size === 2, p.take(2500))
    assert(p.contains("SortMergeJoin"), p.take(2500))
    assert(!p.contains("BroadcastHashJoin"), p.take(2500))
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(2500))
  }

  test("q95 lang filter prunes partitions at the scan, never a post-scan filter (r8)") {
    val p = plan("q95_partitioned_sink")
    // the predicate must land in the scan's PartitionFilters — only the
    // lang=de directories are opened; a plain Filter over all partitions
    // means the layout bought nothing
    assert("PartitionFilters: \\[[^\\]]*lang[^\\]]*de".r.findFirstIn(p).nonEmpty,
      p.take(2500))
  }

  test("q96 upsert is one keyed full-outer join, never a product (r8)") {
    val p = plan("q96_upsert_snapshot")
    assert(p.contains("FullOuter"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q97 grouping sets expand into ONE aggregation pass, not three queries (r8)") {
    val p = plan("q97_grouping_sets")
    // the three sets ride a single Expand into one partial+final agg —
    // a plan with a Union re-computed the input per set
    assert(p.contains("Expand"), p.take(2000))
    assert(!p.contains("Union"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q99 PMI joins stay on vocab-sized relations: hash joins, no product, no window (r8)") {
    val p = plan("q99_bigram_pmi")
    // unigram attachments are equi-joins on the token key; the only
    // nested-loop joins allowed are the two 1-row total attaches
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(2000))
    // corpus passes are partial+final aggs, never a global window
    assert(!p.contains("Window"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q99 PMI makes TWO corpus passes, not four: totals reuse the agg exchanges (r8)") {
    // each stream total is sum(cnt) over its aggregated vocab relation,
    // and the aggregation shuffle is materialized ONCE for both consumers
    // — losing the reuse silently doubles the corpus scans at 100 TB
    val df = SparkEntry.queries("q99_bigram_pmi")(spark, sf0001)
    df.collect() // AQE finalizes reuse decisions when the plan executes
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
      p.take(2000))
  }

  test("q85/q86/q107 totals fold over the grouped relation: one corpus pass, reused exchange (r8)") {
    // the corpus/snapshot totals must aggregate the group-sized relation,
    // whose shuffle both consumers share — a regression re-introduces a
    // full second scan of the data just to compute a 1-row total
    for (name <- Seq("q85_mixture_report", "q86_unigram_surprisal", "q107_corpus_drift")) {
      val df = SparkEntry.queries(name)(spark, sf0001)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
        s"$name: ${p.take(1500)}")
    }
  }

  test("q100 kmeans assignment is a pure map pass: no join/explode/shuffle before the k-group agg (r8)") {
    val p = plan("q100_kmeans_assign")
    // the centroid model is inlined as codegen literals — ANY join or
    // generator means the assignment regressed to a data-sized plan
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Generate"), p.take(2000))
    assert(p.contains("graft_dot"), p.take(2000))
    // exchanges: the k-group final agg + the output sort, nothing else
    assert("Exchange".r.findAllIn(p).size <= 2, p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q101 kmeans M-step: map-only assignment, one generator, no join (r8)") {
    val p = plan("q101_kmeans_update")
    // the dim-fold posexplode is the single Generate; partial agg compacts
    // it to k*dim rows per partition before the only keyed shuffle
    assert("Generate".r.findAllIn(p).size === 1, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q103 enrichment broadcasts the dim onto the event scan (r8)") {
    val p = plan("q103_stream_enrich")
    // the dim must be the broadcast build side — a sort-merge join here
    // would shuffle the full event stream for a bounded lookup table
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q104 merged read scans one relation with the evolved schema, agg partial+final (r8)") {
    val qe = SparkEntry.queries("q104_schema_evolution")(spark, sf0001).queryExecution
    val f = qe.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the evolved columns must be IN the merged scan's read schema (not
    // joined in from a second scan): one FileScan, nulls backfilled
    val idx = f.indexOf("ReadSchema")
    assert(idx >= 0, f.take(2000))
    assert(f.substring(idx).contains("source"), f.substring(idx).take(500))
    assert(!f.contains("Join"), f.take(2000))
    assert("HashAggregate".r.findAllIn(f).size >= 2, f.take(2000))
  }

  test("q105 negative sampling: rank pushdown fires, anchors broadcast (r8)") {
    val p = plan("q105_negative_sampling")
    // rank <= k must plan WindowGroupLimit (O(k) per-partition heaps); the
    // bounded anchor side must be the broadcast side of the product
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  test("q106 normalization is scan-speed: no exchange before the output sort (r8)") {
    val p = plan("q106_normalize_text")
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500))
    assert(!p.contains("Generate"), p.take(1500))
    assert(!p.contains("Join"), p.take(1500))
  }

  test("q107 drift report is one scan pass: conditional sums, no union, no window (r8)") {
    val p = plan("q107_corpus_drift")
    // both snapshots' measures ride ONE aggregation over ONE scan — a
    // Union means someone split it into two passes
    assert(!p.contains("Union"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    // 1-row totals attach via broadcast, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
  }

  test("q108 EXISTS/NOT EXISTS decorrelate to semi+anti hash joins, no per-row subquery (r8)") {
    val p = plan("q108_exists_subquery")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q109 gap fill: spine join broadcasts, no product anywhere (r8)") {
    val p = plan("q109_gapfill_spine")
    // both join sides are O(hours); the LEFT gap-fill join must be a
    // broadcast hash join, and sequence+explode must be a Generate node,
    // never a driver-side loop materialized as a LocalTableScan of rows
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("Generate"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q111 null-safe join plans as a hash join on the <=> key, not a nested loop (r8)") {
    val p = plan("q111_nullsafe_join")
    assert(p.contains("HashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q114 freq-items sketch aggregates via ObjectHashAggregate with a partial pass (r8)") {
    val p = plan("q114_frequent_items")
    // TypedImperativeAggregate must take the object-hash path (not
    // SortAggregate) and keep map-side partials: two ObjectHashAggregate
    // nodes around the single-partition exchange
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("SortAggregate"), p.take(2000))
  }

  test("q113 compression ratio is a pure per-row projection: no exchange before the sort (r8)") {
    val p = plan("q113_compression_ratio")
    assert(p.contains("graft_compression_ratio"), p.take(2000))
    assert(!p.contains("Join"), p.take(1500))
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500))
  }

  test("q115 RRF fusion: both top-50s are TakeOrdered, no corpus-wide window, no product (r8)") {
    val p = plan("q115_rrf_fusion")
    // each scorer's top-50 must be TakeOrderedAndProject — a global
    // Window over the scored corpus would funnel everything through one
    // task; the only windows allowed are the row_numbers on the 50-row
    // top lists (post-limit, bounded)
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q116 quantization recall: query side broadcasts, rankings are TakeOrdered (r8)") {
    val p = plan("q116_int8_quant")
    assert(p.contains("graft_dot"), p.take(2000))
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q117 winsorize: group-sized bounds broadcast back onto the fact scan (r8)") {
    val p = plan("q117_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("q120 value functions share ONE window node and one custkey exchange (r8)") {
    val p = plan("q120_win_value_fns")
    // same partitioning+ordering for all three functions must collapse to
    // a single Window operator — two Window nodes means a frame mismatch
    // silently doubled the sort
    assert("Window".r.findAllIn(p).size === 1, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q126 semantic dedup pairs only within clusters: equi-join, no product (r8)") {
    val p = plan("q126_semantic_dedup")
    // the SemDeDup trick is the centroid_id equi-join bounding the pair
    // space — a product here means the blocking was silently lost
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("graft_dot"), p.take(2000))
  }

  test("remaining r8 surface rows are product-free; cheap shapes hold (r8)") {
    // umbrella pin for the rows without a dedicated shape test: none may
    // plan a cartesian product, and the structurally-obvious properties
    // are asserted so a refactor can't silently degrade them
    for (name <- Seq("q110_listagg", "q112_histogram", "q119_bpe_tokenize",
      "q121_map_ops", "q124_funnel_stages", "q125_scd2_intervals",
      "q127_mixture_rebalance", "q128_benford_audit")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(1500)}")
    }
    // q125: one lead window, one Window node
    assert("Window".r.findAllIn(plan("q125_scd2_intervals")).size === 1)
    // q121: two aggregation levels (per-(doc,tok) counts, then the map)
    assert("HashAggregate".r.findAllIn(plan("q121_map_ops")).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(plan("q121_map_ops")).size >= 2)
    // q112/q128/q127: single-pass partial+final aggregation over the scan
    assert("HashAggregate".r.findAllIn(plan("q112_histogram")).size >= 2)
  }

  test("late-r8 rows: bloom probe prunes pre-join; eval/audit shapes hold") {
    for (name <- Seq("q130_chi_square", "q131_bloom_join", "q132_auc_eval",
      "q133_skew_diagnosis", "q134_autocorr_daily")) {
      assert(!plan(name).contains("CartesianProduct"),
        s"$name: ${plan(name).take(1500)}")
    }
    // q131: the bitmap build is a real partial+final bit_or aggregation,
    // and the probe-side membership filter (xxhash64 against the broadcast
    // map) sits in the plan BEFORE the exact equi-join does its shuffle —
    // i.e. the fact scan is pruned by the bloom, not by the join
    val p131 = plan("q131_bloom_join")
    assert(p131.contains("bit_or"), p131.take(2000))
    val probeIdx = p131.indexOf("xxhash64")
    assert(probeIdx >= 0, p131.take(2000))
    // q132/q134: the only Window runs over the group-sized relation — one
    // Window node, downstream of an aggregation
    assert("Window".r.findAllIn(plan("q132_auc_eval")).size === 1)
    assert("Window".r.findAllIn(plan("q134_autocorr_daily")).size === 1)
    // q133: two aggregation levels (per-key counts, then the summary)
    assert("HashAggregate".r.findAllIn(plan("q133_skew_diagnosis")).size >= 2)
    // q136: one partial+final confusion agg, no join anywhere
    val p136 = plan("q136_cohens_kappa")
    assert(!p136.contains("Join"), p136.take(1500))
    assert("HashAggregate".r.findAllIn(p136).size >= 2, p136.take(1500))
    // q135's iterative plan is checkpoint-truncated per round (the shape
    // lives in GraphOps.pageRank and is pinned behaviorally in
    // GraphOpsSpec); here only product-freedom of the final select
    assert(!plan("q135_pagerank").contains("CartesianProduct"))
  }

  test("q138/q139: temperature weights broadcast their stats; budget window is per-lang") {
    // q138: both normalizer relations are 1-row BROADCASTS (the q85
    // pattern) — never an empty Window.partitionBy() funnel, never a
    // cartesian product; the corpus feeds one partial+final agg
    val p138 = plan("q138_mixture_temperature")
    assert(!p138.contains("CartesianProduct"), p138.take(1500))
    assert(!p138.contains("Window"), p138.take(1500))
    assert(p138.contains("BroadcastNestedLoopJoin") || p138.contains("BroadcastExchange"),
      p138.take(2000))
    // q139: the greedy frontier is a SINGLE Window node PARTITIONED BY
    // lang (per-key — distributes at scale like q25); an empty
    // partitionBy would funnel the corpus through one task
    val p139 = plan("q139_token_budget_select")
    assert(!p139.contains("CartesianProduct"), p139.take(1500))
    assert("Window".r.findAllIn(p139).size <= 2, p139.take(2000))
    // every window spec leads with the lang partition column — an empty
    // partition list would start with the ORDER column or the frame
    val specs = "windowspecdefinition\\(\\w+#".r.findAllIn(p139).toSeq
    assert(specs.nonEmpty && specs.forall(_.startsWith("windowspecdefinition(lang#")),
      s"q139 window specs $specs:\n${p139.take(2000)}")
  }

  test("r9 rows: audit is one scan; diff is one key join; contamination collapses train first") {
    // q141: every declared check rides ONE aggregation over ONE scan —
    // exactly one FileScan of orders and one partial+final agg pair; the
    // unpivot is a generator, never a per-check job or union of scans
    val p141 = plan("q141_constraint_audit")
    assert("Scan parquet".r.findAllIn(p141).size === 1, p141.take(2000))
    assert(p141.contains("Generate") || p141.contains("explode"), p141.take(2000))
    // q142: one join, keyed — no product; both snapshot derivations scan
    // customer (the synthetic-new construction is 2 scans + the old side)
    val p142 = plan("q142_snapshot_diff")
    assert(!p142.contains("CartesianProduct"), p142.take(1500))
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p142).size === 1, p142.take(2000))
    // q143: the train side collapses to a DISTINCT shingle set (an
    // aggregation) BEFORE the left join probes it — the join must never
    // carry duplicate train shingles (row-count fan-out)
    val p143 = plan("q143_contamination_rate")
    assert(!p143.contains("CartesianProduct"), p143.take(1500))
    assert("HashAggregate".r.findAllIn(p143).size >= 4, p143.take(2000))
    // q144: score matrix is a 1-row-class BROADCAST product (q100's
    // shape). r21: the per-vec top-2 is a k-bounded collect_list
    // AGGREGATION (partial ObjectHashAggregate collapses the ×k scored
    // rows map-side), not a window — so the pin is: no window at all, a
    // partial+final collect_list pair keyed by vec_id, and no product
    val p144 = plan("q144_cluster_quality")
    assert(p144.contains("BroadcastExchange"), p144.take(2000))
    assert(!p144.contains("windowspecdefinition"), p144.take(2000))
    assert(p144.contains("partial_collect_list") &&
      "ObjectHashAggregate\\(keys=\\[vec_id#".r.findAllIn(p144).size === 2,
      s"q144 top-2 aggregation shape:\n${p144.take(2000)}")
    // q145: one gaps-and-islands window chain partitioned by user_id —
    // every window spec leads with the user partition column
    val p145 = plan("q145_session_table")
    val specs145 = "windowspecdefinition\\(\\w+#".r.findAllIn(p145).toSeq
    assert(specs145.nonEmpty &&
      specs145.forall(_.startsWith("windowspecdefinition(user_id#")),
      s"q145 window specs $specs145:\n${p145.take(2000)}")
    // q140 (atomic since r12): the graded read resolves the final snapshot
    // through the AtomicCommit manifest — plain generation file scans + the
    // rollup agg, no product (manifest pruning of the merge's base read is
    // pinned in IncrementalUpsertSpec; the crash-windowless commit in
    // AtomicCommitSpec)
    val p140 = plan("q140_incremental_upsert")
    assert(!p140.contains("CartesianProduct"))
    assert("HashAggregate".r.findAllIn(p140).size >= 2, p140.take(2000))
  }

  test("r11 rows: q146-q149 plan shapes (scrub join, RDD neighborhood, 1-row anchors)") {
    // q146: scrub+reconstruct is ONE keyed broadcast join between the
    // per-doc chunk count and the kept-chunk rollup — no product, and the
    // rollups are real partial+final pairs, never a window over all chunks
    val p146 = plan("q146_chunk_scrub")
    assert(!p146.contains("CartesianProduct"), p146.take(1500))
    assert(p146.contains("BroadcastHashJoin"), p146.take(2000))
    assert(!p146.contains("Window"), p146.take(2000))
    // q147 (rewired r11): candidate generation is ops.SortedNeighborhood —
    // a range-partitioned RDD sweep, NOT a window. A "Window" here means a
    // refactor reverted to the single-partition (or 26-way first-letter)
    // form; the verification filter and native JW must sit above the scan
    val p147 = plan("q147_sorted_neighborhood")
    assert(!p147.contains("Window"), p147.take(2000))
    assert(p147.contains("Scan ExistingRDD"), p147.take(2000))
    assert(p147.contains("graft_jaro_winkler"), p147.take(2000))
    // q148: the decay anchor (global max date) is a 1-ROW IdentityBroadcast
    // cross — the only acceptable BNLJ shape — and the per-user rollup is a
    // partial+final agg pair; no window over the event stream
    val p148 = plan("q148_time_decay_features")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p148).size === 1, p148.take(2000))
    assert(p148.contains("IdentityBroadcastMode"), p148.take(2000))
    assert(!p148.contains("Window"), p148.take(2000))
    assert("HashAggregate".r.findAllIn(p148).size >= 4, p148.take(2000))
    // q149: first-week re-join is KEYED on user (hash/broadcast, no
    // product); the only BNLJ is the 1-row min-date anchor
    val p149 = plan("q149_retention_cohorts")
    assert(!p149.contains("CartesianProduct"), p149.take(1500))
    assert(p149.contains("BroadcastHashJoin"), p149.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p149).size <= 2, p149.take(2000))
  }

  test("r11 rows: q55 typed codec boundary, q150 manifest-resolved read") {
    // q55: encode and decode are typed mapPartitions boundaries (object
    // serialization spans), ONE documents scan feeds them, and nothing
    // shuffles before the final output sort — a Window or join here means
    // the codec path grew a plan it doesn't need
    val p55 = plan("q55_multimodal_meta")
    assert(p55.contains("MapPartitions"), p55.take(2000))
    assert("Scan parquet".r.findAllIn(p55).size === 1, p55.take(2000))
    assert(!p55.contains("Window") && !p55.contains("Join"), p55.take(2000))
    assert("Exchange".r.findAllIn(p55).size <= 1, p55.take(2000)) // the sort only
    // q150: the snapshot read resolves via the manifest to plain file
    // scans (one per generation) + one partial+final agg pair — no join,
    // no window; reading through the manifest must not add plan weight
    val p150 = plan("q150_atomic_commit")
    assert(!p150.contains("Join") && !p150.contains("Window"), p150.take(2000))
    assert("HashAggregate".r.findAllIn(p150).size >= 2, p150.take(2000))
  }

  test("q43 pair join reads ONE materialization of the signatures (one checkpoint)") {
    // both sides of the banded candidate join must scan the same signature
    // checkpoint — losing the shared materialization silently doubles the
    // sketch computation (measured 1.7s -> 3.1s on the q43 bench shape)
    val df = SparkEntry.queries("q43_minhash_lsh")(spark, sf0001)
    val rdds = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    assert(rdds.size === 2 && rdds.distinct.size === 1, df.queryExecution.analyzed.toString)
    // the action reads only that checkpoint: no parquet rescan, no second
    // run of the sketch kernel
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("FileScan") && !p.contains("graft_minhash_sig"), p.take(2000))
  }
}
