package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Plan-quality regression tests (builder brief: iterate on
  * `.explain` until the plan is the one you'd want). These pin the
  * properties that make the queries scale — filter pushdown, column
  * pruning, broadcast join selection, top-k without full sort — so a
  * refactor that silently loses one fails here, not in a benchmark.
  */
class PlanSpec extends SparkTestBase {

  private def planOf(name: String): String = {
    val df: DataFrame = graft.SparkEntry.queries(name)(spark, sfDir)
    val qe: QueryExecution = df.queryExecution
    // FormattedMode prints scan details (PushedFilters/ReadSchema)
    // without the treeString line truncation.
    qe.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("q01 pushes filters into the parquet scan and prunes columns") {
    val p = planOf("q01_scan_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("l_quantity:double,l_returnflag:string,l_shipdate:timestamp"))
    // untouched wide columns must not be read
    assert(!p.contains("l_comment"))
  }

  test("q03 broadcasts both dimension sides and uses top-k without full sort") {
    val p = planOf("q03_join_inner_topn")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2)
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"))
  }

  test("q07 semi join is a broadcast hash join") {
    val p = planOf("q07_join_semi")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
  }

  test("q18 top-k avoids a global sort") {
    val p = planOf("q18_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"))
  }

  test("q30 exact dedup shuffles the digest, not the document body") {
    val p = planOf("q30_dedup_exact")
    // partial aggregation before the exchange; text column pruned after
    // the digest projection
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_min") || p.contains("partial_count"))
  }

  test("q36 IVF assignment combines partially map-side") {
    val p = planOf("q36_ann_ivf_topk")
    assert(p.contains("partial_max_by"))
  }

  test("q42 window aggregation is partially aggregated map-side") {
    val p = planOf("q42_event_windows")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("q50 vocabulary top-k is TakeOrderedAndProject with no window at all") {
    val p = planOf("q50_vocabulary")
    assert(p.contains("TakeOrderedAndProject"))
    // the rank comes from a bounded array posexplode, so the plan must
    // not contain any Window node (an unpartitioned row_number would
    // move every distinct token to a single task)
    assert(!p.contains("Window"))
  }

  test("q47 exact median never sorts a whole group in one task") {
    val p = planOf("q47_exact_median")
    // histogram counts combine partially map-side
    assert(p.contains("partial_count"))
    // every window partition spec includes the bucket-phase keys — no
    // window partitioned by the raw low-cardinality group alone ordered
    // over row values
    val all = "windowspecdefinition\\(".r.findAllIn(p).size
    val bucketed = "windowspecdefinition\\(grp#\\d+".r.findAllIn(p).size
    assert(all > 0 && all == bucketed)
  }

  test("q56 per-group top-k inserts WindowGroupLimit before the shuffle") {
    val p = planOf("q56_group_topk")
    // rank-filter pushdown: per-partition k-heaps on both sides of the
    // exchange, so only ~k·|groups| rows reach the sort
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("Partial") && p.contains("Final"))
  }

  test("q52 as-of join contains no join node — one window pass, no pair blowup") {
    val p = planOf("q52_asof_join")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"))
    assert(p.contains("Window"))
    // exactly one hash shuffle for the window itself (the only other
    // exchange is the final presentation sort's range partitioning);
    // FormattedMode lists the partitioning in the Arguments line
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length == 1)
  }

  test("q63 quantiles: windows only over bucket keys, small sides broadcast") {
    val p = planOf("q63_exact_quantiles")
    // same property as q47: no window partitioned by the raw
    // low-cardinality group alone — every spec carries the bucket id
    val all = "windowspecdefinition\\(".r.findAllIn(p).size
    val bucketed = "windowspecdefinition\\(grp#\\d+, b#\\d+".r.findAllIn(p).size
    assert(all > 0 && all == bucketed)
    // per-group metadata (bounds/ranks/targets) joins are broadcast —
    // the base is never shuffled for them
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q64 CDC merge: one full-outer join on the key, batch collapsed first") {
    val p = planOf("q64_cdc_merge")
    assert("SortMergeJoin FullOuter".r.findAllIn(p).size == 1 ||
      p.contains("Join type: FullOuter"))
    // latest-change pick is windowed by the full key (small side only)
    assert("windowspecdefinition\\(o_orderkey#\\d+L, seq#\\d+L DESC"
      .r.findFirstIn(p).isDefined)
    assert(!p.contains("CartesianProduct"))
  }

  test("q58 search: term filter precedes the shuffle, weights broadcast, heap top-k") {
    val p = planOf("q58_search_topk")
    // the literal term list filters the exploded tokens (before the
    // (doc, token) aggregation shuffle by construction) — only
    // query-term hits ever move
    assert("token#\\d+ IN \\(spark,window,stream\\)".r.findFirstIn(p).isDefined ||
      p.contains("IN (spark,window,stream)"))
    // weights (|terms| rows) come back via broadcast, and the global
    // top-k is a per-partition heap merge, not a full sort
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q67 zscore: per-group stats broadcast back over a narrow projection") {
    val p = planOf("q67_zscore")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // no window at all: stats are an aggregate, not a whole-group sort
    assert(!p.contains("Window ("))
  }

  test("q70 prunes partitions at the directory level, not by row filter") {
    val p = planOf("q70_partition_pruning")
    assert("PartitionFilters: \\[.*event_date".r.findFirstIn(p).isDefined,
      "date predicate did not reach PartitionFilters")
  }

  test("q71 bucketed join has no exchange on either side") {
    val p = planOf("q71_bucketed_join")
    // In FormattedMode's tree section the join's CHILDREN print below
    // it; bucketed layout means nothing between join and scans — no
    // Exchange may appear after the join line within the tree.
    val tree = p.substring(0, p.indexOf("\n\n") match {
      case -1 => p.length; case i => i
    })
    val joinIdx = tree.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, "expected a sort-merge join over bucketed tables")
    assert(!tree.substring(joinIdx).contains("Exchange"),
      "bucketed join still shuffles its inputs")
  }

  test("join shapes are eligible for Spark's runtime bloom-filter pruning") {
    // At 100 TB the optimizer injects a bloom filter from the selective
    // dim side into the fact scan (InjectRuntimeFilter), cutting the
    // shuffled fact rows before the join. The fixtures are far below
    // the size thresholds, so this test lowers them to prove our join
    // shape qualifies — i.e. the scale path is actually reachable from
    // these plans, not accidentally disqualified.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "10GB")  // creation side must be BELOW this
      conf.set(keys(1), "0")     // application side must be ABOVE this
      conf.set(keys(2), "-1") // force a shuffle join: bloom targets those
      conf.set(keys(3), "true")
      conf.set(keys(4), "1000000")
      val fact = graft.Tables.load(spark, sfDir, "lineitem")
      val dim = graft.Tables.load(spark, sfDir, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val j = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        .groupBy("o_orderpriority")
        .count()
      val p = j.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("might_contain"),
        "runtime bloom filter was not injected into the fact side")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q103 bloom probe broadcasts the filter words — the corpus never shuffles for membership") {
    val p = planOf("q103_bloom_contamination")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q101 star join broadcasts dims and pushes the region filter to the scan") {
    val p = planOf("q101_star_join_revenue")
    assert(p.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"))
    // region/nation/supplier (at minimum) broadcast; the fact side
    // never nest-loops
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3)
    assert(!p.contains("CartesianProduct"))
  }

  test("q89 fuzzy join blocks on deletion variants, never a nested-loop distance matrix") {
    val p = planOf("q89_fuzzy_join")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("_variant")) // candidate generation is the equi-join key
  }

  test("skewed shuffle joins split at runtime under AQE (the hot-key scale path)") {
    // Complements the salted-agg operator (q45): for JOINS the engine
    // relies on AQE's OptimizeSkewedJoin to split oversized partitions
    // at runtime. Fixture partitions are tiny, so lower the thresholds
    // to prove the join shape actually qualifies for the optimization —
    // a 100 TB hot key would otherwise serialize into one task.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.forceOptimizeSkewedJoin")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "-1") // force a sort-merge join
      conf.set(keys(1), "true")
      conf.set(keys(2), "16KB")
      conf.set(keys(3), "2")
      conf.set(keys(4), "16KB")
      // apply the split even where it costs an extra shuffle — the
      // fixture is too small for the cost model's tipping point
      conf.set(keys(5), "true")
      import org.apache.spark.sql.functions._
      // sf0.01 (not the sf0.001 spec default): the skew detector works
      // on shuffle BYTES and needs a hot partition big enough to clear
      // the byte thresholds
      val ev = graft.Tables.load(spark, "/root/testdata/sf0.01", "events")
      // 90% of rows share key 0 — one partition dwarfs the median.
      // repartition(8) first: AQE splits a skewed partition at MAPPER
      // granularity, and the single-row-group fixture scan is one map
      // task — debugged via the rule's own "number of skewed
      // partitions: left 0" log line; a one-mapper shuffle is
      // unsplittable no matter how skewed.
      val left = ev.select(
        when(col("event_id") % 10 < 9, 0L).otherwise(col("event_id"))
          .as("k"), col("value")).repartition(8)
      val right = ev.select((col("event_id") % 50).as("k"),
        col("event_type")).distinct()
      val j = left.join(right, "k")
      // AQE decides from runtime stats — execute THIS QueryExecution
      // (count() would plan a separate one and leave j's non-final)
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"))
      assert(p.contains("skew=true"),
        "AQE did not split the skewed join partition")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("LSH self-join reuses one exchange — the signature pipeline runs once") {
    // the shuffle_hash hint makes both self-join sides plan the
    // IDENTICAL exchange so ReuseExchange evaluates the md5-per-shingle
    // signature pipeline once (Dedup.minHashLshWith); a hint or AQE
    // change that silently drops the reuse would double the dominant
    // cost, so pin it here. q31 now serves the shared pair ARTIFACT
    // (a parquet scan — nothing to reuse), so the pin reads the
    // operator that PRODUCES the artifact plus q33, which still plans
    // the full chain inline.
    import org.apache.spark.sql.functions.col
    val producer = graft.operators.Dedup.minHashLsh(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text",
      shingleN = 2, k = 24, bands = 4, rows = 6, threshold = 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
    val q33 = graft.SparkEntry.queries("q33_dedup_ngram_jaccard")(spark, sfDir)
    for ((name, df) <- Seq("pair-artifact producer" -> producer,
        "q33_dedup_ngram_jaccard" -> q33)) {
      // AQE applies exchange reuse at RUNTIME: the pin must read the
      // final adaptive plan, so execute the frame first
      df.collect()
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("isFinalPlan=true"))
      assert(p.contains("ReusedExchange"), s"$name lost exchange reuse")
      assert(!p.contains("CartesianProduct"), s"$name degraded to all-pairs")
    }
  }

  test("q117/q118 span and containment dedup never degrade to all-pairs") {
    for (q <- Seq("q117_span_dedup", "q118_containment")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q went all-pairs")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q went nested-loop")
      assert(p.contains("partial_count"), s"$q lost map-side combine")
    }
    // the rarest-probes pick prunes to top-4 per doc BEFORE the window
    // shuffle — losing this re-sorts every (doc, shingle) row
    assert(planOf("q118_containment").contains("WindowGroupLimit"))
  }

  // q122's interior shapes (broadcast centroids, cluster equi-join) sit
  // behind its localCheckpoint and are invisible to a final-plan pin;
  // OperatorSpec's exact-grouping test covers the operator instead.

  test("q119 surprisal broadcasts the vocabulary — the corpus never shuffles on words") {
    val p = planOf("q119_surprisal")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q120 int8 retrieval broadcasts queries against one corpus scan") {
    val p = planOf("q120_int8_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin")) // non-equi self-exclusion join
    assert(!p.contains("CartesianProduct"))
  }

  test("q34 embedding near-dup self-joins on (label, LSH band), not all pairs") {
    val p = planOf("q34_dedup_embedding_cosine")
    assert("Left keys \\[2\\]: \\[label#\\d+, band#\\d+\\]".r.findFirstIn(p).isDefined)
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q83 native as-of join: custom exec, one exchange+sort per side, no window") {
    val p = planOf("q83_asof_native")
    assert(p.contains("AsOfJoin"))
    assert(!p.contains("Window"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // one hash exchange per side (the only other exchange is the final
    // presentation sort's range partitioning)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).length == 2)
  }

  test("q84 KMV sketch builds via pre-shuffle WindowGroupLimit, not a full sort") {
    val p = planOf("q84_kmv_distinct")
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("Exchange rangepartitioning(h"))
  }

  test("q85 z-order tiles aggregate partially map-side with no pre-agg shuffle") {
    val p = planOf("q85_zorder_layout")
    assert(p.contains("partial_min") || p.contains("partial_count"))
    // bit-interleave is pure projection: exactly the aggregation's own
    // hash exchange (on the internal grouping expression for the tile)
    // plus the presentation sort's range partitioning, nothing else
    assert("hashpartitioning\\(".r.findAllIn(p).length == 1)
    assert("rangepartitioning\\(tile".r.findAllIn(p).length == 1)
  }

  test("q86 incremental merge joins partial aggregates, never re-scans history twice") {
    val p = planOf("q86_incremental_agg")
    // both branches aggregate partially before their single shuffle
    assert("partial_count".r.findAllIn(p).length >= 2)
    assert(p.contains("FullOuter") || p.contains("SortMergeJoin"))
  }

  test("q107 chunking is scan-side: a generate, no hash exchange, no window") {
    val p = planOf("q107_chunking")
    assert(p.contains("Generate")) // the stride-start explode
    assert(!p.contains("Window"))
    // only the presentation sort repartitions
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("q112 repetition metrics: narrow, one explode-barrier, no shuffle") {
    val p = planOf("q112_repetition_filter")
    assert(!p.contains("Exchange hashpartitioning"))
    assert(!p.contains("Window"))
    // exactly ONE Generate: the r13 collapse-barrier that pins the
    // token array to a single evaluation (CollapseProject would
    // otherwise inline the split into the per-position trigram lambda
    // — O(n²) re-tokenization; DESIGN §5). Still row-count-preserving
    // and shuffle-free.
    assert("Generate \\(\\d+\\)".r.findAllIn(p).size == 1, p)
  }

  test("q32 simhash: one native expression, no hex split, no shuffle") {
    val p = planOf("q32_dedup_simhash")
    // r21: the whole per-token hash+vote runs inside ONE native
    // expression (graft_simhash32 — bit-identical to the declarative
    // fold, NativeTextHashSpec) — no md5 hex string, no 32-way char
    // split, no zip_with fold left in the plan. The r13 contract
    // (one digest per token) is now internal to the expression.
    assert("graft_simhash32\\(".r.findAllIn(p).size == 1, p)
    assert(!p.contains("md5("), p)
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("q38 lang_id: one score barrier, shuffle-free") {
    val p = planOf("q38_lang_id")
    // exactly ONE Generate: the langScores explode-barrier that
    // materializes the per-language marker counts so the argmax fold's
    // exponentially-duplicated references are struct-field reads, not
    // re-inlined filter-over-split lambdas (DESIGN §5).
    assert("Generate \\(\\d+\\)".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("q211 contamination sweep reads the corpus once for all n") {
    val p = planOf("q211_contamination_sweep")
    // the r13 single-pass rewrite: all shingle sizes are tagged rows
    // of ONE scan+join+rollup, not |ns| unioned legs — at 100 TB a
    // knob sweep must never multiply scans (DESIGN §5). No Union node
    // and exactly one documents scan pin that shape.
    assert(!p.contains("Union"), p)
    // two scan NODES (probe side + distinct-bench side) regardless of
    // |ns| — the old per-n union had 2·|ns|.
    assert("Scan parquet\\s+\\(\\d+\\)".r.findAllIn(p).size == 2, p)
  }

  test("q108 packing: the prefix-sum window is partitioned by shard") {
    val p = planOf("q108_sequence_packing")
    val all = "windowspecdefinition\\(".r.findAllIn(p).size
    val sharded = "windowspecdefinition\\(shard#\\d+".r.findAllIn(p).size
    assert(all > 0 && all == sharded)
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("q109 scd2: every window is partitioned by the dimension key") {
    val p = planOf("q109_scd2_build")
    val all = "windowspecdefinition\\(".r.findAllIn(p).size
    val keyed = "windowspecdefinition\\(user_id#\\d+L".r.findAllIn(p).size
    assert(all > 0 && all == keyed)
  }

  test("q110 triangles: equi-joins only, never a cartesian wedge product") {
    val p = planOf("q110_triangle_count")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q111 MAD: histogram phases combine partially, scalars broadcast") {
    val p = planOf("q111_mad_outliers")
    assert(p.contains("partial_count"))
    assert(p.contains("BroadcastHashJoin"))
    // no window partitioned by the raw event_type alone (the selector's
    // windows all carry the bucket id)
    val all = "windowspecdefinition\\(".r.findAllIn(p).size
    val bucketed = "windowspecdefinition\\(grp#\\d+, b#\\d+".r.findAllIn(p).size
    assert(all > 0 && all == bucketed)
  }

  test("q113 incremental dedup broadcasts the batch bands — the corpus never shuffles for candidates") {
    val p = planOf("q113_incremental_dedup")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q114 bm25: pre-shuffle term filter, broadcast stats, heap top-k") {
    val p = planOf("q114_bm25_topk")
    assert("IN \\(spark,window,stream\\)".r.findFirstIn(p).isDefined)
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q115 mixture acceptance is a projection over broadcast thresholds") {
    val p = planOf("q115_mixture_sample")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"))
  }

  test("q128 profile: per-column distinct aggs, broadcast-assembled, no Expand") {
    val p = planOf("q128_column_profile")
    // one base-stats scan + one column-pruned scan per countDistinct,
    // assembled by broadcast crossJoins of 1-row results. The previous
    // single-aggregate shape planned an Expand (×cols+1 row
    // replication) and measured 4× slower at sf0.1 (DESIGN.md §5) —
    // pin its absence.
    assert(!p.contains("Expand"))
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length == 6)
    assert(p.contains("BroadcastNestedLoopJoin"))
    // every distinct agg is two-phase: partial per partition first
    assert(p.contains("partial_count(distinct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q129 histogram broadcasts the 1-row bounds; counts combine map-side") {
    val p = planOf("q129_histogram")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"))
    assert(p.contains("partial_count"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q130 salted join is a SHUFFLE join — the shape salting exists for") {
    val p = planOf("q130_salted_join")
    assert(p.contains("ShuffledHashJoin"))
    // the probe side must NOT be broadcast (a broadcast join has no
    // per-key partition for the salt to split)
    assert(!p.contains("BroadcastHashJoin"))
  }

  test("q133 bigram model joins broadcast — the corpus never shuffles on bigrams") {
    val p = planOf("q133_bigram_surprisal")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("q136 class cap never sorts a whole class: data windows carry the bucket id") {
    val p = planOf("q136_class_balance")
    // the straddle-bucket rank partitions by (class, bucket)
    assert("windowspecdefinition\\(_cls#\\d+, _cb#\\d+".r.findFirstIn(p).isDefined)
    // no window over data rows partitioned by the bare class: the only
    // single-key window is the cumulative fold over per-bucket COUNTS
    assert("windowspecdefinition\\(source#\\d+".r.findFirstIn(p).isEmpty)
  }

  test("q137 percent rank never sorts a whole group: the rank window is bucketed") {
    val p = planOf("q137_percent_rank")
    assert("windowspecdefinition\\(event_type#\\d+, _b#\\d+".r.findFirstIn(p).isDefined)
    // the naive shape — rank over (event_type ORDER BY value) — absent
    assert("windowspecdefinition\\(event_type#\\d+, _x#\\d+ ASC".r.findFirstIn(p).isEmpty)
  }

  test("q140 sketch intersection joins only sketch-sized inputs") {
    val p = planOf("q140_kmv_intersect")
    assert(p.contains("WindowGroupLimit")) // pre-shuffle bottom-k build
    assert(p.contains("BroadcastHashJoin")) // thresholds broadcast back
    assert(!p.contains("CartesianProduct"))
  }

  test("q145 heavy hitters recount: broadcast semi join, no isin literal list") {
    val p = planOf("q145_heavy_hitters")
    // candidates reach the recount as a broadcast LEFT SEMI join — the
    // scale-safe form; an In-expression over collected candidates would
    // be k·partitions literals of plan bloat
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"))
    assert(!" IN \\(".r.findFirstIn(p).isDefined, "candidate isin literal list crept back")
    // the count marker/total never forces a shuffle join
    assert(!p.contains("SortMergeJoin"))
  }

  test("q158 equi-depth bin: no bare-group window, cutpoints broadcast back") {
    val p = planOf("q158_equi_depth_bin")
    // ntile's shape — a window over (event_type ORDER BY value) moving
    // every group through one task — must be absent: every window spec
    // carries the bucket-phase keys
    val all = "windowspecdefinition\\(".r.findAllIn(p).size
    val bucketed = "windowspecdefinition\\(grp#\\d+, b#\\d+".r.findAllIn(p).size
    assert(all > 0 && all == bucketed)
    // the nBins-1 cutpoints rejoin the corpus broadcast (an ntile
    // window would be caught by the spec-key assertion above —
    // "ntile" itself is unsearchable here, `quantile_value` contains
    // it as a substring)
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q147 chi-square derives everything from the checkpointed cells") {
    val p = planOf("q147_chisq_assoc")
    // the one corpus scan happened at cell-materialization time; the
    // final plan reads only the domain-sized checkpoint (no parquet
    // re-scan per marginal) and joins it broadcast
    assert(!p.contains("Scan parquet"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("q148 budget fill never windows a whole class: prefix sums are bucketed") {
    val p = planOf("q148_budget_fill")
    // the straddle-bucket prefix sum partitions by (class, bucket)
    assert("windowspecdefinition\\(_cls#\\d+, _cb#\\d+".r.findFirstIn(p).isDefined)
    // no data-row window over the bare class (the naive cumsum shape)
    assert("windowspecdefinition\\(source#\\d+".r.findFirstIn(p).isEmpty)
  }

  test("q175 RRF fusion: per-query top-k plans as WindowGroupLimit") {
    val p = planOf("q175_rrf_fusion")
    // the rank<=topK filter over row_number must prune inside each
    // partition (heap semantics), not rank the full fused set
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q177 shard audit: ring assignment is a pure projection, no data-sized join") {
    val p = planOf("q177_shard_plan")
    // per-row assignment = literal-array expression; only the 8-row
    // audit aggregates join, and they broadcast
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"))
  }

  test("q178 decayed counts: map-side partial agg over the broadcast anchor") {
    val p = planOf("q178_decayed_counts")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    // the 1-row max(ts) anchor attaches broadcast, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q186 distinctive terms: group-df broadcast, top-k as WindowGroupLimit") {
    val p = planOf("q186_source_terms")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q196 phrase search: postings filtered to the phrase terms pre-shuffle") {
    val p = planOf("q196_phrase_search")
    // the isin(term) filter sits under the first exchange, and the
    // final top-k never global-sorts
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("table") && p.contains("hash")) // literal term filter present
  }

  test("q197 hard negatives: broadcast queries, no corpus shuffle join") {
    val p = planOf("q197_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q198 edit-distance pairs: one co-partitioned self-join, heap top-N") {
    val p = planOf("q198_edit_distance_pairs")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q177 ring lookup is the binary-search expression, not a struct argmin") {
    val p = planOf("q177_shard_plan")
    assert(p.contains("graft_ring_lookup"))
    assert(!p.contains("array_min"))
  }

  test("q201 overlap matrix: the only corpus pass is the sketch build") {
    val p = planOf("q201_source_overlap")
    // sketch-sized pairwise joins broadcast; WindowGroupLimit pushes
    // per-partition top-k before the sketch shuffle
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q205 join amplification never runs the join it predicts") {
    val p = planOf("q205_join_amplification")
    assert(p.contains("partial_count"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q208 centroid drift: partial sums before the labels-by-dim shuffle") {
    val p = planOf("q208_centroid_drift")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    assert(!p.contains("CartesianProduct"))
  }

  // ------------------------------------------------------ round 9

  test("q221 kappa: combinable confusion counts, scalar attach broadcast") {
    val p = planOf("q221_cohens_kappa")
    assert(p.contains("partial_count") || p.contains("partial_sum"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q223 bootstrap: replicate explode feeds a map-side partial agg") {
    val p = planOf("q223_bootstrap_ci")
    assert(p.contains("Generate")) // the x`reps` explode
    assert(p.contains("partial_sum")) // combine before the (grp, r) shuffle
  }

  test("q225 ahash: band-key equi-join, never an all-pairs product") {
    val p = planOf("q225_ahash_neardup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // only doc_id and text leave the scan (payload derives from text)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q226 chunking is shuffle-free up to the output sort") {
    val p = planOf("q226_chunking")
    assert(!p.contains("Exchange hashpartitioning"))
    assert(p.contains("Generate")) // posexplode of window starts
  }

  test("q228 term lift: top-M vocabulary attaches by broadcast") {
    val p = planOf("q228_term_lift")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2)
    assert(!p.contains("CartesianProduct"))
  }

  test("q229/q231 retrieval evals broadcast the query side") {
    for (q <- Seq("q229_filtered_recall", "q231_hubness")) {
      val p = planOf(q)
      assert(p.contains("BroadcastNestedLoopJoin"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("q233 class scatter: coordinate sums combine map-side") {
    val p = planOf("q233_class_scatter")
    assert(p.contains("partial_sum"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q234 vocab growth: first-seen is one combinable min per term") {
    val p = planOf("q234_vocab_growth")
    assert(p.contains("partial_min"))
  }

  test("q239 referential integrity is a key-set anti join") {
    val p = planOf("q239_ref_integrity")
    assert(p.contains("LeftAnti"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q240 benford: digit census combines map-side") {
    val p = planOf("q240_benford")
    assert(p.contains("partial_count"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q242 time-to-action runs on the native as-of exec") {
    val p = planOf("q242_time_to_action")
    assert(p.contains("AsOfJoin")) // AsOfJoinExec node
    assert(!p.contains("CartesianProduct"))
  }

  test("q243 ship lag broadcasts the orders side of the FK join") {
    val p = planOf("q243_ship_lag")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q244 DSv2 scan prunes the text column") {
    val p = planOf("q244_dsv2_source")
    assert(p.contains("BatchScan"))
    assert(!p.contains("text"))
  }

  test("q245 IVF-PQ broadcasts tables and centroids, no products") {
    val p = planOf("q245_ivf_pq")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 1)
    assert(!p.contains("CartesianProduct"))
  }

  test("q247 log-hist sketch aggregates map-side (partial count)") {
    val p = planOf("q247_loghist_quantiles")
    assert(p.contains("partial_count") || p.contains("partial count") ||
      p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("q248 mixture-resample rank takes the pre-shuffle WindowGroupLimit cut") {
    // the literal max-quota cap is what lets map tasks ship at most
    // max-quota rows per domain instead of the corpus into the sort
    val p = planOf("q248_mixture_resample")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }
}
