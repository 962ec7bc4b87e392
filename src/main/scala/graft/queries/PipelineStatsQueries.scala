package graft.queries

import graft.Tables
import graft.operators.{AsOfJoin, Bpe, Cdc, Curation, DataQuality, Dedup, Events, FuzzyJoin, Graph, Layout, Multimodal, Pq, RangeJoin, Reconcile, Search, Similarity, Sketch, Stats, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import PipelineShared._

/** Statistics and data-quality queries: exact quantiles, correlation/KS/chi-square, sketches (KMV, count-min, log-hist), event analytics (funnels, sessions, transitions), and audit checks (FD, referential integrity, Benford, CUSUM).
  *
  * One of five domain slices of the former single-file
  * PipelineQueries (r16 split, VERDICT item 7) — entries are
  * verbatim; [[PipelineQueries]] aggregates the maps back into the
  * driver-facing surface. */
private[queries] object PipelineStatsQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q111: median/MAD robust outliers per event type — both medians
    // via the two-phase histogram selector (no per-group whole-sort),
    // group scalars broadcast, flags pure projections.
    "q111_mad_outliers" -> ((s, dir) => {
      Stats.madOutliers(t(s, dir, "events"), "event_type", "value", k = 3.0)
        .orderBy("event_type")
    }),

    // q102: sliding-frame moving average per user (5-event window) —
    // frame aggregates in exact decimals over the (us, event_id) total
    // order; one division of identical values at the edge.
    "q102_moving_avg" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id")).rowsBetween(-4, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("value"))
        .select(col("event_id"), col("user_id"),
          (sum(col("value").cast("decimal(18,3)")).over(w).cast("double") /
            count(lit(1)).over(w).cast("double")).as("moving_avg"))
        .orderBy("event_id")
    }),

    // q99: activity coverage via gaps-and-islands — each event claims
    // a 60-second interval; overlapping intervals merge per user
    // (Events.mergeIntervals) and the per-user coverage stats are
    // island-numbering-invariant, so both engines agree even where
    // tie rows could renumber islands.
    "q99_interval_islands" -> ((s, dir) => {
      val iv = t(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts)").as("ivl_start"),
        expr("unix_micros(ts) + 60000000").as("ivl_end"))
      Events.mergeIntervals(iv, "user_id", "ivl_start", "ivl_end")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("island_end") - col("island_start")).as("covered_us"),
          max(col("island_end") - col("island_start")).as("max_island_us"))
        .orderBy("user_id")
    }),

    // q97: per-type linear value trend (Stats.linearTrend) — minutes
    // since the global first event vs value cents, exact integer
    // sufficient statistics, IEEE-shared slope/intercept tree.
    "q97_group_linreg" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), expr("unix_micros(ts)").as("us"),
          col("value"))
      val base = ev.agg(min(col("us")).as("_base_us"))
      val prepared = ev.crossJoin(broadcast(base))
        .select(col("event_type"),
          expr("(us - _base_us) div 60000000").as("x_min"),
          expr("CAST(floor(CAST(value AS DOUBLE) * 100) AS LONG)").as("y_cents"))
      Stats.linearTrend(prepared, Seq("event_type"),
        col("x_min"), col("y_cents"))
        .orderBy("event_type")
    }),

    // q95: weekly cohort retention (Events.cohortRetention) on the
    // proven floor-µs timeline — 604800000000 µs per week bucket.
    "q95_cohort_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
      Events.cohortRetention(ev, "signup", 604800000000L)
        .select(col("cohort_bucket").as("cohort_week"),
          col("bucket_offset").as("week_offset"), col("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // q91: ordered funnel (Events.funnel) — users reaching
    // signup → view → purchase in event-time order, on the proven
    // floor-µs timeline.
    "q91_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
      Events.funnel(ev, "user_id", "event_type", "us",
        Seq("signup", "view", "purchase"))
        .orderBy("stage")
    }),

    // Event-time tumbling window aggregation.
    "q42_event_windows" -> ((s, dir) => {
      Events.tumblingCounts(t(s, dir, "events"), "1 hour")
        .orderBy("win_start", "event_type")
    }),

    // Gap-based sessionization (30-minute inactivity). events.parquet is
    // TIMESTAMP(NANOS); the checked µs bounds are safe because BOTH
    // engines floor ns→µs (Spark: Tables.load `ts DIV 1000`; oracle:
    // `epoch_ns(ts) // 1000` — and the r4 q82 fingerprint probe proved
    // the driver engine's own parquet read also floors, pinning min,
    // max and a modular checksum of every µs value). min/max event_id
    // stay in the contract as conversion-free anchors.
    "q43_sessionization" -> ((s, dir) => {
      Events.sessionize(t(s, dir, "events"), 30)
        .select("user_id", "session_id", "n_events",
          "session_start_us", "session_end_us",
          "min_event_id", "max_event_id", "session_value")
        .orderBy("user_id", "session_id")
    }),

    // ENGINE-SEMANTICS PROBES (1 row each). events.ts is parquet
    // TIMESTAMP(NANOS); Spark reads the raw int64 nanos and floors to
    // µs. These rows pin, via the driver's own compare, the conversion
    // the oracle engine applies. MEASURED (rounds 3-4): a q59 sub-µs
    // visibility probe came back red (the engine exposes no sub-µs
    // digits — it converts ns at parquet read) while q60+q82 are green
    // (the conversion FLOORS, and every µs value is bit-identical to
    // Spark's `ts DIV 1000`). Conclusion recorded in DESIGN.md; the
    // answered q59 probe is retired, the floor invariants stay as
    // regression tripwires for driver-engine upgrades.
    //
    // q60: does its ns→µs conversion FLOOR (like Spark's DIV) or round?
    //   green ⇔ floor/truncation end-to-end; red ⇔ it rounds half up
    //   (~50% of µs values shift by +1, flipping parity).
    "q60_probe_us_parity" -> ((s, dir) => {
      Tables.sessionDefaults(s)
      val raw = s.read.parquet(s"$dir/events.parquet")
      // µs from the RAW encoding: nanos-as-long (rounds 1-6 fixture) or
      // µs TIMESTAMP_NTZ (r7 fixture) — the probe pins the same floor
      // invariant either way.
      val us = rawUs(raw)
      raw.agg(sum(when(us % 2 === 1, 1L).otherwise(0L)).as("n_odd_us"))
    }),

    // q84: KMV bottom-k distinct sketch (Sketch.kmvDistinct) next to
    // the exact counts it estimates — per event type, distinct users
    // (< k, so the sketch is exact) and distinct active user-hours
    // (thousands, a real estimation). The auditable, mergeable
    // alternative to approx_count_distinct's HLL black box.
    "q84_kmv_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val userHour = concat(col("user_id").cast("string"), lit("#"),
        expr("unix_micros(ts) div 3600000000").cast("string"))
      val estU = Sketch.kmvDistinct(ev, Seq("event_type"),
        col("user_id").cast("string"), 64)
        .withColumnRenamed("est_nd", "est_users")
      val estUh = Sketch.kmvDistinct(ev, Seq("event_type"), userHour, 64)
        .withColumnRenamed("est_nd", "est_user_hours")
      val exact = ev.groupBy("event_type").agg(
        countDistinct(col("user_id")).as("exact_users"),
        countDistinct(userHour).as("exact_user_hours"))
      exact.join(estU, Seq("event_type")).join(estUh, Seq("event_type"))
        .orderBy("event_type")
    }),

    // q96: KMV sketch MERGEABILITY — the distributed-aggregation
    // property itself, oracle-checked: sketch the even and odd event
    // halves separately, merge the two sketches, estimate. The oracle
    // computes the estimate DIRECTLY over everything; a hash match
    // proves merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B), which is why
    // the sketch build can run as partial aggregation at 100 TB.
    "q96_kmv_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val userHour = concat(col("user_id").cast("string"), lit("#"),
        expr("unix_micros(ts) div 3600000000").cast("string"))
      val a = Sketch.kmvSketch(ev.filter(col("event_id") % 2 === 0),
        Seq("event_type"), userHour, 64)
      val b = Sketch.kmvSketch(ev.filter(col("event_id") % 2 === 1),
        Seq("event_type"), userHour, 64)
      Sketch.kmvEstimate(a.union(b), Seq("event_type"), 64)
        .orderBy("event_type")
    }),

    // Exact distributed median per group — two-phase rank selection
    // (histogram buckets, then sort only the median bucket), so a
    // low-cardinality group column never forces a whole-group sort
    // into one task. Engine-portable where quantile_cont is not.
    "q47_exact_median" -> ((s, dir) => {
      Stats.exactMedian(t(s, dir, "events"), "event_type", "value")
        .orderBy("event_type")
    }),

    // Exact per-group quantile vector by two-phase histogram selection
    // (generalizes q47's median): rank = floor((n-1)*q)+1, the discrete
    // lower quantile, computed identically by both engines.
    "q63_exact_quantiles" -> ((s, dir) => {
      Stats.exactQuantiles(t(s, dir, "events"), "event_type", "value",
        Seq(0.25, 0.5, 0.75, 0.9, 0.99))
        .orderBy("event_type", "q")
    }),

    // Winsorized aggregation: values clipped to the exact per-group
    // [p05, p95] band (composition of q63's quantile selection with a
    // broadcast clip — the robust-statistics pass a feature pipeline
    // runs before normalization).
    "q77_winsorize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val bounds = Stats
        .exactQuantiles(ev, "event_type", "value", Seq(0.05, 0.95))
        .groupBy("event_type")
        .agg(min(when(col("q") === 0.05, col("quantile_value"))).as("lo"),
          min(when(col("q") === 0.95, col("quantile_value"))).as("hi"))
      ev.join(broadcast(bounds), "event_type")
        .select(col("event_type"),
          least(greatest(col("value"), col("lo")), col("hi")).as("clipped"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("clipped").cast("decimal(18,3)")).cast("double")
            .as("sum_clipped"))
        .orderBy("event_type")
    }),

    // Feature normalization: per-row z-score against the event_type
    // group (exact decimal moments, shared IEEE expression tree).
    "q67_zscore" -> ((s, dir) => {
      Stats.zscore(t(s, dir, "events"), "event_type", "value")
        .select("event_id", "event_type", "value", "z")
        .orderBy("event_id")
    }),

    // ANALYZE-style numeric profile of lineitem: one aggregate pass
    // (multi-distinct plans as a single Expand), stack-unpivoted to a
    // row per column.
    "q128_column_profile" -> ((s, dir) => {
      Stats.profileNumeric(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
          "l_tax"))
        .orderBy("col_name")
    }),

    // Exact equi-width histogram (20 bins, empty bins included) over
    // order totals — bounds pass + decomposable bucket counts.
    "q129_histogram" -> ((s, dir) => {
      Stats.histogram(t(s, dir, "orders"), "o_totalprice", nBins = 20)
        .orderBy("bucket")
    }),

    // First-touch attribution: purchases credited to each user's first
    // event type; one window + one rollup sharing the user shuffle.
    "q131_attribution" -> ((s, dir) => {
      Events.firstTouchAttribution(t(s, dir, "events"), "user_id",
          "event_type", "ts", "event_id", convType = "purchase",
          valueCol = "value")
        .orderBy("first_touch")
    }),

    // Trailing 1-hour RANGE-frame window per user (time-based frame —
    // q102's sibling with a value frame instead of a row frame; ties
    // at the same µs are peers, so the result is order-independent).
    "q132_trailing_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-3600000000L, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("value"))
        .select(col("event_id"), col("user_id"), col("us"),
          sum(col("value").cast("decimal(18,3)")).over(w).cast("double")
            .as("trailing_1h_sum"),
          count(lit(1)).over(w).as("trailing_1h_n"))
        .orderBy("event_id")
    }),

    // Exact per-group percent rank in permille (score calibration
    // across domains) — two-phase bucketed ranks, integer output.
    "q137_percent_rank" -> ((s, dir) => {
      Stats.percentRankMilli(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "event_type", "value")
        .orderBy("event_id")
    }),

    // SLIDING event-time windows (2 h window, 1 h slide — each event
    // lands in two windows) with exact distinct users: the
    // overlapping-window rollup a live dashboard reads. Tumbling
    // coverage is q42; the slide is what's new — Spark materializes
    // window membership as a generate (row → its 2 windows), then one
    // combinable aggregate; distinct plans as a two-phase expand.
    "q142_sliding_windows" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n_events"), col("n_users"))
        .orderBy("win_start", "event_type")
    }),

    // Inter-event gap medians: lag() per user for the sequential gap,
    // then the two-phase exact median per event type — the behavioral
    // cadence feature (bot detection, session tuning) composed from
    // the window + order-statistics primitives.
    "q143_event_gaps" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val gaps = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("us"))
        .withColumn("gap_us", col("us") - lag("us", 1).over(w))
        .filter(col("gap_us").isNotNull)
      Stats.exactMedian(gaps, "event_type", "gap_us")
        .orderBy("event_type")
    }),

    // Theta-style KMV intersection: shared users between the two
    // event-id parity halves, per event type, from two 64-hash
    // sketches — the cross-dataset overlap question answered without
    // shuffling either side.
    "q140_kmv_intersect" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val a = Sketch.kmvSketch(ev.filter(col("event_id") % 2 === 0),
        Seq("event_type"), col("user_id").cast("string"), 64)
      val b = Sketch.kmvSketch(ev.filter(col("event_id") % 2 === 1),
        Seq("event_type"), col("user_id").cast("string"), 64)
      Sketch.kmvIntersect(a, b, Seq("event_type"), 64)
        .orderBy("event_type")
    }),

    // Exact heavy hitters (count·30 > n) via per-partition Misra-Gries
    // candidates + an exact recount of candidates only — the sketch
    // changes the plan (no full distinct-word shuffle), never the
    // answer, so the HAVING oracle matches bit-for-bit.
    "q145_heavy_hitters" -> ((s, dir) => {
      TextAnalysis.heavyHitters(t(s, dir, "documents"), "text", k = 30)
    }),

    // lang × source independence audit: one corpus aggregate to
    // contingency cells, marginals from the cells themselves,
    // shared-IEEE expected counts and chi-square contributions.
    "q147_chisq_assoc" -> ((s, dir) => {
      Stats.chiSquare(t(s, dir, "documents"), "lang", "source")
        .orderBy("lang", "source")
    }),

    // Quantity-weighted price percentiles per return flag — the
    // weighted lower quantile (smallest price whose cumulative
    // quantity reaches ⌈q·W⌉) via the two-phase histogram with weight
    // MASS in place of row counts; RANGE-frame peers make ties
    // row-order-free.
    "q149_weighted_quantile" -> ((s, dir) => {
      Stats.weightedQuantiles(t(s, dir, "lineitem"), "l_returnflag",
          "l_extendedprice", "l_quantity", Seq(0.25, 0.5, 0.9))
        .orderBy("l_returnflag", "q")
    }),

    // Join-key skew audit: hottest user_ids with corpus share — the
    // diagnostic that decides salting (q130) vs AQE skew-split before
    // a 100 TB join, as a combinable count + heap top-N (no full sort
    // of the key domain).
    "q153_skew_audit" -> ((s, dir) => {
      Stats.skewAudit(t(s, dir, "events"), "user_id", topN = 20)
    }),

    // Equi-depth binning (ntile WITHOUT the whole-group sort): 8 bins
    // of events.value per event_type via broadcast quantile cutpoints;
    // value-deterministic tie handling, verified per row.
    "q158_equi_depth_bin" -> ((s, dir) => {
      Stats.equiDepthBin(
          t(s, dir, "events").select("event_id", "event_type", "value"),
          "event_type", "value", nBins = 8)
        .select("event_id", "bin")
        .orderBy("event_id")
    }),

    // WINSORIZED per-group stats: clip events.value at the exact
    // [p05, p95] two-phase quantiles and report the clipped mass — the
    // outlier-robust rollup that replaces mean-with-outliers. Clip
    // bounds broadcast; the corpus is never sorted.
    "q161_winsorized" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val cuts = Stats.exactQuantiles(ev, "event_type", "value",
          Seq(0.05, 0.95))
        .groupBy(col("event_type").as("_g"))
        .agg(min(when(col("q") === 0.05, col("quantile_value"))).as("p05"),
          min(when(col("q") === 0.95, col("quantile_value"))).as("p95"))
      val x = col("value").cast("double")
      ev.join(broadcast(cuts), col("event_type") <=> col("_g"))
        .select(col("event_type"), x.as("x"), col("p05"), col("p95"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min(col("p05")).as("p05"), min(col("p95")).as("p95"),
          sum(when(col("x") < col("p05"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("x") > col("p95"), 1L).otherwise(0L)).as("n_clip_hi"),
          sum(least(greatest(col("x"), col("p05")), col("p95"))
            .cast("decimal(18,3)")).cast("double").as("sum_winsorized"))
        .orderBy("event_type")
    }),

    // USER BEHAVIOR SEQUENCES: each user's first 12 events as an
    // ordered event-type string — the session→sequence build for
    // next-event training data. The rank window is per-user (bounded
    // partitions, WindowGroupLimit prunes pre-shuffle); the rebuild is
    // one aggregate on the same key, so the exchange is reused.
    "q162_user_sequences" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      ev.withColumn("n_total", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 12)
        .groupBy("user_id")
        .agg(
          concat_ws(",", transform(
            array_sort(collect_list(struct(col("rn"), col("event_type")))),
            s => s.getField("event_type"))).as("seq"),
          count(lit(1)).as("seq_len"),
          min(col("n_total")).as("n_total"))
        .orderBy("user_id")
    }),

    // MERGEABLE quantile sketch: per-flag price quantile ESTIMATES
    // from a deterministic bottom-256-by-hash row sample — the
    // bounded-state sibling of q63's exact two-phase selector, with
    // the estimate itself hash-verified (the sample is a pure function
    // of md5, so the oracle draws the identical one).
    "q163_sample_quantiles" -> ((s, dir) => {
      Sketch.hashSampleQuantiles(t(s, dir, "lineitem"),
          Seq("l_returnflag"),
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")),
          "l_extendedprice", k = 256, qs = Seq(0.5, 0.9))
        .orderBy("l_returnflag", "q")
    }),

    // END-TO-END CURATION FUNNEL: the per-stage attrition report a
    // corpus-cleaning pipeline publishes — language-confident →
    // quality-gated → near-dup-deduplicated, each stage composing the
    // operators the earlier queries verify in isolation (languageId,
    // stats, minHashLsh, connectedComponents). Every stage is
    // non-vacuous on the fixture (453/500 lang, ~3/4 quality, ~25
    // near-dup pairs).
    "q164_curation_funnel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lang = TextAnalysis.languageId(docs, "doc_id", "text")
        .filter(col("predicted_lang") =!= "und").select("doc_id")
      val s1 = docs.join(lang, Seq("doc_id"), "left_semi")
      val qual = TextAnalysis.stats(s1, "doc_id", "text")
        .filter(col("stopword_ratio") >= 0.04).select("doc_id")
      val s2 = s1.join(qual, Seq("doc_id"), "left_semi")
        // three consumers below (pair restriction + keeper filter +
        // count): the filtered corpus is the expensive-to-recompute
        // input
        .localCheckpoint()
      // near-dup pairs come from the shared train-once artifact,
      // restricted to the surviving corpus — exact, see
      // minhashPairsWithin (LSH is per-doc/per-pair pure)
      val pairs = minhashPairsWithin(s, dir, s2)
      val comp = Graph.connectedComponents(pairs, "doc_a", "doc_b")
      val s3 = s2.join(comp, col("doc_id") === col("node"), "left")
        .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
      Seq("0_all" -> docs, "1_lang" -> s1, "2_quality" -> s2,
          "3_neardup" -> s3)
        .map { case (n, d) =>
          d.agg(count(lit(1)).as("n_docs"))
            .select(lit(n).as("stage"), col("n_docs"))
        }
        .reduce(_ union _)
        .orderBy("stage")
    }),

    // DISTRIBUTION DRIFT: pairwise two-sample KS distances between the
    // per-source document-length distributions — raw data touched once,
    // everything downstream at distinct-value cardinality.
    "q165_ks_matrix" -> ((s, dir) => {
      Stats.ksMatrix(t(s, dir, "documents"), "source", "n_chars")
        .orderBy("sample_a", "sample_b")
    }),

    // FIRST-ORDER MARKOV TRANSITIONS of the event stream: the
    // behavioral fingerprint a sequence-training build publishes.
    // (ts, event_id) ordering per user, |types|² output.
    "q166_transitions" -> ((s, dir) => {
      Events.transitionMatrix(t(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type")
        .orderBy("from_type", "to_type")
    }),

    // EXACT PEARSON CORRELATION MATRIX over the lineitem measures from
    // one aggregate pass — exact-decimal moments, fixed double formula.
    "q169_corr_matrix" -> ((s, dir) => {
      Stats.corrMatrix(t(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b")
    }),

    // SNAPSHOT PROFILE DRIFT: the promote-gate report between the
    // pre-1998 and 1998+ halves of orders — null-rate permille, value
    // range, cardinality and mean movement per column, from one
    // aggregate pass per snapshot.
    "q170_profile_drift" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cut = lit("1998-01-01").cast("timestamp")
      DataQuality.profileDrift(
          o.filter(col("o_orderdate") < cut),
          o.filter(col("o_orderdate") >= cut),
          Seq("o_orderkey", "o_custkey", "o_totalprice"))
        .orderBy("col_name")
    }),

    // Recency-weighted activity: stepped dyadic half-life decay in
    // exact integer milli-units, anchored to the corpus max timestamp.
    "q178_decayed_counts" -> ((s, dir) => {
      Events.decayedCounts(t(s, dir, "events"), "event_type", "ts",
          halfLifeDays = 7)
        .orderBy("event_type")
    }),

    // Time-series anomaly detection: hourly event-rate MAD outliers
    // per type — the robust operators (q111) pointed at a derived
    // rate series, the ops-dashboard "did ingestion spike" question.
    "q184_hourly_anomaly" -> ((s, dir) => {
      // localCheckpoint (r21): madOutliers consumes its input ~4×
      // (median selection 3 passes + the deviation join) — materialize
      // the small hourly-rate aggregate once instead of re-running the
      // events shuffle per pass.
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).cast("double").as("n"))
        .localCheckpoint()
      Stats.madOutliers(hourly, "event_type", "n", k = 3.0)
        .orderBy("event_type")
    }),

    // Behavioral pattern mining: the 10 most frequent event-type
    // trigrams across user timelines (q166's transition matrix ranks
    // the distribution; this ranks the concrete sequences).
    "q189_event_trigrams" -> ((s, dir) => {
      Events.topEventNgrams(t(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", n = 3, k = 10)
    }),

    // Ranking-metric eval: does n_chars separate English docs from the
    // rest? Exact integer Mann-Whitney AUC with midrank ties.
    "q190_auc_quality" -> ((s, dir) => {
      Stats.aucMicro(t(s, dir, "documents"), col("lang") === "en",
        "n_chars")
    }),

    // COUNT-MIN sketch point-frequency estimates vs exact counts for
    // the 30 heaviest tokens: est >= exact always (collisions only
    // inflate), `overcount` is the measured collision mass for a
    // 4x8192-counter summary of the whole token stream. Completes the
    // sketch family: KMV = how many distinct (q84), Misra-Gries =
    // which are heaviest (q145), count-min = how often is THIS one.
    "q193_count_min" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      val sk = Sketch.countMinSketch(toks, "token", depth = 4, width = 8192)
      val probes = toks.groupBy("token")
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(30)
      Sketch.countMinLookup(sk, probes, "token", depth = 4, width = 8192)
        .select(col("token"), col("n_exact"), col("n_est"),
          (col("n_est") - col("n_exact")).as("overcount"))
        .orderBy("token")
    }),

    // SESSION CONCURRENCY SWEEP: boundary-instant open-session counts
    // over the 30-minute gap sessions; top 20 peaks.
    "q199_concurrency" -> ((s, dir) => {
      val sess = Events.sessionize(t(s, dir, "events"), gapMinutes = 30)
      Events.concurrencySweep(sess, "session_start_us", "session_end_us")
        .orderBy(col("concurrency").desc, col("t"))
        .limit(20)
        .select(col("t").as("t_us"), col("concurrency"))
    }),

    // INTER-ARRIVAL BURSTINESS: top-20 burstiest users by integer CV²
    // of second-quantized event gaps — the bot-vs-human dispersion
    // screen over behavioral data.
    "q204_burstiness" -> ((s, dir) => {
      Events.interArrivalBurstiness(t(s, dir, "events"), "user_id", "ts",
        minGaps = 20, k = 20)
    }),

    // EVENT-TIME LATENESS AUDIT: per type, bucketed lateness vs the
    // running max event time in arrival (event_id) order — the
    // measured basis for every streaming twin's watermark.
    "q206_lateness_audit" -> ((s, dir) => {
      Events.latenessAudit(t(s, dir, "events"), "event_type", "ts",
        "event_id")
    }),

    // COHEN'S KAPPA of the marker-word language classifier against the
    // lang ground truth — chance-corrected agreement; the go/no-go on
    // replacing labels with the cheap classifier.
    "q221_cohens_kappa" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = TextAnalysis.languageId(docs, "doc_id", "text")
      Stats.cohenKappa(
        pred.join(docs.select("doc_id", "lang"), "doc_id"),
        "predicted_lang", "lang")
    }),

    // DETERMINISTIC POISSON-BOOTSTRAP error bars on mean doc length by
    // language — md5-drawn resamples, identical in both engines.
    "q223_bootstrap_ci" -> ((s, dir) => {
      Stats.bootstrapMeanCI(t(s, dir, "documents"), "lang", "doc_id",
          "n_chars", reps = 40, loRank = 2, hiRank = 39)
        .orderBy("grp")
    }),

    // SEASONALITY: autocorrelation of the hourly event-count series at
    // lag 1 (persistence) and lag 24 (daily cycle), zero-filled grid.
    "q232_hourly_autocorr" -> ((s, dir) => {
      Events.hourlyAutocorr(t(s, dir, "events"), "ts", Seq(1, 24))
    }),

    // FUNCTIONAL-DEPENDENCY AUDIT: which customers violate
    // "custkey determines order status" (all with >1 status — the
    // fan-out / feed-mix detector exercised on a known-violated FD).
    "q238_fd_audit" -> ((s, dir) => {
      DataQuality.fdAudit(t(s, dir, "orders"), "o_custkey",
        "o_orderstatus", topN = 25)
    }),

    // REFERENTIAL INTEGRITY: lineitem orphans against an orders
    // snapshot with every 13th key dropped (q179's deletion sim).
    "q239_ref_integrity" -> ((s, dir) => {
      DataQuality.refIntegrity(t(s, dir, "lineitem"), "l_orderkey",
        t(s, dir, "orders").filter(col("o_orderkey") % 13 =!= 0),
        "o_orderkey")
    }),

    // BENFORD FIRST-DIGIT AUDIT of order totals: observed vs expected
    // log-uniform shares, permille (literal expectations, no logs).
    "q240_benford" -> ((s, dir) => {
      DataQuality.benfordAudit(t(s, dir, "orders"), "o_totalprice")
    }),

    // TIME-TO-ACTION: per view event, the delay to the user's next
    // click — the native as-of join run FORWWARD by negating the time
    // axis (at-or-before in -t = at-or-after in t), then exact
    // quantiles of the matched delays.
    "q242_time_to_action" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("us"), col("event_type"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), (-col("us")).as("negus"),
          col("us").as("view_us"), col("event_id").as("view_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), (-col("us")).as("negus"),
          (-col("event_id")).as("_tie"), col("us").as("click_us"))
      val joined = AsOfJoin.asOfNative(views, clicks, "user_id", "negus",
        "_tie", Seq("click_us"))
      val deltas = joined.filter(col("asof_click_us").isNotNull)
        .select((col("asof_click_us") - col("view_us")).as("delta_us"),
          lit("all").as("_g"))
      Stats.exactQuantiles(deltas, "_g", "delta_us", Seq(0.25, 0.5, 0.9))
        .select(col("q"), col("quantile_value").cast("long")
          .as("delta_us"), col("n_events"))
        .orderBy("q")
    }),

    // FULFILLMENT LAG: p50/p90 days from order date to line-item ship
    // date, per order priority — two-phase exact quantiles per group.
    "q243_ship_lag" -> ((s, dir) => {
      // localCheckpoint (r21): the two-phase selector re-consumes its
      // base 3× (bounds, histogram, target-bucket sort) and here the
      // base is the lineitem⨝orders join — materialize the narrow
      // (priority, lag) projection once instead of re-running the join
      // per pass (measured 2.5 s -> see OPTIMIZATION_r21.md).
      val lag = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("lag_days"))
        .localCheckpoint()
      Stats.exactQuantiles(lag, "o_orderpriority", "lag_days",
          Seq(0.5, 0.9))
        .select(col("o_orderpriority"), col("q"),
          col("quantile_value").cast("long").as("lag_days"),
          col("n_events"))
        .orderBy("o_orderpriority", "q")
    }),

    // MERGEABLE QUANTILE SKETCH: per-priority p50/p90/p99 of
    // o_totalprice from the log-linear histogram (DDSketch shape) —
    // the combinable-aggregate quantile path whose state is bins, not
    // rows, vs q63's exact two-phase rank selection. Estimates are
    // bin lower bounds (within +10%, never above the true value) and
    // the binning rule is fixed, so the oracle rebuilds the identical
    // sketch.
    "q247_loghist_quantiles" -> ((s, dir) => {
      Sketch.logHistQuantiles(
        Sketch.logHistSketch(t(s, dir, "orders"),
          Seq("o_orderpriority"), "o_totalprice"),
        Seq("o_orderpriority"), Seq(500L, 900L, 990L))
        .orderBy("o_orderpriority", "q_permille")
    }),

    // SKETCH-ERROR AUDIT: q247's log-hist estimates measured against
    // q63's exact two-phase quantiles on the same column — the +10%
    // bin-width bound turned into a per-(group, q) number (the q182
    // posture: eval the approximation, don't just document it).
    // Estimates are bin LOWER bounds so err is usually >= 0, but the
    // exact side uses the shipped double-rank convention while the
    // sketch side ranks by integer permille, so a boundary rank can
    // land one rank lower on the exact side and produce a small
    // negative err — measured as part of the error, not hidden.
    "q255_sketch_error" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val qsP = Seq(500L, 900L, 990L)
      val est = Sketch.logHistQuantiles(
        Sketch.logHistSketch(orders, Seq("o_orderpriority"),
          "o_totalprice"),
        Seq("o_orderpriority"), qsP)
      val exact = Stats.exactQuantiles(orders, "o_orderpriority",
          "o_totalprice", qsP.map(_ / 1000.0))
        .select(col("o_orderpriority"),
          round(col("q") * 1000).cast("long").as("q_permille"),
          floor(col("quantile_value") * 100).cast("long")
            .as("exact_cents"))
      est.join(exact, Seq("o_orderpriority", "q_permille"))
        .select(col("o_orderpriority"), col("q_permille"),
          col("est_cents"), col("exact_cents"),
          expr("(1000 * (exact_cents - est_cents)) div " +
            "greatest(exact_cents, 1)").as("err_permille"))
        .orderBy("o_orderpriority", "q_permille")
    }),

    // KEY-SKEW AUDIT: the pre-shuffle read-off for "does user_id need
    // salting" — top-10 heaviest keys with permille shares plus the
    // Gini concentration of the whole size distribution, computed from
    // the sizes-of-sizes histogram (the only window runs over distinct
    // SIZE VALUES, and the top-k is TakeOrderedAndProject).
    "q256_key_skew" -> ((s, dir) => {
      DataQuality.keySkew(t(s, dir, "events"), "user_id", topK = 10)
    }),

    // CUSUM CHANGEPOINT: Page's sequential upward-shift statistic per
    // event_type over time-ordered value cents — the drift detector a
    // per-window threshold can't replace. The max(0,·) recursion runs
    // as prefix-sum minus running-min (one window frame, one sort per
    // series); k = 5500 cents (above the global mean so alarms are a
    // sustained-shift signal, not noise), h = 50000 cents.
    "q257_cusum_shift" -> ((s, dir) => {
      Stats.cusumShift(t(s, dir, "events"), "event_type", "ts",
          "event_id", "value", driftCents = 5500L,
          thresholdCents = 50000L)
        .orderBy("event_type")
    })
  )

  val oracleSql: Map[String, String] = Map(

    "q193_count_min" ->
      """WITH toks AS (
           SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         js AS (SELECT unnest([0, 1, 2, 3]) AS j),
         cms AS (
           SELECT js.j,
                  ('0x'||substr(md5(CAST(js.j AS VARCHAR)||':'||token),1,15))::BIGINT
                    % 8192 AS bucket,
                  CAST(count(*) AS BIGINT) AS c
           FROM toks CROSS JOIN js
           GROUP BY 1, 2),
         probes AS (
           SELECT token, CAST(count(*) AS BIGINT) AS n_exact
           FROM toks GROUP BY token
           ORDER BY n_exact DESC, token LIMIT 30),
         est AS (
           SELECT p.token, p.n_exact,
                  min(coalesce(s.c, 0)) AS n_est
           FROM probes p
           CROSS JOIN js
           LEFT JOIN cms s
             ON s.j = js.j
            AND s.bucket =
                ('0x'||substr(md5(CAST(js.j AS VARCHAR)||':'||p.token),1,15))::BIGINT
                  % 8192
           GROUP BY 1, 2)
         SELECT token, n_exact, CAST(n_est AS BIGINT) AS n_est,
                CAST(n_est - n_exact AS BIGINT) AS overcount
         FROM est ORDER BY token""",

    // q43's session chain, collapsed to intervals, then the sweep as
    // per-instant counts: concurrency(t) = starts<=t − ends<t.
    "q199_concurrency" ->
      """WITH base AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
           FROM events),
         flagged AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM base
           WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         numbered AS (
           SELECT user_id, us,
                  CAST(sum(is_new) OVER (PARTITION BY user_id
                    ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM flagged),
         sess AS (
           SELECT user_id, session_id, min(us) AS s, max(us) AS e
           FROM numbered GROUP BY user_id, session_id),
         b AS (
           SELECT t, CAST(sum(ns) AS BIGINT) AS ns,
                  CAST(sum(ne) AS BIGINT) AS ne
           FROM (SELECT s AS t, 1 AS ns, 0 AS ne FROM sess
                 UNION ALL
                 SELECT e AS t, 0 AS ns, 1 AS ne FROM sess)
           GROUP BY t),
         c AS (
           SELECT t,
                  CAST(sum(ns) OVER win - (sum(ne) OVER win - ne)
                    AS BIGINT) AS concurrency
           FROM b
           WINDOW win AS (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT t AS t_us, concurrency FROM c
         ORDER BY concurrency DESC, t_us LIMIT 20""",

    // Same (user, ts, event_id) gap windows, second-quantized integer
    // gaps, exact sums, one fixed double CV² expression.
    "q204_burstiness" ->
      """WITH base AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
           FROM events),
         g AS (
           SELECT user_id,
                  (us - lag(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id)) // 1000000 AS gs
           FROM base),
         a AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                  CAST(sum(gs) AS BIGINT) AS sg,
                  CAST(sum(gs * gs) AS BIGINT) AS sg2
           FROM g WHERE gs IS NOT NULL
           GROUP BY user_id
           HAVING count(*) >= 20)
         SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_s,
                CASE WHEN sg = 0 THEN 0
                     ELSE CAST(floor(1000000.0 *
                            CAST(CAST(n_gaps AS HUGEINT) * sg2 AS DOUBLE) /
                            CAST(CAST(sg AS HUGEINT) * sg AS DOUBLE)
                            - 1000000.0)
                          AS BIGINT)
                END AS burstiness_micro
         FROM a
         ORDER BY burstiness_micro DESC, user_id
         LIMIT 20""",

    // Same running max over arrival order, same fixed second-quantized
    // buckets and integer permille shares.
    "q206_lateness_audit" ->
      """WITH base AS (
           SELECT event_type, event_id, epoch_ns(ts) // 1000 AS us
           FROM events),
         lat AS (
           SELECT event_type,
                  CASE WHEN mx IS NULL THEN 0
                       ELSE greatest((mx - us) // 1000000, 0) END AS late
           FROM (SELECT event_type, us,
                   max(us) OVER (ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS mx
                 FROM base)),
         b AS (
           SELECT event_type,
                  CASE WHEN late <= 0 THEN '0_on_time'
                       WHEN late <= 10 THEN '1_under_10s'
                       WHEN late <= 60 THEN '2_under_1m'
                       WHEN late <= 600 THEN '3_under_10m'
                       ELSE '4_over_10m' END AS bucket
           FROM lat),
         c AS (
           SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
           FROM b GROUP BY 1, 2),
         t AS (
           SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
           FROM c GROUP BY 1)
         SELECT c.event_type, c.bucket, c.n,
                (1000 * c.n) // t.tot AS permille
         FROM c JOIN t USING (event_type)
         ORDER BY event_type, bucket""",

    // q38's marker-word classifier verbatim, then the integer kappa:
    // products in HUGEINT (engine: DECIMAL(38,0)), permille by ONE
    // floored double division, kappa by ONE double division.
    "q221_cohens_kappa" ->
      """WITH p AS (
           SELECT doc_id,
                  CASE WHEN best < 1 THEN 'und'
                       WHEN s_en = best THEN 'en'
                       WHEN s_de = best THEN 'de'
                       WHEN s_fr = best THEN 'fr'
                       ELSE 'es' END AS a
           FROM (
             SELECT doc_id, s_en, s_de, s_fr, s_es,
                    greatest(s_en, s_de, s_fr, s_es) AS best
             FROM (
               SELECT doc_id,
                      len(list_filter(w, x -> x IN ('the','a','of','and','is'))) AS s_en,
                      len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS s_de,
                      len(list_filter(w, x -> x IN ('le','la','et','les','est'))) AS s_fr,
                      len(list_filter(w, x -> x IN ('el','los','de','y','es'))) AS s_es
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))),
         cm AS (
           SELECT p.a, d.lang AS b, CAST(count(*) AS BIGINT) AS c
           FROM p JOIN documents d USING (doc_id)
           WHERE p.a IS NOT NULL AND d.lang IS NOT NULL
           GROUP BY p.a, d.lang),
         t AS (
           SELECT CAST(sum(c) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT)
                    AS n_agree
           FROM cm),
         pe AS (
           SELECT COALESCE(CAST(sum(CAST(ra.r AS HUGEINT) * cb.cc)
                    AS HUGEINT), 0) AS pe_num
           FROM (SELECT a, sum(c) AS r FROM cm GROUP BY a) ra
           JOIN (SELECT b, sum(c) AS cc FROM cm GROUP BY b) cb
             ON ra.a = cb.b)
         SELECT n, n_agree,
                (1000 * n_agree) // n AS po_milli,
                CAST(floor((pe_num * 1000)::DOUBLE /
                  (CAST(n AS HUGEINT) * n)::DOUBLE) AS BIGINT) AS pe_milli,
                (CAST(n AS HUGEINT) * n_agree - pe_num)::DOUBLE /
                  (CAST(n AS HUGEINT) * n - pe_num)::DOUBLE AS kappa
         FROM t CROSS JOIN pe""",

    // Identical md5-drawn Poisson(1) multiplicities (thresholds =
    // floor(cum·2^32)), exact-DECIMAL replicate sums, rank-picked CI.
    "q223_bootstrap_ci" ->
      """WITH b AS (
           SELECT lang AS grp, CAST(doc_id AS VARCHAR) AS id,
                  CAST(n_chars AS DECIMAL(18,3)) AS v
           FROM documents WHERE n_chars IS NOT NULL),
         x AS (
           SELECT grp, id, v, r,
                  ('0x' || substr(md5(id || ':' || r), 1, 8))::BIGINT AS u
           FROM b CROSS JOIN range(0, 40) t(r)),
         m AS (
           SELECT grp, r, v,
                  CASE WHEN u < 1580030168 THEN 0
                       WHEN u < 3160060337 THEN 1
                       WHEN u < 3950075421 THEN 2
                       WHEN u < 4213413783 THEN 3
                       ELSE 4 END AS m
           FROM x),
         rm AS (
           SELECT grp, r,
                  CASE WHEN sum(m) > 0
                       THEN sum(m * v)::DOUBLE / CAST(sum(m) AS BIGINT)
                  END AS mean_r
           FROM m GROUP BY grp, r),
         rk AS (
           SELECT grp, r, mean_r,
                  row_number() OVER (PARTITION BY grp
                    ORDER BY mean_r ASC NULLS FIRST, r ASC) AS rk
           FROM rm),
         pt AS (
           SELECT grp, sum(v)::DOUBLE / count(*) AS mean
           FROM b GROUP BY grp)
         SELECT pt.grp, pt.mean, ci.ci_lo, ci.ci_hi,
                CAST(40 AS BIGINT) AS reps
         FROM pt JOIN (
           SELECT grp,
                  max(CASE WHEN rk = 2 THEN mean_r END) AS ci_lo,
                  max(CASE WHEN rk = 39 THEN mean_r END) AS ci_hi
           FROM rk GROUP BY grp) ci USING (grp)
         ORDER BY grp""",

    // Zero-filled hourly grid, then the textbook correlation formula
    // over exact HUGEINT moments (engine: DECIMAL(38,0)) per lag.
    "q232_hourly_autocorr" ->
      (Seq(1, 24).map { lag =>
        s"""SELECT CAST($lag AS BIGINT) AS lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               (count(*)::HUGEINT * sum(a.x::HUGEINT * b.x)
                  - sum(a.x::HUGEINT) * sum(b.x::HUGEINT))::DOUBLE /
               (sqrt((count(*)::HUGEINT * sum(a.x::HUGEINT * a.x)
                  - sum(a.x::HUGEINT) * sum(a.x::HUGEINT))::DOUBLE) *
                sqrt((count(*)::HUGEINT * sum(b.x::HUGEINT * b.x)
                  - sum(b.x::HUGEINT) * sum(b.x::HUGEINT))::DOUBLE)) AS r
            FROM f a JOIN f b ON b.h = a.h + $lag"""
      }.mkString(
        """WITH c AS (
           SELECT epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
                  CAST(count(*) AS BIGINT) AS n
           FROM events WHERE ts IS NOT NULL GROUP BY 1),
         g AS (SELECT unnest(range((SELECT min(h) FROM c),
                                   (SELECT max(h) FROM c) + 1)) AS h),
         f AS (SELECT g.h, COALESCE(c.n, 0) AS x
               FROM g LEFT JOIN c USING (h))
         """, "\n UNION ALL\n ", "\n ORDER BY lag")),

    "q238_fd_audit" ->
      """WITH pc AS (
           SELECT CAST(o_custkey AS VARCHAR) AS lhs,
                  CAST(o_orderstatus AS VARCHAR) AS r,
                  CAST(count(*) AS BIGINT) AS c
           FROM orders GROUP BY 1, 2),
         a AS (
           SELECT lhs, CAST(sum(c) AS BIGINT) AS n_rows,
                  CAST(count(*) AS BIGINT) AS n_rhs_values
           FROM pc GROUP BY lhs)
         SELECT lhs, n_rows, n_rhs_values FROM a
         WHERE n_rhs_values > 1
         ORDER BY n_rows DESC, lhs ASC NULLS FIRST LIMIT 25""",

    "q239_ref_integrity" ->
      """WITH par AS (
           SELECT DISTINCT o_orderkey AS pk FROM orders
           WHERE o_orderkey % 13 <> 0)
         SELECT CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
                CAST((SELECT count(*) FROM lineitem
                      WHERE l_orderkey IS NULL) AS BIGINT) AS n_null_fk,
                CAST((SELECT count(*) FROM lineitem
                      WHERE l_orderkey IS NOT NULL
                        AND l_orderkey NOT IN (SELECT pk FROM par))
                  AS BIGINT) AS n_orphans,
                (1000 * CAST((SELECT count(*) FROM lineitem
                      WHERE l_orderkey IS NOT NULL
                        AND l_orderkey NOT IN (SELECT pk FROM par))
                  AS BIGINT))
                  // CAST((SELECT count(*) FROM lineitem
                         WHERE l_orderkey IS NOT NULL) AS BIGINT)
                  AS orphan_permille""",

    // Integer-cents first digit from the BIGINT's decimal string
    // (double formatting is not engine-portable); literal Benford
    // expectations, so no log evaluates in-plan.
    "q240_benford" ->
      """WITH v AS (
           SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) * 100)
                    AS BIGINT) AS c
           FROM orders),
         cnt AS (
           SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
                    AS digit,
                  CAST(count(*) AS BIGINT) AS n
           FROM v WHERE c > 0 GROUP BY 1),
         tot AS (
           SELECT CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
                    AS npos,
                  CAST(sum(CASE WHEN c > 0 THEN 0 ELSE 1 END) AS BIGINT)
                    AS n_excluded
           FROM v),
         e AS (SELECT * FROM (VALUES (1, 301), (2, 176), (3, 124),
                 (4, 96), (5, 79), (6, 66), (7, 57), (8, 51), (9, 45))
                 t(digit, benford_milli))
         SELECT CAST(e.digit AS BIGINT) AS digit,
                COALESCE(cnt.n, 0) AS n,
                (1000 * COALESCE(cnt.n, 0)) // tot.npos AS observed_milli,
                CAST(e.benford_milli AS BIGINT) AS benford_milli,
                (1000 * COALESCE(cnt.n, 0)) // tot.npos
                  - CAST(e.benford_milli AS BIGINT) AS delta_milli,
                tot.n_excluded
         FROM e LEFT JOIN cnt USING (digit) CROSS JOIN tot
         ORDER BY digit""",

    // One delta per VIEW EVENT (view_id in the group key — two views
    // at one microsecond stay two rows); rank r = floor((n-1)q)+1,
    // the exactQuantiles selection rule.
    "q242_time_to_action" ->
      """WITH ev AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
                  event_type
           FROM events),
         v AS (SELECT user_id, event_id AS view_id, us AS view_us
               FROM ev WHERE event_type = 'view'),
         c AS (SELECT user_id, us AS click_us
               FROM ev WHERE event_type = 'click'),
         d AS (
           SELECT v.user_id, v.view_id,
                  min(c.click_us) - v.view_us AS delta_us
           FROM v JOIN c ON c.user_id = v.user_id
                        AND c.click_us >= v.view_us
           GROUP BY v.user_id, v.view_id, v.view_us),
         r AS (
           SELECT delta_us,
                  row_number() OVER (ORDER BY delta_us) AS rn,
                  count(*) OVER () AS n
           FROM d)
         SELECT CAST(t.q AS DOUBLE) AS q,
                CAST(r.delta_us AS BIGINT) AS delta_us,
                CAST(r.n AS BIGINT) AS n_events
         FROM r JOIN (VALUES (0.25), (0.5), (0.9)) t(q)
           ON r.rn = CAST(floor((r.n - 1) * CAST(t.q AS DOUBLE)) AS BIGINT) + 1
         ORDER BY q""",

    "q243_ship_lag" ->
      """WITH lag AS (
           SELECT o.o_orderpriority,
                  date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         r AS (
           SELECT o_orderpriority, lag_days,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY lag_days) AS rn,
                  count(*) OVER (PARTITION BY o_orderpriority) AS n
           FROM lag)
         SELECT o_orderpriority, CAST(t.q AS DOUBLE) AS q,
                CAST(lag_days AS BIGINT) AS lag_days,
                CAST(n AS BIGINT) AS n_events
         FROM r JOIN (VALUES (0.5), (0.9)) t(q)
           ON r.rn = CAST(floor((r.n - 1) * CAST(t.q AS DOUBLE)) AS BIGINT) + 1
         ORDER BY o_orderpriority, q""",

    // The identical fixed binning rule (cents -> digit count + first
    // two digits), cumulative pick at the repo rank rule, lower-bound
    // decode — engine-exact because the rule is data-independent.
    "q247_loghist_quantiles" ->
      QueryUtil.sqlLogHistQuantiles("orders", "o_orderpriority",
        "o_totalprice", "o_orderpriority", Seq(500, 900, 990)),

    // The shared sketch chain as a CTE, the exact side by direct sort
    // at the same double-rank rule, error in permille of exact.
    "q255_sketch_error" -> {
      val estSql = QueryUtil.sqlLogHistQuantiles("orders",
        "o_orderpriority", "o_totalprice", "o_orderpriority",
        Seq(500, 900, 990))
      s"""WITH est AS ($estSql),
         v AS (SELECT o_orderpriority AS grp, o_totalprice AS x
               FROM orders),
         nn AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
                FROM v GROUP BY grp),
         qq AS (SELECT unnest([0.5, 0.9, 0.99]) AS qf),
         rk AS (SELECT nn.grp, qq.qf,
                       CAST(floor((nn.n - 1) * qq.qf) AS BIGINT) + 1 AS r
                FROM nn CROSS JOIN qq),
         srt AS (
           SELECT grp, x,
                  row_number() OVER (PARTITION BY grp ORDER BY x) AS rn
           FROM v),
         exact AS (
           SELECT rk.grp AS o_orderpriority,
                  CAST(round(rk.qf * 1000) AS BIGINT) AS q_permille,
                  CAST(floor(srt.x * 100) AS BIGINT) AS exact_cents
           FROM rk JOIN srt ON rk.grp = srt.grp AND rk.r = srt.rn)
         SELECT e.o_orderpriority, e.q_permille, e.est_cents,
                x.exact_cents,
                (1000 * (x.exact_cents - e.est_cents))
                  // greatest(x.exact_cents, 1) AS err_permille
         FROM est e JOIN exact x
           ON e.o_orderpriority = x.o_orderpriority
          AND e.q_permille = x.q_permille
         ORDER BY e.o_orderpriority, e.q_permille"""
    },

    // Sizes-of-sizes Gini (block rank-sum telescope) + top-10 keys.
    // Every sum-derived output CAST AS BIGINT (the strict-type rule).
    "q256_key_skew" ->
      """WITH sizes AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY user_id),
         h AS (SELECT n, CAST(count(*) AS BIGINT) AS m
               FROM sizes GROUP BY n),
         b AS (SELECT n, m,
                      sum(m) OVER (ORDER BY n
                        ROWS UNBOUNDED PRECEDING) - m AS r0
               FROM h),
         g AS (SELECT CAST(sum(m) AS BIGINT) AS n_keys,
                      CAST(sum(n * m) AS BIGINT) AS n_rows,
                      sum(n * (m * r0 + (m * (m + 1)) // 2)) AS iwx
               FROM b),
         gg AS (SELECT n_keys, n_rows,
                       CAST((1000 * (2 * iwx - (n_keys + 1) * n_rows))
                         // (n_keys * n_rows) AS BIGINT) AS gini_milli
                FROM g),
         top AS (
           -- NULLS LAST explicit: matches the operator's asc_nulls_last
           -- tie-break (Spark's bare asc would sort NULLs first)
           SELECT user_id, n,
                  CAST(row_number() OVER (ORDER BY n DESC,
                    user_id ASC NULLS LAST) AS BIGINT) AS rank
           FROM sizes ORDER BY n DESC, user_id ASC NULLS LAST LIMIT 10)
         SELECT top.user_id, rank, n,
                (1000 * n) // n_rows AS share_permille,
                gini_milli, n_keys, n_rows
         FROM top CROSS JOIN gg
         ORDER BY rank""",

    // Page's CUSUM via prefix-sum minus running-min, total order by
    // (us, event_id), k = 5500 cents, h = 50000 cents.
    "q257_cusum_shift" ->
      """WITH base AS (
           SELECT event_type, epoch_ns(ts) // 1000 AS us, event_id,
                  CAST(floor(value * 100) AS BIGINT) - 5500 AS d
           FROM events),
         p AS (SELECT event_type, us, event_id, d,
                      sum(d) OVER (PARTITION BY event_type
                        ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS pf
               FROM base WHERE d IS NOT NULL),
         s AS (SELECT event_type, us,
                      pf - least(0, min(pf) OVER (PARTITION BY event_type
                        ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING)) AS s
               FROM p),
         ex AS (SELECT event_type,
                       CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_excluded
                FROM base GROUP BY event_type)
         SELECT s.event_type, CAST(count(*) AS BIGINT) AS n,
                max(ex.n_excluded) AS n_excluded,
                CAST(sum(CASE WHEN s >= 50000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_alarms,
                CAST(max(s) AS BIGINT) AS max_s_cents,
                min(CASE WHEN s >= 50000 THEN us END) AS first_alarm_us
         FROM s JOIN ex ON s.event_type = ex.event_type
         GROUP BY s.event_type ORDER BY s.event_type""",

    "q42_event_windows" ->
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY 1, 2
         ORDER BY win_start, event_type""",

    // epoch_ns(ts) // 1000 — NOT epoch_us(ts): the parquet column is
    // TIMESTAMP(NANOS). A DuckDB that reads nanos natively may ROUND when
    // converting to micros, while Spark's loader truncates (Tables.load,
    // ts DIV 1000); floor-dividing the raw nanos is truncation under both
    // behaviors, so both engines see identical microsecond integers.
    "q43_sessionization" ->
      """WITH base AS (
           SELECT user_id, event_id, value,
                  epoch_ns(ts) // 1000 AS us
           FROM events),
         flagged AS (
           SELECT user_id, event_id, us, value,
                  CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM base
           WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         numbered AS (
           SELECT user_id, event_id, us, value,
                  -- CAST: DuckDB sum(INTEGER) is HUGEINT; the driver's
                  -- typed hash needs BIGINT like Spark's sum(LONG) —
                  -- the exact q44 failure mode (VERDICT r1 #1).
                  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id,
                count(*) AS n_events,
                min(us) AS session_start_us,
                max(us) AS session_end_us,
                min(event_id) AS min_event_id,
                max(event_id) AS max_event_id,
                CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS session_value
         FROM numbered
         GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    // Engine-semantics probes (see the query-side comment): these pin
    // the floor ns→µs conversion both engines share (measured r3-r4;
    // a red row means the driver's oracle engine changed semantics).
    "q60_probe_us_parity" ->
      """SELECT CAST(sum(CASE WHEN (epoch_ns(ts) // 1000) % 2 = 1
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_odd_us
         FROM events""",

    // KMV: k smallest md5-prefix hashes per group; estimate
    // (k-1)·2^60/h_k from exactly-representable doubles, floored —
    // bit-identical to the Spark side by construction.
    "q84_kmv_distinct" ->
      """WITH ev AS (
           SELECT event_type, user_id,
                  CAST(user_id AS VARCHAR) || '#' ||
                  CAST(epoch_ns(ts) // 1000 // 3600000000 AS VARCHAR) AS uh
           FROM events),
         kmv_u AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
                  max(CASE WHEN rn = 64 THEN h END) AS hk
           FROM (SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                 FROM (SELECT DISTINCT event_type,
                         ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
                       FROM ev))
           WHERE rn <= 64 GROUP BY event_type),
         kmv_uh AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
                  max(CASE WHEN rn = 64 THEN h END) AS hk
           FROM (SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                 FROM (SELECT DISTINCT event_type,
                         ('0x'||substr(md5(uh),1,15))::BIGINT AS h
                       FROM ev))
           WHERE rn <= 64 GROUP BY event_type),
         ex AS (
           SELECT event_type,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                  CAST(count(DISTINCT uh) AS BIGINT) AS exact_user_hours
           FROM ev GROUP BY event_type)
         SELECT ex.event_type, ex.exact_users, ex.exact_user_hours,
                CASE WHEN u.n_kept < 64 THEN u.n_kept
                     ELSE CAST(floor(CAST(63 AS DOUBLE)
                                     * CAST(1152921504606846976 AS DOUBLE)
                                     / CAST(u.hk AS DOUBLE)) AS BIGINT)
                END AS est_users,
                CASE WHEN h.n_kept < 64 THEN h.n_kept
                     ELSE CAST(floor(CAST(63 AS DOUBLE)
                                     * CAST(1152921504606846976 AS DOUBLE)
                                     / CAST(h.hk AS DOUBLE)) AS BIGINT)
                END AS est_user_hours
         FROM ex JOIN kmv_u u USING (event_type)
                 JOIN kmv_uh h USING (event_type)
         ORDER BY event_type""",

    // Identical frame, identical decimal sums, one final divide.
    "q102_moving_avg" ->
      """SELECT event_id, user_id,
                CAST(sum(CAST(value AS DECIMAL(18,3)))
                       OVER (PARTITION BY user_id
                             ORDER BY epoch_ns(ts) // 1000, event_id
                             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                     AS DOUBLE)
                / CAST(count(*) OVER (PARTITION BY user_id
                                      ORDER BY epoch_ns(ts) // 1000, event_id
                                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                       AS DOUBLE) AS moving_avg
         FROM events
         ORDER BY event_id""",

    // Same running-max island construction on the shared µs timeline;
    // the checked aggregates are invariant to tie renumbering.
    "q99_interval_islands" ->
      """WITH iv AS (
           SELECT user_id, epoch_ns(ts) // 1000 AS s,
                  epoch_ns(ts) // 1000 + 60000000 AS e
           FROM events),
         flagged AS (
           SELECT user_id, s, e,
                  CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                         OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS is_new
           FROM iv),
         ids AS (
           SELECT user_id, s, e,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS island
           FROM flagged),
         islands AS (
           SELECT user_id, island, min(s) AS island_start,
                  max(e) AS island_end
           FROM ids GROUP BY user_id, island)
         SELECT user_id,
                CAST(count(*) AS BIGINT) AS n_islands,
                CAST(sum(island_end - island_start) AS BIGINT) AS covered_us,
                max(island_end - island_start) AS max_island_us
         FROM islands GROUP BY user_id
         ORDER BY user_id""",

    // Identical sufficient statistics, identical double tree — CASTs
    // keep DuckDB's HUGEINT sums out of the float math.
    "q97_group_linreg" ->
      """WITH base AS (
           SELECT min(epoch_ns(ts) // 1000) AS base_us FROM events),
         prepared AS (
           SELECT event_type,
                  (epoch_ns(ts) // 1000 - (SELECT base_us FROM base))
                    // 60000000 AS x_min,
                  CAST(floor(CAST(value AS DOUBLE) * 100) AS BIGINT)
                    AS y_cents
           FROM events),
         agg AS (
           SELECT event_type,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(x_min) AS BIGINT) AS sx,
                  CAST(sum(y_cents) AS BIGINT) AS sy,
                  CAST(sum(x_min * y_cents) AS BIGINT) AS sxy,
                  CAST(sum(x_min * x_min) AS BIGINT) AS sxx
           FROM prepared GROUP BY event_type)
         SELECT event_type, n,
                (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
                (CAST(sy AS DOUBLE)
                 - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * CAST(sx AS DOUBLE))
                / CAST(n AS DOUBLE) AS intercept
         FROM agg
         ORDER BY event_type""",

    // DIRECT single-pass bottom-k over everything — green only if the
    // Spark side's two-sketch merge reaches the identical estimate.
    "q96_kmv_merge" ->
      """WITH ev AS (
           SELECT event_type,
                  CAST(user_id AS VARCHAR) || '#' ||
                  CAST(epoch_ns(ts) // 1000 // 3600000000 AS VARCHAR) AS uh
           FROM events),
         kept AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
                  max(CASE WHEN rn = 64 THEN h END) AS hk
           FROM (SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                 FROM (SELECT DISTINCT event_type,
                         ('0x'||substr(md5(uh),1,15))::BIGINT AS h
                       FROM ev))
           WHERE rn <= 64 GROUP BY event_type)
         SELECT event_type,
                CASE WHEN n_kept < 64 THEN n_kept
                     ELSE CAST(floor(CAST(63 AS DOUBLE)
                                     * CAST(1152921504606846976 AS DOUBLE)
                                     / CAST(hk AS DOUBLE)) AS BIGINT)
                END AS est_nd
         FROM kept
         ORDER BY event_type""",

    // Week buckets are integer floor-division of the shared µs
    // timeline; offsets count distinct active users per cohort.
    "q95_cohort_retention" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
           FROM events),
         cohort AS (
           SELECT user_id, min(us) // 604800000000 AS cohort_week
           FROM ev WHERE event_type = 'signup' GROUP BY user_id),
         activity AS (
           SELECT DISTINCT e.user_id, c.cohort_week,
                  e.us // 604800000000 - c.cohort_week AS week_offset
           FROM ev e JOIN cohort c USING (user_id)
           WHERE e.us // 604800000000 >= c.cohort_week)
         SELECT cohort_week, week_offset,
                CAST(count(*) AS BIGINT) AS n_users
         FROM activity GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",

    // Stage k = min event time of type k at-or-after the stage-(k-1)
    // frontier; counts fall out of the chained CTEs.
    "q91_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
           FROM events),
         u AS (SELECT DISTINCT user_id FROM ev),
         s1 AS (SELECT user_id, min(us) AS t FROM ev
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.us) AS t
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'view' AND e.us >= s1.t
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.us) AS t
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.us >= s2.t
                GROUP BY e.user_id)
         SELECT CAST(0 AS BIGINT) AS stage, 'all' AS stage_name,
                CAST(count(*) AS BIGINT) AS n_users FROM u
         UNION ALL
         SELECT CAST(1 AS BIGINT), 'signup', CAST(count(*) AS BIGINT) FROM s1
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'view', CAST(count(*) AS BIGINT) FROM s2
         UNION ALL
         SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s3
         ORDER BY stage""",

    // Quantile bounds by the same explicit rank formula as q63, then
    // clip + exact decimal sum (clipped values are corpus values, so
    // the decimal cast stays exact).
    "q77_winsorize" ->
      """WITH ranked AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value) AS rnk,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         qs(q) AS (VALUES (0.05), (0.95)),
         bounds AS (
           SELECT event_type,
                  min(CASE WHEN CAST(q AS DOUBLE) = 0.05 THEN value END) AS lo,
                  min(CASE WHEN CAST(q AS DOUBLE) = 0.95 THEN value END) AS hi
           FROM ranked JOIN qs
             ON rnk = CAST(floor((n - 1) * CAST(q AS DOUBLE)) AS BIGINT) + 1
           GROUP BY event_type)
         SELECT e.event_type,
                count(*) AS n,
                CAST(sum(CAST(least(greatest(e.value, b.lo), b.hi)
                              AS DECIMAL(18,3))) AS DOUBLE) AS sum_clipped
         FROM events e JOIN bounds b ON e.event_type = b.event_type
         GROUP BY e.event_type
         ORDER BY e.event_type""",

    // The z expression tree must mirror the Spark side token-for-token:
    // each division/subtraction/sqrt is correctly-rounded IEEE over
    // identical inputs, so identical trees give identical bits.
    "q67_zscore" ->
      """WITH stats AS (
           SELECT event_type,
                  count(*) AS n,
                  CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS s,
                  CAST(sum(CAST(value AS DECIMAL(18,3))
                           * CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sq
           FROM events GROUP BY event_type)
         SELECT e.event_id, e.event_type, e.value,
                (e.value - s / n)
                  / sqrt(greatest(sq / n - (s / n) * (s / n), 0.0)) AS z
         FROM events e JOIN stats st ON e.event_type = st.event_type
         ORDER BY e.event_id""",

    // The oracle can afford the naive full sort; the rank formula is
    // evaluated in DOUBLE on both sides (VALUES literals are DECIMAL in
    // DuckDB — cast before the product or the floor differs).
    // Same discrete lower-quantile rank (floor((n-1)/2)+1) for both
    // medians; deviations and the 3·MAD flag mirror the Spark op order.
    "q111_mad_outliers" ->
      """WITH ranked AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value) AS rnk,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         med AS (
           SELECT event_type, value AS med FROM ranked
           WHERE rnk = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1),
         dev AS (
           SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
           FROM events e JOIN med m USING (event_type)),
         dranked AS (
           SELECT event_type, adev,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY adev) AS rnk,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM dev),
         mad AS (
           SELECT event_type, adev AS mad FROM dranked
           WHERE rnk = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1)
         SELECT d.event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                max(d.med) AS median_value,
                max(mm.mad) AS mad,
                CAST(sum(CASE WHEN d.adev > 3.0 * mm.mad THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_outliers
         FROM dev d JOIN mad mm USING (event_type)
         GROUP BY d.event_type
         ORDER BY d.event_type""",

    "q63_exact_quantiles" ->
      """WITH ranked AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value) AS rnk,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         qs(q) AS (VALUES (0.25), (0.5), (0.75), (0.9), (0.99))
         SELECT event_type, CAST(q AS DOUBLE) AS q,
                value AS quantile_value, n AS n_events
         FROM ranked JOIN qs
           ON rnk = CAST(floor((n - 1) * CAST(q AS DOUBLE)) AS BIGINT) + 1
         ORDER BY event_type, q""",

    "q47_exact_median" ->
      """WITH r AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events)
         SELECT event_type, avg(value) AS median_value, max(n) AS n_events
         FROM r
         WHERE rn = (n+1)//2 OR rn = (n+2)//2
         GROUP BY event_type
         ORDER BY event_type""",

    // One counting subquery per profiled column, unioned — the oracle
    // pays a scan per column where the engine pays one Expand pass.
    "q128_column_profile" -> {
      val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
                   CAST(min($c) AS DOUBLE) AS min_v,
                   CAST(max($c) AS DOUBLE) AS max_v,
                   CAST(sum(CAST($c AS DECIMAL(18,3))) AS DOUBLE) AS sum_v
            FROM lineitem"""
      }.mkString("", " UNION ALL ", " ORDER BY col_name")
    },

    // Same affine bucket map (identical IEEE expression order), same
    // generated bin frame so empty bins appear with n = 0.
    "q129_histogram" ->
      """WITH base AS (
           SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
           WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
             AND isfinite(CAST(o_totalprice AS DOUBLE))),
         bounds AS (SELECT min(x) AS lo, max(x) AS hi FROM base),
         counts AS (
           SELECT CASE WHEN hi = lo THEN 0
                       ELSE least(CAST(floor((x - lo) / (hi - lo) * 20)
                                       AS BIGINT), 19) END AS bucket,
                  CAST(count(*) AS BIGINT) AS n
           FROM base CROSS JOIN bounds GROUP BY 1),
         bins AS (
           SELECT unnest(range(0, 20)) AS bucket, lo, hi
           FROM bounds)
         SELECT CAST(b.bucket AS BIGINT) AS bucket,
                lo + b.bucket * ((hi - lo) / 20) AS bin_lo,
                CASE WHEN b.bucket = 19 THEN hi
                     ELSE lo + (b.bucket + 1) * ((hi - lo) / 20) END AS bin_hi,
                coalesce(c.n, 0) AS n
         FROM bins b LEFT JOIN counts c ON c.bucket = b.bucket
         ORDER BY bucket""",

    // Same (ts µs, event_id) total order for "first"; purchases roll
    // up by that first-touch channel.
    "q131_attribution" ->
      """WITH stamped AS (
           SELECT user_id, event_type, value,
                  first_value(event_type) OVER (
                    PARTITION BY user_id
                    ORDER BY epoch_ns(ts) // 1000, event_id) AS first_touch
           FROM events)
         SELECT first_touch,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(count(*) AS BIGINT) AS n_conversions,
                CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS revenue
         FROM stamped WHERE event_type = 'purchase'
         GROUP BY first_touch
         ORDER BY first_touch""",

    // Identical µs RANGE frame; decimal-exact sum, one edge cast.
    "q132_trailing_window" ->
      """SELECT event_id, user_id, us,
                CAST(sum(CAST(value AS DECIMAL(18,3))) OVER w AS DOUBLE)
                  AS trailing_1h_sum,
                CAST(count(*) OVER w AS BIGINT) AS trailing_1h_n
         FROM (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS us, value
               FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY us
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    // The naive whole-group rank() the bucketed ranks must equal,
    // including tie semantics; integer permille division.
    "q137_percent_rank" ->
      """SELECT event_id, event_type, value,
                CASE WHEN count(*) OVER g = 1 THEN 0
                     ELSE (1000 * (rank() OVER w - 1))
                          // (count(*) OVER g - 1) END AS prank_milli
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY value),
                g AS (PARTITION BY event_type)
         ORDER BY event_id""",

    // Each event unnested to its two hourly-grid 2-hour windows; same
    // exact distinct count.
    "q142_sliding_windows" ->
      """WITH ev AS (
           SELECT date_trunc('hour', ts) AS h, event_type, user_id
           FROM events),
         m AS (
           SELECT unnest([h - INTERVAL 1 HOUR, h]) AS win_start,
                  event_type, user_id
           FROM ev)
         SELECT win_start, event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
         FROM m GROUP BY win_start, event_type
         ORDER BY win_start, event_type""",

    // lag() gaps on the same (us, event_id) order, then the q47 rank
    // pick for the median.
    "q143_event_gaps" ->
      """WITH g AS (
           SELECT event_type,
                  CAST(us - lag(us) OVER (PARTITION BY user_id
                                          ORDER BY us, event_id)
                       AS DOUBLE) AS gap
           FROM (SELECT event_id, user_id, event_type,
                        epoch_ns(ts) // 1000 AS us
                 FROM events)),
         r AS (
           SELECT event_type, gap,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY gap) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM g WHERE gap IS NOT NULL)
         SELECT event_type, avg(gap) AS median_value,
                max(n) AS n_events
         FROM r
         WHERE rn = (n+1)//2 OR rn = (n+2)//2
         GROUP BY event_type
         ORDER BY event_type""",

    // Same 60-bit md5 hashes, same bottom-64 thresholds, same
    // θ = min rule and sub-θ inner join; one floor division at the
    // edge from exactly-representable doubles.
    "q140_kmv_intersect" ->
      """WITH ha AS (
           SELECT DISTINCT event_type,
                  ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
           FROM events WHERE event_id % 2 = 0),
         hb AS (
           SELECT DISTINCT event_type,
                  ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS h
           FROM events WHERE event_id % 2 = 1),
         sa AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                FROM ha),
         sb AS (SELECT event_type, h,
                  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                FROM hb),
         ta AS (SELECT event_type,
                  coalesce(max(CASE WHEN rn = 64 THEN h END),
                           1152921504606846976) AS ta
                FROM sa WHERE rn <= 64 GROUP BY event_type),
         tb AS (SELECT event_type,
                  coalesce(max(CASE WHEN rn = 64 THEN h END),
                           1152921504606846976) AS tb
                FROM sb WHERE rn <= 64 GROUP BY event_type),
         common AS (
           SELECT sa.event_type,
                  CAST(count(*) AS BIGINT) AS n_common,
                  max(least(ta.ta, tb.tb)) AS theta
           FROM sa JOIN sb ON sa.event_type = sb.event_type
                          AND sa.h = sb.h
           JOIN ta ON ta.event_type = sa.event_type
           JOIN tb ON tb.event_type = sa.event_type
           WHERE sa.rn <= 64 AND sb.rn <= 64
             AND sa.h < least(ta.ta, tb.tb)
           GROUP BY sa.event_type)
         SELECT event_type,
                CAST(floor(CAST(n_common AS DOUBLE) *
                     1152921504606846976.0 / CAST(theta AS DOUBLE))
                     AS BIGINT) AS est_common
         FROM common
         ORDER BY event_type""",

    // The Misra-Gries pass is plan-only: the answer is exactly the
    // HAVING form, which is what the oracle states.
    "q145_heavy_hitters" ->
      """WITH fw AS (
           SELECT w FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE regexp_full_match(w, '[a-z]+'))
         SELECT w, CAST(count(*) AS BIGINT) AS cnt
         FROM fw GROUP BY w
         HAVING count(*) * 30 > (SELECT count(*) FROM fw)
         ORDER BY w""",

    // Same cells → marginals → full grid → shared-IEEE tree as
    // Stats.chiSquare (zero cells included); the e subtree is written
    // out verbatim everywhere it appears, so both engines evaluate the
    // identical double expression. The grid→cells join is null-safe
    // (IS NOT DISTINCT FROM) to mirror the engine's <=> — a NULL
    // category is a category on both sides.
    "q147_chisq_assoc" ->
      """WITH cells AS (
           SELECT lang, source, CAST(count(*) AS BIGINT) AS o
           FROM documents GROUP BY lang, source),
         ra AS (SELECT lang, CAST(sum(o) AS BIGINT) AS ra
                FROM cells GROUP BY lang),
         cb AS (SELECT source, CAST(sum(o) AS BIGINT) AS cb
                FROM cells GROUP BY source),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
         SELECT ra.lang, cb.source,
                CAST(COALESCE(o, 0) AS BIGINT) AS o,
                CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)
                  AS expected,
                (CAST(COALESCE(o, 0) AS DOUBLE) -
                 CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) *
                (CAST(COALESCE(o, 0) AS DOUBLE) -
                 CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) /
                (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
                  AS chi2_part
         FROM ra CROSS JOIN cb
         LEFT JOIN cells
           ON cells.lang IS NOT DISTINCT FROM ra.lang
          AND cells.source IS NOT DISTINCT FROM cb.source
         CROSS JOIN tot
         ORDER BY ra.lang, cb.source""",

    // Weighted lower quantile: same ⌈q·W⌉ target arithmetic (one
    // double product, ceil, clamp to 1) and the same RANGE-frame
    // cumulative ("weight of all values ≤ x"), so ties resolve
    // identically without any row-order dependence.
    "q149_weighted_quantile" ->
      """WITH base AS (
           SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x,
                  CAST(l_quantity AS BIGINT) AS wt FROM lineitem),
         tot AS (SELECT g, CAST(sum(wt) AS BIGINT) AS tw
                 FROM base GROUP BY g),
         tq AS (SELECT g, tw, q,
                  GREATEST(CAST(ceil(q * CAST(tw AS DOUBLE)) AS BIGINT), 1)
                    AS t
                FROM tot CROSS JOIN
                  (SELECT unnest([0.25::DOUBLE, 0.5::DOUBLE,
                                  0.9::DOUBLE]) AS q)),
         cum AS (SELECT g, x, sum(wt) OVER (PARTITION BY g ORDER BY x
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
                 FROM base)
         SELECT tq.g AS l_returnflag, tq.q AS q, min(cum.x) AS quantile_value,
                max(tq.tw) AS total_weight
         FROM cum JOIN tq ON cum.g = tq.g AND cum.cw >= tq.t
         GROUP BY tq.g, tq.q
         ORDER BY l_returnflag, q""",

    // Combinable count + total + permille share; the ORDER includes the
    // key so the top-20 cut is a total order in both engines.
    "q153_skew_audit" ->
      """WITH c AS (
           SELECT CAST(user_id AS VARCHAR) AS key,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM events GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events)
         SELECT key, cnt, (1000 * cnt) // total AS share_permille
         FROM c CROSS JOIN t
         ORDER BY cnt DESC, key ASC NULLS FIRST
         LIMIT 20""",

    // Same lower-quantile rank arithmetic (floor((n-1)·q)+1 — one IEEE
    // product) for the 7 interior cutpoints, same x ≥ cut bin rule;
    // the value at a rank is tie-order-free because tied rows share
    // the value.
    "q158_equi_depth_bin" ->
      """WITH base AS (
           SELECT event_id, event_type AS grp, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
             AND isfinite(CAST(value AS DOUBLE))),
         n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
               FROM base GROUP BY grp),
         qs AS (SELECT CAST(unnest([0.125, 0.25, 0.375, 0.5,
                                    0.625, 0.75, 0.875]) AS DOUBLE) AS q),
         tgt AS (SELECT grp, q, CAST(floor((n - 1) * q) AS BIGINT) + 1 AS r
                 FROM n CROSS JOIN qs),
         ranked AS (SELECT grp, x,
                           row_number() OVER (PARTITION BY grp ORDER BY x)
                             AS rn
                    FROM base),
         cuts AS (SELECT t.grp, rk.x AS c
                  FROM tgt t JOIN ranked rk
                    ON rk.grp = t.grp AND rk.rn = t.r)
         SELECT b.event_id,
                CAST(sum(CASE WHEN b.x >= c.c THEN 1 ELSE 0 END) AS BIGINT)
                  AS bin
         FROM base b JOIN cuts c ON c.grp = b.grp
         GROUP BY b.event_id ORDER BY event_id""",

    // Same lower-quantile rank arithmetic for p05/p95, same clip.
    "q161_winsorized" ->
      """WITH base AS (
           SELECT event_type AS grp, CAST(value AS DOUBLE) AS x
           FROM events
           WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
             AND isfinite(CAST(value AS DOUBLE))),
         n AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
               FROM base GROUP BY grp),
         qs AS (SELECT CAST(unnest([0.05, 0.95]) AS DOUBLE) AS q),
         tgt AS (SELECT grp, q, CAST(floor((n - 1) * q) AS BIGINT) + 1 AS r
                 FROM n CROSS JOIN qs),
         ranked AS (SELECT grp, x,
                           row_number() OVER (PARTITION BY grp ORDER BY x)
                             AS rn
                    FROM base),
         cuts AS (SELECT t.grp,
                         min(CASE WHEN t.q = 0.05 THEN rk.x END) AS p05,
                         min(CASE WHEN t.q = 0.95 THEN rk.x END) AS p95
                  FROM tgt t JOIN ranked rk
                    ON rk.grp = t.grp AND rk.rn = t.r
                  GROUP BY t.grp)
         SELECT b.grp AS event_type,
                CAST(count(*) AS BIGINT) AS n,
                min(c.p05) AS p05, min(c.p95) AS p95,
                CAST(sum(CASE WHEN b.x < c.p05 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clip_lo,
                CAST(sum(CASE WHEN b.x > c.p95 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_clip_hi,
                CAST(sum(CAST(least(greatest(b.x, c.p05), c.p95)
                              AS DECIMAL(18,3))) AS DOUBLE)
                  AS sum_winsorized
         FROM base b JOIN cuts c ON c.grp = b.grp
         GROUP BY b.grp ORDER BY event_type""",

    // Same (ts, event_id) total order (µs-floored parity per q60/q82),
    // same 12-event cap and comma rebuild.
    "q162_user_sequences" ->
      """WITH r AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn,
                  CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                    AS n_total
           FROM events)
         SELECT user_id,
                string_agg(event_type, ',' ORDER BY rn) AS seq,
                CAST(count(*) AS BIGINT) AS seq_len,
                min(n_total) AS n_total
         FROM r WHERE rn <= 12
         GROUP BY user_id ORDER BY user_id""",

    // Same md5-prefix row sample (bottom-256 per flag), same
    // lower-quantile rank over (x, h).
    "q163_sample_quantiles" ->
      """WITH base AS (
           SELECT l_returnflag AS g,
                  ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                     CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT AS h,
                  CAST(l_extendedprice AS DOUBLE) AS x
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
         samp AS (
           SELECT g, h, x FROM (
             SELECT g, h, x,
                    row_number() OVER (PARTITION BY g ORDER BY h) AS rh
             FROM base)
           WHERE rh <= 256),
         m AS (SELECT g, CAST(count(*) AS BIGINT) AS n_sample
               FROM samp GROUP BY g),
         rx AS (SELECT g, x,
                       row_number() OVER (PARTITION BY g ORDER BY x, h)
                         AS rx
                FROM samp),
         qs AS (SELECT unnest([0.5, 0.9]) AS q)
         SELECT rx.g AS l_returnflag, CAST(qs.q AS DOUBLE) AS q,
                rx.x AS est_value, m.n_sample
         FROM rx JOIN m USING (g) CROSS JOIN qs
         WHERE rx.rx = CAST(floor((m.n_sample - 1) * CAST(qs.q AS DOUBLE))
                            AS BIGINT) + 1
         ORDER BY l_returnflag, q""",

    // Each stage re-derived from the green building-block oracles:
    // q38's marker-vote langID, q37's stopword ratio, q31's LSH pair
    // pipeline, q53's recursive min-label components.
    "q164_curation_funnel" ->
      s"""WITH RECURSIVE w AS (
           SELECT doc_id, text, string_split(text, ' ') AS w
           FROM documents),
         lang AS (
           SELECT doc_id FROM (
             SELECT doc_id,
                    greatest(
                      len(list_filter(w, x -> x IN ('the','a','of','and','is'))),
                      len(list_filter(w, x -> x IN ('der','die','das','und','ist'))),
                      len(list_filter(w, x -> x IN ('le','la','et','les','est'))),
                      len(list_filter(w, x -> x IN ('el','los','de','y','es'))))
                      AS best
             FROM w)
           WHERE best >= 1),
         s1 AS (SELECT w.* FROM w JOIN lang USING (doc_id)),
         qual AS (
           SELECT doc_id FROM s1
           WHERE len(list_filter(w, x -> x IN ('the','a','of','and','in','is')))::DOUBLE
                   / len(w) >= 0.04),
         s2 AS (SELECT s1.* FROM s1 JOIN qual USING (doc_id)),
         pairs AS (
           WITH docs AS (SELECT doc_id, $sqlWordShingles AS sh FROM s2),
           ${sqlLshPipeline(24, 4, 6, 0.8)}),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
         reach(node, r) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.a, r.r FROM edges e JOIN reach r ON r.node = e.b),
         comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
         s3 AS (
           SELECT s2.doc_id FROM s2
           LEFT JOIN comp ON comp.node = s2.doc_id
           WHERE COALESCE(comp.component, s2.doc_id) = s2.doc_id)
         SELECT '0_all' AS stage, CAST(count(*) AS BIGINT) AS n_docs
         FROM documents
         UNION ALL SELECT '1_lang', CAST(count(*) AS BIGINT) FROM s1
         UNION ALL SELECT '2_quality', CAST(count(*) AS BIGINT) FROM s2
         UNION ALL SELECT '3_neardup', CAST(count(*) AS BIGINT) FROM s3
         ORDER BY stage""",

    // ECDFs on the union of observed values; cdf = integer-cum /
    // integer-n in one double division — deterministic; max|Δ| exact.
    "q165_ks_matrix" ->
      """WITH base AS (
           SELECT CAST(source AS VARCHAR) AS s, CAST(n_chars AS DOUBLE) AS x
           FROM documents
           WHERE source IS NOT NULL AND n_chars IS NOT NULL),
         counts AS (
           SELECT s, x, CAST(count(*) AS BIGINT) AS c
           FROM base GROUP BY s, x),
         ns AS (SELECT s, CAST(sum(c) AS BIGINT) AS n
                FROM counts GROUP BY s),
         vals AS (SELECT DISTINCT x FROM counts),
         grid AS (
           SELECT ns.s, vals.x, ns.n, COALESCE(ct.c, 0) AS c
           FROM vals CROSS JOIN ns
           LEFT JOIN counts ct ON ct.s = ns.s AND ct.x = vals.x),
         cdf AS (
           SELECT s, x, n,
                  CAST(sum(c) OVER (PARTITION BY s ORDER BY x
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE) / CAST(n AS DOUBLE) AS f
           FROM grid)
         SELECT a.s AS sample_a, b.s AS sample_b,
                max(abs(a.f - b.f)) AS ks_stat,
                min(a.n) AS n_a, min(b.n) AS n_b
         FROM cdf a JOIN cdf b ON a.x = b.x AND a.s < b.s
         GROUP BY 1, 2
         ORDER BY sample_a, sample_b""",

    // Same (ts, event_id) per-user order as q162; p_micro = one double
    // division of exact integers, floored.
    "q166_transitions" ->
      """WITH s AS (
           SELECT event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS f
           FROM events),
         c AS (
           SELECT f AS from_type, event_type AS to_type,
                  CAST(count(*) AS BIGINT) AS n_trans
           FROM s WHERE f IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n_trans,
                CAST(floor(1000000 * (CAST(n_trans AS DOUBLE) /
                     CAST(sum(n_trans) OVER (PARTITION BY from_type)
                          AS DOUBLE))) AS BIGINT) AS p_micro
         FROM c ORDER BY from_type, to_type""",

    // Moments in exact DECIMAL(38,4) (products of ≤2-decimal inputs
    // are exactly 4-decimal; the double product is within half an ulp
    // of that grid, so both engines' rounding recovers the true
    // value); the r formula is a fixed double tree over those sums.
    "q169_corr_matrix" ->
      s"""WITH c AS (
           SELECT l_quantity AS x1, l_extendedprice AS x2,
                  l_discount AS x3, l_tax AS x4
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
         m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  ${Seq(1, 2, 3, 4).map(i =>
                    s"sum(CAST(x$i AS DECIMAL(38,4))) AS s$i, " +
                    s"sum(CAST(x$i*x$i AS DECIMAL(38,4))) AS q$i")
                    .mkString(", ")},
                  ${Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4))
                    .map { case (i, j) =>
                      s"sum(CAST(x$i*x$j AS DECIMAL(38,4))) AS p$i$j" }
                    .mkString(", ")}
           FROM c)
         ${sqlCorrPairs.mkString("\n         UNION ALL ")}
         ORDER BY col_a, col_b""",

    // Each side is the q128 profile with a snapshot predicate; deltas
    // and means are fixed double arithmetic over exact components.
    "q170_profile_drift" ->
      s"""WITH pa AS (
           ${sqlProfileSide("o_orderdate < TIMESTAMP '1998-01-01'")}),
         pb AS (
           ${sqlProfileSide("o_orderdate >= TIMESTAMP '1998-01-01'")})
         SELECT pa.col_name,
                pa.n_rows AS n_rows_a, pb.n_rows AS n_rows_b,
                (1000 * pa.n_nulls) // pa.n_rows AS null_permille_a,
                (1000 * pb.n_nulls) // pb.n_rows AS null_permille_b,
                pb.n_distinct - pa.n_distinct AS distinct_delta,
                pa.sum_v / CAST(pa.n_rows - pa.n_nulls AS DOUBLE) AS mean_a,
                pb.sum_v / CAST(pb.n_rows - pb.n_nulls AS DOUBLE) AS mean_b,
                pb.min_v - pa.min_v AS min_delta,
                pb.max_v - pa.max_v AS max_delta
         FROM pa JOIN pb USING (col_name)
         ORDER BY col_name""",

    // Stepped dyadic half-life: 1000 // 2^(age_days div 7), capped at
    // 20 half-lives, anchored to max(ts) — exact integer milli-units.
    "q178_decayed_counts" ->
      """WITH a AS (SELECT max(ts) AS anchor FROM events),
         w AS (
           SELECT event_type,
                  1000 // (1 << least(
                    CAST(date_diff('day', CAST(ts AS DATE),
                      CAST(anchor AS DATE)) AS BIGINT) // 7, 20)) AS w
           FROM events CROSS JOIN a
           WHERE ts IS NOT NULL)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(w) AS BIGINT) AS decayed_milli
         FROM w GROUP BY event_type ORDER BY event_type""",

    // Same (ts, event_id)-ordered lag construction per user; global
    // count; (count desc, gram) top-10.
    "q189_event_trigrams" ->
      """WITH g AS (
           SELECT concat_ws('>', lag(event_type, 2) OVER w,
                    lag(event_type, 1) OVER w, event_type) AS gram,
                  lag(event_type, 2) OVER w AS l2,
                  lag(event_type, 1) OVER w AS l1
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
         FROM g WHERE l2 IS NOT NULL AND l1 IS NOT NULL
         GROUP BY gram ORDER BY n_occurrences DESC, gram LIMIT 10""",

    // Same integer midrank formula: 2·rank + tie_count − 1, floor
    // division to micro units.
    "q190_auc_quality" ->
      """WITH b AS (
           SELECT (lang = 'en') AS y, CAST(n_chars AS DOUBLE) AS s
           FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
         r AS (
           SELECT y, 2 * rank() OVER (ORDER BY s)
                     + count(*) OVER (PARTITION BY s) - 1 AS r2
           FROM b),
         a AS (
           SELECT CAST(sum(CASE WHEN y THEN r2 ELSE 0 END) AS BIGINT)
                    AS rsum,
                  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_pos,
                  CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_neg
           FROM r)
         SELECT n_pos, n_neg,
                CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                     ELSE ((rsum - n_pos * (n_pos + 1)) * 1000000)
                          // (2 * n_pos * n_neg) END AS BIGINT)
                  AS auc_micro
         FROM a""",

    // q111's rank-selection MAD chain over a derived hourly-rate CTE.
    "q184_hourly_anomaly" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS hr,
                  CAST(count(*) AS DOUBLE) AS n
           FROM events GROUP BY event_type, date_trunc('hour', ts)),
         ranked AS (
           SELECT event_type, n,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY n) AS rnk,
                  count(*) OVER (PARTITION BY event_type) AS cnt
           FROM hourly),
         med AS (
           SELECT event_type, n AS med FROM ranked
           WHERE rnk = CAST(floor((cnt - 1) * 0.5) AS BIGINT) + 1),
         dev AS (
           SELECT h.event_type, abs(h.n - m.med) AS adev, m.med
           FROM hourly h JOIN med m USING (event_type)),
         dranked AS (
           SELECT event_type, adev,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY adev) AS rnk,
                  count(*) OVER (PARTITION BY event_type) AS cnt
           FROM dev),
         mad AS (
           SELECT event_type, adev AS mad FROM dranked
           WHERE rnk = CAST(floor((cnt - 1) * 0.5) AS BIGINT) + 1)
         SELECT d.event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                max(d.med) AS median_value,
                max(mm.mad) AS mad,
                CAST(sum(CASE WHEN d.adev > 3.0 * mm.mad THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_outliers
         FROM dev d JOIN mad mm USING (event_type)
         GROUP BY d.event_type
         ORDER BY d.event_type"""
  )
}
