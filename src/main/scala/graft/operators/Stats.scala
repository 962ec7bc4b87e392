package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed order statistics (pipeline extension; builder brief).
  *
  * The naive exact median — `row_number().over(Window.partitionBy(grp)
  * .orderBy(value))` — sorts each group inside ONE task, so a low-
  * cardinality grouping column (5 event types over 100 TB) produces five
  * straggler tasks that each sort n/5 rows. [[exactMedian]] replaces the
  * per-group sort with two-phase rank selection: histogram buckets first
  * (a decomposable count aggregate), then a real sort over only the one
  * bucket per group that straddles the median rank (~n/buckets rows).
  * Every wide stage is a hash aggregate with map-side partial combine;
  * the only windows run over ≤`buckets` rows (cumulative counts) or one
  * bucket's rows (final rank) per group.
  */
object Stats {

  /** Shared phase-1 base for the two-phase selectors: (grp, x) with
    * only FINITE values kept. A NaN max would make the affine bucket
    * map NaN for the whole group (corrupting every bucket id) and an
    * infinite bound degenerates its width, so non-finite inputs get
    * aggregate-null treatment (excluded) — the same convention as SQL
    * percentile functions, rather than NaN-sorts-last semantics. */
  private def finiteBase(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame =
    df.select(col(groupCol).as("grp"), col(valueCol).cast("double").as("x"))
      .where(col("x").isNotNull && !isnan(col("x")) &&
        abs(col("x")) < lit(Double.PositiveInfinity))

  /** Bucket id for the two-phase selectors: floor of an affine map of
    * `x` onto [0, buckets), monotone non-decreasing in `x`;
    * single-valued groups (hi = lo) pin to bucket 0. */
  private def affineBucket(x: Column, lo: Column, hi: Column,
                           buckets: Int): Column =
    when(hi === lo, lit(0L))
      .otherwise(least(floor((x - lo) / (hi - lo) * buckets),
        lit(buckets - 1L)))

  /** Join a one-row-per-group broadcast table back to the base,
    * NULL-SAFE on the group key. Every selector here emulates a
    * `PARTITION BY grp` window — and SQL windows (like GROUP BY) treat
    * NULL as an ordinary group — so a NULL group must survive the join
    * rather than silently vanishing to an EqualTo mismatch. `<=>` is a
    * valid hash-join key, so the plan shape (broadcast hash join) is
    * unchanged. */
  private def joinGroup(base: DataFrame, perGroup: DataFrame): DataFrame = {
    // rename instead of qualifying: perGroup derives from base, so
    // base("grp")/perGroup("grp") share an exprId and lean on Spark's
    // dataset-id disambiguation (it works, but warns); a fresh name
    // resolves unambiguously
    val pg = perGroup.withColumnRenamed("grp", "_bg")
    base.join(broadcast(pg), col("grp") <=> col("_bg")).drop("_bg")
  }

  /** Exact per-group median (avg of the two middle elements for even
    * counts — the same convention as SQL's
    * `rn = (n+1)//2 OR rn = (n+2)//2` rank pick).
    *
    * Phase 1: per-group (min, max, count) → the two target ranks.
    * Phase 2: fixed-width histogram over [min, max] — bucket assignment
    * is monotone in the value, so global rank = rows in lower buckets +
    * rank within the bucket. Cumulative bucket counts locate the
    * bucket(s) holding the target ranks; only those buckets' rows are
    * sorted (ties share a value, so any tie order yields the same
    * selected values).
    *
    * Output: (groupCol, median_value, n_events). Group cardinality is
    * assumed small enough to broadcast one row per group — exactly the
    * regime where the single-window plan breaks. */
  def exactMedian(df: DataFrame, groupCol: String, valueCol: String,
                  buckets: Int = 1024): DataFrame = {
    // Median of the FINITE values only — see [[finiteBase]].
    val base = finiteBase(df, groupCol, valueCol)

    // Phase 1: one row per group — bounds, count, and the target ranks.
    val bounds = base.groupBy("grp")
      .agg(min("x").as("lo"), max("x").as("hi"), count(lit(1)).as("n"))
      .select(col("grp"), col("lo"), col("hi"), col("n"),
        expr("(n + 1) div 2").as("r1"), expr("(n + 2) div 2").as("r2"))

    val bucketed = joinGroup(base, bounds)
      .select(col("grp"), col("x"),
        affineBucket(col("x"), col("lo"), col("hi"), buckets)
          .cast("int").as("b"),
        col("n"), col("r1"), col("r2"))

    // Phase 2a: histogram + cumulative counts (window over ≤buckets rows
    // per group); keep only the bucket(s) straddling a target rank.
    val wCum = Window.partitionBy("grp").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val targets = bucketed
      .groupBy("grp", "b")
      .agg(count(lit(1)).as("c"), max("r1").as("r1"), max("r2").as("r2"))
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("below", col("cum") - col("c"))
      .filter((col("r1") > col("below") && col("r1") <= col("cum")) ||
        (col("r2") > col("below") && col("r2") <= col("cum")))
      .select(col("grp").as("_tg"), col("b").as("_tb"), col("below"))

    // Phase 2b: sort only the target buckets; global rank = below + local.
    val wLocal = Window.partitionBy("grp", "b").orderBy("x")
    bucketed.join(broadcast(targets),
        col("grp") <=> col("_tg") && col("b") === col("_tb"))
      .drop("_tg", "_tb")
      .withColumn("rnk", row_number().over(wLocal).cast("long") + col("below"))
      .filter(col("rnk") === col("r1") || col("rnk") === col("r2"))
      .groupBy("grp")
      .agg(avg("x").as("median_value"), max("n").as("n_events"))
      .select(col("grp").as(groupCol), col("median_value"), col("n_events"))
  }

  /** Exact per-group quantiles at each fraction in `qs`, by the same
    * two-phase histogram selection as [[exactMedian]] — one extra
    * dimension: every (group, fraction) pair owns a target rank, and a
    * bucket is sorted iff it straddles ANY requested rank, so the sort
    * stays ~n/buckets rows per straddled bucket no matter how many
    * quantiles are asked for.
    *
    * Convention: the DISCRETE lower quantile, rank = ⌊(n−1)·q⌋ + 1 over
    * the ascending finite values (ties share a value, so tie order
    * cannot change the selected value). The rank is computed in double
    * then floored — both engines evaluate the identical IEEE product,
    * so the convention is portable by construction rather than by
    * matching some builtin's (version-dependent) interpolation.
    *
    * Output: (groupCol, q, quantile_value, n_events), one row per
    * (group, fraction). Same finite-values precondition and
    * small-group-cardinality regime as [[exactMedian]]. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     qs: Seq[Double], buckets: Int = 1024): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantile fractions must be in [0,1], got $qs")
    val base = finiteBase(df, groupCol, valueCol)

    val bounds = base.groupBy("grp")
      .agg(min("x").as("lo"), max("x").as("hi"), count(lit(1)).as("n"))

    // One (grp, q, target-rank) row per requested fraction.
    val ranks = bounds.select(col("grp").as("_rg"), col("n"),
      explode(array(qs.map(lit): _*)).as("q"))
      .select(col("_rg"), col("n"), col("q"),
        (floor((col("n") - 1) * col("q")).cast("long") + 1L).as("r"))

    val bucketed = joinGroup(base, bounds)
      .select(col("grp"), col("x"),
        affineBucket(col("x"), col("lo"), col("hi"), buckets)
          .cast("int").as("b"))

    // Histogram + cumulative counts; a bucket is a target iff it
    // straddles some requested rank.
    val wCum = Window.partitionBy("grp").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = bucketed
      .groupBy("grp", "b")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("below", col("cum") - col("c"))
    val targets = hist.join(broadcast(ranks), col("grp") <=> col("_rg"))
      .filter(col("r") > col("below") && col("r") <= col("cum"))
      .select(col("grp").as("_tg"), col("b").as("_tb"), col("below"),
        col("q"), col("r"), col("n"))

    // Sort only straddled buckets: joining rows against targets fans
    // each bucket row out once per quantile landing in that bucket
    // (tiny — |qs| at most), then local rank + rows-below = global rank.
    bucketed
      .join(broadcast(targets),
        col("grp") <=> col("_tg") && col("b") === col("_tb"))
      .withColumn("rnk",
        row_number().over(Window.partitionBy("grp", "b", "q").orderBy("x"))
          .cast("long") + col("below"))
      .filter(col("rnk") === col("r"))
      .select(col("grp").as(groupCol), col("q"),
        col("x").as("quantile_value"), col("n").as("n_events"))
  }

  /** Exact per-group WEIGHTED quantiles: the smallest value whose
    * cumulative integer weight reaches ⌈q·W⌉ (the weighted lower
    * quantile — quantity-weighted price percentiles, duration-weighted
    * latency SLOs). [[exactQuantiles]] with weight MASS in place of row
    * counts: per-bucket weight sums, cumulative histogram over
    * ≤`buckets` count rows per group, then a real window over only the
    * straddling bucket's rows. The in-bucket cumulative uses the
    * RANGE frame (value peers aggregate together), so ties in the
    * value cannot make the answer depend on row order — "smallest x
    * with cumweight(≤x) ≥ T" is row-order-free by construction.
    *
    * The target T = max(⌈q·W⌉, 1) computes ceil over the one double
    * product q·W (exact BIGINT W cast in), mirrored token-for-token in
    * the oracle. Weights must be positive integers (zero-weight rows
    * would make "smallest x" ambiguous at a crossing). Same finite-
    * value and small-group-cardinality regime as [[exactMedian]].
    *
    * Output: (groupCol, q, quantile_value, total_weight). */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                        weightCol: String, qs: Seq[Double],
                        buckets: Int = 1024): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantile fractions must be in [0,1], got $qs")
    val base = df.select(col(groupCol).as("grp"),
      col(valueCol).cast("double").as("x"),
      col(weightCol).cast("long").as("wt"))
      .where(col("x").isNotNull && !isnan(col("x")) &&
        abs(col("x")) < lit(Double.PositiveInfinity))
    val bounds = base.groupBy("grp")
      .agg(min("x").as("lo"), max("x").as("hi"), sum("wt").as("tw"))
    val ranks = bounds.select(col("grp").as("_rg"), col("tw"),
      explode(array(qs.map(lit): _*)).as("q"))
      .select(col("_rg"), col("tw"), col("q"),
        greatest(ceil(col("q") * col("tw").cast("double")), lit(1L))
          .as("t"))
    val bucketed = joinGroup(base, bounds)
      .select(col("grp"), col("x"), col("wt"),
        affineBucket(col("x"), col("lo"), col("hi"), buckets)
          .cast("int").as("b"))
    val wCum = Window.partitionBy("grp").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = bucketed.groupBy("grp", "b")
      .agg(sum("wt").as("c"))
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("below", col("cum") - col("c"))
    val targets = hist.join(broadcast(ranks), col("grp") <=> col("_rg"))
      .filter(col("t") > col("below") && col("t") <= col("cum"))
      .select(col("grp").as("_tg"), col("b").as("_tb"), col("below"),
        col("q"), col("t"), col("tw"))
    // default ordered-window frame = RANGE unbounded→current: peers of
    // a tied value accumulate as one block, the row-order-free rule
    val wIn = Window.partitionBy("grp", "b", "q").orderBy("x")
    bucketed.join(broadcast(targets),
        col("grp") <=> col("_tg") && col("b") === col("_tb"))
      .withColumn("cw", col("below") + sum("wt").over(wIn))
      .filter(col("cw") >= col("t"))
      .groupBy(col("grp"), col("q"))
      .agg(min("x").as("quantile_value"), max("tw").as("total_weight"))
      .select(col("grp").as(groupCol), col("q"), col("quantile_value"),
        col("total_weight"))
  }

  /** Per-row z-score against the row's group: z = (x − μ) / σ with the
    * population σ. Feature normalization for a training pipeline, built
    * cross-engine-exact: Σx and Σx² accumulate in exact DECIMAL (order-
    * independent), convert to double once, and the remaining scalar
    * expression tree — x/n, a−b, sqrt — is correctly-rounded IEEE on
    * identical inputs, so any engine evaluating the same tree emits the
    * same bits. Variance is clamped at 0 (rounding can land an
    * all-equal group epsilon-negative).
    *
    * One shuffle (the stats aggregate); stats broadcast back — the
    * low-group-cardinality regime ([[exactMedian]] note). Appends `z`;
    * all-equal groups (σ = 0) yield null (x−μ = 0 over sqrt(0) is
    * 0/0 = NaN in IEEE, but both engines agree; the fixture never hits
    * it — document rather than special-case). */
  /** Per-group least-squares linear trend over INTEGER (x, y)
    * columns: one decomposable aggregate collects the five exact
    * sufficient statistics (n, Σx, Σy, Σxy, Σx²) as BIGINTs, then
    * slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) and
    * intercept = (Σy − slope·Σx)/n evaluate in doubles — each cast is
    * correctly rounded from an exact integer and the arithmetic tree
    * is mirrored token-for-token in the oracle, so the result is
    * bit-identical cross-engine (the q67 shared-IEEE-tree device).
    * Callers pre-scale x/y so the int64 product sums cannot overflow
    * (minutes + cents here: Σx² safe past sf1). Degenerate groups
    * (all x equal) divide 0/0 → NaN identically in both engines. */
  def linearTrend(df: DataFrame, groupCols: Seq[String],
                  x: Column, y: Column): DataFrame = {
    val g = groupCols.map(col)
    def d(c: Column) = c.cast("double")
    val agg = df
      .select(g :+ x.cast("long").as("_x") :+ y.cast("long").as("_y"): _*)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_x")).as("sx"), sum(col("_y")).as("sy"),
        sum(col("_x") * col("_y")).as("sxy"),
        sum(col("_x") * col("_x")).as("sxx"))
    val slope = (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
      (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx")))
    agg.select(g :+ col("n") :+ slope.as("slope") :+
      ((d(col("sy")) - slope * d(col("sx"))) / d(col("n"))).as("intercept"): _*)
  }

  /** Robust per-group outlier detection: median/MAD instead of
    * mean/stddev ([[zscore]]), so a contaminated tail cannot drag its
    * own detection threshold (the breakdown-point argument for MAD).
    * Flags x with |x − median| > k·MAD; returns one row per group with
    * the median, the MAD, and the outlier count.
    *
    * Both medians are the discrete lower quantile via
    * [[exactQuantiles]]' two-phase histogram selection — no per-group
    * whole-sort, so the low-cardinality grouping regime (5 event types
    * at 100 TB) stays straggler-free. Per-group scalars travel by
    * broadcast join; deviations and flags are pure projections. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0, buckets: Int = 1024): DataFrame = {
    val med = exactQuantiles(df, groupCol, valueCol, Seq(0.5), buckets)
      .select(col(groupCol).as("_mg"), col("quantile_value").as("med"))
    // localCheckpoint: the MAD selection (3 passes) and the final
    // flag/count aggregate all re-consume the deviation frame; without
    // truncation each pass re-derives it from the source scan + join.
    // At cluster scale substitute persist(DISK_ONLY) or a materialized
    // intermediate table — same shape, spill-safe storage.
    val dev = df.join(broadcast(med), col(groupCol) <=> col("_mg"))
      .select(col(groupCol), col(valueCol).cast("double").as("x"),
        col("med"))
      .withColumn("adev", abs(col("x") - col("med")))
      .localCheckpoint()
    val mad = exactQuantiles(dev, groupCol, "adev", Seq(0.5), buckets)
      .select(col(groupCol).as("_dg"), col("quantile_value").as("mad"))
    dev.join(broadcast(mad), col(groupCol) <=> col("_dg"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_events"),
        max("med").as("median_value"),
        max("mad").as("mad"),
        sum(when(col("adev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  def zscore(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val d = col(valueCol).cast("decimal(18,3)")
    val stats = df.groupBy(col(groupCol).as("_zg"))
      .agg(count(lit(1)).as("_n"),
        sum(d).cast("double").as("_s"),
        sum(d * d).cast("double").as("_sq"))
    val mean = col("_s") / col("_n")
    val varr = greatest(col("_sq") / col("_n") - mean * mean, lit(0.0))
    df.join(broadcast(stats), col(groupCol) <=> col("_zg"))
      .withColumn("z", (col(valueCol) - mean) / sqrt(varr))
      .drop("_zg", "_n", "_s", "_sq")
  }

  /** Exact per-group percent rank in integer permille —
    * `(1000·(rank−1)) div (n−1)` with SQL `rank()` tie semantics —
    * the cross-domain score CALIBRATION step of a curation mix: each
    * source's quality scores map onto its own [0, 1000] rank scale, so
    * a single global threshold means the same thing in every domain.
    *
    * Exactness via the [[exactMedian]] two-phase shape, but for EVERY
    * row's rank rather than one selected rank: per-group bucket
    * histogram (decomposable counts), cumulative rows-below per
    * bucket (a window over ≤ `buckets` count rows), then an in-bucket
    * `rank()` window over ~n/`buckets` rows. Global rank = rows below
    * the bucket + in-bucket rank; equal values share a bucket (the
    * map is value-deterministic), so ties resolve exactly as one
    * whole-group `rank()` would — without ever sorting a whole group
    * in one task. Integer arithmetic end to end; n = 1 pins to 0.
    *
    * Like [[exactMedian]], group cardinality is assumed small enough
    * to broadcast the per-group bounds (one row each) and the
    * (group × occupied-bucket) rows-below table — exactly the
    * low-cardinality regime where the single-window plan breaks. For
    * millions of groups drop the broadcast hints: the joins shuffle
    * on the group key and the two-phase structure still holds.
    *
    * Output: the input columns plus `prank_milli`. Non-finite values
    * are dropped (the same convention as [[exactMedian]]). */
  def percentRankMilli(df: DataFrame, groupCol: String, valueCol: String,
                       buckets: Int = 1024): DataFrame = {
    val base = df.withColumn("_x", col(valueCol).cast("double"))
      .where(col("_x").isNotNull && !isnan(col("_x")) &&
        abs(col("_x")) < lit(Double.PositiveInfinity))
    val bounds = base.groupBy(col(groupCol).as("_g"))
      .agg(min("_x").as("_lo"), max("_x").as("_hi"),
        count(lit(1)).as("_n"))
    val bucketed = base
      .join(broadcast(bounds), col(groupCol) <=> col("_g"))
      .withColumn("_b",
        affineBucket(col("_x"), col("_lo"), col("_hi"), buckets))
    val hist = bucketed.groupBy(col(groupCol).as("_hg"), col("_b").as("_hb"))
      .agg(count(lit(1)).as("_bn"))
    val wCum = Window.partitionBy("_hg").orderBy("_hb")
    val below = hist
      .withColumn("_below", sum("_bn").over(wCum) - col("_bn"))
      .select(col("_hg"), col("_hb"), col("_below"))
    val wIn = Window.partitionBy(col(groupCol), col("_b")).orderBy(col("_x"))
    bucketed
      .join(broadcast(below),
        col(groupCol) <=> col("_hg") && col("_b") === col("_hb"))
      .withColumn("_grank", col("_below") + rank().over(wIn))
      .withColumn("prank_milli",
        when(col("_n") === 1L, lit(0L))
          .otherwise(expr("(1000 * (_grank - 1)) div (_n - 1)")))
      .select((df.columns.map(col) :+ col("prank_milli")).toIndexedSeq: _*)
  }

  /** Pearson chi-square contingency audit between two categorical
    * columns — the metadata-association check a curation pipeline runs
    * before trusting a stratification (is `lang` independent of
    * `source`, or does one crawl skew the language mix?). One row per
    * observed (a, b) cell: observed count, expected count under
    * independence, and the cell's chi-square contribution (the
    * statistic is their sum; the hot cells name the drift).
    *
    * The output is the FULL marginal grid — a (a, b) combination never
    * observed still carries its expected count (observed 0), because
    * the statistic is wrong without the zero cells' mass.
    *
    * Shape at scale: ONE corpus-sized count aggregate over (a, b),
    * materialized (localCheckpoint — the cell table is domain-sized,
    * pennies to persist) so the marginals, the total, and the grid all
    * derive from it without re-scanning the corpus. Joins are
    * broadcast and null-safe (a NULL category is a category). Expected
    * counts multiply the marginals in DOUBLE (each cast exact below
    * 2^53) rather than int64, which would overflow at 100 TB row
    * counts; the expression tree is mirrored token-for-token in the
    * oracle, so the doubles are bit-identical cross-engine. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val rowTot = cells.groupBy(col("a").as("_ra")).agg(sum("o").as("ra"))
    val colTot = cells.groupBy(col("b").as("_cb")).agg(sum("o").as("cb"))
    val total = cells.agg(sum("o").as("n"))
    val e = col("ra").cast("double") * col("cb").cast("double") /
      col("n").cast("double")
    rowTot.crossJoin(colTot)
      .join(broadcast(cells),
        col("_ra") <=> col("a") && col("_cb") <=> col("b"), "left")
      .crossJoin(broadcast(total))
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("expected", e)
      .withColumn("chi2_part",
        (col("o").cast("double") - col("expected")) *
          (col("o").cast("double") - col("expected")) / col("expected"))
      .select(col("_ra").as(aCol), col("_cb").as(bCol), col("o"),
        col("expected"), col("chi2_part"))
  }

  /** ANALYZE-style numeric column profile: one row per profiled column
    * with row/null/distinct counts, min/max, and an exact-decimal sum —
    * the table-health snapshot a pipeline records before promoting a
    * snapshot (complements [[graft.operators.DataQuality.report]],
    * which counts rule violations; this describes the data itself).
    *
    * Shape at scale: one plain aggregate computes every column's
    * decomposable stats (count/min/max/sum), and each `count(distinct)`
    * runs as its OWN two-phase aggregate over a single pruned column,
    * with the 1-row results broadcast-crossJoined back and `stack`
    * unpivoting the assembled row. The obvious alternative — every
    * distinct in ONE aggregate — plans as an Expand that replicates
    * each input row once per profiled column before the partial
    * aggregate; measured at sf0.1 on the 5-column lineitem profile
    * that is 4× SLOWER (6.5 s vs 1.55 s warm, DESIGN.md §5) because
    * ×(cols+1) row replication through one aggregate swamps the cost
    * of re-scanning: the per-column scans are column-pruned parquet
    * reads, and each distinct shuffle carries only that column's
    * partial-distinct values. For very wide profiles swap
    * `countDistinct` for `approx_count_distinct` (HLL partials, one
    * pass, no per-column jobs) — the exact form is kept here because
    * the oracle demands exact answers.
    *
    * Output: (column, n_rows, n_nulls, n_distinct, min_v, max_v,
    * sum_v) — min/max/sum as doubles via exact decimal accumulation
    * (QueryUtil convention). */
  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__${c}_n"),
        min(col(c)).cast("double").as(s"__${c}_min"),
        max(col(c)).cast("double").as(s"__${c}_max"),
        sum(col(c).cast("decimal(18,3)")).cast("double").as(s"__${c}_sum"))
    }
    val base = df.agg(count(lit(1)).as("__total"), aggs: _*)
    val one = cols.foldLeft(base)((acc, c) =>
      acc.crossJoin(broadcast(
        df.agg(countDistinct(col(c)).as(s"__${c}_d")))))
    val stackArgs = cols.map { c =>
      s"'$c', __total, __total - __${c}_n, __${c}_d, " +
        s"__${c}_min, __${c}_max, __${c}_sum"
    }.mkString(", ")
    one.select(expr(
      s"stack(${cols.size}, $stackArgs) AS " +
        "(col_name, n_rows, n_nulls, n_distinct, min_v, max_v, sum_v)"))
  }

  /** Exact equi-width histogram over `valueCol`: `nBins` buckets
    * spanning [min, max], EMPTY BUCKETS INCLUDED (n = 0), each row
    * carrying its bucket bounds — the data-profiling companion to
    * [[exactQuantiles]] (which inverts the question: values at given
    * ranks vs counts at given values).
    *
    * Two passes, both decomposable: a (min, max, count) aggregate
    * (one row, broadcast back via crossJoin), then a bucket-count
    * aggregate with map-side partial combine. The bucket id is the
    * floor of an affine map — monotone in the value, so the histogram
    * is exact, not sampled. The bins frame is generated FROM the
    * 1-row bounds (sequence + explode), so empty buckets appear
    * without a driver-side loop; the left join onto it is a broadcast
    * of at most `nBins` count rows.
    *
    * Determinism: bounds and bucket edges are doubles computed by the
    * identical expression tree in both engines (affine map, floor,
    * least) — every op is correctly-rounded IEEE, so bucket
    * assignment and edge values agree bit-for-bit. Degenerate
    * min == max collapses everything into bucket 0. Non-finite values
    * (NULL, NaN, ±Inf) are excluded like [[finiteBase]] everywhere
    * else in this module — an infinite bound would make the affine
    * bucket expression NaN for every row. */
  def histogram(df: DataFrame, valueCol: String, nBins: Int): DataFrame = {
    require(nBins >= 1, "need at least one bin")
    val base = df.select(col(valueCol).cast("double").as("x"))
      .where(col("x").isNotNull && !isnan(col("x")) &&
        abs(col("x")) < lit(Double.PositiveInfinity))
    val bounds = base.agg(min("x").as("lo"), max("x").as("hi"))
    val bucketId = when(col("hi") === col("lo"), lit(0L))
      .otherwise(least(
        floor((col("x") - col("lo")) / (col("hi") - col("lo")) * nBins),
        lit(nBins - 1L)))
    val counts = base.crossJoin(broadcast(bounds))
      .select(bucketId.as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    val width = (col("hi") - col("lo")) / nBins
    val bins = bounds
      .select(explode(sequence(lit(0L), lit(nBins - 1L))).as("bucket"),
        col("lo"), col("hi"))
      .select(col("bucket"),
        (col("lo") + col("bucket") * width).as("bin_lo"),
        when(col("bucket") === lit(nBins - 1L), col("hi"))
          .otherwise(col("lo") + (col("bucket") + 1) * width).as("bin_hi"))
    bins.join(counts, Seq("bucket"), "left")
      .select(col("bucket"), col("bin_lo"), col("bin_hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** EQUI-DEPTH BINNING — `ntile` without the sort. The naive form,
    * `ntile(nBins) OVER (PARTITION BY grp ORDER BY x)`, funnels every
    * group through one task's sort; this one derives the nBins−1
    * interior cutpoints with [[exactQuantiles]] (two-phase, bounded
    * windows) and assigns `bin = #cutpoints ≤ x` in a stateless
    * broadcast-join projection — the corpus is never sorted and never
    * reshuffled.
    *
    * The rule is VALUE-deterministic, not row-deterministic: ties all
    * land in the same bin (the upper one at a cutpoint), so the result
    * is reproducible under any partitioning — unlike row-exact ntile,
    * whose tie split depends on sort order. Bin populations are
    * therefore equal only up to tie mass, the standard trade for a
    * deterministic contract. Non-finite values (NULL/NaN/±Inf) get a
    * NULL bin ([[finiteBase]] convention).
    *
    * Output: every input row + `bin` (0-based long). */
  def equiDepthBin(df: DataFrame, groupCol: String, valueCol: String,
                   nBins: Int, buckets: Int = 1024): DataFrame = {
    require(nBins >= 2 && nBins <= 1024,
      s"nBins must be in [2, 1024], got $nBins")
    val qs = (1 until nBins).map(_.toDouble / nBins)
    val cuts = exactQuantiles(df, groupCol, valueCol, qs, buckets)
      .groupBy(col(groupCol).as("_cg"))
      .agg(sort_array(collect_list(col("quantile_value"))).as("_cuts"))
    val x = col(valueCol).cast("double")
    df.join(broadcast(cuts), col(groupCol) <=> col("_cg"), "left")
      .select(df.columns.map(col) :+
        when(x.isNotNull && !isnan(x) &&
            abs(x) < lit(Double.PositiveInfinity),
          size(filter(col("_cuts"), c => x >= c)).cast("long"))
          .as("bin"): _*)
  }

  /** PAIRWISE TWO-SAMPLE KOLMOGOROV–SMIRNOV DISTANCES between the
    * value distributions of every pair of samples (sources, snapshots,
    * splits): D = max over x of |F_a(x) − F_b(x)| — the distribution-
    * drift report a pipeline runs before concluding two corpora are
    * interchangeable (train-vs-held-out length drift, yesterday-vs-
    * today score drift).
    *
    * Shape at scale: ONE pass over the raw data (a map-side-combinable
    * (sample, value) count); everything after runs at VALUE-LEVEL
    * cardinality — distinct values × samples for the ECDF grid, its
    * k² pair self-join at most |values|·k²/2 rows. The per-sample
    * windows order distinct values, not rows, so the operator assumes
    * the DISTINCT-VALUE REGIME (bounded domains: lengths, scores,
    * counts — the usual KS inputs). For an unbounded continuous
    * column, pre-bin: D over a binned ECDF is the binned-KS statistic
    * with error ≤ the bin mass.
    *
    * ECDFs are evaluated on the UNION of observed values (the grid
    * cross-joins the tiny per-sample totals against distinct values),
    * so a value absent from one sample still contributes that sample's
    * running CDF — max|·| is taken over the full step function, not
    * each sample's own support. cdf = integer-cum / integer-n in one
    * double division: deterministic cross-engine. NULL sample labels
    * and non-finite values are excluded ([[finiteBase]] convention).
    *
    * Output: (sample_a, sample_b, ks_stat, n_a, n_b), a < b. */
  def ksMatrix(df: DataFrame, sampleCol: String, valueCol: String): DataFrame = {
    val base = df.select(col(sampleCol).cast("string").as("s"),
        col(valueCol).cast("double").as("x"))
      .where(col("s").isNotNull && col("x").isNotNull && !isnan(col("x")) &&
        abs(col("x")) < lit(Double.PositiveInfinity))
    val counts = base.groupBy("s", "x").agg(count(lit(1)).as("c"))
    val ns = counts.groupBy("s").agg(sum("c").as("n"))
    val values = counts.select("x").distinct()
    val grid = values.crossJoin(broadcast(ns))
      .join(counts, Seq("s", "x"), "left")
      .na.fill(0L, Seq("c"))
    val wCum = Window.partitionBy("s").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The k² pair join reads this frame twice (a- and b-side); without
    // the checkpoint each side re-runs the whole raw-data count — two
    // full scans of the corpus for one report. Value-level rows only
    // (distinct values × samples), so the materialization is tiny; the
    // session harness sweep frees it after the query.
    val cdf = grid.withColumn("f",
      sum("c").over(wCum).cast("double") / col("n").cast("double"))
      .localCheckpoint()
    val a = cdf.select(col("s").as("sample_a"), col("x"),
      col("f").as("_fa"), col("n").as("n_a"))
    val b = cdf.select(col("s").as("sample_b"), col("x"),
      col("f").as("_fb"), col("n").as("n_b"))
    a.join(b, Seq("x"))
      .filter(col("sample_a") < col("sample_b"))
      .groupBy("sample_a", "sample_b")
      .agg(max(abs(col("_fa") - col("_fb"))).as("ks_stat"),
        min("n_a").as("n_a"), min("n_b").as("n_b"))
  }

  /** EXACT PAIRWISE PEARSON CORRELATION MATRIX over a fixed column
    * list, from ONE aggregate pass (map-side combinable, no second
    * scan per pair). The naive `df.stat.corr` loops pairs = one job
    * per pair; builtin `corr()` aggregates in streaming double sums
    * whose value depends on partition merge order — unusable under a
    * bit-identical cross-engine contract.
    *
    * Here every moment (Σx, Σx², Σxy) accumulates in EXACT DECIMAL
    * (scale 4: inputs are money/quantity values whose pairwise
    * products are exactly 4-decimal, and the double product is within
    * half an ulp of that grid, so both engines' double→decimal
    * rounding recovers the identical true value), then the textbook
    * formula r = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²)·√(n·Σy² − (Σy)²))
    * evaluates over the decimal sums CAST TO DOUBLE — a fixed IEEE
    * expression tree over order-independent inputs, hence
    * deterministic. Rows with a NULL in ANY listed column are dropped
    * (pairwise-complete would make n pair-dependent; listwise keeps
    * one shared n). A constant column yields NaN (0/0) — surfaced,
    * not masked. Output: (col_a, col_b, n, corr), pairs in list
    * order.
    *
    * PRECONDITION (caller contract): every pairwise product of the
    * listed columns must lie exactly on the 4-decimal grid — true for
    * ≤2-decimal money/quantity inputs, the intended domain. The
    * product moments accumulate as d4(x)·d4(y) at decimal scale 8,
    * which equals the definitional d4(x·y) at scale 4 only on that
    * grid; columns with genuine 4-decimal values would diverge from
    * the definition (and from any oracle mirroring it), and scale-8
    * sums carry 4 fewer digits of decimal(38,_) overflow headroom.
    * CorrDecimalPropertySpec pins both sides of the boundary. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 16,
      s"need 2..16 columns, got ${cols.size} — moments grow O(k²)")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    def d4(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(38, 4))
    val complete = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    // Each column crosses double->decimal ONCE and the k + k(k-1)/2
    // product moments multiply IN DECIMAL (r21, DESIGN.md §5):
    // the double->decimal cast routes through Double.toString /
    // BigDecimal, so the former sum(d4(x*y)) form paid 15 such casts
    // per row where 4 suffice — measured 3.6 s -> 1.35 s on the q169
    // moment pass at sf0.1, outputs BITWISE identical (checked on the
    // full corr output):
    // the inputs are exact 4-decimal values, so d4(x)*d4(y) at scale 8
    // and d4(x*y) at scale 4 are the same rationals (the double
    // product is within half an ulp of the 4-decimal grid — the
    // original determinism argument above), and equal rationals cast
    // to equal doubles in the corr formula.
    val withDec = complete.select(
      cols.map(c => d4(col(c)).as(s"_d_$c")): _*)
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("_n")) ++
        cols.flatMap(c => Seq(
          sum(col(s"_d_$c")).as(s"_s_$c"),
          sum(col(s"_d_$c") * col(s"_d_$c")).as(s"_q_$c"))) ++
        pairs.map { case (x, y) =>
          sum(col(s"_d_$x") * col(s"_d_$y")).as(s"_p_${x}_$y")
        }
    val one = withDec.agg(aggs.head, aggs.tail: _*)
    val nD = col("_n").cast("double")
    def corrOf(x: String, y: String): Column =
      (nD * col(s"_p_${x}_$y").cast("double") -
        col(s"_s_$x").cast("double") * col(s"_s_$y").cast("double")) /
        (sqrt(nD * col(s"_q_$x").cast("double") -
          col(s"_s_$x").cast("double") * col(s"_s_$x").cast("double")) *
         sqrt(nD * col(s"_q_$y").cast("double") -
           col(s"_s_$y").cast("double") * col(s"_s_$y").cast("double")))
    // Unpivot inside the same plan (explode of k² tiny structs over the
    // 1-row aggregate) — no checkpoint, no per-pair re-scan.
    val pairStructs = pairs.map { case (x, y) =>
      struct(lit(x).as("col_a"), lit(y).as("col_b"),
        corrOf(x, y).as("corr"))
    }
    one.select(col("_n").as("n"), explode(array(pairStructs: _*)).as("_pr"))
      .select(col("_pr.col_a").as("col_a"), col("_pr.col_b").as("col_b"),
        col("n"), col("_pr.corr").as("corr"))
  }

  /** JOIN-KEY SKEW AUDIT: the top-`topN` hottest values of `keyCol`
    * with their row counts and corpus share (integer permille) — the
    * diagnostic run BEFORE deciding whether a join needs salting
    * ([[graft.queries.PipelineQueries]] q130) or AQE skew splitting.
    * A key above ~1000/numPartitions permille serializes its partition
    * at shuffle time; this report names those keys and sizes the salt.
    *
    * Shape at scale: one map-side-combinable count per key, then a
    * TakeOrderedAndProject heap top-N (never a full sort of the key
    * domain) with (count desc, key asc NULLS FIRST) determinism; the
    * 1-row total attaches broadcast. A NULL key is a key — it is
    * usually THE hot key. Output: (key as string, cnt,
    * share_permille), ordered hottest first. */
  def skewAudit(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    require(topN >= 1 && topN <= 100000,
      s"topN must be in [1, 1e5], got $topN — the report is driver-sized")
    val counts = df.select(col(keyCol).cast("string").as("key"))
      .groupBy("key").agg(count(lit(1)).as("cnt"))
    // total from the SOURCE, not from re-aggregating the key domain: a
    // count(*) scan is column-pruned and shuffle-free where summing
    // `counts` would repeat the key shuffle
    val total = df.agg(count(lit(1)).as("_total"))
    counts
      .orderBy(col("cnt").desc, col("key").asc_nulls_first)
      .limit(topN)
      .crossJoin(broadcast(total))
      .select(col("key"), col("cnt"),
        expr("(1000 * cnt) div _total").as("share_permille"))
      .orderBy(col("cnt").desc, col("key").asc_nulls_first)
  }

  /** EXACT AUC of a score against a binary label — the ranking-metric
    * eval that answers "does this quality signal actually separate the
    * classes" without training anything (AUC = P(score_pos >
    * score_neg), the Mann-Whitney U statistic). Rank-sum formulation
    * kept ENTIRELY in integers, ties handled by midrank: with
    * `rank()` (min-rank) and `tcnt` = tie-group size, twice the
    * midrank is `2·rank + tcnt − 1` (an integer — midranks themselves
    * are half-integers), so
    * `auc_micro = (Σ_pos 2·midrank − n_pos·(n_pos+1)) · 1e6
    *   div (2·n_pos·n_neg)` — floor semantics, bit-exact on any
    * engine; no float sums anywhere.
    *
    * Shape: one global rank over the score — a single total order,
    * the same scale posture as [[percentRankMilli]] minus the groups:
    * right for eval-sized inputs, and at corpus scale the two-phase
    * bucketed-rank trick there applies verbatim. One row:
    * (n_pos, n_neg, auc_micro). Non-finite scores (NULL, NaN, ±Inf)
    * and NULL labels are excluded ([[ksMatrix]] convention);
    * degenerate single-class input returns NULL AUC. */
  def aucMicro(df: DataFrame, label: Column, scoreCol: String): DataFrame = {
    val base = df.select(label.cast("boolean").as("_y"),
        col(scoreCol).cast("double").as("_s"))
      .where(col("_s").isNotNull && !isnan(col("_s")) &&
        abs(col("_s")) < lit(Double.PositiveInfinity) &&
        col("_y").isNotNull)
    val wR = Window.orderBy("_s")
    val wT = Window.partitionBy("_s")
    base
      .withColumn("_r2", lit(2L) * rank().over(wR) +
        count(lit(1)).over(wT) - 1L)
      .agg(sum(when(col("_y"), col("_r2")).otherwise(lit(0L))).as("_rsum"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("_y"), 1L).otherwise(0L)).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise(expr(
            "((_rsum - n_pos * (n_pos + 1)) * 1000000L) div (2 * n_pos * n_neg)"))
          .as("auc_micro"))
  }

  private val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** COHEN'S KAPPA between two label columns — chance-corrected
    * agreement, the metric a curation pipeline uses to decide whether a
    * cheap classifier can stand in for an expensive one (or for human
    * labels): κ = (p_o − p_e)/(1 − p_e) with p_e the marginal-product
    * chance agreement. Plain accuracy rewards a classifier that spams
    * the majority class; κ does not.
    *
    * Exactness: with integer counts, κ = (n·n_agree − Σ_k r_k·c_k) /
    * (n² − Σ_k r_k·c_k). Both products can pass 2^63 at corpus scale
    * (n² at n > 3e9), so they are formed in DECIMAL(38,0) — the
    * oracle's HUGEINT pairing (q194 discipline) — and the single
    * κ expression is ONE double division of two exact integers.
    *
    * Shape at 100 TB: one combinable (a, b) count — V² rows for a
    * V-sized label domain — then everything downstream (marginals,
    * diagonal, the κ scalar) is arithmetic over that tiny frame; the
    * corpus is scanned once and only label pairs shuffle. Rows with a
    * NULL on either side are excluded (stated; a NULL prediction is an
    * abstention, not a class). Output one row:
    * (n, n_agree, po_milli, pe_milli, kappa). */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cm = df
      .select(col(aCol).as("_a"), col(bCol).as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy("_a", "_b").agg(count(lit(1)).as("_c"))
    val totals = cm.agg(
      sum(col("_c")).as("_n"),
      sum(when(col("_a") === col("_b"), col("_c")).otherwise(0L))
        .as("n_agree"))
    val peNum = cm.groupBy("_a").agg(sum(col("_c")).as("_r"))
      .join(cm.groupBy("_b").agg(sum(col("_c")).as("_cc")),
        col("_a") === col("_b"))
      .agg(coalesce(sum(col("_r").cast(dec38) * col("_cc")), lit(0).cast(dec38))
        .as("_pe_num"))
    totals.crossJoin(broadcast(peNum))
      .select(col("_n").as("n"), col("n_agree"),
        expr("(1000 * n_agree) div _n").as("po_milli"),
        // permille via ONE double division + floor (not DECIMAL
        // division, whose rounding scale differs between engines)
        floor((col("_pe_num") * 1000).cast("double") /
          (col("_n").cast(dec38) * col("_n")).cast("double"))
          .cast("long").as("pe_milli"),
        ((col("_n").cast(dec38) * col("n_agree") - col("_pe_num"))
          .cast("double") /
          (col("_n").cast(dec38) * col("_n") - col("_pe_num"))
            .cast("double")).as("kappa"))
  }

  /** Cumulative Poisson(1) thresholds scaled to 2^32: floor(c·2^32) for
    * c = P(X≤0..3); a uniform 32-bit hash below threshold k gets
    * multiplicity k (capped at 4, which holds 99.63% of the mass +
    * the cap's own 0.37%). */
  private val poissonCum32: Seq[Long] =
    Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L)

  /** DETERMINISTIC POISSON-BOOTSTRAP confidence interval for a group
    * mean — the error bar a data-quality dashboard puts on "mean doc
    * length by language" without any RNG state. The classic bootstrap
    * (resample n rows WITH replacement, B times) cannot be expressed as
    * a scan; the Poisson bootstrap can: each row enters replicate r
    * with multiplicity ~ Poisson(1), independent per (row, r) — the
    * standard large-scale approximation (the multinomial's row
    * marginal converges to Poisson(1) as n grows). Multiplicity here
    * is a pure function of md5(id:r) against [[poissonCum32]], so both
    * engines draw the identical resamples — no RNG, no seed plumbing.
    *
    * Shape at 100 TB: one scan exploded ×`reps`; the (grp, r)
    * aggregate is map-side combinable, so the shuffle carries only
    * |groups|·reps partial rows — the bootstrap costs reps× CPU, not
    * reps× shuffle. Replicate means are exact-DECIMAL sums divided
    * once in double; the CI bounds are order statistics of the `reps`
    * means (rank `loRank`/`hiRank`, 1-based, ties broken by replicate
    * id), picked by a window over ≤`reps` rows per group.
    * Output per group: (grp, mean, ci_lo, ci_hi, reps). */
  def bootstrapMeanCI(df: DataFrame, groupCol: String, idCol: String,
                      valueCol: String, reps: Int,
                      loRank: Int, hiRank: Int): DataFrame = {
    require(reps >= 8 && reps <= 256, s"reps in [8,256], got $reps")
    require(loRank >= 1 && hiRank <= reps && loRank < hiRank,
      s"need 1 <= loRank < hiRank <= reps, got [$loRank, $hiRank]")
    val base = df.select(col(groupCol).as("grp"),
        col(idCol).cast("string").as("_id"),
        col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 3))
          .as("_v"))
      .where(col("_v").isNotNull)
    val u = conv(substring(
      md5(concat(col("_id"), lit(":"), col("_r"))), 1, 8), 16, 10)
      .cast("long")
    val m = when(u < poissonCum32(0), 0L)
      .when(u < poissonCum32(1), 1L)
      .when(u < poissonCum32(2), 2L)
      .when(u < poissonCum32(3), 3L)
      .otherwise(4L)
    val repMeans = base
      .select(col("grp"), col("_id"), col("_v"),
        explode(sequence(lit(0), lit(reps - 1))).as("_r"))
      .select(col("grp"), col("_r"), col("_v"), m.as("_m"))
      .groupBy("grp", "_r")
      .agg(sum(col("_m") * col("_v")).as("_s"), sum(col("_m")).as("_n"))
      // an all-zero replicate (possible only for tiny groups) carries
      // no mean; it still occupies its rank slot via NULLS FIRST so
      // rank semantics stay a pure function of the draws
      .select(col("grp"), col("_r"),
        when(col("_n") > 0, col("_s").cast("double") / col("_n"))
          .as("_mean_r"))
    val w = Window.partitionBy("grp")
      .orderBy(col("_mean_r").asc_nulls_first, col("_r").asc)
    val ranked = repMeans.withColumn("_rk", row_number().over(w))
    val point = base.groupBy("grp")
      .agg((sum(col("_v")).cast("double") / count(lit(1))).as("mean"))
    point.join(
      ranked.groupBy("grp").agg(
        max(when(col("_rk") === loRank, col("_mean_r"))).as("ci_lo"),
        max(when(col("_rk") === hiRank, col("_mean_r"))).as("ci_hi")),
      Seq("grp"))
      .select(col("grp"), col("mean"), col("ci_lo"), col("ci_hi"),
        lit(reps).cast("long").as("reps"))
  }

  /** CLUSTER LABEL PURITY via Gini impurity — the eval that answers
    * "did the embedding clustering find the label structure" (and, run
    * the other way, "is this label column informative about the
    * geometry"). Per cluster: Gini = 1 − Σ_k (n_k/n)², in exact
    * integer permille: gini_milli = 1000·(n² − Σn_k²) div n², plus the
    * majority label and its share. Entropy needs logs (not
    * engine-exact); Gini is the standard log-free impurity.
    *
    * Shape at 100 TB: one combinable (cluster, label) count, then
    * cluster-level arithmetic over that tiny frame; majority pick is a
    * window over ≤|labels| rows per cluster with (count desc, label
    * asc) determinism. Products in DECIMAL(38,0) so n² cannot
    * overflow. NULL labels are excluded (stated). Output per cluster:
    * (cluster, n, n_labels, majority_label, majority_milli,
    * gini_milli). */
  def clusterGini(assign: DataFrame, clusterCol: String,
                  labelCol: String): DataFrame = {
    val cm = assign
      .select(col(clusterCol).as("cluster"),
        col(labelCol).cast("string").as("_l"))
      .where(col("_l").isNotNull)
      .groupBy("cluster", "_l").agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("_c").desc, col("_l").asc)
    cm.withColumn("_rk", row_number().over(w))
      .groupBy("cluster")
      .agg(sum(col("_c")).as("n"),
        count(lit(1)).as("n_labels"),
        max(when(col("_rk") === 1, col("_l"))).as("majority_label"),
        max(when(col("_rk") === 1, col("_c"))).as("_maj"),
        sum(col("_c").cast(dec38) * col("_c")).as("_sq"))
      .select(col("cluster"), col("n"), col("n_labels"),
        col("majority_label"),
        expr("(1000 * _maj) div n").as("majority_milli"),
        floor(((col("n").cast(dec38) * col("n") - col("_sq")) * 1000)
          .cast("double") /
          (col("n").cast(dec38) * col("n")).cast("double"))
          .cast("long").as("gini_milli"))
  }

  /** CALIBRATION-BIN RELIABILITY TABLE of a [0,1] score against a
    * binary outcome — the eval that belongs next to AUC ([[aucMicro]])
    * before a pipeline GATES on a score: AUC says the ranking works,
    * calibration says the score VALUES mean what they claim (a 0.8
    * decile whose empirical rate is 0.2 is a ranking feature, not a
    * probability). Bins are fixed score deciles (`least(floor(s·B),
    * B−1)`, so s = 1.0 lands in the last bin), and EVERY bin reports —
    * empty deciles show n = 0 with NULL rates (the q177 full-domain
    * lesson) rather than silently vanishing.
    *
    * All outputs are integer milli derived from per-row
    * `floor(score·1000)` — no double accumulation anywhere, so the
    * table is engine-exact. Rows whose score is NULL or outside [0,1],
    * or whose label is NULL, are EXCLUDED from the bins but counted —
    * `n_excluded` rides every row (the [[graft.operators.DataQuality]]
    * benfordAudit convention), so `sum(n) + n_excluded` always equals
    * the input row count and silent domain violations are visible.
    * One combinable B-group aggregate over a narrow projection.
    * Output per bin: (bin, n, n_pos, mean_score_milli, rate_milli,
    * gap_milli = mean − rate — the signed miscalibration in permille,
    * n_excluded). */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      nBins: Int): DataFrame = {
    require(nBins >= 2 && nBins <= 1000,
      s"nBins must be in [2,1000], got $nBins")
    val sp = df.sparkSession
    import sp.implicits._
    val scored = df.select(col(scoreCol).cast("double").as("_s"),
      col(labelCol).cast("long").as("_y"))
    val valid = col("_s").isNotNull && col("_s") >= 0 &&
      col("_s") <= 1 && col("_y").isNotNull
    val binned = scored.filter(valid).select(
      least(floor(col("_s") * nBins), lit(nBins - 1))
        .cast("long").as("bin"),
      floor(col("_s") * 1000).cast("long").as("_sm"),
      col("_y"))
    val excluded = scored
      .agg(sum(when(valid, 0L).otherwise(1L)).as("n_excluded"))
    val counts = binned.groupBy("bin").agg(
      count(lit(1)).as("n"),
      sum(col("_y")).as("n_pos"),
      sum(col("_sm")).as("_sms"))
    val domain = (0L until nBins.toLong).toDF("bin")
    domain.join(counts, Seq("bin"), "left")
      .crossJoin(broadcast(excluded))
      .select(col("bin"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        when(coalesce(col("n"), lit(0L)) === 0, lit(null))
          .otherwise(expr("_sms div n")).as("mean_score_milli"),
        when(coalesce(col("n"), lit(0L)) === 0, lit(null))
          .otherwise(expr("(1000 * n_pos) div n")).as("rate_milli"),
        when(coalesce(col("n"), lit(0L)) === 0, lit(null))
          .otherwise(expr("_sms div n - (1000 * n_pos) div n"))
          .as("gap_milli"),
        coalesce(col("n_excluded"), lit(0L)).as("n_excluded"))
  }

  /** CUSUM UPWARD-SHIFT DETECTOR per series — the classic sequential
    * changepoint statistic (Page 1954) over a time-ordered metric:
    * S_t = max(0, S_{t-1} + x_t − k) alarms when S_t ≥ h, catching a
    * sustained mean shift that per-window thresholds miss (each window
    * looks fine; the drift accumulates). k is the drift allowance
    * (baseline mean + slack) and h the decision threshold, both in
    * integer cents like the metric — the whole statistic is integer
    * arithmetic, engine-exact.
    *
    * The max(0,·) recursion is NOT a window aggregate, but it
    * telescopes: with P_t the prefix sum of (x−k),
    * S_t = P_t − min(0, min_{j≤t} P_j) — two stacked running
    * aggregates over ONE window frame, so Spark plans a single
    * shuffle+sort per series and streams the frame. Ordering is made
    * total with a tie column (same rule in the oracle), because CUSUM
    * is order-sensitive by definition.
    *
    * Shape at 100 TB: the per-series scan is inherently sequential —
    * parallelism comes from the NUMBER of series, so key the detector
    * at the granularity you monitor (per entity, per shard), not on a
    * handful of global types; a heavy series is a keySkew read-off
    * away. Values with NULL or non-finite metric (NaN, ±Inf casts to
    * a long diverge across engines and would poison every later S_t)
    * are excluded before the prefix sum; their count is reported.
    * A series whose observations are ALL NULL has no statistic and is
    * absent from the output (nothing was ever observed).
    *
    * Output per series: (groupCol, n, n_excluded, n_alarms,
    * max_s_cents, first_alarm_us — unix micros of the first breach,
    * NULL when the series never alarms). */
  def cusumShift(df: DataFrame, groupCol: String, tsCol: String,
                 tieCol: String, valueCol: String, driftCents: Long,
                 thresholdCents: Long): DataFrame = {
    require(thresholdCents > 0, s"threshold must be > 0")
    val v = col(valueCol).cast("double")
    val finite = v.isNotNull && !isnan(v) &&
      v =!= Double.PositiveInfinity && v =!= Double.NegativeInfinity
    val base = df.select(col(groupCol),
      expr(s"unix_micros($tsCol)").as("_us"), col(tieCol).as("_tie"),
      when(finite, floor(v * 100).cast("long") - driftCents).as("_d"))
    val w = Window.partitionBy(groupCol).orderBy(col("_us"), col("_tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val excluded = base.groupBy(groupCol)
      .agg(sum(when(col("_d").isNull, 1L).otherwise(0L)).as("n_excluded"))
    base.filter(col("_d").isNotNull)
      .withColumn("_p", sum(col("_d")).over(w))
      .withColumn("_s", col("_p") - least(lit(0L), min(col("_p")).over(w)))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(when(col("_s") >= thresholdCents, 1L).otherwise(0L))
          .as("n_alarms"),
        max(col("_s")).as("max_s_cents"),
        min(when(col("_s") >= thresholdCents, col("_us")))
          .as("first_alarm_us"))
      .join(excluded, Seq(groupCol), "left")
      .select(col(groupCol), col("n"),
        coalesce(col("n_excluded"), lit(0L)).as("n_excluded"),
        col("n_alarms"), col("max_s_cents"), col("first_alarm_us"))
  }
}
