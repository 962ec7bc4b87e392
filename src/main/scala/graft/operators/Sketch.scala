package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch — the classic
  * bottom-k estimator (Bar-Yossef et al. 2002; the same family behind
  * theta sketches): hash every value to a uniform 60-bit integer, keep
  * the k smallest distinct hashes per group, and estimate
  * |D| ≈ (k-1) · 2^60 / h_(k) from the k-th smallest hash. Exact when
  * the group has fewer than k distinct values (the sketch IS the set).
  *
  * Why it belongs in a 100 TB engine: the sketch is tiny (k longs),
  * MERGEABLE (k smallest of a union = k smallest of the pooled
  * sketches — partial aggregation works; q96 proves merge ≡ direct
  * through the oracle hash), and unlike HyperLogLog it is exactly
  * reproducible from the hash definition alone, so a DuckDB oracle can
  * recompute it bit-for-bit. Spark's own `approx_count_distinct`
  * (HLL++) is the black-box alternative; this is the auditable one.
  *
  * Plan shape: `row_number() <= k` over (group, hash-ascending) plans
  * as WindowGroupLimit — Spark pushes a per-partition top-k BEFORE the
  * shuffle (the q56 pattern), so each map task ships at most k hashes
  * per group: a partial-aggregate-shaped sketch build, never a full
  * distinct materialization across the cluster.
  *
  * Determinism: the hash is the repo-standard md5 60-bit prefix
  * (`Md5Prefix64`, ≡ DuckDB `('0x'||substr(md5(s),1,15))::BIGINT`);
  * the estimate divides exactly-representable doubles ((k-1)·2^60 has
  * a 6-bit mantissa; the cast of h_k is correctly rounded in both
  * engines), then floors to BIGINT — bit-identical cross-engine.
  */
object Sketch {

  /** The sketch itself: per `groupCols`, the (up to) `k` smallest
    * distinct hashes of `valueStr` as (group..., h) rows. Sketches of
    * disjoint (or overlapping) data slices merge by [[kmvEstimate]]
    * over their union — any global bottom-k hash is inside its slice's
    * bottom-k, so merging loses nothing. */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], valueStr: Column,
                k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val g = groupCols.map(col)
    val hashed = df
      .select(g :+ Dedup.digest64(valueStr).as("h"): _*)
      .distinct()
    val w = Window.partitionBy(g: _*).orderBy(col("h"))
    hashed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k) // WindowGroupLimit: pre-shuffle top-k
      .select(g :+ col("h"): _*)
  }

  /** Distinct-count estimate from (a union of) sketches: re-take the
    * k smallest distinct hashes per group and apply the KMV estimator
    * ((k-1)·2^60/h_k, exact count when fewer than k survive). Output:
    * group columns + `est_nd` BIGINT. */
  def kmvEstimate(sketches: DataFrame, groupCols: Seq[String],
                  k: Int): DataFrame = {
    val g = groupCols.map(col)
    val w = Window.partitionBy(g: _*).orderBy(col("h"))
    sketches.distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_kept"),
        max(when(col("rn") === k, col("h"))).as("hk"))
      .select(g :+
        when(col("n_kept") < k, col("n_kept"))
          .otherwise(floor(
            lit((k - 1).toDouble) * lit(1152921504606846976.0) /
              col("hk").cast("double")).cast("long"))
          .as("est_nd"): _*)
  }

  /** Per-`groupCols` KMV estimate of `count(distinct valueStr)` in one
    * pass — [[kmvSketch]] piped into [[kmvEstimate]]. */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valueStr: Column,
                  k: Int): DataFrame =
    kmvEstimate(kmvSketch(df, groupCols, valueStr, k), groupCols, k)

  private val HashSpace = 1152921504606846976L // 2^60

  /** Theta-style INTERSECTION estimate from two KMV sketches (built
    * with the same `k` and hash): per group, θ = the smaller of the
    * two sketches' k-th-smallest hashes (2^60 when a side has fewer
    * than k — that sketch IS its set), and
    * |A∩B| ≈ |{h in both sketches : h < θ}| · 2^60 / θ.
    * Exact when both sides are exact (θ = 2^60 makes the ratio 1).
    *
    * This is the theta-sketch set-operation trick (Dasgupta et al.):
    * below θ both sketches are complete uniform samples of their sets,
    * so the sub-θ intersection scales up by the same inverse sampling
    * rate as any bottom-k estimate. It answers the cross-dataset
    * overlap question ("how many users does corpus A share with B")
    * from two k-long summaries — no shuffle of either corpus, only
    * the sketch-sized equi-join here.
    *
    * Output: group columns + `est_common` BIGINT. */
  def kmvIntersect(a: DataFrame, b: DataFrame, groupCols: Seq[String],
                   k: Int): DataFrame = {
    val g = groupCols.map(col)
    def thresh(s: DataFrame, name: String): DataFrame = {
      val w = Window.partitionBy(g: _*).orderBy(col("h"))
      s.distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .groupBy(g: _*)
        .agg(coalesce(max(when(col("rn") === k, col("h"))),
          lit(HashSpace)).as(name))
    }
    val bounded = a.select(g :+ col("h"): _*).distinct()
      .join(b.select(g :+ col("h"): _*).distinct(),
        groupCols :+ "h")
      .join(broadcast(thresh(a, "ta")), groupCols)
      .join(broadcast(thresh(b, "tb")), groupCols)
      .withColumn("theta", least(col("ta"), col("tb")))
      .filter(col("h") < col("theta"))
    bounded
      .groupBy(g: _*)
      .agg(count(lit(1)).as("n_common"), max("theta").as("theta"))
      .select(g :+
        floor(col("n_common").cast("double") *
          lit(HashSpace.toDouble) / col("theta").cast("double"))
          .cast("long").as("est_common"): _*)
  }

  /** PAIRWISE OVERLAP MATRIX from one KMV sketch per group — the
    * "which of my G corpora overlap, and by how much" dashboard: for
    * every unordered group pair, estimated distinct counts of each
    * side ([[kmvEstimate]]), the theta-style intersection estimate
    * ([[kmvIntersect]]' trick applied within one table), and an
    * integer Jaccard permille
    * `1000·|A∩B| div max(|A|+|B|−|A∩B|, 1)`.
    *
    * Why sketches and not a distinct-value self-join: G corpora of
    * 100 TB each would pay a value-level shuffle per pair — G² corpus
    * passes. Here the ONLY corpus-touching work is the single sketch
    * build (pre-shuffle per-partition top-k, ≤ G·k hashes move);
    * every pairwise statistic is computed on G·k rows. The pair
    * domain is a G²-row broadcast cross join of the per-group
    * thresholds, and pairs sharing no sketch hash still report (with
    * est_common = 0) instead of silently vanishing — the q177
    * full-outer lesson.
    *
    * Returns (ga, gb, est_a, est_b, est_common, jaccard_permille),
    * ga < gb, one row per group pair. Estimates, not exact counts —
    * the k knob trades accuracy like any bottom-k sketch; exact when
    * every group has < k distinct values. */
  def kmvOverlapMatrix(df: DataFrame, groupCol: String, valueStr: Column,
                      k: Int): DataFrame = {
    val sk = kmvSketch(df, Seq(groupCol), valueStr, k)
    val est = kmvEstimate(sk, Seq(groupCol), k)
    val th = sk.groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_n"), max(col("h")).as("_mx"))
      .select(col("_g"),
        when(col("_n") === k, col("_mx")).otherwise(lit(HashSpace))
          .as("_t"))
    val dom = th.select(col("_g").as("ga"), col("_t").as("_ta"))
      .crossJoin(th.select(col("_g").as("gb"), col("_t").as("_tb")))
      .filter(col("ga") < col("gb"))
      .select(col("ga"), col("gb"),
        least(col("_ta"), col("_tb")).as("_theta"))
    val common = sk.select(col(groupCol).as("ga"), col("h"))
      .join(sk.select(col(groupCol).as("gb"), col("h")), "h")
      .filter(col("ga") < col("gb"))
      .join(broadcast(dom), Seq("ga", "gb"))
      .filter(col("h") < col("_theta"))
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("_nc"))
    dom.join(common, Seq("ga", "gb"), "left")
      .withColumn("est_common",
        floor(coalesce(col("_nc"), lit(0L)).cast("double") *
          lit(HashSpace.toDouble) / col("_theta").cast("double"))
          .cast("long"))
      .join(broadcast(est.select(col(groupCol).as("ga"),
        col("est_nd").as("est_a"))), "ga")
      .join(broadcast(est.select(col(groupCol).as("gb"),
        col("est_nd").as("est_b"))), "gb")
      .select(col("ga"), col("gb"), col("est_a"), col("est_b"),
        col("est_common"),
        expr("(1000 * est_common) div " +
          "greatest(est_a + est_b - est_common, 1L)")
          .as("jaccard_permille"))
  }

  /** MERGEABLE QUANTILE SKETCH by bottom-k hash sampling: per group,
    * the `k` rows whose [[graft.functions.Md5Prefix64]] hash of
    * `idStr` is smallest form a uniform deterministic sample (the KMV
    * sample applied to ROWS, not distinct values), and the quantile
    * estimate is the lower quantile of that sample. Mergeable exactly
    * like [[kmvSketch]]: the global bottom-k of a union is inside the
    * union of per-slice bottom-k's, so per-partition/per-day sketches
    * of `k` rows each combine without revisiting data — the bounded-
    * state path where [[Stats.exactQuantiles]]' two phases would
    * re-scan history.
    *
    * Deterministic by construction (hash sample, no RNG): any engine
    * with md5 draws the identical sample, so the ESTIMATE itself is
    * oracle-checkable — the error-vs-k trade is visible, not hidden.
    * Sample ranks use the same lower-quantile rule as
    * [[Stats.exactQuantiles]] (r = ⌊(m−1)q⌋+1) ordered by (x, h) so
    * value ties cannot reorder across engines. `idStr` must be
    * row-unique (duplicated ids collapse to one sample slot).
    * Non-finite values are excluded ([[Stats]] convention).
    *
    * Output: (group..., q, est_value, n_sample). */
  def hashSampleQuantiles(df: DataFrame, groupCols: Seq[String],
                          idStr: Column, valueCol: String, k: Int,
                          qs: Seq[Double]): DataFrame = {
    require(k >= 2, "need k >= 2 sample slots")
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantile fractions must be in [0,1], got $qs")
    val g = groupCols.map(col)
    val base = df
      .select(g :+ Dedup.digest64(idStr).as("h") :+
        col(valueCol).cast("double").as("x"): _*)
      .where(col("x").isNotNull && !isnan(col("x")) &&
        abs(col("x")) < lit(Double.PositiveInfinity))
    val wH = Window.partitionBy(g: _*).orderBy(col("h"))
    // WindowGroupLimit prunes to k rows per group pre-shuffle — the
    // sketch build never sorts a whole group
    val sample = base.withColumn("_rh", row_number().over(wH))
      .filter(col("_rh") <= k)
    val wX = Window.partitionBy(g: _*).orderBy(col("x"), col("h"))
    sample
      .withColumn("n_sample",
        count(lit(1)).over(Window.partitionBy(g: _*)))
      .withColumn("_rx", row_number().over(wX))
      .select(g :+ col("n_sample") :+ col("_rx") :+ col("x") :+
        explode(array(qs.map(lit): _*)).as("q"): _*)
      .filter(col("_rx") ===
        floor((col("n_sample") - 1) * col("q")).cast("long") + 1L)
      .select(g :+ col("q") :+ col("x").as("est_value") :+
        col("n_sample"): _*)
  }

  /** COUNT-MIN SKETCH build (Cormode & Muthukrishnan 2005) — the
    * mergeable POINT-FREQUENCY summary that completes the sketch
    * family: KMV answers "how many distinct", Misra-Gries answers
    * "which are the heaviest", count-min answers "how often does THIS
    * item occur" for any item, from `depth × width` counters
    * regardless of corpus size. Each occurrence of an item increments
    * one bucket per row j (bucket = h_j(item) mod width); a point
    * estimate reads the MINIMUM across rows ([[countMinLookup]]) and
    * NEVER undercounts — collisions only inflate, with
    * P[overcount > 2N/width] ≤ 2^-depth.
    *
    * Why at 100 TB: the only shuffle is `groupBy (j, bucket)` over at
    * most `depth·width` keys with map-side partial sums — the token
    * stream itself never shuffles. Sketches of corpus shards merge by
    * summing buckets (counter arrays are linear), so per-shard builds
    * union + re-aggregate into the global sketch; q96's KMV merge
    * oracle pattern applies verbatim.
    *
    * Determinism: h_j(item) = the repo-standard 60-bit md5 prefix of
    * `"j:item"` mod width — reproducible in any engine, no seeds.
    * `depth·width` is bounded (≤ 2^24) so the sketch always broadcasts.
    *
    * NULL is not an item: NULL occurrences are dropped here and NULL
    * probes are dropped by [[countMinLookup]] (stated — md5(NULL)
    * would land them in a bucket no equi-join can ever read back,
    * silently breaking the never-undercounts contract). Callers who
    * want NULL counted coalesce it to a sentinel first.
    *
    * Input: one row per item OCCURRENCE. Output: (j, bucket, c) —
    * at most depth·width rows. */
  def countMinSketch(items: DataFrame, itemCol: String, depth: Int,
                     width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2 && depth.toLong * width <= (1 << 24),
      s"depth*width must stay broadcastable (<= 2^24), got $depth*$width")
    items
      .filter(col(itemCol).isNotNull)
      .select(col(itemCol).as("_i"),
        explode(array((0 until depth).map(lit): _*)).as("j"))
      .select(col("j"),
        (Dedup.digest64(
          concat(col("j").cast("string"), lit(":"), col("_i"))) % width)
          .as("bucket"))
      .groupBy("j", "bucket")
      .agg(count(lit(1)).as("c"))
  }

  /** Point-frequency estimates from a [[countMinSketch]]: for each
    * probe item, est = min over j of its bucket's counter (0 when a
    * bucket was never touched — only possible for items absent from
    * the sketched stream). The probe side crosses with the depth
    * literals and joins the BROADCAST sketch — probing any number of
    * items costs one broadcast of the bounded counter table, nothing
    * of the corpus. NULL probes are dropped ([[countMinSketch]]'s
    * NULL-is-not-an-item contract). Output: probes' columns +
    * `n_est`. */
  def countMinLookup(sketch: DataFrame, probes: DataFrame, itemCol: String,
                     depth: Int, width: Int): DataFrame = {
    val out = probes.columns
    probes
      .filter(col(itemCol).isNotNull)
      .withColumn("j", explode(array((0 until depth).map(lit): _*)))
      .withColumn("bucket",
        Dedup.digest64(
          concat(col("j").cast("string"), lit(":"), col(itemCol))) % width)
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(out.map(col).toIndexedSeq: _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("n_est"))
  }

  // ------------------------------------------------------------------
  // Log-linear histogram quantile sketch (the DDSketch shape)
  // ------------------------------------------------------------------

  /** LOG-LINEAR HISTOGRAM SKETCH of a positive numeric column — the
    * mergeable quantile path (DDSketch/HDR-histogram family) that
    * complements the repo's EXACT two-phase quantiles (q63): exact
    * ranks need a full sort-shuffle per query; this sketch is one
    * combinable groupBy whose state is ≤ ~90 bins per decade per
    * group, so at 100 TB the quantile table is a partial aggregate
    * plus a broadcast-sized reduce, and sketches of data slices merge
    * by summing bin counts (q247's oracle proves merge ≡ direct).
    *
    * Binning is a FIXED DETERMINISTIC RULE, not a data-adaptive one,
    * which is what makes it engine-portable: value → integer cents
    * c = floor(v·100); bin = (e, d2) where e = decimal digit count of
    * c and d2 = its first TWO digits (c itself when c < 10). A bin
    * spans [d2·10^(e-2), (d2+1)·10^(e-2)) cents — relative width
    * ≤ 1/10, so any quantile estimate is within +10% of the true
    * value (and never above it: the estimate is the bin's LOWER
    * bound). NULL, non-positive, and sub-cent values all land in bin
    * (0,0) with estimate 0 — kept, not dropped, so ranks stay exact
    * (the intended domain is positive measures: prices, latencies,
    * sizes; a NULL that silently formed its own NULL-keyed bin would
    * sort differently across engines — coalesced instead).
    *
    * Output: (groupCols..., e, d2, c) — the sketch rows themselves;
    * feed (a union of) them to [[logHistQuantiles]]. */
  def logHistSketch(df: DataFrame, groupCols: Seq[String],
                    valueCol: String): DataFrame = {
    val g = groupCols.map(col)
    val cents = coalesce(
      floor(col(valueCol).cast("double") * 100).cast("long"), lit(0L))
    val cs = col("_c").cast("string")
    df.select(g :+ cents.as("_c"): _*)
      .select(g ++ Seq(
        when(col("_c") <= 0, lit(0L)).otherwise(length(cs).cast("long"))
          .as("e"),
        when(col("_c") <= 0, lit(0L))
          .when(col("_c") < 10, col("_c"))
          .otherwise(substring(cs, 1, 2).cast("long")).as("d2")): _*)
      .groupBy((g ++ Seq(col("e"), col("d2"))): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** Quantile estimates from (a union of) [[logHistSketch]] rows:
    * per group and q‰, the lower bound (in cents) of the bin holding
    * rank `(n−1)·q div 1000 + 1` — the repo's exact-quantile rank
    * rule, so at 1000 bins-per-value this degenerates to the exact
    * answer. Bin order is (e, d2) ascending = numeric ascending (more
    * digits ⇒ strictly larger), so the pick is a cumulative-count
    * window over the tiny per-group bin set, then one min(struct)
    * per (group, q). The 10^(e−2) scale factor is exact in both
    * engines for e ≤ 16 (double powers of ten are exact to 10^15 and
    * the product is computed in DECIMAL) — cents beyond that exceed
    * BIGINT anyway. Output: (groupCols..., q_permille, n, est_cents),
    * ordered by the caller. */
  def logHistQuantiles(hist: DataFrame, groupCols: Seq[String],
                       qsPermille: Seq[Long]): DataFrame = {
    require(qsPermille.nonEmpty && qsPermille.forall(q => q >= 0 && q <= 1000),
      s"quantiles must be permille in [0,1000], got $qsPermille")
    val g = groupCols.map(col)
    // re-sum: callers may hand a UNION of slice sketches (mergeability)
    val merged = hist.groupBy((g ++ Seq(col("e"), col("d2"))): _*)
      .agg(sum(col("c")).as("c"))
    val w = Window.partitionBy(g: _*).orderBy(col("e"), col("d2"))
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val cum = merged
      .withColumn("cum", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(wAll))
    cum
      .withColumn("q_permille",
        explode(array(qsPermille.map(lit): _*)))
      // integer rank arithmetic (Column `/` is double division)
      .filter(col("cum") >= expr("((n - 1) * q_permille) div 1000 + 1"))
      .groupBy((g ++ Seq(col("q_permille"), col("n"))): _*)
      .agg(min(struct(col("e"), col("d2"))).as("_b"))
      .select(g ++ Seq(col("q_permille"), col("n"),
        when(col("_b.e") <= 1, col("_b.d2")).otherwise(
          (col("_b.d2") * pow(lit(10.0), col("_b.e") - 2)
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("long")).as("est_cents")): _*)
  }
}
