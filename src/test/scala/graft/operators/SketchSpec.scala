package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** KMV set-operation contracts: the sketch is the set below k, so the
  * intersection estimate must be EXACT there; above k it is an
  * estimator whose error is bounded by the bottom-k sampling rate.
  */
class SketchSpec extends SparkTestBase {

  import spark.implicits._

  test("kmvIntersect is exact when both sides fit in the sketch") {
    // A = {0..9}, B = {5..14} within one group: true overlap 5
    val a = Sketch.kmvSketch((0 until 10).map(i => ("g", i)).toDF("g", "x"),
      Seq("g"), col("x").cast("string"), k = 16)
    val b = Sketch.kmvSketch((5 until 15).map(i => ("g", i)).toDF("g", "x"),
      Seq("g"), col("x").cast("string"), k = 16)
    val est = Sketch.kmvIntersect(a, b, Seq("g"), k = 16)
      .select("est_common").as[Long].head()
    assert(est == 5L)
  }

  test("kmvIntersect estimates a large overlap within sampling error") {
    // |A| = |B| = 800, overlap 500; k = 64 → rel. std ≈ 1/sqrt(62)
    val a = Sketch.kmvSketch((0 until 800).map(i => ("g", i)).toDF("g", "x"),
      Seq("g"), col("x").cast("string"), k = 64)
    val b = Sketch.kmvSketch((300 until 1100).map(i => ("g", i)).toDF("g", "x"),
      Seq("g"), col("x").cast("string"), k = 64)
    val est = Sketch.kmvIntersect(a, b, Seq("g"), k = 64)
      .select("est_common").as[Long].head()
    assert(est > 250L && est < 750L, s"estimate $est too far from 500")
  }

  test("disjoint sketches produce no intersection row") {
    val a = Sketch.kmvSketch((0 until 50).map(i => ("g", i)).toDF("g", "x"),
      Seq("g"), col("x").cast("string"), k = 16)
    val b = Sketch.kmvSketch((1000 until 1050).map(i => ("g", i)).toDF("g", "x"),
      Seq("g"), col("x").cast("string"), k = 16)
    assert(Sketch.kmvIntersect(a, b, Seq("g"), k = 16).count() == 0)
  }

  test("kmvOverlapMatrix: exact in the small regime, full pair domain") {
    // groups A={0..9}, B={5..14}, C={100..104}: all under k → every
    // estimate exact; the A-C and B-C pairs must still REPORT with 0
    val rows = (0 until 10).map(i => ("a", i)) ++
      (5 until 15).map(i => ("b", i)) ++
      (100 until 105).map(i => ("c", i))
    val m = Sketch.kmvOverlapMatrix(rows.toDF("g", "x"), "g",
      col("x").cast("string"), k = 32)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(m.keySet == Set(("a", "b"), ("a", "c"), ("b", "c")))
    assert(m(("a", "b")) == ((10L, 10L, 5L, 333L))) // 5/15 → 333‰
    assert(m(("a", "c")) == ((10L, 5L, 0L, 0L)))
    assert(m(("b", "c")) == ((10L, 5L, 0L, 0L)))
  }

  test("kmvOverlapMatrix estimates a big overlap within sampling error") {
    val rows = (0 until 800).map(i => ("a", i)) ++
      (300 until 1100).map(i => ("b", i))
    val r = Sketch.kmvOverlapMatrix(rows.toDF("g", "x"), "g",
      col("x").cast("string"), k = 64).collect().head
    val (estA, estB, common) = (r.getLong(2), r.getLong(3), r.getLong(4))
    assert(estA > 500L && estA < 1200L)
    assert(estB > 500L && estB < 1200L)
    assert(common > 250L && common < 750L, s"common $common far from 500")
  }

  test("hashSampleQuantiles: mergeable, deterministic, near the truth") {
    val rows = (0 until 5000).map(i => ("g", i.toLong, i.toDouble))
    val df = rows.toDF("g", "id", "x")
    val idStr = col("id").cast("string")
    val est = Sketch.hashSampleQuantiles(df, Seq("g"), idStr, "x",
      k = 512, qs = Seq(0.5)).collect()
    assert(est.length == 1)
    val median = est.head.getDouble(2)
    // a 512-row uniform hash sample of 0..4999: the sample median
    // concentrates within a few hundred of the true 2499.5
    assert(math.abs(median - 2499.5) < 500, s"sample median $median")
    // MERGEABILITY: bottom-k of the union == re-bottom-k of the two
    // halves' bottom-k's — per-slice sketches combine losslessly.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("h")
    def bottomK(d: org.apache.spark.sql.DataFrame) =
      d.select(col("g"), Dedup.digest64(idStr).as("h"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 512).drop("rn")
    val merged = bottomK(df.filter(col("id") % 2 === 0))
      .union(bottomK(df.filter(col("id") % 2 === 1)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 512)
      .select("h").collect().map(_.getLong(0)).toSet
    val whole = bottomK(df).select("h").collect().map(_.getLong(0)).toSet
    assert(merged == whole)
  }

  test("count-min never undercounts and is exact without collisions") {
    // 3 items with very different weights; width 64 over 3 items makes
    // same-row collisions effectively impossible, so est == exact
    val items = Seq.fill(100)("alpha") ++ Seq.fill(10)("beta") ++ Seq("gamma")
    val df = items.toDF("w")
    val sk = Sketch.countMinSketch(df, "w", depth = 4, width = 64)
    val probes = df.groupBy("w").agg(count(lit(1)).as("n_exact"))
    val got = Sketch.countMinLookup(sk, probes, "w", depth = 4, width = 64)
      .select("w", "n_exact", "n_est").as[(String, Long, Long)]
      .collect().map { case (w, ex, est) => w -> ((ex, est)) }.toMap
    assert(got("alpha") == ((100L, 100L)))
    assert(got("beta") == ((10L, 10L)))
    assert(got("gamma") == ((1L, 1L)))
    // absent items read 0 or a collision's mass — never negative
    val miss = Sketch.countMinLookup(sk,
        Seq("absent").toDF("w"), "w", depth = 4, width = 64)
      .select("n_est").as[Long].head()
    assert(miss >= 0L)
    // NULL is not an item (stated): NULL occurrences don't pollute the
    // counters with an unreachable bucket, NULL probes are dropped —
    // the never-undercounts contract can't be silently broken by NULLs
    val withNulls = (items.map(Option(_)) ++ Seq.fill(5)(None)).toDF("w")
    val skN = Sketch.countMinSketch(withNulls, "w", depth = 4, width = 64)
    assert(skN.collect().toSet == sk.collect().toSet)
    assert(Sketch.countMinLookup(skN,
      Seq(Option.empty[String]).toDF("w"), "w", 4, 64).count() == 0L)
  }

  test("count-min sketches merge by summing buckets (linearity)") {
    // tight width FORCES collisions; the property must still hold
    val df = spark.range(500).select((col("id") % 37).cast("string").as("w"))
    val whole = Sketch.countMinSketch(df, "w", depth = 2, width = 8)
    val halves = Sketch.countMinSketch(
        df.filter(col("id") % 2 === 0).select("w"), "w", 2, 8)
      .union(Sketch.countMinSketch(
        df.filter(col("id") % 2 === 1).select("w"), "w", 2, 8))
      .groupBy("j", "bucket").agg(sum("c").as("c"))
    assert(whole.except(halves).isEmpty && halves.except(whole).isEmpty)
    // and every estimate dominates the exact count (never undercounts)
    val probes = df.groupBy("w").agg(count(lit(1)).as("n_exact"))
    val bad = Sketch.countMinLookup(whole, probes, "w", 2, 8)
      .filter(col("n_est") < col("n_exact")).count()
    assert(bad == 0L)
  }

  test("logHist quantiles: lower-bound property and +10% relative error") {
    // 1000 values 1.00 .. 1000.00 — exact q-th quantile is known
    val vals = (1 to 1000).map(i => ("g", i.toDouble)).toDF("g", "v")
    val sk = Sketch.logHistSketch(vals, Seq("g"), "v")
    val qs = Sketch.logHistQuantiles(sk, Seq("g"), Seq(500L, 900L, 990L))
      .collect().map(r => r.getAs[Long]("q_permille") ->
        r.getAs[Long]("est_cents")).toMap
    for ((q, est) <- qs) {
      val exactCents = {
        val rank = ((1000 - 1) * q) / 1000 + 1 // repo rank rule
        rank * 100L // value rank.00 -> cents
      }
      assert(est <= exactCents, s"q=$q est=$est exact=$exactCents")
      assert(exactCents < est + est / 10 + 100,
        s"q=$q est=$est exact=$exactCents — bin wider than 10%")
    }
  }

  test("logHist sketches merge by summing bins: merge == direct") {
    val half1 = (1 to 500).map(i => ("g", i * 1.37)).toDF("g", "v")
    val half2 = (501 to 1000).map(i => ("g", i * 1.37)).toDF("g", "v")
    val all = half1.union(half2)
    val merged = Sketch.logHistQuantiles(
      Sketch.logHistSketch(half1, Seq("g"), "v")
        .union(Sketch.logHistSketch(half2, Seq("g"), "v")),
      Seq("g"), Seq(250L, 500L, 750L))
    val direct = Sketch.logHistQuantiles(
      Sketch.logHistSketch(all, Seq("g"), "v"),
      Seq("g"), Seq(250L, 500L, 750L))
    assert(merged.orderBy("q_permille").collect().map(_.toSeq).toSeq ==
      direct.orderBy("q_permille").collect().map(_.toSeq).toSeq)
  }

  test("logHist: sub-cent and non-positive values keep ranks exact") {
    // 5 zeros/negatives + 5 positives: p500 rank 5 lands in bin (0,0)
    val vals = Seq(-1.0, 0.0, 0.001, 0.009, 0.0, 5.0, 6.0, 7.0, 8.0, 9.0)
      .map(("g", _)).toDF("g", "v")
    val q = Sketch.logHistQuantiles(
      Sketch.logHistSketch(vals, Seq("g"), "v"), Seq("g"), Seq(500L, 1000L))
      .collect().map(r => r.getAs[Long]("q_permille") ->
        (r.getAs[Long]("n"), r.getAs[Long]("est_cents"))).toMap
    assert(q(500L) == ((10L, 0L)))   // rank 5 of 10: still the (0,0) bin
    assert(q(1000L) == ((10L, 900L))) // max: 9.00 -> bin [900,1000)
  }
}
