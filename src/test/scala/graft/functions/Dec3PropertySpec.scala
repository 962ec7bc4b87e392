package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Bit-identity pin for the native [[Dec3]] fast cast against the
  * built-in `cast(double AS decimal(18,3))` it replaces in
  * QueryUtil.dec — on the money domain AND on the adversarial
  * boundaries the fast path's guard band exists for:
  *
  *  - random 2-decimal money values (the production domain),
  *  - exact .0005-style rounding ties (k/2000 — the shortest-repr
  *    half-up subtlety; these must route through the slow path),
  *  - values adjacent to ties (k/2000 ± ulp),
  *  - random finite doubles across magnitudes up to the decimal(18,3)
  *    range, where the fast/slow magnitude split sits,
  *  - zero, negative zero, and sign symmetry,
  *  - the failure contract under the default ANSI mode: NULL for NaN
  *    and ±Infinity, an error on overflow — exactly the cast's.
  *
  * Every comparison runs twice: over a local relation (the optimizer
  * folds the projection, so Dec3 evaluates interpreted) and behind a
  * repartition (whole-stage codegen).
  */
class Dec3PropertySpec extends SparkTestBase {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(97L + i)))

  private def bothPaths(xs: Seq[java.lang.Double]): Seq[DataFrame] = {
    val df = xs.toDF("x")
    Seq(df, df.repartition(2))
  }

  private def assertMatchesCast(xs: Seq[Double], tag: String): Unit =
    bothPaths(xs.map(Double.box)).foreach { df =>
      val bad = df.select(col("x"),
          Dec3.column(col("x")).as("fast"),
          ReferenceChains.dec3(col("x")).as("ref"))
        .filter(not(col("fast") <=> col("ref")))
        .collect()
      assert(bad.isEmpty,
        s"$tag: native dec3 diverged from cast on " +
          bad.take(5).map(r => s"${r.getDouble(0)} -> ${r.get(1)} vs " +
            s"${r.get(2)}").mkString("; "))
    }

  test("money domain: 2-decimal values match the cast bitwise") {
    val cents = Gen.chooseNum(-999999999L, 999999999L)
    assertMatchesCast(samples(cents, 4000).map(_ / 100.0), "money")
  }

  test("rounding ties k/2000 (and neighbors) match the cast") {
    val k = Gen.chooseNum(-2000000L, 2000000L)
    val ties = samples(k, 2000).map(_ / 2000.0)
    val neighbors = ties.flatMap(t =>
      Seq(Math.nextUp(t), Math.nextDown(t)))
    assertMatchesCast(ties ++ neighbors, "ties")
  }

  test("magnitude sweep across the fast/slow split matches the cast") {
    val gen = for {
      m <- Gen.chooseNum(-1000000L, 1000000L)
      e <- Gen.chooseNum(-6, 8)
    } yield m * math.pow(10.0, e)
    val xs = samples(gen, 3000).filter(x => math.abs(x) < 9.99e14)
    assertMatchesCast(xs ++ Seq(0.0, -0.0, 1e-9, -1e-9, 9.994e11,
      -9.994e11, 1.0000004e12, -1.0000004e12), "magnitudes")
  }

  test("ANSI-independent null passthrough") {
    bothPaths(Seq[java.lang.Double](null, 1.5)).foreach { df =>
      val out = df.select(Dec3.column(col("x"))).collect()
      val vals = out.map(r => Option(r.getDecimal(0)).map(_.toPlainString))
      assert(vals.sorted.toSeq == Seq(None, Some("1.500")))
    }
  }

  test("NaN and infinities yield NULL, exactly as the cast does") {
    assertMatchesCast(Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.25), "non-finite")
    bothPaths(Seq(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity).map(Double.box)).foreach { df =>
      assert(df.select(Dec3.column(col("x")).as("d"))
        .filter(col("d").isNull).count() == 3)
    }
  }

  test("overflow of decimal(18,3) fails, as the cast does") {
    for (x <- Seq(1e20, -1e20, 1e15); df <- bothPaths(Seq(Double.box(x)))) {
      intercept[Exception](df.select(ReferenceChains.dec3(col("x"))).collect())
      val e = intercept[Exception](df.select(Dec3.column(col("x"))).collect())
      assert(e.getMessage.contains("overflows decimal(18,3)"), e.getMessage)
    }
  }
}
