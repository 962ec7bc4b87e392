package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property pin for corrMatrix's r21 decimal refactor (VERDICT r21
  * what's-wrong #3): the product moments now accumulate as
  * d4(x)·d4(y) (Spark types the product decimal at scale 6 under
  * precision-overflow adjustment) where they used to accumulate as
  * d4(x·y) at scale 4. The two forms are equal rationals ONLY when
  * every pairwise product lies exactly on the 4-decimal grid — true
  * for the 2-decimal money/quantity inputs corrMatrix documents as
  * its precondition, and false in general (inputs with finer
  * decimals have 5-6-decimal products that scale 4 rounds). This
  * spec pins both sides of that boundary on randomized inputs, so a
  * future fixture change can't silently diverge the two forms:
  *
  *  - on the 2-decimal grid the decimal sums are equal rationals and
  *    their double casts are BITWISE equal;
  *  - a counterexample off the grid (4-decimal inputs) makes the
  *    forms differ, demonstrating the precondition is load-bearing.
  */
class CorrDecimalPropertySpec extends SparkTestBase {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(41L + i)))

  private def d4(c: org.apache.spark.sql.Column) =
    c.cast(DecimalType(38, 4))

  /** Both moment forms over one (x, y) column pair, as
    * (scale-8 BigDecimal, scale-4 BigDecimal, double-cast-of-new,
    * double-cast-of-old). */
  private def bothForms(rows: Seq[(Double, Double)])
      : (BigDecimal, BigDecimal, Double, Double) = {
    val df = rows.toDF("x", "y")
    val r = df.agg(
      sum(d4(col("x")) * d4(col("y"))).as("p_new"),
      sum(d4(col("x") * col("y"))).as("p_old"),
      sum(d4(col("x")) * d4(col("y"))).cast("double").as("d_new"),
      sum(d4(col("x") * col("y"))).cast("double").as("d_old"))
      .collect()(0)
    (BigDecimal(r.getDecimal(0)), BigDecimal(r.getDecimal(1)),
      r.getDouble(2), r.getDouble(3))
  }

  test("2-decimal-grid inputs: scale-6 product sums equal the scale-4 " +
      "form as rationals and bitwise as doubles") {
    // money-like magnitudes, exactly 2 decimals — the lineitem shape
    val cents = Gen.chooseNum(-9999999L, 9999999L)
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      xs <- Gen.listOfN(n, cents)
      ys <- Gen.listOfN(n, cents)
    } yield xs.zip(ys).map { case (a, b) => (a / 100.0, b / 100.0) }
    samples(gen, 30).foreach { rows =>
      val (pNew, pOld, dNew, dOld) = bothForms(rows)
      assert(pNew == pOld,
        s"rational sums diverged on 2-decimal inputs: $pNew vs $pOld")
      assert(java.lang.Double.doubleToRawLongBits(dNew) ==
        java.lang.Double.doubleToRawLongBits(dOld),
        s"double casts diverged on 2-decimal inputs: $dNew vs $dOld")
    }
  }

  test("the precondition is load-bearing: genuine 4-decimal inputs " +
      "diverge the two forms") {
    // 0.001 * 0.003 = 3e-6: representable in the new form (Spark caps
    // the decimal(38,4)×decimal(38,4) product at scale 6 under
    // precision-overflow adjustment), rounds to 0 at the old scale 4
    val (pNew, pOld, _, _) =
      bothForms(Seq((0.001, 0.003)))
    assert(pNew != pOld,
      "expected the scale-6 and scale-4 forms to differ off the " +
        s"2-decimal grid, both were $pNew — the spec's boundary " +
        "example no longer demonstrates the precondition")
  }
}
