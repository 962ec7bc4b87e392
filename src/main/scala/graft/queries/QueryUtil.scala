package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the oracle-checked query surface.
  *
  * Oracle determinism (SURVEY.md §7.4): the driver hash-compares our
  * results against DuckDB, so every floating-point aggregate must be
  * bit-identical across engines. Summing doubles is order-dependent, so
  * money/quantity arithmetic is done in exact DECIMAL and only the final
  * aggregate is cast back to double — both engines then produce the same
  * mathematical value and hence the same IEEE-754 double.
  */
object QueryUtil {
  /** Exact-decimal view of a double column. Scale 3 so 2-decimal money
    * values never land on a rounding halfway point (SURVEY.md §7.4 #5).
    *
    * Evaluates through the native codegen'd [[graft.functions.Dec3]]
    * expression: the value of `cast(c AS decimal(18,3))` by
    * construction (fast integer path outside a guard band around
    * rounding ties, the cast's own BigDecimal semantics inside it)
    * without the per-row Double.toString/BigDecimal allocation chain.
    * It fails exactly where the cast fails under the default ANSI
    * mode: NULL, NaN and ±Infinity give NULL, and a value that
    * overflows decimal(18,3) throws. Dec3PropertySpec pins both. */
  def dec(c: Column): Column = graft.functions.Dec3.column(c)

  /** Decimal literal 1 for `1 - discount` style arithmetic. */
  val decOne: Column = lit(1).cast(DecimalType(18, 3))

  /** UTC timestamp literal (session timezone is fixed to UTC). */
  def ts(s: String): Column = lit(s).cast("timestamp")

  /** Deterministic average: CAST(sum(decimal) AS DOUBLE) / count — both
    * engines divide the same two exact numbers. (Plain avg() differs:
    * Spark returns decimal, DuckDB double.) */
  def avgExact(c: Column): Column = sum(dec(c)).cast("double") / count(lit(1))

  /** The log-linear histogram quantile oracle (DuckDB), shared by q247
    * (batch) and q251 (streaming twin) so the binning rule, rank pick,
    * and lower-bound decode can never drift between the two — ONE
    * definition, mirroring `Sketch.logHistSketch`/`logHistQuantiles`
    * exactly. `table`/`groupExpr`/`valueExpr` are SQL fragments;
    * `outGroupName` names the group column in the result. */
  def sqlLogHistQuantiles(table: String, groupExpr: String,
                          valueExpr: String, outGroupName: String,
                          qs: Seq[Int]): String = {
    val qList = qs.mkString("[", ", ", "]")
    s"""WITH c AS (
           SELECT $groupExpr AS grp,
                  COALESCE(CAST(floor($valueExpr * 100) AS BIGINT), 0)
                    AS cents
           FROM $table),
         b AS (
           SELECT grp,
                  CASE WHEN cents <= 0 THEN 0
                       ELSE length(CAST(cents AS VARCHAR)) END AS e,
                  CASE WHEN cents <= 0 THEN 0
                       WHEN cents < 10 THEN cents
                       ELSE CAST(substr(CAST(cents AS VARCHAR), 1, 2)
                              AS BIGINT) END AS d2
           FROM c),
         h AS (SELECT grp, e, d2, CAST(count(*) AS BIGINT) AS n_bin
               FROM b GROUP BY grp, e, d2),
         cum AS (
           SELECT grp, e, d2,
                  sum(n_bin) OVER (PARTITION BY grp ORDER BY e, d2) AS cum,
                  sum(n_bin) OVER (PARTITION BY grp) AS n
           FROM h),
         qq AS (SELECT unnest($qList) AS q),
         pick AS (
           SELECT c.grp, c.n, qq.q, min(c.e * 100 + c.d2) AS bk
           FROM cum c CROSS JOIN qq
           WHERE c.cum >= ((c.n - 1) * qq.q) // 1000 + 1
           GROUP BY c.grp, c.n, qq.q)
         SELECT grp AS $outGroupName,
                CAST(q AS BIGINT) AS q_permille,
                CAST(n AS BIGINT) AS n,
                CAST(CASE WHEN bk // 100 <= 1 THEN bk % 100
                     ELSE (bk % 100) *
                          CAST(power(10, bk // 100 - 2) AS BIGINT)
                END AS BIGINT) AS est_cents
         FROM pick ORDER BY $outGroupName, q_permille"""
  }
}
