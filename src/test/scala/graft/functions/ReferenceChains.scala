package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.Dedup

/** The built-in Spark chains graft's native expressions replace — the
  * forms the DuckDB oracles mirror. The property specs compare each
  * native expression against its chain, row for row. */
object ReferenceChains {

  /** [[Dec3]]: the cast itself. */
  def dec3(x: Column): Column = x.cast(DecimalType(18, 3))

  /** [[Md5Prefix64]]: the first 15 md5 hex digits as a long. */
  def md5Prefix64(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** [[WordNgrams]]: the zip-fold over the space-split tokens. */
  def wordNgrams(text: Column, n: Int): Column =
    Dedup.wordShingleMultisetFromTokens(split(text, " "), n)

  /** Character n-grams with duplicates: one `substr` per position
    * 1..max(L-n+1, 1). */
  def charShingleMultiset(text: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n)))

  /** [[CharNgrams]]: the distinct grams, first occurrence first. */
  def charNgrams(text: Column, n: Int): Column =
    array_distinct(charShingleMultiset(text, n))

  /** [[Winnow4Md5]]: the 4 smallest md5 hex digests of the distinct
    * char 8-grams, ascending, '|'-joined. */
  def winnow4Md5(text: Column): Column =
    concat_ws("|", slice(array_sort(transform(charNgrams(text, 8), g => md5(g))), 1, 4))

  /** [[SimHash32]]: ONE md5 per token, its 32 hex digits voted in a
    * single fold (bit j of a token is hex digit j ≥ '8'), sign-folded
    * to a '0'/'1' string. `slice(…, 1, 32)` pins the 32-bit width on
    * any engine whose empty-regex split keeps a trailing empty element
    * (Spark 4.1.2 already drops it, SPARK-40194). */
  def simHash32(text: Column): Column = {
    val votes = aggregate(split(text, " "), array_repeat(lit(0), 32),
      (acc, w) => zip_with(acc,
        transform(slice(split(md5(w), ""), 1, 32), c =>
          when(c >= "8", lit(1)).otherwise(lit(-1))),
        _ + _))
    concat_ws("", transform(votes, v => when(v > 0, "1").otherwise("0")))
  }

  /** [[QDot]]: the lambda fold over the element-wise products. */
  def qdot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** [[RingLookup]]: the argmin definition it replaced — the shard of
    * minimum (vh − kh) mod 2^60 over the ring. */
  def ringLookup(keyHash: Column, ring: Seq[(Long, Int)]): Column = {
    val arr = array(ring.map { case (h, s) =>
      struct(pmod(lit(h) - keyHash, lit(graft.operators.Layout.RingModulus)).as("d"),
        lit(s.toLong).as("s"))
    }: _*)
    array_min(arr).getField("s")
  }
}
