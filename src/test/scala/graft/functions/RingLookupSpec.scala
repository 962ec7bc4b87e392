package graft.functions

import graft.SparkTestBase
import graft.operators.Layout
import org.apache.spark.sql.functions._

/** The binary-search ring lookup must agree exactly with the argmin
  * definition it replaces: shard of minimum (vh − kh) mod 2^60 over a
  * sorted, distinct ring. Any divergence silently breaks q177's hash
  * compare. */
class RingLookupSpec extends SparkTestBase {

  import spark.implicits._

  test("successor semantics: exact hit, between, and wrap-around") {
    val ring = Seq((10L, 2), (20L, 0), (300L, 1))  // sorted by position
    val pos = ring.map(_._1).toArray
    val sh = ring.map(_._2.toLong).toArray
    val cases = Seq(
      0L -> 2L,     // below all → first vnode
      10L -> 2L,    // exact hit counts (distance 0)
      11L -> 0L,    // next position up
      20L -> 0L,
      21L -> 1L,
      300L -> 1L,
      301L -> 2L)   // above all → wraps to index 0
    val got = cases.map(_._1).toDF("kh")
      .select(col("kh"), RingLookup.column(col("kh"), pos, sh)
        .as("shard"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (k, want) => assert(got(k) == want, s"kh=$k") }
  }

  test("matches the argmin definition on real md5 hashes, both rings") {
    val keys = spark.range(2000).select(
      expr("cast(conv(substring(md5(cast(id as string)), 1, 15), 16, 10) as bigint)")
        .as("kh"))
    for (shards <- Seq(8, 9); vnodes <- Seq(16)) {
      val ring = Layout.hashRing(shards, vnodes)
      val diff = keys.select(
        Layout.ringAssign(col("kh"), ring).as("fast"),
        ReferenceChains.ringLookup(col("kh"), ring).as("want"))
        .filter(col("fast") =!= col("want"))
      assert(diff.count() == 0, s"shards=$shards")
    }
  }

  test("interpreted path agrees with codegen") {
    val ring = Layout.hashRing(5, 8)
    val pos = ring.map(_._1).toArray
    val sh = ring.map(_._2.toLong).toArray
    val posAd = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(pos)
    val shAd = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(sh)
    // direct helper calls (the interpreted/nullSafeEval path)
    def slow(kh: Long): Long = {
      val m = Layout.RingModulus
      ring.map { case (vh, s) => (((vh - kh) % m + m) % m, s.toLong) }.min._2
    }
    // 60-bit-domain keys (the contract) match the argmin exactly,
    // including the domain edges and positions themselves
    val khs = Seq(0L, 1L, pos.min, pos.max, pos.max + 1,
      Layout.RingModulus - 1) ++
      (0L until 500L).map(i => (i * 2305843009213693951L) & (Layout.RingModulus - 1))
    khs.foreach { kh =>
      assert(RingLookup.lookup(kh, posAd, shAd) == slow(kh), s"kh=$kh")
    }
  }
}
