package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Semantics pin for the `graft_bottom_k` escape hatch (Spark's
  * CollectTopK reversed — see [[BottomK]]): smallest-k per group,
  * correct across PARTIAL merges (the property the hatch exists for),
  * struct ordering by first field. The SQL-argument checks run on a
  * session built with the graft extensions, the only place the SQL
  * name exists. */
class BottomKSpec extends SparkTestBase {

  test("bottom-k keeps the k smallest per group across partition merges") {
    import spark.implicits._
    // 32 partitions force real partial buffers + merges: each holds at
    // most k = 3, and the merged result must still be the global
    // smallest 3 per group.
    val df = (1 to 100).map(i => (i % 2, 101 - i)).toDF("g", "v")
      .repartition(32)
    val got = df.groupBy("g")
      .agg(array_sort(BottomK.column(col("v"), 3)).as("bottom"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    // g=0: even i → v = 101-i for i in 2,4,..,100 → smallest 1,3,5
    assert(got(0) == Seq(1, 3, 5))
    // g=1: odd i → v = 101-i for i in 1,3,..,99 → smallest 2,4,6
    assert(got(1) == Seq(2, 4, 6))
  }

  test("bottom-k over structs orders by the first field") {
    import spark.implicits._
    val df = Seq((9L, "z"), (1L, "a"), (5L, "m"), (3L, "c"))
      .toDF("id", "tag").repartition(4)
    val got = df.agg(array_sort(BottomK.column(
        struct(col("id"), col("tag")), 2)).as("b"))
      .selectExpr("transform(b, x -> x.id) AS ids")
      .collect().head.getSeq[Long](0)
    assert(got == Seq(1L, 3L))
  }

  test("invalid calls fail by name at analysis time") {
    val ext = extSession
    import ext.implicits._
    val df = Seq(1, 2).toDF("v")
    val arity = intercept[Exception] {
      df.agg(call_function(BottomK.name, col("v"))).collect()
    }
    assert(arity.getMessage.contains("exactly (value, k)"))
    val zero = intercept[Exception] {
      df.agg(call_function(BottomK.name, col("v"), lit(0))).collect()
    }
    assert(zero.getMessage.contains("k must be >= 1"))
    val nonLit = intercept[Exception] {
      df.agg(call_function(BottomK.name, col("v"), col("v"))).collect()
    }
    assert(nonLit.getMessage.contains("foldable integral"))
    val nullK = intercept[Exception] {
      df.agg(call_function(BottomK.name, col("v"),
        lit(null).cast("int"))).collect()
    }
    assert(nullK.getMessage.contains("NULL"))
    val wide = intercept[Exception] {
      df.agg(call_function(BottomK.name, col("v"), lit(1L << 32))).collect()
    }
    assert(wide.getMessage.contains("fit in an Int"))
    // the Column builder checks its Int k before any plan exists
    val built = intercept[IllegalArgumentException](BottomK.column(col("v"), 0))
    assert(built.getMessage.contains("k must be >= 1"))
  }

  test("k accepts any foldable integral expression, not just Int literals") {
    // ADVICE r15: lit(3L), a short literal, and a foldable arithmetic
    // expression are all valid k — the contract is "foldable integral",
    // not "Int literal".
    val ext = extSession
    import ext.implicits._
    val df = Seq(5, 1, 4, 2, 3).toDF("v")
    def bottom(k: org.apache.spark.sql.Column): Seq[Int] =
      df.agg(array_sort(call_function(BottomK.name, col("v"), k)))
        .collect().head.getSeq[Int](0)
    assert(bottom(lit(3L)) == Seq(1, 2, 3))
    assert(bottom(lit(2.toShort)) == Seq(1, 2))
    assert(bottom(lit(1) + lit(1)) == Seq(1, 2))
  }

  test("a group smaller than k returns all of it") {
    import spark.implicits._
    val got = Seq(7, 4).toDF("v")
      .agg(array_sort(BottomK.column(col("v"), 10)))
      .collect().head.getSeq[Int](0)
    assert(got == Seq(4, 7))
  }
}
