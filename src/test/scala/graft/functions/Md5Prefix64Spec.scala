package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The native digest-prefix expression must be bit-identical to the
  * declarative chain it replaces — the oracle mirrors the chain, so any
  * divergence would silently break every LSH query's hash compare. */
class Md5Prefix64Spec extends SparkTestBase {

  import spark.implicits._

  private def chain = ReferenceChains.md5Prefix64 _

  test("matches conv(substring(md5)) on ascii, unicode, empty, long strings") {
    val inputs = Seq("", "a", "hello world", "naïve — ünïcodé ✓",
      "x" * 10000, "tab\tnewline\nquote'", "0123456789abcdef")
    val df = inputs.toDF("s")
      .select(chain(col("s")).as("want"),
        Md5Prefix64.column(col("s")).as("got"))
    df.collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("matches on a corpus sample through both eval paths") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("s")).limit(5000)
    // codegen path (projection)
    val diff = docs
      .select(chain(col("s")).as("want"),
        Md5Prefix64.column(col("s")).as("got"))
      .filter(col("want") =!= col("got")).count()
    assert(diff == 0)
    // interpreted path (expression.eval)
    val e = Md5Prefix64(org.apache.spark.sql.catalyst.expressions.Literal("spark"))
    val viaChain = spark.range(1).select(chain(lit("spark"))).head().getLong(0)
    assert(e.eval(null) == viaChain)
  }

  test("null input yields null") {
    val r = spark.range(1)
      .select(Md5Prefix64.column(lit(null).cast("string")).as("h"))
      .head()
    assert(r.isNullAt(0))
  }
}
