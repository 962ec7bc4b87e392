package graft.plans

import graft.SparkTestBase
import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

/** The builder-time registration path must register exactly the same
  * strategy object the runtime path (`experimental.extraStrategies`)
  * uses, so either route plans AsOfJoinPlan identically; and it is the
  * one place graft's SQL function names exist. */
class GraftExtensionsSpec extends SparkTestBase {

  test("GraftExtensions injects the as-of planner strategy") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val strategies =
      org.apache.spark.sql.graftshim.Bridge.plannerStrategies(ext, spark)
    assert(strategies.contains(AsOfJoinStrategy))
  }

  test("each of the nine SQL names resolves on an extension-built session") {
    val names = GraftExtensions.functions.map(_._1.funcName)
    assert(names.sorted == Seq(BottomK.name, CharNgrams.name, Dec3.name,
      Md5Prefix64.name, QDot.name, RingLookup.name, SimHash32.name,
      WordNgrams.name, Winnow4Md5.name).sorted)
    val sql = extSession.sql(
      """SELECT graft_dec3(CAST(12.3456 AS DOUBLE)), graft_md5_prefix64(s),
        |  graft_simhash32(s), graft_winnow4_md5(s),
        |  graft_qdot(array(1L, 2L), array(3L, 4L)),
        |  graft_word_ngrams(s, 2), graft_char_ngrams(s, 3),
        |  graft_ring_lookup(15L, array(10L, 20L), array(1L, 2L))
        |FROM VALUES ('the quick brown fox') AS t(s)""".stripMargin)
      .collect().head.toSeq
    val s = col("s")
    val built = spark.sql("SELECT 'the quick brown fox' AS s").select(
        Dec3.column(lit(12.3456)), Md5Prefix64.column(s), SimHash32.column(s),
        Winnow4Md5.column(s), QDot.column(lit(Array(1L, 2L)), lit(Array(3L, 4L))),
        WordNgrams.column(s, 2), CharNgrams.column(s, 3),
        RingLookup.column(lit(15L), Array(10L, 20L), Array(1L, 2L)))
      .collect().head.toSeq
    assert(sql == built)
    val bottom = extSession.sql(
      "SELECT array_sort(graft_bottom_k(v, 2)) FROM VALUES (3), (1), (2) AS t(v)")
      .collect().head.getSeq[Int](0)
    assert(bottom == Seq(1, 2))
    // the shared session was built without the extensions, and no
    // library call registers a name into it
    names.foreach(n => assert(!spark.catalog.functionExists(n), n))
  }
}
