package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Correctness of the native QDot expression against the built-in
  * lambda formulation, on both codegen and interpreted paths. */
class QDotSpec extends SparkTestBase {

  test("native graft_qdot equals the lambda dot product") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 0L, 2L), Seq(3L, 9L, -1L)),
      (Seq.empty[Long], Seq.empty[Long])
    ).toDF("a", "b")
    val rows = df.select(
      QDot.column(col("a"), col("b")).as("native"),
      ReferenceChains.qdot(col("a"), col("b")).as("lambda")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(rows.map(_.getLong(0)).toSeq == Seq(32L, -23L, 0L))
  }

  test("graft_qdot on real quantized embeddings matches the operator path") {
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), graft.operators.Dedup.quantize(col("embedding")).as("q"))
    val r = emb.select(
      graft.operators.Dedup.qdot(col("q"), col("q")).as("native"),
      ReferenceChains.qdot(col("q"), col("q")).as("lambda")).collect()
    assert(r.nonEmpty)
    r.foreach(x => assert(x.getLong(0) == x.getLong(1)))
  }

  test("graft_qdot type-checks its arguments, as a Column and in SQL") {
    val e = intercept[Exception] {
      spark.range(1).select(QDot.column(lit(1), lit(2))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"))
    val s = intercept[Exception] {
      extSession.sql("SELECT graft_qdot(1, 2)").collect()
    }
    assert(s.getMessage.toLowerCase.contains("array"))
  }
}
