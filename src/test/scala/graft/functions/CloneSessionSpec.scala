package graft.functions

import graft.SparkTestBase
import graft.operators.{Dedup, Layout, TextAnalysis}
import graft.queries.QueryUtil
import org.apache.spark.sql.functions._

/** The native-expression helpers build their Columns without a function
  * registry, so a plan built on a `newSession()` clone — which shares
  * no registered names with the active session — analyzes and returns
  * the reference chains' values. */
class CloneSessionSpec extends SparkTestBase {

  test("a newSession() clone analyzes every native helper, reference values") {
    val clone = spark.newSession()
    val docs = graft.Tables.load(clone, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id").limit(60)
    val text = col("text")
    val x = length(text).cast("double") / 7.0
    val v = transform(slice(split(text, " "), 1, 8), w => length(w).cast("long"))
    val kh = ReferenceChains.md5Prefix64(col("doc_id").cast("string"))
    val ring = Layout.hashRing(8, 16)
    val pairs = Seq(
      "dec" -> (QueryUtil.dec(x), ReferenceChains.dec3(x)),
      "digest64" -> (Dedup.digest64(text), ReferenceChains.md5Prefix64(text)),
      "simHash32" -> (Dedup.simHash32(text), ReferenceChains.simHash32(text)),
      "qdot" -> (Dedup.qdot(v, v), ReferenceChains.qdot(v, v)),
      "charShingles" -> (Dedup.charShingles(text, 5), ReferenceChains.charNgrams(text, 5)),
      "wordShingleMultiset" ->
        (Dedup.wordShingleMultiset(text, 3), ReferenceChains.wordNgrams(text, 3)),
      "ringAssign" ->
        (Layout.ringAssign(kh, ring), ReferenceChains.ringLookup(kh, ring)),
      "fingerprint" ->
        (col("robust_digest"), md5(ReferenceChains.winnow4Md5(text))))
    val frame = docs
      .join(TextAnalysis.fingerprint(docs, "doc_id", "text"), "doc_id")
      .select(pairs.flatMap { case (n, (got, want)) =>
        Seq(got.as(s"${n}_got"), want.as(s"${n}_want")) }: _*)
    assert(frame.sparkSession eq clone)
    val rows = frame.collect()
    assert(rows.length == 60)
    for (r <- rows; i <- pairs.indices)
      assert(r.get(2 * i) == r.get(2 * i + 1), s"${pairs(i)._1}: ${r.get(2 * i)}")
    assert(!clone.catalog.functionExists(SimHash32.name))
  }
}
