package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Bit-identity pins for the r21 native text-hash expressions against
  * the built-in chains they replace (the forms the DuckDB oracles
  * mirror, kept in [[ReferenceChains]]): [[SimHash32]], [[Winnow4Md5]],
  * [[WordNgrams]] and [[CharNgrams]] — over the
  * edge fixtures that exercise every branch (empty text, single char,
  * consecutive/leading/trailing spaces, short-of-one-gram texts,
  * duplicate grams, and multi-byte chars for the generic path). */
class NativeTextHashSpec extends SparkTestBase {

  private val fixtures = Seq(
    "",
    " ",
    "  ",
    "a",
    "abcdefg",            // 7 chars: single short gram
    "abcdefgh",           // exactly one 8-gram
    "abcdefghi",          // two 8-grams
    "the quick brown fox jumps over the lazy dog",
    "aaaaaaaaaaaaaaaaaaaa", // all grams identical (dedupe path)
    "ab ab ab ab",        // repeated tokens
    " leading and  double  spaces ",
    "café naïve résumé touché déjà vu encore une fois", // multi-byte chars
    "éèêëàâäôöû", // all multi-byte
    "mixed ascii and café content here with more than eight"
  )

  test("native simhash32 is bit-identical to the declarative chain") {
    import spark.implicits._
    val df = fixtures.toDF("text")
    val diff = df.select(
        SimHash32.column(col("text")).as("native"),
        ReferenceChains.simHash32(col("text")).as("decl"))
      .filter(col("native") =!= col("decl"))
    assert(diff.isEmpty, diff.collect().mkString("; "))
    // and a null text yields "" — the declarative chain's value
    // (concat_ws skips the null vote array; ADVICE r21)
    val n = Seq[Option[String]](None).toDF("text")
      .select(SimHash32.column(col("text"))).collect()
    assert(n.head.getString(0) == "")
  }

  test("native winnow4 is bit-identical to the declarative chain") {
    import spark.implicits._
    val decl = ReferenceChains.winnow4Md5(col("text"))
    val df = fixtures.toDF("text")
    val diff = df.select(
        Winnow4Md5.column(col("text")).as("native"),
        decl.as("decl"))
      .filter(col("native") =!= col("decl"))
    assert(diff.isEmpty, diff.collect().mkString("; "))
    // null text yields "" — the declarative chain's value (ADVICE r21)
    val n = Seq[Option[String]](None).toDF("text")
      .select(Winnow4Md5.column(col("text"))).collect()
    assert(n.head.getString(0) == "")
  }

  test("native word ngrams are bit-identical to the zip-fold chain") {
    import spark.implicits._
    val df = fixtures.toDF("text")
    for (n <- Seq(2, 3, 8)) {
      val diff = df.select(
          WordNgrams.column(col("text"), n).as("native"),
          ReferenceChains.wordNgrams(col("text"), n)
            .as("decl"))
        .filter(not(col("native") <=> col("decl")))
      assert(diff.isEmpty, s"n=$n: " + diff.collect().mkString("; "))
    }
    val nu = Seq[Option[String]](None).toDF("text")
      .select(WordNgrams.column(col("text"), 2)).collect()
    assert(nu.head.isNullAt(0))
  }

  test("native word ngrams agree on the documents corpus") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    for (n <- Seq(2, 8)) {
      val diff = docs.select(
          WordNgrams.column(col("text"), n).as("native"),
          ReferenceChains.wordNgrams(col("text"), n)
            .as("decl"))
        .filter(not(col("native") <=> col("decl")))
      assert(diff.isEmpty, s"n=$n")
    }
  }

  test("native char ngrams are bit-identical to the distinct chain") {
    import spark.implicits._
    val df = fixtures.toDF("text")
    for (n <- Seq(3, 5, 8)) {
      val diff = df.select(
          CharNgrams.column(col("text"), n).as("native"),
          ReferenceChains.charNgrams(col("text"), n)
            .as("decl"))
        .filter(not(col("native") <=> col("decl")))
      assert(diff.isEmpty, s"n=$n: " + diff.collect().mkString("; "))
    }
    val nu = Seq[Option[String]](None).toDF("text")
      .select(CharNgrams.column(col("text"), 5)).collect()
    assert(nu.head.isNullAt(0))
  }

  test("native char ngrams agree on the documents corpus") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
        CharNgrams.column(col("text"), 5).as("native"),
        ReferenceChains.charNgrams(col("text"), 5)
          .as("decl"))
      .filter(not(col("native") <=> col("decl")))
    assert(diff.isEmpty)
  }

  test("native forms agree on the documents fixture corpus") {
    // the real corpus shape (sf0.001): long texts, repeated shingles
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val decl = ReferenceChains.winnow4Md5(col("text"))
    // null-SAFE compare (ADVICE r21): =!= would silently DROP any row
    // where one side is NULL — exactly the known native-vs-declarative
    // divergence mode this pin exists to catch.
    val diff = docs.select(
        SimHash32.column(col("text")).as("sn"),
        ReferenceChains.simHash32(col("text")).as("sd"),
        Winnow4Md5.column(col("text")).as("wn"),
        decl.as("wd"))
      .filter(not(col("sn") <=> col("sd")) || not(col("wn") <=> col("wd")))
    assert(diff.isEmpty)
  }

  test("null text: native simhash/winnow match the declarative chains") {
    import spark.implicits._
    val decl = ReferenceChains.winnow4Md5(col("text"))
    val rows = Seq[Option[String]](None, Some(""), Some("a b"))
      .toDF("text")
      .select(
        SimHash32.column(col("text")).as("sn"),
        ReferenceChains.simHash32(col("text")).as("sd"),
        Winnow4Md5.column(col("text")).as("wn"),
        decl.as("wd"))
    val diff = rows
      .filter(not(col("sn") <=> col("sd")) || not(col("wn") <=> col("wd")))
      .collect()
    assert(diff.isEmpty, diff.mkString("; "))
    // and the shared value for a NULL text is the chain's "" (so
    // robust_digest = md5('') on a nullable column, not NULL)
    val nu = Seq[Option[String]](None).toDF("text")
      .select(SimHash32.column(col("text")),
        Winnow4Md5.column(col("text"))).collect().head
    assert(nu.getString(0) == "" && nu.getString(1) == "")
  }
}
