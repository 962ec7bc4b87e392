package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the r13 expression-shape refactors: the rewrites
  * changed only the evaluation ORDER (zip-fold grams, one-md5 simhash
  * votes), so the oracle can't see a regression in them — these pin
  * value-equality against independent Scala references on randomized
  * inputs instead (fixed seeds — the scalatest/scalacheck bridge is
  * not in the offline artifact cache, same convention as
  * SketchPropertySpec).
  *
  *  - wordShingleMultisetFromTokens (the zip-fold) == naive sliding
  *    window, any token list (incl. empty tokens from repeated
  *    delimiters) and any n in 2..8.
  *  - the reference char-gram chain == code-point sliding window,
  *    incl. surrogate pairs (the per-position substr counts code
  *    points, not UTF-16 units or bytes), and the native charShingles
  *    == its distinct grams in first-seen order.
  *  - simHash32 (single md5 per token, one vote fold) == the per-bit
  *    definition computed in plain Scala.
  */
class ShinglePropertySpec extends SparkTestBase {

  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(13L + i)))

  test("zip-fold word grams equal the sliding window, any tokens, any n") {
    val token = Gen.oneOf("a", "bb", "ccc", "", "dd", "e")
    val gen = for {
      len <- Gen.chooseNum(0, 25)
      ws <- Gen.listOfN(len, token)
      n <- Gen.chooseNum(2, 8)
    } yield (ws, n)
    samples(gen, 40).foreach { case (ws, n) =>
      val expect =
        if (ws.size < n) Seq(ws.mkString(" "))
        else ws.sliding(n).map(_.mkString(" ")).toSeq
      val got = Seq(Tuple1(ws)).toDF("w")
        .select(Dedup.wordShingleMultisetFromTokens(col("w"), n).as("g"))
        .collect().head.getSeq[String](0)
      assert(got == expect, s"n=$n tokens=$ws")
    }
  }

  test("char grams equal the code-point sliding window, incl. surrogates") {
    // 𝄞 is a surrogate pair (2 UTF-16 units, 4 UTF-8 bytes); é and 中
    // are multi-byte single units — the three cases that separate
    // code-point, code-unit, and byte indexing.
    val ch = Gen.oneOf("a", "b", " ", "é", "中", "𝄞")
    val gen = for {
      len <- Gen.chooseNum(0, 30)
      cs <- Gen.listOfN(len, ch)
      n <- Gen.chooseNum(2, 8)
    } yield (cs.mkString, n)
    samples(gen, 40).foreach { case (text, n) =>
      val cps = text.codePoints().toArray.toSeq
        .map(cp => new String(Character.toChars(cp)))
      val expect =
        if (cps.size < n) Seq(text)
        else cps.sliding(n).map(_.mkString).toSeq
      val row = Seq(Tuple1(text)).toDF("t")
        .select(graft.functions.ReferenceChains.charShingleMultiset(col("t"), n),
          Dedup.charShingles(col("t"), n))
        .collect().head
      assert(row.getSeq[String](0) == expect, s"n=$n text=$text")
      assert(row.getSeq[String](1) == expect.distinct, s"n=$n text=$text")
    }
  }

  test("one-md5 simhash equals the per-bit definition, any text") {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map(b => f"${b & 0xff}%02x").mkString
    }
    def reference(text: String): String = {
      // Java split with limit -1 = Spark's split(text, " "): trailing
      // empty tokens are kept, "" yields one empty token.
      val toks = text.split(" ", -1).toSeq
      (0 until 32).map { j =>
        val vote = toks.map(t => if (md5hex(t)(j) >= '8') 1 else -1).sum
        if (vote > 0) "1" else "0"
      }.mkString
    }
    val word = Gen.oneOf("alpha", "beta", "gamma", "", "x", "yy", "中文")
    val gen = for {
      len <- Gen.chooseNum(0, 20)
      ws <- Gen.listOfN(len, word)
    } yield ws.mkString(" ")
    samples(gen, 40).foreach { text =>
      val got = Seq(Tuple1(text)).toDF("t")
        .select(Dedup.simHash32(col("t")).as("h"))
        .collect().head.getString(0)
      assert(got == reference(text), s"text=$text")
    }
  }
}
