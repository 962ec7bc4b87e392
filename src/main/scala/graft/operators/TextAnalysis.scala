package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation (pipeline
  * extension; builder brief): per-document statistics, quality scoring,
  * heuristic language ID, regex tokenization, and content
  * fingerprinting.
  *
  * All narrow projections over codegen'd built-ins — zero shuffles;
  * at 100 TB these run scan-side at parquet read throughput. Double
  * arithmetic only ever divides/combines exact integers, so results are
  * engine-deterministic.
  */
object TextAnalysis {

  /** Per-language marker wordlists for the heuristic language ID. Tiny
    * on purpose: broadcast as literals into the plan (a real pipeline
    * would broadcast a larger dictionary). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "los", "de", "y", "es"))

  private def toks(text: Column): Column = split(text, " ")

  /** One explode-barrier over the token split (DESIGN §5): these
    * projections reference the array many times (each `nTok` is its
    * own `size(split(...))` after CollapseProject inlining), so the
    * split runs once per REFERENCE unless materialized. Same rows,
    * same nullability (a NULL text explodes to one NULL array row). */
  private def withToks(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    df.select(col(idCol), explode(array(toks(col(textCol)))).as("_t"))

  /** Document statistics: token count, distinct-token count, type-token
    * ratio, mean token length, stopword ratio. */
  def stats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col("_t")
    val stop = Seq("the", "a", "of", "and", "in", "is")
    val nTok = size(t)
    withToks(df, idCol, textCol).select(
      col(idCol),
      nTok.cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_types"),
      (size(array_distinct(t)).cast("double") / nTok).as("type_token_ratio"),
      (aggregate(t, lit(0L), (acc, w) => acc + length(w)).cast("double") / nTok)
        .as("avg_token_len"),
      (size(filter(t, w => w.isin(stop: _*))).cast("double") / nTok)
        .as("stopword_ratio"))
  }

  /** Composite quality score in [0,1]: balanced length, lexical
    * diversity, and a bounded stopword share — the usual cheap pre-LM
    * filters. Deterministic double arithmetic over exact integers. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    qualityWithTokenCount(df, idCol, textCol)
      .select(col(idCol), col("quality"))

  /** Token count + quality score in one projection — for pipelines that
    * need both ([[Curation]]): one pass over the token array instead of
    * two joined subtrees re-reading the input. */
  def qualityWithTokenCount(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col("_t")
    val nTok = size(t).cast("double")
    val ttr = size(array_distinct(t)).cast("double") / nTok
    val stop = Seq("the", "a", "of", "and", "in", "is")
    val stopR = size(filter(t, w => w.isin(stop: _*))).cast("double") / nTok
    val lenF = least(nTok / lit(64.0), lit(1.0))
    withToks(df, idCol, textCol).select(col(idCol),
      size(t).cast("long").as("n_tokens"),
      (lenF * lit(0.4) + ttr * lit(0.4) + least(stopR * lit(4.0), lit(1.0)) * lit(0.2))
        .as("quality"))
  }

  /** Heuristic language ID: argmax of marker-word hits per language;
    * 'und' (undetermined) when no list scores ≥ 1 hit. Ties break in
    * [[langMarkers]] declaration order. */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scores = langScores(df, idCol, textCol)
    val best = langMarkers.map(_._1).tail
      .foldLeft((lit(langMarkers.head._1),
        col("_sc").getField(langMarkers.head._1))) {
        case ((bl, bs), lang) =>
          val s = col("_sc").getField(lang)
          (when(s > bs, lang).otherwise(bl), when(s > bs, s).otherwise(bs))
      }
    scores.select(col(idCol),
      when(best._2 >= 1, best._1).otherwise("und").as("predicted_lang"),
      best._2.cast("long").as("marker_hits"))
  }

  /** Per-language marker-hit counts materialized ONCE behind an
    * explode-barrier (DESIGN §5). The argmax folds below duplicate
    * each score reference exponentially in the when-tree (score i
    * appears 2^(k−i) times after the fold), and CollapseProject would
    * inline the filter-over-split lambda — ~100 re-tokenizations per
    * document — into every copy. Materialized, a duplicated reference
    * is a struct-field read. */
  private def langScores(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val t = toks(col(textCol))
    df.select(col(idCol),
      explode(array(struct(langMarkers.map { case (lang, words) =>
        size(filter(t, w => w.isin(words: _*))).cast("long").as(lang)
      }: _*))).as("_sc"))
  }

  /** LANGUAGE-MIXTURE / CODE-SWITCHING report: per document, the top
    * TWO languages by marker-word hits and their ratio — [[languageId]]
    * keeps only the argmax, but a multilingual curation pipeline needs
    * to see the runner-up: a document where `mix_permille` is high is
    * code-switched (or boilerplate-wrapped translation), which routing,
    * dedup, and tokenizer-selection all treat differently from a clean
    * monolingual page.
    *
    * Same marker lists and tie rule as [[languageId]] ([[langMarkers]]
    * declaration order; strictly-greater replaces, so the earliest
    * language wins ties at BOTH ranks). Languages with zero hits report
    * as 'und'; `mix_permille = 1000·second div top` (0 when top is 0)
    * — all-integer, engine-exact. Pure per-row projection: zero
    * shuffles, scan throughput at any scale. */
  def languageMixture(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Same [[langScores]] barrier as languageId: the 4-way top-2 fold
    // duplicates score references even faster than the argmax fold.
    val scored = langScores(df, idCol, textCol)
    val scores = langMarkers.map { case (lang, _) =>
      lang -> col("_sc").getField(lang)
    }
    // Fold for the top-2 (lang, score) with declaration-order ties.
    val init = (lit(scores.head._1), scores.head._2,
      lit("und"), lit(0L))
    val (l1, s1, l2, s2) = scores.tail.foldLeft(init) {
      case ((bl1, bs1, bl2, bs2), (lang, s)) =>
        (when(s > bs1, lang).otherwise(bl1),
         when(s > bs1, s).otherwise(bs1),
         when(s > bs1, bl1).otherwise(when(s > bs2, lang).otherwise(bl2)),
         when(s > bs1, bs1).otherwise(when(s > bs2, s).otherwise(bs2)))
    }
    scored.select(col(idCol),
      when(s1 >= 1, l1).otherwise("und").as("top_lang"),
      s1.as("top_hits"),
      when(s2 >= 1, l2).otherwise("und").as("second_lang"),
      s2.as("second_hits"),
      when(s1 >= 1, expr("1000L") * s2)
        .otherwise(lit(0L)).as("_num"))
      .withColumn("mix_permille",
        when(col("top_hits") >= 1, expr("_num div top_hits"))
          .otherwise(lit(0L)))
      .drop("_num")
  }

  /** Regex tokenization: alpha runs, digit runs, or single symbols —
    * the BPE-ish pre-tokenizer split — plus a subword-count estimate
    * (ceil(len/4) per token ≈ bytes-per-BPE-token heuristic). */
  def regexTokens(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pieces = expr(s"regexp_extract_all($textCol, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
    df.select(col(idCol),
      size(pieces).cast("long").as("n_pieces"),
      aggregate(pieces, lit(0L), (acc, p) => acc + ceil(length(p) / lit(4.0)))
        .as("n_bpe_est"))
  }

  /** Top-k token CO-OCCURRENCE: unordered token pairs appearing in the
    * same document, counted across the corpus — the raw statistic
    * behind PMI/collocation scoring and embedding-free relatedness.
    *
    * Shape: per-doc DISTINCT tokens, then a doc_id-co-located
    * self-join emitting only ordered pairs (t1 < t2) — pair space is
    * Σ C(d_i, 2) over per-doc distinct counts, never corpus-vocab², and
    * the join shuffles on doc_id so pairs materialize where the doc
    * lives. At 100 TB cap per-doc distinct tokens first (a length
    * guard upstream); the count is one map-side-combinable aggregate
    * and the top-k plans as TakeOrderedAndProject. */
  def cooccurrenceTopK(df: DataFrame, idCol: String, textCol: String,
                       topK: Int): DataFrame = {
    val tok = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("_id"),
        explode(split(col(textCol), " ")).as("t"))
      .distinct()
    tok.select(col("_id"), col("t").as("t1"))
      .join(tok.select(col("_id"), col("t").as("t2")), Seq("_id"))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("t1"), col("t2"))
      .limit(topK)
  }

  /** Fixed-size token-window CHUNKING with overlap — the
    * training-example preparation step that turns variable-length
    * documents into model-sized windows. Window starts advance by
    * `stride` tokens (overlap = window - stride); every start < n_tokens
    * is emitted, so all tokens are covered and the trailing chunk may be
    * shorter than `window`. chunk_id = start / stride — a pure function
    * of position, identical in any engine and stable under re-runs.
    *
    * Shape: one narrow projection + an explode whose fan-out is
    * ceil(n_tokens/stride) per document — no shuffle, runs scan-side at
    * 100 TB; chunk rows inherit the input partitioning. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            window: Int, stride: Int): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val t = toks(col(textCol))
    df.filter(col(textCol).isNotNull && size(t) > 0)
      .select(col(idCol), t.as("_toks"))
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0), size(col("_toks")) - 1, lit(stride)))
          .as("_start"))
      .select(
        col(idCol),
        (col("_start") / stride).cast("long").as("chunk_id"),
        size(slice(col("_toks"), col("_start") + 1, lit(window))).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("_toks"), col("_start") + 1, lit(window)), " ")
          .as("chunk_text"))
  }

  /** Gopher-style REPETITION metrics — the cheap redundancy filters a
    * pre-LM curation pass applies: share of the document taken by its
    * single most frequent token, and the fraction of 3-gram positions
    * whose 3-gram occurs more than once in the document. Both are exact
    * ratios of integers (engine-deterministic doubles). Narrow: one
    * higher-order-function pass per document, no shuffle. */
  def repetition(df: DataFrame, idCol: String, textCol: String,
                 maxTopTokenRatio: Double = 0.2,
                 maxDupTrigramRatio: Double = 0.3): DataFrame = {
    // Explode-barrier (DESIGN §5): CollapseProject inlines the token
    // split into EVERY reference — worst of all into the per-position
    // trigram lambda, where the inlined split re-tokenizes the whole
    // document once per element_at, an O(n²) blowup the bench only
    // charged once the r13 noop sink stopped pruning the unreferenced
    // output columns (8.9 s → the array is now materialized once per
    // row, no shuffle, no row-count change). Split of a non-null text
    // is never empty, so the isNotNull filter alone preserves the old
    // n > 0 row contract.
    val withT = withToks(df.filter(col(textCol).isNotNull), idCol, textCol)
    val t = col("_t")
    val n = size(t)
    // Top term frequency = longest run in the SORTED token array —
    // O(n log n) per doc (a per-distinct-token count scan would be
    // O(n·distinct), quadratic on adversarially repetitive documents,
    // exactly the ones this filter exists to catch). One fold carrying
    // (prev token, current run, best run).
    val topFreq = aggregate(
      array_sort(t),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(w.as("prev"), run.as("run"),
          greatest(run, acc.getField("best")).as("best"))
      },
      acc => acc.getField("best"))
    // 3-gram positions: i = 1 .. n-2 (1-based); duplicate share =
    // 1 - distinct/total — the excess mass of repeated trigrams.
    val tris = transform(sequence(lit(1), greatest(n - 2, lit(1))),
      i => concat_ws(" ",
        element_at(t, i), element_at(t, i + 1), element_at(t, i + 2)))
    val nTri = n - 2
    withT
      .select(col(idCol),
        n.cast("long").as("n_tokens"),
        (topFreq.cast("double") / n).as("top_token_ratio"),
        when(nTri > 0,
          lit(1.0) - size(array_distinct(tris)).cast("double") / nTri)
          .otherwise(lit(0.0)).as("dup_trigram_ratio"))
      .withColumn("keep",
        col("top_token_ratio") <= maxTopTokenRatio &&
        col("dup_trigram_ratio") <= maxDupTrigramRatio)
  }

  /** Content fingerprint: md5 of the full text plus a winnowing-style
    * robust fingerprint — md5 of the 4 lexicographically smallest
    * char-8-gram hashes (stable under small edits elsewhere in the
    * document). */
  /** Exact frequent words — every word whose corpus count exceeds
    * n/k — found WITHOUT shuffling the full distinct-word domain.
    *
    * The scale problem: `GROUP BY word HAVING count(*)·k > n` shuffles
    * every distinct word (billions at 100 TB) to answer a question
    * whose output is at most k−1 rows. Misra-Gries fixes the plan, not
    * the answer: a per-partition pass with k bounded counters (the
    * genuinely imperative per-partition tier — mapPartitions, the
    * documented last resort) nominates candidates, and the MG guarantee
    * transfers across partitions by pigeonhole — if count(w) > n/k
    * globally, then count_p(w) > n_p/k in SOME partition, so w survives
    * that partition's summary. An exact recount of only the candidates
    * then drops the false positives, so the output is exactly the
    * HAVING query's.
    *
    * The candidate set (≤ k·partitions words) NEVER touches the
    * driver: it stays a DataFrame and reaches the recount as a
    * broadcast LEFT SEMI join on the exploded words — the pre-shuffle
    * filter the BM25 term filter uses, without the plan-bloat failure
    * of an `isin` literal list (k=30 × 100k partitions would be
    * millions of literals in one In-expression). The corpus total
    * rides the same summary frame and attaches as a broadcast 1-row
    * scalar.
    *
    * The candidate SET depends on partitioning; the final output does
    * not (any partitioning yields a superset of the true heavy
    * hitters). Output: (w, cnt), the words with cnt·k > n. */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 100000,
      s"k must be in [2, 100000], got $k — candidates are k per partition")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
    // One pass: each partition emits its MG survivors plus one count
    // marker (the empty string cannot be a word — the regex above
    // requires [a-z]+), so candidates and n arrive in a single job.
    // Checkpointed (bounded: ≤ k+1 rows per partition) — both the
    // candidate list and the total read it without re-running the scan.
    val summary = words.as[String].mapPartitions { it =>
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      var n = 0L
      it.foreach { w =>
        n += 1
        counts.get(w) match {
          case Some(c) => counts.update(w, c + 1)
          case None if counts.size < k => counts.update(w, 1L)
          case None =>
            // decrement-all step: k+1 distinct words each give up one
            val dead = List.newBuilder[String]
            counts.foreach { case (kw, c) =>
              if (c == 1L) dead += kw else counts.update(kw, c - 1)
            }
            dead.result().foreach(counts.remove)
        }
      }
      counts.keysIterator.map(w => (w, 0L)) ++ Iterator(("", n))
    }.toDF("w", "n").localCheckpoint()
    val candidates = summary.filter(col("w") =!= "").select("w").distinct()
    val total = summary.filter(col("w") === "")
      .agg(sum("n").as("_total"))
    // Exact pass: the broadcast semi join filters BEFORE the shuffle,
    // so only rows of ≤ k·partitions words are exchanged; threshold
    // strict, as in the HAVING form.
    words.join(broadcast(candidates), Seq("w"), "left_semi")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("_total"))
      .select(col("w"), col("cnt"))
      .orderBy("w")
  }

  /** PII pattern census — the scrubbing pass every public-corpus
    * pipeline runs before training. Patterns are deliberately written
    * in the common subset of Java regex and RE2 (no lookaround, no
    * backreference), so the same pattern string runs identically in
    * Spark and in RE2-based engines (DuckDB) — determinism across the
    * oracle boundary. The patterns catch well-formed instances
    * (emails, NANP-style phones, dotted-quad IPs, SSN-shaped ids);
    * real scrubbing layers validation (checksums, allow-lists) on
    * top, but the Spark shape — a stateless codegen'd projection, no
    * UDF, no shuffle — is exactly what runs at 100 TB. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone" -> "\\b\\d{3}-\\d{3}-\\d{4}\\b",
    "ipv4"  -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "ssn"   -> "\\b\\d{3}-\\d{2}-\\d{4}\\b")

  /** Per-document PII counts: one column per [[PiiPatterns]] entry
    * (`n_<kind>`) plus the total. `regexp_count` is a codegen'd
    * built-in — the whole operator is a narrow projection with scan
    * throughput. Note the SSN pattern is shape-based and the phone
    * pattern is a superset-shaped cousin: a 3-3-4 digit group matches
    * phone, a 3-2-4 group matches ssn — disjoint shapes, counted
    * independently. */
  def piiScan(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = PiiPatterns.map { case (kind, pat) =>
      regexp_count(col(textCol), lit(pat)).cast("long").as(s"n_$kind")
    }
    df.select(col(idCol) +: counts: _*)
      .withColumn("n_pii",
        PiiPatterns.map(p => col(s"n_${p._1}")).reduce(_ + _))
  }

  /** PII redaction: each [[PiiPatterns]] match replaced with its
    * `<KIND>` tag, applied in the patterns' declared order (order
    * matters — the email pattern must run before anything that could
    * consume its digits). Pure projection; the redacted text is the
    * column a scrubbed corpus persists. */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (acc, (kind, pat)) =>
        regexp_replace(acc, pat, s"<${kind.toUpperCase(java.util.Locale.ROOT)}>")
    }
    df.select(col(idCol), redacted.as("redacted"))
  }

  /** BOILERPLATE LINE REMOVAL (the C4/CCNet move): a line occurring in
    * at least `minDocs` DISTINCT documents of the same `groupCol`
    * (site, domain, source) is template chrome — navigation, cookie
    * banners, footers — and is stripped from every document in that
    * group; document-unique lines survive. Returns
    * (idCol, clean_text, n_lines, n_removed) with surviving lines
    * rejoined IN ORIGINAL ORDER.
    *
    * Shape at scale: lines explode with their position, the
    * (group, line) document-frequency is one map-side-combinable
    * aggregate over DISTINCT (group, line, doc) triples, and the
    * boilerplate verdict joins back on (group, line) — lines shuffle
    * as [[graft.operators.Dedup.digest64]] keys (8 bytes, not line
    * text). The per-document rebuild is one aggregate:
    * `array_sort(collect_list(struct(pos, line)))` — order restored
    * inside the group, no window over the corpus. Hot boilerplate
    * lines are exactly the heavy keys the AQE-skew-splittable join
    * back absorbs. */
  def boilerplateStrip(df: DataFrame, idCol: String, groupCol: String,
                       textCol: String, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = df.select(col(idCol).as("id"), col(groupCol).as("grp"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("g", Dedup.digest64(col("line")))
      .localCheckpoint() // consumed twice: df count + join back
    val docFreq = lines.select("grp", "g", "id").distinct()
      .groupBy("grp", "g").agg(count(lit(1)).as("_df"))
    val verdict = lines.join(docFreq, Seq("grp", "g"))
    verdict
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_df") >= minDocs, 1L).otherwise(0L)).as("n_removed"),
        concat_ws("\n",
          transform(
            array_sort(collect_list(when(col("_df") < minDocs,
              struct(col("pos"), col("line"))))),
            s => s.getField("line"))).as("clean_text"))
      .select(col("id").as(idCol), col("clean_text"), col("n_lines"),
        col("n_removed"))
  }

  def fingerprint(df: DataFrame, idCol: String, textCol: String,
                  tier: Dedup.DigestTier = Dedup.Md5Tier): DataFrame = {
    // Measured dead end (r13): winnowing on digest64 integers (native
    // expression, long sort) instead of md5 hex strings moved q39 by
    // <2% at sf0.1 — hashing ~L grams per document IS the cost, the
    // sort is noise — so the simpler oracle-stable string form stays
    // FOR THE MD5 TIER. The per-gram hash itself is the cost, which is
    // exactly what the tier parameter swaps: the xx tier hashes each
    // gram with codegen'd xxhash64 (no hex string per gram, longs
    // sort natively) and only the two output digests take hex form.
    // Fingerprints differ BY CONSTRUCTION across tiers (they are
    // hashes); the preserved contract is decision-level — equal texts
    // collide, distinct texts don't — spec'd in DedupTierSpec.
    // The 4-smallest-hash selection ("h1|h2|h3|h4") feeding the robust
    // digest. Md5 tier: the native Winnow4Md5 expression — bit-identical
    // to `concat_ws("|", slice(array_sort(transform(grams, md5)), 1, 4))`
    // (the chain the DuckDB oracle mirrors; NativeTextHashSpec pins it)
    // but it hex-encodes 4 digests instead of L and keeps a running
    // top-4 instead of materializing, deduping and sorting an L-element
    // hex array (measured 7.5 s -> see the r21 optimization log on q39
    // at sf0.1; the md5-per-gram oracle-parity cost is unchanged).
    val winnow = tier match {
      case Dedup.Md5Tier => graft.functions.Winnow4Md5.column(col(textCol))
      case Dedup.XxTier =>
        val grams = Dedup.charShingles(col(textCol), 8)
        concat_ws("|",
          slice(transform(array_sort(transform(grams, g => xxhash64(g))),
            h => h.cast("string")), 1, 4))
    }
    df.select(col(idCol),
      tier.hexDigest(col(textCol)).as("digest"),
      tier.hexDigest(winnow).as("robust_digest"))
  }

  /** Unigram SURPRISAL scoring — the information-content quality signal
    * (boilerplate and stop-word-heavy documents score low; documents
    * carrying rare vocabulary score high). Each token contributes
    * floor(log2(N / count(w))) bits, an integer: the bit-length trick
    * `length(bin(N div cw)) − 1` never touches a float log, so the
    * score is bit-identical on any engine (IEEE does not require
    * correctly-rounded `log` — the same reason [[Search.bm25TopK]] is
    * log-free). `mean_millibits = 1000·bits div n_tokens` keeps the
    * per-token average integer too.
    *
    * Scale shape: the unigram table is vocabulary-sized and broadcast;
    * the corpus pays one explode + one map-side-combinable per-document
    * aggregate — scan throughput, no corpus shuffle on a hot key. */
  def unigramSurprisal(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      explode(split(col(textCol), " ")).as("w"))
    val cnt = words.groupBy("w").agg(count(lit(1)).as("cw"))
    val total = words.agg(count(lit(1)).as("n_total"))
    words.join(broadcast(cnt), "w")
      .crossJoin(broadcast(total))
      .withColumn("bits",
        (length(bin(expr("n_total div cw"))) - 1).cast("long"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("bits")).as("surprisal_bits"))
      .select(col("id").as(idCol), col("n_tokens"), col("surprisal_bits"),
        expr("(1000 * surprisal_bits) div n_tokens").as("mean_millibits"))
  }

  /** Bigram conditional surprisal — the second-order sibling of
    * [[unigramSurprisal]]: each adjacent pair (w1, w2) costs
    * floor(log2(c(w1) / c(w1,w2))) bits, the inverse of the corpus
    * conditional probability P(w2|w1), so documents whose word ORDER
    * is unusual score high even when every individual word is common —
    * the fluency signal a unigram model cannot see. Same bit-length
    * floor-log2 (`length(bin(x)) - 1`), no float log anywhere.
    *
    * c(w1) counts w1 as a bigram LEFT (doc-final tokens excluded), so
    * probabilities per context sum to 1 and c(w1) ≥ c(w1,w2) always —
    * the ratio is a positive integer and the bit trick is safe.
    * Documents with fewer than two tokens have no bigrams and are
    * absent from the output (no conditional model applies to them).
    *
    * Shape at scale: bigram extraction is a NARROW zip of the token
    * array with its own tail (no shuffle, no positional self-join);
    * the model — (w1, w2) counts and w1 context counts — is
    * vocabulary-bounded, aggregated with map-side combine, and
    * broadcast back. For web-scale vocabularies where V² outgrows the
    * broadcast threshold, drop the `broadcast` hints: the join keys
    * are the bigram columns, and the per-doc rollup shuffles on the
    * doc id either way. */
  def bigramSurprisal(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val bigrams = df
      .select(col(idCol).as("id"), split(col(textCol), " ").as("t"))
      .select(col("id"), expr(
        """explode(zip_with(slice(t, 1, size(t) - 1),
                            slice(t, 2, size(t) - 1),
                            (a, b) -> struct(a AS w1, b AS w2))) AS bg"""))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val ctx = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val pair = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    bigrams.join(broadcast(pair), Seq("w1", "w2"))
      .join(broadcast(ctx), Seq("w1"))
      .withColumn("bits",
        (length(bin(expr("c1 div cb"))) - 1).cast("long"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits")).as("surprisal_bits"))
      .select(col("id").as(idCol), col("n_bigrams"), col("surprisal_bits"),
        expr("(1000 * surprisal_bits) div n_bigrams").as("mean_millibits"))
  }

  /** PER-DOCUMENT N-GRAM NOVELTY against a reference corpus: the share
    * of each document's distinct word n-grams that appear NOWHERE in
    * `ref` — the memorization/freshness scorer of a training build
    * (novelty ≈ 0 means the doc is already covered by what the model
    * saw; ≈ 1000‰ means genuinely new text). The inverse of
    * decontamination: q49 REMOVES overlap with an eval set, this
    * MEASURES non-overlap with a train set, per document.
    *
    * Shape at scale: both sides reduce to [[Dedup.digest64]] keys
    * before any shuffle — 8-byte digests move, never gram strings.
    * The reference collapses to its distinct digest set once
    * (map-side-combinable distinct); the probe side left-joins it on
    * the digest hash (plain equi-join: at 100 TB BOTH sides are
    * corpus-scale, so no broadcast hint — let AQE pick), then one
    * per-doc count rollup. Digest collisions (~n²/2⁶¹) can only mark
    * a novel gram as seen, and identically so in both engines.
    *
    * Documents whose text yields zero grams cannot exist by
    * construction ([[Dedup.wordShingles]] emits the joined-token
    * fallback for short texts), so every input doc gets a row.
    * novelty_permille = (1000·novel) div total — exact integers.
    *
    * Output: (idCol, n_ngrams, n_novel, novelty_permille). */
  def ngramNovelty(docs: DataFrame, ref: DataFrame, idCol: String,
                   textCol: String, n: Int): DataFrame = {
    val refSet = ref
      .select(explode(Dedup.wordShingles(col(textCol), n)).as("_g"))
      .select(Dedup.digest64(col("_g")).as("_h"))
      .distinct()
      .withColumn("_seen", lit(1))
    val probe = docs
      .select(col(idCol), explode(Dedup.wordShingles(col(textCol), n))
        .as("_g"))
      .select(col(idCol), Dedup.digest64(col("_g")).as("_h"))
    probe.join(refSet, Seq("_h"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("_seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col(idCol), col("n_ngrams"), col("n_novel"),
        expr("(1000 * n_novel) div n_ngrams").as("novelty_permille"))
  }

  /** ZIPF RANK-DOUBLING PROFILE — does the corpus's term-frequency
    * curve look like natural language? For a Zipf law f(r) ∝ r^(−s),
    * the ratio f(r)/f(2r) is the CONSTANT 2^s at every rank r, so the
    * doubling ladder (r = 1, 2, 4, … 2^maxPow) diagnoses both the
    * slope and deviations from power-law shape (a flat head = boilerplate
    * flooding; a collapsed tail = template text) — entirely in integer
    * counts and one permille ratio per rung, no logarithms (log-log
    * regression is not engine-exact; the doubling ratio is).
    *
    * Shape at 100 TB: term counts are a map-side-combinable aggregate
    * over the tokenized scan (vocabulary-sized result, ≪ corpus);
    * ranking sorts ONLY the vocabulary (stated — a single window over
    * |V| rows with (count desc, term asc) determinism), and the ladder
    * join is rung-count-sized. Output per rung:
    * (rank, term, f_r, f_2r, ratio_milli = 1000·f_r div f_2r);
    * rungs whose 2r exceeds |V| report NULL f_2r/ratio. */
  def zipfDoubling(docs: DataFrame, textCol: String,
                   maxPow: Int): DataFrame = {
    require(maxPow >= 1 && maxPow <= 30, s"maxPow in [1,30], got $maxPow")
    val rungs = (0 to maxPow).map(1L << _)
    val wanted = (rungs ++ rungs.map(_ * 2)).distinct.sorted
    val counts = docs
      .select(explode(toks(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
    val ranked = counts
      .withColumn("r",
        row_number().over(Window.orderBy(col("f").desc, col("term").asc)))
      .filter(col("r").isin(wanted: _*))
    val lead = ranked.select(col("r").as("_r2"), col("f").as("f_2r"))
    ranked.filter(col("r").isin(rungs: _*))
      .join(lead, col("r") * 2 === col("_r2"), "left")
      .select(col("r").cast("long").as("rank"), col("term"),
        col("f").as("f_r"), col("f_2r"),
        when(col("f_2r").isNotNull,
          expr("(1000 * f) div f_2r")).as("ratio_milli"))
      .orderBy("rank")
  }

  /** TERM-PAIR LIFT over the top-`topM` vocabulary — which frequent
    * terms co-occur in documents MORE than independence predicts
    * (lift = P(a,b)/(P(a)·P(b)) > 1) and which repel. The log-free
    * cousin of PMI (PMI = log lift): the collocation/topic signal a
    * curation pipeline uses to spot template co-occurrence (boilerplate
    * pairs with lift ≫ 1) without transcendental math — lift is an
    * exact rational, emitted in permille.
    *
    * Shape at 100 TB: document frequencies are one combinable count;
    * the top-M pick is a vocabulary-sized heap; each document then
    * intersects with the BROADCAST top-M set and emits its own sorted
    * pairs — per-doc work bounded by C(M,2), never a corpus×corpus
    * join. Products in DECIMAL(38,0) (n_ab·N can pass 2^63). NULL
    * texts contribute nothing; N counts all docs. Output per pair:
    * (term_a, term_b, n_a, n_b, n_ab, lift_milli), pairs with
    * n_ab = 0 omitted (their lift is 0; materializing M²/2 zero rows
    * adds nothing). */
  def termLift(docs: DataFrame, idCol: String, textCol: String,
               topM: Int): DataFrame = {
    require(topM >= 2 && topM <= 1000,
      s"topM in [2,1000], got $topM — per-doc pair fanout is C(M,2)")
    val docTerms = docs
      .select(col(idCol).as("_id"),
        explode(array_distinct(toks(col(textCol)))).as("term"))
    val top = docTerms.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("_rk",
        row_number().over(Window.orderBy(col("df").desc, col("term").asc)))
      .filter(col("_rk") <= topM)
      .select(col("term"), col("df"))
    val nDocs = docs.agg(count(lit(1)).as("_n"))
    val perDoc = docTerms.join(broadcast(top.select("term")), Seq("term"))
      .groupBy("_id").agg(sort_array(collect_set(col("term"))).as("_ts"))
    // per-doc ordered pairs (a < b) via a nested-lambda comprehension —
    // stays a narrow projection, fanout ≤ C(M,2)
    val pairs = perDoc.select(explode(flatten(
      transform(col("_ts"), a =>
        transform(filter(col("_ts"), b => b > a),
          b => struct(a.as("term_a"), b.as("term_b")))))).as("_p"))
      .select(col("_p.term_a"), col("_p.term_b"))
      .groupBy("term_a", "term_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(top.select(col("term").as("term_a"),
        col("df").as("n_a"))), Seq("term_a"))
      .join(broadcast(top.select(col("term").as("term_b"),
        col("df").as("n_b"))), Seq("term_b"))
      .crossJoin(broadcast(nDocs))
      .select(col("term_a"), col("term_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        floor((col("n_ab").cast(dec38x) * col("_n") * 1000).cast("double") /
          (col("n_a").cast(dec38x) * col("n_b")).cast("double"))
          .cast("long").as("lift_milli"))
      .orderBy("term_a", "term_b")
  }

  private val dec38x = org.apache.spark.sql.types.DecimalType(38, 0)

  /** VOCABULARY GROWTH (Heaps'-law curve) — how fast new terms appear
    * as the corpus is consumed in `idCol` order, reported per equal-
    * count document bucket: new terms first seen in the bucket, plus
    * cumulative vocabulary and token totals. The curve a tokenizer
    * build reads to size its vocab (and a sanity check: a corpus whose
    * vocabulary stops growing early is template-dominated).
    *
    * Shape at scale: each term's first appearance is ONE combinable
    * min-aggregate (vocabulary-sized result); bucket assignment here is
    * ntile over doc ids — a doc-count sort, right for report scale; a
    * 100 TB run swaps it for [[Stats.equiDepthBin]]'s broadcast-cuts
    * join (same contract, no global sort). Ties cannot occur (doc ids
    * are unique). Output per bucket: (bucket 1-based, n_docs,
    * n_tokens, new_terms, cum_tokens, cum_vocab). */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  nBuckets: Int): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 1000,
      s"nBuckets in [2,1000], got $nBuckets")
    val bucketed = docs.select(col(idCol).as("_id"),
        size(toks(col(textCol))).cast("long").as("_nt"))
      .withColumn("bucket",
        ntile(nBuckets).over(Window.orderBy("_id")).cast("long"))
    val firstSeen = docs
      .select(col(idCol).as("_id"), explode(toks(col(textCol))).as("term"))
      .groupBy("term").agg(min(col("_id")).as("_first"))
      .join(bucketed.select(col("_id").as("_first"), col("bucket")),
        Seq("_first"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
    val perBucket = bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
      .join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("new_terms")).over(w))
      .orderBy("bucket")
  }
}
