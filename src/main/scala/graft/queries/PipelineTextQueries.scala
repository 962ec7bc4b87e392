package graft.queries

import graft.Tables
import graft.operators.{AsOfJoin, Bpe, Cdc, Curation, DataQuality, Dedup, Events, FuzzyJoin, Graph, Layout, Multimodal, Pq, RangeJoin, Reconcile, Search, Similarity, Sketch, Stats, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import PipelineShared._

/** Text-analysis queries: stats, quality, language ID, fingerprints, BPE, search (BM25, inverted index, phrases), PII, boilerplate, vocabulary, and the multimodal decode/frame tier.
  *
  * One of five domain slices of the former single-file
  * PipelineQueries (r16 split, VERDICT item 7) — entries are
  * verbatim; [[PipelineQueries]] aggregates the maps back into the
  * driver-facing surface. */
private[queries] object PipelineTextQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q114: BM25-shaped retrieval — tf saturation + length
    // normalization in exact rational arithmetic, scaled-integer
    // Robertson idf (log-free), fixed-order per-term total.
    "q114_bm25_topk" -> ((s, dir) => {
      Search.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window", "stream"), k = 20)
    }),

    // q100: pre-promotion data-quality gate (DataQuality.report) —
    // domain checks (narrow filters) + referential checks (left-anti
    // joins) collapse to one count per rule.
    "q100_quality_report" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val docs = t(s, dir, "documents")
      DataQuality.report(Seq(
        "documents.empty_text" ->
          docs.filter(col("text").isNull || length(col("text")) === 0),
        "lineitem.nonpositive_quantity" -> li.filter(col("l_quantity") <= 0),
        "lineitem.orphan_orderkey" ->
          li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti"),
        "orders.nonpositive_total" -> ord.filter(col("o_totalprice") <= 0),
        "orders.orphan_custkey" ->
          ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti")))
        .orderBy("rule")
    }),

    // Keyword retrieval: integer-weight TF-IDF top-k (Search scoring
    // stays in BIGINT arithmetic — no log(), no float sums — so every
    // engine ranks identically).
    "q58_search_topk" -> ((s, dir) => {
      Search.topKByTerms(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "window", "stream"), k = 20)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // Per-document text statistics.
    "q37_text_stats" -> ((s, dir) => {
      TextAnalysis.stats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Heuristic language ID by marker-word hits.
    "q38_lang_id" -> ((s, dir) => {
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Content + winnowing-style robust fingerprints.
    "q39_fingerprint" -> ((s, dir) => {
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Regex (BPE-ish) tokenization counts.
    "q40_regex_tokens" -> ((s, dir) => {
      TextAnalysis.regexTokens(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Multimodal: binary payload column + stub decode metadata.
    "q41_multimodal_decode" -> ((s, dir) => {
      Multimodal.decodeColumnar(Multimodal.mediaTable(t(s, dir, "documents")))
        .orderBy("media_id")
    }),

    // q82: full µs-value fingerprint. r3's q60 proved the LAST bit of
    // every floor-µs value agrees across engines; this pins the WHOLE
    // value (min, max, and a modular checksum of all 150k values). Green
    // here ⇔ `epoch_ns(ts) // 1000` in the oracle is bit-identical to
    // Spark's `ts div 1000`, and µs-derived output columns (the shape
    // that was red in r2 via DuckDB's epoch_us()) are safe to restore.
    "q82_probe_us_fingerprint" -> ((s, dir) => {
      Tables.sessionDefaults(s)
      val raw = s.read.parquet(s"$dir/events.parquet")
      val us = raw.select(rawUs(raw).as("us"))
      us.agg(min(col("us")).as("min_us"), max(col("us")).as("max_us"),
        sum(col("us") % lit(1000000007L)).as("sum_mod"))
    }),

    // JSON property extraction + aggregation.
    "q44_json_props" -> ((s, dir) => {
      Events.jsonPropAgg(t(s, dir, "events"), "$.k")
        .orderBy("event_type")
    }),

    // q105: top co-occurring token pairs (TextAnalysis.cooccurrenceTopK)
    // — doc-co-located pair generation, one combinable count, heap
    // top-k. Ties break on the pair itself.
    "q105_cooccurrence" -> ((s, dir) => {
      TextAnalysis.cooccurrenceTopK(t(s, dir, "documents"),
        "doc_id", "text", topK = 30)
    }),

    // q107: fixed-token-window chunking with overlap (window 32,
    // stride 24) — training-example prep; chunk_id = start/stride is
    // position-pure so both engines derive identical ids. Narrow
    // explode, fan-out ceil(n/stride) per doc, no shuffle.
    "q107_chunking" -> ((s, dir) => {
      TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
        window = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    }),

    // q112: Gopher-style repetition metrics — top-token share via a
    // sorted-run fold (O(n log n) per doc, never O(n·distinct)) and
    // duplicate-trigram excess via distinct counts. All ratios are
    // exact-integer divisions; `keep` thresholds computed identically
    // in both engines.
    "q112_repetition_filter" -> ((s, dir) => {
      TextAnalysis.repetition(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Vocabulary frequency table (top-k tokens by count).
    "q50_vocabulary" -> ((s, dir) => {
      Curation.vocabulary(t(s, dir, "documents"), "text", topK = 1000)
        .orderBy("rank")
    }),

    // BPE merge learning: 6 merge rounds over the corpus's lowercase
    // words — tokenizer training as a distributed pipeline, checked
    // against an oracle that unrolls the same 6 rounds as CTE stages
    // (the q51 KMeans fixed-iteration pattern).
    "q73_bpe_merges" -> ((s, dir) => {
      trainedBpeMerges(s, dir, 6).orderBy("merge_rank")
    }),

    // Apply the learned BPE merges back to the corpus: per-doc token
    // counts through the broadcast word→symbols vocabulary. Uses the
    // trained-artifact overload — applying a vocabulary must not
    // re-run the learning loop.
    "q74_bpe_tokenize" -> ((s, dir) => {
      Bpe.tokenCounts(t(s, dir, "documents"), "doc_id", "text",
        merges = trainedBpeMerges(s, dir, 6))
        .orderBy("doc_id")
    }),

    // Frame sampling over the binary media payload: every-100th-byte
    // offsets, 16-byte pseudo-frames (stub slicing — a real codec cuts
    // at frame boundaries; the Spark-side plumbing is real). The
    // checked contract is length arithmetic only, so no binary content
    // ever crosses engines: frame count and summed frame bytes are
    // integer functions of the payload length.
    "q72_frame_sample" -> ((s, dir) => {
      val m = Multimodal.mediaTable(t(s, dir, "documents"))
      Multimodal.frameSample(m, everyK = 100, frameBytes = 16)
        .select(col("media_id"),
          size(col("frames")).cast("long").as("n_frames"),
          aggregate(col("frames"), lit(0L),
            (acc, f) => acc + length(f).cast("long"))
            .as("total_frame_bytes"))
        .orderBy("media_id")
    }),

    // Inverted index with df bounds (posting lists as sorted
    // comma-joined ids — deterministic on any engine).
    "q68_inverted_index" -> ((s, dir) => {
      Search.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
        minDf = 5, maxDf = 400)
        .orderBy("token")
    }),

    // Unigram surprisal quality score: integer floor-log2 bits per
    // token (bit-length trick — no float log anywhere).
    "q119_surprisal" -> ((s, dir) => {
      TextAnalysis.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Tokenizer FERTILITY by corpus source (tokens per word, integer
    // permille) — the per-domain health check a tokenizer-training run
    // reports. Applies the cached trained merges (the q73/q74 artifact)
    // through the no-retrain tokenCounts overload.
    "q123_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Bpe.tokenCounts(docs, "doc_id", "text",
        merges = trainedBpeMerges(s, dir, 6))
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"))
        .select(col("source"), col("n_words"), col("n_tokens"),
          expr("(1000 * n_tokens) div n_words").as("fertility_milli"))
        .orderBy("source")
    }),

    // Bigram conditional surprisal — fluency scoring via corpus
    // P(w2|w1), integer bit-length floor-log2 end to end.
    "q133_bigram_surprisal" -> ((s, dir) => {
      TextAnalysis.bigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // PII census — the scrub-before-training pass. The corpus carries
    // no PII, so the query derives deterministic instances from doc_id
    // (email always; phone every 3rd; IP every 5th; SSN-shaped every
    // 7th) and the oracle rebuilds the IDENTICAL strings — the regex
    // extraction itself is what's verified, in the Java∩RE2 pattern
    // subset both engines share.
    "q151_pii_scan" -> ((s, dir) => {
      TextAnalysis.piiScan(piiDocs(t(s, dir, "documents")), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Redaction twin: each hit replaced by its <KIND> tag in declared
    // pattern order — the persisted form of a scrubbed corpus.
    "q152_pii_redact" -> ((s, dir) => {
      TextAnalysis.piiRedact(piiDocs(t(s, dir, "documents")), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // C4-style boilerplate removal: lines shared by ≥3 documents of
    // the same source are template chrome and drop; survivors rejoin
    // in original order. Documents have no newlines, so 2-word lines
    // are derived identically in both engines (the threshold and line
    // width are fixture-tuned so removal AND survival both occur —
    // ~600 of ~9700 distinct (source, line) pairs are boilerplate).
    "q154_boilerplate" -> ((s, dir) => {
      TextAnalysis.boilerplateStrip(lineDocs(t(s, dir, "documents")),
        "doc_id", "source", "text", minDocs = 3)
        .orderBy("doc_id")
    }),

    // N-GRAM NOVELTY of the odd-id half of the corpus against the
    // even-id half as reference — per-doc trigram non-overlap share,
    // digest-keyed end to end.
    "q168_ngram_novelty" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.ngramNovelty(
          docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // POSITIONAL PHRASE SEARCH: exact adjacent-token sequence match via
    // rebased posting-list equi-joins; postings filtered to the two
    // query terms before any shuffle.
    "q196_phrase_search" -> ((s, dir) => {
      Search.phraseSearch(t(s, dir, "documents"), "doc_id", "text",
          Seq("table", "hash"), k = 20)
        .orderBy(col("n_matches").desc, col("doc_id"))
    }),

    // DOCUMENT EDIT-DISTANCE MINING: the 25 closest pairs by full-text
    // Levenshtein under first-2-token blocking (complete within blocks
    // by construction; cross-block pairs missed by design).
    "q198_edit_distance_pairs" -> ((s, dir) => {
      FuzzyJoin.closestPairsByEditDistance(t(s, dir, "documents"),
          "doc_id", "text", blockTokens = 2, topN = 25, lenCap = 120)
        .orderBy(col("dist"), col("id_a"), col("id_b"))
    }),

    // LANGUAGE MIXTURE / code-switch report: top-2 marker-language hits
    // per document with an integer permille ratio.
    "q200_language_mixture" -> ((s, dir) => {
      TextAnalysis.languageMixture(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // PADDING-WASTE AUDIT: the bucket-ladder FLOP bill for dynamic
    // batching — pad and truncation token counts per cap.
    "q209_padding_audit" -> ((s, dir) => {
      Curation.paddingAudit(t(s, dir, "documents"), "text",
        buckets = Seq(8L, 16L, 32L, 64L, 128L))
    }),

    // MULTIMODAL FRAME POOLING: sample → per-frame features → exact
    // integer mean-pool, one vector per media item (the video-encoder
    // pipeline shape with the stub feature tier).
    "q215_frame_pooling" -> ((s, dir) => {
      val m = Multimodal.mediaTable(t(s, dir, "documents"))
      Multimodal.framePooling(m, everyK = 100, frameBytes = 16)
        .orderBy("media_id")
    }),

    // TOKEN-WEIGHTED CURATION FUNNEL: what the training run actually
    // CONSUMES at each stage — raw → exact-dedup keepers → near-dup
    // canonical keepers (keep-the-heaviest, q146's policy) → quality
    // gate — in documents AND tokens. q164 counts docs; compute
    // budgets are paid in tokens, and the two funnels diverge exactly
    // when dedup removes long documents.
    "q220_token_funnel" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("_nt"))
      val keep1 = base.groupBy(md5(col("text")).as("_d"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val s1 = base.join(keep1, Seq("doc_id"), "left_semi")
        .localCheckpoint()
      // shared pair artifact restricted to the exact-dedup keepers —
      // exact (per-doc signatures, per-pair verify)
      val pairs = minhashPairsWithin(s, dir, s1)
      val cmap = Dedup.canonicalMap(s1, "doc_id", "n_chars",
        pairs, "doc_a", "doc_b")
      val s2 = s1.join(cmap.filter(col("doc_id") === col("keep_id"))
        .select("doc_id"), Seq("doc_id"), "left_semi")
      // quality artifact is per-row pure: the semi-join against s2
      // restricts it to the stage corpus, same rows as recomputing
      val s3 = s2.join(
        qualityScores(s, dir)
          .filter(col("quality") >= 0.5).select("doc_id"),
        Seq("doc_id"), "left_semi")
      Seq("0_raw" -> base, "1_exact" -> s1, "2_canonical" -> s2,
          "3_quality" -> s3)
        .map { case (n, d) =>
          d.agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
            .select(lit(n).as("stage"), col("n_docs"), col("n_tokens"))
        }
        .reduce(_ unionAll _)
        .orderBy("stage")
    }),

    // ZIPF RANK-DOUBLING ladder over corpus term frequencies: is the
    // frequency curve power-law-shaped, and with what doubling ratio?
    "q224_zipf_profile" -> ((s, dir) => {
      TextAnalysis.zipfDoubling(t(s, dir, "documents"), "text", maxPow = 4)
    }),

    // RAG-style overlapping chunking, chunk-level: 64-token windows at
    // stride 48, with the content digest downstream stages key on.
    "q226_chunking" -> ((s, dir) => {
      Curation.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 64, stride = 48)
        .orderBy("doc_id", "chunk_ord")
    }),

    // The chunking bill per source: how many chunks, and the overlap
    // overhead the stride choice costs in tokens.
    "q227_chunk_report" -> ((s, dir) => {
      Curation.chunkingReport(t(s, dir, "documents"), "doc_id", "text",
          "source", chunkTokens = 64, stride = 48)
        .orderBy("grp")
    }),

    // TERM-PAIR LIFT over the top-24 vocabulary: co-occurrence vs
    // independence, exact permille — the log-free PMI.
    "q228_term_lift" -> ((s, dir) => {
      TextAnalysis.termLift(t(s, dir, "documents"), "doc_id", "text",
        topM = 24)
    }),

    // HEAPS'-LAW VOCABULARY GROWTH per corpus decile in doc_id order.
    "q234_vocab_growth" -> ((s, dir) => {
      TextAnalysis.vocabGrowth(t(s, dir, "documents"), "doc_id", "text",
        nBuckets = 10)
    })
  )

  val oracleSql: Map[String, String] = Map(

    // The fixed two-term phrase instance of the posting-join: a start
    // position i has w[i]='table' AND w[i+1]='hash' — counted directly
    // per document (range comprehension, the driver-proven idiom).
    "q196_phrase_search" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         m AS (
           SELECT doc_id,
                  CAST(len([i for i in range(1, len(w))
                            if w[i] = 'table' AND w[i+1] = 'hash'])
                    AS BIGINT) AS n_matches
           FROM w)
         SELECT doc_id, n_matches FROM m WHERE n_matches >= 1
         ORDER BY n_matches DESC, doc_id LIMIT 20""",

    // First-2-token block key built by range comprehension (no list
    // slices — the q172 r7 lesson); DuckDB's levenshtein is the same
    // classic unit-cost DP as Spark's; same 120-char prefix cap.
    "q198_edit_distance_pairs" ->
      """WITH d AS (
           SELECT doc_id, substr(text, 1, 120) AS text,
                  array_to_string(
                    [w[i] for i in range(1, least(len(w), 2) + 1)], ' ')
                    AS blk
           FROM (SELECT doc_id, text, string_split(text, ' ') AS w
                 FROM documents))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
         FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
         ORDER BY dist, id_a, id_b LIMIT 25""",

    // The languageMixture fold in closed form: s1 = max, l1 = earliest
    // argmax (declaration order en/de/fr/es), s2 = max of the rest, l2
    // = earliest non-l1 lang hitting s2 — the exact strictly-greater
    // fold semantics.
    "q200_language_mixture" ->
      """WITH w AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         h AS (
           SELECT doc_id,
             CAST(len([x for x in w
               if x IN ('the','a','of','and','is')]) AS BIGINT) AS h1,
             CAST(len([x for x in w
               if x IN ('der','die','das','und','ist')]) AS BIGINT) AS h2,
             CAST(len([x for x in w
               if x IN ('le','la','et','les','est')]) AS BIGINT) AS h3,
             CAST(len([x for x in w
               if x IN ('el','los','de','y','es')]) AS BIGINT) AS h4
           FROM w),
         r1 AS (
           SELECT doc_id, h1, h2, h3, h4,
                  greatest(h1, h2, h3, h4) AS s1
           FROM h),
         r2 AS (
           SELECT *, CASE WHEN h1 = s1 THEN 'en' WHEN h2 = s1 THEN 'de'
                          WHEN h3 = s1 THEN 'fr' ELSE 'es' END AS l1
           FROM r1),
         r3 AS (
           SELECT *, CASE WHEN l1 = 'en' THEN greatest(h2, h3, h4)
                          WHEN l1 = 'de' THEN greatest(h1, h3, h4)
                          WHEN l1 = 'fr' THEN greatest(h1, h2, h4)
                          ELSE greatest(h1, h2, h3) END AS s2
           FROM r2),
         r4 AS (
           SELECT *, CASE WHEN l1 <> 'en' AND h1 = s2 THEN 'en'
                          WHEN l1 <> 'de' AND h2 = s2 THEN 'de'
                          WHEN l1 <> 'fr' AND h3 = s2 THEN 'fr'
                          ELSE 'es' END AS l2
           FROM r3)
         SELECT doc_id,
                CASE WHEN s1 >= 1 THEN l1 ELSE 'und' END AS top_lang,
                s1 AS top_hits,
                CASE WHEN s2 >= 1 THEN l2 ELSE 'und' END AS second_lang,
                s2 AS second_hits,
                CAST(CASE WHEN s1 >= 1 THEN (1000 * s2) // s1
                          ELSE 0 END AS BIGINT) AS mix_permille
         FROM r4 ORDER BY doc_id""",

    // Same cap ladder CASE, same truncate-at-last-cap rule, integer
    // permille waste.
    "q209_padding_audit" ->
      """WITH n AS (
           SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           FROM documents),
         k AS (
           SELECT n, least(n, 128) AS kept FROM n),
         c AS (
           SELECT n, kept,
                  CAST(CASE WHEN kept <= 8 THEN 8
                            WHEN kept <= 16 THEN 16
                            WHEN kept <= 32 THEN 32
                            WHEN kept <= 64 THEN 64
                            ELSE 128 END AS BIGINT) AS cap
           FROM k),
         g AS (
           SELECT cap AS bucket_cap,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(kept) AS BIGINT) AS sum_tokens,
                  CAST(sum(cap - kept) AS BIGINT) AS sum_padding,
                  CAST(sum(n - kept) AS BIGINT) AS sum_truncated
           FROM c GROUP BY cap)
         SELECT bucket_cap, n_docs, sum_tokens, sum_padding,
                sum_truncated,
                (1000 * sum_padding) // (sum_padding + sum_tokens)
                  AS waste_permille
         FROM g ORDER BY bucket_cap""",

    // Same every-100th-offset 16-byte frames over the ASCII payload
    // (chars ≡ bytes, the q72 contract), one md5 per frame, hex-quad
    // integer features, floor-mean pooling.
    "q215_frame_pooling" ->
      """WITH m AS (SELECT doc_id AS media_id, text FROM documents),
         fr AS (
           SELECT media_id, md5(substr(text, o, 16)) AS h
           FROM (SELECT media_id, text,
                   unnest(range(1, greatest(length(text), 1) + 1, 100))
                     AS o
                 FROM m)),
         q AS (
           SELECT media_id,
                  ('0x' || substr(h, 1, 4))::BIGINT AS q0,
                  ('0x' || substr(h, 5, 4))::BIGINT AS q1,
                  ('0x' || substr(h, 9, 4))::BIGINT AS q2,
                  ('0x' || substr(h, 13, 4))::BIGINT AS q3
           FROM fr)
         SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
                CAST(sum(q0) AS BIGINT) // count(*) AS f0,
                CAST(sum(q1) AS BIGINT) // count(*) AS f1,
                CAST(sum(q2) AS BIGINT) // count(*) AS f2,
                CAST(sum(q3) AS BIGINT) // count(*) AS f3
         FROM q GROUP BY media_id ORDER BY media_id""",

    // The full curation chain sequenced over the exact-dedup survivor
    // set: q30's min-id keepers, q31's pairs at the 800‰ integer
    // cutoff, the recursive components + q146's arg_max keeper, q46's
    // quality expression — all in doc AND token units.
    "q220_token_funnel" ->
      s"""WITH RECURSIVE base AS (
           SELECT doc_id, text, n_chars,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
           FROM documents),
         keep1 AS (
           SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)),
         s1 AS (SELECT b.* FROM base b JOIN keep1 k USING (doc_id)),
         docs AS (
           SELECT doc_id, $sqlWordShingles AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM s1)),
         sigs AS (SELECT doc_id, ${sqlSig(24)} AS sig FROM docs),
         bands AS (
           SELECT doc_id, ${sqlBandUnnest(4, 6)} AS band FROM sigs),
         icand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.doc_id < y.doc_id),
         pairs AS (
           SELECT c.a AS doc_a, c.b AS doc_b FROM icand c
           JOIN docs da ON c.a = da.doc_id
           JOIN docs db ON c.b = db.doc_id
           WHERE 1000 * len(list_intersect(da.sh, db.sh))
                 >= 800 * len(list_distinct(list_concat(da.sh, db.sh)))),
         edges AS (
           SELECT doc_a AS a, doc_b AS b FROM pairs
           UNION SELECT doc_b AS a, doc_a AS b FROM pairs),
         reach(node, r) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.a, r.r FROM edges e JOIN reach r ON r.node = e.b),
         comps AS (
           SELECT node, min(r) AS component FROM reach GROUP BY node),
         keeper AS (
           SELECT component,
                  arg_max(c.node, s.n_chars * 4294967296 - c.node)
                    AS keep_id
           FROM comps c JOIN s1 s ON s.doc_id = c.node
           GROUP BY component),
         s2 AS (
           SELECT s1.* FROM s1
           LEFT JOIN comps c ON c.node = s1.doc_id
           LEFT JOIN keeper k ON k.component = c.component
           WHERE COALESCE(k.keep_id, s1.doc_id) = s1.doc_id),
         s3 AS (
           SELECT s2.* FROM s2 JOIN (
             SELECT doc_id FROM (
               SELECT doc_id,
                      least(len(w) / 64.0, 1.0) * 0.4 +
                      (len(list_distinct(w))::DOUBLE / len(w)) * 0.4 +
                      least((len(list_filter(w, x -> x IN ('the','a','of','and','in','is')))::DOUBLE / len(w)) * 4.0, 1.0) * 0.2
                        AS quality
               FROM (SELECT doc_id, string_split(text, ' ') AS w FROM s2))
             WHERE quality >= 0.5) q USING (doc_id))
         SELECT '0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nt) AS BIGINT) AS n_tokens FROM base
         UNION ALL
         SELECT '1_exact', CAST(count(*) AS BIGINT),
                CAST(sum(nt) AS BIGINT) FROM s1
         UNION ALL
         SELECT '2_canonical', CAST(count(*) AS BIGINT),
                CAST(sum(nt) AS BIGINT) FROM s2
         UNION ALL
         SELECT '3_quality', CAST(count(*) AS BIGINT),
                CAST(sum(nt) AS BIGINT) FROM s3
         ORDER BY stage""",

    // Vocabulary-sized rank with (count desc, term asc) determinism;
    // the ladder joins rank r to rank 2r, NULL past the vocabulary.
    "q224_zipf_profile" ->
      """WITH c AS (
           SELECT term, CAST(count(*) AS BIGINT) AS f
           FROM (SELECT unnest(string_split(text, ' ')) AS term
                 FROM documents)
           GROUP BY term),
         r AS (
           SELECT term, f,
                  row_number() OVER (ORDER BY f DESC, term ASC) AS r
           FROM c)
         SELECT CAST(a.r AS BIGINT) AS rank, a.term, a.f AS f_r,
                b.f AS f_2r,
                CASE WHEN b.f IS NOT NULL THEN (1000 * a.f) // b.f END
                  AS ratio_milli
         FROM r a LEFT JOIN r b ON b.r = a.r * 2
         WHERE a.r IN (1, 2, 4, 8, 16)
         ORDER BY rank""",

    // Window starts every 48 tokens; chunk = the next 64 (truncated at
    // doc end); digest over the space-joined window.
    "q226_chunking" ->
      """WITH d AS (
           SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t
           FROM documents),
         ch AS (
           SELECT doc_id, t, CAST(s // 48 AS BIGINT) AS chunk_ord,
                  CAST(s AS BIGINT) AS start_tok
           FROM (SELECT doc_id, t,
                        unnest(range(0, greatest(len(t), 1), 48)) AS s
                 FROM d))
         SELECT doc_id, chunk_ord, start_tok,
                CAST(least(64, len(t) - start_tok) AS BIGINT) AS n_tok,
                md5(array_to_string(
                  list_transform(range(0, least(64, len(t) - start_tok)),
                    i -> t[CAST(start_tok + i + 1 AS INT)]), ' '))
                  AS chunk_digest
         FROM ch
         ORDER BY doc_id, chunk_ord""",

    "q227_chunk_report" ->
      """WITH d AS (
           SELECT source AS grp, doc_id,
                  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT)
                    AS dt,
                  string_split(coalesce(text, ''), ' ') AS t
           FROM documents),
         ch AS (
           SELECT doc_id,
                  CAST(count(*) AS BIGINT) AS nc,
                  CAST(sum(least(64, len_t - s)) AS BIGINT) AS ct
           FROM (SELECT doc_id, len(t) AS len_t,
                        unnest(range(0, greatest(len(t), 1), 48)) AS s
                 FROM d)
           GROUP BY doc_id)
         SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(nc) AS BIGINT) AS n_chunks,
                CAST(sum(dt) AS BIGINT) AS doc_tokens,
                CAST(sum(ct) AS BIGINT) AS chunk_tokens,
                (1000 * (CAST(sum(ct) AS BIGINT) - CAST(sum(dt) AS BIGINT)))
                  // CAST(sum(dt) AS BIGINT) AS overhead_permille
         FROM d JOIN ch USING (doc_id)
         GROUP BY grp ORDER BY grp""",

    // Document frequencies once, top-24 by (df desc, term asc), pairs
    // from each doc's sorted distinct top-term list, lift in permille
    // by ONE floored double division over HUGEINT products.
    "q228_term_lift" ->
      """WITH dt AS (
           SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
                    AS term
           FROM documents),
         df AS (
           SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM dt GROUP BY term),
         top AS (
           SELECT term, df FROM (
             SELECT term, df,
                    row_number() OVER (ORDER BY df DESC, term ASC) AS rk
             FROM df)
           WHERE rk <= 24),
         n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
         pairs AS (
           SELECT a.term AS term_a, b.term AS term_b,
                  CAST(count(*) AS BIGINT) AS n_ab
           FROM dt a JOIN dt b
             ON a.doc_id = b.doc_id AND a.term < b.term
           JOIN top ta ON ta.term = a.term
           JOIN top tb ON tb.term = b.term
           GROUP BY a.term, b.term)
         SELECT term_a, term_b, ta.df AS n_a, tb.df AS n_b, n_ab,
                CAST(floor((CAST(n_ab AS HUGEINT) * nd * 1000)::DOUBLE /
                  (CAST(ta.df AS HUGEINT) * tb.df)::DOUBLE) AS BIGINT)
                  AS lift_milli
         FROM pairs
         JOIN top ta ON ta.term = term_a
         JOIN top tb ON tb.term = term_b
         CROSS JOIN n
         ORDER BY term_a, term_b""",

    // First appearance = one min per term; deciles by ntile over
    // doc_id; cumulative sums over the 10-row bucket frame.
    "q234_vocab_growth" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         b AS (
           SELECT doc_id, CAST(len(t) AS BIGINT) AS nt,
                  CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS bucket
           FROM d),
         fs AS (
           SELECT term, min(doc_id) AS fd
           FROM (SELECT doc_id, unnest(t) AS term FROM d) GROUP BY term),
         nb AS (
           SELECT b.bucket, CAST(count(*) AS BIGINT) AS new_terms
           FROM fs JOIN b ON b.doc_id = fs.fd GROUP BY b.bucket),
         pb AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(nt) AS BIGINT) AS n_tokens
           FROM b GROUP BY bucket)
         SELECT pb.bucket, pb.n_docs, pb.n_tokens,
                COALESCE(nb.new_terms, 0) AS new_terms,
                CAST(sum(pb.n_tokens) OVER (ORDER BY pb.bucket
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                CAST(sum(COALESCE(nb.new_terms, 0)) OVER (ORDER BY pb.bucket
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
         FROM pb LEFT JOIN nb USING (bucket) ORDER BY bucket""",

    "q37_text_stats" ->
      """SELECT doc_id,
                len(w) AS n_tokens,
                len(list_distinct(w)) AS n_types,
                len(list_distinct(w))::DOUBLE / len(w) AS type_token_ratio,
                list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w) AS avg_token_len,
                len(list_filter(w, x -> x IN ('the','a','of','and','in','is')))::DOUBLE / len(w) AS stopword_ratio
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         ORDER BY doc_id""",

    "q38_lang_id" ->
      """SELECT doc_id,
                CASE WHEN best < 1 THEN 'und'
                     WHEN s_en = best THEN 'en'
                     WHEN s_de = best THEN 'de'
                     WHEN s_fr = best THEN 'fr'
                     ELSE 'es' END AS predicted_lang,
                best AS marker_hits
         FROM (
           SELECT doc_id, s_en, s_de, s_fr, s_es,
                  greatest(s_en, s_de, s_fr, s_es) AS best
           FROM (
             SELECT doc_id,
                    len(list_filter(w, x -> x IN ('the','a','of','and','is'))) AS s_en,
                    len(list_filter(w, x -> x IN ('der','die','das','und','ist'))) AS s_de,
                    len(list_filter(w, x -> x IN ('le','la','et','les','est'))) AS s_fr,
                    len(list_filter(w, x -> x IN ('el','los','de','y','es'))) AS s_es
             FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))
         ORDER BY doc_id""",

    "q39_fingerprint" ->
      s"""SELECT doc_id,
                md5(text) AS digest,
                md5(array_to_string(list_sort([md5(g) for g in ${sqlCharShingles(8)}])[1:4], '|')) AS robust_digest
         FROM documents
         ORDER BY doc_id""",

    "q40_regex_tokens" ->
      """SELECT doc_id,
                len(p) AS n_pieces,
                list_sum(list_transform(p, x -> ceil(length(x) / 4.0)::BIGINT))::BIGINT AS n_bpe_est
         FROM (SELECT doc_id, regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]') AS p
               FROM documents)
         ORDER BY doc_id""",

    "q41_multimodal_decode" ->
      """SELECT doc_id AS media_id,
                CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
                octet_length(encode(text)) AS n_bytes,
                (octet_length(encode(text)) % 64 + 1)::INTEGER AS width,
                ((octet_length(encode(text)) // 64) % 64 + 1)::INTEGER AS height,
                (octet_length(encode(text)) % 7 + 1)::INTEGER AS n_frames,
                md5(text) AS content_digest
         FROM documents
         ORDER BY media_id""",

    // Integer-weight TF-IDF (Search.topKByTerms): W(t) = 1e6·N // df(t),
    // score = Σ tf·W — all BIGINT arithmetic, so ranking is bit-exact
    // across engines (a log-based idf would hang on log() rounding).
    "q58_search_topk" ->
      """WITH tf AS (
           SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents) tok
           WHERE token IN ('spark', 'window', 'stream')
           GROUP BY doc_id, token),
         w AS (
           SELECT token,
                  (1000000 * (SELECT count(*) FROM documents)) // count(*) AS wt
           FROM tf GROUP BY token)
         SELECT tf.doc_id, CAST(sum(tf.tf * w.wt) AS BIGINT) AS score
         FROM tf JOIN w USING (token)
         GROUP BY tf.doc_id
         ORDER BY score DESC, doc_id
         LIMIT 20""",

    // Same exact-rational tf part, same scaled-integer idf, same
    // fixed-order (s0 + s1) + s2 total.
    "q114_bm25_topk" ->
      """WITH stats AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS t
           FROM documents),
         tf AS (
           SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf,
                  max(dl) AS dl
           FROM (SELECT doc_id,
                        CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
                        unnest(string_split(text, ' ')) AS token
                 FROM documents) tok
           WHERE token IN ('spark', 'window', 'stream')
           GROUP BY doc_id, token),
         dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS df
                 FROM tf GROUP BY token),
         sc AS (
           SELECT tf.doc_id, tf.token,
                  CAST((1000000 * (2 * (s.n - d.df) + 1)) // (2 * d.df + 1)
                       AS DOUBLE)
                  * (CAST(22 * tf.tf * s.t AS DOUBLE) /
                     CAST(10 * s.t * tf.tf + 3 * s.t + 9 * tf.dl * s.n
                          AS DOUBLE)) AS sterm
           FROM tf JOIN dfs d USING (token) CROSS JOIN stats s),
         agg AS (
           SELECT doc_id,
                  sum(CASE WHEN token = 'spark' THEN sterm ELSE 0.0 END) AS s0,
                  sum(CASE WHEN token = 'window' THEN sterm ELSE 0.0 END) AS s1,
                  sum(CASE WHEN token = 'stream' THEN sterm ELSE 0.0 END) AS s2
           FROM sc GROUP BY doc_id)
         SELECT doc_id, (s0 + s1) + s2 AS score
         FROM agg
         ORDER BY score DESC, doc_id
         LIMIT 20""",

    "q82_probe_us_fingerprint" ->
      """SELECT min(us) AS min_us, max(us) AS max_us,
                CAST(sum(us % 1000000007) AS BIGINT) AS sum_mod
         FROM (SELECT epoch_ns(ts) // 1000 AS us FROM events)""",

    // Same window starts (range exclusive ≡ sequence to n-1 inclusive),
    // same 1-based clamped slice, chunk_id = start/stride in both.
    "q107_chunking" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents
           WHERE text IS NOT NULL AND len(string_split(text, ' ')) > 0),
         s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start
               FROM d)
         SELECT doc_id,
                CAST(start // 24 AS BIGINT) AS chunk_id,
                CAST(len(toks[start+1 : start+32]) AS BIGINT)
                  AS n_chunk_tokens,
                array_to_string(toks[start+1 : start+32], ' ') AS chunk_text
         FROM s
         ORDER BY doc_id, chunk_id""",

    // Relational twin of the per-doc folds: max per-token count ≡ the
    // sorted-run maximum; distinct-trigram excess ≡ 1 - distinct/total.
    // Ratio arithmetic mirrors the Spark op order exactly.
    "q112_repetition_filter" ->
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents
           WHERE text IS NOT NULL AND len(string_split(text, ' ')) > 0),
         tf AS (
           SELECT doc_id, max(c) AS top_freq
           FROM (SELECT doc_id, t, count(*) AS c
                 FROM (SELECT doc_id, unnest(toks) AS t FROM d)
                 GROUP BY doc_id, t)
           GROUP BY doc_id),
         m AS (
           SELECT d.doc_id,
                  len(toks) AS n,
                  CAST(tf.top_freq AS DOUBLE) / len(toks) AS top_token_ratio,
                  CASE WHEN len(toks) - 2 > 0 THEN
                    1.0 - CAST(len(list_distinct(list_transform(
                            range(1, greatest(len(toks) - 2, 1) + 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
                          AS DOUBLE) / (len(toks) - 2)
                  ELSE 0.0 END AS dup_trigram_ratio
           FROM d JOIN tf ON d.doc_id = tf.doc_id)
         SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
                top_token_ratio, dup_trigram_ratio,
                top_token_ratio <= 0.2 AND dup_trigram_ratio <= 0.3 AS keep
         FROM m
         ORDER BY doc_id""",

    // Same distinct-token self-join and ordered-pair filter.
    "q105_cooccurrence" ->
      """WITH tok AS (
           SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
           FROM documents WHERE text IS NOT NULL)
         SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS n_docs
         FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.t < b.t
         GROUP BY t1, t2
         ORDER BY n_docs DESC, t1, t2
         LIMIT 30""",

    // One counting subquery per rule, unioned — NOT EXISTS mirrors the
    // anti joins.
    "q100_quality_report" ->
      """SELECT 'documents.empty_text' AS rule,
                CAST(count(*) AS BIGINT) AS n_violations
         FROM documents WHERE text IS NULL OR length(text) = 0
         UNION ALL
         SELECT 'lineitem.nonpositive_quantity', CAST(count(*) AS BIGINT)
         FROM lineitem WHERE l_quantity <= 0
         UNION ALL
         SELECT 'lineitem.orphan_orderkey', CAST(count(*) AS BIGINT)
         FROM lineitem l WHERE NOT EXISTS
           (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
         UNION ALL
         SELECT 'orders.nonpositive_total', CAST(count(*) AS BIGINT)
         FROM orders WHERE o_totalprice <= 0
         UNION ALL
         SELECT 'orders.orphan_custkey', CAST(count(*) AS BIGINT)
         FROM orders o WHERE NOT EXISTS
           (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
         ORDER BY rule""",

    "q73_bpe_merges" -> bpeOracleSql(6),

    // Same learned stages, applied back to the corpus: per-doc word and
    // post-merge token counts through the word→symbols vocabulary.
    "q74_bpe_tokenize" -> bpeOracleSql(6,
      """SELECT d.doc_id,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(len(string_split(trim(v.s), ' '))) AS BIGINT)
                  AS n_tokens
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
               FROM documents) d
         JOIN s6 v ON d.w = v.w
         GROUP BY d.doc_id
         ORDER BY doc_id"""),

    // Same 6 unrolled merge rounds, rolled up per source instead of per
    // document (the join to s6 applies the [a-z]+ filter implicitly —
    // the vocabulary only holds matching words, both engines alike).
    "q123_bpe_fertility" -> bpeOracleSql(6,
      """SELECT d.source,
                CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(len(string_split(trim(v.s), ' '))) AS BIGINT)
                  AS n_tokens,
                (1000 * CAST(sum(len(string_split(trim(v.s), ' ')))
                   AS BIGINT)) // CAST(count(*) AS BIGINT)
                  AS fertility_milli
         FROM (SELECT source, unnest(string_split(text, ' ')) AS w
               FROM documents) d
         JOIN s6 v ON d.w = v.w
         GROUP BY d.source
         ORDER BY source"""),

    // Mirrors the slicing arithmetic on octet lengths (UTF-8 bytes on
    // both sides); the final (possibly short) frame is the least() term.
    "q72_frame_sample" ->
      """SELECT doc_id AS media_id,
                CAST((greatest(octet_length(encode(text)), 1) - 1) // 100 + 1
                     AS BIGINT) AS n_frames,
                CAST(list_sum(
                  [greatest(least(16, octet_length(encode(text)) - off + 1), 0)
                   for off in range(1, greatest(octet_length(encode(text)), 1) + 1, 100)])
                  AS BIGINT) AS total_frame_bytes
         FROM documents
         ORDER BY media_id""",

    "q68_inverted_index" ->
      """WITH tf AS (
           SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           WHERE token <> ''
           GROUP BY token, doc_id)
         SELECT token,
                CAST(count(*) AS BIGINT) AS df,
                CAST(sum(tf) AS BIGINT) AS cf,
                string_agg(CAST(doc_id AS VARCHAR), ','
                           ORDER BY doc_id) AS postings
         FROM tf
         GROUP BY token
         HAVING count(*) BETWEEN 5 AND 400
         ORDER BY token""",

    "q44_json_props" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",

    "q50_vocabulary" ->
      """SELECT token, n, rank FROM (
           SELECT token, n,
                  row_number() OVER (ORDER BY n DESC, token) AS rank
           FROM (SELECT token, count(*) AS n
                 FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
                 GROUP BY token))
         WHERE rank <= 1000
         ORDER BY rank""",

    // Same bit-length floor-log2: length(bin(N div cw)) - 1 per token.
    "q119_surprisal" ->
      """WITH words AS (
           SELECT doc_id AS id, unnest(string_split(text, ' ')) AS w
           FROM documents),
         cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
                 FROM words GROUP BY w),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM words)
         SELECT id AS doc_id,
                CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(length(bin(n_total // cw)) - 1) AS BIGINT)
                  AS surprisal_bits,
                (1000 * CAST(sum(length(bin(n_total // cw)) - 1) AS BIGINT))
                  // CAST(count(*) AS BIGINT) AS mean_millibits
         FROM words JOIN cnt USING (w) CROSS JOIN tot
         GROUP BY id
         ORDER BY doc_id""",

    // Same tail-zip bigram extraction, same bit-length floor-log2 of
    // the context/pair count ratio.
    "q133_bigram_surprisal" ->
      """WITH d AS (
           SELECT doc_id AS id, string_split(text, ' ') AS t
           FROM documents WHERE text IS NOT NULL),
         bg AS (
           SELECT id, t[i] AS w1, t[i + 1] AS w2
           FROM (SELECT id, t, unnest(range(1, len(t))) AS i FROM d)),
         ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                 FROM bg GROUP BY w1),
         pair AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
                  FROM bg GROUP BY w1, w2)
         SELECT id AS doc_id,
                CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(length(bin(c1 // cb)) - 1) AS BIGINT)
                  AS surprisal_bits,
                (1000 * CAST(sum(length(bin(c1 // cb)) - 1) AS BIGINT))
                  // CAST(count(*) AS BIGINT) AS mean_millibits
         FROM bg JOIN pair USING (w1, w2) JOIN ctx USING (w1)
         GROUP BY id
         ORDER BY doc_id""",

    // Same derived PII strings; RE2 counts via regexp_extract_all over
    // the IDENTICAL pattern literals (single source: PiiPatterns).
    "q151_pii_scan" ->
      s"""WITH d AS ($sqlPiiDocs)
         SELECT doc_id,
                ${sqlPiiCount("email")} AS n_email,
                ${sqlPiiCount("phone")} AS n_phone,
                ${sqlPiiCount("ipv4")} AS n_ipv4,
                ${sqlPiiCount("ssn")} AS n_ssn,
                ${sqlPiiCount("email")} + ${sqlPiiCount("phone")} +
                ${sqlPiiCount("ipv4")} + ${sqlPiiCount("ssn")} AS n_pii
         FROM d ORDER BY doc_id""",

    // Same chained global replaces in the same declared order.
    "q152_pii_redact" ->
      s"""WITH d AS ($sqlPiiDocs)
         SELECT doc_id, $sqlPiiRedacted AS redacted
         FROM d ORDER BY doc_id""",

    // Same 2-word line derivation, distinct-doc line frequency per
    // source, and order-preserving rebuild (COALESCE mirrors Spark's
    // empty-array concat_ws = '' when every line is boilerplate).
    "q154_boilerplate" ->
      """WITH w AS (
           SELECT doc_id, source, string_split(text, ' ') AS ws
           FROM documents),
         d AS (
           SELECT doc_id, source,
                  [array_to_string(ws[i*2+1:i*2+2], ' ')
                   for i in range(0, (len(ws)-1)//2 + 1)] AS ls
           FROM w),
         lines AS (
           SELECT doc_id, source, unnest(ls) AS line,
                  unnest(range(1, len(ls)+1)) AS pos
           FROM d),
         freq AS (
           SELECT source, line, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM lines GROUP BY source, line),
         j AS (
           SELECT l.doc_id, l.pos, l.line, f.df
           FROM lines l JOIN freq f
             ON l.source = f.source AND l.line = f.line)
         SELECT doc_id,
                COALESCE(string_agg(CASE WHEN df < 3 THEN line END,
                                    chr(10) ORDER BY pos), '') AS clean_text,
                CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_removed
         FROM j GROUP BY doc_id ORDER BY doc_id""",

    // Same trigram set and 60-bit digest as the engine; a LEFT JOIN
    // miss against the even-half reference set marks a novel gram.
    "q168_ngram_novelty" ->
      s"""WITH probe0 AS (
           SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE doc_id % 2 = 1),
         ref0 AS (
           SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE doc_id % 2 = 0),
         refset AS (
           SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
           FROM (SELECT unnest(${sqlWordShinglesN(3)}) AS g
                 FROM (SELECT w FROM ref0))),
         pr AS (
           SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
           FROM (SELECT doc_id, unnest(${sqlWordShinglesN(3)}) AS g
                 FROM (SELECT doc_id, w FROM probe0)))
         SELECT pr.doc_id,
                CAST(count(*) AS BIGINT) AS n_ngrams,
                CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel,
                (1000 * CAST(sum(CASE WHEN r.h IS NULL THEN 1 ELSE 0 END)
                             AS BIGINT)) // CAST(count(*) AS BIGINT)
                  AS novelty_permille
         FROM pr LEFT JOIN refset r ON r.h = pr.h
         GROUP BY pr.doc_id
         ORDER BY pr.doc_id"""
  )
}
