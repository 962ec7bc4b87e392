package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora — the pipeline
  * extensions beyond the reference's lineage surface (builder brief;
  * SURVEY.md §7.1 #5).
  *
  * Every operator is a declarative DataFrame transform built from
  * codegen'd built-ins (no UDFs), so Catalyst keeps pushdown/pruning and
  * whole-stage codegen intact. Determinism across engines is a design
  * constraint (the driver hash-compares against DuckDB): all hashing is
  * `md5` over explicit strings, all float math is quantized to integers
  * first (exact in any engine), and doubles only appear in final
  * division/sqrt steps whose inputs are identical integers.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - exact dedup is one hash-shuffle on the digest; map-side partial
  *    aggregation applies because min() is partial-izable.
  *  - MinHash/LSH replaces the O(n²) pair space with per-band
  *    hash-shuffles; the band self-join co-locates on the band key, so
  *    AQE's skew-join split handles hot buckets (identical boilerplate
  *    docs). Signatures are computed scan-side in one pass.
  *  - SimHash is a single narrow projection (no shuffle at all until the
  *    band join); token hashes would be broadcast-dictionary-ed in a
  *    real pipeline rather than recomputed per (token, bit).
  */
object Dedup {

  // ------------------------------------------------------------------
  // Shingling
  // ------------------------------------------------------------------

  /** Word n-grams WITH duplicates — the cheap construction for any
    * consumer that is multiset-invariant (MinHash signatures: the min
    * over a multiset equals the min over its distinct set). Evaluates
    * through the native [[graft.functions.WordNgrams]] expression:
    * each gram is a zero-copy byte-range slice of the text
    * (consecutive tokens re-joined with single spaces ARE a substring
    * of the original) — no interpreted zip-fold, no intermediate gram
    * arrays. Same grams as [[wordShingleMultisetFromTokens]] over
    * `split(text, " ")` (NativeTextHashSpec).
    * A text with fewer than n words yields its single joined token
    * (never an empty multiset, so Jaccard stays defined). */
  def wordShingleMultiset(text: Column, n: Int): Column =
    graft.functions.WordNgrams.column(text, n)

  /** [[wordShingleMultiset]] over an ALREADY-TOKENIZED word array —
    * for callers that materialize the split behind an explode-barrier
    * (DESIGN §5) and derive several gram sizes from one array.
    *
    * The grams build as a ZIP-FOLD: j-grams = (j−1)-grams zipped with
    * the array's j-th tail, one `zip_with` per step. No lambda ever
    * references `words`, so even when a caller hands an expression
    * (CollapseProject inlines the split into every reference) the
    * split evaluates O(n) times per row — the previous general-n
    * builder sliced `words` once per POSITION inside a `transform`
    * lambda, an O(tokens²) re-tokenization per document for n ≥ 3
    * (the q112 pathology, found when the r13 noop-sink bench started
    * charging projection-only queries honestly; n=8 spans paid it
    * worst). For n=2 the fold IS the old single-zip_with build. */
  def wordShingleMultisetFromTokens(words: Column, n: Int): Column = {
    // zip_with pads the shorter side with nulls (no truncation): each
    // step's trailing (gram, null) pair concats to null — drop it.
    val grams = (2 to n).foldLeft(words) { (acc, j) =>
      filter(
        zip_with(acc, slice(words, j, 1 << 30),
          (a, b) => concat(a, lit(" "), b)),
        _.isNotNull)
    }
    when(size(words) < n, array(concat_ws(" ", words))).otherwise(grams)
  }

  /** Distinct word n-grams of a whitespace-tokenized text column.
    * A text with fewer than n words yields its single joined token
    * (never an empty set, so Jaccard is always defined). */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(wordShingleMultiset(text, n))

  /** Distinct word n-grams over an already-tokenized array — see
    * [[wordShingleMultisetFromTokens]] for when to prefer this. */
  def wordShinglesFromTokens(words: Column, n: Int): Column =
    array_distinct(wordShingleMultisetFromTokens(words, n))

  /** Distinct character n-grams (for near-dup on raw strings), in
    * first-seen order: the native [[graft.functions.CharNgrams]]
    * expression (zero-copy byte-slice grams, packed-long dedupe on
    * ASCII). Gram semantics: character positions 1..max(L-n+1, 1),
    * each `substr(i, n)`. */
  def charShingles(text: Column, n: Int): Column =
    graft.functions.CharNgrams.column(text, n)

  /** Character n-grams as pre-exploded (id, s) ROWS: positions explode
    * first and each gram is a single substr — no per-document string
    * array ever materializes (measured 4.7 s → 2.8 s for the
    * explode+md5 stage at sf0.1). Same grams as [[charShingles]]
    * before its dedupe; feed to [[minHashLshWith]]'s `sigRows`. */
  def charShingleRows(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    // parallelized BEFORE the explode: the repartition then moves (and
    // sort-before-repartition sorts) doc-count rows, not gram-count
    // rows — repartitioning the exploded frame instead was measured
    // SLOWER than no repartition at all (r22: single-task sort of the
    // gram rows dominates).
    parallelized(df.select(col(idCol).as("id"), col(textCol).as("_t")))
      .select(col("id"), col("_t"),
        explode(sequence(lit(1),
          greatest(length(col("_t")) - (n - 1), lit(1)))).as("_p"))
      .select(col("id"), col("_t").substr(col("_p"), lit(n)).as("s"))

  /** Exact Jaccard similarity of two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** See [[ScanScale.parallelized]] — the signature pipeline's
    * per-gram hash + k-way min partial aggregation is exactly the
    * CPU-bound map work a sub-4 MB single-split scan serializes. */
  private def parallelized(df: DataFrame): DataFrame =
    ScanScale.parallelized(df)

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact dedup by content digest: one row per distinct `text`, keeping
    * the smallest id. One hash-shuffle on the digest; at scale the digest
    * (32 bytes) shuffles instead of the document body. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("digest"), col(idCol))
      .groupBy("digest")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------------
  // MinHash + LSH near-dup
  // ------------------------------------------------------------------

  /** Modulus of the affine MinHash family (2^31 - 1, prime). */
  val MinHashPrime = 2147483647L

  /** 60-bit content digest (the first 15 md5 hex digits as an integer):
    * the shuffle-key form of a shingle/span string. Collisions are
    * ~n²/2⁶¹ (vanishing at any realistic span count, and when one does
    * occur both engines compute the identical digest, so cross-engine
    * parity is unaffected).
    *
    * Evaluates through the native [[graft.functions.Md5Prefix64]]
    * expression — bit-identical to `conv(substring(md5(s), 1, 15), 16,
    * 10)` cast to bigint, but without materializing and re-parsing the
    * hex string (measured 2.5 s → 1.75 s over 2.9M grams at sf0.1).
    * The DuckDB oracles mirror it as
    * ('0x' || substr(md5(s), 1, 15))::BIGINT. */
  def digest64(s: Column): Column = graft.functions.Md5Prefix64.column(s)

  /** All `k` Bloom bit positions of a 60-bit [[digest64]] value by
    * Kirsch–Mitzenmacher double hashing ("Less Hashing, Same
    * Performance", ESA 2006): pos_j = (h1 + j·h2) mod bits, h1 the
    * digest's low 30 bits, h2 an ODD stride from its high 30 bits
    * (odd so the stride cycles a power-of-two position space; both
    * halves stay < 2^31, so the sum never nears BIGINT overflow in
    * either engine). ONE hash per value instead of k. This is THE
    * derivation — every Bloom builder and probe (engine-side via this
    * Column form, driver-side via [[bloomPositionsOf]], and the
    * DuckDB oracles via the mirrored integer SQL) must agree
    * bit-for-bit or filters and probes desync into false negatives,
    * so it lives in exactly one place per side. */
  def bloomPositions(d: Column, k: Int, bits: Int): Column = {
    val h1 = d.bitwiseAND(lit(1073741823L))
    val h2 = shiftright(d, 30) * lit(2L) + lit(1L)
    array((0 until k).map(j => (h1 + lit(j.toLong) * h2) % bits): _*)
  }

  /** Driver-side twin of [[bloomPositions]] — the identical integer
    * arithmetic over a literal digest (probe lists computed on the
    * driver and broadcast). */
  def bloomPositionsOf(d: Long, k: Int, bits: Int): Seq[Long] = {
    val h1 = d & 1073741823L
    val h2 = (d >> 30) * 2L + 1L
    (0 until k).map(j => (h1 + j * h2) % bits)
  }

  /** Digest tier for the text-hash family (VERDICT r13 item 4): which
    * 60-bit string hash the shingle/fingerprint operators evaluate.
    *
    * [[Md5Tier]] is the checked DEFAULT: DuckDB mirrors it
    * (`('0x' || substr(md5(s), 1, 15))::BIGINT`), so every driver
    * oracle stays binding. [[XxTier]] is the PRODUCTION tier — Spark's
    * codegen'd `xxhash64` (one 64-bit mix pass, no cryptographic
    * rounds, no hex string ever materialized), masked to the same
    * non-negative 60-bit domain so every downstream contract (mod
    * [[MinHashPrime]], [[bloomPositions]]' 30-bit halves) holds
    * unchanged. No DuckDB twin of xxhash64's exact bits exists, so the
    * xx tier can never be the checked default; its contract is the
    * EQUIVALENCE spec (DedupSpec: identical dedup DECISIONS on a
    * fixture whose similarities aren't hash-marginal) plus the
    * measured speedup (DESIGN.md §5). */
  sealed trait DigestTier {
    /** Non-negative 60-bit digest of a string column. */
    def digest(s: Column): Column
    /** Hex-string digest (the fingerprint family's output form). */
    def hexDigest(s: Column): Column
    /** DRIVER-side twin of [[digest]] over a literal string — for
      * probe lists computed on the driver and broadcast (the
      * [[bloomPositionsOf]] path). Must agree with the Column form
      * bit-for-bit or filters and probes desync into false negatives
      * (property-pinned per tier in DigestTierSpec). */
    def digestOf(s: String): Long
  }

  /** md5-based tier — DuckDB-mirrorable, the checked default. */
  case object Md5Tier extends DigestTier {
    override def digest(s: Column): Column = digest64(s)
    override def hexDigest(s: Column): Column = md5(s)
    override def digestOf(s: String): Long =
      graft.functions.Md5Prefix64.ofBytes(s.getBytes("UTF-8"))
  }

  /** xxhash64-based tier — the production hash for deployments that
    * don't carry the cross-engine-oracle constraint. */
  case object XxTier extends DigestTier {
    override def digest(s: Column): Column =
      xxhash64(s).bitwiseAND(lit((1L << 60) - 1))
    override def hexDigest(s: Column): Column = hex(xxhash64(s))
    override def digestOf(s: String): Long =
      // Spark's xxhash64 is XXH64 over the UTF8 bytes with seed 42
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L) &
        ((1L << 60) - 1)
  }

  /** Base hash of one shingle for the MinHash family: the tier's
    * 60-bit digest ([[digest64]] by default) reduced mod
    * [[MinHashPrime]]. ONE hash per shingle — the k permutations are
    * derived arithmetically (see [[minHashSignatureFromBases]]), 12×
    * cheaper than hashing per permutation and exactly as portable. */
  def shingleBaseHash(s: Column, tier: DigestTier = Md5Tier): Column =
    tier.digest(s) % MinHashPrime

  /** MinHash signature over base hashes: element i is min over shingles
    * of the affine permutation h_i(x) = ((2i+1)·x + 101i+17) mod p. Odd
    * multipliers mod a prime are bijections, so this is a proper MinHash
    * family. CAUTION: as a single nested expression the inner `bases`
    * lambda re-evaluates once per permutation at runtime (k× the md5
    * cost — measured; DESIGN.md §5). [[minHashLshWith]] therefore
    * computes signatures via explode + k min-aggregates instead; this
    * expression form exists for small-k ad-hoc use. */
  def minHashSignatureFromBases(bases: Column, k: Int): Column =
    transform(
      sequence(lit(0), lit(k - 1)),
      i => array_min(transform(bases,
        b => ((i * 2 + 1).cast("long") * b + (i * 101 + 17).cast("long")) % MinHashPrime)))

  /** Convenience single-expression form (k× md5 cost — prefer
    * [[minHashSignatureFromBases]] in pipelines). */
  def minHashSignature(shingles: Column, k: Int): Column =
    minHashSignatureFromBases(transform(shingles, s => shingleBaseHash(s)), k)

  /** LSH band keys: the signature cut into `bands` groups of `rows`
    * hashes; each band key is prefixed with its band index so different
    * bands never collide. */
  def lshBands(sig: Column, bands: Int, rows: Int): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      g => concat(g.cast("string"), lit(":"),
        md5(concat_ws("|",
          transform(slice(sig, g * lit(rows) + lit(1), lit(rows)),
            x => x.cast("string"))))))

  /** MinHash/LSH near-duplicate pairs, exact-verified.
    *
    * candidates = pairs sharing ≥1 band bucket (shuffle co-located on the
    * band key — the scale path, no O(n²) cross join); verification =
    * exact Jaccard over the shingle sets, kept when ≥ `threshold`.
    * Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    */
  def minHashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 2, k: Int = 12, bands: Int = 4, rows: Int = 3,
                 threshold: Double = 0.8,
                 tier: DigestTier = Md5Tier): DataFrame =
    minHashLshWith(df, idCol, wordShingles(col(textCol), shingleN),
      k, bands, rows, threshold,
      sigShingles = wordShingleMultiset(col(textCol), shingleN),
      tier = tier)

  /** [[minHashLsh]] with a caller-supplied shingle expression (word
    * n-grams, char n-grams, ...). `sigShingles`, when given, feeds the
    * SIGNATURE path only and may be any multiset with the same distinct
    * set as `shingles` (MinHash mins are multiset-invariant) — pass the
    * cheap non-distinct construction and keep the distinct arrays for
    * the exact-Jaccard verification. `sigRows` goes one step further:
    * an already-exploded (id, s) frame (e.g. [[charShingleRows]]) that
    * skips array materialization entirely; it wins over `sigShingles`
    * when both are given. */
  def minHashLshWith(df: DataFrame, idCol: String, shingles: Column,
                     k: Int, bands: Int, rows: Int,
                     threshold: Double, sigShingles: Column = null,
                     sigRows: DataFrame = null,
                     tier: DigestTier = Md5Tier): DataFrame = {
    // ScanScale lives in charShingleRows (the measured win, q33); NOT
    // applied to the word-shingle branches here — paired COLD runs of
    // the q31 artifact build (via q110) measured the probe + extra
    // exchange as a net ~8% loss on that cheaper-gram path (r22).
    val docs = df.select(col(idCol).as("id"), shingles.as("sh"))
    val exploded =
      if (sigRows != null) sigRows.select(col("id"), col("s"))
      else df.select(col(idCol).as("id"),
        explode(Option(sigShingles).getOrElse(shingles)).as("s"))
    val cand = minHashCandidatesOf(exploded, k, bands, rows, tier)
    cand
      .join(docs.select(col("id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(docs.select(col("id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sha"), col("shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash-LSH candidate pairs BEFORE exact verification, from
    * pre-exploded (id, s) shingle rows — the banded self-join stage of
    * [[minHashLshWith]], exposed so the recall evaluation
    * ([[lshCandidateEval]]) can measure the blocking stage alone.
    * The self-join is hinted to SHUFFLE so both sides plan as the
    * IDENTICAL exchange and ReuseExchange evaluates the signature
    * pipeline (the md5 over every shingle) once, not twice — a
    * broadcast on one side would duplicate it (measured ~2× md5 cost).
    * At scale a broadcast of n×bands keys is wrong anyway: banded
    * grows with the corpus, so the co-located shuffle join IS the
    * 100 TB plan. Returns distinct (doc_a, doc_b), doc_a < doc_b. */
  private[graft] def minHashCandidatesOf(exploded: DataFrame, k: Int,
                                         bands: Int, rows: Int,
                                         tier: DigestTier = Md5Tier): DataFrame = {
    val banded = bandKeysOf(signaturesOf(exploded, k, tier), bands, rows)
    banded.as("x").hint("shuffle_hash")
      .join(banded.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") && col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .distinct()
  }

  /** EXACT Jaccard ground truth: every pair with `jaccard ≥ threshold`,
    * found by blocking on SHARED SHINGLES instead of MinHash bands.
    * Complete for any threshold > 0 (a pair with positive Jaccard
    * shares at least one shingle), so unlike LSH banding this has no
    * recall loss — its cost is the trade: the candidate space is
    * Σ df(s)² over shingle frequencies, which a frequent shingle blows
    * up. That is exactly why it is the EVALUATION baseline, not the
    * production path — run it on a sample to measure the LSH
    * parameters' recall ([[lshCandidateEval]]), then ship the banded
    * operator. Shingles shuffle as 8-byte [[digest64]] values (the
    * span-dedup lesson: never shuffle shingle strings).
    *
    * Jaccard is COUNT-BASED, derived from the postings self-join
    * itself: the join emits one row per shared shingle per pair, so
    * `|∩|` is a combinable groupBy(pair) count and
    * `|∪| = |A| + |B| − |∩|` comes from per-doc distinct-shingle
    * counts — no per-pair array intersect/union ever materializes.
    * (The r9 shape computed `jaccard(sha, shb)` over per-doc shingle
    * ARRAYS; AQE coalesced the small candidate shuffle to ONE
    * partition and the expensive array stage serialized there — 8.9 s
    * wall at 4 cores AND at 32. The count form is ~40× cheaper and
    * every stage is a parallel shuffle agg.) Collision posture: full
    * 60-bit digests (NOT reduced mod [[MinHashPrime]]) — a collision
    * now perturbs a count rather than adding a rejectable candidate,
    * and at 2⁶⁰ the within-corpus odds are ~n²/2⁶¹ (vanishing; the
    * [[digest64]] contract). Input is the pre-exploded (id, s)
    * shingle rows ([[charShingleRows]] / an exploded word-shingle
    * frame) — the single source of truth for both sizes and
    * intersections. Returns (doc_a, doc_b, jaccard), doc_a < doc_b. */
  def sharedShingleJaccardPairs(sigRows: DataFrame,
                                threshold: Double): DataFrame = {
    require(threshold > 0, "shared-shingle blocking needs threshold > 0")
    // Distinct (doc, gram-digest) postings, materialized once: the
    // self-join reads it twice and the size aggregate a third time —
    // bounded by the sample contract (this eval never runs unsampled).
    val hashed = sigRows.select(col("id"), digest64(col("s")).as("h"))
      .distinct().localCheckpoint()
    val inter = hashed.as("x").hint("shuffle_hash")
      .join(hashed.as("y").hint("shuffle_hash"),
        col("x.h") === col("y.h") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    val sizes = hashed.groupBy("id").agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.select(col("id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("sa") + col("sb") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** LSH RECALL EVALUATION — the measurement that turns "k=36, 4 bands
    * of 9" from folklore into a number: compare the MinHash banding's
    * candidate pairs against the exact shared-shingle ground truth at
    * `threshold` and report (n_exact, n_cand, n_hit, recall_milli,
    * efficiency_milli). `recall` = hit/exact is the fraction of true
    * pairs the banding surfaces (the S-curve's realized value on THIS
    * corpus); `efficiency` = hit/cand is how much of the candidate
    * budget survives verification (low efficiency = wasted exact-
    * verification work). Both integer milli (div-by-zero guarded to
    * NULL). This is the eval harness a pipeline runs ON A SAMPLE
    * before committing band parameters to a 100 TB dedup pass —
    * ground truth is quadratic in shingle frequency and must never run
    * on the full corpus. One row. */
  def lshCandidateEval(sigRows: DataFrame, k: Int, bands: Int,
                       rows: Int, threshold: Double): DataFrame = {
    val exact = sharedShingleJaccardPairs(sigRows, threshold)
      .select("doc_a", "doc_b").localCheckpoint()
    val cand = minHashCandidatesOf(sigRows.select(col("id"), col("s")),
        k, bands, rows)
      .localCheckpoint()
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val nCand = cand.agg(count(lit(1)).as("n_cand"))
    val nHit = cand.join(exact, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_hit"))
    // exact/cand stay checkpointed until the caller consumes the
    // result (each feeds a count AND the hit join); the harness sweep
    // reclaims them after the query.
    nExact.crossJoin(nCand).crossJoin(nHit)
      .select(col("n_exact"), col("n_cand"), col("n_hit"),
        when(col("n_exact") === 0, lit(null))
          .otherwise(expr("(1000 * n_hit) div n_exact")).as("recall_milli"),
        when(col("n_cand") === 0, lit(null))
          .otherwise(expr("(1000 * n_hit) div n_cand"))
          .as("efficiency_milli"))
  }

  /** DEDUP THRESHOLD SWEEP — "what does each Jaccard cutoff actually
    * remove?" answered from ONE candidate generation and ONE exact
    * scoring pass: the banded LSH candidates are scored with exact
    * integer (|∩|, |∪|) counts, then every threshold in
    * `thresholdsPermille` reads the same scored pairs through a
    * conditional aggregate. The comparison is pure-integer
    * (1000·|∩| ≥ t·|∪| ⟺ jaccard ≥ t/1000), so the sweep is
    * engine-exact with no float-edge ambiguity at the cutoffs.
    *
    * `n_losers` counts distinct doc_b's — the higher-id pair members
    * that a keep-lowest-id policy would drop; the PAIRWISE view,
    * stated (transitive clusters are [[Graph.connectedComponents]]'
    * job — this sweep is the knob-tuning table, not the dedup).
    * Every threshold reports even at zero pairs (conditional
    * aggregates over the full scored set, the q177 full-domain
    * lesson). Returns (thresh_permille, n_pairs, n_losers) ordered. */
  def thresholdSweep(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int, k: Int, bands: Int, rows: Int,
                     thresholdsPermille: Seq[Long]): DataFrame = {
    require(thresholdsPermille.nonEmpty &&
      thresholdsPermille == thresholdsPermille.sorted &&
      thresholdsPermille.distinct == thresholdsPermille,
      "thresholds must be ascending, distinct")
    val docs = df.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleN).as("sh"))
    val exploded = df.select(col(idCol).as("id"),
      explode(wordShingleMultiset(col(textCol), shingleN)).as("s"))
    val scored = minHashCandidatesOf(exploded, k, bands, rows)
      .join(docs.select(col("id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(docs.select(col("id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("_ni"),
        size(array_distinct(concat(col("sha"), col("shb")))).cast("long")
          .as("_nu"))
    def cond(t: Long) = lit(1000L) * col("_ni") >= lit(t) * col("_nu")
    val aggs = thresholdsPermille.flatMap { t =>
      Seq(sum(when(cond(t), 1L).otherwise(0L)).as(s"_np_$t"),
        countDistinct(when(cond(t), col("doc_b"))).as(s"_nl_$t"))
    }
    val stackExpr = s"stack(${thresholdsPermille.size}, " +
      thresholdsPermille.map(t =>
        s"${t}L, coalesce(_np_$t, 0L), _nl_$t").mkString(", ") +
      ") as (thresh_permille, n_pairs, n_losers)"
    scored.agg(aggs.head, aggs.tail: _*)
      .selectExpr(stackExpr)
      .orderBy("thresh_permille")
  }

  /** Rewrite map of a keep-the-BEST dedup policy: every document maps
    * to the canonical keeper of its near-duplicate cluster — the
    * member with the greatest `weightCol` (quality score, length),
    * smallest id as the tiebreak; documents in no cluster map to
    * themselves. Min-id retention (the [[minHashLsh]] +
    * [[Graph.connectedComponents]] default) keeps an arbitrary copy;
    * real curation keeps the best one, and downstream references
    * rewrite through this map.
    *
    * Shape at scale: components by min-label propagation (one
    * join+min shuffle per round), then ONE aggregate per cluster picks
    * the keeper via `max_by` over the score `weight·2^32 − id` — no
    * corpus-wide window, no all-pairs. The keeper table is
    * cluster-count-sized and joins back on the component key; a final
    * left join restores singletons. The score stays inside int64 for
    * weight < 2^20 and id < 2^32 (lengths and quality scores, not raw
    * token counts), and embeds the id, so `max_by` never sees a tie.
    *
    * `pairs` is any near-dup pair list ((aCol, bCol) ids —
    * [[minHashLsh]] output or another blocking method's). Output:
    * (idCol, keep_id). */
  def canonicalMap(docs: DataFrame, idCol: String, weightCol: String,
                   pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val comp = Graph.connectedComponents(pairs, aCol, bCol)
      .select(col("node").as("_cid"), col("component"))
    // The weight < 2^20 contract is ENFORCED, not just documented: a
    // raw-token-count weight column would silently overflow the packed
    // score (non-ANSI long multiply) and pick wrong keepers. The check
    // rides the scoring expression — no extra pass.
    val wRaw = col(weightCol).cast("long")
    val w = when(wRaw >= 0L && wRaw < (1L << 20), wRaw)
      .otherwise(raise_error(concat(
        lit(s"canonicalMap: $weightCol must be in [0, 2^20), got "),
        wRaw.cast("string"))))
    val score = w * lit(1L << 32) - col("_cid")
    val keeper = comp
      .join(docs.select(col(idCol), col(weightCol)), col("_cid") === col(idCol))
      .groupBy("component")
      .agg(max_by(col("_cid"), score).as("keep_id"))
    docs.select(col(idCol))
      .join(comp, col(idCol) === col("_cid"), "left")
      .join(keeper, Seq("component"), "left")
      .select(col(idCol), coalesce(col("keep_id"), col(idCol)).as("keep_id"))
  }

  /** MinHash signatures of an exploded (id, s) shingle frame, via
    * explode + k min-aggregates: the md5 base hash is computed exactly
    * once per (doc, shingle) row. (A nested transform(transform(...))
    * expression re-evaluates the inner md5 lambda once per permutation
    * — k× the hashing.) The groupBy shuffles only (id, base) longs and
    * aggregates partially map-side — the shape that scales. */
  private def signaturesOf(exploded: DataFrame, k: Int,
                           tier: DigestTier = Md5Tier): DataFrame = {
    val mins = (0 until k).map { i =>
      min((col("b") * (2 * i + 1) + (101 * i + 17)) % MinHashPrime).as(s"m$i")
    }
    exploded
      .select(col("id"), shingleBaseHash(col("s"), tier).as("b"))
      .groupBy("id")
      .agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (id, band) rows of a signature frame — the LSH bucket index. At
    * scale this frame is what an incremental pipeline PERSISTS for the
    * corpus (computed once per document ever, not once per run). */
  private def bandKeysOf(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("id"),
      explode(lshBands(col("sig"), bands, rows)).as("band"))

  /** INCREMENTAL near-dup: match a new `batch` against an existing
    * `corpus` (both carrying `idCol` + `textCol`) without any
    * batch-internal or corpus-internal pairing — the daily-ingest gate
    * that asks "which incoming documents near-duplicate something we
    * already have?". Returns (batch_id, corpus_id, jaccard) pairs with
    * jaccard ≥ threshold; quarantine = distinct batch_id.
    *
    * Scale shape (corpus ≫ batch): the batch's band keys BROADCAST to
    * the corpus band scan — the corpus is never shuffled, never
    * self-joined, and only candidate corpus docs pay the exact-Jaccard
    * verify (their shingle arrays join the candidate list by id). The
    * corpus (id, band) index is deterministic per document, so a real
    * pipeline materializes it once ([[bandKeysOf]] over stored
    * signatures) and each day's run touches only batch-sized state. */
  def incrementalMinHashLsh(corpus: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            shingleN: Int = 2, k: Int = 24, bands: Int = 4,
                            rows: Int = 6, threshold: Double = 0.8): DataFrame = {
    val shing = wordShingles(col(textCol), shingleN)
    val sigSh = wordShingleMultiset(col(textCol), shingleN)
    def explodedOf(df: DataFrame) =
      df.select(col(idCol).as("id"), explode(sigSh).as("s"))
    val corpusBands = bandKeysOf(signaturesOf(explodedOf(corpus), k), bands, rows)
    val batchBands = bandKeysOf(signaturesOf(explodedOf(batch), k), bands, rows)
    val cand = corpusBands.as("c")
      .join(broadcast(batchBands.as("n")), col("c.band") === col("n.band"))
      .select(col("n.id").as("batch_id"), col("c.id").as("corpus_id"))
      .distinct()
    cand
      .join(batch.select(col(idCol).as("batch_id"), shing.as("shn")), "batch_id")
      .join(corpus.select(col(idCol).as("corpus_id"), shing.as("shc")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        jaccard(col("shn"), col("shc")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 32-bit SimHash fingerprint as a '0'/'1' string.
    *
    * Bit j of a token's hash is 1 iff hex digit j of `md5(token)` has its
    * top bit set (digit ≥ '8') — 32 independent fair bits from one md5.
    * Fingerprint bit j is the sign of the ±1 vote sum over all tokens
    * (with multiplicity). Near-dup banding uses [[simHashBandKeys]].
    *
    * Evaluates through the native [[graft.functions.SimHash32]]
    * expression: the votes accumulate in one int[32] straight from the
    * digest nibbles, with no per-token hex split, 32-int array or
    * zip_with fold (measured 3.0 s -> 0.8 s on q32 at sf0.1).
    */
  def simHash32(text: Column): Column = graft.functions.SimHash32.column(text)

  /** Band keys over a bit-string fingerprint: `bands` equal slices, each
    * prefixed with its index. Two docs within hamming distance d collide
    * on ≥1 band whenever d < bands (pigeonhole). */
  def simHashBandKeys(fp: Column, bits: Int, bands: Int): Column = {
    val width = bits / bands
    transform(sequence(lit(0), lit(bands - 1)),
      g => concat(g.cast("string"), lit(":"), fp.substr(g * lit(width) + lit(1), lit(width))))
  }

  // ------------------------------------------------------------------
  // Embedding cosine near-dup
  // ------------------------------------------------------------------

  /** Quantized embedding: floor(x * 10000) per element as long. Exact
    * integer arithmetic from identical doubles — engine-portable. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 10000).cast("long"))

  /** Integer dot product of two quantized vectors (exact in long).
    *
    * Evaluates through the native codegen'd [[graft.functions.QDot]]
    * expression, which is immune to the interpreted-lambda cliff of
    * the `aggregate(zip_with(a, b, *))` fold: inside whole-stage
    * codegen the two are equal (0.11 vs 0.13 s per 1M×64 dots,
    * DESIGN.md §2), but on plan shapes that fall OUT of codegen (e.g.
    * scoring pairs joined from a checkpointed frame) the lambda runs
    * interpreted at ~9× the cost — measured 3.05 s → 0.32 s on
    * semanticDedup's 250k-pair verify at sf0.1. */
  def qdot(a: Column, b: Column): Column = graft.functions.QDot.column(a, b)

  /** Cosine similarity of two quantized vectors: exact integer dot and
    * norms, double only in the final division. NOTE: evaluates both
    * norms per call — when scoring many pairs, precompute the norm once
    * per vector and use [[qcosineWithNorms]] (3× less work per pair). */
  def qcosine(a: Column, b: Column): Column =
    qdot(a, b).cast("double") / sqrt((qdot(a, a) * qdot(b, b)).cast("double"))

  /** Cosine from a pair dot product and per-vector precomputed squared
    * norms (`qdot(v, v)` evaluated once per vector, before any join). */
  def qcosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    qdot(a, b).cast("double") / sqrt((na * nb).cast("double"))

  /** Deterministic hyperplane weights for sign-LSH: weight (j, i) =
    * (first 15 md5 hex digits of "j,i") mod 2001 − 1000 — a pseudo-random
    * integer in [−1000, 1000], reproducible in any engine with md5
    * (DuckDB: ('0x' || substr(md5(j || ',' || i), 1, 15))::BIGINT).
    * Computed once driver-side and embedded as literals, so executors
    * never hash per (row, plane, dim). */
  def hyperplaneWeights(nPlanes: Int, dim: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { j =>
      (0 until dim).map { i =>
        val hex = md.digest(s"$j,$i".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 15)
        java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
      }
    }
  }

  /** Sign bits of a quantized vector against literal hyperplanes, as a
    * '0'/'1' string (bit j = sign of q · w_j). One dot product per
    * plane — ~nPlanes·dim integer multiplies per row, no shuffle. The
    * dot goes through [[qdot]] (the native codegen'd expression with a
    * live session): on checkpointed inputs — semanticDedup's banding
    * reads one — the lambda fold would run interpreted at ~9× the cost
    * (the QDot lesson, DESIGN.md §2). */
  def hyperplaneBits(q: Column, weights: Seq[Seq[Long]]): Column =
    concat_ws("", weights.map { w =>
      val wl = array(w.map(lit): _*)
      when(qdot(q, wl) > 0, "1").otherwise("0")
    }: _*)

  /** Cosine near-duplicate pairs blocked by hyperplane sign-LSH — the
    * scale path for embedding near-dup. Same banded-self-join shape as
    * [[minHashLshWith]]: vectors colliding on ≥1 band of `nPlanes /
    * bands` sign bits (within the same `blockCols` values) become
    * candidates; candidates are exact-verified by quantized cosine.
    * Approximate by design — a pair collides on a band with probability
    * (1 − θ/π)^rows — but deterministic for a given weight seed, and the
    * pair space is bounded by bucket sizes instead of O(group²). */
  def embeddingCosineLsh(df: DataFrame, idCol: String, vecCol: String,
                         blockCols: Seq[String], dim: Int, nPlanes: Int,
                         bands: Int, threshold: Double): DataFrame = {
    val weights = hyperplaneWeights(nPlanes, dim)
    val vecs = df.select(col(idCol).as("id") +: blockCols.map(col) :+
        quantize(col(vecCol)).as("q"): _*)
      .withColumn("nrm", qdot(col("q"), col("q")))
    val banded = vecs
      .select(col("id") +: blockCols.map(col) :+
        explode(simHashBandKeys(hyperplaneBits(col("q"), weights),
          nPlanes, bands)).as("band"): _*)
    val joinCond = (blockCols.map(c => col(s"x.$c") === col(s"y.$c")) :+
      (col("x.band") === col("y.band")) :+ (col("x.id") < col("y.id")))
      .reduce(_ && _)
    val cand = banded.as("x").join(banded.as("y"), joinCond)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(vecs.select(col("id").as("id_a"), col("q").as("qa"), col("nrm").as("na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("q").as("qb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        qcosineWithNorms(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SEMANTIC DECONTAMINATION — the cross-set sibling of
    * [[embeddingCosineLsh]]: flag every CORPUS vector whose cosine
    * against some BENCHMARK vector reaches `threshold`, by blocking
    * the two sets on the SAME hyperplane sign-LSH bands (same weight
    * seed ⇒ same band keys on both sides) and exact-verifying only the
    * collisions. This is the embedding-level version of the n-gram
    * decontamination ladder (q49 shingle overlap, q103 Bloom): n-gram
    * checks miss paraphrases — a benchmark item rewritten in other
    * words shares no shingles but sits next to the original in
    * embedding space, which is exactly what the cosine test catches.
    *
    * Shape at scale mirrors [[incrementalMinHashLsh]]'s asymmetry: the
    * corpus is never self-joined — each corpus band row meets only the
    * benchmark's rows for that band key, so cost is corpus-linear with
    * benchmark-sized buckets (broadcast-able when the benchmark is
    * small). Recall is the banding S-curve, stated not hidden.
    *
    * Returns one row per CONTAMINATED corpus vector: (idCol, n_hits,
    * max_cosine) — n_hits = benchmark items it matches. */
  def semanticDecontamination(corpus: DataFrame, bench: DataFrame,
                              idCol: String, vecCol: String, dim: Int,
                              nPlanes: Int, bands: Int,
                              threshold: Double): DataFrame = {
    val weights = hyperplaneWeights(nPlanes, dim)
    def prep(df: DataFrame) =
      df.select(col(idCol).as("id"), quantize(col(vecCol)).as("q"))
        .withColumn("nrm", qdot(col("q"), col("q")))
    def bandRows(vecs: DataFrame) = vecs.select(col("id"),
      explode(simHashBandKeys(hyperplaneBits(col("q"), weights),
        nPlanes, bands)).as("band"))
    val cv = prep(corpus)
    val bv = prep(bench)
    val cand = bandRows(cv).as("c")
      .join(bandRows(bv).as("b"), col("c.band") === col("b.band"))
      .select(col("c.id").as("cid"), col("b.id").as("bid"))
      .distinct()
    cand
      .join(cv.select(col("id").as("cid"), col("q").as("qc"),
        col("nrm").as("nc")), "cid")
      .join(bv.select(col("id").as("bid"), col("q").as("qb"),
        col("nrm").as("nb")), "bid")
      .select(col("cid"),
        qcosineWithNorms(col("qc"), col("qb"), col("nc"), col("nb"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .groupBy(col("cid").as(idCol))
      .agg(count(lit(1)).as("n_hits"), max(col("cosine")).as("max_cosine"))
  }

  /** Brute-force cosine near-duplicate pairs (id_a < id_b, cos ≥
    * threshold). The O(n²) baseline — at scale use [[embeddingCosineLsh]]
    * or IVF ([[Similarity]]) to bound the pair space. */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    val q = df.select(col(idCol).as("id"), quantize(col(vecCol)).as("q"))
      .withColumn("nrm", qdot(col("q"), col("q")))
    q.as("a").join(q.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        qcosineWithNorms(col("a.q"), col("b.q"), col("a.nrm"), col("b.nrm"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SEMANTIC dedup (SemDeDup — Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with trained centroids, call two
    * documents duplicates when their embeddings' cosine exceeds
    * `threshold` WITHIN a cluster, and keep one representative (the
    * minimum id) per duplicate group. The clustering is what makes the
    * pair space tractable: pairwise comparison happens only inside a
    * cluster, so `k` is the cost/recall knob — cross-cluster duplicates
    * are missed by design (the paper's ε-approximation), stated rather
    * than hidden.
    *
    * Assignment reuses [[KMeans.lloyd]]'s exact rule (min squared-L2,
    * ties to the lowest cluster) over broadcast centroids; within-cluster
    * pairs are an equi-join on the cluster key; duplicate groups close
    * over [[Graph.connectedComponents]] min-label propagation. All
    * scoring is quantized-integer ([[quantize]]/[[qdot]]), so the result
    * is engine-deterministic.
    *
    * PAIR-SPACE SHAPE — the 100 TB knob. With `subPlanes = 0` the
    * within-cluster join is ALL-PAIRS inside each cluster: cost
    * O(Σ cᵢ²), which is only tractable when cluster sizes are bounded —
    * i.e. the caller grows k with the corpus (k ∝ n / target-cluster-
    * size, the SemDeDup paper's own regime where k is tens of thousands
    * for billions of documents). With a FIXED k the clusters grow
    * linearly with the corpus and this path is quadratic — so for
    * corpus-scale runs pass `subPlanes`/`subBands` (and `dim`): each
    * cluster is then sub-blocked by hyperplane sign-LSH
    * ([[hyperplaneBits]] over the same quantized vectors, banded by
    * [[simHashBandKeys]]) and the self-join key becomes (cluster, band),
    * bounding the pair space by bucket sizes exactly as
    * [[embeddingCosineLsh]] does across the whole corpus. Like any LSH
    * blocking this is a recall trade — a qualifying pair is a candidate
    * with probability 1 − (1 − (1 − θ/π)^(subPlanes/subBands))^subBands
    * — deterministic for the fixed weight seed, stated rather than
    * hidden.
    *
    * Returns one row per vector: (id, cluster, keep_id) with
    * keep_id = the minimum id of its duplicate group (itself when it has
    * no duplicate). */
  def semanticDedup(emb: DataFrame, centroids: DataFrame, idCol: String,
                    vecCol: String, threshold: Double,
                    subPlanes: Int = 0, subBands: Int = 0,
                    dim: Int = 0): DataFrame = {
    require(subPlanes == 0 || (subBands > 0 && dim > 0),
      "sub-banding needs subPlanes, subBands and dim all set")
    // checkpoint the quantize+norm projection: it feeds BOTH the
    // centroid-distance scoring and the join-back, and un-checkpointed
    // each subtree would rescan the corpus and recompute the O(dim)
    // norms twice
    val vecs = emb.select(col(idCol).as("id"), quantize(col(vecCol)).as("v"))
      .withColumn("nrm", qdot(col("v"), col("v")))
      .localCheckpoint()
    // Assignment scores via ONE native qdot per (vector, cluster)
    // instead of the interpreted zip_with/aggregate squared-distance
    // lambda (HOFs are CodegenFallback — r21): argmin d² == argmin
    // (|c|² − 2⟨v,c⟩), the |v|² term being constant within each id
    // group, so the max_by winner and its tie-breaks are unchanged.
    val assigned = vecs
      .join(broadcast(centroids.select(col("cluster"), col("centroid").as("cv"))
        .withColumn("ncv", qdot(col("cv"), col("cv")))))
      .select(col("id"), col("cluster"),
        (col("ncv") - lit(2L) * qdot(col("v"), col("cv"))).as("d2"))
      .groupBy("id")
      .agg(expr("max_by(cluster, struct(-d2, -cluster))").as("cluster"))
      .join(vecs, "id")
      // consumed three times (both self-join sides + final output)
      .localCheckpoint()
    graft.Checkpoints.free(vecs) // superseded by the assigned checkpoint
    val pairs =
      if (subPlanes > 0) {
        // scale path: candidates co-locate on (cluster, band) — the
        // per-key pair space is bucket-sized, never cluster-sized
        val cand = semanticCandidates(assigned, subPlanes, subBands, dim)
        cand
          .join(assigned.select(col("id").as("ida"), col("v").as("va"),
            col("nrm").as("na")), "ida")
          .join(assigned.select(col("id").as("idb"), col("v").as("vb"),
            col("nrm").as("nb")), "idb")
          .filter(qcosineWithNorms(col("va"), col("vb"), col("na"), col("nb"))
            >= threshold)
          .select(col("ida"), col("idb"))
      } else {
        // exact path: all pairs inside each cluster — requires bounded
        // cluster sizes (k grown with the corpus; see the docstring)
        val left = assigned.select(col("cluster"), col("id").as("ida"),
          col("v").as("va"), col("nrm").as("na"))
        val right = assigned.select(col("cluster"), col("id").as("idb"),
          col("v").as("vb"), col("nrm").as("nb"))
        left.join(right, Seq("cluster"))
          .filter(col("ida") < col("idb"))
          .filter(qcosineWithNorms(col("va"), col("vb"), col("na"), col("nb"))
            >= threshold)
          .select(col("ida"), col("idb"))
      }
    val comp = Graph.connectedComponents(pairs, "ida", "idb")
    assigned.select(col("id"), col("cluster"))
      .join(comp, col("id") === col("node"), "left")
      .select(col("id").as(idCol), col("cluster"),
        coalesce(col("component"), col("id")).as("keep_id"))
  }

  /** Within-cluster candidate pairs for [[semanticDedup]]'s sub-banded
    * path: explode each assigned vector into its hyperplane sign-LSH
    * band keys and self-join on (cluster, band). Distinct (ida, idb)
    * with ida < idb. The band computation is ~subPlanes·dim integer
    * multiplies per row over the already-checkpointed projection — no
    * extra scan of the source. */
  private[graft] def semanticCandidates(assigned: DataFrame, subPlanes: Int,
                                        subBands: Int, dim: Int): DataFrame = {
    val weights = hyperplaneWeights(subPlanes, dim)
    val banded = assigned.select(col("cluster"), col("id"),
      explode(simHashBandKeys(hyperplaneBits(col("v"), weights),
        subPlanes, subBands)).as("band"))
    banded.as("x").join(banded.as("y"),
        col("x.cluster") === col("y.cluster") &&
          col("x.band") === col("y.band") && col("x.id") < col("y.id"))
      .select(col("x.id").as("ida"), col("y.id").as("idb"))
      .distinct()
  }

  // ------------------------------------------------------------------
  // Span-level and containment dedup
  // ------------------------------------------------------------------

  /** Per-document DUPLICATED-SPAN census: for each document, how many of
    * its distinct word `n`-gram spans also occur in at least one OTHER
    * document — the span-level view of corpus duplication (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better",
    * find exact duplicate substrings with a suffix array; the
    * distributed equivalent is this fixed-width span census, which is
    * what the dedup decisions consume). Returns
    * (id, n_spans, n_dup_spans, dup_permille) with `dup_permille` an
    * exact integer `1000·dup div spans` — no float ratio to diverge
    * across engines.
    *
    * Scale shape: explode distinct spans (rows are (id, span)-unique by
    * construction), ONE map-side-combinable count per span — the row
    * count per span IS its document frequency — then a join back and a
    * per-document aggregate. Spans shuffle as [[digest64]] keys, not
    * strings (8 bytes instead of ~8 words; measured 5.0 s → 1.6 s at
    * sf0.1). The span-key shuffle is the skew point (stop-phrase spans
    * are heavy hitters): the aggregation combines partially map-side,
    * and the join back is AQE-skew-splittable. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame = {
    // No ScanScale here (measured neutral, r22: 0.85 → 1.00 s — the
    // native digest map work is not this query's bottleneck).
    val spans = df.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), n)).as("gs"))
      .select(col("id"), digest64(col("gs")).as("g"))
      // two consumers (freq + join back); the gram construction is the
      // dominant cost (interpreted higher-order transform) — run it once
      .localCheckpoint()
    val freq = spans.groupBy("g").agg(count(lit(1)).as("ndocs"))
    spans.join(freq, "g")
      .groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("id").as(idCol), col("n_spans"), col("n_dup_spans"),
        expr("(1000 * n_dup_spans) div n_spans").as("dup_permille"))
  }

  /** CONTAINMENT near-duplicates: pairs where one document's shingle set
    * is mostly inside the other's — containment(A→B) = |A∩B| / |A|.
    * This catches what symmetric Jaccard (and therefore MinHash LSH)
    * structurally misses: a short document quoted inside a long one has
    * high containment but low Jaccard, so no band ever collides.
    *
    * Blocking is RARE-SHINGLE PREFIX filtering (the PPJoin family,
    * Xiao et al. 2008): each document probes with its `probes`
    * globally-rarest shingles (ties broken on the shingle digest — a
    * total, data-derived order any engine reproduces), and only pairs
    * sharing a probe shingle are verified. A contained document's rare
    * shingles are the ones most likely shared with its container, which
    * is what makes the recall/cost knob effective; like LSH banding it
    * IS a recall trade, stated rather than hidden. Shingles shuffle as
    * [[digest64]] keys throughout (8-byte keys for df, probe pick,
    * candidate generation and the verify joins alike).
    *
    * Verification is exact and integer-only: candidate pairs join both
    * span sets on the shingle, `|A∩B|` is a count, and the permille
    * containments are `1000·inter div size` — bit-identical on any
    * engine. Returns (doc_a, doc_b, cont_a_permille, cont_b_permille)
    * with doc_a < doc_b, kept when either side ≥ `thresholdPermille`.
    *
    * Scale shapes: document frequency and sizes are map-side-combinable
    * aggregates; the probe pick is a per-document top-`probes` window
    * over (df, shingle) — bounded partitions, WindowGroupLimit prunes
    * pre-shuffle; candidate generation joins probes against the posting
    * rows on the shingle key (rare by selection, so fan-out is small);
    * the verify joins carry only (pair, shingle) rows for candidate
    * pairs, never the full pair space. */
  def containmentNearDup(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, probes: Int,
                         thresholdPermille: Int): DataFrame = {
    // Consumed 4× below (sizes, df, postings, verify). NOT
    // pre-partitioned by g (measured r22, 2.1 → 2.9 s): the g-keyed
    // consumers exchange post-partial-aggregation rows, far fewer
    // bytes than a raw repartition of the span table would shuffle.
    val spans = df.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), shingleN)).as("gs"))
      .select(col("id"), digest64(col("gs")).as("g"))
      .localCheckpoint()
    val sizes = spans.groupBy("id").agg(count(lit(1)).as("sz"))
    val dfreq = spans.groupBy("g").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("df"), col("g"))
    val probeKeys = spans.join(dfreq, "g")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= probes)
      .select(col("id").as("pid"), col("g"))
    val cands = probeKeys
      .join(spans.select(col("id").as("oid"), col("g")), "g")
      .filter(col("pid") =!= col("oid"))
      .select(least(col("pid"), col("oid")).as("a"),
        greatest(col("pid"), col("oid")).as("b"))
      .distinct()
    val inter = cands
      .join(spans.select(col("id").as("a"), col("g")), "a")
      .join(spans.select(col("id").as("b"), col("g")), Seq("b", "g"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), "b")
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        expr("(1000 * inter) div sza").as("cont_a_permille"),
        expr("(1000 * inter) div szb").as("cont_b_permille"))
      .filter(col("cont_a_permille") >= thresholdPermille ||
        col("cont_b_permille") >= thresholdPermille)
  }
}
