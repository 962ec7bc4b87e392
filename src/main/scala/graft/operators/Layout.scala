package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Space-filling-curve data layout: Morton (Z-order) interleaving of
  * two bounded integer dimensions.
  *
  * Why it belongs in a 100 TB engine: parquet file skipping prunes on
  * per-file min/max column stats, which a sort can only make tight for
  * its LEADING column. Sorting by the Morton code of (x, y) instead
  * tiles the (x, y) plane — every run of 4^k consecutive z-values is a
  * 2^k × 2^k square — so files get tight min/max bounds on BOTH
  * columns and selective predicates on either dimension skip files.
  * The repo's write-side layout queries (q70 directory partitioning,
  * q71 bucketing) cover coarse pruning; z-ordering is the fine-grained
  * complement for range predicates on two correlated scan columns
  * (`repartitionByRange(zval) + sortWithinPartitions(zval)` before the
  * write at scale).
  *
  * Pure bit arithmetic (shift/and/or) — codegen'd, zero shuffle, and
  * bit-identical in any engine that has `>>`/`&`, which is what the
  * q85 oracle recomputes.
  */
object Layout {

  /** Morton code of two non-negative columns, `bits` bits each
    * (columns must already be bounded below 2^bits, e.g. via `% 1024`
    * for bits=10). Bit i of x lands at position 2i, bit i of y at
    * 2i+1. */
  def morton(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "morton supports 1..31 bits per dim")
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** The same interleave as ANSI SQL text (for oracles / pushdown into
    * engines that speak `>>` and `&`), over column names `x` and `y`. */
  def mortonSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** ZONE MAP over a dataset laid out in `zoneExpr`-sized units (a
    * stand-in for files/row-groups): per zone, row count and min/max
    * of each stats column, plus whether a `[lo, hi]` range predicate
    * on the FIRST stats column can skip the zone entirely
    * (`hi < min ∨ lo > max` — the parquet footer-stats pruning rule,
    * made inspectable). The skipped-zone share is the measure of how
    * good a layout is for a predicate — this is the auditing companion
    * to the write-side layout ops (q70/q71/q85): compute it BEFORE
    * rewriting 100 TB into a new sort order, on a sample, to know
    * what the rewrite buys.
    *
    * One map-side-combinable aggregation; zones are metadata-sized
    * (one row each), never data-sized. */
  def zoneMap(df: org.apache.spark.sql.DataFrame, zoneExpr: Column,
              statsCol: Column, lo: Column, hi: Column): org.apache.spark.sql.DataFrame =
    df.groupBy(zoneExpr.as("zone"))
      .agg(count(lit(1)).as("n_rows"),
        min(statsCol).as("min_v"),
        max(statsCol).as("max_v"))
      .withColumn("skippable", hi < col("min_v") || lo > col("max_v"))

  /** SMALL-FILE COMPACTION PLAN: assign each file of a partition to a
    * target-sized output bin — the planning half of an OPTIMIZE /
    * rewrite-small-files pass over a 100 TB table (millions of 10 MB
    * files → target-sized rewrite groups, the #1 operational chore of
    * a long-lived lakehouse table).
    *
    * Deterministic byte-offset packing: files are walked in `fileCol`
    * order within each partition, and a file lands in the bin its
    * cumulative START offset falls in (`(cum − size) div target`). A
    * file can straddle a boundary, so a bin overfills by at most one
    * file — the same slack Spark's own `maxPartitionBytes` coalescing
    * accepts, in exchange for a plan that is pure window arithmetic
    * (no sequential first-fit state, so it parallelizes per
    * partition).
    *
    * Scale shape: the input is a file INVENTORY (metadata scale — one
    * row per file, not per record); the one window sorts each
    * partition's inventory, and bins stay contiguous in file order so
    * each rewrite task reads a consecutive run. Output: the inventory
    * plus (`bin`, `bin_files`, `bin_bytes`) — rows where
    * `bin_files > 1` are the merge work list. */
  def compactionPlan(files: org.apache.spark.sql.DataFrame,
                     partCol: String, fileCol: String, sizeCol: String,
                     targetBytes: Long): org.apache.spark.sql.DataFrame = {
    require(targetBytes >= 1, "need a positive target size")
    // ROWS frame, not the default RANGE: with RANGE, files tied on
    // fileCol would include each other's bytes in their own start
    // offset (double-count), breaking the one-file-overfill invariant;
    // ROWS walks strictly one file at a time regardless of ties.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCol).orderBy(fileCol)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wBin = org.apache.spark.sql.expressions.Window
      .partitionBy(partCol, "bin")
    files
      .withColumn("_cum", sum(col(sizeCol).cast("long")).over(w))
      .withColumn("bin",
        expr(s"(_cum - cast($sizeCol as bigint)) div $targetBytes"))
      .withColumn("bin_files", count(lit(1)).over(wBin))
      .withColumn("bin_bytes", sum(col(sizeCol).cast("long")).over(wBin))
      .drop("_cum")
  }

  /** JOIN-AMPLIFICATION AUDIT — "will this join explode?" answered
    * from two count aggregates BEFORE paying for the join: per join
    * key, the left and right multiplicities and their product (the
    * exact inner-join output rows for that key). The top-k keys by
    * output size are the skew hitters an engineer salts
    * ([[graft.operators.Events.saltedJoin]]) or filters; the audit
    * costs two map-side-combinable aggregates + one key-count-sized
    * equi-join + TakeOrderedAndProject — never the join itself.
    *
    * NULL keys are excluded, deliberately: SQL equality joins emit
    * nothing for NULL keys, so they amplify nothing (the audit mirrors
    * the join's own semantics). Keys keep their NATIVE type — no cast,
    * so string keys audit as strings and "01" never merges with "1";
    * callers wanting a specific output type cast the column first.
    * Returns (key, n_left, n_right, out_rows), top `k` by
    * (out_rows desc, key). */
  def joinAmplification(left: org.apache.spark.sql.DataFrame, leftKey: String,
                        right: org.apache.spark.sql.DataFrame, rightKey: String,
                        k: Int): org.apache.spark.sql.DataFrame = {
    val lc = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("key"))
      .agg(count(lit(1)).as("n_left"))
    val rc = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("key"))
      .agg(count(lit(1)).as("n_right"))
    lc.join(rc, "key")
      .select(col("key"), col("n_left"), col("n_right"),
        (col("n_left") * col("n_right")).as("out_rows"))
      .orderBy(col("out_rows").desc, col("key"))
      .limit(k)
  }

  /** ZONE-BLOOM PRUNING AUDIT — data skipping for STRING predicates,
    * the categorical sibling of [[zoneMap]]'s min/max footers (what
    * Parquet column Bloom filters do, made measurable): per zone, a
    * deterministic Bloom filter over the zone's distinct values; per
    * probe value, how many zones the filter skips, how many it
    * admits, and how many of those admissions are FALSE POSITIVES —
    * the number that decides whether `bits` is worth its footer bytes
    * before a 100 TB layout ships them.
    *
    * Same filter construction as
    * [[graft.operators.Curation.bloomContamination]] (ONE 60-bit
    * digest per value, the k positions derived by Kirsch–Mitzenmacher
    * double hashing — pos_j = (h1 + j·h2) mod bits; 32-bit words
    * folded with bit_or — partial-aggregable, no RNG, no sip-hash
    * seeds, rebuildable by any engine); probes' bit positions are
    * computed DRIVER-SIDE from the literal probe list (k·|probes|
    * longs) with the identical arithmetic and broadcast against the
    * zones×probes grid. A zone the
    * filter skips is GUARANTEED clean (Blooms never miss), so
    * `n_skippable` is safe I/O savings; `n_false_pos` is the measured
    * cost of the `bits` choice. Everything after the per-zone distinct
    * is zone-count-sized.
    * Returns (probe, n_zones, n_hits, n_maybe, n_false_pos,
    * n_skippable), one row per probe. */
  def zoneBloomAudit(df: org.apache.spark.sql.DataFrame, zone: Column,
                     valueCol: String, probes: Seq[String],
                     bits: Int = 4096, kHash: Int = 4,
                     tier: graft.operators.Dedup.DigestTier =
                       graft.operators.Dedup.Md5Tier): org.apache.spark.sql.DataFrame = {
    require(probes.nonEmpty, "need at least one probe value")
    require(bits >= 32 && bits % 32 == 0, "bits must be a multiple of 32")
    require(kHash >= 1 && kHash <= 16, "kHash in [1, 16]")
    val sp = df.sparkSession
    import sp.implicits._
    val zv = df
      .select(zone.cast("long").as("zone"),
        col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull)
      .distinct()
    // tier (r14): builder uses the tier's Column digest, probes its
    // DRIVER twin — the pair is property-pinned bit-for-bit per tier
    // (a desync turns guaranteed-clean skips into false negatives)
    val words = zv
      .select(col("zone"), explode(graft.operators.Dedup.bloomPositions(
        tier.digest(col("v")), kHash, bits)).as("pos"))
      .select(col("zone"), expr("pos div 32").as("widx"),
        expr("shiftleft(1L, cast(pos % 32 as int))").as("bit"))
      .groupBy("zone", "widx")
      .agg(expr("bit_or(bit)").as("word"))
    // probe bit positions from the literal list — driver arithmetic,
    // the shared double-hash derivation
    val probeRows = probes.flatMap { p =>
      val d = tier.digestOf(p)
      graft.operators.Dedup.bloomPositionsOf(d, kHash, bits)
        .map(pos => (p, pos / 32, 1L << (pos % 32).toInt))
    }
    val pDf = probeRows.toDF("probe", "widx", "bit")
    val zones = zv.select("zone").distinct()
    val checks = zones.crossJoin(broadcast(pDf))
      .join(words, Seq("zone", "widx"), "left")
      .withColumn("_set",
        when(col("word").isNotNull &&
          (col("word").bitwiseAND(col("bit")) =!= 0L), 1L).otherwise(0L))
      .groupBy("zone", "probe")
      .agg(min(col("_set")).as("_may"))
    val hits = zv.filter(col("v").isin(probes: _*))
      .select(col("zone"), col("v").as("probe"))
      .withColumn("_hit", lit(1L))
    checks.join(hits, Seq("zone", "probe"), "left")
      .groupBy("probe")
      .agg(count(lit(1)).as("n_zones"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hits"),
        sum(col("_may")).as("n_maybe"))
      .select(col("probe"), col("n_zones"), col("n_hits"), col("n_maybe"),
        (col("n_maybe") - col("n_hits")).as("n_false_pos"),
        (col("n_zones") - col("n_maybe")).as("n_skippable"))
      .orderBy("probe")
  }

  /** Consistent-hash ring: `vnodes` virtual nodes per shard, each at
    * position md5("shard-s#v")'s first 15 hex digits (a 60-bit integer
    * — reproducible in any engine with md5, the [[graft.operators.Dedup.hyperplaneWeights]]
    * convention). Positions are required distinct (60-bit space,
    * S·V ≤ a few thousand — collisions are astronomically unlikely,
    * and the check makes ties impossible rather than improbable, so
    * argmin assignment is total). */
  def hashRing(shards: Int, vnodes: Int): Seq[(Long, Int)] = {
    require(shards >= 1 && vnodes >= 1, "need positive shards and vnodes")
    val md = java.security.MessageDigest.getInstance("MD5")
    val ring = for (s <- 0 until shards; v <- 0 until vnodes) yield {
      val hex = md.digest(s"shard-$s#$v".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16), s)
    }
    require(ring.map(_._1).distinct.size == ring.size,
      "vnode position collision — pick a different vnodes count")
    ring.sortBy(_._1)
  }

  /** 60-bit ring modulus shared by [[hashRing]] positions and key
    * hashes. */
  val RingModulus: Long = 1L << 60

  /** Ring assignment of a 60-bit key hash: the shard of the first
    * vnode CLOCKWISE from the key (minimum (vh − kh) mod 2^60 ≡ the
    * sorted-ring successor, wrapping past the top). The ring enters the
    * plan as two ARRAY LITERALS and the per-row work is a log2(S·V)
    * binary search in a native expression
    * ([[graft.functions.RingLookup]]) — the prior formulation (S·V
    * literal-built (distance, shard) structs + array_min per row)
    * generated megabyte-scale codegen that cost seconds of Janino
    * compile per plan and S·V struct allocations per row (measured on
    * q177; DESIGN.md §5). Zero joins either way. */
  def ringAssign(keyHash: Column, ring: Seq[(Long, Int)]): Column = {
    // hashRing sorts by position — RingLookup's binary-search contract.
    graft.functions.RingLookup.column(keyHash, ring.map(_._1).toArray,
      ring.map(_._2.toLong).toArray)
  }

  /** SHARD-SCALING AUDIT — consistent hashing vs modulo, per row.
    * Assigns each key to a shard four ways: `id mod S`, `id mod S+1`,
    * and a [[hashRing]] of S and S+1 shards (same vnode positions for
    * the surviving shards — only the new shard's vnodes appear, which
    * is the whole point of the ring). The downstream aggregate of
    * `shard_mod ≠ shard_mod_new` vs `shard_ring ≠ shard_ring_new` is
    * the classic result made measurable: rehashing by modulo moves
    * ~S/(S+1) of ALL data when a shard is added, the ring moves ~1/(S+1)
    * — the difference between a full-cluster reshuffle and an
    * incremental handoff when a 100 TB store scales out.
    *
    * Shape: pure projection (md5 + (S+S+2)·V integer comparisons per
    * row), zero shuffle, deterministic on any engine with md5. */
  def consistentShards(df: org.apache.spark.sql.DataFrame, idCol: String,
                       shards: Int, vnodes: Int): org.apache.spark.sql.DataFrame = {
    // The rings enter the plan as array literals probed by binary
    // search (RingLookup) — per-row cost is log2(S·V), but the literal
    // still rides along with every task. Bound it so a misconfigured
    // call can't embed a multi-megabyte ring in the plan (rings larger
    // than this belong in a broadcast-join formulation).
    require((shards + 1).toLong * vnodes <= 65536,
      s"ring too large to embed as a plan literal: " +
        s"(${shards}+1) shards x $vnodes vnodes > 65536")
    val kh = expr(
      s"cast(conv(substring(md5(cast($idCol as string)), 1, 15), 16, 10) as bigint)")
    val oldRing = hashRing(shards, vnodes)
    val newRing = hashRing(shards + 1, vnodes)
    df.select(col(idCol),
        pmod(col(idCol), lit(shards.toLong)).as("shard_mod"),
        pmod(col(idCol), lit(shards.toLong + 1)).as("shard_mod_new"),
        kh.as("_kh"))
      .withColumn("shard_ring", ringAssign(col("_kh"), oldRing))
      .withColumn("shard_ring_new", ringAssign(col("_kh"), newRing))
      .drop("_kh")
  }
}
