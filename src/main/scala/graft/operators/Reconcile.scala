package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Snapshot reconciliation digests (anti-entropy): collapse each
  * bucket of rows to the XOR of their 60-bit row hashes. Two table
  * versions then compare by shipping |buckets| (digest, count) rows
  * instead of the tables — the first level of a Merkle comparison,
  * which is how a 100 TB replica check moves kilobytes, not data.
  * Mismatched buckets localize the diff for a targeted row-level
  * repair pass over just those buckets.
  *
  * XOR is commutative/associative/self-inverse, so the aggregate is
  * map-side partial, order-independent, and incrementally maintainable
  * (apply a changed row's hash twice to remove it). Collisions: XOR of
  * 60-bit md5 prefixes — adversarial inputs could cancel, fine for
  * ops-grade drift detection (use the full md5 and a real Merkle tree
  * for cryptographic guarantees). Row strings must be built from
  * deterministically-rendered columns (integers; quantized cents for
  * money — never raw float-to-string).
  */
object Reconcile {

  /** Per-`bucket` digest of `rowStr`: (bucket, n_rows, digest). */
  def digest(df: DataFrame, bucket: Column, rowStr: Column): DataFrame = {
    df.select(bucket.as("bucket"), Dedup.digest64(rowStr).as("_h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(_h)").as("digest"))
  }

  /** ROW-LEVEL SNAPSHOT DIFF — the repair pass [[digest]] localizes:
    * given two versions of a keyed table, classify every key as added /
    * removed / changed / same and count, per compared column, how many
    * surviving rows changed it. This is the "what actually moved
    * between yesterday's snapshot and today's" report — the first
    * question after a drift alarm, and the regression gate before
    * promoting a rebuilt 100 TB table (an unexpected `col_changed:price
    * = 40M` blocks the swap; `added ≈ yesterday's ingest` clears it).
    *
    * Comparison is null-safe (`<=>`): NULL→value and value→NULL count
    * as changes, NULL→NULL does not. Keys must be unique AND non-NULL
    * per snapshot (a keyed table contract) and the operator ENFORCES
    * both: a duplicate or NULL key on either side raises at runtime
    * with a named error, rather than silently fanning the join out
    * (duplicates) or surfacing join-blind phantom rows (NULL never
    * equi-joins) and corrupting every metric — the wrong failure
    * modes for a promotion gate. Columns are compared on
    * their native types, so float columns inherit float equality —
    * quantize first if that matters.
    *
    * Shape: ONE full-outer shuffle join on the key (co-partition or
    * bucket both snapshots by the key at scale and it is shuffle-free),
    * then a single map-side-combinable aggregate to a metadata-sized
    * result (4 + |cols| rows). Returns (metric, n) ordered by metric:
    * `added`, `removed`, `rows_changed`, `rows_same`,
    * `col_changed:<col>` per compared column. */
  def rowDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
              cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to compare")
    // Uniqueness guard: one groupBy per side (hash-partitioned on the
    // key, so the full-outer join below reuses the exchange — no extra
    // shuffle) that raises on a duplicate key instead of letting the
    // join fan out. first() is deterministic here: the guard proves
    // each group has exactly one row.
    def guarded(df: DataFrame, side: String, pfx: String,
                presCol: String): DataFrame =
      df.select(col(keyCol).as("_k") +:
          cols.map(c => col(c).as(s"$pfx$c")): _*)
        .groupBy("_k")
        .agg(count(lit(1)).as("_n"),
          cols.map(c => first(col(s"$pfx$c")).as(s"$pfx$c")): _*)
        .select(col("_k") +:
          when(col("_n") > 1L || col("_k").isNull, raise_error(concat(
              lit(s"rowDiff: duplicate or NULL $side key "),
              coalesce(col("_k").cast("string"), lit("NULL")))))
            .otherwise(lit(1L)).as(presCol) +:
          cols.map(c => col(s"$pfx$c")): _*)
    val a = guarded(oldDf, "old-snapshot", "_a_", "_pa")
    val b = guarded(newDf, "new-snapshot", "_b_", "_pb")
    val j = a.join(b, Seq("_k"), "full_outer")
    val both = col("_pa").isNotNull && col("_pb").isNotNull
    val anyChange = cols.map(c => !(col(s"_a_$c") <=> col(s"_b_$c")))
      .reduce(_ || _)
    def n(c: Column) = sum(when(c, 1L).otherwise(0L))
    val aggCols = Seq(
      n(col("_pa").isNull).as("added"),
      n(col("_pb").isNull).as("removed"),
      n(both && anyChange).as("rows_changed"),
      n(both && !anyChange).as("rows_same")) ++
      cols.map(c =>
        n(both && !(col(s"_a_$c") <=> col(s"_b_$c"))).as(s"_cc_$c"))
    val agg = j.agg(aggCols.head, aggCols.tail: _*)
    val pairs = Seq("added", "removed", "rows_changed", "rows_same")
      .map(m => s"'$m', $m") ++
      cols.map(c => s"'col_changed:$c', `_cc_$c`")
    agg.select(expr(
        s"stack(${pairs.size}, ${pairs.mkString(", ")}) as (metric, n)"))
      .orderBy("metric")
  }
}
