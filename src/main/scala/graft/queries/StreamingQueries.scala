package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams

/** Driver-checkable Structured Streaming queries: each runs a BOUNDED
  * streaming job (file source, `Trigger.AvailableNow`, memory sink) and
  * returns the sink's content as a DataFrame, so the oracle harness can
  * hash it like any batch query. This closes the round-1 gap where the
  * streaming operators were spec-only ("unbounded sources can't run
  * under Verify") — bounded triggers make the stream finite without
  * changing the operator under test.
  *
  * Determinism notes: the whole fixture is one parquet file, so the run
  * is a single data micro-batch (no arrival-order nondeterminism),
  * followed by the no-data batch in which the advanced watermark
  * finalizes append-mode results. The oracle mirrors Spark's emission
  * rule exactly: watermark = floor(max event-time ms) − delay, emit
  * windows with end ≤ watermark. Margins are safe: the fixture's max
  * ts sits hundreds of µs from any ms boundary, and hour windows sit
  * minutes from the cutoff, so the emitted set is stable even under
  * engines that round (rather than floor) the parquet TIMESTAMP(NANOS)
  * column to µs (moot since r4: the q60/q82 probes proved the oracle
  * engine floors, but the margins keep the contract robust anyway).
  */
object StreamingQueries {

  /** Load the events fixture as a STREAM, with the same TIMESTAMP(NANOS)
    * → µs conversion as the batch `Tables.load`. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.sessionDefaults(s)
    val path = s"$dir/events.parquet"
    val schema = s.read.parquet(path).schema
    // The file stream source wants a DIRECTORY; scope it to the events
    // file with a glob filter rather than copying the fixture around.
    val raw = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // µs not-adjusted-to-UTC fixture (r7): same normalization as
        // the batch Tables.load — UTC session ⇒ value-preserving cast.
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => raw
    }
  }

  /** Run a bounded streaming query into a memory sink and return its
    * final content.
    *
    * Two pieces of session hygiene, both measured against the r5 bench:
    *  - shuffle partitions drop to [[streamShufflePartitions]] for the
    *    run: every stateful operator builds one state store PER
    *    partition PER micro-batch, so at 32 partitions the seven
    *    bounded runs spent most of their ~23 s on state-store setup for
    *    a fixture that fits in a handful of tasks. (Real unbounded
    *    deployments size this to throughput; these runs are bounded
    *    correctness contracts.)
    *  - the memory sink's rows are copied into a checkpoint and the
    *    sink view is dropped — otherwise every `graft_qXX_sink` table
    *    (and the terminated query holding it) stays referenced for the
    *    whole session's lifetime.
    *
    * `rocksDb` runs the query on the RocksDB state-store provider,
    * transformWithState's requirement (see [[withStreamConf]]). */
  private val streamShufflePartitions = "1"

  private def runBounded(s: SparkSession, df: DataFrame, name: String,
                         mode: String, rocksDb: Boolean = false): DataFrame =
    runBoundedCounted(s, df, name, mode, rocksDb = rocksDb)._1

  /** [[runBounded]] plus the DATA-CARRYING micro-batch count of the
    * run. Consumers whose post-processing RE-AGGREGATES update-mode
    * sink rows (q251 re-sums bins) must assert the count is 1: a
    * multi-batch run re-emits updated bins and the re-sum would
    * double-count. The memory sink carries no batch id, so last-wins
    * dedup is not expressible sink-side — the single-batch contract is
    * asserted instead. Returned per-run (not stashed on the object) so
    * concurrent or interleaved runs can never read another query's
    * count.
    *
    * `parts` overrides the shuffle-partition count for the runs whose
    * STATE WORK dominates state-store setup. The default 1 is right
    * for fixture-scale operator contracts (setup cost per store per
    * batch swamps them), but q263 seeds the whole corpus bucket index
    * through initial state: measured at sf0.1, p1 15.8 s / p4 6.7 s /
    * p8 5.1 s / p32 38.2 s — seeding parallelizes until store setup
    * takes over, so 8 is the knee. */
  private def runBoundedCounted(s: SparkSession, df: DataFrame,
                                name: String, mode: String,
                                parts: String = streamShufflePartitions,
                                rocksDb: Boolean = false)
      : (DataFrame, Int) =
    withStreamConf(s, parts, rocksDb) {
      s.sql(s"DROP VIEW IF EXISTS $name")
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dataBatches = dataBatchCount(q)
      val out = s.table(name).localCheckpoint()
      s.catalog.dropTempView(name)
      (out, dataBatches)
    }

  /** The run's DATA-carrying micro-batch count — THE definition of
    * "data batch" for every single-batch-contract guard (q262's
    * admission pin, q268/q269/q271's doc_id-order oracles), single-
    * sourced so the rule can't fork between the memory-sink helper
    * above and explicit-checkpoint runs. */
  private def dataBatchCount(
      q: org.apache.spark.sql.streaming.StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  /** Scope a bounded run's stream settings: the low shuffle-partition
    * count and, with `rocksDb`, the RocksDB state-store provider
    * (transformWithState's requirement). A streaming query fixes its
    * SQL conf when it starts; the session values are restored for the
    * batch queries once the run ends. Streams stay on the shared
    * session because bounded runs on a session clone leaked listener-
    * bus registrations (ROADMAP #6). */
  private def withStreamConf[A](s: SparkSession,
      parts: String = streamShufflePartitions,
      rocksDb: Boolean = false)(body: => A): A = {
    val settings = Seq("spark.sql.shuffle.partitions" -> parts) ++
      Option.when(rocksDb)("spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider"))
    val prev = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Best-effort recursive delete for per-run temp checkpoint dirs —
    * the one streaming resource [[graft.Checkpoints.sweep]] can't
    * reach (it unpersists RDDs; it doesn't know about sink checkpoint
    * locations). */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.Cleanup.deleteRecursively(p)

  /** Train-once banded-signature artifact shared by the gate CONTRACT
    * queries (q268/q269/q271/q274) — the established pipeline-artifact
    * pattern (PipelineShared's pair/quality artifacts): production
    * bands a corpus ONCE and fans the banded frame out to the gate,
    * the index builder, and the audits, so the four queries that pin
    * gate CONTRACTS (capping, metrics, state audit, observed
    * emissions) stream the same materialized banding instead of each
    * re-running the md5 pipeline. q261/q263 stay full cold pipelines —
    * they ARE the end-to-end twins. Whichever consumer runs first pays
    * the build; the map below flags warmth for Bench's retime triage. */
  private val bandedArtifact =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def bandedDocsArtifact(s: SparkSession, dir: String): String =
    bandedArtifact.computeIfAbsent(dir, _ => {
      // Stable dir-hash-keyed path with mode(overwrite), like the
      // pair/quality/LPA artifacts (ADVICE r16 / VERDICT r16 #8): a
      // fresh createTempDirectory per JVM accumulated orphaned banded
      // parquet copies in /tmp across bench runs; overwriting one
      // target/ path bounds the footprint at one copy per data dir.
      val out = "target/graft-artifacts/banded_" +
        java.lang.Integer.toHexString(dir.hashCode)
      graft.streaming.DocStreams.bandedSignatures(
        s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "text", k = 24, bands = 4, rows = 6)
        .write.mode("overwrite").parquet(out)
      out
    })

  /** Banded artifact as a bounded STREAM (all files, one data batch). */
  private def bandedStream(s: SparkSession, dir: String): DataFrame = {
    val art = bandedDocsArtifact(s, dir)
    s.readStream.schema(s.read.parquet(art).schema).parquet(art)
  }

  /** Artifact-warmth flags for Bench's retime triage — same contract
    * as PipelineQueries.artifactBacked. Keyed by the BENCHED data dir
    * (ADVICE r16): an any-dir `isEmpty` check read warm for one dir
    * when only another dir's artifact had been built this session. */
  val artifactBacked: Map[String, String => Boolean] = {
    val banded = (dir: String) => bandedArtifact.containsKey(dir)
    Seq("q268_stream_neardup_capped", "q269_stream_gate_metrics",
      "q271_gate_state_audit", "q274_gate_observed_metrics")
      .map(_ -> banded).toMap
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Watermarked tumbling-window counts, append mode: only windows the
    // watermark has passed are emitted — the defining streaming-vs-batch
    // semantic, checked against an oracle that applies the same rule.
    "q61_stream_windows" -> ((s, dir) => {
      val out = EventStreams.windowedCounts(
        eventsStream(s, dir), "1 hour", "30 minutes")
      runBounded(s, out, "graft_q61_sink", "append")
        .orderBy("win_start", "event_type")
    }),

    // Streaming exact dedup on (user_id, event_type) within the
    // watermark horizon. The fixture arrives as ONE batch, so the
    // horizon never expires mid-run and exactly one row per key
    // survives. WHICH row wins depends on shuffle arrival order (same
    // as batch dropDuplicates), so the checked contract is the
    // parallelism-proof part: the surviving KEY SET.
    "q62_stream_dedup" -> ((s, dir) => {
      val deduped = EventStreams.dedupWithinWatermark(
        eventsStream(s, dir), Seq("user_id", "event_type"), "1 hour")
      runBounded(s, deduped.select("user_id", "event_type"),
        "graft_q62_sink", "append")
        .orderBy("user_id", "event_type")
    }),

    // Stateful gap sessionization via flatMapGroupsWithState. Emitted =
    // sessions closed by an in-batch gap (every session but each
    // user's last, since the fixture is one batch) plus last sessions
    // the advanced watermark times out:
    //   floor(last_us/1000) + gap_ms  <  floor(max_us/1000) − delay_ms.
    // The oracle applies the same rule; margins are ≥12 s (measured),
    // so <-vs-≤ and ms-floor effects cannot flip membership. The
    // checked columns are the robust set (ordinal + count), the same
    // contract shape as q43.
    // The same windowed aggregation in UPDATE mode: each batch emits
    // the windows it changed, watermark or not — so the bounded run
    // (one data batch + a finalization batch that changes nothing)
    // emits every window exactly once with its final value, and the
    // oracle is the plain batch aggregation. Contrast with q61, where
    // append mode suppresses windows the watermark hasn't passed:
    // OUTPUT MODE, not the aggregation, decides what reaches the sink.
    "q104_stream_update_windows" -> ((s, dir) => {
      val out = EventStreams.windowedCounts(
        eventsStream(s, dir), "1 hour", "30 minutes")
      runBounded(s, out, "graft_q104_sink", "update")
        .orderBy("win_start", "event_type")
    }),

    // Stream-stream inner interval join: purchases × views of the same
    // user within a 30-minute lookback. Inner matches emit on
    // discovery, so the bounded run's emitted PAIR SET equals the batch
    // interval join — which is exactly what the oracle computes. The
    // watermark + time-bound condition is what makes the join legal
    // (state bounded) rather than a semantics change.
    "q87_stream_stream_join" -> ((s, dir) => {
      val ev = eventsStream(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      val views = ev.filter(col("event_type") === "view")
      val pairs = EventStreams.intervalJoinPairs(purchases, views,
        "user_id", "event_id", lookbackMinutes = 30,
        watermarkDelay = "10 minutes")
      runBounded(s,
        pairs.select(col("left_id").as("purchase_id"),
          col("right_id").as("view_id")),
        "graft_q87_sink", "append")
        .orderBy("purchase_id", "view_id")
    }),

    // Stream-stream LEFT OUTER interval join: q87's pairing plus the
    // outer semantic — an unmatched purchase emits its null row only
    // once its state is EVICTED. Spark derives the left-side state
    // watermark conservatively from the join condition: the
    // `l_ts ≤ r_ts + 30min` bound yields watermark − 30 min, so
    // unmatched lefts inside that last half hour never finalize in the
    // bounded run (measured: one fixture purchase sits there). The
    // oracle applies the identical eviction rule; the nearest unmatched
    // purchase is 465 s from the cutoff, so boundary semantics cannot
    // flip membership. Nulls are coalesced to -1 in BOTH engines:
    // null-ordering under ORDER BY differs across them.
    "q127_stream_stream_left" -> ((s, dir) => {
      val ev = eventsStream(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      val views = ev.filter(col("event_type") === "view")
      val pairs = EventStreams.intervalJoinPairs(purchases, views,
        "user_id", "event_id", lookbackMinutes = 30,
        watermarkDelay = "10 minutes", joinType = "left_outer")
      runBounded(s,
        pairs.select(col("left_id").as("purchase_id"),
          coalesce(col("right_id"), lit(-1L)).as("view_id")),
        "graft_q127_sink", "append")
        .orderBy("purchase_id", "view_id")
    }),

    // Streaming snapshot maintenance via foreachBatch: each micro-batch
    // of change records folds into the running snapshot with the batch
    // CDC operator (Cdc.applyChanges) — the MERGE-INTO-per-batch shape
    // of a lakehouse ingestion job. localCheckpoint per batch plays the
    // role of the table write: the snapshot's lineage never grows with
    // batch count. Latest event per user wins; a trailing 'error' op
    // deletes the user.
    "q94_stream_upsert" -> ((s, dir) => {
      val changes = eventsStream(s, dir).select(
        col("user_id"), col("value"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"),
        col("event_id").as("seq"))
      var snapshot = s.sql(
        "SELECT CAST(NULL AS BIGINT) AS user_id, CAST(NULL AS DOUBLE) AS value WHERE 1=0")
      val fold: (DataFrame, Long) => Unit = (batch, _) => {
        val prev = snapshot
        snapshot = graft.operators.Cdc.applyChanges(
          snapshot, batch, Seq("user_id"), "seq", "op").localCheckpoint()
        // each batch's snapshot supersedes the last — free it, as a
        // real table write would let the old files age out
        graft.Checkpoints.free(prev)
      }
      withStreamConf(s) {
        val q = changes.writeStream
          .foreachBatch(fold)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      snapshot.orderBy("user_id")
    }),

    // Stream-static join: per-batch broadcast join against the
    // customer dimension (no join state, no watermark on the static
    // side), then windowed per-segment totals. Update mode + one data
    // batch ⇒ every window emits once with final values, so the oracle
    // is the plain batch join + aggregation.
    "q116_stream_static_join" -> ((s, dir) => {
      val dim = graft.Tables.load(s, dir, "customer")
      val out = EventStreams.enrichedWindowCounts(eventsStream(s, dir), dim,
        "user_id", "c_custkey", "c_mktsegment", "1 hour", "30 minutes")
      runBounded(s, out, "graft_q116_sink", "update")
        .orderBy("win_start", "c_mktsegment")
    }),

    // Streaming training-data quality gate: the batch pipeline's
    // quality scorer applied to a DOCUMENT stream — stateless, so
    // append mode emits every passing row in the data batch and the
    // oracle is the plain batch filter. The point under test is that
    // the curation operators compose with readStream unchanged (same
    // projection, no watermark, no state store).
    "q125_stream_quality_gate" -> ((s, dir) => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val gated = graft.operators.TextAnalysis
        .qualityWithTokenCount(docs, "doc_id", "text")
        .filter(col("quality") >= 0.5)
      runBounded(s, gated, "graft_q125_sink", "append")
        .orderBy("doc_id")
    }),

    "q66_stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event]
      val sessions = EventStreams.sessionize(s, ev, gapMinutes = 30,
        watermarkDelay = "10 minutes")
      val w = Window.partitionBy("user_id").orderBy("session_start")
      runBounded(s, sessions.toDF(), "graft_q66_sink", "append")
        .select(col("user_id"),
          row_number().over(w).cast("long").as("session_seq"),
          col("n_events"))
        .orderBy("user_id", "session_seq")
    }),

    // SLIDING windows streaming twin (q142's shape, q104's contract):
    // 2 h window / 1 h slide in UPDATE mode — the one data batch emits
    // every touched window once with its final value, so the oracle is
    // the batch sliding rollup. Watermark bounds state: each event
    // feeds two windows, and windows evict once the watermark passes.
    "q144_stream_sliding" -> ((s, dir) => {
      val out = eventsStream(s, dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,3)")).cast("double")
            .as("sum_value"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n_events"), col("sum_value"))
      runBounded(s, out, "graft_q144_sink", "update")
        .orderBy("win_start", "event_type")
    }),

    // Arbitrary state via Spark 4's transformWithState (RocksDB-backed
    // typed ValueState): per-user running totals emitted per event.
    // Append mode with no watermark dependency ⇒ the bounded one-batch
    // run emits the prefix sums of the (us, event_id) order, which is
    // the oracle's UNBOUNDED PRECEDING window. Sums are exact integer
    // milli-units (the DECIMAL(18,3) convention, pre-quantized so the
    // state fold is pure int64).
    "q134_stream_running_totals" -> ((s, dir) => {
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"),
          (col("value").cast("decimal(18,3)") * 1000).cast("long")
            .as("millis"))
        .as[EventStreams.EventMilli]
      val totals = EventStreams.runningTotals(s, ev)
      runBounded(s, totals.toDF(), "graft_q134_sink", "append",
        rocksDb = true).orderBy("event_id")
    }),

    // Streaming twin of q166: per-user event-type chains fold through
    // ONE string of transformWithState state; the sink's per-step rows
    // roll up to the identical transition matrix (same oracle SQL).
    // The aggregation runs batch-side over the bounded sink — in a
    // live deployment it would be a downstream streaming rollup.
    "q171_stream_transitions" -> ((s, dir) => {
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
        .as[EventStreams.EventTyped]
      val steps = EventStreams.transitions(s, ev)
      val sunk = runBounded(s, steps.toDF(), "graft_q171_sink", "append",
        rocksDb = true)
      val counts = sunk.groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n_trans"))
      counts
        .withColumn("_tot",
          sum("n_trans").over(Window.partitionBy("from_type")))
        .select(col("from_type"), col("to_type"), col("n_trans"),
          floor(lit(1000000L) *
            (col("n_trans").cast("double") / col("_tot").cast("double")))
            .as("p_micro"))
        .orderBy("from_type", "to_type")
    }),

    // Streaming twin of q193's count-min build: the (j, bucket)
    // counter table IS a streaming aggregation (update mode — each
    // touched counter emits its final value after the single data
    // batch), which is the canonical deployment of this sketch: count
    // frequencies on the stream, probe the counters at rest. The
    // lookup runs batch-side over the bounded sink with the same
    // broadcast join as the batch operator; est >= exact always.
    "q195_stream_count_min" -> ((s, dir) => {
      val depth = 4; val width = 256
      val ev = eventsStream(s, dir).select(col("event_type").as("_i"))
      val sk = ev
        .select(col("_i"),
          explode(array((0 until depth).map(lit): _*)).as("j"))
        .select(col("j"),
          (graft.operators.Dedup.digest64(
            concat(col("j").cast("string"), lit(":"), col("_i"))) % width)
            .as("bucket"))
        .groupBy("j", "bucket").agg(count(lit(1)).as("c"))
      val sunk = runBounded(s, sk, "graft_q195_sink", "update")
      val probes = graft.Tables.load(s, dir, "events")
        .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      graft.operators.Sketch.countMinLookup(sunk, probes, "event_type",
          depth, width)
        .select(col("event_type"), col("n_exact"), col("n_est"))
        .orderBy("event_type")
    }),

    // Streaming twin of q204's burstiness screen: per-user gaps emit
    // live through ONE O(1) state value (transformWithState, the q171
    // chain shape applied to timestamps); the CV² rollup runs
    // batch-side over the sunk gaps with q204's exact formula — same
    // oracle, byte for byte.
    "q207_stream_burstiness" -> ((s, dir) => {
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
        .as[EventStreams.EventTyped]
      val gaps = EventStreams.interArrivalGaps(s, ev)
      val sunk = runBounded(s, gaps.toDF(), "graft_q207_sink", "append",
        rocksDb = true)
      sunk.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap_s")).as("_sg"),
          sum(col("gap_s") * col("gap_s")).as("_sg2"))
        .filter(col("n_gaps") >= 20)
        .select(col("user_id"), col("n_gaps"),
          expr("_sg div n_gaps").as("mean_gap_s"),
          when(col("_sg") === 0L, lit(0L))
            .otherwise(floor(lit(1000000.0) *
              (col("n_gaps").cast("decimal(38,0)") * col("_sg2"))
                .cast("double") /
              (col("_sg").cast("decimal(38,0)") * col("_sg"))
                .cast("double") - lit(1000000.0))
              .cast("long"))
            .as("burstiness_micro"))
        .orderBy(col("burstiness_micro").desc, col("user_id"))
        .limit(20)
    }),

    // Streaming twin of q84's KMV sketch: per event type, k=64 longs
    // of transformWithState state ARE the sketch; the sink is a sketch
    // LOG whose batch-side kmvEstimate is correct over any number of
    // appended versions (bottom-k is idempotent under union — the
    // loosest state contract of the twins, no ordering needed).
    "q212_stream_kmv" -> ((s, dir) => {
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("event_type").as("k"),
          graft.operators.Dedup.digest64(col("user_id").cast("string")).as("h"))
        .as[EventStreams.KeyedHash]
      val sk = EventStreams.kmvSketchStream(s, ev, k = 64)
      val sunk = runBounded(s, sk.toDF(), "graft_q212_sink", "append",
        rocksDb = true)
      graft.operators.Sketch.kmvEstimate(
          sunk.select(col("k").as("event_type"), col("h")),
          Seq("event_type"), 64)
        .orderBy("event_type")
    }),

    // Streaming twin of q91's funnel: per-user (stage, stage-time)
    // state advances live with the batch operator's inclusive `>=`
    // rule; the stage census is a max-per-user rollup over the sunk
    // advances — same oracle as q91, byte for byte.
    "q241_stream_funnel" -> ((s, dir) => {
      import s.implicits._
      val stages = Seq("signup", "view", "purchase")
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
        .as[EventStreams.EventTyped]
      val advances = EventStreams.funnelStages(s, ev, stages)
      val sunk = runBounded(s, advances.toDF(), "graft_q241_sink",
        "append", rocksDb = true)
      val maxStage = sunk.groupBy("user_id").agg(max("stage").as("_ms"))
      val names = "all" +: stages
      (0 to stages.length).map { k =>
        val src =
          if (k == 0)
            graft.Tables.load(s, dir, "events")
              .select("user_id").distinct()
          else maxStage.filter(col("_ms") >= k)
        src.agg(count(lit(1)).as("n_users"))
          .select(lit(k.toLong).as("stage"),
            lit(names(k)).as("stage_name"), col("n_users"))
      }.reduce(_ unionAll _).orderBy("stage")
    }),

    // Streaming twin #17 — the q247 log-linear quantile sketch built
    // AS A STREAM: the sketch is a plain streaming groupBy over the
    // fixed binning rule (its state is bins, which is exactly why it
    // is the streaming-quantile shape — bounded state, no row
    // retention), sunk in update mode (single AvailableNow batch on
    // the bounded fixture, the q195 contract), then the quantile pick
    // runs batch-side on the final bins. Oracle: the batch sketch of
    // the same column, byte for byte.
    "q251_stream_loghist" -> ((s, dir) => {
      val sk = graft.operators.Sketch.logHistSketch(
        eventsStream(s, dir).select(col("event_type"), col("value")),
        Seq("event_type"), "value")
      val (sunk, dataBatches) =
        runBoundedCounted(s, sk, "graft_q251_sink", "update")
      // logHistQuantiles re-sums sink rows, so duplicate update-mode
      // emissions of the same bin would double-count: the bounded
      // single-file fixture must land in exactly one data batch.
      require(dataBatches == 1,
        s"q251 expects exactly 1 data micro-batch (update-mode bins " +
          s"are re-summed); got $dataBatches")
      graft.operators.Sketch.logHistQuantiles(sunk,
          Seq("event_type"), Seq(500L, 900L, 990L))
        .orderBy("event_type", "q_permille")
    }),

    // Streaming twin of q257 (r11 stretch, landed r13): Page's CUSUM
    // upward-shift detector as O(1)-per-series transformWithState.
    // The increment d = floor(value·100) − 5500 (with the batch
    // operator's NULL/non-finite exclusion) is computed DataFrame-side
    // so both engines share one predicate; the processor folds the
    // telescoped prefix-sum/running-min recursion in (us, event_id)
    // order and emits one summary per touched series per batch.
    // Consumption is BATCH-SPLIT-INVARIANT (r13 item 2, replacing the
    // one-data-batch require): every batch that touches a series
    // strictly increases n + n_excluded, so the LAST summary per
    // series is its argmax — picked with a window over the sink, the
    // q261 distinct() trick adapted to monotone re-emission. Any
    // micro-batch split of the fixture therefore yields the identical
    // final rows (spec-pinned in EventStreamsSpec), which equal batch
    // q257 row-for-row — the oracle is literally q257's SQL.
    "q260_stream_cusum" -> ((s, dir) => {
      import s.implicits._
      val v = col("value").cast("double")
      val finite = v.isNotNull && !isnan(v) &&
        v =!= Double.PositiveInfinity && v =!= Double.NegativeInfinity
      val obs = eventsStream(s, dir)
        .select(col("event_type"), expr("unix_micros(ts)").as("us"),
          col("event_id"),
          when(finite, floor(v * 100).cast("long") - 5500L).as("d"))
        .as[EventStreams.MetricObs]
      val out = EventStreams.cusumShiftStream(s, obs,
        thresholdCents = 50000L)
      val sunk = runBounded(s, out.toDF(), "graft_q260_sink", "append",
        rocksDb = true)
      val last = Window.partitionBy("event_type")
        .orderBy((col("n") + col("n_excluded")).desc)
      sunk.withColumn("_rn", row_number().over(last))
        .filter(col("_rn") === 1)
        .select(col("event_type"), col("n"), col("n_excluded"),
          col("n_alarms"), col("max_s_cents"), col("first_alarm_us"))
        .orderBy("event_type")
    }),

    // Streaming twin #19 — the NEAR-DUP GATE, the batch curation stage
    // a 100 TB ingest wants online: the LSH bucket index lives in the
    // state store keyed by band, so an incoming document compares only
    // against its own buckets' residents (bucket-sized state, hard
    // cap as the hot-bucket skew guard), never the corpus. Emitted =
    // every same-bucket pair whose MinHash signature agreement reaches
    // 12/24, with the integer estimate 1000·agree div 24. A pair
    // sharing several buckets re-emits the identical row (estimate is
    // signature-level, not bucket-level) — collapsed by distinct() —
    // and the result set is BATCH-COUNT-INVARIANT: a doc arriving in a
    // later batch still compares against all bucket residents via
    // state, so any micro-batch split of the fixture emits the same
    // set (no single-batch requirement, unlike q260's summaries).
    // Oracle: the batch LSH candidate pairs (same signatures, same
    // band keys) filtered to agreement ≥ 12.
    "q261_stream_neardup" -> ((s, dir) => {
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val docs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val banded = graft.streaming.DocStreams.bandedSignatures(
        docs, "doc_id", "text", k = 24, bands = 4, rows = 6)
      val out = graft.streaming.DocStreams.nearDupGate(s, banded,
        k = 24, minAgree = 12)
      // Deliberately NOT the q263 p8 override: measured p1 3.6 s vs
      // p8 4.1 s retimed — the cold gate's cost is banding + engine
      // overhead, not store-parallelizable seeding, so the low
      // store-count default wins here.
      runBounded(s, out.toDF(), "graft_q261_sink", "append",
        rocksDb = true).distinct()
        .orderBy("doc_a", "doc_b")
    }),

    // DSV2 MICRO_BATCH_READ — the connector's streaming face: the
    // synthetic source replayed as a rate-limited stream (offsets are
    // id positions; admission control caps ids per micro-batch), the
    // backfill-as-a-stream shape. The run asserts the batch count so a
    // regression to one-batch-reads-everything (i.e. admission control
    // silently ignored) fails loudly rather than passing on identical
    // rows. Oracle: the same generated rows, batch-computed.
    "q262_dsv2_stream" -> ((s, dir) => {
      val docs = s.readStream.format("graft.sources.SyntheticDocs")
        .option("rows", "2000").option("partitions", "8")
        .option("rowsPerBatch", "512").load()
      val (sunk, dataBatches) = runBoundedCounted(s,
        docs.select(col("doc_id"), col("lang"), col("n_tokens")),
        "graft_q262_sink", "append")
      require(dataBatches == 4,
        s"q262 expects ceil(2000/512) = 4 data micro-batches (the " +
          s"rowsPerBatch admission-control contract); got $dataBatches")
      sunk.orderBy("doc_id")
    }),

    // Streaming twin #20 — the BOOTSTRAPPED near-dup gate (r13 item
    // 1): q261's gate warm-started from the batch LSH artifact. The
    // corpus (doc_id % 5 ≠ 0) is banded BATCH-side and seeded into the
    // band-keyed state store through transformWithState INITIAL STATE
    // — the production online-ingest shape, where the index exists
    // before the first streamed document arrives. Only NEW docs
    // (doc_id % 5 = 0) stream; emitted = every qualifying pair
    // touching a new doc (new-vs-corpus via the seeded residents,
    // new-vs-new via stream admission), corpus-vs-corpus never (the
    // batch pipeline owns those). Oracle: the batch LSH pairs over ALL
    // docs at agreement ≥ 12, restricted to pairs touching a new doc.
    "q263_stream_neardup_boot" -> ((s, dir) => {
      val path = s"$dir/documents.parquet"
      val schema = s.read.parquet(path).schema
      val corpusBanded = graft.streaming.DocStreams.bandedSignatures(
        s.read.parquet(path).filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", k = 24, bands = 4, rows = 6)
      val init = graft.streaming.DocStreams.bucketIndex(s, corpusBanded)
      val newDocs = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("doc_id") % 5 === 0)
      val banded = graft.streaming.DocStreams.bandedSignatures(
        newDocs, "doc_id", "text", k = 24, bands = 4, rows = 6)
      val out = graft.streaming.DocStreams.nearDupGateBooted(
        s, banded, init, k = 24, minAgree = 12)
      // p8: corpus-index seeding dominates this run, and it
      // parallelizes across state stores — see runBoundedCounted
      runBoundedCounted(s, out.toDF(), "graft_q263_sink", "append",
        parts = "8", rocksDb = true)._1.distinct()
        .orderBy("doc_a", "doc_b")
    }),

    // The connector ROUND-TRIP under the micro-batch engine: q262's
    // MICRO_BATCH_READ (rowsPerBatch admission) straight into the
    // STREAMING_WRITE face of the same source — each micro-batch is an
    // EPOCH transaction whose per-task validations merge into the
    // cumulative outcome (epoch ids deduped, so a replayed commit
    // can't double-count). n_epochs = ceil(2000/512) = 4 pins BOTH
    // contracts at once: admission control shaping the batches and the
    // per-epoch commit protocol counting them. Oracle: the generator
    // arithmetic (rate limiting changes boundaries, never rows).
    "q265_dsv2_stream_write" -> ((s, dir) => {
      import s.implicits._
      val writeId = "q265_" + java.util.UUID.randomUUID().toString
      val docs = s.readStream.format("graft.sources.SyntheticDocs")
        .option("rows", "2000").option("partitions", "8")
        .option("rowsPerBatch", "512").load()
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_q265_ckpt")
      try withStreamConf(s) {
        val q = docs.writeStream.format("graft.sources.SyntheticDocs")
          .option("rows", "2000").option("writeId", writeId)
          .option("checkpointLocation", ckpt.toString)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally deleteRecursively(ckpt) // every bench/verify run makes one
      val o = graft.sources.SyntheticDocsWrites.get(writeId).getOrElse(
        sys.error(s"streaming validating write $writeId recorded no outcome"))
      graft.sources.SyntheticDocsWrites.clear(writeId)
      Seq((o.status, o.nRows, o.sumId, o.minId, o.maxId, o.nEpochs.toLong))
        .toDF("status", "n_rows", "sum_doc_id", "min_doc_id",
          "max_doc_id", "n_epochs")
    }),

    // Streaming twin #21 — q66's gap sessionization on the
    // transformWithState TIMER contract (the one processor face the
    // other twins never touch): in-batch gaps close sessions inline,
    // each open session's close is an event-time timer at
    // last-ms + gap that the advancing watermark fires
    // (handleExpiredTimer emits and clears). Same emission rule as
    // q66's flatMapGroupsWithState — gap-closed plus watermark-fired —
    // so the oracle is q66's SQL verbatim; same robust consumption
    // (per-user ordinal + count).
    "q266_stream_timer_sessions" -> ((s, dir) => {
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event]
      val sessions = EventStreams.timerSessionize(s, ev, gapMinutes = 30,
        watermarkDelay = "10 minutes")
      val w = Window.partitionBy("user_id").orderBy("start_us")
      runBounded(s, sessions.toDF(), "graft_q266_sink", "append",
        rocksDb = true)
        .select(col("user_id"),
          row_number().over(w).cast("long").as("session_seq"),
          col("n_events"))
        .orderBy("user_id", "session_seq")
    }),

    // Streaming twin #22 — per-user event-type histogram on the
    // MAPSTATE contract (the last state type untouched by the twins;
    // ValueState/ListState/timers/initial-state are q260/q261/q263/
    // q266): the histogram is a map whose per-batch cost is one point
    // read + one point write per TOUCHED type — never a whole-map
    // rewrite. Emission is the cumulative n per touched (user, type)
    // per batch, consumed by the q260 argmax trick (n strictly
    // increases), so any micro-batch split yields identical finals.
    // Oracle: the batch GROUP BY.
    "q267_stream_mapstate_hist" -> ((s, dir) => {
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
        .as[EventStreams.EventTyped]
      val out = EventStreams.typeHistogramStream(s, ev)
      val sunk = runBounded(s, out.toDF(), "graft_q267_sink", "append",
        rocksDb = true)
      val last = Window.partitionBy("user_id", "event_type")
        .orderBy(col("n").desc)
      sunk.withColumn("_rn", row_number().over(last))
        .filter(col("_rn") === 1)
        .select("user_id", "event_type", "n")
        .orderBy("user_id", "event_type")
    }),

    // The near-dup gate UNDER CAP PRESSURE (driver-checking the r13
    // item-3 overflow contract end-to-end, beyond the spec): the cap
    // forces real rejections on the fixture, and the emitted set must
    // be exactly (a) pairs both-resident in a shared bucket and (b)
    // one (-1, doc_id, -1) sentinel per rejected doc — never silence.
    // cap = 2 because the sf0.01 fixture's largest bucket holds 3
    // docs (measured): the cap MUST bind or the query degenerates to
    // q261 and the sentinel arm goes untested.
    // Capped admission is ARRIVAL-ORDER semantics by nature (the
    // production gate's too: whoever came first holds the bucket), so
    // the oracle mirrors the single-batch doc_id admission order and
    // the run asserts one data batch — unlike q260's summaries, this
    // order-dependence is the operator's meaning, not a consumption
    // artifact (a multi-batch split legitimately admits different
    // residents).
    "q268_stream_neardup_capped" -> ((s, dir) => {
      val banded = bandedStream(s, dir)
      val out = graft.streaming.DocStreams.nearDupGate(s, banded,
        k = 24, minAgree = 12, cap = 2)
      val (sunk, dataBatches) = runBoundedCounted(s, out.toDF(),
        "graft_q268_sink", "append", rocksDb = true)
      require(dataBatches == 1,
        s"q268's capped-admission oracle assumes doc_id arrival order " +
          s"(single-batch fixture); got $dataBatches data batches")
      sunk.distinct().orderBy("doc_a", "doc_b")
    }),

    // Streaming twin #23 — GATE OBSERVABILITY as data (r14 #8 made a
    // driver query): q268's capped gate run with the GateMetrics
    // accumulator tap, emitting the tap's totals as rows. On the
    // single-batch doc_id-ordered fixture the counters are pure
    // functions of bucket occupancy — admitted = Σ min(cap, size),
    // compared = Σ C(min(cap, size), 2), rejected = Σ max(0, size−cap)
    // per band bucket — so DuckDB re-derives them from the band keys
    // alone. Accumulators are at-least-once under task RETRIES; the
    // correctness run is a clean local execution (no retries — the
    // same clean-run determinism contract q265's epoch count relies
    // on), and production use reads them as operational metrics, not
    // correctness inputs.
    "q269_stream_gate_metrics" -> ((s, dir) => {
      import s.implicits._
      val banded = bandedStream(s, dir)
      val m = graft.streaming.DocStreams.GateMetrics(s)
      val out = graft.streaming.DocStreams.nearDupGate(s, banded,
        k = 24, minAgree = 12, cap = 2, metrics = Some(m))
      val (sunk, dataBatches) = runBoundedCounted(s, out.toDF(),
        "graft_q269_sink", "append", rocksDb = true)
      require(dataBatches == 1,
        s"q269's occupancy oracle assumes doc_id arrival order " +
          s"(single-batch fixture); got $dataBatches data batches")
      val (adm, cmp, rej) = m.snapshot
      // Accumulators are at-least-once under task retries; cross-check
      // the snapshot against two derivable invariants and fail BY NAME
      // rather than as an opaque driver hash mismatch (ADVICE r15):
      // every banded (band, doc) row is either admitted or rejected,
      // and each rejection emits exactly one sentinel sink row.
      val expectedRows =
        s.read.parquet(bandedDocsArtifact(s, dir)).count()
      require(adm + rej == expectedRows,
        s"q269 accumulator retry contamination: admitted($adm) + " +
          s"rejected($rej) != banded rows ($expectedRows) — a retried " +
          "or speculative task re-incremented the tap; rerun on an " +
          "unloaded host")
      val sunkSentinels = sunk.filter(col("doc_a") === -1L).count()
      require(rej == sunkSentinels,
        s"q269 accumulator retry contamination: rejected($rej) != " +
          s"sentinel sink rows ($sunkSentinels)")
      Seq(("admitted", adm), ("compared", cmp), ("rejected", rej))
        .toDF("metric", "n").orderBy("metric")
    }),

    // The EXACTLY-ONCE emission-metrics channel as data (r15 #4 made
    // a driver query): the capped gate wrapped in observedGate — each
    // batch's emitted pair and sentinel counts ride
    // QueryProgressEvent.observedMetrics, computed by the batch's own
    // plan (retries never double-count, unlike q269's accumulator
    // tap). On the single-batch doc_id-ordered fixture both counters
    // are pure occupancy+signature functions: at cap = 2 each bucket
    // emits at most its one admitted pair (when the first two
    // residents agree >= 12/24) and one sentinel per over-cap doc —
    // per-bucket EMISSIONS, not distinct pairs, which is exactly what
    // the observation counts.
    "q274_gate_observed_metrics" -> ((s, dir) => {
      import s.implicits._
      val banded = bandedStream(s, dir)
      val out = graft.streaming.DocStreams.observedGate(
        graft.streaming.DocStreams.nearDupGate(s, banded,
          k = 24, minAgree = 12, cap = 2))
      withStreamConf(s, rocksDb = true) {
        val q = out.toDF().writeStream.format("noop")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val dataBatches = dataBatchCount(q)
        require(dataBatches == 1,
          s"q274's occupancy oracle assumes doc_id arrival order " +
            s"(single-batch fixture); got $dataBatches data batches")
        // exactly-once per epoch: summing across all progress events
        // (including zero-row finalization batches) IS the total
        val obs = q.recentProgress.flatMap(p => Option(p.observedMetrics
          .get(graft.streaming.DocStreams.GateObservationName)))
        Seq(("n_pairs", obs.map(_.getAs[Long]("n_pairs")).sum),
            ("n_sentinels", obs.map(_.getAs[Long]("n_sentinels")).sum))
          .toDF("metric", "n").orderBy("metric")
      }
    }),

    // Streaming twin #24 — OFFLINE STATE AUDIT (r15): the capped
    // gate's state store read back from its checkpoint through Spark's
    // state data source, no gate restart — residents per band bucket
    // plus the overflow counters, the skew report the cap leaves
    // behind. On the single-batch doc_id-ordered run the state is pure
    // bucket occupancy (residents = rank ≤ cap per band, overflow =
    // the remainder), so DuckDB re-derives the ENTIRE state store from
    // the band keys — this pins the state itself, not just the gate's
    // emissions.
    // Streaming twin #25 — OFFLINE STATE AUDIT BEYOND THE GATE (r16
    // #4): q271's checkpoint-read contract generalized to a COMPOSITE
    // state type — the per-user type histogram's MapState, read back
    // as (user_id, event_type, n) rows through the state data source,
    // no query restart. Stronger determinism than the gate audits: the
    // final map is batch-split-invariant (each entry is its own
    // running total), so no single-batch require is needed and the
    // oracle is the plain batch GROUP BY — the state store itself must
    // equal the aggregate however the run was micro-batched.
    "q279_event_state_audit" -> ((s, dir) => {
      import s.implicits._
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(ts)").as("us"), col("event_type"))
        .as[EventStreams.EventTyped]
      val out = EventStreams.typeHistogramStream(s, ev)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_q279_ckpt")
      try withStreamConf(s, rocksDb = true) {
        val q = out.toDF().writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // materialize BEFORE the checkpoint dir is deleted
        EventStreams.typeHistState(s, ckpt.toString)
          .localCheckpoint()
          .orderBy("user_id", "event_type")
      } finally deleteRecursively(ckpt)
    }),

    "q271_gate_state_audit" -> ((s, dir) => {
      val banded = bandedStream(s, dir)
      val out = graft.streaming.DocStreams.nearDupGate(s, banded,
        k = 24, minAgree = 12, cap = 2)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_q271_ckpt")
      try withStreamConf(s, rocksDb = true) {
        val q = out.toDF().writeStream.format("noop")
          .option("checkpointLocation", ckpt.toString)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // same guard as q268: the occupancy oracle assumes doc_id
        // ADMISSION order, which only a single data batch guarantees
        // — fail by name, not as an opaque hash mismatch
        val dataBatches = dataBatchCount(q)
        require(dataBatches == 1,
          s"q271's occupancy oracle assumes doc_id arrival order " +
            s"(single-batch fixture); got $dataBatches data batches")
        val residents = graft.streaming.DocStreams
          .gateStateResidents(s, ckpt.toString)
          .select(lit("resident").as("kind"), col("band"),
            col("doc_id").as("n"))
        val overflow = graft.streaming.DocStreams
          .gateStateOverflow(s, ckpt.toString)
          .select(lit("overflow").as("kind"), col("band"),
            col("overflow").as("n"))
        // materialize BEFORE the checkpoint dir is deleted
        residents.unionAll(overflow).localCheckpoint()
          .orderBy("kind", "band", "n")
      } finally deleteRecursively(ckpt)
    })
  )

  val oracleSql: Map[String, String] = Map(

    // The batch LSH pipeline (identical signature family and band
    // keys), with the verification measure the stream gate can afford:
    // signature agreement, not shingle-set Jaccard.
    "q261_stream_neardup" ->
      """WITH docs AS (
           SELECT doc_id,
                  list_distinct([array_to_string(w[i:i+1], ' ')
                                 for i in range(1, greatest(len(w), 2))]) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE text IS NOT NULL)),
         sigs AS (
           SELECT doc_id,
                  [list_min([((2*k+1) * b + (101*k+17)) % 2147483647
                             for b in list_transform(sh,
                               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                                      % 2147483647)])
                   for k in range(0, 24)] AS sig
           FROM docs),
         bands AS (
           SELECT doc_id,
                  unnest([g::VARCHAR || ':' ||
                          md5(array_to_string(sig[g*6+1:g*6+6], '|'))
                          for g in range(0, 4)]) AS band
           FROM sigs),
         cand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.doc_id < y.doc_id),
         agree AS (
           SELECT c.a AS doc_a, c.b AS doc_b,
                  CAST(len(list_filter(range(0, 24),
                    i -> sa.sig[i+1] = sb.sig[i+1])) AS BIGINT) AS n_agree
           FROM cand c
           JOIN sigs sa ON c.a = sa.doc_id
           JOIN sigs sb ON c.b = sb.doc_id)
         SELECT doc_a, doc_b, (1000 * n_agree) // 24 AS est_permille
         FROM agree WHERE n_agree >= 12
         ORDER BY doc_a, doc_b""",

    // q261's batch-LSH oracle restricted to pairs TOUCHING a new doc
    // (doc_id % 5 = 0): corpus-vs-corpus pairs belong to the batch
    // pipeline and the booted gate's seeding emits nothing for them.
    "q263_stream_neardup_boot" ->
      """WITH docs AS (
           SELECT doc_id,
                  list_distinct([array_to_string(w[i:i+1], ' ')
                                 for i in range(1, greatest(len(w), 2))]) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE text IS NOT NULL)),
         sigs AS (
           SELECT doc_id,
                  [list_min([((2*k+1) * b + (101*k+17)) % 2147483647
                             for b in list_transform(sh,
                               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                                      % 2147483647)])
                   for k in range(0, 24)] AS sig
           FROM docs),
         bands AS (
           SELECT doc_id,
                  unnest([g::VARCHAR || ':' ||
                          md5(array_to_string(sig[g*6+1:g*6+6], '|'))
                          for g in range(0, 4)]) AS band
           FROM sigs),
         cand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.doc_id < y.doc_id),
         agree AS (
           SELECT c.a AS doc_a, c.b AS doc_b,
                  CAST(len(list_filter(range(0, 24),
                    i -> sa.sig[i+1] = sb.sig[i+1])) AS BIGINT) AS n_agree
           FROM cand c
           JOIN sigs sa ON c.a = sa.doc_id
           JOIN sigs sb ON c.b = sb.doc_id)
         SELECT doc_a, doc_b, (1000 * n_agree) // 24 AS est_permille
         FROM agree
         WHERE n_agree >= 12 AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
         ORDER BY doc_a, doc_b""",

    // Capped admission replicated declaratively: within the one-batch
    // run the gate admits per band in doc_id order, so residents are
    // the first 2 ranks per band; rejected docs (rank > 2 in SOME
    // band) surface as (-1, doc_id, -1) sentinels; pairs require BOTH
    // sides resident in a SHARED band at agreement >= 12.
    "q268_stream_neardup_capped" ->
      """WITH docs AS (
           SELECT doc_id,
                  list_distinct([array_to_string(w[i:i+1], ' ')
                                 for i in range(1, greatest(len(w), 2))]) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE text IS NOT NULL)),
         sigs AS (
           SELECT doc_id,
                  [list_min([((2*k+1) * b + (101*k+17)) % 2147483647
                             for b in list_transform(sh,
                               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                                      % 2147483647)])
                   for k in range(0, 24)] AS sig
           FROM docs),
         bands AS (
           SELECT doc_id,
                  unnest([g::VARCHAR || ':' ||
                          md5(array_to_string(sig[g*6+1:g*6+6], '|'))
                          for g in range(0, 4)]) AS band
           FROM sigs),
         ranked AS (
           SELECT doc_id, band,
                  row_number() OVER (PARTITION BY band
                                     ORDER BY doc_id) AS rk
           FROM bands),
         cand AS (
           SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM ranked x JOIN ranked y
             ON x.band = y.band AND x.doc_id < y.doc_id
           WHERE x.rk <= 2 AND y.rk <= 2),
         agree AS (
           SELECT c.a AS doc_a, c.b AS doc_b,
                  CAST(len(list_filter(range(0, 24),
                    i -> sa.sig[i+1] = sb.sig[i+1])) AS BIGINT) AS n_agree
           FROM cand c
           JOIN sigs sa ON c.a = sa.doc_id
           JOIN sigs sb ON c.b = sb.doc_id),
         pairs AS (
           SELECT doc_a, doc_b, (1000 * n_agree) // 24 AS est_permille
           FROM agree WHERE n_agree >= 12),
         sentinels AS (
           SELECT DISTINCT CAST(-1 AS BIGINT) AS doc_a, doc_id AS doc_b,
                  CAST(-1 AS BIGINT) AS est_permille
           FROM ranked WHERE rk > 2)
         SELECT * FROM pairs
         UNION ALL
         SELECT * FROM sentinels
         ORDER BY doc_a, doc_b""",

    // Gate metrics from bucket occupancy alone: the single-batch
    // doc_id-ordered run admits min(cap, size) per band bucket — those
    // pay C(adm, 2) comparisons (doc i compares against the i earlier
    // residents) — and rejects the rest.
    "q269_stream_gate_metrics" ->
      """WITH docs AS (
           SELECT doc_id,
                  list_distinct([array_to_string(w[i:i+1], ' ')
                                 for i in range(1, greatest(len(w), 2))]) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE text IS NOT NULL)),
         sigs AS (
           SELECT doc_id,
                  [list_min([((2*k+1) * b + (101*k+17)) % 2147483647
                             for b in list_transform(sh,
                               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                                      % 2147483647)])
                   for k in range(0, 24)] AS sig
           FROM docs),
         bands AS (
           SELECT doc_id,
                  unnest([g::VARCHAR || ':' ||
                          md5(array_to_string(sig[g*6+1:g*6+6], '|'))
                          for g in range(0, 4)]) AS band
           FROM sigs),
         m AS (
           SELECT least(count(*), 2) AS adm,
                  greatest(count(*) - 2, 0) AS rej
           FROM bands GROUP BY band)
         SELECT metric, n FROM (
           SELECT 'admitted' AS metric, CAST(sum(adm) AS BIGINT) AS n
           FROM m
           UNION ALL
           SELECT 'compared', CAST(sum(adm * (adm - 1) // 2) AS BIGINT)
           FROM m
           UNION ALL
           SELECT 'rejected', CAST(sum(rej) AS BIGINT) FROM m)
         ORDER BY metric""",

    // Observed emissions from bucket occupancy + signatures: at
    // cap = 2 a bucket emits its one admitted pair iff the first two
    // residents (doc_id order) agree >= 12/24 positions; sentinels =
    // one per over-cap doc per bucket. Counts are per-bucket
    // EMISSIONS (a pair sharing several buckets counts once per
    // bucket), matching what the gate's output plan observes.
    "q274_gate_observed_metrics" ->
      """WITH docs AS (
           SELECT doc_id,
                  list_distinct([array_to_string(w[i:i+1], ' ')
                                 for i in range(1, greatest(len(w), 2))]) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE text IS NOT NULL)),
         sigs AS (
           SELECT doc_id,
                  [list_min([((2*k+1) * b + (101*k+17)) % 2147483647
                             for b in list_transform(sh,
                               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                                      % 2147483647)])
                   for k in range(0, 24)] AS sig
           FROM docs),
         bands AS (
           SELECT doc_id,
                  unnest([g::VARCHAR || ':' ||
                          md5(array_to_string(sig[g*6+1:g*6+6], '|'))
                          for g in range(0, 4)]) AS band
           FROM sigs),
         ranked AS (
           SELECT doc_id, band,
                  row_number() OVER (PARTITION BY band
                                     ORDER BY doc_id) AS rk
           FROM bands),
         buckets AS (
           SELECT r1.band, r1.doc_id AS a, r2.doc_id AS b
           FROM ranked r1 JOIN ranked r2
             ON r1.band = r2.band AND r1.rk = 1 AND r2.rk = 2),
         np AS (
           SELECT count(*) AS n
           FROM buckets bk
           JOIN sigs sa ON bk.a = sa.doc_id
           JOIN sigs sb ON bk.b = sb.doc_id
           WHERE len(list_filter(range(0, 24),
                   i -> sa.sig[i+1] = sb.sig[i+1])) >= 12),
         ns AS (
           SELECT count(*) AS n FROM ranked WHERE rk > 2)
         SELECT metric, n FROM (
           SELECT 'n_pairs' AS metric, CAST(n AS BIGINT) AS n FROM np
           UNION ALL
           SELECT 'n_sentinels', CAST(n AS BIGINT) FROM ns)
         ORDER BY metric""",

    // The gate's state store, re-derived from bucket occupancy: the
    // rank ≤ cap residents per band plus the remainder as per-band
    // overflow counters (rows only for buckets that rejected — the
    // gate creates the counter lazily).
    "q271_gate_state_audit" ->
      """WITH docs AS (
           SELECT doc_id,
                  list_distinct([array_to_string(w[i:i+1], ' ')
                                 for i in range(1, greatest(len(w), 2))]) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE text IS NOT NULL)),
         sigs AS (
           SELECT doc_id,
                  [list_min([((2*k+1) * b + (101*k+17)) % 2147483647
                             for b in list_transform(sh,
                               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT
                                      % 2147483647)])
                   for k in range(0, 24)] AS sig
           FROM docs),
         bands AS (
           SELECT doc_id,
                  unnest([g::VARCHAR || ':' ||
                          md5(array_to_string(sig[g*6+1:g*6+6], '|'))
                          for g in range(0, 4)]) AS band
           FROM sigs),
         ranked AS (
           SELECT doc_id, band,
                  row_number() OVER (PARTITION BY band
                                     ORDER BY doc_id) AS rk
           FROM bands)
         SELECT kind, band, n FROM (
           SELECT 'resident' AS kind, band, CAST(doc_id AS BIGINT) AS n
           FROM ranked WHERE rk <= 2
           UNION ALL
           SELECT 'overflow', band, CAST(count(*) - 2 AS BIGINT)
           FROM bands GROUP BY band HAVING count(*) > 2)
         ORDER BY kind, band, n""",

    // The committed outcome of the streaming round-trip, re-derived
    // from the generator arithmetic; n_epochs is the admission-control
    // ceiling ceil(2000/512).
    "q265_dsv2_stream_write" ->
      """SELECT 'committed' AS status,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(range) AS BIGINT) AS sum_doc_id,
                CAST(min(range) AS BIGINT) AS min_doc_id,
                CAST(max(range) AS BIGINT) AS max_doc_id,
                CAST(4 AS BIGINT) AS n_epochs
         FROM range(0, 2000)""",

    // The q244 generator arithmetic for the streamed columns — rate
    // limiting changes the batch boundaries, never the rows.
    "q262_dsv2_stream" ->
      """SELECT i AS doc_id,
                list_extract(['en', 'de', 'fr', 'es', 'zh'],
                  ((('0x' || substr(md5(i || ':lang'), 1, 8))::BIGINT % 5)
                    ::INT + 1)) AS lang,
                20 + ('0x' || substr(md5(i || ':len'), 1, 8))::BIGINT % 30
                  AS n_tokens
         FROM (SELECT unnest(range(0, 2000)) AS i)
         ORDER BY doc_id""",

    // The batch log-linear sketch of the same column — streaming adds
    // nothing to the final bins on a bounded input, which is the point.
    "q251_stream_loghist" ->
      QueryUtil.sqlLogHistQuantiles("events", "event_type", "value",
        "event_type", Seq(500, 900, 990)),

    // Literally the batch q257 oracle: the one-batch state fold over
    // (us, event_id) order IS the prefix-sum/running-min window pair,
    // in the same integer cents.
    "q260_stream_cusum" ->
      """WITH base AS (
           SELECT event_type, epoch_ns(ts) // 1000 AS us, event_id,
                  CAST(floor(value * 100) AS BIGINT) - 5500 AS d
           FROM events),
         p AS (SELECT event_type, us, event_id, d,
                      sum(d) OVER (PARTITION BY event_type
                        ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS pf
               FROM base WHERE d IS NOT NULL),
         s AS (SELECT event_type, us,
                      pf - least(0, min(pf) OVER (PARTITION BY event_type
                        ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING)) AS s
               FROM p),
         ex AS (SELECT event_type,
                       CAST(sum(CASE WHEN d IS NULL THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_excluded
                FROM base GROUP BY event_type)
         SELECT s.event_type, CAST(count(*) AS BIGINT) AS n,
                max(ex.n_excluded) AS n_excluded,
                CAST(sum(CASE WHEN s >= 50000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_alarms,
                CAST(max(s) AS BIGINT) AS max_s_cents,
                min(CASE WHEN s >= 50000 THEN us END) AS first_alarm_us
         FROM s JOIN ex ON s.event_type = ex.event_type
         GROUP BY s.event_type ORDER BY s.event_type""",

    // Spark's watermark is floor(max event-time in MILLISECONDS) −
    // delay; append emits a window once window_end ≤ watermark. us is
    // floor(ns/1000) exactly as Spark's scan-side conversion.
    "q61_stream_windows" ->
      """WITH base AS (
           SELECT date_trunc('hour', ts) AS win_start, event_type,
                  epoch_ns(ts) // 1000 AS us, value
           FROM events),
         wm AS (
           SELECT ((max(us) // 1000) - 1800000) * 1000 AS w FROM base)
         SELECT win_start, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
         FROM base
         GROUP BY win_start, event_type
         HAVING (epoch_ns(win_start) // 1000) + 3600000000 <= (SELECT w FROM wm)
         ORDER BY win_start, event_type""",

    // One survivor per key ⇒ the emitted key set is the distinct keys.
    "q62_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type
         FROM events
         ORDER BY user_id, event_type""",

    // Update mode emits every window the single data batch touched —
    // i.e. all of them, with final values: the batch aggregation.
    "q104_stream_update_windows" ->
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY 1, 2
         ORDER BY win_start, event_type""",

    // Inner stream-stream matches emit on discovery, so the emitted
    // set is the batch interval join, on the shared floor-µs timeline.
    "q87_stream_stream_join" ->
      """WITH ev AS (
           SELECT event_id, user_id, event_type,
                  epoch_ns(ts) // 1000 AS us
           FROM events)
         SELECT p.event_id AS purchase_id, v.event_id AS view_id
         FROM ev p JOIN ev v
           ON p.user_id = v.user_id
          AND p.event_type = 'purchase' AND v.event_type = 'view'
          AND v.us BETWEEN p.us - 1800000000 AND p.us
         ORDER BY purchase_id, view_id""",

    // Matched pairs = the batch join; null rows only for unmatched
    // purchases Spark EVICTS — left state watermark = final watermark
    // − the 30 min interval bound (the conservative derivation from
    // l_ts ≤ r_ts + 30min). -1 stands in for the outer null.
    "q127_stream_stream_left" ->
      """WITH ev AS (
           SELECT event_id, user_id, event_type,
                  epoch_ns(ts) // 1000 AS us
           FROM events),
         wm AS (SELECT ((max(us) // 1000) - 600000) * 1000 AS w FROM ev),
         j AS (
           SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.us
           FROM ev p LEFT JOIN ev v
             ON p.user_id = v.user_id
            AND v.event_type = 'view'
            AND v.us BETWEEN p.us - 1800000000 AND p.us
           WHERE p.event_type = 'purchase')
         SELECT purchase_id, coalesce(view_id, -1) AS view_id
         FROM j, wm
         WHERE view_id IS NOT NULL OR us < w - 1800000000
         ORDER BY purchase_id, view_id""",

    // Folding applyChanges over the batches ≡ latest change per key
    // over the whole stream (the fold is associative on per-key latest
    // state), so the oracle is one ranked pick per user.
    "q94_stream_upsert" ->
      """WITH ch AS (
           SELECT user_id, event_id AS seq, value,
                  CASE event_type WHEN 'signup' THEN 'I'
                                  WHEN 'error' THEN 'D'
                                  ELSE 'U' END AS op
           FROM events),
         latest AS (
           SELECT user_id, value, op,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY seq DESC) AS rn
           FROM ch)
         SELECT user_id, value FROM latest
         WHERE rn = 1 AND op <> 'D'
         ORDER BY user_id""",

    // Update mode over one data batch ⇒ the batch join + aggregation.
    "q116_stream_static_join" ->
      """SELECT date_trunc('hour', e.ts) AS win_start, c.c_mktsegment,
                count(*) AS n_events,
                CAST(sum(CAST(e.value AS DECIMAL(18,3))) AS DOUBLE)
                  AS sum_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2
         ORDER BY win_start, c_mktsegment""",

    // Stateless gate ⇒ the batch filter, same quality formula as q46.
    "q125_stream_quality_gate" ->
      """SELECT doc_id, n_tokens, quality FROM (
           SELECT doc_id,
                  len(w)::BIGINT AS n_tokens,
                  least(len(w) / 64.0, 1.0) * 0.4 +
                  (len(list_distinct(w))::DOUBLE / len(w)) * 0.4 +
                  least((len(list_filter(w, x -> x IN ('the','a','of','and','in','is')))::DOUBLE / len(w)) * 4.0, 1.0) * 0.2 AS quality
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
         WHERE quality >= 0.5
         ORDER BY doc_id""",

    // Batch reconstruction of the streaming emission: q43's session
    // CTEs, minus each user's last session unless its event-time
    // timeout precedes the final watermark.
    "q66_stream_sessionize" ->
      """WITH base AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
           FROM events),
         flagged AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM base
           WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         numbered AS (
           SELECT user_id, us,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
           FROM flagged),
         sess AS (
           SELECT user_id, session_id,
                  CAST(count(*) AS BIGINT) AS n_events,
                  min(us) AS start_us, max(us) AS end_us,
                  max(session_id) OVER (PARTITION BY user_id) AS last_sid
           FROM numbered
           GROUP BY user_id, session_id),
         wm AS (SELECT (max(us) // 1000) - 600000 AS w FROM base)
         SELECT user_id,
                CAST(row_number() OVER (PARTITION BY user_id
                                        ORDER BY start_us) AS BIGINT)
                  AS session_seq,
                n_events
         FROM sess
         WHERE session_id < last_sid
            OR (end_us // 1000) + 1800000 < (SELECT w FROM wm)
         ORDER BY user_id, session_seq""",

    // The final MapState histogram IS the batch GROUP BY — cumulative
    // emission + argmax consumption make the stream shape invisible.
    "q267_stream_mapstate_hist" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
         FROM events
         GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",

    // q267's oracle VERBATIM, but pinning the STATE STORE instead of
    // the emissions: the checkpoint's counts map must hold exactly the
    // batch totals (split-invariant — no arrival-order caveat).
    "q279_event_state_audit" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
         FROM events
         GROUP BY user_id, event_type
         ORDER BY user_id, event_type""",

    // q66's oracle VERBATIM: the timer twin's emission rule
    // (gap-closed + watermark-fired timers at end-ms + gap) is the
    // flatMapGroupsWithState timeout rule, so one batch reconstruction
    // binds both processor APIs. Margins ≥12 s keep <-vs-≤ timer
    // firing semantics from flipping membership (same q66 analysis).
    "q266_stream_timer_sessions" ->
      """WITH base AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
           FROM events),
         flagged AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS is_new
           FROM base
           WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         numbered AS (
           SELECT user_id, us,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS session_id
           FROM flagged),
         sess AS (
           SELECT user_id, session_id,
                  CAST(count(*) AS BIGINT) AS n_events,
                  min(us) AS start_us, max(us) AS end_us,
                  max(session_id) OVER (PARTITION BY user_id) AS last_sid
           FROM numbered
           GROUP BY user_id, session_id),
         wm AS (SELECT (max(us) // 1000) - 600000 AS w FROM base)
         SELECT user_id,
                CAST(row_number() OVER (PARTITION BY user_id
                                        ORDER BY start_us) AS BIGINT)
                  AS session_seq,
                n_events
         FROM sess
         WHERE session_id < last_sid
            OR (end_us // 1000) + 1800000 < (SELECT w FROM wm)
         ORDER BY user_id, session_seq""",

    // Update mode + one data batch ⇒ every touched sliding window
    // emits once with final values: the batch unnest-to-two-windows
    // rollup.
    "q144_stream_sliding" ->
      """WITH ev AS (
           SELECT date_trunc('hour', ts) AS h, event_type, value
           FROM events),
         m AS (
           SELECT unnest([h - INTERVAL 1 HOUR, h]) AS win_start,
                  event_type, value
           FROM ev)
         SELECT win_start, event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE)
                  AS sum_value
         FROM m GROUP BY win_start, event_type
         ORDER BY win_start, event_type""",

    // The one-batch transformWithState emission = batch prefix sums
    // over the same (us, event_id) total order, in exact milli-units.
    "q134_stream_running_totals" ->
      """SELECT event_id, user_id,
                CAST(count(*) OVER w AS BIGINT) AS running_n,
                CAST(sum(CAST(value AS DECIMAL(18,3))) OVER w * 1000
                     AS BIGINT) AS running_sum_millis
         FROM events
         WINDOW w AS (PARTITION BY user_id
                      ORDER BY epoch_ns(ts) // 1000, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""
  ) ++ Map(

    // Identical to the q166 batch oracle: the one-value-per-user state
    // fold over (us, event_id) order IS the lag window. (us ordering ≡
    // ts ordering: epoch_ns // 1000 is monotone in ts and event_id
    // breaks any equal-µs tie on both sides.)
    // One data batch in update mode emits each touched (j, bucket)
    // counter exactly once with its final count — the batch CMS over
    // the same hash layout, probed for every event type.
    "q195_stream_count_min" ->
      """WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
         cms AS (
           SELECT js.j,
                  ('0x'||substr(md5(CAST(js.j AS VARCHAR)||':'||event_type),1,15))::BIGINT
                    % 256 AS bucket,
                  CAST(count(*) AS BIGINT) AS c
           FROM events CROSS JOIN js
           GROUP BY 1, 2),
         probes AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
           FROM events GROUP BY event_type)
         SELECT p.event_type, p.n_exact,
                CAST(min(coalesce(s.c, 0)) AS BIGINT) AS n_est
         FROM probes p
         CROSS JOIN js
         LEFT JOIN cms s
           ON s.j = js.j
          AND s.bucket =
              ('0x'||substr(md5(CAST(js.j AS VARCHAR)||':'||p.event_type),1,15))::BIGINT
                % 256
         GROUP BY 1, 2
         ORDER BY event_type""",

    "q171_stream_transitions" ->
      """WITH s AS (
           SELECT event_type,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY epoch_ns(ts) // 1000,
                                                 event_id) AS f
           FROM events),
         c AS (
           SELECT f AS from_type, event_type AS to_type,
                  CAST(count(*) AS BIGINT) AS n_trans
           FROM s WHERE f IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n_trans,
                CAST(floor(1000000 * (CAST(n_trans AS DOUBLE) /
                     CAST(sum(n_trans) OVER (PARTITION BY from_type)
                          AS DOUBLE))) AS BIGINT) AS p_micro
         FROM c ORDER BY from_type, to_type""",

    // q204's batch oracle verbatim: the streamed per-user gap fold
    // over (us, event_id) order IS the lag window, so the CV² rollup
    // over the sink must reproduce the batch screen bit for bit.
    "q207_stream_burstiness" ->
      """WITH base AS (
           SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us
           FROM events),
         g AS (
           SELECT user_id,
                  (us - lag(us) OVER (PARTITION BY user_id
                    ORDER BY us, event_id)) // 1000000 AS gs
           FROM base),
         a AS (
           SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                  CAST(sum(gs) AS BIGINT) AS sg,
                  CAST(sum(gs * gs) AS BIGINT) AS sg2
           FROM g WHERE gs IS NOT NULL
           GROUP BY user_id
           HAVING count(*) >= 20)
         SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_s,
                CASE WHEN sg = 0 THEN 0
                     ELSE CAST(floor(1000000.0 *
                            CAST(CAST(n_gaps AS HUGEINT) * sg2 AS DOUBLE) /
                            CAST(CAST(sg AS HUGEINT) * sg AS DOUBLE)
                            - 1000000.0)
                          AS BIGINT)
                END AS burstiness_micro
         FROM a
         ORDER BY burstiness_micro DESC, user_id
         LIMIT 20""",

    // The q84 users-estimator verbatim at k=64: the streamed sketch
    // log re-folded through bottom-k must equal the batch sketch.
    "q212_stream_kmv" ->
      """WITH kmv AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
                  max(CASE WHEN rn = 64 THEN h END) AS hk
           FROM (SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h)
                     AS rn
                 FROM (SELECT DISTINCT event_type,
                         ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT
                           AS h
                       FROM events))
           WHERE rn <= 64 GROUP BY event_type)
         SELECT event_type,
                CASE WHEN n_kept < 64 THEN n_kept
                     ELSE CAST(floor(CAST(63 AS DOUBLE)
                            * CAST(1152921504606846976 AS DOUBLE)
                            / CAST(hk AS DOUBLE)) AS BIGINT)
                END AS est_nd
         FROM kmv ORDER BY event_type""",

    // q91's funnel oracle verbatim — the stream twin must land on the
    // identical stage census.
    "q241_stream_funnel" ->
      """WITH ev AS (
           SELECT user_id, event_type, epoch_ns(ts) // 1000 AS us
           FROM events),
         u AS (SELECT DISTINCT user_id FROM ev),
         s1 AS (SELECT user_id, min(us) AS t FROM ev
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.us) AS t
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'view' AND e.us >= s1.t
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.us) AS t
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.us >= s2.t
                GROUP BY e.user_id)
         SELECT CAST(0 AS BIGINT) AS stage, 'all' AS stage_name,
                CAST(count(*) AS BIGINT) AS n_users FROM u
         UNION ALL
         SELECT CAST(1 AS BIGINT), 'signup', CAST(count(*) AS BIGINT) FROM s1
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'view', CAST(count(*) AS BIGINT) FROM s2
         UNION ALL
         SELECT CAST(3 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT) FROM s3
         ORDER BY stage"""
  )
}
