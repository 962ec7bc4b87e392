package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** A document row for the MemoryStream fixtures. */
case class NdDoc(doc_id: Long, text: String)

/** Micro-batch tests for the streaming near-dup gate — real
  * Structured Streaming execution (RocksDB state store), not batch
  * emulation. */
class DocStreamsSpec extends SparkTestBase {

  private val docs = Seq(
    NdDoc(1L, "a b c d e f g h"),
    NdDoc(2L, "a b c d e f g h"), // exact dup of 1 → agree 24/24
    NdDoc(3L, "a b c d e f g x"), // near dup of 1/2
    NdDoc(4L, "z y x w v u t s"),
    NdDoc(5L, "z y x w v u t s"), // exact dup of 4
    NdDoc(6L, "m n o p q r s t"))

  /** The gate's contract, computed independently from the BATCH banded
    * signatures: every same-bucket pair with ≥ 12/24 agreeing
    * signature positions. */
  private def expectedPairs(): Set[(Long, Long, Long)] = {
    import spark.implicits._
    val banded = DocStreams.bandedSignatures(
      docs.toDF("doc_id", "text"), "doc_id", "text", 24, 4, 6)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
    banded.groupBy(_._1).values.flatMap { members =>
      val m = members.sortBy(_._2)
      for {
        i <- m.indices; j <- (i + 1) until m.length
        agree = m(i)._3.zip(m(j)._3).count { case (a, b) => a == b }
        if agree >= 12
      } yield (m(i)._2, m(j)._2, 1000L * agree / 24)
    }.toSet
  }

  private def runGate(batches: Seq[Seq[NdDoc]],
                      sink: String): Set[(Long, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val in = MemoryStream[NdDoc]
      val banded = DocStreams.bandedSignatures(
        in.toDF(), "doc_id", "text", 24, 4, 6)
      val q = DocStreams.nearDupGate(spark, banded, 24, 12).toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val out = spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.catalog.dropTempView(sink)
      out
    }
  }

  test("gate emits exactly the qualifying same-bucket pairs") {
    val got = runGate(Seq(docs), "ndg_one")
    val expect = expectedPairs()
    assert(expect.nonEmpty) // the exact dups guarantee (1,2) and (4,5)
    assert(expect.contains((1L, 2L, 1000L)) &&
      expect.contains((4L, 5L, 1000L)))
    assert(got == expect)
  }

  test("emitted pair set is invariant to the micro-batch split") {
    // doc 5 arrives a batch AFTER its duplicate doc 4: the cross-batch
    // pair must still emit, via the band buckets persisted in state.
    val got = runGate(Seq(docs.take(4), docs.drop(4)), "ndg_two")
    assert(got == expectedPairs())
  }

  test("re-delivered documents neither self-pair nor duplicate pairs") {
    // At-least-once upstream: doc 1 arrives again in a later batch.
    // Admission must be idempotent — no (1,1) self-pair from comparing
    // the replay against its own resident signature, and no duplicate
    // (1,2)/(1,3) emissions from a second resident copy of doc 1.
    val got = runGate(Seq(docs, Seq(docs.head)), "ndg_replay")
    assert(!got.exists(p => p._1 == p._2))
    assert(got == expectedPairs())
  }

  /** `cap` bounds the GATE; `indexCap` bounds [[DocStreams.bucketIndex]]
    * band-side (default: unbounded in practice, so the existing tests
    * keep exercising the processor's second-bound truncation). */
  private def runBootedGate(corpus: Seq[NdDoc], batches: Seq[Seq[NdDoc]],
                            sink: String, cap: Int = 65536,
                            indexCap: Int = 65536): Set[(Long, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val init = DocStreams.bucketIndex(spark,
        DocStreams.bandedSignatures(
          corpus.toDF("doc_id", "text"), "doc_id", "text", 24, 4, 6),
        cap = indexCap)
      val in = MemoryStream[NdDoc]
      val banded = DocStreams.bandedSignatures(
        in.toDF(), "doc_id", "text", 24, 4, 6)
      val q = DocStreams.nearDupGateBooted(spark, banded, init, 24, 12,
          cap = cap).toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val out = spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.catalog.dropTempView(sink)
      out
    }
  }

  test("booted gate emits exactly the pairs touching a streamed doc") {
    // Corpus 1, 2, 4 seeds the bucket index through initial state; new
    // docs 3, 5, 6 stream in two batches. Corpus-vs-corpus (1,2) must
    // NOT emit (seeding is silent — the batch pipeline owns it);
    // new-vs-corpus (1,3)/(2,3)/(4,5) must, via the SEEDED residents.
    val newIds = Set(3L, 5L, 6L)
    val expect = expectedPairs().filter(p =>
      newIds.contains(p._1) || newIds.contains(p._2))
    val got = runBootedGate(
      corpus = docs.filter(d => !newIds.contains(d.doc_id)),
      batches = Seq(Seq(docs(2), docs(5)), Seq(docs(4))),
      sink = "ndg_boot")
    assert(expectedPairs().contains((1L, 2L, 1000L))) // would-be corpus pair
    assert(expect.contains((4L, 5L, 1000L))) // new-vs-SEEDED exact dup
    assert(got == expect)
    assert(!got.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("a capped bucket reports overflow instead of silencing") {
    // Three identical docs share every bucket; cap = 2 admits 1 and 2,
    // rejects 3 — which must surface as the (-1, 3, -1) sentinel, not
    // vanish. A replay of the rejected doc re-emits the IDENTICAL
    // sentinel (distinct-collapsible), never admits it, and never
    // produces pairs against it.
    val trio = Seq(NdDoc(1L, "a b c d e f g h"),
      NdDoc(2L, "a b c d e f g h"), NdDoc(3L, "a b c d e f g h"))
    val got = runGateCapped(Seq(trio, Seq(trio.last)), "ndg_cap", cap = 2)
    assert(got.contains((1L, 2L, 1000L)))
    assert(got.contains((-1L, 3L, -1L)))
    assert(!got.exists(p => p._2 == 3L && p._1 >= 0L))
    assert(got.size == 2)
  }

  test("booted gate truncates an over-cap seed at cap, in doc_id order") {
    // Seed 3 identical corpus docs into cap = 2 buckets: residents are
    // 1 and 2 (doc_id order), doc 3 is counted as seed overflow. A
    // streamed near-dup then pairs with the two RESIDENTS only and is
    // itself rejected (bucket still full) with a sentinel.
    val corpus = Seq(NdDoc(1L, "a b c d e f g h"),
      NdDoc(2L, "a b c d e f g h"), NdDoc(3L, "a b c d e f g h"))
    val got = runBootedGate(corpus,
      Seq(Seq(NdDoc(9L, "a b c d e f g h"))), "ndg_boot_cap", cap = 2)
    assert(got == Set((-1L, 9L, -1L)))
  }

  /** TTL runs use single-batch Trigger.Once executions sharing one
    * checkpoint (offset resume), NOT a long-lived query: under
    * TimeMode.ProcessingTime the engine keeps scheduling TTL-sweep
    * batches, so `processAllAvailable` never quiesces AND an
    * AvailableNow run never terminates (both measured: the stream
    * thread spins in plan execution indefinitely). Trigger.Once is
    * deprecated but is the one trigger that bounds the run to exactly
    * one batch regardless of pending TTL work; two runs with real
    * wall-clock between them exercise exactly the contract — expiry
    * is evaluated against the SECOND run's batch timestamp.
    *
    * With `retention = None` the same mechanics become a CHECKPOINT
    * RESTART harness: each batch runs as its own query resuming the
    * shared checkpoint, so state recovery across a stop/restart is
    * what's under test (VERDICT r14 #3). */
  private def runGateRuns(batches: Seq[Seq[NdDoc]],
                          retention: Option[java.time.Duration],
                          sleepMsBetween: Long): Set[(Long, Long, Long)] =
    runGateRunsSleeps(batches.zipWithIndex.map { case (b, i) =>
      (b, if (i > 0) sleepMsBetween else 0L)
    }, retention)

  /** [[runGateRuns]] with a PER-RUN sleep-before, for scenarios whose
    * expiry gaps differ between restarts (the retention-survives-
    * restart pin needs one long gap followed by back-to-back runs). */
  private def runGateRunsSleeps(batches: Seq[(Seq[NdDoc], Long)],
                                retention: Option[java.time.Duration])
      : Set[(Long, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb { withTempDir("ndg_ttl") { base =>
      val ckpt = s"$base/ckpt"
      val out = s"$base/out"
      val in = MemoryStream[NdDoc]
      batches.foreach { case (b, sleepMs) =>
        if (sleepMs > 0) Thread.sleep(sleepMs)
        in.addData(b: _*)
        val banded = DocStreams.bandedSignatures(
          in.toDF(), "doc_id", "text", 24, 4, 6)
        val q = DocStreams.nearDupGate(spark, banded, 24, 12,
            retention = retention).toDF()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .start()
        q.awaitTermination()
      }
      // No Try/getOrElse: a parquet read failure must FAIL the test,
      // not pass the expiry arm vacuously as Set.empty. An absent or
      // file-less output dir is the legitimate "nothing emitted" case
      // (the sink only creates part-files when rows arrive).
      val outDir = new java.io.File(out)
      val hasData = outDir.isDirectory && outDir.listFiles != null &&
        outDir.listFiles.exists(_.getName.startsWith("part-"))
      if (!hasData) Set.empty[(Long, Long, Long)]
      else spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } }
  }

  test("retention: an aged-out resident no longer matches; a live one does") {
    // Flake posture: both arms only get MORE deterministic under host
    // stalls. Expiry arm (ttl 300 ms, sleep 1500 ms): a stall makes
    // the resident MORE expired. Liveness arm (ttl 1 h, no sleep):
    // only an hour-long pause could expire it.
    val a = NdDoc(1L, "a b c d e f g h")
    val dup = NdDoc(2L, "a b c d e f g h")
    val expired = runGateRuns(Seq(Seq(a), Seq(dup)),
      Some(java.time.Duration.ofMillis(300)), sleepMsBetween = 1500L)
    assert(expired.isEmpty,
      s"doc 1 should have aged out before doc 2 arrived: $expired")
    val live = runGateRuns(Seq(Seq(a), Seq(dup)),
      Some(java.time.Duration.ofHours(1)), sleepMsBetween = 0L)
    assert(live == Set((1L, 2L, 1000L)))
  }

  /** [[runGateRuns]] for the BOOTED gate: the corpus seeds initial
    * state on the FIRST Trigger.Once run (later runs resume the
    * checkpoint and never re-seed — the engine's initial-state
    * contract), so seeded residents TTL-stamp at run-1 batch time. */
  private def runBootedGateRuns(corpus: Seq[NdDoc],
                                batches: Seq[Seq[NdDoc]],
                                retention: Option[java.time.Duration],
                                sleepMsBetween: Long)
      : Set[(Long, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb { withTempDir("ndg_boot_ttl") { base =>
      val ckpt = s"$base/ckpt"
      val out = s"$base/out"
      val in = MemoryStream[NdDoc]
      batches.zipWithIndex.foreach { case (b, i) =>
        if (i > 0 && sleepMsBetween > 0) Thread.sleep(sleepMsBetween)
        in.addData(b: _*)
        val init = DocStreams.bucketIndex(spark,
          DocStreams.bandedSignatures(
            corpus.toDF("doc_id", "text"), "doc_id", "text", 24, 4, 6))
        val banded = DocStreams.bandedSignatures(
          in.toDF(), "doc_id", "text", 24, 4, 6)
        val q = DocStreams.nearDupGateBooted(spark, banded, init, 24, 12,
            retention = retention).toDF()
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .start()
        q.awaitTermination()
      }
      val outDir = new java.io.File(out)
      val hasData = outDir.isDirectory && outDir.listFiles != null &&
        outDir.listFiles.exists(_.getName.startsWith("part-"))
      if (!hasData) Set.empty[(Long, Long, Long)]
      else spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } }
  }

  test("booted gate retention: seeded corpus ages out on the same clock") {
    // Corpus doc 1 seeds through initial state on run 1 (whose batch
    // carries only the unrelated doc 6 — no pairs). Run 2 streams the
    // exact dup doc 2. Expiry arm (ttl 300 ms, sleep 1500 ms): the
    // SEEDED resident aged out, so no (1,2) pair — the batch corpus
    // leaves the online index on the same clock streamed admissions
    // do. Liveness arm (ttl 1 h, no sleep): the pair emits via the
    // seeded resident. Same flake posture as the cold-gate TTL test.
    val corpus = Seq(NdDoc(1L, "a b c d e f g h"))
    val unrelated = NdDoc(6L, "m n o p q r s t")
    val dup = NdDoc(2L, "a b c d e f g h")
    val expired = runBootedGateRuns(corpus,
      Seq(Seq(unrelated), Seq(dup)),
      Some(java.time.Duration.ofMillis(300)), sleepMsBetween = 1500L)
    assert(expired.isEmpty,
      s"the seeded corpus should have aged out: $expired")
    val live = runBootedGateRuns(corpus,
      Seq(Seq(unrelated), Seq(dup)),
      Some(java.time.Duration.ofHours(1)), sleepMsBetween = 0L)
    assert(live == Set((1L, 2L, 1000L)))
  }

  test("retention survives restart: expired residents stay expired, live admission still works") {
    // TTL metadata lives IN the checkpoint — an encoding regression
    // would silently resurrect aged-out residents on resume (VERDICT
    // r15 #6). Run 1 admits doc 1 (ttl 300 ms); after a 1500 ms gap,
    // run 2 carries only the unrelated doc 6 — doc 1 is expired by
    // run 2's batch time and must STAY expired in the later resumed
    // run. Run 3 streams docs 2 and 3 (both exact dups of 1) in ONE
    // batch: neither may pair with the expired doc 1, but (2,3) MUST
    // pair — expiry freed state without breaking live admission on
    // the same resumed checkpoint. Flake posture: a host stall only
    // makes doc 1 more expired, and the (2,3) pair is within-batch
    // (no clock involved), so stalls cannot flip either assertion.
    val a = NdDoc(1L, "a b c d e f g h")
    val unrelated = NdDoc(6L, "m n o p q r s t")
    val dup2 = NdDoc(2L, "a b c d e f g h")
    val dup3 = NdDoc(3L, "a b c d e f g h")
    val got = runGateRunsSleeps(
      Seq((Seq(a), 0L), (Seq(unrelated), 1500L), (Seq(dup2, dup3), 0L)),
      Some(java.time.Duration.ofMillis(300)))
    assert(!got.exists(p => p._1 == 1L),
      s"expired resident doc 1 resurrected across restart: $got")
    assert(got == Set((2L, 3L, 1000L)),
      s"live admission on the resumed checkpoint should pair (2,3): $got")
  }

  test("checkpoint restart: the resumed gate emits exactly the uninterrupted set") {
    // The batch-split-invariance fixture, but the query is STOPPED and
    // a NEW query RESUMES the shared checkpoint between the batches —
    // state RECOVERY end-to-end (RocksDB snapshot + changelog replay),
    // not just within-run replay idempotence (VERDICT r14 #3). Doc 5's
    // duplicate (doc 4) is admitted before the stop, so the (4,5) pair
    // can only emit if the recovered state carries the residents.
    val resumed = runGateRuns(Seq(docs.take(4), docs.drop(4)),
      retention = None, sleepMsBetween = 0L)
    assert(resumed == expectedPairs())
    assert(resumed.contains((4L, 5L, 1000L))) // the cross-restart pair
  }

  test("bucketIndex bounds seed rows band-side: over-cap bands truncate with overflow") {
    // Three identical docs share every band; cap = 2 must bind IN THE
    // FRAME (before handleInitialState ever sees a row): each band's
    // ids array is exactly [1, 2] and the remainder is pre-counted as
    // overflow — so a boilerplate-skewed hot band can never build an
    // unbounded array row (VERDICT r14 #2).
    import spark.implicits._
    val trio = Seq(NdDoc(1L, "a b c d e f g h"),
      NdDoc(2L, "a b c d e f g h"), NdDoc(3L, "a b c d e f g h"))
    val banded = DocStreams.bandedSignatures(
      trio.toDF("doc_id", "text"), "doc_id", "text", 24, 4, 6)
    val rows = DocStreams.bucketIndexFrame(banded, cap = 2).collect()
    assert(rows.length == 4) // one bucket per band, all three docs identical
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == Seq(1L, 2L),
        s"band ${r.getString(0)}: expected capped ids [1,2], got $r")
      assert(r.getSeq[Seq[Long]](2).length == 2)
      assert(r.getLong(3) == 1L, s"band ${r.getString(0)}: overflow")
    }
  }

  test("booted gate over a band-side-capped index matches the processor-truncated path") {
    // Same fixture as the seed-truncation test, but the cap binds in
    // bucketIndex itself (indexCap = 2): residents are still 1 and 2,
    // doc 3 is seed overflow, and the streamed near-dup is rejected
    // with a sentinel — identical observable behavior to the
    // processor's own truncation (the second bound).
    val corpus = Seq(NdDoc(1L, "a b c d e f g h"),
      NdDoc(2L, "a b c d e f g h"), NdDoc(3L, "a b c d e f g h"))
    val got = runBootedGate(corpus,
      Seq(Seq(NdDoc(9L, "a b c d e f g h"))), "ndg_boot_fcap",
      cap = 2, indexCap = 2)
    assert(got == Set((-1L, 9L, -1L)))
  }

  test("state audit: residents and overflow read back from the checkpoint") {
    // Offline introspection (no gate restart): run the capped gate on
    // the over-cap trio, then read the state store through the state
    // data source — residents must be exactly the admitted docs per
    // band, the overflow counter exactly the rejections. The audit is
    // the ONLY way to see inside a long-running gate without stopping
    // it against a checkpoint copy.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb { withTempDir("ndg_audit") { base =>
      val ckpt = s"$base/ckpt"
      val out = s"$base/out"
      val in = MemoryStream[NdDoc]
      in.addData(NdDoc(1L, "a b c d e f g h"),
        NdDoc(2L, "a b c d e f g h"), NdDoc(3L, "a b c d e f g h"))
      val banded = DocStreams.bandedSignatures(
        in.toDF(), "doc_id", "text", 24, 4, 6)
      val q = DocStreams.nearDupGate(spark, banded, 24, 12, cap = 2)
        .toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      q.awaitTermination()
      val residents = DocStreams.gateStateResidents(spark, ckpt)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      // 4 band buckets × residents [1, 2] each; doc 3 never resident
      assert(residents.length == 8)
      assert(residents.map(_._1).distinct.length == 4)
      residents.groupBy(_._1).foreach { case (band, rs) =>
        assert(rs.map(_._2).sorted.toSeq == Seq(1L, 2L),
          s"band $band residents: ${rs.toSeq}")
      }
      val overflow = DocStreams.gateStateOverflow(spark, ckpt)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(overflow.length == 4 && overflow.forall(_._2 == 1L),
        s"overflow: ${overflow.toSeq}")
    } }
  }

  test("state audit: the booted gate's SEEDED residents equal the capped corpus") {
    // Seeding happens through handleInitialState, a code path the cold
    // gate's audit never exercises: read the checkpoint back and pin
    // that the state holds EXACTLY the cap-truncated corpus plus the
    // streamed admission — seeded residents [1, 2] per trio band with
    // overflow 1 (doc 3), and the unrelated streamed doc 6 resident in
    // its own four buckets.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb { withTempDir("ndg_boot_audit") { base =>
      val ckpt = s"$base/ckpt"
      val corpus = Seq(NdDoc(1L, "a b c d e f g h"),
        NdDoc(2L, "a b c d e f g h"), NdDoc(3L, "a b c d e f g h"))
      val init = DocStreams.bucketIndex(spark,
        DocStreams.bandedSignatures(
          corpus.toDF("doc_id", "text"), "doc_id", "text", 24, 4, 6),
        cap = 2)
      val in = MemoryStream[NdDoc]
      in.addData(NdDoc(6L, "m n o p q r s t"))
      val banded = DocStreams.bandedSignatures(
        in.toDF(), "doc_id", "text", 24, 4, 6)
      val q = DocStreams.nearDupGateBooted(spark, banded, init, 24, 12,
          cap = 2).toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      q.awaitTermination()
      val residents = DocStreams.gateStateResidents(spark, ckpt)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val byBand = residents.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted.toSeq).toMap
      // 4 trio bands seeded [1, 2] + 4 doc-6 bands (disjoint text →
      // disjoint buckets, same fixture fact the booted-gate pair
      // tests rely on)
      assert(byBand.size == 8, s"bands: ${byBand.keys}")
      assert(byBand.values.count(_ == Seq(1L, 2L)) == 4)
      assert(byBand.values.count(_ == Seq(6L)) == 4)
      val overflow = DocStreams.gateStateOverflow(spark, ckpt)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(overflow.length == 4 && overflow.forall(_._2 == 1L),
        s"seed overflow: ${overflow.toSeq}")
    } }
  }

  test("bootGateFromBacklog: 10k backlog seeds with ZERO comparisons; state equals the cold path") {
    // The one-call cold-start helper (VERDICT r16 #7): a 10k-document
    // backlog — every 100th doc identical boilerplate, so the cap
    // genuinely truncates hot buckets — boots the gate through initial
    // state. Contract: (a) seeding compares NOTHING (the r16
    // hot-band measurement, DESIGN.md §5, priced streaming a hot-band
    // seed at quadratic cost; the helper exists so that path is never
    // taken), (b) the booted state store is IDENTICAL to what
    // cold-streaming the backlog admits (residents and overflow
    // counters alike), (c) the overflow report names the truncated
    // buckets before the gate ever runs.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val cap = 3
    val backlog = spark.range(10000).selectExpr(
      "id AS doc_id",
      "CASE WHEN id % 100 = 0 THEN 'the quick brown fox jumps over' " +
        "ELSE concat('w', id % 53, ' x', id % 97, ' y', id % 31, ' z', id) " +
        "END AS text")
    val backlogRows = backlog.as[NdDoc].collect().toSeq
    val fresh = NdDoc(20000L, "totally fresh unseen words here now")

    def stateOf(ckpt: String): (Set[(String, Long)], Set[(String, Long)]) = (
      DocStreams.gateStateResidents(spark, ckpt)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet,
      DocStreams.gateStateOverflow(spark, ckpt)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)

    withRocksDb { withTempDir("ndg_backlog") { base =>
      // COLD path: the backlog streamed through the cold gate, one
      // batch (doc_id admission order — the order the seed reproduces)
      val coldIn = MemoryStream[NdDoc]
      coldIn.addData(backlogRows: _*)
      val coldQ = DocStreams.nearDupGate(spark,
          DocStreams.bandedSignatures(coldIn.toDF(), "doc_id", "text",
            24, 4, 6), 24, 12, cap = cap).toDF()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$base/cold")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      coldQ.awaitTermination()
      val (coldResidents, coldOverflow) = stateOf(s"$base/cold")

      // BOOTED path: same backlog seeded in one call; only the fresh
      // doc streams
      val m = DocStreams.GateMetrics(spark)
      val boot = DocStreams.bootGateFromBacklog(spark, backlog,
        "doc_id", "text", k = 24, bands = 4, rows = 6, minAgree = 12,
        cap = cap, metrics = Some(m))
      val bootIn = MemoryStream[NdDoc]
      bootIn.addData(fresh)
      val bootQ = boot.start(bootIn.toDF()).toDF()
        .writeStream.format("noop")
        .option("checkpointLocation", s"$base/boot")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      bootQ.awaitTermination()

      // (a) zero in-stream comparisons: the 10k seed wrote state
      // without a single signature compare; the fresh doc's buckets
      // are empty, so the run's ONLY admissions are its 4 band rows
      val (adm, cmp, rej) = m.snapshot
      assert(cmp == 0L, s"seeding compared $cmp times")
      assert(adm == 4L && rej == 0L, s"(adm=$adm, rej=$rej)")

      // (b) identical admissions: booted state minus the fresh doc's
      // own rows == the cold path's state, counters included
      val (bootResidents, bootOverflow) = stateOf(s"$base/boot")
      assert(bootResidents.filterNot(_._2 == fresh.doc_id) == coldResidents)
      assert(bootOverflow == coldOverflow)
      assert(coldOverflow.nonEmpty, "fixture must make the cap bind")

      // (c) the report named every truncated bucket up front
      val report = boot.overflowReport.collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(report == coldOverflow)
    } }
  }

  test("gate metrics: admitted/compared/rejected totals and per-batch deltas") {
    // Three identical docs (every band shared), cap = 2, two batches:
    //   batch 0 (docs 1, 2): per band — doc 1 admits (0 comparisons),
    //     doc 2 admits (1 comparison). 4 bands → admitted 8, compared 4.
    //   batch 1 (doc 3): bucket full in all 4 bands → rejected 4.
    // Deterministic because admission is doc_id-ordered per batch.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val trio = Seq(NdDoc(1L, "a b c d e f g h"),
        NdDoc(2L, "a b c d e f g h"), NdDoc(3L, "a b c d e f g h"))
      val m = DocStreams.GateMetrics(spark)
      // pre-incremented tap: onQueryStarted must re-anchor the delta
      // baseline so these never land in batch 0's row (ADVICE r15)
      m.admitted.add(100L); m.compared.add(100L); m.rejected.add(100L)
      val listener = new DocStreams.GateMetricsListener(m, "ndg_metrics")
      spark.streams.addListener(listener)
      try {
        val in = MemoryStream[NdDoc]
        val banded = DocStreams.bandedSignatures(
          in.toDF(), "doc_id", "text", 24, 4, 6)
        val out = DocStreams.observedGate(
          DocStreams.nearDupGate(spark, banded, 24, 12, cap = 2,
            metrics = Some(m)))
        val q = out.toDF()
          .writeStream.format("memory").queryName("ndg_metrics")
          .outputMode("append").start()
        in.addData(trio.take(2): _*); q.processAllAvailable()
        in.addData(trio.last); q.processAllAvailable()
        q.stop()
        spark.catalog.dropTempView("ndg_metrics")
        // cumulative totals are task-completion-synchronous
        assert(m.snapshot == ((108L, 104L, 104L)), s"totals: ${m.snapshot}")
        // listener delivery is async — poll briefly for both batches
        val deadline = System.nanoTime() + 10000000000L
        def dataBatches = listener.batches.filter(b =>
          b.admitted + b.compared + b.rejected > 0)
        while (dataBatches.size < 2 && System.nanoTime() < deadline)
          Thread.sleep(50)
        val perBatch = dataBatches
        assert(perBatch.map(b => (b.admitted, b.compared, b.rejected))
          == Seq((8L, 4L, 0L), (0L, 0L, 4L)), s"batches: $perBatch")
        // the observed channel (exactly-once, ridden on the progress
        // event) must agree with the accumulator deltas: batch 0 emits
        // the (1,2) pair in 4 bands, batch 1 four overflow sentinels
        assert(perBatch.map(b => (b.nPairs, b.nSentinels))
          == Seq((4L, 0L), (0L, 4L)), s"observed: $perBatch")
        assert(perBatch.map(_.nSentinels) == perBatch.map(_.rejected),
          "observed sentinels must equal the accumulator's rejected " +
            s"delta on a clean run: $perBatch")
      } finally spark.streams.removeListener(listener)
    }
  }

  test("gate metrics listener bounds its buffer as a ring") {
    // maxBatches = 2 over a 3-batch run: only the two NEWEST rows
    // survive (VERDICT r15 #5 — a months-running gate keeps a window,
    // not an unbounded history).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val m = DocStreams.GateMetrics(spark)
      val listener = new DocStreams.GateMetricsListener(m, "ndg_ring",
        maxBatches = 2)
      spark.streams.addListener(listener)
      try {
        val in = MemoryStream[NdDoc]
        val banded = DocStreams.bandedSignatures(
          in.toDF(), "doc_id", "text", 24, 4, 6)
        val q = DocStreams.nearDupGate(spark, banded, 24, 12,
            metrics = Some(m)).toDF()
          .writeStream.format("memory").queryName("ndg_ring")
          .outputMode("append").start()
        Seq(1L, 2L, 3L).foreach { i =>
          in.addData(NdDoc(i, s"w$i x$i y$i z$i a b c d"))
          q.processAllAvailable()
        }
        q.stop()
        spark.catalog.dropTempView("ndg_ring")
        val deadline = System.nanoTime() + 10000000000L
        while (listener.batches.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(50)
        val got = listener.batches
        assert(got.size <= 2, s"ring must cap at 2 rows: $got")
        assert(got.nonEmpty && got.map(_.batchId) ==
          got.map(_.batchId).sorted, s"newest-last order: $got")
      } finally spark.streams.removeListener(listener)
    }
  }

  private def runGateCapped(batches: Seq[Seq[NdDoc]], sink: String,
                            cap: Int): Set[(Long, Long, Long)] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withRocksDb {
      val in = MemoryStream[NdDoc]
      val banded = DocStreams.bandedSignatures(
        in.toDF(), "doc_id", "text", 24, 4, 6)
      val q = DocStreams.nearDupGate(spark, banded, 24, 12, cap = cap)
        .toDF()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      val out = spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      spark.catalog.dropTempView(sink)
      out
    }
  }
}
