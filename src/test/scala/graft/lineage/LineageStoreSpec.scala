package graft.lineage

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[LineageStore]] semantics over a synthetic three-run store: runs
  * are immutable appends, the snapshot is latest-wins PER STATEMENT
  * (not per store), the diff is scoped to the newer run's statements,
  * and per-run reads prune to one partition directory. */
class LineageStoreSpec extends SparkTestBase {

  private def edge(stmt: Int, to: String, from: String,
                   conds: String = ""): LineageEdge =
    LineageEdge(stmt, "SELECT", "<EOF>", "", to, from, conds)

  private def frame(edges: LineageEdge*) = {
    import spark.implicits._
    edges.toDF()
  }

  private def withStore(f: String => Unit): Unit = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_store_spec").toString
    try f(dir)
    finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }

  test("snapshot is latest-wins per statement across partial runs") {
    withStore { dir =>
      // run 1: stmts 1,2,3 — run 2 re-parses stmt 2 only — run 3
      // re-parses stmts 1,3 (overlapping neither-superset scopes)
      LineageStore.append(spark, dir, 1L, frame(
        edge(1, "a", "db.t.x"), edge(2, "b", "db.t.y"),
        edge(3, "c", "db.t.z")))
      LineageStore.append(spark, dir, 2L, frame(
        edge(2, "b", "db.t.y2")))
      LineageStore.append(spark, dir, 3L, frame(
        edge(1, "a", "db.t.x3"), edge(3, "c", "db.t.z3"),
        edge(3, "c2", "db.t.w")))
      assert(LineageStore.runs(spark, dir) == Seq(1L, 2L, 3L))
      val snap = LineageStore.snapshot(spark, dir)
        .select("run_id", "stmt", "to_name", "from_name")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getString(2), r.getString(3))).toSet
      assert(snap == Set(
        (3L, 1, "a", "db.t.x3"),
        (2L, 2, "b", "db.t.y2"),
        (3L, 3, "c", "db.t.z3"), (3L, 3, "c2", "db.t.w")))
      // time travel: as of run 2 the graph is run 1's stmts 1,3 plus
      // run 2's stmt 2 — run 3 never happened yet
      val asOf2 = LineageStore.snapshot(spark, dir, asOf = Some(2L))
        .select("run_id", "stmt", "to_name", "from_name")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getString(2), r.getString(3))).toSet
      assert(asOf2 == Set(
        (1L, 1, "a", "db.t.x"),
        (2L, 2, "b", "db.t.y2"),
        (1L, 3, "c", "db.t.z")))
    }
  }

  test("append refuses an already-present run id") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame(edge(1, "a", "db.t.x")))
      intercept[IllegalArgumentException] {
        LineageStore.append(spark, dir, 1L, frame(edge(1, "a", "db.t.x")))
      }
    }
  }

  test("stores are version-stamped; a foreign contract fails by name") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame(edge(1, "a", "db.t.x")))
      // the stamp lives on the store's own (Hadoop) filesystem — read
      // and tamper through it, like a real HDFS/S3 deployment would
      val p = new org.apache.hadoop.fs.Path(dir, "_schema_version")
      val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
      def readStamp(): String = {
        val in = hfs.open(p)
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      def writeStamp(v: String): Unit = {
        val out = hfs.create(p, true)
        try out.write(v.getBytes("UTF-8")) finally out.close()
      }
      assert(readStamp() == LineageEdgeSchema.Version.toString)
      // a store written under a future contract refuses this library
      writeStamp("99")
      val e = intercept[IllegalArgumentException] {
        LineageStore.append(spark, dir, 2L, frame(edge(1, "b", "db.t.y")))
      }
      assert(e.getMessage.contains("v99"))
      // the stamp survives vacuum (it lives beside the partitions)
      writeStamp(LineageEdgeSchema.Version.toString)
      LineageStore.append(spark, dir, 2L, frame(edge(1, "b", "db.t.y")))
      LineageStore.vacuum(spark, dir)
      assert(hfs.exists(p))
    }
  }

  test("diff is scoped to the newer run's statements and is set algebra") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame(
        edge(1, "a", "db.t.x"), edge(1, "gone", "db.t.g"),
        edge(2, "untouched", "db.t.u")))
      // run 2 re-parses stmt 1 only: keeps a, drops gone, adds a CTRL
      // twin of a (same names, different conditions — the case q192's
      // keyed rowDiff cannot represent)
      LineageStore.append(spark, dir, 2L, frame(
        edge(1, "a", "db.t.x"),
        edge(1, "a", "db.t.c", "CTRL:WHERE:(t.c > 0)")))
      val d = LineageStore.diff(spark, dir, 1L, 2L)
        .select("stmt", "to_name", "from_name", "change")
        .collect().map(r => (r.getInt(0), r.getString(1),
          r.getString(2), r.getString(3))).toSet
      // stmt 2 (outside run 2's scope) emits NOTHING — a partial
      // re-parse must not read as mass removal
      assert(d == Set(
        (1, "gone", "db.t.g", "removed"),
        (1, "a", "db.t.c", "added")))
    }
  }

  test("vacuum removes exactly the fully-superseded runs; snapshot unchanged") {
    withStore { dir =>
      // run 1 {1,2} fully re-parsed by runs 2+3; run 2 {1} superseded
      // by run 3; run 3 {1} and run 4 {2} are each some stmt's latest
      LineageStore.append(spark, dir, 1L, frame(
        edge(1, "a", "db.t.x"), edge(2, "b", "db.t.y")))
      LineageStore.append(spark, dir, 2L, frame(edge(1, "a", "db.t.x2")))
      LineageStore.append(spark, dir, 3L, frame(edge(1, "a", "db.t.x3")))
      LineageStore.append(spark, dir, 4L, frame(edge(2, "b", "db.t.y4")))
      assert(LineageStore.supersededRuns(spark, dir) == Seq(1L, 2L))
      def snap() = LineageStore.snapshot(spark, dir)
        .select("run_id", "stmt", "from_name")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
        .toSet
      val before = snap()
      assert(LineageStore.vacuum(spark, dir) == Seq(1L, 2L))
      assert(LineageStore.runs(spark, dir) == Seq(3L, 4L))
      assert(snap() == before)
      assert(before == Set((3L, 1, "db.t.x3"), (4L, 2, "db.t.y4")))
      // vacuum is idempotent: nothing left to remove
      assert(LineageStore.vacuum(spark, dir).isEmpty)
    }
  }

  test("claimRun is atomic: concurrent claimers never share an id") {
    withStore { dir =>
      // seed so allocation starts past an existing run
      LineageStore.append(spark, dir, 1L, frame(edge(1, "a", "db.t.x")))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val claims = (1 to 80).map(_ => pool.submit(
          new java.util.concurrent.Callable[Long] {
            def call(): Long = LineageStore.claimRun(spark, dir)
          }))
        val ids = claims.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
        assert(ids.distinct.size == 80, "duplicate claim")
        assert(ids.min == 2L && ids.max == 81L, s"${ids.sorted}")
      } finally pool.shutdownNow()
      // claimed ids are reserved: visible in runs(), invisible to read()
      assert(LineageStore.runs(spark, dir).size == 81)
      assert(LineageStore.read(spark, dir).count() == 1)
      // a claimed id is appendable exactly once
      LineageStore.append(spark, dir, 5L, frame(edge(9, "b", "db.t.y")))
      intercept[IllegalArgumentException] {
        LineageStore.append(spark, dir, 5L, frame(edge(9, "b", "db.t.y")))
      }
      assert(LineageStore.read(spark, dir).count() == 2)
    }
  }

  test("concurrent claim+append threads lose no run (private committer dirs)") {
    withStore { dir =>
      // appends write into their OWN run_id=<n>/ directory — a
      // root-level partitionBy append would stage every writer under
      // one shared _temporary, and one job's commit could delete
      // another's in-flight task files (review r18)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      try {
        val futures = (1 to 24).map(i => pool.submit(
          new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              val id = LineageStore.claimRun(spark, dir)
              LineageStore.append(spark, dir, id,
                frame(edge(i, s"c$i", s"db.t.x$i")))
              id
            }
          }))
        val ids = futures.map(
          _.get(180, java.util.concurrent.TimeUnit.SECONDS))
        assert(ids.distinct.size == 24)
      } finally pool.shutdownNow()
      assert(LineageStore.read(spark, dir).count() == 24)
      val perRun = LineageStore.read(spark, dir)
        .groupBy("run_id").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(perRun.size == 24 && perRun.values.forall(_ == 1L), perRun)
    }
  }

  test("a zero-edge run's id can never be reused") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame()) // DDL-only re-parse
      assert(LineageStore.runs(spark, dir) == Seq(1L))
      intercept[IllegalArgumentException] {
        LineageStore.append(spark, dir, 1L, frame(edge(1, "a", "db.t.x")))
      }
      // and a store holding ONLY file-less runs reads as EMPTY, not a
      // schema-inference crash (ADVICE r17 #3)
      assert(LineageStore.read(spark, dir).count() == 0)
      assert(LineageStore.snapshot(spark, dir).count() == 0)
      // nor does vacuum eat the tombstone that makes the id reserved
      assert(LineageStore.supersededRuns(spark, dir).isEmpty)
      assert(LineageStore.vacuum(spark, dir).isEmpty)
      assert(LineageStore.runs(spark, dir) == Seq(1L))
    }
  }

  test("compact folds old runs into a segment; semantics unchanged") {
    withStore { dir =>
      // capture-log shape: one statement per run, never superseded
      (1 to 6).foreach { i =>
        LineageStore.append(spark, dir, i.toLong,
          frame(edge(i, s"c$i", s"db.t.x$i"),
            edge(i, s"d$i", s"db.t.y$i")))
      }
      LineageStore.append(spark, dir, 7L, frame()) // zero-edge run
      def snap() = LineageStore.snapshot(spark, dir)
        .select("run_id", "stmt", "to_name", "from_name")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getString(2), r.getString(3))).toSet
      val before = snap()
      assert(LineageStore.compact(spark, dir, upToRun = 4L) ==
        Seq(1L, 2L, 3L, 4L))
      // the run POPULATION and the graph are unchanged — only the
      // one-directory-per-write layout folded away
      assert(LineageStore.runs(spark, dir) ==
        (1L to 7L).toSeq)
      assert(snap() == before)
      assert(LineageStore.read(spark, dir)
        .filter(col("run_id") === 3L).count() == 2)
      // folded directories are gone; survivors remain
      val names = new java.io.File(dir).listFiles().map(_.getName).toSet
      assert(!names.exists(n => (1 to 4).exists(i => n == s"run_id=$i")),
        names.toString)
      assert(names.contains("run_id=5") && names.contains("_compacted"))
      // compacted ids stay reserved
      intercept[IllegalArgumentException] {
        LineageStore.append(spark, dir, 2L, frame(edge(2, "z", "db.t.z")))
      }
      // allocation resumes past everything
      assert(LineageStore.claimRun(spark, dir) == 8L)
      // a second compact folds the rest INCLUDING the zero-edge
      // tombstone (its id moves into the manifest) — but NOT the
      // claim-only run 8: that reservation's append is still in
      // flight and must survive the fold. TIERED (r19): the prior
      // segment is NOT rewritten — the new runs land in their own
      // segment, so compact cost tracks NEW data, not store size.
      assert(LineageStore.compact(spark, dir, upToRun = 8L) ==
        Seq(5L, 6L, 7L))
      assert(LineageStore.runs(spark, dir) == (1L to 8L).toSeq)
      assert(snap() == before)
      // the claimed id is still appendable after the fold
      LineageStore.append(spark, dir, 8L, frame(edge(8, "c8", "db.t.x8")))
      assert(LineageStore.read(spark, dir)
        .filter(col("run_id") === 8L).count() == 1)
      // run-scoped diff still works from the segment's run_id COLUMN:
      // run 2's scope is stmt 2, where run 1 has nothing → 2 additions
      assert(LineageStore.diff(spark, dir, 1L, 2L).count() == 2)
      // two live segments — one per compact call, under the merge
      // threshold; the first was not touched by the second call
      val segs = new java.io.File(dir, "_compacted").listFiles()
        .map(_.getName).filter(_.startsWith("seg_")).sorted
      assert(segs.toSeq == Seq("seg_1", "seg_2"), segs.toSeq.toString)
      // folded ids persist as RANGES — a million-write manifest stays
      // bytes-sized, not an id-per-line ledger
      val manifest = java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_compacted", "_manifest_2"))
      assert(manifest.contains("runs\t1-7"), manifest)
      assert(manifest.contains("segments\tseg_1,seg_2"), manifest)
    }
  }

  test("tiered compact: segments merge only past maxSegments, smallest first") {
    withStore { dir =>
      // 10 capture-shaped runs folded one at a time with maxSegments=3
      (1 to 10).foreach { i =>
        LineageStore.append(spark, dir, i.toLong,
          frame(edge(i, s"c$i", s"db.t.x$i")))
      }
      def snap() = LineageStore.snapshot(spark, dir)
        .select("run_id", "stmt", "from_name")
        .collect().map(r => (r.getLong(0), r.getInt(1),
          r.getString(2))).toSet
      val before = snap()
      def segCount() = new java.io.File(dir, "_compacted").listFiles()
        .map(_.getName).count(_.startsWith("seg_"))
      (1 to 10).foreach { i =>
        assert(LineageStore.compact(spark, dir, upToRun = i.toLong,
          maxSegments = 3) == (if (i == 1) Seq(1L) else Seq(i.toLong)))
        // the merge threshold holds after every call: count never
        // exceeds maxSegments, and the graph never changes
        assert(segCount() <= 3, s"after fold $i: ${segCount()} segments")
        assert(snap() == before, s"after fold $i")
      }
      assert(LineageStore.runs(spark, dir) == (1L to 10L).toSeq)
      // maxSegments = 1 reproduces the old everything-into-one shape
      LineageStore.append(spark, dir, 11L,
        frame(edge(11, "c11", "db.t.x11")))
      assert(LineageStore.compact(spark, dir, upToRun = 11L,
        maxSegments = 1) == Seq(11L))
      assert(segCount() == 1)
      assert(snap() == before + ((11L, 11, "db.t.x11")),
        "the single-segment fold must carry all 11 runs")
      assert(LineageStore.runs(spark, dir) == (1L to 11L).toSeq)
    }
  }

  test("compact leaves superseded runs for vacuum (either order works)") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame(edge(1, "a", "db.t.x")))
      LineageStore.append(spark, dir, 2L, frame(edge(1, "a", "db.t.x2")))
      // run 1 is fully superseded by run 2: compact must fold ONLY
      // run 2 — a superseded run frozen into a segment would be
      // beyond vacuum's reach forever
      assert(LineageStore.compact(spark, dir, upToRun = 2L) == Seq(2L))
      assert(LineageStore.supersededRuns(spark, dir) == Seq(1L))
      assert(LineageStore.vacuum(spark, dir) == Seq(1L))
      assert(LineageStore.purgeVacuumed(spark, dir, graceMs = 0L) ==
        Seq("run_id=1"))
      // the graph is intact from the segment alone
      val snap = LineageStore.snapshot(spark, dir)
        .select("run_id", "from_name").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(snap == Seq((2L, "db.t.x2")))
      assert(LineageStore.runs(spark, dir) == Seq(2L))
    }
  }

  test("vacuum is two-phase: tombstone first, data deleted only on purge") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame(edge(1, "a", "db.t.x")))
      LineageStore.append(spark, dir, 2L, frame(edge(1, "a", "db.t.x2")))
      // a scan started BEFORE the vacuum: its plan has already listed
      // both partitions
      val it = LineageStore.read(spark, dir).toLocalIterator()
      assert(LineageStore.vacuum(spark, dir) == Seq(1L))
      // vacuum touched no data file — the pre-vacuum scan completes
      // across both runs even though its tasks open files AFTER the
      // vacuum returned
      val seen = new scala.collection.mutable.ArrayBuffer[Long]()
      while (it.hasNext) seen += it.next().getAs[Long]("run_id")
      assert(seen.sorted == Seq(1L, 2L), seen.toString)
      // new reads skip the tombstoned partition
      assert(LineageStore.runs(spark, dir) == Seq(2L))
      assert(LineageStore.read(spark, dir).count() == 1)
      assert(new java.io.File(dir, "run_id=1/_vacuumed").exists())
      // a grace window longer than the tombstone's age purges nothing
      assert(LineageStore.purgeVacuumed(spark, dir,
        graceMs = 3600L * 1000).isEmpty)
      assert(new java.io.File(dir, "run_id=1").exists())
      // ... and so does the DEFAULT (conservative non-zero) grace
      assert(LineageStore.purgeVacuumed(spark, dir).isEmpty)
      assert(LineageStore.purgeVacuumed(spark, dir, graceMs = 0L) ==
        Seq("run_id=1"))
      assert(!new java.io.File(dir, "run_id=1").exists())
      // vacuum stays idempotent across the phases
      assert(LineageStore.vacuum(spark, dir).isEmpty)
    }
  }

  test("read log: appendReads/readLog round-trip, empty-safe") {
    withStore { dir =>
      // before the first flush the log reads as an EMPTY typed frame
      assert(LineageStore.readLog(spark, dir).count() == 0)
      assert(LineageStore.readLog(spark, dir).columns.toSeq ==
        Seq("session", "action", "table_name", "column_read", "ts_ms"))
      import spark.implicits._
      LineageStore.appendReads(spark, dir, Seq(
        ("s1", 1, "default.t", "a", 100L),
        ("s1", 1, "default.t", "b", 100L))
        .toDF("session", "action", "table_name", "column_read", "ts_ms"))
      LineageStore.appendReads(spark, dir, Seq(
        ("s2", 1, "default.t", "", 200L))
        .toDF("session", "action", "table_name", "column_read", "ts_ms"))
      val log = LineageStore.readLog(spark, dir)
        .collect().map(r => (r.getString(0), r.getInt(1),
          r.getString(2), r.getString(3), r.getLong(4))).toSet
      assert(log == Set(("s1", 1, "default.t", "a", 100L),
        ("s1", 1, "default.t", "b", 100L),
        ("s2", 1, "default.t", "", 200L)))
      // the log hides behind an underscore dir: edge reads unaffected
      assert(LineageStore.runs(spark, dir).isEmpty)
      assert(LineageStore.read(spark, dir).count() == 0)
    }
  }

  test("a per-run read prunes to that run's partition") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame(edge(1, "a", "db.t.x")))
      LineageStore.append(spark, dir, 2L, frame(edge(1, "a", "db.t.y")))
      val one = LineageStore.read(spark, dir)
        .filter(col("run_id") === 2L)
      // partition pruning: the scan's selected partitions drop run 1
      val scan = one.queryExecution.executedPlan.collectLeaves().head
        .toString
      assert(scan.contains("run_id"), scan)
      assert(one.select("from_name").collect().map(_.getString(0))
        .toSeq == Seq("db.t.y"))
    }
  }

  test("capture-shaped store: snapshot skips the latest-wins resolve") {
    withStore { dir =>
      // capture appends uphold stmt == run_id; the footer stats prove
      // it and the store records the identity
      (1 to 3).foreach { i =>
        LineageStore.appendCaptured(spark, dir, i.toLong,
          frame(edge(i, s"c$i", s"db.t.x$i")))
      }
      def joins(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }
      val snap = LineageStore.snapshot(spark, dir)
      assert(joins(snap).isEmpty,
        "identity fast path must plan no resolve join")
      assert(snap.select("run_id", "stmt").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet ==
        Set((1L, 1), (2L, 2), (3L, 3)))
      // asOf composes with the fast path
      assert(LineageStore.snapshot(spark, dir, asOf = Some(2L))
        .count() == 2)
      // supersededRuns answers from the markers alone: nothing is
      // ever superseded on a pure write log
      assert(LineageStore.supersededRuns(spark, dir).isEmpty)
      // ... and the identity survives compaction (run_id = column)
      LineageStore.compact(spark, dir, upToRun = 2L)
      val postFold = LineageStore.snapshot(spark, dir)
      assert(joins(postFold).isEmpty && postFold.count() == 3)
      // one plain append (re-parse style) breaks the promise: the
      // resolve join returns, results stay correct
      LineageStore.append(spark, dir, 4L,
        frame(edge(1, "c1", "db.t.override")))
      val mixed = LineageStore.snapshot(spark, dir)
      assert(joins(mixed).nonEmpty,
        "a mixed store must resolve latest-wins again")
      assert(mixed.filter(col("stmt") === 1)
        .select("from_name").collect().map(_.getString(0)).toSeq ==
        Seq("db.t.override"))
    }
  }

  test("appendCaptured with a lying stmt is demoted to mixed, not trusted") {
    withStore { dir =>
      // caller CLAIMS capture shape but writes stmt 7 under run 1 —
      // the footer check catches it and stamps _mixed
      LineageStore.appendCaptured(spark, dir, 1L,
        frame(edge(7, "c", "db.t.x")))
      LineageStore.appendCaptured(spark, dir, 2L,
        frame(edge(7, "c", "db.t.y")))
      val snap = LineageStore.snapshot(spark, dir)
        .select("run_id", "stmt", "from_name").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      // latest-wins still resolves: stmt 7's latest run (2) wins
      assert(snap == Set((2L, 7, "db.t.y")))
    }
  }

  test("migrate rewrites partitions and segments; version flips last") {
    withStore { dir =>
      // build a "v0" store: same columns, operation lowercased (the
      // synthetic prior contract), half of it folded into a segment
      def v0edge(stmt: Int, from: String) =
        LineageEdge(stmt, "select", "<EOF>", "", s"c$stmt", from, "")
      LineageStore.append(spark, dir, 1L, frame(
        v0edge(1, "db.t.x"), v0edge(2, "db.t.y")))
      LineageStore.append(spark, dir, 2L, frame(v0edge(3, "db.t.z")))
      LineageStore.compact(spark, dir, upToRun = 1L)
      LineageStore.append(spark, dir, 3L, frame()) // zero-edge unit
      val before = LineageStore.snapshot(spark, dir)
        .select("run_id", "stmt", "from_name").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      // forge the stamp: this store now claims contract v0 (drop the
      // local-FS checksum sidecar too — the out-of-band rewrite would
      // otherwise trip Hadoop's CRC on the next read)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._schema_version.crc"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_schema_version"),
        "0".getBytes("UTF-8"))
      // ... and v1 readers/writers refuse it by name
      val e = intercept[IllegalArgumentException] {
        LineageStore.append(spark, dir, 4L, frame(edge(4, "c", "db.q")))
      }
      assert(e.getMessage.contains("edge-contract"), e.getMessage)
      // a mid-migration store refuses READS by name too
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(dir, "_migrating"))
      val mid = intercept[IllegalArgumentException] {
        LineageStore.read(spark, dir).collect()
      }
      assert(mid.getMessage.contains("MID-MIGRATION"), mid.getMessage)
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(dir, "_migrating"))
      // migrate: uppercase the operation (the v0→v1 rewrite);
      // 1 segment + 1 live data partition rewritten, zero-edge free
      val units = LineageStore.migrate(spark, dir, fromVersion = 0,
        df => df.withColumn("operation",
          upper(col("operation"))))
      assert(units == 2, s"rewrote $units units")
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(dir, "_schema_version")) == "1")
      // row-identical snapshot, operation now under the new contract
      val after = LineageStore.snapshot(spark, dir)
        .select("run_id", "stmt", "from_name").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(after == before)
      assert(LineageStore.snapshot(spark, dir)
        .select("operation").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("SELECT"))
      // idempotent: already-current store is a no-op
      assert(LineageStore.migrate(spark, dir, 0,
        df => df) == 0)
      // crash-resume: a migration that died between the version flip
      // and lifting `_migrating` leaves the marker behind — the
      // re-run must sweep to completion WITHOUT re-rewriting the
      // already-swapped units (their files carry the version prefix),
      // even against a rewrite that would corrupt on double
      // application
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(dir, "_migrating"))
      assert(LineageStore.migrate(spark, dir, 0,
        df => df.withColumn("operation",
          concat(col("operation"), lit("_X")))) == 0)
      assert(!new java.io.File(dir, "_migrating").exists())
      assert(LineageStore.snapshot(spark, dir)
        .select("operation").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("SELECT"))
      // the store is fully writable again
      LineageStore.append(spark, dir, 4L, frame(edge(4, "c4", "db.q.w")))
      assert(LineageStore.runs(spark, dir) == Seq(1L, 2L, 3L, 4L))
    }
  }

  test("compact cleanupGraceMs: in-flight readers' files outlive the fold") {
    withStore { dir =>
      (1 to 4).foreach(i => LineageStore.append(spark, dir, i.toLong,
        frame(edge(i, s"c$i", s"db.t.x$i"))))
      // this reader LISTED the partition files before the fold commits
      val inFlight = LineageStore.read(spark, dir)
      assert(LineageStore.compact(spark, dir, 4L,
        cleanupGraceMs = 3600L * 1000) == Seq(1L, 2L, 3L, 4L))
      // ... and still completes: nothing it listed was deleted
      assert(inFlight.count() == 4)
      // partitions are retired behind `_folded` markers, invisible to
      // NEW reads (segments only), ids intact
      (1 to 4).foreach { i =>
        assert(new java.io.File(dir, s"run_id=$i/_folded").exists())
      }
      val fresh = LineageStore.read(spark, dir)
      assert(fresh.count() == 4)
      assert(fresh.inputFiles.forall(_.contains("/_compacted/")))
      assert(LineageStore.runs(spark, dir) == (1L to 4L))
      // retired partitions are never fold candidates again
      assert(LineageStore.compact(spark, dir, 4L,
        cleanupGraceMs = 3600L * 1000).isEmpty)
      // aged markers are swept by a later maintenance call
      (1 to 4).foreach { i =>
        assert(new java.io.File(dir, s"run_id=$i/_folded")
          .setLastModified(System.currentTimeMillis() - 7200L * 1000))
      }
      LineageStore.compact(spark, dir, 4L, cleanupGraceMs = 3600L * 1000)
      (1 to 4).foreach { i =>
        assert(!new java.io.File(dir, s"run_id=$i").exists())
      }
      assert(LineageStore.read(spark, dir).count() == 4)
    }
  }

  test("compactReads cleanupGraceMs: consumed flushes outlive the fold, never double-read") {
    withStore { dir =>
      def flush(i: Int): Unit = LineageStore.appendReads(spark, dir,
        spark.createDataFrame(Seq(("s", i, "db.t", "c", 1000L * i)))
          .toDF("session", "action", "table_name", "column_read",
            "ts_ms"))
      (1 to 3).foreach(flush)
      val inFlight = LineageStore.readLog(spark, dir)
      assert(LineageStore.compactReads(spark, dir,
        cleanupGraceMs = 3600L * 1000) == 3)
      assert(inFlight.count() == 3) // listed files still exist
      // the consumed batch dirs linger under the grace — and readLog
      // must NOT double-read them (consumed names carried forward)
      assert(LineageStore.readLog(spark, dir).count() == 3)
      // a second maintenance pass keeps carrying them
      flush(4)
      assert(LineageStore.compactReads(spark, dir,
        cleanupGraceMs = 3600L * 1000) == 1)
      assert(LineageStore.readLog(spark, dir).count() == 4)
      // aged consumed units are swept; rows unchanged
      Option(new java.io.File(dir, "_read_log").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
        .foreach { d =>
          val mk = new java.io.File(d, "_consumed")
          if (mk.exists())
            assert(mk.setLastModified(
              System.currentTimeMillis() - 7200L * 1000))
        }
      LineageStore.compactReads(spark, dir,
        cleanupGraceMs = 3600L * 1000)
      val batches = Option(new java.io.File(dir, "_read_log")
        .listFiles()).getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("batch_"))
      assert(batches == 0, s"$batches batch dirs survived the sweep")
      assert(LineageStore.readLog(spark, dir).count() == 4)
    }
  }

  test("vacuumReads on an exploded log consolidates first (unit-count guard)") {
    withStore { dir =>
      // 66 one-row flushes: past the 64-unit guard, retention must
      // fold the log FIRST (the straddler classification reads one
      // footer per unit on the driver) and classify the one segment
      // that remains, not 66 directories
      val now = System.currentTimeMillis()
      (1 to 66).foreach { i =>
        LineageStore.appendReads(spark, dir,
          spark.createDataFrame(Seq(
            ("s", i, "db.t", "c", if (i <= 33) 1000L else now)))
            .toDF("session", "action", "table_name", "column_read",
              "ts_ms"))
      }
      val removed =
        LineageStore.vacuumReads(spark, dir, olderThanMs = 3600L * 1000)
      assert(removed == Seq("rseg_1"), removed)
      assert(LineageStore.readLog(spark, dir).count() == 33)
      val names = Option(
        new java.io.File(dir, "_read_log").listFiles())
        .getOrElse(Array.empty)
        .map(_.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
      assert(names.forall(_.startsWith("rseg_")), names.toSeq)
    }
  }

  test("maintenance lease: held lease refuses by name, expired lease is stolen") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame(edge(1, "c", "db.t.x")))
      val holder = LineageStore.acquireMaintenance(spark, dir, "hold")
      val e = intercept[MaintenanceBusyException] {
        LineageStore.vacuum(spark, dir)
      }
      assert(e.getMessage.contains("maintenance lease"), e.getMessage)
      LineageStore.releaseMaintenance(spark, dir, holder)
      assert(LineageStore.vacuum(spark, dir).isEmpty) // lease free again
      // a DEAD maintainer's expired lease must not wedge the store:
      // the next maintainer steals it and proceeds
      LineageStore.acquireMaintenance(spark, dir, "dead-maintainer",
        leaseMs = -1000L)
      assert(LineageStore.vacuum(spark, dir).isEmpty)
      assert(!new java.io.File(dir, "_maintain").exists(),
        "the steal-then-release cycle must not leave a lease behind")
    }
  }

  test("maintenance lease heartbeat: a long operation outlives its interval") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame(edge(1, "c", "db.t.x")))
      // a short lease with a heartbeat: long after the UNRENEWED
      // deadline would have lapsed, a contender still refuses instead
      // of stealing mid-operation
      val holder = LineageStore.acquireMaintenance(spark, dir,
        "long-op", leaseMs = 1500L)
      val hb = LineageStore.startRenewal(spark, dir, holder,
        "long-op", leaseMs = 1500L, intervalMs = 150L)
      try {
        Thread.sleep(3500)
        intercept[MaintenanceBusyException] {
          LineageStore.vacuum(spark, dir)
        }
      } finally hb.interrupt()
      // heartbeat stopped (the maintainer died): the lease lapses and
      // the next maintainer steals it
      Thread.sleep(2000)
      assert(LineageStore.vacuum(spark, dir).isEmpty)
      assert(!new java.io.File(dir, "_maintain").exists())
    }
  }

  test("stopping the heartbeat at any moment leaves a lease its holder can release") {
    withStore { dir =>
      // a renewal every millisecond, stopped after a varying delay: an
      // interrupt inside a renewal's rewrite must not leave a blank
      // lease (unreleasable, held for the default length) behind
      val rnd = new scala.util.Random(7)
      for (i <- 1 to 40) {
        val holder = LineageStore.acquireMaintenance(spark, dir, "op",
          leaseMs = 60000L)
        val hb = LineageStore.startRenewal(spark, dir, holder, "op",
          leaseMs = 60000L, intervalMs = 1L)
        Thread.sleep(rnd.nextInt(15).toLong)
        hb.interrupt()
        LineageStore.releaseMaintenance(spark, dir, holder)
        assert(!new java.io.File(dir, "_maintain").exists(), s"round $i")
      }
    }
  }

  test("concurrent compacts never interleave: one refuses or they serialize") {
    withStore { dir =>
      (1 to 6).foreach(i => LineageStore.append(spark, dir, i.toLong,
        frame(edge(i, s"c$i", s"db.t.x$i"))))
      // the r19 verdict's named interleaving: maintainer B reads the
      // manifest, stalls while A folds 1-3 and commits, then B commits
      // ITS successor manifest built from the stale one — A's segment
      // unreferenced, runs 1-3 gone. The lease makes that impossible:
      // the loser refuses by name (or the two fully serialize).
      val results = new java.util.concurrent.ConcurrentHashMap[
        Int, Either[String, Seq[Long]]]()
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val threads = (0 to 1).map { i =>
        new Thread(() => {
          gate.await()
          try results.put(i,
            Right(LineageStore.compact(spark, dir, upToRun = 6L)))
          catch { case e: MaintenanceBusyException =>
            results.put(i, Left(e.getMessage)) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val folded = results.values.asScala.collect {
        case Right(f) => f }.toSeq
      assert(folded.nonEmpty, "at least one maintainer must proceed")
      // no run folds twice, and refusals are by name
      val all = folded.flatten
      assert(all.distinct == all, s"double fold: $all")
      results.values.asScala.collect { case Left(m) => m }.foreach(m =>
        assert(m.contains("maintenance lease"), m))
      // every committed row and every id survived the overlap
      assert(LineageStore.read(spark, dir).count() == 6)
      assert(LineageStore.runs(spark, dir) == (1L to 6L))
      assert(LineageStore.snapshot(spark, dir).count() == 6)
      // and the lease was released: a third maintainer proceeds
      assert(LineageStore.compact(spark, dir, 6L).isEmpty)
    }
  }

  test("vacuumClaims reclaims dead claim-only orphans; reservations survive") {
    withStore { dir =>
      LineageStore.append(spark, dir, 1L, frame(edge(1, "c1", "db.t.x")))
      val orphan = LineageStore.claimRun(spark, dir) // claimer "dies"
      val live = LineageStore.claimRun(spark, dir)   // append in flight
      assert(Seq(orphan, live) == Seq(2L, 3L))
      // age the orphan's claim past the window; the live one stays new
      assert(new java.io.File(dir, s"run_id=$orphan/_claim")
        .setLastModified(System.currentTimeMillis() - 60000L))
      val reclaimed =
        LineageStore.vacuumClaims(spark, dir, olderThanMs = 30000L)
      assert(reclaimed == Seq(orphan))
      // directory gone, reservation kept: the id stays taken and the
      // allocator jumps it forever
      assert(!new java.io.File(dir, s"run_id=$orphan").exists())
      assert(LineageStore.runTaken(spark, dir, orphan))
      // the within-window claim is untouched and still appendable
      assert(new java.io.File(dir, s"run_id=$live/_claim").exists())
      LineageStore.append(spark, dir, live,
        frame(edge(3, "c3", "db.t.z")))
      assert(LineageStore.claimRun(spark, dir) == 4L)
      assert(LineageStore.read(spark, dir).count() == 2)
      // a second pass reclaims nothing: the orphan is gone and the
      // just-made claim (4) sits inside the window
      assert(LineageStore.vacuumClaims(spark, dir, 30000L).isEmpty)
    }
  }

  test("reads stay online mid-migration when the rewrite is registered") {
    withStore { dir =>
      def v0edge(stmt: Int, from: String) =
        LineageEdge(stmt, "select", "<EOF>", "", s"c$stmt", from, "")
      LineageStore.append(spark, dir, 1L, frame(
        v0edge(1, "db.t.x"), v0edge(2, "db.t.y")))
      LineageStore.append(spark, dir, 2L, frame(v0edge(3, "db.t.z")))
      LineageStore.compact(spark, dir, upToRun = 1L)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._schema_version.crc"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_schema_version"),
        "0".getBytes("UTF-8"))
      val rw: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
        df => df.withColumn("operation", upper(col("operation")))
      // a maintainer that dies after the first unit: the rewrite
      // throws on its second invocation (partition first, then the
      // segment) — `_migrating` stays down
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      intercept[RuntimeException] {
        LineageStore.migrate(spark, dir, 0, df => {
          if (calls.incrementAndGet() == 2)
            throw new RuntimeException("maintainer died")
          rw(df)
        })
      }
      assert(new java.io.File(dir, "_migrating").exists())
      // a fresh reader JVM has no registration: refusal stands
      LineageStore.stopServingDuringMigration(spark, dir)
      val refused = intercept[IllegalArgumentException] {
        LineageStore.read(spark, dir).collect()
      }
      assert(refused.getMessage.contains("MID-MIGRATION"))
      // opting in serves the PAUSED migration: swapped units read
      // as-is, the unmigrated segment goes through the rewrite
      LineageStore.serveDuringMigration(spark, dir, rw)
      def graph() = LineageStore.snapshot(spark, dir)
        .select("run_id", "stmt", "from_name", "operation").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getString(3))).toSet
      val mid = graph()
      assert(mid.nonEmpty && mid.forall(_._4 == "SELECT"), mid)
      // finishing the migration changes NOTHING a reader saw
      LineageStore.stopServingDuringMigration(spark, dir)
      assert(LineageStore.migrate(spark, dir, 0, rw) >= 1)
      assert(graph() == mid)
      assert(!new java.io.File(dir, "_migrating").exists())
    }
  }

  test("read-log reclamation: compactReads folds batches tiered") {
    withStore { dir =>
      import spark.implicits._
      def flush(i: Int): Unit =
        LineageStore.appendReads(spark, dir, Seq(
          (s"s$i", i, "db.a", "k", i * 100L),
          (s"s$i", i, "db.b", "v", i * 100L))
          .toDF("session", "action", "table_name", "column_read",
            "ts_ms"))
      def logRows() = LineageStore.readLog(spark, dir)
        .collect().map(r => (r.getString(0), r.getInt(1),
          r.getString(2), r.getString(3), r.getLong(4))).toSet
      def units(prefix: String) = Option(
        new java.io.File(dir, "_read_log").listFiles())
        .getOrElse(Array.empty)
        .map(_.getName).count(_.startsWith(prefix))
      (1 to 5).foreach(flush)
      val before = logRows()
      assert(units("batch_") == 5)
      // fold: five flush directories become one segment, rows intact
      assert(LineageStore.compactReads(spark, dir) == 5)
      assert(units("batch_") == 0 && units("rseg_") == 1)
      assert(logRows() == before)
      // idempotent when nothing new arrived
      assert(LineageStore.compactReads(spark, dir) == 0)
      // tiered: repeated folds with maxSegments=2 keep the segment
      // count bounded and the rows identical
      (6 to 11).foreach { i =>
        flush(i)
        assert(LineageStore.compactReads(spark, dir,
          maxSegments = 2) == 1)
        assert(units("rseg_") <= 2, s"after fold $i")
      }
      assert(logRows().size == 22)
    }
  }

  test("read-log retention: vacuumReads drops old units whole, rewrites straddlers") {
    withStore { dir =>
      import spark.implicits._
      val now = System.currentTimeMillis()
      val old = now - 10L * 3600 * 1000
      // batch 1: wholly old — deleted from footer stats alone
      LineageStore.appendReads(spark, dir, Seq(
        ("s1", 1, "db.a", "k", old), ("s1", 1, "db.a", "v", old))
        .toDF("session", "action", "table_name", "column_read", "ts_ms"))
      // batch 2: straddles the cutoff — rewritten filtered
      LineageStore.appendReads(spark, dir, Seq(
        ("s2", 2, "db.b", "k", old), ("s2", 2, "db.b", "k", now))
        .toDF("session", "action", "table_name", "column_read", "ts_ms"))
      // batch 3: wholly current — untouched
      LineageStore.appendReads(spark, dir, Seq(
        ("s3", 3, "db.c", "k", now))
        .toDF("session", "action", "table_name", "column_read", "ts_ms"))
      val removed = LineageStore.vacuumReads(spark, dir,
        olderThanMs = 3600 * 1000L)
      assert(removed.size == 2, removed.toString)
      val rows = LineageStore.readLog(spark, dir)
        .select("session", "ts_ms").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows == Set(("s2", now), ("s3", now)), rows.toString)
      // retention composes with consolidation
      assert(LineageStore.compactReads(spark, dir) >= 1)
      assert(LineageStore.readLog(spark, dir).count() == 2)
      // nothing old remains → a second pass is a no-op
      assert(LineageStore.vacuumReads(spark, dir,
        olderThanMs = 3600 * 1000L).isEmpty)
    }
  }
}
