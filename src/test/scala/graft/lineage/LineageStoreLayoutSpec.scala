package graft.lineage

import java.io.File
import java.nio.file.{Files, Paths}
import graft.SparkTestBase

/** The store's on-disk layout, byte for byte: one maintenance cycle
  * over both logs, then the exact text of every metadata file it
  * leaves (version stamp, edge and read-log manifests, vacuum stamp,
  * maintenance lease) and the names beside them. A store written by
  * one library version must read under the next, so these texts are a
  * format, not an implementation detail. */
class LineageStoreLayoutSpec extends SparkTestBase {

  private def edge(stmt: Int, to: String, from: String): LineageEdge =
    LineageEdge(stmt, "SELECT", "<EOF>", "", to, from, "")

  private def frame(edges: LineageEdge*) = {
    import spark.implicits._
    edges.toDF()
  }

  private def text(dir: String, parts: String*): String =
    Files.readString(Paths.get(dir, parts: _*))

  private def names(dir: String, sub: String): Seq[String] =
    Option(new File(dir, sub).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filterNot(_.endsWith(".crc")).sorted.toSeq

  test("one maintenance cycle leaves the pinned metadata texts") {
    withTempDir("graft_store_layout") { path =>
      val dir = path.toString
      // runs 1, 2 fold; run 4 re-parses run 3's statement, so vacuum
      // retires run 3
      LineageStore.append(spark, dir, 1L, frame(edge(1, "a", "db.t.x")))
      LineageStore.append(spark, dir, 2L, frame(edge(2, "b", "db.t.y")))
      LineageStore.append(spark, dir, 3L, frame(edge(3, "c", "db.t.z")))
      LineageStore.append(spark, dir, 4L, frame(edge(3, "c", "db.t.w")))
      assert(text(dir, "_schema_version") ==
        LineageEdgeSchema.Version.toString)

      assert(LineageStore.compact(spark, dir, upToRun = 2L,
        maxSegments = 1) == Seq(1L, 2L))
      assert(names(dir, "_compacted") == Seq("_manifest_1", "seg_1"))
      assert(text(dir, "_compacted", "_manifest_1") ==
        "segments\tseg_1\nruns\t1-2\n")

      def flush(i: Int): Unit = LineageStore.appendReads(spark, dir,
        spark.createDataFrame(Seq(("s", i, "db.t", "c", 1000L * i)))
          .toDF("session", "action", "table_name", "column_read", "ts_ms"))
      flush(1)
      flush(2)
      val batches = names(dir, "_read_log")
      assert(batches.size == 2 && batches.forall(_.startsWith("batch_")))
      assert(LineageStore.compactReads(spark, dir) == 2)
      assert(names(dir, "_read_log") == Seq("_rmanifest_1", "rseg_1"))
      // `consumed` lists the inputs in the filesystem's listing order
      assert(batches.permutations.map(bs =>
        s"segments\trseg_1\nconsumed\t${bs.mkString(",")}\n").toSet
        .contains(text(dir, "_read_log", "_rmanifest_1")))

      // a claim older than the window folds into the manifest's ranges
      assert(LineageStore.claimRun(spark, dir) == 5L)
      assert(new File(dir, "run_id=5/_claim")
        .setLastModified(System.currentTimeMillis() - 3600L * 1000))
      assert(LineageStore.vacuumClaims(spark, dir, 60L * 1000) == Seq(5L))
      assert(!new File(dir, "run_id=5").exists())
      assert(names(dir, "_compacted") == Seq("_manifest_2", "seg_1"))
      assert(text(dir, "_compacted", "_manifest_2") ==
        "segments\tseg_1\nruns\t1-2,5\n")

      val before = System.currentTimeMillis()
      assert(LineageStore.vacuum(spark, dir) == Seq(3L))
      val after = System.currentTimeMillis()
      val stamp = text(dir, "run_id=3", "_vacuumed")
      assert(stamp.matches("[0-9]+"), stamp)
      assert(stamp.toLong >= before && stamp.toLong <= after)
      assert(names(dir, "") == Seq("_compacted", "_mixed", "_read_log",
        "_schema_version", "run_id=3", "run_id=4"))

      val leaseMs = 60L * 1000
      val t0 = System.currentTimeMillis()
      val holder = LineageStore.acquireMaintenance(spark, dir, "compact",
        leaseMs = leaseMs)
      val t1 = System.currentTimeMillis()
      try {
        val lines = text(dir, "_maintain").split("\n", -1).toSeq
        assert(lines.size == 4 && lines.last.isEmpty, lines)
        assert(lines(0) == s"holder\t$holder")
        assert(lines(1) == "op\tcompact")
        assert(lines(2).startsWith("deadline\t"), lines(2))
        val deadline = lines(2).stripPrefix("deadline\t").toLong
        assert(deadline >= t0 + leaseMs && deadline <= t1 + leaseMs)
      } finally LineageStore.releaseMaintenance(spark, dir, holder)
      assert(!new File(dir, "_maintain").exists())
    }
  }
}
