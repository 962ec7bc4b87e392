package graftbench

import scala.jdk.CollectionConverters._

import graft.lineage.{LineageParser, LineageQueries, LineageService, LineageStore}
import org.apache.spark.sql.SparkSession

/** Per-layer figures for the traced run. A workload measures the layers
  * it exercises; the layers it bypasses are measured by a small fixed
  * probe of that layer's public calls, so every traced run reports every
  * layer and no figure is a placeholder. */
object Probe {
  private var counter: Option[JobCounter] = None
  private var queries: Option[FinishedQueries] = None

  /** The job counter of this JVM's SparkContext, attached once. */
  def jobs(spark: SparkSession): JobCounter = synchronized {
    counter.getOrElse {
      val jc = new JobCounter
      spark.sparkContext.addSparkListener(jc)
      counter = Some(jc)
      jc
    }
  }

  /** The query-execution listener of this JVM's session, registered once. */
  def finished(spark: SparkSession): FinishedQueries = synchronized {
    queries.getOrElse {
      val fq = new FinishedQueries
      spark.listenerManager.register(fq)
      queries = Some(fq)
      fq
    }
  }

  /** Engine layers over executed queries: construction, Spark's planning
    * phases (from the executed write's `QueryPlanningTracker`), execution
    * totals and the between-query sweep. */
  def engineLayers(ctx: Ctx, runs: Seq[EngineWorkload.Run], jc: JobCounter,
                   passes: Int = 1): Seq[Metric] = {
    jc.drain()
    val names = runs.map(_.name).toSet
    // Per pass: `runs` hold per-query means, the tags hold every pass.
    def sumOf(prefix: String)(f: jc.Agg => java.util.concurrent.atomic.AtomicLong): Double =
      jc.sum(t => t.startsWith(prefix) && names(t.drop(prefix.length)))(f).toDouble / passes
    val loads = EngineWorkload.tableLoads(ctx)
    val phase = (k: String) => runs.map(_.phases.getOrElse(k, 0.0)).sum
    val execMs = runs.map(r => math.max(0.0, r.execMs - r.writePlanningMs)).sum
    val tracked = s"${runs.count(_.phases.nonEmpty)} of ${runs.size} queries tracked"
    val mb = (b: Double) => b / 1048576.0
    val buildJobs = sumOf("build:")(_.jobs)
    Seq(
      Metric("tables.load_ms", loads.sum, "ms", loads.size,
        "first load of each fixture table in a fresh session, summed"),
      Metric("engine.build_ms.p50", Stats.median(runs.map(_.buildMs)), "ms", runs.size),
      Metric("engine.build_jobs", buildJobs / runs.size, "count", runs.size,
        s"jobs launched while building, per query; ${runs.count(r =>
          jc.sum(_ == s"build:${r.name}")(_.jobs) > 0)} of ${runs.size} queries launch any"),
      Metric("engine.analyze_ms", phase("analysis"), "ms", runs.size, tracked),
      Metric("engine.optimize_ms", phase("optimization"), "ms", runs.size, tracked),
      Metric("engine.plan_ms", phase("planning"), "ms", runs.size, tracked),
      Metric("engine.exec_ms", execMs, "ms", runs.size,
        "noop write time minus its own analysis, optimisation and planning"),
      Metric("engine.jobs", sumOf("exec:")(_.jobs), "count"),
      Metric("engine.stages", sumOf("exec:")(_.stages), "count"),
      Metric("engine.tasks", sumOf("exec:")(_.tasks), "count"),
      Metric("engine.shuffle_read_mb", mb(sumOf("exec:")(_.shuffleRead)), "MB"),
      Metric("engine.shuffle_write_mb", mb(sumOf("exec:")(_.shuffleWrite)), "MB"),
      Metric("engine.spill_mb", mb(sumOf("exec:")(_.spill)), "MB"),
      Metric("engine.core_busy_share",
        sumOf("exec:")(_.cpuNs) / 1e6 / (runs.map(_.execMs).sum * ctx.cores), "share"),
      Metric("engine.artifact_warm_share", runs.count(_.warm).toDouble / runs.size, "share"),
      Metric("checkpoints.sweep_ms", runs.map(_.sweepMs).sum, "ms", runs.size))
  }

  /** The store probe compacts after every this many appends. */
  val CompactEvery = 4

  /** `LineageStore` called in process on a fresh store: append each run,
    * compact every `CompactEvery`-th, and read a snapshot and a diff
    * after every append. */
  def storeLayers(ctx: Ctx, spark: SparkSession, runs: Seq[Seq[GenStmt]]): Seq[Metric] = {
    val jc = jobs(spark)
    val sc = spark.sparkContext
    val dir = new java.io.File(ctx.workDir, "store-library").getPath
    val appendMs, snapshotMs, diffMs, compactMs = scala.collection.mutable.ArrayBuffer[Double]()
    def timed[T](op: String, into: scala.collection.mutable.ArrayBuffer[Double])(body: => T): T = {
      val t0 = System.nanoTime()
      try JobCounter.tagged(sc, s"store.$op")(Trace(s"store.$op", "store")(body))
      finally into += Host.ms(t0)
    }
    runs.zipWithIndex.foreach { case (r, i) =>
      val id = i + 1L
      val edges = LineageParser.toDataset(spark,
        LineageParser.parse(spark, r.map(_.sql).mkString(";\n")))
      timed("append", appendMs)(LineageStore.append(spark, dir, id, edges))
      if (id % CompactEvery == 0)
        timed("compact", compactMs)(LineageStore.compact(spark, dir, id))
      timed("snapshot", snapshotMs)(LineageStore.snapshot(spark, dir, Some(id)).collect())
      if (id >= 2) timed("diff", diffMs)(LineageStore.diff(spark, dir, id - 1, id).collect())
    }
    jc.drain()
    val ops = appendMs.size + snapshotMs.size + diffMs.size + compactMs.size
    val files = fileSizes(new java.io.File(dir))
    def p50(xs: Seq[Double]) = Stats.median(xs)
    Seq(
      Metric("store.append_ms.p50", p50(appendMs.toSeq), "ms", appendMs.size),
      Metric("store.snapshot_ms.p50", p50(snapshotMs.toSeq), "ms", snapshotMs.size),
      Metric("store.diff_ms.p50", p50(diffMs.toSeq), "ms", diffMs.size),
      Metric("store.compact_ms.p50", p50(compactMs.toSeq), "ms", compactMs.size),
      Metric("store.jobs_per_op", jc.sum(_.startsWith("store."))(_.jobs).toDouble / ops, "count", ops),
      Metric("store.tasks_per_op", jc.sum(_.startsWith("store."))(_.tasks).toDouble / ops, "count", ops),
      Metric("store.files", files.size.toDouble, "count"),
      Metric("store.bytes_written", files.sum.toDouble, "B"))
  }

  /** Sizes of the regular files under `dir`, bytes. */
  def fileSizes(dir: java.io.File): Seq[Long] =
    if (!dir.exists()) Nil
    else java.nio.file.Files.walk(dir.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).toSeq

  /** Non-daemon threads a started-then-stopped service leaves alive. */
  def liveThreadsAfterStop(spark: SparkSession): Int = {
    val before = Host.nonDaemonThreads()
    val server = LineageService.start(spark)
    Http.call("GET", s"http://127.0.0.1:${server.getAddress.getPort}/health")
    server.stop(0)
    Thread.sleep(200)
    (Host.nonDaemonThreads() -- before).size
  }

  /** Share of wall time the span recorder adds: the same in-process
    * replay of parse calls, traced, against the untraced replays on
    * either side of it. */
  def traceOverhead(spark: SparkSession, seed: Long): Double = {
    val meta = CountingMetadata(spark)
    val sqls = new StmtGen(seed ^ 0x0bbL).fetchStream(40, 0, 0).flatMap(_.stmts.map(_.sql))
    def pass(traced: Boolean): Double = {
      val was = Trace.enabled
      Trace.enabled = traced
      val t0 = System.nanoTime()
      try sqls.foreach(s => Trace("overhead.parseStatement", "overhead")(
        LineageParser.parseStatement(spark, s, 1, "default", Some(meta))))
      finally Trace.enabled = was
      Host.ms(t0)
    }
    pass(false)
    // Each traced pass between two untraced ones, so steady JIT warming
    // does not read as a negative overhead.
    var before = pass(false)
    val ratios = (1 to 4).map { _ =>
      val on = pass(true)
      val after = pass(false)
      val r = on / ((before + after) / 2) - 1.0
      before = after
      r
    }
    Stats.median(ratios)
  }

  /** A fresh session with the fixture catalog. */
  def fixtureSession(ctx: Ctx): SparkSession = {
    val s = ctx.spark.newSession()
    LineageQueries.registerFixtures(s, ctx.dataDir)
    s
  }
}
