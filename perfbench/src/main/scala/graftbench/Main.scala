package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <fixture dir> --work <scratch dir> --out <result json>
  * }}}
  *
  * Set-up is timed from JVM start: the session, then the median of
  * `SetupReps` repetitions of the workload's own set-up (the last one is
  * kept), then one warm-up. The result file carries every figure with
  * its unit and sample count, the failed checks, and the host context. */
object Main {
  val SetupReps = 3

  val Workloads = Seq("lineage-fetch", "engine-core")

  /** Layers whose self time the traced run reports. */
  val SelfLayers = Seq("parser", "parser.sqlparse", "parser.analyze", "metadata", "store",
    "tables", "engine.build", "engine.exec", "checkpoints")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val work = new java.io.File(args("work"))
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val traced = args("trace") == "1"
    val ctx = Ctx(spark, args("data"), work, args("seed").toLong, args("seconds").toInt,
      traced, cores)
    if (traced) { Probe.jobs(spark); Probe.finished(spark) }

    def setup[T](prepare: Int => T, close: T => Unit): (T, Seq[Double]) = {
      var last: Option[T] = None
      val times = (1 to SetupReps).map { rep =>
        last.foreach(close)
        val t0 = System.nanoTime()
        last = Some(prepare(rep))
        (System.nanoTime() - t0) / 1e9
      }
      (last.get, times)
    }

    val resultsDir = new java.io.File(work, "results")
    var warmS = 0.0
    val (outcome, reps, ownSession) = workload match {
      case "lineage-fetch" =>
        val (ready, reps) = setup[FetchWorkload.Ready](_ => FetchWorkload.prepare(ctx),
          _.server.stop(0))
        val w0 = System.nanoTime()
        FetchWorkload.warm(ctx, ready, FetchWorkload.WarmupBodies)
        warmS = (System.nanoTime() - w0) / 1e9
        Trace.enabled = traced
        val o = FetchWorkload.run(ctx, ready)
        ready.server.stop(0)
        (o, reps, Some(ready.spark))
      case "engine-core" =>
        val (_, reps) = setup[Unit](_ => EngineWorkload.warmup(ctx), _ => ())
        val w0 = System.nanoTime()
        val first = EngineWorkload.execute(ctx, EngineWorkload.order(ctx.seed),
          EngineWorkload.coreQueries, phases = false, EngineWorkload.resultWriter(resultsDir))
        warmS = (System.nanoTime() - w0) / 1e9
        // The traced figures are per timed pass; the warm-up's jobs carry
        // the same tags, so they are dropped.
        if (traced) Probe.jobs(spark).clear()
        Trace.enabled = traced
        (EngineWorkload.run(ctx, resultsDir, first), reps, None)
    }
    val setupS = sessionS + Stats.median(reps) + warmS
    // As in `graft.Bench`: the first probe still pays JIT, so it is
    // discarded.
    val calibration = { Host.calibration(spark); Host.calibration(spark) }

    val layerMetrics =
      if (!traced) Nil
      else {
        val own = outcome.metrics.map(_.name).toSet
        val probes = scala.collection.mutable.ArrayBuffer[Metric]()
        def missing(prefix: String) = !own.exists(_.startsWith(prefix))
        if (!own("service.wait_ms.p50") || missing("parser.")) {
          val ready = FetchWorkload.prepare(ctx)
          // Untraced, as the workload's own warm-up is, and shorter, to
          // keep a traced run of another workload within its time limit.
          Trace.enabled = false
          FetchWorkload.warm(ctx, ready, FetchWorkload.WarmupBodies / 4)
          Trace.enabled = true
          val o = FetchWorkload.run(ctx.copy(seconds = 2), ready)
          ready.server.stop(0)
          probes ++= o.metrics.filter(m => m.name.contains('.') && !own(m.name))
        }
        // No workload exercises the store, so every traced run probes it.
        probes ++= Probe.storeLayers(ctx, ownSession.getOrElse(Probe.fixtureSession(ctx)),
          new StmtGen(ctx.seed).storeRuns(8, 0.5))
        if (missing("engine.")) {
          val core = EngineWorkload.coreQueries
          val names = core.keys.toSeq.sorted.take(3)
          probes ++= Probe.engineLayers(ctx, EngineWorkload.execute(ctx, names, core,
            phases = true), Probe.jobs(spark))
        }
        val self = Trace.selfMs
        val s = ownSession.getOrElse(Probe.fixtureSession(ctx))
        Trace.writeJsonl(new java.io.File(work, "spans.jsonl").toPath)
        probes.toSeq ++ SelfLayers.map(l => Metric(s"self_ms.$l", self.getOrElse(l, 0.0), "ms")) ++
          Seq(
            Metric("service.live_threads_after_stop", Probe.liveThreadsAfterStop(s).toDouble, "count"),
            Metric("trace.overhead_share", Probe.traceOverhead(s, ctx.seed), "share"))
      }

    val metrics = outcome.metrics ++ layerMetrics ++ Seq(
      Metric("setup_s", setupS, "s", SetupReps,
        f"JVM to session $sessionS%.3f s + median of $SetupReps workload set-ups + warm-up $warmS%.3f s"),
      Metric("peak_rss_mb", Host.peakRssMb(), "MB"),
      Metric("heap_live_mb", Host.liveHeapMb(), "MB", 0, "heap in use after a full GC"))
    val json = new StringBuilder("{")
    json ++= s""""workload":${Json.str(workload)},"seed":${ctx.seed},"traced":$traced,"""
    json ++= s""""attempted":${outcome.attempted},"failed":${outcome.failed},"""
    json ++= s""""failures":${outcome.failures.map(Json.str).mkString("[", ",", "]")},"""
    json ++= metrics.map { m =>
      s"""${Json.str(m.name)}:{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)},""" +
        s""""n":${m.n},"note":${Json.str(m.note)}}"""
    }.mkString(""""metrics":{""", ",", "},")
    json ++= s""""context":{"cores":$cores,"heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},"""
    json ++= s""""calibration_s":${Json.num(calibration)},"session_s":${Json.num(sessionS)},"""
    json ++= s""""setup_reps_s":${reps.map(Json.num).mkString("[", ",", "]")},"""
    json ++= s""""spark":${Json.str(spark.version)},"java":${Json.str(System.getProperty("java.version"))}}}"""
    java.nio.file.Files.writeString(new java.io.File(args("out")).toPath, json.toString)
    // The service's request executor outlives server.stop(0); exit
    // explicitly rather than wait for it.
    Runtime.getRuntime.halt(0)
  }
}
