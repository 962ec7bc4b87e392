package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.{Checkpoints, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `engine-core`: the cheaper half of `CoreQueries`. Each query's first
  * run, in a seeded order, is the warm-up and writes its result out for
  * the DuckDB oracle check; the timed passes follow, into the noop sink,
  * in the seeded order and then in reverse, with `graft.Bench`'s untimed
  * between-query sweeps. These sub-second queries are dominated by fixed
  * per-query cost: table loads, DataFrame construction and planning. */
object EngineWorkload {
  type Query = (SparkSession, String) => DataFrame

  /** The 20 `CoreQueries` entries below the family's median time in the
    * archived sf0.1 bench records (0.2–0.56 s each on 8 cores). The
    * other half is left out to keep a cold run within its time budget. */
  val Selected: Seq[String] = Seq(
    "q05_join_right", "q07_join_semi", "q08_join_anti", "q09_union_all",
    "q12_case_in_null", "q13_concat_nvl_datesub", "q14_star_expansion",
    "q15_subquery_alias", "q17_having", "q18_topk", "q21_cte", "q22_rollup",
    "q23_scalar_subquery", "q25_like_arith_bitwise", "q26_array_subscript",
    "q27_cross_join", "q55_csv_roundtrip", "q78_cube", "q81_grouping_sets",
    "q93_orc_roundtrip")

  /** The seeded order of the warm-up pass and the first timed pass. A
    * query's first run pays one-off costs (class loading, JIT and code
    * generation of its operators) whose sum moves with the order and
    * with host load far more than a later run does, so that run is the
    * warm-up and counts in `setup_s`. */
  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Selected)

  def coreQueries: Map[String, Query] = graft.queries.CoreQueries.queries

  /** The harness's untimed warm-up: codegen and shuffle once. (The
    * harness also warms the streaming machinery; no query here streams.) */
  def warmup(ctx: Ctx): Unit = {
    import org.apache.spark.sql.functions._
    val spark = ctx.spark
    spark.range(100000).select(col("id"), md5(col("id").cast("string")).as("h"))
      .groupBy(substring(col("h"), 1, 2)).count().count()
    Checkpoints.sweep(spark)
  }

  /** One executed query. `phases` holds Spark's planning phase times,
    * ms: `analysis` (the query's own, while it was built, plus the
    * write's), `optimization` and `planning`, and `write.analysis`, the
    * part of `analysis` inside the write. */
  final case class Run(name: String, buildMs: Double, execMs: Double, sweepMs: Double,
                       error: Option[String], phases: Map[String, Double], warm: Boolean) {
    def wallMs: Double = buildMs + execMs

    /** Planning time inside the timed noop write. */
    def writePlanningMs: Double =
      Seq("write.analysis", "optimization", "planning").map(phases.getOrElse(_, 0.0)).sum
  }

  /** The timed sink. */
  val noop: (String, DataFrame) => Unit =
    (_, df) => df.write.format("noop").mode("overwrite").save()

  /** The warm-up's sink: each result as one parquet file under `dir`. */
  def resultWriter(dir: java.io.File): (String, DataFrame) => Unit =
    (name, df) => df.coalesce(1).write.mode("overwrite").parquet(new java.io.File(dir, name).getPath)

  /** Execute `names` in order: build the DataFrame, run it into `sink`
    * (both timed), then sweep (untimed). Jobs are tagged
    * `build:<name>` / `exec:<name>`. When `phases` is set, the phase
    * times come from the `QueryPlanningTracker` of the executed write,
    * as Spark's `QueryExecutionListener` reports it, plus the analysis
    * the DataFrame's own tracker recorded while it was built. */
  def execute(ctx: Ctx, names: Seq[String], queries: Map[String, Query],
              phases: Boolean, sink: (String, DataFrame) => Unit = noop): Seq[Run] = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val artifacts = graft.queries.PipelineQueries.artifactBacked ++
      graft.queries.StreamingQueries.artifactBacked ++ graft.lineage.LineageQueries.artifactBacked
    names.map { name =>
      val warm = artifacts.get(name).exists(_.apply(ctx.dataDir))
      var buildMs, execMs = 0.0
      var tracked = Map.empty[String, Double]
      val error = try {
        val b0 = System.nanoTime()
        val df = JobCounter.tagged(sc, s"build:$name") {
          Trace("engine.build", "engine.build", name)(queries(name)(spark, ctx.dataDir))
        }
        buildMs = Host.ms(b0)
        val built = df.queryExecution.tracker.phases
        if (phases) Probe.finished(spark).clear()
        val e0 = System.nanoTime()
        JobCounter.tagged(sc, s"exec:$name") {
          Trace("engine.exec", "engine.exec", name)(sink(name, df))
        }
        execMs = Host.ms(e0)
        if (phases) Probe.finished(spark).await("overwrite").foreach { t =>
          val inWrite = t.phases.map { case (k, v) => k -> v.durationMs.toDouble }
          val ownAnalysis = built.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
          tracked = inWrite ++ Map(
            "analysis" -> (ownAnalysis + inWrite.getOrElse("analysis", 0.0)),
            "write.analysis" -> inWrite.getOrElse("analysis", 0.0))
        }
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      val s0 = System.nanoTime()
      Trace("checkpoints.sweep", "checkpoints", name)(Checkpoints.sweep(spark))
      Run(name, buildMs, execMs, Host.ms(s0), error, tracked, warm)
    }
  }

  /** Name the results the warm-up wrote, with their oracle SQL, for the
    * check. */
  def writeOracleSql(names: Seq[String], outDir: java.io.File): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val json = names.filter(oracle.contains)
      .map(n => s"${Json.str(n)}:${Json.str(oracle(n))}").mkString("{", ",", "}")
    outDir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(outDir, "oracle_sql.json").toPath, json)
    java.nio.file.Files.writeString(new java.io.File(outDir, "names.json").toPath,
      names.map(Json.str).mkString("[", ",", "]"))
  }

  /** Timed passes over the query list: the seeded order, then reversed,
    * so a query's time does not hinge on where the seed put it. */
  val Passes = 2

  def run(ctx: Ctx, resultsDir: java.io.File, first: Seq[Run]): Outcome = {
    val queries = coreQueries
    val order = EngineWorkload.order(ctx.seed)
    val passes = (0 until Passes).map(p =>
      execute(ctx, if (p % 2 == 0) order else order.reverse, queries, ctx.traced))
    val runs = order.map { name =>
      val rs = passes.map(_.find(_.name == name).get)
      def mean(f: Run => Double) = rs.map(f).sum / rs.size
      Run(name, mean(_.buildMs), mean(_.execMs), mean(_.sweepMs),
        rs.flatMap(_.error).headOption,
        rs.flatMap(_.phases.keys).distinct.map(k => k -> rs.map(_.phases.getOrElse(k, 0.0)).sum / rs.size).toMap,
        rs.head.warm)
    }
    val failures = ArrayBuffer[String]()
    runs.foreach(r => r.error.foreach(e => failures += s"${r.name}: $e"))
    writeOracleSql(order, resultsDir)
    first.foreach(f => f.error.foreach(e => if (!runs.exists(r => r.name == f.name && r.error.nonEmpty))
      failures += s"${f.name} (result write): $e"))

    val walls = runs.map(_.wallMs)
    val executions = passes.flatten.map(_.wallMs)
    val total = executions.sum / 1000.0
    val tail = Stats.supportedPct(executions.size, 90)
    val e2e = Seq(
      Metric("throughput_per_s", Passes * runs.size / total, "1/s", Passes * runs.size,
        s"queries/s over $Passes passes"),
      // Over every execution, not per-query means: a median of means
      // moves with the seeded order far more than this does.
      Metric("p50_ms", Stats.median(executions), "ms", executions.size,
        s"wall time per query execution, over $Passes passes"),
      Metric("tail_ms", Stats.pct(executions, tail), "ms", executions.size,
        s"p$tail wall time over all executions"),
      Metric("engine_total_s", walls.sum / 1000.0, "s", walls.size, s"mean of $Passes passes"),
      Metric("engine_query_p50_s", Stats.median(executions) / 1000.0, "s", executions.size)) ++
      passes.zipWithIndex.map { case (ps, i) =>
        Metric(s"engine_pass${i + 1}_s", ps.map(_.wallMs).sum / 1000.0, "s", ps.size,
          if (i == 0) "seeded order" else "reversed order")
      } ++
      Seq(Metric("engine_first_run_s", first.map(_.wallMs).sum / 1000.0, "s", first.size,
        "each query's first run, the warm-up, which writes the results; part of setup_s")) ++
      runs.map(r => Metric(s"query.${r.name}_ms", r.wallMs, "ms", 0,
        f"build ${r.buildMs}%.1f ms"))
    val layers = if (ctx.traced) Probe.engineLayers(ctx, runs, Probe.jobs(ctx.spark), Passes)
      else Nil
    Outcome(runs.size, failures.size, e2e ++ layers, failures.toSeq)
  }

  /** First load of each fixture table in a fresh session, ms each. */
  def tableLoads(ctx: Ctx): Seq[Double] = {
    val s = ctx.spark.newSession()
    Tables.all.map { t =>
      val t0 = System.nanoTime()
      Trace("tables.load", "tables", t)(Tables.load(s, ctx.dataDir, t))
      Host.ms(t0)
    }
  }
}
