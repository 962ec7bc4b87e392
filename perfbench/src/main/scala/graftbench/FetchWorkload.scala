package graftbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import graft.lineage.{LineageParser, LineageQueries, LineageService, Operation}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, LogicalPlan, Union}

/** `lineage-fetch`: closed-loop `/fetch` clients against an in-process
  * `LineageService` with no store. Phase one runs 1 client, phase two
  * runs `cores` clients, alternating in `Rounds` rounds; both replay the
  * same seeded body stream, so a body's phase-two latency minus its
  * phase-one latency is time spent queueing. No data is read: parse,
  * analysis, the lineage fold and the request lane do all the work. */
object FetchWorkload {
  /** Shares of the body stream, in percent. No traffic record of the
    * reference's service exists, so both are assumptions: repeats stand
    * for a scheduler re-submitting the same job script, rejects for a
    * script that names a dropped table or carries a typo. */
  val RepeatPct = 20
  val RejectPct = 3

  /** Warm-up bodies, part of the timed set-up, sent by `cores` clients
    * at once. */
  val WarmupBodies = 200

  /** Phase one and phase two alternate this many times. */
  val Rounds = 4

  private final case class Sample(phase: Int, round: Int, idx: Int, body: Body, resp: Http.Resp)
  private final case class Slice(samples: Seq[Sample], seconds: Double)

  final class Ready(val spark: SparkSession, val server: HttpServer,
                    val meta: CountingMetadata) {
    val url = s"http://127.0.0.1:${server.getAddress.getPort}/fetch"
  }

  /** One set-up: a fresh session with the fixture catalog and a started
    * service. */
  def prepare(ctx: Ctx): Ready = {
    val s = ctx.spark.newSession()
    LineageQueries.registerFixtures(s, ctx.dataDir)
    val meta = CountingMetadata(s)
    new Ready(s, LineageService.start(s, metadata = Some(meta)), meta)
  }

  /** Warm-up: `n` bodies from another seed, so the analyzer is compiled
    * before the first timed request. */
  def warm(ctx: Ctx, ready: Ready, n: Int): Unit = {
    val bodies = new StmtGen(ctx.seed ^ 0x5eedL).fetchStream(n, RepeatPct, RejectPct)
    val next = new AtomicInteger()
    val threads = (0 until ctx.cores).map(_ => new Thread(() => {
      var i = next.getAndIncrement()
      while (i < bodies.size) {
        Http.call("POST", ready.url, bodies(i).sql)
        i = next.getAndIncrement()
      }
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def run(ctx: Ctx, ready: Ready): Outcome = {
    val bodies = new StmtGen(ctx.seed).fetchStream(4000, RepeatPct, RejectPct)
    // The traced run adds a third phase, 1 client on a stream in which
    // no body repeats, so that a gain that depends on repeats can be told
    // from one that does not.
    lazy val distinct = new StmtGen(ctx.seed ^ 0xd15L).fetchStream(2000, 0, RejectPct)
    val sliceNs = (ctx.seconds * 1e9 / (2 * Rounds)).toLong
    ready.meta.reset()

    /** One closed-loop slice: `clients` threads take the next bodies of
      * the phase's own replay of `stream` until the slice ends. */
    def slice(p: Int, round: Int, clients: Int, next: AtomicInteger,
              stream: IndexedSeq[Body] = bodies): Slice = {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
      val t0 = System.nanoTime()
      val threads = (0 until clients).map { _ =>
        new Thread(() => {
          while (System.nanoTime() - t0 < sliceNs) {
            val i = next.getAndIncrement()
            val b = stream(i % stream.size)
            val r = Http.call("POST", ready.url, b.sql)
            Trace.record("service.request", "service", r.startNs, r.endNs, s"p$p-$i")
            out.add(Sample(p, round, i, b, r))
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      Slice(out.asScala.toSeq.sortBy(_.idx), (System.nanoTime() - t0) / 1e9)
    }

    // The phases alternate in rounds so that both see the same host and
    // JIT conditions; each continues its own replay from round to round.
    val (next1, next2, next3) = (new AtomicInteger(), new AtomicInteger(), new AtomicInteger())
    val p3Slices = ArrayBuffer[Slice]()
    val rounds = (0 until Rounds).map { r =>
      val pair = (slice(1, r, 1, next1), slice(2, r, ctx.cores, next2))
      if (ctx.traced) p3Slices += slice(3, r, 1, next3, distinct)
      pair
    }
    val p1 = rounds.flatMap(_._1.samples)
    val p2 = rounds.flatMap(_._2.samples)
    val p3 = p3Slices.toSeq.flatMap(_.samples)
    val metaCalls = ready.meta.calls.get()
    val metaMs = ready.meta.nanos.get() / 1e6

    java.nio.file.Files.write(new java.io.File(ctx.workDir, "requests.csv").toPath,
      ("phase,round,idx,stmts,start_ms,ms,code" +: (p1 ++ p2 ++ p3).map(s =>
        s"${s.phase},${s.round},${s.idx},${s.body.stmts.size}," +
          f"${(s.resp.startNs - p1.head.resp.startNs) / 1e6}%.1f,${s.resp.ms}%.3f,${s.resp.code}"))
        .asJava)

    // Correctness, outside the timed phases.
    val failures = ArrayBuffer[String]()
    var edges = 0L
    (p1 ++ p2 ++ p3).foreach { s =>
      val b = s.body
      val problem =
        if (b.reject) (if (s.resp.code == 400) None else Some(s"expected 400, got ${s.resp.code}"))
        else if (s.resp.code != 200) Some(s"status ${s.resp.code}: ${s.resp.body.take(200)}")
        else {
          val arr = Json.mapper.readTree(s.resp.body)
          edges += arr.size()
          val want = b.stmts.zipWithIndex.map { case (st, i) => (i + 1) -> st.expected }
            .filter(_._2.nonEmpty).toMap
          Check.compare(Check.byStmt(arr.elements().asScala, "toName", "fromName"), want)
        }
      problem.foreach(d => failures += s"phase ${s.phase} body ${s.idx}: $d")
    }

    def stmts(xs: Seq[Sample]) =
      xs.filter(s => s.resp.code == (if (s.body.reject) 400 else 200)).map(_.body.stmts.size).sum
    def lat(xs: Seq[Sample]) = xs.map(_.resp.ms)
    def pctOf(xs: Seq[Sample], p: Double) = Stats.pct(lat(xs), Stats.supportedPct(xs.size, p))
    def tail(xs: Seq[Sample]) = pctOf(xs, 99)
    def tailNote(xs: Seq[Sample]) = s"p${Stats.supportedPct(xs.size, 99)} over all rounds"
    // Per-round figures, reported as the median over rounds.
    def perRound(f: Slice => Double, phase: ((Slice, Slice)) => Slice) =
      Stats.median(rounds.map(r => f(phase(r))))
    val c1Rate = perRound(s => stmts(s.samples) / s.seconds, _._1)
    val c4Rate = perRound(s => stmts(s.samples) / s.seconds, _._2)
    val c1P50 = perRound(s => Stats.median(lat(s.samples)), _._1)
    val c4P50 = perRound(s => Stats.median(lat(s.samples)), _._2)
    val rnote = s"median of $Rounds rounds"

    val e2e = Seq(
      Metric("throughput_per_s", c4Rate, "1/s", p2.size,
        s"statements/s at ${ctx.cores} clients, $rnote"),
      Metric("p50_ms", c1P50, "ms", p1.size, s"request latency at 1 client, $rnote"),
      Metric("tail_ms", pctOf(p1, 90), "ms", p1.size,
        s"p${Stats.supportedPct(p1.size, 90)} request latency at 1 client, over all rounds"),
      Metric("fetch_c1_stmts_per_s", c1Rate, "1/s", p1.size, rnote),
      Metric("fetch_c1_p50_ms", c1P50, "ms", p1.size, rnote),
      Metric("fetch_c1_p99_ms", tail(p1), "ms", p1.size, tailNote(p1)),
      Metric("fetch_c4_stmts_per_s", c4Rate, "1/s", p2.size, s"${ctx.cores} clients, $rnote"),
      Metric("fetch_c4_p50_ms", c4P50, "ms", p2.size, rnote),
      Metric("fetch_c4_p99_ms", tail(p2), "ms", p2.size, tailNote(p2)))

    val layers =
      if (!ctx.traced) Nil
      else {
        val lib = libraryReplay(ready, bodies, p1.map(_.idx))
        val l1 = p1.map(s => s.idx -> s.resp.ms).toMap
        val overhead = p1.flatMap(s => lib.bodyMs.get(s.idx % bodies.size).map(s.resp.ms - _))
        val waits = p2.flatMap(s => l1.get(s.idx).map(s.resp.ms - _))
        Seq(
          Metric("service.overhead_ms.p50", Stats.median(overhead), "ms", overhead.size),
          Metric("service.wait_ms.p50", Stats.median(waits), "ms", waits.size),
          Metric("self_ms.service", overhead.map(math.max(0.0, _)).sum, "ms", overhead.size,
            "request latency minus library time, summed over phase one"),
          Metric("parser.edges", edges.toDouble, "count"),
          Metric("metadata.calls", metaCalls.toDouble, "count"),
          Metric("metadata.ms", metaMs, "ms"),
          Metric("fetch.distinct_c1_p50_ms", Stats.median(p3Slices.toSeq.map(s =>
            Stats.median(lat(s.samples)))), "ms", p3.size,
            s"request latency at 1 client when no body repeats, $rnote; compare fetch_c1_p50_ms")) ++
          lib.metrics
      }
    Outcome(p1.size + p2.size + p3.size, failures.size, e2e ++ layers, failures.toSeq)
  }

  final case class Library(bodyMs: Map[Int, Double], metrics: Seq[Metric])

  /** In-process replay of the phase-one bodies through the library, one
    * statement at a time, with the SQL parse and the analysis of each
    * statement's query timed separately; the fold is the remainder. */
  def libraryReplay(ready: Ready, bodies: IndexedSeq[Body], idxs: Seq[Int]): Library = {
    val spark = ready.spark
    val distinct = idxs.map(_ % bodies.size).distinct
    val bodyMs = scala.collection.mutable.Map[Int, Double]()
    val stmtMs, parseMs, analyzeMs, foldMs = ArrayBuffer[Double]()
    var failed = 0
    distinct.foreach { i =>
      val t0 = System.nanoTime()
      var db = "default"
      Trace("parser.parse", "parser", s"body-$i") {
        LineageParser.splitStatements(bodies(i).sql).zipWithIndex.foreach { case (st, k) =>
          val s0 = System.nanoTime()
          try {
            val r = Trace("parser.parseStatement", "parser", s"body-$i") {
              LineageParser.parseStatement(spark, st, k + 1, db, Some(ready.meta))
            }
            if (r.operation == Operation.Use) db = r.outputTables.headOption.getOrElse(db)
          } catch { case _: Exception => failed += 1 }
          stmtMs += Host.ms(s0)
        }
      }
      bodyMs(i) = Host.ms(t0)
    }
    // Separate timing of the parse and analysis of each statement.
    distinct.flatMap(i => LineageParser.splitStatements(bodies(i).sql)).foreach { st =>
      scala.util.Try {
        val p0 = System.nanoTime()
        val plan = Trace("parser.sqlparse", "parser.sqlparse")(
          spark.sessionState.sqlParser.parsePlan(st))
        val p = Host.ms(p0)
        val a0 = System.nanoTime()
        Trace("parser.analyze", "parser.analyze")(queries(plan).foreach(q =>
          spark.sessionState.executePlan(q).analyzed))
        val a = Host.ms(a0)
        val s0 = System.nanoTime()
        LineageParser.parseStatement(spark, st, 1, "default", Some(ready.meta))
        val s = Host.ms(s0)
        parseMs += p
        analyzeMs += a
        foldMs += math.max(0.0, s - p - a)
      }
    }
    def p(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.pct(xs.toSeq, q)
    Library(bodyMs.toMap, Seq(
      Metric("parser.stmt_ms.p50", p(stmtMs.toSeq, 50), "ms", stmtMs.size),
      Metric("parser.stmt_ms.p99", p(stmtMs.toSeq, Stats.supportedPct(stmtMs.size, 99)), "ms",
        stmtMs.size),
      Metric("parser.sqlparse_ms.p50", p(parseMs.toSeq, 50), "ms", parseMs.size),
      Metric("parser.analyze_ms.p50", p(analyzeMs.toSeq, 50), "ms", analyzeMs.size),
      Metric("parser.fold_ms.p50", p(foldMs.toSeq, 50), "ms", foldMs.size),
      Metric("parser.stmts_failed", failed.toDouble, "count")))
  }

  /** The query parts of a parsed statement that the parser analyzes. */
  private def queries(plan: LogicalPlan): Seq[LogicalPlan] = plan match {
    case u: Union if u.children.nonEmpty && u.children.forall(_.isInstanceOf[InsertIntoStatement]) =>
      u.children.map(_.asInstanceOf[InsertIntoStatement].query)
    case i: InsertIntoStatement => Seq(i.query)
    case other if other.getClass.getSimpleName.startsWith("SetCatalogAndNamespace") => Nil
    case other => Seq(other)
  }
}
