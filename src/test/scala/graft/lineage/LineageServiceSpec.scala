package graft.lineage

import java.net.{HttpURLConnection, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** End-to-end REST facade parity (`controller/ParseController.java`):
  * POST raw SQL to /fetch over real HTTP, get the edge list as JSON. */
class LineageServiceSpec extends SparkTestBase {

  private def request(port: Int, body: String,
                      method: String = "POST",
                      path: String = "/fetch",
                      bearer: Option[String] = None): HttpRequest = {
    // the timeout only turns a wedged lane into a failure, not a hang
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, HttpRequest.BodyPublishers.ofString(body))
      .timeout(java.time.Duration.ofSeconds(120))
    bearer.foreach(t => b.header("Authorization", s"Bearer $t"))
    b.build()
  }

  private def post(port: Int, body: String,
                   method: String = "POST",
                   path: String = "/fetch",
                   bearer: Option[String] = None): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      request(port, body, method, path, bearer),
      HttpResponse.BodyHandlers.ofString())

  /** The request sent without waiting for its response. */
  private def postAsync(port: Int, body: String, method: String = "POST",
                        path: String = "/fetch")
      : CompletableFuture[HttpResponse[String]] =
    HttpClient.newHttpClient().sendAsync(request(port, body, method, path),
      HttpResponse.BodyHandlers.ofString())

  private def nonDaemonThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet

  private def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  test("POST /fetch returns lineage edges as JSON; errors are named") {
    graft.Tables.registerAll(spark, sfDir)
    val server = LineageService.start(spark)
    try {
      val port = server.getAddress.getPort
      val ok = post(port,
        "SELECT n_name FROM nation WHERE n_regionkey = 0")
      assert(ok.statusCode() == 200)
      assert(ok.headers().firstValue("Content-Type").get == "application/json")
      assert(ok.body().contains(""""toName":"n_name""""))
      assert(ok.body().contains(""""fromName":"default.nation.n_name""""))
      assert(ok.body().contains("WHERE:(nation.n_regionkey = 0)"))

      // multi-statement body: USE threads the db across statements and
      // both statements' edges come back with their 1-based index
      val multi = post(port,
        "USE default; SELECT r_name FROM region")
      assert(multi.statusCode() == 200)
      assert(multi.body().contains(""""stmt":2"""))
      assert(multi.body().contains(""""fromName":"default.region.r_name""""))

      // a parse failure is a 400 with the parser's message, not a 500
      val bad = post(port, "SELEKT broken FROM")
      assert(bad.statusCode() == 400)
      assert(bad.body().startsWith("""{"error":"""))

      val empty = post(port, "   ")
      assert(empty.statusCode() == 400)

      val wrongMethod = post(port, "", method = "GET")
      assert(wrongMethod.statusCode() == 405)
    } finally server.stop(0)
  }

  test("POST /impact and /column-impact answer the downstream question") {
    LineageQueries.registerFixtures(spark, sfDir)
    val server = LineageService.start(spark)
    try {
      val port = server.getAddress.getPort
      // /impact: per-source-table fan-out of the POSTed statements
      val imp = post(port,
        "SELECT c.c_name, o.o_totalprice FROM customer c JOIN orders o " +
          "ON c.c_custkey = o.o_custkey",
        path = "/impact")
      assert(imp.statusCode() == 200)
      assert(imp.body().contains(
        """{"srcTable":"default.customer","nEdges":1,"nDestCols":1,"nStatements":1}"""))
      assert(imp.body().contains(
        """{"srcTable":"default.orders","nEdges":1,"nDestCols":1,"nStatements":1}"""))

      // /column-impact: a two-statement CHAIN — nation.n_name flows
      // through the INSERT's sink column into statement 2's output, so
      // its transitive reach is 2 at max depth 2 (the q191 closure
      // over the request's own edges). The sink must be a real TABLE:
      // a temp-view sink would resolve statement 2 through its
      // definition back to nation at depth 1 (correct, but chain-free).
      spark.sql("DROP TABLE IF EXISTS svc_chain")
      spark.sql("CREATE TABLE svc_chain (k BIGINT, v STRING) USING parquet")
      val ci = try post(port,
        "INSERT INTO svc_chain SELECT n_nationkey, n_name FROM nation; " +
          "SELECT v FROM svc_chain",
        path = "/column-impact")
      finally spark.sql("DROP TABLE IF EXISTS svc_chain")
      assert(ci.statusCode() == 200)
      assert(ci.body().contains(
        """{"srcCol":"default.nation.n_name","nReach":2,"maxDepth":2}"""))
      assert(ci.body().contains(
        """{"srcCol":"default.nation.n_nationkey","nReach":1,"maxDepth":1}"""))

      // errors keep the /fetch contract on the new endpoints
      assert(post(port, "SELEKT x", path = "/impact").statusCode() == 400)
      assert(post(port, "", method = "GET",
        path = "/column-impact").statusCode() == 405)
    } finally server.stop(0)
  }

  test("store-backed tier: append runs, serve snapshot/diff, vacuum") {
    LineageQueries.registerFixtures(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_svc_store").toString
    val server = LineageService.start(spark, store = Some(dir))
    try {
      val port = server.getAddress.getPort
      // empty store responds, not 500s
      assert(post(port, "", method = "GET", path = "/runs").body() ==
        """{"runs":[]}""")
      assert(post(port, "", method = "GET", path = "/snapshot").body() ==
        "[]")
      // append two runs: run 2 re-parses statement 1 with a narrower
      // filter (the "pipeline changed" event)
      val r1 = post(port,
        "SELECT n_name FROM nation WHERE n_regionkey = 0",
        path = "/runs/1")
      assert(r1.statusCode() == 200 &&
        r1.body() == """{"run":1,"edges":1}""")
      assert(post(port, "SELECT n_name FROM nation WHERE n_regionkey = 1",
        path = "/runs/2").statusCode() == 200)
      // immutability: re-POSTing run 1 is a 409, store unchanged
      assert(post(port, "SELECT 1", path = "/runs/1").statusCode() == 409)
      assert(post(port, "", method = "GET", path = "/runs").body() ==
        """{"runs":[1,2]}""")
      // snapshot: stmt 1's latest is run 2 — exactly one edge, run 2's
      val snap = post(port, "", method = "GET", path = "/snapshot").body()
      assert(snap.contains(""""runId":2"""))
      assert(!snap.contains(""""runId":1"""))
      assert(snap.contains("n_regionkey = 1"))
      // diff: run 1's edge removed, run 2's added
      val d = post(port, "", method = "GET", path = "/diff?from=1&to=2")
        .body()
      assert(d.contains(""""change":"removed"""") &&
        d.contains(""""change":"added""""))
      assert(post(port, "", method = "GET",
        path = "/diff?from=1&to=9").statusCode() == 404)
      assert(post(port, "", method = "GET",
        path = "/diff").statusCode() == 400)
      // time travel: as of run 1, run 1's (superseded, still stored)
      // edge IS the snapshot — must run before vacuum reclaims it
      val asOf1 = post(port, "", method = "GET",
        path = "/snapshot?asOf=1").body()
      assert(asOf1.contains(""""runId":1""") &&
        asOf1.contains("n_regionkey = 0"))
      // vacuum: run 1 is fully superseded and gets removed
      assert(post(port, "", path = "/vacuum").body() ==
        """{"removed":[1]}""")
      assert(post(port, "", method = "GET", path = "/runs").body() ==
        """{"runs":[2]}""")
      // parse errors on append don't leave a partial run behind
      assert(post(port, "SELEKT x", path = "/runs/3").statusCode() == 400)
      assert(post(port, "", method = "GET", path = "/runs").body() ==
        """{"runs":[2]}""")
      // impact over WHAT ACTUALLY RAN: the rollups served from the
      // snapshot (one statement survives: run 2's filtered SELECT)
      val si = post(port, "", method = "GET", path = "/store-impact")
      assert(si.statusCode() == 200)
      assert(si.body() ==
        """[{"srcTable":"default.nation","nEdges":1,"nDestCols":1,"nStatements":1}]""")
      val sci = post(port, "", method = "GET",
        path = "/store-column-impact")
      assert(sci.statusCode() == 200)
      assert(sci.body().contains(
        """{"srcCol":"default.nation.n_name","nReach":1,"maxDepth":1}"""))
      // the drawable graph: INSERT an edge with a real sink, then DOT
      assert(post(port,
        "INSERT INTO lineage_target SELECT n_nationkey, n_name " +
          "FROM nation WHERE n_regionkey = 2",
        path = "/runs/5").statusCode() == 200)
      val dot = post(port, "", method = "GET", path = "/graph.dot")
      assert(dot.statusCode() == 200)
      assert(dot.headers().firstValue("Content-Type").get ==
        "text/vnd.graphviz")
      assert(dot.body().startsWith("digraph lineage {"))
      assert(dot.body().contains(
        "\"default.nation\" -> \"default.lineage_target\";"))
      // sink-less statements draw nothing (run 2's bare SELECT)
      assert(!dot.body().contains("<EOF>"))
      // health: contract version + run population (+ the swallowed-
      // capture-failure counter), no data read
      assert(post(port, "", method = "GET", path = "/health").body() ==
        s"""{"status":"ok","edgeContractVersion":1,""" +
          """"store":{"runs":2,"latest":5,"capture_errors":0}}""")
      // column grain: db.table.col nodes, sink column schema-resolved
      val cdot = post(port, "", method = "GET",
        path = "/graph.dot?grain=column").body()
      assert(cdot.contains("\"default.nation.n_nationkey\" -> " +
        "\"default.lineage_target.tgt_key\";"), cdot)
      assert(cdot.contains("\"default.nation.n_name\" -> " +
        "\"default.lineage_target.tgt_name\";"))
    } finally {
      server.stop(0)
      deleteDir(dir)
    }
  }

  test("store endpoints paginate on stmt; unpaginated responses are capped") {
    LineageQueries.registerFixtures(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_svc_page").toString
    // a tight cap so the 413 arm is reachable with a small store
    val server = LineageService.start(spark, store = Some(dir),
      maxResponseEdges = 4)
    try {
      val port = server.getAddress.getPort
      // empty store honors the caller's envelope: paged requests get
      // the paged shape, legacy requests the bare array
      assert(post(port, "", method = "GET",
        path = "/snapshot?limit=2").body() == """{"edges":[]}""")
      assert(post(port, "", method = "GET", path = "/snapshot").body() ==
        "[]")
      // three statements, two edges each (6 edges > the cap of 4)
      assert(post(port,
        "SELECT n_name, n_regionkey FROM nation; " +
          "SELECT r_name, r_regionkey FROM region; " +
          "SELECT c_name, c_nationkey FROM customer",
        path = "/runs/1").statusCode() == 200)
      // unpaginated: named 413, not an unbounded body
      val over = post(port, "", method = "GET", path = "/snapshot")
      assert(over.statusCode() == 413)
      assert(over.body().contains("paginate"))
      // page 1: two statements, cursor present
      val p1 = post(port, "", method = "GET",
        path = "/snapshot?limit=2").body()
      assert(p1.contains(""""stmt":1""") && p1.contains(""""stmt":2"""))
      assert(!p1.contains(""""stmt":3"""))
      assert(p1.contains(""""next_after_stmt":2"""), p1)
      // page 2 (from the cursor): last statement, no cursor
      val p2 = post(port, "", method = "GET",
        path = "/snapshot?limit=2&after_stmt=2").body()
      assert(p2.contains(""""stmt":3""") && !p2.contains(""""stmt":2"""))
      assert(!p2.contains("next_after_stmt"), p2)
      // past the end: empty page, no cursor
      val p3 = post(port, "", method = "GET",
        path = "/snapshot?limit=2&after_stmt=3").body()
      assert(p3 == """{"edges":[]}""", p3)
      // /diff paginates with the same contract
      assert(post(port,
        "SELECT n_name, n_nationkey FROM nation; " +
          "SELECT r_name FROM region; " +
          "SELECT c_name, c_acctbal FROM customer",
        path = "/runs/2").statusCode() == 200)
      assert(post(port, "", method = "GET",
        path = "/diff?from=1&to=2").statusCode() == 413)
      val dp = post(port, "", method = "GET",
        path = "/diff?from=1&to=2&limit=1").body()
      assert(dp.contains(""""stmt":1""") && !dp.contains(""""stmt":2"""))
      assert(dp.contains(""""next_after_stmt":1"""))
    } finally {
      server.stop(0)
      deleteDir(dir)
    }
  }

  test("maintenance + read-log endpoints: /runs/<id>, /compact, /purge, /reads, /deprecation") {
    LineageQueries.registerFixtures(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_svc_maint").toString
    val server = LineageService.start(spark, store = Some(dir))
    try {
      val port = server.getAddress.getPort
      assert(post(port,
        "INSERT INTO lineage_target SELECT n_nationkey, n_name FROM nation",
        path = "/runs/1").statusCode() == 200)
      assert(post(port,
        "INSERT INTO lineage_target SELECT n_nationkey, n_name " +
          "FROM nation WHERE n_regionkey = 0",
        path = "/runs/2").statusCode() == 200)
      // one run's edges, partition-pruned, same shape as /snapshot
      val r1 = post(port, "", method = "GET", path = "/runs/1")
      assert(r1.statusCode() == 200)
      assert(r1.body().contains(""""runId":1""") &&
        !r1.body().contains(""""runId":2"""))
      assert(post(port, "", method = "GET",
        path = "/runs/9").statusCode() == 404)
      // two-phase reclamation over HTTP: vacuum tombstones the
      // superseded run, purge honors the grace window
      assert(post(port, "", path = "/vacuum").body() ==
        """{"removed":[1]}""")
      // a tombstoned-but-unpurged id is still a conflict (409), not a
      // raw 400 out of append's immutability require
      assert(post(port, "SELECT 1", path = "/runs/1").statusCode() == 409)
      assert(post(port, "", path = "/purge?graceMs=3600000").body() ==
        """{"purged":[]}""")
      // the DEFAULT grace is conservative and non-zero (ADVICE r19
      // #2): a bare POST /purge no longer deletes a fresh tombstone
      assert(post(port, "", path = "/purge").body() ==
        """{"purged":[]}""")
      assert(post(port, "", path = "/purge?graceMs=0").body() ==
        """{"purged":["run_id=1"]}""")
      // fold the surviving layout into a segment (compact leaves
      // SUPERSEDED runs for vacuum, so it runs before the re-parse),
      // then a fresh run re-parses both statements — run ids and
      // reads are unchanged throughout
      assert(post(port, "", path = "/compact?upTo=2").body() ==
        """{"folded":[2]}""")
      assert(post(port,
        "INSERT INTO lineage_target SELECT n_nationkey, n_name " +
          "FROM nation; " +
          "INSERT INTO lineage_target2 SELECT n_regionkey, n_name " +
          "FROM nation",
        path = "/runs/3").statusCode() == 200)
      assert(post(port, "", method = "GET", path = "/runs").body() ==
        """{"runs":[2,3]}""")
      val r2 = post(port, "", method = "GET", path = "/runs/2")
      assert(r2.statusCode() == 200)
      assert(r2.body().contains(""""runId":2""") &&
        r2.body().contains("n_regionkey = 0"), r2.body())
      assert(post(port, "", path = "/compact").statusCode() == 400)
      // read-log face: empty until something is logged
      assert(post(port, "", method = "GET", path = "/reads").body() ==
        "[]")
      LineageStore.appendReads(spark, dir, {
        import spark.implicits._
        Seq(("svc", 1, "default.lineage_target", "tgt_name", 123L))
          .toDF("session", "action", "table_name", "column_read", "ts_ms")
      })
      assert(post(port, "", method = "GET", path = "/reads").body() ==
        """[{"table":"default.lineage_target","nActions":1,""" +
          """"nColsRead":1,"lastReadMs":123}]""")
      assert(post(port, "", method = "GET",
        path = "/reads?table=absent").body() == "[]")
      // the deprecation join: both written tables, zeros for the one
      // nothing ever read
      assert(post(port, "", method = "GET", path = "/deprecation").body() ==
        """[{"table":"default.lineage_target","nReadActions":1,""" +
          """"lastReadMs":123},""" +
          """{"table":"default.lineage_target2","nReadActions":0,""" +
          """"lastReadMs":0}]""")
      // read-log maintenance faces (r19): one flush dir folds; the
      // ts=123 row is ancient, so retention removes the segment whole
      assert(post(port, "", path = "/compact-reads").body() ==
        """{"folded":1}""")
      assert(post(port, "", method = "GET", path = "/reads").body() ==
        """[{"table":"default.lineage_target","nActions":1,""" +
          """"nColsRead":1,"lastReadMs":123}]""")
      assert(post(port, "", path = "/vacuum-reads").statusCode() == 400)
      assert(post(port, "",
        path = "/vacuum-reads?olderThanMs=3600000").body() ==
        """{"removed":["rseg_1"]}""")
      assert(post(port, "", method = "GET", path = "/reads").body() ==
        "[]")
    } finally {
      server.stop(0)
      deleteDir(dir)
    }
  }

  test("maintenance lease over HTTP: held lease answers 409; /vacuum-claims reclaims orphans") {
    LineageQueries.registerFixtures(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_svc_lease").toString
    val server = LineageService.start(spark, store = Some(dir))
    try {
      val port = server.getAddress.getPort
      assert(post(port,
        "INSERT INTO lineage_target SELECT n_nationkey, n_name FROM nation",
        path = "/runs/1").statusCode() == 200)
      // another maintainer holds the store (a long compaction in some
      // other process): every maintenance endpoint answers 409 — the
      // retryable-conflict shape, not a 500 — and NOTHING else blocks
      val holder =
        LineageStore.acquireMaintenance(spark, dir, "other-maintainer")
      assert(post(port, "", path = "/compact?upTo=1").statusCode() == 409)
      assert(post(port, "", path = "/vacuum").statusCode() == 409)
      assert(post(port, "", path = "/purge").statusCode() == 409)
      assert(post(port, "", path = "/compact-reads").statusCode() == 409)
      assert(post(port, "",
        path = "/vacuum-reads?olderThanMs=1").statusCode() == 409)
      assert(post(port, "",
        path = "/vacuum-claims?olderThanMs=1").statusCode() == 409)
      // reads and appends never touch the lease
      assert(post(port, "", method = "GET",
        path = "/snapshot").statusCode() == 200)
      assert(post(port,
        "INSERT INTO lineage_target2 SELECT n_regionkey, n_name FROM nation",
        path = "/runs/2").statusCode() == 200)
      LineageStore.releaseMaintenance(spark, dir, holder)
      assert(post(port, "", path = "/compact?upTo=2").statusCode() == 200)
      // a dead writer's claim-only orphan, reclaimed over HTTP: the
      // window is mandatory, the reservation survives the directory
      val orphan = LineageStore.claimRun(spark, dir)
      assert(new java.io.File(dir, s"run_id=$orphan/_claim")
        .setLastModified(System.currentTimeMillis() - 60000L))
      assert(post(port, "", path = "/vacuum-claims").statusCode() == 400)
      assert(post(port, "",
        path = "/vacuum-claims?olderThanMs=30000").body() ==
        s"""{"reclaimed":[$orphan]}""")
      assert(!new java.io.File(dir, s"run_id=$orphan").exists())
      assert(post(port, "SELECT 1",
        path = s"/runs/$orphan").statusCode() == 409)
    } finally {
      server.stop(0)
      deleteDir(dir)
    }
  }

  test("bearer token: non-loopback binds refuse unauthenticated requests") {
    LineageQueries.registerFixtures(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_svc_auth").toString
    // the outward-facing deployment: explicit host + token (the token
    // can equally come from spark.graft.lineage.token)
    val server = LineageService.start(spark, store = Some(dir),
      host = "0.0.0.0", token = Some("s3cr3t"))
    try {
      val port = server.getAddress.getPort
      // every endpoint class 401s without the bearer: parse face,
      // store mutation, store read, maintenance, health
      for (p <- Seq("/fetch", "/runs/1", "/vacuum", "/purge"))
        assert(post(port, "SELECT 1", path = p).statusCode() == 401,
          p)
      for (p <- Seq("/runs", "/snapshot", "/health"))
        assert(post(port, "", method = "GET", path = p)
          .statusCode() == 401, p)
      val wrong = post(port, "", method = "GET", path = "/health",
        bearer = Some("wrong"))
      assert(wrong.statusCode() == 401)
      assert(wrong.headers().firstValue("WWW-Authenticate")
        .orElse("") == "Bearer")
      // the matching bearer restores the full contract
      assert(post(port, "", method = "GET", path = "/health",
        bearer = Some("s3cr3t")).statusCode() == 200)
      assert(post(port,
        "INSERT INTO lineage_target SELECT n_nationkey, n_name FROM nation",
        path = "/runs/1", bearer = Some("s3cr3t")).statusCode() == 200)
      assert(post(port, "SELECT n_name FROM nation",
        bearer = Some("s3cr3t")).statusCode() == 200)
    } finally {
      server.stop(0)
      deleteDir(dir)
    }
    // loopback default with NO token: open exactly as before
    val open = LineageService.start(spark)
    try {
      assert(post(open.getAddress.getPort,
        "SELECT n_name FROM nation").statusCode() == 200)
    } finally open.stop(0)
  }

  test("store lane: a held store request blocks later store requests, never a parse") {
    LineageQueries.registerFixtures(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_svc_lanes").toString
    // holds the append's sink lookup, and with it the store lane, until
    // the test opens the latch
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val catalog = new CatalogMetadataProvider(spark)
    val holding: MetadataProvider = (table: String) => {
      if (table.endsWith("lane_held_sink")) {
        entered.countDown()
        release.await()
      }
      catalog.tableColumns(table)
    }
    val server = LineageService.start(spark, metadata = Some(holding),
      store = Some(dir))
    try {
      val port = server.getAddress.getPort
      val held = postAsync(port,
        "INSERT INTO lane_held_sink SELECT n_name FROM nation",
        path = "/runs/1")
      assert(entered.await(60, TimeUnit.SECONDS))
      val queued = postAsync(port, "", method = "GET", path = "/runs")
      // the parse lane answers while the store lane is held
      val fetched = post(port, "SELECT n_name FROM nation")
      assert(fetched.statusCode() == 200)
      assert(fetched.body().contains(""""fromName":"default.nation.n_name""""))
      assert(post(port, "", method = "GET", path = "/health")
        .statusCode() == 200)
      assert(!held.isDone && !queued.isDone)
      release.countDown()
      assert(held.get(60, TimeUnit.SECONDS).body() == """{"run":1,"edges":1}""")
      // the queued read ran after the held append, not beside it: it
      // sees the run the append was still parsing when the read arrived
      assert(queued.get(60, TimeUnit.SECONDS).body() == """{"runs":[1]}""")
    } finally {
      release.countDown()
      server.stop(0)
      deleteDir(dir)
    }
  }

  test("parse lane: concurrent bodies answer exactly as each body alone; USE stays per request") {
    LineageQueries.registerFixtures(spark, sfDir)
    val server = LineageService.start(spark)
    try {
      // USE re-qualifies the names a request's later statements render
      // with; one leaking across requests would rename other requests'
      // sinks and sources, one lost inside its request its own
      val useBodies = Seq(
        "USE svc_lane_db; INSERT INTO lane_sink SELECT n_name FROM nation",
        "USE svc_lane_db; SELECT n_name FROM nation; " +
          "USE default; INSERT INTO lane_sink SELECT n_name FROM nation")
      val corpus = LineageQueries.corpus.filter(sql =>
        scala.util.Try(LineageParser.parse(spark, sql)).isSuccess)
      assert(corpus.size > 30)
      val bodies = corpus.zipWithIndex.flatMap { case (sql, i) =>
        if (i % 4 == 0) Seq(sql, useBodies(i / 4 % 2)) else Seq(sql)
      }
      val alone = bodies.map(b => LineageService.toJson(LineageParser.parse(spark, b)))
      assert(alone(bodies.indexOf(useBodies(0))).contains("svc_lane_db.lane_sink"))
      assert(!alone(bodies.indexOf(useBodies(1))).contains("svc_lane_db.lane_sink"))
      val port = server.getAddress.getPort
      val clients = 4
      val answers = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          // each client walks the bodies from its own offset, twice
          for (k <- 0 until 2 * bodies.size) {
            val i = (k + c * bodies.size / clients) % bodies.size
            val r = post(port, bodies(i))
            answers.add(i -> (if (r.statusCode() == 200) r.body()
              else s"${r.statusCode()} ${r.body()}"))
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(answers.size == clients * 2 * bodies.size)
      answers.asScala.foreach { case (i, got) =>
        assert(got == alone(i), s"body: ${bodies(i)}")
      }
    } finally server.stop(0)
  }

  test("stop leaves no non-daemon service thread behind") {
    LineageQueries.registerFixtures(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_svc_stop").toString
    val before = nonDaemonThreads()
    val server = LineageService.start(spark, store = Some(dir))
    try {
      val port = server.getAddress.getPort
      assert(post(port, "SELECT n_name FROM nation").statusCode() == 200)
      assert(post(port, "", method = "GET", path = "/runs").statusCode() == 200)
      val lanes = Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName.startsWith("graft-lineage-"))
      assert(lanes.exists(_.getName.startsWith("graft-lineage-parse-")))
      assert(lanes.exists(_.getName == "graft-lineage-store"))
      assert(lanes.forall(_.isDaemon))
    } finally {
      server.stop(0)
      deleteDir(dir)
    }
    val left = nonDaemonThreads() -- before
    assert(left.isEmpty, left.map(_.getName))
  }

  test("responses are not held back: keep-alive /fetch median under 30 ms") {
    // A delayed-ACK client on one keep-alive connection, the OS-default
    // ACK behaviour. Without TCP_NODELAY the body waits for the ACK of
    // the headers, ~40 ms; a one-statement parse takes a few.
    graft.Tables.registerAll(spark, sfDir)
    val server = LineageService.start(spark)
    try {
      val url = URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/fetch").toURL
      val body = "SELECT n_name FROM nation WHERE n_regionkey = 0"
        .getBytes(StandardCharsets.UTF_8)
      def fetchMs(): Double = {
        val c = url.openConnection().asInstanceOf[HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        val t0 = System.nanoTime()
        val out = c.getOutputStream
        out.write(body)
        out.close()
        assert(c.getResponseCode == 200)
        val in = c.getInputStream
        in.readAllBytes()
        in.close() // a fully read, closed response keeps the connection
        (System.nanoTime() - t0) / 1e6
      }
      (1 to 20).foreach(_ => fetchMs())
      val ms = (1 to 20).map(_ => fetchMs()).sorted
      val median = (ms(9) + ms(10)) / 2
      assert(median < 30.0, ms.map(m => f"$m%.1f").mkString(" "))
    } finally server.stop(0)
  }

  test("request bodies over the 16 MiB cap get a named 413") {
    LineageQueries.registerFixtures(spark, sfDir)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_svc_body").toString
    val server = LineageService.start(spark, store = Some(dir))
    try {
      val port = server.getAddress.getPort
      val cap = LineageService.MaxRequestBytes
      assert(cap == 16 * 1024 * 1024)
      val refused = s"""{"error":"request body exceeds $cap bytes; """ +
        """split the statements across requests"}"""
      // exactly the cap is read whole: blanks reach the empty-body check
      val atCap = " " * cap
      val whole = post(port, atCap)
      assert(whole.statusCode() == 400 &&
        whole.body() == """{"error":"empty body"}""")
      // one byte over is refused on both lanes, and appends nothing
      for (path <- Seq("/fetch", "/impact", "/runs/1")) {
        val over = post(port, atCap + "x", path = path)
        assert(over.statusCode() == 413, path)
        assert(over.body() == refused, path)
      }
      assert(post(port, "", method = "GET", path = "/runs").body() ==
        """{"runs":[]}""")
    } finally {
      server.stop(0)
      deleteDir(dir)
    }
  }

  test("toJson escapes quotes and emits sorted deterministic conditions") {
    val r = LineageResult(1, Operation.Select, Set("t"), Set.empty,
      Seq(ColLine("<EOF>", None, "c", "t.c",
        Set("WHERE:(x = \"q\")", "COLFUN:f(a)"))))
    val json = LineageService.toJson(Seq(r))
    assert(json.contains("\\\"q\\\""))
    // sorted: COLFUN before WHERE
    assert(json.indexOf("COLFUN:f(a)") < json.indexOf("WHERE:(x ="))
    assert(json.contains(""""colName":null"""))
  }
}
