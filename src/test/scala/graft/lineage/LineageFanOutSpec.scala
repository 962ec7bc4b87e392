package graft.lineage

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase

/** [[LineageParser.parse]] analyzes a body's statements concurrently and
  * answers exactly what the reference's sequential fold answers: the
  * same edges, the same `USE` threading, the same first failure. */
class LineageFanOutSpec extends SparkTestBase {

  /** The sequential fold, statement by statement, as the reference
    * runs it (`LineParser.java:83-99`). */
  private def sequential(sql: String,
                         meta: Option[MetadataProvider] = None): Seq[LineageResult] = {
    var db = "default"
    LineageParser.splitStatements(sql).zipWithIndex.map { case (s, i) =>
      val r = LineageParser.parseStatement(spark, s, i + 1, db, meta)
      if (r.operation == Operation.Use) db = r.outputTables.headOption.getOrElse(db)
      r
    }
  }

  /** What a body answers: its edges as `/fetch` JSON, or its failure. */
  private def answer(results: => Seq[LineageResult]): String =
    try LineageService.toJson(results)
    catch { case t: Throwable => s"${t.getClass.getName}: ${t.getMessage}" }

  /** `answer` on another thread, so a hang fails the test. */
  private def answerWithin(results: => Seq[LineageResult]): String =
    CompletableFuture.supplyAsync(() => answer(results)).get(60, TimeUnit.SECONDS)

  /** Records every sink it is asked about; knows no table. */
  private final class Recording extends MetadataProvider {
    val asked: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    def tableColumns(table: String): Seq[String] = { asked.add(table); Nil }
  }

  private def inserts(prefix: String, n: Int): Seq[String] =
    (1 to n).map(k => s"INSERT INTO ${prefix}_$k SELECT n_name FROM nation")

  private val cores = Runtime.getRuntime.availableProcessors()

  test("a body answers what the sequential fold answers, with USE at every position") {
    LineageQueries.registerFixtures(spark, sfDir)
    val corpus = LineageQueries.corpus
      .filter(sql => scala.util.Try(sequential(sql)).isSuccess)
    assert(corpus.size > 30)
    val groups = corpus.grouped(5).toSeq
    val bodies = groups ++ (for {
      g <- groups
      use <- Seq("USE svc_db", "USE testcat.ns1")
      pos <- 0 to g.size
    } yield g.take(pos) ++ (use +: g.drop(pos)))
    bodies.foreach { stmts =>
      val sql = stmts.mkString(";\n")
      assert(answer(LineageParser.parse(spark, sql)) == answer(sequential(sql)), sql)
    }
    // the USE is threaded: a sink after it is qualified by it
    val threaded = LineageParser.parse(spark,
      "INSERT INTO fan_sink SELECT n_name FROM nation; USE svc_db; " +
        "INSERT INTO fan_sink SELECT n_name FROM nation")
    assert(threaded.flatMap(_.colLines).map(_.tableName) ==
      Seq("default.fan_sink", "svc_db.fan_sink"))
  }

  test("a failing statement fails the body as the sequential fold does; none after it starts") {
    LineageQueries.registerFixtures(spark, sfDir)
    val good = inserts("fan_first", 5)
    for (bad <- Seq("SELEKT broken FROM", "SELECT x FROM fan_no_such_table");
         pos <- 0 to good.size) {
      val sql = (good.take(pos) ++ (bad +: good.drop(pos))).mkString(";\n")
      val meta = new Recording
      val got = answerWithin(LineageParser.parse(spark, sql, Some(meta)))
      assert(got.startsWith("org.apache.spark"), got)
      assert(got == answer(sequential(sql, Some(new Recording))), sql)
      // a statement that does not parse fails before any statement
      // starts, so exactly the ones before it have run
      if (bad.startsWith("SELEKT"))
        assert(meta.asked.asScala ==
          (1 to pos).map(k => s"default.fan_first_$k").toSet, sql)
    }
  }

  test("an Error in one statement fails the body like the sequential fold, without hanging") {
    LineageQueries.registerFixtures(spark, sfDir)
    val boom = new MetadataProvider {
      def tableColumns(table: String): Seq[String] =
        if (table.endsWith("fan_boom")) throw new AssertionError(s"boom $table")
        else Nil
    }
    val good = inserts("fan_err", 3)
    for (pos <- 0 to good.size) {
      val sql = (good.take(pos) ++
        ("INSERT INTO fan_boom SELECT r_name FROM region" +: good.drop(pos)))
        .mkString(";\n")
      val got = answerWithin(LineageParser.parse(spark, sql, Some(boom)))
      assert(got == "java.lang.AssertionError: boom default.fan_boom")
      assert(got == answer(sequential(sql, Some(boom))))
    }
  }

  test("two statements of one body are analyzed on two threads at once") {
    assume(cores >= 2)
    LineageQueries.registerFixtures(spark, sfDir)
    val inside = ConcurrentHashMap.newKeySet[Thread]()
    val both = new CountDownLatch(1)
    // releases only once two distinct threads are inside it
    val latched = new MetadataProvider {
      def tableColumns(table: String): Seq[String] = {
        inside.add(Thread.currentThread())
        if (inside.size >= 2) both.countDown()
        if (!both.await(20, TimeUnit.SECONDS))
          throw new IllegalStateException("the statements ran one at a time")
        Nil
      }
    }
    val rs = LineageParser.parse(spark, inserts("fan_conc", 2).mkString(";"),
      Some(latched))
    assert(rs.map(_.statementIndex) == Seq(1, 2))
    assert(inside.size == 2)
  }

  test("2 x cores concurrent 8-statement /fetch bodies all answer") {
    LineageQueries.registerFixtures(spark, sfDir)
    val corpus = LineageQueries.corpus
      .filter(sql => scala.util.Try(sequential(sql)).isSuccess)
    val bodies = (0 until 2 * cores).map { c =>
      (0 until 7).map(k => corpus((c * 7 + k) % corpus.size))
        .patch(c % 8, Seq("USE svc_db"), 0).mkString(";\n")
    }
    assert(bodies.forall(b => LineageParser.splitStatements(b).size == 8))
    val want = bodies.map(b => answer(sequential(b)))
    val server = LineageService.start(spark)
    try {
      val url = URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/fetch")
      val client = HttpClient.newHttpClient()
      val pending = bodies.map(b => client.sendAsync(
        HttpRequest.newBuilder(url).POST(HttpRequest.BodyPublishers.ofString(b))
          .timeout(java.time.Duration.ofSeconds(120)).build(),
        HttpResponse.BodyHandlers.ofString()))
      pending.zip(want).foreach { case (p, w) =>
        val r = p.get(180, TimeUnit.SECONDS)
        assert(r.statusCode() == 200)
        assert(r.body() == w)
      }
    } finally server.stop(0)
  }

  test("the SQL parse reads the session it is given, whatever the thread's active session") {
    val s2 = spark.newSession()
    graft.Tables.registerAll(s2, sfDir)
    s2.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    val sql = "SELECT \"n_name\" FROM nation"
    // the calling thread's active session is the shared one, which
    // reads "n_name" as a string literal
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val rs = LineageParser.parse(s2, sql)
    assert(rs.flatMap(_.colLines).map(_.fromName) == Seq("default.nation.n_name"))
    val server = LineageService.start(s2)
    try {
      val r = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${server.getAddress.getPort}/fetch"))
          .POST(HttpRequest.BodyPublishers.ofString(sql)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200)
      assert(r.body().contains(""""fromName":"default.nation.n_name""""), r.body())
    } finally server.stop(0)
  }
}
