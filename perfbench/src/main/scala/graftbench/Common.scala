package graftbench

import java.net.URI
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.lineage.{CatalogMetadataProvider, MetadataProvider}
import org.apache.spark.sql.SparkSession

/** One reported figure. `n` is the sample count behind a percentile or
  * median, `note` says what was measured (both go to the run's detail
  * file and summary lines, not to the one-line result). */
final case class Metric(name: String, value: Double, unit: String,
                        n: Int = 0, note: String = "")

/** What a workload hands back: how many checked operations it attempted,
  * how many failed their check, and its figures. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric],
                         failures: Seq[String])

/** Everything a workload gets from `Main`. */
final case class Ctx(spark: SparkSession, dataDir: String, workDir: java.io.File,
                     seed: Long, seconds: Int, traced: Boolean, cores: Int)

/** Counts and times every sink-schema lookup the parser makes. */
final class CountingMetadata(inner: MetadataProvider) extends MetadataProvider {
  val calls = new AtomicLong()
  val nanos = new AtomicLong()

  def tableColumns(table: String): Seq[String] = {
    val t0 = System.nanoTime()
    try Trace("metadata.tableColumns", "metadata")(inner.tableColumns(table))
    finally {
      calls.incrementAndGet()
      nanos.addAndGet(System.nanoTime() - t0)
    }
  }

  def reset(): Unit = { calls.set(0); nanos.set(0) }
}

object CountingMetadata {
  def apply(spark: SparkSession): CountingMetadata =
    new CountingMetadata(new CatalogMetadataProvider(spark))
}

/** Blocking HTTP/1.1 client: one keep-alive connection per thread, each
  * request written in a single send, as curl and Python's `http.client`
  * send a small POST. ACKs are left to the operating system's default
  * (delayed), so the client sees what such a user sees, stalls
  * included. */
object Http {
  final case class Resp(code: Int, body: String, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private final class Conn(val host: String, val port: Int) {
    val socket = new java.net.Socket(host, port)
    socket.setTcpNoDelay(true)
    socket.setSoTimeout(120000)
    val in = new java.io.BufferedInputStream(socket.getInputStream, 1 << 16)
    val out = socket.getOutputStream
  }
  private val conns = ThreadLocal.withInitial[Option[Conn]](() => None)

  private def line(in: java.io.InputStream): String = {
    val b = new java.io.ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n' && c != -1) { if (c != '\r') b.write(c); c = in.read() }
    if (c == -1 && b.size() == 0) throw new java.io.EOFException("connection closed")
    b.toString(StandardCharsets.UTF_8)
  }

  def call(method: String, url: String, body: String = null): Resp = {
    val uri = new URI(url)
    val t0 = System.nanoTime()
    def attempt(fresh: Boolean): Resp = {
      val c = conns.get() match {
        case Some(c) if !fresh && c.host == uri.getHost && c.port == uri.getPort => c
        case old =>
          old.foreach(o => scala.util.Try(o.socket.close()))
          val c = new Conn(uri.getHost, uri.getPort)
          conns.set(Some(c))
          c
      }
      val payload = Option(body).map(_.getBytes(StandardCharsets.UTF_8)).getOrElse(Array.emptyByteArray)
      val path = uri.getRawPath + Option(uri.getRawQuery).map("?" + _).getOrElse("")
      val head = s"$method $path HTTP/1.1\r\nHost: ${uri.getHost}:${uri.getPort}\r\n" +
        s"Content-Length: ${payload.length}\r\nContent-Type: text/plain\r\n\r\n"
      val req = new java.io.ByteArrayOutputStream()
      req.write(head.getBytes(StandardCharsets.UTF_8))
      req.write(payload)
      c.out.write(req.toByteArray)
      c.out.flush()
      val status = line(c.in).split(" ")(1).toInt
      var len = 0
      var h = line(c.in)
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line(c.in)
      }
      val bytes = c.in.readNBytes(len)
      Resp(status, new String(bytes, StandardCharsets.UTF_8), t0, System.nanoTime())
    }
    // A keep-alive connection the server has since closed fails on first
    // use; retry once on a fresh one.
    try attempt(fresh = false)
    catch { case _: java.io.IOException => attempt(fresh = true) }
  }
}

/** Response checks against the generator's expected lineage. */
object Check {
  type Lineage = Map[String, Set[String]]

  def sources(from: String): Set[String] = from.split("[,&]").filter(_.nonEmpty).toSet

  /** Edges of a response body, per statement index: `to_name` → sources. */
  def byStmt(edges: Iterator[com.fasterxml.jackson.databind.JsonNode],
             toField: String, fromField: String): Map[Int, Lineage] =
    edges.toSeq.groupBy(_.get("stmt").asInt()).map { case (stmt, es) =>
      stmt -> es.groupBy(_.get(toField).asText())
        .map { case (to, xs) => to -> xs.flatMap(e => sources(e.get(fromField).asText())).toSet }
    }

  /** Compare a statement-indexed response with expected lineage; return
    * a description of the first difference. */
  def compare(got: Map[Int, Lineage], want: Map[Int, Lineage]): Option[String] = {
    val idx = (got.keySet ++ want.keySet).toSeq.sorted
    idx.iterator.map { i =>
      val g = got.getOrElse(i, Map.empty)
      val w = want.getOrElse(i, Map.empty)
      if (g == w) None else Some(s"stmt $i: got $g want $w")
    }.collectFirst { case Some(d) => d }
  }
}

object Host {
  /** Peak resident set of this process, MB (VmHWM). */
  def peakRssMb(): Double =
    scala.util.Try {
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
        .getOrElse(Double.NaN)
    }.getOrElse(Double.NaN)

  /** Heap in use after a full collection, MB: what the run retains. */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc()
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Non-daemon threads alive now. */
  def nonDaemonThreads(): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet

  /** The host-calibration probe of `graft.Bench`: a fixed
    * md5 group-by over two million rows, seconds. */
  def calibration(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(2000000)
      .select(md5(col("id").cast("string")).as("h"))
      .groupBy(substring(col("h"), 1, 3))
      .agg(count(lit(1)).as("n"), max("h"))
      .count()
    (System.nanoTime() - t0) / 1e9
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}
