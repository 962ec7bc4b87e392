package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is the id of the enclosing span
  * on the same thread (0 for a root), `rid` the request or query it
  * belongs to. Times are `System.nanoTime` readings. */
final case class Span(id: Long, name: String, layer: String,
                      start: Long, end: Long, parent: Long, rid: String) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Off by default: an untraced run pays one
  * volatile read per call site. Spans are written out once, at the end
  * of the run. */
object Trace {
  @volatile var enabled = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[T](name: String, layer: String, rid: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, name, layer, t0, t1, parents.headOption.getOrElse(0L), rid))
      }
    }

  /** Record a span timed elsewhere (a listener callback, a client-side
    * latency), as a child of the current thread's open span if any. */
  def record(name: String, layer: String, start: Long, end: Long,
             rid: String = ""): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), name, layer, start, end,
        stack.get().headOption.getOrElse(0L), rid))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer, in ms: each span's duration minus the time of
    * its direct children. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val childMs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"parent":${s.parent},"rid":${Json.str(s.rid)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Stats {
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** The highest percentile up to `want` that `n` samples support: the
    * largest p with at least ten samples above it (and never below the
    * median). */
  def supportedPct(n: Int, want: Double): Double =
    math.max(50.0, math.min(want, math.floor(100.0 * (n - 10) / n)))
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append("\"").toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
