package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** The lineage package builds its thread pools in one factory,
  * `Lanes.apply`: daemon threads that exit when idle, and one JVM-wide
  * parse pool shared by the service and the parser's fan-out. */
class ThreadPoolSpec extends AnyFunSuite {

  private val sources: List[Path] =
    Using.resource(Files.walk(Paths.get("src/main/scala/graft/lineage")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)

  private def count(s: String): Map[String, Int] =
    sources.map(f => f.getFileName.toString ->
      Pattern.quote(s).r.findAllMatchIn(Files.readString(f)).size)
      .filter(_._2 > 0).toMap

  test("the lineage package builds thread pools in Lanes only") {
    assert(sources.nonEmpty)
    assert(count("new ThreadPoolExecutor") == Map("Lanes.scala" -> 1))
    for (s <- Seq("Executors.", "ForkJoinPool", "ExecutionContext"))
      assert(count(s).isEmpty, s)
  }
}
