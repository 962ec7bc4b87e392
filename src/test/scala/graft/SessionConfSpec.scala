package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Query code changes no session-wide conf behind another thread's back:
  * `src/main` writes a session conf only at the sites listed here, each
  * keyed by (file, enclosing def, receiver). */
class SessionConfSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val sources: List[Path] =
    Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)

  private val defLine =
    """^(\s*)(?:(?:private|protected|override|final)(?:\[\w+\])?\s+)*def\s+(\w+)""".r.unanchored
  private val confWrite = """(\w+)\.conf\.(?:set|unset)\(""".r

  /** Each line of `f` with the def it sits in: a def owns the lines
    * indented deeper than it, up to the next line that is not. */
  private def linesByDef(f: Path): List[(String, String)] = {
    var stack = List.empty[(Int, String)]
    Files.readAllLines(f).asScala.toList.filter(_.trim.nonEmpty).map { line =>
      val indent = line.takeWhile(_ == ' ').length
      stack = stack.dropWhile(_._1 >= indent)
      val owner = stack.headOption.fold("")(_._2)
      line match {
        case defLine(ws, name) => stack = (ws.length, name) :: stack
        case _ => ()
      }
      (owner, line)
    }
  }

  private val lines: Map[Path, List[(String, String)]] =
    sources.map(f => f -> linesByDef(f)).toMap

  test("session conf writes in src/main happen only at the allowed sites") {
    val sites = (for {
      (f, ls) <- lines.toList
      (owner, line) <- ls
      m <- confWrite.findAllMatchIn(line)
    } yield (root.relativize(f).toString, owner, m.group(1))).toSet
    assert(sites == Set(
      // the one constant setting, idempotent
      ("graft/Tables.scala", "sessionDefaults", "spark"),
      // AQE off on a private session clone only
      ("graft/Checkpoints.scala", "localCheckpointKeepingPartitioning", "clone"),
      // the one set-and-restore: a bounded stream's settings
      ("graft/queries/StreamingQueries.scala", "withStreamConf", "s"),
      // the lineage fixtures' test catalog
      ("graft/lineage/LineageQueries.scala", "registerFixtures", "spark"),
      // fixtures that set conf on a session they create themselves
      ("graft/lineage/LineageQueries.scala", "openLineageAutoEmit", "s"),
      ("graft/lineage/LineageQueries.scala", "autoCompact", "s")))
    val lineage = lines(root.resolve("graft/lineage/LineageQueries.scala"))
    for (fixture <- Seq("openLineageAutoEmit", "autoCompact"))
      assert(lineage.exists { case (owner, line) =>
        owner == fixture && line.contains("val s = spark.newSession()") }, fixture)
  }

  test("the parquet nanos-as-long key is named once in src/main") {
    val uses = sources.map(f =>
      "nanosAsLong".r.findAllMatchIn(Files.readString(f)).size).sum
    assert(uses == 1)
  }
}
