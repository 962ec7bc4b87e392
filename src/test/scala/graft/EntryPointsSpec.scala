package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** `src/main` keeps only its standing entry points. A new measurement goes
  * into OptProbe or perfbench's traced run, not into another one-off main. */
class EntryPointsSpec extends AnyFunSuite {
  test("src/main declares exactly the five standing mains") {
    val owner = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|case\s+)*object\s+(\w+)""".r.unanchored
    val sources = Using.resource(Files.walk(Paths.get("src/main/scala")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    val mains = sources.flatMap(f => Files.readAllLines(f).asScala
      .scanLeft(("", false)) { case ((obj, _), line) =>
        (line match { case owner(name) => name; case _ => obj },
         line.contains("def main(") || line.matches(""".*\bextends\s+App\b.*""")) }
      .collect { case (obj, true) => obj })
    assert(mains.sorted == Seq("Bench", "LineageProbe", "OptProbe", "SurfaceCounts", "Verify"),
      s"objects declaring a main: ${mains.sorted}")
  }
}
