package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** graft's native expressions are built as Columns directly: no code in
  * `src/main` consults the active session or writes a function
  * registry, and the SQL names are registered once, in GraftExtensions. */
class NativePathSpec extends AnyFunSuite {

  private val sources: List[Path] =
    Using.resource(Files.walk(Paths.get("src/main/scala")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)

  private def filesContaining(s: String): List[String] =
    sources.filter(f => Files.readString(f).contains(s)).map(_.toString).sorted

  test("src/main never forks on the active session or writes a function registry") {
    for (s <- Seq("getActiveSession", "functionRegistry",
                  "call_function(graft.functions.", "registerFunction"))
      assert(filesContaining(s).isEmpty, s"'$s' in ${filesContaining(s)}")
    val functions = sources.filter(_.toString.contains("graft/functions/"))
    assert(functions.nonEmpty)
    assert(functions.forall(f => !Files.readString(f).contains("def register(spark")))
  }

  test("the SQL function names are injected in GraftExtensions only") {
    assert(filesContaining("injectFunction") ==
      List("src/main/scala/graft/plans/GraftExtensions.scala"))
  }
}
