package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** `LineageStore`'s edge log and read log share one implementation of
  * each storage step: one parquet footer reader, one sorted-segment
  * writer, one `key<TAB>value` codec for manifests and the lease, and
  * one hidden-name test. The segment file size is a constant, not a
  * parameter. */
class StoreCodecSpec extends AnyFunSuite {

  private val store = Files.readString(
    Paths.get("src/main/scala/graft/lineage/LineageStore.scala"))

  private def count(text: String, s: String): Int =
    Pattern.quote(s).r.findAllMatchIn(text).size

  test("each shared storage step is written once in LineageStore") {
    for (s <- Seq("ParquetFileReader.open", "repartitionByRange",
                  "split(\"\\t\", 2)", "startsWith(\".\")"))
      assert(count(store, s) == 1, s)
  }

  test("the segment target size is not a parameter") {
    val sources: List[Path] =
      Using.resource(Files.walk(Paths.get("src/main/scala")))(
        _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(sources.nonEmpty)
    assert(sources.forall(f =>
      count(Files.readString(f), "targetSegmentBytes") == 0))
  }
}
