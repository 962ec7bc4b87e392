package graft.lineage

import graft.SparkTestBase
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The session-catalog sink-schema lookup: every name form of a known
  * table or view answers its columns, only unknown names answer Nil,
  * and a failing catalog propagates instead of reading as unknown. */
class CatalogMetadataProviderSpec extends SparkTestBase {

  test("answer matrix: table, temp view, default.view, unknown bare and qualified names") {
    LineageQueries.registerFixtures(spark, sfDir)
    val meta = new CatalogMetadataProvider(spark)
    val partCols = Seq("part_key", "part_name", "dt")
    val viewCols = Seq("tgt_key", "tgt_name")
    val answers = Seq(
      "lineage_part" -> partCols,                  // catalog table
      "default.lineage_part" -> partCols,
      "spark_catalog.default.lineage_part" -> partCols,
      "LINEAGE_PART" -> partCols,                  // case-insensitive
      "lineage_target" -> viewCols,                // temp view
      "default.lineage_target" -> viewCols,        // view, bare fallback
      "testcat.ns1.cat_sink" -> Seq("s_key", "s_name"), // another catalog
      "no_such_sink" -> Nil,
      "default.no_such_sink" -> Nil,
      "no_such_db.no_such_sink" -> Nil,
      "testcat.ns1.no_such_sink" -> Nil,
      "not a name" -> Nil)
    answers.foreach { case (name, cols) =>
      assert(meta.tableColumns(name) == cols, name)
    }
  }

  test("a failing catalog propagates; it is not an unknown table") {
    withConf("spark.sql.catalog.svc_failing_cat",
        classOf[FailingCatalog].getName) {
      val meta = new CatalogMetadataProvider(spark)
      for (name <- Seq("svc_failing_cat.t", "svc_failing_cat.ns.t")) {
        val e = intercept[Exception](meta.tableColumns(name))
        assert(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null)
          .exists(_.getMessage == FailingCatalog.Message), name)
      }
    }
  }
}

object FailingCatalog { val Message = "catalog unreachable" }

/** A catalog whose every lookup fails, as an unreachable metastore does. */
class FailingCatalog extends TableCatalog {
  private def down = throw new IllegalStateException(FailingCatalog.Message)
  def initialize(name: String, options: CaseInsensitiveStringMap): Unit = ()
  def name(): String = "svc_failing_cat"
  def listTables(namespace: Array[String]): Array[Identifier] = down
  def loadTable(ident: Identifier): Table = down
  def alterTable(ident: Identifier, changes: TableChange*): Table = down
  def dropTable(ident: Identifier): Boolean = down
  def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = down
}
