package graft.lineage

import org.apache.spark.sql.SparkSession

/** Pluggable sink-schema source (SURVEY.md §2.1 S11). The reference
  * fetches destination-table columns from live JDBC metadata behind a
  * multi-datasource SPI (`MetaDataQueryImpl.java:29-44`); graft makes
  * the lookup a one-method trait so a JDBC / Hive-metastore / REST
  * catalog implementation can replace the default session-catalog one
  * without touching the parser.
  */
trait MetadataProvider {

  /** Ordered column names of `table` (db-qualified `db.tbl`), or Nil
    * when the table is unknown — lineage then degrades to the
    * ordinal-only destination path, same as the reference's
    * unknown-sink behavior. */
  def tableColumns(table: String): Seq[String]
}

/** Default provider backed by the Spark session catalog. Temp views are
  * not db-scoped, so a `default.`-qualified name falls back to the bare
  * view name. Only `AnalysisException` (unknown/unresolvable table)
  * degrades to Nil — genuine catalog failures (a broken metastore
  * connection, a corrupt table definition) propagate rather than
  * silently downgrading lineage to the ordinal-only path.
  *
  * A name the session catalog does not know (every INSERT into a new
  * sink) is answered from a catalog existence check, not by building
  * and failing a DataFrame: that costs an analysis and an exception,
  * several milliseconds a lookup. */
final class CatalogMetadataProvider(spark: SparkSession) extends MetadataProvider {
  import org.apache.spark.sql.AnalysisException
  import org.apache.spark.sql.catalyst.TableIdentifier

  def tableColumns(table: String): Seq[String] = {
    def fields(n: String): Option[Seq[String]] =
      try
        if (mayExist(n)) Some(spark.table(n).schema.map(_.name).toSeq)
        else None
      catch { case _: AnalysisException => None }
    fields(table).orElse(fields(table.split('.').last)).getOrElse(Nil)
  }

  /** False only where the session catalog itself says `name` is
    * neither a temp view nor a table, which is exactly when
    * `spark.table(name)` fails analysis. Names another catalog may
    * resolve (three parts, a registered catalog's prefix, any name
    * while a non-session catalog is current) answer true, leaving the
    * verdict to `spark.table`. An unparsable name throws the same
    * `AnalysisException` `spark.table` would. */
  private def mayExist(name: String): Boolean = {
    val state = spark.sessionState
    val parts = state.sqlParser.parseMultipartIdentifier(name)
    def known(id: TableIdentifier) =
      state.catalog.isTempView(parts) || state.catalog.tableExists(id)
    state.catalogManager.currentCatalog.name != "spark_catalog" ||
      (parts match {
        case Seq(t) => known(TableIdentifier(t))
        case Seq(db, t) if !state.catalogManager.isCatalogRegistered(db) =>
          known(TableIdentifier(t, Some(db)))
        case _ => true
      })
  }
}

/** JDBC-backed provider — parity with the reference's only real
  * connector (`MetaDataQueryImpl.java:29-44`): destination-table
  * columns come from `java.sql.DatabaseMetaData.getColumns` against a
  * live RDBMS, so lineage can resolve sink schemas for tables that
  * exist only in an external database (the reference's primary
  * deployment shape — MySQL/PostgreSQL dialects behind a routing
  * datasource, `utils/DataSourceUtils.java:24-61`).
  *
  * Implements the INTENT of the reference's lookup (SURVEY.md §2.1):
  *  - a `db.tbl` name splits on the dot — with a character split, not
  *    the reference's unescaped-regex `String.split(".")` defect
  *    (`LineParser.java:113-115`) — and the db half narrows the JDBC
  *    schema pattern;
  *  - a bare name (and, as a fallback, a db-qualified one whose schema
  *    doesn't exist server-side) searches all schemas, exactly the
  *    reference's `getColumns(null, "%", table, "%")`;
  *  - unknown tables yield Nil, degrading to ordinal-only lineage like
  *    the reference's unknown-sink path;
  *  - case-folding engines are retried upper- then lowercase (JDBC
  *    metadata patterns are case-sensitive and engines fold unquoted
  *    identifiers differently — Derby/Oracle up, PostgreSQL down).
  *
  * `connect` is invoked once per lookup; hand it a pooled DataSource's
  * `getConnection` for service use (the reference routes through
  * Hikari/Druid pools — pooling is the caller's policy, not the
  * provider's). Connection failures propagate: they are outages, not
  * unknown tables. */
/** A JDBC dialect the metadata lookup can be pointed at: the type
  * name (plus aliases, matched case-insensitively — the reference's
  * `TypeSPIRegistry.matchesType`, `type/TypeSPIRegistry.java:22-24`),
  * the driver class, and the URL template. Mirrors the BEHAVIOR of the
  * reference's per-dialect construction
  * (`utils/DataSourceUtils.java:109-141` — `getURL` +
  * `getDriverClassName`): same dialect set, same URL shapes (including
  * SQLServer's `;DatabaseName=` form and H2's in-memory mode flags),
  * with driver classes updated to their current public coordinates.
  * Pool wiring (the reference's Hikari/Druid managers) stays the
  * caller's policy — hand [[JdbcMetadataProvider]] a pooled
  * DataSource's `getConnection` for service use. */
final case class JdbcDialect(name: String, aliases: Set[String],
                             driverClass: String, defaultPort: Int,
                             private val template: (String, String, Int) => String) {
  /** Connection URL for `database`, with the dialect's default port
    * when `port` is not positive. */
  def url(database: String, host: String = "localhost",
          port: Int = -1): String =
    template(database, host, if (port > 0) port else defaultPort)

  def matchesType(t: String): Boolean =
    name.equalsIgnoreCase(t) || aliases.exists(_.equalsIgnoreCase(t))
}

/** Registry of the dialects the reference routes
  * (`DataSourceUtils.java:109-141`). Lookup is alias-aware and
  * case-insensitive; an unknown type throws a NAMED error like the
  * reference's `ParseTypeNotFoundException` rather than guessing. */
object JdbcDialects {
  val MySql = JdbcDialect("MySQL", Set("mysql8"),
    "com.mysql.cj.jdbc.Driver", 3306,
    (d, h, p) => s"jdbc:mysql://$h:$p/$d")
  val MariaDb = JdbcDialect("MariaDB", Set.empty,
    "org.mariadb.jdbc.Driver", 3306,
    (d, h, p) => s"jdbc:mariadb://$h:$p/$d")
  val PostgreSql = JdbcDialect("PostgreSQL", Set("postgres"),
    "org.postgresql.Driver", 5432,
    (d, h, p) => s"jdbc:postgresql://$h:$p/$d")
  val OpenGauss = JdbcDialect("openGauss", Set.empty,
    "org.opengauss.Driver", 5431,
    (d, h, p) => s"jdbc:opengauss://$h:$p/$d")
  val Oracle = JdbcDialect("Oracle", Set.empty,
    "oracle.jdbc.OracleDriver", 1521,
    (d, h, p) => s"jdbc:oracle:thin:@//$h:$p/$d")
  val SqlServer = JdbcDialect("SQLServer", Set("mssql"),
    "com.microsoft.sqlserver.jdbc.SQLServerDriver", 1433,
    (d, h, p) => s"jdbc:sqlserver://$h:$p;DatabaseName=$d")
  val H2 = JdbcDialect("H2", Set.empty, "org.h2.Driver", -1,
    (d, _, _) =>
      s"jdbc:h2:mem:$d;DB_CLOSE_DELAY=-1;DATABASE_TO_UPPER=false;MODE=MYSQL")
  /** Not in the reference's switch; included because it is the
    * embedded engine Spark ships (Hive metastore) and what the specs
    * exercise live. */
  val Derby = JdbcDialect("Derby", Set("apache-derby"),
    "org.apache.derby.jdbc.EmbeddedDriver", -1,
    (d, _, _) => s"jdbc:derby:memory:$d;create=true")

  val all: Seq[JdbcDialect] =
    Seq(MySql, MariaDb, PostgreSql, OpenGauss, Oracle, SqlServer, H2, Derby)

  def find(tpe: String): Option[JdbcDialect] = all.find(_.matchesType(tpe))

  def forName(tpe: String): JdbcDialect = find(tpe).getOrElse(
    throw new NoSuchElementException(
      s"no JDBC dialect registered for type '$tpe' " +
        s"(known: ${all.map(_.name).mkString(", ")})"))
}

object JdbcMetadataProvider {
  /** Dialect-routed construction — the reference's
    * `DataSourceUtils.build` story collapsed to what the metadata
    * lookup needs: resolve the dialect (alias-aware), template the
    * URL, connect through `DriverManager` with the given credentials.
    * The driver class loads lazily at FIRST lookup, so constructing a
    * provider for a dialect whose driver jar is absent only fails if
    * it is actually used — and connection failures propagate as
    * outages, never as unknown tables. */
  def forDialect(dialect: JdbcDialect, database: String,
                 host: String = "localhost", port: Int = -1,
                 user: String = null, password: String = null):
      JdbcMetadataProvider = {
    val url = dialect.url(database, host, port)
    new JdbcMetadataProvider(() => {
      Class.forName(dialect.driverClass)
      if (user == null) java.sql.DriverManager.getConnection(url)
      else java.sql.DriverManager.getConnection(url, user, password)
    })
  }

  def forType(tpe: String, database: String, host: String = "localhost",
              port: Int = -1, user: String = null,
              password: String = null): JdbcMetadataProvider =
    forDialect(JdbcDialects.forName(tpe), database, host, port, user, password)
}

/** Named-datasource ROUTING registry — the reference's
  * `DynamicRoutingDataSource` story
  * (`datasource/AbstractRoutingDataSource.java:12-28`,
  * `utils/DataSourceUtils.java:33-61`) collapsed to what lineage
  * needs: metadata providers registered under ids, resolved by id at
  * lookup time. Mirrored behaviors:
  *
  *  - registering a DUPLICATE id fails loudly
  *    (`DataSourceUtils.java:40-42` throws on an already-bound id)
  *    instead of last-wins shadowing a live config;
  *  - resolving an UNKNOWN id throws a named error, the reference's
  *    `DataSourceNotFoundException` — never a silent empty schema,
  *    which would downgrade every INSERT to ordinal-only lineage and
  *    look like a data bug;
  *  - a route config (`conf/DatabaseConfInfo.java`) picks either ONE
  *    source (`srcDataSource`, the single-database deployment) or an
  *    ordered source LIST plus a destination (`srcDataSourceList` +
  *    `destDataSource`, the multi-source sync deployment). The
  *    reference's multi-source branch is an unfinished stub
  *    (`fetchDataSyncConf` returns a fresh unconfigured pool,
  *    `DataSourceUtils.java:76-78` — defect, not intent); the INTENT
  *    is implemented here: sink schemas resolve against the
  *    destination, source schemas against the sources in registration
  *    order, first catalog that knows the table wins.
  *
  * The router is itself a [[MetadataProvider]] (routing to the
  * configured destination — the catalog that must name INSERT sink
  * columns), so `LineageParser.parseStatement(..., metadata =
  * Some(router))` needs no special casing. Registration happens at
  * service startup; lookups are read-only thereafter (synchronized,
  * cheap — JDBC round-trips dominate). */
final class MetadataRouter extends MetadataProvider {
  private val providers =
    scala.collection.mutable.LinkedHashMap.empty[String, MetadataProvider]
  private var route: Option[MetadataRouter.Route] = None

  def add(id: String, provider: MetadataProvider): this.type =
    synchronized {
      require(!providers.contains(id),
        s"datasource id '$id' is already registered (the reference " +
          "rejects duplicate routing ids rather than shadowing them)")
      providers(id) = provider; this
    }

  def resolve(id: String): MetadataProvider = synchronized {
    providers.getOrElse(id, throw new NoSuchElementException(
      s"no datasource registered under id '$id' " +
        s"(known: ${providers.keys.mkString(", ")})"))
  }

  /** Install the active route; ids must already be registered (config
    * errors surface at startup, not first lookup). */
  def setRoute(r: MetadataRouter.Route): this.type = synchronized {
    (r.sources :+ r.destination).foreach(resolve)
    route = Some(r); this
  }

  private def activeRoute: MetadataRouter.Route = synchronized {
    route.getOrElse(throw new IllegalStateException(
      "MetadataRouter has no route configured — call setRoute first"))
  }

  /** Source-side lookup: the sources in order, first non-empty wins
    * (a table known to several catalogs resolves to the earliest —
    * deterministic, like the reference's pool registration order). */
  def sourceColumns(table: String): Seq[String] = {
    val r = activeRoute
    r.sources.iterator.map(resolve(_).tableColumns(table))
      .find(_.nonEmpty).getOrElse(Nil)
  }

  /** Destination-side lookup (what INSERT-sink lineage needs) — the
    * [[MetadataProvider]] face of the router. */
  def tableColumns(table: String): Seq[String] =
    resolve(activeRoute.destination).tableColumns(table)
}

object MetadataRouter {
  /** `conf/DatabaseConfInfo.java` reduced to the fields that select
    * catalogs: one or more source ids and a destination id. The
    * single-database deployment is `Route(Seq(id), id)`. */
  final case class Route(sources: Seq[String], destination: String) {
    require(sources.nonEmpty, "a route needs at least one source")
  }

  /** The reference's single-`srcDataSource` shape (`isPrimary` true). */
  def single(id: String): Route = Route(Seq(id), id)
}

final class JdbcMetadataProvider(connect: () => java.sql.Connection)
    extends MetadataProvider {

  def tableColumns(table: String): Seq[String] = {
    val parts = table.split('.')
    val tbl = parts.last
    val db = if (parts.length >= 2) parts(parts.length - 2) else "%"
    val conn = connect()
    try {
      // `getColumns` arguments are LIKE patterns: a literal `_` in a
      // table name matches ANY character, so `ext_sink` would also pull
      // in an `extasink` and interleave its columns into the ordinal
      // zip. Escape with the driver's escape string where one exists
      // (Derby reports NONE), and post-filter to exact TABLE_NAME
      // matches regardless — the belt covers drivers whose escaping is
      // absent or broken.
      val esc = conn.getMetaData.getSearchStringEscape
      def quote(name: String): String =
        if (esc == null || esc.isEmpty) name
        else name.replace(esc, esc + esc)
          .replace("_", esc + "_").replace("%", esc + "%")
      val folds: Seq[String => String] =
        Seq(identity, _.toUpperCase(java.util.Locale.ROOT),
          _.toLowerCase(java.util.Locale.ROOT))
      // db-qualified rounds ALSO pin the schema (or catalog — MySQL
      // reports databases as TABLE_CAT with TABLE_SCHEM null) on the
      // result rows, so a wildcard side-catch from a near-named schema
      // can never win while the exactly-named one exists; the
      // any-schema fallback rounds drop that pin on purpose.
      val candidates =
        folds.map(f => (if (db == "%") "%" else quote(f(db)), f(tbl),
          if (db == "%") None else Some(db))) ++
          folds.map(f => ("%", f(tbl), None))
      candidates.distinct.iterator
        .map { case (s, t, dbx) => lookup(conn, s, quote(t), t, dbx) }
        .find(_.nonEmpty).getOrElse(Nil)
    } finally conn.close()
  }

  /** `getColumns` rows arrive ordered by TABLE_CAT, TABLE_SCHEM,
    * TABLE_NAME, ORDINAL_POSITION (JDBC spec) — exactly the order the
    * S10 ordinal zip needs. Rows are kept only when TABLE_NAME matches
    * `tblExact` case-insensitively (wildcard side-catches dropped;
    * case-insensitive because servers may STORE a folded or mixed-case
    * form of the requested name) and, when `dbExact` is given, when the
    * schema OR catalog matches it. Only the FIRST matching
    * (catalog, schema, stored-name) group is returned: a same-named
    * table elsewhere must not interleave — keyed on the full triple
    * because catalog-only drivers report TABLE_SCHEM as null — and
    * first-in-JDBC-order is the deterministic pick for the any-schema
    * fallback. */
  private def lookup(conn: java.sql.Connection, schemaPattern: String,
                     tblPattern: String, tblExact: String,
                     dbExact: Option[String]): Seq[String] = {
    val rows = Seq.newBuilder[((String, String, String), String)]
    val rs = conn.getMetaData.getColumns(null, schemaPattern, tblPattern, "%")
    try {
      while (rs.next()) {
        val name = rs.getString("TABLE_NAME")
        if (name != null && name.equalsIgnoreCase(tblExact)) {
          val cat = Option(rs.getString("TABLE_CAT")).getOrElse("")
          val schem = Option(rs.getString("TABLE_SCHEM")).getOrElse("")
          if (dbExact.forall(d =>
            schem.equalsIgnoreCase(d) || cat.equalsIgnoreCase(d)))
            rows += (((cat, schem, name), rs.getString("COLUMN_NAME")))
        }
      }
    } finally rs.close()
    val r = rows.result()
    r.headOption.map { case (g0, _) =>
      r.takeWhile(_._1 == g0).map(_._2)
    }.getOrElse(Nil)
  }
}
