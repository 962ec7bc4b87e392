package graft.lineage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, Expression, ExprId, GetArrayItem, GetMapValue, GetStructField, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, PivotFirst}
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.internal.SQLConf

/** Column-level SQL lineage over Spark's own analyzer output.
  *
  * The reference implements this as a ~800-line hand-written recursive
  * descent over a Hive ANTLR AST with manual alias/scope bookkeeping
  * (reference `LineParser.java:164-458`). Here the same analysis runs
  * over the **analyzed** Catalyst `LogicalPlan`: attribute resolution,
  * star expansion, alias scoping and subquery chasing are already done
  * by Spark's analyzer, so lineage is a single bottom-up fold that maps
  * every `ExprId` to its set of leaf `db.table.col` sources
  * (SURVEY.md §2.7 — the reference's `getRealTable`/`getSubQueryTable`
  * machinery, `LineParser.java:534-577`, is subsumed by `exprId` chains).
  *
  * Analyzed — NOT optimized — plans are used deliberately: optimizer
  * rules (column pruning, filter merging, projection collapsing) rewrite
  * exactly the structures whose surface form the lineage strings must
  * preserve (SURVEY.md §4).
  *
  * Reference defects implemented as *intent*, per SURVEY.md §7.4 #3:
  * union branch sources are unioned (not last-branch-wins,
  * `ColLineParse.java:48-50`), function sources use all argument
  * references (not first-arg-only, `LineParser.java:669-687`), and sinks
  * are not added to `inputTables` (`LineParser.java:363` fallthrough).
  */
object LineageParser {

  private val DefaultDb = "default"
  private val Eof = "<EOF>" // reference common/Constants.java:7
  /** The no-sink sentinel, exposed for consumers of the edge contract
    * (OpenLineage export skips datasets named this). */
  private[lineage] val NoSink = Eof
  private val SepCol = ","  // reference common/Constants.java:5
  private val SepDot = "."  // reference common/Constants.java:4
  private val SepAnd = "&"  // reference common/Constants.java:6

  /** Split on `;` not preceded by a backslash — the reference's statement
    * splitter verbatim semantics (`LineParser.java:83-85`). */
  def splitStatements(sql: String): Seq[String] =
    sql.split("(?<!\\\\);").map(_.trim).filter(_.nonEmpty).toSeq

  /** Parse one or more `;`-separated statements into lineage results.
    * Statements are indexed 1..n like the reference (`LineParser.java:99`).
    * A `USE db` statement re-qualifies later unqualified names.
    * `metadata` resolves sink schemas (S11); None = the session catalog.
    *
    * The statements are analyzed concurrently, with the results of the
    * reference's sequential fold. `USE` is the one dependency between
    * statements, and it needs only the parsed plan: the SQL parse of
    * every statement runs first, a walk over the parsed plans gives
    * each statement its current db, and then the statements fold on
    * [[Lanes.fanOut]]. A failing body throws what the sequential fold
    * throws, the failure of its lowest-index failing statement. */
  def parse(spark: SparkSession, sql: String,
            metadata: Option[MetadataProvider] = None,
            includeControl: Boolean = false): Seq[LineageResult] = {
    val meta = metadata.getOrElse(new CatalogMetadataProvider(spark))
    val stmts = splitStatements(sql).toIndexedSeq
    val plans = Lanes.fanOut(stmts.size) { i =>
      try Right(sqlParse(spark, stmts(i), i + 1))
      catch { case t: Throwable => Left(t) }
    }
    // the statements before the first one that does not parse; that
    // one fails the body once they have folded
    val parsed = plans.takeWhile(_.isRight).collect { case Right(p) => p }
    val dbs = parsed.scanLeft(DefaultDb)((db, p) => useNamespace(p).getOrElse(db))
    val results = Lanes.fanOut(parsed.size) { i =>
      fold(spark, parsed(i), i + 1, dbs(i), meta, includeControl)
    }
    plans.collectFirst { case Left(t) => t }.foreach(t => throw t)
    results
  }

  /** Parse a LARGE statement population in parallel (r17): the scale
    * path for warehouse-log backfills, where the corpus is millions of
    * INDEPENDENT statements and 7 ms/statement sequential
    * (DESIGN.md §1) means hours on one thread. Statement analysis is
    * driver-side by nature (it needs the session's analyzer — there is
    * nothing distributed to do: no data is read), but Spark supports
    * concurrent queries on one session, so up to `parallelism` workers
    * of [[Lanes.fanOut]] share the session and the (stateless) metadata
    * provider. Measured: see DESIGN.md §1, "Bulk parsing".
    *
    * Contract: every statement is parsed against the default db and
    * no `USE` is applied across them (the realistic backfill source, a
    * query log, records each statement with its db already resolved;
    * [[parse]] threads `USE` through one body). Results keep input
    * order; indices are 1-based positions. A statement that fails to
    * parse surfaces as a Left(index, message) so one bad log line
    * cannot void a million-statement backfill. */
  def parseBulk(spark: SparkSession, statements: Seq[String],
                parallelism: Int = Runtime.getRuntime.availableProcessors(),
                metadata: Option[MetadataProvider] = None,
                includeControl: Boolean = false)
      : Seq[Either[(Int, String), LineageResult]] = {
    val meta = metadata.getOrElse(new CatalogMetadataProvider(spark))
    val stmts = statements.toIndexedSeq
    Lanes.fanOut(stmts.size, math.max(1, parallelism)) { i =>
      try Right(parseStatement(spark, stmts(i), i + 1, DefaultDb,
        Some(meta), includeControl))
      catch { case e: Exception =>
        Left((i + 1, Option(e.getMessage).getOrElse(e.getClass.getName)))
      }
    }
  }

  /** Lineage for a PROGRAMMATIC DataFrame pipeline (r13 stretch): the
    * SAME analyzed-plan fold the SQL path runs, entered from
    * `df.queryExecution.analyzed` instead of a parsed statement — the
    * parser's whole design (traverse what the analyzer resolved, not
    * what the user typed) means DataFrame lineage is an entry point,
    * not a second engine. Sink is the `<EOF>` sentinel, like the
    * reference's plain-query TOK_TMP_FILE path
    * (`LineParser.java:104-108`): a DataFrame has no INSERT sink until
    * a write, and writes are not a LogicalPlan. Edges, WHERE/ON tags,
    * COLFUN rendering and inputTables all come from the shared fold,
    * so a pipeline expressed twice — SQL text vs DataFrame calls —
    * yields the same lineage wherever the analyzer produces the same
    * plan (golden-pinned in LineageFromPlanSpec). STREAMING plans work
    * too (r14 #6): `readStream` leaves become `stream.<source>` input
    * tables and the watermark a `WATERMARK:` condition tag
    * (LineageStreamingSpec). */
  def fromPlan(spark: SparkSession,
               plan: LogicalPlan, index: Int = 1,
               metadata: Option[MetadataProvider] = None,
               includeControl: Boolean = false): LineageResult = {
    val meta = metadata.getOrElse(new CatalogMetadataProvider(spark))
    extract(spark, plan, Eof, Operation.Select, index, DefaultDb, meta,
      includeControl = includeControl)
  }

  /** [[fromPlan]] directly off a Dataset/DataFrame. */
  def fromDataFrame(df: org.apache.spark.sql.DataFrame,
                    index: Int = 1,
                    includeControl: Boolean = false): LineageResult =
    fromPlan(df.sparkSession, df.queryExecution.analyzed, index,
      includeControl = includeControl)

  /** Lineage for a STARTED streaming query, SINK INCLUDED (VERDICT r16
    * #2): the write-side twin of [[fromDataFrame]]. The reference
    * detected INSERT sinks automatically (S4, `LineParser.java:300-304`)
    * — [[forWrite]] made the caller re-state the streaming sink name;
    * this entry point reads the ACTUAL sink from the query's own
    * resolved `WriteToStream` (what the StreamingQueryManager built at
    * `start()`), so `writeStream.toTable(t)` gets the same
    * ordinal-zipped destination columns as a SQL `INSERT INTO t` (S10)
    * with no caller-supplied name to drift from the truth.
    *
    * Sink naming: a catalog sink (v1 `catalogTable` or v2
    * `catalogAndIdent`) goes through the same two-/three-part encoding
    * as scan-side names ([[fillDb]]/threePart); a non-catalog sink
    * keeps the source-side `stream.` convention — a path sink is
    * `stream.FileSink[<path>]` (mirror of `stream.FileSource[<path>]`),
    * a memory sink `stream.MemorySink[<query name>]` (the query name IS
    * the addressable temp view).
    *
    * Plumbing note: the `WriteToStream` is held by the execution as a
    * constructor field with no public getter, so one reflective field
    * read unwraps it (the wrapper + field have been stable across
    * Spark's streaming engine; a miss degrades to the execution's
    * public `analyzedPlan`/`sink` getters, losing only the catalog
    * identifier of `toTable` sinks, never the edges). Needs no batch
    * to have run: everything is resolved at `start()`. */
  def fromStreamingQuery(query: org.apache.spark.sql.streaming.StreamingQuery,
                         index: Int = 1,
                         metadata: Option[MetadataProvider] = None): LineageResult = {
    val spark = query.sparkSession
    val meta = metadata.getOrElse(new CatalogMetadataProvider(spark))
    val exec: AnyRef =
      try query.getClass.getMethod("streamingQuery").invoke(query)
      catch { case _: NoSuchMethodException => query }
    def tableString(t: org.apache.spark.sql.connector.catalog.Table): String =
      try t.name() catch { case _: Exception => t.toString } // v1 Sink.name throws
    writeToStreamOf(exec) match {
      case Some(w) =>
        val sink = w.catalogTable.map { ct =>
          val id = ct.identifier
          threePart(id.catalog, id.database.toSeq :+ id.table, DefaultDb)
        }.orElse(w.catalogAndIdent.map { case (cat, ident) =>
          threePart(Some(cat.name), ident.namespace.toSeq :+ ident.name,
            DefaultDb)
        }).getOrElse {
          val qn = Option(w.name).filter(_.nonEmpty)
            .filter(_ => tableString(w.sink) == "MemorySink")
            .map(n => s"[$n]").getOrElse("")
          s"stream$SepDot${tableString(w.sink)}$qn"
        }
        extract(spark, w.inputQuery, sink, Operation.Insert, index,
          DefaultDb, meta)
      case None =>
        def call[A](n: String): A =
          exec.getClass.getMethod(n).invoke(exec).asInstanceOf[A]
        val plan = call[LogicalPlan]("analyzedPlan")
        val sink = "stream" + SepDot + tableString(
          call[org.apache.spark.sql.connector.catalog.Table]("sink"))
        extract(spark, plan, sink, Operation.Insert, index, DefaultDb, meta)
    }
  }

  /** The resolved `WriteToStream` a stream execution was constructed
    * from — found by walking the class hierarchy for the (private,
    * getter-less) field of that type. */
  private def writeToStreamOf(exec: AnyRef)
      : Option[org.apache.spark.sql.catalyst.streaming.WriteToStream] = {
    var c: Class[_] = exec.getClass
    while (c != null) {
      c.getDeclaredFields.find(f =>
        classOf[org.apache.spark.sql.catalyst.streaming.WriteToStream]
          .isAssignableFrom(f.getType)) match {
        case Some(f) =>
          f.setAccessible(true)
          return Option(f.get(exec)
            .asInstanceOf[org.apache.spark.sql.catalyst.streaming.WriteToStream])
        case None => c = c.getSuperclass
      }
    }
    None
  }

  /** Lineage of an EXECUTED write (r17): the arm behind
    * [[LineageCapture]]'s session-wide listener — given the
    * `QueryExecution` a `QueryExecutionListener` receives, return the
    * write's edges (sink included) or None when the execution was not
    * a write (actions like collect/count produce no lineage fact and
    * must not spam the capture sink). Covers both write paths the
    * DataFrame API plans: the V1 file-relation commands
    * (`df.write.saveAsTable`/`insertInto`/`parquet(path)` against the
    * session catalog's file tables) and the V2 `AppendData` /
    * `Overwrite*` plans (DSV2 tables, `CreateTableAsSelect` for
    * catalog plugins). A pure-path write (no catalog table) gets the
    * `file.[<path>]` sink — the batch mirror of the streaming
    * `stream.FileSink[<path>]` encoding. */
  def fromExecution(qe: org.apache.spark.sql.execution.QueryExecution,
                    index: Int = 1,
                    metadata: Option[MetadataProvider] = None)
      : Option[LineageResult] = {
    val spark = qe.sparkSession
    val meta = metadata.getOrElse(new CatalogMetadataProvider(spark))
    def v2Sink(nr: LogicalPlan): String = nr match {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        (r.catalog, r.identifier) match {
          case (cat, Some(id)) =>
            threePart(cat.map(_.name), id.namespace.toSeq :+ id.name,
              DefaultDb)
          case _ => fillDb(r.name, DefaultDb)
        }
      case other: org.apache.spark.sql.catalyst.analysis.NamedRelation =>
        fillDb(other.name, DefaultDb)
      case _ => Eof
    }
    def v1Sink(ct: Option[org.apache.spark.sql.catalyst.catalog.CatalogTable],
               path: => String): String =
      ct.map { t =>
        val id = t.identifier
        threePart(id.catalog, id.database.toSeq :+ id.table, DefaultDb)
      }.getOrElse {
        // A catalogTable-less insert under the WAREHOUSE dir is the
        // data-writing leg of saveAsTable (the wrapper commands are
        // skipped below; the catalog identifier isn't on this nested
        // command, but the managed layout names the table):
        // <wh>/<table> = default db, <wh>/<db>.db/<table> otherwise.
        val wh = spark.conf.get("spark.sql.warehouse.dir", "")
          .stripSuffix("/")
        def noScheme(s: String) = s.replaceFirst("^file:/*", "/")
        val p = noScheme(path).stripSuffix("/")
        val w = noScheme(wh)
        if (wh.nonEmpty && p.startsWith(w + "/"))
          p.drop(w.length + 1).split('/') match {
            case Array(t) => s"$DefaultDb$SepDot$t"
            case Array(db, t) if db.endsWith(".db") =>
              s"${db.stripSuffix(".db")}$SepDot$t"
            case _ => s"file$SepDot[$path]"
          }
        else s"file$SepDot[$path]"
      }
    // The eager write runs through QueryExecution of the command
    // itself; a lazily-collected command surfaces wrapped in
    // CommandResult — unwrap either shape.
    val plan = qe.analyzed match {
      case c: CommandResult => c.commandLogicalPlan
      case p => p
    }
    val mapped: Option[(String, LogicalPlan, Operation)] = plan match {
      case i: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
        Some((v1Sink(i.catalogTable, i.outputPath.toString), i.query,
          Operation.Insert))
      // V1 saveAsTable WRAPPERS are skipped on purpose: one user call
      // emits CreateDataSourceTableAsSelectCommand AND
      // SaveAsV1TableCommand AND the nested data-writing insert as
      // SEPARATE listener events — capturing the terminal insert only
      // keeps one fact per write (the op normalizes to Insert; the V2
      // CTAS arm below still reports CreateTable, since V2 executes
      // the write inside the one command).
      case c if c.getClass.getSimpleName == "CreateDataSourceTableAsSelectCommand" ||
          c.getClass.getSimpleName == "SaveAsV1TableCommand" => None
      case a: AppendData => Some((v2Sink(a.table), a.query, Operation.Insert))
      case o: OverwriteByExpression =>
        Some((v2Sink(o.table), o.query, Operation.Insert))
      case o: OverwritePartitionsDynamic =>
        Some((v2Sink(o.table), o.query, Operation.Insert))
      case c: CreateTableAsSelect =>
        Some((resolvedOrNot(c.name), c.query, Operation.CreateTable))
      case r: ReplaceTableAsSelect =>
        Some((resolvedOrNot(r.name), r.query, Operation.CreateTable))
      case _ => None
    }
    mapped.map { case (sink, query, op) =>
      extract(spark, query, sink, op, index, DefaultDb, meta)
    }
  }

  /** Name of a CTAS/RTAS target in EITHER resolution state: the
    * analyzed plan a listener sees carries `ResolvedIdentifier`, the
    * parsed plan `UnresolvedIdentifier`. */
  private def resolvedOrNot(name: LogicalPlan): String = name match {
    case r: org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier =>
      threePart(Some(r.catalog.name),
        r.identifier.namespace.toSeq :+ r.identifier.name, DefaultDb)
    case other => fillDb(unresolvedName(other).getOrElse(Eof), DefaultDb)
  }

  /** Write-side DataFrame lineage: the edges of
    * `df.write.insertInto(table)` / `saveAsTable(table)` BEFORE the
    * write happens — same fold as [[fromDataFrame]] with the sink
    * named, so destination columns zip by ordinal against the sink's
    * catalog schema exactly like a SQL INSERT (S10). `explicitCols`
    * mirrors `INSERT INTO t (b, a)`: the named columns map by
    * position and beat the catalog's ordinal guess. The write API
    * itself is not a LogicalPlan, so this is declared intent — call
    * it with the frame you are about to write. */
  def forWrite(df: org.apache.spark.sql.DataFrame, table: String,
               explicitCols: Seq[String] = Nil, index: Int = 1,
               metadata: Option[MetadataProvider] = None): LineageResult = {
    val spark = df.sparkSession
    val meta = metadata.getOrElse(new CatalogMetadataProvider(spark))
    extract(spark, df.queryExecution.analyzed, fillDb(table, DefaultDb),
      Operation.Insert, index, DefaultDb, meta, explicitCols)
  }

  private val UniqueJoin = "(?i)\\bUNIQUEJOIN\\b".r

  /** Lineage for a single statement: its SQL parse, then the fold. */
  def parseStatement(spark: SparkSession, stmt: String, index: Int,
                     currentDb: String = DefaultDb,
                     metadata: Option[MetadataProvider] = None,
                     includeControl: Boolean = false): LineageResult =
    fold(spark, sqlParse(spark, stmt, index), index, currentDb,
      metadata.getOrElse(new CatalogMetadataProvider(spark)), includeControl)

  /** The SQL parse of one statement. The lexer reads its flags
    * (`spark.sql.ansi.doubleQuotedIdentifiers`, …) from `SQLConf.get`,
    * which answers for the session active on the calling thread, so
    * the parse runs under `spark`'s own conf. */
  private def sqlParse(spark: SparkSession, stmt: String,
                       index: Int): LogicalPlan = {
    // Hive's UNIQUEJOIN has no Spark SQL equivalent; the reference also
    // declares it unsupported (LineParser.java:248,288). Fail with a
    // named error instead of surfacing a generic parse failure.
    if (UniqueJoin.findFirstIn(stmt).isDefined)
      throw new UnsupportedOperationException(
        s"UNIQUEJOIN is not supported (statement $index): Hive UNIQUEJOIN " +
          "has no Spark SQL equivalent; rewrite as a FULL OUTER JOIN")
    SQLConf.withExistingConf(spark.sessionState.conf)(
      spark.sessionState.sqlParser.parsePlan(stmt))
  }

  /** The plan classes of `USE`. */
  private val UsePlans = Set("SetCatalogAndNamespace", "SetNamespaceCommand")

  /** The namespace a `USE` plan switches to; None for any other plan. */
  private def useNamespace(plan: LogicalPlan): Option[String] =
    if (!UsePlans(plan.getClass.getSimpleName)) None
    else plan.collectFirst {
      case u: UnresolvedNamespace => u.multipartIdentifier.mkString(SepDot)
    }

  /** The lineage of one parsed statement, with `currentDb` qualifying
    * its unqualified names. */
  private def fold(spark: SparkSession, parsed: LogicalPlan, index: Int,
                   currentDb: String, meta: MetadataProvider,
                   includeControl: Boolean): LineageResult = {
    def fill(n: String) = fillDb(n, currentDb)

    parsed match {
      // Hive multi-insert `FROM t INSERT ... INSERT ...` parses as a
      // Union of InsertIntoStatements (SURVEY.md §7.4 #4): one statement,
      // edges flowing to every sink.
      case u: Union if u.children.nonEmpty &&
          u.children.forall(_.isInstanceOf[InsertIntoStatement]) =>
        val parts = u.children.map { c =>
          val i = c.asInstanceOf[InsertIntoStatement]
          val sink = fill(unresolvedName(i.table).getOrElse(Eof))
          extract(spark, i.query, sink, Operation.Insert, index, currentDb,
            meta, i.userSpecifiedCols, includeControl)
        }
        parts.reduce { (a, b) =>
          LineageResult(index, Operation.Insert,
            a.inputTables ++ b.inputTables, a.outputTables ++ b.outputTables,
            a.colLines ++ b.colLines)
        }
      case i: InsertIntoStatement =>
        val sink = fill(unresolvedName(i.table).getOrElse(Eof))
        extract(spark, i.query, sink, Operation.Insert, index, currentDb,
          meta, i.userSpecifiedCols, includeControl)
      case c: CreateTableAsSelect =>
        val sink = fill(unresolvedName(c.name).getOrElse(Eof))
        extract(spark, c.query, sink, Operation.CreateTable, index, currentDb,
          meta, includeControl = includeControl)
      // RTAS is CTAS with replace semantics — same sink, same select
      // lineage. Without this arm the generic name heuristic below
      // ("Replace*" → ALTER) would mis-file it as DDL and drop every
      // column edge.
      case r: ReplaceTableAsSelect =>
        val sink = fill(unresolvedName(r.name).getOrElse(Eof))
        extract(spark, r.query, sink, Operation.CreateTable, index, currentDb,
          meta, includeControl = includeControl)
      case v: CreateView =>
        val sink = fill(unresolvedName(v).getOrElse(Eof))
        extract(spark, v.query, sink, Operation.CreateTable, index, currentDb,
          meta, includeControl = includeControl)
      // Lakehouse DML (engine extension — Hive's MERGE/UPDATE/DELETE
      // postdate the reference): lineage from the UNRESOLVED plan, since
      // analysis of row-level DML requires a v2 table; the MERGE source
      // side is a plain query and goes through the analyzer as usual.
      case m: MergeIntoTable =>
        mergeLineage(spark, m, index, currentDb, meta)
      case u: UpdateTable =>
        updateLineage(u, index, currentDb)
      case d: DeleteFromTable =>
        val name = fill(unresolvedName(d.table).getOrElse(Eof))
        // The predicate's columns are recorded for parity with UPDATE's
        // WHERE tag — a row-level delete READS them, and dropping the
        // condition entirely left the two DML paths inconsistent. The
        // edge has no destination column (nothing is written per-column
        // by a delete); an unconditional DELETE carries no edge.
        val edges = d.condition match {
          case lit: org.apache.spark.sql.catalyst.expressions.Literal
              if lit.value == true => Nil
          case cond =>
            val srcs = cond.collect {
              case ua: UnresolvedAttribute => s"$name$SepDot${ua.nameParts.last}"
            }.distinct.sorted
            Seq(ColLine(name, None, "", srcs.mkString(SepCol),
              Set(s"WHERE:${cond.sql}")))
        }
        LineageResult(index, Operation.Delete,
          Set(name) ++ d.condition.collect {
            case s: SubqueryExpression => subqueryRelations(s, currentDb)
          }.flatten.toSet,
          Set(s"$name\t${Operation.Delete.name}"), edges)
      case other =>
        other.getClass.getSimpleName match {
          case "DropTable" | "DropTableStatement" =>
            ddl(other, Operation.Drop, index, currentDb)
          case "TruncateTable" =>
            ddl(other, Operation.Truncate, index, currentDb)
          case "LoadData" =>
            ddl(other, Operation.Load, index, currentDb)
          case n if UsePlans(n) =>
            LineageResult(index, Operation.Use, Set.empty,
              useNamespace(other).toSet, Nil)
          case n if n.startsWith("Alter") || n.startsWith("Add") ||
                    n.startsWith("Rename") || n.startsWith("Replace") ||
                    (n.startsWith("Set") && n.contains("Table")) ||
                    n.contains("Partition") || n.contains("Column") =>
            ddl(other, Operation.Alter, index, currentDb)
          case n if n.startsWith("CreateTable") =>
            ddl(other, Operation.CreateTable, index, currentDb)
          case _ =>
            // Plain query: sink is the <EOF> sentinel like the reference's
            // TOK_TMP_FILE path (LineParser.java:104-108,343-345).
            extract(spark, other, Eof, Operation.Select, index, currentDb,
              meta, includeControl = includeControl)
        }
    }
  }

  /** Tables a subquery expression reads, by name — row-level DML plans
    * can't go through the analyzer (v2-only statements), so subquery
    * inputs are collected from the UNRESOLVED plan. `expression.collect`
    * does NOT descend into subquery plans on its own; without this walk
    * a scalar subquery in an assignment value or DML predicate
    * (`UPDATE t SET c = (SELECT max(x) FROM other)`) would silently
    * drop `other` from inputTables. Recurses: a subquery nested inside
    * the subquery's own predicates (`... WHERE k IN (SELECT ...)`) has
    * the same blind spot one level down. */
  private def subqueryRelations(s: SubqueryExpression, db: String): Set[String] = {
    val direct = s.plan.collect {
      case ur: UnresolvedRelation =>
        fillDb(ur.multipartIdentifier.mkString(SepDot), db)
    }.toSet
    val nested = s.plan.collect { case node =>
      node.expressions.flatMap(_.collect { case n: SubqueryExpression => n })
    }.flatten
    direct ++ nested.flatMap(subqueryRelations(_, db))
  }

  /** UPDATE t SET c = expr [WHERE cond]: every DIRECT reference in an
    * assignment value (and the WHERE tag) is a column of the target
    * itself, so lineage is name-level self-edges — no analysis needed
    * (and none possible: row-level DML analyzes only against v2
    * tables). Subqueries in values or the predicate contribute their
    * tables to inputTables (via [[subqueryRelations]]); their columns
    * are not chased to leaf edges — the unresolved plan carries no
    * attribute resolution to chase with. */
  private def updateLineage(u: UpdateTable, index: Int, db: String): LineageResult = {
    val target = fillDb(unresolvedName(u.table).getOrElse(Eof), db)
    val where = u.condition.map(c => s"WHERE:${c.sql}").toSet
    val edges = u.assignments.map { a =>
      val dest = a.key.collectFirst {
        case ua: UnresolvedAttribute => ua.nameParts.last
      }.getOrElse(a.key.sql)
      val srcs = a.value.collect {
        case ua: UnresolvedAttribute => s"$target$SepDot${ua.nameParts.last}"
      }.distinct.sorted
      ColLine(target, Some(s"$target$SepDot$dest"), dest,
        srcs.mkString(SepCol), where)
    }
    val subInputs = (u.assignments.map(_.value) ++ u.condition).flatMap(
      _.collect { case s: SubqueryExpression => subqueryRelations(s, db) })
      .flatten.toSet
    LineageResult(index, Operation.Update, Set(target) ++ subInputs,
      Set(target), edges)
  }

  /** MERGE INTO lineage: the source side is a plain query — analyzed
    * and folded like any SELECT, so source references chase through
    * subqueries to leaf `db.table.col`s — while target-side references
    * resolve by name against the (unanalyzable pre-v2) target. Every
    * edge carries a `MERGE:<on-condition>` tag plus the action's own
    * `WHEN:<condition>` tag when present. */
  private def mergeLineage(spark: SparkSession, m: MergeIntoTable,
                           index: Int, db: String,
                           meta: MetadataProvider): LineageResult = {
    val target = fillDb(unresolvedName(m.targetTable).getOrElse(Eof), db)
    val targetAliases: Set[String] =
      (m.targetTable.collect { case SubqueryAlias(id, _) => id.name.toLowerCase } :+
        target.split(java.util.regex.Pattern.quote(SepDot)).last.toLowerCase).toSet
    val analyzedSrc = spark.sessionState.executePlan(m.sourceTable).analyzed
    val st = build(analyzedSrc, Map.empty, db)
    val srcByName: Map[String, Set[String]] = analyzedSrc.output.map { a =>
      a.name.toLowerCase -> st.src.getOrElse(a.exprId, Set.empty[String])
    }.toMap
    // Target columns (when the metadata provider knows the sink) let the
    // UNQUALIFIED-name case detect genuine ambiguity instead of silently
    // shadowing a same-named target column with the source's.
    val targetCols: Set[String] =
      meta.tableColumns(target).map(_.toLowerCase).toSet

    // A reference inside an action: alias-qualified target names map to
    // the target's own column; an unqualified (or source-qualified) name
    // matching a source output takes that output's LEAF lineage — and
    // when the same unqualified name ALSO exists on the target, BOTH
    // candidate edges are emitted (conservative union: a confident wrong
    // edge is worse than an extra one). A name on neither side falls
    // back to the target (MERGE scopes are only the two relations).
    def resolve(nameParts: Seq[String]): Set[String] = {
      val colL = nameParts.last.toLowerCase
      val qual = if (nameParts.size >= 2)
        Some(nameParts(nameParts.size - 2).toLowerCase) else None
      val asTarget = Set(s"$target$SepDot${nameParts.last}")
      if (qual.exists(targetAliases.contains)) asTarget
      else srcByName.get(colL) match {
        case Some(srcs) if qual.isEmpty && targetCols.contains(colL) =>
          srcs ++ asTarget
        case Some(srcs) => srcs
        case None => asTarget
      }
    }
    def refs(e: Expression): Set[String] =
      e.collect { case ua: UnresolvedAttribute => ua }
        .flatMap(ua => resolve(ua.nameParts)).toSet

    val mergeTag = s"MERGE:${m.mergeCondition.sql}"
    def whenTag(cond: Option[Expression]): Set[String] =
      cond.map(c => s"WHEN:${c.sql}").toSet

    def assignmentEdges(assigns: Seq[Assignment],
                        cond: Option[Expression]): Seq[ColLine] =
      assigns.map { a =>
        val dest = a.key.collectFirst {
          case ua: UnresolvedAttribute => ua.nameParts.last
        }.getOrElse(a.key.sql)
        ColLine(target, Some(s"$target$SepDot$dest"), dest,
          refs(a.value).toSeq.sorted.mkString(SepCol),
          Set(mergeTag) ++ whenTag(cond))
      }
    // `UPDATE SET *` / `INSERT *`: same-named source column per source
    // output column.
    def starEdges(cond: Option[Expression]): Seq[ColLine] =
      analyzedSrc.output.map { a =>
        ColLine(target, Some(s"$target$SepDot${a.name}"), a.name,
          srcByName.getOrElse(a.name.toLowerCase, Set.empty[String])
            .toSeq.sorted.mkString(SepCol),
          Set(mergeTag) ++ whenTag(cond))
      }

    val edges = (m.matchedActions ++ m.notMatchedActions ++
      m.notMatchedBySourceActions).flatMap {
      case ua: UpdateAction     => assignmentEdges(ua.assignments, ua.condition)
      case us: UpdateStarAction => starEdges(us.condition)
      case ia: InsertAction     => assignmentEdges(ia.assignments, ia.condition)
      case is: InsertStarAction => starEdges(is.condition)
      case _: DeleteAction      => Nil // row removal carries no column flow
      case _                    => Nil
    }
    // Subqueries in the ON condition or action expressions contribute
    // their tables (same gap as updateLineage — expression.collect does
    // not descend into subquery plans).
    val actionExprs = (m.matchedActions ++ m.notMatchedActions ++
      m.notMatchedBySourceActions).flatMap {
      case ua: UpdateAction => ua.assignments.map(_.value) ++ ua.condition
      case ia: InsertAction => ia.assignments.map(_.value) ++ ia.condition
      case a: MergeAction   => a.condition.toSeq
      case _                => Nil
    }
    val subInputs = (m.mergeCondition +: actionExprs).flatMap(
      _.collect { case s: SubqueryExpression => subqueryRelations(s, db) })
      .flatten.toSet
    // The target is both read (match scan) and written — unlike INSERT
    // sinks, which the reference keeps out of inputTables.
    LineageResult(index, Operation.Merge, st.inputs + target ++ subInputs,
      Set(target), edges)
  }

  /** DDL statements carry no column lineage; the reference records them
    * as `"<name>\t<OP>"` output entries (`LineParser.java:435-440`). */
  private def ddl(plan: LogicalPlan, op: Operation, index: Int, db: String): LineageResult = {
    val name = unresolvedName(plan).map(fillDb(_, db))
    LineageResult(index, op, Set.empty, name.map(n => s"$n\t${op.name}").toSet, Nil)
  }

  private def unresolvedName(plan: LogicalPlan): Option[String] =
    plan.collectFirst {
      case u: UnresolvedRelation     => u.multipartIdentifier.mkString(SepDot)
      case u: UnresolvedTableOrView  => u.multipartIdentifier.mkString(SepDot)
      case u: UnresolvedTable        => u.multipartIdentifier.mkString(SepDot)
      case u: UnresolvedIdentifier   => u.nameParts.mkString(SepDot)
    }

  /** Reference `fillDB` intent: qualify with the current db when the name
    * has no dot (`LineParser.java:770-788`; the `split(".")` regex defect
    * at `:113-115` is NOT replicated — SURVEY.md §2.1). */
  def fillDb(name: String, db: String = DefaultDb): String =
    if (name.contains(SepDot)) name else s"$db$SepDot$name"

  /** `fillDB` extended ONE level (VERDICT r15 #2): names resolve
    * two-part (`db.table`) inside the session catalog — default-
    * catalog parity, keeping the reference contract and the frozen
    * goldens — and THREE-part (`catalog.db.table`) when the relation
    * lives in another `CatalogPlugin`, where truncation would collide
    * same-named tables across catalogs. */
  private def threePart(catalog: Option[String], parts: Seq[String],
                        db: String): String = {
    // CatalogManager.SESSION_CATALOG_NAME (private[sql]) — the fixed
    // name of the default v2 session catalog
    val sessionCatalog = "spark_catalog"
    catalog.filter(_ != sessionCatalog) match {
      case Some(cat) => (cat +: parts).mkString(SepDot)
      case None => fillDb(parts.mkString(SepDot), db)
    }
  }

  /** Lineage results as a queryable Dataset (SURVEY.md §1.3: lineage
    * output is itself data) — rows ARE the published v1 contract
    * [[LineageEdge]] (its encoder derives the schema, so field
    * names/types cannot drift from the case class;
    * LineageEdgeSchema.Version tracks changes). */
  def toDataset(spark: SparkSession, results: Seq[LineageResult]) = {
    import spark.implicits._
    results.flatMap(r => r.colLines.map(c => LineageEdge(r.statementIndex,
      r.operation.name, c.tableName, c.colName.getOrElse(""), c.toName,
      c.fromName, c.conditionSet.toSeq.sorted.mkString("|"))))
      .toDF()
  }

  // ---------------------------------------------------------------------
  // Core extraction over the analyzed plan
  // ---------------------------------------------------------------------

  /** Bottom-up traversal state: exprId → leaf source columns, plus the
    * statement-scoped condition set (`LineParser.java:51`) and input
    * tables (`LineParser.java:54`). */
  private case class State(
      src: Map[ExprId, Set[String]],
      conds: Set[String],
      inputs: Set[String],
      // Generator (UDTF) provenance: an exprId here was PRODUCED by the
      // recorded function text (e.g. explode of an array column), so a
      // bare reference to it in the select list still carries a COLFUN
      // tag — the reference's E11 column-function intent extended to
      // UDTF output, where the function application happens in the
      // Generate node rather than the select item.
      funs: Map[ExprId, String] = Map.empty,
      // CONTROL dependencies (VERDICT r16 #3): condition tag → the leaf
      // source columns that condition READS. Filled by the Filter /
      // Join / watermark arms; emitted as CTRL:-tagged edges only when
      // the caller opts in (includeControl), so value-flow parity
      // output is untouched.
      ctrl: Map[String, Set[String]] = Map.empty) {
    def merge(o: State): State =
      State(src ++ o.src, conds ++ o.conds, inputs ++ o.inputs,
        funs ++ o.funs, mergeCtrl(ctrl, o.ctrl))
  }
  private object State { val empty: State = State(Map.empty, Set.empty, Set.empty) }

  private def mergeCtrl(a: Map[String, Set[String]],
                        b: Map[String, Set[String]]): Map[String, Set[String]] =
    (a.keySet ++ b.keySet).iterator.map(k =>
      k -> (a.getOrElse(k, Set.empty[String]) ++
        b.getOrElse(k, Set.empty[String]))).toMap

  private def extract(spark: SparkSession, query: LogicalPlan, sink: String,
                      op: Operation, index: Int, db: String,
                      meta: MetadataProvider,
                      explicitCols: Seq[String] = Nil,
                      includeControl: Boolean = false): LineageResult = {
    val analyzed = spark.sessionState.executePlan(query).analyzed
    val st = build(analyzed, Map.empty, db)

    // Destination columns by ordinal against the sink's real schema —
    // reference S10 (`LineParser.java:110-118,138-152`), via the session
    // catalog instead of JDBC metadata (SURVEY.md §3.3). An explicit
    // column list (`INSERT INTO t (b, a) SELECT ...`) overrides the
    // schema order: select items map to the NAMED columns by position —
    // the statement's own declaration beats the catalog's ordinal guess
    // (engine extension; the reference's ordinal-only zip predates the
    // column-list form).
    val sinkSchema: Seq[String] =
      if (sink == Eof) Nil
      else if (explicitCols.nonEmpty) explicitCols
      else meta.tableColumns(sink)

    val named = topNamed(analyzed)
    val edges = analyzed.output.zipWithIndex.map { case (attr, i) =>
      val sources = st.src.getOrElse(attr.exprId, Set.empty)
      // COLFUN: only when the select item is a real expression, not a bare
      // column — the reference's filterCondition (`LineParser.java:499-506`).
      val colFun = named.flatMap(_.lift(i)).collect {
        case Alias(child, _) if !child.isInstanceOf[AttributeReference] =>
          s"COLFUN:${child.sql}"
        // bare (or trivially re-aliased) reference to a UDTF output:
        // the function application lives in the Generate node
        case Alias(ar: AttributeReference, _) if st.funs.contains(ar.exprId) =>
          st.funs(ar.exprId)
        case ar: AttributeReference if st.funs.contains(ar.exprId) =>
          st.funs(ar.exprId)
      }
      ColLine(
        tableName = sink,
        colName = sinkSchema.lift(i).map(c => s"${fillDb(sink, db)}$SepDot$c"),
        toName = attr.name,
        fromName = sources.toSeq.sorted.mkString(SepCol),
        conditionSet = st.conds ++ colFun)
    }
    // CONTROL-dependency edges (VERDICT r16 #3, opt-in): a column read
    // only by a WHERE / JOIN-ON / WATERMARK condition still breaks
    // every output downstream when dropped — impact analysis over pure
    // value flow misses it (the reference records conditions as TAG
    // TEXT only; SURVEY E6 notes the divergence). One extra edge per
    // (condition site, output column), fromName = the columns that
    // condition reads, tagged `CTRL:<original tag>` so parity output
    // (the default) is byte-identical with the flag off. CASE-WHEN
    // condition columns need no CTRL twin here: the engine already
    // carries them as value sources (corpus 5's golden).
    val ctrlEdges =
      if (!includeControl) Nil
      else st.ctrl.toSeq.sortBy(_._1).flatMap { case (tag, cols) =>
        if (cols.isEmpty) Nil
        else analyzed.output.zipWithIndex.map { case (attr, i) =>
          ColLine(
            tableName = sink,
            colName = sinkSchema.lift(i).map(c => s"${fillDb(sink, db)}$SepDot$c"),
            toName = attr.name,
            fromName = cols.toSeq.sorted.mkString(SepCol),
            conditionSet = Set(s"CTRL:$tag"))
        }
      }
    val outs = if (sink == Eof) Set.empty[String] else Set(fillDb(sink, db))
    LineageResult(index, op, st.inputs, outs, edges ++ ctrlEdges)
  }

  /** The top select list, for COLFUN detection — descends through nodes
    * that keep the projection intact. */
  private def topNamed(plan: LogicalPlan): Option[Seq[NamedExpression]] = plan match {
    case p: Project     => Some(p.projectList)
    case a: Aggregate   => Some(a.aggregateExpressions)
    case s: Sort        => topNamed(s.child)
    case l: GlobalLimit => topNamed(l.child)
    case l: LocalLimit  => topNamed(l.child)
    case f: Filter      => topNamed(f.child)
    case d: Distinct    => topNamed(d.child)
    case s: SubqueryAlias => topNamed(s.child)
    case w: WithCTE     => topNamed(w.plan)
    case _              => None
  }

  /** One bottom-up fold replaces the reference's three-phase visitor and
    * all of its scope stacks (`LineParser.java:240-458`). `ctes` carries
    * CTE-definition lineage for `CTERelationRef` resolution.
    *
    * Subquery expressions (scalar / IN / EXISTS) hang off node
    * *expressions*, not children; their plans are traversed too so the
    * tables they read land in `inputTables` (the reference's DFS visits
    * them as ordinary TOK_TABREFs, `LineParser.java:347-367`). Their
    * column sources stay out of the edge map — like the reference, a
    * predicate subquery contributes a condition, not lineage edges. */
  private def build(plan: LogicalPlan, ctes: Map[Long, (State, Seq[Attribute])], db: String): State = {
    val st = buildNode(plan, ctes, db)
    val subPlans = plan.expressions.flatMap(_.collect {
      case s: SubqueryExpression => s.plan
    })
    subPlans.foldLeft(st) { (acc, p) =>
      acc.copy(inputs = acc.inputs ++ build(p, ctes, db).inputs)
    }
  }

  private def buildNode(plan: LogicalPlan, ctes: Map[Long, (State, Seq[Attribute])], db: String): State = plan match {

    case s: SubqueryAlias =>
      val st = build(s.child, ctes, db)
      // Leaf relations reach here with unmapped attributes: the nearest
      // enclosing alias names them (temp view name or FROM alias) —
      // reference alias registration (`LineParser.java:364-367`).
      val unnamed = s.child.output.filterNot(a => st.src.contains(a.exprId))
      if (unnamed.isEmpty) st
      else {
        val table = fillDb(s.identifier.name, db)
        st.copy(
          src = st.src ++ unnamed.map(a => a.exprId -> Set(s"$table$SepDot${a.name}")),
          inputs = st.inputs + table)
      }

    case v: View => build(v.child, ctes, db)

    case lr: LogicalRelation if lr.catalogTable.isDefined =>
      // db.table for the SESSION catalog — the reference's two-part
      // name encoding (`fillDB`, LineParser.java:770-788); the
      // `spark_catalog.` prefix `identifier.unquotedString` would add
      // is dropped so the frozen goldens (and the reference contract)
      // hold. A table from a NON-default catalog keeps its catalog
      // prefix (VERDICT r15 #2): on a multi-catalog lakehouse,
      // `spark_catalog.default.t` and `iceberg.default.t` must not
      // collide after truncation.
      val id = lr.catalogTable.get.identifier
      val table = threePart(id.catalog, id.database.toSeq :+ id.table, db)
      State(lr.output.map(a => a.exprId -> Set(s"$table$SepDot${a.name}")).toMap,
        Set.empty, Set(table))

    // V2 catalog scans (Iceberg/Delta/any CatalogPlugin): same encoding
    // rule — two-part under the session catalog, catalog-qualified
    // elsewhere. Without this arm a v2 table fell through to the
    // SubqueryAlias fallback, which names only the alias's LAST part
    // and would mis-file `testcat.ns1.t` as `default.t`.
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        if r.identifier.isDefined =>
      val id = r.identifier.get
      val table = threePart(r.catalog.map(_.name()),
        id.namespace.toSeq :+ id.name, db)
      State(r.output.map(a => a.exprId -> Set(s"$table$SepDot${a.name}")).toMap,
        Set.empty, Set(table))

    // STREAMING leaves (engine extension, VERDICT r14 #6): a
    // `readStream` source is an input table like any scan, encoded
    // under the reserved `stream` qualifier — a stream has no catalog
    // db, so the two-part name convention is kept as
    // `stream.<source>[<path>]`. Attribute mapping is identical to
    // LogicalRelation's, so the rest of the fold (projections, joins,
    // windows) needs nothing streaming-specific.
    case s: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
      // file sources self-describe as `FileSource[<path>]` — only
      // append the path for sources that don't already carry it
      val path = s.dataSource.options.get("path")
        .filterNot(p => s.sourceName.contains(p))
        .map(p => s"[$p]").getOrElse("")
      val table = s"stream$SepDot${s.sourceName}$path"
      State(s.output.map(a => a.exprId -> Set(s"$table$SepDot${a.name}")).toMap,
        Set.empty, Set(table))

    case s: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 =>
      // prefer the catalog identifier when the v2 source has one
      // (e.g. a real streaming table); fall back to the source name
      val name = s.identifier.map(_.toString).getOrElse(s.sourceName)
      val table = s"stream$SepDot$name"
      State(s.output.map(a => a.exprId -> Set(s"$table$SepDot${a.name}")).toMap,
        Set.empty, Set(table))

    // A watermark is an ANNOTATION, not column flow: it reads the
    // event-time column to bound state/lateness, so it joins the
    // statement-scoped condition set (the WHERE-tag convention applied
    // to the one streaming-only plan node) while the child's attribute
    // map passes through untouched.
    case w: EventTimeWatermark =>
      val st = build(w.child, ctes, db)
      val tag = s"WATERMARK:${w.eventTime.name} DELAY ${w.delay}"
      st.copy(conds = st.conds + tag,
        ctrl = mergeCtrl(st.ctrl,
          Map(tag -> st.src.getOrElse(w.eventTime.exprId, Set.empty))))

    case p: Project   => withNamed(build(p.child, ctes, db), p.projectList, ctes, db)

    // PIVOT provenance (stretch, r12 verdict item 8): ResolvePivot
    // lowers PIVOT to Aggregate(pivotfirst(key, <first-phase agg
    // attr>, values...)) over the first-phase Aggregate, then wide
    // columns extract array elements above. Tag the pivot array
    // output with the ORIGINAL aggregate's text (looked up in the
    // first-phase Aggregate by exprId) so every wide column carries
    // `COLFUN:count(n_nationkey)` — the reference's select-side
    // condition convention (§2.2 step 3, `LineParser.java:499-506`)
    // applied to the function the pivot actually computes, not the
    // internal pivotfirst plumbing.
    case a: Aggregate =>
      val childSt = build(a.child, ctes, db)
      val pivotFuns = a.aggregateExpressions.flatMap {
        case al: Alias => al.child match {
          case ae: AggregateExpression => ae.aggregateFunction match {
            case pf: PivotFirst =>
              // Render without Catalyst's internal subquery qualifier
              // (`__auto_generated_subquery_name.x` is plumbing the
              // user never wrote, unlike a real FROM alias).
              def colFunOf(e: Expression): String = "COLFUN:" + e.transform {
                case ar: AttributeReference
                    if ar.qualifier.exists(_.startsWith("__auto_generated")) =>
                  ar.withQualifier(
                    ar.qualifier.filterNot(_.startsWith("__auto_generated")))
              }.sql
              val tag = pf.valueColumn match {
                case ar: AttributeReference =>
                  a.child.collect { case inner: Aggregate =>
                    inner.aggregateExpressions.collectFirst {
                      case ia: Alias if ia.exprId == ar.exprId =>
                        colFunOf(ia.child)
                    }
                  }.flatten.headOption
                case other => Some(colFunOf(other))
              }
              tag.map(al.exprId -> _)
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
      withNamed(childSt.copy(funs = childSt.funs ++ pivotFuns),
        a.aggregateExpressions, ctes, db)

    case w: Window    => withNamed(build(w.child, ctes, db), w.windowExpressions, ctes, db)

    case g: Generate =>
      val st = build(g.child, ctes, db)
      val srcs = refsOf(g.generator, st, ctes, db)
      st.copy(
        src = st.src ++ g.generatorOutput.map(a => a.exprId -> srcs),
        funs = st.funs ++ g.generatorOutput.map(a =>
          a.exprId -> s"COLFUN:${g.generator.sql}"))

    // Expand is the analyzer's multi-projection fan-out: GROUPING
    // SETS/CUBE/ROLLUP and UNPIVOT all lower to it. Each output
    // position unions the sources of that position across ALL
    // projections — for UNPIVOT that makes the value column's sources
    // the union of every unpivoted measure (goldens in LineageSpec);
    // the label column references only literals, so it elides (E14).
    case e: Expand =>
      val st = build(e.child, ctes, db)
      val m = e.output.zipWithIndex.map { case (a, i) =>
        a.exprId -> e.projections.flatMap(p => refsOf(p(i), st, ctes, db)).toSet
      }
      st.copy(src = st.src ++ m)

    case f: Filter =>
      val st = build(f.child, ctes, db)
      val tag = s"WHERE:${condSql(f.condition, ctes, db)}"
      st.copy(conds = st.conds + tag,
        ctrl = mergeCtrl(st.ctrl,
          Map(tag -> refsOf(f.condition, st, ctes, db))))

    case j: Join =>
      val merged = build(j.left, ctes, db).merge(build(j.right, ctes, db))
      j.condition.fold(merged) { c =>
        val tag = s"${joinTag(j.joinType)}:${condSql(c, ctes, db)}"
        merged.copy(conds = merged.conds + tag,
          ctrl = mergeCtrl(merged.ctrl,
            Map(tag -> refsOf(c, merged, ctes, db))))
      }

    // Positional union fold — reference `LineParser.java:203-232` with the
    // *intended* semantics: output position i merges every branch's
    // position-i sources. Branch source strings are `&`-joined (the
    // reference's union-merge encoding, `getSubQueryTable`
    // `LineParser.java:540-542`, `common/Constants.java:6`), while `,`
    // stays reserved for multiple columns within one expression.
    case u: Union =>
      val states = u.children.map(build(_, ctes, db))
      val merged = states.reduce(_ merge _)
      val m = u.output.zipWithIndex.map { case (a, i) =>
        val branchStrs = u.children.zip(states).map { case (c, s) =>
          s.src.getOrElse(c.output(i).exprId, Set.empty)
            .toSeq.sorted.mkString(SepCol)
        }.filter(_.nonEmpty).distinct
        val unit = branchStrs.mkString(SepAnd)
        a.exprId -> (if (unit.isEmpty) Set.empty[String] else Set(unit))
      }
      merged.copy(src = merged.src ++ m)

    // INTERSECT keeps only rows present in BOTH branches, so each
    // output column's values come from both branches' position-i
    // columns — the same positional fold (and `&` encoding) as UNION.
    // EXCEPT deliberately stays on the default path: its result rows
    // come from the LEFT branch only (the right side filters, it never
    // contributes values), so left-attribute mapping is already right.
    case i: Intersect =>
      val states = i.children.map(build(_, ctes, db))
      val merged = states.reduce(_ merge _)
      val m = i.output.zipWithIndex.map { case (a, pos) =>
        val branchStrs = i.children.zip(states).map { case (c, s) =>
          s.src.getOrElse(c.output(pos).exprId, Set.empty)
            .toSeq.sorted.mkString(SepCol)
        }.filter(_.nonEmpty).distinct
        val unit = branchStrs.mkString(SepAnd)
        a.exprId -> (if (unit.isEmpty) Set.empty[String] else Set(unit))
      }
      merged.copy(src = merged.src ++ m)

    case w: WithCTE =>
      // cteDefs arrive in DEPENDENCY order and may reference EARLIER
      // siblings (the analyzer hoists a nested `WITH a AS (WITH b …)`
      // into one WithCTE) — each definition must build with every
      // preceding definition already in scope, or the inner reference
      // dead-ends and the intermediate CTE's NAME leaks into the
      // edges as if it were a base table (caught by the r18 fuzz).
      val defs = w.cteDefs.foldLeft(ctes) { (acc, d) =>
        acc + (d.id -> (build(d.child, acc, db), d.child.output))
      }
      build(w.plan, defs, db)

    case r: CTERelationRef =>
      ctes.get(r.cteId).map { case (defState, defOut) =>
        val m = r.output.zip(defOut).map { case (a, d) =>
          a.exprId -> defState.src.getOrElse(d.exprId, Set.empty)
        }
        // UDTF provenance must cross the ref's fresh exprIds too, or a
        // CTE-wrapped explode loses its COLFUN tag while the inline
        // form of the same query keeps it (r8 review).
        val fm = r.output.zip(defOut).flatMap { case (a, d) =>
          defState.funs.get(d.exprId).map(a.exprId -> _)
        }
        defState.copy(src = defState.src ++ m, funs = defState.funs ++ fm)
      }.getOrElse(State.empty)

    // TYPED/OPAQUE plan boundaries (VERDICT r15 #1): Dataset operations
    // like groupByKey().mapGroups / flatMapGroupsWithState /
    // transformWithState pass through object-typed nodes
    // (DeserializeToObject → <func node> → SerializeFromObject) whose
    // Scala closure the plan cannot see into. The reference's stance for
    // opaque functions (E10, `LineParser.java:669-687`) lifted to typed
    // plans: every attribute the node PRODUCES gets the union of ALL
    // child output sources (pass-through attributes keep their precise
    // mapping), and each closure-carrying node joins the condition set
    // as `FUNC:<node>` — conservative all-inputs, never silently lossy.
    // Encoder plumbing (Serialize/DeserializeToObject) moves values
    // without a user function, so it propagates sources but adds no tag.
    case o @ (_: ObjectProducer | _: ObjectConsumer | _: AppendColumns |
              _: TypedFilter) =>
      val st = o.children.map(build(_, ctes, db))
        .foldLeft(State.empty)(_ merge _)
      val childSrcs = o.children.flatMap(_.output)
        .flatMap(a => st.src.getOrElse(a.exprId, Set.empty[String])).toSet
      val produced = o.output.filterNot(a => st.src.contains(a.exprId))
      val plumbing = o.isInstanceOf[SerializeFromObject] ||
        o.isInstanceOf[DeserializeToObject]
      st.copy(
        src = st.src ++ produced.map(a => a.exprId -> childSrcs),
        conds = if (plumbing) st.conds
                else st.conds + s"FUNC:${o.nodeName}")

    case _: LeafNode => State.empty

    case other =>
      other.children.map(build(_, ctes, db)).foldLeft(State.empty)(_ merge _)
  }

  private def withNamed(st: State, named: Seq[NamedExpression],
                        ctes: Map[Long, (State, Seq[Attribute])],
                        db: String): State = {
    // An alias that merely EXTRACTS from (or re-names) a funs-tagged
    // attribute inherits the tag: the function application happened in
    // the node that produced the attribute — the Generate rule's
    // rationale, extended to PIVOT's `__pivot_agg[i] AS wide` Projects
    // (same propagation the CTE arm already applies to definitions).
    val fm = named.flatMap {
      case al: Alias => extractedFun(al.child, st.funs).map(al.exprId -> _)
      case _ => None
    }
    st.copy(
      src = st.src ++ named.map(ne => ne.exprId -> refsOf(ne, st, ctes, db)),
      funs = st.funs ++ fm)
  }

  /** The tag of a funs-tagged attribute reached through an
    * extraction/cast-only chain — anything else computes a NEW value
    * and does not inherit (the top-level COLFUN rule will render that
    * expression's own sql instead). */
  private def extractedFun(e: Expression,
                           funs: Map[ExprId, String]): Option[String] =
    e match {
      case ar: AttributeReference => funs.get(ar.exprId)
      case g: GetArrayItem => extractedFun(g.child, funs)
      case g: GetStructField => extractedFun(g.child, funs)
      case g: GetMapValue => extractedFun(g.child, funs)
      case c: Cast => extractedFun(c.child, funs)
      case _ => None
    }

  /** Condition text. `Expression.sql` renders subquery expressions as
    * opaque `listquery()`/`scalarsubquery()`/`exists()` markers; those
    * are rewritten to `subquery(<input tables>)` so the condition string
    * names what the subquery reads (the reference prints the raw
    * subquery text, which Catalyst does not retain). */
  private def condSql(cond: Expression,
                      ctes: Map[Long, (State, Seq[Attribute])],
                      db: String): String = {
    val subs = cond.collect { case s: SubqueryExpression => s }
    subs.foldLeft(cond.sql) { (sql, s) =>
      val tables = build(s.plan, ctes, db).inputs.toSeq.sorted.mkString(SepAnd)
      sql.replaceFirst("(listquery|scalarsubquery|exists)\\(\\)",
        java.util.regex.Matcher.quoteReplacement(s"subquery($tables)"))
    }
  }

  /** All argument references contribute (intent of reference E9/E10;
    * the first-arg-only rule at `LineParser.java:669-687` is a defect).
    * Literals have no references, so literal elision
    * (`LineParser.java:508-525`) is free. */
  /** Leaf sources of an expression. A SCALAR subquery in a select item
    * produces the item's VALUE, so its result column's sources flow
    * through (corpus 31) — unlike predicate subqueries (IN/EXISTS,
    * corpus 23), which contribute a condition but no edges, matching
    * the reference's treatment (`LineParser.java:347-367`). */
  private def refsOf(e: Expression, st: State,
                     ctes: Map[Long, (State, Seq[Attribute])],
                     db: String): Set[String] = {
    val direct =
      e.references.iterator.flatMap(r => st.src.getOrElse(r.exprId, Set.empty)).toSet
    val scalar = e.collect {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
        val sub = build(s.plan, ctes, db)
        s.plan.output.headOption
          .map(a => sub.src.getOrElse(a.exprId, Set.empty))
          .getOrElse(Set.empty[String])
    }.flatten.toSet
    direct ++ scalar
  }

  /** Condition tags — reference token text minus `TOK_`
    * (`LineParser.java:449-453`): JOIN, LEFTOUTERJOIN, ... */
  private def joinTag(jt: JoinType): String = jt match {
    case Inner       => "JOIN"
    case LeftOuter   => "LEFTOUTERJOIN"
    case RightOuter  => "RIGHTOUTERJOIN"
    case FullOuter   => "FULLOUTERJOIN"
    case LeftSemi    => "LEFTSEMIJOIN"
    case LeftAnti    => "LEFTANTIJOIN"
    case Cross       => "CROSSJOIN"
    case other       => other.sql.replace(" ", "") + "JOIN"
  }
}
