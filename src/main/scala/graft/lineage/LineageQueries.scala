package graft.lineage

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The lineage capability exposed as an oracle-checkable query
  * (FIXTURES.md §A): run the extractor over a fixed SQL corpus — one
  * statement per SURVEY.md §2 construct — and return the edges as rows.
  * The oracle is an inline `VALUES` golden (lineage depends only on the
  * corpus and the fixture schemas, never on the scale factor), so the
  * driver's DuckDB compare hash-checks the lineage engine itself.
  */
object LineageQueries {

  /** One statement per §2 construct, over the fixture schema. Order is
    * frozen: statement index is part of the golden. */
  val corpus: Seq[String] = Seq(
    // 1  S3/§2.2/§2.3: scan + filter + project
    "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 0",
    // 2  §2.4 inner join + ON tag + WHERE tag + aliases
    "SELECT c.c_name, o.o_totalprice FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey WHERE o.o_totalprice > 1000.0",
    // 3  §2.4 left outer join
    "SELECT n.n_name, r.r_name FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey",
    // 4  §2.5/E5: distinct aggregate (COLFUN tag)
    "SELECT count(DISTINCT o_custkey) AS buyer_count FROM orders",
    // 5  E6: CASE WHEN — sources from both branches (reference getWhenColumn)
    "SELECT CASE WHEN o_totalprice > 100.0 THEN o_orderstatus ELSE o_orderpriority END AS cls FROM orders",
    // 6  E7/E8: IN + IS NOT NULL in WHERE
    "SELECT o_orderkey FROM orders WHERE o_orderstatus IN ('F', 'O') AND o_orderpriority IS NOT NULL",
    // 7  E9: multi-argument functions — all arguments are sources
    "SELECT concat(c_name, c_mktsegment) AS tag FROM customer",
    // 8  E11: array subscript — source is the base column
    "SELECT embedding[0] AS e0 FROM embeddings",
    // 9  §2.2 star expansion (analyzer-expanded)
    "SELECT * FROM region",
    // 10 §2.7 subquery alias over a multi-table FROM — chased to real tables
    "SELECT x.k FROM (SELECT n_nationkey AS k FROM nation JOIN region ON n_regionkey = r_regionkey) x WHERE x.k > 3",
    // 11 §2.6 positional union — branch sources merged per ordinal
    "SELECT c_custkey AS id FROM customer UNION ALL SELECT s_suppkey AS id FROM supplier",
    // 12 E14: literal elision — literal-only items have empty sources
    "SELECT n_name, 123 AS num, 'x' AS str FROM nation",
    // 13 CTE (engine extension beyond the reference — SURVEY.md §2.8 note)
    "WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 500.0) SELECT b.o_custkey FROM big b",
    // 14 S4/S10: INSERT sink + destination columns by ordinal
    "INSERT INTO lineage_target SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1",
    // 15 §2.4: RIGHT OUTER join tag
    "SELECT s.s_name, n.n_name FROM supplier s RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey",
    // 16 §2.4: FULL OUTER join tag
    "SELECT c.c_name FROM customer c FULL JOIN nation n ON c.c_nationkey = n.n_nationkey",
    // 17 §2.4: LEFT SEMI join tag
    "SELECT c_name FROM customer LEFT SEMI JOIN orders ON c_custkey = o_custkey",
    // 18 UDTF/Generate (engine extension): explode via LATERAL VIEW
    "SELECT doc_id, tok FROM documents LATERAL VIEW explode(split(text, ' ')) t AS tok",
    // 19 Window function lineage (engine extension)
    "SELECT o_orderkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rn FROM orders",
    // 20 E3/E4: arithmetic + bitwise expressions as COLFUN
    "SELECT o_orderkey + 1 AS k1, o_orderkey & 255 AS k2 FROM orders",
    // 21 S4: INSERT OVERWRITE sink
    "INSERT OVERWRITE TABLE lineage_target SELECT n_nationkey, n_name FROM nation",
    // 22 E2/E8: IS NULL + LIKE in WHERE
    "SELECT o_orderkey FROM orders WHERE o_orderstatus IS NULL OR o_orderpriority LIKE '1%'",
    // 23 predicate subquery (§2.7 note): subquery tables join inputTables,
    // the IN-subquery itself is part of the WHERE condition string
    "SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')",
    // 24 S4: Hive multi-insert — one FROM, two sinks (LineParser.java:300-304)
    "FROM nation INSERT INTO lineage_target SELECT n_nationkey, n_name WHERE n_regionkey = 2 INSERT INTO lineage_target2 SELECT n_regionkey, n_name",
    // 25 §2.6: three-branch positional union (nested `&`-composite)
    "SELECT c_custkey AS id FROM customer UNION ALL SELECT s_suppkey AS id FROM supplier UNION ALL SELECT n_nationkey AS id FROM nation",
    // 26 S5: CTAS sink (analyzed, never executed)
    "CREATE TABLE lineage_ctas AS SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3",
    // 27 §2.5 + E6: aggregate over CASE with HAVING (engine extension)
    "SELECT o_orderstatus, sum(CASE WHEN o_totalprice > 100.0 THEN o_totalprice ELSE 0.0 END) AS big_total FROM orders GROUP BY o_orderstatus HAVING count(1) > 5",
    // 28 §2.4: CROSS join tag (LineageParser.joinTag handles Cross;
    // until round 5 no corpus statement exercised it)
    "SELECT n_name, r_name FROM nation CROSS JOIN region",
    // 29 §2.4: LEFT ANTI join tag — sources only from the left side
    "SELECT c_name FROM customer LEFT ANTI JOIN orders ON c_custkey = o_custkey",
    // 30 §2.7: SELF-join with aliases — the analyzer deduplicates the
    // second scan's exprIds; both sides must still resolve to
    // default.nation (the same trap the native as-of join hit)
    "SELECT a.n_name, b.n_name AS other FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey",
    // 31 scalar subquery in the SELECT list (engine extension): the
    // subquery's table contributes through the COLFUN expression
    "SELECT o_orderkey, (SELECT max(c_custkey) FROM customer) AS max_cust FROM orders",
    // 32 §2.6: UNION DISTINCT — positional fold through the Distinct
    "SELECT n_regionkey AS k FROM nation UNION SELECT r_regionkey AS k FROM region",
    // 33 ORDER BY + LIMIT (engine extension): presentation operators
    // must not add or drop lineage
    "SELECT c_name FROM customer ORDER BY c_acctbal DESC LIMIT 5",
    // 34 S4/S10: INSERT with a STATIC partition spec — the Hive
    // warehouse shape. Query columns zip against the sink's DATA
    // columns by ordinal; the partition column's value comes from the
    // spec (a constant), so it carries no source edge.
    "INSERT INTO lineage_part PARTITION (dt='2024-01-15') SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 3",
    // 35 §2.7: query THROUGH a view — lineage must chase the view
    // definition down to the base table (the view adds no edges of its
    // own; its filter joins the statement's condition set)
    "SELECT v_name FROM lineage_view WHERE v_key > 2",
    // 36 lakehouse DML (engine extension): UPDATE — self-edges per
    // assignment with the WHERE tag; analyzes against no table (v2-only
    // statement), so lineage reads the unresolved plan
    "UPDATE lineage_target SET tgt_name = concat(tgt_name, '!') WHERE tgt_key < 5",
    // 37 lakehouse DML (engine extension): MERGE — the source subquery
    // goes through the analyzer (s.nm chases to nation.n_name); every
    // edge carries the MERGE:<on> tag
    "MERGE INTO lineage_target t USING (SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_regionkey = 1) s ON t.tgt_key = s.k WHEN MATCHED THEN UPDATE SET tgt_name = s.nm WHEN NOT MATCHED THEN INSERT (tgt_key, tgt_name) VALUES (s.k, s.nm)",
    // 38 the reference's own end-to-end smoke fixture, VERBATIM
    // (`LineParser.java:794-805`): static-partition INSERT OVERWRITE +
    // star-through-alias + TABLESAMPLE (BUCKET x OUT OF y) + partition
    // predicate. Every ingredient is covered individually elsewhere;
    // this pins the exact statement the reference ships.
    "INSERT OVERWRITE TABLE dest1 partition (ds = '111')  SELECT s.* FROM srcpart TABLESAMPLE (BUCKET 1 OUT OF 1) s WHERE s.ds='2008-04-08' and s.hr='11'",
    // 39 §2.6 extension: INTERSECT — both branches feed values, so the
    // positional fold `&`-joins them like UNION (EXCEPT stays
    // left-only; spec-pinned rather than corpus-pinned)
    "SELECT n_regionkey AS k FROM nation INTERSECT SELECT r_regionkey FROM region",
    // 40 S5 extension: CREATE OR REPLACE TABLE AS SELECT — CTAS
    // lineage, not the "Replace*" ALTER heuristic
    "CREATE OR REPLACE TABLE lineage_rtas AS SELECT n_name FROM nation WHERE n_regionkey = 1",
    // 41 THREE-PART catalog names (VERDICT r15 #2): a scan from a
    // non-default catalog keeps its catalog prefix — on a lakehouse,
    // `spark_catalog.default.t` and `testcat.ns1.t` must not collide
    // after truncation (reference relationship: `fillDB`'s default-db
    // rule, LineParser.java:770-788, extended one level)
    "SELECT d_key, d_name FROM testcat.ns1.cat_docs WHERE d_key > 1",
    // 42 INSERT with a three-part sink: destination columns still zip
    // by ordinal against the sink schema, resolved through the same
    // session-catalog metadata provider (spark.table handles the
    // multi-part name)
    "INSERT INTO testcat.ns1.cat_sink SELECT d_key, d_name FROM testcat.ns1.cat_docs",
    // 43 mixed catalogs in one statement: the session-catalog side
    // stays two-part, the second catalog three-part, under one JOIN tag
    "SELECT n.n_name, x.d_name FROM nation n JOIN testcat.ns1.cat_docs x ON n.n_nationkey = x.d_key"
  )

  /** Register every fixture the corpus references (tables, sinks, the
    * partitioned table, the view) — shared by [[edges]] and the specs
    * that re-parse corpus statements. */
  def registerFixtures(spark: SparkSession, dir: String): Unit = {
    Tables.registerAll(spark, dir)
    // Sink with a schema differing from the select list, to exercise the
    // reference's ordinal zip (S10).
    spark.table("nation")
      .selectExpr("n_nationkey AS tgt_key", "n_name AS tgt_name").limit(0)
      .createOrReplaceTempView("lineage_target")
    spark.table("nation")
      .selectExpr("n_regionkey AS tgt2_region", "n_name AS tgt2_name").limit(0)
      .createOrReplaceTempView("lineage_target2")
    // Real partitioned catalog table for the PARTITION-spec statement
    // (34): partition specs need a partitioned sink, which a temp view
    // cannot be. Analyzed only, never written.
    spark.sql("DROP TABLE IF EXISTS lineage_part")
    spark.sql("""CREATE TABLE lineage_part (part_key BIGINT, part_name STRING)
                 USING parquet PARTITIONED BY (dt STRING)""")
    // View for statement 35 — lineage must resolve through it.
    spark.sql("""CREATE OR REPLACE TEMP VIEW lineage_view AS
                 SELECT n_nationkey AS v_key, n_name AS v_name
                 FROM nation WHERE n_regionkey < 4""")
    // Hive-classic srcpart/dest1 pair for the reference's verbatim smoke
    // statement (38): srcpart's s.* expands to 4 columns (data +
    // partition), which zip against dest1's 4 DATA columns by ordinal.
    spark.sql("DROP TABLE IF EXISTS srcpart")
    spark.sql("""CREATE TABLE srcpart (key STRING, value STRING)
                 USING parquet PARTITIONED BY (ds STRING, hr STRING)""")
    spark.sql("DROP TABLE IF EXISTS dest1")
    spark.sql("""CREATE TABLE dest1 (d_key STRING, d_value STRING,
                                     d_ds STRING, d_hr STRING)
                 USING parquet PARTITIONED BY (ds STRING)""")
    // Second catalog for the three-part statements (41-43): the
    // schema-only in-memory CatalogPlugin — lineage analyzes, never
    // reads, so empty tables are the honest fixture. IF NOT EXISTS
    // keeps re-registration idempotent (the catalog instance lives for
    // the session once the conf is set).
    spark.conf.set("spark.sql.catalog.testcat",
      classOf[graft.sources.MemoryCatalog].getName)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS testcat.ns1")
    spark.sql("""CREATE TABLE IF NOT EXISTS testcat.ns1.cat_docs
                 (d_key BIGINT, d_name STRING)""")
    spark.sql("""CREATE TABLE IF NOT EXISTS testcat.ns1.cat_sink
                 (s_key BIGINT, s_name STRING)""")
  }

  /** Statement-LEVEL operations corpus: the session/DDL constructs whose
    * lineage is an operation plus table sets rather than column edges
    * (SURVEY §2.1 S1, S2, S6–S9). Runs through the MULTI-statement
    * [[LineageParser.parse]] so what's actually under test is the
    * `;`-splitter (statement 8 carries an escaped `\;` inside a string
    * literal — one statement, not two) and USE-db threading (statements
    * after 1 must qualify unqualified names with `graftdb`, including
    * the INSERT's sink). */
  val opsCorpus: String = Seq(
    // 1  S2: USE switches the default database for everything below
    "USE graftdb",
    // 2  unqualified scan must resolve under graftdb
    "SELECT n_nationkey FROM nation WHERE n_regionkey = 0",
    // 3  S6: DROP records "<name>\tDROP"
    "DROP TABLE lineage_target",
    // 4  S7: TRUNCATE
    "TRUNCATE TABLE lineage_target",
    // 5  S8: LOAD DATA
    "LOAD DATA INPATH '/tmp/graft_load' INTO TABLE lineage_target",
    // 6  S9: ALTER (ADD COLUMNS form)
    "ALTER TABLE lineage_target ADD COLUMNS (extra STRING)",
    // 7  S9: ALTER (RENAME form)
    "ALTER TABLE lineage_target RENAME TO lineage_target2",
    // 8  S1: the escaped \; must NOT split this statement
    "SELECT 'a\\;b' AS marker FROM nation",
    // 9  S4 under USE: both sink and source qualify with graftdb
    "INSERT INTO lineage_target SELECT n_nationkey, n_name FROM nation"
  ).mkString(";\n")

  /** [[opsCorpus]] results as rows: (stmt, operation, input_tables,
    * output_tables), table sets sorted and `&`-joined. */
  def operations(spark: SparkSession, dir: String): DataFrame = {
    registerFixtures(spark, dir)
    val rows = LineageParser.parse(spark, opsCorpus).map { r =>
      (r.statementIndex, r.operation.name,
        r.inputTables.toSeq.sorted.mkString("&"),
        r.outputTables.toSeq.sorted.mkString("&"))
    }
    spark.createDataFrame(rows)
      .toDF("stmt", "operation", "input_tables", "output_tables")
      .orderBy("stmt")
  }

  /** Parse the corpus and flatten edges to rows. Pure metadata work — no
    * table data is scanned; at cluster scale this runs on the driver in
    * milliseconds per statement (BASELINE.md target ≤50 ms/stmt). */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    registerFixtures(spark, dir)
    val rows = corpus.zipWithIndex.flatMap { case (sql, i) =>
      LineageParser.parseStatement(spark, sql, i + 1).colLines.map { cl =>
        (i + 1, cl.tableName, cl.colName.getOrElse(""), cl.toName,
          cl.fromName, cl.conditionSet.toSeq.sorted.mkString("|"))
      }
    }
    spark.createDataFrame(rows)
      .toDF("stmt", "table_name", "col_name", "to_name", "from_name", "conditions")
      // the full key: (stmt, to_name, from_name) TIES for multi-sink
      // statements (24's two INSERTs both write n_name from the same
      // source), and an ambiguous ORDER BY breaks differently across
      // engines once the row count shifts their sort paths
      .orderBy("stmt", "to_name", "from_name", "table_name", "col_name")
  }

  /** STREAMING-plan lineage corpus (q270): [[LineageParser.fromDataFrame]]
    * over fixed `readStream` shapes — the streaming entry point as an
    * oracle-checked query. Shapes are built on MemoryStream so no file
    * path (environment-dependent string) enters the edges, and NOTHING
    * ever runs: lineage reads analyzed plans only, so the query costs
    * milliseconds. One shape per streaming construct: filter/select,
    * watermark + windowed aggregate, stream-static join, union of two
    * streams. */
  def streamingEdges(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    registerFixtures(spark, dir)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def events = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, String, Double)]
      .toDF().toDF("ts", "user_id", "event_type", "value")
    val shapes: Seq[DataFrame] = Seq(
      // 1 filter + select
      events.filter(col("event_type") === "click")
        .select(col("user_id"), col("value")),
      // 2 watermark + tumbling-window aggregate (the q66 shape)
      events.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("n")),
      // 3 stream-static join against a catalog table
      events.join(spark.table("nation"),
          col("user_id") === col("n_nationkey"))
        .select(col("value"), col("n_name")),
      // 4 union of two streams (positional fold, `&` encoding —
      // branches read different source columns so they don't collapse)
      events.select(col("user_id").as("id"))
        .unionAll(events.select(col("value").cast("long").as("id"))))
    val results = shapes.zipWithIndex.map { case (df, i) =>
      LineageParser.fromDataFrame(df, i + 1)
    } :+
      // 5 write-side: forWrite on a STREAMING frame — the S10 ordinal
      // zip against the sink's schema works unchanged (the fold never
      // cared that the plan streams), so a writeStream.toTable
      // pipeline gets destination-column edges before the write runs
      LineageParser.forWrite(
        events.select(col("user_id"), col("event_type")),
        "lineage_target", index = 5)
    val rows = results.flatMap { r =>
      r.colLines.map { cl =>
        (r.statementIndex, cl.tableName, cl.colName.getOrElse(""),
          cl.toName, cl.fromName,
          cl.conditionSet.toSeq.sorted.mkString("|"))
      }
    }
    spark.createDataFrame(rows)
      .toDF("stmt", "table_name", "col_name", "to_name", "from_name",
        "conditions")
      .orderBy("stmt", "to_name", "from_name")
  }

  /** TYPED-boundary lineage corpus (q272, VERDICT r15 #1):
    * [[LineageParser.fromDataFrame]] over the engine's OWN stateful
    * streaming twins — pipelines whose plans pass through
    * `AppendColumns`/`TransformWithState`/`SerializeFromObject` (every
    * `groupByKey().transformWithState(...)` does). The conservative
    * opaque-function contract must carry the `stream.<source>` leaves
    * through the typed boundary: each output column sources from ALL
    * stream inputs (the closure could read any of them), and each
    * closure-carrying node tags the condition set `FUNC:<node>`.
    * MemoryStream-based like [[streamingEdges]], so no paths enter the
    * golden and nothing executes. */
  def typedEdges(spark: SparkSession, dir: String): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // 1 per-key transitions twin: groupByKey + transformWithState
    val events =
      MemoryStream[graft.streaming.EventStreams.EventTyped].toDS()
    val transitions = graft.streaming.EventStreams
      .transitions(spark, events)
    // 2 the near-dup gate: banded signatures (stateless projections)
    //   feeding the stateful bucket fold
    val docs = MemoryStream[(Long, String)].toDF()
      .toDF("doc_id", "text")
    val banded = graft.streaming.DocStreams.bandedSignatures(
      docs, "doc_id", "text", 24, 4, 6)
    val gate = graft.streaming.DocStreams.nearDupGate(
      spark, banded, k = 24, minAgree = 12)
    val results = Seq(transitions.toDF(), gate.toDF()).zipWithIndex
      .map { case (df, i) => LineageParser.fromDataFrame(df, i + 1) }
    val rows = results.flatMap { r =>
      r.colLines.map { cl =>
        (r.statementIndex, cl.tableName, cl.colName.getOrElse(""),
          cl.toName, cl.fromName,
          cl.conditionSet.toSeq.sorted.mkString("|"))
      }
    }
    spark.createDataFrame(rows)
      .toDF("stmt", "table_name", "col_name", "to_name", "from_name",
        "conditions")
      .orderBy("stmt", "to_name", "from_name")
  }

  /** CONTROL-DEPENDENCY lineage corpus (q277, VERDICT r16 #3): a
    * corpus subset re-parsed with `includeControl = true` — value-flow
    * edges stay byte-identical to the main golden (parity untouched),
    * PLUS one `CTRL:<tag>`-tagged edge per (condition site, output
    * column) naming the columns that WHERE / JOIN-ON conditions READ.
    * The subset exercises: plain WHERE (1), join + filter with two
    * sites (2), an INSERT sink where CTRL edges zip destination
    * columns too (3), a view whose condition columns chase to the base
    * table (4), and a predicate subquery whose OUTER reference is the
    * control column (5). A HAVING over a literal-only aggregate elides
    * (no columns read ⇒ no edge) — spec-pinned rather than corpus-
    * pinned. */
  val ctrlCorpus: Seq[String] = Seq(corpus(0), corpus(1), corpus(13),
    corpus(34), corpus(22))

  def ctrlEdges(spark: SparkSession, dir: String): DataFrame = {
    registerFixtures(spark, dir)
    val rows = ctrlCorpus.zipWithIndex.flatMap { case (sql, i) =>
      LineageParser.parseStatement(spark, sql, i + 1,
        includeControl = true).colLines.map { cl =>
        (i + 1, cl.tableName, cl.colName.getOrElse(""), cl.toName,
          cl.fromName, cl.conditionSet.toSeq.sorted.mkString("|"))
      }
    }
    spark.createDataFrame(rows)
      .toDF("stmt", "table_name", "col_name", "to_name", "from_name",
        "conditions")
      // conditions joins the key: a value edge and its CTRL twin can
      // share (stmt, to_name, from_name) when the condition reads the
      // same column the select list projects
      .orderBy("stmt", "to_name", "from_name", "conditions")
  }

  /** IMPACT including control dependencies (q278): the q126 rollup
    * over the CTRL-enabled subset — "does anything downstream DEPEND
    * ON this column" now counts a column read only by a WHERE / ON
    * condition, which pure value-flow impact misses. */
  def ctrlImpact(spark: SparkSession, dir: String): DataFrame =
    impactRollup(ctrlEdges(spark, dir))

  /** DuckDB oracle for [[ctrlEdges]] — frozen VALUES golden (refresh
    * via `LineageProbe <sfdir> ctrl`). */
  val ctrlOracleSql: String =
    """SELECT * FROM (VALUES
    (1, '<EOF>', '', 'n_name', 'default.nation.n_name', 'WHERE:(nation.n_regionkey = 0)'),
    (1, '<EOF>', '', 'n_name', 'default.nation.n_regionkey', 'CTRL:WHERE:(nation.n_regionkey = 0)'),
    (1, '<EOF>', '', 'n_nationkey', 'default.nation.n_nationkey', 'WHERE:(nation.n_regionkey = 0)'),
    (1, '<EOF>', '', 'n_nationkey', 'default.nation.n_regionkey', 'CTRL:WHERE:(nation.n_regionkey = 0)'),
    (2, '<EOF>', '', 'c_name', 'default.customer.c_custkey,default.orders.o_custkey', 'CTRL:JOIN:(c.c_custkey = o.o_custkey)'),
    (2, '<EOF>', '', 'c_name', 'default.customer.c_name', 'JOIN:(c.c_custkey = o.o_custkey)|WHERE:(o.o_totalprice > CAST(1000.0BD AS DOUBLE))'),
    (2, '<EOF>', '', 'c_name', 'default.orders.o_totalprice', 'CTRL:WHERE:(o.o_totalprice > CAST(1000.0BD AS DOUBLE))'),
    (2, '<EOF>', '', 'o_totalprice', 'default.customer.c_custkey,default.orders.o_custkey', 'CTRL:JOIN:(c.c_custkey = o.o_custkey)'),
    (2, '<EOF>', '', 'o_totalprice', 'default.orders.o_totalprice', 'CTRL:WHERE:(o.o_totalprice > CAST(1000.0BD AS DOUBLE))'),
    (2, '<EOF>', '', 'o_totalprice', 'default.orders.o_totalprice', 'JOIN:(c.c_custkey = o.o_custkey)|WHERE:(o.o_totalprice > CAST(1000.0BD AS DOUBLE))'),
    (3, 'default.lineage_target', 'default.lineage_target.tgt_name', 'n_name', 'default.nation.n_name', 'WHERE:(nation.n_regionkey = 1)'),
    (3, 'default.lineage_target', 'default.lineage_target.tgt_name', 'n_name', 'default.nation.n_regionkey', 'CTRL:WHERE:(nation.n_regionkey = 1)'),
    (3, 'default.lineage_target', 'default.lineage_target.tgt_key', 'n_nationkey', 'default.nation.n_nationkey', 'WHERE:(nation.n_regionkey = 1)'),
    (3, 'default.lineage_target', 'default.lineage_target.tgt_key', 'n_nationkey', 'default.nation.n_regionkey', 'CTRL:WHERE:(nation.n_regionkey = 1)'),
    (4, '<EOF>', '', 'v_name', 'default.nation.n_name', 'WHERE:(lineage_view.v_key > 2)|WHERE:(nation.n_regionkey < 4)'),
    (4, '<EOF>', '', 'v_name', 'default.nation.n_nationkey', 'CTRL:WHERE:(lineage_view.v_key > 2)'),
    (4, '<EOF>', '', 'v_name', 'default.nation.n_regionkey', 'CTRL:WHERE:(nation.n_regionkey < 4)'),
    (5, '<EOF>', '', 'o_orderkey', 'default.orders.o_custkey', 'CTRL:WHERE:(orders.o_custkey IN (subquery(default.customer)))'),
    (5, '<EOF>', '', 'o_orderkey', 'default.orders.o_orderkey', 'WHERE:(orders.o_custkey IN (subquery(default.customer)))')
    ) AS t(stmt, table_name, col_name, to_name, from_name, conditions)
    ORDER BY stmt, to_name, from_name, conditions"""

  /** DuckDB oracle for [[ctrlImpact]] — the impact rollup over the
    * frozen CTRL golden. */
  lazy val ctrlImpactOracleSql: String =
    s"""SELECT src_table,
          CAST(count(*) AS BIGINT) AS n_edges,
          CAST(count(DISTINCT stmt || ':' || to_name) AS BIGINT)
            AS n_dest_cols,
          CAST(count(DISTINCT stmt) AS BIGINT) AS n_statements
        FROM (
          SELECT stmt, to_name,
                 array_to_string(p[1:len(p)-1], '.') AS src_table
          FROM (
            SELECT stmt, to_name,
                   string_split(unnest(
                     string_split_regex(from_name, '[,&]')), '.') AS p
            FROM ($ctrlOracleSql)))
        WHERE src_table <> ''
        GROUP BY src_table
        ORDER BY src_table"""

  /** STORE-backed lineage snapshot (q280, r17): the [[LineageStore]]
    * round-trip as an oracle-checked query. Run 1 = the full corpus
    * under the parser's value-flow mode; run 2 = a PARTIAL re-parse
    * (statements 1-2 only) under control-dependency mode — the
    * "parser v2 canary re-parse" a lineage service runs before a
    * fleet-wide upgrade. The snapshot must be latest-wins per
    * STATEMENT: stmts 1-2 served from run 2 (value edges byte-equal
    * to run 1, plus their CTRL: twins), everything else untouched
    * from run 1 — which is exactly what the oracle states by stitching
    * the two frozen goldens. The store lives in a per-call temp dir
    * (rows are collected before deletion); at warehouse scale the
    * same calls run against a durable path with per-run partition
    * pruning and a broadcast stmt→run resolve (see [[LineageStore]]).
    */
  def storeSnapshot(spark: SparkSession, dir: String): DataFrame =
    LineageStore.snapshot(spark, corpusStore(spark, dir))
      .select("run_id", "stmt", "table_name", "col_name", "to_name",
        "from_name", "conditions")
      .orderBy("stmt", "to_name", "from_name", "conditions",
        "table_name", "col_name")

  /** STORE-backed cross-run diff (q281, r17): what did parser v2 ADD
    * over the statements it re-parsed — the certification gate for a
    * parser upgrade, answered from the store alone (no re-parse at
    * read time). Scoped to run 2's statements, so the 41 statements
    * run 2 never touched do NOT read as removals; and set-algebra
    * rather than q192's keyed rowDiff, because control mode
    * legitimately emits a value edge and its CTRL: twin under the
    * same (stmt, names) key. */
  def storeDiff(spark: SparkSession, dir: String): DataFrame =
    LineageStore.diff(spark, corpusStore(spark, dir),
        fromRun = 1L, toRun = 2L)
      .select("stmt", "table_name", "col_name", "to_name",
        "from_name", "conditions", "change")
      .orderBy("stmt", "to_name", "from_name", "conditions", "change")

  /** The two-run corpus store, built ONCE per data dir at a stable
    * target/graft-artifacts path (the bandedDocsArtifact pattern):
    * q280 and q281 both read it, so whichever runs first pays the two
    * corpus parses and the parquet writes. A previous JVM's copy is
    * wiped before the appends (runs are immutable, so an append onto
    * a leftover store would be rejected). */
  private val corpusStoreArtifact =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def corpusStore(spark: SparkSession, dir: String): String =
    corpusStoreArtifact.computeIfAbsent(dir, _ => {
      registerFixtures(spark, dir)
      val out = "target/graft-artifacts/lineage_store_" +
        java.lang.Integer.toHexString(dir.hashCode)
      deleteRecursively(java.nio.file.Paths.get(out))
      val run1 = LineageParser.toDataset(spark,
        corpus.zipWithIndex.map { case (sql, i) =>
          LineageParser.parseStatement(spark, sql, i + 1) })
      LineageStore.append(spark, out, 1L, run1)
      val run2 = LineageParser.toDataset(spark,
        corpus.take(2).zipWithIndex.map { case (sql, i) =>
          LineageParser.parseStatement(spark, sql, i + 1,
            includeControl = true) })
      LineageStore.append(spark, out, 2L, run2)
      out
    })

  /** Artifact-warmth flags for Bench's retime triage — same contract
    * as PipelineQueries.artifactBacked. */
  val artifactBacked: Map[String, String => Boolean] =
    Seq("q280_lineage_store", "q281_store_diff")
      .map(_ -> ((d: String) => corpusStoreArtifact.containsKey(d)))
      .toMap ++ Map(
      "q285_store_compact" ->
        ((d: String) => compactedStoreArtifact.containsKey(d)))

  /** DuckDB oracle for [[storeSnapshot]] — the two frozen goldens
    * stitched by the latest-wins rule (stmts 1-2 from the CTRL
    * golden = run 2, the rest from the main golden = run 1). */
  lazy val storeSnapshotOracleSql: String =
    s"""SELECT * FROM (
          SELECT CAST(2 AS BIGINT) AS run_id, stmt, table_name,
                 col_name, to_name, from_name, conditions
          FROM ($ctrlOracleSql) WHERE stmt <= 2
          UNION ALL
          SELECT CAST(1 AS BIGINT) AS run_id, stmt, table_name,
                 col_name, to_name, from_name, conditions
          FROM ($oracleSql) WHERE stmt > 2)
        ORDER BY stmt, to_name, from_name, conditions, table_name,
                 col_name"""

  /** DuckDB oracle for [[storeDiff]]: control mode's additions over
    * the re-parsed scope are exactly the CTRL:-tagged rows of the
    * CTRL golden (value-flow parity means nothing is removed or
    * altered — the CTRL: prefix only ever appears in tags control
    * mode created). */
  lazy val storeDiffOracleSql: String =
    s"""SELECT stmt, table_name, col_name, to_name, from_name,
               conditions, 'added' AS change
        FROM ($ctrlOracleSql)
        WHERE stmt <= 2 AND conditions LIKE '%CTRL:%'
        ORDER BY stmt, to_name, from_name, conditions, change"""

  /** OPENLINEAGE facet rows (q282, r17): the corpus exported through
    * [[OpenLineageExport]] and flattened to its relational projection
    * — one row per (output field, input field) of every statement
    * that HAS a sink, the exact content of the columnLineage dataset
    * facet the open wire format carries. Distinct from [[edges]]:
    * no-sink statements drop out, literal edges drop out, names split
    * into dataset vs field, the output field prefers the
    * sink-schema-resolved name over the parsed alias, and each pair
    * is classified DIRECT (value flow) vs INDIRECT (control flow;
    * value mode here, so all DIRECT — the INDIRECT arm is spec-pinned
    * in OpenLineageExportSpec). */
  def openLineageRows(spark: SparkSession, dir: String): DataFrame = {
    registerFixtures(spark, dir)
    val results = corpus.zipWithIndex.map { case (sql, i) =>
      LineageParser.parseStatement(spark, sql, i + 1) }
    OpenLineageExport.toDataFrame(spark, results)
      .orderBy("stmt", "dataset", "field", "input_dataset",
        "input_field", "transformation")
  }

  /** DuckDB oracle for [[openLineageRows]] — the facet projection
    * derived from the frozen edge golden in SQL: sink-less and
    * literal edges filtered, names split at the last `.`, DISTINCT
    * because a MERGE's matched/not-matched paths emit one edge twice
    * and the facet is a set. */
  lazy val openLineageOracleSql: String =
    s"""SELECT DISTINCT stmt, table_name AS dataset,
          CASE WHEN col_name = '' THEN to_name
               ELSE p2[len(p2)] END AS field,
          array_to_string(p[1:len(p)-1], '.') AS input_dataset,
          p[len(p)] AS input_field,
          'DIRECT' AS transformation
        FROM (
          SELECT stmt, table_name, col_name, to_name,
                 string_split(unnest(
                   string_split_regex(from_name, '[,&]')), '.') AS p,
                 string_split(col_name, '.') AS p2
          FROM ($oracleSql)
          WHERE table_name <> '<EOF>' AND from_name <> '')
        WHERE array_to_string(p, '.') <> ''
        ORDER BY stmt, dataset, field, input_dataset, input_field,
                 transformation"""

  /** SINK-CAPTURE lineage corpus (q276, VERDICT r16 #2):
    * [[LineageParser.fromStreamingQuery]] over STARTED queries — the
    * sink comes from the query's own resolved WriteToStream, not a
    * caller-supplied name. Two deterministic shapes (no filesystem
    * path enters an edge): `toTable` to a catalog table (the S10
    * ordinal zip, automatic) and a named memory sink (the query name
    * is the addressable temp view). MemoryStream sources stay EMPTY,
    * so each query starts, runs zero data batches under AvailableNow,
    * and terminates in milliseconds — lineage needs only what
    * `start()` resolved. */
  def sinkCaptureEdges(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def docs = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    // Managed-table fixture: a prior JVM's run can leave the location
    // dir behind after the fresh in-memory catalog forgot the table —
    // clear both or CREATE fails LOCATION_ALREADY_EXISTS.
    spark.sql("DROP TABLE IF EXISTS lineage_stream_sink")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    deleteRecursively(java.nio.file.Paths.get(wh, "lineage_stream_sink"))
    spark.sql("""CREATE TABLE lineage_stream_sink
                 (sk_key BIGINT, sk_text STRING) USING parquet""")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_q276_ckpt")
    import org.apache.spark.sql.streaming.Trigger
    val results = try {
      val q1 = docs.writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .toTable("lineage_stream_sink")
      val r1 = try LineageParser.fromStreamingQuery(q1, index = 1)
        finally q1.awaitTermination()
      val q2 = docs.filter(col("doc_id") > 3)
        .writeStream.format("memory").queryName("graft_q276_sink")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      val r2 = try LineageParser.fromStreamingQuery(q2, index = 2)
        finally {
          q2.awaitTermination()
          spark.catalog.dropTempView("graft_q276_sink")
        }
      Seq(r1, r2)
    } finally {
      deleteRecursively(ckpt)
      spark.sql("DROP TABLE IF EXISTS lineage_stream_sink")
    }
    val rows = results.flatMap { r =>
      r.colLines.map { cl =>
        (r.statementIndex, cl.tableName, cl.colName.getOrElse(""),
          cl.toName, cl.fromName,
          cl.conditionSet.toSeq.sorted.mkString("|"))
      }
    }
    spark.createDataFrame(rows)
      .toDF("stmt", "table_name", "col_name", "to_name", "from_name",
        "conditions")
      .orderBy("stmt", "to_name", "from_name")
  }

  /** AUTOMATIC write capture as a driver query (q283, r17): attach
    * [[LineageCapture]], run one DataFrame-API write and one SQL
    * INSERT against a pre-created table, and return what the listener
    * observed — nobody re-states a sink. The sink table exists before
    * the window opens so the S10 ordinal zip is deterministic (a
    * create-as-you-write shape would race the async bus against the
    * catalog registration); rows are indexed by ARRIVAL order (the
    * bus is FIFO and the writes are sequential). */
  def captureEdges(spark: SparkSession, dir: String): DataFrame = {
    registerFixtures(spark, dir)
    spark.sql("DROP TABLE IF EXISTS lineage_cap")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    deleteRecursively(java.nio.file.Paths.get(wh, "lineage_cap"))
    spark.sql(
      "CREATE TABLE lineage_cap (cap_key INT, cap_name STRING) USING parquet")
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[LineageResult]()
    // The bus is SESSION-wide and async: a write issued just before
    // attach (a preceding harness query's own save) can deliver INTO
    // the capture window and shift arrival indices under the frozen
    // golden (ADVICE r18 #2) — admit only events whose sink is THIS
    // query's table.
    def ours(r: LineageResult): Boolean =
      (r.outputTables ++ r.colLines.map(_.tableName))
        .exists(_.endsWith("default.lineage_cap"))
    val listener = LineageCapture.attach(spark,
      r => if (ours(r)) buf.add(r))
    try {
      import org.apache.spark.sql.functions.col
      spark.table("nation")
        .filter(col("n_regionkey") === 1)
        .select(col("n_nationkey"), col("n_name"))
        .write.insertInto("lineage_cap")
      spark.sql("INSERT INTO lineage_cap SELECT r_regionkey, r_name " +
        "FROM region WHERE r_regionkey < 2")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (buf.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(25)
      require(buf.size >= 2, s"capture delivered ${buf.size}/2 writes")
    } finally {
      LineageCapture.detach(spark, listener)
      spark.sql("DROP TABLE IF EXISTS lineage_cap")
    }
    import scala.jdk.CollectionConverters._
    val rows = buf.iterator().asScala.toSeq.zipWithIndex.flatMap {
      case (r, i) =>
        r.colLines.map { cl =>
          (i + 1, cl.tableName, cl.colName.getOrElse(""), cl.toName,
            cl.fromName, cl.conditionSet.toSeq.sorted.mkString("|"))
        }
    }
    spark.createDataFrame(rows)
      .toDF("stmt", "table_name", "col_name", "to_name", "from_name",
        "conditions")
      .orderBy("stmt", "to_name", "from_name")
  }

  /** READ capture as a driver query (q284, r17): attach the access
    * log, run two actions against a pre-created table — a pruned
    * noop-consumed projection and a metadata-only count — and return
    * what the log saw: (action, table, column) rows, where the column
    * set is the PHYSICALLY read one (requiredSchema after pruning).
    * The count action contributes a single empty-column row — the
    * metadata-only read is a fact worth logging, encoded as '' to
    * keep the row. */
  def readCaptureRows(spark: SparkSession, dir: String): DataFrame = {
    registerFixtures(spark, dir)
    spark.sql("DROP TABLE IF EXISTS lineage_readcap")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    deleteRecursively(java.nio.file.Paths.get(wh, "lineage_readcap"))
    import org.apache.spark.sql.functions.col
    spark.table("nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.saveAsTable("lineage_readcap")
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[
      Seq[(String, Seq[String])]]()
    // Same arrival-index pinning as captureEdges (ADVICE r18 #2):
    // only actions that READ this query's table may enter the window
    // (the fixture write above, or a late event from a preceding
    // harness query, would otherwise shift the frozen action numbers).
    val listener = LineageCapture.attachReads(spark,
      (_, rs) => {
        val ours = rs.filter(_._1 == "default.lineage_readcap")
        if (ours.nonEmpty) buf.add(ours)
      })
    try {
      spark.table("lineage_readcap")
        .filter(col("n_regionkey") === 1).select(col("n_name"))
        .write.format("noop").mode("overwrite").save()
      spark.table("lineage_readcap").count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (buf.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(25)
      require(buf.size >= 2, s"read log delivered ${buf.size}/2 actions")
    } finally {
      LineageCapture.detach(spark, listener)
      spark.sql("DROP TABLE IF EXISTS lineage_readcap")
    }
    import scala.jdk.CollectionConverters._
    val rows = buf.iterator().asScala.toSeq.zipWithIndex.flatMap {
      case (reads, i) =>
        reads.flatMap { case (t, cols) =>
          (if (cols.isEmpty) Seq("") else cols).map(c => (i + 1, t, c)) }
    }
    spark.createDataFrame(rows)
      .toDF("action", "table_name", "column_read")
      .orderBy("action", "table_name", "column_read")
  }

  /** DuckDB oracle for [[readCaptureRows]] — frozen VALUES golden. */
  val readCaptureOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'default.lineage_readcap', 'n_name'),
    (1, 'default.lineage_readcap', 'n_regionkey'),
    (2, 'default.lineage_readcap', '')
    ) AS t(action, table_name, column_read)
    ORDER BY action, table_name, column_read"""

  /** DuckDB oracle for [[captureEdges]] — frozen VALUES golden (the
    * capture is schema-and-corpus determined, path-free). */
  val captureOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'default.lineage_cap', 'default.lineage_cap.cap_key', 'cap_key', 'default.nation.n_nationkey', 'WHERE:(nation.n_regionkey = 1)'),
    (1, 'default.lineage_cap', 'default.lineage_cap.cap_name', 'cap_name', 'default.nation.n_name', 'WHERE:(nation.n_regionkey = 1)'),
    (2, 'default.lineage_cap', 'default.lineage_cap.cap_key', 'cap_key', 'default.region.r_regionkey', 'WHERE:(region.r_regionkey < 2)'),
    (2, 'default.lineage_cap', 'default.lineage_cap.cap_name', 'cap_name', 'default.region.r_name', 'WHERE:(region.r_regionkey < 2)')
    ) AS t(stmt, table_name, col_name, to_name, from_name, conditions)
    ORDER BY stmt, to_name, from_name"""

  /** STORE COMPACTION as a driver query (q285, r18): the capture-log
    * workload's reclamation story, oracle-checked. Six single-
    * statement runs (run i = corpus statement i — the one-write-per-
    * run layout [[graft.lineage.LineageCapture.attachStore]]
    * produces), then `compact(upToRun = 4)` folds the first four
    * partition directories into one consolidated segment. The query
    * returns the post-compaction snapshot — which the oracle states
    * as ALL six statements' golden edges with `run_id = stmt`,
    * i.e. compaction is invisible to every read path: same rows,
    * same run ids (now a parquet COLUMN for folded runs), same
    * latest-wins resolution. The builder additionally proves the
    * invariants the oracle can't see: the fold reports exactly runs
    * 1-4, allocation resumes past the manifest (claim = 7), and the
    * pre/post snapshots are row-identical. */
  def storeCompactSnapshot(spark: SparkSession, dir: String): DataFrame =
    LineageStore.snapshot(spark, compactedStore(spark, dir))
      .select("run_id", "stmt", "table_name", "col_name", "to_name",
        "from_name", "conditions")
      .orderBy("stmt", "to_name", "from_name", "conditions",
        "table_name", "col_name")

  private val compactedStoreArtifact =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def compactedStore(spark: SparkSession, dir: String): String =
    compactedStoreArtifact.computeIfAbsent(dir, _ => {
      registerFixtures(spark, dir)
      val out = "target/graft-artifacts/lineage_store_compact_" +
        java.lang.Integer.toHexString(dir.hashCode)
      deleteRecursively(java.nio.file.Paths.get(out))
      // independent single-run appends — overlap them (guide §2.6;
      // see tieredCompactLifecycle for the safety argument)
      parallelAppends(1 to 6) { i =>
        LineageStore.append(spark, out, i.toLong,
          LineageParser.toDataset(spark,
            Seq(LineageParser.parseStatement(spark, corpus(i - 1), i))))
      }
      def snap() = LineageStore.snapshot(spark, out)
        .orderBy("stmt", "to_name", "from_name", "conditions")
        .collect().toSeq
      val before = snap()
      val folded = LineageStore.compact(spark, out, upToRun = 4L)
      require(folded == Seq(1L, 2L, 3L, 4L),
        s"compact folded $folded, expected runs 1-4")
      require(LineageStore.claimRun(spark, out) == 7L,
        "allocation must resume past the compacted manifest")
      require(snap() == before,
        "compaction changed the snapshot — the fold must be invisible")
      out
    })

  /** DuckDB oracle for [[storeCompactSnapshot]]: single-statement
    * runs mean every statement is its own latest, so the snapshot is
    * the main golden's first six statements with `run_id = stmt` —
    * unchanged by the fold, which is the point. */
  lazy val storeCompactOracleSql: String =
    s"""SELECT CAST(stmt AS BIGINT) AS run_id, stmt, table_name,
               col_name, to_name, from_name, conditions
        FROM ($oracleSql) WHERE stmt <= 6
        ORDER BY stmt, to_name, from_name, conditions, table_name,
                 col_name"""

  /** PERSISTED read log as a driver query (q286, r18): the q284
    * scenario — a pruned two-column question and a metadata-only
    * count against a three-column table — but captured through
    * [[graft.lineage.LineageCapture.attachReadStore]] and read back
    * FROM DISK, proving the access log survives the session that
    * wrote it. Actions are re-numbered densely over the target
    * table's rows (the session-wide counter also ticks for unrelated
    * actions — the store's own polling reads, a harness neighbor —
    * which the frozen golden must not see). */
  def readLogPersist(spark: SparkSession, dir: String): DataFrame = {
    registerFixtures(spark, dir)
    spark.sql("DROP TABLE IF EXISTS lineage_readlog")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    deleteRecursively(java.nio.file.Paths.get(wh, "lineage_readlog"))
    import org.apache.spark.sql.functions.col
    spark.table("nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.saveAsTable("lineage_readlog")
    val store = java.nio.file.Files
      .createTempDirectory("graft_readlog_store").toString
    val rows = try {
      val handle = LineageCapture.attachReadStore(spark, store,
        flushEvery = 1000, session = "readlog-probe")
      try {
        spark.table("lineage_readlog")
          .filter(col("n_regionkey") === 1).select(col("n_name"))
          .write.format("noop").mode("overwrite").save()
        spark.table("lineage_readlog").count()
        // the bus is async: poll flush-then-count until both actions
        // (2 pruned columns + 1 metadata-only row) are durable
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        def durable() = {
          handle.flush()
          LineageStore.readLog(spark, store)
            .filter(col("table_name") === "default.lineage_readlog")
            .count() == 3
        }
        while (!durable() && System.nanoTime() < deadline)
          Thread.sleep(25)
        require(durable(), "read log did not persist 3 rows")
      } finally handle.detach()
      LineageStore.readLog(spark, store)
        .filter(col("table_name") === "default.lineage_readlog")
        .select("action", "table_name", "column_read")
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    } finally {
      deleteRecursively(java.nio.file.Paths.get(store))
      spark.sql("DROP TABLE IF EXISTS lineage_readlog")
    }
    val rank = rows.map(_._1).distinct.sorted.zipWithIndex.toMap
    spark.createDataFrame(
        rows.map { case (a, t, c) => (rank(a) + 1, t, c) })
      .toDF("action", "table_name", "column_read")
      .orderBy("action", "table_name", "column_read")
  }

  /** DuckDB oracle for [[readLogPersist]] — the q284 golden, read
    * back from the persistent store. */
  val readLogPersistOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'default.lineage_readlog', 'n_name'),
    (1, 'default.lineage_readlog', 'n_regionkey'),
    (2, 'default.lineage_readlog', '')
    ) AS t(action, table_name, column_read)
    ORDER BY action, table_name, column_read"""

  /** The DEPRECATION query (q287, r18): write-impact joined with read
    * recency — the question the read log exists to answer across
    * sessions ("this table is still being WRITTEN; is anything still
    * READING it?"). Fixture: a store whose write log holds two
    * captured tables, and whose read log shows activity against only
    * one of them. For every table the write snapshot knows, the
    * query reports the distinct read actions, the distinct columns
    * actually read, and the most recent action — zeros, not absence,
    * for the table nothing reads (the deprecation candidate). */
  def deprecationCandidates(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files
      .createTempDirectory("graft_deprecation_store").toString
    try {
      def writeRun(run: Long, stmt: Int, table: String): Unit =
        LineageStore.append(spark, store, run,
          spark.createDataFrame(Seq(
            LineageEdge(stmt, "INSERT", table, s"$table.k", "k",
              "default.src.a", ""),
            LineageEdge(stmt, "INSERT", table, s"$table.v", "v",
              "default.src.b", ""))))
      writeRun(1L, 1, "default.dep_a")
      writeRun(2L, 2, "default.dep_b")
      LineageStore.appendReads(spark, store, spark.createDataFrame(Seq(
        ("s1", 1, "default.dep_a", "k", 100L),
        ("s1", 1, "default.dep_a", "v", 100L),
        ("s1", 2, "default.dep_a", "", 200L)))
        .toDF("session", "action", "table_name", "column_read", "ts_ms"))
      val written = LineageStore.snapshot(spark, store)
        .select(col("table_name")).distinct()
      val reads = LineageStore.readLog(spark, store)
        .groupBy("table_name")
        .agg(countDistinct(col("action")).as("n_read_actions"),
          countDistinct(when(col("column_read") =!= "",
            col("column_read"))).as("n_cols_read"),
          max(col("action")).as("last_action"))
      val out = written.join(reads, Seq("table_name"), "left")
        .select(col("table_name"),
          coalesce(col("n_read_actions"), lit(0L)).as("n_read_actions"),
          coalesce(col("n_cols_read"), lit(0L)).as("n_cols_read"),
          coalesce(col("last_action"), lit(0)).as("last_action"))
        .orderBy("table_name")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getInt(3))).toSeq
      spark.createDataFrame(out)
        .toDF("table_name", "n_read_actions", "n_cols_read",
          "last_action")
        .orderBy("table_name")
    } finally deleteRecursively(java.nio.file.Paths.get(store))
  }

  /** DuckDB oracle for [[deprecationCandidates]] — frozen golden:
    * dep_a is read (2 actions, 2 distinct columns, last action 2),
    * dep_b is written but never read — the deprecation candidate. */
  val deprecationOracleSql: String =
    """SELECT * FROM (VALUES
    ('default.dep_a', CAST(2 AS BIGINT), CAST(2 AS BIGINT), 2),
    ('default.dep_b', CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0)
    ) AS t(table_name, n_read_actions, n_cols_read, last_action)
    ORDER BY table_name"""

  /** CONCURRENT capture as a driver query (q288, r18): two
    * independent sessions — own listener bus, own capture listener,
    * own claim sequence — write into ONE store dir, the advertised
    * config-only cluster deployment. Every write must land as its
    * own run: the atomic claim makes the interleaving collision-free
    * where the old max+1 allocation silently dropped the slower
    * writer's append. The result is the count row an operator would
    * alert on: writers, writes issued, runs recorded, distinct ids. */
  def concurrentCaptureCounts(spark: SparkSession, dir: String)
      : DataFrame = {
    registerFixtures(spark, dir)
    val store = java.nio.file.Files
      .createTempDirectory("graft_concurrent_store").toString
    val outs = (1 to 6).map(i => java.nio.file.Files
      .createTempDirectory(s"graft_concurrent_out$i").toString)
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    graft.Tables.registerAll(s1, dir) // temp views are per-session
    graft.Tables.registerAll(s2, dir)
    val l1 = LineageCapture.attachStore(s1, store)
    val l2 = LineageCapture.attachStore(s2, store)
    val (runs, dataRuns, errors) = try {
      import org.apache.spark.sql.functions.col
      // Writes stay sequential: overlapping them was measured neutral
      // (r22) — the captures serialize on the listener bus's single
      // dispatch thread, so the async appends are the critical path
      // either way.
      outs.zipWithIndex.foreach { case (out, i) =>
        val s = if (i % 2 == 0) s1 else s2
        s.table("region").select(col("r_regionkey"), col("r_name"))
          .write.mode("overwrite").parquet(out)
      }
      // wait on DATA-bearing runs, not claims: a claim whose append
      // failed is exactly the lost write this query exists to detect,
      // and a claims-only count would wave it through (review r18)
      def dataRunCount(): Long = LineageStore.read(spark, store)
        .select("run_id").distinct().count()
      // ...but POLL on the filesystem: a committed partition with a
      // data file is exactly a data-bearing run (zero-edge appends
      // write no data file), so the settle loop doesn't need to burn
      // a full Spark job every 100 ms while the async listeners catch
      // up (guide §5). The REPORTED count below stays the Spark read.
      def dataRunCountFs(): Long = Option(
        new java.io.File(store).listFiles()).getOrElse(Array.empty)
        .count { d =>
          d.isDirectory && d.getName.startsWith("run_id=") &&
            new java.io.File(d, "_committed").exists() &&
            Option(d.listFiles()).getOrElse(Array.empty).exists { f =>
              f.isFile && !f.getName.startsWith("_") &&
                !f.getName.startsWith(".")
            }
        }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (dataRunCountFs() < 6 && System.nanoTime() < deadline)
        Thread.sleep(100)
      Thread.sleep(300) // self-appends must still be filtered
      (LineageStore.runs(spark, store), dataRunCount(),
        LineageCapture.captureErrors(spark, store))
    } finally {
      LineageCapture.detach(s1, l1)
      LineageCapture.detach(s2, l2)
      (store +: outs).foreach(d =>
        deleteRecursively(java.nio.file.Paths.get(d)))
    }
    spark.createDataFrame(Seq(
        (2, 6, runs.size, runs.distinct.size, dataRuns, errors)))
      .toDF("writers", "writes", "runs_recorded", "distinct_run_ids",
        "data_runs", "capture_errors")
  }

  /** DuckDB oracle for [[concurrentCaptureCounts]]: six writes from
    * two writers = six runs, six distinct ids, six runs CARRYING
    * EDGES, zero swallowed failures — no write lost to an allocation
    * collision and no claim left dangling by a failed append. */
  val concurrentCaptureOracleSql: String =
    """SELECT 2 AS writers, 6 AS writes, 6 AS runs_recorded,
              6 AS distinct_run_ids, CAST(6 AS BIGINT) AS data_runs,
              CAST(0 AS BIGINT) AS capture_errors"""

  /** STORE LIFECYCLE as a driver query (q289, r18): the two-phase
    * vacuum walked end to end — supersession detection, tombstoning
    * (runs vanish from every read path while their data survives a
    * grace window), purge, and id reuse only after the purge. Steps
    * are emitted as ordered (step, detail) rows so the whole
    * lifecycle is one frozen golden. */
  def storeLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files
      .createTempDirectory("graft_lifecycle_store").toString
    def edge(stmt: Int, from: String) =
      LineageEdge(stmt, "SELECT", "<EOF>", "", s"c$stmt", from, "")
    val steps = try {
      LineageStore.append(spark, store, 1L, spark.createDataFrame(Seq(
        edge(1, "db.t.x"), edge(2, "db.t.y"))))
      LineageStore.append(spark, store, 2L, spark.createDataFrame(Seq(
        edge(1, "db.t.x2"))))
      LineageStore.append(spark, store, 3L, spark.createDataFrame(Seq(
        edge(1, "db.t.x3"))))
      LineageStore.append(spark, store, 4L, spark.createDataFrame(Seq(
        edge(2, "db.t.y4"))))
      val snapBefore = LineageStore.snapshot(spark, store)
        .orderBy("stmt", "from_name").collect().toSeq
      val superseded = LineageStore.supersededRuns(spark, store)
      val vacuumed = LineageStore.vacuum(spark, store)
      val runsAfter = LineageStore.runs(spark, store)
      val snapStable = LineageStore.snapshot(spark, store)
        .orderBy("stmt", "from_name").collect().toSeq == snapBefore
      val gracePurge =
        LineageStore.purgeVacuumed(spark, store, graceMs = 3600000L)
      // immediate deletion is an explicit graceMs = 0 decision now —
      // the DEFAULT grace is conservative and non-zero (ADVICE r19 #2)
      val purged = LineageStore.purgeVacuumed(spark, store, graceMs = 0L)
      val nextClaim = LineageStore.claimRun(spark, store)
      Seq(
        (1, "superseded", superseded.mkString(",")),
        (2, "vacuumed", vacuumed.mkString(",")),
        (3, "runs_after_vacuum", runsAfter.mkString(",")),
        (4, "snapshot_stable", snapStable.toString),
        (5, "purged_within_grace", gracePurge.mkString(",")),
        (6, "purged", purged.mkString(",")),
        (7, "next_claim", nextClaim.toString))
    } finally deleteRecursively(java.nio.file.Paths.get(store))
    spark.createDataFrame(steps)
      .toDF("step", "phase", "detail")
      .orderBy("step")
  }

  /** DuckDB oracle for [[storeLifecycle]] — the frozen lifecycle:
    * runs 1-2 superseded and tombstoned (runs/snapshot already blind
    * to them), nothing purged inside the grace window, both purged
    * after it, and the next claim resumes at 5. */
  val storeLifecycleOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'superseded', '1,2'),
    (2, 'vacuumed', '1,2'),
    (3, 'runs_after_vacuum', '3,4'),
    (4, 'snapshot_stable', 'true'),
    (5, 'purged_within_grace', ''),
    (6, 'purged', 'run_id=1,run_id=2'),
    (7, 'next_claim', '5')
    ) AS t(step, phase, detail)
    ORDER BY step"""

  /** TIERED COMPACTION as a driver query (q290, r19 — VERDICT r18's
    * top item): nine capture-shaped runs folded in three maintenance
    * calls with `maxSegments = 2`. Call 1 folds runs 1-3 into its own
    * segment; call 2 folds 4-6 WITHOUT rewriting segment 1 (that is
    * the whole point — compact cost tracks new runs, not store size);
    * call 3 trips the merge threshold and the smallest segments fold
    * together. Throughout: the snapshot is row-stable, the plan stays
    * join-free (the store is provably capture-shaped, so latest-wins
    * is the identity), and allocation resumes past the manifest. */
  def tieredCompactLifecycle(spark: SparkSession, dir: String)
      : DataFrame = {
    val store = java.nio.file.Files
      .createTempDirectory("graft_tiered_store").toString
    val steps = try {
      // The nine runs are independent appends to nine distinct
      // partitions of a store whose writers are concurrent by design
      // (q288 pins exactly that) — overlap them (guide §2.6) instead
      // of paying nine sequential ~150 ms write-job latencies. All
      // appends complete before the first fold, so every downstream
      // value is unchanged.
      parallelAppends(1 to 9) { i =>
        LineageStore.appendCaptured(spark, store, i.toLong,
          spark.createDataFrame(Seq(LineageEdge(i, "INSERT",
            s"db.sink_$i", s"db.sink_$i.c", "c", s"db.src.x$i", ""))))
      }
      def snap() = LineageStore.snapshot(spark, store)
        .orderBy("run_id", "stmt").collect().toSeq
      def segs() = Option(new java.io.File(store, "_compacted")
        .listFiles()).getOrElse(Array.empty)
        .map(_.getName).count(_.startsWith("seg_"))
      val before = snap()
      def fold(upTo: Long): String = {
        val f = LineageStore.compact(spark, store, upTo,
          maxSegments = 2)
        s"${f.mkString(",")}|segs=${segs()}"
      }
      val f1 = fold(3L)
      val f2 = fold(6L)
      val f3 = fold(9L)
      val stable = snap() == before
      val joinFree = LineageStore.snapshot(spark, store)
        .queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.isEmpty
      val next = LineageStore.claimRun(spark, store)
      Seq(
        (1, "fold_1", f1),
        (2, "fold_2", f2),
        (3, "fold_3", f3),
        (4, "snapshot_stable", stable.toString),
        (5, "fastpath_join_free", joinFree.toString),
        (6, "next_claim", next.toString))
    } finally deleteRecursively(java.nio.file.Paths.get(store))
    spark.createDataFrame(steps)
      .toDF("step", "phase", "detail").orderBy("step")
  }

  /** DuckDB oracle for [[tieredCompactLifecycle]] — frozen golden:
    * each call folds exactly its batch, segment counts go 1 → 2 →
    * merge back to 1 (threshold 2 tripped on the third call), the
    * graph never changes, and the next claim is 10. */
  val tieredCompactOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'fold_1', '1,2,3|segs=1'),
    (2, 'fold_2', '4,5,6|segs=2'),
    (3, 'fold_3', '7,8,9|segs=1'),
    (4, 'snapshot_stable', 'true'),
    (5, 'fastpath_join_free', 'true'),
    (6, 'next_claim', '10')
    ) AS t(step, phase, detail)
    ORDER BY step"""

  /** READ-LOG RECLAMATION as a driver query (q291, r19 — VERDICT r18
    * #2): three flush batches consolidate into one segment
    * ([[graft.lineage.LineageStore.compactReads]] — the flush-dir
    * explosion is the read side's version of the one-run-per-write
    * problem), then recency retention
    * ([[graft.lineage.LineageStore.vacuumReads]]) rewrites the
    * straddling segment and drops the ancient rows: an access log is
    * about RECENCY, so "still reading" keeps only what read recently. */
  def readLogReclamation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val store = java.nio.file.Files
      .createTempDirectory("graft_readlog_reclaim").toString
    val now = System.currentTimeMillis()
    val steps = try {
      def flush(rows: Seq[(String, Int, String, String, Long)]): Unit =
        LineageStore.appendReads(spark, store,
          spark.createDataFrame(rows).toDF("session", "action",
            "table_name", "column_read", "ts_ms"))
      flush(Seq(("s1", 1, "db.old", "k", 1000L),
        ("s1", 1, "db.old", "v", 1000L)))
      flush(Seq(("s2", 2, "db.old", "k", 2000L),
        ("s2", 2, "db.recent", "k", now)))
      flush(Seq(("s3", 3, "db.recent", "v", now)))
      def batches() = Option(
        new java.io.File(store, "_read_log").listFiles())
        .getOrElse(Array.empty)
        .map(_.getName).count(_.startsWith("batch_"))
      def rsegs() = Option(
        new java.io.File(store, "_read_log").listFiles())
        .getOrElse(Array.empty)
        .map(_.getName).count(_.startsWith("rseg_"))
      def rows() = LineageStore.readLog(spark, store).count()
      val nBatches = batches()
      val folded = LineageStore.compactReads(spark, store)
      val afterCompact = rows()
      val nSegs = rsegs()
      val removed = LineageStore.vacuumReads(spark, store,
        olderThanMs = 3600L * 1000)
      val afterVacuum = rows()
      val tables = LineageStore.readLog(spark, store)
        .select(col("table_name")).distinct()
        .collect().map(_.getString(0)).sorted.mkString(",")
      Seq(
        (1, "batches", nBatches.toString),
        (2, "compact_folded", folded.toString),
        (3, "rows_after_compact", afterCompact.toString),
        (4, "segments", nSegs.toString),
        (5, "vacuum_removed", removed.size.toString),
        (6, "rows_after_vacuum", afterVacuum.toString),
        (7, "tables_after", tables))
    } finally deleteRecursively(java.nio.file.Paths.get(store))
    spark.createDataFrame(steps)
      .toDF("step", "phase", "detail").orderBy("step")
  }

  /** DuckDB oracle for [[readLogReclamation]] — frozen golden: three
    * flush dirs fold to one segment (five rows intact), retention
    * rewrites that one straddling unit, and only the two recent rows
    * (one table) survive. */
  val readLogReclamationOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'batches', '3'),
    (2, 'compact_folded', '3'),
    (3, 'rows_after_compact', '5'),
    (4, 'segments', '1'),
    (5, 'vacuum_removed', '1'),
    (6, 'rows_after_vacuum', '2'),
    (7, 'tables_after', 'db.recent')
    ) AS t(step, phase, detail)
    ORDER BY step"""

  /** CAPTURE-SHAPED SNAPSHOT fast path as a driver query (q292, r19 —
    * VERDICT r18 wrong #2): three captured appends (stmt == run_id,
    * proven per append from parquet footer stats) make latest-wins
    * the identity, so the snapshot plans NO resolve join and NO
    * broadcast — on a millions-of-runs capture store the old resolve
    * broadcast one row per run through the driver. One plain append
    * then breaks the identity (run 4 re-states stmt 2) and the
    * resolve join must come back and supersede correctly. The result
    * is the final mixed-store snapshot; the builder proves the plan
    * shapes at both stages. */
  def captureFastpathSnapshot(spark: SparkSession, dir: String)
      : DataFrame = {
    val store = java.nio.file.Files
      .createTempDirectory("graft_fastpath_store").toString
    try {
      (1 to 3).foreach { i =>
        LineageStore.appendCaptured(spark, store, i.toLong,
          spark.createDataFrame(Seq(LineageEdge(i, "SELECT",
            "<EOF>", "", s"c$i", s"db.t.x$i", ""))))
      }
      def joins() = LineageStore.snapshot(spark, store)
        .queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }
      require(joins().isEmpty,
        "capture-shaped snapshot must plan no resolve join")
      // a plain (re-parse style) append supersedes stmt 2
      LineageStore.append(spark, store, 4L,
        spark.createDataFrame(Seq(LineageEdge(2, "SELECT",
          "<EOF>", "", "c2", "db.t.y", ""))))
      require(joins().nonEmpty,
        "a mixed store must resolve latest-wins again")
      val out = LineageStore.snapshot(spark, store)
        .select("run_id", "stmt", "from_name")
        .orderBy("stmt").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      spark.createDataFrame(out)
        .toDF("run_id", "stmt", "from_name").orderBy("stmt")
    } finally deleteRecursively(java.nio.file.Paths.get(store))
  }

  /** DuckDB oracle for [[captureFastpathSnapshot]] — frozen golden:
    * stmts 1 and 3 keep their captured runs, stmt 2 is superseded by
    * the plain run 4. */
  val captureFastpathOracleSql: String =
    """SELECT * FROM (VALUES
    (CAST(1 AS BIGINT), 1, 'db.t.x1'),
    (CAST(4 AS BIGINT), 2, 'db.t.y'),
    (CAST(3 AS BIGINT), 3, 'db.t.x3')
    ) AS t(run_id, stmt, from_name)
    ORDER BY stmt"""

  /** CONTRACT-VERSION MIGRATION as a driver query (q293, r19; ONLINE
    * reads r20 — VERDICT r19 missing #1): a store stamped with a
    * synthetic prior contract (v0 = lowercase operation) refuses v1
    * appends by name; a migration that CRASHES mid-way (the rewrite
    * dies on its second unit) leaves `_migrating` down, and reads are
    * then REFUSED only for readers with no registered rewrite —
    * [[graft.lineage.LineageStore.serveDuringMigration]] serves the
    * half-rewritten store (swapped units as-is, unmigrated units
    * through the rewrite on the fly) with EXACTLY the graph the
    * finished migration serves. Resuming
    * [[graft.lineage.LineageStore.migrate]] rewrites only the
    * remaining unit, flips the version stamp last, and the snapshot is
    * row-identical under the current contract. */
  def storeMigration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, upper}
    val store = java.nio.file.Files
      .createTempDirectory("graft_migrate_store").toString
    val steps = try {
      def v0edge(stmt: Int, from: String) =
        LineageEdge(stmt, "select", "<EOF>", "", s"c$stmt", from, "")
      LineageStore.append(spark, store, 1L, spark.createDataFrame(Seq(
        v0edge(1, "db.t.x"), v0edge(2, "db.t.y"))))
      LineageStore.append(spark, store, 2L, spark.createDataFrame(Seq(
        v0edge(3, "db.t.z"))))
      LineageStore.compact(spark, store, upToRun = 1L)
      val before = LineageStore.snapshot(spark, store)
        .select("run_id", "stmt", "from_name").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      // forge the v0 stamp (checksum sidecar too — local FS)
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(store, "._schema_version.crc"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(store, "_schema_version"),
        "0".getBytes("UTF-8"))
      val refused =
        try { LineageStore.append(spark, store, 3L,
          spark.createDataFrame(Seq(v0edge(4, "db.q")))); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("edge-contract") }
      // the maintainer dies after its FIRST unit (the live partition;
      // the segment's rewrite throws) — `_migrating` stays down
      val rw: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
        df => df.withColumn("operation", upper(col("operation")))
      val calls = new java.util.concurrent.atomic.AtomicInteger(0)
      val crashed =
        try { LineageStore.migrate(spark, store, fromVersion = 0, df => {
          if (calls.incrementAndGet() == 2)
            throw new RuntimeException("maintainer died")
          rw(df)
        }); false }
        catch { case _: RuntimeException => true }
      val migratingDown = crashed && java.nio.file.Files.exists(
        java.nio.file.Paths.get(store, "_migrating"))
      // a reader with NO registered rewrite keeps the by-name refusal
      LineageStore.stopServingDuringMigration(spark, store)
      val unregisteredRefused =
        try { LineageStore.read(spark, store).collect(); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("MID-MIGRATION") }
      // ... and a reader that OPTS IN is served the half-rewritten
      // store: swapped partition as-is, unmigrated segment through
      // the rewrite on the fly
      LineageStore.serveDuringMigration(spark, store, rw)
      val mid = LineageStore.snapshot(spark, store)
        .select("run_id", "stmt", "from_name", "operation").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getString(3))).toSet
      LineageStore.stopServingDuringMigration(spark, store)
      // resume: only the remaining unit (the segment) rewrites
      val resumed = LineageStore.migrate(spark, store,
        fromVersion = 0, rw)
      val version = java.nio.file.Files.readString(
        java.nio.file.Paths.get(store, "_schema_version"))
      // ONE post-resume snapshot pass serves all three derived views
      // (r21): `after`, `post` and `ops` are projections of the same
      // rows — collecting the 4-column form once and deriving the
      // rest driver-side saves two full snapshot executions with
      // identical values (the fixture is a handful of rows).
      val postRows = LineageStore.snapshot(spark, store)
        .select("run_id", "stmt", "from_name", "operation").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getString(3)))
      val after = postRows.map(t => (t._1, t._2, t._3)).toSet
      val post = postRows.toSet
      val ops = postRows.map(_._4).distinct.sorted.mkString(",")
      Seq(
        (1, "v1_append_refused", refused.toString),
        (2, "crash_left_migrating", migratingDown.toString),
        (3, "unregistered_read_refused", unregisteredRefused.toString),
        (4, "mid_read_equals_post", (mid == post).toString),
        (5, "resumed_units", resumed.toString),
        (6, "post_version", version),
        (7, "snapshot_stable", (after == before).toString),
        (8, "operations", ops))
    } finally deleteRecursively(java.nio.file.Paths.get(store))
    spark.createDataFrame(steps)
      .toDF("step", "phase", "detail").orderBy("step")
  }

  /** DuckDB oracle for [[storeMigration]] — frozen golden: the
    * foreign-contract append refuses by name; the crashed migration
    * leaves `_migrating` down; an unregistered reader is refused by
    * name while an opted-in reader is served the EXACT post-migration
    * graph; the resume rewrites only the one remaining unit; the stamp
    * lands on v1 (the current [[LineageEdgeSchema.Version]]) and the
    * graph is row-identical with the operation under the new
    * contract. */
  val storeMigrationOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'v1_append_refused', 'true'),
    (2, 'crash_left_migrating', 'true'),
    (3, 'unregistered_read_refused', 'true'),
    (4, 'mid_read_equals_post', 'true'),
    (5, 'resumed_units', '1'),
    (6, 'post_version', '1'),
    (7, 'snapshot_stable', 'true'),
    (8, 'operations', 'SELECT')
    ) AS t(step, phase, detail)
    ORDER BY step"""

  /** OPENLINEAGE AUTO-EMIT as a driver query (q294, r19 — VERDICT r18
    * #7): a collector stub receives one RunEvent per captured write,
    * pushed at write time by the capture listener when
    * `spark.graft.lineage.openlineage.url` is set — the export tier
    * (q282) made the format; this wires it to the moment lineage is
    * OBSERVED, which is how real consumers (Marquez et al.) ingest.
    * Runs on its own session so the conf and listener never leak into
    * the harness session. */
  def openLineageAutoEmit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    registerFixtures(spark, dir)
    val store = java.nio.file.Files
      .createTempDirectory("graft_ol_store").toString
    val outs = (1 to 2).map(i => java.nio.file.Files
      .createTempDirectory(s"graft_ol_out$i").toString)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val collector = LineageService.createServer("127.0.0.1", 0)
    collector.createContext("/api/v1/lineage",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        events.add(new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        ex.sendResponseHeaders(200, -1)
        ex.close()
      })
    collector.start()
    val s = spark.newSession()
    graft.Tables.registerAll(s, dir)
    s.conf.set("spark.graft.lineage.openlineage.url",
      s"http://127.0.0.1:${collector.getAddress.getPort}/api/v1/lineage")
    val l = LineageCapture.attachStore(s, store)
    val steps = try {
      outs.zipWithIndex.foreach { case (out, i) =>
        s.table("region").select(col("r_regionkey"), col("r_name"))
          .filter(col("r_regionkey") <= i)
          .write.mode("overwrite").parquet(out)
      }
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((events.size < 2 ||
          LineageStore.read(spark, store).select("run_id")
            .distinct().count() < 2) && System.nanoTime() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val bodies = events.iterator().asScala.toSeq
      require(bodies.size >= 2, s"collector got ${bodies.size}/2 events")
      val types = bodies.flatMap(
        "\"eventType\":\"([A-Z]+)\"".r.findFirstMatchIn(_))
        .map(_.group(1)).distinct.sorted.mkString(",")
      val runIds = bodies.flatMap(
        "\"runId\":\"([0-9a-f-]+)\"".r.findFirstMatchIn(_))
        .map(_.group(1)).distinct.size
      val storeRuns = LineageStore.runs(spark, store).size
      val errors = LineageCapture.captureErrors(s, store)
      Seq(
        (1, "events_received", bodies.size.min(2).toString),
        (2, "event_types", types),
        (3, "distinct_run_uuids", runIds.toString),
        (4, "store_runs", storeRuns.toString),
        (5, "emit_errors", errors.toString))
    } finally {
      LineageCapture.detach(s, l)
      s.conf.unset("spark.graft.lineage.openlineage.url")
      collector.stop(0)
      (store +: outs).foreach(d =>
        deleteRecursively(java.nio.file.Paths.get(d)))
    }
    spark.createDataFrame(steps)
      .toDF("step", "phase", "detail").orderBy("step")
  }

  /** DuckDB oracle for [[openLineageAutoEmit]] — frozen golden: two
    * captured writes, two COMPLETE events with two distinct
    * (store,run)-derived UUIDs, two store runs, zero emit failures. */
  val openLineageAutoEmitOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'events_received', '2'),
    (2, 'event_types', 'COMPLETE'),
    (3, 'distinct_run_uuids', '2'),
    (4, 'store_runs', '2'),
    (5, 'emit_errors', '0')
    ) AS t(step, phase, detail)
    ORDER BY step"""

  /** MAINTENANCE LEASE as a driver query (q295, r20 — VERDICT r19
    * wrong #1, "single-maintainer" made mechanical): while another
    * maintainer holds the store's `_maintain` lease, a compact refuses
    * BY NAME ([[graft.lineage.MaintenanceBusyException]]) instead of
    * interleaving into the stale-manifest overwrite that loses
    * committed rows; appends never queue behind maintenance; release
    * re-opens the store; and a DEAD maintainer's expired lease is
    * stolen rather than wedging maintenance forever. */
  def maintenanceLease(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files
      .createTempDirectory("graft_lease_store").toString
    val steps = try {
      (1 to 4).foreach { i =>
        LineageStore.appendCaptured(spark, store, i.toLong,
          spark.createDataFrame(Seq(LineageEdge(i, "INSERT",
            s"db.sink_$i", s"db.sink_$i.c", "c", s"db.src.x$i", ""))))
      }
      val holder =
        LineageStore.acquireMaintenance(spark, store, "operator-a")
      val refused =
        try { LineageStore.compact(spark, store, 4L); "not_refused" }
        catch { case e: MaintenanceBusyException =>
          if (e.getMessage.contains("maintenance lease")) "by_name"
          else "unnamed" }
      // appends are lease-free: a held lease never blocks the workload
      LineageStore.appendCaptured(spark, store, 5L,
        spark.createDataFrame(Seq(LineageEdge(5, "INSERT",
          "db.sink_5", "db.sink_5.c", "c", "db.src.x5", ""))))
      LineageStore.releaseMaintenance(spark, store, holder)
      val folded = LineageStore.compact(spark, store, 4L)
      // a dead maintainer's lease, already expired: stolen, not fatal
      LineageStore.acquireMaintenance(spark, store, "dead-operator",
        leaseMs = -1000L)
      val folded2 = LineageStore.compact(spark, store, 5L)
      val rows = LineageStore.read(spark, store).count()
      Seq(
        (1, "held_lease_refused", refused),
        (2, "folded_after_release", folded.mkString(",")),
        (3, "expired_lease_stolen", folded2.mkString(",")),
        (4, "rows_intact", rows.toString))
    } finally deleteRecursively(java.nio.file.Paths.get(store))
    spark.createDataFrame(steps)
      .toDF("step", "phase", "detail").orderBy("step")
  }

  /** DuckDB oracle for [[maintenanceLease]] — frozen golden: the
    * concurrent compact refuses by name, the post-release compact
    * folds runs 1-4, the steal-and-compact folds run 5, and all five
    * writes' rows survive. */
  val maintenanceLeaseOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'held_lease_refused', 'by_name'),
    (2, 'folded_after_release', '1,2,3,4'),
    (3, 'expired_lease_stolen', '5'),
    (4, 'rows_intact', '5')
    ) AS t(step, phase, detail)
    ORDER BY step"""

  /** CLAIM-ORPHAN RECLAMATION as a driver query (q296, r20 — VERDICT
    * r19 missing #2): a claimer that died after `_claim` but before
    * its append leaves a directory forever — compact must skip it (the
    * append could be in flight) and vacuum only retires superseded
    * data. [[graft.lineage.LineageStore.vacuumClaims]] folds the stale
    * reservation into the manifest: the directory goes, the id stays
    * TAKEN (never silently reusable), the allocator jumps it, and a
    * claim still inside the age window is untouched and appendable. */
  def claimVacuum(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files
      .createTempDirectory("graft_claimvac_store").toString
    val steps = try {
      LineageStore.appendCaptured(spark, store, 1L,
        spark.createDataFrame(Seq(LineageEdge(1, "INSERT",
          "db.sink_1", "db.sink_1.c", "c", "db.src.x1", ""))))
      val orphan = LineageStore.claimRun(spark, store) // claimer dies
      val live = LineageStore.claimRun(spark, store)   // still appending
      // age only the orphan's claim past the window
      new java.io.File(store, s"run_id=$orphan/_claim")
        .setLastModified(System.currentTimeMillis() - 60000L)
      val reclaimed =
        LineageStore.vacuumClaims(spark, store, olderThanMs = 30000L)
      val dirGone = !new java.io.File(store, s"run_id=$orphan").exists()
      val stillTaken = LineageStore.runTaken(spark, store, orphan)
      // the slow-but-alive writer finishes its append untouched
      LineageStore.append(spark, store, live,
        spark.createDataFrame(Seq(LineageEdge(live.toInt, "INSERT",
          "db.sink_3", "db.sink_3.c", "c", "db.src.x3", ""))))
      val next = LineageStore.claimRun(spark, store)
      val rows = LineageStore.read(spark, store).count()
      Seq(
        (1, "reclaimed", reclaimed.mkString(",")),
        (2, "directory_gone", dirGone.toString),
        (3, "reservation_survives", stillTaken.toString),
        (4, "live_claim_appended", "true"),
        (5, "next_claim", next.toString),
        (6, "rows", rows.toString))
    } finally deleteRecursively(java.nio.file.Paths.get(store))
    spark.createDataFrame(steps)
      .toDF("step", "phase", "detail").orderBy("step")
  }

  /** DuckDB oracle for [[claimVacuum]] — frozen golden: exactly the
    * aged orphan (id 2) is reclaimed, its directory goes while the
    * reservation holds, the in-window claim (3) appends normally, and
    * the next allocation is 4. */
  val claimVacuumOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'reclaimed', '2'),
    (2, 'directory_gone', 'true'),
    (3, 'reservation_survives', 'true'),
    (4, 'live_claim_appended', 'true'),
    (5, 'next_claim', '4'),
    (6, 'rows', '2')
    ) AS t(step, phase, detail)
    ORDER BY step"""

  /** AUTO-COMPACTION as a driver query (q297, r20 — VERDICT r19
    * missing #3, maintenance was operator-driven):
    * `spark.graft.lineage.autocompact.every = 2` makes the capture
    * listener itself fold the store after every 2nd captured write —
    * off the listener bus, under the `_maintain` lease — so four
    * writes converge to a fully consolidated layout with zero POSTs
    * and zero library calls. Own session: the conf must not leak. */
  def autoCompact(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val store = java.nio.file.Files
      .createTempDirectory("graft_autocompact_store").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft_autocompact_out").toString
    val s = spark.newSession()
    s.conf.set("spark.graft.lineage.autocompact.every", "2")
    val l = LineageCapture.attachStore(s, store)
    val steps = try {
      (1 to 4).foreach { i =>
        s.read.parquet(s"$dir/region.parquet")
          .select(col("r_regionkey").as(s"k$i"))
          .write.mode("overwrite").parquet(out)
      }
      // poll until the listener's own triggers settle. The trigger
      // folds with the purge-grace DEFERRED cleanup (it races the
      // observed app's own reads by construction), so the partitions
      // are retired behind `_folded` markers — excluded from every
      // new read, data intact for any scan that listed them first —
      // and a later maintenance call deletes them aged.
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      // Poll the two FILE conditions first and only run the Spark
      // run-count read once both hold: the old poll launched a full
      // distinct-count job every 100 ms while the listener's async
      // fold was still in flight (guide §5 — driver-side busywork).
      // Same settle condition, same reported values.
      def state(): Option[(Boolean, Boolean, Long)] =
        try {
          val retired = (1 to 4).forall(i =>
            new java.io.File(store, s"run_id=$i/_folded").exists())
          val manifest = Option(
            new java.io.File(store, "_compacted").listFiles())
            .getOrElse(Array.empty)
            .exists(_.getName.startsWith("_manifest_"))
          val runCount =
            if (retired && manifest) LineageStore.read(spark, store)
              .select("run_id").distinct().count()
            else -1L
          Some((retired, manifest, runCount))
        } catch { case _: org.apache.spark.SparkException => None }
      var st = state()
      while (!st.exists(v => v._1 && v._2 && v._3 == 4L) &&
          System.nanoTime() < deadline) {
        Thread.sleep(100)
        st = state()
      }
      val (retired, manifest, runCount) =
        st.getOrElse((false, false, -1L))
      val segmentsOnly = LineageStore.read(spark, store)
        .inputFiles.forall(_.contains("/_compacted/"))
      Seq(
        (1, "partitions_retired", retired.toString),
        (2, "manifest_committed", manifest.toString),
        (3, "distinct_runs", runCount.toString),
        (4, "ids", LineageStore.runs(spark, store).mkString(",")),
        (5, "reads_from_segments_only", segmentsOnly.toString),
        (6, "capture_errors",
          LineageCapture.captureErrors(s, store).toString))
    } finally {
      LineageCapture.detach(s, l)
      s.conf.unset("spark.graft.lineage.autocompact.every")
      Seq(store, out).foreach(d =>
        deleteRecursively(java.nio.file.Paths.get(d)))
    }
    spark.createDataFrame(steps)
      .toDF("step", "phase", "detail").orderBy("step")
  }

  /** DuckDB oracle for [[autoCompact]] — frozen golden: the listener's
    * own triggers fold all four partitions behind a committed
    * manifest with grace-deferred cleanup (retired markers, data
    * intact for in-flight readers), new reads plan from the segments
    * alone, all four runs survive, zero errors. */
  val autoCompactOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'partitions_retired', 'true'),
    (2, 'manifest_committed', 'true'),
    (3, 'distinct_runs', '4'),
    (4, 'ids', '1,2,3,4'),
    (5, 'reads_from_segments_only', 'true'),
    (6, 'capture_errors', '0')
    ) AS t(step, phase, detail)
    ORDER BY step"""

  /** GRACE-DEFERRED MAINTENANCE CLEANUP as a driver query (q298, r20):
    * a reader that LISTED partition files before a compact commits
    * must complete — the historical immediate deletion failed exactly
    * those scans mid-flight. With `cleanupGraceMs`, the fold retires
    * partitions behind `_folded` markers (invisible to NEW reads,
    * which plan from the segments alone; never fold candidates again)
    * and a later maintenance call deletes them once the marker ages —
    * the two-phase-vacuum shape applied to compaction's deletes. */
  def graceCleanup(spark: SparkSession, dir: String): DataFrame = {
    val store = java.nio.file.Files
      .createTempDirectory("graft_grace_store").toString
    val steps = try {
      (1 to 4).foreach { i =>
        LineageStore.appendCaptured(spark, store, i.toLong,
          spark.createDataFrame(Seq(LineageEdge(i, "INSERT",
            s"db.sink_$i", s"db.sink_$i.c", "c", s"db.src.x$i", ""))))
      }
      // this reader's file listing happens NOW, before the fold
      val inFlight = LineageStore.read(spark, store)
      val folded = LineageStore.compact(spark, store, 4L,
        cleanupGraceMs = 3600L * 1000)
      val inFlightRows = inFlight.count() // completes: nothing deleted
      val retired = (1 to 4).forall(i =>
        new java.io.File(store, s"run_id=$i/_folded").exists())
      val fresh = LineageStore.read(spark, store)
      val segmentsOnly =
        fresh.inputFiles.forall(_.contains("/_compacted/"))
      val freshRows = fresh.count()
      val refold = LineageStore.compact(spark, store, 4L,
        cleanupGraceMs = 3600L * 1000)
      // age the markers: the next maintenance call sweeps for real
      (1 to 4).foreach(i => new java.io.File(store,
          s"run_id=$i/_folded")
        .setLastModified(System.currentTimeMillis() - 7200L * 1000))
      LineageStore.compact(spark, store, 4L,
        cleanupGraceMs = 3600L * 1000)
      val swept = (1 to 4).forall(i =>
        !new java.io.File(store, s"run_id=$i").exists())
      val finalRows = LineageStore.read(spark, store).count()
      Seq(
        (1, "folded", folded.mkString(",")),
        (2, "in_flight_reader_rows", inFlightRows.toString),
        (3, "partitions_retired", retired.toString),
        (4, "new_reads_segments_only", segmentsOnly.toString),
        (5, "fresh_rows", freshRows.toString),
        (6, "never_refolded", refold.isEmpty.toString),
        (7, "aged_sweep_clean", swept.toString),
        (8, "rows_after_sweep", finalRows.toString))
    } finally deleteRecursively(java.nio.file.Paths.get(store))
    spark.createDataFrame(steps)
      .toDF("step", "phase", "detail").orderBy("step")
  }

  /** DuckDB oracle for [[graceCleanup]] — frozen golden: the fold
    * commits, the pre-fold reader still counts every row, partitions
    * retire behind markers while fresh reads plan from segments only,
    * retired partitions are never re-folded, and the aged sweep
    * deletes them with the graph intact. */
  val graceCleanupOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'folded', '1,2,3,4'),
    (2, 'in_flight_reader_rows', '4'),
    (3, 'partitions_retired', 'true'),
    (4, 'new_reads_segments_only', 'true'),
    (5, 'fresh_rows', '4'),
    (6, 'never_refolded', 'true'),
    (7, 'aged_sweep_clean', 'true'),
    (8, 'rows_after_sweep', '4')
    ) AS t(step, phase, detail)
    ORDER BY step"""

  /** The edge set as Graphviz DOT at TABLE grain — the picture a
    * lineage UI draws: one node per table (sinks and sources), one
    * edge per (source table → sink table) pair that any statement
    * establishes. Deterministic (sorted nodes/edges, duplicates
    * collapsed); sink-less statements contribute nothing. The input is
    * service-sized (a snapshot or a request's edges), so the collect
    * is bounded by the graph being drawn. */
  def toDot(edgesDf: DataFrame, grain: String = "table"): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val rows = edgesDf
      .select("table_name", "from_name", "col_name", "to_name").collect()
    val pairs = rows.iterator.flatMap { r =>
      val dst = r.getString(0)
      if (dst == "<EOF>") Iterator.empty
      else r.getString(1).split("[,&]").iterator.filter(_.nonEmpty)
        .map { src =>
          if (grain == "column") {
            // node = db.table.col; the sink column prefers the
            // schema-resolved name, falling back to the parsed alias
            val d = Option(r.getString(2)).filter(_.nonEmpty)
              .getOrElse(s"$dst.${r.getString(3)}")
            (src, d)
          } else {
            val p = src.split('.')
            (p.dropRight(1).mkString("."), dst)
          }
        }
    }.filter(_._1.nonEmpty).toSeq.distinct.sorted
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val sb = new StringBuilder("digraph lineage {\n  rankdir=LR;\n")
    nodes.foreach(n => sb.append("  \"").append(esc(n)).append("\";\n"))
    pairs.foreach { case (s, d) =>
      sb.append("  \"").append(esc(s)).append("\" -> \"")
        .append(esc(d)).append("\";\n")
    }
    sb.append("}\n").toString
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    graft.Cleanup.deleteRecursively(p)

  /** Run independent store appends concurrently (guide §2.6 — Spark
    * schedules concurrent jobs fine; the store's marker/commit
    * protocol is multi-writer by design, which q288 pins). Bounded
    * pool: enough to hide the per-append write-job latency, not
    * enough to contend. Fails fast on the first append error. */
  private def parallelAppends(ids: Range)(append: Int => Unit): Unit = {
    val pool = Lanes(math.min(4, ids.size), i => s"graft-lineage-append-$i")
    try {
      val fs = ids.map(i => pool.submit(
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = append(i)
        }))
      fs.foreach(_.get())
    } catch {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    } finally pool.shutdown()
  }

  /** DuckDB oracle for [[sinkCaptureEdges]] — frozen VALUES golden
    * (both shapes are path-free by construction). */
  val sinkCaptureOracleSql: String =
    """SELECT * FROM (VALUES
    (1, 'default.lineage_stream_sink', 'default.lineage_stream_sink.sk_key', 'doc_id', 'stream.memory._1', ''),
    (1, 'default.lineage_stream_sink', 'default.lineage_stream_sink.sk_text', 'text', 'stream.memory._2', ''),
    (2, 'stream.MemorySink[graft_q276_sink]', '', 'doc_id', 'stream.memory._1', 'WHERE:(doc_id > CAST(3 AS BIGINT))'),
    (2, 'stream.MemorySink[graft_q276_sink]', '', 'text', 'stream.memory._2', 'WHERE:(doc_id > CAST(3 AS BIGINT))')
    ) AS t(stmt, table_name, col_name, to_name, from_name, conditions)
    ORDER BY stmt, to_name, from_name"""

  /** IMPACT ANALYSIS over the corpus lineage — the question a lineage
    * service exists to answer ("if this table changes, what breaks?").
    * Lineage output is itself a Dataset (SURVEY §1.3), so the analysis
    * is ordinary DataFrame algebra over [[edges]]: split each edge's
    * composite source encoding (`,` within an expression, `&` across
    * union branches), reduce `db.table.col` to `db.table`, and count
    * per source table the edges, distinct destination columns, and
    * distinct statements it feeds. */
  def impact(spark: SparkSession, dir: String): DataFrame =
    impactRollup(edges(spark, dir))

  /** IMPACT over the WHOLE lineage graph — batch corpus, streaming
    * shapes, and the typed-boundary twins in one rollup (q273,
    * VERDICT r15 #8): "what breaks downstream if this stream source's
    * schema changes" is now the same question as the batch one, with
    * `stream.<source>` fan-out counted beside `db.table`. Statement
    * indices are disjointed per corpus (streaming +1000, typed +2000)
    * so same-numbered statements never merge. */
  def impactAll(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val all = edges(spark, dir)
      .unionAll(streamingEdges(spark, dir)
        .withColumn("stmt", col("stmt") + lit(1000)))
      .unionAll(typedEdges(spark, dir)
        .withColumn("stmt", col("stmt") + lit(2000)))
    impactRollup(all)
  }

  /** The per-source-table rollup shared by [[impact]] (batch corpus),
    * [[impactAll]] (batch + streaming + typed), and the service's
    * `/impact` endpoint. */
  private[lineage] def impactRollup(edgesDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    edgesDf
      .select(col("stmt"), col("to_name"),
        explode(split(col("from_name"), "[,&]")).as("src"))
      .filter(col("src") =!= "")
      // the source table is everything before the LAST dot (the column)
      // — names are two-part (db.table) in the session catalog and
      // three-part (catalog.db.table) elsewhere, so a fixed-width
      // prefix slice would truncate the latter
      .withColumn("p", split(col("src"), "\\."))
      .select(col("stmt"), col("to_name"),
        concat_ws(".", slice(col("p"), lit(1), size(col("p")) - 1))
          .as("src_table"))
      // mirror the oracle's WHERE src_table <> '' (ADVICE r16): a
      // dot-free source name (unreachable today — sources are always
      // >= 2-part) would otherwise group under '' on this side only
      .filter(col("src_table") =!= "")
      .groupBy("src_table")
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(concat_ws(":", col("stmt"), col("to_name")))
          .as("n_dest_cols"),
        countDistinct(col("stmt")).as("n_statements"))
      .orderBy("src_table")
  }

  /** COLUMN-LEVEL TRANSITIVE IMPACT — the finer-grained sibling of
    * [[impact]]: which downstream COLUMNS (not just tables) derive,
    * through any chain of statements, from each base-table source
    * column? Statement A writing `t.c` and statement B reading `t.c`
    * into its own sink CHAINS — that is what makes lineage a graph
    * rather than per-statement edge lists, and "can I drop / change
    * the type of THIS column" is the question column-level lineage
    * services exist to answer.
    *
    * Edge normalization: composite sources split on `,` (within an
    * expression) and `&` (across union branches); a `<EOF>` sink
    * (plain SELECT) is qualified by its statement number so ad-hoc
    * reads never collide or chain. Closure: iterative join rounds TO
    * FIXPOINT (each round is one self-equi-join + min-depth aggregate,
    * the [[graft.operators.Graph]] posture — see [[closure]]), keeping
    * the MIN depth per (src, dst) pair, so a pipeline of any depth
    * reports exact reach. Roots = source columns never produced by any
    * statement (true base-table columns).
    *
    * Returns (src_col, n_reach, max_depth): how many distinct
    * downstream columns the source feeds and how deep the longest
    * minimal chain runs. */
  def columnImpact(spark: SparkSession, dir: String): DataFrame =
    columnImpactFrom(edges(spark, dir))

  /** [[columnImpact]] over the WHOLE graph (q275): batch ∪ streaming ∪
    * typed edges with per-corpus statement offsets — "which downstream
    * COLUMNS derive from this stream source's column, through any
    * chain" completes the q273 story at column grain. */
  def columnImpactAll(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    columnImpactFrom(edges(spark, dir)
      .unionAll(streamingEdges(spark, dir)
        .withColumn("stmt", col("stmt") + lit(1000)))
      .unionAll(typedEdges(spark, dir)
        .withColumn("stmt", col("stmt") + lit(2000))))
  }

  private[lineage] def columnImpactFrom(edgesDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // Destination node identity: the SINK column when the edge has one
    // (col_name is already db.table.col) — a downstream statement reads
    // the sink's column NAME, not this statement's select alias, so
    // keying sinks by to_name would break every chain through an
    // INSERT (r17 fix; latent while the frozen corpus was chain-free,
    // caught by the /column-impact service case). <EOF> sinks keep the
    // statement-qualified alias (ad-hoc reads never chain).
    val e = edgesDf
      .select(explode(split(col("from_name"), "[,&]")).as("src"),
        when(col("col_name") =!= "", col("col_name"))
          .when(col("table_name") === "<EOF>",
            concat_ws(".", col("table_name"), col("stmt"), col("to_name")))
          .otherwise(concat_ws(".", col("table_name"), col("to_name")))
          .as("dst"))
      .filter(col("src") =!= "")
      .distinct()
      .localCheckpoint()
    val reach = closure(e)
    val roots = e.select(col("src")).distinct()
      .join(e.select(col("dst").as("src")).distinct(), Seq("src"),
        "left_anti")
    reach.join(roots, "src")
      .groupBy(col("src").as("src_col"))
      .agg(countDistinct(col("dst")).as("n_reach"),
        max(col("depth")).as("max_depth"))
      .orderBy("src_col")
  }

  /** Min-depth transitive closure of a (src, dst) edge frame, iterated
    * TO FIXPOINT (VERDICT r16 #1 — the former hard depth-4 cap
    * silently truncated `n_reach`/`max_depth` on pipelines deeper than
    * 4 stages, the exact miscount q191/q275 exist to prevent) —
    * [[columnImpact]]'s engine, factored so the multi-hop semantics
    * are spec-testable beyond the frozen corpus. Each round: one
    * self-equi-join extending every known path by one edge, then a
    * min-depth aggregate — both map-side combinable — followed by a
    * `localCheckpoint` (truncates the growing plan lineage; at
    * warehouse scale each round is one bounded distributed job) and a
    * count-stability convergence check. The check is sufficient, not
    * just necessary: after round k the reach holds exactly the pairs
    * at min path length ≤ k+1 with their EXACT min depth (the BFS
    * invariant — extensions of exact-min prefixes, min-merged across
    * intermediates), so a round that adds no new pair can never
    * change a depth either. Cycles (statement 36's self-edge) are
    * safe: they only re-derive existing pairs at larger depths, which
    * the min-aggregate discards. `maxDepth` is a runaway guard for
    * pathological graphs, not a semantic cap — at the default no real
    * warehouse pipeline comes near it. */
  private[lineage] def closure(edgesDf: org.apache.spark.sql.DataFrame,
                               maxDepth: Int = 64): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    var reach = edgesDf.withColumn("depth", lit(1L)).localCheckpoint()
    var nPairs = reach.count()
    var round = 1
    var converged = false
    while (!converged && round < maxDepth) {
      val next = reach.as("r")
        .join(edgesDf.as("e2"), col("r.dst") === col("e2.src"))
        .select(col("r.src"), col("e2.dst").as("dst"),
          (col("r.depth") + 1L).as("depth"))
      reach = reach.unionAll(next)
        .groupBy("src", "dst").agg(min("depth").as("depth"))
        .localCheckpoint()
      val n = reach.count()
      converged = n == nPairs
      nPairs = n
      round += 1
    }
    reach
  }

  /** The batch ∪ streaming ∪ typed golden union, statement indices
    * disjointed exactly as the Spark side does — the shared inner
    * relation of the q273/q275 oracles. */
  private lazy val unionGoldenSql: String =
    s"""SELECT * FROM ($oracleSql)
        UNION ALL
        SELECT stmt + 1000 AS stmt, table_name, col_name, to_name,
               from_name, conditions
        FROM ($streamingLineageOracleSql)
        UNION ALL
        SELECT stmt + 2000 AS stmt, table_name, col_name, to_name,
               from_name, conditions
        FROM ($typedLineageOracleSql)"""

  /** DuckDB oracle for [[columnImpact]] — the same normalization and a
    * recursive closure over the frozen edge golden. The `depth < 32`
    * guard is what bounds recursion through the golden's one cycle
    * (statement 36's self-edge re-derives pairs at ever-larger depths;
    * DuckDB's UNION dedup alone can't stop that) — it is far above any
    * corpus chain, so like the Spark side's `maxDepth` runaway guard
    * it never binds semantically. */
  lazy val columnImpactOracleSql: String = columnImpactOracle(oracleSql)

  /** DuckDB oracle for [[columnImpactAll]] (q275). */
  lazy val columnImpactAllOracleSql: String =
    columnImpactOracle(unionGoldenSql)

  private def columnImpactOracle(inner: String): String =
    s"""WITH RECURSIVE ed AS (
          SELECT DISTINCT
                 unnest(string_split_regex(from_name, '[,&]')) AS src,
                 CASE WHEN col_name <> '' THEN col_name
                      WHEN table_name = '<EOF>'
                      THEN table_name || '.' || stmt || '.' || to_name
                      ELSE table_name || '.' || to_name END AS dst
          FROM ($inner)
          WHERE from_name <> ''),
        e2 AS (SELECT src, dst FROM ed WHERE src <> ''),
        r(src, dst, depth) AS (
          SELECT src, dst, 1 FROM e2
          UNION
          SELECT r.src, e.dst, r.depth + 1
          FROM r JOIN e2 e ON r.dst = e.src
          WHERE r.depth < 32),
        md AS (SELECT src, dst, min(depth) AS depth
               FROM r GROUP BY src, dst),
        roots AS (
          SELECT DISTINCT src FROM e2
          WHERE src NOT IN (SELECT dst FROM e2))
        SELECT md.src AS src_col,
               CAST(count(DISTINCT md.dst) AS BIGINT) AS n_reach,
               CAST(max(md.depth) AS BIGINT) AS max_depth
        FROM md JOIN roots ON md.src = roots.src
        GROUP BY md.src
        ORDER BY src_col"""

  /** DuckDB oracle for the q192 lineage regression gate: the same
    * distinct-edge key, the same full-outer classification as
    * [[graft.operators.Reconcile.rowDiff]], over the frozen golden
    * with the simulated previous run (stmt ≤ 35). */
  lazy val lineageDiffOracleSql: String =
    s"""WITH cur AS (
          SELECT DISTINCT stmt || '|' || table_name || '|' || col_name
                   || '|' || to_name || '|' || from_name AS k,
                 conditions
          FROM ($oracleSql)),
        prev AS (SELECT k, conditions FROM cur
                 WHERE CAST(string_split(k, '|')[1] AS BIGINT) <= 35),
        j AS (
          SELECT p.k AS ka, c.k AS kb,
                 p.conditions AS ac, c.conditions AS bc
          FROM prev p FULL JOIN cur c ON p.k = c.k)
        SELECT metric, n FROM (
          SELECT 'added' AS metric,
                 CAST(count(*) FILTER (WHERE ka IS NULL) AS BIGINT) AS n
          FROM j
          UNION ALL
          SELECT 'removed',
                 CAST(count(*) FILTER (WHERE kb IS NULL) AS BIGINT) FROM j
          UNION ALL
          SELECT 'rows_changed',
                 CAST(count(*) FILTER (WHERE ka IS NOT NULL
                   AND kb IS NOT NULL AND ac IS DISTINCT FROM bc)
                   AS BIGINT)
          FROM j
          UNION ALL
          SELECT 'rows_same',
                 CAST(count(*) FILTER (WHERE ka IS NOT NULL
                   AND kb IS NOT NULL AND ac IS NOT DISTINCT FROM bc)
                   AS BIGINT)
          FROM j
          UNION ALL
          SELECT 'col_changed:conditions',
                 CAST(count(*) FILTER (WHERE ka IS NOT NULL
                   AND kb IS NOT NULL AND ac IS DISTINCT FROM bc)
                   AS BIGINT)
          FROM j)
        ORDER BY metric"""

  /** DuckDB oracle for [[streamingEdges]] — a frozen VALUES golden
    * (lineage depends only on the shapes; MemoryStream leaves carry no
    * environment-dependent path). `_1.._4` are the memory relation's
    * native tuple columns under the `ts/user_id/event_type/value`
    * renames. */
  val streamingLineageOracleSql: String =
    """SELECT * FROM (VALUES
    (1, '<EOF>', '', 'user_id', 'stream.memory._2', 'WHERE:(event_type = ''click'')'),
    (1, '<EOF>', '', 'value', 'stream.memory._4', 'WHERE:(event_type = ''click'')'),
    (2, '<EOF>', '', 'event_type', 'stream.memory._3', 'WATERMARK:ts DELAY 10 minutes|WHERE:(ts IS NOT NULL)'),
    (2, '<EOF>', '', 'n', '', 'WATERMARK:ts DELAY 10 minutes|WHERE:(ts IS NOT NULL)'),
    (3, '<EOF>', '', 'n_name', 'default.nation.n_name', 'JOIN:(user_id = CAST(nation.n_nationkey AS BIGINT))'),
    (3, '<EOF>', '', 'value', 'stream.memory._4', 'JOIN:(user_id = CAST(nation.n_nationkey AS BIGINT))'),
    (4, '<EOF>', '', 'id', 'stream.memory._2&stream.memory._4', ''),
    (5, 'default.lineage_target', 'default.lineage_target.tgt_key', 'user_id', 'stream.memory._2', ''),
    (5, 'default.lineage_target', 'default.lineage_target.tgt_name', 'event_type', 'stream.memory._3', '')
    ) AS t(stmt, table_name, col_name, to_name, from_name, conditions)
    ORDER BY stmt, to_name, from_name"""

  /** DuckDB oracle for [[typedEdges]] — a frozen VALUES golden: the
    * conservative typed-boundary contract over fixed MemoryStream
    * shapes depends on nothing environmental. */
  val typedLineageOracleSql: String =
    """SELECT * FROM (VALUES
    (1, '<EOF>', '', 'from_type', 'stream.memory.event_id,stream.memory.event_type,stream.memory.us,stream.memory.user_id', 'FUNC:AppendColumns|FUNC:TransformWithState'),
    (1, '<EOF>', '', 'to_type', 'stream.memory.event_id,stream.memory.event_type,stream.memory.us,stream.memory.user_id', 'FUNC:AppendColumns|FUNC:TransformWithState'),
    (1, '<EOF>', '', 'user_id', 'stream.memory.event_id,stream.memory.event_type,stream.memory.us,stream.memory.user_id', 'FUNC:AppendColumns|FUNC:TransformWithState'),
    (2, '<EOF>', '', 'doc_a', 'stream.memory._1,stream.memory._2', 'FUNC:AppendColumns|FUNC:TransformWithState|WHERE:(text IS NOT NULL)'),
    (2, '<EOF>', '', 'doc_b', 'stream.memory._1,stream.memory._2', 'FUNC:AppendColumns|FUNC:TransformWithState|WHERE:(text IS NOT NULL)'),
    (2, '<EOF>', '', 'est_permille', 'stream.memory._1,stream.memory._2', 'FUNC:AppendColumns|FUNC:TransformWithState|WHERE:(text IS NOT NULL)')
    ) AS t(stmt, table_name, col_name, to_name, from_name, conditions)
    ORDER BY stmt, to_name, from_name"""

  /** DuckDB oracle for [[impact]] — the same rollup over the frozen
    * edge golden (the [[oracleSql]] VALUES relation as a subquery). */
  lazy val impactOracleSql: String =
    s"""SELECT src_table,
          CAST(count(*) AS BIGINT) AS n_edges,
          CAST(count(DISTINCT stmt || ':' || to_name) AS BIGINT)
            AS n_dest_cols,
          CAST(count(DISTINCT stmt) AS BIGINT) AS n_statements
        FROM (
          SELECT stmt, to_name,
                 array_to_string(p[1:len(p)-1], '.') AS src_table
          FROM (
            SELECT stmt, to_name,
                   string_split(unnest(
                     string_split_regex(from_name, '[,&]')), '.') AS p
            FROM ($oracleSql)))
        WHERE src_table <> ''
        GROUP BY src_table
        ORDER BY src_table"""

  /** DuckDB oracle for [[impactAll]] — the same rollup over the union
    * of the three frozen goldens, statement indices disjointed exactly
    * as the Spark side does. */
  lazy val impactAllOracleSql: String =
    s"""SELECT src_table,
          CAST(count(*) AS BIGINT) AS n_edges,
          CAST(count(DISTINCT stmt || ':' || to_name) AS BIGINT)
            AS n_dest_cols,
          CAST(count(DISTINCT stmt) AS BIGINT) AS n_statements
        FROM (
          SELECT stmt, to_name,
                 array_to_string(p[1:len(p)-1], '.') AS src_table
          FROM (
            SELECT stmt, to_name,
                   string_split(unnest(
                     string_split_regex(from_name, '[,&]')), '.') AS p
            FROM ($unionGoldenSql)))
        WHERE src_table <> ''
        GROUP BY src_table
        ORDER BY src_table"""

  /** DuckDB oracle for [[operations]] — the DDL tab encoding goes
    * through chr(9) so the SQL itself stays control-character-free. */
  val opsOracleSql: String =
    """SELECT stmt, operation, input_tables, output_tables FROM (VALUES
    (1, 'USE', '', 'graftdb'),
    (2, 'SELECT', 'graftdb.nation', ''),
    (3, 'DROP', '', 'graftdb.lineage_target' || chr(9) || 'DROP'),
    (4, 'TRUNCATE', '', 'graftdb.lineage_target' || chr(9) || 'TRUNCATE'),
    (5, 'LOAD', '', 'graftdb.lineage_target' || chr(9) || 'LOAD'),
    (6, 'ALTER', '', 'graftdb.lineage_target' || chr(9) || 'ALTER'),
    (7, 'ALTER', '', 'graftdb.lineage_target' || chr(9) || 'ALTER'),
    (8, 'SELECT', 'graftdb.nation', ''),
    (9, 'INSERT', 'graftdb.nation', 'graftdb.lineage_target')
    ) AS t(stmt, operation, input_tables, output_tables)
    ORDER BY stmt"""

  /** DuckDB oracle: the frozen golden as inline VALUES (lineage depends
    * only on the corpus + fixture schemas, never the scale factor).
    * Refresh together with LineageSpec via LineageProbe. */
  val oracleSql: String =
    """SELECT * FROM (VALUES
    (1, '<EOF>', '', 'n_name', 'default.nation.n_name', 'WHERE:(nation.n_regionkey = 0)'),
    (1, '<EOF>', '', 'n_nationkey', 'default.nation.n_nationkey', 'WHERE:(nation.n_regionkey = 0)'),
    (2, '<EOF>', '', 'c_name', 'default.customer.c_name', 'JOIN:(c.c_custkey = o.o_custkey)|WHERE:(o.o_totalprice > CAST(1000.0BD AS DOUBLE))'),
    (2, '<EOF>', '', 'o_totalprice', 'default.orders.o_totalprice', 'JOIN:(c.c_custkey = o.o_custkey)|WHERE:(o.o_totalprice > CAST(1000.0BD AS DOUBLE))'),
    (3, '<EOF>', '', 'n_name', 'default.nation.n_name', 'LEFTOUTERJOIN:(n.n_regionkey = r.r_regionkey)'),
    (3, '<EOF>', '', 'r_name', 'default.region.r_name', 'LEFTOUTERJOIN:(n.n_regionkey = r.r_regionkey)'),
    (4, '<EOF>', '', 'buyer_count', 'default.orders.o_custkey', 'COLFUN:count(DISTINCT orders.o_custkey)'),
    (5, '<EOF>', '', 'cls', 'default.orders.o_orderpriority,default.orders.o_orderstatus,default.orders.o_totalprice', 'COLFUN:CASE WHEN (orders.o_totalprice > CAST(100.0BD AS DOUBLE)) THEN orders.o_orderstatus ELSE orders.o_orderpriority END'),
    (6, '<EOF>', '', 'o_orderkey', 'default.orders.o_orderkey', 'WHERE:((orders.o_orderstatus IN (''F'', ''O'')) AND (orders.o_orderpriority IS NOT NULL))'),
    (7, '<EOF>', '', 'tag', 'default.customer.c_mktsegment,default.customer.c_name', 'COLFUN:concat(customer.c_name, customer.c_mktsegment)'),
    (8, '<EOF>', '', 'e0', 'default.embeddings.embedding', 'COLFUN:embeddings.embedding[0]'),
    (9, '<EOF>', '', 'r_name', 'default.region.r_name', ''),
    (9, '<EOF>', '', 'r_regionkey', 'default.region.r_regionkey', ''),
    (10, '<EOF>', '', 'k', 'default.nation.n_nationkey', 'JOIN:(nation.n_regionkey = region.r_regionkey)|WHERE:(x.k > 3)'),
    (11, '<EOF>', '', 'id', 'default.customer.c_custkey&default.supplier.s_suppkey', ''),
    (12, '<EOF>', '', 'n_name', 'default.nation.n_name', ''),
    (12, '<EOF>', '', 'num', '', 'COLFUN:123'),
    (12, '<EOF>', '', 'str', '', 'COLFUN:''x'''),
    (13, '<EOF>', '', 'o_custkey', 'default.orders.o_custkey', 'WHERE:(orders.o_totalprice > CAST(500.0BD AS DOUBLE))'),
    (14, 'default.lineage_target', 'default.lineage_target.tgt_name', 'n_name', 'default.nation.n_name', 'WHERE:(nation.n_regionkey = 1)'),
    (14, 'default.lineage_target', 'default.lineage_target.tgt_key', 'n_nationkey', 'default.nation.n_nationkey', 'WHERE:(nation.n_regionkey = 1)'),
    (15, '<EOF>', '', 'n_name', 'default.nation.n_name', 'RIGHTOUTERJOIN:(s.s_nationkey = n.n_nationkey)'),
    (15, '<EOF>', '', 's_name', 'default.supplier.s_name', 'RIGHTOUTERJOIN:(s.s_nationkey = n.n_nationkey)'),
    (16, '<EOF>', '', 'c_name', 'default.customer.c_name', 'FULLOUTERJOIN:(c.c_nationkey = n.n_nationkey)'),
    (17, '<EOF>', '', 'c_name', 'default.customer.c_name', 'LEFTSEMIJOIN:(customer.c_custkey = orders.o_custkey)'),
    (18, '<EOF>', '', 'doc_id', 'default.documents.doc_id', ''),
    (18, '<EOF>', '', 'tok', 'default.documents.text', 'COLFUN:explode(split(documents.text, '' '', -1))'),
    (19, '<EOF>', '', 'o_orderkey', 'default.orders.o_orderkey', ''),
    (19, '<EOF>', '', 'rn', 'default.orders.o_custkey,default.orders.o_orderdate', ''),
    (20, '<EOF>', '', 'k1', 'default.orders.o_orderkey', 'COLFUN:(orders.o_orderkey + CAST(1 AS BIGINT))'),
    (20, '<EOF>', '', 'k2', 'default.orders.o_orderkey', 'COLFUN:(orders.o_orderkey & CAST(255 AS BIGINT))'),
    (21, 'default.lineage_target', 'default.lineage_target.tgt_name', 'n_name', 'default.nation.n_name', ''),
    (21, 'default.lineage_target', 'default.lineage_target.tgt_key', 'n_nationkey', 'default.nation.n_nationkey', ''),
    (22, '<EOF>', '', 'o_orderkey', 'default.orders.o_orderkey', 'WHERE:((orders.o_orderstatus IS NULL) OR orders.o_orderpriority LIKE ''1%'')'),
    (23, '<EOF>', '', 'o_orderkey', 'default.orders.o_orderkey', 'WHERE:(orders.o_custkey IN (subquery(default.customer)))'),
    (24, 'default.lineage_target', 'default.lineage_target.tgt_name', 'n_name', 'default.nation.n_name', 'WHERE:(nation.n_regionkey = 2)'),
    (24, 'default.lineage_target2', 'default.lineage_target2.tgt2_name', 'n_name', 'default.nation.n_name', ''),
    (24, 'default.lineage_target', 'default.lineage_target.tgt_key', 'n_nationkey', 'default.nation.n_nationkey', 'WHERE:(nation.n_regionkey = 2)'),
    (24, 'default.lineage_target2', 'default.lineage_target2.tgt2_region', 'n_regionkey', 'default.nation.n_regionkey', ''),
    (25, '<EOF>', '', 'id', 'default.customer.c_custkey&default.supplier.s_suppkey&default.nation.n_nationkey', ''),
    (26, 'default.lineage_ctas', '', 'r_name', 'default.region.r_name', 'WHERE:(region.r_regionkey < 3)'),
    (26, 'default.lineage_ctas', '', 'r_regionkey', 'default.region.r_regionkey', 'WHERE:(region.r_regionkey < 3)'),
    (27, '<EOF>', '', 'big_total', 'default.orders.o_totalprice', 'WHERE:(`count(1)` > CAST(5 AS BIGINT))'),
    (27, '<EOF>', '', 'o_orderstatus', 'default.orders.o_orderstatus', 'WHERE:(`count(1)` > CAST(5 AS BIGINT))'),
    (28, '<EOF>', '', 'n_name', 'default.nation.n_name', ''),
    (28, '<EOF>', '', 'r_name', 'default.region.r_name', ''),
    (29, '<EOF>', '', 'c_name', 'default.customer.c_name', 'LEFTANTIJOIN:(customer.c_custkey = orders.o_custkey)'),
    (30, '<EOF>', '', 'n_name', 'default.nation.n_name', 'JOIN:(a.n_regionkey = b.n_regionkey)'),
    (30, '<EOF>', '', 'other', 'default.nation.n_name', 'JOIN:(a.n_regionkey = b.n_regionkey)'),
    (31, '<EOF>', '', 'max_cust', 'default.customer.c_custkey', 'COLFUN:scalarsubquery()'),
    (31, '<EOF>', '', 'o_orderkey', 'default.orders.o_orderkey', ''),
    (32, '<EOF>', '', 'k', 'default.nation.n_regionkey&default.region.r_regionkey', ''),
    (33, '<EOF>', '', 'c_name', 'default.customer.c_name', ''),
    (34, 'default.lineage_part', 'default.lineage_part.part_name', 'n_name', 'default.nation.n_name', 'WHERE:(nation.n_regionkey = 3)'),
    (34, 'default.lineage_part', 'default.lineage_part.part_key', 'n_nationkey', 'default.nation.n_nationkey', 'WHERE:(nation.n_regionkey = 3)'),
    (35, '<EOF>', '', 'v_name', 'default.nation.n_name', 'WHERE:(lineage_view.v_key > 2)|WHERE:(nation.n_regionkey < 4)'),
    (36, 'default.lineage_target', 'default.lineage_target.tgt_name', 'tgt_name', 'default.lineage_target.tgt_name', 'WHERE:(tgt_key < 5)'),
    (37, 'default.lineage_target', 'default.lineage_target.tgt_key', 'tgt_key', 'default.nation.n_nationkey', 'MERGE:(t.tgt_key = s.k)'),
    (37, 'default.lineage_target', 'default.lineage_target.tgt_name', 'tgt_name', 'default.nation.n_name', 'MERGE:(t.tgt_key = s.k)'),
    (37, 'default.lineage_target', 'default.lineage_target.tgt_name', 'tgt_name', 'default.nation.n_name', 'MERGE:(t.tgt_key = s.k)'),
    (38, 'default.dest1', 'default.dest1.d_ds', 'ds', 'default.srcpart.ds', 'WHERE:((s.ds = ''2008-04-08'') AND (s.hr = ''11''))'),
    (38, 'default.dest1', 'default.dest1.d_hr', 'hr', 'default.srcpart.hr', 'WHERE:((s.ds = ''2008-04-08'') AND (s.hr = ''11''))'),
    (38, 'default.dest1', 'default.dest1.d_key', 'key', 'default.srcpart.key', 'WHERE:((s.ds = ''2008-04-08'') AND (s.hr = ''11''))'),
    (38, 'default.dest1', 'default.dest1.d_value', 'value', 'default.srcpart.value', 'WHERE:((s.ds = ''2008-04-08'') AND (s.hr = ''11''))'),
    (39, '<EOF>', '', 'k', 'default.nation.n_regionkey&default.region.r_regionkey', ''),
    (40, 'default.lineage_rtas', '', 'n_name', 'default.nation.n_name', 'WHERE:(nation.n_regionkey = 1)'),
    (41, '<EOF>', '', 'd_key', 'testcat.ns1.cat_docs.d_key', 'WHERE:(testcat.ns1.cat_docs.d_key > CAST(1 AS BIGINT))'),
    (41, '<EOF>', '', 'd_name', 'testcat.ns1.cat_docs.d_name', 'WHERE:(testcat.ns1.cat_docs.d_key > CAST(1 AS BIGINT))'),
    (42, 'testcat.ns1.cat_sink', 'testcat.ns1.cat_sink.s_key', 'd_key', 'testcat.ns1.cat_docs.d_key', ''),
    (42, 'testcat.ns1.cat_sink', 'testcat.ns1.cat_sink.s_name', 'd_name', 'testcat.ns1.cat_docs.d_name', ''),
    (43, '<EOF>', '', 'd_name', 'testcat.ns1.cat_docs.d_name', 'JOIN:(CAST(n.n_nationkey AS BIGINT) = x.d_key)'),
    (43, '<EOF>', '', 'n_name', 'default.nation.n_name', 'JOIN:(CAST(n.n_nationkey AS BIGINT) = x.d_key)')
    ) AS t(stmt, table_name, col_name, to_name, from_name, conditions)
    ORDER BY stmt, to_name, from_name, table_name, col_name"""
}
