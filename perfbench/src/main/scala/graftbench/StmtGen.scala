package graftbench

import scala.util.Random

/** A generated statement with the lineage it must produce: for every
  * destination column (`to_name`), the exact set of atomic `db.table.col`
  * sources. The generator composes the query and its answer together
  * (the compositional-oracle pattern of the lineage fuzz spec), so the
  * check needs no second lineage implementation. */
final case class GenStmt(sql: String, expected: Map[String, Set[String]])

/** A `/fetch` request body. `reject` bodies carry one statement the
  * service must refuse with a 400 (unknown table or syntax error). */
final case class Body(stmts: Seq[GenStmt], reject: Boolean) {
  def sql: String = stmts.map(_.sql).mkString(";\n")
}

/** Seeded generator over the fixture catalog (the tables
  * `LineageQueries.registerFixtures` registers). Statement shapes follow
  * the SURVEY §2 inventory: INSERT…SELECT, multi-insert, plain SELECT,
  * `SELECT *`, `USE`, over query trees built from scans, projections with
  * arithmetic, WHERE, joins, UNION ALL, GROUP BY, CASE, CTEs, windows,
  * scalar and IN subqueries. */
final class StmtGen(seed: Long) {
  private val rnd = new Random(seed)
  private var ctr = 0

  private case class Col(name: String, sources: Set[String], numeric: Boolean)
  private case class Q(sql: String, cols: Seq[Col])

  /** Every column of each fixture table, in schema order, for `SELECT *`. */
  private val fullSchemas: Map[String, Seq[String]] = Map(
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "region" -> Seq("r_regionkey", "r_name"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))

  /** The columns query trees draw from: numeric (`true`) or string. */
  private val catalog: Seq[(String, Seq[(String, Boolean)])] = Seq(
    "nation" -> Seq("n_nationkey" -> true, "n_name" -> false, "n_regionkey" -> true),
    "region" -> Seq("r_regionkey" -> true, "r_name" -> false),
    "customer" -> Seq("c_custkey" -> true, "c_name" -> false, "c_nationkey" -> true,
      "c_acctbal" -> true, "c_mktsegment" -> false),
    "supplier" -> Seq("s_suppkey" -> true, "s_name" -> false, "s_nationkey" -> true,
      "s_acctbal" -> true),
    "part" -> Seq("p_partkey" -> true, "p_name" -> false, "p_brand" -> false,
      "p_size" -> true, "p_retailprice" -> true),
    "orders" -> Seq("o_orderkey" -> true, "o_custkey" -> true, "o_orderstatus" -> false,
      "o_totalprice" -> true, "o_orderpriority" -> false),
    "lineitem" -> Seq("l_orderkey" -> true, "l_partkey" -> true, "l_suppkey" -> true,
      "l_quantity" -> true, "l_extendedprice" -> true, "l_discount" -> true,
      "l_returnflag" -> false))

  /** Draws from repeated shuffles of `0 until n`: every `n` draws hold
    * each value once, so the mix is the same for every seed. */
  private final class Deck(n: Int) {
    private var left: List[Int] = Nil
    def next(): Int = {
      if (left.isEmpty) left = rnd.shuffle((0 until n).toList)
      val v = left.head
      left = left.tail
      v
    }
  }
  private val kinds = new Deck(20)
  private val lengths = new Deck(8)
  private val bodyKinds = new Deck(100)
  private val nodes = new Deck(11)

  private def fresh(p: String): String = { ctr += 1; s"$p$ctr" }
  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
  private def chance(p: Double): Boolean = rnd.nextDouble() < p

  private def scan(): Q = {
    val (t, cols) = pick(catalog)
    val width = 2 + rnd.nextInt(cols.size - 1)
    val picked = rnd.shuffle(cols).take(width)
    val out = picked.map { case (c, num) => Col(fresh("f"), Set(s"default.$t.$c"), num) }
    val items = picked.zip(out).map { case ((c, _), o) => s"$c AS ${o.name}" }
    Q(s"SELECT ${items.mkString(", ")} FROM $t", out)
  }

  private def project(child: Q): Q = {
    val picked = rnd.shuffle(child.cols).take(1 + rnd.nextInt(child.cols.size))
    val kept = picked.map(_.copy(name = fresh("f")))
    var items = picked.zip(kept).map { case (c, k) => s"${c.name} AS ${k.name}" }
    var cols = kept
    val nums = child.cols.filter(_.numeric)
    if (nums.size >= 2 && chance(0.5)) {
      val m = Col(fresh("f"), nums(0).sources ++ nums(1).sources, numeric = true)
      items :+= s"${nums(0).name} + ${nums(1).name} AS ${m.name}"
      cols :+= m
    }
    Q(s"SELECT ${items.mkString(", ")} FROM (${child.sql}) ${fresh("t")}", cols)
  }

  /** `SELECT *` over the child, optionally filtered: every column and
    * its sources pass through unchanged. */
  private def star(child: Q): Q = {
    val cond = child.cols.find(_.numeric).filter(_ => chance(0.7))
      .map(c => s" WHERE ${c.name} > ${rnd.nextInt(8)}").getOrElse("")
    Q(s"SELECT * FROM (${child.sql}) ${fresh("t")}$cond", child.cols)
  }

  private def join(l: Q, r: Q): Q =
    (l.cols.find(_.numeric), r.cols.find(_.numeric)) match {
      case (Some(lk), Some(rk)) =>
        val (la, ra) = (fresh("t"), fresh("t"))
        val kind = pick(Seq("JOIN", "LEFT JOIN"))
        Q(s"SELECT ${(l.cols ++ r.cols).map(_.name).mkString(", ")} FROM (${l.sql}) $la " +
          s"$kind (${r.sql}) $ra ON $la.${lk.name} = $ra.${rk.name}", l.cols ++ r.cols)
      case _ => l
    }

  private def union(l: Q, r: Q): Q = {
    val width = math.min(l.cols.size, r.cols.size)
    val pairs = l.cols.take(width).zip(r.cols.take(width))
    if (pairs.exists(p => p._1.numeric != p._2.numeric)) l
    else {
      val out = pairs.map { case (a, b) => Col(fresh("f"), a.sources ++ b.sources, a.numeric) }
      def side(q: Q) = q.cols.take(width).zip(out)
        .map { case (c, o) => s"${c.name} AS ${o.name}" }.mkString(", ")
      Q(s"SELECT ${side(l)} FROM (${l.sql}) ${fresh("t")} UNION ALL " +
        s"SELECT ${side(r)} FROM (${r.sql}) ${fresh("t")}", out)
    }
  }

  /** GROUP BY: the key carries its own sources, the SUM only its
    * argument's. */
  private def agg(child: Q): Q = child.cols.find(_.numeric) match {
    case Some(n) =>
      val g = pick(child.cols)
      val gOut = Col(fresh("f"), g.sources, g.numeric)
      val sOut = Col(fresh("f"), n.sources, numeric = true)
      val having = if (chance(0.3)) s" HAVING SUM(${n.name}) > ${rnd.nextInt(5)}" else ""
      Q(s"SELECT ${g.name} AS ${gOut.name}, SUM(${n.name}) AS ${sOut.name} " +
        s"FROM (${child.sql}) ${fresh("t")} GROUP BY ${g.name}$having", Seq(gOut, sOut))
    case None => child
  }

  /** CASE reads its condition column and both branches. */
  private def caseWhen(child: Q): Q = child.cols.find(_.numeric) match {
    case Some(c) =>
      val b = pick(child.cols)
      val e = pick(child.cols.filter(_.numeric == b.numeric))
      val kept = child.cols.map(_.copy(name = fresh("f")))
      val x = Col(fresh("f"), c.sources ++ b.sources ++ e.sources, b.numeric)
      val items = child.cols.zip(kept).map { case (o, k) => s"${o.name} AS ${k.name}" } :+
        s"CASE WHEN ${c.name} > ${rnd.nextInt(8)} THEN ${b.name} ELSE ${e.name} END AS ${x.name}"
      Q(s"SELECT ${items.mkString(", ")} FROM (${child.sql}) ${fresh("t")}", kept :+ x)
    case None => child
  }

  private def cte(child: Q): Q = {
    val name = fresh("cte")
    val out = child.cols.map(_.copy(name = fresh("f")))
    def sel() = child.cols.zip(out).map { case (c, o) => s"${c.name} AS ${o.name}" }.mkString(", ")
    val body =
      if (chance(0.5)) s"SELECT ${sel()} FROM $name UNION ALL SELECT ${sel()} FROM $name"
      else s"SELECT ${sel()} FROM $name"
    Q(s"WITH $name AS (${child.sql}) $body", out)
  }

  /** A window frame reads its argument and its partition key. */
  private def window(child: Q): Q = child.cols.find(_.numeric) match {
    case Some(n) =>
      val p = pick(child.cols)
      val kept = child.cols.map(_.copy(name = fresh("f")))
      val w = Col(fresh("f"), n.sources ++ p.sources, numeric = true)
      val items = child.cols.zip(kept).map { case (c, k) => s"${c.name} AS ${k.name}" }
      Q(s"SELECT ${items.mkString(", ")}, SUM(${n.name}) OVER (PARTITION BY ${p.name}) " +
        s"AS ${w.name} FROM (${child.sql}) ${fresh("t")}", kept :+ w)
    case None => child
  }

  /** Subqueries: a scalar one in the select list (its sources are the
    * inner column) or an IN filter (value sources unchanged). */
  private def subquery(child: Q): Q = {
    val a = fresh("t")
    child.cols.find(_.numeric) match {
      case Some(k) if chance(0.5) =>
        Q(s"SELECT * FROM (${child.sql}) $a WHERE ${k.name} IN " +
          "(SELECT n_nationkey FROM nation)", child.cols)
      case _ =>
        val kept = child.cols.map(_.copy(name = fresh("f")))
        val s = Col(fresh("f"), Set("default.region.r_regionkey"), numeric = true)
        val items = child.cols.zip(kept).map { case (c, k) => s"${c.name} AS ${k.name}" }
        Q(s"SELECT ${items.mkString(", ")}, (SELECT MAX(r_regionkey) FROM region) " +
          s"AS ${s.name} FROM (${child.sql}) $a", kept :+ s)
    }
  }

  private def query(depth: Int): Q =
    if (depth == 0) scan()
    else nodes.next() match {
      case 0 => scan()
      case 1 => project(query(depth - 1))
      case 2 => star(query(depth - 1))
      case 3 => join(query(depth - 1), query(depth - 1))
      case 4 => union(query(depth - 1), query(depth - 1))
      case 5 => agg(query(depth - 1))
      case 6 => caseWhen(query(depth - 1))
      case 7 => cte(query(depth - 1))
      case 8 => window(query(depth - 1))
      case 9 => subquery(query(depth - 1))
      case _ => project(query(depth - 1))
    }

  private def expect(cols: Seq[Col]): Map[String, Set[String]] =
    cols.map(c => c.name -> c.sources).toMap

  /** One statement; `allowUse` admits the edge-free `USE default`. Of
    * every 20 statements, 7 are plain SELECTs, 7 INSERT…SELECTs, 2
    * multi-inserts, 2 `SELECT *` and 2 `USE`. No record of the reference
    * service's traffic gives a mix, so this one is an assumption: lineage
    * is wanted mostly for writes, and the reference's only embedded
    * example is an INSERT. Every INSERT targets a fresh table the catalog
    * does not know, so the INSERT share sets how many sink-schema lookups
    * miss. */
  def statement(allowUse: Boolean = true): GenStmt = {
    val depth = 1 + (if (chance(0.4)) 1 else 0)
    kinds.next() match {
      case k if k < 7 =>
        val q = query(depth)
        GenStmt(q.sql, expect(q.cols))
      case k if k < 14 =>
        val q = query(depth)
        GenStmt(s"INSERT INTO default.${fresh("bench_sink_")} SELECT * FROM (${q.sql}) " +
          fresh("t"), expect(q.cols))
      case k if k < 16 =>
        val q = query(depth)
        if (q.cols.size < 2) GenStmt(q.sql, expect(q.cols))
        else {
          val (a, b) = q.cols.splitAt(1 + rnd.nextInt(q.cols.size - 1))
          val outA = a.map(_.copy(name = fresh("x")))
          val outB = b.map(_.copy(name = fresh("x")))
          def sel(in: Seq[Col], out: Seq[Col]) =
            in.zip(out).map { case (c, o) => s"${c.name} AS ${o.name}" }.mkString(", ")
          GenStmt(s"FROM (${q.sql}) ${fresh("t")} " +
            s"INSERT INTO default.${fresh("bench_sink_")} SELECT ${sel(a, outA)} " +
            s"INSERT INTO default.${fresh("bench_sink_")} SELECT ${sel(b, outB)}",
            expect(outA ++ outB))
        }
      case k if k < 18 || !allowUse =>
        val (t, cols) = pick(catalog)
        val num = cols.filter(_._2)
        val cond = if (num.nonEmpty && chance(0.5))
          s" WHERE ${pick(num)._1} > ${rnd.nextInt(8)}" else ""
        GenStmt(s"SELECT * FROM $t$cond",
          fullSchemas(t).map(c => c -> Set(s"default.$t.$c")).toMap)
      case _ => GenStmt("USE default", Map.empty)
    }
  }

  /** A statement the service must refuse. */
  private def bad(): GenStmt =
    if (chance(0.5)) GenStmt(s"SELECT a FROM ${fresh("no_such_table_")}", Map.empty)
    else GenStmt(s"SELEC ${fresh("f")} FORM nation", Map.empty)

  /** The `/fetch` request stream: `repeatPct` percent of the bodies
    * repeat an earlier body verbatim (as scheduler logs re-submit jobs),
    * `rejectPct` percent carry one statement the service must refuse.
    * Body lengths run 1–8 statements, evenly. Shares and lengths are
    * assumptions, not taken from any traffic record. */
  def fetchStream(n: Int, repeatPct: Int, rejectPct: Int): IndexedSeq[Body] = {
    val out = scala.collection.mutable.ArrayBuffer[Body]()
    while (out.size < n) {
      val k = bodyKinds.next()
      if (out.nonEmpty && k < repeatPct) out += pick(out.toSeq)
      else {
        val stmts = Seq.fill(1 + lengths.next())(statement())
        if (k >= 100 - rejectPct) {
          val at = rnd.nextInt(stmts.size + 1)
          out += Body((stmts.take(at) :+ bad()) ++ stmts.drop(at), reject = true)
        } else out += Body(stmts, reject = false)
      }
    }
    out.toIndexedSeq
  }

  /** Store runs: each run re-parses statement indices 1..L (L in 3..8);
    * each index keeps its previous text with probability `keep` and is
    * otherwise edited, so latest-wins and diff both have work. */
  def storeRuns(n: Int, keep: Double): IndexedSeq[Seq[GenStmt]] = {
    val current = scala.collection.mutable.Map[Int, GenStmt]()
    (0 until n).map { _ =>
      val len = 3 + rnd.nextInt(6)
      (1 to len).map { i =>
        val s = current.get(i).filter(_ => chance(keep))
          .getOrElse(statement(allowUse = false))
        current(i) = s
        s
      }
    }
  }
}
