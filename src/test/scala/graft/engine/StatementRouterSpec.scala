package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** One router: every entry point classifies a statement once
  * ([[Statement.parse]]) and plans every query form through the one
  * planning function, so `execute`, `query`, `selectAsString`,
  * `prepare` and EXPLAIN agree on what a query is and what it returns,
  * and the query-only entry points refuse every other statement
  * before it runs. */
class StatementRouterSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val loc = java.nio.file.Files.createTempDirectory("router")
  private lazy val g = {
    val e = new Engine(spark)
    e.execute("DROP DATABASE IF EXISTS rtr")
    e.execute(s"CREATE DATABASE rtr LOCATION '$loc'")
    e.execute("CREATE TABLE rtr.t (k INTEGER, v TEXT)")
    e.execute("INSERT INTO rtr.t VALUES (1, 'a'), (2, 'b')")
    e.execute("CREATE TABLE rtr.docs (doc_id INTEGER, text TEXT)")
    e.execute("INSERT INTO rtr.docs VALUES (1, 'x y'), (2, 'z'), (3, 'x y')")
    e
  }

  private def render(v: Any): String = if (v == null) "NULL" else v.toString
  private def sorted(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.map(render).mkString("|")).sorted

  private def rows(sql: String): Seq[Seq[Any]] = g.execute(sql) match {
    case Payload.Select(_, rs) => rs
    case other => fail(s"expected Select payload, got $other")
  }

  private val avgDiv = "SELECT 7 / 2 AS x, AVG(v) AS a FROM VALUES (1), (2) AS t(v)"

  /** Every query form; each must reach every entry point. */
  private val forms = Seq(
    avgDiv,
    "VALUES (CAST('2020-01-02' AS DATE)), ('2020-01-03')",
    "(SELECT k, v FROM rtr.t WHERE k = 1)",
    "TABLE rtr.t",
    "EXECUTE OPERATOR exact_dedup(source = 'rtr.docs')")

  for (sql <- forms) test(s"parity across entry points: $sql") {
    val Payload.Select(labels, viaExecute) = g.execute(sql): @unchecked
    assert(viaExecute.nonEmpty)
    val df = g.query(sql)
    assert(df.columns.toSeq == labels)
    assert(sorted(df.collect().toSeq.map(_.toSeq)) == sorted(viaExecute))
    val asString = g.selectAsString(sql)
    assert(asString.head == labels)
    assert(asString.tail.map(_.mkString("|")).sorted == sorted(viaExecute))
    val Payload.Select(preparedLabels, viaPrepared) = g.executePrepared(g.prepare(sql)): @unchecked
    assert(preparedLabels == labels && sorted(viaPrepared) == sorted(viaExecute))
    val plan = rows(s"EXPLAIN $sql").map(_.head.toString)
    assert(plan.nonEmpty)
  }

  test("EXPLAIN shows the dialect plan that execute runs: integer / and AVG as SUM/COUNT") {
    assert(sorted(rows(avgDiv)) == Seq("3|1"))
    val plan = rows(s"EXPLAIN $avgDiv").map(_.head.toString).mkString("\n")
    assert(plan.contains("Physical Plan"), plan)
    assert(!plan.contains("3.5") && !plan.toLowerCase.contains("avg("), plan)
  }

  test("INSERT takes a parenthesized VALUES source") {
    g.execute("CREATE TABLE rtr.pv (k INTEGER, v TEXT)")
    assert(g.execute("INSERT INTO rtr.pv (VALUES (1, 'x'), (2, 'y'))") == Payload.Insert(2))
    assert(g.execute("INSERT INTO rtr.pv (k) (VALUES (3))") == Payload.Insert(1))
    assert(sorted(rows("SELECT k, v FROM rtr.pv")) == Seq("1|x", "2|y", "3|NULL"))
  }

  /** The table, its files and its constraint record, to compare
    * before and after a refused call. */
  private def snapshot(tbl: String): (Seq[String], Set[String], Option[TableMeta]) = {
    val files = DmlSwapSpec.entries(loc.resolve(tbl)).filter(n => !n.startsWith(".") && !n.startsWith("_"))
    (sorted(rows(s"SELECT * FROM rtr.$tbl")), files, g.meta.get("rtr", tbl))
  }

  test("query, selectAsString, selectJson and prepare refuse statements and run nothing") {
    g.execute("CREATE TABLE rtr.u (id INTEGER AUTO_INCREMENT PRIMARY KEY, a INTEGER UNIQUE NOT NULL)")
    g.execute("INSERT INTO rtr.u (a) VALUES (1)")
    val before = snapshot("u")
    val entries = Seq[(String, String => Any)](
      "query" -> g.query, "selectAsString" -> g.selectAsString,
      "selectJson" -> g.selectJson, "prepare" -> g.prepare)
    val statements = Seq(
      "INSERT INTO rtr.u (a) VALUES (1)",
      "INSERT INTO rtr.u (a) VALUES (NULL)",
      "INSERT INTO rtr.u (a) VALUES (2)",
      "UPDATE rtr.u SET a = 5",
      "DELETE FROM rtr.u",
      "DROP TABLE rtr.u",
      "CREATE TABLE rtr.fresh (x INTEGER)")
    for ((entry, call) <- entries; sql <- statements) {
      val e = intercept[EngineException](call(sql))
      assert(e.getMessage.contains("execute"), s"$entry($sql): ${e.getMessage}")
      assert(snapshot("u") == before, s"$entry($sql) changed rtr.u")
      assert(!spark.catalog.tableExists("rtr.fresh"), s"$entry($sql) created a table")
    }
  }

  test("a writing CTE runs through execute and query; EXPLAIN and prepare refuse it") {
    g.execute("CREATE TABLE rtr.w (id INTEGER AUTO_INCREMENT PRIMARY KEY, a INTEGER UNIQUE NOT NULL)")
    val cte = "WITH x AS (INSERT INTO rtr.w (a) VALUES (%d)) SELECT id, a FROM x"
    assert(rows(cte.format(10)) == Seq(Seq(1L, 10L)))
    assert(g.query(cte.format(20)).collect().map(_.toSeq.map(render).mkString("|")).toSeq == Seq("2|20"))
    val before = snapshot("w")
    for (refuse <- Seq[String => Any](s => g.execute(s"EXPLAIN $s"), g.prepare))
      assert(intercept[EngineException](refuse(cte.format(30))).getMessage.contains("writes"))
    assert(intercept[EngineException](
      g.execute(s"INSERT INTO rtr.t (k, v) ${cte.format(40)}")).getMessage.contains("writes"))
    assert(snapshot("w") == before)
    assert(sorted(rows("SELECT id, a FROM rtr.w")) == Seq("1|10", "2|20"))
  }

  test("EXPLAIN describes a qualified name whose first word is a statement keyword") {
    g.execute("DROP DATABASE IF EXISTS `update`")
    g.execute("CREATE DATABASE `update`")
    g.execute("CREATE TABLE `update`.t (k INTEGER)")
    assert(rows("EXPLAIN update.t").map(_.head) == Seq("k"))
    assert(rows("EXPLAIN update").map(_.head).contains("t"))
    g.execute("DROP DATABASE `update`")
  }

  test("prepare parses the query: a syntax error surfaces at prepare, not at its first run") {
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](g.prepare("SELECT k FROM rtr.t WHERE k ="))
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](g.prepare("VALUES (1 +), (2)"))
    // analysis runs per execution: a prepared query sees rows written after it
    g.execute("CREATE TABLE rtr.later (k INTEGER)")
    val p = g.prepare("SELECT k FROM rtr.later")
    g.execute("INSERT INTO rtr.later VALUES (7)")
    assert(g.executePrepared(p) == Payload.Select(Seq("k"), Seq(Seq(7))))
  }

  test("EXPLAIN refuses a statement it cannot plan and runs nothing") {
    val e = intercept[EngineException](g.execute("EXPLAIN UPDATE rtr.t SET k = 0"))
    assert(e.getMessage.contains("EXPLAIN plans"))
    assert(sorted(rows("SELECT k FROM rtr.t")) == Seq("1", "2"))
  }
}
