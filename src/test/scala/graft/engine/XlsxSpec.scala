package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Sheet (XLSX) backend: codec round trip, database mount with the
  * inference policy, engine inserts rewriting the workbook, multi-
  * sheet books (one table per worksheet), and every rewriting
  * statement leaving the workbook equal to the table. */
class XlsxSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val g = new Engine(spark)

  private def book(path: String, sheets: Xlsx.Sheet*): Unit =
    Xlsx.write(path, sheets)

  test("xlsx codec round-trips strings, numbers, booleans") {
    val f = java.nio.file.Files.createTempFile("rt", ".xlsx").toString
    val rows = Seq(
      Seq("name", "n", "flag"),
      Seq("a & <b>", "42", "true"),
      Seq("héllo", "2.5", "false"))
    book(f, Xlsx.Sheet("s1", rows))
    val back = Xlsx.read(f)
    assert(back.map(_.name) == Seq("s1"))
    assert(back.head.rows == rows)
  }

  test("cell reference column math") {
    assert(Xlsx.colIndex("A1") == 0)
    assert(Xlsx.colIndex("Z9") == 25)
    assert(Xlsx.colIndex("AA10") == 26)
    assert(Xlsx.colIndex("BC12") == 54)
  }

  test("xlsx sync enforces the sheet row bound with a clear error") {
    val f = java.nio.file.Files.createTempFile("cap", ".xlsx").toString
    book(f, Xlsx.Sheet("t", Seq(Seq("a"), Seq("1"), Seq("2"))))
    g.execute("DROP DATABASE IF EXISTS xcap")
    g.execute(s"CREATE DATABASE xcap LOCATION '$f'")
    g.xlsxMaxSyncRows = 3
    try {
      g.execute("INSERT INTO xcap.t VALUES (3)") // lands exactly at the cap
      val e = intercept[EngineException](g.execute("INSERT INTO xcap.t VALUES (4)"))
      assert(e.getMessage.contains("xlsxMaxSyncRows"),
        s"wrong error: ${e.getMessage}")
      // the refused insert must NOT have touched the table: cap is
      // enforced before the mirror write, so table and book agree
      val Payload.Select(_, after) = g.execute("SELECT count(*) AS n FROM xcap.t"): @unchecked
      assert(after == Seq(Seq(3L)), s"table diverged from the workbook: $after")
    } finally {
      g.xlsxMaxSyncRows = 1048575
      g.execute("DROP DATABASE IF EXISTS xcap")
    }
  }

  test("xlsx database: one table per sheet, inferred types, insert rewrites book") {
    val f = java.nio.file.Files.createTempFile("db", ".xlsx").toString
    book(f,
      Xlsx.Sheet("people", Seq(
        Seq("name", "age"), Seq("alice", "30"), Seq("bob", "25"))),
      Xlsx.Sheet("scores", Seq(
        Seq("who", "score"), Seq("alice", "1.5"))))
    g.execute("DROP DATABASE IF EXISTS xdb")
    g.execute(s"CREATE DATABASE xdb LOCATION '$f'")

    val Payload.Select(_, metaRows) = g.execute("EXPLAIN xdb.people"): @unchecked
    val types = metaRows.map(r => r.head.toString -> r(1).toString).toMap
    assert(types("name") == "STRING" && types("age") == "BIGINT")

    val Payload.Select(_, joined) = g.execute(
      """SELECT p.name, p.age, s.score FROM xdb.people p
        |JOIN xdb.scores s ON p.name = s.who""".stripMargin): @unchecked
    assert(joined == Seq(Seq("alice", 30L, 1.5d)))

    assert(g.execute("INSERT INTO xdb.people VALUES ('carol', 41)") == Payload.Insert(1))
    // the workbook file itself was rewritten — re-read it raw
    val sheets = Xlsx.read(f).map(s => s.name -> s.rows).toMap
    assert(sheets("people").contains(Seq("carol", "41")))
    assert(sheets("scores").length == 2) // sibling sheet preserved

    // and DELETE syncs too
    g.execute("DELETE FROM xdb.people WHERE name = 'bob'")
    val after = Xlsx.read(f).map(s => s.name -> s.rows).toMap
    assert(!after("people").exists(_.head == "bob"))
    assert(after("people").length == 3) // header + alice + carol
  }

  test("whole-table UPDATE, ALTER ADD COLUMN, unconditional DELETE and TRUNCATE keep the book equal to the table") {
    val f = java.nio.file.Files.createTempFile("rw", ".xlsx").toString
    book(f, Xlsx.Sheet("t", Seq(Seq("k", "s"), Seq("1", "a"), Seq("2", "b"), Seq("3", "c"))))
    g.execute("DROP DATABASE IF EXISTS xrw")
    g.execute(s"CREATE DATABASE xrw LOCATION '$f'")
    def same(rows: Int): Unit = {
      val sheet = Xlsx.read(f).find(_.name == "t").get.rows
      val Payload.Select(labels, table) = g.execute("SELECT * FROM xrw.t"): @unchecked
      assert(sheet.head == labels, s"header: ${sheet.head} vs $labels")
      val rendered = table.map(_.map { case null => ""; case v => v.toString })
      assert(sheet.tail.map(_.toString).sorted == rendered.map(_.toString).sorted,
        s"book ${sheet.tail} != table $rendered")
      assert(table.size == rows)
    }
    try {
      assert(g.execute("UPDATE xrw.t SET s = 'z'") == Payload.Update(3))
      same(3)
      g.execute("ALTER TABLE xrw.t ADD COLUMN n INTEGER DEFAULT 9")
      same(3)
      assert(Xlsx.read(f).head.rows.head == Seq("k", "s", "n"))
      assert(g.execute("DELETE FROM xrw.t") == Payload.Delete(3))
      same(0)
      g.execute("INSERT INTO xrw.t VALUES (4, 'd', 1)")
      same(1)
      assert(g.execute("TRUNCATE TABLE xrw.t") == Payload.TruncateTable)
      same(0)
    } finally g.execute("DROP DATABASE IF EXISTS xrw")
  }
}
