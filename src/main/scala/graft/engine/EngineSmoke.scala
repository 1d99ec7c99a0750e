package graft.engine

/** End-to-end smoke drive of the [[Engine]] facade: the reference's
  * ability-battery shapes (create / insert / select / constraint
  * violations / update / delete / alter / views / variables / explain
  * / csv / index), run as a `main` so `sbt "runMain
  * graft.engine.EngineSmoke"` exercises the public API exactly as an
  * embedding application would. Prints one OK/FAIL line per step and
  * exits nonzero on any failure.
  */
object EngineSmoke {
  private var failures = 0

  private def check(name: String)(body: => Boolean): Unit = {
    val ok = try body catch {
      case e: Throwable => println(s"FAIL $name: $e"); failures += 1; return
    }
    if (ok) println(s"OK   $name")
    else { println(s"FAIL $name: condition false"); failures += 1 }
  }

  private def expectError(name: String, fragment: String)(body: => Any): Unit = {
    try { body; println(s"FAIL $name: expected error containing '$fragment'"); failures += 1 }
    catch {
      case e: Throwable =>
        if (e.getMessage != null && e.getMessage.toLowerCase.contains(fragment.toLowerCase))
          println(s"OK   $name")
        else { println(s"FAIL $name: wrong error: ${e.getMessage}"); failures += 1 }
    }
  }

  def main(args: Array[String]): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_smoke").toFile
    val spark = graft.GraftSession.start(graft.GraftSession.builder(4)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse"), "ERROR")
    val g = new Engine(spark)

    // --- basic round trip (reference tests/ability/base/basic.rs) ---
    check("create table")(g.execute(
      "CREATE TABLE basic (id INTEGER, a INTEGER, b TEXT)") == Payload.Create)
    check("insert values")(g.execute(
      "INSERT INTO basic VALUES (1, 10, 'hello'), (2, 20, 'world')") == Payload.Insert(2))
    check("select all")(g.execute("SELECT * FROM basic ORDER BY id") match {
      case Payload.Select(labels, rows) =>
        labels == Seq("id", "a", "b") && rows.map(_(1)) == Seq(10L, 20L)
      case _ => false
    })
    check("select agg")(g.execute("SELECT SUM(a) AS s FROM basic WHERE a > 1") match {
      case Payload.Select(_, Seq(Seq(s))) => s == 30L
      case _ => false
    })
    check("insert select")(g.execute(
      "INSERT INTO basic SELECT id + 10, a * 2, b FROM basic") == Payload.Insert(2))
    check("update")(g.execute("UPDATE basic SET a = a + 1 WHERE id > 10") == Payload.Update(2))
    check("delete")(g.execute("DELETE FROM basic WHERE id > 10") == Payload.Delete(2))
    check("count after delete")(g.execute("SELECT COUNT(*) AS n FROM basic") match {
      case Payload.Select(_, Seq(Seq(n))) => n == 2L
      case _ => false
    })

    // --- constraints (ability/column_option/*) ---
    check("create constrained")(g.execute(
      """CREATE TABLE opts (id INTEGER AUTO_INCREMENT,
        |name TEXT NOT NULL, email TEXT UNIQUE, score FLOAT DEFAULT 1.5)""".stripMargin)
      == Payload.Create)
    check("insert with defaults")(g.execute(
      "INSERT INTO opts (name, email) VALUES ('a', 'a@x'), ('b', 'b@x')") == Payload.Insert(2))
    check("auto_increment + default")(g.execute(
      "SELECT id, score FROM opts ORDER BY id") match {
      case Payload.Select(_, rows) =>
        rows.map(_.head) == Seq(1L, 2L) && rows.forall(_(1) == 1.5d)
      case _ => false
    })
    expectError("not null enforced", "NOT NULL") {
      g.execute("INSERT INTO opts (name, email) VALUES (NULL, 'c@x')")
    }
    expectError("unique enforced vs existing", "duplicate") {
      g.execute("INSERT INTO opts (name, email) VALUES ('c', 'a@x')")
    }
    expectError("unique enforced in batch", "duplicate") {
      g.execute("INSERT INTO opts (name, email) VALUES ('d', 'd@x'), ('e', 'd@x')")
    }
    check("auto counter continues")(g.execute(
      "INSERT INTO opts (name, email) VALUES ('f', 'f@x')") == Payload.Insert(1) &&
      (g.execute("SELECT MAX(id) AS m FROM opts") match {
        case Payload.Select(_, Seq(Seq(m))) => m == 3L
        case _ => false
      }))

    // --- truncate resets auto counter (alter_table/truncate.rs) ---
    check("truncate")(g.execute("TRUNCATE TABLE opts") == Payload.TruncateTable)
    check("truncate resets counter")({
      g.execute("INSERT INTO opts (name, email) VALUES ('z', 'z@x')")
      g.execute("SELECT id FROM opts") match {
        case Payload.Select(_, Seq(Seq(id))) => id == 1L
        case _ => false
      }
    })

    // --- alter table (ability/alter/table) ---
    check("alter rename column")(g.execute(
      "ALTER TABLE basic RENAME COLUMN b TO label") == Payload.AlterTable)
    check("alter add column w/ default")(g.execute(
      "ALTER TABLE basic ADD COLUMN flag BOOLEAN DEFAULT false") == Payload.AlterTable)
    check("added column filled")(g.execute(
      "SELECT COUNT(*) AS n FROM basic WHERE flag = false") match {
      case Payload.Select(_, Seq(Seq(n))) => n == 2L
      case _ => false
    })
    check("alter drop column")(g.execute(
      "ALTER TABLE basic DROP COLUMN flag") == Payload.AlterTable)
    check("alter rename table")(g.execute(
      "ALTER TABLE basic RENAME TO basic2") == Payload.AlterTable)
    check("renamed table queryable")(g.execute("SELECT label FROM basic2 WHERE id = 1") match {
      case Payload.Select(_, Seq(Seq(s))) => s == "hello"
      case _ => false
    })

    // --- views (ability/alter/view) ---
    check("create view")(g.execute(
      "CREATE VIEW v_big AS SELECT id, a FROM basic2 WHERE a >= 20") == Payload.Create)
    check("view reflects updates")({
      g.execute("UPDATE basic2 SET a = 100 WHERE id = 1")
      g.execute("SELECT COUNT(*) AS n FROM v_big") match {
        case Payload.Select(_, Seq(Seq(n))) => n == 2L
        case _ => false
      }
    })

    // --- session variables (set_variable.rs) ---
    check("set variable")(g.execute("SET @lim = 100") == Payload.Success)
    check("variable substituted")(g.execute(
      "SELECT COUNT(*) AS n FROM basic2 WHERE a >= @lim") match {
      case Payload.Select(_, Seq(Seq(n))) => n == 1L
      case _ => false
    })

    // --- multi-database + cross-db join (glue/mod.rs:110-129) ---
    check("create database")(g.execute(
      s"CREATE DATABASE db2 LOCATION '$tmp/db2'") == Payload.Success)
    check("cross-db table")(g.execute(
      "CREATE TABLE db2.dim (id INTEGER, tag TEXT)") == Payload.Create)
    check("cross-db insert")(g.execute(
      "INSERT INTO db2.dim VALUES (1, 'one'), (2, 'two')") == Payload.Insert(2))
    check("cross-db join")(g.execute(
      "SELECT b.id, d.tag FROM basic2 b JOIN db2.dim d ON b.id = d.id ORDER BY b.id") match {
      case Payload.Select(_, rows) => rows.map(_(1)) == Seq("one", "two")
      case _ => false
    })

    // --- explain introspection (other/explain.rs) ---
    check("explain all")(g.execute("EXPLAIN ALL") match {
      case Payload.Select(Seq("database"), rows) =>
        rows.flatten.map(_.toString).contains("db2")
      case _ => false
    })
    check("explain table")(g.execute("EXPLAIN opts") match {
      case Payload.Select(labels, rows) =>
        labels.contains("auto_increment") &&
          rows.exists(r => r.head == "id" && r(4) == true)
      case _ => false
    })

    // --- csv database (databases/csv) ---
    val csv = new java.io.File(tmp, "people.csv")
    java.nio.file.Files.writeString(csv.toPath,
      "name,age,height\nalice,30,1.65\nbob,25,1.8\n")
    check("csv database mount")(g.execute(
      s"CREATE DATABASE csvdb LOCATION '${csv.getAbsolutePath}'") == Payload.Success)
    check("csv inferred types")(g.execute(
      "SELECT SUM(age) AS s, SUM(height) AS h FROM csvdb.people") match {
      case Payload.Select(_, Seq(Seq(s, h))) => s == 55L && math.abs(h.asInstanceOf[Double] - 3.45) < 1e-9
      case _ => false
    })
    check("csv insert round-trip")({
      g.execute("INSERT INTO csvdb.people VALUES ('carol', 41, 1.7')".replace("1.7'", "1.7"))
      g.execute("SELECT COUNT(*) AS n FROM csvdb.people") match {
        case Payload.Select(_, Seq(Seq(n))) => n == 3L
        case _ => false
      }
    })

    // --- index (create/index.rs): metadata + clustered layout ---
    check("create index")(g.execute(
      "CREATE INDEX idx_a ON basic2 (a)") == Payload.Create)
    expectError("unique index rejects dups", "duplicate") {
      g.execute("INSERT INTO basic2 VALUES (9, 100, 'dup')")
      g.execute("CREATE UNIQUE INDEX uq_a ON basic2 (a)")
    }

    // --- dialect functions (task: CONVERT family etc.) ---
    check("convert text datetime")(g.execute(
      "SELECT CONVERT('TEXT', 1640995200, 'DATETIME') AS s") match {
      case Payload.Select(_, Seq(Seq(s))) => s == "2022-01-01 00:00:00"
      case _ => false
    })
    check("convert timestamp rule 22")(g.execute(
      "SELECT CONVERT('TIMESTAMP', '2022-01-01', 22) AS t") match {
      case Payload.Select(_, Seq(Seq(v))) => v == 1640995200L
      case _ => false
    })
    check("convert money")(g.execute(
      "SELECT CONVERT('TEXT', 1234567.891, 'MONEY') AS m") match {
      case Payload.Select(_, Seq(Seq(m))) => m == "$1,234,567.89"
      case _ => false
    })
    check("try_convert null on junk")(g.execute(
      "SELECT TRY_CONVERT('INTEGER', 'zzz') AS x") match {
      case Payload.Select(_, Seq(Seq(x))) => x == null
      case _ => false
    })
    check("dateadd month-end clamp")(g.execute(
      "SELECT DATEADD('MONTH', 1, 1643587200) AS t") match { // 2022-01-31 → 2022-02-28
      case Payload.Select(_, Seq(Seq(v))) => v == 1646006400L
      case _ => false
    })
    check("datefromparts")(g.execute(
      "SELECT DATEFROMPARTS(2022, 3, 5) AS t") match {
      case Payload.Select(_, Seq(Seq(v))) => v == 1646438400L
      case _ => false
    })
    check("iif + len bytes")(g.execute(
      "SELECT IIF(LEN('héllo') = 6, 'bytes', 'chars') AS x") match {
      case Payload.Select(_, Seq(Seq(x))) => x == "bytes"
      case _ => false
    })

    // --- host API (glue/select.rs, glue/mod.rs:190-248) ---
    check("selectAsCsv")(g.selectAsCsv("SELECT id, label FROM basic2 WHERE id = 1")
      == "id,label\n1,hello")
    check("selectJson")(g.selectJson("SELECT id FROM basic2 WHERE id = 1")
      == """[{"id":1}]""")
    check("insertVec")({
      g.insertVec("db2.dim", Seq("id", "tag"), Seq(Seq(3L, "three"))) == Payload.Insert(1) &&
        (g.execute("SELECT COUNT(*) AS n FROM db2.dim") match {
          case Payload.Select(_, Seq(Seq(n))) => n == 3L
          case _ => false
        })
    })

    // --- xlsx (Sheet) database ---
    val xlsx = new java.io.File(tmp, "book.xlsx")
    Xlsx.write(xlsx.getAbsolutePath, Seq(
      Xlsx.Sheet("sheet_a", Seq(Seq("k", "v"), Seq("1", "one"), Seq("2", "two")))))
    check("xlsx database mount")(g.execute(
      s"CREATE DATABASE xsmoke LOCATION '${xlsx.getAbsolutePath}'") == Payload.Success)
    check("xlsx query + insert syncs book")({
      g.execute("INSERT INTO xsmoke.sheet_a VALUES (3, 'three')")
      val rows = Xlsx.read(xlsx.getAbsolutePath).head.rows
      rows.length == 4 && (g.execute("SELECT SUM(k) AS s FROM xsmoke.sheet_a") match {
        case Payload.Select(_, Seq(Seq(s))) => s == 6L
        case _ => false
      })
    })

    // --- jdbc database (Derby embedded) ---
    check("jdbc database mount")({
      val url = s"jdbc:derby:$tmp/smokedb;create=true"
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val st = c.createStatement()
        st.execute("CREATE TABLE jt (id INT, s VARCHAR(10))")
        st.execute("INSERT INTO jt VALUES (1, 'x'), (2, 'y')")
        st.close()
      } finally c.close()
      g.execute(s"CREATE DATABASE jsmoke LOCATION '$url'")
      g.execute("SELECT COUNT(*) AS n FROM jsmoke.jt") match {
        case Payload.Select(_, Seq(Seq(n))) => n == 2L
        case _ => false
      }
    })

    // --- execute file (procedure.rs) ---
    val script = new java.io.File(tmp, "script.sql")
    java.nio.file.Files.writeString(script.toPath,
      "CREATE TABLE scripted (x INTEGER); INSERT INTO scripted VALUES (1), (2);")
    check("execute file")({
      g.execute(s"EXECUTE FILE '${script.getAbsolutePath}'")
      g.execute("SELECT SUM(x) AS s FROM scripted") match {
        case Payload.Select(_, Seq(Seq(s))) => s == 3L
        case _ => false
      }
    })

    // --- sheet database: create-table-into-workbook round trip ---
    val book = new java.io.File(tmp, "smoke_book.xlsx").getAbsolutePath
    check("sheet db: create table persists to new workbook")({
      g.execute(s"CREATE DATABASE sheetdb LOCATION '$book'")
      g.execute("CREATE TABLE sheetdb.notes (id INTEGER, txt TEXT)")
      g.execute("INSERT INTO sheetdb.notes VALUES (1, 'alpha'), (2, 'beta')")
      Xlsx.read(book).exists(s => s.name == "notes" && s.rows.length == 3)
    })
    check("sheet db: drop column if exists no-op")(
      g.execute("ALTER TABLE sheetdb.notes DROP COLUMN IF EXISTS ghost") == Payload.AlterTable)
    check("sheet db: drop database")(g.execute("DROP DATABASE sheetdb") == Payload.Success)

    // --- pipeline-operator facade discovery + dispatch ---
    check("show operators lists the registry")(
      g.execute("SHOW OPERATORS") match {
        case Payload.Select(cols, rows) =>
          cols == Seq("operator", "description", "parameters") &&
            rows.map(_.head) == Operators.all.keys.toSeq.sorted &&
            rows.exists(r => r.head == "exact_dedup" &&
              r(2).toString.contains("source = documents"))
        case _ => false
      })
    check("execute operator runs over an engine table")(
      g.execute("CREATE TABLE smokedocs (doc_id INTEGER, text TEXT)") == Payload.Create &&
        g.execute("INSERT INTO smokedocs VALUES (1, 'aa bb aa'), (2, 'aa bb aa'), (3, 'cc')") == Payload.Insert(3) &&
        (g.execute("EXECUTE OPERATOR exact_dedup(source = 'smokedocs')") match {
          case Payload.Select(_, rows) => rows.nonEmpty
          case _ => false
        }))

    // --- drop surface ---
    check("drop table")(g.execute("DROP TABLE scripted") == Payload.DropTable)
    expectError("drop missing table errors", "does not exist") {
      g.execute("DROP TABLE scripted")
    }
    check("drop if exists ok")(g.execute("DROP TABLE IF EXISTS scripted") == Payload.DropTable)
    check("drop database")(g.execute("DROP DATABASE db2") == Payload.Success)

    println(if (failures == 0) "ALL OK" else s"$failures FAILURES")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
