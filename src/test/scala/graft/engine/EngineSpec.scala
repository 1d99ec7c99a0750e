package graft.engine

import graft.SparkFixture
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** The ability battery over the Engine facade — the ScalaTest port of
  * the reference's cross-backend test matrix
  * (/root/reference/tests/ability/..., tests/functionality/...,
  * tests/databases_main.rs:1-35). Every test goes through
  * `execute(sql) → Payload`, the same surface an embedding
  * application uses.
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterEach {

  private lazy val spark = SparkFixture.session
  private lazy val g = new Engine(spark)

  override def beforeEach(): Unit = {
    g.execute("DROP DATABASE IF EXISTS tdb")
    val loc = java.nio.file.Files.createTempDirectory("tdb").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE tdb LOCATION '$loc'")
    g.execute("USE tdb")
  }

  private def selectRows(sql: String): Seq[Seq[Any]] =
    g.execute(sql) match {
      case Payload.Select(_, rows) => rows
      case other => fail(s"expected Select payload, got $other")
    }

  // ---- ability/base/basic.rs ----

  test("create-insert-select round trip") {
    assert(g.execute("CREATE TABLE basic (a INTEGER)") == Payload.Create)
    assert(g.execute("INSERT INTO basic (a) VALUES (1)") == Payload.Insert(1))
    assert(g.execute("INSERT INTO basic VALUES (2)") == Payload.Insert(1))
    assert(selectRows("SELECT a FROM basic ORDER BY a") == Seq(Seq(1L), Seq(2L)))
    assert(g.execute("UPDATE basic SET a = 4 WHERE a = 2") == Payload.Update(1))
    assert(selectRows("SELECT a FROM basic ORDER BY a") == Seq(Seq(1L), Seq(4L)))
  }

  test("create table if not exists is idempotent; duplicate create errors") {
    g.execute("CREATE TABLE t (a INTEGER)")
    assert(g.execute("CREATE TABLE IF NOT EXISTS t (a INTEGER)") == Payload.Create)
    val e = intercept[EngineException](g.execute("CREATE TABLE t (a INTEGER)"))
    assert(e.getMessage.contains("already exists"))
  }

  test("insert column-count mismatch errors") {
    g.execute("CREATE TABLE t (a INTEGER, b TEXT)")
    val e = intercept[EngineException](g.execute("INSERT INTO t VALUES (1)"))
    assert(e.getMessage.toLowerCase.contains("wrong number"))
  }

  test("insert into unknown table errors") {
    val e = intercept[EngineException](g.execute("INSERT INTO nope VALUES (1)"))
    assert(e.getMessage.contains("does not exist"))
  }

  // ---- ability/base/aggregate, filter ----

  test("aggregates and having through the sql path") {
    g.execute("CREATE TABLE n (k INTEGER, v INTEGER)")
    g.execute("INSERT INTO n VALUES (1, 10), (1, 20), (2, 5), (2, 6), (3, 1)")
    assert(selectRows(
      "SELECT k, SUM(v) AS s FROM n GROUP BY k HAVING SUM(v) > 10 ORDER BY k")
      == Seq(Seq(1L, 30L), Seq(2L, 11L)))
  }

  test("filter with arithmetic and between") {
    g.execute("CREATE TABLE f (x INTEGER)")
    g.execute("INSERT INTO f VALUES (1), (5), (10), (20)")
    assert(selectRows("SELECT x FROM f WHERE x * 2 BETWEEN 9 AND 21 ORDER BY x")
      == Seq(Seq(5L), Seq(10L)))
  }

  // ---- ability/base/join ----

  test("joins across engine tables") {
    g.execute("CREATE TABLE l (id INTEGER, r_id INTEGER)")
    g.execute("CREATE TABLE r (id INTEGER, name TEXT)")
    g.execute("INSERT INTO l VALUES (1, 10), (2, 20), (3, 99)")
    g.execute("INSERT INTO r VALUES (10, 'x'), (20, 'y')")
    assert(selectRows(
      "SELECT l.id, r.name FROM l JOIN r ON l.r_id = r.id ORDER BY l.id")
      == Seq(Seq(1L, "x"), Seq(2L, "y")))
    assert(selectRows(
      "SELECT l.id, r.name FROM l LEFT JOIN r ON l.r_id = r.id ORDER BY l.id")(2)
      == Seq(3L, null))
  }

  // ---- ability/column_option/{auto_increment,default,unique,types}.rs ----

  test("auto_increment fills and continues; truncate resets") {
    g.execute("CREATE TABLE ai (id INTEGER AUTO_INCREMENT, v TEXT)")
    g.execute("INSERT INTO ai (v) VALUES ('a'), ('b')")
    g.execute("INSERT INTO ai (v) VALUES ('c')")
    assert(selectRows("SELECT id, v FROM ai ORDER BY id")
      == Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    assert(g.execute("TRUNCATE TABLE ai") == Payload.TruncateTable)
    g.execute("INSERT INTO ai (v) VALUES ('z')")
    assert(selectRows("SELECT id FROM ai") == Seq(Seq(1L)))
  }

  test("auto_increment bulk INSERT..SELECT stays parallel and assigns dense ids") {
    g.execute("CREATE TABLE bai (id INTEGER AUTO_INCREMENT, v INTEGER)")
    spark.range(10000).selectExpr("CAST(id AS INT) AS v")
      .repartition(8).createOrReplaceTempView("bai_src")
    g.execute("INSERT INTO bai (v) SELECT v FROM bai_src")
    g.execute("INSERT INTO bai (v) SELECT v FROM bai_src")
    // Dense 1..20000 across both batches: distinct = count, min 1,
    // max n, and the exact Gauss sum pins every id.
    assert(selectRows(
      "SELECT COUNT(*), MIN(id), MAX(id), COUNT(DISTINCT id), SUM(id) FROM bai").head
      == Seq(20000L, 1L, 20000L, 20000L, 20000L * 20001L / 2))
    // The fill must not have funnelled the batch through one partition:
    // each 8-partition insert writes multiple files.
    val nFiles = g.query("SELECT v FROM bai")
      .select(org.apache.spark.sql.functions.input_file_name())
      .distinct().count()
    assert(nFiles > 2, s"bulk insert collapsed to $nFiles file(s)")
  }

  test("default expressions evaluated when column omitted") {
    g.execute("CREATE TABLE d (a INTEGER, b INTEGER DEFAULT 7 * 2, c TEXT DEFAULT 'x')")
    g.execute("INSERT INTO d (a) VALUES (1)")
    assert(selectRows("SELECT a, b, c FROM d") == Seq(Seq(1L, 14L, "x")))
  }

  test("explicit NULL is not replaced by default, and NOT NULL rejects it") {
    g.execute("CREATE TABLE d2 (a INTEGER, b TEXT NOT NULL DEFAULT 'y')")
    val e = intercept[EngineException](g.execute("INSERT INTO d2 VALUES (1, NULL)"))
    assert(e.getMessage.contains("NOT NULL"))
    assert(selectRows("SELECT COUNT(*) AS n FROM d2") == Seq(Seq(0L)))
  }

  test("unique rejects duplicates within batch and against stored rows") {
    g.execute("CREATE TABLE u (k INTEGER UNIQUE)")
    g.execute("INSERT INTO u VALUES (1), (2)")
    assert(intercept[EngineException](
      g.execute("INSERT INTO u VALUES (2)")).getMessage.contains("duplicate"))
    assert(intercept[EngineException](
      g.execute("INSERT INTO u VALUES (3), (3)")).getMessage.contains("duplicate"))
    // NULLs are not unique-constrained (SQL semantics)
    g.execute("INSERT INTO u VALUES (NULL), (NULL)")
    assert(selectRows("SELECT COUNT(*) AS n FROM u") == Seq(Seq(4L)))
  }

  test("declared types coerce on insert") {
    g.execute("CREATE TABLE ty (b BOOLEAN, i INTEGER, f FLOAT, s TEXT, t TIMESTAMP)")
    g.execute("INSERT INTO ty VALUES (true, '42', 1, 99, TIMESTAMP '2024-01-02 03:04:05')")
    val row = selectRows("SELECT b, i, f, s FROM ty").head
    assert(row == Seq(true, 42L, 1.0d, "99"))
  }

  // ---- ability/alter/table ----

  test("alter table rename / add / drop column") {
    g.execute("CREATE TABLE at (a INTEGER, b TEXT)")
    g.execute("INSERT INTO at VALUES (1, 'x')")
    assert(g.execute("ALTER TABLE at RENAME COLUMN b TO label") == Payload.AlterTable)
    assert(selectRows("SELECT label FROM at") == Seq(Seq("x")))
    assert(g.execute("ALTER TABLE at ADD COLUMN c INTEGER DEFAULT 5") == Payload.AlterTable)
    assert(selectRows("SELECT c FROM at") == Seq(Seq(5L)))
    assert(g.execute("ALTER TABLE at DROP COLUMN label") == Payload.AlterTable)
    val e = intercept[Exception](g.query("SELECT label FROM at").collect())
    assert(e.getMessage.toUpperCase.contains("UNRESOLVED") || e.getMessage.contains("label"))
    assert(g.execute("ALTER TABLE at RENAME TO at2") == Payload.AlterTable)
    assert(selectRows("SELECT a, c FROM at2") == Seq(Seq(1L, 5L)))
  }

  // ---- ability/alter/view + databases ----

  test("views re-evaluate over current table state") {
    g.execute("CREATE TABLE vt (x INTEGER)")
    g.execute("INSERT INTO vt VALUES (1), (5)")
    g.execute("CREATE VIEW v AS SELECT x FROM vt WHERE x > 2")
    assert(selectRows("SELECT COUNT(*) AS n FROM v") == Seq(Seq(1L)))
    g.execute("INSERT INTO vt VALUES (9)")
    assert(selectRows("SELECT COUNT(*) AS n FROM v") == Seq(Seq(2L)))
    g.execute("DROP VIEW v")
  }

  test("multi-database create, cross-db join, drop") {
    g.execute("DROP DATABASE IF EXISTS other")
    val loc = java.nio.file.Files.createTempDirectory("other").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE other LOCATION '$loc'")
    g.execute("CREATE TABLE other.dim (id INTEGER, tag TEXT)")
    g.execute("INSERT INTO other.dim VALUES (1, 'one')")
    g.execute("CREATE TABLE fact (id INTEGER)")
    g.execute("INSERT INTO fact VALUES (1), (1)")
    assert(selectRows(
      "SELECT COUNT(*) AS n FROM fact JOIN other.dim d ON fact.id = d.id")
      == Seq(Seq(2L)))
    g.execute("DROP DATABASE other")
    assert(!spark.catalog.databaseExists("other"))
  }

  // ---- DML: update/delete payload counts ----

  test("update and delete report affected-row counts") {
    g.execute("CREATE TABLE c (x INTEGER)")
    g.execute("INSERT INTO c VALUES (1), (2), (3), (4)")
    assert(g.execute("UPDATE c SET x = x + 10 WHERE x >= 3") == Payload.Update(2))
    assert(g.execute("DELETE FROM c WHERE x > 10") == Payload.Delete(2))
    assert(g.execute("DELETE FROM c") == Payload.Delete(2))
    assert(selectRows("SELECT COUNT(*) AS n FROM c") == Seq(Seq(0L)))
  }

  // ---- session variables ----

  test("session variables substitute into queries and errors on undefined") {
    g.execute("CREATE TABLE sv (x INTEGER)")
    g.execute("INSERT INTO sv VALUES (1), (10)")
    g.execute("SET @lim = 5")
    assert(selectRows("SELECT x FROM sv WHERE x > @lim") == Seq(Seq(10L)))
    val e = intercept[EngineException](g.execute("SELECT @nope"))
    assert(e.getMessage.contains("undefined session variable"))
    // '@' inside a string literal is not substituted
    g.execute("CREATE TABLE svs (s TEXT)")
    g.execute("INSERT INTO svs VALUES ('a@lim')")
    assert(selectRows("SELECT s FROM svs") == Seq(Seq("a@lim")))
  }

  // ---- explain introspection ----

  test("explain lists databases, tables, and column metadata") {
    g.execute("CREATE TABLE ex (id INTEGER AUTO_INCREMENT, v TEXT NOT NULL)")
    val Payload.Select(dbl, dbs) = g.execute("EXPLAIN ALL"): @unchecked
    assert(dbl == Seq("database") && dbs.flatten.contains("tdb"))
    val Payload.Select(_, tbls) = g.execute("EXPLAIN tdb"): @unchecked
    assert(tbls.flatten.contains("ex"))
    val Payload.Select(cols, rows) = g.execute("EXPLAIN ex"): @unchecked
    assert(cols == Seq("column", "type", "nullable", "unique", "auto_increment"))
    val idRow = rows.find(_.head == "id").get
    assert(idRow(4) == true)
    val vRow = rows.find(_.head == "v").get
    assert(vRow(2) == false)
  }

  // ---- index surface ----

  test("create index clusters data and unique index validates") {
    g.execute("CREATE TABLE ix (k INTEGER, v TEXT)")
    g.execute("INSERT INTO ix VALUES (3, 'c'), (1, 'a'), (2, 'b'), (2, 'dup')")
    assert(g.execute("CREATE INDEX idx_k ON ix (k)") == Payload.Create)
    // data survives the re-clustering rewrite
    assert(selectRows("SELECT COUNT(*) AS n FROM ix") == Seq(Seq(4L)))
    val e = intercept[EngineException](g.execute("CREATE UNIQUE INDEX uq_k ON ix (k)"))
    assert(e.getMessage.contains("duplicate"))
    // a unique index then gates inserts on that column
    g.execute("DELETE FROM ix WHERE v = 'dup'")
    g.execute("CREATE UNIQUE INDEX uq_k ON ix (k)")
    assert(intercept[EngineException](
      g.execute("INSERT INTO ix VALUES (1, 'again')")).getMessage.contains("duplicate"))
  }

  test("UPDATE honors a unique index on the WHERE and whole-table paths") {
    g.execute("CREATE TABLE ux (k INTEGER, v INTEGER)")
    g.execute("INSERT INTO ux VALUES (1, 10), (2, 20), (3, 30)")
    g.execute("CREATE UNIQUE INDEX ux_k ON ux (k)")
    assert(intercept[EngineException](
      g.execute("INSERT INTO ux VALUES (1, 99)")).getMessage.contains("duplicate"))
    val before = selectRows("SELECT k, v FROM ux ORDER BY k")
    assert(intercept[EngineException](
      g.execute("UPDATE ux SET k = 1 WHERE k = 2")).getMessage
      .contains("duplicate entry in unique column k"))
    assert(selectRows("SELECT k, v FROM ux ORDER BY k") == before)
    assert(intercept[EngineException](
      g.execute("UPDATE ux SET k = 7")).getMessage
      .contains("duplicate entry in unique column k"))
    assert(selectRows("SELECT k, v FROM ux ORDER BY k") == before)
    // a key-preserving UPDATE still passes
    assert(g.execute("UPDATE ux SET k = 4 WHERE k = 3") == Payload.Update(1))
    assert(selectRows("SELECT k FROM ux ORDER BY k") == Seq(Seq(1L), Seq(2L), Seq(4L)))
  }

  test("multi-column index is rejected like the reference") {
    g.execute("CREATE TABLE mi (a INTEGER, b INTEGER)")
    val e = intercept[EngineException](g.execute("CREATE INDEX i2 ON mi (a, b)"))
    assert(e.getMessage.contains("single-column"))
  }

  // ---- host API ----

  test("selectAsCsv / selectJson / insertVec / executeMany") {
    g.execute("CREATE TABLE h (id INTEGER, s TEXT)")
    g.insertVec("h", Seq("id", "s"), Seq(Seq(1L, "a"), Seq(2L, "with,comma")))
    assert(g.selectAsCsv("SELECT id, s FROM h ORDER BY id")
      == "id,s\n1,a\n2,\"with,comma\"")
    assert(g.selectJson("SELECT id FROM h ORDER BY id") == """[{"id":1},{"id":2}]""")
    val payloads = g.executeMany(
      "CREATE TABLE m (x INTEGER); INSERT INTO m VALUES (1); SELECT x FROM m")
    assert(payloads == Seq(Payload.Create, Payload.Insert(1),
      Payload.Select(Seq("x"), Seq(Seq(1L)))))
  }

  test("maxResultRows guards facade SELECTs by default; opt-out streams all") {
    g.execute("CREATE TABLE caprows (x INTEGER)")
    g.execute("INSERT INTO caprows VALUES (1), (2), (3), (4), (5)")
    // the guard is ON by default at a generous bound
    assert(g.maxResultRows.contains(Engine.DefaultMaxResultRows))
    g.maxResultRows = Some(3)
    try {
      assert(intercept[EngineException](
        g.execute("SELECT x FROM caprows")).getMessage.contains("maxResultRows"))
      assert(intercept[EngineException](
        g.selectJson("SELECT x FROM caprows")).getMessage.contains("maxResultRows"))
      // within the cap (explicit LIMIT) still materializes normally
      val Payload.Select(_, rows) = g.execute("SELECT x FROM caprows LIMIT 2"): @unchecked
      assert(rows.length == 2)
      // explicit opt-out restores the reference's whole-result
      // contract (streamed partition-at-a-time)
      g.maxResultRows = None
      val Payload.Select(_, all) = g.execute("SELECT x FROM caprows"): @unchecked
      assert(all.length == 5)
      assert(g.selectJson("SELECT x FROM caprows ORDER BY x")
        == """[{"x":1},{"x":2},{"x":3},{"x":4},{"x":5}]""")
    } finally g.maxResultRows = Some(Engine.DefaultMaxResultRows)
    // under the default bound, ordinary results are unchanged
    val Payload.Select(_, all) = g.execute("SELECT x FROM caprows"): @unchecked
    assert(all.length == 5)
  }

  /** One file per size (a bounded INSERT writes one file), so one scan
    * partition each; file f holds f, f + files, f + 2·files, … */
  private def filesTable(name: String, sizes: Int*): Unit = {
    g.execute(s"CREATE TABLE $name (x INTEGER)")
    for ((k, f) <- sizes.zipWithIndex)
      g.execute(s"INSERT INTO $name SELECT id * ${sizes.length} + $f FROM range($k)")
    assert(spark.table(s"tdb.$name").inputFiles.length == sizes.length)
  }

  private def withMaxResultRows[A](n: Int)(body: => A): A = {
    g.maxResultRows = Some(n)
    try body finally g.maxResultRows = Some(Engine.DefaultMaxResultRows)
  }

  test("maxResultRows fails an over-limit read when only the total across files exceeds it") {
    filesTable("spread", 3, 3, 3, 3)
    withMaxResultRows(5) {
      for (read <- Seq[String => Any](g.execute, g.selectJson)) {
        val e = intercept[EngineException](read("SELECT x FROM spread"))
        assert(e.getMessage.contains("maxResultRows"), e.getMessage)
      }
    }
  }

  test("maxResultRows fails an over-limit read when one file alone exceeds it") {
    filesTable("heavy", 10, 1, 1, 1)
    withMaxResultRows(5) {
      assert(intercept[EngineException](g.execute("SELECT x FROM heavy"))
        .getMessage.contains("maxResultRows"))
    }
  }

  test("a result of exactly maxResultRows rows across files is returned whole") {
    filesTable("exact", 3, 3, 3, 3)
    withMaxResultRows(12) {
      assert(selectRows("SELECT x FROM exact").map(_.head).sortBy(_.asInstanceOf[Long])
        == (0L until 12L))
      assert(g.selectJson("SELECT x FROM exact").count(_ == '{') == 12)
    }
  }

  test("ORDER BY across files is globally ordered, with and without LIMIT") {
    filesTable("ord", 5, 4, 3, 2)
    // file f holds f, f + 4, f + 8, …: 0–10 and 12, 13, 16
    val all = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 12L, 13L, 16L)
    assert(selectRows("SELECT x FROM ord ORDER BY x DESC") == all.reverse.map(Seq(_)))
    assert(selectRows("SELECT x FROM ord ORDER BY x DESC LIMIT 4")
      == Seq(16L, 13L, 12L, 10L).map(Seq(_)))
    withMaxResultRows(14) {
      assert(selectRows("SELECT x FROM ord ORDER BY x") == all.map(Seq(_)))
    }
  }

  test("VALUES lists keep the UNION's types and rows; foldable ones become a local relation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def check(sql: String, folded: Boolean, schema: StructType, rows: Seq[Seq[Any]]) = {
      def sorted(rs: Seq[Seq[Any]]) = rs.map(_.map(String.valueOf)).sortBy(_.mkString(","))
      val df = g.valuesDf(sql)
      assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation] == folded, sql)
      // the plain UNION rewrite is the answer a VALUES list had before the fold
      val union = g.query(g.rewriteValues(sql))
      assert(df.schema == union.schema && df.schema == schema, s"$sql: ${df.schema}")
      val Payload.Select(cols, got) = g.execute(sql): @unchecked
      assert(cols == schema.fieldNames.toSeq)
      assert(sorted(got) == sorted(union.collect().toSeq.map(_.toSeq)), sql)
      assert(sorted(got) == rows, sql)
    }
    def col(t: DataType, nullable: Boolean) = StructType(Seq(StructField("col1", t, nullable)))
    check("VALUES (1), (2.5)", folded = true, col(DecimalType(11, 1), nullable = false),
      Seq(Seq("1.0"), Seq("2.5")))
    check("VALUES (NULL), (1)", folded = true, col(IntegerType, nullable = true),
      Seq(Seq("1"), Seq("null")))
    check("VALUES (DATE '2020-01-01'), ('2020-01-02')", folded = true,
      col(DateType, nullable = true), Seq(Seq("2020-01-01"), Seq("2020-01-02")))
    check("VALUES (1), (2) UNION VALUES (2), (3)", folded = false,
      col(IntegerType, nullable = false), Seq(Seq("1"), Seq("2"), Seq("3")))
    // a dialect function over literals folds like any expression
    check("VALUES (CONVERT('INTEGER', '7')), (8)", folded = true,
      col(LongType, nullable = true), Seq(Seq("7"), Seq("8")))
    // a registered UDF is not foldable: the list stays on the UNION
    spark.udf.register("values_twice", (x: Int) => x * 2)
    check("VALUES (values_twice(3)), (8)", folded = false,
      col(IntegerType, nullable = false), Seq(Seq("6"), Seq("8")))
  }

  test("insert through vec runs the same constraint pipeline") {
    g.execute("CREATE TABLE hv (id INTEGER UNIQUE, s TEXT NOT NULL)")
    g.insertVec("hv", Seq("id", "s"), Seq(Seq(1L, "a")))
    assert(intercept[EngineException](
      g.insertVec("hv", Seq("id", "s"), Seq(Seq(1L, "b")))).getMessage.contains("duplicate"))
    assert(intercept[EngineException](
      g.insertVec("hv", Seq("id", "s"), Seq(Seq(2L, null)))).getMessage.contains("NOT NULL"))
  }

  // ---- csv database ----

  test("csv database: inference policy and insert round trip") {
    val tmp = java.nio.file.Files.createTempDirectory("csvdb").toFile
    val f = new java.io.File(tmp, "mixed.csv")
    java.nio.file.Files.writeString(f.toPath,
      "name,n,x,mixed\na,1,1.5,1\nb,2,2.5,two\n")
    g.execute("DROP DATABASE IF EXISTS cdb")
    g.execute(s"CREATE DATABASE cdb LOCATION '${f.getAbsolutePath}'")
    // unanimous → typed; mixed int/text → string (discern.rs:80-96)
    val Payload.Select(_, metaRows) = g.execute("EXPLAIN cdb.mixed"): @unchecked
    val types = metaRows.map(r => r.head.toString -> r(1).toString).toMap
    assert(types("name") == "STRING" && types("n") == "BIGINT" &&
      types("x") == "DOUBLE" && types("mixed") == "STRING")
    g.execute("INSERT INTO cdb.mixed VALUES ('c', 3, 3.5, 'three')")
    assert(selectRows("SELECT COUNT(*) AS n FROM cdb.mixed") == Seq(Seq(3L)))
    // headerless file: first row is data → column_N names
    val f2 = new java.io.File(tmp, "nohead.csv")
    java.nio.file.Files.writeString(f2.toPath, "1,a\n2,b\n")
    g.execute("DROP DATABASE IF EXISTS cdb2")
    g.execute(s"CREATE DATABASE cdb2 LOCATION '${f2.getAbsolutePath}'")
    assert(selectRows("SELECT column_0 FROM cdb2.nohead ORDER BY column_0")
      == Seq(Seq(1L), Seq(2L)))
  }

  test("csv database: update, delete and truncate rewrite the file") {
    val tmp = java.nio.file.Files.createTempDirectory("csvmut").toFile
    val f = new java.io.File(tmp, "inv.csv")
    java.nio.file.Files.writeString(f.toPath,
      "item,qty\nbolt,10\nnut,20\ngear,30\n")
    g.execute("DROP DATABASE IF EXISTS cm")
    g.execute(s"CREATE DATABASE cm LOCATION '${f.getAbsolutePath}'")
    assert(g.execute("UPDATE cm.inv SET qty = qty + 1 WHERE item = 'nut'") == Payload.Update(1))
    assert(g.execute("DELETE FROM cm.inv WHERE item = 'gear'") == Payload.Delete(1))
    // the FILE was rewritten, not just the catalog view
    val content = java.nio.file.Files.readString(f.toPath)
    assert(content.contains("nut,21") && !content.contains("gear"))
    assert(selectRows("SELECT COUNT(*) AS n FROM cm.inv") == Seq(Seq(2L)))
    val e = intercept[EngineException](g.execute("ALTER TABLE cm.inv DROP COLUMN qty"))
    assert(e.getMessage.contains("not supported for CSV"))
    assert(g.execute("TRUNCATE TABLE cm.inv") == Payload.TruncateTable)
    assert(java.nio.file.Files.readString(f.toPath).trim == "item,qty")
    assert(selectRows("SELECT COUNT(*) AS n FROM cm.inv") == Seq(Seq(0L)))
  }

  test("memory database location") {
    g.execute("DROP DATABASE IF EXISTS memdb")
    g.execute("CREATE DATABASE memdb LOCATION ':memory:'")
    g.execute("CREATE TABLE memdb.t (x INTEGER)")
    g.execute("INSERT INTO memdb.t VALUES (1), (2)")
    assert(selectRows("SELECT SUM(x) AS s FROM memdb.t") == Seq(Seq(3L)))
    g.execute("DROP DATABASE memdb")
  }

  // ---- execute file ----

  test("execute file runs a script") {
    val f = java.nio.file.Files.createTempFile("script", ".sql")
    java.nio.file.Files.writeString(f,
      "CREATE TABLE sc (x INTEGER);\nINSERT INTO sc VALUES (1), (2);")
    assert(g.execute(s"EXECUTE FILE '${f.toAbsolutePath}'") == Payload.Success)
    assert(selectRows("SELECT SUM(x) AS s FROM sc") == Seq(Seq(3L)))
  }
}
