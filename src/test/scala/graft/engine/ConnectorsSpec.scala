package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Connector + query-surface additions: JDBC (Derby embedded) mount,
  * INSERT-as-CTE-source, LIMIT/OFFSET, EXPLAIN of a query, and index
  * predicate pushdown visibility. */
class ConnectorsSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val g = new Engine(spark)

  private def selectRows(sql: String): Seq[Seq[Any]] =
    g.execute(sql) match {
      case Payload.Select(_, rows) => rows
      case other => fail(s"expected Select, got $other")
    }

  test("jdbc database mounts external tables (Derby embedded)") {
    val dbDir = java.nio.file.Files.createTempDirectory("derby").toFile
    val url = s"jdbc:derby:$dbDir/extdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE ext_parts (id INT, pname VARCHAR(40))")
      st.execute("INSERT INTO ext_parts VALUES (1, 'bolt'), (2, 'nut'), (3, 'gear')")
      st.close()
    } finally conn.close()

    g.execute("DROP DATABASE IF EXISTS jdb")
    g.execute(s"CREATE DATABASE jdb LOCATION '$url'")
    assert(selectRows("SELECT COUNT(*) AS n FROM jdb.ext_parts") == Seq(Seq(3L)))
    // pushdown reaches the external engine: filter runs through Spark's JDBC source
    assert(selectRows("SELECT pname FROM jdb.ext_parts WHERE id = 2") == Seq(Seq("nut")))
    // engine insert writes back through the JDBC relation
    assert(g.execute("INSERT INTO jdb.ext_parts VALUES (4, 'cam')") == Payload.Insert(1))
    val check = java.sql.DriverManager.getConnection(url)
    try {
      val rs = check.createStatement().executeQuery("SELECT COUNT(*) FROM ext_parts")
      rs.next()
      assert(rs.getInt(1) == 4)
    } finally check.close()
    // UPDATE/DELETE must fail LOUDLY, not silently no-op: the
    // copy-on-write DML path is parquet-file machinery and
    // input_file_name() is empty on a JDBC scan (would match 0 files)
    val ue = intercept[EngineException](
      g.execute("UPDATE jdb.ext_parts SET pname = 'x' WHERE id = 1"))
    assert(ue.getMessage.contains("JDBC"))
    val de = intercept[EngineException](
      g.execute("DELETE FROM jdb.ext_parts WHERE id = 1"))
    assert(de.getMessage.contains("JDBC"))
    val te = intercept[EngineException](
      g.execute("TRUNCATE TABLE jdb.ext_parts"))
    assert(te.getMessage.contains("JDBC"))
    // CREATE INDEX records the index and leaves the external layout
    // alone: no rewrite of the external table through Spark
    assert(g.execute("CREATE INDEX ext_id ON jdb.ext_parts (id)") == Payload.Create)
    // and the external table is untouched, its declared types included
    val check2 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = check2.createStatement().executeQuery("SELECT COUNT(*) FROM ext_parts")
      rs.next()
      assert(rs.getInt(1) == 4)
      val cols = check2.getMetaData.getColumns(null, null, "EXT_PARTS", "PNAME")
      assert(cols.next() && cols.getString("TYPE_NAME") == "VARCHAR" && cols.getInt("COLUMN_SIZE") == 40)
    } finally check2.close()
    // ALTER's column rewrites refuse like UPDATE/DELETE/TRUNCATE: the
    // catalog keeps its USING JDBC entry, so INSERT still reaches Derby
    val ae = intercept[EngineException](
      g.execute("ALTER TABLE jdb.ext_parts ADD COLUMN c INTEGER"))
    assert(ae.getMessage.contains("JDBC"), ae.getMessage)
    val provider = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("ext_parts", Some("jdb"))).provider
    assert(provider.exists(_.equalsIgnoreCase("jdbc")), s"catalog provider is now $provider")
    assert(g.execute("INSERT INTO jdb.ext_parts VALUES (5, 'pin')") == Payload.Insert(1))
    val check3 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = check3.createStatement().executeQuery("SELECT COUNT(*) FROM ext_parts")
      rs.next()
      assert(rs.getInt(1) == 5, "the INSERT after the refused ALTER lands in Derby")
      assert(!check3.getMetaData.getColumns(null, null, "EXT_PARTS", "C").next(),
        "the external table gains no column")
    } finally check3.close()
  }

  test("insert as CTE source returns the written rows") {
    g.execute("DROP DATABASE IF EXISTS cte")
    val loc = java.nio.file.Files.createTempDirectory("cte").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE cte LOCATION '$loc'")
    g.execute("CREATE TABLE cte.t (a INTEGER, b TEXT)")
    val rows = selectRows(
      """WITH added AS (INSERT INTO cte.t VALUES (1, 'x'), (2, 'y'))
        |SELECT a, b FROM added ORDER BY a""".stripMargin)
    assert(rows == Seq(Seq(1L, "x"), Seq(2L, "y")))
    // and the insert actually landed in the table
    assert(selectRows("SELECT COUNT(*) AS n FROM cte.t") == Seq(Seq(2L)))
  }

  test("limit and offset") {
    g.execute("DROP DATABASE IF EXISTS lo")
    val loc = java.nio.file.Files.createTempDirectory("lo").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE lo LOCATION '$loc'")
    g.execute("CREATE TABLE lo.n (x INTEGER)")
    g.execute("INSERT INTO lo.n VALUES (1), (2), (3), (4), (5)")
    assert(selectRows("SELECT x FROM lo.n ORDER BY x LIMIT 2 OFFSET 2")
      == Seq(Seq(3L), Seq(4L)))
  }

  test("prepared statements re-execute against current table state") {
    g.execute("DROP DATABASE IF EXISTS prep")
    val loc = java.nio.file.Files.createTempDirectory("prep").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE prep LOCATION '$loc'")
    g.execute("CREATE TABLE prep.t (x INTEGER)")
    g.execute("INSERT INTO prep.t VALUES (1), (2)")
    val p = g.prepare("SELECT SUM(x) AS s FROM prep.t")
    assert(g.executePrepared(p) == Payload.Select(Seq("s"), Seq(Seq(3L))))
    g.execute("INSERT INTO prep.t VALUES (10)")
    // parsed once, but execution sees the new row
    assert(g.executePrepared(p) == Payload.Select(Seq("s"), Seq(Seq(13L))))
  }

  test("explain of a query returns the physical plan") {
    val Payload.Select(labels, rows) =
      g.execute("EXPLAIN SELECT 1 AS one"): @unchecked
    assert(labels == Seq("plan"))
    assert(rows.flatten.mkString("\n").contains("Physical Plan"))
  }

  test("indexed column predicates are pushed to the parquet scan") {
    g.execute("DROP DATABASE IF EXISTS ixp")
    val loc = java.nio.file.Files.createTempDirectory("ixp").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE ixp LOCATION '$loc'")
    g.execute("CREATE TABLE ixp.t (k INTEGER, v TEXT)")
    g.execute("INSERT INTO ixp.t SELECT id, CAST(id AS STRING) FROM range(1000)")
    g.execute("CREATE INDEX idx ON ixp.t (k)")
    val plan = g.query("SELECT v FROM ixp.t WHERE k BETWEEN 10 AND 20")
      .queryExecution.executedPlan.toString
    // the range predicate reaches the scan, where the index-clustered
    // layout's row-group stats can prune
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThanOrEqual(k,10)") || plan.contains("IsNotNull(k)")),
      s"no pushed filters in: $plan")
  }
}
