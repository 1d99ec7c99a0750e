package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** A bounded INSERT (a plan whose maxRows is at most
  * `Engine.SmallBatchRows`, 2,000) is validated in one driver pass and
  * checks UNIQUE with a key probe that reads only the row groups the
  * batch keys can hit. These cases pin that the probe still finds a
  * collision in a file far from the rest of the batch's keys, that a
  * bounded batch whose source shuffles draws its ids in row order, and
  * that a batch without a static bound under the limit — a generator,
  * or a source one row over the bound — stays distributed. */
class BoundedInsertSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val g = {
    val e = new Engine(spark)
    e.execute("DROP DATABASE IF EXISTS bins")
    val loc = java.nio.file.Files.createTempDirectory("bins").toFile.getAbsolutePath
    e.execute(s"CREATE DATABASE bins LOCATION '$loc'")
    e
  }

  private def rows(sql: String): Seq[Seq[Any]] = g.execute(sql) match {
    case Payload.Select(_, rs) => rs
    case other => fail(s"expected Select, got $other")
  }

  test("key probe finds a stored key in a far-off file among many fresh keys") {
    g.execute("CREATE TABLE bins.u (k INTEGER UNIQUE, v INTEGER)")
    for (i <- 0 until 4)
      g.execute(s"INSERT INTO bins.u SELECT id + ${i * 1000}, 0 FROM range(1000)")
    g.execute("CREATE INDEX bins_uk ON bins.u (k)") // range-disjoint files
    // 20 fresh keys past the stored range plus key 3, which lives in
    // the first file: more keys than the reader's IN-list threshold
    val fresh = (0 until 20).map(i => s"(${10000 + i}, 1)")
    val e = intercept[EngineException](
      g.execute("INSERT INTO bins.u VALUES " + (fresh :+ "(3, 1)").mkString(", ")))
    assert(e.getMessage.contains("duplicate entry in unique column k"), e.getMessage)
    assert(rows("SELECT COUNT(*) AS n, SUM(v) AS s FROM bins.u") == Seq(Seq(4000L, 0L)))
    // the same fresh keys with NULL keys beside them are accepted
    assert(g.execute("INSERT INTO bins.u VALUES " + (fresh ++ Seq("(NULL, 1)", "(NULL, 1)")).mkString(", "))
      == Payload.Insert(22))
    assert(rows("SELECT COUNT(*) AS n, SUM(v) AS s FROM bins.u") == Seq(Seq(4022L, 22L)))
  }

  test("a bounded batch over a shuffled source draws ids in row order") {
    g.execute("CREATE TABLE bins.a (id INTEGER AUTO_INCREMENT UNIQUE, v INTEGER)")
    g.execute("INSERT INTO bins.a (v) VALUES (100)")
    g.execute("INSERT INTO bins.a (v) SELECT id FROM range(5000) ORDER BY id DESC LIMIT 3")
    assert(rows("SELECT id, v FROM bins.a ORDER BY id") ==
      Seq(Seq(1L, 100L), Seq(2L, 4999L), Seq(3L, 4998L), Seq(4L, 4997L)))
  }

  test("only a batch whose maxRows is within the bound is collected on the driver") {
    g.execute("CREATE TABLE bins.gen (id INTEGER AUTO_INCREMENT UNIQUE, v INTEGER)")
    def plan(sql: String): Seq[String] = rows("EXPLAIN " + sql).map(_.head.toString)
    assert(Engine.SmallBatchRows == 2000L)
    val small = "INSERT INTO bins.gen (v) VALUES " + (1 to 10).map(i => s"($i)").mkString(", ")
    // range(2001) is statically bounded, one row over the bound
    val wide = "INSERT INTO bins.gen (v) SELECT id + 11 FROM range(2001)"
    // a generator has no maxRows: 100 rows from one literal stay distributed
    val gen = "INSERT INTO bins.gen (v) SELECT explode(sequence(2012, 2111))"
    val bounded = "staging: none — bounded batch, collected once and validated on the driver"
    assert(plan(small).contains(bounded), plan(small).mkString("\n"))
    assert(plan(small).contains("auto_increment: id (driver row-order fill)"))
    for (sql <- Seq(wide, gen)) {
      val p = plan(sql)
      assert(!p.exists(_.contains("bounded batch")), p.mkString("\n"))
      assert(p.contains("auto_increment: id (parallel per-partition offset fill)"), p.mkString("\n"))
    }
    assert(g.execute(small) == Payload.Insert(10))
    assert(g.execute(wide) == Payload.Insert(2001))
    assert(g.execute(gen) == Payload.Insert(100))
    // every path draws the same dense row-order ids
    assert(rows("SELECT COUNT(*) AS n, MIN(id) AS lo, MAX(id) AS hi, " +
      "SUM(CASE WHEN id = v THEN 1 ELSE 0 END) AS same FROM bins.gen") ==
      Seq(Seq(2111L, 1L, 2111L, 2111L)))
  }
}
