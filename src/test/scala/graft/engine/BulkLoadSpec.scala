package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Bulk load at its job floor: a bulk INSERT…SELECT into an
  * AUTO_INCREMENT PRIMARY KEY table checks its fresh ids with one
  * range probe of the stored keys (none on an empty table), and CREATE
  * INDEX rewrites a table only when its files are not already
  * range-clustered by the indexed column. */
class BulkLoadSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val g = {
    val e = new Engine(spark)
    e.execute("DROP DATABASE IF EXISTS bulk")
    val loc = java.nio.file.Files.createTempDirectory("bulk").toFile.getAbsolutePath
    e.execute(s"CREATE DATABASE bulk LOCATION '$loc'")
    e
  }

  private def jobsDuring(body: => Payload): (Payload, Int) =
    SinglePassDmlSpec.jobsDuring(spark)(body)

  private def one(sql: String): Seq[Any] = g.execute(sql) match {
    case Payload.Select(_, rows) => rows.head
    case other => fail(s"$other")
  }

  private def location(tbl: String): java.net.URI =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tbl, Some("bulk"))).location

  /** The table's data files, by name. */
  private def files(tbl: String): Set[String] =
    new java.io.File(location(tbl)).listFiles().map(_.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")).toSet

  private def tableRows(tbl: String): Seq[String] =
    spark.table(s"bulk.$tbl").collect().map(_.toString).sorted.toSeq

  /** Every file sorted by `key` (NULLs first) and the files' non-NULL
    * `key` ranges strictly disjoint. */
  private def assertClustered(tbl: String, key: String = "k"): Unit = {
    val dir = location(tbl)
    val ranges = files(tbl).toSeq.flatMap { f =>
      val ks = spark.read.parquet(s"$dir/$f").select(key).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getAs[Number](0).doubleValue()))
      val vals = ks.flatten
      assert(ks.dropWhile(_.isEmpty).forall(_.nonEmpty), s"$f: NULL after a key")
      assert(vals.toSeq == vals.sorted.toSeq, s"$f is not sorted by $key")
      if (vals.isEmpty) None else Some(vals.head -> vals.last)
    }.sortBy(_._1)
    ranges.zip(ranges.drop(1)).foreach { case (a, b) =>
      assert(a._2 < b._1, s"overlapping file ranges $a and $b")
    }
  }

  test("range-sourced bulk INSERT into an empty AUTO_INCREMENT PK table: at most 2 jobs") {
    g.execute("CREATE TABLE bulk.b (pk INTEGER AUTO_INCREMENT PRIMARY KEY, v INTEGER)")
    val (p, jobs) = jobsDuring(g.execute("INSERT INTO bulk.b (v) SELECT id FROM range(20000)"))
    assert(p == Payload.Insert(20000))
    assert(jobs <= 2, s"expected stats + write <= 2 jobs, saw $jobs")
    assert(one("SELECT COUNT(*), MIN(pk), MAX(pk), COUNT(DISTINCT pk) FROM bulk.b") ==
      Seq(20000L, 1L, 20000L, 20000L))
    assert(one("SELECT COUNT(*) FROM bulk.b WHERE pk = v + 1") == Seq(20000L))
  }

  test("parquet-sourced bulk INSERT into an AUTO_INCREMENT PK table reads footers") {
    val src = java.nio.file.Files.createTempDirectory("bulk_src").toFile.getAbsolutePath
    spark.range(0, 6000).selectExpr("id AS v").repartition(3)
      .write.mode("overwrite").parquet(src)
    spark.read.parquet(src).createOrReplaceTempView("bulk_src")
    g.execute("CREATE TABLE bulk.f (pk INTEGER AUTO_INCREMENT PRIMARY KEY, v INTEGER)")
    val before = FooterCounts.hits.get()
    val (p, jobs) = jobsDuring(g.execute("INSERT INTO bulk.f (v) SELECT v FROM bulk_src"))
    assert(p == Payload.Insert(6000))
    assert(FooterCounts.hits.get() == before + 1, "a fresh auto key must not refuse the footer path")
    assert(jobs <= 1, s"expected the write alone, saw $jobs jobs")
    // a second load probes the stored keys once, then writes
    val (p2, jobs2) = jobsDuring(g.execute("INSERT INTO bulk.f (v) SELECT v FROM bulk_src"))
    assert(p2 == Payload.Insert(6000))
    assert(FooterCounts.hits.get() == before + 2)
    assert(jobs2 <= 2, s"expected range probe + write <= 2 jobs, saw $jobs2")
    assert(one("SELECT COUNT(*), MIN(pk), MAX(pk), COUNT(DISTINCT pk) FROM bulk.f") ==
      Seq(12000L, 1L, 12000L, 12000L))
  }

  test("a stored key inside the fresh id range fails the bulk INSERT, changing nothing") {
    g.execute("CREATE TABLE bulk.c (pk INTEGER AUTO_INCREMENT PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO bulk.c (v) SELECT id FROM range(3000)")
    // the counter stands at 3001; an explicit key 5 past it
    g.execute("INSERT INTO bulk.c (pk, v) VALUES (3006, -1)")
    val e = intercept[EngineException](
      g.execute("INSERT INTO bulk.c (v) SELECT id FROM range(3000)"))
    assert(e.getMessage.contains("duplicate entry in unique column pk"), e.getMessage)
    assert(one("SELECT COUNT(*) FROM bulk.c") == Seq(3001L))
    g.execute("INSERT INTO bulk.c (v) VALUES (-2)")
    assert(one("SELECT pk FROM bulk.c WHERE v = -2") == Seq(3001L), "the counter moved")
  }

  test("CREATE INDEX on a bulk-loaded auto-key table runs 1 job and rewrites nothing") {
    g.execute("CREATE TABLE bulk.i (pk INTEGER AUTO_INCREMENT PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO bulk.i (v) SELECT id FROM range(20000)")
    val before = files("i")
    assert(before.size > 1, s"need a multi-file table, got $before")
    def layout = g.execute("EXPLAIN FILES bulk.i") match {
      case Payload.Select(_, rows) => rows.filterNot(_.head == "indexes")
      case other => fail(s"$other")
    }
    val shown = layout
    val (_, jobs) = jobsDuring(g.execute("CREATE INDEX i_pk ON bulk.i (pk)"))
    assert(jobs == 1, s"expected the layout scan alone, saw $jobs jobs")
    assert(files("i") == before)
    assert(layout == shown)
    assertClustered("i", "pk")
  }

  test("CREATE INDEX rewrites overlapping files in at most 3 jobs, no checkpoint") {
    g.execute("CREATE TABLE bulk.s (k INTEGER, v INTEGER)")
    g.execute("INSERT INTO bulk.s SELECT (id * 7919) % 20000, id FROM range(20000)")
    val (before, rows) = (files("s"), tableRows("s"))
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val (_, jobs) = jobsDuring(g.execute("CREATE INDEX s_k ON bulk.s (k)"))
    assert(jobs <= 3, s"expected sampling + shuffle + write <= 3 jobs, saw $jobs")
    assert(spark.sparkContext.getPersistentRDDs.size == persisted, "a checkpoint was taken")
    assert(files("s").intersect(before).isEmpty)
    assert(files("s").size == before.size)
    assert(tableRows("s") == rows)
    assertClustered("s")
  }

  test("CREATE INDEX rewrites overlapping files, a NULL key and a DOUBLE key") {
    val cases = Seq(
      "o" -> Seq("CREATE TABLE bulk.o (k INTEGER, v INTEGER)",
        "INSERT INTO bulk.o SELECT id, id FROM range(3000)",
        "INSERT INTO bulk.o SELECT id, id FROM range(2000, 5000)"),
      "n" -> Seq("CREATE TABLE bulk.n (k INTEGER, v INTEGER)",
        "INSERT INTO bulk.n SELECT CASE WHEN id = 2500 THEN NULL ELSE id END, id FROM range(5000)"),
      "d" -> Seq("CREATE TABLE bulk.d (k FLOAT, v INTEGER)",
        "INSERT INTO bulk.d SELECT CAST(id AS DOUBLE), id FROM range(5000)"))
    for ((t, load) <- cases) {
      load.foreach(g.execute)
      val (before, rows) = (files(t), tableRows(t))
      g.execute(s"CREATE INDEX ${t}_k ON bulk.$t (k)")
      assert(files(t).intersect(before).isEmpty, s"$t was not rewritten")
      assert(tableRows(t) == rows, s"$t changed rows")
      assertClustered(t)
    }
  }

  test("CREATE INDEX on an empty table runs no job") {
    g.execute("CREATE TABLE bulk.e (k INTEGER, v INTEGER)")
    val (p, jobs) = jobsDuring(g.execute("CREATE INDEX e_k ON bulk.e (k)"))
    assert(p == Payload.Create)
    assert(jobs == 0, s"expected no job, saw $jobs")
  }
}
