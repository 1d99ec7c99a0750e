package graft.engine

import graft.SparkFixture
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** A small DML statement runs the fewest Spark jobs.
  *
  * UPDATE/DELETE run exactly 2: the narrow file-discovery job
  * (predicate columns only, a per-partition distinct with no
  * exchange), then ONE job that scans the affected files and writes
  * the rewrite straight into staging, with the affected-row count an
  * observed metric (CollectMetrics) on it. A separate count() pass or
  * a checkpoint job would push it to 3. The payload counts stay exact
  * (incl. rows the WHERE doesn't match and an empty-match UPDATE).
  *
  * A bounded INSERT is validated in one driver pass over its
  * collected rows. A foldable VALUES list is a local relation, so
  * collecting it runs no job: a 10-row VALUES into an AUTO_INCREMENT
  * PRIMARY KEY table runs at most 2 jobs (one key probe of the stored
  * keys, the write), and a duplicate-key INSERT fails after at most 1
  * (the probe) without writing.
  *
  * A scan-only SELECT, selectJson over it and an ORDER BY over it
  * each run exactly 1 job over every partition, with the
  * maxResultRows bound checked on the driver.
  *
  * Bulk loads and CREATE INDEX have their job counts pinned in
  * [[BulkLoadSpec]], which shares [[SinglePassDmlSpec.jobsDuring]]. */
class SinglePassDmlSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val g = {
    val e = new Engine(spark)
    e.execute("DROP DATABASE IF EXISTS spdml")
    val loc = java.nio.file.Files.createTempDirectory("spdml").toFile.getAbsolutePath
    e.execute(s"CREATE DATABASE spdml LOCATION '$loc'")
    e
  }

  private def jobsDuring(body: => Payload): (Payload, Int) =
    SinglePassDmlSpec.jobsDuring(spark)(body)

  test("UPDATE runs discovery + one rewrite scan + one write, exact count") {
    g.execute("CREATE TABLE spdml.t (k INTEGER, v INTEGER)")
    g.execute("INSERT INTO spdml.t SELECT id, id * 10 FROM range(100)")
    val (p, jobs) = jobsDuring(g.execute("UPDATE spdml.t SET v = v + 1 WHERE k < 30"))
    assert(p == Payload.Update(30))
    assert(jobs == 2, s"expected discovery + staged rewrite = 2 jobs, saw $jobs")
    g.execute("SELECT SUM(v) AS s FROM spdml.t") match {
      case Payload.Select(_, rows) =>
        // 10*(0+..+99) + 30 ones
        assert(rows.head.head == 49500L + 30L)
      case other => fail(s"$other")
    }
  }

  test("UPDATE with zero matching rows reports 0") {
    val (p, _) = jobsDuring(g.execute("UPDATE spdml.t SET v = 0 WHERE k > 1000"))
    assert(p == Payload.Update(0))
  }

  test("DELETE runs discovery + one rewrite scan + one write, exact count") {
    val (p, jobs) = jobsDuring(g.execute("DELETE FROM spdml.t WHERE k >= 70"))
    assert(p == Payload.Delete(30))
    assert(jobs == 2, s"expected discovery + staged rewrite = 2 jobs, saw $jobs")
    g.execute("SELECT COUNT(*) AS n FROM spdml.t") match {
      case Payload.Select(_, rows) => assert(rows.head.head == 70L)
      case other => fail(s"$other")
    }
  }

  test("unconditional DELETE counts every row") {
    val (p, _) = jobsDuring(g.execute("DELETE FROM spdml.t"))
    assert(p == Payload.Delete(70))
    g.execute("SELECT COUNT(*) AS n FROM spdml.t") match {
      case Payload.Select(_, rows) => assert(rows.head.head == 0L)
      case other => fail(s"$other")
    }
  }

  test("10-row VALUES INSERT, AUTO_INCREMENT PK: at most 2 jobs") {
    g.execute("CREATE TABLE spdml.k (pk INTEGER AUTO_INCREMENT PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO spdml.k (v) SELECT id FROM range(5000)")
    val values = (1 to 10).map(i => s"($i)").mkString(", ")
    val (p, jobs) = jobsDuring(g.execute(s"INSERT INTO spdml.k (v) VALUES $values"))
    assert(p == Payload.Insert(10))
    assert(jobs <= 2, s"expected key probe + write <= 2 jobs, saw $jobs")
    g.execute("SELECT MIN(pk), MAX(pk), COUNT(DISTINCT pk) FROM spdml.k WHERE pk > 5000") match {
      case Payload.Select(_, rows) => assert(rows.head == Seq(5001L, 5010L, 10L))
      case other => fail(s"$other")
    }
  }

  test("duplicate-key INSERT fails after at most 1 job") {
    val (_, jobs) = jobsDuring {
      val e = intercept[EngineException](
        g.execute("INSERT INTO spdml.k (pk, v) VALUES (6000, 0), (17, 0), (6001, 0)"))
      assert(e.getMessage.contains("duplicate entry in unique column pk"), e.getMessage)
      Payload.Success
    }
    assert(jobs <= 1, s"expected key probe <= 1 job, saw $jobs")
    g.execute("SELECT COUNT(*) AS n FROM spdml.k") match {
      case Payload.Select(_, rows) => assert(rows.head.head == 5010L)
      case other => fail(s"$other")
    }
  }

  /** Four files, so four scan partitions: one bounded INSERT writes one file. */
  private lazy val fourFiles = {
    g.execute("CREATE TABLE spdml.r (k INTEGER, v INTEGER)")
    for (f <- 0 until 4)
      g.execute(s"INSERT INTO spdml.r SELECT id * 4 + $f, id FROM range(50)")
    assert(spark.table("spdml.r").inputFiles.length == 4)
    "spdml.r"
  }

  test("a scan-only SELECT over four files runs exactly 1 job") {
    val t = fourFiles
    val (p, jobs) = jobsDuring(g.execute(s"SELECT k FROM $t WHERE v < 10"))
    p match {
      case Payload.Select(_, rows) => assert(rows.map(_.head).toSet == (0L until 40L).toSet)
      case other => fail(s"$other")
    }
    assert(jobs == 1, s"expected one job over every partition, saw $jobs")
  }

  test("selectJson over four files runs exactly 1 job") {
    val t = fourFiles
    var json = ""
    val (_, jobs) = jobsDuring { json = g.selectJson(s"SELECT k FROM $t WHERE k < 3"); Payload.Success }
    assert(json.count(_ == '{') == 3, json)
    assert(jobs == 1, s"expected one job over every partition, saw $jobs")
  }

  test("an ORDER BY over four files runs exactly 1 job") {
    val t = fourFiles
    val (p, jobs) = jobsDuring(g.execute(s"SELECT k FROM $t WHERE v < 3 ORDER BY k DESC"))
    assert(p == Payload.Select(Seq("k"), (0L until 12L).reverse.map(Seq(_))))
    assert(jobs == 1, s"expected one job, saw $jobs")
  }
}


object SinglePassDmlSpec {
  /** Count jobs started while `body` runs (listener events are async:
    * poll until the counter is quiet before reading it). */
  def jobsDuring(spark: org.apache.spark.sql.SparkSession)(body: => Payload): (Payload, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val p = body
      var last = -1
      var quiet = 0
      while (quiet < 2) {
        Thread.sleep(150)
        val cur = n.get()
        if (cur == last) quiet += 1 else { quiet = 0; last = cur }
      }
      (p, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
