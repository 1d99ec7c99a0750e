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
  * collected rows: a 10-row VALUES into an AUTO_INCREMENT PRIMARY KEY
  * table runs at most 3 jobs (collect, one key probe of the stored
  * keys, the write), and a duplicate-key INSERT fails after at most 2
  * (collect, probe) without writing. */
class SinglePassDmlSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val g = {
    val e = new Engine(spark)
    e.execute("DROP DATABASE IF EXISTS spdml")
    val loc = java.nio.file.Files.createTempDirectory("spdml").toFile.getAbsolutePath
    e.execute(s"CREATE DATABASE spdml LOCATION '$loc'")
    e
  }

  /** Count jobs started while `body` runs (listener events are async:
    * poll until the counter is quiet before reading it). */
  private def jobsDuring(body: => Payload): (Payload, Int) = {
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

  test("bounded VALUES INSERT into an AUTO_INCREMENT PRIMARY KEY table runs at most 3 jobs") {
    g.execute("CREATE TABLE spdml.k (pk INTEGER AUTO_INCREMENT PRIMARY KEY, v INTEGER)")
    g.execute("INSERT INTO spdml.k (v) SELECT id FROM range(5000)")
    val values = (1 to 10).map(i => s"($i)").mkString(", ")
    val (p, jobs) = jobsDuring(g.execute(s"INSERT INTO spdml.k (v) VALUES $values"))
    assert(p == Payload.Insert(10))
    assert(jobs <= 3, s"expected collect + key probe + write <= 3 jobs, saw $jobs")
    g.execute("SELECT MIN(pk), MAX(pk), COUNT(DISTINCT pk) FROM spdml.k WHERE pk > 5000") match {
      case Payload.Select(_, rows) => assert(rows.head == Seq(5001L, 5010L, 10L))
      case other => fail(s"$other")
    }
  }

  test("duplicate-key INSERT fails after at most 2 jobs") {
    val (_, jobs) = jobsDuring {
      val e = intercept[EngineException](
        g.execute("INSERT INTO spdml.k (pk, v) VALUES (6000, 0), (17, 0), (6001, 0)"))
      assert(e.getMessage.contains("duplicate entry in unique column pk"), e.getMessage)
      Payload.Success
    }
    assert(jobs <= 2, s"expected collect + key probe <= 2 jobs, saw $jobs")
    g.execute("SELECT COUNT(*) AS n FROM spdml.k") match {
      case Payload.Select(_, rows) => assert(rows.head.head == 5010L)
      case other => fail(s"$other")
    }
  }
}
