package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** Single-writer semantics for mutations (round-11 verdict item).
  *
  * The reference's UNIQUE/AUTO_INCREMENT enforcement is sound because
  * Sled flocks the database directory at open (database/mod.rs:72-92)
  * — one writer, ever. This engine restores the guarantee at mutation
  * scope via [[DbLock]]; these tests pin both halves:
  *  - in-process writers SERIALIZE: concurrent INSERTs into an
  *    AUTO_INCREMENT table still produce the dense 1..n id sequence
  *    (an unserialized validate→fill→write interleaving hands out
  *    colliding ids and corrupts the counter);
  *  - a foreign lock holder (another process, simulated by taking the
  *    flock in-JVM outside DbLock) makes the mutation FAIL LOUDLY
  *    after the deadline, never race.
  * Readers are not serialized at all: the last cases pin that they
  * never wait on the writer lock and that concurrent readers on one
  * session get exactly the serial results.
  */
class ConcurrentDmlSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.session

  private def freshDb(g: Engine, name: String): java.io.File = {
    g.execute(s"DROP DATABASE IF EXISTS $name")
    val loc = java.nio.file.Files.createTempDirectory(s"graft_$name").toFile
    g.execute(s"CREATE DATABASE $name LOCATION '${loc.getAbsolutePath}'")
    loc
  }

  test("concurrent in-process INSERTs serialize: dense auto-id sequence survives") {
    val g = new Engine(spark)
    freshDb(g, "cdml")
    g.execute("CREATE TABLE cdml.t (id INTEGER AUTO_INCREMENT, v INTEGER)")
    // Both threads drive the SAME engine — the session-shared shape a
    // Spark deployment actually has. (A separate Engine instance has
    // its own MetaStore and would not even see the constraints; the
    // cross-INSTANCE story is the flock test below.)
    val perThread = 15
    val threads = (0 until 2).map { tid =>
      new Thread(() => {
        for (i <- 0 until perThread)
          g.execute(s"INSERT INTO cdml.t (v) VALUES (${tid * 1000 + i})")
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val ids = spark.sql("SELECT id FROM cdml.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == (1L to 2L * perThread), s"ids not dense: $ids")
    g.execute("DROP DATABASE cdml")
  }

  test("a foreign .graft.lock holder makes the mutation fail loudly, not race") {
    val g = new Engine(spark)
    val loc = freshDb(g, "cdml2")
    g.execute("CREATE TABLE cdml2.t (id INTEGER AUTO_INCREMENT, v INTEGER)")
    g.execute("INSERT INTO cdml2.t (v) VALUES (1)") // lock file exists after this
    val lockFile = new java.io.File(loc, ".graft.lock")
    assert(lockFile.exists, "mutation should have created the lock file")
    val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    val foreign = ch.lock() // simulates another process's writer
    val prev = System.setProperty("graft.lock.timeout.ms", "300")
    try {
      val e = intercept[EngineException](
        g.execute("INSERT INTO cdml2.t (v) VALUES (2)"))
      assert(e.getMessage.contains(".graft.lock"),
        s"expected the lock file in the error, got: ${e.getMessage}")
    } finally {
      if (prev == null) System.clearProperty("graft.lock.timeout.ms")
      else System.setProperty("graft.lock.timeout.ms", prev)
      foreign.release(); ch.close()
    }
    // Lock released: the same statement now succeeds.
    g.execute("INSERT INTO cdml2.t (v) VALUES (2)")
    assert(spark.sql("SELECT count(*) FROM cdml2.t").head.getLong(0) == 2L)
    g.execute("DROP DATABASE cdml2")
  }

  test("INSERTs racing CREATE INDEX lose nothing: DDL serializes with DML") {
    // Round-17 verdict task 1 (second half): CREATE INDEX's
    // read-cluster-overwrite used to run OUTSIDE the writer lock — an
    // INSERT landing between its read and its overwrite was silently
    // erased by the rewrite. Now both take DbLock; whichever orders
    // first, every inserted row must survive the clustered rewrite.
    val g = new Engine(spark)
    freshDb(g, "cdml4")
    g.execute("CREATE TABLE cdml4.t (k INTEGER, v INTEGER)")
    g.execute("INSERT INTO cdml4.t SELECT id, id FROM range(500)")
    val inserter = new Thread(() => {
      for (i <- 0 until 10)
        g.execute(s"INSERT INTO cdml4.t VALUES (${1000 + i}, ${1000 + i})")
    })
    val indexer = new Thread(() => {
      g.execute("CREATE INDEX cdml4_k ON cdml4.t (k)")
    })
    inserter.start(); indexer.start()
    inserter.join(); indexer.join()
    val n = spark.sql("SELECT count(*) FROM cdml4.t").head.getLong(0)
    assert(n == 510L, s"rows lost to the DDL/DML race: $n != 510")
    // And the index must cover whatever landed before its rewrite —
    // correctness of layout is stats-based, so just assert the rows.
    val distinct = spark.sql("SELECT count(DISTINCT k) FROM cdml4.t").head.getLong(0)
    assert(distinct == 510L)
    g.execute("DROP DATABASE cdml4")
  }

  test("readers never wait on the writer lock (multi-tenant read liveness)") {
    // The single-writer contract is mutation-scoped ONLY: a tenant
    // running SELECTs while another holds the DML lock must proceed
    // immediately — the reference serializes readers behind its
    // engine Mutex, and NOT inheriting that is half the multi-tenant
    // pitch (the other half is the 4-thread read parity case below;
    // its sf1 inflation and throughput are in SURVEY.md's round-15
    // addendum).
    val g = new Engine(spark)
    val loc = freshDb(g, "cdml3")
    g.execute("CREATE TABLE cdml3.t (id INTEGER AUTO_INCREMENT, v INTEGER)")
    g.execute("INSERT INTO cdml3.t (v) VALUES (1)")
    val lockFile = new java.io.File(loc, ".graft.lock")
    val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    val foreign = ch.lock() // a writer holds the database lock...
    try {
      // ...and reads proceed without touching it (no deadline wait:
      // the in-test timeout below is far under DbLock's default).
      val t0 = System.nanoTime()
      val n = g.query("SELECT count(*) AS n FROM cdml3.t").head.getLong(0)
      val readMs = (System.nanoTime() - t0) / 1e6
      assert(n == 1L)
      assert(readMs < 5000, f"read took $readMs%.0f ms under a held writer lock")
    } finally { foreign.release(); ch.close() }
    g.execute("DROP DATABASE cdml3")
  }

  test("heavy read queries from 4 threads on one session return the serial fingerprints") {
    // N analytic tenants share one SparkContext instead of queueing
    // behind a single engine lock. Sharing must not corrupt results:
    // the facade entries re-register the corpus views and build fresh
    // Engines on every run, so the session catalog and the schema
    // cache are raced here.
    import org.apache.spark.sql.functions.{col, struct, xxhash64}
    val dir = SparkFixture.Sf0001
    val names = Seq("d13_span_minhash", "d9_canonical_select",
      "t19_learned_tokens", "c1_corpus_prep")
    // (row count, order-insensitive xor of row hashes), from one action
    // that computes the whole result
    def fingerprint(name: String): (Long, Long) = {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val r = df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .selectExpr("count(*)", "coalesce(bit_xor(h), 0)").head
      (r.getLong(0), r.getLong(1))
    }
    val serial = names.map(n => n -> fingerprint(n)).toMap
    assert(serial.values.forall(_._1 > 0), s"an entry returned no rows: $serial")
    val errors = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    // each thread starts at a different entry, so the mix is heterogeneous
    val threads = names.indices.map { i =>
      new Thread(() => (names.drop(i) ++ names.take(i)).foreach { n =>
        try {
          val got = fingerprint(n)
          if (got != serial(n)) errors.add(s"$n thread $i: $got != serial ${serial(n)}")
        } catch { case e: Throwable => errors.add(s"$n thread $i failed: $e") }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.mkString("\n"))
  }
}
