package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** The rename-atomicity probe (round-17 verdict task 5).
  *
  * The staged swap assumes atomic same-directory rename; raw object
  * stores implement rename as copy+delete, where the swap would
  * CORRUPT (readers observing half-copied files, crash states the
  * manifest protocol never enumerated) rather than refuse. The engine
  * checks the table's filesystem scheme against a documented
  * allowlist (file/hdfs/viewfs + the Hadoop conf extension
  * `graft.fs.atomic.rename.schemes`) before any rewrite work. This
  * spec mounts a database on `unatomicfs://` — a registered scheme
  * deliberately NOT allowlisted — and pins that COMPACT fails loudly
  * with the table bit-untouched, while UPDATE, DELETE, TRUNCATE and
  * ALTER's column rewrites take the swap's one fallback there: no
  * rename and no dropped table — it appends the checked rows (ALTER
  * re-points the catalog shape first) and makes checked deletes of the
  * originals, and `.graft_meta` stays in place throughout. */
class AtomicRenameGuardSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val local = java.nio.file.Files.createTempDirectory("uat").toFile.getAbsolutePath
  private lazy val g = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.unatomicfs.impl", classOf[UnatomicTestFs].getName)
    val e = new Engine(spark)
    e.execute("DROP DATABASE IF EXISTS uat")
    e.execute(s"CREATE DATABASE uat LOCATION 'unatomicfs://$local'")
    e
  }

  test("COMPACT refuses loudly on a scheme without atomic rename; the table is untouched") {
    g.execute("CREATE TABLE uat.t (k INTEGER, v INTEGER)")
    for (i <- 0 until 4)
      g.execute(s"INSERT INTO uat.t SELECT id + ${i * 100}, id FROM range(100)")
    val before = spark.table("uat.t").inputFiles.toSet
    val rows = spark.table("uat.t").count()
    val err = intercept[EngineException](g.execute("COMPACT TABLE uat.t"))
    assert(err.getMessage.contains("atomic-rename allowlist"), err.getMessage)
    assert(err.getMessage.contains("unatomicfs"), "the error must name the scheme")
    assert(err.getMessage.contains("graft.fs.atomic.rename.schemes"),
      "the error must name the conf escape hatch")
    spark.catalog.refreshTable("uat.t")
    assert(spark.table("uat.t").inputFiles.toSet == before,
      "a refused COMPACT must not move a byte")
    assert(spark.table("uat.t").count() == rows)
  }

  test("CoW DML still works there — the staged swap FALLS BACK to direct append+delete") {
    // On an atomic-rename store the CoW rewrite goes through the
    // manifest-bracketed staged swap; here that protocol would be
    // built on a copy+delete "rename", so the swap finds no swap
    // directory and takes its one fallback: checked append, then
    // checked deletes (correct end state, documented
    // visible-duplicates window).
    val Payload.Update(nu) =
      g.execute("UPDATE uat.t SET v = v + 1 WHERE k < 50"): @unchecked
    assert(nu == 50L)
    val Payload.Delete(nd) = g.execute("DELETE FROM uat.t WHERE k >= 350"): @unchecked
    assert(nd == 50L)
    assert(spark.table("uat.t").count() == 350L)
  }

  test("the conf extension admits a scheme a deployment vouches for") {
    spark.sparkContext.hadoopConfiguration
      .set("graft.fs.atomic.rename.schemes", "graftfs,unatomicfs")
    try {
      val Payload.Select(_, Seq(stats)) = g.execute("COMPACT TABLE uat.t"): @unchecked
      def asL(a: Any): Long = a.asInstanceOf[Number].longValue
      assert(asL(stats(0)) >= 4, s"fragments must move once vouched: $stats")
      assert(spark.table("uat.t").count() == 350L)
    } finally spark.sparkContext.hadoopConfiguration
      .set("graft.fs.atomic.rename.schemes", "graftfs")
  }

  test("whole-table UPDATE, unconditional DELETE and TRUNCATE fall back there, keeping .graft_meta") {
    g.execute("CREATE TABLE uat.w (id INTEGER AUTO_INCREMENT, v INTEGER NOT NULL, u INTEGER UNIQUE)")
    g.execute("INSERT INTO uat.w (v, u) SELECT id, id FROM range(100)")
    def metaKept(): Unit = assert(
      new java.io.File(s"$local/w/${Engine.TableMetaName}").isFile, "the constraint record must stay")
    def all(): Seq[Seq[Any]] =
      spark.sql("SELECT id, v, u FROM uat.w ORDER BY id").collect().map(_.toSeq.map {
        case n: Number => n.longValue; case x => x
      }).toSeq
    val dir = java.nio.file.Paths.get(local, "w")
    val (pu, _, seen) = DmlSwapSpec.jobsSeeing(spark, dir)(g.execute("UPDATE uat.w SET v = v + 1"))
    assert(pu == Payload.Update(100L))
    DmlSwapSpec.assertIntact(seen)
    metaKept()
    assert(all() == (0L until 100L).map(i => Seq(i + 1, i + 1, i)))
    val (pd, jobs, _) = DmlSwapSpec.jobsSeeing(spark, dir)(g.execute("DELETE FROM uat.w"))
    assert(pd == Payload.Delete(100L))
    assert(jobs == 0, s"the footers count the deleted rows, saw $jobs jobs")
    metaKept()
    assert(all().isEmpty)
    g.execute("INSERT INTO uat.w (v, u) VALUES (5, 5), (6, 6)")
    assert(all() == Seq(Seq(101L, 5L, 5L), Seq(102L, 6L, 6L)))
    assert(g.execute("TRUNCATE TABLE uat.w") == Payload.TruncateTable)
    metaKept()
    assert(all().isEmpty)
    g.execute("INSERT INTO uat.w (v, u) VALUES (7, 7)")
    assert(all() == Seq(Seq(1L, 7L, 7L)), "TRUNCATE resets the counter")
    assert(intercept[EngineException](g.execute("INSERT INTO uat.w (v, u) VALUES (8, 7)"))
      .getMessage.contains("duplicate entry in unique column u"), "constraints survive")
  }

  test("ALTER ADD, RENAME and DROP COLUMN fall back there, keeping the table and .graft_meta") {
    g.execute("CREATE TABLE uat.a (id INTEGER AUTO_INCREMENT, v INTEGER NOT NULL, u INTEGER UNIQUE)")
    g.execute("INSERT INTO uat.a (v, u) SELECT id, id FROM range(50)")
    val dir = java.nio.file.Paths.get(local, "a")
    def rows(cols: String): Seq[Seq[Any]] =
      spark.sql(s"SELECT $cols FROM uat.a ORDER BY id").collect().map(_.toSeq.map {
        case n: Number => n.longValue; case x => x
      }).toSeq
    def alter(sql: String): Unit = {
      val (p, jobs, seen) = DmlSwapSpec.jobsSeeing(spark, dir)(g.execute(sql))
      assert(p == Payload.AlterTable)
      assert(jobs > 0 && seen.size == jobs, s"$jobs jobs, ${seen.size} listings")
      DmlSwapSpec.assertIntact(seen)
      assert(new java.io.File(s"$local/a/${Engine.TableMetaName}").isFile, "the constraint record must stay")
    }
    val kept = (0L until 50L).map(i => Seq(i + 1, i, i))
    alter("ALTER TABLE uat.a ADD COLUMN w INTEGER DEFAULT 3")
    assert(rows("id, v, u, w") == kept.map(_ :+ 3L))
    alter("ALTER TABLE uat.a RENAME COLUMN w TO x")
    assert(rows("id, v, u, x") == kept.map(_ :+ 3L))
    alter("ALTER TABLE uat.a DROP COLUMN x")
    assert(spark.table("uat.a").columns.toSeq == Seq("id", "v", "u"))
    assert(rows("id, v, u") == kept)
    g.execute("INSERT INTO uat.a (v, u) VALUES (7, 100)")
    assert(rows("id, v, u").last == Seq(51L, 7L, 100L), "the counter survives")
    assert(intercept[EngineException](g.execute("INSERT INTO uat.a (v, u) VALUES (8, 100)"))
      .getMessage.contains("duplicate entry in unique column u"), "UNIQUE survives")
    assert(intercept[EngineException](g.execute("INSERT INTO uat.a (v, u) VALUES (NULL, 101)"))
      .getMessage.contains("null value in NOT NULL column v"), "NOT NULL survives")
  }
}
