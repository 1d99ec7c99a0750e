package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** The CoW UPDATE/DELETE staged swap (round 18).
  *
  * Before this round, the file-granular rewrite appended its output
  * DIRECTLY into the table directory and then deleted the originals —
  * so a concurrent reader saw rewritten + original rows together for
  * the whole write, and a crash between append and deletes left those
  * duplicates permanently with no manifest: exactly the two windows
  * the COMPACT swap closed in rounds 15–17, still open on the much
  * hotter DML path. Now UPDATE/DELETE stage into a hidden
  * `.dml_staging_*` directory, parity-gate there, and enter the table
  * through the same manifest-bracketed [[Engine]] swap (one protocol,
  * one repair). This spec pins the observable contract; the torn-swap
  * convergence itself is CompactSwapRepairSpec/CompactRepairStrictSpec
  * territory (same manifest, same repair). */
class DmlSwapSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val loc = java.nio.file.Files.createTempDirectory("dmlswap")
  private lazy val g = {
    val e = new Engine(spark)
    e.execute("DROP DATABASE IF EXISTS dsw")
    e.execute(s"CREATE DATABASE dsw LOCATION '$loc'")
    e
  }

  private def names(tbl: String): Set[String] = {
    val s = java.nio.file.Files.list(loc.resolve(tbl))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSet
    } finally s.close()
  }
  private def dataNames(tbl: String): Set[String] =
    names(tbl).filter(n => !n.startsWith(".") && !n.startsWith("_"))

  test("file-granular UPDATE swaps through staging: untouched files keep their identity, no residue") {
    g.execute("CREATE TABLE dsw.t (k INTEGER, v INTEGER)")
    for (i <- 0 until 4)
      g.execute(s"INSERT INTO dsw.t SELECT id + ${i * 100}, 0 FROM range(100)")
    g.execute("CREATE INDEX dsw_k ON dsw.t (k)") // range-disjoint files
    val before = dataNames("t")
    val Payload.Update(n) = g.execute("UPDATE dsw.t SET v = 1 WHERE k < 50"): @unchecked
    assert(n == 50L)
    val after = names("t")
    assert(!after.exists(_.startsWith(".dml_staging_")),
      s"staging must not survive the statement: $after")
    assert(!after.contains(Engine.SwapManifestName),
      "the manifest must be consumed by the completed swap")
    val untouchedSurvive = (before & dataNames("t")).size
    assert(untouchedSurvive >= 1 && !(dataNames("t") subsetOf before),
      s"rewrite must replace only the affected files: before=$before after=${dataNames("t")}")
    assert(spark.sql("SELECT sum(v) FROM dsw.t").head.getLong(0) == 50L)
  }

  test("DELETE that keeps zero survivors: rows gone, manifest consumed (empty_ok roll-forward)") {
    g.execute("CREATE TABLE dsw.z (k INTEGER, v INTEGER)")
    g.execute("INSERT INTO dsw.z SELECT id, 0 FROM range(100)")
    g.execute("INSERT INTO dsw.z SELECT id + 100, 0 FROM range(100)")
    // Every row of every affected file matches — zero staged files.
    val Payload.Delete(n) = g.execute("DELETE FROM dsw.z WHERE k >= 0 AND v = 0"): @unchecked
    assert(n == 200L)
    assert(spark.table("dsw.z").count() == 0L)
    val after = names("z")
    assert(!after.contains(Engine.SwapManifestName), s"manifest must be consumed: $after")
    assert(dataNames("z").isEmpty, s"all originals must be retired: $after")
  }

  test("a torn EMPTY-staged swap with empty_ok rolls FORWARD; a legacy one without it rolls back") {
    // empty_ok=true (this round's DML writes it): the deletes finish.
    g.execute("CREATE TABLE dsw.e1 (k INTEGER)")
    g.execute("INSERT INTO dsw.e1 SELECT id FROM range(50)")
    val origs1 = dataNames("e1")
    java.nio.file.Files.write(loc.resolve("e1").resolve(Engine.SwapManifestName),
      (origs1.map(nm => s"orig\t$nm").toSeq :+ "empty_ok\ttrue").mkString("\n").getBytes)
    g.execute("INSERT INTO dsw.e1 SELECT id + 100 FROM range(10)") // repair runs first
    spark.catalog.refreshTable("dsw.e1")
    assert(spark.table("dsw.e1").count() == 10L,
      "empty_ok manifest must roll FORWARD: the listed originals are deleted")
    // No marker (a pre-round-18 manifest whose staging write crashed):
    // roll back — originals stay, nothing is deleted.
    g.execute("CREATE TABLE dsw.e2 (k INTEGER)")
    g.execute("INSERT INTO dsw.e2 SELECT id FROM range(50)")
    val origs2 = dataNames("e2")
    java.nio.file.Files.write(loc.resolve("e2").resolve(Engine.SwapManifestName),
      origs2.map(nm => s"orig\t$nm").mkString("\n").getBytes)
    g.execute("INSERT INTO dsw.e2 SELECT id + 100 FROM range(10)")
    spark.catalog.refreshTable("dsw.e2")
    assert(spark.table("dsw.e2").count() == 60L,
      "a marker-less empty manifest must roll BACK: originals survive")
  }

  /** Data file name → size: a failed statement must leave every
    * original exactly as it was. */
  private def dataFiles(tbl: String): Map[String, Long] =
    dataNames(tbl).map(nm => nm -> java.nio.file.Files.size(loc.resolve(tbl).resolve(nm))).toMap

  private def fourRangeFiles(tbl: String, cols: String): Unit = {
    g.execute(s"CREATE TABLE dsw.$tbl ($cols)")
    for (i <- 0 until 4)
      g.execute(s"INSERT INTO dsw.$tbl SELECT id + ${i * 100}, id + ${i * 100} FROM range(100)")
    g.execute(s"CREATE INDEX dsw_${tbl}_k ON dsw.$tbl (k)") // range-disjoint files
  }

  test("UPDATE setting a NOT NULL column to NULL aborts: originals intact, no staging left") {
    fourRangeFiles("nn", "k INTEGER, v INTEGER NOT NULL")
    val before = dataFiles("nn")
    val e = intercept[EngineException](g.execute("UPDATE dsw.nn SET v = NULL WHERE k < 50"))
    assert(e.getMessage.contains("null value in NOT NULL column v"), e.getMessage)
    assert(dataFiles("nn") == before, "a failed UPDATE must not touch the original files")
    assert(!names("nn").exists(_.startsWith(".dml_staging_")), s"staging left: ${names("nn")}")
    assert(spark.sql("SELECT count(v), sum(v) FROM dsw.nn").head.toSeq == Seq(400L, 79800L))
  }

  test("UPDATE making a UNIQUE column collide with an untouched file aborts: originals intact, no staging left") {
    fourRangeFiles("uq", "k INTEGER, u INTEGER UNIQUE")
    val before = dataFiles("uq")
    // k = 0 lives in the first file; u = 399 in the last, untouched one
    val e = intercept[EngineException](g.execute("UPDATE dsw.uq SET u = 399 WHERE k = 0"))
    assert(e.getMessage.contains("duplicate entry in unique column u"), e.getMessage)
    assert(dataFiles("uq") == before, "a failed UPDATE must not touch the original files")
    assert(!names("uq").exists(_.startsWith(".dml_staging_")), s"staging left: ${names("uq")}")
    assert(spark.sql("SELECT count(*) FROM dsw.uq WHERE u = 399").head.getLong(0) == 1L)
  }
}
