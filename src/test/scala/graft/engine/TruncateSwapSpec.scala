package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** TRUNCATE through the engine's one staged swap.
  *
  * Spark's `TRUNCATE TABLE` deletes the whole table directory —
  * `.graft_meta` included — so a crash between the wipe and the
  * engine's re-persist destroyed the constraint record: the remount
  * fell back to LOSSY metadata (every column nullable,
  * UNIQUE/AUTO_INCREMENT forgotten). Every non-CSV table now
  * truncates through the same swap as UPDATE, DELETE, COMPACT and
  * ALTER: nothing staged (`empty_ok`), every data file an original,
  * and the counter-reset record riding the manifest's meta line — the
  * control file is never deleted, and a crash at any point converges
  * through the shared repair to (empty table, reset counter, full
  * constraints). On a store without atomic rename the swap's fallback
  * deletes the data files and persists the reset record
  * (AtomicRenameGuardSpec).
  *
  * Reference: TRUNCATE resets the auto-increment counter
  * (src/alter_table/truncate.rs:8-40). */
class TruncateSwapSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private lazy val loc = java.nio.file.Files.createTempDirectory("truncswap")
  private lazy val g = {
    val e = new Engine(spark)
    e.execute("DROP DATABASE IF EXISTS tsw")
    e.execute(s"CREATE DATABASE tsw LOCATION '$loc'")
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

  private def build(tbl: String): Unit = {
    g.execute(s"""CREATE TABLE tsw.$tbl (
      id INTEGER AUTO_INCREMENT,
      code INTEGER UNIQUE,
      v TEXT DEFAULT 'd')""")
    g.execute(s"INSERT INTO tsw.$tbl (code) VALUES (10)")
    g.execute(s"INSERT INTO tsw.$tbl (code) VALUES (20)")
    g.execute(s"INSERT INTO tsw.$tbl (code) VALUES (30)")
  }

  test("live TRUNCATE retires only data files: the control file is never in the blast radius") {
    build("t")
    val metaBefore = new String(java.nio.file.Files.readAllBytes(
      loc.resolve("t").resolve(Engine.TableMetaName)))
    assert(MetaJson.parse(metaBefore).autoCounter == 4L)
    // Mechanism pin: SQL TRUNCATE deletes the whole directory (this
    // sentinel included, and with it the crash window on the control
    // file); the swap path retires exactly the DATA files.
    java.nio.file.Files.write(loc.resolve("t").resolve(".graft_sentinel"),
      "survives".getBytes)
    assert(g.execute("TRUNCATE TABLE tsw.t") == Payload.TruncateTable)
    assert(spark.sql("SELECT count(*) FROM tsw.t").head.getLong(0) == 0L)
    val after = names("t")
    assert(after.contains(Engine.TableMetaName),
      s"TRUNCATE must not delete the constraint record: $after")
    assert(after.contains(".graft_sentinel"),
      s"TRUNCATE must retire only DATA files, not the directory: $after")
    assert(!after.contains(Engine.SwapManifestName), "manifest must be consumed")
    assert(dataNames("t").isEmpty, s"every data file retired: $after")
    // Counter reset rode the swap's meta line; constraints intact.
    val disk = MetaJson.parse(new String(java.nio.file.Files.readAllBytes(
      loc.resolve("t").resolve(Engine.TableMetaName))))
    assert(disk.autoCounter == 1L, s"counter must reset to 1: ${disk.autoCounter}")
    g.execute("INSERT INTO tsw.t (code) VALUES (10)") // old code reusable post-truncate
    val row = spark.sql("SELECT id, v FROM tsw.t").head
    assert(row.getLong(0) == 1L, s"ids restart at 1 after TRUNCATE: $row")
    assert(row.getString(1) == "d", "DEFAULT survives the truncate")
    val dup = intercept[EngineException](
      g.execute("INSERT INTO tsw.t (code) VALUES (10)"))
    assert(dup.getMessage.toLowerCase.contains("unique"), dup.getMessage)
  }

  test("crash mid-TRUNCATE (manifest written, nothing retired yet): first writer converges") {
    build("c")
    val tdir = loc.resolve("c")
    val origs = dataNames("c").toSeq.sorted
    assert(origs.nonEmpty)
    // Construct the death point exactly as the live path would leave
    // it: the manifest names every original, carries the counter-reset
    // record on its meta line, and empty_ok marks the legitimately
    // empty staged set — no file retired yet.
    val onDisk = MetaJson.parse(new String(java.nio.file.Files.readAllBytes(
      tdir.resolve(Engine.TableMetaName))))
    val stamped = onDisk.copy(autoCounter = 1L, counterDirty = false,
      epoch = onDisk.epoch + 1)
    val b64 = java.util.Base64.getEncoder.encodeToString(
      MetaJson.render(stamped).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val manifest = (origs.map(n => s"orig\t$n") ++
      Seq(s"meta\t$b64", "empty_ok\ttrue")).mkString("\n")
    java.nio.file.Files.write(tdir.resolve(Engine.SwapManifestName), manifest.getBytes)
    // A fresh process finds the torn state; its first mutation repairs
    // first (roll-forward: staged empty + empty_ok), then runs.
    val g2 = new Engine(spark)
    g2.execute("DROP DATABASE IF EXISTS tsw2")
    g2.execute(s"CREATE DATABASE tsw2 LOCATION '$loc'")
    g2.execute("INSERT INTO tsw2.c (code) VALUES (50)")
    assert(!names("c").contains(Engine.SwapManifestName), "manifest must be consumed")
    assert((dataNames("c") & origs.toSet).isEmpty,
      s"roll-forward must retire every pre-truncate file: ${dataNames("c")}")
    val rows = spark.sql("SELECT id, code FROM tsw2.c").collect().map(_.toSeq).toSeq
    assert(rows == Seq(Seq(1, 50)) || rows == Seq(Seq(1L, 50)),
      s"only the post-repair insert remains, ids restarted at 1: $rows")
    val dup = intercept[EngineException](
      g2.execute("INSERT INTO tsw2.c (code) VALUES (50)"))
    assert(dup.getMessage.toLowerCase.contains("unique"),
      s"constraints survive the crashed truncate: ${dup.getMessage}")
    // No DROP: tsw2 shares tsw's directory — a CASCADE here would pull
    // the other test's files out from under the shared session catalog.
  }
}
