package graft.engine

import graft.SparkFixture
import org.scalatest.funsuite.AnyFunSuite

/** UPDATE and DELETE replace files only through the engine's one
  * staged swap ([[Engine]]'s `stagedSwap`).
  *
  * The rewrite of the affected files — every file when there is no
  * WHERE — lands in a hidden `.dml_staging_*` directory, is
  * parity-gated there, and enters the table through the
  * manifest-bracketed rename protocol COMPACT, TRUNCATE and ALTER use
  * (one protocol, one repair). An unconditional DELETE swaps the files
  * out for nothing. So a concurrent reader never sees rewritten and
  * original rows together, nor an empty table, and `.graft_meta` is
  * never deleted. This spec pins the observable contract; the
  * torn-swap convergence itself is CompactSwapRepairSpec/
  * CompactRepairStrictSpec territory (same manifest, same repair). */
class DmlSwapSpec extends AnyFunSuite {
  import DmlSwapSpec._

  private lazy val spark = SparkFixture.session
  private lazy val loc = java.nio.file.Files.createTempDirectory("dmlswap")
  private lazy val g = {
    val e = new Engine(spark)
    e.execute("DROP DATABASE IF EXISTS dsw")
    e.execute(s"CREATE DATABASE dsw LOCATION '$loc'")
    e
  }

  private def names(tbl: String): Set[String] = entries(loc.resolve(tbl))
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

  test("whole-table UPDATE and unconditional DELETE keep the record and the originals until the swap") {
    g.execute("CREATE TABLE dsw.w (id INTEGER AUTO_INCREMENT PRIMARY KEY, v INTEGER NOT NULL, u INTEGER UNIQUE)")
    g.execute("INSERT INTO dsw.w (v, u) SELECT id, id FROM range(1000)")
    def noResidue(): Unit = {
      val after = names("w")
      assert(!after.exists(_.startsWith(".dml_staging_")), s"staging left: $after")
      assert(!after.contains(Engine.SwapManifestName), s"manifest left: $after")
      assert(after.contains(Engine.TableMetaName), s"constraint record gone: $after")
    }
    val (pu, ju, su) = jobsSeeing(spark, loc.resolve("w"))(g.execute("UPDATE dsw.w SET v = v + 1"))
    assert(pu == Payload.Update(1000L))
    assert(ju == 1, s"expected the staged rewrite alone = 1 job, saw $ju")
    assertIntact(su)
    noResidue()
    assert(spark.sql("SELECT count(*), sum(v) FROM dsw.w").head.toSeq == Seq(1000L, 500500L))
    val (pd, jd, sd) = jobsSeeing(spark, loc.resolve("w"))(g.execute("DELETE FROM dsw.w"))
    assert(pd == Payload.Delete(1000L))
    assert(jd == 0, s"an unconditional DELETE counts from the footers and runs no job, saw $jd")
    assertIntact(sd)
    noResidue()
    assert(dataNames("w").isEmpty, s"every original retired: ${names("w")}")
    assert(spark.table("dsw.w").count() == 0L)
    // the record survived: constraints still enforced
    g.execute("INSERT INTO dsw.w (v, u) VALUES (1, 1)")
    assert(intercept[EngineException](g.execute("INSERT INTO dsw.w (v, u) VALUES (2, 1)"))
      .getMessage.contains("duplicate entry in unique column u"))
  }

  test("whole-table UPDATE making a UNIQUE column collide aborts: originals intact, no staging left") {
    fourRangeFiles("wu", "k INTEGER, u INTEGER UNIQUE")
    val before = dataFiles("wu")
    val e = intercept[EngineException](g.execute("UPDATE dsw.wu SET u = 7"))
    assert(e.getMessage.contains("duplicate entry in unique column u"), e.getMessage)
    assert(dataFiles("wu") == before, "a failed UPDATE must not touch the original files")
    assert(!names("wu").exists(_.startsWith(".dml_staging_")), s"staging left: ${names("wu")}")
    assert(spark.sql("SELECT count(DISTINCT u) FROM dsw.wu").head.getLong(0) == 400L)
  }

  test("Engine.scala replaces table files only through the staged swap") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/engine/Engine.scala")), "UTF-8")
    assert("""SaveMode\.Overwrite\s*\)\s*\.\s*insertInto""".r.findFirstIn(src).isEmpty,
      "a statement overwrites a table with insertInto(SaveMode.Overwrite)")
    // every atomicRenameOk( call sits in swapDir or requireAtomicRename
    val defRe = """\bdef\s+(\w+)""".r
    val callers = """(?<!def )atomicRenameOk\(""".r.findAllMatchIn(src).map { m =>
      defRe.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
    }.toSet
    assert(callers == Set("swapDir", "requireAtomicRename"), s"atomicRenameOk called from $callers")
    // no statement drops a live table: DROP TABLE is issued only by dropTable
    val droppers = "\"DROP\\s+TABLE\\s".r.findAllMatchIn(src).map { m =>
      defRe.findAllMatchIn(src.substring(0, m.start)).toSeq.last.group(1)
    }.toSet
    assert(droppers == Set("dropTable"), s"DROP TABLE issued from $droppers")
  }

  test("Engine.scala routes statements only through Statement.parse") {
    def source(name: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/main/scala/graft/engine/$name")), "UTF-8")
    val src = source("Engine.scala")
    assert(!src.contains(".toUpperCase.startsWith("), "Engine.scala routes on an upper-cased prefix")
    // the only statement regex left is preprocess's SET left-hand side
    val regexLines = src.linesIterator.filter(_.contains("\"\"\"(?is)")).toSeq
    assert(regexLines.size == 1 && regexLines.head.contains("setVarLhsRe"), regexLines.mkString("\n"))
    val literal = scala.util.matching.Regex.quote("\"\"\"(?is)").r
    assert(literal.findAllMatchIn(src + source("Statement.scala")).size < 21,
      "statement regexes grew back to the 21 Engine.scala held when it routed text itself")
    // User text reaches spark.sql only through the pass-through case.
    // Every other call runs a template that begins with a fixed DDL
    // keyword and interpolates only quoted names and paths (`$x`,
    // '$x') or the typed column list ($fields); a bare interpolation
    // such as `USING parquet ${rest}` would splice user text into SQL.
    val ddl = Seq("CREATE DATABASE ", "CREATE TABLE ", "DROP DATABASE ", "DROP TABLE ", "ALTER TABLE ")
    val templateRe = "s(\"\"\"[\\s\\S]*?\"\"\"|\"[^\"\\n]*\")".r
    val interpolationRe = """\$(\{[^}]*\}|\w+)""".r
    val calls = """spark\.sql\(""".r.findAllMatchIn(src).toSeq
    assert(calls.nonEmpty)
    for (m <- calls) {
      var depth = 1
      var end = m.end
      while (depth > 0) {
        if (src(end) == '(') depth += 1 else if (src(end) == ')') depth -= 1
        end += 1
      }
      val arg = src.substring(m.end, end - 1).trim
      val at = s"spark.sql(${arg.take(80)}"
      val templates = templateRe.findAllMatchIn(arg).map(_.group(1).replace("\"\"\"", "\"").drop(1).dropRight(1)).toSeq
      if (templates.isEmpty) {
        val lastCase = """case\s+[\w.]+""".r.findAllMatchIn(src.substring(0, m.start)).toSeq.last.matched
        assert(lastCase.endsWith("Statement.PassThrough"), s"$at runs text outside the pass-through case")
      } else {
        val glue = templateRe.replaceAllIn(arg, "").replace(".stripMargin", "")
        assert(glue.forall(c => c == '+' || c.isWhitespace), s"$at: not a template")
        val body = templates.mkString
        assert(ddl.exists(body.startsWith), s"$at: not a fixed DDL statement")
        for (i <- interpolationRe.findAllMatchIn(body)) {
          val before = body(i.start - 1)
          assert(before == '`' || before == '\'' || before == '(' && i.matched == "$fields",
            s"$at interpolates ${i.matched} unquoted")
        }
      }
    }
  }
}

object DmlSwapSpec {
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.scalatest.Assertions._

  /** The names in `dir`. */
  def entries(dir: java.nio.file.Path): Set[String] = {
    val s = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSet
    } finally s.close()
  }

  /** The jobs `body` runs, and the entries of the table directory
    * `dir` as a listener saw them at each job start. */
  def jobsSeeing(spark: org.apache.spark.sql.SparkSession, dir: java.nio.file.Path)(
      body: => Payload): (Payload, Int, Seq[Set[String]]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = seen.add(entries(dir))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (p, jobs) = SinglePassDmlSpec.jobsDuring(spark)(body)
      import scala.jdk.CollectionConverters._
      (p, jobs, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Every listing holds the constraint record and a data file. */
  def assertIntact(seen: Seq[Set[String]]): Unit = seen.foreach { ns =>
    assert(ns.contains(Engine.TableMetaName), s"a job started without the constraint record: $ns")
    assert(ns.exists(n => !n.startsWith(".") && !n.startsWith("_")),
      s"a job started with no data file in the table: $ns")
  }
}
