package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_EXTRA_CONF parsing, and the structural rules that
  * sessions are built only in [[GraftSession]] and that the engine and
  * the operators never write the session conf. */
class GraftSessionSpec extends AnyFunSuite {

  test("a well-formed conf list parses, later keys overriding earlier ones") {
    assert(GraftSession.parseConf("a.b=1; c.d=x=y ;a.b=2") ==
      Map("a.b" -> "2", "c.d" -> "x=y"))
    assert(GraftSession.parseConf("").isEmpty)
  }

  test("empty tokens from a trailing ';' are skipped") {
    assert(GraftSession.parseConf("spark.sql.shuffle.partitions=8;") ==
      Map("spark.sql.shuffle.partitions" -> "8"))
    assert(GraftSession.parseConf(" ; ;").isEmpty)
  }

  test("a token without '=' or with an empty key fails fast, naming the token") {
    for (bad <- Seq("spark.sql.shuffle.partitions:8", "=8")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseConf(s"a=1;$bad;b=2"))
      assert(e.getMessage.contains(s"'$bad'"))
    }
  }

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private def matching(files: Seq[java.io.File], re: scala.util.matching.Regex): Seq[java.io.File] =
    files.filter(f => re.findFirstIn(
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty)

  test("sessions are built only in GraftSession") {
    val files = Seq("src/main", "src/test").flatMap(d => scalaFiles(new java.io.File(d)))
    assert(files.exists(_.getName == "GraftSession.scala"), "source tree not found")
    val offenders = matching(files.filterNot(_.getName == "GraftSession.scala"),
      """SparkSession\s*\.\s*builder\s*\(""".r)
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession, not in: ${offenders.mkString(", ")}")
  }

  test("no statement or operator writes the session conf") {
    // A per-statement conf write is shared by every concurrent
    // statement on the session, so two racing restores can leave a
    // value set for good.
    val engine = new java.io.File("src/main/scala/graft/engine/Engine.scala")
    val files = engine +: scalaFiles(new java.io.File("src/main/scala/graft/operators"))
    assert(engine.isFile && files.size > 1, "source tree not found")
    val offenders = matching(files, """\bconf\s*\.\s*(?:set|unset|setConfString|unsetConf)\s*\(""".r)
    assert(offenders.isEmpty,
      s"session conf written in: ${offenders.mkString(", ")}")
  }
}
