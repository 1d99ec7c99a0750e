package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_EXTRA_CONF parsing, and the structural rule that the
  * session conf is written only in [[GraftSession]]. */
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

  test("sessions are built only in GraftSession") {
    val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = Seq("src/main", "src/test").flatMap(d => scalaFiles(new java.io.File(d)))
    assert(files.exists(_.getName == "GraftSession.scala"), "source tree not found")
    val offenders = files.filterNot(_.getName == "GraftSession.scala").filter { f =>
      builderCall.findFirstIn(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).nonEmpty
    }
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession, not in: ${offenders.mkString(", ")}")
  }
}
