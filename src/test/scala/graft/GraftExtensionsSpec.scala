package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The dialect installs through spark.sql.extensions alone — no
  * Engine construction — and DATEADD runs as the native codegen
  * expression. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injected at session build registers the dialect") {
    // Force a NEW session (extensions only apply at session creation;
    // getOrCreate would hand back the shared fixture session). The
    // SparkContext may be reused, so do NOT stop() here. withExtensions
    // is the programmatic form of spark.sql.extensions=graft.
    // GraftExtensions (the config form is a static conf read from the
    // context, which a shared test JVM can't re-set).
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.builder(2).withExtensions(new GraftExtensions()).getOrCreate()
    try {
      assert(spark.sql("SELECT CONVERT('INTEGER', '7')").collect()(0).get(0) == 7L)
      assert(spark.sql("SELECT graft_dateadd('MONTH', 1, 1643587200)")
        .collect()(0).getLong(0) == 1646006400L)
      assert(spark.sql("SELECT LEN('héllo')").collect()(0).get(0) == 6)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setDefaultSession)
    }
  }

  test("DateAddClamped participates in whole-stage codegen") {
    val spark = SparkFixture.session
    graft.functions.Dialect.register(spark)
    val df = spark.sql(
      "SELECT graft_dateadd('MONTH', 1, id + 1643587200) AS t FROM range(10)")
    // expression evaluates correctly over a codegen'd range
    assert(df.collect().length == 10)
    // '*(n)' marks operators inside a WholeStageCodegen stage; the
    // projection holding dateadd must carry it
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("dateadd")),
      s"dateadd not in a codegen stage: $plan")
    // clamping holds through the generated path: base 2022-01-31
    val first = spark.sql(
      "SELECT graft_dateadd('MONTH', 1, 1643587200) AS t").collect()(0).getLong(0)
    assert(first == 1646006400L) // 2022-02-28
  }
}
