package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 scan fan-out (guide §2.5): fanOutScan fires ONLY when the
  * input's scan parallelism is under half the cluster's (the
  * condition, not a constant, is the scale behavior: a many-file
  * corpus is a no-op), and it never changes results — every
  * downstream aggregate is order-insensitive. */
class FanOutScanSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa one two three four five six seven eight nine ten"),
    (3L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"),
    (4L, "unrelated words entirely different content here nothing shared at all with the others in this corpus row")
  ).toDF("doc_id", "text")

  test("fanOutScan raises a 1-partition scan to defaultParallelism") {
    val one = docs.repartition(1)
    val fanned = Dedup.fanOutScan(one)
    assert(one.rdd.getNumPartitions == 1)
    assert(fanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // identical rows, order aside
    assert(fanned.orderBy("doc_id").collect().toSeq ==
      one.orderBy("doc_id").collect().toSeq)
  }

  test("fanOutScan is a no-op when the scan is already parallel") {
    val par = docs.repartition(spark.sparkContext.defaultParallelism)
    val out = Dedup.fanOutScan(par)
    // parts*2 > target: the SAME plan comes back, no added exchange
    assert(out.queryExecution.logical eq par.queryExecution.logical)
  }

  test("d14 results are identical with and without the fan-out firing") {
    val w = 5
    val one = Dedup.exactSubstringOn(docs.repartition(1), w, 200)
      .orderBy("id_a", "id_b").collect().toSeq
    val par = Dedup.exactSubstringOn(
      docs.repartition(spark.sparkContext.defaultParallelism), w, 200)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(one == par && one.nonEmpty)
  }
}
