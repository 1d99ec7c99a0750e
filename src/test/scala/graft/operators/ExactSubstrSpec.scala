package graft.operators

import graft.SparkFixture
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** d14 exact-substring dedup, arbitrated against an O(n·m) dynamic-
  * programming longest-common-token-substring brute force: for every
  * doc pair the operator must report a pair iff the true LCS is ≥ w
  * tokens, and its max_overlap_tokens must equal the true LCS length
  * exactly (a consecutive gram-hit run of r grams on one diagonal is
  * a verbatim run of r + w − 1 tokens — lossless, not approximate). */
class ExactSubstrSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.session
  private val W = 10

  private def toks(s: String): Vector[String] =
    s.trim.split("\\s+").filter(_.nonEmpty).toVector

  /** Longest common token-substring (contiguous), classic DP. */
  private def lcsTokens(a: Seq[String], b: Seq[String]): Int = {
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    var best = 0
    for (i <- 1 to a.length; j <- 1 to b.length)
      if (a(i - 1) == b(j - 1)) {
        dp(i)(j) = dp(i - 1)(j - 1) + 1
        if (dp(i)(j) > best) best = dp(i)(j)
      }
    best
  }

  private def run(docs: Seq[(Long, String)]): Map[(Long, Long), (Long, Long, Long)] = {
    import spark.implicits._
    Dedup.exactSubstringOn(docs.toDF("doc_id", "text"), W, Dedup.ExactSubstrPostingCap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
  }

  private def arbitrate(docs: Seq[(Long, String)]): Unit = {
    val got = run(docs)
    val byId = docs.toMap.map { case (k, v) => k -> toks(v) }
    for {
      (ia, ta) <- byId; (ib, tb) <- byId if ia < ib
    } {
      val lcs = lcsTokens(ta, tb)
      if (lcs >= W)
        assert(got.get((ia, ib)).map(_._1) == Some(lcs.toLong),
          s"pair ($ia,$ib): LCS $lcs, got ${got.get((ia, ib))}")
      else
        assert(!got.contains((ia, ib)),
          s"pair ($ia,$ib): LCS $lcs < $W yet reported ${got.get((ia, ib))}")
    }
  }

  // Deterministic token pools — no shared vocabulary across pools, so
  // crafted overlaps are the ONLY ≥W-token runs.
  private def pool(prefix: String, n: Int): Vector[String] =
    (0 until n).map(i => s"$prefix$i").toVector

  test("single 25-token verbatim run is found with its exact length") {
    val shared = pool("s", 25)
    val a = (pool("a", 8) ++ shared ++ pool("b", 7)).mkString(" ")
    val b = (pool("c", 12) ++ shared ++ pool("d", 3)).mkString(" ")
    val got = run(Seq(1L -> a, 2L -> b))
    // one maximal run: 25 − W + 1 = 16 shared grams
    assert(got == Map((1L, 2L) -> ((25L, 1L, 16L))), s"got $got")
  }

  test("overlap one token short of the threshold is not reported") {
    val shared = pool("s", W - 1)
    val a = (pool("a", 10) ++ shared ++ pool("b", 10)).mkString(" ")
    val b = (pool("c", 10) ++ shared ++ pool("d", 10)).mkString(" ")
    assert(run(Seq(1L -> a, 2L -> b)).isEmpty)
  }

  test("two disjoint runs coalesce separately; longest one wins") {
    val r1 = pool("x", 12)
    val r2 = pool("y", 15)
    val a = (pool("a", 5) ++ r1 ++ pool("b", 5) ++ r2 ++ pool("c", 5)).mkString(" ")
    val b = (r2 ++ pool("d", 9) ++ r1).mkString(" ")
    val got = run(Seq(1L -> a, 2L -> b))
    // runs of 12 and 15 tokens → 3 and 6 grams; max overlap 15
    assert(got == Map((1L, 2L) -> ((15L, 2L, 9L))), s"got $got")
  }

  test("repeats inside one doc never self-pair; cross-doc hits still coalesce") {
    val rep = pool("r", W)
    val a = (rep ++ pool("a", 4) ++ rep).mkString(" ")
    val b = (pool("c", 6) ++ rep).mkString(" ")
    val got = run(Seq(1L -> a, 2L -> b))
    // b's single copy matches both of a's copies: two runs on two
    // diagonals, each exactly one gram, max overlap exactly W
    assert(got == Map((1L, 2L) -> ((W.toLong, 2L, 2L))), s"got $got")
  }

  test("brute-force arbitration over a spliced corpus") {
    // Seeded construction: base docs from per-doc pools (no cross-doc
    // vocab), then splice shared runs of varying lengths — including
    // sub-threshold ones that must NOT surface.
    val runs = Vector(pool("p", 14), pool("q", 30), pool("z", 7))
    val docs = Seq(
      1L -> (pool("da", 20) ++ runs(0) ++ pool("db", 6)).mkString(" "),
      2L -> (runs(0) ++ pool("dc", 11) ++ runs(2)).mkString(" "),
      3L -> (pool("dd", 9) ++ runs(1)).mkString(" "),
      4L -> (runs(1).take(22) ++ pool("de", 13) ++ runs(2)).mkString(" "),
      5L -> pool("df", 40).mkString(" "))
    arbitrate(docs)
  }

  test("d14 (and d2, d13) results do not depend on input partitioning") {
    import spark.implicits._
    // Paragraph spans for d13, long shared token runs for d14 and
    // overlapping 3-gram sets for d2: every operator finds pairs here.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tpl = "terms of service apply to all users of this site"
    val edited = "terms of service apply to all members of this site"
    val docs = Seq(
      1L -> s"$a\n\n$tpl", 2L -> s"$a\n\n$edited",
      3L -> s"one two three four five six seven eight nine ten\n\n$a",
      4L -> "unrelated words entirely different content here nothing shared")
      .toDF("doc_id", "text")
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "d14" -> (d => Dedup.exactSubstringOn(d, 5, Dedup.ExactSubstrPostingCap)),
      "d2" -> (d => Dedup.ngramJaccardOn(d)),
      "d13" -> (d => Dedup.spanMinhashDupsOn(d, Dedup.NumHashes / 2, Dedup.MaxBandBucket)))
    for ((name, op) <- ops) {
      def rows(parts: Int) = op(docs.repartition(parts)).collect().toSet
      val one = rows(1)
      assert(one.nonEmpty, s"$name found no pairs")
      assert(rows(spark.sparkContext.defaultParallelism) == one, name)
    }
  }
}
