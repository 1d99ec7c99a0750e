package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — names restrict the dump
    // (local iteration); the driver always passes exactly two args.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // The session Bench times, SPARK_GRAFT_EXTRA_CONF included, so a
    // conf candidate is checked against the oracle as well as timed.
    val spark = GraftSession.withExtraConf(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // Same loud preflight as Bench: a data/schema drift reads as
    // "table X broken" at the top of the log, not N scattered
    // query failures (round-10 lesson).
    Tables.preflight(spark, sfDir).foreach { case (n, msg) =>
      System.err.println(s"[verify] PREFLIGHT: table '$n' unreadable at $sfDir: $msg")
    }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: $e")
        e.getStackTrace.take(8).foreach(f => System.err.println(s"[verify]   at $f"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Tolerance/exact verdicts for the four no-oracle entries
    // (m3/m4 typed codec paths, q31/q36 sketches): the same checks
    // their specs pin, recomputed HERE at the driver's SF and
    // emitted machine-readable, so the correctness story for these
    // four is an artifact, not spec-trust. Skipped under a query
    // filter (local iteration on other entries).
    if (only.isEmpty) {
      val verdicts = toleranceVerdicts(spark, sfDir)
      val tj = verdicts.map { case (name, check, pass, detail) =>
        s"${q(name)}: {${q("check")}: ${q(check)}, ${q("pass")}: $pass, " +
          s"${q("detail")}: ${q(detail)}}"
      }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/tolerance.json"), tj)
      verdicts.filterNot(_._3).foreach { case (name, check, _, detail) =>
        failed += name
        System.err.println(s"[verify] $name TOLERANCE FAILED ($check): $detail")
      }
    }
    spark.stop()
    // A query that fails to materialize must fail the round loudly, not
    // just lose its CORRECTNESS row (round-1 finding: e1–e4 vanished).
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The four no-oracle entries' verdicts:
    * (name, check description, pass, detail). Each mirrors the
    * corresponding spec's acceptance rule exactly (ApproxPercentileSpec,
    * ApproxDistinctSpec, MultimodalSpec), recomputed against an
    * independent exact anchor at this run's SF. */
  private def toleranceVerdicts(spark: SparkSession, sfDir: String)
      : Seq[(String, String, Boolean, String)] = {
    import graft.operators.{CoreQueries, Multimodal}
    def rel(a: Double, e: Double): Double =
      math.abs(a - e) / math.max(math.abs(e), 1e-9)
    val out = scala.collection.mutable.ListBuffer.empty[(String, String, Boolean, String)]

    // q31: sketch percentiles vs the exact q30 anchor — p50/p90/p99
    // within 0.5% relative, min/max bit-exact.
    try {
      def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> (1 to 5).map(r.getDouble)).toMap
      val exact = keyed(CoreQueries.q30Percentiles(spark, sfDir))
      val approx = keyed(CoreQueries.q31ApproxPercentiles(spark, sfDir))
      val sameKeys = exact.keySet == approx.keySet && exact.nonEmpty
      val maxRel =
        if (!sameKeys) Double.MaxValue
        else exact.keySet.toSeq
          .flatMap(k => (0 until 3).map(i => rel(approx(k)(i), exact(k)(i)))).max
      val minmax = sameKeys && exact.keySet.forall(k =>
        approx(k)(3) == exact(k)(3) && approx(k)(4) == exact(k)(4))
      out += (("q31_approx_percentiles",
        "p50/p90/p99 within 0.5% of exact q30 per group; min/max exact",
        sameKeys && maxRel <= 0.005 && minmax,
        f"groups=${exact.size} max_rel=$maxRel%.6f minmax_exact=$minmax"))
    } catch { case e: Throwable =>
      out += (("q31_approx_percentiles", "approx vs exact", false, e.toString)) }

    // q36: HLL++ distinct counts within 4x the configured rsd (0.08)
    // of exact COUNT(DISTINCT); exact row counts anchor the grouping.
    try {
      import org.apache.spark.sql.functions._
      val approx = CoreQueries.q36ApproxDistinct(spark, sfDir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val exact = Tables.t(spark, sfDir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("o"),
          countDistinct(col("l_partkey")).as("p"), count(lit(1)).as("n"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val sameKeys = exact.keySet == approx.keySet && exact.nonEmpty
      val maxRel =
        if (!sameKeys) Double.MaxValue
        else exact.keySet.toSeq.flatMap { k =>
          Seq(rel(approx(k)._1.toDouble, exact(k)._1.toDouble),
            rel(approx(k)._2.toDouble, exact(k)._2.toDouble))
        }.max
      val rowsExact = sameKeys && exact.keySet.forall(k => approx(k)._3 == exact(k)._3)
      out += (("q36_approx_distinct",
        "distinct estimates within 0.08 (4x rsd) of exact; row counts exact",
        sameKeys && maxRel <= 0.08 && rowsExact,
        f"groups=${exact.size} max_rel=$maxRel%.6f rows_exact=$rowsExact"))
    } catch { case e: Throwable =>
      out += (("q36_approx_distinct", "approx vs exact", false, e.toString)) }

    // m3/m4 collect CONTENT BYTES to the driver for the exact
    // recompute, so both are bounded to a deterministic residue
    // class of at most ~MaxDocs documents (doc_id % m == 0 — the
    // SubsetGen idea): at the driver's sf0.01 that is the whole
    // corpus, at a top rung it stays a fixed reproducible subset
    // instead of an unbounded corpus-sized driver collect.
    val MaxTolDocs = 20000L
    def tolModulus(n: Long): Long = math.max(1L, (n + MaxTolDocs - 1) / MaxTolDocs)

    // m3: driver-side exact recompute — n_bytes must equal the source
    // payload length and entropy_q the millibit-quantized Shannon
    // entropy of the decode stub's histogram, per document.
    try {
      import org.apache.spark.sql.functions.col
      val m = tolModulus(Multimodal.mediaTable(spark, sfDir).count())
      val src = Multimodal.mediaTable(spark, sfDir)
        .filter(col("doc_id") % m === 0)
        .select("doc_id", "content").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      val res = Multimodal.m3FeatureSummary(spark, sfDir)
        .filter(col("doc_id") % m === 0).collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      def entropyQ(bytes: Array[Byte]): Long = {
        val hist = Multimodal.decodeStub(bytes)
        math.round(-hist.filter(_ > 0)
          .map(p => p * math.log(p) / math.log(2)).sum * 1000)
      }
      val sameKeys = src.keySet == res.keySet && src.nonEmpty
      val bad =
        if (!sameKeys) -1L
        else src.count { case (id, bytes) =>
          res(id) != ((bytes.length.toLong, entropyQ(bytes))) }
      out += (("m3_feature_summary",
        "n_bytes and millibit entropy exactly recomputed from source bytes per doc",
        sameKeys && bad == 0, s"docs=${src.size} (doc_id%$m==0) mismatches=$bad"))
    } catch { case e: Throwable =>
      out += (("m3_feature_summary", "exact recompute", false, e.toString)) }

    // m4: driver-side exact recompute — each image's resized content
    // md5 must equal the md5 of the cyclic tiling of its source
    // bytes to the default target, and n_bytes the target.
    try {
      import org.apache.spark.sql.functions.col
      val target = 1024
      val images = Multimodal.mediaTable(spark, sfDir)
        .filter(col("media_type") === "image")
      val m = tolModulus(images.count())
      val src = images.filter(col("doc_id") % m === 0)
        .select("doc_id", "content").collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      val res = SparkEntry.queries("m4_resize")(spark, sfDir)
        .filter(col("doc_id") % m === 0).collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Number](1).longValue(), r.getString(2))).toMap
      def tiledMd5(bytes: Array[Byte]): String = {
        val tiled = Array.tabulate[Byte](target)(i =>
          if (bytes.isEmpty) 0 else bytes(i % bytes.length))
        java.security.MessageDigest.getInstance("MD5").digest(tiled)
          .map("%02x".format(_)).mkString
      }
      val sameKeys = src.keySet == res.keySet && src.nonEmpty
      val bad =
        if (!sameKeys) -1L
        else src.count { case (id, bytes) =>
          res(id) != ((target.toLong, tiledMd5(bytes))) }
      out += (("m4_resize",
        "content md5 equals md5 of cyclic tiling of source bytes; n_bytes = target",
        sameKeys && bad == 0, s"images=${src.size} (doc_id%$m==0) mismatches=$bad"))
    } catch { case e: Throwable =>
      out += (("m4_resize", "exact recompute", false, e.toString)) }

    out.toSeq
  }
}
