package graft

import org.apache.spark.sql.functions._

/** Partitioned-oracle helper (round-13 verdict task 6): DuckDB's
  * replay of the heaviest dedup oracles (d6/d9 at sf3+, d13 at sf10)
  * spills past the box, so the top-rung runs of exactly the biggest
  * operators had engine-timing-only evidence. This main derives a
  * DETERMINISTIC subset corpus from a big rung — documents filtered to
  * `doc_id % modulus == residue`, every other table linked unchanged —
  * so the UNMODIFIED Verify + DuckDB gate can replay the subset:
  * both engines read the SAME files, the subset is still a multiple
  * of the biggest fully-replayed rung, and the hash evidence is real
  * evidence at top-rung data (the operators' shuffles, caps and
  * census tiers all engage — a residue class of a uniform id space
  * preserves every skew and dup structure at 1/modulus density).
  *
  * Usage: graft.SubsetGen <srcDir> <outDir> <modulus> <residue>
  * Then:  graft.Verify <outDir> <verifyOut> d13_span_minhash …
  *        tools/localverify.py <outDir> <verifyOut>
  */
object SubsetGen {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, mS, rS) = args.take(4)
    val (m, r) = (mS.toLong, rS.toLong)
    val spark = GraftSession.start(GraftSession.builder(GraftSession.cpus(16))
      .config("spark.hadoop.parquet.block.size", (20 * 1024 * 1024).toString))
    val out = new java.io.File(outDir)
    out.mkdirs()
    // documents: the deterministic residue-class subset, single file
    // like every sf dir table.
    val docs = Tables.t(spark, srcDir, "documents")
      .filter(pmod(col("doc_id"), lit(m)) === lit(r))
    val tmp = new java.io.File(out, ".tmp_documents")
    docs.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error("no part file written"))
    val dest = new java.io.File(out, "documents.parquet")
    if (dest.exists()) dest.delete()
    if (!part.renameTo(dest)) sys.error("rename failed")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    // every other table: symlink to the source rung (unchanged data;
    // the dedup operators under test read only documents).
    for (t <- Tables.all if t != "documents") {
      val link = new java.io.File(out, s"$t.parquet").toPath
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        new java.io.File(s"$srcDir/$t.parquet").getAbsoluteFile.toPath)
    }
    val n = spark.read.parquet(dest.getPath).count()
    println(s"[subsetgen] documents: $n rows (doc_id % $m == $r of $srcDir) -> $outDir")
    spark.stop()
  }
}
