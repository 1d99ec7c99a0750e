package graft.engine

/** COMPACT TABLE scale witness: does defragmentation actually buy
  * scan throughput, measured rather than asserted?
  *
  * Builds the fragmentation a DML-heavy deployment produces — sf1
  * lineitem (6 M rows) loaded through 64 separate INSERT…SELECT
  * statements, each writing its own small files — then measures a
  * full-scan aggregate (3 samples, min) BEFORE and AFTER
  * `COMPACT TABLE`, with `EXPLAIN FILES` verdicts and row parity on
  * both sides. Local-disk caveat printed with the numbers: the page
  * cache hides most per-file open cost here; on object storage each
  * small file is a round trip, so the at-scale win is strictly
  * larger than what this box shows.
  *
  * Run: `sbt "runMain graft.engine.ProfileCompact localdata/sf1"`
  * Prints one JSON line; nonzero exit on parity failure.
  */
object ProfileCompact {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "localdata/sf1"
    val chunks = if (args.length > 1) args(1).toInt else 64
    val spark = graft.GraftSession.start(
      graft.GraftSession.builder(32).appName("graft-compact-witness"))
    graft.Tables.registerAll(spark, sfDir)
    val g = new Engine(spark)
    g.execute("DROP DATABASE IF EXISTS cptw")
    val loc = java.nio.file.Files.createTempDirectory("graft_cptw").toFile.getAbsolutePath
    g.execute(s"CREATE DATABASE cptw LOCATION '$loc'")
    g.execute("CREATE TABLE cptw.li (okey INTEGER, qty FLOAT, price FLOAT)")

    val maxKey = spark.sql("SELECT max(l_orderkey) FROM lineitem").head.getLong(0)
    val step = maxKey / chunks + 1
    for (i <- 0 until chunks)
      g.execute(
        s"INSERT INTO cptw.li SELECT l_orderkey, l_quantity, l_extendedprice " +
          s"FROM lineitem WHERE l_orderkey >= ${i * step} AND l_orderkey < ${(i + 1) * step}")

    def files(): Map[String, String] = {
      val Payload.Select(_, rows) = g.execute("EXPLAIN FILES cptw.li"): @unchecked
      rows.map(r => r.head.toString -> r(1).toString).toMap
    }
    def scanSec(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      g.query("SELECT sum(qty * price) AS v, count(*) AS n FROM cptw.li").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // Order-insensitive EXACT fingerprint: a float SUM would differ in
    // FP addition order after the repartition; hashing each row's bit
    // patterns and xor-folding is order-free and bit-exact.
    def fingerprint(): Seq[Any] =
      g.query("SELECT count(*) AS n, sum(okey) AS sk, " +
        "bit_xor(xxhash64(okey, qty, price)) AS h FROM cptw.li").head.toSeq

    val fpBefore = fingerprint()
    val exBefore = files()
    val scanBefore = scanSec()
    val t0 = System.nanoTime()
    val Payload.Select(_, Seq(stats)) = g.execute("COMPACT TABLE cptw.li"): @unchecked
    val compactSec = (System.nanoTime() - t0) / 1e9
    val exAfter = files()
    val scanAfter = scanSec()
    val fpAfter = fingerprint()
    def j(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    println(
      s"""{"sf":"$sfDir","chunks":$chunks,""" +
      s""""files_before":${exBefore("files")},"files_after":${exAfter("files")},""" +
      s""""recommended_before":${exBefore("compact_recommended")},""" +
      s""""recommended_after":${exAfter("compact_recommended")},""" +
      s""""rows_moved":${stats(2)},"bytes_moved":${stats(3)},""" +
      s""""compact_s":${j(compactSec)},""" +
      s""""scan_before_s":${j(scanBefore)},"scan_after_s":${j(scanAfter)},""" +
      s""""scan_speedup":${j(scanBefore / scanAfter)},""" +
      s""""parity":${fpBefore == fpAfter}}""")
    g.execute("DROP DATABASE cptw")
    spark.stop()
    if (fpBefore != fpAfter) { System.err.println("PARITY FAILED"); sys.exit(1) }
  }
}
