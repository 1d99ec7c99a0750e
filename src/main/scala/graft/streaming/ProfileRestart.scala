package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Streaming RESTART witness: the recovery tier ProfileStream does
  * not cover. FaultRecoverySpec pins task retry INSIDE a micro-batch;
  * this pins the production restart path — a query stopped cold and
  * restarted from its checkpointLocation must neither lose nor
  * duplicate output, and mapGroupsWithState state must survive the
  * restart:
  *
  *   A. exactly-once across restart (p1 ingest): process half the
  *      corpus, STOP the query, restart from the same checkpoint,
  *      deliver the rest — the parquet sink must hold exactly the
  *      batch result (the file-source log + sink commit log resume
  *      mid-stream without re-emitting batch 0..k);
  *   B. state survives restart (d7 classify): process the WHOLE
  *      corpus, stop, restart from the same checkpoint, then deliver
  *      every document AGAIN under fresh file names — the
  *      flatMapGroupsWithState first-seen guard lives in the state
  *      store, so the re-arrivals must add ZERO rows (a state loss
  *      would re-classify and duplicate every doc).
  *
  * Run: `sbt "runMain graft.streaming.ProfileRestart localdata/sf1"`
  * Prints OK/FAIL per phase and ALL OK; nonzero exit on failure.
  */
object ProfileRestart {

  private var failures = 0
  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"OK   $name") }
    catch { case e: Throwable =>
      failures += 1
      println(s"FAIL $name: ${e.getMessage}")
      e.getStackTrace.take(6).foreach(f => println(s"     at $f"))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "localdata/sf1"
    val nFiles = if (args.length > 1) args(1).toInt else 20
    val spark = graft.GraftSession.start(
      graft.GraftSession.builder(32).appName("graft-restart-witness"))

    val root = java.nio.file.Files.createTempDirectory("graft_restart")
    // Source fragments staged OUTSIDE the watched dir, delivered by
    // linking them in — the file-drop ingest pattern.
    val staged = root.resolve("staged")
    graft.Tables.t(spark, sfDir, "documents")
      .repartition(nFiles).write.parquet(staged.toString)
    val frags = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(staged).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    }

    def deliver(watch: java.nio.file.Path, fs: Seq[java.nio.file.Path],
                suffix: String): Unit =
      fs.foreach { f =>
        java.nio.file.Files.copy(f,
          watch.resolve(f.getFileName.toString.stripSuffix(".parquet") +
            s"_$suffix.parquet"))
      }

    val docSchema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"

    // ---------------- A: exactly-once across restart (p1) ----------
    check("A: p1 ingest resumes from checkpoint — no loss, no duplication") {
      val watch = java.nio.file.Files.createDirectory(root.resolve("watchA"))
      val outDir = root.resolve("outA").toString
      val ck = root.resolve("ckA").toString
      def start() = graft.operators.Pii
        .piiColumns(spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", "2").parquet(watch.toString))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ck)
        .outputMode("append").start()
      deliver(watch, frags.take(nFiles / 2), "a")
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop() // cold stop mid-corpus
      deliver(watch, frags.drop(nFiles / 2), "a")
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(outDir).collect().map(_.toSeq).toSet
      val want = graft.operators.Pii.piiScan(spark, sfDir)
        .collect().map(_.toSeq).toSet
      assert(got.size == spark.read.parquet(outDir).count(),
        "duplicate rows in the sink after restart")
      assert(got == want,
        s"restart lost or invented rows: sink ${got.size} vs batch ${want.size}")
    }

    // ---------------- B: state survives restart (d7) ---------------
    check("B: d7 classify state survives restart — re-arrivals add zero rows") {
      val watch = java.nio.file.Files.createDirectory(root.resolve("watchB"))
      val outDir = root.resolve("outB").toString
      val ck = root.resolve("ckB").toString
      def start() = DedupStream
        .streamingIncrementalDedup(spark, sfDir,
          spark.readStream.schema(docSchema)
            .option("maxFilesPerTrigger", "2").parquet(watch.toString)
            .filter(col("source") === "src19"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ck)
        .outputMode("append").start()
      deliver(watch, frags, "b1")
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      val afterFirst = spark.read.parquet(outDir).count()
      // restart, then the ENTIRE corpus arrives again as new files
      deliver(watch, frags, "b2")
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(outDir).collect().map(_.toSeq).toSet
      assert(spark.read.parquet(outDir).count() == afterFirst,
        s"state lost across restart: re-arrivals re-emitted " +
          s"(${spark.read.parquet(outDir).count()} vs $afterFirst rows)")
      val want = graft.operators.Dedup.incrementalDedup(spark, sfDir,
        pairsOverride = Some(graft.operators.Dedup.minhashLsh(spark, sfDir,
          minEstSim = 0.25, maxBucket = Int.MaxValue)))
        .collect().map(_.toSeq).toSet
      assert(got == want, s"sink ${got.size} rows != batch d7 ${want.size}")
    }

    spark.stop()
    if (failures > 0) { println(s"$failures FAILED"); sys.exit(1) }
    else println("ALL OK")
  }
}
