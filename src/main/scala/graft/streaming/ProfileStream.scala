package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Streaming rung at scale (round-14 verdict task 4).
  *
  * The nine streaming twins are set-equal-to-batch at test scale
  * (sf0.001); this witness replays the sf1 corpus as a rate-limited
  * stream through three of them and records the numbers an ingest
  * deployment asks first — rows/s, micro-batch p50/p95, state-store
  * rows and bytes — with set-equality STILL pinned at the end of
  * each run (a throughput number for a pipeline that drifted from
  * batch semantics would be worthless):
  *
  *   p1  PII ingest scan   — stateless codegen projection; the
  *                           raw ingest-throughput ceiling;
  *   d7  incremental dedup — stream-static join against the standing
  *                           corpus index + flatMapGroupsWithState;
  *                           the stateful classify pipeline;
  *   e1  tumbling counts   — watermarked event-time aggregation over
  *                           1M events; the state-store window path.
  *
  * Replay mechanics: the corpus is rewritten once into N parquet
  * fragments and read with maxFilesPerTrigger=k, so the stream
  * arrives in ~N/k micro-batches exactly as a file-drop ingest
  * directory would. Run:
  * {{{
  *   sbt "runMain graft.streaming.ProfileStream localdata/sf1 40 2 [hdfs|rocksdb]"
  * }}}
  * The optional 4th arg picks the state-store backend (round-15
  * verdict task 4) — the first knob a production ingest flips:
  * `hdfs` (default) keeps all state in executor memory with
  * file-backed snapshots; `rocksdb` moves it to an on-disk RocksDB
  * per partition, bounding executor heap at the cost of per-access
  * (de)serialization. Both run the same rungs with parity pinned, so
  * the printed rows are directly comparable.
  *
  * Each rung also prints its 3 slowest micro-batches with the
  * durationMs breakdown (addBatch / getBatch / state commit), so a
  * p95 tail is attributable to a phase, not just observed.
  * Prints one JSON line per rung; nonzero exit on any parity
  * mismatch or query error.
  */
object ProfileStream {

  private def j(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "localdata/sf1"
    val nFiles = if (args.length > 1) args(1).toInt else 40
    val perTrigger = if (args.length > 2) args(2).toInt else 2
    val backend = if (args.length > 3) args(3).toLowerCase else "hdfs"
    require(backend == "hdfs" || backend == "rocksdb", s"unknown state backend '$backend'")
    val builder = graft.GraftSession.builder(32).appName("graft-stream-rung")
    if (backend == "rocksdb") builder.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // rung() aggregates q.recentProgress — Spark retains only the
    // last numRecentProgressUpdates entries (default 100), which
    // would silently truncate rows/s and percentiles on replays
    // with more triggers than that (e.g. nFiles=400, perTrigger=1).
    val spark = graft.GraftSession.start(
      builder.config("spark.sql.streaming.numRecentProgressUpdates", "10000"))
    var failures = 0

    // Fragment the corpus once: the replay source directories.
    val replay = java.nio.file.Files.createTempDirectory("graft_replay").toFile
    val docsDir = s"$replay/documents"
    val eventsDir = s"$replay/events"
    graft.Tables.t(spark, sfDir, "documents")
      .repartition(nFiles).write.parquet(docsDir)
    graft.Tables.t(spark, sfDir, "events")
      .repartition(nFiles).write.parquet(eventsDir)

    def docStream(filter: DataFrame => DataFrame = identity): DataFrame =
      filter(spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", perTrigger.toString)
        .parquet(docsDir))

    /** Drive one twin to completion; report throughput + state from
      * the query's own progress events; return the memory-sink name. */
    def rung(name: String, out: DataFrame, mode: String): Unit = {
      val q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
      val t0 = System.nanoTime()
      try q.processAllAvailable() finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress.toSeq
      val rows = prog.map(_.numInputRows).sum
      val durs = prog.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong / 1000.0))
        .filter(_ > 0).sorted
      val stateRows = prog.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L)
      val stateBytes = prog.flatMap(_.stateOperators.map(_.memoryUsedBytes)).maxOption.getOrElse(0L)
      def pct(p: Double) =
        if (durs.isEmpty) 0.0 else durs(math.min(durs.size - 1, (p * durs.size).toInt))
      // Watermark lag for event-time pipelines: how far the FINAL
      // watermark trails the GLOBAL max event time seen across the
      // whole replay (per-batch maxes are not monotone — the replay
      // fragments are shuffled, not time-ordered). On a finite
      // historical replay the floor is the configured delay (10 min
      // = 600 s); the excess over it is watermark advancement
      // stalled behind batch processing (one trigger's worth here,
      // since the watermark updates at batch END).
      def ts(s: String): Long =
        try java.time.Instant.parse(s).toEpochMilli catch { case _: Throwable => 0L }
      val globalMax = prog.flatMap(p => Option(p.eventTime))
        .flatMap(et => Option(et.get("max"))).map(ts).maxOption.getOrElse(0L)
      val lastWm = prog.reverseIterator.flatMap(p => Option(p.eventTime))
        .flatMap(et => Option(et.get("watermark"))).map(ts).find(_ > 0L)
      val wmLagS = lastWm.filter(_ => globalMax > 0L)
        .map(wm => (globalMax - wm) / 1000.0).getOrElse(-1.0)
      println(
        s"""{"rung":"$name","backend":"$backend","sf":"$sfDir","files":$nFiles,"files_per_trigger":$perTrigger,""" +
        s""""batches":${prog.count(_.numInputRows > 0)},"input_rows":$rows,""" +
        s""""wall_s":${j(wall)},"rows_per_s":${j(rows / wall)},""" +
        s""""batch_p50_s":${j(pct(0.5))},"batch_p95_s":${j(pct(0.95))},""" +
        s""""state_rows":$stateRows,"state_bytes":$stateBytes,""" +
        s""""watermark_lag_s":${j(wmLagS)}}""")
      // Tail attribution: the 3 slowest triggers with their phase
      // breakdown — a 5x p95/p50 gap should name a phase (addBatch =
      // the query plan incl. stream-static joins; getBatch/latestOffset
      // = source listing; commit/stateCommit = state store), not
      // remain a mystery number in the artifact.
      prog.filter(_.numInputRows > 0)
        .sortBy(p => -Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L))
        .take(3).foreach { p =>
          import scala.jdk.CollectionConverters._
          val d = p.durationMs.asScala.toSeq.sortBy(-_._2.toLong)
            .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
          System.err.println(s"[stream] $name slow batch ${p.batchId}: rows=${p.numInputRows} $d")
        }
    }

    def parity(name: String, batch: DataFrame,
               streamedDf: DataFrame = null): Unit = {
      val sdf = Option(streamedDf).getOrElse(spark.table(name))
      val streamed = sdf.collect().map(_.toSeq).toSet
      val want = batch.collect().map(_.toSeq).toSet
      if (streamed != want) {
        failures += 1
        System.err.println(s"[stream] $name PARITY MISMATCH: " +
          s"${streamed.size} streamed vs ${want.size} batch rows")
      } else println(s"""{"rung":"$name","parity":"ok","rows":${want.size}}""")
    }

    // ---- p1: stateless PII ingest over the full 50k-doc corpus ----
    rung("ps_p1", graft.operators.Pii.piiColumns(docStream()), "append")
    parity("ps_p1", graft.operators.Pii.piiScan(spark, sfDir))

    // ---- d7: stateful classify of the src19 arrivals vs corpus ----
    rung("ps_d7",
      DedupStream.streamingIncrementalDedup(spark, sfDir,
        docStream(_.filter(col("source") === "src19"))),
      "append")
    parity("ps_d7", graft.operators.Dedup.incrementalDedup(spark, sfDir,
      pairsOverride = Some(graft.operators.Dedup.minhashLsh(spark, sfDir,
        minEstSim = 0.25, maxBucket = Int.MaxValue))))

    // ---- e1: watermarked event-time aggregation over 1M events ----
    val evStream = graft.Tables.normalizeEventTs(
      spark.readStream.schema(spark.read.parquet(eventsDir).schema)
        .option("maxFilesPerTrigger", perTrigger.toString)
        .parquet(eventsDir))
    rung("ps_e1", EventOps.streamingTumblingOn(evStream), "complete")
    // total_value is a double SUM: the stream accumulates it through
    // state merges in arrival order, the batch in scan order — the
    // values agree to FP addition-order noise, so parity compares the
    // sum rounded to 6 decimals (counts and keys stay exact). The
    // sf0.001 spec's bit-exact equality holds there because each
    // window's few values happen to sum orderlessly; 1M events do not.
    def rounded(df: DataFrame): DataFrame = df.select(
      col("hour"), col("event_type"), col("n_events"),
      org.apache.spark.sql.functions.round(col("total_value"), 6).as("tv"))
    parity("ps_e1",
      rounded(EventOps.tumblingCounts(spark, sfDir)
        .select(col("hour"), col("event_type"), col("n_events"), col("total_value"))),
      streamedDf = rounded(spark.table("ps_e1")))

    spark.stop()
    if (failures > 0) { println(s"$failures FAILED"); sys.exit(1) }
    else println("ALL OK")
  }
}
