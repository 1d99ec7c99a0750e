package graft.engine

import org.apache.spark.graft.FaultShims
import org.apache.spark.storage.StorageLevel

/** Executor-loss fault witness (round-14 verdict task 1).
  *
  * Every `local[k]` rung shares ONE block manager, so the library's
  * block-loss recovery story — DML/ALTER staging and the operator
  * checkpoints ride 2-replica disk (`Engine.StagingLevel`,
  * `DistributedPrefix.shared`), replication 1 fails LOUD, never a
  * wrong answer — was until now a design property, not a measured
  * one. `local-cluster[2,1,mb]` runs two REAL executor JVMs with
  * separate block managers, which lets this witness measure it:
  *
  *   A. materialize a DISK_ONLY_2 localCheckpoint, confirm via the
  *      BlockManagerMaster that every block has TWO executor
  *      replicas, kill one executor, and pin that a consumer query
  *      still returns the exact pre-kill answer (lineage is
  *      truncated — a recompute is impossible, so equality proves
  *      replica serve);
  *   B. the negative control: the same checkpoint at replication 1,
  *      kill the executor holding blocks, and pin that the consumer
  *      FAILS loudly (checkpoint block lost) rather than returning
  *      any answer;
  *   C. the same replica-serve through a real library operator:
  *      DistributedPrefix's shared-input checkpoint (the q30/t8
  *      spine) re-collected bit-identically after the kill;
  *   D. executor loss MID-QUERY: lost shuffle map outputs are
  *      resubmitted and the answer stays exact;
  *   E. DOUBLE loss at replication 2 fails loudly, never answers;
  *   F. executor loss mid-MICRO-BATCH of d7's classify stream: the
  *      state store reloads from the checkpoint on the refilled
  *      executor and the sink ends set-equal to batch.
  *
  * Run (SPARK_HOME must point at a full distribution so the worker
  * can fork executor JVMs; the packaged jar puts graft classes on
  * the executor classpath for phase C):
  * {{{
  *   sbt package
  *   SPARK_HOME=/opt/spark sbt "runMain graft.engine.ProfileFault \
  *     target/scala-2.13/multisqlspark_2.13-0.1.0.jar"
  * }}}
  * Prints OK/FAIL per step and ALL OK at the end; nonzero exit on
  * any failure (EngineSmoke conventions).
  *
  * It stays a main, not a spec: the forked executor JVMs need
  * `SPARK_HOME`, `SPARK_SCALA_VERSION` and a packaged jar, which `sbt
  * test` does not provide and a spec cannot set for its own JVM.
  */
object ProfileFault {

  private var failures = 0
  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"OK   $name") }
    catch { case e: Throwable =>
      failures += 1
      println(s"FAIL $name: ${e.getMessage}")
      e.getStackTrace.take(6).foreach(f => println(s"     at $f"))
    }

  private def await(what: String, timeoutSec: Int = 120)(cond: => Boolean): Unit = {
    val t0 = System.nanoTime()
    while (!cond) {
      if ((System.nanoTime() - t0) / 1e9 > timeoutSec)
        sys.error(s"timeout ($timeoutSec s) waiting for: $what")
      Thread.sleep(500)
    }
  }

  def main(args: Array[String]): Unit = {
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster mode forks executor JVMs through the worker — " +
        "run with SPARK_HOME=/opt/spark")
    require(args.nonEmpty,
      "pass the packaged application jar (sbt package) — the kill " +
        "closure and phase C's operator classes must reach executors")
    // Executors are fresh JDK-17 JVMs launched OUTSIDE spark-submit's
    // wrapper, so they need the same module opens the driver gets
    // from build.sbt.
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val builder = graft.GraftSession.builder(8, "local-cluster[2,1,1200]")
      .appName("graft-fault-witness")
      .config("spark.executor.memory", "1g")
      .config("spark.executor.extraJavaOptions", addOpens)
      // Keep retries modest: phase B WANTS the loud failure fast.
      .config("spark.task.maxFailures", "2")
    args.headOption.foreach(j => builder.config("spark.jars", j))
    val spark = graft.GraftSession.start(builder)
    val sc = spark.sparkContext

    check("two real executor JVMs registered (separate block managers)") {
      await("2 executors")(FaultShims.liveExecutors(sc).size >= 2)
    }

    /** Kill a specific executor the way a 1000-node cluster loses
      * one: SIGKILL the executor JVM from outside Spark (OOM-kill /
      * node-death model — no decommission protocol, no block
      * migration, no cooperation from the victim). The standalone
      * master sees the crash and relaunches a FRESH executor in the
      * slot, exactly like a production refill — the fresh JVM has
      * none of the old blocks, so the block-loss witness stands.
      * (sc.killExecutors was rejected: it lowers the app's executor
      * target so the slot is never refilled, and its graceful path
      * is the wrong fault model anyway.) */
    def kill(victim: String): Unit = {
      // Primary: SIGKILL the executor JVM from OUTSIDE Spark — the
      // executors are real local processes whose command line carries
      // `--executor-id <id>`, so /proc names the victim. This is the
      // true node-death model AND it cannot starve behind the
      // victim's own running tasks (a task-based kill queues behind
      // long tasks on a 1-core executor — observed: phase D's
      // mid-query kill timed out exactly that way).
      val pid = new java.io.File("/proc").listFiles()
        .filter(f => f.getName.forall(_.isDigit))
        .find { f =>
          try {
            val cmd = new String(java.nio.file.Files.readAllBytes(
              f.toPath.resolve("cmdline"))).split('\u0000')
            cmd.exists(_.contains("CoarseGrainedExecutorBackend")) &&
              cmd.sliding(2).exists(p =>
                p.length == 2 && p(0) == "--executor-id" && p(1) == victim)
          } catch { case _: Throwable => false }
        }.map(_.getName)
      pid match {
        case Some(p) =>
          Runtime.getRuntime.exec(Array("kill", "-9", p)).waitFor()
        case None =>
          // Fallback: hard exit from inside a task (needs a free core).
          try spark.range(0L, 400L, 1L, 100).rdd.foreachPartition { _ =>
            if (org.apache.spark.SparkEnv.get.executorId == victim)
              System.exit(137)
          } catch { case _: Throwable => () } // dying tasks may fail the job — fine
      }
      await(s"executor $victim gone", 60)(
        !FaultShims.liveExecutors(sc).contains(victim))
    }

    /** Id + partition count of the most recently persisted RDD — the
      * checkpoint RDD the preceding localCheckpoint registered. */
    def lastPersisted(): (Int, Int) = {
      val id = sc.getPersistentRDDs.keys.max
      (id, sc.getPersistentRDDs(id).getNumPartitions)
    }

    // ---------------- Phase A: replica serve at DISK_ONLY_2 --------
    val df = spark.range(0L, 2000000L, 1L, 8)
      .selectExpr("id", "xxhash64(id) AS h")
    val staged = df.localCheckpoint(eager = true, StorageLevel.DISK_ONLY_2)
    var expectedN = 0L; var expectedS = 0L

    check("A1: every checkpoint block holds 2 executor replicas") {
      val (rddId, parts) = lastPersisted()
      await("2 replicas per block") {
        val locs = FaultShims.blockExecutors(sc, rddId, parts)
        locs.size == parts && locs.values.forall(_.distinct.size == 2)
      }
      val row = staged.selectExpr("count(*) AS n", "bit_xor(h) AS s").collect()(0)
      expectedN = row.getLong(0); expectedS = row.getLong(1)
      assert(expectedN == 2000000L, s"pre-kill count $expectedN")
    }

    check("A2: consumer query completes from the replica after executor loss") {
      val (rddId, parts) = lastPersisted()
      val victim = FaultShims.blockExecutors(sc, rddId, parts)(0).head
      kill(victim)
      // Lineage is truncated (localCheckpoint), so this equality can
      // ONLY come from the surviving replica — recompute would throw.
      val row = staged.selectExpr("count(*) AS n", "bit_xor(h) AS s").collect()(0)
      assert(row.getLong(0) == expectedN && row.getLong(1) == expectedS,
        s"post-kill (${row.getLong(0)}, ${row.getLong(1)}) != pre-kill ($expectedN, $expectedS)")
    }

    // ---------------- Phase B: replication 1 fails LOUD ------------
    check("B: replication-1 checkpoint + executor loss = loud failure, never a wrong answer") {
      await("replacement executor (standalone master refill)", 120)(
        FaultShims.liveExecutors(sc).size >= 2)
      val df1 = spark.range(0L, 2000000L, 1L, 8)
        .selectExpr("id", "xxhash64(id) AS h")
      val staged1 = df1.localCheckpoint(eager = true, StorageLevel.DISK_ONLY)
      val (rddId, parts) = lastPersisted()
      val locs = FaultShims.blockExecutors(sc, rddId, parts)
      assert(locs.values.forall(_.size == 1), s"expected 1 replica per block: $locs")
      // kill the executor holding block 0 (it holds ~half the blocks)
      kill(locs(0).head)
      val res =
        try Left(staged1.selectExpr("count(*)", "bit_xor(h)").collect()(0))
        catch { case e: Throwable => Right(e) }
      res match {
        case Left(row) =>
          sys.error(s"query RETURNED after losing replication-1 blocks: $row — " +
            "silent data loss, the exact failure mode the 2-replica tier exists to prevent")
        case Right(e) =>
          val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .map(_.toString).mkString(" | ")
          assert(chain.toLowerCase.contains("checkpoint") ||
            chain.toLowerCase.contains("block") || chain.toLowerCase.contains("lost"),
            s"failed for an unrelated reason: $chain")
          println(s"     loud failure (expected): ${e.getMessage.linesIterator.next()}")
      }
    }

    // ---------------- Phase C: a real operator's checkpoint --------
    check("C: DistributedPrefix shared-input checkpoint survives executor loss (needs app jar)") {
      assert(args.nonEmpty, "pass the packaged jar so graft classes reach executors")
      await("executors back to 2", 120)(FaultShims.liveExecutors(sc).size >= 2)
      // Force the sliced branch (tiny frame would take the
      // single-window fast path and never checkpoint).
      spark.conf.set(graft.operators.DistributedPrefix.SmallInputBytesKey, "0")
      try {
        val in = spark.range(0L, 50000L, 1L, 8).selectExpr(
          "id", "cast(id % 7 AS string) AS grp",
          s"xxhash64(id) & ${(1L << 60) - 1} AS h", "id % 37 AS v")
        val out = graft.operators.DistributedPrefix
          .sumBeforeHashOrdered(in, "grp", "h", "id", "v", "cum")
        val before = out.selectExpr("sum(cum)", "count(*)", "bit_xor(h)").collect()(0)
        val (rddId, parts) = lastPersisted()
        val victim = FaultShims.blockExecutors(sc, rddId, parts)
          .values.flatten.toSeq.headOption.getOrElse(sys.error("operator checkpoint not persisted"))
        kill(victim)
        val after = out.selectExpr("sum(cum)", "count(*)", "bit_xor(h)").collect()(0)
        assert(after == before, s"operator result drifted after executor loss: $after != $before")
      } finally spark.conf.unset(graft.operators.DistributedPrefix.SmallInputBytesKey)
    }

    // ------- Phase D: executor loss MID-QUERY (shuffle loss) -------
    check("D: executor killed mid-query — lost shuffle data recomputed, exact result") {
      await("executors back to 2", 120)(FaultShims.liveExecutors(sc).size >= 2)
      // A shuffle-heavy aggregation long enough (tens of seconds on
      // 2 single-core executors) that the kill lands mid-flight. The
      // dead executor takes its shuffle map outputs with it; the
      // fetch failure must resubmit the map stage and still produce
      // the EXACT deterministic answer — the everyday production
      // fault (spot-instance loss mid-job).
      def heavy() = spark.range(0L, 400000000L, 1L, 16)
        .selectExpr("id % 3000000 AS k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.expr("sum(id) AS s"))
        .selectExpr("count(*) AS n", "bit_xor(xxhash64(k, s)) AS h")
        .collect()(0)
      val expected = heavy() // clean reference run
      @volatile var result: Either[Throwable, org.apache.spark.sql.Row] = null
      val runner = new Thread(() => {
        result = try Right(heavy()) catch { case e: Throwable => Left(e) }
      }, "mid-query")
      runner.start()
      Thread.sleep(3000) // let the map stage get airborne
      val victim = FaultShims.liveExecutors(sc).head
      val midFlight = runner.isAlive
      kill(victim)
      runner.join(300000)
      assert(result != null, "query did not finish after mid-query kill")
      result match {
        case Right(row) =>
          assert(row == expected, s"mid-kill result $row != clean $expected")
          assert(midFlight,
            "query finished before the kill — widen the data to keep the witness honest")
        case Left(e) => throw e
      }
    }

    // ------- Phase E: DOUBLE loss at replication 2 = loud ----------
    check("E: double executor loss at replication 2 — loud failure, never a wrong answer") {
      // The 2-replica tier's exact boundary: ONE loss serves from the
      // replica (phase A2); losing BOTH holders must fail loudly for
      // a clean rerun — returning anything would be silent data loss.
      await("executors back to 2", 120)(FaultShims.liveExecutors(sc).size >= 2)
      val df2 = spark.range(0L, 1000000L, 1L, 8)
        .selectExpr("id", "xxhash64(id) AS h")
      val staged2 = df2.localCheckpoint(eager = true, StorageLevel.DISK_ONLY_2)
      val (rddId, parts) = lastPersisted()
      val holders = FaultShims.blockExecutors(sc, rddId, parts)
        .values.flatten.toSet
      assert(holders.size >= 2, s"need 2 replica holders, got $holders")
      holders.foreach(kill) // master refills with FRESH (blockless) JVMs
      val res =
        try Left(staged2.selectExpr("count(*)", "bit_xor(h)").collect()(0))
        catch { case e: Throwable => Right(e) }
      res match {
        case Left(row) =>
          sys.error(s"query RETURNED after losing BOTH replicas: $row")
        case Right(e) =>
          val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
            .map(_.toString).mkString(" | ").toLowerCase
          assert(chain.contains("checkpoint") || chain.contains("block") ||
            chain.contains("lost"), s"unrelated failure: $chain")
          println(s"     loud failure (expected): ${e.getMessage.linesIterator.next()}")
      }
    }

    // ------- Phase F: executor loss DURING a streaming query --------
    check("F: executor killed mid-micro-batch — state recovers from checkpoint, sink == batch") {
      // The last untested recovery cell (round-15 verdict task 6):
      // StreamingSpec's restart cases prove a COLD restart resumes
      // exactly-once and keeps its state; this phase proves the harder
      // mid-flight case — an executor dies while d7's classify stream
      // is mid-corpus, the HDFS-backed state store reloads its
      // partitions from the checkpoint deltas on the refilled
      // executor, the DISK_ONLY corpus index (lost with the executor's
      // block manager) recomputes from lineage,
      // and the sink still ends set-equal to the batch classification
      // with no lost or duplicated doc — at-most-once classification
      // held through the fault.
      await("executors back to 2", 120)(FaultShims.liveExecutors(sc).size >= 2)
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      graft.Tables.registerAll(spark, sfDir)
      val work = java.nio.file.Files.createTempDirectory("graft_faultstream").toFile
      val docsDir = s"$work/documents"
      val ckpt = s"$work/ckpt"
      // 12 single-file triggers: enough batches that a kill after
      // batch 2 still leaves most of the corpus to classify through
      // the recovered state.
      graft.Tables.t(spark, sfDir, "documents")
        .filter(org.apache.spark.sql.functions.col("source") === "src19")
        .repartition(12).write.parquet(docsDir)
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(docsDir)
      val out = graft.streaming.DedupStream
        .streamingIncrementalDedup(spark, sfDir, stream)
      // Processing-time trigger: without it, 12 sub-second batches can
      // drain before kill() fires on a fast host and the witness
      // silently degrades to a post-completion kill that still prints
      // OK (round-16 advice). At one trigger per second the corpus
      // stays in flight for ~12 s — the kill provably lands mid-stream,
      // and the assert below turns "provably" into a hard gate.
      val q = out.writeStream.format("memory").queryName("pf_d7")
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
        .start()
      var before = -1L
      try {
        await("3 micro-batches committed", 300)(
          Option(q.lastProgress).exists(_.batchId >= 3))
        val victim = FaultShims.liveExecutors(sc).head
        before = q.lastProgress.batchId
        kill(victim)
        q.processAllAvailable()
        println(s"     killed executor $victim after batch $before; " +
          s"stream drained to batch ${q.lastProgress.batchId}")
        assert(before < q.lastProgress.batchId,
          s"kill landed after the stream drained (batch $before of " +
            s"${q.lastProgress.batchId}) — the mid-micro-batch witness would be vacuous")
      } finally q.stop()
      val streamed = spark.table("pf_d7").collect().map(_.toSeq).toSet
      val want = graft.operators.Dedup.incrementalDedup(spark, sfDir,
          pairsOverride = Some(graft.operators.Dedup.minhashLsh(spark, sfDir,
            minEstSim = 0.25, maxBucket = Int.MaxValue)))
        .collect().map(_.toSeq).toSet
      assert(streamed == want,
        s"post-kill sink ${streamed.size} rows != batch ${want.size} rows")
      assert(streamed.size == streamed.map(_.head).size,
        "a doc_id classified twice across the fault — at-most-once broken")
    }

    spark.stop()
    if (failures > 0) { println(s"$failures FAILED"); sys.exit(1) }
    else println("ALL OK")
  }
}
