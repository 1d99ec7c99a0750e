package graft

/** Benchmark main. Emits ONE JSON line the driver parses.
  *
  * Honesty requirements (round-1 verdict findings 3–4):
  *  - every query is fully executed through a `noop`-format write, so
  *    Catalyst cannot prune the projections a `.count()` would skip;
  *  - failures are recorded per-query (`"failed"` list) and make the
  *    process exit nonzero — no silent -1 timings.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" overrides the shipped conf for
    // interleaved A/Bs of a conf candidate (see GraftSession).
    val spark = GraftSession.withExtraConf(GraftSession.cpus(4))
    // Measured WITHOUT table caching, deliberately: a controlled
    // experiment showed blanket .cache() of all tables makes later
    // string-heavy queries up to 40× slower once the storage pool has
    // churned (e2: 51 s cached vs 1.1 s after clearCache), a net loss
    // for the battery. Parquet scans of these sizes are already fast
    // and measure the same path a 100 TB run uses. Session warm-up
    // (JIT/codegen) comes from the first queries themselves.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // Three samples per query, report the min — the same idea as the
    // reference's criterion harness (multiple samples + reduction,
    // benches/bench.rs:211-216): one transient host stall (observed
    // 30 s+ cgroup throttles) otherwise lands on whichever query is
    // running and dominates its number. Round-7 lesson: CONSECUTIVE
    // samples of one query do NOT escape a burst that outlasts the
    // query (BENCH_r07 recorded 84x inflations on unchanged code), so
    // the samples must be de-correlated in time — run the WHOLE
    // battery three times (pass-major order) and take each query's
    // min across passes. A stall burst then pollutes one pass of one
    // region, never all three samples of the queries under it.
    // Optional comma-separated query filter — lets a fresh JVM A/B one
    // query in isolation (regression triage) without the whole battery.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Opt-in hot-table serving mode (see Tables.enableHotTables):
    // SPARK_GRAFT_HOT_TABLES=1 pins the default relational set,
    // or a comma list names tables explicitly. Default OFF so the
    // recorded artifact stays cold-scan honest.
    sys.env.get("SPARK_GRAFT_HOT_TABLES").foreach { v =>
      if (v == "1" || v.equalsIgnoreCase("true"))
        Tables.enableHotTables(spark, sfDir)
      else Tables.enableHotTables(spark, sfDir,
        v.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }
    // Load preflight (round-10 lesson): one loud line per unreadable
    // table BEFORE the battery starts, so a data/schema drift reads
    // as "table X broken" instead of 20 scattered query failures.
    Tables.preflight(spark, sfDir).foreach { case (n, msg) =>
      System.err.println(s"[bench] PREFLIGHT: table '$n' unreadable at $sfDir: $msg")
    }
    val battery = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    // Opt-in spill accounting (SPARK_GRAFT_SPILL=1) for the memory-
    // pressure rung, keyed by JOB GROUP rather than boundary
    // snapshots: each query's jobs run under a job group named after
    // it, onJobStart maps every stage to its group, and onTaskEnd
    // credits that stage's disk-spill bytes to the group — so
    // listener-bus lag at a query boundary cannot misattribute a
    // query's tail to its successor (late events still carry their
    // own stage id). Reported per query on stderr as the TOTAL
    // across all three passes. Known bounds, accepted: the listener
    // bus drops events past its queue capacity (undercount under
    // extreme pressure); a query that FAILS still records its
    // partial spill (desired — the failure case is what the
    // memory-pressure rung probes); and jobs submitted from Spark's
    // SHARED lazy thread pools (broadcast-exchange threads) inherit
    // local properties from whichever query's thread first created
    // the pool, so a broadcast job's stages can carry a stale or
    // missing job group and its spill is misattributed or dropped —
    // a small bound in practice, because broadcast builds are
    // size-capped (≤ autoBroadcastJoinThreshold) and thus the least
    // likely stages to spill. stageGroup entries are released on job
    // end (below) so the map cannot grow unbounded across the run.
    val spillTrack = sys.env.contains("SPARK_GRAFT_SPILL")
    val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val spillByQuery =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    if (spillTrack) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
          if (g != null) j.stageIds.foreach(s => stageGroup.put(s, g))
          jobStages.put(j.jobId, j.stageIds)
        }
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          val g = stageGroup.get(t.stageId)
          if (m != null && g != null && m.diskBytesSpilled > 0)
            spillByQuery
              .computeIfAbsent(g, _ => new java.util.concurrent.atomic.AtomicLong(0L))
              .addAndGet(m.diskBytesSpilled)
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          // A job's task-end events precede its job-end event on the
          // same ordered listener bus, so releasing here only bounds
          // the map — no late event can miss its group.
          val ss = jobStages.remove(j.jobId)
          if (ss != null) ss.foreach(stageGroup.remove(_))
        }
      })
    // Fixed calibration probe (round-14 verdict task 5): cross-round
    // bench totals swung ±35% on identical code paths because the
    // host window varies (cgroup throttling, co-tenants), and each
    // verdict had to re-litigate "window or regression?". Two fixed
    // probes whose cost is INDEPENDENT of the battery and the data
    // answer that mechanically:
    //   cpu   — a deterministic single-thread xorshift loop: raw CPU
    //           speed of the window;
    //   spark — a fixed tiny range→hash→groupBy through the same noop
    //           sink: scheduler + codegen + shuffle overhead of the
    //           window.
    // Sampled once per pass (same 3-sample min discipline as the
    // queries), reported as "calibration" in the JSON line;
    // tools/benchmin.py --norm divides cross-round totals by the
    // spark-probe ratio.
    def calibrateCpu(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("unreachable") // keep the loop live
      (System.nanoTime() - t0) / 1e9
    }
    def calibrateSpark(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 5000000L, 1L, 8)
        .selectExpr("xxhash64(id) % 997 AS k")
        .groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Sick-host detector (round-15 verdict task 7): the cpu probe is a
    // deterministic single-thread loop whose min-of-3 on this class of
    // host sits at ~0.25 s (r15 driver artifact: 0.252). If even the
    // MINIMUM across three de-correlated samples exceeds 2x that, the
    // host window is sick enough that every battery number is garbage
    // — fail LOUDLY (exit 4) instead of recording a misleading
    // artifact. The spark probe only warns: it mixes scheduler and
    // codegen warm-up, so its variance is legitimately wider.
    // SPARK_GRAFT_HOSTCHECK=off records the run anyway (triage mode).
    // The nominal is this host CLASS's cpu-probe floor; a legitimately
    // slower deployment overrides it once via env instead of living
    // with a permanently-tripped gate (round-16 advice):
    // SPARK_GRAFT_CAL_NOMINAL_CPU=<seconds>.
    val NominalCalCpu = sys.env.get("SPARK_GRAFT_CAL_NOMINAL_CPU")
      .flatMap(_.toDoubleOption).getOrElse(0.25)
    val NominalCalSpark = 0.33
    var calCpu = Double.MaxValue
    var calSpark = Double.MaxValue
    for (pass <- 1 to 3) {
      // One calibration sample per pass, for the same reason the
      // query samples are pass-major: three consecutive samples
      // would all sit inside one throttle burst.
      calCpu = math.min(calCpu, calibrateCpu())
      calSpark = math.min(calSpark, calibrateSpark())
      for ((name, fn) <- battery) {
        if (spillTrack) spark.sparkContext.setJobGroup(name, name)
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch {
          case e: Throwable =>
            if (!failed.contains(name)) failed += name
            System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getMessage}")
        }
        finally if (spillTrack) spark.sparkContext.clearJobGroup()
        val dt = (System.nanoTime() - t0) / 1e9
        samples(name) = samples.getOrElse(name, Vector.empty) :+ dt
      }
    }
    if (spillTrack) {
      // brief drain so the last query's in-flight task-end events land
      Thread.sleep(1000)
      import scala.jdk.CollectionConverters._
      val sj = spillByQuery.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v.get() }.mkString("{", ",", "}")
      System.err.println(s"""[bench] spill_bytes_by_query_3pass $sj""")
    }
    val results = battery.map { case (name, _) =>
      val ss = samples(name)
      // Self-diagnostic: a >5x spread between a query's fastest and
      // slowest pass is the signature of a host throttle burst — log
      // it so the artifact shows the noise instead of hiding it.
      if (ss.min > 0 && ss.max / ss.min > 5.0)
        System.err.println(s"[bench] $name sample spread ${ss.map(v => f"$v%.3f").mkString("/")} s (max/min=${f"${ss.max / ss.min}%.1f"}x) — likely host stall burst")
      name -> ss.min
    }
    // The driver captures a bounded ~2 KB TAIL of stdout: with full
    // query names the single JSON line is ~2.9 KB, so its head — the
    // alphabetical c1/d*/e*/f*/g* region — scrolls off the window
    // (BENCH_r09 kept only 79 of 113 entries and parsed as null).
    // Fix: key the stdout line by each query's unique leading token
    // ("d13_span_minhash" → "d13" — the shape the driver contract
    // shows, {"q1":sec}), which fits all 113+ entries in ~1.5 KB. The
    // full-name full-precision line still goes to stderr, and a
    // runtime guard falls back to full names on any prefix collision.
    // Locale.ROOT: "%.3f" under a comma-decimal default locale would
    // emit "0,360" and corrupt the JSON line.
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    val collides = results.groupBy { case (k, _) => shortKey(k) }
      .exists(_._2.size > 1)
    val qs = results.map { case (k, v) =>
      "\"" + (if (collides) k else shortKey(k)) + "\":" + ms(v)
    }.mkString("{", ",", "}")
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val hostSick = calCpu > 2.0 * NominalCalCpu
    if (calSpark > 2.0 * NominalCalSpark)
      System.err.println(f"[bench] WARNING: spark calibration probe ${calSpark}%.3f s vs nominal $NominalCalSpark — scheduler window degraded")
    val cal = s"""{"cpu":${ms(calCpu)},"spark":${ms(calSpark)},"host_ok":${!hostSick}}"""
    // Full-precision stderr line FIRST, short stdout line LAST: the
    // round driver keeps only a ~2 KB tail of the combined output, so
    // whatever prints last is what survives to be parsed — r15's
    // artifact ended with the 2.9 KB full-name line and parsed as
    // null. Flush stderr before the stdout line to pin the order.
    System.err.println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"failed":$fj,"calibration":$cal,"sf":"$sfDir"}""")
    System.err.flush()
    val shortLine = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"failed":$fj,"calibration":$cal,"sf":"$sfDir"}"""
    println(shortLine)
    System.out.flush()
    // Round-19 verdict item 1: through `sbt runMain` the stdout line above
    // arrives "[info]"-prefixed and is followed by sbt's "[success]" footer,
    // and the driver's parser has returned `parsed: null` on every BENCH
    // artifact since r16. Two additions (existing lines kept verbatim for
    // compatibility):
    //  1. write the canonical one-line JSON to a well-known FILE so the
    //     driver can read it without scraping decorated process output;
    //  2. after spark.stop(), re-emit it as the FINAL stderr line — sbt
    //     passes stderr through unprefixed, so this is the last clean
    //     JSON line in the combined tail.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_result.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (shortLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] WARNING: could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    System.err.println(shortLine)
    System.err.flush()
    // Exit precedence (round-16 advice): a query FAILURE (exit 1) is
    // the stronger signal and must never be masked by the host gate —
    // exit 4 fires only when the battery itself was clean.
    if (hostSick && !sys.env.get("SPARK_GRAFT_HOSTCHECK").contains("off")) {
      System.err.println(f"[bench] SICK HOST: cpu calibration min-of-3 ${calCpu}%.3f s > 2x nominal $NominalCalCpu s — " +
        "every number above reflects the throttled window, not the code; rerun when the host recovers " +
        "(SPARK_GRAFT_HOSTCHECK=off to record anyway" +
        (if (failed.nonEmpty) "; NOTE: query failures below take exit precedence" else "") + ")")
      if (failed.isEmpty) sys.exit(4)
    }
    if (failed.nonEmpty) sys.exit(1)
  }
}
