package graft.engine

import org.apache.spark.sql.functions.{col, struct, xxhash64}

/** Concurrent-session read witness (round-14 verdict task 2).
  *
  * The reference engine is a single-Mutex core: one session at a
  * time, readers serialize behind the lock (glue's `Mutex<Glue>`).
  * Our pitch is that Spark isn't — N analytic sessions share one
  * SparkContext and the scheduler multiplexes them. This witness
  * measures that claim instead of asserting it: the top-10 heaviest
  * READ queries of the battery (by the sf1 bench; g7 excluded — DML
  * serializes on the writer lock BY DESIGN, pinned in
  * ConcurrentDmlSpec) run from N concurrent threads against one
  * session and sf1 corpus, and we record
  *   - per-query inflation (concurrent median / serial), the number
  *     a tenant actually feels;
  *   - aggregate throughput gain ((serial total × N) / concurrent
  *     wall), the number the cluster operator feels;
  *   - result parity: every concurrent run's (count, bit_xor of
  *     row hashes) must equal the serial run's — cross-query
  *     interference that corrupts results would be caught here, not
  *     just slowness (the schema cache and table registry are the
  *     shared state being raced).
  *
  * Scheduler-mode decision (recorded, README table): FAIR with one
  * ad-hoc pool per thread, so a long-running tenant cannot starve a
  * short query behind its queued stages — with FIFO, a q2-sized
  * probe enqueued behind d13's stages waits for them; with FAIR
  * pools it interleaves. Run both modes to see the difference:
  * {{{
  *   sbt "runMain graft.engine.ProfileConcurrent localdata/sf1 FAIR 4"
  *   sbt "runMain graft.engine.ProfileConcurrent localdata/sf1 FIFO 4"
  * }}}
  * Prints a markdown table plus ONE JSON line; nonzero exit on any
  * failure or parity mismatch.
  */
object ProfileConcurrent {

  /** Top-10 read-only battery entries at sf1, heaviest first
    * (localdata/bench_full_sf1.json; g7 = DML excluded by design). */
  private val Top10 = Seq(
    "d13_span_minhash", "d14_exact_substring", "d9_canonical_select",
    "d6_dup_groups", "d2_ngram_jaccard", "d7_incremental_dedup",
    "d3_minhash_lsh", "t19_learned_tokens", "d12_winnow_dups",
    "c1_corpus_prep")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "localdata/sf1"
    val mode = if (args.length > 1) args(1) else "FAIR"
    val nThreads = if (args.length > 2) args(2).toInt else 4
    val spark = graft.GraftSession.start(graft.GraftSession.builder(32)
      .appName(s"graft-concurrent-$mode")
      .config("spark.scheduler.mode", mode))
    val queries = graft.SparkEntry.queries

    /** Execute one query to completion and fold it to a comparable
      * fingerprint: (row count, order-insensitive xor of row hashes).
      * One action that computes the ENTIRE result — the same work the
      * bench's noop write forces, plus the parity evidence. */
    def run(name: String): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val df = queries(name)(spark, sfDir)
      val row = df
        .select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .selectExpr("count(*) AS n", "bit_xor(h) AS x").collect()(0)
      ((System.nanoTime() - t0) / 1e9, row.getLong(0), row.getLong(1))
    }

    // PROBE mode: the scheduler-fairness witness proper. Heavy
    // uniform tenants barely distinguish FAIR from FIFO (all pools
    // saturate all cores); the case FAIR exists for is a SHORT query
    // arriving while a heavy one has stages queued — under FIFO it
    // waits behind them, under FAIR pools it interleaves. One tenant
    // loops d13 (the heaviest entry), another fires the battery's
    // smallest probe (q2) every 500 ms; we report the probe's
    // latency distribution and its inflation vs idle.
    if (args.length > 3 && args(3) == "probe") {
      // Scheduler mode is context-fixed: run the main twice (FAIR,
      // FIFO) and compare the printed probe lines.
      val probeName = "q2_filter_project"
      val heavyName = Top10.head
      run(probeName) // warm both paths
      run(heavyName)
      val idle = (1 to 5).map(_ => run(probeName)._1).sorted
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val heavy = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "heavy")
        while (!stop.get()) run(heavyName)
      }, "heavy")
      heavy.start()
      Thread.sleep(2000) // let heavy stages queue up
      val lat = (1 to 20).map { _ =>
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "probe")
        val dt = run(probeName)._1
        Thread.sleep(500)
        dt
      }.sorted
      stop.set(true); heavy.join()
      def j2(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      println(
        s"""{"mode":"PROBE/$mode","probe":"$probeName","heavy":"$heavyName",""" +
        s""""idle_p50":${j2(idle(2))},"busy_p50":${j2(lat(9))},"busy_p95":${j2(lat(18))},""" +
        s""""busy_max":${j2(lat.last)},"inflation_p50":${j2(lat(9) / idle(2))}}""")
      spark.stop()
      return
    }

    // MIXED mode: the deployment combination the FAIR/FIFO tables
    // don't cover — analytic readers sharing the session with a DML
    // writer. Three reader tenants each run the top-6 read battery
    // (parity-checked), one writer tenant drives an INSERT/UPDATE
    // loop through the Engine into its own database. Pins: readers
    // never error or drift while DML runs (the writer lock is
    // mutation-scoped), and the writer's AUTO_INCREMENT sequence
    // stays dense under the concurrency (the single-writer contract
    // holds with analytics in flight).
    if (args.length > 3 && args(3) == "mixed") {
      val g = new Engine(spark)
      g.execute("DROP DATABASE IF EXISTS mixw")
      val loc = java.nio.file.Files.createTempDirectory("graft_mixw").toFile.getAbsolutePath
      g.execute(s"CREATE DATABASE mixw LOCATION '$loc'")
      g.execute("CREATE TABLE mixw.t (id INTEGER AUTO_INCREMENT, v INTEGER)")
      val readSet = Top10.take(6)
      readSet.foreach(run) // warm
      val serial = readSet.map(n => n -> run(n)).toMap
      val errors = java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]())
      val writerRounds = 40
      val writer = new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "writer")
        for (i <- 0 until writerRounds) {
          try {
            g.execute(s"INSERT INTO mixw.t (v) VALUES ($i), (${i + 1000})")
            if (i % 10 == 9)
              g.execute(s"UPDATE mixw.t SET v = v + 1 WHERE v < $i")
          } catch { case e: Throwable => errors.add(s"writer round $i: ${e.getMessage}") }
        }
      }, "writer")
      val infl = new java.util.concurrent.ConcurrentHashMap[String, java.util.Vector[Double]]()
      val readers = (0 until 3).map { i =>
        new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"reader$i")
          val rotated = readSet.drop(i * 2) ++ readSet.take(i * 2)
          for (name <- rotated) {
            try {
              val (dt, n, x) = run(name)
              val (_, sn, sx) = serial(name)
              if (n != sn || x != sx)
                errors.add(s"$name reader$i PARITY: ($n,$x) != ($sn,$sx)")
              infl.computeIfAbsent(name, _ => new java.util.Vector[Double]()).add(dt)
            } catch { case e: Throwable =>
              errors.add(s"$name reader$i FAILED: ${e.getMessage}") }
          }
        }, s"reader$i")
      }
      (writer +: readers).foreach(_.start())
      (writer +: readers).foreach(_.join())
      // Writer integrity: dense ids despite concurrent analytics.
      val ids = spark.sql("SELECT id FROM mixw.t ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      val dense = ids == (1L to 2L * writerRounds)
      if (!dense) errors.add(s"writer ids not dense: ${ids.take(10)}...")
      import scala.jdk.CollectionConverters._
      def j2(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
      val med = readSet.map { n =>
        val v = infl.get(n).asScala.toSeq.sorted
        n.takeWhile(_ != '_') -> v((v.size - 1) / 2) / serial(n)._1
      }
      g.execute("DROP DATABASE mixw")
      println(
        s"""{"mode":"MIXED","readers":3,"writer_rounds":$writerRounds,""" +
        s""""writer_ids_dense":$dense,"errors":${errors.size()},""" +
        s""""reader_median_inflation":${med.map { case (k, v) =>
          "\"" + k + "\":" + j2(v) }.mkString("{", ",", "}")}}""")
      errors.asScala.foreach(e => System.err.println(s"[mixed] $e"))
      spark.stop()
      if (!errors.isEmpty) sys.exit(1)
      return
    }

    // Warm-up (JIT, codegen cache, parquet footers) — discarded.
    Top10.foreach(run)

    // Serial reference: one tenant, whole battery.
    val serial = Top10.map(n => n -> run(n)).toMap
    val serialTotal = serial.values.map(_._1).sum

    // Concurrent: N tenants, same battery, each starting at a
    // different offset so the mix is heterogeneous (all four running
    // the SAME query at once would measure self-contention only).
    val times =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.Vector[Double]]()
    val errors = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val wall0 = System.nanoTime()
    val threads = (0 until nThreads).map { i =>
      new Thread(() => {
        // One ad-hoc FAIR pool per tenant (no-op under FIFO mode).
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"tenant$i")
        val rotated = Top10.drop(i * Top10.size / nThreads) ++
          Top10.take(i * Top10.size / nThreads)
        for (name <- rotated) {
          try {
            val (dt, n, x) = run(name)
            val (_, sn, sx) = serial(name)
            if (n != sn || x != sx)
              errors.add(s"$name tenant$i PARITY: ($n,$x) != serial ($sn,$sx)")
            times.computeIfAbsent(name, _ => new java.util.Vector[Double]()).add(dt)
          } catch { case e: Throwable =>
            errors.add(s"$name tenant$i FAILED: ${e.getMessage}")
          }
        }
      }, s"tenant$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - wall0) / 1e9

    import scala.jdk.CollectionConverters._
    def median(v: Seq[Double]): Double = {
      val s = v.sorted; s((s.size - 1) / 2)
    }
    println(s"| query | serial s | conc median s | conc max s | inflation |")
    println(s"|---|---|---|---|---|")
    val rows = Top10.map { n =>
      val ser = serial(n)._1
      val conc = Option(times.get(n)).map(_.asScala.toSeq).getOrElse(Seq.empty)
      val (med, mx) = if (conc.isEmpty) (Double.NaN, Double.NaN)
                      else (median(conc), conc.max)
      println(f"| $n | $ser%.2f | $med%.2f | $mx%.2f | ${med / ser}%.2fx |")
      n -> (ser, med, mx)
    }
    val gain = serialTotal * nThreads / wall
    val medInfl = median(rows.map { case (_, (s, m, _)) => m / s })
    def j(v: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    println(
      s"""{"mode":"$mode","threads":$nThreads,"sf":"$sfDir","serial_total":${j(serialTotal)},""" +
      s""""concurrent_wall":${j(wall)},"throughput_gain":${j(gain)},""" +
      s""""median_inflation":${j(medInfl)},"errors":${errors.size()},""" +
      s""""queries":${rows.map { case (n, (s, m, x)) =>
        "\"" + n.takeWhile(_ != '_') + "\":[" + j(s) + "," + j(m) + "," + j(x) + "]"
      }.mkString("{", ",", "}")}}""")
    errors.asScala.foreach(e => System.err.println(s"[concurrent] $e"))
    spark.stop()
    if (!errors.isEmpty) sys.exit(1)
  }
}
