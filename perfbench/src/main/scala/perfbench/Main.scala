package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** A workload: set up on a fresh session, check, then run timed passes. */
trait Workload {
  /** How many set-ups a run times; `setup_s` is their median. */
  def setupReps: Int
  /** How many passes a run times, so every run measures the same work
    * and the same number of latency samples; `--seconds` only caps it. */
  def passes: Int
  /** Repeatable set-up on a fresh session; returns named set-up parts in ms. */
  def setup(spark: SparkSession, rep: Int): Map[String, Double]
  /** Untimed warm-up and checks before the timed region.
    * Returns (checks attempted, descriptions of failures). */
  def check(spark: SparkSession): (Int, Seq[String])
  /** One pass of the closed loop; appends one [[Op]] per operation and
    * brackets each with `hooks.begin` and `hooks.end`. */
  def pass(spark: SparkSession, pass: Int, hooks: Hooks, ops: mutable.ArrayBuffer[Op]): Unit
  /** Untimed checks after the timed region. */
  def finalCheck(spark: SparkSession): (Int, Seq[String]) = (0, Nil)
  /** Workload-specific per-layer metrics from the traced ops. */
  def layerMetrics(traced: Seq[OpLayers]): Map[String, Double] = Map.empty
  /** Descriptions of the timed ops that failed or returned a wrong
    * result (each such op has `ok = false`). */
  def opFailures: Seq[String] = Nil
}

/** Tracing around single ops. In a traced run, ops alternate between
  * traced and untraced, with the parity flipping every pass, so over two
  * passes each battery entry is timed once each way; the geometric mean
  * of the traced/untraced ratios is the tracing overhead. A traced op runs with the listener
  * attached and its jobs under a job group naming it; the listener bus is
  * drained after the op's timer stops. */
final class Hooks(spark: SparkSession, val counters: SparkCounters, enabled: Boolean) {
  def traced(pass: Int, pos: Int): Boolean = enabled && (pass + pos) % 2 == 1
  def begin(idx: Int, on: Boolean): Unit = if (on) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    spark.sparkContext.setJobGroup(Attribution.GroupPrefix + idx, "perfbench op")
  }
  def end(on: Boolean): Unit = if (on) {
    spark.sparkContext.clearJobGroup()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
  }
}

/** Command-line entry. One JVM runs one workload:
  * {{{
  * perfbench.Main --workload relational|llm_pipeline|glue_statements
  *   --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *   [--golden FILE] [--record-golden FILE] [--trace-out FILE]
  *   [--conf k=v]... [--provenance k=v]...
  * }}}
  * The last line of standard output is the result object. */
object Main {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session conf of every run: `graft.Bench`'s conf, set here
    * only. `--conf k=v` overrides it (layer-diff demonstrations). */
  def sessionConf(work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Deployment paths: every file the run writes stays under `work`.
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.hadoop.hadoop.tmp.dir" -> s"$work/hadoop")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, golden: Option[String],
                        recordGolden: Option[String], traceOut: Option[String],
                        conf: Seq[(String, String)],
                        provenance: Seq[(String, String)])

  def parse(argv: Array[String]): Args = {
    val single = mutable.Map.empty[String, String]
    val conf = mutable.ArrayBuffer.empty[(String, String)]
    val prov = mutable.ArrayBuffer.empty[(String, String)]
    def kv(s: String): (String, String) = {
      val i = s.indexOf('=')
      require(i > 0, s"expected key=value, got '$s'")
      (s.take(i), s.drop(i + 1))
    }
    argv.grouped(2).foreach {
      case Array("--conf", v) => conf += kv(v)
      case Array("--provenance", v) => prov += kv(v)
      case Array(k, v) if k.startsWith("--") => single(k.drop(2)) = v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    def need(k: String) = single.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace takes 0 or 1")
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace == "1",
      need("data"), need("work"), single.get("golden"), single.get("record-golden"),
      single.get("trace-out"), conf.toSeq, prov.toSeq)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: Workload = a.workload match {
      case w @ ("relational" | "llm_pipeline") =>
        new BatchWorkload(w, a.data, a.seed, a.golden, a.recordGolden)
      case "glue_statements" => new GlueWorkload(a.work, a.seed)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val conf = sessionConf(a.work) ++ a.conf
    val cpuProbe = Probes.cpuProbe()

    // Set-up, repeated on a fresh session each time; the last one stays.
    var spark: SparkSession = null
    val setups = (1 to workload.setupReps).map { rep =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val b = SparkSession.builder()
      conf.foreach { case (k, v) => b.config(k, v) }
      spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val parts = workload.setup(spark, rep)
      (System.nanoTime() - t0) / 1e9 -> parts
    }
    val setupS = Stats.median(setups.map(_._1))
    def setupPart(k: String) = Stats.median(setups.map(_._2.getOrElse(k, 0.0)))

    val c0 = System.nanoTime()
    val (checked, checkFailures) = workload.check(spark)
    val checkS = (System.nanoTime() - c0) / 1e9

    // Timed region: the workload's fixed number of passes, none started
    // after `seconds` have elapsed (two at least in a traced run, so every
    // entry is timed traced and untraced).
    val hooks = new Hooks(spark, new SparkCounters, a.trace)
    val ops = mutable.ArrayBuffer.empty[Op]
    val minPasses = if (a.trace) 2 else 1
    val q0 = System.nanoTime()
    System.gc()
    Probes.awaitJitQuiet()
    val quietS = (System.nanoTime() - q0) / 1e9
    val (jit0, gc0) = (Probes.jitMs(), Probes.gcMs())
    val t0 = System.nanoTime()
    var pass = 0
    val passCpuS = mutable.ArrayBuffer.empty[Double]
    val passLines = mutable.ArrayBuffer.empty[String]
    var peakHeapMb = 0.0
    while (pass < minPasses ||
      pass < workload.passes && (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val (cpu0, w0, j0) = (Probes.processCpuNs(), System.nanoTime(), Probes.jitMs())
      workload.pass(spark, pass, hooks, ops)
      // The pass's CPU, taken before the heap probe's forced GCs.
      passCpuS += (Probes.processCpuNs() - cpu0) / 1e9
      passLines += f"pass $pass wall_s=${(System.nanoTime() - w0) / 1e9}%.3f cpu_s=${passCpuS.last}%.3f " +
        s"jit_ms=${Probes.jitMs() - j0}"
      peakHeapMb = math.max(peakHeapMb, Probes.heapAfterFullGcMb())
      pass += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    if (pass < workload.passes)
      System.err.println(s"[perfbench] WARNING: --seconds ${a.seconds} cut the run to $pass of " +
        s"${workload.passes} passes; its latency percentiles are not comparable")
    val (jitMs, gcMs) = (Probes.jitMs() - jit0, Probes.gcMs() - gc0)

    val f0 = System.nanoTime()
    val (finalChecked, finalFailures) = workload.finalCheck(spark)
    val finalCheckS = (System.nanoTime() - f0) / 1e9
    val timedOps = ops.toSeq
    val opFailed = timedOps.count(!_.ok)
    (checkFailures ++ workload.opFailures ++ finalFailures)
      .foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val attempted = timedOps.size + checked + finalChecked
    val failed = opFailed + checkFailures.size + finalFailures.size

    val untracedOps = timedOps.filterNot(_.traced)
    val lat = untracedOps.map(_.ms)
    val (tailP, tailV) = Stats.tail(lat)
    // Timed work per pass: the sum of untraced op latencies (no checks
    // between ops) per pass's worth of untraced ops.
    val wallS = lat.sum / 1e3 / (pass * lat.size.toDouble / timedOps.size)
    val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
    endToEnd("setup_s") = setupS -> "s"
    endToEnd("wall_s") = wallS -> "s"
    endToEnd("latency_p50_ms") = Stats.median(lat) -> "ms"
    endToEnd("latency_tail_ms") = tailV -> "ms"
    endToEnd("cpu_s") = Stats.median(passCpuS.toSeq) -> "s"
    endToEnd("peak_heap_mb") = peakHeapMb -> "MiB"

    val provenance = a.provenance ++ Seq(
      "nproc" -> cpus.toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "data" -> a.data, "seed" -> a.seed.toString,
      "cpu_probe_s" -> Stats.num(cpuProbe),
      "session_conf" -> conf.map { case (k, v) => s"$k=$v" }.mkString(";"))

    val human = mutable.ArrayBuffer.empty[String]
    human += "provenance " + Stats.obj(provenance.map { case (k, v) => k -> Stats.str(v) })
    human += f"run setup_reps=${workload.setupReps} check_s=$checkS%.3f final_check_s=$finalCheckS%.3f quiet_s=$quietS%.3f passes=$pass timed_s=$timedS%.3f ops=${timedOps.size} " +
      s"jit_ms=$jitMs gc_ms=$gcMs"
    human ++= passLines
    human += s"tail latency_tail_ms is p$tailP of ${lat.size} samples"
    human += f"metric failed_frac ${failed.toDouble / math.max(1, attempted)}%.6f ratio"

    val metrics: Seq[(String, (Double, String))] =
      if (!a.trace) {
        workload match {
          case g: GlueWorkload =>
            val (rw, tails) = g.readWriteMetrics(untracedOps)
            human ++= tails
            rw.foreach { case (k, (v, u)) => human += s"metric $k ${Stats.num(v)} $u" }
          case _ =>
        }
        endToEnd.toSeq
      } else {
        val counters = hooks.counters
        val layers = Attribution(timedOps, spark.sparkContext, counters)
        human += s"listener: ${counters.jobs.size} jobs, ${counters.queries.size} executed queries " +
          s"(${layers.map(_.queries.size).sum} attributed)"
        // Ops traced add up to one pass per two passes run.
        val tracedPasses = pass / 2.0
        // Per op name (battery entry or statement class), traced mean over
        // untraced mean; the overhead is their geometric mean.
        val ratios = timedOps.groupBy(_.name).values.flatMap { os =>
          val (t, u) = os.partition(_.traced)
          if (t.isEmpty || u.isEmpty) None
          else Some(math.log(t.map(_.ms).sum / t.size / (u.map(_.ms).sum / u.size)))
        }
        val overhead = math.exp(ratios.sum / ratios.size)
        val per = PerLayer(layers, tracedPasses, cpus) ++
          Map("tables.register_ms" -> setupPart("tables.register_ms"),
            "engine.load_ms" -> setupPart("engine.load_ms"),
            "trace.overhead_ratio" -> overhead) ++
          workload.layerMetrics(layers)
        val log = new SpanLog
        val selfMs = PerLayer.spans(log, layers, timedOps)
        val header = Stats.obj(Seq(
          "kind" -> Stats.str("run"), "workload" -> Stats.str(a.workload),
          "provenance" -> Stats.obj(provenance.map { case (k, v) => k -> Stats.str(v) }),
          "end_to_end" -> Stats.obj(endToEnd.toSeq.map { case (k, (v, _)) => k -> Stats.num(v) }),
          "tracing_overhead" -> Stats.num(overhead),
          "per_layer" -> Stats.obj(PerLayer.names.map(n => n -> Stats.num(per.getOrElse(n, 0.0)))),
          "layer_self_ms" -> Stats.obj(selfMs.toSeq.map { case (k, v) => k -> Stats.num(v / tracedPasses) })))
        a.traceOut.foreach { p =>
          log.write(p, header)
          human += s"trace written to $p"
        }
        human += f"tracing overhead: traced/untraced op time $overhead%.4f"
        PerLayer.names.map(n => n -> (per.getOrElse(n, 0.0) -> PerLayer.unit(n)))
      }
    metrics.foreach { case (k, (v, u)) => human += s"metric $k ${Stats.num(v)} $u" }
    human.foreach(println)
    val correct = failed == 0
    println(Stats.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Stats.obj(metrics.map { case (k, (v, u)) =>
        k -> Stats.obj(Seq("value" -> Stats.num(v), "unit" -> Stats.str(u)))
      }))))
    System.out.flush()
    spark.stop()
    if (!correct) sys.exit(1)
  }
}
