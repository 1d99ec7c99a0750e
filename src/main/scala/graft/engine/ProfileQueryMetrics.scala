package graft.engine

import org.apache.spark.scheduler._
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Round-19 optimization profiler: per-query SCHEDULER METRICS, not
  * wall-clock. The optimization window on this host is noisy (d13
  * swings 4.5–19.5 s on unchanged code within one session), so
  * wall-clock A/Bs need many samples to mean anything — but the
  * metrics that guide §2 says to optimize (number of jobs/stages,
  * task count, shuffle bytes moved, input bytes read, executor task
  * time) are deterministic modulo AQE and measure the same thing a
  * 100 TB run pays for. One pass per query after a one-query JIT
  * warm-up; each query runs under a job group so listener events
  * attribute exactly (same mechanism as Bench's spill tracker).
  *
  * Run: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.engine.ProfileQueryMetrics [substring-filter]"
  * Emits one JSON line per query on stdout:
  *   {"q":name,"jobs":n,"stages":n,"tasks":n,"task_sec":s,
  *    "shuffle_mb":m,"input_mb":m,"spill_mb":m,"wall_sec":s}
  */
object ProfileQueryMetrics {
  private final class Acc {
    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val taskMs = new AtomicLong
    val shuffleR = new AtomicLong; val shuffleW = new AtomicLong
    val input = new AtomicLong; val spill = new AtomicLong
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.headOption
    val spark = graft.GraftSession.start(
      graft.GraftSession.builder(graft.GraftSession.cpus(32)))

    val accs = new ConcurrentHashMap[String, Acc]()
    val stageGroup = new ConcurrentHashMap[Int, String]()
    // GRAFT_QM_JOBS=1: additionally print one line per job (group,
    // job id, duration, task count, description) for job-level triage.
    val traceJobs = sys.env.contains("GRAFT_QM_JOBS")
    val jobStart = new ConcurrentHashMap[Int, (String, Long, String)]()
    val jobTasks = new ConcurrentHashMap[Int, AtomicLong]()
    val jobInput = new ConcurrentHashMap[Int, AtomicLong]()
    val stageJob = new ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) {
          j.stageIds.foreach(s => stageGroup.put(s, g))
          accs.computeIfAbsent(g, _ => new Acc).jobs.incrementAndGet()
        }
        if (traceJobs) {
          val desc = Option(j.properties)
            .map(_.getProperty("spark.job.description")).getOrElse("")
          jobStart.put(j.jobId, (String.valueOf(g), System.nanoTime(), String.valueOf(desc)))
          j.stageIds.foreach(s => stageJob.put(s, j.jobId))
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = if (traceJobs) {
        val st = jobStart.remove(j.jobId)
        if (st != null) {
          val dt = (System.nanoTime() - st._2) / 1e9
          val nt = Option(jobTasks.remove(j.jobId)).map(_.get).getOrElse(0L)
          val in = Option(jobInput.remove(j.jobId)).map(_.get).getOrElse(0L) / 1048576.0
          System.err.println(
            f"[qmjob] ${st._1}%-24s job=${j.jobId}%3d ${dt}%7.3f s tasks=$nt%4d in=$in%6.1fMB ${st._3.take(90)}")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val g = stageGroup.get(s.stageInfo.stageId)
        if (g != null) accs.computeIfAbsent(g, _ => new Acc).stages.incrementAndGet()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (traceJobs) {
          // getOrDefault, not get: a CHM[Int,Int] get on an unregistered
          // stage (job started before group registration) returns null,
          // which Scala unboxes to 0 — silently attributing the task to
          // job 0 (it never throws). Job ids start at 0, so -1 marks
          // "no job".
          val jid = stageJob.getOrDefault(t.stageId, -1)
          if (jid >= 0) {
            jobTasks.computeIfAbsent(jid, _ => new AtomicLong).incrementAndGet()
            val tm = t.taskMetrics
            if (tm != null)
              jobInput.computeIfAbsent(jid, _ => new AtomicLong)
                .addAndGet(tm.inputMetrics.bytesRead)
          }
        }
        val g = stageGroup.get(t.stageId)
        val m = t.taskMetrics
        if (g != null && m != null) {
          val a = accs.computeIfAbsent(g, _ => new Acc)
          a.tasks.incrementAndGet()
          a.taskMs.addAndGet(m.executorRunTime)
          a.shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          a.shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          a.input.addAndGet(m.inputMetrics.bytesRead)
          a.spill.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    val battery = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(n.contains) }
    // JIT/codegen warm-up: first battery query once, unattributed.
    battery.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    def mb(b: Long): String = f"${b / 1048576.0}%.1f"
    battery.foreach { case (name, fn) =>
      spark.sparkContext.setJobGroup(name, name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[qmetrics] $name FAILED: ${e.getMessage}"); false }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
      // brief drain so late task events land before reading (the
      // listener bus is private[spark]; a fixed sleep is enough for
      // a single-process local bus between queries)
      Thread.sleep(250)
      val a = accs.getOrDefault(name, new Acc)
      if (ok) println(
        s"""{"q":"$name","jobs":${a.jobs.get},"stages":${a.stages.get},""" +
        s""""tasks":${a.tasks.get},"task_sec":${a.taskMs.get / 1000.0},""" +
        s""""shuffle_mb":${mb(math.max(a.shuffleR.get, a.shuffleW.get))},""" +
        s""""input_mb":${mb(a.input.get)},"spill_mb":${mb(a.spill.get)},""" +
        f""""wall_sec":$wall%.3f}""")
      System.out.flush()
    }
    spark.stop()
  }
}
