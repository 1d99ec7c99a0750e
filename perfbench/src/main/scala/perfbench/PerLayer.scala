package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run, per traced pass. Every name is
  * printed on every workload; a metric of a layer the workload does not
  * use reads 0. */
object PerLayer {
  val glueClasses: Seq[String] = Seq("filter_idx", "filter_noidx", "find_idx", "find_noidx",
    "sum_group", "join", "insert", "insert_reject", "update", "delete")

  val units: Seq[(String, String)] = Seq(
    "tables.register_ms" -> "ms",
    "operators.build_ms" -> "ms",
    "operators.build_share" -> "ratio",
    "operators.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "catalyst.executions" -> "count",
    "catalyst.exchanges" -> "count",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.tasks" -> "count",
    "exec.core_busy_frac" -> "ratio",
    "exec.task_run_s" -> "s",
    "exec.task_cpu_s" -> "s",
    "exec.shuffle_write_mb" -> "MiB",
    "exec.shuffle_read_mb" -> "MiB",
    "exec.shuffle_fetch_wait_ms" -> "ms",
    "exec.input_mb" -> "MiB",
    "exec.gc_s" -> "s",
    "exec.spill_mb" -> "MiB",
    "exec.peak_exec_mem_mb" -> "MiB",
    "exec.task_failures" -> "count") ++
    glueClasses.map(c => s"engine.${c}_p50_ms" -> "ms") ++ Seq(
    "engine.read_p50_ms" -> "ms",
    "engine.read_tail_ms" -> "ms",
    "engine.write_p50_ms" -> "ms",
    "engine.write_tail_ms" -> "ms",
    "engine.load_ms" -> "ms",
    "engine.jobs_per_stmt.read" -> "count",
    "engine.jobs_per_stmt.write" -> "count",
    "engine.rows_read_per_row.find_idx" -> "ratio",
    "engine.rows_read_per_row.filter_idx" -> "ratio",
    "engine.files_rewritten_per_stmt.update" -> "count",
    "engine.files_rewritten_per_stmt.delete" -> "count",
    "engine.files_rewritten_frac" -> "ratio",
    "engine.table_files_end" -> "count",
    "trace.overhead_ratio" -> "ratio")

  val names: Seq[String] = units.map(_._1)
  private val unitOf = units.toMap
  def unit(n: String): String = unitOf(n)

  private val MiB = 1048576.0

  /** Layer metrics common to every workload, summed over the traced ops
    * and divided by the number of traced passes. */
  def apply(ls: Seq[OpLayers], passes: Double, cores: Int): Map[String, Double] = {
    val t = new TaskAgg
    ls.foreach(l => t.add(l.tasks))
    val qs = ls.flatMap(_.queries)
    def per(v: Double) = v / passes
    val wallMs = ls.map(_.op.ms).sum
    val buildMs = ls.map(_.op.buildMs).sum
    val jobWallMs = ls.map(l => l.jobUnionMs(Clock.epochMs(l.op.startNs), Clock.epochMs(l.op.endNs))).sum
    Map(
      "operators.build_ms" -> per(buildMs),
      "operators.build_share" -> (if (wallMs > 0) buildMs / wallMs else 0.0),
      "operators.build_jobs" -> per(ls.map(_.buildJobs).sum),
      "catalyst.analysis_ms" -> per(qs.map(_.analysisMs).sum),
      "catalyst.optimization_ms" -> per(qs.map(_.optimizationMs).sum),
      "catalyst.planning_ms" -> per(qs.map(_.planningMs).sum),
      "catalyst.executions" -> per(qs.size),
      "catalyst.exchanges" -> per(qs.map(_.exchanges).sum),
      "exec.jobs" -> per(ls.map(_.jobs.size).sum),
      "exec.stages" -> per(ls.map(_.stages).sum),
      "exec.tasks" -> per(t.tasks),
      "exec.core_busy_frac" -> (if (jobWallMs > 0) t.runMs / (jobWallMs * cores) else 0.0),
      "exec.task_run_s" -> per(t.runMs / 1e3),
      "exec.task_cpu_s" -> per(t.cpuNs / 1e9),
      "exec.shuffle_write_mb" -> per(t.shuffleWrite / MiB),
      "exec.shuffle_read_mb" -> per(t.shuffleRead / MiB),
      "exec.shuffle_fetch_wait_ms" -> per(t.fetchWaitMs),
      "exec.input_mb" -> per(t.inputBytes / MiB),
      "exec.gc_s" -> per(t.gcMs / 1e3),
      "exec.spill_mb" -> per(t.spill / MiB),
      "exec.peak_exec_mem_mb" -> t.peakExecMem / MiB,
      "exec.task_failures" -> per(t.failures))
  }

  /** Writes the span tree (workload → pass → op → {build, execute} →
    * job) and returns each layer's self time summed over traced ops:
    * `exec` is the wall covered by the op's jobs, `catalyst` the
    * analysis, optimization and planning time of its executed queries,
    * `operators` the rest of a build, and the rest of an execute is
    * `engine` for statements and `other` for battery queries. */
  def spans(log: SpanLog, ls: Seq[OpLayers], ops: Seq[Op]): Map[String, Double] = {
    val self = mutable.LinkedHashMap(
      "operators" -> 0.0, "engine" -> 0.0, "catalyst" -> 0.0, "exec" -> 0.0, "other" -> 0.0)
    if (ops.isEmpty) return self.toMap
    val root = log.span(0, "workload", "workload",
      Clock.epochMs(ops.head.startNs), Clock.epochMs(ops.last.endNs))
    val byIdx = ls.map(l => l.op.idx -> l).toMap
    ops.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (p, pops) =>
      val ps = log.span(root, s"pass $p", "workload", Clock.epochMs(pops.head.startNs),
        Clock.epochMs(pops.last.endNs))
      pops.foreach { o =>
        val (s, b, e) = (Clock.epochMs(o.startNs), Clock.epochMs(o.buildEndNs), Clock.epochMs(o.endNs))
        val os = log.span(ps, o.name, "op", s, e,
          Seq("class" -> Stats.str(o.cls), "ok" -> o.ok.toString, "traced" -> o.traced.toString))
        byIdx.get(o.idx).foreach { l =>
          val isStmt = o.buildEndNs == o.startNs
          val bs = if (isStmt) 0L else log.span(os, "build", "operators", s, b)
          val es = log.span(os, "execute", if (isStmt) "engine" else "other", b, e)
          l.jobs.foreach { j =>
            val end = if (j.endMs < 0) e else j.endMs.toDouble
            log.span(if (j.startMs < b) bs else es, s"job ${j.id}", "exec", j.startMs.toDouble, end,
              Seq("stages" -> j.stages.toString, "tasks" -> j.tasks.tasks.toString,
                "task_run_ms" -> j.tasks.runMs.toString))
          }
          l.queries.zipWithIndex.foreach { case (q, i) =>
            log.span(os, s"query $i", "catalyst", s, s,
              Seq("analysis_ms" -> q.analysisMs.toString, "optimization_ms" -> q.optimizationMs.toString,
                "planning_ms" -> q.planningMs.toString, "exchanges" -> q.exchanges.toString))
          }
          val catalyst = l.catalystMs
          val buildExec = l.jobUnionMs(s, b)
          val execExec = l.jobUnionMs(b, e)
          self("exec") += buildExec + execExec
          self("catalyst") += catalyst
          // Catalyst time is charged against the execute phase first.
          val execRest = (e - b) - execExec
          val buildRest = (b - s) - buildExec
          val catInExec = math.min(catalyst, math.max(0.0, execRest))
          self(if (isStmt) "engine" else "other") += execRest - catInExec
          self("operators") += math.max(0.0, buildRest - (catalyst - catInExec))
        }
      }
    }
    self.toMap
  }
}
