package perfbench

import scala.collection.immutable.ListMap

/** The per-layer metrics of a traced run, and the per-operation
  * profile lines behind them. Every workload reports every metric; a
  * layer the workload does not run reads 0. */
object Layers {
  type Metrics = ListMap[String, (Double, String)]

  private val MB = 1024.0 * 1024.0

  val names: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.build_executor_run_s" -> "s", "plans.plan_s" -> "s",
    "exec.s" -> "s", "exec.driver_gap_s" -> "s", "exec.task_wait_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.single_task_stages" -> "count",
    "exec.executor_run_s" -> "s", "exec.executor_cpu_s" -> "s",
    "exec.executor_gc_s" -> "s", "exec.core_util" -> "ratio",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.scan_mb" -> "MB",
    "dedup.cache_peak_mb" -> "MB", "dedup.cache_left_mb" -> "MB",
    "pipeline.window_jobs" -> "count",
    "pipeline.single_task_stages" -> "count",
    "pipeline.core_util" -> "ratio", "pipeline.retries" -> "count",
    "lake.write_mb" -> "MB", "lake.files" -> "count",
    "lake.write_amp" -> "ratio", "sources.ingest_s" -> "s",
    "dq.eval_s" -> "s", "model.run_s" -> "s",
    "trace.overhead_ratio" -> "ratio", "trace.phase_sum_ratio" -> "ratio",
    "trace.ops" -> "count")

  def metrics(values: Map[String, Double]): Metrics = {
    require(values.keySet.subsetOf(names.map(_._1).toSet),
      s"unknown layer metrics ${values.keySet -- names.map(_._1)}")
    ListMap(names.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }: _*)
  }

  private def exec(c: SparkCounts, execS: Double, gapS: Double)
      : Map[String, Double] = Map(
    "exec.s" -> execS, "exec.driver_gap_s" -> gapS,
    "exec.task_wait_s" -> c.taskWaitS, "exec.jobs" -> c.jobs.toDouble,
    "exec.stages" -> c.stages.toDouble, "exec.tasks" -> c.tasks.toDouble,
    "exec.single_task_stages" -> c.singleTaskStages.toDouble,
    "exec.executor_run_s" -> c.runS, "exec.executor_cpu_s" -> c.cpuS,
    "exec.executor_gc_s" -> c.gcS,
    "exec.core_util" -> (if (execS > 0) c.runS / (execS * Sessions.nproc)
      else 0.0),
    "exec.shuffle_write_mb" -> c.shuffleWriteB / MB,
    "exec.shuffle_read_mb" -> c.shuffleReadB / MB,
    "exec.spill_mb" -> c.spillB / MB, "exec.scan_mb" -> c.inputB / MB)

  /** Layer values of one traced query execution. */
  def ofQuery(t: Tracer, e: Exec): Map[String, Double] = {
    val op = e.span.get
    val phases = t.children(op).map(s => s.name -> s).toMap
    def jobs(p: String) = phases.get(p).map(t.jobsUnder).getOrElse(Nil)
    val build = t.counts(jobs("build"), phases.getOrElse("build", op))
    val execSpan = phases.getOrElse("exec", op)
    val ex = t.counts(jobs("exec") ++ jobs("plan"), execSpan)
    exec(ex, e.execS, math.max(0.0, e.execS - ex.busyS)) ++ Map(
      "queries.build_s" -> e.buildS, "queries.build_jobs" -> build.jobs.toDouble,
      "queries.build_executor_run_s" -> build.runS,
      "plans.plan_s" -> e.planS,
      "dedup.cache_peak_mb" -> t.cachePeakB(op) / MB,
      "trace.phase_sum_ratio" -> e.wallS / op.seconds)
  }

  /** Workload totals of a query workload: each query's median over its
    * traced executions, summed (utilization recomputed from the sums;
    * cache peak and phase-sum ratio are the extreme over queries). */
  def queryTotals(t: Tracer, traced: Seq[Exec], overhead: Double,
      cacheLeftB: Long): (Map[String, Double], Seq[Map[String, Any]]) = {
    val perExec = traced.map(e => e -> ofQuery(t, e))
    val perQuery = perExec.groupBy(_._1.query).toSeq.sortBy(_._1)
      .map { case (q, xs) =>
        q -> xs.head._2.keys.map(k => k -> Stats.median(xs.map(_._2(k))))
          .toMap
      }
    def sum(k: String) = perQuery.map(_._2(k)).sum
    val additive = perQuery.head._2.keys
      .filterNot(Set("exec.core_util", "dedup.cache_peak_mb",
        "trace.phase_sum_ratio")).map(k => k -> sum(k)).toMap
    val totals = additive ++ Map(
      "exec.core_util" -> additive("exec.executor_run_s") /
        (additive("exec.s") * Sessions.nproc),
      "dedup.cache_peak_mb" -> perQuery.map(_._2("dedup.cache_peak_mb")).max,
      "dedup.cache_left_mb" -> cacheLeftB / MB,
      "trace.phase_sum_ratio" ->
        perExec.map(_._2("trace.phase_sum_ratio")).min,
      "trace.overhead_ratio" -> overhead,
      "trace.ops" -> traced.size.toDouble)
    val profile = perExec.map { case (e, m) =>
      Map[String, Any]("op" -> e.query, "pass" -> e.pass,
        "wall_s" -> e.wallS, "span_s" -> e.span.get.seconds) ++ m
    }
    (totals, profile)
  }

  /** Layer values of one traced backfill. */
  def ofBackfill(t: Tracer, b: BackfillRun): (Map[String, Double],
      Seq[Map[String, Any]]) = {
    val perWindow = b.windows.map { w =>
      val s = w.span.get
      w -> t.counts(t.jobsUnder(s), s)
    }
    val all = perWindow.map(_._2).foldLeft(SparkCounts.zero)(_ + _)
    val wall = b.wallS
    val values = exec(all, wall, math.max(0.0, wall - all.busyS)) ++ Map(
      "dedup.cache_peak_mb" -> t.cachePeakB(b.span.get) / MB,
      "pipeline.window_jobs" ->
        Stats.median(perWindow.map(_._2.jobs.toDouble)),
      "pipeline.single_task_stages" -> all.singleTaskStages.toDouble,
      "pipeline.core_util" -> all.runS / (wall * Sessions.nproc),
      "pipeline.retries" ->
        b.windows.map(w => w.attempts - w.stagesRun).sum.toDouble,
      "lake.write_mb" -> all.outputB / MB,
      "lake.files" -> b.lakeFiles.toDouble,
      "lake.write_amp" -> all.outputB.toDouble / b.payloadBytes)
    val profile = perWindow.map { case (w, c) =>
      Map[String, Any]("op" -> w.label, "backfill" -> b.index,
        "wall_s" -> w.wallS, "api_s" -> w.apiS, "songs_s" -> w.songsS,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "single_task_stages" -> c.singleTaskStages,
        "executor_run_s" -> c.runS, "write_mb" -> c.outputB / MB,
        "core_util" -> c.runS / (w.wallS * Sessions.nproc),
        "stage_attempts" -> w.attempts, "stages_run" -> w.stagesRun)
    }
    (values, profile)
  }
}
