package perfbench

/** The per-layer report of a traced run. Every workload prints every
  * metric; a layer the workload does not run reads 0 (no time spent, no
  * work done there).
  */
object Layers {
  private val query = Seq(
    "build_ms" -> "ms", "build_jobs" -> "count", "plan_ms" -> "ms",
    "exec_ms" -> "ms", "exec_jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_run_ms" -> "ms", "task_cpu_ms" -> "ms", "gc_ms" -> "ms",
    "input_bytes" -> "bytes", "shuffle_read_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "core_busy_ratio" -> "ratio", "release_ms" -> "ms", "cached_mb_at_release" -> "MB",
    "memo_entries_at_release" -> "count", "span_coverage_ratio" -> "ratio")
  private val packs = QueryWorkload.PackNames.flatMap(p => Seq(
    s"pack.$p.build_ms" -> "ms", s"pack.$p.plan_ms" -> "ms",
    s"pack.$p.exec_ms" -> "ms", s"pack.$p.jobs" -> "count"))
  private val groups = Seq(
    "group.reference.wall_ms" -> "ms", "group.curation.wall_ms" -> "ms",
    "group.targets.wall_ms" -> "ms")
  private val floor = Seq(
    "floor.ms_per_request" -> "ms", "floor.ms_per_job" -> "ms")
  private val stream = Seq(
    "stream.addBatch_ms" -> "ms", "stream.getBatch_ms" -> "ms",
    "stream.latestOffset_ms" -> "ms", "stream.queryPlanning_ms" -> "ms",
    "stream.walCommit_ms" -> "ms", "stream.triggerExecution_ms" -> "ms",
    "stream.batches" -> "count", "stream.rows_per_batch" -> "count",
    "lww_upsert_ms" -> "ms", "rollup_upsert_ms" -> "ms", "buckets_touched" -> "count",
    "lww_state_bytes" -> "bytes", "rollup_state_bytes" -> "bytes",
    "candles_ms" -> "ms", "feature_ms" -> "ms", "forward_ms" -> "ms",
    "prediction_write_ms" -> "ms", "generator_late_ms_max" -> "ms",
    "backlog_events_end" -> "count")

  /** (name, unit) of every per-layer metric, in report order. */
  val Metrics: Seq[(String, String)] =
    query ++ packs ++ groups ++ floor ++ stream :+ ("trace_overhead_ms" -> "ms")

  /** Fills the report in [[Metrics]] order; unknown names are a bug. */
  def report(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- Metrics.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    Metrics.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }

  /** Execution counters and the per-job floor over traced units of work
    * (requests or batches). `units`: (group id, wall ms, exec-phase ms).
    * The floor, measured rather than fitted: `floor.ms_per_job` is the
    * jobs' wall time not spent running tasks ([[JobTiming.overheadMs]])
    * per job; `floor.ms_per_request` the mean wall time of a unit outside
    * all of its jobs (driver-side building, planning, hand-offs between
    * jobs, release).
    */
  def exec(units: Seq[(String, Double, Double)], tracer: Tracer, cores: Int,
      execPhases: Set[String], floor: Boolean = true): Map[String, Double] = {
    val per = units.map { case (id, wall, execMs) =>
      val phases = tracer.listener.forGroup(id)
      val total = new ExecCounters
      phases.values.foreach(total += _)
      val execTask = phases.collect { case (p, c) if execPhases(p) => c.taskRunMs }.sum
      (id, wall, execMs, phases, total, execTask)
    }
    def m(f: ExecCounters => Double) = Stats.mean(per.map(p => f(p._5)))
    val jobs = per.map(p => tracer.listener.jobTimings(p._1))
    val allJobs = jobs.flatten
    val execWall = per.map(_._3).sum
    Map(
      "exec_jobs" -> Stats.mean(per.map(_._4.collect {
        case (ph, c) if execPhases(ph) => c.jobs.toDouble }.sum)),
      "stages" -> m(_.stages), "tasks" -> m(_.tasks), "task_run_ms" -> m(_.taskRunMs),
      "task_cpu_ms" -> m(_.taskCpuNs / 1e6), "gc_ms" -> m(_.gcMs),
      "input_bytes" -> m(_.inputBytes), "shuffle_read_bytes" -> m(_.shuffleReadBytes),
      "shuffle_write_bytes" -> m(_.shuffleWriteBytes), "spill_bytes" -> m(_.spillBytes),
      "core_busy_ratio" -> (if (execWall > 0) per.map(_._6).sum / (execWall * cores) else 0.0),
      "floor.ms_per_request" -> (if (floor) Stats.mean(per.zip(jobs).map { case (p, js) =>
        p._2 - JobTiming.coveredMs(js) }) else 0.0),
      "floor.ms_per_job" -> (if (floor && allJobs.nonEmpty)
        allJobs.map(_.overheadMs(cores)).sum / allJobs.size else 0.0))
  }

  /** Traced minus untraced wall, paired by key (query name or batch
    * size), averaged over keys that have both.
    */
  def overhead(samples: Seq[(String, Boolean, Double)]): Double = {
    val diffs = samples.groupBy(_._1).values.flatMap { s =>
      val (t, u) = s.partition(_._2)
      if (t.nonEmpty && u.nonEmpty) Some(Stats.mean(t.map(_._3)) - Stats.mean(u.map(_._3)))
      else None
    }.toSeq
    Stats.mean(diffs)
  }

  /** Share of the root spans' time that their child spans account for. */
  def coverage(spans: Seq[Span]): Double = {
    val (roots, kids) = spans.partition(_.parent.isEmpty)
    val total = roots.map(_.ms).sum
    if (total > 0) kids.map(_.ms).sum / total else 0.0
  }

  def queries(timed: Seq[QueryWorkload.Outcome], tracer: Tracer, cores: Int)
      : Seq[(String, Double, String)] = {
    val traced = timed.filter(_.traced)
    def wall(group: Seq[String]) = Stats.mean(traced.filter(o => group.contains(o.query)).map(_.wallMs))
    val byPack = traced.filterNot(o => QueryWorkload.Targets.contains(o.query)).groupBy(o => QueryWorkload.packOf(o.query)).toSeq.flatMap { case (p, os) =>
      Seq(s"pack.$p.build_ms" -> Stats.mean(os.map(_.buildMs)),
        s"pack.$p.plan_ms" -> Stats.mean(os.map(_.planMs)),
        s"pack.$p.exec_ms" -> Stats.mean(os.map(_.execMs)),
        s"pack.$p.jobs" -> Stats.mean(os.map(o =>
          tracer.listener.forGroup(o.id).values.map(_.jobs.toDouble).sum)))
    }
    report(Map(
      "build_ms" -> Stats.mean(traced.map(_.buildMs)),
      "build_jobs" -> Stats.mean(traced.map(o =>
        tracer.listener.forGroup(o.id).get("build").map(_.jobs.toDouble).getOrElse(0.0))),
      "plan_ms" -> Stats.mean(traced.map(_.planMs)),
      "exec_ms" -> Stats.mean(traced.map(_.execMs)),
      "release_ms" -> Stats.mean(traced.map(_.releaseMs)),
      "cached_mb_at_release" -> Stats.mean(traced.map(_.cachedMb)),
      "memo_entries_at_release" -> Stats.mean(traced.map(_.memoEntries.toDouble)),
      "span_coverage_ratio" -> coverage(tracer.spans.toSeq),
      "group.reference.wall_ms" -> wall(QueryWorkload.Reference),
      "group.curation.wall_ms" -> wall(QueryWorkload.Curation),
      "group.targets.wall_ms" -> wall(QueryWorkload.Targets),
      "trace_overhead_ms" -> overhead(timed.map(o => (o.query, o.traced, o.wallMs))))
      ++ byPack
      ++ exec(traced.map(o => (o.id, o.wallMs, o.execMs)), tracer, cores, Set("exec")))
  }
}
