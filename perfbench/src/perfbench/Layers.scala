package perfbench

/** Turns a traced run's spans and counters into per-layer metrics.
  *
  * Batch figures are "per pass": for each query, the median over its
  * traced samples, summed over the workload's queries, the same way
  * `suite_s` sums median walls. Stream figures sum over the pipeline
  * phases. */
object Layers {
  private val level = Map("sample" -> 0, "build" -> 1, "action" -> 1,
    "batch" -> 1, "sql_exec" -> 2, "job" -> 3, "stage" -> 4)
  private def overlaps(a: Span, b: Span) = a.start < b.end && b.start < a.end

  /** Self time per span kind for one sample: each span minus the union
    * of the spans one level below it. A job that no SQL execution
    * covers counts as a direct child of its build, action or batch. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val byLevel = spans.groupBy(s => level.getOrElse(s.kind, -1))
    def at(l: Int) = byLevel.getOrElse(l, Nil)
    val orphanJobs = at(3).filterNot(j => at(2).exists(overlaps(j, _)))
    spans.filter(s => level.contains(s.kind)).groupBy(_.kind).map { case (kind, ss) =>
      val l = level(kind)
      kind -> ss.map { s =>
        val below = at(l + 1) ++ (if (l == 1) orphanJobs else Nil)
        Trace.selfMs(s, below.filter(overlaps(s, _)))
      }.sum
    }
  }

  /** Everything the trace knows about one sample, flattened. */
  def sampleFigures(trace: Trace, sample: Span, spans: Seq[Span]): Map[String, Double] = {
    val c = trace.countersOf(sample.sample)
    val jobs = spans.filter(_.kind == "job")
    val build = spans.find(_.kind == "build")
    val union = Trace.union(jobs.map(j =>
      (math.max(j.start, sample.start), math.min(j.end, sample.end))).filter(p => p._2 > p._1))
    val stages = spans.filter(_.kind == "stage")
    Map(
      "wall_ms" -> sample.ms,
      "build_ms" -> build.map(_.ms).getOrElse(0.0),
      "build_jobs" -> build.map(b => jobs.count(j => j.start < b.end).toDouble).getOrElse(0.0),
      "gap_ms" -> (sample.ms - union),
      "jobs" -> jobs.size.toDouble,
      "stages" -> stages.size.toDouble,
      "tasks" -> c.tasks.toDouble,
      "job_union_ms" -> union,
      "executor_run_ms" -> c.runMs,
      "executor_cpu_ms" -> c.cpuNs / 1e6,
      "gc_ms" -> c.gcMs,
      "input_bytes" -> c.inputBytes,
      "shuffle_read_bytes" -> c.shuffleRead,
      "shuffle_write_bytes" -> c.shuffleWrite,
      "spill_bytes" -> c.spill,
      "task_failures" -> c.taskFailures.toDouble,
      "task_skew" -> (1.0 +: stages.map(_.attrs.getOrElse("skew", 1.0))).max,
      "sql_executions" -> spans.count(_.kind == "sql_exec").toDouble,
      "aqe_updates" -> c.aqeUpdates.toDouble,
      "actions" -> c.phaseMs("actions"),
      "parsing_ms" -> c.phaseMs("parsing"),
      "analysis_ms" -> c.phaseMs("analysis"),
      "optimization_ms" -> c.phaseMs("optimization"),
      "planning_ms" -> c.phaseMs("planning"),
    ) ++ selfMs(spans).map { case (k, v) => s"self_${k}_ms" -> v }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-query medians of every figure over the traced samples. */
  def perQuery(trace: Trace, samples: Seq[(String, Span)]): Seq[(String, Map[String, Double])] = {
    val bySample = trace.all.groupBy(_.sample)
    samples.groupBy(_._1).toSeq.sortBy(_._1).map { case (q, ss) =>
      val figs = ss.map { case (_, s) => sampleFigures(trace, s, bySample.getOrElse(s.sample, Nil)) }
      val keys = figs.flatMap(_.keys).distinct
      q -> (keys.map(k => k -> median(figs.map(_.getOrElse(k, 0.0)))).toMap +
        ("samples" -> ss.size.toDouble))
    }
  }

  /** The layer metrics shared by every workload: tables, operators,
    * plans, driver, execution. `jvm` and `stream`/`state` are added by
    * the caller. */
  def common(perQ: Seq[(String, Map[String, Double])], cores: Int,
      tablesLoadS: Double): Seq[(String, Double, String)] = {
    def sum(k: String) = perQ.map(_._2.getOrElse(k, 0.0)).sum
    def max(k: String) = (1.0 +: perQ.map(_._2.getOrElse(k, 1.0))).max
    val wall = sum("wall_ms")
    val union = sum("job_union_ms")
    Seq(
      ("tables.load_s", tablesLoadS, "s"),
      ("operators.build_s", sum("build_ms") / 1000, "s"),
      ("operators.build_jobs", sum("build_jobs"), "count"),
      ("plans.parsing_ms", sum("parsing_ms"), "ms"),
      ("plans.analysis_ms", sum("analysis_ms"), "ms"),
      ("plans.optimization_ms", sum("optimization_ms"), "ms"),
      ("plans.planning_ms", sum("planning_ms"), "ms"),
      ("plans.sql_executions", sum("sql_executions"), "count"),
      ("plans.aqe_updates", sum("aqe_updates"), "count"),
      ("driver.gap_s", sum("gap_ms") / 1000, "s"),
      ("driver.gap_share", if (wall > 0) sum("gap_ms") / wall else 0.0, "ratio"),
      ("exec.jobs", sum("jobs"), "count"),
      ("exec.stages", sum("stages"), "count"),
      ("exec.tasks", sum("tasks"), "count"),
      ("exec.job_union_s", union / 1000, "s"),
      ("exec.executor_run_s", sum("executor_run_ms") / 1000, "s"),
      ("exec.executor_cpu_s", sum("executor_cpu_ms") / 1000, "s"),
      ("exec.cpu_util", if (union > 0) sum("executor_cpu_ms") / (union * cores) else 0.0, "ratio"),
      ("exec.gc_s", sum("gc_ms") / 1000, "s"),
      ("exec.input_bytes", sum("input_bytes"), "bytes"),
      ("exec.shuffle_read_bytes", sum("shuffle_read_bytes"), "bytes"),
      ("exec.shuffle_write_bytes", sum("shuffle_write_bytes"), "bytes"),
      ("exec.spill_bytes", sum("spill_bytes"), "bytes"),
      ("exec.task_failures", sum("task_failures"), "count"),
      ("exec.task_skew", max("task_skew"), "ratio"),
      ("self.harness_s", sum("self_sample_ms") / 1000, "s"),
      ("self.build_s", sum("self_build_ms") / 1000, "s"),
      ("self.action_s", sum("self_action_ms") / 1000, "s"),
      ("self.batch_s", sum("self_batch_ms") / 1000, "s"),
      ("self.sql_exec_s", sum("self_sql_exec_ms") / 1000, "s"),
      ("self.job_s", sum("self_job_ms") / 1000, "s"),
      ("self.stage_s", sum("self_stage_ms") / 1000, "s"),
    )
  }
}
