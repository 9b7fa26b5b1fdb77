package perfbench

import Stats.{covered, minus, selfTime, Iv}

/** Per-layer metrics of a traced run, per traced warm pass unless a name
  * says otherwise. Every query's wall time splits into disjoint parts:
  * `exec` (some Spark job running), `plan` (Catalyst analysis,
  * optimization or planning, outside jobs), `streaming` (a stream run,
  * outside jobs and planning), `core` (the rest of the query function's
  * own time) and a remainder (the rest of the action: codegen, result
  * handling, commit). The parts add up to the traced pass time. */
object Layers {
  type Metric = (String, Double, String)

  def metrics(t: Trace, w: Workloads.Workload, cold: Main.Pass,
      warm: Seq[Main.Pass], cgCold: Probes.Codegen, cgWarm: Probes.Codegen,
      fallbacks: Long, cores: Int, nestingProblems: Int): Seq[Metric] = {
    val traced = warm.filter(_.traced)
    val untraced = warm.filterNot(_.traced)
    val n = traced.size.toDouble
    val execs = traced.flatMap(_.execs)
    val jobs = t.jobs.toSeq.map(j => j -> Iv(j.start, j.endOrStart))
    val stageJob = t.jobs.toSeq.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val streams = t.streamIntervals.map(_._2)
    def in(iv: Iv, at: Double) = iv.start <= at && at < iv.end

    final case class Q(exec: Double, plan: Double, stream: Double, core: Double,
        rest: Double, construct: Double, constructJobs: Int, jobs: Int,
        phases: Map[String, Double], actions: Int, taskGap: Double)

    val perQuery = execs.map { e =>
      val q = Iv(e.start, e.end)
      val c = Iv(e.start, e.constructed)
      val qJobs = jobs.filter { case (_, iv) => in(q, iv.start) }
      val j = qJobs.map(_._2.clip(q))
      val acts = t.actions.toSeq.filter(a => a.phases.nonEmpty &&
        in(q, a.phases.map(_._2.start).min))
      val p = acts.flatMap(_.phases.map(_._2.clip(q)))
      val s = streams.filter(iv => in(c, iv.start)).map(_.clip(c))
      val jobIds = qJobs.map(_._1.id).toSet
      val taskIvs = t.tasks.toSeq.filter(k => stageJob.get(k.stage).exists(jobIds))
        .map(k => Iv(k.start, k.end).clip(q))
      val exec = covered(j)
      val plan = covered(minus(p, j))
      val stream = covered(minus(s, j ++ p))
      val core = selfTime(c, j ++ p ++ s)
      Q(exec, plan, stream, core, q.length - exec - plan - stream - core,
        c.length - covered(s),
        qJobs.count { case (_, iv) => in(c, iv.start) && !s.exists(in(_, iv.start)) },
        qJobs.size,
        acts.flatMap(_.phases).groupMapReduce(_._1)(_._2.length)(_ + _),
        acts.size, q.length - covered(taskIvs)) -> e
    }
    def per(f: Q => Double): Double = perQuery.map(x => f(x._1)).sum / n
    def perS(f: Q => Double): Double = per(f) / 1000
    val wallMs = execs.map(e => e.end - e.start).sum

    val windows = execs.map(e => Iv(e.start, e.end))
    val jobIdsIn = jobs.filter { case (_, iv) => windows.exists(in(_, iv.start)) }
      .map(_._1.id).toSet
    val tasks = t.tasks.toSeq.filter(k => stageJob.get(k.stage).exists(jobIdsIn))
    val stages = t.stages.toSeq.filter(s => stageJob.get(s.id).exists(jobIdsIn))
    def mb(f: Trace.Task => Long) = tasks.map(f).sum / 1048576.0 / n

    val runs = t.streamIntervals.filter { case (_, iv) => windows.exists(in(_, iv.start)) }
    val runIds = runs.map(_._1).toSet
    val batches = t.batches.toSeq.filter(b => runIds(b.run))
    def dur(keys: String*) = batches.map(b => keys.map(b.durations.getOrElse(_, 0L)).sum).sum / n
    val trig = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val added = batches.map(_.durations.getOrElse("addBatch", 0L)).sum.toDouble
    val lastState = batches.groupBy(_.run).values.map(_.maxBy(_.id).stateRows).sum

    val consumers = perQuery.filter(x => w.memoConsumers(x._2.query))
    val coreS = perS(_.core); val planS = perS(_.plan); val execS = perS(_.exec)
    val streamS = perS(_.stream); val restS = perS(_.rest)
    val tracedWall = traced.map(_.wallS).sum / n
    val untracedWall = Stats.median(untraced.map(_.wallS))
    val episodes = warm.flatMap(_.execs).count { e =>
      val p = e.probes
      graft.Bench.classifyEpisode(e.wallS, p.cpuMs, p.gcMs, p.safepointMs, p.majflt).isDefined
    }
    val heaps = warm.map(_.heapMb)

    Seq(
      ("core.construct_s", perS(_.construct), "s"),
      ("core.construct_jobs", per(_.constructJobs), "count"),
      ("core.construct_frac", perQuery.map(_._1.construct).sum / math.max(wallMs, 1e-9), "ratio"),
      ("core.cached_frames", execs.map(_.cachedFrames).sum / n, "count"),
      ("core.self_s", coreS, "s"),
      ("plan.analysis_s", perS(_.phases.getOrElse("analysis", 0.0)), "s"),
      ("plan.optimization_s", perS(_.phases.getOrElse("optimization", 0.0)), "s"),
      ("plan.planning_s", perS(_.phases.getOrElse("planning", 0.0)), "s"),
      ("plan.actions", per(_.actions), "count"),
      ("plan.self_s", planS, "s"),
      ("codegen.compiles", cgWarm.compiles / warm.size.toDouble, "count"),
      ("codegen.compile_s", cgWarm.compileMs / 1000 / warm.size, "s"),
      ("codegen.fallbacks", fallbacks.toDouble, "count"),
      ("codegen.cold_compiles", cgCold.compiles.toDouble, "count"),
      ("codegen.cold_compile_s", cgCold.compileMs / 1000, "s"),
      ("exec.jobs", per(_.jobs), "count"),
      ("exec.stages", stages.size / n, "count"),
      ("exec.tasks", tasks.size / n, "count"),
      ("exec.task_s", tasks.map(_.runMs).sum / 1000.0 / n, "s"),
      ("exec.task_cpu_s", tasks.map(_.cpuNs).sum / 1e9 / n, "s"),
      ("exec.task_gc_s", tasks.map(_.gcMs).sum / 1000.0 / n, "s"),
      ("exec.busy_frac", tasks.map(_.runMs).sum / math.max(wallMs * cores, 1e-9), "ratio"),
      ("exec.driver_gap_s", perS(_.taskGap), "s"),
      ("exec.input_mb", mb(_.inputB), "MB"),
      ("exec.shuffle_read_mb", mb(_.shReadB), "MB"),
      ("exec.shuffle_write_mb", mb(_.shWriteB), "MB"),
      ("exec.spill_mb", mb(_.spillB), "MB"),
      ("exec.result_mb", mb(_.resultB), "MB"),
      ("exec.self_s", execS, "s"),
      ("streaming.queries", runs.size / n, "count"),
      ("streaming.batches", batches.size / n, "count"),
      ("streaming.run_s", runs.map(_._2.length).sum / 1000 / n, "s"),
      ("streaming.batch_p50_ms", if (trig.isEmpty) 0.0 else Stats.median(trig), "ms"),
      ("streaming.batch_p90_ms", if (trig.isEmpty) 0.0
        else Stats.quantile(trig, Stats.tailPercentile(trig.size) / 100.0), "ms"),
      ("streaming.plan_ms", dur("queryPlanning"), "ms"),
      ("streaming.offset_ms", dur("latestOffset", "getBatch", "getOffset",
        "setOffsetRange", "getEndOffset", "commitOffsets"), "ms"),
      ("streaming.wal_ms", dur("walCommit"), "ms"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms"),
      ("streaming.state_commit_ms", batches.map(_.stateCommitMs).sum / n, "ms"),
      ("streaming.state_rows", lastState / n, "rows"),
      ("streaming.fixed_frac", if (trig.sum == 0) 0.0 else (trig.sum - added) / trig.sum, "ratio"),
      ("streaming.self_s", streamS, "s"),
      ("memo.cold_minus_warm_s", cold.wallS - untracedWall, "s"),
      ("memo.consumer_construct_jobs", consumers.map(_._1.constructJobs).sum / n, "count"),
      ("memo.heap_growth_mb_per_pass",
        if (heaps.size < 2) 0.0 else (heaps.last - heaps.head) / (heaps.size - 1), "MB"),
      ("jvm.gc_s", execs.map(_.probes.gcMs).sum / 1000.0 / n, "s"),
      ("jvm.safepoint_s", execs.map(_.probes.safepointMs).sum / 1000.0 / n, "s"),
      ("host.majflt", execs.map(_.probes.majflt).sum / n, "count"),
      ("host.cpu_s", execs.map(_.probes.cpuMs).sum / 1000.0 / n, "s"),
      ("host.steal_s", execs.map(_.probes.stealMs).sum / 1000.0 / n, "s"),
      ("host.episodes", episodes.toDouble, "count"),
      ("trace.overhead_frac",
        Stats.median(traced.map(_.wallS)) / untracedWall - 1, "ratio"),
      ("trace.warm_pass_s", tracedWall, "s"),
      ("trace.untraced_warm_pass_s", untracedWall, "s"),
      ("trace.remainder_s", restS, "s"),
      ("trace.nesting_errors", nestingProblems.toDouble, "count"))
  }
}
