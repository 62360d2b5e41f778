package perfbench

/** Per-layer metrics and per-query self times, derived from the spans of
  * the traced passes. Layer metrics are reported per pass (the mean over
  * the traced passes); per-query records come from the first traced pass.
  *
  * Each query's wall time splits into four disjoint parts, computed on the
  * query's own timeline:
  *  - `job_cov_s`: time when at least one of its Spark jobs was running;
  *  - `catalyst_self_s`: time in a Catalyst phase (analysis, optimization,
  *    planning) while no job ran;
  *  - `build_self_s`: time inside the builder call in neither of those;
  *  - `driver_gap_s`: time inside the action in neither of those.
  * `residual_s` is the wall time those four leave unexplained, which is
  * the runner's own bookkeeping between the two calls. */
object Layers {
  type Iv = (Double, Double)

  private def merge(iv: Seq[Iv]): List[Iv] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: t, (a, b)) if a <= e => (s, math.max(e, b)) :: t
      case (acc, x) => x :: acc
    }.reverse

  private def len(iv: Seq[Iv]): Double = merge(iv).map(x => x._2 - x._1).sum

  private def clip(iv: Seq[Iv], lo: Double, hi: Double): Seq[Iv] =
    iv.map(x => (math.max(x._1, lo), math.min(x._2, hi)))

  /** Length of `a` not covered by `cover`. */
  private def minus(a: Iv, cover: Seq[Iv]): Double =
    (a._2 - a._1) - len(clip(cover, a._1, a._2))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def report(spans: Seq[Span], w: Workload, passes: Seq[(Long, Seq[Main.Exec])],
      sessionS: Double, pinS: Double, warmupS: Double, tablesCacheMb: Double,
      overheadS: Double): Map[String, Any] = {
    val kids = spans.groupBy(_.parent)
    def under(id: Long, kind: String): Seq[Span] = kids.getOrElse(id, Nil).filter(_.kind == kind)

    def queryRecord(q: Span): Map[String, Any] = {
      val build = under(q.id, "build").headOption
      val action = under(q.id, "action").headOption
      val owners = (build ++ action).toSeq
      val jobs = owners.flatMap(o => under(o.id, "job"))
      val stages = jobs.flatMap(j => under(j.id, "stage"))
      val cats = owners.flatMap(o => under(o.id, "catalyst"))
      val batches = owners.flatMap(o => under(o.id, "batch"))
      val jobIv = clip(jobs.map(j => (j.start, j.end)), q.start, q.end)
      val catIv = clip(cats.flatMap(c => Seq("analysis", "optimization", "planning").flatMap(k =>
        c.attrs.get(k + "_from").map(_ -> c.attrs(k + "_to")))), q.start, q.end)
      val jobCov = len(jobIv)
      val catSelf = len(jobIv ++ catIv) - jobCov
      val buildSelf = build.map(b => minus((b.start, b.end), jobIv ++ catIv)).getOrElse(0.0)
      val gap = action.map(a => minus((a.start, a.end), jobIv ++ catIv)).getOrElse(0.0)
      def sumS(xs: Seq[Span], k: String) = xs.map(_.attrs.getOrElse(k, 0.0)).sum
      def maxPerStream(k: String) = batches.map(_.attrs.getOrElse(k, 0.0)).maxOption.getOrElse(0.0)
      Map(
        "name" -> q.name,
        "wall_s" -> q.dur / 1e3,
        "build_s" -> build.map(_.dur / 1e3).getOrElse(0.0),
        "build_self_s" -> buildSelf / 1e3,
        "catalyst_self_s" -> catSelf / 1e3,
        "job_cov_s" -> jobCov / 1e3,
        "driver_gap_s" -> gap / 1e3,
        "residual_s" -> (q.dur - buildSelf - catSelf - jobCov - gap) / 1e3,
        "fingerprint" -> f"${cats.sortBy(_.start).map(_.attrs("fingerprint").toLong).hashCode}%08x",
        "jobs" -> jobs.size,
        "build_jobs" -> build.map(b => under(b.id, "job").size).getOrElse(0),
        "checkpoint_jobs" -> jobs.count(_.attrs.getOrElse("checkpoint", 0.0) > 0),
        "stages" -> stages.size,
        "tasks" -> sumS(stages, "tasks"),
        "failed_tasks" -> sumS(stages, "failed_tasks"),
        "task_s" -> sumS(stages, "task_s"),
        "task_cpu_s" -> sumS(stages, "task_cpu_s"),
        "gc_s" -> sumS(stages, "gc_s"),
        "shuffle_write_mb" -> sumS(stages, "shuffle_write_mb"),
        "shuffle_read_mb" -> sumS(stages, "shuffle_read_mb"),
        "spill_mb" -> sumS(stages, "spill_mb"),
        "analysis_s" -> sumS(cats, "analysis_s"),
        "optimization_s" -> sumS(cats, "optimization_s"),
        "planning_s" -> sumS(cats, "planning_s"),
        "exchanges" -> sumS(cats, "exchanges"),
        "bhj" -> sumS(cats, "bhj"),
        "shj" -> sumS(cats, "shj"),
        "smj" -> sumS(cats, "smj"),
        "bnlj" -> sumS(cats, "bnlj"),
        "scan_s" -> sumS(cats, "scan_s"),
        "scan_rows" -> sumS(cats, "scan_rows"),
        "scan_mb" -> sumS(cats, "scan_mb"),
        "batches" -> batches.size,
        "batch_s" -> batches.map(_.attrs("batch_s")),
        "stream_plan_s" -> sumS(batches, "plan_s"),
        "stream_add_batch_s" -> sumS(batches, "add_batch_s"),
        "stream_commit_s" -> sumS(batches, "commit_s"),
        "stream_input_rows" -> sumS(batches, "input_rows"),
        "stream_state_rows" -> maxPerStream("state_rows"),
        "stream_state_mb" -> maxPerStream("state_mb"),
        "stream_state_commit_s" -> sumS(batches, "state_commit_s"))
    }

    val perPass = passes.map { case (passId, execs) =>
      val qs = under(passId, "query").sortBy(_.start).map(queryRecord)
      (qs, execs)
    }
    def num(r: Map[String, Any], k: String): Double = r(k) match {
      case n: Int => n.toDouble
      case d: Double => d
    }
    def perPassMean(f: (Seq[Map[String, Any]], Seq[Main.Exec]) => Double): Double =
      perPass.map { case (qs, ex) => f(qs, ex) }.sum / math.max(1, perPass.size)
    def total(k: String): Double = perPassMean((qs, _) => qs.map(num(_, k)).sum)
    def step(name: String, f: Main.Exec => Double): Double = perPassMean { (_, ex) =>
      w.steps.zip(ex).collect { case (s, e) if s.name == name => f(e) }.sum
    }

    val metrics: Map[String, Double] = Map(
      "setup.session_s" -> sessionS,
      "setup.pin_s" -> pinS,
      "setup.warmup_s" -> warmupS,
      "ops.build_s" -> total("build_s"),
      "ops.build_jobs" -> total("build_jobs"),
      "ops.checkpoint_jobs" -> total("checkpoint_jobs"),
      "ops.cache_blocks" -> perPassMean((_, ex) => ex.map(_.cacheBlocks.toDouble).sum),
      "catalyst.analysis_s" -> total("analysis_s"),
      "catalyst.optimize_s" -> total("optimization_s"),
      "catalyst.plan_s" -> total("planning_s"),
      "catalyst.exchanges" -> total("exchanges"),
      "catalyst.bhj" -> total("bhj"),
      "catalyst.shj" -> total("shj"),
      "catalyst.smj" -> total("smj"),
      "catalyst.bnlj" -> total("bnlj"),
      "exec.jobs" -> total("jobs"),
      "exec.stages" -> total("stages"),
      "exec.tasks" -> total("tasks"),
      "exec.failed_tasks" -> total("failed_tasks"),
      "exec.task_s" -> total("task_s"),
      "exec.task_cpu_s" -> total("task_cpu_s"),
      "exec.gc_s" -> total("gc_s"),
      "exec.shuffle_write_mb" -> total("shuffle_write_mb"),
      "exec.shuffle_read_mb" -> total("shuffle_read_mb"),
      "exec.spill_mb" -> total("spill_mb"),
      "exec.driver_gap_s" -> total("driver_gap_s"),
      "Tables.scan_s" -> total("scan_s"),
      "Tables.scan_rows" -> total("scan_rows"),
      "Tables.scan_mb" -> total("scan_mb"),
      "Tables.cache_mb" -> tablesCacheMb,
      "elb.parse_s" -> step("LogParser.requests", _.latency),
      "elb.parse_rows" -> step("LogParser.requests", _.rows.toDouble),
      "Sessionize.sessions_s" -> step("Sessionize.sessions", _.latency),
      "stream.batches" -> total("batches"),
      "stream.batch_p50_s" -> median(perPass.flatMap(_._1.flatMap(_("batch_s").asInstanceOf[Seq[Double]]))),
      "stream.plan_s" -> total("stream_plan_s"),
      "stream.add_batch_s" -> total("stream_add_batch_s"),
      "stream.commit_s" -> total("stream_commit_s"),
      "stream.input_rows" -> total("stream_input_rows"),
      "stream.state_rows" -> total("stream_state_rows"),
      "stream.state_mb" -> total("stream_state_mb"),
      "stream.state_commit_s" -> total("stream_state_commit_s"),
      "trace.overhead_s" -> overheadS,
      "trace.max_residual_s" -> perPass.flatMap(_._1.map(r => math.abs(num(r, "residual_s")))).maxOption.getOrElse(0.0))
    Map("metrics" -> metrics,
      "queries" -> perPass.headOption.map(_._1.map(_ - "batch_s")).getOrElse(Nil))
  }
}
