package perfbench

/** Per-layer metrics of a traced phase, named `<layer>.<op>.<quantity>`.
  * Every workload reports the same list (an op the workload never calls
  * reads 0), so a layer that should stay flat on a workload can be seen
  * doing so. Time and byte quantities are means per call.
  */
object Layers {
  /** Ops that run Spark jobs, with the quantities that are not zero by
    * construction (reads write no files).
    */
  private val Reads = Set("compaction.lookup", "compaction.changed_since", "catalog.sql_point")
  val JobOps: Seq[String] = Seq("compaction.merge", "compaction.compact",
    "compaction.lookup", "compaction.changed_since", "catalog.sql_point",
    "replicator.sync", "cdc_engine.full", "cdc_engine.incremental",
    "cdc_engine.delta")
  private val JobQuantities: Seq[(String, String, String)] = Seq(
    ("calls", "count", "higher"), ("failed", "count", "lower"),
    ("wall_s", "s", "lower"), ("jobs", "count", "lower"),
    ("job_wall_s", "s", "lower"), ("outside_jobs_s", "s", "lower"),
    ("plan_s", "s", "lower"), ("sched_wait_s", "s", "lower"),
    ("task_s", "s", "lower"), ("bytes_read", "B", "lower"),
    ("bytes_written", "B", "lower"), ("bytes_shuffled", "B", "lower"))
  /** Counts an op reports about its own result, mean per call. */
  private val OpCounts: Seq[(String, String, String, String)] = Seq(
    ("compaction.merge", "rows_written_per_changed_row", "ratio", "lower"),
    ("compaction.merge", "touched_buckets", "count", "lower"),
    ("compaction.merge", "feed_rows", "count", "lower"),
    ("replicator.sync", "batches_applied", "count", "higher"),
    ("cdc_engine.full", "rows_exported", "count", "higher"),
    ("cdc_engine.full", "csv_bytes", "B", "lower"),
    ("cdc_engine.incremental", "rows_exported", "count", "higher"),
    ("cdc_engine.incremental", "csv_bytes", "B", "lower"),
    ("cdc_engine.delta", "rows_exported", "count", "higher"),
    ("cdc_engine.delta", "csv_bytes", "B", "lower"),
    ("txlog.latest", "manifests", "count", "lower"))
  /** End-to-end slots whose traced-minus-untraced difference is reported. */
  val OverheadOf: Seq[(String, String, String)] = Seq(
    ("op1_p50_ms", "ms", "lower"), ("op2_p50_ms", "ms", "lower"),
    ("op3_p50_ms", "ms", "lower"), ("throughput_per_s", "1/s", "higher"))

  /** (name, unit, better) of every per-layer metric, in output order. */
  val All: Seq[(String, String, String)] =
    JobOps.flatMap(op => JobQuantities.collect {
      case (q, u, b) if !(q == "bytes_written" && Reads(op)) => (s"$op.$q", u, b)
    }) ++
    Seq(("watermark_store.upsert.calls", "count", "higher"),
      ("watermark_store.upsert.failed", "count", "lower"),
      ("watermark_store.upsert.wall_s", "s", "lower"),
      ("txlog.latest.wall_s", "s", "lower")) ++
    OpCounts.map { case (op, q, u, b) => (s"$op.$q", u, b) } ++
    Seq(("spark.cpu_busy", "ratio", "higher"), ("spark.gc_s", "s", "lower"),
      ("spark.unattributed_share", "ratio", "lower")) ++
    OverheadOf.map { case (k, u, b) => (s"trace_overhead.$k", u, b) }

  /** Union length (ms) of `[s, e]` intervals clipped to `[lo, hi]`. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** One op's totals over its traced calls. */
  final case class OpTotals(calls: Int, failed: Int, wall: Double, jobs: Int,
      jobWall: Double, plan: Double, schedWait: Double, task: Double,
      bytesRead: Double, bytesWritten: Double, bytesShuffled: Double) {
    def outside: Double = wall - jobWall
    def per(x: Double): Double = if (calls == 0) 0.0 else x / calls
  }

  def totals(spans: Seq[Span], rec: Recorder): OpTotals = {
    val jobsBy = rec.jobsBySpan
    val planBy = rec.planMsBySpan
    var t = OpTotals(spans.size, spans.count(!_.ok), 0, 0, 0, 0, 0, 0, 0, 0, 0)
    spans.foreach { s =>
      val js = jobsBy.getOrElse(s.id, Nil)
      // job clock is ms; clip to the span so job wall never exceeds wall
      val jw = math.min(unionMs(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs) / 1e3, s.wallS)
      t = t.copy(wall = t.wall + s.wallS, jobs = t.jobs + js.size,
        jobWall = t.jobWall + jw,
        plan = t.plan + planBy.getOrElse(s.id, 0L) / 1e3,
        schedWait = t.schedWait + js.filter(_.firstTaskMs != Long.MaxValue)
          .map(j => math.max(0L, j.firstTaskMs - j.startMs)).sum / 1e3,
        task = t.task + js.map(_.taskMs).sum / 1e3,
        bytesRead = t.bytesRead + js.map(_.bytesRead).sum,
        bytesWritten = t.bytesWritten + js.map(_.bytesWritten).sum,
        bytesShuffled = t.bytesShuffled + js.map(_.bytesShuffled).sum)
    }
    t
  }

  /** Per-layer values of a traced phase lasting `seconds` on `cores`. */
  def metrics(ctx: Ctx, phase: String, rec: Recorder, seconds: Double,
      cores: Int, overhead: Map[String, Double]): Map[String, Double] = {
    def opSpans(op: String) = ctx.spans(phase, op)
    val byOp = (JobOps ++ Seq("watermark_store.upsert", "txlog.latest"))
      .map(op => op -> totals(opSpans(op), rec)).toMap
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    byOp.foreach { case (op, t) =>
      m(s"$op.calls") = t.calls
      m(s"$op.failed") = t.failed
      m(s"$op.wall_s") = t.per(t.wall)
      m(s"$op.jobs") = t.per(t.jobs)
      m(s"$op.job_wall_s") = t.per(t.jobWall)
      m(s"$op.outside_jobs_s") = t.per(t.outside)
      m(s"$op.plan_s") = t.per(t.plan)
      m(s"$op.sched_wait_s") = t.per(t.schedWait)
      m(s"$op.task_s") = t.per(t.task)
      m(s"$op.bytes_read") = t.per(t.bytesRead)
      m(s"$op.bytes_written") = t.per(t.bytesWritten)
      m(s"$op.bytes_shuffled") = t.per(t.bytesShuffled)
    }
    OpCounts.foreach { case (op, q, _, _) =>
      val ok = opSpans(op).filter(_.ok)
      m(s"$op.$q") = if (ok.isEmpty) 0.0 else ok.map(_.counts.getOrElse(q, 0.0)).sum / ok.size
    }
    val leaf = byOp.values
    val wall = leaf.map(_.wall).sum
    m("spark.cpu_busy") = rec.totalCpuNs / 1e9 / (seconds * cores)
    m("spark.gc_s") = rec.gcMs / 1e3
    m("spark.unattributed_share") =
      if (wall == 0) 0.0 else leaf.map(t => math.max(0.0, t.outside - t.plan)).sum / wall
    OverheadOf.foreach { case (k, _, _) =>
      m(s"trace_overhead.$k") = overhead.getOrElse(k, 0.0)
    }
    All.map { case (name, _, _) => name -> m.getOrElse(name, 0.0) }.toMap
  }

  /** Human-readable split of every called op, plus the accounting check
    * `job_wall_s + outside_jobs_s == wall_s` and the dominant layer.
    */
  def report(ctx: Ctx, phase: String, rec: Recorder): Unit = {
    val ops = JobOps ++ Seq("watermark_store.upsert", "txlog.latest")
    val rows = ops.map(op => op -> totals(ctx.spans(phase, op), rec)).filter(_._2.calls > 0)
    ctx.say(f"layer split ($phase): op calls wall_s job_wall_s outside_jobs_s plan_s unattributed_s task_s jobs")
    rows.foreach { case (op, t) =>
      ctx.say(f"  $op%-26s ${t.calls}%5d ${t.wall}%9.3f ${t.jobWall}%9.3f ${t.outside}%9.3f ${t.plan}%8.3f ${math.max(0.0, t.outside - t.plan)}%9.3f ${t.task}%9.3f ${t.jobs}%6d")
    }
    val gap = rows.map { case (_, t) => math.abs(t.jobWall + t.outside - t.wall) }.foldLeft(0.0)(math.max)
    ctx.say(f"accounting: max |job_wall_s + outside_jobs_s - wall_s| over ops = $gap%.2e s; jobs without a span: ${rec.unattributedJobs}")
    if (rows.nonEmpty) {
      val total = rows.map(_._2.wall).sum
      val (op, t) = rows.maxBy(_._2.wall)
      val part = if (t.jobWall >= t.outside) "Spark job time" else "time outside jobs (planning + driver metadata)"
      ctx.say(f"dominant layer: $op ${100 * t.wall / total}%.0f%% of traced op wall; within it $part " +
        f"(jobs ${100 * t.jobWall / t.wall}%.0f%%, outside ${100 * t.outside / t.wall}%.0f%%, plan ${100 * t.plan / t.wall}%.0f%%, task/wall ${t.task / t.wall}%.2f)")
    }
  }
}
