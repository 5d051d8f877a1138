package perfbench

/** Turns spans and counters into per-layer metrics. Every additive
  * metric is reported per call (`name`) and as a run total
  * (`name.total`). */
object Ledger {
  /** Set for traced runs so workloads can attribute jobs to spans. */
  @volatile var counters: Option[SparkCounters] = None

  private def both(name: String, total: Double, calls: Long,
      unit: String): Seq[(String, M)] =
    Seq(name -> M(if (calls == 0) 0.0 else total / calls, unit, calls),
      s"$name.total" -> M(total, unit, calls))

  /** Span metrics from the timed ops; a call no timed op makes (the IVM
    * syncs) is measured from its call in set-up. */
  def fromSpans(spans: Seq[Span]): Seq[(String, M)] =
    spans.filter(_.op >= -1).groupBy(_.metric).toSeq.sortBy(_._1)
      .map { case (metric, ss) =>
        metric -> (if (ss.exists(_.op >= 0)) ss.filter(_.op >= 0) else ss)
      }
      .flatMap { case (metric, ss) =>
        both(metric, ss.map(_.durMs).sum, ss.size, "ms")
      }

  /** Jobs submitted inside `s` (one client thread, so the innermost
    * enclosing span is the one that caused them). */
  def jobsIn(c: SparkCounters, s: Span): Seq[SparkCounters.Job] =
    c.synchronized(c.jobs.filter(j => j.submitMs >= s.startMs &&
      j.submitMs <= s.endMs).toSeq)

  def fromSpark(c: SparkCounters, spans: Seq[Span], fromMs: Long,
      toMs: Long, ops: Int, cores: Int): Seq[(String, M)] = c.synchronized {
    val jobs = c.jobs.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs)
    val stageIds = jobs.flatMap(_.stages).distinct
    val st = stageIds.flatMap(c.stages.get)
    val wallMs = math.max(1L, toMs - fromMs).toDouble
    val runMs = st.map(_.runMs).sum.toDouble
    Seq(
      both("spark.jobs", jobs.size.toDouble, ops, "count"),
      both("spark.stages", st.size.toDouble, ops, "count"),
      both("spark.tasks", st.map(_.tasks).sum.toDouble, ops, "count"),
      both("spark.task_run_ms", runMs, ops, "ms"),
      both("spark.task_cpu_ms", st.map(_.cpuNs).sum / 1e6, ops, "ms"),
      both("spark.scheduler_delay_ms", st.map(_.schedDelayMs).sum.toDouble, ops, "ms"),
      both("spark.shuffle_read_bytes", st.map(_.shuffleRead).sum.toDouble, ops, "bytes"),
      both("spark.shuffle_write_bytes", st.map(_.shuffleWrite).sum.toDouble, ops, "bytes"),
      both("spark.spill_bytes", st.map(_.spill).sum.toDouble, ops, "bytes"),
      both("spark.gc_ms", st.map(_.gcMs).sum.toDouble, ops, "ms"),
      Seq("spark.peak_exec_mem_bytes" ->
        M(st.map(_.peakMem).foldLeft(0L)(math.max).toDouble, "bytes", st.size),
        "spark.busy_frac" -> M(runMs / (wallMs * cores), "ratio", ops))
    ).flatten
  }

  /** `d`: Hadoop byte statistics; `c`: [[CountingFs]] call counts. */
  def fromFs(d: Map[String, Long], c: Map[String, Long],
      ops: Int): Seq[(String, M)] = {
    def g(m: Map[String, Long], k: String) = m.getOrElse(k, 0L).toDouble
    Seq(
      both("fs.bytes_written", g(d, "bytesWritten"), ops, "bytes"),
      both("fs.write_ops", g(c, "create") + g(c, "rename") + g(c, "delete"),
        ops, "count"),
      both("fs.bytes_read", g(d, "bytesRead"), ops, "bytes"),
      both("fs.read_ops", g(c, "open"), ops, "count"),
      both("fs.data_files_opened", g(c, "data_open"), ops, "count"),
      both("fs.list_ops", g(c, "list"), ops, "count")
    ).flatten
  }
}
