package perfbench

/**
 * Per-layer metrics of a traced run, from the spans inside the measured
 * operations, the listener's job-group tallies and the kernel
 * accumulator deltas. Every workload reports the full set; a layer the
 * workload does not reach reads 0. Counts and bytes are per call of the
 * layer (or per operation, for `spark.*`), times are medians per call.
 */
object Layers {
  /** Layers that are one call into the index or maintenance API. */
  val Calls: Seq[String] = Seq("ingest", "seal", "delete", "search", "sweep")

  def metrics(ctx: Ctx, out: Outcome, persistedAfter: Int): Seq[(String, Double, String)] = {
    val tr = ctx.tracer
    val spans = tr.all
    val ops = spans.filter(s => s.parent == 0 && s.name == out.opName)
    val inOps = ops.flatMap(o => tr.subtree(o.id)).toSet
    val measured = spans.filter(s => inOps(s.id))
    def named(n: String) = measured.filter(_.name == n)
    def secs(n: String) = named(n).map(_.nanos / 1e9)
    def attr(n: String, a: String) = named(n).map(_.attrs.getOrElse(a, 0.0))
    def perCall(n: String, f: SparkWork => Double) = Stats.mean(named(n).map(s => f(tr.work(s))))
    def gap(n: String) = Stats.median(named(n).map(tr.driverGapSeconds))

    val m = Seq.newBuilder[(String, Double, String)]
    def add(name: String, v: Double, unit: String): Unit = m += ((name, v, unit))

    // the timed operations: how many, and the tail (see Stats.tail)
    val (tail, tailPct) = Stats.tail(out.opSeconds)
    add("op.count", out.opSeconds.size.toDouble, "count")
    add("op.tail_s", tail, "s")
    add("op.tail_percentile", tailPct, "%")

    // ingest
    add("index.add_all.s", Stats.median(secs("ingest")), "s")
    add("index.add_all.vectors_per_s",
      if (secs("ingest").sum > 0) attr("ingest", "rows").sum / secs("ingest").sum else 0.0, "1/s")
    // seal: the slowest segment task sets the seal's time
    val sealTasks = named("seal").map(s => tr.listener.heaviestStageTaskSeconds(tr.subtree(s.id).map(tr.group)))
      .filter(_.nonEmpty)
    val taskP50 = Stats.median(sealTasks.map(Stats.median))
    val taskMax = Stats.median(sealTasks.map(_.max))
    add("index.seal.s", Stats.median(secs("seal")), "s")
    add("index.seal.segments", Stats.mean(attr("seal", "segments")), "count")
    add("index.seal.task_s_p50", taskP50, "s")
    add("index.seal.task_s_max", taskMax, "s")
    add("index.seal.straggler_ratio", if (taskP50 > 0) taskMax / taskP50 else 0.0, "ratio")
    add("index.delete.s", Stats.median(secs("delete")), "s")
    // search
    add("search.plan_s", Stats.median(secs("search.plan")), "s")
    add("search.exec_s", Stats.median(secs("search.exec")), "s")
    add("search.jobs_per_batch", perCall("search", _.jobs), "count")
    add("search.tasks_per_batch", perCall("search", _.tasks), "count")
    add("search.shuffle_bytes_per_batch", perCall("search", w => w.shuffleWriteB), "B")
    // kernel
    val k = ctx.kernel
    val returned = attr("search", "rows").sum
    add("kernel.adc_cpu_s", k.adcNanos / 1e9, "s")
    add("kernel.traversal_cpu_s", k.traversalNanos / 1e9, "s")
    add("kernel.segment_searches", k.searches.toDouble, "count")
    add("kernel.candidates", k.candidates.toDouble, "count")
    add("kernel.adc_us_per_search_p50", k.adcUsPerSearchP50, "us")
    add("kernel.candidates_per_search_p50", k.candidatesPerSearchP50, "count")
    add("rerank.useful_ratio", if (k.candidates > 0) returned / k.candidates else 0.0, "ratio")
    // store: directory deltas around every call that writes
    val storeSpans = measured.filter(s => s.attrs.contains("bytes_written"))
    add("store.bytes_written", storeSpans.map(_.attrs("bytes_written")).sum / math.max(1, ops.size), "B")
    add("store.files_written", storeSpans.map(_.attrs("files_written")).sum / math.max(1, ops.size), "count")
    add("store.bytes_on_disk", ctx.storeBytes, "B")
    add("store.bytes_per_user_byte", if (ctx.userBytes > 0) ctx.storeBytes / ctx.userBytes else 0.0, "ratio")
    // maintenance
    add("maint.sweep.s", Stats.median(secs("sweep")), "s")
    add("maint.vacuumed_segments", Stats.mean(attr("sweep", "vacuumed")), "count")
    add("maint.compactions", Stats.mean(attr("sweep", "compactions")), "count")
    add("maint.rows_removed", Stats.mean(attr("sweep", "rows_removed")), "count")
    add("maint.bytes_rewritten", Stats.mean(attr("sweep", "bytes_written")), "B")
    // pipeline gates
    Workloads.Gates.foreach { g =>
      val n = s"gate:$g"
      add(s"pipeline.$g.s", Stats.median(secs(n)), "s")
      add(s"pipeline.$g.jobs", perCall(n, _.jobs), "count")
      add(s"pipeline.$g.driver_gap_s", gap(n), "s")
      add(s"pipeline.$g.shuffle_bytes", perCall(n, _.shuffleWriteB), "B")
    }
    // spark, per measured operation
    val w = ops.map(tr.work).foldLeft(SparkWork.zero)(_ + _)
    val per = 1.0 / math.max(1, ops.size)
    add("spark.jobs", w.jobs * per, "count")
    add("spark.stages", w.stages * per, "count")
    add("spark.tasks", w.tasks * per, "count")
    add("spark.failed_tasks", w.failedTasks * per, "count")
    add("spark.executor_run_s", w.runS * per, "s")
    add("spark.executor_cpu_s", w.cpuS * per, "s")
    add("spark.gc_s", w.gcS * per, "s")
    add("spark.scheduler_delay_s", w.schedDelayS * per, "s")
    add("spark.fetch_wait_s", w.fetchWaitS * per, "s")
    add("spark.shuffle_read_bytes", w.shuffleReadB * per, "B")
    add("spark.shuffle_write_bytes", w.shuffleWriteB * per, "B")
    add("spark.spill_bytes", w.spillB * per, "B")
    add("spark.driver_gap_s", Stats.median(ops.map(tr.driverGapSeconds)), "s")
    Calls.foreach { c =>
      add(s"spark.$c.jobs", perCall(c, _.jobs), "count")
      add(s"spark.$c.executor_cpu_s", perCall(c, _.cpuS), "s")
      add(s"spark.$c.driver_gap_s", gap(c), "s")
    }
    add("spark.persisted_rdds_after", persistedAfter.toDouble, "count")
    add("search.cache_rdds_after", ctx.cacheRdds.toDouble, "count")
    // the tracer's own cost
    add("trace.spans", spans.size.toDouble, "count")
    add("trace.overhead_s", tr.overheadSeconds, "s")
    add("trace.overhead_share", tr.overheadSeconds / math.max(1e-9, out.opSeconds.sum), "ratio")
    m.result()
  }
}
