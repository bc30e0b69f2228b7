package graftbench

/** The per-layer metrics of a traced run. Every workload prints the same
  * list; a layer the workload does not run reads 0.
  */
object Layers {

  val reportQueries: Seq[String] = ReadPath.queries
  val operatorQueries: Seq[String] = ReadPath.operators

  /** Span names whose self time is reported as a share of all span time. */
  val selfSpans: Seq[String] = Seq(
    "CdcPipeline.trigger", "CdcPipeline.latestOffset", "CdcPipeline.getBatch",
    "CdcPipeline.queryPlanning", "CdcPipeline.walCommit", "CdcPipeline.addBatch",
    "CdcPipeline.commitOffsets", "CdcPipeline.foreachBatch", "StreamDedup.materialize",
    "BucketedSnapshot.merge", "Sinks.idempotentParquet", "SparkEntry.eager",
    "SparkEntry.execute", "DailyReportJob.run")

  def report(ctx: Ctx, untraced: Window, traced: Window)
      : Seq[(String, Double, String)] = {
    val rec = ctx.rec
    val spans = ctx.tracer.all
    val self = Tracer.selfTimes(spans)
    val selfTotal = self.values.sum.toDouble
    def spanMs(name: String): Double = {
      val xs = spans.filter(_.name == name).map(_.durNs / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val probe = ctx.probe.get
    probe.settle()
    def perQuery(q: String): Seq[(String, Double, String)] = {
      val calls = rec.total(s"$q.calls")
      val a = probe.byReq.get(s"$q@trace")
      def per(v: Double) = if (calls == 0) 0.0 else v / calls
      Seq(
        (s"$q.eager_ms", rec.median(s"$q.eager_ms"), "ms"),
        (s"$q.execute_ms", rec.median(s"$q.execute_ms"), "ms"),
        (s"$q.jobs", per(a.map(_.jobs.toDouble).getOrElse(0.0)), "count"),
        (s"$q.task_s", per(a.map(_.taskMs / 1000.0).getOrElse(0.0)), "s"))
    }
    val rowsIn = rec.total("StreamDedup.rows_in")
    val rowsOut = rec.total("StreamDedup.rows_out")
    val late = rec.total("StreamDedup.late_dropped")
    val dupDropped = if (rowsIn == 0) 0.0 else rowsIn - rowsOut - late
    val injected = rec.total("StreamDedup.injected_dups")
    val reportTaskS = (reportQueries ++ operatorQueries)
      .flatMap(q => probe.byReq.get(s"$q@trace")).map(_.taskMs / 1000.0).sum
    val wallS = rec.total("queries.wall_s") + rec.total("operators.pass_s")
    val eager = rec.total("queries.eager_ms")
    val exec = rec.total("queries.execute_ms")
    val tail = Stats.tail(traced.freshnessMs)
    def pct(base: Double, v: Double) = if (base == 0) 0.0 else 100.0 * (v - base) / base
    Seq(
      ("CdcSim.gen_s", rec.total("CdcSim.gen_s"), "s"),
      ("CdcSim.events", rec.total("CdcSim.events"), "count"),
      ("CdcPipeline.getBatch_ms", rec.median("CdcPipeline.getBatch_ms"), "ms"),
      ("CdcPipeline.planning_ms", rec.median("CdcPipeline.planning_ms"), "ms"),
      ("CdcPipeline.walCommit_ms", rec.median("CdcPipeline.walCommit_ms"), "ms"),
      ("CdcPipeline.addBatch_ms", rec.median("CdcPipeline.addBatch_ms"), "ms"),
      ("CdcPipeline.latestOffset_ms", rec.median("CdcPipeline.latestOffset_ms"), "ms"),
      ("CdcPipeline.commitOffsets_ms", rec.median("CdcPipeline.commitOffsets_ms"), "ms"),
      ("CdcPipeline.rows_per_batch", rec.median("CdcPipeline.rows_per_batch"), "count"),
      ("CdcPipeline.jobs_per_batch", rec.median("CdcPipeline.jobs_per_batch"), "count"),
      ("CdcPipeline.tasks_per_batch", rec.median("CdcPipeline.tasks_per_batch"), "count"),
      ("CdcPipeline.batch_latency_p50_ms", rec.median("CdcPipeline.batch_latency_ms"), "ms"),
      ("CdcPipeline.backlog_files_max", rec.total("CdcPipeline.backlog_files_max"), "count"),
      ("CdcPipeline.generator_late_ms_max", rec.total("CdcPipeline.generator_late_ms_max"), "ms"),
      ("Envelope.parse_rows_per_s", rec.total("Envelope.parse_rows_per_s"), "1/s"),
      ("Envelope.malformed", rec.total("Envelope.malformed"), "count"),
      ("Envelope.tombstones", rec.total("Envelope.tombstones"), "count"),
      ("StreamDedup.rows_in", rowsIn, "count"),
      ("StreamDedup.dup_dropped", dupDropped, "count"),
      ("StreamDedup.late_dropped", late, "count"),
      ("StreamDedup.dup_recall", if (injected == 0) 0.0 else dupDropped / injected, "ratio"),
      ("StreamDedup.state_rows", rec.median("StreamDedup.state_rows"), "count"),
      ("StreamDedup.state_bytes", rec.median("StreamDedup.state_bytes"), "B"),
      ("StreamDedup.state_update_ms", rec.median("StreamDedup.state_update_ms"), "ms"),
      ("StreamDedup.state_commit_ms", rec.median("StreamDedup.state_commit_ms"), "ms"),
      ("BucketedSnapshot.merge_ms", spanMs("BucketedSnapshot.merge"), "ms"),
      ("BucketedSnapshot.buckets_touched_ratio", rec.median("BucketedSnapshot.buckets_touched_ratio"), "ratio"),
      ("BucketedSnapshot.state_bytes_read", rec.median("BucketedSnapshot.state_bytes_read"), "B"),
      ("BucketedSnapshot.bytes_written", rec.median("BucketedSnapshot.bytes_written"), "B"),
      ("BucketedSnapshot.rewrite_amplification", rec.median("BucketedSnapshot.rewrite_amplification"), "ratio"),
      ("BucketedSnapshot.files_per_version", rec.median("BucketedSnapshot.files_per_version"), "count"),
      ("BucketedSnapshot.store_bytes_end", rec.total("BucketedSnapshot.store_bytes_end"), "B"),
      ("BucketedSnapshot.resolve_ms", rec.median("BucketedSnapshot.resolve_ms"), "ms"),
      ("BucketedSnapshot.files_read", rec.total("BucketedSnapshot.files_read"), "count"),
      ("Sinks.write_ms", spanMs("Sinks.idempotentParquet"), "ms"),
      ("Sinks.bytes_written", rec.total("Sinks.bytes_written"), "B"),
      ("Sinks.replays_skipped", rec.total("Sinks.replays_skipped"), "count"),
      ("ReadPath.setup_s", rec.total("ReadPath.setup_s"), "s"),
      ("DailyReportJob.run_ms", rec.median("DailyReportJob.run_ms"), "ms"),
      ("Mart.bytes_written", rec.total("Mart.bytes_written"), "B")) ++
      (reportQueries ++ operatorQueries).flatMap(perQuery) ++
      Seq(
        ("queries.eager_share", if (eager + exec == 0) 0.0 else eager / (eager + exec), "ratio"),
        ("queries.utilization", if (wallS == 0) 0.0 else reportTaskS / (wallS * ctx.cores), "ratio"),
        ("operators.pass_s", rec.total("operators.pass_s"), "s"),
        ("jvm.gc_s", Jvm.gcSeconds, "s"),
        ("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB"),
        ("cdc_backfill.local1_change_rows_per_s", rec.total("cdc_backfill.local1_change_rows_per_s"), "1/s"),
        ("freshness.samples", traced.freshnessMs.size.toDouble, "count"),
        ("freshness.tail_q", tail.map(_._1).getOrElse(0.0), "ratio"),
        ("freshness.tail_ms", tail.map(_._2).getOrElse(0.0), "ms"),
        // the traced window's own end-to-end figures: compared with the
        // untraced runs of the same seed they give the tracing overhead; the
        // in-run difference below also holds the second window's warmer JIT
        ("traced.change_rows_per_s", traced.changeRowsPerS, "1/s"),
        ("traced.freshness_p50_ms", Stats.median(traced.freshnessMs), "ms"),
        ("traced.batch_latency_p50_ms", Stats.median(traced.batchMs), "ms"),
        ("trace.change_rows_per_s_overhead_pct", -pct(untraced.changeRowsPerS, traced.changeRowsPerS), "%"),
        ("trace.freshness_p50_overhead_pct",
          pct(Stats.median(untraced.freshnessMs), Stats.median(traced.freshnessMs)), "%")) ++
      selfSpans.map(n => (s"self.$n", if (selfTotal == 0) 0.0 else self.getOrElse(n, 0L) / selfTotal, "ratio"))
  }
}
