package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced window. Times and counts are medians
  * per completed operation; bytes and ratios are totals over them. Every
  * metric is reported on every workload, 0 where the workload does not
  * exercise the layer. */
object Layers {

  /** Layer spans timed by the benchmark, by metric name. */
  val Timed = Seq("db.build_ms", "db.action_ms", "db.write_ms",
    "sources.load_ms", "query.compile_ms", "pipeline.compile_ms",
    "update.compile_ms", "orchestrate.ledger_ms", "orchestrate.lease_ms",
    "backup.collection_ms", "ops.web_curate_ms", "ops.minhash_pairs_ms",
    "ops.embed_curate_ms")

  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  def report(name: String, tr: Trace, w: Window, cores: Int,
      extra: Map[String, Double], host: Map[String, Double],
      e2e: Main.EndToEnd, spans: Option[String])
      : Seq[(String, Double, String)] = {
    val all = tr.perOp(w.ops.map(_.op))
    val labels = w.ops.map(o => o.op.id -> o.label).toMap
    spans.foreach(tr.writeSpans(_, all, labels))
    // like the end-to-end figures, the layer figures cover only the
    // operations the engine completed
    val threw = w.ops.filter(_.error.isDefined).map(_.op.id).toSet
    val traces = all.filterNot(t => threw(t.op.id))
    all.foreach(t => Main.err(f"  ${labels(t.op.id)}%-28s " +
      f"${t.wallMs}%6d ms jobs ${t.jobs.size}%3d tasks ${t.tasks.tasks}%4d " +
      f"task ${t.tasks.runMs}%8.0f ms gap ${t.driverGapMs}%6d ms"))
    def perOp(f: Trace.OpTrace => Double) = med(traces.map(f))
    val total = new Trace.TaskAgg
    traces.foreach(t => total.merge(t.tasks))
    val jobMsTotal = traces.map(_.jobMs).sum.toDouble
    val analysis = perOp(_.plans.map(_.analysisMs).sum)
    val optimization = perOp(_.plans.map(_.optimizationMs).sum)
    val planning = perOp(_.plans.map(_.planningMs).sum)
    val gap = perOp(_.driverGapMs.toDouble)
    val taskMs = perOp(_.tasks.runMs)
    val spark = Seq(
      ("spark.actions", perOp(_.plans.size.toDouble), "count"),
      ("spark.jobs", perOp(_.jobs.size.toDouble), "count"),
      ("spark.stages", perOp(_.stages.toDouble), "count"),
      ("spark.tasks", perOp(_.tasks.tasks.toDouble), "count"),
      ("spark.analysis_ms", analysis, "ms"),
      ("spark.optimization_ms", optimization, "ms"),
      ("spark.planning_ms", planning, "ms"),
      ("spark.job_ms", perOp(_.jobMs.toDouble), "ms"),
      ("spark.driver_gap_ms", gap, "ms"),
      ("spark.task_ms", taskMs, "ms"),
      ("spark.task_cpu_ms", perOp(_.tasks.cpuMs), "ms"),
      ("spark.gc_ms", perOp(_.tasks.gcMs), "ms"),
      ("spark.busy_ratio",
        Stats.ratio(total.runMs, jobMsTotal * cores), "ratio"),
      ("spark.shuffle_write_mb", Stats.mb(total.shuffleWrite), "MB"),
      ("spark.shuffle_read_mb", Stats.mb(total.shuffleRead), "MB"),
      ("spark.spill_mb", Stats.mb(total.spill), "MB"),
      ("spark.input_mb", Stats.mb(total.input), "MB"),
      ("spark.output_mb", Stats.mb(total.output), "MB"),
      ("spark.write_amp", Stats.ratio(total.output.toDouble,
        total.input.toDouble), "ratio"),
      ("spark.task_failures", total.failures.toDouble, "count"))

    // layer spans: per-operation sums for spans inside operations,
    // single samples for direct measurements made outside them
    val inOps = Timed.map(k => k -> traces.flatMap(_.layers.get(k))).toMap
    val outside = tr.layers.asScala.filter(_.start < 0).toSeq
      .groupBy(_.name).map { case (k, v) => k -> v.map(_.ms) }
    val layerMetrics = Timed.map { k =>
      (k, med(inOps(k) ++ outside.getOrElse(k, Nil)), "ms")
    }

    val opTags = w.ops.flatMap(_.op.tag).toSet
    val batches = tr.batches.asScala.toSeq.filter(b => opTags(b.tag))
    def perBatch(f: Trace.BatchRec => Double) = med(batches.map(f))
    val streaming = Seq(
      ("streaming.batch_ms", perBatch(_.ms("triggerExecution")), "ms"),
      ("streaming.add_batch_ms", perBatch(_.ms("addBatch")), "ms"),
      ("streaming.offsets_ms",
        perBatch(b => b.ms("latestOffset") + b.ms("getBatch")), "ms"),
      ("streaming.commit_ms",
        perBatch(b => b.ms("walCommit") + b.ms("commitOffsets")), "ms"),
      ("streaming.planning_ms", perBatch(_.ms("queryPlanning")), "ms"),
      ("streaming.rows_per_batch", perBatch(_.rows.toDouble), "count"),
      ("streaming.late_batch_failures",
        extra.getOrElse("streaming.late_batch_failures", 0.0), "count"))

    val overhead = 100.0 * Stats.ratio(tr.callbackNs.get / 1e6,
      w.measuredMs)
    val driverMs = analysis + optimization + planning + gap
    val share = Stats.ratio(driverMs, driverMs + taskMs)
    val summary = Seq(
      ("ops.pairs_out", extra.getOrElse("ops.pairs_out", 0.0), "count"),
      ("ops.dup_recall", extra.getOrElse("ops.dup_recall", 0.0), "ratio"),
      ("split.driver_ms", driverMs, "ms"),
      ("split.task_ms", taskMs, "ms"),
      ("split.driver_share", share, "ratio"),
      ("trace.latency_p50_ms", e2e.p50, "ms"),
      ("trace.overhead_pct", overhead, "%"),
      ("host.calib_ms", host("host.calib_ms"), "ms"),
      ("host.steal_pct", host("host.steal_pct"), "%"))

    val predicted = name match {
      case "query" => Some("driver-dominated" -> (share > 0.5))
      case "curate" => Some("task-dominated" -> (share < 0.5))
      case _ => None
    }
    println(f"[perfbench] $name split per operation (medians): driver " +
      f"$driverMs%.1f ms (analysis $analysis%.1f + optimization " +
      f"$optimization%.1f + planning $planning%.1f + gap $gap%.1f) " +
      f"vs task $taskMs%.1f ms; driver share $share%.2f")
    predicted.foreach { case (what, held) =>
      println(s"[perfbench] prediction: $name is $what — " +
        (if (held) "holds" else "FAILS on this run"))
    }
    println(f"[perfbench] tracing: listeners busy $overhead%.2f%% of the " +
      f"window; traced latency_p50_ms ${e2e.p50}%.1f (compare with an " +
      "untraced run of the same seed)")
    spark ++ layerMetrics ++ streaming ++ summary
  }
}
