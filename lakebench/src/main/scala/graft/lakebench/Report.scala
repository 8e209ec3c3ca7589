package graft.lakebench

/** Per-layer metrics of a traced run, derived from its spans and counts.
  *
  * `*_s` of a named step is the median duration of one call; `*.self_s`
  * of a layer is its spans' self time per traced op; counts are per traced
  * op; `spark.*` totals the Spark work the traced spans launched, per
  * traced op. A metric reads 0 where the workload does not exercise the
  * layer. The list is fixed: every traced run reports every name. */
object Report {

  private val Layers = Seq("cdc", "store", "ledger", "maintenance", "streaming", "operators", "trace")

  /** Median duration of the calls recorded under these span names. */
  private val StepTimes = Seq(
    "cdc.transform_s" -> "cdc.transform",
    "store.merge_s" -> "store.merge",
    "store.delete_s" -> "store.delete",
    "store.scan_plan_s" -> "store.scan_plan",
    "store.scan_exec_s" -> "store.scan_exec",
    "ledger.guard_s" -> "ledger.guard",
    "ledger.append_s" -> "ledger.append",
    "maintenance.position_delete_s" -> "maintenance.position_delete",
    "maintenance.compaction_s" -> "maintenance.compaction",
    "streaming.round_s" -> "streaming.round",
    "operators.exact_dedup_s" -> "operators.exact_dedup",
    "operators.lsh_pairs_s" -> "operators.lsh_pairs",
    "operators.clusters_s" -> "operators.clusters",
    "operators.quality_s" -> "operators.quality")

  /** Counters reported per traced op. */
  private val PerOpCounts = Seq(
    "cdc.events_in" -> "count/op", "cdc.rows_out" -> "count/op",
    "cdc.version_splits" -> "count/op",
    "store.commits" -> "count/op", "store.data_files_added" -> "count/op",
    "store.delete_files_added" -> "count/op", "store.commit_conflicts" -> "count/op",
    "store.entries_planned" -> "count/op", "store.entries_total" -> "count/op",
    "maintenance.files_rewritten" -> "count/op", "maintenance.bytes_rewritten" -> "B/op",
    "operators.lsh_candidates" -> "count/op", "operators.lsh_verified" -> "count/op")

  /** (name, unit) of every per-layer metric, in report order. */
  val Metrics: Seq[(String, String)] =
    Seq("unattributed_s" -> "s", "trace.overhead_ratio" -> "ratio",
      "op_s.p50_traced" -> "s", "op_s.p50_untraced" -> "s",
      "write_amp" -> "ratio", "failed_frac" -> "ratio", "store.bytes_written" -> "B/op",
      "cdc.dedup_keep_ratio" -> "ratio", "store.prune_keep_ratio" -> "ratio",
      "operators.lsh_precision" -> "ratio", "streaming.round_skew" -> "ratio") ++
      StepTimes.map { case (n, _) => n -> "s" } ++
      Layers.map(l => s"$l.self_s" -> "s") ++
      PerOpCounts ++
      Seq("spark.planning_s" -> "s", "spark.jobs" -> "count/op", "spark.tasks" -> "count/op",
        "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "B/op",
        "spark.spill_bytes" -> "B/op", "spark.max_task_s" -> "s",
        "core.session_conf_changed" -> "count")

  def perLayer(tracer: Tracer, work: Map[Long, SparkWork], loop: LoopResult,
      confChanged: Int): Seq[(String, String, Double)] = {
    val spans = tracer.spans
    val ops = spans.filter(_.name.startsWith("op."))
    val nOps = math.max(1, ops.size).toDouble
    val self = Tracer.selfNs(spans)
    val counts = tracer.counts
    def c(n: String) = counts.getOrElse(n, 0.0)
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val total = new SparkWork
    work.values.foreach(total.add)
    val p50t = Stats.median(loop.tracedOpSeconds)
    val p50u = Stats.median(loop.untracedOpSeconds)
    val values: Map[String, Double] = Map(
      "unattributed_s" -> Stats.median(ops.map(o => self(o.id) / 1e9)),
      "trace.overhead_ratio" -> ratio(p50t, p50u),
      "op_s.p50_traced" -> p50t,
      "op_s.p50_untraced" -> p50u,
      "write_amp" -> loop.extra.getOrElse("write_amp", 0.0),
      "failed_frac" -> loop.failed.toDouble / math.max(1, loop.attempted),
      "store.bytes_written" -> loop.extra.getOrElse("store.bytes_written", 0.0) /
        math.max(1, loop.attempted),
      "cdc.dedup_keep_ratio" -> ratio(c("cdc.rows_out"), c("cdc.events_in")),
      "store.prune_keep_ratio" -> ratio(c("store.entries_planned"), c("store.entries_total")),
      "operators.lsh_precision" -> ratio(c("operators.lsh_verified"), c("operators.lsh_candidates")),
      "streaming.round_skew" -> loop.extra.getOrElse("streaming.round_skew", 0.0),
      "spark.planning_s" -> total.planningMs / 1e3 / nOps,
      "spark.jobs" -> total.jobs / nOps,
      "spark.tasks" -> total.tasks / nOps,
      "spark.executor_cpu_s" -> total.cpuNs / 1e9 / nOps,
      "spark.gc_s" -> total.gcMs / 1e3 / nOps,
      "spark.shuffle_bytes" -> total.shuffleBytes / nOps,
      "spark.spill_bytes" -> total.spillBytes / nOps,
      "spark.max_task_s" -> total.maxTaskMs / 1e3,
      "core.session_conf_changed" -> confChanged.toDouble) ++
      StepTimes.map { case (m, span) =>
        m -> Stats.median(spans.filter(_.name == span).map(_.seconds))
      } ++
      Layers.map(l => s"$l.self_s" -> spans.filter(_.layer == l).map(s => self(s.id)).sum / 1e9 / nOps) ++
      PerOpCounts.map { case (n, _) => n -> c(n) / nOps }
    Metrics.map { case (n, u) => (n, u, values(n)) }
  }

  /** Every span with its self time and the Spark work it launched. */
  def spansJson(tracer: Tracer, work: Map[Long, SparkWork]): String = {
    val spans = tracer.spans
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val self = Tracer.selfNs(spans)
    Json.arr(spans.map { s =>
      val w = work.getOrElse(s.id, new SparkWork)
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - t0) / 1e9), "end_s" -> Json.num((s.endNs - t0) / 1e9),
        "self_s" -> Json.num(self(s.id) / 1e9),
        "spark" -> Json.obj(Seq(
          "jobs" -> w.jobs.toString, "tasks" -> w.tasks.toString,
          "cpu_s" -> Json.num(w.cpuNs / 1e9), "gc_s" -> Json.num(w.gcMs / 1e3),
          "shuffle_bytes" -> w.shuffleBytes.toString, "spill_bytes" -> w.spillBytes.toString,
          "max_task_s" -> Json.num(w.maxTaskMs / 1e3), "planning_s" -> Json.num(w.planningMs / 1e3)))))
    })
  }
}
