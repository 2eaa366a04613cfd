package habitbench

/** Every metric the benchmark prints, with its unit. BENCHMARK.json at the
  * repository root lists the same names; BenchSpec keeps the two equal. */
object Metrics {
  final case class M(name: String, unit: String)

  /** Reported on every workload by the untraced run. An "operation" is
    * the workload's closed-loop unit: a cron tick (etl_cron) or a pass
    * over the ledger replays (ledger_replay). No tail percentile
    * is reported: a run holds fewer than 20 operations, and no
    * percentile above the median has ten samples beyond it there. */
  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s"),
    M("op_s.p50", "s"),
    M("heap_live_mb", "MB"))

  /** Reported on every workload by the traced run; a layer the workload
    * does not reach reads 0. */
  val PerLayer: Seq[M] = Seq(
    M("sources.scan_s", "s"), M("sources.rows", "count"),
    M("transform.to_events_s", "s"), M("transform.events", "count"),
    M("transform.cell_yield", "ratio"),
    M("load.landing_s", "s"), M("load.landing_new_frac", "ratio"),
    M("load.upsert_s", "s"), M("load.upsert_jobs", "count"),
    M("load.upsert_shuffle_mb", "MB"), M("load.days_rewritten", "count"),
    M("load.noop_frac", "ratio"), M("load.write_amp", "ratio"),
    M("load.store_files", "count"), M("load.store_mb", "MB"),
    M("analytics.rollup_s", "s"), M("analytics.rollup_days", "count"),
    M("plans.plan_s", "s"), M("plans.files_read_frac", "ratio"),
    M("plans.rows_read_per_row_out", "ratio"),
    M("streaming.trigger_ms", "ms"),
    M("streaming.add_batch_ms", "ms"), M("streaming.get_batch_ms", "ms"),
    M("streaming.latest_offset_ms", "ms"), M("streaming.query_planning_ms", "ms"),
    M("streaming.wal_commit_ms", "ms"), M("streaming.commit_offsets_ms", "ms"),
    M("streaming.batches_per_tick", "count"), M("streaming.overhead_frac", "ratio")) ++
    LedgerReplay.Replays.flatMap(q =>
      Seq(M(s"ext.replay_s.$q", "s"), M(s"ext.jobs.$q", "count"))) ++ Seq(
    M("spark.jobs_per_op", "count"), M("spark.stages_per_op", "count"),
    M("spark.tasks_per_op", "count"), M("spark.shuffle_mb_per_op", "MB"),
    M("spark.spill_mb", "MB"), M("spark.sched_delay_ms", "ms"),
    M("spark.busy_frac", "ratio"), M("spark.task_skew", "ratio"),
    M("jvm.gc_ms_per_op", "ms"),
    M("trace.overhead_frac", "ratio"))

  /** The result line: `correct`, `attempted`, `failed` and every metric
    * of `names` with its value and unit. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      names: Seq[M], values: Map[String, Double]): String = {
    def num(x: Double): String =
      if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)
    val ms = names.map(m =>
      s""""${m.name}": {"value": ${num(values.getOrElse(m.name, 0.0))}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
