package perfbench

/** A named, fixed list of registry rows. The list is frozen here, so rows
  * added to a pack later do not change what the benchmark measures. The
  * cold pass runs the rows in this order; each warm pass runs them in its
  * own order drawn from the seed. Why each workload was chosen is recorded in
  * BENCHMARK.json. An odd row count keeps the median inside one row's
  * samples rather than between two rows.
  */
final case class Workload(name: String, rows: Seq[String])

object Workloads {
  /** Every ninth row of the Cleaning, Joins, Aggregations, Windows,
    * SortLimit, SetOps and Scalars packs (94 rows), in registry order.
    */
  val sqlAnalytics = Workload("sql_analytics",
    Seq("project_select_channel", "sql_flagship_twin", "join_bucketed_colocated",
      "agg_global_mean_std", "agg_top1_argmax_per_group", "agg_equidepth_deciles",
      "agg_bootstrap_ci", "window_ewma_decay", "window_anomaly_zscore",
      "limit_head", "scalar_map_json"))

  /** Rows whose work happens inside `Q.run`: the paper's conv-kernel GD
    * training, CNN infer-and-render, z-score, seeded split and
    * checkpoint-resume, the trained OPQ index (the largest cold gap), a
    * windowed count and a watermark dedup (micro-batches, state store), a
    * restart from checkpoint, and the partition and bucket writers.
    */
  val mlStream = Workload("ml_stream",
    Seq("ml_conv_train_gd", "ml_cnn_infer_render", "ml_zscore_standardize",
      "ml_train_test_split", "ml_train_checkpoint_resume", "sim_ann_opq_topk",
      "stream_tumbling_counts", "stream_dedup_watermark",
      "stream_restart_exactly_once", "sink_partitioned_pruning",
      "sink_bucket_pruning"))

  val all: Seq[Workload] = Seq(sqlAnalytics, mlStream)

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload: $name"))
}

/** One reported metric; lower is better for all of them. For a layer
  * metric, `moves` names the end-to-end metric a change in the layer should
  * move, and `on` the workloads where it should.
  */
final case class Metric(name: String, unit: String, moves: String = "",
    on: Seq[String] = Nil)

object Metrics {
  private val both = Workloads.all.map(_.name)
  private val sql = Seq("sql_analytics")
  private val ml = Seq("ml_stream")

  /** Printed by an untraced run. */
  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"),
    Metric("cold_s", "s"),
    Metric("warm_s", "s"),
    Metric("row_p50_s", "s"),
    Metric("row_tail_s", "s"),
    Metric("peak_rss_mb", "MB"))

  /** Printed by a traced run. */
  val perLayer: Seq[Metric] = Seq(
    Metric("Tables.load_s", "s", "setup_s", both),
    Metric("Tables.cached_mb", "MB", "setup_s", both),
    Metric("Registry.build_cold_s", "s", "cold_s", ml),
    Metric("Registry.build_warm_s", "s", "warm_s", ml),
    Metric("catalyst.plan_cold_s", "s", "row_p50_s", sql),
    Metric("catalyst.plan_warm_s", "s", "warm_s", sql),
    Metric("driver.residual_s", "s", "row_p50_s", sql),
    Metric("exec.job_s", "s", "warm_s", both),
    Metric("exec.jobs", "count", "warm_s", both),
    Metric("exec.stages", "count", "warm_s", both),
    Metric("exec.tasks", "count", "warm_s", both),
    Metric("exec.task_run_s", "s", "warm_s", both),
    Metric("exec.task_cpu_s", "s", "warm_s", both),
    Metric("exec.task_gc_s", "s", "row_tail_s", both),
    Metric("exec.shuffle_read_mb", "MB", "warm_s", both),
    Metric("exec.shuffle_write_mb", "MB", "warm_s", both),
    Metric("exec.spill_mb", "MB", "row_tail_s", both),
    Metric("exec.input_mb", "MB", "warm_s", both),
    Metric("exec.output_mb", "MB", "warm_s", ml),
    Metric("codegen.compile_cold_s", "s", "cold_s", sql),
    Metric("codegen.compile_warm_s", "s", "warm_s", sql),
    Metric("codegen.classes_cold", "count", "cold_s", sql),
    Metric("jvm.jit_cold_s", "s", "cold_s", sql),
    Metric("jvm.jit_warm_s", "s", "warm_s", sql),
    Metric("jvm.gc_s", "s", "row_tail_s", both),
    Metric("stream.batches", "count", "warm_s", ml),
    Metric("stream.trigger_s", "s", "warm_s", ml),
    Metric("stream.plan_s", "s", "warm_s", ml),
    Metric("stream.add_batch_s", "s", "warm_s", ml),
    Metric("stream.commit_s", "s", "warm_s", ml),
    Metric("stream.state_rows", "count", "warm_s", ml),
    Metric("stream.state_commit_s", "s", "warm_s", ml),
    Metric("storage.blocks_mb_end", "MB", "peak_rss_mb", ml),
    Metric("memo.retained_heap_mb", "MB", "peak_rss_mb", ml),
    Metric("gap.build_s", "s", "cold_s", both),
    Metric("gap.codegen_s", "s", "cold_s", both),
    Metric("gap.jit_s", "s", "cold_s", both),
    Metric("gap.other_s", "s", "cold_s", both),
    Metric("trace.overhead_s", "s", "warm_s", both))
}
