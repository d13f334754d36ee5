package perfbench

/** The two workloads. Each stresses a different set of layers; the
  * comments say which and why the workload is in the benchmark.
  *
  * A workload is a fixed set of operations; each pass runs every operation
  * once, in an order drawn from the seed. `tables` are the base tables the
  * operations read, which set-up caches through graft.Tables.
  */
object Workloads {
  final case class Workload(name: String, tables: Seq[String], ops: Seq[String])

  /** Small, many-job relational queries whose time goes to per-query fixed
    * cost in plans, codegen and sched (the sub-0.3 s tail of the suite),
    * next to queries that materialize data: a round-loop graph query that
    * checkpoints and shuffles each round, and sink, CDC and source round
    * trips that write through graft.sources or a file format and read the
    * output back. Every batch layer does work here; the stream bypasses
    * the operator library's batch paths. */
  val batch: Workload = Workload("batch",
    Seq("customer", "documents", "events", "lineitem", "orders", "part", "region", "supplier"),
    Seq(
      "q_agg_groupby", "q_agg_rollup", "q_join_inner_hash", "q_join_left_anti",
      "q_win_rank", "q_set_union_distinct", "q_filter_pred", "q_sort_multikey",
      "q_pivot_wide", "q_topk_per_group", "q_udf_scalar", "q_stream_tumbling",
      "q_graph_pagerank", "q_sink_upsert", "q_cdc_apply_log", "q_source_csv_roundtrip"))

  /** The only workload through graft.streaming and the RocksDB state
    * store: the events table in `event_id` order, fed to one long-lived
    * query per scenario, one micro-batch per scenario per pass, split at
    * seeded points. The three scenarios cover per-key timers, two stateful
    * operators in a chain, and O(1) value state. */
  val stream: Workload = Workload("stream", Seq("events"), Seq("session", "chained", "kalman"))

  val all: Seq[Workload] = Seq(batch, stream)

  /** Warm passes of a run: three fill a 12 s run on 4 cores, and a longer
    * run adds one per 4 s. Both sides of a comparison do the same work. */
  def warmPasses(seconds: Double): Int = math.max(3, (seconds / 4).toInt)
}
