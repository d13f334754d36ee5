package graft

/** Plan auditor: prints `explain("formatted")` for scale-critical queries
  * so pushdown/pruning/broadcast/codegen shape can be reviewed per round.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  * With no names, audits a representative set.
  */
object Explain {
  val defaultSet: Seq[String] = Seq(
    "q_scan_pruned",        // expect PushedFilters + pruned ReadSchema
    "q_agg_groupby",        // expect partial+final HashAggregate, one shuffle
    "q_join_broadcast",     // expect BroadcastHashJoin, no shuffle of fact
    "q_join_sortmerge",     // expect SortMergeJoin (pinned)
    "q_join_theta_range",   // expect equi-join on custkey + range residual
    "q_topk_global",        // expect TakeOrderedAndProject
    "q_llm_simsearch_topk", // expect BroadcastNestedLoop w/ broadcast queries
    "q_llm_wordcount",      // expect generate + partial agg before shuffle
    "q_llm_dedup_near",     // expect equi-joins on band keys, no BNLJ
    "q_join_bucketed",      // expect SortMergeJoin w/o Exchange beneath
    "q_agg_salted_skew",    // expect two-stage partial+final aggregation
    "q_llm_decontaminate",  // expect BroadcastHashJoin on the bench grams
    "q_llm_pack",           // expect per-source window, no SinglePartition
    "q_sort_zorder",        // expect codegen'd bit arithmetic, no joins
    "q_dq_referential",     // expect 4 broadcast anti-joins, no fact shuffle
    "q_sql_lateral",        // expect decorrelated ranked join, no CartesianProduct
    "q_llm_decontaminate_bloom", // expect sketch probe filter beneath the semi-join
    "q_join_skew_salted",   // expect ShuffledHashJoin on (key, salt)
    "q_sql_recursive",      // expect bounded UnionLoop (recursion depth = max session)
    "q_llm_dedup_url",      // expect one partial+final aggregate, no join
    "q_join_asof_nearest",  // expect two windows over ONE user shuffle, no join
    "q_llm_cluster_kmeans", // expect broadcast centroids + graft_l2sq in codegen
    "q_llm_bpe_pairs",      // expect vocab agg then TakeOrderedAndProject
    "q_wl_curation_pipeline") // expect 3 shuffles, broadcast gram probe

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else defaultSet
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n============================== $n ==============================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
