package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's workloads over `graft.SparkEntry.queries`.
  *
  * Every benched query (all keys but `graft.Bench.Aliases`) belongs to
  * exactly one of two families: `match_etl`, the reference's match-data
  * surface, and `corpus_curate`, the LLM-corpus surface. `ArtifactQueries`
  * is the set of queries that write under an empty artifacts root.
  * `CoverageSpec` pins all three, so a new query cannot land unassigned.
  *
  * A run times a fixed sample of each family (`Timed`): a pass over a whole
  * family takes 25 to 60 s on a 4-core host even when warm, several times
  * the budget of one run. The samples keep every layer the trace reports
  * busy in some workload, and each reads one published artifact.
  */
object Workloads {

  /** Relational, Windows, Sessionize, RangeJoin, RoleAssign, Fights,
    * StatsHistory, Features, PullIngest, ScdHistory and Model.
    */
  val MatchEtl: Set[String] = Set(
    "q_filter_project", "q_agg_group", "q_join_broadcast", "q_multi_join_agg", "q_topk_global",
    "q_topk_per_group", "q_distinct_agg", "q_anti_join", "q_semi_join", "q_conditional_agg",
    "q_pivot_onehot", "q_distinct_agg_approx", "q_json_props",
    "q_window_running", "q_window_moving", "q_streaks", "q_asof_lookback", "q_percentiles",
    "q_zscore_normalize", "q_histogram", "q_rollup", "q_lookback_multiwindow",
    "q_stats_availability", "q_recurrent_delta", "q_event_transitions", "q_latest_snapshot",
    "q_percentiles_approx",
    "q_sessionize", "q_session_stats", "q_range_join", "q_role_assign", "q_range_attr_merge",
    "q_fight_outcomes", "q_stats_history_composite", "q_feature_bins", "q_corr_matrix",
    "q_stats_merge", "q_pull_schedule", "q_scd_history", "q_model_lr", "q_model_eval")

  def benched: Set[String] = graft.SparkEntry.queries.keySet -- graft.Bench.Aliases.keys

  def corpusCurate: Set[String] = benched -- MatchEtl

  /** Queries that publish under an empty artifacts root (see [[artifactWriters]]). */
  val ArtifactQueries: Set[String] = Set(
    "q_ann_ivfpq", "q_cluster_delta", "q_curation_run", "q_decontaminate_bloom", "q_dedup_delta",
    "q_dedup_keep_best", "q_diversity_sample", "q_hybrid_search", "q_ivf_delta", "q_ivf_refit",
    "q_knn_graph", "q_lex_delta", "q_lex_rerank", "q_lex_stats", "q_model_eval", "q_model_lr",
    "q_semdedup", "q_source_overlap", "q_split_leakage_safe", "q_substr_search")

  /** The queries a run of each workload times. */
  val Timed: Map[String, Seq[String]] = Map(
    "match_etl" -> Seq("q_agg_group", "q_join_broadcast", "q_multi_join_agg",
      "q_window_running", "q_model_lr"),
    "corpus_curate" -> Seq("q_dedup_jaccard_prefix", "q_line_dedup", "q_quality_gopher",
      "q_pii_redact", "q_split_leakage_safe"))

  /** The queries that leave files under an artifacts root that was empty
    * before each of them ran.
    */
  def artifactWriters(spark: SparkSession, dataDir: String, root: java.io.File,
                      names: Iterable[String]): Set[String] = {
    spark.conf.set("spark.graft.artifacts", root.toString)
    try names.filter { n =>
      Files.wipe(root)
      try graft.SparkEntry.queries(n)(spark, dataDir).write.format("noop").mode("overwrite").save()
      finally spark.catalog.clearCache()
      Files.sizeOf(root)._2 > 0
    }.toSet
    finally { spark.conf.unset("spark.graft.artifacts"); Files.wipe(root) }
  }
}

object Files {
  def wipe(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
    f.delete(): Unit
  }

  /** (bytes, files) under `f`. */
  def sizeOf(f: java.io.File): (Long, Long) =
    if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Committed artifact directories (`<name>/fp=<hash>`) under a root. */
  def artifactDirs(root: java.io.File): Set[java.io.File] =
    Option(root.listFiles()).getOrElse(Array.empty).toSet.flatMap { (n: java.io.File) =>
      Option(n.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("fp=")).toSet
    }
}
