package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.adsbx.{AdsbxConfig, Fixtures, Pipeline}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every implemented operator group:
  *   - CotQueries: the reference's full pipeline (SURVEY §2.3-2.6) on the
  *     quirk-matrix fixture, oracle-checked via a VALUES-based DuckDB query;
  *   - Relational: classical operator coverage over the driver corpus.
  */
object SparkEntry {

  /** Flagship: the reference's end-to-end dataflow (P1-P17 + D1 + J2) in
    * pass-through mode over the fixture — smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.features(
      Fixtures.aircraftDf(spark), Fixtures.includesDf(spark),
      AdsbxConfig(includesFiltering = false))

  /** Merged with a COLLISION GUARD, not a bare `++`: the registry spans
    * ~26 operator modules, and a name declared twice would silently keep
    * only the later module's factory — the earlier operator drops out of
    * the verified surface with every record still green (r14: a new
    * StatOps cohort query nearly replaced Relational2's
    * rel_cohort_retention exactly this way; caught only by a count
    * mismatch). Duplicates now fail loudly at first access. */
  private[graft] def mergedUnique[V](parts: Seq[(String, Map[String, V])])
      : Map[String, V] = {
    val dupes = parts.flatMap { case (m, qs) => qs.keys.map(_ -> m) }
      .groupBy(_._1).filter(_._2.size > 1)
    require(dupes.isEmpty,
      s"duplicate query names across operator modules: " +
        dupes.map { case (k, ms) => s"$k <- ${ms.map(_._2).mkString("+")}" }
          .mkString(", "))
    parts.iterator.map(_._2).reduce(_ ++ _)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    mergedUnique(Seq(
      "CotQueries" -> CotQueries.queries,
      "Relational" -> Relational.queries,
      "Relational2" -> Relational2.queries,
      "Bucketing" -> Bucketing.queries,
      "FormatOps" -> FormatOps.queries,
      "DedupOps" -> DedupOps.queries,
      "TextOps" -> TextOps.queries,
      "BpeOps" -> BpeOps.queries,
      "CleanOps" -> CleanOps.queries,
      "SpanOps" -> SpanOps.queries,
      "Similarity" -> Similarity.queries,
      "MultimodalOps" -> MultimodalOps.queries,
      "SkewOps" -> SkewOps.queries,
      "ProfileOps" -> ProfileOps.queries,
      "KmvOps" -> KmvOps.queries,
      "SplitOps" -> SplitOps.queries,
      "FuzzyMatch" -> FuzzyMatch.queries,
      "GeoOps" -> GeoOps.queries,
      "HistoryOps" -> HistoryOps.queries,
      "GraphOps" -> GraphOps.queries,
      "ContractOps" -> ContractOps.queries,
      "TimeSeriesOps" -> TimeSeriesOps.queries,
      "StatOps" -> StatOps.queries,
      "CorpusOps" -> CorpusOps.queries,
      "TrainOps" -> TrainOps.queries,
      "PipelineOps" -> PipelineOps.queries,
      "StreamOps" -> graft.streaming.StreamOps.queries))

  /** EAGER-EXECUTION CONTRACT: every `queries` factory returns a lazy
    * plan EXCEPT the names below, whose factory launches Spark jobs when
    * invoked — streaming queries (the micro-batch runs to completion and
    * the factory returns the sink's result), write-then-read lifecycle
    * operators (table-format roundtrips, the persisted ANN index
    * serve/refresh, the hybrid retrieval's index-served semantic arm,
    * bucketed-table setup), and iterative training loops whose per-step
    * argmax collects driver-side (BPE). Tooling that builds plans
    * without intending to execute (plan audits, explain dumps, schema
    * introspection) must either expect job launches for these or skip
    * them; PlanAuditSpec consumes this set for exactly that reason, and
    * checks it: with Staging cold, a query launches a job while its
    * factory runs exactly when it is listed here. The one-task footer
    * read of a parquet scan's schema inference does not count. */
  val eagerQueries: Set[String] = Set(
    // streaming: the factory executes the stream; the batch plan only
    // forms at execution
    "stream_hourly_window", "stream_dedup_lastwins", "stream_session_window",
    "stream_static_join", "stream_stream_join", "stream_outer_join",
    "stream_txn_sink", "stream_change_feed", "stream_running_counts",
    "stream_lsh_neardup", "stream_watermark_dedup", "stream_bloom_dedup",
    "stream_geo_proximity", "stream_funnel", "stream_sliding_window",
    "stream_checked_sink",
    "stream_heavy_hitters", "stream_incremental_merge", "stream_ivm",
    "stream_log_source", "stream_temporal_join", "stream_ts_match",
    "stream_versioned_sink", "stream_quality_gate",
    // the adsbx poller: runs its snapshot stream to completion
    "cot_stream_poll",
    // write-then-read roundtrips execute a write action at plan build
    "src_csv_roundtrip", "src_jsonl_roundtrip", "src_partitioned_pruned",
    "src_sorted_skipping", "src_orc_roundtrip", "src_zorder_skipping",
    "src_schema_evolution", "src_text_roundtrip",
    "src_manifest_pruned", "src_compaction", "src_time_travel",
    "src_gdpr_delete", "src_versioned_prune", "src_change_feed", "src_vacuum",
    "src_ivm_apply", "src_txn_tables", "src_shallow_clone",
    "src_partition_evolution",
    "src_bloom_skipping", "src_dpp_join", "src_typed_prune",
    // write-then-read too: checked commit, deletion vectors, hidden
    // partitions, MERGE, compaction stats, schema log, footer stats
    "src_checked_write", "src_delete_vectors", "src_hidden_partitioning",
    "src_merge_into", "src_optimize", "src_schema_log", "src_stats_query",
    // persisted-index lifecycle: the factory writes the cell-partitioned
    // index and collects the probed-cell list before returning
    "sim_ann_index_serve", "sim_ann_refresh", "sim_ann_pq_serve",
    "sim_ann_delete", "sim_pq_recall",
    // power iteration: cov-cell collect + driver iteration at plan build
    "sim_pca_project",
    "text_hybrid_rrf", "text_hybrid_recall",
    // executes DROP TABLE + two bucketed writes at plan build
    "rel_bucketed_join",
    // runs the whole training loop at plan build (per-step collects are
    // model-sized; the returned frame is a driver-sized LocalRelation)
    "text_bpe_train", "text_bpe_roundtrip", "text_quality_train",
    "text_quality_apply", "rel_ks_drift", "rel_psi_drift",
    // trains, commits the merge table through the log, and loads it back
    // at plan build
    "text_bpe_artifact",
    // iterative peeling: per-round convergence counts run at plan build
    "graph_kcore",
    // frontier iteration: each round's frontier and visited/distance
    // frames are localCheckpointed to cut the growing lineage
    "graph_bfs_layers", "graph_sssp",
    // the undirected edge frame is localCheckpointed at build (link
    // prediction reads it three times, modularity too)
    "graph_link_predict", "graph_modularity",
    // k-means: the Lloyd fit and each assignment collect the centroid
    // table to the driver for the broadcast kernel
    "sim_kmeans_train", "sim_silhouette",
    // knnEdges localCheckpoints the assignment slice, which
    // feeds both sides of its self-join
    "sim_knn_graph", "sim_knn_components",
    // the z-normed query pattern (M doubles) is collected to the driver
    "ts_subseq_topk",
    // a-priori / lift: the shared distinct-pass and guarded frames
    // localCheckpoint at plan build (multiple consumers — Catalyst does
    // not dedupe common subtrees)
    "rel_freq_itemsets", "rel_basket_lift",
    // MM iteration: per-step localCheckpoint cuts the doubling plan tree
    // (the strength vector feeds BOTH sides of the pair join), so the
    // item-sized steps execute at plan build
    "rel_bradley_terry",
    // the component labels, read by both of its aggregates, are
    // checkpointed at build (DedupOps.clusterQualityFrom)
    "dedup_cluster_quality",
    // composed pipeline: runs the GD training loop (trainedQuality) and
    // prefixSums' offset pass at plan build, and checkpoints its dedup
    // labels to cut the pair table's lineage (PipelineOps)
    "pipe_corpus_e2e",
    // grid-density clustering: the dense-cell frame is localCheckpointed
    // at build
    "geo_cluster_grid",
    // the rank substrate's range-offset kernel (Relational2.rangeScan,
    // under globalRank, groupedRank, prefixSums and globalGroupedRank)
    // collects its per-partition summaries at plan build — every rider
    // is eager, including the groupedRank-based exact-percentile family
    "text_curriculum_shards", "rel_winsorize", "rel_gaps_islands",
    "rel_gini_concentration", "rel_mann_whitney",
    "rel_decile_lift", "rel_equidepth_hist", "rel_rank_quantiles",
    "rel_percentile", "rel_impute_median", "rel_outliers_mad",
    "rel_approx_percentile",
    "rel_decision_stump")

  def oracleSql: Map[String, String] =
    mergedUnique(Seq(
      "CotQueries" -> CotQueries.oracles,
      "Relational" -> Relational.oracles,
      "Relational2" -> Relational2.oracles,
      "Bucketing" -> Bucketing.oracles,
      "FormatOps" -> FormatOps.oracles,
      "DedupOps" -> DedupOps.oracles,
      "TextOps" -> TextOps.oracles,
      "BpeOps" -> BpeOps.oracles,
      "CleanOps" -> CleanOps.oracles,
      "SpanOps" -> SpanOps.oracles,
      "Similarity" -> Similarity.oracles,
      "MultimodalOps" -> MultimodalOps.oracles,
      "SkewOps" -> SkewOps.oracles,
      "ProfileOps" -> ProfileOps.oracles,
      "KmvOps" -> KmvOps.oracles,
      "SplitOps" -> SplitOps.oracles,
      "FuzzyMatch" -> FuzzyMatch.oracles,
      "GeoOps" -> GeoOps.oracles,
      "HistoryOps" -> HistoryOps.oracles,
      "GraphOps" -> GraphOps.oracles,
      "ContractOps" -> ContractOps.oracles,
      "TimeSeriesOps" -> TimeSeriesOps.oracles,
      "StatOps" -> StatOps.oracles,
      "CorpusOps" -> CorpusOps.oracles,
      "TrainOps" -> TrainOps.oracles,
      "PipelineOps" -> PipelineOps.oracles,
      "StreamOps" -> graft.streaming.StreamOps.oracles))
}
