package graft.bench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md — formatted physical plans of headline queries
  * with the scale-relevant features annotated (dev tool). */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sf = "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val picks = Seq(
      "rel_agg_pricing" -> "pushdown filter + partial/final hash aggregate",
      "rel_star_join" -> "broadcast dims, single fact-fact shuffle",
      "rel_window_topk" -> "WindowGroupLimit prunes per partition before the shuffle",
      "rel_topk_agg" -> "custom TypedImperativeAggregate: partial top-k map-side",
      "rel_range_join" -> "interval join bucketized to an equi shuffle join",
      "dedup_lsh_buckets" -> "MinHash kernel + band explode, hash aggregate",
      "sim_cosine_topk" -> "broadcast query set, codegen'd graft_dot, per-query top-k",
      "dedup_simhash64_pairs" -> "63-bit simhash: chunk explode → equi self-join on (ci, cv) — candidates only from chunk co-membership, never all-pairs",
      "rel_bucketed_join" -> "bucketed scans (Bucketed: true, SelectedBucketsCount 8/8): no shuffle Exchange on either join input — at this scale AQE still picks broadcast for the small side; PlanSpec pins the zero-exchange sort-merge form with broadcast disabled",
      "dedup_containment" -> "PPJoin-style prefix filter: rarest-shingle prefix (window top-p per doc) equi-joined against the corpus shingle table — candidates only from prefix hits, never all-pairs",
      "text_line_dedup" -> "line-frequency blocklist (vocabulary-sized) broadcast LEFT ANTI join, per-doc reassembly",
      "cot_pipeline_corpus" -> "P1-P17 fused projection + top-1 window dedup (WindowGroupLimit both sides of the one shuffle) + broadcast includes join",
      "geo_proximity_pairs" -> "spatial join: 3x3 neighbor-cell explode -> hash equi-join on the cell key (never all-pairs); exact distance predicate prunes after candidate generation",
      "graph_pagerank" -> "fixed-point PageRank: staged edge+degree table reused every iteration, ONE hash-agg shuffle per iteration, node count as a broadcast 1-row aggregate (no driver count)",
      "rel_cdc_apply" -> "CDC fold: max_by(struct) partial aggregate — map-side combine shrinks each partition to one row per key BEFORE the shuffle; tombstone filter after",
      "rel_expectations" -> "N contract rules in ONE scan (conditional-count aggregates + unpivot); referential rule via broadcast LEFT ANTI join",
      "geo_join_rule" -> "optimizer-rule tier: the NAIVE graft_geo_within join auto-rewritten by plans/GeoJoinRewrite into Generate(3x3 cells) -> hash equi-join on the cell key (residual predicate kept); no CartesianProduct/BroadcastNestedLoopJoin survives",
      "sim_pq_adc" -> "product quantization: per-subspace codebook broadcast joins (train + encode), then the ADC scan — codes join the broadcast (subspace, code) lookup table and sum; the original vectors never reach the scoring join",
      "rel_interval_overlap" -> "sweep line: unpivoted +/-1 deltas, ONE keyed running-sum window, per-key max as a second window over the same exchange — no interval x interval self-join, chain runs once",
      "rel_fuzzy_match_ed1" -> "PassJoin segment pigeonhole: balanced probe scan (single-split corpus would serialize the per-row probe work), catalog segments broadcast, first-agreeing-segment dedup — no distinct shuffle, no all-pairs",
      "sim_knn_graph" -> "salted per-cell self-join: b-side bucketed hash(vec_id)%8, a-side exploded over buckets — every cell-pair met once at 8x the task width of the plain cell join",
      "rel_rank_quantiles" -> "exact global quantiles via globalRank: ONE range exchange (inside the Scan ExistingRDD — counts job + rank job share the pinned InternalRow lineage, so the shuffle runs once), then narrow per-partition rank arithmetic; no single-partition global window anywhere",
      "ts_resample_ffill" -> "per-key grid: keyed min-aggregate start bucket exploded (narrow) against the broadcast 1-row global end; keyed last-obs dedup + ignoreNulls fill windows — shuffle only on the series key, no dead leading spans",
      "rel_sequence_match" -> "MATCH_RECOGNIZE shape: |pattern| lead columns in ONE keyed window — single shuffle on the key, no self-join, no path enumeration",
      "text_ngram_novelty" -> "first-occurrence novelty: staged distinct (doc, gram) set consumed by BOTH the vocabulary-keyed min aggregate and the join-back — corpus tokenized once, no pairwise comparison anywhere",
      "rel_corr_regr" -> "exact integer moment sums (every moment through decimal — DECIMAL(19,0) casts are lossless for any long, products cap at DECIMAL(38,0), overflow surfaces as NULL, never a silent wrap) with map-side partial aggregation; the IEEE formula runs once per group row",
      "rel_ks_drift" -> "exact two-sample KS on the FUSED rank substrate (r13): ONE range exchange attaches global AND in-sample ranks as riders; sample sizes read from the rider columns, so no second aggregate, no cross join, no row-id join — one Scan ExistingRDD, one hash aggregate per value block, TakeOrdered(1)",
      "mm_phash_neardup" -> "perceptual near-dup: 63-bit dHash from position-partitioned pooled cells (explode → two keyed aggregates + lead window), then candidates ONLY from the 3x21-bit pigeonhole chunk equi-self-join with first-agreeing-chunk dedup — never all-pairs; the staged fingerprint frame feeds both join sides",
      "rel_percentile" -> "exact interpolated percentiles on the groupedRank substrate: ONE range exchange spreads each group across the cluster (counts job + rank job share the pinned InternalRow lineage), a boundary-row filter keeps <=2 rows per (group, percentile), and a tiny hash aggregate interpolates — no whole-group-in-one-buffer ImperativeAggregate anywhere",
      "ts_des_forecast" -> "double exponential smoothing (r14): BOTH truncated smoothing kernels stack as Window operators over ONE exchange + sort — same partitioning, same order, the second pass lags the first's rounded output; forecast arithmetic is a narrow projection",
      "rel_survival_km" -> "Kaplan-Meier: one corpus shuffle to the per-user (first, last) aggregate, broadcast 1-row censor horizon, then DESC-cumulative at-risk and ASC-cumulative exact-decimal ln-sum windows over the lifetime-bucket-sized frame — row data is never windowed",
      "rel_basket_lift" -> "market-basket lift: distinct (basket, item) on a NUMERIC composite key, pairs from a basket-keyed self-equi-join (bounded by items^2 per basket), category-sized item totals broadcast back with the 1-row basket count",
      "ts_cross_corr" -> "lagged cross-correlation: one corpus shuffle to the (hour, series) decimal aggregate, per-lag equi-joins on the SHIFTED hour key over that tiny frame (gap-correct), exact-decimal Pearson moments per lag")
    val sb = new StringBuilder
    sb ++= "# PLANS — headline physical plans (sf0.001, local[4])\n\n"
    sb ++= "Regenerate with `sbt \"Test/runMain graft.bench.DumpPlans\"`.\n"
    picks.foreach { case (name, note) =>
      val plan = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
      sb ++= s"\n## $name\n\n$note\n\n```\n${plan.trim}\n```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("PLANS.md written")
    spark.stop()
  }
}
