package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The library's user-facing surface: every operator the engine implements,
  * exposed as extension methods over `DataFrame` so a pipeline reads as a
  * chain of declarative transforms. All methods return lazy DataFrames
  * (plans, not results) and are built exclusively from the operator modules
  * verified by the oracle suite — this file adds no new semantics, only
  * ergonomics.
  *
  * {{{
  * import graft.api._
  * events.lastWinsDedup("user_id", "event_id")
  * docs.nearDupPairs(threshold = 0.8)
  * orders.topkPerGroup(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"), 3)
  * }}}
  */
package object api {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    // ---- dedup (reference D1/D2 + training-pipeline near-dup) ----------

    /** Last-wins dedup by `key`, arrival order given by `ord` (the
      * reference's D1 as a top-1 window, pruned map-side). */
    def lastWinsDedup(key: String, ord: String): DataFrame =
      adsbx.Dedup.lastWins(df, key, ord)

    /** First-wins dedup (the reference's D2 emit guard). */
    def firstWinsDedup(key: String, ord: String): DataFrame =
      adsbx.Dedup.firstWins(df, key, ord)

    /** MinHash+LSH near-duplicate pairs over (doc_id: long, text: string)
      * columns; exact shingle-Jaccard verification at `threshold`. */
    def nearDupPairs(threshold: Double = 0.8): DataFrame =
      ops.DedupOps.nearDupPairs(df, threshold)

    /** Connected components over (d1, d2) pair rows → (doc_id, cluster_id)
      * with cluster_id = min reachable id. */
    def clusterPairs(): DataFrame = ops.DedupOps.clusterPairs(df)

    /** Asymmetric containment pairs over (doc_id: long, text: string):
      * (d1, d2, c12, c21) where either |A∩B|/|A| direction reaches
      * `threshold` — catches a document embedded in a larger one, which
      * Jaccard-targeted MinHash misses. PPJoin-style rarest-prefix
      * candidate generation (pigeonhole-complete, never all-pairs); `k` is
      * the shingle width — raise it until shingles are effectively unique
      * in the corpus (see DedupOps.containmentPairs). */
    def containmentPairs(threshold: Double = 0.9, k: Int = 5): DataFrame =
      ops.DedupOps.containmentPairs(df, threshold, k)

    // ---- corpus cleaning ------------------------------------------------

    /** Append PII detection + redaction columns (n_email/n_phone/n_ip,
      * redacted, has_pii) for `textCol`. Pure map-side regex work. */
    def piiRedact(textCol: String): DataFrame =
      ops.CleanOps.redactPii(df, textCol)

    /** C4-style boilerplate removal: drop every k-token line appearing in
      * ≥ `minDocs` distinct documents; returns (idCol, n_lines, n_kept,
      * cleaned). */
    def removeFrequentLines(idCol: String, textCol: String,
        k: Int = 3, minDocs: Long = 3): DataFrame =
      ops.CleanOps.removeFrequentLines(df, idCol, textCol, k, minDocs)

    /** Hashed bag-of-words linear classifier score (fastText-style gate):
      * tokens hash into `nBuckets` md5 buckets, the broadcast
      * (bucket, wgt) `weights` table supplies the model; returns
      * (idCol, raw_score, prob, keep). */
    def hashedLinearScore(idCol: String, textCol: String, weights: DataFrame,
        nBuckets: Int = 64, temperature: Double = 100.0): DataFrame =
      ops.CleanOps.linearScore(df, idCol, textCol, weights, nBuckets, temperature)

    // ---- relational patterns ------------------------------------------

    /** Gaps-and-islands sessionization: appends `session_idx` (0-based per
      * `key`), splitting when consecutive `ts` differ by > `gapSeconds`. */
    def sessionize(key: String, ts: String, gapSeconds: Long): DataFrame = {
      val w = Window.partitionBy(col(key)).orderBy(col(ts))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("__prev_us", lag(unix_micros(col(ts)), 1).over(w))
        .withColumn("__new_s",
          when(col("__prev_us").isNull ||
            unix_micros(col(ts)) - col("__prev_us") > gapSeconds * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("__new_s")).over(cum) - 1)
        .drop("__prev_us", "__new_s")
    }

    /** Backward as-of join: for each left row (identified by `leftId`),
      * attach the single right row with the greatest `rightTs` ≤ `leftTs`
      * matching on the equi key — shuffled on the key, never a cross
      * product; ties break on descending `tieBreak`. */
    def asofJoinBackward(right: DataFrame, leftId: String,
        leftKey: String, leftTs: String,
        rightKey: String, rightTs: String, tieBreak: String): DataFrame = {
      val joined = df.join(right,
        df(leftKey) === right(rightKey) && right(rightTs) <= df(leftTs), "inner")
      val w = Window.partitionBy(col(leftId))
        .orderBy(col(rightTs).desc, col(tieBreak).desc)
      joined.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).drop("__rk")
    }

    /** Exact per-group top-k via the graft_topk TypedImperativeAggregate
      * (map-side partial top-k: the shuffle carries O(groups × k) rows).
      * Returns (group, rk, id, value). */
    def topkPerGroup(group: Column, value: Column, id: Column, k: Int): DataFrame = {
      functions.TopKFunctions.register(df.sparkSession)
      df.groupBy(group.as("group"))
        .agg(functions.TopKFunctions.topkBy(value, id, k).as("__top"))
        .select(col("group"), posexplode(col("__top")).as(Seq("__i", "__p")))
        .select(col("group"), (col("__i") + 1).cast("long").as("rk"),
          col("__p.id").as("id"), col("__p.value").as("value"))
    }

    /** Two-stage salted aggregation (count + exact sum) for skewed keys. */
    def saltedAgg(key: Column, value: Column, nSalts: Int): DataFrame =
      ops.SkewOps.saltedAgg(df, key, value, nSalts)

    /** All point pairs within `thresh` (planar) via grid-cell candidate
      * generation — never all-pairs; see GeoOps.proximityPairs. */
    def proximityPairs(id: Column, lat: Column, lon: Column,
        thresh: Double): DataFrame =
      ops.GeoOps.proximityPairs(df, id, lat, lon, thresh)

    /** SCD2 history: appends valid_to / is_current per `key` version
      * chain ordered by (`validFrom`, `tieBreak`). */
    def scd2History(key: String, validFrom: String, tieBreak: String): DataFrame =
      ops.HistoryOps.scd2(df, key, validFrom, tieBreak)

    /** CDC fold: latest change per `key` wins, op "D" deletes; see
      * HistoryOps.cdcApply. */
    def cdcApply(key: String, op: String, attrs: Seq[String],
        version: Seq[String]): DataFrame =
      ops.HistoryOps.cdcApply(df, key, op, attrs, version)

    /** Fixed-point PageRank over this (src, dst) edge list (bit-stable
      * across engines and cluster sizes); persist the edges first. */
    def pagerank(iters: Int = 3): DataFrame = ops.GraphOps.pagerank(df, iters)

    /** Weighted single-source shortest paths over this (src, dst, w)
      * edge list, bounded at `rounds` relaxation rounds (≤ `rounds`
      * hops) — frontier Bellman-Ford; persist the edges first. Returns
      * (node, dist) for reached nodes — see graph_sssp. */
    def sssp(source: Long, rounds: Int = 4): DataFrame =
      ops.GraphOps.sssp(df, source, rounds)

    /** One-scan data-contract report: (rule, n_checked, n_violations)
      * for each (name, violation-predicate) pair. */
    def expectations(rules: Seq[(String, Column)]): DataFrame =
      ops.ContractOps.rowExpectations(df, rules)

    /** Single-pass column profile: nulls / distincts / min / max per column. */
    def profileColumns(cols: String*): DataFrame =
      ops.ProfileOps.profile(df, cols)

    // ---- training-data pipeline ---------------------------------------

    /** Deterministic train/val/test assignment (90/5/5) as a pure function
      * of `key` — stable under repartition and corpus growth. */
    def splitAssign(key: String): DataFrame =
      df.withColumn("split", ops.SplitOps.splitLabel(col(key)))

    /** Token-budget bin packing: appends `bin` per `partitionCol`, filled
      * in `orderCol` order so that each bin's `weightCol` sum stays near
      * `capacity` (window-cumsum formulation — single keyed window). */
    def packBins(partitionCol: String, orderCol: String, weightCol: String,
        capacity: Long): DataFrame = {
      val w = Window.partitionBy(col(partitionCol)).orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn("__cum", sum(col(weightCol)).over(w))
        .withColumn("bin", ((col("__cum") - col(weightCol)) / capacity).cast("long"))
        .drop("__cum")
    }

    /** Per-document text quality stats over `textCol`: token counts,
      * type-token ratio, average token length. */
    def textQuality(textCol: String): DataFrame = {
      val t = ops.Tokens.toks(col(textCol))
      val nTok = size(t).cast("long")
      val nDis = size(array_distinct(t)).cast("long")
      // closed form: tokens are the text split on single spaces, so total
      // token chars = length - (n_tokens - 1); stays in codegen (the HOF
      // fold evaluates interpreted) and cannot overflow an Int accumulator
      val totChars = length(col(textCol)).cast("long") - (nTok - 1L)
      df.withColumn("n_tokens", nTok)
        .withColumn("n_distinct", nDis)
        .withColumn("ttr", nDis.cast("double") / nTok.cast("double"))
        .withColumn("avg_token_len", totChars.cast("double") / nTok.cast("double"))
    }

    /** Stratified sampling with exact per-stratum quotas: keeps the first
      * `n` rows of each `stratum`, ranked by a pure md5 of `key` —
      * reproducible across runs and partitionings PROVIDED `key` is
      * unique per row (duplicate keys tie on both the hash and the
      * tiebreak, leaving which physical duplicate survives partition-
      * dependent); plans as WindowGroupLimit (per-partition top-n, no
      * global sort). */
    def stratifiedSample(stratum: String, key: String, n: Int): DataFrame = {
      val w = Window.partitionBy(col(stratum))
        .orderBy(col("__hk").asc, col(key).asc)
      df.withColumn("__hk", md5(col(key).cast("string").cast("binary")))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") <= n)
        .drop("__hk", "__rk")
    }

    /** Benchmark decontamination: per document (`idCol`, `textCol`), the
      * word-`k`-gram overlap with `bench`'s text column of the same name —
      * (id, n_grams, n_hit, contamination, flagged ≥ threshold). Only docs
      * with ≥ 1 overlapping gram appear. The benchmark gram set is
      * broadcast (eval suites are fixed-size; the corpus is not). */
    def decontaminateAgainst(bench: DataFrame, idCol: String,
        textCol: String, k: Int = 8, threshold: Double = 0.5): DataFrame = {
      def grams(c: Column) = array_distinct(ops.Tokens.shingles(c, k))
      val bgrams = bench.select(explode(grams(col(textCol))).as("__g")).distinct()
      // gram set projected to an attribute below the Generate: the shingle
      // HOF evaluates interpreted, and referencing it twice in one select
      // (size + explode) would compute it twice per corpus row
      df.select(col(idCol), grams(col(textCol)).as("__gs"))
        .select(col(idCol), size(col("__gs")).cast("long").as("n_grams"),
          explode(col("__gs")).as("__g"))
        .join(broadcast(bgrams), "__g")
        .groupBy(col(idCol), col("n_grams"))
        .agg(count(lit(1)).as("n_hit"))
        .withColumn("contamination",
          col("n_hit").cast("double") / col("n_grams").cast("double"))
        .withColumn("flagged", col("contamination") >= threshold)
    }

    /** Int8 scale quantization of `vecCol: array<double>`: appends
      * `<vecCol>_i8` (values in [-127, 127]) and `<vecCol>_scale`
      * (per-vector dequantization factor) — the 4× embedding-store
      * memory path. */
    def quantizeI8(vecCol: String): DataFrame =
      df.withColumn("__scale",
          aggregate(col(vecCol), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
        .withColumn(s"${vecCol}_i8",
          // zero-vector guard: under Spark's default ANSI mode x / 0.0
          // THROWS (DIVIDE_BY_ZERO) instead of yielding NaN — an all-zero
          // padding row must quantize to zeros, not kill the job
          transform(col(vecCol), x =>
            when(col("__scale") === 0.0, lit(0))
              .otherwise(round(x / col("__scale"), 0).cast("int"))))
        .withColumnRenamed("__scale", s"${vecCol}_scale")

    /** Brute-force cosine top-k neighbors: `df` are candidates with
      * (`idCol`, `vecCol: array<double>`); `queries` shares the schema and
      * is broadcast. Returns (q_id, rk, id, sim). */
    def cosineTopK(queries: DataFrame, idCol: String, vecCol: String,
        k: Int): DataFrame = {
      val s = df.sparkSession
      functions.VectorFunctions.register(s)
      import functions.VectorFunctions.{dot, norm}
      val cand = df.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("nrm", norm(col("v")))
      val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
        .withColumn("qn", norm(col("qv")))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("id").asc)
      cand.join(broadcast(q))
        .withColumn("sim", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("q_id"), col("rk").cast("long").as("rk"), col("id"), col("sim"))
    }

    /** Batched more-like-this BM25 retrieval: each id in `queryIds` is a
      * query whose own distinct terms score every other document (BM25
      * k1=1.2, b=0.75), ranked per query with self-hits excluded. The
      * corpus is tokenized and scored ONCE for the whole batch under a
      * broadcast query-term table. Returns (q_id, doc_id, score, rk)
      * with rk <= topN — the lexical serving arm of text_hybrid_rrf as a
      * generic operator. */
    def moreLikeThis(idCol: String, textCol: String, queryIds: Seq[Long],
        topN: Int = 20): DataFrame =
      ops.TextOps.moreLikeThis(df, idCol, textCol, queryIds, topN)

    /** Temporal (as-of-validity) enrichment: each left row joins the
      * `dim` version valid at its `at` instant — key equality plus
      * `validFrom <= at < validTo` (NULL `validTo` = open tail). The dim
      * history broadcasts; the join is stateless and works identically
      * under batch and foreachBatch/stream-static execution
      * (stream_temporal_join is this operator on the events stream). */
    def temporalJoin(dim: DataFrame, key: String, at: String,
        validFrom: String = "valid_from",
        validTo: String = "valid_to"): DataFrame =
      df.join(broadcast(dim),
        df(key) === dim(key) && df(at) >= dim(validFrom) &&
          (dim(validTo).isNull || df(at) < dim(validTo)))
        .drop(dim(key))

    /** Sweep-line interval concurrency: peak number of simultaneously
      * open `[start, end)` intervals per `key`, with the instant the peak
      * is first reached. One keyed window — no interval×interval
      * self-join (rel_interval_overlap is this operator on orders). */
    def maxConcurrent(key: Column, start: Column, end: Column): DataFrame = {
      val iv = df.select(key.as("k"), start.as("st"), end.as("en"))
      val deltas = iv.select(col("k"), col("st").as("t"), lit(1L).as("d"))
        .unionAll(iv.select(col("k"), col("en").as("t"), lit(-1L).as("d")))
      val w = Window.partitionBy(col("k")).orderBy(col("t"), col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val running = deltas.withColumn("c", sum(col("d")).over(w))
      val mc = running.groupBy(col("k")).agg(max(col("c")).as("max_concurrent"))
      running.join(broadcast(mc), "k")
        .filter(col("c") === col("max_concurrent"))
        .groupBy(col("k"), col("max_concurrent"))
        .agg(min(col("t")).as("peak_ts"))
    }

    /** Time-grid resampling with forward fill: one row per (`key`,
      * `unit` bucket), carrying the last observation at or before the
      * bucket; ties inside a bucket resolve by (`ts`, `ord`). Each key's
      * grid starts at its own first observation by default;
      * `alignedStart = true` starts every key at the frame's global
      * minimum instead (rows before a key's first observation carry NULL
      * `filled`). Returns (key, hour, filled, is_obs) — see
      * ts_resample_ffill. */
    def resampleFfill(key: String, ts: String, ord: String, value: String,
        unit: String = "hour", alignedStart: Boolean = false): DataFrame =
      ops.TimeSeriesOps.resampleFfill(df, key, ts, ord, value, unit,
        alignedStart)

    /** Per-series lag/rolling model features in ONE keyed window lineage:
      * lag1, trailing-`n` exact-decimal mean, rolling min/max, and the
      * microsecond gap to the previous row — see ts_lag_features. */
    def lagFeatures(key: String, ts: String, ord: String, value: String,
        n: Int = 5): DataFrame =
      ops.TimeSeriesOps.lagFeatures(df, key, ts, ord, value, n)

    /** Rolling z-score anomaly detection: each point scored against the
      * trailing-`n` window's decimal-exact mean/std, |z| > `thresh`
      * flagged; only full windows emit. Returns (key, ord, z, is_anom) —
      * see ts_anomaly_zscore. */
    def anomalyZscore(key: String, ts: String, ord: String, value: String,
        n: Int = 24, thresh: Double = 2.5, scale: Int = 2): DataFrame =
      ops.TimeSeriesOps.anomalyZscore(df, key, ts, ord, value, n, thresh,
        scale)

    /** Time-grid resampling with linear interpolation between bracketing
      * observations (no extrapolation past each key's last). Returns
      * (key, hour, interp, is_obs) — see ts_interp_linear. */
    def interpLinear(key: String, ts: String, ord: String, value: String,
        unit: String = "hour"): DataFrame =
      ops.TimeSeriesOps.interpLinear(df, key, ts, ord, value, unit)

    /** Bounded exponentially weighted moving average: weight (1-`alpha`)^i
      * on the i-th previous value, truncated at `n` terms and renormalized
      * over present terms. Returns (key, ord, ewma) — see ts_ewma. */
    def ewma(key: String, ts: String, ord: String, value: String,
        n: Int = 8, alpha: Double = 0.3): DataFrame =
      ops.TimeSeriesOps.ewma(df, key, ts, ord, value, n, alpha)

    /** Per-series autocorrelation at lags 1..`maxLag`: Pearson correlation
      * of the series with its own k-shifted self, decimal-exact moments.
      * Returns (key, k, acf), acf NULL when either side is degenerate —
      * see ts_autocorr. */
    def autocorr(key: String, ts: String, ord: String, value: String,
        maxLag: Int = 3): DataFrame =
      ops.TimeSeriesOps.autocorr(df, key, ts, ord, value, maxLag)

    /** Mean-shift changepoint score: trailing-`k` vs leading-`k` window
      * mean separation over the pooled std, > `thresh` flagged; both
      * windows must be full. Returns (key, ord, shift_z, is_cp) — see
      * ts_changepoint. */
    def changepoint(key: String, ts: String, ord: String, value: String,
        k: Int = 12, thresh: Double = 3.0, scale: Int = 2): DataFrame =
      ops.TimeSeriesOps.changepoint(df, key, ts, ord, value, k, thresh,
        scale)

    /** Moving-average seasonal decomposition: value = trend (centered
      * `width`-row mean) + seasonal (per-(key, hour-of-day) detrended
      * mean) + remainder. Returns (key, ord, trend, seasonal, remainder)
      * — see ts_seasonal_decompose. */
    def seasonalDecompose(key: String, ts: String, ord: String,
        value: String, width: Int = 24): DataFrame =
      ops.TimeSeriesOps.seasonalDecompose(df, key, ts, ord, value, width)

    /** Leave-one-out target encoding: each row's `cat` encoded as the
      * mean `target` of the OTHER rows in its category ((S_c - t_i) /
      * (n_c - 1)); singleton categories fall back to the global prior
      * with is_fallback = 1. Appends loo_enc / is_fallback — see
      * rel_target_encode. */
    def targetEncode(cat: String, target: String): DataFrame =
      ops.Relational2.targetEncode(df, cat, target)

    /** Per-group mode with a deterministic smaller-value tie-break.
      * Returns (grp, mode_value, mode_cnt, n_rows, mode_share) — see
      * rel_mode_stat. */
    def modeBy(group: Column, value: Column): DataFrame =
      ops.StatOps.mode(df, group, value)

    /** Pearson correlation + least-squares slope/intercept per group from
      * exact BIGINT moment sums (y rounded to whole units) — see
      * rel_corr_regr. */
    def corrRegr(group: Column, x: Column, y: Column): DataFrame =
      ops.StatOps.corrRegr(df, group, x, y)

    /** Per-group Gini impurity of a categorical + majority class/share —
      * see rel_gini_impurity. */
    def giniImpurity(group: Column, cls: Column): DataFrame =
      ops.StatOps.giniImpurity(df, group, cls)

    /** χ² contingency cells between two categoricals: observed, expected,
      * per-cell contribution — see rel_chi2_cells. */
    def chi2Cells(a: Column, b: Column): DataFrame =
      ops.StatOps.chi2Cells(df, a, b)

    /** Benford first-significant-digit audit of a positive numeric
      * column: observed share vs log10(1+1/d) expectation per digit —
      * see rel_benford. */
    def benford(value: Column): DataFrame = ops.StatOps.benford(df, value)

    /** Per-node clustering coefficient over this undirected simple edge
      * frame (u, v), u < v deduplicated — see graph_clustering_coeff. */
    def clusteringCoeff(): DataFrame = ops.GraphOps.clusteringCoeff(df)

    /** Degree assortativity of this undirected simple edge frame (u, v)
      * — see graph_assortativity. */
    def assortativity(): DataFrame = ops.GraphOps.assortativity(df)

    /** HITS hub/authority scores over this directed (src, dst) edge
      * frame — see graph_hits. */
    def hits(iters: Int = 4): DataFrame = ops.GraphOps.hits(df, iters)

    /** Cramér's V association strength between two categoricals over
      * the full r×c grid — see rel_cramers_v. */
    def cramersV(a: Column, b: Column): DataFrame =
      ops.StatOps.cramersV(df, a, b)

    /** Bradley–Terry strength fit over this head-to-head comparison
      * frame (pa, pb, win_a ∈ {0,1}) — see rel_bradley_terry. EAGER:
      * runs the MM iterations at call. */
    def bradleyTerry(t: Int = 6): DataFrame =
      ops.TrainOps.bradleyTerry(df, t)

    /** Mutual information between two categoricals: per-cell PMI
      * contribution + total MI in nats on every row — see
      * rel_mutual_info. */
    def mutualInfo(a: Column, b: Column): DataFrame =
      ops.StatOps.mutualInfo(df, a, b)

    /** First-order Markov transition counts + row-normalized
      * probabilities over per-key event sequences — see
      * rel_markov_transitions. */
    def markovTransitions(key: Column, ts: Column, ord: Column,
        state: Column): DataFrame =
      ops.StatOps.markovTransitions(df, key, ts, ord, state)

    /** Mann–Whitney U rank-sum test of `value` between rows where `inA`
      * holds vs the rest — see rel_mann_whitney. EAGER: rank substrate
      * runs at call. */
    def mannWhitney(inA: Column, value: Column, ord: Column): DataFrame =
      ops.StatOps.mannWhitney(df, inA, value, ord)

    /** Welch's unequal-variance two-sample t-test per group between arms
      * `armA`/`armB` of `arm`: means, t statistic, Welch–Satterthwaite
      * df — see rel_welch_ttest. */
    def welchTTest(group: Column, arm: Column, armA: String, armB: String,
        value: Column): DataFrame =
      ops.StatOps.welchTTest(df, group, arm, armA, armB, value)

    /** Greedy maximal-marginal-relevance re-ranking of this candidate
      * frame (q_id, vec_id, rel) against the directional pair-sim frame
      * `pairs` (q_id, a_id, b_id, psim): K picks per query maximizing
      * λ·rel − (1−λ)·max-sim-to-selected — see sim_mmr_rerank. `pairs`
      * may be SPARSE (absent pair rows score max-sim 0, i.e. maximally
      * diverse); a complete N² matrix is not required. */
    def mmrSelect(pairs: DataFrame, k: Int, lam: Double): DataFrame =
      ops.Similarity.mmrSelect(df, pairs, k, lam)

    /** Dominant ACF period per series of this event frame (lag ≥ 2
      * argmax over the hourly aggregate) — see ts_dominant_period. */
    def dominantPeriod(series: String, ts: String, value: String,
        maxLag: Int = 26, minLag: Int = 2): DataFrame =
      ops.TimeSeriesOps.dominantPeriod(df, series, ts, value, maxLag, minLag)

    /** Per-group Shannon entropy (+ normalized H/ln k) of a categorical
      * — see rel_entropy. */
    def entropyBy(group: Column, cls: Column): DataFrame =
      ops.StatOps.entropyBy(df, group, cls)

    /** Lagged cross-correlation between two named series of this event
      * frame at lags 0..maxLag — see ts_cross_corr. */
    def crossCorr(ts: String, series: Column, value: Column,
        seriesX: String, seriesY: String, maxLag: Int = 3): DataFrame =
      ops.TimeSeriesOps.crossCorr(df, ts, series, value, seriesX, seriesY,
        maxLag)

    /** Gini/Lorenz concentration of `value` mass across `key` — see
      * rel_gini_concentration. EAGER: rank substrate runs at call. */
    def giniConcentration(key: Column, value: Column): DataFrame =
      ops.StatOps.giniConcentration(df, key, value)

    /** Grid-density spatial clustering of this frame's lat/lon columns
      * (dense cells, 8-adjacency components) — see geo_cluster_grid.
      * EAGER: iterates the components kernel at call. */
    def clusterGrid(minPts: Long): DataFrame =
      ops.GeoOps.clusterGrid(df, minPts)

    /** Market-basket association per co-occurring item pair: support,
      * confidence, lift from exact counts — see rel_basket_lift.
      * Items with < minSupport baskets are a-priori-prefiltered BEFORE
      * the per-basket pair join; a basket holding > maxBasketItems
      * post-filter items raises in-plan (its pair explosion would land
      * on one task) rather than silently choking.
      * Default minSupport = 1 reports every co-occurring pair (the
      * original contract; the r14 guard work briefly defaulted to 2,
      * which silently dropped support-1 pairs for existing callers —
      * pass minSupport = 2+ to enable the a-priori prefilter). */
    def basketLift(basket: Column, item: Column, minSupport: Long = 1L,
        maxBasketItems: Long = 4096L): DataFrame =
      ops.StatOps.basketLift(df, basket, item, minSupport, maxBasketItems)

    /** CUSUM changepoint per key over hourly sums — the argmax-|cusum|
      * hour, the GLOBAL single-shift complement of the per-point
      * two-window `changepoint` score — see ts_changepoint_cusum. */
    def cusumChangepoint(key: Column, ts: Column, value: Column): DataFrame =
      ops.StatOps.cusumChangepoint(df, key, ts, value)

    /** Gear content-defined chunking + corpus-wide chunk-recurrence
      * histogram — byte-shift-resistant sub-document dedup; see
      * dedup_cdc_chunks. */
    def cdcChunks(id: Column, text: Column): DataFrame =
      ops.DedupOps.cdcChunks(df, id, text)

    /** RAKE keyphrase extraction: top-k stopword-delimited phrases per
      * document by deg/freq word scores — see text_rake_keywords. */
    def rakeKeywords(id: Column, text: Column,
        stops: Seq[String] = Seq("the", "a", "of", "to", "and"),
        k: Int = 3): DataFrame =
      ops.TextOps.rakeKeywords(df, id, text, stops, k)

    /** A-priori frequent itemsets (sizes 1–3) at `minSupport`, with the
      * basketLift hot-basket raise — see rel_freq_itemsets. */
    def freqItemsets(basket: Column, item: Column, minSupport: Long = 2L,
        maxBasketItems: Long = 4096L): DataFrame =
      ops.StatOps.freqItemsets(df, basket, item, minSupport, maxBasketItems)

    /** Rolling-median/MAD anomaly flags (robust sibling of
      * ts_anomaly_zscore) over per-key series — see ts_anomaly_mad. */
    def anomalyMad(key: String, ts: String, ord: String, value: String,
        n: Int = 25, k: Double = 3.0): DataFrame =
      ops.TimeSeriesOps.anomalyMad(df, key, ts, ord, value, n, k)

    /** Kaplan–Meier survival of per-key lifetime with right-censoring
      * near the corpus end — see rel_survival_km. */
    def survivalKm(key: Column, ts: Column, cohort: Column,
        censorHours: Int = 24): DataFrame =
      ops.StatOps.survivalKm(df, key, ts, cohort, censorHours)

    /** Double-exponential-smoothing (Brown) level/trend + h-step
      * forecasts per series — see ts_des_forecast. */
    def desForecast(key: String, ts: String, ord: String, value: String,
        n: Int = 8, alpha: Double = 0.3, horizon: Int = 3): DataFrame =
      ops.TimeSeriesOps.desForecast(df, key, ts, ord, value, n, alpha,
        horizon)

    /** Consecutive step-sequence occurrences per key (MATCH_RECOGNIZE
      * shape) — see rel_sequence_match. */
    def sequenceMatch(key: Column, order: Seq[Column], step: Column,
        id: Column, ts: Column, pattern: Seq[String]): DataFrame =
      ops.StatOps.sequenceMatch(df, key, order, step, id, ts, pattern)

    /** Theil–Sen robust trend slope per series: median pairwise slope
      * over each key's first-`w` observations — see ts_theil_sen. */
    def theilSen(key: String, ts: String, ord: String, value: String,
        w: Int = 40): DataFrame =
      ops.TimeSeriesOps.theilSen(df, key, ts, ord, value, w)

    /** Adjacent-token bigram occurrences of `text` — see
      * text_bigram_topk. */
    def bigrams(text: Column): DataFrame = ops.CorpusOps.bigrams(df, text)

    /** Curriculum shard manifest: global `score` order via globalRank,
      * contiguous fixed-size shards, one manifest row per shard — see
      * text_curriculum_shards. */
    def curriculumShards(score: String, id: String,
        shardSize: Long): DataFrame =
      ops.CorpusOps.curriculumShards(df, score, id, shardSize)

    /** k-core decomposition of an (src, dst) edge frame by iterative
      * peeling; fails loudly if unconverged within `rounds` — see
      * graph_kcore. */
    def kcore(k: Int, rounds: Int = 20): DataFrame =
      ops.GraphOps.kcore(df, k, rounds)

    /** Deterministic synchronous label propagation (community detection)
      * over an (src, dst) edge frame for exactly `rounds` rounds — see
      * graph_label_prop. */
    def labelPropagate(rounds: Int = 4): DataFrame =
      ops.GraphOps.labelPropagate(df, rounds)

    /** Winsorized per-group summary: discrete pLow/pHigh percentile
      * bounds + exact-decimal winsorized mean — see rel_winsorize. */
    def winsorize(group: Column, value: Column, pLow: Int = 5,
        pHigh: Int = 95): DataFrame =
      ops.StatOps.winsorize(df, group, value, pLow, pHigh)

    /** Gaps-and-islands: top-k longest contiguous runs of a sparse
      * integer key + the island count — see rel_gaps_islands. */
    def gapsIslands(key: Column, topK: Int = 20): DataFrame =
      ops.StatOps.gapsIslands(df, key, topK)

    /** Gains table: 10 score-ordered deciles with cumulative capture and
      * lift — see rel_decile_lift. */
    def decileLift(score: Column, id: Column, pos: Column): DataFrame =
      ops.StatOps.decileLift(df, score, id, pos)

    /** Link prediction over an (src, dst) edge frame: top-k non-adjacent
      * pairs by neighborhood Jaccard — see graph_link_predict. */
    def linkPredict(topK: Int = 50): DataFrame =
      ops.GraphOps.linkPredict(df, topK)

    /** Exact interpolated per-group percentiles on the scalable rank
      * substrate (range exchange + boundary-row interpolation — never
      * Spark's whole-group-in-one-buffer `percentile` aggregate); `ps`
      * maps output column name → percentile in [0, 1]. EAGER: the rank
      * substrate's offset pass runs at plan build — see rel_percentile. */
    def groupedQuantiles(grp: String, value: String,
        ps: Seq[(String, Double)]): DataFrame =
      ops.Relational2.groupedQuantiles(df, grp, value, ps)

    /** Exact two-sample Kolmogorov–Smirnov drift statistic between the
      * rows where `inRef` holds and the rest, over `value`; `id` breaks
      * ties into a total order. One row: (ks_stat, at_value, n_ref,
      * n_cur). EAGER (rank substrate) — see rel_ks_drift. */
    def ksDrift(inRef: Column, value: Column, id: Column): DataFrame =
      ops.StatOps.ksDrift(df, inRef, value, id)

    /** Population Stability Index between the `inRef` sample and the
      * rest: reference-decile bins, per-bin shares and terms, exact
      * decimal total riding each row. EAGER — see rel_psi_drift. */
    def psiDrift(inRef: Column, value: Column, id: Column,
        bins: Int = 10): DataFrame =
      ops.StatOps.psiDrift(df, inRef, value, id, bins)

    /** Per-label embedding drift between the `inRef` slice and the rest:
      * cosine between the two half-centroids (decimal-exact per-dim
      * means), plus centroid norms and slice sizes — see
      * sim_embedding_drift. */
    def embeddingDrift(label: Column, inRef: Column, vec: Column): DataFrame =
      ops.Similarity.embeddingDrift(df, label, inRef, vec)

    /** Degree distribution power-law fit over an (src, dst) edge frame:
      * OLS through the (ln degree, ln count) histogram points, exact
      * decimal moments — see graph_degree_powerlaw. */
    def degreePowerlaw(): DataFrame = ops.GraphOps.degreePowerlaw(df)

    /** Train a ridge linear keep/drop classifier over hashed bag-of-words
      * features of (`idCol`, `textCol`) against the boolean `label` by
      * full-batch gradient descent; returns the per-step learning curve
      * (sep_gap, acc, bias, class means) — deterministic under any
      * partitioning. EAGER: runs the training loop — see
      * text_quality_train. */
    def ridgeTrain(idCol: String, textCol: String, label: Column,
        steps: Int = 4, lr: Double = 0.5, lambda: Double = 0.001,
        nBuckets: Int = 64): DataFrame =
      ops.TrainOps.ridgeTrain(df, idCol, textCol, label, steps, lr,
        lambda, nBuckets)

    // ------------------------------------------------- round-15 surface

    /** Best single-threshold split of `label` on `feature` by weighted
      * Gini over cent-quantized candidates — see rel_decision_stump. */
    def decisionStump(feature: Column, label: Column): DataFrame =
      ops.StatOps.decisionStump(df, feature, label)

    /** Sample-ratio-mismatch screen per `group`: χ² of distinct-`unit`
      * arm counts vs the even split — see rel_ab_srm. */
    def srmCheck(group: Column, unit: Column, arm: Column): DataFrame =
      ops.StatOps.srmCheck(df, group, unit, arm)

    /** Newman–Girvan modularity of `labels` (node, lbl) over this
      * (src, dst) edge frame — see graph_modularity. */
    def modularity(labels: DataFrame): DataFrame =
      ops.GraphOps.modularity(df, labels)

    /** PMI-ranked adjacent-bigram collocations of `text` with a
      * min-frequency stability floor — see text_pmi_collocations. */
    def pmiCollocations(text: Column, minCf: Long = 5L,
        topK: Int = 30): DataFrame =
      ops.CorpusOps.pmiCollocations(df, text, minCf, topK)

    /** Heaps'-law vocabulary-growth fit (β, ln K, corr) along `id`
      * order, sampled at doc-id buckets — see text_heaps_law. */
    def heapsLaw(id: Column, text: Column, buckets: Long = 64L): DataFrame =
      ops.CorpusOps.heapsLaw(df, id, text, buckets)

    /** Chord-deviation trajectory simplification per `key` track —
      * see geo_track_simplify. */
    def trackSimplify(key: Column, ts: Column, ord: Column, lat: Column,
        lon: Column, eps: Double = 0.2): DataFrame =
      ops.GeoOps.trackSimplify(df, key, ts, ord, lat, lon, eps)

    /** Rolling-origin one-step backtest of the EWMA forecaster vs naive
      * persistence per series — see ts_forecast_backtest. */
    def forecastBacktest(key: String, ts: String, ord: String,
        value: String, n: Int = 8, alpha: Double = 0.3): DataFrame =
      ops.TimeSeriesOps.forecastBacktest(df, key, ts, ord, value, n, alpha)

    /** Centroid silhouette of this (vec_id, v) frame against a
      * (cid, cv) centroid table — see sim_silhouette. */
    def silhouette(centroids: DataFrame): DataFrame =
      ops.Similarity.silhouetteFrom(df, centroids)

    // ------------------------------------------------- round-16 surface

    /** CUPED variance-reduced A/B readout per `group` experiment: θ =
      * cov(pre, post)/var(pre) over per-`unit` cent-exact metric sums
      * split at the time-range midpoint, the variance-reduction factor,
      * and raw vs adjusted treatment-control differences — see
      * rel_cuped. Degenerate frames (constant pre-metric, one-arm
      * groups) emit NULL, never NaN. */
    def cupedAdjust(group: Column, unit: Column, arm: Column,
        ts: Column, value: Column): DataFrame =
      ops.StatOps.cupedAdjust(df, group, unit, arm, ts, value)

    /** Bounded additive Holt-Winters forecast per `key` series: the
      * hour-of-day seasonal index subtracted before two Brown smoothing
      * passes and re-added at the forecast phase — see ts_holt_winters. */
    def holtWinters(key: String, ts: String, ord: String, value: String,
        width: Int = 24, n: Int = 8, alpha: Double = 0.3,
        horizon: Int = 3): DataFrame =
      ops.TimeSeriesOps.holtWinters(df, key, ts, ord, value, width, n,
        alpha, horizon)

    /** Distributed EXACT prefix sums over this frame ordered by
      * `orderKeys` (which must form a total order when cumulative-value
      * identity across ties matters): appends `__cum_<col>` and
      * `__tot_<col>` for each LongType column named in `sumCols`. The
      * scalable spelling of `sum(...) over (order by k)` — a range
      * exchange plus broadcast per-partition offsets, never a
      * single-partition window. EAGER: the offset pass runs at call. */
    def prefixSums(orderKeys: Seq[Column], sumCols: Seq[String]): DataFrame =
      ops.Relational2.prefixSums(df, orderKeys, sumCols)
  }
}
