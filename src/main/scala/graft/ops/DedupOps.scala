package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tokens._

/** Document deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH (shingle → minhash → band → bucket-join
  * → verified candidate pairs), and SimHash fingerprints.
  *
  * Everything is hash-partitioned aggregation / equi-join — no pairwise
  * O(n²) stage ever materializes: candidate pairs come only from LSH bucket
  * co-membership, which is the standard way exact-verify near-dup scales to
  * 100 TB (the bucket join shuffles on (band, bucket-hash), a key whose
  * cardinality grows with corpus size; skew = many docs in one bucket =
  * genuinely near-identical docs, which a real pipeline caps or merges).
  *
  * MinHash derives 8 "permutations" from one md5 per word-3-shingle (128
  * bits = 8 x 16-bit chunks), banded 4 x r=2 — md5 so the DuckDB oracle
  * reproduces the signatures bit-for-bit.
  */
object DedupOps {

  private val SHINGLE_K = 3
  private[graft] val N_MINHASH = 8 // md5 chunks per shingle
  private[graft] val N_BANDS = 4   // bands of r = 2 minhashes each

  // balanced: the md5/shingle kernels are expression-heavy per-row work
  // that must not run on a single scan partition (see Tables.balanced)
  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.balanced(s, dir, "documents", "doc_id")

  /** Distinct shingle set of a document, kept as an array column. Keeping
    * the set in-row (instead of exploding to a (doc_id, shingle) table)
    * is the scale-critical choice: signatures become a pure per-row
    * projection — zero shuffle, and ~100× faster than explode+groupBy at
    * sf0.1 (measured: 0.3s vs 24s). */
  private def shingleSet: Column =
    array_distinct(shingles(col("text"), SHINGLE_K))

  /** Exact dedup: md5 fingerprint → keeper (min doc_id) + multiplicity. */
  private def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        max(col("n_chars")).as("n_chars"))
      .orderBy(col("fp"))

  /** Incremental exact dedup — the shape a continuously-ingesting pipeline
    * runs instead of re-deduping the whole corpus: the incoming batch
    * (doc_id % 10 == 0 standing in for today's crawl) is first deduped
    * within itself (min-doc_id keeper per fingerprint), then anti-joined
    * against the HISTORICAL corpus's fingerprint set. Only genuinely new
    * documents survive.
    *
    * Scale shape: the anti-join shuffles fingerprints, not documents — the
    * history side is a 16-byte-key projection, and the batch side is tiny
    * relative to history. (Spark's runtime bloom-filter join pruning —
    * pinned in PlanSpec — prefilters exactly this shape when the batch
    * side is selective; a production pipeline additionally keeps history
    * as a bucketed fingerprint table so the anti-join is zero-exchange on
    * the history side.) */
  private def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val hist = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
    batch.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_batch"))
      .join(hist.select(col("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"), col("n_batch"))
      .orderBy(col("doc_id"))
  }

  final case class MinHashSig(doc_id: Long,
      mh0: String, mh1: String, mh2: String, mh3: String,
      mh4: String, mh5: String, mh6: String, mh7: String)

  /** MinHash signatures: one md5 per distinct shingle, split into 8
    * 16-bit hex chunks (md5 is 128 bits = exactly 8 chunks), per-chunk min
    * over the shingle set — 8 "permutations" for the price of one hash.
    *
    * Implemented as a typed mapPartitions kernel: the computation is
    * per-row scalar work with a data-dependent inner loop, which Spark's
    * higher-order-function expressions evaluate interpreted (no codegen) —
    * measured 5-10x slower than this JVM loop. The kernel is narrow (no
    * shuffle, embarrassingly parallel) and byte-identical to the DuckDB
    * oracle (`sigCte`): same shingles, same md5 hex, same lexicographic
    * chunk min. Streaming-safe (stateless) — also feeds
    * StreamOps.streamingNearDup on an unbounded doc stream. */
  private[graft] def minhashSig(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    d.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          // chunk j = digest bytes [2j, 2j+1] as an unsigned 16-bit int;
          // numeric min == lexicographic min of the fixed-width lowercase
          // hex the oracle compares (substr(md5(w), 1+4j, 4))
          val mins = Array.fill(N_MINHASH)(0x10000)
          Tokens.shingleStrings(text, SHINGLE_K).distinct.foreach { w =>
            md.reset()
            val dg = md.digest(w.getBytes("UTF-8"))
            var j = 0
            while (j < N_MINHASH) {
              val c = ((dg(2 * j) & 0xff) << 8) | (dg(2 * j + 1) & 0xff)
              if (c < mins(j)) mins(j) = c
              j += 1
            }
          }
          def hex(j: Int) = f"${mins(j)}%04x"
          MinHashSig(id, hex(0), hex(1), hex(2), hex(3),
            hex(4), hex(5), hex(6), hex(7))
        }
      }.toDF()
  }

  private def minhashQuery(s: SparkSession, dir: String): DataFrame =
    minhashSig(docs(s, dir)).orderBy(col("doc_id"))

  /** One row per (band, bucket, doc): 4 bands of r=2 rows — bucket key is
    * the concatenation of two minhashes, so band-collision probability is
    * J^2 rather than J. With single-hash bands a corpus of moderately
    * overlapping docs explodes into candidate pairs (measured 42k pairs /
    * 5k docs at sf0.1); r=2 keeps near-dup recall at 1-(1-J^2)^4 (98% at
    * J=0.8) while cutting random-pair collisions ~10x. A single explode of
    * a 4-struct array — one pass over sig. */
  private[graft] def bandTable(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      explode(array((0 until N_BANDS).map(i =>
        struct(lit(i).as("band"),
          concat(col(s"mh${2 * i}"), col(s"mh${2 * i + 1}")).as("bucket"))): _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("doc_id"))

  /** LSH buckets holding >1 doc — the near-dup candidate groups. */
  private def lshBuckets(s: SparkSession, dir: String): DataFrame =
    stagedBands(s, dir)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("band"), col("bucket"))

  /** Full near-dup pipeline: LSH candidate pairs, exact-verified with
    * shingle-set Jaccard ≥ 0.8. The pairwise work is restricted to bucket
    * co-members; Jaccard is computed by equi-joining each pair side to the
    * per-doc shingle-set arrays and intersecting in-row (array_intersect)
    * — two shuffles keyed on doc_id, no (doc, shingle) explosion. At scale
    * the pair table is far smaller than the corpus, so each join moves
    * only the candidate docs' shingle sets. */
  private def lshNearDupPairs(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir).orderBy(col("d1"), col("d2"))

  // LSH staging tables (see graft.ops.Staging): bands/pairs/sets are each
  // read by several consumer queries and by both sides of the verify joins
  private def staged(s: SparkSession, dir: String, key: String)
                    (build: => DataFrame): DataFrame =
    Staging.staged(s, dir, key)(build)

  /** The staged minhash signature table — the ONE run of the per-doc
    * MinHash kernel every LSH consumer shares (r15: "bands" used to
    * embed its own minhashSig call, so the kernel ran twice per bench
    * pass — once building "sig", once building "bands"). */
  private def stagedSig(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "sig")(minhashSig(docs(s, dir)))

  /** The staged production band table, derived FROM the staged sig. */
  private def stagedBands(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "bands")(bandTable(stagedSig(s, dir)))

  /** Candidate pairs from a band table: bucket co-members, deduped. */
  private def pairsFromBands(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()

  private def candidatePairs(s: SparkSession, dir: String): DataFrame = {
    val bands = stagedBands(s, dir)
    // pairs is read three times downstream (candidate-id union + both join
    // sides) — staged too
    staged(s, dir, "pairs")(pairsFromBands(bands))
  }

  /** Restrict docs to those appearing in `pairs` BEFORE computing a
    * per-doc feature column (the verify stage should never build feature
    * sets for the whole corpus — candidates are a tiny fraction of it, and
    * the semi-join must precede the projection for that pruning to
    * happen). */
  private def forCandidates(pairs: DataFrame, d: DataFrame)(feature: Column): DataFrame = {
    val cand = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2").as("doc_id"))).distinct()
    d.join(cand, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), feature)
  }

  private val NGRAM = 3

  /** Distinct character 3-gram set of a document (shared helper; same
    * zero-shuffle in-row rationale as `shingleSet`). */
  private def charNgramSet: Column = Tokens.charNgramSet(col("text"), NGRAM)

  /** Character-n-gram Jaccard near-dup: LSH recall stage (word-shingle
    * MinHash bands) then char-3-gram Jaccard >= 0.7 verification — a
    * different fingerprint space than the shingle verify, robust to token
    * boundary shifts. */
  private def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = candidatePairs(s, dir)
    // staged: referenced by both join sides — without it the n-gram HOF
    // projection runs once per side
    val sets = staged(s, dir, "gsets")(forCandidates(pairs, d)(charNgramSet.as("gs")))
    pairs
      .join(sets.as("g1"), col("d1") === col("g1.doc_id"))
      .join(sets.as("g2"), col("d2") === col("g2.doc_id"))
      .withColumn("i", size(array_intersect(col("g1.gs"), col("g2.gs"))))
      .select(col("d1"), col("d2"),
        (col("i").cast("double") /
          (size(col("g1.gs")) + size(col("g2.gs")) - col("i")).cast("double"))
          .as("jaccard3"))
      .filter(col("jaccard3") >= 0.7)
      .orderBy(col("d1"), col("d2"))
  }

  /** Cross-SOURCE overlap matrix — corpus governance, not per-doc dedup:
    * how much does each pair of ingest sources share (mirrored crawls,
    * re-syndicated content, benchmark leakage between corpora)? Exact
    * answer per pair = Jaccard of the sources' word-3-shingle sets.
    *
    * Two paths, both emitted per pair:
    *   - `jaccard` — the exact twin: distinct (source, shingle) explode,
    *     self-join on shingle. Costs a shuffle of the full vocabulary —
    *     affordable at verification SF, the thing you CANNOT do per
    *     ad-hoc question at 100 TB.
    *   - `est_minhash` — the product path: a per-SOURCE MinHash signature
    *     (component-wise min over the source's shingles; min is
    *     mergeable, so source sigs fold map-side, metadata-sized), matrix
    *     = |S|² signature compares. New-source-vs-all screening touches
    *     only stored sigs. Both engines derive the same md5-chunk mins,
    *     so the estimate is bit-identical, not tolerance-checked; with
    *     N_MINHASH=8 it is coarse (se≈0.17) — a screen, which the exact
    *     column here calibrates.
    * The 20-row size/sig tables pair via a broadcast `<` self-join (by
    * design; in allowNestedLoop). */
  private def sourceOverlapQ(s: SparkSession, dir: String): DataFrame = {
    // tok feeds three consumers (sizes, intersection, signatures)
    val tok = staged(s, dir, "srctok")(
      docs(s, dir)
        .select(col("source"), explode(Tokens.shingles(col("text"), SHINGLE_K)).as("w"))
        .distinct())
    val sz = tok.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = tok.as("a")
      .join(tok.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    val sigCols = (0 until N_MINHASH).map(j =>
      min(substring(md5(col("w").cast("binary")), 1 + 4 * j, 4)).as(s"mh$j"))
    val sig = tok.groupBy(col("source")).agg(sigCols.head, sigCols.tail: _*)
    val matches = (0 until N_MINHASH)
      .map(j => when(col(s"sa.mh$j") === col(s"sb.mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    sz.as("x").join(broadcast(sz.as("y")), col("x.source") < col("y.source"))
      .select(col("x.source").as("src_a"), col("y.source").as("src_b"),
        col("x.n").as("n_a"), col("y.n").as("n_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .join(broadcast(sig.as("sa")), col("src_a") === col("sa.source"))
      .join(broadcast(sig.as("sb")), col("src_b") === col("sb.source"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"),
        (matches.cast("double") / 8.0).as("est_minhash"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** PUBLIC generic near-dup pipeline over any (doc_id: long, text: string)
    * DataFrame: word-3-shingle MinHash → 4×r=2 LSH bands → bucket-join
    * candidates → exact shingle-Jaccard ≥ `threshold` verification.
    * Returns (d1, d2, jaccard) pairs.
    *
    * RECALL: the band structure is tuned for near-duplicates — candidate
    * recall is 1-(1-J²)⁴ (~98% at J=0.8, but only ~68% at J=0.5), so
    * `threshold` below ~0.75 silently loses qualifying pairs to the LSH
    * stage; lower-similarity matching needs more bands / smaller r, not a
    * lower verify threshold.
    *
    * `stage` controls how the intermediates read by multiple downstream
    * branches (bands, candidate pairs, shingle sets) are materialized —
    * defaults to a plain MEMORY_AND_DISK persist (NOT unpersisted when the
    * result is consumed: repeated calls should pass a memoizing stage like
    * graft.ops.Staging, or unpersist via spark.catalog.clearCache between
    * corpora). Catalyst does not dedupe common subtrees, so skipping the
    * persist recomputes the MinHash kernel once per consumer. */
  def nearDupPairs(d: DataFrame, threshold: Double = 0.8,
      stage: (String, DataFrame) => DataFrame = (_, df) =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      : DataFrame = {
    val bands = stage("bands", bandTable(minhashSig(d)))
    val pairs = stage("pairs", pairsFromBands(bands))
    // staged: referenced by both join sides — without it the shingle HOF
    // projection runs once per side
    val sets = stage("wsets", forCandidates(pairs, d)(shingleSet.as("ws")))
    pairs
      .join(sets.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sets.as("s2"), col("d2") === col("s2.doc_id"))
      .withColumn("i", size(array_intersect(col("s1.ws"), col("s2.ws"))))
      .select(col("d1"), col("d2"),
        (col("i").cast("double") /
          (size(col("s1.ws")) + size(col("s2.ws")) - col("i")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Sketch-accuracy metric — the dedup analog of sim_ann_recall: over
    * every LSH candidate pair, the MinHash estimate (agreeing chunks / 8)
    * against the exact shingle Jaccard, reported as mean/max absolute
    * error. This is the number N_MINHASH and the band structure are tuned
    * against; at 8 permutations the expected |err| is ~sqrt(J(1-J)/8)
    * (~0.14 at J=0.5) — raising permutations tightens it as 1/sqrt(n).
    * Candidate pairs only (bucket co-members): the metric measures the
    * estimator where it is actually used, without an all-pairs pass.
    * Pairs can share a bucket through 16-bit chunk collisions with zero
    * true overlap, so the exact side left-joins (Jaccard 0), never
    * drops. */
  private def minhashAccuracy(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = candidatePairs(s, dir)
    val sig = stagedSig(s, dir)
    val sets = staged(s, dir, "wsets")(forCandidates(pairs, d)(shingleSet.as("ws")))
    val agree = (0 until N_MINHASH)
      .map(i => when(col(s"s1.mh$i") === col(s"s2.mh$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sig.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sig.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"),
        (agree.cast("double") / lit(N_MINHASH.toDouble)).as("est"))
      .join(sets.as("w1"), col("d1") === col("w1.doc_id"))
      .join(sets.as("w2"), col("d2") === col("w2.doc_id"))
      .withColumn("i", size(array_intersect(col("w1.ws"), col("w2.ws"))))
      .withColumn("jaccard", col("i").cast("double") /
        (size(col("w1.ws")) + size(col("w2.ws")) - col("i")).cast("double"))
      .withColumn("abs_err", abs(col("est") - col("jaccard")))
      .agg(count(lit(1)).as("n_pairs"),
        graft.ops.Exact.avgD(col("abs_err")).as("mean_abs_err"),
        max(col("abs_err")).as("max_abs_err"))
  }

  /** Band-structure tuning curve — the dedup-side analog of
    * sim_recall_curve: the SAME 8 minhash chunks re-banded three ways
    * (r=1/b=8, r=2/b=4 — the production structure, r=4/b=2), with
    * measured candidate volume, verified near-dups (exact shingle
    * Jaccard ≥ $NEARDUP_TAU among candidates), precision, and recall
    * RELATIVE to the r=1 ceiling (r=1's candidate set is a strict
    * superset: an r-chunk concatenated bucket collides only if every
    * constituent chunk collides, so coarser bands can only lose pairs —
    * the union of verified pairs IS r=1's verified set; pairs no config
    * catches are invisible to all of them and are the documented
    * theoretical miss 1−(1−J^r)^b). This is the table an LSH planner
    * reads to trade verify-stage cost (candidates) against recall before
    * touching a 100 TB corpus.
    *
    * Plan: one pass over the staged signature per config (explode +
    * bucket self-join — the production candidate shape, never all-pairs);
    * the exact Jaccard runs ONCE over the DISTINCT pair union and joins
    * back per config; output is 3 rows. */
  private val LSH_CURVE_RS = Seq(1, 2, 4)
  private[graft] val NEARDUP_TAU = 0.8

  private def lshCurveQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sig = stagedSig(s, dir)
    def bandsFor(r: Int): DataFrame =
      sig.select(col("doc_id"), explode(array((0 until N_MINHASH / r).map(i =>
          struct(lit(i).as("band"),
            concat((0 until r).map(j => col(s"mh${r * i + j}")): _*)
              .as("bucket"))): _*)).as("bb"))
        .select(lit(r.toLong).as("r"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"), col("doc_id"))
    val bands = LSH_CURVE_RS.map(bandsFor).reduce(_ unionByName _)
    val pairs = staged(s, dir, "curve_pairs") {
      bands.as("a").join(bands.as("b"),
          col("a.r") === col("b.r") && col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.r").as("r"), col("a.doc_id").as("d1"),
          col("b.doc_id").as("d2"))
        .distinct()
    }
    val uniq = pairs.select(col("d1"), col("d2")).distinct()
    // NOT the "wsets" staging key: that frame is built for the r=2
    // candidates only — the curve's union is wider, and a shared key
    // would silently serve whichever consumer staged first
    val sets = staged(s, dir, "curve_wsets")(
      forCandidates(uniq, d)(shingleSet.as("ws")))
    val jac = staged(s, dir, "curve_jac") {
      uniq
        .join(sets.as("s1"), col("d1") === col("s1.doc_id"))
        .join(sets.as("s2"), col("d2") === col("s2.doc_id"))
        .withColumn("i", size(array_intersect(col("s1.ws"), col("s2.ws"))))
        .select(col("d1"), col("d2"),
          (col("i").cast("double") /
            (size(col("s1.ws")) + size(col("s2.ws")) - col("i"))
              .cast("double")).as("jaccard"))
    }
    val truth = broadcast(jac.filter(col("jaccard") >= NEARDUP_TAU)
      .agg(count(lit(1)).as("n_truth")))
    def r6(c: Column): Column =
      floor(c * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)
    pairs.join(jac, Seq("d1", "d2"))
      .groupBy(col("r"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= NEARDUP_TAU, 1L).otherwise(0L))
          .as("n_verified"))
      .crossJoin(truth)
      .select(col("r"),
        (lit(N_MINHASH.toLong) / col("r")).cast("long").as("n_bands"),
        col("n_candidates"), col("n_verified"),
        when(col("n_candidates") > 0,
          r6(col("n_verified").cast("double")
            / col("n_candidates").cast("double")))
          .otherwise(lit(null).cast("double")).as("precision"),
        when(col("n_truth") > 0,
          r6(col("n_verified").cast("double") / col("n_truth").cast("double")))
          .otherwise(lit(null).cast("double")).as("recall_rel"))
      .orderBy(col("r"))
  }

  /** Verified near-dup pairs without output ordering (shared corpus core).
    * Staged: the neardup-pairs query and the four clustering consumers
    * (dedup_clusters, dedup_cluster_quality, dedup_keeper_quality,
    * pipe_corpus_e2e) all read it. */
  private[ops] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    staged(s, dir, "vp") {
      nearDupPairs(docs(s, dir), NEARDUP_TAU,
        (k, df) => staged(s, dir, k)(df))
    }

  /** Duplicate clusters: connected components over the verified near-dup
    * pairs — the step that turns pairwise matches into the actual dedup
    * action (keep min doc_id per cluster, drop the rest). The components
    * kernel (`clusterPairs`) runs in one task, with memory linear in the
    * node count. */
  private def nearDupClusters(s: SparkSession, dir: String): DataFrame =
    clusterPairs(verifiedPairs(s, dir))

  /** Cluster-quality audit — the governance table read BEFORE acting on
    * dedup_clusters: connected components are a TRANSITIVE closure, so a
    * cluster can be a true duplicate family (every pair verified — a
    * clique) or a CHAINED accident (A~B~C with A,C unrelated — the
    * classic over-merge that deletes distinct documents). Per cluster:
    * member count, verified-edge count, edge DENSITY n_edges/C(n,2)
    * (clique = 1, chain → 0 as n grows — the over-merge flag), and the
    * mean/min edge Jaccard (min = the weakest link that glued the
    * cluster together). Dropping all-but-keeper from a low-density
    * cluster is how dedup silently destroys data; this is the query
    * that catches it first.
    *
    * Shape: every verified pair lives inside one cluster by
    * construction, so edges aggregate by the d1-side cluster label —
    * one cluster-keyed shuffle over the (tiny) verified-pair frame; no
    * new pairwise work anywhere. Exactness: per-edge Jaccards are the
    * identical doubles both engines computed for the verify; means go
    * through 6 dp-rounded terms + exact decimal sums; min is
    * order-free. */
  private def clusterQualityQ(s: SparkSession, dir: String): DataFrame =
    clusterQualityFrom(verifiedPairs(s, dir))

  /** Core over any verified (d1, d2, jaccard) pair frame — graft-private
    * so the chain-vs-clique geometry is spec-pinnable. EAGER: checkpoints
    * the component labels at call. */
  private[graft] def clusterQualityFrom(vp: DataFrame): DataFrame = {
    def r6d(c: Column): Column =
      floor(c * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)
    // The labels are checkpointed: both aggregates read them, and without
    // the cut the staged pair table sits under the plan three times, whose
    // re-planning between stages cost ~0.2 s per run at sf0.1 (0.53 s at
    // the parent, 0.62-0.77 s uncut, 0.53-0.65 s with the cut)
    val clusters = clusterPairs(vp).localCheckpoint(true)
    val edges = vp
      .join(clusters.withColumnRenamed("doc_id", "d1"), "d1")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_edges"),
        Exact.avgD(r6d(col("jaccard"))).as("mj"),
        min(col("jaccard")).as("minj"))
    val members = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
    def dbl(c: String) = col(c).cast("double")
    members.join(edges, "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("n_edges"),
        r6d(dbl("n_edges")
          / (dbl("n_members") * (dbl("n_members") - lit(1.0d)) / lit(2.0d)))
          .as("density"),
        r6d(col("mj")).as("mean_jaccard"),
        r6d(col("minj")).as("min_jaccard"))
      .orderBy(col("cluster_id"))
  }

  /** Quality-aware KEEPER SELECTION — the curation rule after clustering:
    * dropping all-but-min-doc_id discards information; real pipelines keep
    * the BEST member of each near-dup cluster. Here quality = token count
    * (the C4-style keep-the-longer-doc rule; any per-doc score column
    * composes the same way), keeper = argmax(n_toks, tie → min doc_id)
    * via a per-cluster window (clusters are near-dup families — tiny —
    * so the window partitions are bounded regardless of corpus size). */
  private def keeperQuality(s: SparkSession, dir: String): DataFrame = {
    val clusters = clusterPairs(verifiedPairs(s, dir))
    val lens = graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_toks").desc, col("doc_id").asc)
    clusters.join(lens, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(max(when(col("rk") === 1, col("doc_id"))).as("keeper_id"),
        max(when(col("rk") === 1, col("n_toks"))).as("keeper_toks"),
        count(lit(1)).as("n_members"))
      .withColumn("n_dropped", col("n_members") - 1)
      .orderBy(col("cluster_id"))
  }

  /** PUBLIC generic connected components over a (d1, d2) pair DataFrame:
    * returns (doc_id, cluster_id) where cluster_id = min reachable id.
    * The kernel runs in one task, with memory linear in the node count:
    * the pair plan runs at its own width and one single-partition shuffle
    * funnels its rows into a union-find (path-compressed), whose labels
    * are a unique function of the edge set. It stays in the plan —
    * Exchange SinglePartition, then MapPartitions — so building the frame
    * is lazy and launches no job. */
  def clusterPairs(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs.select(col("d1"), col("d2")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(ra) = rb
        }
        val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
        parent.keys.foreach { n =>
          val r = find(n)
          if (n < minOf.getOrElse(r, Long.MaxValue)) minOf(r) = n
        }
        parent.keys.iterator.map(n => (n, minOf(find(n))))
      }
      .toDF("doc_id", "cluster_id")
      .orderBy(col("doc_id"))
  }

  /** Containment near-dup — the asymmetric case Jaccard misses: a document
    * wholly embedded in a larger one (boilerplate wrapping, quote-and-extend
    * plagiarism) has containment |A∩B|/|A| ≈ 1 but low Jaccard, so MinHash
    * LSH never surfaces it. Candidates come from a PPJoin-style PREFIX
    * FILTER instead: order each doc's shingles by global rarity (ascending
    * document frequency); if A is ≥90% contained in B, at most ⌊|A|/10⌋ of
    * A's shingles miss B, so among any ⌊|A|/10⌋+1 of them — we take the
    * rarest — at least one lands in B. Joining only those prefix shingles
    * against the corpus shingle table yields every qualifying pair
    * (pigeonhole-complete), and because prefix shingles are by construction
    * the RAREST, the join's per-key fan-out is bounded — that is what makes
    * the shape linear-ish at 100 TB where an all-pairs verify is Θ(n²).
    *
    * The oracle verifies all pairs sharing ≥1 shingle (brute force, test-
    * scale only) — a hash match therefore PROVES the prefix filter lost no
    * qualifying pair, the property that lets production skip the quadratic
    * scan. */
  private val CONT_THR = 0.9
  private val CONT_K = 5

  /** PUBLIC generic containment pipeline over any (doc_id, text) DataFrame:
    * returns (d1, d2, c12, c21) for pairs where either direction's
    * containment reaches `threshold`. The prefix size ⌊(1-t)·|A|⌋+1 is
    * computed with a +1e-9 guard so a 1-ulp-low product cannot shrink the
    * prefix below the pigeonhole bound.
    *
    * `k` (shingle width) is the candidate-volume dial: the prefix join's
    * output is Θ(Σ df(prefix shingle)), so k must be large enough that the
    * shingle space outgrows the corpus (df ≈ 1). k=3 on this small-vocab
    * corpus leaves avg df ≈ 8 at sf0.1 and the candidate set quadratic-ish
    * (measured 16.8 s); k=5 makes shingles effectively unique and the
    * whole pipeline near-linear — the same tuning a production PPJoin
    * applies to natural text. */
  def containmentPairs(d: DataFrame, threshold: Double = CONT_THR,
      k: Int = CONT_K,
      stage: (String, DataFrame) => DataFrame = (_, df) =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      : DataFrame = {
    val sets = stage("cont_sets",
      d.select(col("doc_id"), array_distinct(shingles(col("text"), k)).as("ws")))
    // (doc, shingle-HASH) table: feeds the df count, the prefix ranking,
    // and the candidate join's corpus side. Joining/shuffling on
    // xxhash64(w) instead of the multi-word shingle string shrinks every
    // shuffle key to 8 bytes; a collision can only ADD a candidate pair
    // (equal strings always hash equal), and the exact string-array
    // verification below removes false candidates — so hashing is
    // safe-by-construction for the no-lost-pair contract. The prefix
    // bound itself holds for ANY ⌊(1-t)·|A|⌋+1 tokens (the probe side
    // carries the full token set), so df-on-hash ranking stays valid.
    val tok = stage("cont_tok",
      sets.select(col("doc_id"), size(col("ws")).as("n"),
        explode(col("ws")).as("w"))
        .select(col("doc_id"), col("n"), xxhash64(col("w")).as("wh")))
    val df_ = tok.groupBy(col("wh")).agg(count(lit(1)).as("df"))
    val wRare = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df").asc, col("wh").asc)
    val prefix = tok.join(df_, "wh")
      .withColumn("rk", row_number().over(wRare))
      .filter(col("rk") <=
        floor(col("n") * (1.0 - threshold) + 1e-9).cast("int") + 1)
      .select(col("doc_id").as("pa"), col("wh"))
    val cand = prefix.join(tok.select(col("doc_id").as("pb"), col("wh")), "wh")
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("d1"),
        greatest(col("pa"), col("pb")).as("d2"))
      .distinct()
    cand.join(sets.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sets.as("s2"), col("d2") === col("s2.doc_id"))
      .withColumn("i", size(array_intersect(col("s1.ws"), col("s2.ws"))))
      .select(col("d1"), col("d2"),
        (col("i").cast("double") / size(col("s1.ws")).cast("double")).as("c12"),
        (col("i").cast("double") / size(col("s2.ws")).cast("double")).as("c21"))
      .filter(greatest(col("c12"), col("c21")) >= threshold)
  }

  private def containmentQuery(s: SparkSession, dir: String): DataFrame =
    containmentPairs(docs(s, dir), CONT_THR, CONT_K,
      (key, df) => staged(s, dir, key)(df))
      .orderBy(col("d1"), col("d2"))

  /** 16-bit SimHash over the distinct-token set, md5-hex-digit parity as
    * the per-bit hash (cross-engine reproducible). */
  private def simhash(s: SparkSession, dir: String): DataFrame = {
    val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
    // project the hash to an attribute BEFORE aggregating: each of the 16
    // bit-sums references `h` — inlining md5 into the agg expressions
    // would hash every token 16 times
    val tok = docs(s, dir).select(col("doc_id"),
      explode(array_distinct(toks(col("text")))).as("w"))
      .select(col("doc_id"), md5(col("w").cast("binary")).as("h"))
    val bitSums = (1 to 16).map(i =>
      sum(when(substring(col("h"), i, 1).isin(oddHex: _*), 1).otherwise(-1)).as(s"b$i"))
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        concat((1 to 16).map(i =>
          when(col(s"b$i") > 0, "1").otherwise("0")): _*).as("simhash16"))
  }

  /** Query wrapper: sorted for stable output (the core stays unsorted so
    * downstream consumers don't pay a discarded range-partition sort). */
  private def simhashQuery(s: SparkSession, dir: String): DataFrame =
    simhash(s, dir).orderBy(col("doc_id"))

  /** DEMOTED to a per-distance pair-count summary. The 16-bit toy width
    * has only ~128 distinct chunk values, so its candidate set — and its
    * full pair LIST — grows quadratically with the corpus (7.9× runtime at
    * the 10× rehearsal, 36k output rows at sf0.01). The canonical
    * production pair miner is `simhash64Pairs` (63-bit, 3×21-bit chunks,
    * near-linear candidates); this query keeps the 16-bit fingerprints
    * oracle-covered while emitting only (hamming, n_pairs) — O(3) rows at
    * any scale. The oracle is the BRUTE-FORCE all-pairs count, so a hash
    * match still proves pigeonhole completeness: every emitted candidate
    * is exact-verified (hamming <= 2), so emitted ⊆ true, and count
    * equality then forces set equality.
    *
    * Each qualifying pair is counted exactly ONCE without a distinct
    * shuffle: of the up-to-3 chunk matches a pair can have, only the
    * FIRST agreeing chunk emits (later chunks require all earlier ones to
    * differ) — the dedup is a codegen'd predicate in the join, not a
    * shuffle over all surviving pairs. */
  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val asInt = conv(col("simhash16"), 2, 10).cast("long").as("sh")
    // staged: both sides of the chunk self-join read it
    val withInt = staged(s, dir, "simhash_int") {
      simhash(s, dir).select(col("doc_id"), asInt)
    }
    val base = withInt.select(col("doc_id"), col("sh"),
      expr("sh % 64").as("c0"),           // low 6 bits
      expr("(sh div 64) % 32").as("c1"),  // mid 5
      expr("sh div 2048").as("c2"))       // high 5
    val chunks = base.select(col("doc_id"), col("sh"),
      col("c0"), col("c1"), col("c2"),
      explode(array(
        struct(lit(0).as("ci"), col("c0").as("cv")),
        struct(lit(1).as("ci"), col("c1").as("cv")),
        struct(lit(2).as("ci"), col("c2").as("cv")))).as("c"))
      .select(col("doc_id"), col("sh"), col("c0"), col("c1"), col("c2"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.ci") === 0 ||
            (col("a.ci") === 1 && col("a.c0") =!= col("b.c0")) ||
            (col("a.ci") === 2 && col("a.c0") =!= col("b.c0") &&
              col("a.c1") =!= col("b.c1"))))
      .select(bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 2)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("hamming"))
  }

  /** Production-width SimHash: a 63-bit fingerprint (63, not 64, so the
    * value stays a positive BIGINT both engines agree on) — the variant
    * the 16-bit `dedup_simhash` scaladoc names as the real-scale shape.
    * Bits 1-32 are the parity (bit 0) of each md5 hex digit; bits 33-63
    * are bit 1 of hex digits 1-31 — 63 independent bits from the single
    * md5 already computed per token. */
  private[graft] def simhash64(s: SparkSession, dir: String): DataFrame = {
    // the md5 is parsed ONCE into four 32-bit words; each bit test is then
    // a shift+mask instead of a substring+8-way isin (63 of them per
    // token) — same bits, ~integer-arithmetic cost. The DuckDB oracle
    // keeps the per-hex-digit substr derivation, so the hash match also
    // cross-checks this packing against an independent construction.
    val words = (0 until 4).map(sgm =>
      conv(substring(col("h"), 1 + 8 * sgm, 8), 16, 10).cast("long").as(s"w$sgm"))
    val tok = docs(s, dir).select(col("doc_id"),
      explode(array_distinct(toks(col("text")))).as("w"))
      .select(col("doc_id"), md5(col("w").cast("binary")).as("h"))
      .select(col("doc_id") +: words: _*)
    // hex digit j (1-based, leftmost) of word w = (w >> 4*(8 - j)) & 0xF;
    // fingerprint bits 1..32 take bit 0 of digits 1..32, bits 33..63 take
    // bit 1 of digits 1..31 (hex digit sets {1,3,..,f} / {2,3,6,7,..} in
    // the oracle's substr form)
    def bitTest(i: Int): Column = {
      val (digit, bit) = if (i <= 32) (i, 0) else (i - 32, 1)
      val word = col(s"w${(digit - 1) / 8}")
      shiftright(word, 4 * (7 - (digit - 1) % 8) + bit).bitwiseAND(1) === 1
    }
    val bitSums = (1 to 63).map(i =>
      sum(when(bitTest(i), 1).otherwise(-1)).as(s"b$i"))
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (1 to 63).map(i =>
          when(col(s"b$i") > 0, lit(1L << (i - 1))).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
  }

  /** 63-bit SimHash near-dup pairs via the pigeonhole 3×21-bit chunk
    * index (the scale path promised at `simhashPairs`): ~2M distinct
    * values per chunk keep candidates near-linear in corpus size. The
    * oracle is the BRUTE-FORCE all-pairs Hamming join over the same
    * fingerprints — a hash match therefore proves both that the
    * fingerprint construction is bit-identical and that the chunk index
    * finds EVERY pair within distance 2 (pigeonhole completeness), which
    * is exactly the property that lets production drop the quadratic
    * scan. (The oracle side is quadratic, but only the test-scale oracle
    * — the Spark side never pairs outside chunk buckets.) */
  private def simhash64Pairs(s: SparkSession, dir: String): DataFrame = {
    val withInt = staged(s, dir, "simhash64_int")(simhash64(s, dir))
    val base = withInt.select(col("doc_id"), col("sh"),
      expr("sh % 2097152").as("c0"),
      expr("(sh div 2097152) % 2097152").as("c1"),
      expr("sh div 4398046511104").as("c2"))
    val chunks = base.select(col("doc_id"), col("sh"),
      col("c0"), col("c1"), col("c2"),
      explode(array(
        struct(lit(0).as("ci"), col("c0").as("cv")),
        struct(lit(1).as("ci"), col("c1").as("cv")),
        struct(lit(2).as("ci"), col("c2").as("cv")))).as("c"))
      .select(col("doc_id"), col("sh"), col("c0"), col("c1"), col("c2"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))
    // each qualifying pair emits from exactly ONE chunk (the first
    // agreeing one), so no distinct is needed: the dedup that used to be
    // a shuffle over all surviving pairs is a codegen'd join predicate
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.ci") === 0 ||
            (col("a.ci") === 1 && col("a.c0") =!= col("b.c0")) ||
            (col("a.ci") === 2 && col("a.c0") =!= col("b.c0") &&
              col("a.c1") =!= col("b.c1"))))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 2)
      .orderBy(col("d1"), col("d2"))
  }

  // ------------------------------------------- content-defined chunking

  private val CDC_W = 8     // minimum cut position (chars)
  // cut when the gear state's TOP 4 bits are zero: p = 1/16 → expected
  // chunk ≈ 16 chars on this corpus's ~150-400-char docs (high bits, not
  // low: (h<<1)+G[c] puts the newest char in the LOW bits, so a low-bit
  // cut class would depend on only the last few chars)
  private val CDC_CUT_BOUND = 1L << 28

  /** Gear table: 256 pseudo-random 32-bit values, one per byte class,
    * derived from md5 of the byte's decimal string — computed ONCE here
    * and embedded as the SAME literals in the DuckDB oracle, so both
    * engines replay the identical recurrence by construction. */
  private[graft] val GEAR: Array[Long] = Array.tabulate(256) { b =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val dg = md.digest(b.toString.getBytes("UTF-8"))
    ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
      ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
  }

  /** Content-defined chunk dedup — the backup/dataset-dedup primitive the
    * document-level family (exact/minhash/simhash) cannot express: split
    * every text at positions where the gear rolling hash lands in the
    * cut class, fingerprint each chunk, and count how often each chunk
    * recurs ACROSS the corpus. Gear CDC: h = ((h << 1) + G[c]) mod 2³²
    * per character, cut where the top 4 bits are zero — a char's
    * influence shifts out after 32 steps, so inserting or deleting bytes
    * re-syncs the boundaries within ~32 chars and shared suffixes of
    * edited near-duplicates still dedup, which is exactly what
    * byte-shift breaks for fixed-size blocks.
    *
    * r15 rework (the r14 verdict's watch-item): the first cut was one
    * md5 PER CHARACTER POSITION (an 8-char window hashed at every i) —
    * the classic hash-the-window spelling, whose constant dominates at
    * corpus scale (19.4M window md5s at sf1). The true gear recurrence
    * is one shift+add+table-lookup per character, implemented as a
    * typed flatMap kernel (the minhashSig precedent: per-row scalar
    * loops beat interpreted HOF lambdas 5-10×). Measured: sf0.1
    * 0.88 → 0.83 s (scan/shuffle fixed costs dominate there) and sf1
    * ~6.4 → 1.31 s — the r14 10× rehearsal ratio collapses 7.24× →
    * 1.58× because the per-character constant no longer scales with
    * the corpus's character growth. One md5 remains per CHUNK (the
    * fingerprint), not per char. Semantics changed with the hash (cut
    * positions differ from the r14 window-md5 op); the oracle replays
    * the identical states via the recurrence's closed form — each
    * position is a 32-term windowed sum, see the oracle comment.
    *
    * Shape at scale: cut discovery is a narrow per-row kernel (no
    * shuffle, embarrassingly parallel, streaming-safe); chunk
    * fingerprints then shuffle ONCE on the hash for the recurrence
    * aggregate; the output is a copies-histogram — category-sized.
    * Docs shorter than CDC_W emit themselves as one chunk; cut
    * positions stop at len−1 so the final boundary is always len and
    * boundaries stay strictly increasing. Code-POINT indexing on both
    * sides (java codePoints ↔ DuckDB ord/substr), so supplementary
    * characters cannot misalign the engines. */
  def cdcChunks(d: DataFrame, id: Column, text: Column): DataFrame = {
    import d.sparkSession.implicits._
    val chunks = d.select(id.as("doc_id"), text.as("text"))
      .as[(Long, String)]
      .flatMap { case (did, t) =>
        val cps = t.codePoints().toArray
        val n = cps.length
        val cuts = scala.collection.mutable.ArrayBuffer[Int](0)
        var h = 0L
        var i = 0
        while (i < n) {
          h = ((h << 1) + GEAR(cps(i) & 0xff)) & 0xffffffffL
          val pos = i + 1
          if (pos >= CDC_W && pos <= n - 1 && h < CDC_CUT_BOUND) cuts += pos
          i += 1
        }
        cuts += n
        (0 until cuts.length - 1).iterator.map { k =>
          (did, new String(cps, cuts(k), cuts(k + 1) - cuts(k)))
        }
      }
      .toDF("doc_id", "chunk")
    chunks
      .groupBy(md5(col("chunk").cast("binary")).as("chunk_fp"))
      .agg(count(lit(1)).as("n_copies"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_chunks"))
  }

  private def cdcChunksQ(s: SparkSession, dir: String): DataFrame =
    cdcChunks(docs(s, dir), col("doc_id"), col("text"))
      .orderBy(col("n_copies"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cdc_chunks" -> cdcChunksQ,
    "dedup_simhash64_pairs" -> simhash64Pairs,
    "dedup_exact" -> exactDedup,
    "dedup_incremental" -> incrementalDedup,
    "dedup_minhash_sig" -> minhashQuery,
    "dedup_lsh_buckets" -> lshBuckets,
    "dedup_lsh_neardup" -> lshNearDupPairs,
    "dedup_minhash_accuracy" -> minhashAccuracy,
    "dedup_lsh_curve" -> lshCurveQ,
    "dedup_clusters" -> nearDupClusters,
    "dedup_cluster_quality" -> clusterQualityQ,
    "dedup_keeper_quality" -> keeperQuality,
    "dedup_ngram_jaccard" -> ngramJaccardPairs,
    "dedup_source_overlap" -> sourceOverlapQ,
    "dedup_containment" -> containmentQuery,
    "dedup_simhash" -> simhashQuery,
    "dedup_simhash_pairs" -> simhashPairs,
  )

  // ---- DuckDB oracle ----------------------------------------------------

  private[graft] val tok3Cte =
    s"""tok3 AS (SELECT DISTINCT doc_id, unnest(${shinglesSql("text", SHINGLE_K)}) AS w FROM documents)"""

  private[graft] val sigCte = {
    val mins = (0 until N_MINHASH)
      .map(i => s"min(substr(md5(w), ${1 + 4 * i}, 4)) AS mh$i").mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM tok3 GROUP BY doc_id)"
  }

  private[graft] val bandsCte = {
    val rows = (0 until N_BANDS)
      .map(i => s"SELECT $i AS band, mh${2 * i} || mh${2 * i + 1} AS bucket, doc_id FROM sig")
      .mkString(" UNION ALL ")
    s"bands AS ($rows)"
  }

  /** The LSH candidates `pairs(d1, d2)`: every doc pair sharing a bucket
    * in any band, after the tok3/sig/bands chain. */
  private[graft] val pairsCtes =
    s"""$tok3Cte, $sigCte, $bandsCte,
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |)""".stripMargin

  /** `pairsCtes` plus each doc's shingle count `cnt(doc_id, n)` and each
    * candidate's shingle overlap `inter(d1, d2, i)` (zero-overlap pairs
    * absent). */
  private val overlapCtes =
    s"""$pairsCtes, cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok3 GROUP BY 1),
       |inter AS (
       |  SELECT p.d1, p.d2, COUNT(*) AS i
       |  FROM pairs p
       |  JOIN tok3 t1 ON t1.doc_id = p.d1
       |  JOIN tok3 t2 ON t2.doc_id = p.d2 AND t2.w = t1.w
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** `overlapCtes` plus the verified near-dups `vp(d1, d2, jaccard)`:
    * candidates whose exact shingle Jaccard is at least NEARDUP_TAU — the
    * oracle twin of `verifiedPairs`. */
  private val verifiedCtes =
    s"""$overlapCtes, vp AS (
       |  SELECT d1, d2,
       |    CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN cnt c1 ON d1 = c1.doc_id
       |  JOIN cnt c2 ON d2 = c2.doc_id
       |  WHERE CAST(i AS DOUBLE) / CAST(c1.n + c2.n - i AS DOUBLE) >= $NEARDUP_TAU
       |)""".stripMargin

  /** `reach(u, r)`: each node of the symmetric edge CTE `edges(u, v)`
    * paired with every node it reaches, so `MIN(r)` per `u` is its
    * component's min id — the oracle twin of `clusterPairs`. Needs
    * `WITH RECURSIVE`. */
  private[graft] def reachCte(edges: String): String =
    s"""reach(u, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM $edges)
       |  UNION
       |  SELECT e.u, reach.r FROM $edges e JOIN reach ON e.v = reach.u
       |)""".stripMargin

  /** `verifiedCtes` plus its undirected edges and their `reach` closure. */
  private[graft] val verifiedReachCtes =
    s"""$verifiedCtes, edges AS (
       |  SELECT d1 AS u, d2 AS v FROM vp UNION SELECT d2, d1 FROM vp
       |), ${reachCte("edges")}""".stripMargin

  // the 16-bit simhash's per-doc bit votes `bitsums(doc_id, b1..b16)` over
  // distinct whitespace tokens (bit i from md5 hex digit i's low bit)
  private val simhash16Ctes = {
    val bitSums = (1 to 16).map(i =>
      s"SUM(CASE WHEN substr(md5(w), $i, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    s"""tok1 AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |bitsums AS (SELECT doc_id, $bitSums FROM tok1 GROUP BY doc_id)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the same gear states from the SAME embedded 256-entry table, same
    // cut class (top 4 bits zero ⇔ h < 2^28), boundary pairs, chunk md5,
    // recurrence histogram. The recurrence h_i = ((h_{i-1} << 1) + G[c_i])
    // mod 2^32 has a closed form — h_i = Σ_{j=i-31..i} G[c_j]·2^{i-j}
    // mod 2^32 (older terms carry a 2^{≥32} factor ≡ 0) — so the oracle
    // computes each position's state as an independent 32-term windowed
    // sum instead of threading sequential state (DuckDB 1.0's
    // list_reduce does not accumulate list fields inside struct
    // accumulators — verified divergence — and the closed form is also
    // WHY a char's influence is exactly 32 positions). Each term is
    // modded before summing so the sum stays ≤ 32·2^32 (BIGINT-safe).
    "dedup_cdc_chunks" -> {
      val gl = GEAR.mkString("[", ", ", "]")
      val pl = (0 until 32).map(1L << _).mkString("[", ", ", "]")
      s"""WITH g AS (SELECT $gl AS gl, $pl AS pl),
         |d AS (
         |  SELECT doc_id, text, length(text) AS ln FROM documents
         |), c AS (
         |  SELECT doc_id, text, ln,
         |    list_filter(list_transform(generate_series($CDC_W, ln - 1),
         |      i -> CASE WHEN (list_sum(list_transform(
         |            generate_series(greatest(1, i - 31), i),
         |            j -> (gl[(ord(substr(text, j, 1)) % 256) + 1]
         |              * pl[i - j + 1]) % 4294967296)) % 4294967296)
         |          < $CDC_CUT_BOUND
         |        THEN i END), x -> x IS NOT NULL) AS cuts
         |  FROM d CROSS JOIN g
         |), b AS (
         |  SELECT doc_id, text,
         |    list_concat(list_concat([0], cuts), [ln]) AS bs
         |  FROM c
         |), ch AS (
         |  SELECT doc_id,
         |    unnest(list_transform(generate_series(1, len(bs) - 1),
         |      k -> substr(text, bs[k] + 1, bs[k + 1] - bs[k]))) AS chunk
         |  FROM b
         |), fp AS (
         |  SELECT md5(chunk) AS chunk_fp, CAST(COUNT(*) AS BIGINT) AS n_copies
         |  FROM ch GROUP BY 1
         |)
         |SELECT n_copies, CAST(COUNT(*) AS BIGINT) AS n_chunks
         |FROM fp GROUP BY 1 ORDER BY n_copies""".stripMargin
    },
    // brute-force all-pairs Hamming (test-scale only) — matching the
    // Spark chunk-index output proves pigeonhole completeness
    "dedup_simhash64_pairs" -> {
      val bitSums = (1 to 63).map { i =>
        val (digit, set) =
          if (i <= 32) (i, "('1','3','5','7','9','b','d','f')")
          else (i - 32, "('2','3','6','7','a','b','e','f')")
        s"SUM(CASE WHEN substr(md5(w), $digit, 1) IN $set THEN 1 ELSE -1 END) AS b$i"
      }.mkString(", ")
      val shval = (1 to 63).map(i =>
        s"(CASE WHEN b$i > 0 THEN ${1L << (i - 1)}::BIGINT ELSE 0::BIGINT END)")
        .mkString(" + ")
      s"""WITH tok1 AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |bitsums AS (SELECT doc_id, $bitSums FROM tok1 GROUP BY doc_id),
         |fp AS (SELECT doc_id, $shval AS sh FROM bitsums)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 2
         |ORDER BY d1, d2""".stripMargin
    },
    "dedup_incremental" ->
      """WITH batch AS (
        |  SELECT md5(text) AS fp, min(doc_id) AS doc_id, COUNT(*) AS n_batch
        |  FROM documents WHERE doc_id % 10 = 0 GROUP BY 1
        |), hist AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0)
        |SELECT b.doc_id, b.fp, b.n_batch
        |FROM batch b ANTI JOIN hist USING (fp)
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id,
        |  COUNT(*) AS n_copies, max(n_chars) AS n_chars
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "dedup_minhash_sig" ->
      s"""WITH $tok3Cte, $sigCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin,
    // exact twin fully recomputed; the minhash estimate is the SAME
    // md5-chunk mins in both engines, so even est_minhash is bit-exact
    "dedup_source_overlap" -> {
      val sigCols = (0 until N_MINHASH)
        .map(j => s"min(substr(md5(w), ${1 + 4 * j}, 4)) AS mh$j").mkString(", ")
      val estExpr = (0 until N_MINHASH)
        .map(j => s"CAST(sa.mh$j = sb.mh$j AS INT)").mkString(" + ")
      s"""WITH tok AS (SELECT DISTINCT source,
         |    unnest(${shinglesSql("text", SHINGLE_K)}) AS w FROM documents),
         |sz AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY 1),
         |srcsig AS (SELECT source, $sigCols FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
         |  FROM tok a JOIN tok b ON a.w = b.w AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT x.source AS src_a, y.source AS src_b,
         |  x.n AS n_a, y.n AS n_b,
         |  COALESCE(i.n_common, 0) AS n_common,
         |  CAST(COALESCE(i.n_common, 0) AS DOUBLE) /
         |    CAST(x.n + y.n - COALESCE(i.n_common, 0) AS DOUBLE) AS jaccard,
         |  ($estExpr) / 8.0 AS est_minhash
         |FROM sz x JOIN sz y ON x.source < y.source
         |LEFT JOIN inter i ON i.src_a = x.source AND i.src_b = y.source
         |JOIN srcsig sa ON sa.source = x.source
         |JOIN srcsig sb ON sb.source = y.source
         |ORDER BY src_a, src_b""".stripMargin
    },
    "dedup_lsh_buckets" ->
      s"""WITH $tok3Cte, $sigCte, $bandsCte
         |SELECT band, bucket, COUNT(*) AS n_docs,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM bands GROUP BY 1, 2 HAVING COUNT(*) > 1
         |ORDER BY band, bucket""".stripMargin,
    "dedup_lsh_neardup" ->
      s"""WITH $verifiedCtes
         |SELECT d1, d2, jaccard FROM vp ORDER BY d1, d2""".stripMargin,
    // same three re-bandings of the same sig chunks, same distinct pair
    // union, exact Jaccard once via the tok3 join (LEFT for zero-overlap
    // collisions), same r6 precision / relative-recall spellings
    "dedup_lsh_curve" -> {
      val arms = LSH_CURVE_RS.flatMap { r =>
        (0 until N_MINHASH / r).map { i =>
          val bucket = (0 until r).map(j => s"mh${r * i + j}")
            .mkString(" || ")
          s"SELECT $r AS r, $i AS band, $bucket AS bucket, doc_id FROM sig"
        }
      }.mkString(" UNION ALL ")
      def r6s(x: String) = s"CAST(floor(($x) * 1e6 + 0.5) AS DOUBLE) / 1e6"
      s"""WITH $tok3Cte, $sigCte,
         |bandsall AS ($arms),
         |pairs AS (
         |  SELECT DISTINCT a.r, a.doc_id AS d1, b.doc_id AS d2
         |  FROM bandsall a JOIN bandsall b
         |    ON a.r = b.r AND a.band = b.band AND a.bucket = b.bucket
         |    AND a.doc_id < b.doc_id
         |), uniq AS (SELECT DISTINCT d1, d2 FROM pairs),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok3 GROUP BY 1),
         |inter AS (
         |  SELECT u.d1, u.d2, COUNT(*) AS i
         |  FROM uniq u
         |  JOIN tok3 t1 ON t1.doc_id = u.d1
         |  JOIN tok3 t2 ON t2.doc_id = u.d2 AND t2.w = t1.w
         |  GROUP BY 1, 2
         |), jac AS (
         |  SELECT u.d1, u.d2,
         |    CAST(COALESCE(i.i, 0) AS DOUBLE)
         |      / CAST(c1.n + c2.n - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
         |  FROM uniq u
         |  JOIN cnt c1 ON u.d1 = c1.doc_id
         |  JOIN cnt c2 ON u.d2 = c2.doc_id
         |  LEFT JOIN inter i ON u.d1 = i.d1 AND u.d2 = i.d2
         |), truth AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM jac
         |  WHERE jaccard >= $NEARDUP_TAU
         |), m AS (
         |  SELECT p.r, CAST(COUNT(*) AS BIGINT) AS n_candidates,
         |    CAST(SUM(CASE WHEN j.jaccard >= $NEARDUP_TAU THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_verified
         |  FROM pairs p JOIN jac j ON p.d1 = j.d1 AND p.d2 = j.d2
         |  GROUP BY 1
         |)
         |SELECT CAST(r AS BIGINT) AS r,
         |  CAST($N_MINHASH / r AS BIGINT) AS n_bands,
         |  n_candidates, n_verified,
         |  CASE WHEN n_candidates > 0 THEN
         |    ${r6s("CAST(n_verified AS DOUBLE) / CAST(n_candidates AS DOUBLE)")}
         |    ELSE NULL END AS precision,
         |  CASE WHEN n_truth > 0 THEN
         |    ${r6s("CAST(n_verified AS DOUBLE) / CAST(n_truth AS DOUBLE)")}
         |    ELSE NULL END AS recall_rel
         |FROM m CROSS JOIN truth ORDER BY r""".stripMargin
    },
    "dedup_minhash_accuracy" -> {
      val agree = (0 until N_MINHASH)
        .map(i => s"(CASE WHEN s1.mh$i = s2.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $overlapCtes, scored AS (
         |  SELECT CAST($agree AS DOUBLE) / ${N_MINHASH}.0 AS est,
         |    CAST(COALESCE(i.i, 0) AS DOUBLE) /
         |      CAST(c1.n + c2.n - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
         |  FROM pairs p
         |  JOIN sig s1 ON p.d1 = s1.doc_id
         |  JOIN sig s2 ON p.d2 = s2.doc_id
         |  JOIN cnt c1 ON p.d1 = c1.doc_id
         |  JOIN cnt c2 ON p.d2 = c2.doc_id
         |  LEFT JOIN inter i ON p.d1 = i.d1 AND p.d2 = i.d2
         |)
         |SELECT COUNT(*) AS n_pairs,
         |  ${graft.ops.Exact.avgSql("abs(est - jaccard)")} AS mean_abs_err,
         |  MAX(abs(est - jaccard)) AS max_abs_err
         |FROM scored""".stripMargin
    },
    // cluster_id = min reachable node == the recursive closure's per-node
    // minimum
    "dedup_clusters" ->
      s"""WITH RECURSIVE $verifiedReachCtes
         |SELECT u AS doc_id, MIN(r) AS cluster_id
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    // same closure as dedup_clusters, edges keep their verify Jaccard;
    // density/means spelled once, min order-free
    "dedup_cluster_quality" -> {
      def r6s(x: String) = s"CAST(floor(($x) * 1e6 + 0.5) AS DOUBLE) / 1e6"
      s"""WITH RECURSIVE $verifiedReachCtes, cl AS (
         |  SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
         |), ed AS (
         |  SELECT cl.cluster_id, CAST(COUNT(*) AS BIGINT) AS n_edges,
         |    ${Exact.avgSql(r6s("jaccard"))} AS mj, MIN(jaccard) AS minj
         |  FROM vp JOIN cl ON vp.d1 = cl.doc_id GROUP BY 1
         |), mem AS (
         |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM cl GROUP BY 1
         |)
         |SELECT mem.cluster_id, n_members, n_edges,
         |  ${r6s("CAST(n_edges AS DOUBLE) / (CAST(n_members AS DOUBLE)" +
             " * (CAST(n_members AS DOUBLE) - 1.0) / 2.0)")} AS density,
         |  ${r6s("mj")} AS mean_jaccard,
         |  ${r6s("minj")} AS min_jaccard
         |FROM mem JOIN ed ON mem.cluster_id = ed.cluster_id
         |ORDER BY mem.cluster_id""".stripMargin
    },
    // same closure as dedup_clusters, then argmax(n_toks, min doc_id)
    // keeper per component
    "dedup_keeper_quality" ->
      s"""WITH RECURSIVE $verifiedReachCtes, comp AS (
         |  SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
         |), rked AS (
         |  SELECT c.cluster_id, c.doc_id,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY len(string_split(d.text, ' ')) DESC, c.doc_id) AS rk
         |  FROM comp c JOIN documents d USING (doc_id)
         |)
         |SELECT cluster_id,
         |  MAX(CASE WHEN rk = 1 THEN doc_id END) AS keeper_id,
         |  MAX(CASE WHEN rk = 1 THEN n_toks END) AS keeper_toks,
         |  COUNT(*) AS n_members, COUNT(*) - 1 AS n_dropped
         |FROM rked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // brute force over every shingle-sharing pair (test-scale only):
    // matching the prefix-filtered Spark output proves filter completeness
    "dedup_containment" ->
      s"""WITH tokc AS (SELECT DISTINCT doc_id, unnest(${shinglesSql("text", CONT_K)}) AS w FROM documents),
         |cnt AS (SELECT doc_id, COUNT(*) AS n FROM tokc GROUP BY 1),
         |inter AS (
         |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, COUNT(*) AS i
         |  FROM tokc t1 JOIN tokc t2
         |    ON t1.w = t2.w AND t1.doc_id < t2.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT d1, d2,
         |  CAST(i AS DOUBLE) / CAST(c1.n AS DOUBLE) AS c12,
         |  CAST(i AS DOUBLE) / CAST(c2.n AS DOUBLE) AS c21
         |FROM inter
         |JOIN cnt c1 ON d1 = c1.doc_id
         |JOIN cnt c2 ON d2 = c2.doc_id
         |WHERE greatest(CAST(i AS DOUBLE) / CAST(c1.n AS DOUBLE),
         |               CAST(i AS DOUBLE) / CAST(c2.n AS DOUBLE)) >= $CONT_THR
         |ORDER BY d1, d2""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $pairsCtes, gs AS (
         |  SELECT doc_id, ${charNgramSetSql("text", NGRAM)} AS g
         |  FROM documents
         |), inter AS (
         |  SELECT p.d1, p.d2,
         |    len(list_intersect(g1.g, g2.g)) AS i, len(g1.g) AS n1, len(g2.g) AS n2
         |  FROM pairs p
         |  JOIN gs g1 ON p.d1 = g1.doc_id
         |  JOIN gs g2 ON p.d2 = g2.doc_id
         |)
         |SELECT d1, d2, CAST(i AS DOUBLE) / CAST(n1 + n2 - i AS DOUBLE) AS jaccard3
         |FROM inter
         |WHERE CAST(i AS DOUBLE) / CAST(n1 + n2 - i AS DOUBLE) >= 0.7
         |ORDER BY d1, d2""".stripMargin,
    "dedup_simhash" -> {
      val bits = (1 to 16).map(i =>
        s"CASE WHEN b$i > 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH $simhash16Ctes
         |SELECT doc_id, $bits AS simhash16 FROM bitsums ORDER BY doc_id""".stripMargin
    },
    // BRUTE-FORCE all-pairs count by Hamming distance (test-scale only):
    // count equality with the chunk-index side proves pigeonhole
    // completeness, since every Spark-emitted candidate is exact-verified
    "dedup_simhash_pairs" -> {
      // bit 1 is the most significant: shval = sum of 2^(16-i) for set bits
      val shval = (1 to 16).map(i =>
        s"(CASE WHEN b$i > 0 THEN ${1L << (16 - i)} ELSE 0 END)").mkString(" + ")
      s"""WITH $simhash16Ctes,
         |sh AS (SELECT doc_id, $shval AS shval FROM bitsums)
         |SELECT CAST(bit_count(xor(a.shval, b.shval)) AS BIGINT) AS hamming,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.shval, b.shval)) <= 2
         |GROUP BY 1 ORDER BY hamming""".stripMargin
    },
  )
}
