package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators for the training-data pipeline: n-gram
  * statistics beyond unigrams, and curriculum shard assignment (ordered
  * training shards by a difficulty score).
  *
  * Scale notes:
  *   - bigram top-k mirrors text_zipf's design — the shuffle key space is
  *     the bigram vocabulary (≪ corpus), the top-k folds to ONE array row
  *     (TakeOrdered shape), no unpartitioned window anywhere;
  *   - curriculum shards ride `Relational2.globalRank` (range repartition
  *     + per-partition offsets), so the global ordering costs one range
  *     shuffle and NO single-partition window — the exact plan you'd run
  *     to emit ordered shards from a 100 TB corpus.
  */
object CorpusOps {

  import Tokens.toks

  private val TOP_BIGRAMS = 30

  /** Corpus-wide top-k adjacent-token bigrams with collection frequency
    * and corpus share — the n>1 companion to text_zipf, and the raw
    * signal behind boilerplate phrase detection and BPE seeding. */
  /** Adjacent-token bigrams of a text column, one row per occurrence. */
  def bigrams(d: DataFrame, text: org.apache.spark.sql.Column): DataFrame =
    d.select(toks(text).as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
        i => concat(element_at(col("w"), i), lit(" "),
          element_at(col("w"), i + 1)))).as("bigram"))

  private def bigramTopkQ(s: SparkSession, dir: String): DataFrame = {
    val bg = bigrams(
      graft.Tables.balanced(s, dir, "documents", "doc_id"), col("text"))
    // staged: referenced by both the total and the top-k branch (Catalyst
    // does not dedupe common subtrees — unstaged, the corpus would
    // tokenize twice; same rationale as text_zipf's staged counts)
    val counts = Staging.staged(s, dir, "bigram_counts") {
      bg.groupBy(col("bigram")).agg(count(lit(1)).as("cf"))
    }
    val total = counts.agg(sum(col("cf")).cast("double").as("total"))
    counts.orderBy(col("cf").desc, col("bigram").asc).limit(TOP_BIGRAMS)
      .agg(array_sort(collect_list(
        struct((-col("cf")).as("k"), col("bigram").as("b"), col("cf").as("cf"))))
        .as("xs"))
      .crossJoin(broadcast(total))
      .select(col("total"), posexplode(col("xs")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.b").as("bigram"), col("col.cf").as("cf"),
        round(col("col.cf").cast("double") / col("total"), 9).as("share"))
  }

  private val SHARD_SIZE = 64L

  /** Curriculum shard manifest: order the corpus by a difficulty score
    * (here document length — swap in any score column), assign contiguous
    * fixed-size shards along that order, and emit one manifest row per
    * shard with its boundaries. This is the "write ordered training
    * shards" step of curriculum training: the global order comes from
    * `globalRank` (range shuffle + narrow rank arithmetic), and each
    * shard's rows are CONTIGUOUS in the range partitioning, so the
    * downstream shard writer streams partition-local rows. */
  def curriculumShards(d: DataFrame, score: String, id: String,
                       shardSize: Long): DataFrame =
    Relational2.globalRank(d, col(score), col(id))
      .withColumn("shard", expr(s"(__rank - 1) div $shardSize"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(score)).as("min_chars"),
        max(col(score)).as("max_chars"),
        sum(col(score)).as("sum_chars"),
        min_by(col(id), col("__rank")).as("first_doc"),
        max_by(col(id), col("__rank")).as("last_doc"))
      .orderBy(col("shard"))

  private def curriculumShardsQ(s: SparkSession, dir: String): DataFrame =
    curriculumShards(
      graft.Tables(s, dir, "documents").select(col("doc_id"), col("n_chars")),
      "n_chars", "doc_id", SHARD_SIZE)

  /** N-gram novelty scoring (the data-selection signal behind
    * dedup-aware ordering): each document's fraction of distinct bigrams
    * whose FIRST corpus occurrence (by ascending doc id — ingestion
    * order) is this document. High-novelty docs contribute new phrase
    * mass; near-zero novelty flags re-crawls and templates that exact
    * dedup misses. Plan: one distinct (doc, gram) set (staged — the
    * first-occurrence aggregate and the join-back both consume it), one
    * gram-keyed min aggregate (vocabulary-sized shuffle), one gram-keyed
    * join back; no pairwise comparison anywhere, which is what makes the
    * signal computable at corpus scale where pairwise novelty isn't. */
  private def ngramNoveltyQ(s: SparkSession, dir: String): DataFrame = {
    val dg = Staging.staged(s, dir, "novelty_doc_grams") {
      graft.Tables.balanced(s, dir, "documents", "doc_id")
        .select(col("doc_id"), toks(col("text")).as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("w")) - 1),
            i => concat(element_at(col("w"), i), lit(" "),
              element_at(col("w"), i + 1)))).as("bigram"))
        .distinct()
    }
    val first = dg.groupBy(col("bigram")).agg(min(col("doc_id")).as("first_doc"))
    dg.join(first, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (floor(col("n_novel").cast("double") / col("n_grams").cast("double")
          * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)).as("novelty"))
      .orderBy(col("doc_id"))
  }

  private val PMI_MIN_CF = 5L
  private val PMI_TOPK = 30

  /** PMI-ranked collocations: top-k adjacent bigrams by pointwise mutual
    * information ln(p(ab) / (p(a)p(b))) with a min-frequency floor — the
    * phrase-mining signal that separates REAL collocations from merely
    * frequent pairs (text_bigram_topk ranks by raw count, which surfaces
    * stopword pairs; PMI surfaces pairs that co-occur far above chance,
    * the lexicon a tokenizer/boilerplate pass actually wants). Counts
    * come from the SAME staged bigram/unigram aggregates the zipf and
    * bigram-topk queries consume (zero extra corpus passes); the PMI
    * ratio is one double expression over exact BIGINTs, ln'd once and
    * rounded 6 dp; min-cf ≥ $PMI_MIN_CF kills the unstable low-count
    * tail (PMI's classic failure mode). Top-k by (pmi desc, bigram asc)
    * is a TakeOrdered — no window, no global sort.
    *
    * Shape at scale: two vocabulary-keyed joins (bigram → its two
    * unigram counts), both on aggregates ≪ corpus; totals ride as
    * broadcast 1-row frames. */
  /** PMI scoring over precomputed (bigram, cf) / (w, cf) count frames —
    * the shared tail of the query (staged substrates) and the public API
    * (fresh counts). */
  private[ops] def pmiScore(bg: DataFrame, uni: DataFrame, minCf: Long,
      topK: Int): DataFrame = {
    val nBi = broadcast(bg.agg(sum(col("cf")).as("n_bi")))
    val nUni = broadcast(uni.agg(sum(col("cf")).as("n_uni")))
    val cand = bg.filter(col("cf") >= minCf)
      .select(col("bigram"), col("cf").as("cf_bi"),
        split(col("bigram"), " ").getItem(0).as("w1"),
        split(col("bigram"), " ").getItem(1).as("w2"))
    def dbl(c: String) = col(c).cast("double")
    cand
      .join(uni.select(col("w").as("w1"), col("cf").as("cf1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cf").as("cf2")), "w2")
      .crossJoin(nBi).crossJoin(nUni)
      .select(col("bigram"), col("cf_bi"), col("cf1"), col("cf2"),
        round(log((dbl("cf_bi") / dbl("n_bi"))
          / ((dbl("cf1") / dbl("n_uni")) * (dbl("cf2") / dbl("n_uni")))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(topK)
  }

  /** PUBLIC: PMI collocations over any (text) frame — fresh counts. */
  def pmiCollocations(d: DataFrame, text: org.apache.spark.sql.Column,
      minCf: Long = PMI_MIN_CF, topK: Int = PMI_TOPK): DataFrame =
    pmiScore(
      bigrams(d, text).groupBy(col("bigram")).agg(count(lit(1)).as("cf")),
      d.select(explode(toks(text)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cf")),
      minCf, topK)

  private def pmiCollocationsQ(s: SparkSession, dir: String): DataFrame = {
    val bg = Staging.staged(s, dir, "bigram_counts") {
      bigrams(graft.Tables.balanced(s, dir, "documents", "doc_id"),
          col("text"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cf"))
    }
    val uni = Staging.staged(s, dir, "zipf_counts") {
      graft.Tables.balanced(s, dir, "documents", "doc_id")
        .select(explode(toks(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cf"))
    }
    pmiScore(bg, uni, PMI_MIN_CF, PMI_TOPK)
  }

  private val HEAPS_BUCKETS = 64L

  /** Heaps'-law fit: vocabulary growth V(n) ≈ K·n^β along ingestion
    * order — the corpus-health curve that tells a data pipeline whether
    * new documents still contribute new vocabulary (β plunging toward 0
    * flags template floods / re-crawls corpus-wide, the macro companion
    * of per-doc ngram_novelty). The cumulative (tokens, vocab) curve is
    * sampled at $HEAPS_BUCKETS doc-id buckets, then the log-log OLS
    * line gives β (slope), ln K (intercept) and the fit correlation —
    * the exact-moment discipline of graph_degree_powerlaw.
    *
    * Shape at scale: per-bucket token sums are a partial-aggregable
    * corpus shuffle keyed by bucket; "vocabulary introduced per bucket"
    * is ONE vocabulary-keyed min aggregate (the ngram_novelty shape —
    * never a pairwise comparison); the cumulative window runs over the
    * 64-row bucket frame. Nothing ordered is corpus-sized, which is what
    * makes the curve computable where a per-doc running-vocab window
    * is not. */
  def heapsLaw(d: DataFrame, id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column,
      buckets: Long = HEAPS_BUCKETS): DataFrame = {
    val docs = d.select(id.as("doc_id"), toks(text).as("ws"))
    val bounds = broadcast(docs.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi")))
    val db = docs.crossJoin(bounds)
      .select(
        floor((col("doc_id") - col("lo")) * lit(buckets)
          / (col("hi") - col("lo") + 1)).cast("long").as("bkt"),
        size(col("ws")).cast("long").as("nt"), col("ws"))
    val tb = db.groupBy(col("bkt")).agg(sum(col("nt")).as("toks_b"))
    val nv = db.select(col("bkt"), explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(min(col("bkt")).as("fbkt"))
      .groupBy(col("fbkt")).agg(count(lit(1)).as("new_b"))
      .withColumnRenamed("fbkt", "bkt")
    val wCum = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = tb.join(nv, Seq("bkt"), "left")
      .withColumn("new_b", coalesce(col("new_b"), lit(0L)))
      .withColumn("cum_t", sum(col("toks_b")).over(wCum))
      .withColumn("cum_v", sum(col("new_b")).over(wCum))
      .filter(col("cum_t") > 0 && col("cum_v") > 0)
      .select(round(log(col("cum_t").cast("double")), 6).as("x"),
        round(log(col("cum_v").cast("double")), 6).as("y"))
    val fit = Exact.olsFit(pts)
    // Degenerate-fit guards (the recall_rel/skill/len_ratio discipline):
    // one usable bucket (tiny frame, or every doc_id equal → a single
    // log-log point) makes varx = 0, and a saturated corpus (the
    // template-flood case — vocabulary stops growing so every y is
    // equal) makes vary = 0. Unguarded, Spark's Divide yields NULL while
    // DuckDB's IEEE division yields NaN/Inf — a cross-engine divergence;
    // guarded, both engines emit NULL ("no fit") explicitly.
    fit.moments.select(col("n").as("n_points"),
      when(fit.varx > 0, fit.slope).as("beta"),
      when(fit.varx > 0, fit.intercept).as("ln_k"),
      when(fit.varx > 0 && fit.vary > 0, fit.corr).as("corr"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bigram_topk" -> bigramTopkQ,
    "text_curriculum_shards" -> curriculumShardsQ,
    "text_ngram_novelty" -> ngramNoveltyQ,
    "text_pmi_collocations" -> pmiCollocationsQ,
    "text_heaps_law" -> ((s, dir) => heapsLaw(
      graft.Tables.balanced(s, dir, "documents", "doc_id"),
      col("doc_id"), col("text"))),
  )

  val oracles: Map[String, String] = Map(
    // same exact-count substrates; the PMI ratio spelled once over
    // double casts of BIGINTs, ln'd and rounded 6 dp; same (pmi desc,
    // bigram asc) tie-break at the k cut
    "text_pmi_collocations" ->
      s"""WITH w AS (
         |  SELECT string_split(text, ' ') AS ws FROM documents
         |), bg AS (
         |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS bigram
         |  FROM w WHERE len(ws) >= 2
         |), bc AS (
         |  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cf_bi
         |  FROM bg GROUP BY 1
         |), uni AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cf
         |  FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1
         |), nb AS (SELECT CAST(SUM(cf_bi) AS BIGINT) AS n_bi FROM bc),
         |nu AS (SELECT CAST(SUM(cf) AS BIGINT) AS n_uni FROM uni),
         |cand AS (
         |  SELECT bigram, cf_bi,
         |    string_split(bigram, ' ')[1] AS w1,
         |    string_split(bigram, ' ')[2] AS w2
         |  FROM bc WHERE cf_bi >= $PMI_MIN_CF
         |)
         |SELECT bigram, cf_bi, u1.cf AS cf1, u2.cf AS cf2,
         |  round(ln((CAST(cf_bi AS DOUBLE) / CAST(n_bi AS DOUBLE))
         |    / ((CAST(u1.cf AS DOUBLE) / CAST(n_uni AS DOUBLE))
         |      * (CAST(u2.cf AS DOUBLE) / CAST(n_uni AS DOUBLE)))), 6)
         |    AS pmi
         |FROM cand
         |JOIN uni u1 ON cand.w1 = u1.w
         |JOIN uni u2 ON cand.w2 = u2.w
         |CROSS JOIN nb CROSS JOIN nu
         |ORDER BY pmi DESC, bigram ASC LIMIT $PMI_TOPK""".stripMargin,
    // same doc-id bucket arithmetic (BIGINT·64 / span → double → floor),
    // same vocabulary-min first-bucket aggregate, same 64-row cumulative
    // window, and the exact-moment OLS shared with graph_degree_powerlaw
    "text_heaps_law" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |), b AS (
         |  SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM d
         |), db AS (
         |  SELECT CAST(floor((doc_id - lo) * $HEAPS_BUCKETS
         |      / (hi - lo + 1)) AS BIGINT) AS bkt,
         |    CAST(len(ws) AS BIGINT) AS nt, ws
         |  FROM d CROSS JOIN b
         |), tb AS (
         |  SELECT bkt, CAST(SUM(nt) AS BIGINT) AS toks_b FROM db GROUP BY 1
         |), nv AS (
         |  SELECT fbkt AS bkt, CAST(COUNT(*) AS BIGINT) AS new_b FROM (
         |    SELECT w, MIN(bkt) AS fbkt
         |    FROM (SELECT bkt, unnest(ws) AS w FROM db) GROUP BY 1
         |  ) GROUP BY 1
         |), cum AS (
         |  SELECT tb.bkt,
         |    SUM(toks_b) OVER (ORDER BY tb.bkt ROWS BETWEEN UNBOUNDED
         |      PRECEDING AND CURRENT ROW) AS cum_t,
         |    SUM(COALESCE(new_b, 0)) OVER (ORDER BY tb.bkt ROWS BETWEEN
         |      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_v
         |  FROM tb LEFT JOIN nv ON tb.bkt = nv.bkt
         |), pts AS (
         |  SELECT round(ln(CAST(cum_t AS DOUBLE)), 6) AS x,
         |    round(ln(CAST(cum_v AS DOUBLE)), 6) AS y
         |  FROM cum WHERE cum_t > 0 AND cum_v > 0
         |), ${Exact.olsMomentsSql("pts")}
         |SELECT n AS n_points,
         |  CASE WHEN varx > 0 THEN
         |    CAST(floor((cov / varx) * 1e6 + 0.5) AS DOUBLE) / 1e6
         |  ELSE NULL END AS beta,
         |  CASE WHEN varx > 0 THEN
         |    CAST(floor(((sy - (cov / varx) * sx) / CAST(n AS DOUBLE))
         |      * 1e6 + 0.5) AS DOUBLE) / 1e6
         |  ELSE NULL END AS ln_k,
         |  CASE WHEN varx > 0 AND vary > 0 THEN
         |    CAST(floor((cov / sqrt(varx * vary)) * 1e6 + 0.5)
         |      AS DOUBLE) / 1e6
         |  ELSE NULL END AS corr
         |FROM v""".stripMargin,
    "text_bigram_topk" ->
      s"""WITH w AS (
         |  SELECT string_split(text, ' ') AS ws FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2
         |), bg AS (
         |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS bigram
         |  FROM w
         |), c AS (
         |  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cf FROM bg GROUP BY 1
         |), t AS (SELECT CAST(SUM(cf) AS DOUBLE) AS total FROM c)
         |SELECT rank, bigram, cf, round(CAST(cf AS DOUBLE) / total, 9) AS share
         |FROM (
         |  SELECT ROW_NUMBER() OVER (ORDER BY cf DESC, bigram ASC) AS rank,
         |    bigram, cf FROM c
         |) CROSS JOIN t
         |WHERE rank <= $TOP_BIGRAMS ORDER BY rank""".stripMargin,
    "text_ngram_novelty" ->
      s"""WITH dg AS (
         |  SELECT DISTINCT doc_id,
         |    unnest(list_transform(generate_series(1, len(ws) - 1),
         |      i -> ws[i] || ' ' || ws[i + 1])) AS bigram
         |  FROM (
         |    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |    WHERE len(string_split(text, ' ')) >= 2
         |  )
         |), f AS (
         |  SELECT bigram, MIN(doc_id) AS first_doc FROM dg GROUP BY 1
         |), a AS (
         |  SELECT dg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |    CAST(SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_novel
         |  FROM dg JOIN f USING (bigram) GROUP BY 1
         |)
         |SELECT doc_id, n_grams, n_novel,
         |  CAST(floor(CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE)
         |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS novelty
         |FROM a ORDER BY doc_id""".stripMargin,
    "text_curriculum_shards" ->
      s"""WITH r AS (
         |  SELECT doc_id, n_chars,
         |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk
         |  FROM documents
         |)
         |SELECT (rk - 1) // $SHARD_SIZE AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  arg_min(doc_id, rk) AS first_doc,
         |  arg_max(doc_id, rk) AS last_doc
         |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,
  )
}
