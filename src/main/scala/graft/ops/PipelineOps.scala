package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The composed END-TO-END training-data pipeline — every stage below is
  * an individually oracle-checked operator elsewhere in the registry;
  * this query pins that they COMPOSE, because the production failure
  * modes live in the stage INTERACTIONS the per-stage oracles cannot
  * see: the keeper rule decides which documents the gate ever scores,
  * PII redaction changes the token stream the gate and the mixer count,
  * gating moves the per-language token totals and therefore every
  * temperature quota, and the quotas decide what reaches packing.
  *
  * One dataflow, raw corpus → curriculum-ready bins:
  *
  *   1. NEAR-DUP DEDUP with a quality keeper (dedup_clusters +
  *      dedup_keeper_quality): MinHash/LSH candidates → Jaccard-verified
  *      pairs → connected components → keep the longest member per
  *      cluster (tie → smallest doc_id), drop the rest. Runs FIRST so
  *      every later per-row stage pays only for surviving documents.
  *   2. CLEAN (text_pii_redact): regex PII redaction of the keepers —
  *      map-side only; the PII-bearing text is the same deterministic
  *      derivation the standalone query uses.
  *   3. TRAINED QUALITY GATE (text_quality_train/apply): the
  *      GD-trained ridge model — the SAME staged training run the
  *      standalone queries serve — scores the REDACTED text (redaction
  *      changes scores: that interaction is the point) and keeps
  *      s ≥ 0.5.
  *   4. TEMPERATURE MIX (text_mix_temperature + text_mix_budget): per-
  *      language √-temperature weights over the gated token totals set
  *      integer quotas of a $MIX_BUDGET-token budget; documents fill
  *      each language's quota in deterministic md5-priority order.
  *   5. PACK (text_pack_bins discipline): selected docs pack greedily
  *      into $CTX-token bins in priority order (bin = starting-offset
  *      div $CTX).
  *   6. REPORT: one row per language with a counter per stage —
  *      n_docs → n_kept → n_gated → quota_toks → n_selected/sel_toks →
  *      n_bins (+ redacted-PII mass that survived to selection), so a
  *      divergence anywhere upstream flips a visible column, not just
  *      the hash.
  *
  * Shape at scale: stage 1 is the bucketed-LSH + component machinery
  * (never all-pairs); stages 2-3 are per-row/broadcast work that runs
  * AFTER the drop; stage 4's cumulative-tokens selection rides
  * [[Relational2.prefixSums]] (range exchange + broadcast offsets) with
  * per-language offsets subtracted — NOT a per-language ordered window,
  * so one giant language cannot funnel the selection through a single
  * task; stage 5-6 are keyed aggregates. The staged substrates (`vp`,
  * the trained model) are SHARED with the standalone dedup/gate queries
  * — the composition adds no second corpus pass for them.
  *
  * The oracle replays the ENTIRE dataflow as one DuckDB CTE chain —
  * the dedup_keeper closure, the unrolled GD training, scoring of the
  * redacted keepers, quotas, selection, packing — so the hash gate
  * covers the composition end to end. */
object PipelineOps {

  private val CTX = 256L          // tokens per packed bin
  private val MIX_BUDGET = 100000L

  private def pipeCorpusE2eQ(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables(s, dir, "documents")

    // -- 1. near-dup dedup, quality keeper (longest member, tie min id).
    // The labels are checkpointed: otherwise every frame built below
    // (cleaned, scored, gated, selected) carries the staged pair table's
    // whole lineage, and re-analysing it added ~2 s of driver planning
    // to the final action at sf0.1 (0.7-0.9 s with the cut, 2.6-2.9 s
    // without; same stages, same task time)
    val clusters = DedupOps.clusterPairs(DedupOps.verifiedPairs(s, dir))
      .localCheckpoint(true)
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks0"))
    val wk = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_toks0").desc, col("doc_id").asc)
    val drop = clusters.join(lens, "doc_id")
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") > 1).select(col("doc_id"))
    // drop is cluster-member-sized (tiny); broadcast the anti side
    val kept = docs.join(broadcast(drop), Seq("doc_id"), "left_anti")

    // -- 2. clean: PII redaction of the keepers (staged: the gate's
    // scoring pass and the gated join both read it)
    val cleaned = Staging.staged(s, dir, "pipe_clean") {
      CleanOps.redactPii(
        kept.select(col("doc_id"), col("lang"), CleanOps.piiText.as("txt")),
        "txt")
        .select(col("doc_id"), col("lang"), col("redacted"),
          (col("n_email") + col("n_phone") + col("n_ip")).as("n_pii"))
    }

    // -- 3. trained gate over the REDACTED text (shared staged model)
    val m = TrainOps.trainedQuality(s, dir)
    val c = TrainOps.absentPairConstant(s, m)
    val scores = TrainOps.scoreWithModel(cleaned, "doc_id", "redacted", m, c)
    val gated = Staging.staged(s, dir, "pipe_gated") {
      cleaned.join(scores, "doc_id").filter(col("s") >= 0.5)
        .withColumn("prio",
          md5(concat(lit("pipe:"), col("doc_id").cast("string"))
            .cast("binary")))
        .withColumn("tok", size(split(col("redacted"), " ")).cast("long"))
        .select(col("doc_id"), col("lang"), col("n_pii"), col("prio"),
          col("tok"))
    }

    // -- 4. temperature quotas + priority-order selection
    val per = gated.groupBy(col("lang"))
      .agg(sum(col("tok")).as("lt"), count(lit(1)).as("n_gated"))
    val wq = per.select(col("lang"), col("n_gated"),
      floor(sqrt(col("lt").cast("double"))).cast("long").as("w"))
    val tw = wq.agg(sum(col("w")).as("tw"))
    val qta = wq.crossJoin(broadcast(tw))
      .select(col("lang"), col("n_gated"),
        when(col("tw") > 0, expr(s"($MIX_BUDGET * w) div tw"))
          .otherwise(lit(0L)).as("quota_toks"))
    // global prefix sums over (lang, prio, doc_id) — languages are
    // contiguous in the range order, so per-language cumulative tokens =
    // global running sum minus the language's starting offset (one tiny
    // aggregate), with no per-language ordered window anywhere
    val cumG = Relational2.prefixSums(gated,
      Seq(col("lang"), col("prio"), col("doc_id")), Seq("tok"))
    val off = cumG.groupBy(col("lang"))
      .agg(min(col("__cum_tok") - col("tok")).as("off"))
    val sel = cumG.join(broadcast(off), "lang")
      .withColumn("cum", col("__cum_tok") - col("off"))
      .join(broadcast(qta.select(col("lang"), col("quota_toks"))), "lang")
      .filter(col("cum") <= col("quota_toks"))
      // -- 5. pack: greedy fixed-size token bins in the same order
      .withColumn("bin", expr(s"(cum - tok) div $CTX"))

    // -- 6. per-language stage report
    val docc = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val keptc = cleaned.groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    val selc = sel.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_selected"), sum(col("tok")).as("sel_toks"),
        countDistinct(col("bin")).as("n_bins"),
        sum(col("n_pii")).as("n_pii_selected"))
    docc.join(keptc, Seq("lang"), "left")
      .join(broadcast(qta), Seq("lang"), "left")
      .join(selc, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("quota_toks"), lit(0L)).as("quota_toks"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        coalesce(col("sel_toks"), lit(0L)).as("sel_toks"),
        coalesce(col("n_bins"), lit(0L)).as("n_bins"),
        coalesce(col("n_pii_selected"), lit(0L)).as("n_pii_selected"))
      .orderBy(col("lang"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_corpus_e2e" -> pipeCorpusE2eQ,
  )

  /** The full-dataflow DuckDB replay: dedup closure (DedupOps'
    * `verifiedReachCtes`, shared with dedup_clusters), PII redaction of the keepers (the
    * text_pii_redact spelling), the unrolled GD training (TrainOps'
    * header + step CTEs, verbatim — shared strings, not copies), scoring
    * of the redacted keepers with the final weights (the
    * text_quality_apply spelling over the cleaned text), √-temperature
    * quotas (the text_mix_temperature spelling), priority-order
    * selection, fixed-size packing, per-language report. */
  val oracles: Map[String, String] = Map(
    "pipe_corpus_e2e" -> {
      val steps = (0 until TrainOps.STEPS).map(TrainOps.stepSql).mkString
      val W = s"w${TrainOps.STEPS}"
      val Bb = s"b${TrainOps.STEPS}"
      s"""WITH RECURSIVE ${DedupOps.verifiedReachCtes}, comp AS (
         |  SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u
         |), rked AS (
         |  SELECT c.cluster_id, c.doc_id,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY len(string_split(d.text, ' ')) DESC, c.doc_id) AS rk
         |  FROM comp c JOIN documents d USING (doc_id)
         |), drp AS (SELECT doc_id FROM rked WHERE rk > 1),
         |kept AS (SELECT d.* FROM documents d ANTI JOIN drp USING (doc_id)),
         |pcln AS (
         |  SELECT doc_id, lang,
         |    regexp_replace(regexp_replace(regexp_replace(txt,
         |      '${CleanOps.emailRe}', '[EMAIL]', 'g'),
         |      '${CleanOps.phoneRe}', '[PHONE]', 'g'),
         |      '${CleanOps.ipRe}', '[IP]', 'g') AS redacted,
         |    CAST(len(regexp_extract_all(txt, '${CleanOps.emailRe}'))
         |      + len(regexp_extract_all(txt, '${CleanOps.phoneRe}'))
         |      + len(regexp_extract_all(txt, '${CleanOps.ipRe}'))
         |      AS BIGINT) AS n_pii
         |  FROM (SELECT doc_id, lang, ${CleanOps.piiTextSql} AS txt FROM kept)
         |),
         |${TrainOps.headerCtes}
         |$steps, cF AS (
         |  SELECT CAST(SUM(CAST((w.wgt * st.mu) / st.sd AS DECIMAL(30,6)))
         |    AS DOUBLE) AS c
         |  FROM $W w JOIN stats st USING (bucket)
         |), ptk AS (
         |  SELECT doc_id, unnest(string_split(redacted, ' ')) AS w FROM pcln
         |), pbk AS (
         |  SELECT doc_id,
         |    CAST(CAST('0x' || substr(md5(w), 1, 4) AS UBIGINT)
         |      % ${TrainOps.B} AS BIGINT) AS bucket
         |  FROM ptk
         |), pct AS (
         |  SELECT doc_id, bucket, COUNT(*) AS cnt2 FROM pbk GROUP BY 1, 2
         |), pft AS (
         |  SELECT doc_id, bucket, CAST(cnt2 AS DOUBLE)
         |    / CAST(SUM(cnt2) OVER (PARTITION BY doc_id) AS DOUBLE) AS x
         |  FROM pct
         |), psc AS (
         |  SELECT f.doc_id,
         |    CAST(SUM(CAST((w.wgt * f.x) / st.sd AS DECIMAL(30,6))) AS DOUBLE)
         |      - c.c + b.b AS s
         |  FROM pft f JOIN $W w USING (bucket)
         |    JOIN stats st USING (bucket)
         |    CROSS JOIN cF c CROSS JOIN $Bb b
         |  GROUP BY f.doc_id, c.c, b.b
         |), gt AS (
         |  SELECT p.doc_id, p.lang, p.n_pii,
         |    md5('pipe:' || CAST(p.doc_id AS VARCHAR)) AS prio,
         |    CAST(len(string_split(p.redacted, ' ')) AS BIGINT) AS tok
         |  FROM pcln p JOIN psc USING (doc_id) WHERE psc.s >= 0.5
         |), per AS (
         |  SELECT lang, CAST(SUM(tok) AS BIGINT) AS lt,
         |    CAST(COUNT(*) AS BIGINT) AS n_gated
         |  FROM gt GROUP BY 1
         |), wq AS (
         |  SELECT lang, n_gated,
         |    CAST(floor(sqrt(CAST(lt AS DOUBLE))) AS BIGINT) AS w
         |  FROM per
         |), twx AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wq),
         |qta AS (
         |  SELECT lang, n_gated,
         |    CASE WHEN tw > 0 THEN ($MIX_BUDGET * w) // tw
         |         ELSE CAST(0 AS BIGINT) END AS quota_toks
         |  FROM wq CROSS JOIN twx
         |), selx AS (
         |  SELECT g.*, CAST(SUM(tok) OVER (PARTITION BY lang
         |    ORDER BY prio, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM gt g
         |), pick AS (
         |  SELECT selx.*, (cum - tok) // $CTX AS bin
         |  FROM selx JOIN qta USING (lang) WHERE cum <= qta.quota_toks
         |), docc AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents GROUP BY 1
         |), keptc AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
         |  FROM pcln GROUP BY 1
         |), selc AS (
         |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_selected,
         |    CAST(SUM(tok) AS BIGINT) AS sel_toks,
         |    CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins,
         |    CAST(SUM(n_pii) AS BIGINT) AS n_pii_selected
         |  FROM pick GROUP BY 1
         |)
         |SELECT d.lang, d.n_docs,
         |  coalesce(k.n_kept, 0) AS n_kept,
         |  coalesce(q.n_gated, 0) AS n_gated,
         |  coalesce(q.quota_toks, 0) AS quota_toks,
         |  coalesce(s.n_selected, 0) AS n_selected,
         |  coalesce(s.sel_toks, 0) AS sel_toks,
         |  coalesce(s.n_bins, 0) AS n_bins,
         |  coalesce(s.n_pii_selected, 0) AS n_pii_selected
         |FROM docc d
         |LEFT JOIN keptc k USING (lang)
         |LEFT JOIN qta q USING (lang)
         |LEFT JOIN selc s USING (lang)
         |ORDER BY d.lang""".stripMargin
    },
  )
}
