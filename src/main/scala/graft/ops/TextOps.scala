package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tokens._
import Exact._

/** Text-analysis operators for training-data pipelines: quality scoring,
  * language-ID (marker-token heuristic), BPE-ish sub-word token counting,
  * and document fingerprinting. All per-document work is narrow (HOFs over
  * the token array inside codegen — no explode, no shuffle until the final
  * small aggregation), which is the shape that scales: a 100 TB corpus maps
  * each doc once and only aggregates small summaries.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables(s, dir, "documents")

  private val stopwords = Seq("the", "a", "of", "to", "and")

  /** Per-doc quality stats: token counts, type-token ratio, average token
    * length, stopword ratio, and a composite quality score. */
  private def textStats(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t).cast("long")
    val nDis = size(array_distinct(t)).cast("long")
    val totChars = aggregate(transform(t, w => length(w)), lit(0), (a, x) => a + x)
    val nStop = size(filter(t, w => w.isin(stopwords.map(lit): _*))).cast("long")
    val ttr = nDis.cast("double") / nTok.cast("double")
    val avgLen = totChars.cast("double") / nTok.cast("double")
    val stopRatio = nStop.cast("double") / nTok.cast("double")
    docs(s, dir).select(
      col("doc_id"), col("lang"), col("source"),
      nTok.as("n_tokens"), nDis.as("n_distinct"),
      totChars.cast("long").as("total_token_chars"),
      ttr.as("ttr"), avgLen.as("avg_token_len"), stopRatio.as("stop_ratio"),
      (ttr * 0.5 + least(lit(1.0), nTok.cast("double") / 100.0) * 0.3 +
        (lit(1.0) - stopRatio) * 0.2).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Marker-token sets per language. With a natural-language corpus these
    * would be real stopword profiles (the/der/le/el/的); the test corpus is
    * synthetic word-soup, so disjoint vocab subsets stand in — the scoring
    * and argmax machinery is the operator under test. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("table", "batch"),
    "es" -> Seq("data", "value"),
    "fr" -> Seq("query", "merge"),
    "zh" -> Seq("hash", "scan"))

  /** Language-ID: score = marker-token hits per language, argmax with a
    * fixed tie order; output is the confusion matrix against the label.
    *
    * The tokenization and the 5 per-language scores are HOISTED into their
    * own projections (separate attributes), not inlined into the argmax
    * when-chain: conditional branches are excluded from codegen
    * subexpression elimination, so the inlined form re-split the text and
    * re-counted markers once per branch (~10× the per-row work — the
    * query's dominant cost at the 10× rehearsal). CollapseProject keeps
    * the split because inlining would duplicate a non-cheap expression.
    * The scan is `balanced`: the corpus arrives as one row group, and the
    * per-row tokenize would otherwise run single-threaded. */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    val withT = graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(col("lang"), toks(col("text")).as("t"))
    val withScores = withT.select(col("lang") +:
      markers.zipWithIndex.map { case ((_, ws), i) =>
        size(filter(col("t"), w => w.isin(ws.map(lit): _*))).as(s"s$i")
      }: _*)
    val withMax = withScores.withColumn("m",
      greatest(markers.indices.map(i => col(s"s$i")): _*))
    // first language (in declared order) reaching the max wins ties
    val pred = markers.zipWithIndex.tail.foldLeft(
      when(col("s0") >= col("m"), markers.head._1)) {
      case (acc, ((l, _), i)) => acc.when(col(s"s$i") >= col("m"), l)
    }
    withMax
      .select(col("lang"), pred.as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Character-trigram set per doc (shared Tokens helper). */
  private def charTrigrams: Column = Tokens.charNgramSet(col("text"), 3)

  /** N-gram language-ID: per-language character-trigram profiles (top-20
    * trigrams by frequency) are learned from the labeled corpus, then each
    * document is scored by profile overlap and assigned the argmax
    * language — the classic n-gram LID shape (profiles ≈ Cavnar-Trenkle
    * rank profiles). Self-training on the corpus keeps it oracle-exact;
    * at scale the profile table stays vocabulary-sized and broadcasts.
    * Output: confusion matrix vs the label. */
  private def langIdNgram(s: SparkSession, dir: String): DataFrame = {
    // the trigram SET is computed once per doc (the charNgramSet HOF is
    // the expensive part) and staged as an in-row array: the profile
    // build explodes it once, but SCORING never touches the exploded
    // table again — each doc intersects its set with the 5 broadcast
    // top-20 profile arrays in-row (score = |docSet ∩ profileSet|,
    // identical to the former join-and-count over distinct grams, which
    // was a second pass over the ~5M-row explode and the query's
    // dominant cost)
    val withSets = Staging.staged(s, dir, "lid_gs") {
      graft.Tables.balanced(s, dir, "documents", "doc_id")
        .select(col("doc_id"), col("lang"), charTrigrams.as("gs"))
    }
    val profile = withSets
      .select(col("lang"), explode(col("gs")).as("g"))
      .groupBy(col("lang"), col("g")).agg(count(lit(1)).as("n"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("g").asc)
    val profArrays = profile.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 20)
      .groupBy(col("lang").as("p_lang"))
      .agg(collect_list(col("g")).as("pg")) // 20 grams x n_langs — tiny
    val scored = withSets.crossJoin(broadcast(profArrays))
      .select(col("doc_id"), col("lang"), col("p_lang"),
        size(array_intersect(col("gs"), col("pg"))).cast("long").as("s"))
    val wPred = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s").desc, col("p_lang").asc)
    scored.withColumn("rk", row_number().over(wPred)).filter(col("rk") === 1)
      .groupBy(col("lang"), col("p_lang").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** BPE-ish sub-word segmentation via a syllable regex; counts aggregated
    * per source (regex identical in Java and RE2 dialects). */
  private val sylRe = "[bcdfghjklmnpqrstvwxyz]*[aeiou]+[bcdfghjklmnpqrstvwxyz]*"

  private def tokenCount(s: SparkSession, dir: String): DataFrame = {
    val nBpe = size(regexp_extract_all(col("text"), lit(sylRe), lit(0))).cast("long")
    val nWs = size(toks(col("text"))).cast("long")
    docs(s, dir)
      .select(col("source"), nBpe.as("n_bpe"), nWs.as("n_ws"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bpe")).as("bpe_tokens"),
        sum(col("n_ws")).as("ws_tokens"),
        avgD(col("n_bpe").cast("double")).as("avg_bpe_per_doc"))
      .orderBy(col("source"))
  }

  /** Document fingerprints: full-text md5 + winnowing-style min-hash over
    * 8-token windows (rolling fingerprint). */
  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      md5(col("text").cast("binary")).as("fp_full"),
      array_min(transform(shingles(col("text"), 8),
        w => md5(w.cast("binary")))).as("fp_window"))
      .orderBy(col("doc_id"))

  /** TF-IDF top-3 terms per document. Two shuffles: per-(doc, term)
    * counts, then per-term document frequency; the DF table is vocabulary-
    * sized (≪ corpus at scale) and joins back onto the term counts. ln()
    * and the multiply order are identical in both engines, so scores
    * hash-match exactly. Ties break on the term for determinism. */
  private def tfidf(s: SparkSession, dir: String): DataFrame = {
    // balanced: the tokenize-explode is the query's map-side cost and the
    // corpus ships as one split
    val d = graft.Tables.balanced(s, dir, "documents", "doc_id")
    // corpus size as a broadcast 1-row aggregate INSIDE the pipeline (the
    // oracle's `n` CTE) — a driver-side d.count() here would be a whole
    // extra pass over the corpus before the real job at 100 TB
    val nDocs = d.agg(count(lit(1)).cast("double").as("n_docs"))
    val tok = d.select(col("doc_id"), explode(toks(col("text"))).as("w"))
    val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // rounded to 6 dp: ln() differs by 1 ulp across libm implementations,
    // and the rank must be computed on the value both engines agree on
    val scored = tf.join(df_, "w").crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n_docs") / col("df").cast("double")), 6))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("w").asc)
    scored.withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("w"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Character-trigram language-model quality score — the CCNet/KenLM-style
    * filter every production corpus pass runs: score each document by the
    * average log-probability of its trigrams under an n-gram LM,
    * P(c₃|c₁c₂) = count₃(g)/Σₓcount₃(c₁c₂·x) — the MLE with context
    * counts, here self-trained on the corpus (a real pipeline trains on a
    * held-out clean reference; the machinery is identical). Low scores =
    * improbable character sequences = noise.
    *
    * Scale shape: ONE corpus explode. The trigram model table is
    * VOCABULARY-sized (≤ alphabet³ — bounded, unlike the corpus); the
    * context (bigram) table is derived by re-aggregating THAT table, never
    * a second corpus pass (measured: the separate bigram explode doubled
    * the query's cost). Both broadcast onto the exploded docs; the only
    * corpus-keyed shuffle is the per-doc aggregate. Each per-trigram
    * log-prob is rounded to 6 dp before the exact decimal average so both
    * engines agree bit-for-bit (ln differs by 1 ulp across libm
    * implementations — same contract as text_tfidf_topk).
    *
    * Every trigram's context necessarily exists in the context table (it
    * contributes to it), so the model joins are total — including the
    * short-doc edge where the "trigram" is a truncated prefix.
    *
    * 10×-rehearsal note (the r11 suite-worst flag, 3.67×): the sf1
    * corpus's per-word replica prefixes LENGTHEN every word, so gram
    * rows grow 13.3× (1.48M → 19.6M measured), not 10×, while vocab
    * stays bounded (377 → 836 trigrams). Wall grows ~3× for 13.3× the
    * scored rows — SUBLINEAR in actual work units; the ratio is pure
    * candidate volume from the synthetic corpus's construction, not a
    * worsening constant. */
  private def lmScore(s: SparkSession, dir: String): DataFrame = {
    // NOT staged: persisting the exploded (doc, gram) table materializes
    // corpus × gram rows — the one thing in this query that grows with
    // data and spills at scale. The explode is cheap map-side CPU over a
    // column-pruned scan, so both consumers recompute it and stream; what
    // IS worth keeping is the VOCABULARY-sized model aggregate below.
    def g3 = graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(col("doc_id"), explode(Tokens.charNgrams(col("text"), 3)).as("g"))
    // c3 feeds both the model join and the context aggregation — staged so
    // the vocabulary aggregate over the corpus runs once
    val c3 = Staging.staged(s, dir, "lm_c3") {
      g3.groupBy(col("g")).agg(count(lit(1)).as("c3"))
    }
    val c2 = c3.groupBy(substring(col("g"), 1, 2).as("p"))
      .agg(sum(col("c3")).as("c2"))
    g3.withColumn("p", substring(col("g"), 1, 2))
      .join(broadcast(c3), "g")
      .join(broadcast(c2), "p")
      .withColumn("lp",
        round(log(col("c3").cast("double") / col("c2").cast("double")), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), avgD(col("lp")).as("avg_lp"))
      .orderBy(col("doc_id"))
  }

  /** Count threshold below which [[lmScorePruned]] drops a trigram from
    * the served model (KenLM's --prune): kept grams each carry ≥ this
    * many instances, so the model row count is bounded by
    * gram-instances / threshold REGARDLESS of corpus novelty. */
  private[ops] val LM_PRUNE_MIN = 100L

  /** [[lmScore]] serving a PRUNED model — the production LM-filter shape
    * (KenLM --prune / CCNet): the full model table grows with corpus
    * NOVELTY (measured at 100×: 30.8× wall for 100× data as distinct
    * grams grew with the synthetic corpus's vocabulary — BENCH_SF10_SPOT),
    * so production filters serve a model thresholded at train time:
    * trigrams with count < [[LM_PRUNE_MIN]] are dropped, capping model
    * rows at gram-instances/threshold (a size the training side CONTROLS,
    * where the unpruned vocabulary is open-ended).
    *
    * Scoring is the same expression with one coalesce: a pruned-away
    * gram scores at the threshold ceiling log(PRUNE_MIN/c2) — the
    * tightest upper bound the served model can state for a gram it
    * dropped (its true count was < PRUNE_MIN), deterministic in both
    * engines, no float backoff constants. Context totals c2 stay the
    * FULL totals (they aggregate off the model-build pass, vocabulary-
    * sized either way), so kept grams score identically to [[lmScore]].
    * At sf0.01 the threshold prunes 149 of 377 grams, so the coalesce
    * path itself sits behind the oracle's hash gate. */
  private def lmScorePruned(s: SparkSession, dir: String): DataFrame = {
    def g3 = graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(col("doc_id"), explode(Tokens.charNgrams(col("text"), 3)).as("g"))
    val c3 = Staging.staged(s, dir, "lm_c3") {
      g3.groupBy(col("g")).agg(count(lit(1)).as("c3"))
    }
    val c2 = c3.groupBy(substring(col("g"), 1, 2).as("p"))
      .agg(sum(col("c3")).as("c2"))
    val model = c3.filter(col("c3") >= LM_PRUNE_MIN)
    g3.withColumn("p", substring(col("g"), 1, 2))
      .join(broadcast(model), Seq("g"), "left_outer")
      .join(broadcast(c2), "p")
      .withColumn("lp",
        round(log(coalesce(col("c3"), lit(LM_PRUNE_MIN)).cast("double")
          / col("c2").cast("double")), 6))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), avgD(col("lp")).as("avg_lp"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------ RAKE keywords

  private val RAKE_K = 3 // phrases kept per document

  /** RAKE keyword extraction (Rose et al. 2010) — the unsupervised
    * keyphrase step of document tagging/routing pipelines: candidate
    * phrases are the maximal runs of non-stopword tokens (stopwords act
    * as delimiters), each word scores deg/freq over the document's
    * phrases (deg = Σ length of the phrases its occurrences sit in —
    * words that keep company in long phrases beat loners), and a phrase
    * scores the sum of its words' scores. Top-K phrases per document.
    *
    * Exactness: word scores are 6-dp-quantized doubles (the deg/freq
    * ratio of small ints) and the phrase score sums them through
    * DECIMAL(18,6) — order-free, so the per-phrase sum is identical
    * under any partitioning and in the oracle's replay. Phrase text is
    * rebuilt from (pos, w) structs sorted by position (collect_list
    * order is partition-dependent; the sort is not). Duplicate phrase
    * texts in one doc collapse before ranking (same words → identical
    * score, so the dedup loses nothing), and ties rank by phrase text.
    *
    * Shape at scale: everything is doc-keyed — one window for the
    * phrase ids (stopword running count), two doc-keyed aggregates
    * (phrase length, word stats), one doc-keyed join-back, the top-K
    * window. No corpus-global state at all: the operator is
    * embarrassingly parallel over documents, the ideal 100 TB shape. */
  def rakeKeywords(d: DataFrame, id: Column, text: Column,
                   stops: Seq[String] = stopwords,
                   k: Int = RAKE_K): DataFrame = {
    // r16 optimization round: RAKE is embarrassingly parallel over
    // documents — every stat (phrase ids, phrase lengths, word
    // freq/degree, phrase scores, top-K) is a function of ONE row's
    // text. The dataflow form re-tokenized the corpus in three plan
    // branches (materializing the exploded token frame was MEASURED
    // SLOWER, 1.46 → 1.92 s — it is corpus-token-sized) and paid two
    // doc-keyed joins, three doc-keyed aggregates and two windows. It
    // is now ONE map pass — a per-document scalar kernel with no
    // exchange at all (the minhash / gear-CDC discipline; the guide's
    // §1.2 step-1 shape: zero shuffles is the theoretical floor here).
    // Arithmetic is bit-identical to the dataflow spelling (RakeSpec +
    // the oracle replay pin it): word scores quantize through the same
    // floor(x·1e6 + 0.5) ladder, phrase sums accumulate the DECIMAL(18,6)
    // scaled values exactly, the duplicate-phrase collapse keys on the
    // same rebuilt text, and ties rank by UTF-8 binary order — Spark's
    // string ordering (a Java String compare would disagree on
    // supplementary characters).
    val stopSet = stops.toSet
    val base = d.select(id.as("doc_id"), text.as("__t"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        base.schema("doc_id").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("rk",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("phrase",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("n_words",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    // DECIMAL(18,6) quantization of a double — the engine's cast
    // spelling (shortest-string BigDecimal, HALF_UP)
    def q6u(t: Double): Long =
      new java.math.BigDecimal(java.lang.Double.toString(t))
        .setScale(6, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    base.mapPartitions { it =>
      it.flatMap { r =>
        if (r.isNullAt(1)) Iterator.empty
        else {
          val toks = r.getString(1).split(" ", -1)
          // phrase id = running stop count (split(text,' ') keeps
          // empties, matching the Column tokenizer); collect non-stop
          // occurrences per phrase in position order
          val phrases = scala.collection.mutable.LinkedHashMap
            .empty[Long, scala.collection.mutable.ArrayBuffer[String]]
          var pid = 0L
          toks.foreach { w =>
            if (stopSet.contains(w)) pid += 1L
            else phrases.getOrElseUpdate(pid,
              scala.collection.mutable.ArrayBuffer.empty[String]) += w
          }
          if (phrases.isEmpty) Iterator.empty
          else {
            // word stats over all occurrences: freq, deg = Σ plen
            val freq = scala.collection.mutable.HashMap.empty[String, Long]
            val deg = scala.collection.mutable.HashMap.empty[String, Long]
            phrases.valuesIterator.foreach { ws =>
              val plen = ws.length.toLong
              ws.foreach { w =>
                freq.update(w, freq.getOrElse(w, 0L) + 1L)
                deg.update(w, deg.getOrElse(w, 0L) + plen)
              }
            }
            // wscore = floor((deg/freq)·1e6 + 0.5).toLong / 1e6 (double)
            val wscore = freq.keysIterator.map { w =>
              val v = math.floor(
                deg(w).toDouble / freq(w).toDouble * 1e6 + 0.5d)
                .toLong.toDouble / 1e6
              w -> v
            }.toMap
            // per phrase: text, n_words, exact DECIMAL(18,6) score; then
            // duplicate-phrase collapse via max (same words → same score)
            val uniq = scala.collection.mutable.HashMap
              .empty[String, (Long, Long)]
            phrases.valuesIterator.foreach { ws =>
              val phraseTxt = ws.mkString(" ")
              var sc = 0L
              ws.foreach(w => sc = Math.addExact(sc, q6u(wscore(w))))
              val nw = ws.length.toLong
              uniq.get(phraseTxt) match {
                case Some((onw, osc)) =>
                  uniq.update(phraseTxt, (math.max(onw, nw), math.max(osc, sc)))
                case None => uniq.update(phraseTxt, (nw, sc))
              }
            }
            // top-K by (score DESC, phrase ASC in UTF-8 binary order)
            val ranked = uniq.toArray.sortWith { case ((p1, (_, s1)), (p2, (_, s2))) =>
              if (s1 != s2) s1 > s2
              else {
                val b1 = p1.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                val b2 = p2.getBytes(java.nio.charset.StandardCharsets.UTF_8)
                java.util.Arrays.compareUnsigned(b1, b2) < 0
              }
            }.take(k)
            ranked.iterator.zipWithIndex.map { case ((p, (nw, sc)), i) =>
              org.apache.spark.sql.Row(r.get(0), (i + 1).toLong, p, nw,
                new java.math.BigDecimal(
                  java.math.BigInteger.valueOf(sc), 6).doubleValue)
            }
          }
        }
      }
    }(Encoders.row(schema))
  }

  private def rakeQ(s: SparkSession, dir: String): DataFrame =
    rakeKeywords(graft.Tables.balanced(s, dir, "documents", "doc_id"),
        col("doc_id"), col("text"))
      .orderBy(col("doc_id"), col("rk"))

  /** Benchmark decontamination — the n-gram-overlap scan every training
    * pipeline runs before release: flag documents sharing too many word
    * 5-grams with an evaluation/benchmark set. The benchmark here is a
    * deterministic corpus subset (doc_id % 100 == 7) standing in for the
    * real eval files. Scale shape: the benchmark gram set is FIXED-size
    * (eval suites don't grow with the corpus) and broadcast, so the scan
    * side streams map-side — explode, broadcast-join, per-doc count; the
    * only shuffle is the per-doc aggregate. Output: every non-benchmark
    * doc with at least one overlapping gram, its contamination fraction,
    * and the flag at the 50% threshold (near-dup clones of benchmark docs
    * flag; incidental phrase overlap doesn't). The gram size is a dial:
    * real pipelines run 8-13 on natural text; 3 here so the synthetic
    * word-soup corpus produces both incidental and clone-level overlap. */
  private val DECON_K = 3

  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = Staging.staged(s, dir, s"decon_g$DECON_K") {
      graft.Tables.balanced(s, dir, "documents", "doc_id")
        .select(col("doc_id"),
          array_distinct(shingles(col("text"), DECON_K)).as("gs"))
    }
    val bench = grams.filter(col("doc_id") % 100 === 7)
      .select(explode(col("gs")).as("g")).distinct()
    val scan = grams.filter(col("doc_id") % 100 =!= 7)
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
        explode(col("gs")).as("g"))
    scan.join(broadcast(bench), "g")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("contamination",
        round(col("n_hit").cast("double") / col("n_grams").cast("double"), 6))
      .withColumn("flagged", col("contamination") >= 0.5)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        col("contamination"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing: assign documents to fixed-token-budget bins
    * (training-batch packing), the window-cumsum formulation — bin =
    * floor(tokens-before-me / capacity) per language in doc_id order.
    * Deterministic, single keyed window, no iteration; a greedy first-fit
    * packer would need stateful traversal, and at corpus scale this
    * streaming-friendly form is what pipelines actually run. */
  private val PACK_CAP = 2048L

  private def packBins(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"), col("lang"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", ((col("cum") - col("n_tok")) / PACK_CAP).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  /** Repetition scoring (Gopher-style quality heuristic): fraction of
    * duplicate tokens and duplicate word-2-grams per document, rolled up
    * into per-source rates plus the count of high-repetition docs. Narrow
    * per-row set arithmetic — no explode, no shuffle before the small
    * per-source aggregate. */
  private def repetition(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val g2 = shingles(col("text"), 2)
    val dupTok = lit(1.0) -
      size(array_distinct(t)).cast("double") / size(t).cast("double")
    val dupG2 = lit(1.0) -
      size(array_distinct(g2)).cast("double") / size(g2).cast("double")
    // balanced: the shingle + distinct set work is the heavy part and must
    // not run on the single scan partition (see Tables.balanced)
    graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(col("source"), round(dupTok, 6).as("dup_tok"),
        round(dupG2, 6).as("dup_2gram"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        avgD(col("dup_tok")).as("avg_dup_tok"),
        avgD(col("dup_2gram")).as("avg_dup_2gram"),
        sum(when(col("dup_2gram") > 0.5, 1L).otherwise(0L)).as("n_high_rep"))
      .orderBy(col("source"))
  }

  /** Zipf table: global top-25 terms by collection frequency with rank and
    * the corpus share of each term — distributed term counting where the
    * shuffle key space is the vocabulary (≪ corpus at scale) and the final
    * top-k is a TakeOrdered, never a global sort. */
  private def zipfTerms(s: SparkSession, dir: String): DataFrame = {
    val tok = graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(explode(toks(col("text"))).as("w"))
    val counts = Staging.staged(s, dir, "zipf_counts") {
      tok.groupBy(col("w")).agg(count(lit(1)).as("cf"))
    }
    // denominator from the vocabulary-sized aggregate (broadcast single
    // row) — NOT a second tokenize pass over the corpus
    val total = counts.agg(sum(col("cf")).cast("double").as("total"))
    // rank WITHOUT a WindowExec: the top-25 fold to ONE array row, sorted
    // by the (-cf, w) struct key, and posexplode yields the rank — no
    // unpartitioned window (and no single-partition warning) anywhere
    counts.orderBy(col("cf").desc, col("w").asc).limit(25)
      .agg(array_sort(collect_list(
        struct((-col("cf")).as("k"), col("w").as("w"), col("cf").as("cf"))))
        .as("xs"))
      .crossJoin(broadcast(total))
      .select(col("total"), posexplode(col("xs")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col.w").as("w"), col("col.cf").as("cf"),
        round(col("col.cf").cast("double") / col("total"), 9).as("share"))
      .orderBy(col("rank"))
  }

  /** Inverted-index build — the search-engine-shaped output of a text
    * pipeline: per term, its document frequency, collection frequency,
    * and the head of its tf-ranked posting list. ONE (term, doc) hash
    * aggregate; df/cf ride the per-term window that also ranks postings,
    * so no second aggregate and no join-back. The rank filter is a
    * LITERAL (rk <= 3) so Spark's WindowGroupLimit prunes each
    * partition's postings map-side before the window shuffle.
    *
    * Scale: shuffle keys are (term, doc) then term — vocabulary-sized,
    * ≪ corpus. A full posting-list materialization would instead
    * sort-within-partitions by (term, doc) and write term-bucketed files;
    * the head-of-list query shape here is the index-STATS pass. */
  private def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val byTf = win.orderBy(col("tf").desc, col("doc_id").asc)
    graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(win))
      .withColumn("cf", sum(col("tf")).over(win))
      .withColumn("rk", row_number().over(byTf).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("term"), col("df"), col("cf"), col("rk"),
        col("doc_id"), col("tf"))
      .orderBy(col("term"), col("rk"))
  }

  /** BM25 ranked retrieval — the SERVING half of the inverted-index
    * story: given query terms, score only the documents that contain
    * them, touching query-term postings (tf), the doc-length table, and
    * three collection constants (N, df, avgdl) — never the corpus text.
    * Query terms are picked deterministically (df ranks 10/20/30 of the
    * vocabulary) so the query works at any SF. Per-doc summation folds
    * contributions in term order (sorted fold both engines) because a
    * parallel double sum is order-sensitive; every float constant is the
    * same LITERAL on both sides (1.2+1 computed in Scala and 2.2 parsed
    * by DuckDB are different doubles — ties round differently). At
    * 100 TB: tf/dl/df are index-build outputs; serving reads 3 posting
    * lists and broadcasts 3 numbers. */
  private def bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25Scored(s, dir)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"), col("n_terms"), col("score"))

  /** The scorer behind text_bm25_topk AND text_hybrid_rrf's lexical arm:
    * BM25 score per candidate doc (docs containing >= 1 query term),
    * un-limited — each consumer applies its own top-N. Staged: two
    * queries serve from the same scored postings, the way a production
    * deployment scores once per (index version, query) and fans results
    * into every downstream ranker. */
  private def bm25Scored(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "bm25_scored")(bm25ScoredBuild(s, dir))

  /** The (doc, term, tf) aggregate shared by both BM25 scorers (r16
    * optimization round): dl (Σ tf per doc), df (row count per term) and
    * the query-term postings all derive from it, so the corpus tokenizes
    * and exchanges ONCE per pass instead of three corpus-token-wide
    * shuffles per scorer build (guide §2.3: aggregate before you
    * shuffle). Values are identical by construction: count(*) per doc
    * over tokens ≡ Σ tf, countDistinct(doc) per term ≡ the (doc, term)
    * key count. */
  private def bm25G(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "bm25_g") {
      graft.Tables.balanced(s, dir, "documents", "doc_id")
        .select(col("doc_id"), explode(toks(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    }

  private def bm25ScoredBuild(s: SparkSession, dir: String): DataFrame = {
    val g = bm25G(s, dir)
    val dl = g.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val df = g.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // rank the 30 candidate terms via one sorted array + posexplode (same
    // values as a row_number window, minus the unpartitioned WindowExec)
    val qterms = df.orderBy(col("df").desc, col("w").asc).limit(30)
      .agg(array_sort(collect_list(
        struct((-col("df")).as("k"), col("w").as("w"), col("df").as("df"))))
        .as("xs"))
      .select(posexplode(col("xs")))
      .filter((col("pos") + 1).isin(10, 20, 30))
      .select(col("col.w").as("w"), col("col.df").as("df"))
    val tf = g.join(broadcast(qterms), Seq("w"))
    val contrib =
      log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
    tf.join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
      .withColumn("contrib", contrib)
      .groupBy(col("doc_id"))
      .agg(round(aggregate(
          transform(array_sort(collect_list(struct(col("w"), col("contrib")))),
            x => x.getField("contrib")),
          lit(0.0), (a, x) => a + x), 6).as("score"),
        count(lit(1)).as("n_terms"))
  }

  private val RRF_K = 60
  private val HYBRID_N = 20   // per-arm candidate depth
  private val HYBRID_TOP = 10
  private val HYBRID_Q = 4    // query-batch size: docs 0..Q-1 are the queries

  /** Per-query top-N rank attach: row_number over a q_id-keyed window.
    * The rank<=N filter plans as a WindowGroupLimit (partial map-side
    * group-limit BEFORE the shuffle), so with Q query partitions the
    * shuffle carries ~Q x N x tasks rows, not the scored corpus — the
    * per-key twin of the single-list TakeOrderedAndProject. */
  private def rankPerQuery(df: DataFrame, key: Column, id: Column,
      rkName: String): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(key.asc, id.asc)
    df.withColumn(rkName, row_number().over(w).cast("long"))
      .filter(col(rkName) <= HYBRID_N)
      .select(col("q_id"), id.as("doc_id"), col(rkName))
  }

  /** Per-query LEXICAL arm: more-like-this BM25 — each query doc's own
    * distinct terms are its query, scored against the corpus with the
    * same saturation formula (and the same staged token substrate) as
    * text_bm25_topk, self-hit excluded. The per-query term table is
    * query-batch-sized and BROADCAST; the corpus-sized side is touched
    * once for the whole batch — the production amortization a
    * one-query-at-a-time loop forfeits. */
  /** PUBLIC generic batched more-like-this BM25 over any (id, text)
    * frame: each query id's own distinct terms are its query, scored
    * against every other document with the BM25 saturation formula
    * (k1=1.2, b=0.75 — the constants the corpus queries pin) and ranked
    * per query. Returns (q_id, doc_id, score, rk) with rk <= topN,
    * self-hits excluded. The per-query term table is query-batch-sized
    * and BROADCAST; the corpus side is tokenized and scored ONCE for the
    * whole batch, and ranks ride a q_id-keyed WindowGroupLimit window —
    * the same plan shape as text_hybrid_rrf's lexical arm, which
    * `ApiSpec` pins this against. */
  def moreLikeThis(docs: DataFrame, idCol: String, textCol: String,
      queryIds: Seq[Long], topN: Int = 20): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(toks(col(textCol))).as("w"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfr = tok.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
    val qterms = tok.filter(col("doc_id").isin(queryIds.map(Long.box): _*))
      .select(col("doc_id").as("q_id"), col("w")).distinct()
      .join(dfr, Seq("w"))
    val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .join(broadcast(qterms), Seq("w"))
      .filter(col("doc_id") =!= col("q_id"))
    val contrib =
      log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf").cast("double") * lit(2.2)) /
        (col("tf").cast("double") +
          lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
    val scored = tf.join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
      .withColumn("contrib", contrib)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(round(aggregate(
          transform(array_sort(collect_list(struct(col("w"), col("contrib")))),
            x => x.getField("contrib")),
          lit(0.0), (a, x) => a + x), 6).as("score"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= topN)
  }

  private def bm25MltScored(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "bm25_mlt_scored") {
      val g = bm25G(s, dir)
      val dl = g.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val dfr = g.groupBy(col("w")).agg(count(lit(1)).as("df"))
      // query terms: the batch docs' distinct tokens (g's keys are
      // already distinct), idf attached — (Q x per-doc vocab) rows,
      // broadcast under the corpus-side join
      val qterms = g.filter(col("doc_id") < HYBRID_Q)
        .select(col("doc_id").as("q_id"), col("w"))
        .join(dfr, Seq("w"))
      val tf = g.join(broadcast(qterms), Seq("w"))
        .filter(col("doc_id") =!= col("q_id"))
      val contrib =
        log((col("n_docs").cast("double") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
      tf.join(dl, Seq("doc_id")).crossJoin(broadcast(stats))
        .withColumn("contrib", contrib)
        .groupBy(col("q_id"), col("doc_id"))
        .agg(round(aggregate(
            transform(array_sort(collect_list(struct(col("w"), col("contrib")))),
              x => x.getField("contrib")),
            lit(0.0), (a, x) => a + x), 6).as("score"))
    }

  private[graft] def lexArm(s: SparkSession, dir: String): DataFrame =
    rankPerQuery(bm25MltScored(s, dir), -col("score"), col("doc_id"), "lex_rk")

  /** Per-query SEMANTIC arm, served from the engine's OWN IVF index — not
    * an exact corpus scan: the batch docs' query vectors are ranked
    * against the broadcast quantizer (the staged `ivfRanked` frame
    * Similarity's ANN family shares), and candidates are read back from
    * the persisted cell-partitioned index through a PARTITION-PRUNED scan
    * over the UNION of the batch's probed cells — ONE index read serves
    * every query in the batch (Similarity.servePrunedIndex `require`s the
    * partition filter in the plan, and stages the index build per
    * session, so the hybrid queries share one O(corpus) write). At 100 TB
    * the arm touches <= Q x nprobe / n_cells of the index per batch —
    * cost independent of corpus size. Probed-cell ids are collected
    * driver-side to form the pruning predicate (metadata-sized, like a
    * partition listing). */
  private def semArmAnnScored(s: SparkSession, dir: String): DataFrame = {
    val ranked = Similarity.ivfRanked(s, dir)
    val probes = ranked
      .filter(col("crk") <= Similarity.NPROBE && col("vec_id") < HYBRID_Q)
      .select(col("vec_id").as("q_id"), col("cell_label").as("cell"),
        col("v").as("qv"), col("nrm").as("qn"))
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    // postings identity "hybsem": EVERY corpus vector in its crk=1 cell
    // (queries are corpus docs; self-hits are dropped at scoring time) —
    // shared by text_hybrid_rrf and text_hybrid_recall
    val index = Similarity.servePrunedIndex(s, dir, "hybsem",
      ranked.filter(col("crk") === 1)
        .select(col("vec_id"), col("cell_label").as("cell"), col("v"), col("nrm")),
      probedCells)
    index.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", round(
        graft.functions.VectorFunctions.dot(col("v"), col("qv")) /
          (col("nrm") * col("qn")), 6)
        + lit(0.0d)) // +0.0 folds a rounded -0.0 into 0.0 (sort-key only)
      .select(col("q_id"), col("vec_id"), col("sim"))
  }

  /** The EXACT semantic scan (full-corpus cosine vs each batch query) —
    * kept as the ground truth text_hybrid_recall measures the ANN arm
    * against; the serving query itself (text_hybrid_rrf) never runs
    * this. The scored pairs come from the SHARED staged
    * `Similarity.exactScoredPairs` frame (one brute-force scan per pass
    * across every recall pin in the suite — this query was the most
    * expensive steady query while it paid its own private scan); the
    * query batch here is the first HYBRID_Q ≤ N_QUERIES docs, self-hits
    * dropped, and the rounded cosine gets the same `+0.0` −0.0-folding
    * the ANN arm applies so the two rankings share one sort-key
    * convention. */
  private def semArmExactScored(s: SparkSession, dir: String): DataFrame =
    Similarity.exactScoredPairs(s, dir)
      .filter(col("q_id") < HYBRID_Q && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), (col("sim") + lit(0.0d)).as("sim"))

  /** Per-query RRF fusion of two attached-rank arm lists: within each
    * query, docs score Σ 1/(K + rank) over the arms they appear in — no
    * score calibration between BM25 floats and cosine floats (the reason
    * RRF is the standard first fusion). The fusion is a full outer join
    * of two (q_id, doc_id)-keyed N-row-per-query lists; the final rank is
    * a q_id-keyed window (WindowGroupLimit keeps the shuffle
    * batch-sized). */
  private def fuseArms(lex: DataFrame, sem: DataFrame): DataFrame = {
    val fused = lex.join(sem, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0d) / (lit(RRF_K) + col("lex_rk")), lit(0.0d)) +
        coalesce(lit(1.0d) / (lit(RRF_K) + col("vec_rk")), lit(0.0d)), 9))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= HYBRID_TOP)
      .select(col("q_id"), col("doc_id"), col("lex_rk"), col("vec_rk"),
        col("rrf"), col("rk"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** HYBRID RETRIEVAL over a QUERY BATCH — Reciprocal Rank Fusion of the
    * engine's two serving paths for each of the batch's query docs: the
    * per-query more-like-this BM25 ranking (postings-served) and the
    * IVF-index-served semantic ranking of the query's vector. BOTH arms
    * serve from their indexes and BOTH are batched — the corpus-sided
    * work (token scoring, one pruned index read over the union of probed
    * cells) is paid once for the whole batch, per-query fused top-10
    * lists come out — the production serve shape, which amortizes the
    * index read a one-query loop would pay Q times. The approximation
    * the ANN arm introduces is measured by text_hybrid_recall. */
  private def hybridRrf(s: SparkSession, dir: String): DataFrame =
    fuseArms(lexArm(s, dir),
      rankPerQuery(semArmAnnScored(s, dir), -col("sim"), col("vec_id"), "vec_rk"))

  /** Recall of the ANN-served hybrid against the exact-semantic-arm
    * hybrid, aggregated over the query batch: `sem` = overlap of the
    * per-query semantic top-N lists (the arm the IVF serve approximates),
    * `fused` = overlap of the per-query fused top-10 lists (what a user
    * of the operator actually sees). The same recall-pinning contract as
    * sim_ann_recall, extended to the fusion. */
  private def hybridRecall(s: SparkSession, dir: String): DataFrame = {
    val semAnn = rankPerQuery(semArmAnnScored(s, dir),
      -col("sim"), col("vec_id"), "vec_rk")
    val semEx = rankPerQuery(semArmExactScored(s, dir),
      -col("sim"), col("vec_id"), "vec_rk")
    val lex = lexArm(s, dir)
    val fusedAnn = fuseArms(lex, semAnn).select(col("q_id"), col("doc_id"))
    val fusedEx = fuseArms(lex, semEx).select(col("q_id"), col("doc_id"))
    def hits(method: String, truth: DataFrame, ann: DataFrame, denom: Int): DataFrame =
      truth.join(ann.select(col("q_id").as("aq"), col("doc_id").as("ad")),
          truth("q_id") === col("aq") && truth("doc_id") === col("ad"), "left")
        .agg(count(col("ad")).as("n_hits"))
        .select(lit(method).as("method"), col("n_hits"),
          round(col("n_hits").cast("double") / (HYBRID_Q * denom), 6).as("recall"))
    hits("fused", fusedEx, fusedAnn, HYBRID_TOP)
      .unionByName(hits("sem", semEx.select(col("q_id"), col("doc_id")),
        semAnn.select(col("q_id"), col("doc_id")), HYBRID_N))
      .orderBy(col("method"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25_topk" -> bm25TopK,
    "text_hybrid_rrf" -> hybridRrf,
    "text_hybrid_recall" -> hybridRecall,
    "text_inverted_index" -> invertedIndex,
    "text_lang_id_ngram" -> langIdNgram,
    "text_repetition" -> repetition,
    "text_zipf" -> zipfTerms,
    "text_stats" -> textStats,
    "text_lang_id" -> langId,
    "text_token_count" -> tokenCount,
    "text_fingerprint" -> fingerprint,
    "text_tfidf_topk" -> tfidf,
    "text_pack_bins" -> packBins,
    "text_decontaminate" -> decontaminate,
    "text_lm_score" -> lmScore,
    "text_lm_score_pruned" -> lmScorePruned,
    "text_rake_keywords" -> rakeQ,
  )

  // ---- DuckDB oracle ----------------------------------------------------

  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  // BM25 (k1 = 1.2, b = 0.75) over whitespace tokens, shared by
  // text_bm25_topk and the hybrid lexical arm: corpus statistics `tok`,
  // `dl`, `st` and `dfr`; one term's contribution (needs `tf`); and a
  // doc's score, its contributions folded in term order
  private val bm25StatsCtes =
    """tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |), dl AS (
      |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1
      |), st AS (
      |  SELECT COUNT(*) AS n_docs,
      |         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      |  FROM dl
      |), dfr AS (
      |  SELECT w, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
      |)""".stripMargin
  private val bm25ContribSql =
    """ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0) *
      |      (CAST(tf AS DOUBLE) * 2.2) /
      |      (CAST(tf AS DOUBLE) +
      |        1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))""".stripMargin
  private val bm25ScoreSql =
    "round(list_reduce(list_prepend(0.0, list(contrib ORDER BY w)), (a, x) -> a + x), 6)"

  // Lexical-arm CTEs (per-query more-like-this BM25: each batch doc's own
  // distinct terms are its query, self-hit excluded) ending in `lexr` —
  // shared by text_hybrid_rrf and text_hybrid_recall. All float constants
  // are literals on both sides; per-(q_id, doc_id) contribs add in term
  // order and the two RRF terms add in one fixed order (lex + vec) so the
  // doubles agree bitwise.
  private val hybridLexCtes =
    s"""$bm25StatsCtes, qt AS (
       |  SELECT DISTINCT doc_id AS q_id, w FROM tok WHERE doc_id < $HYBRID_Q
       |), tf AS (
       |  SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2
       |), sc AS (
       |  SELECT q.q_id, tf.doc_id, tf.w, $bm25ContribSql AS contrib
       |  FROM tf JOIN qt q USING (w) JOIN dfr USING (w) JOIN dl USING (doc_id), st
       |  WHERE tf.doc_id <> q.q_id
       |), bm AS (
       |  SELECT q_id, doc_id, $bm25ScoreSql AS score
       |  FROM sc GROUP BY q_id, doc_id
       |), lexr AS (
       |  SELECT q_id, doc_id, lex_rk FROM (
       |    SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rk FROM bm)
       |  WHERE lex_rk <= $HYBRID_N
       |)""".stripMargin

  // Semantic-arm CTEs replaying the batched IVF serve (same
  // quantizer-cell chain as sim_ann_ivf via
  // Similarity.quantizerRankedCtesSql): each batch doc's probes
  // (crk <= NPROBE), candidates restricted to the probed cells' postings
  // (crk = 1, self-hit excluded), exact rerank within them — ending in
  // `semr`.
  private val hybridSemAnnCtes =
    s"""${Similarity.quantizerRankedCtesSql},
       |sassigned AS (
       |  SELECT vec_id, label AS cell, v, nrm FROM qranked
       |  WHERE crk = 1
       |), sprobes AS (
       |  SELECT vec_id AS q_id, label AS cell, v AS qv, nrm AS qn FROM qranked
       |  WHERE crk <= ${Similarity.NPROBE} AND vec_id < $HYBRID_Q
       |), sem AS (
       |  SELECT p.q_id, a.vec_id AS doc_id,
       |    round(${Similarity.dotAPSql} / (a.nrm * p.qn), 6) AS sim
       |  FROM sassigned a JOIN sprobes p USING (cell)
       |  WHERE a.vec_id <> p.q_id
       |), semr AS (
       |  SELECT q_id, doc_id, vec_rk FROM (
       |    SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rk FROM sem)
       |  WHERE vec_rk <= $HYBRID_N
       |)""".stripMargin

  // Per-query RRF fusion of `lexr` and a semantic rank list, with the
  // final per-query rank attached — parameterized on the semantic CTE
  // name so the recall oracle can fuse both the ANN and the exact arm.
  private def hybridFusedCte(semrName: String, fusedName: String) =
    s"""$fusedName AS (
       |  SELECT q_id, doc_id, lex_rk, vec_rk, rrf,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk
       |  FROM (
       |    SELECT COALESCE(l.q_id, s.q_id) AS q_id,
       |      COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rk, s.vec_rk,
       |      round(COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + l.lex_rk), 0.0) +
       |            COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + s.vec_rk), 0.0), 9)
       |        AS rrf
       |    FROM lexr l FULL OUTER JOIN $semrName s
       |      ON l.q_id = s.q_id AND l.doc_id = s.doc_id)
       |)""".stripMargin

  private val hybridRrfSql =
    s"""WITH $hybridLexCtes,
       |$hybridSemAnnCtes,
       |${hybridFusedCte("semr", "fused")}
       |SELECT q_id, doc_id, lex_rk, vec_rk, rrf, rk FROM fused
       |WHERE rk <= $HYBRID_TOP ORDER BY q_id, rk""".stripMargin

  // text_hybrid_recall: the exact semantic arm (full-corpus cosine per
  // batch query) as ground truth, compared against the IVF-served arm —
  // at arm level (overlap of the per-query top-N semantic lists) and at
  // fusion level (overlap of the per-query fused top-10 lists), hits
  // aggregated over the batch.
  private val hybridRecallSql = {
    val semExactCtes =
      s"""qv0 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e
         |  WHERE vec_id < $HYBRID_Q
         |), semx AS (
         |  SELECT q.q_id, e.vec_id AS doc_id,
         |    round(list_reduce(list_transform(generate_series(1, len(v)),
         |        i -> v[i]*qv[i]), (a,x) -> a+x) / (nrm * qn), 6) AS sim
         |  FROM e, qv0 q WHERE e.vec_id <> q.q_id
         |), semrx AS (
         |  SELECT q_id, doc_id, vec_rk FROM (
         |    SELECT q_id, doc_id, CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rk FROM semx)
         |  WHERE vec_rk <= $HYBRID_N
         |)""".stripMargin
    s"""WITH $hybridLexCtes,
       |$hybridSemAnnCtes,
       |$semExactCtes,
       |${hybridFusedCte("semr", "fa")},
       |${hybridFusedCte("semrx", "fx")},
       |fat AS (SELECT q_id, doc_id FROM fa WHERE rk <= $HYBRID_TOP),
       |fxt AS (SELECT q_id, doc_id FROM fx WHERE rk <= $HYBRID_TOP),
       |hits AS (
       |  SELECT 'fused' AS method, CAST(COUNT(a.doc_id) AS BIGINT) AS n_hits,
       |    round(COUNT(a.doc_id) / ${HYBRID_Q * HYBRID_TOP}.0, 6) AS recall
       |  FROM fxt e LEFT JOIN fat a
       |    ON e.q_id = a.q_id AND e.doc_id = a.doc_id
       |  UNION ALL
       |  SELECT 'sem' AS method, CAST(COUNT(a.doc_id) AS BIGINT) AS n_hits,
       |    round(COUNT(a.doc_id) / ${HYBRID_Q * HYBRID_N}.0, 6) AS recall
       |  FROM semrx e LEFT JOIN semr a
       |    ON e.q_id = a.q_id AND e.doc_id = a.doc_id
       |)
       |SELECT method, n_hits, recall FROM hits ORDER BY method""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "text_hybrid_rrf" -> hybridRrfSql,
    "text_hybrid_recall" -> hybridRecallSql,
    // identical expression TREE (same literals, same association) so the
    // doubles agree bitwise; per-doc sum folds in term order
    "text_bm25_topk" ->
      s"""WITH $bm25StatsCtes, q AS (
         |  SELECT w, df FROM (
         |    SELECT w, df, row_number() OVER (ORDER BY df DESC, w) AS rk FROM dfr)
         |  WHERE rk IN (10, 20, 30)
         |), tf AS (
         |  SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2
         |), sc AS (
         |  SELECT tf.doc_id, tf.w, $bm25ContribSql AS contrib
         |  FROM tf JOIN q USING (w) JOIN dl USING (doc_id), st
         |)
         |SELECT doc_id, COUNT(*) AS n_terms, $bm25ScoreSql AS score
         |FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
    "text_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2
        |), st AS (
        |  SELECT term, doc_id, tf,
        |    CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df,
        |    CAST(SUM(tf) OVER (PARTITION BY term) AS BIGINT) AS cf,
        |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rk
        |  FROM tf
        |)
        |SELECT term, df, cf, CAST(rk AS BIGINT) AS rk, doc_id, tf
        |FROM st WHERE rk <= 3
        |ORDER BY term, rk""".stripMargin,
    "text_lang_id_ngram" ->
      s"""WITH g3 AS (
        |  SELECT doc_id, lang,
        |    unnest(${charNgramSetSql("text", 3)}) AS g
        |  FROM documents
        |), profile AS (
        |  SELECT lang, g, COUNT(*) AS n FROM g3 GROUP BY 1, 2
        |), top AS (
        |  SELECT lang AS p_lang, g FROM (
        |    SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, g ASC) AS rk
        |    FROM profile
        |  ) WHERE rk <= 20
        |), scores AS (
        |  SELECT d.doc_id, d.lang, t.p_lang, COUNT(*) AS s
        |  FROM g3 d JOIN top t ON d.g = t.g GROUP BY 1, 2, 3
        |), grid AS (
        |  SELECT dl.doc_id, dl.lang, l.p_lang, coalesce(s.s, 0) AS s
        |  FROM (SELECT DISTINCT doc_id, lang FROM g3) dl
        |  CROSS JOIN (SELECT DISTINCT lang AS p_lang FROM g3) l
        |  LEFT JOIN scores s ON s.doc_id = dl.doc_id AND s.p_lang = l.p_lang
        |), pred AS (
        |  SELECT doc_id, lang, p_lang FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, p_lang ASC) AS rk
        |    FROM grid
        |  ) WHERE rk = 1
        |)
        |SELECT lang, p_lang AS pred_lang, COUNT(*) AS n
        |FROM pred GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin,
    "text_repetition" ->
      s"""WITH per_doc AS (
         |  SELECT source,
         |    round(1.0 - CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
         |      / CAST(len(string_split(text,' ')) AS DOUBLE), 6) AS dup_tok,
         |    round(1.0 - CAST(len(list_distinct(${shinglesSql("text", 2)})) AS DOUBLE)
         |      / CAST(len(${shinglesSql("text", 2)}) AS DOUBLE), 6) AS dup_2gram
         |  FROM documents
         |)
         |SELECT source, COUNT(*) AS n_docs,
         |  ${avgSql("dup_tok")} AS avg_dup_tok,
         |  ${avgSql("dup_2gram")} AS avg_dup_2gram,
         |  CAST(SUM(CASE WHEN dup_2gram > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_rep
         |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,
    "text_zipf" ->
      """WITH tok AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
        |counts AS (SELECT w, COUNT(*) AS cf FROM tok GROUP BY 1),
        |total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok)
        |SELECT CAST(row_number() OVER (ORDER BY cf DESC, w ASC) AS BIGINT) AS rank,
        |  w, cf, round(CAST(cf AS DOUBLE) / total.n, 9) AS share
        |FROM counts CROSS JOIN total
        |ORDER BY rank LIMIT 25""".stripMargin,
    "text_stats" ->
      s"""WITH base AS (
         |  SELECT doc_id, lang, source,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_distinct,
         |    CAST(list_reduce(list_transform(string_split(text,' '), w -> length(w)), (a,x) -> a+x) AS BIGINT) AS total_token_chars,
         |    CAST(len(list_filter(string_split(text,' '), w -> w IN ($stopList))) AS BIGINT) AS n_stop
         |  FROM documents
         |)
         |SELECT doc_id, lang, source, n_tokens, n_distinct, total_token_chars,
         |  CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS ttr,
         |  CAST(total_token_chars AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS avg_token_len,
         |  CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stop_ratio,
         |  (CAST(n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 0.5
         |    + least(1.0, CAST(n_tokens AS DOUBLE)/100.0) * 0.3
         |    + (1.0 - CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE)) * 0.2 AS quality_score
         |FROM base ORDER BY doc_id""".stripMargin,
    "text_lang_id" -> {
      val scoreCols = markers.map { case (l, ws) =>
        val list = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(text,' '), w -> w IN ($list))) AS s_$l"
      }.mkString(", ")
      val langs = markers.map(_._1)
      val gr = langs.map(l => s"s_$l").mkString(", ")
      val pred = langs.map(l => s"WHEN s_$l >= greatest($gr) THEN '$l'")
        .mkString("CASE ", " ", " END")
      s"""WITH scored AS (SELECT lang, $scoreCols FROM documents)
         |SELECT lang, $pred AS pred_lang, COUNT(*) AS n
         |FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
    },
    "text_token_count" ->
      s"""WITH base AS (
         |  SELECT source,
         |    CAST(len(regexp_extract_all(text, '$sylRe')) AS BIGINT) AS n_bpe,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_ws
         |  FROM documents
         |)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
         |  CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
         |  ${avgSql("CAST(n_bpe AS DOUBLE)")} AS avg_bpe_per_doc
         |FROM base GROUP BY source ORDER BY source""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS fp_full,
         |  list_min(list_transform(${shinglesSql("text", 8)}, w -> md5(w))) AS fp_window
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_decontaminate" ->
      s"""WITH g AS (SELECT DISTINCT doc_id, unnest(${shinglesSql("text", DECON_K)}) AS gm FROM documents),
         |ng AS (SELECT doc_id, COUNT(*) AS n_grams FROM g GROUP BY doc_id),
         |bench AS (SELECT DISTINCT gm FROM g WHERE doc_id % 100 = 7),
         |hit AS (
         |  SELECT g.doc_id, COUNT(*) AS n_hit FROM g JOIN bench USING (gm)
         |  WHERE g.doc_id % 100 <> 7 GROUP BY g.doc_id
         |)
         |SELECT h.doc_id, ng.n_grams, h.n_hit,
         |  round(CAST(h.n_hit AS DOUBLE) / ng.n_grams, 6) AS contamination,
         |  (round(CAST(h.n_hit AS DOUBLE) / ng.n_grams, 6) >= 0.5) AS flagged
         |FROM hit h JOIN ng USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_lm_score" ->
      s"""WITH g3 AS (
         |  SELECT doc_id, unnest(${charNgramsSql("text", 3)}) AS g FROM documents
         |), c3 AS (SELECT g, COUNT(*) AS c3 FROM g3 GROUP BY 1),
         |c2 AS (SELECT substr(g, 1, 2) AS p, SUM(c3) AS c2 FROM c3 GROUP BY 1),
         |lp AS (
         |  SELECT d.doc_id,
         |    round(ln(CAST(c3.c3 AS DOUBLE) / CAST(c2.c2 AS DOUBLE)), 6) AS lp
         |  FROM g3 d
         |  JOIN c3 ON d.g = c3.g
         |  JOIN c2 ON substr(d.g, 1, 2) = c2.p
         |)
         |SELECT doc_id, COUNT(*) AS n_grams, ${avgSql("lp")} AS avg_lp
         |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // identical ladder with the model CTE thresholded and the scoring
    // join LEFT + coalesce to the threshold ceiling — by construction
    // the only divergence from text_lm_score is the pruning semantics
    "text_lm_score_pruned" ->
      s"""WITH g3 AS (
         |  SELECT doc_id, unnest(${charNgramsSql("text", 3)}) AS g FROM documents
         |), c3 AS (SELECT g, COUNT(*) AS c3 FROM g3 GROUP BY 1),
         |c2 AS (SELECT substr(g, 1, 2) AS p, SUM(c3) AS c2 FROM c3 GROUP BY 1),
         |model AS (SELECT g, c3 FROM c3 WHERE c3 >= $LM_PRUNE_MIN),
         |lp AS (
         |  SELECT d.doc_id,
         |    round(ln(CAST(COALESCE(m.c3, $LM_PRUNE_MIN) AS DOUBLE)
         |      / CAST(c2.c2 AS DOUBLE)), 6) AS lp
         |  FROM g3 d
         |  LEFT JOIN model m ON d.g = m.g
         |  JOIN c2 ON substr(d.g, 1, 2) = c2.p
         |)
         |SELECT doc_id, COUNT(*) AS n_grams, ${avgSql("lp")} AS avg_lp
         |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the same RAKE ladder: stopword running count → phrase ids, deg/freq
    // word scores 6-dp-quantized, decimal phrase sums, ordered string_agg
    "text_rake_keywords" -> {
      val stopsIn = stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, u.pos AS pos, u.w AS w FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(1, len(t)),
         |        i -> struct_pack(pos := i, w := t[i]))) AS u
         |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |  )
         |), pidt AS (
         |  SELECT doc_id, pos, w, (w IN ($stopsIn)) AS is_stop,
         |    SUM(CASE WHEN w IN ($stopsIn) THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
         |  FROM tok
         |), ph AS (
         |  SELECT doc_id, pid, pos, w FROM pidt WHERE NOT is_stop
         |), plen AS (
         |  SELECT doc_id, pid, CAST(COUNT(*) AS BIGINT) AS plen
         |  FROM ph GROUP BY 1, 2
         |), phl AS (
         |  SELECT ph.*, plen.plen FROM ph JOIN plen USING (doc_id, pid)
         |), ws AS (
         |  SELECT doc_id, w,
         |    CAST(floor(CAST(SUM(plen) AS DOUBLE) / COUNT(*) * 1e6 + 0.5)
         |      AS DOUBLE) / 1e6 AS wscore
         |  FROM phl GROUP BY 1, 2
         |), scored AS (
         |  SELECT phl.doc_id, phl.pid,
         |    string_agg(phl.w, ' ' ORDER BY phl.pos) AS phrase,
         |    MAX(phl.plen) AS n_words,
         |    SUM(CAST(ws.wscore AS DECIMAL(18,6))) AS score
         |  FROM phl JOIN ws ON phl.doc_id = ws.doc_id AND phl.w = ws.w
         |  GROUP BY 1, 2
         |), uniq AS (
         |  SELECT doc_id, phrase, MAX(n_words) AS n_words,
         |    MAX(score) AS score
         |  FROM scored GROUP BY 1, 2
         |), ranked AS (
         |  SELECT doc_id, phrase, n_words, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, phrase ASC) AS rk
         |  FROM uniq
         |)
         |SELECT doc_id, CAST(rk AS BIGINT) AS rk, phrase, n_words,
         |  CAST(score AS DOUBLE) AS score
         |FROM ranked WHERE rk <= $RAKE_K ORDER BY doc_id, rk""".stripMargin
    },
    "text_tfidf_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.w, tf.tf, df.df,
        |    round(CAST(tf.tf AS DOUBLE) * ln(n.n_docs / CAST(df.df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN df USING (w) CROSS JOIN n
        |)
        |SELECT doc_id, rk, w, tf, df, tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, w ASC) AS rk
        |  FROM scored
        |) WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "text_pack_bins" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents
         |), c AS (
         |  SELECT *, SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t
         |)
         |SELECT lang, CAST((cum - n_tok) // $PACK_CAP AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,
  )
}
