package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding token counting (the budgeting primitive of a
  * training-data pipeline: mixture weights, packing, and per-source token
  * budgets are all denominated in TOKENIZER tokens, not words — see
  * text_pack_bins / text_mix_budget, which consume counts like these).
  *
  * Algorithm (GPT-2's tokenizer, Sennrich et al. 2016): a word starts as
  * its character symbols; repeatedly merge the adjacent pair with the
  * LOWEST merge rank (leftmost occurrence first) until no adjacent pair
  * is in the merge table; the token count is the surviving symbol count.
  * The merge table here is an in-code fixture (rank = list position) so
  * the DuckDB oracle can replay the identical merges with a recursive
  * CTE over symbol lists and hash-compare the counts.
  *
  * Scale posture: counts are computed once per DISTINCT word (the
  * word-level cache every real BPE tokenizer keeps) with the merge table
  * broadcast to executors — the per-word kernel never sees the corpus,
  * and the corpus-sized side only joins the vocabulary-sized count table
  * back on the word key. At web scale the vocabulary still fits a
  * broadcast (GPT-2's own vocab is 50k; even 100 TB of text has a
  * long-tail vocab orders below corpus size); if it ever didn't, the
  * same plan runs as a shuffle join on `w`.
  */
object BpeOps {

  /** Fixture merge table, rank = position (1-based). Front-loaded with
    * high-frequency English pairs plus second-level merges ("th e",
    * "an d", "in g") so multi-level merging is actually exercised. */
  val merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("i", "n"), ("a", "n"), ("e", "r"), ("o", "n"),
    ("r", "e"), ("th", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("s", "t"), ("a", "r"), ("o", "u"), ("an", "d"), ("in", "g"),
    ("t", "o"), ("e", "s"), ("i", "s"), ("i", "t"), ("a", "l"),
    ("e", "d"), ("l", "e"), ("c", "o"), ("d", "e"), ("s", "e"))

  /** BPE symbol count for one word: one merge per step — the leftmost
    * occurrence of the lowest-ranked adjacent pair — mirroring the oracle
    * CTE step-for-step (merging one occurrence at a time converges to the
    * same fixpoint as all-occurrences-per-pair, since a merge can only
    * create pairs involving the NEW symbol, whose rank is higher). */
  private[graft] def tokenCount(w: String, rank: Map[(String, String), Int]): Int = {
    var syms: Vector[String] = w.map(_.toString).toVector
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue; var pos = -1; var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; pos = i }
        i += 1
      }
      if (pos < 0) done = true
      else {
        syms = syms.patch(pos, Vector(syms(pos) + syms(pos + 1)), 2)
        done = syms.length < 2
      }
    }
    syms.length
  }

  private def bpeCountQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // balanced: regex word-extraction explode dominates and the corpus
    // ships as one split
    val words = graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(col("doc_id"), col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    val vocab = words.select(col("w")).distinct().as[String]
    val rankB = s.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap)
    val tokPerWord = vocab.mapPartitions { it =>
      val rk = rankB.value // one table fetch per partition
      it.map(w => (w, tokenCount(w, rk).toLong))
    }.toDF("w", "n_tok")
    words.join(broadcast(tokPerWord), "w")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tok")).as("bpe_tokens"),
        count(lit(1)).as("n_words"))
      .orderBy(col("source"))
  }

  /** Per-document BPE token totals — the per-distinct-word kernel and
    * broadcast join of [[bpeCountQ]], then a per-doc rollup; documents
    * with no alphabetic words keep an explicit 0. */
  private[graft] def perDocTokenCounts(s: SparkSession, docsDf: DataFrame): DataFrame = {
    import s.implicits._
    val words = docsDf.select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    val vocab = words.select(col("w")).distinct().as[String]
    val rankB = s.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap)
    val tokPerWord = vocab.mapPartitions { it =>
      val rk = rankB.value
      it.map(w => (w, tokenCount(w, rk).toLong))
    }.toDF("w", "n_tok_w")
    docsDf.select(col("doc_id"))
      .join(words.join(broadcast(tokPerWord), "w")
          .groupBy(col("doc_id")).agg(sum(col("n_tok_w")).as("n_tok")),
        Seq("doc_id"), "left")
      .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
  }

  /** Tokenizer fertility per language — the tokenizer-evaluation table
    * (tokens per word, chars per token) a multilingual data pipeline
    * reads before committing to a merge table: a language whose
    * fertility is far above the corpus mean is being shattered into
    * char-level pieces (under-represented in the training mix), which
    * inflates its effective sequence lengths and cost. Same
    * per-DISTINCT-word kernel + broadcast join as text_bpe_count (the
    * heavy tokenization runs once per vocabulary word, never per
    * occurrence), rolled up by lang; ratios are single double divisions
    * over exact BIGINTs, rounded 6 dp. */
  private def fertilityQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(col("doc_id"), col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    val vocab = words.select(col("w")).distinct().as[String]
    val rankB = s.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap)
    val tokPerWord = vocab.mapPartitions { it =>
      val rk = rankB.value
      it.map(w => (w, tokenCount(w, rk).toLong))
    }.toDF("w", "n_tok_w")
    def dbl(c: String) = col(c).cast("double")
    def r6d(c: Column): Column =
      floor(c * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)
    words.join(broadcast(tokPerWord), "w")
      .groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(col("n_tok_w")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("bpe_tokens"),
        r6d(dbl("bpe_tokens") / dbl("n_words")).as("fertility"),
        r6d(dbl("n_chars") / dbl("bpe_tokens")).as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** Sequence packing denominated in TOKENIZER tokens (the composition
    * the counts exist for): greedy cumulative-sum binning per language at
    * a 2048-token context budget, identical shape to text_pack_bins but
    * with BPE counts instead of whitespace counts — a single keyed window
    * over the vocabulary-joined totals. */
  private val PACK_CAP = 2048L

  private def bpePackQ(s: SparkSession, dir: String): DataFrame = {
    val docsDf = graft.Tables.balanced(s, dir, "documents", "doc_id")
    val counts = docsDf.select(col("doc_id"), col("lang"))
      .join(perDocTokenCounts(s, docsDf), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    counts
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", ((col("cum") - col("n_tok")) / PACK_CAP).cast("long"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("bin"))
  }

  // ---- BPE merge TRAINING ----------------------------------------------

  /** Apply one learned merge to a space-joined symbol string: replace the
    * LEFTMOST adjacent (l, r) occurrence, repeat to fixpoint — the exact
    * semantics the oracle's recursive CTE replays, one occurrence per
    * recursion round. Leftmost-FIRST (not continue-after-replacement) is
    * what makes runs like "l r l r" merge fully; the scan resumes a
    * bounded window before the edit, which preserves that order exactly
    * (see the in-body note). */
  private[graft] def applyMerge(stt: String, l: String, r: String): String = {
    val pat = s" $l $r "
    val rep = s" $l$r "
    var s2 = " " + stt + " "
    var p = s2.indexOf(pat)
    while (p >= 0) {
      s2 = s2.substring(0, p) + rep + s2.substring(p + pat.length)
      // a new leftmost occurrence can only appear adjacent to the edit
      // (everything strictly before p was already scanned and pat-free),
      // so resume a bounded window back instead of position 0 — same
      // leftmost-first fixpoint, O(n) instead of O(n²) on pathological
      // runs like "a a a … a" merging (a, a)
      p = s2.indexOf(pat, math.max(0, p - pat.length))
    }
    s2.trim
  }

  private val TRAIN_STEPS = 32
  private val CKPT_EVERY = 8

  /** BPE merge TRAINING (Sennrich et al. 2016) — the learning half of the
    * tokenizer whose merge TABLE the counting/packing queries consume:
    * start from per-word character symbols weighted by corpus frequency;
    * each step counts adjacent symbol pairs (one hash aggregate over the
    * vocabulary), takes the most frequent pair (ties: lexicographic), and
    * merges it everywhere. Returns the learned merge list with its pair
    * counts — the trained artifact itself, driver-sized by nature (a real
    * vocab is ~50k merges; here 32 steps, each replayed by the DuckDB
    * oracle).
    *
    * Scale posture: the only corpus-sized pass is the initial word-
    * frequency aggregate (one shuffle); every training step runs on the
    * VOCABULARY (distinct words), which is orders below corpus size at
    * any scale — pair counting is a map-side-combined hash aggregate and
    * the merge application is a narrow per-row kernel. The per-step
    * argmax collects ONE row. This mirrors production BPE trainers, which
    * train on the word-frequency dict, never the corpus.
    *
    * Lineage control at real step counts: per-step states are persisted
    * (vocabulary-sized — trivial) so step k's pair count runs ONE pass,
    * and every CKPT_EVERY steps the state is locally CHECKPOINTED — the
    * plan above a checkpoint references no prior step, so analysis/
    * planning cost per step stays FLAT instead of growing with the
    * (10⁴–10⁵ in production) merge count, and the superseded persists are
    * released immediately. */
  private[graft] def trainMerges(s: SparkSession, dir: String,
      steps: Int): Seq[(Long, String, String, Long)] =
    // the trained artifact is shared across its consumers (text_bpe_train
    // reports it, text_bpe_roundtrip applies it) under Staging's per-pass
    // accounting — production trains a tokenizer ONCE per corpus version
    Staging.stagedValue(s, dir, s"bpe_merges_$steps") {
      trainMergesUncached(s, dir, steps)
    }

  private def trainMergesUncached(s: SparkSession, dir: String,
      steps: Int): Seq[(Long, String, String, Long)] = {
    import s.implicits._
    // AQE re-optimizes (and re-schedules) per shuffle stage — pure
    // overhead on these fixed vocabulary-sized 2-stage jobs, paid 2·steps
    // times; restore whatever the session had afterwards
    Staging.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
      trainLoop(s, dir, steps)
    }
  }

  /** Training with per-step wall times — the scale-rehearsal surface
    * (BPE_REHEARSAL.json's harness): proves per-step cost stays FLAT across
    * production-scale step counts (the lineage checkpoint + superseded-
    * persist release doing their job) instead of growing with the merge
    * count. Same loop, same results; the timing buffer is the only
    * addition. */
  private[graft] def trainMergesTimed(s: SparkSession, dir: String,
      steps: Int): (Seq[(Long, String, String, Long)], Seq[Double]) = {
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    Staging.withConf(s, "spark.sql.adaptive.enabled" -> "false") {
      (trainLoop(s, dir, steps, Some(times)), times.toSeq)
    }
  }

  private def trainLoop(s: SparkSession, dir: String, steps: Int,
      stepTimes: Option[scala.collection.mutable.ArrayBuffer[Double]] = None)
      : Seq[(Long, String, String, Long)] = {
    import s.implicits._
    val vocab0 = Staging.staged(s, dir, "bpe_train_vocab") {
      graft.Tables.balanced(s, dir, "documents", "doc_id")
        .select(explode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .withColumn("stt", concat_ws(" ",
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")))
    }
    // the training state is VOCABULARY-sized (distinct words ≪ corpus):
    // right-size its partitioning once so each of the ~2·steps per-step
    // jobs schedules a handful of tasks instead of a full corpus-width
    // task wave — at production vocab sizes this constant scales with
    // |vocab| / target-partition-rows, not with the corpus.
    // r16 (the bpe_artifact fixed-cost profile): the per-step PAIR
    // AGGREGATE still shuffled at the session's corpus width (32), so
    // every one of the 32 steps scheduled a 32-task reduce wave over a
    // vocabulary-sized frame — pure scheduling constant, ~2/3 of the
    // train loop's wall. Narrow the shuffle width to TRAIN_PARTS for the
    // loop (the TrainOps.trainCurve discipline; values are exact integer
    // counts, partitioning-independent) and restore on exit. The staged
    // corpus-sized vocab aggregate keeps the session width — only the
    // vocabulary-sized loop narrows.
    // force the staged corpus aggregate NOW, at the session's width —
    // a lazy persist would otherwise materialize inside the narrowed
    // loop and run the one corpus-sized shuffle 8-wide (a cache read
    // when Bench's instrumentation already built it eagerly). The count
    // doubles as the ADAPTIVE width input: ~50k vocabulary rows per
    // partition, so a 10⁶-word production vocabulary trains ~20-wide
    // while a small-vocab corpus collapses to width 1 and each of the
    // 32 per-step jobs schedules 1-2 tasks instead of a fixed-width
    // wave of empties (measured at sf0.1's 31-word vocabulary:
    // ~130 ms/step fixed-8 → ~45 ms/step adaptive).
    val vocabRows = vocab0.count()
    val TRAIN_PARTS = math.max(1, math.min(
      s.sparkContext.defaultParallelism,
      ((vocabRows + 49999L) / 50000L).toInt))
    Staging.withConf(s, "spark.sql.shuffle.partitions" -> TRAIN_PARTS.toString) {
      trainLoopBody(s, vocab0, steps, stepTimes, TRAIN_PARTS)
    }
  }

  /** The per-step loop as an RDD superstep kernel, adopted here in r16
    * after profiling the bpe_artifact fixed cost: a FRESH DataFrame plan
    * per step pays ~120-150 ms of Catalyst analysis/optimization/physical
    * planning before any task runs (measured against a trivial 31-row
    * aggregate — fresh plan 176 ms/iter vs 53 ms re-collecting the same
    * QueryExecution vs 36 ms for a raw 1-task RDD job), and 32 steps
    * paid that planning constant 32 times — ~3/4 of the training wall.
    * The step arithmetic is exact longs either way (reduceByKey ≡ the
    * hash aggregate; takeOrdered's (cnt desc, l asc, r asc) ordering is
    * the same ASCII comparison both engines sort by), so the learned
    * table — and the DuckDB replay — are unchanged. Per-step state stays
    * DISTRIBUTED (production vocabularies are 10⁵-10⁷ words); only the
    * 1-row argmax ever reaches the driver. */
  private def trainLoopBody(s: SparkSession,
      vocab0: DataFrame, steps: Int,
      stepTimes: Option[scala.collection.mutable.ArrayBuffer[Double]],
      TRAIN_PARTS: Int): Seq[(Long, String, String, Long)] = {
    import s.implicits._
    var vocab = vocab0.as[(String, Long, String)].rdd
      .coalesce(TRAIN_PARTS, shuffle = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cached = scala.collection.mutable
      .ArrayBuffer[org.apache.spark.rdd.RDD[(String, Long, String)]](vocab)
    val learned = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    // ties: highest count, then lexicographically smallest (l, r) —
    // ASCII string order, identical to both engines' ORDER BY
    val bestOrd: Ordering[((String, String), Long)] =
      Ordering.by { case ((l, r), c) => (-c, l, r) }
    var exhausted = false
    for (k <- 1 to steps if !exhausted) {
      val t0 = System.nanoTime()
      val best = vocab.flatMap { case (_, f, stt) =>
          val syms = stt.split(' ')
          (0 until syms.length - 1).iterator
            .map(i => ((syms(i), syms(i + 1)), f))
        }
        .reduceByKey(_ + _, TRAIN_PARTS) // exact long counts, one shuffle
        .takeOrdered(1)(bestOrd)         // distributed top-1, 1 row collected
      if (best.isEmpty) exhausted = true // no adjacent pairs left: the
      else {                             // oracle just emits fewer steps
        val ((l, r), cnt) = best(0)
        learned += ((k.toLong, l, r, cnt))
        if (k < steps) { // the final state has no consumer
          val next = vocab
            .map { case (w, f, stt) => (w, f, applyMerge(stt, l, r)) }
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          if (k % CKPT_EVERY == 0) {
            // truncate lineage every few steps and release superseded
            // persists — at production merge counts (10⁴-10⁵) neither
            // lineage depth nor pinned block memory may grow with the
            // step index. The checkpoint MUST materialize (count) BEFORE
            // the ancestors are unpersisted: localCheckpoint stores its
            // data in the very blocks unpersist would delete, and a lazy
            // checkpoint whose ancestors are already gone fails with
            // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on first use
            next.localCheckpoint()
            next.count()
            vocab = next
            cached.foreach(c => if (c ne next) c.unpersist(blocking = false))
            cached.clear(); cached += next
          } else {
            vocab = next
            cached += next
          }
        }
      }
      stepTimes.foreach(_ += (System.nanoTime() - t0) / 1e9)
    }
    cached.foreach(_.unpersist(blocking = false))
    learned.toSeq
  }

  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainMerges(s, dir, TRAIN_STEPS).toDF("step", "l", "r", "pair_count")
  }

  /** The TRAIN → APPLY lifecycle closed in one operator: learn the merge
    * table from the corpus ([[trainMerges]]), then tokenize the SAME
    * corpus with the learned table — the per-distinct-word kernel and
    * broadcast join of [[bpeCountQ]], with the learned merges (rank =
    * training step) in place of the in-code fixture. This is the pairing
    * production runs (a tokenizer is trained once, then meters every
    * downstream budget); text_bpe_count/pack keep the fixture table so
    * counting semantics stay pinned independently of training. The
    * DuckDB oracle replays training AND application, so a drift in
    * either half breaks the hash. */
  private def bpeRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val rank = trainMerges(s, dir, TRAIN_STEPS)
      .map { case (step, l, r, _) => (l, r) -> step.toInt }.toMap
    tokenizeWithRank(s, dir, rank).orderBy(col("source"))
  }

  /** APPLY a merge-rank table to the corpus: per-distinct-word kernel +
    * broadcast join back, per-source token totals — the serving half
    * shared by text_bpe_roundtrip (in-session table) and
    * text_bpe_artifact (table loaded from the commit log). */
  private def tokenizeWithRank(s: SparkSession, dir: String,
      rank: Map[(String, String), Int]): DataFrame = {
    import s.implicits._
    val words = graft.Tables.balanced(s, dir, "documents", "doc_id")
      .select(col("doc_id"), col("source"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
    val vocab = words.select(col("w")).distinct().as[String]
    val rankB = s.sparkContext.broadcast(rank)
    val tokPerWord = vocab.mapPartitions { it =>
      val rk = rankB.value
      it.map(w => (w, tokenCount(w, rk).toLong))
    }.toDF("w", "n_tok")
    words.join(broadcast(tokPerWord), "w")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tok")).as("bpe_tokens"),
        count(lit(1)).as("n_words"))
  }

  /** The tokenizer-ARTIFACT lifecycle production actually runs: train
    * once, PERSIST the merge table as a versioned artifact, then
    * tokenize from the LOADED table in a fresh read path — never from
    * in-session state. The merge table is committed through the OCC
    * CommitLog (CAS pointer advance, same log the lakehouse tier uses),
    * read back via the log's version resolution, and only the loaded
    * copy feeds the tokenize kernel. A `require` proves the loaded
    * artifact reproduces the trained one row-for-row; the DuckDB oracle
    * replays train AND apply end-to-end, so a drift anywhere in
    * train → commit → load → tokenize breaks the hash. Emits the
    * roundtrip aggregate plus the artifact facts (artifact_ok,
    * n_merges) the lifecycle pins. */
  private def bpeArtifactQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val learned = trainMerges(s, dir, TRAIN_STEPS)
    val base = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_bpe_artifact_" +
      s"${s.sparkContext.applicationId}_${math.abs(dir.hashCode).toHexString}"
    // once per pass: write the merge table and CAS-advance the pointer
    // (a re-run within a session publishes the next version, exactly like
    // a production tokenizer refresh)
    val version = Staging.stagedValue(s, dir, "bpe_artifact_version") {
      val v0 = CommitLog.latest(base).map(_.version).getOrElse(0L)
      val dataDir = s"$base/merges_v${v0 + 1}"
      learned.toDF("step", "l", "r", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(dataDir)
      CommitLog.commit(base, v0, dataDir).version
    }
    // FRESH read path: the model used below exists only as the log's
    // committed parquet, resolved by version
    val loaded = CommitLog.read(s, base, version)
      .select(col("step"), col("l"), col("r"), col("pair_count"))
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    require(loaded == learned.sortBy(_._1),
      s"artifact v$version read back from $base does not reproduce the " +
        s"trained merge table (${loaded.size} vs ${learned.size} rows)")
    val rank = loaded.map { case (step, l, r, _) => (l, r) -> step.toInt }.toMap
    tokenizeWithRank(s, dir, rank)
      .select(col("source"), col("n_docs"), col("bpe_tokens"), col("n_words"),
        lit(version >= 1L).as("artifact_ok"),
        lit(loaded.size.toLong).as("n_merges"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_count" -> bpeCountQ,
    "text_tokenizer_fertility" -> fertilityQ,
    "text_bpe_pack" -> bpePackQ,
    "text_bpe_train" -> bpeTrainQ,
    "text_bpe_roundtrip" -> bpeRoundtripQ,
    "text_bpe_artifact" -> bpeArtifactQ,
  )

  private def mergesListSql: String =
    merges.map { case (l, r) => s"'$l $r'" }.mkString("[", ",", "]")

  // The oracle replays the merge loop as a recursive CTE: each step finds
  // the lowest-rank adjacent pair (nullif guards list_position's 0-for-
  // absent) and merges its leftmost occurrence; a word's count is the
  // minimum symbol-list length it ever reaches (lengths strictly decrease).
  // Parameterized on the mlist body so the roundtrip oracle can feed the
  // LEARNED merges (derived in-query from the training CTEs) through the
  // same counting replay the fixture-table queries use.
  private def bpeCtes: String = bpeCountCtes(s"SELECT $mergesListSql AS ms")

  private def bpeCountCtes(mlistBody: String): String =
    s"""mlist AS (
       |  $mlistBody
       |),
       |words AS (
       |  SELECT doc_id, source, lang,
       |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |  FROM documents
       |),
       |uw AS (SELECT DISTINCT w FROM words),
       |bpe AS (
       |  SELECT w, string_split(w, '') AS syms FROM uw
       |  UNION ALL
       |  SELECT w, list_concat(list_concat(
       |      syms[1:pos-1], [syms[pos] || syms[pos+1]]), syms[pos+2:]) AS syms
       |  FROM (
       |    SELECT w, syms, list_position(rks, list_aggregate(rks, 'min')) AS pos
       |    FROM (
       |      SELECT w, syms,
       |        list_transform(generate_series(1, len(syms)-1),
       |          i -> nullif(list_position(ms, syms[i] || ' ' || syms[i+1]), 0)) AS rks
       |      FROM bpe, mlist
       |    )
       |  ) WHERE pos IS NOT NULL
       |),
       |ntok AS (SELECT w, min(len(syms)) AS n_tok FROM bpe GROUP BY w)""".stripMargin

  // text_bpe_train oracle: each unrolled step counts adjacent pairs from
  // the previous vocabulary state, takes the argmax, and replays the
  // merge as a recursive CTE (one leftmost occurrence per recursion
  // round, to fixpoint — the kernel's exact semantics). MATERIALIZED is
  // load-bearing: each state feeds both the next pair count and the next
  // recursion base, and without it DuckDB re-derives the whole upstream
  // chain per reference (exponential in steps).
  private def bpeTrainStepSql(k: Int): String =
    s""", p$k AS MATERIALIZED (
       |  SELECT a[i] AS l, a[i+1] AS r, freq
       |  FROM (SELECT string_split(stt, ' ') AS a, freq FROM s${k - 1}),
       |       unnest(generate_series(1, len(a)-1)) AS t(i)
       |), b$k AS MATERIALIZED (
       |  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM p$k GROUP BY 1, 2
       |  ORDER BY cnt DESC, l, r LIMIT 1
       |), m$k AS (
       |  SELECT w, freq, stt, ' '||l||' '||r||' ' AS pat, ' '||l||r||' ' AS rep
       |  FROM s${k - 1} CROSS JOIN b$k
       |  UNION
       |  SELECT w, freq,
       |    trim(substr(' '||stt||' ', 1, strpos(' '||stt||' ', pat) - 1) ||
       |      rep ||
       |      substr(' '||stt||' ', strpos(' '||stt||' ', pat) + length(pat))),
       |    pat, rep
       |  FROM m$k
       |  WHERE strpos(' '||stt||' ', pat) > 0
       |), s$k AS MATERIALIZED (
       |  SELECT w, freq, stt FROM m$k WHERE strpos(' '||stt||' ', pat) = 0
       |)""".stripMargin

  // the shared training replay: word frequencies → character states →
  // one (p_k, b_k, m_k, s_k) block per unrolled step
  private val bpeTrainCtes: String = {
    val steps = (1 to TRAIN_STEPS).map(bpeTrainStepSql).mkString
    s"""twords AS (
       |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |  FROM documents
       |), s0 AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
       |    array_to_string(list_transform(generate_series(1, length(w)),
       |      i -> substr(w, i, 1)), ' ') AS stt
       |  FROM twords GROUP BY w
       |)$steps""".stripMargin
  }

  private val bpeTrainSql: String = {
    val out = (1 to TRAIN_STEPS).map(k =>
      s"SELECT CAST($k AS BIGINT) AS step, l, r, cnt AS pair_count FROM b$k")
      .mkString("\n UNION ALL ")
    s"""WITH RECURSIVE $bpeTrainCtes
       |$out
       |ORDER BY step""".stripMargin
  }

  // roundtrip: the training replay's learned merges (b1..bN, in step
  // order) become the mlist the counting replay consumes — both halves
  // in ONE query, so the oracle breaks if either drifts
  private val bpeRoundtripSql: String = {
    val learnedRows = (1 to TRAIN_STEPS).map(k =>
      s"SELECT $k AS step, l, r FROM b$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $bpeTrainCtes,
       |${bpeCountCtes(
            s"SELECT list(l || ' ' || r ORDER BY step) AS ms FROM ($learnedRows)")}
       |SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS bpe_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_words
       |FROM words JOIN ntok USING (w)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  // artifact: identical train+apply replay — the lifecycle's claim is
  // exactly "the loaded artifact tokenizes like the in-session model" —
  // plus the artifact facts as literals (a failed commit/load can't reach
  // the emit: the query's require throws first, and a silent drift in the
  // loaded table changes bpe_tokens and breaks the hash)
  private val bpeArtifactSql: String = {
    val learnedRows = (1 to TRAIN_STEPS).map(k =>
      s"SELECT $k AS step, l, r FROM b$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE $bpeTrainCtes,
       |${bpeCountCtes(
            s"SELECT list(l || ' ' || r ORDER BY step) AS ms FROM ($learnedRows)")}
       |SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS bpe_tokens,
       |  CAST(COUNT(*) AS BIGINT) AS n_words,
       |  TRUE AS artifact_ok, CAST($TRAIN_STEPS AS BIGINT) AS n_merges
       |FROM words JOIN ntok USING (w)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "text_bpe_train" -> bpeTrainSql,
    "text_bpe_roundtrip" -> bpeRoundtripSql,
    "text_bpe_artifact" -> bpeArtifactSql,
    "text_bpe_count" ->
      s"""WITH RECURSIVE $bpeCtes
         |SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS bpe_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS n_words
         |FROM words JOIN ntok USING (w)
         |GROUP BY source ORDER BY source""".stripMargin,
    // same per-distinct-word replay, rolled up by lang; ratios spelled
    // once over exact BIGINT totals, floor-rounded 6 dp
    "text_tokenizer_fertility" ->
      s"""WITH RECURSIVE $bpeCtes
         |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n_tok) AS BIGINT) AS bpe_tokens,
         |  CAST(floor(CAST(SUM(n_tok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS fertility,
         |  CAST(floor(CAST(SUM(length(w)) AS DOUBLE)
         |    / CAST(SUM(n_tok) AS DOUBLE) * 1e6 + 0.5) AS DOUBLE) / 1e6
         |    AS chars_per_token
         |FROM words JOIN ntok USING (w)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_bpe_pack" ->
      s"""WITH RECURSIVE $bpeCtes,
         |perdoc AS (
         |  SELECT doc_id, CAST(SUM(n_tok) AS BIGINT) AS n_tok
         |  FROM words JOIN ntok USING (w) GROUP BY doc_id
         |),
         |counts AS (
         |  SELECT d.doc_id, d.lang, coalesce(p.n_tok, 0) AS n_tok
         |  FROM documents d LEFT JOIN perdoc p USING (doc_id)
         |),
         |c AS (
         |  SELECT *, SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM counts
         |)
         |SELECT lang, CAST((cum - n_tok) // $PACK_CAP AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY 1, 2 ORDER BY lang, bin""".stripMargin,
  )
}
