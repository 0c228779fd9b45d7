package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.ops.Staging.withConf
import java.util.concurrent.atomic.AtomicInteger

/** Structured Streaming operators (SURVEY §2.9 streaming rows + E1).
  *
  * The reference is a scheduled micro-batch poller (task.ts:98) — exactly
  * Spark's incremental model. Every transform in graft.adsbx is a pure
  * DataFrame => DataFrame, so the same code runs under readStream; this
  * object adds the streaming-only pieces: sources, watermarked windows,
  * cross-batch dedup, and a driver-verifiable bridge (run a streaming query
  * over the events table to completion, return the final result — the
  * DuckDB oracle then checks streaming semantics against batch SQL).
  *
  * Scale posture: stateful ops are keyed by high-cardinality columns and
  * watermarked so state is evicted; complete-mode is used only for
  * bounded-cardinality aggregates (per-user, per-hour).
  */
object StreamOps {

  private val nameCounter = new AtomicInteger()

  // ------------------------------------------------- phase instrumentation

  /** Per-run phase records for the bench harness (the r13 verdict's
    * stream-floor item: measure WHERE the fixed cost goes before
    * attacking it). Every completed stream run appends one record:
    * total wall, batch count, the sum of each
    * StreamingQueryProgress.durationMs phase across batches
    * (triggerExecution, addBatch, walCommit, commitOffsets,
    * queryPlanning, latestOffset, getBatch), and `setup_sec` = wall −
    * Σ triggerExecution — the query-start/source-init/checkpoint/stop
    * machinery no progress event covers. Bench drains this after each
    * stream query and publishes the breakdown in BENCH_LOCAL.json. */
  private val phaseLog =
    scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]

  def drainPhaseRecords(): Seq[Map[String, Double]] =
    phaseLog.synchronized { val r = phaseLog.toList; phaseLog.clear(); r }

  /** start() + awaitTermination() + phase accounting — the one way a
    * stream is run to completion, so the bench's phase breakdown covers
    * every stream query (this object's, the incremental merge and
    * `cot_stream_poll`).
    *
    * recentProgress retention (r15): Spark keeps only the last
    * `numRecentProgressUpdates` progress events (default 100), so a
    * stream with >100 micro-batches (e.g. maxFilesPerTrigger=1 at larger
    * SFs) silently undercounted batch phase totals and n_batches — which
    * INFLATED the derived setup_sec (wall − Σ triggerExecution) in
    * BENCH_LOCAL.json. The run raises it to at least PROGRESS_RETENTION
    * and restores the session's own setting afterwards; the record also
    * publishes `progress_capped` so a capped record is self-describing
    * instead of silently wrong. */
  private val PROGRESS_RETENTION = 10000

  private[graft] def runInstrumented(w: DataStreamWriter[Row]): StreamingQuery = {
    val spark = SparkSession.active
    val k = "spark.sql.streaming.numRecentProgressUpdates"
    val retention = math.max(PROGRESS_RETENTION, spark.conf.get(k).toInt)
    withConf(spark, k -> retention.toString) {
      val t0 = System.nanoTime()
      val q = w.start()
      q.awaitTermination()
      recordPhases(q, (System.nanoTime() - t0) / 1e9, retention)
      q
    }
  }

  private def recordPhases(q: StreamingQuery, wall: Double,
      retention: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val agg = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    val progs = q.recentProgress
    progs.foreach(p => p.durationMs.asScala.foreach { case (k, v) =>
      agg(k) += v.toDouble / 1000.0 })
    // retention-cap tripwire: progs.length at the buffer limit means
    // earlier batches were evicted — phase totals are partial and the
    // derived setup_sec is an overestimate. Published, never guessed at.
    val rec = Map(
      "wall_sec" -> wall,
      "n_batches" -> progs.length.toDouble,
      "progress_capped" -> (if (progs.length >= retention) 1.0 else 0.0),
      "setup_sec" -> math.max(0.0, wall - agg("triggerExecution"))) ++
      agg.map { case (k, v) => s"batch_$k" -> v }
    phaseLog.synchronized { phaseLog += rec }
  }

  /** events as a stream: file-source over the parquet with an explicit
    * schema, normalized to proper TimestampType exactly like
    * graft.Tables.events. The corpus has shipped `ts` both as INT64
    * TIMESTAMP(NANOS) and as native TIMESTAMP(MICROS); a file-source
    * schema is caller-declared (never inferred), so the physical type is
    * probed from the parquet footer first — hard-coding either variant
    * silently rescales every event time by 1000× when the corpus flips
    * (the round-6 regression across all six time-sensitive stream
    * queries). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.types._
    // footer probe cached per (session, corpus): the physical ts type is
    // a property of the corpus files, and ~15 stream queries × multiple
    // bench passes each paid a driver-side footer read + schema merge
    // for the same answer (stagedValue survives Staging.clear()'s
    // per-pass frame eviction only until clear() — which is fine: the
    // reprobe is exactly once per pass, not once per query)
    val tsType = graft.ops.Staging.stagedValue(spark, dir, "events_ts_type") {
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // the file source only accepts directories — scan the sf dir, filtered
    // down to the events file
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    // normalize to TIMESTAMP (with local tz): watermarks reject
    // TIMESTAMP_NTZ, and the session tz is pinned UTC so the cast is
    // value-preserving
    raw.withColumn("ts", graft.Tables.normalizeTs(tsType, col("ts")))
  }

  /** Run a streaming DataFrame to completion into a memory sink and return
    * the final table (AvailableNow ≈ the reference's one-shot scheduled
    * invocation). */
  def runToMemory(streamed: DataFrame, outputMode: String,
                  stateParts: Int = 4): DataFrame = {
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val spark = streamed.sparkSession
    // stateful queries instantiate one state store per shuffle partition at
    // query start; 4 is plenty for the bench corpus and cuts fixed setup
    // cost. Heavy stateful shapes (session merge) pass a higher count —
    // state work parallelizes with it (a production job sizes this to
    // keys × state bytes instead). RE-MEASURED r14 on the 6 heaviest
    // stream queries (3-pass medians, sf0.1): width 1 → 24.7 s,
    // 2 → 25.4, 4 → 15.0, 8 → 18.2, 16 → 22.9 — the 4-wide setting is
    // the measured optimum, state-store count and per-task overhead
    // dominate above it, lost parallelism below.
    // Whole-stage codegen OFF for the micro-batch run (r13, measured):
    // event-time watermark values are baked into the generated code as
    // literals, so EVERY batch of a watermarked query is a codegen cache
    // miss and pays a fresh janino compile — several hundred ms per
    // batch against micro-batches whose actual row work is smaller than
    // the compile (wm-window 2.2→1.4 s, stateless 0.9→0.55 s at sf0.1).
    // This is a batch-size trade, not a scale heresy: a production
    // deployment with multi-GB batches amortizes the compile and flips
    // this back (the conf is per-session, restored on exit); the plan
    // shape, state layout, and semantics are identical either way.
    // RE-MEASURED r14 (heavy-6 probe, medians): codegen on = 16.8 s vs
    // off = 15.0 s at width 4 — still a net loss at bench batch sizes,
    // including for the join-heavy shapes.
    // The state-store provider is the session's own: r17 measured RocksDB
    // 1.6× slower on the heavy-6 (per-batch native open/commit against
    // KB-scale state; its win is state that outgrows the executor heap).
    // resolve the result (analysis is eager, so the frame keeps the sink's
    // relation), then UNREGISTER the sink's temp view, also when the query
    // fails: every stream run creates a fresh sink table, and a long
    // session that never drops the names pins hundreds of buffered result
    // tables on the heap — the returned frame alone keeps this one alive
    // until the caller drops it
    try withConf(spark, "spark.sql.shuffle.partitions" -> stateParts.toString,
        "spark.sql.codegen.wholeStage" -> "false") {
      runInstrumented(streamed.writeStream
        .format("memory").queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow()))
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }

  /** Streaming hourly tumbling-window aggregation in APPEND mode with a
    * 1-hour watermark — the scale shape: a window's state is EVICTED (and
    * its final row emitted exactly once) when the watermark passes its
    * end, so state holds only the open tail instead of growing with every
    * window ever seen (complete mode re-emits all windows per batch and
    * never evicts — fine for a bounded demo, wrong at 100×; the
    * complete-mode form lives in StreamingSpec as a semantics demo).
    *
    * The eviction rule itself is oracle-pinned: Spark's watermark after
    * the data batch is floor(max(ts) in ms) − delay, and a window emits
    * iff window.end <= watermark (measured empirically — AvailableNow
    * runs a final no-data batch that flushes every closed window). The
    * DuckDB oracle reproduces exactly that predicate, so late-data
    * eviction semantics — not just the aggregate values — sit behind the
    * hash gate. */
  def hourlyWindowQ(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Exact.sumD(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
    runToMemory(agg, "append")
      .orderBy(col("w_start"), col("event_type"))
  }

  /** Sliding-window streaming aggregate (2 h windows, 1 h slide) in
    * APPEND mode with a 1-hour watermark — every event lands in exactly
    * TWO overlapping windows, the standard smoothing shape for rate
    * dashboards. Same watermark-eviction contract as [[hourlyWindowQ]]
    * (emit iff window.end <= final watermark, pinned by the oracle);
    * state is open-window sized, not all-windows sized. */
  def slidingWindowQ(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Exact.sumD(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
    runToMemory(agg, "append")
      .orderBy(col("w_start"), col("event_type"))
  }

  /** Streaming last-wins dedup, the SCALE shape: the reference's D1
    * (max_by per key) as a watermarked APPEND-mode aggregate over a
    * 1-hour tumbling dedup horizon. Retransmissions/corrections arrive
    * close to the original, so last-wins within the horizon is the
    * production contract — and it is the shape whose state is BOUNDED:
    * one row per (open window, key), EVICTED (and its final winner
    * emitted exactly once) when the watermark passes the window end.
    * The complete-mode all-time form (one state row per key forever +
    * full re-emission per batch — unbounded on an unbounded id space)
    * survives only as [[dedupLastWinsCompleteQ]], a semantics demo for
    * StreamingSpec; it is NOT the oracle-checked query.
    *
    * The eviction rule itself sits behind the hash gate, exactly like
    * the r12 windows: a (window, key) winner is emitted iff
    * window.end <= floor(max ts to ms) − delay (AvailableNow runs the
    * final no-data flush batch), and the DuckDB oracle reproduces that
    * predicate — so late-data semantics, not just the winners, are
    * pinned.
    *
    * 10×-rehearsal note (r13 flagged 5.04×, decomposed r14): OUTPUT
    * rows are (window, key) winners and grow exactly 10.0× with the
    * corpus (measured: 95,583 → 955,865 distinct (hour, user) pairs at
    * sf0.1 → sf1) — eviction emits every one through the state store
    * and the memory sink. 5.04× wall for 10× input AND 10× output rows
    * is sublinear per row processed; the remainder over the ~1 s stream
    * floor (2 batches: data + eviction flush — the phase breakdown in
    * BENCH_LOCAL.json `stream_phases`) tracks output volume, not a
    * super-linear plan term. */
  def dedupLastWinsQ(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(max_by(struct(col("ts"), col("event_type"), col("value"), col("props")),
        col("event_id")).as("_r"))
      .select(col("window.start").as("w_start"), col("user_id"),
        col("_r.ts").as("ts"),
        col("_r.event_type").as("event_type"), col("_r.value").as("value"),
        col("_r.props").as("props"))
    runToMemory(agg, "append").orderBy(col("w_start"), col("user_id"))
  }

  /** The all-time complete-mode sibling of [[dedupLastWinsQ]] — kept as a
    * bounded-corpus semantics demo ONLY (per-key state never evicts and
    * complete mode re-emits the whole result table every micro-batch;
    * both grow with key cardinality, the wrong trade at 100×). Matches
    * the batch Dedup.lastWins exactly; exercised by StreamingSpec under
    * the RocksDB state backend. */
  def dedupLastWinsCompleteQ(s: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(s, dir)
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("ts"), col("event_type"), col("value"), col("props")),
        col("event_id")).as("_r"))
      .select(col("user_id"), col("_r.ts").as("ts"),
        col("_r.event_type").as("event_type"), col("_r.value").as("value"),
        col("_r.props").as("props"))
    runToMemory(agg, "complete").orderBy(col("user_id"))
  }

  /** Watermarked sliding-window counts in append mode — only windows closed
    * by the watermark are emitted (late-data semantics under test in
    * StreamingSpec; not oracle-checked because append mode intentionally
    * withholds the unclosed tail). */
  def watermarkedWindow(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"))

  /** Cross-batch streaming dedup with state eviction via watermark (the
    * scalable replacement for the reference's removed DynamoDB known-items
    * diff — SURVEY §2.9 stateful row). */
  def streamingDedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id")

  /** `streamingDedup`'s operator (dropDuplicatesWithinWatermark) driven to
    * completion — the retransmission-dedup every at-least-once ingest runs.
    * Only the KEY columns are projected: which physical row wins the
    * first-seen race depends on partition arrival order, but the surviving
    * key set does not, so the projection is deterministic and the oracle is
    * plain DISTINCT. State is per-key and watermark-evicted (keys older
    * than the delay are forgotten — the bounded-state contract; on this
    * bounded single-file input no eviction fires, so the result equals the
    * full distinct). */
  def watermarkDedupQ(s: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(s, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    runToMemory(deduped, "append")
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Cross-batch first-seen dedup with BOUNDED state: a bloom bitmap per
    * key shard instead of one state row per key. `dropDuplicates*` state
    * grows with distinct-key cardinality — on an unbounded key domain
    * (URLs, document fingerprints) that is the state-store OOM at stream
    * scale; the watermark variant bounds it only by forgetting old keys.
    * Here state is 64 shards × 4 KiB = 256 KiB TOTAL, forever, for any
    * key cardinality — the trade is a vanishing false-positive rate
    * (a "seen" verdict for a new key → row dropped), the standard
    * approximate-dedup contract (fpp ≈ 2e-4 at 1k keys/shard, sized by
    * BLOOM_M/shard count). Emitted = keys whose probe said unseen, a set
    * that is independent of arrival order; on this corpus the bloom has
    * no false positive, so the oracle is exact DISTINCT.
    *
    * Sharding by `xxhash64(key) mod 64` spreads keys uniformly and gives
    * the shuffle a fixed 64-key domain; the per-shard bitmap lives in a
    * `GroupState[Array[Long]]` updated via the same XXH64 chain as the
    * `graft_bloom` aggregate (`BloomFunctions.add`/`mightContain`). */
  def bloomDedup(events: DataFrame, shards: Int = 64): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.functions.BloomFunctions
    events
      .select(
        pmod(xxhash64(col("user_id"), col("event_type")), lit(shards)).cast("int")
          .as("shard"),
        col("user_id"), col("event_type"),
        xxhash64(col("user_id"), col("event_type")).as("h"))
      .as[(Int, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, rows: Iterator[(Int, Long, String, Long)],
         state: GroupState[Array[Long]]) => {
          val words = state.getOption
            .getOrElse(new Array[Long](BloomFunctions.BLOOM_WORDS))
          val out = List.newBuilder[(Long, String)]
          rows.foreach { case (_, uid, etype, h) =>
            if (!BloomFunctions.mightContain(words, h)) {
              BloomFunctions.add(words, h)
              out += ((uid, etype))
            }
          }
          state.update(words)
          out.result().iterator
        })
      .toDF("user_id", "event_type")
  }

  /** `bloomDedup` driven to completion over the events file. */
  def bloomDedupQ(s: SparkSession, dir: String): DataFrame =
    runToMemory(bloomDedup(eventsStream(s, dir)), "append")
      .orderBy(col("user_id"), col("event_type"))

  final case class UserRunning(user_id: Long, n_events: Long,
      last_ts: java.sql.Timestamp, closed: Boolean)

  /** Custom keyed state via mapGroupsWithState: per-user running event
    * count with event-time timeout eviction — the pattern for state the
    * built-in operators can't express (per-key custom accumulators,
    * decay, model features). State is per-key and bounded: the timeout
    * evicts any user idle past the watermark + gap, so a 100 TB/unbounded
    * key space cannot accumulate.
    *
    * Emits an updated row per (batch, active user); on timeout emits a
    * final `closed = true` row and removes the state. */
  def runningUserCounts(events: DataFrame, watermark: String = "1 hour",
                        gapMs: Long = 3600 * 1000L): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, java.sql.Timestamp)]) =>
          if (state.hasTimedOut) {
            val (n, last) = state.get
            state.remove()
            UserRunning(user, n, last, closed = true)
          } else {
            val batch = rows.toSeq
            // the state carries the Timestamp itself: an epoch-MILLIS long
            // would silently truncate the microsecond precision the
            // batch oracle's max(ts) retains
            val (n0, last0) = state.getOption
              .getOrElse((0L, new java.sql.Timestamp(Long.MinValue / 2)))
            val n = n0 + batch.size
            val last = (last0 +: batch.map(_._2)).max(Ordering.fromLessThan[java.sql.Timestamp](_ before _))
            state.update((n, last))
            state.setTimeoutTimestamp(last.getTime + gapMs)
            UserRunning(user, n, last, closed = false)
          }
      }
  }

  /** Streaming session windows (30-min inactivity gap) — the native
    * operator form of the batch gaps-and-islands sessionization
    * (rel_sessionize), in WATERMARK + APPEND mode: a session is emitted
    * (and its state evicted) as soon as the watermark passes its end, so
    * state stays bounded by the number of OPEN sessions — the only shape
    * that survives an unbounded stream. (The r2 version ran complete mode,
    * which re-emits all state every trigger and never evicts: a
    * scale-killer, and 28 s on the bench.)
    *
    * Bounded-input bridge: on a finite corpus the watermark (max event
    * time - delay) never passes the LAST session per user, so append mode
    * would withhold exactly the tail sessions the oracle expects. A single
    * far-future FLUSH row (sentinel user -1) is unioned into the stream:
    * it advances the global watermark past every real session's end,
    * closing and emitting all of them. The sentinel's own singleton
    * session ends after the final watermark and is never emitted (and is
    * filtered anyway). session_window.end = last event + gap, hence the
    * oracle's `max(ts) + INTERVAL 30 MINUTE`. */
  /** The events stream unioned with a single far-future FLUSH row
    * (sentinel user -1, ts 2100-01-01): once processed, it advances the
    * global watermark past every real event, so watermark-evicted state
    * (closed sessions, timed-out keys) is fully emitted on bounded input.
    * Callers must drop `user_id < 0` rows from the RESULT table (not
    * inside the streaming plan — see sessionWindowQ). */
  def withFlushSentinel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val flushDir = graft.ops.Fs.streamScratchDir(s, "graft_flush")
    // the flush file is OURS, so it is written with native TimestampType —
    // no scale guessing; the union runs after eventsStream has normalized
    // the corpus side to the same type
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val flushTs = new java.sql.Timestamp(4102444800L * 1000L) // 2100-01-01 UTC
    s.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        -1L, flushTs, -1L, "__flush", 0.0, null)), schema)
      .coalesce(1).write.mode("overwrite").parquet(flushDir)
    val flushStream = s.readStream.schema(schema).parquet(flushDir)
    eventsStream(s, dir).unionByName(flushStream)
  }

  def sessionWindowQ(s: SparkSession, dir: String): DataFrame = {
    val agg = withFlushSentinel(s, dir)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Exact.sumD(col("value")).as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("sum_value"))
    // The sentinel filter must run on the RESULT table, not inside the
    // streaming plan: a `user_id >= 0` filter there references only a
    // grouping key, so Catalyst pushes it below the watermark operator and
    // the flush row is eliminated before it can advance the watermark —
    // silently withholding the tail sessions. (The sentinel's own session
    // also never emits: it ends 30 min after the final watermark.)
    // session merge is the heaviest per-row state op in the suite — give
    // its stores more lanes than the 4-partition fixed-cost default
    runToMemory(agg, "append", stateParts = 8)
      .filter(col("user_id") >= 0)
      .orderBy(col("user_id"), col("s_start"))
  }

  /** `runningUserCounts` driven to completion — the custom-keyed-state
    * operator (mapGroupsWithState) oracle-checked end-to-end: the flush
    * sentinel advances the watermark past every user's timeout, so every
    * key's state times out and emits its final `closed = true` row, which
    * must equal the batch per-user aggregate. The closed/sentinel filters
    * run on the RESULT table (the streaming plan must see the raw stream —
    * see sessionWindowQ on watermark-vs-pushdown). */
  def runningCountsQ(s: SparkSession, dir: String): DataFrame = {
    val running = runningUserCounts(
      withFlushSentinel(s, dir), watermark = "0 seconds")
    runToMemory(running.toDF(), "update")
      .filter(col("closed") && col("user_id") >= 0)
      .select(col("user_id"), col("n_events"), col("last_ts"))
      .orderBy(col("user_id"))
  }

  final case class NearDupPair(d1: Long, d2: Long, n_agree: Long)

  /** Streaming near-duplicate detection with cross-batch LSH state — the
    * operator a continuously-ingesting training pipeline runs instead of
    * re-deduping the whole corpus per batch. Per arriving doc: MinHash
    * signature (stateless kernel), explode to 4 band buckets, then
    * flatMapGroupsWithState keyed by (band, bucket) holds the signatures
    * previously seen in that bucket and emits a pair for every state doc
    * whose signature agrees on ≥ `AGREE_MIN` of the 8 chunks (estimated
    * Jaccard ≥ AGREE_MIN/8). State is per-bucket and bounded by
    * `maxPerBucket` (newest-first recency window — the standard streaming
    * dedup compromise: at production rates you dedup against the recent
    * past, not all history; the cap here is far above any test-scale
    * bucket, so results equal the unbounded batch oracle). A pair sharing
    * several buckets is emitted once per bucket — dedupe downstream
    * (`nearDupStreamQ` distincts the result table). */
  private val AGREE_MIN = 4

  def streamingNearDup(docsStream: DataFrame,
                       maxPerBucket: Int = 4096): Dataset[NearDupPair] = {
    import docsStream.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sig = graft.ops.DedupOps.minhashSig(docsStream)
    // band explode CARRIES the signature array — joining the band table
    // back to sig would be a stream-stream self-join with unbounded join
    // state, the exact shape this operator exists to avoid
    val banded = sig.select(col("doc_id"),
      explode(array((0 until graft.ops.DedupOps.N_BANDS).map(i =>
        struct(lit(i).as("band"),
          concat(col(s"mh${2 * i}"), col(s"mh${2 * i + 1}")).as("bucket"))): _*)).as("bb"),
      array((0 until graft.ops.DedupOps.N_MINHASH)
        .map(i => col(s"mh$i")): _*).as("sig"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("doc_id"), col("sig"))
    banded.as[(Int, String, Long, Seq[String])]
      .groupByKey { case (band, bucket, _, _) => (band, bucket) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, String), rows: Iterator[(Int, String, Long, Seq[String])],
         state: GroupState[List[(Long, Seq[String])]]) => {
          var seen = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[NearDupPair]
          // doc_id order within the batch: emitted pairs are independent
          // of shuffle arrival order, matching the batch oracle exactly
          rows.toSeq.sortBy(_._3).foreach { case (_, _, id, s) =>
            seen.foreach { case (oid, os) =>
              val agree = (0 until graft.ops.DedupOps.N_MINHASH)
                .count(i => os(i) == s(i))
              if (oid != id && agree >= AGREE_MIN)
                out += NearDupPair(math.min(oid, id), math.max(oid, id), agree)
            }
            seen = ((id, s) :: seen).take(maxPerBucket)
          }
          state.update(seen)
          out.result().iterator
        })
  }

  /** documents as a stream (file source, explicit schema). */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** streamingNearDup run to completion; the multi-bucket duplicates are
    * distinct-ed on the result table. Oracle: the batch LSH candidate
    * pairs with the same chunk-agreement threshold. */
  def nearDupStreamQ(s: SparkSession, dir: String): DataFrame = {
    val pairs = streamingNearDup(docsStream(s, dir)).toDF()
    runToMemory(pairs, "append")
      .distinct()
      .orderBy(col("d1"), col("d2"))
  }

  /** Stream-static join: the streaming fact enriched by a broadcast batch
    * dimension (the streaming form of the reference's J2 includes-join —
    * per micro-batch, the dim is joined map-side, no stream state). */
  def streamStaticJoinQ(s: SparkSession, dir: String): DataFrame = {
    val cust = graft.Tables(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = eventsStream(s, dir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Exact.sumD(col("value")).as("sum_value"))
    runToMemory(agg, "complete")
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** STREAMING SUBSEQUENCE MATCH (the EDBT'19 time-series-similarity
    * setting: the series arrive continuously): per series key, a
    * flatMapGroupsWithState kernel keeps only the last M−1 points as
    * state (constant per key — an unbounded stream cannot grow it) and,
    * as each point arrives, completes the trailing M-window, z-normalizes
    * it, and emits the window when its distance to the broadcast query
    * pattern beats the threshold. Batch-order determinism is the
    * streamingNearDup convention: rows sort by (ts, event_id) inside the
    * group, so emitted matches equal the batch operator's. The pattern is
    * collected once driver-side (M values — metadata-class, the "query"
    * a matching service is configured with). Oracle: the batch trailing
    * windows with the same threshold. */
  def tsMatchStreamQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val M = 8
    val TAU = 1.0
    // the configured query pattern: user 1's first M values, z-normalized
    val patRaw = graft.Tables(s, dir, "events")
      .filter(col("user_id") === 1)
      .orderBy(col("ts"), col("event_id"))
      .select(col("value")).limit(M)
      .collect().map(_.getDouble(0))
    val (pm, psq) = (patRaw.sum / M, patRaw.map(x => x * x).sum / M)
    val pstd = math.sqrt(psq - pm * pm)
    val pz = patRaw.map(x => (x - pm) / pstd)
    val matches = eventsStream(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
         state: GroupState[List[Double]]) => {
          var tail = state.getOption.getOrElse(Nil) // last ≤ M-1 values, oldest first
          val out = List.newBuilder[(Long, Long, Double)]
          rows.toSeq.sortBy(r => (r._2.getTime, r._3)).foreach { case (_, _, eid, v) =>
            val win = tail :+ v
            if (win.size == M) {
              val mean = win.sum / M
              val sq = win.map(x => x * x).sum / M
              val std2 = sq - mean * mean
              if (std2 > 1e-12) {
                val std = math.sqrt(std2)
                var d = 0.0
                var i = 0
                win.foreach { x =>
                  val z = (x - mean) / std
                  val diff = z - pz(i); d += diff * diff; i += 1
                }
                // Spark's round(): BigDecimal HALF_UP — match it exactly
                val dr = BigDecimal(d).setScale(6,
                  BigDecimal.RoundingMode.HALF_UP).toDouble
                if (dr < TAU) out += ((user, eid, dr))
              }
            }
            tail = (if (win.size == M) win.tail else win)
          }
          state.update(tail)
          out.result().iterator
        })
      .toDF("user_id", "end_event_id", "dist")
    runToMemory(matches, "append")
      .orderBy(col("user_id"), col("end_event_id"))
  }

  /** STREAMING sequence match: the rel_sequence_match funnel (consecutive
    * view→click→purchase per user) detected over the live stream with
    * flatMapGroupsWithState — per-key state is the last |pattern|−1
    * (step, id, ts) tuples, CONSTANT regardless of stream length, the
    * same discipline as stream_ts_match's M−1 tail. Each match emits as
    * soon as its closing event arrives; the batch operator is the oracle,
    * so a dropped or duplicated match breaks the hash. Timestamps ride as
    * exact unix micros (converted IN-PLAN — java.sql.Timestamp.getTime
    * would truncate to millis). */
  def funnelStreamQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val pattern = Vector("view", "click", "purchase")
    val matches = eventsStream(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[List[(String, Long, Long)]]) => {
          var tail = state.getOption.getOrElse(Nil) // last ≤2 (step, id, tus)
          val out = List.newBuilder[(Long, Long, Long, Long)]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, tus, eid, typ) =>
            tail match {
              case (s0, id0, t0) :: (s1, _, _) :: Nil
                if s0 == pattern(0) && s1 == pattern(1) && typ == pattern(2) =>
                out += ((user, id0, eid, tus - t0))
              case _ =>
            }
            tail = (tail :+ ((typ, eid, tus))).takeRight(pattern.size - 1)
          }
          state.update(tail)
          out.result().iterator
        })
      .toDF("user_id", "start_id", "end_id", "span_us")
    runToMemory(matches, "append")
      .orderBy(col("user_id"), col("start_id"))
  }

  /** TEMPORAL TABLE JOIN (Flink's "join the dimension AS OF event time"):
    * each streaming event is enriched with the dimension VERSION that was
    * valid at the event's effective time — not the current version, which
    * is what a plain stream-static join gives and what silently rewrites
    * history when late events meet an updated dim. The dimension is the
    * SCD2 history (HistoryOps.scd2 over per-customer order versions);
    * the join condition is key equality + `valid_from <= eff < valid_to`,
    * broadcast map-side per micro-batch, STATELESS (append mode) — at
    * 100 TB the dim history is broadcast/bucketed and the stream never
    * accumulates join state. Events carry a deterministic effective date
    * inside the dim's validity range (event_id-derived, engine-identical)
    * so every SCD2 version can win matches, not just the open tail. */
  def temporalJoinQ(s: SparkSession, dir: String): DataFrame = {
    val dim = graft.ops.HistoryOps.scd2(
      graft.Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").as("valid_from")),
      "o_custkey", "valid_from", "o_orderkey")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("valid_from"), col("valid_to"))
    val eff = date_add(lit("1992-01-01").cast("date"),
      pmod(col("event_id"), lit(2400)).cast("int")).cast("timestamp")
    // no broadcast hint: the SCD2 dim is ORDERS-sized, so forcing a
    // broadcast makes the driver collect+ship the whole dim each batch and
    // the build cost grows linearly with it. Left to the planner, the dim
    // broadcasts while it fits the threshold and falls back to a shuffled
    // join once it outgrows it — the scale-correct posture for a
    // fact-sized temporal dimension.
    val joined = eventsStream(s, dir)
      .select(col("event_id"), col("user_id"), eff.as("eff_ts"))
      .join(dim,
        col("user_id") === col("o_custkey") &&
          col("eff_ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("eff_ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("eff_ts"),
        col("o_orderkey").as("version_key"),
        col("o_totalprice").as("version_price"))
    runToMemory(joined, "append")
      .orderBy(col("event_id"))
  }

  /** Stream-stream inner join with watermarks and a time-range condition:
    * each click joined to the same user's views within ±10 minutes. The
    * range bound + watermark make join state evictable — the only shape a
    * stream-stream join can scale with (unbounded equality-only state
    * would grow forever). Inner-join matches emit as they form, so on
    * bounded AvailableNow input the result equals the batch join. */
  def streamStreamJoinQ(s: SparkSession, dir: String): DataFrame = {
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val views = eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val joined = clicks.join(views,
      col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        // microsecond gap, undivided: integer division of negatives
        // truncates in Spark but floors in DuckDB
        (unix_micros(col("view_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
    runToMemory(joined, "append")
      .orderBy(col("click_id"), col("view_id"))
  }

  /** Stream-stream LEFT OUTER join — the semantics inner joins can't give:
    * clicks with NO view within ±10 minutes must still emit, with nulls.
    * Outer rows can only be declared unmatched once the watermark passes
    * their join window, so null emission is driven entirely by watermark
    * progress — state for a click evicts (and its null row emits) when
    * both watermarks clear `click_ts + 10 min`. Because the file source
    * would otherwise deliver everything in one AvailableNow batch (final
    * watermark never advances past the data, unmatched rows still in
    * state at shutdown), the fixture stages the corpus as batch 1 and a
    * far-future SENTINEL file as batch 2 (`maxFilesPerTrigger=1` splits
    * them; an explicit mtime bump pins source file order): the sentinel
    * advances both watermarks decades past the data and the trailing
    * no-data batch flushes every unmatched click. The sentinels
    * (negative ids, disjoint timestamps so they can't join each other)
    * are removed on the SINK side, after the stream — a stream-side
    * `click_id >= 0` is pushed by Catalyst BELOW the left branch's
    * event-time watermark node, silently hiding the click sentinel from
    * the watermark accumulator so the flush never fires (the view
    * sentinel is safe only because a right-column filter can't push
    * through a left-outer join). Oracle = the batch LEFT JOIN. */
  def streamOuterJoinQ(s: SparkSession, dir: String): DataFrame = {
    val stage = graft.ops.Fs.streamScratchDir(s, "graft_oj")
    val ev = graft.Tables(s, dir, "events")
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    // max(ts) rides the staging write as an Observation — the separate
    // agg was a SECOND full pass over events before the stream even
    // started (measured in the r14 phase breakdown: the factory's batch
    // work, not the stream, was half this query's cost)
    val obs = org.apache.spark.sql.Observation(
      s"oj_max_${nameCounter.incrementAndGet()}")
    ev.observe(obs, max(col("ts")).as("mx"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val maxTs = obs.get("mx").asInstanceOf[java.sql.Timestamp]
    val sentinels = s.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(-1L,
        new java.sql.Timestamp(maxTs.getTime + 30L * 86400 * 1000), -1L, "click"),
      org.apache.spark.sql.Row(-2L,
        new java.sql.Timestamp(maxTs.getTime + 40L * 86400 * 1000), -2L, "view")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType))))
    // Identify the sentinel file by LISTING DIFFERENCE around its append —
    // the data part and sentinel are written milliseconds apart, so sorting
    // on lastModified can tie at ms granularity and nondeterministically
    // pin the SENTINEL older: it would then form batch 1, advance both
    // watermarks decades ahead, and every real row would drop as late.
    val stDir = new java.io.File(stage)
    def listParts() = stDir.listFiles().filter(_.getName.endsWith(".parquet"))
    val dataParts = listParts()
    sentinels.coalesce(1).write.mode("append").parquet(stage)
    val dataNames = dataParts.map(_.getName).toSet
    val sentinelParts = listParts().filterNot(p => dataNames(p.getName))
    // pin source order: data files strictly older than the sentinel file
    val base = System.currentTimeMillis()
    dataParts.foreach(_.setLastModified(base - 60000))
    sentinelParts.foreach(_.setLastModified(base))
    def staged() = s.readStream
      .schema(sentinels.schema).option("maxFilesPerTrigger", 1).parquet(stage)
    val clicks = staged().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val views = staged().filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val joined = clicks.join(views,
      col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 10 MINUTES") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
      .select(col("click_id"), col("user_id"), col("view_id"),
        (unix_micros(col("view_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
    runToMemory(joined, "append")
      .filter(col("click_id") >= 0)
      .orderBy(col("click_id"), col("view_id"))
  }

  /** Streaming spatial proximity detection — the reference's domain made
    * streaming (aircraft positions arriving continuously, emit an alert
    * when two tracks come close in space AND time). The batch grid-join
    * (GeoOps.proximityPairs) shape carries over unchanged: one side
    * explodes to its 3x3 neighbor cells (a stateless projection), the
    * other keeps its home cell, and the stream-stream join runs on CELL
    * EQUALITY plus a +/-1 day time-range bound — both sides watermarked,
    * so join state evicts once the watermark passes the range (the only
    * stream-stream join shape that survives an unbounded feed; same
    * contract as streamStreamJoinQ). The exact distance predicate prunes
    * after the cell-key candidates, never generating them. */
  def geoProximityStreamQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.GeoOps
    def pts() = GeoOps.derivePoints(eventsStream(s, dir))
      .filter(col("event_type") === "purchase")
    // HALF-neighborhood (r13): 5 offsets instead of 9. The join matches
    // a's exploded neighbor cell against b's home cell, so pair (a,b)
    // surfaces iff cell(b) − cell(a) ∈ S; with S ∪ (−S) covering all 9
    // offsets and S ∩ (−S) = {(0,0)}, every unordered pair within one
    // cell of each other appears EXACTLY once (same-cell pairs twice,
    // deduped on the tiny result table). This halves the exploded side —
    // and in the streaming case the JOIN STATE — for identical output;
    // the orientation of the surviving match is arbitrary, so the pair
    // is normalized to (min id, max id) with the gap sign corrected on
    // the sink side.
    val halfOffsets = Seq((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
    val neighborhood = array(
      halfOffsets.map { case (dx, dy) =>
        struct((col("cx") + dx).as("x"), (col("cy") + dy).as("y")) }: _*)
    // Threshold-sized cells (cellSize = PROX_T), matching the batch
    // operator: the 3x3 neighborhood stays complete while candidate pairs
    // shrink ~K^4 vs K-times-threshold cells — and in the streaming case
    // smaller cells also shrink the JOIN STATE each side keeps per key.
    val cell = lit(GeoOps.PROX_T)
    val left = pts()
      .select(col("event_id").as("e1"), col("ts").as("ts1"),
        col("lat").as("lat1"), col("lon").as("lon1"),
        floor(col("lat") / cell).cast("long").as("cx"),
        floor(col("lon") / cell).cast("long").as("cy"))
      .withColumn("nc", explode(neighborhood))
      .drop("cx", "cy")
      .withWatermark("ts1", "1 day")
    val right = pts()
      .select(col("event_id").as("e2"), col("ts").as("ts2"),
        col("lat").as("lat2"), col("lon").as("lon2"),
        floor(col("lat") / cell).cast("long").as("hx"),
        floor(col("lon") / cell).cast("long").as("hy"))
      .withWatermark("ts2", "1 day")
    val d2 = (col("lat1") - col("lat2")) * (col("lat1") - col("lat2")) +
      (col("lon1") - col("lon2")) * (col("lon1") - col("lon2"))
    val joined = left.join(right,
        col("nc.x") === col("hx") && col("nc.y") === col("hy") &&
          col("ts2") >= col("ts1") - expr("INTERVAL 1 DAY") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 1 DAY"))
      .select(col("e1"), col("e2"), d2.as("dist2"),
        (unix_micros(col("ts2")) - unix_micros(col("ts1"))).as("gap_us"))
    // ONLY cell equality + the time range live in the join condition: any
    // other conjunct there (the distance predicate, even e1 < e2) breaks
    // StreamingJoinHelper's state-constraint extraction (WARN + no state
    // watermark) and the join state would never evict. The exact distance,
    // the pair normalization (the half-neighborhood surfaces each pair in
    // ONE arbitrary orientation), and the same-cell dedup run on the
    // RESULT table instead — the join's output is a tiny neighbor-cell +
    // time-close alert stream, so the post-processing is trivial.
    runToMemory(joined, "append")
      .filter(col("dist2") < lit(GeoOps.PROX_T * GeoOps.PROX_T) &&
        col("e1") =!= col("e2"))
      .select(least(col("e1"), col("e2")).as("p1"),
        greatest(col("e1"), col("e2")).as("p2"), col("dist2"),
        when(col("e1") < col("e2"), col("gap_us"))
          .otherwise(-col("gap_us")).as("g"))
      .dropDuplicates("p1", "p2") // same-cell pairs match in both orders
      .select(col("p1").as("e1"), col("p2").as("e2"), col("dist2"),
        col("g").as("gap_us"))
      .orderBy(col("e1"), col("e2"))
  }

  /** Merge one micro-batch of per-user partial aggregates into the running
    * state: full-outer on the key, counts and exact decimal sums combine —
    * the MERGE shape every incremental pipeline maintains. */
  def mergeUserState(state: DataFrame, batchAgg: DataFrame): DataFrame =
    state.as("s").join(batchAgg.as("b"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("s.n"), lit(0L)) + coalesce(col("b.n"), lit(0L))).as("n"),
        (coalesce(col("s.sum_dec"), lit(0).cast(graft.ops.Exact.dec)) +
          coalesce(col("b.sum_dec"), lit(0).cast(graft.ops.Exact.dec)))
          .cast(graft.ops.Exact.dec).as("sum_dec"))

  /** Incremental state maintenance via foreachBatch: each micro-batch is
    * partially aggregated, then MERGEd into a versioned parquet state table
    * (write-new-version-then-advance — the poor man's ACID swap a real
    * table format does natively; state reads and writes never touch the
    * same files). Returns the final state. Exactness: sums are carried as
    * decimals in the state so arrival order and batch boundaries cannot
    * show through — the final state equals the batch aggregate over all
    * input, which is what the oracle checks. */
  def startIncrementalMerge(events: DataFrame, root: String,
      trigger: Trigger): (StreamingQuery, () => DataFrame) = {
    val (w, readState) = incrementalMergeWriter(events, root)
    (w.trigger(trigger).start(), readState)
  }

  def runIncrementalMerge(events: DataFrame, root: String): DataFrame = {
    val (w, readState) = incrementalMergeWriter(events, root)
    runInstrumented(w.trigger(Trigger.AvailableNow()))
    readState()
  }

  /** The merge's foreachBatch writer (trigger unset) and its state reader. */
  private def incrementalMergeWriter(events: DataFrame, root: String)
      : (DataStreamWriter[Row], () => DataFrame) = {
    val spark = events.sparkSession
    val emptyState = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_dec", graft.ops.Exact.dec))))
    // versions are DERIVED FROM THE BATCH ID (batch b writes v(b+1), read
    // from the latest version <= b): a replayed batch re-reads the same
    // pre-state and overwrites its own version — idempotent under
    // at-least-once foreachBatch — and a restarted driver resumes from the
    // on-disk versions rather than a reset in-memory counter
    def versions(): Seq[Long] = {
      val d = new java.io.File(root)
      if (!d.isDirectory) Seq.empty
      else d.listFiles().toSeq.map(_.getName)
        .filter(_.matches("v\\d+")).map(_.drop(1).toLong).sorted
    }
    def readVersion(v: Long): DataFrame =
      if (v == 0L) emptyState else spark.read.parquet(s"$root/v$v")
    def readState(): DataFrame = readVersion(versions().lastOption.getOrElse(0L))
    val w = events.writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val agg = batch.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(graft.ops.Exact.dec)).cast(graft.ops.Exact.dec)
              .as("sum_dec"))
        val prev = versions().filter(_ <= batchId).lastOption.getOrElse(0L)
        mergeUserState(readVersion(prev), agg)
          .write.mode("overwrite").parquet(s"$root/v${batchId + 1}")
        // retain only the version just written and its predecessor (the
        // swap source) — unbounded version history is O(batches × state)
        versions().filter(_ < prev).foreach { v =>
          graft.ops.Fs.deleteRecursively(new java.io.File(s"$root/v$v"))
        }
      }
    (w, readState)
  }

  private def incrementalMergeQ(s: SparkSession, dir: String): DataFrame = {
    val root = graft.ops.Fs.streamScratchDir(s, "graft_incmerge") +
      s"_${nameCounter.incrementAndGet()}"
    runIncrementalMerge(eventsStream(s, dir), root)
      .select(col("user_id"), col("n"), col("sum_dec").cast("double").as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Versioned streaming sink — the streaming half of the lakehouse OCC
    * story (`graft.ops.CommitLog`): each micro-batch publishes the
    * complete aggregate state as a NEW immutable version via the atomic
    * CAS pointer advance, so readers always see a whole snapshot (never a
    * half-written batch) and any historical version stays pinnable. This
    * is the foreachBatch + transactional-commit pattern every
    * streaming-into-a-table-format deployment runs; exactly-once comes
    * from the version arithmetic being derived from the LOG (not the
    * batch id), so a replayed batch republishes the same content rather
    * than double-applying. The driver-facing result reads the final
    * version through the log. `VersionedSinkSpec` drives the multi-batch
    * advance with a MemoryStream. */
  def runVersionedSink(agg: DataFrame, table: String): Unit = {
    val spark = agg.sparkSession
    runInstrumented(agg.writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val base = graft.ops.CommitLog.latest(table).map(_.version).getOrElse(0L)
        val data = s"$table/data_v${base + 1}"
        batch.write.mode("overwrite").parquet(data)
        graft.ops.CommitLog.commit(table, base, data)
        ()
      }
      .trigger(Trigger.AvailableNow()))
    ()
  }

  private def versionedSinkQ(s: SparkSession, dir: String): DataFrame = {
    val table = graft.ops.Fs.streamScratchDir(s, "graft_vsink")
    graft.ops.CommitLog.reset(table)
    val agg = eventsStream(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Exact.sumD(col("value")).as("sum_value"))
    withConf(s, "spark.sql.shuffle.partitions" -> "4")(runVersionedSink(agg, table))
    s.read.parquet(graft.ops.CommitLog.latest(table).get.dataDir)
      .orderBy(col("user_id"))
  }

  /** CDC SUBSCRIPTION — the read side of the write-time change feed
    * (`src_ivm_apply` is one-shot; this is the standing subscriber): every
    * commit records its insert/update/delete rows under the table's
    * `_changes/` tree, and a Structured Streaming reader over that tree
    * folds the deltas into current state — new commits would stream in as
    * they land, no snapshot rescan ever. The fold is pure signed
    * arithmetic (insert +new, delete −old, update new−old) in exact
    * decimals, so arrival order across change files cannot matter and the
    * folded state equals the oracle's direct final-state aggregate
    * bit-for-bit — including keys inserted, updated, then deleted, whose
    * contributions cancel exactly. */
  /** Stage the 4-commit write-time change feed under `path/_changes/v1..4`
    * (insert initial load, insert late-1997 append, update price bump,
    * delete GDPR), one committed dir per change set, and return the change
    * schema. Shared corpus of the CDC subscriber (`stream_change_feed`)
    * and the streaming MV maintainer (`stream_ivm`). */
  private def stageCdcFeed(s: SparkSession, dir: String,
      path: String): org.apache.spark.sql.types.StructType = {
    import graft.ops.CommitLog
    val dec = graft.ops.Exact.dec
    val orders = graft.Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("p"), col("o_orderdate").as("d"))
    val cut1 = lit("1997-07-01").cast("timestamp")
    val cut2 = lit("1998-01-01").cast("timestamp")
    val bumped = when(col("k") % 7 === 0, col("p") * 1.1).otherwise(col("p"))
    // ONE scan, ONE write: each order row expands to the (version,
    // change) entries it participates in — v1: initial load; v2:
    // late-1997 append; v3: price bump; v4: GDPR delete — and the single
    // job writes all four deltas partitioned by version (one
    // _changes/v=K dir each), then the log publishes the dirs in order.
    // Staging the feed was 4 separate scan+write jobs (~60% of this
    // query family's wall) over the same table.
    def change(v: Int, cond: Column, ct: String, pOld: Column, pNew: Column) =
      when(cond, struct(lit(v).as("v"), lit(ct).as("change_type"),
        pOld.cast(dec).as("p_old"), pNew.cast(dec).as("p_new")))
    val entries = array(
      change(1, col("d") < cut1, "insert", lit(null), col("p")),
      change(2, col("d") >= cut1 && col("d") < cut2, "insert",
        lit(null), col("p")),
      change(3, col("d") < cut2 && col("k") % 7 === 0, "update",
        col("p"), col("p") * 1.1),
      change(4, col("d") < cut2 && col("k") % 13 === 0, "delete",
        bumped, lit(null)))
    orders
      .select(col("k"), col("st"), explode(entries).as("c"))
      .filter(col("c").isNotNull)
      .select(col("c.v").as("v"), col("c.change_type").as("change_type"),
        col("k"), col("st"), col("c.p_old").as("p_old"),
        col("c.p_new").as("p_new"))
      .coalesce(1).write.mode("overwrite")
      .partitionBy("v").parquet(s"$path/_changes")
    (1 to 4).foreach { v =>
      CommitLog.commit(path, (v - 1).toLong, s"$path/_changes/v=$v")
    }
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("st",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p_old", dec),
      org.apache.spark.sql.types.StructField("p_new", dec)))
  }

  /** The staged 4-commit feed, ONE build per (session, corpus) pass —
    * stream_change_feed (the fold subscriber) and stream_ivm (the MV
    * maintainer) consume the SAME write-time change feed; each used to
    * stage its own copy (one orders scan + explode + partitioned write +
    * 4 commits apiece — r17 optimization round, guide §2.3: the feed is
    * read-only input to both subscribers, exactly the lpa_labels /
    * bm25_scored shared-substrate case). Staged under a stagedValue so
    * the bench attributes the build to the `cdc_feed` key and every pass
    * rebuilds it exactly once. */
  private def stagedCdcFeed(s: SparkSession, dir: String)
      : (String, org.apache.spark.sql.types.StructType) =
    graft.ops.Staging.stagedValue(s, dir, "cdc_feed") {
      val path = graft.ops.Fs.streamScratchDir(s, "graft_cdcfeed")
      graft.ops.CommitLog.reset(path)
      (path, stageCdcFeed(s, dir, path))
    }

  private def changeFeedStreamQ(s: SparkSession, dir: String): DataFrame = {
    val (path, changeSchema) = stagedCdcFeed(s, dir)
    val folded = s.readStream
      .schema(changeSchema)
      .option("recursiveFileLookup", "true")
      .parquet(s"$path/_changes")
      .groupBy(col("st"))
      .agg(sum(when(col("change_type") === "insert", 1L)
          .when(col("change_type") === "delete", -1L).otherwise(0L)).as("n"),
        sum(when(col("change_type") === "insert", col("p_new"))
          .when(col("change_type") === "delete", -col("p_old"))
          .otherwise(col("p_new") - col("p_old"))).as("sp"))
    runToMemory(folded, "complete")
      .filter(col("n") > 0)
      .select(col("st").as("o_orderstatus"), col("n"),
        col("sp").cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** STREAMING MV MAINTENANCE — `stream_change_feed` composed with
    * `src_ivm_apply`: a standing subscriber over the write-time change
    * feed keeps a materialized aggregate current by folding each delta
    * batch into a VERSIONED MV through the commit log. Each micro-batch
    * (one change file, `maxFilesPerTrigger=1`) aggregates ITS OWN delta,
    * full-outer joins it with the previous committed MV, and publishes
    * the refreshed MV as the next log version — exactly-once via the
    * txnSinkQ pattern (deterministic dirs asked of the log for replay;
    * lost CAS swallowed only for our own earlier publish). The refresh
    * plan is pinned per batch: it may scan at most ONE `_changes` file
    * (its own batch) and, after batch 0, must read the previous `mv_b`
    * dir — never the whole feed, never any base-table snapshot. Refresh
    * cost is ∝ delta + MV size, independent of table history: the IVM
    * contract at unbounded stream length. Signed-decimal arithmetic makes
    * the fold order-independent, so the final MV equals the oracle's
    * direct final-state aggregate bit-for-bit. */
  private def ivmStreamQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    val dec = graft.ops.Exact.dec
    val (feedPath, changeSchema) = stagedCdcFeed(s, dir)
    val mv = graft.ops.Fs.streamScratchDir(s, "graft_sivm_mv")
    CommitLog.reset(mv)
    val emptyMv = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("st",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sp", dec))))
    withConf(s, "spark.sql.shuffle.partitions" -> "4") {
      runInstrumented(s.readStream.schema(changeSchema)
        .option("recursiveFileLookup", "true").option("maxFilesPerTrigger", 1)
        .parquet(s"$feedPath/_changes")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val mvDir = s"$mv/mv_b$id"
          val replayed = CommitLog.entries(mv)
            .exists(c => CommitLog.payloadDirs(c.dataDir).contains(mvDir))
          if (!batch.isEmpty && !replayed) {
            val delta = batch.groupBy(col("st"))
              .agg(sum(when(col("change_type") === "insert", 1L)
                  .when(col("change_type") === "delete", -1L).otherwise(0L)).as("dn"),
                sum(when(col("change_type") === "insert", col("p_new"))
                  .when(col("change_type") === "delete", -col("p_old"))
                  .otherwise(col("p_new") - col("p_old"))).as("dsp"))
            val base = CommitLog.latest(mv).map(_.version).getOrElse(0L)
            val prev = if (base == 0L) emptyMv
              else s.read.parquet(CommitLog.latest(mv).get.dataDir)
            val refreshed = prev.join(delta, Seq("st"), "full_outer")
              .select(col("st"),
                (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
                (coalesce(col("sp"), lit(0).cast(dec)) +
                  coalesce(col("dsp"), lit(0).cast(dec))).cast(dec).as("sp"))
            // the IVM contract, pinned per batch: the refresh scans its
            // own delta (≤ 1 change file) + the previous MV — never the
            // accumulated feed, never a base-table snapshot
            val scans = refreshed.queryExecution.executedPlan.toString
            val changeRefs = "_changes/v=(\\d+)".r
              .findAllMatchIn(scans).map(_.group(1)).toSet
            require(changeRefs.size <= 1,
              s"MV refresh must not rescan the feed; it scans $changeRefs")
            require(base == 0L || scans.contains(s"mv_b"),
              "MV refresh after batch 0 must read the previous MV")
            refreshed.write.mode("overwrite").parquet(mvDir)
            try CommitLog.commit(mv, base, mvDir)
            catch {
              case e: CommitLog.CommitConflictException =>
                if (CommitLog.latest(mv).get.dataDir != mvDir) throw e
            }
          }
          ()
        }
        .trigger(Trigger.AvailableNow()))
    }
    val versions = CommitLog.entries(mv)
    require(versions.size == 4,
      s"4 change commits must yield 4 MV versions, got ${versions.size}")
    s.read.parquet(versions.last.dataDir)
      .filter(col("n") > 0)
      .select(col("st").as("o_orderstatus"), col("n"),
        col("sp").cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Streaming MULTI-TABLE transaction sink — the end-state of the
    * lakehouse streaming story: each micro-batch publishes its fact
    * chunk AND the incrementally-maintained cumulative aggregate through
    * ONE `CommitLog.commitTables` manifest, so a reader at any version
    * sees facts and summary from the same batch, never a half-applied
    * pair. Exactly-once comes from asking the log itself: a batch's dirs
    * are deterministic (facts_b&lt;id&gt;), so a replayed batch finds its
    * manifest already committed and skips; new batches rebase on
    * `CommitLog.latest` (robust to empty batches drifting versions away
    * from batch ids), and a lost commit CAS is swallowed only after
    * verifying the winner IS this batch's own earlier publish. The MV
    * refresh reads only the previous
    * summary + the batch delta (cost ∝ batch, the streaming
    * `src_ivm_apply`). The result recounts the union of all committed
    * fact chunks against the final summary — `consistent` pins the
    * cross-table contract through the hash gate. */
  private def txnSinkQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    val txn = graft.ops.Fs.streamScratchDir(s, "graft_txnsink")
    CommitLog.reset(txn)
    val stage = s"$txn/stage"
    // TWO staged files → two micro-batches: the minimum that still
    // exercises the multi-batch transaction contract (rebase-on-latest,
    // replay detection, MV delta merge across batches); r12 staged four
    // and paid two more write+merge+commit rounds for no extra semantics
    // (the r13 stream-floor item)
    // hash split, not keyless repartition(2): round-robin pays a
    // single-threaded whole-table sort on this single-split input
    // (sortBeforeRepartition, guide §2.5) purely for retry determinism —
    // a deterministic hash key needs no sort; 64 distinct key values
    // spread two partitions safely. Batch CONTENTS change, the published
    // totals and the txn contract are batch-split-invariant.
    graft.Tables(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .repartition(2, pmod(col("event_id"), lit(64L)))
      .write.mode("overwrite").parquet(stage)
    val schema = s.read.parquet(stage).schema
    val emptyMv = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sp", graft.ops.Exact.dec))))
    withConf(s, "spark.sql.shuffle.partitions" -> "4") {
      runInstrumented(s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          // Exactly-once WITHOUT assuming batch id ≡ version id (an empty
          // batch commits nothing, so versions and batch ids may drift):
          // replay detection asks the log itself — this batch's dirs are
          // deterministic (facts_b<id>), so if any committed manifest
          // already references them, the batch landed before a crash and
          // is skipped whole. New batches build on CommitLog.latest.
          val f = s"$txn/facts_b$id"
          val m = s"$txn/mv_b$id"
          val replayed = CommitLog.entries(txn)
            .exists(c => CommitLog.payloadDirs(c.dataDir).contains(f))
          if (!batch.isEmpty && !replayed) {
            batch.write.mode("overwrite").parquet(f)
            val delta = batch.groupBy(col("event_type"))
              .agg(count(lit(1)).as("dn"),
                sum(col("value").cast(graft.ops.Exact.dec)).as("dsp"))
            val base = CommitLog.latest(txn).map(_.version).getOrElse(0L)
            val prev = if (base == 0L) emptyMv
              else CommitLog.readTable(s, txn, base, "summary")
            prev.join(delta, Seq("event_type"), "full_outer")
              .select(col("event_type"),
                (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
                (coalesce(col("sp"), lit(0).cast(graft.ops.Exact.dec)) +
                  coalesce(col("dsp"), lit(0).cast(graft.ops.Exact.dec)))
                  .cast(graft.ops.Exact.dec).as("sp"))
              .write.mode("overwrite").parquet(m)
            try CommitLog.commitTables(txn, base, Seq("facts" -> f, "summary" -> m))
            catch {
              case e: CommitLog.CommitConflictException =>
                // a lost CAS is benign ONLY if the winner is this batch's
                // own earlier publish; a foreign writer's commit must not
                // be silently treated as ours
                if (CommitLog.tableDirs(txn, base + 1) !=
                  Map("facts" -> f, "summary" -> m)) throw e
            }
          }
          ()
        }
        .trigger(Trigger.AvailableNow()))
    }
    val versions = CommitLog.entries(txn)
    require(versions.size >= 2,
      s"the txn sink must publish per-batch transactions, got ${versions.size}")
    val latest = versions.last.version
    val factDirs = versions.map(c => CommitLog.tableDirs(txn, c.version)("facts"))
    val recount = s.read.parquet(factDirs: _*)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("rn"),
        sum(col("value").cast(graft.ops.Exact.dec)).as("rsp"))
    CommitLog.readTable(s, txn, latest, "summary")
      .join(recount, Seq("event_type"))
      .select(col("event_type"), col("n"), col("sp").cast("double").as("sum_value"),
        (col("n") === col("rn") &&
          col("sp").cast("double") === col("rsp").cast("double")).as("consistent"))
      .orderBy(col("event_type"))
  }

  /** SUBSCRIBE TO A VERSIONED TABLE — `graft.sources.LogSource` drives
    * the commit log as a streaming source: offsets ARE commit versions,
    * so each micro-batch is exactly one published commit's payload
    * (`maxVersionsPerTrigger=1`), the read-side symmetric of the
    * versioned sinks. The fixture publishes four append-only JSONL
    * chunks of `orders` through OCC commits; the subscriber drains them
    * under AvailableNow, applies schema downstream (`from_json` — the
    * source is transport, like the snapshot source), and maintains a
    * complete-mode aggregate whose final state must equal the batch
    * aggregate over the whole table. In-query requires pin the streaming
    * contract: exactly four non-empty micro-batches (one per commit —
    * bounded backlog admission, not one bulk batch), and `last_version`
    * = 4 proves every version flowed through the offset range. */
  private def logSourceQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    import graft.sources.LogSource
    val table = graft.ops.Fs.streamScratchDir(s, "graft_logsrc")
    CommitLog.reset(table)
    // balanced: per-row JSON serialization is the publish cost and the
    // corpus ships as one split; a chunk may hold MANY files (the source
    // reads one partition per chunk FILE), so the writer keeps its
    // natural parallelism — publishing scales with the cluster, and the
    // subscriber's per-commit batching is unchanged
    val orders = graft.Tables.balanced(s, dir, "orders", "o_orderkey")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // ONE pass publishes all four chunks: serialize each row once and
    // write partitioned by its chunk id (4 separate filter+toJSON+write
    // jobs re-scanned and re-serialized the table per chunk — same
    // bytes, 4x the jobs); every writer task emits into each chunk dir,
    // so a chunk still holds MANY files and the writer keeps its natural
    // parallelism (the source reads one partition per chunk FILE).
    // Publish width capped at 8 writer tasks for the BENCH corpus: the
    // source reads one partition per chunk file, so a 32-wide write made
    // every subscriber micro-batch a 32-task scan of ~5 KB files — pure
    // scheduler overhead (r14 phase breakdown). Serialization still
    // parallelizes 8-way here; a production publisher keeps its natural
    // width because its chunks are GBs, not KBs.
    orders
      .select((pmod(col("o_orderkey"), lit(4)) + 1).as("v"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))).as("line"))
      .coalesce(8)
      .write.mode("overwrite").partitionBy("v").text(s"$table/chunks")
    for (i <- 0 until 4)
      CommitLog.commit(table, i.toLong, s"$table/chunks/v=${i + 1}")
    val payload = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("o_orderstatus",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("o_totalprice",
        org.apache.spark.sql.types.DoubleType)))
    val agg = s.readStream.format(LogSource.NAME)
      .option("maxVersionsPerTrigger", 1).load(table)
      .select(col("version"), from_json(col("line"), payload).as("r"))
      .groupBy(col("r.o_orderstatus").as("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Exact.sumD(col("r.o_totalprice")).as("sum_price"),
        max(col("version")).as("last_version"))
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    val q = withConf(s, "spark.sql.shuffle.partitions" -> "4") {
      runInstrumented(agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()))
    }
    val fedBatches = q.recentProgress.count(_.numInputRows > 0)
    require(fedBatches == 4,
      s"4 commits at maxVersionsPerTrigger=1 must arrive as 4 micro-batches, got $fedBatches")
    // last_version must pin "all 4 commits flowed" independently of which
    // status values appear in the final chunk: the per-group max(version)
    // only equals 4 for groups present in chunk 4, so publish the GLOBAL
    // max (a broadcast 1-row cross join) on every row instead.
    // an all-rows window (empty partition spec) over the DRAINED result:
    // the input is already the grouped per-status aggregate (a handful of
    // rows at any scale), so the single-partition window is free — and it
    // introduces no join for the nested-loop plan audit to flag
    val out = s.table(name)
      .withColumn("last_version", max(col("last_version"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .orderBy(col("o_orderstatus"))
    s.catalog.dropTempView(name) // same sink-table hygiene as runToMemory
    out
  }

  /** CONSTRAINT-GATED STREAMING SINK — src_checked_write's table contract
    * under continuous ingest: each micro-batch splits on the committed
    * constraints; CLEAN rows publish as the next log version (the
    * txn-sink exactly-once pattern — deterministic per-batch dirs,
    * replay detection against the log), VIOLATING rows land in a
    * quarantine dir with their batch id — the permissive/quarantine
    * philosophy of the reference's config validation applied to data:
    * the stream never stalls on bad rows, the published table never
    * contains one, and quarantined rows stay replayable. In-query
    * requires pin the split: committed ∪ quarantined = staged input,
    * zero violations in any committed chunk. The oracle is the
    * constraint-satisfying aggregate; `n_quarantined` rides every row
    * through the hash gate. */
  private def checkedSinkQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.CommitLog
    val root = graft.ops.Fs.streamScratchDir(s, "graft_checked_sink")
    CommitLog.reset(root)
    val stage = s"$root/stage"
    // deterministically corrupted feed: every 13th event has a negated
    // value (violates value >= 0)
    // two staged files → two micro-batches (see txnSinkQ: the minimum
    // that still exercises the per-batch publish/quarantine contract)
    // hash split (see txnSinkQ): no single-threaded sort-before-repartition
    graft.Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        when(col("event_id") % 13 === 0, -col("value"))
          .otherwise(col("value")).as("value"))
      .repartition(2, pmod(col("event_id"), lit(64L)))
      .write.mode("overwrite").parquet(stage)
    val schema = s.read.parquet(stage).schema
    val rule = col("value") >= 0
    withConf(s, "spark.sql.shuffle.partitions" -> "4") {
      runInstrumented(s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          // ONE write per batch: the constraint split rides a partition
          // column (ok=true → the publishable chunk dir, ok=false → that
          // batch's quarantine dir) instead of two filtered write jobs
          // re-reading the batch
          val bdir = s"$root/b$id"
          val chunk = s"$bdir/ok=true"
          val replayed = CommitLog.entries(root)
            .exists(c => CommitLog.payloadDirs(c.dataDir).contains(chunk))
          if (!batch.isEmpty && !replayed) {
            batch.withColumn("ok", rule)
              .write.mode("overwrite").partitionBy("ok").parquet(bdir)
            // an all-violating batch writes no ok=true partition; the
            // committed chunk must still exist (empty) for readers
            if (!java.nio.file.Files.exists(java.nio.file.Paths.get(chunk)))
              batch.filter(rule).drop("ok")
                .write.mode("overwrite").parquet(chunk)
            val base = CommitLog.latest(root).map(_.version).getOrElse(0L)
            try CommitLog.commit(root, base, chunk)
            catch {
              case e: CommitLog.CommitConflictException =>
                if (CommitLog.entries(root).last.dataDir != chunk) throw e
            }
          }
          ()
        }
        .trigger(Trigger.AvailableNow()))
    }
    val chunks = CommitLog.entries(root)
      .flatMap(c => CommitLog.payloadDirs(c.dataDir))
    val published = s.read.parquet(chunks: _*)
    // a batch with no violations writes no ok=false dir — read only the
    // quarantine dirs that exist
    val qDirs = chunks.map(c => c.stripSuffix("ok=true") + "ok=false")
      .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
    val quarantined =
      if (qDirs.isEmpty) published.limit(0) else s.read.parquet(qDirs: _*)
    // contract checks in ONE scan of the published table (violation count
    // + row count together) plus metadata-only counts. r17 (guide §6):
    // the staged-input and quarantine row counts come from parquet FOOTERS
    // (exact, written by the writes themselves) instead of two more row
    // scans, and the single quarantine count serves both the partition
    // require and the published n_quarantined column — the factory paid
    // five scans of this fixture for a two-scan contract.
    val pubStats = published.agg(count(lit(1)).as("n"),
      sum(when(!rule, 1L).otherwise(0L)).as("viol")).collect()(0)
    require(pubStats.getLong(1) == 0, "no violating row may be published")
    def footerRows(d: DataFrame): Long =
      graft.sources.FooterStats.rowCount(s, d.inputFiles.toSeq)
    val staged = footerRows(s.read.parquet(stage))
    val nQuar = if (qDirs.isEmpty) 0L else footerRows(quarantined)
    require(pubStats.getLong(0) + nQuar == staged,
      "committed + quarantined must partition the input")
    published.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), graft.ops.Exact.sumD(col("value")).as("sum_value"))
      .withColumn("n_quarantined", lit(nQuar))
      .orderBy(col("event_type"))
  }

  /** The LEARNED quality gate serving under Structured Streaming — the
    * deployment shape of text_quality_train/apply: documents arrive as a
    * stream; each micro-batch (a bounded frame) is gated by the SAME
    * serve kernel the batch apply runs (`TrainOps.scoreWithModel` —
    * hashed shares, broadcast model join, per-doc decimal sum), so the
    * stream's scores are bit-identical to the batch path by construction
    * (a first cut scored in-row with interpreted higher-order functions:
    * correct, but HOFs skip whole-stage codegen and the per-doc cost was
    * O(tokens × distinct buckets) — 7× the batch kernel at sf1).
    * Per-batch per-source keep counts — bounded metadata — accumulate on
    * the driver keyed by batch id (replay-safe: a re-delivered batch
    * overwrites its own entry, never double-counts). Micro-batches hold
    * disjoint documents, so per-source totals are additive across
    * batches. The oracle is text_quality_apply's full train→apply
    * replay, pinning stream ≡ batch through the hash gate. */
  def qualityGateStreamQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TrainOps
    val m = TrainOps.trainedQuality(s, dir)
    val c = TrainOps.absentPairConstant(s, m)
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val docs = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val perBatch = scala.collection.concurrent.TrieMap
      .empty[Long, Array[(String, Long, Long)]]
    withConf(s, "spark.sql.shuffle.partitions" -> "4") {
      runInstrumented(docs.writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          val scored = TrainOps.scoreWithModel(batch.toDF(), "doc_id", "text", m, c)
          perBatch(id) = scored
            .join(batch.select(col("doc_id").as("sd_id"), col("source")),
              col("doc_id") === col("sd_id"))
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(when(col("s") >= 0.5, 1L).otherwise(0L)).as("n_keep"))
            .collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          ()
        }
        .trigger(Trigger.AvailableNow()))
    }
    val totals = perBatch.values.flatten
      .groupBy(_._1).toSeq
      .map { case (src, rows) =>
        (src, rows.map(_._2).sum, rows.map(_._3).sum) }
    import s.implicits._
    totals.toDF("source", "n_docs", "n_keep")
      .select(col("source"), col("n_docs"), col("n_keep"),
        (col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("keep_rate"))
      .orderBy(col("source"))
  }

  /** The custom Count-Min aggregate under Structured Streaming: the
    * sketch's constant-size buffer is exactly what a streaming stateful
    * aggregate wants (64 KiB of state TOTAL for unbounded key
    * cardinality — vs per-key state for an exact streaming count). The
    * final sketch must equal the batch sketch over the same rows, so the
    * estimates for the exact top keys match the batch query's and the
    * same oracle applies. */
  private def heavyHittersStreamQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SketchFunctions
    SketchFunctions.register(s)
    val streamed = eventsStream(s, dir)
      .agg(SketchFunctions.cmsSketch(col("user_id")).as("sk"),
        count(lit(1)).as("total"))
    val sk = runToMemory(streamed, "complete")
    val exactTop = graft.Tables(s, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("user_id").asc)
      .limit(15)
    val est = SketchFunctions.cmsEstimate(col("sk"), col("user_id"))
    exactTop.crossJoin(broadcast(sk))
      .select(col("user_id"), col("n_exact"),
        (est >= col("n_exact")).as("est_ge_exact"),
        ((est - col("n_exact")).cast("double") <=
          lit(math.E) * col("total").cast("double") /
            lit(SketchFunctions.CMS_W.toDouble)).as("within_bound"))
      .orderBy(col("n_exact").desc, col("user_id").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_heavy_hitters" -> heavyHittersStreamQ,
    "stream_quality_gate" -> qualityGateStreamQ,
    "stream_versioned_sink" -> versionedSinkQ,
    "stream_txn_sink" -> txnSinkQ,
    "stream_change_feed" -> changeFeedStreamQ,
    "stream_ivm" -> ivmStreamQ,
    "stream_log_source" -> logSourceQ,
    "stream_incremental_merge" -> incrementalMergeQ,
    "stream_hourly_window" -> hourlyWindowQ,
    "stream_dedup_lastwins" -> dedupLastWinsQ,
    "stream_session_window" -> sessionWindowQ,
    "stream_running_counts" -> runningCountsQ,
    "stream_lsh_neardup" -> nearDupStreamQ,
    "stream_static_join" -> streamStaticJoinQ,
    "stream_temporal_join" -> temporalJoinQ,
    "stream_ts_match" -> tsMatchStreamQ,
    "stream_funnel" -> funnelStreamQ,
    "stream_sliding_window" -> slidingWindowQ,
    "stream_checked_sink" -> checkedSinkQ,
    "stream_stream_join" -> streamStreamJoinQ,
    "stream_outer_join" -> streamOuterJoinQ,
    "stream_watermark_dedup" -> ((s, dir) => watermarkDedupQ(s, dir)),
    "stream_bloom_dedup" -> ((s, dir) => bloomDedupQ(s, dir)),
    "stream_geo_proximity" -> geoProximityStreamQ,
  )

  val oracles: Map[String, String] = Map(
    // append-mode + watermark: the oracle replays the EVICTION RULE, not
    // just the aggregate — watermark = floor(max(ts) to ms) − 1 h, and a
    // window row exists iff its end <= watermark (the unclosed tail is
    // withheld). epoch_ms truncates like Spark's event-time stats.
    "stream_hourly_window" ->
      s"""WITH wm AS (
         |  SELECT epoch_ms(max(ts)) - 3600000 AS wm_ms FROM events
         |)
         |SELECT date_trunc('hour', ts) AS w_start, event_type,
         |  COUNT(*) AS n, ${graft.ops.Exact.sumSql("value")} AS sum_value
         |FROM events, wm
         |GROUP BY 1, 2, wm_ms
         |HAVING epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR) <= wm_ms
         |ORDER BY w_start, event_type""".stripMargin,
    // last-wins within the 1h dedup horizon, and ONLY horizons already
    // closed by the final watermark (end = w_start + 1 h must be
    // <= floor(max(ts) to ms) − 1 h) — the append-mode eviction rule is
    // part of the pinned contract, not just the per-window winners
    "stream_dedup_lastwins" ->
      """WITH wm AS (
        |  SELECT epoch_ms(max(ts)) - 3600000 AS wm_ms FROM events
        |)
        |SELECT date_trunc('hour', ts) AS w_start, user_id,
        |  arg_max(ts, event_id) AS ts,
        |  arg_max(event_type, event_id) AS event_type,
        |  arg_max(value, event_id) AS value,
        |  arg_max(props, event_id) AS props
        |FROM events, wm
        |GROUP BY 1, 2, wm_ms
        |HAVING epoch_ms(date_trunc('hour', ts) + INTERVAL 1 HOUR) <= wm_ms
        |ORDER BY w_start, user_id""".stripMargin,
    // the published table is exactly the constraint-satisfying subset;
    // the quarantine count is the complement
    "stream_checked_sink" ->
      s"""WITH feed AS (
         |  SELECT event_type,
         |    CASE WHEN event_id % 13 = 0 THEN -"value" ELSE "value" END AS v
         |  FROM events
         |), nq AS (SELECT COUNT(*) AS n_quarantined FROM feed WHERE v < 0)
         |SELECT event_type, COUNT(*) AS n,
         |  ${graft.ops.Exact.sumSql("v")} AS sum_value, nq.n_quarantined
         |FROM feed CROSS JOIN nq WHERE v >= 0
         |GROUP BY event_type, nq.n_quarantined ORDER BY event_type""".stripMargin,
    // the stream must emit exactly the batch sequence-matcher's rows
    "stream_funnel" -> graft.ops.StatOps.oracles("rel_sequence_match"),
    // every event contributes to exactly its two enclosing 2h/1h windows;
    // append mode withholds windows not yet closed by the watermark
    // (end = w_start + 2 h must be <= floor(max(ts) to ms) − 1 h)
    "stream_sliding_window" ->
      s"""WITH x AS (
         |  SELECT date_trunc('hour', ts) AS h, event_type, "value" AS v
         |  FROM events
         |), w AS (
         |  SELECT h AS w_start, event_type, v FROM x
         |  UNION ALL
         |  SELECT h - INTERVAL 1 HOUR, event_type, v FROM x
         |), wm AS (
         |  SELECT epoch_ms(max(ts)) - 3600000 AS wm_ms FROM events
         |)
         |SELECT w_start, event_type, COUNT(*) AS n,
         |  ${graft.ops.Exact.sumSql("v")} AS sum_value
         |FROM w, wm GROUP BY 1, 2, wm_ms
         |HAVING epoch_ms(w_start + INTERVAL 2 HOUR) <= wm_ms
         |ORDER BY w_start, event_type""".stripMargin,
    // every trailing window under the threshold — the stream must emit
    // exactly the batch operator's matches
    "stream_ts_match" ->
      s"""WITH ${graft.ops.TimeSeriesOps.scoredSql}
         |SELECT user_id, end_event_id, dist FROM scored
         |WHERE dist < 1.0 ORDER BY user_id, end_event_id""".stripMargin,
    // the batch formulation of the as-of-event-time enrichment: SCD2
    // versions from lead() windows, inner range join on validity
    "stream_temporal_join" ->
      """WITH dim AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderdate AS valid_from,
        |    lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS valid_to
        |  FROM orders
        |), ev AS (
        |  SELECT event_id, user_id,
        |    TIMESTAMP '1992-01-01' + INTERVAL (CAST(event_id % 2400 AS INT)) DAY AS eff_ts
        |  FROM events
        |)
        |SELECT e.event_id, e.user_id, e.eff_ts,
        |  d.o_orderkey AS version_key, d.o_totalprice AS version_price
        |FROM ev e JOIN dim d ON e.user_id = d.o_custkey
        |  AND e.eff_ts >= d.valid_from
        |  AND (d.valid_to IS NULL OR e.eff_ts < d.valid_to)
        |ORDER BY event_id""".stripMargin,
    // a subscriber that drained every commit holds the batch aggregate of
    // the whole table; last_version pins that all 4 versions flowed
    "stream_log_source" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${graft.ops.Exact.sumSql("o_totalprice")} AS sum_price,
         |  CAST(4 AS BIGINT) AS last_version
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // final merged state == the batch aggregate over all input
    "stream_incremental_merge" ->
      s"""SELECT user_id, COUNT(*) AS n, ${graft.ops.Exact.sumSql("value")} AS sum_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // batch equivalent of the streaming LSH state: bucket-co-member pairs
    // with >= AGREE_MIN equal signature chunks
    "stream_lsh_neardup" -> {
      val agree = (0 until graft.ops.DedupOps.N_MINHASH)
        .map(i => s"(CASE WHEN s1.mh$i = s2.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH ${graft.ops.DedupOps.pairsCtes}
         |SELECT d1, d2, CAST($agree AS BIGINT) AS n_agree
         |FROM pairs
         |JOIN sig s1 ON d1 = s1.doc_id
         |JOIN sig s2 ON d2 = s2.doc_id
         |WHERE $agree >= 4
         |ORDER BY d1, d2""".stripMargin
    },
    // every key's timed-out final state == the batch per-user aggregate
    "stream_running_counts" ->
      """SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // streaming sketch == batch sketch over the same rows; exact top keys
    // are the hashed content, sketch-guarantee booleans must be TRUE
    // the batch train->apply replay IS the streaming gate's oracle:
    // map-side decimal scoring makes stream == batch bit-for-bit
    "stream_quality_gate" -> graft.ops.TrainOps.oracles("text_quality_apply"),
    "stream_heavy_hitters" ->
      """WITH c AS (
        |  SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY 1
        |)
        |SELECT user_id, n_exact, TRUE AS est_ge_exact, TRUE AS within_bound
        |FROM c ORDER BY n_exact DESC, user_id LIMIT 15""".stripMargin,
    // folding the full change feed == the final table state rebuilt by
    // its defining predicates (insert<cut2, minus %13 deletes, %7 bumped)
    "stream_change_feed" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${graft.ops.Exact.sumSql(
             "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END")} AS sum_price
         |FROM orders
         |WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_orderkey % 13 <> 0
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the incrementally-maintained MV must equal the direct final-state
    // aggregate — same oracle as the CDC fold, reached through versioned
    // per-batch MV refreshes instead of one stateful aggregate
    "stream_ivm" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${graft.ops.Exact.sumSql(
             "CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END")} AS sum_price
         |FROM orders
         |WHERE o_orderdate < TIMESTAMP '1998-01-01' AND o_orderkey % 13 <> 0
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // cumulative MV after all batch-atomic transactions == batch
    // aggregate; consistent ≡ TRUE (facts recount equals the summary)
    "stream_txn_sink" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |  ${graft.ops.Exact.sumSql("value")} AS sum_value,
         |  TRUE AS consistent
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the published snapshot version == the batch aggregate over all input
    "stream_versioned_sink" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |  ${graft.ops.Exact.sumSql("value")} AS sum_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // surviving key set of first-seen dedup == DISTINCT keys
    "stream_watermark_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // bounded-state bloom dedup: no false positive on this corpus, so the
    // surviving key set is the exact DISTINCT (the approximate contract
    // is documented at the operator)
    "stream_bloom_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "stream_static_join" ->
      s"""SELECT c_mktsegment, event_type, COUNT(*) AS n,
         |  ${graft.ops.Exact.sumSql("value")} AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin,
    "stream_stream_join" ->
      """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
        |  CAST(epoch_us(v.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ts >= c.ts - INTERVAL 10 MINUTE
        | AND v.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,
    // the oracle is the batch LEFT join — unmatched clicks must appear
    // exactly once with null view columns (watermark-driven null emission)
    "stream_outer_join" ->
      """SELECT c.event_id AS click_id, c.user_id, v.event_id AS view_id,
        |  CAST(epoch_us(v.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ts >= c.ts - INTERVAL 10 MINUTE
        | AND v.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,
    // the all-pairs spatial join the streaming plan must never run —
    // matching proves the neighbor-cell candidates + time bound lose no
    // qualifying pair (threshold interpolated from the SAME double
    // product the Spark side uses)
    "stream_geo_proximity" ->
      s"""WITH ${graft.ops.GeoOps.pointsSql},
         |p AS (SELECT event_id, ts, lat, lon FROM pts WHERE event_type = 'purchase')
         |SELECT a.event_id AS e1, b.event_id AS e2,
         |  (a.lat - b.lat) * (a.lat - b.lat) +
         |  (a.lon - b.lon) * (a.lon - b.lon) AS dist2,
         |  CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS gap_us
         |FROM p a JOIN p b ON a.event_id < b.event_id
         | AND b.ts >= a.ts - INTERVAL 1 DAY AND b.ts <= a.ts + INTERVAL 1 DAY
         |WHERE (a.lat - b.lat) * (a.lat - b.lat) +
         |      (a.lon - b.lon) * (a.lon - b.lon)
         |      < ${graft.ops.GeoOps.PROX_T * graft.ops.GeoOps.PROX_T}
         |ORDER BY e1, e2""".stripMargin,
    // gaps-and-islands with a >= gap test: two events exactly `gap` apart
    // do NOT merge in Spark's session_window ([ts, ts+gap) ranges must
    // overlap), unlike rel_sessionize's > test
    "stream_session_window" ->
      s"""WITH flagged AS (
         |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
         |  FROM (SELECT user_id, ts, value,
         |          lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
         |        FROM events)
         |), sess AS (
         |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, new_s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM flagged
         |)
         |SELECT MIN(ts) AS s_start, MAX(ts) + INTERVAL 30 MINUTE AS s_end,
         |  user_id, COUNT(*) AS n_events, ${graft.ops.Exact.sumSql("value")} AS sum_value
         |FROM sess GROUP BY user_id, session_idx
         |ORDER BY user_id, s_start""".stripMargin,
  )
}
