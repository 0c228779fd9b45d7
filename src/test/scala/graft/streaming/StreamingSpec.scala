package graft.streaming

import graft.SparkSpec
import graft.adsbx.{AdsbxConfig, Fixtures, Pipeline}
import graft.adsbx.sources.AdsbxSource
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp
import scala.collection.mutable

/** Streaming semantics (SURVEY §5.2 item 5): per-micro-batch equivalence
  * with the batch pipeline, watermark-based late-data handling, and
  * cross-batch dedup with state eviction. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // Two snapshot envelopes; snapshot 2 re-reports N1 with a new speed
  // (dedup scope must be per-snapshot, not global — reference is stateless
  // between invocations, SURVEY §1.1).
  private val env1 =
    """{"msg":"ok","ac":[
      |{"hex":"a1","type":"adsb_icao","flight":"ONE ","r":"N1","lat":40.0,"lon":-119.0,"gs":100.0,"seen_pos":0.1,"seen":0.2},
      |{"hex":"a2","type":"adsb_icao","flight":"TWO","r":"N2","lat":41.0,"lon":-118.0,"gs":200.0,"seen_pos":0.1,"seen":0.2},
      |{"hex":"a3","type":"adsb_icao","flight":"ONEB","r":"N1","lat":40.5,"lon":-119.5,"gs":150.0,"seen_pos":0.1,"seen":0.2}
      |]}""".stripMargin.replaceAll("\n", "")
  private val env2 =
    """{"msg":"ok","ac":[
      |{"hex":"a1","type":"adsb_icao","flight":"ONE","r":"N1","lat":40.1,"lon":-119.1,"gs":110.0,"seen_pos":0.1,"seen":0.2}
      |]}""".stripMargin.replaceAll("\n", "")

  test("E1: per-micro-batch pipeline equals batch pipeline per snapshot") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val batches = mutable.Map[Long, Array[(String, Double)]]()
    val q = AdsbxStream.run(input.toDF(), Fixtures.includesDf(spark),
      AdsbxConfig(includesFiltering = false),
      (df, id) => batches.synchronized {
        batches(id) = df.select(col("id"), col("speed")).collect()
          .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1)
      },
      trigger = Trigger.ProcessingTime(0))
    try {
      input.addData(env1); q.processAllAvailable()
      input.addData(env2); q.processAllAvailable()
    } finally q.stop()

    val all = batches.values.flatten.toSeq
    // batch 1: n1 deduped last-wins (seq 2, gs=150), n2 passes
    val b1 = batches.minBy(_._1)._2
    assert(b1.toSeq == Seq(("n1", 150.0 * 0.514444), ("n2", 200.0 * 0.514444)))
    // batch 2: fresh dedup scope — n1 re-emitted with the new speed
    val b2 = batches.maxBy(_._1)._2
    assert(b2.toSeq == Seq(("n1", 110.0 * 0.514444)))
    assert(all.size == 3)
  }

  test("V1: FAILFAST streaming parse rejects malformed envelopes") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[String]
    val q = AdsbxSource.stream(input.toDF())
      .writeStream.format("memory").queryName("ff_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData("""{"msg":"ok","ac":"not-an-array"}""")
      val e = intercept[Exception] { q.processAllAvailable() }
      assert(e.getMessage != null)
    } finally q.stop()
  }

  test("watermark: late rows beyond the watermark are dropped (append mode)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String)]
    val events = input.toDF().toDF("ts", "event_type")
    val q = StreamOps.watermarkedWindow(events, "1 hour")
      .writeStream.format("memory").queryName("wm_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // watermark after this batch: 12:00 - 1h = 11:00
      input.addData((ts("2024-01-01 10:00:10"), "a"), (ts("2024-01-01 12:00:00"), "a"))
      q.processAllAvailable()
      // 09:40 is < 11:00 watermark → dropped; 14:00 closes earlier windows
      input.addData((ts("2024-01-01 09:40:00"), "a"), (ts("2024-01-01 14:00:00"), "a"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 18:00:00"), "a")) // close everything else
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("wm_test")
      .select(col("w_start"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    // the 10:00 event appears in its two sliding windows with count 1 —
    // the late 09:40 event (also in window 09:30-10:30) was NOT added
    assert(out(ts("2024-01-01 09:30:00")) == 1L)
    assert(out(ts("2024-01-01 10:00:00")) == 1L)
  }

  test("mapGroupsWithState: running counts persist across batches, timeout closes state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamOps.runningUserCounts(events, "10 minutes", gapMs = 3600 * 1000L)
      .toDF()
      .writeStream.format("memory").queryName("mgws_test")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 7L), (ts("2024-01-01 10:05:00"), 7L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:20:00"), 7L)) // state carries: n=3
      q.processAllAvailable()
      // jump far ahead: watermark passes 7's timeout → closed row emitted
      input.addData((ts("2024-01-02 09:00:00"), 8L))
      q.processAllAvailable()
      input.addData((ts("2024-01-02 10:00:00"), 8L)) // extra batch to fire timeout
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("mgws_test")
      .select("user_id", "n_events", "closed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(rows.contains((7L, 2L, false))) // after batch 1
    assert(rows.contains((7L, 3L, false))) // state carried into batch 2
    assert(rows.contains((7L, 3L, true)))  // evicted with final count
    // user 7 state was removed — no rows after the closed marker
    assert(rows.count(r => r._1 == 7L) == 3)
  }

  test("cross-batch streaming dedup with watermark eviction") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamOps.streamingDedup(events, "1 hour")
      .writeStream.format("memory").queryName("dd_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData((ts("2024-01-01 10:00:00"), 7L))
      q.processAllAvailable()
      // same key within the watermark window → dropped even across batches
      input.addData((ts("2024-01-01 10:10:00"), 7L))
      q.processAllAvailable()
      // advance time far past the watermark; state for key 7 evicted → re-emitted
      input.addData((ts("2024-01-01 15:00:00"), 8L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:10:00"), 7L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dd_test").select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    assert(rows.count(_._1 == 7L) == 2) // first occurrence + post-eviction
    assert(rows.contains((7L, ts("2024-01-01 10:00:00"))))
    assert(rows.contains((7L, ts("2024-01-01 15:10:00"))))
    assert(!rows.contains((7L, ts("2024-01-01 10:10:00"))))
  }

  test("incremental merge: state accumulates across micro-batches exactly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val events = input.toDF().toDF("user_id", "value")
    val root = tempDir("incmerge_test").toString
    val (q, readState) = StreamOps.startIncrementalMerge(
      events, root, Trigger.ProcessingTime(50))
    try {
      input.addData((1L, 1.5), (1L, 2.5), (2L, 10.0))
      q.processAllAvailable()
      input.addData((1L, 6.0), (3L, 0.25))
      q.processAllAvailable()
    } finally q.stop()
    val state = readState()
      .select(col("user_id"), col("n"), col("sum_dec").cast("double").as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(state == Map(
      1L -> ((3L, 10.0)), 2L -> ((1L, 10.0)), 3L -> ((1L, 0.25))))
  }

  test("streamingNearDup pairs docs ACROSS micro-batches (LSH state carries)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamOps.streamingNearDup(docs).toDF()
      .writeStream.format("memory").queryName("snd_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      // batch 1: one doc + one unrelated doc (no pair yet)
      input.addData(
        (1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight nine"))
      q.processAllAvailable()
      assert(spark.table("snd_test").count() == 0)
      // batch 2: an exact duplicate of doc 1 — the pair must be found
      // against the PREVIOUS batch's state
      input.addData((3L, "alpha beta gamma delta epsilon zeta eta theta"))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("snd_test").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 3L, 8L)))
  }

  test("bloomDedup suppresses re-seen keys ACROSS batches with 4 KiB/shard state") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, String)]
    val events = input.toDF().toDF("user_id", "event_type")
    val q = StreamOps.bloomDedup(events, shards = 4)
      .writeStream.format("memory").queryName("bd_test")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      // batch 1: A, B, and an in-batch repeat of A (emitted once)
      input.addData((1L, "view"), (2L, "click"), (1L, "view"))
      q.processAllAvailable()
      assert(spark.table("bd_test").count() == 2)
      // batch 2: A again (state must remember it) + new key C
      input.addData((1L, "view"), (3L, "view"))
      q.processAllAvailable()
    } finally q.stop()
    val keys = spark.table("bd_test").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(keys == Set((1L, "view"), (2L, "click"), (3L, "view")))
    assert(spark.table("bd_test").count() == 3,
      "a re-seen key leaked through the cross-batch bloom state")
  }

  test("append-mode last-wins dedup ≡ batch per-horizon winner + eviction rule") {
    // the oracle pins this at sf0.01 through DuckDB; this pins the same
    // contract against Spark's own batch engine at sf0.001 — per (1h
    // horizon, user) the max_by(event_id) winner, emitted iff the horizon
    // closed under the final watermark (end <= floor(max ts to ms) − 1h)
    val dir = "/root/testdata/sf0.001"
    val got = StreamOps.dedupLastWinsQ(spark, dir)
      .select(col("w_start"), col("user_id"), col("value"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val ev = graft.Tables(spark, dir, "events")
    val wmMs = ev.agg((floor(unix_millis(max(col("ts")))) - 3600000L)
      .as("wm")).collect()(0).getLong(0)
    val exp = ev
      .groupBy(date_trunc("hour", col("ts")).as("w_start"), col("user_id"))
      .agg(max_by(col("value"), col("event_id")).as("value"))
      .filter(unix_millis(col("w_start")) + 3600000L <= wmMs)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(exp.nonEmpty, "fixture produced no closed dedup horizon")
    assert(got == exp)
  }

  test("stateful aggregation on the RocksDB state store (100 TB state backend)") {
    // HDFSBackedStateStore keeps every key on the executor heap — at
    // production state sizes the JVM dies long before 100 TB of input.
    // RocksDB is the off-heap, incremental-checkpoint backend; this pins
    // that the engine's stateful operators run (and agree with batch
    // semantics) under it.
    val dir = "/root/testdata/sf0.001"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the complete-mode all-time demo (per-key state, never evicted) —
      // exercised here deliberately: it is the state-heaviest dedup shape
      val got = StreamOps.dedupLastWinsCompleteQ(spark, dir)
        .select(col("user_id"), col("value"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      val exp = graft.Tables(spark, dir, "events")
        .groupBy(col("user_id"))
        .agg(max_by(col("value"), col("event_id")).as("value"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(got == exp)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
