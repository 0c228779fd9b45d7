package graft.adsbx

import graft.SparkSpec

/** End-to-end scheduled-poll loop (cot_stream_poll): fixture transport →
  * SnapshotFetcher → snapshot-log dir → DSv2 SnapshotSource micro-batch →
  * full CoT pipeline. The streaming loop must produce EXACTLY the batch
  * includes-join pipeline's rows — same quirk matrix in, same features
  * out — which is also why the two queries share one oracle. */
class StreamPollSpec extends SparkSpec {

  test("poll loop output equals the batch includes pipeline row-for-row") {
    val streamed = graft.ops.CotQueries.queries("cot_stream_poll")(spark, "")
    val batch = graft.ops.CotQueries.queries("cot_includes_join")(spark, "")
    assert(streamed.schema == batch.schema,
      s"schema drift: ${streamed.schema} vs ${batch.schema}")
    val a = streamed.collect().toSeq
    val b = batch.collect().toSeq
    assert(a.nonEmpty, "poll loop produced no rows")
    assert(a == b, s"stream-poll rows differ:\n$a\nvs\n$b")
  }

  test("envelope JSON round-trips the union alt_baro and optional fields") {
    // "ground" survives as a string, numeric alt_baro arrives as the JSON
    // number's literal text, and omitted optionals parse to null
    val json = Fixtures.envelopeJson(Fixtures.aircraft)
    import spark.implicits._
    val parsed = Pipeline.fromEnvelopeJson(spark, Seq(json).toDF("value"))
    val byHex = parsed.collect().map(r => r.getAs[String]("hex") -> r).toMap
    assert(byHex("a00006").getAs[String]("alt_baro") == "ground")
    assert(byHex("a00000").getAs[String]("alt_baro") == "3500")
    assert(byHex("a00002").getAs[String]("flight") == null)
    assert(parsed.count() == Fixtures.aircraft.size)
  }

  test("the poll loop leaves a stream phase record like every stream run") {
    graft.streaming.StreamOps.drainPhaseRecords()
    graft.ops.CotQueries.queries("cot_stream_poll")(spark, "").count()
    val recs = graft.streaming.StreamOps.drainPhaseRecords()
    assert(recs.size == 1, s"expected one phase record, got $recs")
    val r = recs.head
    assert(Seq("wall_sec", "n_batches", "progress_capped", "setup_sec",
      "batch_triggerExecution", "batch_addBatch").forall(r.contains),
      s"record keys: ${r.keys}")
    assert(r("n_batches") >= 1.0 && r("progress_capped") == 0.0)
  }
}
