package graft.adsbx

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.adsbx.sources.{AdsbxSource, SnapshotSource}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The DataSource V2 snapshot source: batch scan, micro-batch offsets, and
  * the end-to-end path into the CoT pipeline. */
class SnapshotSourceSpec extends SparkSpec {

  private def envelope(hexes: String*): String = {
    val acs = hexes.map(h =>
      s"""{"hex":"$h","type":"adsb_icao","flight":"FL$h","r":"N$h",""" +
      s""""lat":1.0,"lon":2.0,"seen_pos":0.5,"seen":1.0}""").mkString(",")
    s"""{"msg":"ok","ac":[$acs]}"""
  }

  private def mkDir(tag: String): String = tempDir(s"snap_$tag").toString

  private def write(dir: String, name: String, body: String): Unit =
    Files.write(Paths.get(dir, name), body.getBytes("UTF-8"))

  test("batch read: one row per snapshot, one partition per file") {
    val dir = mkDir("batch")
    write(dir, "s1.json", envelope("a1", "a2"))
    write(dir, "s2.json", envelope("b1"))
    val df = spark.read.format(SnapshotSource.NAME).load(dir)
    assert(df.count() == 2)
    assert(df.rdd.getNumPartitions == 2)
    val rows = df.orderBy("arrival_idx").collect()
    assert(rows.map(_.getAs[Long]("arrival_idx")).toList == List(0L, 1L))
    assert(rows(0).getAs[String]("snapshot_path").endsWith("s1.json"))
  }

  test("micro-batch stream: new snapshots arrive as new offsets") {
    val dir = mkDir("stream")
    write(dir, "s1.json", envelope("a1", "a2"))
    val stream = spark.readStream.format(SnapshotSource.NAME).load(dir)
    val q = stream.writeStream.format("memory").queryName("snap_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_out").count() == 1)
      // a new snapshot lands between triggers → exactly one more row
      write(dir, "s2.json", envelope("b1"))
      q.processAllAvailable()
      val out = spark.table("snap_out").orderBy("arrival_idx").collect()
      assert(out.length == 2)
      assert(out(1).getAs[String]("snapshot_path").endsWith("s2.json"))
    } finally q.stop()
  }

  test("cross-snapshot last-wins: the NEWER snapshot's record survives D1") {
    val dir = mkDir("lastwins")
    // same registration in both snapshots, ac[5] of the old one (lat=1.0)
    // vs ac[0] of the new one (lat=99.0) — recency must win, not array
    // position
    def ac(h: String, lat: Double) =
      s"""{"hex":"$h","type":"adsb_icao","flight":"FL$h","r":"N$h",""" +
      s""""lat":$lat,"lon":2.0,"seen_pos":0.5,"seen":1.0}"""
    val oldAcs = ((1 to 5).map(i => ac(s"x$i", 1.0)) :+ ac("dup", 1.0)).mkString(",")
    write(dir, "s1.json", s"""{"msg":"ok","ac":[$oldAcs]}""")
    write(dir, "s2.json", s"""{"msg":"ok","ac":[${ac("dup", 99.0)}]}""")
    val aircraft = AdsbxSource.fromSnapshotDir(spark, dir)
    val deduped = graft.adsbx.Dedup.lastWins(aircraft, "hex", "seq")
    val lat = deduped.filter(col("hex") === "dup").select("lat").head().getDouble(0)
    assert(lat == 99.0, s"expected the s2 record to win (lat=$lat)")
  }

  test("watermark offsets: deleting consumed snapshots cannot skip new ones") {
    val dir = mkDir("retention")
    write(dir, "s1.json", envelope("a1"))
    write(dir, "s2.json", envelope("a2"))
    val stream = spark.readStream.format(SnapshotSource.NAME).load(dir)
    val q = stream.writeStream.format("memory").queryName("snap_ret")
      .outputMode("append").trigger(Trigger.ProcessingTime(50)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("snap_ret").count() == 2)
      // a retention daemon removes the consumed files; a new snapshot lands
      Files.delete(Paths.get(dir, "s1.json"))
      Files.delete(Paths.get(dir, "s2.json"))
      write(dir, "s3.json", envelope("a3"))
      q.processAllAvailable()
      val paths = spark.table("snap_ret")
        .select("snapshot_path").collect().map(_.getString(0)).toList
      assert(paths.count(_.endsWith("s3.json")) == 1, paths)
      assert(spark.table("snap_ret").count() == 3)
    } finally q.stop()
  }

  test("AvailableNow drains to its start watermark; later files go to the next run") {
    // SupportsTriggerAvailableNow contract (the reference's one-shot
    // scheduled invocation): the target offset is pinned at query start
    // (prepareForTriggerAvailableNow), and each subsequent scheduled run
    // picks up exactly what arrived since.
    val dir = mkDir("availnow")
    write(dir, "s1.json", envelope("a1"))
    write(dir, "s2.json", envelope("a2"))
    def drain(tag: String): Long = {
      val q = spark.readStream.format(SnapshotSource.NAME).load(dir)
        .writeStream.format("memory").queryName(tag)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      spark.table(tag).count()
    }
    assert(drain("avail_run1") == 2)
    // run 2 with a fresh checkpoint sees all three, proving s3 was
    // readable the whole time and only the frozen watermark excluded it
    write(dir, "s3.json", envelope("a3"))
    assert(drain("avail_run2") == 3)
  }

  test("a missing directory fails loudly instead of returning zero rows") {
    intercept[Exception] {
      spark.read.format(SnapshotSource.NAME).load("/no/such/dir_graft").collect()
    }
  }

  test("end-to-end: snapshot dir through the CoT pipeline (batch + stream)") {
    val dir = mkDir("e2e")
    write(dir, "s1.json", envelope("a1", "a2"))
    write(dir, "s2.json", envelope("b1"))
    val aircraft = AdsbxSource.fromSnapshotDir(spark, dir)
    assert(aircraft.count() == 3)
    assert(aircraft.select("hex").orderBy("hex").collect()
      .map(_.getString(0)).toList == List("a1", "a2", "b1"))
    // streaming flavor reaches the same rows
    val q = AdsbxSource.streamSnapshotDir(spark, dir)
      .writeStream.format("memory").queryName("snap_cot")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table("snap_cot").count() == 3)
  }
}
