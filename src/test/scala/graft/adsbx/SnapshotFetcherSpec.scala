package graft.adsbx

import graft.SparkSpec
import graft.adsbx.sources.{AdsbxSource, FetchRequest, SnapshotFetcher}
import org.apache.spark.sql.functions._

/** The fetch seam (reference task.ts:115-129): URL + header construction
  * must be byte-identical to the reference's template, and the landed
  * snapshot must flow through SnapshotSource into the pipeline. */
class SnapshotFetcherSpec extends SparkSpec {

  private val cfg = AdsbxConfig(token = "tok123")

  test("request builds the reference URL and both auth headers") {
    val r = SnapshotFetcher.request(cfg, cacheBuster = 1700000000000L)
    // task.ts:118-122 with the Env defaults of task.ts:7-21
    assert(r.url ==
      "https://adsbexchange.com/api/aircraft/v2/lat/40.14401/lon/-119.81204" +
        "/dist/2650/?apiKey=tok123&cacheBuster=1700000000000")
    assert(r.headers ==
      Map("x-rapidapi-key" -> "tok123", "api-auth" -> "tok123"))
  }

  test("lat/lon are split on ',' and trimmed; token is form-urlencoded") {
    val r = SnapshotFetcher.request(
      cfg.copy(queryLatLon = " 40.1 , -119.8 ", queryDist = "100",
        token = "a b+c"), 7L)
    assert(r.url ==
      "https://adsbexchange.com/api/aircraft/v2/lat/40.1/lon/-119.8" +
        "/dist/100/?apiKey=a+b%2Bc&cacheBuster=7")
    // headers carry the RAW token (task.ts:126-127 — no encoding there)
    assert(r.headers("api-auth") == "a b+c")
  }

  test("fetchOnce retries with a fresh cacheBuster per attempt") {
    var clockCalls = 0L
    val seen = scala.collection.mutable.ArrayBuffer[FetchRequest]()
    val http: FetchRequest => String = { r =>
      seen += r
      if (seen.size < 3) throw new RuntimeException("transient")
      """{"msg":"ok","ac":[]}"""
    }
    val body = SnapshotFetcher.fetchOnce(cfg, http,
      clock = () => { clockCalls += 1; clockCalls })
    assert(body.contains("\"ac\""))
    assert(seen.size == 3)
    // each retry rebuilt the URL with the next clock value
    assert(seen.map(_.url.split("cacheBuster=")(1)).toSeq == Seq("1", "2", "3"))
    val boom = intercept[RuntimeException] {
      SnapshotFetcher.fetchOnce(cfg, _ => throw new RuntimeException("down"),
        clock = () => 0L, maxAttempts = 2)
    }
    assert(boom.getMessage.contains("2 attempts"))
  }

  test("fetchToLog lands snapshots SnapshotSource + pipeline can read") {
    val dir = tempDir("fetchlog").toString
    def env(hex: String) =
      s"""{"msg":"ok","ac":[{"hex":"$hex","type":"adsb_icao","flight":"FL1",""" +
        s""""r":"N$hex","lat":1.0,"lon":2.0,"seen_pos":0.5,"seen":1.0}]}"""
    SnapshotFetcher.fetchToLog(cfg, _ => env("a1"), () => 1L, dir, seq = 0L)
    SnapshotFetcher.fetchToLog(cfg, _ => env("b2"), () => 2L, dir, seq = 1L)
    val rows = AdsbxSource.fromSnapshotDir(spark, dir)
      .orderBy(col("seq")).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("hex")).toSeq == Seq("a1", "b2"))
  }

  private def listing(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.sorted

  test("fetchToLog refuses a repeated seq and keeps the first body") {
    val dir = tempDir("fetchdup").toString
    val first = SnapshotFetcher.fetchToLog(cfg, _ => "first", () => 1L, dir, seq = 7L)
    intercept[java.nio.file.FileAlreadyExistsException] {
      SnapshotFetcher.fetchToLog(cfg, _ => "second", () => 2L, dir, seq = 7L)
    }
    assert(java.nio.file.Files.readString(first) == "first")
    assert(listing(dir) == Seq("snap_000000000007.json"))
  }

  test("fetchToLog leaves no temp file behind") {
    val dir = tempDir("fetchtmp").toString
    SnapshotFetcher.fetchToLog(cfg, _ => "a", () => 1L, dir, seq = 0L)
    SnapshotFetcher.fetchToLog(cfg, _ => "b", () => 2L, dir, seq = 1L)
    assert(listing(dir) == Seq("snap_000000000000.json", "snap_000000000001.json"))
  }

  test("fetchToLog lands nothing when the transport fails") {
    val dir = tempDir("fetchfail").toString
    intercept[RuntimeException] {
      SnapshotFetcher.fetchToLog(cfg, _ => throw new RuntimeException("down"),
        () => 1L, dir, seq = 0L)
    }
    assert(listing(dir).isEmpty)
  }
}
