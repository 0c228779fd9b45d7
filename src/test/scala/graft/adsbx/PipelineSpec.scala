package graft.adsbx

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** End-to-end golden test: fixture → full pipeline (task.ts:115-257),
  * asserting D1 last-wins, J2 join/enrichment semantics, and the nested
  * Feature shape. */
class PipelineSpec extends SparkSpec {

  private def run(filtering: Boolean) =
    Pipeline.run(Fixtures.aircraftDf(spark), Fixtures.includesDf(spark),
      AdsbxConfig(includesFiltering = filtering))

  test("D1: last-wins dedup by id in arrival order (task.ts:136,187)") {
    val out = run(filtering = false)
    assert(out.count() == 7) // 9 surviving rows, n777xy deduped
    val x = out.filter(col("id") === "n777xy").head()
    assert(x.getAs[Double]("speed") == 80.0 * 0.514444) // seq5 won over seq4
    assert(x.getAs[String]("callsign") == "NIGHT5")
  }

  test("J2: inner semi-join — only allow-listed aircraft pass (task.ts:217-240)") {
    val out = run(filtering = true)
    val ids = out.select("id").collect().map(_.getString(0)).toSet
    assert(ids == Set("n123ab", "n777xy", "n555qq"))
  }

  test("J2: include matches flight-derived id (task.ts:139 join-key subtlety)") {
    val row = run(filtering = true).filter(col("id") === "n555qq").head()
    assert(row.getAs[String]("callsign") == "QQAIR") // enriched
  }

  test("J2: last-include-wins per field; falsy callsign does not clobber (task.ts:227-238)") {
    val row = run(filtering = true).filter(col("id") === "n123ab").head()
    // include 0 set callsign TANKER1OVR; include 3 (later, same reg) has
    // callsign "" (falsy → no override) but group FIRE_INTEL (truthy → wins)
    assert(row.getAs[String]("callsign") == "TANKER1OVR")
    assert(row.getAs[Row]("metadata").getAs[String]("group") == "FIRE_INTEL")
  }

  test("J2: include without callsign keeps aircraft callsign (task.ts:227-229)") {
    val row = run(filtering = true).filter(col("id") === "n777xy").head()
    assert(row.getAs[String]("callsign") == "NIGHT5")
    assert(row.getAs[Row]("metadata").getAs[String]("group") == "LE_ROTOR")
  }

  test("P17: nested Feature struct shape (task.ts:187-211)") {
    val f = Pipeline.features(Fixtures.aircraftDf(spark),
        Fixtures.includesDf(spark), AdsbxConfig(includesFiltering = false))
      .filter(col("id") === "n123ab")
      .select("feature").head().getAs[Row]("feature")
    assert(f.getAs[String]("type") == "Feature")
    assert(f.getAs[String]("id") == "n123ab")
    val props = f.getAs[Row]("properties")
    assert(props.getAs[String]("type") == "a-f-A-C-F")
    assert(props.getAs[String]("callsign") == "TANKER1")
    assert(props.getAs[java.sql.Timestamp]("time") != null)
    assert(props.getAs[java.sql.Timestamp]("time") == props.getAs[java.sql.Timestamp]("start"))
    val geom = f.getAs[Row]("geometry")
    assert(geom.getAs[String]("type") == "Point")
    assert(geom.getAs[scala.collection.Seq[Double]]("coordinates") ==
      Seq(-119.81204, 40.14401, 3500 * 0.3048))
  }

  test("O2: FeatureCollection JSON wrap") {
    val fc = Pipeline.toFeatureCollectionJson(
      Pipeline.features(Fixtures.aircraftDf(spark), Fixtures.includesDf(spark),
        AdsbxConfig(includesFiltering = true))).head().getString(0)
    assert(fc.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(fc.contains(""""id":"n123ab""""))
  }

  test("V1: FAILFAST envelope parse (task.ts:131-134)") {
    import spark.implicits._
    val good = Seq("""{"msg":"ok","ac":[{"hex":"abc123","type":"adsb_icao","r":"N1","flight":"F1","lat":40.0,"lon":-119.0,"seen_pos":0.1,"seen":0.2}]}""").toDF("value")
    val parsed = Pipeline.fromEnvelopeJson(spark, good)
    assert(parsed.count() == 1)
    assert(parsed.head().getAs[String]("hex") == "abc123")
    assert(parsed.head().getAs[Long]("seq") == 0L)

    val bad = Seq("""{"msg":"ok","ac":"not-an-array"}""").toDF("value")
    intercept[Exception] {
      Pipeline.fromEnvelopeJson(spark, bad).collect()
    }
  }

  private def acJson(hex: String) =
    s"""{"hex":"$hex","type":"adsb_icao","r":"N$hex","lat":40.0,"lon":-119.0,"seen_pos":0.1,"seen":0.2}"""

  test("V1: empty or ac-less envelopes in a log yield no rows; seq unchanged") {
    val log = Seq(
      """{"msg":"","ac":[]}""",
      s"""{"msg":"ok","ac":[${acJson("a1")},${acJson("a2")}]}""",
      """{"msg":"","ac":[]}""",
      """{"msg":"no ac"}""",
      s"""{"msg":"ok","ac":[${acJson("b1")}]}""",
      """{"msg":"","ac":[]}""")
    val got = sources.AdsbxSource.fromJsonStrings(spark, log)
      .select("seq", "hex").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // seq = arrival_idx * 2^32 + position in ac[]
    assert(got == Set((1L << 32, "a1"), ((1L << 32) + 1, "a2"), (4L << 32, "b1")))
  }

  test("V1: one malformed envelope in a log still fails the parse (FAILFAST)") {
    val log = Seq(
      s"""{"msg":"ok","ac":[${acJson("a1")}]}""",
      """{"msg":"ok","ac":[{"hex":"x1","lat":""",
      """{"msg":"","ac":[]}""")
    intercept[Exception] {
      sources.AdsbxSource.fromJsonStrings(spark, log).collect()
    }
  }
}
