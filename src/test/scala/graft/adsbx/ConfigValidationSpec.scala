package graft.adsbx

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** TypeBox-equivalent config validation (reference task.ts:6-64). */
class ConfigValidationSpec extends SparkSpec {

  private val good = Include("FIRE", Some("TANKER1"), Some("N123AB"), "FIRE_AIR_TANKER")

  test("valid config passes, fixture includes are all valid") {
    val cfg = AdsbxConfig(includes = Fixtures.includes.map(i =>
      Include(i.domain, i.callsign, i.registration, i.group)))
    assert(ConfigValidation.validate(cfg) == Right(cfg))
  }

  test("out-of-enum domain and group are rejected with positions") {
    val cfg = AdsbxConfig(includes = Seq(
      good,
      Include("POLICE", None, Some("N1"), "FIRE_INTEL"), // bad domain
      Include("EMS", None, Some("N2"), "SPACE_FORCE")))  // bad group
    val Left(errs) = ConfigValidation.validate(cfg): @unchecked
    assert(errs.size == 2)
    assert(errs.exists(e => e.contains("includes[1].domain") && e.contains("POLICE")))
    assert(errs.exists(e => e.contains("includes[2].group") && e.contains("SPACE_FORCE")))
  }

  test("api endpoint must be one of the two published bases") {
    val bad = AdsbxConfig(api = "https://example.com/api")
    val Left(errs) = ConfigValidation.validate(bad): @unchecked
    assert(errs.exists(_.startsWith("api:")))
    assert(ConfigValidation.validate(
      AdsbxConfig(api = "https://adsbexchange-com1.p.rapidapi.com")).isRight)
  }

  test("queryLatLon must be two comma-separated numbers") {
    // each of these made every SnapshotFetcher.request poll throw
    for (bad <- Seq("40.14401", "40.1,-119.8,3", "north,-119.8", "40.1,", ""))
      assert(ConfigValidation.validate(AdsbxConfig(queryLatLon = bad)) ==
        Left(Seq(s"queryLatLon: '$bad' is not 'lat,lon' (two numbers)")), bad)
    assert(ConfigValidation.validate(
      AdsbxConfig(queryLatLon = " 40.1 , -119.8 ")).isRight)
  }

  test("DataFrame variant: quarantine split + the UNKNOWN group default") {
    import spark.implicits._
    val df = Seq(
      (0L, Some("FIRE"), Some("C1"), Some("N1"), Some("FIRE_INTEL")),
      (1L, Some("NAVY"), None, Some("N2"), Some("FIRE_INTEL")), // bad domain
      (2L, Some("EMS"), None, Some("N3"), Some("MOON_PATROL")), // bad group
      (3L, Some("LAW"), None, Some("N4"), None),                // null group -> UNKNOWN
      (4L, None, None, Some("N5"), Some("FIRE_INTEL")))         // NULL domain -> quarantine, not dropped
      .toDF("inc_pos", "domain", "callsign", "registration", "group")
    val (ok, bad) = ConfigValidation.partitionIncludes(df)
    assert(ok.select("inc_pos").as[Long].collect().sorted.toSeq == Seq(0L, 3L))
    assert(bad.select("inc_pos").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    assert(ok.filter(col("inc_pos") === 3L).select("group").as[String].head() == "UNKNOWN")
  }
}
