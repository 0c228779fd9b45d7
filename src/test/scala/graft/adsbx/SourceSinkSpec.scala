package graft.adsbx

import graft.SparkSpec
import graft.adsbx.sources.AdsbxSource
import graft.adsbx.sinks.FeatureSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S1 source entry points + O2/O3 sink shapes. */
class SourceSinkSpec extends SparkSpec {

  private val envelope =
    """{"msg":"ok","ac":[
      |{"hex":"a1","type":"adsb_icao","flight":"ONE","r":"N1","lat":40.0,"lon":-119.0,"gs":100.0,"seen_pos":0.1,"seen":0.2},
      |{"hex":"a2","type":"adsb_icao","flight":"TWO","r":"N2","lat":41.0,"lon":-118.0,"gs":200.0,"seen_pos":0.1,"seen":0.2}
      |]}""".stripMargin.replaceAll("\n", "")

  test("S1: envelope JSON → aircraft rows with arrival-order seq") {
    val df = AdsbxSource.fromJsonStrings(spark, Seq(envelope))
    val rows = df.select("seq", "hex", "r").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((0L, "a1", "N1"), (1L, "a2", "N2")))
  }

  test("V1: FAILFAST — malformed envelope throws, not null-fills") {
    val bad = AdsbxSource.fromJsonStrings(spark, Seq("""{"msg":"ok","ac":42}"""))
    intercept[Exception] { bad.collect() }
  }

  test("PERMISSIVE: malformed envelopes quarantine instead of failing") {
    val (good, bad) = AdsbxSource.fromJsonStringsPermissive(spark,
      Seq(envelope, """{"msg":"ok","ac":42}""", "not json at all"))
    assert(good.count() == 2) // the two aircraft from the valid envelope
    val quarantined = bad.collect().map(_.getString(0)).toSet
    assert(quarantined == Set("""{"msg":"ok","ac":42}""", "not json at all"))
  }

  // N2 again, at position 0: an earlier position than in `envelope`
  private val later =
    """{"msg":"ok","ac":[{"hex":"a2","type":"adsb_icao","flight":"LATE","r":"N2","lat":41.0,"lon":-118.0,"gs":300.0,"seen_pos":0.1,"seen":0.2}]}"""

  test("PERMISSIVE: good rows carry the strict source's arrival-order seq") {
    def rows(df: DataFrame) = df.select("seq", "hex", "flight").collect().toSet
    val envs = Seq(envelope, later)
    assert(rows(AdsbxSource.fromJsonStringsPermissive(spark, envs)._1) ==
      rows(AdsbxSource.fromJsonStrings(spark, envs)))
  }

  test("PERMISSIVE: the later envelope's record wins D1 for a shared id") {
    val (good, _) = AdsbxSource.fromJsonStringsPermissive(spark, Seq(envelope, later))
    val out = Pipeline.run(good, Fixtures.includesDf(spark),
      AdsbxConfig(includesFiltering = false))
    assert(out.filter(col("id") === "n2").select("callsign").head().getString(0) == "LATE")
  }

  test("PERMISSIVE: each good envelope is parsed once (one from_json)") {
    // keep the parse in the plan: over an in-memory list the optimizer
    // would otherwise evaluate it into a LocalTableScan
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val (good, _) = AdsbxSource.fromJsonStringsPermissive(spark, Seq(envelope, later))
    val executed = try good.queryExecution.executedPlan.toString
      finally spark.conf.unset(key)
    assert("from_json\\(".r.findAllMatchIn(executed).size == 1,
      s"expected exactly one from_json:\n$executed")
  }

  test("S4: schema introspection exposes envelope + record schemas") {
    assert(AdsbxSource.inputSchema.fieldNames.toSeq == Seq("msg", "ac"))
    assert(AdsbxSource.outputSchema.fieldNames.contains("alt_baro"))
  }

  test("O2/O3: per-partition FeatureCollection wrap is valid JSON with all features") {
    val features = Pipeline.features(
      AdsbxSource.fromJsonStrings(spark, Seq(envelope)),
      Fixtures.includesDf(spark), AdsbxConfig(includesFiltering = false))
      .coalesce(1)
    // submit runs on executors — collect results through an accumulator
    val got = spark.sparkContext.collectionAccumulator[String]("fcs")
    FeatureSink.submitCollections(features, fc => got.add(fc))
    assert(got.value.size() == 1)
    val fc = got.value.get(0)
    assert(fc.startsWith("""{"type":"FeatureCollection","features":["""))
    // parse back through Spark to validate JSON + count features
    import spark.implicits._
    val n = spark.read.json(Seq(fc).toDS())
      .select(explode(col("features")).as("f")).count()
    assert(n == 2)
  }

  test("typed boundary: CotFeature round-trips the pipeline output") {
    val features = Pipeline.features(
      AdsbxSource.fromJsonStrings(spark, Seq(envelope)),
      Fixtures.includesDf(spark), AdsbxConfig(includesFiltering = false))
    val typed = CotFeature.fromFeatures(features).collect().sortBy(_.id)
    assert(typed.map(_.id).toSeq == Seq("n1", "n2"))
    val n1 = typed.head
    assert(n1.`type` == "Feature")
    assert(n1.properties.cot_type == "a-f-A-C")
    assert(n1.properties.callsign == "ONE")
    assert(n1.geometry.`type` == "Point")
    assert(n1.geometry.coordinates == Seq(-119.0, 40.0))
  }

  test("O3: idempotent batch sink — replaying a batch does not duplicate") {
    val features = Pipeline.features(
      AdsbxSource.fromJsonStrings(spark, Seq(envelope)),
      Fixtures.includesDf(spark), AdsbxConfig(includesFiltering = false))
    val root = tempDir("sink").toString
    val write = FeatureSink.idempotentBatchWriter(root) _
    write(features, 0L)
    write(features, 0L) // simulated post-failure replay of the same batch
    val rows = spark.read.text(s"$root/batch_id=0")
    assert(rows.count() == 2) // still exactly the 2 features, not 4
  }

  test("O1: observe metric counts features") {
    val features = Pipeline.features(
      AdsbxSource.fromJsonStrings(spark, Seq(envelope)),
      Fixtures.includesDf(spark), AdsbxConfig(includesFiltering = false))
    val observed = FeatureSink.observed(features)
    observed.collect()
    val metrics = observed.queryExecution.observedMetrics
    assert(metrics("metrics").getAs[Long]("n_features") == 2L)
  }
}
