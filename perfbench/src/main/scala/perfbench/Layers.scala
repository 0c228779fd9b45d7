package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.adsbx.{AdsbxConfig, CotTransform, Dedup, Pipeline}
import graft.adsbx.sinks.FeatureSink
import graft.adsbx.sources.AdsbxSource

/** Per-layer measurements of the traced run, taken from outside the
  * layers: successive prefixes of the pipeline are materialized with noop
  * writes, and a layer's self time is the difference between the medians
  * of its prefix and the one before it. */
object Layers {

  /** Prefix names in pipeline order; each adds one layer to the previous. */
  val Prefixes: Seq[String] = Seq("sources.parse", "CotTransform.keyed", "Dedup",
    "CotTransform.derived", "IncludesJoin", "CotTransform.feature", "FeatureSink")

  private def m(v: Double, unit: String) = Metric(v, unit)

  def ladder(spark: SparkSession, trace: SparkTrace, spans: Spans, dir: String,
             includes: DataFrame, cfg: AdsbxConfig, expected: Option[Map[String, Expected]],
             reps: Int): Map[String, Metric] = {
    def parsed = AdsbxSource.fromSnapshotDir(spark, dir)
    def keyed = CotTransform.keyed(parsed)
    def deduped = Dedup.lastWins(keyed, "id", "seq")
    val steps: Seq[() => Unit] = Seq(
      () => Main.noop(parsed),
      () => Main.noop(keyed),
      () => Main.noop(deduped),
      () => Main.noop(CotTransform.derived(deduped, cfg.emergencyHostile)),
      () => Main.noop(Pipeline.run(parsed, includes, cfg)),
      // the Feature struct alone: what the sink serializes
      () => Main.noop(Pipeline.features(parsed, includes, cfg).select("feature")),
      () => FeatureSink.submitCollections(Pipeline.features(parsed, includes, cfg), Capture.submit))
    val times = Prefixes.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val planning = scala.collection.mutable.ArrayBuffer.empty[Double]
    val (calls0, bytes0) = Capture.totals
    var checkErr: Seq[String] = Nil
    var features = 0.0
    val sc = spark.sparkContext
    (1 to reps).foreach { rep =>
      // the plan every replay or micro-batch plans: the whole pipeline
      planning += planningMs(Pipeline.features(parsed, includes, cfg))
      Prefixes.zip(steps).foreach { case (name, step) =>
        sc.setJobGroup(s"prefix.$name", s"prefix ending at $name")
        val t0 = System.nanoTime()
        try spans(name, parent = "ladder")(step()) finally sc.clearJobGroup()
        times(name) += (System.nanoTime() - t0) / 1e9
      }
      val docs = Capture.drain()
      if (rep == 1) {
        features = docs.map(Check.parse).map(_.fold(_ => 0, _.size)).sum.toDouble
        expected.foreach(e => Check.documents(e, docs).left.foreach(checkErr = _))
      }
    }
    val (calls1, bytes1) = Capture.totals
    val self = Stats.prefixSelfTimes(Prefixes.map(n => n -> Stats.median(times(n).toSeq))).toMap

    val (nParsed, nKeyed, nDeduped, nRun, parts) = spans("counts", parent = "ladder") {
      sc.setJobGroup("counts", "row counts")
      try (parsed.count().toDouble, keyed.count().toDouble, deduped.count().toDouble,
        Pipeline.run(parsed, includes, cfg).count().toDouble, parsed.rdd.getNumPartitions.toDouble)
      finally sc.clearJobGroup()
    }
    trace.flush(spark)
    val d1 = trace.metrics(Set("prefix.Dedup"))
    val files = Files.list(Paths.get(dir))
    val snapshots = try files.iterator().asScala.filter(_.getFileName.toString.endsWith(".json"))
      .toList finally files.close()
    val bytesIn = snapshots.map(Files.size(_)).sum.toDouble
    if (checkErr.nonEmpty) throw new IllegalStateException(s"ladder output check failed: ${checkErr.mkString("; ")}")
    Map(
      "sources.parse_s" -> m(self("sources.parse"), "s"),
      "sources.snapshots" -> m(snapshots.size, "count"),
      "sources.bytes_in" -> m(bytesIn, "bytes"),
      "sources.rows_out" -> m(nParsed, "count"),
      "sources.partitions" -> m(parts, "count"),
      "CotTransform.keyed_s" -> m(self("CotTransform.keyed"), "s"),
      "CotTransform.rows_dropped" -> m(nParsed - nKeyed, "count"),
      "CotTransform.derived_s" -> m(self("CotTransform.derived"), "s"),
      "CotTransform.feature_s" -> m(self("CotTransform.feature"), "s"),
      "Dedup.s" -> m(self("Dedup"), "s"),
      "Dedup.rows_in" -> m(nKeyed, "count"),
      "Dedup.rows_out" -> m(nDeduped, "count"),
      "Dedup.keep_ratio" -> m(nDeduped / math.max(1.0, nKeyed), "ratio"),
      "Dedup.shuffle_write_bytes" -> m(d1("shuffle_write_bytes") / reps, "bytes"),
      "Dedup.spill_bytes" -> m(d1("spill_bytes") / reps, "bytes"),
      "Dedup.task_skew" -> m(d1("task_skew"), "ratio"),
      "IncludesJoin.s" -> m(self("IncludesJoin"), "s"),
      "IncludesJoin.match_ratio" -> m(nRun / math.max(1.0, nDeduped), "ratio"),
      "FeatureSink.s" -> m(self("FeatureSink"), "s"),
      "FeatureSink.calls" -> m((calls1 - calls0).toDouble / reps, "count"),
      "FeatureSink.features" -> m(features, "count"),
      "FeatureSink.bytes" -> m((bytes1 - bytes0).toDouble / reps, "bytes"),
      "spark.planning_ms" -> m(Stats.median(planning.toSeq), "ms"))
  }

  /** Micro-batch phases from the query's own progress reports, averaged
    * over the batches that carried data. */
  def stream(progress: Seq[StreamingQueryProgress], backlogMax: Double): Map[String, Metric] = {
    val ps = progress.filter(_.numInputRows > 0)
    def avg(key: String): Double =
      if (ps.isEmpty) 0.0
      else ps.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum / ps.size
    Map(
      "AdsbxStream.batches" -> m(ps.size, "count"),
      "AdsbxStream.snapshots_per_batch" -> m(if (ps.isEmpty) 0.0 else ps.map(_.numInputRows).sum.toDouble / ps.size, "count"),
      "AdsbxStream.trigger_ms" -> m(avg("triggerExecution"), "ms"),
      "AdsbxStream.addBatch_ms" -> m(avg("addBatch"), "ms"),
      "AdsbxStream.queryPlanning_ms" -> m(avg("queryPlanning"), "ms"),
      "AdsbxStream.walCommit_ms" -> m(avg("walCommit"), "ms"),
      "AdsbxStream.commitOffsets_ms" -> m(avg("commitOffsets"), "ms"),
      "AdsbxStream.latestOffset_ms" -> m(avg("latestOffset"), "ms"),
      "AdsbxStream.overhead_ms" -> m(avg("triggerExecution") - avg("addBatch"), "ms"),
      "AdsbxStream.backlog_max" -> m(backlogMax, "count"))
  }

  /** Engine totals of the traced timed region per operation it timed (a
    * snapshot, a replay or a suite pass), so that a faster program, which
    * fits more operations into the region, does not read as more work. */
  def spark(trace: SparkTrace, ops: Int): Map[String, Metric] = {
    val units = Map("jobs" -> "count/op", "stages" -> "count/op", "tasks" -> "count/op")
      .withDefault(k => if (k.endsWith("_s")) "s/op" else "bytes/op")
    trace.metrics().collect { case (k, v) if k != "task_skew" =>
      s"spark.$k" -> m(v / math.max(1, ops), units(k)) }
  }

  /** Analysis + optimization + planning time of `df`'s plan, from its
    * `QueryExecution.tracker`, forcing the physical plan. */
  def planningMs(df: DataFrame): Double = {
    val qe = df.queryExecution
    qe.executedPlan
    Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get).map(_.durationMs).sum.toDouble
  }
}
