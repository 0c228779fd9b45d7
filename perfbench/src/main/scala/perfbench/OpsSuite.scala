package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.Staging

/** `ops_suite`: the operator-library half of the repository — queries of
  * `SparkEntry.queries` over the corpus copy in `perfbench/corpus`, each
  * materialized with a noop write, Staging cleared before every pass. The
  * set covers the flagship ETL query on corpus rows, text fingerprinting,
  * a graph kernel and a stream query; the ETL path is idle except in the
  * flagship. Results are checked against the digests recorded in
  * `corpus/digests.json`. */
final class OpsSuite(o: Opts) extends Workload {
  val Queries: Seq[String] = Seq("cot_pipeline_corpus", "text_fingerprint", "graph_hits",
    "stream_dedup_lastwins")
  // passes of the warm-up: passes three to six still ran ~1.35x to ~1.05x
  // the steady pass time, and the first timed pass set the tail
  val WarmPasses = 5

  private val corpus = o.corpus.toAbsolutePath.toString
  private var recorded: Map[String, String] = Map.empty

  def prepare(): Unit = {
    require(Files.isRegularFile(o.corpus.resolve("lineitem.parquet")),
      s"$corpus does not hold the corpus tables")
    val json = Main.json.readTree(o.corpus.resolve("digests.json").toFile)
    recorded = Queries.flatMap(q => Option(json.get(q)).map(q -> _.asText())).toMap
  }

  private def pass(spark: SparkSession, spans: Spans): (Map[String, Double], Double, Int, Map[String, DataFrame]) = {
    Staging.clear(spark)
    Staging.drainBuildLog()
    val frames = Map.newBuilder[String, DataFrame]
    val times = Queries.map { q =>
      spark.sparkContext.setJobGroup(s"ops.$q", q)
      val t0 = System.nanoTime()
      try spans(s"ops.$q", parent = "ops.pass") {
        val df = SparkEntry.queries(q)(spark, corpus)
        Main.noop(df)
        frames += q -> df
      } finally spark.sparkContext.clearJobGroup()
      q -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val builds = Staging.drainBuildLog()
    (times, builds.map(_._2).sum, builds.size, frames.result())
  }

  def warm(spark: SparkSession): Seq[Double] = {
    Staging.setInstrumented(true)
    (1 to WarmPasses).map(_ => pass(spark, new Spans("warm", enabled = false))._1.values.sum)
  }

  // passes of the last measure call: per-query seconds, staging builds
  private var lastTimes: Seq[Map[String, Double]] = Nil
  private var lastBuilds: Seq[(Double, Int)] = Nil

  def measure(spark: SparkSession, seconds: Int, spans: Spans): Outcome = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    val times = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val builds = scala.collection.mutable.ArrayBuffer.empty[(Double, Int)]
    var lastFrames = Map.empty[String, DataFrame]
    HeapPeak.armed = true
    while (times.isEmpty || System.nanoTime() < deadline) {
      val (t, b, n, frames) = spans("ops.pass", parent = "ops_suite")(pass(spark, spans))
      times += t; builds += (b -> n); lastFrames = frames
    }
    HeapPeak.armed = false
    lastTimes = times.toSeq
    lastBuilds = builds.toSeq
    val got = Queries.map(q => q -> OpsSuite.digest(lastFrames(q))).toMap
    val wrong = Queries.filter(q => !recorded.get(q).contains(got(q)))
    val medians = Queries.map(q => q -> Stats.median(times.map(_(q)).toSeq)).toMap
    // a suite pass is the operation: its time is one latency sample
    val passes = times.map(_.values.sum).toSeq
    val (tailP, tailS) = Stats.tail(passes)
    Outcome(Queries.size, wrong.size, wrong.isEmpty, passes.size, Map(
      "latency_p50_ms" -> Metric(Stats.median(passes) * 1000, "ms"),
      "latency_tail_ms" -> Metric(tailS * 1000, "ms"),
      "live_heap_peak_mb" -> Metric(HeapPeak.peakMb, "MB")), Map(
      "loop" -> s"closed: one pass of the ${Queries.size} queries after another",
      "input" -> Map("corpus" -> "perfbench/corpus (sf0.01, seed 42)", "queries" -> Queries),
      "pass_s" -> passes, "tail_percentile" -> tailP,
      "ops_suite_s" -> medians.values.sum, "query_s" -> medians, "pass_query_s" -> times.toSeq,
      "digests" -> got,
      "digest_mismatch" -> wrong))
  }

  def layers(spark: SparkSession, trace: SparkTrace, spans: Spans): Map[String, Metric] = {
    // the old series' basis next to the materialized one: .count() per
    // query, as graft.Bench times it
    Staging.clear(spark)
    val counts = Queries.map { q =>
      val t0 = System.nanoTime()
      spans(s"ops.$q.count", parent = "ops")(SparkEntry.queries(q)(spark, corpus).count())
      s"ops.$q.count_s" -> Metric((System.nanoTime() - t0) / 1e9, "s")
    }
    val planning = Queries.map(q => Layers.planningMs(SparkEntry.queries(q)(spark, corpus))).sum
    Queries.map(q => s"ops.${q}_s" -> Metric(Stats.median(lastTimes.map(_(q))), "s")).toMap ++
      counts + ("Staging.build_s" -> Metric(Stats.median(lastBuilds.map(_._1)), "s")) +
      ("Staging.builds" -> Metric(Stats.median(lastBuilds.map(_._2.toDouble)), "count")) +
      ("spark.planning_ms" -> Metric(planning, "ms"))
  }
}

object OpsSuite {
  /** Order-insensitive digest of a result: row count and the sum of each
    * row's xxhash64 over its JSON rendering. */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }
}
