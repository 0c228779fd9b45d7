package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      cores: Int, work: Path, out: Path, corpus: Path)

/** A metric as the result line reports it. */
final case class Metric(value: Double, unit: String)

/** What one workload run measured and checked. `ops` is the number of
  * operations the run timed (snapshots, replays or suite passes), which
  * the traced run divides engine totals by. `record` is free-form context
  * written to the run record next to the metrics. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean, ops: Int,
                         metrics: Map[String, Metric],
                         record: Map[String, Any] = Map.empty)

/** A workload: inputs are made before the clock starts (`prepare`), the
  * warm-up is part of set-up and returns the seconds of each of its
  * operations, `measure` runs for the given seconds. */
trait Workload {
  def prepare(): Unit
  def warm(spark: SparkSession): Seq[Double]
  def measure(spark: SparkSession, seconds: Int, spans: Spans): Outcome
  /** The traced run's extra per-layer work, after `measure`. */
  def layers(spark: SparkSession, trace: SparkTrace, spans: Spans): Map[String, Metric]
}

/** Runs one workload in this JVM and prints the result line. Launched by
  * `perfbench/run.py`, which builds the classpath and relays the line.
  * Set-up is timed once, cold: session build through warm-up. */
object Main {
  // the post-GC heap peak splits into two modes by GC timing (quartile
  // spread 0.23-0.31 over ten runs of poll_live), too wide for a regression
  // bound: the result line carries it as a per-layer metric of the traced
  // run, and every run record keeps it
  val HeapMetric = "live_heap_peak_mb"
  val Primary = "latency_p50_ms"
  val ResultTag = "PERFBENCH_RESULT "

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, Paths.get(need("work")), Paths.get(need("out")), Paths.get(need("corpus")))
  }

  def session(o: Opts): SparkSession = {
    val w = o.work.toAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", w.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", w.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", w.resolve("checkpoints").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Materialize every column of `df` without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case _: java.io.IOException => "" }

  /** (steal, total) CPU jiffies so far, from the first line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  private def asJson(ms: Map[String, Metric]): Map[String, Map[String, Any]] =
    ListMap(ms.toSeq.sortBy(_._1): _*).map { case (k, m) => k -> ListMap("value" -> m.value, "unit" -> m.unit) }

  def workload(o: Opts): Workload = o.workload match {
    case "poll_live" => new PollLive(o)
    case "backfill" => new Backfill(o)
    case "ops_suite" => new OpsSuite(o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    Files.createDirectories(o.out)
    val load0 = loadavg()
    val w = workload(o)
    val tGen = System.nanoTime()
    w.prepare()
    val genS = (System.nanoTime() - tGen) / 1e9
    HeapPeak.install()

    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val warmS = w.warm(spark)
    val setupS = (System.nanoTime() - t0) / 1e9

    val cpu0 = cpuJiffies()
    val spans = new Spans(s"${o.workload}-${o.seed}", enabled = o.trace)
    // the traced run measures three thirds of --seconds: untraced, traced,
    // untraced; the traced third against the mean of the other two (which
    // cancels a steady drift) is the tracing overhead
    val (outcome, layerMetrics) =
      if (!o.trace) (w.measure(spark, o.seconds, spans), Map.empty[String, Metric])
      else {
        val third = math.max(1, o.seconds / 3)
        val off = new Spans("untraced", enabled = false)
        val before = w.measure(spark, third, off)
        val trace = new SparkTrace
        spark.sparkContext.addSparkListener(trace)
        val traced = spans(o.workload)(w.measure(spark, third, spans))
        HeapPeak.collectNow()
        trace.flush(spark)
        val engine = Layers.spark(trace, traced.ops)
        spark.sparkContext.removeSparkListener(trace)
        val after = w.measure(spark, math.max(1, o.seconds - 2 * third), off)
        spark.sparkContext.addSparkListener(trace)
        def primary(x: Outcome) = x.metrics.get(Primary).map(_.value)
        val overhead = (for (a <- primary(before); b <- primary(traced); c <- primary(after))
          yield 2 * b / (a + c) - 1).getOrElse(0.0)
        val layers = w.layers(spark, trace, spans) ++ engine +
          (s"jvm.$HeapMetric" -> Metric(HeapPeak.peakMb, "MB")) +
          ("harness.trace_overhead_frac" -> Metric(overhead, "ratio"))
        val parts = Seq(before, traced, after)
        (Outcome(parts.map(_.attempted).sum, parts.map(_.failed).sum, parts.forall(_.correct),
          parts.map(_.ops).sum, traced.metrics, Map("untraced_before" -> before.record,
            "traced" -> traced.record, "untraced_after" -> after.record)), layers)
      }
    val load1 = loadavg()
    val cpu1 = cpuJiffies()

    val e2e = Map("setup_s" -> Metric(setupS, "s")) ++ outcome.metrics
    val reported = if (o.trace) layerMetrics else e2e - HeapMetric
    val record = ListMap(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cores" -> o.cores, "master" -> s"local[${o.cores}]",
      "loadavg_before" -> load0, "loadavg_after" -> load1,
      "cpu_steal_frac" -> (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2),
      "input_generation_s" -> genS, "session_s" -> sessionS, "warm_s" -> warmS,
      "correct" -> outcome.correct, "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "end_to_end" -> asJson(e2e), "per_layer" -> asJson(layerMetrics),
      "context" -> outcome.record)
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    Files.write(o.out.resolve(s"$tag.json"), json.writeValueAsBytes(record))
    if (o.trace)
      Files.write(o.out.resolve(s"$tag.spans.jsonl"), spans.jsonLines.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    println(ResultTag + json.writeValueAsString(ListMap(
      "correct" -> outcome.correct, "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "metrics" -> asJson(reported))))
    Console.out.flush()
    sys.exit(0)
  }
}
