package perfbench

import java.nio.file.{Files, Path}

import scala.collection.parallel.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.adsbx.{AdsbxConfig, CotTransform, Dedup, Fixtures, Pipeline}
import graft.adsbx.sinks.FeatureSink
import graft.adsbx.sources.{AdsbxSource, SnapshotSource}
import graft.streaming.AdsbxStream

/** `backfill`: an archive replay as one closed batch job per repetition —
  * 50 envelopes x 3,000 aircraft drawn from a 75,000-aircraft fleet
  * (about two raw rows per distinct id), includes filtering off, so every
  * D1 winner is derived, assembled, serialized and submitted. The row work
  * falls on parse, the D1 shuffle, P4-P17 and the sink, with no streaming
  * machinery. */
final class Backfill(o: Opts) extends Workload {
  val Envelopes = 50
  val PerFile = 3000
  val FleetSize = 75000
  val Tracked = 100 // registrations on the includes list of the traced join
  val cfg = AdsbxConfig(includesFiltering = false)

  // replays of the warm-up: the replay time falls by a third over the
  // first seven replays after the cold one and levels off from the eighth
  val WarmReplays = 7

  private val dir: Path = o.work.resolve("archive")
  private var expected: Map[String, Expected] = Map.empty

  // the archive is due at once when generation starts; the generator is
  // as late as the landing of its last envelope
  private var landingMs = 0.0

  def prepare(): Unit = {
    val t0 = System.nanoTime()
    val fleet = Gen.fleet(FleetSize, new Random(o.seed))
    Files.createDirectories(dir)
    val winners = scala.collection.mutable.HashMap.empty[String, Fixtures.Ac]
    // envelopes are built in parallel, each from its own seeded generator,
    // and folded into the winners in arrival order
    (0 until Envelopes).grouped(16).foreach { chunk =>
      val built = chunk.par.map { i =>
        val rnd = Gen.rng(o.seed, i)
        val acs = Gen.draw(fleet, PerFile, rnd).map(Gen.appearance(_, rnd))
        Gen.land(dir, Gen.snapshotName(i), Gen.envelope(acs))
        acs
      }.seq
      built.foreach(_.foreach(a => Gen.id(a).foreach(winners.update(_, a))))
    }
    landingMs = (System.nanoTime() - t0) / 1e6
    expected = winners.iterator.map { case (id, a) => id -> Gen.expected(a) }.toMap
  }

  private def includes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[Fixtures.Inc].toDF()
  }

  /** One replay: first layer call to the return of the last submit. */
  private def replay(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val aircraft = AdsbxSource.fromSnapshotDir(spark, dir.toString)
    FeatureSink.submitCollections(Pipeline.features(aircraft, includes(spark), cfg), Capture.submit)
    (System.nanoTime() - t0) / 1e9
  }

  /** Replays checked like timed ones (the check's allocation is part of
    * the steady state). */
  def warm(spark: SparkSession): Seq[Double] = (1 to WarmReplays).map { _ =>
    val wall = replay(spark)
    Check.documents(expected, Capture.drain()).left.foreach { errs =>
      throw new IllegalStateException(s"warm-up output check failed: ${errs.mkString("; ")}")
    }
    wall
  }

  def measure(spark: SparkSession, seconds: Int, spans: Spans): Outcome = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var checkS = 0.0
    var failed = 0L
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + seconds * 1000000000L
    HeapPeak.armed = true
    while (walls.isEmpty || System.nanoTime() < deadline) {
      spark.sparkContext.setJobGroup("backfill", "archive replay")
      val wall = try Some(spans("backfill.replay", parent = "backfill")(replay(spark))) catch {
        case scala.util.control.NonFatal(e) => errors += e.toString; None
      } finally spark.sparkContext.clearJobGroup()
      HeapPeak.armed = false
      val tc = System.nanoTime()
      val docs = Capture.drain()
      wall match {
        case Some(w) =>
          Check.documents(expected, docs) match {
            case Right(_) => walls += w
            case Left(errs) => failed += 1; errors ++= errs
          }
        case None => failed += 1
      }
      checkS += (System.nanoTime() - tc) / 1e9
      HeapPeak.armed = true
    }
    HeapPeak.armed = false
    val ok = walls.nonEmpty
    // a replay is the operation: its wall time is one latency sample (every
    // snapshot of it is delivered when its last submit returns)
    val (tailP, tailS) = if (ok) Stats.tail(walls.toSeq) else (100.0, 0.0)
    val metrics =
      if (!ok) Map.empty[String, Metric]
      else Map(
        "latency_p50_ms" -> Metric(Stats.median(walls.toSeq) * 1000, "ms"),
        "latency_tail_ms" -> Metric(tailS * 1000, "ms"),
        "live_heap_peak_mb" -> Metric(HeapPeak.peakMb, "MB"))
    Outcome(walls.size + failed, failed, ok && failed == 0, walls.size, metrics, Map(
      "loop" -> "closed: one replay after another",
      "input" -> Map("envelopes" -> Envelopes, "aircraft_per_envelope" -> PerFile,
        "fleet" -> FleetSize, "distinct_ids" -> expected.size, "includes_filtering" -> false),
      "replay_s" -> walls.toSeq, "check_s" -> checkS, "tail_percentile" -> tailP,
      "aircraft_per_s" -> (if (ok) Envelopes.toDouble * PerFile * walls.size / walls.sum else 0.0),
      "errors" -> errors.take(10).toSeq))
  }

  /** The archive through the streaming path as one scheduled
    * invocation (`Trigger.AvailableNow`), for the micro-batch phases. */
  private def streamReplay(spark: SparkSession): Map[String, Metric] = {
    val lines = spark.readStream.format(SnapshotSource.NAME).load(dir.toString)
      .select(col("body").as("value"), col("arrival_idx"))
    val q = AdsbxStream.run(lines, includes(spark), cfg,
      FeatureSink.foreachBatchSubmit(Capture.submit), Trigger.AvailableNow())
    q.awaitTermination()
    val errs = Check.documents(expected, Capture.drain()).left.getOrElse(Nil)
    if (errs.nonEmpty) throw new IllegalStateException(s"stream replay output check failed: ${errs.mkString("; ")}")
    Layers.stream(q.recentProgress.toSeq, Envelopes)
  }

  /** With filtering off the includes join passes every row through, so
    * the ladder reads it idle; this times the join itself, filtering on,
    * over the same archive: the +join prefix minus the +derived one, with
    * an includes list of `Tracked` registrations among the winners. */
  private def includesJoin(spark: SparkSession, spans: Spans): Map[String, Metric] = {
    import spark.implicits._
    val on = cfg.copy(includesFiltering = true)
    val tracked = new Random(o.seed).shuffle(expected.keys.toSeq.sorted).take(Tracked)
    val inc = tracked.zipWithIndex.map { case (id, k) =>
      Fixtures.Inc(k.toLong, "FIRE", Some(f"TRK$k%03d"), Some(id.toUpperCase(java.util.Locale.ROOT)), "FIRE_AIR_TANKER")
    }.toDF()
    val parsed = AdsbxSource.fromSnapshotDir(spark, dir.toString)
    val derived = CotTransform.derived(Dedup.lastWins(CotTransform.keyed(parsed), "id", "seq"), on.emergencyHostile)
    val joined = Pipeline.run(parsed, inc, on)
    def time(name: String, df: DataFrame): Double = Stats.median((1 to 2).map { _ =>
      val t0 = System.nanoTime()
      spans(name, parent = "includes")(Main.noop(df))
      (System.nanoTime() - t0) / 1e9
    })
    val (d, j) = (time("CotTransform.derived", derived), time("IncludesJoin", joined))
    Map("IncludesJoin.s" -> Metric(j - d, "s"),
      "IncludesJoin.match_ratio" -> Metric(joined.count().toDouble / math.max(1L, derived.count()), "ratio"))
  }

  def layers(spark: SparkSession, trace: SparkTrace, spans: Spans): Map[String, Metric] =
    spans("AdsbxStream.availableNow")(streamReplay(spark)) ++
      Layers.ladder(spark, trace, spans, dir.toString, includes(spark), cfg, Some(expected), reps = 2) ++
      includesJoin(spark, spans) + ("harness.gen_late_ms_max" -> Metric(landingMs, "ms"))
}
