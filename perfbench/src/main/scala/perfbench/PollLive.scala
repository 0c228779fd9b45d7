package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.parallel.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.adsbx.{AdsbxConfig, Fixtures}
import graft.adsbx.Fixtures.Ac
import graft.adsbx.sinks.FeatureSink
import graft.adsbx.sources.SnapshotSource
import graft.streaming.AdsbxStream

/** `poll_live`: the reference's production shape as an open loop. One
  * generator thread lands a 2,000-aircraft envelope every `IntervalMs`
  * into a snapshot-log directory, on a schedule that does not wait for the
  * pipeline; the stream (`SnapshotSource` → `AdsbxStream.run` →
  * `FeatureSink.foreachBatchSubmit`, `ProcessingTime(0)`) picks them up.
  * Each envelope carries the ~100 tracked aircraft of the includes list
  * (5% of its rows) plus aircraft drawn from a 20,000-aircraft fleet.
  * Latency runs from a snapshot's due time to the return of the sink call
  * of the micro-batch that contained it. */
final class PollLive(o: Opts) extends Workload {
  val IntervalMs = 2000L
  val PerSnapshot = 2000
  val FleetSize = 20000
  val Tracked = 100
  val WarmSnapshots = 6
  val cfg = AdsbxConfig(includesFiltering = true)

  private val dir: Path = o.work.resolve("snapshot-log")
  private val staging: Path = o.work.resolve("snapshot-staging")
  // per snapshot: its name and the rows of the aircraft on the includes
  // list (the only rows a batch's expected output depends on)
  private var snapshots: IndexedSeq[(String, Seq[Ac])] = IndexedSeq.empty
  private var includeRows: Seq[Fixtures.Inc] = Nil
  private var includeCallsign: Map[String, Option[String]] = Map.empty
  private var next = 0 // index of the next snapshot to land
  private var query: StreamingQuery = null
  private var includesDf: DataFrame = null

  // filled by the stream thread: each batch's documents and sink return
  private val batchDocs = new ConcurrentHashMap[Long, Vector[String]]()
  private val sinkReturnNs = new ConcurrentHashMap[Long, Long]()
  // filled by the generator thread: landing times of every snapshot
  private val landedNs = new ConcurrentHashMap[String, Long]()
  private val landedMs = new ConcurrentHashMap[String, Long]()
  @volatile private var genLateMaxMs = 0.0

  def prepare(): Unit = {
    val rnd = new Random(o.seed)
    val fleet = Gen.fleet(FleetSize, rnd)
    val withId = fleet.indices.filter(i => Gen.id(fleet(i)).isDefined)
    val trackedIdx = rnd.shuffle(withId).take(Tracked)
    val tracked = trackedIdx.map(fleet)
    val others = (fleet.indices.toSet -- trackedIdx).toIndexedSeq.sorted.map(fleet)
    // the includes list: padded upper-case registrations (J lower-trims
    // them), a callsign override on half, and three entries without a
    // registration, which the join skips
    val ids = tracked.map(p => Gen.id(p).get)
    includeRows = ids.zipWithIndex.map { case (id, k) =>
      val callsign = if (k % 2 == 0) Some(f"TRK$k%03d") else if (k % 4 == 1) Some("") else None
      Fixtures.Inc(k.toLong, "FIRE", callsign, Some(s" ${id.toUpperCase(java.util.Locale.ROOT)} "), "FIRE_AIR_TANKER")
    } ++ (0 until 3).map(k => Fixtures.Inc((Tracked + k).toLong, "EMS", Some("NOREG"), None, "EMS_ROTOR"))
    includeCallsign = ids.zip(includeRows.map(_.callsign)).toMap
    val count = WarmSnapshots + (o.seconds * 1000 / IntervalMs).toInt + 2
    Files.createDirectories(staging)
    Files.createDirectories(dir)
    val trackedIds = ids.toSet
    snapshots = (0 until count).par.map { i =>
      val r = Gen.rng(o.seed, i)
      val acs = r.shuffle(tracked ++ Gen.draw(others, PerSnapshot - Tracked, r)).map(Gen.appearance(_, r))
      // written ahead under a dot-prefixed name the snapshot source does
      // not list; landing is one atomic rename into the log
      Files.write(staging.resolve(s".${Gen.snapshotName(i)}.tmp"), Gen.envelope(acs))
      (Gen.snapshotName(i), acs.filter(a => Gen.id(a).exists(trackedIds)))
    }.seq.toIndexedSeq
  }

  /** What the batch covering `names` must deliver: D1 over its snapshots
    * in arrival order, then only the aircraft on the includes list. */
  private def expectedFor(names: Seq[String]): Map[String, Expected] = {
    val byName = snapshots.iterator.map(s => s._1 -> s._2).toMap
    Gen.lastWins(names.iterator.flatMap(byName(_).iterator)).collect {
      case (id, a) if includeCallsign.contains(id) => id -> Gen.expected(a, includeCallsign(id))
    }
  }

  private def land(i: Int): Unit = {
    val name = snapshots(i)._1
    Files.copy(staging.resolve(s".$name.tmp"), dir.resolve(s".$name.tmp"))
    Files.move(dir.resolve(s".$name.tmp"), dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    landedNs.put(name, System.nanoTime())
    landedMs.put(name, System.currentTimeMillis())
  }

  private def start(spark: SparkSession): Unit = {
    import spark.implicits._
    includesDf = includeRows.toDF()
    val lines = spark.readStream.format(SnapshotSource.NAME).load(dir.toString)
      .select(col("body").as("value"), col("arrival_idx"))
    val submit = FeatureSink.foreachBatchSubmit(Capture.submit) _
    query = AdsbxStream.run(lines, includesDf, cfg, (df: DataFrame, id: Long) => {
      submit(df, id)
      sinkReturnNs.put(id, System.nanoTime())
      batchDocs.put(id, Capture.drain())
    }, Trigger.ProcessingTime(0))
  }

  /** Block until the stream has committed a batch ending at `name`. */
  private def awaitProcessed(name: String, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = Option(query.lastProgress).exists(_.sources.exists(_.endOffset == name))
    while (!done && System.currentTimeMillis() < deadline && query.isActive) Thread.sleep(5)
    done
  }

  /** Warm-up: start the stream and land the warm-up snapshots one at a
    * time, so each is its own micro-batch. */
  def warm(spark: SparkSession): Seq[Double] = {
    start(spark)
    val walls = (0 until WarmSnapshots).map { i =>
      val t0 = System.nanoTime()
      land(i)
      awaitProcessed(snapshots(i)._1, 60000)
      (System.nanoTime() - t0) / 1e9
    }
    next = WarmSnapshots
    walls
  }

  def measure(spark: SparkSession, seconds: Int, spans: Spans): Outcome = {
    val n = math.min((seconds * 1000 / IntervalMs).toInt, snapshots.size - next)
    val first = next
    val names = (first until first + n).map(snapshots(_)._1)
    val t0 = System.nanoTime() + 20000000L
    val due = names.indices.map(k => names(k) -> (t0 + k * IntervalMs * 1000000L)).toMap
    HeapPeak.armed = true
    val gen = new Thread(() => {
      names.indices.foreach { k =>
        val d = due(names(k))
        val wait = d - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        land(first + k)
        genLateMaxMs = math.max(genLateMaxMs, (landedNs.get(names(k)) - d) / 1e6)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    next = first + n
    val delivered = awaitProcessed(names.last, 30000)
    HeapPeak.armed = false

    // which snapshots each batch took, from the progress offsets
    val progress = query.recentProgress.toSeq
    val offsets = progress.filter(_.numInputRows > 0).map { p =>
      val s = p.sources.head
      Stats.BatchOffsets(p.batchId, Option(s.startOffset).filter(_.nonEmpty), s.endOffset)
    }
    val all = snapshots.take(next).map(_._1)
    val byBatch = Stats.attribute(offsets, all)
    val batchOf = byBatch.toSeq.flatMap { case (b, ns) => ns.map(_ -> b) }.toMap
    val checks = byBatch.map { case (b, ns) =>
      b -> Check.documents(expectedFor(ns), Option(batchDocs.get(b)).getOrElse(Vector.empty))
    }
    val badBatches = checks.collect { case (b, Left(_)) => b }.toSet
    val lat = names.flatMap { nm =>
      batchOf.get(nm).filterNot(badBatches).flatMap(b => Option(sinkReturnNs.get(b)))
        .map(r => (r - due(nm)) / 1e6)
    }
    val failed = n - lat.size
    val timedBatches = names.flatMap(batchOf.get).distinct.toSet
    val timedProgress = progress.filter(p => timedBatches(p.batchId))
    val busyS = timedProgress.map(_.durationMs.get("triggerExecution").doubleValue).sum / 1e3
    val (tailP, tailMs) = if (lat.nonEmpty) Stats.tail(lat) else (100.0, 0.0)
    val metrics =
      if (lat.isEmpty) Map.empty[String, Metric]
      else Map(
        "latency_p50_ms" -> Metric(Stats.percentile(lat, 50), "ms"),
        "latency_tail_ms" -> Metric(tailMs, "ms"),
        "live_heap_peak_mb" -> Metric(HeapPeak.peakMb, "MB"))
    // backlog at a batch: snapshots landed by its trigger start that no
    // earlier batch took
    val backlog = timedProgress.sortBy(_.batchId).map { p =>
      val startMs = Instant.parse(p.timestamp).toEpochMilli
      all.count(nm => Option(landedMs.get(nm)).exists(_ <= startMs) &&
        batchOf.get(nm).forall(_ >= p.batchId))
    }
    lastProgress = timedProgress
    lastBacklogMax = if (backlog.isEmpty) 0.0 else backlog.max.toDouble
    lastNames = names
    Outcome(n, failed, delivered && failed == 0 && checks.values.forall(_.isRight), n, metrics, Map(
      "loop" -> s"open: one envelope every $IntervalMs ms",
      "input" -> Map("aircraft_per_envelope" -> PerSnapshot, "fleet" -> FleetSize,
        "includes" -> includeRows.size, "tracked_aircraft" -> Tracked,
        "includes_filtering" -> true, "timed_snapshots" -> n, "warm_snapshots" -> WarmSnapshots),
      "tail_percentile" -> tailP, "batches" -> timedBatches.size,
      // raw aircraft of the timed snapshots over their batches' busy time
      "aircraft_per_busy_s" -> PerSnapshot.toDouble * lat.size / math.max(1e-9, busyS),
      "gen_late_ms_max" -> genLateMaxMs, "latency_ms" -> lat,
      "errors" -> checks.values.collect { case Left(e) => e }.flatten.take(10).toSeq))
  }

  // the last measure call's batches, for the traced run's layers
  private var lastProgress: Seq[StreamingQueryProgress] = Nil
  private var lastBacklogMax = 0.0
  private var lastNames: Seq[String] = Nil

  def layers(spark: SparkSession, trace: SparkTrace, spans: Spans): Map[String, Metric] = {
    val (progress, names) = (lastProgress, lastNames)
    query.stop()
    // layer self times at micro-batch size: the ladder over a log holding
    // as many of the timed snapshots as a batch took on average
    val perBatch = math.max(1, math.round(progress.map(_.numInputRows).sum.toDouble / math.max(1, progress.size)).toInt)
    val ladderDir = o.work.resolve("ladder-log")
    Files.createDirectories(ladderDir)
    names.takeRight(perBatch).foreach { nm =>
      Files.copy(dir.resolve(nm), ladderDir.resolve(nm))
    }
    val expected = expectedFor(names.takeRight(perBatch))
    Layers.stream(progress, lastBacklogMax) ++
      Layers.ladder(spark, trace, spans, ladderDir.toString, includesDf, cfg, Some(expected), reps = 5) +
      ("harness.gen_late_ms_max" -> Metric(genLateMaxMs, "ms"))
  }
}
