package perfbench

import graft.adsbx.Fixtures.Ac

/** Tests of the benchmark's pure helpers: `python3 perfbench/build.py --test`. */
object HelpersTest {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit =
    if (!(try cond catch { case e: Exception => println(s"  $e"); false })) {
      failures += 1; println(s"FAIL $name")
    } else println(s"ok   $name")

  private def ac(r: Option[String], flight: Option[String], gs: Option[Double] = Some(100.0),
                 track: Option[Double] = Some(90.0)): Ac =
    Ac(0, "abc123", "adsb_icao", None, flight, r, None, Some(1.0), Some("1000"), Some(1000.0),
      gs, track, None, None, Some("none"), Some("A7"), None, None, None, 40.0, -120.0, 0.5, 1.0, None)

  private def doc(fs: Seq[Expected]): String = fs.map { e =>
    s"""{"id":"${e.id}","type":"Feature","properties":{"type":"${e.cotType}",""" +
      s""""callsign":"${e.callsign}","speed":${e.speed},"course":${e.course}},""" +
      """"geometry":{"type":"Point","coordinates":[-120.0,40.0]}}"""
  }.mkString("""{"type":"FeatureCollection","features":[""", ",", "]}")

  def main(args: Array[String]): Unit = {
    // tail percentile: the highest ladder step with >= 10 samples beyond
    check("tail percentile picks p75 at 40 samples")(Stats.tailPercentile(40).contains(75.0))
    check("tail percentile picks p90 at 100 samples")(Stats.tailPercentile(100).contains(90.0))
    check("tail percentile picks p99 at 1000 samples")(Stats.tailPercentile(1000).contains(99.0))
    check("tail percentile holds p75 below 100 samples")(Stats.tailPercentile(99).contains(75.0))
    check("tail percentile picks p60 at 25 samples")(Stats.tailPercentile(25).contains(60.0))
    check("tail percentile falls to the median at 20 samples")(Stats.tailPercentile(20).contains(50.0))
    check("no tail percentile under 20 samples")(Stats.tailPercentile(19).isEmpty)
    check("tail of a large sample is the ladder percentile")(
      Stats.tail((1 to 40).map(_.toDouble)) == (75.0, 30.0))
    check("tail of too small a sample is its maximum")(
      Stats.tail(Seq(3.0, 9.0, 4.0)) == (100.0, 9.0))
    check("nearest-rank percentile")(
      Stats.percentile((1 to 40).map(_.toDouble), 75) == 30.0 &&
        Stats.percentile(Seq(5.0), 99) == 5.0)

    // attribution of snapshots to batches from filename-watermark offsets
    val names = (0 until 6).map(Gen.snapshotName)
    val by = Stats.attribute(Seq(
      Stats.BatchOffsets(0, None, names(1)),
      Stats.BatchOffsets(1, Some(names(1)), names(2)),
      Stats.BatchOffsets(2, Some(names(2)), names(4))), names)
    check("first batch takes everything up to its end")(by(0) == names.take(2))
    check("later batches take (start, end]")(by(1) == Seq(names(2)) && by(2) == names.slice(3, 5))
    check("a snapshot no batch reached is unattributed")(!by.values.flatten.toSet.contains(names(5)))

    // prefix differencing
    val self = Stats.prefixSelfTimes(Seq("parse" -> 2.0, "dedup" -> 5.0, "sink" -> 4.5)).toMap
    check("first prefix keeps its own time")(self("parse") == 2.0)
    check("each layer is its prefix minus the previous")(self("dedup") == 3.0 && self("sink") == -0.5)

    // the reference's id and value semantics
    check("r empty falls back to the flight")(Gen.id(ac(Some(""), Some(" FL1 "))).contains("fl1"))
    check("whitespace-only flight is dropped")(Gen.id(ac(None, Some("   "))).isEmpty)
    check("registration is lower-trimmed")(Gen.id(ac(Some(" N1AB "), Some("X"))).contains("n1ab"))
    val e = Gen.expected(ac(Some("N1"), Some("CS1  "), gs = None, track = Some(0.0)))
    check("null speed and zero track take the sentinels")(
      e.speed == 9999999.0 * 0.514444 && e.course == 9999999.0 && e.callsign == "CS1")
    check("cot type of a military rotorcraft")(e.cotType == "a-f-A-M-H")
    check("last row of an id wins")(Gen.lastWins(Iterator(
      ac(Some("N1"), None, gs = Some(1.0)), ac(Some("N1"), None, gs = Some(2.0)))).apply("n1").gs.contains(2.0))

    // the checker accepts the right output and rejects corrupted ones
    val want = Seq(Expected("n1", "a-f-A-C-F", "CS1", 51.4444, 90.0),
      Expected("n2", "a-f-A-M-H", "", 9999999.0 * 0.514444, 9999999.0))
    val expected = want.map(x => x.id -> x).toMap
    check("checker accepts the expected output")(Check.documents(expected, Seq(doc(want))) == Right(2))
    check("checker accepts the output split over documents")(
      Check.documents(expected, want.map(x => doc(Seq(x)))) == Right(2))
    check("checker rejects a changed value")(
      Check.documents(expected, Seq(doc(Seq(want(0).copy(callsign = "XX"), want(1))))).isLeft)
    check("checker rejects a missing feature")(Check.documents(expected, Seq(doc(want.take(1)))).isLeft)
    check("checker rejects a repeated feature")(Check.documents(expected, Seq(doc(want :+ want(0)))).isLeft)
    check("checker rejects an unexpected feature")(
      Check.documents(expected, Seq(doc(want :+ want(0).copy(id = "n3")))).isLeft)
    check("checker rejects a truncated document")(
      Check.documents(expected, Seq(doc(want).dropRight(3))).isLeft)
    check("checker rejects a document that is not a FeatureCollection")(
      Check.documents(expected, Seq(doc(want).replace("FeatureCollection", "Feature"))).isLeft)

    println(if (failures == 0) "all helper tests passed" else s"$failures helper tests failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
