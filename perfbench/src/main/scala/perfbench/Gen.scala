package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.util.Random

import graft.adsbx.Fixtures
import graft.adsbx.Fixtures.Ac

/** One aircraft of a generated fleet: the fields that stay fixed across
  * its appearances in snapshots. */
final case class Plane(hex: String, r: Option[String], flight: Option[String],
                       t: Option[String], category: Option[String],
                       dbFlags: Option[Double])

/** The values the pipeline must deliver for one aircraft, computed in plain
  * Scala from the raw record (P1-P3, P8-P14 and the includes override). */
final case class Expected(id: String, cotType: String, callsign: String,
                          speed: Double, course: Double)

/** Seeded workload generator: reference-shaped envelopes (built with
  * `Fixtures.envelopeJson`) carrying the quirk matrix at fixed rates. */
object Gen {
  // quirk rates: per plane for identity quirks, per appearance otherwise
  val EmptyRegRate = 0.05    // r = "" → the id falls back to the flight
  val BlankFlightRate = 0.02 // no r, whitespace-only flight → dropped (P6)
  val TrackZeroRate = 0.03   // track 0 → course sentinel (P14)
  val GroundRate = 0.03      // alt_geom 0 and alt_baro "ground" (P5, V2)
  val EmergencyRate = 0.01   // emergency other than "none" (P9, P16)

  private val categories =
    Vector(Some("A1"), Some("A2"), Some("A3"), Some("A5"), Some("A7"),
      Some("B2"), Some("C1"), None)
  private val dbFlagValues = Vector(Some(0.0), Some(1.0), Some(2.5), None)
  private val types = Vector(Some("B738"), Some("C172"), Some("AT8T"),
    Some("H60"), None)
  private val emergencies = Vector("general", "lifeguard", "squawk7700")
  private val airlines = Vector("UAL", "DAL", "SWA", "CFR", "LIFE")

  private val scale = Array(1.0, 10.0, 100.0, 1000.0, 10000.0, 100000.0)
  private def r2(x: Double, digits: Int): Double = math.round(x * scale(digits)) / scale(digits)
  private def pad6(i: Int): String = { val s = i.toString; "0" * (6 - s.length) + s }

  /** `n` planes with distinct ids (blank-flight planes have none). */
  def fleet(n: Int, rnd: Random): IndexedSeq[Plane] = (0 until n).map { i =>
    val u = rnd.nextDouble()
    val (r, flight) =
      if (u < BlankFlightRate) (None, Some(" " * (1 + rnd.nextInt(6))))
      else if (u < BlankFlightRate + EmptyRegRate) (Some(""), Some("FL" + pad6(i) + "  "))
      else {
        // one registration in ten arrives padded and lower-cased (P3)
        val reg = if (rnd.nextInt(10) == 0) " n" + pad6(i) + "x " else "N" + pad6(i) + "X"
        val fl = if (rnd.nextInt(10) == 0) None
          else Some(airlines(rnd.nextInt(airlines.size)) + (rnd.nextInt(9000) + 100) + "    ")
        (Some(reg), fl)
      }
    Plane(Integer.toHexString(0xa00000 + i), r, flight, types(rnd.nextInt(types.size)),
      categories(rnd.nextInt(categories.size)),
      dbFlagValues(rnd.nextInt(dbFlagValues.size)))
  }

  /** One appearance of `p` in a snapshot. */
  def appearance(p: Plane, rnd: Random): Ac = {
    val ground = rnd.nextDouble() < GroundRate
    val alt = if (ground) 0.0 else (100 + rnd.nextInt(400)) * 100.0
    Ac(0L, p.hex, "adsb_icao", None, p.flight, p.r, p.t, p.dbFlags,
      Some(if (ground) "ground" else alt.toLong.toString),
      Some(alt), Some(r2(rnd.nextDouble() * 480, 1)),
      Some(if (rnd.nextDouble() < TrackZeroRate) 0.0 else r2(0.1 + rnd.nextDouble() * 359.8, 1)),
      Some((rnd.nextInt(41) - 20) * 64.0),
      Some(Integer.toOctalString(rnd.nextInt(4096) + 4096).substring(1)),
      Some(if (rnd.nextDouble() < EmergencyRate) emergencies(rnd.nextInt(3)) else "none"),
      p.category, Some(1013.2), None, None,
      r2(32 + rnd.nextDouble() * 10, 5), r2(-124 + rnd.nextDouble() * 10, 5),
      r2(rnd.nextDouble() * 5, 1), r2(rnd.nextDouble() * 5, 1),
      Some(r2(rnd.nextDouble() * 250, 2)))
  }

  /** `count` distinct planes of `fleet`, drawn uniformly. */
  def draw(fleet: IndexedSeq[Plane], count: Int, rnd: Random): Seq[Plane] = {
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < count) picked += rnd.nextInt(fleet.size)
    picked.toSeq.map(fleet)
  }

  // ---- the reference's semantics, in plain Scala -----------------------

  /** Spark's `trim`: spaces only. */
  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }
  private def falsy(s: Option[String]): Option[String] = s.filter(_.nonEmpty)

  /** P1-P3 + P6: `lower(trim(r || flight))`, None when the row is dropped. */
  def id(r: Option[String], flight: Option[String]): Option[String] =
    falsy(r).orElse(flight).map(s => trimSpaces(s).toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
  def id(a: Ac): Option[String] = id(a.r, a.flight)
  def id(p: Plane): Option[String] = id(p.r, p.flight)

  def expected(a: Ac, includeCallsign: Option[String] = None,
               emergencyHostile: Boolean = false): Expected = {
    val airframe = a.category match {
      case Some("A0" | "A1" | "A2" | "A3" | "A4" | "A5" | "A6") => "-F"
      case Some("A7") => "-H"
      case Some("B2") => "-L"
      case _ => ""
    }
    val civmil = if (a.dbFlags.exists(_ % 2 != 0)) "-M" else "-C"
    val emerg = if (emergencyHostile && a.emergency.exists(_ != "none")) "-h" else "-f"
    Expected(id(a).get, s"a$emerg-A$civmil$airframe",
      falsy(includeCallsign).getOrElse(trimSpaces(falsy(a.flight).getOrElse(""))),
      a.gs.getOrElse(9999999.0) * 0.514444,
      a.track.filter(t => t != 0.0 && !t.isNaN).getOrElse(9999999.0))
  }

  /** D1 over rows in arrival order: the last row of each id wins. */
  def lastWins(rows: Iterator[Ac]): Map[String, Ac] = {
    val m = scala.collection.mutable.HashMap.empty[String, Ac]
    rows.foreach(a => id(a).foreach(m.update(_, a)))
    m.toMap
  }

  /** Land one envelope under `name` atomically: a dot-prefixed temp file
    * (which the snapshot source does not list) renamed into place, so no
    * reader ever sees a half-written envelope. */
  def land(dir: Path, name: String, body: Array[Byte]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, body)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def envelope(acs: Seq[Ac]): Array[Byte] =
    Fixtures.envelopeJson(acs).getBytes(StandardCharsets.UTF_8)

  def snapshotName(i: Int): String = "snap_" + pad6(i) + ".json"

  /** The generator of envelope `i` of a run seeded `seed`. */
  def rng(seed: Long, i: Int): Random = new Random(seed * 1000003L + i)
}
