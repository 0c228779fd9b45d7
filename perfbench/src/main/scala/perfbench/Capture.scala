package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.parallel.CollectionConverters._

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.JsonNode

/** The submit end of `FeatureSink`: a JVM-global collector. The submit
  * function runs inside Spark tasks on deserialized copies of its closure,
  * so a counter captured in the closure would count on a copy; this object
  * is reached statically and is the same instance in every task of a
  * local-mode session. Documents are only queued here, so the timed path
  * pays no parsing; they are checked after the timing stops. */
object Capture {
  private val docs = new ConcurrentLinkedQueue[String]()
  private val calls = new AtomicLong()
  private val bytes = new AtomicLong()

  def submit(doc: String): Unit = {
    docs.add(doc)
    calls.incrementAndGet()
    bytes.addAndGet(doc.length.toLong)
  }

  /** Take every document submitted since the last drain. */
  def drain(): Vector[String] = {
    val out = Vector.newBuilder[String]
    var d = docs.poll()
    while (d != null) { out += d; d = docs.poll() }
    out.result()
  }

  /** (submit calls, document characters) since the process started. */
  def totals: (Long, Long) = (calls.get(), bytes.get())
}

/** Output checks against the generator's expectations. */
object Check {
  private def mapper = Main.json

  /** Parse one submitted document as a FeatureCollection of Point
    * Features; Left names the first defect. Features are read one at a
    * time, so a partition-sized document never becomes one tree. */
  def parse(doc: String): Either[String, Seq[Expected]] = {
    val p = mapper.getFactory.createParser(doc)
    try {
      var kind: String = null
      val out = Seq.newBuilder[Expected]
      var n = 0
      if (p.nextToken() != JsonToken.START_OBJECT) return Left("not a JSON object")
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val field = p.getCurrentName
        p.nextToken()
        field match {
          case "type" => kind = p.getValueAsString
          case "features" if p.currentToken == JsonToken.START_ARRAY =>
            while (p.nextToken() == JsonToken.START_OBJECT) {
              val f = mapper.readTree[JsonNode](p)
              feature(f) match {
                case Some(e) => out += e; n += 1
                case None => return Left(s"malformed Feature: ${f.toString.take(200)}")
              }
            }
          case _ => p.skipChildren()
        }
      }
      if (p.nextToken() != null) Left("trailing content after the document")
      else if (kind != "FeatureCollection") Left("not a FeatureCollection")
      else if (n == 0) Left("FeatureCollection without features")
      else Right(out.result())
    } catch {
      case e: com.fasterxml.jackson.core.JacksonException => Left(s"not JSON: ${e.getOriginalMessage}")
    } finally p.close()
  }

  private def feature(f: JsonNode): Option[Expected] = {
    val props = f.path("properties")
    def str(n: JsonNode, name: String): String =
      if (n.path(name).isTextual) n.path(name).asText() else null
    if (f.path("type").asText() != "Feature" || str(f, "id") == null ||
        f.path("geometry").path("type").asText() != "Point" ||
        !props.path("speed").isNumber || !props.path("course").isNumber ||
        str(props, "type") == null || str(props, "callsign") == null) None
    else Some(Expected(str(f, "id"), str(props, "type"), str(props, "callsign"),
      props.path("speed").asDouble(), props.path("course").asDouble()))
  }

  /** Defects of the delivered features against the expected set: a
    * missing, extra or repeated id, or a value that differs. Empty when
    * the output is correct. */
  def compare(expected: Map[String, Expected], delivered: Seq[Expected]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val seen = new java.util.HashSet[String](delivered.size * 2)
    var unexpected, matched = 0
    delivered.foreach { d =>
      val first = seen.add(d.id)
      if (!first) errs += s"id ${d.id} delivered more than once"
      expected.get(d.id) match {
        case None => unexpected += 1
        case Some(e) =>
          if (first) matched += 1
          if (e != d) errs += s"id ${d.id}: got $d, want $e"
      }
    }
    if (unexpected > 0) errs += s"$unexpected unexpected ids"
    val missing = expected.size - matched
    if (missing > 0) errs += s"$missing expected ids missing"
    errs.result()
  }

  /** Parse and compare a set of documents; Left carries the defects. */
  def documents(expected: Map[String, Expected], docs: Seq[String]): Either[Seq[String], Int] = {
    val parsed = docs.par.map(parse).seq
    val bad = parsed.collect { case Left(e) => e }
    if (bad.nonEmpty) Left(bad.take(5))
    else {
      val delivered = parsed.flatMap(_.toOption.get)
      val errs = compare(expected, delivered)
      if (errs.nonEmpty) Left(errs.take(5)) else Right(delivered.size)
    }
  }
}
