package graft.adsbx.sources

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.adsbx.AdsbxConfig

/** The polling request itself — URL + auth headers. */
final case class FetchRequest(url: String, headers: Map[String, String])

/** The fetch seam of the reference (task.ts:115-129), reproduced exactly:
  *
  *   - URL path: `{api}/v2/lat/{lat}/lon/{lon}/dist/{nm}/` where lat/lon
  *     come from splitting `Query LatLon` on ',' and trimming each part
  *     (task.ts:118);
  *   - query params appended in order: `apiKey={token}`,
  *     `cacheBuster={millis}` (task.ts:120-122) — form-urlencoded exactly
  *     as `URLSearchParams` serializes (Java's URLEncoder matches its
  *     unreserved set `[A-Za-z0-9.*_-]` + space→'+');
  *   - headers: `x-rapidapi-key` and `api-auth`, both the token
  *     (task.ts:125-128).
  *
  * The HTTP call is an injected function (zero egress in this library);
  * `fetchToLog` lands the returned envelope as the next file of a
  * snapshot-log directory, which `SnapshotSource` then serves to batch or
  * micro-batch readers — closing the loop from poll to pipeline. The
  * reference performs one un-retried fetch per scheduled invocation;
  * `fetchOnce` adds an optional bounded retry (a real poller's transient
  * 5xx/timeout survival) without changing the request shape.
  */
object SnapshotFetcher {

  private def enc(v: String): String =
    URLEncoder.encode(v, StandardCharsets.UTF_8)

  /** Build the exact request the reference sends (task.ts:118-128).
    * `cacheBuster` is the caller's clock (JS `new Date().getTime()`) —
    * injected for determinism. */
  def request(config: AdsbxConfig, cacheBuster: Long): FetchRequest = {
    val parts = config.queryLatLon.split(",")
    val lat = parts(0).trim
    val lon = parts(1).trim
    val url = s"${config.api}/v2/lat/$lat/lon/$lon/dist/${config.queryDist}/" +
      s"?apiKey=${enc(config.token)}&cacheBuster=$cacheBuster"
    FetchRequest(url,
      Map("x-rapidapi-key" -> config.token, "api-auth" -> config.token))
  }

  /** One poll through the injected transport, with bounded retry on
    * exception. Each attempt rebuilds the request with a fresh
    * `cacheBuster` (the reference's param exists precisely so retries and
    * repolls bypass caches). */
  def fetchOnce(config: AdsbxConfig, http: FetchRequest => String,
                clock: () => Long, maxAttempts: Int = 3): String = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxAttempts) {
      try return http(request(config, clock()))
      // NonFatal: an interrupt or VM error must abort the poll loop, not
      // burn the remaining attempts against a dying process
      catch { case scala.util.control.NonFatal(e) => last = e; attempt += 1 }
    }
    throw new RuntimeException(
      s"snapshot fetch failed after $maxAttempts attempts", last)
  }

  /** Poll once and append the envelope to a snapshot-log directory under
    * the monotonic-filename contract `SnapshotSource` reads
    * (`snap_{seq}.json`, zero-padded so name order == arrival order).
    *
    * The file appears whole: the body is written to `.snap_{seq}.json.tmp`
    * (a name `SnapshotSource` never lists) and then hard-linked under its
    * final name, so a trigger listing mid-write never sees a truncated
    * envelope. A link, not a rename: `createLink` refuses an existing
    * name (a repeated seq throws and the first body stays), where an
    * ATOMIC_MOVE would silently replace it on Linux. */
  def fetchToLog(config: AdsbxConfig, http: FetchRequest => String,
                 clock: () => Long, dir: String, seq: Long): Path = {
    val body = fetchOnce(config, http, clock)
    val name = f"snap_$seq%012d.json"
    val d = Files.createDirectories(Paths.get(dir))
    val tmp = Files.write(d.resolve(s".$name.tmp"),
      body.getBytes(StandardCharsets.UTF_8))
    try Files.createLink(d.resolve(name), tmp)
    finally Files.delete(tmp)
  }
}
