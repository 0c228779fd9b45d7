package graft.adsbx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runtime config validation — the TypeBox layer of the reference
  * (task.ts:6-64): `domain` and `group` are enum-constrained
  * (task.ts:27-30, 33-60), `group` defaults to "UNKNOWN" (task.ts:35),
  * and the API base must be one of the two published endpoints
  * (task.ts:15-21). The reference rejects an invalid env at startup;
  * this object provides that driver-side check plus a permissive
  * DataFrame variant (valid/quarantine split) for includes arriving as
  * data rather than config — the same dead-letter pattern as
  * `AdsbxSource.fromJsonStringsPermissive`.
  */
object ConfigValidation {

  /** `domain` enum — task.ts:29. */
  val domains: Seq[String] = Seq("EMS", "FIRE", "LAW")

  /** `ADSBX_API` enum — task.ts:16-19. */
  val apiEndpoints: Seq[String] = Seq(
    "https://adsbexchange-com1.p.rapidapi.com",
    "https://adsbexchange.com/api/aircraft")

  /** A plain decimal number, as the URL's lat/lon path segments take it. */
  private val number = """[-+]?(\d+(\.\d*)?|\.\d+)"""

  /** Driver-side strict validation (the reference's reject-at-startup).
    * Returns all problems, not just the first — an operator fixing a
    * 50-entry allow-list wants the full list. */
  def validate(config: AdsbxConfig): Either[Seq[String], AdsbxConfig] = {
    val apiErr =
      if (apiEndpoints.contains(config.api)) Nil
      else Seq(s"api: '${config.api}' not in ${apiEndpoints.mkString("[", ", ", "]")}")
    val incErrs = config.includes.zipWithIndex.flatMap { case (inc, i) =>
      val d = if (domains.contains(inc.domain)) Nil
        else Seq(s"includes[$i].domain: '${inc.domain}' not in ${domains.mkString("[", ", ", "]")}")
      val g = if (Schemas.includeGroups.contains(inc.group)) Nil
        else Seq(s"includes[$i].group: '${inc.group}' not in the ${Schemas.includeGroups.size}-value enum")
      d ++ g
    }
    // SnapshotFetcher.request splits this on ',' into the URL's lat and lon
    val latLon = config.queryLatLon.split(",", -1).map(_.trim)
    val latLonErr =
      if (latLon.length == 2 && latLon.forall(_.matches(number))) Nil
      else Seq(s"queryLatLon: '${config.queryLatLon}' is not 'lat,lon' (two numbers)")
    val errs = apiErr ++ latLonErr ++ incErrs
    if (errs.isEmpty) Right(config) else Left(errs)
  }

  /** Permissive DataFrame variant for an includes table ingested as data:
    * a NULL `group` takes the TypeBox default "UNKNOWN" (task.ts:35); rows
    * with an out-of-enum `domain` or `group` are quarantined instead of
    * failing the job. Returns (valid-with-defaults, quarantined-raw).
    * Enum membership is a broadcast-free `isin` on literals — a narrow
    * projection, no shuffle, safe at any scale. */
  def partitionIncludes(includes: DataFrame): (DataFrame, DataFrame) = {
    val defaulted = includes.withColumn("group",
      coalesce(col("group"), lit("UNKNOWN")))
    // NULL-safe: a NULL domain makes `isin` NULL, and filter(NULL) drops
    // the row from BOTH splits — coalesce pins it to the quarantine side
    val ok = coalesce(col("domain").isin(domains: _*) &&
      col("group").isin(Schemas.includeGroups: _*), lit(false))
    (defaulted.filter(ok), defaulted.filter(!ok))
  }
}
