package graft.adsbx

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end ADS-B → CoT pipeline (the reference's `control()` dataflow,
  * task.ts:115-257): validate → transform (P1-P17) → dedup (D1) → includes
  * join (J1-J3) → output dedup (D2).
  *
  * Every stage is a pure `DataFrame => DataFrame`, so the identical graph
  * runs in batch (driver verification) and under Structured Streaming
  * foreachBatch (see graft.streaming.AdsbxStream).
  */
object Pipeline {

  /** Source V1: parse an ADSBX response envelope from JSON text with
    * FAILFAST semantics — the reference's `res.typed(...)` throws on schema
    * mismatch (task.ts:131-134). Returns one row per aircraft, with an
    * explicit `seq` column capturing array position (= arrival order, the
    * order D1's last-wins is defined over). */
  def fromEnvelopeJson(spark: SparkSession, jsonLines: DataFrame): DataFrame =
    aircraftRows(parseEnvelopes(jsonLines, "FAILFAST"))

  /** `value`, `arrival_idx` (0 when absent) and the `env` struct parsed
    * under from_json `mode` (FAILFAST strict, PERMISSIVE quarantining). */
  private[adsbx] def parseEnvelopes(jsonLines: DataFrame, mode: String): DataFrame = {
    val withBase =
      if (jsonLines.columns.contains("arrival_idx")) jsonLines
      else jsonLines.withColumn("arrival_idx", lit(0L))
    withBase.select(col("value"), col("arrival_idx"),
      from_json(col("value"), Schemas.envelope, Map("mode" -> mode)).as("env"))
  }

  /** One row per aircraft of each parsed envelope, with its `seq`. */
  private[adsbx] def aircraftRows(parsed: DataFrame): DataFrame =
    // seq spans snapshots WHEN the input carries an `arrival_idx` column
    // (SnapshotSource and fromJsonStrings do): a later snapshot's aircraft
    // then outranks an earlier one's in D1's last-wins (the scheduled-poll
    // recency model); inputs without it (plain text scans) order only
    // within each envelope. 2^32 >> any envelope's ac[] length.
    // posexplode_OUTER + a pos filter, not posexplode: for a non-outer
    // generator Catalyst infers `size(ac) > 0` below the Generate and
    // inlines the from_json alias into that Filter, which parses every
    // envelope a second time. An empty or null `ac` (or a null `env`)
    // still yields no rows.
    parsed
      .select(col("arrival_idx"), posexplode_outer(col("env.ac")).as(Seq("pos", "ac")))
      .filter(col("pos").isNotNull)
      .select(
        (col("arrival_idx") * (1L << 32) + col("pos")).cast("long").as("seq"),
        col("ac.*"))

  /** Full pipeline over an aircraft DataFrame that already has
    * `Schemas.adsbResponse` columns + a `seq` ordering column. */
  def run(aircraft: DataFrame, includes: DataFrame, cfg: AdsbxConfig): DataFrame = {
    // D1 runs on the KEYED raw rows and the P4-P17 derivation on its
    // WINNERS (r16 optimization round — the oracle's own CTE order:
    // ident → filt → dedup → projection). The derivation is row-wise, so
    // it commutes with last-wins: values are identical, but the remarks
    // block / unit conversions / metadata embed run over |distinct ids|
    // rows instead of every raw record, and D1's top-1 window carries
    // the raw fields instead of the wider derived row.
    val keyed = CotTransform.keyed(aircraft)
    val deduped = Dedup.lastWins(keyed, "id", "seq")
    val transformed = CotTransform.derived(deduped, cfg.emergencyHostile)
    val joined = IncludesJoin(transformed, includes, cfg.includesFiltering)
    // D2: no-op safety net after D1/J2 (task.ts:215,235-238,244-247)
    Dedup.distinctByKey(joined, "id")
  }

  /** run + nested Feature assembly (the FeatureCollection rows, O2). The
    * FeatureCollection wrap itself happens at the sink, never on the driver
    * (SURVEY §4.3): each output row is one Feature. */
  def features(aircraft: DataFrame, includes: DataFrame, cfg: AdsbxConfig): DataFrame =
    CotTransform.feature(run(aircraft, includes, cfg))

  /** O2 single-document wrap: ONE FeatureCollection for the whole input —
    * an ungrouped collect_list, so every row funnels into one task. Only
    * for snapshot-sized batches (the reference's 10^3-10^4 rows) and
    * tests; the scale path is `sinks.FeatureSink.submitCollections`, which
    * wraps per partition and never materializes globally. */
  def toFeatureCollectionJson(features: DataFrame): DataFrame =
    features.agg(collect_list(col("feature")).as("features"))
      .select(to_json(struct(
        lit("FeatureCollection").as("type"),
        col("features"))).as("feature_collection"))
}
