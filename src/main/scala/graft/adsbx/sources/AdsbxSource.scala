package graft.adsbx.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.adsbx.{Pipeline, Schemas}

/** S1 — the ADSBX snapshot source (reference task.ts:118-129), minus the
  * network: production fetches `GET {api}/v2/lat/{lat}/lon/{lon}/dist/{nm}/`
  * on a schedule; this library ingests the fetched envelope text through
  * one of the entry points below, all converging on the same FAILFAST
  * schema-on-read parse (V1, task.ts:131-134) and per-aircraft rows with an
  * explicit `seq` arrival-order column.
  *
  * Scale posture: the envelope parse is a narrow per-line projection +
  * posexplode — no shuffle; a fleet of regional pollers lands one JSON line
  * per snapshot in object storage and this source fans them out in
  * parallel.
  */
object AdsbxSource {

  /** Batch: envelope JSON documents already in memory (what a driver-side
    * HTTP fetch returns — the zero-egress stand-in for the REST call).
    * Sequence position = arrival order, so last-wins dedup prefers later
    * envelopes for duplicate ids. */
  def fromJsonStrings(spark: SparkSession, envelopes: Seq[String]): DataFrame =
    Pipeline.fromEnvelopeJson(spark, indexed(spark, envelopes))

  /** Envelopes as (`value`, `arrival_idx` = list index). */
  private def indexed(spark: SparkSession, envelopes: Seq[String]): DataFrame = {
    import spark.implicits._
    envelopes.zipWithIndex.map { case (v, i) => (v, i.toLong) }
      .toDF("value", "arrival_idx")
  }

  /** Batch: a directory/glob of envelope JSON documents, one per line.
    * LIMITATION: a text scan carries no line-order column, so arrival
    * order is NOT defined across envelopes here and last-wins dedup is
    * only meaningful within each envelope — ingest through
    * `fromSnapshotDir` (file-per-snapshot, ordered) or add an explicit
    * `arrival_idx` column when cross-envelope recency matters. */
  def fromJsonFiles(spark: SparkSession, path: String): DataFrame =
    Pipeline.fromEnvelopeJson(spark, spark.read.text(path))

  /** Streaming: an unbounded stream of envelope JSON lines (file stream,
    * socket, or a MemoryStream in tests). Input must have a single string
    * column named `value`; each row is one snapshot. The result is an
    * unbounded aircraft stream with intra-snapshot `seq` order. */
  def stream(jsonLines: DataFrame): DataFrame =
    Pipeline.fromEnvelopeJson(jsonLines.sparkSession, jsonLines)

  /** Streaming file source over a snapshot-log directory. */
  def streamFiles(spark: SparkSession, path: String): DataFrame =
    stream(spark.readStream.text(path))

  /** PERMISSIVE variant: malformed envelopes are quarantined instead of
    * failing the job. The reference is strictly FAILFAST (task.ts:131-134)
    * — correct for one snapshot per invocation — but a pipeline ingesting
    * millions of snapshot files cannot let one bad record kill the run.
    * Returns (aircraft rows from well-formed envelopes, quarantined raw
    * lines for the dead-letter sink). */
  def fromJsonStringsPermissive(spark: SparkSession,
      envelopes: Seq[String]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    // the strict path's explode and arrival-order seq; only the parse
    // mode differs
    val parsed = Pipeline.parseEnvelopes(indexed(spark, envelopes), "PERMISSIVE")
    // from_json PERMISSIVE null-fills on mismatch: a null/ac-less env is bad
    val bad = parsed.filter(col("env").isNull || col("env.ac").isNull)
      .select(col("value"))
    (Pipeline.aircraftRows(parsed), bad)
  }

  /** Batch read of a snapshot directory through the native DataSource V2
    * transport (`SnapshotSource`) — one envelope file per scheduled fetch,
    * scanned with one partition per snapshot, then the usual FAILFAST
    * parse. */
  def fromSnapshotDir(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    // arrival_idx flows into the cross-snapshot seq so D1's last-wins
    // prefers the NEWER snapshot's record for a duplicate id
    Pipeline.fromEnvelopeJson(spark,
      spark.read.format(SnapshotSource.NAME).load(dir)
        .select(col("body").as("value"), col("arrival_idx")))
  }

  /** Streaming read of a snapshot directory via the V2 MicroBatchStream:
    * each trigger consumes exactly the snapshots that arrived since the
    * last committed offset — the reference's scheduled-poll model (E1). */
  def streamSnapshotDir(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Pipeline.fromEnvelopeJson(spark,
      spark.readStream.format(SnapshotSource.NAME).load(dir)
        .select(col("body").as("value"), col("arrival_idx")))
  }

  /** S4 — schema introspection (reference task.ts:100-113): the schemas a
    * platform UI would render, exposed as stable public values. */
  def inputSchema: org.apache.spark.sql.types.StructType = Schemas.envelope
  def outputSchema: org.apache.spark.sql.types.StructType = Schemas.adsbResponse
}
