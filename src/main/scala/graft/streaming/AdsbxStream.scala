package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.adsbx.{AdsbxConfig, Pipeline}

/** E1 — the scheduled micro-batch driver (reference task.ts:98): each
  * platform invocation fetches one snapshot, transforms it, submits one
  * FeatureCollection. Structured Streaming's micro-batch model is exactly
  * this; here each micro-batch of envelope lines runs the full batch
  * pipeline (transform → D1 dedup → includes join → D2) via foreachBatch,
  * so dedup scope = one snapshot, matching the reference's stateless
  * between-invocations semantics (SURVEY §1.1).
  *
  * Scale posture: foreachBatch reuses the batch plans (one envelope
  * parse, broadcast join, top-1 window dedup with a map-side
  * WindowGroupLimit); state across batches is zero, so the stream runs
  * indefinitely with constant memory.
  */
object AdsbxStream {

  /** Run the CoT pipeline over a stream of envelope JSON lines, delivering
    * each micro-batch's features to `sink`. Caller controls the trigger
    * (AvailableNow for one-shot/scheduled, ProcessingTime for continuous
    * polling). */
  def run(jsonLines: DataFrame, includes: DataFrame, cfg: AdsbxConfig,
          sink: (DataFrame, Long) => Unit,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val aircraft = graft.adsbx.sources.AdsbxSource.stream(jsonLines)
    aircraft.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val features = Pipeline.features(batch, includes, cfg)
        sink(features, id)
      }
      .trigger(trigger)
      .start()
  }
}
