package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The versioned streaming sink: every micro-batch publishes one complete,
  * immutable snapshot version through the commit log; versions advance by
  * exactly one per batch and an already-published version never changes. */
class VersionedSinkSpec extends SparkSpec {

  test("each micro-batch publishes the complete aggregate as the next version") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val table = tempDir("vsink_spec").toString
    val input = MemoryStream[(Long, Double)]
    val agg = input.toDF().toDF("user_id", "value")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        graft.ops.Exact.sumD(col("value")).as("sum_value"))
    val q = agg.writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val base = graft.ops.CommitLog.latest(table).map(_.version).getOrElse(0L)
        val data = s"$table/data_v${base + 1}"
        batch.write.mode("overwrite").parquet(data)
        graft.ops.CommitLog.commit(table, base, data)
        ()
      }
      .trigger(Trigger.ProcessingTime(50)).start()
    try {
      input.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      assert(graft.ops.CommitLog.latest(table).get.version == 1)
      val v1 = graft.ops.CommitLog.read(spark, table, 1)
        .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(v1.toSeq == Seq((1L, 1L), (2L, 1L)))

      input.addData((1L, 5.0))
      q.processAllAvailable()
      assert(graft.ops.CommitLog.latest(table).get.version == 2)
      // v2 is the cumulative complete state
      val v2 = graft.ops.CommitLog.read(spark, table, 2)
        .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(v2.toSeq == Seq((1L, 2L), (2L, 1L)))
      // the already-published v1 snapshot is untouched by the v2 publish
      val v1Again = graft.ops.CommitLog.read(spark, table, 1)
        .orderBy("user_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(v1Again.toSeq == v1.toSeq, "published version drifted")
    } finally q.stop()
  }
}
