package graft.bench

import org.apache.spark.sql.SparkSession

/** BPE training scale rehearsal (r9 verdict item 7): run the train loop
  * at a production-shaped step count (128) on the synthesized sf1 corpus
  * (tools/gen_sf1.py) and record PER-STEP wall times in 32-step blocks —
  * the claim under test is that the lineage checkpoint (CKPT_EVERY=8) and
  * the superseded-persist release keep per-step cost FLAT and memory
  * bounded as the merge count grows, i.e. total cost stays within ~2x of
  * linear-in-steps. Writes BPE_REHEARSAL.json. */
object BpeRehearsal {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/testdata_sf1")
    val steps = if (args.length > 1) args(1).toInt else 128
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ops.Fs.cleanupOnExit(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    def usedHeapMb(): Long = {
      System.gc()
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / (1024 * 1024)
    }
    // warm the plan/codegen path on the small corpus so step 1 of the
    // measured run isn't charged session setup
    graft.ops.BpeOps.trainMergesTimed(spark, "/root/testdata/sf0.001", 4)
    graft.ops.Staging.clear(spark)
    val heap0 = usedHeapMb()
    val t0 = System.nanoTime()
    val (merges, stepSecs) = graft.ops.BpeOps.trainMergesTimed(spark, dir, steps)
    val total = (System.nanoTime() - t0) / 1e9
    val heap1 = usedHeapMb()
    val blocks = stepSecs.grouped(32).map { b =>
      BigDecimal(b.sum / b.size).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    }.toSeq
    // flatness: last block's per-step cost vs first block's
    val flat =
      if (blocks.size < 2 || blocks.head == 0) BigDecimal(-1)
      else (blocks.last / blocks.head).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val json =
      s"""{"dir":"$dir","steps":$steps,"learned":${merges.size},""" +
      s""""total_sec":${BigDecimal(total).setScale(1, BigDecimal.RoundingMode.HALF_UP)},""" +
      s""""per_step_block_avg_sec":[${blocks.mkString(",")}],""" +
      s""""last_over_first_block":$flat,""" +
      s""""used_heap_mb_before":$heap0,"used_heap_mb_after":$heap1}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BPE_REHEARSAL.json"), json)
    println(json)
    spark.stop()
  }
}
