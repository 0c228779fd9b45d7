package graft.bench

import org.apache.spark.sql.SparkSession

/** FULL-SUITE scale rehearsal: every SparkEntry query at sf0.1 and the
  * synthesized sf1 (tools/gen_sf1.py), MEDIAN-of-3 per dir (r8 rework —
  * min-of-2 let one contended pass poison a ratio; the median is the
  * stable estimator the sf0.1 bench already uses), ratio recorded to
  * BENCH_SF1_FULL.json together with a worst-ratio list so scale
  * regressions are tracked round-over-round like sf0.1 ones. The run
  * answers "does ANY query blow up super-linearly at 10x data"; name
  * filters rehearse a chosen set, the known-heavy tail for one.
  *
  * Args: optional query-name filters (substring match) to rehearse a
  * subset while iterating; no args = all queries + the committed record. */
object FullSf1 {
  private val PASSES = 3

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.ops.Fs.pointStreamCheckpointsAtTmpfs(spark)
    graft.ops.Fs.cleanupOnExit(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    val queries =
      if (args.isEmpty) all
      else all.filter(q => args.exists(q.contains))
    def run(name: String, dir: String): Double = {
      graft.ops.Staging.clear(spark)
      val t0 = System.nanoTime()
      try { graft.SparkEntry.queries(name)(spark, dir).count() }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[sf1full] $name @ $dir failed: $e"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    val dirs = Seq("/root/testdata/sf0.1", "/tmp/testdata_sf1")
    def median(ts: Seq[Double]): Double = {
      val ok = ts.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2.0
    }
    val measured = queries.map { q =>
      // alternate dirs within a query so a load spike hits both sides of
      // the ratio rather than biasing one
      val p01 = scala.collection.mutable.ArrayBuffer[Double]()
      val p1 = scala.collection.mutable.ArrayBuffer[Double]()
      (1 to PASSES).foreach { _ =>
        p01 += run(q, dirs(0)); p1 += run(q, dirs(1))
      }
      val (s01, s1) = (median(p01.toSeq), median(p1.toSeq))
      val ratio = if (s01 > 0 && s1 > 0) s1 / s01 else -1.0
      println(f"SF1FULL $q%-28s sf0.1=$s01%7.2f s  sf1=$s1%7.2f s  ratio=$ratio%6.2f")
      val json = f""""$q":{"sf01_sec":$s01%.2f,"sf1_sec":$s1%.2f,"ratio":$ratio%.2f}"""
      (q, ratio, s1, json)
    }
    if (args.isEmpty) {
      val rows = measured.map(_._4)
      val (worstQ, worstR, _, _) = measured.maxBy(_._2)
      val worst10 = measured.sortBy(-_._2).take(10)
        .map { case (q, r, _, _) => f""""$q":$r%.2f""" }.mkString("{", ",", "}")
      val notes =
        if (measured.exists(_._2 < 0)) "FAILURES present; see -1 ratios"
        else f"all ${measured.size} queries green at sf1; worst ratio $worstR%.1fx = $worstQ " +
          "(fixed-cost queries sit near 1x; linear-OUTPUT ops — grid " +
          "resample, write-everything roundtrips — and per-candidate scans " +
          "track the rows they emit)"
      def loadavg(): String =
        try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
          .split("\\s+").take(3).mkString(" ")
        catch { case scala.util.control.NonFatal(_) => "unavailable" }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_SF1_FULL.json"),
        rows.mkString(
          s"""{"metric":"scale_rehearsal_full","stat":"median_of_$PASSES","sf1_dir":"${dirs(1)}","generator":"tools/gen_sf1.py","load":"${loadavg()}","notes":"$notes","worst_ratios":$worst10,"queries":{""",
          ",", "}}"))
    }
    spark.stop()
  }
}
