package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan assertions: the scale properties the operators claim
  * (pushdown, pruning, broadcast, co-located bucketed joins) must actually
  * appear in the plans — regressions here are silent 100x slowdowns at
  * scale even when results stay correct. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("filter+projection reach the parquet scan (pushdown + pruning)") {
    val p = plan(Relational.queries("rel_filter_project")(spark, sf))
    assert(p.contains("PushedFilters:"), "no pushed filters")
    assert(p.contains("EqualTo(l_returnflag,R)"), "predicate not pushed")
    assert(p.contains("GreaterThanOrEqual(l_quantity,47.0)"), "range not pushed")
    // pruned scan: none of the unused lineitem columns are read
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"scan not pruned: $readSchema")
  }

  test("dimension joins broadcast; no fact-table shuffle for enrichment") {
    val p = plan(Relational.queries("rel_broadcast_enrich")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "expected broadcast hash join")
    assert(!p.contains("SortMergeJoin"), "fact table should not shuffle-join a dim")
  }

  test("equi-depth histogram has no single-partition exchange and no window") {
    // ntile-over-everything funnels the whole table through one task; the
    // globalRank formulation must keep the plan free of BOTH the
    // SinglePartition exchange and any Window operator. The range
    // repartition itself sits in globalRank's internal stage (below .rdd),
    // so it is asserted on rangedByKeys directly.
    val p = plan(Relational2.queries("rel_equidepth_hist")(spark, sf))
    assert(!p.contains("SinglePartition"), s"single-partition exchange:\n$p")
    assert(!p.contains("Window"), s"window survived in plan:\n$p")
    import org.apache.spark.sql.functions.col
    val staged = plan(Relational2.rangedByKeys(
      graft.Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
      col("o_totalprice"), col("o_orderkey")))
    assert(staged.contains("rangepartitioning"), "expected a range repartition")
    assert(!staged.contains("SinglePartition"), s"single-partition exchange:\n$staged")
  }

  test("window top-k prunes before the shuffle (WindowGroupLimit)") {
    val p = plan(Relational.queries("rel_window_topk")(spark, sf))
    assert(p.contains("WindowGroupLimit"), "top-k filter not pushed into window")
  }

  test("inverted index: posting-head rank prunes map-side; one aggregate") {
    val p = plan(TextOps.queries("text_inverted_index")(spark, sf))
    assert(p.contains("WindowGroupLimit"),
      s"rk <= 3 not pushed into the posting window:\n$p")
    // df/cf ride windows over the same (term,doc) aggregate — there must
    // be exactly one HashAggregate pair (partial+final) and no join
    assert(!p.toLowerCase.contains("join"), s"unexpected join:\n$p")
  }

  test("CoT pipeline: broadcast includes join, single dedup shuffle") {
    val df = graft.adsbx.Pipeline.run(
      graft.adsbx.Fixtures.aircraftDf(spark),
      graft.adsbx.Fixtures.includesDf(spark),
      graft.adsbx.AdsbxConfig(includesFiltering = true))
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "includes join must broadcast")
    assert(!p.contains("SortMergeJoin"), "no shuffle join in the pipeline")
    // D1 and D2 (top-1 windows on id) are keyed identically
    // and the broadcast join preserves partitioning, so D2 must reuse D1's
    // partitioning. Exactly 2 shuffles total: the aircraft dedup, and the
    // probe-build aggregation on the config-sized includes side.
    val simple = df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    val shuffles = simple.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Broadcast") && !l.contains("Reused"))
    assert(shuffles == 2, s"expected 2 shuffles, got $shuffles:\n$simple")
  }

  test("snapshot source: each envelope is parsed once (one from_json)") {
    val dir = tempDir("plan_snap")
    for (i <- 0 until 2)
      java.nio.file.Files.writeString(dir.resolve(s"s$i.json"),
        graft.adsbx.Fixtures.envelopeJson(Seq(graft.adsbx.Fixtures.aircraft.head)))
    val df = graft.adsbx.sources.AdsbxSource.fromSnapshotDir(spark, dir.toString)
    assert(df.count() == 2)
    // a Filter inferred under a non-outer Generate would carry a second
    // copy of the parse
    val executed = df.queryExecution.executedPlan.toString
    assert("from_json\\(".r.findAllMatchIn(executed).size == 1,
      s"expected exactly one from_json:\n$executed")
  }

  test("CoT pipeline: D1/D2 plan no SortAggregate") {
    // includes filtering off: the config-sized includes probe (a struct
    // max over <= ~100 rows) is the one aggregate left with filtering on
    val p = plan(graft.adsbx.Pipeline.run(
      graft.adsbx.Fixtures.aircraftDf(spark),
      graft.adsbx.Fixtures.includesDf(spark),
      graft.adsbx.AdsbxConfig(includesFiltering = false)))
    assert(!p.contains("SortAggregate"), s"SortAggregate in the pipeline:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-1 not pushed into D1's window:\n$p")
  }

  test("bucketed tables join with no shuffle exchange") {
    val li = graft.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = graft.Tables(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    // the in-memory catalog forgets tables between JVM runs but their
    // warehouse dirs persist — clear both before writing
    for (t <- Seq("b_lineitem", "b_orders"))
      Bucketing.resetTable(spark, t)
    Bucketing.writeBucketed(li, "b_lineitem", "l_orderkey", 4)
    Bucketing.writeBucketed(ord, "b_orders", "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.colocatedJoin(spark, "b_lineitem", "b_orders", "l_orderkey")
      val p = plan(joined)
      assert(!p.contains("Exchange"), s"bucketed join should be shuffle-free:\n$p")
      // and it still computes the right thing
      assert(joined.count() == graft.Tables(spark, sf, "lineitem").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("runtime bloom-filter join pruning injects might_contain on the fact side") {
    // At 100 TB the biggest win on a selective fact-dim shuffle join is
    // Spark's runtime row-level filter: a bloom filter built from the
    // selective side is pushed into the fact scan, cutting shuffle volume
    // before the join. Thresholds are floored here to trigger it at test
    // scale; results must be identical with the filter on and off.
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    def join() = {
      val li = graft.Tables(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val sel = graft.Tables(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      li.join(sel, col("l_orderkey") === col("o_orderkey"))
    }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val filtered = join()
      assert(plan(filtered).contains("might_contain"),
        s"no runtime bloom filter injected:\n${plan(filtered)}")
      val expected = {
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        try join().count()
        finally spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      }
      assert(filtered.count() == expected)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("Tables.balanced: filter + column pruning still reach the scan below the exchange") {
    import org.apache.spark.sql.functions.col
    val p = plan(graft.Tables.balanced(spark, sf, "documents", "doc_id")
      .filter(col("lang") === "en").select("doc_id", "lang"))
    assert(p.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), p)
  }
}
