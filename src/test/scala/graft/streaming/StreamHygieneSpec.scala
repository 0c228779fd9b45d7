package graft.streaming

import graft.SparkSpec

/** Pins the session-hygiene contracts the r9 sf1 rehearsal had to
  * discover the hard way: (a) stream queries must not leave their memory
  * sinks registered (a long session would pin every buffered result table
  * on the heap), and (b) `Fs.cleanupAppScratch` must empty every scratch
  * directory this application created — tmpfs checkpoints/stream scratch
  * AND the staged serve indexes under java.io.tmpdir. */
class StreamHygieneSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("no graft_stream_* temp views survive a stream query run") {
    // one plain-sink query and one through the second (published-log)
    // resolution path — both must unregister their sinks
    graft.SparkEntry.queries("stream_hourly_window")(spark, dir).count()
    graft.SparkEntry.queries("stream_dedup_lastwins")(spark, dir).count()
    val leaked = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("graft_stream_"))
    assert(leaked.isEmpty,
      s"stream sink temp views leaked: ${leaked.mkString(", ")}")
  }

  test("runToMemory restores shuffle width and codegen, also when the query fails") {
    import org.apache.spark.sql.functions.{lit, raise_error}
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.codegen.wholeStage")
    val saved = keys.map(spark.conf.get)
    // values the run itself never sets, so a missed restore shows
    val prior = Seq("3", "true")
    keys.zip(prior).foreach { case (k, v) => spark.conf.set(k, v) }
    val ev = StreamOps.eventsStream(spark, dir)
    try {
      StreamOps.runToMemory(ev.select("event_id"), "append").count()
      assert(keys.map(spark.conf.get) == prior)
      intercept[Exception] { StreamOps.runToMemory(
        ev.select(raise_error(lit("boom")).cast("string")), "append") }
      assert(keys.map(spark.conf.get) == prior)
      assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith("graft_stream_")), "failed run leaked its sink")
    } finally keys.zip(saved).foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("stream runs restore numRecentProgressUpdates, also when the query fails") {
    import org.apache.spark.sql.functions.{lit, raise_error}
    val k = "spark.sql.streaming.numRecentProgressUpdates"
    val saved = spark.conf.getAll.get(k)
    val ev = StreamOps.eventsStream(spark, dir)
    try {
      // unset before the run stays unset after it
      spark.conf.unset(k)
      StreamOps.runToMemory(ev.select("event_id"), "append").count()
      assert(spark.conf.getAll.get(k).isEmpty)
      // a value the run raises is put back, also by a failing run
      spark.conf.set(k, "50")
      intercept[Exception] { StreamOps.runToMemory(
        ev.select(raise_error(lit("boom")).cast("string")), "append") }
      assert(spark.conf.getAll.get(k).contains("50"))
    } finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("cleanupAppScratch empties every scratch root of this app") {
    val appId = spark.sparkContext.applicationId
    val roots = Seq(
      new java.io.File("/dev/shm"),
      new java.io.File(System.getProperty("java.io.tmpdir", "/tmp")))
      .filter(_.isDirectory)
    def scratch(): Set[String] = roots.flatMap { base =>
      Option(base.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
        .map(_.getName).filter(_.startsWith("graft_"))
    }.toSet
    def mine(): Set[String] = scratch().filter(_.contains(appId))
    val before = scratch()
    // materialize scratch in all classes: a stream checkpoint (tmpfs), a
    // stream scratch dir, a staged serve index (/tmp) and the poll loop's
    // snapshot log
    graft.SparkEntry.queries("stream_hourly_window")(spark, dir).count()
    new java.io.File(
      graft.ops.Fs.streamScratchDir(spark, "graft_hygiene")).mkdirs()
    graft.SparkEntry.queries("text_hybrid_rrf")(spark, dir).count()
    graft.SparkEntry.queries("cot_stream_poll")(spark, dir).count()
    assert(mine().nonEmpty, "expected live scratch dirs before cleanup")
    graft.ops.Fs.cleanupAppScratch(spark)
    assert(mine().isEmpty,
      s"scratch survived cleanupAppScratch: ${mine().mkString(", ")}")
    // nothing this test created may survive — a scratch name without the
    // app id escapes cleanup (names carrying another app's id belong to
    // another JVM sharing the roots)
    val otherApp = "local-\\d+".r
    val leaked = (scratch() -- before).filter(n => otherApp.findFirstIn(n).isEmpty)
    assert(leaked.isEmpty, s"scratch escaped cleanupAppScratch: ${leaked.mkString(", ")}")
    // the staged index PATH is still cached in Staging but its files are
    // gone — drop the staged values so later suites rebuild cleanly
    graft.ops.Staging.clear(spark)
  }
}
