package graft.ops

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Concurrent-writer semantics of the versioned-table commit log: the
  * isolation guarantee a real table format makes — of two writers racing
  * to publish the same version, exactly one wins; the loser must rebase
  * and its data is never visible to readers. */
class CommitLogSpec extends SparkSpec {

  private def freshTable(tag: String): String =
    tempDir(s"commitlog_$tag").toString

  test("two racing writers: exactly one commits, the other conflicts") {
    val table = freshTable("race")
    val pool = Executors.newFixedThreadPool(2)
    try {
      // both writers snapshot the same base version (empty table, V=0) and
      // race the v1 slot across many rounds to actually exercise the race
      for (round <- 1 to 20) {
        val base = CommitLog.latest(table).map(_.version).getOrElse(0L)
        val barrier = new CyclicBarrier(2)
        val results = (0 until 2).map { w =>
          pool.submit { () =>
            barrier.await(5, TimeUnit.SECONDS)
            try Right(CommitLog.commit(table, base, s"$table/data_r${round}_w$w"))
            catch { case e: CommitLog.CommitConflictException => Left(e) }
          }
        }.map(_.get(10, TimeUnit.SECONDS))
        assert(results.count(_.isRight) == 1,
          s"round $round: expected exactly one winner, got $results")
        assert(results.count(_.isLeft) == 1,
          s"round $round: expected exactly one conflict, got $results")
        // the log advanced by exactly one version, pointing at the winner
        val latest = CommitLog.latest(table).get
        assert(latest.version == base + 1)
        val winnerDir = results.collectFirst { case Right(c) => c.dataDir }.get
        assert(latest.dataDir == winnerDir,
          "reader must resolve to the winning writer's data")
      }
    } finally pool.shutdownNow()
  }

  test("loser rebases onto the winner's version and then succeeds") {
    val table = freshTable("rebase")
    CommitLog.commit(table, 0, s"$table/data_a")
    // a second writer that snapshotted V=0 is now stale
    intercept[CommitLog.CommitConflictException] {
      CommitLog.commit(table, 0, s"$table/data_b_stale")
    }
    // rebase: re-read latest, re-apply on top, commit the next slot
    val rebasedBase = CommitLog.latest(table).get.version
    val c = CommitLog.commit(table, rebasedBase, s"$table/data_b_rebased")
    assert(c.version == 2)
    assert(CommitLog.entries(table).map(_.dataDir) ==
      Seq(s"$table/data_a", s"$table/data_b_rebased"),
      "the stale attempt's data dir must never enter the log")
  }

  test("committed versions stay byte-stable while latest advances") {
    val table = freshTable("isolation")
    val v1 = spark.range(5).select(col("id"))
    v1.write.parquet(s"$table/data_v1")
    CommitLog.commit(table, 0, s"$table/data_v1")
    val before = CommitLog.read(spark, table, 1).collect().map(_.getLong(0)).sorted
    // a new version lands and publishes; the pinned v1 read is unchanged
    spark.range(100).select(col("id")).write.parquet(s"$table/data_v2")
    CommitLog.commit(table, 1, s"$table/data_v2")
    val after = CommitLog.read(spark, table, 1).collect().map(_.getLong(0)).sorted
    assert(before.sameElements(after), "pinned version drifted")
    assert(CommitLog.read(spark, table, 2).count() == 100)
    assert(CommitLog.latest(table).get.version == 2)
  }

  test("vacuum bounds history: old versions drop, survivors stay readable") {
    val table = freshTable("vacuum")
    for (v <- 1 to 4) {
      spark.range(v * 10).write.parquet(s"$table/data_v$v")
      CommitLog.commit(table, v - 1, s"$table/data_v$v")
    }
    val dropped = CommitLog.vacuum(table, keep = 2)
    assert(dropped.map(_.version) == Seq(1L, 2L))
    assert(CommitLog.entries(table).map(_.version) == Seq(3L, 4L))
    assert(!Files.exists(java.nio.file.Paths.get(s"$table/data_v1")))
    intercept[IllegalArgumentException] { CommitLog.read(spark, table, 2) }
    assert(CommitLog.read(spark, table, 3).count() == 30)
    assert(CommitLog.read(spark, table, 4).count() == 40)
  }

  test("orphan sweep removes only unreferenced data dirs") {
    val table = freshTable("orphans")
    spark.range(5).write.parquet(s"$table/data_live")
    CommitLog.commit(table, 0, s"$table/data_live")
    spark.range(7).write.parquet(s"$table/data_conflict_loser")
    val swept = CommitLog.sweepOrphans(table)
    assert(swept.map(p => p.substring(p.lastIndexOf('/') + 1)) ==
      Seq("data_conflict_loser"))
    assert(Files.exists(java.nio.file.Paths.get(s"$table/data_live")))
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$table/_commits")))
    assert(CommitLog.read(spark, table, 1).count() == 5)
  }

  test("uncommitted data is invisible: no log entry, no read") {
    val table = freshTable("invisible")
    spark.range(3).write.parquet(s"$table/data_orphan")
    assert(CommitLog.latest(table).isEmpty)
    intercept[IllegalArgumentException] {
      CommitLog.read(spark, table, 1)
    }
  }

  test("multi-table transaction: racing writers publish all-or-nothing") {
    val txn = freshTable("txn")
    // seed v1 so both racers rebase from a real snapshot
    spark.range(10).write.parquet(s"$txn/facts_v1")
    spark.range(1).write.parquet(s"$txn/summary_v1")
    CommitLog.commitTables(txn, 0,
      Seq("facts" -> s"$txn/facts_v1", "summary" -> s"$txn/summary_v1"))
    val pool = Executors.newFixedThreadPool(2)
    try {
      val barrier = new CyclicBarrier(2)
      val results = (0 until 2).map { w =>
        spark.range(20 + w).write.parquet(s"$txn/facts_w$w")
        spark.range(1).write.parquet(s"$txn/summary_w$w")
        pool.submit { () =>
          barrier.await(5, TimeUnit.SECONDS)
          try Right(CommitLog.commitTables(txn, 1,
            Seq("facts" -> s"$txn/facts_w$w", "summary" -> s"$txn/summary_w$w")))
          catch { case e: CommitLog.CommitConflictException => Left(e) }
        }
      }.map(_.get(10, TimeUnit.SECONDS))
      assert(results.count(_.isRight) == 1 && results.count(_.isLeft) == 1,
        s"expected exactly one winner: $results")
      // the manifest of v2 names BOTH of the winner's dirs — never a mix
      val dirs = CommitLog.tableDirs(txn, 2)
      val winner = results.collectFirst { case Right(c) => c }.get
      val w = if (winner.dataDir.contains("facts_w0")) 0 else 1
      assert(dirs == Map(
        "facts" -> s"$txn/facts_w$w", "summary" -> s"$txn/summary_w$w"))
      // pinned v1 still resolves the ORIGINAL consistent pair
      assert(CommitLog.tableDirs(txn, 1) == Map(
        "facts" -> s"$txn/facts_v1", "summary" -> s"$txn/summary_v1"))
      assert(CommitLog.readTable(spark, txn, 2, "facts").count() == 20 + w)
      // the loser's never-published dirs are sweepable orphans — and the
      // sweep must see through the multi-line manifest: every dir the
      // WINNER's commit references (and v1's) survives, still readable
      val orphans = CommitLog.sweepOrphans(txn)
      assert(orphans.exists(_.contains(s"facts_w${1 - w}")) &&
        orphans.exists(_.contains(s"summary_w${1 - w}")))
      for (d <- Seq(s"facts_w$w", s"summary_w$w", "facts_v1", "summary_v1"))
        assert(Files.isDirectory(java.nio.file.Paths.get(s"$txn/$d")),
          s"sweep destroyed live committed dir $d")
      assert(CommitLog.readTable(spark, txn, 2, "facts").count() == 20 + w)
      assert(CommitLog.readTable(spark, txn, 1, "summary").count() == 1)
    } finally pool.shutdownNow()
  }

  test("multi-table vacuum deletes every dir of dropped manifests, keeps survivors") {
    val txn = freshTable("txnvacuum")
    for (v <- 1 to 3) {
      spark.range(v * 10).write.parquet(s"$txn/facts_v$v")
      spark.range(v).write.parquet(s"$txn/summary_v$v")
      CommitLog.commitTables(txn, v - 1,
        Seq("facts" -> s"$txn/facts_v$v", "summary" -> s"$txn/summary_v$v"))
    }
    val dropped = CommitLog.vacuum(txn, keep = 2)
    assert(dropped.map(_.version) == Seq(1L))
    // BOTH dirs of the dropped manifest are gone — vacuum must not leak
    // data dirs by treating the manifest as one opaque path
    assert(!Files.exists(java.nio.file.Paths.get(s"$txn/facts_v1")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$txn/summary_v1")))
    // survivors stay fully readable through the log
    assert(CommitLog.readTable(spark, txn, 2, "facts").count() == 20)
    assert(CommitLog.readTable(spark, txn, 3, "summary").count() == 3)
    // and a subsequent sweep finds nothing to delete
    assert(CommitLog.sweepOrphans(txn).isEmpty)
  }

  test("checkpointed log: a read after 100 commits touches checkpoint + tail only") {
    val table = freshTable("ckpt")
    for (v <- 1 to 100) CommitLog.commit(table, v - 1, s"$table/data_v$v")
    val before = CommitLog.fileReadCount
    val es = CommitLog.entries(table)
    val reads = CommitLog.fileReadCount - before
    // 1 hint + 1 checkpoint + tail (0 here: 100 is a checkpoint version);
    // the pre-checkpoint path would have read 100 files
    assert(reads <= 2 + CommitLog.checkpointInterval,
      s"entries() read $reads log files — O(n_versions), not checkpoint+tail")
    assert(es.map(_.version) == (1L to 100L) &&
      es.last.dataDir == s"$table/data_v100")
  }

  test("commits past the checkpoint are visible via the probed tail") {
    val table = freshTable("ckpttail")
    for (v <- 1 to 23) CommitLog.commit(table, v - 1, s"$table/data_v$v")
    val before = CommitLog.fileReadCount
    val es = CommitLog.entries(table)
    val reads = CommitLog.fileReadCount - before
    // checkpoint at 20 → 1 hint + 1 checkpoint + 3 tail commits
    assert(reads == 5, s"expected 5 log-file reads, got $reads")
    assert(es.map(_.version) == (1L to 23L))
    assert(CommitLog.latest(table).get.dataDir == s"$table/data_v23")
  }

  test("vacuum replaces checkpoints so no dropped version resurfaces") {
    val table = freshTable("ckptvacuum")
    for (v <- 1 to 25) {
      spark.range(v.toLong).write.parquet(s"$table/data_v$v")
      CommitLog.commit(table, v - 1, s"$table/data_v$v")
    }
    CommitLog.vacuum(table, keep = 2)
    // the checkpoint written at v20 covered dropped versions — the read
    // path must not resolve them (their data dirs are gone)
    assert(CommitLog.entries(table).map(_.version) == Seq(24L, 25L))
    assert(CommitLog.read(spark, table, 25).count() == 25)
    intercept[IllegalArgumentException] { CommitLog.read(spark, table, 20) }
    // the rewritten checkpoint keeps the read path O(tail)
    val before = CommitLog.fileReadCount
    CommitLog.entries(table)
    assert(CommitLog.fileReadCount - before <= 2 + CommitLog.checkpointInterval)
  }

  test("racing mergers: both change batches survive, serialized through rebase") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val sch = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    val chSch = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("op", StringType), StructField("new_price", DoubleType)))
    def df(rows: Seq[Row], s2: StructType) =
      spark.createDataFrame(rows.asJava, s2)
    val table = freshTable("mergerace")
    df(Seq(Row(1L, "O", 10.0), Row(2L, "F", 20.0)), sch)
      .write.parquet(s"$table/base")
    CommitLog.commit(table, 0, s"$table/base")
    // merger A updates key 1; merger B inserts key 3 — commuting batches
    val chA = df(Seq(Row(1L, "U", 11.0)), chSch)
    val chB = df(Seq(Row(3L, "I", 30.0)), chSch)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val barrier = new CyclicBarrier(2)
      val fs = Seq(("A", chA), ("B", chB)).map { case (tag, ch) =>
        pool.submit { () =>
          barrier.await(5, TimeUnit.SECONDS)
          MergeOps.mergeInto(spark, table, ch, tag)
        }
      }
      val versions = fs.map(_.get(60, TimeUnit.SECONDS).version).sorted
      // both landed, serialized: one took v2, the (possibly rebased) other v3
      assert(versions == Seq(2L, 3L))
      val fin = spark.read.parquet(CommitLog.latest(table).get.dataDir)
        .orderBy(col("o_orderkey")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      // BOTH rows survive: A's update AND B's insert, whatever the race order
      assert(fin == Seq((1L, "O", 11.0), (2L, "F", 20.0), (3L, "NEW", 30.0)),
        s"merge effects lost under concurrency: $fin")
    } finally pool.shutdownNow()
  }

  test("merge rebase is forced and convergent on a guaranteed-stale snapshot") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val sch = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    val chSch = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("op", StringType), StructField("new_price", DoubleType)))
    val table = freshTable("mergestale")
    spark.createDataFrame(
      Seq(Row(1L, "O", 10.0), Row(7L, "O", 70.0)).asJava, sch)
      .write.parquet(s"$table/base")
    CommitLog.commit(table, 0, s"$table/base")
    // A deletes key 7 and wins v2; B's stale attempt (built on v1) loses,
    // rebases, and its clause-aware U on the now-deleted key 7 must be a
    // NO-OP, not a resurrection — delete/update converge in either order
    val delA = spark.createDataFrame(Seq(Row(7L, "D", null)).asJava, chSch)
    val updB = spark.createDataFrame(
      Seq(Row(7L, "U", 77.0), Row(1L, "U", 1.5)).asJava, chSch)
    val stale = CommitLog.latest(table).get
    assert(MergeOps.mergeInto(spark, table, delA, "A").version == 2L)
    MergeOps.applyMerge(spark.read.parquet(stale.dataDir), updB)
      .write.mode("overwrite").parquet(s"$table/b_stale")
    intercept[CommitLog.CommitConflictException] {
      CommitLog.commit(table, stale.version, s"$table/b_stale")
    }
    assert(MergeOps.mergeInto(spark, table, updB, "B").version == 3L)
    val fin = spark.read.parquet(CommitLog.latest(table).get.dataDir)
      .orderBy(col("o_orderkey")).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(fin == Seq((1L, 1.5)), s"rebase must not resurrect deleted keys: $fin")
  }

  test("multi-line manifest payloads round-trip through a checkpoint") {
    val txn = freshTable("ckptmanifest")
    for (v <- 1 to 10)
      CommitLog.commitTables(txn, v - 1,
        Seq("facts" -> s"$txn/facts_v$v", "summary" -> s"$txn/summary_v$v"))
    // v10 is a checkpoint version; tableDirs(3) resolves THROUGH it
    val before = CommitLog.fileReadCount
    assert(CommitLog.tableDirs(txn, 3) == Map(
      "facts" -> s"$txn/facts_v3", "summary" -> s"$txn/summary_v3"))
    assert(CommitLog.fileReadCount - before <= 2 + CommitLog.checkpointInterval)
  }
}
