package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Exact._

/** File-format source/sink coverage (SURVEY §2.1/§2.6 generalized): each
  * query writes a table out in a format, reads it back with an explicit
  * schema, and aggregates — so the oracle (which runs on the ORIGINAL
  * parquet) verifies the whole write→read cycle was lossless.
  *
  * Scale posture: writes shard per partition (no driver collect), reads are
  * schema-explicit (no inference pass over 100 TB), and the partitioned
  * variant proves partition PRUNING — the scan lists only the selected
  * `o_orderstatus=F` directory, which is how a 100 TB table avoids reading
  * 99% of its files.
  */
object FormatOps {

  private def tmpDir(s: SparkSession, tag: String): String =
    s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_fmt_${tag}_" +
      s.sparkContext.applicationId

  private val concurrentCalls = new java.util.concurrent.atomic.AtomicInteger()

  /** Run independent Spark jobs concurrently and wait for all (guide
    * §2.6 — overlap independent jobs so each back-fills the others' write
    * tails; generalized in the r17 optimization round). ONLY for jobs
    * with no ordering dependency: version WRITES land in disjoint
    * directories and only the commit-log pointer advances are ordered, so
    * the writes overlap and the commits stay sequential at the call site.
    *
    * The first failure, in whatever order the jobs finish, is rethrown at
    * once, and the siblings' Spark jobs (running and not yet submitted)
    * are cancelled through the call's own job group. There is no timeout:
    * a fixed cap would fail a legitimately large write. */
  private[ops] def concurrently[A](s: SparkSession)(jobs: (() => A)*): Seq[A] = {
    import scala.concurrent.{Await, Future, Promise, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val sc = s.sparkContext
    val group = s"graft_concurrently_${concurrentCalls.incrementAndGet()}"
    val fs = jobs.map(j => Future(blocking {
      sc.setJobGroup(group, "FormatOps.concurrently")
      try j() finally sc.clearJobGroup()
    }))
    val firstFailure = Promise[Seq[A]]()
    fs.foreach(_.failed.foreach(firstFailure.tryFailure))
    try Await.result(Future.firstCompletedOf(
      Seq(Future.sequence(fs), firstFailure.future)), Duration.Inf)
    catch { case e: Throwable => sc.cancelJobGroupAndFutureJobs(group); throw e }
  }

  /** Two concurrent jobs of different result types. */
  private[ops] def concurrently[A, B](s: SparkSession,
      a: () => A, b: () => B): (A, B) =
    concurrently[Either[A, B]](s)(() => Left(a()), () => Right(b())) match {
      case Seq(Left(ra), Right(rb)) => (ra, rb)
    }

  /** CSV sink + source: orders → CSV (header, explicit timestamp format) →
    * read back with an explicit schema → priority rollup. */
  private def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "csv")
    graft.Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderpriority", StringType)))
    s.read.schema(schema).option("header", "true").csv(path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderpriority"))
  }

  /** JSON-lines sink + source round trip, including a nested struct column
    * (assembled on write, fielded back out on read) — the reference's
    * native interchange format (task.ts:131-134 reads JSON; the
    * FeatureCollection sink emits it). */
  private def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "jsonl")
    graft.Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        struct(col("event_type").as("type"), col("value").as("v")).as("payload"))
      .write.mode("overwrite").json(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("payload", StructType(Seq(
        StructField("type", StringType), StructField("v", DoubleType))))))
    s.read.schema(schema).json(path)
      .groupBy(col("payload.type").as("event_type"))
      .agg(count(lit(1)).as("n"), sumD(col("payload.v")).as("sum_value"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("event_type"))
  }

  /** Hive-style partitioned parquet write + partition-PRUNED read: only the
    * `o_orderstatus=F` directory is listed and scanned (PartitionFilters in
    * the plan; verified by PlanSpec). */
  private def partitionedPruned(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "part")
    // repartition by the partition column first (the partitionEvolution
    // discipline): one writer per status directory, not tasks × dirs files
    graft.Tables(s, dir, "orders").repartition(col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    s.read.parquet(path)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Range-partitioned, sorted-within-partition parquet write (the
    * clustering layout that makes parquet row-group min/max statistics
    * selective), then a time-window read whose predicate row-group-skips.
    * At 100 TB this layout is the difference between scanning a month and
    * scanning the lake; at test scale the oracle verifies the cycle is
    * lossless and the window agg exact. */
  private def sortedWrite(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "sorted")
    withMicrosTimestamps(s) {
      graft.Tables(s, dir, "orders")
        .repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions(col("o_orderdate"))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(year(col("o_orderdate")).cast("int").as("yr"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("yr"), col("o_orderpriority"))
  }

  /** Z-ORDER clustered write + 2-D predicate read — the multi-column
    * data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER): interleaving
    * the bits of two columns into one sort key co-locates rows that are
    * close in BOTH dimensions, so parquet row-group min/max stats become
    * selective for predicates on EITHER column — a single-column sort
    * (src_sorted_skipping) only skips on its leading column. The z-value
    * is 16 bits per dimension built from shift/mask built-ins (pure
    * codegen, no UDF); the read filters a (custkey range × date range)
    * box and aggregates, and the oracle runs the same box on the ORIGINAL
    * table — proving the clustered cycle lossless. At 100 TB this is the
    * difference between reading ~1/k of row groups for a 2-D box and
    * reading everything that matches only the lead column. */
  /** Write with TIMESTAMP_MICROS (INT64) instead of Spark's deprecated
    * INT96 default. INT96 column chunks carry NO footer statistics, so a
    * timestamp-sorted layout would row-group-skip nothing and the footer
    * manifest builders (FooterStats) would see NULL bounds — the
    * data-skipping operators' entire premise. Scoped set/restore: query
    * factories run sequentially per session. */
  private def withMicrosTimestamps[A](s: SparkSession)(body: => A): A =
    Staging.withConf(s,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")(body)

  private def zorderBits = 16

  private def zvalue(x: Column, y: Column): Column =
    (0 until zorderBits).map { i =>
      (shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1)): Column
    }.reduce(_ + _)

  private def zorderWrite(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "zorder")
    // dimensions: custkey (< 2^16 at test SFs; at larger scale widen the
    // bit budget or range-bucket first) and days since 1992-01-01
    val days = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
    // file count tracks the cluster width (production OPTIMIZE targets a
    // file SIZE, same effect): a fixed count would serialize the range
    // sort into ever-fatter tasks as the table grows, and more z-files
    // only sharpen min/max pruning
    val zFiles = math.max(8, s.sparkContext.defaultParallelism)
    withMicrosTimestamps(s) {
      graft.Tables(s, dir, "orders")
        .withColumn("zv", zvalue(col("o_custkey"), days.cast("long")))
        .repartitionByRange(zFiles, col("zv"))
        .sortWithinPartitions(col("zv"))
        .drop("zv")
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
      .filter(col("o_custkey") >= 100 && col("o_custkey") < 200 &&
        col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderpriority"))
  }

  /** Schema evolution: two parquet files in one dataset written with
    * DIFFERENT schemas (a column added later — the normal life of a
    * long-lived lake table), read back with mergeSchema so the early
    * file's missing column surfaces as NULL. At 100 TB schema changes
    * are certain; a reader that can't union schemas forces a full
    * rewrite. The oracle reconstructs the same union from the original
    * table, with the added column NULLed for the "old" half. */
  private def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "evolve")
    val o = graft.Tables(s, dir, "orders")
    // the two schema generations are independent writes — overlap (§2.6)
    concurrently(s)(
      () => o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$path/v1"),
      () => o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority")) // the column added in v2
        .write.mode("overwrite").parquet(s"$path/v2"))
    s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))
  }

  /** ORC sink + source roundtrip (the second columnar format Spark ships
    * natively), aggregating the read-back to prove losslessness. */
  private def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "orc")
    graft.Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sumD(col("l_quantity")).as("sum_qty"),
        sumD(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Plain-text sink + source roundtrip (one record per line — the format
    * raw crawl dumps and many tokenizer pipelines exchange). Lines carry
    * "doc_id<TAB>text"; read-back parses on the FIRST tab only, so tabs in
    * the payload would survive (the corpus has none — a real pipeline
    * escapes or length-prefixes). Fidelity proof: an order-insensitive
    * md5-prefix checksum over every (doc_id, text) pair, plus min/max
    * fingerprints — any lost or altered byte shifts the sum. */
  private def textRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "text")
    graft.Tables(s, dir, "documents")
      .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
      .write.mode("overwrite").text(path)
    val parts = split(col("value"), "\t", 2)
    // attributes below the Aggregate: the split runs once per row (a bare
    // Project would be CollapseProject-inlined into every consumer)
    val back = s.read.text(path)
      .select(parts.getItem(0).cast("long").as("doc_id"),
        parts.getItem(1).as("text"))
      .select(md5(concat(col("doc_id").cast("string"), lit("|"), col("text"))
        .cast("binary")).as("fp"), length(col("text")).as("len"))
    back.agg(count(lit(1)).as("n_docs"),
      sum(conv(substring(col("fp"), 1, 8), 16, 10).cast("long")).as("fp_sum"),
      min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"),
      sum(col("len")).as("sum_chars"))
  }

  /** Manifest-driven file pruning — the Iceberg/Delta planning model made
    * explicit: per-file min/max column stats live in a MANIFEST, the
    * planner intersects the predicate with each file's range and reads
    * only overlapping files. Spark's parquet reader row-group-skips
    * WITHIN files it opens; manifest pruning skips whole files WITHOUT
    * opening them — at 100 TB (≈100k files) the difference between
    * footer-probing every file and a metadata-only plan.
    *
    * Here the manifest is read from the files' FOOTERS (metadata only,
    * O(files) — the write already recorded every row group's min/max;
    * a real table folds the same numbers into its commit): the file list
    * that survives pruning is collected to the DRIVER — a deliberate,
    * metadata-sized collect (file paths, not data; exactly what every
    * table-format planner does). The exact predicate still applies after
    * the coarse file filter, and the oracle (plain filter on the
    * original table) proves no qualifying row was pruned away. */
  def manifestPrune(s: SparkSession, path: String,
                    lo: java.sql.Timestamp, hi: java.sql.Timestamp): (Seq[String], Int) = {
    val files = s.read.parquet(path).inputFiles.toSeq
    val manifest = graft.sources.FooterStats.longMinMax(s, files, Seq("o_orderdate"))
    // NULL bounds (a row group without stats) must KEEP the file — the
    // no-false-negative contract; footer micros compare as timestamps so
    // the window semantics are identical to the row-scan manifest
    val selected = manifest
      .filter(col("o_orderdate_lo").isNull ||
        (timestamp_micros(col("o_orderdate_lo")) < lit(hi) &&
          timestamp_micros(col("o_orderdate_hi")) >= lit(lo)))
      .select("file").collect().map(_.getString(0)).toSeq
    (selected, files.size)
  }

  /** Read only the manifest-selected files. An empty selection (no file
    * overlaps the predicate window) is a legitimate planning outcome, but
    * `read.parquet()` with zero paths throws "unable to infer schema" —
    * so it degrades to an empty frame WITH the table's schema, read from
    * the full path's footers (metadata-only; no row data scanned). */
  def readPruned(s: SparkSession, path: String, files: Seq[String]): DataFrame =
    if (files.isEmpty) s.read.parquet(path).limit(0)
    else s.read.parquet(files: _*)

  private def manifestPruned(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "manifest")
    withMicrosTimestamps(s) {
      graft.Tables(s, dir, "orders")
        .repartitionByRange(16, col("o_orderdate"))
        .write.mode("overwrite").parquet(path)
    }
    val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val (files, _) = manifestPrune(s, path, lo, hi)
    readPruned(s, path, files)
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Typed footer-stat pruning beyond INT64 — the manifest columns real
    * tables actually filter on: STRING keys (parquet BINARY UTF-8
    * min/max; padded ids, status codes, clerk keys) and DOUBLE measures.
    * Two clustered layouts of the customer table — range-partitioned by
    * c_name and by c_acctbal — are each pruned by their own typed footer
    * manifest (FooterStats.binaryMinMax / doubleMinMax, O(files)
    * metadata) before the exact predicate runs. A `require` pins that
    * each manifest actually DROPPED files (the operator's reason to
    * exist — without it a broken stats reader degrades to reading
    * everything and still hashes green), and the oracle replays both
    * predicates on the ORIGINAL table, proving no qualifying row was
    * pruned away (the no-false-negative contract). The c_name window is
    * below the smallest corpus's key range so the query prunes — and
    * returns identical rows — at every SF. */
  private def typedPruned(s: SparkSession, dir: String): DataFrame = {
    val cust = graft.Tables(s, dir, "customer")
    def prunedAgg(tag: String, layoutKey: Column,
        manifest: Seq[String] => DataFrame, keep: DataFrame => DataFrame,
        exact: Column): DataFrame = {
      val path = tmpDir(s, s"typed_$tag")
      cust.repartitionByRange(16, layoutKey)
        .write.mode("overwrite").parquet(path)
      val files = s.read.parquet(path).inputFiles.toSeq
      val selected = keep(manifest(files)).select("file")
        .collect().map(_.getString(0)).toSeq
      require(selected.size < files.size,
        s"$tag footer manifest pruned nothing — the typed-stats path is broken")
      readPruned(s, path, selected).filter(exact)
        .agg(count(lit(1)).as("n"), sumD(col("c_acctbal")).as("sum_acctbal"))
        .select(lit(tag).as("stat_type"), col("n"), col("sum_acctbal"))
    }
    val nameLo = "Customer#000000030"
    val nameHi = "Customer#000000120"
    val balLo = 2500.0
    // the two clustered fixtures (write + footer manifest + pruned read)
    // are independent — their jobs overlap (guide §2.6)
    val both = concurrently(s)(
      () => prunedAgg("string", col("c_name"),
        fs => graft.sources.FooterStats.binaryMinMax(s, fs, Seq("c_name")),
        m => m.filter(col("c_name_lo").isNull ||
          (col("c_name_lo") < lit(nameHi) && col("c_name_hi") >= lit(nameLo))),
        col("c_name") >= lit(nameLo) && col("c_name") < lit(nameHi)),
      () => prunedAgg("double", col("c_acctbal"),
        fs => graft.sources.FooterStats.doubleMinMax(s, fs, Seq("c_acctbal")),
        m => m.filter(col("c_acctbal_lo").isNull ||
          col("c_acctbal_hi") >= lit(balLo)),
        col("c_acctbal") >= lit(balLo)))
    both(0).unionByName(both(1)).orderBy(col("stat_type"))
  }

  /** The composed read path of the mini table format — commit log →
    * pinned version → per-version manifest → stats-pruned file subset —
    * i.e. what an Iceberg/Delta reader actually does for `VERSION AS OF n
    * WHERE range-predicate`. Two versions are published through the CAS
    * commit log (v2 appends 1998+ orders that must NOT leak into the
    * pinned read); the query pins v1, builds v1's manifest, prunes to the
    * files overlapping the predicate window, and aggregates. Everything
    * driver-side is metadata-sized (the log's pointer file + the pruned
    * file-path list); the oracle reproduces the result by v1's defining
    * predicate, proving version isolation AND lossless pruning in one
    * hash. */
  private def versionedPrune(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "vprune")
    CommitLog.reset(path)
    val orders = graft.Tables(s, dir, "orders")
    // v1 cuts at 1997-07-01; the query window reaches past the cut, so a
    // reader that leaked v2's appended rows would change the hash
    val cut = lit("1997-07-01").cast("timestamp")
    withMicrosTimestamps(s) {
      // both version writes derive from the source — overlap (§2.6),
      // commits ordered after both
      concurrently(s)(
        () => orders.filter(col("o_orderdate") < cut)
          .repartitionByRange(16, col("o_orderdate"))
          .write.mode("overwrite").parquet(s"$path/data_v1"),
        () => orders.repartitionByRange(16, col("o_orderdate"))
          .write.mode("overwrite").parquet(s"$path/data_v2"))
      CommitLog.commit(path, 0, s"$path/data_v1")
      CommitLog.commit(path, 1, s"$path/data_v2")
    }
    // reader: pin v1 while latest is v2, then manifest-prune v1's files
    val pinned = CommitLog.entries(path).find(_.version == 1L).get.dataDir
    val lo = java.sql.Timestamp.valueOf("1997-01-01 00:00:00")
    val hi = java.sql.Timestamp.valueOf("1998-01-01 00:00:00")
    val (files, total) = manifestPrune(s, pinned, lo, hi)
    require(files.size < total,
      s"stats pruning must drop files (kept ${files.size}/$total)")
    readPruned(s, pinned, files)
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Retention lifecycle of the versioned table: publish three versions,
    * leave one conflict-loser orphan dir, then VACUUM to the newest two
    * and sweep orphans. In-query guards pin the lifecycle facts (dropped
    * version unreadable, orphan gone, survivors intact); the returned
    * aggregate reads the LATEST version after vacuum, which the oracle
    * rebuilds by its defining predicate — so a vacuum that touched live
    * data breaks the hash. */
  private def vacuumQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "vacuum")
    CommitLog.reset(path)
    val orders = graft.Tables(s, dir, "orders")
    def cut(d: String) = lit(d).cast("timestamp")
    // all four writes derive from the source table; only the pointer
    // advances are ordered (guide §2.6 — the timeTravel discipline)
    concurrently(s)(
      () => orders.filter(col("o_orderdate") < cut("1997-01-01"))
        .write.mode("overwrite").parquet(s"$path/data_v1"),
      () => orders.filter(col("o_orderdate") < cut("1997-07-01"))
        .write.mode("overwrite").parquet(s"$path/data_v2"),
      () => orders.write.mode("overwrite").parquet(s"$path/data_v3"),
      // a conflict loser's never-committed debris
      () => orders.limit(10).write.mode("overwrite").parquet(s"$path/data_loser"))
    CommitLog.commit(path, 0, s"$path/data_v1")
    CommitLog.commit(path, 1, s"$path/data_v2")
    CommitLog.commit(path, 2, s"$path/data_v3")
    val dropped = CommitLog.vacuum(path, keep = 2)
    val orphans = CommitLog.sweepOrphans(path)
    require(dropped.map(_.version) == Seq(1L), s"expected v1 dropped: $dropped")
    require(orphans.exists(_.endsWith("data_loser")), s"orphan kept: $orphans")
    require(CommitLog.entries(path).map(_.version) == Seq(2L, 3L))
    require(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$path/data_v1")))
    require(
      try { CommitLog.read(s, path, 1); false }
      catch { case _: IllegalArgumentException => true },
      "reading a vacuumed version must fail loudly")
    s.read.parquet(CommitLog.latest(path).get.dataDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Change data feed between two committed versions — the
    * snapshot-diff reconstruction of CDC: a full outer join of v1 and v2
    * on the primary key classifies every row as insert (absent from v1),
    * delete (absent from v2), or update (payload differs); unchanged rows
    * drop out. A production table format records the feed at WRITE time
    * (per-commit delta files) and only falls back to this snapshot diff
    * for pre-CDF history — the reconstruction is one key-partitioned
    * shuffle join, linear in table size. The version pair comes from the
    * commit log, so the feed is between two immutable published
    * snapshots, never a half-written state. The v2 mutation recipe
    * (drop key%13, bump price for key%7) is deterministic, so the oracle
    * rebuilds both versions by predicate and diffs them in SQL. */
  private def changeFeed(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "cdf")
    CommitLog.reset(path)
    val orders = graft.Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
    val cut = lit("1997-07-01").cast("timestamp")
    // both snapshots derive from the source by predicate — writes overlap
    // (guide §2.6), commits stay ordered
    concurrently(s)(
      () => orders.filter(col("o_orderdate") < cut).drop("o_orderdate")
        .write.mode("overwrite").parquet(s"$path/data_v1"),
      () => orders.filter(col("o_orderkey") % 13 =!= 0).drop("o_orderdate")
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")))
        .write.mode("overwrite").parquet(s"$path/data_v2"))
    CommitLog.commit(path, 0, s"$path/data_v1")
    CommitLog.commit(path, 1, s"$path/data_v2")
    val v1 = CommitLog.read(s, path, 1).select(col("o_orderkey").as("k1"),
      col("o_orderstatus").as("st1"), col("o_totalprice").as("p1"))
    val v2 = CommitLog.read(s, path, 2).select(col("o_orderkey").as("k2"),
      col("o_orderstatus").as("st2"), col("o_totalprice").as("p2"))
    v1.join(v2, col("k1") === col("k2"), "full_outer")
      .withColumn("change_type",
        when(col("k1").isNull, lit("insert"))
          .when(col("k2").isNull, lit("delete"))
          .when(col("p1") =!= col("p2") || col("st1") =!= col("st2"),
            lit("update")))
      .filter(col("change_type").isNotNull)
      .groupBy(col("change_type"),
        coalesce(col("st2"), col("st1")).as("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sumD(coalesce(col("p2"), col("p1"))).as("sum_price"))
      .orderBy(col("change_type"), col("o_orderstatus"))
  }

  /** PARTITION EVOLUTION — changing a table's partition layout WITHOUT
    * rewriting history (the Iceberg contract; Hive-style tables must
    * rewrite everything): the old segment stays month-partitioned, new
    * data lands day-partitioned, and the manifest (one multi-table commit
    * entry) records which directory carries which layout. A reader plans
    * each segment with ITS OWN partition predicate — months for the old
    * layout, day range for the new — and both scans must prune (pinned by
    * plan-string requires), so a 100 TB table evolves layouts with one
    * metadata write and queries keep skipping at full precision on both
    * sides of the cut. The exact predicate re-applies after the union;
    * the oracle is the plain filtered aggregate. */
  private def partitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "pevo")
    CommitLog.reset(path)
    val orders = graft.Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
    // the cut sits near the head of the table (the realistic shape: the
    // layout evolved recently, so the day-grained segment covers the last
    // ~2 months, not years — a years-deep day segment would mean thousands
    // of partition directories whose listing cost dwarfs the data)
    val cut = lit("2001-06-01").cast("timestamp")
    // repartition by the partition column before partitionBy: without it
    // every input task opens a writer in every partition directory
    // (tasks × dirs small files — the classic partitioned-write flood);
    // with it each directory is written by exactly one task.
    // the two segment writes are INDEPENDENT jobs (different directories,
    // different partition layouts) and the commit needs both — submit
    // them concurrently so the second back-fills the first's write tail
    // (guide §2.6 overlap; the trainCurve metric/gradient discipline)
    concurrently(s)(
      () => orders.filter(col("o_orderdate") < cut)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .repartition(col("o_month"))
        .write.mode("overwrite").partitionBy("o_month")
        .parquet(s"$path/seg_month"),
      () => orders.filter(col("o_orderdate") >= cut)
        .withColumn("o_day", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .repartition(col("o_day"))
        .write.mode("overwrite").partitionBy("o_day")
        .parquet(s"$path/seg_day"))
    CommitLog.commitTables(path, 0,
      Seq("seg_month" -> s"$path/seg_month", "seg_day" -> s"$path/seg_day"))
    // query window spans the layout cut: [2001-04-01, 2001-08-02)
    val lo = lit("2001-04-01").cast("timestamp")
    val hi = lit("2001-08-02").cast("timestamp")
    val dirs = CommitLog.tableDirs(path, 1)
    val oldSeg = s.read.parquet(dirs("seg_month"))
      .filter(col("o_month").isin("2001-04", "2001-05"))
    val newSeg = s.read.parquet(dirs("seg_day"))
      .filter(col("o_day") >= "2001-06-01" && col("o_day") < "2001-08-02")
    def pruned(d: DataFrame): Boolean = {
      val p = d.queryExecution.executedPlan.toString
      val i = p.indexOf("PartitionFilters: [")
      i >= 0 && !p.substring(i).take(120).contains("PartitionFilters: []")
    }
    require(pruned(oldSeg) && pruned(newSeg),
      "both layout segments must plan partition-pruned scans")
    oldSeg.drop("o_month").unionAll(newSeg.drop("o_day"))
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** SHALLOW CLONE — the zero-copy fork every experiment workflow wants:
    * the clone's first commit simply REFERENCES the source's current data
    * directory (metadata-only, no bytes move — pinned by a `require` that
    * the clone table contains no data of its own after cloning), and
    * divergence is copy-on-write: the clone's next commit writes ITS OWN
    * new version dir while the source stays untouched (second `require`:
    * the source's latest pointer and data are unchanged after the clone
    * diverges). At 100 TB cloning is one log write regardless of table
    * size — the Delta/Iceberg shallow-clone contract. The query reads
    * source, pinned clone v1, and diverged clone v2 side by side; the
    * oracle rebuilds each from its defining predicate. */
  private def shallowClone(s: SparkSession, dir: String): DataFrame = {
    val src = tmpDir(s, "clone_src")
    val cln = tmpDir(s, "clone_dst")
    // full wipe, not just the commit log: the zero-copy `require` below
    // counts data files under the clone root, so a data_v2 left by a
    // previous run of this query (bench warmup + timed passes share one
    // session) would fail it spuriously.
    def wipe(root: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(root))
    }
    wipe(src); wipe(cln)
    CommitLog.reset(src); CommitLog.reset(cln)
    val orders = graft.Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    orders.write.mode("overwrite").parquet(s"$src/data_v1")
    CommitLog.commit(src, 0, s"$src/data_v1")
    // clone: one metadata write, REFERENCING the source's committed dir
    val srcHead = CommitLog.latest(src).get
    CommitLog.commit(cln, 0, srcHead.dataDir)
    def ownDataFiles(table: String): Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(table))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    }
    require(ownDataFiles(cln).isEmpty,
      "shallow clone must copy zero data bytes — metadata only")
    // diverge: copy-on-write — the clone deletes one status into ITS OWN
    // new version; the source must remain bit-stable
    CommitLog.read(s, cln, 1).filter(col("o_orderstatus") =!= "O")
      .write.mode("overwrite").parquet(s"$cln/data_v2")
    CommitLog.commit(cln, 1, s"$cln/data_v2")
    require(CommitLog.latest(src).get == srcHead,
      "clone divergence must not advance the source's log")
    def agg(d: DataFrame, tag: String) =
      d.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
        .select(lit(tag).as("tbl"), col("o_orderstatus"), col("n"),
          col("sum_price"))
    agg(CommitLog.read(s, src, 1), "source")
      .unionAll(agg(CommitLog.read(s, cln, 1), "clone_v1"))
      .unionAll(agg(CommitLog.read(s, cln, 2), "clone_v2"))
      .orderBy(col("tbl"), col("o_orderstatus"))
  }

  /** Atomic MULTI-TABLE transaction — the isolation a fact table and its
    * derived summary need to never disagree: both directories are
    * published by ONE commit-log entry (a "name=dir" manifest behind the
    * same put-if-absent CAS), so a reader pinning any transaction version
    * sees facts and summary from the SAME write, never a mixed pair —
    * the window single-table logs leave between two separate commits.
    * The query reads both tables of both pinned versions through the
    * manifest, recounts the facts, and compares against the stored
    * summary — `consistent` would flip FALSE if a reader could ever
    * resolve facts of one version with the summary of another. The
    * oracle rebuilds both versions by their defining predicates. */
  private def txnTables(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "txn")
    CommitLog.reset(path)
    val orders = graft.Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
    val cut = lit("1997-07-01").cast("timestamp")
    // both transactions' fact+summary WRITES derive from the source table
    // and land in disjoint dirs — they overlap (guide §2.6); only the
    // manifest commits are ordered, applied sequentially below
    def writePair(version: Long, facts: DataFrame): Unit = {
      val f = s"$path/facts_v${version + 1}"
      val m = s"$path/summary_v${version + 1}"
      facts.drop("o_orderdate").write.mode("overwrite").parquet(f)
      s.read.parquet(f).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("mv_n"), sum(col("o_totalprice").cast(dec)).as("mv_sp"))
        .write.mode("overwrite").parquet(m)
    }
    concurrently(s)(
      () => writePair(0, orders.filter(col("o_orderdate") < cut)),
      () => writePair(1, orders))
    Seq(0L, 1L).foreach { v =>
      CommitLog.commitTables(path, v,
        Seq("facts" -> s"$path/facts_v${v + 1}", "summary" -> s"$path/summary_v${v + 1}"))
    }
    val perVersion = Seq(1L, 2L).map { v =>
      val facts = CommitLog.readTable(s, path, v, "facts")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("fact_n"), sumD(col("o_totalprice")).as("sum_price"))
      val mv = CommitLog.readTable(s, path, v, "summary")
      facts.join(mv, Seq("o_orderstatus"))
        .select(lit(v).as("version"), col("o_orderstatus"),
          col("fact_n"), col("mv_n"),
          col("sum_price"),
          (col("fact_n") === col("mv_n") &&
            col("sum_price") === col("mv_sp").cast("double")).as("consistent"))
    }
    perVersion.reduce(_.unionAll(_))
      .orderBy(col("version"), col("o_orderstatus"))
  }

  /** Incremental view maintenance from a WRITE-TIME change feed — the op
    * that keeps a 100 TB table's aggregates fresh without rescanning it:
    * the v2 committer knows exactly what it changed, so alongside the new
    * snapshot it publishes a per-commit DELTA file (insert/update/delete
    * rows with their count and decimal-exact sum contributions). The
    * materialized view then refreshes by joining ITSELF with the
    * delta-file roll-up — cost proportional to the CHANGE, not the table.
    * An in-query guard pins the claim: the refresh plan's scans touch only
    * `mv_v1` and `delta_v2`, never `data_v2`. Decimal arithmetic makes
    * the identity exact — maintained sums equal the oracle's direct
    * aggregate over predicate-rebuilt v2 bit-for-bit; the final cast to
    * double happens only at output. Mutation recipe matches
    * `src_change_feed` (drop key%13, bump price 1.1x for key%7, append
    * past the v1 date cut). */
  private def ivmApply(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "ivm")
    CommitLog.reset(path)
    val o = graft.Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").as("p"), col("o_orderdate").as("d"))
    val cut = lit("1997-07-01").cast("timestamp")
    val bumped = when(col("k") % 7 === 0, col("p") * 1.1).otherwise(col("p"))
    val deletes = o.filter(col("d") < cut && col("k") % 13 === 0)
      .select(col("st"), lit(-1L).as("dn"), (-col("p").cast(dec)).as("dp"))
    val updates = o.filter(col("d") < cut && col("k") % 13 =!= 0 && col("k") % 7 === 0)
      .select(col("st"), lit(0L).as("dn"),
        (bumped.cast(dec) - col("p").cast(dec)).as("dp"))
    val inserts = o.filter(col("d") >= cut && col("k") % 13 =!= 0)
      .select(col("st"), lit(1L).as("dn"), bumped.cast(dec).as("dp"))
    // three independent write chains (guide §2.6): v1 snapshot → its MV
    // (sequential within the chain — the MV reads v1's files), the v2
    // snapshot, and the writer-recorded delta; only the commits are ordered
    concurrently(s)(
      () => {
        // v1 snapshot + its materialized view (sum kept DECIMAL in the MV)
        o.filter(col("d") < cut).drop("d")
          .write.mode("overwrite").parquet(s"$path/data_v1")
        s.read.parquet(s"$path/data_v1")
          .groupBy(col("st"))
          .agg(count(lit(1)).as("n"), sum(col("p").cast(dec)).as("sp"))
          .write.mode("overwrite").parquet(s"$path/mv_v1")
      },
      // v2 snapshot, with the writer RECORDING its delta as it commits
      () => o.filter(col("k") % 13 =!= 0).drop("d").withColumn("p", bumped)
        .write.mode("overwrite").parquet(s"$path/data_v2"),
      () => deletes.union(updates).union(inserts)
        .write.mode("overwrite").parquet(s"$path/delta_v2"))
    CommitLog.commit(path, 0, s"$path/data_v1")
    CommitLog.commit(path, 1, s"$path/data_v2")
    // refresh: MV + delta roll-up only — the v2 data files stay closed
    val deltaAgg = s.read.parquet(s"$path/delta_v2")
      .groupBy(col("st"))
      .agg(sum(col("dn")).as("dn"), sum(col("dp")).as("dp"))
    val refreshed = s.read.parquet(s"$path/mv_v1")
      .join(deltaAgg, Seq("st"), "full_outer")
      .select(col("st"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("sp"), lit(0).cast(dec)) +
          coalesce(col("dp"), lit(0).cast(dec))).cast("double").as("sum_price"))
      .filter(col("n") > 0)
      .withColumnRenamed("st", "o_orderstatus")
      .orderBy(col("o_orderstatus"))
    val scans = refreshed.queryExecution.executedPlan.toString
    require(!scans.contains("data_v2") && scans.contains("mv_v1") &&
      scans.contains("delta_v2"),
      "IVM refresh must read only the MV and the delta, never the v2 data")
    refreshed
  }

  /** Small-file compaction — the maintenance op that keeps a streamed-into
    * table readable: many small files (here 64, the shape a per-trigger
    * streaming sink leaves behind) are rewritten into size-targeted large
    * ones. The target file COUNT comes from filesystem metadata (sum of
    * file lengths / 128 MB), not from scanning data — how a real
    * compaction planner sizes its job; `coalesce` merges splits without a
    * shuffle. The checksum aggregate over the compacted table vs the
    * ORIGINAL proves the rewrite byte-preserved every row. */
  private def compaction(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "compact")
    graft.Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .repartition(64)
      .write.mode("overwrite").parquet(s"$path/small")
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/small"))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt)
    s.read.parquet(s"$path/small").coalesce(nFiles)
      .write.mode("overwrite").parquet(s"$path/big")
    val back = s.read.parquet(s"$path/big")
      .select(md5(concat(col("event_id").cast("string"), lit(":"),
        col("event_type")).cast("binary")).as("fp"),
        col("user_id"), col("value"))
    back.agg(count(lit(1)).as("n"),
      sum(conv(substring(col("fp"), 1, 8), 16, 10).cast("long")).as("fp_sum"),
      min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"),
      countDistinct(col("user_id")).as("n_users"),
      sumD(col("value")).as("sum_value"))
  }

  /** METADATA-ONLY AGGREGATES — Delta's "metadata-only query"
    * optimization: every commit records a stats sidecar (row count,
    * min/max of the sort column, DECIMAL-exact column sum) computed from
    * the batch being written, and `COUNT(*)` / `MIN` / `MAX` / `SUM`
    * over the whole table are then answered by FOLDING the sidecars —
    * O(versions) driver-side metadata reads, ZERO data files opened. At
    * 100 TB this is the difference between an instant dashboard count
    * and a full scan. The sum is carried as a decimal STRING (doubles
    * would drift on re-aggregation); mergeability is exactly the
    * partial-aggregate contract. The oracle scans the raw table — a
    * stats sidecar that dropped or double-counted a row breaks the
    * hash; `StatsQuerySpec` proves the zero-scan claim by answering
    * AFTER the data dirs are renamed away. */
  /** Write a batch and compute its stats sidecar values IN the write job
    * (r16 optimization round, the stream_outer_join Observation
    * precedent: the separate `df.agg` was a second full scan of the
    * batch). min/max are EPOCH MICROS, not Timestamp.toString — the
    * latter renders in the JVM default timezone (only the Spark session
    * TZ is pinned to UTC), so the folded strings would shift by the host
    * offset and lexicographic max would be wrong on non-UTC hosts. */
  private[graft] def writeStatsData(dataDir: String, df: DataFrame)
      : (Long, Any, Any, java.math.BigDecimal) = {
    val obs = new org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("n"),
        min(unix_micros(col("o_orderdate"))).as("mn"),
        max(unix_micros(col("o_orderdate"))).as("mx"),
        sum(col("o_totalprice").cast(Exact.dec)).as("sm"))
      .write.mode("overwrite").parquet(dataDir)
    val m = obs.get
    (m("n").asInstanceOf[Long], m("mn"), m("mx"),
      m("sm").asInstanceOf[java.math.BigDecimal])
  }

  private[graft] def writeStatsCommit(s: SparkSession, path: String,
      expected: Long, dataDir: String, df: DataFrame): Unit = {
    val st = writeStatsData(dataDir, df)
    commitStats(path, expected, dataDir, st)
  }

  /** Commit a written batch with its stats sidecar. An empty batch has
    * no min/max and would have serialized "null"; reject it — a commit
    * must describe at least one row for the fold to hold. */
  private def commitStats(path: String, expected: Long, dataDir: String,
      st: (Long, Any, Any, java.math.BigDecimal)): Unit = {
    require(st._1 > 0, s"empty batch: refusing stats commit to $dataDir")
    val c = CommitLog.commit(path, expected, dataDir)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, f"_stats_v${c.version}%020d.json"),
      s"""{"rows":${st._1},"min_us":${st._2},""" +
        s""""max_us":${st._3},"sum":"${st._4.toPlainString}"}""")
    ()
  }

  /** Fold the stats sidecars of every committed version — metadata only. */
  private[graft] def statsAnswer(s: SparkSession, path: String): DataFrame = {
    val folded = CommitLog.entries(path).map { c =>
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(path, f"_stats_v${c.version}%020d.json"))
      def field(k: String) = txt.split(s""""$k":"?""")(1).split("[\",}]")(0)
      (field("rows").toLong, field("min_us").toLong, field("max_us").toLong,
        BigDecimal(field("sum")))
    }
    val (rows, mins, maxs, sums) = (folded.map(_._1).sum,
      folded.map(_._2).min, folded.map(_._3).max, folded.map(_._4).sum)
    import s.implicits._
    Seq((rows, mins, maxs, sums.toDouble))
      .toDF("n_rows", "min_us", "max_us", "sum_price")
      .select(col("n_rows"), timestamp_micros(col("min_us")).as("min_date"),
        timestamp_micros(col("max_us")).as("max_date"), col("sum_price"))
  }

  private def statsQueryQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "statsq")
    CommitLog.reset(path)
    new java.io.File(path).mkdirs()
    val orders = graft.Tables(s, dir, "orders")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    // The three batch writes target disjoint directories and only the
    // COMMITS are ordered — run the write+stats jobs concurrently (guide
    // §2.6: later jobs back-fill the earlier ones' write tails), then
    // commit sequentially from the completed results.
    val dataDirs = (1 to 3).map(v => s"$path/data_v$v")
    val stats = concurrently(s)(dataDirs.zipWithIndex.map { case (d, i) =>
      () => writeStatsData(d, orders.filter(pmod(col("o_orderkey"), lit(3)) === i))
    }: _*)
    dataDirs.zip(stats).zipWithIndex.foreach { case ((d, st), i) =>
      commitStats(path, i.toLong, d, st)
    }
    statsAnswer(s, path)
  }

  /** WRITE-TIME CONSTRAINT ENFORCEMENT — the CHECK / NOT NULL contract
    * real table formats attach to the table, not the pipeline: the
    * constraints are table METADATA (committed as a `_constraints`
    * entry), and EVERY writer is gated by them — a violating batch fails
    * loudly with per-rule counts (one conditional-aggregate pass, the
    * rel_expectations kernel) and commits NOTHING, so a reader can rely
    * on the invariants without re-validating. The query proves both
    * sides: a deterministically-corrupted batch must throw and leave the
    * log at version 0; the clean batch commits, and the read-back
    * aggregate hash-matches the predicate-defined oracle. At 100 TB the
    * check is one map-side pass over the batch being written (never the
    * table), and the failed write costs no rewrite — nothing was
    * published. */
  private def checkedWriteQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "checked")
    CommitLog.reset(path)
    new java.io.File(path).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_constraints"),
      "o_totalprice > 0; o_custkey IS NOT NULL")
    val rules = Seq(
      "o_totalprice > 0" -> (col("o_totalprice") > 0),
      "o_custkey IS NOT NULL" -> col("o_custkey").isNotNull)
    def checkedCommit(df: DataFrame, expected: Long, dataDir: String): Unit = {
      val breachCols = rules.map { case (name, rule) =>
        sum(when(!coalesce(rule, lit(false)), 1L).otherwise(0L)).as(name)
      }
      val breach = df.agg(breachCols.head, breachCols.tail: _*).head()
      val broken = rules.indices.map(i => rules(i)._1 -> breach.getLong(i))
        .filter(_._2 > 0)
      require(broken.isEmpty,
        s"constraint violations, nothing committed: ${broken.mkString(", ")}")
      df.write.mode("overwrite").parquet(dataDir)
      CommitLog.commit(path, expected, dataDir)
      ()
    }
    val orders = graft.Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    // a corrupted batch: every 97th key gets a negative price, every
    // 101st a NULL custkey
    val corrupted = orders
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
      .withColumn("o_custkey",
        when(col("o_orderkey") % 101 === 0, lit(null).cast("long"))
          .otherwise(col("o_custkey")))
    val rejected =
      try { checkedCommit(corrupted, 0L, s"$path/data_bad"); false }
      catch { case _: IllegalArgumentException => true }
    require(rejected, "the violating batch must be rejected")
    require(CommitLog.latest(path).isEmpty,
      "a rejected write must publish nothing")
    // the clean batch: exactly the rows satisfying the constraints
    val clean = corrupted
      .filter(col("o_totalprice") > 0 && col("o_custkey").isNotNull)
    checkedCommit(clean, 0L, s"$path/data_v1")
    s.read.parquet(CommitLog.latest(path).get.dataDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** HIDDEN PARTITIONING — the Iceberg model: the table is physically
    * laid out by a TRANSFORM of a data column (`months(o_orderdate)`),
    * the transform is TABLE METADATA (committed alongside the layout,
    * here a `_transform` entry), and queries never mention the partition
    * column — they filter the RAW column, and the planner derives which
    * partition values can satisfy the predicate FROM the transform.
    * This is what plain path-partitioned tables can't do: Spark prunes
    * `p_month = ...` only when the query references `p_month`
    * (src_partitioned_pruned's territory); a raw-column range predicate
    * reads everything. Here `o_orderdate ∈ [1995-07, 1995-10)` maps
    * through `months()` to exactly three partition values — metadata-only
    * planning, zero data reads to decide. The require pins a strict
    * subset of partitions read AND that every scanned file lives under a
    * derived partition; the oracle (plain range filter on the original
    * table) proves the derivation loses no row. At 100 TB: users write
    * natural predicates, partition math stays in the table format, and
    * mis-partitioned full scans — the #1 silent cost on date-partitioned
    * lakes — stop being possible. */
  private def hiddenPartitioning(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "hiddenpart")
    // repartition by the partition column first: ~84 month directories
    // from a 32-wide input was ~2700 small files (tasks × dirs), paid
    // again by every listing and pruned read
    graft.Tables(s, dir, "orders")
      .withColumn("p_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .repartition(col("p_month"))
      .write.partitionBy("p_month").mode("overwrite").parquet(path)
    // the transform is table METADATA, not query text
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_transform"), "months(o_orderdate)")
    val (lo, hi) = ("1995-07-01", "1995-10-01")
    // planner: read the committed transform, derive the partition values
    // the raw-column predicate can touch (month overlap with [lo, hi))
    val transform = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$path/_transform")).trim
    require(transform == "months(o_orderdate)", s"unknown transform $transform")
    def ym(d: String) = java.time.YearMonth.from(java.time.LocalDate.parse(d))
    val last = // an exclusive bound on a month edge excludes that month
      if (ym(hi).atDay(1).isEqual(java.time.LocalDate.parse(hi))) ym(hi).minusMonths(1)
      else ym(hi)
    val months = Iterator.iterate(ym(lo))(_.plusMonths(1))
      .takeWhile(!_.isAfter(last)).map(_.toString).toSeq
    val all = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("p_month=")).map(_.getName).sorted
    val wanted = months.map(m => s"p_month=$m").filter(all.contains)
    require(wanted.nonEmpty && wanted.size < all.length,
      s"hidden partitioning must prune: ${wanted.size}/${all.length}")
    val pruned = s.read.option("basePath", path)
      .parquet(wanted.map(w => s"$path/$w"): _*)
    // every scanned file must live under a derived partition — the scan
    // can never silently widen past the transform's answer
    require(pruned.inputFiles.forall(f => wanted.exists(w => f.contains(s"/$w/"))),
      "scan escaped the derived partitions")
    pruned
      .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
        col("o_orderdate") < lit(hi).cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderpriority"))
  }

  /** OPTIMIZE — compaction + Z-ORDER reclustering as ONE commit-log
    * transaction, the maintenance write every production lakehouse runs:
    * v1 is the table as ingest left it (many small, unclustered files);
    * OPTIMIZE rewrites that data into few z-ordered files and publishes
    * the result as v2 through the OCC log. The operation is logically
    * idempotent — same rows, new layout — so the query's aggregate over
    * the optimized version hash-matches the plain-table oracle, while
    * in-query requires pin the physical contract: row count preserved
    * AND v1 still time-travelable (the rewrite publishes, never
    * mutates), file count strictly reduced, and a 2-D box predicate
    * selects a strictly smaller file fraction from v2's stats manifest
    * than from v1's (the clustering payoff data skipping exists for).
    * At 100 TB, OPTIMIZE is the difference between ingest-shaped and
    * query-shaped layout: the rewrite is one shuffle of the optimized
    * partitions' data, readers before/after the commit each see a
    * consistent version, and the old files vacuum later. */
  private def optimizeQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "optimize")
    CommitLog.reset(path)
    // v1: ingest-shaped — 32 small files, rows scattered by hash, every
    // file spanning nearly the full custkey/date range
    withMicrosTimestamps(s) {
      graft.Tables(s, dir, "orders")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$path/data_v1")
      CommitLog.commit(path, 0L, s"$path/data_v1")
      // OPTIMIZE: read the committed version, recluster on the z-curve,
      // publish as the next version (CAS — a concurrent writer would lose
      // exactly one of the two commits, as CommitLogSpec pins elsewhere)
      val days = datediff(col("o_orderdate"), lit("1992-01-01").cast("date"))
      CommitLog.read(s, path, 1L)
        .withColumn("zv", zvalue(col("o_custkey"), days.cast("long")))
        .repartitionByRange(8, col("zv"))
        .sortWithinPartitions(col("zv"))
        .drop("zv")
        .write.mode("overwrite").parquet(s"$path/data_v2")
      CommitLog.commit(path, 1L, s"$path/data_v2")
    }
    // both versions' manifests come from footers — metadata only, the
    // numbers the write itself recorded (schema: file, n_rows,
    // o_custkey_lo/hi, o_orderdate_lo/hi as UTC micros)
    def stats(v: Long) = graft.sources.FooterStats.longMinMax(s,
      CommitLog.read(s, path, v).inputFiles.toSeq,
      Seq("o_custkey", "o_orderdate")).collect()
    val (usLo, usHi) = (788918400000000L, 820454400000000L) // 1995 / 1996-01-01 UTC
    def selected(st: Array[org.apache.spark.sql.Row]) = st.filter { r =>
      (2 to 5).exists(r.isNullAt) || // stats-less chunk: cannot prune
        (r.getLong(3) >= 100 && r.getLong(2) < 200 &&
          r.getLong(5) >= usLo && r.getLong(4) < usHi)
    }
    // the two manifest builds are independent footer jobs — overlap (§2.6)
    val sts = concurrently(s)(() => stats(1L), () => stats(2L))
    val (st1, st2) = (sts(0), sts(1))
    require(st2.length < st1.length,
      s"OPTIMIZE must compact: ${st1.length} files -> ${st2.length}")
    val (sel1, sel2) = (selected(st1), selected(st2))
    require(sel2.length < st2.length &&
      sel2.length.toDouble / st2.length < sel1.length.toDouble / st1.length,
      s"z-order must improve box pruning: v1 ${sel1.length}/${st1.length}, " +
        s"v2 ${sel2.length}/${st2.length}")
    require(st1.map(_.getLong(1)).sum == st2.map(_.getLong(1)).sum,
      "OPTIMIZE must preserve rows and leave v1 time-travelable")
    readPruned(s, s"$path/data_v2", sel2.map(_.getString(0)).toSeq)
      .filter(col("o_custkey") >= 100 && col("o_custkey") < 200 &&
        col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderpriority"))
  }

  /** Snapshot time travel — immutable version directories plus a one-line
    * commit pointer (the minimal form of a table format's metadata log):
    * writers publish a NEW version dir then atomically advance the
    * pointer; readers resolve the pointer (or any pinned historical
    * version) to a directory, so concurrent reads never see a partial
    * write and yesterday's report is reproducible byte-for-byte. The
    * query reads BOTH versions and reports them side by side; the oracle
    * reconstructs each version by its defining predicate — matching
    * proves version isolation (v1 must NOT see rows added in v2). */
  private def timeTravel(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "ttravel")
    CommitLog.reset(path) // fixture table: rebuilt from scratch each run
    val orders = graft.Tables(s, dir, "orders")
    // each version's data lands in its own dir, then a CAS pointer advance
    // publishes it (CommitLog: two racing writers -> exactly one wins).
    // The two version WRITES derive from the source table, not from each
    // other — only the pointer advances are ordered, so the writes overlap
    // (guide §2.6) and the commits stay sequential.
    concurrently(s)(
      () => orders.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .write.mode("overwrite").parquet(s"$path/data_v1"),
      () => orders.write.mode("overwrite").parquet(s"$path/data_v2"))
    CommitLog.commit(path, 0, s"$path/data_v1")
    CommitLog.commit(path, 1, s"$path/data_v2")
    def readVersion(v: Int): DataFrame = CommitLog.read(s, path, v)
    val latest = CommitLog.latest(path).get.version.toInt
    def agg(df: DataFrame, version: Int): DataFrame =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
        .select(lit(version).cast("long").as("version"), col("o_orderstatus"),
          col("n"), col("sum_price"))
    agg(readVersion(1), 1).unionByName(agg(readVersion(latest), latest))
      .orderBy(col("version"), col("o_orderstatus"))
  }

  /** Targeted delete + rewrite — the right-to-be-forgotten op every
    * GDPR-governed lake runs: a (small) key set of deletion requests
    * anti-joins the table and the survivors are REWRITTEN as a new
    * version (published with the same pointer-swap as src_time_travel;
    * the old version ages out with retention). The anti join broadcasts
    * the request keys — at 100 TB a delete touches every file that MIGHT
    * hold a requested row; combine with the manifest (src_manifest_pruned)
    * on the request keys' ranges to rewrite only affected files. The
    * oracle reconstructs the survivor set by predicate, proving no
    * requested row survived and no other row was lost. */
  private def gdprDelete(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "gdpr")
    CommitLog.reset(path) // fixture table: rebuilt from scratch each run
    val orders = graft.Tables(s, dir, "orders")
    orders.write.mode("overwrite").parquet(s"$path/data_v1")
    CommitLog.commit(path, 0, s"$path/data_v1")
    val requests = graft.Tables(s, dir, "customer")
      .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    CommitLog.read(s, path, 1)
      .join(broadcast(requests), col("o_custkey") === col("c_custkey"),
        "left_anti")
      .write.mode("overwrite").parquet(s"$path/data_v2")
    CommitLog.commit(path, 1, s"$path/data_v2")
    s.read.parquet(CommitLog.latest(path).get.dataDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderstatus"))
  }

  /** Bloom-index file skipping — the pruning model min/max stats CANNOT
    * provide: the table is laid out by `o_orderdate` (the natural sort
    * key), so every file's `o_orderkey` range spans nearly the whole
    * domain and a point lookup on it overlaps ALL the min/max ranges.
    * A split-block bloom filter written by PARQUET ITSELF at write time
    * (`parquet.bloom.filter.enabled#<col>`) answers "might this file
    * contain key k?" with no false negatives — the planner consults the
    * footers and opens only bloom-positive files. This is the
    * Delta/Iceberg bloom-filter index with the index storage parquet
    * already provides: at 100 TB ≈ 100k files the index rides in the
    * footers (written incrementally with each file for free, consulted
    * without touching row data), and a point lookup reads 1–2 files
    * instead of all of them.
    *
    * The probe keys are derived by a metadata-sized aggregate (min/max +
    * two modulus-class extremes — a real lookup arrives with literal
    * keys). The in-query guard pins the pruning claim; the oracle (plain
    * IN-lookup on the original table) proves no-false-negative planning:
    * an over-pruned file would lose a row and break the hash. */
  private def bloomSkipping(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "bloomidx")
    // size FILES to the filter's key capacity, exactly how parquet sizes
    // bloom bits to expected NDV: keys-per-file must stay bounded as the
    // table grows or the saturated filters answer "maybe" for everything
    // and pruning dies (caught by the sf1 full-suite rehearsal when the
    // 4 KiB predecessor hit 94k keys/file = kept 16/16). The source row
    // count comes from ITS footers — metadata, not a scan.
    val keysPerFile = 5000L
    val srcRows = graft.sources.FooterStats.rowCount(s,
      graft.Tables(s, dir, "orders").inputFiles.toSeq)
    val nFiles = math.max(16L, (srcRows + keysPerFile - 1) / keysPerFile).toInt
    graft.Tables(s, dir, "orders")
      .repartitionByRange(nFiles, col("o_orderdate"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#o_orderkey", "true")
      .option("parquet.bloom.filter.expected.ndv#o_orderkey", keysPerFile.toString)
      .parquet(path)
    val k = s.read.parquet(path).agg(
      min(col("o_orderkey")), max(col("o_orderkey")),
      min(when(col("o_orderkey") % 7 === 0, col("o_orderkey"))),
      max(when(col("o_orderkey") % 7 === 3, col("o_orderkey")))).head()
    val probes = (0 until 4)
      .flatMap(i => if (k.isNullAt(i)) None else Some(k.getLong(i)))
      .distinct.sorted
    val files = s.read.parquet(path).inputFiles.toSeq
    val kept = graft.sources.FooterStats.bloomKeep(s, files, "o_orderkey", probes)
    require(kept.size < files.size,
      s"bloom index must skip files (kept ${kept.size}/${files.size})")
    readPruned(s, path, kept)
      .filter(col("o_orderkey").isin(probes: _*))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Dynamic partition pruning — the mechanism that makes star joins
    * viable on a date/month-partitioned 100 TB fact: the fact's
    * partition filter is not known at plan time (it depends on which dim
    * rows survive `quarter = '1995-Q2'`), so Catalyst injects a
    * `dynamicpruningexpression(o_month IN subquery)` into the fact scan
    * that reuses the dim's broadcast result — the fact reads 3 of 84
    * month partitions instead of all of them, decided at RUNTIME. The
    * `require` pins the mechanism: the executed plan must carry the
    * dynamic-pruning partition filter (static pruning is
    * src_partitioned_pruned's territory). Oracle = the same quarter
    * filter spelled statically over the raw table. */
  private def dppJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = tmpDir(s, "dppfact")
    val dimPath = tmpDir(s, "dppdim")
    // fact and dim writes are independent — overlap them (guide §2.6)
    concurrently(s)(
      // repartition by the partition column first (one writer per month
      // directory — the partitionEvolution discipline)
      () => graft.Tables(s, dir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .repartition(col("o_month"))
        .write.mode("overwrite").partitionBy("o_month").parquet(path),
      // the calendar dim must be a real (file-backed) table: an in-memory
      // dim constant-folds to a bare LocalRelation, leaving no selective
      // Filter for the PartitionPruning rule to derive benefit from
      () => (1992 to 1998).flatMap(y => (1 to 12).map(m =>
          (f"$y-$m%02d", s"$y-Q${(m - 1) / 3 + 1}")))
        .toDF("month", "quarter")
        .write.mode("overwrite").parquet(dimPath))
    val fact = s.read.parquet(path)
    val dim = s.read.parquet(dimPath)
    val joined = fact
      .join(broadcast(dim.filter(col("quarter") === "1995-Q2")),
        col("o_month") === col("month"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        graft.ops.Exact.sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_month"))
    require(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "fact scan must carry a runtime dynamic-partition-pruning filter")
    joined
  }

  /** Transactional MERGE INTO through the commit log (MergeOps): two
    * mergers build on the SAME snapshot v1 — merger A (price updates for
    * key%7 + shifted-key inserts for key%13) publishes v2 first, so merger
    * B's (deletes of key%11) CAS at v2 genuinely LOSES and must rebase:
    * re-read A's result, re-apply the deletes, land v3. Clause-aware
    * merge semantics make the batches commute (a delete racing an update
    * of the same %77 key converges to deleted in either order), so the
    * final state is deterministic and plain SQL can be the oracle — the
    * same composed change set as `rel_upsert`, now applied as two ISOLATED
    * transactions instead of one dataframe expression. The conflict, the
    * rebase, and the version arithmetic are pinned by in-query requires;
    * the final read resolves ONLY through the log. */
  private def mergeIntoQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "merge")
    CommitLog.reset(path) // fixture table: rebuilt from scratch each run
    val orders = graft.Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    orders.write.mode("overwrite").parquet(s"$path/data_v1")
    CommitLog.commit(path, 0, s"$path/data_v1")
    val upserts = orders.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U").as("op"),
        (col("o_totalprice") * 1.1).as("new_price"))
      .union(orders.filter(col("o_orderkey") % 13 === 0)
        .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
          lit("I").as("op"), col("o_totalprice").as("new_price")))
    val deletes = orders.filter(col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit(null).cast("double").as("new_price"))
    // merger B snapshots v1 BEFORE A publishes — a genuinely stale base
    val staleBase = CommitLog.latest(path).get
    // A's merge and B's stale-base apply both read committed v1 and write
    // disjoint dirs — genuinely concurrent mergers (that is the scenario
    // under test); overlap their jobs (guide §2.6). B's CAS attempt runs
    // only after A's commit has landed, so the conflict stays guaranteed.
    val bStale = s"$path/merge_B_stale"
    val (vA, _) = concurrently(s,
      () => MergeOps.mergeInto(s, path, upserts, "A"), // lands v2
      // B's first attempt applies against stale v1 and must LOSE its CAS
      () => MergeOps.applyMerge(s.read.parquet(staleBase.dataDir), deletes)
        .write.mode("overwrite").parquet(bStale))
    val conflicted =
      try { CommitLog.commit(path, staleBase.version, bStale); false }
      catch { case _: CommitLog.CommitConflictException => true }
    require(conflicted, "a merge built on a stale snapshot must conflict")
    val vB = MergeOps.mergeInto(s, path, deletes, "B") // rebases onto v2
    require(vA.version == 2L && vB.version == 3L &&
      CommitLog.latest(path).get.version == 3L,
      s"merges must serialize as v2,v3; got v${vA.version},v${vB.version}")
    s.read.parquet(CommitLog.latest(path).get.dataDir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Merge-on-read delete via DELETION VECTORS — the production contract
    * `src_gdpr_delete` (copy-on-write) deliberately doesn't give: a delete
    * writes O(deleted)/64 words of bitmap and ZERO rewritten data files
    * (pinned by a before/after file-state require), and readers apply the
    * bitmap as an anti-mask at scan time. Row identity is the parquet
    * physical address Spark already exposes — `_metadata.file_path` +
    * `_metadata.row_index` — so the DV is a (file, rowid/64 word, bit_or
    * mask) table: the `rel_bitmap_intersect` word-wise bitmap keyed by
    * file, which is Delta's DV / Iceberg's positional-delete model. The
    * DV commits as a manifest entry referencing the UNCHANGED v1 data dir
    * plus the tiny dv dir (metadata-only commit). At 100 TB the DV is
    * ~rows_deleted/64 longs, always broadcastable, and the masked scan
    * stays one BroadcastHashJoin away from the raw scan — deletes cost
    * ∝ deleted rows, not ∝ table size. Oracle = src_gdpr_delete's
    * survivor SQL: both delete paths must agree bit-for-bit. */
  private def deleteVectorsQ(s: SparkSession, dir: String): DataFrame = {
    val path = tmpDir(s, "dv")
    CommitLog.reset(path) // fixture table: rebuilt from scratch each run
    graft.Tables(s, dir, "orders").repartition(4)
      .write.mode("overwrite").parquet(s"$path/data_v1")
    CommitLog.commitTables(path, 0, Seq("data" -> s"$path/data_v1"))
    def fileState() = new java.io.File(s"$path/data_v1").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
    val before = fileState()
    require(before.size >= 2, "the DV fixture must span multiple data files")
    val requests = graft.Tables(s, dir, "customer")
      .filter(col("c_custkey") % 97 === 0).select(col("c_custkey"))
    val bit = expr("shiftleft(1L, cast(rid % 64 AS INT))")
    // DV build: ONE scan finds doomed row positions, folds them to
    // word-wise bitmaps — the only thing written is the bitmap
    s.read.parquet(s"$path/data_v1")
      .select(col("_metadata.file_path").as("f"),
        col("_metadata.row_index").as("rid"), col("o_custkey"))
      .join(broadcast(requests), col("o_custkey") === col("c_custkey"),
        "left_semi")
      .groupBy(col("f"), floor(col("rid") / 64).as("w"))
      .agg(bit_or(bit).as("dmask"))
      .write.mode("overwrite").parquet(s"$path/dv_v2")
    CommitLog.commitTables(path, 1,
      Seq("data" -> s"$path/data_v1", "dv" -> s"$path/dv_v2"))
    require(fileState() == before,
      "merge-on-read delete must not rewrite, append, or touch data files")
    // read path: broadcast the DV and anti-mask doomed positions at scan
    val t2 = CommitLog.tableDirs(path, 2)
    s.read.parquet(t2("data"))
      .select(col("*"), col("_metadata.file_path").as("f"),
        col("_metadata.row_index").as("rid"))
      .withColumn("w", floor(col("rid") / 64))
      .join(broadcast(s.read.parquet(t2("dv"))), Seq("f", "w"), "left_outer")
      .filter(coalesce(bit.bitwiseAND(col("dmask")), lit(0L)) === 0L)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .orderBy(col("o_orderstatus"))
  }

  /** Read a log version whose manifest carries the table SCHEMA as a
    * first-class committed artifact: `schema` names a dir holding the
    * StructType JSON, `data_*` entries name the accumulated file groups.
    * Old files are projected THROUGH the committed schema (`s.read
    * .schema(...)`), so columns added later NULL-fill — the reader never
    * infers or merges footers (at 100 TB a mergeSchema pass over every
    * footer is a full metadata scan; here schema resolution is ONE tiny
    * driver-side read, the Delta/Iceberg model). */
  private def readWithLoggedSchema(s: SparkSession, path: String,
      version: Long): DataFrame = {
    val t = CommitLog.tableDirs(path, version)
    val sch = org.apache.spark.sql.types.DataType.fromJson(
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(t("schema"), "schema.json")))
      .asInstanceOf[StructType]
    val dataDirs = t.toSeq.collect {
      case (name, d) if name.startsWith("data_") => (name, d)
    }.sortBy(_._1).map(_._2)
    s.read.schema(sch).parquet(dataDirs: _*)
  }

  /** Schema evolution THROUGH the log (vs `src_schema_evolution`'s
    * footer-merging): v1 commits data + its 3-column schema; v2 is a
    * METADATA-ONLY commit — same data files, a 4-column schema adding
    * `o_orderpriority`; v3 appends a file group written with the new
    * column. Requires pin that time travel to v1 yields the v1 schema
    * (the added column is absent, not null), that v2 references byte-same
    * data dirs as v1, and the result reads each version through its own
    * committed schema — v2's added column NULL-fills across v1 files
    * (the filter counts on it), v3 groups by the mixed real/NULL column. */
  private def schemaLogQ(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val path = tmpDir(s, "schlog")
    CommitLog.reset(path) // fixture table: rebuilt from scratch each run
    val o = graft.Tables(s, dir, "orders")
    val d1 = s"$path/data_00001"
    val d2 = s"$path/data_00002"
    // the two file groups are independent writes (d2 is only REFERENCED
    // from commit v3) — overlap them (§2.6); commits stay ordered below
    concurrently(s)(
      () => o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .write.mode("overwrite").parquet(d1),
      () => o.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(d2))
    val schemaV1 = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType)))
    val schemaV2 = schemaV1.add(StructField("o_orderpriority", StringType))
    def putSchema(tag: String, sch: StructType): String = {
      val sd = s"$path/schema_$tag"
      JFiles.createDirectories(JPaths.get(sd))
      JFiles.writeString(JPaths.get(sd, "schema.json"), sch.json)
      sd
    }
    val s1 = putSchema("v1", schemaV1)
    val s2 = putSchema("v2", schemaV2)
    CommitLog.commitTables(path, 0, Seq("data_00001" -> d1, "schema" -> s1))
    // v2: the schema change is METADATA-ONLY — no data touched
    CommitLog.commitTables(path, 1, Seq("data_00001" -> d1, "schema" -> s2))
    CommitLog.commitTables(path, 2,
      Seq("data_00001" -> d1, "data_00002" -> d2, "schema" -> s2))
    // time travel returns each version's OWN schema
    val r1 = readWithLoggedSchema(s, path, 1)
    require(!r1.columns.contains("o_orderpriority"),
      "v1 must present the v1 schema: the later column is absent, not null")
    require(CommitLog.tableDirs(path, 2).filter(_._1.startsWith("data_")) ==
      CommitLog.tableDirs(path, 1).filter(_._1.startsWith("data_")),
      "the schema-change commit must be metadata-only")
    val r2 = readWithLoggedSchema(s, path, 2)
    require(r2.columns.contains("o_orderpriority"),
      "v2 must present the evolved schema over the old files")
    val agg1 = r1.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .select(lit(1L).as("version"), col("o_orderstatus"),
        lit("ALL").as("o_orderpriority"), col("n"), col("sum_price"))
    // every v1 row NULL-fills the added column — the filter IS the proof
    val agg2 = r2.filter(col("o_orderpriority").isNull)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .select(lit(2L).as("version"), col("o_orderstatus"),
        lit("ALL").as("o_orderpriority"), col("n"), col("sum_price"))
    val agg3 = readWithLoggedSchema(s, path, 3)
      .groupBy(col("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("NONE")).as("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .select(lit(3L).as("version"), col("o_orderstatus"),
        col("o_orderpriority"), col("n"), col("sum_price"))
    agg1.unionAll(agg2).unionAll(agg3)
      .orderBy(col("version"), col("o_orderstatus"), col("o_orderpriority"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src_schema_log" -> schemaLogQ,
    "src_delete_vectors" -> deleteVectorsQ,
    "src_merge_into" -> mergeIntoQ,
    "src_dpp_join" -> dppJoin,
    "src_bloom_skipping" -> bloomSkipping,
    "src_gdpr_delete" -> gdprDelete,
    "src_time_travel" -> timeTravel,
    "src_versioned_prune" -> versionedPrune,
    "src_change_feed" -> changeFeed,
    "src_ivm_apply" -> ivmApply,
    "src_txn_tables" -> txnTables,
    "src_shallow_clone" -> shallowClone,
    "src_partition_evolution" -> partitionEvolution,
    "src_vacuum" -> vacuumQ,
    "src_manifest_pruned" -> manifestPruned,
    "src_typed_prune" -> typedPruned,
    "src_compaction" -> compaction,
    "src_optimize" -> optimizeQ,
    "src_hidden_partitioning" -> hiddenPartitioning,
    "src_checked_write" -> checkedWriteQ,
    "src_stats_query" -> statsQueryQ,
    "src_text_roundtrip" -> textRoundtrip,
    "src_orc_roundtrip" -> orcRoundtrip,
    "src_csv_roundtrip" -> csvRoundtrip,
    "src_jsonl_roundtrip" -> jsonlRoundtrip,
    "src_partitioned_pruned" -> partitionedPruned,
    "src_sorted_skipping" -> sortedWrite,
    "src_zorder_skipping" -> zorderWrite,
    "src_schema_evolution" -> schemaEvolution,
  )

  val oracles: Map[String, String] = Map(
    // the quarter filter spelled statically over the raw table — the
    // runtime-pruned join must read exactly these three months
    "src_dpp_join" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
         |  COUNT(*) AS n_orders,
         |  ${graft.ops.Exact.sumSql("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE strftime(o_orderdate, '%Y-%m') IN
         |  ('1995-04', '1995-05', '1995-06')
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // plain IN-lookup on the original table: a file the bloom index
    // wrongly skipped would lose its row here and break the hash
    "src_bloom_skipping" ->
      """WITH probes AS (
        |  SELECT min(o_orderkey) AS k FROM orders
        |  UNION SELECT max(o_orderkey) FROM orders
        |  UNION SELECT min(o_orderkey) FROM orders WHERE o_orderkey % 7 = 0
        |  UNION SELECT max(o_orderkey) FROM orders WHERE o_orderkey % 7 = 3)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey IN (SELECT k FROM probes)
        |ORDER BY o_orderkey""".stripMargin,
    // survivor set reconstructed by predicate: no requested row survives,
    // no other row lost
    // each version reconstructed by its defining predicate: v1/v2 = even
    // keys (v2 counts rows whose ADDED column null-filled — all of them),
    // v3 = all keys with the old files' priority surfacing as 'NONE'
    "src_schema_log" ->
      s"""SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
         |  'ALL' AS o_orderpriority, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), o_orderstatus, 'ALL', COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), o_orderstatus,
         |  CASE WHEN o_orderkey % 2 = 0 THEN 'NONE' ELSE o_orderpriority END,
         |  COUNT(*) AS n, ${sumSql("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1, 2, 3
         |ORDER BY version, o_orderstatus, o_orderpriority""".stripMargin,
    // same survivor set as the copy-on-write delete — the two delete
    // paths (rewrite vs deletion vector) must agree bit-for-bit
    "src_delete_vectors" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price,
         |  COUNT(DISTINCT o_custkey) AS n_cust
         |FROM orders
         |WHERE o_custkey NOT IN (
         |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // serial application of both merge batches in either order (they
    // commute): %7 updated unless %11 deleted it, %13 inserted shifted —
    // the same composed change set as rel_upsert, reached through two
    // isolated OCC transactions with a real rebase in between
    "src_merge_into" ->
      s"""WITH merged AS (
         |  SELECT o_orderkey, o_orderstatus,
         |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 11 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 10000000, 'NEW', o_totalprice
         |  FROM orders WHERE o_orderkey % 13 = 0
         |)
         |SELECT o_orderstatus, COUNT(*) AS n, ${sumSql("o_totalprice")} AS sum_price
         |FROM merged GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "src_gdpr_delete" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price,
         |  COUNT(DISTINCT o_custkey) AS n_cust
         |FROM orders
         |WHERE o_custkey NOT IN (
         |  SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0)
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // each version reconstructed by its defining predicate — v1 matching
    // proves the pinned read did NOT see v2's rows
    "src_time_travel" ->
      s"""SELECT CAST(1 AS BIGINT) AS version, o_orderstatus, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), o_orderstatus, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders GROUP BY o_orderstatus
         |ORDER BY version, o_orderstatus""".stripMargin,
    // the composed VERSION AS OF + range-predicate read: the oracle is
    // the intersection of v1's defining predicate (< 1997-07-01) and the
    // query window — a v2 leak or an over-pruned file both break the hash
    "src_versioned_prune" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-07-01'
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the post-vacuum latest is the unfiltered table; lifecycle facts
    // (dropped version, orphan sweep) are pinned by in-query requires
    "src_vacuum" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the oracle rebuilds both versions by their defining predicates and
    // diffs them with the same full outer join — classification AND
    // payload sums must match row-for-row
    "src_change_feed" ->
      s"""WITH v1 AS (
         |  SELECT o_orderkey AS k1, o_orderstatus AS st1, o_totalprice AS p1
         |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
         |), v2 AS (
         |  SELECT o_orderkey AS k2, o_orderstatus AS st2,
         |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
         |         ELSE o_totalprice END AS p2
         |  FROM orders WHERE o_orderkey % 13 <> 0
         |), feed AS (
         |  SELECT k1, k2, st1, st2, p1, p2,
         |    CASE WHEN k1 IS NULL THEN 'insert'
         |         WHEN k2 IS NULL THEN 'delete'
         |         WHEN p1 <> p2 OR st1 <> st2 THEN 'update' END AS change_type
         |  FROM v1 FULL OUTER JOIN v2 ON k1 = k2
         |)
         |SELECT change_type, coalesce(st2, st1) AS o_orderstatus,
         |  COUNT(*) AS n, ${sumSql("coalesce(p2, p1)")} AS sum_price
         |FROM feed WHERE change_type IS NOT NULL
         |GROUP BY 1, 2 ORDER BY change_type, o_orderstatus""".stripMargin,
    // the oracle is the plain filtered aggregate — matching proves the
    // two-layout read lost no row and double-counted none
    "src_partition_evolution" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '2001-04-01'
         |  AND o_orderdate < TIMESTAMP '2001-08-02'
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // clone_v1 must equal source (zero-copy reference); clone_v2 is the
    // diverged subset; source row rebuilt from the plain table
    "src_shallow_clone" ->
      s"""WITH a AS (
         |  SELECT 'source' AS tbl, o_orderstatus, COUNT(*) AS n,
         |    ${sumSql("o_totalprice")} AS sum_price
         |  FROM orders GROUP BY o_orderstatus
         |), b AS (
         |  SELECT 'clone_v1' AS tbl, o_orderstatus, COUNT(*) AS n,
         |    ${sumSql("o_totalprice")} AS sum_price
         |  FROM orders GROUP BY o_orderstatus
         |), c AS (
         |  SELECT 'clone_v2' AS tbl, o_orderstatus, COUNT(*) AS n,
         |    ${sumSql("o_totalprice")} AS sum_price
         |  FROM orders WHERE o_orderstatus <> 'O' GROUP BY o_orderstatus
         |)
         |SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c
         |ORDER BY tbl, o_orderstatus""".stripMargin,
    // both versions rebuilt by predicate; summary ≡ fact recount and
    // consistent ≡ TRUE by atomic-publication construction
    "src_txn_tables" ->
      s"""SELECT 1 AS version, o_orderstatus, COUNT(*) AS fact_n,
         |  COUNT(*) AS mv_n, ${sumSql("o_totalprice")} AS sum_price,
         |  TRUE AS consistent
         |FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 2 AS version, o_orderstatus, COUNT(*) AS fact_n,
         |  COUNT(*) AS mv_n, ${sumSql("o_totalprice")} AS sum_price,
         |  TRUE AS consistent
         |FROM orders GROUP BY o_orderstatus
         |ORDER BY version, o_orderstatus""".stripMargin,
    // the oracle aggregates DIRECTLY over predicate-rebuilt v2 — the
    // maintained view must equal the full recomputation bit-for-bit
    "src_ivm_apply" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${sumSql("CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END")} AS sum_price
         |FROM orders WHERE o_orderkey % 13 <> 0
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the oracle is the plain filter on the ORIGINAL table — matching
    // proves manifest pruning lost no qualifying row
    "src_manifest_pruned" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // both typed predicates replayed on the ORIGINAL table — matching
    // proves neither the string nor the double footer manifest dropped a
    // qualifying row
    "src_typed_prune" ->
      s"""SELECT 'double' AS stat_type, COUNT(*) AS n,
         |  ${sumSql("c_acctbal")} AS sum_acctbal
         |FROM customer WHERE c_acctbal >= 2500.0
         |UNION ALL
         |SELECT 'string', COUNT(*), ${sumSql("c_acctbal")}
         |FROM customer WHERE c_name >= 'Customer#000000030'
         |  AND c_name < 'Customer#000000120'
         |ORDER BY stat_type""".stripMargin,
    "src_compaction" ->
      s"""WITH f AS (
         |  SELECT md5(CAST(event_id AS VARCHAR) || ':' || event_type) AS fp,
         |    user_id, "value" AS v
         |  FROM events
         |)
         |SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST('0x' || substr(fp, 1, 8) AS UBIGINT)) AS BIGINT) AS fp_sum,
         |  MIN(fp) AS min_fp, MAX(fp) AS max_fp,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  ${sumSql("v")} AS sum_value
         |FROM f""".stripMargin,
    // the oracle reads the ORIGINAL table — matching hashes prove the
    // write→read cycle preserved every value
    "src_text_roundtrip" ->
      """WITH f AS (
        |  SELECT md5(CAST(doc_id AS VARCHAR) || '|' || text) AS fp,
        |    length(text) AS len
        |  FROM documents
        |)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CAST('0x' || substr(fp, 1, 8) AS UBIGINT)) AS BIGINT) AS fp_sum,
        |  MIN(fp) AS min_fp, MAX(fp) AS max_fp,
        |  CAST(SUM(len) AS BIGINT) AS sum_chars
        |FROM f""".stripMargin,
    "src_orc_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
         |  ${sumSql("l_quantity")} AS sum_qty,
         |  ${sumSql("l_extendedprice")} AS sum_price
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "src_csv_roundtrip" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price,
         |  COUNT(DISTINCT o_custkey) AS n_cust
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_jsonl_roundtrip" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sumSql("value")} AS sum_value,
         |  MAX(event_id) AS max_event
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "src_partitioned_pruned" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders WHERE o_orderstatus = 'F'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_schema_evolution" ->
      s"""WITH unioned AS (
         |  SELECT o_orderstatus, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
         |  FROM orders WHERE o_orderkey % 2 = 0
         |  UNION ALL
         |  SELECT o_orderstatus, o_totalprice, o_orderpriority
         |  FROM orders WHERE o_orderkey % 2 <> 0
         |)
         |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM unioned GROUP BY 1, 2
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    // the stats fold must equal the raw scan exactly — a sidecar that
    // dropped or double-counted a row breaks the hash
    "src_stats_query" ->
      """SELECT COUNT(*) AS n_rows, MIN(o_orderdate) AS min_date,
        |  MAX(o_orderdate) AS max_date,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
        |FROM orders""".stripMargin,
    // only the constraint-satisfying rows are ever published: the
    // corrupted keys (negated price / nulled custkey) must be absent
    "src_checked_write" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE o_orderkey % 97 <> 0 AND o_orderkey % 101 <> 0
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // partition derivation is metadata-only; the result must equal the
    // plain range filter (the derivation loses no row)
    "src_hidden_partitioning" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price,
         |  COUNT(DISTINCT o_custkey) AS n_cust
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1995-07-01'
         |  AND o_orderdate < TIMESTAMP '1995-10-01'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // OPTIMIZE is logically idempotent: the optimized version answers
    // exactly what the plain table answers (layout is physical only)
    "src_optimize" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price,
         |  COUNT(DISTINCT o_custkey) AS n_cust
         |FROM orders
         |WHERE o_custkey >= 100 AND o_custkey < 200
         |  AND o_orderdate >= TIMESTAMP '1995-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-01-01'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_zorder_skipping" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n,
         |  ${sumSql("o_totalprice")} AS sum_price,
         |  COUNT(DISTINCT o_custkey) AS n_cust
         |FROM orders
         |WHERE o_custkey >= 100 AND o_custkey < 200
         |  AND o_orderdate >= TIMESTAMP '1995-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-01-01'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_sorted_skipping" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority,
         |  COUNT(*) AS n, ${sumSql("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2 ORDER BY yr, o_orderpriority""".stripMargin,
  )
}
