package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.reflect.ClassTag
import Exact._

/** Round-2 relational coverage: the classical operator categories not yet
  * exercised by `Relational` — explicit GROUPING SETS with grouping_id,
  * unpivot (wide→long), correlated scalar / IN subqueries (Catalyst
  * decorrelation), the analytic-window function battery, a bucketized
  * interval/range join, array & map function batteries, regex extraction,
  * and deterministic second-moment statistics.
  *
  * Scale posture matches `Relational`: hash aggregates with partial
  * combine, keyed windows only, subqueries that decorrelate to joins (no
  * per-row re-execution), and the range join is bucketized so it runs as an
  * equi shuffle join — never a broadcast nested-loop cross product.
  */
object Relational2 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables(s, dir, name)

  /** Explicit GROUPING SETS ((region, nation), (region), ()) with
    * grouping_id over the supplier dimension — the general grouping-set
    * form that rollup/cube are shorthands for (single Expand + one hash
    * aggregate, not three scans). */
  private def groupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
        col("r_name"), col("n_name"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_supp"), sumD(col("s_acctbal")).as("sum_bal"))
      .select(col("gid"), coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_supp"), col("sum_bal"))
      .orderBy(col("gid"), col("region"), col("nation"))

  /** Unpivot (wide→long): lineitem measure columns melted into
    * (measure, val) rows — the inverse of pivot, a pure per-row Expand
    * with no shuffle. */
  private def unpivotQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 500 === 0)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity").as("quantity"), col("l_discount").as("discount"),
          col("l_tax").as("tax")),
        "measure", "val")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  /** Correlated scalar subquery — Catalyst decorrelates it into a left
    * outer aggregate join, so at scale it is one shuffle, not a per-row
    * probe. The SQL text runs verbatim in both engines. */
  val scalarSubquerySql: String =
    """SELECT c_custkey, c_name,
      |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_order,
      |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
      |FROM customer WHERE c_custkey % 100 = 0
      |ORDER BY c_custkey""".stripMargin

  /** Correlated EXISTS (decorrelated by Catalyst to a left-semi join —
    * one shuffle, never a per-row probe) and its NOT EXISTS dual (left
    * anti). Verbatim SQL both engines. */
  val existsSubquerySql: String =
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F'
      |                    AND o.o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  /** NOT IN vs NOT EXISTS null semantics — the classic SQL trap: with a
    * NULL in the subquery result, `x NOT IN (...)` is never TRUE (three-
    * valued logic), while NOT EXISTS still filters row-by-row. Both
    * engines must agree on both counts; nulls are synthesized with
    * nullif. Verbatim SQL both engines. */
  val notInNullsSql: String =
    """SELECT
      |  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
      |     (SELECT nullif(o_custkey, 14) FROM orders)) AS n_not_in_with_null,
      |  (SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN
      |     (SELECT o_custkey FROM orders WHERE o_custkey <> 14)) AS n_not_in_no_null,
      |  (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS
      |     (SELECT 1 FROM orders WHERE nullif(o_custkey, 14) = c.c_custkey)) AS n_not_exists""".stripMargin

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other instead of vanishing — the semantics MERGE pipelines need
    * for nullable business keys. Verbatim SQL both engines (Spark parses
    * IS NOT DISTINCT FROM and plans it as a hash join on a null-safe
    * key, not a nested loop). */
  val nullsafeJoinSql: String =
    """WITH l AS (SELECT o_orderkey, nullif(o_orderkey % 7, 3) AS k, o_totalprice
      |           FROM orders WHERE o_orderkey % 100 = 0),
      |r AS (SELECT nullif(n, 3) AS k, concat('g', CAST(n AS VARCHAR(30))) AS tag
      |      FROM (SELECT DISTINCT o_orderkey % 7 AS n FROM orders))
      |SELECT l.o_orderkey, l.k, r.tag, l.o_totalprice
      |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
      |ORDER BY l.o_orderkey, r.tag""".stripMargin

  /** Recursive CTE (Spark 4 WITH RECURSIVE): a month spine generated
    * recursively, left-joined to order counts — the standard gap-filling
    * date-spine pattern; trailing months correctly report 0. The SQL text
    * runs verbatim in both engines. */
  val recursiveSpineSql: String =
    """WITH RECURSIVE months(m) AS (
      |  SELECT TIMESTAMP '1995-01-01'
      |  UNION ALL
      |  SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '2001-12-01'
      |)
      |SELECT m, count(o_orderkey) AS n_orders
      |FROM months LEFT JOIN orders ON date_trunc('month', o_orderdate) = m
      |GROUP BY m ORDER BY m""".stripMargin

  /** Correlated LATERAL subquery with ORDER BY + LIMIT: per-segment top-2
    * orders — the lateral form of the window top-k, decorrelated by
    * Catalyst. Verbatim text in both engines. */
  val lateralTopkSql: String =
    """SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice
      |FROM (SELECT DISTINCT c_mktsegment FROM customer) c,
      |LATERAL (
      |  SELECT o_orderkey, o_totalprice
      |  FROM orders JOIN customer cc ON o_custkey = cc.c_custkey
      |  WHERE cc.c_mktsegment = c.c_mktsegment
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
      |) o
      |ORDER BY c.c_mktsegment, o.o_totalprice DESC, o.o_orderkey""".stripMargin

  /** IN-subquery (planned as a left-semi join in both engines). */
  val inSubquerySql: String =
    """SELECT p_partkey, p_name, p_brand FROM part
      |WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
      |  AND p_size >= 40
      |ORDER BY p_partkey""".stripMargin

  private def viewsAndSql(s: SparkSession, dir: String, sql: String,
                          names: String*): DataFrame = {
    names.foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(sql)
  }

  /** Analytic window battery: lead/lag/first/last/ntile/percent_rank/
    * cume_dist over each customer's order history (keyed window — state is
    * per-customer, never global). */
  private def windowAnalytics(s: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val full = byCust.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .filter(col("o_custkey") % 200 === 0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(byCust).as("prev_price"),
        lead(col("o_totalprice"), 1).over(byCust).as("next_price"),
        first(col("o_totalprice")).over(full).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"),
        ntile(4).over(byCust).cast("long").as("quartile"),
        percent_rank().over(byCust).as("pct_rank"),
        cume_dist().over(byCust).as("cdist"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Interval/range join, bucketized: sampled events open a 4-hour window;
    * count all events falling inside each window. The window is exploded
    * into its covered hour buckets and joined on the bucket EQUI key with
    * the precise bounds as a residual predicate — a shuffle hash join that
    * scales linearly, where the naive `ts BETWEEN lo AND hi` theta join
    * plans as a broadcast-nested-loop cross product. */
  private def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val windows = ev.filter(col("event_id") % 997 === 0)
      .select(col("event_id").as("win_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 4 HOURS")).as("w_end"))
    // bucket range is inclusive of w_end's hour: unix_timestamp truncates
    // sub-seconds, so an event at 12:00:00.2 with w_end 12:00:00.5 lives in
    // w_end's own hour bucket — subtracting 1 second here would drop it
    // (the residual ts < w_end filter below handles end-exclusivity)
    val winByHour = windows.withColumn("hour_b",
      explode(sequence(
        floor(unix_timestamp(col("w_start")) / 3600L),
        floor(unix_timestamp(col("w_end")) / 3600L))))
    val evB = ev.select(col("ts"),
      floor(unix_timestamp(col("ts")) / 3600L).as("hour_b"))
    evB.join(winByHour, Seq("hour_b"))
      .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy(col("win_id"), col("w_start"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("win_id"))
  }

  /** Array-function battery: per market segment, the sorted distinct set of
    * order priorities of its urgent-ish customers plus membership tests. */
  private def arrayFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sort_array(collect_set(col("o_orderpriority"))).as("prios"),
        countDistinct(col("o_orderpriority")).as("n_prio"))
      // scalars only in the output: list-typed result columns are not
      // hash-comparable across engines (the compare sorts by value)
      .select(col("c_mktsegment"),
        size(col("prios")).cast("long").as("n_prios"),
        array_contains(col("prios"), "1-URGENT").as("has_urgent"),
        element_at(col("prios"), 1).as("first_prio"),
        array_position(col("prios"), "5-LOW").cast("long").as("low_pos"),
        concat_ws(",", col("prios")).as("prio_csv"), col("n_prio"))
      .orderBy(col("c_mktsegment"))

  /** Map-function battery: per sampled user, a map event_type → count is
    * assembled (map_from_entries), probed (element_at), then exploded back
    * to sorted rows so the result is oracle-comparable. */
  private def mapFuncs(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "events")
      .filter(col("user_id") % 100 === 0)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .groupBy(col("user_id"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("event_type"), col("n"))))).as("m"))
      .select(col("user_id"),
        explode(col("m")).as(Seq("event_type", "n")),
        size(col("m")).cast("long").as("n_types"),
        coalesce(element_at(col("m"), "click"), lit(0L)).as("n_click"))
      .select(col("user_id"), col("event_type"), col("n"), col("n_types"),
        col("n_click"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Regex battery: extraction groups, membership, and replace over part
    * type strings. */
  private def regexFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_name").rlike("^(red|blue) "))
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "^(red|blue) ([a-z]+)", 1).as("color"),
        regexp_extract(col("p_name"), "^(red|blue) ([a-z]+)", 2).as("noun"),
        regexp_replace(col("p_type"), "[AEIOU]", "").as("devowel"),
        col("p_name").rlike("bolt").cast("boolean").as("bolty"))
      .orderBy(col("p_partkey"))

  /** Deterministic second moments: variance / stddev / correlation from
    * exact decimal power sums, finished in double — bit-identical across
    * engines and partitionings (the built-in streaming variance is
    * order-sensitive in low bits, so it cannot be hash-verified). The
    * shape is one pass, map-side combinable — exactly how a 100 TB moment
    * computation should run. */
  private def momentsQ(s: SparkSession, dir: String): DataFrame = {
    // exact decimal power sums, then IDENTICAL double-precision arithmetic
    // in both engines (decimal×decimal would overflow width 38; two exact
    // inputs through the same IEEE expressions give bit-equal results)
    def s1(c: Column) = sum(c.cast(dec)).cast("double")
    def s2(c: Column, d: Column) = sum((c * d).cast(dec)).cast("double")
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        s1(col("l_quantity")).as("sx"),
        s2(col("l_quantity"), col("l_quantity")).as("sxx"),
        s1(col("l_extendedprice")).as("sy"),
        s2(col("l_extendedprice"), col("l_extendedprice")).as("syy"),
        s2(col("l_quantity"), col("l_extendedprice")).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("var_qty"),
        sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1))
          .as("sd_qty"),
        // rounded: the final quotient can differ by 1 ulp across engines
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
            (col("syy") - col("sy") * col("sy") / col("n"))), 12)
          .as("corr_qp"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-group top-k via the custom TypedImperativeAggregate
    * (graft.functions.TopKBy): unlike the window formulation
    * (rel_window_topk), each map task partial-aggregates its slice down to
    * k pairs per group BEFORE the shuffle, so the exchange carries
    * O(groups × k) rows at any input size. Oracle: the equivalent
    * row_number window SQL. */
  private def topkAgg(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKFunctions.register(s)
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(graft.functions.TopKFunctions
        .topkBy(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")).as(Seq("i", "p")))
      .select(col("c_mktsegment"), (col("i") + 1).cast("long").as("rk"),
        col("p.id").as("o_orderkey"), col("p.value").as("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rk"))
  }

  /** Fixed-width histogram of order totals — the binning is a pure
    * projection (no width_bucket dependency), one hash aggregate. */
  private val HIST_W = 25000.0
  private def histogramQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("bucket", floor(col("o_totalprice") / HIST_W).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"),
        min(col("o_totalprice")).as("lo"), max(col("o_totalprice")).as("hi"))
      .orderBy(col("bucket"))

  /** The exchange stage under every rank-substrate entry point: range-
    * repartition on the keys + partition-local sort. Exposed so PlanSpec
    * can assert the only full-data exchange is the range repartition (the
    * final frame of [[rangeScan]] is a Scan ExistingRDD — its exchange
    * lives here, below the `.toRdd` pin, where EliminateSorts cannot touch
    * the ordering). */
  private[graft] def rangedByKeys(df: DataFrame, keys: Column*): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartitionByRange(parts, keys: _*).sortWithinPartitions(keys: _*)
  }

  /** The range-offset kernel of the rank substrate — exact ranks and
    * running sums over a total order WITHOUT a single-partition window
    * (`row_number() OVER (ORDER BY ...)` funnels the whole frame through
    * one task). [[rangedByKeys]] is the only full-data exchange; then
    *   - job 1 reduces each sorted partition to a `summary` and collects
    *     them (<= numShufflePartitions values — a metadata-sized driver
    *     read, same class as FormatOps' file-path listing, never row data);
    *   - `prefix` turns the partition-ordered summaries into offsets on the
    *     driver, broadcast once;
    *   - job 2 calls `attach(offsets, partition, extra)` once per
    *     partition, and the function it returns fills `extra` — the
    *     `added` non-null LongType columns appended to each row — per row,
    *     in sorted order.
    *
    * Determinism: the ranged plan is materialized to ONE physical RDD
    * (`queryExecution.toRdd`) and BOTH jobs run over that same object.
    * This is load-bearing — two separate DataFrame actions each build
    * their own physical plan, and RangePartitioner re-samples its bounds
    * per plan (its seed incorporates the RDD id), so the offsets collected
    * by job 1 would describe different partitions than job 2 ranks (the
    * round-4 regression: 14,520/15,000 ranks wrong). Sharing the RDD pins
    * one ShuffleDependency: bounds are sampled once, job 1 materializes
    * the shuffle map outputs, and job 2 reuses them — deterministic AND
    * single-scan. The reduce-side local sort re-runs in job 2, but it is
    * deterministic because the caller must make the key a total order
    * (include a unique tiebreak key). EAGER: job 1 runs at plan build, so
    * every rider must appear in SparkEntry.eagerQueries.
    *
    * InternalRow end-to-end: the public rdd/createDataFrame round-trip
    * would pay two full per-row conversions plus a Seq allocation per row,
    * overhead proportional to the data on a path whose real work is a few
    * += per row. The scan over internalCreateDataFrame's result applies
    * its own UnsafeProjection, so the mutable JoinedRow each partition
    * reuses is copied before anything downstream buffers it. */
  private def rangeScan[S, O: ClassTag](df: DataFrame, keys: Seq[Column],
      added: Seq[String])(summary: Iterator[InternalRow] => S)(
      prefix: Seq[S] => O)(
      attach: (O, Int, GenericInternalRow) => InternalRow => Unit): DataFrame = {
    val spark = df.sparkSession
    val rdd = rangedByKeys(df, keys: _*)
      .queryExecution.toRdd                     // ONE plan, ONE shuffle dep
    val summaries = rdd
      .mapPartitionsWithIndex((pid, it) => Iterator(pid -> summary(it)),
        preservesPartitioning = true)
      .collect().sortBy(_._1).toSeq.map(_._2)   // job 1: summaries only
    val offsets = spark.sparkContext.broadcast(prefix(summaries))
    val width = added.size
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>     // job 2: reuses
      val extra = new GenericInternalRow(width)             // job 1's shuffle
      val fill = attach(offsets.value, pid, extra)
      val joined = new JoinedRow
      it.map { row => fill(row); joined(row, extra): InternalRow }
    }
    org.apache.spark.sql.classic.GraftSqlInternals.internalCreateDataFrame(
      spark, out, StructType(df.schema.fields ++
        added.map(StructField(_, LongType, nullable = false))))
  }

  /** Global 1-based rank over a total order: each partition's cumulative
    * row-count offset plus the row's partition-local ordinal. Output adds
    * `__rank` (long, 1-based) and `__n` (long, total rows). */
  private[graft] def globalRank(df: DataFrame, keys: Column*): DataFrame =
    rangeScan(df, keys, Seq("__rank", "__n")) { it =>
      var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
    } { counts => (counts.scanLeft(0L)(_ + _), counts.sum) } {
      case ((offsets, total), pid, extra) =>
        var rank = offsets(pid)
        extra.update(1, total)
        _ => { rank += 1; extra.update(0, rank) }
    }

  /** The group-key reader of [[groupedRank]] and [[globalGroupedRank]]:
    * the row's own value (null is a legal group key). */
  private def groupKey(df: DataFrame, grpField: String): InternalRow => Any = {
    val (i, dt) = (df.schema.fieldIndex(grpField), df.schema(grpField).dataType)
    row => row.get(i, dt)
  }

  /** The counter cell of group `k` in `m`, made by `init` on first sight.
    * The hash form is right whether a partition holds each group as one
    * contiguous run or interleaved. A new entry keeps a copy of the key:
    * an unsafe row's UTF8String points into a reused buffer. */
  private def groupCell(m: mutable.HashMap[Any, Array[Long]], k: Any)(
      init: Any => Array[Long]): Array[Long] = {
    val c = m.getOrElse(k, null)
    if (c != null) c else {
      val kept = k match { case u: UTF8String => u.copy(); case x => x }
      val made = init(kept)
      m(kept) = made
      made
    }
  }

  /** Job 1 summary of the grouped entry points: rows per group in one
    * partition (the collect is |partitions|×|groups| — metadata). */
  private def groupCounts(key: InternalRow => Any)(
      it: Iterator[InternalRow]): Map[Any, Long] = {
    val m = mutable.HashMap.empty[Any, Array[Long]]
    while (it.hasNext) groupCell(m, key(it.next()))(_ => Array(0L))(0) += 1L
    m.view.mapValues(_(0)).toMap
  }

  /** Driver prefix of the grouped entry points: each partition's starting
    * in-group offset per group it holds, and each group's total. */
  private def groupOffsets(counts: Seq[Map[Any, Long]])
      : (Seq[Map[Any, Long]], Map[Any, Long]) = {
    val totals = mutable.HashMap.empty[Any, Long]
    val offsets = counts.map(_.map { case (k, c) =>
      val off = totals.getOrElse(k, 0L)
      totals(k) = off + c
      k -> off
    })
    (offsets, totals.toMap)
  }

  /** Job 2 attach of the grouped entry points: fills the row's in-group
    * rank (1-based) at `at` and its group's total at `at + 1`. */
  private def groupRanks(key: InternalRow => Any,
      grouped: (Seq[Map[Any, Long]], Map[Any, Long]), pid: Int,
      extra: GenericInternalRow, at: Int): InternalRow => Unit = {
    val (offsets, totals) = grouped
    val seen = mutable.HashMap.empty[Any, Array[Long]]
    row => {
      val c = groupCell(seen, key(row))(k => Array(offsets(pid)(k), totals(k)))
      c(0) += 1L
      extra.update(at, c(0)); extra.update(at + 1, c(1))
    }
  }

  /** PER-GROUP scalable rank — `globalRank`'s grouped sibling. A keyed
    * sort window (`row_number over partitionBy(grp)`) funnels each group
    * through ONE task, which stops scaling exactly when groups are few
    * and fat (the rel_percentile trade, measured at 4.8× on the 10×
    * rehearsal for rel_winsorize's 3-group sort). Here each group spans
    * MANY range partitions: range-repartition on (grp, keys...), count
    * rows per (partition, group), and assign ranks per partition from the
    * prefix offsets. Appends `__grank` (1-based within group) and `__gn`
    * (group total). Rows stay sorted by (grp, keys) within partitions,
    * groups contiguous across the range order. Ties broken by the
    * trailing keys — pass enough for a total order when rank identity
    * matters (for order STATISTICS, value ties make any tie order
    * equivalent). */
  private[graft] def groupedRank(df: DataFrame, grpField: String,
                                 keys: Column*): DataFrame = {
    val key = groupKey(df, grpField)
    rangeScan(df, col(grpField) +: keys, Seq("__grank", "__gn"))(
      groupCounts(key))(groupOffsets) {
      (grouped, pid, extra) => groupRanks(key, grouped, pid, extra, 0)
    }
  }

  /** Distributed EXACT prefix sums — `globalRank`'s running-sum sibling,
    * for cumulative-distribution consumers (decision-stump split counts)
    * whose natural spelling is `sum(...) over (order by k)`: that window
    * has no partition key, so WindowExec funnels the WHOLE frame through
    * one task — fine on a 64-row bucket frame, a genuine single-machine
    * bottleneck when the ordered frame tracks a value DOMAIN (distinct
    * latencies in µs, prices in large units). Job 1 sums each partition's
    * columns (|partitions|×|cols| longs), job 2 assigns running sums from
    * the prefix offsets. Appends `__cum_<col>` (inclusive running sum) and
    * `__tot_<col>` (grand total) for each requested column. Columns must
    * be non-null LongType (exact BIGINT — the callers' counts discipline);
    * order keys must be a total order if cumulative-value identity
    * matters across ties. */
  private[graft] def prefixSums(df: DataFrame, orderKeys: Seq[Column],
                                sumCols: Seq[String]): DataFrame = {
    val idxs = sumCols.map(df.schema.fieldIndex).toArray
    idxs.foreach { i =>
      require(df.schema(i).dataType == LongType,
        s"prefixSums needs LongType, got ${df.schema(i)}")
    }
    val nc = idxs.length
    rangeScan(df, orderKeys,
      sumCols.map(c => s"__cum_$c") ++ sumCols.map(c => s"__tot_$c")) { it =>
      val s = new Array[Long](nc)
      while (it.hasNext) {
        val r = it.next()
        var j = 0
        while (j < nc) { s(j) += r.getLong(idxs(j)); j += 1 }
      }
      s
    } { partSums =>
      val totals = new Array[Long](nc)
      val offsets = partSums.map { s =>
        val off = totals.clone()
        var j = 0
        while (j < nc) { totals(j) += s(j); j += 1 }
        off
      }
      (offsets, totals)
    } { case ((offsets, totals), pid, extra) =>
      val run = offsets(pid).clone()
      var j = 0
      while (j < nc) { extra.update(nc + j, totals(j)); j += 1 }
      row => {
        var k = 0
        while (k < nc) {
          run(k) += row.getLong(idxs(k)); extra.update(k, run(k)); k += 1
        }
      }
    }
  }

  /** Global AND per-group rank in ONE range exchange — the fused kernel
    * for consumers that need both CDFs of the same value order (ksDrift
    * paid globalRank + groupedRank — two range exchanges over the same
    * (v, i) order — plus a row-id join to recombine them). Range-partition
    * on `keys` ONLY (groups interleave within partitions, unlike
    * groupedRank's (grp, keys) range); job 1 counts per-group rows (a
    * partition's total is their sum); job 2 attaches `__rank` (global,
    * 1-based), `__n`, `__grank` (in-group, 1-based) and `__gn`. For any
    * row, in-group rank under the restriction of the (keys) total order
    * to its group is identical to groupedRank's (grp, keys) rank — same
    * value, one exchange fewer and no join. */
  private[graft] def globalGroupedRank(df: DataFrame, grpField: String,
                                       keys: Column*): DataFrame = {
    val key = groupKey(df, grpField)
    rangeScan(df, keys, Seq("__rank", "__n", "__grank", "__gn"))(
      groupCounts(key)) { counts =>
      val ns = counts.map(_.values.sum)
      (ns.scanLeft(0L)(_ + _), ns.sum, groupOffsets(counts))
    } { case ((offsets, total, grouped), pid, extra) =>
      var rank = offsets(pid)
      extra.update(1, total)
      val inGroup = groupRanks(key, grouped, pid, extra, 2)
      row => { rank += 1; extra.update(0, rank); inGroup(row) }
    }
  }

  /** Exact INTERPOLATED per-group percentiles on the `groupedRank`
    * substrate — the scalable replacement for Spark's `percentile`
    * aggregate, which is an ImperativeAggregate holding EVERY group value
    * in one aggregation buffer: with few fat groups that is a single-task
    * funnel plus an OOM cliff at 100× (the shape `rel_winsorize` escaped
    * via groupedRank, measured 4.8×→2.18× on the 10× rehearsal).
    *
    * Here each group spans many range partitions: one range exchange
    * assigns every non-null value its in-group rank, a filter keeps ONLY
    * the ≤2 boundary rows per (group, percentile), and a tiny hash
    * aggregate interpolates. The arithmetic reproduces Spark's
    * `Percentile.getPercentile` bit-for-bit (position = p·(n−1);
    * result = (⌈pos⌉−pos)·v_lo + (pos−⌊pos⌋)·v_hi, with both
    * integral-position and equal-key short-circuits), which is the kernel
    * rel_percentile pinned equal to DuckDB's `quantile_cont` — so oracles
    * keep hashing quantile_cont unchanged.
    *
    * Returns one row per group: `grp`, one DOUBLE column per (name, p),
    * and `__n` (the group's non-null count). EAGER: groupedRank's
    * per-(partition, group) offset pass runs at plan build (metadata
    * collect) — riders must appear in SparkEntry.eagerQueries. */
  private[graft] def groupedQuantiles(df: DataFrame, grp: String,
      value: String, ps: Seq[(String, Double)]): DataFrame = {
    val ranked = groupedRank(df.filter(col(value).isNotNull), grp, col(value))
    val r0 = col("__grank") - 1L              // 0-based in-group rank
    def pos(p: Double, n: Column): Column = lit(p) * (n - 1L).cast("double")
    val needed = ps.map { case (_, p) =>
      val pp = pos(p, col("__gn"))
      r0 === floor(pp).cast("long") || r0 === ceil(pp).cast("long")
    }.reduce(_ || _)
    val aggs = ps.flatMap { case (name, p) =>
      val pp = pos(p, col("__gn"))
      Seq(
        max(when(r0 === floor(pp).cast("long"), col(value).cast("double")))
          .as(s"__lo_$name"),
        max(when(r0 === ceil(pp).cast("long"), col(value).cast("double")))
          .as(s"__hi_$name"))
    } :+ max(col("__gn")).as("__n")
    val agged = ranked.filter(needed)
      .groupBy(col(grp)).agg(aggs.head, aggs.tail: _*)
    val outs = ps.map { case (name, p) =>
      val pp = pos(p, col("__n"))
      val lo = floor(pp)
      val hi = ceil(pp)
      when(lo === hi, col(s"__lo_$name"))
        .when(col(s"__lo_$name") === col(s"__hi_$name"), col(s"__lo_$name"))
        .otherwise((hi - pp) * col(s"__lo_$name") +
          (pp - lo) * col(s"__hi_$name"))
        .as(name)
    }
    agged.select((col(grp) +: outs) :+ col("__n"): _*)
  }

  /** Equi-DEPTH histogram (the fixed-width one is rel_histogram):
    * equal-population buckets, then per-bucket bounds/mass — the binning a
    * quantile-aware optimizer or a feature-bucketizer wants. Bucket
    * membership is EXACTLY `ntile(10) OVER (ORDER BY price, orderkey)` —
    * the unique orderkey makes it deterministic, and the DuckDB oracle
    * hashes that form — but the plan never funnels the table through a
    * single-partition window: `globalRank` supplies the global row number
    * from a range repartition plus narrow per-partition arithmetic, and
    * the ntile bucket is closed-form in (rank, n): the first n%k buckets
    * take ceil(n/k) rows, the rest floor(n/k). */
  private def equidepthHistQ(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    globalRank(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        col("o_totalprice"), col("o_orderkey"))
      .withColumn("bucket", expr(
        s"""CASE WHEN __rank <= (__n % $k) * (__n DIV $k + 1)
           |  THEN (__rank - 1) DIV (__n DIV $k + 1)
           |  ELSE (__n % $k) + (__rank - 1 - (__n % $k) * (__n DIV $k + 1)) DIV (__n DIV $k)
           |END + 1""".stripMargin))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("bucket"))
  }

  /** Exact GLOBAL quantiles without a global sort: `globalRank` assigns
    * every row its rank in one range-exchange + narrow arithmetic, and the
    * quantile at q is the row with rank ceil(q·n) — so the exact p50/p90/
    * p99 of a 100 TB column costs one range shuffle plus a filter, where
    * the naive `percentile()` over a single global group funnels the table
    * through one task (and rel_percentile's per-group exact sort stops
    * scaling once groups are few and fat). Tie-break keys make the order
    * total, matching the oracle's row_number formulation rank-for-rank. */
  private def rankQuantilesQ(s: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.5, 0.9, 0.99)
    val ranked = globalRank(
      t(s, dir, "lineitem")
        .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")),
      col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    // ONE narrow pass over the ranked data: explode the (q, target-rank)
    // list per row and keep hits — a per-q filter union would re-read the
    // shuffle output once per quantile
    val targets = array(qs.map(q =>
      struct(lit(q).as("q"), ceil(lit(q) * col("__n")).as("target"))): _*)
    ranked.select(col("__rank"), col("l_extendedprice"),
        explode(targets).as("qt"))
      .filter(col("__rank") === col("qt.target"))
      .select(col("qt.q").as("q"), col("l_extendedprice").as("v"))
      .orderBy(col("q"))
  }

  /** Conditional-aggregate battery: count_if / any / every / sum-distinct
    * shapes (the FILTER-clause family). */
  private def condAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(when(col("l_quantity") >= 45, 1)).as("n_heavy"),
        count(when(col("l_discount") === 0.0, 1)).as("n_nodisc"),
        max(col("l_quantity") >= 49.0).as("any_x49"),
        min(col("l_quantity") >= 1.0).as("all_ge1"),
        sum_distinct(col("l_quantity").cast(dec)).cast("double").as("sum_dist_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Upsert / merge (SCD-1): apply a batch of changes onto a current
    * snapshot — updates override, inserts append, deletes drop. Expressed
    * as a full outer join + coalesce, which is exactly the shuffle-join
    * shape MERGE INTO compiles to on any lakehouse table format. The
    * "changes" batch is derived deterministically from orders so the
    * oracle reproduces it. */
  private def upsertQ(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // change batch: every 7th key gets a price bump (update), every 11th a
    // delete marker, and shifted keys append as inserts
    val changes = t(s, dir, "orders")
      .filter(col("o_orderkey") % 7 === 0 || col("o_orderkey") % 11 === 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 11 === 0, lit("D")).otherwise(lit("U")).as("op"),
        (col("o_totalprice") * 1.1).as("new_price"))
      .union(
        t(s, dir, "orders").filter(col("o_orderkey") % 13 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit("I").as("op"), col("o_totalprice").as("new_price")))
    val merged = base.as("b").join(changes.as("c"), Seq("o_orderkey"), "full_outer")
      .filter(coalesce(col("c.op"), lit("")) =!= "D")
      .select(col("o_orderkey"),
        coalesce(col("b.o_orderstatus"), lit("NEW")).as("o_orderstatus"),
        coalesce(col("c.new_price"), col("b.o_totalprice")).as("o_totalprice"))
    merged.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** Approximate percentiles (t-digest-style sketch) — the constant-memory
    * path that replaces rel_percentile's exact interpolation at 100 TB.
    * Sketch values can't hash-match across engines, so the query asserts
    * its own error bound: it emits the exact percentiles plus
    * `within_p50`/`within_p99` = relative error <= 1% (accuracy 10000 ⇒
    * rank error <= 1e-4, far inside 1% in value on this distribution) and
    * the oracle expects TRUE — a drifting sketch fails the hash check. */
  private def approxPercentileQ(s: SparkSession, dir: String): DataFrame = {
    // ONE sketch queried at both ranks (r16 optimization round): two
    // scalar approx_percentile aggregates each built their own
    // QuantileSummaries, inserting every row twice — the array form
    // builds one sketch per group and reads both percentiles from it.
    // Published values are the within-1% booleans, which only tighten:
    // the sketch is the same structure either way.
    val sketch = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_percentile(col("l_extendedprice"),
          array(lit(0.5), lit(0.99)), lit(10000)).as("ap"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("ap").getItem(0).as("ap50"),
        col("ap").getItem(1).as("ap99"), col("n"))
    // the exact twins ride groupedQuantiles (range exchange, no
    // whole-group buffer — rel_percentile documents the substrate); the
    // 3-row sketch aggregate broadcast-joins onto them
    val exact = groupedQuantiles(
      t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice")),
      "l_returnflag", "l_extendedprice", Seq(("p50", 0.5), ("p99", 0.99)))
    exact.join(broadcast(sketch), "l_returnflag")
      .select(col("l_returnflag"), col("p50"), col("p99"), col("n"),
        (abs(col("ap50") - col("p50")) / col("p50") <= 0.01).as("within_p50"),
        (abs(col("ap99") - col("p99")) / col("p99") <= 0.01).as("within_p99"))
      .orderBy(col("l_returnflag"))
  }

  /** NULL-ordering semantics: Spark sorts nulls FIRST ascending by
    * default, DuckDB sorts them LAST — portable plans must say which.
    * Both sides here pin NULLS FIRST / NULLS LAST explicitly; nulls are
    * synthesized via nullif on a corpus column. */
  private def nullOrdering(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 200 === 0)
      .select(col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("prio_n"),
        col("o_totalprice"))
      .orderBy(col("prio_n").asc_nulls_first, col("o_totalprice").desc_nulls_last,
        col("o_orderkey"))

  /** Date/time arithmetic battery: add/diff/trunc/extract/last_day —
    * calendar semantics that must agree across engines. */
  private def dateArith(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 500 === 0)
      .select(col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"),
        date_add(to_date(col("o_orderdate")), 30).as("d_plus30"),
        add_months(to_date(col("o_orderdate")), 2).as("d_plus2m"),
        last_day(to_date(col("o_orderdate"))).as("month_end"),
        year(col("o_orderdate")).cast("long").as("yr"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        datediff(lit("2002-01-01").cast("date"),
          to_date(col("o_orderdate"))).cast("long").as("days_to_2002"))
      .orderBy(col("o_orderkey"))

  /** Deterministic hash sampling — the reproducible alternative to
    * TABLESAMPLE/rand() at any scale: a pure function of the key keeps
    * ~2% of rows, stable across runs, partitionings, and engines (the
    * same md5-bucket machinery as the train/val/test splitter). */
  private def hashSample(s: SparkSession, dir: String): DataFrame =
    // note: the bucket filter sits directly on the scan (Catalyst pushes it
    // below any repartition), which is the right 100 TB plan — rows are
    // dropped before they could ever shuffle
    t(s, dir, "lineitem")
      .filter(SplitOps.hashBucket(
        concat(col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string"))) < 2)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Stratified sampling with EXACT per-stratum quotas: rows rank inside
    * each stratum by a pure md5 of the key and the first 100 survive.
    * Unlike TABLESAMPLE/BERNOULLI, quotas are met exactly and assignment
    * is reproducible across runs, engines, and partitionings; the rank
    * filter plans as WindowGroupLimit, so each partition keeps only its
    * local top-100 per stratum before the shuffle — no global sort at
    * 100 TB. The hash is projected to an attribute BELOW the window:
    * referencing the md5 expression in both ORDER BY and output would
    * re-evaluate it per consumer (CollapseProject). */
  private def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderstatus"))
      .orderBy(col("hk").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        md5(col("o_orderkey").cast("string").cast("binary")).as("hk"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 100)
      .select(col("o_orderstatus"), col("rk"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy(col("o_orderstatus"), col("rk"))
  }

  /** Outer-join matrix: LEFT / RIGHT / FULL over the same key, with null
    * probes counted — completes the join-type coverage (inner/semi/anti/
    * asof/range elsewhere). Customers vs high-value orders so all three
    * produce unmatched rows on at least one side. */
  private def outerJoins(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_mktsegment"))
    val big = t(s, dir, "orders")
      .filter(col("o_totalprice") >= 400000.0)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    def stats(joined: DataFrame, tag: String): DataFrame =
      joined.agg(
        lit(tag).as("join_type"),
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_no_order"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_no_cust"),
        sumD(coalesce(col("o_totalprice"), lit(0.0))).as("sum_price"))
    val on = cust("c_custkey") === big("o_custkey")
    stats(cust.join(big, on, "left"), "left")
      .unionAll(stats(cust.join(big, on, "right"), "right"))
      .unionAll(stats(cust.join(big, on, "full_outer"), "full"))
      .orderBy(col("join_type"))
  }

  /** Funnel analysis — the ordered-sequence conversion report every product
    * pipeline runs: users who viewed, then clicked strictly after their
    * first view, then purchased strictly after that click. Each stage is a
    * keyed aggregate joined to the previous stage's first-completion time
    * (decorrelated — no per-user re-scan); stage tables shrink
    * monotonically, so at 100 TB each later join moves less data. */
  private def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
    def stageAfter(prev: DataFrame, prevCol: String, typ: String, out: String) =
      ev.filter(col("event_type") === typ)
        .join(prev, "user_id")
        .filter(col("ts") > col(prevCol))
        .groupBy(col("user_id")).agg(min(col("ts")).as(out))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = stageAfter(t1, "t1", "click", "t2")
    val t3 = stageAfter(t2, "t2", "purchase", "t3")
    def countOf(stage: String, d: DataFrame) =
      d.agg(count(lit(1)).as("n_users")).select(lit(stage).as("stage"), col("n_users"))
    val counts = countOf("1_view", t1)
      .unionByName(countOf("2_click", t2))
      .unionByName(countOf("3_purchase", t3))
    val top = t1.agg(count(lit(1)).cast("double").as("n_top"))
    counts.crossJoin(broadcast(top))
      .withColumn("pct_of_top", round(col("n_users").cast("double") / col("n_top"), 6))
      .select(col("stage"), col("n_users"), col("pct_of_top"))
      .orderBy(col("stage"))
  }

  /** Cohort retention — users grouped by first-activity day, activity
    * counted per day offset: the warehouse query behind every retention
    * curve. Two corpus aggregates (first-day per user, distinct active
    * days per user) joined on the user key; the output is
    * (cohort × offset)-sized, ≪ corpus. */
  private def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val first = ev.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("c"))
    val act = ev.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val size = first.groupBy(col("c")).agg(count(lit(1)).as("n0"))
    act.join(first, "user_id")
      .withColumn("off", datediff(col("d"), col("c")).cast("long"))
      .groupBy(col("c"), col("off"))
      .agg(count_distinct(col("user_id")).as("n_active"))
      .join(size, "c")
      .withColumn("retention",
        round(col("n_active").cast("double") / col("n0").cast("double"), 6))
      .select(col("c").as("cohort_day"), col("off").as("day_offset"),
        col("n_active"), col("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Multi-touch attribution — for each conversion (purchase), the first
    * and last touch (view/click) by the same user in the preceding 7-day
    * window, plus the touch count: the report behind every marketing
    * attribution model. One equi-join on the user key with the lookback
    * bound applied in the join (fan-out bounded by the window), then a
    * partial-aggregable min/max over (ts, id, type) structs — lexicographic
    * struct ordering makes the winner deterministic under ties, and the
    * aggregate form never sorts all touches per conversion (the window
    * row_number formulation the oracle uses would). */
  private def attribution(s: SparkSession, dir: String): DataFrame = {
    // balanced: both branch scans + the conv/touch projections run
    // map-side on a single-split table
    val ev = graft.Tables.balanced(s, dir, "events", "event_id")
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts").as("conv_ts"))
    val touch = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"), col("ts").as("touch_ts"))
    conv.join(touch, "user_id")
      .filter(col("touch_ts") <= col("conv_ts") &&
        col("touch_ts") > col("conv_ts") - expr("INTERVAL 7 DAYS"))
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_touches"),
        min(struct(col("touch_ts"), col("touch_id"), col("touch_type"))).as("f"),
        max(struct(col("touch_ts"), col("touch_id"), col("touch_type"))).as("l"))
      .select(col("conv_id"), col("n_touches"),
        col("f.touch_id").as("first_touch"), col("f.touch_type").as("first_type"),
        col("l.touch_id").as("last_touch"), col("l.touch_type").as("last_type"))
      .orderBy(col("conv_id"))
  }

  /** Bloom-prefiltered semi-join reduction — Spark's runtime bloom-filter
    * optimization made explicit as a plan. The build side (high-balance
    * BUILDING customers) folds to ONE 4 KiB bitmap row via `graft_bloom`
    * regardless of its cardinality; broadcasting the bitmap and probing
    * it in pure Column arithmetic discards non-matching orders BEFORE
    * the exact join's shuffle. At 100 TB this is the move when the build
    * key set is too large to broadcast as a hash relation (no BHJ
    * possible) but its bitmap is constant-size: the probe side's shuffle
    * shrinks from all rows to matches + fpp·rows. The trailing exact
    * semi join removes bloom false positives, so the result is exactly
    * the plain semi join — which is what the oracle computes. */
  private def bloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    graft.functions.BloomFunctions.register(s)
    val build = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000)
      .select(col("c_custkey"))
    val sketch = build.agg(
      graft.functions.BloomFunctions.bloomSketch(col("c_custkey")).as("bloom"))
    val pre = t(s, dir, "orders")
      .crossJoin(broadcast(sketch))
      .filter(graft.functions.BloomFunctions
        .bloomMightContain(col("bloom"), col("o_custkey")))
      .drop("bloom")
    pre.join(build, pre("o_custkey") === build("c_custkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sumD(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Bitmap-index predicate algebra — the OLAP bitmap-index model (as in
    * Druid / Pinot / Kylin, Roaring-style but with raw 64-bit words):
    * ONE scan of the fact table builds a bitmap per predicate, keyed by
    * row-id word (`o_orderkey / 64`), each word the `bit_or` of
    * `1 << (rid mod 64)` over qualifying rows — three bitmaps built
    * simultaneously as three conditional aggregates of the same
    * hash-aggregate pass. Every boolean combination afterwards (AND, OR,
    * triple-AND) is word-aligned bit arithmetic + `bit_count` over the
    * INDEX — keyspace/64 rows of metadata — never a rescan of the fact
    * table. At 100 TB the index is ~0.2% of a dense fact's row count in
    * words, and ad-hoc predicate combinations become index-only queries.
    * The oracle computes the same counts as filtered aggregates over the
    * raw table, so a single misplaced bit breaks the hash. */
  private def bitmapIntersect(s: SparkSession, dir: String): DataFrame = {
    val mask = expr("shiftleft(1L, cast(o_orderkey % 64 AS INT))")
    def bm(pred: Column) = bit_or(when(pred, mask).otherwise(lit(0L)))
    val idx = t(s, dir, "orders")
      .groupBy(floor(col("o_orderkey") / 64).as("w"))
      .agg(
        bm(col("o_orderstatus") === "F").as("ba"),
        bm(col("o_orderpriority") === "1-URGENT").as("bb"),
        bm(col("o_totalprice") > 150000).as("bc"))
    idx.agg(
        sum(bit_count(col("ba"))).as("n_a"),
        sum(bit_count(col("bb"))).as("n_b"),
        sum(bit_count(col("bc"))).as("n_c"),
        sum(bit_count(col("ba").bitwiseAND(col("bb")))).as("n_a_and_b"),
        sum(bit_count(col("ba").bitwiseAND(col("bb")).bitwiseAND(col("bc"))))
          .as("n_a_and_b_and_c"),
        sum(bit_count(col("ba").bitwiseOR(col("bc")))).as("n_a_or_c"))
  }

  /** Sweep-line interval concurrency — "how many intervals are open at
    * once, and when does the peak start": each order is a 30-day open
    * interval, unpivoted to (+1 at start, −1 at end) deltas, running-sum
    * ordered by (time, delta) so closes process before opens at the same
    * instant (half-open intervals never overlap at the boundary). The
    * peak count is deterministic under tied timestamps: equal-delta peers
    * commute, so the running values form the same multiset regardless of
    * peer order. One keyed running-sum window + the per-key max as a
    * second window over the SAME partitioning (one exchange total) — the
    * classic capacity/concurrency question (sessions open, rooms booked,
    * connections held) with no self-join, no interval×interval pairing;
    * a 100 TB interval table shuffles once on the key. */
  private def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val iv = t(s, dir, "orders").select(col("o_orderpriority").as("p"),
      col("o_orderdate").cast("timestamp").as("st"),
      (col("o_orderdate").cast("timestamp") + expr("INTERVAL 30 DAYS")).as("en"))
    val deltas = iv.select(col("p"), col("st").as("t"), lit(1L).as("d"))
      .unionAll(iv.select(col("p"), col("en").as("t"), lit(-1L).as("d")))
    val w = Window.partitionBy(col("p")).orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val running = deltas.withColumn("c", sum(col("d")).over(w))
    // r16 optimization round: `running` used to feed BOTH a per-key max
    // aggregate and a broadcast join-back — Catalyst does not dedupe
    // common subtrees, so the union + exchange + sort + window chain
    // executed twice. The per-key max now rides a second window over the
    // SAME partitioning (no new exchange, no new sort — guide §2.4), so
    // the chain runs once and the join disappears. Values unchanged.
    val wp = Window.partitionBy(col("p"))
    running.withColumn("max_concurrent", max(col("c")).over(wp))
      .filter(col("c") === col("max_concurrent"))
      .groupBy(col("p"), col("max_concurrent"))
      .agg(min(col("t")).as("peak_ts"))
      .select(col("p").as("o_orderpriority"), col("max_concurrent"),
        col("peak_ts"))
      .orderBy(col("o_orderpriority"))
  }

  /** Group-median null imputation — the standard data-repair op: missing
    * values (synthesized deterministically: every 97th key) fill with the
    * EXACT interpolated median of their group's non-null values. The
    * median rides `groupedQuantiles` (range exchange + boundary-row
    * filter — no whole-group aggregation buffer; the kernel arithmetic
    * rel_percentile pins bit-equal to DuckDB's `quantile_cont`), then the
    * 3-row median table broadcasts back and the imputed sum is
    * engine-exact decimal. */
  private def imputeMedian(s: SparkSession, dir: String): DataFrame = {
    val t0 = t(s, dir, "orders").select(col("o_orderstatus").as("st"),
      when(col("o_orderkey") % 97 === 0, lit(null).cast("double"))
        .otherwise(col("o_totalprice")).as("p"))
    val med = groupedQuantiles(t0.filter(col("p").isNotNull), "st", "p",
        Seq(("med", 0.5)))
      .select(col("st"), col("med"))
    t0.join(broadcast(med), "st")
      .groupBy(col("st"))
      .agg(sum(when(col("p").isNull, 1L).otherwise(0L)).as("n_imputed"),
        sumD(coalesce(col("p"), col("med"))).as("sum_imputed"),
        round(max(col("med")), 6).as("median"))
      .select(col("st").as("o_orderstatus"), col("n_imputed"),
        col("sum_imputed"), col("median"))
      .orderBy(col("o_orderstatus"))
  }

  /** Leave-one-out target encoding — the leakage-controlled categorical
    * feature every tabular training pipeline ships: each row's category
    * is encoded as the mean target of the OTHER rows in its category,
    * (S_c - t_i) / (n_c - 1), so a row never sees its own label;
    * singleton categories fall back to the global prior (with a flag, so
    * downstream can treat the fallback as its own signal).
    *
    * Plan: ONE window partitioned by the category computes (S_c, n_c) —
    * a single shuffle on the category key, no join-back of a per-category
    * aggregate; the global prior is a broadcast 1-row aggregate riding a
    * cross join (the PlanAudit-allowlisted 1-row pattern). High-
    * cardinality categories are exactly the target-encoding use case, so
    * the category shuffle is well-spread by construction; a skewed
    * category would salt the same way rel_salted_agg does.
    *
    * Determinism: S_c is a decimal-exact windowed sum; S_c - t_i stays
    * decimal (exact), is cast to double, and divides by the long count —
    * identical IEEE ops in identical order in both engines; rounding is
    * the floor(x·1e6+0.5) form because LOO means over small (n_c - 1)
    * divisors DO land on 6-decimal midpoints where round() diverges. */
  def targetEncode(d: DataFrame, cat: String, target: String): DataFrame = {
    val wc = Window.partitionBy(col(cat))
    val td = col(target).cast(dec)
    val enc = d
      .withColumn("n_c", count(lit(1)).over(wc))
      .withColumn("s_c", sum(td).over(wc))
    val prior = d.groupBy()
      .agg((sum(td).cast("double") / count(lit(1))).as("prior"))
    enc.crossJoin(broadcast(prior))
      .withColumn("raw",
        when(col("n_c") > 1,
          (col("s_c") - td).cast("double") / (col("n_c") - 1))
          .otherwise(col("prior")))
      .withColumn("loo_enc",
        floor(col("raw") * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6))
      .withColumn("is_fallback",
        when(col("n_c") > 1, 0L).otherwise(1L))
  }

  private def targetEncodeQ(s: SparkSession, dir: String): DataFrame =
    targetEncode(t(s, dir, "orders"), "o_custkey", "o_totalprice")
      .select(col("o_orderkey"), col("loo_enc"), col("is_fallback"))
      .orderBy(col("o_orderkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_target_encode" -> targetEncodeQ,
    "rel_impute_median" -> imputeMedian,
    "rel_interval_overlap" -> intervalOverlap,
    "rel_bitmap_intersect" -> bitmapIntersect,
    "rel_bloom_prefilter" -> bloomPrefilter,
    "rel_attribution" -> attribution,
    "rel_funnel" -> funnel,
    "rel_cohort_retention" -> cohortRetention,
    "rel_outer_joins" -> outerJoins,
    "rel_null_ordering" -> nullOrdering,
    "rel_date_arith" -> dateArith,
    "rel_hash_sample" -> hashSample,
    "rel_stratified_topk" -> stratifiedSample,
    "rel_approx_percentile" -> approxPercentileQ,
    "rel_histogram" -> histogramQ,
    "rel_equidepth_hist" -> equidepthHistQ,
    "rel_rank_quantiles" -> rankQuantilesQ,
    "rel_cond_agg" -> condAgg,
    "rel_upsert" -> upsertQ,
    "rel_topk_agg" -> topkAgg,
    "rel_grouping_sets" -> groupingSets,
    "rel_unpivot" -> unpivotQ,
    "rel_scalar_subquery" -> ((s, dir) =>
      viewsAndSql(s, dir, scalarSubquerySql, "customer", "orders")),
    "rel_exists_subquery" -> ((s, dir) =>
      viewsAndSql(s, dir, existsSubquerySql, "customer", "orders")),
    "rel_not_in_nulls" -> ((s, dir) =>
      viewsAndSql(s, dir, notInNullsSql, "customer", "orders")),
    "rel_nullsafe_join" -> ((s, dir) =>
      viewsAndSql(s, dir, nullsafeJoinSql, "orders")),
    "rel_recursive_spine" -> ((s, dir) =>
      viewsAndSql(s, dir, recursiveSpineSql, "orders")),
    "rel_lateral_topk" -> ((s, dir) => {
      // the lateral decorrelates to a broadcast join + per-segment
      // WindowGroupLimit whose partial (map-side) sort sits DIRECTLY above
      // the orders scan — on the single-row-group test corpus that sort
      // would run one-threaded, so register orders balanced (same rows;
      // production multi-file tables parallelize the scan natively)
      graft.Tables(s, dir, "customer").createOrReplaceTempView("customer")
      graft.Tables.balanced(s, dir, "orders", "o_orderkey")
        .createOrReplaceTempView("orders")
      val df = s.sql(lateralTopkSql) // analysis resolves the balanced view now
      // restore the vanilla view: the shared session's `orders` must not
      // silently inherit the REPARTITION_BY_NUM exchange in later
      // s.sql consumers (the returned plan keeps the balanced frame)
      graft.Tables(s, dir, "orders").createOrReplaceTempView("orders")
      df
    }),
    "rel_in_subquery" -> ((s, dir) =>
      viewsAndSql(s, dir, inSubquerySql, "part", "lineitem")),
    "rel_window_analytics" -> windowAnalytics,
    "rel_range_join" -> rangeJoin,
    "rel_array_funcs" -> arrayFuncs,
    "rel_map_funcs" -> mapFuncs,
    "rel_regex_funcs" -> regexFuncs,
    "rel_moments" -> momentsQ,
  )

  val oracles: Map[String, String] = Map(
    // identical decimal-exact windowed sum, decimal subtraction before
    // the double cast, long-divisor IEEE division, floor-based rounding
    "rel_target_encode" ->
      """WITH s AS (
        |  SELECT o_orderkey, o_totalprice,
        |    COUNT(*) OVER wc AS n_c,
        |    SUM(CAST(o_totalprice AS DECIMAL(30,6))) OVER wc AS s_c
        |  FROM orders
        |  WINDOW wc AS (PARTITION BY o_custkey)
        |), p AS (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
        |    / COUNT(*) AS prior
        |  FROM orders
        |)
        |SELECT o_orderkey,
        |  CAST(floor((CASE WHEN n_c > 1
        |    THEN CAST(s_c - CAST(o_totalprice AS DECIMAL(30,6)) AS DOUBLE)
        |      / (n_c - 1)
        |    ELSE prior END) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS loo_enc,
        |  CAST(CASE WHEN n_c > 1 THEN 0 ELSE 1 END AS BIGINT) AS is_fallback
        |FROM s CROSS JOIN p
        |ORDER BY o_orderkey""".stripMargin,
    // quantile_cont ≡ Spark's exact interpolated percentile
    // (rel_percentile pins the kernel equality)
    "rel_impute_median" ->
      s"""WITH t0 AS (
         |  SELECT o_orderstatus AS st,
         |    CASE WHEN o_orderkey % 97 = 0 THEN NULL
         |         ELSE o_totalprice END AS p
         |  FROM orders
         |), med AS (
         |  SELECT st, quantile_cont(p, 0.5) AS m
         |  FROM t0 WHERE p IS NOT NULL GROUP BY st
         |)
         |SELECT t0.st AS o_orderstatus,
         |  CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_imputed,
         |  ${Exact.sumSql("coalesce(p, m)")} AS sum_imputed,
         |  round(MAX(m), 6) AS median
         |FROM t0 JOIN med ON t0.st = med.st
         |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // the same sweep line in SQL: deltas, keyed running sum with closes
    // before opens on ties, arg-min of the peak
    "rel_interval_overlap" ->
      """WITH iv AS (
        |  SELECT o_orderpriority AS p, o_orderdate AS st,
        |    o_orderdate + INTERVAL 30 DAY AS en
        |  FROM orders
        |), deltas AS (
        |  SELECT p, st AS t, CAST(1 AS BIGINT) AS d FROM iv
        |  UNION ALL
        |  SELECT p, en AS t, CAST(-1 AS BIGINT) AS d FROM iv
        |), running AS (
        |  SELECT p, t, SUM(d) OVER (PARTITION BY p ORDER BY t, d
        |    ROWS UNBOUNDED PRECEDING) AS c
        |  FROM deltas
        |), mc AS (
        |  SELECT p, CAST(MAX(c) AS BIGINT) AS max_concurrent
        |  FROM running GROUP BY p
        |)
        |SELECT r.p AS o_orderpriority, m.max_concurrent,
        |  MIN(r.t) AS peak_ts
        |FROM running r JOIN mc m ON r.p = m.p AND r.c = m.max_concurrent
        |GROUP BY 1, 2 ORDER BY o_orderpriority""".stripMargin,
    // filtered aggregates over the raw table — one misplaced bit in the
    // index words and a count diverges
    "rel_bitmap_intersect" ->
      """SELECT
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_a,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_b,
        |  COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_c,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F'
        |    AND o_orderpriority = '1-URGENT') AS n_a_and_b,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F'
        |    AND o_orderpriority = '1-URGENT'
        |    AND o_totalprice > 150000) AS n_a_and_b_and_c,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F'
        |    OR o_totalprice > 150000) AS n_a_or_c
        |FROM orders""".stripMargin,
    // the plain semi join — the bloom prefilter must be invisible in the
    // result (false positives removed by the exact join, no negatives)
    "rel_bloom_prefilter" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         |  ${sumSql("o_totalprice")} AS sum_price
         |FROM orders
         |WHERE o_custkey IN (SELECT c_custkey FROM customer
         |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    // the window row_number formulation — deliberately NOT mirroring the
    // aggregate plan; same semantics, ties broken by (ts, id) both ways
    "rel_attribution" ->
      """WITH conv AS (
        |  SELECT user_id, event_id AS conv_id, ts AS conv_ts FROM events
        |  WHERE event_type = 'purchase'
        |), touch AS (
        |  SELECT user_id, event_id AS touch_id, event_type AS touch_type,
        |    ts AS touch_ts
        |  FROM events WHERE event_type IN ('view', 'click')
        |), j AS (
        |  SELECT c.conv_id, t.touch_id, t.touch_type,
        |    row_number() OVER (PARTITION BY c.conv_id
        |      ORDER BY t.touch_ts ASC, t.touch_id ASC, t.touch_type ASC) AS rf,
        |    row_number() OVER (PARTITION BY c.conv_id
        |      ORDER BY t.touch_ts DESC, t.touch_id DESC, t.touch_type DESC) AS rl,
        |    COUNT(*) OVER (PARTITION BY c.conv_id) AS n_touches
        |  FROM conv c JOIN touch t ON c.user_id = t.user_id
        |   AND t.touch_ts <= c.conv_ts
        |   AND t.touch_ts > c.conv_ts - INTERVAL 7 DAY
        |)
        |SELECT conv_id, CAST(MAX(n_touches) AS BIGINT) AS n_touches,
        |  MAX(CASE WHEN rf = 1 THEN touch_id END) AS first_touch,
        |  MAX(CASE WHEN rf = 1 THEN touch_type END) AS first_type,
        |  MAX(CASE WHEN rl = 1 THEN touch_id END) AS last_touch,
        |  MAX(CASE WHEN rl = 1 THEN touch_type END) AS last_type
        |FROM j GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    "rel_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1
        |), t2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1
        |), t3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3
        |  FROM events e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1
        |), counts AS (
        |  SELECT '1_view' AS stage, COUNT(*) AS n_users FROM t1
        |  UNION ALL SELECT '2_click', COUNT(*) FROM t2
        |  UNION ALL SELECT '3_purchase', COUNT(*) FROM t3
        |), top AS (SELECT CAST(n_users AS DOUBLE) AS n_top FROM counts WHERE stage = '1_view')
        |SELECT stage, n_users,
        |  round(CAST(n_users AS DOUBLE) / top.n_top, 6) AS pct_of_top
        |FROM counts CROSS JOIN top ORDER BY stage""".stripMargin,
    "rel_cohort_retention" ->
      """WITH first AS (
        |  SELECT user_id, CAST(MIN(ts) AS DATE) AS c FROM events GROUP BY 1
        |), act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |), sz AS (SELECT c, COUNT(*) AS n0 FROM first GROUP BY 1)
        |SELECT f.c AS cohort_day,
        |  CAST(datediff('day', f.c, a.d) AS BIGINT) AS day_offset,
        |  COUNT(DISTINCT a.user_id) AS n_active,
        |  round(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / CAST(sz.n0 AS DOUBLE), 6) AS retention
        |FROM act a JOIN first f USING (user_id) JOIN sz ON f.c = sz.c
        |GROUP BY f.c, a.d, sz.n0
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // verbatim-SQL queries: the identical text runs in both engines
    "rel_exists_subquery" -> existsSubquerySql,
    "rel_not_in_nulls" -> notInNullsSql,
    "rel_nullsafe_join" -> nullsafeJoinSql,
    // the sketch side is checked by the query itself (within_* must come
    // out TRUE); the oracle verifies the exact twin columns
    "rel_approx_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.99) AS p99,
        |  COUNT(*) AS n, TRUE AS within_p50, TRUE AS within_p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rel_outer_joins" -> {
      def stats(jt: String, tag: String) =
        s"""SELECT '$tag' AS join_type, COUNT(*) AS n_rows,
           |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_order,
           |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_cust,
           |  ${sumSql("coalesce(o_totalprice, 0.0)")} AS sum_price
           |FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0) c
           |$jt JOIN (SELECT o_custkey, o_orderkey, o_totalprice FROM orders
           |          WHERE o_totalprice >= 400000.0) o
           |  ON c.c_custkey = o.o_custkey""".stripMargin
      s"""${stats("LEFT", "left")}
         |UNION ALL
         |${stats("RIGHT", "right")}
         |UNION ALL
         |${stats("FULL", "full")}
         |ORDER BY join_type""".stripMargin
    },
    "rel_null_ordering" ->
      """SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS prio_n, o_totalprice
        |FROM orders WHERE o_orderkey % 200 = 0
        |ORDER BY prio_n ASC NULLS FIRST, o_totalprice DESC NULLS LAST, o_orderkey""".stripMargin,
    // DuckDB dayofweek is 0-based (Sunday=0); Spark's is 1-based — shifted
    // here so semantics match
    "rel_date_arith" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS d_plus30,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS d_plus2m,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002
        |FROM orders WHERE o_orderkey % 500 = 0 ORDER BY o_orderkey""".stripMargin,
    "rel_hash_sample" -> {
      val b = SplitOps.hashBucketSql(
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)")
      s"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         |WHERE $b < 2
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    "rel_stratified_topk" ->
      """SELECT o_orderstatus, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS BIGINT) AS rk
        |  FROM orders
        |) WHERE rk <= 100 ORDER BY o_orderstatus, rk""".stripMargin,
    "rel_histogram" ->
      s"""SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
         |  COUNT(*) AS n, ${sumSql("o_totalprice")} AS sum_price,
         |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
         |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    // same rank semantics as globalRank: row_number over the total order,
    // quantile q = the row at rank ceil(q*n) (IEEE multiply in both engines)
    "rel_rank_quantiles" ->
      """WITH r AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM lineitem
        |)
        |SELECT q, v FROM (
        |  SELECT CAST(0.5 AS DOUBLE) AS q, v FROM r WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)
        |  UNION ALL
        |  SELECT CAST(0.9 AS DOUBLE) AS q, v FROM r WHERE rn = CAST(ceil(0.9 * n) AS BIGINT)
        |  UNION ALL
        |  SELECT CAST(0.99 AS DOUBLE) AS q, v FROM r WHERE rn = CAST(ceil(0.99 * n) AS BIGINT)
        |) ORDER BY q""".stripMargin,
    "rel_equidepth_hist" ->
      s"""WITH b AS (
         |  SELECT o_totalprice,
         |    CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
         |  FROM orders
         |)
         |SELECT bucket, COUNT(*) AS n, MIN(o_totalprice) AS lo,
         |  MAX(o_totalprice) AS hi, ${sumSql("o_totalprice")} AS sum_price
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "rel_cond_agg" ->
      s"""SELECT l_returnflag,
         |  COUNT(CASE WHEN l_quantity >= 45 THEN 1 END) AS n_heavy,
         |  COUNT(CASE WHEN l_discount = 0.0 THEN 1 END) AS n_nodisc,
         |  bool_or(l_quantity >= 49.0) AS any_x49,
         |  bool_and(l_quantity >= 1.0) AS all_ge1,
         |  CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_dist_qty,
         |  COUNT(*) AS n
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rel_upsert" ->
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         |), changes AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
         |    o_totalprice * 1.1 AS new_price
         |  FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 11 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 10000000, 'I', o_totalprice
         |  FROM orders WHERE o_orderkey % 13 = 0
         |), merged AS (
         |  SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
         |    coalesce(b.o_orderstatus, 'NEW') AS o_orderstatus,
         |    coalesce(c.new_price, b.o_totalprice) AS o_totalprice
         |  FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
         |  WHERE coalesce(c.op, '') <> 'D'
         |)
         |SELECT o_orderstatus, COUNT(*) AS n, ${sumSql("o_totalprice")} AS sum_price
         |FROM merged GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "rel_topk_agg" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin,
    "rel_grouping_sets" ->
      s"""SELECT CAST(GROUPING_ID(r_name, n_name) AS BIGINT) AS gid,
         |  coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
         |  COUNT(*) AS n_supp, ${sumSql("s_acctbal")} AS sum_bal
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
         |ORDER BY gid, region, nation""".stripMargin,
    "rel_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'quantity' AS measure, l_quantity AS val
        |FROM lineitem WHERE l_orderkey % 500 = 0
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'discount', l_discount
        |FROM lineitem WHERE l_orderkey % 500 = 0
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'tax', l_tax
        |FROM lineitem WHERE l_orderkey % 500 = 0
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "rel_scalar_subquery" -> scalarSubquerySql,
    "rel_recursive_spine" -> recursiveSpineSql,
    "rel_lateral_topk" -> lateralTopkSql,
    "rel_in_subquery" -> inSubquerySql,
    "rel_window_analytics" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  first_value(o_totalprice) OVER wf AS first_price,
        |  last_value(o_totalprice) OVER wf AS last_price,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist
        |FROM orders WHERE o_custkey % 200 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "rel_range_join" ->
      """SELECT w.win_id, w.w_start, COUNT(*) AS n_events
        |FROM (SELECT event_id AS win_id, ts AS w_start,
        |        ts + INTERVAL 4 HOUR AS w_end
        |      FROM events WHERE event_id % 997 = 0) w
        |JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
        |GROUP BY w.win_id, w.w_start
        |ORDER BY w.win_id""".stripMargin,
    "rel_array_funcs" ->
      """SELECT c_mktsegment,
        |  CAST(len(list_sort(list_distinct(list(o_orderpriority)))) AS BIGINT) AS n_prios,
        |  list_contains(list_distinct(list(o_orderpriority)), '1-URGENT') AS has_urgent,
        |  list_sort(list_distinct(list(o_orderpriority)))[1] AS first_prio,
        |  CAST(coalesce(list_position(list_sort(list_distinct(list(o_orderpriority))), '5-LOW'), 0) AS BIGINT) AS low_pos,
        |  list_aggregate(list_sort(list_distinct(list(o_orderpriority))), 'string_agg', ',') AS prio_csv,
        |  CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "rel_map_funcs" ->
      """WITH counts AS (
        |  SELECT user_id, event_type, COUNT(*) AS n FROM events
        |  WHERE user_id % 100 = 0 GROUP BY 1, 2
        |)
        |SELECT c.user_id, c.event_type, c.n, t.n_types,
        |  coalesce(k.n, 0) AS n_click
        |FROM counts c
        |JOIN (SELECT user_id, COUNT(*) AS n_types FROM counts GROUP BY 1) t
        |  ON c.user_id = t.user_id
        |LEFT JOIN (SELECT user_id, n FROM counts WHERE event_type = 'click') k
        |  ON c.user_id = k.user_id
        |ORDER BY c.user_id, c.event_type""".stripMargin,
    "rel_regex_funcs" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^(red|blue) ([a-z]+)', 1) AS color,
        |  regexp_extract(p_name, '^(red|blue) ([a-z]+)', 2) AS noun,
        |  regexp_replace(p_type, '[AEIOU]', '', 'g') AS devowel,
        |  regexp_matches(p_name, 'bolt') AS bolty
        |FROM part WHERE regexp_matches(p_name, '^(red|blue) ')
        |ORDER BY p_partkey""".stripMargin,
    "rel_moments" ->
      """WITH sums AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  (sxx - sx * sx / n) / (n - 1) AS var_qty,
        |  sqrt((sxx - sx * sx / n) / (n - 1)) AS sd_qty,
        |  round((sxy - sx * sy / n) /
        |    sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 12) AS corr_qp
        |FROM sums ORDER BY l_returnflag""".stripMargin,
  )
}
