package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series similarity search (the EDBT'19 streaming-subsequence-match
  * family): find the corpus subsequences most similar to a query pattern
  * under z-normalized euclidean distance — the primitive behind motif
  * discovery, anomaly matching, and "find me days that looked like this
  * one".
  *
  * Shape: per-key trailing windows materialize candidate subsequences
  * with ONE keyed window function (no self-join, no explosion into
  * (subsequence × subsequence) pairs); the query pattern is a broadcast
  * 1-row array; z-normalization and the distance fold run map-side in
  * sequence order, so both engines accumulate bit-identically. At 100 TB
  * the plan is one shuffle on the series key; the production refinements
  * (early-abandon thresholds, piecewise-aggregate prefilter before exact
  * distance) keep the same plan shape — candidates stream through a
  * map-side kernel, never pairwise.
  */
object TimeSeriesOps {

  private val M = 8 // subsequence length
  private val TOPK = 10

  private def fold(a: Column): Column =
    aggregate(a, lit(0.0d), (acc, x) => acc + x)

  /** Round-half-up at 1e-6 via explicit IEEE ops (floor(x*1e6+0.5)/1e6)
    * instead of round(): derived values (lerps, scores) can land EXACTLY
    * on 6-decimal midpoints, where Spark (exact BigDecimal on the
    * double's binary value) and DuckDB (multiply/nearbyint/divide) round
    * differently; the same double ops in the same order are bit-identical
    * in any engine. Rounds negatives half toward +inf — fine, as long as
    * the oracle spells the identical expression. */
  private def r6SqlTs(x: String): String =
    s"CAST(floor(($x) * 1e6 + 0.5) AS DOUBLE) / 1e6"

  private def r6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)

  /** z-normalize an array<double> in-place: (x - mean) / std; windows
    * with ~zero variance are the caller's job to filter. */
  private def znorm(v: Column): Column = {
    val mean = fold(v) / lit(M.toDouble)
    val sq = fold(transform(v, x => x * x)) / lit(M.toDouble)
    val std = sqrt(sq - mean * mean)
    transform(v, x => (x - mean) / std)
  }

  private def tsSubseqTopk(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    // the query pattern: user 1's first M values in event order —
    // derived in-plan (1-row broadcast), reproducible in the oracle
    val pattern = ev.filter(col("user_id") === 1)
      .select(col("ts"), col("event_id"), col("value"))
      .groupBy()
      .agg(slice(transform(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("value")))),
        x => x.getField("value")), 1, M).as("pv"))
      .select(znorm(col("pv")).as("pz"))
    // r16 optimization round: the trailing-M collect_list window built an
    // M-double array PER ROW and scored it through INTERPRETED
    // zip_with/aggregate lambdas (~6 HOF folds per row). The candidate
    // scan now runs as a sorted-partition kernel (the theilSen
    // discipline): shuffle the pruned columns by user, sort within
    // partitions by (user, ts, event_id) — the window's exact order —
    // and slide a ring buffer of the last M values, computing the SAME
    // fold expressions (left-fold in window order, identical IEEE op
    // order: Σx²/M − (Σx/M)², z = (x−mean)/√(sq−mean²), Σ(wz−pz)²,
    // floor-free round via the engine's 6-dp HALF_UP spelling) in a
    // scalar loop. The z-normed pattern is collected driver-side
    // (M doubles — metadata, the broadcast-pattern class); collect_list's
    // null-skip becomes the ring's null marker (any null in the last M
    // rows shrinks the array below M → filtered, both forms).
    val pzRow = pattern.collect()(0)
    val pz: Array[Double] =
      if (pzRow.isNullAt(0)) null
      else pzRow.getSeq[Any](0).map {
        case x: java.lang.Double => x.doubleValue
        case _ => Double.NaN // null element inside pz: dist is NULL below
      }.toArray
    val pzHasNull = !pzRow.isNullAt(0) &&
      pzRow.getSeq[Any](0).exists(_ == null)
    val evP = ev.select(col("user_id"), col("event_id"), col("ts"),
        col("value").cast("double").as("v"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        ev.schema("user_id").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("end_event_id",
        ev.schema("event_id").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("dist",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    def rnd6(x: Double): Double =
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
      else new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    val mLit = M
    evP.mapPartitions { it =>
      val ring = new Array[Double](mLit)
      val ringNull = new Array[Boolean](mLit)
      var cnt = 0
      var curKey: Any = null
      var started = false
      it.flatMap { r =>
        val k = r.get(0)
        if (!started || !java.util.Objects.equals(k, curKey)) {
          curKey = k; cnt = 0; started = true
        }
        ringNull(cnt % mLit) = r.isNullAt(3)
        if (!r.isNullAt(3)) ring(cnt % mLit) = r.getDouble(3)
        cnt += 1
        var anyNull = false
        if (cnt >= mLit) {
          var i = 0
          while (i < mLit) { if (ringNull(i)) anyNull = true; i += 1 }
        }
        if (cnt < mLit || anyNull) Iterator.empty
        else {
          // window order: oldest → newest (the collect_list frame order)
          val win = new Array[Double](mLit)
          var i = 0
          while (i < mLit) {
            win(i) = ring((cnt - mLit + i) % mLit)
            i += 1
          }
          // the dataflow's exact fold spellings, left-to-right
          var sx = 0.0; var sxx = 0.0
          i = 0
          while (i < mLit) { sx += win(i); i += 1 }
          i = 0
          while (i < mLit) { sxx += win(i) * win(i); i += 1 }
          val mean = sx / mLit.toDouble
          val sq = sxx / mLit.toDouble
          val std2 = sq - (sx / mLit.toDouble) * (sx / mLit.toDouble)
          if (!(std2 > 1e-12)) Iterator.empty
          else {
            val dist: Any =
              if (pz == null || pz.length != mLit || pzHasNull) null
              else {
                val std = math.sqrt(sq - mean * mean)
                var acc = 0.0
                var j = 0
                while (j < mLit) {
                  val t = (win(j) - mean) / std - pz(j)
                  acc += t * t
                  j += 1
                }
                Double.box(rnd6(acc))
              }
            Iterator.single(org.apache.spark.sql.Row(k, r.get(1), dist))
          }
        }
      }
    }(Encoders.row(outSchema))
      .orderBy(col("dist").asc, col("user_id").asc, col("end_event_id").asc)
      .limit(TOPK)
  }

  /** Time-grid resampling with forward fill — the gap-fill every
    * metrics/sensor/feature-store pipeline runs before a model sees the
    * series: one row per (series, hour) on a regular grid, carrying the
    * last observation at or before that hour (NULL before the first).
    *
    * Scale shape: the grid is users × hours where the hour list is a
    * BROADCAST 1-row sequence (the time range is an operating window —
    * it does not grow with the corpus; the user dimension does, and
    * partitions the work). Last-obs-per-hour is a keyed dedup window,
    * the fill is ONE keyed window (`last ignoreNulls` over the unioned
    * grid) — no self-join, no per-gap explosion, shuffle only on
    * user_id. At 100 TB this is the plan you want: every stage is keyed
    * by the series id. */
  /** PUBLIC generic resample+ffill over any (key, ts, ord, value) frame:
    * one row per (key, `unit` bucket) on a regular grid, carrying the
    * last observation at or before the bucket (`filled`) and `is_obs`.
    * Ties inside a bucket resolve by the (ts, ord) total order.
    *
    * By default each key's grid starts at ITS OWN first observation
    * (`alignedStart = false`) and runs to the frame's global end — the
    * production default: with long-history corpora and churning key
    * populations, a global start multiplies output by dead leading
    * NULL spans for every late-arriving key. In this mode the grid is
    * never JOINED: every window (bucket dedup, carried value, next-bucket
    * lead) runs over the OBSERVATION rows, and each observation then
    * explodes its gap span [its bucket, next obs bucket) — clipped to the
    * global end — directly into output rows. Windows touch O(obs) rows,
    * the output-sized frame is produced by a narrow explode, and the only
    * shuffles are the two keyed windows: at 10x data the fill cost is the
    * explode itself, not a sort-and-join over the full grid (which made
    * this the suite's worst sf1 ratio twice).
    *
    * `alignedStart = true` restores the globally aligned grid for
    * feature-store shapes that need every series on identical frames:
    * each key's leading span (global start up to its first observation,
    * NULL `filled`, zero `is_obs`) is exploded from the per-key
    * first-bucket aggregate and unioned in — the same
    * windows-over-observations + narrow-explode plan, never a grid
    * join. */
  def resampleFfill(d: DataFrame, key: String, ts: String, ord: String,
                    value: String, unit: String = "hour",
                    alignedStart: Boolean = false): DataFrame = {
    val ev = d.select(col(key), col(ts), col(ord), col(value))
    // global bounds: one metadata-sized row, broadcast under the joins
    val bounds = ev.agg(
      date_trunc(unit, min(col(ts))).as("glo"),
      date_trunc(unit, max(col(ts))).as("hi"))
    // last observation per (key, bucket): deterministic under ties via
    // (ts, ord) — the same total order every keyed op here uses
    val wLast = Window.partitionBy(col(key), col("h"))
      .orderBy(col(ts).desc, col(ord).desc)
    val obs = ev.withColumn("h", date_trunc(unit, col(ts)))
      .withColumn("rk", row_number().over(wLast))
      .filter(col("rk") === 1)
      .select(col(key), col("h"), col(value).as("v"))
    // gap spans over observation rows only: `carried` is the forward
    // fill (ignoreNulls look-back handles NULL-valued observations
    // exactly like a grid-join's `last ignoreNulls` would), `next_h`
    // bounds the span — both in ONE keyed window lineage
    val wNext = Window.partitionBy(col(key)).orderBy(col("h"))
    val wCarry = wNext
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = obs
      .withColumn("carried", last(col("v"), ignoreNulls = true).over(wCarry))
      .withColumn("next_h", lead(col("h"), 1).over(wNext))
      .crossJoin(broadcast(bounds.select(col("hi"))))
      .withColumn("end_h",
        coalesce(expr(s"next_h - interval 1 $unit"), col("hi")))
    val filledSpans = spans
      .select(col(key), col("h"), col("v"), col("carried"),
        explode(expr(s"sequence(h, end_h, interval 1 $unit)")).as("hour"))
      .select(col(key), col("hour"),
        col("carried").as("filled"),
        when(col("hour") === col("h") && col("v").isNotNull, 1L)
          .otherwise(0L).as("is_obs"))
    if (!alignedStart) filledSpans
    else {
      // leading NULL spans: global start up to (excluding) each key's
      // first observed bucket — a per-key aggregate over the obs rows,
      // exploded narrowly; keys observed in the first bucket emit none
      val vType = ev.schema(value).dataType
      val leading = obs.groupBy(col(key)).agg(min(col("h")).as("first_h"))
        .crossJoin(broadcast(bounds.select(col("glo"))))
        .filter(col("first_h") > col("glo"))
        .select(col(key), explode(expr(
          s"sequence(glo, first_h - interval 1 $unit, interval 1 $unit)"))
          .as("hour"))
        .select(col(key), col("hour"), lit(null).cast(vType).as("filled"),
          lit(0L).as("is_obs"))
      filledSpans.unionByName(leading)
    }
  }

  private def tsResampleFfill(s: SparkSession, dir: String): DataFrame =
    resampleFfill(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("hour"))

  /** The globally ALIGNED variant as its own oracle-checked query: every
    * series on the identical frame from the global start (leading spans
    * NULL-filled with is_obs 0) — the feature-store shape. Same
    * windows-over-observations plan as the default; only the leading-span
    * union differs. */
  private def tsResampleAligned(s: SparkSession, dir: String): DataFrame =
    resampleFfill(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value", alignedStart = true)
      .orderBy(col("user_id"), col("hour"))

  /** Per-series lag/rolling features — the feature-engineering pass a
    * training pipeline runs before a model sees event data: previous
    * value, trailing-5 exact mean / min / max, and the gap to the
    * previous event. Everything is ONE keyed window lineage (shuffle on
    * the series key once, every feature computed in the same sorted
    * frame); the rolling mean uses the decimal-exact sum so the hash is
    * partition-independent. Output is row-per-event by design — feature
    * tables are as large as their input. */
  /** PUBLIC generic lag/rolling features over any (key, ts, ord, value)
    * frame: previous value, trailing-`n` exact-decimal mean, rolling
    * min/max, and the gap to the previous row in microseconds — one keyed
    * window lineage (single shuffle on `key`). */
  def lagFeatures(d: DataFrame, key: String, ts: String, ord: String,
                  value: String, n: Int = 5): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
    val wn = w.rowsBetween(-(n - 1), Window.currentRow)
    d.select(col(key), col(ts), col(ord), col(value))
      .select(col(key), col(ord),
        lag(col(value), 1).over(w).as("lag1"),
        (sum(col(value).cast(graft.ops.Exact.dec)).over(wn).cast("double") /
          count(lit(1)).over(wn)).as("roll_mean"),
        min(col(value)).over(wn).as("roll_min"),
        max(col(value)).over(wn).as("roll_max"),
        (unix_micros(col(ts)) - lag(unix_micros(col(ts)), 1).over(w))
          .as("dt_us"))
  }

  private def tsLagFeatures(s: SparkSession, dir: String): DataFrame =
    lagFeatures(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  private val ZW = 24        // rolling window for the z-score
  private val ZTHRESH = 2.5d // |z| beyond this flags an anomaly

  /** Rolling z-score anomaly detection — the monitoring/data-quality pass
    * over metric streams: each point scored against the trailing-`n`
    * window's mean and population std, |z| > `thresh` flagged. Only full
    * windows emit (cold starts carry no stable baseline).
    *
    * Determinism across engines: the window's first and second moments
    * come from EXACT decimal sums — `value` quantized to DECIMAL(15,
    * `scale`), whose square (scale 2·`scale`) is exact in both engines —
    * so mean/variance are bit-identical doubles regardless of
    * partitioning or either engine's windowed-sum evaluation order
    * (segment trees sum out of sequence). `scale` must cover the data's
    * actual decimal precision (events.value is 2-decimal) AND keep the
    * squared window sum's raw integer under 2^53, where decimal→double
    * conversion is exact — at scale 2 that bound is n·max(v)² < 4.5e11,
    * comfortable for any operating window. Everything is ONE keyed
    * window lineage: a single shuffle on the series key at any scale. */
  def anomalyZscore(d: DataFrame, key: String, ts: String, ord: String,
                    value: String, n: Int = ZW, thresh: Double = ZTHRESH,
                    scale: Int = 2): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
      .rowsBetween(-(n - 1), Window.currentRow)
    val vd = col(value).cast(org.apache.spark.sql.types.DecimalType(15, scale))
    val scored = d.select(col(key), col(ts), col(ord), col(value))
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("mean", sum(vd).over(w).cast("double") / col("cnt"))
      .withColumn("ex2", sum(vd * vd).over(w).cast("double") / col("cnt"))
      .filter(col("cnt") === n)
      .withColumn("vr", col("ex2") - col("mean") * col("mean"))
      .withColumn("zr",
        when(col("vr") > 1e-12,
          (col(value) - col("mean")) / sqrt(col("vr")))
          .otherwise(lit(0.0d)))
    scored.select(col(key), col(ord), round(col("zr"), 6).as("z"),
      when(abs(col("zr")) > thresh, 1L).otherwise(0L).as("is_anom"))
  }

  private def tsAnomalyZscore(s: SparkSession, dir: String): DataFrame =
    anomalyZscore(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  private val MADW = 25      // rolling window — ODD, so the median is one
                             // exact middle element (even widths average
                             // two, a different value in each engine's
                             // float order)
  private val MADK = 3.0d    // flag threshold in MAD units

  /** Rolling-median/MAD anomaly flags — the ROBUST sibling of
    * [[anomalyZscore]]: a mean/σ window is dragged by the very outliers
    * it is meant to flag (one large spike inflates σ and masks the
    * next), while median/MAD tolerate up to 50% contamination — the
    * screen production metric pipelines run on noisy telemetry.
    *
    * Exactness: the trailing window is COLLECTED into a bounded array
    * (a ROWS frame — per-row state is `n` doubles, never the corpus),
    * the median is the sorted array's middle ELEMENT (odd `n`, so no
    * two-value averaging), MAD is the median of |v − med| over the same
    * array, and the flag compares |x − med| > k·MAD with the raw
    * doubles — every step is the same IEEE ops in the same order in
    * both engines, no library quantile in sight. Only full windows
    * emit. ONE keyed shuffle (the window); all array work is per-row
    * over `n` elements. */
  def anomalyMad(d: DataFrame, key: String, ts: String, ord: String,
                 value: String, n: Int = MADW,
                 k: Double = MADK): DataFrame = {
    require(n >= 3 && n % 2 == 1, s"window must be odd and >= 3 (got $n)")
    val mid = (n + 1) / 2
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
      .rowsBetween(-(n - 1), Window.currentRow)
    d.select(col(key), col(ts), col(ord), col(value))
      .filter(col(value).isNotNull)
      .withColumn("arr", collect_list(col(value)).over(w))
      .filter(size(col("arr")) === n)
      .withColumn("med", element_at(array_sort(col("arr")), mid))
      .withColumn("mad", element_at(array_sort(
        transform(col("arr"), v => abs(v - col("med")))), mid))
      .select(col(key), col(ord), r6(col("med")).as("med"),
        r6(col("mad")).as("mad"),
        when(abs(col(value) - col("med")) > lit(k) * col("mad"), 1L)
          .otherwise(0L).as("is_anom"))
  }

  private def tsAnomalyMad(s: SparkSession, dir: String): DataFrame =
    anomalyMad(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  /** Time-grid resampling with LINEAR INTERPOLATION — the other half of
    * the gap-fill pair (`resampleFfill` carries the last value; this one
    * draws the line between brackets): one row per (key, `unit` bucket)
    * from each key's first to ITS last observed bucket, the value
    * linearly interpolated between the bracketing observations (no
    * extrapolation past the last — interpolation needs both ends).
    *
    * Same windows-over-observations + narrow-explode plan as ffill: the
    * bucket dedup and the bracket lookup (lead of bucket and value) are
    * keyed windows over the OBSERVATION rows; each observation then
    * explodes its span [its bucket, next bucket) directly into output
    * rows carrying both bracket values — the output-sized frame is never
    * windowed or joined, and the only shuffles are the two keyed windows
    * on the series key. The interpolation fraction is an integer
    * microsecond ratio cast to double, identical in both engines. */
  def interpLinear(d: DataFrame, key: String, ts: String, ord: String,
                   value: String, unit: String = "hour"): DataFrame = {
    val ev = d.select(col(key), col(ts), col(ord), col(value))
    val wLast = Window.partitionBy(col(key), col("h"))
      .orderBy(col(ts).desc, col(ord).desc)
    val obs = ev.withColumn("h", date_trunc(unit, col(ts)))
      .withColumn("rk", row_number().over(wLast))
      .filter(col("rk") === 1)
      .select(col(key), col("h"), col(value).as("v"))
    val wk = Window.partitionBy(col(key)).orderBy(col("h"))
    val spans = obs
      .withColumn("next_h", lead(col("h"), 1).over(wk))
      .withColumn("next_v", lead(col("v"), 1).over(wk))
    val exploded = spans.select(col(key), col("h"), col("v"),
      col("next_h"), col("next_v"),
      explode(expr(
        s"sequence(h, coalesce(next_h - interval 1 $unit, h), interval 1 $unit)"))
        .as("bucket"))
    val frac = (unix_micros(col("bucket")) - unix_micros(col("h"))).cast("double") /
      (unix_micros(col("next_h")) - unix_micros(col("h"))).cast("double")
    exploded.select(col(key), col("bucket").as("hour"),
      r6(when(col("bucket") === col("h"), col("v"))
        .otherwise(col("v") + (col("next_v") - col("v")) * frac))
        .as("interp"),
      when(col("bucket") === col("h") && col("v").isNotNull, 1L)
        .otherwise(0L).as("is_obs"))
  }

  private def tsInterpLinear(s: SparkSession, dir: String): DataFrame =
    interpLinear(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("hour"))

  private val EW = 8        // EWMA window: residual weight (1-α)^8 ≈ 5.8%
  private val EALPHA = 0.3d

  /** Bounded exponentially weighted moving average — the smoothing pass
    * behind trend/forecast features: weight (1-α)^i on the i-th previous
    * value, truncated at `n` terms and renormalized over the terms
    * actually present (series starts use the shorter window). The
    * truncation makes the recurrence a fixed-depth lag composition: ONE
    * keyed window lineage, single shuffle on the series key, no
    * per-partition imperative state. (The unbounded recurrence would need
    * a sorted per-key scan — repartition + sortWithinPartitions +
    * mapPartitions; at (1-α)^n < 6% residual weight the bounded form is
    * the production trade.)
    *
    * Determinism: the weights are computed ONCE driver-side and embedded
    * as the same literal doubles in the plan and in the oracle SQL
    * (exact-decimal string → double round-trips), so no runtime `pow`
    * (not correctly rounded in either engine) enters the comparison; the
    * weighted sum folds left in both engines. */
  def ewma(d: DataFrame, key: String, ts: String, ord: String,
           value: String, n: Int = EW, alpha: Double = EALPHA): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
    val weights = ewmaWeights(n, alpha)
    val lagged = (0 until n).map(i =>
      if (i == 0) col(value) else lag(col(value), i).over(w))
    val num = lagged.zip(weights).map { case (l, wt) =>
      when(l.isNotNull, l * lit(wt)).otherwise(lit(0.0d)) }.reduce(_ + _)
    val den = lagged.zip(weights).map { case (l, wt) =>
      when(l.isNotNull, lit(wt)).otherwise(lit(0.0d)) }.reduce(_ + _)
    d.select(col(key), col(ts), col(ord), col(value))
      .select(col(key), col(ord), round(num / den, 6).as("ewma"))
  }

  private def ewmaWeights(n: Int, alpha: Double): Seq[Double] =
    (0 until n).map(i => math.pow(1.0 - alpha, i))

  /** The ts_ewma oracle, generated from the SAME weight doubles the plan
    * embeds: each weight rendered as its exact decimal expansion and
    * CAST('…' AS DOUBLE) so DuckDB recovers the identical bits. */
  private def ewmaOracleSql(n: Int, alpha: Double): String = {
    val wts = ewmaWeights(n, alpha).map(wt =>
      s"CAST('${new java.math.BigDecimal(wt).toPlainString}' AS DOUBLE)")
    def lagv(i: Int) = if (i == 0) "v" else s"lag(v, $i) OVER w"
    val terms = wts.zipWithIndex.map { case (wt, i) =>
      s"CASE WHEN ${lagv(i)} IS NOT NULL THEN ${lagv(i)} * $wt " +
        "ELSE CAST(0.0 AS DOUBLE) END" }
    val dens = wts.zipWithIndex.map { case (wt, i) =>
      s"CASE WHEN ${lagv(i)} IS NOT NULL THEN $wt " +
        "ELSE CAST(0.0 AS DOUBLE) END" }
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id, "value" AS v FROM events
       |)
       |SELECT user_id, event_id,
       |  round((${terms.mkString("\n    + ")})
       |      / (${dens.mkString("\n    + ")}), 6) AS ewma
       |FROM ev
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |ORDER BY user_id, event_id""".stripMargin
  }

  private def tsEwma(s: SparkSession, dir: String): DataFrame =
    ewma(graft.Tables(s, dir, "events"), "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  private val DES_H = 3 // forecast horizon (steps ahead)

  /** Double-exponential-smoothing forecast (Brown's linear method): the
    * trend-aware sibling of ts_ewma. S1 smooths the series, S2 smooths
    * S1 with the SAME truncated kernel; level = 2·S1 − S2 and trend =
    * α/(1−α)·(S1 − S2) reconstruct the local linear state, and the
    * h-step forecast is level + h·trend — the per-series short-horizon
    * baseline a capacity planner or anomaly budget runs fleet-wide.
    *
    * Plan: BOTH smoothing passes are fixed-depth lag compositions over
    * one keyed window — same partitioning, same order — so Catalyst
    * plans ONE exchange + ONE sort and stacks the two Window operators
    * on top (plan-pinned in TimeSeriesSpec). No per-key scan, no
    * imperative state; at 100 TB this is a single shuffle on the series
    * key, embarrassingly parallel across series.
    *
    * Determinism: S1 is quantized at 1e-6 (the r6 midpoint-safe
    * spelling) BEFORE feeding S2, so the second kernel consumes
    * identical doubles in both engines; the kernel weights and the
    * trend coefficient α/(1−α) are computed ONCE driver-side and
    * embedded as exact decimal literals in the plan and the oracle. */
  /** The truncated-renormalized smoothing kernel as a Column over window
    * `w` — shared by desForecast and holtWinters (factored r16). */
  private def boundedKernel(w: org.apache.spark.sql.expressions.WindowSpec,
      weights: Seq[Double], src: String): Column = {
    val lagged = weights.indices.map(i =>
      if (i == 0) col(src) else lag(col(src), i).over(w))
    val num = lagged.zip(weights).map { case (l, wt) =>
      when(l.isNotNull, l * lit(wt)).otherwise(lit(0.0d)) }.reduce(_ + _)
    val den = lagged.zip(weights).map { case (l, wt) =>
      when(l.isNotNull, lit(wt)).otherwise(lit(0.0d)) }.reduce(_ + _)
    r6(num / den)
  }

  def desForecast(d: DataFrame, key: String, ts: String, ord: String,
                  value: String, n: Int = EW, alpha: Double = EALPHA,
                  horizon: Int = DES_H): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
    val weights = ewmaWeights(n, alpha)
    def smooth(src: String): Column = boundedKernel(w, weights, src)
    val coef = alpha / (1.0 - alpha)
    val level = lit(2.0d) * col("s1") - col("s2")
    val trend = lit(coef) * (col("s1") - col("s2"))
    val fcs = (1 to horizon).map(h =>
      r6(level + lit(h.toDouble) * trend).as(s"fc$h"))
    d.select(col(key), col(ts), col(ord), col(value))
      .withColumn("s1", smooth(value))
      .withColumn("s2", smooth("s1"))
      .select(Seq(col(key), col(ord), col("s1"), col("s2")) ++ fcs: _*)
  }

  /** The ts_des_forecast oracle: the ewma kernel SQL applied twice (the
    * second pass windows over the FIRST CTE's rounded s1), then the same
    * level/trend/forecast doubles with the identical literal spelling. */
  private def dlit(x: Double) =
    s"CAST('${new java.math.BigDecimal(x).toPlainString}' AS DOUBLE)"

  /** The truncated-renormalized kernel in SQL — shared by the des and
    * holt-winters oracles (factored r16; identical literal doubles). */
  private def kernelSqlOf(n: Int, alpha: Double)(
      v: String, win: String): String = {
    val wts = ewmaWeights(n, alpha).map(dlit)
    def r6s(x: String) = s"CAST(floor(($x) * 1e6 + 0.5) AS DOUBLE) / 1e6"
    def lagv(i: Int) = if (i == 0) v else s"lag($v, $i) OVER $win"
    val terms = wts.zipWithIndex.map { case (wt, i) =>
      s"CASE WHEN ${lagv(i)} IS NOT NULL THEN ${lagv(i)} * $wt " +
        "ELSE CAST(0.0 AS DOUBLE) END" }
    val dens = wts.zipWithIndex.map { case (wt, i) =>
      s"CASE WHEN ${lagv(i)} IS NOT NULL THEN $wt " +
        "ELSE CAST(0.0 AS DOUBLE) END" }
    r6s(s"(${terms.mkString("\n    + ")})\n    / (${dens.mkString("\n    + ")})")
  }

  private def desOracleSql(n: Int, alpha: Double, horizon: Int): String = {
    def r6s(x: String) = s"CAST(floor(($x) * 1e6 + 0.5) AS DOUBLE) / 1e6"
    val kernel = kernelSqlOf(n, alpha) _
    val coef = dlit(alpha / (1.0 - alpha))
    val fcs = (1 to horizon).map(h =>
      s"${r6s(s"(2.0 * s1 - s2) + $h.0 * ($coef * (s1 - s2))")} AS fc$h")
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id, "value" AS v FROM events
       |), p1 AS (
       |  SELECT user_id, ts, event_id, ${kernel("v", "w")} AS s1
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), p2 AS (
       |  SELECT user_id, event_id, s1, ${kernel("s1", "w")} AS s2
       |  FROM p1
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |)
       |SELECT user_id, event_id, s1, s2,
       |  ${fcs.mkString(",\n  ")}
       |FROM p2 ORDER BY user_id, event_id""".stripMargin
  }

  private def tsDesForecast(s: SparkSession, dir: String): DataFrame =
    desForecast(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  private val HW_H = 3 // holt-winters forecast horizon (steps ahead)

  /** Bounded additive HOLT-WINTERS forecast — the SEASONAL member the
    * ewma → des ladder was missing: des extrapolates level + trend but
    * flattens every daily cycle into lag; here the per-(series, phase)
    * seasonal index (hour-of-day, the ts_seasonal_decompose component —
    * same centered-window trend, same exact dq quantization, aggregated
    * per phase instead of windowed back) is SUBTRACTED before the two
    * Brown smoothing passes and RE-ADDED at the forecast phase:
    * fc_h = level + h·trend + s[(hod + h) mod 24]. On a
    * level + pure-daily-pattern series this forecasts the next values
    * EXACTLY while des alone cannot (spec-pinned).
    *
    * Plan: the seasonal table is (series × 24)-sized — series-keyed, so
    * it joins back by KEY SHUFFLE, never broadcast (series count tracks
    * the corpus); folded to a per-key 24-slot map first so
    * deseasonalize + all `horizon` forecast lookups are ONE join and
    * per-row element_at's, not 1 + horizon joins. The smoothing passes
    * are the des fixed-depth lag composition over one keyed window.
    * Phase advance assumes the series' native hourly cadence (the
    * resample operators exist to grid irregular series first).
    *
    * Determinism: the seasonal index is (exact BIGINT dq sum / count) /
    * 1e6 — identical doubles both engines; vd is r6-quantized before
    * the first kernel (the des s1→s2 discipline); kernel weights and
    * the trend coefficient are the same embedded literal doubles. */
  def holtWinters(d: DataFrame, key: String, ts: String, ord: String,
      value: String, width: Int = SEAS_W, n: Int = EW,
      alpha: Double = EALPHA, horizon: Int = HW_H): DataFrame = {
    val half = width / 2
    val wT = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
      .rowsBetween(-half, half - 1)
    val vdec = col(value).cast(org.apache.spark.sql.types.DecimalType(15, 2))
    val interior = d.select(col(key), col(ts), col(ord), col(value))
      .withColumn("cnt", count(lit(1)).over(wT))
      .withColumn("trend0", sum(vdec).over(wT).cast("double") / col("cnt"))
      .filter(col("cnt") === width)
      .withColumn("hod", hour(col(ts)))
      .withColumn("dq",
        floor((col(value) - col("trend0")) * lit(1e6) + lit(0.5d))
          .cast("long"))
    val seasMap = interior
      .groupBy(col(key).as("__sk"), col("hod").as("__sh"))
      .agg((sum(col("dq")).cast("double") / count(lit(1)) / lit(1e6))
        .as("seasonal"))
      .groupBy(col("__sk"))
      .agg(map_from_entries(
        collect_list(struct(col("__sh"), col("seasonal")))).as("smap"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
    val weights = ewmaWeights(n, alpha)
    val coef = alpha / (1.0 - alpha)
    def seasAt(phase: Column): Column =
      coalesce(element_at(col("smap"), phase), lit(0.0d))
    val level = lit(2.0d) * col("s1") - col("s2")
    val trend = lit(coef) * (col("s1") - col("s2"))
    val fcs = (1 to horizon).map(h =>
      r6(level + lit(h.toDouble) * trend
        + seasAt(pmod(col("hod") + h, lit(24)))).as(s"fc$h"))
    d.select(col(key), col(ts), col(ord), col(value))
      .join(seasMap, col(key) === col("__sk"), "left")
      .withColumn("hod", hour(col(ts)))
      .withColumn("vd", r6(col(value) - seasAt(col("hod"))))
      .withColumn("s1", boundedKernel(w, weights, "vd"))
      .withColumn("s2", boundedKernel(w, weights, "s1"))
      .select(Seq(col(key), col(ord),
        r6(level).as("level"), r6(trend).as("trend")) ++ fcs: _*)
  }

  private def tsHoltWinters(s: SparkSession, dir: String): DataFrame =
    holtWinters(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  /** Rolling-origin one-step-ahead backtest of the EWMA forecaster
    * against the naive last-value baseline — the honesty check every
    * fleet-wide forecaster needs before anyone consumes its numbers
    * (ts_ewma/ts_des_forecast SAY what the smoother predicts; this says
    * whether it beats persistence on THIS corpus). At every step t the
    * forecast is the PREVIOUS row's smoothed value (strictly
    * out-of-sample — nothing at time t leaks into its own forecast);
    * per series: MAE of the smoother, MAE of the naive lag, and the
    * skill score 1 − MAE_f/MAE_n (positive = the smoother earns its
    * keep; NULL when the naive MAE is 0 — a constant series makes the
    * ratio meaningless, not infinite).
    *
    * Plan: the ewma kernel's ONE keyed window lineage plus two more lag
    * columns over the SAME window spec (no extra exchange or sort), then
    * a per-key hash aggregate — shuffle on the series key once, the
    * ts_ewma scale shape exactly. Determinism: per-row errors are
    * 6 dp-quantized, means are exact decimal sums / counts, the skill
    * ratio runs once per series row in IEEE doubles both engines. */
  def forecastBacktest(d: DataFrame, key: String, ts: String, ord: String,
      value: String, n: Int = EW, alpha: Double = EALPHA): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
    val weights = ewmaWeights(n, alpha)
    val lagged = (0 until n).map(i =>
      if (i == 0) col(value) else lag(col(value), i).over(w))
    val num = lagged.zip(weights).map { case (l, wt) =>
      when(l.isNotNull, l * lit(wt)).otherwise(lit(0.0d)) }.reduce(_ + _)
    val den = lagged.zip(weights).map { case (l, wt) =>
      when(l.isNotNull, lit(wt)).otherwise(lit(0.0d)) }.reduce(_ + _)
    val scored = d.select(col(key), col(ts), col(ord), col(value))
      .withColumn("ew", round(num / den, 6))
      .withColumn("fc", lag(col("ew"), 1).over(w))
      .withColumn("nv", lag(col(value), 1).over(w))
      .filter(col("fc").isNotNull && col("nv").isNotNull)
      .select(col(key),
        r6(abs(col(value) - col("fc"))).as("e_f"),
        r6(abs(col(value) - col("nv"))).as("e_n"))
    val agg = scored.groupBy(col(key))
      .agg(count(lit(1)).as("n_steps"),
        Exact.avgD(col("e_f")).as("mf"),
        Exact.avgD(col("e_n")).as("mn"))
    agg.select(col(key), col("n_steps"),
      r6(col("mf")).as("mae_ewma"), r6(col("mn")).as("mae_naive"),
      when(col("mn") > 0.0d, r6(lit(1.0d) - col("mf") / col("mn")))
        .otherwise(lit(null).cast("double")).as("skill"))
  }

  private def tsBacktestQ(s: SparkSession, dir: String): DataFrame =
    forecastBacktest(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"))

  /** The ts_forecast_backtest oracle: the ewma kernel SQL (same literal
    * weights), one extra lag for the out-of-sample shift, the naive lag,
    * 6 dp errors, exact-decimal means, the identical skill spelling. */
  private def backtestOracleSql(n: Int, alpha: Double): String = {
    val wts = ewmaWeights(n, alpha).map(wt =>
      s"CAST('${new java.math.BigDecimal(wt).toPlainString}' AS DOUBLE)")
    def r6s(x: String) = s"CAST(floor(($x) * 1e6 + 0.5) AS DOUBLE) / 1e6"
    def lagv(i: Int) = if (i == 0) "v" else s"lag(v, $i) OVER w"
    val terms = wts.zipWithIndex.map { case (wt, i) =>
      s"CASE WHEN ${lagv(i)} IS NOT NULL THEN ${lagv(i)} * $wt " +
        "ELSE CAST(0.0 AS DOUBLE) END" }
    val dens = wts.zipWithIndex.map { case (wt, i) =>
      s"CASE WHEN ${lagv(i)} IS NOT NULL THEN $wt " +
        "ELSE CAST(0.0 AS DOUBLE) END" }
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id, "value" AS v FROM events
       |), sm AS (
       |  SELECT user_id, ts, event_id, v,
       |    round((${terms.mkString("\n    + ")})
       |      / (${dens.mkString("\n    + ")}), 6) AS ew
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), st AS (
       |  SELECT user_id, v,
       |    lag(ew, 1) OVER w AS fc, lag(v, 1) OVER w AS nv
       |  FROM sm
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), er AS (
       |  SELECT user_id, ${r6s("abs(v - fc)")} AS e_f,
       |    ${r6s("abs(v - nv)")} AS e_n
       |  FROM st WHERE fc IS NOT NULL AND nv IS NOT NULL
       |), ag AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_steps,
       |    ${Exact.avgSql("e_f")} AS mf, ${Exact.avgSql("e_n")} AS mn
       |  FROM er GROUP BY 1
       |)
       |SELECT user_id, n_steps, ${r6s("mf")} AS mae_ewma,
       |  ${r6s("mn")} AS mae_naive,
       |  CASE WHEN mn > 0.0 THEN ${r6s("1.0 - mf / mn")}
       |    ELSE NULL END AS skill
       |FROM ag ORDER BY user_id""".stripMargin
  }

  private val ACF_LAGS = 3

  /** Per-series lag-k autocorrelation (the ACF head) — the seasonality /
    * memory diagnostic a feature pipeline computes before choosing lag
    * features or detecting drift: Pearson correlation between the series
    * and its k-shifted self over the rows where both sides exist, for
    * k = 1..`maxLag`.
    *
    * Plan: ONE keyed window produces all `maxLag` shifted columns, a
    * narrow explode unpivots (k, x, y) pairs, and a hash aggregate per
    * (key, k) folds the five Pearson moments — shuffle on the series key
    * once, then on (key, k) for the metadata-sized aggregate.
    *
    * Determinism: the moments are exact decimal sums (DECIMAL(15,2) and
    * its exact products), each cast to double while its raw integer is
    * still < 2^53 (exact conversion — with 2-decimal data that bounds
    * per-series Σx·y < 9e11, far above any per-series operating window);
    * the Pearson combination then runs in IEEE doubles in the same
    * written order in both engines, and sqrt makes midpoint round ties
    * measure-zero. Degenerate (constant) sides yield NULL, not a
    * division by zero. */
  def autocorr(d: DataFrame, key: String, ts: String, ord: String,
               value: String, maxLag: Int = ACF_LAGS): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
    val dec2 = org.apache.spark.sql.types.DecimalType(15, 2)
    val lagged = d.select(col(key), col(ts), col(ord), col(value))
      .select(col(key) +: col(value).as("x") +:
        (1 to maxLag).map(k => lag(col(value), k).over(w).as(s"l$k")): _*)
    val pairs = lagged.select(col(key), explode(array((1 to maxLag).map(k =>
        struct(lit(k).as("k"), col("x"), col(s"l$k").as("y"))): _*)).as("p"))
      .select(col(key), col("p.k").as("k"), col("p.x").as("x"),
        col("p.y").as("y"))
      .filter(col("y").isNotNull)
    val (xd, yd) = (col("x").cast(dec2), col("y").cast(dec2))
    val m = pairs.groupBy(col(key), col("k")).agg(
      count(lit(1)).as("n"),
      sum(xd).cast("double").as("sx"),
      sum(yd).cast("double").as("sy"),
      sum(xd * yd).cast("double").as("sxy"),
      sum(xd * xd).cast("double").as("sx2"),
      sum(yd * yd).cast("double").as("sy2"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = sqrt(col("n") * col("sx2") - col("sx") * col("sx")) *
      sqrt(col("n") * col("sy2") - col("sy") * col("sy"))
    m.select(col(key), col("k"),
      when(den > 0.0d, round(num / den, 6)).as("acf"))
  }

  private def tsAutocorr(s: SparkSession, dir: String): DataFrame =
    autocorr(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("k"))

  private val XC_LAGS = 3

  /** Lagged cross-correlation between two metric series (does series X
    * lead series Y by k buckets?) — the lead/lag diagnostic behind
    * leading-indicator discovery and causal-ordering hypotheses: Pearson
    * correlation between X(h) and Y(h + k) for k = 0..`maxLag`, both
    * series being hourly decimal-exact aggregates of the event stream.
    *
    * Shape: ONE corpus shuffle to the (hour, series) aggregate — the
    * bucket space, not the corpus — then per-lag equi-joins on the
    * SHIFTED hour key over that tiny frame (a join per lag, never a
    * cross product; missing buckets pair with nothing rather than
    * polluting the lag alignment the way a row-offset window would on
    * gappy series).
    *
    * Determinism: hourly sums are exact DECIMAL(30,6), quantized to
    * DECIMAL(15,2) (ties away from zero in both engines) so the five
    * Pearson moments accumulate as exact decimals with in-range
    * products; the IEEE combination runs once per lag in autocorr's
    * exact spelling. Degenerate (constant) sides yield NULL. */
  def crossCorr(d: DataFrame, ts: String, series: Column, value: Column,
                seriesX: String, seriesY: String,
                maxLag: Int = XC_LAGS): DataFrame = {
    val dec2 = org.apache.spark.sql.types.DecimalType(15, 2)
    val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
    val hourly = d.filter(series.isin(seriesX, seriesY))
      .groupBy(date_trunc("hour", col(ts)).as("h"), series.as("tp"))
      .agg(sum(value.cast(dec6)).cast(dec2).as("v"))
    val xs = hourly.filter(col("tp") === seriesX)
      .select(col("h"), col("v").as("x"))
    val ys = hourly.filter(col("tp") === seriesY)
      .select(col("h").as("hy"), col("v").as("y"))
    val pairs = (0 to maxLag).map { k =>
      xs.join(ys, col("hy") === col("h") + expr(s"INTERVAL '$k' HOUR"))
        .select(lit(k).as("k"), col("x"), col("y"))
    }.reduce(_ unionByName _)
    val m = pairs.groupBy(col("k")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("y")).cast("double").as("sxy"),
      sum(col("x") * col("x")).cast("double").as("sx2"),
      sum(col("y") * col("y")).cast("double").as("sy2"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = sqrt(col("n") * col("sx2") - col("sx") * col("sx")) *
      sqrt(col("n") * col("sy2") - col("sy") * col("sy"))
    m.select(col("k"), col("n").as("n_pairs"),
      when(den > 0.0d, round(num / den, 6)).as("xcorr"))
  }

  private def tsCrossCorr(s: SparkSession, dir: String): DataFrame =
    crossCorr(graft.Tables(s, dir, "events"), "ts",
        col("event_type"), col("value"), "click", "purchase")
      .orderBy(col("k"))

  private val DP_MAXLAG = 26 // enough to see the corpus's 24h season
  private val DP_MINLAG = 2  // lag 1 is smoothness, not seasonality

  /** Dominant period per metric series: the lag in [DP_MINLAG, maxLag]
    * with the highest autocorrelation of the hourly aggregate — the
    * season detector a forecasting pipeline runs before choosing model
    * seasonality (hourly corpus + maxLag 26 ⇒ a daily cycle reads 24).
    * Lag 1 is excluded: adjacent-bucket correlation measures smoothness,
    * not periodicity.
    *
    * Plan: one corpus shuffle to the (series, hour) decimal aggregate,
    * then the WHOLE ACF head in one keyed window over that bucket-count
    * frame (autocorr's lag-composition machinery), and an argmax window
    * over the (series, lag)-sized ACF table. Determinism: autocorr's
    * exact-decimal moments; argmax ties break toward the SHORTER lag. */
  private def tsDominantPeriod(s: SparkSession, dir: String): DataFrame =
    dominantPeriod(graft.Tables(s, dir, "events"),
        "event_type", "ts", "value", DP_MAXLAG, DP_MINLAG)
      .orderBy(col("event_type"))

  /** PUBLIC core over any (series, ts, value)-shaped frame — see
    * tsDominantPeriod. */
  def dominantPeriod(d: DataFrame, series: String, ts: String,
                     value: String, maxLag: Int = DP_MAXLAG,
                     minLag: Int = DP_MINLAG): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(30, 6)
    val dec2 = org.apache.spark.sql.types.DecimalType(15, 2)
    val hourly = d
      .groupBy(col(series), date_trunc("hour", col(ts)).as("h"))
      .agg(sum(col(value).cast(dec6)).cast(dec2).as("v"))
      .withColumn("hid", col("h"))
    val acf = autocorr(hourly, series, "h", "hid", "v", maxLag)
      .filter(col("acf").isNotNull && col("k") >= minLag)
    val w = Window.partitionBy(col(series))
      .orderBy(col("acf").desc, col("k").asc)
    acf.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col(series), col("k").as("period"), col("acf"))
  }

  private val CPK = 12       // changepoint window: k rows each side
  private val CPTHRESH = 3.0d

  /** Mean-shift changepoint score — the drift detector a monitoring
    * pipeline runs over metric streams: each point scores the separation
    * between the trailing-`k` window (strictly before it) and the
    * leading-`k` window (it and after), |mean_after - mean_before| over
    * the pooled std; points above `thresh` flag as changepoints. Only
    * positions with BOTH windows full emit (a shift needs evidence on
    * each side). This is the two-sample window test that approximates
    * CUSUM without its sequential recurrence — the recurrence would force
    * a per-key ordered scan, while this form is ONE keyed window lineage:
    * a single shuffle on the series key at any scale, both frames served
    * by the same sort.
    *
    * Determinism: both windows' first/second moments are exact decimal
    * sums (same DECIMAL(15,`scale`) discipline as [[anomalyZscore]] —
    * the cast to double happens on exact integers < 2^53), and the score
    * combines them in IEEE doubles in identical written order in both
    * engines; the pooled variance is epsilon-regularized (+1e-9) so a
    * zero-variance boundary — the cleanest possible shift — scores
    * enormous instead of dividing by zero. */
  def changepoint(d: DataFrame, key: String, ts: String, ord: String,
                  value: String, k: Int = CPK, thresh: Double = CPTHRESH,
                  scale: Int = 2): DataFrame = {
    val ob = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
    val wp = ob.rowsBetween(-k, -1)
    val wn = ob.rowsBetween(Window.currentRow, k - 1)
    val vd = col(value).cast(org.apache.spark.sql.types.DecimalType(15, scale))
    val scored = d.select(col(key), col(ts), col(ord), col(value))
      .withColumn("cp", count(lit(1)).over(wp))
      .withColumn("sp", sum(vd).over(wp).cast("double"))
      .withColumn("sp2", sum(vd * vd).over(wp).cast("double"))
      .withColumn("cn", count(lit(1)).over(wn))
      .withColumn("sn", sum(vd).over(wn).cast("double"))
      .withColumn("sn2", sum(vd * vd).over(wn).cast("double"))
      .filter(col("cp") === k && col("cn") === k)
      .withColumn("mp", col("sp") / k).withColumn("mn", col("sn") / k)
      .withColumn("vp", col("sp2") / k - col("mp") * col("mp"))
      .withColumn("vn", col("sn2") / k - col("mn") * col("mn"))
      // epsilon-REGULARIZED denominator, not a zero-variance guard: the
      // cleanest possible changepoint (flat level to flat level) has ZERO
      // within-window variance exactly at the boundary, and a guard that
      // returns 0 there would blind the detector to its clearest case;
      // the epsilon keeps the score finite (and enormous) instead
      .withColumn("pooled", (col("vp") + col("vn")) / 2.0d)
      .withColumn("score",
        abs(col("mn") - col("mp")) / sqrt(col("pooled") + lit(1e-9)))
    scored.select(col(key), col(ord), r6(col("score")).as("shift_z"),
      when(col("score") > thresh, 1L).otherwise(0L).as("is_cp"))
  }

  private def tsChangepoint(s: SparkSession, dir: String): DataFrame =
    changepoint(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  private val SEAS_W = 24 // centered trend window = one daily period

  /** Classical seasonal decomposition (the moving-average STL ancestor):
    * value = trend + seasonal + remainder, with trend a centered
    * `width`-row moving average, seasonal the per-(key, hour-of-day) mean
    * of the detrended series, remainder the rest. The feature/forecast
    * pipeline runs this to separate level shifts from daily shape before
    * modeling either.
    *
    * Plan: the trend is ONE keyed window (single sort on the series
    * key); rows without a full centered window drop (no trend estimate
    * at the edges); the seasonal mean is a second window partitioned by
    * (key, hour) — two shuffles total, no joins, output row-per-scored-
    * event. At 100 TB both shuffles are on the series key (the second
    * refines it), so co-partitioning holds.
    *
    * Determinism: the trend mean comes from an exact decimal sum; the
    * detrended value is then round-half-up QUANTIZED to 1e-6 as a LONG
    * (floor(x·1e6+0.5) — identical IEEE ops in both engines, exact at
    * any magnitude the decimal data can reach), so the seasonal mean is
    * an exact integer sum divided once — partitioning and evaluation
    * order cannot show through in either engine. */
  def seasonalDecompose(d: DataFrame, key: String, ts: String, ord: String,
                        value: String, width: Int = SEAS_W): DataFrame = {
    val half = width / 2
    val wT = Window.partitionBy(col(key)).orderBy(col(ts), col(ord))
      .rowsBetween(-half, half - 1)
    val vd = col(value).cast(org.apache.spark.sql.types.DecimalType(15, 2))
    val trended = d.select(col(key), col(ts), col(ord), col(value))
      .withColumn("cnt", count(lit(1)).over(wT))
      .withColumn("trend", sum(vd).over(wT).cast("double") / col("cnt"))
      .filter(col("cnt") === width)
      .withColumn("hod", hour(col(ts)))
      .withColumn("dq",
        floor((col(value) - col("trend")) * lit(1e6) + lit(0.5d)).cast("long"))
    val wS = Window.partitionBy(col(key), col("hod"))
    val seasoned = trended
      .withColumn("seasonal",
        (sum(col("dq")).over(wS).cast("double") /
          count(lit(1)).over(wS)) / lit(1e6))
    seasoned.select(col(key), col(ord), r6(col("trend")).as("trend"),
      r6(col("seasonal")).as("seasonal"),
      r6(col(value) - col("trend") - col("seasonal")).as("remainder"))
  }

  private def tsSeasonalDecompose(s: SparkSession, dir: String): DataFrame =
    seasonalDecompose(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .orderBy(col("user_id"), col("event_id"))

  private val TS_W = 40 // Theil-Sen sample: first W observations per key

  /** Theil-Sen robust trend slope per series: the median of all pairwise
    * slopes over the series' first `TS_W` observations — the
    * breakdown-resistant trend estimate (up to ~29% outliers) a
    * monitoring pipeline prefers over OLS. The pairwise set is BOUNDED
    * (W·(W-1)/2 per key, a constant) by sampling the series head with a
    * keyed row_number, so the self-join fan-out is capped regardless of
    * series length — the standard scale trick for superlinear per-key
    * kernels. Median = average of the (⌈n/2⌉, ⌈(n+1)/2⌉) order
    * statistics under a deterministic (slope, i, j) order; slopes are
    * single IEEE divisions of exact (double-diff, integer-µs) inputs, so
    * both engines sort identical values. Zero-dt pairs (timestamp ties)
    * are excluded in both engines. */
  def theilSen(df: DataFrame, key: String, ts: String, ord: String,
               value: String, w: Int = TS_W): DataFrame = {
    // r16 rework (optimization round): the former dataflow materialized
    // the W²/2-per-key pair frame (≥1M rows at sf0.1), self-joined and
    // ran TWO windows over it (rank + count) before a final aggregate.
    // The per-key state is BOUNDED by construction (≤ W observations,
    // ≤ W·(W−1)/2 slopes), so the whole estimator runs as ONE
    // sorted-partition streaming kernel: shuffle the pruned columns by
    // key, sort within partitions by (key, ts, ord) — the exact order the
    // old row_number window established — and compute head selection,
    // pairwise slopes and the median order statistics per key in a scalar
    // loop (the minhash/gear-CDC typed-kernel discipline). Arithmetic is
    // bit-identical: slopes are the same single IEEE divisions, the sort
    // uses the engine's double total order (== first, then
    // Double.compare), the median picks the identical (⌈n/2⌉, ⌈(n+1)/2⌉)
    // order statistics under (slope, i, j), and avg-of-two is one
    // commutative double add + halve, floor-rounded 6 dp like r6.
    val pruned = df.select(col(key).as("__k"), col(ts).as("__ts"),
        col(ord).as("__o"), unix_micros(col(ts)).as("tus"),
        col(value).cast("double").as("v"))
      .repartition(col("__k"))
      .sortWithinPartitions(col("__k"), col("__ts"), col("__o"))
    def cmpD(x: Double, y: Double): Int =
      if (x == y) 0 else java.lang.Double.compare(x, y)
    val keyType = df.schema(key).dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(key, keyType, nullable = true),
      org.apache.spark.sql.types.StructField("n_pairs",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ts_slope",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    pruned.mapPartitions { it =>
      new Iterator[org.apache.spark.sql.Row] {
        private var pending: org.apache.spark.sql.Row = _
        // one key's head sample → its median-slope row, or None when a
        // key has no valid (dt > 0) pair; loops to the next key in that
        // case (no recursion — an adversarial run of pair-less keys must
        // not grow the stack)
        private def computeKey(): Option[org.apache.spark.sql.Row] = {
          while (it.hasNext || pending != null) {
            val first = if (pending != null) pending else it.next()
            pending = null
            val k = first.get(0)
            val tuss = new Array[Long](w)
            val vs = new Array[Double](w)
            val ok = new Array[Boolean](w) // null ts/value: head slot, no pair
            var n = 0
            var cur = first
            var more = true
            while (more) {
              if (n < w) {
                ok(n) = !cur.isNullAt(3) && !cur.isNullAt(4)
                if (ok(n)) { tuss(n) = cur.getLong(3); vs(n) = cur.getDouble(4) }
                n += 1
              }
              if (it.hasNext) {
                cur = it.next()
                if (!java.util.Objects.equals(cur.get(0), k)) {
                  pending = cur; more = false
                }
              } else more = false
            }
            // pairwise slopes over the head, zero-dt pairs excluded
            val slopes =
              scala.collection.mutable.ArrayBuffer.empty[(Double, Int, Int)]
            var i = 0
            while (i < n) {
              var j = i + 1
              while (j < n) {
                if (ok(i) && ok(j) && tuss(j) > tuss(i))
                  slopes += (((vs(j) - vs(i)) /
                    ((tuss(j) - tuss(i)).toDouble / 1e6), i + 1, j + 1))
                j += 1
              }
              i += 1
            }
            val np = slopes.length
            if (np > 0) {
              val sorted = slopes.sortWith { (a, b) =>
                val c = cmpD(a._1, b._1)
                c < 0 || (c == 0 && (a._2 < b._2 ||
                  (a._2 == b._2 && a._3 < b._3)))
              }
              val s1 = sorted((np + 1) / 2 - 1)._1
              val s2 = sorted((np + 2) / 2 - 1)._1
              val av = if (np % 2 == 1) s1 else (s1 + s2) / 2.0
              return Some(org.apache.spark.sql.Row(k, np.toLong,
                math.floor(av * 1e6 + 0.5) / 1e6))
            }
          }
          None
        }
        private var nextRow: Option[org.apache.spark.sql.Row] = None
        private var primed = false
        override def hasNext: Boolean = {
          if (!primed) { nextRow = computeKey(); primed = true }
          nextRow.isDefined
        }
        override def next(): org.apache.spark.sql.Row = {
          if (!hasNext) throw new NoSuchElementException
          val r = nextRow.get; primed = false; r
        }
      }
    }(Encoders.row(schema))
  }

  private def tsTheilSen(s: SparkSession, dir: String): DataFrame =
    theilSen(graft.Tables(s, dir, "events"),
        "user_id", "ts", "event_id", "value", TS_W)
      .orderBy(col("user_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_theil_sen" -> tsTheilSen,
    "ts_subseq_topk" -> tsSubseqTopk,
    "ts_resample_ffill" -> tsResampleFfill,
    "ts_resample_aligned" -> tsResampleAligned,
    "ts_lag_features" -> tsLagFeatures,
    "ts_anomaly_zscore" -> tsAnomalyZscore,
    "ts_anomaly_mad" -> tsAnomalyMad,
    "ts_interp_linear" -> tsInterpLinear,
    "ts_ewma" -> tsEwma,
    "ts_forecast_backtest" -> tsBacktestQ,
    "ts_des_forecast" -> tsDesForecast,
    "ts_holt_winters" -> tsHoltWinters,
    "ts_autocorr" -> tsAutocorr,
    "ts_cross_corr" -> tsCrossCorr,
    "ts_dominant_period" -> tsDominantPeriod,
    "ts_changepoint" -> tsChangepoint,
    "ts_seasonal_decompose" -> tsSeasonalDecompose,
  )

  /** The resample and interpolation oracles' observations: `ev` is the
    * events' value series, and `obs(user_id, h, v)` keeps each (user,
    * hour)'s last event by (ts, event_id). */
  private val hourlyObsCtes =
    """ev AS (
      |  SELECT user_id, ts, event_id, "value" AS v FROM events
      |), obs AS (
      |  SELECT user_id, h, v FROM (
      |    SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, v,
      |      row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
      |        ORDER BY ts DESC, event_id DESC) AS rk
      |    FROM ev) WHERE rk = 1
      |)""".stripMargin

  // the resample oracles' output: each (user, hour) of `grid` filled
  // forward from `obs`, ignoring nulls
  private val filledGridSql =
    """SELECT g.user_id, g.h AS hour,
      |  last_value(o.v IGNORE NULLS) OVER (PARTITION BY g.user_id
      |    ORDER BY g.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS filled,
      |  CAST(CASE WHEN o.v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_obs
      |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
      |ORDER BY g.user_id, hour""".stripMargin

  /** Shared oracle substrate: every trailing M-window scored against the
    * z-normalized pattern (same folds, same order) — the batch top-k and
    * the streaming threshold-match oracles both SELECT from `scored`. */
  private[graft] val scoredSql: String = {
    def foldSql(l: String) = s"list_reduce($l, (acc,x) -> acc+x)"
    def znormSql(v: String) =
      s"list_transform($v, x -> (x - ${foldSql(v)}/$M.0) / " +
        s"sqrt(${foldSql(s"list_transform($v, x -> x*x)")}/$M.0 - " +
        s"(${foldSql(v)}/$M.0)*(${foldSql(v)}/$M.0)))"
    s"""ev AS (
       |  SELECT event_id, user_id, ts, "value" AS v FROM events
       |), pat AS (
       |  SELECT (list(v ORDER BY ts, event_id))[1:$M] AS pv
       |  FROM ev WHERE user_id = 1
       |), patz AS (SELECT ${znormSql("pv")} AS pz FROM pat),
       |subs AS (
       |  SELECT user_id, event_id AS end_event_id,
       |    list(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN ${M - 1} PRECEDING AND CURRENT ROW) AS win
       |  FROM ev
       |), full_subs AS (
       |  SELECT user_id, end_event_id, win FROM subs WHERE len(win) = $M
       |), varf AS (
       |  SELECT user_id, end_event_id, win FROM full_subs
       |  WHERE ${foldSql("list_transform(win, x -> x*x)")}/$M.0 -
       |    (${foldSql("win")}/$M.0)*(${foldSql("win")}/$M.0) > 1e-12
       |), scored AS (
       |  SELECT user_id, end_event_id,
       |    round(${foldSql(
            s"list_transform(generate_series(1, $M), i -> " +
              s"(wz[i]-pz[i])*(wz[i]-pz[i]))")}, 6) AS dist
       |  FROM (SELECT user_id, end_event_id, ${znormSql("win")} AS wz
       |        FROM varf) CROSS JOIN patz
       |)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // identical pairwise-slope set (head sample, zero-dt excluded),
    // identical (slope, i, j) median order, avg of the middle one/two
    "ts_theil_sen" ->
      s"""WITH head AS (
         |  SELECT user_id, rn, tus, v FROM (
         |    SELECT user_id, epoch_us(ts) AS tus, "value" AS v,
         |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |        AS rn
         |    FROM events
         |  ) WHERE rn <= $TS_W
         |), pairs AS (
         |  SELECT a.user_id, a.rn AS ra, b.rn AS rb,
         |    (b.v - a.v) / (CAST(b.tus - a.tus AS DOUBLE) / 1e6) AS slope
         |  FROM head a JOIN head b
         |    ON a.user_id = b.user_id AND a.rn < b.rn AND b.tus > a.tus
         |), rk AS (
         |  SELECT user_id, slope,
         |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slope, ra, rb)
         |      AS rk,
         |    COUNT(*) OVER (PARTITION BY user_id) AS np
         |  FROM pairs
         |)
         |SELECT user_id, CAST(MAX(np) AS BIGINT) AS n_pairs,
         |  CAST(floor(AVG(slope) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS ts_slope
         |FROM rk
         |WHERE rk = (np + 1) // 2 OR rk = (np + 2) // 2
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the same trailing windows, z-norm, and in-order folds in SQL
    "ts_subseq_topk" ->
      s"""WITH $scoredSql
         |SELECT user_id, end_event_id, dist FROM scored
         |ORDER BY dist ASC, user_id ASC, end_event_id ASC LIMIT $TOPK""".stripMargin,
    // same per-key grid start, same (ts, event_id) tie order, same
    // ignore-nulls fill
    "ts_resample_ffill" ->
      s"""WITH $hourlyObsCtes, b AS (
         |  SELECT CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi FROM ev
         |), kl AS (
         |  SELECT user_id, CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo
         |  FROM ev GROUP BY 1
         |), grid AS (
         |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
         |  FROM kl, b
         |)
         |$filledGridSql""".stripMargin,
    // globally aligned grid: every key from the global start, NULL fill
    // before a key's first observation; same tie order and fill semantics
    "ts_resample_aligned" ->
      s"""WITH $hourlyObsCtes, b AS (
         |  SELECT CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
         |         CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
         |  FROM ev
         |), hours AS (
         |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b
         |), grid AS (
         |  SELECT user_id, h FROM (SELECT DISTINCT user_id FROM ev)
         |  CROSS JOIN hours
         |)
         |$filledGridSql""".stripMargin,
    // identical decimal-exact window moments: DECIMAL(15,2) and its exact
    // square summed per frame, cast to double only after the sum (raw
    // integers < 2^53 so the cast is exact in both engines)
    "ts_anomaly_zscore" ->
      s"""WITH a AS (
         |  SELECT user_id, event_id, "value" AS v,
         |    COUNT(*) OVER w AS cnt,
         |    CAST(SUM(CAST("value" AS DECIMAL(15,2))) OVER w AS DOUBLE) AS s1,
         |    CAST(SUM(CAST("value" AS DECIMAL(15,2)) *
         |             CAST("value" AS DECIMAL(15,2))) OVER w AS DOUBLE) AS s2
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN ${ZW - 1} PRECEDING AND CURRENT ROW)
         |), b AS (
         |  SELECT user_id, event_id, v, s1/cnt AS mean, s2/cnt AS ex2
         |  FROM a WHERE cnt = $ZW
         |), c AS (
         |  SELECT user_id, event_id,
         |    CASE WHEN ex2 - mean*mean > 1e-12
         |      THEN (v - mean) / sqrt(ex2 - mean*mean)
         |      ELSE CAST(0.0 AS DOUBLE) END AS zr
         |  FROM b
         |)
         |SELECT user_id, event_id, round(zr, 6) AS z,
         |  CAST(CASE WHEN abs(zr) > $ZTHRESH THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_anom
         |FROM c ORDER BY user_id, event_id""".stripMargin,
    // the same collected-window array ladder: list over the ROWS frame,
    // sorted middle element, MAD via list_transform — identical IEEE ops
    "ts_anomaly_mad" ->
      s"""WITH a AS (
         |  SELECT user_id, event_id, "value" AS v,
         |    list("value") OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS BETWEEN ${MADW - 1} PRECEDING AND CURRENT ROW) AS arr
         |  FROM events WHERE "value" IS NOT NULL
         |), b AS (
         |  SELECT user_id, event_id, v, arr,
         |    list_sort(arr)[${(MADW + 1) / 2}] AS med
         |  FROM a WHERE len(arr) = $MADW
         |), c AS (
         |  SELECT user_id, event_id, v, med,
         |    list_sort(list_transform(arr, x -> abs(x - med)))
         |      [${(MADW + 1) / 2}] AS mad
         |  FROM b
         |)
         |SELECT user_id, event_id,
         |  ${r6SqlTs("med")} AS med, ${r6SqlTs("mad")} AS mad,
         |  CAST(CASE WHEN abs(v - med) > $MADK * mad THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_anom
         |FROM c ORDER BY user_id, event_id""".stripMargin,
    // same bucket dedup / bracket windows over observations, same integer
    // microsecond lerp fraction cast to double
    "ts_interp_linear" ->
      s"""WITH $hourlyObsCtes, sp AS (
         |  SELECT user_id, h, v,
         |    lead(h) OVER wk AS next_h, lead(v) OVER wk AS next_v
         |  FROM obs WINDOW wk AS (PARTITION BY user_id ORDER BY h)
         |), g AS (
         |  SELECT user_id, h, v, next_h, next_v,
         |    unnest(generate_series(h, coalesce(next_h - INTERVAL 1 HOUR, h),
         |                           INTERVAL 1 HOUR)) AS bucket
         |  FROM sp
         |)
         |SELECT user_id, bucket AS hour,
         |  CAST(floor((CASE WHEN bucket = h THEN v
         |    ELSE v + (next_v - v) *
         |      (CAST(epoch_us(bucket) - epoch_us(h) AS DOUBLE) /
         |       CAST(epoch_us(next_h) - epoch_us(h) AS DOUBLE)) END)
         |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS interp,
         |  CAST(CASE WHEN bucket = h AND v IS NOT NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS is_obs
         |FROM g ORDER BY user_id, hour""".stripMargin,
    // the SAME driver-computed weight doubles, embedded as exact-decimal
    // strings cast to double (string→double parse recovers the bits); the
    // weighted sum folds left in both engines
    "ts_ewma" -> ewmaOracleSql(EW, EALPHA),
    "ts_forecast_backtest" -> backtestOracleSql(EW, EALPHA),
    "ts_des_forecast" -> desOracleSql(EW, EALPHA, DES_H),
    // the decompose oracle's trend/dq quantization aggregated per
    // (series, phase), subtracted pre-kernel and re-added at the
    // forecast phase — kernel + fc spellings shared with the des oracle
    "ts_holt_winters" -> {
      val kernel = kernelSqlOf(EW, EALPHA) _
      val coef = dlit(EALPHA / (1.0 - EALPHA))
      def r6s(x: String) = s"CAST(floor(($x) * 1e6 + 0.5) AS DOUBLE) / 1e6"
      val fcSel = (1 to HW_H).map { h =>
        s"""  ${r6s(s"((2.0 * s1 - s2) + $h.0 * ($coef * (s1 - s2)))" +
          s" + coalesce(sx$h.seasonal, CAST(0.0 AS DOUBLE))")} AS fc$h"""
      }.mkString(",\n")
      val fcJoin = (1 to HW_H).map { h =>
        s"LEFT JOIN si sx$h ON p2.user_id = sx$h.user_id" +
          s" AND ((p2.hod + $h) % 24) = sx$h.hod"
      }.mkString("\n")
      s"""WITH a AS (
         |  SELECT user_id, ts, event_id, "value" AS v,
         |    COUNT(*) OVER wt AS cnt,
         |    CAST(SUM(CAST("value" AS DECIMAL(15,2))) OVER wt AS DOUBLE)
         |      / COUNT(*) OVER wt AS trend0
         |  FROM events
         |  WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN ${SEAS_W / 2} PRECEDING AND ${SEAS_W / 2 - 1} FOLLOWING)
         |), b AS (
         |  SELECT user_id, hour(ts) AS hod,
         |    CAST(floor((v - trend0) * 1e6 + 0.5) AS BIGINT) AS dq
         |  FROM a WHERE cnt = $SEAS_W
         |), si AS (
         |  SELECT user_id, hod,
         |    (CAST(SUM(dq) AS DOUBLE) / COUNT(*)) / 1e6 AS seasonal
         |  FROM b GROUP BY 1, 2
         |), base AS (
         |  SELECT e.user_id, e.ts, e.event_id, hour(e.ts) AS hod,
         |    ${r6s("e.\"value\" - coalesce(si.seasonal, CAST(0.0 AS DOUBLE))")}
         |      AS vd
         |  FROM events e LEFT JOIN si
         |    ON e.user_id = si.user_id AND hour(e.ts) = si.hod
         |), p1 AS (
         |  SELECT user_id, ts, event_id, hod, ${kernel("vd", "w")} AS s1
         |  FROM base
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), p2 AS (
         |  SELECT user_id, ts, event_id, hod, s1, ${kernel("s1", "w")} AS s2
         |  FROM p1
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |)
         |SELECT p2.user_id, p2.event_id,
         |  ${r6s("2.0 * s1 - s2")} AS level,
         |  ${r6s(s"$coef * (s1 - s2)")} AS trend,
         |$fcSel
         |FROM p2
         |$fcJoin
         |ORDER BY p2.user_id, p2.event_id""".stripMargin
    },
    "ts_cross_corr" -> {
      val joins = (0 to XC_LAGS).map(k =>
        s"""  SELECT $k AS k, x, y FROM xs JOIN ys
           |    ON hy = h + INTERVAL '$k' HOUR""".stripMargin)
        .mkString("\n  UNION ALL\n")
      s"""WITH hourly AS (
         |  SELECT date_trunc('hour', ts) AS h, event_type AS tp,
         |    CAST(SUM(CAST("value" AS DECIMAL(30,6))) AS DECIMAL(15,2)) AS v
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |  GROUP BY 1, 2
         |), xs AS (SELECT h, v AS x FROM hourly WHERE tp = 'click'),
         |ys AS (SELECT h AS hy, v AS y FROM hourly WHERE tp = 'purchase'),
         |pairs AS (
         |$joins
         |), m AS (
         |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
         |    CAST(SUM(x * x) AS DOUBLE) AS sx2,
         |    CAST(SUM(y * y) AS DOUBLE) AS sy2
         |  FROM pairs GROUP BY k
         |)
         |SELECT k, n AS n_pairs,
         |  CASE WHEN sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy) > 0.0
         |    THEN round((n * sxy - sx * sy)
         |      / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy)), 6)
         |  END AS xcorr
         |FROM m ORDER BY k""".stripMargin
    },
    // identical decimal-exact Pearson moments per (key, lag), identical
    // IEEE combination order, NULL on degenerate sides
    "ts_dominant_period" -> {
      val shifted = (1 to DP_MAXLAG).map(k =>
        s"lag(v, $k) OVER w AS l$k").mkString(", ")
      val unions = (1 to DP_MAXLAG).map(k =>
        s"SELECT event_type, $k AS k, v AS x, l$k AS y FROM lagged")
        .mkString("\n  UNION ALL ")
      s"""WITH hourly AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h,
         |    CAST(SUM(CAST("value" AS DECIMAL(30,6))) AS DECIMAL(15,2)) AS v
         |  FROM events GROUP BY 1, 2
         |), lagged AS (
         |  SELECT event_type, v, $shifted
         |  FROM hourly
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h, h)
         |), pairs AS (
         |  SELECT * FROM (
         |  $unions
         |  ) WHERE y IS NOT NULL
         |), m AS (
         |  SELECT event_type, k, COUNT(*) AS n,
         |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
         |    CAST(SUM(x * x) AS DOUBLE) AS sx2,
         |    CAST(SUM(y * y) AS DOUBLE) AS sy2
         |  FROM pairs GROUP BY event_type, k
         |), acf AS (
         |  SELECT event_type, CAST(k AS INT) AS k,
         |    CASE WHEN sqrt(n*sx2 - sx*sx) * sqrt(n*sy2 - sy*sy) > 0.0
         |      THEN round((n*sxy - sx*sy) /
         |        (sqrt(n*sx2 - sx*sx) * sqrt(n*sy2 - sy*sy)), 6)
         |    END AS acf
         |  FROM m
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |    ORDER BY acf DESC, k ASC) AS rk
         |  FROM acf WHERE acf IS NOT NULL AND k >= $DP_MINLAG
         |)
         |SELECT event_type, k AS period, acf
         |FROM ranked WHERE rk = 1 ORDER BY event_type""".stripMargin
    },
    "ts_autocorr" -> {
      val shifted = (1 to ACF_LAGS).map(k =>
        s"""lag("value", $k) OVER w AS l$k""").mkString(", ")
      val unions = (1 to ACF_LAGS).map(k =>
        s"SELECT user_id, $k AS k, x, l$k AS y FROM lagged")
        .mkString("\n  UNION ALL ")
      s"""WITH lagged AS (
         |  SELECT user_id, "value" AS x, $shifted
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), pairs AS (
         |  SELECT * FROM (
         |  $unions
         |  ) WHERE y IS NOT NULL
         |), m AS (
         |  SELECT user_id, k, COUNT(*) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(15,2))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(15,2))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(x AS DECIMAL(15,2)) * CAST(y AS DECIMAL(15,2)))
         |      AS DOUBLE) AS sxy,
         |    CAST(SUM(CAST(x AS DECIMAL(15,2)) * CAST(x AS DECIMAL(15,2)))
         |      AS DOUBLE) AS sx2,
         |    CAST(SUM(CAST(y AS DECIMAL(15,2)) * CAST(y AS DECIMAL(15,2)))
         |      AS DOUBLE) AS sy2
         |  FROM pairs GROUP BY user_id, k
         |)
         |SELECT user_id, CAST(k AS INT) AS k,
         |  CASE WHEN sqrt(n*sx2 - sx*sx) * sqrt(n*sy2 - sy*sy) > 0.0
         |    THEN round((n*sxy - sx*sy) /
         |      (sqrt(n*sx2 - sx*sx) * sqrt(n*sy2 - sy*sy)), 6)
         |  END AS acf
         |FROM m ORDER BY user_id, k""".stripMargin
    },
    // identical two-frame decimal-exact moments, identical IEEE score
    // combination and floor-based rounding
    "ts_changepoint" ->
      s"""WITH a AS (
         |  SELECT user_id, event_id, "value" AS v,
         |    COUNT(*) OVER wp AS cp,
         |    CAST(SUM(CAST("value" AS DECIMAL(15,2))) OVER wp AS DOUBLE) AS sp,
         |    CAST(SUM(CAST("value" AS DECIMAL(15,2)) *
         |             CAST("value" AS DECIMAL(15,2))) OVER wp AS DOUBLE) AS sp2,
         |    COUNT(*) OVER wn AS cn,
         |    CAST(SUM(CAST("value" AS DECIMAL(15,2))) OVER wn AS DOUBLE) AS sn,
         |    CAST(SUM(CAST("value" AS DECIMAL(15,2)) *
         |             CAST("value" AS DECIMAL(15,2))) OVER wn AS DOUBLE) AS sn2
         |  FROM events
         |  WINDOW
         |    wp AS (PARTITION BY user_id ORDER BY ts, event_id
         |           ROWS BETWEEN $CPK PRECEDING AND 1 PRECEDING),
         |    wn AS (PARTITION BY user_id ORDER BY ts, event_id
         |           ROWS BETWEEN CURRENT ROW AND ${CPK - 1} FOLLOWING)
         |), b AS (
         |  SELECT user_id, event_id,
         |    sp / $CPK AS mp, sn / $CPK AS mn,
         |    sp2 / $CPK - (sp / $CPK) * (sp / $CPK) AS vp,
         |    sn2 / $CPK - (sn / $CPK) * (sn / $CPK) AS vn
         |  FROM a WHERE cp = $CPK AND cn = $CPK
         |), c AS (
         |  SELECT user_id, event_id,
         |    abs(mn - mp) /
         |      sqrt((vp + vn) / CAST(2.0 AS DOUBLE) + 1e-9) AS score
         |  FROM b
         |)
         |SELECT user_id, event_id,
         |  CAST(floor(score * 1e6 + 0.5) AS DOUBLE) / 1e6 AS shift_z,
         |  CAST(CASE WHEN score > $CPTHRESH THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_cp
         |FROM c ORDER BY user_id, event_id""".stripMargin,
    // identical centered-window decimal trend, long-quantized detrended
    // values (floor(x*1e6+0.5) both engines), exact integer seasonal sum
    "ts_seasonal_decompose" ->
      s"""WITH a AS (
         |  SELECT user_id, ts, event_id, "value" AS v,
         |    COUNT(*) OVER wt AS cnt,
         |    CAST(SUM(CAST("value" AS DECIMAL(15,2))) OVER wt AS DOUBLE)
         |      / COUNT(*) OVER wt AS trend
         |  FROM events
         |  WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN ${SEAS_W / 2} PRECEDING AND ${SEAS_W / 2 - 1} FOLLOWING)
         |), b AS (
         |  SELECT user_id, event_id, v, trend, hour(ts) AS hod,
         |    CAST(floor((v - trend) * 1e6 + 0.5) AS BIGINT) AS dq
         |  FROM a WHERE cnt = $SEAS_W
         |), c AS (
         |  SELECT user_id, event_id, v, trend,
         |    (CAST(SUM(dq) OVER ws AS DOUBLE) / COUNT(*) OVER ws) / 1e6
         |      AS seasonal
         |  FROM b WINDOW ws AS (PARTITION BY user_id, hod)
         |)
         |SELECT user_id, event_id,
         |  CAST(floor(trend * 1e6 + 0.5) AS DOUBLE) / 1e6 AS trend,
         |  CAST(floor(seasonal * 1e6 + 0.5) AS DOUBLE) / 1e6 AS seasonal,
         |  CAST(floor((v - trend - seasonal) * 1e6 + 0.5) AS DOUBLE) / 1e6
         |    AS remainder
         |FROM c ORDER BY user_id, event_id""".stripMargin,
    // identical keyed windows; decimal-exact rolling sum (Exact.sumSql
    // pattern) so the mean is partition-independent in both engines
    "ts_lag_features" ->
      """SELECT user_id, event_id,
        |  lag("value", 1) OVER w AS lag1,
        |  CAST(SUM(CAST("value" AS DECIMAL(30,6))) OVER w5 AS DOUBLE)
        |    / COUNT(*) OVER w5 AS roll_mean,
        |  MIN("value") OVER w5 AS roll_min,
        |  MAX("value") OVER w5 AS roll_max,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS dt_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  w5 AS (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
  )
}
