package perfbench

/** Pure helpers behind the reported numbers; `HelpersTest` covers each. */
object Stats {

  /** Percentiles a tail latency may be reported at, highest first. A fixed
    * ladder keeps the chosen percentile identical across runs whose sample
    * counts differ by a few. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 60.0, 50.0)

  /** The highest ladder percentile that leaves at least `beyond` samples
    * above it in a sample of `n`, or None when even the median does not. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    TailLadder.find(p => n * (100.0 - p) / 100.0 >= beyond)

  /** The tail of a sample of independent operations: (percentile, value)
    * at the highest ladder percentile that leaves at least `beyond`
    * samples above it, or the maximum, reported as percentile 100, when
    * the sample is too small for any (a closed loop's few replays or
    * suite passes). */
  def tail(xs: Seq[Double], beyond: Int = 10): (Double, Double) =
    tailPercentile(xs.size, beyond) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (100.0, xs.max)
    }

  /** Nearest-rank percentile of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Self time of each layer from the medians of successive prefixes: the
    * first prefix's own median, then each prefix minus the one before it.
    * Noise can make a thin layer's difference negative; it is kept as
    * measured. */
  def prefixSelfTimes(prefixMedians: Seq[(String, Double)]): Seq[(String, Double)] =
    prefixMedians.zipWithIndex.map { case ((name, t), i) =>
      name -> (if (i == 0) t else t - prefixMedians(i - 1)._2)
    }

  /** One micro-batch as its progress reports it: the filename watermarks
    * it started after (None for the first batch) and ended at. */
  final case class BatchOffsets(batchId: Long, start: Option[String], end: String)

  /** Snapshots each batch covered, under the snapshot log's offset
    * contract: a batch takes every file with `start < name <= end`. A name
    * no batch covered is absent from the result. */
  def attribute(batches: Seq[BatchOffsets], names: Seq[String]): Map[Long, Seq[String]] =
    batches.map { b =>
      val lo = b.start.getOrElse("")
      b.batchId -> names.filter(n => n > lo && n <= b.end).sorted
    }.filter(_._2.nonEmpty).toMap
}
