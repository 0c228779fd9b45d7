package graft.ops

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Property-based pin for the rank substrate — every entry point of
  * Relational2's range-offset kernel (globalRank, groupedRank, prefixSums,
  * globalGroupedRank): random (group, value) data with duplicate values
  * (unique tiebreak ids), skewed group sizes, and nulls in the group key,
  * against a brute-force plain-Scala reference — independent of any Spark
  * plan, across shuffle-partition counts. A tiny input with more shuffle
  * partitions than rows leaves most range partitions empty. The substrate
  * feeds the exact-percentile, drift, lift, Gini and decision-stump
  * families; a boundary-arithmetic slip here is the round-4 globalRank
  * regression class, which only value-level randomized checks caught. */
class RankPropertySpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  // values collide on purpose (small domain); ids are the total order
  private val rows: Gen[List[(Option[String], Long)]] = Gen.listOfN(2000, for {
    g <- Gen.frequency(6 -> Gen.const(Some("hot")),
      3 -> Gen.oneOf("a", "b", "c").map(Some(_)),
      1 -> Gen.const(None))
    v <- Gen.chooseNum(0L, 50L)
  } yield (g, v))

  private type Rec = (Option[String], Long, Long) // (g, v, id)

  private val inputs: Seq[(String, Seq[Rec])] =
    (1L to 3L).map { seed =>
      s"seed=$seed" -> sample(rows, seed).zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
    } :+ ("tiny" -> Seq[Rec]((Some("a"), 3L, 0L), (None, 1L, 1L),
      (Some("a"), 1L, 2L), (Some("b"), 3L, 3L), (None, 3L, 4L),
      (Some("a"), 0L, 5L)))

  // the two summed columns of prefixSums: a is non-negative, b signed
  private def a(r: Rec): Long = r._2 * 3L + 1L
  private def b(r: Rec): Long = r._3 % 7L - 3L

  private def frame(data: Seq[Rec]): DataFrame = {
    import spark.implicits._
    data.map(r => (r._1, r._2, r._3, a(r), b(r)))
      .toDF("g", "v", "id", "a", "b").repartition(7)
  }

  /** Runs `rank` over every input and shuffle-partition count, checks the
    * output schema is the input's plus `added` (non-null longs), and
    * compares id -> appended values with `expected(data)`. */
  private def check(added: Seq[String])(rank: DataFrame => DataFrame)
                   (expected: Seq[Rec] => Map[Long, Seq[Long]]): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try for ((label, data) <- inputs; parts <- Seq("1", "5", "32")) {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val df = frame(data)
      val out = rank(df)
      assert(out.schema == StructType(df.schema.fields ++
        added.map(StructField(_, LongType, nullable = false))))
      val got = out.collect().map((r: Row) =>
        r.getAs[Long]("id") -> added.map(r.getAs[Long](_)))
      assert(got.length == data.size, s"$label parts=$parts: row count")
      assert(got.toMap == expected(data),
        s"$label parts=$parts: ranks diverge from brute force")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // brute force: sort by (v, id); global rank = position; in-group rank =
  // position within the group's subsequence
  private def sorted(data: Seq[Rec]) = data.sortBy(t => (t._2, t._3))

  private def inGroup(data: Seq[Rec]): Map[Long, (Long, Long)] = {
    val gSizes = data.groupBy(_._1).map { case (k, vs) => k -> vs.size.toLong }
    val gSeen = scala.collection.mutable.Map.empty[Option[String], Long]
    sorted(data).map { case (g, _, id) =>
      val gr = gSeen.getOrElse(g, 0L) + 1L
      gSeen(g) = gr
      id -> (gr, gSizes(g))
    }.toMap
  }

  test("globalRank == brute force") {
    check(Seq("__rank", "__n"))(Relational2.globalRank(_, col("v"), col("id"))) {
      data => sorted(data).zipWithIndex.map { case (r, pos) =>
        r._3 -> Seq(pos + 1L, data.size.toLong)
      }.toMap
    }
  }

  test("groupedRank == brute force, null group keys included") {
    check(Seq("__grank", "__gn"))(
      Relational2.groupedRank(_, "g", col("v"), col("id"))) {
      data => inGroup(data).map { case (id, (gr, gn)) => id -> Seq(gr, gn) }
    }
  }

  test("prefixSums == brute force over two Long columns") {
    check(Seq("__cum_a", "__cum_b", "__tot_a", "__tot_b"))(
      Relational2.prefixSums(_, Seq(col("v"), col("id")), Seq("a", "b"))) {
      data =>
        val (ta, tb) = (data.map(a).sum, data.map(b).sum)
        var (ca, cb) = (0L, 0L)
        sorted(data).map { r =>
          ca += a(r); cb += b(r)
          r._3 -> Seq(ca, cb, ta, tb)
        }.toMap
    }
  }

  test("globalGroupedRank == brute force on random skewed grouped data") {
    check(Seq("__rank", "__n", "__grank", "__gn"))(
      Relational2.globalGroupedRank(_, "g", col("v"), col("id"))) {
      data =>
        val g = inGroup(data)
        sorted(data).zipWithIndex.map { case (r, pos) =>
          r._3 -> Seq(pos + 1L, data.size.toLong, g(r._3)._1, g(r._3)._2)
        }.toMap
    }
  }
}
