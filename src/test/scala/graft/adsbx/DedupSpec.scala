package graft.adsbx

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** D1/D2 against a plain-Scala reference: `lastWins`/`firstWins` keep
  * `max_by`/`min_by` semantics — a null `ord` never wins, a key whose
  * `ord` values are all null still emits one row with null carried
  * columns, and a null key is a key like any other. */
class DedupSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("ord", LongType),
    StructField("a", StringType), StructField("b", DoubleType)))

  private case class In(k: Option[String], ord: Option[Long], a: String, b: Double)

  // 600 rows over 30 keys, a null key among them; ords distinct where
  // present (no ties), a fifth of them null; key "only_null" has null
  // ords alone
  private val rows: Seq[In] = {
    val rnd = new scala.util.Random(42)
    val ords = rnd.shuffle((0L until 10000L).toVector)
    (0 until 600).map { i =>
      val k = if (i % 31 == 0) None else Some(s"k${rnd.nextInt(30)}")
      val ord = if (rnd.nextInt(5) == 0) None else Some(ords(i))
      In(k, ord, s"a$i", i * 0.5)
    } ++ (0 until 3).map(i => In(Some("only_null"), None, s"n$i", -i.toDouble))
  }

  // spread each key's rows over several partitions: the map side of the
  // shuffle sees partial groups
  private def df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r =>
        Row(r.k.orNull, r.ord.map(Long.box).orNull, r.a, r.b)), 4),
      schema)

  /** key -> (a, b) of the winner, None for an all-null-ord key. */
  private def reference(pick: Seq[In] => In): Map[Option[String], Option[(String, Double)]] =
    rows.groupBy(_.k).map { case (k, rs) =>
      val ordered = rs.filter(_.ord.isDefined)
      k -> (if (ordered.isEmpty) None else Some(pick(ordered)).map(r => (r.a, r.b)))
    }

  private def collected(out: org.apache.spark.sql.DataFrame) = {
    assert(out.columns.toSeq == Seq("k", "a", "b"))
    val got = out.collect().toSeq
    assert(got.map(r => Option(r.getString(0))).distinct.size == got.size, "one row per key")
    got.map { r =>
      val carried = if (r.isNullAt(1)) None else Some((r.getString(1), r.getDouble(2)))
      if (carried.isEmpty) assert(r.isNullAt(2))
      Option(r.getString(0)) -> carried
    }.toMap
  }

  test("lastWins matches max_by semantics (plain-Scala reference)") {
    val expected = reference(_.maxBy(_.ord.get))
    assert(expected(Some("only_null")).isEmpty && expected.contains(None))
    assert(collected(Dedup.lastWins(df, "k", "ord")) == expected)
  }

  test("firstWins matches min_by semantics (plain-Scala reference)") {
    assert(collected(Dedup.firstWins(df, "k", "ord")) == reference(_.minBy(_.ord.get)))
  }

  test("distinctByKey keeps one input row per key") {
    val out = Dedup.distinctByKey(df, "k").collect().toSeq
    assert(out.map(r => Option(r.getString(0))).sorted == rows.map(_.k).distinct.sorted)
    val inputs = rows.map(r => (r.k, r.ord, r.a, r.b)).toSet
    out.foreach { r =>
      val t = (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getString(2), r.getDouble(3))
      assert(inputs(t), s"$t is not an input row")
    }
  }
}
