package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection
import org.apache.spark.sql.functions.col

/** Pins `TrainOps.docClusteredSorted`, the layout check in front of the
  * training pivot's sorted-run fold: every partitioning Spark itself
  * accepts as clustered by doc_id passes, a round-robin one does not. */
class TrainLayoutSpec extends SparkSpec {

  import spark.implicits._

  private def docs(n: Long): DataFrame =
    (1L to n).map(i => (i, (i % 5).toDouble)).toDF("doc_id", "x")

  // an adaptive plan with exchanges may still be re-planned, so the check
  // reads no layout from it; these cases check the layout the operators
  // declare (no broadcast: the join stays a sort-merge join)
  private def withoutAqe[A](body: => A): A =
    Staging.withConf(spark, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private def layout(f: => DataFrame): Boolean =
    withoutAqe(TrainOps.docClusteredSorted(f))

  test("docClusteredSorted: a sort-merge join on doc_id (PartitioningCollection) is clustered") {
    // an expression join (not USING) keeps both sides' doc_id in the
    // output, so both hash partitionings stay in its PartitioningCollection
    val d = docs(40)
    val buckets = (1L to 40L).map(i => (i, i % 3)).toDF("doc_id", "bucket")
    val joined = d.join(buckets, d("doc_id") === buckets("doc_id"))
    withoutAqe {
      val plan = joined.queryExecution.executedPlan
      assert(plan.outputPartitioning.isInstanceOf[PartitioningCollection])
      assert(TrainOps.docClusteredSorted(joined))
    }
  }

  test("docClusteredSorted: a sorted single-partition frame is clustered") {
    assert(layout(docs(40).repartition(1).sortWithinPartitions(col("doc_id"))))
  }

  test("docClusteredSorted: a round-robin repartition is not clustered") {
    assert(!layout(docs(40).repartition(4).sortWithinPartitions(col("doc_id"))))
  }

  test("docClusteredSorted: an adaptive plan that can still re-plan its exchange is not trusted") {
    // a fresh frame per check: a frame's physical plan is fixed once built
    def f = docs(40).repartition(col("doc_id")).sortWithinPartitions(col("doc_id"))
    assert(layout(f))
    assert(!TrainOps.docClusteredSorted(f))
  }

  test("docClusteredSorted: the text_quality_train feature frame keeps its layout") {
    // the staged frame is a cache, whose layout is known once it is built;
    // the training run builds it (its stats pass) before the pivot checks
    val dir = "/root/testdata/sf0.001"
    TrainOps.trainedQuality(spark, dir)
    assert(TrainOps.docClusteredSorted(TrainOps.qualityFeats(spark, dir)))
  }
}
