package graft.ops

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.SparkSpec

/** Staging is single-flight: consumers racing on one key share one build. */
class StagingSpec extends SparkSpec {

  private val Consumers = 8

  /** Run `Consumers` calls of `f` released at once; their results. */
  private def race[T](f: => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(Consumers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val go = new CountDownLatch(1)
    try {
      val fs = (1 to Consumers).map(_ => Future { go.await(); f })
      go.countDown()
      fs.map(Await.result(_, 60.seconds))
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  test("concurrent consumers of one staged frame: exactly one build") {
    val builds = new AtomicInteger()
    val dfs = race(Staging.staged(spark, "staging_spec", "frame") {
      builds.incrementAndGet()
      Thread.sleep(200) // hold the build open while the others arrive
      spark.range(5).toDF("x")
    })
    try {
      assert(builds.get == 1)
      assert(dfs.forall(_ eq dfs.head), "every consumer gets the one staged frame")
      assert(dfs.head.count() == 5)
    } finally Staging.clear(spark)
    assert(dfs.head.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "clear unpersists the staged frame")
  }

  test("concurrent consumers of one staged value: exactly one build") {
    val builds = new AtomicInteger()
    val vs = race(Staging.stagedValue(spark, "staging_spec", "value") {
      Thread.sleep(200)
      builds.incrementAndGet()
    })
    Staging.clear(spark)
    assert(builds.get == 1)
    assert(vs.toSet == Set(1))
  }

  test("a failed build is retried by the next consumer") {
    val builds = new AtomicInteger()
    def value = Staging.stagedValue(spark, "staging_spec", "flaky") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    try {
      intercept[IllegalStateException](value)
      assert(value == "built" && value == "built")
      assert(builds.get == 2)
    } finally Staging.clear(spark)
  }

  test("withConf restores a set key, unsets an unset key, also on throw") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.get(set)
    val savedUnset = spark.conf.getAll.get(unset)
    spark.conf.set(set, "3")
    spark.conf.unset(unset)
    def state = (spark.conf.get(set), spark.conf.getAll.get(unset))
    try {
      val inside = Staging.withConf(spark, set -> "7",
          unset -> "TIMESTAMP_MICROS")(state)
      assert(inside == (("7", Some("TIMESTAMP_MICROS"))))
      assert(state == (("3", None)))
      intercept[IllegalStateException] {
        Staging.withConf(spark, set -> "7", unset -> "TIMESTAMP_MICROS") {
          throw new IllegalStateException("boom")
        }
      }
      assert(state == (("3", None)))
    } finally {
      spark.conf.set(set, saved)
      savedUnset.foreach(spark.conf.set(unset, _))
    }
  }
}
