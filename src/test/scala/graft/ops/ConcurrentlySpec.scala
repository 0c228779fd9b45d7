package graft.ops

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration._

import graft.SparkSpec

/** Latches a Spark task can reach: tasks run in the driver JVM under
  * local[N], so a closure that names this object blocks the real task. */
object ConcurrentlySpecLatches {
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** `FormatOps.concurrently` fails on the first failure, whatever the job
  * order, and cancels the siblings' Spark jobs. */
class ConcurrentlySpec extends SparkSpec {
  import ConcurrentlySpecLatches._

  private implicit val ec: ExecutionContext = ExecutionContext.global

  test("a later job's failure is thrown while an earlier job still blocks") {
    val latch = new CountDownLatch(1)
    // the call runs off the test thread, so a call that waits in job
    // order times out here instead of hanging the suite
    val call = Future(FormatOps.concurrently(spark)(
      () => { latch.await(); 1 },
      () => throw new IllegalStateException("job 2 failed")))
    try {
      val e = intercept[IllegalStateException](Await.result(call, 60.seconds))
      assert(e.getMessage == "job 2 failed")
      assert(latch.getCount == 1, "the call returned only after job 1 finished")
    } finally latch.countDown()
  }

  test("a failure cancels the sibling's running Spark job") {
    started = new CountDownLatch(1)
    release = new CountDownLatch(1)
    val siblingError = Promise[Throwable]()
    val call = Future(FormatOps.concurrently(spark)(
      () => try spark.sparkContext.parallelize(Seq(1), 1).map { x =>
          ConcurrentlySpecLatches.started.countDown()
          ConcurrentlySpecLatches.release.await(120, TimeUnit.SECONDS)
          x
        }.count()
        catch { case e: Throwable => siblingError.success(e); throw e },
      () => {
        started.await(60, TimeUnit.SECONDS)
        throw new IllegalStateException("job 2 failed")
      }))
    try {
      intercept[IllegalStateException](Await.result(call, 60.seconds))
      // the sibling's job fails as cancelled while its task still blocks
      val e = Await.result(siblingError.future, 60.seconds)
      assert(e.isInstanceOf[org.apache.spark.SparkException] &&
        e.getMessage.toLowerCase.contains("cancel"), e.toString)
      assert(release.getCount == 1)
    } finally release.countDown()
  }

  test("the typed two-job form keeps each job's result type") {
    val (n, s) = FormatOps.concurrently(spark,
      () => spark.range(10).count(), () => "done")
    assert((n: Long) == 10L && (s: String) == "done")
  }
}
