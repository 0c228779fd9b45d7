package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Highest post-GC heap occupancy, read from every collector's JMX
  * notification (the heap in use after the collection, summed over heap
  * pools). Only collections that end while `armed` count. */
object HeapPeak extends NotificationListener {
  @volatile var armed = false
  @volatile private var peak = 0L
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: Any): Unit =
    if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peak) peak = used }
    }

  /** Run a full collection now and count the heap left after it, so a
    * region that happened to see no collection still has a reading. */
  def collectNow(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { if (used > peak) peak = used }
  }

  def peakMb: Double = peak / 1048576.0
}

/** One layer call as the benchmark saw it from outside. */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String, run: String)

/** Spans kept in memory and written out when the run ends; a disabled
  * instance runs the body and records nothing. */
final class Spans(run: String, enabled: Boolean = true) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  def apply[T](name: String, parent: String = "")(body: => T): T = if (!enabled) body else {
    val t0 = System.nanoTime()
    try body finally synchronized { spans += Span(name, t0, System.nanoTime(), parent, run) }
  }
  def all: Seq[Span] = synchronized(spans.toList)
  def jsonLines: String = all.map { s =>
    Main.json.writeValueAsString(ListMap("name" -> s.name, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "dur_ms" -> (s.endNs - s.startNs) / 1e6, "parent" -> s.parent,
      "run" -> s.run))
  }.mkString("", "\n", "\n")
}

/** Spark work per job group: the benchmark sets a group around each layer
  * call (a streaming query's jobs carry its run id as their group). */
final class SparkTrace extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, waitMs, shuffleRead, shuffleWrite, spill = 0L
    val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  @volatile private var flushed = false
  private def acc(g: String) = byGroup.computeIfAbsent(g, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
    val a = acc(g)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobGroup.getOrDefault(e.jobId, "") == SparkTrace.FlushGroup) flushed = true

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageSubmitted.put(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = acc(stageGroup.getOrDefault(e.stageId, ""))
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.waitMs += math.max(0L, e.taskInfo.launchTime - stageSubmitted.getOrDefault(e.stageId, e.taskInfo.launchTime))
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  /** Wait until the listener bus has delivered every event posted before
    * this call, by running a marker job and waiting for its end. */
  def flush(spark: SparkSession): Unit = {
    flushed = false
    val sc = spark.sparkContext
    sc.setJobGroup(SparkTrace.FlushGroup, "listener flush")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (!flushed && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Metrics of the given groups, summed (all groups but the flush marker
    * when `groups` is empty). */
  def metrics(groups: Set[String] = Set.empty): Map[String, Double] = {
    val sel = byGroup.asScala.filter { case (g, _) =>
      g != SparkTrace.FlushGroup && (groups.isEmpty || groups(g)) }.values.toSeq
    def sum(f: Acc => Long): Double = sel.map(a => a.synchronized(f(a))).sum.toDouble
    val skew: Seq[Double] = sel.flatMap(a => a.synchronized(a.taskMs.values.map(_.toList).toList))
      .filter(_.size > 1)
      .map(ds => ds.max / math.max(1.0, Stats.median(ds.map(_.toDouble))))
    Map("jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "executor_run_s" -> sum(_.runMs) / 1e3, "executor_cpu_s" -> sum(_.cpuNs) / 1e9,
      "gc_s" -> sum(_.gcMs) / 1e3, "task_wait_s" -> sum(_.waitMs) / 1e3,
      "shuffle_read_bytes" -> sum(_.shuffleRead), "shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spill_bytes" -> sum(_.spill), "task_skew" -> (if (skew.isEmpty) 1.0 else skew.max))
  }
}

object SparkTrace {
  val FlushGroup = "perfbench.flush"
}
