package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** Session-scoped staging tables: intermediates persisted once per
  * (session, corpus, key) and SHARED across every consumer query — both
  * across queries in one run (Bench/Verify execute the whole suite in one
  * SparkSession) and across the multiple join branches of a single query
  * (Catalyst does not dedupe common DataFrame subtrees, so an unpersisted
  * intermediate referenced by two join sides is computed twice). Also
  * home of `withConf`, the one scoped SQL-conf override. */
object Staging {

  private type Key = (SparkSession, String, String)

  /** A build run at most once however many callers race for it: the
    * first caller builds while later ones block until it is done. A build
    * that throws leaves the slot empty, so the next caller retries. */
  private final class Once[T](build: () => T) {
    @volatile private var result: Option[T] = None
    def value: T = result.getOrElse(synchronized {
      if (result.isEmpty) result = Some(build())
      result.get
    })
    /** The result, after waiting out a build in flight; None if none ran. */
    def built: Option[T] = synchronized(result)
  }

  // single-flight: the slot is placed with putIfAbsent before anything is
  // built, so consumers racing on one key (FormatOps.concurrently jobs)
  // share one build instead of each persisting a copy and leaking all but
  // the one the map keeps
  private def once[T](m: TrieMap[Key, Once[T]], k: Key)(build: => T): T = {
    val fresh = new Once(() => build)
    m.putIfAbsent(k, fresh).getOrElse(fresh).value
  }

  private val cache = TrieMap.empty[Key, Once[DataFrame]]

  // driver-side artifacts (a learned merge table, a trained codebook)
  // shared across queries under the same per-pass accounting as staged
  // frames: computed once per (session, corpus, key), dropped by clear()
  private val valueCache = TrieMap.empty[Key, Once[Any]]

  // ------------------------------------------------- build instrumentation
  // (r16 — the bench staging-cost attribution, r14 verdict item 5): when
  // instrumented, every staged BUILD is forced eagerly at the build site
  // and its wall time recorded against its staging key, so Bench can
  // publish per-substrate staging_secs and per-query times NET of the
  // shared builds a pass happens to charge to their alphabetically-first
  // consumer. Default OFF: library callers and Verify keep the lazy
  // persist (no behavior change); Bench turns it on for its timed passes.
  @volatile private var instrumented = false
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
  // nested builds (a staged frame whose build reads another staged frame,
  // a stagedValue fit over a staged frame) attribute to the OUTERMOST key
  // only — the outer timer already contains the inner build, and
  // recording both would double-count the inner when a consumer's drain
  // is subtracted from its wall time
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  def setInstrumented(on: Boolean): Unit = instrumented = on

  /** Drain (staging key, build seconds) records accumulated since the
    * last drain — Bench calls this after each timed query. */
  def drainBuildLog(): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var r = buildLog.poll()
    while (r != null) { out += r; r = buildLog.poll() }
    out.toSeq
  }

  private def timed[T](key: String)(build: => T)(force: T => Unit): T = {
    if (!instrumented) build
    else {
      val d = depth.get()
      depth.set(d + 1)
      val t0 = System.nanoTime()
      try {
        val v = build
        force(v)
        if (d == 0) buildLog.add(key -> (System.nanoTime() - t0) / 1e9)
        v
      } finally depth.set(d)
    }
  }

  def staged(s: SparkSession, dir: String, key: String)
            (build: => DataFrame): DataFrame =
    once(cache, (s, dir, key))(
      timed(key) {
        build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      } { df =>
        // eager materialization (instrumented only): charge the build
        // where it happens instead of inside whichever consumer's action
        // first touches the lazy persist
        df.count(): Unit
      })

  def stagedValue[T](s: SparkSession, dir: String, key: String)
                    (build: => T): T =
    once(valueCache, (s, dir, key))(
      timed(key)(build)(_ => ())).asInstanceOf[T]

  /** Unpersist and forget every staged intermediate of a session. Bench
    * calls this between its warmup and timed passes: staged tables
    * materialized during warmup would otherwise turn the timed pass into
    * a cache read for every staged query, silently excluding the staged
    * computation from the official record. */
  def clear(s: SparkSession): Unit = {
    cache.keys.filter(_._1 eq s).foreach { k =>
      // blocking: lazily-removed blocks would coexist with the rebuilt
      // caches through the next pass and turn its tail into GC churn
      cache.remove(k).flatMap(_.built).foreach(_.unpersist(blocking = true))
    }
    valueCache.keys.filter(_._1 eq s).foreach(valueCache.remove)
  }

  /** Run `body` with the given SQL confs set on `s`, then put every key
    * back as it was — a key that was unset before is unset again — also
    * when `body` throws. The one way an operator narrows a conf for its
    * own run, so the caller's session is left as it was found. */
  def withConf[A](s: SparkSession, confs: (String, String)*)(body: => A): A = {
    val set = s.conf.getAll // explicitly set keys only, no defaults
    val prior = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
