package graft.ops

/** Local-filesystem helpers for the tooling/test seams (warehouse resets,
  * versioned-state retention). Production data paths go through Hadoop
  * FileSystem via Spark's own writers — this is only for driver-local
  * directories the engine itself created. */
object Fs {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Point un-located streaming checkpoints at a tmpfs scratch root when
    * one exists (/dev/shm on Linux). Checkpoint WALs (offsets/commits)
    * and state-store snapshots fsync per micro-batch; on a disk-backed
    * java.io.tmpdir that FIXED cost dominates the setup of every
    * AvailableNow stream query in the suite. The root is
    * per-application, so a rerun can never resume a stale checkpoint.
    * A production deployment puts checkpoints on durable shared storage
    * instead — this is for the single-host bench/verify harness, where
    * the checkpoint's durability ends with the process anyway. */
  def pointStreamCheckpointsAtTmpfs(
      s: org.apache.spark.sql.SparkSession): Unit =
    s.conf.set("spark.sql.streaming.checkpointLocation",
      s"${tmpfsBase()}/graft_ck_${s.sparkContext.applicationId}")

  /** tmpfs base when one exists (/dev/shm on Linux), else java.io.tmpdir. */
  private def tmpfsBase(): String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.getPath
    else tmpBase()
  }

  private def tmpBase(): String = System.getProperty("java.io.tmpdir", "/tmp")

  /** Run `cleanupAppScratch` for this session's app when the JVM exits,
    * however it exits — how the harness mains and the specs keep repeated
    * runs in one container from accumulating dead state in RAM-backed
    * storage or /tmp. The id is read now, so the hook may run after
    * Spark's own hook has stopped the session. */
  def cleanupOnExit(s: org.apache.spark.sql.SparkSession): Unit = {
    val appId = s.sparkContext.applicationId
    sys.addShutdownHook(cleanupAppScratch(appId))
  }

  /** Delete every scratch directory application `appId` created
    * (checkpoints + stream scratch on tmpfs, staged serve indexes under
    * java.io.tmpdir — all suffixed with the applicationId). */
  def cleanupAppScratch(appId: String): Unit = {
    Seq(tmpfsBase(), tmpBase())
      .distinct.map(new java.io.File(_)).foreach { base =>
        Option(base.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("graft_") && f.getName.contains(appId))
          .foreach(deleteRecursively)
      }
  }

  /** Scratch directory for a stream query's INTERNAL staging (sentinel
    * feeds, versioned-sink state, published log chunks): tmpfs-backed
    * when available — this data's lifetime is the query, so paying ext4
    * journal+fsync latency for it is pure setup overhead. Durable table
    * roundtrips (the src_* lifecycle operators) deliberately stay on the
    * real filesystem. */
  def streamScratchDir(s: org.apache.spark.sql.SparkSession,
      prefix: String): String =
    s"${tmpfsBase()}/${prefix}_${s.sparkContext.applicationId}"

  /** Scratch directory `graft_<tag>_<appId>` under java.io.tmpdir, for
    * state that stays on the real filesystem (table roundtrips, persisted
    * indexes, artifacts); `cleanupAppScratch` removes it by that name. */
  def appScratchDir(s: org.apache.spark.sql.SparkSession,
      tag: String): String =
    s"${tmpBase()}/graft_${tag}_${s.sparkContext.applicationId}"
}
