package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** A fresh directory under java.io.tmpdir whose name carries the app
    * id, so the session's shutdown hook removes it with the rest of the
    * app's scratch. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(
      s"graft_${prefix}_${spark.sparkContext.applicationId}_")
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.ops.Fs.pointStreamCheckpointsAtTmpfs(s)
    // the test JVM is forked: remove this app's checkpoint root and stream
    // scratch when it exits (the id is read now, so the hook does not
    // depend on running before Spark's own stop)
    val appId = s.sparkContext.applicationId
    sys.addShutdownHook(graft.ops.Fs.cleanupAppScratch(appId))
    s
  }
}
