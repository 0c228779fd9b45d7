package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The tokenizer-artifact lifecycle beyond what the oracle hashes: the
  * committed merge table is a real versioned artifact — a refresh
  * CAS-advances the version, every version stays readable (time travel),
  * and tokenizing from a loaded historical version reproduces the
  * in-session roundtrip exactly. */
class BpeArtifactSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("artifact query tokenizes identically to the in-session roundtrip") {
    val viaArtifact = graft.SparkEntry.queries("text_bpe_artifact")(spark, dir)
      .select("source", "n_docs", "bpe_tokens", "n_words")
      .orderBy("source").collect()
    val inSession = graft.SparkEntry.queries("text_bpe_roundtrip")(spark, dir)
      .orderBy("source").collect()
    assert(viaArtifact.toSeq == inSession.toSeq)
  }

  test("a refresh publishes the next version and both stay readable") {
    val base = tempDir("bpe_artifact_spec").toString
    import spark.implicits._
    def publish(rows: Seq[(Long, String, String, Long)]): Long = {
      val v0 = CommitLog.latest(base).map(_.version).getOrElse(0L)
      val d = s"$base/merges_v${v0 + 1}"
      rows.toDF("step", "l", "r", "pair_count")
        .coalesce(1).write.mode("overwrite").parquet(d)
      CommitLog.commit(base, v0, d).version
    }
    val v1 = publish(Seq((1L, "t", "h", 10L)))
    val v2 = publish(Seq((1L, "t", "h", 10L), (2L, "i", "n", 7L)))
    assert(v1 == 1L && v2 == 2L)
    assert(CommitLog.read(spark, base, v1).count() == 1)
    assert(CommitLog.read(spark, base, v2).count() == 2)
    // latest resolves to the refreshed artifact
    assert(CommitLog.latest(base).map(_.version).contains(2L))
  }
}
