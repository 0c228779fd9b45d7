package graft

/** The ONE plan-fingerprint normalizer behind [[Bench]]'s `plan_sha` and
  * its `SPARK_GRAFT_PLAN_DUMP=<dir>` per-query plan files. The fresh-JVM
  * determinism check is two Bench runs dumping into two directories and
  * a `diff -r` of the dumps: any line that differs is run-variant text
  * this normalization still lets through.
  *
  * Normalization strips everything legitimately run-variant — expression
  * / plan ids, lambda JVM identities, this app's scratch paths and id,
  * listed-file counts/sizes, statistics, cache storage levels — and
  * keeps the operator tree: two runs of identical code over identical
  * data must normalize byte-identically, and a changed sha must mean a
  * changed plan SHAPE (join strategy, exchange, added operator). */
object PlanNorm {

  def normalize(plan: String): String = plan
    // typed-pipeline lambdas print their JVM identity
    // (Foo$$$Lambda$2760/0x00007f..@189f9f9f) — run-variant
    .replaceAll("\\${1,3}Lambda\\$?\\d*/0x[0-9a-f]+(@[0-9a-f]+)?", "LAMBDA")
    .replaceAll("#\\d+[A-Za-z]*", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("app(lication)?[-_][0-9]+", "app")
    .replaceAll("local-\\d+", "local")
    .replaceAll("graft_[a-z0-9_]*", "graft_scratch")
    .replaceAll("/tmp/[^\\s,\\)\\]]*", "/tmp/_")
    .replaceAll("\\d+ paths", "N paths")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics()")
    .replaceAll("StorageLevel\\([^)]*\\)", "StorageLevel()")
    .replaceAll("size=[0-9.]+ [KMGT]?i?B", "size=")
    .replaceAll("rows=\\d+", "rows=")
    // AQE stage ids number stages in MATERIALIZATION order — timing-
    // dependent when independent broadcast stages race (r16: two
    // back-to-back identical-code runs flipped BroadcastQueryStage 7/8
    // in text_bm25_topk with zero structural change)
    .replaceAll("QueryStage \\d+", "QueryStage N")
    // whole-stage-codegen ids follow the same execution-order flutter
    .replaceAll("\\*\\(\\d+\\)", "*(N)")

  /** 12-hex-char MD5 of the normalized plan text. */
  def sha(plan: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(normalize(plan).getBytes("UTF-8")).take(6)
      .map("%02x".format(_)).mkString
  }
}
