package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine-exact aggregation helpers.
  *
  * Summing doubles is order-sensitive: Spark's partial/final aggregation and
  * DuckDB's parallel sum add in different orders, so raw double sums differ
  * in low bits and fail a hash-compare. Decimal arithmetic is exact and
  * associative, so `sum(cast(x as decimal))` yields bit-identical results in
  * both engines regardless of partitioning; casting the result back to
  * double keeps the visible schema stable (DOUBLE everywhere).
  *
  * The matching DuckDB oracle pattern is emitted by `sumSql`/`avgSql`.
  *
  * Scale note: decimal sums stay inside whole-stage codegen and partial
  * aggregation; the cost over a double sum is small and the determinism is
  * required for verification — at 100 TB the same property makes results
  * reproducible across cluster sizes.
  */
object Exact {
  val dec: DecimalType = DecimalType(30, 6)

  /** Order-insensitive exact sum of a double expression, visible as DOUBLE. */
  def sumD(c: Column): Column = sum(c.cast(dec)).cast("double")

  /** Exact average (sum/count on non-null), visible as DOUBLE. */
  def avgD(c: Column): Column = (sum(c.cast(dec)).cast("double") / count(c))

  /** DuckDB equivalent of sumD. */
  def sumSql(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(30,6))) AS DOUBLE)"

  /** DuckDB equivalent of avgD. */
  def avgSql(expr: String): String =
    s"(CAST(SUM(CAST(($expr) AS DECIMAL(30,6))) AS DOUBLE) / COUNT($expr))"

  /** A least-squares line through a points frame's `x` and `y`: `moments`
    * is its one row (`n` and the five power sums, exact decimal), and the
    * other fields are the IEEE formula over that row. `slope`, `intercept`
    * and `corr` are rounded to 6 dp; `varx` and `vary` (n² × variance)
    * stay raw for a caller's degenerate-fit guards. */
  final case class OlsFit(moments: DataFrame, varx: Column, vary: Column,
                          slope: Column, intercept: Column, corr: Column)

  /** DuckDB twin of `olsFit`'s moments over a points CTE `pts(x, y)`: `m`
    * holds `n` and the five exact power sums, `v` holds `n`, `sx`, `sy`
    * and the `cov`, `varx`, `vary` terms (n² × (co)variance); each oracle
    * spells its own final SELECT. */
  def olsMomentsSql(pts: String): String =
    s"""m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(y * y AS DECIMAL(30,6))) AS DOUBLE) AS syy,
       |    CAST(SUM(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy
       |  FROM $pts
       |), v AS (
       |  SELECT n, sx, sy,
       |    (CAST(n AS DOUBLE) * sxy - sx * sy) AS cov,
       |    (CAST(n AS DOUBLE) * sxx - sx * sx) AS varx,
       |    (CAST(n AS DOUBLE) * syy - sy * sy) AS vary
       |  FROM m
       |)""".stripMargin

  def olsFit(pts: DataFrame): OlsFit = {
    val (x, y) = (col("x"), col("y"))
    val m = pts.agg(count(lit(1)).as("n"),
      sumD(x).as("sx"),
      sumD(y).as("sy"),
      sumD(x * x).as("sxx"),
      sumD(y * y).as("syy"),
      sumD(x * y).as("sxy"))
    val nd = col("n").cast("double")
    val cov = nd * col("sxy") - col("sx") * col("sy")
    val varx = nd * col("sxx") - col("sx") * col("sx")
    val vary = nd * col("syy") - col("sy") * col("sy")
    val slope = cov / varx
    def r6(c: Column) =
      floor(c * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)
    OlsFit(m, varx, vary, r6(slope),
      r6((col("sy") - slope * col("sx")) / nd), r6(cov / sqrt(varx * vary)))
  }
}
