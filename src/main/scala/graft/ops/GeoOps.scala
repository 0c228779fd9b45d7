package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Exact._

/** Geospatial analytics — the operator family a positional feed like the
  * reference's (aircraft lat/lon per snapshot, `task.ts:100-116`) needs
  * once it becomes an analytics workload: spatial binning, proximity
  * detection, and per-track path statistics.
  *
  * The corpus has no coordinate columns, so each query derives
  * DETERMINISTIC pseudo-coordinates from `events` (per-user base cell +
  * fractional jitter from `value`) with arithmetic both engines evaluate
  * bit-identically: integer modulus, IEEE add/sub/mul and a correctly-
  * rounded `sqrt` — no transcendental functions, whose libm rounding can
  * differ between engines. Production note: with real lat/lon the planar
  * degree metric below becomes haversine; every plan shape here is
  * unchanged by that swap (distance is always computed AFTER candidate
  * generation, never to generate candidates).
  *
  * Scale design:
  *   - `geo_grid_cells` is one hash aggregate on a derived cell key —
  *     the standard spatial-partitioning shape (a 100 TB feed buckets by
  *     cell, then all heavier spatial work is cell-local).
  *   - `geo_proximity_pairs` NEVER goes all-pairs: each point joins only
  *     the 3x3 neighborhood of its grid cell (cell size >= the distance
  *     threshold, so no qualifying pair can be missed — the same
  *     pigeonhole argument as the simhash chunk index). Candidates come
  *     from a hash equi-join on the cell key; the exact predicate prunes
  *     after. The brute-force DuckDB oracle proves completeness.
  *   - `geo_track_distance` is one keyed window (lag) + one decimal-exact
  *     aggregate — both partition by `user_id`, so a 100 TB track store
  *     shuffles once.
  */
object GeoOps {

  /** Deterministic point cloud: each user gets a 1-degree base cell, each
    * event jitters inside it by the fractional part of `value`. Takes any
    * events-shaped frame (batch table or stream) so the streaming
    * proximity query derives identical coordinates. */
  private[graft] def derivePoints(events: DataFrame): DataFrame =
    events.select(
      col("event_id"), col("user_id"), col("ts"), col("event_type"),
      ((col("user_id") * 37 % 170) - 85 +
        (col("value") - floor(col("value")))).as("lat"),
      ((col("user_id") * 53 % 350) - 175 +
        (col("value") * 3 - floor(col("value") * 3))).as("lon"))

  private def points(s: SparkSession, dir: String): DataFrame =
    derivePoints(graft.Tables(s, dir, "events"))

  private[graft] val pointsSql: String =
    """pts AS (
      |  SELECT event_id, user_id, ts, event_type,
      |    (user_id * 37 % 170) - 85 + ("value" - floor("value")) AS lat,
      |    (user_id * 53 % 350) - 175 + ("value" * 3 - floor("value" * 3)) AS lon
      |  FROM events
      |)""".stripMargin

  /** Spatial binning: occupancy + distinct users per 1-degree grid cell.
    * Counts only — exact under any aggregation order. */
  private def gridCellsQ(s: SparkSession, dir: String): DataFrame =
    points(s, dir)
      .groupBy(floor(col("lat")).cast("long").as("cell_lat"),
               floor(col("lon")).cast("long").as("cell_lon"))
      .agg(count(lit(1)).as("n_points"),
           count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cell_lat"), col("cell_lon"))

  /** All point pairs within `thresh` degrees (planar), via grid-cell
    * candidate generation. Cell size = `cellSize` (default: the threshold
    * itself — the smallest size for which the 3x3 neighborhood is still
    * complete): a pair within thresh <= cellSize can span at most one cell
    * boundary per axis, so the 3x3 neighborhood of either point's cell
    * contains the other. One side explodes to its 9 neighbor cells, the
    * other keeps its home cell; the equi-join on the cell key yields each
    * ordered candidate pair exactly once (9 distinct neighbor keys meet 1
    * home key), and `id < id` keeps one direction — no post-join distinct
    * needed. Threshold-sized cells matter at scale: a cell K× the
    * threshold co-buckets ~K² cells' worth of points per axis pair, so
    * candidate pairs inflate ~K⁴ per occupied region before the exact
    * distance predicate prunes them. */
  def proximityPairs(pts: DataFrame, id: Column, lat: Column, lon: Column,
                     thresh: Double): DataFrame =
    proximityCandidates(pts, id, lat, lon, thresh, cellSize = thresh)
      .filter(col("dist2") < lit(thresh * thresh))

  /** Candidate pairs from the 3x3 neighborhood equi-join, BEFORE the exact
    * distance predicate. Exposed so specs can measure the candidate volume
    * a given cell size admits. Requires cellSize >= thresh for the
    * pigeonhole completeness argument.
    *
    * Floating-point caveat (the pigeonhole proof is exact-arithmetic):
    * cell ids come from floor(coord / cellSize), and the fp quotient
    * carries <= 0.5 ulp error, so two points with |Δ| < thresh can compute
    * cell ids 2 apart ONLY when their exact quotient difference is within
    * ~1 ulp of 1.0 — i.e. |Δ| within ~1e-13 of thresh itself, where the
    * strict `dist2 < thresh²` predicate is equally rounding-ambiguous, so
    * no pair that is robustly inside the threshold can be missed. The
    * boundary-ulp sweep in GeoOpsSpec pins this empirically with
    * coordinates at multiples of cellSize perturbed by ±1 ulp. */
  private[graft] def proximityCandidates(pts: DataFrame, id: Column,
      lat: Column, lon: Column, thresh: Double, cellSize: Double): DataFrame = {
    require(cellSize >= thresh, "completeness needs cellSize >= thresh")
    val cell = lit(cellSize)
    val base = pts.select(id.as("pid"), lat.as("plat"), lon.as("plon"),
      floor(lat / cell).cast("long").as("cx"),
      floor(lon / cell).cast("long").as("cy"))
    val probe = base.select(col("pid").as("e2"), col("plat").as("lat2"),
      col("plon").as("lon2"), col("cx"), col("cy"))
    val neighborhood = array(
      (for (dx <- -1 to 1; dy <- -1 to 1)
        yield struct((col("cx") + dx).as("x"), (col("cy") + dy).as("y"))): _*)
    val build = base.select(col("pid").as("e1"), col("plat").as("lat1"),
      col("plon").as("lon1"), explode(neighborhood).as("nc"))
    val d2 = (col("lat1") - col("lat2")) * (col("lat1") - col("lat2")) +
      (col("lon1") - col("lon2")) * (col("lon1") - col("lon2"))
    build.join(probe,
        col("nc.x") === col("cx") && col("nc.y") === col("cy") &&
          col("e1") < col("e2"))
      .select(col("e1"), col("e2"), d2.as("dist2"))
  }

  /** Proximity query on the purchase subset (dense enough for pairs,
    * small enough for the all-pairs oracle to prove completeness). */
  private[graft] val PROX_T = 0.05

  private def proximityQ(s: SparkSession, dir: String): DataFrame =
    proximityPairs(points(s, dir).filter(col("event_type") === "purchase"),
      col("event_id"), col("lat"), col("lon"), thresh = PROX_T)
      .orderBy(col("e1"), col("e2"))

  /** Per-user path length: consecutive-event step distances (planar sqrt,
    * correctly rounded IEEE on both engines). Each step is FLOORED to the
    * 1e-6 grid as an integer before summing: floor(step * 1e6) is the
    * same exact long in both engines (IEEE multiply + exact floor), long
    * sums are associative, and one final divide by 1e6 is one correctly-
    * rounded double op — so the per-group addition order AND each
    * engine's double->decimal rounding rule (which can disagree on a tie)
    * cannot show through. */
  private def trackDistanceQ(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val step = sqrt(
      (col("lat") - lag(col("lat"), 1).over(w)) *
        (col("lat") - lag(col("lat"), 1).over(w)) +
      (col("lon") - lag(col("lon"), 1).over(w)) *
        (col("lon") - lag(col("lon"), 1).over(w)))
    points(s, dir)
      .withColumn("step", step)
      .groupBy(col("user_id"))
      .agg(count(col("step")).as("n_steps"),
        (sum(floor(col("step") * 1e6).cast("long")) / lit(1e6)).as("path_len"))
      .orderBy(col("user_id"))
  }

  /** Density heatmap with 3x3 neighbor smoothing — a grid STENCIL
    * (convolution) computed relationally: aggregate points to cells
    * first, then each CELL (not point) scatters its count to its 9
    * neighbors and the smoothed density re-aggregates. The stencil runs
    * over cell-sized data (orders of magnitude below the point count),
    * so at 100 TB the convolution costs one shuffle of the cell table;
    * top-k is TakeOrderedAndProject (per-partition top-10, no global
    * sort). Halo cells (receiving spill but containing no points) are
    * dropped by the own-count null filter. */
  private def heatmapQ(s: SparkSession, dir: String): DataFrame = {
    val cells = points(s, dir)
      .groupBy(floor(col("lat")).cast("long").as("cy"),
               floor(col("lon")).cast("long").as("cx"))
      .agg(count(lit(1)).as("n"))
    val offsets = array(
      (for (dy <- -1 to 1; dx <- -1 to 1)
        yield struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)
    cells.select(col("cy"), col("cx"), col("n"), explode(offsets).as("o"))
      .select((col("cy") + col("o.dy")).as("sy"),
        (col("cx") + col("o.dx")).as("sx"), col("n"),
        (col("o.dy") === 0 && col("o.dx") === 0).as("own"))
      .groupBy(col("sy"), col("sx"))
      .agg(sum(col("n")).as("smoothed"),
        max(when(col("own"), col("n"))).as("n_points"))
      .filter(col("n_points").isNotNull)
      .select(col("sy").as("cell_lat"), col("sx").as("cell_lon"),
        col("n_points"), col("smoothed"))
      .orderBy(col("smoothed").desc, col("cell_lat"), col("cell_lon"))
      .limit(10)
  }

  /** Spatial kNN-within-radius — the spatial-index lookup shape ("3
    * nearest sensors to each alert, within range"): the SAME neighbor-cell
    * candidates as `geo_proximity_pairs` (never all-pairs), directed by
    * mirroring each undirected pair, then a per-point window keeps the k
    * closest. Squares make the mirrored distance bit-identical, so both
    * directions rank identically; ties break on neighbor id. Bounding the
    * search radius is what keeps kNN scalable — unbounded kNN needs ring
    * expansion, but every production proximity query has a radius. */
  private def knnRadiusQ(s: SparkSession, dir: String): DataFrame = {
    val K = 3
    val und = proximityCandidates(
      points(s, dir).filter(col("event_type") === "purchase"),
      col("event_id"), col("lat"), col("lon"), PROX_T, cellSize = PROX_T)
      .filter(col("dist2") < lit(PROX_T * PROX_T))
    val directed = und.select(col("e1").as("p"), col("e2").as("q"), col("dist2"))
      .unionAll(und.select(col("e2").as("p"), col("e1").as("q"), col("dist2")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p")).orderBy(col("dist2").asc, col("q").asc)
    directed.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= K)
      .select(col("p").as("event_id"), col("rk"),
        col("q").as("neighbor_id"), col("dist2"))
      .orderBy(col("event_id"), col("rk"))
  }

  /** The OPTIMIZER-REWRITTEN proximity join: the query is written as the
    * NAIVE join — two point sets linked only by the `graft_geo_within`
    * predicate, the plan every user writes first and the one that
    * cartesians at scale — and `graft.plans.GeoJoinRewrite` (installed
    * via `experimental.extraOptimizations`, the per-session twin of the
    * GraftExtensions injection) rewrites it into the 3×3 grid-cell
    * equi-join automatically. The in-query require pins the claim: the
    * executed plan contains a real equi-join and NO cartesian /
    * nested-loop node. The oracle is the brute-force all-pairs SQL —
    * matching proves the rewrite loses no pair (same pigeonhole + fp
    * boundary argument as geo_proximity_pairs, which it must equal). */
  private def geoJoinRuleQ(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{GeoJoinRewrite, GeoWithin}
    val pts = points(s, dir)
    val a = pts.filter(col("event_type") === "purchase")
      .select(col("event_id").as("e1"), col("lat").as("lat1"),
        col("lon").as("lon1"))
    val b = pts.filter(col("event_type") === "click")
      .select(col("event_id").as("e2"), col("lat").as("lat2"),
        col("lon").as("lon2"))
    // install SESSION-WIDE and idempotently, like the GraftExtensions
    // injection it mirrors — NOT install-then-restore: every downstream
    // action (.count(), .write) builds a NEW QueryExecution from the
    // logical plan, so a rule removed after plan inspection would be
    // absent from the plan that actually EXECUTES, silently reverting to
    // the nested-loop join (caught at the 10x rehearsal: 250 s of naive
    // all-pairs behind a require that had inspected the rewritten plan)
    if (!s.experimental.extraOptimizations.contains(GeoJoinRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ GeoJoinRewrite
    GeoWithin.register(s)
    val within = GeoWithin.within(col("lat1"), col("lon1"),
      col("lat2"), col("lon2"), lit(PROX_T))
    val d2 = (col("lat1") - col("lat2")) * (col("lat1") - col("lat2")) +
      (col("lon1") - col("lon2")) * (col("lon1") - col("lon2"))
    val out = a.join(b, within)
      .select(col("e1"), col("e2"), d2.as("dist2"))
      .orderBy(col("e1"), col("e2"))
    // toString renders THROUGH the AdaptiveSparkPlan wrapper (node
    // traversal does not), same convention as PlanAuditSpec
    val phys = out.queryExecution.executedPlan.toString
    require(!phys.contains("CartesianProduct") &&
      !phys.contains("BroadcastNestedLoopJoin"),
      "GeoJoinRewrite must eliminate the cartesian/nested-loop join")
    require(phys.contains("BroadcastHashJoin") ||
      phys.contains("ShuffledHashJoin") || phys.contains("SortMergeJoin"),
      "GeoJoinRewrite must produce an equi-join on the cell key")
    out
  }

  private val DBSCAN_MINPTS = 30L

  /** Grid-density spatial clustering (the scalable DBSCAN shape): cells
    * with ≥ `minPts` points are dense, 8-adjacent dense cells connect,
    * connected groups are clusters — reported as (cluster_id, n_cells,
    * n_points). The per-point ε-neighborhood of textbook DBSCAN is
    * replaced by the grid census, which is ONE hash aggregate on the
    * cell key; adjacency forms by the SAME 3×3 neighbor-key explode +
    * equi-join as geo_proximity_pairs (never a cells² join), and the
    * components run on `DedupOps.clusterPairs` over the dense-cell graph;
    * that kernel runs in one task, with memory linear in the node count.
    * Isolated dense cells are singleton clusters (left-anti against the
    * edge set), not dropped.
    *
    * EAGER (SparkEntry.eagerQueries): the dense-cell frame and the
    * components kernel's labels are localCheckpointed at build. */
  private def clusterGridQ(s: SparkSession, dir: String): DataFrame =
    clusterGrid(points(s, dir), DBSCAN_MINPTS)

  /** PUBLIC core over any frame with `lat`/`lon` double columns — see
    * clusterGridQ. EAGER: runs the components kernel at call. */
  def clusterGrid(pts: DataFrame, minPts: Long): DataFrame = {
    val dense = pts
      .groupBy(floor(col("lat")).cast("long").as("cla"),
        floor(col("lon")).cast("long").as("clo"))
      .agg(count(lit(1)).as("n_points"))
      .filter(col("n_points") >= minPts)
      // injective cell id: lat cell ∈ [-90, 89], lon cell ∈ [-180, 179]
      .withColumn("cid", (col("cla") + 90L) * 1000L + (col("clo") + 180L))
      .localCheckpoint(true) // read by explode side, home side, anti-join
    val nbrKeys = array((for (dy <- -1 to 1; dx <- -1 to 1) yield
      (col("cla") + dy + 90L) * 1000L + (col("clo") + dx + 180L)): _*)
    val edges = dense
      .select(col("cid").as("d1"), explode(nbrKeys).as("nkey"))
      .join(dense.select(col("cid").as("d2")), col("nkey") === col("d2"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    val comps = DedupOps.clusterPairs(edges)
      .select(col("doc_id").as("cid"), col("cluster_id"))
    val singles = dense.select(col("cid"))
      .join(comps.select(col("cid")), Seq("cid"), "left_anti")
      .select(col("cid"), col("cid").as("cluster_id"))
    comps.unionByName(singles)
      .join(dense.select(col("cid"), col("n_points")), "cid")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n_points")).as("n_points"))
      .orderBy(col("cluster_id"))
  }

  private val SIMPLIFY_EPS = 0.2d

  /** Trajectory simplification by chord deviation — the track-compaction
    * pass a movement-data store (the reference's domain: aircraft
    * snapshots) runs before archiving: drop every interior point whose
    * perpendicular deviation from the chord through its NEIGHBORS is
    * below ε, keep endpoints, and report per track how much survives and
    * how much path length the simplification loses. This is the
    * one-pass curvature filter — each point decides from (prev, next)
    * only, so unlike Douglas–Peucker there is no recursive global state
    * and the whole pass is ONE keyed window lineage (the lag/lead
    * shuffle on the track key that ts_lag_features already pays),
    * embarrassingly parallel across tracks at any scale. The simplified
    * path length needs steps between consecutive KEPT points — a second
    * window over the SAME key/order, so Catalyst reuses the exchange.
    *
    * Deviation: |cross(C−A, B−A)| / |C−A| for chord A→C (planar — same
    * contract as the proximity family); a degenerate chord (A = C)
    * falls back to |B−A|. Exactness: the keep decision compares doubles
    * computed from one spelling in both engines; path sums are the
    * geo_track_distance discipline (floor(step·1e6) longs — associative,
    * order-free). */
  def trackSimplify(pts: DataFrame, key: Column, ts: Column, ord: Column,
      lat: Column, lon: Column, eps: Double = SIMPLIFY_EPS): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("t"), col("o"))
    val base = pts.select(key.as("k"), ts.as("t"), ord.as("o"),
        lat.as("la"), lon.as("lo"))
      .withColumn("pla", lag(col("la"), 1).over(w))
      .withColumn("plo", lag(col("lo"), 1).over(w))
      .withColumn("nla", lead(col("la"), 1).over(w))
      .withColumn("nlo", lead(col("lo"), 1).over(w))
    val cx = col("nla") - col("pla")
    val cy = col("nlo") - col("plo")
    val bx = col("la") - col("pla")
    val by = col("lo") - col("plo")
    val chord = sqrt(cx * cx + cy * cy)
    val dev = when(chord > lit(0.0d), abs(cx * by - cy * bx) / chord)
      .otherwise(sqrt(bx * bx + by * by))
    val flagged = base.withColumn("keep",
      col("pla").isNull || col("nla").isNull || dev >= lit(eps))
    val ostep = sqrt(bx * bx + by * by)
    val orig = flagged
      .withColumn("ostep", ostep)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_points"),
        (sum(floor(col("ostep") * 1e6).cast("long")) / lit(1e6))
          .as("orig_len"))
    val kept = flagged.filter(col("keep"))
      .withColumn("kstep", sqrt(
        (col("la") - lag(col("la"), 1).over(w))
          * (col("la") - lag(col("la"), 1).over(w))
        + (col("lo") - lag(col("lo"), 1).over(w))
          * (col("lo") - lag(col("lo"), 1).over(w))))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_kept"),
        (sum(floor(col("kstep") * 1e6).cast("long")) / lit(1e6))
          .as("simp_len"))
    def r6d(c: Column): Column =
      floor(c * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)
    orig.join(kept, "k")
      .select(col("k"), col("n_points"), col("n_kept"),
        r6d(col("n_kept").cast("double") / col("n_points").cast("double"))
          .as("kept_ratio"),
        col("orig_len"), col("simp_len"),
        when(col("orig_len") > 0.0d,
          r6d(col("simp_len") / col("orig_len")))
          .otherwise(lit(null).cast("double")).as("len_ratio"))
  }

  private def trackSimplifyQ(s: SparkSession, dir: String): DataFrame =
    trackSimplify(points(s, dir), col("user_id"), col("ts"),
        col("event_id"), col("lat"), col("lon"))
      .withColumnRenamed("k", "user_id")
      .orderBy(col("user_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_grid_cells" -> gridCellsQ,
    "geo_cluster_grid" -> clusterGridQ,
    "geo_proximity_pairs" -> proximityQ,
    "geo_join_rule" -> geoJoinRuleQ,
    "geo_knn_radius" -> knnRadiusQ,
    "geo_track_distance" -> trackDistanceQ,
    "geo_track_simplify" -> trackSimplifyQ,
    "geo_heatmap_topk" -> heatmapQ,
  )

  val oracles: Map[String, String] = Map(
    "geo_cluster_grid" ->
      s"""WITH RECURSIVE $pointsSql,
         |dense AS (
         |  SELECT CAST(floor(lat) AS BIGINT) AS cla,
         |    CAST(floor(lon) AS BIGINT) AS clo,
         |    CAST(COUNT(*) AS BIGINT) AS n_points
         |  FROM pts GROUP BY 1, 2 HAVING COUNT(*) >= $DBSCAN_MINPTS
         |), cells AS (
         |  SELECT (cla + 90) * 1000 + (clo + 180) AS cid, cla, clo, n_points
         |  FROM dense
         |), und AS (
         |  SELECT a.cid AS u, b.cid AS v FROM cells a JOIN cells b
         |  ON abs(a.cla - b.cla) <= 1 AND abs(a.clo - b.clo) <= 1
         |    AND a.cid <> b.cid
         |), reach(u, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT e.u, reach.r FROM und e JOIN reach ON e.v = reach.u
         |), lab AS (
         |  SELECT u AS cid, MIN(r) AS cluster_id FROM reach GROUP BY u
         |), allLab AS (
         |  SELECT cid, cluster_id FROM lab
         |  UNION ALL
         |  SELECT cid, cid FROM cells
         |  WHERE cid NOT IN (SELECT u FROM und)
         |)
         |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(c.n_points) AS BIGINT) AS n_points
         |FROM allLab JOIN cells c USING (cid)
         |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "geo_grid_cells" ->
      s"""WITH $pointsSql
         |SELECT CAST(floor(lat) AS BIGINT) AS cell_lat,
         |       CAST(floor(lon) AS BIGINT) AS cell_lon,
         |       COUNT(*) AS n_points, COUNT(DISTINCT user_id) AS n_users
         |FROM pts GROUP BY 1, 2 ORDER BY cell_lat, cell_lon""".stripMargin,
    // the oracle is the ALL-PAIRS join the Spark plan must never run —
    // matching it proves the 3x3 grid neighborhood loses no pair. The
    // threshold is interpolated from the SAME Scala double product the
    // Spark side compares against (0.05*0.05 != the literal 0.0025 in
    // the last bit — a boundary row must fall the same way in both
    // engines).
    // all-pairs purchase x click within the threshold — the rewritten
    // plan must lose no pair vs this brute force
    "geo_join_rule" ->
      s"""WITH $pointsSql, pa AS (
         |  SELECT event_id, lat, lon FROM pts WHERE event_type = 'purchase'
         |), pb AS (
         |  SELECT event_id, lat, lon FROM pts WHERE event_type = 'click'
         |)
         |SELECT a.event_id AS e1, b.event_id AS e2,
         |  (a.lat - b.lat) * (a.lat - b.lat) +
         |  (a.lon - b.lon) * (a.lon - b.lon) AS dist2
         |FROM pa a JOIN pb b ON
         |  (a.lat - b.lat) * (a.lat - b.lat) +
         |  (a.lon - b.lon) * (a.lon - b.lon) < ${PROX_T * PROX_T}
         |ORDER BY e1, e2""".stripMargin,
    "geo_proximity_pairs" ->
      s"""WITH $pointsSql, p AS (
         |  SELECT event_id, lat, lon FROM pts WHERE event_type = 'purchase'
         |)
         |SELECT a.event_id AS e1, b.event_id AS e2,
         |  (a.lat - b.lat) * (a.lat - b.lat) +
         |  (a.lon - b.lon) * (a.lon - b.lon) AS dist2
         |FROM p a JOIN p b ON a.event_id < b.event_id
         |WHERE (a.lat - b.lat) * (a.lat - b.lat) +
         |      (a.lon - b.lon) * (a.lon - b.lon) < ${PROX_T * PROX_T}
         |ORDER BY e1, e2""".stripMargin,
    // brute-force directed pairs + window — matching proves the grid
    // candidates lose no neighbor and the ranking is identical
    "geo_knn_radius" ->
      s"""WITH $pointsSql, p AS (
         |  SELECT event_id, lat, lon FROM pts WHERE event_type = 'purchase'
         |), d AS (
         |  SELECT a.event_id AS p, b.event_id AS q,
         |    (a.lat - b.lat) * (a.lat - b.lat) +
         |    (a.lon - b.lon) * (a.lon - b.lon) AS dist2
         |  FROM p a JOIN p b ON a.event_id <> b.event_id
         |), r AS (
         |  SELECT p, q, dist2,
         |    row_number() OVER (PARTITION BY p ORDER BY dist2, q) AS rk
         |  FROM d WHERE dist2 < ${PROX_T * PROX_T}
         |)
         |SELECT p AS event_id, rk, q AS neighbor_id, dist2
         |FROM r WHERE rk <= 3 ORDER BY event_id, rk""".stripMargin,
    "geo_heatmap_topk" ->
      s"""WITH $pointsSql, cells AS (
         |  SELECT CAST(floor(lat) AS BIGINT) AS cy, CAST(floor(lon) AS BIGINT) AS cx,
         |    COUNT(*) AS n
         |  FROM pts GROUP BY 1, 2
         |), contrib AS (
         |  SELECT c.cy + dy.g AS sy, c.cx + dx.g AS sx, c.n,
         |    (dy.g = 0 AND dx.g = 0) AS own
         |  FROM cells c, generate_series(-1, 1) dy(g), generate_series(-1, 1) dx(g)
         |), sm AS (
         |  SELECT sy, sx, CAST(SUM(n) AS BIGINT) AS smoothed,
         |    MAX(CASE WHEN own THEN n END) AS n_points
         |  FROM contrib GROUP BY sy, sx
         |)
         |SELECT sy AS cell_lat, sx AS cell_lon, n_points, smoothed
         |FROM sm WHERE n_points IS NOT NULL
         |ORDER BY smoothed DESC, cell_lat, cell_lon LIMIT 10""".stripMargin,
    "geo_track_distance" ->
      s"""WITH $pointsSql, steps AS (
         |  SELECT user_id,
         |    sqrt((lat - lag(lat) OVER w) * (lat - lag(lat) OVER w) +
         |         (lon - lag(lon) OVER w) * (lon - lag(lon) OVER w)) AS step
         |  FROM pts
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |)
         |SELECT user_id, COUNT(step) AS n_steps,
         |  CAST(SUM(CAST(floor(step * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS path_len
         |FROM steps GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same lag/lead chord-deviation keep rule (one spelling of the
    // cross/chord doubles), same floor(step·1e6) exact path sums
    "geo_track_simplify" -> {
      val chord = "sqrt((nla - pla) * (nla - pla) + (nlo - plo) * (nlo - plo))"
      val cross = "abs((nla - pla) * (lo - plo) - (nlo - plo) * (la - pla))"
      val bdist = "sqrt((la - pla) * (la - pla) + (lo - plo) * (lo - plo))"
      s"""WITH $pointsSql, b AS (
         |  SELECT user_id AS k, ts, event_id, lat AS la, lon AS lo,
         |    lag(lat) OVER w AS pla, lag(lon) OVER w AS plo,
         |    lead(lat) OVER w AS nla, lead(lon) OVER w AS nlo
         |  FROM pts
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |), f AS (
         |  SELECT *,
         |    (pla IS NULL OR nla IS NULL OR
         |      (CASE WHEN $chord > 0.0 THEN $cross / $chord
         |            ELSE $bdist END) >= $SIMPLIFY_EPS) AS keep,
         |    $bdist AS ostep
         |  FROM b
         |), orig AS (
         |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_points,
         |    CAST(SUM(CAST(floor(ostep * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
         |      AS orig_len
         |  FROM f GROUP BY k
         |), ks AS (
         |  SELECT k,
         |    sqrt((la - lag(la) OVER w2) * (la - lag(la) OVER w2)
         |       + (lo - lag(lo) OVER w2) * (lo - lag(lo) OVER w2)) AS kstep
         |  FROM f WHERE keep
         |  WINDOW w2 AS (PARTITION BY k ORDER BY ts, event_id)
         |), kept AS (
         |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |    CAST(SUM(CAST(floor(kstep * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
         |      AS simp_len
         |  FROM ks GROUP BY k
         |)
         |SELECT orig.k AS user_id, n_points, n_kept,
         |  CAST(floor(CAST(n_kept AS DOUBLE) / CAST(n_points AS DOUBLE)
         |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS kept_ratio,
         |  orig_len, simp_len,
         |  CASE WHEN orig_len > 0.0 THEN
         |    CAST(floor(simp_len / orig_len * 1e6 + 0.5) AS DOUBLE) / 1e6
         |    ELSE NULL END AS len_ratio
         |FROM orig JOIN kept ON orig.k = kept.k
         |ORDER BY user_id""".stripMargin
    },
  )
}
