package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over a corpus-derived graph: PageRank (the canonical
  * iterative dataflow) and triangle counting (the canonical multi-way
  * self-join) — the two algorithm families a relational engine must host
  * beyond its built-in operators, and the foundation for link analysis /
  * community metrics over web-crawl training corpora.
  *
  * The graph derives deterministically from `lineitem` (node = key mod
  * range, hash-thinned edges), so both engines build the identical graph
  * and every number is oracle-checkable.
  *
  * Cross-engine exactness: PageRank runs entirely in FIXED-POINT BIGINT
  * units (1e15 = rank 1.0) — floor division and integer sums are exact
  * and associative, so neither aggregation order nor either engine's
  * decimal-rounding mode can show through (a DECIMAL(38,18) variant
  * differed from DuckDB by ~5e-18/node: decimal casts round half-up in
  * Spark but not identically in DuckDB). Fixed-point also makes the
  * result bit-reproducible across cluster sizes — the property a 100 TB
  * nightly job wants for output diffing.
  *
  * Scale design:
  *   - PageRank: each iteration is ONE shuffle (contributions grouped by
  *     dst). The edge+degree table is staged (scanned once, reused every
  *     iteration); at production scale, hash-partition edges and ranks on
  *     the join key once and every iteration's join is exchange-free on
  *     the edge side. Simplified model (dangling mass not redistributed;
  *     fixed 3 iterations) — documented, matching the oracle exactly.
  *   - Triangles: edges are canonically oriented (src < dst) so each
  *     triangle is counted once via two hash equi-joins — never an
  *     all-pairs product. For skewed real-world degree distributions,
  *     orient by (degree, id) instead: every wedge then pivots on a
  *     LOW-degree vertex, bounding the join fan-out (documented standard
  *     practice; id-orientation suffices on this near-uniform graph).
  */
object GraphOps {

  private val DAMP = 0.85
  private val ITERS = 3

  /** Directed, hash-thinned, deterministic edge list (~28k edges on 2000
    * nodes at sf0.1 — sparse enough for an exact triangle oracle). */
  private def edges(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "graph_edges") {
      graft.Tables(s, dir, "lineitem")
        .filter((col("l_orderkey") + col("l_partkey")) % 20 === 0)
        .select((col("l_orderkey") % 2000).as("src"),
          ((col("l_orderkey") * 7 + col("l_partkey")) % 2000).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

  private val edgesSql: String =
    """edges AS (
      |  SELECT DISTINCT l_orderkey % 2000 AS src,
      |    (l_orderkey * 7 + l_partkey) % 2000 AS dst
      |  FROM lineitem
      |  WHERE (l_orderkey + l_partkey) % 20 = 0
      |    AND l_orderkey % 2000 <> (l_orderkey * 7 + l_partkey) % 2000
      |)""".stripMargin

  /** Fixed-point scale: 1e15 units = rank 1.0. Total mass <= 1e15 keeps
    * every intermediate (85 * sum < 8.5e16) far inside BIGINT range, and
    * unit counts <= 1e15 < 2^53 cast to DOUBLE exactly for display. */
  private val SCALE = 1000000000000000L

  /** Fixed-point PageRank over any (src, dst) edge list → (node, rank_fp,
    * rank). Callers should persist/stage `e` — it is consumed once per
    * iteration. */
  def pagerank(e: DataFrame, iters: Int = ITERS): DataFrame = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // node count as a broadcast 1-row aggregate: stays in-pipeline (no
    // driver-side count()), same pattern as text_zipf's corpus total
    val nRow = broadcast(nodes.agg(count(lit(1)).as("n_nodes")))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = e.join(deg, "src")
    var ranks = nodes.crossJoin(nRow)
      .select(col("node"), expr(s"$SCALE div n_nodes").as("r_u"))
    val baseU = math.round((1 - DAMP) * SCALE) // 0.15 in units, exact
    val dampPct = math.round(DAMP * 100)       // damping as an integer %
    for (_ <- 1 to iters) {
      val contrib = ed.join(ranks, ed("src") === ranks("node"))
        .select(col("dst"), expr("r_u div deg").as("c_u"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c_u")).as("sd"))
      ranks = nodes.join(sums, nodes("node") === sums("dst"), "left")
        .crossJoin(nRow)
        .select(col("node"),
          expr(s"$baseU div n_nodes + ($dampPct * coalesce(sd, 0)) div 100")
            .as("r_u"))
    }
    ranks.select(col("node"), col("r_u").as("rank_fp"),
      (col("r_u").cast("double") / lit(SCALE.toDouble)).as("rank"))
  }

  private def pagerankQ(s: SparkSession, dir: String): DataFrame =
    pagerank(edges(s, dir)).orderBy(col("node"))

  private val HITS_ITERS = 4
  private val HSCALE = 1000000000000L // 1e12 units = score 1.0

  /** HITS hubs & authorities — the DIRECTED companion to pagerank for
    * curation over link/citation/reply graphs: a good hub points at good
    * authorities and vice versa (h = A·a, a = Aᵀ·h), the mutual
    * reinforcement pagerank's single score can't separate.
    *
    * Exactness (the pagerank fixed-point discipline): scores live in
    * integer 1e-12 units; each half-step sums the edge contributions
    * exactly, and the sum-normalization is the truncating integral
    * divide by max(total div HSCALE, 1) on non-negative values —
    * floor-deterministic in both engines, the guard keeping a sub-unit
    * total from dividing by zero (Spark nulls, DuckDB throws). Half-step
    * sums and totals accumulate in BigInteger, the exactness class of
    * DuckDB's HUGEINT sum-of-BIGINT: the first half-step totals E·1e12,
    * which would wrap a BIGINT past ~9.2M edges, and the normalized
    * per-node scores stay ≤ HSCALE-sized longs. The oracle unrolls all
    * iterations as a MATERIALIZED CTE ladder.
    *
    * The kernel runs in one task, with memory linear in the edge count. */
  def hits(e0: DataFrame, iters: Int = HITS_ITERS): DataFrame = {
    // iters = 0 would return the un-normalized initial hub vector and a
    // null authority frame — reject loudly instead of NPEing
    require(iters >= 1, s"hits needs at least 1 iteration (got $iters)")
    val s = e0.sparkSession
    val eRdd = e0.select(col("src"), col("dst")).rdd
      .map(r => (NodeKey.unifyZero(r.get(0)), NodeKey.unifyZero(r.get(1))))
    val nodeType = e0.schema("src").dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType, true),
      org.apache.spark.sql.types.StructField("hub_fp",
        org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("auth_fp",
        org.apache.spark.sql.types.LongType, true),
      org.apache.spark.sql.types.StructField("hub",
        org.apache.spark.sql.types.DoubleType, true),
      org.apache.spark.sql.types.StructField("auth",
        org.apache.spark.sql.types.DoubleType, true)))
    val one = java.math.BigInteger.ONE
    val hscaleBi = java.math.BigInteger.valueOf(HSCALE)
    // java HashMap key semantics equal SQL grouping on the boxed keys
    // (±0 unified above); integer adds are order-free, so the sums do not
    // depend on edge order
    val rows = eRdd.coalesce(1).mapPartitions { it =>
      import java.math.BigInteger
      val edges = it.toArray
      val nodes = new java.util.LinkedHashSet[Any]()
      edges.foreach { case (sv, dv) => nodes.add(sv); nodes.add(dv) }
      def normalize(raw: java.util.HashMap[Any, BigInteger])
          : java.util.HashMap[Any, java.lang.Long] = {
        var t = BigInteger.ZERO
        val vi = raw.values.iterator()
        while (vi.hasNext) t = t.add(vi.next())
        val tdiv = t.divide(hscaleBi).max(one)
        val out = new java.util.HashMap[Any, java.lang.Long]()
        val ni = nodes.iterator()
        while (ni.hasNext) {
          val n = ni.next()
          out.put(n, raw.getOrDefault(n, BigInteger.ZERO)
            .divide(tdiv).longValueExact())
        }
        out
      }
      var h = new java.util.HashMap[Any, java.lang.Long]()
      val n0 = nodes.iterator()
      while (n0.hasNext) h.put(n0.next(), HSCALE)
      var a: java.util.HashMap[Any, java.lang.Long] = null
      for (_ <- 1 to iters) {
        val araw = new java.util.HashMap[Any, BigInteger]()
        edges.foreach { case (sv, dv) =>
          araw.merge(dv, BigInteger.valueOf(h.get(sv)), _.add(_))
        }
        a = normalize(araw)
        val hraw = new java.util.HashMap[Any, BigInteger]()
        edges.foreach { case (sv, dv) =>
          hraw.merge(sv, BigInteger.valueOf(a.get(dv)), _.add(_))
        }
        h = normalize(hraw)
      }
      val out = Seq.newBuilder[org.apache.spark.sql.Row]
      val ni = nodes.iterator()
      while (ni.hasNext) {
        val n = ni.next()
        val hs = h.get(n).longValue
        val as_ = a.get(n).longValue
        out += org.apache.spark.sql.Row(n, hs, as_,
          hs.toDouble / HSCALE.toDouble, as_.toDouble / HSCALE.toDouble)
      }
      out.result().iterator
    }
    s.createDataFrame(rows, schema)
  }

  /** -0.0 → 0.0 for boxed float/double node keys (java equality/hashing
    * splits the two where SQL unifies them; NaNs already unify). An object
    * of its own, so the kernels' closures that call it capture no GraphOps. */
  private object NodeKey {
    def unifyZero(v: Any): Any = v match {
      case d: java.lang.Double if d.doubleValue == 0.0d =>
        java.lang.Double.valueOf(0.0d)
      case f: java.lang.Float if f.floatValue == 0.0f =>
        java.lang.Float.valueOf(0.0f)
      case x => x
    }
  }

  private def hitsQ(s: SparkSession, dir: String): DataFrame =
    hits(edges(s, dir)).orderBy(col("node"))

  private def trianglesQ(s: SparkSession, dir: String): DataFrame = {
    val und = edges(s, dir)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val ab = und.select(col("u").as("a"), col("v").as("b"))
    val bc = und.select(col("u").as("b2"), col("v").as("c"))
    val ac = und.select(col("u").as("a3"), col("v").as("c3"))
    val wedges = ab.join(bc, col("b") === col("b2"))
    val tris = wedges.join(ac, col("a") === col("a3") && col("c") === col("c3"))
    tris.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
  }

  /** Per-node clustering coefficient: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    * over the undirected simple graph — the local-density profile that
    * separates hub-and-spoke link farms from genuine communities. Nodes
    * with deg < 2 are excluded (cc undefined), not emitted as 0/NULL.
    *
    * Shape: the SAME ordered wedge join as graph_triangles (u < v edges,
    * two hash joins — never path enumeration); each found triangle
    * (a < b < c) credits all three corners via a narrow 3-way explode,
    * then a node-keyed count joins the degree aggregate. All shuffles key
    * on node/edge ids; the staged edge table is scanned once. The
    * standard further scale lever (degree-ordered wedge direction so high-
    * degree nodes never anchor wedges) keeps this plan shape. */
  private def clusteringCoeffQ(s: SparkSession, dir: String): DataFrame =
    clusteringCoeff(Staging.staged(s, dir, "graph_und") {
      edges(s, dir)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
    }).orderBy(col("node"))

  /** PUBLIC core over a prepared undirected simple edge frame (u, v)
    * with u < v and no duplicates — see clusteringCoeffQ. */
  def clusteringCoeff(und: DataFrame): DataFrame = {
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val ab = und.select(col("u").as("a"), col("v").as("b"))
    val bc = und.select(col("u").as("b2"), col("v").as("c"))
    val ac = und.select(col("u").as("a3"), col("v").as("c3"))
    val tris = ab.join(bc, col("b") === col("b2"))
      .join(ac, col("a") === col("a3") && col("c") === col("c3"))
    val triPerNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
    deg.filter(col("deg") >= 2)
      .join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        (floor(lit(2.0d) * coalesce(col("tri_cnt"), lit(0L)).cast("double")
            / (col("deg").cast("double") * (col("deg").cast("double") - lit(1.0d)))
          * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)).as("cc"))
  }

  /** Degree assortativity: Pearson correlation of endpoint degrees over
    * the symmetrized edge list — positive means hubs link to hubs
    * (social-graph texture), negative means hub-and-spoke (the shape of
    * scraped link farms and star botnets); the one-number companion to
    * graph_degree_powerlaw. Plan: the staged undirected edge table joins
    * the node-degree aggregate twice (node-keyed hash joins), each edge
    * contributes both orientations, and the five Pearson moments
    * accumulate as exact BIGINTs (degrees are small ints; Σxy ≤ E·deg²
    * stays far inside 2^63) — ONE aggregate row, the IEEE combination
    * evaluated once in corrRegr's exact spelling. */
  private def assortativityQ(s: SparkSession, dir: String): DataFrame =
    assortativity(Staging.staged(s, dir, "graph_und") {
      edges(s, dir)
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
    })

  /** PUBLIC core over a prepared undirected simple edge frame (u, v)
    * with u < v and no duplicates — see assortativityQ. */
  def assortativity(und: DataFrame): DataFrame = {
    val deg = und
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val sym = withDeg.select(col("du").as("x"), col("dv").as("y"))
      .unionByName(withDeg.select(col("dv").as("x"), col("du").as("y")))
    val m = sym.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    def dbl(c: String) = col(c).cast("double")
    val cov = dbl("n") * dbl("sxy") - dbl("sx") * dbl("sy")
    val varx = dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")
    val vary = dbl("n") * dbl("syy") - dbl("sy") * dbl("sy")
    m.select((col("n") / 2).cast("long").as("n_edges"),
      (floor(cov / sqrt(varx * vary) * lit(1e6) + lit(0.5d)).cast("double")
        / lit(1e6)).as("assortativity"))
  }

  private val BFS_SOURCE = 0L
  private val BFS_HOPS = 4

  /** PUBLIC: BFS shortest-path layers from `source`, bounded at `hops` —
    * the frontier-expansion traversal (single-source shortest path on an
    * unweighted graph). Proper BFS, not path enumeration: each round the
    * CURRENT frontier joins the edge list once and an anti-join against
    * the visited set keeps only newly discovered nodes, so per-round work
    * is O(frontier-adjacent edges) and total work is O(E) across rounds
    * regardless of path multiplicity. localCheckpoint after each round
    * cuts the growing lineage (same discipline as the components loop).
    *
    * Scale: two hash joins per round on the node key; staging `e` means
    * the edge table is scanned once. The round count bounds the plan —
    * the oracle's recursive CTE enumerates PATHS (exponential in the
    * worst case) and is exactly the formulation this operator avoids. */
  def bfsLayers(e: DataFrame, source: Long, hops: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    var visited = Seq((source, 0L)).toDF("node", "dist")
    var frontier = visited
    for (i <- 1 to hops) {
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"), lit(i.toLong).as("dist"))
        .distinct()
        .join(visited.select(col("node").as("vn")),
          col("node") === col("vn"), "left_anti")
        .localCheckpoint(true)
      visited = visited.union(next).localCheckpoint(true)
      frontier = next
    }
    visited
  }

  private def bfsQ(s: SparkSession, dir: String): DataFrame =
    bfsLayers(edges(s, dir), BFS_SOURCE, BFS_HOPS).orderBy(col("node"))

  /** Connected components over the (undirected view of the) edge graph —
    * the community/partition primitive link-level dedup and corpus
    * clustering both reduce to. Reuses the components kernel
    * (`DedupOps.clusterPairs`), which runs in one task, with memory linear
    * in the node count, and summarizes one row per component: id = min
    * member node, size. Oracle = the
    * recursive min-reachable-id closure, the same formulation
    * dedup_clusters pins. */
  private def componentsQ(s: SparkSession, dir: String): DataFrame =
    DedupOps.clusterPairs(
        edges(s, dir).select(col("src").as("d1"), col("dst").as("d2")))
      .groupBy(col("cluster_id").as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("component_id"))

  /** Deterministic integer edge weights (1..9) over the same thinned
    * graph: exact arithmetic end-to-end, so relaxation sums are
    * bit-identical in both engines; parallel (src, dst) duplicates keep
    * the MIN weight. Staged — every relaxation round rescans it. */
  private def weightedEdges(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "graph_wedges") {
      graft.Tables(s, dir, "lineitem")
        .filter((col("l_orderkey") + col("l_partkey")) % 20 === 0)
        .select((col("l_orderkey") % 2000).as("src"),
          ((col("l_orderkey") * 7 + col("l_partkey")) % 2000).as("dst"),
          (lit(1L) + (col("l_orderkey") * 3 + col("l_partkey")) % 9).as("w"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
    }

  private val weightedEdgesSql: String =
    """wedges AS (
      |  SELECT l_orderkey % 2000 AS src,
      |    (l_orderkey * 7 + l_partkey) % 2000 AS dst,
      |    MIN(1 + (l_orderkey * 3 + l_partkey) % 9) AS w
      |  FROM lineitem
      |  WHERE (l_orderkey + l_partkey) % 20 = 0
      |    AND l_orderkey % 2000 <> (l_orderkey * 7 + l_partkey) % 2000
      |  GROUP BY 1, 2
      |)""".stripMargin

  private val SSSP_SOURCE = 0L
  private val SSSP_ROUNDS = 4

  /** PUBLIC: weighted single-source shortest paths, bounded at `rounds`
    * relaxation rounds (= shortest path over at most `rounds` hops) —
    * frontier Bellman-Ford as iterative dataflow. Each round relaxes
    * ONLY the frontier (nodes whose distance improved last round), so
    * per-round work is O(frontier-adjacent edges), the weighted analogue
    * of [[bfsLayers]]'s discipline; a converged (unbounded) run is the
    * same loop driven to an empty frontier with rounds ~ graph diameter.
    * Integer weights keep every relaxation sum exact in both engines.
    * localCheckpoint per round cuts the growing lineage. Callers should
    * stage/persist `e` — it is rescanned every round. */
  def sssp(e: DataFrame, source: Long, rounds: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    var dist = Seq((source, 0L)).toDF("node", "dist")
    var frontier = dist
    for (_ <- 1 to rounds) {
      val cand = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("cn"), (col("dist") + col("w")).as("nd"))
        .groupBy(col("cn")).agg(min(col("nd")).as("nd"))
      val improved = cand
        .join(dist, cand("cn") === dist("node"), "left")
        .filter(col("node").isNull || col("nd") < col("dist"))
        .select(col("cn").as("node"), col("nd").as("dist"))
        .localCheckpoint(true)
      dist = dist.join(improved.select(col("node").as("inode")),
          col("node") === col("inode"), "left_anti")
        .union(improved)
        .localCheckpoint(true)
      frontier = improved
    }
    dist
  }

  private def ssspQ(s: SparkSession, dir: String): DataFrame =
    sssp(weightedEdges(s, dir), SSSP_SOURCE, SSSP_ROUNDS)
      .orderBy(col("node"))

  private val KCORE_K = 3
  // peeling depth is densest near the k-core threshold: the sf0.01 graph
  // (avg degree ~3 = critical for k=3) peels in 15 rounds; sf0.1 (~28) in
  // 1; 20 covers the worst corpus with margin and the loop exits at the
  // first zero-peel round anyway
  private val KCORE_ROUNDS = 20

  /** PUBLIC: k-core decomposition (the maximal subgraph where every node
    * keeps degree >= k) by iterative peeling: drop nodes below k, filter
    * their edges, repeat. Each round is one degree aggregation plus two
    * semi-joins on the (shrinking) edge set — the standard distributed
    * k-core dataflow; rounds needed = the peeling depth, typically small
    * on heavy-tailed graphs because whole low-degree layers vanish per
    * round. Runs exactly `rounds` rounds and REQUIRES the fixpoint was
    * reached by then (the final round must peel nothing), so an
    * unconverged run fails loudly instead of returning a too-large core —
    * the discipline the components kernel pins (see r9 ADVICE).
    * localCheckpoint per round cuts the growing lineage; the driver-side
    * count per round is one long over a category-free aggregate. */
  def kcore(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    var und = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
      .localCheckpoint(true)
    var nEdges = und.count()
    var converged = false
    var r = 0
    while (r < rounds && !converged) {
      val keep = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("u").as("kn"))
      val pruned = und
        .join(keep, und("u") === keep("kn"), "left_semi")
        .join(keep, und("v") === keep("kn"), "left_semi")
        .localCheckpoint(true)
      val n = pruned.count()
      converged = n == nEdges // monotone peel: a zero-peel round is stable
      nEdges = n
      und = pruned
      r += 1
    }
    require(converged,
      s"k-core peeling did not converge within $rounds rounds " +
        s"($nEdges directed edges still unstable)")
    und.groupBy(col("u").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  private def kcoreQ(s: SparkSession, dir: String): DataFrame =
    kcore(edges(s, dir), KCORE_K, KCORE_ROUNDS).orderBy(col("node"))

  private val LP_TOPK = 50

  /** PUBLIC: link prediction by neighborhood overlap — for every
    * NON-adjacent pair sharing at least one neighbor, the Jaccard score
    * |N(a)∩N(b)| / |N(a)∪N(b)| (common neighbors from ONE wedge
    * equi-join on the middle vertex — the triangle-counting shape, never
    * all-pairs; the union from exact degrees: da + db − cn). Existing
    * edges anti-join away; emits the `topK` strongest predicted links
    * under a deterministic (score, a, b) order. For heavy-tailed degree
    * distributions the wedge join skews on hubs — orient/salt by degree
    * exactly as the triangles operator documents. */
  def linkPredict(e: DataFrame, topK: Int): DataFrame = {
    // materialized once (three consumers: wedges twice + the anti join);
    // same eager-localCheckpoint discipline as bfs/sssp/kcore
    val undS = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
      .localCheckpoint(true)
    val deg = undS.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    // wedges pivot on the middle vertex m: a -- m -- b with a < b
    val cn = undS.select(col("v").as("m"), col("u").as("a"))
      .join(undS.select(col("v").as("m2"), col("u").as("b")),
        col("m") === col("m2") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cn"))
    val nonAdj = cn.join(
      undS.select(col("u").as("a"), col("v").as("b")), Seq("a", "b"),
      "left_anti")
    nonAdj
      .join(deg.select(col("u").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("u").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("cn"),
        (col("da") + col("db") - col("cn")).as("un"))
      .select(col("a"), col("b"), col("cn"),
        (floor(col("cn").cast("double") / col("un").cast("double")
          * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)
      .limit(topK)
  }

  private def linkPredictQ(s: SparkSession, dir: String): DataFrame =
    linkPredict(edges(s, dir), LP_TOPK)
      .orderBy(col("jaccard").desc, col("a").asc, col("b").asc)

  private val LPA_ROUNDS = 4

  /** PUBLIC: synchronous label propagation (community detection) for a
    * FIXED round count: every node simultaneously adopts the most
    * frequent label among its (undirected) neighbors, ties to the
    * smallest label — fully deterministic, unlike classic randomized
    * LPA, so both engines replay it bit-identically. Semantics ARE "the
    * labels after exactly `rounds` synchronous updates" (LPA has no
    * guaranteed fixpoint — labels can 2-cycle on bipartite structure —
    * so a convergence contract would be wrong; fixed-round is how
    * deterministic LPA is specified). The argmax is (count desc, label
    * asc) under Catalyst's own interpreted ordering (binary UTF8String
    * order — the window's lbl.asc, and DuckDB's), counts are exact longs,
    * and SQL join-on-v null semantics hold: a null-v pair delivers no
    * label, and a null node still receives labels from its neighbors.
    * Each round replaces the label table, so a node whose every
    * neighbor is null drops out of it.
    *
    * The kernel runs in one task, with memory linear in the edge count. */
  def labelPropagate(e: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val s = e.sparkSession
    val pairs = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
    val dt = pairs.schema("u").dataType
    def copyOf(v: Any): Any = v match {
      case u: UTF8String => u.copy()
      case r: InternalRow => r.copy()
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
      case x => NodeKey.unifyZero(x)
    }
    val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(dt)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", dt, nullable = true),
      org.apache.spark.sql.types.StructField("lbl", dt, nullable = true)))
    val rows = pairs.queryExecution.toRdd
      .mapPartitions(_.map(r =>
        (copyOf(r.get(1, dt)), copyOf(r.get(0, dt)))))
      .coalesce(1)
      .mapPartitions { it =>
        // distinct (v, u) pairs; java HashMap/HashSet keys give the boxed
        // equality SQL grouping uses (±0 unified by copyOf)
        val seen = new java.util.HashSet[(Any, Any)]()
        val vu = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
        it.foreach(p => if (seen.add(p)) vu += p)
        var labels = new java.util.HashMap[Any, Any]()
        vu.foreach { case (_, u) =>
          if (!labels.containsKey(u)) labels.put(u, u)
        }
        for (_ <- 1 to rounds) {
          // (u, lbl(v)) counts over non-null-v pairs whose v has a label
          val counts = new java.util.HashMap[(Any, Any), java.lang.Long]()
          vu.foreach { case (v, u) =>
            if (v != null && labels.containsKey(v)) {
              counts.merge((u, labels.get(v)), 1L, (x, y) =>
                java.lang.Long.valueOf(x.longValue + y.longValue))
            }
          }
          // per-u argmax (count desc, label asc) — comparison-total, so
          // the fold order cannot matter
          val best = new java.util.HashMap[Any, (Any, java.lang.Long)]()
          val ci = counts.entrySet().iterator()
          while (ci.hasNext) {
            val en = ci.next()
            val (u, lbl) = en.getKey
            val c = en.getValue
            val cur = best.get(u)
            if (cur == null || c.longValue > cur._2.longValue ||
              (c.longValue == cur._2.longValue &&
                ord.compare(lbl, cur._1) < 0))
              best.put(u, (lbl, c))
          }
          val next = new java.util.HashMap[Any, Any]()
          val bi = best.entrySet().iterator()
          while (bi.hasNext) {
            val en = bi.next()
            next.put(en.getKey, en.getValue._1)
          }
          labels = next
        }
        val out = Seq.newBuilder[InternalRow]
        val li = labels.entrySet().iterator()
        while (li.hasNext) {
          val en = li.next()
          val g = new GenericInternalRow(2)
          g.update(0, en.getKey); g.update(1, en.getValue)
          out += (g: InternalRow)
        }
        out.result().iterator
      }
    org.apache.spark.sql.classic.GraftSqlInternals.internalCreateDataFrame(
      s, rows, outSchema)
  }

  /** The LPA partition over the corpus graph, ONE run per (session,
    * corpus) pass — graph_label_prop reports its community sizes and
    * graph_modularity scores the same partition (r16 optimization: the
    * two queries each ran the full 4-round ladder; production detects
    * communities once and evaluates the same labels). */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "lpa_labels")(
      labelPropagate(edges(s, dir), LPA_ROUNDS))

  private def labelPropQ(s: SparkSession, dir: String): DataFrame =
    lpaLabels(s, dir)
      .groupBy(col("lbl").as("community_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("community_id"))

  /** Modularity Q of a node partition (here: the labelPropagate
    * communities) — the quality metric that makes community detection
    * actionable: graph_label_prop SAYS what the communities are; this
    * says whether the partition is better than chance. Per community c:
    * q_term = L_c/m − (D_c/2m)², with L_c = intra-community undirected
    * edges, D_c = total degree inside c, m = undirected edge count;
    * Q = Σ q_term (Newman–Girvan).
    *
    * Exactness: L_c, D_c, m are exact BIGINTs; the two divisions and one
    * square run once per community row, spelled identically in both
    * engines and rounded 6 dp (the floor(x·1e6+0.5) contract shared with
    * the other graph fits).
    *
    * Shape at scale: degree and intra-edge counts are partial-aggregable
    * corpus-shuffles keyed by node/community (never all-pairs); m rides
    * as a broadcast 1-row frame; output is community-space. The labels
    * join is one node-keyed equi-join. */
  def modularity(e: DataFrame, labels: DataFrame): DataFrame = {
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)
    val und = e.select(col("src").as("u"), col("dst").as("v"))
      .union(e.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
      .localCheckpoint(true)
    val nl = labels.select(col("node"), col("lbl"))
    // und holds both directions, so per-u row count IS the degree and
    // |und|/2 is the undirected edge count (src≠dst by construction)
    val degC = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .join(nl, col("u") === col("node"))
      .groupBy(col("lbl"))
      .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
    val intra = und.filter(col("u") < col("v"))
      .join(nl.select(col("node").as("u"), col("lbl").as("lu")), "u")
      .join(nl.select(col("node").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("intra_edges"))
    val m = broadcast(und.agg((count(lit(1)) / 2).cast("long").as("m")))
    val md = col("m").cast("double")
    degC.join(intra, Seq("lbl"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(m)
      .select(col("lbl").as("community_id"), col("n_nodes"),
        col("intra_edges"), col("deg_sum"),
        r6(col("intra_edges").cast("double") / md
          - (col("deg_sum").cast("double") / (lit(2.0d) * md))
            * (col("deg_sum").cast("double") / (lit(2.0d) * md)))
          .as("q_term"))
      .orderBy(col("community_id"))
  }

  private def modularityQ(s: SparkSession, dir: String): DataFrame =
    modularity(edges(s, dir), lpaLabels(s, dir))

  /** Degree distribution + power-law fit — the first structural health
    * check run on a crawl/link graph (a degree histogram that is NOT
    * heavy-tailed usually means the extraction is broken). Total degree
    * per node (one union + hash aggregate), histogram over the degree
    * values (degree-cardinality-sized — tiny at any scale), then an OLS
    * line through the (ln degree, ln count) points with the exact-moment
    * discipline of rel_corr_regr: each log is rounded 6 dp (ln is 1-ulp
    * engine-dependent), moments accumulate in exact decimal, the IEEE
    * formula runs once on the single result row. Heavy-tailed graphs fit
    * a clearly negative slope. */
  def degreePowerlaw(e: DataFrame): DataFrame = {
    val dec = Exact.dec
    val hist = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
    val pts = hist.select(
      round(log(col("deg").cast("double")), 6).as("x"),
      round(log(col("n_nodes").cast("double")), 6).as("y"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).cast("double").as("sx"),
      sum(col("y").cast(dec)).cast("double").as("sy"),
      sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
      sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"),
      sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"))
    val nd = col("n").cast("double")
    def dbl(c: String) = col(c)
    val cov = nd * dbl("sxy") - dbl("sx") * dbl("sy")
    val varx = nd * dbl("sxx") - dbl("sx") * dbl("sx")
    val vary = nd * dbl("syy") - dbl("sy") * dbl("sy")
    val slope = cov / varx
    def r6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5d)).cast("double") / lit(1e6)
    m.select(col("n").as("n_points"),
      r6(slope).as("slope"),
      r6((dbl("sy") - slope * dbl("sx")) / nd).as("intercept"),
      r6(cov / sqrt(varx * vary)).as("corr"))
  }

  private def degreePowerlawQ(s: SparkSession, dir: String): DataFrame =
    degreePowerlaw(edges(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> pagerankQ,
    "graph_triangles" -> trianglesQ,
    "graph_clustering_coeff" -> clusteringCoeffQ,
    "graph_assortativity" -> assortativityQ,
    "graph_hits" -> hitsQ,
    "graph_bfs_layers" -> bfsQ,
    "graph_components" -> componentsQ,
    "graph_sssp" -> ssspQ,
    "graph_kcore" -> kcoreQ,
    "graph_label_prop" -> labelPropQ,
    "graph_link_predict" -> linkPredictQ,
    "graph_degree_powerlaw" -> degreePowerlawQ,
    "graph_modularity" -> modularityQ,
  )

  /** Unrolled synchronous LPA rounds; MATERIALIZED for the same
    * double-reference expansion reason as the k-core ladder. Shared by
    * the label-prop and modularity oracles (the final label table is
    * `l$LPA_ROUNDS`). */
  private val labelPropCtes: String = {
    def round(prev: String, r: Int): String =
      s"""c$r AS MATERIALIZED (
         |  SELECT e.u, l.lbl, COUNT(*) AS c
         |  FROM und e JOIN $prev l ON e.v = l.node GROUP BY 1, 2
         |), l$r AS MATERIALIZED (
         |  SELECT u AS node, lbl FROM (
         |    SELECT u, lbl, ROW_NUMBER() OVER (PARTITION BY u
         |      ORDER BY c DESC, lbl ASC) AS rk
         |    FROM c$r
         |  ) WHERE rk = 1
         |)""".stripMargin
    s"""$edgesSql,
       |und AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM edges
       |  UNION SELECT dst, src FROM edges
       |),
       |l0 AS MATERIALIZED (
       |  SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM und)
       |),
       |${(1 to LPA_ROUNDS).map(r => round(s"l${r - 1}", r)).mkString(",\n")}""".stripMargin
  }

  private val labelPropSql: String =
    s"""WITH $labelPropCtes
       |SELECT lbl AS community_id, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |FROM l$LPA_ROUNDS GROUP BY 1 ORDER BY community_id""".stripMargin

  /** Same exact-integer L_c/D_c/m counts over the l$LPA_ROUNDS labels;
    * the q_term divisions and square spelled once, floor-rounded 6 dp. */
  private val modularitySql: String =
    s"""WITH $labelPropCtes,
       |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY u),
       |mm AS (SELECT CAST(COUNT(*) / 2 AS BIGINT) AS m FROM und),
       |degc AS (
       |  SELECT l.lbl, CAST(SUM(d.deg) AS BIGINT) AS deg_sum,
       |    CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM deg d JOIN l$LPA_ROUNDS l ON d.u = l.node GROUP BY 1
       |),
       |intra AS (
       |  SELECT lu.lbl, CAST(COUNT(*) AS BIGINT) AS intra_edges
       |  FROM und e
       |  JOIN l$LPA_ROUNDS lu ON e.u = lu.node
       |  JOIN l$LPA_ROUNDS lv ON e.v = lv.node
       |  WHERE e.u < e.v AND lu.lbl = lv.lbl
       |  GROUP BY 1
       |)
       |SELECT degc.lbl AS community_id, n_nodes,
       |  CAST(COALESCE(intra_edges, 0) AS BIGINT) AS intra_edges, deg_sum,
       |  CAST(floor((CAST(COALESCE(intra_edges, 0) AS DOUBLE) / CAST(m AS DOUBLE)
       |    - (CAST(deg_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))
       |      * (CAST(deg_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))
       |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS q_term
       |FROM degc LEFT JOIN intra ON degc.lbl = intra.lbl
       |CROSS JOIN mm
       |ORDER BY community_id""".stripMargin

  /** Unrolled peeling ladder — round r keeps nodes with degree >= k in the
    * round-(r-1) edge set. The Spark side proves fixpoint-by-`rounds`
    * (require), so `rounds` unrolled CTE layers equal the fixpoint. */
  private val kcoreSql: String = {
    // MATERIALIZED: each layer references its predecessor twice (degree
    // filter + edge filter) — inlined, the 20-layer ladder expands 2^20
    // copies of the base scan and exhausts file handles
    def round(prev: String, r: Int): String =
      s"""k$r AS MATERIALIZED (
         |  SELECT u FROM (SELECT u, COUNT(*) AS c FROM $prev GROUP BY u)
         |  WHERE c >= $KCORE_K
         |), u$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM $prev e
         |  JOIN k$r a ON e.u = a.u JOIN k$r b ON e.v = b.u
         |)""".stripMargin
    s"""WITH $edgesSql,
       |u0 AS MATERIALIZED (
       |  SELECT src AS u, dst AS v FROM edges
       |  UNION SELECT dst, src FROM edges
       |),
       |${(1 to KCORE_ROUNDS).map(r => round(s"u${r - 1}", r)).mkString(",\n")}
       |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_deg
       |FROM u$KCORE_ROUNDS GROUP BY u ORDER BY node""".stripMargin
  }

  private val pagerankSql: String = {
    val baseU = math.round((1 - DAMP) * SCALE)
    val dampPct = math.round(DAMP * 100)
    def iter(prev: String, k: Int): String =
      s"""c$k AS (
         |  SELECT e.dst, r.r_u // d.deg AS c_u
         |  FROM edges e JOIN deg d ON e.src = d.src JOIN $prev r ON e.src = r.node
         |), s$k AS (
         |  SELECT dst, CAST(SUM(c_u) AS BIGINT) AS sd FROM c$k GROUP BY dst
         |), r$k AS (
         |  SELECT n.node,
         |    $baseU // (SELECT n_nodes FROM nn) +
         |    ($dampPct * COALESCE(s.sd, 0)) // 100 AS r_u
         |  FROM nodes n LEFT JOIN s$k s ON n.node = s.dst
         |)""".stripMargin
    s"""WITH $edgesSql,
       |nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
       |), nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
       |r0 AS (SELECT node, $SCALE // (SELECT n_nodes FROM nn) AS r_u FROM nodes),
       |${(1 to ITERS).map(k => iter(s"r${k - 1}", k)).mkString(",\n")}
       |SELECT node, CAST(r_u AS BIGINT) AS rank_fp,
       |  CAST(r_u AS DOUBLE) / ${SCALE.toDouble} AS rank
       |FROM r$ITERS ORDER BY node""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // same histogram + rounded-log OLS, decimal moments, identical
    // IEEE formula spelling (the rel_corr_regr discipline)
    "graph_degree_powerlaw" ->
      s"""WITH RECURSIVE $edgesSql,
         |nd AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT src AS node FROM edges
         |    UNION ALL SELECT dst AS node FROM edges
         |  ) GROUP BY node
         |), hist AS (
         |  SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nd GROUP BY deg
         |), pts AS (
         |  SELECT round(ln(CAST(deg AS DOUBLE)), 6) AS x,
         |    round(ln(CAST(n_nodes AS DOUBLE)), 6) AS y
         |  FROM hist
         |), m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(x * x AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(y * y AS DECIMAL(30,6))) AS DOUBLE) AS syy,
         |    CAST(SUM(CAST(x * y AS DECIMAL(30,6))) AS DOUBLE) AS sxy
         |  FROM pts
         |), f AS (
         |  SELECT n, CAST(n AS DOUBLE) AS nd, sx AS sxd, sy AS syd,
         |    CAST(n AS DOUBLE) * sxy - sx * sy AS cov,
         |    CAST(n AS DOUBLE) * sxx - sx * sx AS varx,
         |    CAST(n AS DOUBLE) * syy - sy * sy AS vary
         |  FROM m
         |)
         |SELECT n AS n_points,
         |  CAST(floor((cov / varx) * 1e6 + 0.5) AS DOUBLE) / 1e6 AS slope,
         |  CAST(floor(((syd - (cov / varx) * sxd) / nd) * 1e6 + 0.5) AS DOUBLE) / 1e6
         |    AS intercept,
         |  CAST(floor((cov / sqrt(varx * vary)) * 1e6 + 0.5) AS DOUBLE) / 1e6
         |    AS corr
         |FROM f""".stripMargin,
    // hop-bounded path enumeration + MIN — the formulation the frontier
    // relaxation avoids (exponential in path multiplicity); integer
    // weights make every path sum exact in both engines
    "graph_sssp" ->
      s"""WITH RECURSIVE $weightedEdgesSql,
         |paths AS (
         |  SELECT CAST($SSSP_SOURCE AS BIGINT) AS node,
         |    CAST(0 AS BIGINT) AS dist, 0 AS hops
         |  UNION ALL
         |  SELECT e.dst, p.dist + e.w, p.hops + 1
         |  FROM paths p JOIN wedges e ON e.src = p.node
         |  WHERE p.hops < $SSSP_ROUNDS
         |)
         |SELECT node, MIN(dist) AS dist FROM paths GROUP BY node
         |ORDER BY node""".stripMargin,
    "graph_bfs_layers" ->
      s"""WITH RECURSIVE $edgesSql,
         |bfs AS (
         |  SELECT CAST($BFS_SOURCE AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist
         |  UNION ALL
         |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.node
         |  WHERE b.dist < $BFS_HOPS
         |)
         |SELECT node, MIN(dist) AS dist FROM bfs GROUP BY node
         |ORDER BY node""".stripMargin,
    "graph_pagerank" -> pagerankSql,
    "graph_kcore" -> kcoreSql,
    "graph_label_prop" -> labelPropSql,
    "graph_modularity" -> modularitySql,
    "graph_link_predict" ->
      s"""WITH $edgesSql,
         |und AS MATERIALIZED (
         |  SELECT src AS u, dst AS v FROM edges
         |  UNION SELECT dst, src FROM edges
         |), deg AS (
         |  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY u
         |), cn AS (
         |  SELECT x.u AS a, y.u AS b, CAST(COUNT(*) AS BIGINT) AS cn
         |  FROM und x JOIN und y ON x.v = y.v AND x.u < y.u
         |  GROUP BY 1, 2
         |), nonadj AS (
         |  SELECT cn.* FROM cn
         |  LEFT JOIN und ON cn.a = und.u AND cn.b = und.v
         |  WHERE und.u IS NULL
         |), scored AS (
         |  SELECT n.a, n.b, n.cn,
         |    CAST(floor(CAST(n.cn AS DOUBLE)
         |      / CAST(da.deg + db.deg - n.cn AS DOUBLE) * 1e6 + 0.5)
         |      AS DOUBLE) / 1e6 AS jaccard
         |  FROM nonadj n
         |  JOIN deg da ON n.a = da.u JOIN deg db ON n.b = db.u
         |)
         |SELECT a, b, cn, jaccard FROM scored
         |ORDER BY jaccard DESC, a, b LIMIT $LP_TOPK""".stripMargin,
    // component id = min reachable node over the undirected graph
    "graph_components" ->
      s"""WITH RECURSIVE $edgesSql,
         |und AS (
         |  SELECT src AS u, dst AS v FROM edges
         |  UNION SELECT dst, src FROM edges
         |), reach(u, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM und)
         |  UNION
         |  SELECT e.u, reach.r FROM und e JOIN reach ON e.v = reach.u
         |), lab AS (
         |  SELECT u, MIN(r) AS component_id FROM reach GROUP BY u
         |)
         |SELECT component_id, COUNT(*) AS n_nodes
         |FROM lab GROUP BY 1 ORDER BY component_id""".stripMargin,
    "graph_triangles" ->
      s"""WITH $edgesSql,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges
         |)
         |SELECT (SELECT COUNT(*) FROM und ab
         |        JOIN und bc ON ab.v = bc.u
         |        JOIN und ac ON ab.u = ac.u AND bc.v = ac.v) AS n_triangles,
         |       (SELECT COUNT(*) FROM und) AS n_edges""".stripMargin,
    "graph_hits" -> {
      val steps = (1 to HITS_ITERS).map { k =>
        s"""araw$k AS MATERIALIZED (
           |  SELECT e.dst, CAST(SUM(h.hs) AS BIGINT) AS ar
           |  FROM edges e JOIN hh${k - 1} h ON e.src = h.node GROUP BY e.dst
           |), ta$k AS MATERIALIZED (
           |  SELECT CAST(SUM(ar) AS BIGINT) AS ta FROM araw$k
           |), aa$k AS MATERIALIZED (
           |  SELECT n.node,
           |    COALESCE(r.ar, 0) // greatest(t.ta // $HSCALE, 1) AS as_
           |  FROM nodes n LEFT JOIN araw$k r ON n.node = r.dst
           |  CROSS JOIN ta$k t
           |), hraw$k AS MATERIALIZED (
           |  SELECT e.src, CAST(SUM(a.as_) AS BIGINT) AS hr
           |  FROM edges e JOIN aa$k a ON e.dst = a.node GROUP BY e.src
           |), th$k AS MATERIALIZED (
           |  SELECT CAST(SUM(hr) AS BIGINT) AS th FROM hraw$k
           |), hh$k AS MATERIALIZED (
           |  SELECT n.node,
           |    COALESCE(r.hr, 0) // greatest(t.th // $HSCALE, 1) AS hs
           |  FROM nodes n LEFT JOIN hraw$k r ON n.node = r.src
           |  CROSS JOIN th$k t
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesSql,
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT node FROM (
         |    SELECT src AS node FROM edges
         |    UNION ALL SELECT dst AS node FROM edges)
         |), hh0 AS MATERIALIZED (
         |  SELECT node, CAST($HSCALE AS BIGINT) AS hs FROM nodes
         |),
         |$steps
         |SELECT h.node, h.hs AS hub_fp, a.as_ AS auth_fp,
         |  CAST(h.hs AS DOUBLE) / $HSCALE.0 AS hub,
         |  CAST(a.as_ AS DOUBLE) / $HSCALE.0 AS auth
         |FROM hh$HITS_ITERS h JOIN aa$HITS_ITERS a USING (node)
         |ORDER BY node""".stripMargin
    },
    "graph_assortativity" ->
      s"""WITH $edgesSql,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges
         |), deg AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
         |  ) GROUP BY node
         |), wd AS (
         |  SELECT du.deg AS du, dv.deg AS dv
         |  FROM und JOIN deg du ON und.u = du.node
         |    JOIN deg dv ON und.v = dv.node
         |), sym AS (
         |  SELECT du AS x, dv AS y FROM wd
         |  UNION ALL SELECT dv AS x, du AS y FROM wd
         |), m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x * x) AS BIGINT) AS sxx,
         |    CAST(SUM(y * y) AS BIGINT) AS syy,
         |    CAST(SUM(x * y) AS BIGINT) AS sxy
         |  FROM sym
         |), f AS (
         |  SELECT n,
         |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
         |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varx,
         |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vary
         |  FROM m
         |)
         |SELECT CAST(n / 2 AS BIGINT) AS n_edges,
         |  CAST(floor(cov / sqrt(varx * vary) * 1e6 + 0.5) AS DOUBLE) / 1e6
         |    AS assortativity
         |FROM f""".stripMargin,
    "graph_clustering_coeff" ->
      s"""WITH $edgesSql,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges
         |), deg AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
         |  ) GROUP BY node
         |), tri AS (
         |  SELECT ab.u AS a, ab.v AS b, bc.v AS c
         |  FROM und ab JOIN und bc ON ab.v = bc.u
         |    JOIN und ac ON ab.u = ac.u AND bc.v = ac.v
         |), tpn AS (
         |  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri_cnt FROM (
         |    SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
         |    UNION ALL SELECT c AS node FROM tri
         |  ) GROUP BY node
         |)
         |SELECT d.node, d.deg, COALESCE(t.tri_cnt, 0) AS tri_cnt,
         |  CAST(floor(2.0 * CAST(COALESCE(t.tri_cnt, 0) AS DOUBLE)
         |      / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0))
         |    * 1e6 + 0.5) AS DOUBLE) / 1e6 AS cc
         |FROM deg d LEFT JOIN tpn t USING (node)
         |WHERE d.deg >= 2 ORDER BY d.node""".stripMargin,
  )
}
