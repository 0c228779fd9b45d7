package graft.ops

import graft.SparkSpec

/** Value pins for the BFS frontier traversal on a hand-built graph. */
class GraphOpsSpec extends SparkSpec {

  import spark.implicits._

  test("clusterPairs: chain graph (diameter >> iteration cap) converges") {
    // plain min-label propagation needs ~diameter supersteps — a
    // 2000-node chain would exhaust any fixed cap and, before r10,
    // silently return wrong labels; the pointer-doubling shortcut
    // converges in O(log diameter) and require(converged) guards the rest
    val n = 2000L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = DedupOps.clusterPairs(chain).collect()
    assert(labels.length == n.toInt)
    assert(labels.forall(_.getAs[Long]("cluster_id") == 0L),
      "every chain node must label to the minimum node id")
  }

  test("bfsLayers: shortest distance wins, hop bound respected, unreachable excluded") {
    //    0 -> 1 -> 2 -> 3 -> 4 -> 5      (chain)
    //    0 -> 2                          (shortcut: dist(2) = 1, dist(3) = 2)
    //    9 -> 0                          (upstream of source: unreachable)
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (0L, 2L), (9L, 0L)).toDF("src", "dst")
    val got = GraphOps.bfsLayers(e, 0L, hops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the shortcut must beat the chain path for 2 and 3; 4 is reached at
    // exactly the hop bound via the shortcut; 5 is beyond it; 9 never
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("sssp: cheaper multi-hop path beats direct edge, hop bound respected") {
    //    0 --10--> 3         (direct but expensive)
    //    0 --1--> 1 --1--> 2 --1--> 3   (3 hops, total 3)
    //    3 --1--> 4 --1--> 5 --1--> 6   (6 needs 6 hops via cheap route)
    val e = Seq((0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L),
      (3L, 4L, 1L), (4L, 5L, 1L), (5L, 6L, 1L)).toDF("src", "dst", "w")
    val got = GraphOps.sssp(e, 0L, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 via the cheap 3-hop path; 4 via direct-then-step (10+1=11) OR
    // cheap+step (3+1=4) — 4 hops, in bound; 5 needs 5 hops on the cheap
    // route but 2 on the expensive one (10+1+1=12 at hop 3... direct
    // 0->3 is 1 hop, so 5 = 0->3->4->5 = 12 within 3 hops); 6 likewise
    // 13 within 4 hops
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 12L, 6L -> 13L))
  }

  test("sssp: later rounds improve already-settled nodes through the frontier") {
    // 0 --9--> 2 settles early; the chain 0->1 (1), 1->2 (1) improves 2
    // in round 2; then 2 --1--> 4 must propagate the IMPROVED value
    val e = Seq((0L, 2L, 9L), (0L, 1L, 1L), (1L, 2L, 1L), (2L, 4L, 1L))
      .toDF("src", "dst", "w")
    val got = GraphOps.sssp(e, 0L, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 4L -> 3L))
  }

  test("bfsLayers: cycles terminate and keep first-discovery distance") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val got = GraphOps.bfsLayers(e, 0L, hops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("bfsLayers: source with no out-edges yields just the source") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val got = GraphOps.bfsLayers(e, 0L, hops = 3).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 0L)))
  }

  test("clusteringCoeff: triangle 1, star hub 0, pendant excluded") {
    // triangle {0,1,2} + hub 3 connected to 0,1,2 but its spokes don't
    // interlink beyond the triangle; pendant 4-5 edge has deg-1 nodes
    // except both ARE deg 1 -> excluded entirely
    val und = Seq((0L, 1L), (0L, 2L), (1L, 2L), // triangle
      (0L, 3L), (1L, 3L), (4L, 5L)).toDF("u", "v")
    val got = GraphOps.clusteringCoeff(und)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("cc"))).toMap
    // node 2: deg 2 (0,1), its neighbors connected -> cc 1
    assert(got(2L) == (2L, 1L, 1.0))
    // node 3: deg 2 (0,1), 0-1 edge exists -> triangle (0,1,3) -> cc 1
    assert(got(3L) == (2L, 1L, 1.0))
    // node 0: deg 3 (1,2,3); triangles (0,1,2) and (0,1,3) -> 2 of 3
    // possible neighbor pairs -> cc 2/3
    assert(got(0L)._1 == 3L && got(0L)._2 == 2L)
    assert(got(0L)._3 == math.floor(2.0 / 3.0 * 1e6 + 0.5) / 1e6)
    // deg-1 nodes 4, 5 are absent, not emitted with NULL/0
    assert(!got.contains(4L) && !got.contains(5L))
  }

  test("hits: pure hubs score zero authority and vice versa; dominance orders") {
    // 1,2 -> 10 and 3 -> 11: 10 is the dominant authority (two good
    // hubs), 11 the minor one; 1,2 are better hubs than 3 (they point
    // at the stronger authority); pure hubs have auth 0, pure
    // authorities have hub 0
    val e = Seq((1L, 10L), (2L, 10L), (3L, 11L)).toDF("src", "dst")
    val got = GraphOps.hits(e).collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Double]("hub"), r.getAs[Double]("auth"))).toMap
    assert(got(1L)._2 == 0.0 && got(2L)._2 == 0.0 && got(3L)._2 == 0.0)
    assert(got(10L)._1 == 0.0 && got(11L)._1 == 0.0)
    assert(got(10L)._2 > got(11L)._2, s"10 must dominate: $got")
    assert(got(1L)._1 == got(2L)._1, "symmetric hubs tie exactly")
    assert(got(1L)._1 > got(3L)._1, s"1 beats 3: $got")
  }

  test("hits: iters = 0 is rejected loudly (no half-built result)") {
    val e = Seq((1L, 10L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] { GraphOps.hits(e, 0) }
    assert(ex.getMessage.contains("at least 1 iteration"))
  }

  test("assortativity: star is maximally disassortative (-1)") {
    // hub 0 (deg 4) to four leaves (deg 1): every edge pairs (4,1) —
    // after symmetrization the correlation of (x,y) with y = 5 - x over
    // two point masses is exactly -1
    val star = (1L to 4L).map(l => (0L, l)).toDF("u", "v")
    val row = GraphOps.assortativity(star).collect().head
    assert(row.getAs[Long]("n_edges") == 4L)
    assert(row.getAs[Double]("assortativity") == -1.0)
  }

  test("modularity: two triangles + bridge under the natural partition " +
      "pin the textbook Q terms") {
    // triangles {0,1,2} and {3,4,5} bridged by 2-3: m = 7 undirected
    // edges; with each triangle its own community, L_c = 3 and D_c = 7
    // for both -> q_term = 3/7 - (7/14)^2 = 0.178571 each (Q = 0.357142)
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L)).toDF("src", "dst")
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L),
      (3L, 3L), (4L, 3L), (5L, 3L)).toDF("node", "lbl")
    val got = GraphOps.modularity(e, labels).collect()
      .map(r => r.getAs[Long]("community_id") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("intra_edges"),
          r.getAs[Long]("deg_sum"), r.getAs[Double]("q_term"))).toMap
    assert(got.keySet == Set(0L, 3L))
    assert(got(0L) == ((3L, 3L, 7L, 0.178571)))
    assert(got(3L) == ((3L, 3L, 7L, 0.178571)))
    // everything in ONE community: L = m and D = 2m -> Q = 1 - 1/4*4...
    // q_term = 7/7 - (14/14)^2 = 0 exactly (trivial partition scores 0)
    val one = Seq((0L, 9L), (1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L),
      (5L, 9L)).toDF("node", "lbl")
    val trivial = GraphOps.modularity(e, one).collect()
    assert(trivial.length == 1 && trivial.head.getAs[Double]("q_term") == 0.0)
  }

  test("assortativity: two regular components correlate +1 by degree") {
    // a triangle (all deg 2) plus a single edge (both deg 1): within each
    // component x == y always -> perfect positive degree correlation
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L), (4L, 5L)).toDF("u", "v")
    val row = GraphOps.assortativity(e).collect().head
    assert(row.getAs[Long]("n_edges") == 4L)
    assert(row.getAs[Double]("assortativity") == 1.0)
  }

  test("hits: single-partition fast path equals the distributed kernel") {
    // r17: the size rule runs tiny graphs in ONE task; force the
    // distributed superstep kernel via the test hook and pin equality
    val e = Seq((1L, 10L), (2L, 10L), (3L, 11L), (10L, 3L), (11L, 1L),
      (2L, 11L), (3L, 10L), (4L, 10L), (4L, 11L)).toDF("src", "dst")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val fast = asMap(GraphOps.hits(e))         // size rule -> 1 partition
    val dist = asMap(GraphOps.hitsKernel(e, 4, Some(3)))
    assert(fast == dist, s"fast=$fast dist=$dist")
  }

  test("labelPropagate: fast path equals the distributed kernel") {
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L), (10L, 12L),
      (11L, 12L), (2L, 10L), (5L, 0L), (6L, 12L)).toDF("src", "dst")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = asMap(GraphOps.labelPropagate(e, 4))
    val dist = asMap(GraphOps.lpaKernel(e, 4, Some(3)))
    assert(fast == dist, s"fast=$fast dist=$dist")
  }

  test("labelPropagate: -0.0 and 0.0 double node ids are one node " +
      "(advisor item: boxed-key hashing must match SQL normalization)") {
    val e = Seq((-0.0d, 1.0d), (0.0d, 2.0d), (1.0d, 2.0d)).toDF("src", "dst")
    val got = GraphOps.labelPropagate(e, 2).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(0.0d, 1.0d, 2.0d),
      s"-0.0 must normalize to 0.0, got nodes ${got.keySet}")
    assert(got.values.toSet.size == 1, s"triangle must cohere: $got")
  }

  test("hits: -0.0 and 0.0 double node ids are one node on both kernels") {
    val e = Seq((-0.0d, 1.0d), (0.0d, 2.0d), (1.0d, 2.0d)).toDF("src", "dst")
    for (df <- Seq(GraphOps.hits(e), GraphOps.hitsKernel(e, 4, Some(3)))) {
      // raw bits: Scala's == and Set would unify the two zeros themselves
      val nodes = df.collect().map(r =>
        java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
      assert(nodes.sorted.toSeq == Seq(0.0d, 1.0d, 2.0d)
        .map(java.lang.Double.doubleToRawLongBits), s"nodes ${nodes.toSeq}")
    }
  }
}
