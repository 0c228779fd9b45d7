package graft.ops

import graft.SparkSpec

/** Value pins for the BFS frontier traversal on a hand-built graph. */
class GraphOpsSpec extends SparkSpec {

  import spark.implicits._

  test("clusterPairs: chain graph (diameter >> iteration cap) converges") {
    // a path is the longest component a node count allows: a 2,000-node
    // chain would exhaust any round-based kernel's iteration cap; union-find
    // has no round count, so every node must still label to the minimum id
    val n = 2000L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = DedupOps.clusterPairs(chain).collect()
    assert(labels.length == n.toInt)
    assert(labels.forall(_.getAs[Long]("cluster_id") == 0L),
      "every chain node must label to the minimum node id")
  }

  test("clusterPairs: min-id labels over duplicates, reversed pairs, negative ids and a self-loop; empty in, empty out") {
    //   -5 — 3 — 10        (3, 10) twice and once reversed as (10, 3)
    //   -2 — 21 — 20
    //    7 ⟲               a self-loop is a one-node component
    val pairs = Seq((3L, -5L), (3L, 10L), (3L, 10L), (10L, 3L),
      (20L, 21L), (21L, -2L), (7L, 7L)).toDF("d1", "d2")
    val got = DedupOps.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(-5L -> -5L, -2L -> -2L, 3L -> -5L, 7L -> 7L,
      10L -> -5L, 20L -> -2L, 21L -> -2L))

    val empty = DedupOps.clusterPairs(Seq.empty[(Long, Long)].toDF("d1", "d2"))
    assert(empty.collect().isEmpty)
    assert(empty.schema.map(f => f.name -> f.dataType) == Seq(
      "doc_id" -> org.apache.spark.sql.types.LongType,
      "cluster_id" -> org.apache.spark.sql.types.LongType))
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

  test("hits: fixed-point hub and authority scores pinned on a 6-node graph") {
    // 4 iterations in 1e-12 units; each double column is its fixed-point
    // column over 1e12 (values cross-checked against a plain integer
    // replay of the same half-steps and truncating normalize)
    val e = Seq((1L, 10L), (2L, 10L), (3L, 11L), (10L, 3L), (11L, 1L),
      (2L, 11L), (3L, 10L), (4L, 10L), (4L, 11L)).toDF("src", "dst")
    val rows = GraphOps.hits(e).collect()
    val got = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> ((154224537035L, 578703703L)),
      2L -> ((284866898145L, 0L)),
      3L -> ((284866898145L, 578703703L)),
      4L -> ((284866898145L, 0L)),
      10L -> ((144675925L, 616898148143L)),
      11L -> ((144675925L, 522569444440L))), s"got $got")
    rows.foreach { r =>
      assert(r.getDouble(3) == r.getLong(1).toDouble / 1e12 &&
        r.getDouble(4) == r.getLong(2).toDouble / 1e12, s"row $r")
    }
  }

  test("labelPropagate: labels after 4 rounds pinned, ties to the smaller label") {
    // two triangles {0,1,2} and {10,11,12} bridged by 2-10, plus pendants
    // 5-0 and 6-12. Round 4 by hand (round-3 labels: 0,1,2,5,11,12 -> 0;
    // 6,10 -> 2): node 11 sees labels 2 (via 10) and 0 (via 12) once each
    // and the tie goes to 0; node 12 sees 2 twice (via 10 and 6) and 0
    // once (via 11), so 2 wins on count
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L), (10L, 11L), (10L, 12L),
      (11L, 12L), (2L, 10L), (5L, 0L), (6L, 12L)).toDF("src", "dst")
    val got = GraphOps.labelPropagate(e, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 0L, 6L -> 0L,
      10L -> 0L, 11L -> 0L, 12L -> 2L), s"got $got")
  }

  test("labelPropagate: a null-v pair delivers no label, a null node gets labels") {
    // triangle {0,1,2}, a null node tied to 2, and 5 whose only
    // neighbor is null. Round 1: the null node sees labels 2 and 5 once
    // each and takes 2; node 5 hears only from the null node, whose pair
    // delivers nothing, so 5 drops out of the label table; node 2 counts
    // 0 and 1, not the null node's label
    val e = Seq((Some(0L), Some(1L)), (Some(1L), Some(2L)),
      (Some(0L), Some(2L)), (None, Some(2L)), (Some(5L), None))
      .toDF("src", "dst")
    def labels(rounds: Int) = GraphOps.labelPropagate(e, rounds).collect()
      .map(r => Option(r.get(0)) -> Option(r.get(1))).toMap
    assert(labels(1) == Map(Some(0L) -> Some(1L), Some(1L) -> Some(0L),
      Some(2L) -> Some(0L), None -> Some(2L)), s"round 1: ${labels(1)}")
    // by round 2 the triangle coheres on 0 and the null node follows it
    assert(labels(4) == Map(Some(0L) -> Some(0L), Some(1L) -> Some(0L),
      Some(2L) -> Some(0L), None -> Some(0L)), s"round 4: ${labels(4)}")
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

  test("hits: -0.0 and 0.0 double node ids are one node") {
    val e = Seq((-0.0d, 1.0d), (0.0d, 2.0d), (1.0d, 2.0d)).toDF("src", "dst")
    // raw bits: Scala's == and Set would unify the two zeros themselves
    val nodes = GraphOps.hits(e).collect().map(r =>
      java.lang.Double.doubleToRawLongBits(r.getDouble(0)))
    assert(nodes.sorted.toSeq == Seq(0.0d, 1.0d, 2.0d)
      .map(java.lang.Double.doubleToRawLongBits), s"nodes ${nodes.toSeq}")
  }
}
