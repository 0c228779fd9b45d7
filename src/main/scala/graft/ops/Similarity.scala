package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Exact._

/** Similarity search over the embedding column (Array[Float], dim 64):
  * brute-force cosine top-k as the correctness baseline, sign-LSH bucketed
  * ANN as the scale path, plus per-label embedding statistics.
  *
  * Numerics: floats are cast to double up front and every reduction is a
  * sequential left fold (Spark `aggregate` HOF / DuckDB `list_reduce`), so
  * both engines produce bit-identical dot products; similarities are rounded
  * to 6 dp as the comparison contract.
  *
  * Scale posture: the query set is broadcast (ANN queries are always tiny
  * relative to the corpus); candidates stream map-side with no shuffle until
  * the per-query top-k (a partial-aggregating window on q_id). The LSH
  * variant prunes candidates by bucket equality BEFORE any pairing — at
  * 100 TB you'd add more planes (more buckets) and multi-probe, same plan
  * shape.
  */
object Similarity {

  private val K = 5
  private val N_QUERIES = 8
  private val LSH_DIMS = Seq(1, 9, 17, 25) // 1-based dims read as hyperplane signs

  private def emb(s: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    graft.Tables.balanced(s, dir, "embeddings", "vec_id")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
  }

  // codegen'd kernel (graft.functions.DotProduct) — bit-identical to the
  // `aggregate(zip_with(a, b, _*_), 0.0, _+_)` HOF fold it replaces
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dot(a, b)

  private def norm(a: Column): Column =
    graft.functions.VectorFunctions.norm(a)

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", norm(col("v")))

  /** Brute-force cosine top-k: every candidate scored against each of the
    * broadcast query vectors, then per-query top-k. */
  private def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(s, dir))
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = e.filter(col("vec_id") >= N_QUERIES)
    val scored = cand.join(broadcast(q))
      .withColumn("sim", round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** ONE brute-force exact-truth pass per corpus per pass: every corpus
    * vector scored against each of the N_QUERIES broadcast query vectors,
    * BOTH metrics in one projection — rounded cosine (what ann_exact and
    * the hybrid family's exact semantic arm rank by) and UNROUNDED squared
    * L2 (the PQ family's truth ranks on full-precision d; cosine is the
    * only rounded metric) — plus the label column the filtered-ANN
    * truth predicates on. Staged under a single key: sim_ann_recall,
    * sim_pq_recall and text_hybrid_recall all derive their ground truth
    * from THIS frame, so the O(corpus × queries) scoring scan runs once
    * per verify/bench pass instead of once per recall pin (it was three
    * separate stagings computing the same pair family; text_hybrid_recall
    * was the suite's most expensive steady query largely for that
    * reason). Candidate-set and metric selection stay per-consumer:
    * filters and K-windows over the staged pairs are cheap next to the
    * dot-product scan they used to repeat. */
  private[ops] def exactScoredPairs(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "exact_truth_pairs") {
      val e = withNorm(emb(s, dir))
      val q = e.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      e.join(broadcast(q))
        .withColumn("sim",
          round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
        .withColumn("d", sqdist(col("v"), col("qv")))
        .select(col("q_id"), col("vec_id"), col("label"), col("sim"),
          col("d"))
    }

  private val MMR_N = 20    // candidate pool per query (the ANN result size)
  private val MMR_K = 6     // diversified picks per query
  private val MMR_LAM = 0.7 // relevance weight; 1-λ penalizes redundancy

  /** Maximal-marginal-relevance re-ranking: greedily pick K of the top-N
    * candidates, each step maximizing λ·rel(c) − (1−λ)·max_{s∈selected}
    * sim(c, s) — the diversification pass a retrieval stack runs between
    * ANN candidate generation and the context window, so near-duplicate
    * hits don't crowd out coverage.
    *
    * Shape at scale: the candidate pool is the ANN serve output — N per
    * query, NEVER the corpus — so the pairwise-similarity frame is N²
    * per query (bounded, embarrassingly parallel across queries) and
    * each greedy step is a bounded join + per-query argmax window over
    * query-count-sized frames. The selection is inherently sequential in
    * K (each pick conditions the next) but K is a small constant; all
    * queries advance through step t TOGETHER in one dataflow — no
    * per-query driver loop, no collect. Candidates and the pair matrix
    * are staged once and shared by all K steps (Catalyst doesn't dedupe
    * common subtrees across the step lineage).
    *
    * Determinism: rel and pair sims are 6 dp-rounded cosines (the
    * sim_cosine contract); the MMR score is ONE double expression over
    * those rounded inputs with literal λ, bit-identical cross-engine, so
    * the argmax (score desc, vec_id asc) picks identical rows; maxsim
    * over rounded doubles is order-free. The oracle unrolls the K greedy
    * steps as a generated CTE ladder from the SAME constants. */
  private def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val cand = Staging.staged(s, dir, "mmr_cand") {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      exactScoredPairs(s, dir).filter(col("vec_id") >= N_QUERIES)
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= MMR_N)
        .select(col("q_id"), col("vec_id"), col("sim").as("rel"))
    }
    val pairs = Staging.staged(s, dir, "mmr_pairs") {
      val e = withNorm(emb(s, dir)).select(col("vec_id"), col("v"), col("nrm"))
      val cv = cand.join(e, "vec_id")
        .select(col("q_id"), col("vec_id"), col("v"), col("nrm"))
      cv.as("a").join(cv.as("b"),
          col("a.q_id") === col("b.q_id") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.q_id").as("q_id"), col("a.vec_id").as("a_id"),
          col("b.vec_id").as("b_id"),
          round(dot(col("a.v"), col("b.v"))
            / (col("a.nrm") * col("b.nrm")), 6).as("psim"))
    }
    mmrSelect(cand, pairs, MMR_K, MMR_LAM)
      .orderBy(col("q_id"), col("step"))
  }

  /** The greedy MMR core over a prepared candidate frame
    * (q_id, vec_id, rel) and directional pair-sim frame
    * (q_id, a_id, b_id, psim) — see mmrRerank for the contract. Exposed
    * for spec-level semantics pins on hand fixtures.
    *
    * r16 rework (optimization round): the former implementation ran the K
    * greedy steps as a Catalyst ladder — per pick an anti-join, a
    * max-sim join, a per-query argmax window and an eager localCheckpoint
    * — ~4 fresh tiny plans per step whose PLANNING cost dwarfed their
    * execution at any corpus size (the text_bpe_artifact finding: a fresh
    * trivial plan costs ~130-180 ms before a single row moves). The
    * selection is per-query sequential but queries are independent and
    * each query's state is BOUNDED (N candidates, N² pair sims — the ANN
    * result size, never the corpus), so the whole K-step greedy runs as
    * ONE cogroup pass: both frames exchange once on q_id and a scalar
    * loop picks all K per query (the minhash/gear-CDC typed-kernel
    * discipline). Bit-equivalence with the ladder, pinned by MmrSpec's
    * brute-force reference: double compares use the engine's total order
    * (SQLOrderingUtil: == first, then Double.compare), the running
    * max-sim tracks only EXISTING pair rows with missing → 0.0 exactly
    * like the ladder's left-join + coalesce (an existing NEGATIVE psim
    * beats no-row, so the running max starts ABSENT, not at 0), mmr
    * compares unrounded and is 6-dp floor-rounded only on emit. */
  private[graft] def mmrSelect(cand: DataFrame, pairs: DataFrame, k: Int,
                               lam: Double): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    // the engine's double ordering (SQLOrderingUtil.compareDoubles):
    // 0.0 == -0.0, NaN greatest — matches the ladder's window sort
    def cmpD(x: Double, y: Double): Int =
      if (x == y) 0 else java.lang.Double.compare(x, y)
    val candDs = cand.select(col("q_id").cast("long"),
      col("vec_id").cast("long"), col("rel").cast("double"))
      .as[(Long, Long, Double)]
    val pairDs = pairs.select(col("q_id").cast("long"),
      col("a_id").cast("long"), col("b_id").cast("long"),
      col("psim").cast("double")).as[(Long, Long, Long, Double)]
    val picked = candDs.groupByKey(_._1).cogroup(pairDs.groupByKey(_._1)) {
      (q, cs, ps) =>
        val cl = cs.map(c => (c._2, c._3)).toArray // (vec_id, rel)
        if (cl.isEmpty) Iterator.empty
        else {
          val sim = new scala.collection.mutable.HashMap[(Long, Long), Double]
          // duplicate (a,b) rows keep the max psim (the ladder aggregated
          // max() before its left join)
          ps.foreach { p =>
            val key = (p._2, p._3)
            sim.get(key) match {
              case Some(c) if cmpD(c, p._4) >= 0 => ()
              case _ => sim(key) = p._4
            }
          }
          val n = cl.length
          val picks = math.min(k, n)
          val live = Array.fill(n)(true)
          // running max over EXISTING pair rows to the selected set;
          // NaN sentinel = no row yet (psim values are rounded cosines,
          // never NaN) — getOrElse(0.0) only at SCORING time, so a
          // negative existing max is used as-is (the coalesce contract)
          val ms = Array.fill(n)(Double.NaN)
          val out =
            new Array[(Long, Long, Long, Double, Double, Double)](picks)
          var step = 1
          while (step <= picks) {
            var best = -1; var bestMmr = 0.0; var bestMs = 0.0
            var i = 0
            while (i < n) {
              if (live(i)) {
                val m = if (ms(i).isNaN) 0.0 else ms(i)
                val sc = lam * cl(i)._2 - (1.0 - lam) * m
                val better = best < 0 || {
                  val c = cmpD(sc, bestMmr)
                  c > 0 || (c == 0 && cl(i)._1 < cl(best)._1)
                }
                if (better) { best = i; bestMmr = sc; bestMs = m }
              }
              i += 1
            }
            out(step - 1) = (q, step.toLong, cl(best)._1, cl(best)._2,
              bestMs, math.floor(bestMmr * 1e6 + 0.5) / 1e6)
            live(best) = false
            val sId = cl(best)._1
            i = 0
            while (i < n) {
              if (live(i)) sim.get((cl(i)._1, sId)).foreach { p =>
                if (ms(i).isNaN || cmpD(p, ms(i)) > 0) ms(i) = p
              }
              i += 1
            }
            step += 1
          }
          out.iterator
        }
    }
    picked.toDF("q_id", "step", "vec_id", "rel", "maxsim", "mmr")
  }

  /** Sign-LSH bucket: concat of sign bits of 4 fixed dimensions (stand-ins
    * for random hyperplanes — fixed so the oracle reproduces them). */
  private def bucket(v: Column): Column =
    concat(LSH_DIMS.map(d =>
      when(element_at(v, d) >= 0d, "1").otherwise("0")): _*)

  /** ANN via LSH buckets: candidates pair only with queries in the SAME
    * bucket — the candidate set shrinks ~16x before any scoring. */
  private def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(s, dir)).withColumn("bkt", bucket(col("v")))
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bkt").as("qbkt"))
    val cand = e.filter(col("vec_id") >= N_QUERIES)
    val scored = cand.join(broadcast(q), col("bkt") === col("qbkt"))
      .withColumn("sim", round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("bkt"), col("rk"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Embedding-cosine near-dup: candidate pairs restricted to sign-LSH
    * bucket co-members (the scale path — never an all-pairs cross product),
    * verified with exact cosine >= 0.45. The corpus has no planted
    * duplicates (max pairwise cosine ~0.5), so the threshold selects the
    * "suspiciously similar" tail; the operator is the production
    * embedding-dedup shape either way. */
  private def embedCosineNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(s, dir)).withColumn("bkt", bucket(col("v")))
    val pairs = e.as("a")
      .join(e.as("b"),
        col("a.bkt") === col("b.bkt") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6))
    pairs.filter(col("sim") >= 0.45)
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"), col("sim"))
      .orderBy(col("v1"), col("v2"))
  }

  /** Per-label centroids + cohesion: mean vector per label (exact decimal
    * per-dimension sums, so the centroid is partitioning-independent),
    * then each vector's cosine to its own label's centroid, reported as
    * per-label average similarity. The centroid table is label-cardinality
    * sized (tiny) and broadcast back onto the exploded vectors; the final
    * dot products fold in dimension order so both engines accumulate
    * identically. */
  private def centroidCohesion(s: SparkSession, dir: String): DataFrame = {
    val ex = emb(s, dir).select(col("vec_id"), col("label"),
      posexplode(col("v")).as(Seq("dim", "val")))
    val cent = ex.groupBy(col("label"), col("dim"))
      .agg((sum(col("val").cast(Exact.dec)).cast("double") / count(lit(1))).as("c"))
    val prods = ex.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        sort_array(collect_list(struct(col("dim"), (col("val") * col("c")).as("p")))).as("vc"),
        sort_array(collect_list(struct(col("dim"), (col("val") * col("val")).as("p")))).as("vv"),
        sort_array(collect_list(struct(col("dim"), (col("c") * col("c")).as("p")))).as("cc"))
    def fold(a: Column): Column =
      aggregate(transform(a, x => x.getField("p")), lit(0.0d), (acc, x) => acc + x)
    prods
      .withColumn("cos", round(fold(col("vc")) /
        (sqrt(fold(col("vv"))) * sqrt(fold(col("cc")))), 6))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        avgD(col("cos")).as("avg_cos"),
        min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
      .orderBy(col("label"))
  }

  private[ops] val NPROBE = 2
  /** sim_ann_filtered's predicate: label % FILTER_MOD == 0 (keeps ~1/3). */
  private val FILTER_MOD = 3

  /** Every vector scored against every (broadcast) quantizer cell, ranked
    * per vector by cell similarity. Staged: IVF's assignment + probe
    * branches, the semantic-dedup query, and text_hybrid_rrf's semantic
    * arm (TextOps) all filter this — unpersisted, the full corpus × cells
    * scoring (and the centroid build under it) would run once per
    * consumer. Package-private: the hybrid retrieval operator serves its
    * semantic arm from this same quantizer. */
  private[ops] def ivfRanked(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(s, dir)).drop("label")
    val cent = centroidVectors(s, dir)
      .withColumnRenamed("label", "cell_label")
    val cellScore = e.join(broadcast(cent))
      .withColumn("csim",
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cn")), 6))
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cell_label").asc)
    Staging.staged(s, dir, "ivf_ranked") {
      cellScore.withColumn("crk", row_number().over(wCell))
    }
  }

  /** Per-label centroid vectors in dimension order (exact decimal per-dim
    * means — partitioning-independent), with their norms. Label count ≪
    * corpus, so this is always a broadcast table. */
  private def centroidVectors(s: SparkSession, dir: String): DataFrame = {
    val ex = emb(s, dir).select(col("label"),
      posexplode(col("v")).as(Seq("dim", "val")))
    ex.groupBy(col("label"), col("dim"))
      .agg((sum(col("val").cast(Exact.dec)).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("label"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("cv"))
      .withColumn("cn", norm(col("cv")))
  }

  private val KM_ITERS = 2

  /** Squared L2 in dimension order (sequential left fold both engines),
    * rounded 6 dp as the cross-engine comparison contract. */
  private def sqdist(a: Column, b: Column): Column =
    round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, x) => acc + x), 6)

  /** K-MEANS QUANTIZER TRAINING — Lloyd's algorithm as iterative Spark
    * dataflow: the step the IVF family assumes (its cells "stand in for
    * k-means cells"); this is how those cells are trained when no label
    * column exists. Init = the per-label centroids (deterministic and
    * well-spread, so the oracle reproduces them); each iteration assigns
    * every vector to its nearest centroid (BROADCAST centroid table,
    * K×d doubles — the corpus never shuffles for assignment) and
    * recomputes centroids as per-dim exact decimal means, so the trained
    * quantizer is bit-stable under any partitioning. Distances fold in
    * dimension order and round 6 dp; ties break on ascending cell id —
    * every step is engine-reproducible, which is what lets a DuckDB
    * recursive replay hash-match a distributed training run.
    *
    * Scale posture: one corpus pass per iteration (assignment is
    * map-side; the update shuffles K×d keys regardless of corpus size);
    * at 100 TB you persist each iteration's assignment instead of
    * re-deriving the lineage, and train on a hash-sample — the plan
    * shape is unchanged. Output: per trained cell, member count, inertia
    * (exact sum of rounded sqdists — THE k-means objective, monotone
    * over iterations), and centroid norm. */
  /** Spark's `round(x, 6)` spelling for doubles (shortest-string
    * BigDecimal, HALF_UP); NaN/Inf pass through like the expression. */
  private def rnd6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** The centroid table collected driver-side in ascending-cid order —
    * K×d doubles, model-sized (the same class as the broadcast quantizer
    * the k-means scale posture commits to). Boxed elements preserve the
    * NULL propagation of the zip_with/aggregate fold. */
  private def collectCents(cent: DataFrame)
      : Array[(Any, Array[java.lang.Double])] =
    cent.orderBy(col("cid")).select(col("cid"), col("cv")).collect().map { r =>
      val cv = if (r.isNullAt(1)) null
        else r.getSeq[Any](1).map {
          case x: java.lang.Double => x
          case _ => null: java.lang.Double
        }.toArray
      (r.get(0), cv)
    }

  /** sqdist against one collected centroid — bit-identical to the
    * `round(aggregate(zip_with(v, cv, (x,y)=>(x−y)²), 0.0, _+_), 6)`
    * column it replaces: dimension-order fold, NULL on a null array,
    * unequal lengths (zip_with's null padding) or any null element. */
  private def sqdistTo(v: Array[java.lang.Double],
      cv: Array[java.lang.Double]): Option[Double] = {
    if (v == null || cv == null || v.length != cv.length) return None
    var acc = 0.0
    var i = 0
    while (i < v.length) {
      if (v(i) == null || cv(i) == null) return None
      val t = v(i).doubleValue - cv(i).doubleValue
      acc += t * t
      i += 1
    }
    Some(rnd6(acc))
  }

  /** Spark's ascending double ordering over nullable d: NULLS FIRST,
    * NaN greatest — the window's `d ASC` contract. */
  private def dLt(a: Option[Double], b: Option[Double]): Boolean =
    (a, b) match {
      case (None, None) => false
      case (None, _) => true
      case (_, None) => false
      case (Some(x), Some(y)) => java.lang.Double.compare(x, y) < 0
    }

  /** Nearest-centroid assignment of every vector. r16 optimization
    * round: the join(broadcast(cent)) × window(row_number) shape pushed
    * n×K rows — each carrying the 64-double vector — through a
    * vec_id exchange and sort, with an INTERPRETED zip_with/aggregate
    * fold per row (the HOF class the DotProduct codegen kernel exists
    * to avoid). The argmin is now a per-row scalar loop over the
    * driver-collected centroid table (iterated in ascending cid order
    * with strict-less updates — exactly the window's (d ASC, cid ASC)
    * tie-break, NULLS FIRST): no exchange, no sort, no row explosion;
    * downstream consumers read the identical (vec_id, cid, v, d)
    * frame. */
  private def kmAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    val s = e.sparkSession
    val cents = collectCents(cent)
    val bc = s.sparkContext.broadcast(cents)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        e.schema("vec_id").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("cid",
        cent.schema("cid").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("v",
        e.schema("v").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val rows = e.select(col("vec_id"), col("v")).rdd.mapPartitions { it =>
      val cs = bc.value
      it.flatMap { r =>
        if (cs.isEmpty) Iterator.empty // inner join with no centroids
        else {
          val v: Array[java.lang.Double] =
            if (r.isNullAt(1)) null
            else r.getSeq[Any](1).map {
              case x: java.lang.Double => x
              case _ => null: java.lang.Double
            }.toArray
          var bestD: Option[Double] = sqdistTo(v, cs(0)._2)
          var bestC = cs(0)._1
          var i = 1
          while (i < cs.length) {
            val d = sqdistTo(v, cs(i)._2)
            if (dLt(d, bestD)) { bestD = d; bestC = cs(i)._1 }
            i += 1
          }
          Iterator.single(org.apache.spark.sql.Row(
            r.get(0), bestC, r.get(1), bestD.map(Double.box).orNull))
        }
      }
    }
    s.createDataFrame(rows, schema)
  }

  /** Lloyd update: per-dim exact decimal means of the assigned members. */
  private def kmUpdate(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("v")).as(Seq("dim", "val")))
      .groupBy(col("cid"), col("dim"))
      .agg((sum(col("val").cast(Exact.dec)).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("cid"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
        x => x.getField("c")).as("cv"))

  /** The FITTED centroid table after KM_ITERS Lloyd rounds — staged:
    * sim_kmeans_train reports from it and sim_silhouette scores against
    * it, and the 2-iteration corpus passes should run once per round,
    * not once per consumer. */
  private def kmCentFit(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "km_cent") {
      val e = emb(s, dir).select(col("vec_id"), col("v"))
      var cent = centroidVectors(s, dir)
        .select(col("label").as("cid"), col("cv"))
      for (_ <- 1 to KM_ITERS) cent = kmUpdate(kmAssign(e, cent))
      cent
    }

  private def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v"))
    val cent = kmCentFit(s, dir)
    kmAssign(e, cent)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sumD(col("d")).as("inertia"))
      .join(cent.select(col("cid"), round(norm(col("cv")), 6).as("cnorm")), "cid")
      .orderBy(col("cid"))
  }

  /** Centroid-based silhouette of the trained k-means partition — the
    * clustering-quality readout next to sim_kmeans_train's inertia
    * (inertia always falls as K grows; silhouette does NOT, which is
    * what makes it the K-picker): per vector, a = distance to its OWN
    * fitted centroid, b = distance to the nearest OTHER centroid,
    * s = (b − a) / max(a, b) (the simplified/centroid silhouette — the
    * O(n·K) form; the classic pairwise form is O(n²) and exists only in
    * textbooks at corpus scale). Emitted per cluster: member count and
    * mean silhouette from 6 dp-rounded per-vector terms (exact decimal
    * mean, partition-order-free).
    *
    * Plan: ONE corpus × BROADCAST-centroid scoring pass (the
    * sim_kmeans_train assignment shape) — a and b come from the same
    * per-vector ranked frame, no second pass, no pairwise join. */
  private def silhouetteQ(s: SparkSession, dir: String): DataFrame =
    silhouetteFrom(emb(s, dir).select(col("vec_id"), col("v")),
      kmCentFit(s, dir))

  /** Core over (vec_id, v) vectors and a (cid, cv) centroid table —
    * graft-private so the geometry is spec-pinnable on hand fixtures
    * and the api package can expose it over arbitrary frames. */
  private[graft] def silhouetteFrom(e: DataFrame, cent: DataFrame)
      : DataFrame = {
    // r16 optimization round: same rework as kmAssign — the ranked
    // join × window carried n×K vector-payload rows through an
    // exchange to extract the top-2 centroids per vector; the per-row
    // kernel tracks (best, second-best) in the window's exact order
    // ((d ASC, cid ASC), NULLS FIRST) over the driver-collected
    // centroid table, and only the per-vector (cid, sil) terms reach
    // the final per-cluster aggregate.
    val s = e.sparkSession
    val cents = collectCents(cent)
    val bc = s.sparkContext.broadcast(cents)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        cent.schema("cid").dataType, nullable = true),
      org.apache.spark.sql.types.StructField("sil",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val terms = e.select(col("v")).rdd.mapPartitions { it =>
      val cs = bc.value
      it.flatMap { r =>
        if (cs.isEmpty) Iterator.empty
        else {
          val v: Array[java.lang.Double] =
            if (r.isNullAt(0)) null
            else r.getSeq[Any](0).map {
              case x: java.lang.Double => x
              case _ => null: java.lang.Double
            }.toArray
          // rk1/rk2 in (d ASC, cid ASC) order — strict-less updates over
          // the cid-ascending table reproduce the row_number tie-break
          var d1: Option[Double] = sqdistTo(v, cs(0)._2)
          var c1 = cs(0)._1
          var d2: Option[Double] = None
          var has2 = false
          var i = 1
          while (i < cs.length) {
            val d = sqdistTo(v, cs(i)._2)
            if (dLt(d, d1)) { d2 = d1; has2 = true; d1 = d; c1 = cs(i)._1 }
            else if (!has2 || dLt(d, d2)) { d2 = d; has2 = true }
            i += 1
          }
          // a = sqrt(rk1.d), b = sqrt(rk2.d) (rk1's when K = 1 — the
          // old max_by over the single surviving row)
          val a = d1.map(math.sqrt)
          val b = (if (has2) d2 else d1).map(math.sqrt)
          // when(greatest(a,b) > 0, round((b−a)/greatest, 6)).otherwise(0):
          // greatest skips NULLs (NULL only when both are)
          val g: Option[Double] = (a, b) match {
            case (Some(x), Some(y)) =>
              Some(if (java.lang.Double.compare(x, y) >= 0) x else y)
            case (Some(x), None) => Some(x)
            case (None, y) => y
          }
          val sil: Any = g match {
            case Some(gv) if gv > 0.0 => (a, b) match {
              case (Some(av), Some(bv)) => Double.box(rnd6((bv - av) / gv))
              case _ => null // NULL operand through the division
            }
            case Some(_) => Double.box(0.0)
            case None => Double.box(0.0) // NULL condition → otherwise
          }
          Iterator.single(org.apache.spark.sql.Row(c1, sil))
        }
      }
    }
    s.createDataFrame(terms, schema)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        round(Exact.avgD(col("sil")), 6).as("mean_silhouette"))
      .orderBy(col("cid"))
  }

  private val PQ_SUBSPACES = 2 // 64 dims → 2 × 32-dim sub-quantizers
  private val PQ_SUBDIM = 32
  private val PQ_K = 4 // codebook size per subspace
  private val PQ_ITERS = 1

  /** PRODUCT QUANTIZATION + ADC — the ANN memory-compression path
    * (Jégou et al., IVF-PQ): each vector is split into PQ_SUBSPACES
    * sub-vectors, each sub-vector is quantized to its nearest codebook
    * centroid (codebooks trained per subspace with the same Lloyd step
    * as sim_kmeans_train), and a vector is stored as PQ_SUBSPACES small
    * codes — here 2×2 bits instead of 64 doubles, the 4×→64× memory
    * lever that lets a billion-vector index fit in RAM. Queries score
    * candidates by Asymmetric Distance Computation: per query, a
    * LOOKUP TABLE of (subspace, code) → exact sub-distance is built
    * against the codebooks (PQ_K × PQ_SUBSPACES entries — broadcast,
    * tiny), and a candidate's approximate distance is the SUM of table
    * entries selected by its codes — the scan touches only codes and a
    * lookup table, never the original vectors.
    *
    * Everything is engine-reproducible (deterministic init = the first
    * PQ_K vectors' sub-slices; dimension-order folds; rounded 6 dp;
    * ascending tie-breaks), so the DuckDB oracle replays training,
    * encoding, and the ADC scan and must hash-match. Scale posture: the
    * encode pass is a broadcast-codebook map-side join; the ADC scan
    * shuffles only (q_id, vec_id, partial) into a PQ_SUBSPACES-way sum —
    * per-candidate work is O(PQ_SUBSPACES), independent of dimension. */
  /** Long form: one row per (vector, subspace) sub-vector. */
  private def pqSub(e: DataFrame): DataFrame =
    (0 until PQ_SUBSPACES).map(sp =>
      e.select(col("vec_id"), lit(sp).as("sp"),
        slice(col("v"), sp * PQ_SUBDIM + 1, PQ_SUBDIM).as("sv")))
      .reduce(_ unionByName _)

  /** Nearest codebook entry per (subspace, vector) — broadcast codebook,
    * deterministic (distance, cid) tie order. */
  private def pqAssign(sub: DataFrame, c: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sp"), col("vec_id"))
      .orderBy(col("d").asc, col("cid").asc)
    sub.join(broadcast(c), "sp")
      .withColumn("d", sqdist(col("sv"), col("cv")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("sp"), col("vec_id"), col("cid"), col("sv"), col("d"))
  }

  /** Per-subspace Lloyd codebooks (deterministic init = the first PQ_K
    * vectors' sub-slices; exact-decimal means). */
  private def pqCodebooks(sub: DataFrame): DataFrame = {
    var cents = sub.filter(col("vec_id") < PQ_K)
      .select(col("sp"), col("vec_id").as("cid"), col("sv").as("cv"))
    for (_ <- 1 to PQ_ITERS)
      cents = pqAssign(sub, cents)
        .select(col("sp"), col("cid"), posexplode(col("sv")).as(Seq("dim", "val")))
        .groupBy(col("sp"), col("cid"), col("dim"))
        .agg((sum(col("val").cast(Exact.dec)).cast("double") / count(lit(1))).as("c"))
        .groupBy(col("sp"), col("cid"))
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("c")))),
          x => x.getField("c")).as("cv"))
    cents
  }

  /** Per-query ADC lookup table: exact sub-distance to every codebook
    * entry (PQ_SUBSPACES × PQ_K rows per query — broadcast). */
  private def pqLut(sub: DataFrame, cents: DataFrame): DataFrame =
    sub.filter(col("vec_id") < N_QUERIES)
      .select(col("sp"), col("vec_id").as("q_id"), col("sv").as("qv"))
      .join(broadcast(cents), "sp")
      .select(col("sp"), col("q_id"), col("cid"),
        sqdist(col("qv"), col("cv")).as("d"))

  private def pqAdc(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).drop("label")
    val sub = pqSub(e)
    val cents = pqCodebooks(sub)
    // encode: every CANDIDATE vector → its per-subspace nearest code
    val codes = pqAssign(sub, cents).filter(col("vec_id") >= N_QUERIES)
      .select(col("sp"), col("vec_id"), col("cid"))
    val adc = codes.join(broadcast(pqLut(sub, cents)), Seq("sp", "cid"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d").cast(Exact.dec)).cast("double").as("adc"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    adc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adc"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** IVF-PQ SERVE — the full Jégou et al. memory path, composed end to
    * end: the persisted index stores each candidate's coarse CELL (IVF)
    * and its PQ CODES (2×2 bits here) — never the vectors — partitioned
    * by cell; a query batch (1) ranks cells against the broadcast coarse
    * quantizer, (2) reads back ONLY its probed cells through the
    * plan-pinned partition-pruned scan, and (3) scores those candidates
    * by ADC: a broadcast per-query (subspace, code) → sub-distance table
    * built against the codebooks, candidate distance = the sum of its
    * code's entries. This is the billion-vector production shape: the
    * serve path touches nprobe/n_cells of an index whose rows are a few
    * BYTES each, and per-candidate work is O(subspaces), independent of
    * dimension. Training (codebooks) and the index build are staged —
    * one O(corpus) pass per corpus version, amortized over query
    * batches. Oracle: the IVF cell CTEs composed with the PQ
    * train/encode/ADC CTEs, per-query candidates restricted to probed
    * cells. */
  private def annPqServe(s: SparkSession, dir: String): DataFrame = {
    val ranked = ivfRanked(s, dir)
    val probes = ranked.filter(col("crk") <= NPROBE && col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("cell_label").as("cell"))
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val sub = pqSub(emb(s, dir).drop("label"))
    val cents = Staging.staged(s, dir, "annpq_cents")(pqCodebooks(sub))
    val cand = ranked.filter(col("crk") === 1 && col("vec_id") >= N_QUERIES)
      .select(col("vec_id"), col("cell_label").as("cell"))
    // postings = codes + coarse cell only: (sp, vec_id, cid, cell)
    val index = servePrunedIndex(s, dir, "annpq",
      pqAssign(sub, cents).filter(col("vec_id") >= N_QUERIES)
        .select(col("sp"), col("vec_id"), col("cid"))
        .join(cand, "vec_id"),
      probedCells)
    val adc = index.join(broadcast(probes), "cell")
      .join(broadcast(pqLut(sub, cents)), Seq("sp", "q_id", "cid"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d").cast(Exact.dec)).cast("double").as("adc"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").asc, col("vec_id").asc)
    adc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("vec_id"), col("adc"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** PQ recall pinning — the quantization losses of the PQ family,
    * measured against the exact L2 top-K (brute force, full-vector
    * squared distance): `pq_adc` isolates pure code-book loss (ADC over
    * ALL candidates), `ivf_pq` compounds it with the cell-pruning loss
    * of the composed serve. The approximation quality of the memory
    * path is a FIRST-CLASS output — indexes that silently degrade
    * recall are the classic ANN production failure. Same plan shape as
    * sim_ann_recall: staged exact truth, left join per arm, per-query
    * hit counts. */
  private def pqRecall(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("d").asc, col("vec_id").asc)
    // L2 truth = a K-window over the SHARED exact-truth pairs (one
    // brute-force scan per pass, split across all recall pins)
    val exact = exactScoredPairs(s, dir)
      .filter(col("vec_id") >= N_QUERIES)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("vec_id"))
    def recallOf(method: String, ann: DataFrame): DataFrame = {
      val a = ann.select(col("q_id").as("aq"), col("vec_id").as("av"))
      exact.join(a, col("q_id") === col("aq") && col("vec_id") === col("av"),
          "left")
        .groupBy(col("q_id"))
        .agg(count(col("aq")).as("n_hits"))
        .select(lit(method).as("method"), col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / K, 6).as("recall"))
    }
    recallOf("pq_adc", pqAdc(s, dir))
      .unionByName(recallOf("ivf_pq", annPqServe(s, dir)))
      .orderBy(col("method"), col("q_id"))
  }

  /** IVF ANN — the inverted-file scale path: a coarse quantizer (per-label
    * centroids standing in for k-means cells, so the oracle reproduces
    * them) assigns every candidate to its nearest cell ONCE; each query
    * probes only its NPROBE closest cells and re-ranks exactly within
    * them. The quantizer table is broadcast both times; candidates never
    * pairwise-join outside probed cells. At 100 TB: more cells (√n rule),
    * same two broadcast joins + one keyed top-k — candidate work per query
    * drops by ~n_cells/nprobe versus brute force. Cell skew = imbalanced
    * Voronoi cells; the production mitigation (cap + spill to next cell)
    * keeps the same plan shape. */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val ranked = ivfRanked(s, dir)
    val assigned = ranked.filter(col("crk") === 1 && col("vec_id") >= N_QUERIES)
      .select(col("vec_id"), col("cell_label").as("cell"), col("v"), col("nrm"))
    val probes = ranked.filter(col("crk") <= NPROBE && col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("cell_label").as("cell"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = assigned.join(broadcast(probes), "cell")
      .withColumn("sim",
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("cell"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** FILTERED ANN — vector search composed with a metadata predicate, the
    * standard vector-DB request ("nearest neighbors among documents with
    * license X / language Y"). The correctness trap is POST-filtering: take
    * the unfiltered top-K, then apply the predicate — under a selective
    * predicate that returns fewer than K rows (often zero), because the
    * true filtered neighbors were ranked below the unfiltered cut. The
    * engine answer is PRE-filtering: the predicate column travels with the
    * index rows (vector stores keep metadata in the postings for exactly
    * this reason — here it joins back onto the assigned vectors), the
    * filter applies to the probed cells' candidates BEFORE the top-K
    * window, and the rerank ranks survivors only. Both ranks are computed
    * in one pass over the scored frame (the filtered rank is a window
    * partitioned by (query, predicate)), and each output row carries
    * `post_n` = how many of the unfiltered top-K would have survived — the
    * measured under-return that justifies the operator. Scale: identical
    * to sim_ann_ivf (probed-cell candidates only, never all-pairs); the
    * predicate adds one payload column to the index and a filter above it. */
  private def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val ranked = ivfRanked(s, dir)
    val labels = emb(s, dir).select(col("vec_id"), col("label"))
    val assigned = ranked.filter(col("crk") === 1 && col("vec_id") >= N_QUERIES)
      .select(col("vec_id"), col("cell_label").as("cell"), col("v"), col("nrm"))
      .join(labels, "vec_id") // index payload column (stored with postings)
    val probes = ranked.filter(col("crk") <= NPROBE && col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("cell_label").as("cell"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = assigned.join(broadcast(probes), "cell")
      .withColumn("sim",
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
      .withColumn("keep", col("label") % FILTER_MOD === 0)
    val wAll = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val wFil = Window.partitionBy(col("q_id"), col("keep"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    // staged: referenced by BOTH the post_n aggregate and the survivor
    // branch — unpersisted, the scored join and its windows would run
    // twice (Catalyst does not dedupe common DataFrame subtrees)
    val both = Staging.staged(s, dir, "ann_filtered_both") {
      scored
        .withColumn("rk_all", row_number().over(wAll))
        .withColumn("rk", row_number().over(wFil))
    }
    val postN = both.filter(col("rk_all") <= K)
      .groupBy(col("q_id"))
      .agg(count(when(col("keep"), 1)).as("post_n"))
    both.filter(col("keep") && col("rk") <= K)
      .join(broadcast(postN), Seq("q_id"), "left")
      .select(col("q_id"), col("rk"), col("cell"), col("vec_id"),
        col("label"), col("sim"), coalesce(col("post_n"), lit(0L)).as("post_n"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Write `postings` as a cell-partitioned parquet index — ONCE per
    * (session, corpus, `key`) — and return a reader restricted to `cells`
    * whose scan is GUARANTEED partition-pruned (the `require` pins the
    * partition filter in the executed plan — a silent fallback to a
    * full-index scan fails loudly instead of shipping a linear scan to a
    * 100 TB index). Shared by every persisted-index serve path:
    * sim_ann_index_serve here and the text hybrid family's semantic arm
    * in TextOps. `key` names the POSTINGS IDENTITY (which rows the index
    * holds): consumers with identical postings pass the same key and
    * share one O(corpus) build per verify/bench pass — production builds
    * an index once per corpus version and serves every query batch from
    * it; rebuilding it inside each consumer query would charge the
    * corpus-linear build to a serve path advertised as
    * corpus-size-independent. The staged value is the PATH (the written
    * files are the artifact); Staging.clear drops it between bench
    * passes so each pass pays the build exactly once. */
  private[ops] def servePrunedIndex(s: SparkSession, dir: String, key: String,
      postings: => DataFrame, cells: Seq[Int]): DataFrame = {
    val path = Staging.stagedValue(s, dir, s"prunedidx_$key") {
      val p = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_idx_${key}_" +
        s.sparkContext.applicationId
      // repartition by the partition column before partitionBy (the
      // partitionEvolution discipline): without it every input task opens
      // a writer in every cell directory — tasks × cells small files that
      // every serve scan, refresh listing and footer read then pays for
      postings.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(p)
      p
    }
    val index = s.read.parquet(path)
      .filter(col("cell").isin(cells.map(Int.box): _*))
    // Pin the partition filter by its content, not one spelling: a
    // multi-value isin plans as `cell IN (...)`, but OptimizeIn rewrites a
    // single-element set to `cell = N` — both are pruned scans. An empty
    // PartitionFilters bracket (or an isnotnull-only one) is the silent
    // full-scan fallback this guard exists to catch.
    val planStr = index.queryExecution.executedPlan.toString
    val start = planStr.indexOf("PartitionFilters: [")
    val filters = if (start < 0) "" else {
      val body = planStr.substring(start + "PartitionFilters: [".length)
      body.take(math.max(0, body.indexOf(']')))
    }
    require(filters.contains("cell") &&
      (filters.contains(" IN ") || filters.contains(" = ")),
      s"serve path must reach the index through a partition-pruned scan " +
        s"(PartitionFilters: [$filters])")
    index
  }

  /** The IVF index LIFECYCLE: sim_ann_ivf builds and queries in one
    * session; production builds ONCE and serves many query batches. The
    * inverted file is written to parquet PARTITIONED BY CELL — so serving
    * is (1) rank cells per query against the broadcast quantizer, (2)
    * read back ONLY the probed cells via static partition pruning (the
    * `require` pins the partition filter in the scan), (3) exact rerank
    * within them. At 100 TB the index is the only thing the serve path
    * touches, and it reads nprobe/n_cells of it per batch; index refresh
    * is an incremental append of new vectors to their cell partitions.
    * Probed-cell ids are collected driver-side to form the pruning
    * predicate — cell-count-sized metadata, same class as a partition
    * listing. Results are identical to sim_ann_ivf (same quantizer, same
    * NPROBE), so the oracle is the same SQL. */
  private def annIndexServe(s: SparkSession, dir: String): DataFrame = {
    val ranked = ivfRanked(s, dir)
    val probes = ranked.filter(col("crk") <= NPROBE && col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("cell_label").as("cell"),
        col("v").as("qv"), col("nrm").as("qn"))
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    // postings identity: candidate vectors only (queries excluded) — a
    // different index than the hybrid family's all-vectors postings
    val index = servePrunedIndex(s, dir, "annserve",
      ranked.filter(col("crk") === 1 && col("vec_id") >= N_QUERIES)
        .select(col("vec_id"), col("cell_label").as("cell"), col("v"), col("nrm")),
      probedCells)
    val scored = index.join(broadcast(probes), "cell")
      .withColumn("sim",
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("cell"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** The index REFRESH path that `sim_ann_index_serve`'s lifecycle story
    * promises: new vectors arrive AFTER the index is built, and the
    * maintenance job appends their postings to the cell partitions they
    * quantize into — it never rewrites existing files (pinned below by a
    * file-listing guard: every base file survives byte-identical by name,
    * and new files appear only under the touched cells). The quantizer
    * stays FROZEN across the refresh — exactly how production IVF works
    * (retraining centroids would move every posting) — so serving the
    * refreshed index answers identically to an index built from scratch
    * over base+late, which is why the oracle is the same SQL as
    * `sim_ann_ivf`. At 100 TB the refresh cost is |new vectors| postings
    * appended, independent of index size. */
  private def annRefresh(s: SparkSession, dir: String): DataFrame = {
    // static partition-overwrite on the root truncates the whole table,
    // so a rerun in the same session starts from a clean base index
    val path = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_annref_" +
      s.sparkContext.applicationId
    val ranked = ivfRanked(s, dir)
    val postings = ranked.filter(col("crk") === 1 && col("vec_id") >= N_QUERIES)
      .select(col("vec_id"), col("cell_label").as("cell"), col("v"), col("nrm"))
    // base index: the corpus as of the initial build (vec_id < SPLIT);
    // repartition by cell first — one writer per cell directory, not
    // tasks × cells small files (the partitionEvolution discipline)
    val split = 400
    postings.filter(col("vec_id") < split).repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    def dataFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(path)).map(_.getPath).toSet
    }
    val baseFiles = dataFiles()
    // refresh: late arrivals append postings into their frozen-quantizer
    // cells — no existing file is rewritten
    postings.filter(col("vec_id") >= split).repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(path)
    val afterFiles = dataFiles()
    require(baseFiles.subsetOf(afterFiles),
      "refresh must append postings, never rewrite base index files")
    require(afterFiles.size > baseFiles.size,
      "refresh must add posting files for the late vectors")
    // serve the refreshed index, same probe path as sim_ann_index_serve
    val probes = ranked.filter(col("crk") <= NPROBE && col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("cell_label").as("cell"),
        col("v").as("qv"), col("nrm").as("qn"))
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val index = s.read.parquet(path)
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    val scored = index.join(broadcast(probes), "cell")
      .withColumn("sim",
        round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("cell"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** ANN index DELETES — the lifecycle step `sim_ann_refresh` leaves out:
    * production vector stores must also FORGET vectors (GDPR erasure,
    * content takedowns, stale embeddings) without rewriting a 100 TB
    * index. The composition is src_delete_vectors' merge-on-read
    * deletion vectors applied to the IVF posting index:
    *
    *   v1  the cell-partitioned posting index (the one O(corpus) build);
    *   v2  the DELETE COMMIT is METADATA-ONLY — one scan folds doomed
    *       row positions into word-wise bitmaps keyed by
    *       (file, rid div 64); a file-state require proves no posting
    *       file was rewritten, appended, or touched;
    *   serve  partition-pruned read of the probed cells only (the
    *       PartitionFilters require, the servePrunedIndex contract) +
    *       broadcast DV anti-mask + exact rerank — the mask costs one
    *       broadcast join against bitmap rows, never an index rewrite;
    *   v3  COMPACTION folds the DV into rewritten postings and drops
    *       it; serve(v3) is row-identical to the DV-masked serve
    *       (merge-on-read ≡ copy-on-write, the Delta/Iceberg
    *       equivalence), so readers may compact whenever amortization
    *       says so without a semantic diff. The equivalence is pinned
    *       by AnnDeleteSpec (via [[annDeleteCompactVerify]]), NOT in
    *       the query hot path: serving twice per invocation doubled
    *       the query's cost for a property that is invariant per
    *       corpus (the r13 hygiene item).
    *
    * The oracle is sim_ann_ivf's SQL minus the deleted ids — the pinned
    * semantics are "serve ≡ a full rebuild that never had the deleted
    * vectors" (the delete predicate removes 3 of the 40 undeleted top-K
    * slots at sf0.01, so the anti-mask itself sits behind the hash
    * gate). At 100 TB: the delete writes bitmap bytes proportional to
    * doomed rows; the serve still reads nprobe/n_cells of the index;
    * compaction here rewrites the fixture-sized index in full — a
    * production manifest scopes it to DV-touched file groups. */
  private def annDeleteQ(s: SparkSession, dir: String): DataFrame = {
    val (_, served, _) = annDeleteLifecycle(s, dir)
    served.orderBy(col("q_id"), col("rk"))
  }

  /** Builds the v1 posting index, runs the v2 metadata-only delete
    * commit, and returns (commit path, the DV-masked serve, the serve
    * closure for replaying against other posting dirs). Shared by the
    * sim_ann_delete query (serves ONCE) and AnnDeleteSpec's compaction-
    * equivalence check. */
  private[ops] def annDeleteLifecycle(s: SparkSession, dir: String)
      : (String, DataFrame, (String, Option[DataFrame]) => DataFrame) = {
    val path = s"${System.getProperty("java.io.tmpdir", "/tmp")}/graft_anndel_" +
      s.sparkContext.applicationId
    CommitLog.reset(path)
    val ranked = ivfRanked(s, dir)
    val postings = ranked.filter(col("crk") === 1 && col("vec_id") >= N_QUERIES)
      .select(col("vec_id"), col("cell_label").as("cell"), col("v"), col("nrm"))
    postings.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/post_v1")
    CommitLog.commitTables(path, 0, Seq("post" -> s"$path/post_v1"))
    def fileState() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(s"$path/post_v1"))
        .map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    }
    val before = fileState()
    // the delete commit: doomed row positions -> word-wise bitmaps
    val bit = expr("shiftleft(1L, cast(rid % 64 AS INT))")
    s.read.parquet(s"$path/post_v1")
      .select(col("_metadata.file_path").as("f"),
        col("_metadata.row_index").as("rid"), col("vec_id"))
      .filter(col("vec_id") % 17 === 0)
      .groupBy(col("f"), floor(col("rid") / 64).as("w"))
      .agg(bit_or(bit).as("dmask"))
      // the DV is doomed-row-bitmap-sized metadata: one file per delete
      // commit (the Delta DV shape), not shuffle-width empty shards
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/dv_v2")
    CommitLog.commitTables(path, 1,
      Seq("post" -> s"$path/post_v1", "dv" -> s"$path/dv_v2"))
    require(fileState() == before,
      "a DV delete commit must not rewrite, append, or touch posting files")
    // serve: probed cells only, DV anti-masked
    val probes = ranked.filter(col("crk") <= NPROBE && col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("cell_label").as("cell"),
        col("v").as("qv"), col("nrm").as("qn"))
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val t2 = CommitLog.tableDirs(path, 2)
    def serveFrom(postDir: String, dv: Option[DataFrame]): DataFrame = {
      val idx0 = s.read.parquet(postDir)
        .filter(col("cell").isin(probedCells.map(Int.box): _*))
      val planStr = idx0.queryExecution.executedPlan.toString
      val start = planStr.indexOf("PartitionFilters: [")
      val filters = if (start < 0) "" else {
        val body = planStr.substring(start + "PartitionFilters: [".length)
        body.take(math.max(0, body.indexOf(']')))
      }
      require(filters.contains("cell") &&
        (filters.contains(" IN ") || filters.contains(" = ")),
        s"delete serve must read the index partition-pruned " +
          s"(PartitionFilters: [$filters])")
      val live = dv match {
        case Some(d) =>
          idx0.select(col("*"), col("_metadata.file_path").as("f"),
              col("_metadata.row_index").as("rid"))
            .withColumn("w", floor(col("rid") / 64))
            .join(broadcast(d), Seq("f", "w"), "left_outer")
            .filter(coalesce(bit.bitwiseAND(col("dmask")), lit(0L)) === 0L)
        case None => idx0
      }
      val scored = live.join(broadcast(probes), "cell")
        .withColumn("sim",
          round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= K)
        .select(col("q_id"), col("rk"), col("cell"), col("vec_id"), col("sim"))
    }
    val served = serveFrom(t2("post"), Some(s.read.parquet(t2("dv"))))
    (path, served, serveFrom)
  }

  /** Compaction half of the delete lifecycle, spec-only (AnnDeleteSpec):
    * folds the DV into rewritten v3 postings, commits, and REQUIRES the
    * compacted serve row-identical to the DV-masked serve
    * (merge-on-read ≡ copy-on-write). Invariant per corpus, so it runs
    * once per test suite instead of on every query invocation. */
  private[ops] def annDeleteCompactVerify(s: SparkSession, dir: String): Unit = {
    val (path, served, serveFrom) = annDeleteLifecycle(s, dir)
    val t2 = CommitLog.tableDirs(path, 2)
    val bit = expr("shiftleft(1L, cast(rid % 64 AS INT))")
    s.read.parquet(t2("post"))
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"),
        col("_metadata.file_path").as("f"), col("_metadata.row_index").as("rid"))
      .withColumn("w", floor(col("rid") / 64))
      .join(broadcast(s.read.parquet(t2("dv"))), Seq("f", "w"), "left_outer")
      .filter(coalesce(bit.bitwiseAND(col("dmask")), lit(0L)) === 0L)
      .select(col("vec_id"), col("cell"), col("v"), col("nrm"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/post_v3")
    CommitLog.commitTables(path, 2, Seq("post" -> s"$path/post_v3"))
    val t3 = CommitLog.tableDirs(path, 3)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4))
    val mor = served.collect().map(key).toSet
    val cow = serveFrom(t3("post"), None).collect().map(key).toSet
    require(mor == cow,
      "compacted serve must equal the DV-masked serve (MoR == CoW)")
  }

  /** Multi-probe sign-LSH ANN: each query probes its own bucket PLUS the
    * 4 buckets at Hamming distance 1 (one plane-sign flipped) — the
    * standard recall/cost dial: candidates grow ~5×/16 of the corpus
    * instead of 1/16, recall rises accordingly, and the plan shape is
    * unchanged (probe expansion happens on the tiny broadcast query side;
    * candidates still join by bucket equality, never all-pairs). Probe
    * buckets are pairwise distinct, so no candidate dedup is needed. */
  private def annMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(emb(s, dir)).withColumn("bkt", bucket(col("v")))
    def flip(b: Column, i: Int): Column = concat(
      substring(b, 1, i - 1),
      when(substring(b, i, 1) === "1", "0").otherwise("1"),
      substring(b, i + 1, LSH_DIMS.size - i))
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bkt").as("qbkt"))
      .withColumn("pbkt", explode(array(
        col("qbkt") +: (1 to LSH_DIMS.size).map(i => flip(col("qbkt"), i)): _*)))
    val cand = e.filter(col("vec_id") >= N_QUERIES)
    val scored = cand.join(broadcast(q), col("bkt") === col("pbkt"))
      .withColumn("sim", round(dot(col("v"), col("qv")) / (col("nrm") * col("qn")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("vec_id"), col("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  private val KNN_K = 3

  /** Approximate k-NN graph — the input structure for graph-based semantic
    * clustering and label propagation over a corpus: every vector's top-k
    * neighbors AMONG ITS OWN QUANTIZER CELL (nprobe=1 approximation; recall
    * rises with more probes, same as sim_ann_ivf — sim_ann_recall is the
    * dial's metric). The pairwise work never leaves a cell, so the graph
    * build is Θ(Σ cell²) not Θ(n²); at 100 TB cells come from k-means with
    * the √n rule + caps, and the per-cell self-join co-partitions on the
    * cell key. */
  /** Staged: the knn-graph query and the semantic-components query both
    * consume the edge set. */
  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "knn_edges") {
      // Materialize the NARROW assignment slice once (r17, guide §2.3/§5):
      // both join sides used to re-scan the full ivf_ranked cache — a wide
      // relation (v, cv, csim, ...) whose array columns decompress per
      // scan — to extract the same 4-column, corpus-sized slice. One
      // eager localCheckpoint of the slice feeds both sides.
      val assigned = ivfRanked(s, dir).filter(col("crk") === 1)
        .select(col("vec_id"), col("cell_label").as("cell"), col("v"), col("nrm"))
        .localCheckpoint(true)
      // SALTED per-cell self-join: cell cardinality bounds the plain join's
      // parallelism (10 cells = 10 tasks, whatever the cluster width), and
      // each task's work is quadratic in its cell. Bucketing the b-side by
      // hash(vec_id) % S and exploding the a-side over all S buckets meets
      // every (a, b) cell-pair exactly once while cutting the widest task
      // S-fold — the replication cost is S copies of the a-side vectors,
      // tuned against task width like any salt factor.
      val S = 8
      val aSide = assigned.withColumn("salt",
        explode(array((0 until S).map(lit): _*)))
      val bSide = assigned.withColumn("salt",
        pmod(xxhash64(col("vec_id")), lit(S.toLong)).cast("int"))
      // SHUFFLE_HASH, not sort-merge (guide §3.1): the build side of each
      // (cell, salt) partition is the salted cell slice — bounded by the
      // per-cell cap / salt factor, never corpus-sized — so the hash build
      // is safe at any scale and both sides skip the SMJ's full sort of
      // the vector payloads.
      val scored = aSide.as("a")
        .join(bSide.hint("SHUFFLE_HASH").as("b"),
          col("a.cell") === col("b.cell") && col("a.salt") === col("b.salt") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          col("a.cell").as("cell"),
          round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6).as("sim"))
      val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst").asc)
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= KNN_K)
        .select(col("src"), col("rk"), col("dst"), col("cell"), col("sim"))
    }

  private def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnEdges(s, dir).orderBy(col("src"), col("rk"))

  private val KNN_EDGE_TAU = 0.3

  /** Semantic clusters — the downstream of the k-NN graph: keep edges with
    * cosine ≥ τ (undirected, canonicalized), then connected components via
    * the kernel the text near-dup clustering uses (DedupOps.clusterPairs),
    * which runs in one task, with memory linear in the node count. The
    * full quantize → knn → threshold → cluster pipeline, each stage
    * oracle-checked; isolated vectors (no qualifying edge) don't appear —
    * production treats them as singleton clusters. */
  private def knnComponents(s: SparkSession, dir: String): DataFrame = {
    val edges = knnEdges(s, dir).filter(col("sim") >= KNN_EDGE_TAU)
      .select(least(col("src"), col("dst")).as("d1"),
        greatest(col("src"), col("dst")).as("d2"))
      .distinct()
    DedupOps.clusterPairs(edges)
      .withColumnRenamed("doc_id", "vec_id")
      .orderBy(col("vec_id"))
  }

  private val SEM_TAU = 0.35

  /** SemDeDup-shape semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): quantizer cells bound the pairwise work — within
    * each cell, vectors closer than SEM_TAU cosine form a duplicate
    * neighborhood, and of any near-dup pair the member FARTHER from the
    * cell centroid is kept preferentially (it is the more informative /
    * less prototypical example; ties break on vec_id). A vector is dropped
    * when some cell-mate within τ beats it under that rule. Pairwise
    * scoring never leaves a cell — the same bounded-candidate posture as
    * IVF; at 100 TB the cells come from k-means with a per-cell cap, same
    * plan. Output: every vector with its cell, centroid similarity, and
    * the drop verdict. */
  private def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val assigned = ivfRanked(s, dir).filter(col("crk") === 1)
      .select(col("vec_id"), col("cell_label").as("cell"),
        col("v"), col("nrm"), col("csim"))
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("sim",
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("sim") >= SEM_TAU)
      // b wins over a: farther from the centroid (SemDeDup keeps the
      // extreme example), vec_id as the deterministic tie-break
      .filter(col("b.csim") < col("a.csim") ||
        (col("b.csim") === col("a.csim") && col("b.vec_id") < col("a.vec_id")))
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("csim"),
        coalesce(col("is_dup"), lit(false)).as("dropped"))
      .orderBy(col("vec_id"))
  }

  private val SWEEP_TAU_PCT = Seq(30, 35, 40)

  /** SemDeDup THRESHOLD-SWEEP governance curve — the table read before
    * committing a τ for dedup_semantic (the dedup_lsh_curve analog for
    * the embedding side): per candidate threshold, the qualifying-pair
    * volume, the distinct documents touched, how many the keep-farthest-
    * from-centroid rule would drop, and the resulting drop rate. A τ set
    * too low silently deletes a visible fraction of the corpus; this is
    * the curve that makes that fraction a measured number instead of a
    * post-mortem.
    *
    * Shape: the cell-bounded pairwise scoring runs ONCE at the sweep
    * floor (staged — three aggregates and the tier join read it); the
    * 3-row tier frame then joins the pair frame and everything downstream
    * is tier-keyed aggregation. The tier frame LEFT-joins the counts so
    * an empty tier reads as an explicit zero row (the sim_recall_curve
    * empty-shape lesson). Integer tau_pct keys — no float join keys. */
  private def dedupSweepQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assigned = ivfRanked(s, dir).filter(col("crk") === 1)
      .select(col("vec_id"), col("cell_label").as("cell"),
        col("v"), col("nrm"), col("csim"))
    val floorTau = lit(SWEEP_TAU_PCT.min.toDouble) / lit(100.0d)
    val pairs = Staging.staged(s, dir, "sweep_pairs") {
      assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("sim",
          round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6))
        .filter(col("sim") >= floorTau)
        .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
          col("sim"), col("a.csim").as("cs1"), col("b.csim").as("cs2"))
    }
    val taus = SWEEP_TAU_PCT.toDF("tau_pct")
    val pt = pairs.crossJoin(broadcast(taus))
      .filter(col("sim") >= col("tau_pct").cast("double") / lit(100.0d))
    val nPairs = pt.groupBy(col("tau_pct")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = pt
      .select(col("tau_pct"), explode(array(col("v1"), col("v2"))).as("d"))
      .groupBy(col("tau_pct")).agg(countDistinct(col("d")).as("n_docs"))
    // per pair, the SemDeDup LOSER: the member CLOSER to its centroid
    // (higher csim — the more prototypical example); csim ties lose to
    // the smaller vec_id, so the larger id (v2) is the tie loser —
    // exactly semanticDedup's drop predicate, factored per edge
    val loser = when(col("cs1") > col("cs2"), col("v1")).otherwise(col("v2"))
    val nDrop = pt.select(col("tau_pct"), loser.as("loser"))
      .groupBy(col("tau_pct")).agg(countDistinct(col("loser")).as("n_dropped"))
    val nv = broadcast(assigned.agg(count(lit(1)).as("n_vectors")))
    taus.join(nPairs, Seq("tau_pct"), "left")
      .join(nDocs, Seq("tau_pct"), "left")
      .join(nDrop, Seq("tau_pct"), "left")
      .crossJoin(nv)
      .select(col("tau_pct").cast("long").as("tau_pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        col("n_vectors"),
        round(coalesce(col("n_dropped"), lit(0L)).cast("double")
          / col("n_vectors").cast("double"), 6).as("drop_rate"))
      .orderBy(col("tau_pct"))
  }

  /** Int8 scale quantization of the embedding column — the ANN memory
    * path (4× smaller vectors; a 100 TB embedding store becomes 25 TB and
    * cache-resident per-cell). Per vector: scale = max|x|/127, q[i] =
    * round(x[i]/scale) ∈ [-127,127] by construction (unit-norm corpus ⇒
    * scale > 0), reconstruction x̂[i] = q[i]·scale. Reports per-label
    * RMSE of the reconstruction — the number that decides whether int8
    * re-rank needs an fp32 refinement pass. All arithmetic is IEEE-pinned
    * in both engines: scale via a sequential max fold, RMSE via a
    * sequential sum fold, round-half-away on both sides. */
  private def quantizeI8(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .withColumn("scale",
        aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
      .withColumn("q", transform(col("v"), x => round(x / col("scale"), 0)))
    val sqErr = zip_with(col("v"), col("q"),
      (a, b) => { val d = a - b * col("scale"); d * d })
    e.withColumn("rmse",
      round(sqrt(aggregate(sqErr, lit(0.0), (acc, x) => acc + x) /
        size(col("v"))), 6))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        avgD(col("rmse")).as("avg_rmse"),
        max(col("rmse")).as("max_rmse"),
        avgD(round(col("scale"), 6)).as("avg_scale"))
      .orderBy(col("label"))
  }

  /** Recall@K of both ANN paths against the exact brute-force top-k — the
    * number an embedding pipeline actually tunes (more LSH planes / more
    * IVF probes trade recall for candidate volume). All three rankings are
    * deterministic, so recall itself is oracle-checkable. BOTH truths
    * (unfiltered and pre-filtered) are K-windows over the shared staged
    * [[exactScoredPairs]] frame — the brute-force scoring scan runs once
    * per pass for every recall pin in the suite, and Catalyst can't
    * recompute it per union branch. */
  private def annRecall(s: SparkSession, dir: String): DataFrame = {
    val wSim = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val exact = exactScoredPairs(s, dir)
      .filter(col("vec_id") >= N_QUERIES)
      .withColumn("rk", row_number().over(wSim))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("vec_id"))
    // ground truth for the FILTERED path: brute-force top-K among
    // predicate survivors only (the pre-filter semantics' exact answer)
    val exactFil = exactScoredPairs(s, dir)
      .filter(col("vec_id") >= N_QUERIES && col("label") % FILTER_MOD === 0)
      .withColumn("rk", row_number().over(wSim))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("vec_id"))
    def recallOf(method: String, truth: DataFrame, ann: DataFrame): DataFrame = {
      val a = ann.select(col("q_id").as("aq"), col("vec_id").as("av"))
      truth.join(a, col("q_id") === col("aq") && col("vec_id") === col("av"),
          "left")
        .groupBy(col("q_id"))
        .agg(count(col("aq")).as("n_hits"))
        .select(lit(method).as("method"), col("q_id"), col("n_hits"),
          round(col("n_hits").cast("double") / K, 6).as("recall"))
    }
    recallOf("fil", exactFil, annFiltered(s, dir).select(col("q_id"), col("vec_id")))
      .unionByName(recallOf("ivf", exact, annIvf(s, dir)))
      .unionByName(recallOf("lsh", exact, annLsh(s, dir)))
      .unionByName(recallOf("mp", exact, annMultiprobe(s, dir)))
      .orderBy(col("method"), col("q_id"))
  }

  private val CURVE_KS = Seq(1, 3, 5)

  /** Recall@k CURVE for the IVF path (k = 1/3/5 against the exact top-5
    * truth) — sim_ann_recall reports the single operating point
    * recall@K; an index planner tunes nprobe/cells against the CURVE
    * (recall@1 is the "is the top answer right" serving metric, recall@5
    * the candidate-set metric, and the gap between them tells whether
    * errors are rank inversions inside the candidate set or true
    * misses). Aggregated per k over all queries: n_hits = |truth@k ∩
    * ivf@k| summed over queries, recall = n_hits / (k · n_queries).
    *
    * Plan: ONE join of the two already-ranked top-K frames (both from
    * staged substrates — the exact truth and the IVF serve), each joined
    * pair carrying both ranks; the k-curve is a per-k conditional count
    * over that single tiny joined frame (explode over the 3 curve points
    * — never a re-join per k), plus a broadcast 1-row query count. */
  private def recallCurveQ(s: SparkSession, dir: String): DataFrame = {
    val wSim = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val truth = exactScoredPairs(s, dir)
      .filter(col("vec_id") >= N_QUERIES)
      .withColumn("trk", row_number().over(wSim))
      .filter(col("trk") <= K)
      .select(col("q_id"), col("vec_id"), col("trk"))
    val ann = annIvf(s, dir)
      .select(col("q_id"), col("vec_id"), col("rk").as("ark"))
    recallCurve(s, truth, ann)
  }

  /** Curve assembly from the two ranked frames — truth (q_id, vec_id,
    * trk) and the approximate serve (q_id, vec_id, ark). Package-private
    * so the degenerate shapes are spec-pinnable without the staged
    * corpus substrates. */
  private[ops] def recallCurve(s: SparkSession, truth: DataFrame,
      ann: DataFrame): DataFrame = {
    val j = truth.join(ann, Seq("q_id", "vec_id"))
    val nq = truth.agg(count_distinct(col("q_id")).as("n_queries"))
    val counts = j.select(explode(array(CURVE_KS.map(k =>
        struct(lit(k.toLong).as("k"),
          when(col("trk") <= k && col("ark") <= k, 1L).otherwise(0L)
            .as("h"))): _*)).as("s"))
      .groupBy(col("s.k").as("k")).agg(sum(col("s.h")).as("n_hits"))
    // the curve frame LEFT-joins the hit counts (r15, per advisor): with
    // an inner shape, zero truth∩IVF overlap emitted ZERO rows — a total
    // recall collapse would read as a missing query instead of the
    // 3-row recall-0 curve it actually is. n_queries=0 guards the
    // division (NULL, not a cross-engine NaN).
    import s.implicits._
    val kframe = CURVE_KS.map(_.toLong).toDF("k")
    kframe.join(counts, Seq("k"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .crossJoin(broadcast(nq))
      .select(col("k"), col("n_queries"), col("n_hits"),
        when(col("n_queries") > 0,
          round(col("n_hits").cast("double")
            / (col("k") * col("n_queries")).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("recall"))
      .orderBy(col("k"))
  }

  /** IVF index-health readout: the cell-population distribution of the
    * coarse quantizer — the number an index planner reads NEXT TO the
    * recall curve (sim_recall_curve says what pruning costs in quality;
    * this says whether the pruning is even balanced: a hot Voronoi cell
    * serves most probes, so the worst-case query cost is max_cell, not
    * mean). load_factor = max/mean is the classic imbalance factor; cv
    * is the population coefficient of variation from exact integer
    * moments (Σs, Σs² — partition-order-free), divided once.
    *
    * Shape at scale: ONE cell-keyed count over the staged assignment
    * frame (cell-space output), then a 1-row aggregate of the cell
    * counts. Nothing corpus-sized leaves the first partial agg. */
  private def ivfImbalanceQ(s: SparkSession, dir: String): DataFrame = {
    val cells = ivfRanked(s, dir)
      .filter(col("crk") === 1 && col("vec_id") >= N_QUERIES)
      .groupBy(col("cell_label"))
      .agg(count(lit(1)).as("n_vectors"))
    val m = cells.agg(
      count(lit(1)).as("n_cells"),
      sum(col("n_vectors")).as("n_vectors"),
      max(col("n_vectors")).as("max_cell"),
      min(col("n_vectors")).as("min_cell"),
      sum(col("n_vectors") * col("n_vectors")).as("s2"))
    def dbl(c: String) = col(c).cast("double")
    val mean = dbl("n_vectors") / dbl("n_cells")
    val varPop = (dbl("n_cells") * dbl("s2")
      - dbl("n_vectors") * dbl("n_vectors")) / (dbl("n_cells")
        * dbl("n_cells"))
    m.select(col("n_cells"), col("n_vectors"), col("max_cell"),
      col("min_cell"),
      round(mean, 6).as("mean_cell"),
      round(dbl("max_cell") / mean, 6).as("load_factor"),
      round(sqrt(varPop) / mean, 6).as("cv"))
  }

  private val MAT_DIMS = Seq(8, 16, 32)

  /** Matryoshka truncation-recall curve: recall@K of top-K search run on
    * only the FIRST d dimensions (d = 8/16/32 of 64) against the
    * full-dimension exact truth — the serving-cost dial modern
    * nested-representation embeddings expose (truncate → smaller index,
    * cheaper dot products; this query measures what that buys/costs on
    * THIS corpus, the number an index planner reads before picking d).
    *
    * Plan: truncated norms are precomputed ONCE per side (three extra
    * columns in the scan projection — never per pair), the broadcast
    * query join scores all three truncations in one candidate pass, and
    * the per-(d, query) top-K is a WindowGroupLimit over the scored
    * stream. Truth comes from the SHARED staged exact-truth frame. */
  private def matryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    val wSim = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val truth = exactScoredPairs(s, dir)
      .filter(col("vec_id") >= N_QUERIES)
      .withColumn("rk", row_number().over(wSim))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("vec_id"))
    def withTruncNorms(d: DataFrame): DataFrame =
      MAT_DIMS.foldLeft(d)((acc, dd) =>
        acc.withColumn(s"n$dd", norm(slice(col("v"), 1, dd))))
    val e = withTruncNorms(emb(s, dir))
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id") +: col("v").as("qv") +:
        MAT_DIMS.map(dd => col(s"n$dd").as(s"qn$dd")): _*)
    val scored = e.filter(col("vec_id") >= N_QUERIES).join(broadcast(q))
    val perD = MAT_DIMS.map { dd =>
      scored.select(lit(dd).as("dims"), col("q_id"), col("vec_id"),
        round(dot(slice(col("v"), 1, dd), slice(col("qv"), 1, dd))
          / (col(s"n$dd") * col(s"qn$dd")), 6).as("sim"))
    }.reduce(_ unionByName _)
    val wD = Window.partitionBy(col("dims"), col("q_id"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val approx = perD.withColumn("rk", row_number().over(wD))
      .filter(col("rk") <= K)
      .select(col("dims").as("adims"), col("q_id").as("aq"),
        col("vec_id").as("av"))
    import s.implicits._
    val dimsDf = MAT_DIMS.toDF("dims")
    truth.crossJoin(broadcast(dimsDf))
      .join(approx,
        col("dims") === col("adims") && col("q_id") === col("aq")
          && col("vec_id") === col("av"), "left")
      .groupBy(col("dims"), col("q_id"))
      .agg(count(col("aq")).as("n_hits"))
      .select(col("dims"), col("q_id"), col("n_hits"),
        round(col("n_hits").cast("double") / K, 6).as("recall"))
      .orderBy(col("dims"), col("q_id"))
  }

  /** EMBEDDING DRIFT between two corpus slices — the vector-space
    * companion to rel_ks_drift: when an embedding model is retrained or
    * the upstream corpus shifts, per-label centroids move, and a serving
    * index built on yesterday's geometry quietly degrades. Split = even
    * vs odd vec_id (the deterministic stand-in for time halves); per
    * (label, half, dim) the centroid coordinate is an exact decimal mean
    * (one shuffle of label×half×dim cells — dimension-sized, never
    * vector-count-sized), and the per-label drift measure is the cosine
    * between the two half-centroids with dot/norms as decimal sums over
    * the d cells (order-free, engine-exact; rounded 6 dp for emission).
    * Identical halves ⇒ cos 1.0; a drifted label shows directly. */
  def embeddingDrift(d: DataFrame, label: Column, inRef: Column,
      vec: Column): DataFrame = {
    val ex = d
      .select(label.as("label"),
        when(inRef, 0).otherwise(1).as("half"),
        posexplode(transform(vec, x => x.cast("double")))
          .as(Seq("dim", "x")))
    val cen = ex.groupBy(col("label"), col("half"), col("dim"))
      .agg(avgD(col("x")).as("m"), count(lit(1)).as("nv"))
    val a = cen.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("m").as("ma"), col("nv").as("na"))
    val b = cen.filter(col("half") === 1)
      .select(col("label").as("lb"), col("dim").as("db"),
        col("m").as("mb"), col("nv").as("nb"))
    a.join(b, col("label") === col("lb") && col("dim") === col("db"))
      .groupBy(col("label"))
      .agg(
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum((col("ma") * col("mb")).cast(Exact.dec)).cast("double").as("dp"),
        sum((col("ma") * col("ma")).cast(Exact.dec)).cast("double").as("qa"),
        sum((col("mb") * col("mb")).cast(Exact.dec)).cast("double").as("qb"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(col("dp") / (sqrt(col("qa")) * sqrt(col("qb"))), 6)
          .as("centroid_cos"),
        round(sqrt(col("qa")), 6).as("norm_a"),
        round(sqrt(col("qb")), 6).as("norm_b"))
      .orderBy(col("label"))
  }

  /** Per-label embedding stats (norm distribution). */
  private def embedStats(s: SparkSession, dir: String): DataFrame =
    withNorm(emb(s, dir))
      .withColumn("nrm_r", round(col("nrm"), 6))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        avgD(col("nrm_r")).as("avg_norm"),
        min(col("nrm_r")).as("min_norm"),
        max(col("nrm_r")).as("max_norm"))
      .orderBy(col("label"))

  /** Covariance matrix of the embedding corpus — the substrate every
    * PCA / whitening / Mahalanobis step needs. ONE pass, ONE aggregation:
    * each row map-side expands to its upper-triangle outer product (two
    * chained posexplodes, no self-join), and the (i,j) hash aggregate
    * carries the product sum AND both marginal sums — s_i is just
    * sum(vi) within the (i,j) group — so means need no second scan and
    * no join-back. Decimal sums make every cell partitioning-independent.
    *
    * Scale: per-row CPU is the inherent O(d²) of covariance; the shuffle
    * is d(d+1)/2 partial-aggregate keys per map partition (d=64 → 2080
    * rows), independent of corpus size. This is the DataFrame rendering
    * of MLlib RowMatrix.computeCovariance's treeAggregate.
    *
    * PUBLIC: returns upper-triangle cells (i, j, n, cov). */
  def covariance(d: DataFrame, vecCol: String): DataFrame = {
    val s = d.sparkSession
    // r16 optimization round: the double-posexplode ladder generated
    // d(d+1)/2 UnsafeRows PER VECTOR and pushed each through a
    // 2080-key decimal hash aggregate — three double→DECIMAL(32,12)
    // casts (a BigDecimal parse each) and three decimal-sum buffer
    // updates per cell-row. The cells now accumulate in a mapPartitions
    // kernel (the minhash / gear-CDC discipline): per row, each element
    // quantizes ONCE (reused across its row and column sums) and only
    // the product term quantizes per cell; sums accumulate the scaled
    // unscaled-values as exact integers (longs with overflow spill to
    // BigInteger — the same exactness class as the decimal sums they
    // replace, order-free under any partitioning). Per-partition
    // partials (≤ d(d+1)/2 rows each) then combine through ONE decimal
    // hash aggregate, and the final cast/round ladder is unchanged —
    // CAST(exact decimal sum AS DOUBLE) is the value the old plan
    // produced, bit for bit.
    val q12scale = java.math.BigInteger.TEN.pow(12)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("psp",
        org.apache.spark.sql.types.DecimalType(38, 12), nullable = true),
      org.apache.spark.sql.types.StructField("psi",
        org.apache.spark.sql.types.DecimalType(38, 12), nullable = true),
      org.apache.spark.sql.types.StructField("psj",
        org.apache.spark.sql.types.DecimalType(38, 12), nullable = true),
      org.apache.spark.sql.types.StructField("pn",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val partials = d.select(col(vecCol).cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)).as("v")).rdd
      .mapPartitions { it =>
        // exact accumulator: long fast path, BigInteger spill; null cell
        // terms (a null element, or a product past DECIMAL(32,12)'s 20
        // integral digits — the old cast's overflow-to-NULL) skip the sum
        // but still count the row, exactly like SUM over a NULL
        final class Acc {
          var l = 0L
          var big: java.math.BigInteger = null
          var any = false
          def add(u: Long): Unit = {
            any = true
            l += u
            if (l > (1L << 61) || l < -(1L << 61)) flush()
          }
          def addBig(u: java.math.BigInteger): Unit = {
            any = true
            big = if (big == null) u else big.add(u)
          }
          def flush(): Unit = {
            val b = java.math.BigInteger.valueOf(l)
            big = if (big == null) b else big.add(b)
            l = 0L
          }
          def toDec: java.math.BigDecimal =
            if (!any) null
            else {
              flush()
              new java.math.BigDecimal(big, 12)
            }
        }
        // q12: the engine's Cast(double → DECIMAL(32,12)) spelling —
        // shortest-string BigDecimal, HALF_UP. Fast path: |t| < 9e5
        // keeps the scaled unscaled-value in a long (≤ 9e17 — safely
        // under the Acc spill threshold). Slow path (big magnitudes):
        // BigInteger unscaled, with the cast's own overflow-to-NULL at
        // precision > 32. NaN/Inf → NULL, like the cast.
        val NULLQ = java.math.BigInteger.valueOf(Long.MinValue)
        def q12big(t: Double): java.math.BigInteger =
          if (java.lang.Double.isNaN(t) || java.lang.Double.isInfinite(t))
            NULLQ
          else {
            val bd = new java.math.BigDecimal(java.lang.Double.toString(t))
              .setScale(12, java.math.RoundingMode.HALF_UP)
            if (bd.precision > 32) NULLQ else bd.unscaledValue()
          }
        def q12fastOk(t: Double): Boolean =
          !java.lang.Double.isNaN(t) && !java.lang.Double.isInfinite(t) &&
            math.abs(t) < 9.0e5
        def q12(t: Double): Long =
          new java.math.BigDecimal(java.lang.Double.toString(t))
            .setScale(12, java.math.RoundingMode.HALF_UP)
            .unscaledValue().longValue()
        var maxD = 0
        var spA: Array[Acc] = new Array[Acc](0)
        var siA: Array[Acc] = new Array[Acc](0)
        var sjA: Array[Acc] = new Array[Acc](0)
        var nA: Array[Long] = new Array[Long](0)
        var bigCells: scala.collection.mutable.HashMap[Int,
          (java.math.BigInteger, java.math.BigInteger,
            java.math.BigInteger)] = null
        def cellOf(i: Int, j: Int): Int = i * maxD - i * (i - 1) / 2 + (j - i)
        def grow(len: Int): Unit = if (len > maxD) {
          val nCells = len * (len + 1) / 2
          val (osp, osi, osj, on, om) = (spA, siA, sjA, nA, maxD)
          spA = new Array[Acc](nCells); siA = new Array[Acc](nCells)
          sjA = new Array[Acc](nCells); nA = new Array[Long](nCells)
          var i = 0
          while (i < om) {
            var j = i
            while (j < om) {
              val oc = i * om - i * (i - 1) / 2 + (j - i)
              val nc = i * len - i * (i - 1) / 2 + (j - i)
              spA(nc) = osp(oc); siA(nc) = osi(oc); sjA(nc) = osj(oc)
              nA(nc) = on(oc)
              j += 1
            }
            i += 1
          }
          maxD = len
        }
        it.foreach { r =>
          if (!r.isNullAt(0)) {
            val v = r.getSeq[Any](0)
            val len = v.length
            grow(len)
            // quantize each element once; null elements stay marked
            val qv = new Array[Long](len)
            val qbv = new Array[java.math.BigInteger](len)
            val dv = new Array[Double](len)
            val nul = new Array[Boolean](len)
            var i = 0
            while (i < len) {
              v(i) match {
                case x: java.lang.Double =>
                  dv(i) = x.doubleValue
                  if (q12fastOk(dv(i))) qv(i) = q12(dv(i))
                  else {
                    val b = q12big(dv(i))
                    if (b eq NULLQ) nul(i) = true else qbv(i) = b
                  }
                case _ => nul(i) = true
              }
              i += 1
            }
            i = 0
            while (i < len) {
              var j = i
              while (j < len) {
                val c = cellOf(i, j)
                if (spA(c) == null) {
                  spA(c) = new Acc; siA(c) = new Acc; sjA(c) = new Acc
                }
                nA(c) += 1L
                if (!nul(i) && !nul(j)) {
                  val p = dv(i) * dv(j)
                  if (q12fastOk(p)) spA(c).add(q12(p))
                  else {
                    val b = q12big(p)
                    if (b ne NULLQ) spA(c).addBig(b)
                  }
                }
                if (!nul(i)) {
                  if (qbv(i) == null) siA(c).add(qv(i))
                  else siA(c).addBig(qbv(i))
                }
                if (!nul(j)) {
                  if (qbv(j) == null) sjA(c).add(qv(j))
                  else sjA(c).addBig(qbv(j))
                }
                j += 1
              }
              i += 1
            }
          }
        }
        val out = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.Row]
        var i = 0
        while (i < maxD) {
          var j = i
          while (j < maxD) {
            val c = cellOf(i, j)
            if (nA(c) > 0L) out += org.apache.spark.sql.Row(
              i.toLong, j.toLong,
              if (spA(c) == null) null else spA(c).toDec,
              if (siA(c) == null) null else siA(c).toDec,
              if (sjA(c) == null) null else sjA(c).toDec,
              nA(c))
            j += 1
          }
          i += 1
        }
        out.iterator
      }
    s.createDataFrame(partials, outSchema)
      .groupBy(col("i"), col("j"))
      .agg(
        sum(col("psp")).cast("double").as("sp"),
        sum(col("psi")).cast("double").as("si"),
        sum(col("psj")).cast("double").as("sj"),
        sum(col("pn")).as("n"))
      // final 9 dp round absorbs the one place the engines may disagree
      // by an ulp: DuckDB casts a wide decimal to double via int128 /
      // 10^scale (two roundings), Spark via correctly-rounded BigDecimal
      .withColumn("cov",
        round(col("sp") / col("n") -
          (col("si") / col("n")) * (col("sj") / col("n")), 9))
      .select(col("i"), col("j"), col("n"), col("cov"))
      .orderBy(col("i"), col("j"))
  }

  /** Staged covariance cells — the substrate sim_covariance emits and
    * sim_pca_project iterates on; one O(corpus·d²) pass per verify/bench
    * pass feeds both. */
  private def covCells(s: SparkSession, dir: String): DataFrame =
    Staging.staged(s, dir, "cov_cells")(covariance(emb(s, dir), "v"))

  private def covarianceQ(s: SparkSession, dir: String): DataFrame =
    covCells(s, dir).orderBy(col("i"), col("j"))

  private val PCA_STEPS = 10

  /** PCA TOP COMPONENT by power iteration — the embedding-compression /
    * whitening step a training pipeline runs before storing or indexing
    * vectors, built as oracle-replayable iterative dataflow (the
    * sim_kmeans_train / text_quality_train discipline):
    *
    *   - the corpus-sized work is the ONE covariance pass (the staged
    *     [[covCells]] substrate, map-side outer products, d(d+1)/2
    *     partial-aggregate keys — corpus never shuffles) plus ONE
    *     projection pass at the end;
    *   - the iteration itself is d×d-matrix-by-d-vector arithmetic —
    *     model-sized, driver-side — with every cross-engine-visible sum
    *     quantized to DECIMAL(32,12) via the engine's own cast spelling
    *     (shortest-string BigDecimal, HALF_UP — the absentConstOf
    *     contract), each iterate renormalized and rounded 12 dp, so the
    *     whole trajectory is bit-reproducible and DuckDB REPLAYS all
    *     PCA_STEPS as unrolled CTEs over the same cov cells;
    *   - the pinned output: per-label projection statistics onto the
    *     learned component (the dot fold matches the oracle's in-order
    *     list_reduce exactly — the sim_cosine contract), with the
    *     eigenvalue estimate |C·v| and its share of trace(C) riding
    *     along, so a drifted iteration breaks the hash, not a dashboard.
    *
    * The synthetic corpus is nearly isotropic (var_explained ≈ 1/38), so
    * pc1 carries little variance here — the operator's value is the
    * discipline: exact substrate, deterministic replayable training,
    * served projection. A convergence require (λ moved < 5% on the last
    * step) guards against shipping an unconverged component. EAGER (the
    * cov-cell collect — 2080 cells, metadata — runs at plan build). */
  private def q12(t: Double) =
    new java.math.BigDecimal(java.lang.Double.toString(t))
      .setScale(12, java.math.RoundingMode.HALF_UP)

  private def decSum12(ts: Iterator[Double]): Double =
    ts.foldLeft(java.math.BigDecimal.ZERO)((a, t) => a.add(q12(t)))
      .doubleValue

  private def rnd(x: Double, sc: Int) =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(sc, java.math.RoundingMode.HALF_UP).doubleValue

  /** The deterministic power iteration itself (model-sized, driver-side;
    * spelled identically in the oracle's unrolled CTEs). Returns the
    * component, its eigenvalue estimate |C·v| after the final step, and
    * the previous step's estimate (the convergence witness). */
  private[ops] def powerIterate(c: Array[Array[Double]],
      steps: Int = PCA_STEPS): (Array[Double], Double, Double) = {
    val dim = c.length
    var v = Array.fill(dim)(rnd(1.0 / math.sqrt(dim.toDouble), 12))
    var lam = 0.0
    var lamPrev = 0.0
    for (_ <- 1 to steps) {
      val u = Array.tabulate(dim)(i =>
        decSum12((0 until dim).iterator.map(j => c(i)(j) * v(j))))
      lamPrev = lam
      lam = math.sqrt(decSum12(u.iterator.map(x => x * x)))
      v = u.map(x => rnd(x / lam, 12))
    }
    (v, lam, lamPrev)
  }

  private def pcaProjectQ(s: SparkSession, dir: String): DataFrame = {
    val cells = covCells(s, dir).select(col("i"), col("j"), col("cov"))
      .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt,
        r.getDouble(2)))
    val dim = cells.map(_._2).max + 1
    val c = Array.ofDim[Double](dim, dim)
    cells.foreach { case (i, j, v) => c(i)(j) = v; c(j)(i) = v }
    val (v, lam, lamPrev) = powerIterate(c)
    require(lamPrev > 0 && math.abs(lam - lamPrev) / lam < 0.05,
      s"power iteration not converged after $PCA_STEPS steps: " +
        s"lambda $lamPrev -> $lam")
    val trace = decSum12((0 until dim).iterator.map(i => c(i)(i)))
    val pv = array(v.map(lit(_)): _*)
    emb(s, dir)
      .select(col("label"), round(dot(col("v"), pv), 6).as("pc1"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(
          sum(col("pc1").cast(Exact.dec)).cast("double") / count(lit(1)), 6)
          .as("mean_pc1"),
        min(col("pc1")).as("min_pc1"), max(col("pc1")).as("max_pc1"))
      .withColumn("eig1", lit(rnd(lam, 6)))
      .withColumn("var_explained", lit(rnd(lam / trace, 6)))
      .orderBy(col("label"))
  }

  /** Maximum-inner-product top-k (MIPS) — the retrieval objective when
    * embeddings encode magnitude (recommender scores, unnormalized BM25
    * projections), distinct from cosine. Exact brute-force arm: same
    * broadcast-query / codegen-dot / per-query-window plan as
    * [[cosineTopK]], minus the norm division. At scale, MIPS reduces to
    * cosine over magnitude-augmented vectors (append sqrt(M²-|x|²) to
    * candidates, 0 to queries — Bachrach et al.'s asymmetric transform),
    * after which the IVF/LSH cell-pruned serve path of sim_ann_* applies
    * unchanged; the exact arm here is that path's ground truth. */
  private def mipsTopK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val cand = e.filter(col("vec_id") >= N_QUERIES)
    val scored = cand.join(broadcast(q))
      .withColumn("score", round(dot(col("v"), col("qv")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= K)
      .select(col("q_id"), col("rk"), col("vec_id"), col("score"))
      .orderBy(col("q_id"), col("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_covariance" -> covarianceQ,
    "sim_pca_project" -> pcaProjectQ,
    "sim_cosine_topk" -> cosineTopK,
    "sim_mmr_rerank" -> mmrRerank,
    "sim_matryoshka_recall" -> matryoshkaRecall,
    "sim_mips_topk" -> mipsTopK,
    "sim_ann_lsh" -> annLsh,
    "sim_ann_ivf" -> annIvf,
    "sim_ann_filtered" -> annFiltered,
    "sim_ann_index_serve" -> annIndexServe,
    "sim_ann_refresh" -> annRefresh,
    "sim_ann_delete" -> annDeleteQ,
    "sim_ann_recall" -> annRecall,
    "sim_recall_curve" -> recallCurveQ,
    "sim_ivf_imbalance" -> ivfImbalanceQ,
    "sim_ann_multiprobe" -> annMultiprobe,
    "sim_quantize_i8" -> quantizeI8,
    "sim_embed_stats" -> embedStats,
    "sim_embedding_drift" -> ((s, dir) => embeddingDrift(
      graft.Tables.balanced(s, dir, "embeddings", "vec_id"),
      col("label"), pmod(col("vec_id"), lit(2)) === 0, col("embedding"))),
    "dedup_embed_cosine" -> embedCosineNearDup,
    "dedup_semantic" -> semanticDedup,
    "sim_dedup_threshold_sweep" -> dedupSweepQ,
    "sim_knn_graph" -> knnGraph,
    "sim_knn_components" -> knnComponents,
    "sim_centroid_cohesion" -> centroidCohesion,
    "sim_kmeans_train" -> kmeansTrain,
    "sim_silhouette" -> silhouetteQ,
    "sim_pq_adc" -> pqAdc,
    "sim_ann_pq_serve" -> annPqServe,
    "sim_pq_recall" -> pqRecall,
  )

  // ---- DuckDB oracle ----------------------------------------------------

  // sequential left folds mirroring the Spark HOFs exactly
  private val dotSql =
    "list_reduce(list_transform(generate_series(1, len(v)), i -> v[i]*qv[i]), (a,x) -> a+x)"
  private val normSql =
    "sqrt(list_reduce(list_transform(v, x -> x*x), (a,x) -> a+x))"
  private val bucketSql = LSH_DIMS.map(d =>
    s"(CASE WHEN v[$d] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")

  private def sqSql(a: String, b: String) =
    s"round(list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> ($a[i]-$b[i])*($a[i]-$b[i])), (acc,x) -> acc+x), 6)"

  /** Shared PQ CTE ladder (expects an `e(vec_id, v)` CTE in scope):
    * sub-vectors → deterministic-init codebooks (one Lloyd step) →
    * candidate codes → per-query ADC lookup table. */
  private lazy val pqCtesSql: String =
    s"""sub AS (
       |  SELECT vec_id, 0 AS sp, v[1:${PQ_SUBDIM}] AS sv FROM e
       |  UNION ALL
       |  SELECT vec_id, 1 AS sp, v[${PQ_SUBDIM + 1}:${2 * PQ_SUBDIM}] AS sv FROM e
       |),
       |c0 AS (SELECT sp, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < $PQ_K),
       |a1 AS (
       |  SELECT sp, vec_id, cid, sv FROM (
       |    SELECT s.sp, s.vec_id, c.cid, s.sv,
       |      row_number() OVER (PARTITION BY s.sp, s.vec_id
       |        ORDER BY ${sqSql("s.sv", "c.cv")} ASC, c.cid ASC) AS rk
       |    FROM sub s JOIN c0 c ON s.sp = c.sp) WHERE rk = 1
       |),
       |c1 AS (
       |  SELECT sp, cid, list(m ORDER BY dim) AS cv FROM (
       |    SELECT sp, cid, i AS dim,
       |      CAST(SUM(CAST(sv[i] AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS m
       |    FROM a1, unnest(generate_series(1, len(sv))) AS t(i)
       |    GROUP BY 1, 2, 3) GROUP BY sp, cid
       |),
       |codes AS (
       |  SELECT sp, vec_id, cid FROM (
       |    SELECT s.sp, s.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY s.sp, s.vec_id
       |        ORDER BY ${sqSql("s.sv", "c.cv")} ASC, c.cid ASC) AS rk
       |    FROM sub s JOIN c1 c ON s.sp = c.sp) WHERE rk = 1 AND vec_id >= $N_QUERIES
       |),
       |lut AS (
       |  SELECT q.sp, q.vec_id AS q_id, c.cid, ${sqSql("q.sv", "c.cv")} AS d
       |  FROM sub q JOIN c1 c ON q.sp = c.sp WHERE q.vec_id < $N_QUERIES
       |)""".stripMargin

  private lazy val pqAdcSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |$pqCtesSql,
       |adc AS (
       |  SELECT l.q_id, k.vec_id,
       |    CAST(SUM(CAST(l.d AS DECIMAL(30,6))) AS DOUBLE) AS adc
       |  FROM codes k JOIN lut l ON k.sp = l.sp AND k.cid = l.cid
       |  GROUP BY 1, 2
       |)
       |SELECT q_id, rk, vec_id, adc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc ASC, vec_id ASC) AS rk FROM adc
       |) WHERE rk <= $K ORDER BY q_id, rk""".stripMargin

  private lazy val annPqServeSql: String =
    s"""WITH $eCte,
       |${quantizerRankedCtesSql},
       |qp AS (
       |  SELECT vec_id AS q_id, label AS cell FROM qranked
       |  WHERE vec_id < $N_QUERIES AND crk <= $NPROBE
       |), cand AS (
       |  SELECT vec_id, label AS cell FROM qranked
       |  WHERE crk = 1 AND vec_id >= $N_QUERIES
       |),
       |$pqCtesSql,
       |pairs AS (
       |  SELECT qp.q_id, c.vec_id FROM qp JOIN cand c ON qp.cell = c.cell
       |),
       |adcs AS (
       |  SELECT p.q_id, p.vec_id,
       |    CAST(SUM(CAST(l.d AS DECIMAL(30,6))) AS DOUBLE) AS adc
       |  FROM pairs p
       |  JOIN codes k ON k.vec_id = p.vec_id
       |  JOIN lut l ON l.sp = k.sp AND l.cid = k.cid AND l.q_id = p.q_id
       |  GROUP BY 1, 2
       |)
       |SELECT q_id, rk, vec_id, adc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY adc ASC, vec_id ASC) AS rk FROM adcs
       |) WHERE rk <= $K ORDER BY q_id, rk""".stripMargin

  /** The k-means oracle pieces, shared by the train and silhouette
    * replays: squared-L2 in dimension order rounded 6 dp, the
    * nearest-centroid assignment CTE, the Lloyd-update CTE, and the
    * full KM_ITERS fit chain ending at centroid table `c2`. */
  private def kmSqSql(v: String, c: String) =
    s"round(list_reduce(list_transform(generate_series(1, len($v)), " +
      s"i -> ($v[i]-$c[i])*($v[i]-$c[i])), (a,x) -> a+x), 6)"

  private def kmAssignCteSql(a: String, cents: String) =
    s"""$a AS (
       |  SELECT vec_id, cid, v, d FROM (
       |    SELECT e.vec_id, c.cid, e.v, ${kmSqSql("e.v", "c.cv")} AS d,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${kmSqSql("e.v", "c.cv")} ASC, c.cid ASC) AS rk
       |    FROM e CROSS JOIN $cents c) WHERE rk = 1
       |)""".stripMargin

  private def kmUpdateCteSql(c: String, from: String) =
    s"""$c AS (
       |  SELECT cid, list(m ORDER BY dim) AS cv FROM (
       |    SELECT cid, i AS dim,
       |      CAST(SUM(CAST(v[i] AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS m
       |    FROM $from, unnest(generate_series(1, len(v))) AS t(i)
       |    GROUP BY 1, 2) GROUP BY cid
       |)""".stripMargin

  private lazy val kmFitCtesSql: String =
    s"""${kmUpdateCteSql("c0",
        "(SELECT label AS cid, embedding::DOUBLE[] AS v FROM embeddings)")},
       |${kmAssignCteSql("a1", "c0")},
       |${kmUpdateCteSql("c1", "a1")},
       |${kmAssignCteSql("a2", "c1")},
       |${kmUpdateCteSql("c2", "a2")}""".stripMargin

  private val eCte =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
       |  sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x*x), (a,x) -> a+x)) AS nrm
       |  FROM embeddings)""".stripMargin

  /** Shared with TextOps's hybrid-retrieval oracle: the semantic arm
    * replays the same embedding CTE and quantizer-cell ranking as
    * sim_ann_ivf (CTE named `qranked` to avoid collisions with the text
    * CTEs it composes with). */
  private[ops] def eCteSql: String = eCte

  // the dedup_semantic assignment replay (embeddings → label centroids →
  // nearest-cell assignment), shared by the dedup_semantic oracle and the
  // threshold-sweep oracle so the chain is spelled once
  private val semDotAB =
    "list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)"

  private lazy val semAssignedCtes: String = {
    val dotAC =
      "list_reduce(list_transform(generate_series(1, len(e.v)), i -> e.v[i]*c.cv[i]), (a,x) -> a+x)"
    s"""$eCte,
       |ex AS (
       |  SELECT label, i AS dim, v[i] AS val
       |  FROM e, unnest(generate_series(1, len(v))) AS t(i)
       |), centd AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
       |  FROM ex GROUP BY 1, 2
       |), cent AS (
       |  SELECT label, list(c ORDER BY dim) AS cv FROM centd GROUP BY label
       |), centn AS (
       |  SELECT label, cv,
       |    sqrt(list_reduce(list_transform(cv, x -> x*x), (a,x) -> a+x)) AS cn
       |  FROM cent
       |), cs AS (
       |  SELECT e.vec_id, e.v, e.nrm, c.label,
       |    round($dotAC / (e.nrm * c.cn), 6) AS csim
       |  FROM e CROSS JOIN centn c
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, label ASC) AS crk FROM cs
       |), assigned AS (
       |  SELECT vec_id, label AS cell, v, nrm, csim FROM ranked WHERE crk = 1
       |)""".stripMargin
  }

  private[ops] val quantizerRankedCtesSql: String = {
    val dotAC =
      "list_reduce(list_transform(generate_series(1, len(e.v)), i -> e.v[i]*c.cv[i]), (a,x) -> a+x)"
    s"""ex AS (
       |  SELECT label, i AS dim, v[i] AS val
       |  FROM e, unnest(generate_series(1, len(v))) AS t(i)
       |), centd AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
       |  FROM ex GROUP BY 1, 2
       |), cent AS (
       |  SELECT label, list(c ORDER BY dim) AS cv FROM centd GROUP BY label
       |), centn AS (
       |  SELECT label, cv,
       |    sqrt(list_reduce(list_transform(cv, x -> x*x), (a,x) -> a+x)) AS cn
       |  FROM cent
       |), qranked AS (
       |  SELECT e.vec_id, e.v, e.nrm, c.label,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round($dotAC / (e.nrm * c.cn), 6) DESC, c.label ASC) AS crk
       |  FROM e CROSS JOIN centn c
       |)""".stripMargin
  }

  private val cosineTopkSql =
    s"""WITH $eCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, round($dotSql / (e.nrm * q.qn), 6) AS sim
         |  FROM e CROSS JOIN q WHERE e.vec_id >= $N_QUERIES
         |)
         |SELECT q_id, rk, vec_id, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
         |  FROM scored
         |) WHERE rk <= $K ORDER BY q_id, rk""".stripMargin

  /** The sim_mmr_rerank oracle: candidate + pairwise-sim CTEs, then the K
    * greedy steps unrolled as a generated CTE ladder (sel_t picks the
    * argmax over cand minus all_{t-1}; all_t accumulates) from the SAME
    * constants the plan uses. λ and 1−λ are embedded as the exact decimal
    * expansions of the plan's doubles (1−0.7 is NOT the double 0.3). */
  private lazy val mmrRerankSql: String = {
    def dlit(x: Double) =
      s"CAST('${new java.math.BigDecimal(x).toPlainString}' AS DOUBLE)"
    val lam = dlit(MMR_LAM)
    val gam = dlit(1.0 - MMR_LAM)
    val pairDot =
      "list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)"
    val steps = (2 to MMR_K).map { t =>
      s"""sel$t AS (
         |  SELECT q_id, CAST($t AS BIGINT) AS step, vec_id, rel, maxsim, mmr FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY mmr DESC, vec_id ASC) AS rk FROM (
         |      SELECT c.q_id, c.vec_id, c.rel, m.maxsim,
         |        $lam * c.rel - $gam * m.maxsim AS mmr
         |      FROM cand c
         |      JOIN (SELECT p.q_id, p.a_id, MAX(p.psim) AS maxsim
         |            FROM pairs p JOIN all${t - 1} s
         |              ON p.q_id = s.q_id AND p.b_id = s.vec_id
         |            GROUP BY 1, 2) m
         |        ON c.q_id = m.q_id AND c.vec_id = m.a_id
         |      WHERE NOT EXISTS (SELECT 1 FROM all${t - 1} s2
         |        WHERE s2.q_id = c.q_id AND s2.vec_id = c.vec_id)
         |    )
         |  ) WHERE rk = 1
         |),
         |all$t AS (SELECT * FROM all${t - 1} UNION ALL SELECT * FROM sel$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $eCte,
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
       |cand AS (
       |  SELECT q_id, vec_id, sim AS rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id ASC) AS rk FROM (
       |      SELECT q.q_id, e.vec_id, round($dotSql / (e.nrm * q.qn), 6) AS sim
       |      FROM e CROSS JOIN q WHERE e.vec_id >= $N_QUERIES)
       |  ) WHERE rk <= $MMR_N
       |),
       |cv AS (SELECT c.q_id, c.vec_id, e.v, e.nrm FROM cand c JOIN e USING (vec_id)),
       |pairs AS (
       |  SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
       |    round($pairDot / (a.nrm * b.nrm), 6) AS psim
       |  FROM cv a JOIN cv b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id
       |),
       |sel1 AS (
       |  SELECT q_id, CAST(1 AS BIGINT) AS step, vec_id, rel, maxsim, mmr FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY mmr DESC, vec_id ASC) AS rk FROM (
       |      SELECT q_id, vec_id, rel, CAST(0.0 AS DOUBLE) AS maxsim,
       |        $lam * rel - $gam * CAST(0.0 AS DOUBLE) AS mmr FROM cand)
       |  ) WHERE rk = 1
       |),
       |all1 AS (SELECT * FROM sel1),
       |$steps
       |SELECT q_id, step, vec_id, rel, maxsim,
       |  CAST(floor(mmr * 1e6 + 0.5) AS DOUBLE) / 1e6 AS mmr
       |FROM all$MMR_K ORDER BY q_id, step""".stripMargin
  }

  // exact filtered top-K: the brute-force scan with the predicate applied
  // BEFORE the per-query window — sim_ann_filtered's ground truth
  private val cosineTopkFilSql =
    s"""WITH $eCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM e WHERE vec_id < $N_QUERIES),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, round($dotSql / (e.nrm * q.qn), 6) AS sim
         |  FROM e CROSS JOIN q
         |  WHERE e.vec_id >= $N_QUERIES AND e.label % $FILTER_MOD = 0
         |)
         |SELECT q_id, rk, vec_id, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
         |  FROM scored
         |) WHERE rk <= $K ORDER BY q_id, rk""".stripMargin

  private val annLshSql =
    s"""WITH $eCte,
         |eb AS (SELECT *, $bucketSql AS bkt FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bkt AS qbkt FROM eb WHERE vec_id < $N_QUERIES),
         |scored AS (
         |  SELECT q.q_id, eb.bkt, eb.vec_id, round($dotSql / (eb.nrm * q.qn), 6) AS sim
         |  FROM eb JOIN q ON eb.bkt = q.qbkt WHERE eb.vec_id >= $N_QUERIES
         |)
         |SELECT q_id, bkt, rk, vec_id, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
         |  FROM scored
         |) WHERE rk <= $K ORDER BY q_id, rk""".stripMargin

  /** sim_ann_ivf's oracle, with an optional extra predicate on the
    * indexed candidates — `extraAssignedPred` (e.g. "AND vec_id % 17 <> 0")
    * turns it into the 'full rebuild minus the deleted ids' truth that
    * sim_ann_delete's merge-on-read serve must equal. */
  private def annIvfSqlWhere(extraAssignedPred: String) = {
      val dotAC =
        "list_reduce(list_transform(generate_series(1, len(e.v)), i -> e.v[i]*c.cv[i]), (a,x) -> a+x)"
      val dotAQ =
        "list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*p.qv[i]), (x,y) -> x+y)"
      s"""WITH $eCte,
         |ex AS (
         |  SELECT label, i AS dim, v[i] AS val
         |  FROM e, unnest(generate_series(1, len(v))) AS t(i)
         |), centd AS (
         |  SELECT label, dim,
         |    CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
         |  FROM ex GROUP BY 1, 2
         |), cent AS (
         |  SELECT label, list(c ORDER BY dim) AS cv FROM centd GROUP BY label
         |), centn AS (
         |  SELECT label, cv,
         |    sqrt(list_reduce(list_transform(cv, x -> x*x), (a,x) -> a+x)) AS cn
         |  FROM cent
         |), ranked AS (
         |  SELECT e.vec_id, e.v, e.nrm, c.label,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      round($dotAC / (e.nrm * c.cn), 6) DESC, c.label ASC) AS crk
         |  FROM e CROSS JOIN centn c
         |), assigned AS (
         |  SELECT vec_id, label AS cell, v, nrm FROM ranked
         |  WHERE crk = 1 AND vec_id >= $N_QUERIES $extraAssignedPred
         |), probes AS (
         |  SELECT vec_id AS q_id, label AS cell, v AS qv, nrm AS qn FROM ranked
         |  WHERE crk <= $NPROBE AND vec_id < $N_QUERIES
         |), scored AS (
         |  SELECT p.q_id, a.cell, a.vec_id,
         |    round($dotAQ / (a.nrm * p.qn), 6) AS sim
         |  FROM assigned a JOIN probes p USING (cell)
         |)
         |SELECT q_id, rk, cell, vec_id, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
         |  FROM scored
         |) WHERE rk <= $K ORDER BY q_id, rk""".stripMargin
  }

  private val annIvfSql = annIvfSqlWhere("")

  // sim_ann_filtered: the IVF probe replayed with the vector's OWN label
  // carried as the index payload column; rk ranks predicate survivors only
  // (window partitioned by (q_id, predicate)), post_n counts how many of
  // the UNFILTERED top-K would have survived — the under-return the
  // pre-filter form exists to avoid.
  private val annFilteredSql = {
    val dotAC =
      "list_reduce(list_transform(generate_series(1, len(e.v)), i -> e.v[i]*c.cv[i]), (a,x) -> a+x)"
    val dotAQ =
      "list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*p.qv[i]), (x,y) -> x+y)"
    s"""WITH $eCte,
       |ex AS (
       |  SELECT label, i AS dim, v[i] AS val
       |  FROM e, unnest(generate_series(1, len(v))) AS t(i)
       |), centd AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
       |  FROM ex GROUP BY 1, 2
       |), cent AS (
       |  SELECT label, list(c ORDER BY dim) AS cv FROM centd GROUP BY label
       |), centn AS (
       |  SELECT label, cv,
       |    sqrt(list_reduce(list_transform(cv, x -> x*x), (a,x) -> a+x)) AS cn
       |  FROM cent
       |), ranked AS (
       |  SELECT e.vec_id, e.v, e.nrm, e.label AS vlabel, c.label,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      round($dotAC / (e.nrm * c.cn), 6) DESC, c.label ASC) AS crk
       |  FROM e CROSS JOIN centn c
       |), assigned AS (
       |  SELECT vec_id, label AS cell, vlabel, v, nrm FROM ranked
       |  WHERE crk = 1 AND vec_id >= $N_QUERIES
       |), probes AS (
       |  SELECT vec_id AS q_id, label AS cell, v AS qv, nrm AS qn FROM ranked
       |  WHERE crk <= $NPROBE AND vec_id < $N_QUERIES
       |), scored AS (
       |  SELECT p.q_id, a.cell, a.vec_id, a.vlabel AS label,
       |    (a.vlabel % $FILTER_MOD = 0) AS keep,
       |    round($dotAQ / (a.nrm * p.qn), 6) AS sim
       |  FROM assigned a JOIN probes p USING (cell)
       |), rk AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, vec_id ASC) AS rk_all,
       |    row_number() OVER (PARTITION BY q_id, keep
       |      ORDER BY sim DESC, vec_id ASC) AS rk_fil
       |  FROM scored
       |), post AS (
       |  SELECT q_id,
       |    CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS post_n
       |  FROM rk WHERE rk_all <= $K GROUP BY q_id
       |)
       |SELECT r.q_id, r.rk_fil AS rk, r.cell, r.vec_id, r.label, r.sim,
       |  COALESCE(p.post_n, 0) AS post_n
       |FROM rk r LEFT JOIN post p USING (q_id)
       |WHERE r.keep AND r.rk_fil <= $K
       |ORDER BY q_id, rk""".stripMargin
  }

  private val annMultiprobeSql = {
    def flipSql(i: Int) =
      s"substr(qbkt, 1, ${i - 1}) || (CASE WHEN substr(qbkt, $i, 1) = '1' THEN '0' ELSE '1' END) || substr(qbkt, ${i + 1})"
    val probeRows = (s"SELECT q_id, qv, qn, qbkt AS pbkt FROM q" +:
      (1 to LSH_DIMS.size).map(i =>
        s"SELECT q_id, qv, qn, ${flipSql(i)} FROM q")).mkString(" UNION ALL ")
    s"""WITH $eCte,
       |eb AS (SELECT *, $bucketSql AS bkt FROM e),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bkt AS qbkt FROM eb WHERE vec_id < $N_QUERIES),
       |probes AS ($probeRows),
       |scored AS (
       |  SELECT p.q_id, eb.vec_id, round($dotSql / (eb.nrm * p.qn), 6) AS sim
       |  FROM eb JOIN probes p ON eb.bkt = p.pbkt WHERE eb.vec_id >= $N_QUERIES
       |)
       |SELECT q_id, rk, vec_id, sim FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rk
       |  FROM scored
       |) WHERE rk <= $K ORDER BY q_id, rk""".stripMargin
  }

  /** Shared CTE chain for the knn-graph oracles: quantizer cells (as in
    * sim_ann_ivf), nearest-cell assignment, within-cell pairwise scores,
    * per-source top-KNN_K as `knn`. */
  private val knnCtes = {
    val dotAC =
      "list_reduce(list_transform(generate_series(1, len(e.v)), i -> e.v[i]*c.cv[i]), (a,x) -> a+x)"
    val dotAB =
      "list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)"
    s"""$eCte,
       |ex AS (
       |  SELECT label, i AS dim, v[i] AS val
       |  FROM e, unnest(generate_series(1, len(v))) AS t(i)
       |), centd AS (
       |  SELECT label, dim,
       |    CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
       |  FROM ex GROUP BY 1, 2
       |), cent AS (
       |  SELECT label, list(c ORDER BY dim) AS cv FROM centd GROUP BY label
       |), centn AS (
       |  SELECT label, cv,
       |    sqrt(list_reduce(list_transform(cv, x -> x*x), (a,x) -> a+x)) AS cn
       |  FROM cent
       |), cs AS (
       |  SELECT e.vec_id, e.v, e.nrm, c.label,
       |    round($dotAC / (e.nrm * c.cn), 6) AS csim
       |  FROM e CROSS JOIN centn c
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY csim DESC, label ASC) AS crk FROM cs
       |), assigned AS (
       |  SELECT vec_id, label AS cell, v, nrm FROM ranked WHERE crk = 1
       |), scored AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst, a.cell,
       |    round($dotAB / (a.nrm * b.nrm), 6) AS sim
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |), knn AS (
       |  SELECT src, rk, dst, cell, sim FROM (
       |    SELECT *, row_number() OVER (PARTITION BY src
       |      ORDER BY sim DESC, dst ASC) AS rk FROM scored
       |  ) WHERE rk <= $KNN_K
       |)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "sim_covariance" ->
      """WITH ex AS (
        |  SELECT vec_id,
        |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
        |    unnest(generate_series(0, len(embedding) - 1)) AS dim
        |  FROM embeddings
        |)
        |SELECT a.dim AS i, b.dim AS j, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(a.val * b.val AS DECIMAL(32,12))) AS DOUBLE) / COUNT(*)
        |  - (CAST(SUM(CAST(a.val AS DECIMAL(32,12))) AS DOUBLE) / COUNT(*))
        |    * (CAST(SUM(CAST(b.val AS DECIMAL(32,12))) AS DOUBLE) / COUNT(*)), 9) AS cov
        |FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.dim >= a.dim
        |GROUP BY 1, 2 ORDER BY i, j""".stripMargin,
    // the full power-iteration trajectory unrolled as CTEs over the SAME
    // covariance cells: every mat-vec sum decimal-quantized, every
    // iterate renormalized and rounded 12 dp exactly like the driver-side
    // Scala — so the oracle replays the training, not just the output
    "sim_pca_project" -> {
      val steps = (1 to PCA_STEPS).map { k =>
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s"""u$k AS MATERIALIZED (
           |  SELECT s.i, CAST(SUM(CAST(s.cov * v.x AS DECIMAL(32,12))) AS DOUBLE) AS x
           |  FROM sym s JOIN $prev v ON s.j = v.i GROUP BY s.i
           |), l$k AS MATERIALIZED (
           |  SELECT sqrt(CAST(SUM(CAST(x * x AS DECIMAL(32,12))) AS DOUBLE)) AS lam FROM u$k
           |), v$k AS MATERIALIZED (
           |  SELECT i, round(x / (SELECT lam FROM l$k), 12) AS x FROM u$k
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ex AS MATERIALIZED (
         |  SELECT vec_id, label,
         |    unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
         |    unnest(generate_series(0, len(embedding) - 1)) AS dim
         |  FROM embeddings
         |),
         |cov AS MATERIALIZED (
         |  SELECT a.dim AS i, b.dim AS j,
         |    round(CAST(SUM(CAST(a.val * b.val AS DECIMAL(32,12))) AS DOUBLE) / COUNT(*)
         |    - (CAST(SUM(CAST(a.val AS DECIMAL(32,12))) AS DOUBLE) / COUNT(*))
         |      * (CAST(SUM(CAST(b.val AS DECIMAL(32,12))) AS DOUBLE) / COUNT(*)), 9) AS cov
         |  FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.dim >= a.dim
         |  GROUP BY 1, 2
         |),
         |sym AS MATERIALIZED (
         |  SELECT i, j, cov FROM cov
         |  UNION ALL SELECT j, i, cov FROM cov WHERE i <> j
         |),
         |dims AS (SELECT CAST(COUNT(*) AS DOUBLE) AS d FROM cov WHERE i = j),
         |v0 AS (SELECT DISTINCT i, round(1.0 / sqrt((SELECT d FROM dims)), 12) AS x FROM cov),
         |$steps,
         |trace AS (SELECT CAST(SUM(CAST(cov AS DECIMAL(32,12))) AS DOUBLE) AS tr FROM cov WHERE i = j),
         |proj AS (
         |  SELECT e.vec_id, any_value(e.label) AS label,
         |    round(list_reduce(list(e.val * v.x ORDER BY e.dim), (a,b) -> a+b), 6) AS pc1
         |  FROM ex e JOIN v$PCA_STEPS v ON e.dim = v.i
         |  GROUP BY e.vec_id
         |)
         |SELECT label, COUNT(*) AS n,
         |  round(CAST(SUM(CAST(pc1 AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS mean_pc1,
         |  min(pc1) AS min_pc1, max(pc1) AS max_pc1,
         |  round((SELECT lam FROM l$PCA_STEPS), 6) AS eig1,
         |  round((SELECT lam FROM l$PCA_STEPS) / (SELECT tr FROM trace), 6) AS var_explained
         |FROM proj GROUP BY label ORDER BY label""".stripMargin
    },
    "sim_cosine_topk" -> cosineTopkSql,
    "sim_mmr_rerank" -> mmrRerankSql,
    "sim_matryoshka_recall" -> {
      def truncSel(dd: Int) = {
        val dotT =
          s"list_reduce(list_transform(generate_series(1, $dd), i -> e.v[i]*qq.qv[i]), (a,x) -> a+x)"
        val nc =
          s"sqrt(list_reduce(list_transform(e.v[1:$dd], x -> x*x), (a,x) -> a+x))"
        val nq =
          s"sqrt(list_reduce(list_transform(qq.qv[1:$dd], x -> x*x), (a,x) -> a+x))"
        s"""  SELECT $dd AS dims, qq.q_id, e.vec_id,
           |    round($dotT / ($nc * $nq), 6) AS sim
           |  FROM e CROSS JOIN qq WHERE e.vec_id >= $N_QUERIES""".stripMargin
      }
      s"""WITH $eCte,
         |qq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $N_QUERIES),
         |truth AS (SELECT q_id, vec_id FROM ($cosineTopkSql)),
         |perd AS (
         |${MAT_DIMS.map(truncSel).mkString("\n  UNION ALL\n")}
         |), approx AS (
         |  SELECT dims, q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY dims, q_id
         |      ORDER BY sim DESC, vec_id ASC) AS rk FROM perd
         |  ) WHERE rk <= $K
         |), expected AS (
         |  SELECT d.dims, t.q_id, t.vec_id
         |  FROM truth t CROSS JOIN
         |    (SELECT unnest([${MAT_DIMS.mkString(", ")}]) AS dims) d
         |)
         |SELECT x.dims, x.q_id, CAST(COUNT(a.q_id) AS BIGINT) AS n_hits,
         |  round(COUNT(a.q_id) / $K.0, 6) AS recall
         |FROM expected x LEFT JOIN approx a
         |  ON x.dims = a.dims AND x.q_id = a.q_id AND x.vec_id = a.vec_id
         |GROUP BY x.dims, x.q_id ORDER BY x.dims, x.q_id""".stripMargin
    },
    "sim_mips_topk" ->
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $N_QUERIES),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, round($dotSql, 6) AS score
         |  FROM e CROSS JOIN q WHERE e.vec_id >= $N_QUERIES
         |)
         |SELECT q_id, rk, vec_id, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY score DESC, vec_id ASC) AS rk
         |  FROM scored
         |) WHERE rk <= $K ORDER BY q_id, rk""".stripMargin,
    "sim_ann_lsh" -> annLshSql,
    "sim_ann_ivf" -> annIvfSql,
    "sim_ann_filtered" -> annFilteredSql,
    // the persisted-index serve path answers exactly what the in-session
    // IVF answers (same quantizer, same NPROBE) — same oracle; the
    // refreshed index must also answer identically (frozen quantizer)
    "sim_ann_index_serve" -> annIvfSql,
    "sim_ann_refresh" -> annIvfSql,
    // serve ≡ a full rebuild that never had the deleted vectors
    "sim_ann_delete" -> annIvfSqlWhere("AND vec_id % 17 <> 0"),
    "sim_ann_multiprobe" -> annMultiprobeSql,
    "sim_quantize_i8" -> {
      val sq = "(v[i] - round(v[i]/scale, 0)*scale) * (v[i] - round(v[i]/scale, 0)*scale)"
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |s1 AS (SELECT label, v,
         |  list_reduce(list_transform(v, x -> abs(x)), (a,x) -> greatest(a,x)) / 127.0 AS scale
         |  FROM e),
         |s2 AS (SELECT label,
         |  round(sqrt(list_reduce(
         |    list_transform(generate_series(1, len(v)), i -> $sq),
         |    (a,x) -> a+x) / len(v)), 6) AS rmse,
         |  round(scale, 6) AS scale_r
         |  FROM s1)
         |SELECT label, COUNT(*) AS n, ${avgSql("rmse")} AS avg_rmse,
         |  MAX(rmse) AS max_rmse, ${avgSql("scale_r")} AS avg_scale
         |FROM s2 GROUP BY label ORDER BY label""".stripMargin
    },
    // recall@K composes the rankings above verbatim as subqueries; the
    // filtered path scores against ITS exact answer (brute-force top-K
    // among predicate survivors), not the unfiltered truth
    "sim_ann_recall" ->
      s"""WITH exact AS (SELECT q_id, vec_id FROM ($cosineTopkSql)),
         |exactfil AS (SELECT q_id, vec_id FROM ($cosineTopkFilSql)),
         |filr AS (SELECT q_id, vec_id FROM ($annFilteredSql)),
         |lshr AS (SELECT q_id, vec_id FROM ($annLshSql)),
         |ivfr AS (SELECT q_id, vec_id FROM ($annIvfSql)),
         |mpr AS (SELECT q_id, vec_id FROM ($annMultiprobeSql)),
         |hits AS (
         |  SELECT 'fil' AS method, e.q_id, COUNT(f.q_id) AS n_hits
         |  FROM exactfil e LEFT JOIN filr f ON e.q_id = f.q_id AND e.vec_id = f.vec_id
         |  GROUP BY e.q_id
         |  UNION ALL
         |  SELECT 'ivf' AS method, e.q_id, COUNT(i.q_id) AS n_hits
         |  FROM exact e LEFT JOIN ivfr i ON e.q_id = i.q_id AND e.vec_id = i.vec_id
         |  GROUP BY e.q_id
         |  UNION ALL
         |  SELECT 'lsh' AS method, e.q_id, COUNT(l.q_id) AS n_hits
         |  FROM exact e LEFT JOIN lshr l ON e.q_id = l.q_id AND e.vec_id = l.vec_id
         |  GROUP BY e.q_id
         |  UNION ALL
         |  SELECT 'mp' AS method, e.q_id, COUNT(m.q_id) AS n_hits
         |  FROM exact e LEFT JOIN mpr m ON e.q_id = m.q_id AND e.vec_id = m.vec_id
         |  GROUP BY e.q_id
         |)
         |SELECT method, q_id, n_hits, round(n_hits / $K.0, 6) AS recall
         |FROM hits ORDER BY method, q_id""".stripMargin,
    // the same single-join + per-k conditional-count ladder
    "sim_ivf_imbalance" ->
      s"""WITH $eCte,
         |$quantizerRankedCtesSql,
         |cells AS (
         |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors
         |  FROM qranked WHERE crk = 1 AND vec_id >= $N_QUERIES
         |  GROUP BY 1
         |), m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         |    CAST(SUM(n_vectors) AS BIGINT) AS n_vectors,
         |    CAST(MAX(n_vectors) AS BIGINT) AS max_cell,
         |    CAST(MIN(n_vectors) AS BIGINT) AS min_cell,
         |    CAST(SUM(n_vectors * n_vectors) AS BIGINT) AS s2
         |  FROM cells
         |)
         |SELECT n_cells, n_vectors, max_cell, min_cell,
         |  round(CAST(n_vectors AS DOUBLE) / CAST(n_cells AS DOUBLE), 6)
         |    AS mean_cell,
         |  round(CAST(max_cell AS DOUBLE)
         |    / (CAST(n_vectors AS DOUBLE) / CAST(n_cells AS DOUBLE)), 6)
         |    AS load_factor,
         |  round(sqrt((CAST(n_cells AS DOUBLE) * CAST(s2 AS DOUBLE)
         |      - CAST(n_vectors AS DOUBLE) * CAST(n_vectors AS DOUBLE))
         |      / (CAST(n_cells AS DOUBLE) * CAST(n_cells AS DOUBLE)))
         |    / (CAST(n_vectors AS DOUBLE) / CAST(n_cells AS DOUBLE)), 6)
         |    AS cv
         |FROM m""".stripMargin,
    "sim_recall_curve" ->
      s"""WITH exact AS (SELECT q_id, rk AS trk, vec_id FROM ($cosineTopkSql)),
         |ivfr AS (SELECT q_id, rk AS ark, vec_id FROM ($annIvfSql)),
         |j AS (
         |  SELECT e.q_id, e.trk, i.ark FROM exact e
         |  JOIN ivfr i ON e.q_id = i.q_id AND e.vec_id = i.vec_id
         |), nq AS (
         |  SELECT CAST(COUNT(DISTINCT q_id) AS BIGINT) AS n_queries FROM exact
         |), hits AS (
         |  -- k frame LEFT-joins the pairs: empty j still yields the 3-row
         |  -- recall-0 curve (mirrors the Spark left join + coalesce)
         |  SELECT ks.k, CAST(COALESCE(SUM(CASE WHEN trk <= ks.k
         |    AND ark <= ks.k THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
         |  FROM (SELECT unnest([${CURVE_KS.mkString(", ")}]) AS k) ks
         |  LEFT JOIN j ON TRUE
         |  GROUP BY ks.k
         |)
         |SELECT CAST(k AS BIGINT) AS k, n_queries, n_hits,
         |  CASE WHEN n_queries > 0
         |    THEN round(CAST(n_hits AS DOUBLE) / (k * n_queries), 6)
         |    ELSE NULL END AS recall
         |FROM hits CROSS JOIN nq ORDER BY k""".stripMargin,
    "dedup_embed_cosine" -> {
      val dotAb =
        "list_reduce(list_transform(generate_series(1, len(a.v)), i -> a.v[i]*b.v[i]), (x,y) -> x+y)"
      s"""WITH $eCte,
         |eb AS (SELECT *, $bucketSql AS bkt FROM e)
         |SELECT a.vec_id AS v1, b.vec_id AS v2,
         |  round($dotAb / (a.nrm * b.nrm), 6) AS sim
         |FROM eb a JOIN eb b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
         |WHERE round($dotAb / (a.nrm * b.nrm), 6) >= 0.45
         |ORDER BY v1, v2""".stripMargin
    },
    "sim_knn_graph" ->
      s"""WITH $knnCtes
         |SELECT src, rk, dst, cell, sim FROM knn ORDER BY src, rk""".stripMargin,
    // knn edges ≥ τ, undirected, then min-reachable-id components (same
    // recursive-closure oracle pattern as dedup_clusters)
    "sim_knn_components" ->
      s"""WITH RECURSIVE $knnCtes,
         |ke AS (
         |  SELECT DISTINCT least(src, dst) AS d1, greatest(src, dst) AS d2
         |  FROM knn WHERE sim >= $KNN_EDGE_TAU
         |), edges AS (
         |  SELECT d1 AS u, d2 AS v FROM ke UNION SELECT d2, d1 FROM ke
         |), reach(u, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
         |)
         |SELECT u AS vec_id, MIN(r) AS cluster_id
         |FROM reach GROUP BY u ORDER BY vec_id""".stripMargin,
    "dedup_semantic" ->
      s"""WITH $semAssignedCtes, dup AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  WHERE round($semDotAB / (a.nrm * b.nrm), 6) >= $SEM_TAU
         |    AND (b.csim < a.csim OR (b.csim = a.csim AND b.vec_id < a.vec_id))
         |)
         |SELECT a.vec_id, a.cell, a.csim, (d.vec_id IS NOT NULL) AS dropped
         |FROM assigned a LEFT JOIN dup d USING (vec_id)
         |ORDER BY vec_id""".stripMargin,
    // the same assignment chain as dedup_semantic; pairs scored once at
    // the sweep floor, tier frame LEFT-joins the counts (empty tier →
    // explicit zero row), per-edge loser = higher csim (tie: larger id)
    "sim_dedup_threshold_sweep" ->
      s"""WITH $semAssignedCtes, prs AS (
         |  SELECT a.vec_id AS v1, b.vec_id AS v2,
         |    round($semDotAB / (a.nrm * b.nrm), 6) AS sim,
         |    a.csim AS cs1, b.csim AS cs2
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round($semDotAB / (a.nrm * b.nrm), 6)
         |    >= CAST(${SWEEP_TAU_PCT.min} AS DOUBLE) / 100.0
         |), t AS (
         |  SELECT CAST(unnest([${SWEEP_TAU_PCT.mkString(", ")}]) AS BIGINT)
         |    AS tau_pct
         |), pt AS (
         |  SELECT t.tau_pct, prs.* FROM t
         |  JOIN prs ON prs.sim >= CAST(t.tau_pct AS DOUBLE) / 100.0
         |), np AS (
         |  SELECT tau_pct, CAST(COUNT(*) AS BIGINT) AS n_pairs
         |  FROM pt GROUP BY 1
         |), ndo AS (
         |  SELECT tau_pct, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
         |  FROM (SELECT tau_pct, unnest([v1, v2]) AS d FROM pt) GROUP BY 1
         |), ndr AS (
         |  SELECT tau_pct, CAST(COUNT(DISTINCT
         |    CASE WHEN cs1 > cs2 THEN v1 ELSE v2 END) AS BIGINT) AS n_dropped
         |  FROM pt GROUP BY 1
         |), nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM assigned)
         |SELECT t.tau_pct,
         |  coalesce(np.n_pairs, 0) AS n_pairs,
         |  coalesce(ndo.n_docs, 0) AS n_docs,
         |  coalesce(ndr.n_dropped, 0) AS n_dropped,
         |  nv.n_vectors,
         |  round(CAST(coalesce(ndr.n_dropped, 0) AS DOUBLE)
         |    / CAST(nv.n_vectors AS DOUBLE), 6) AS drop_rate
         |FROM t LEFT JOIN np USING (tau_pct) LEFT JOIN ndo USING (tau_pct)
         |LEFT JOIN ndr USING (tau_pct) CROSS JOIN nv
         |ORDER BY tau_pct""".stripMargin,
    "sim_embed_stats" ->
      s"""WITH $eCte,
         |r AS (SELECT label, round(nrm, 6) AS nrm_r FROM e)
         |SELECT label, COUNT(*) AS n, ${avgSql("nrm_r")} AS avg_norm,
         |  MIN(nrm_r) AS min_norm, MAX(nrm_r) AS max_norm
         |FROM r GROUP BY label ORDER BY label""".stripMargin,
    // per-(label, half, dim) decimal-exact centroid means, then the
    // per-label cosine between half-centroids from decimal dot/norm sums
    // over the d cells — order-free in both engines
    "sim_embedding_drift" ->
      s"""WITH ex AS (
         |  SELECT label, vec_id % 2 AS half, t.i AS dim,
         |    CAST(embedding[t.i] AS DOUBLE) AS x
         |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
         |), cen AS (
         |  SELECT label, half, dim, ${avgSql("x")} AS m,
         |    CAST(COUNT(*) AS BIGINT) AS nv
         |  FROM ex GROUP BY 1, 2, 3
         |), j AS (
         |  SELECT a.label, a.m AS ma, b.m AS mb, a.nv AS na, b.nv AS nb
         |  FROM cen a JOIN cen b ON a.label = b.label AND a.dim = b.dim
         |  WHERE a.half = 0 AND b.half = 1
         |)
         |SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
         |  round(CAST(SUM(CAST(ma * mb AS DECIMAL(30,6))) AS DOUBLE)
         |    / (sqrt(CAST(SUM(CAST(ma * ma AS DECIMAL(30,6))) AS DOUBLE))
         |     * sqrt(CAST(SUM(CAST(mb * mb AS DECIMAL(30,6))) AS DOUBLE))), 6)
         |    AS centroid_cos,
         |  round(sqrt(CAST(SUM(CAST(ma * ma AS DECIMAL(30,6))) AS DOUBLE)), 6)
         |    AS norm_a,
         |  round(sqrt(CAST(SUM(CAST(mb * mb AS DECIMAL(30,6))) AS DOUBLE)), 6)
         |    AS norm_b
         |FROM j GROUP BY label ORDER BY label""".stripMargin,
    "sim_centroid_cohesion" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |ex AS (
         |  SELECT vec_id, label, i AS dim, v[i] AS val
         |  FROM e, unnest(generate_series(1, len(v))) AS t(i)
         |), cent AS (
         |  SELECT label, dim,
         |    CAST(SUM(CAST(val AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS c
         |  FROM ex GROUP BY 1, 2
         |), folded AS (
         |  SELECT ex.vec_id, ex.label,
         |    list_reduce(list(ex.val * cent.c ORDER BY ex.dim), (a,x) -> a+x) AS vc,
         |    list_reduce(list(ex.val * ex.val ORDER BY ex.dim), (a,x) -> a+x) AS vv,
         |    list_reduce(list(cent.c * cent.c ORDER BY ex.dim), (a,x) -> a+x) AS cc
         |  FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
         |  GROUP BY 1, 2
         |), cosv AS (
         |  SELECT label, round(vc / (sqrt(vv) * sqrt(cc)), 6) AS cos FROM folded
         |)
         |SELECT label, COUNT(*) AS n, ${avgSql("cos")} AS avg_cos,
         |  MIN(cos) AS min_cos, MAX(cos) AS max_cos
         |FROM cosv GROUP BY label ORDER BY label""".stripMargin,
    // Lloyd replay: the same init (label centroids), the same two
    // assign/update rounds, the same rounded fold-order distances
    "sim_kmeans_train" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$kmFitCtesSql,
         |${kmAssignCteSql("a3", "c2")}
         |SELECT a.cid, COUNT(*) AS n,
         |  ${Exact.sumSql("a.d")} AS inertia,
         |  round(sqrt(list_reduce(list_transform(ANY_VALUE(c2.cv), x -> x*x),
         |    (acc,x) -> acc+x)), 6) AS cnorm
         |FROM a3 a JOIN c2 USING (cid)
         |GROUP BY a.cid ORDER BY a.cid""".stripMargin,
    // same fitted c2 centroids, same one ranked scoring pass: a = own
    // (rk 1) distance, b = second-nearest (rk 2) — the nearest OTHER
    // centroid — same (b−a)/max guard and 6 dp terms, exact mean
    "sim_silhouette" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$kmFitCtesSql,
         |r AS (
         |  SELECT e.vec_id, c.cid, ${kmSqSql("e.v", "c.cv")} AS d,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${kmSqSql("e.v", "c.cv")} ASC, c.cid ASC) AS rk
         |  FROM e CROSS JOIN c2 c
         |), t AS (
         |  SELECT vec_id, arg_min(cid, rk) AS cid,
         |    sqrt(arg_min(d, rk)) AS a, sqrt(arg_max(d, rk)) AS b
         |  FROM r WHERE rk <= 2 GROUP BY vec_id
         |), sil AS (
         |  SELECT cid, CASE WHEN greatest(a, b) > 0.0
         |    THEN round((b - a) / greatest(a, b), 6) ELSE 0.0 END AS sil
         |  FROM t
         |)
         |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
         |  round(${Exact.avgSql("sil")}, 6) AS mean_silhouette
         |FROM sil GROUP BY cid ORDER BY cid""".stripMargin,
    // PQ replay: same sub-slicing, same deterministic init, one Lloyd
    // round per subspace, same codes and ADC lookup-table sums
    // the composed IVF-PQ serve: the IVF cell CTEs pick each query's
    // probed cells and each candidate's home cell; the PQ CTEs replay
    // train/encode/LUT; a candidate scores for a query iff its cell is
    // probed BY THAT QUERY — exactly the partition-pruned serve join
    "sim_ann_pq_serve" -> annPqServeSql,
    "sim_pq_adc" -> pqAdcSql,
    // exact L2 truth vs the replayed PQ arms; same left-join hit-count
    // shape as sim_ann_recall's oracle
    "sim_pq_recall" ->
      s"""WITH $eCte,
         |exact AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.vec_id AS q_id, c.vec_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${sqSql("c.v", "q.v")} ASC, c.vec_id ASC) AS rk
         |    FROM e c CROSS JOIN e q
         |    WHERE q.vec_id < $N_QUERIES AND c.vec_id >= $N_QUERIES
         |  ) WHERE rk <= $K
         |),
         |adcr AS (SELECT q_id, vec_id FROM ($pqAdcSql)),
         |srvr AS (SELECT q_id, vec_id FROM ($annPqServeSql)),
         |hits AS (
         |  SELECT 'pq_adc' AS method, e.q_id, COUNT(a.q_id) AS n_hits
         |  FROM exact e LEFT JOIN adcr a
         |    ON e.q_id = a.q_id AND e.vec_id = a.vec_id
         |  GROUP BY e.q_id
         |  UNION ALL
         |  SELECT 'ivf_pq' AS method, e.q_id, COUNT(s.q_id) AS n_hits
         |  FROM exact e LEFT JOIN srvr s
         |    ON e.q_id = s.q_id AND e.vec_id = s.vec_id
         |  GROUP BY e.q_id
         |)
         |SELECT method, q_id, n_hits, round(n_hits / $K.0, 6) AS recall
         |FROM hits ORDER BY method, q_id""".stripMargin,
  )
}
