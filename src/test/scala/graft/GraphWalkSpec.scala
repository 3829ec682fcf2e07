package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Graph, Sketch}

/** The graph WALK loops (r19): multi-source frontier BFS and the
  * HyperBall neighborhood sketch — laws on hand-built graphs with known
  * exact answers, plus the register-consistency law tying [[Graph.hyperBall]]
  * to [[Sketch.hllRollup]] over explicit ball membership (the two must be
  * the SAME sketch of the same set, byte for byte). */
class GraphWalkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def edges(es: (Long, Long)*) = es.toDF("src", "dst")
  private def seeds(ss: Long*) = ss.toDF("doc_id")

  test("bfsDepth: min distance from ANY seed; cycle-safe; disconnected " +
       "components unreached") {
    // 1→2→3→1 cycle with a spur 2→4; 5→6 is a separate component
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 4L, 5L -> 6L)
    val d = Graph.bfsDepth(e, "src", "dst", seeds(1L, 5L), "doc_id", 8)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 5L -> 0L, 2L -> 1L, 6L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  test("bfsDepth: maxDepth caps the frontier — nodes past the cap drop; " +
       "a closer seed wins over a longer path") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val capped = Graph.bfsDepth(e, "src", "dst", seeds(1L), "doc_id", 2)
      .as[(Long, Long)].collect().toMap
    assert(capped == Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4 is at depth 3: cut
    // seed 3 reaches 4 at depth 1 even though the path from 1 is length 3
    val two = Graph.bfsDepth(e, "src", "dst", seeds(1L, 3L), "doc_id", 8)
      .as[(Long, Long)].collect().toMap
    assert(two(4L) == 1L && two(2L) == 1L && two(3L) == 0L)
  }

  test("bfsDepth: a seed outside the edge list still reports depth 0; " +
       "an exhausted frontier leaves later rounds empty") {
    val e = edges(1L -> 2L)
    val d = Graph.bfsDepth(e, "src", "dst", seeds(9L, 1L), "doc_id", 8)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(9L -> 0L, 1L -> 0L, 2L -> 1L))
  }

  test("hyperBall ≡ hllRollup over explicit ball membership (same hash, " +
       "same registers, same estimate) on a path + cycle graph") {
    // path 1→2→3 plus cycle 3→1: radius-2 out-balls are
    // 1:{1,2,3} 2:{2,3,1} 3:{3,1,2} — all three full at r=2
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val hb = Graph.hyperBall(e, "src", "dst", radius = 2)
      .select(col("node"), col("ball_estimate"))
      .as[(Long, Long)].collect().toMap
    // explicit membership of each ball, sketched by the q150 rollup
    val members = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 1L), (3L, 2L), (3L, 3L)).toDF("node", "member")
    val roll = Sketch.hllRollup(members, "node", "member")
      .filter(col("scope") =!= "__all__")
      .select(col("scope").cast("long"), col("hll_estimate"))
      .as[(Long, Long)].collect().toMap
    assert(hb == roll)
  }

  test("trustRankInt: mass enters ONLY at seeds — an unreachable source " +
       "holds trust exactly 0; trust decays along the chain") {
    // seed 1 feeds the chain 1→2→3 (3 self-loops); node 4 is a source
    // (4→1) but nothing links to it, so no trust can ever arrive there.
    // Hand-computed two rounds at scale 1e12, damping 85, teleport 1.5e11:
    //   r1 = (1: 1.5e11, 2: 0.85e12, 3: 0, 4: 0)
    //   r2 = (1: 1.5e11, 2: .85·1.5e11 = 1.275e11, 3: .85·.85e12 = 7.225e11)
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 1L)
    val t = Graph.trustRankInt(e, "src", "dst", seeds(1L), "doc_id", 2)
      .as[(Long, Long)].collect().toMap
    assert(t == Map(1L -> 150000000000L, 2L -> 127500000000L,
      3L -> 722500000000L, 4L -> 0L))
    // the unreachable source stays EXACTLY 0 at any depth of iteration
    val t5 = Graph.trustRankInt(e, "src", "dst", seeds(1L), "doc_id", 5)
      .as[(Long, Long)].collect().toMap
    assert(t5(4L) == 0L && t5(1L) > 0L && t5(2L) > 0L && t5(3L) > 0L)
  }

  test("trustRankInt with EVERY source as a seed ≡ pageRankInt (same " +
       "init, same teleport, same loop)") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 1L, 3L -> 2L)
    val all = seeds(1L, 2L, 3L)
    val tr = Graph.trustRankInt(e, "src", "dst", all, "doc_id", 5)
      .as[(Long, Long)].collect().toMap
    val pr = Graph.pageRankInt(e, "src", "dst", 5)
      .as[(Long, Long)].collect().toMap
    assert(tr == pr)
  }

  test("trustRankResiduals: the residual rows are exactly the deltas of " +
       "the hand-computed iterates") {
    // same graph/seed as the trustRankInt test: r0 = (1e12, 0, 0, 0),
    // r1 = (1.5e11, 8.5e11, 0, 0), r2 = (1.5e11, 1.275e11, 7.225e11, 0)
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 3L, 4L -> 1L)
    val r = Graph.trustRankResiduals(e, "src", "dst", seeds(1L), "doc_id", 2)
      .as[(Long, Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == (1L, 850000000000L + 850000000000L, 850000000000L, 2L))
    assert(r(2L) == (2L, 722500000000L + 722500000000L, 722500000000L, 2L))
  }

  test("generative fuzz: bfsDepth ≡ in-memory BFS and trustRankInt ≡ an " +
       "independent in-memory fixpoint on 12 random digraphs (dup edges, " +
       "self-loops, random seed sets and caps)") {
    val rnd = new scala.util.Random(42)
    var ran = 0
    for (c <- 1 to 12) {
      val nNodes = 5 + rnd.nextInt(25)
      val nEdges = nNodes + rnd.nextInt(3 * nNodes)
      val es = Seq.fill(nEdges)(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      val seedSet = (0L until nNodes.toLong).filter(_ => rnd.nextDouble() < 0.2)
      if (seedSet.nonEmpty) {
        ran += 1
        val cap = 1 + rnd.nextInt(8)
        // reference BFS: plain frontier expansion over an adjacency map
        val adj = es.groupMap(_._1)(_._2)
        var depth = seedSet.map(_ -> 0L).toMap
        var frontier = seedSet.toSet
        for (d <- 1 to cap) {
          val next = frontier.flatMap(u => adj.getOrElse(u, Nil))
            .filterNot(depth.contains)
          next.foreach(v => depth += v -> d.toLong)
          frontier = next
        }
        val got = Graph.bfsDepth(es.toDF("src", "dst"), "src", "dst",
            seedSet.toDF("doc_id"), "doc_id", cap)
          .as[(Long, Long)].collect().toMap
        assert(got == depth, s"bfs case $c: got $got want $depth edges $es seeds $seedSet cap $cap")
        // reference TrustRank: direct fixpoint over the edge list (dup
        // edges count once per occurrence, exactly like the loop)
        val sources = es.map(_._1).distinct
        val outdeg = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        var rank = sources.map(u =>
          u -> (if (seedSet.contains(u)) 1000000000000L else 0L)).toMap
        for (_ <- 1 to 4) {
          val inflow = scala.collection.mutable.Map.empty[Long, Long]
            .withDefaultValue(0L)
          es.foreach { case (u, v) =>
            if (rank.contains(u)) inflow(v) += rank(u) / outdeg(u) }
          rank = sources.map(u => u ->
            ((if (seedSet.contains(u)) 150000000000L else 0L)
              + 85L * inflow(u) / 100L)).toMap
        }
        val gotT = Graph.trustRankInt(es.toDF("src", "dst"), "src", "dst",
            seedSet.toDF("doc_id"), "doc_id", 4)
          .as[(Long, Long)].collect().toMap
        assert(gotT == rank, s"trust case $c")
      }
    }
    assert(ran >= 8, s"non-vacuity: only $ran cases had seeds")
  }

  test("generative fuzz: hyperBall ≡ hllRollup over exact ball membership " +
       "on 6 random digraphs (the register law, not just the path graph)") {
    val rnd = new scala.util.Random(11)
    for (c <- 1 to 6) {
      val nNodes = 4 + rnd.nextInt(12)
      val es = Seq.fill(nNodes + rnd.nextInt(2 * nNodes))(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      val radius = 1 + rnd.nextInt(3)
      // exact ball membership by in-memory expansion
      val adj = es.groupMap(_._1)(_._2)
      val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
      val balls = nodes.map { v =>
        var ball = Set(v); var frontier = Set(v)
        for (_ <- 1 to radius) {
          frontier = frontier.flatMap(u => adj.getOrElse(u, Nil)) -- ball
          ball ++= frontier
        }
        v -> ball
      }.toMap
      val members = balls.toSeq.flatMap { case (v, b) => b.map(v -> _) }
        .toDF("node", "member")
      val roll = Sketch.hllRollup(members, "node", "member")
        .filter(col("scope") =!= "__all__")
        .select(col("scope").cast("long"), col("hll_estimate"))
        .as[(Long, Long)].collect().toMap
      val hb = Graph.hyperBall(es.toDF("src", "dst"), "src", "dst", radius)
        .select(col("node"), col("ball_estimate"))
        .as[(Long, Long)].collect().toMap
      assert(hb == roll, s"case $c: radius $radius edges $es")
    }
  }

  test("generative fuzz: incremental relaxation over a random edge SPLIT " +
       "≡ from-scratch BFS of the union, on 6 random digraphs") {
    import org.apache.spark.sql.functions.{col, min => mincol}
    val rnd = new scala.util.Random(23)
    for (c <- 1 to 6) {
      val nNodes = 6 + rnd.nextInt(20)
      val es = Seq.fill(nNodes + rnd.nextInt(3 * nNodes))(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      val seedSet = (0L until nNodes.toLong).filter(_ % 5 == 0)
      val cap = 2 + rnd.nextInt(6)
      val (e1, e2) = es.partition(_ => rnd.nextBoolean())
      val d1 = Graph.bfsDepth(
        (if (e1.isEmpty) Seq((seedSet.head, seedSet.head)) else e1)
          .toDF("src", "dst"),
        "src", "dst", seedSet.toDF("doc_id"), "doc_id", cap)
      // the ingestIncremental candidate rule: heads of new edges whose
      // tail already has a depth, strict improvements only
      val newE = e2.toDF("src", "dst")
      val improved = newE
        .join(d1.select(col("node").as("_t"), col("depth").as("_td")),
          col("src") === col("_t"))
        .select(col("dst").as("node"), (col("_td") + 1L).as("depth"))
        .filter(col("depth") <= cap)
        .groupBy(col("node")).agg(mincol(col("depth")).as("depth"))
        .join(d1.select(col("node").as("_o"), col("depth").as("_od")),
          col("node") === col("_o"), "left")
        .filter(col("_od").isNull || col("depth") < col("_od"))
        .select(col("node"), col("depth"))
      val union = es.toDF("src", "dst")
      val inc = Graph.bfsRelax(union, "src", "dst",
          d1.unionByName(improved), improved, cap, cap.toLong)
        .as[(Long, Long)].collect().toMap
      val full = Graph.bfsDepth(union, "src", "dst",
          seedSet.toDF("doc_id"), "doc_id", cap)
        .as[(Long, Long)].collect().toMap
      assert(inc == full, s"case $c: cap $cap e1 $e1 e2 $e2")
    }
  }

  test("bfsRelax seeded from scratch ≡ bfsDepth; an added shortcut edge " +
       "relaxes exactly the affected cone") {
    import org.apache.spark.sql.functions.{col, lit}
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val s0 = seeds(1L).select(col("doc_id").as("node"))
      .withColumn("depth", lit(0L))
    val scratch = Graph.bfsRelax(e, "src", "dst", s0, s0, 8, 8L)
      .as[(Long, Long)].collect().toMap
    val plain = Graph.bfsDepth(e, "src", "dst", seeds(1L), "doc_id", 8)
      .as[(Long, Long)].collect().toMap
    assert(scratch == plain)
    assert(plain == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // a new shortcut 1→4 improves 4 (tentative = depth(1)+1 = 1) and its
    // cone (5: 4→2); everything else keeps its old depth
    val e2 = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 1L -> 4L)
    val improved1 = Seq((4L, 1L)).toDF("node", "depth")
    val init = plain.toSeq.toDF("node", "depth").unionByName(improved1)
    val relaxed = Graph.bfsRelax(e2, "src", "dst", init, improved1, 8, 8L)
      .as[(Long, Long)].collect().toMap
    val full = Graph.bfsDepth(e2, "src", "dst", seeds(1L), "doc_id", 8)
      .as[(Long, Long)].collect().toMap
    assert(relaxed == full, "delta relaxation must equal the recompute")
    assert(full(4L) == 1L && full(5L) == 2L && full(3L) == 2L)
  }

  test("split-multiply identity: (r div W)·w + (r mod W)·w div W equals " +
       "the true 128-bit floor(r·w/W) exactly — BigInt cross-check at " +
       "and near the documented W·w < 2^62 bound") {
    // the operator's domain: w ≤ W always (W sums the source's own edge
    // weights, w is one of them), so (r div W)·w ≤ r and
    // (r mod W)·w < W² — both 64-bit-safe for W < 2^30, r < 2^62
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 2000) {
      val bigW = 1L + rnd.nextLong(1L << 30)
      val w = 1L + rnd.nextLong(bigW) // w ≤ W, the operator's invariant
      val r = rnd.nextLong(1L << 62)
      val got = (r / bigW) * w + (r % bigW) * w / bigW
      assert(BigInt(got) == BigInt(r) * w / bigW,
        s"identity broke at r=$r w=$w W=$bigW")
    }
  }

  test("pageRankWeighted with EQUAL weights ≡ pageRankInt (the floor " +
       "⌊r·w/(d·w)⌋ = ⌊r/d⌋ collapse, exact)") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 1L, 3L -> 2L)
    val we = e.withColumn("w", lit(7L))
    val weighted = Graph.pageRankWeighted(we, "src", "dst", "w", 5)
      .as[(Long, Long)].collect().toMap
    val uniform = Graph.pageRankInt(e, "src", "dst", 5)
      .as[(Long, Long)].collect().toMap
    assert(weighted == uniform)
    // and UNEQUAL weights genuinely shift mass: give node 1 two
    // out-edges and tilt its anchor mass toward 3
    val e2 = edges(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L)
    val flat = Graph.pageRankWeighted(e2.withColumn("w", lit(5L)),
      "src", "dst", "w", 5).as[(Long, Long)].collect().toMap
    val tilt = Graph.pageRankWeighted(e2.withColumn("w",
        when(col("dst") === 3L && col("src") === 1L, lit(99L)).otherwise(lit(1L))),
      "src", "dst", "w", 5).as[(Long, Long)].collect().toMap
    assert(tilt(3L) > flat(3L), "anchor-mass tilt must raise the favored target")
  }

  test("hyperBall: radius 0 sketches the singleton; radius widens balls " +
       "monotonically (register max is idempotent — re-adding never shrinks)") {
    val e = edges(1L -> 2L, 2L -> 3L)
    def est(r: Int) = Graph.hyperBall(e, "src", "dst", r)
      .select(col("node"), col("ball_estimate"))
      .as[(Long, Long)].collect().toMap
    val r0 = est(0); val r1 = est(1); val r2 = est(2)
    // all singletons at r=0 estimate identically from one register
    assert(r0.values.toSet.size >= 1 && r0.keySet == Set(1L, 2L, 3L))
    // node 3 has no out-edges: its ball never grows
    assert(r0(3L) == r1(3L) && r1(3L) == r2(3L))
    // node 1's ball strictly gains members each round on this path; the
    // raw-HLL estimate of a superset is >= (register-wise max dominance)
    assert(r1(1L) >= r0(1L) && r2(1L) >= r1(1L))
  }
}
