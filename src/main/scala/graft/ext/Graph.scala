package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph-centrality over an edge list — the numeric-fixpoint
  * companion to the label-propagation loop in [[Dedup.duplicateClusters]].
  * PageRank here ranks near-duplicate HUB documents (which doc does every
  * other spelling of this page point at?) so canonical-selection can keep
  * the most central copy instead of min-id.
  *
  * All arithmetic is INTEGER fixed-point (ranks scaled by `scale`, damping
  * as a percentage, `div` floor division): floating-point summation order
  * differs run-to-run and engine-to-engine, but BIGINT arithmetic is exact
  * everywhere, so DuckDB replays the fixpoint bit-identically with an
  * unrolled CTE chain. Mass lost to integer floors is deterministic and
  * identical in both engines — this is a ranking, not a probability
  * distribution.
  *
  * Scale shape per iteration: two narrow (co-partitioned) joins plus one
  * map-side-combinable sum by destination — edges, degrees, and ranks all
  * ride one hash partitioner shuffled into place once, the same loop shape
  * as [[Dedup.duplicateClusters]] (see its Scaladoc for why the RDD API is
  * the right tier for iterative fixpoints).
  */
object Graph {

  /** `iterations` rounds of damped PageRank over a DIRECTED edge list
    * (`srcCol`, `dstCol`). Every node must appear as a source at least once
    * (true for symmetric graphs like the near-dup pair graph); dangling-mass
    * redistribution is deliberately out of scope and documented as such.
    * Returns (node, rank) with rank on the fixed-point `scale`.
    *
    * Implementation shares [[Dedup.duplicateClusters]]'s rationale for
    * dropping to the RDD API (the second and last numeric-loop site): one
    * hash partitioner carries edges, out-degrees, and ranks across ALL
    * iterations, so each round is two narrow joins plus exactly one real
    * shuffle (the per-destination contribution sum) — and because
    * convergence is a fixed `iterations` count, the loop needs NO
    * intermediate actions at all: the whole fixpoint materializes in the
    * consumer's single action. The Dataset twin (kept in git history)
    * re-planned each round through Catalyst and needed stride checkpoints
    * plus [[Dedup.checkpointStripped]] to keep planning O(1); here lineage
    * is `iterations` narrow layers deep, which a periodic localCheckpoint
    * bounds for large iteration counts.
    *
    * Arithmetic is UNCHANGED from the DF form and exact in both engines:
    * ranks scaled by `scale`, damping as a percentage, floor division on
    * non-negative longs (Scala `/` ≡ SQL `div` there), Long sums associate
    * exactly — so the DuckDB unrolled-CTE oracle still replays the fixpoint
    * bit-identically (WarehouseOpsSpec pins ≡ an in-memory reference). */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iterations: Int, dampingPct: Int = 85,
                  scale: Long = 1000000000000L,
                  checkpointEvery: Int = 8): DataFrame = {
    require(scale % 100 == 0, "scale must be divisible by 100 for exact teleport mass")
    val teleport = scale / 100 * (100 - dampingPct)
    val spark = edges.sparkSession
    import spark.implicits._
    val numParts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val p = new org.apache.spark.HashPartitioner(numParts)
    // shuffle the edge list into the loop partitioning ONCE (keyed by src);
    // the localCheckpoint materializes the (possibly expensive) detector
    // plan exactly once — iterations read executor-local blocks
    val e = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .as[(Long, Long)].rdd.partitionBy(p)
    e.localCheckpoint()
    val deg = e.mapValues(_ => 1L).reduceByKey(p, _ + _)
    var rank = deg.mapPartitions(_.map { case (n, _) => (n, scale) },
      preservesPartitioning = true)
    for (i <- 1 to iterations) {
      // share = rank div outdeg, sent along every out-edge; both joins are
      // narrow (deg, rank, e all carry partitioner p on the source key)
      val shares = deg.join(rank, p)
        .mapPartitions(_.map { case (n, (d, r)) => (n, r / d) },
          preservesPartitioning = true)
      val contribs = e.join(shares, p)
        .map { case (_, (dst, share)) => (dst, share) }
        .reduceByKey(p, _ + _) // the round's one real shuffle
      // nodes keep their row even with no inflow (teleport mass only);
      // contributions to non-source nodes drop — same as the DF left join
      rank = deg.leftOuterJoin(contribs, p)
        .mapPartitions(_.map { case (n, (_, inf)) =>
          (n, teleport + dampingPct * inf.getOrElse(0L) / 100)
        }, preservesPartitioning = true)
      if (i % checkpointEvery == 0 && i < iterations) rank.localCheckpoint()
    }
    rank.toDF("node", "rank")
  }

  /** Multi-source BFS crawl depth over a DIRECTED edge list: the minimum
    * number of link hops from any seed to each reachable node, capped at
    * `maxDepth` — the crawl-radius feature quality pipelines gate on
    * (pages far from trusted seeds are overwhelmingly the spam/SEO tail;
    * OPIC/TrustRank-era crawl ordering and URL-depth gates are the same
    * signal). The THIRD loop shape next to the label-propagation fixpoint
    * ([[Dedup.duplicateClusters]]) and the numeric fixpoint
    * ([[pageRankInt]]): a MONOTONE FRONTIER loop — per round, messages
    * flow only from nodes assigned LAST round (the frontier), never the
    * whole node set, so total message volume across the entire run is
    * O(edges): each edge fires exactly once, the round its source enters
    * the frontier.
    *
    * Same RDD-tier rationale as [[pageRankInt]]: one hash partitioner
    * carries edges, depths, and frontiers across all rounds (the
    * edge⋈frontier and message⋈depth joins are narrow); the per-round
    * shuffle is the message reduceByKey. The round count is FIXED at
    * `maxDepth` — no convergence action, the whole loop materializes in
    * the consumer's single action; an exhausted frontier makes remaining
    * rounds empty narrow joins. Each frontier is localCheckpoint-marked:
    * it feeds both the next round's messages and the depth union, and
    * the mark persists its blocks so neither consumer recomputes the
    * chain. The assigned set is the UNION of the (disjoint) frontiers —
    * partitioner-aware, so it never reshuffles; each round's anti-probe
    * reads all prior frontier blocks, O(maxDepth·reached) reads total.
    *
    * All-integer: depths are exact BIGINTs and min is associative, so a
    * depth-bounded recursive CTE replays the result bit-identically.
    * Returns (node, depth) for REACHED nodes only (depth ≤ maxDepth);
    * seeds report depth 0 whether or not they appear in the edge list. */
  def bfsDepth(edges: DataFrame, srcCol: String, dstCol: String,
               seeds: DataFrame, seedCol: String, maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val numParts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val p = new org.apache.spark.HashPartitioner(numParts)
    val e = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .as[(Long, Long)].rdd.partitionBy(p)
    e.localCheckpoint()
    val seed = seeds.select(col(seedCol).cast("long")).distinct()
      .as[Long].rdd.map((_, 0L)).partitionBy(p)
    seed.localCheckpoint()
    var depth = seed
    var frontier = seed
    for (d <- 1 to maxDepth) {
      val msgs = e.join(frontier, p) // narrow: both carry p
        .map { case (_, (dst, _)) => (dst, d.toLong) }
        .reduceByKey(p, math.min(_: Long, _: Long)) // the round's one shuffle
      // fresh nodes only — anything already assigned keeps its smaller depth
      val fresh = msgs.leftOuterJoin(depth, p).mapPartitions(
        _.collect { case (v, (nd, None)) => (v, nd) },
        preservesPartitioning = true)
      fresh.localCheckpoint() // feeds next round's messages AND the union
      depth = spark.sparkContext.union(depth, fresh) // partitioner-aware: disjoint keys, both on p
      frontier = fresh
    }
    depth.toDF("node", "depth")
  }

  /** HyperBall neighborhood function (Boldi & Vigna, "In-Core Computation
    * of Geometric Centralities with HyperBall", WWW 2014 companion; the
    * HLL lift of Palmer–Gibbons–Faloutsos ANF, KDD 2002): for every node,
    * an HLL-sketched estimate of its OUT-ball size |{u : dist(v,u) ≤ r}|
    * — the per-node reachability profile that makes geometric centrality
    * computable where per-source BFS is quadratic and unthinkable. State
    * is m = 64 registers per node; the ball recurrence
    * B_{r+1}(v) = B_r(v) ∪ ⋃ over out-edges (v,w) of B_r(w) becomes
    * ELEMENT-WISE MAX over registers — associative, commutative,
    * idempotent — so each round is ONE equi-join (edge ⋈ head registers)
    * plus ONE map-side-combinable max aggregation. Registers are PACKED
    * into one m-byte array per node (Boldi–Vigna's own representation):
    * the per-round shuffle carries ≤ |E| rows instead of ≤ m·|E|, the
    * reduceByKey combiner collapses them map-side to ≤ parts·|N|, and the
    * estimate is a narrow per-node pass — no aggregation shuffle at all.
    *
    * Hash, FM rightmost-1 rank, and the exact-integer raw-HLL estimator
    * are value-shared with [[Sketch.hllRollup]] (q150): the seed
    * registers come from the SAME [[Sketch.hllRanked]] expressions, and
    * the packed estimator computes the SAME exact rational
    * E = (709·4096·2⁶²) div (1000·Z) (GraphWalkSpec pins
    * hyperBall ≡ hllRollup byte-for-byte over explicit ball membership,
    * and HyperBallPackSpec pins the packed profile ≡ the row-form
    * groupBy(max) recursion on random digraphs), so DuckDB still replays
    * every register and every estimate bit-identically from a
    * depth-bounded recursive ball CTE.
    *
    * Returns (node, n_zero_registers, ball_estimate) over all nodes
    * appearing in the edge list (either side). */
  def hyperBall(edges: DataFrame, srcCol: String, dstCol: String,
                radius: Int): DataFrame =
    hyperBallProfile(edges, srcCol, dstCol, radius)
      .filter(col("r") === radius)
      .select(col("node"), col("n_zero_registers"), col("ball_estimate"))

  /** Element-wise max of two packed register arrays — always allocates
    * (the join fans one head's array out to many sources; mutating a
    * shared reference would corrupt sibling messages). */
  private def regMax(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val c = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) { c(i) = if (a(i) >= b(i)) a(i) else b(i); i += 1 }
    c
  }

  /** The full HyperBall PROFILE — one (node, r, …) row per radius
    * 0 ≤ r ≤ `radius`, estimating |B_r(v)| at every step. This is the
    * form geometric centralities consume: register max never decreases,
    * so the per-radius estimates are MONOTONE and their successive
    * differences estimate the count of nodes first reached at exactly
    * distance r — harmonic centrality is Σ_r (|B_r|−|B_{r−1}|)/r (on the
    * transpose graph), closeness is the analogous weighted sum.
    *
    * Same RDD-tier rationale as [[pageRankInt]]/[[bfsDepth]]: one hash
    * partitioner carries edges (keyed by HEAD — round r pulls B_{r−1}(w)
    * back along each edge (v,w)) and register state across all rounds,
    * so each round is ONE map-side-combined reduceByKey shuffle of
    * packed-array messages plus a narrow leftOuterJoin merge, and the
    * whole profile materializes in the consumer's single action (each
    * round's state is localCheckpoint-marked: it feeds both its estimate
    * row-set and the next round's merge).
    *
    * The per-node estimate stays in exact integers: rho ≤ 55 means every
    * register contributes 2^(62−rho) = 2⁷·2^(55−rho) to Z, so Z/2⁷ is a
    * 61-bit Long sum, and the one division per node runs in BigInt —
    * identical to the DECIMAL(38,0) arithmetic of
    * [[Sketch.hllEstimateFromRegisters]]. */
  def hyperBallProfile(edges: DataFrame, srcCol: String, dstCol: String,
                       radius: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // materialize the (possibly expensive) edge extraction exactly once;
    // both the loop's edge RDD and the node universe derive from it
    val eDf = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).localCheckpoint()
    // SIZE-ADAPTIVE loop partitioning (guide §2.5): the DF form inherited
    // AQE's coalescing of sub-MB register shuffles; the RDD tier must
    // derive it itself or every round pays numParts near-empty tasks.
    // ~64k message rows per partition, ceilinged at the session's
    // shuffle.partitions — at production confs this IS the old constant,
    // at small inputs it collapses the scheduling overhead exactly like
    // AQE did (the count is a cheap action over the checkpointed blocks).
    val confParts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val numParts = math.max(1L,
      math.min(confParts.toLong, eDf.count() / 65536L + 1L)).toInt
    val p = new org.apache.spark.HashPartitioner(numParts)
    val e = eDf.select(col("dst"), col("src")).as[(Long, Long)].rdd
      .partitionBy(p)
    e.localCheckpoint()
    val nodes = eDf.select(col("src").as("node"))
      .unionByName(eDf.select(col("dst").as("node"))).distinct()
    // seed registers — each node's own (bucket, rho) from the SAME
    // hash/rank expressions as q150's rollup, packed into the array
    var regs = Sketch.hllRanked(
        nodes.withColumn("_h", Sketch.hllHash(col("node"))))
      .select(col("node"), col("_bucket").cast("int"), col("_rho").cast("int"))
      .as[(Long, Int, Int)].rdd
      .map { case (n, b, rho) =>
        val a = new Array[Byte](Sketch.HllM); a(b) = rho.toByte; (n, a) }
      .partitionBy(p)
    regs.localCheckpoint()
    // packed twin of Sketch.hllEstimateFromRegisters: zero registers
    // contribute 2^62 to Z, register rho contributes 2^(62-rho); both are
    // multiples of 2^7 (rho ≤ 55), so zs = Z/2^7 fits a Long exactly and
    // E = (709·4096·2^62) div (1000·Z) — one BigInt division per node
    // est rows stay PAIR-shaped and partitioner-preserving so the final
    // sc.union of the radius+1 row-sets is partitioner-AWARE: one output
    // partition per loop partition reading all rounds' blocks, instead of
    // (radius+1)·numParts tiny tasks feeding the consumer
    def est(r: Long, rg: org.apache.spark.rdd.RDD[(Long, Array[Byte])]) =
      rg.mapPartitions(_.map { case (n, a) =>
        var i = 0; var zeros = 0L; var zs = 0L
        while (i < a.length) {
          if (a(i) == 0) { zeros += 1; zs += 1L << 55 }
          else zs += 1L << (55 - a(i))
          i += 1
        }
        val estv = ((BigInt(2904064L) << 62) /
          (BigInt(1000L) * (BigInt(zs) << 7))).toLong
        (n, (r, zeros, estv))
      }, preservesPartitioning = true)
    val out = scala.collection.mutable.ArrayBuffer(est(0L, regs))
    for (r <- 1 to radius) {
      val msgs = e.join(regs, p) // narrow: edge heads and state both on p
        .map { case (_, (src, arr)) => (src, arr) }
        .reduceByKey(p, regMax _) // the round's ONE shuffle, combined map-side
      regs = regs.leftOuterJoin(msgs, p).mapPartitions(
        _.map { case (n, (a, m)) => (n, m.fold(a)(regMax(a, _))) },
        preservesPartitioning = true)
      regs.localCheckpoint() // feeds est(r) AND round r+1
      out += est(r.toLong, regs)
    }
    spark.sparkContext.union(out.toSeq)
      .map { case (n, (r, z, b)) => (n, r, z, b) }
      .toDF("node", "r", "n_zero_registers", "ball_estimate")
  }

  /** Seed-personalized damped PageRank — TrustRank (Gyöngyi,
    * Garcia-Molina & Pedersen, "Combating Web Spam with TrustRank",
    * VLDB 2004): the [[pageRankInt]] loop with the teleport vector
    * restricted to a trusted SEED set, so rank mass can only enter the
    * graph at vetted pages and decays multiplicatively with link
    * distance from them — the spam-demotion signal crawl schedulers pair
    * with the BFS depth gate ([[bfsDepth]] measures hops from the seeds;
    * this measures attenuated endorsement). Per-seed teleport is the
    * constant `(100−dampingPct)·scale/100` (unnormalized — this is a
    * ranking; normalizing by |seeds| would only rescale every value).
    * Non-seed nodes start and teleport at 0, so a node unreachable from
    * the seed set holds rank EXACTLY 0 — integer arithmetic makes the
    * untrusted tail exact, not epsilon-noise.
    *
    * Same loop shape, arithmetic, and RDD-tier rationale as
    * [[pageRankInt]] (one partitioner, two narrow joins + one shuffle per
    * round, fixed iteration count, no intermediate actions); the oracle
    * replays it with an unrolled CTE chain whose teleport term is a seed
    * CASE. Nodes must appear as a source to hold rank (same contract). */
  def trustRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   iterations: Int, dampingPct: Int = 85,
                   scale: Long = 1000000000000L,
                   checkpointEvery: Int = 8): DataFrame = {
    require(scale % 100 == 0, "scale must be divisible by 100 for exact teleport mass")
    val teleport = scale / 100 * (100 - dampingPct)
    val spark = edges.sparkSession
    import spark.implicits._
    val numParts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val p = new org.apache.spark.HashPartitioner(numParts)
    val e = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .as[(Long, Long)].rdd.partitionBy(p)
    e.localCheckpoint()
    val seed = seeds.select(col(seedCol).cast("long")).distinct()
      .as[Long].rdd.map((_, ())).partitionBy(p)
    val deg = e.mapValues(_ => 1L).reduceByKey(p, _ + _)
    // per-node teleport base: constant across rounds — materialize once
    val base = deg.leftOuterJoin(seed, p).mapPartitions(
      _.map { case (n, (d, s)) => (n, (d, if (s.isDefined) teleport else 0L)) },
      preservesPartitioning = true)
    base.localCheckpoint()
    var rank = base.mapPartitions(
      _.map { case (n, (_, t)) => (n, if (t > 0) scale else 0L) },
      preservesPartitioning = true)
    for (i <- 1 to iterations) {
      val shares = base.join(rank, p)
        .mapPartitions(_.map { case (n, ((d, _), r)) => (n, r / d) },
          preservesPartitioning = true)
      val contribs = e.join(shares, p)
        .map { case (_, (dst, share)) => (dst, share) }
        .reduceByKey(p, _ + _) // the round's one real shuffle
      rank = base.leftOuterJoin(contribs, p)
        .mapPartitions(_.map { case (n, ((_, t), inf)) =>
          (n, t + dampingPct * inf.getOrElse(0L) / 100)
        }, preservesPartitioning = true)
      if (i % checkpointEvery == 0 && i < iterations) rank.localCheckpoint()
    }
    rank.toDF("node", "trust")
  }

  /** Monotone RELAXATION from an arbitrary frontier — the GENERAL form
    * of [[bfsDepth]] and the kernel of INCREMENTAL shortest-depth
    * maintenance: given current depths `init` (node, depth) and the
    * subset `frontier0` whose depths just changed (or just appeared),
    * propagate min(depth+1) along edges for `maxRounds` rounds, capping
    * assignments at `maxDepth`. Duplicate nodes in `init`/`frontier0`
    * resolve by min (the merge an incremental caller wants: pass
    * old ∪ improved and the improvement wins). Pure monotone refinement:
    * depths only decrease, a round's messages flow only from the
    * previous round's improved set — DELTA propagation, total message
    * volume O(affected edges), not O(E·rounds) — and the fixpoint is
    * independent of how the improvements were batched, which is exactly
    * the incremental ≡ recompute law IncrementalSpec pins for
    * [[graft.stream.StreamingLinkGraph]].
    *
    * [[bfsDepth]] is the from-scratch special case (init = frontier =
    * seeds at 0; GraphWalkSpec pins the equivalence) and stays its own
    * loop deliberately: from-scratch assignment is INSERT-only and
    * rides a partitioner-aware union, while relaxation must rewrite the
    * depth map per round (a narrow fullOuterJoin merge, O(state) per
    * round — the price of updatability). */
  def bfsRelax(edges: DataFrame, srcCol: String, dstCol: String,
               init: DataFrame, frontier0: DataFrame,
               maxRounds: Int, maxDepth: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val numParts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val p = new org.apache.spark.HashPartitioner(numParts)
    val e = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .as[(Long, Long)].rdd.partitionBy(p)
    e.localCheckpoint()
    var depth = init.select(col("node").cast("long"), col("depth").cast("long"))
      .as[(Long, Long)].rdd.reduceByKey(p, math.min(_: Long, _: Long))
    depth.localCheckpoint()
    var frontier = frontier0.select(col("node").cast("long"), col("depth").cast("long"))
      .as[(Long, Long)].rdd.reduceByKey(p, math.min(_: Long, _: Long))
    frontier.localCheckpoint()
    for (_ <- 1 to maxRounds) {
      val msgs = e.join(frontier, p)
        .flatMap { case (_, (dst, fd)) =>
          if (fd + 1 <= maxDepth) Iterator((dst, fd + 1)) else Iterator.empty }
        .reduceByKey(p, math.min(_: Long, _: Long)) // the round's one shuffle
      val improved = msgs.leftOuterJoin(depth, p).mapPartitions(
        _.collect { case (v, (nd, old)) if old.forall(nd < _) => (v, nd) },
        preservesPartitioning = true)
      improved.localCheckpoint() // feeds the merge AND the next round
      depth = depth.fullOuterJoin(improved, p).mapPartitions(
        _.map { case (v, (old, upd)) => (v, upd.orElse(old).get) },
        preservesPartitioning = true)
      depth.localCheckpoint() // truncate the per-round merge chain
      frontier = improved
    }
    depth.toDF("node", "depth")
  }

  /** WEIGHTED damped PageRank — each out-edge carries a weight (here:
    * anchor-text mass) and a node's vote splits PROPORTIONALLY instead
    * of uniformly: the contribution along edge (u,v,w) is
    * ⌊r(u)·w / W(u)⌋ with W(u) = Σ out-weights. The naive product
    * r·w overflows BIGINT at corpus rank scales (r ~ nodes·scale), so
    * the floor is computed by the EXACT split-multiply identity
    *   ⌊r·w/W⌋ = (r div W)·w + ⌊(r mod W)·w / W⌋
    * (substitute r = qW + rem and expand — no approximation). Both
    * pieces are 64-bit-safe on the operator's own domain: w ≤ W(u) by
    * construction (W sums the source's weights), so (r div W)·w ≤ r,
    * and (r mod W)·w < W(u)·max-w — bounded as long as a node's total
    * out-weight times its largest edge weight stays under 2⁶³ (here W
    * is a page's anchor mass, a few hundred; at real scale cap
    * per-edge weights, the robots-window discipline). DuckDB has 128-bit
    * HUGEINT, so the oracle replays the SAME floor with a direct
    * `r·w // W` — two spellings, one exact value, which is itself a
    * cross-check of the identity on every edge of every round.
    *
    * Loop shape, arithmetic discipline, and RDD-tier rationale are
    * [[pageRankInt]]'s (one partitioner, narrow joins, one shuffle per
    * round, fixed iterations, zero intermediate actions). */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       wCol: String, iterations: Int, dampingPct: Int = 85,
                       scale: Long = 1000000000000L,
                       checkpointEvery: Int = 8): DataFrame = {
    require(scale % 100 == 0, "scale must be divisible by 100 for exact teleport mass")
    val teleport = scale / 100 * (100 - dampingPct)
    val spark = edges.sparkSession
    import spark.implicits._
    val numParts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val p = new org.apache.spark.HashPartitioner(numParts)
    val e = edges.select(col(srcCol).cast("long"), struct(col(dstCol).cast("long"),
        col(wCol).cast("long"))).as[(Long, (Long, Long))].rdd.partitionBy(p)
    e.localCheckpoint()
    val tw = e.mapValues(_._2).reduceByKey(p, _ + _)
    var rank = tw.mapPartitions(_.map { case (n, _) => (n, scale) },
      preservesPartitioning = true)
    for (i <- 1 to iterations) {
      val rw = tw.join(rank, p) // narrow: (node, (W, r))
      val contribs = e.join(rw, p)
        .map { case (_, ((dst, w), (bigW, r))) =>
          // exact ⌊r·w/W⌋ without the 128-bit product (identity above)
          (dst, (r / bigW) * w + (r % bigW) * w / bigW)
        }
        .reduceByKey(p, _ + _) // the round's one real shuffle
      rank = tw.leftOuterJoin(contribs, p)
        .mapPartitions(_.map { case (n, (_, inf)) =>
          (n, teleport + dampingPct * inf.getOrElse(0L) / 100)
        }, preservesPartitioning = true)
      if (i % checkpointEvery == 0 && i < iterations) rank.localCheckpoint()
    }
    rank.toDF("node", "rank")
  }

  /** [[trustRankInt]] with the per-iteration CONVERGENCE RESIDUALS as the
    * output — the operational audit of an iterative fixpoint: before
    * committing a 100 TB job to k rounds, measure how fast the mass
    * actually settles (L1 delta, max per-node delta, and how many nodes
    * still move, per round). Exact integers end to end, so the residual
    * curve is replayable data, not a float log line. Same loop; each
    * round's new rank joins the previous narrowly (both carry the loop
    * partitioner) and the |delta| rows from ALL rounds union into one
    * frame — no intermediate actions, the consumer's single action
    * materializes the whole curve (ranks are localCheckpoint-marked per
    * round because each feeds two consumers: the next round and its
    * delta). */
  def trustRankResiduals(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String,
                         iterations: Int, dampingPct: Int = 85,
                         scale: Long = 1000000000000L): DataFrame = {
    require(scale % 100 == 0, "scale must be divisible by 100 for exact teleport mass")
    val teleport = scale / 100 * (100 - dampingPct)
    val spark = edges.sparkSession
    import spark.implicits._
    val numParts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val p = new org.apache.spark.HashPartitioner(numParts)
    val e = edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .as[(Long, Long)].rdd.partitionBy(p)
    e.localCheckpoint()
    val seed = seeds.select(col(seedCol).cast("long")).distinct()
      .as[Long].rdd.map((_, ())).partitionBy(p)
    val deg = e.mapValues(_ => 1L).reduceByKey(p, _ + _)
    val base = deg.leftOuterJoin(seed, p).mapPartitions(
      _.map { case (n, (d, s)) => (n, (d, if (s.isDefined) teleport else 0L)) },
      preservesPartitioning = true)
    base.localCheckpoint()
    var rank = base.mapPartitions(
      _.map { case (n, (_, t)) => (n, if (t > 0) scale else 0L) },
      preservesPartitioning = true)
    rank.localCheckpoint()
    var deltas = List.empty[org.apache.spark.rdd.RDD[(Int, Long)]]
    for (i <- 1 to iterations) {
      val shares = base.join(rank, p)
        .mapPartitions(_.map { case (n, ((d, _), r)) => (n, r / d) },
          preservesPartitioning = true)
      val contribs = e.join(shares, p)
        .map { case (_, (dst, share)) => (dst, share) }
        .reduceByKey(p, _ + _)
      val next = base.leftOuterJoin(contribs, p)
        .mapPartitions(_.map { case (n, ((_, t), inf)) =>
          (n, t + dampingPct * inf.getOrElse(0L) / 100)
        }, preservesPartitioning = true)
      next.localCheckpoint() // feeds the next round AND its delta row-set
      deltas ::= next.join(rank, p).mapPartitions(
        _.map { case (_, (nw, old)) => (i, math.abs(nw - old)) },
        preservesPartitioning = false)
      rank = next
    }
    spark.sparkContext.union(deltas.reverse)
      .toDF("iteration", "abs_delta")
      .groupBy(col("iteration").cast("long").as("iteration"))
      .agg(sum(col("abs_delta")).as("l1_delta"),
        max(col("abs_delta")).as("max_delta"),
        sum(when(col("abs_delta") > 0, 1L).otherwise(0L)).as("n_changed"))
  }

  /** Triangle census over an UNDIRECTED graph given as canonical pairs
    * (`aCol` < `bCol`, distinct). A triangle {x<y<z} is counted exactly once
    * by the oriented wedge join: edges (x,y)⋈(y,z) on the middle vertex,
    * closed by probing (x,z) — every edge list stays in ascending
    * orientation, so no pair is enumerated twice and no `DISTINCT` over
    * wedges is needed. Near-dup graphs are what this runs on here: a high
    * triangle density inside an LSH candidate set is the classic signal
    * that candidates are true duplicate CLIQUES rather than hash noise.
    *
    * Returns one row: (n_nodes, n_edges, n_triangles).
    *
    * Scale shape: two equi-joins over the PAIR graph (O(edges) and
    * O(wedges)), never over the corpus; the skew guard at real scale is
    * degree-ordering (orienting edges low-degree→high-degree), which this
    * canonical id orientation approximates for near-dup graphs whose hubs
    * are min-ids. */
  def triangleStats(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs.select(col(aCol).as("a"), col(bCol).as("b")).distinct()
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val tri = wedges.join(e.as("e3"),
        col("x") === col("e3.a") && col("z") === col("e3.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(edges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** [[triangleStats]] with TRUE degree ordering — the adversarial-graph
    * form: every undirected edge is oriented from its lower-(degree, id)
    * endpoint to its higher one, so a hub of degree d contributes out-wedges
    * only for the (few) neighbours ranked above it, bounding any node's
    * out-degree by O(√edges) (the compact-forward bound; Latapy 2008) where
    * canonical-id orientation leaves a min-id hub with d²/2 wedges. Each
    * triangle then has exactly ONE node with out-degree 2 in it (its
    * order-minimum), so closing ordered out-pairs against the oriented edge
    * set counts every triangle exactly once — no DISTINCT, same census.
    *
    * Same output as [[triangleStats]]: one (n_nodes, n_edges, n_triangles)
    * row; the equivalence is property-tested on random graphs. Costs one
    * extra degree aggregation + join over the pair graph — worth it exactly
    * when the graph is hub-heavy. */
  def triangleStatsDegreeOrdered(pairs: DataFrame, aCol: String,
                                 bCol: String): DataFrame = {
    val e = pairs.select(col(aCol).as("a"), col(bCol).as("b")).distinct()
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    // (u → w) iff (deg u, u) < (deg w, w): a total order, so each
    // undirected edge appears exactly once, tagged with its head's rank key
    val or = sym
      .join(deg.select(col("v").as("a"), col("deg").as("_da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("_db")), Seq("b"))
      .filter(struct(col("_da"), col("a")) < struct(col("_db"), col("b")))
      .select(col("a").as("u"), col("b").as("w"),
        col("_db").as("dw"))
    // ordered out-pairs of each source close against the oriented edge
    // between the two heads (orientation agrees with the pair's order)
    val tri = or.as("p").join(or.as("q"),
        col("p.u") === col("q.u") &&
          struct(col("p.dw"), col("p.w")) < struct(col("q.dw"), col("q.w")))
      .select(col("p.w").as("x"), col("q.w").as("y"))
      .join(or.as("r"), col("x") === col("r.u") && col("y") === col("r.w"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(edges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }
}
