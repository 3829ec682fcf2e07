package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Graph, Sketch}

/** Equivalence law for the PACKED HyperBall profile (r20): the packed
  * per-node register arrays with element-wise-max merge must reproduce
  * the row-form groupBy(max) recursion — registers as (node, bucket,
  * rho) rows fed through [[Sketch.hllEstimateFromRegisters]] — value for
  * value at EVERY radius, on hand graphs and random digraphs. Together
  * with GraphWalkSpec's hyperBall ≡ hllRollup law this pins the whole
  * chain: packed profile ≡ row recursion ≡ q150's rollup sketch of the
  * explicit ball membership. */
class HyperBallPackSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** The pre-r20 row-form recursion, verbatim: the reference the packed
    * implementation must match. */
  private def rowFormProfile(edges: DataFrame, radius: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    var regs = Sketch.hllRanked(
        nodes.withColumn("_h", Sketch.hllHash(col("node"))))
      .select(col("node"), col("_bucket"), col("_rho"))
      .localCheckpoint()
    def est(r: Int, rg: DataFrame): DataFrame =
      Sketch.hllEstimateFromRegisters(rg, "node")
        .select(col("node"), lit(r.toLong).as("r"),
          col("n_zero_registers"), col("hll_estimate").as("ball_estimate"))
    val out = scala.collection.mutable.ArrayBuffer(est(0, regs))
    for (r <- 1 to radius) {
      val msgs = e.join(regs.withColumnRenamed("node", "dst"), Seq("dst"))
        .select(col("src").as("node"), col("_bucket"), col("_rho"))
      regs = regs.unionByName(msgs)
        .groupBy(col("node"), col("_bucket")).agg(max(col("_rho")).as("_rho"))
        .localCheckpoint()
      out += est(r, regs)
    }
    out.reduce(_ unionByName _)
  }

  private def asMap(df: DataFrame) =
    df.select(col("node").cast("long"), col("r").cast("long"),
        col("n_zero_registers").cast("long"), col("ball_estimate").cast("long"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (n, r, z, b) => (n, r) -> ((z, b)) }.toMap

  test("packed profile ≡ row-form recursion at every radius on a " +
       "path + cycle graph (schema, zeros, and estimates)") {
    val e = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 2L -> 4L).toDF("src", "dst")
    val packed = Graph.hyperBallProfile(e, "src", "dst", radius = 3)
    assert(packed.columns.toSeq ==
      Seq("node", "r", "n_zero_registers", "ball_estimate"))
    val got = asMap(packed)
    val want = asMap(rowFormProfile(e, radius = 3))
    assert(got == want)
  }

  test("generative fuzz: packed ≡ row-form on 8 random digraphs " +
       "(dupe edges, self-loops, sinks, disconnected nodes)") {
    val rnd = new scala.util.Random(47)
    for (c <- 1 to 8) {
      val nNodes = 4 + rnd.nextInt(16)
      val es = Seq.fill(nNodes + rnd.nextInt(3 * nNodes))(
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      val radius = 1 + rnd.nextInt(3)
      val e = es.toDF("src", "dst")
      val got = asMap(Graph.hyperBallProfile(e, "src", "dst", radius))
      val want = asMap(rowFormProfile(e, radius))
      assert(got == want, s"case $c: radius $radius edges $es")
    }
  }

  test("profile is monotone in r and the radius slice is hyperBall itself") {
    val rnd = new scala.util.Random(53)
    val es = Seq.fill(40)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
    val e = es.toDF("src", "dst")
    val prof = asMap(Graph.hyperBallProfile(e, "src", "dst", radius = 3))
    for (((n, r), (z, b)) <- prof if r > 0) {
      val (pz, pb) = prof((n, r - 1))
      assert(z <= pz && b >= pb, s"non-monotone at node $n r $r")
    }
    val ball = Graph.hyperBall(e, "src", "dst", radius = 3)
      .select(col("node").cast("long"), col("n_zero_registers").cast("long"),
        col("ball_estimate").cast("long"))
      .as[(Long, Long, Long)].collect()
      .map { case (n, z, b) => n -> ((z, b)) }.toMap
    assert(ball == prof.collect { case ((n, 3L), v) => n -> v })
  }
}
