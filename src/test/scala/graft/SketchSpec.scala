package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Sketch

/** KMV distinct-count sketch laws: partition invariance (merge order can't
  * change the sketch), exactness below k, and estimator accuracy. */
class SketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture = (1 to 20000)
    .map(i => (i % 3L, (i % 4021).toLong)) // 3 groups over 4021 distinct values
    .toDF("g", "v")

  test("sketch and estimate are invariant under repartitioning") {
    val runs = Seq(1, 7, 32).map { n =>
      Sketch.kmvDistinct(fixture.repartition(n), "g", "v", k = 256)
        .orderBy("g").collect().toSeq
    }
    assert(runs.distinct.size == 1)
  }

  test("fewer than k distinct values -> estimate is exact") {
    val small = (1 to 500).map(i => (0L, (i % 37).toLong)).toDF("g", "v")
    val r = Sketch.kmvDistinct(small, "g", "v", k = 256).collect().head
    assert(r.getAs[Long]("exact_distinct") == 37L)
    assert(r.getAs[Long]("sketch_size") == 37L)
    assert(r.getAs[Long]("kmv_estimate") == 37L)
  }

  test("estimate lands within 3 standard errors of exact (k=256 -> ~6.3%)") {
    val out = Sketch.kmvDistinct(fixture, "g", "v", k = 256)
      .collect()
    assert(out.length == 3)
    out.foreach { r =>
      val exact = r.getAs[Long]("exact_distinct").toDouble
      val est = r.getAs[Long]("kmv_estimate").toDouble
      assert(r.getAs[Long]("sketch_size") == 256L)
      assert(math.abs(est - exact) / exact < 3.0 / math.sqrt(256.0),
        s"group ${r.get(0)}: est $est vs exact $exact")
    }
  }

  test("KMV CI: below-k collapses to the point; engaged CI brackets the estimate; k must be square") {
    // 10 distinct values < k = 16 → sketch exact, interval collapses
    val small = (0 until 40).map(i => ("g", i % 10)).toDF("g", "v")
    val s = Sketch.kmvDistinctCI(small, "g", "v", k = 16).collect().head
    assert(s.getAs[Long]("kmv_estimate") == 10L)
    assert(s.getAs[Long]("ci_lo") == 10L && s.getAs[Long]("ci_hi") == 10L)
    assert(s.getAs[Int]("covered") == 1)
    // 400 distinct values > k = 64 → estimation engages: lo < est < hi and
    // the bounds are the exact integral divisions (ε = 2450 bp at √k = 8)
    val big = (0 until 400).map(i => ("g", i)).toDF("g", "v")
    val b = Sketch.kmvDistinctCI(big, "g", "v", k = 64).collect().head
    val est = b.getAs[Long]("kmv_estimate")
    assert(b.getAs[Long]("ci_lo") == est * 10000 / 12450)
    assert(b.getAs[Long]("ci_hi") == est * 10000 / 7550)
    assert(b.getAs[Long]("ci_lo") < est && est < b.getAs[Long]("ci_hi"))
    // non-square k is rejected (ε would need a float sqrt)
    intercept[IllegalArgumentException] {
      Sketch.kmvDistinctCI(big, "g", "v", k = 60)
    }
  }

  test("rollup's merged __all__ row equals a sketch built directly over the union") {
    val rollup = Sketch.kmvRollup(fixture, "g", "v", k = 256)
      .filter(col("scope") === Sketch.AllGroups).collect().head
    val direct = Sketch.kmvDistinct(fixture.withColumn("g", lit(0L)), "g", "v", k = 256)
      .collect().head
    assert(rollup.getAs[Long]("sketch_size") == direct.getAs[Long]("sketch_size"))
    assert(rollup.getAs[Long]("kmv_estimate") == direct.getAs[Long]("kmv_estimate"))
    assert(rollup.getAs[Long]("exact_distinct") == 4021L)
  }

  test("duplicates never enter the sketch (value-distinct semantics)") {
    val dup = ((1 to 1000).map(_ => (0L, 42L)) ++ Seq((0L, 43L))).toDF("g", "v")
    val r = Sketch.kmvDistinct(dup, "g", "v", k = 8).collect().head
    assert(r.getAs[Long]("sketch_size") == 2L)
    assert(r.getAs[Long]("kmv_estimate") == 2L)
  }

  // ---- Count-Min Sketch (long form) ----

  /** Skewed multiset over 2 groups: value v occurs ~(v mod 50)+1 times. */
  private def cmsFixture = (1 to 12000)
    .map(i => ((i % 2).toLong, (i % 300).toLong))
    .toDF("g", "v")

  test("CMS merge of per-group sketches equals the sketch built directly over the union") {
    val merged = Sketch.cmsMerge(Sketch.cmsLongForm(cmsFixture, "g", "v", d = 4, w = 64))
      .orderBy("r", "bucket").collect().toSeq
    val direct = Sketch.cmsMerge(
        Sketch.cmsLongForm(cmsFixture.withColumn("g", lit(0L)), "g", "v", d = 4, w = 64))
      .orderBy("r", "bucket").collect().toSeq
    assert(merged == direct)
  }

  test("CMS estimate >= exact count for EVERY key, and is partition-invariant") {
    val exact = cmsFixture.groupBy("v").agg(count(lit(1)).as("exact_cnt"))
    val runs = Seq(1, 32).map { n =>
      val sk = Sketch.cmsMerge(Sketch.cmsLongForm(
        cmsFixture.repartition(n), "g", "v", d = 4, w = 64))
      Sketch.cmsEstimate(sk, exact, "v", d = 4, w = 64)
        .orderBy("v").collect().toSeq
    }
    assert(runs.distinct.size == 1)
    runs.head.foreach { r =>
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("exact_cnt"),
        s"key ${r.get(0)}: CMS under-estimated — impossible by construction")
    }
  }

  test("CMS is exact when the grid is collision-free") {
    // 10 distinct keys into a 4x1024 grid: expect no collisions; every
    // estimate must equal the true count exactly
    val tiny = (1 to 100).map(i => (0L, (i % 10).toLong)).toDF("g", "v")
    val exact = tiny.groupBy("v").agg(count(lit(1)).as("exact_cnt"))
    val sk = Sketch.cmsMerge(Sketch.cmsLongForm(tiny, "g", "v", d = 4, w = 1024))
    Sketch.cmsEstimate(sk, exact, "v", d = 4, w = 1024).collect().foreach { r =>
      assert(r.getAs[Long]("cms_estimate") == r.getAs[Long]("exact_cnt"))
    }
  }

  test("CMS estimates 0 for keys the sketch never saw (empty counter = zero)") {
    val tiny = (1 to 100).map(i => (0L, (i % 10).toLong)).toDF("g", "v")
    val sk = Sketch.cmsMerge(Sketch.cmsLongForm(tiny, "g", "v", d = 4, w = 1024))
    val probes = Seq(9999L, 123456L, -7L).toDF("v")
    Sketch.cmsEstimate(sk, probes, "v", d = 4, w = 1024).collect().foreach { r =>
      assert(r.getAs[Long]("cms_estimate") == 0L,
        s"unseen key ${r.get(0)} must estimate 0, not a colliding-cell min")
    }
  }

  // ---- KMV set algebra (overlap estimation) ----

  private def overlapSketch(vals: Seq[Long], k: Int = 64) = {
    val agg = udaf(new graft.ext.KmvAggregator(k))
    vals.map((0L, _)).toDF("g", "v")
      .select(col("g"), Sketch.kmvHash(col("v")).as("_h"))
      .groupBy("g").agg(agg(col("_h")).as("_sk"))
  }

  test("KMV overlap: identical sketches -> jaccard 10000, intersection = union") {
    val sk = overlapSketch((1L to 997L))
    val pairs = sk.select(col("_sk").as("_ska"), col("_sk").as("_skb"))
    val r = Sketch.kmvOverlapEstimates(pairs, 64).collect().head
    assert(r.getAs[Long]("union_k") == 64L && r.getAs[Long]("shared_k") == 64L)
    assert(r.getAs[Long]("est_jaccard_bp") == 10000L)
    assert(r.getAs[Long]("est_intersection") == r.getAs[Long]("est_union"))
  }

  test("KMV overlap: disjoint value sets -> zero shared, zero intersection estimate") {
    val pairs = overlapSketch((1L to 3000L)).select(col("_sk").as("_ska"))
      .crossJoin(overlapSketch((100001L to 103000L)).select(col("_sk").as("_skb")))
    val r = Sketch.kmvOverlapEstimates(pairs, 64).collect().head
    assert(r.getAs[Long]("shared_k") == 0L)
    assert(r.getAs[Long]("est_intersection") == 0L)
    assert(r.getAs[Long]("est_jaccard_bp") == 0L)
  }

  test("KMV overlap estimates track truth within sampling error (k=64)") {
    // A = 1..4000, B = 2001..6000: |A∪B| = 6000, |A∩B| = 2000, J = 1/3.
    // ρ̂ deviates by ~sqrt(J(1-J)/k) ≈ 0.059 (3σ ≈ 0.177), n̂U by ~3/√k ≈
    // 37% at 3σ; md5 freezes the draw so these are regression bounds
    val pairs = overlapSketch((1L to 4000L)).select(col("_sk").as("_ska"))
      .crossJoin(overlapSketch((2001L to 6000L)).select(col("_sk").as("_skb")))
    val r = Sketch.kmvOverlapEstimates(pairs, 64).collect().head
    val jbp = r.getAs[Long]("est_jaccard_bp")
    assert(jbp >= 1560L && jbp <= 5110L, s"jaccard_bp $jbp outside 3σ of 3333")
    val eu = r.getAs[Long]("est_union")
    assert(eu >= 3750L && eu <= 8250L, s"est_union $eu outside 3σ of 6000")
    val ei = r.getAs[Long]("est_intersection")
    assert(ei >= 585L && ei <= 4210L, s"est_intersection $ei outside bounds of 2000")
  }

  test("KMV set algebra: sub-k sketches give EXACT difference and containment") {
    // A = 1..20, B = 11..50: the UNION (50 values) is below k=64, so the
    // union sample is the full union and every estimator is exact:
    // |A∖B| = 10, |B∖A| = 30, |A∩B|/|A| = 50%, |A∩B|/|B| = 25%
    val pairs = overlapSketch((1L to 20L)).select(col("_sk").as("_ska"))
      .crossJoin(overlapSketch((11L to 50L)).select(col("_sk").as("_skb")))
    val r = Sketch.kmvOverlapEstimates(pairs, 64).collect().head
    assert(r.getAs[Long]("a_k") == 20L && r.getAs[Long]("b_k") == 40L)
    assert(r.getAs[Long]("est_only_a") == 10L)
    assert(r.getAs[Long]("est_only_b") == 30L)
    assert(r.getAs[Long]("cont_a_in_b_bp") == 5000L)
    assert(r.getAs[Long]("cont_b_in_a_bp") == 2500L)
  }

  test("KMV set algebra: difference estimates track truth within sampling error (k=64)") {
    // A = 1..4000, B = 2001..6000: |A∖B| = |B∖A| = 2000, |A∩B|/|A| = 1/2.
    // The difference fraction 1/3 of the union sample has 3σ ≈ 0.177 →
    // scaled by the union estimate's own 3σ the loose bound is [390, 4700]
    val pairs = overlapSketch((1L to 4000L)).select(col("_sk").as("_ska"))
      .crossJoin(overlapSketch((2001L to 6000L)).select(col("_sk").as("_skb")))
    val r = Sketch.kmvOverlapEstimates(pairs, 64).collect().head
    val oa = r.getAs[Long]("est_only_a")
    val ob = r.getAs[Long]("est_only_b")
    assert(oa >= 390L && oa <= 4700L, s"est_only_a $oa outside bounds of 2000")
    assert(ob >= 390L && ob <= 4700L, s"est_only_b $ob outside bounds of 2000")
    // containment ≈ 5000 bp, 3σ of the sample fraction ≈ ±1880 bp
    val ca = r.getAs[Long]("cont_a_in_b_bp")
    assert(ca >= 3120L && ca <= 6880L, s"cont_a_in_b_bp $ca outside 3σ of 5000")
    // partition identity on the SAME coordinated sample: A-only, B-only
    // and shared fractions scale the same union estimate, so their sum
    // reconstructs it up to the three independent floor divisions
    val sum = oa + ob + r.getAs[Long]("est_intersection")
    val eu = r.getAs[Long]("est_union")
    assert(sum <= eu && sum >= eu - 3, s"partition identity violated: $sum vs $eu")
  }

  // ---- bottom-k quantile sketch ----

  /** Unique row keys (the sample frame), 3 groups, values decorrelated from
    * ids so hash order is a genuine uniform sample of the value column. */
  private def qRows = (1 to 20000)
    .map(i => (i.toLong, (i % 3).toLong, ((i * 37) % 10000).toLong))
  private def qFixture = qRows.toDF("id", "g", "v")

  test("quantile rollup's merged __all__ row equals a sketch built directly over the union") {
    val all = Sketch.quantileRollup(qFixture, "g", "id", "v", Seq(50, 90), k = 256)
      .filter(col("scope") === Sketch.AllGroups).collect().head
    val direct = Sketch.quantileRollup(qFixture.withColumn("g", lit(0L)),
        "g", "id", "v", Seq(50, 90), k = 256)
      .filter(col("scope") === "0").collect().head
    assert(all.getAs[Long]("sketch_size") == direct.getAs[Long]("sketch_size"))
    assert(all.getAs[Long]("est_p50") == direct.getAs[Long]("est_p50"))
    assert(all.getAs[Long]("est_p90") == direct.getAs[Long]("est_p90"))
  }

  test("quantile sketch is invariant under repartitioning") {
    val runs = Seq(1, 7, 32).map { n =>
      Sketch.quantileRollup(qFixture.repartition(n), "g", "id", "v", Seq(50, 90), k = 256)
        .orderBy("scope").collect().toSeq
    }
    assert(runs.distinct.size == 1)
  }

  test("fewer than k rows -> the sample IS the group; positional quantiles are exact") {
    val small = (1 to 101).map(i => (i.toLong, 0L, i.toLong)).toDF("id", "g", "v")
    val r = Sketch.quantileRollup(small, "g", "id", "v", Seq(50, 90), k = 256)
      .filter(col("scope") === "0").collect().head
    assert(r.getAs[Long]("sketch_size") == 101L)
    // values 1..101: 0-based rank (101-1)*50 div 100 = 50 -> element 51
    assert(r.getAs[Long]("est_p50") == 51L)
    // (101-1)*90 div 100 = 90 -> element 91
    assert(r.getAs[Long]("est_p90") == 91L)
  }

  test("NULL group keys become their own __null__ group, never the __all__ row") {
    // without the sentinel mapping, the exact side's rollup+coalesce
    // rendered a NULL group as '__all__' (colliding with the grand total
    // and fanning it into contradictory duplicates) while the sketch
    // side's NULL row vanished in the non-null-safe join
    val mixed = ((1 to 300).map(i => (i.toLong, Some("a"), (i % 97).toLong)) ++
      (301 to 500).map(i => (i.toLong, None: Option[String], (i % 53).toLong)))
      .toDF("id", "g", "v")
    val out = Sketch.quantileRollup(mixed, "g", "id", "v", Seq(50), k = 64)
      .collect().map(r => r.getAs[String]("scope"))
    assert(out.count(_ == Sketch.AllGroups) == 1, out.mkString(","))
    assert(out.count(_ == Sketch.NullGroup) == 1, out.mkString(","))
    val kmv = Sketch.kmvRollup(mixed, "g", "v", k = 64)
      .collect().map(r => r.getAs[String]("scope"))
    assert(kmv.count(_ == Sketch.AllGroups) == 1, kmv.mkString(","))
    assert(kmv.count(_ == Sketch.NullGroup) == 1, kmv.mkString(","))
  }

  test("empty inputs don't throw under ANSI: null quantile estimates, zero overlap") {
    // a real group always contributes >= 1 pair/hash; these edges only
    // arise on an empty INPUT frame — the API must degrade, not crash
    // (ANSI element_at/div would otherwise throw on the guarded paths)
    val emptyQ = Seq.empty[(Long, Long, Long)].toDF("id", "g", "v")
    val rows = Sketch.quantileRollup(emptyQ, "g", "id", "v", Seq(50), k = 8).collect()
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("est_p50"))))
    val emptyPair = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("_ska", "_skb")
    val r = Sketch.kmvOverlapEstimates(emptyPair, 8).collect().head
    assert(r.getAs[Long]("union_k") == 0L)
    assert(r.getAs[Long]("est_intersection") == 0L)
    assert(r.getAs[Long]("est_jaccard_bp") == 0L)
  }

  test("CMS join-size estimate: exact inner product when collision-free, overestimate law always") {
    // 10 distinct keys into a 4x256 grid — collisions essentially impossible,
    // so min_r sum(cntL*cntR) must EQUAL the true join size.
    val left = (1 to 100).map(i => i % 10L).toDF("k")      // each key 10 times
    val right = (1 to 40).map(i => i % 10L).toDF("k")      // each key 4 times
    val r = Sketch.cmsJoinSize(left, "k", right, "k").head()
    assert(r.getAs[Long]("exact_pairs") == 10L * 10 * 4)   // 10 keys x 10 x 4
    assert(r.getAs[Long]("cms_join_size") == 400L)
    assert(r.getAs[Long]("overcount") == 0L)
    // skewed self-join: exact = sum cnt^2; estimate >= exact by construction
    val skew = ((1 to 900).map(_ => 1L) ++ (1 to 300).map(i => (i % 50 + 2).toLong)).toDF("k")
    val s = Sketch.cmsJoinSize(skew, "k", skew, "k").head()
    assert(s.getAs[Long]("exact_pairs") == 900L * 900 + 50 * 36) // 50 keys x 6^2
    assert(s.getAs[Long]("cms_join_size") >= s.getAs[Long]("exact_pairs"))
    assert(s.getAs[Long]("overcount") >= 0L)
  }

  test("CMS join-size: disjoint key sets estimate near zero, never negative pairs") {
    val left = (1 to 50).map(i => i.toLong).toDF("k")
    val right = (1 to 50).map(i => (i + 1000).toLong).toDF("k")
    val r = Sketch.cmsJoinSize(left, "k", right, "k").head()
    assert(r.getAs[Long]("exact_pairs") == 0L)
    assert(r.getAs[Long]("cms_join_size") >= 0L) // collisions may lift it above 0
  }

  test("sampled quantiles land within 3 standard errors of true rank (k=256)") {
    // classical sampling bound: rank of the sample q-quantile in the
    // population deviates from q by ~sqrt(q(1-q)/k); md5 hashes freeze the
    // draw, so this is a deterministic regression test of that bound
    val byScope = qRows.groupBy(_._2.toString).view.mapValues(_.map(_._3)).toMap +
      (Sketch.AllGroups -> qRows.map(_._3))
    Sketch.quantileRollup(qFixture, "g", "id", "v", Seq(50, 90), k = 256)
      .collect().foreach { r =>
        val vs = byScope(r.getAs[String]("scope"))
        Seq(50, 90).foreach { bp =>
          val q = bp / 100.0
          val est = r.getAs[Long](s"est_p$bp")
          val rank = vs.count(_ <= est).toDouble / vs.size
          assert(math.abs(rank - q) <= 3 * math.sqrt(q * (1 - q) / 256.0),
            s"scope ${r.get(0)} p$bp: est $est has rank $rank")
        }
      }
  }

  test("HLL: merged __all__ row equals a direct single-group build (max-merge law)") {
    val rollup = Sketch.hllRollup(fixture, "g", "v")
      .where(col("scope") === Sketch.AllGroups).collect().head
    val direct = Sketch.hllRollup(fixture.withColumn("g", lit("only")), "g", "v")
      .where(col("scope") === "only").collect().head
    Seq("n_zero_registers", "hll_estimate").foreach { c =>
      assert(rollup.getAs[Long](c) == direct.getAs[Long](c), c)
    }
  }

  test("HLL: output invariant under repartitioning") {
    val Seq(a, b) = Seq(1, 7).map(n =>
      Sketch.hllRollup(fixture.repartition(n), "g", "v")
        .orderBy("scope").collect().toSeq)
    assert(a == b)
  }

  test("HLL: register rank replays the rightmost-1-bit definition; estimate within 3 stderr") {
    // recompute registers from first principles over the collected hashes
    val hs = fixture.select(col("v"), Sketch.hllHash(col("v")).as("h"))
      .distinct().collect().map(_.getAs[Long]("h"))
    val regs = Array.fill(64)(0)
    hs.foreach { h =>
      val b = (h % 64).toInt
      val rest = h / 64
      val rho = if (rest == 0L) 55 else java.lang.Long.numberOfTrailingZeros(rest) + 1
      if (rho > regs(b)) regs(b) = rho
    }
    val zeros = regs.count(_ == 0)
    val zsum = regs.map(r => BigInt(1) << (62 - r)).sum
    val expected = (BigInt(2904064) * (BigInt(1) << 62)) / (BigInt(1000) * zsum)
    val row = Sketch.hllRollup(fixture, "g", "v")
      .where(col("scope") === Sketch.AllGroups).collect().head
    assert(row.getAs[Long]("n_zero_registers") == zeros.toLong)
    assert(row.getAs[Long]("hll_estimate") == expected.toLong)
    // raw-HLL relative error concentrates with stderr ~ 1.04/sqrt(64) = 13%
    val exact = row.getAs[Long]("exact_distinct").toDouble
    assert(math.abs(row.getAs[Long]("hll_estimate") - exact) / exact <= 3 * 1.04 / 8,
      s"est ${row.getAs[Long]("hll_estimate")} vs exact $exact")
  }
}
