package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, Multimodal, Similarity, TextOps}

/** Unit behavior of the training-data-pipeline extensions. */
class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different words about spark query engines and shuffles here"),
    (4L, "THE  quick brown fox jumps over the lazy dog again and again today"), // dup of 1 mod case/ws
    (5L, "the quick brown fox jumps over the lazy dog again and again today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-normalized duplicates") {
    val g = Dedup.exactDupGroups(docs, "doc_id", "text")
    assert(g.count() == 3)
    val dup = g.filter(col("n_docs") === 3).head()
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash signatures: identical for dups, mostly shared for near-dups") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text").orderBy("doc_id").collect()
    val s1 = (1 to 8).map(i => sig(0).getString(i))
    val s2 = (1 to 8).map(i => sig(1).getString(i))
    val s3 = (1 to 8).map(i => sig(2).getString(i))
    assert(s1.zip(s3).count { case (a, b) => a == b } == 0) // unrelated docs
    assert(s1.zip(s2).count { case (a, b) => a == b } >= 4) // near-dups share most slots
  }

  test("minhash kernel appears once per row in the optimized plan (no inlining)") {
    // the kernel is deterministic; single evaluation must hold structurally:
    // CollapseProject may not duplicate the non-cheap kernel into the 8
    // element_at slot references (SPARK-36718). A parquet source, not a
    // local Seq — a LocalRelation would be constant-folded at plan time.
    val parquetDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Dedup.minhashSignature(parquetDocs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    val calls = "graft_minhash_slots".r.findAllIn(plan).length
    assert(calls == 1, s"kernel inlined $calls times:\n$plan")
  }

  test("LSH banding surfaces the duplicate candidate pair, not unrelated docs") {
    val sig = Dedup.minhashSignature(docs, "doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 5L))) // identical text → identical signature → same bands
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("simhash: equal for identical text, near for near-dups, far for different") {
    def ham(a: Int, b: Int): Int = Integer.bitCount(a ^ b)
    val h = Dedup.simhash16(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(_.getInt(1))
    assert(ham(h(0), h(1)) <= 6)
    assert(ham(h(0), h(2)) >= 2)
  }

  test("jaccard pairs finds the planted near-dup above threshold") {
    val p = Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 3, maxId = 100L, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    assert(p.exists { case (a, b, j) => a == 1L && b == 2L && j > 0.5 })
    assert(!p.exists { case (_, b, _) => b == 3L })
  }

  test("prefix-filtered jaccard join == brute-force pairs (zero false negatives)") {
    // real corpus slice: the prefix+length filters must lose NOTHING vs the
    // brute shingle self-join at the same rational threshold (4/5 = 0.8)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val brute = Dedup.jaccardPairs(corpus, "doc_id", "text",
        maxId = Long.MaxValue, threshold = 0.8)
      .select("doc_a", "doc_b", "shared", "na", "nb", "jaccard")
    val pref = Dedup.prefixJaccardJoin(corpus, "doc_id", "text")
      .select("doc_a", "doc_b", "shared", "na", "nb", "jaccard")
    assert(pref.count() > 0, "corpus should contain at least one near-dup pair")
    assert(brute.exceptAll(pref).isEmpty && pref.exceptAll(brute).isEmpty)
  }

  test("containment join is directional: quoted doc found inside container, not vice versa") {
    val a = (1 to 12).map(i => s"x$i").mkString(" ")           // 10 shingles
    val b = a + " " + (1 to 9).map(i => s"y$i").mkString(" ")  // superset of a's
    val c = (1 to 12).map(i => s"z$i").mkString(" ")           // disjoint
    val fx = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val out = Dedup.containmentJoin(fx, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("containment_bp")))
    assert(out.toSeq == Seq((1L, 2L, 10000L)),
      s"expected exactly (1 contained-in 2) at 100%, got ${out.toSeq}")
  }

  test("containment join == brute-force containment (zero false negatives, both directions)") {
    // the prefix + length + positional filters must lose NOTHING vs the
    // unfiltered shingle self-join at the same rational threshold (9/10)
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s = Dedup.explodedShingles(corpus, "doc_id", "text", 3)
    val counts = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val brute = s.as("a").join(s.as("b"),
        col("a.sg") === col("b.sg") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_in"), col("b.doc_id").as("doc_out"))
      .agg(count(lit(1)).as("shared"))
      .join(counts.select(col("doc_id").as("doc_in"), col("n").as("na")), "doc_in")
      .join(counts.select(col("doc_id").as("doc_out"), col("n").as("nb")), "doc_out")
      .filter(lit(10) * col("shared") >= lit(9) * col("na"))
      .select(col("doc_in"), col("doc_out"), col("shared"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        expr("(10000 * shared) div na").as("containment_bp"))
    val fast = Dedup.containmentJoin(corpus, "doc_id", "text")
    assert(fast.count() > 0, "corpus should contain at least one containment pair")
    assert(brute.exceptAll(fast).isEmpty && fast.exceptAll(brute).isEmpty)
  }

  test("cosinePairs: hand-computed Ochiai, threshold boundary, df cap drops hot shingles") {
    // a: 4 shingles of "p q r s t u"; b: the single shingle {p q r}:
    // inter 1 → cos = 1/(√4·√1) = 0.5 EXACTLY (perfect-square sizes keep
    // the sqrt product exact — √2·√2 would give 2.0000000000000004, the
    // boundary case the operator doc warns thresholds live with), kept
    // by >=; c disjoint
    val fx = Seq((1L, "p q r s t u"), (2L, "p q r"), (3L, "u2 v w x"))
      .toDF("doc_id", "text")
    val out = Dedup.cosinePairs(fx, "doc_id", "text", minCos = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Long]("inter"), r.getAs[Double]("cos")))
    assert(out.toSeq == Seq((1L, 2L, 1L, 0.5)))
    // maxDf = 1 prunes the shared shingle's postings (df = 2) → no pairs
    assert(Dedup.cosinePairs(fx, "doc_id", "text", maxDf = 1,
      minCos = 0.0).count() == 0)
  }

  test("per-doc pair cap: both-endpoints rule by hand; non-binding cap == uncapped") {
    // hand graph: doc 1 has three partners (scores 0.9 > 0.8 > 0.7),
    // docs 2 and 3 also share a 0.6 pair. Cap k = 2:
    //   top-2 lists — 1:{2,3}  2:{1,3}  3:{1,2}  4:{1}
    //   (1,4) dies (4 not in 1's top-2); every other pair is in BOTH lists
    val pairs = Seq((1L, 2L, 0.9), (1L, 3L, 0.8), (1L, 4L, 0.7), (2L, 3L, 0.6))
      .toDF("doc_a", "doc_b", "cos")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(Dedup.capPairsPerDoc(pairs, "doc_a", "doc_b", 2, Some("cos")))
      == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // score-free ranking (partner id asc): doc 1 keeps {2,3}, same result
    assert(rows(Dedup.capPairsPerDoc(pairs, "doc_a", "doc_b", 2, None))
      == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the curve replays the same order: k=1 keeps only (1,2) — 3 dropped
    // pairs touch all 4 docs; k=2 drops only (1,4) — docs {1,4} truncated
    val curve = Dedup.pairCapCurve(pairs, "doc_a", "doc_b", "cos", Seq(1, 2))
      .orderBy("k").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(curve.toSeq == Seq((1, 4L, 1L, 3L, 4L), (2, 4L, 3L, 1L, 2L)))
    // non-binding caps are the identity, end to end, on the real corpus
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(pairRows(Dedup.cosinePairs(corpus, "doc_id", "text",
        maxPairsPerDoc = Some(1000))) ==
      pairRows(Dedup.cosinePairs(corpus, "doc_id", "text")))
    val winnow = Dedup.winnowOverlapPairs(corpus, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
    assert(pairRows(Dedup.removeSharedSpans(corpus, winnow, "doc_id", "text",
        minRun = 11, maxPairsPerDoc = Some(1000))) ==
      pairRows(Dedup.removeSharedSpans(corpus, winnow, "doc_id", "text",
        minRun = 11)))
  }

  test("cosine similarity: exact on known vectors") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(1.0, 1.0), Seq(1.0, 1.0)))
      .toDF("a", "b")
    val r = df.select(Similarity.cosine(col("a"), col("b")).as("c")).collect().map(_.getDouble(0))
    assert(r(0) == 0.0)
    assert(math.abs(r(1) - 1.0) < 1e-12)
  }

  test("ANN buckets agree with brute force on clustered vectors") {
    val base1 = Array.tabulate(64)(i => math.sin(i + 1))
    val base2 = Array.tabulate(64)(i => math.cos(2 * i + 1))
    def jitter(b: Array[Double], k: Int): Seq[Float] = b.zipWithIndex
      .map { case (v, i) => (v + 0.001 * ((i * k) % 7)).toFloat }.toSeq
    val emb = (0 until 10).map(k => (k.toLong, jitter(if (k % 2 == 0) base1 else base2, k)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // clustered vectors share sign-buckets → ANN recovers the brute-force set
    assert(ann == brute)
    // the extra Hamming-1 probe can only widen the candidate set: multi-probe
    // recall vs brute force is at least single-probe recall
    val multi = Similarity.annTopKMultiProbe(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((multi intersect brute).size >= (ann intersect brute).size)
    assert(multi == brute)
  }

  test("PQ ADC search: non-negative integer distances, full recall vs brute force on clusters") {
    val base1 = Array.tabulate(64)(i => math.sin(i + 1))
    val base2 = Array.tabulate(64)(i => math.cos(2 * i + 1))
    def jitter(b: Array[Double], k: Int): Seq[Float] = b.zipWithIndex
      .map { case (v, i) => (v + 0.001 * ((i * k) % 7)).toFloat }.toSeq
    val emb = (0 until 10).map(k => (k.toLong, jitter(if (k % 2 == 0) base1 else base2, k)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = 3, m = 8, ksub = 4, shortlist = 6)
    val rows = pq.collect()
    // ADC is a squared L2 in int8 space: integer, non-negative; same-cluster
    // jittered twins quantize (near-)identically so their ADC is tiny
    assert(rows.forall(_.getAs[Long]("adc_dist") >= 0L))
    // the 6-wide ADC shortlist keeps every same-cluster mate (4 per query),
    // so the exact re-rank recovers the full brute-force top-3
    val pqPairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pqPairs == brute)
  }

  test("IVF-PQ: probing every list degenerates to flat PQ; gated probes keep cluster recall") {
    val base1 = Array.tabulate(64)(i => math.sin(i + 1))
    val base2 = Array.tabulate(64)(i => math.cos(2 * i + 1))
    def jitter(b: Array[Double], k: Int): Seq[Float] = b.zipWithIndex
      .map { case (v, i) => (v + 0.001 * ((i * k) % 7)).toFloat }.toSeq
    val emb = (0 until 10).map(k => (k.toLong, jitter(if (k % 2 == 0) base1 else base2, k)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("adc_dist"),
        r.getAs[Double]("sim"))).toSet
    val flat = rows(Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = 3, m = 8, ksub = 4, shortlist = 6))
    // law: nprobe = nlist probes every list — the gate admits exactly the
    // flat scan's candidate set, so results are identical
    val all = rows(Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 3, m = 8, ksub = 4, shortlist = 6, nlist = 4, nprobe = 4))
    assert(all == flat)
    // gated: 2 of 4 probes still recover the brute-force top-3 on two tight
    // clusters (same-cluster mates share the probed lists)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gated = rows(Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 3, m = 8, ksub = 4, shortlist = 6, nlist = 4, nprobe = 2))
      .map(t => (t._1, t._2))
    assert(gated == brute)
  }

  test("residual IVF-PQ: gated probes keep cluster recall; ADC stays integer non-negative") {
    val base1 = Array.tabulate(64)(i => math.sin(i + 1))
    val base2 = Array.tabulate(64)(i => math.cos(2 * i + 1))
    def jitter(b: Array[Double], k: Int): Seq[Float] = b.zipWithIndex
      .map { case (v, i) => (v + 0.001 * ((i * k) % 7)).toFloat }.toSeq
    val emb = (0 until 10).map(k => (k.toLong, jitter(if (k % 2 == 0) base1 else base2, k)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Similarity.ivfPqResidualTopK(emb, queries, "vec_id", "embedding",
      k = 3, m = 8, ksub = 4, shortlist = 6, nlist = 4, nprobe = 2).collect()
    assert(rows.forall(_.getAs[Long]("adc_dist") >= 0L))
    // residual codes + 2-of-4 probes still recover the brute-force top-3 on
    // two tight clusters (residuals of same-cluster mates are tiny and
    // quantize near-identically)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == brute)
  }

  test("cluster quality: identical members give zero WCSS; the corpus row is looser") {
    // two groups of byte-identical vectors; with nlist = corpus size every
    // vector is a centroid, ties go to the highest centroid id, so the two
    // groups land in exactly two lists whose members are identical
    val vecA = Seq(1f, 2f, 3f, 4f, 5f, 6f, 7f, 8f)
    val vecB = Seq(8f, -7f, 6f, -5f, 4f, -3f, 2f, -1f)
    val emb = ((0 until 3).map(i => (i.toLong, vecA)) ++
      (3 until 6).map(i => (i.toLong, vecB))).toDF("vec_id", "embedding")
    val out = Similarity.clusterQualityInt8(emb, "vec_id", "embedding", nlist = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("wcss_x_n"),
        r.getAs[Long]("dispersion_bp"))).sortBy(_._1)
    val global = out.filter(_._1 == -1L)
    val clusters = out.filter(_._1 >= 0L)
    assert(global.length == 1 && global.head._2 == 6L)
    assert(clusters.length == 2 && clusters.forall(_._2 == 3L))
    // identical members: zero within-cluster variance, exactly
    assert(clusters.forall(c => c._3 == 0L && c._4 == 0L))
    // the corpus-wide row mixes the two groups: strictly positive variance
    assert(global.head._3 > 0L && global.head._4 > 0L)
  }

  test("band-OR LSH near-dup: recall >= single-table, identical vectors collide in every band") {
    val base1 = Array.tabulate(64)(i => math.sin(i + 1))
    val base2 = Array.tabulate(64)(i => math.cos(2 * i + 1))
    def jitter(b: Array[Double], k: Int): Seq[Float] = b.zipWithIndex
      .map { case (v, i) => (v + 0.001 * ((i * k) % 7)).toFloat }.toSeq
    val emb = (0 until 10).map(k => (k.toLong, jitter(if (k % 2 == 0) base1 else base2, k)))
      .toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Similarity.lshNearDupPairs(emb, "vec_id", "embedding", 0.9, numPlanes = 6))
    val banded = Similarity.bandedNearDupPairs(emb, "vec_id", "embedding", 0.9,
      bands = 3, planesPerBand = 6)
    val bandedPairs = pairs(banded)
    // OR-ing tables can only widen the candidate set's coverage of true pairs
    assert(bandedPairs.size >= single.size)
    // every surfaced pair really is above threshold, and same-cluster twins
    // (vectors jittered off one base) collide in all 3 bands
    val rows = banded.collect()
    assert(rows.forall(_.getAs[Double]("cos_sim") > 0.9))
    assert(rows.forall { r => val n = r.getAs[Long]("n_bands"); n >= 1 && n <= 3 })
    assert(rows.exists(_.getAs[Long]("n_bands") == 3L))
  }

  test("checkpointStripped leaves carry no origin stats (plan-stat snowball guard)") {
    // Spark 4's Dataset.localCheckpoint embeds originStats =
    // optimizedPlan.stats into the truncated LogicalRDD (SPARK-39748);
    // size-only stats estimate joins as child-size PRODUCTS, so an
    // iterative checkpoint loop compounds sizeInBytes exponentially —
    // measured ×4 bit-length per CC round until planning took minutes
    // inside BigInteger.multiply. The strip must pin leaf stats to the
    // session default regardless of how bloated the checkpointed plan was.
    import org.apache.spark.sql.functions._
    val base = spark.range(100).select(col("id").as("vec_id"), (col("id") % 7).as("label"))
    // a self-join tower whose PLAIN checkpoint would carry product stats
    val j = base.as("a").join(base.as("b"), Seq("vec_id")).select(col("vec_id"), col("a.label"))
    val jj = j.as("a").join(j.as("b"), Seq("vec_id")).select(col("vec_id"), col("a.label"))
    val plainBits = jj.localCheckpoint(true)
      .queryExecution.analyzed.stats.sizeInBytes.bitLength
    val strippedBits = graft.ext.Dedup.checkpointStripped(jj)
      .queryExecution.analyzed.stats.sizeInBytes.bitLength
    val defaultBits = BigInt(spark.sessionState.conf.defaultSizeInBytes).bitLength
    assert(strippedBits <= defaultBits,
      s"stripped leaf stats must not exceed the session default ($strippedBits > $defaultBits)")
    // and iterating the strip keeps them constant (the loop invariant)
    var labels = graft.ext.Dedup.checkpointStripped(base)
    (1 to 3).foreach { r =>
      val next = labels.as("a").join(labels.as("b"), Seq("vec_id"))
        .select(col("vec_id"), col("a.label"))
      labels = graft.ext.Dedup.checkpointStripped(next)
      val bits = labels.queryExecution.analyzed.stats.sizeInBytes.bitLength
      assert(bits <= defaultBits, s"round $r leaf stats grew: $bits bits")
    }
    // sanity: the guard tests something real — the PLAIN checkpoint carries
    // FINITE join-product origin stats (compounded above the base's own
    // size, far below the defaultSizeInBytes=Long.Max fallback a stripped
    // leaf reports). On a 100-row base the product is ~2^38, so plain <
    // stripped here — the snowball only overtakes the default after enough
    // rounds; what matters is that origin stats survive at all.
    val baseBits = base.localCheckpoint(true)
      .queryExecution.analyzed.stats.sizeInBytes.bitLength
    assert(plainBits > baseBits && plainBits < defaultBits,
      s"expected finite compounded origin stats: base=$baseBits plain=$plainBits default=$defaultBits")
  }

  test("duplicate clusters: multi-hop chains merge to the component min label") {
    // chain 10-20, 20-30, 30-40 (diameter 3 — needs real propagation, not
    // one-hop neighbor mins) + isolated pair 5-50 + pair 41-42
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L), (5L, 50L), (41L, 42L))
      .toDF("vec_a", "vec_b")
    val got = Dedup.duplicateClusters(pairs, "vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (10L, 10L, 4L), (20L, 10L, 4L), (30L, 10L, 4L), (40L, 10L, 4L),
      (5L, 5L, 2L), (50L, 5L, 2L),
      (41L, 41L, 2L), (42L, 41L, 2L)), got.toString)
  }

  test("large-star/small-star clusters ≡ label propagation (chain, hub, real pair graph)") {
    // the hub-safe fallback must reach the same fixpoint as the propagation
    // path on: a long chain (worst case for one-hop mins), a star-shaped hub
    // graph centred on the LARGEST id (worst case for degree concentration —
    // the VERDICT r4 #6 scenario), and the real q51 detector pair graph
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val cases = Seq(
      Seq((10L, 20L), (20L, 30L), (30L, 40L), (5L, 50L), (41L, 42L)),
      (1L to 6L).map(i => (i, 100L)), // hub = max id: every child re-attaches
      Seq((1L, 2L), (3L, 4L), (2L, 3L), (7L, 8L), (8L, 9L), (9L, 7L)) // merge + cycle
    )
    cases.foreach { es =>
      val pairs = es.toDF("vec_a", "vec_b")
      val prop = labelsOf(Dedup.duplicateClusters(pairs, "vec_a", "vec_b"))
      val star = labelsOf(Dedup.duplicateClustersStar(pairs, "vec_a", "vec_b"))
      assert(star == prop, s"divergence on $es:\nstar=$star\nprop=$prop")
    }
    // the real thing: band-OR detector pairs over the sf0.001 embeddings
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Similarity.bandedNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, bands = 3, planesPerBand = 6)
    val prop = labelsOf(Dedup.duplicateClusters(pairs, "vec_a", "vec_b"))
    val star = labelsOf(Dedup.duplicateClustersStar(pairs, "vec_a", "vec_b"))
    assert(star == prop && star.nonEmpty, s"q51-graph divergence: ${star.size} vs ${prop.size}")
  }

  test("duplicate clusters: 256-node chain converges to one component (pointer-jump depth case)") {
    // the adversarial diameter case the pointer jump exists for: pure
    // propagation needs O(d) rounds on a chain; with the per-round jump the
    // label-pointer chains compress and the loop stays O(log d). The spec
    // asserts the fixpoint, not the round count — a hang/regression here
    // shows up as a timeout
    import spark.implicits._
    val n = 256L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("vec_a", "vec_b")
    val got = Dedup.duplicateClusters(pairs, "vec_a", "vec_b")
      .select("vec_id", "cluster_id", "cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == n)
    assert(got.forall { case (_, cid, sz) => cid == 0L && sz == n })
  }

  test("IVF ANN recovers brute-force neighbors on clustered vectors") {
    val base1 = Array.tabulate(64)(i => math.sin(i + 1))
    val base2 = Array.tabulate(64)(i => math.cos(2 * i + 1))
    def jitter(b: Array[Double], k: Int): Seq[Float] = b.zipWithIndex
      .map { case (v, i) => (v + 0.001 * ((i * k) % 7)).toFloat }.toSeq
    val emb = (0 until 12).map(k => (k.toLong, jitter(if (k % 2 == 0) base1 else base2, k)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // nlist=4 lists over 2 tight clusters; probing 2 lists covers the cluster
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
        nlist = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == brute)
    // Lloyd refinement re-centers lists on member means: recall holds and
    // the result is deterministic across runs
    def refined() = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3,
        nlist = 4, nprobe = 2, lloydIterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r1 = refined()
    assert(r1 == brute)
    assert(r1 == refined())
  }

  test("lineFilter: word floor, terminal punctuation, blocklist, toggle") {
    val df = Seq((1L, Seq(
      "this is a fine prose sentence.",   // kept
      "too short.",                       // < 3 words
      "accept our Cookie policy please.", // blocklisted (case-insensitive)
      "no terminal punctuation here",     // dropped unless toggle off
      "another good line stays!").mkString("\n"))).toDF("doc_id", "text")
    val strict = df.select(TextOps.lineFilter(col("text"), 3,
      Seq("cookie", "javascript")).as("k")).head().getSeq[String](0)
    assert(strict == Seq("this is a fine prose sentence.", "another good line stays!"))
    val loose = df.select(TextOps.lineFilter(col("text"), 3,
      Seq("cookie", "javascript"), requireTerminal = false).as("k"))
      .head().getSeq[String](0)
    assert(loose.contains("no terminal punctuation here") && loose.size == 3)
  }

  test("url canonicalization collapses spelling variants, keeps distinct pages apart") {
    val urls = Seq(
      (1L, "https://www.Example.com/a/b/?utm_source=x&ref=1&id=7"),
      (2L, "HTTP://example.COM/a/b?id=7&utm_campaign=y#frag"),
      (3L, "https://example.com/a/b?id=7&page=2"), // extra real param → distinct
      (4L, "https://example.com/other?id=7")       // different path → distinct
    ).toDF("id", "url")
    val c = urls.select(col("id"), graft.ext.Urls.canonical(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(c(1L) == "example.com/a/b?id=7")
    assert(c(2L) == c(1L))
    assert(c(3L) == "example.com/a/b?id=7&page=2") // params sorted
    assert(c(4L) == "example.com/other?id=7")
    assert(Set(c(1L), c(3L), c(4L)).size == 3)
  }

  test("url templating: one generator's URLs fold to one template; hex " +
       "runs beat digit runs; fragments drop; host stays out (r19)") {
    val t = Seq(
      (1L, "https://s.example.com/cal/2021-3-14?page=12"),
      (2L, "https://s.example.com/cal/2020-11-2?page=7#frag"),
      (3L, "https://s.example.com/view?s=deadbeef01234567"),  // 16-hex → H
      (4L, "https://s.example.com/view?s=12345678"),          // 8 digits: hex first → H
      (5L, "https://s.example.com/p/1234567"),                // 7 digits: not hex-long → D
      (6L, "https://site9.example.com/cal/2021-3-14?page=12") // host digits untouched
    ).toDF("id", "url")
      .select(col("id"), graft.ext.Urls.template(col("url")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(t(1L) == "/cal/D-D-D?page=D")
    assert(t(2L) == t(1L)) // both calendar pages fold to the same template
    assert(t(3L) == "/view?s=H")
    assert(t(4L) == "/view?s=H")
    assert(t(5L) == "/p/D")
    assert(t(6L) == t(1L)) // template is host-free; grouping carries the host
  }

  test("crossCorpusCandidates: new↔ref pairs only — no self- or within-side pairs") {
    val dupText = "the quick brown fox jumps over the lazy dog again and again today"
    val cross = Seq(
      (1L, dupText),                                                            // new
      (3L, "completely different words about spark query engines and shuffles"), // new
      (5L, dupText),                                                            // new, dup of 1
      (2L, dupText),                                                            // ref, dup of 1
      (4L, "unrelated reference corpus document with its own vocabulary set")   // ref
    ).toDF("doc_id", "text")
    val sigAll = Dedup.minhashSignature(cross, "doc_id", "text")
    val pairs = Dedup.crossCorpusCandidates(
        sigAll.filter(col("doc_id") % 2 === 1),
        sigAll.filter(col("doc_id") % 2 === 0), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact dups share every band → (1,2) and (5,2) must surface; 1–5 are
    // dups WITHIN the new side → never paired; unrelated 3/4 share no band
    assert(pairs == Set((1L, 2L), (5L, 2L)))
  }

  test("bandedNearDupForest: spanning-forest detector yields EXACTLY the " +
       "full pair detector's clusters, with linear edge volume (r15 #5)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val full = Similarity.bandedNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, bands = 3, planesPerBand = 6)
    val forest = Similarity.bandedNearDupForest(emb, "vec_id", "embedding",
      threshold = 0.35, bands = 3, planesPerBand = 6)
    def partition(pairs: org.apache.spark.sql.DataFrame,
                  a: String, b: String): Set[Set[Long]] =
      Dedup.duplicateClusters(pairs, a, b)
        .collect().map(r => (r.getLong(1), r.getLong(0)))
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    val pFull = partition(full, "vec_a", "vec_b")
    val pForest = partition(forest, "vec_a", "vec_b")
    // THE LAW: identical components — the forest never splits (leakage)
    // nor merges (over-grouping) a cluster
    assert(pForest == pFull,
      s"forest clusters diverged: only-full=${(pFull -- pForest).take(3)} " +
        s"only-forest=${(pForest -- pFull).take(3)}")
    assert(pFull.nonEmpty, "law ran on empty cluster structure")
    // edge-volume claim: per component the forest carries at most
    // |members|−1 edges PER BAND (bands may emit overlapping spanning
    // edges for a shared component, so the union is bounded by
    // bands·Σ(m−1) — LINEAR in member count, never quadratic like the
    // full pair set's within-clique m² blowup)
    val nForest = forest.count()
    val maxPerComponent = 3L * pFull.toSeq.map(_.size - 1).sum
    assert(nForest <= maxPerComponent,
      s"forest edges $nForest exceed the bands·(m−1) bound $maxPerComponent")
  }

  test("nearDupAgainstIndex: parquet-persisted index audit ≡ the full " +
       "re-band restricted to pairs touching the shard (r15 verdict #6)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val shard = docs.filter(col("doc_id") % 2 === 1)
    // the index is built ONCE and round-trips through parquet — the audit
    // must work from the persisted artifact, no signature recompute
    val ixDir = java.nio.file.Files.createTempDirectory("graft_ndix").toString
    Dedup.nearDupBandIndex(corpus, "doc_id", "text")
      .write.mode("overwrite").parquet(ixDir)
    val got = Dedup.nearDupAgainstIndex(
        spark.read.parquet(ixDir), shard, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // orientation contract: new_id is always the shard (odd) doc;
    // shard-internal pairs are smaller-id-first
    assert(got.forall { case (n, r) => n % 2 == 1 && (r % 2 == 0 || n < r) })
    // THE LAW: ≡ one full re-band over corpus ∪ shard, restricted to pairs
    // with at least one shard endpoint, oriented shard-first
    val full = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(docs, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 2 == 1 || b % 2 == 1 }
      .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) }
    assert(got == expected,
      s"index audit diverged from the restricted re-band: " +
        s"extra=${(got -- expected).take(5)} missing=${(expected -- got).take(5)}")
    // vacuity: the law must actually exercise both pair kinds
    assert(got.exists { case (_, r) => r % 2 == 0 },
      "no shard-vs-index pairs — law ran on empty structure")
    assert(got.exists { case (_, r) => r % 2 == 1 },
      "no shard-internal pairs — law ran on empty structure")
  }

  test("text ops: ratios, langid, rolling hash order-sensitivity") {
    val t = Seq((1L, "the cat and the dog")).toDF("id", "text")
    val toks = TextOps.tokens(col("text"))
    val r = t.select(
      TextOps.tokenSetRatio(toks, Seq("the", "and")).as("ratio"),
      TextOps.langPredict(TextOps.langScores(toks)).as("lang"),
      TextOps.rollingTokenHash(toks).as("h1"),
      TextOps.rollingTokenHash(reverse(toks)).as("h2")).head()
    assert(r.getAs[Double]("ratio") == 0.6)
    assert(r.getAs[String]("lang") == "en")
    assert(r.getAs[Long]("h1") != r.getAs[Long]("h2"))
  }

  test("hashedMargin ≡ in-JVM brute force (unigram+bigram hash chain) on " +
       "real docs and edge shapes; classifier report is their exact rollup") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def w(tok: String): Long =
      java.lang.Long.parseLong(
        md5hex("graft-ftw:" + md5hex("graft-ft:" + tok).take(4)).take(2), 16) - 128L
    def brute(text: String): Long = {
      val toks = text.split(" ", -1).filter(_.nonEmpty).toSeq
      toks.map(w).sum +
        toks.zip(toks.drop(1)).map { case (a, b) => w(s"$a $b") }.sum
    }
    val edges = Seq("", " ", "solo", "a b", "a  b", "the cat and the dog",
      ("x " * 50).trim)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).limit(40).collect().map(_.getString(0)).toSeq
    val texts = (edges ++ real).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = texts.toDF("id", "text")
      .select(col("id"), TextOps.hashedMargin(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.foreach { case (i, t) =>
      assert(got(i) == brute(t), s"doc $i '${t.take(30)}': ${got(i)} vs ${brute(t)}")
    }
    // §2.8 law: the codegen kernel ≡ the relational HOF twin, text-for-text
    val hof = texts.toDF("id", "text")
      .select(col("id"), TextOps.hashedMarginHof(col("text")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hof == got, "hashedMargin kernel must equal its HOF twin")
    // the per-source report is exactly the brute margins rolled up
    val df = texts.toDF("id", "text")
      .withColumn("source", when(col("id") % 2 === 0, "even").otherwise("odd"))
    val rep = TextOps.hashedClassifierReport(df, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    for (s <- Seq("even", "odd")) {
      val ms = texts.filter(_._1 % 2 == (if (s == "even") 0 else 1))
        .map { case (_, t) => brute(t) }
      assert(rep(s).getAs[Long]("n_docs") == ms.size)
      assert(rep(s).getAs[Long]("n_pos") == ms.count(_ > 0))
      assert(rep(s).getAs[Long]("margin_sum") == ms.sum)
      assert(rep(s).getAs[Long]("margin_min") == ms.min)
      assert(rep(s).getAs[Long]("margin_max") == ms.max)
    }
  }

  test("classifierYieldCurve and domainQualityCap ≡ brute force over the " +
       "in-JVM margins: floor bins for negative margins, exact cum masses, " +
       "k-th-best threshold with id tie-breaks") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def w(tok: String): Long =
      java.lang.Long.parseLong(
        md5hex("graft-ftw:" + md5hex("graft-ft:" + tok).take(4)).take(2), 16) - 128L
    def brute(text: String): (Long, Long) = {
      val toks = text.split(" ", -1).filter(_.nonEmpty).toSeq
      (toks.map(w).sum +
        toks.zip(toks.drop(1)).map { case (a, b) => w(s"$a $b") }.sum,
        toks.size.toLong)
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val texts = docs.select(col("doc_id"), col("source"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val margins = texts.map { case (id, s, t) =>
      val (m, n) = brute(t); (id, s, m, n)
    }
    assert(margins.exists(_._3 < 0) && margins.exists(_._3 > 0),
      "fixture must exercise both margin signs (floor-bin law needs negatives)")
    // yield curve: floor bins, per-bin mass, cumulative-from-above
    val B = 256L
    def fdiv(m: Long): Long = Math.floorDiv(m, B)
    val byBin = margins.groupBy(x => fdiv(x._3)).view
      .mapValues(g => (g.size.toLong, g.map(_._4).sum)).toMap
    val got = graft.ext.TextOps.classifierYieldCurve(docs, "text", B)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == byBin.keySet.map(_ * B))
    got.foreach { case (th, (nd, nt, cd, ct)) =>
      val bin = th / B
      assert((nd, nt) == byBin(bin), s"bin mass at threshold $th")
      val above = byBin.filter(_._1 >= bin).values
      assert(cd == above.map(_._1).sum && ct == above.map(_._2).sum,
        s"cum survivors at threshold $th must be the >= $th mass")
    }
    // domain cap: per source the top-k by (margin desc, id asc)
    val k = 5
    val cap = graft.ext.TextOps.domainQualityCap(docs, "source", "doc_id",
        "text", k)
      .collect().map(r => r.getString(0) -> r).toMap
    val bySrc = margins.groupBy(_._2)
    assert(cap.keySet == bySrc.keySet)
    bySrc.foreach { case (s, g) =>
      val kept = g.sortBy(x => (-x._3, x._1)).take(k)
      val r = cap(s)
      assert(r.getAs[Long]("n_docs") == g.size)
      assert(r.getAs[Long]("tokens_total") == g.map(_._4).sum)
      assert(r.getAs[Long]("n_kept") == kept.size)
      assert(r.getAs[Long]("tokens_kept") == kept.map(_._4).sum)
      assert(r.getAs[Long]("threshold_margin") == kept.map(_._3).min,
        s"source $s: realized cutoff is the k-th best margin")
    }
    // exact twins: the cap binds at k even when margins tie (the id
    // tie-break keeps row_number total) and the cutoff is the shared margin
    import spark.implicits._
    val twins = Seq((10L, "s", "same text here"), (11L, "s", "same text here"),
      (12L, "s", "same text here")).toDF("doc_id", "source", "text")
    val tc = graft.ext.TextOps.domainQualityCap(twins, "source", "doc_id",
      "text", 2).head()
    assert(tc.getAs[Long]("n_kept") == 2L &&
      tc.getAs[Long]("threshold_margin") == brute("same text here")._1)
  }

  test("shingle kernel ≡ the relational HOF formulation (incl. dups, short docs, empties)") {
    val texts = Seq(
      "a b c d e", "a a a a", "x y", "", "one two three",
      "a b c a b c a b c", "t t t t t t t t",
      "  leading double space", "trailing space ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // the pre-kernel formulation, verbatim
    val ws = split(col("text"), " ")
    val idx = sequence(lit(0), size(ws) - 3)
    val hof = when(size(ws) >= 3, array_distinct(transform(idx, i =>
        concat_ws(" ", element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3)))))
      .otherwise(array().cast("array<string>"))
    val both = df.select(col("id"),
      Dedup.wordShingles(col("text"), 3).as("k"), hof.as("h")).collect()
    both.foreach { r =>
      val k = Option(r.getSeq[String](1)).getOrElse(Seq.empty)
      val h = r.getSeq[String](2)
      assert(k == h, s"id=${r.getLong(0)}: kernel=$k hof=$h")
    }
  }

  test("repetition kernel ≡ the HOF formulation on planted repetition patterns") {
    val texts = Seq(
      "a b c d e f",                 // no repetition
      "a a a a a a",                 // total repetition
      "x y x y x y x y",            // dominant 2-gram
      "a b c a b c a b c d",        // repeated 3-grams
      "one two", "solo", "",        // short/empty edges
      "p q p q r p q")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    def grams(n: Int): org.apache.spark.sql.Column = {
      val t = col("_toks")
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(t, i + k + 1)): _*)))
        .otherwise(array().cast("array<string>"))
    }
    val hof = df.select(col("id"), TextOps.tokens(col("text")).as("_toks"))
      .withColumn("_g2", grams(2)).withColumn("_g3", grams(3))
      .select(col("id"),
        (lit(1.0) - size(array_distinct(col("_toks"))).cast("double") /
          greatest(size(col("_toks")), lit(1))).as("d1"),
        when(size(col("_g2")) > 0,
          aggregate(sort_array(col("_g2")),
            struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
            (acc, x) => {
              val run = when(x === acc.getField("prev"),
                acc.getField("run") + 1).otherwise(lit(1))
              struct(x.as("prev"), run.as("run"),
                greatest(acc.getField("best"), run).as("best"))
            },
            acc => acc.getField("best")).cast("double") / size(col("_g2")))
          .otherwise(lit(0.0)).as("d2"),
        when(size(col("_g3")) > 0,
          lit(1.0) - size(array_distinct(col("_g3"))).cast("double") / size(col("_g3")))
          .otherwise(lit(0.0)).as("d3"))
      .orderBy("id").collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val kernel = df.select(col("id"),
        graft.functions.RepetitionStats.repetitionStats(col("text")).as("_r"))
      .select(col("id"), col("_r.dup_token_frac"), col("_r.top_2gram_frac"),
        col("_r.dup_3gram_frac"))
      .orderBy("id").collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(kernel.toSeq == hof.toSeq)
  }

  test("text-stats kernel ≡ the TextOps expression forms, bit-identical doubles") {
    val stop = Seq("the", "a", "or", "and", "of")
    val texts = Seq(
      "the cat and the dog", "el la los datos y", "der die das und nicht",
      "no marker words here at all", "", "x", "UPPER Case! 123 #",
      "the the the the the the the the", "a of or and the")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val toks = TextOps.tokens(col("text"))
    val scores = TextOps.langScores(toks)
    val expr = df.select(col("id"),
        size(toks).as("nt"), TextOps.avgTokenLen(col("text")).as("at"),
        TextOps.nonAlphaRatio(col("text")).as("na"),
        TextOps.tokenSetRatio(toks, stop).as("sr"),
        TextOps.qualityScore(col("text"), stop).as("q"),
        scores(0)._2.as("en"), scores(1)._2.as("es"), scores(2)._2.as("de"),
        TextOps.langPredict(scores).as("lang"))
      .orderBy("id").collect()
    val kern = df.select(col("id"),
        graft.functions.TextStats.textStats(col("text"), stop).as("_t"))
      .select(col("id"), col("_t.n_tokens"), col("_t.avg_tok_len"),
        col("_t.nonalpha_ratio"), col("_t.stopword_ratio"), col("_t.quality"),
        col("_t.s_en"), col("_t.s_es"), col("_t.s_de"), col("_t.lang_pred"))
      .orderBy("id").collect()
    expr.zip(kern).foreach { case (e, k) =>
      (1 to 9).foreach(i => assert(e.get(i) == k.get(i),
        s"id=${e.getLong(0)} field $i: expr=${e.get(i)} kernel=${k.get(i)}"))
    }
  }

  test("redaction: mask tail, digit-run substitution, digit census, stable pseudonyms") {
    val r = Seq(("Customer#000000042", "call 555-0199 re order 7"))
      .toDF("name", "note").select(
        graft.ext.Redact.maskTail(col("name"), 4).as("masked"),
        graft.ext.Redact.maskTail(col("name"), 40).as("maskedAll"),
        graft.ext.Redact.redactDigitRuns(col("note")).as("red"),
        graft.ext.Redact.digitCount(col("note")).as("nd"),
        graft.ext.Redact.pseudonym(col("name"), "s1").as("p1"),
        graft.ext.Redact.pseudonym(col("name"), "s2").as("p2")).head()
    assert(r.getAs[String]("masked") == "**************0042")
    // keep ≥ length → value passes through unmasked
    assert(r.getAs[String]("maskedAll") == "Customer#000000042")
    assert(r.getAs[String]("red") == "call <ID>-<ID> re order <ID>")
    assert(r.getAs[Long]("nd") == 8L)
    // pseudonym is salt-keyed: same value, different salt → different token
    assert(r.getAs[String]("p1") != r.getAs[String]("p2"))
    assert(r.getAs[String]("p1").length == 32)
  }

  test("t-closeness: hand-computed variational distance, bucket rollup, above_t flag") {
    // Class A: 4 rows all 'x' — p_class={x:1}, global={x:.75,y:.25},
    // TV = ½(|1−.75|+|0−.25|) = 0.25 → 2500 bp (absent-category term).
    // Class B: 2 'x' + 2 'y' — p_class={x:.5,y:.5}, TV = ½(.25+.25) = 0.25.
    val df = (Seq.fill(4)(("A", "x")) ++ Seq(("B", "x"), ("B", "x"), ("B", "y"), ("B", "y")))
      .toDF("cls", "sens")
    val out = graft.ext.Redact.tClosenessAudit(
      df, Seq(col("cls")), col("sens"), tBp = 2500, bucketBp = 500)
      .orderBy("tv_bucket").collect()
    assert(out.length == 1) // both classes land in the same 2500-bp bucket
    val r = out.head
    assert(r.getAs[Long]("tv_bucket") == 5L)     // 2500 div 500
    assert(r.getAs[Long]("n_classes") == 2L)
    assert(r.getAs[Long]("n_rows") == 8L)
    assert(r.getAs[Int]("above_t") == 1)         // 2500 >= t
    // uniform class distribution == global → TV 0, below t
    val uni = (Seq(("A", "x"), ("A", "y"), ("B", "x"), ("B", "y"))).toDF("cls", "sens")
    val u = graft.ext.Redact.tClosenessAudit(
      uni, Seq(col("cls")), col("sens"), tBp = 2500, bucketBp = 500).collect()
    assert(u.length == 1 && u.head.getAs[Long]("tv_bucket") == 0L
      && u.head.getAs[Int]("above_t") == 0)
  }

  test("multimodal: mapPartitions decode stub matches the expression path") {
    val media = Multimodal.fromDocuments(
      Seq((7L, "some payload text", "en", "src1", 17L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    import spark.implicits._
    val typed = media.as[Multimodal.MediaRecord]
    val feat = Multimodal.extractFeatures(typed).head()
    val exprWidth = media.select((lit(1) + TextOps.hash16(col("payload")) % 64).as("w"))
      .head().getInt(0)
    assert(feat.width == exprWidth)
    assert(feat.feature.length == 8)
    assert(feat.n_frames == 1)
  }

  test("multimodal: a real PNG payload decodes to true dimensions + luminance histogram") {
    // 6×4 image: left half black, right half white → histogram mass split
    // evenly between the darkest and brightest bins
    val img = new java.awt.image.BufferedImage(6, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 6)
      img.setRGB(x, y, if (x < 3) 0x000000 else 0xffffff)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)
    val png = buf.toByteArray

    val media = Seq((1L, "image/png", png, Multimodal.MediaMeta("cam", "n/a", png.length.toLong)))
      .toDF("media_id", "kind", "payload", "meta")
    val feat = Multimodal.extractFeatures(media.as[Multimodal.MediaRecord]).head()
    assert(feat.width == 6 && feat.height == 4)
    assert(feat.n_frames == 1)
    assert(feat.feature(0) == 0.5f && feat.feature(7) == 0.5f)
    assert(math.abs(feat.feature.sum - 1.0f) < 1e-6)

    // non-image payloads still take the deterministic stub path
    val stub = Multimodal.extractFeatures(
      Seq((2L, "blob", "not an image".getBytes, Multimodal.MediaMeta("s", "en", 12L)))
        .toDF("media_id", "kind", "payload", "meta").as[Multimodal.MediaRecord]).head()
    assert(stub.width >= 1 && stub.width <= 64)
  }

  test("dHash: image perceptual hash — identity, locality, fallback; banded join ≡ brute force") {
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) img.setRGB(x, y, f(x, y))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    // horizontal brightness gradient → every row-internal diff bit set the
    // same way; identical images hash identically
    val grad = (x: Int, _: Int) => { val v = x * 8; (v << 16) | (v << 8) | v }
    val h1 = Multimodal.imageDHash(png(grad))
    assert(h1 == Multimodal.imageDHash(png(grad)))
    assert(h1 >= 0L, "63-bit contract: never negative")
    // one perturbed cell → small Hamming distance; inverted gradient → large
    val perturbed = (x: Int, y: Int) =>
      if (x < 4 && y < 4) 0xffffff else grad(x, y)
    val inv = (x: Int, y: Int) => grad(31 - x, y)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h1, Multimodal.imageDHash(png(perturbed))) <= 3)
    assert(ham(h1, Multimodal.imageDHash(png(inv))) > 20)
    // non-image payloads take the TEXT rule — the oracle's path
    val blob = "not an image at all".getBytes("UTF-8")
    assert(Multimodal.imageDHash(blob) ==
      graft.functions.TextDHashKernel.compute(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(blob)))
    // MALFORMED image payloads (magic bytes select a reader, body is
    // garbage) must hit the same deterministic fallback, never throw —
    // imageio raises RuntimeExceptions as well as IOExceptions on
    // crafted blobs, and one bad blob must not kill an untrusted crawl
    val goodPng = png(grad)
    for (crafted <- Seq(
        goodPng.take(16) ++ Array.fill[Byte](64)(0x41),   // truncated + junk
        goodPng.patch(20, Array[Byte](-1, -1, -1, -1), 4), // absurd dims field
        "GIF89a".getBytes("UTF-8") ++ Array.fill[Byte](8)(0x7f))) {
      assert(Multimodal.imageDHash(crafted) ==
        graft.functions.TextDHashKernel.compute(
          org.apache.spark.unsafe.types.UTF8String.fromBytes(crafted)))
    }
    // hand-check the 64-cell/63-diff packer
    val cells = Array.tabulate(64)(i => if (i % 2 == 0) 10L else 5L)
    val packed = graft.functions.TextDHashKernel.packBits(cells)
    assert((0 until 63).forall(i => (((packed >> i) & 1L) == 1L) == (i % 2 == 0)))

    // pigeonhole recall: the banded join finds EXACTLY the brute-force
    // pairs at maxDist <= 3 on the real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextDHash.textDHash(col("text")).as("dh"))
      .localCheckpoint()
    val banded = Dedup.hammingNearDup(docs, "doc_id", "dh", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = docs.as("a")
      .join(docs.select(col("doc_id").as("id_b"), col("dh").as("dhb")),
        col("doc_id") < col("id_b"))
      .select(col("doc_id"), col("id_b"),
        bit_count(col("dh").bitwiseXOR(col("dhb"))).cast("long").as("d"))
      .filter(col("d") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded.nonEmpty && banded == brute)
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDup(docs, "doc_id", "dh", maxDist = 4)
    }
  }

  test("Mp4 box walk: round-trip law parse(synthesize(p)) == p for both " +
       "mvhd versions and 1/2/3 tracks; duration_ms floors exactly") {
    import graft.ext.Mp4
    for (version <- Seq(0, 1); nTracks <- Seq(1, 2, 3)) {
      val tracks = Seq(Mp4.TrackSpec("avc1", 1920, 1080)) ++
        (if (nTracks >= 2) Seq(Mp4.TrackSpec("mp4a", 0, 0, "soun")) else Nil) ++
        (if (nTracks >= 3) Seq(Mp4.TrackSpec("tx3g", 0, 0, "text")) else Nil)
      val p = Mp4.synthesize("isom", timescale = 600L, duration = 9001L,
        tracks, mvhdVersion = version)
      val m = Mp4.parseMeta(7L, p)
      assert(m.major_brand.contains("isom"), s"v$version n$nTracks: $m")
      assert(m.n_tracks == nTracks)
      assert(m.timescale.contains(600L))
      // 9001 * 1000 / 600 = 15001.66… → floors to 15001 on both engines
      assert(m.duration_ms.contains(15001L))
      assert(m.width.contains(1920) && m.height.contains(1080))
      assert(m.codecs.contains(
        Seq("avc1", "mp4a", "tx3g").take(nTracks).mkString(",")))
    }
    // width/height come from the FIRST track with nonzero dims, so an
    // audio-first layout still reports the video track's size
    val audioFirst = Mp4.synthesize("mp42", 1000L, 5000L,
      Seq(Mp4.TrackSpec("mp4a", 0, 0, "soun"), Mp4.TrackSpec("hvc1", 640, 480)))
    val am = Mp4.parseMeta(1L, audioFirst)
    assert(am.width.contains(640) && am.height.contains(480) &&
      am.codecs.contains("mp4a,hvc1"))
  }

  test("Mp4 box walk: crafted payloads never throw, loop, or overread — " +
       "truncations keep the metadata that preceded the cut") {
    import graft.ext.Mp4
    val good = Mp4.synthesize("isom", 600L, 1200L,
      Seq(Mp4.TrackSpec("avc1", 320, 240)))
    // EVERY prefix parses without throwing (exhaustive truncation sweep);
    // parsing is monotone: a prefix long enough to hold ftyp keeps brand.
    // Dims are end-relative in tkhd, so a truncated box must yield NO
    // dims — never dimensions fabricated from matrix bytes at the clamped
    // end (the r15 review find): every prefix reports either nothing or
    // the true 320×240.
    for (n <- 0 to good.length) {
      val m = Mp4.parseMeta(0L, good.take(n))
      if (n >= 16) assert(m.major_brand.contains("isom"),
        s"prefix $n lost the already-parsed brand")
      assert(m.width.forall(_ == 320) && m.height.forall(_ == 240),
        s"prefix $n fabricated dims ${m.width}x${m.height}")
    }
    // a structurally invalid stsd sample entry (declared esize < 8) must
    // not contribute its fourcc — validate framing BEFORE trusting content
    val badEntry = {
      val body = Array[Byte](0, 0, 0, 0) ++ // version/flags
        Array[Byte](0, 0, 0, 1) ++          // entry_count = 1
        Array[Byte](0, 0, 0, 4) ++ "zzzz".getBytes // esize 4 < 8
      val size = 8 + body.length
      Array[Byte]((size >> 24).toByte, (size >> 16).toByte,
        (size >> 8).toByte, size.toByte) ++ "stsd".getBytes ++ body
    }
    assert(Mp4.parseMeta(0L, badEntry).codecs.isEmpty,
      "malformed stsd entry leaked a codec")
    val torture = Seq[Array[Byte]](
      Array.emptyByteArray,
      Array.fill[Byte](7)(0x6d), // shorter than one header
      // size=0 ("to end of file") wrapping garbage
      Array[Byte](0, 0, 0, 0) ++ "free".getBytes ++ Array.fill[Byte](32)(0x11),
      // size=1 with a largesize far beyond the payload
      Array[Byte](0, 0, 0, 1) ++ "mdat".getBytes ++
        Array.fill[Byte](8)(0x7f) ++ Array.fill[Byte](16)(0x22),
      // declared size 4 < header 8 — malformed framing
      Array[Byte](0, 0, 0, 4) ++ "moov".getBytes ++ Array.fill[Byte](16)(0x33),
      // "moov" claiming to contain itself (self-nesting, depth-cap path):
      // 16 nested container headers each spanning to the end
      (0 until 16).map(_ => Array[Byte](0, 0, 0, 0) ++ "moov".getBytes)
        .reduce(_ ++ _),
      // random-ish bytes (the q185 garbage-row path)
      java.security.MessageDigest.getInstance("MD5").digest("junk".getBytes),
      good ++ good // two concatenated files: first moov wins, no throw
    )
    for (p <- torture) {
      val m = Mp4.parseMeta(0L, p) // must not throw
      assert(m.n_tracks >= 0)
    }
    // pure garbage reads as the all-null/zero row (the oracle's CASE arm)
    val g = Mp4.parseMeta(0L,
      java.security.MessageDigest.getInstance("MD5").digest("junk".getBytes))
    assert(g.major_brand.isEmpty && g.n_tracks == 0 && g.timescale.isEmpty &&
      g.duration_ms.isEmpty && g.width.isEmpty && g.codecs.isEmpty)
  }

  test("Mp4 box walk: ADVICE-r15 bounds tortures — short v1 mvhd cannot " +
       "fabricate a duration from sibling bytes or abort the walk; hostile " +
       "u64 durations clamp; a truncated final stsd entry leaks no codec") {
    import graft.ext.Mp4
    def u32(v: Long) = Array((v >>> 24).toByte, (v >>> 16).toByte,
      (v >>> 8).toByte, v.toByte)
    def bx(t: String, body: Array[Byte]) =
      u32(8L + body.length) ++ t.getBytes("ISO-8859-1") ++ body
    // v1 mvhd declaring only 28 body bytes (guard used to pass at +28 but
    // the u64 read needs +32): the next 4 bytes belong to the SIBLING trak
    // header — duration must be absent, and the trak still counted
    val shortV1 = bx("mvhd",
      Array[Byte](1, 0, 0, 0) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0) ++
        u32(600) ++ u32(26)) // 28 body bytes: u64 duration would overrun
    val trak = bx("trak", Array.emptyByteArray)
    val m1 = Mp4.parseMeta(0L, bx("moov", shortV1 ++ trak))
    assert(m1.duration_ms.isEmpty,
      s"short v1 mvhd fabricated a duration: $m1")
    assert(m1.n_tracks == 1,
      s"the walk aborted instead of skipping the short mvhd: $m1")
    // the short mvhd as moov's LAST child, a top-level trak after the moov:
    // the u64 read used to cross the moov boundary into the trak's header
    // bytes — fabrication across a CONTAINER boundary, not just a sibling
    val m2 = Mp4.parseMeta(0L, bx("moov", shortV1) ++ trak)
    assert(m2.n_tracks == 1 && m2.duration_ms.isEmpty,
      s"mvhd read crossed the moov boundary: $m2")
    // ...and with NOTHING after the moov the same read ran off the array:
    // AIOOBE swallowed by parseMeta. A malformed v1 box (28 < 32 body
    // bytes) now records nothing at all — not even the timescale the old
    // code had assigned before throwing mid-box
    val m2b = Mp4.parseMeta(0L, bx("moov", shortV1))
    assert(m2b.timescale.isEmpty && m2b.duration_ms.isEmpty,
      s"array-end v1 mvhd must record nothing: $m2b")
    // hostile u64 duration (high bit set → negative as signed): clamps to
    // absent rather than wrapping in d * 1000 / ts
    val hostile = bx("mvhd",
      Array[Byte](1, 0, 0, 0) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0) ++
        u32(600) ++ Array.fill[Byte](8)(0xff.toByte))
    val m3 = Mp4.parseMeta(0L, bx("moov", hostile))
    assert(m3.timescale.contains(600L) && m3.duration_ms.isEmpty,
      s"hostile u64 duration must clamp to absent: $m3")
    // ...and a ×1000-overflowing positive (2^62) clamps the same way
    val big = bx("mvhd",
      Array[Byte](1, 0, 0, 0) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0) ++
        u32(600) ++ Array[Byte](0x40, 0, 0, 0, 0, 0, 0, 0))
    assert(Mp4.parseMeta(0L, bx("moov", big)).duration_ms.isEmpty)
    // final stsd entry whose declared size overruns the box end: the
    // complete-entry rule — its fourcc must NOT contribute (r15 verdict #1)
    val stsd = bx("stsd", Array[Byte](0, 0, 0, 0) ++ u32(2) ++
      bx("avc1", new Array[Byte](8)) ++          // entry 1: complete
      u32(64L) ++ "zzzz".getBytes)               // entry 2: size 64 > room
    val m4 = Mp4.parseMeta(0L, bx("moov", bx("trak",
      bx("mdia", bx("minf", bx("stbl", stsd))))))
    assert(m4.codecs.contains("avc1"),
      s"complete entry must still report: $m4")
    assert(!m4.codecs.exists(_.contains("zzzz")),
      s"truncated entry leaked its fourcc: $m4")
    // v1 synthesize prefix sweep: monotone, no fabricated duration ever
    val goodV1 = Mp4.synthesize("isom", 600L, 1200L,
      Seq(Mp4.TrackSpec("avc1", 320, 240)), mvhdVersion = 1)
    for (n <- 0 to goodV1.length) {
      val m = Mp4.parseMeta(0L, goodV1.take(n))
      assert(m.duration_ms.forall(_ == 2000L),
        s"v1 prefix $n fabricated duration ${m.duration_ms}")
    }
  }

  test("Avi RIFF walk: round-trip law parse(synthesize(p)) == p; frames " +
       "decode to the planted bins with exact 1.0 mass; features equal an " +
       "independent decode of the source JPEGs") {
    import graft.ext.Avi
    val w = 48
    val h = 32
    val bins = Seq(1, 4, 7) // grays 48, 144, 240 — bin centers
    val jpegs = bins.map(b => Avi.encodeGrayJpeg(w, h, 32 * b + 16))
    val p = Avi.synthesize(usPerFrame = 40000L, width = w, height = h,
      frames = jpegs)
    val m = Avi.parseMeta(9L, p)
    assert(m.width.contains(w) && m.height.contains(h), s"meta dims: $m")
    assert(m.n_streams == 1 && m.total_frames.contains(3L))
    assert(m.us_per_frame.contains(40000L) && m.codec.contains("MJPG"))
    val frames = Avi.decodeFrames(9L, p, stride = 1, maxFrames = 8)
    assert(frames.map(_.frame_idx) == Seq(0, 1, 2))
    frames.zip(bins).foreach { case (f, bin) =>
      assert(f.width == w && f.height == h && f.n_frames == 3)
      assert(f.us_per_frame.contains(40000L) && f.codec.contains("MJPG"))
      // solid DC-only JPEG: every pixel lands in the planted bin
      assert(f.feature(bin) == 1.0f,
        s"frame ${f.frame_idx}: bin $bin mass ${f.feature(bin)}")
      assert(f.feature.sum == 1.0f)
    }
    // chunk byte-range validation: the walked feature must equal an
    // INDEPENDENT histogram of the source JPEG decoded outside the walk
    frames.zip(jpegs).foreach { case (f, src) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(src))
      val hist = new Array[Float](8)
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        hist(lum >> 5) += 1f
      }
      val n = (img.getWidth.toLong * img.getHeight).toFloat
      assert(f.feature.toSeq == hist.map(_ / n).toSeq,
        s"frame ${f.frame_idx} diverges from the independent decode")
    }
    // stride + cap: every 2nd of 6 frames, capped at 2 — indices stay the
    // movi positions (stable under the cap), n_frames stays the total 6
    val six = Avi.synthesize(33366L, w, h,
      (0 until 6).map(i => Avi.encodeGrayJpeg(w, h, 32 * (i % 8) + 16)))
    val sampled = Avi.decodeFrames(9L, six, stride = 2, maxFrames = 2)
    assert(sampled.map(_.frame_idx) == Seq(0, 2))
    assert(sampled.forall(_.n_frames == 6))
  }

  test("Avi A/V demux: interleaved auds stream round-trips — WAVEFORMATEX " +
       "fields, chunk concatenation in movi order, EXACT segment-pure RMS") {
    import graft.ext.Avi
    val c1 = 12000
    val c2 = 3000
    val nc = 416 // multiple of 4 → 8 | 2·nc → segment-pure blocks
    val p = Avi.synthesize(33366L, 32, 32,
      frames = Seq(Avi.encodeGrayJpeg(32, 32, 144)),
      audioChunks = Seq(Avi.encodePcm16(c1, nc), Avi.encodePcm16(c2, nc)),
      audioRate = 44100L)
    val m = Avi.parseMeta(4L, p)
    assert(m.n_streams == 2 && m.codec.contains("MJPG"), s"meta: $m")
    // the video path is untouched by the audio strl
    val fs = Avi.decodeFrames(4L, p, 1, 8)
    assert(fs.size == 1 && fs.head.feature(4) == 1.0f && fs.head.n_frames == 1)
    val a = Avi.decodeAudioTrack(4L, p).get
    assert(a.sample_rate == 44100L && a.channels == 1 && a.bits == 16)
    assert(a.n_chunks == 2 && a.n_samples == 2L * nc)
    // constant samples: every decode-side float op is exact, so segment
    // RMS is LITERALLY c/32768.0 — equality, not tolerance
    (0 until 4).foreach(s => assert(a.rms(s) == c1 / 32768.0,
      s"segment $s: ${a.rms(s)} != ${c1 / 32768.0}"))
    (4 until 8).foreach(s => assert(a.rms(s) == c2 / 32768.0,
      s"segment $s: ${a.rms(s)} != ${c2 / 32768.0}"))
    // 8-bit unsigned path: constant byte u → |u − 128| / 128 exactly
    val pcm8 = Array.fill[Byte](200)(200.toByte)
    val p8 = Avi.synthesize(33366L, 16, 16,
      frames = Seq(Avi.encodeGrayJpeg(16, 16, 48)),
      audioChunks = Seq(pcm8), audioBits = 8)
    val a8 = Avi.decodeAudioTrack(1L, p8).get
    assert(a8.bits == 8 && a8.n_samples == 200L)
    assert(a8.rms.forall(_ == 72.0 / 128.0), a8.rms.toSeq.toString)
    // no auds strl → wb chunks are unclaimed → no audio row (and no throw)
    val videoOnly = Avi.synthesize(33366L, 16, 16,
      frames = Seq(Avi.encodeGrayJpeg(16, 16, 48)))
    assert(Avi.decodeAudioTrack(0L, videoOnly).isEmpty)
    // truncation sweep over the A/V file: never throws; any audio row a
    // prefix yields respects the complete-chunk rule — chunk counts only
    // whole, rms values only from the planted constants
    for (n <- 0 to p.length) {
      val pre = p.take(n)
      Avi.parseMeta(0L, pre)
      Avi.decodeAudioTrack(0L, pre).foreach { t =>
        assert(t.n_chunks >= 1 && t.n_samples % nc == 0,
          s"prefix $n kept a partial chunk: $t")
        assert(t.rms.forall(r =>
          r == c1 / 32768.0 || r == c2 / 32768.0 || r == 0.0),
          s"prefix $n fabricated rms: ${t.rms.toSeq}")
      }
    }
  }

  test("Avi A/V demux: a non-PCM first auds stream reports undecodable — " +
       "it must not borrow a later auds stream's WAVEFORMATEX (r16 review)") {
    import graft.ext.Avi
    def le32(v: Long) = Array(v.toByte, (v >>> 8).toByte,
      (v >>> 16).toByte, (v >>> 24).toByte)
    def le16(v: Int) = Array(v.toByte, (v >>> 8).toByte)
    def ck(t: String, body: Array[Byte]) =
      t.getBytes("ISO-8859-1") ++ le32(body.length.toLong) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    def lst(lt: String, parts: Array[Byte]*) = {
      val body = lt.getBytes("ISO-8859-1") ++ parts.flatten
      "LIST".getBytes ++ le32(body.length.toLong) ++ body
    }
    def strh(tpe: String) = ck("strh", tpe.getBytes ++ "NONE".getBytes ++
      new Array[Byte](48))
    // strl#1: auds with an MP3-tagged (0x55) WAVEFORMATEX — NOT decodable;
    // strl#2: auds with a clean 16-bit PCM WAVEFORMATEX
    def wfx(tag: Int) = ck("strf", le16(tag) ++ le16(1) ++ le32(8000L) ++
      le32(16000L) ++ le16(2) ++ le16(16) ++ le16(0))
    val pcm = Avi.encodePcm16(1000, 64)
    val body = lst("hdrl", lst("strl", strh("auds"), wfx(0x55)),
        lst("strl", strh("auds"), wfx(1))) ++
      lst("movi", ck("00wb", Array.fill[Byte](65)(0x33)), ck("01wb", pcm))
    val p = "RIFF".getBytes ++ le32(4L + body.length) ++ "AVI ".getBytes ++ body
    val m = Avi.parseMeta(0L, p)
    assert(m.n_streams == 2, s"both strh must count: $m")
    // the claimed (first) auds stream has no decodable format: NO audio row
    // fabricated from stream 2's PCM fields over stream 1's MP3 bytes
    assert(Avi.decodeAudioTrack(0L, p).isEmpty,
      "first auds stream borrowed a later stream's WAVEFORMATEX")
  }

  test("bandedNearDupForest: duplicate ids merge without emitting a " +
       "self-loop — clusters still equal the full detector's (r16 review)") {
    import spark.implicits._
    // two rows share id 1 (dirty ingestion) with identical vectors; id 2
    // is an exact near-dup of both; id 9 is unrelated
    val v = Array.fill(8)(1.0f)
    val emb = Seq((1L, v), (1L, v), (2L, v),
        (9L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val forest = Similarity.bandedNearDupForest(emb, "vec_id", "embedding",
      threshold = 0.35, bands = 2, planesPerBand = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(forest.forall { case (a, b) => a != b },
      s"self-loop emitted for a duplicate id: ${forest.toSeq}")
    assert(forest.contains((1L, 2L)), s"lost the true pair: ${forest.toSeq}")
    // the connectivity law holds on the dirty input too
    def partition(pairs: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      Dedup.duplicateClusters(pairs, "vec_a", "vec_b")
        .collect().map(r => (r.getLong(1), r.getLong(0)))
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    val fullPairs = Similarity.bandedNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, bands = 2, planesPerBand = 4, dim = 8)
      .select(col("vec_a"), col("vec_b"))
    val forestDf = Similarity.bandedNearDupForest(emb, "vec_id", "embedding",
      threshold = 0.35, bands = 2, planesPerBand = 4, dim = 8)
    assert(partition(forestDf) == partition(fullPairs),
      "duplicate-id input broke the clusters(forest) ≡ clusters(full) law")
  }

  test("Avi RIFF walk: crafted payloads never throw, loop, or overread — " +
       "truncations keep complete frames only; padding and bad chunks skip " +
       "without losing neighbours") {
    import graft.ext.Avi
    val good = Avi.synthesize(40000L, 32, 32,
      Seq(Avi.encodeGrayJpeg(32, 32, 48), Avi.encodeGrayJpeg(32, 32, 144)))
    // exhaustive truncation sweep: every prefix parses without throwing,
    // and any frame that DOES come out is a complete chunk with the true
    // dims and planted bin — never a half-JPEG
    for (n <- 0 to good.length) {
      val pre = good.take(n)
      val m = Avi.parseMeta(0L, pre) // must not throw
      assert(m.n_streams >= 0)
      val fs = Avi.decodeFrames(0L, pre, 1, 8)
      fs.foreach { f =>
        assert(f.width == 32 && f.height == 32,
          s"prefix $n emitted a frame with fabricated dims ${f.width}x${f.height}")
        assert(f.feature(if (f.frame_idx == 0) 1 else 4) == 1.0f,
          s"prefix $n frame ${f.frame_idx} lost its planted bin")
      }
    }
    def le32(v: Long) = Array(v.toByte, (v >>> 8).toByte,
      (v >>> 16).toByte, (v >>> 24).toByte)
    def ck(t: String, body: Array[Byte]) =
      t.getBytes("ISO-8859-1") ++ le32(body.length.toLong) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray)
    def riff(body: Array[Byte]) =
      "RIFF".getBytes ++ le32(4L + body.length) ++ "AVI ".getBytes ++ body
    // an ODD-length non-JPEG frame chunk: its pad byte must be respected
    // (the next chunk is found), and the undecodable chunk itself skips
    // WITHOUT shifting its neighbour's movi index
    val oddJunk = ck("00dc", Array.fill[Byte](33)(0x5a))
    val realJpeg = ck("00dc", Avi.encodeGrayJpeg(16, 16, 240))
    val mixed = riff(
      "LIST".getBytes ++ le32(4L + oddJunk.length + realJpeg.length) ++
        "movi".getBytes ++ oddJunk ++ realJpeg)
    val mf = Avi.decodeFrames(3L, mixed, 1, 8)
    assert(mf.map(_.frame_idx) == Seq(1), s"padding broke chunk framing: $mf")
    assert(mf.head.feature(7) == 1.0f && mf.head.n_frames == 2)
    // a movi chunk whose declared size overruns the file contributes NO
    // frame (complete chunks only), but the file still parses
    val overrun = riff(
      "LIST".getBytes ++ le32(4L + 8 + 4) ++ "movi".getBytes ++
        "00dc".getBytes ++ le32(1000000L) ++ Array.fill[Byte](4)(0x11))
    assert(Avi.decodeFrames(0L, overrun, 1, 8).isEmpty)
    val torture = Seq[Array[Byte]](
      Array.emptyByteArray,
      Array.fill[Byte](7)(0x52),
      "RIFF".getBytes ++ le32(4L) ++ "AVI ".getBytes, // header only
      "RIFF".getBytes ++ le32(0xffffffffL) ++ "AVI ".getBytes ++
        Array.fill[Byte](32)(0x22), // hostile riff size clamps
      "RIFF".getBytes ++ le32(100L) ++ "WAVE".getBytes ++
        Array.fill[Byte](32)(0x33), // not an AVI form
      riff(ck("avih", Array.fill[Byte](12)(0x44))), // short avih: no fields
      riff("LIST".getBytes ++ le32(0L) ++ Array.fill[Byte](16)(0x55)), // size 0
      // LIST self-nesting depth bomb: 16 movi lists each spanning to end
      riff((0 until 16).map(_ => "LIST".getBytes ++ le32(0xfffffff0L) ++
        "movi".getBytes).reduce(_ ++ _)),
      java.security.MessageDigest.getInstance("MD5").digest("junk".getBytes),
      good ++ good // concatenated files: first RIFF bounds the walk
    )
    for (p <- torture) {
      val m = Avi.parseMeta(0L, p) // must not throw
      assert(m.n_streams >= 0)
      Avi.decodeFrames(0L, p, 1, 4) // must not throw either
    }
    // pure garbage reads as the all-null row with zero frames (q199's
    // oracle CASE arm)
    val g = Avi.parseMeta(0L,
      java.security.MessageDigest.getInstance("MD5").digest("junk".getBytes))
    assert(g.width.isEmpty && g.n_streams == 0 && g.total_frames.isEmpty &&
      g.us_per_frame.isEmpty && g.codec.isEmpty)
    // concatenated files: the first RIFF's size bounds the walk — the
    // second file's frames must not leak in
    assert(Avi.decodeFrames(0L, good ++ good, 1, 8).size == 2)
  }

  test("multimodal: an animated GIF reports its true frame count") {
    import javax.imageio.{IIOImage, ImageIO}
    val buf = new java.io.ByteArrayOutputStream()
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    val ios = ImageIO.createImageOutputStream(buf)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    (0 until 3).foreach { i =>
      val f = new java.awt.image.BufferedImage(5, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 5; x <- 0 until 5) f.setRGB(x, y, i * 0x333333)
      writer.writeToSequence(new IIOImage(f, null, null), null)
    }
    writer.endWriteSequence()
    ios.close()
    val gif = buf.toByteArray

    val ds = Seq((3L, "image/gif", gif, Multimodal.MediaMeta("cam", "n/a", gif.length.toLong)))
      .toDF("media_id", "kind", "payload", "meta").as[Multimodal.MediaRecord]
    val feat = Multimodal.extractFeatures(ds).head()
    assert(feat.width == 5 && feat.height == 5)
    assert(feat.n_frames == 3)

    // frame-sampled features mean-pool across the sampled frames: the black
    // frame 0 alone puts all mass in bin 0, frames {0,2} split it between
    // bins, and each pooled histogram still sums to 1
    val f0 = Multimodal.extractFrameSampledFeatures(ds, stride = 3).head() // frame 0 only
    val f02 = Multimodal.extractFrameSampledFeatures(ds, stride = 2).head() // frames 0 and 2
    assert(math.abs(f0.feature(0) - 1.0f) < 1e-5)
    assert(math.abs(f02.feature(0) - 0.5f) < 1e-5)
    assert(f02.feature.sum > 0.99f && f02.feature.sum < 1.01f)
    assert(f0.n_frames == 3 && f02.n_frames == 3)

    // per-frame extraction: one row per frame with that frame's OWN
    // histogram — frame 0 is black (bin 0), frame 1 mid-grey (bin 1),
    // frame 2 brighter grey (bin 3: 0x66*0.299+0x66*0.587+0x66*0.114=102)
    val perFrame = Multimodal.extractPerFrameFeatures(ds, stride = 1, maxFrames = 16)
      .collect().sortBy(_.frame_idx)
    assert(perFrame.length == 3)
    assert(perFrame.map(_.frame_idx).toSeq == Seq(0, 1, 2))
    assert(perFrame.forall(f => f.width == 5 && f.height == 5 && f.n_frames == 3))
    assert(math.abs(perFrame(0).feature(0) - 1.0f) < 1e-5)
    assert(math.abs(perFrame(1).feature(1) - 1.0f) < 1e-5)
    assert(math.abs(perFrame(2).feature(3) - 1.0f) < 1e-5)
    // the cap bounds per-record fan-out (skew bomb guard): 2 rows, frames 0,1
    val capped = Multimodal.extractPerFrameFeatures(ds, stride = 1, maxFrames = 2)
      .collect().map(_.frame_idx).sorted.toSeq
    assert(capped == Seq(0, 1))
    // non-image payloads degrade to a single stub frame
    val blob = Seq((9L, "blob", "not an image".getBytes,
        Multimodal.MediaMeta("s", "n/a", 12L)))
      .toDF("media_id", "kind", "payload", "meta").as[Multimodal.MediaRecord]
    assert(Multimodal.extractPerFrameFeatures(blob, 1, 4).collect().map(_.frame_idx).toSeq == Seq(0))
  }

  test("multimodal: a real WAV payload decodes to rate/channels/frames + RMS profile") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 8 kHz mono 16-bit PCM, 800 frames: first half silence, second half a
    // 440 Hz sine at amplitude 0.5 → segment RMS ≈ 0 then ≈ 0.5/√2
    val rate = 8000
    val n = 800
    val pcm = new Array[Byte](n * 2)
    for (i <- n / 2 until n) {
      val s = (0.5 * math.sin(2 * math.Pi * 440 * i / rate) * 32767).toInt.toShort
      pcm(2 * i) = (s & 0xff).toByte        // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val buf = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      AudioFileFormat.Type.WAVE, buf)
    val wav = buf.toByteArray

    val ds = Seq((4L, "audio/wav", wav, Multimodal.MediaMeta("mic", "n/a", wav.length.toLong)))
      .toDF("media_id", "kind", "payload", "meta").as[Multimodal.MediaRecord]
    val feat = Multimodal.extractFeatures(ds).head()
    assert(feat.width == rate)     // sample rate rides in the width slot
    assert(feat.height == 1)       // mono
    assert(feat.n_frames == n)
    assert(feat.feature.length == 8)
    feat.feature.take(4).foreach(v => assert(v < 1e-4f, s"silent segment rms=$v"))
    val expected = (0.5 / math.sqrt(2)).toFloat
    feat.feature.drop(4).foreach(v =>
      assert(math.abs(v - expected) < 0.02f, s"sine segment rms=$v expected≈$expected"))
  }

  test("audioDHash: staircase waveform packs hand-computed bits; " +
       "level/bit-depth invariance; text fallback equals the text kernel") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // build 16-bit mono PCM WAV from a per-segment amplitude plan: 64
    // segments × 64 frames, constant amplitude per segment (square wave so
    // RMS = amplitude exactly)
    def wav16(amps: Seq[Double], scale: Double): Array[Byte] = {
      val n = amps.length * 64
      val pcm = new Array[Byte](n * 2)
      for (i <- 0 until n) {
        val a = amps(i / 64) * scale
        val s = (if (i % 2 == 0) a else -a)
        val v = (s * 32767).toInt.toShort
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val buf = new java.io.ByteArrayOutputStream()
      AudioSystem.write(new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
        AudioFileFormat.Type.WAVE, buf)
      buf.toByteArray
    }
    // alternating loud/quiet segments: bit i = 1 iff seg i louder than i+1
    // -> expected bits = 1 at even i (loud->quiet), 0 at odd (quiet->loud)
    val amps = Seq.tabulate(64)(i => if (i % 2 == 0) 0.8 else 0.2)
    val h1 = Multimodal.audioDHash(wav16(amps, 1.0))
    var expected = 0L
    for (i <- 0 until 63 if i % 2 == 0) expected |= (1L << i)
    assert(h1 == expected, f"staircase bits: got $h1%016x want $expected%016x")
    // perceptual invariance: a quieter master (x0.5) orders segment means
    // identically -> same hash
    assert(Multimodal.audioDHash(wav16(amps, 0.5)) == h1, "level invariance")
    // non-audio payload falls back to the text rule, bit for bit
    val txt = "the quick brown fox jumps over the lazy dog and keeps going"
    assert(Multimodal.audioDHash(txt.getBytes("UTF-8")) ==
      graft.functions.TextDHashKernel.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(txt)),
      "fallback must be the shared text kernel")
    // malformed RIFF header (crafted payload) must not throw
    val junk = Array.tabulate[Byte](64)(i => (i * 7).toByte)
    Multimodal.audioDHash("RIFF".getBytes ++ junk) // no-throw is the assert
  }

  test("shared-span stats ≡ brute-force longest common token run + match count") {
    import spark.implicits._
    // deterministic corpus with planted repeats, duplicate tokens (the
    // multi-diagonal case) and runs at unaligned offsets
    val texts = Seq(
      1L -> "a b c d e f g h a b c",
      2L -> "x a b c d e y z a b",
      3L -> "q r s t u v w",
      4L -> "t u v q r s t u v w q")
    val docs = texts.toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (1L, 3L)).toDF("doc_a", "doc_b")
    def brute(a: String, b: String): (Long, Long) = {
      val (ta, tb) = (a.split(" "), b.split(" "))
      var best = 0
      var matches = 0L
      for (i <- ta.indices; j <- tb.indices if ta(i) == tb(j)) {
        matches += 1
        var l = 0
        while (i + l < ta.length && j + l < tb.length && ta(i + l) == tb(j + l)) l += 1
        best = math.max(best, l)
      }
      (matches, best.toLong)
    }
    val got = graft.ext.Dedup.sharedSpanStats(docs, pairs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getAs[Long]("n_matched_positions"), r.getAs[Long]("longest_shared_run")))
      .toMap
    val m = texts.toMap
    assert(got((1L, 2L)) == brute(m(1L), m(2L)))  // run "a b c d e" across offsets
    assert(got((3L, 4L)) == brute(m(3L), m(4L)))  // full doc inside repeats
    assert(!got.contains((1L, 3L)) == (brute(m(1L), m(3L))._1 == 0L)) // no shared tokens -> no row
  }

  test("removeSharedSpans: later doc loses the UNION of covered spans; first copy survives") {
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val S = (1 to 12).map(i => s"s$i").mkString(" ")   // 12 >= minRun
    val U = (1 to 13).map(i => s"u$i").mkString(" ")   // 13 >= minRun
    val A5 = (1 to 5).map(i => s"a$i").mkString(" ")   // 5 < minRun
    val texts = Seq(
      1L -> s"p1 p2 $S q1 q2",   // earlier copy of S — always kept
      2L -> s"r1 $S r2 r3",      // one span removed mid-doc
      3L -> U,                   // earlier copy of U
      4L -> U,                   // exact duplicate — fully emptied
      5L -> s"$S z1 $U",         // union across TWO pairs (1,5) and (3,5)
      6L -> s"$A5 c1 c2 c3",
      7L -> s"d1 $A5 d2",        // shared run below minRun — untouched
      8L -> s"$S m1 $S")         // S twice: BOTH occurrences on qualifying diagonals
    val docs = texts.toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (1L, 5L), (3L, 5L), (6L, 7L), (1L, 8L))
      .toDF("doc_a", "doc_b")
    val got = graft.ext.Dedup
      .removeSharedSpans(docs, pairs, "doc_id", "text", minRun = 11)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("kept_fp"))).toMap
    // exactly the rewritten docs appear: 2, 4, 5, 8 (7 below threshold;
    // 1/3/6 are earlier docs and keep their copies)
    assert(got.keySet == Set(2L, 4L, 5L, 8L))
    assert(got(2L) == ((15L, 12L, md5hex("r1 r2 r3"))))
    assert(got(4L) == ((13L, 13L, md5hex("")))) // fully emptied duplicate
    assert(got(5L) == ((26L, 25L, md5hex("z1")))) // union of both pairs' spans
    assert(got(8L) == ((25L, 24L, md5hex("m1")))) // both repeated occurrences
  }

  test("goldenRecord: consensus, recency and null-survivorship rules") {
    import spark.implicits._
    val mentions = Seq(
      // majority wins over recency: B delivered twice beats late-only A
      (1L, 1L, Option("B"), Option(10)), (1L, 2L, Option("B"), Option(11)),
      (1L, 3L, Option("A"), Option.empty[Int]),
      // all-null attribute: no consensus row, recency keeps the only nation
      (2L, 1L, Option.empty[String], Option(5)),
      (2L, 2L, Option.empty[String], Option.empty[Int]),
      // frequency tie → recency: Y (clock 2) beats X (clock 1)
      (3L, 1L, Option("X"), Option(1)), (3L, 2L, Option("Y"), Option(2)),
      // frequency AND clock tie → value order: A < B (nation keeps the
      // sole non-null delivery — no ordering-key tie)
      (4L, 1L, Option("B"), Option(7)), (4L, 1L, Option("A"), Option.empty[Int]),
      // recency CLOCK tie with different non-null values → the (clock,
      // value) struct key breaks it on the value (9 > 3), independent of
      // partition/row order — the determinism-under-repartitioning
      // contract for the recency rule
      (5L, 1L, Option("C"), Option(9)), (5L, 1L, Option("C"), Option(3))
    ).toDF("k", "clock", "seg", "nat").repartition(7)
    val got = graft.ext.Linkage.goldenRecord(mentions, "k", "clock", "seg", "nat")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_mentions"), r.getAs[Long]("n_values"),
          Option(r.getAs[Integer]("golden_nat")).map(_.toInt),
          Option(r.getAs[String]("golden_seg")))).toMap
    assert(got(1L) == ((3L, 2L, Some(11), Some("B")))) // late null nation must NOT erase 11
    assert(got(2L) == ((2L, 0L, Some(5), None)))
    assert(got(3L) == ((2L, 2L, Some(2), Some("Y"))))
    assert(got(4L) == ((2L, 2L, Some(7), Some("A"))))
    assert(got(5L) == ((2L, 1L, Some(9), Some("C"))))
  }

  test("sortedNeighborPairs: pass geometry, canonical orientation, window bound") {
    import spark.implicits._
    import graft.ext.Linkage
    // suffix typo (smith/smyth adjacent forward), prefix typo (jon/kon
    // brown adjacent only when reversed puts the shared surname first),
    // plus 'x htith' whose REVERSE ('htith x') sorts between the two
    // reversed smiths — separating them in the reverse pass
    val names = Seq("ann smith", "ann smyth", "jon brown", "kon brown",
      "x htith", "zz zed").zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name").repartition(3)
    def pairs(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Linkage.sortedNeighborPairs(names, "name", window = 1,
          maxDist = 2, sortKey = key)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val fwd = pairs(identity)
    val rev = pairs(org.apache.spark.sql.functions.reverse)
    // forward: smith/smyth adjacent → found; reverse: the browns group on
    // the shared reversed surname → found, while the separator pushes the
    // smiths out of each other's window — each pass sees what its
    // geometry favors, the multi-pass union's raison d'être
    assert(fwd.contains(("ann smith", "ann smyth")))
    assert(rev.contains(("jon brown", "kon brown")))
    assert(!rev.contains(("ann smith", "ann smyth")))
    // canonical orientation regardless of pass sort order
    (fwd ++ rev).foreach { case (a, b) => assert(a < b, s"($a, $b)") }
  }

  test("waterFill: saturated prefix, floored proportional shares, no-cut case") {
    import spark.implicits._
    // ratios: a 10, c 50, b 100 → order a, c, b. Budget 120: a saturates
    // (10·4 ≤ 120·1); c is the cut (100·3 > 110·2) → R = 110, Wrem = 3:
    // c = min(100, 2·110 div 3) = 73, b = min(100, 1·110 div 3) = 36
    val domains = Seq(("a", 1L, 10L), ("b", 1L, 100L), ("c", 2L, 100L))
      .toDF("domain", "w", "cap").repartition(3)
    val got = graft.ext.Mixture.waterFill(domains, "domain", "w", "cap", 120L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("alloc"), r.getAs[Int]("saturated"))).toMap
    assert(got == Map("a" -> ((10L, 1)), "c" -> ((73L, 0)), "b" -> ((36L, 0))))
    // allocations never exceed the budget
    assert(got.values.map(_._1).sum <= 120L)
    // budget ≥ Σcap → no cut, every domain saturates at its inventory
    val all = graft.ext.Mixture.waterFill(domains, "domain", "w", "cap", 500L)
      .collect().map(r => (r.getAs[Long]("alloc"), r.getAs[Int]("saturated")))
    assert(all.forall(_._2 == 1) && all.map(_._1).sum == 210L)
    // a zero-cap domain sorts first and saturates at 0 without dividing
    val z = Seq(("z", 5L, 0L), ("y", 1L, 50L)).toDF("domain", "w", "cap")
    val gz = graft.ext.Mixture.waterFill(z, "domain", "w", "cap", 30L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("alloc")).toMap
    assert(gz == Map("z" -> 0L, "y" -> 30L))
  }

  test("blockingQuality: all-pairs baseline is exact, strategies bounded by it") {
    import spark.implicits._
    import graft.ext.Linkage
    // 6 names, planted dup pair ("red widget","rad widget") shares the
    // last-token block; ("alpha unit","alpha unyt") differs in the block
    // token so hash blocking MUST miss it while all-pairs catches both
    val sample = Seq("red widget", "rad widget", "alpha unit", "alpha unyt",
      "gamma tool", "delta lathe").zipWithIndex
      .map { case (n, i) => (n, i.toLong) }.toDF("name", "min_id")
    val wide = 1 << 20
    val hash = Linkage.blockedFuzzyPairs(sample, "min_id", "name",
      blockKey = n => element_at(split(n, " "), -1), maxDist = wide)
    val names = sample.select(col("name"))
    val allPairs = names.as("a")
      .join(names.select(col("name").as("name_b")), col("name") < col("name_b"))
      .withColumn("dist", levenshtein(col("name"), col("name_b")))
    val out = Linkage.blockingQuality(sample, "name",
      Seq("hash_block" -> hash, "all_pairs" -> allPairs), maxDist = 2)
      .collect().map(r => r.getString(0) -> r).toMap
    val ap = out("all_pairs")
    assert(ap.getAs[Long]("n_total_pairs") == 15L)         // C(6,2)
    assert(ap.getAs[Long]("n_comparisons") == 15L)
    assert(ap.getAs[Long]("n_true_pairs") == 2L)
    assert(ap.getAs[Long]("completeness_bp") == 10000L)    // baseline law
    assert(ap.getAs[Long]("reduction_bp") == 0L)
    val hb = out("hash_block")
    assert(hb.getAs[Long]("n_caught") == 1L)               // block-token typo missed
    assert(hb.getAs[Long]("completeness_bp") == 5000L)
    assert(hb.getAs[Long]("n_comparisons") <= 15L)
    assert(hb.getAs[Long]("reduction_bp") > 0L)
  }

  test("concentrationAudit: hand-computed Simpson/Gini/HHI, uniform-mix zero Gini") {
    import spark.implicits._
    // groups A:1 B:2 C:3 (N=6, G=3): Simpson = 10000·8/30 = 2666,
    // HHI = 10000·14/36 = 3888, Gini = (2·14 − 4·6)·10000/18 = 2222
    val docs = (Seq("A") ++ Seq.fill(2)("B") ++ Seq.fill(3)("C")).toDF("src")
    val out = graft.ext.Mixture.concentrationAudit(docs.repartition(3), "src")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("A").getAs[Long]("share_bp") == 1666L)
    assert(out("B").getAs[Long]("share_bp") == 3333L)
    assert(out("C").getAs[Long]("share_bp") == 5000L)
    assert(out("A").isNullAt(3) && out("A").isNullAt(4) && out("A").isNullAt(5))
    val all = out("__all__")
    assert(all.getAs[Long]("n_docs") == 6L)
    assert(all.getAs[Long]("simpson_bp") == 2666L)
    assert(all.getAs[Long]("gini_bp") == 2222L)
    assert(all.getAs[Long]("hhi_bp") == 3888L)
    // perfectly even mix → Gini exactly 0, Simpson = (N/G − 1)/(N − 1)
    val even = (Seq.fill(2)("A") ++ Seq.fill(2)("B")).toDF("src")
    val e = graft.ext.Mixture.concentrationAudit(even, "src")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(e("__all__").getAs[Long]("gini_bp") == 0L)
    assert(e("__all__").getAs[Long]("simpson_bp") == 3333L)
    // null keys fold to __null__
    val withNull = Seq(Some("A"), None, None).toDF("src")
    val n = graft.ext.Mixture.concentrationAudit(withNull, "src")
      .collect().map(_.getString(0)).toSet
    assert(n == Set("A", "__null__", "__all__"))
  }

  test("survivorship: first-non-null, longest, source-priority elections") {
    import spark.implicits._
    import graft.ext.Linkage.SurvivorRule._
    val mentions = Seq(
      // k=1: phone first-non-null skips clock-1 null → clock 2 wins;
      // alias longest picks 'ABCD' over later 'XY'; nation priority:
      // 'gold' (rank 0) beats 'silver' despite older clock
      (1L, "silver", 1L, Option.empty[String], Option("XY"), Option(10)),
      (1L, "bronze", 2L, Option("p-b"), Option("ABCD"), Option(11)),
      (1L, "gold", 3L, Option("p-g"), Option.empty[String], Option(12)),
      // k=2: phone clock tie at 1 → value ASC picks 'a-1'; alias length
      // tie (2=2) → value DESC picks 'ZZ'; nation: no listed source
      // delivered non-null → both unlisted rank equally, clock 9 wins
      (2L, "oddsrc", 9L, Option("b-2"), Option("ZZ"), Option(7)),
      (2L, "other", 1L, Option("a-1"), Option("AA"), Option(5))
    ).toDF("k", "src", "clock", "phone", "alias", "nation").repartition(5)
    val got = graft.ext.Linkage.survivorship(mentions, "k", "clock",
        Seq("phone" -> FirstNonNull, "alias" -> Longest,
          "nation" -> SourcePriority(Seq("gold", "silver"))),
        sourceCol = "src")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_mentions"), r.getAs[String]("golden_phone"),
          r.getAs[String]("golden_alias"), r.getAs[Int]("golden_nation")))
      .toMap
    assert(got(1L) == ((3L, "p-b", "ABCD", 12)))
    assert(got(2L) == ((2L, "a-1", "ZZ", 7)))
  }

  test("winnow kernel ≡ the two-window DataFrame formulation (the SQL the oracle replays)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the kernel fuses gram hashing + window minima + max-of-mins selection
    // + per-doc dedup; this reference is the literal DataFrame spelling of
    // the oracle's SQL — equality here is what licenses the fused form
    val k = 4; val w = 8
    val docs = (1L to 40L).map { id =>
      val toks = (0 until (id % 37 + 3).toInt).map(t => s"w${(id * 31 + t * 7) % 59}")
      (id, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("_i"))
    val reference = docs
      .withColumn("_ws", split(col("text"), " "))
      .withColumn("_gl", when(size(col("_ws")) >= k, expr(
        s"transform(sequence(1, size(_ws) - ${k - 1})," +
          s" i -> CAST(conv(substring(md5(CAST(concat('wfp:'," +
          s" concat_ws(' ', slice(_ws, i, $k))) AS binary)), 1, 15), 16, 10)" +
          s" AS bigint))"))
        .otherwise(expr("CAST(array() AS array<bigint>)")))
      .select(col("doc_id"), posexplode(col("_gl")).as(Seq("_i", "_h")))
      .withColumn("_wmin", min(col("_h")).over(W.rowsBetween(0, w - 1)))
      .withColumn("_selmax", max(col("_wmin")).over(W.rowsBetween(-(w - 1), 0)))
      .filter(col("_selmax") === col("_h"))
      .select(col("doc_id"), col("_h").as("fp")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kernel = graft.ext.Dedup.winnowedFingerprints(docs, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kernel == reference)
    assert(kernel.nonEmpty)
  }

  test("gopher rules: each screen fires on its planted violation") {
    val fifty = (1 to 48).map(i => s"word$i").mkString(" ") // 48 filler words, mean len ~5.7
    val fix = Seq(
      // 0: clean doc — 50 words incl. two stopwords, all alpha, no symbols
      (0L, s"the of $fifty"),
      // 1: too short (3 words)
      (1L, "the of cat"),
      // 2: symbol-heavy — '#' once per word on 50 words fails sym*10<=n
      (2L, s"the of $fifty ${"# # # # # # # #"}"),
      // 3: numeric words — <80% alphabetic
      (3L, s"the of ${(1 to 48).map(_.toString).mkString(" ")}"),
      // 4: no stopwords
      (4L, (1 to 50).map(i => s"w$i").mkString(" ")),
      // 5: bullet + ellipsis lines (3 lines: all bulleted, 1 ellipsis-ended)
      (5L, s"• the of $fifty\n- more...\n- words"),
      // 6: mean word length too long (every word 12 chars)
      (6L, s"the of ${(1 to 48).map(_ => "abcdefghijkl").mkString(" ")}")
    ).toDF("doc_id", "text")
    val out = TextOps.gopherRules(fix, "doc_id", "text")
      .orderBy("doc_id").collect()
    def flags(i: Int) = Seq("pass_words", "pass_mwl", "pass_symbol",
      "pass_lines", "pass_alpha", "pass_stop", "keep").map(out(i).getAs[Int])
    assert(flags(0) == Seq(1, 1, 1, 1, 1, 1, 1))
    assert(out(1).getAs[Int]("pass_words") == 0 && out(1).getAs[Int]("keep") == 0)
    assert(out(2).getAs[Int]("pass_symbol") == 0)
    assert(out(3).getAs[Int]("pass_alpha") == 0)
    assert(out(4).getAs[Int]("pass_stop") == 0)
    assert(out(5).getAs[Int]("pass_lines") == 0, "3/3 bulleted lines")
    assert(out(6).getAs[Int]("pass_mwl") == 0)
    // bp columns replay their integer definitions on doc 5
    assert(out(5).getAs[Long]("bullet_bp") == 10000L)
    assert(out(5).getAs[Long]("ellipsis_bp") == 1L * 10000 / 3)
  }

  test("dedup yield: keeper credit crosses sources, zero-yield mirror reports, totals conserve") {
    val fix = Seq(
      (0L, "orig", "alpha beta gamma"),
      (1L, "orig", "delta epsilon"),
      (2L, "other", "unique words here today"),
      // mirror: byte-copies of orig's docs at higher ids — every keeper
      // is in orig, so mirror must report at zero yield
      (10L, "mirror", "alpha beta gamma"),
      (11L, "mirror", "delta  epsilon") // ws-normalized dup of doc 1
    ).toDF("doc_id", "source", "text")
    val out = Dedup.dedupYield(fix, "source", "doc_id", "text")
      .orderBy("source").collect()
    val bySrc = out.map(r => r.getString(0) -> r).toMap
    assert(bySrc("mirror").getAs[Long]("kept_docs") == 0L)
    assert(bySrc("mirror").getAs[Long]("token_yield_bp") == 0L)
    assert(bySrc("mirror").getAs[Long]("dup_doc_bp") == 10000L)
    assert(bySrc("orig").getAs[Long]("kept_docs") == 2L)
    assert(bySrc("orig").getAs[Long]("dup_doc_bp") == 0L)
    assert(bySrc("other").getAs[Long]("token_yield_bp") == 10000L)
    // conservation: kept docs across sources = distinct normalized texts
    assert(out.map(_.getAs[Long]("kept_docs")).sum == 3L)
    assert(out.map(_.getAs[Long]("n_docs")).sum == 5L)
  }

  test("domain quality: majority-keep fires per domain; failure rates are exact bp") {
    val good = (1 to 48).map(i => s"word$i").mkString(" ")
    val fix = Seq(
      // domain A: 2 passing docs, 1 too-short doc → 6667 bp keep, kept
      (0L, "a.com", s"the of $good"),
      (1L, "a.com", s"the of $good"),
      (2L, "a.com", "the of cat"),
      // domain B: 2 short docs, 1 passing → 3333 bp keep, dropped
      (3L, "b.com", "the of dog"),
      (4L, "b.com", "the of bird"),
      (5L, "b.com", s"the of $good")
    ).toDF("doc_id", "source", "text")
    val out = TextOps.domainQuality(fix, "source", "doc_id", "text")
      .orderBy("source").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("a.com", "b.com"))
    assert(out(0).getAs[Long]("n_docs") == 3L)
    assert(out(0).getAs[Long]("fail_words_bp") == 1L * 10000 / 3)
    assert(out(0).getAs[Long]("keep_bp") == 2L * 10000 / 3)
    assert(out(0).getAs[Int]("domain_keep") == 1)
    assert(out(1).getAs[Long]("fail_words_bp") == 2L * 10000 / 3)
    assert(out(1).getAs[Int]("domain_keep") == 0)
  }

  test("truncated recall: full width is the 10000 anchor; zero-padded tails are lossless") {
    // 20 vectors whose dims 4..7 are ALL ZERO: truncating to 4 dims loses
    // nothing, so every width >= 4 must reproduce the full-dim top-k
    val vecs = (0L until 20L).map { i =>
      (i, Array(math.sin(i * 1.7).toFloat, math.cos(i * 0.9).toFloat,
        (i % 5).toFloat / 5f, ((i * 3) % 7).toFloat / 7f, 0f, 0f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val out = Similarity.truncatedRecallAudit(vecs,
        vecs.filter(col("vec_id") < 4), "vec_id", "embedding",
        k = 3, dims = Seq(2, 4, 8))
      .orderBy("trunc_dim").collect()
    assert(out.map(_.getAs[Long]("trunc_dim")).toSeq == Seq(2L, 4L, 8L))
    // every width retrieves exactly queries*k rows and recall is a valid bp
    out.foreach { r =>
      assert(r.getAs[Long]("n_retrieved") == 4L * 3L)
      val bp = r.getAs[Long]("recall_bp")
      assert(bp >= 0L && bp <= 10000L)
      assert(bp == r.getAs[Long]("hits") * 10000L / r.getAs[Long]("n_retrieved"))
    }
    assert(out(1).getAs[Long]("recall_bp") == 10000L, "width 4 is lossless here")
    assert(out(2).getAs[Long]("recall_bp") == 10000L, "full width is the anchor")
  }

  test("margin mining demotes the hub: best-margin partner differs from best-cosine") {
    // 2-D construction: target h sits at 30° — the closest tgt to src x1
    // by RAW cosine (0.866 vs 0.799) but close to every src (bwd mean
    // ≈ 0.916); target s at −37° is close ONLY to x1 (bwd mean ≈ 0.47).
    // margin(x1, s) ≈ 1.23 beats margin(x1, h) ≈ 0.99 — the Artetxe &
    // Schwenk hub correction, hand-checked
    val src = Seq(
      (0L, Array(1.0f, 0.0f)),
      (2L, Array(0.7071f, 0.7071f)),
      (4L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val tgt = Seq(
      (1L, Array(0.866f, 0.5f)),    // hub
      (3L, Array(0.799f, -0.601f))  // specialist for x1
    ).toDF("vec_id", "embedding")
    val out = Similarity.marginMine(src, tgt, "vec_id", "embedding", k = 2)
      .collect().map(r => r.getAs[Long]("query_id") -> r).toMap
    assert(out.size == 3, "exactly one best partner per source vector")
    val x1 = out(0L)
    assert(x1.getAs[Long]("cand_id") == 3L, "margin must pick the specialist")
    assert(x1.getAs[Double]("sim") < 0.866, "which raw cosine would not")
    assert(x1.getAs[Double]("margin") > 1.05 && x1.getAs[Int]("accepted") == 1)
    // flag consistency everywhere
    out.values.foreach { r =>
      assert((r.getAs[Double]("margin") >= 1.05) == (r.getAs[Int]("accepted") == 1))
    }
  }

  test("knn label vote: majority wins; one-vote ties break to the smallest label") {
    val labeled = Seq(
      (0L, Array(1.0f, 0.0f), 2),
      (2L, Array(0.995f, 0.0998f), 2),
      (4L, Array(0.9f, 0.436f), 1),
      (6L, Array(0.0f, 1.0f), 9)).toDF("vec_id", "embedding", "label")
    val probes = Seq(
      (1L, Array(0.99f, 0.14f), 2), // 3-NN = {0, 2, 4} → votes 2:2, 1:1
      (3L, Array(0.0f, 1.0f), 1)    // 3-NN = {6, 4, 2} → three 1-vote labels
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(labeled, probes, "vec_id", "embedding",
        "label", k = 3)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    // null-label exclusion: an unlabeled vector sitting closer than every
    // labeled one must neither vote nor occupy a neighbor slot
    val withNull = labeled.unionByName(
      Seq((8L, Array(0.99f, 0.14f), Option.empty[Int]))
        .toDF("vec_id", "embedding", "label"))
    val out2 = Similarity.knnClassify(withNull, probes, "vec_id", "embedding",
        "label", k = 3)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out2.keySet == out.keySet &&
      out.keySet.forall(k => out2(k).toString == out(k).toString))
    assert(out(1L).getAs[Long]("pred_label") == 2L)
    assert(out(1L).getAs[Long]("n_votes") == 2L)
    assert(out(1L).getAs[Int]("correct") == 1)
    // probe 3: labels {9, 1, 2} one vote each → smallest label 1 wins
    assert(out(3L).getAs[Long]("pred_label") == 1L)
    assert(out(3L).getAs[Long]("n_votes") == 1L)
    assert(out(3L).getAs[Int]("correct") == 1)
  }

  test("hard negatives: dups above the ceiling never leak; hardest in-band wins") {
    // anchor 0 has a near-dup (1, cos≈1) above the 0.45 ceiling, a hard
    // negative (3, cos≈0.39 in band) and an easy one (5, cos≈0.09)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.999f, 0.045f)),   // near-dup — must NOT appear
      (3L, Array(0.92f, 2.17f)),     // cos ≈ 0.39 — the hard negative
      (5L, Array(0.09f, 1.0f))       // cos ≈ 0.09 — easy
    ).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 2, ceil = 0.45)
      .orderBy(col("rank")).collect()
    assert(out.map(_.getAs[Long]("cand_id")).toSeq == Seq(3L, 5L),
      "band-filtered, hardest first")
    assert(out.forall(r => r.getAs[Double]("sim") < 0.45 &&
      r.getAs[Double]("sim") >= 0.0))
    // the floor excludes easy negatives when raised
    val floored = Similarity.hardNegatives(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 2, ceil = 0.45, floor = 0.2).collect()
    assert(floored.map(_.getAs[Long]("cand_id")).toSeq == Seq(3L))
  }

  test("LCP kernel: code-point exact, multibyte-safe, caps at shorter string") {
    import org.apache.spark.unsafe.types.UTF8String
    def lcp(a: String, b: String) = graft.functions.LcpPrefixKernel.compute(
      UTF8String.fromString(a), UTF8String.fromString(b))
    assert(lcp("abcd", "abxy") == 2)
    assert(lcp("abc", "abc") == 3)
    assert(lcp("abc", "abcdef") == 3, "caps at the shorter string")
    assert(lcp("", "abc") == 0 && lcp("x", "y") == 0)
    // multibyte: é is 2 bytes; common prefix "aé" = 2 code points
    assert(lcp("aéx", "aéy") == 2)
    // ÿ (C3 BF) vs é (C3 A9) share their FIRST byte — a divergence inside
    // a multibyte sequence must not count a partial code point
    assert(lcp("aÿ", "aé") == 1)
    assert(lcp("日本語x", "日本語y") == 3)
  }

  test("suffix array: two-phase rank ≡ global sort; planted exact repeat " +
       "surfaces with its span; window-free rank is partition-invariant") {
    import graft.ext.SuffixArray
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an utterly different sentence with no overlap at all"),
      (3L, "said the quick brown fox jumps over the lazy dog again")
    ).toDF("doc_id", "text")
    val sa = SuffixArray.suffixArrayK(docs, "doc_id", "text", k = 64).collect()
    // the rank IS the (prefix, doc, off) sort position — replay in-JVM
    val byRank = sa.sortBy(_.getAs[Long]("rank"))
    val sorted = sa.sortBy(r => (r.getAs[String]("prefix"),
      r.getAs[Long]("doc_id"), r.getAs[Long]("off")))
    assert(byRank.map(_.toString).toSeq == sorted.map(_.toString).toSeq)
    assert(byRank.map(_.getAs[Long]("rank")).toSeq ==
      (1L to sa.length.toLong), "ranks are dense from 1")
    // offsets index the text exactly: every suffix prefix is substring(text, off)
    val texts = Map(1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "an utterly different sentence with no overlap at all",
      3L -> "said the quick brown fox jumps over the lazy dog again")
    sa.foreach { r =>
      val t = texts(r.getAs[Long]("doc_id"))
      val off = r.getAs[Long]("off").toInt
      assert(t.substring(off - 1).take(64) == r.getAs[String]("prefix"))
    }
    // the planted 44-char shared span surfaces exactly once, cross-doc
    val spans = SuffixArray.exactRepeatedSpans(docs, "doc_id", "text",
      minLen = 40, k = 64).collect()
    assert(spans.exists(r => r.getAs[String]("span") ==
      "the quick brown fox jumps over the lazy dog "),
      s"planted span missing from: ${spans.mkString("; ")}")
    assert(spans.forall(r => r.getAs[Long]("doc_a") != r.getAs[Long]("doc_b")))
    // partition invariance: rank assignment is independent of input splits
    val sa1 = SuffixArray.suffixArrayK(docs.repartition(7), "doc_id", "text", 64)
      .collect().map(_.toString).sorted.toSeq
    assert(sa1 == sa.map(_.toString).sorted.toSeq)
    // q173 composition: exact pairs through the rewrite machinery strip
    // the shared run from the HIGHER-id doc only
    val pairs = SuffixArray.exactRepeatedSpans(docs, "doc_id", "text", 40, 64)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b")).distinct()
    val rw = Dedup.removeSharedSpans(docs, pairs, "doc_id", "text",
        minRun = 4, maxPairsPerDoc = Some(4))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rw.keySet == Set(3L), "only the higher-id pair member rewrites")
    assert(rw(3L).getAs[Long]("n_removed") == 9L,
      "the 9 tokens of the shared run go")
    assert(rw(3L).getAs[Long]("n_tokens") == 11L)
  }

  test("histogramDrift: hand-computed TV in bp; identity = 0; disjoint " +
       "supports = 10000; one-sided group = 10000; open top bin") {
    def mk(rows: Seq[(String, Long)]) =
      rows.toDF("g", "v")
    // group G: A = 4 docs in bin0 (v<8), B = 2 in bin0 + 2 in bin1 —
    // p = (1, 0), q = (.5, .5) -> TV = .5 -> 5000 bp
    val a = mk(Seq(("G", 1L), ("G", 2L), ("G", 3L), ("G", 4L),
      ("H", 1L), ("onlyA", 1L),
      // group T: values far beyond the grid land in the OPEN top bin
      ("T", 1L), ("T", 999L)))
    val b = mk(Seq(("G", 1L), ("G", 2L), ("G", 9L), ("G", 10L),
      ("H", 2L), ("onlyB", 1L),
      ("T", 3L), ("T", 12345L)))
    val out = Dedup.histogramDrift(a, b, "g", "v", bins = 4, binWidth = 8L)
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("tv_bp")))).toMap
    assert(out("G") == ((4L, 4L, 5000L)), s"G: ${out("G")}")
    // H: both single docs in bin0 -> identical distributions
    assert(out("H") == ((1L, 1L, 0L)), s"H: ${out("H")}")
    assert(out("onlyA") == ((1L, 0L, 10000L)) &&
      out("onlyB") == ((0L, 1L, 10000L)), "one-sided groups read full drift")
    // T: 999 and 12345 both clamp into bin 3 -> same shape -> 0
    assert(out("T") == ((2L, 2L, 0L)), s"T: ${out("T")}")
  }

  test("histogramDrift: negative values clamp into bin 0 — the grid is " +
       "well-defined and engine-portable for any input (ADVICE r14)") {
    def mk(rows: Seq[(String, Long)]) = rows.toDF("g", "v")
    // A = {-5, -100, 3}: all three land in bin 0 (negatives clamp, 3 div 8
    // = 0); B = {1, 2, 3}: also all bin 0 → identical histograms, TV = 0.
    // Pre-fix, Spark's truncating div sent -5 to bin 0 but -100 to an
    // UNCLAMPED bin -12 while DuckDB's floor div binned them differently
    // again — the operator was only accidentally correct on non-negatives.
    val a = mk(Seq(("N", -5L), ("N", -100L), ("N", 3L)))
    val b = mk(Seq(("N", 1L), ("N", 2L), ("N", 3L)))
    val out = Dedup.histogramDrift(a, b, "g", "v", bins = 4, binWidth = 8L)
      .collect().map(r => (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("tv_bp"))).toSeq
    assert(out == Seq((3L, 3L, 0L)), s"negatives must clamp to bin 0: $out")
    // a negative-vs-positive split that DOES drift: A all in (clamped)
    // bin 0, B all in bin 1 → disjoint supports → 10000 bp exactly
    val out2 = Dedup.histogramDrift(
        mk(Seq(("N", -1L), ("N", -9L))), mk(Seq(("N", 8L), ("N", 15L))),
        "g", "v", bins = 4, binWidth = 8L)
      .collect().map(r => r.getAs[Long]("tv_bp")).toSeq
    assert(out2 == Seq(10000L))
  }

  test("snapshotDiff: add/remove/change/unchanged classified per doc; " +
       "whitespace/case edits are NOT changes; token delta signed exact") {
    val a = Seq(
      (1L, "S", "alpha beta gamma"),        // unchanged
      (2L, "S", "delta epsilon"),           // changed (real edit)
      (3L, "S", "zeta eta theta iota"),     // removed
      (4L, "T", "kappa  Lambda")            // cosmetic edit -> unchanged
    ).toDF("doc_id", "source", "text")
    val b = Seq(
      (1L, "S", "alpha beta gamma"),
      (2L, "S", "delta epsilon APPENDED"),  // +1 token, changed
      (4L, "T", "KAPPA lambda"),            // case+whitespace only
      (5L, "T", "new doc entirely")         // added, 3 tokens
    ).toDF("doc_id", "source", "text")
    val out = Dedup.snapshotDiff(a, b, "source", "doc_id", "text")
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_changed"), r.getAs[Long]("n_unchanged"),
          r.getAs[Long]("token_delta")))).toMap
    // S: doc1 unchanged, doc2 changed (+1 token), doc3 removed (-4)
    assert(out("S") == ((0L, 1L, 1L, 1L, -3L)), s"S: ${out("S")}")
    // T: doc4 normalizes equal (case + double space), doc5 added; token
    // delta: doc4 "kappa  Lambda" splits to 3 cells (empty mid-cell) vs
    // b's 2, so -1; +3 for the added doc -> +2
    assert(out("T") == ((1L, 0L, 0L, 1L, 2L)), s"T: ${out("T")}")
  }

  test("dedupFunnel: each stage removes exactly its planted duplicate class; " +
       "token accounting survives to the paragraph stage") {
    val para = Seq.tabulate(20)(i => s"w$i").mkString(" ") // one full block
    val docs = Seq(
      // src A: doc 2 is an EXACT copy of doc 1 -> dies at the exact stage
      (1L, "A", para + " unique tail alpha beta gamma delta epsilon zeta"),
      (2L, "A", para + " unique tail alpha beta gamma delta epsilon zeta"),
      // src B: doc 4 appends one word to doc 3 — NOT an exact dup (the
      // fingerprint normalizes case, so a case edit would die at the
      // exact stage!), but the appended shingles don't displace any of
      // the 8 minhash mins -> same bands -> dies at the fuzzy stage
      (3L, "B", Seq.tabulate(24)(i => s"b$i").mkString(" ")),
      (4L, "B", Seq.tabulate(24)(i => s"b$i").mkString(" ") + " extrazz"),
      // src C: doc 5 repeats doc 1's opening block -> loses those 20
      // TOKENS (not the doc) at the paragraph stage
      (5L, "C", para + " " + Seq.tabulate(20)(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = Dedup.dedupFunnel(docs, "source", "doc_id", "text",
        blockWords = 20)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val a = out("A")
    assert(a.getAs[Long]("n_raw_docs") == 2L &&
      a.getAs[Long]("n_exact_docs") == 1L &&
      a.getAs[Long]("n_fuzzy_docs") == 1L, "exact twin dies first")
    val b = out("B")
    assert(b.getAs[Long]("n_exact_docs") == 2L &&
      b.getAs[Long]("n_fuzzy_docs") == 1L,
      s"near-dup survives exact, dies fuzzy: $b")
    val c = out("C")
    assert(c.getAs[Long]("n_fuzzy_docs") == 1L)
    // doc 5 keeps its doc but loses the 20-token opening block to doc 1's
    // surviving copy: 40 raw tokens -> 20 after the paragraph stage
    assert(c.getAs[Long]("tokens_raw") == 40L &&
      c.getAs[Long]("tokens_para") == 20L &&
      c.getAs[Long]("token_yield_bp") == 5000L, s"token accounting: $c")
  }

  test("dedupFunnel keep-best keeper: constant quality ≡ default keeper " +
       "verdict-for-verdict; quality flips the fuzzy survivor (ADVICE/" +
       "verdict r14 task #6)") {
    // LAW on the real corpus: constant quality degenerates to keep-band-min
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val base = Dedup.dedupFunnel(docs, "source", "doc_id", "text")
    val const = Dedup.dedupFunnel(docs.withColumn("q", lit(1.0)),
      "source", "doc_id", "text", qualityCol = Some("q"))
    assert(canon(const) == canon(base))
    // planted band pair where the HIGHER id is the better (longer) doc:
    // default keeps doc 3 (min id, 24 tokens); keep-best keeps doc 4
    // (25 tokens) — same doc yield, strictly higher token yield
    val pair = Seq(
      (3L, "B", Seq.tabulate(24)(i => s"b$i").mkString(" ")),
      (4L, "B", Seq.tabulate(24)(i => s"b$i").mkString(" ") + " extrazz")
    ).toDF("doc_id", "source", "text")
      .withColumn("q", size(graft.ext.TextOps.tokens(col("text"))).cast("long"))
    def fuzzyToks(qc: Option[String]) =
      Dedup.dedupFunnel(pair, "source", "doc_id", "text", qualityCol = qc)
        .head()
    val dflt = fuzzyToks(None)
    val best = fuzzyToks(Some("q"))
    assert(dflt.getAs[Long]("n_fuzzy_docs") == 1L &&
      best.getAs[Long]("n_fuzzy_docs") == 1L)
    assert(dflt.getAs[Long]("tokens_fuzzy") == 24L, s"min-id keeper: $dflt")
    assert(best.getAs[Long]("tokens_fuzzy") == 25L,
      s"keep-best must ship the longer representative: $best")
    // null quality ranks worst: nulling the better doc's score hands the
    // neighborhood back to the scored one
    val nulled = pair.withColumn("q",
      when(col("doc_id") === 4L, lit(null).cast("long")).otherwise(col("q")))
    val n = Dedup.dedupFunnel(nulled, "source", "doc_id", "text",
      qualityCol = Some("q")).head()
    assert(n.getAs[Long]("tokens_fuzzy") == 24L,
      s"null quality must lose to any real score: $n")
  }

  test("dedupFunnel keep-best keeper applies at the EXACT stage too: exact " +
       "twins with differing (non-text-derived) quality keep the best one " +
       "(ADVICE r15)") {
    // quality here is a source-level prior (arbitrary user column), NOT
    // text-derived: exact twins 1 and 3 share text T but doc 3 carries the
    // better score. The exact-stage survivor then duels doc 2 (a near-dup
    // of T in another source, mid quality) at the fuzzy stage — so WHICH
    // twin survived the exact stage is observable in the per-source fuzzy
    // counts: keeper ⇒ doc 3 (0.9) survives and beats doc 2 (0.5) ⇒
    // A keeps its doc, B loses its. Keep-min-id would ship doc 1 (0.2),
    // which LOSES to doc 2 — flipping both sources' verdicts.
    val t = Seq.tabulate(24)(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, "A", t, 0.2),
      (3L, "A", t, 0.9),
      (2L, "B", t + " extrazz", 0.5)
    ).toDF("doc_id", "source", "text", "q")
    val out = Dedup.dedupFunnel(docs, "source", "doc_id", "text",
        qualityCol = Some("q"))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(out("A").getAs[Long]("n_exact_docs") == 1L, "twins merge at exact")
    assert(out("A").getAs[Long]("n_fuzzy_docs") == 1L &&
      out("B").getAs[Long]("n_fuzzy_docs") == 0L,
      s"the BEST-quality exact twin must be the one reaching the fuzzy " +
      s"duel: A=${out("A")} B=${out("B")}")
  }

  test("prototypicalityPrune: outlier ranks hardest, near-prototype ranks " +
       "last, identical vectors tie by id, null labels excluded") {
    // label 7: two near-identical vectors + one outlier; label 8: three
    // exact twins (pure id tie-break); label null: excluded
    val emb = Seq(
      (1L, Array(1.0f, 1.0f, 0.0f, 0.0f), Some(7)),
      (2L, Array(1.0f, 0.9f, 0.0f, 0.0f), Some(7)),
      (3L, Array(-1.0f, -1.0f, 0.5f, 0.5f), Some(7)), // outlier
      (10L, Array(0.5f, 0.5f, 0.5f, 0.5f), Some(8)),
      (11L, Array(0.5f, 0.5f, 0.5f, 0.5f), Some(8)),
      (12L, Array(0.5f, 0.5f, 0.5f, 0.5f), Some(8)),
      (99L, Array(9.0f, 9.0f, 9.0f, 9.0f), None: Option[Int])
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.prototypicalityPrune(emb, "vec_id", "embedding",
        "label", keepBp = 6000L)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("rank_hard"), r.getAs[Long]("pct_bp"),
          r.getAs[Boolean]("kept")))).toMap
    assert(!out.contains(99L), "null label excluded")
    assert(out(3L)._1 == 1L, "the outlier is the hardest example")
    assert(out(3L) == ((1L, 3333L, true)), "1/3 -> 3333 bp, kept at 6000")
    // vectors 1 and 2 are both near the prototype; ranks 2 and 3 in some
    // distance order; the last (most prototypical) is dropped at 6000 bp
    assert(Set(out(1L)._1, out(2L)._1) == Set(2L, 3L))
    // with n = 3 the percentiles land at 3333/6666/10000 bp: only rank 1
    // clears keepBp = 6000 (the integer grid is conservative — a rank
    // keeps only if its FULL percentile fits under the budget)
    assert(out.count { case (id, (_, _, k)) =>
      Seq(1L, 2L, 3L).contains(id) && !k } == 2,
      "ranks 2 and 3 of label 7 drop at the 6000 bp budget")
    // exact twins: zero distance for all three -> pure id order
    assert(out(10L) == ((1L, 3333L, true)) && out(11L) == ((2L, 6666L, false))
      && out(12L) == ((3L, 10000L, false)),
      s"deterministic id tie-break: ${Seq(out(10L), out(11L), out(12L))}")
  }

  test("codeSwitchAudit: planted bilingual doc flags mixed; priority " +
       "tie-break; unknown floor; exact bp division") {
    // blockWords = 4 → each 4-word block language-IDs independently
    val docs = Seq(
      (1L, "the fast and slow el la los datos the a or and"), // en,es,en
      (2L, "el la datos y der die das und"),                  // es,de
      (3L, "qqq www eee rrr"),                                // unknown
      (4L, "the el qq ww")                                    // 1-1 tie -> en
    ).toDF("doc_id", "text")
    val out = TextOps.codeSwitchAudit(docs, "doc_id", "text", blockWords = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_blocks"), r.getAs[String]("dom_lang"),
          r.getAs[Long]("dom_bp"), r.getAs[Long]("n_langs")))).toMap
    assert(out(1L) == ((3L, "en", 6666L, 2L)),
      s"2/3 en blocks -> 6666 bp, mixed: ${out(1L)}")
    assert(out(2L) == ((2L, "es", 5000L, 2L)),
      "es/de 1-1 block tie -> priority order picks es (higher rank)")
    assert(out(3L) == ((1L, "unknown", 10000L, 0L)),
      "zero markers -> unknown, n_langs 0")
    assert(out(4L) == ((1L, "en", 10000L, 1L)),
      "within-block marker-count tie -> en by priority")
  }

  test("splitLeakageAudit: planted cross-split near-dup confirms at the " +
       "integer threshold; same-split twins never pair; clean eval doc absent") {
    val t = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val docs = Seq(
      (10L, t, true),                           // eval doc
      (3L, t.replace("omega", "OMEGA"), false), // train near-dup -> leak
      (20L, t, true),                           // eval twin of 10: same split
      (30L, "totally different words with no trigram overlap at all " +
        "here and more filler tokens to clear the shingle floor", true),
      (5L, "another unrelated training document with its own trigrams " +
        "spread across enough words to shingle", false)
    ).toDF("doc_id", "text", "is_test")
    val out = Dedup.splitLeakageAudit(docs, "doc_id", "text", "is_test")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_candidates"), r.getAs[Long]("n_leaks"),
          r.getAs[Long]("max_jac_bp")))).toMap
    // eval 10 vs train 3: 24 words -> 22 trigrams each; 'omega' is the
    // LAST word, so exactly ONE trigram (the trailing window) differs ->
    // shared = 21, union = 22 + 22 - 21 = 23; 2*21 >= 23 -> leak;
    // bp = 210000 div 23 = 9130
    assert(out.contains(10L), s"planted leak missing: $out")
    assert(out(10L) == ((1L, 1L, 9130L)),
      s"exact integer replay failed: ${out(10L)}")
    // doc 20 duplicates doc 10 EXACTLY but both are eval-side: the audit
    // must not pair within a split, so 20's only possible partner is 3
    assert(out.get(20L).forall(_._1 == 1L),
      "eval-eval twins must not appear as candidates")
    assert(!out.contains(30L), "clean eval doc reports nothing")
  }

  test("paragraphDedup: global first occurrence wins, within-doc repeats " +
       "collapse, trailing partials participate, fully-duplicated doc " +
       "empties to md5('')") {
    // blockWords = 3; doc 1 owns blocks A=(a b c), B=(d e f); doc 2 repeats
    // A twice plus a trailing partial (g); doc 3 is entirely A+B → empties
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c a b c g"),
      (3L, "a b c d e f")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text", blockWords = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_blocks"), r.getAs[Long]("n_removed"),
          r.getAs[String]("kept_fp")))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((2L, 0L, md5hex("a b c d e f"))),
      "first occurrences keep everything")
    // doc 2: both 'a b c' blocks lose to doc 1's (global first); the
    // trailing 1-word partial block 'g' is unique and survives
    assert(out(2L) == ((3L, 2L, md5hex("g"))))
    assert(out(3L) == ((2L, 2L, md5hex(""))),
      "a fully-duplicated doc reports md5 of the empty string")
  }

  test("crossSetMaxLcp ≡ brute-force longest shared word-start substring: " +
       "planted spans, randomized corpus, partition-boundary stitching") {
    import graft.ext.SuffixArray
    // in-JVM ground truth: max over (corpus word-start, bench word-start)
    // pairs of the common-prefix length of the k-capped suffixes
    def wordStarts(t: String): Seq[Int] = {
      val b = Seq.newBuilder[Int]; b += 0
      var i = t.indexOf(' ')
      while (i >= 0) { b += i + 1; i = t.indexOf(' ', i + 1) }
      b.result().filter(o => o < t.length && t.charAt(o) != ' ')
    }
    def cpl(a: String, b: String): Int = {
      val n = math.min(a.length, b.length); var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      i
    }
    def brute(corpus: Seq[(Long, String)], bench: Seq[String], minLen: Int,
              k: Int): Map[Long, (Long, String, Long)] =
      corpus.flatMap { case (id, t) =>
        val bests = wordStarts(t).map { o =>
          val suf = t.substring(o).take(k)
          val best = (for (bt <- bench; bo <- wordStarts(bt))
            yield cpl(suf, bt.substring(bo).take(k))).foldLeft(0)(math.max)
          (best.toLong, suf.take(best))
        }.filter(_._1 >= minLen)
        if (bests.isEmpty) None
        else Some(id -> (bests.max._1, bests.max._2, bests.size.toLong))
      }.toMap
    def run(corpus: Seq[(Long, String)], bench: Seq[(Long, String)],
            minLen: Int): Map[Long, (Long, String, Long)] =
      SuffixArray.crossSetMaxLcp(
          (corpus.map { case (i, t) => (i, t, false) } ++
            bench.map { case (i, t) => (i, t, true) })
            .toDF("doc_id", "text", "is_b").repartition(5),
          "doc_id", "text", "is_b", minLen, k = 64)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("shared_len"), r.getAs[String]("span"),
            r.getAs[Long]("n_hits")))).toMap
    // planted: full copy, partial span, sub-threshold overlap, no overlap
    val bench = Seq(
      100L -> "the quick brown fox jumps over the lazy dog every day",
      101L -> "pack my box with five dozen liquor jugs tonight")
    val corpus = Seq(
      1L -> "the quick brown fox jumps over the lazy dog every day", // full
      2L -> "he said pack my box with five dozen pebbles instead",   // part
      3L -> "a dog every so often naps",                             // short
      4L -> "utterly disjoint text with zero common content")        // none
    val got = run(corpus, bench, minLen = 20)
    val want = brute(corpus, bench.map(_._2), minLen = 20, k = 64)
    assert(got == want, s"got $got\nwant $want")
    assert(got.contains(1L) && got(1L)._1 == 53L, "full copy = full length")
    assert(got.contains(2L) && !got.contains(3L) && !got.contains(4L))
    // randomized stress: small vocab → long accidental shared runs; many
    // input partitions + tiny per-range partitions exercise the bounded
    // carry stitching across every boundary shape (bench-free partitions,
    // bench-at-edge partitions); fixed seed for reproducibility
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd")
    def mkDoc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rCorpus = (0L until 30L).map(i => i -> mkDoc(8 + rnd.nextInt(10)))
    val rBench = (1000L until 1006L).map(i => i -> mkDoc(8 + rnd.nextInt(10)))
    val g2 = run(rCorpus, rBench, minLen = 8)
    val w2 = brute(rCorpus, rBench.map(_._2), minLen = 8, k = 64)
    assert(g2 == w2, {
      val bad = (g2.keySet ++ w2.keySet).filter(k => g2.get(k) != w2.get(k))
      s"diff docs $bad: got ${bad.map(g2.get)}, want ${bad.map(w2.get)}"
    })
    // multibyte: the LCP kernel counts COMPLETE code points and the brute
    // force compares Java chars — BMP-only vocab keeps the two aligned
    // while still exercising divergence inside multibyte sequences
    // (é = C3 A9 vs ÿ = C3 BF share their first UTF-8 byte)
    val rnd2 = new scala.util.Random(7)
    val mbVocab = Vector("éé", "ÿÿ", "日本", "aa")
    def mkMb(n: Int) = Seq.fill(n)(mbVocab(rnd2.nextInt(mbVocab.size))).mkString(" ")
    val mCorpus = (0L until 20L).map(i => i -> mkMb(6 + rnd2.nextInt(8)))
    val mBench = (500L until 504L).map(i => i -> mkMb(6 + rnd2.nextInt(8)))
    val g3 = run(mCorpus, mBench, minLen = 5)
    val w3 = brute(mCorpus, mBench.map(_._2), minLen = 5, k = 64)
    assert(g3 == w3, {
      val bad = (g3.keySet ++ w3.keySet).filter(k => g3.get(k) != w3.get(k))
      s"multibyte diff docs $bad: got ${bad.map(g3.get)}, want ${bad.map(w3.get)}"
    })
    // degenerate sets: no benchmark -> nothing can contaminate; an
    // all-benchmark corpus has no corpus rows to report
    assert(run(corpus, Seq.empty, minLen = 20).isEmpty,
      "empty benchmark yields an empty audit")
    assert(run(Seq.empty, bench, minLen = 20).isEmpty,
      "all-benchmark input yields an empty audit")
  }

  test("auditShard ≡ crossSetMaxLcp restricted to the shard: real corpus, " +
       "randomized stress, parquet round-trip of the persisted index") {
    import graft.ext.SuffixArray
    // LAW on the real corpus: auditing ONE shard against the persisted
    // bench index reproduces exactly the full rebuild's report rows for
    // that shard's docs — other shards never influence a verdict (the
    // chain min through interleaved corpus suffixes IS the pairwise lcp)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val full = SuffixArray.crossSetMaxLcp(
        docs.withColumn("is_b", col("doc_id") % 50 === 0),
        "doc_id", "text", "is_b", minLen = 20, k = 64)
      .collect().map(_.toString).sorted.toSeq
    // the index survives a parquet round-trip (no partitioning assumptions)
    val ixDir = java.nio.file.Files.createTempDirectory("graft_contidx").toString
    SuffixArray.contaminationIndex(bench, "doc_id", "text", k = 64)
      .write.mode("overwrite").parquet(ixDir)
    val index = spark.read.parquet(ixDir)
    // shards tile the NON-bench corpus (a pipeline never audits the
    // benchmark against itself — crossSetMaxLcp likewise reports only
    // non-bench docs)
    val shards = Seq(0, 1, 2).map(r =>
      col("doc_id") % 3 === r && col("doc_id") % 50 =!= 0)
    val audited = shards.flatMap { cut =>
      SuffixArray.auditShard(index, docs.filter(cut), "doc_id", "text",
          minLen = 20, k = 64)
        .collect().map(_.toString)
    }.sorted
    val fullNonBench = full // crossSetMaxLcp reports non-bench docs only
    assert(audited.nonEmpty && audited == fullNonBench,
      s"shard audits must tile the full rebuild: ${audited.size} vs ${fullNonBench.size}")
    // randomized stress vs the same in-JVM brute force shape the q176 law
    // uses — small vocab forces long accidental runs across many partition
    // boundary shapes
    def wordStarts(t: String): Seq[Int] = {
      val b = Seq.newBuilder[Int]; b += 0
      var i = t.indexOf(' ')
      while (i >= 0) { b += i + 1; i = t.indexOf(' ', i + 1) }
      b.result().filter(o => o < t.length && t.charAt(o) != ' ')
    }
    def cpl(a: String, b: String): Int = {
      val n = math.min(a.length, b.length); var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      i
    }
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("aa", "bb", "cc")
    def mkDoc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rBench = (1000L until 1005L).map(i => i -> mkDoc(6 + rnd.nextInt(8)))
    val rShard = (0L until 25L).map(i => i -> mkDoc(6 + rnd.nextInt(8)))
    val got = SuffixArray.auditShard(
        SuffixArray.contaminationIndex(
          rBench.toDF("doc_id", "text").repartition(4), "doc_id", "text", 64),
        rShard.toDF("doc_id", "text").repartition(7), "doc_id", "text",
        minLen = 6, k = 64)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("shared_len"), r.getAs[String]("span"),
          r.getAs[Long]("n_hits")))).toMap
    val want = rShard.flatMap { case (id, t) =>
      val bests = wordStarts(t).map { o =>
        val suf = t.substring(o).take(64)
        val best = (for ((_, bt) <- rBench; bo <- wordStarts(bt))
          yield cpl(suf, bt.substring(bo).take(64))).foldLeft(0)(math.max)
        (best.toLong, suf.take(best))
      }.filter(_._1 >= 6)
      if (bests.isEmpty) None
      else Some(id -> (bests.max._1, bests.max._2, bests.size.toLong))
    }.toMap
    assert(got == want, {
      val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
      s"diff docs $bad: got ${bad.map(got.get)}, want ${bad.map(want.get)}"
    })
    // degenerate: an empty index contaminates nothing
    assert(SuffixArray.auditShard(
      SuffixArray.contaminationIndex(
        rBench.toDF("doc_id", "text").limit(0), "doc_id", "text", 64),
      rShard.toDF("doc_id", "text"), "doc_id", "text", 6, 64).isEmpty)
  }

  test("auditShardPruned ≡ auditShard: real corpus shards, collision-heavy " +
       "randomized stress, clean shard prunes to an empty audit") {
    import graft.ext.SuffixArray
    // LAW: the broadcast minLen-prefix semi-join never changes a verdict —
    // a true hit's prefix hashes identically (no false negatives) and a
    // collision's _best exits at the rollup filter — so pruned ≡ unpruned
    // row-for-row on the real corpus, for both q187's and q190's shards
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val index = SuffixArray.contaminationIndex(bench, "doc_id", "text", k = 64)
    for (r <- Seq(1, 2)) {
      val shard = docs.filter(col("doc_id") % 5 === r)
      val want = SuffixArray.auditShard(index, shard, "doc_id", "text",
        minLen = 20, k = 64).collect().map(_.toString).sorted.toSeq
      val got = SuffixArray.auditShardPruned(index, shard, "doc_id", "text",
        minLen = 20, k = 64).collect().map(_.toString).sorted.toSeq
      assert(got.nonEmpty && got == want,
        s"shard ≡ $r mod 5: pruned audit must equal unpruned (${got.size} vs ${want.size})")
      // the REWRITE under the same prune: interval sets are identical
      // (every pruned suffix sits below the bar), so the manifests match
      // doc-for-doc including the rebuilt-text md5
      val wantEx = SuffixArray.exciseContaminated(index, shard, "doc_id",
        "text", minLen = 20, k = 64).collect().map(_.toString).sorted.toSeq
      val gotEx = SuffixArray.exciseContaminatedPruned(index, shard,
        "doc_id", "text", minLen = 20, k = 64)
        .collect().map(_.toString).sorted.toSeq
      assert(gotEx == wantEx,
        s"shard ≡ $r mod 5: pruned excise must equal unpruned")
    }
    // randomized small-vocab stress: two-char words make minLen-prefixes
    // collide constantly, exercising the kept-extra-then-filtered path at
    // several bars
    val rnd = new scala.util.Random(4321)
    val vocab = Vector("aa", "bb", "cc")
    def mkDoc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val rBench = (1000L until 1005L).map(i => i -> mkDoc(6 + rnd.nextInt(8)))
    val rShard = (0L until 25L).map(i => i -> mkDoc(6 + rnd.nextInt(8)))
    val rIndex = SuffixArray.contaminationIndex(
      rBench.toDF("doc_id", "text").repartition(4), "doc_id", "text", 64)
    for (minLen <- Seq(2, 5, 8)) {
      val shardDf = rShard.toDF("doc_id", "text").repartition(7)
      val want = SuffixArray.auditShard(rIndex, shardDf, "doc_id", "text",
        minLen, 64).collect().map(_.toString).sorted.toSeq
      val got = SuffixArray.auditShardPruned(rIndex, shardDf, "doc_id",
        "text", minLen, 64).collect().map(_.toString).sorted.toSeq
      assert(got == want, s"minLen=$minLen: pruned ≡ unpruned")
    }
    // a shard sharing NO vocabulary with the bench prunes every suffix
    // map-side and still reports the correct (empty) audit
    val clean = (0L until 10L).map(i =>
      i -> Seq.fill(8)("zz").mkString(" ")).toDF("doc_id", "text")
    assert(SuffixArray.auditShardPruned(rIndex, clean, "doc_id", "text",
      minLen = 4, k = 64).isEmpty, "clean shard yields an empty audit")
    // degenerate: an empty index prunes everything
    assert(SuffixArray.auditShardPruned(
      SuffixArray.contaminationIndex(
        rBench.toDF("doc_id", "text").limit(0), "doc_id", "text", 64),
      rShard.toDF("doc_id", "text"), "doc_id", "text", 6, 64).isEmpty)
  }

  test("exciseContaminated: planted bench spans cut exactly (including a " +
       "run LONGER than k — interval chaining), clean docs verbatim, " +
       "kept_len ≡ n_chars − chars_removed on the real corpus") {
    import graft.ext.SuffixArray
    // bench passage LONGER than k = 64 chars: coverage must chain through
    // interior word-starts to the run's exact end
    val passage = (1 to 20).map(i => s"benchword$i").mkString(" ") // ~220 chars
    assert(passage.length > 64)
    val shortB = "twenty one characters exactly padded here" // > 20 chars
    val bench = Seq((100L, passage), (101L, shortB)).toDF("doc_id", "text")
    val lead = "unique lead material alpha beta"
    val tail = "closing unique trailer gamma"
    val mid = "clean middle segment zz"
    val shard = Seq(
      (1L, s"$lead $passage $tail"),          // long-run excision
      (2L, s"$lead $shortB $mid $shortB $tail"), // two islands, same span
      (3L, "totally clean document with no shared content at all")
    ).toDF("doc_id", "text")
    val out = SuffixArray.exciseContaminated(
        SuffixArray.contaminationIndex(bench, "doc_id", "text", 64),
        shard, "doc_id", "text", minLen = 20, k = 64)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    def expect(text: String, spans: Seq[(Int, Int)]): (Long, String) = {
      // 1-based [s, e) surgery, right to left
      val cleaned = spans.sortBy(-_._1).foldLeft(text) { case (t, (s, e)) =>
        t.substring(0, s - 1) + t.substring(e - 1)
      }
      (spans.map(se => se._2 - se._1).sum.toLong, cleaned)
    }
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1: the passage occupies [lead+2, lead+2+len) 1-based
    val s1 = lead.length + 2
    val (rm1, c1) = expect(s"$lead $passage $tail",
      Seq((s1, s1 + passage.length)))
    assert(out(1L).getAs[Long]("chars_removed") == rm1,
      s"long-run chaining must cover the full ${passage.length}-char run: ${out(1L)}")
    assert(out(1L).getAs[String]("kept_fp") == md5hex(c1))
    // doc 2: two disjoint islands of the short bench span
    val s2a = lead.length + 2
    val s2b = s2a + shortB.length + 1 + mid.length + 1
    val (rm2, c2) = expect(s"$lead $shortB $mid $shortB $tail",
      Seq((s2a, s2a + shortB.length), (s2b, s2b + shortB.length)))
    assert(out(2L).getAs[Long]("n_spans") == 2L &&
      out(2L).getAs[Long]("chars_removed") == rm2, s"${out(2L)}")
    assert(out(2L).getAs[String]("kept_fp") == md5hex(c2))
    // doc 3: untouched
    assert(out(3L).getAs[Long]("chars_removed") == 0L &&
      out(3L).getAs[String]("kept_fp") ==
        md5hex("totally clean document with no shared content at all"))
    // real-corpus invariant: the rebuild is length-consistent everywhere
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = SuffixArray.exciseContaminated(
      SuffixArray.contaminationIndex(
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 64),
      docs.filter(col("doc_id") % 5 === 1), "doc_id", "text", 20, 64)
    assert(corpus.filter(col("kept_len") =!=
      col("n_chars") - col("chars_removed")).count() == 0)
    assert(corpus.filter(col("chars_removed") > 0).count() > 0,
      "fixture must actually excise something")
  }

  test("duplication profile: exact doc-level duplicate profiles at 10000 bp; " +
       "zero-repeat doc kept at 0; bp is integer division; stable across " +
       "actions and input splits") {
    import graft.ext.SuffixArray
    val twin = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, twin),
      (2L, twin),
      (3L, "an utterly different sentence with no overlap at all here"),
      // within-doc repeat: the 34-char phrase occurs twice inside one doc
      (4L, "start marker one two three four five end marker one two three " +
        "four five tail")
    ).toDF("doc_id", "text")
    val prof = SuffixArray.duplicationProfile(docs, "doc_id", "text",
      minLen = 20, k = 64)
    val rows = prof.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L), "every doc keeps a row")
    // LAW: an exact doc-level duplicate is covered end-to-end — successive
    // word-start intervals overlap (gap = word length < lcp) and the union
    // stitches them to [1, len+1), so the profile reads exactly 10000 bp
    Seq(1L, 2L).foreach { id =>
      assert(rows(id).getAs[Long]("chars_dup") == twin.length.toLong,
        s"doc $id should be fully covered")
      assert(rows(id).getAs[Long]("dup_bp") == 10000L)
      assert(rows(id).getAs[Long]("n_islands") == 1L, "one merged island")
    }
    assert(rows(3L).getAs[Long]("chars_dup") == 0L &&
      rows(3L).getAs[Long]("n_islands") == 0L &&
      rows(3L).getAs[Long]("dup_bp") == 0L, "zero-repeat doc kept at zero")
    // within-doc repeats count: both copies of the repeated phrase carry
    // interval mass, and bp replays as exact integer division
    val d4 = rows(4L)
    assert(d4.getAs[Long]("chars_dup") > 0L, "within-doc repeat detected")
    rows.values.foreach { r =>
      assert(r.getAs[Long]("dup_bp") ==
        10000L * r.getAs[Long]("chars_dup") / r.getAs[Long]("n_chars"))
      assert(r.getAs[Long]("chars_dup") <= r.getAs[Long]("n_chars"))
    }
    // REGRESSION GUARD for the materialized-rank fix: the profile must be
    // identical across repeated actions on one frame AND across input
    // splits — the unmaterialized two-subtree ranking could disagree on
    // spark_partition_id between recomputations and silently drop mass
    val again = prof.collect().map(_.toString).sorted.toSeq
    assert(again == rows.values.map(_.toString).toSeq.sorted)
    val split = SuffixArray.duplicationProfile(docs.repartition(7), "doc_id",
        "text", minLen = 20, k = 64)
      .collect().map(_.toString).sorted.toSeq
    assert(split == again, "profile is partition-invariant")
  }

  test("semDeDup keep-best-quality: constant quality ≡ keep-min-id; " +
       "quality flips the keeper; ties degenerate") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("list_id"),
        r.getAs[Boolean]("kept"))).sortBy(_._1).toSeq
    // LAW: with every quality equal, the dominated side of each pair is
    // the larger id — exactly semDeDup's keep-min-id verdicts
    val base = Similarity.semDeDup(emb, "vec_id", "embedding",
      threshold = 0.3, nlist = 8)
    val const = Similarity.semDeDupKeepBest(
      emb.withColumn("q", lit(1.0)), "vec_id", "embedding", "q",
      threshold = 0.3, nlist = 8)
    assert(canon(const) == canon(base))
    // planted pair: two near-identical vectors, the HIGHER id carries the
    // higher quality — keep-best must keep it where keep-min-id would not
    val v = Array.tabulate(4)(i => 1.0f / (i + 1))
    val pair = Seq(
      (0L, v, 0.2), (1L, v.map(x => x * 0.999f), 0.9),
      (2L, Array(-1.0f, 0.5f, -0.25f, 0.125f), 0.5) // far from both
    ).toDF("vec_id", "embedding", "q")
    val out = Similarity.semDeDupKeepBest(pair, "vec_id", "embedding", "q",
        threshold = 0.3, nlist = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(!out(0L) && out(1L), "the better document wins regardless of id")
    // quality rides through to the output column
    val qs = Similarity.semDeDupKeepBest(pair, "vec_id", "embedding", "q",
        threshold = 0.3, nlist = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("quality")).toMap
    assert(qs(1L) == 0.9 && qs(0L) == 0.2)
  }

  test("ivfMaintenanceAudit: an identically-distributed shard drifts 0 bp; " +
       "a concentrated shard drifts only where it lands; untouched lists " +
       "stay in the report at n_new = 0") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // LAW: a shard that is the index itself (values identical, ids
    // shifted out of the way) assigns identically list-for-list — equal
    // occupancies, zero share drift everywhere
    val clone = emb.withColumn("vec_id", col("vec_id") + 1000000L)
    val same = Similarity.ivfMaintenanceAudit(emb, clone,
        "vec_id", "embedding", nlist = 8)
      .collect()
    assert(same.length == 8)
    assert(same.forall(r => r.getAs[Long]("n_index") == r.getAs[Long]("n_new")),
      "identical value distribution must occupy identically")
    assert(same.forall(_.getAs[Long]("share_drift_bp") == 0L))
    // a shard of N copies of ONE centroid vector lands entirely in that
    // centroid's list; every other list reports n_new = 0 but stays in
    // the report (and now carries nonzero drift — its share evaporated)
    import spark.implicits._
    val cents = Similarity.ivfMaintenanceAudit(emb,
      emb.limit(0), "vec_id", "embedding", nlist = 8)
      .select(col("list_id")).collect().map(_.getLong(0)).toSet
    val target = cents.min
    val tvec = emb.filter(col("vec_id") === target)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val planted = Seq.tabulate(40)(i => (2000000L + i, tvec))
      .toDF("vec_id", "embedding")
    val conc = Similarity.ivfMaintenanceAudit(emb, planted,
        "vec_id", "embedding", nlist = 8)
      .collect().map(r => r.getAs[Long]("list_id") ->
        ((r.getAs[Long]("n_new"), r.getAs[Long]("share_drift_bp")))).toMap
    assert(conc(target)._1 == 40L, s"all 40 must land on $target: $conc")
    assert(conc.filterKeys(_ != target).values.forall(_._1 == 0L))
    assert(conc(target)._2 > 0L &&
      conc.filterKeys(_ != target).values.forall(_._2 > 0L),
      "total concentration drifts every list's share")
  }

  test("semDeDup keep-best-quality: NULL quality ranks worst — a scored " +
       "document is never dropped in favor of an unscored one (ADVICE r14)") {
    // near-identical pair where the LOWER id has NULL quality and the
    // higher id a real score. Pre-fix, `aq < bq` evaluated to null, the
    // otherwise-branch fired, and the scored side (b) was dropped.
    val v = Array.tabulate(4)(i => 1.0f / (i + 1))
    val pair = Seq(
      (0L, v, Option.empty[Double]),              // unscored duplicate
      (1L, v.map(x => x * 0.999f), Some(0.1)),    // scored — must win
      (2L, Array(-1.0f, 0.5f, -0.25f, 0.125f), Some(0.5))
    ).toDF("vec_id", "embedding", "q")
    val out = Similarity.semDeDupKeepBest(pair, "vec_id", "embedding", "q",
        threshold = 0.3, nlist = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(!out(0L) && out(1L),
      s"null-quality side must lose to the scored side: $out")
    // two null-quality duplicates fall back to the id tie-break (keep-min)
    val bothNull = Seq(
      (10L, v, Option.empty[Double]),
      (11L, v.map(x => x * 0.999f), Option.empty[Double])
    ).toDF("vec_id", "embedding", "q")
    val out2 = Similarity.semDeDupKeepBest(bothNull, "vec_id", "embedding",
        "q", threshold = 0.3, nlist = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("kept")).toMap
    assert(out2(10L) && !out2(11L), s"double-null ties keep the min id: $out2")
  }

  test("IVF generator swap: full-probe ≡ brute for marginMine and knnClassify; " +
       "partial-probe recall accounted") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // LAW: nprobe = nlist probes every list → the IVF candidate set is all
    // non-self pairs, so the whole miner is EXACTLY the brute-force one
    val brute = Similarity.marginMine(src, tgt, "vec_id", "embedding", k = 3)
    val full = Similarity.marginMineIvf(src, tgt, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 4)
    assert(canon(full) == canon(brute))
    // same law through the classifier (label column exists on embeddings)
    val bruteK = Similarity.knnClassify(src, tgt, "vec_id", "embedding",
      "label", k = 3)
    val fullK = Similarity.knnClassifyIvf(src, tgt, "vec_id", "embedding",
      "label", k = 3, nlist = 4, nprobe = 4)
    assert(canon(fullK) == canon(bruteK))
    // RECALL ACCOUNTING (the q152 audit idiom): with nprobe < nlist the
    // shortlist may miss true neighbors — measure the partner agreement
    // instead of asserting it
    val part = Similarity.marginMineIvf(src, tgt, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 1)
    val bRows = brute.collect().map(r =>
      r.getAs[Long]("query_id") -> r.getAs[Long]("cand_id")).toMap
    val pRows = part.collect().map(r =>
      r.getAs[Long]("query_id") -> r.getAs[Long]("cand_id")).toMap
    assert(pRows.nonEmpty && pRows.size <= bRows.size,
      "partial probing never yields more mined sources than brute")
    val agree = pRows.count { case (q, c) => bRows.get(q).contains(c) }
    val agreeBp = agree * 10000L / pRows.size
    assert(agreeBp >= 0L && agreeBp <= 10000L)
    info(s"nprobe=1/4 partner agreement: $agree/${pRows.size} ($agreeBp bp)")
  }
}
