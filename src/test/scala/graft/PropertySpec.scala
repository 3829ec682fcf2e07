package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.etl.Silver
import graft.expr.CleanExprs

/** Property tests (SURVEY.md §5.4): A4 idempotence, U1 monotonicity, E10
  * all-or-nothing invariant — over generated inputs (plain ScalaCheck runner,
  * 10 cases each since every case runs Spark jobs).
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  private val recGen = for {
    id <- Gen.choose(0, 5)
    ts <- Gen.choose(0L, 100L)
    url <- Gen.alphaLowerStr.map(s => s"u_${s.take(4)}")
  } yield (s"A$id", new java.sql.Timestamp(ts * 3600 * 1000), url)

  test("A4: keepNewest is idempotent, keeps max date, one row per key") {
    check(Prop.forAll(Gen.listOfN(30, recGen)) { recs =>
      recs.isEmpty || {
        val df = recs.toDF("auction_id", "auction_date", "auction_url")
        val once = Silver.keepNewest(df).cache()
        val a = once.orderBy("auction_id", "auction_url").collect().toSeq
        val b = Silver.keepNewest(once).orderBy("auction_id", "auction_url").collect().toSeq
        val maxDates = df.groupBy("auction_id").agg(max("auction_date").as("m"))
          .collect().map(r => r.getString(0) -> r.getTimestamp(1)).toMap
        val newestWon = once.collect().forall(r => r.getTimestamp(1) == maxDates(r.getString(0)))
        val unique = once.groupBy("auction_id").count().filter(col("count") > 1).count() == 0
        once.unpersist()
        a == b && newestWon && unique
      }
    })
  }

  test("connected components: star-contraction ≡ label propagation on random graphs") {
    // both paths must agree with a reference union-find on arbitrary edge
    // sets (self-loops and duplicate edges included by generation)
    val edgeGen = for {
      a <- Gen.choose(0L, 24L)
      b <- Gen.choose(0L, 24L)
    } yield (a, b)
    check(Prop.forAll(Gen.nonEmptyListOf(edgeGen)) { edges =>
      val clean = edges.filter { case (a, b) => a != b }
      clean.isEmpty || {
        // driver-side union-find reference
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        clean.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(k => k -> find(k)).toMap
        val pairs = clean.toDF("vec_a", "vec_b")
        def labelsOf(df: org.apache.spark.sql.DataFrame) =
          df.select("vec_id", "cluster_id").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val prop = labelsOf(graft.ext.Dedup.duplicateClusters(pairs, "vec_a", "vec_b"))
        val star = labelsOf(graft.ext.Dedup.duplicateClustersStar(pairs, "vec_a", "vec_b"))
        prop == want && star == want
      }
    })
  }

  test("triangle census: canonical-id orientation ≡ brute force") {
    // the canonical orientation must count the census of a driver-side
    // enumeration over the adjacency sets on arbitrary graphs (hubs,
    // chains, cliques included by generation)
    val edgeGen = for {
      a <- Gen.choose(0L, 14L)
      b <- Gen.choose(0L, 14L)
    } yield (math.min(a, b), math.max(a, b))
    check(Prop.forAll(Gen.nonEmptyListOf(edgeGen)) { edges =>
      val clean = edges.filter { case (a, b) => a != b }.distinct
      clean.isEmpty || {
        val adj = clean.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        // adj(a) is a Set — materialize to Seq or the yield collapses
        // multiple triangles through one edge into a single element
        val want = (for {
          (a, b) <- clean
          c <- adj(a).toSeq if c > b && adj(b).contains(c)
        } yield 1).size.toLong
        val pairs = clean.toDF("vec_a", "vec_b")
        def census(df: org.apache.spark.sql.DataFrame) = {
          val r = df.collect().head
          (r.getLong(0), r.getLong(1), r.getLong(2))
        }
        census(graft.ext.Graph.triangleStats(pairs, "vec_a", "vec_b"))._3 == want
      }
    })
  }

  test("U1: insert-only-new — ids never mutate, keys only grow") {
    val whDir = java.nio.file.Files.createTempDirectory("graft_prop_wh").toString
    val wh = new graft.star.Warehouse(spark, whDir)
    val schema = StructType(Seq(StructField("k", StringType)))
    def candidates(ks: Seq[String]) = spark.createDataFrame(
      new java.util.ArrayList(
        scala.jdk.CollectionConverters.SeqHasAsJava(ks.distinct.map(Row(_))).asJava), schema)
    var seen = Map.empty[String, Long]
    val batches = Seq(Seq("a", "b"), Seq("b", "c", "d"), Seq.empty,
      Seq("a", "d", "e"), Seq("f"), Seq("a", "b", "c", "d", "e", "f"))
    batches.foreach { ks =>
      graft.star.PerDimLoads.insertOnlyNew(wh, "prop_dim", candidates(ks), Seq("k"))
      val now = wh.read("prop_dim").collect().map(r => r.getString(1) -> r.getLong(0)).toMap
      seen.foreach { case (k, id) => assert(now(k) == id, s"id for $k changed") }
      assert(now.keySet.size == now.values.toSet.size, "duplicate surrogate ids")
      assert(seen.keySet.subsetOf(now.keySet), "keys must only grow")
      seen = now
    }
    assert(seen.keySet == Set("a", "b", "c", "d", "e", "f"))
  }

  test("novelty conservation: novel grams sum to the distinct-gram vocabulary") {
    // every distinct n-gram is first-seen in exactly one document, so
    // Σ novel_grams == |distinct grams| — on ANY corpus
    val textGen = Gen.listOfN(8, Gen.listOfN(12,
      Gen.oneOf("a", "b", "c", "d", "e")).map(_.mkString(" ")))
    check(Prop.forAll(textGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val nv = graft.ext.Dedup.ngramNovelty(docs, "doc_id", "text", 3)
      val novelSum = nv.agg(org.apache.spark.sql.functions.sum("novel_grams"))
        .head().getLong(0)
      val vocab = graft.ext.Dedup.explodedShingles(docs, "doc_id", "text", 3)
        .select("sg").distinct().count()
      novelSum == vocab
    })
  }

  test("r12 operators are partition-invariant (planner, backoff LM, KMV CI)") {
    // deterministic-by-construction claims, checked the q21 way: the same
    // input under a different partitioning must give the same rows
    val docs = (0 until 40).map(i =>
      (i.toLong, s"tok${i % 7} tok${(i * 3) % 5} tok${i % 7} tok${(i + 1) % 11} end"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(graft.ext.LshPlanner.planBands(docs, "doc_id", "text")) ==
      rows(graft.ext.LshPlanner.planBands(docs.repartition(13), "doc_id", "text")))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val score = docs.filter(col("doc_id") % 2 === 1)
    assert(rows(graft.ext.Corpus.stupidBackoffScore(train, score, "doc_id", "text")) ==
      rows(graft.ext.Corpus.stupidBackoffScore(
        train.repartition(11), score.repartition(7), "doc_id", "text")))
    val ev = (0 until 300).map(i => (s"g${i % 3}", (i * 17) % 101)).toDF("g", "v")
    assert(rows(graft.ext.Sketch.kmvDistinctCI(ev, "g", "v", k = 16)) ==
      rows(graft.ext.Sketch.kmvDistinctCI(ev.repartition(9), "g", "v", k = 16)))
  }

  test("dHash locality THEOREM: one substitution moves at most 2 bits (pure kernel, 200 cases)") {
    // a single-character substitution changes exactly ONE of the 64
    // balanced segment sums, and a cell value appears in exactly two
    // adjacent comparisons (bit cell−1 and bit cell) — so Hamming ≤ 2 for
    // ANY text and ANY position, provable, and here fuzzed. Kernel-only
    // (no Spark jobs), so the case budget can afford 200.
    import org.apache.spark.unsafe.types.UTF8String
    def dh(s: String) = graft.functions.TextDHashKernel.compute(UTF8String.fromString(s))
    val gen = for {
      n <- Gen.choose(1, 150)
      cs <- Gen.listOfN(n, Gen.alphaNumChar)
      pos <- Gen.choose(0, n - 1)
      c <- Gen.alphaNumChar
    } yield (cs.mkString, pos, c)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(gen) { case (s, pos, c) =>
        val t = s.updated(pos, c)
        java.lang.Long.bitCount(dh(s) ^ dh(t)) <= 2
      })
    assert(res.passed, res.status.toString)
  }

  test("LSH planner S-curve is exact over the full decimal budget (numHashes = 18)") {
    // the b = 1 split needs 100^18 = 10^36 — past the long range at 10
    // hashes; the decimal(38,0) fold plus the 10000·X div 100^n =
    // X div 100^(n−2) cancellation must carry the whole documented budget
    val docs = (0 until 40).map(i =>
      (i.toLong, s"tok${i % 7} tok${(i * 3) % 5} tok${i % 7} tok${(i + 1) % 11} end"))
      .toDF("doc_id", "text")
    val plan = graft.ext.LshPlanner.planBands(docs, "doc_id", "text", numHashes = 18)
      .collect().map(r => r.getAs[Int]("bands") -> r).toMap
    assert(plan.keySet == Set(1, 2, 3, 6, 9, 18)) // the divisor grid of 18
    // hand-computed anchor: b = 1, r = 18, target c = 80 →
    // floor(10^4·80^18/100^18) = floor(10^4·(4/5)^18) = 180
    assert(plan(1).getAs[Long]("p_at_target_bp") == 180L)
    // more bands ⇒ the curve catches pairs earlier: s50 strictly decreasing
    val s50 = Seq(1, 2, 3, 6, 9, 18).map(plan(_).getAs[Long]("s50_centis"))
    assert(s50 == s50.sorted.reverse && s50.distinct == s50)
    assert(plan.values.map(_.getAs[Int]("selected")).sum == 1)
  }

  test("late-r12 operators are partition-invariant (DSIR, dedup yield, domain quality)") {
    // the IEEE-ratio product (DSIR), min-struct keeper (yield) and rule
    // rollup (domain) all claim bit-determinism under any partitioning
    val docs = (0 until 40).map { i =>
      (i.toLong, if (i % 4 == 0) "en" else "de", s"src${i % 5}",
        s"tok${i % 7} the of tok${(i * 3) % 5} tok${i % 11}")
    }.toDF("doc_id", "lang", "source", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(graft.ext.Corpus.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 64)) ==
      rows(graft.ext.Corpus.dsirWeights(docs.repartition(13), "doc_id", "text",
        col("lang") === "en", buckets = 64)))
    assert(rows(graft.ext.Dedup.dedupYield(docs, "source", "doc_id", "text")) ==
      rows(graft.ext.Dedup.dedupYield(docs.repartition(11), "source", "doc_id", "text")))
    assert(rows(graft.ext.TextOps.domainQuality(docs, "source", "doc_id", "text")) ==
      rows(graft.ext.TextOps.domainQuality(docs.repartition(7), "source", "doc_id", "text")))
  }

  test("movingStats conservation: last running total per user == exact group sum") {
    val ev = (1 to 200).map { i =>
      (i.toLong, (i % 7).toLong,
        java.sql.Timestamp.valueOf(f"2024-01-01 ${i % 24}%02d:${i % 60}%02d:00"),
        i * 1.01)
    }.toDF("event_id", "user_id", "ts", "value")
    val ms = graft.ext.TimeSeries.movingStats(ev, "user_id", "ts", "event_id", "value")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      .orderBy(col("rn").desc)
    val lastCum = ms.withColumn("_r", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("_r") === 1).select(col("user_id"), col("cum_sum"))
    val totals = ev.groupBy(col("user_id"))
      .agg(org.apache.spark.sql.functions.sum(col("value").cast("decimal(18,2)"))
        .cast("double").as("tot"))
    assert(lastCum.join(totals, "user_id")
      .filter(col("cum_sum") =!= col("tot")).count() == 0)
    assert(lastCum.count() == 7)
  }

  test("E10: bids parse is all-or-nothing") {
    val bidGen = Gen.listOf(Gen.oneOf(
      Gen.choose(1, 999999).map(n => f"$$$n%,d"),
      Gen.const("garbage")))
    check(Prop.forAll(bidGen) { bids =>
      val out = Seq(Tuple1(bids)).toDF("bids")
        .select(CleanExprs.bidsParse(col("bids")).as("b"))
        .head().getSeq[Long](0)
      if (bids.contains("garbage") || bids.isEmpty) out.isEmpty
      else out.length == bids.length
    })
  }

  test("lineFilter is idempotent: filtering the kept lines keeps them all") {
    val wordGen = Gen.oneOf("alpha", "beta", "the", "cookie", "scan", "xy")
    val lineGen = for {
      n <- Gen.choose(0, 6)
      ws <- Gen.listOfN(n, wordGen)
      punct <- Gen.oneOf("", ".", "!", "")
    } yield ws.mkString(" ") + punct
    val docGen = Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, lineGen))
    check(Prop.forAll(docGen) { lines =>
      val df = Seq(Tuple1(lines.mkString("\n"))).toDF("text")
      val kept = df.select(graft.ext.TextOps.lineFilter(col("text"), 2,
        Seq("cookie")).as("k")).head().getSeq[String](0)
      val kept2 = Seq(Tuple1(kept.mkString("\n"))).toDF("text")
        .select(graft.ext.TextOps.lineFilter(col("text"), 2,
          Seq("cookie")).as("k")).head().getSeq[String](0)
      kept2 == kept
    })
  }

  test("url canonicalization is a fixpoint: canonical(scheme + canonical(u)) == canonical(u)") {
    val urlGen = for {
      scheme <- Gen.oneOf("http", "https", "HTTP")
      www <- Gen.oneOf("", "www.")
      host <- Gen.oneOf("Example.com", "site7.example.com", "a.B.c")
      path <- Gen.oneOf("", "/x", "/x/y/", "/x//")
      q <- Gen.oneOf("", "?utm_source=a", "?id=7&utm_b=1", "?b=2&a=1", "?ref=z&id=3")
      frag <- Gen.oneOf("", "#f")
    } yield s"$scheme://$www$host$path$q$frag"
    check(Prop.forAll(urlGen) { u =>
      val c = Seq(Tuple1(u)).toDF("u")
        .select(graft.ext.Urls.canonical(col("u")).as("c")).head().getString(0)
      val c2 = Seq(Tuple1("https://" + c)).toDF("u")
        .select(graft.ext.Urls.canonical(col("u")).as("c")).head().getString(0)
      c2 == c
    })
  }

  test("cross-corpus candidates ≡ self-join pairs of the union, restricted to cross pairs") {
    import graft.ext.Dedup
    val docs = (0L until 40L).map { i =>
      // planted near-dup structure: groups of 4 share a long common prefix
      val tail = if (i % 4 == 3) s"unique suffix $i entirely different content here" else s"tail $i"
      (i, s"group ${i / 4} shares this long common prefix of many tokens $tail")
    }.toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(docs, "doc_id", "text")
    val newSig = sig.filter(col("doc_id") % 2 === 1)
    val refSig = sig.filter(col("doc_id") % 2 === 0)
    val cross = Dedup.crossCorpusCandidates(newSig, refSig, "doc_id")
      .collect().map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val full = Dedup.lshCandidatePairs(sig, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a % 2 != b % 2 }.toSet
    assert(cross == full)
    assert(cross.nonEmpty, "planted near-dups produced no candidates")
  }

  test("containment join ≡ brute force on random corpora (zero false negatives/positives)") {
    import graft.ext.Dedup
    // random docs over a tiny vocabulary force heavy shingle sharing —
    // the adversarial regime for prefix/positional pruning; include exact
    // copies and prefix-truncations so true containments exist
    val docGen = Gen.listOfN(10, Gen.choose(5, 14).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))))
    check(Prop.forAll(docGen) { texts =>
      val docs = texts.zipWithIndex
        .flatMap { case (t, i) =>
          val id = i.toLong
          // every third doc re-posted whole inside a wrapper document
          if (i % 3 == 0) Seq((id, t), (id + 100L, s"$t extra wrapper tokens w$i x y"))
          else Seq((id, t))
        }.toDF("doc_id", "text")
      val s = Dedup.explodedShingles(docs, "doc_id", "text", 3)
      val counts = s.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val brute = s.as("a").join(s.as("b"),
          col("a.sg") === col("b.sg") && col("a.doc_id") =!= col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_in"), col("b.doc_id").as("doc_out"))
        .agg(count(lit(1)).as("shared"))
        .join(counts.select(col("doc_id").as("doc_in"), col("n").as("na")), "doc_in")
        .filter(lit(10) * col("shared") >= lit(9) * col("na"))
        .select("doc_in", "doc_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fast = Dedup.containmentJoin(docs, "doc_id", "text")
        .select("doc_in", "doc_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      fast == brute
    })
  }

  test("bottom-k sample: any reduce/merge tree over any data split equals direct bottom-k") {
    // the lossless-merge law at the AGGREGATOR level, over arbitrary data
    // and arbitrary fold shapes — the algebraic fact the q113 rollup, the
    // q114 overlap and the streaming twin all stand on (pure Scala: no
    // Spark jobs, so the full default 100 cases run)
    val agg = new graft.ext.BottomKSampleAggregator(8)
    val mrg = new graft.ext.BottomKSampleMergeAggregator(8)
    val pairGen = for {
      h <- Gen.choose(0L, 40L) // narrow domain → ties and duplicates likely
      v <- Gen.choose(-5L, 5L)
    } yield (h, v)
    val p = Prop.forAll(
      Gen.listOf(pairGen), Gen.listOf(pairGen), Gen.listOf(pairGen)) { (a, b, c) =>
      def direct(xs: Seq[(Long, Long)]) = xs.distinct.sorted.take(8)
      def sketch(xs: Seq[(Long, Long)]) = xs.foldLeft(agg.zero)(agg.reduce)
      val viaMerge = agg.merge(agg.merge(sketch(a), sketch(b)), sketch(c))
      val viaMergeAgg = Seq(sketch(a), sketch(b), sketch(c))
        .foldLeft(mrg.zero)(mrg.reduce)
      viaMerge == direct(a ++ b ++ c) && viaMergeAgg == direct(a ++ b ++ c)
    }
    val res = SCTest.check(SCTest.Parameters.default, p)
    assert(res.passed, res.status.toString)
  }

  test("winnowing guarantee: a shared run of >= w+k-1 tokens is detected at ANY alignment") {
    // the SIGMOD '03 theorem the operator stands on: selection depends only
    // on content, so two docs sharing a contiguous token run of length
    // >= w + k - 1 (= 11 at k=4, w=8) share a selected fingerprint no
    // matter the offsets; random prefixes/suffixes exercise the alignments
    import graft.ext.Dedup
    val word = Gen.choose(0, 5000).map(n => s"w$n")
    val gen = for {
      run <- Gen.listOfN(11, word) // the planted shared run, length w+k-1
      pre1 <- Gen.listOfN(17, word); suf1 <- Gen.listOfN(5, word)
      pre2 <- Gen.listOfN(3, word); suf2 <- Gen.listOfN(23, word)
    } yield (
      (pre1 ++ run ++ suf1).mkString(" "),
      (pre2 ++ run ++ suf2).mkString(" "))
    check(Prop.forAll(gen) { case (t1, t2) =>
      val docs = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
      val fp = Dedup.winnowedFingerprints(docs, "doc_id", "text")
      val a = fp.filter(col("doc_id") === 1L).select("fp")
        .collect().map(_.getLong(0)).toSet
      val b = fp.filter(col("doc_id") === 2L).select("fp")
        .collect().map(_.getLong(0)).toSet
      (a intersect b).nonEmpty
    })
  }

  test("LCP kernel reference equivalence + laws (pure kernel, 300 cases)") {
    import org.apache.spark.unsafe.types.UTF8String
    def lcp(a: String, b: String) = graft.functions.LcpPrefixKernel.compute(
      UTF8String.fromString(a), UTF8String.fromString(b))
    // reference: count equal leading code points
    def ref(a: String, b: String): Int =
      a.codePoints.toArray.zip(b.codePoints.toArray).takeWhile(p => p._1 == p._2).length
    // fragments, not Chars: U+1D11E is a surrogate pair — exactly the
    // 4-byte case the kernel's complete-code-point walk must handle
    val frag = Gen.oneOf("a", "b", "z", "1", "é", "ÿ", "日", "語", "𝄞")
    val str = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, frag).map(_.mkString))
    val p = Prop.forAll(str, str) { (a, b) =>
      val l = lcp(a, b)
      l == ref(a, b) && l == lcp(b, a) &&                 // reference + symmetry
        lcp(a, a) == a.codePointCount(0, a.length) &&     // identity
        lcp(a + "x", b + "x") >= l                        // extension monotone
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("suffix-array guarantee: a distinctive word-aligned shared span of >= L chars " +
       "is ALWAYS witnessed by a rank-adjacent cross-doc pair with lcp >= L") {
    // the structural-recall theorem q172 stands on: the two suffixes at
    // the planted span starts begin with a token sequence nothing else in
    // the corpus starts with, so they sort adjacent — the pair MUST
    // surface however the surrounding salad aligns
    import graft.ext.SuffixArray
    val salad = Gen.choose(0, 400).map(n => s"w$n")
    val gen = for {
      // 5 DISTINCT rare tokens (vocab disjoint from the salad): distinct
      // keeps the two span-START suffixes lexicographic neighbors — a
      // repeated first token could interleave a mid-span suffix between
      // them and the witness would route through a shorter-lcp pair
      span <- Gen.pick(5, 100 until 1000).map(_.map(n => s"zq${n}xk").toList)
      pre1 <- Gen.listOfN(9, salad); suf1 <- Gen.listOfN(4, salad)
      pre2 <- Gen.listOfN(2, salad); suf2 <- Gen.listOfN(11, salad)
      filler <- Gen.listOfN(25, salad)
    } yield (
      (pre1 ++ span ++ suf1).mkString(" "),
      (pre2 ++ span ++ suf2).mkString(" "),
      filler.mkString(" "))
    check(Prop.forAll(gen) { case (t1, t2, t3) =>
      val spanLen = t1.split(" ").filter(_.startsWith("zq")).mkString(" ").length
      val L = math.min(spanLen, 30)
      val docs = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
      val pairs = SuffixArray.exactRepeatedSpans(docs, "doc_id", "text",
          minLen = L, k = 64)
        .collect()
      pairs.exists(r => Set(r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ==
        Set(1L, 2L) && r.getAs[Long]("lcp") >= L &&
        r.getAs[String]("span").startsWith("zq"))
    })
  }

  test("paragraph dedup laws: kept-block multiset is a set (no surviving " +
       "duplicates), idempotence on the kept text, partition invariance") {
    import graft.ext.Dedup
    // tiny vocab + short docs → heavy block collisions at blockWords = 2
    val docGen = Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc"))
      .map(_.mkString(" "))
    check(Prop.forAll(Gen.listOfN(12, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Dedup.paragraphDedup(docs, "doc_id", "text", blockWords = 2)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_blocks"), r.getAs[Long]("n_removed"))).sorted.toSeq
      // LAW 1: every doc reports; total kept blocks = distinct block count
      val expectedKept = texts.flatMap(_.split(" ").grouped(2).map(_.mkString(" ")))
        .distinct.size
      val keptTotal = out.map { case (_, nb, nr) => nb - nr }.sum
      // LAW 2: partition invariance (the block-hash shuffle must not
      // depend on input splits)
      val out7 = Dedup.paragraphDedup(docs.repartition(7), "doc_id", "text",
          blockWords = 2)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("n_blocks"), r.getAs[Long]("n_removed"))).sorted.toSeq
      out.size == texts.size && keptTotal == expectedKept && out == out7
    })
  }

  test("snapshot-diff laws: diff(A, A) is all-unchanged with zero delta; " +
       "counts partition A∪B exactly; diff is split-invariant") {
    import graft.ext.Dedup
    val docGen = for {
      id <- Gen.choose(0L, 30L)
      words <- Gen.listOfN(4, Gen.oneOf("aa", "bb", "cc", "dd"))
    } yield (id, s"s${id % 3}", words.mkString(" "))
    check(Prop.forAll(Gen.listOfN(18, docGen), Gen.listOfN(18, docGen)) {
      (as, bs) =>
        // ids must be unique per version (the operator's id contract)
        val a = as.distinctBy(_._1).toDF("doc_id", "source", "text")
        val b = bs.distinctBy(_._1).toDF("doc_id", "source", "text")
        val self = Dedup.snapshotDiff(a, a, "source", "doc_id", "text")
          .collect()
        val selfLaw = self.forall(r => r.getAs[Long]("n_added") == 0 &&
          r.getAs[Long]("n_removed") == 0 && r.getAs[Long]("n_changed") == 0 &&
          r.getAs[Long]("token_delta") == 0)
        val d = Dedup.snapshotDiff(a, b, "source", "doc_id", "text").collect()
        val total = d.map(r => r.getAs[Long]("n_added") +
          r.getAs[Long]("n_removed") + r.getAs[Long]("n_changed") +
          r.getAs[Long]("n_unchanged")).sum
        val aIds = as.distinctBy(_._1).map(_._1).toSet
        val bIds = bs.distinctBy(_._1).map(_._1).toSet
        val d7 = Dedup.snapshotDiff(a.repartition(7), b.repartition(5),
            "source", "doc_id", "text")
          .collect().map(_.toString).sorted.toSeq
        selfLaw && total == (aIds ++ bIds).size &&
          d7 == d.map(_.toString).sorted.toSeq
    })
  }

  test("dedup-funnel monotonicity: raw ≥ exact ≥ fuzzy docs and " +
       "raw ≥ fuzzy ≥ paragraph tokens, per source and in total") {
    import graft.ext.Dedup
    val docGen = for {
      words <- Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc"))
    } yield words.mkString(" ")
    check(Prop.forAll(Gen.listOfN(15, docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, s"s${i % 2}", t)
      }.toDF("doc_id", "source", "text")
      val out = Dedup.dedupFunnel(docs, "source", "doc_id", "text",
        blockWords = 2).collect()
      out.forall { r =>
        r.getAs[Long]("n_raw_docs") >= r.getAs[Long]("n_exact_docs") &&
        r.getAs[Long]("n_exact_docs") >= r.getAs[Long]("n_fuzzy_docs") &&
        r.getAs[Long]("tokens_raw") >= r.getAs[Long]("tokens_fuzzy") &&
        r.getAs[Long]("tokens_fuzzy") >= r.getAs[Long]("tokens_para") &&
        r.getAs[Long]("doc_yield_bp") <= 10000L &&
        r.getAs[Long]("token_yield_bp") <= 10000L
      }
    })
  }

  test("interleave schedule: per-source bucket spread ≤ 2 for arbitrary source skews") {
    import graft.ext.Sampling
    val weightsGen = Gen.listOfN(4, Gen.choose(10, 400))
    check(Prop.forAll(weightsGen) { ws =>
      val docs = ws.zipWithIndex.flatMap { case (w, si) =>
        (0 until w).map(i => (si * 10000L + i, s"s$si"))
      }.toDF("id", "src")
      val out = Sampling.interleaveSchedule(docs, "id", "src", nBuckets = 10)
        .collect()
      ws.indices.forall { si =>
        val counts = out.filter(_.getString(0) == s"s$si").map(_.getAs[Long]("n_docs"))
        // stride points land floor(n/10)/ceil(n/10) per decile; the integer
        // floor on positions can push ONE point across a decile boundary,
        // so the tight bound is 2, not 1 (ScalaCheck found the boundary
        // case; 1 holds for most weight vectors, e.g. the SamplingSpec
        // fixture)
        counts.sum == ws(si) && counts.max - counts.min <= 2
      }
    })
  }

  test("hashedMargin seam law: margin(a ⧺ b) = margin(a) + margin(b) + " +
       "w(seam bigram) for arbitrary token lists") {
    import graft.ext.TextOps
    // the only cross-boundary feature of the unigram+bigram model is the
    // ONE bigram straddling the seam — so concatenation decomposes exactly.
    // This pins the bigram pairing (consecutive tokens of the FILTERED
    // stream) against reorderings, multi-space runs and token content.
    val tokGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "b", "ccc", "Δδ", "x1", "zz")))
    check(Prop.forAll(tokGen, tokGen) { (a, b) =>
      val sa = a.mkString(" ")
      val sb = b.mkString(" ")
      val rows = Seq((1L, sa), (2L, sb), (3L, s"$sa $sb"),
        (4L, s"${a.last} ${b.head}")).toDF("id", "t")
        .select(col("id"), TextOps.hashedMargin(col("t")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // margin of the two-token seam text = w(last_a) + w(first_b) + w(seam)
      val seamOnly = rows(4L)
      val single = Seq((1L, a.last), (2L, b.head)).toDF("id", "t")
        .select(col("id"), TextOps.hashedMargin(col("t")).as("m"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wSeam = seamOnly - single(1L) - single(2L)
      rows(3L) == rows(1L) + rows(2L) + wSeam
    })
  }
}
