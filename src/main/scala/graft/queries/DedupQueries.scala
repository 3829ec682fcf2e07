package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, TextOps}
import graft.util.Output.tinySort
import graft.util.Tables.load

/** Deduplication operator surface over `documents` (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard) — thin wrappers around [[graft.ext.Dedup]] so the
  * DuckDB oracle exercises the real library code paths.
  */
object DedupQueries {

  /** Shared DuckDB fragment: distinct word 3-gram shingles per document
    * (mirrors [[Dedup.wordShingles]] with n=3). Also used by q55. */
  private[queries] val ShinglesCte =
    """w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      | t AS (SELECT doc_id, unnest(ws) tok, generate_subscripts(ws, 1) i FROM w),
      | sh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sg
      |        FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |                 JOIN t c ON a.doc_id = c.doc_id AND c.i = a.i + 2)""".stripMargin

  private val SigCte = {
    val sigCols = (0 until 8)
      .map(s => s"min(substring(md5('${s / 4}:' || sg), ${1 + 8 * (s % 4)}, 8)) AS sig$s")
      .mkString(",\n   ")
    s"""$ShinglesCte,
       | sig AS (SELECT doc_id,
       |   $sigCols
       | FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB reconstruction of [[TextOps.hash16]]: strpos arithmetic over the
    * first 4 hex chars of md5 (no hex→int cast needed). */
  private def hex16Sql(e: String): String =
    (0 until 4).map { i =>
      val shift = math.pow(16, 3 - i).toInt
      s"(strpos('0123456789abcdef', substring(md5($e), ${i + 1}, 1)) - 1) * $shift"
    }.mkString(" + ")

  /** 60-bit md5 reconstruction (15 hex chars — BIGINT-exact in both
    * engines) shared with the sketch oracles. */
  private def hex60Sql(e: String): String = ProfilingQueries.hex60(e)

  def q20DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDupGroups(load(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("fingerprint"))

  def q21MinhashSignature(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignature(load(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  def q22LshBandPairs(spark: SparkSession, dir: String): DataFrame = {
    val sig = Dedup.minhashSignature(load(spark, dir, "documents"), "doc_id", "text")
    Dedup.lshCandidatePairs(sig, "doc_id")
      .transform(tinySort(_, col("doc_a"), col("doc_b")))
  }

  /** q156 — deduplicated token-yield report ([[Dedup.dedupYield]]): the
    * dataset-card number per source — documents/tokens surviving global
    * exact dedup, duplication rate and token yield in exact bp. The input
    * models a PARTIAL RE-CRAWL (every even-id page fetched twice, id
    * offset +10000) so the keeper-credit and yield arithmetic actually
    * engage; keepers are the original ids, so each source's yield reflects
    * its even-doc share. */
  def q156DedupYield(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
    val recrawl = d.filter(col("doc_id") % 2 === 0)
      .withColumn("doc_id", col("doc_id") + 10000)
    Dedup.dedupYield(d.unionByName(recrawl), "source", "doc_id", "text")
      .transform(tinySort(_, col("source")))
  }

  def q23Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash16(load(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  def q24NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(load(spark, dir, "documents"), "doc_id", "text")
      .transform(tinySort(_, col("doc_a"), col("doc_b")))

  /** E-style fingerprinting (md5 of normalized text + order-sensitive rolling
    * token hash, [[TextOps.rollingTokenHash]]). */
  def q30Fingerprint(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents").select(
      col("doc_id"),
      TextOps.fingerprintMd5(col("text")).as("fp_md5"),
      length(TextOps.normalize(col("text"))).cast("long").as("n_norm_chars"),
      TextOps.rollingTokenHash(TextOps.tokens(col("text"))).as("roll_hash")
    ).orderBy(col("doc_id"))

  /** q70 — n-gram novelty profile ([[Dedup.ngramNovelty]]): per document,
    * the fraction of its distinct 3-grams first seen in it (ascending-id
    * processing order). Bounded to doc_id < 350 like q24 so the bench
    * measures the operator, not the SF. */
  def q70NgramNovelty(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramNovelty(
        load(spark, dir, "documents").filter(col("doc_id") < 350),
        "doc_id", "text", n = 3)
      .transform(tinySort(_, col("doc_id")))

  /** q77 — span-level exact dedup with reconstruction
    * ([[graft.ext.Corpus.spanDedup]], 8-token non-overlapping spans): keep
    * each span's first corpus occurrence, stitch survivors back per doc —
    * the cross-document boilerplate screen document fingerprints miss. */
  def q77SpanDedup(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Corpus.spanDedup(load(spark, dir, "documents"),
        "doc_id", "text", spanTokens = 8)
      .orderBy(col("doc_id"))

  /** q90 — cross-corpus LSH dedup ([[Dedup.crossCorpusCandidates]]): the
    * incremental-crawl shape — odd doc_ids are the NEW crawl, even the
    * existing REFERENCE corpus; candidates are (new, ref) pairs sharing an
    * LSH band. No self-pairing of the already-deduped reference. */
  def q90CrossCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    def sig(parity: Int) = Dedup.minhashSignature(
      docs.filter(col("doc_id") % 2 === parity), "doc_id", "text")
    Dedup.crossCorpusCandidates(sig(1), sig(0), "doc_id")
      .transform(tinySort(_, col("new_id"), col("ref_id")))
  }

  /** q200 — arrival-time near-dup against the PERSISTED band index
    * ([[Dedup.nearDupAgainstIndex]], r15 verdict #6): even doc_ids are the
    * standing corpus whose `(id, band)` index was built once (here
    * in-query for the oracle; NOTES keeps the measurement of the
    * parquet-persisted shape), odd ids the arriving shard. Output =
    * shard-vs-index candidates PLUS shard-internal pairs — exactly the
    * full re-band restricted to pairs touching the shard (the ExtSpec
    * law), with zero corpus signatures recomputed. */
  def q200NearDupIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val index = Dedup.nearDupBandIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    Dedup.nearDupAgainstIndex(index,
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      .transform(tinySort(_, col("new_id"), col("ref_id")))
  }

  /** q91 — near-dup hub centrality ([[graft.ext.Graph.pageRankInt]], 5
    * damped iterations, integer fixed-point): PageRank over the symmetric
    * LSH pair graph (the same graph q22 emits and q51 clusters) — ranks the
    * hub copies a canonical-selection pass would keep. BIGINT arithmetic end
    * to end, so the oracle's unrolled CTE chain replays every floor division
    * bit-identically. */
  def q91PageRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minhashSignature(docs, "doc_id", "text"), "doc_id")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    graft.ext.Graph.pageRankInt(edges, "src", "dst", iterations = 5)
      .transform(tinySort(_, col("node")))
  }

  /** q100 — triangle census over the near-dup pair graph
    * ([[graft.ext.Graph.triangleStats]]): the clique-density audit of an
    * LSH candidate set (triangles ⇒ true duplicate cliques, wedges without
    * closure ⇒ hash noise). One row: nodes / edges / triangles. */
  def q100Triangles(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minhashSignature(docs, "doc_id", "text"), "doc_id")
    graft.ext.Graph.triangleStats(pairs, "doc_a", "doc_b")
  }

  /** q104 — LSH parameter evaluation ([[Dedup.lshEval]]): precision/recall
    * of the band candidates against exact Jaccard ≥ 0.95 ground truth on a
    * 1-in-3 id sample (`doc_id % 3 = 0` — an id-mod sample keeps ~1/9 of
    * true pairs at ANY scale, unlike a fixed id range whose partners
    * migrate out of range as the corpus grows). Truth threshold sits ABOVE
    * the 0.8 the bands were tuned for, so precision measures the
    * 0.8–0.95 near-misses the verify stage must filter. */
  def q104LshEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val cand = Dedup.lshCandidatePairs(
        Dedup.minhashSignature(docs, "doc_id", "text"), "doc_id")
      .filter(col("doc_a") % 3 === 0 && col("doc_b") % 3 === 0)
    val truth = Dedup.jaccardPairs(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", maxId = Long.MaxValue, threshold = 0.95)
    Dedup.lshEval(cand, truth, "doc_a", "doc_b")
  }

  /** q109 — exact Jaccard-threshold join via prefix filtering
    * ([[Dedup.prefixJaccardJoin]], AllPairs/PPJoin family): the UNBOUNDED
    * exact-threshold self-join over the whole corpus — where brute q24 must
    * stay id-bounded, the rarest-first prefix filter + length filter bound
    * the candidate join instead, with zero false negatives (contrast LSH
    * q22/q104, which trades recall). Threshold 4/5; every prune/accept test
    * is integer cross-multiplication, replayed exactly by the oracle. */
  def q109PrefixJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardJoin(load(spark, dir, "documents"), "doc_id", "text")
      .transform(tinySort(_, col("doc_a"), col("doc_b")))

  /** q132 — set-cosine similarity join ([[Dedup.cosinePairs]]): the
    * measure triad's completion — cosine |A∩B|/√(|A|·|B|) over 3-shingle
    * sets at ≥ 0.5 via the inverted-index posting join with a df cap
    * (inactive at test SF → exact, the guard that bounds Σdf² fanout at
    * corpus scale). Integers + correctly-rounded sqrt, so the threshold
    * filter agrees across engines bit-for-bit. */
  def q132CosinePairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.cosinePairs(load(spark, dir, "documents"), "doc_id", "text")
      .transform(tinySort(_, col("doc_a"), col("doc_b")))

  /** q158 — per-document pair-cap planning curve
    * ([[Dedup.pairCapCurve]] over the q132 cosine pair set): the
    * truncation ACCOUNTING for [[Dedup.capPairsPerDoc]], the r12-verdict
    * output bound on the two output-super-linear detectors. For each
    * candidate cap k ∈ {1, 2, 4}: pairs kept/dropped under the
    * both-endpoints top-k rule (cos desc, partner asc) and documents that
    * would lose an incident pair — measured BEFORE committing a cap, the
    * q142 planning idiom applied to pair volume. */
  def q158PairCapCurve(spark: SparkSession, dir: String): DataFrame =
    Dedup.pairCapCurve(
        Dedup.cosinePairs(load(spark, dir, "documents"), "doc_id", "text"),
        "doc_a", "doc_b", "cos", Seq(1, 2, 4))
      .transform(tinySort(_, col("k")))

  /** q161 — positional dHash Hamming near-dup
    * ([[graft.functions.TextDHash]] → [[Dedup.hammingNearDup]]): the
    * fingerprint tier between exact md5 (q20) and bag-of-words SimHash
    * (q23) — a 63-bit locality-sensitive POSITIONAL hash (64 balanced
    * code-point segments, adjacent-sum difference bits; the Krawetz
    * image-dHash rule, shared bit-for-bit with
    * [[graft.ext.Multimodal.imageDHash]] so the Hamming machinery is
    * modality-agnostic), then the 4-band pigeonhole join with GUARANTEED
    * recall at distance ≤ 3 (Manku WWW '07). One map-side kernel pass +
    * one band equi-join — never all pairs. */
  def q161HammingNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.hammingNearDup(
        load(spark, dir, "documents").select(col("doc_id"),
          graft.functions.TextDHash.textDHash(col("text")).as("dhash")),
        "doc_id", "dhash", maxDist = 3)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
      .transform(tinySort(_, col("doc_a"), col("doc_b")))

  /** q112 — exact set-containment join ([[Dedup.containmentJoin]], the
    * PRETTI/prefix set-containment family): ordered (contained, container)
    * pairs at C ≥ 9/10 over the whole corpus — the doc-inside-doc detector
    * symmetric q109 structurally misses. Prefix + length + positional
    * filters are all integer cross-multiplication with zero false
    * negatives; the ratio ships as integer basis points, so nothing
    * floating crosses the engine boundary. */
  def q112Containment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentJoin(load(spark, dir, "documents"), "doc_id", "text")
      .transform(tinySort(_, col("doc_in"), col("doc_out")))

  /** q115 — winnowed-fingerprint repeated-span pairs
    * ([[Dedup.winnowOverlapPairs]], Schleimer–Wilkerson–Aiken SIGMOD '03):
    * document pairs sharing ≥ 2 winnow-SELECTED 4-grams (windows of 8),
    * with fingerprint-set Jaccard as basis points — the alignment-
    * independent repeated-span detector the fixed-boundary q77 chunks
    * structurally miss (a shared run of ≥ w+k−1 = 11 tokens is guaranteed
    * a shared fingerprint at ANY offset). Selection is document-local, so
    * it runs entirely inside the map-side [[graft.functions
    * .WinnowFingerprints]] codegen kernel (zero shuffles to the
    * fingerprint set — the oracle replays the equivalent two-window SQL);
    * the pair join is fingerprint-keyed with a document-frequency cap
    * bounding fanout at maxDf². */
  def q115WinnowOverlap(spark: SparkSession, dir: String): DataFrame =
    // single-file parquet arrives as ONE split, which would serialize the
    // md5 gram build — round-robin to session parallelism first (the q106
    // idiom; production tables arrive in thousands of splits)
    Dedup.winnowOverlapPairs(
        load(spark, dir, "documents")
          .select("doc_id", "text")
          .repartition(spark.sparkContext.defaultParallelism),
        "doc_id", "text")
      .transform(tinySort(_, col("doc_a"), col("doc_b")))

  /** q116 — exact shared-span extraction over the q115 candidates
    * ([[Dedup.sharedSpanStats]]): for every winnow-detected pair, the
    * longest contiguous shared token run and the matched-position-pair
    * count, via the relational LCS formulation (token-position join →
    * diagonal d = i−j → gaps-and-islands) — the verify/extract tier that
    * completes the fingerprint-then-verify ExactSubstr shape. Quadratic
    * work exists only INSIDE detected pairs, never corpus-wide. */
  def q116SharedSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
    Dedup.sharedSpanStats(docs, pairs, "doc_id", "text")
      .transform(tinySort(_, col("doc_a"), col("doc_b")))
  }

  /** q120 — duplicated-span removal over the q115 candidates
    * ([[Dedup.removeSharedSpans]], the ExactSubstr rewrite tier, Lee et
    * al. ACL '22): every token position of the LATER doc of a detected
    * pair covered by a shared run of ≥ 11 tokens (the winnow guarantee
    * length w+k−1) is dropped — union across pairs, first occurrence kept
    * — and the rewritten doc ships as (n_tokens, n_removed, kept-text
    * fingerprint). Completes detect (q115) → verify (q116) → REWRITE. */
  def q120SpanRewrite(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"))
    Dedup.removeSharedSpans(docs, pairs, "doc_id", "text", minRun = 11)
      .transform(tinySort(_, col("doc_id")))
  }

  /** q142 — LSH banding parameter planner ([[graft.ext.LshPlanner]],
    * MMDS §3.4): the DESIGN-TIME third of the LSH eval tier — q104 scores
    * a committed (bands, rows) choice a posteriori, q140 scores blocking
    * keys; q142 predicts every divisor split of the 8-hash budget BEFORE
    * committing, from the exact-integer S-curve 1−(1−s^r)^b and a sampled
    * corpus similarity histogram, and selects the cheapest split clearing
    * a 90% expected-recall floor at target Jaccard 0.80. */
  def q142LshPlan(spark: SparkSession, dir: String): DataFrame =
    graft.ext.LshPlanner.planBands(load(spark, dir, "documents"),
        "doc_id", "text")
      .transform(tinySort(_, col("bands")))

  /** q171 — k-order suffix array + adjacent LCP
    * ([[graft.ext.SuffixArray.adjacentLcp]], Lee et al. 2021's exact
    * index; winnow q115 is its sampled approximation): every word-start
    * suffix ranked by its 64-char prefix (range-partitioned sort + the
    * two-phase row number — no unpartitioned window), LCP with the rank
    * predecessor via the codegen kernel. The dump drops the bulky prefix
    * column (rank/off/lcp pin the structure; the oracle recomputes
    * prefixes anyway). */
  def q171SuffixArray(spark: SparkSession, dir: String): DataFrame =
    graft.ext.SuffixArray.adjacentLcp(
        load(spark, dir, "documents"), "doc_id", "text", k = 64)
      .select(col("rank"), col("doc_id"), col("off"),
        coalesce(col("prev_doc"), lit(-1L)).as("prev_doc"),
        coalesce(col("prev_off"), lit(-1L)).as("prev_off"), col("lcp_prev"))
      .transform(tinySort(_, col("rank")))

  /** q172 — exact cross-doc repeated spans ≥ 20 chars
    * ([[graft.ext.SuffixArray.exactRepeatedSpans]]): the exact
    * counterpart of q115's winnowed overlap — rank-adjacent suffix pairs
    * from different documents with LCP ≥ 20, shared span included. */
  def q172ExactSpans(spark: SparkSession, dir: String): DataFrame =
    graft.ext.SuffixArray.exactRepeatedSpans(
        load(spark, dir, "documents"), "doc_id", "text", minLen = 20, k = 64)
      .transform(tinySort(_, col("doc_a"), col("off_a"), col("doc_b"), col("off_b")))

  /** q173 — exact-discovery span rewrite: q120's rewrite machinery
    * ([[graft.ext.Dedup.removeSharedSpans]]) fed by the EXACT pair
    * discovery of q172 instead of winnow sampling — the full Lee et al.
    * loop with structural recall at the discovery tier (exact finds 1124
    * doc pairs at sf0.01 where winnow's sampled fingerprints find far
    * fewer). Canonical (least, greatest) pairs, per-doc pair cap 4 (the
    * q158 both-endpoints rule — bounds each doc's per-pair-quadratic
    * rewrite cost on duplicate-heavy crawls), runs ≥ 4 tokens (≈ the
    * 20-char discovery bar) removed from the higher-id doc. */
  def q173ExactSpanRewrite(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val pairs = graft.ext.SuffixArray.exactRepeatedSpans(
        docs, "doc_id", "text", minLen = 20, k = 64)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
    Dedup.removeSharedSpans(docs, pairs, "doc_id", "text", minRun = 4,
        maxPairsPerDoc = Some(4))
      .transform(tinySort(_, col("doc_id")))
  }

  /** q175 — per-document duplication profile
    * ([[graft.ext.SuffixArray.duplicationProfile]], minLen = 20): the
    * Lee et al. corpus-health number — merged char mass under exact
    * repeats (cross- AND within-doc) per doc, in exact basis points;
    * zero-repeat docs kept. */
  def q175DupProfile(spark: SparkSession, dir: String): DataFrame =
    graft.ext.SuffixArray.duplicationProfile(
        load(spark, dir, "documents"), "doc_id", "text", minLen = 20, k = 64)
      .transform(tinySort(_, col("doc_id")))

  /** q176 — exact contamination-span audit
    * ([[graft.ext.SuffixArray.crossSetMaxLcp]], minLen = 20, k = 64): per
    * corpus doc the TRUE longest word-start substring (≤ 64 chars) shared
    * with any benchmark doc — the q55/q165 every-50th-doc benchmark split,
    * upgraded from "some fixed-size gram collides" to the exact leaked
    * span length + the span text (Lee et al. / Carlini-style memorization
    * length). */
  def q176ContaminationSpan(spark: SparkSession, dir: String): DataFrame =
    graft.ext.SuffixArray.crossSetMaxLcp(
        load(spark, dir, "documents")
          .withColumn("is_b", col("doc_id") % 50 === 0),
        "doc_id", "text", "is_b", minLen = 20, k = 64)
      .transform(tinySort(_, col("doc_id")))

  /** q187 — incremental contamination audit over a persisted benchmark
    * suffix index ([[graft.ext.SuffixArray.auditShard]], round-14 verdict
    * task #3): q176's bench set (every 50th doc) becomes a standing
    * index; the audited SHARD is every doc ≡ 1 mod 5 (provably disjoint
    * from the bench). The oracle is q176's full-rebuild CTE chain with
    * the report restricted to the shard — the equivalence law (a shard's
    * verdicts don't depend on other shards) stated as SQL. At 100 TB
    * this is the arrival-time audit: cost scales with |shard| + |index|,
    * never |corpus| (measured in NOTES). */
  def q187AuditShard(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val index = graft.ext.SuffixArray.contaminationIndex(
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 64)
    graft.ext.SuffixArray.auditShard(index,
        docs.filter(col("doc_id") % 5 === 1), "doc_id", "text",
        minLen = 20, k = 64)
      .transform(tinySort(_, col("doc_id")))
  }

  /** q196 — benchmark exposure report: the bench-side view of q176
    * ([[graft.ext.SuffixArray.crossSetMaxLcp]] with the roles FLIPPED —
    * `is_b` marks the corpus), so the report is per BENCHMARK doc: the
    * longest word-start span it shares with ANY corpus doc — the number
    * an eval-release integrity report quotes per benchmark item ("which
    * items leak worst"). Pure reuse of the operator — the role column was
    * always a parameter; same one-range-sort scale shape. */
  def q196BenchExposure(spark: SparkSession, dir: String): DataFrame =
    graft.ext.SuffixArray.crossSetMaxLcp(
        load(spark, dir, "documents")
          .withColumn("is_b", col("doc_id") % 50 =!= 0),
        "doc_id", "text", "is_b", minLen = 20, k = 64)
      .transform(tinySort(_, col("doc_id")))

  /** q197 — span-level decontamination with the q190 prune in front
    * ([[graft.ext.SuffixArray.exciseContaminatedPruned]]): the rewrite
    * consumes only ≥ minLen intervals and every pruned suffix sits below
    * the bar, so the manifests are identical while the range shuffle
    * ships candidates only. Shard ≡ 2 mod 5 (q190's); oracle is q189's
    * rebuild chain on that shard. */
  def q197ExcisePruned(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val index = graft.ext.SuffixArray.contaminationIndex(
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 64)
    graft.ext.SuffixArray.exciseContaminatedPruned(index,
        docs.filter(col("doc_id") % 5 === 2), "doc_id", "text",
        minLen = 20, k = 64)
      .transform(tinySort(_, col("doc_id")))
  }

  /** q190 — the PRUNED arrival-time audit
    * ([[graft.ext.SuffixArray.auditShardPruned]]): q187's standing
    * benchmark index (every 50th doc), audited shard = every doc ≡ 2
    * mod 5 (disjoint from bench and from q187's shard), with the
    * broadcast minLen-prefix semi-join dropping clean shard suffixes
    * map-side BEFORE the range shuffle — the shape a mostly-clean
    * 100 TB ingest needs. Pruning is provably invisible in the output
    * (ExtSpec pins pruned ≡ unpruned row-for-row; hash collisions only
    * admit extras whose true `_best` exits at the rollup filter), so
    * the oracle is the same full-rebuild CTE chain restricted to this
    * shard. */
  def q190AuditShardPruned(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val index = graft.ext.SuffixArray.contaminationIndex(
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 64)
    graft.ext.SuffixArray.auditShardPruned(index,
        docs.filter(col("doc_id") % 5 === 2), "doc_id", "text",
        minLen = 20, k = 64)
      .transform(tinySort(_, col("doc_id")))
  }

  /** q189 — span-level decontamination of the arriving shard
    * ([[graft.ext.SuffixArray.exciseContaminated]]): the rewrite that
    * completes q187's audit — every char of a shard doc covered by a
    * ≥ 20-char word-start span shared with the benchmark index is
    * excised; per shard doc the merged-span count/char mass and the
    * rebuilt text's length + md5 (clean docs pass through verbatim).
    * Same bench (every 50th doc) and shard (≡ 1 mod 5) as q187. */
  def q189ExciseContaminated(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val index = graft.ext.SuffixArray.contaminationIndex(
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 64)
    graft.ext.SuffixArray.exciseContaminated(index,
        docs.filter(col("doc_id") % 5 === 1), "doc_id", "text",
        minLen = 20, k = 64)
      .transform(tinySort(_, col("doc_id")))
  }

  /** q177 — corpus-level paragraph dedup ([[graft.ext.Dedup.paragraphDedup]],
    * 20-word blocks): the CCNet shard-dedup semantics — every block
    * occurrence beyond the global first (lowest (doc, position)) removed,
    * docs reassembled, per-doc removal accounting + kept-text md5. */
  def q177ParagraphDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.paragraphDedup(load(spark, dir, "documents"), "doc_id", "text",
        blockWords = 20)
      .transform(tinySort(_, col("doc_id")))

  /** q178 — split-leakage audit ([[graft.ext.Dedup.splitLeakageAudit]]):
    * eval split = every 10th doc (the stable-key hash stand-in), MinHash
    * band candidates from the training split, exact shingle verification
    * at Jaccard ≥ 1/2 by integer cross-multiplication; per eval doc the
    * candidate/confirmed-leak counts and max similarity in bp. */
  def q178SplitLeakage(spark: SparkSession, dir: String): DataFrame =
    Dedup.splitLeakageAudit(
        load(spark, dir, "documents")
          .withColumn("is_test", col("doc_id") % 10 === 0),
        "doc_id", "text", "is_test")
      .transform(tinySort(_, col("doc_id")))

  /** q181 — the dedup funnel ([[graft.ext.Dedup.dedupFunnel]], 20-word
    * blocks): per source, doc/token mass surviving raw → exact → fuzzy
    * (band keep-min-id) → paragraph dedup, the FineWeb-style dataset-card
    * ablation, all-integer yields. */
  def q181DedupFunnel(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupFunnel(load(spark, dir, "documents"), "source", "doc_id",
        "text", blockWords = 20)
      .transform(tinySort(_, col("source")))

  /** q186 — the funnel with the keep-BEST fuzzy keeper (round-14 verdict
    * task #6): same four stages as q181, but the fuzzy stage drops the
    * lower-QUALITY member of each band neighborhood (quality = exact
    * token count here — engine-exact integers, so dominance replays
    * bit-for-bit in DuckDB; ids break exact ties). The dataset-card
    * yields now describe what a real curation run would ship — the
    * longest representative of each near-dup neighborhood survives, so
    * token yield can only move UP vs q181's accidental min-id keeper on
    * equal doc yield. */
  def q186DedupFunnelKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .withColumn("q", size(graft.ext.TextOps.tokens(col("text"))).cast("long"))
    Dedup.dedupFunnel(docs, "source", "doc_id", "text", blockWords = 20,
        qualityCol = Some("q"))
      .transform(tinySort(_, col("source")))
  }

  /** q182 — corpus snapshot diff ([[graft.ext.Dedup.snapshotDiff]]):
    * version B derived deterministically from the documents table (every
    * 11th doc deleted, every 13th SURVIVOR edited with a ` rev2` suffix,
    * every 17th re-added under id+1000000), diffed against version A =
    * the table itself; per source the added/removed/changed/unchanged
    * counts and the token delta. Whitespace/case-only edits do not count
    * as changes (q20 normalization). */
  def q182SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val a = load(spark, dir, "documents")
    val kept = a.filter(col("doc_id") % 11 =!= 0)
    val edited = kept.withColumn("text",
      when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
        .otherwise(col("text")))
    val added = a.filter(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    Dedup.snapshotDiff(a, edited.unionByName(added), "source", "doc_id", "text")
      .transform(tinySort(_, col("source")))
  }

  /** q183 — length-distribution drift ([[graft.ext.Dedup.histogramDrift]],
    * 16 bins × 32 chars, top bin open): per source, the exact-integer
    * total-variation distance in bp between the live corpus and the q182
    * v2 derivation — the drift-monitor alarm number. */
  def q183LengthDrift(spark: SparkSession, dir: String): DataFrame = {
    val a = load(spark, dir, "documents").withColumn("len", length(col("text")))
    val kept = load(spark, dir, "documents").filter(col("doc_id") % 11 =!= 0)
    val edited = kept.withColumn("text",
      when(col("doc_id") % 13 === 0, concat(col("text"), lit(" rev2")))
        .otherwise(col("text")))
    val added = load(spark, dir, "documents").filter(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val b = edited.unionByName(added).withColumn("len", length(col("text")))
    Dedup.histogramDrift(a, b, "source", "len", bins = 16, binWidth = 32L)
      .transform(tinySort(_, col("source")))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q196_bench_exposure" -> (q196BenchExposure _),
    "q197_excise_pruned" -> (q197ExcisePruned _),
    "q190_audit_shard_pruned" -> (q190AuditShardPruned _),
    "q189_excise_contaminated" -> (q189ExciseContaminated _),
    "q187_audit_shard" -> (q187AuditShard _),
    "q186_dedup_funnel_keepbest" -> (q186DedupFunnelKeepBest _),
    "q183_length_drift" -> (q183LengthDrift _),
    "q182_snapshot_diff" -> (q182SnapshotDiff _),
    "q181_dedup_funnel" -> (q181DedupFunnel _),
    "q178_split_leakage" -> (q178SplitLeakage _),
    "q177_paragraph_dedup" -> (q177ParagraphDedup _),
    "q176_contamination_span" -> (q176ContaminationSpan _),
    "q175_dup_profile" -> (q175DupProfile _),
    "q171_suffix_array" -> (q171SuffixArray _),
    "q172_exact_spans" -> (q172ExactSpans _),
    "q173_exact_span_rewrite" -> (q173ExactSpanRewrite _),
    "q156_dedup_yield" -> (q156DedupYield _),
    "q142_lsh_plan" -> (q142LshPlan _),
    "q120_span_rewrite" -> (q120SpanRewrite _),
    "q116_shared_spans" -> (q116SharedSpans _),
    "q115_winnow_overlap" -> (q115WinnowOverlap _),
    "q112_containment" -> (q112Containment _),
    "q109_prefix_jaccard" -> (q109PrefixJaccard _),
    "q132_cosine_pairs" -> (q132CosinePairs _),
    "q158_pair_cap_curve" -> (q158PairCapCurve _),
    "q161_hamming_neardup" -> (q161HammingNearDup _),
    "q100_triangles" -> (q100Triangles _),
    "q104_lsh_eval" -> (q104LshEval _),
    "q77_span_dedup" -> (q77SpanDedup _),
    "q90_cross_corpus" -> (q90CrossCorpus _),
    "q200_neardup_index" -> (q200NearDupIndex _),
    "q91_pagerank" -> (q91PageRank _),
    "q20_dedup_exact" -> (q20DedupExact _),
    "q70_ngram_novelty" -> (q70NgramNovelty _),
    "q21_minhash_signature" -> (q21MinhashSignature _),
    "q22_lsh_band_pairs" -> (q22LshBandPairs _),
    "q23_simhash" -> (q23Simhash _),
    "q24_ngram_jaccard" -> (q24NgramJaccard _),
    "q30_fingerprint" -> (q30Fingerprint _)
  )

  /** The q115 CTE chain (winnow selection through the `pr` pair set) —
    * shared verbatim by the q116 oracle so detector and extractor can
    * never drift. */
  private def winnowCtes: String =
    s"""b AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       | gl AS (SELECT doc_id,
       |         CASE WHEN len(ws) >= 4 THEN
       |           list_transform(range(1, len(ws)-2),
       |             i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
       |         ELSE [] END AS g FROM b),
       | gr AS (SELECT doc_id, unnest(g) AS gram,
       |          generate_subscripts(g, 1) AS i FROM gl),
       | h AS (SELECT doc_id, i,
       |         ${hex60Sql("'wfp:' || gram")} AS hv
       |       FROM gr),
       | m AS (SELECT doc_id, i, hv,
       |        MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin
       |       FROM h),
       | s AS (SELECT doc_id, hv,
       |        MAX(wmin) OVER (PARTITION BY doc_id ORDER BY i
       |                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS selmax
       |       FROM m),
       | fp AS (SELECT DISTINCT doc_id, hv FROM s WHERE selmax = hv),
       | dfq AS (SELECT hv, COUNT(*) AS df FROM fp GROUP BY hv),
       | fpk AS (SELECT fp.doc_id, fp.hv FROM fp JOIN dfq USING (hv)
       |         WHERE df <= 64),
       | n AS (SELECT doc_id, COUNT(*) AS nf FROM fpk GROUP BY doc_id),
       | pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
       |        FROM fpk a JOIN fpk b ON a.hv = b.hv AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2 HAVING COUNT(*) >= 2)""".stripMargin

  /** The q171 CTE chain (word offsets → 64-char suffix prefixes → unique
    * total order → adjacency + correlated LCP) — shared verbatim by the
    * q172 oracle so index and extractor can never drift. The oracle may
    * rank with one global window (DuckDB side only); the ENGINE ranks via
    * the two-phase partitioned row number. LCP replays as "max i with
    * equal i-char prefixes", capped at the shorter prefix — exactly the
    * kernel's complete-code-point walk. */
  private[queries] def suffixCtes: String =
    """sp AS (SELECT doc_id, text, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS wi
      |       FROM documents),
      | offs AS (SELECT doc_id, text, w,
      |     COALESCE(SUM(length(w) + 1) OVER (PARTITION BY doc_id ORDER BY wi
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS off
      |   FROM sp),
      | sfx AS (SELECT doc_id, CAST(off AS BIGINT) AS off,
      |           substring(text, CAST(off AS INTEGER), 64) AS prefix
      |         FROM offs WHERE w <> ''),
      | ranked AS (SELECT doc_id, off, prefix,
      |     CAST(row_number() OVER (ORDER BY prefix, doc_id, off) AS BIGINT) AS rank
      |   FROM sfx),
      | adj AS (SELECT r.rank, r.doc_id, r.off, r.prefix,
      |           p.doc_id AS prev_doc, p.off AS prev_off, p.prefix AS pp
      |         FROM ranked r LEFT JOIN ranked p ON p.rank = r.rank - 1),
      | lcps AS (SELECT rank, doc_id, off, prefix, prev_doc, prev_off,
      |     CAST(COALESCE((SELECT max(i) FROM generate_series(1, 64) g(i)
      |       WHERE i <= least(length(pp), length(prefix))
      |         AND substring(pp, 1, CAST(i AS INTEGER)) =
      |             substring(prefix, 1, CAST(i AS INTEGER))), 0) AS BIGINT) AS lcp_prev
      |   FROM adj)""".stripMargin

  /** The q189/q197 span-rewrite oracle over the `doc_id % 5 = shardMod`
    * shard: the q187 per-suffix chain restricted to the shard, qualifying
    * [off, off+best) intervals, the q175 gaps-and-islands merge, text
    * rebuilt from the inter-island gaps (LAG(me) default 1 = the gap
    * start; string_agg ordered by island start; tail from the last
    * island's end); clean docs via the COALESCE(..., d.text) arms. Shared
    * by both entries so the chains can never drift — q197's prune is
    * provably invisible to the manifests. */
  private def exciseOracle(shardMod: Int): String =
    s"""WITH $suffixCtes,
      | tg AS (SELECT l.*, (l.doc_id % 50 = 0) AS is_b FROM lcps l),
      | sg AS (SELECT *,
      |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg,
      |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank DESC
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segd
      |   FROM tg),
      | mm AS (SELECT *,
      |     MIN(CASE WHEN is_b THEN NULL ELSE lcp_prev END) OVER (
      |       PARTITION BY seg ORDER BY rank
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS draw,
      |     MIN(lcp_prev) OVER (PARTITION BY segd ORDER BY rank DESC
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS uraw
      |   FROM sg),
      | sc AS (SELECT doc_id, off,
      |     GREATEST(COALESCE(CASE WHEN seg >= 1 THEN draw END, 0),
      |              COALESCE(CASE WHEN segd >= 1 THEN uraw END, 0)) AS best
      |   FROM mm WHERE NOT is_b AND doc_id % 5 = $shardMod),
      | iv AS (SELECT DISTINCT doc_id, off AS s, off + best AS e
      |        FROM sc WHERE best >= 20),
      | isl AS (SELECT doc_id, s, e,
      |     MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
      |   FROM iv),
      | num AS (SELECT doc_id, s, e,
      |     SUM(CASE WHEN cm IS NULL OR s > cm THEN 1 ELSE 0 END)
      |       OVER (PARTITION BY doc_id ORDER BY s, e
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |   FROM isl),
      | merged AS (SELECT doc_id, isl, MIN(s) AS ms, MAX(e) AS me
      |            FROM num GROUP BY doc_id, isl),
      | gaps AS (SELECT doc_id, ms, me,
      |     COALESCE(LAG(me) OVER (PARTITION BY doc_id ORDER BY ms), 1) AS gs
      |   FROM merged),
      | pieces AS (SELECT g.doc_id, g.ms AS ord,
      |     substring(d.text, CAST(g.gs AS INT), CAST(g.ms - g.gs AS INT)) AS piece
      |   FROM gaps g JOIN documents d USING (doc_id)),
      | lastm AS (SELECT doc_id, MAX(me) AS le,
      |     CAST(COUNT(*) AS BIGINT) AS n_spans,
      |     CAST(SUM(me - ms) AS BIGINT) AS chars_removed
      |   FROM merged GROUP BY 1),
      | rebuilt AS (SELECT l.doc_id,
      |     COALESCE(string_agg(p.piece, '' ORDER BY p.ord), '')
      |       || substring(d.text, CAST(l.le AS INT)) AS ktext
      |   FROM lastm l JOIN documents d USING (doc_id)
      |   LEFT JOIN pieces p ON p.doc_id = l.doc_id
      |   GROUP BY l.doc_id, d.text, l.le)
      |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
      |  COALESCE(l.n_spans, 0) AS n_spans,
      |  COALESCE(l.chars_removed, 0) AS chars_removed,
      |  CAST(length(COALESCE(r.ktext, d.text)) AS BIGINT) AS kept_len,
      |  md5(COALESCE(r.ktext, d.text)) AS kept_fp
      |FROM (SELECT * FROM documents WHERE doc_id % 5 = $shardMod) d
      |LEFT JOIN lastm l USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  val sql: Map[String, String] = Map(
    "q171_suffix_array" ->
      s"""WITH $suffixCtes
        |SELECT rank, doc_id, off,
        |  COALESCE(prev_doc, -1) AS prev_doc,
        |  COALESCE(prev_off, -1) AS prev_off, lcp_prev
        |FROM lcps ORDER BY rank""".stripMargin,
    "q172_exact_spans" ->
      s"""WITH $suffixCtes
        |SELECT prev_doc AS doc_a, prev_off AS off_a,
        |  doc_id AS doc_b, off AS off_b, lcp_prev AS lcp,
        |  substring(prefix, 1, CAST(lcp_prev AS INTEGER)) AS span
        |FROM lcps
        |WHERE lcp_prev >= 20 AND prev_doc <> doc_id
        |ORDER BY doc_a, off_a, doc_b, off_b""".stripMargin,
    /* q175: both endpoints' intervals from every >= 20 adjacent hit,
     * DISTINCT (duplicate intervals are irrelevant to coverage, and a
     * unique (s, e) per doc makes the two island window passes order-
     * deterministic — with ties they may disagree on tie-group order and
     * split islands differently), gaps-and-islands merge per doc
     * (cumulative max of interval ends over the (s, e)-ordered preceding
     * rows, island break when s clears it), merged mass vs doc chars in
     * integer bp; zero docs kept. */
    "q175_dup_profile" ->
      s"""WITH $suffixCtes,
        | hit AS (SELECT * FROM lcps WHERE lcp_prev >= 20),
        | iv AS (SELECT DISTINCT doc_id, s, e FROM (
        |        SELECT doc_id, off AS s, off + lcp_prev AS e FROM hit
        |        UNION ALL
        |        SELECT prev_doc, prev_off, prev_off + lcp_prev FROM hit)),
        | isl AS (SELECT doc_id, s, e,
        |     MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
        |   FROM iv),
        | num AS (SELECT doc_id, s, e,
        |     SUM(CASE WHEN cm IS NULL OR s > cm THEN 1 ELSE 0 END)
        |       OVER (PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |   FROM isl),
        | merged AS (SELECT doc_id, isl, MIN(s) AS ms, MAX(e) AS me
        |            FROM num GROUP BY doc_id, isl),
        | prof AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |            CAST(SUM(me - ms) AS BIGINT) AS chars_dup
        |          FROM merged GROUP BY doc_id)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
        |  COALESCE(p.n_islands, 0) AS n_islands,
        |  COALESCE(p.chars_dup, 0) AS chars_dup,
        |  (10000 * COALESCE(p.chars_dup, 0)) // CAST(length(d.text) AS BIGINT)
        |    AS dup_bp
        |FROM documents d LEFT JOIN prof p ON p.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    /* q183: fixed-width length bins (top bin open), per-(source, bin)
     * counts both versions, TV = sum |cA*nB - cB*nA| over bins with the
     * division LAST (HUGEINT // ≡ Spark DECIMAL div). */
    "q183_length_drift" ->
      """WITH av AS (SELECT source, length(text) AS len FROM documents),
        | bv AS (SELECT source, length(CASE WHEN doc_id % 13 = 0
        |            THEN text || ' rev2' ELSE text END) AS len
        |        FROM documents WHERE doc_id % 11 <> 0
        |        UNION ALL
        |        SELECT source, length(text) FROM documents
        |        WHERE doc_id % 17 = 0),
        | ha AS (SELECT source, LEAST(15, len // 32) AS b,
        |          CAST(COUNT(*) AS BIGINT) AS ca
        |        FROM av GROUP BY 1, 2),
        | hb AS (SELECT source, LEAST(15, len // 32) AS b,
        |          CAST(COUNT(*) AS BIGINT) AS cb
        |        FROM bv GROUP BY 1, 2),
        | j AS (SELECT COALESCE(ha.source, hb.source) AS source,
        |         COALESCE(ha.b, hb.b) AS b,
        |         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |       FROM ha FULL OUTER JOIN hb
        |         ON ha.source = hb.source AND ha.b = hb.b),
        | t AS (SELECT source, ca, cb,
        |         CAST(SUM(ca) OVER (PARTITION BY source) AS BIGINT) AS na,
        |         CAST(SUM(cb) OVER (PARTITION BY source) AS BIGINT) AS nb
        |       FROM j)
        |SELECT source, MAX(na) AS n_a, MAX(nb) AS n_b,
        |  CASE WHEN MAX(na) = 0 OR MAX(nb) = 0 THEN 10000
        |    ELSE CAST((10000 * SUM(abs(CAST(ca AS HUGEINT) * nb
        |      - CAST(cb AS HUGEINT) * na)))
        |      // (2 * CAST(MAX(na) AS HUGEINT) * MAX(nb)) AS BIGINT)
        |  END AS tv_bp
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    /* q182: the same deterministic v2 derivation, full outer join on id,
     * state by normalized-fingerprint compare, source = B's
     * (incoming-wins) with A's for removals, bounded source rollup. */
    "q182_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, source,
        |     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |     CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
        |   FROM documents),
        | bsrc AS (
        |   SELECT doc_id, source,
        |     CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
        |   FROM documents WHERE doc_id % 11 <> 0
        |   UNION ALL
        |   SELECT doc_id + 1000000, source, text FROM documents
        |   WHERE doc_id % 17 = 0),
        | b AS (SELECT doc_id, source,
        |     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |     CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
        |   FROM bsrc),
        | j AS (SELECT COALESCE(b.source, a.source) AS source,
        |         CASE WHEN a.fp IS NULL THEN 'added'
        |              WHEN b.fp IS NULL THEN 'removed'
        |              WHEN a.fp = b.fp THEN 'unchanged'
        |              ELSE 'changed' END AS state,
        |         COALESCE(a.tk, 0) AS tka, COALESCE(b.tk, 0) AS tkb
        |       FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        |SELECT source,
        |  CAST(SUM(CASE WHEN state = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(SUM(CASE WHEN state = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(SUM(CASE WHEN state = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(SUM(CASE WHEN state = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST(SUM(tkb) - SUM(tka) AS BIGINT) AS token_delta
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    /* q181: sequential funnel — q20's normalized-md5 keeper (window min),
     * the q90 band construction FILTERED to exact survivors (minhash per
     * doc is corpus-independent, so the all-docs sig CTE reuses verbatim),
     * keep-min-id = no band holds a smaller surviving id, then the q177
     * block-dedup chain over the fuzzy survivors with TOKEN accounting.
     * Sourceless fills via COALESCE; yields by integer division. */
    /* q186: q181's chain with the keep-best fuzzy keeper — per band the
     * keeper is MAX(ROW(toks, -doc_id)) (best quality, min id on ties;
     * DuckDB ROW comparison is lexicographic like Spark's struct), and a
     * doc drops iff some band strictly dominates it. Every other CTE is
     * q181's verbatim. */
    "q186_dedup_funnel_keepbest" ->
      s"""WITH $SigCte,
        | base AS (SELECT source, doc_id, text,
        |     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
        |     CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |   FROM documents),
        | ek AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS kmin FROM base),
        | es AS (SELECT * FROM ek WHERE doc_id = kmin),
        | sig2 AS (SELECT sig.* FROM sig JOIN es USING (doc_id)),
        | bands AS (
        |   SELECT doc_id, md5('B0|' || sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band FROM sig2
        |   UNION ALL
        |   SELECT doc_id, md5('B1|' || sig4 || '|' || sig5 || '|' || sig6 || '|' || sig7) AS band FROM sig2),
        | bq AS (SELECT bands.band, bands.doc_id, es.toks
        |        FROM bands JOIN es USING (doc_id)),
        | bb AS (SELECT band, MAX(ROW(toks, -doc_id)) AS bbest
        |        FROM bq GROUP BY band),
        | dropf AS (SELECT doc_id FROM bq JOIN bb USING (band)
        |           GROUP BY doc_id, toks HAVING MAX(bbest) > ROW(toks, -doc_id)),
        | fs AS (SELECT * FROM es
        |        WHERE doc_id NOT IN (SELECT doc_id FROM dropf)),
        | w2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM fs),
        | nb2 AS (SELECT doc_id, ws,
        |           CAST((len(ws) + 19) // 20 AS BIGINT) AS n FROM w2),
        | b2 AS (SELECT doc_id, CAST(bi AS BIGINT) AS bi,
        |          array_to_string(ws[(bi*20+1):(bi*20+20)], ' ') AS block
        |        FROM (SELECT doc_id, ws, unnest(range(0, n)) AS bi FROM nb2)),
        | h2 AS (SELECT doc_id, bi, block, md5(block) AS hv FROM b2),
        | k2 AS (SELECT hv, MIN(ROW(doc_id, bi)) AS kk FROM h2 GROUP BY hv),
        | kt AS (SELECT h2.doc_id,
        |          CAST(SUM(CASE WHEN k2.kk = ROW(h2.doc_id, h2.bi)
        |            THEN len(string_split(h2.block, ' ')) ELSE 0 END) AS BIGINT)
        |            AS ktoks
        |        FROM h2 JOIN k2 USING (hv) GROUP BY 1),
        | r_raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw_docs,
        |             CAST(SUM(toks) AS BIGINT) AS tokens_raw
        |           FROM base GROUP BY 1),
        | r_ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact_docs,
        |            CAST(SUM(toks) AS BIGINT) AS tokens_exact
        |          FROM es GROUP BY 1),
        | r_fz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fuzzy_docs,
        |            CAST(SUM(toks) AS BIGINT) AS tokens_fuzzy
        |          FROM fs GROUP BY 1),
        | r_pa AS (SELECT fs.source, CAST(SUM(kt.ktoks) AS BIGINT) AS tokens_para
        |          FROM fs JOIN kt USING (doc_id) GROUP BY 1)
        |SELECT r.source, r.n_raw_docs,
        |  COALESCE(e.n_exact_docs, 0) AS n_exact_docs,
        |  COALESCE(f.n_fuzzy_docs, 0) AS n_fuzzy_docs,
        |  r.tokens_raw, COALESCE(e.tokens_exact, 0) AS tokens_exact,
        |  COALESCE(f.tokens_fuzzy, 0) AS tokens_fuzzy,
        |  COALESCE(p.tokens_para, 0) AS tokens_para,
        |  CAST((10000 * COALESCE(f.n_fuzzy_docs, 0))
        |    // GREATEST(r.n_raw_docs, 1) AS BIGINT) AS doc_yield_bp,
        |  CAST((10000 * COALESCE(p.tokens_para, 0))
        |    // GREATEST(r.tokens_raw, 1) AS BIGINT) AS token_yield_bp
        |FROM r_raw r LEFT JOIN r_ex e USING (source)
        |  LEFT JOIN r_fz f USING (source) LEFT JOIN r_pa p USING (source)
        |ORDER BY r.source""".stripMargin,
    "q181_dedup_funnel" ->
      s"""WITH $SigCte,
        | base AS (SELECT source, doc_id, text,
        |     md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
        |     CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |   FROM documents),
        | ek AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS kmin FROM base),
        | es AS (SELECT * FROM ek WHERE doc_id = kmin),
        | sig2 AS (SELECT sig.* FROM sig JOIN es USING (doc_id)),
        | bands AS (
        |   SELECT doc_id, md5('B0|' || sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band FROM sig2
        |   UNION ALL
        |   SELECT doc_id, md5('B1|' || sig4 || '|' || sig5 || '|' || sig6 || '|' || sig7) AS band FROM sig2),
        | bm AS (SELECT band, MIN(doc_id) AS bmin FROM bands GROUP BY band),
        | dropf AS (SELECT doc_id FROM bands JOIN bm USING (band)
        |           GROUP BY doc_id HAVING MIN(bmin) < doc_id),
        | fs AS (SELECT * FROM es
        |        WHERE doc_id NOT IN (SELECT doc_id FROM dropf)),
        | w2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM fs),
        | nb2 AS (SELECT doc_id, ws,
        |           CAST((len(ws) + 19) // 20 AS BIGINT) AS n FROM w2),
        | b2 AS (SELECT doc_id, CAST(bi AS BIGINT) AS bi,
        |          array_to_string(ws[(bi*20+1):(bi*20+20)], ' ') AS block
        |        FROM (SELECT doc_id, ws, unnest(range(0, n)) AS bi FROM nb2)),
        | h2 AS (SELECT doc_id, bi, block, md5(block) AS hv FROM b2),
        | k2 AS (SELECT hv, MIN(ROW(doc_id, bi)) AS kk FROM h2 GROUP BY hv),
        | kt AS (SELECT h2.doc_id,
        |          CAST(SUM(CASE WHEN k2.kk = ROW(h2.doc_id, h2.bi)
        |            THEN len(string_split(h2.block, ' ')) ELSE 0 END) AS BIGINT)
        |            AS ktoks
        |        FROM h2 JOIN k2 USING (hv) GROUP BY 1),
        | r_raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw_docs,
        |             CAST(SUM(toks) AS BIGINT) AS tokens_raw
        |           FROM base GROUP BY 1),
        | r_ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact_docs,
        |            CAST(SUM(toks) AS BIGINT) AS tokens_exact
        |          FROM es GROUP BY 1),
        | r_fz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fuzzy_docs,
        |            CAST(SUM(toks) AS BIGINT) AS tokens_fuzzy
        |          FROM fs GROUP BY 1),
        | r_pa AS (SELECT fs.source, CAST(SUM(kt.ktoks) AS BIGINT) AS tokens_para
        |          FROM fs JOIN kt USING (doc_id) GROUP BY 1)
        |SELECT r.source, r.n_raw_docs,
        |  COALESCE(e.n_exact_docs, 0) AS n_exact_docs,
        |  COALESCE(f.n_fuzzy_docs, 0) AS n_fuzzy_docs,
        |  r.tokens_raw, COALESCE(e.tokens_exact, 0) AS tokens_exact,
        |  COALESCE(f.tokens_fuzzy, 0) AS tokens_fuzzy,
        |  COALESCE(p.tokens_para, 0) AS tokens_para,
        |  CAST((10000 * COALESCE(f.n_fuzzy_docs, 0))
        |    // GREATEST(r.n_raw_docs, 1) AS BIGINT) AS doc_yield_bp,
        |  CAST((10000 * COALESCE(p.tokens_para, 0))
        |    // GREATEST(r.tokens_raw, 1) AS BIGINT) AS token_yield_bp
        |FROM r_raw r LEFT JOIN r_ex e USING (source)
        |  LEFT JOIN r_fz f USING (source) LEFT JOIN r_pa p USING (source)
        |ORDER BY r.source""".stripMargin,
    /* q178: the q90 band join with a %10 split, candidate pairs verified
     * by exact shingle intersection (COUNT of matched LEFT-JOIN rows keeps
     * zero-shared banding false positives in the report), leak test as
     * integer cross-multiplication at 1/2, rollup per eval doc. */
    "q178_split_leakage" ->
      s"""WITH $SigCte,
        | bands AS (
        |   SELECT doc_id, md5('B0|' || sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band FROM sig
        |   UNION ALL
        |   SELECT doc_id, md5('B1|' || sig4 || '|' || sig5 || '|' || sig6 || '|' || sig7) AS band FROM sig),
        | cand AS (SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
        |          FROM bands n JOIN bands r ON n.band = r.band
        |          WHERE n.doc_id % 10 = 0 AND r.doc_id % 10 <> 0),
        | c AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        | pp AS (SELECT cand.new_id, cand.ref_id,
        |          CAST(COUNT(sb.sg) AS BIGINT) AS shared
        |        FROM cand JOIN sh sa ON sa.doc_id = cand.new_id
        |             LEFT JOIN sh sb ON sb.doc_id = cand.ref_id AND sb.sg = sa.sg
        |        GROUP BY 1, 2),
        | j AS (SELECT p.new_id, p.shared, ca.n AS na, cb.n AS nb,
        |         (10000 * p.shared) // (ca.n + cb.n - p.shared) AS jac_bp,
        |         (2 * p.shared >= ca.n + cb.n - p.shared) AS leak
        |       FROM pp p JOIN c ca ON ca.doc_id = p.new_id
        |                 JOIN c cb ON cb.doc_id = p.ref_id)
        |SELECT new_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |  CAST(SUM(CASE WHEN leak THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks,
        |  MAX(jac_bp) AS max_jac_bp
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    /* q177: 20-word blocks by list slicing (trailing partials kept),
     * global keeper = min (doc, position) per block md5, kept text
     * reassembled in position order, md5'd. */
    "q177_paragraph_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | nb AS (SELECT doc_id, ws,
        |          CAST((len(ws) + 19) // 20 AS BIGINT) AS n FROM w),
        | b AS (SELECT doc_id, CAST(bi AS BIGINT) AS bi,
        |          array_to_string(ws[(bi*20+1):(bi*20+20)], ' ') AS block
        |        FROM (SELECT doc_id, ws, unnest(range(0, n)) AS bi FROM nb)),
        | h AS (SELECT doc_id, bi, block, md5(block) AS hv FROM b),
        | k AS (SELECT hv, MIN(ROW(doc_id, bi)) AS kk FROM h GROUP BY hv),
        | m AS (SELECT h.doc_id, h.bi, h.block,
        |          (k.kk = ROW(h.doc_id, h.bi)) AS kept
        |        FROM h JOIN k USING (hv))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |  md5(COALESCE(string_agg(CASE WHEN kept THEN block END, ' '
        |    ORDER BY bi), '')) AS kept_fp
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    /* q176: the oracle replays the segmented min-chain with GLOBAL windows
     * (sanctioned oracle-side shortcut, q171 precedent): lcp(a,b) =
     * min(adjacent lcps) over (a,b], nearest bench dominates, so per
     * suffix best = max(running min since previous bench — bench's own
     * edge excluded, down pass — , running min to next bench — bench's
     * edge included, up pass). Every window ORDER BY rank: UNIQUE (the
     * q175 tie lesson). Argmax span via max-best join + string MAX. */
    /* q189: the q187 per-suffix chain (restricted to the shard) turned
     * into a rewrite — qualifying [off, off+best) intervals, the q175
     * gaps-and-islands merge, then the text rebuilt from the inter-island
     * gaps (LAG(me) default 1 = the gap start; string_agg ordered by the
     * island start; tail from the last island's end). Clean shard docs
     * pass through via the COALESCE(..., d.text) arms. */
    "q189_excise_contaminated" -> exciseOracle(shardMod = 1),
    /* q197: the SAME rebuild chain on q190's shard — the prune is
     * provably invisible in the manifests (every pruned suffix sits below
     * the >= 20 bar, so the interval set is identical; ExtSpec pins the
     * engine law where both plans run). */
    "q197_excise_pruned" -> exciseOracle(shardMod = 2),
    /* q196: q176's chain with the roles FLIPPED — is_b marks the CORPUS,
     * so the surviving (NOT is_b) side is the benchmark and the report is
     * per benchmark doc. */
    "q196_bench_exposure" ->
      s"""WITH $suffixCtes,
        | tg AS (SELECT l.*, (l.doc_id % 50 <> 0) AS is_b FROM lcps l),
        | sg AS (SELECT *,
        |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg,
        |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segd
        |   FROM tg),
        | mm AS (SELECT *,
        |     MIN(CASE WHEN is_b THEN NULL ELSE lcp_prev END) OVER (
        |       PARTITION BY seg ORDER BY rank
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS draw,
        |     MIN(lcp_prev) OVER (PARTITION BY segd ORDER BY rank DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS uraw
        |   FROM sg),
        | sc AS (SELECT doc_id, prefix,
        |     GREATEST(COALESCE(CASE WHEN seg >= 1 THEN draw END, 0),
        |              COALESCE(CASE WHEN segd >= 1 THEN uraw END, 0)) AS best
        |   FROM mm WHERE NOT is_b),
        | hit AS (SELECT doc_id, best,
        |           substring(prefix, 1, CAST(best AS INTEGER)) AS span
        |         FROM sc WHERE best >= 20),
        | top AS (SELECT doc_id, MAX(best) AS shared_len,
        |           CAST(COUNT(*) AS BIGINT) AS n_hits
        |         FROM hit GROUP BY 1)
        |SELECT t.doc_id, t.shared_len, MAX(h.span) AS span, t.n_hits
        |FROM top t JOIN hit h ON h.doc_id = t.doc_id AND h.best = t.shared_len
        |GROUP BY 1, 2, 4
        |ORDER BY t.doc_id""".stripMargin,
    /* q190: the q187 full-rebuild chain restricted to the ≡ 2 mod 5
     * shard. The broadcast prefix pushdown is invisible here by
     * construction — pruning never changes a verdict (no false
     * negatives; collisions exit at the >= 20 filter), so the oracle
     * states only the audit semantics, and the pruned ≡ unpruned law
     * lives in ExtSpec where both engine plans run. */
    "q190_audit_shard_pruned" ->
      s"""WITH $suffixCtes,
        | tg AS (SELECT l.*, (l.doc_id % 50 = 0) AS is_b FROM lcps l),
        | sg AS (SELECT *,
        |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg,
        |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segd
        |   FROM tg),
        | mm AS (SELECT *,
        |     MIN(CASE WHEN is_b THEN NULL ELSE lcp_prev END) OVER (
        |       PARTITION BY seg ORDER BY rank
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS draw,
        |     MIN(lcp_prev) OVER (PARTITION BY segd ORDER BY rank DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS uraw
        |   FROM sg),
        | sc AS (SELECT doc_id, prefix,
        |     GREATEST(COALESCE(CASE WHEN seg >= 1 THEN draw END, 0),
        |              COALESCE(CASE WHEN segd >= 1 THEN uraw END, 0)) AS best
        |   FROM mm WHERE NOT is_b),
        | hit AS (SELECT doc_id, best,
        |           substring(prefix, 1, CAST(best AS INTEGER)) AS span
        |         FROM sc WHERE best >= 20 AND doc_id % 5 = 2),
        | top AS (SELECT doc_id, MAX(best) AS shared_len,
        |           CAST(COUNT(*) AS BIGINT) AS n_hits
        |         FROM hit GROUP BY 1)
        |SELECT t.doc_id, t.shared_len, MAX(h.span) AS span, t.n_hits
        |FROM top t JOIN hit h ON h.doc_id = t.doc_id AND h.best = t.shared_len
        |GROUP BY 1, 2, 4
        |ORDER BY t.doc_id""".stripMargin,
    /* q187: q176's full-rebuild chain with the report restricted to the
     * audited shard (doc_id ≡ 1 mod 5) — the incremental-audit law
     * (other shards never influence a shard doc's verdict) stated as
     * SQL. Spark, by contrast, never touches the rest of the corpus. */
    "q187_audit_shard" ->
      s"""WITH $suffixCtes,
        | tg AS (SELECT l.*, (l.doc_id % 50 = 0) AS is_b FROM lcps l),
        | sg AS (SELECT *,
        |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg,
        |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segd
        |   FROM tg),
        | mm AS (SELECT *,
        |     MIN(CASE WHEN is_b THEN NULL ELSE lcp_prev END) OVER (
        |       PARTITION BY seg ORDER BY rank
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS draw,
        |     MIN(lcp_prev) OVER (PARTITION BY segd ORDER BY rank DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS uraw
        |   FROM sg),
        | sc AS (SELECT doc_id, prefix,
        |     GREATEST(COALESCE(CASE WHEN seg >= 1 THEN draw END, 0),
        |              COALESCE(CASE WHEN segd >= 1 THEN uraw END, 0)) AS best
        |   FROM mm WHERE NOT is_b),
        | hit AS (SELECT doc_id, best,
        |           substring(prefix, 1, CAST(best AS INTEGER)) AS span
        |         FROM sc WHERE best >= 20 AND doc_id % 5 = 1),
        | top AS (SELECT doc_id, MAX(best) AS shared_len,
        |           CAST(COUNT(*) AS BIGINT) AS n_hits
        |         FROM hit GROUP BY 1)
        |SELECT t.doc_id, t.shared_len, MAX(h.span) AS span, t.n_hits
        |FROM top t JOIN hit h ON h.doc_id = t.doc_id AND h.best = t.shared_len
        |GROUP BY 1, 2, 4
        |ORDER BY t.doc_id""".stripMargin,
    "q176_contamination_span" ->
      s"""WITH $suffixCtes,
        | tg AS (SELECT l.*, (l.doc_id % 50 = 0) AS is_b FROM lcps l),
        | sg AS (SELECT *,
        |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg,
        |     SUM(CASE WHEN is_b THEN 1 ELSE 0 END) OVER (ORDER BY rank DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segd
        |   FROM tg),
        | mm AS (SELECT *,
        |     MIN(CASE WHEN is_b THEN NULL ELSE lcp_prev END) OVER (
        |       PARTITION BY seg ORDER BY rank
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS draw,
        |     MIN(lcp_prev) OVER (PARTITION BY segd ORDER BY rank DESC
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS uraw
        |   FROM sg),
        | sc AS (SELECT doc_id, prefix,
        |     GREATEST(COALESCE(CASE WHEN seg >= 1 THEN draw END, 0),
        |              COALESCE(CASE WHEN segd >= 1 THEN uraw END, 0)) AS best
        |   FROM mm WHERE NOT is_b),
        | hit AS (SELECT doc_id, best,
        |           substring(prefix, 1, CAST(best AS INTEGER)) AS span
        |         FROM sc WHERE best >= 20),
        | top AS (SELECT doc_id, MAX(best) AS shared_len,
        |           CAST(COUNT(*) AS BIGINT) AS n_hits
        |         FROM hit GROUP BY 1)
        |SELECT t.doc_id, t.shared_len, MAX(h.span) AS span, t.n_hits
        |FROM top t JOIN hit h ON h.doc_id = t.doc_id AND h.best = t.shared_len
        |GROUP BY 1, 2, 4
        |ORDER BY t.doc_id""".stripMargin,
    /* q173: the q172 pair set canonicalized, the q158 both-endpoints
     * top-4 cap (score-free → partner asc; no ties, so row_number is the
     * aggregator's order), then the q120 rewrite chain verbatim with
     * run >= 4. */
    "q173_exact_span_rewrite" ->
      s"""WITH $suffixCtes,
        | pr0 AS (SELECT DISTINCT least(prev_doc, doc_id) AS doc_a,
        |           greatest(prev_doc, doc_id) AS doc_b
        |         FROM lcps WHERE lcp_prev >= 20 AND prev_doc <> doc_id),
        | dbl AS (SELECT doc_a AS d, doc_b AS partner FROM pr0
        |         UNION ALL SELECT doc_b, doc_a FROM pr0),
        | keepr AS (SELECT d, partner FROM dbl
        |           QUALIFY row_number() OVER (PARTITION BY d ORDER BY partner) <= 4),
        | pr AS (SELECT pr0.doc_a, pr0.doc_b FROM pr0
        |        JOIN keepr k1 ON k1.d = pr0.doc_a AND k1.partner = pr0.doc_b
        |        JOIN keepr k2 ON k2.d = pr0.doc_b AND k2.partner = pr0.doc_a),
        | b2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | tk AS (SELECT doc_id, unnest(ws) AS tok,
        |          generate_subscripts(ws, 1) AS p FROM b2),
        | mm AS (SELECT pr.doc_a, pr.doc_b, ta.p AS i, ta.p - tb.p AS d
        |        FROM pr JOIN tk ta ON ta.doc_id = pr.doc_a
        |                JOIN tk tb ON tb.doc_id = pr.doc_b AND tb.tok = ta.tok),
        | isl AS (SELECT doc_a, doc_b, d, i,
        |           i - row_number() OVER (PARTITION BY doc_a, doc_b, d
        |                                  ORDER BY i) AS grp
        |         FROM mm),
        | runs AS (SELECT doc_a, doc_b, d, grp, COUNT(*) AS run
        |          FROM isl GROUP BY 1, 2, 3, 4),
        | rem AS (SELECT DISTINCT isl.doc_b AS doc_id, isl.i - isl.d AS p
        |         FROM isl JOIN runs USING (doc_a, doc_b, d, grp)
        |         WHERE runs.run >= 4),
        | aff AS (SELECT DISTINCT doc_id FROM rem)
        |SELECT t.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(r.p) AS BIGINT) AS n_removed,
        |  md5(COALESCE(array_to_string(
        |    list(t.tok ORDER BY t.p) FILTER (WHERE r.p IS NULL), ' '), ''))
        |    AS kept_fp
        |FROM tk t JOIN aff USING (doc_id)
        |LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.p = t.p
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    /* q156: re-crawl union, md5-of-normalized fingerprints, min-id keeper
     * join, two source rollups, exact-bp ratios. */
    "q156_dedup_yield" ->
      """WITH u AS (SELECT doc_id, source, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 10000, source, text FROM documents
        |           WHERE doc_id % 2 = 0),
        | b AS (SELECT source, doc_id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM u),
        | a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(toks) AS BIGINT) AS n_tokens FROM b GROUP BY source),
        | k AS (SELECT fp, MIN(doc_id) AS keep_id FROM b GROUP BY fp),
        | kk AS (SELECT b.source, b.toks FROM b
        |        JOIN k ON b.fp = k.fp AND b.doc_id = k.keep_id),
        | ks AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS kept_docs,
        |         CAST(SUM(toks) AS BIGINT) AS kept_tokens FROM kk GROUP BY source)
        |SELECT a.source, n_docs, n_tokens,
        |  COALESCE(kept_docs, 0) AS kept_docs,
        |  COALESCE(kept_tokens, 0) AS kept_tokens,
        |  CAST((n_docs - COALESCE(kept_docs, 0)) * 10000
        |       // GREATEST(n_docs, 1) AS BIGINT) AS dup_doc_bp,
        |  CAST(COALESCE(kept_tokens, 0) * 10000
        |       // GREATEST(n_tokens, 1) AS BIGINT) AS token_yield_bp
        |FROM a LEFT JOIN ks USING (source) ORDER BY source""".stripMargin,
    /* q142: the planner's closed-form curve replayed in exact integers —
     * powers by recursive-CTE product chains (c^r via pw; (100^r − c^r)^b
     * via the carried-base mpow recursion), the sampled histogram by the
     * same mod-5 shingle posting join, expectations on HUGEINT, selection
     * by the identical (qual, key, bands) preference order. */
    "q142_lsh_plan" ->
      s"""WITH RECURSIVE
         | w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents
         |        WHERE doc_id % 5 = 0),
         | t AS (SELECT doc_id, unnest(ws) tok, generate_subscripts(ws, 1) i FROM w),
         | shl AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sg
         |        FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |                 JOIN t c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
         | dfok AS (SELECT sg FROM shl GROUP BY sg HAVING COUNT(*) <= 1000),
         | s AS (SELECT shl.doc_id, shl.sg FROM shl JOIN dfok USING (sg)),
         | cnts AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
         | shr AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) AS sh2
         |   FROM s a JOIN s b ON a.sg = b.sg AND a.doc_id < b.doc_id GROUP BY 1, 2),
         | hist AS (SELECT (100 * sh2) // (ca.n + cb.n - sh2) AS hc, COUNT(*) AS h
         |   FROM shr JOIN cnts ca ON ca.doc_id = da JOIN cnts cb ON cb.doc_id = db
         |   GROUP BY 1),
         | grid AS (SELECT * FROM (VALUES (1, 8), (2, 4), (4, 2), (8, 1))
         |   g(bands, rows_per_band)),
         | cs AS (SELECT c FROM range(1, 101) r(c)),
         | pw AS (
         |   SELECT c AS base, 0 AS e, CAST(1 AS HUGEINT) AS v FROM cs
         |   UNION ALL SELECT base, e + 1, v * base FROM pw WHERE e < 8),
         | mb0 AS (SELECT g.bands, g.rows_per_band, cs.c, pq.v - pc.v AS m
         |   FROM grid g CROSS JOIN cs
         |   JOIN pw pq ON pq.base = 100 AND pq.e = g.rows_per_band
         |   JOIN pw pc ON pc.base = cs.c AND pc.e = g.rows_per_band),
         | mpow AS (
         |   SELECT bands, rows_per_band, c, m, 0 AS e, CAST(1 AS HUGEINT) AS v
         |     FROM mb0
         |   UNION ALL SELECT bands, rows_per_band, c, m, e + 1, v * m
         |     FROM mpow WHERE e < bands),
         | curve AS (SELECT bands, rows_per_band, c,
         |     (CAST(10000 AS HUGEINT) * (CAST(10000000000000000 AS HUGEINT) - v))
         |       // CAST(10000000000000000 AS HUGEINT) AS p_bp
         |   FROM mpow WHERE e = bands),
         | wh AS (SELECT cv.bands, cv.rows_per_band, cv.c, cv.p_bp,
         |     COALESCE(h.h, 0) AS h
         |   FROM curve cv LEFT JOIN hist h ON h.hc = cv.c),
         | br AS (SELECT bands, rows_per_band,
         |     MIN(CASE WHEN p_bp >= 5000 THEN c END) AS s50_centis,
         |     MAX(CASE WHEN c = 80 THEN p_bp END) AS p_at_target_bp,
         |     SUM(h * p_bp) AS exp_cand_x10k,
         |     SUM(CASE WHEN c >= 80 THEN h * p_bp ELSE 0 END) AS exp_true_x10k,
         |     SUM(CASE WHEN c >= 80 THEN h ELSE 0 END) AS true_pairs
         |   FROM wh GROUP BY 1, 2),
         | m2 AS (SELECT *,
         |     CASE WHEN true_pairs > 0 THEN exp_true_x10k // true_pairs END AS recall_bp,
         |     CASE WHEN exp_cand_x10k > 0
         |       THEN (CAST(10000 AS HUGEINT) * exp_true_x10k) // exp_cand_x10k
         |       END AS precision_bp
         |   FROM br),
         | sel AS (SELECT *,
         |     CASE WHEN COALESCE(recall_bp, -1) >= 9000 THEN 1 ELSE 0 END AS qual
         |   FROM m2),
         | rk AS (SELECT *, row_number() OVER (ORDER BY qual DESC,
         |     CASE WHEN qual = 1 THEN -exp_cand_x10k
         |          ELSE CAST(COALESCE(recall_bp, -1) AS HUGEINT) END DESC,
         |     bands ASC) AS rn FROM sel)
         |SELECT CAST(bands AS INT) AS bands,
         |  CAST(rows_per_band AS INT) AS rows_per_band,
         |  CAST(s50_centis AS BIGINT) AS s50_centis,
         |  CAST(p_at_target_bp AS BIGINT) AS p_at_target_bp,
         |  CAST(exp_cand_x10k AS BIGINT) AS exp_cand_x10k,
         |  CAST(exp_true_x10k AS BIGINT) AS exp_true_x10k,
         |  CAST(true_pairs AS BIGINT) AS true_pairs,
         |  CAST(recall_bp AS BIGINT) AS recall_bp,
         |  CAST(precision_bp AS BIGINT) AS precision_bp,
         |  CASE WHEN rn = 1 THEN 1 ELSE 0 END AS selected
         |FROM rk ORDER BY bands""".stripMargin,
    /* q116: the q115 chain's pair set, then the relational LCS — token-
     * position join, diagonal d = i − j, islands of consecutive i within a
     * diagonal (i − row_number constant on an island), longest run = max
     * island size. */
    /* q120: the q116 chain extended with the removal tier — islands keep
     * their i so qualifying runs (≥ 11) map back to positions j = i − d in
     * the later doc; the union of covered positions is one DISTINCT; the
     * rewritten doc reassembles with an ordered FILTER list aggregate. */
    "q120_span_rewrite" ->
      s"""WITH $winnowCtes,
         | tk AS (SELECT doc_id, unnest(ws) AS tok,
         |          generate_subscripts(ws, 1) AS p FROM b),
         | mm AS (SELECT pr.doc_a, pr.doc_b, ta.p AS i, ta.p - tb.p AS d
         |        FROM pr JOIN tk ta ON ta.doc_id = pr.doc_a
         |                JOIN tk tb ON tb.doc_id = pr.doc_b AND tb.tok = ta.tok),
         | isl AS (SELECT doc_a, doc_b, d, i,
         |           i - row_number() OVER (PARTITION BY doc_a, doc_b, d
         |                                  ORDER BY i) AS grp
         |         FROM mm),
         | runs AS (SELECT doc_a, doc_b, d, grp, COUNT(*) AS run
         |          FROM isl GROUP BY 1, 2, 3, 4),
         | rem AS (SELECT DISTINCT isl.doc_b AS doc_id, isl.i - isl.d AS p
         |         FROM isl JOIN runs USING (doc_a, doc_b, d, grp)
         |         WHERE runs.run >= 11),
         | aff AS (SELECT DISTINCT doc_id FROM rem)
         |SELECT t.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(COUNT(r.p) AS BIGINT) AS n_removed,
         |  md5(COALESCE(array_to_string(
         |    list(t.tok ORDER BY t.p) FILTER (WHERE r.p IS NULL), ' '), ''))
         |    AS kept_fp
         |FROM tk t JOIN aff USING (doc_id)
         |LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.p = t.p
         |GROUP BY t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "q116_shared_spans" ->
      s"""WITH $winnowCtes,
         | tk AS (SELECT doc_id, unnest(ws) AS tok,
         |          generate_subscripts(ws, 1) AS p FROM b),
         | mm AS (SELECT pr.doc_a, pr.doc_b, ta.p AS i, ta.p - tb.p AS d
         |        FROM pr JOIN tk ta ON ta.doc_id = pr.doc_a
         |                JOIN tk tb ON tb.doc_id = pr.doc_b AND tb.tok = ta.tok),
         | isl AS (SELECT doc_a, doc_b, d,
         |           i - row_number() OVER (PARTITION BY doc_a, doc_b, d
         |                                  ORDER BY i) AS grp
         |         FROM mm),
         | runs AS (SELECT doc_a, doc_b, d, grp, COUNT(*) AS run
         |          FROM isl GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b,
         |  CAST(SUM(run) AS BIGINT) AS n_matched_positions,
         |  CAST(MAX(run) AS BIGINT) AS longest_shared_run
         |FROM runs GROUP BY doc_a, doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    /* q115: winnowing replayed exactly — same two-window selection (min over
     * the following w frame, then max of those mins over the preceding w
     * frame equals own hash), same df cap and pair aggregate; ratio as
     * integer basis points. */
    "q115_winnow_overlap" ->
      s"""WITH $winnowCtes
         |SELECT pr.doc_a, pr.doc_b, CAST(pr.shared AS BIGINT) AS shared_fp,
         |  CAST(na.nf AS BIGINT) AS na_fp, CAST(nb.nf AS BIGINT) AS nb_fp,
         |  CAST((10000 * pr.shared) // (na.nf + nb.nf - pr.shared) AS BIGINT)
         |    AS overlap_bp
         |FROM pr JOIN n na ON na.doc_id = pr.doc_a
         |        JOIN n nb ON nb.doc_id = pr.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    /* q109: identical construction — rarest-first (freq, token) order via
     * ordered list() aggregate, integer prefix length and cross-multiplied
     * threshold tests, list_intersect for the exact verify. */
    /* q112: the q109 chain with the containment variants of the three
     * filters — contained-side prefix vs container-side FULL posting list
     * with 1-based positions, length filter on the container, positional
     * filter j ≤ n_out − ⌈t·n_in⌉ + 1; accept on tDen·shared ≥ tNum·n_in;
     * ratio as integer basis points (no float rounding cross-engine). */
    "q112_containment" ->
      s"""WITH $ShinglesCte,
         | f AS (SELECT sg, COUNT(*) AS fr FROM sh GROUP BY sg),
         | o AS (SELECT doc_id, list(sg ORDER BY fr, sg) AS toks,
         |         COUNT(*) AS n
         |       FROM sh JOIN f USING (sg) GROUP BY doc_id),
         | p AS (SELECT doc_id, n,
         |         unnest(list_slice(toks, 1, n - ((9 * n + 9) // 10) + 1)) AS sg
         |       FROM o),
         | ft AS (SELECT doc_id, n, unnest(toks) AS sg,
         |          generate_subscripts(toks, 1) AS j
         |        FROM o),
         | c AS (SELECT DISTINCT p.doc_id AS doc_in, b.doc_id AS doc_out
         |       FROM p JOIN ft b ON p.sg = b.sg AND p.doc_id <> b.doc_id
         |        AND 10 * b.n >= 9 * p.n
         |        AND b.j <= b.n - ((9 * p.n + 9) // 10) + 1),
         | v AS (SELECT doc_in, doc_out,
         |         len(list_intersect(oa.toks, ob.toks)) AS shared,
         |         oa.n AS na, ob.n AS nb
         |       FROM c JOIN o oa ON oa.doc_id = doc_in
         |              JOIN o ob ON ob.doc_id = doc_out)
         |SELECT doc_in, doc_out, CAST(shared AS BIGINT) AS shared,
         |  CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         |  CAST((10000 * shared) // na AS BIGINT) AS containment_bp
         |FROM v WHERE 10 * shared >= 9 * na
         |ORDER BY doc_in, doc_out""".stripMargin,
    /* q132: postings = DISTINCT doc shingles; pair intersection via the
     * posting self-join (df cap 1000 — inactive at this corpus, verified
     * exact); cosine = inter / (sqrt(n_a)*sqrt(n_b)), one sqrt per side
     * like Spark. */
    "q132_cosine_pairs" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
        |            FROM documents),
        | sh AS (SELECT DISTINCT doc_id,
        |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sg
        |        FROM tk, unnest(range(1, len(t) - 1)) AS u(i)
        |        WHERE len(t) >= 3),
        | sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        | dfc AS (SELECT sg FROM (SELECT sg, COUNT(*) AS df FROM sh GROUP BY 1)
        |         WHERE df <= 1000),
        | kept AS (SELECT s.doc_id, s.sg FROM sh s JOIN dfc ON dfc.sg = s.sg),
        | pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |        FROM kept a JOIN kept b
        |          ON a.sg = b.sg AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2)
        |SELECT p.doc_a, p.doc_b, x.n AS n_a, y.n AS n_b, p.inter,
        |  CAST(p.inter AS DOUBLE) /
        |    (sqrt(CAST(x.n AS DOUBLE)) * sqrt(CAST(y.n AS DOUBLE))) AS cos
        |FROM pr p JOIN sz x ON x.doc_id = p.doc_a
        |          JOIN sz y ON y.doc_id = p.doc_b
        |WHERE CAST(p.inter AS DOUBLE) /
        |    (sqrt(CAST(x.n AS DOUBLE)) * sqrt(CAST(y.n AS DOUBLE))) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    /* q161: the positional dHash replayed relationally — code-point values
     * by unicode(substring), balanced segments by ((p−1)·64) div L over a
     * dense 64-segment grid (COALESCE 0 for short texts), 63 adjacent-
     * difference bits, the same 4-band split, and bit_count(xor) verify. */
    "q161_hamming_neardup" ->
      """WITH ch AS (SELECT doc_id, p, unicode(substring(text, p, 1)) AS v,
        |         CAST(((p - 1) * 64) // len(text) AS INT) AS seg
        |       FROM documents, unnest(range(1, len(text) + 1)) u(p)),
        | segs AS (SELECT doc_id, seg, CAST(SUM(v) AS BIGINT) AS s
        |          FROM ch GROUP BY 1, 2),
        | grid AS (SELECT d.doc_id, g.seg
        |          FROM documents d, unnest(range(0, 64)) g(seg)),
        | s2 AS (SELECT g.doc_id, g.seg, COALESCE(s.s, 0) AS s
        |        FROM grid g LEFT JOIN segs s USING (doc_id, seg)),
        | bits AS (SELECT a.doc_id, a.seg AS i,
        |           CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        |          FROM s2 a JOIN s2 b ON b.doc_id = a.doc_id
        |            AND b.seg = a.seg + 1 AND a.seg < 63),
        | h AS (SELECT doc_id,
        |         CAST(SUM(bit * (CAST(1 AS BIGINT) << i)) AS BIGINT) AS dh
        |       FROM bits GROUP BY 1),
        | bands AS (SELECT doc_id, dh, b,
        |            CASE WHEN b < 3 THEN (dh >> (16 * b)) & 65535
        |                 ELSE dh >> 48 END AS bv
        |           FROM h, unnest(range(0, 4)) u(b)),
        | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
        |            a.dh AS dha, b.dh AS dhb
        |          FROM bands a JOIN bands b
        |            ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT da AS doc_a, db AS doc_b,
        |  CAST(bit_count(xor(dha, dhb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(dha, dhb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    /* q158: the q132 pair set, both-endpoint ranks by row_number
     * (cos DESC, partner ASC) — the same total order as the Spark TopK
     * aggregator — crossed with the k grid; kept iff both ranks <= k;
     * docs_truncated = distinct endpoints of dropped pairs. */
    "q158_pair_cap_curve" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t
        |            FROM documents),
        | sh AS (SELECT DISTINCT doc_id,
        |         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sg
        |        FROM tk, unnest(range(1, len(t) - 1)) AS u(i)
        |        WHERE len(t) >= 3),
        | sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        | dfc AS (SELECT sg FROM (SELECT sg, COUNT(*) AS df FROM sh GROUP BY 1)
        |         WHERE df <= 1000),
        | kept AS (SELECT s.doc_id, s.sg FROM sh s JOIN dfc ON dfc.sg = s.sg),
        | pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |        FROM kept a JOIN kept b
        |          ON a.sg = b.sg AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        | fp AS (SELECT p.doc_a, p.doc_b,
        |         CAST(p.inter AS DOUBLE) /
        |           (sqrt(CAST(x.n AS DOUBLE)) * sqrt(CAST(y.n AS DOUBLE))) AS cos
        |        FROM pr p JOIN sz x ON x.doc_id = p.doc_a
        |                  JOIN sz y ON y.doc_id = p.doc_b
        |        WHERE CAST(p.inter AS DOUBLE) /
        |           (sqrt(CAST(x.n AS DOUBLE)) * sqrt(CAST(y.n AS DOUBLE))) >= 0.5),
        | sided AS (SELECT doc_a AS d, doc_b AS p2, cos FROM fp
        |           UNION ALL SELECT doc_b, doc_a, cos FROM fp),
        | rk AS (SELECT d, p2, row_number() OVER
        |           (PARTITION BY d ORDER BY cos DESC, p2 ASC) AS r FROM sided),
        | pra AS (SELECT fp.doc_a, fp.doc_b, ra.r AS ra, rb.r AS rb
        |         FROM fp JOIN rk ra ON ra.d = fp.doc_a AND ra.p2 = fp.doc_b
        |                 JOIN rk rb ON rb.d = fp.doc_b AND rb.p2 = fp.doc_a),
        | kg AS (SELECT k FROM (VALUES (1), (2), (4)) g(k)),
        | x AS (SELECT kg.k, doc_a, doc_b,
        |         CASE WHEN ra > kg.k OR rb > kg.k THEN 1 ELSE 0 END AS dropped
        |       FROM pra CROSS JOIN kg),
        | pa AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS pairs_total,
        |         CAST(SUM(CASE WHEN dropped = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS pairs_kept
        |       FROM x GROUP BY k),
        | da AS (SELECT k,
        |         CAST(COUNT(DISTINCT CASE WHEN dropped = 1 THEN doc END) AS BIGINT)
        |           AS docs_truncated
        |       FROM (SELECT k, dropped, doc_a AS doc FROM x
        |             UNION ALL SELECT k, dropped, doc_b FROM x)
        |       GROUP BY k)
        |SELECT CAST(pa.k AS INT) AS k, pairs_total, pairs_kept,
        |  pairs_total - pairs_kept AS pairs_dropped, docs_truncated
        |FROM pa JOIN da USING (k) ORDER BY k""".stripMargin,
    "q109_prefix_jaccard" ->
      s"""WITH $ShinglesCte,
         | f AS (SELECT sg, COUNT(*) AS fr FROM sh GROUP BY sg),
         | o AS (SELECT doc_id, list(sg ORDER BY fr, sg) AS toks,
         |         COUNT(*) AS n
         |       FROM sh JOIN f USING (sg) GROUP BY doc_id),
         | p AS (SELECT doc_id, n,
         |         unnest(list_slice(toks, 1, n - ((4 * n + 4) // 5) + 1)) AS sg
         |       FROM o),
         | c AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM p a JOIN p b ON a.sg = b.sg AND a.doc_id < b.doc_id
         |        AND 5 * least(a.n, b.n) >= 4 * greatest(a.n, b.n)),
         | v AS (SELECT doc_a, doc_b,
         |         len(list_intersect(oa.toks, ob.toks)) AS shared,
         |         oa.n AS na, ob.n AS nb
         |       FROM c JOIN o oa ON oa.doc_id = doc_a
         |              JOIN o ob ON ob.doc_id = doc_b)
         |SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
         |  CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         |  round(CAST(shared AS DOUBLE) / CAST(na + nb - shared AS DOUBLE), 4)
         |    AS jaccard
         |FROM v WHERE 5 * shared >= 4 * (na + nb - shared)
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q100_triangles" ->
      s"""WITH $SigCte,
         | bands AS (
         |   SELECT doc_id, md5('B0|' || sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band FROM sig
         |   UNION ALL
         |   SELECT doc_id, md5('B1|' || sig4 || '|' || sig5 || '|' || sig6 || '|' || sig7) AS band FROM sig),
         | pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |   FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         | wedge AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |   FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a),
         | tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
         |   FROM wedge w JOIN pairs e3 ON w.x = e3.a AND w.z = e3.b),
         | nn AS (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) AS n_nodes
         |   FROM (SELECT a AS v FROM pairs UNION ALL SELECT b FROM pairs)),
         | ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
         |SELECT n_nodes, n_edges, n_triangles FROM nn, ne, tri""".stripMargin,
    "q104_lsh_eval" ->
      s"""WITH $SigCte,
         | bands AS (
         |   SELECT doc_id, md5('B0|' || sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band FROM sig
         |   UNION ALL
         |   SELECT doc_id, md5('B1|' || sig4 || '|' || sig5 || '|' || sig6 || '|' || sig7) AS band FROM sig),
         | pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |   FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         | cand AS (SELECT a, b FROM pairs WHERE a % 3 = 0 AND b % 3 = 0),
         | sub AS (SELECT * FROM sh WHERE doc_id % 3 = 0),
         | c AS (SELECT doc_id, COUNT(*) n FROM sub GROUP BY doc_id),
         | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |       FROM sub a JOIN sub b ON a.sg = b.sg AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         | truth AS (SELECT doc_a AS a, doc_b AS b FROM p
         |   JOIN c ca ON ca.doc_id = doc_a JOIN c cb ON cb.doc_id = doc_b
         |   WHERE CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) >= 0.95),
         | nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
         | nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
         | nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
         |   FROM cand JOIN truth ON cand.a = truth.a AND cand.b = truth.b)
         |SELECT n_candidates, n_truth, n_hits,
         |  CAST(n_hits AS DOUBLE) / CAST(n_candidates AS DOUBLE) AS precision,
         |  CAST(n_hits AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
         |FROM nc, nt, nh""".stripMargin,
    "q77_span_dedup" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | s AS (SELECT doc_id, toks,
        |        unnest(range(0, greatest(len(toks), 1), 8)) AS start_tok FROM b),
        | sp AS (SELECT doc_id, CAST(start_tok // 8 AS BIGINT) AS chunk_id,
        |          array_to_string(toks[start_tok+1 : start_tok+8], ' ') AS chunk_text
        |        FROM s),
        | f AS (SELECT chunk_text, MIN(doc_id * 1000000 + chunk_id) AS fk
        |       FROM sp GROUP BY chunk_text),
        | k AS (SELECT sp.doc_id, sp.chunk_id, sp.chunk_text
        |       FROM sp JOIN f ON sp.chunk_text = f.chunk_text
        |        AND sp.doc_id * 1000000 + sp.chunk_id = f.fk),
        | pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM sp GROUP BY doc_id),
        | ka AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_spans,
        |          string_agg(chunk_text, ' ' ORDER BY chunk_id) AS text_deduped
        |        FROM k GROUP BY doc_id)
        |SELECT pd.doc_id, pd.n_spans,
        |  COALESCE(ka.kept_spans, 0) AS kept_spans,
        |  COALESCE(ka.text_deduped, '') AS text_deduped
        |FROM pd LEFT JOIN ka ON pd.doc_id = ka.doc_id
        |ORDER BY pd.doc_id""".stripMargin,
    "q70_ngram_novelty" ->
      s"""WITH $ShinglesCte,
         | sub AS (SELECT * FROM sh WHERE doc_id < 350),
         | f AS (SELECT sg, MIN(doc_id) AS fd FROM sub GROUP BY sg),
         | j AS (SELECT s.doc_id, COUNT(*) AS n_grams,
         |         SUM(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END) AS novel
         |       FROM sub s JOIN f ON f.sg = s.sg GROUP BY s.doc_id)
         |SELECT doc_id, n_grams, CAST(novel AS BIGINT) AS novel_grams,
         |  round(CAST(novel AS DOUBLE) / CAST(n_grams AS DOUBLE), 4) AS novelty
         |FROM j ORDER BY doc_id""".stripMargin,
    "q20_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        |FROM documents
        |GROUP BY 1
        |ORDER BY fingerprint""".stripMargin,
    "q21_minhash_signature" ->
      s"""WITH $SigCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin,
    "q91_pagerank" -> {
      // unrolled damped-PageRank iterations: r_{i} from r_{i-1}, all BIGINT
      // (// is DuckDB floor division ≡ Spark `div` on non-negatives)
      val iters = (1 to 5).map { i =>
        s"""r$i AS (SELECT d.node,
           |   CAST(150000000000 + (85 * COALESCE(s.inflow, 0)) // 100 AS BIGINT) AS rank
           | FROM deg d LEFT JOIN (
           |   SELECT e.dst AS node, CAST(SUM(r.rank // g.outdeg) AS BIGINT) AS inflow
           |   FROM r${i - 1} r JOIN deg g ON r.node = g.node
           |   JOIN edges e ON r.node = e.src
           |   GROUP BY e.dst) s ON d.node = s.node)""".stripMargin
      }.mkString(",\n ")
      s"""WITH $SigCte,
         | bands AS (
         |   SELECT doc_id, md5('B0|' || sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band FROM sig
         |   UNION ALL
         |   SELECT doc_id, md5('B1|' || sig4 || '|' || sig5 || '|' || sig6 || '|' || sig7) AS band FROM sig),
         | pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |   FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
         | edges AS (SELECT a AS src, b AS dst FROM pairs
         |   UNION ALL SELECT b AS src, a AS dst FROM pairs),
         | deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
         |   FROM edges GROUP BY src),
         | r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM deg),
         | $iters
         |SELECT node, rank FROM r5 ORDER BY node""".stripMargin
    },
    "q90_cross_corpus" ->
      s"""WITH $SigCte,
         | bands AS (
         |   SELECT doc_id, md5('B0|' || sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band FROM sig
         |   UNION ALL
         |   SELECT doc_id, md5('B1|' || sig4 || '|' || sig5 || '|' || sig6 || '|' || sig7) AS band FROM sig)
         |SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
         |FROM bands n JOIN bands r ON n.band = r.band
         |WHERE n.doc_id % 2 = 1 AND r.doc_id % 2 = 0
         |ORDER BY new_id, ref_id""".stripMargin,
    /* q200: the q90 bands, but the pair set is everything TOUCHING the
     * shard (odd ids): shard-vs-corpus in either band role, plus
     * shard-internal pairs oriented smaller-id-first. */
    "q200_neardup_index" ->
      s"""WITH $SigCte,
         | bands AS (
         |   SELECT doc_id, md5('B0|' || sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band FROM sig
         |   UNION ALL
         |   SELECT doc_id, md5('B1|' || sig4 || '|' || sig5 || '|' || sig6 || '|' || sig7) AS band FROM sig)
         |SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
         |FROM bands n JOIN bands r ON n.band = r.band
         |WHERE n.doc_id % 2 = 1
         |  AND (r.doc_id % 2 = 0 OR n.doc_id < r.doc_id)
         |ORDER BY new_id, ref_id""".stripMargin,
    "q22_lsh_band_pairs" ->
      s"""WITH $SigCte,
         | bands AS (
         |   SELECT doc_id, md5('B0|' || sig0 || '|' || sig1 || '|' || sig2 || '|' || sig3) AS band FROM sig
         |   UNION ALL
         |   SELECT doc_id, md5('B1|' || sig4 || '|' || sig5 || '|' || sig6 || '|' || sig7) AS band FROM sig)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q23_simhash" -> {
      val sums = (0 until 16)
        .map(b => s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
        .mkString(",\n   ")
      val bits = (0 until 16)
        .map(b => s"(CASE WHEN s$b > 0 THEN ${1 << b} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
         | t AS (SELECT doc_id, unnest(ws) tok FROM w),
         | h AS (SELECT doc_id, ${hex16Sql("tok")} AS hv FROM t),
         | s AS (SELECT doc_id,
         |   $sums
         | FROM h GROUP BY doc_id)
         |SELECT doc_id, CAST($bits AS INTEGER) AS simhash
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "q24_ngram_jaccard" ->
      s"""WITH $ShinglesCte,
         | sub AS (SELECT * FROM sh WHERE doc_id < 350),
         | c AS (SELECT doc_id, COUNT(*) n FROM sub GROUP BY doc_id),
         | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
         |       FROM sub a JOIN sub b ON a.sg = b.sg AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         | j AS (SELECT doc_a, doc_b, shared, ca.n AS na, cb.n AS nb,
         |         CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jac
         |       FROM p JOIN c ca ON ca.doc_id = doc_a JOIN c cb ON cb.doc_id = doc_b)
         |SELECT doc_a, doc_b, shared, na, nb, round(jac, 4) AS jaccard
         |FROM j WHERE jac >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q30_fingerprint" ->
      s"""WITH b AS (SELECT doc_id,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_md5,
         |    CAST(length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS BIGINT) AS n_norm_chars,
         |    list_transform(string_split(text, ' '), tok -> CAST(${hex16Sql("tok")} AS BIGINT)) AS hs
         |  FROM documents)
         |SELECT doc_id, fp_md5, n_norm_chars,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), hs), (acc, h) -> (acc * 31 + h) % 2147483647) AS roll_hash
         |FROM b ORDER BY doc_id""".stripMargin
  )
}
