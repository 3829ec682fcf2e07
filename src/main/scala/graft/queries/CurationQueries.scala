package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Sampling, TextOps, Urls}
import graft.util.Output.tinySort
import graft.util.Tables.load

/** Corpus-curation capstone: the training-data operators composed into one
  * pipeline — quality scoring → language filter → exact dedup (keep lowest
  * id per fingerprint) — the shape of a pre-training data curation pass.
  * Every stage is a map-side expression except the dedup's single
  * hash-shuffle on the 16-byte fingerprint.
  */
object CurationQueries {

  private val Stopwords = Seq("the", "a", "or", "and", "of")

  /** The q42 stage stack, shared verbatim by the q53 capstone so the unit
    * query and the composed pipeline cannot drift: quality/language/
    * fingerprint scoring (map-side) → exact-dup keep-lowest-id (ONE
    * hash-shuffle on the 16-byte fingerprint) → quality > 0.5 ∧ lang = en.
    * `extra` columns (q53's `source`) ride the projection. Returns one row
    * per kept doc: (doc_id, extra…, text, quality, lang_pred, fp). */
  private def curatedDocs(docs: DataFrame, extra: Seq[String]): DataFrame = {
    // quality + language in one fused codegen pass
    // ([[graft.functions.TextStats]] — bit-identical to the TextOps
    // expression forms the oracle mirrors; two-step select so
    // CollapseProject keeps ONE kernel call per row)
    val scored = docs.select(
      (col("doc_id") +: extra.map(col)) ++ Seq(col("text"),
        graft.functions.TextStats.textStats(col("text"), Stopwords).as("_t"),
        TextOps.fingerprintMd5(col("text")).as("fp")): _*)
      .withColumn("quality", col("_t.quality"))
      .withColumn("lang_pred", col("_t.lang_pred"))
      .drop("_t")
    val keep = Dedup.exactDupGroups(docs, "doc_id", "text")
      .select(col("fingerprint").as("fp"), col("keep_id"))
    scored
      .join(keep, Seq("fp"))
      .filter(col("doc_id") === col("keep_id") &&
        col("quality") > 0.5 && col("lang_pred") === "en")
  }

  def q42CorpusCuration(spark: SparkSession, dir: String): DataFrame =
    curatedDocs(load(spark, dir, "documents"), Nil)
      .select(col("doc_id"), col("quality"), col("lang_pred"), col("fp"))
      .transform(tinySort(_, col("doc_id")))

  /** Per-source token-budget sampling — the mixture-building primitive: each
    * source contributes documents in deterministic md5(doc_id) order (hash
    * order ≡ uniform sample, engine-portable) until its running token total
    * crosses the budget; the crossing document is included, then the source
    * stops. One running-total window PER SOURCE (shuffle keyed on source,
    * each partition scanned once) — no global sort, no collect: the shape
    * that builds a 100 TB pre-training mixture. */
  def q48TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val budget = 800L
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextOps.reTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .transform(tinySort(_, col("source"), col("doc_id")))
  }

  /** q127 — water-filling token-budget allocation
    * ([[graft.ext.Mixture.waterFill]]): q48 spends a FIXED budget inside
    * each source; this is the step BEFORE it — deciding each source's
    * budget. 90% of the corpus' tokens are distributed across sources
    * proportionally to document count, capped at each source's inventory:
    * token-poor sources saturate, the freed budget redistributes (the
    * closed-form prefix-cut spelling — one window pass over the
    * domain table, no iteration, exact-integer allocations). */
  def q127WaterFill(spark: SparkSession, dir: String): DataFrame = {
    val domains = load(spark, dir, "documents")
      .groupBy(col("source").as("domain"))
      .agg(count(lit(1)).as("w"),
        sum(size(split(col("text"), " "))).cast("long").as("cap"))
      .localCheckpoint() // two consumers: the budget total + the allocation
    val total = domains.agg(sum(col("cap"))).first().getLong(0)
    graft.ext.Mixture.waterFill(domains, "domain", "w", "cap",
        budget = 9L * total / 10L)
      .transform(tinySort(_, col("domain")))
  }

  /** Sequence packing — the concat-and-chunk batching step of a training
    * pipeline: per source, documents are concatenated in deterministic
    * md5(doc_id) order and split into fixed 512-token sequences; each doc
    * reports the pack it starts in and its offset there (docs may straddle
    * pack boundaries — the GPT-style packing approximation, no padding
    * waste). Same single source-keyed window shuffle as q48, pure integer
    * arithmetic — no global sort, no collect. */
  def q52SequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val seqLen = 512L
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextOps.reTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_tok", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("start_tok") / seqLen).cast("long").as("pack_id"),
        (col("start_tok") % seqLen).as("offset_in_pack"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** q53 — the END-TO-END pre-training curation capstone: every stage of a
    * 100 TB data-curation pass composed into ONE dataflow over
    * `documents`+`embeddings` (ids aligned 1:1):
    *
    *   1. band-OR sign-LSH near-dup detection over the embedding corpus
    *      ([[graft.ext.Similarity.bandedNearDupPairs]], the q50 scale path);
    *   2. duplicate clusters from the pair graph
    *      ([[graft.ext.Dedup.duplicateClusters]], q51) — the detector and
    *      clustering materialize ONCE (the edge checkpoint), so the final
    *      plan contains NO embeddings scan and NO LSH expression (pinned in
    *      PlanShapeSpec);
    *   3. keep-one-per-cluster: non-representative members (vec_id ≠
    *      cluster label) are anti-joined out — NOT broadcast-hinted: on a
    *      duplicate-heavy crawl the drop set is O(corpus);
    *   4. exact-dup keep + quality/language filter (the q42 stages);
    *   5. per-source token-budget mixture + sequence packing (q48+q52) in
    *      ONE source-keyed window — running totals, budget cut, pack ids.
    *
    * Shuffles: detector band joins (bucketed) + cluster iterations (pair
    * graph only), one fingerprint groupBy, one anti-join, one source-keyed
    * window. Nothing all-pairs, nothing collected. */
  /** q195 — the round-15 curation capstone: classifier gate → domain cap →
    * index decontamination → cluster-aware split, composed into ONE
    * release manifest (per (split, source): doc/token mass + the realized
    * min margin). Stages are the q192/q194/q190/q191 operators verbatim:
    * keep margin ≥ 0, top 50 per source by (margin, id), drop docs the
    * PRUNED benchmark-index audit flags (shard-independence law makes the
    * subset audit ≡ the full chain restricted — the oracle leans on it),
    * then route the survivors' near-dup clusters whole through the md5
    * 80/10/10 assignment. Scale shape: one corpus scan for the margins,
    * WindowGroupLimit top-k, then everything downstream operates on the
    * ≤ 50·|sources| capped frame — audit, detector, CC and rollup are all
    * survivor-sized; the capped frame is checkpointed once for its three
    * consumers.
    *
    * r16: the split-stage detector is [[graft.ext.Similarity
    * .bandedNearDupForest]] (the q201 scale path) — this stage consumes
    * only CONNECTIVITY (`splitAssignments` labels), and the per-bucket
    * spanning forest has exactly the full detector's transitive closure
    * (ExtSpec law + the q201 oracle), so the labels — and this query's
    * hash — are provably identical while the pair materialization stops
    * scaling with dup-group size squared. The oracle below still closes
    * over the FULL detector CTEs: every green run re-proves the
    * equivalence on the corpus. */
  def q195CuratedRelease(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val bench = docs.filter(col("doc_id") % 50 === 0)
    val toks = graft.ext.TextOps.tokens(col("text"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("_m").desc, col("doc_id").asc)
    val capped = corpus
      .select(col("source"), col("doc_id"), col("text"),
        TextOps.hashedMargin(col("text")).as("_m"),
        size(filter(toks, t => t =!= "")).cast("long").as("_t"))
      .filter(col("_m") >= 0)
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= 50)
      .drop("_r")
      .localCheckpoint(true) // audit + anti-join + assignment + rollup
    val index = graft.ext.SuffixArray.contaminationIndex(bench, "doc_id",
      "text", k = 64)
    val flagged = graft.ext.SuffixArray.auditShardPruned(index, capped,
        "doc_id", "text", minLen = 20, k = 64)
      .select(col("doc_id"))
    val clean = capped.join(flagged, Seq("doc_id"), "left_anti")
    val emb = load(spark, dir, "embeddings")
      .join(clean.select(col("doc_id").as("vec_id")), Seq("vec_id"))
    val pr = graft.ext.Similarity.bandedNearDupForest(emb, "vec_id",
        "embedding", threshold = 0.35, bands = 3, planesPerBand = 6)
      .select(col("vec_a").cast("long").as("_a"),
        col("vec_b").cast("long").as("_b"))
      .localCheckpoint(true)
    val asg = Sampling.splitAssignments(clean.select(col("doc_id")), pr,
      "doc_id")
    clean
      .join(asg.select(col("_id").as("doc_id"), col("_sc").as("split")),
        Seq("doc_id"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_t")).as("n_tokens"),
        min(col("_m")).as("min_margin"))
      .transform(tinySort(_, col("split"), col("source")))
  }

  def q53CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val budget = 800L
    val seqLen = 512L
    val emb = load(spark, dir, "embeddings")
    val pairs = graft.ext.Similarity.bandedNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.35, bands = 3, planesPerBand = 6)
    val docs = load(spark, dir, "documents")
    // the TWO detectors are independent dataflows over different tables
    // (embeddings vs documents) — overlap their eager materializations on
    // the clean-thread executor (graft.util.Exec — the star loads' dim-wave
    // idiom) instead of paying them serially; each future ends in a
    // checkpointed, O(duplicates)-sized frame
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import graft.util.Exec.loadEc
    val droppedF = Future {
      Dedup.duplicateClusters(pairs, "vec_a", "vec_b")
        .filter(col("vec_id") =!= col("cluster_id"))
        .select(col("vec_id").as("doc_id"))
    }
    // stage 3b: doc-inside-doc CONTAINMENT detector ([[Dedup
    // .containmentJoin]], the q112 operator) — the case both preceding
    // detectors miss: a fully-quoted small doc inside a big one is NOT an
    // embedding near-dup of it (different lengths → different vectors) and
    // NOT an exact dup (different fingerprints), yet it is pure duplicated
    // text. The CONTAINED side is dropped, the container kept; a MUTUAL
    // pair (exact/near-identical twins — each contains the other) keeps
    // the min id, the same deterministic rule as the exact-dup stage, so
    // the two stages can never disagree about which twin survives.
    // the pair set feeds TWO consumers (itself + its reversal) — checkpoint
    // so the corpus-wide shingle detector executes ONCE, not once per
    // consumer (the same materialize-once discipline as the LSH edge
    // checkpoint; the pair set is O(duplicate pairs), tiny)
    val cpairsF = Future {
      Dedup.containmentJoin(docs, "doc_id", "text")
        .select(col("doc_in"), col("doc_out"))
        .localCheckpoint()
    }
    val dropped = Await.result(droppedF, Duration.Inf)
    val cpairs = Await.result(cpairsF, Duration.Inf)
    val crev = cpairs.select(col("doc_in").as("_ri"), col("doc_out").as("_ro"))
    val cdrop = cpairs.join(crev,
        col("doc_in") === col("_ro") && col("doc_out") === col("_ri"), "left")
      .filter(col("_ri").isNull || col("doc_in") > col("doc_out"))
      .select(col("doc_in").as("doc_id")).distinct()
    // stage 4 IS q42's stack ([[curatedDocs]] — shared builder, no drift);
    // cluster drops and containment drops are conjunctive anti-joins
    val kept = curatedDocs(docs, Seq("source"))
      .join(dropped, Seq("doc_id"), "left_anti")
      .join(cdrop, Seq("doc_id"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    kept
      .select(col("doc_id"), col("source"), col("quality"),
        TextOps.reTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .select(col("doc_id"), col("source"), col("quality"), col("n_tokens"),
        col("cum_tokens"),
        floor((col("cum_tokens") - col("n_tokens")) / seqLen).cast("long").as("pack_id"),
        ((col("cum_tokens") - col("n_tokens")) % seqLen).as("offset_in_pack"))
      .transform(tinySort(_, col("source"), col("doc_id")))
  }

  /** q218 — the CONTAINER-BYTES → PACKED-SEQUENCES capstone: round 16's
    * two capstones composed into ONE dataflow, proving the 100 TB story
    * end-to-end — crawl bytes in, training sequences out. The q208 crawl
    * chain (WARC demux → HTTP 200 gate → link-density boilerplate
    * extraction, [[graft.ext.Crawl.extract]]) feeds the q53 curation
    * stages, with every downstream gate operating on the EXTRACTED text
    * (what a real pipeline trains on), never the source table's:
    *
    *   1. extraction materializes ONCE (eager checkpoint — the
    *      container/regex pipeline must not re-run under any downstream
    *      consumer or sampling pass; PlanShapeSpec pins the final plan
    *      free of MapPartitions/MapGroups);
    *   2. near-dup detection via the SPANNING FOREST (q201's scale path,
    *      [[graft.ext.Similarity.bandedNearDupForest]] — zero joins, one
    *      bucket-keyed exchange) → hub-safe large/small-star clustering
    *      ([[Dedup.duplicateClustersStar]]) → non-representatives
    *      dropped; the oracle closes over the FULL detector CTEs, so
    *      every green run re-proves forest ≡ full transitive closure on
    *      the corpus (the q195 discipline);
    *   3. the q42 gate stack over the extracted text (quality, language,
    *      exact-dup keep-lowest-id — [[curatedDocs]], the shared
    *      builder);
    *   4. per-source token budget + sequence packing in ONE source-keyed
    *      window (the q48+q52 formulation), token counts over the
    *      extracted text.
    *
    * Shuffles: blob groupBy + forest bucket exchange + star-round joins
    * (pair-graph-sized) + one fingerprint groupBy + two anti-join-side
    * shuffles + one window. Nothing all-pairs, nothing collected,
    * everything between checkpoints O(survivors). */
  def q218CrawlCuration(spark: SparkSession, dir: String): DataFrame = {
    // the forest detector (embeddings) and the crawl extraction (container
    // bytes) are INDEPENDENT dataflows over different tables — overlap
    // their eager materializations on the clean-thread executor (the q53
    // two-detector idiom) instead of paying them serially; each future
    // ends in a checkpointed, bounded frame
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import graft.util.Exec.loadEc
    val droppedF = Future(forestDropped(spark, dir))
    val extracted = graft.ext.Crawl.extract(WebQueries.crawlBlobs(spark, dir))
      .select(col("doc_id"), col("extracted").as("text"))
      .localCheckpoint(true)
    crawlCurationStages(spark, dir, extracted,
        Await.result(droppedF, Duration.Inf))
      .transform(tinySort(_, col("source"), col("doc_id")))
  }

  /** The q218/q229 near-dup drop set: forest detector over the embedding
    * corpus → hub-safe star clustering → non-representatives. Runs its
    * own actions (edge checkpoint + star rounds), so callers overlap it
    * with their extraction chain via a Future. */
  private def forestDropped(spark: SparkSession, dir: String): DataFrame = {
    val fr = graft.ext.Similarity.bandedNearDupForest(
        load(spark, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, bands = 3, planesPerBand = 6)
      .select(col("vec_a").cast("long").as("vec_a"),
        col("vec_b").cast("long").as("vec_b"))
      .localCheckpoint(true)
    Dedup.duplicateClustersStar(fr, "vec_a", "vec_b")
      .filter(col("vec_id") =!= col("cluster_id"))
      .select(col("vec_id").as("doc_id"))
  }

  /** q218's curation stages downstream of the (already materialized)
    * extraction — forest near-dup → star clustering → the q42 gate stack
    * → per-source budget + packing — shared VERBATIM with q229 so the
    * clean-bytes and hostile-bytes capstones cannot drift on a single
    * gate or window. Returns the packed rows unsorted (callers add their
    * dump sort / loss columns). */
  private def crawlCurationStages(spark: SparkSession, dir: String,
                                  extracted: DataFrame,
                                  dropped: DataFrame): DataFrame = {
    val budget = 800L
    val seqLen = 512L
    val src = load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    val kept = curatedDocs(extracted.join(src, Seq("doc_id")), Seq("source"))
      .join(dropped, Seq("doc_id"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    kept
      .select(col("doc_id"), col("source"), col("quality"),
        TextOps.reTokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .select(col("doc_id"), col("source"), col("quality"), col("n_tokens"),
        col("cum_tokens"),
        floor((col("cum_tokens") - col("n_tokens")) / seqLen).cast("long")
          .as("pack_id"),
        ((col("cum_tokens") - col("n_tokens")) % seqLen).as("offset_in_pack"))
  }

  /** q229 — the HOSTILE-BYTES capstone: q228's full production read path
    * (record-per-member `.warc.gz`, torn members, dead records inside
    * valid members, gzip/latin-1 body encodings —
    * [[graft.queries.WebQueries.hostileCrawlBlobs]] +
    * [[graft.ext.Warc.extractHostile]]) feeding q218's curation stages
    * ([[crawlCurationStages]], shared verbatim) in ONE dataflow —
    * container corruption in, packed training sequences out, and the
    * loss is never silent: the walk's four exact accounting columns ride
    * every output row as CORPUS TOTALS (summed over per-blob constants),
    * so the oracle re-proves byte-exact skip accounting at both resync
    * tiers THROUGH the whole composition, not just in isolation.
    *
    * Materialization discipline: the walk output is checkpointed ONCE
    * (it feeds both the extraction chain and the loss aggregate — the
    * demux must not re-run); extraction is checkpointed once more before
    * fanning into the detector/gate/sampling consumers (the q218 rule).
    * The loss aggregate is a single-row frame — broadcast cross join,
    * the bounded-domain precedent. */
  def q229HostileCuration(spark: SparkSession, dir: String): DataFrame = {
    // overlap the embeddings-side detector with the hostile walk +
    // extraction checkpoints (independent dataflows — the q218 overlap)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import graft.util.Exec.loadEc
    val droppedF = Future(forestDropped(spark, dir))
    val walked = graft.ext.Warc
      .extractHostile(WebQueries.hostileCrawlBlobs(spark, dir))
      .localCheckpoint(true)
    val skips = walked
      .select(col("blob_id"), col("skipped_spans"), col("skipped_bytes"),
        col("skipped_members"), col("skipped_member_bytes"))
      .distinct()
      .agg(sum(col("skipped_spans")).as("skipped_spans"),
        sum(col("skipped_bytes")).as("skipped_bytes"),
        sum(col("skipped_members")).as("skipped_members"),
        sum(col("skipped_member_bytes")).as("skipped_member_bytes"))
    val extracted = graft.ext.Crawl.extractFrom(walked)
      .select(col("doc_id"), col("extracted").as("text"))
      .localCheckpoint(true)
    crawlCurationStages(spark, dir, extracted,
        Await.result(droppedF, Duration.Inf))
      .crossJoin(broadcast(skips))
      .transform(tinySort(_, col("source"), col("doc_id")))
  }

  /** q54 — Gopher-style repetition filters (Rae et al. 2021 §A1.1 quality
    * heuristics, word-level): duplicate-token fraction, fraction of 2-grams
    * taken by the most common 2-gram, duplicate-3-gram fraction, and the
    * composite keep flag. Pure map-side array expressions (`transform` /
    * `aggregate` / `filter` HOFs — no explode, no shuffle, no UDF): the
    * repetition screen a 100 TB curation pass runs before anything
    * heavier. All ratios are integer/integer IEEE divisions — bit-identical
    * across engines, so they ship unrounded. */
  def q54RepetitionFilters(spark: SparkSession, dir: String): DataFrame = {
    // all three fractions in one fused codegen pass
    // ([[graft.functions.RepetitionStats]]): the HOF form (two
    // array_distinct + a sort_array/aggregate longest-run, kept in git
    // history) evaluated its lambdas interpreted and built three gram
    // arrays per document. Max 2-gram multiplicity == longest equal-run of
    // the sorted gram array — the kernel counts it hash-side, without the
    // O(n log n) sort. Identical integer/integer IEEE divisions → oracle
    // untouched.
    load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.RepetitionStats.repetitionStats(col("text")).as("_r"))
      .select(
        col("doc_id"),
        col("_r.dup_token_frac").as("dup_token_frac"),
        col("_r.top_2gram_frac").as("top_2gram_frac"),
        col("_r.dup_3gram_frac").as("dup_3gram_frac"))
      .withColumn("keep",
        col("dup_token_frac") <= 0.4 && col("top_2gram_frac") <= 0.25 &&
          col("dup_3gram_frac") <= 0.2)
      // O(corpus) sorted dump over an EXPENSIVE map (per-doc gram build +
      // sort): checkpoint the narrow feature rows first so the range
      // partitioner's sampling pass reads materialized (doc_id, 4 doubles)
      // rows instead of re-running the gram pipeline (see Output scaladoc;
      // same pattern as StarLoadQueries.readBack)
      .localCheckpoint()
      .orderBy(col("doc_id"))
  }

  /** Eval-set DECONTAMINATION operator: per corpus document, the count of
    * word n-grams shared with ANY document of the `benchmark` frame — the
    * n-gram-overlap screen every pre-training pipeline runs before
    * training. Scale shape: the benchmark n-gram set is small and fixed
    * (eval suites are), so it BROADCASTS; the corpus side explodes its
    * shingles map-side and only benchmark-colliding grams reach the
    * per-doc count shuffle. Output: (idCol, n_shared_{n}grams), corpus
    * docs with ≥1 shared gram. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int): DataFrame = {
    val bg = Dedup.explodedShingles(benchmark, idCol, textCol, n)
      .select(col("sg")).distinct()
    Dedup.explodedShingles(corpus, idCol, textCol, n)
      .join(broadcast(bg), Seq("sg"))
      .groupBy(col(idCol)).agg(count(lit(1)).as(s"n_shared_${n}grams"))
  }

  /** q55 — [[decontaminate]] instantiated the way the oracle replays it:
    * every 50th doc stands in for the held-out eval corpus, the rest are
    * the training corpus. */
  def q55Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    decontaminate(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 3)
      .transform(tinySort(_, col("doc_id")))
  }

  /** Benchmark-side CONTAMINATION AUDIT — the mirror image of
    * [[decontaminate]]: instead of scoring corpus documents for the drop
    * list, score each EVAL document by the fraction of its distinct word
    * n-grams already present anywhere in the training corpus (the
    * GPT-3-appendix-style "how compromised is this benchmark" table), with
    * a clean / partial / dirty verdict at 20% / 70% in exact basis points
    * (integer cross-multiplication, no float ratio).
    *
    * Scale shape: the corpus side NEVER shuffles its full gram set — the
    * benchmark's distinct grams broadcast (eval suites are small and
    * fixed), the 100 TB corpus stream is filtered MAP-SIDE against them,
    * and only colliding grams (bounded by the benchmark set) reach the
    * distinct + per-doc count shuffles. Grams join on their text (the
    * [[graft.ext.Corpus.spanDedup]] convention — a production run keys on
    * a 16-byte gram hash instead; same plan). Documents shorter than n
    * tokens have no grams and are absent by contract. */
  def contaminationAudit(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int): DataFrame = {
    val grams = Dedup.explodedShingles(benchmark, idCol, textCol, n)
    val bgSet = grams.select(col("sg")).distinct()
    val matched = Dedup.explodedShingles(corpus, idCol, textCol, n)
      .join(broadcast(bgSet), Seq("sg"))
      .select(col("sg")).distinct()
    val totals = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val hits = grams.join(matched, Seq("sg"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contam_bp", expr("n_hit * 10000 div n_grams"))
      .withColumn("verdict",
        when(col("contam_bp") >= 7000, "dirty")
          .when(col("contam_bp") >= 2000, "partial")
          .otherwise("clean"))
  }

  /** q165 — [[contaminationAudit]] on the q55 split (every 50th doc is the
    * benchmark, the rest the training corpus): per eval doc, distinct
    * 3-grams, hits, contamination bp and verdict — zero-hit docs included,
    * unlike q55's drop list. */
  def q165ContaminationAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    contaminationAudit(docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", n = 3)
      .transform(tinySort(_, col("doc_id")))
  }

  /** [[decontaminate]]'s scale path for benchmark sets too big to broadcast
    * as an exact hash relation: a bloom filter over the benchmark's n-gram
    * hashes (~10 bits/gram at 1% fpp vs ~50+ bytes/gram for the exact
    * relation) prefilters the corpus gram stream MAP-SIDE, so only true
    * matches plus the fpp tail ever reach a shuffle; the exact verify join
    * then runs over that residue (NOT broadcast-hinted — AQE broadcasts it
    * when small, shuffles when the benchmark really is huge). Bloom
    * membership has no false negatives, so the result is EXACT — identical
    * to [[decontaminate]], and the oracle is the same exact SQL. The build
    * is distributed (per-partition blooms, driver merges one per
    * partition); `expectedGrams` sizes it. */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int,
                         expectedGrams: Long, fpp: Double): DataFrame = {
    val bg = Dedup.explodedShingles(benchmark, idCol, textCol, n)
      .select(col("sg")).distinct()
    val bloom = graft.functions.BloomPrefilter.build(bg, "sg", expectedGrams, fpp)
    Dedup.explodedShingles(corpus, idCol, textCol, n)
      .filter(graft.functions.BloomPrefilter.mightContain(bloom, col("sg")))
      .join(bg, Seq("sg"))
      .groupBy(col(idCol)).agg(count(lit(1)).as(s"n_shared_${n}grams"))
  }

  /** q79 — [[bloomDecontaminate]] on a different split than q55 (every 37th
    * doc is benchmark), proving the bloom path end-to-end against the exact
    * oracle. */
  def q79BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    bloomDecontaminate(docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0), "doc_id", "text", n = 3,
        expectedGrams = 1L << 17, fpp = 0.01)
      .transform(tinySort(_, col("doc_id")))
  }

  /** q56 — fixed-size token chunking with overlap
    * ([[graft.ext.Corpus.chunkDocuments]], 64-token chunks, stride 48): the
    * context-window preparation step between curation and packing. Pure
    * map-side explode (no shuffle), so the plain global sort is the correct
    * dump plan — the sampling pass re-runs only a cheap scan. */
  def q56DocChunking(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Corpus.chunkDocuments(load(spark, dir, "documents"),
        "doc_id", "text", chunkSize = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_id"))

  /** q61 — deterministic train/val/test split ([[Sampling.hashSplit]],
    * 80/10/10 on the first two hex chars of md5("graft-split:"+doc_id)).
    * Pure map-side expression — the plain global sort dump is correct. */
  def q61HashSplit(spark: SparkSession, dir: String): DataFrame =
    Sampling.hashSplit(load(spark, dir, "documents"), "doc_id")
      .orderBy(col("doc_id"))

  /** q63 — temperature-weighted language mixing
    * ([[Sampling.temperatureMix]], alpha=0.5, target half the corpus):
    * down-samples the dominant language toward a sqrt-weighted mix (en keeps
    * ~35%, the small langs ~60-65% at sf0.01) — the multi-corpus sampling
    * step of a training pipeline. Corpus path is scan → broadcast-join →
    * filter; the only aggregation is the 5-row per-lang count. */
  def q63LangMix(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(load(spark, dir, "documents"), "doc_id", "lang",
        alpha = 0.5, targetFrac = 0.5)
      .orderBy(col("doc_id"))

  /** q86 — stratified exact-n sampling ([[Sampling.stratifiedSample]], 20
    * docs per source in md5 order): the eval-set construction primitive.
    * One source-keyed window shuffle. */
  def q86StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(load(spark, dir, "documents"), "source",
        "doc_id", n = 20)
      .transform(tinySort(_, col("source"), col("sample_rank")))

  /** q88 — C4-style line filter ([[TextOps.lineFilter]]): each document is
    * rebuilt as a deterministic multi-line page (prose line + cookie-banner
    * boilerplate + a too-short line + a menu line on every third doc), then
    * line-filtered (≥3 words, terminal punctuation, no "cookie"/"javascript").
    * Emits per-doc line counts and the md5 of the cleaned text. Map-only at
    * any scale; the final sort is a cheap map-only dump (NOTES discipline). */
  def q88LineFilter(spark: SparkSession, dir: String): DataFrame = {
    val multi = concat_ws("\n",
      concat(col("text"), lit(".")),
      lit("click here to accept our cookie policy."),
      lit("short line."),
      when(col("doc_id") % 3 === 0,
        lit("menu home about contact privacy terms sitemap")))
    val kept = TextOps.lineFilter(multi, minWords = 3,
      blocklist = Seq("cookie", "javascript"))
    load(spark, dir, "documents").select(col("doc_id"),
        size(split(multi, "\n")).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        md5(array_join(kept, "\n").cast("binary")).as("cleaned_fp"))
      .orderBy(col("doc_id"))
  }

  /** q89 — URL canonicalization + exact dedup ([[Urls.canonical]]): each doc
    * gets one of two URL spellings of the same logical page (scheme case,
    * `www.`, trailing slash, tracking params, fragment, param order all
    * differ); canonicalization collapses each even/odd pair to one key, and
    * the keep-lowest-id groupBy is the standard exact-dedup shuffle. */
  def q89UrlDedup(spark: SparkSession, dir: String): DataFrame = {
    // pair id (doc 2k and 2k+1 describe the SAME page): host and path both
    // derive from it, so the two spellings collapse to one canonical key
    val half = floor(col("doc_id") / 2).cast("long")
    val site = (half % 7).cast("string")
    val halfS = half.cast("string")
    val url = when(col("doc_id") % 2 === 0,
        concat(lit("https://www.site"), site, lit(".example.com/a/"), halfS,
          lit("/?utm_source=feed&ref=1&id=7")))
      .otherwise(
        concat(lit("HTTP://site"), site, lit(".EXAMPLE.com/a/"), halfS,
          lit("?id=7&utm_campaign=x#frag")))
    load(spark, dir, "documents")
      .select(col("doc_id"), Urls.canonical(url).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_urls"))
      .transform(tinySort(_, col("canonical_url")))
  }

  /** q251 — crawler-TRAP detection by URL-template fanout
    * ([[Urls.template]]): a trap (infinite calendar, session-token URLs,
    * runaway pagination) mints unbounded distinct URLs from one
    * generator while serving near-identical content — so per
    * (host, template) the detector counts distinct URLs vs distinct
    * content digests and flags `n_urls ≥ 8 AND n_content·4 ≤ n_urls`.
    * The fixture mints three URL classes per host: a calendar trap
    * (dates + page counter → `/cal/D-D-D?page=D`, content repeating
    * every 256 ids), a session-token trap (16-hex md5 → `/view?s=H`,
    * same repetition), and honest articles (`/articles/D`, unique
    * content per URL) — the articles template has the LARGEST fanout
    * and must still classify `ok`, pinning that the signal is the
    * content ratio, not raw volume. Map-side templating; the one
    * shuffle is the (host, template) rollup. */
  def q251UrlTraps(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val s = (id % 7).cast("string")
    val cls = id % 5
    val base = concat(lit("https://site"), s, lit(".example.com"))
    val url = when(cls === 0,
        concat(base, lit("/cal/2021-"), (id % 12 + 1).cast("string"),
          lit("-"), (id % 28 + 1).cast("string"),
          lit("?page="), expr("doc_id div 35").cast("string")))
      .when(cls === 1,
        concat(base, lit("/view?s="),
          substring(md5(concat(lit("sess:"), id.cast("string"))), 1, 16)))
      .otherwise(concat(base, lit("/articles/"), id.cast("string")))
    val contentKey = when(cls === 0,
        concat(lit("cal:"), expr("doc_id div 256").cast("string")))
      .when(cls === 1,
        concat(lit("sess:"), expr("doc_id div 256").cast("string")))
      .otherwise(concat(lit("art:"), id.cast("string")))
    load(spark, dir, "documents")
      .select(Urls.host(url).as("host"), Urls.template(url).as("template"),
        url.as("url"), md5(contentKey).as("digest"))
      .groupBy(col("host"), col("template"))
      .agg(countDistinct(col("url")).as("n_urls"),
        countDistinct(col("digest")).as("n_content"))
      .withColumn("verdict",
        when(col("n_urls") >= 8 && col("n_content") * 4 <= col("n_urls"),
          lit("trap")).otherwise(lit("ok")))
      .transform(tinySort(_, col("host"), col("template")))
  }

  /** q69 — deterministic corpus shuffle ([[Sampling.deterministicShuffle]]):
    * reproducible global training order by md5(salt:id), dense positions via
    * the distributed sort + zipWithIndex id assigner (no single-partition
    * window). Output is O(docs) but narrow (three columns); positions are
    * already the total order, so the dump sorts by them. */
  def q69CorpusShuffle(spark: SparkSession, dir: String): DataFrame =
    Sampling.deterministicShuffle(
        load(spark, dir, "documents").select(col("doc_id")), "doc_id")
      .transform(tinySort(_, col("shuffle_pos")))

  /** q111 — deterministic proportional interleave schedule
    * ([[Sampling.interleaveSchedule]]): stride-scheduling positions for
    * every document (per-source md5 rank r → position (2r−1)·T div (2·n_s),
    * exact DECIMAL(38,0) ≡ HUGEINT), summarized per (source, schedule
    * decile) — counts plus first/last position, the proportional-fairness
    * law as data. The curriculum/streaming-mixture ORDER primitive that
    * [[Sampling.deterministicShuffle]] (uniform) and
    * [[Sampling.temperatureMix]] (membership) don't cover. */
  def q111Interleave(spark: SparkSession, dir: String): DataFrame =
    Sampling.interleaveSchedule(load(spark, dir, "documents"),
        "doc_id", "source")
      .transform(tinySort(_, col("source"), col("bucket")))

  /** q117 — weighted priority sampling ([[Sampling.prioritySample]],
    * Duffield–Lund–Thorup JACM '07): a 128-doc length-weighted sample of
    * the corpus with the unbiased max(w, τ) estimator, summarized per
    * source — w_est tracks w_exact, the unbiasedness law as data. The
    * integer-exact weighted-sampling scheme that closes the
    * Efraimidis–Spirakis gap (NOTES #3) without transcendentals. */
  def q117PrioritySample(spark: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(load(spark, dir, "documents"),
        "doc_id", "n_chars", "source", k = 128)
      .transform(tinySort(_, col("source")))

  /** q139 — mixture concentration audit
    * ([[graft.ext.Mixture.concentrationAudit]]): the diagnostic BEFORE
    * q127's re-balancing — how dominated is the documents corpus by its
    * biggest sources? Per-source share plus the `__all__` row's Simpson /
    * Gini / HHI in exact integer basis points. One corpus aggregation;
    * all index arithmetic on the bounded source table. */
  def q139MixConcentration(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Mixture.concentrationAudit(load(spark, dir, "documents"), "source")
      .transform(tinySort(_, col("scope")))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q139_mix_concentration" -> (q139MixConcentration _),
    "q111_interleave" -> (q111Interleave _),
    "q117_priority_sample" -> (q117PrioritySample _),
    "q42_corpus_curation" -> (q42CorpusCuration _),
    "q69_corpus_shuffle" -> (q69CorpusShuffle _),
    "q56_doc_chunking" -> (q56DocChunking _),
    "q61_hash_split" -> (q61HashSplit _),
    "q63_lang_mix" -> (q63LangMix _),
    "q48_token_budget" -> (q48TokenBudget _),
    "q127_water_fill" -> (q127WaterFill _),
    "q52_sequence_packing" -> (q52SequencePacking _),
    "q53_curation_pipeline" -> (q53CurationPipeline _),
    "q218_crawl_curation" -> (q218CrawlCuration _),
    "q229_hostile_curation" -> (q229HostileCuration _),
    "q195_curated_release" -> (q195CuratedRelease _),
    "q54_repetition_filters" -> (q54RepetitionFilters _),
    "q55_decontaminate" -> (q55Decontaminate _),
    "q165_contamination_audit" -> (q165ContaminationAudit _),
    "q79_bloom_decontaminate" -> (q79BloomDecontaminate _),
    "q86_stratified_sample" -> (q86StratifiedSample _),
    "q88_line_filter" -> (q88LineFilter _),
    "q89_url_dedup" -> (q89UrlDedup _),
    "q251_url_traps" -> (q251UrlTraps _)
  )

  private val stopIn = Stopwords.map(w => s"'$w'").mkString(", ")

  /** Integer value of the first 10 hex chars of md5(e) — the 40-bit
    * [[graft.ext.Sampling.prioritySample]] hash domain (same strpos
    * construction as [[ProfilingQueries.hex60]], 10 digits). */
  private def hex40Sql(e: String): String =
    (0 until 10).map { i =>
      val shift = java.math.BigInteger.valueOf(16).pow(9 - i)
      s"(strpos('0123456789abcdef', substring(md5($e), ${i + 1}, 1)) - 1) * $shift"
    }.mkString("(", "\n      + ", ")")

  val sql: Map[String, String] = Map(
    /* q195: the q192 margin chain → q194 cap rank → the q190 full-rebuild
     * contamination chain (flagged = any corpus doc with best >= 20; the
     * shard-independence law makes the subset audit ≡ this restriction) →
     * the q51 recursive closure with `e` RESTRICTED to the clean
     * survivors → the q61 hex-compare routing keyed by the cluster. */
    "q195_curated_release" ->
      s"""WITH RECURSIVE ${TextQueries.FtMarginCtes},
        | r AS (SELECT doc_id, source, ntoks, margin,
        |       row_number() OVER (PARTITION BY source
        |         ORDER BY margin DESC, doc_id ASC) AS rnk
        |     FROM m WHERE doc_id % 50 <> 0 AND margin >= 0),
        | cap AS (SELECT doc_id, source, ntoks, margin FROM r WHERE rnk <= 50),
        | ${DedupQueries.suffixCtes},
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
        | scb AS (SELECT doc_id,
        |     GREATEST(COALESCE(CASE WHEN seg >= 1 THEN draw END, 0),
        |              COALESCE(CASE WHEN segd >= 1 THEN uraw END, 0)) AS best
        |   FROM mm WHERE NOT is_b),
        | flagged AS (SELECT DISTINCT doc_id FROM scb WHERE best >= 20),
        | clean AS (SELECT cap.* FROM cap LEFT JOIN flagged f USING (doc_id)
        |           WHERE f.doc_id IS NULL),
        | ${SimilarityQueries.clusterLabelCtes(
             "SELECT e0.vec_id, CAST(e0.embedding AS DOUBLE[]) AS v " +
             "FROM embeddings e0 JOIN clean ON clean.doc_id = e0.vec_id")},
        | asg AS (SELECT c.doc_id, c.source, c.ntoks, c.margin,
        |        COALESCE(l.cluster_id, c.doc_id) AS gk
        |      FROM clean c LEFT JOIN labels l ON l.vec_id = c.doc_id),
        | spl AS (SELECT *,
        |    CASE WHEN substr(md5('graft-split:' || CAST(gk AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |         WHEN substr(md5('graft-split:' || CAST(gk AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |         ELSE 'test' END AS split
        |   FROM asg)
        |SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(ntoks) AS BIGINT) AS n_tokens,
        |  CAST(MIN(margin) AS BIGINT) AS min_margin
        |FROM spl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    /* q139: same rank window (n_docs ASC, scope ASC — Σi·n is tie-order
     * invariant) and the same exact-integer index arithmetic, widened to
     * HUGEINT where Spark widens to DECIMAL(38,0). */
    "q139_mix_concentration" ->
      """WITH g AS (SELECT COALESCE(CAST(source AS VARCHAR), '__null__') AS scope,
        |    COUNT(*) AS n_docs FROM documents GROUP BY 1),
        | r AS (SELECT scope, n_docs,
        |    row_number() OVER (ORDER BY n_docs ASC, scope ASC) AS i,
        |    SUM(n_docs) OVER () AS n, COUNT(*) OVER () AS gcnt FROM g),
        | per AS (SELECT scope, CAST(n_docs AS BIGINT) AS n_docs,
        |    CAST((n_docs * 10000) // n AS BIGINT) AS share_bp,
        |    CAST(NULL AS BIGINT) AS simpson_bp,
        |    CAST(NULL AS BIGINT) AS gini_bp,
        |    CAST(NULL AS BIGINT) AS hhi_bp FROM r),
        | tot AS (SELECT '__all__' AS scope,
        |    CAST(MAX(n) AS BIGINT) AS n_docs,
        |    CAST(10000 AS BIGINT) AS share_bp,
        |    CASE WHEN MAX(n) > 1 THEN CAST(
        |      (SUM(CAST(n_docs AS HUGEINT) * (n_docs - 1)) * 10000)
        |        // (CAST(MAX(n) AS HUGEINT) * (MAX(n) - 1)) AS BIGINT) END AS simpson_bp,
        |    CAST(((2 * SUM(CAST(i AS HUGEINT) * n_docs)
        |        - (MAX(gcnt) + 1) * CAST(MAX(n) AS HUGEINT)) * 10000)
        |      // (CAST(MAX(gcnt) AS HUGEINT) * MAX(n)) AS BIGINT) AS gini_bp,
        |    CAST((SUM(CAST(n_docs AS HUGEINT) * n_docs) * 10000)
        |      // (CAST(MAX(n) AS HUGEINT) * MAX(n)) AS BIGINT) AS hhi_bp
        |  FROM r)
        |SELECT * FROM per UNION ALL SELECT * FROM tot ORDER BY scope""".stripMargin,
    "q88_line_filter" ->
      """WITH m AS (SELECT doc_id,
        |    concat_ws(chr(10), text || '.',
        |      'click here to accept our cookie policy.',
        |      'short line.',
        |      CASE WHEN doc_id % 3 = 0
        |        THEN 'menu home about contact privacy terms sitemap' END) AS t
        |  FROM documents),
        | k AS (SELECT doc_id, t,
        |    list_filter(string_split(t, chr(10)), x ->
        |      len(regexp_extract_all(x, '[^ ]+')) >= 3
        |      AND regexp_matches(x, '[.!?]$')
        |      AND NOT contains(lower(x), 'cookie')
        |      AND NOT contains(lower(x), 'javascript')) AS kept
        |  FROM m)
        |SELECT doc_id,
        |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  md5(array_to_string(kept, chr(10))) AS cleaned_fp
        |FROM k ORDER BY doc_id""".stripMargin,
    "q89_url_dedup" ->
      """WITH h AS (SELECT doc_id, CAST(floor(doc_id / 2) AS BIGINT) AS half
        |  FROM documents),
        | u AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN
        |      'https://www.site' || CAST(half % 7 AS VARCHAR) ||
        |        '.example.com/a/' || CAST(half AS VARCHAR) ||
        |        '/?utm_source=feed&ref=1&id=7'
        |    ELSE
        |      'HTTP://site' || CAST(half % 7 AS VARCHAR) ||
        |        '.EXAMPLE.com/a/' || CAST(half AS VARCHAR) ||
        |        '?id=7&utm_campaign=x#frag'
        |    END AS url FROM h),
        | c AS (SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
        |      '^www\.', '')
        |    || regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
        |      '/+$', '') AS hp,
        |    array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'), p ->
        |        len(p) > 0 AND NOT starts_with(p, 'utm_')
        |        AND NOT starts_with(p, 'ref=')
        |        AND NOT starts_with(p, 'fbclid='))), '&') AS q
        |  FROM u),
        | k AS (SELECT doc_id,
        |    hp || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical_url
        |  FROM c)
        |SELECT canonical_url, MIN(doc_id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls
        |FROM k GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin,
    /* q251: the fixture URLs rebuilt closed-form, the two-pass template
     * substitution replayed with 'g'-flag regexp_replace (hex-run first,
     * then digit runs — same precedence), and the trap rule as exact
     * integer comparisons. */
    "q251_url_traps" ->
      """WITH u AS (SELECT doc_id,
        |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |        '/cal/2021-' || CAST(doc_id % 12 + 1 AS VARCHAR) || '-' ||
        |          CAST(doc_id % 28 + 1 AS VARCHAR) ||
        |          '?page=' || CAST(doc_id // 35 AS VARCHAR)
        |      WHEN doc_id % 5 = 1 THEN
        |        '/view?s=' || substring(md5('sess:' || CAST(doc_id AS VARCHAR)), 1, 16)
        |      ELSE '/articles/' || CAST(doc_id AS VARCHAR) END AS pq,
        |    CASE WHEN doc_id % 5 = 0 THEN 'cal:' || CAST(doc_id // 256 AS VARCHAR)
        |         WHEN doc_id % 5 = 1 THEN 'sess:' || CAST(doc_id // 256 AS VARCHAR)
        |         ELSE 'art:' || CAST(doc_id AS VARCHAR) END AS ck
        |  FROM documents),
        | t AS (SELECT host,
        |    regexp_replace(regexp_replace(pq, '[0-9a-f]{8,}', 'H', 'g'),
        |      '[0-9]+', 'D', 'g') AS template,
        |    'https://' || host || pq AS url, md5(ck) AS digest FROM u),
        | g AS (SELECT host, template,
        |    CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls,
        |    CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_content
        |  FROM t GROUP BY host, template)
        |SELECT host, template, n_urls, n_content,
        |  CASE WHEN n_urls >= 8 AND n_content * 4 <= n_urls
        |       THEN 'trap' ELSE 'ok' END AS verdict
        |FROM g ORDER BY host, template""".stripMargin,
    /* Stride positions replayed with HUGEINT `//` ≡ Spark DECIMAL(38,0)
     * `div`; the per-source md5 rank is the q86 idiom. The oracle carries
     * t_total through the position CTE instead of re-aggregating. */
    "q111_interleave" ->
      """WITH ns AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
        | t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_total FROM documents),
        | r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |          ORDER BY md5('graft-ilv:' || CAST(doc_id AS VARCHAR)) ASC NULLS LAST,
        |                   doc_id ASC NULLS LAST) AS r
        |        FROM documents),
        | p AS (SELECT r.source, t.t_total,
        |         CAST((CAST(2*r.r - 1 AS HUGEINT) * t.t_total)
        |              // (2 * ns.n_s) AS BIGINT) AS pos
        |       FROM r JOIN ns USING (source) CROSS JOIN t)
        |SELECT source,
        |  CAST((pos * 10) // t_total AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(MIN(pos) AS BIGINT) AS first_pos,
        |  CAST(MAX(pos) AS BIGINT) AS last_pos
        |FROM p GROUP BY source, t_total, bucket
        |ORDER BY source, bucket""".stripMargin,
    /* Priority sampling replayed in plain BIGINT: q = w·2^40 // (h+1)
     * over the 10-hex-char md5 hash (everything fits — see
     * Sampling.PriM); the global rank is the (q DESC, doc_id) window;
     * τ = the 129th priority (0 when the population is smaller). SUMs of
     * BIGINT go through CAST AS BIGINT (HUGEINT otherwise — NOTES). */
    "q117_priority_sample" ->
      s"""WITH w AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
        |    ${hex40Sql("'graft-pri:' || CAST(doc_id AS VARCHAR)")} AS h
        |  FROM documents WHERE n_chars > 0),
        | q AS (SELECT doc_id, source, w,
        |    (w * 1099511627776) // (h + 1) AS q
        |  FROM w),
        | r AS (SELECT *, row_number() OVER (ORDER BY q DESC, doc_id ASC NULLS LAST) AS rn
        |       FROM q),
        | tau AS (SELECT CASE WHEN (SELECT COUNT(*) FROM q) >= 129
        |    THEN (SELECT q FROM r WHERE rn = 129) ELSE 0 END AS tau),
        | s AS (SELECT source, COUNT(*) AS n_sampled,
        |    CAST(SUM(GREATEST(w, tau.tau)) AS BIGINT) AS w_est
        |   FROM r CROSS JOIN tau WHERE rn <= 128 GROUP BY source),
        | e AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(w) AS BIGINT) AS w_exact FROM w GROUP BY source)
        |SELECT e.source, e.n_docs, e.w_exact,
        |  COALESCE(s.n_sampled, 0) AS n_sampled,
        |  COALESCE(s.w_est, 0) AS w_est
        |FROM e LEFT JOIN s USING (source)
        |ORDER BY source""".stripMargin,
    "q86_stratified_sample" ->
      """WITH r AS (SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5('graft-strat:' || CAST(doc_id AS VARCHAR)) ASC NULLS LAST,
        |               doc_id ASC NULLS LAST) AS BIGINT) AS sample_rank
        |  FROM documents)
        |SELECT source, doc_id, sample_rank FROM r
        |WHERE sample_rank <= 20
        |ORDER BY source, sample_rank""".stripMargin,
    "q69_corpus_shuffle" ->
      """WITH k AS (SELECT doc_id,
        |    md5('graft-shuffle:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key,
        |  CAST(row_number() OVER (ORDER BY shuffle_key ASC NULLS LAST, doc_id ASC NULLS LAST) AS BIGINT) AS shuffle_pos
        |FROM k ORDER BY shuffle_pos""".stripMargin,
    "q42_corpus_curation" -> {
      val ratios = TextOps.LangMarkers.map { case (lang, words) =>
        val in = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(toks, t -> t IN ($in))) AS DOUBLE) / greatest(len(toks), 1) AS r_$lang"
      }.mkString(",\n   ")
      s"""WITH b AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks, length(text) AS nc,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         | m AS (
         |  SELECT doc_id, fp,
         |   CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / greatest(nc, 1) AS nonalpha,
         |   CAST(len(toks) AS DOUBLE) AS nt,
         |   CAST(len(list_filter(toks, t -> t IN ($stopIn))) AS DOUBLE) / greatest(len(toks), 1) AS stop_r,
         |   $ratios
         |  FROM b),
         | q AS (
         |  SELECT doc_id, fp,
         |   0.4 * (1.0 - nonalpha) + 0.3 * least(nt / 100.0, 1.0) + 0.3 * least(stop_r * 5.0, 1.0) AS quality,
         |   CASE WHEN r_en >= 0.01 AND r_en >= r_es AND r_en >= r_de THEN 'en'
         |        WHEN r_es >= 0.01 AND r_es >= r_de THEN 'es'
         |        WHEN r_de >= 0.01 THEN 'de'
         |        ELSE 'unknown' END AS lang_pred
         |  FROM m),
         | keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM q GROUP BY fp)
         |SELECT q.doc_id, q.quality, q.lang_pred, q.fp
         |FROM q JOIN keep ON q.fp = keep.fp
         |WHERE q.doc_id = keep.keep_id AND q.quality > 0.5 AND q.lang_pred = 'en'
         |ORDER BY q.doc_id""".stripMargin
    },
    /* q127: same prefix-cut arithmetic — saturation order by the IEEE
     * ratio, cut = first domain whose cap exceeds its share of the
     * remaining budget, floored proportional shares after it (HUGEINT ≡
     * Spark DECIMAL(38,0) div). */
    "q127_water_fill" ->
      """WITH d AS (SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS w,
        |        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS cap
        |      FROM documents GROUP BY 1),
        | tot AS (SELECT (9 * SUM(cap)) // 10 AS b FROM d),
        | o AS (SELECT d.*, row_number() OVER (
        |        ORDER BY CAST(cap AS DOUBLE) / CAST(w AS DOUBLE), domain) AS i
        |       FROM d),
        | c AS (SELECT *,
        |        SUM(cap) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) - cap AS pcap,
        |        SUM(w) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) - w AS pw,
        |        SUM(w) OVER () AS wtot FROM o),
        | f AS (SELECT *, CASE WHEN CAST(cap AS HUGEINT) * (wtot - pw) >
        |          CAST((SELECT b FROM tot) - pcap AS HUGEINT) * w THEN i END AS fail
        |       FROM c),
        | x AS (SELECT MIN(fail) AS cut FROM f),
        | p AS (SELECT (SELECT b FROM tot) - pcap AS r, wtot - pw AS wrem
        |       FROM f WHERE i = (SELECT cut FROM x))
        |SELECT domain, w, cap,
        |  CAST(CASE WHEN (SELECT cut FROM x) IS NULL
        |              OR i < (SELECT cut FROM x) THEN cap
        |       ELSE LEAST(cap, CAST(CAST((SELECT r FROM p) AS HUGEINT) * w
        |                 // CAST((SELECT wrem FROM p) AS HUGEINT) AS BIGINT))
        |       END AS BIGINT) AS alloc,
        |  CAST(CASE WHEN (SELECT cut FROM x) IS NULL
        |              OR i < (SELECT cut FROM x) THEN 1 ELSE 0 END AS INT)
        |    AS saturated
        |FROM f ORDER BY domain""".stripMargin,
    "q48_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '${TextOps.ReTokenPattern}')) AS BIGINT) AS n_tokens,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         | c AS (
         |  SELECT doc_id, source, n_tokens,
         |    -- DuckDB SUM(BIGINT) yields HUGEINT (float64 via pandas) — cast
         |    -- back so the driver's dtype-sensitive hash matches Spark int64.
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens < 800
         |ORDER BY source, doc_id""".stripMargin,
    "q53_curation_pipeline" -> {
      val ratios = TextOps.LangMarkers.map { case (lang, words) =>
        val in = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(toks, t -> t IN ($in))) AS DOUBLE) / greatest(len(toks), 1) AS r_$lang"
      }.mkString(",\n   ")
      s"""WITH RECURSIVE ${SimilarityQueries.ClusterLabelCtes},
         | dropped AS (SELECT vec_id FROM labels WHERE vec_id <> cluster_id),
         | -- containment detector (the q112 chain, CTEs c-prefixed to avoid
         | -- colliding with this query's t/c): contained side dropped,
         | -- mutual pairs keep the min id
         | cw AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
         | ct AS (SELECT doc_id, unnest(ws) tok, generate_subscripts(ws, 1) i FROM cw),
         | csh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sg
         |         FROM ct a JOIN ct b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |                  JOIN ct c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
         | cf AS (SELECT sg, COUNT(*) AS fr FROM csh GROUP BY sg),
         | co AS (SELECT doc_id, list(sg ORDER BY fr, sg) AS toks, COUNT(*) AS n
         |        FROM csh JOIN cf USING (sg) GROUP BY doc_id),
         | cp AS (SELECT doc_id, n,
         |          unnest(list_slice(toks, 1, n - ((9 * n + 9) // 10) + 1)) AS sg
         |        FROM co),
         | cft AS (SELECT doc_id, n, unnest(toks) AS sg,
         |           generate_subscripts(toks, 1) AS j FROM co),
         | cc AS (SELECT DISTINCT cp.doc_id AS doc_in, b.doc_id AS doc_out
         |        FROM cp JOIN cft b ON cp.sg = b.sg AND cp.doc_id <> b.doc_id
         |         AND 10 * b.n >= 9 * cp.n
         |         AND b.j <= b.n - ((9 * cp.n + 9) // 10) + 1),
         | cv AS (SELECT doc_in, doc_out
         |        FROM cc JOIN co oa ON oa.doc_id = doc_in
         |               JOIN co ob ON ob.doc_id = doc_out
         |        WHERE 10 * len(list_intersect(oa.toks, ob.toks)) >= 9 * oa.n),
         | cdrop AS (SELECT DISTINCT a.doc_in AS doc_id
         |           FROM cv a LEFT JOIN cv b
         |             ON a.doc_in = b.doc_out AND a.doc_out = b.doc_in
         |           WHERE b.doc_in IS NULL OR a.doc_in > a.doc_out),
         | bq AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks, length(text) AS nc,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM documents),
         | m AS (
         |  SELECT doc_id, fp,
         |   CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / greatest(nc, 1) AS nonalpha,
         |   CAST(len(toks) AS DOUBLE) AS nt,
         |   CAST(len(list_filter(toks, t -> t IN ($stopIn))) AS DOUBLE) / greatest(len(toks), 1) AS stop_r,
         |   $ratios
         |  FROM bq),
         | q AS (
         |  SELECT doc_id, fp,
         |   0.4 * (1.0 - nonalpha) + 0.3 * least(nt / 100.0, 1.0) + 0.3 * least(stop_r * 5.0, 1.0) AS quality,
         |   CASE WHEN r_en >= 0.01 AND r_en >= r_es AND r_en >= r_de THEN 'en'
         |        WHEN r_es >= 0.01 AND r_es >= r_de THEN 'es'
         |        WHEN r_de >= 0.01 THEN 'de'
         |        ELSE 'unknown' END AS lang_pred
         |  FROM m),
         | keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM q GROUP BY fp),
         | kept AS (
         |  SELECT q.doc_id, q.quality
         |  FROM q JOIN keep ON q.fp = keep.fp
         |  WHERE q.doc_id = keep.keep_id AND q.quality > 0.5 AND q.lang_pred = 'en'
         |    AND q.doc_id NOT IN (SELECT vec_id FROM dropped)
         |    AND q.doc_id NOT IN (SELECT doc_id FROM cdrop)),
         | t AS (
         |  SELECT d.doc_id, d.source, k.quality,
         |    CAST(len(regexp_extract_all(d.text, '${TextOps.ReTokenPattern}')) AS BIGINT) AS n_tokens,
         |    md5(CAST(d.doc_id AS VARCHAR)) AS h
         |  FROM documents d JOIN kept k USING (doc_id)),
         | c AS (
         |  SELECT doc_id, source, quality, n_tokens,
         |    -- HUGEINT window sum cast back (driver hash is dtype-sensitive)
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, quality, n_tokens, cum_tokens,
         |  CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS pack_id,
         |  CAST((cum_tokens - n_tokens) % 512 AS BIGINT) AS offset_in_pack
         |FROM c
         |WHERE cum_tokens - n_tokens < 800
         |ORDER BY source, doc_id""".stripMargin
    },
    /* q218: the q204/q208 extraction CTEs (shared verbatim from
     * WebQueries — b/k/s reconstruct every page's extracted text
     * arithmetically) feed the q53 gate/dedup/budget/packing CTEs, with
     * `ex` (the 200-gated extraction) replacing `documents` as the text
     * source everywhere downstream; the near-dup drop closes over the
     * FULL detector closure (ClusterLabelCtes), so a green run re-proves
     * forest ≡ full transitive closure on the corpus. */
    "q218_crawl_curation" -> {
      val ratios = TextOps.LangMarkers.map { case (lang, words) =>
        val in = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(toks, t -> t IN ($in))) AS DOUBLE) / greatest(len(toks), 1) AS r_$lang"
      }.mkString(",\n   ")
      s"""WITH RECURSIVE ${SimilarityQueries.ClusterLabelCtes},
         | dropped AS (SELECT vec_id FROM labels WHERE vec_id <> cluster_id),
         | ${WebQueries.HtmlExtractCtes},
         | ex AS (SELECT doc_id, extracted AS text FROM s WHERE doc_id % 13 <> 0),
         | bq AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks, length(text) AS nc,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM ex),
         | m AS (
         |  SELECT doc_id, fp,
         |   CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / greatest(nc, 1) AS nonalpha,
         |   CAST(len(toks) AS DOUBLE) AS nt,
         |   CAST(len(list_filter(toks, t -> t IN ($stopIn))) AS DOUBLE) / greatest(len(toks), 1) AS stop_r,
         |   $ratios
         |  FROM bq),
         | q AS (
         |  SELECT doc_id, fp,
         |   0.4 * (1.0 - nonalpha) + 0.3 * least(nt / 100.0, 1.0) + 0.3 * least(stop_r * 5.0, 1.0) AS quality,
         |   CASE WHEN r_en >= 0.01 AND r_en >= r_es AND r_en >= r_de THEN 'en'
         |        WHEN r_es >= 0.01 AND r_es >= r_de THEN 'es'
         |        WHEN r_de >= 0.01 THEN 'de'
         |        ELSE 'unknown' END AS lang_pred
         |  FROM m),
         | keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM q GROUP BY fp),
         | kept AS (
         |  SELECT q.doc_id, q.quality
         |  FROM q JOIN keep ON q.fp = keep.fp
         |  WHERE q.doc_id = keep.keep_id AND q.quality > 0.5 AND q.lang_pred = 'en'
         |    AND q.doc_id NOT IN (SELECT vec_id FROM dropped)),
         | t AS (
         |  SELECT d.doc_id, d.source, k.quality,
         |    CAST(len(regexp_extract_all(ex.text, '${TextOps.ReTokenPattern}')) AS BIGINT) AS n_tokens,
         |    md5(CAST(d.doc_id AS VARCHAR)) AS h
         |  FROM documents d JOIN kept k USING (doc_id)
         |    JOIN ex ON ex.doc_id = d.doc_id),
         | c AS (
         |  SELECT doc_id, source, quality, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, quality, n_tokens, cum_tokens,
         |  CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS pack_id,
         |  CAST((cum_tokens - n_tokens) % 512 AS BIGINT) AS offset_in_pack
         |FROM c
         |WHERE cum_tokens - n_tokens < 800
         |ORDER BY source, doc_id""".stripMargin
    },
    /* q229: q218's CTE chain with `ex` restricted to the docs that
     * SURVIVE the hostile container (non-404 AND not record-corrupt AND
     * not member-corrupt), plus the walk's loss TOTALS replayed
     * arithmetically — pg constructs each corrupt record's exact wire
     * payload (its id class is plain-encoded by construction, so strlen
     * measures the bytes) and skt cross-joins onto every packed row. */
    "q229_hostile_curation" -> {
      val ratios = TextOps.LangMarkers.map { case (lang, words) =>
        val in = words.map(w => s"'$w'").mkString(", ")
        s"CAST(len(list_filter(toks, t -> t IN ($in))) AS DOUBLE) / greatest(len(toks), 1) AS r_$lang"
      }.mkString(",\n   ")
      s"""WITH RECURSIVE ${SimilarityQueries.ClusterLabelCtes},
         | dropped AS (SELECT vec_id FROM labels WHERE vec_id <> cluster_id),
         | ${WebQueries.HtmlExtractCtes},
         | ex AS (SELECT doc_id, extracted AS text FROM s
         |        WHERE doc_id % 13 <> 0 AND doc_id % 20 <> 12
         |          AND doc_id % 10 <> 1),
         | pg AS (SELECT doc_id,
         |    'HTTP/1.1 ' ||
         |      CASE WHEN doc_id % 13 = 0 THEN '404 Not Found' ELSE '200 OK' END ||
         |      chr(13) || chr(10) || 'Content-Type: text/html' ||
         |      chr(13) || chr(10) || chr(13) || chr(10) ||
         |    CASE WHEN doc_id % 13 = 0 THEN '<html><body><p>not found</p></body></html>'
         |    ELSE '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
         |      '</title></head><body>' ||
         |      '<h1>doc ' || CAST(doc_id AS VARCHAR) || ' report</h1>' ||
         |      '<div class="nav"><a href="/">home</a> <a href="/about">about us</a> <a href="/contact">contact</a></div>' ||
         |      '<p>' || text || '</p>' ||
         |      CASE WHEN doc_id % 3 = 0 THEN
         |        '<div class="related">see also <a href="/doc/' ||
         |        CAST(doc_id + 1 AS VARCHAR) || '">doc ' ||
         |        CAST(doc_id + 1 AS VARCHAR) || '</a> and <a href="/doc/' ||
         |        CAST(doc_id * 2 AS VARCHAR) || '">doc ' ||
         |        CAST(doc_id * 2 AS VARCHAR) || '</a></div>' ELSE '' END ||
         |      '<div class="footer"><a href="/privacy">privacy policy</a> <a href="/terms">terms</a> (c) example.org</div>' ||
         |      '</body></html>' END AS payload,
         |    'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri
         |  FROM documents),
         | skt AS (SELECT
         |    CAST(COUNT(*) FILTER (WHERE doc_id % 20 = 12) AS BIGINT) AS skipped_spans,
         |    CAST(COALESCE(SUM(CASE WHEN doc_id % 20 = 12 THEN
         |      strlen('WARC/1.0' || chr(13) || chr(10) ||
         |        'WARC-Type: response' || chr(13) || chr(10) ||
         |        'WARC-Target-URI: ' || uri || chr(13) || chr(10) ||
         |        'Content-Type: application/http; msgtype=response' || chr(13) || chr(10) ||
         |        'Content-Length: ' || CAST(strlen(payload) AS VARCHAR) ||
         |        chr(13) || chr(10) || chr(13) || chr(10)) +
         |      strlen(payload) + 4 END), 0) AS BIGINT) AS skipped_bytes,
         |    CAST(COUNT(*) FILTER (WHERE doc_id % 10 = 1) AS BIGINT) AS skipped_members,
         |    CAST(64 * COUNT(*) FILTER (WHERE doc_id % 10 = 1) AS BIGINT) AS skipped_member_bytes
         |  FROM pg),
         | bq AS (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks, length(text) AS nc,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
         |  FROM ex),
         | m AS (
         |  SELECT doc_id, fp,
         |   CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / greatest(nc, 1) AS nonalpha,
         |   CAST(len(toks) AS DOUBLE) AS nt,
         |   CAST(len(list_filter(toks, t -> t IN ($stopIn))) AS DOUBLE) / greatest(len(toks), 1) AS stop_r,
         |   $ratios
         |  FROM bq),
         | q AS (
         |  SELECT doc_id, fp,
         |   0.4 * (1.0 - nonalpha) + 0.3 * least(nt / 100.0, 1.0) + 0.3 * least(stop_r * 5.0, 1.0) AS quality,
         |   CASE WHEN r_en >= 0.01 AND r_en >= r_es AND r_en >= r_de THEN 'en'
         |        WHEN r_es >= 0.01 AND r_es >= r_de THEN 'es'
         |        WHEN r_de >= 0.01 THEN 'de'
         |        ELSE 'unknown' END AS lang_pred
         |  FROM m),
         | keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM q GROUP BY fp),
         | kept AS (
         |  SELECT q.doc_id, q.quality
         |  FROM q JOIN keep ON q.fp = keep.fp
         |  WHERE q.doc_id = keep.keep_id AND q.quality > 0.5 AND q.lang_pred = 'en'
         |    AND q.doc_id NOT IN (SELECT vec_id FROM dropped)),
         | t AS (
         |  SELECT d.doc_id, d.source, k.quality,
         |    CAST(len(regexp_extract_all(ex.text, '${TextOps.ReTokenPattern}')) AS BIGINT) AS n_tokens,
         |    md5(CAST(d.doc_id AS VARCHAR)) AS h
         |  FROM documents d JOIN kept k USING (doc_id)
         |    JOIN ex ON ex.doc_id = d.doc_id),
         | c AS (
         |  SELECT doc_id, source, quality, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, quality, n_tokens, cum_tokens,
         |  CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS pack_id,
         |  CAST((cum_tokens - n_tokens) % 512 AS BIGINT) AS offset_in_pack,
         |  skt.skipped_spans, skt.skipped_bytes, skt.skipped_members,
         |  skt.skipped_member_bytes
         |FROM c, skt
         |WHERE cum_tokens - n_tokens < 800
         |ORDER BY source, doc_id""".stripMargin
    },
    "q54_repetition_filters" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | g AS (SELECT doc_id, toks, len(toks) AS nt,
        |   CASE WHEN len(toks) >= 2 THEN
        |     list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |   ELSE [] END AS g2,
        |   CASE WHEN len(toks) >= 3 THEN
        |     list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |   ELSE [] END AS g3
        | FROM b),
        | m AS (SELECT doc_id,
        |   1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(nt, 1) AS dup_token_frac,
        |   CASE WHEN len(g2) > 0 THEN
        |     CAST(list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE) / len(g2)
        |   ELSE 0.0 END AS top_2gram_frac,
        |   CASE WHEN len(g3) > 0 THEN
        |     1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
        |   ELSE 0.0 END AS dup_3gram_frac
        | FROM g)
        |SELECT doc_id, dup_token_frac, top_2gram_frac, dup_3gram_frac,
        |  (dup_token_frac <= 0.4 AND top_2gram_frac <= 0.25 AND dup_3gram_frac <= 0.2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q55_decontaminate" ->
      s"""WITH ${DedupQueries.ShinglesCte},
         | bg AS (SELECT DISTINCT sg FROM sh WHERE doc_id % 50 = 0),
         | hits AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_3grams
         |          FROM sh s JOIN bg USING (sg)
         |          WHERE s.doc_id % 50 <> 0
         |          GROUP BY s.doc_id)
         |SELECT doc_id, n_shared_3grams FROM hits ORDER BY doc_id""".stripMargin,
    /* q165: every-50th-doc benchmark scored against the rest — distinct
     * gram totals and hits per eval doc, bp via integer floor division,
     * verdict thresholds in exact integers. */
    "q165_contamination_audit" ->
      s"""WITH ${DedupQueries.ShinglesCte},
         | cg AS (SELECT DISTINCT sg FROM sh WHERE doc_id % 50 <> 0),
         | bg AS (SELECT doc_id, sg FROM sh WHERE doc_id % 50 = 0),
         | tt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
         |       FROM bg GROUP BY doc_id),
         | hh AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |       FROM bg WHERE sg IN (SELECT sg FROM cg) GROUP BY doc_id),
         | j AS (SELECT tt.doc_id, tt.n_grams, COALESCE(hh.n_hit, 0) AS n_hit
         |       FROM tt LEFT JOIN hh USING (doc_id))
         |SELECT doc_id, n_grams, n_hit,
         |  CAST(n_hit * 10000 // n_grams AS BIGINT) AS contam_bp,
         |  CASE WHEN n_hit * 10000 // n_grams >= 7000 THEN 'dirty'
         |       WHEN n_hit * 10000 // n_grams >= 2000 THEN 'partial'
         |       ELSE 'clean' END AS verdict
         |FROM j ORDER BY doc_id""".stripMargin,
    // the bloom prefilter is exact end-to-end (no false negatives + exact
    // verify join) — the oracle is the same SQL as q55 on the %37 split
    "q79_bloom_decontaminate" ->
      s"""WITH ${DedupQueries.ShinglesCte},
         | bg AS (SELECT DISTINCT sg FROM sh WHERE doc_id % 37 = 0),
         | hits AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_3grams
         |          FROM sh s JOIN bg USING (sg)
         |          WHERE s.doc_id % 37 <> 0
         |          GROUP BY s.doc_id)
         |SELECT doc_id, n_shared_3grams FROM hits ORDER BY doc_id""".stripMargin,
    "q56_doc_chunking" ->
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | s AS (SELECT doc_id, toks,
        |        unnest(range(0, greatest(len(toks), 1), 48)) AS start_tok FROM b)
        |SELECT doc_id,
        |  CAST(start_tok // 48 AS BIGINT) AS chunk_id,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(toks[start_tok+1 : start_tok+64]) AS BIGINT) AS chunk_len,
        |  array_to_string(toks[start_tok+1 : start_tok+64], ' ') AS chunk_text
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "q52_sequence_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(text, '${TextOps.ReTokenPattern}')) AS BIGINT) AS n_tokens,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents),
         | c AS (
         |  SELECT doc_id, source, n_tokens,
         |    -- HUGEINT window sum cast back to BIGINT (driver hash is
         |    -- dtype-sensitive)
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |                             ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
         |  FROM t)
         |SELECT doc_id, source, n_tokens,
         |  CAST(start_tok // 512 AS BIGINT) AS pack_id,
         |  CAST(start_tok % 512 AS BIGINT) AS offset_in_pack
         |FROM c
         |ORDER BY source, doc_id""".stripMargin,
    /* Thresholds are the hexThresholds(0.8/0.1/0.1, 2) literals: 205/256
     * → 'cd', 230/256 → 'e6' (hex strings order like their numeric value). */
    "q61_hash_split" ->
      """SELECT doc_id,
        |  substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
        |  CASE WHEN substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
        |       WHEN substr(md5('graft-split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    /* Replays rate = round(min(1, sqrt-weighted share · target / c_s), 6)
     * and the floor(rate·65536) hex threshold; the keep test is a plain
     * string compare on md5 prefixes. Rounding-boundary margins measured:
     * ≥0.10 on the 65536 grid, ≥0.10 on the 1e-6 output grid (both SFs). */
    "q63_lang_mix" ->
      """WITH counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS c_s
        |               FROM documents GROUP BY lang),
        | tot AS (SELECT CAST(sum(c_s) AS DOUBLE) AS n_total,
        |                sum(pow(CAST(c_s AS DOUBLE), 0.5)) AS w_total FROM counts),
        | rates AS (SELECT lang, c_s,
        |    round(least(1.0, pow(CAST(c_s AS DOUBLE), 0.5) / w_total * 0.5 * n_total / c_s), 6) AS rate
        |  FROM counts, tot),
        | th AS (SELECT lang, c_s, rate,
        |    lpad(lower(to_hex(CAST(floor(rate * 65536) AS BIGINT))), 4, '0') AS thresh
        |  FROM rates)
        |SELECT d.doc_id, d.lang, t.c_s, t.rate
        |FROM documents d JOIN th t USING (lang)
        |WHERE t.rate >= 1.0
        |   OR substr(md5('graft-mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4) < t.thresh
        |ORDER BY d.doc_id""".stripMargin
  )
}
