package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact repeated-substring detection via a k-order suffix array — the
  * EXACT tier of the span-dedup family (Lee et al. 2021 "Deduplicating
  * Training Data" build a suffix array over the tokenized corpus and drop
  * every ≥ 50-token repeat; the winnow operators q115/q116/q120 are the
  * SAMPLED approximation of the same structure, cf.
  * `/root/reference` transform-stage dedup semantics).
  *
  * Design choices, each load-bearing at 100 TB:
  *
  *   - WORD-START suffixes, not every byte: dedup practice is token-level
  *     (a repeat that starts mid-word is headed by one that starts at the
  *     word), so the suffix count is the corpus WORD count (~5–6× fewer
  *     rows than chars).
  *   - k-ORDER ranking (sort by the k-char suffix prefix, k = 64 default):
  *     a full suffix sort needs prefix doubling (log(maxlen) global
  *     sort+join rounds — Flick & Aluru SC'15); with the comparison capped
  *     at k chars the ONE range-partitioned sort on the k-byte prefix IS
  *     the suffix array restricted to ≤ k-char structure, which is all a
  *     repeated-span detector with minLen ≤ k consumes. Prefix doubling
  *     only pays when k must be unbounded — documented trade, not a
  *     shortcut: the operator REQUIRES minLen ≤ k.
  *   - Adjacent-LCP only: lcp(rank i, rank i+1) lower-bounds the lcp of
  *     every pair spanning them, so every maximal ≥ L repeat surfaces on
  *     at least one ADJACENT pair — O(suffixes) comparisons, never the
  *     quadratic pair set.
  *
  * Scale shape: one corpus-scale range-partitioned sort (the thing a
  * suffix array IS), per-partition windows only ([[globalRowNumber]] —
  * zero unpartitioned windows, the QueriesSpec window invariant), one equi-join
  * on the dense rank for adjacency, and the LCP codegen kernel
  * ([[graft.functions.LcpPrefix]]) per adjacent pair.
  */
object SuffixArray {

  /** Global row number without an unpartitioned window — the two-phase
    * distributed ranking: range-partition + sort on the key (equal keys
    * co-locate; our keys are unique so the total order is deterministic),
    * recover each row's LOCAL position from the monotonic id assigned in
    * the sorted stage, then add per-partition offsets from a count table
    * bounded by the partition count (the constant-key cumulative window
    * over a BOUNDED frame — the tokenVocab convention).
    *
    * The ranged frame is MATERIALIZED (localCheckpoint) before fan-out,
    * and this is load-bearing for correctness, not a perf nicety: the
    * ranked-rows subtree and the offsets subtree both read `_pid =
    * spark_partition_id()`, and if the two subtrees each recompute the
    * range exchange (ReuseExchange declined, or separate actions — both
    * observed under AQE), the RangePartitioner re-SAMPLES boundaries per
    * instance, the two `_pid` mappings disagree, and offsets from one
    * partitioning are added to row numbers from another — silently
    * corrupted ranks. One materialization pins one physical partitioning
    * for every consumer (including downstream self-joins on the rank).
    * Cost is one O(rows) cache of the projected sort columns — the same
    * price Lee et al. pay to persist their suffix array. */
  /** The pre-materialization ranged frame — exposed so the plan-shape
    * spec can pin the range exchange that the checkpoint then hides
    * behind a LogicalRDD scan. Rows are SORTED within partitions and
    * carry their physical partition id plus a monotonic id whose
    * within-partition index IS the local sort position — so the rank
    * needs no corpus-wide window at all (see [[globalRowNumber]]). */
  private[graft] def rangedWithPid(df: DataFrame,
                                   sortCols: Seq[Column]): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    df.repartitionByRange(slots, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_mono", monotonically_increasing_id())
  }

  /** Two-phase global rank with ZERO corpus-wide exchanges beyond the
    * range sort itself: `monotonically_increasing_id()` evaluated right
    * after the within-partition sort encodes (partition, local index) in
    * one stage — no hash re-exchange on the partition id and no window
    * sort pass, which the previous formulation paid just to recover the
    * local position the sort had already established. The local index is
    * `_mono − min(_mono in partition)` (mono ids are contiguous within a
    * partition by construction), and per-partition minima/counts come
    * from ONE bounded aggregation over the materialized frame, stitched
    * by the constant-key bounded window and broadcast back. */
  private[graft] def globalRowNumber(df: DataFrame, sortCols: Seq[Column],
                                     out: String): DataFrame = {
    val ranged = rangedWithPid(df, sortCols).localCheckpoint(true)
    val one = substring(col("_pid").cast("string"), 0, 0)
    val offs = ranged.groupBy(col("_pid"))
      .agg(count(lit(1)).as("_c"), min(col("_mono")).as("_m0"))
      .withColumn("_off", coalesce(
        sum(col("_c")).over(Window.partitionBy(one).orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_off"), col("_m0"))
    ranged.join(broadcast(offs), "_pid")
      .withColumn(out, col("_off") + (col("_mono") - col("_m0")) + 1L)
      .drop("_pid", "_mono", "_off", "_m0")
  }

  /** The k-order suffix array: one row per word-start suffix with its
    * 1-based code-point offset, k-char prefix, and dense global rank in
    * (prefix, doc, off) order — a UNIQUE sort key, so the rank is total
    * and engine-deterministic. Word offsets come from a per-doc running
    * sum over the split positions (empty split cells — consecutive
    * spaces — contribute their separator before being dropped, so
    * offsets stay exact). */
  /** The un-ranked suffix frame: one row per word-start suffix with its
    * 1-based code-point offset and k-char prefix — the extraction half of
    * [[suffixArrayK]], also the PERSISTED-index payload for
    * [[auditShard]] (an audit index needs no global rank: insertion order
    * is re-derived per audit from the prefix itself). */
  private[graft] def wordStartPrefixes(docs: DataFrame, idCol: String,
                                       textCol: String, k: Int,
                                       carryCols: Seq[String] = Nil): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val carried = carryCols.map(col)
    docs
      .select(Seq(col(idCol).as("doc_id"), col(textCol).as("_text"),
        posexplode(split(col(textCol), " ")).as(Seq("_wi", "_w"))) ++ carried: _*)
      .withColumn("off", coalesce(
        sum(length(col("_w")) + 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("_wi"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)) + 1L)
      .filter(col("_w") =!= "")
      .select(Seq(col("doc_id"), col("off"),
        col("_text").substr(col("off").cast("int"), lit(k)).as("prefix")) ++
        carried: _*)
  }

  def suffixArrayK(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 64, carryCols: Seq[String] = Nil): DataFrame = {
    val words = wordStartPrefixes(docs, idCol, textCol, k, carryCols)
    globalRowNumber(words, Seq(col("prefix"), col("doc_id"), col("off")), "rank")
      .select(Seq(col("rank"), col("doc_id"), col("off"), col("prefix")) ++
        carryCols.map(col): _*)
  }

  /** [[suffixArrayK]] plus the adjacent LCP: per suffix, the code-point
    * common-prefix length with its rank-predecessor (0 for rank 1 —
    * left join, never a window). This is the complete repeated-substring
    * index: max over the column = longest repeat (≤ k), and any ≥ L
    * repeat shows as some row with lcp_prev ≥ L. */
  def adjacentLcp(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 64, carryCols: Seq[String] = Nil): DataFrame = {
    val sa = suffixArrayK(docs, idCol, textCol, k, carryCols)
    val prev = sa.select((col("rank") + 1L).as("rank"),
      col("doc_id").as("prev_doc"), col("off").as("prev_off"),
      col("prefix").as("_pp"))
    sa.join(prev, Seq("rank"), "left")
      .select(Seq(col("rank"), col("doc_id"), col("off"), col("prefix"),
        col("prev_doc"), col("prev_off"),
        coalesce(graft.functions.LcpPrefix.lcp(col("_pp"), col("prefix")),
          lit(0)).cast("long").as("lcp_prev")) ++ carryCols.map(col): _*)
  }

  /** Per-document duplication profile — the number Lee et al. report per
    * corpus slice (“fraction of tokens in duplicated substrings”), here in
    * exact chars per doc: every adjacent-LCP hit ≥ `minLen` contributes
    * its interval to BOTH endpoint docs, intervals are merged per doc
    * (gaps-and-islands over a per-doc window — successive word-start
    * suffixes cover a long repeat in overlapping ≤ k windows, and the
    * union stitches them back to the full run), and the merged mass is
    * reported against the doc's char count in exact basis points. Docs
    * with no repeats are kept at zero (left join).
    *
    * Scale shape: the interval set is bounded by 2× the qualifying
    * adjacent pairs; islands use per-DOC windows only; the rollup is one
    * doc-keyed aggregation joined back to the corpus projection. */
  def duplicationProfile(docs: DataFrame, idCol: String, textCol: String,
                         minLen: Int, k: Int = 64): DataFrame = {
    require(minLen >= 1 && minLen <= k,
      s"need 1 <= minLen ($minLen) <= k ($k)")
    val adj = adjacentLcp(docs, idCol, textCol, k)
      .filter(col("lcp_prev") >= minLen)
    // Both endpoints' intervals in ONE pass — an array explode, not a
    // two-branch union (a union would consume `adj` twice and re-run the
    // rank join + LCP kernel per branch, the hammingNearDup lesson).
    // DISTINCT is load-bearing: duplicate (s, e) intervals are irrelevant
    // to coverage, and deduping makes (s, e) a UNIQUE order within each
    // doc — a gaps-and-islands chain whose window order admits ties is
    // under-determined across engines (the cm pass and the cumulative
    // island-number pass may see tie groups in different physical orders
    // and split islands differently; observed as run-to-run flapping in
    // the DuckDB oracle before the dedup).
    val iv = adj.select(explode(array(
        struct(col("doc_id"), col("off").as("s"),
          (col("off") + col("lcp_prev")).as("e")),
        struct(col("prev_doc").as("doc_id"), col("prev_off").as("s"),
          (col("prev_off") + col("lcp_prev")).as("e")))).as("_iv"))
      .select(col("_iv.doc_id"), col("_iv.s"), col("_iv.e"))
      .distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val islands = iv
      .withColumn("_cm", max(col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new", when(col("_cm").isNull || col("s") > col("_cm"), 1L)
        .otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("s")).as("_s"), max(col("e")).as("_e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("_e") - col("_s")).as("chars_dup"))
    docs.select(col(idCol).as("doc_id"),
        length(col(textCol)).cast("long").as("n_chars"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("chars_dup"), lit(0L)).as("chars_dup"))
      .withColumn("dup_bp", expr("(10000 * chars_dup) div n_chars"))
  }

  /** Exact longest shared substring (≤ k chars, word-start anchored) between
    * each corpus document and ANY document of a benchmark set — the exact
    * counterpart of the n-gram contamination audit (q165), and the number a
    * memorization/leakage study reports (Lee et al. 2021 §5, Carlini et al.
    * 2021: the LENGTH of the longest eval-set span a training document
    * carries, not just whether some fixed-size gram collides).
    *
    * Exactness argument: for suffixes in rank order, lcp(a, b) =
    * min(adjacent lcps) over the rank interval (a, b], and lcp against the
    * NEAREST benchmark suffix (above or below in rank order) dominates all
    * farther ones — so per corpus suffix the true max-over-benchmark LCP is
    * `max(min-chain to previous bench suffix, min-chain to next bench
    * suffix)`, and per doc the max over its suffixes. No pair enumeration.
    *
    * Scale shape — a distributed segmented running min, zero unpartitioned
    * windows: the LCP chain is range-partitioned on the rank and
    * MATERIALIZED once (the [[globalRowNumber]] consistency rule: every
    * window and the boundary summary must see ONE `spark_partition_id`
    * mapping); within each partition the min-chains are per-(partition,
    * bench-segment) windows; across partitions a BOUNDED per-partition
    * summary table (has-bench, min after last bench, min up to first
    * bench, whole-partition min) is stitched with the constant-key
    * bounded-window convention and broadcast back. Min is idempotent, so
    * boundary edges may be covered by both the local window and the
    * carry-in without harm; the carry sentinel (Long.MaxValue) keeps
    * "bench below but zero carried edges" distinct from "no bench below".
    */
  def crossSetMaxLcp(docs: DataFrame, idCol: String, textCol: String,
                     isBenchCol: String, minLen: Int, k: Int = 64): DataFrame = {
    require(minLen >= 1 && minLen <= k,
      s"need 1 <= minLen ($minLen) <= k ($k): a k-char prefix cannot " +
        "witness a longer shared span")
    val slots = docs.sparkSession.sparkContext.defaultParallelism
    val f1 = adjacentLcp(docs, idCol, textCol, k, carryCols = Seq(isBenchCol))
      .select(col("rank"), col("doc_id"), col("off"), col("prefix"),
        col("lcp_prev"), col(isBenchCol).cast("boolean").as("_is_b"))
      .repartitionByRange(slots, col("rank"))
      .withColumn("_pid", spark_partition_id())
    val bInt = when(col("_is_b"), 1L).otherwise(0L)
    val wAsc = Window.partitionBy(col("_pid")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy(col("_pid")).orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // _seg / _segd: benches seen at-or-before in rank order (resp. at-or-
    // after); segment boundaries for the local min-chains, and the "rows
    // strictly after the last bench" / "rows up to the first bench"
    // selectors for the summary. The checkpoint sits HERE, after the
    // segment columns: f1→f2 is a single lineage (both window nodes read
    // the one exchange instance, so the _pid mapping is consistent within
    // this plan), and materializing f2 serves both the consistency rule
    // AND the two consumers (the local min-chains and the boundary
    // summary) with one pass instead of one per branch.
    val f2 = f1.withColumn("_seg", sum(bInt).over(wAsc))
      .withColumn("_segd", sum(bInt).over(wDesc))
      .localCheckpoint(true)
    val wSegAsc = Window.partitionBy(col("_pid"), col("_seg"))
      .orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSegDesc = Window.partitionBy(col("_pid"), col("_segd"))
      .orderBy(col("rank").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // down-chain: edges (prevBench+1 .. r] = lcp_prev of the segment's
    // non-bench rows up to r inclusive (the bench's own lcp_prev is the
    // edge BEFORE it — excluded via null). up-chain: edges (r .. nextBench]
    // = lcp_prev of strictly-higher-rank rows in the desc segment, the
    // bench's own lcp_prev included.
    val f3 = f2
      .withColumn("_draw", min(when(col("_is_b"), lit(null))
        .otherwise(col("lcp_prev"))).over(wSegAsc))
      .withColumn("_uraw", min(col("lcp_prev")).over(wSegDesc))
    val big = lit(Long.MaxValue)
    val summary = f2.groupBy(col("_pid")).agg(
      max(col("_is_b")).as("_hasB"),
      min(when(col("_segd") === 0L, col("lcp_prev"))).as("_minAfterLastB"),
      min(when(col("_seg") - bInt === 0L, col("lcp_prev"))).as("_minUpToFirstB"),
      min(col("lcp_prev")).as("_minAll"))
    val one = substring(col("_pid").cast("string"), 0, 0)
    val hasBInt = when(col("_hasB"), 1L).otherwise(0L)
    val s2 = summary
      .withColumn("_pseg", sum(hasBInt).over(
        Window.partitionBy(one).orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_psegd", sum(hasBInt).over(
        Window.partitionBy(one).orderBy(col("_pid").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // sentinel, not null: "partition's bench is its last row" carries
      // zero edges but must still mark a bench as present below
      .withColumn("_cDown", when(col("_hasB"),
        coalesce(col("_minAfterLastB"), big)).otherwise(col("_minAll")))
      .withColumn("_cUp", when(col("_hasB"),
        coalesce(col("_minUpToFirstB"), big)).otherwise(col("_minAll")))
    val carryDown = s2
      .withColumn("_run", min(col("_cDown")).over(
        Window.partitionBy(one, col("_pseg")).orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select((col("_pid") + 1).as("_pid"),
        when(col("_pseg") >= 1L, col("_run")).as("_carryIn"))
    val carryUp = s2
      .withColumn("_run", min(col("_cUp")).over(
        Window.partitionBy(one, col("_psegd")).orderBy(col("_pid").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select((col("_pid") - 1).as("_pid"),
        when(col("_psegd") >= 1L, col("_run")).as("_carryUp"))
    val f4 = f3
      .join(broadcast(carryDown), Seq("_pid"), "left")
      .join(broadcast(carryUp), Seq("_pid"), "left")
      .withColumn("_d", when(col("_seg") >= 1L, col("_draw"))
        .otherwise(when(col("_carryIn").isNull, lit(null))
          .otherwise(least(coalesce(col("_draw"), big), col("_carryIn")))))
      .withColumn("_u", when(col("_segd") >= 1L, col("_uraw"))
        .otherwise(when(col("_carryUp").isNull, lit(null))
          .otherwise(least(coalesce(col("_uraw"), big), col("_carryUp")))))
    f4.filter(!col("_is_b"))
      .withColumn("_best",
        greatest(coalesce(col("_d"), lit(0L)), coalesce(col("_u"), lit(0L))))
      .filter(col("_best") >= minLen)
      .select(col("doc_id"), col("_best"),
        col("prefix").substr(lit(1), col("_best").cast("int")).as("_span"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        max(struct(col("_best"), col("_span"))).as("_m"))
      .select(col("doc_id"), col("_m._best").as("shared_len"),
        col("_m._span").as("span"), col("n_hits"))
  }

  /** Exact repeated spans ≥ `minLen` chars across DIFFERENT documents —
    * the exact counterpart of the winnowed q115 detector: rank-adjacent
    * suffix pairs from different docs whose LCP reaches the bar, with the
    * shared span text. Every maximal cross-doc repeat ≥ minLen surfaces
    * through at least one adjacent pair whose mid-run suffixes share it
    * (suffixes of one doc's copy sort between suffixes of the other's).
    * Output is bounded by the suffix count, and in practice by the
    * corpus' true duplicate structure. minLen ≤ k is REQUIRED — beyond k
    * the prefixes can't witness the repeat. */
  /** The persisted contamination index over a (stable) benchmark/eval set:
    * its word-start suffixes with k-char prefixes — `(doc_id, off,
    * prefix)`. Build ONCE per benchmark release, write to parquet, audit
    * every incoming corpus shard against it with [[auditShard]]. No rank
    * column: an audit re-derives insertion order from the prefix itself,
    * so the index carries no partitioning assumptions a parquet
    * round-trip would lose. */
  def contaminationIndex(bench: DataFrame, idCol: String, textCol: String,
                         k: Int = 64): DataFrame =
    wordStartPrefixes(bench, idCol, textCol, k)

  /** Incremental contamination audit (round-14 verdict task #3): the
    * per-shard twin of [[crossSetMaxLcp]]. q176 re-sorts corpus ∪ bench
    * per audit; at 100 TB the Lee et al. pipeline builds the benchmark
    * index once and audits each NEW shard on arrival — this operator's
    * cost scales with |shard| + |index|, never |corpus|.
    *
    * Exactness (the ExtSpec law: shard audit ≡ the full rebuild's report
    * restricted to the shard): a shard suffix's max LCP against ANY
    * index suffix is realized by its INSERTION NEIGHBORS in the index's
    * prefix order — for sorted suffixes, lcp(s, b) ≤ lcp(s, nearer b′) —
    * so two direct LCP kernel calls (predecessor, successor) replace the
    * full build's segmented chain mins, and the chain-min identity
    * (min of adjacent lcps = pairwise lcp, capped at k on both sides)
    * makes the two formulations agree value-for-value. Other corpus
    * shards never influence a shard doc's verdict (the chain min through
    * interleaved corpus suffixes IS the pairwise lcp), which is what
    * makes per-shard auditing sound in the first place.
    *
    * Scale shape: ONE range shuffle of shard-suffixes ∪ index rows on
    * the prefix (the insertion sort — the [[globalRowNumber]] offset
    * idiom turned inside out: instead of ranking the index per audit,
    * shard rows range-co-partition WITH it), materialized once (the
    * two-subtree `spark_partition_id` consistency rule), per-partition
    * running last/first-index-prefix windows, a partition-count-BOUNDED
    * boundary summary stitched by the constant-key window and broadcast
    * back, then two [[graft.functions.LcpPrefix]] calls per shard
    * suffix and a doc-keyed rollup. Zero unpartitioned windows, zero
    * joins beyond the broadcast carry. */
  def auditShard(index: DataFrame, shard: DataFrame, idCol: String,
                 textCol: String, minLen: Int, k: Int = 64): DataFrame = {
    require(minLen >= 1 && minLen <= k,
      s"need 1 <= minLen ($minLen) <= k ($k): a k-char prefix cannot " +
        "witness a longer shared span")
    auditRollup(shardSuffixBest(index, shard, idCol, textCol, k), minLen)
  }

  /** The doc-level report half of [[auditShard]]: qualifying suffixes
    * (`_best >= minLen`) rolled up to one row per contaminated doc. */
  private def auditRollup(best: DataFrame, minLen: Int): DataFrame =
    best
      .filter(col("_best") >= minLen)
      .select(col("doc_id"), col("_best"),
        col("prefix").substr(lit(1), col("_best").cast("int")).as("_span"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        max(struct(col("_best"), col("_span"))).as("_m"))
      .select(col("doc_id"), col("_m._best").as("shared_len"),
        col("_m._span").as("span"), col("n_hits"))

  /** [[auditShard]] with a broadcast prefix pre-filter — the shape the
    * arrival-time audit actually needs at 100 TB, where the shard is huge
    * and MOSTLY CLEAN while the benchmark index is small and fixed.
    *
    * A shard suffix can reach max-LCP >= minLen against the index ONLY if
    * its first `minLen` code points equal some index suffix's first
    * `minLen` code points — so the distinct `xxhash64` keys of the index's
    * minLen-prefixes (bounded by |index|, 8 bytes each) broadcast as an
    * exact left-semi pushdown, and clean shard suffixes drop MAP-SIDE
    * before the range shuffle ever ships them. Pruning is lossless end to
    * end: a true hit's prefix hashes identically (no false negatives), and
    * a hash collision merely keeps an extra suffix whose true `_best` —
    * computed by the LCP kernel downstream — falls below the bar and exits
    * at the rollup filter. The ExtSpec law pins output ≡ [[auditShard]]
    * row-for-row; the cost asymmetry (range shuffle carries candidates,
    * not the shard) is the measured NOTES row. */
  def auditShardPruned(index: DataFrame, shard: DataFrame, idCol: String,
                       textCol: String, minLen: Int, k: Int = 64): DataFrame = {
    require(minLen >= 1 && minLen <= k,
      s"need 1 <= minLen ($minLen) <= k ($k): a k-char prefix cannot " +
        "witness a longer shared span")
    auditRollup(
      suffixBest(index, prunedCandidates(index, shard, idCol, textCol, minLen, k)),
      minLen)
  }

  /** The prune stage of [[auditShardPruned]], exposed for the plan-shape
    * pin (the stage sits above [[suffixBest]]'s eager checkpoint, so it is
    * invisible in the final query plan): shard suffixes left-semi-joined
    * against the BROADCAST distinct xxhash64 keys of the index's
    * minLen-prefixes — map-side, no shuffle of the shard. */
  private[graft] def prunedCandidates(index: DataFrame, shard: DataFrame,
                                      idCol: String, textCol: String,
                                      minLen: Int, k: Int): DataFrame = {
    val pk = xxhash64(substring(col("prefix"), 1, minLen))
    val keys = index.select(pk.as("_pk")).distinct()
    wordStartPrefixes(shard, idCol, textCol, k)
      .join(broadcast(keys), pk === col("_pk"), "left_semi")
  }

  /** The per-suffix half of [[auditShard]]: every shard word-start suffix
    * with its offset, k-prefix, and `_best` = the exact max LCP against
    * any index suffix (insertion-neighbor argument — see [[auditShard]]).
    * Shared by the audit rollup and the [[exciseContaminated]] rewrite. */
  private[graft] def shardSuffixBest(index: DataFrame, shard: DataFrame,
                                     idCol: String, textCol: String,
                                     k: Int): DataFrame =
    suffixBest(index, wordStartPrefixes(shard, idCol, textCol, k))

  /** [[shardSuffixBest]] over an ALREADY-EXTRACTED (and possibly pruned)
    * shard suffix frame `(doc_id, off, prefix)`. Dropping shard rows never
    * changes a surviving row's verdict: `_pred`/`_succ` track the nearest
    * INDEX rows only (`_ib = 1`), and the index side is passed whole. */
  private[graft] def suffixBest(index: DataFrame, shardSuffixes: DataFrame): DataFrame = {
    val slots = shardSuffixes.sparkSession.sparkContext.defaultParallelism
    val s = shardSuffixes.select(col("doc_id"), col("off"), col("prefix"))
      .withColumn("_ib", lit(0))
    val ix = index.select(col("doc_id"), col("off"), col("prefix"))
      .withColumn("_ib", lit(1))
    // (prefix, _ib, doc, off) is a UNIQUE total order (the q175 tie rule);
    // on prefix ties the index row sorts AFTER the shard row, which is
    // irrelevant to values (equal prefixes lcp to k either way) but keeps
    // every window deterministic
    val sortAsc = Seq(col("prefix"), col("_ib"), col("doc_id"), col("off"))
    val ranged = s.unionByName(ix)
      .repartitionByRange(slots, sortAsc: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    val idxPrefix = when(col("_ib") === 1, col("prefix"))
    val wAsc = Window.partitionBy(col("_pid")).orderBy(sortAsc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDesc = Window.partitionBy(col("_pid"))
      .orderBy(col("prefix").desc, col("_ib").desc, col("doc_id").desc,
        col("off").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val f = ranged
      .withColumn("_pred", last(idxPrefix, ignoreNulls = true).over(wAsc))
      .withColumn("_succ", last(idxPrefix, ignoreNulls = true).over(wDesc))
    // bounded boundary summary: each partition's first/last index prefix
    // in sort order (struct min/max over the unique key = the sort's own
    // endpoints), carried across partitions as running last-non-null
    val summary = ranged.groupBy(col("_pid")).agg(
      max(when(col("_ib") === 1,
        struct(col("prefix"), col("doc_id"), col("off")))).as("_last"),
      min(when(col("_ib") === 1,
        struct(col("prefix"), col("doc_id"), col("off")))).as("_first"))
    val one = substring(col("_pid").cast("string"), 0, 0)
    val carry = summary
      .withColumn("_carryDown", last(col("_last.prefix"), ignoreNulls = true)
        .over(Window.partitionBy(one).orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_carryUp", last(col("_first.prefix"), ignoreNulls = true)
        .over(Window.partitionBy(one).orderBy(col("_pid").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("_pid"), col("_carryDown"), col("_carryUp"))
    f.join(broadcast(carry), Seq("_pid"))
      .filter(col("_ib") === 0)
      .withColumn("_p", coalesce(col("_pred"), col("_carryDown")))
      .withColumn("_s", coalesce(col("_succ"), col("_carryUp")))
      .withColumn("_best", greatest(
        coalesce(graft.functions.LcpPrefix.lcp(col("prefix"), col("_p"))
          .cast("long"), lit(0L)),
        coalesce(graft.functions.LcpPrefix.lcp(col("prefix"), col("_s"))
          .cast("long"), lit(0L))))
      .select(col("doc_id"), col("off"), col("prefix"), col("_best"))
  }

  /** Span-level decontamination of an arriving shard against the persisted
    * benchmark index — the REWRITE that completes [[auditShard]]'s report
    * (Lee et al. 2021 drop the repeated span, not the document; for
    * benchmark contamination the span-level cut preserves the rest of an
    * otherwise-clean document): every character covered by a ≥ `minLen`
    * word-start span shared with ANY index suffix is excised, and the
    * output reports per shard doc the original size, merged contaminated
    * span count and char mass, the rebuilt text's length and md5.
    * Coverage is exact for runs of ANY length despite the k-cap: interior
    * word-starts of a long shared run each witness ≥ min(k, remaining)
    * chars, so their intervals chain to the run's exact end.
    *
    * Clean docs (no qualifying span) pass through verbatim — the output
    * IS the cleaned shard's manifest, one row per shard doc.
    *
    * Scale shape: [[shardSuffixBest]]'s one range shuffle + the
    * q175-style interval merge (DISTINCT intervals — the tie-free window
    * rule — then per-DOC gaps-and-islands windows), one doc-keyed rollup
    * carrying the bounded per-doc interval ARRAY, and the excision as a
    * single `aggregate` fold over that array — no per-char explode, no
    * second text scan. */
  def exciseContaminated(index: DataFrame, shard: DataFrame, idCol: String,
                         textCol: String, minLen: Int, k: Int = 64): DataFrame = {
    require(minLen >= 1 && minLen <= k,
      s"need 1 <= minLen ($minLen) <= k ($k): a k-char prefix cannot " +
        "witness a longer shared span")
    exciseFromBest(shardSuffixBest(index, shard, idCol, textCol, k),
      shard, idCol, textCol, minLen)
  }

  /** [[exciseContaminated]] with the q190 broadcast prefix prune in front
    * of the range shuffle — valid here for the same reason it is valid
    * for the audit, plus one more step: the rewrite consumes ONLY
    * intervals from suffixes with `_best >= minLen`, and every pruned
    * suffix has `_best < minLen` by the prefix-equality argument, so the
    * interval set (and hence every excision) is identical. ExtSpec pins
    * pruned ≡ unpruned manifests row-for-row. */
  def exciseContaminatedPruned(index: DataFrame, shard: DataFrame,
                               idCol: String, textCol: String, minLen: Int,
                               k: Int = 64): DataFrame = {
    require(minLen >= 1 && minLen <= k,
      s"need 1 <= minLen ($minLen) <= k ($k): a k-char prefix cannot " +
        "witness a longer shared span")
    exciseFromBest(
      suffixBest(index, prunedCandidates(index, shard, idCol, textCol, minLen, k)),
      shard, idCol, textCol, minLen)
  }

  /** The interval-merge + fold half of [[exciseContaminated]], over an
    * already-computed per-suffix `_best` frame. */
  private def exciseFromBest(best: DataFrame, shard: DataFrame,
                             idCol: String, textCol: String,
                             minLen: Int): DataFrame = {
    val iv = best
      .filter(col("_best") >= minLen)
      .select(col("doc_id"), col("off").as("s"),
        (col("off") + col("_best")).as("e"))
      .distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val merged = iv
      .withColumn("_cm", max(col("e")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new", when(col("_cm").isNull || col("s") > col("_cm"), 1L)
        .otherwise(0L))
      .withColumn("_isl", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("_isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val perDoc = merged.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("_iv"),
        count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).as("chars_removed"))
    // fold the sorted DISJOINT intervals once: emit the gap before each
    // interval, then the tail after the last — the whole rebuild is one
    // expression over the bounded per-doc array, never a char explode
    val kept = aggregate(col("_iv"),
      struct(lit(1L).as("pos"), lit("").as("acc")),
      (acc, i) => struct(i.getField("e").as("pos"),
        concat(acc.getField("acc"),
          col("_text").substr(acc.getField("pos").cast("int"),
            (i.getField("s") - acc.getField("pos")).cast("int"))).as("acc")),
      acc => concat(acc.getField("acc"),
        col("_text").substr(acc.getField("pos").cast("int"),
          length(col("_text")).cast("int"))))
    shard.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("_kept",
        when(col("_iv").isNull, col("_text")).otherwise(kept))
      .select(col("doc_id"),
        length(col("_text")).cast("long").as("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"),
        length(col("_kept")).cast("long").as("kept_len"),
        md5(col("_kept").cast("binary")).as("kept_fp"))
  }

  def exactRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         minLen: Int, k: Int = 64): DataFrame = {
    require(minLen >= 1 && minLen <= k,
      s"need 1 <= minLen ($minLen) <= k ($k): a k-char prefix cannot " +
        "witness a longer repeat")
    adjacentLcp(docs, idCol, textCol, k)
      .filter(col("lcp_prev") >= minLen && col("prev_doc") =!= col("doc_id"))
      .select(col("prev_doc").as("doc_a"), col("prev_off").as("off_a"),
        col("doc_id").as("doc_b"), col("off"). as("off_b"),
        col("lcp_prev").as("lcp"),
        col("prefix").substr(lit(1), col("lcp_prev").cast("int")).as("span"))
  }
}
