package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record linkage / entity resolution: fuzzy string matching with blocking.
  *
  * The all-pairs edit-distance comparison is O(n²) and never runs at scale;
  * the standard shape (Fellegi–Sunter style blocking) is: reduce to DISTINCT
  * values first (names repeat heavily in fact tables), derive a cheap
  * BLOCKING KEY per value (here: a caller-supplied expression, e.g. the last
  * token, a phonetic code, a length bucket), self-equi-join on the block key,
  * and only run the expensive `levenshtein` comparator inside each block.
  * Candidate volume is Σ|block|² over blocks — bounded by the blocking
  * choice, not the corpus.
  *
  * `levenshtein` is the same exact integer DP in Spark and DuckDB, so the
  * whole operator replays bit-identically in the oracle — no float anywhere.
  *
  * Scale shape: one DISTINCT aggregation (map-side combinable — the value
  * domain is vocabulary-sized, not row-sized), one block-keyed self
  * equi-join, map-side distance filter. No BNLJ, no cartesian.
  */
object Linkage {

  /** Fuzzy duplicate-value pairs: distinct `nameCol` values (with support
    * counts and min exemplar id), blocked by `blockKey(name)`, paired within
    * each block at `levenshtein ≤ maxDist` (and unequal). Returns
    * (name_a < name_b, block, dist, n_a, n_b) — the candidate map for a
    * merge/canonicalize pass. */
  def blockedFuzzyPairs(df: DataFrame, idCol: String, nameCol: String,
                        blockKey: Column => Column, maxDist: Int): DataFrame = {
    val values = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("n_rows"), min(col(idCol)).as("min_id"))
      .withColumn("block", blockKey(col("name")))
    values.as("a").join(values.as("b"),
        col("a.block") === col("b.block") && col("a.name") < col("b.name"))
      .withColumn("dist", levenshtein(col("a.name"), col("b.name")))
      .filter(col("dist") <= maxDist)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        col("a.block").as("block"), col("dist").cast("long").as("dist"),
        col("a.n_rows").as("n_a"), col("b.n_rows").as("n_b"))
  }

  /** Sorted-neighborhood entity resolution (Hernández & Stolfo, SIGMOD '95
    * merge/purge) — the OTHER classical blocking geometry, complementing
    * [[blockedFuzzyPairs]]' hash blocking: sort the distinct values
    * lexicographically and compare each only to its `window` nearest
    * neighbors in that order. A hash block key fails exactly when the typo
    * sits in the key token itself ('jon smith' vs 'john smith' under
    * last-token blocking); lexicographic neighbors survive typos in LATER
    * characters — production merge/purge runs several passes with
    * different geometries and unions the candidates.
    *
    * Scale shape: one DISTINCT aggregation (the value domain is
    * vocabulary-sized — the [[blockedFuzzyPairs]] tier), a rank window
    * over that bounded frame (constant-key idiom), and the neighbor pairs
    * as a UNION OF TWO EQUI-JOINS on bucket = rank div window (a pair
    * within rank distance `window` shares a bucket or sits in adjacent
    * ones, never both — so the union is disjoint and no BNLJ appears; the
    * J1 disjunctive-rewrite discipline). levenshtein runs only inside the
    * neighborhood.
    *
    * `sortKey` is the pass's sorting criterion — the paper's method is
    * MULTI-PASS: the identity key catches suffix typos, `reverse(name)`
    * catches prefix typos ('old widget'/'red widget' sort 8 ranks apart
    * forward but adjacently reversed), and a production run unions the
    * passes. Output pairs are canonically oriented (name_a < name_b)
    * regardless of the pass's sort order. */
  def sortedNeighborPairs(df: DataFrame, nameCol: String,
                          window: Int, maxDist: Int,
                          sortKey: Column => Column = identity): DataFrame = {
    require(window >= 1, s"window must be positive, got $window")
    val values = df.groupBy(col(nameCol).as("name"))
      .agg(count(lit(1)).as("n_rows"))
    val wholeKey = substring(col("name"), 0, 0)
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(wholeKey).orderBy(sortKey(col("name")), col("name"))
    val ranked = values.withColumn("_rk", row_number().over(ord))
      .withColumn("_bk", expr(s"_rk div $window"))
    val right = ranked.select(col("name").as("name_b"),
      col("n_rows").as("n_b"), col("_rk").as("_rkb"), col("_bk").as("_bkb"))
    def half(shift: Int) = ranked.join(right, col("_bkb") === col("_bk") + shift)
    val swap = col("name") > col("name_b")
    half(0).unionByName(half(1))
      .filter(col("_rkb") > col("_rk") &&
        col("_rkb") - col("_rk") <= window)
      .withColumn("dist", levenshtein(col("name"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(
        when(swap, col("name_b")).otherwise(col("name")).as("name_a"),
        when(swap, col("name")).otherwise(col("name_b")).as("name_b"),
        (col("_rkb") - col("_rk")).cast("long").as("rank_gap"),
        col("dist").cast("long").as("dist"),
        when(swap, col("n_b")).otherwise(col("n_rows")).as("n_a"),
        when(swap, col("n_rows")).otherwise(col("n_b")).as("n_b"))
  }

  /** Golden-record survivorship — the consolidation tier of master-data
    * management, above pair detection ([[blockedFuzzyPairs]]) and cluster
    * formation ([[Dedup.duplicateClusters]]): several source systems
    * deliver conflicting versions of the same entity, and ONE canonical
    * record must survive, attribute by attribute, under explicit
    * deterministic rules (the Fellegi–Sunter tradition's "fusion" step):
    *
    *   - `modeCol` survives by CONSENSUS: the most frequent non-null
    *     value; ties broken by recency (max `clockCol` among deliveries
    *     of that value), then by the value itself — a total order, so
    *     every engine elects the same winner;
    *   - `latestCol` survives by RECENCY: the value of the latest
    *     delivery that actually supplied one (nulls never win — a late
    *     system with missing data must not erase an earlier value);
    *     deliveries tying on the clock are broken by the value itself,
    *     so this rule too is a total order.
    *
    * Conflict visibility ships alongside (n_mentions, n_values) — the
    * rows a data steward reviews.
    *
    * Scale shape: one entity-keyed aggregation for the consensus counts,
    * one entity-keyed window over the (entity, value)-bounded count rows
    * to elect the winner, one aggregation for recency/conflicts — all
    * partitioned by the entity key, no corpus-scale sort, no collect. */
  def goldenRecord(mentions: DataFrame, keyCol: String, clockCol: String,
                   modeCol: String, latestCol: String): DataFrame = {
    val byValue = mentions.filter(col(modeCol).isNotNull)
      .groupBy(col(keyCol), col(modeCol))
      .agg(count(lit(1)).as("_cnt"), max(col(clockCol)).as("_mc"))
    val elect = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col("_cnt").desc, col("_mc").desc, col(modeCol).asc)
    val consensus = byValue.withColumn("_rk", row_number().over(elect))
      .filter(col("_rk") === 1)
      .select(col(keyCol), col(modeCol).as(s"golden_$modeCol"))
    val recency = mentions.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_mentions"),
      countDistinct(when(col(modeCol).isNotNull, col(modeCol)))
        .as("n_values"),
      // null values carry a null ordering key, so max_by skips them —
      // the same contract as DuckDB's arg_max. The ordering key is
      // (clock, value), not clock alone: two deliveries tying on clock
      // with different non-null values would otherwise elect whichever
      // row the partition order presented first — the value tiebreak
      // completes the total order (same determinism contract as the
      // consensus window's three-level ORDER BY).
      max_by(col(latestCol),
        when(col(latestCol).isNotNull,
          struct(col(clockCol), col(latestCol))))
        .as(s"golden_$latestCol"))
    recency.join(consensus, Seq(keyCol), "left")
  }

  /** Attribute-survivorship rules beyond [[goldenRecord]]'s consensus +
    * recency pair — the remaining standard Fellegi–Sunter fusion rules a
    * steward configures per attribute. Every rule is an argmax/argmin
    * under a TOTAL order (the value itself is always the final tiebreak),
    * so elections are deterministic under repartitioning, and every rule
    * skips null values (a delivery with missing data never erases one
    * that supplied it — the null-keyed-row contract of max_by/arg_max). */
  sealed trait SurvivorRule
  object SurvivorRule {
    /** Latest non-null delivery; clock ties break on the value. */
    case object Latest extends SurvivorRule
    /** EARLIEST non-null delivery (first-seen-wins provenance). */
    case object FirstNonNull extends SurvivorRule
    /** Longest value (richest-content heuristic); length ties on value. */
    case object Longest extends SurvivorRule
    /** Trust-ordered sources: the first source in `order` that delivered
      * a non-null value wins; within a source, latest clock, then value.
      * Unlisted sources rank below every listed one. */
    final case class SourcePriority(order: Seq[String]) extends SurvivorRule
  }

  /** Apply one survivorship rule per attribute in ONE entity-keyed
    * aggregation (single shuffle regardless of rule count — each rule is
    * a max_by/min_by over its total-order election key). `sourceCol` is
    * only consulted by [[SurvivorRule.SourcePriority]] rules. Output:
    * key, n_mentions, and one `golden_<col>` per rule. */
  def survivorship(mentions: DataFrame, keyCol: String, clockCol: String,
                   rules: Seq[(String, SurvivorRule)],
                   sourceCol: String = ""): DataFrame = {
    import SurvivorRule._
    val aggs = rules.map { case (c, rule) =>
      val v = col(c)
      rule match {
        case Latest =>
          max_by(v, when(v.isNotNull, struct(col(clockCol), v)))
            .as(s"golden_$c")
        case FirstNonNull =>
          min_by(v, when(v.isNotNull, struct(col(clockCol), v)))
            .as(s"golden_$c")
        case Longest =>
          max_by(v, when(v.isNotNull, struct(length(v), v)))
            .as(s"golden_$c")
        case SourcePriority(order) =>
          require(sourceCol.nonEmpty,
            "SourcePriority rules need a sourceCol")
          // negated rank so ONE max_by expresses (best source, latest,
          // value) — unlisted sources get rank |order|, i.e. worst
          val negRank = order.zipWithIndex
            .foldLeft(lit(-order.size): Column) { case (acc, (s, i)) =>
              when(col(sourceCol) === s, lit(-i)).otherwise(acc)
            }
          max_by(v, when(v.isNotNull, struct(negRank, col(clockCol), v)))
            .as(s"golden_$c")
      }
    }
    mentions.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_mentions"), aggs: _*)
  }

  /** Blocking-quality evaluation (the standard record-linkage eval pair,
    * Christen's survey metrics): for each candidate-generation strategy,
    *
    *   - REDUCTION RATIO = 1 − comparisons/total-pairs — how much of the
    *     quadratic comparison space the blocking avoided;
    *   - PAIRS COMPLETENESS = caught-true-pairs/true-pairs — how many real
    *     duplicates survive into the candidate set;
    *
    * both as exact integer basis points. Ground truth is ALL pairs at
    * `levenshtein ≤ maxDist` over `sample` — deliberately quadratic: the
    * exact all-pairs sweep is precisely what blocking avoids at corpus
    * scale, so it exists ONLY on the caller's bounded deterministic sample
    * (the q116 discipline — quadratic work confined by contract; the
    * broadcast self-join squares the s-row sample, never the corpus).
    *
    * `strategies` maps labels to candidate-pair frames over the SAME
    * sample, each carrying a `dist` column (generate them with
    * [[blockedFuzzyPairs]] / [[sortedNeighborPairs]] at an unbounded
    * maxDist so comparisons are counted BEFORE the distance filter).
    * Include the all-pairs frame itself as a baseline row and the output
    * shows the whole trade: completeness 10000 at reduction 0. */
  def blockingQuality(sample: DataFrame, nameCol: String,
                      strategies: Seq[(String, DataFrame)],
                      maxDist: Int): DataFrame = {
    require(strategies.nonEmpty, "need at least one strategy")
    val names = sample.select(col(nameCol).as("name"))
    val counts = names.groupBy().agg(count(lit(1)).as("s"))
    val truth = names.as("a")
      .join(broadcast(names.select(col("name").as("name_b"))),
        col("name") < col("name_b"))
      .filter(levenshtein(col("name"), col("name_b")) <= maxDist)
      .groupBy().agg(count(lit(1)).as("n_true"))
    val rows = strategies.map { case (label, cand) =>
      cand.select(col("dist"))
        .groupBy().agg(count(lit(1)).as("n_comparisons"),
          coalesce(sum(when(col("dist") <= maxDist, 1L).otherwise(0L)), lit(0L))
            .as("n_caught"))
        .withColumn("strategy", lit(label))
    }.reduce(_ unionByName _)
    rows.join(broadcast(truth)).join(broadcast(counts))
      .withColumn("n_total_pairs", expr("(s * (s - 1)) div 2"))
      .select(col("strategy"), col("n_comparisons"), col("n_caught"),
        col("n_true").as("n_true_pairs"), col("n_total_pairs"),
        when(col("n_true") > 0,
          expr("(10000 * n_caught) div n_true")).as("completeness_bp"),
        expr("(10000 * (n_total_pairs - n_comparisons)) div n_total_pairs")
          .as("reduction_bp"))
  }
}
