package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{AsOf, RangeJoin}
import graft.util.Output.tinySort
import graft.util.Tables.load

/** Advanced join operators beyond the reference surface: as-of join and
  * range join in their scale-safe formulations, plus rollup aggregation.
  */
object AdvancedJoinQueries {

  /** Backward as-of join: each purchase gets the user's most recent signup
    * at-or-before it ([[AsOf.asOfJoinBackward]] — union + one window pass,
    * no inequality join). */
  def q35AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id").as("signup_event"))
    // nulls (no prior signup) → sentinels: null hashing differs across
    // compare harnesses; AdvancedJoinSpec covers the null semantics.
    AsOf.asOfJoinBackward(purchases, signups, "user_id", "ts", Seq("signup_event"))
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("asof_ts"), to_timestamp(lit("1970-01-01 00:00:00"))
          .cast("timestamp_ntz")).as("asof_ts"),
        coalesce(col("asof_signup_event"), lit(-1L)).as("asof_signup_event"))
      .orderBy(col("event_id"))
  }

  /** Binned range join: events.value ∈ [40·r_regionkey, 40·r_regionkey+50)
    * ([[RangeJoin.binnedRangeJoin]] — equi-join on bins, not BNLJ). */
  def q36RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val points = load(spark, dir, "events").select(col("event_id"), col("value"))
    val intervals = load(spark, dir, "region").select(
      col("r_regionkey"),
      (col("r_regionkey") * 40.0).as("lo"),
      (col("r_regionkey") * 40.0 + 50.0).as("hi"))
    RangeJoin.binnedRangeJoin(points, "value", intervals, "lo", "hi", binWidth = 50.0)
      .select(col("event_id"), col("r_regionkey"), col("value"))
      .orderBy(col("event_id"), col("r_regionkey"))
  }

  /** Rollup aggregation (subtotals + grand total) with exact decimal sums. */
  def q37Rollup(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("o_orderpriority"),
        col("n"), col("sum_price"))
      .transform(tinySort(_, col("o_orderstatus"), col("o_orderpriority")))

  /** q64 — CUBE aggregation: all four grouping sets of (returnflag,
    * linestatus) in ONE pass (Spark expands grouping sets before the
    * aggregate — still a single shuffle, partial-aggregated map-side).
    * Exact decimal money sums; null grouping keys disambiguated with
    * literal sentinels (the q37 rollup convention — the real columns are
    * never null in this data). */
  def q64Cube(spark: SparkSession, dir: String): DataFrame =
    // cube-over-preaggregate: grouping-set expansion multiplies its INPUT
    // (4 sets × every lineitem row), so collapse to the |flags|·|statuses|
    // base groups first — one ordinary map-side-combinable shuffle — and
    // cube the tiny aggregate (counts sum, decimal sums re-sum exactly).
    // At 100 TB the expansion runs over a handful of rows instead of 4×
    // the fact table; measured 2.04 → ~0.8 s at sf0.1.
    load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("_n"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("_sq"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("_sp"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("_n")).as("n"),
        sum(col("_sq")).cast("double").as("sum_qty"),
        sum(col("_sp")).cast("double").as("sum_price"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
        col("n"), col("sum_qty"), col("sum_price"))
      // ≤ (|flags|+1)·(|statuses|+1) rows — a range-sorted dump would re-run
      // the 4-grouping-set expansion over lineitem for its sampling pass
      .transform(tinySort(_, col("l_returnflag"), col("l_linestatus")))

  /** Grouped exact median (the per-row E13 median, lifted to groups — both
    * engines sort the group and interpolate the middle pair; values carry 2
    * decimals so round(6) is an exact no-op guard). */
  def q38GroupedMedian(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(median(col("value")), 6).as("med_value"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: per-user event counts as one column per event type (explicit
    * value list — deterministic schema, no extra distinct pass). */
  def q39Pivot(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .orderBy(col("user_id"))

  /** Unpivot (melt): part's numeric attributes to (attr, val) rows. */
  def q40Unpivot(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "part")
      .select(col("p_partkey"), col("p_size").cast("double").as("p_size"), col("p_retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("p_size"), col("p_retailprice")), "attr", "val")
      .orderBy(col("p_partkey"), col("attr"))

  /** Batch sessionization: split each user's event stream into sessions at
    * >30-minute gaps (lag + running sum of session-start flags — two window
    * passes over one shuffle by user). The stateful-streaming twin is
    * [[graft.stream.Sessionize]]. */
  def q41Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    load(spark, dir, "events")
      .withColumn("_prev", lag(col("ts"), 1).over(byUser))
      .withColumn("_new", when(col("_prev").isNull ||
        (unix_millis(col("ts").cast("timestamp")) -
          unix_millis(col("_prev").cast("timestamp"))) > 30L * 60 * 1000, 1).otherwise(0))
      .withColumn("session_id", sum(col("_new")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q65 — per-user time-series window features ([[graft.ext.TimeSeries
    * .movingStats]]): lag/lead, 3-row moving sum, exact decimal running
    * total, per-user row index — ONE window shuffle feeds all five columns.
    * O(events) output with a WindowExec upstream → checkpoint the narrow
    * result before the global sort (the q54 dump pattern: the range
    * partitioner's sampling pass must not re-run the window). */
  def q65MovingStats(spark: SparkSession, dir: String): DataFrame =
    graft.ext.TimeSeries.movingStats(load(spark, dir, "events"),
        "user_id", "ts", "event_id", "value")
      .localCheckpoint()
      .orderBy(col("event_id"))

  /** q74 — ranking-function suite over one window spec (dense_rank, ntile,
    * percent_rank, cume_dist): the §2.7 ranking surface in a single
    * WindowExec pass (all four share the same (partition, order), so
    * Catalyst plans ONE sort + window). percent_rank/cume_dist are exact
    * integer-ratio doubles — engine-portable unrounded. */
  def q74RankSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    load(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"),
        dense_rank().over(w).cast("long").as("drk"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .localCheckpoint()
      .orderBy(col("event_id"))
  }

  /** q97 — blocked fuzzy join ([[graft.ext.Linkage.blockedFuzzyPairs]]):
    * near-duplicate part NAMES at levenshtein ≤ 2, blocked on the last
    * name token so the comparator only runs inside blocks — the
    * entity-resolution candidate map. Exact integer edit distance replays
    * identically in DuckDB. */
  def q97FuzzyPairs(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Linkage.blockedFuzzyPairs(load(spark, dir, "part"),
        "p_partkey", "p_name",
        blockKey = name => element_at(split(name, " "), -1), maxDist = 2)
      .transform(tinySort(_, col("name_a"), col("name_b")))

  /** q121 — golden-record survivorship ([[graft.ext.Linkage.goldenRecord]]):
    * three source systems deliver conflicting customer versions (clock 2
    * rewrites every 3rd segment, clock 3 covers only even keys with
    * missing segments on %5 and missing/shifted nations on %7) and the
    * consolidation elects one canonical record per entity — segment by
    * consensus (frequency, then recency, then value), nation by latest
    * NON-NULL delivery — with conflict counts for steward review. The MDM
    * fusion tier above q97 (pair detection) and q51 (clustering). */
  def q121GoldenRecord(spark: SparkSession, dir: String): DataFrame = {
    val cust = load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val sys1 = cust.select(col("c_custkey"), lit(1L).as("clock"),
      col("c_mktsegment"), col("c_nationkey"))
    val sys2 = cust.select(col("c_custkey"), lit(2L).as("clock"),
      when(col("c_custkey") % 3 === 0, concat(col("c_mktsegment"), lit("_B")))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"),
      col("c_nationkey"))
    val sys3 = cust.filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey"), lit(3L).as("clock"),
        when(col("c_custkey") % 5 === 0, lit(null))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        when(col("c_custkey") % 7 === 0, lit(null))
          .otherwise(col("c_nationkey") + 1).as("c_nationkey"))
    graft.ext.Linkage.goldenRecord(
        sys1.unionByName(sys2).unionByName(sys3),
        "c_custkey", "clock", "c_mktsegment", "c_nationkey")
      .orderBy(col("c_custkey"))
  }

  /** q125 — survivorship rule set ([[graft.ext.Linkage.survivorship]]):
    * the remaining standard fusion rules beyond q121's consensus+recency,
    * one entity-keyed aggregation for all three. Feeds: crm (clock 1,
    * phones missing on even keys), web (clock 2, phones always, aliases
    * extended on %4), mdm (clock 3, even keys only, gaps on %3/%5/%7).
    * Rules: phone FIRST-NON-NULL (earliest delivery that supplied one),
    * alias LONGEST (richest content — web's extended alias wins where
    * present), nation SOURCE-PRIORITY mdm &gt; crm &gt; web (trust order;
    * mdm's restatement wins wherever it delivered). Every election key
    * ends on the value, so the result is partition-order independent. */
  def q125SurvivorshipRules(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Linkage.SurvivorRule._
    val cust = load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val key = col("c_custkey")
    val crm = cust.select(key, lit("crm").as("src"), lit(1L).as("clock"),
      when(key % 2 === 0, lit(null))
        .otherwise(concat(lit("P1-"), key.cast("string"))).as("phone"),
      col("c_name").as("alias"),
      col("c_nationkey").as("nation"))
    val web = cust.select(key, lit("web").as("src"), lit(2L).as("clock"),
      concat(lit("P2-"), key.cast("string")).as("phone"),
      when(key % 4 === 0, concat(col("c_name"), lit("_ext")))
        .otherwise(col("c_name")).as("alias"),
      (col("c_nationkey") + 1).as("nation"))
    val mdm = cust.filter(key % 2 === 0)
      .select(key, lit("mdm").as("src"), lit(3L).as("clock"),
        when(key % 3 === 0, lit(null))
          .otherwise(concat(lit("P3-"), key.cast("string"))).as("phone"),
        when(key % 5 === 0, lit(null)).otherwise(col("c_name")).as("alias"),
        when(key % 7 === 0, lit(null))
          .otherwise(col("c_nationkey") + 2).as("nation"))
    graft.ext.Linkage.survivorship(
        crm.unionByName(web).unionByName(mdm), "c_custkey", "clock",
        Seq("phone" -> FirstNonNull, "alias" -> Longest,
          "nation" -> SourcePriority(Seq("mdm", "crm", "web"))),
        sourceCol = "src")
      .orderBy(col("c_custkey"))
  }

  /** q133 — multi-pass sorted-neighborhood merge/purge
    * ([[graft.ext.Linkage.sortedNeighborPairs]], Hernández–Stolfo '95):
    * the second blocking geometry over part names, run as the paper's
    * two-pass union — a FORWARD lexicographic pass (catches suffix typos)
    * and a REVERSED-name pass (catches prefix typos: 'old widget' /
    * 'red widget' sort 8 ranks apart forward, adjacently reversed), each
    * comparing a value to its 5 nearest neighbors at levenshtein ≤ 2,
    * unioned per pair with pass provenance flags. Complements q97's hash
    * blocking; every neighbor join is a disjoint union of bucket
    * equi-joins, no BNLJ. */
  def q133SortedNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val part = load(spark, dir, "part")
    def pass(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
             label: String) =
      graft.ext.Linkage.sortedNeighborPairs(part, "p_name",
          window = 5, maxDist = 2, sortKey = key)
        .withColumn("pass", lit(label))
    pass(identity, "fwd").unionByName(pass(reverse, "rev"))
      .groupBy(col("name_a"), col("name_b"), col("dist"),
        col("n_a"), col("n_b"))
      .agg(min(col("rank_gap")).as("min_gap"),
        max((col("pass") === "fwd").cast("int")).as("in_fwd"),
        max((col("pass") === "rev").cast("int")).as("in_rev"))
      .transform(tinySort(_, col("name_a"), col("name_b")))
  }

  /** q140 — blocking-quality evaluation
    * ([[graft.ext.Linkage.blockingQuality]]): the eval tier over q97's
    * hash blocking and q133's two-pass sorted neighborhood — on a
    * deterministic bottom-400-by-md5 sample of distinct part names,
    * reduction ratio and pairs completeness against exact all-pairs
    * levenshtein ≤ 2 ground truth, with the all-pairs baseline row making
    * the trade visible (completeness 10000 at reduction 0). The q104
    * LSH-eval analog for entity resolution: candidates are counted BEFORE
    * the distance filter (an unbounded maxDist run of each strategy), and
    * the quadratic truth sweep exists only on the sample by contract. */
  def q140BlockingQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Linkage
    val hv = conv(substring(md5(concat(lit("blk:"), col("name"))
      .cast("binary")), 1, 15), 16, 10).cast("bigint")
    val sample = load(spark, dir, "part")
      .groupBy(col("p_name").as("name")).agg(min(col("p_partkey")).as("min_id"))
      .orderBy(hv, col("name")).limit(400)
      .localCheckpoint() // five consumers: truth + 3 strategies + count
    val wide = 1 << 20 // unbounded distance: count comparisons pre-filter
    val hash = Linkage.blockedFuzzyPairs(sample, "min_id", "name",
      blockKey = name => element_at(split(name, " "), -1), maxDist = wide)
    def pass(key: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Linkage.sortedNeighborPairs(sample, "name",
        window = 5, maxDist = wide, sortKey = key)
    val sn = pass(identity).unionByName(pass(reverse))
      .select(col("name_a"), col("name_b"), col("dist")).distinct()
    val names = sample.select(col("name"))
    val allPairs = names.as("a")
      .join(broadcast(names.select(col("name").as("name_b"))),
        col("name") < col("name_b"))
      .withColumn("dist", levenshtein(col("name"), col("name_b")))
    Linkage.blockingQuality(sample, "name",
        Seq("hash_block" -> hash, "sorted_2pass" -> sn,
          "all_pairs" -> allPairs),
        maxDist = 2)
      .transform(tinySort(_, col("strategy")))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q140_blocking_quality" -> (q140BlockingQuality _),
    "q121_golden_record" -> (q121GoldenRecord _),
    "q125_survivorship_rules" -> (q125SurvivorshipRules _),
    "q133_sorted_neighbors" -> (q133SortedNeighbors _),
    "q97_fuzzy_pairs" -> (q97FuzzyPairs _),
    "q41_sessionize" -> (q41Sessionize _),
    "q65_moving_stats" -> (q65MovingStats _),
    "q74_rank_suite" -> (q74RankSuite _),
    "q35_asof_join" -> (q35AsofJoin _),
    "q36_range_join" -> (q36RangeJoin _),
    "q37_rollup" -> (q37Rollup _),
    "q64_cube" -> (q64Cube _),
    "q38_grouped_median" -> (q38GroupedMedian _),
    "q39_pivot" -> (q39Pivot _),
    "q40_unpivot" -> (q40Unpivot _)
  )

  val sql: Map[String, String] = Map(
    /* q140: same bottom-400 sample (blk: 60-bit hash), same pre-filter
     * comparison counting, same exact all-pairs truth on the sample. */
    "q140_blocking_quality" ->
      s"""WITH v AS (SELECT p_name AS name FROM part GROUP BY 1),
        | smp AS (SELECT name FROM (SELECT name,
        |     ${ProfilingQueries.hex60("'blk:' || name")} AS hv FROM v)
        |   ORDER BY hv, name LIMIT 400),
        | sz AS (SELECT COUNT(*) AS s FROM smp),
        | ap AS (SELECT a.name AS name_a, b.name AS name_b,
        |     levenshtein(a.name, b.name) AS dist
        |   FROM smp a JOIN smp b ON a.name < b.name),
        | tr AS (SELECT COUNT(*) AS n_true FROM ap WHERE dist <= 2),
        | hb AS (SELECT COUNT(*) AS n_comparisons,
        |     COALESCE(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END), 0) AS n_caught
        |   FROM (SELECT levenshtein(a.name, b.name) AS dist
        |     FROM (SELECT name, string_split(name, ' ')[-1] AS block FROM smp) a
        |     JOIN (SELECT name, string_split(name, ' ')[-1] AS block FROM smp) b
        |       ON a.block = b.block AND a.name < b.name)),
        | rf AS (SELECT name, row_number() OVER (ORDER BY name) AS rk FROM smp),
        | rr AS (SELECT name,
        |     row_number() OVER (ORDER BY reverse(name), name) AS rk FROM smp),
        | snp AS (SELECT least(a.name, b.name) AS name_a,
        |     greatest(a.name, b.name) AS name_b,
        |     levenshtein(a.name, b.name) AS dist
        |   FROM rf a JOIN rf b ON b.rk > a.rk AND b.rk <= a.rk + 5
        |   UNION
        |   SELECT least(a.name, b.name), greatest(a.name, b.name),
        |     levenshtein(a.name, b.name)
        |   FROM rr a JOIN rr b ON b.rk > a.rk AND b.rk <= a.rk + 5),
        | sn AS (SELECT COUNT(*) AS n_comparisons,
        |     COALESCE(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END), 0) AS n_caught
        |   FROM snp),
        | apm AS (SELECT COUNT(*) AS n_comparisons,
        |     COALESCE(SUM(CASE WHEN dist <= 2 THEN 1 ELSE 0 END), 0) AS n_caught
        |   FROM ap),
        | m AS (SELECT 'hash_block' AS strategy, * FROM hb
        |   UNION ALL SELECT 'sorted_2pass', * FROM sn
        |   UNION ALL SELECT 'all_pairs', * FROM apm)
        |SELECT strategy, CAST(n_comparisons AS BIGINT) AS n_comparisons,
        |  CAST(n_caught AS BIGINT) AS n_caught,
        |  CAST(t.n_true AS BIGINT) AS n_true_pairs,
        |  CAST((s.s * (s.s - 1)) // 2 AS BIGINT) AS n_total_pairs,
        |  CAST(CASE WHEN t.n_true > 0
        |    THEN (10000 * n_caught) // t.n_true END AS BIGINT) AS completeness_bp,
        |  CAST((10000 * ((s.s * (s.s - 1)) // 2 - n_comparisons))
        |    // ((s.s * (s.s - 1)) // 2) AS BIGINT) AS reduction_bp
        |FROM m, tr t, sz s ORDER BY strategy""".stripMargin,
    /* q121: the three feeds replayed inline; consensus via the same
     * (count DESC, max-clock DESC, value) election window; recency via a
     * null-filtered (clock DESC, value DESC) row_number window — the
     * lexicographic max of the (clock, value) struct Spark's max_by
     * maximizes, so both engines skip null values and break clock ties
     * on the value. */
    "q121_golden_record" ->
      """WITH m AS (
        |  SELECT c_custkey, 1 AS clock, c_mktsegment, c_nationkey
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 2,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_B'
        |         ELSE c_mktsegment END, c_nationkey
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 3,
        |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey + 1 END
        |  FROM customer WHERE c_custkey % 2 = 0),
        | bv AS (SELECT c_custkey, c_mktsegment AS v, COUNT(*) AS cnt,
        |          MAX(clock) AS mc
        |        FROM m WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2),
        | el AS (SELECT c_custkey, v AS golden_c_mktsegment,
        |          row_number() OVER (PARTITION BY c_custkey
        |            ORDER BY cnt DESC, mc DESC, v ASC) AS rk FROM bv),
        | rec AS (SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_mentions,
        |          CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_values
        |         FROM m GROUP BY 1),
        | lat AS (SELECT c_custkey, c_nationkey AS golden_c_nationkey,
        |          row_number() OVER (PARTITION BY c_custkey
        |            ORDER BY clock DESC, c_nationkey DESC) AS rk
        |         FROM m WHERE c_nationkey IS NOT NULL)
        |SELECT r.c_custkey, r.n_mentions, r.n_values,
        |  l.golden_c_nationkey, e.golden_c_mktsegment
        |FROM rec r
        |LEFT JOIN lat l ON l.c_custkey = r.c_custkey AND l.rk = 1
        |LEFT JOIN el e ON e.c_custkey = r.c_custkey AND e.rk = 1
        |ORDER BY r.c_custkey""".stripMargin,
    /* q125: feeds replayed inline; one null-filtered election window per
     * rule — (clock ASC, value ASC) ≡ min_by first-non-null, (len DESC,
     * value DESC) ≡ max_by longest, (source-rank ASC, clock DESC, value
     * DESC) ≡ max_by source-priority — all total orders. */
    "q125_survivorship_rules" ->
      """WITH m AS (
        |  SELECT c_custkey, 'crm' AS src, 1 AS clock,
        |    CASE WHEN c_custkey % 2 = 0 THEN NULL
        |         ELSE 'P1-' || CAST(c_custkey AS VARCHAR) END AS phone,
        |    c_name AS alias, c_nationkey AS nation
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'web', 2,
        |    'P2-' || CAST(c_custkey AS VARCHAR),
        |    CASE WHEN c_custkey % 4 = 0 THEN c_name || '_ext'
        |         ELSE c_name END,
        |    c_nationkey + 1
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'mdm', 3,
        |    CASE WHEN c_custkey % 3 = 0 THEN NULL
        |         ELSE 'P3-' || CAST(c_custkey AS VARCHAR) END,
        |    CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_name END,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey + 2 END
        |  FROM customer WHERE c_custkey % 2 = 0),
        | ph AS (SELECT c_custkey, phone AS golden_phone,
        |         row_number() OVER (PARTITION BY c_custkey
        |           ORDER BY clock ASC, phone ASC) AS rk
        |        FROM m WHERE phone IS NOT NULL),
        | al AS (SELECT c_custkey, alias AS golden_alias,
        |         row_number() OVER (PARTITION BY c_custkey
        |           ORDER BY len(alias) DESC, alias DESC) AS rk
        |        FROM m WHERE alias IS NOT NULL),
        | na AS (SELECT c_custkey, nation AS golden_nation,
        |         row_number() OVER (PARTITION BY c_custkey ORDER BY
        |           CASE src WHEN 'mdm' THEN 0 WHEN 'crm' THEN 1
        |                    WHEN 'web' THEN 2 ELSE 3 END ASC,
        |           clock DESC, nation DESC) AS rk
        |        FROM m WHERE nation IS NOT NULL),
        | base AS (SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_mentions
        |          FROM m GROUP BY 1)
        |SELECT b.c_custkey, b.n_mentions, p.golden_phone,
        |  a.golden_alias, n.golden_nation
        |FROM base b
        |LEFT JOIN ph p ON p.c_custkey = b.c_custkey AND p.rk = 1
        |LEFT JOIN al a ON a.c_custkey = b.c_custkey AND a.rk = 1
        |LEFT JOIN na n ON n.c_custkey = b.c_custkey AND n.rk = 1
        |ORDER BY b.c_custkey""".stripMargin,
    /* q133: two rank passes (name, reverse(name)) over distinct names,
     * neighbors within rank distance 5, levenshtein in the neighborhood
     * only, canonical (least, greatest) orientation, pass flags — plain
     * range joins here (the oracle frame is tiny; Spark's
     * union-of-bucket-equi-joins produces the identical pair set). */
    "q133_sorted_neighbors" ->
      """WITH v AS (SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_rows
        |           FROM part GROUP BY 1),
        | rf AS (SELECT name, n_rows,
        |         row_number() OVER (ORDER BY name) AS rk FROM v),
        | rr AS (SELECT name, n_rows,
        |         row_number() OVER (ORDER BY reverse(name), name) AS rk FROM v),
        | pf AS (SELECT least(a.name, b.name) AS name_a,
        |          greatest(a.name, b.name) AS name_b,
        |          CAST(b.rk - a.rk AS BIGINT) AS rank_gap,
        |          CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
        |          CASE WHEN a.name <= b.name THEN a.n_rows ELSE b.n_rows END AS n_a,
        |          CASE WHEN a.name <= b.name THEN b.n_rows ELSE a.n_rows END AS n_b,
        |          'fwd' AS pass
        |        FROM rf a JOIN rf b ON b.rk > a.rk AND b.rk <= a.rk + 5
        |        WHERE levenshtein(a.name, b.name) <= 2),
        | pr AS (SELECT least(a.name, b.name), greatest(a.name, b.name),
        |          CAST(b.rk - a.rk AS BIGINT),
        |          CAST(levenshtein(a.name, b.name) AS BIGINT),
        |          CASE WHEN a.name <= b.name THEN a.n_rows ELSE b.n_rows END,
        |          CASE WHEN a.name <= b.name THEN b.n_rows ELSE a.n_rows END,
        |          'rev'
        |        FROM rr a JOIN rr b ON b.rk > a.rk AND b.rk <= a.rk + 5
        |        WHERE levenshtein(a.name, b.name) <= 2),
        | u AS (SELECT * FROM pf UNION ALL SELECT * FROM pr)
        |SELECT name_a, name_b, dist, n_a, n_b,
        |  CAST(MIN(rank_gap) AS BIGINT) AS min_gap,
        |  CAST(MAX(CASE WHEN pass = 'fwd' THEN 1 ELSE 0 END) AS INT) AS in_fwd,
        |  CAST(MAX(CASE WHEN pass = 'rev' THEN 1 ELSE 0 END) AS INT) AS in_rev
        |FROM u GROUP BY name_a, name_b, dist, n_a, n_b
        |ORDER BY name_a, name_b""".stripMargin,
    "q97_fuzzy_pairs" ->
      """WITH v AS (SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |            MIN(p_partkey) AS min_id
        |           FROM part GROUP BY 1),
        | b AS (SELECT name, n_rows, min_id,
        |         string_split(name, ' ')[-1] AS block FROM v)
        |SELECT a.name AS name_a, b2.name AS name_b, a.block AS block,
        |  CAST(levenshtein(a.name, b2.name) AS BIGINT) AS dist,
        |  a.n_rows AS n_a, b2.n_rows AS n_b
        |FROM b a JOIN b b2 ON a.block = b2.block AND a.name < b2.name
        |WHERE levenshtein(a.name, b2.name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    "q74_rank_suite" ->
      """SELECT event_id, event_type, value,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_id""".stripMargin,
    "q65_moving_stats" ->
      """WITH b AS (SELECT event_id, user_id, ts, value,
        |    CAST(value AS DECIMAL(18,2)) AS dv FROM events)
        |SELECT event_id, user_id, ts, value,
        |  lag(value, 1, -1.0) OVER w AS prev_value,
        |  lead(value, 1, -1.0) OVER w AS next_value,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(sum(dv) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov_sum3,
        |  CAST(sum(dv) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_sum
        |FROM b
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "q35_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        | s AS (SELECT user_id, ts, event_id AS signup_event FROM events WHERE event_type = 'signup')
        |SELECT p.event_id, p.user_id, p.ts,
        |  coalesce(s.ts, TIMESTAMP '1970-01-01 00:00:00') AS asof_ts,
        |  coalesce(s.signup_event, -1) AS asof_signup_event
        |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.event_id""".stripMargin,
    "q36_range_join" ->
      """SELECT e.event_id, r.r_regionkey, e.value
        |FROM events e JOIN region r
        |  ON e.value >= r.r_regionkey * 40.0 AND e.value < r.r_regionkey * 40.0 + 50.0
        |ORDER BY e.event_id, r.r_regionkey""".stripMargin,
    "q38_grouped_median" ->
      """SELECT event_type, round(median(value), 6) AS med_value, COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q39_pivot" -> {
      val cases = EventTypes
        .map(t => s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS \"$t\"")
        .mkString(",\n  ")
      s"""SELECT user_id,
         |  $cases
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    "q41_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 30 * 60 * 1000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q40_unpivot" ->
      """SELECT p_partkey, attr, val FROM (
        |  SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part) u
        |ORDER BY p_partkey, attr""".stripMargin,
    "q37_rollup" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
        |  coalesce(o_orderpriority, '(all)') AS o_orderpriority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY 1, 2""".stripMargin,
    "q64_cube" ->
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
        |  coalesce(l_linestatus, '(all)') AS l_linestatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin
  )
}
