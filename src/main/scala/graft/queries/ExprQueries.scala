package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Output.tinySort
import graft.util.Tables.load

/** Scalar-expression coverage (SURVEY.md §2.6 E1-E21) over the driver
  * testdata. Every pandas `errors='coerce'` analog uses `try_cast` (Spark 4
  * ANSI mode), and every `regexp_extract` no-match is normalized with
  * `nullif(..., '')` — the two likeliest oracle-mismatch traps (SURVEY §7.5).
  * All expressions are native Catalyst functions — zero UDFs — so the whole
  * chain stays inside WholeStageCodegen.
  */
object ExprQueries {

  /** E3/E4/E11/E16/E19 analogs over `part`: first-token split, regex number
    * extraction with null-on-no-match, key normalization, translate,
    * when-chain bucketing. */
  def q13PartExprs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "part").select(
      col("p_partkey"),
      element_at(split(col("p_name"), " "), 1).as("first_word"),
      nullif(regexp_extract(col("p_brand"), "(\\d+)", 1), lit("")).try_cast("int").as("brand_num"),
      trim(lower(col("p_type"))).as("type_norm"),
      translate(col("p_name"), " ", "_").as("name_underscored"),
      when(col("p_retailprice") < 910, "low")
        .when(col("p_retailprice") < 1100, "mid")
        .otherwise("high").as("retail_bucket")
    ).orderBy(col("p_partkey"))

  /** E2-style id-from-delimited-string extraction (auction_id from URL segment,
    * reference T:143-146) mapped onto `customer.c_name`. */
  def q14CustomerExprs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer").select(
      col("c_custkey"),
      element_at(split(col("c_name"), "#"), 2).try_cast("bigint").as("cust_num"),
      element_at(split(col("c_name"), "#"), 1).as("name_prefix"),
      lower(col("c_mktsegment")).like("%mach%").as("seg_is_mach"),
      when(col("c_acctbal") < 0, "neg")
        .when(col("c_acctbal") < 5000, "low")
        .otherwise("high").as("bal_bucket")
    ).orderBy(col("c_custkey"))

  /** E1/E18/E21: timestamp parse, epoch-millis round-trip, date truncation.
    * `o_orderdate` is parquet TIMESTAMP_NTZ; epoch functions need LTZ (session
    * TZ is UTC so the cast is identity), and outputs go back to NTZ so the
    * written parquet stays naive like the DuckDB oracle's. */
  def q15DateExprs(spark: SparkSession, dir: String): DataFrame = {
    val od = col("o_orderdate").cast("timestamp")
    load(spark, dir, "orders").select(
      col("o_orderkey"),
      to_date(od).cast("timestamp_ntz").as("od_date"),
      unix_millis(od).as("od_millis"),
      date_trunc("month", od).cast("timestamp_ntz").as("od_month"),
      year(od).as("od_year"),
      date_format(od, "yyyy-MM-dd HH:mm:ss").as("od_str"),
      try_to_timestamp(date_format(od, "yyyy-MM-dd HH:mm:ss")).cast("timestamp_ntz").as("od_reparsed"),
      timestamp_millis(unix_millis(od)).cast("timestamp_ntz").as("ts_ms_roundtrip")
    ).orderBy(col("o_orderkey"))
  }

  /** E15/E16/E17: contains-based when-chain classification (order matters) +
    * token-before-delimiter numeric extraction. */
  def q16PriorityClassify(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "orders").select(
      col("o_orderkey"),
      when(lower(col("o_orderpriority")).contains("urgent"), "Urgent")
        .when(lower(col("o_orderpriority")).contains("high"), "High")
        .otherwise("Other").as("prio_class"),
      element_at(split(col("o_orderpriority"), "-"), 1).try_cast("int").as("prio_num"),
      (lower(col("o_orderstatus")) === "f").as("is_final")
    ).orderBy(col("o_orderkey"))

  /** E6/E7: numeric coerce with null-on-failure + coalesce-to-default, over a
    * regex-extracted JSON field (reference view/watcher counts T:175-180). */
  def q17JsonExtract(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events").select(
      col("event_id"),
      coalesce(
        nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1), lit("")).try_cast("bigint"),
        lit(0L)).as("k_val"),
      trim(lower(col("event_type"))).as("etype_norm")
    ).orderBy(col("event_id"))

  /** E13: per-row array statistics (max/min/mean/exact-median/range) with the
    * reference's len>=2 guard (T:267-290), via native array expressions. */
  def q18ArrayStats(spark: SparkSession, dir: String): DataFrame = {
    val vd = col("embedding").cast("array<double>")
    val n = size(col("embedding"))
    val sorted = sort_array(vd)
    val half = (n / 2).cast("int")
    val vsum = aggregate(vd, lit(0.0), (acc, x) => acc + x)
    val median = when(n % 2 === 1, element_at(sorted, half + 1))
      .otherwise((element_at(sorted, half) + element_at(sorted, half + 1)) / 2.0)
    val guard = n >= 2
    load(spark, dir, "embeddings").select(
      col("vec_id"),
      n.as("dim"),
      when(guard, array_max(vd)).as("vmax"),
      when(guard, array_min(vd)).as("vmin"),
      when(guard, round(vsum / n, 6)).as("vmean"),
      when(guard, median).as("vmedian"),
      when(guard, array_max(vd) - array_min(vd)).as("vrange")
    ).orderBy(col("vec_id"))
  }

  /** Streaming-shaped tumbling-window aggregation as a batch query (SURVEY
    * §2.9 demo surface): hourly event counts + exact sums. */
  def q19TumblingWindow(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("bucket"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy(col("bucket"), col("event_type"))

  /** Skew-resistant two-phase aggregation ([[graft.ext.Skew]]): the salt is
    * internal placement only — with DECIMAL partials the result is exactly
    * the plain GROUP BY, which is the oracle. */
  def q34SaltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Skew.saltedSumCount(load(spark, dir, "events"), "event_type",
        col("value").cast("decimal(18,2)"), salts = 8)
      .select(col("event_type"), col("sum_value").cast("double").as("sum_value"), col("n"))
      .orderBy(col("event_type"))

  /** q67 — PII redaction pass ([[graft.ext.Redact]]) over the
    * identifier-bearing `customer.c_name`: partial masking (keep-last-4),
    * digit-run token substitution, digit census, and salted-md5
    * pseudonymization. All map-side codegen expressions — the redaction
    * sweep of a 100 TB corpus is a scan. */
  def q67PiiMask(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Redact
    load(spark, dir, "customer").select(
      col("c_custkey"),
      Redact.maskTail(col("c_name"), 4).as("masked_name"),
      Redact.redactDigitRuns(col("c_name")).as("redacted_name"),
      Redact.digitCount(col("c_name")).as("n_digits"),
      Redact.pseudonym(col("c_name"), "graft-pii").as("pseudo_id")
    ).orderBy(col("c_custkey"))
  }

  /** q122 — k-anonymity audit ([[graft.ext.Redact.kAnonymityAudit]],
    * Sweeney IJUFKS '02): the release-risk distribution over the customer
    * quasi-identifier (nation, segment, 1000-unit balance bucket) at k=5 —
    * one QI aggregation + one bounded class-size rollup, the privacy
    * check that pairs with q67's redaction before a corpus leaves its
    * boundary. */
  def q122KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Redact
    Redact.kAnonymityAudit(load(spark, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket")),
        k = 5)
      .transform(tinySort(_, col("class_size")))
  }

  /** q129 — l-diversity audit ([[graft.ext.Redact.lDiversityAudit]],
    * Machanavajjhala TKDD '07): the homogeneity-attack check that pairs
    * with q122 — over the coarser QI (nation, 2000-unit balance bucket),
    * how many classes expose fewer than l=3 distinct market segments.
    * Same bounded two-level aggregation shape as the k-anonymity audit. */
  def q129LDiversity(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Redact
    Redact.lDiversityAudit(load(spark, dir, "customer"),
        Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 2000).cast("long").as("bal_bucket")),
        col("c_mktsegment"), l = 3)
      .transform(tinySort(_, col("n_sensitive")))
  }

  /** q135 — t-closeness audit ([[graft.ext.Redact.tClosenessAudit]], Li et
    * al. ICDE '07): the skewness-attack check that completes the privacy
    * triad with q122 (k-anonymity) and q129 (l-diversity) — over the QI
    * (nation, 3000-unit balance bucket), how far each class's market-segment
    * distribution drifts from the corpus-wide one, in exact-integer basis
    * points of variational distance, rolled up into 500 bp buckets against
    * t = 0.25. Two bounded aggregations + one broadcast join; the cell
    * arithmetic is DECIMAL(38,0) end-to-end so it replays on HUGEINT. */
  def q135TCloseness(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Redact
    Redact.tClosenessAudit(load(spark, dir, "customer"),
        Seq(col("c_nationkey"),
          floor(col("c_acctbal") / 3000).cast("long").as("bal_bucket")),
        col("c_mktsegment"), tBp = 2500, bucketBp = 500)
      .transform(tinySort(_, col("tv_bucket")))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q122_k_anonymity" -> (q122KAnonymity _),
    "q129_l_diversity" -> (q129LDiversity _),
    "q135_t_closeness" -> (q135TCloseness _),
    "q34_salted_agg" -> (q34SaltedAgg _),
    "q67_pii_mask" -> (q67PiiMask _),
    "q13_part_exprs" -> (q13PartExprs _),
    "q14_customer_exprs" -> (q14CustomerExprs _),
    "q15_date_exprs" -> (q15DateExprs _),
    "q16_priority_classify" -> (q16PriorityClassify _),
    "q17_json_extract" -> (q17JsonExtract _),
    "q18_array_stats" -> (q18ArrayStats _),
    "q19_tumbling_window" -> (q19TumblingWindow _)
  )

  val sql: Map[String, String] = Map(
    "q135_t_closeness" ->
      """WITH base AS (SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 3000) AS BIGINT) AS bal_bucket,
        |    COALESCE(CAST(c_mktsegment AS VARCHAR), '__null__') AS sens
        |  FROM customer),
        |cell AS (SELECT c_nationkey, bal_bucket, sens, COUNT(*) AS cnt
        |  FROM base GROUP BY 1, 2, 3),
        |gdist AS (SELECT sens, COUNT(*) AS g FROM base GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM base),
        |j AS (SELECT c.c_nationkey, c.bal_bucket, c.cnt, g.g, t.n,
        |    SUM(c.cnt) OVER (PARTITION BY c.c_nationkey, c.bal_bucket) AS cs,
        |    SUM(g.g) OVER (PARTITION BY c.c_nationkey, c.bal_bucket) AS g_present
        |  FROM cell c JOIN gdist g USING (sens) CROSS JOIN tot t),
        |cls AS (SELECT c_nationkey, bal_bucket, cs, n,
        |    SUM(ABS(cnt * n - g * cs)) + cs * (n - g_present) AS num
        |  FROM j GROUP BY c_nationkey, bal_bucket, cs, n, g_present),
        |tv AS (SELECT (num * 5000) // (cs * n) AS tv_bp, cs FROM cls)
        |SELECT CAST(tv_bp // 500 AS BIGINT) AS tv_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(cs) AS BIGINT) AS n_rows,
        |  CASE WHEN tv_bp // 500 >= 5 THEN 1 ELSE 0 END AS above_t
        |FROM tv GROUP BY 1, 4 ORDER BY 1""".stripMargin,
    "q129_l_diversity" ->
      """WITH cls AS (SELECT c_nationkey,
        |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
        |    COUNT(*) AS class_size,
        |    COUNT(DISTINCT c_mktsegment) AS n_sensitive
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(n_sensitive AS BIGINT) AS n_sensitive,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(class_size) AS BIGINT) AS n_rows,
        |  CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END AS below_l
        |FROM cls GROUP BY n_sensitive
        |ORDER BY n_sensitive""".stripMargin,
    "q122_k_anonymity" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |    COUNT(*) AS class_size
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT CAST(class_size AS BIGINT) AS class_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(class_size * COUNT(*) AS BIGINT) AS n_rows,
        |  CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS below_k
        |FROM cls GROUP BY class_size
        |ORDER BY class_size""".stripMargin,
    "q67_pii_mask" ->
      """SELECT c_custkey,
        |  repeat('*', greatest(length(c_name) - 4, 0)) ||
        |    substr(c_name, length(c_name) - 3, 4) AS masked_name,
        |  regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS redacted_name,
        |  CAST(length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
        |  md5('graft-pii:' || c_name) AS pseudo_id
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q34_salted_agg" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q13_part_exprs" ->
      """SELECT p_partkey,
        |  split_part(p_name, ' ', 1) AS first_word,
        |  try_cast(nullif(regexp_extract(p_brand, '(\d+)', 1), '') AS INTEGER) AS brand_num,
        |  trim(lower(p_type)) AS type_norm,
        |  translate(p_name, ' ', '_') AS name_underscored,
        |  CASE WHEN p_retailprice < 910 THEN 'low'
        |       WHEN p_retailprice < 1100 THEN 'mid'
        |       ELSE 'high' END AS retail_bucket
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q14_customer_exprs" ->
      """SELECT c_custkey,
        |  try_cast(split_part(c_name, '#', 2) AS BIGINT) AS cust_num,
        |  split_part(c_name, '#', 1) AS name_prefix,
        |  lower(c_mktsegment) LIKE '%mach%' AS seg_is_mach,
        |  CASE WHEN c_acctbal < 0 THEN 'neg'
        |       WHEN c_acctbal < 5000 THEN 'low'
        |       ELSE 'high' END AS bal_bucket
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q15_date_exprs" ->
      """SELECT o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS od_date,
        |  epoch_ms(o_orderdate) AS od_millis,
        |  date_trunc('month', o_orderdate) AS od_month,
        |  CAST(year(o_orderdate) AS INTEGER) AS od_year,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od_str,
        |  try_cast(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS od_reparsed,
        |  make_timestamp(epoch_ms(o_orderdate) * 1000) AS ts_ms_roundtrip
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q16_priority_classify" ->
      """SELECT o_orderkey,
        |  CASE WHEN contains(lower(o_orderpriority), 'urgent') THEN 'Urgent'
        |       WHEN contains(lower(o_orderpriority), 'high') THEN 'High'
        |       ELSE 'Other' END AS prio_class,
        |  try_cast(split_part(o_orderpriority, '-', 1) AS INTEGER) AS prio_num,
        |  lower(o_orderstatus) = 'f' AS is_final
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q17_json_extract" ->
      """SELECT event_id,
        |  coalesce(try_cast(nullif(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT), 0) AS k_val,
        |  trim(lower(event_type)) AS etype_norm
        |FROM events ORDER BY event_id""".stripMargin,
    "q18_array_stats" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
        |SELECT vec_id,
        |  len(v) AS dim,
        |  CASE WHEN len(v) >= 2 THEN list_max(v) END AS vmax,
        |  CASE WHEN len(v) >= 2 THEN list_min(v) END AS vmin,
        |  CASE WHEN len(v) >= 2 THEN round(list_sum(v) / len(v), 6) END AS vmean,
        |  CASE WHEN len(v) >= 2 THEN (CASE WHEN len(v) % 2 = 1 THEN list_sort(v)[(len(v) // 2) + 1]
        |       ELSE (list_sort(v)[len(v) // 2] + list_sort(v)[(len(v) // 2) + 1]) / 2.0 END) END AS vmedian,
        |  CASE WHEN len(v) >= 2 THEN list_max(v) - list_min(v) END AS vrange
        |FROM e ORDER BY vec_id""".stripMargin,
    "q19_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY bucket, event_type""".stripMargin
  )
}
