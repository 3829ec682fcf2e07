package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.star.{StarLoad, StateSeed, Warehouse}
import graft.util.Tables.load

/** The end-to-end star-load differential oracle (q44): the reference's
  * signature artifact — the 11-statement `update_dims.sql:8-223` populating
  * 9 dims + `auction_fact` — executed as ONE composed run of
  * [[graft.star.StarLoad]] and hash-compared against a full DuckDB
  * transliteration of the same load.
  *
  * Input: a deterministic auction-shaped staging frame derived from the
  * `orders` testdata (bounded at o_orderkey <= 60000 so the query costs the
  * same at every SF). The derivation deliberately exercises every load
  * branch: messy key variants (' dealer ', ' SOLD ', ' coupe ', 'rwd') that
  * must normalize into one dim row, null keys at every dim site, state
  * lookups hitting the abbr arm, the name arm ('Texas'), and neither ('ZZ',
  * NULL), plus null vins for the null-safe vehicle path.
  *
  * Output: every `auction_fact` row joined back to its dim keys — so the
  * hash covers surrogate-id assignment (row_number over key order, ids are
  * deterministic), dim membership/normalization, and the 6-way fact
  * resolution, end to end.
  */
object StarLoadQueries {

  /** Deterministic processed/silver frame from `orders` — every column of
    * `Schemas.insertColumns`, derived with engine-portable arithmetic only
    * (modulo, concat, case), no randomness. */
  private[graft] def syntheticProcessed(spark: SparkSession, dir: String): DataFrame = {
    val ok = col("o_orderkey")
    val ck = col("o_custkey")
    load(spark, dir, "orders")
      .filter(ok <= 60000)
      .select(
        col("o_orderdate").cast("timestamp_ntz").as("auction_date"),
        concat(lit("A"), ok).as("auction_id"),
        when(ok % 97 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("VIN"), ok)).as("vin"),
        when(ck % 3 === 0, lit("Dealer")).when(ck % 3 === 1, lit(" dealer "))
          .otherwise(lit("Private Party")).as("seller_type"),
        when(ok % 53 === 0, lit(null).cast("string"))
          .when(ok % 2 === 0, lit("Reserve")).otherwise(lit("No Reserve")).as("reserve_status"),
        lit(null).cast("boolean").as("reserve_met"),
        when(col("o_orderstatus") === "O", lit("Sold"))
          .when(col("o_orderstatus") === "F", lit(" SOLD "))
          .otherwise(lit("Reserve Not Met")).as("auction_status"),
        concat(lit("T"), ok).as("auction_title"),
        lit(null).cast("string").as("auction_subtitle"),
        when(ck % 31 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("Make"), ck % 7)).as("make"),
        when(ck % 37 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("Model"), ck % 19)).as("model"),
        concat(lit("C"), ck % 6).as("exterior_color"),
        lit(null).cast("string").as("interior_color"),
        when(ok % 4 === 0, lit("Coupe")).when(ok % 4 === 1, lit(" coupe "))
          .when(ok % 4 === 2, lit("SUV")).otherwise(lit(null).cast("string")).as("body_style"),
        ((ok * 7) % 200000).as("mileage"),
        concat(lit("E"), ck % 5).as("engine"),
        when(ck % 4 === 0, lit("FWD")).when(ck % 4 === 1, lit("rwd"))
          .when(ck % 4 === 2, lit("AWD")).otherwise(lit(null).cast("string")).as("drivetrain"),
        lit(null).cast("string").as("transmission"),
        when(ok % 3 === 0, lit("Manual")).when(ok % 3 === 1, lit("Automatic"))
          .otherwise(lit(null).cast("string")).as("transmission_type"),
        (lit(4) + ok % 3).cast("int").as("gears"),
        when(ok % 2 === 0, lit("Clean")).otherwise(lit("Salvage")).as("title_status_cleaned"),
        when(ck % 6 === 0, lit("TX")).when(ck % 6 === 1, lit("Texas"))
          .when(ck % 6 === 2, lit("CA")).when(ck % 6 === 3, lit("ZZ"))
          .when(ck % 6 === 4, lit(null).cast("string")).otherwise(lit("NV")).as("title_state"),
        when(ck % 41 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("City"), ck % 11)).as("city"),
        lit(null).cast("string").as("state"),
        (ok % 50).as("bid_count"),
        (ok % 1000).as("view_count"),
        (ok % 100).as("watcher_count"),
        col("o_totalprice").cast("double").as("highest_bid_value"),
        (ok % 90000).as("max_bid"),
        (ok % 1000).as("min_bid"),
        (ok % 9000).cast("double").as("mean_bid"),
        (ok % 8000).cast("double").as("median_bid"),
        (ok % 89000).as("bid_range"),
        array(ok % 10, ok % 100).as("bids"),
        (ok % 5).cast("int").as("highlight_count"),
        (ok % 6).cast("int").as("equipment_count"),
        (ok % 3).cast("int").as("mod_count"),
        (ok % 4).cast("int").as("flaw_count"),
        (ok % 2).cast("int").as("service_count"),
        (ok % 7).cast("int").as("included_items_count"),
        (ok % 8).cast("int").as("video_count"),
        (lit(1990) + ok % 30).cast("int").as("manufacture_year"),
        lit(null).cast("string").as("location"),
        concat(lit("https://x/a/"), ok).as("auction_url"),
        lit("s").as("seller"))
  }

  def q44StarLoad(spark: SparkSession, dir: String): DataFrame = {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_q44_wh").toString)
    StarLoad.run(wh, syntheticProcessed(spark, dir))
    // the load is done: release the dim-cache blocks (readBack reads the
    // warehouse from disk — a leaked temp-warehouse cache otherwise lives
    // until a GC cycle and evicts later queries' live caches)
    wh.close()
    readBack(wh)
  }

  /** q49: the INCREMENTAL differential — two composed loads into one
    * warehouse. Batch 1 is the synthetic frame at key <= 26000; batch 2 is
    * the remaining new keys (to 40000) PLUS corrections to every 5th batch-1 row
    * (changed mileage, a make/model pair that exists in neither load's dims,
    * flipped auction_status). The second run must prove, end to end:
    * U1 — corrected auction_ids do NOT re-insert or update the fact (their
    * fact rows keep the original auction_status surrogate);
    * U2 — corrected (vin, auction_id) keys update vehicle attributes in
    * place while KEEPING their vehicle_id (the fact rows' vehicle_id join
    * surfaces the corrected mileage/make);
    * U1-dims — new dim keys continue ids from max(existing), existing keys
    * are untouched. Reference `update_dims.sql`:158-177 + the fact's
    * `ON CONFLICT DO NOTHING`. */
  def q49IncrementalLoad(spark: SparkSession, dir: String): DataFrame = {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft_q49_wh").toString)
    // tighter bound than q44 (40000 vs 60000): q49 is a correctness harness
    // for the incremental semantics, not a throughput query — it composes TWO
    // full loads, so it gets a 2/3 data bound to keep its bench share sane.
    // At sf0.01 (the driver's hash SF) every key is under both bounds, so the
    // oracle result is unchanged; the split below only bites at sf >= 0.027.
    // materialize the synthetic input ONCE: the two batches and the
    // correction set all branch from `full`, and without this each staging
    // build re-runs the whole expression pipeline (profiled 1.8 s on the
    // L2 staging materialization alone). Real incremental batches arrive
    // as FILES — deriving them three times from expressions is harness
    // cost, not operator cost.
    val full = syntheticProcessed(spark, dir)
      .filter(substring(col("auction_id"), 2, 10).cast("long") <= 40000)
      .localCheckpoint()
    val key = substring(col("auction_id"), 2, 10).cast("long")
    val batch1 = full.filter(key <= 26000)
    val corrections = batch1.filter(key % 5 === 0)
      .withColumn("mileage", col("mileage") + lit(1111L))
      .withColumn("make", lit("MakeNew"))
      .withColumn("model", lit("ModelNew"))
      .withColumn("auction_status", lit("Reserve Not Met"))
    val batch2 = full.filter(key > 26000).unionByName(corrections)
    StarLoad.run(wh, batch1)
    StarLoad.run(wh, batch2)
    wh.close() // see q44 — release dim-cache blocks; readBack reads disk
    readBack(wh)
  }

  /** Every fact row joined back to its dim keys — the hash surface shared by
    * q44 (fresh load) and q49 (incremental). */
  private def readBack(wh: Warehouse): DataFrame = {
    val asd = wh.read("auction_status_dim")
      .select(col("id").as("_aid"), col("status").as("status_key"))
    val rsd = wh.read("reserve_status_dim")
      .select(col("id").as("_rid"), col("status").as("reserve_key"))
    val cd = wh.read("city_dim")
      .select(col("id").as("_cid"), col("city_name").as("city_key"))
    val std = wh.read("seller_type_dim")
      .select(col("id").as("_sid"), col("seller_type").as("seller_key"))
    val vd = wh.read("vehicle_dim").select(col("vehicle_id").as("_vid"),
      col("make_id"), col("model_id"), col("body_style_id"), col("transmission_id"),
      col("drivetrain_id"), col("mileage"), col("gear_count"), col("manufacture_year"))

    wh.read("auction_fact")
      .join(broadcast(asd), col("auction_status") === col("_aid"), "left")
      .join(broadcast(rsd), col("reserve_status") === col("_rid"), "left")
      .join(broadcast(cd), col("auction_city") === col("_cid"), "left")
      .join(broadcast(std), col("seller_type") === col("_sid"), "left")
      .join(vd, col("vehicle_id") === col("_vid"), "left") // fact-scale: no broadcast hint
      .select(
        col("auction_id"), col("auction_time").cast("timestamp_ntz").as("auction_time"),
        col("vehicle_id"), col("auction_status"), col("status_key"),
        col("reserve_status"), col("reserve_key"), col("auction_state"),
        col("auction_city"), col("city_key"), col("seller_type"), col("seller_key"),
        col("view_count"), col("watcher_count"), col("bid_count"), col("max_bid"),
        col("min_bid"), col("mean_bid"), col("median_bid"), col("bid_range"),
        col("highlight_count"), col("video_count"), col("auction_title"), col("auction_url"),
        col("make_id"), col("model_id"), col("body_style_id"), col("transmission_id"),
        col("drivetrain_id"), col("mileage"), col("gear_count"), col("manufacture_year"))
      // fact-scale output: the range-sort for the deterministic dump is the
      // right distributed plan, but its partitioner's sampling pass would
      // re-execute the whole 5-way readBack join under a write sink —
      // checkpoint once, then both the sample and the sort read local blocks
      .localCheckpoint()
      .orderBy(col("auction_id"))
  }

  /** The pre-seeded state_dim ([[StateSeed]]) as a SQL VALUES literal
    * (shared with [[AuctionQueries]]'s q198 oracle — one seed definition). */
  private[queries] val stateValues: String = StateSeed.states.zipWithIndex
    .map { case ((st, ab), i) => s"(${i + 1}, '$st', '$ab')" }
    .mkString(", ")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q44_star_load" -> (q44StarLoad _),
    "q49_incremental_load" -> (q49IncrementalLoad _))

  /** The synthetic staging SELECT (DuckDB side of [[syntheticProcessed]]),
    * parameterized by key range so q44 (full) and q49 (two batches) share
    * one derivation. */
  private def stagingSql(where: String): String = s"""
      |  SELECT
      |    o_orderdate AS auction_date,
      |    'A' || o_orderkey AS auction_id,
      |    CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE 'VIN' || o_orderkey END AS vin,
      |    CASE o_custkey % 3 WHEN 0 THEN 'Dealer' WHEN 1 THEN ' dealer ' ELSE 'Private Party' END AS seller_type,
      |    CASE WHEN o_orderkey % 53 = 0 THEN NULL WHEN o_orderkey % 2 = 0 THEN 'Reserve' ELSE 'No Reserve' END AS reserve_status,
      |    CASE WHEN o_orderstatus = 'O' THEN 'Sold' WHEN o_orderstatus = 'F' THEN ' SOLD ' ELSE 'Reserve Not Met' END AS auction_status,
      |    'T' || o_orderkey AS auction_title,
      |    CASE WHEN o_custkey % 31 = 0 THEN NULL ELSE 'Make' || (o_custkey % 7) END AS make,
      |    CASE WHEN o_custkey % 37 = 0 THEN NULL ELSE 'Model' || (o_custkey % 19) END AS model,
      |    CASE o_orderkey % 4 WHEN 0 THEN 'Coupe' WHEN 1 THEN ' coupe ' WHEN 2 THEN 'SUV' ELSE NULL END AS body_style,
      |    (o_orderkey * 7) % 200000 AS mileage,
      |    CASE o_custkey % 4 WHEN 0 THEN 'FWD' WHEN 1 THEN 'rwd' WHEN 2 THEN 'AWD' ELSE NULL END AS drivetrain,
      |    CASE o_orderkey % 3 WHEN 0 THEN 'Manual' WHEN 1 THEN 'Automatic' ELSE NULL END AS transmission_type,
      |    CAST(4 + o_orderkey % 3 AS INTEGER) AS gears,
      |    CASE o_custkey % 6 WHEN 0 THEN 'TX' WHEN 1 THEN 'Texas' WHEN 2 THEN 'CA' WHEN 3 THEN 'ZZ' WHEN 4 THEN NULL ELSE 'NV' END AS title_state,
      |    CASE WHEN o_custkey % 41 = 0 THEN NULL ELSE 'City' || (o_custkey % 11) END AS city,
      |    o_orderkey % 50 AS bid_count,
      |    o_orderkey % 1000 AS view_count,
      |    o_orderkey % 100 AS watcher_count,
      |    o_orderkey % 90000 AS max_bid,
      |    o_orderkey % 1000 AS min_bid,
      |    CAST(o_orderkey % 9000 AS DOUBLE) AS mean_bid,
      |    CAST(o_orderkey % 8000 AS DOUBLE) AS median_bid,
      |    o_orderkey % 89000 AS bid_range,
      |    CAST(o_orderkey % 5 AS INTEGER) AS highlight_count,
      |    CAST(o_orderkey % 8 AS INTEGER) AS video_count,
      |    CAST(1990 + o_orderkey % 30 AS INTEGER) AS manufacture_year,
      |    'https://x/a/' || o_orderkey AS auction_url
      |  FROM orders WHERE $where""".stripMargin

  /** Incremental simple-dim transliteration of the `Dims` id rule across
    * two loads: batch-1 keys get row_number ids over key order; batch-2 NEW
    * keys continue from count(batch-1) (= max existing id on a fresh
    * warehouse); existing keys are untouched. */
  private def incDimSql(name: String, norm: String, raw: String): String = s"""
${name}_k1 AS (SELECT DISTINCT $norm AS k FROM staging1 WHERE $raw IS NOT NULL),
${name}_k2 AS (SELECT DISTINCT $norm AS k FROM staging2 WHERE $raw IS NOT NULL
              AND $norm NOT IN (SELECT k FROM ${name}_k1)),
$name AS (
  SELECT CAST(row_number() OVER (ORDER BY k ASC) AS BIGINT) AS id, k FROM ${name}_k1
  UNION ALL
  SELECT (SELECT COUNT(*) FROM ${name}_k1) + CAST(row_number() OVER (ORDER BY k ASC) AS BIGINT) AS id, k
  FROM ${name}_k2)"""

  /** The full `update_dims.sql` transliteration: every dim is DISTINCT
    * normalized keys + row_number surrogate ids over key order (the
    * insert-only-new shape on an empty warehouse — `Dims` assigns
    * row_number over keys asc-nulls-last plus max(existing)=0);
    * vehicle_dim ids order by (vin, auction_id); the fact resolves all six
    * surrogates exactly as `Facts.insertAuctionFact`. The keep-newest staging
    * dedup is omitted because synthetic auction_ids are unique (A4 has its
    * own oracle, q04). */
  val sql: Map[String, String] = Map(
    "q44_star_load" -> s"""
      |WITH staging AS (${stagingSql("o_orderkey <= 60000")}
      |),
      |state_dim AS (
      |  SELECT CAST(v.id AS BIGINT) AS id, v.state, v.state_abbr
      |  FROM (VALUES $stateValues) v(id, state, state_abbr)
      |),
      |auction_status_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY status ASC) AS BIGINT) AS id, status
      |  FROM (SELECT DISTINCT lower(trim(auction_status)) AS status FROM staging WHERE auction_status IS NOT NULL)
      |),
      |reserve_status_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY status ASC) AS BIGINT) AS id, status
      |  FROM (SELECT DISTINCT lower(trim(reserve_status)) AS status FROM staging WHERE reserve_status IS NOT NULL)
      |),
      |body_style_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY body_style ASC) AS BIGINT) AS id, body_style
      |  FROM (SELECT DISTINCT lower(trim(body_style)) AS body_style FROM staging WHERE body_style IS NOT NULL)
      |),
      |seller_type_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY seller_type ASC) AS BIGINT) AS id, seller_type
      |  FROM (SELECT DISTINCT lower(trim(seller_type)) AS seller_type FROM staging WHERE seller_type IS NOT NULL)
      |),
      |drivetrain_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY drivetrain ASC) AS BIGINT) AS id, drivetrain
      |  FROM (SELECT DISTINCT upper(trim(drivetrain)) AS drivetrain FROM staging WHERE drivetrain IS NOT NULL)
      |),
      |transmission_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY transmission ASC) AS BIGINT) AS id, transmission
      |  FROM (SELECT DISTINCT lower(trim(transmission_type)) AS transmission FROM staging WHERE transmission_type IS NOT NULL)
      |),
      |city_src AS (
      |  SELECT DISTINCT trim(s.city) AS city_name, COALESCE(sa.id, sn.id) AS state_id
      |  FROM staging s
      |  LEFT JOIN state_dim sa ON s.title_state = sa.state_abbr
      |  LEFT JOIN state_dim sn ON s.title_state = sn.state
      |  WHERE s.city IS NOT NULL
      |),
      |city_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY city_name ASC NULLS LAST, state_id ASC NULLS LAST) AS BIGINT) AS id,
      |    city_name, state_id
      |  FROM city_src
      |),
      |vehicle_make_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY make ASC) AS BIGINT) AS id, make
      |  FROM (SELECT DISTINCT trim(make) AS make FROM staging WHERE make IS NOT NULL)
      |),
      |model_src AS (
      |  SELECT DISTINCT trim(s.model) AS model, m.id AS make_id
      |  FROM staging s LEFT JOIN vehicle_make_dim m ON trim(s.make) = m.make
      |  WHERE s.model IS NOT NULL
      |),
      |vehicle_model_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY model ASC NULLS LAST, make_id ASC NULLS LAST) AS BIGINT) AS id,
      |    model, make_id
      |  FROM model_src
      |),
      |vehicle_src AS (
      |  SELECT trim(s.vin) AS vin, s.auction_id,
      |    m.id AS make_id, md.id AS model_id, b.id AS body_style_id,
      |    t.id AS transmission_id, d.id AS drivetrain_id,
      |    s.mileage, s.gears AS gear_count, s.manufacture_year
      |  FROM staging s
      |  LEFT JOIN vehicle_make_dim m ON trim(s.make) = m.make
      |  LEFT JOIN vehicle_model_dim md ON trim(s.model) = md.model AND m.id = md.make_id
      |  LEFT JOIN body_style_dim b ON lower(trim(s.body_style)) = b.body_style
      |  LEFT JOIN transmission_dim t ON lower(trim(s.transmission_type)) = t.transmission
      |  LEFT JOIN drivetrain_dim d ON upper(trim(s.drivetrain)) = d.drivetrain
      |),
      |vehicle_dim AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vin ASC NULLS LAST, auction_id ASC NULLS LAST) AS BIGINT) AS vehicle_id, *
      |  FROM vehicle_src
      |),
      |fact AS (
      |  SELECT s.auction_id, s.auction_date AS auction_time,
      |    v.vehicle_id, a.id AS auction_status, r.id AS reserve_status,
      |    st.id AS auction_state, c.id AS auction_city, sel.id AS seller_type,
      |    s.view_count, s.watcher_count, s.bid_count, s.max_bid, s.min_bid,
      |    s.mean_bid, s.median_bid, s.bid_range, s.highlight_count, s.video_count,
      |    s.auction_title, s.auction_url
      |  FROM staging s
      |  LEFT JOIN vehicle_dim v ON trim(s.vin) = v.vin AND s.auction_id = v.auction_id
      |  LEFT JOIN auction_status_dim a ON lower(trim(s.auction_status)) = a.status
      |  LEFT JOIN reserve_status_dim r ON lower(trim(s.reserve_status)) = r.status
      |  LEFT JOIN state_dim st ON upper(trim(s.title_state)) = st.state_abbr
      |  LEFT JOIN city_dim c ON trim(s.city) = c.city_name AND st.id = c.state_id
      |  LEFT JOIN seller_type_dim sel ON lower(trim(s.seller_type)) = sel.seller_type
      |  WHERE s.auction_id IS NOT NULL
      |)
      |SELECT f.auction_id, f.auction_time, f.vehicle_id,
      |  f.auction_status, a2.status AS status_key,
      |  f.reserve_status, r2.status AS reserve_key,
      |  f.auction_state, f.auction_city, c2.city_name AS city_key,
      |  f.seller_type, s2.seller_type AS seller_key,
      |  f.view_count, f.watcher_count, f.bid_count, f.max_bid, f.min_bid,
      |  f.mean_bid, f.median_bid, f.bid_range, f.highlight_count, f.video_count,
      |  f.auction_title, f.auction_url,
      |  v2.make_id, v2.model_id, v2.body_style_id, v2.transmission_id,
      |  v2.drivetrain_id, v2.mileage, v2.gear_count, v2.manufacture_year
      |FROM fact f
      |LEFT JOIN auction_status_dim a2 ON f.auction_status = a2.id
      |LEFT JOIN reserve_status_dim r2 ON f.reserve_status = r2.id
      |LEFT JOIN city_dim c2 ON f.auction_city = c2.id
      |LEFT JOIN seller_type_dim s2 ON f.seller_type = s2.id
      |LEFT JOIN vehicle_dim v2 ON f.vehicle_id = v2.vehicle_id
      |ORDER BY f.auction_id""".stripMargin,

    /* The two-load incremental differential (see q49IncrementalLoad's doc).
     * Batch-2 dim ids continue from COUNT(batch-1) — on a fresh warehouse
     * max(existing id) = count, so this replays the `Dims` id rule.
     * vehicle_dim replays the three-way upsert split (keep / update-in-place
     * keeping vid / fresh ids continuing from count); the fact replays
     * ON CONFLICT DO NOTHING via the NOT IN guard on batch-1 auction_ids. */
    "q49_incremental_load" -> s"""
WITH staging1 AS (${stagingSql("o_orderkey <= 26000")}
),
staging_new AS (${stagingSql("o_orderkey > 26000 AND o_orderkey <= 40000")}
),
corrections AS (
  SELECT * REPLACE (mileage + 1111 AS mileage, 'MakeNew' AS make,
                    'ModelNew' AS model, 'Reserve Not Met' AS auction_status)
  FROM staging1 WHERE CAST(substring(auction_id, 2) AS BIGINT) % 5 = 0),
staging2 AS (SELECT * FROM staging_new UNION ALL SELECT * FROM corrections),
state_dim AS (
  SELECT CAST(v.id AS BIGINT) AS id, v.state, v.state_abbr
  FROM (VALUES $stateValues) v(id, state, state_abbr)),
${List(
      incDimSql("auction_status_dim", "lower(trim(auction_status))", "auction_status"),
      incDimSql("reserve_status_dim", "lower(trim(reserve_status))", "reserve_status"),
      incDimSql("body_style_dim", "lower(trim(body_style))", "body_style"),
      incDimSql("seller_type_dim", "lower(trim(seller_type))", "seller_type"),
      incDimSql("drivetrain_dim", "upper(trim(drivetrain))", "drivetrain"),
      incDimSql("transmission_dim", "lower(trim(transmission_type))", "transmission_type")).mkString(",")},
city_c1 AS (
  SELECT DISTINCT trim(s.city) AS cn, COALESCE(sa.id, sn.id) AS sid
  FROM staging1 s
  LEFT JOIN state_dim sa ON s.title_state = sa.state_abbr
  LEFT JOIN state_dim sn ON s.title_state = sn.state
  WHERE s.city IS NOT NULL),
city_c2 AS (
  SELECT DISTINCT trim(s.city) AS cn, COALESCE(sa.id, sn.id) AS sid
  FROM staging2 s
  LEFT JOIN state_dim sa ON s.title_state = sa.state_abbr
  LEFT JOIN state_dim sn ON s.title_state = sn.state
  WHERE s.city IS NOT NULL),
city_k2 AS (
  SELECT * FROM city_c2 x
  WHERE NOT EXISTS (SELECT 1 FROM city_c1 c
                    WHERE c.cn = x.cn AND c.sid IS NOT DISTINCT FROM x.sid)),
city_dim AS (
  SELECT CAST(row_number() OVER (ORDER BY cn ASC NULLS LAST, sid ASC NULLS LAST) AS BIGINT) AS id,
    cn AS city_name, sid AS state_id FROM city_c1
  UNION ALL
  SELECT (SELECT COUNT(*) FROM city_c1) + CAST(row_number() OVER (ORDER BY cn ASC NULLS LAST, sid ASC NULLS LAST) AS BIGINT),
    cn, sid FROM city_k2),
make_k1 AS (SELECT DISTINCT trim(make) AS mk FROM staging1 WHERE make IS NOT NULL),
make_k2 AS (SELECT DISTINCT trim(make) AS mk FROM staging2 WHERE make IS NOT NULL
            AND trim(make) NOT IN (SELECT mk FROM make_k1)),
vehicle_make_dim AS (
  SELECT CAST(row_number() OVER (ORDER BY mk ASC) AS BIGINT) AS id, mk AS make FROM make_k1
  UNION ALL
  SELECT (SELECT COUNT(*) FROM make_k1) + CAST(row_number() OVER (ORDER BY mk ASC) AS BIGINT), mk
  FROM make_k2),
model_c1 AS (
  SELECT DISTINCT trim(s.model) AS md, m.id AS mid
  FROM staging1 s LEFT JOIN vehicle_make_dim m ON trim(s.make) = m.make
  WHERE s.model IS NOT NULL),
model_c2 AS (
  SELECT DISTINCT trim(s.model) AS md, m.id AS mid
  FROM staging2 s LEFT JOIN vehicle_make_dim m ON trim(s.make) = m.make
  WHERE s.model IS NOT NULL),
model_k2 AS (
  SELECT * FROM model_c2 x
  WHERE NOT EXISTS (SELECT 1 FROM model_c1 c
                    WHERE c.md = x.md AND c.mid IS NOT DISTINCT FROM x.mid)),
vehicle_model_dim AS (
  SELECT CAST(row_number() OVER (ORDER BY md ASC NULLS LAST, mid ASC NULLS LAST) AS BIGINT) AS id,
    md AS model, mid AS make_id FROM model_c1
  UNION ALL
  SELECT (SELECT COUNT(*) FROM model_c1) + CAST(row_number() OVER (ORDER BY md ASC NULLS LAST, mid ASC NULLS LAST) AS BIGINT),
    md, mid FROM model_k2),
veh_c1 AS (
  SELECT trim(s.vin) AS vin, s.auction_id AS aid,
    m.id AS make_id, md.id AS model_id, b.id AS body_style_id,
    t.id AS transmission_id, d.id AS drivetrain_id,
    s.mileage, s.gears AS gear_count, s.manufacture_year
  FROM staging1 s
  LEFT JOIN vehicle_make_dim m ON trim(s.make) = m.make
  LEFT JOIN vehicle_model_dim md ON trim(s.model) = md.model AND m.id = md.make_id
  LEFT JOIN body_style_dim b ON lower(trim(s.body_style)) = b.k
  LEFT JOIN transmission_dim t ON lower(trim(s.transmission_type)) = t.k
  LEFT JOIN drivetrain_dim d ON upper(trim(s.drivetrain)) = d.k),
veh1 AS (
  SELECT CAST(row_number() OVER (ORDER BY vin ASC NULLS LAST, aid ASC NULLS LAST) AS BIGINT) AS vid, *
  FROM veh_c1),
veh_c2 AS (
  SELECT trim(s.vin) AS vin, s.auction_id AS aid,
    m.id AS make_id, md.id AS model_id, b.id AS body_style_id,
    t.id AS transmission_id, d.id AS drivetrain_id,
    s.mileage, s.gears AS gear_count, s.manufacture_year
  FROM staging2 s
  LEFT JOIN vehicle_make_dim m ON trim(s.make) = m.make
  LEFT JOIN vehicle_model_dim md ON trim(s.model) = md.model AND m.id = md.make_id
  LEFT JOIN body_style_dim b ON lower(trim(s.body_style)) = b.k
  LEFT JOIN transmission_dim t ON lower(trim(s.transmission_type)) = t.k
  LEFT JOIN drivetrain_dim d ON upper(trim(s.drivetrain)) = d.k),
veh_new AS (
  SELECT * FROM veh_c2 x
  WHERE NOT EXISTS (SELECT 1 FROM veh1 v
                    WHERE v.vin IS NOT DISTINCT FROM x.vin
                      AND v.aid IS NOT DISTINCT FROM x.aid)),
veh_newid AS (
  SELECT (SELECT COUNT(*) FROM veh1) + CAST(row_number() OVER (ORDER BY vin ASC NULLS LAST, aid ASC NULLS LAST) AS BIGINT) AS vid, *
  FROM veh_new),
veh_upd AS (
  SELECT v.vid, x.* FROM veh_c2 x
  JOIN veh1 v ON v.vin IS NOT DISTINCT FROM x.vin AND v.aid IS NOT DISTINCT FROM x.aid),
veh_keep AS (
  SELECT * FROM veh1 v
  WHERE NOT EXISTS (SELECT 1 FROM veh_c2 x
                    WHERE x.vin IS NOT DISTINCT FROM v.vin
                      AND x.aid IS NOT DISTINCT FROM v.aid)),
vehicle_dim AS (
  SELECT * FROM veh_keep UNION ALL SELECT * FROM veh_upd UNION ALL SELECT * FROM veh_newid),
fact1 AS (
  SELECT s.auction_id, s.auction_date AS auction_time,
    v.vid AS vehicle_id, a.id AS auction_status, r.id AS reserve_status,
    st.id AS auction_state, c.id AS auction_city, sel.id AS seller_type,
    s.view_count, s.watcher_count, s.bid_count, s.max_bid, s.min_bid,
    s.mean_bid, s.median_bid, s.bid_range, s.highlight_count, s.video_count,
    s.auction_title, s.auction_url
  FROM staging1 s
  LEFT JOIN veh1 v ON trim(s.vin) = v.vin AND s.auction_id = v.aid
  LEFT JOIN auction_status_dim a ON lower(trim(s.auction_status)) = a.k
  LEFT JOIN reserve_status_dim r ON lower(trim(s.reserve_status)) = r.k
  LEFT JOIN state_dim st ON upper(trim(s.title_state)) = st.state_abbr
  LEFT JOIN city_dim c ON trim(s.city) = c.city_name AND st.id = c.state_id
  LEFT JOIN seller_type_dim sel ON lower(trim(s.seller_type)) = sel.k
  WHERE s.auction_id IS NOT NULL),
fact2 AS (
  SELECT s.auction_id, s.auction_date AS auction_time,
    v.vid AS vehicle_id, a.id AS auction_status, r.id AS reserve_status,
    st.id AS auction_state, c.id AS auction_city, sel.id AS seller_type,
    s.view_count, s.watcher_count, s.bid_count, s.max_bid, s.min_bid,
    s.mean_bid, s.median_bid, s.bid_range, s.highlight_count, s.video_count,
    s.auction_title, s.auction_url
  FROM staging2 s
  LEFT JOIN vehicle_dim v ON trim(s.vin) = v.vin AND s.auction_id = v.aid
  LEFT JOIN auction_status_dim a ON lower(trim(s.auction_status)) = a.k
  LEFT JOIN reserve_status_dim r ON lower(trim(s.reserve_status)) = r.k
  LEFT JOIN state_dim st ON upper(trim(s.title_state)) = st.state_abbr
  LEFT JOIN city_dim c ON trim(s.city) = c.city_name AND st.id = c.state_id
  LEFT JOIN seller_type_dim sel ON lower(trim(s.seller_type)) = sel.k
  WHERE s.auction_id IS NOT NULL
    AND s.auction_id NOT IN (SELECT auction_id FROM fact1)),
fact_all AS (SELECT * FROM fact1 UNION ALL SELECT * FROM fact2)
SELECT f.auction_id, f.auction_time, f.vehicle_id,
  f.auction_status, a2.k AS status_key,
  f.reserve_status, r2.k AS reserve_key,
  f.auction_state, f.auction_city, c2.city_name AS city_key,
  f.seller_type, s2.k AS seller_key,
  f.view_count, f.watcher_count, f.bid_count, f.max_bid, f.min_bid,
  f.mean_bid, f.median_bid, f.bid_range, f.highlight_count, f.video_count,
  f.auction_title, f.auction_url,
  v2.make_id, v2.model_id, v2.body_style_id, v2.transmission_id,
  v2.drivetrain_id, v2.mileage, v2.gear_count, v2.manufacture_year
FROM fact_all f
LEFT JOIN auction_status_dim a2 ON f.auction_status = a2.id
LEFT JOIN reserve_status_dim r2 ON f.reserve_status = r2.id
LEFT JOIN city_dim c2 ON f.auction_city = c2.id
LEFT JOIN seller_type_dim s2 ON f.seller_type = s2.id
LEFT JOIN vehicle_dim v2 ON f.vehicle_id = v2.vid
ORDER BY f.auction_id""")
}
