package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Flatten, Silver}
import graft.schema.Schemas
import graft.star.{StarLoad, Warehouse}

import scala.annotation.unused

/** q184 — the REAL auction bronze→silver chain under the DuckDB oracle
  * (round-14 verdict task #2), and q198 — the silver→GOLD star load over the
  * same committed fixtures (round-15 verdict task #1). Together they put the
  * ENTIRE reference dataflow — raw envelope JSON to star schema — under one
  * oracle-checked chain.
  *
  * q184: both raw envelope vintages (map `{url → record}` and list
  * `[record]`) through P1–P4 (envelope dispatch with map-key-wins, struct
  * flatten + count defaults, struct→list extraction with the `services`
  * alias, name normalization), F1 validity filter (null-safe rlike), E1
  * mixed-format + epoch-millis date parse, A4 keep-newest dedup, and the
  * full E2–E17 cleaning chain — hash-compared column-for-column against a
  * single DuckDB CTE transliteration of the reference's `clean_and_transform`
  * (`transform_lambda/main.py:136-316`) over the SAME committed JSON
  * fixtures.
  *
  * The fixture (fixtures/raw_auctions/) covers every case FIXTURES.md §1
  * lists: both envelopes, missing view/watcher counts, invalid + null status
  * (→ filtered), unparseable bid (→ `[]` all-or-nothing), single-bid and
  * empty-bid lists (→ null stats), comma-less and multi-comma locations,
  * paren-less title status, cross-envelope duplicate auction_id
  * (keep-newest), epoch-millis and ISO-T dates, the `Reserve not met, bid
  * to` whole-cell quirk (both the exact and suffixed forms), the `services`
  * alias key, order-exact drivetrain classification, and a non-numeric
  * manufacture-year slug.
  *
  * q184 output: the 45-column warehouse projection (P5, `load_lambda/main
  * .py:84-92`) with `bids` JSON-encoded (array columns don't survive the
  * driver's pandas compare) and `auction_date` as TIMESTAMP_NTZ (UTC
  * session → identity cast, the repo's timestamp-output convention).
  *
  * q198 output: the TAGGED UNION of every warehouse table a full
  * [[graft.star.StarLoad]] run populates from q184's silver frame — all 9
  * loaded dims + the seeded state_dim + vehicle_dim + auction_fact — against
  * a DuckDB transliteration of the reference's 11-statement
  * `load_lambda/update_dims.sql:8-223` (the J1 disjunctive state join
  * Q:82-83 as two joins + COALESCE, the U2 vehicle load Q:118-177, the U1
  * fact insert Q:181-223) APPLIED TO the q184 CTE chain's output as its
  * `staging`. The silver CTEs are ONE shared definition ([[silverCtes]] /
  * [[silverSelect]]) consumed by both oracle strings, so the bronze→silver
  * transliteration can never drift between the two queries (the q189/q197
  * shared-oracle convention). Hash coverage: every dim's membership, key
  * normalization, and surrogate-id assignment (row_number over key order),
  * the vehicle dim's full 20-attribute resolution, and the fact's 6-way
  * surrogate resolution — all table contents, not just the fact join-back.
  *
  * Scale note: the fixture is fixture-sized by design — the SCALE story for
  * this chain is the S5 merge path (PipelineSpec, IngestSpec) and the q44/
  * q49 loads at testdata volume; these queries pin SEMANTICS. The plans are
  * the production ones: one wholetext scan, envelope explode, a single
  * window for A4, then the composed star load (fused dim passes, broadcast
  * lookups, whole-table vehicle upsert).
  */
object AuctionQueries {

  /** Committed fixture dir — referenced by absolute path from both engines
    * (the oracle's `read_json_objects` reads the same two files). */
  val FixtureDir = "/root/repo/fixtures/raw_auctions"

  def q184AuctionSilver(spark: SparkSession, @unused dir: String): DataFrame = {
    val silver = Silver.run(Flatten.bronze(spark, FixtureDir))
    silver
      .select(Schemas.insertColumns.map(col).toIndexedSeq: _*)
      .withColumn("auction_date", col("auction_date").cast("timestamp_ntz"))
      .withColumn("bids", to_json(col("bids")))
      .orderBy(col("auction_id"))
  }

  // ---------------------------------------------------------------- q198

  /** The tagged-union output schema both engines project every table into:
    * a fixed bed of typed columns, each table filling what it has. */
  private val unionCols: Seq[(String, String, String)] =
    (("id", "long", "BIGINT") +:
      (1 to 7).map(i => (s"s$i", "string", "VARCHAR"))) ++
      (1 to 14).map(i => (s"n$i", "long", "BIGINT")) ++
      Seq(("d1", "double", "DOUBLE"), ("d2", "double", "DOUBLE"),
        ("t1", "timestamp_ntz", "TIMESTAMP"))

  private def section(tbl: String, df: DataFrame, cols: (String, Column)*): DataFrame = {
    val m = cols.toMap
    df.select(lit(tbl).as("tbl") +: unionCols.map { case (c, t, _) =>
      m.getOrElse(c, lit(null)).cast(t).as(c) }: _*)
  }

  /** q198: full composed star load over the REAL fixture silver frame, every
    * resulting table row tagged and unioned. */
  def q198AuctionStarLoad(spark: SparkSession, @unused dir: String): DataFrame = {
    // ONE fixed per-process dir, wiped before each load: a fresh temp dir
    // per invocation leaked a full 12-table warehouse into /tmp on every
    // bench warmup + attempt (unbounded across rounds); the wipe keeps the
    // load deterministic (always a from-scratch warehouse) and the disk
    // footprint bounded at one fixture-sized copy
    val whDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_q198_wh_${ProcessHandle.current.pid}")
    if (java.nio.file.Files.exists(whDir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(whDir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val wh = new Warehouse(spark, whDir.toString)
    StarLoad.run(wh, Silver.run(Flatten.bronze(spark, FixtureDir)))
    wh.close() // release dim-cache blocks; reads below come from disk
    val simple = Seq(
      ("auction_status_dim", "status"), ("reserve_status_dim", "status"),
      ("body_style_dim", "body_style"), ("seller_type_dim", "seller_type"),
      ("drivetrain_dim", "drivetrain"), ("transmission_dim", "transmission"),
      ("vehicle_make_dim", "make"))
    val dims = simple.map { case (t, k) =>
      section(t, wh.read(t), "id" -> col("id"), "s1" -> col(k)) }
    val state = section("state_dim", wh.read("state_dim"),
      "id" -> col("id"), "s1" -> col("state"), "s2" -> col("state_abbr"))
    val city = section("city_dim", wh.read("city_dim"),
      "id" -> col("id"), "s1" -> col("city_name"), "n1" -> col("state_id"))
    val model = section("vehicle_model_dim", wh.read("vehicle_model_dim"),
      "id" -> col("id"), "s1" -> col("model"), "n1" -> col("make_id"))
    val veh = section("vehicle_dim", wh.read("vehicle_dim"),
      "id" -> col("vehicle_id"), "s1" -> col("vin"), "s2" -> col("auction_id"),
      "s3" -> col("engine"), "s4" -> col("exterior_color"),
      "s5" -> col("interior_color"), "s6" -> col("title_status"),
      "s7" -> col("title_state"),
      "n1" -> col("make_id"), "n2" -> col("model_id"),
      "n3" -> col("body_style_id"), "n4" -> col("manufacture_year"),
      "n5" -> col("mileage"), "n6" -> col("transmission_id"),
      "n7" -> col("gear_count"), "n8" -> col("drivetrain_id"),
      "n9" -> col("equipment_count"), "n10" -> col("mod_count"),
      "n11" -> col("flaw_count"), "n12" -> col("service_count"),
      "n13" -> col("included_items_count"))
    val fact = section("auction_fact", wh.read("auction_fact"),
      "s1" -> col("auction_id"), "s2" -> col("auction_title"),
      "s3" -> col("auction_subtitle"), "s4" -> col("auction_url"),
      "s5" -> to_json(col("bids")),
      "n1" -> col("vehicle_id"), "n2" -> col("auction_status"),
      "n3" -> col("reserve_status"), "n4" -> col("auction_state"),
      "n5" -> col("auction_city"), "n6" -> col("seller_type"),
      "n7" -> col("view_count"), "n8" -> col("watcher_count"),
      "n9" -> col("bid_count"), "n10" -> col("max_bid"),
      "n11" -> col("min_bid"), "n12" -> col("bid_range"),
      "n13" -> col("highlight_count"), "n14" -> col("video_count"),
      "d1" -> col("mean_bid"), "d2" -> col("median_bid"),
      "t1" -> col("auction_time"))
    (dims ++ Seq(state, city, model, veh, fact))
      .reduce(_ unionByName _)
      .orderBy(col("tbl"), col("id"), col("s1"))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q184_auction_silver" -> (q184AuctionSilver _),
    "q198_auction_star" -> (q198AuctionStarLoad _)
  )

  /* One CTE chain = the whole reference transform. Envelope dispatch:
   * map file → json_keys + per-key extract (key wins as auction_url);
   * list file → CAST(doc AS JSON[]) + unnest. Every expression below is
   * the DuckDB spelling of the matching CleanExprs function; the
   * keep-newest QUALIFY mirrors Silver.keepNewest's tie-break exactly.
   * Shared verbatim between q184 (plus its projection) and q198 (as the
   * star load's `staging`). */
  private[queries] val silverCtes: String =
    """WITH m AS (SELECT json FROM read_json_objects(
      |       '/root/repo/fixtures/raw_auctions/map.json', format='unstructured')),
      | mk AS (SELECT unnest(json_keys(json)) AS k, json FROM m),
      | mrec AS (SELECT k AS url_key,
      |            json_extract(json, '$."' || k || '"') AS rec FROM mk),
      | l AS (SELECT json FROM read_json_objects(
      |       '/root/repo/fixtures/raw_auctions/list.json', format='unstructured')),
      | lrec AS (SELECT CAST(NULL AS VARCHAR) AS url_key,
      |            unnest(CAST(json AS JSON[])) AS rec FROM l),
      | allrec AS (SELECT * FROM mrec UNION ALL SELECT * FROM lrec),
      | bronze AS (SELECT
      |   coalesce(url_key, rec->>'auction_url') AS auction_url,
      |   rec->>'auction_title' AS auction_title,
      |   rec->>'auction_subtitle' AS auction_subtitle,
      |   rec->'auction_quick_facts'->>'Make' AS make,
      |   rec->'auction_quick_facts'->>'Model' AS model0,
      |   rec->'auction_quick_facts'->>'Mileage' AS mileage0,
      |   rec->'auction_quick_facts'->>'VIN' AS vin,
      |   rec->'auction_quick_facts'->>'Title Status' AS title_status,
      |   rec->'auction_quick_facts'->>'Location' AS location,
      |   rec->'auction_quick_facts'->>'Seller' AS seller0,
      |   rec->'auction_quick_facts'->>'Engine' AS engine,
      |   rec->'auction_quick_facts'->>'Drivetrain' AS drivetrain0,
      |   rec->'auction_quick_facts'->>'Transmission' AS transmission,
      |   rec->'auction_quick_facts'->>'Body Style' AS body_style,
      |   rec->'auction_quick_facts'->>'Exterior Color' AS exterior_color,
      |   rec->'auction_quick_facts'->>'Interior Color' AS interior_color,
      |   rec->'auction_quick_facts'->>'Seller Type' AS seller_type,
      |   rec->'auction_stats'->>'reserve_status' AS reserve_status,
      |   rec->'auction_stats'->>'auction_status' AS status0,
      |   rec->'auction_stats'->>'highest_bid_value' AS hbv0,
      |   try_cast(rec->'auction_stats'->>'bid_count' AS BIGINT) AS bid_count,
      |   coalesce(try_cast(rec->'auction_stats'->>'view_count' AS BIGINT), 0) AS view_count,
      |   coalesce(try_cast(rec->'auction_stats'->>'watcher_count' AS BIGINT), 0) AS watcher_count,
      |   rec->'auction_stats'->>'auction_date' AS date0,
      |   CAST(rec->'auction_stats'->'bids' AS VARCHAR[]) AS bids0,
      |   coalesce(CAST(rec->'auction_highlights'->'bullet_points' AS VARCHAR[]),
      |     CAST([] AS VARCHAR[])) AS highlights,
      |   coalesce(CAST(rec->'services'->'items' AS VARCHAR[]),
      |     CAST(rec->'service_history'->'items' AS VARCHAR[]),
      |     CAST([] AS VARCHAR[])) AS services,
      |   CAST(rec->'auction_equipment' AS VARCHAR[]) AS equipment,
      |   CAST(rec->'modifications' AS VARCHAR[]) AS mods,
      |   CAST(rec->'known_flaws' AS VARCHAR[]) AS flaws,
      |   CAST(rec->'included_items' AS VARCHAR[]) AS items,
      |   coalesce(CAST(rec->'auction_videos' AS VARCHAR[]),
      |     CAST([] AS VARCHAR[])) AS videos
      |  FROM allrec),
      | valid AS (SELECT * FROM bronze
      |   WHERE regexp_matches(lower(status0),
      |     'sold|reserve not met|canceled|cancelled')),
      | dated AS (SELECT *,
      |   coalesce(try_cast(date0 AS TIMESTAMP),
      |     epoch_ms(try_cast(date0 AS BIGINT))) AS auction_date,
      |   split_part(trim(auction_url), '/', 5) AS auction_id
      |  FROM valid),
      | newest AS (SELECT * FROM dated
      |   QUALIFY row_number() OVER (PARTITION BY auction_id
      |     ORDER BY auction_date DESC NULLS LAST, auction_url ASC) = 1),
      | parsed AS (SELECT *,
      |   list_transform(bids0,
      |     b -> try_cast(replace(replace(b, '$', ''), ',', '') AS BIGINT)) AS pb
      |  FROM newest),
      | cleanbids AS (SELECT *,
      |   CASE WHEN bids0 IS NULL OR len(list_filter(pb, x -> x IS NULL)) > 0
      |        THEN CAST([] AS BIGINT[]) ELSE pb END AS bids
      |  FROM parsed),
      | stats AS (SELECT *, len(bids) AS nb,
      |   list_sort(CAST(bids AS DOUBLE[])) AS sb
      |  FROM cleanbids),
      | canon AS (SELECT *,
      |   regexp_replace(regexp_replace(status0, 'Sold to', 'Sold'),
      |     '^Reserve not met, bid to$', 'Reserve not met') AS auction_status
      |  FROM stats)""".stripMargin

  /** The 45-column silver projection over [[silverCtes]] — q184's SELECT
    * body and q198's `staging` CTE body, one definition. */
  private[queries] val silverSelect: String =
    """SELECT
      |  auction_date, auction_id, vin, seller_type, reserve_status,
      |  (lower(auction_status) = 'sold') AS reserve_met,
      |  auction_status, auction_title, auction_subtitle, make,
      |  CASE WHEN model0 IS NULL THEN NULL
      |    ELSE trim(split_part(model0, chr(10), 1)) END AS model,
      |  exterior_color, interior_color, body_style,
      |  try_cast(replace(regexp_extract(mileage0, '[\d,]+'), ',', '') AS BIGINT) AS mileage,
      |  engine,
      |  CASE WHEN drivetrain0 IS NULL OR drivetrain0 = '' THEN 'Other'
      |    WHEN contains(lower(drivetrain0), '4wd')
      |      AND contains(lower(drivetrain0), 'awd') THEN '4WD/AWD'
      |    WHEN contains(lower(drivetrain0), 'front') THEN 'FWD'
      |    WHEN contains(lower(drivetrain0), 'rear') THEN 'RWD'
      |    WHEN contains(lower(drivetrain0), 'awd')
      |      OR contains(lower(drivetrain0), 'all-wheel') THEN 'AWD'
      |    WHEN contains(lower(drivetrain0), '4wd')
      |      OR contains(lower(drivetrain0), 'four-wheel') THEN '4WD'
      |    ELSE 'Other' END AS drivetrain,
      |  transmission,
      |  CASE WHEN transmission IS NULL OR transmission = '' THEN NULL
      |    WHEN contains(lower(transmission), 'manual') THEN 'Manual'
      |    WHEN contains(lower(transmission), 'auto') THEN 'Automatic'
      |    ELSE 'Other' END AS transmission_type,
      |  try_cast(nullif(regexp_extract(lower(transmission), '(\d+)-speed', 1), '')
      |    AS INTEGER) AS gears,
      |  nullif(regexp_extract(title_status, '^(.*?) \(', 1), '') AS title_status_cleaned,
      |  nullif(regexp_extract(title_status, '\((.*?)\)', 1), '') AS title_state,
      |  CASE WHEN location IS NULL THEN NULL
      |    WHEN regexp_matches(location, '^(.*),([^,]*)$')
      |      THEN trim(regexp_extract(location, '^(.*),([^,]*)$', 1))
      |    ELSE trim(location) END AS city,
      |  CASE WHEN location IS NULL
      |      OR NOT regexp_matches(location, '^(.*),([^,]*)$') THEN NULL
      |    ELSE split_part(trim(regexp_extract(location, '^(.*),([^,]*)$', 2)), ' ', 1)
      |    END AS state,
      |  bid_count, view_count, watcher_count,
      |  try_cast(replace(replace(hbv0, '$', ''), ',', '') AS DOUBLE) AS highest_bid_value,
      |  CASE WHEN nb >= 2 THEN list_max(bids) END AS max_bid,
      |  CASE WHEN nb >= 2 THEN list_min(bids) END AS min_bid,
      |  CASE WHEN nb >= 2 THEN CAST(list_sum(bids) AS DOUBLE) / nb END AS mean_bid,
      |  CASE WHEN nb >= 2 THEN
      |    (CASE WHEN nb % 2 = 1 THEN sb[(nb // 2) + 1]
      |          ELSE (sb[nb // 2] + sb[(nb // 2) + 1]) / 2.0 END) END AS median_bid,
      |  CASE WHEN nb >= 2 THEN list_max(bids) - list_min(bids) END AS bid_range,
      |  CAST(CAST(bids AS JSON) AS VARCHAR) AS bids,
      |  CAST(len(highlights) AS INTEGER) AS highlight_count,
      |  CAST(len(equipment) AS INTEGER) AS equipment_count,
      |  CAST(len(mods) AS INTEGER) AS mod_count,
      |  CAST(len(flaws) AS INTEGER) AS flaw_count,
      |  CAST(len(services) AS INTEGER) AS service_count,
      |  CAST(len(items) AS INTEGER) AS included_items_count,
      |  CAST(len(videos) AS INTEGER) AS video_count,
      |  try_cast(split_part(regexp_extract(trim(auction_url), '([^/]+)$', 1), '-', 1)
      |    AS INTEGER) AS manufacture_year,
      |  location, auction_url,
      |  CASE WHEN seller0 IS NULL THEN NULL
      |    ELSE trim(split_part(seller0, chr(10), 1)) END AS seller
      |FROM canon""".stripMargin

  /** One tagged-union section of the q198 oracle: `tbl` plus every
    * [[unionCols]] slot, missing slots typed-NULL. */
  private def oSection(tbl: String, from: String, m: Map[String, String]): String =
    s"SELECT '$tbl' AS tbl, " + unionCols.map { case (c, _, t) =>
      s"CAST(${m.getOrElse(c, "NULL")} AS $t) AS $c" }.mkString(", ") +
      s"\nFROM $from"

  private def oSimpleDim(table: String, norm: String, raw: String, key: String): String =
    s"""$table AS (
       |  SELECT CAST(row_number() OVER (ORDER BY $key ASC) AS BIGINT) AS id, $key
       |  FROM (SELECT DISTINCT $norm AS $key FROM staging WHERE $raw IS NOT NULL))""".stripMargin

  /** q198's star-load CTEs: `update_dims.sql:8-223` over the silver staging
    * on a FRESH warehouse — every dim is DISTINCT normalized keys +
    * row_number ids over key order (the `Dims` order: keys ASC NULLS
    * LAST, offset 0), the vehicle dim resolves all 20 attributes
    * (Q:118-157), the fact all six surrogates (Q:181-223). */
  private val starCtes: String = s"""staging AS (
$silverSelect),
state_dim AS (
  SELECT CAST(v.id AS BIGINT) AS id, v.state, v.state_abbr
  FROM (VALUES ${StarLoadQueries.stateValues}) v(id, state, state_abbr)),
${oSimpleDim("auction_status_dim", "lower(trim(auction_status))", "auction_status", "status")},
${oSimpleDim("reserve_status_dim", "lower(trim(reserve_status))", "reserve_status", "status")},
${oSimpleDim("body_style_dim", "lower(trim(body_style))", "body_style", "body_style")},
${oSimpleDim("seller_type_dim", "lower(trim(seller_type))", "seller_type", "seller_type")},
${oSimpleDim("drivetrain_dim", "upper(trim(drivetrain))", "drivetrain", "drivetrain")},
${oSimpleDim("transmission_dim", "lower(trim(transmission_type))", "transmission_type", "transmission")},
city_src AS (
  SELECT DISTINCT trim(s.city) AS city_name, COALESCE(sa.id, sn.id) AS state_id
  FROM staging s
  LEFT JOIN state_dim sa ON s.title_state = sa.state_abbr
  LEFT JOIN state_dim sn ON s.title_state = sn.state
  WHERE s.city IS NOT NULL),
city_dim AS (
  SELECT CAST(row_number() OVER (ORDER BY city_name ASC NULLS LAST, state_id ASC NULLS LAST) AS BIGINT) AS id,
    city_name, state_id
  FROM city_src),
vehicle_make_dim AS (
  SELECT CAST(row_number() OVER (ORDER BY make ASC) AS BIGINT) AS id, make
  FROM (SELECT DISTINCT trim(make) AS make FROM staging WHERE make IS NOT NULL)),
model_src AS (
  SELECT DISTINCT trim(s.model) AS model, m.id AS make_id
  FROM staging s LEFT JOIN vehicle_make_dim m ON trim(s.make) = m.make
  WHERE s.model IS NOT NULL),
vehicle_model_dim AS (
  SELECT CAST(row_number() OVER (ORDER BY model ASC NULLS LAST, make_id ASC NULLS LAST) AS BIGINT) AS id,
    model, make_id
  FROM model_src),
vehicle_src AS (
  SELECT trim(s.vin) AS vin, s.auction_id,
    m.id AS make_id, md.id AS model_id, b.id AS body_style_id,
    s.manufacture_year, s.mileage, s.engine,
    t.id AS transmission_id, s.gears AS gear_count, d.id AS drivetrain_id,
    s.exterior_color, s.interior_color,
    s.title_status_cleaned AS title_status, s.title_state,
    s.equipment_count, s.mod_count, s.flaw_count, s.service_count,
    s.included_items_count
  FROM staging s
  LEFT JOIN vehicle_make_dim m ON trim(s.make) = m.make
  LEFT JOIN vehicle_model_dim md ON trim(s.model) = md.model AND m.id = md.make_id
  LEFT JOIN body_style_dim b ON lower(trim(s.body_style)) = b.body_style
  LEFT JOIN transmission_dim t ON lower(trim(s.transmission_type)) = t.transmission
  LEFT JOIN drivetrain_dim d ON upper(trim(s.drivetrain)) = d.drivetrain),
vehicle_dim AS (
  SELECT CAST(row_number() OVER (ORDER BY vin ASC NULLS LAST, auction_id ASC NULLS LAST) AS BIGINT) AS vehicle_id, *
  FROM vehicle_src),
fact AS (
  SELECT s.auction_id, s.auction_date AS auction_time,
    v.vehicle_id, a.id AS auction_status, r.id AS reserve_status,
    st.id AS auction_state, c.id AS auction_city, sel.id AS seller_type,
    s.view_count, s.watcher_count, s.bid_count, s.max_bid, s.min_bid,
    s.mean_bid, s.median_bid, s.bid_range, s.bids, s.highlight_count,
    s.video_count, s.auction_title, s.auction_subtitle, s.auction_url
  FROM staging s
  LEFT JOIN vehicle_dim v ON trim(s.vin) = v.vin AND s.auction_id = v.auction_id
  LEFT JOIN auction_status_dim a ON lower(trim(s.auction_status)) = a.status
  LEFT JOIN reserve_status_dim r ON lower(trim(s.reserve_status)) = r.status
  LEFT JOIN state_dim st ON upper(trim(s.title_state)) = st.state_abbr
  LEFT JOIN city_dim c ON trim(s.city) = c.city_name AND st.id = c.state_id
  LEFT JOIN seller_type_dim sel ON lower(trim(s.seller_type)) = sel.seller_type
  WHERE s.auction_id IS NOT NULL)"""

  private val taggedUnion: String = Seq(
    oSection("auction_status_dim", "auction_status_dim",
      Map("id" -> "id", "s1" -> "status")),
    oSection("reserve_status_dim", "reserve_status_dim",
      Map("id" -> "id", "s1" -> "status")),
    oSection("body_style_dim", "body_style_dim",
      Map("id" -> "id", "s1" -> "body_style")),
    oSection("seller_type_dim", "seller_type_dim",
      Map("id" -> "id", "s1" -> "seller_type")),
    oSection("drivetrain_dim", "drivetrain_dim",
      Map("id" -> "id", "s1" -> "drivetrain")),
    oSection("transmission_dim", "transmission_dim",
      Map("id" -> "id", "s1" -> "transmission")),
    oSection("vehicle_make_dim", "vehicle_make_dim",
      Map("id" -> "id", "s1" -> "make")),
    oSection("state_dim", "state_dim",
      Map("id" -> "id", "s1" -> "state", "s2" -> "state_abbr")),
    oSection("city_dim", "city_dim",
      Map("id" -> "id", "s1" -> "city_name", "n1" -> "state_id")),
    oSection("vehicle_model_dim", "vehicle_model_dim",
      Map("id" -> "id", "s1" -> "model", "n1" -> "make_id")),
    oSection("vehicle_dim", "vehicle_dim", Map(
      "id" -> "vehicle_id", "s1" -> "vin", "s2" -> "auction_id",
      "s3" -> "engine", "s4" -> "exterior_color", "s5" -> "interior_color",
      "s6" -> "title_status", "s7" -> "title_state",
      "n1" -> "make_id", "n2" -> "model_id", "n3" -> "body_style_id",
      "n4" -> "manufacture_year", "n5" -> "mileage",
      "n6" -> "transmission_id", "n7" -> "gear_count",
      "n8" -> "drivetrain_id", "n9" -> "equipment_count",
      "n10" -> "mod_count", "n11" -> "flaw_count", "n12" -> "service_count",
      "n13" -> "included_items_count")),
    oSection("auction_fact", "fact", Map(
      "s1" -> "auction_id", "s2" -> "auction_title",
      "s3" -> "auction_subtitle", "s4" -> "auction_url", "s5" -> "bids",
      "n1" -> "vehicle_id", "n2" -> "auction_status",
      "n3" -> "reserve_status", "n4" -> "auction_state",
      "n5" -> "auction_city", "n6" -> "seller_type", "n7" -> "view_count",
      "n8" -> "watcher_count", "n9" -> "bid_count", "n10" -> "max_bid",
      "n11" -> "min_bid", "n12" -> "bid_range", "n13" -> "highlight_count",
      "n14" -> "video_count", "d1" -> "mean_bid", "d2" -> "median_bid",
      "t1" -> "auction_time"))
  ).mkString("\nUNION ALL\n")

  val sql: Map[String, String] = Map(
    "q184_auction_silver" ->
      s"$silverCtes\n$silverSelect ORDER BY auction_id",
    "q198_auction_star" ->
      s"$silverCtes,\n$starCtes\n$taggedUnion\nORDER BY tbl, id, s1"
  )
}
