package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** E1-E21 (SURVEY.md §2.6): the reference's ~20 cleaning/derivation
  * expressions as pure Column functions — native Catalyst only (zero UDFs),
  * so the whole chain stays in WholeStageCodegen and survives pushdown.
  *
  * Reference: `src/lambdas/transform_lambda/main.py` (T:…) — semantics
  * replicated including the pandas null-handling quirks; every
  * `errors='coerce'` site maps to `try_cast` (Spark 4 ANSI mode).
  */
object CleanExprs {

  /** E1 (T:139): `pd.to_datetime(utc=True)` over mixed string formats and
    * epoch-millis (post-JSON-round-trip numbers). */
  def parseAuctionDate(c: Column): Column =
    coalesce(
      try_to_timestamp(c),
      timestamp_millis(c.try_cast("long")))

  /** E2 (T:143-146): `url.strip().split("/")[4]` — the id segment of
    * `https://carsandbids.com/auctions/<ID>/<slug>` (0-based index 4 →
    * 1-based element 5). */
  def auctionIdFromUrl(url: Column): Column =
    element_at(split(trim(url), "/"), 5)

  /** E3 (T:153, T:189): first line, trimmed — drops trailing "Save"/"Follow"
    * UI text from model/seller. */
  def firstLineTrim(c: Column): Column =
    trim(element_at(split(c, "\n"), 1))

  /** E4 (T:157-165): first `[\d,]+` run, commas stripped, as long; null when
    * absent (regexp_extract no-match → "" → try_cast null). */
  def mileage(c: Column): Column =
    regexp_replace(regexp_extract(c, "[\\d,]+", 0), ",", "").try_cast("long")

  /** E5 (T:169): currency string → double ($ and , stripped). The reference
    * `astype(float)` raises on garbage; try_cast degrades to null instead
    * (strictly more data survives — documented deviation). */
  def money(c: Column): Column =
    translate(c, "$,", "").try_cast("double")

  /** E6 (T:172, T:319-325): `pd.to_numeric(errors='coerce')`. */
  def coerceLong(c: Column): Column = c.try_cast("long")

  /** E7 (T:175-180 + defaults T:68-69): stringify, strip commas, coerce,
    * default 0. */
  def countWithDefault(c: Column): Column =
    coalesce(regexp_replace(c.cast("string"), ",", "").try_cast("long"), lit(0L))

  /** E8 (T:183): substring rewrite 'Sold to'→'Sold', then the chained
    * DataFrame-level replace which only fires on exact whole-cell
    * 'Reserve not met, bid to' (pandas `.str.replace(...).replace(...)`
    * quirk — replicated exactly). */
  def statusCanonical(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "Sold to", "Sold"),
      "^Reserve not met, bid to$", "Reserve not met")

  /** E9 (T:186): `lower(status) == 'sold'`. */
  def reserveMet(status: Column): Column = lower(status) === "sold"

  /** E10 (T:192-198): parse "$12,345"-style bid strings to longs,
    * all-or-nothing — any unparseable element (or a null list) → `[]`. */
  def bidsParse(c: Column): Column = {
    val parsed = transform(c, b => translate(b, "$,", "").try_cast("long"))
    when(c.isNull || exists(parsed, _.isNull), array().cast("array<long>"))
      .otherwise(parsed)
  }

  /** E11 (T:202-203): `.str.extract` → null on no-match (Spark returns "" —
    * nullif required for parity). */
  def titleStatusCleaned(c: Column): Column =
    nullif(regexp_extract(c, "^(.*?) \\(", 1), lit(""))
  def titleState(c: Column): Column =
    nullif(regexp_extract(c, "\\((.*?)\\)", 1), lit(""))

  /** E12 (T:207-221): rsplit-once on the LAST comma; city = head trimmed,
    * state = first space-token of the trimmed tail; no comma → (whole, null);
    * null → (null, null). Regex `^(.*),([^,]*)$` is greedy on the head, so
    * the final comma splits — multi-comma cities stay in `city`. */
  private val rsplitHead = "^(.*),([^,]*)$"
  def locationCity(c: Column): Column =
    when(c.isNull, lit(null).cast("string"))
      .when(c.rlike(rsplitHead), trim(regexp_extract(c, rsplitHead, 1)))
      .otherwise(trim(c))
  def locationState(c: Column): Column =
    when(c.isNull || !c.rlike(rsplitHead), lit(null).cast("string"))
      .otherwise(element_at(split(trim(regexp_extract(c, rsplitHead, 2)), " "), 1))

  /** E13 (T:267-290): per-row bid statistics, all null unless len >= 2.
    * Mean/median over longs as doubles; median = exact (sorted middle /
    * mean-of-two). */
  def bidStats(bids: Column): Column = {
    val n = size(bids)
    val d = bids.cast("array<double>")
    val sorted = sort_array(d)
    val half = (n / 2).cast("int")
    val vmax = array_max(bids)
    val vmin = array_min(bids)
    val mean = aggregate(d, lit(0.0), (acc, x) => acc + x) / n
    val median = when(n % 2 === 1, element_at(sorted, half + 1))
      .otherwise((element_at(sorted, half) + element_at(sorted, half + 1)) / 2.0)
    val ok = bids.isNotNull && n >= 2
    struct(
      when(ok, vmax).as("max_bid"),
      when(ok, vmin).as("min_bid"),
      when(ok, mean).as("mean_bid"),
      when(ok, median).as("median_bid"),
      when(ok, vmax - vmin).as("bid_range"))
  }

  /** E14 (T:293-302): `len(x) if isinstance(x, list) else None` — guarded
    * size, never the legacy -1. */
  def listCount(c: Column): Column = when(c.isNotNull, size(c))

  /** E15 (T:225-241): transmission classification + gear count. Null/non-str
    * → (null, null); else contains-chain (manual beats auto). */
  def transmissionType(c: Column): Column =
    when(c.isNull || c === "", lit(null).cast("string"))
      .when(lower(c).contains("manual"), "Manual")
      .when(lower(c).contains("auto"), "Automatic")
      .otherwise("Other")
  def gears(c: Column): Column =
    nullif(regexp_extract(lower(c), "(\\d+)-speed", 1), lit("")).try_cast("int")

  /** E16 (T:245-264): drivetrain classification — order matters, replicated
    * exactly; null/empty → 'Other'. */
  def drivetrainClass(c: Column): Column = {
    val d = lower(c)
    when(c.isNull || c === "", "Other")
      .when(d.contains("4wd") && d.contains("awd"), "4WD/AWD")
      .when(d.contains("front"), "FWD")
      .when(d.contains("rear"), "RWD")
      .when(d.contains("awd") || d.contains("all-wheel"), "AWD")
      .when(d.contains("4wd") || d.contains("four-wheel"), "4WD")
      .otherwise("Other")
  }

  /** E17 (T:306-314): last URL segment, token before first '-', as int; null
    * on any failure. */
  def manufactureYear(url: Column): Column =
    element_at(split(element_at(split(trim(url), "/"), -1), "-"), 1).try_cast("int")

  /** E19 (Q:9-221): key normalization used identically at dim load and lookup
    * sites. mode: "lower" | "upper" | "none". */
  def normKey(c: Column, mode: String = "lower"): Column = mode match {
    case "lower" => trim(lower(c))
    case "upper" => trim(upper(c))
    case _ => trim(c)
  }
}
