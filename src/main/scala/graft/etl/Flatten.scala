package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}
import graft.schema.Schemas

/** P1-P4 (SURVEY.md §2.2): envelope dispatch, struct flatten, struct→list
  * extraction, column-name normalization.
  *
  * Reference: `convert_to_list_dicts` + `create_auction_df`
  * (`src/lambdas/transform_lambda/main.py:39-108`).
  */
object Flatten {

  /** P1: raw auction JSON handling BOTH envelope vintages per file — map
    * `{url → record}` and list `[record]` — in one pass over a wholetext
    * frame (one row per file, column `value`): branch on the first
    * character, explode to (url_key, record) rows. For the map envelope the
    * key wins over the record's own auction_url (reference
    * `url if url else auction.get('auction_url')`, T:71). */
  private def parseEnvelopes(txt: DataFrame): DataFrame = {
    val rec = Schemas.rawRecord
    val asList = from_json(col("value"), ArrayType(rec))
    val asMap = from_json(col("value"), MapType(StringType, rec))
    val entries = when(startswith(ltrim(col("value")), lit("[")),
        transform(asList, r => struct(lit(null).cast("string").as("url_key"), r.as("rec"))))
      .otherwise(
        transform(map_entries(asMap), e => struct(e("key").as("url_key"), e("value").as("rec"))))
    txt.select(explode(entries).as("e"))
      .select(
        coalesce(col("e.url_key"), col("e.rec.auction_url")).as("auction_url"),
        col("e.rec").as("rec"))
  }

  /** P2+P3: splat `auction_quick_facts` and `auction_stats` to top level,
    * apply the view/watcher `setdefault(0)` (T:67-69), reduce
    * struct-with-list fields to their inner lists with the `services` /
    * `service_history` alias (T:76-83), default `auction_videos` to []
    * (T:75). The record's nested `auction_url` is replaced by the envelope-
    * resolved one. */
  private def flatten(raw: DataFrame): DataFrame =
    raw.select(
      col("auction_url"),
      col("rec.auction_title").as("auction_title"),
      col("rec.auction_subtitle").as("auction_subtitle"),
      col("rec.dougs_take").as("dougs_take"),
      col("rec.ownership_history").as("ownership_history"),
      coalesce(col("rec.auction_highlights.bullet_points"), array().cast("array<string>"))
        .as("auction_highlights"),
      coalesce(col("rec.services.items"), col("rec.service_history.items"),
        array().cast("array<string>")).as("services"),
      col("rec.auction_equipment").as("auction_equipment"),
      col("rec.modifications").as("modifications"),
      col("rec.known_flaws").as("known_flaws"),
      col("rec.included_items").as("included_items"),
      col("rec.seller_notes").as("seller_notes"),
      coalesce(col("rec.auction_videos"), array().cast("array<string>")).as("auction_videos"),
      col("rec.auction_quick_facts.*"),
      col("rec.auction_stats.reserve_status").as("reserve_status"),
      col("rec.auction_stats.auction_status").as("auction_status"),
      col("rec.auction_stats.highest_bid_value").as("highest_bid_value"),
      col("rec.auction_stats.buyer_username").as("buyer_username"),
      col("rec.auction_stats.seller_username").as("seller_username"),
      col("rec.auction_stats.bid_count").as("bid_count"),
      coalesce(col("rec.auction_stats.view_count"), lit(0L)).as("view_count"),
      coalesce(col("rec.auction_stats.watcher_count"), lit(0L)).as("watcher_count"),
      col("rec.auction_stats.auction_date").as("auction_date"),
      col("rec.auction_stats.bids").as("bids"))

  /** P4 (T:105-108): lowercase column names, spaces → underscores. */
  private def normalizeNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(_.toLowerCase.replace(" ", "_")): _*)

  /** P1∘P2∘P3∘P4 — a wholetext frame to the flat bronze frame; the
    * stream path's foreachBatch entry. */
  def bronze(txt: DataFrame): DataFrame =
    normalizeNames(flatten(parseEnvelopes(txt)))

  /** [[bronze]] over the raw file(s) at `path`. */
  def bronze(spark: SparkSession, path: String): DataFrame =
    bronze(spark.read.option("wholetext", "true").text(path))
}
