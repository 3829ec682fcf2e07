package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-stream event-time interval join — the attribution primitive
  * (purchase joined to the same user's views in the preceding window) as a
  * genuine two-sided stateful join: both streams buffer state, watermarks
  * bound BOTH buffers, and the interval condition lets Spark evict a view
  * row once the watermark passes `ts + window` (without the time bound the
  * state would grow O(stream) — the classic unbounded stream-join mistake).
  *
  * The batch twin is a plain range join on the same predicate
  * ([[batchEquivalent]]); the spec proves result equality across
  * micro-batch boundaries, i.e. that buffered state correctly matches rows
  * arriving in different batches.
  */
object IntervalJoin {

  /** Purchases attributed to the same user's views within the preceding
    * `windowMinutes`: one output row per (view, purchase) pair with
    * view_ts < purchase_ts ≤ view_ts + window. Both sides watermarked
    * `watermark`; the join condition's two-sided time bound is what makes
    * the view buffer evictable. */
  def attributedPurchases(spark: SparkSession, eventsParquet: String,
                          windowMinutes: Int, watermark: String = "10 minutes",
                          maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ev = FileStream.events(spark, eventsParquet, maxFilesPerTrigger)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", watermark)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("p_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** The batch twin: identical predicate as a plain (range) join over the
    * static table. */
  def batchEquivalent(events: DataFrame, windowMinutes: Int): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("p_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"), col("value"))
  }

  /** Drain all available input (append mode — interval joins emit exactly
    * once) into a memory sink and return the snapshot. */
  def runToSnapshot(spark: SparkSession, eventsParquet: String,
                    queryName: String, windowMinutes: Int,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame =
    FileStream.toMemory(attributedPurchases(spark, eventsParquet, windowMinutes,
      maxFilesPerTrigger = maxFilesPerTrigger), queryName, "append")
}
