package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time tumbling-window aggregation as a streaming query (SURVEY.md
  * §2.9 demo surface): parquet file stream → watermark → windowed counts.
  * The batch-equivalent query (q19) is the oracle-checked twin; this proves
  * the same plan runs under Structured Streaming with late-data bounds.
  */
object WindowedCounts {

  /** Streaming hourly counts per event_type over the events table
    * (nanos-as-long ts normalized exactly like [[graft.util.Tables.load]]). */
  def hourlyCounts(spark: SparkSession, eventsParquet: String,
                   watermark: String = "1 hour",
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    FileStream.events(spark, eventsParquet, maxFilesPerTrigger)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"), col("sum_value"))
  }

  /** Run the streaming aggregation over all currently-available input into an
    * in-memory table and return the final result (complete mode — the
    * batch-comparable snapshot). */
  def runToSnapshot(spark: SparkSession, eventsParquet: String,
                    queryName: String = "hourly_counts",
                    maxFilesPerTrigger: Option[Int] = None): DataFrame =
    FileStream.toMemory(hourlyCounts(spark, eventsParquet, maxFilesPerTrigger = maxFilesPerTrigger),
      queryName, "complete")
}
