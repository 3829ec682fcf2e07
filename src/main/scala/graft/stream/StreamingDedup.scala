package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.TextOps

/** Streaming exact dedup by content fingerprint — the streaming twin of
  * [[graft.ext.Dedup.exactDupGroups]] (q20), for dedup-on-ingest.
  *
  * Scale design: state is bounded via `dropDuplicatesWithinWatermark` — a
  * fingerprint's guard row is evicted once the watermark passes its arrival
  * time + delay, so state holds only the horizon's fingerprints, never the
  * corpus's. That is the standard trade for streaming dedup at 100 TB:
  * re-emission is suppressed only within the horizon; global exact dedup
  * remains the batch operator. First-seen row wins (arrival order), vs. the
  * batch operator's min-id representative — both are deterministic
  * keep-one policies over the same duplicate groups.
  */
object StreamingDedup {

  /** Dedup a parquet file stream of documents by text fingerprint
    * (AvailableNow); returns the emitted (first-seen) rows. */
  def runToSnapshot(spark: SparkSession, docsDir: String,
                    queryName: String = "stream_dedup",
                    watermarkDelay: String = "1 hour",
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val deduped = FileStream.parquet(spark, docsDir, maxFilesPerTrigger)
      .withColumn("fingerprint", TextOps.fingerprintMd5(col("text")))
      .withColumn("_arrival", current_timestamp())
      .withWatermark("_arrival", watermarkDelay)
      .dropDuplicatesWithinWatermark("fingerprint")
      .drop("_arrival")
    FileStream.toMemory(deduped, queryName, "append")
  }
}
