package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.{Crawl, Warc}

/** Streaming HOSTILE-BYTES crawl ingest — the arrival-time twin of the
  * q229 read path: record-per-member `.warc.gz` blobs with corruption at
  * both resync tiers land as parquet files, each micro-batch walks them
  * with the RECOVERING walk ([[Warc.extractHostile]] — member resync +
  * record resync + body decode) and extracts via the batch chain
  * VERBATIM ([[Crawl.extractFrom]]), per-blob loss columns riding every
  * row — no streaming fork of the recovery logic exists to drift (the
  * [[StreamingCrawl]] shape, one layer of hostility deeper).
  *
  * Semantics contract (IncrementalSpec: streamed ≡ batch): a blob's
  * rows — survivors AND loss accounting — depend only on its own bytes
  * (resync never crosses a blob), so ANY partition of the blob set into
  * micro-batches yields exactly the batch walk of the union,
  * row-for-row, losses included. Corruption arriving in any order is
  * still charged to exactly its own blob.
  *
  * Scale design: per micro-batch cost is the batch walk's (map-side
  * demux, memory O(member)); loss columns make corruption in a live
  * crawl feed an OBSERVABLE stream metric instead of silent data loss. */
object StreamingHostileCrawl {

  /** Extract every surviving page (plus its blob's loss columns) from a
    * parquet hostile-blob stream (AvailableNow); returns the accumulated
    * rows over all micro-batches: the [[Crawl.extractFrom]] columns +
    * skipped_spans/skipped_bytes/skipped_members/skipped_member_bytes. */
  def runToSnapshot(spark: SparkSession, blobsDir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    // the loss columns ride the extraction as passthroughs (the batch
    // operator VERBATIM, extra columns untouched)
    def extract(batch: DataFrame): DataFrame = Crawl.extractFrom(
      Warc.extractHostile(batch.selectExpr("CAST(blob_id AS BIGINT) AS blob_id", "warc")
        .as[(Long, Array[Byte])]),
      extra = Seq("skipped_spans", "skipped_bytes", "skipped_members", "skipped_member_bytes"))
    val raw = FileStream.parquet(spark, blobsDir, maxFilesPerTrigger)
    FileStream.unionBatches(raw, extract(FileStream.emptyLike(raw))) {
      (batch, _) => extract(batch)
    }
  }
}
