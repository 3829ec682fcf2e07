package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.Crawl

/** Streaming crawl ingest — the arrival-time twin of the q208 chain
  * ([[graft.ext.Crawl.extract]]): WARC blobs land as parquet files
  * (blob_id, warc bytes), each micro-batch demuxes, status-gates, and
  * boilerplate-extracts via the batch operator VERBATIM, and the per-page
  * rows append to the snapshot — no streaming fork of the extraction
  * logic exists to drift (the [[StreamingContamination]] shape).
  *
  * Semantics contract (IncrementalSpec: streamed ≡ batch): a page's row
  * depends only on its own record bytes — no corpus state, no cross-page
  * joins — so ANY partition of the blob set into micro-batches yields
  * exactly the batch extraction of the union, row-for-row. No state, no
  * watermark, no dedup: blob ids are unique by the crawl's construction
  * (a re-delivered file is the file source's exactly-once concern).
  *
  * Scale design: per micro-batch cost is the batch operator's — demux +
  * regex extraction, all map-side; the only constraint for keeping up
  * with a crawl is (batch interval) > extract(batch bytes), and the
  * extraction parallelizes with the blob files. */
object StreamingCrawl {

  /** Extract every page from a parquet blob stream (AvailableNow);
    * returns the accumulated per-page rows over all micro-batches. */
  def runToSnapshot(spark: SparkSession, blobsDir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    def extract(batch: DataFrame): DataFrame = Crawl.extract(
      batch.selectExpr("CAST(blob_id AS BIGINT) AS blob_id", "warc").as[(Long, Array[Byte])])
    val raw = FileStream.parquet(spark, blobsDir, maxFilesPerTrigger)
    FileStream.unionBatches(raw, extract(FileStream.emptyLike(raw))) {
      (batch, _) => extract(batch)
    }
  }
}
