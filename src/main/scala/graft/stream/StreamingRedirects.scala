package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.{Redirects, Warc}

/** Streaming redirect-graph ingest — the arrival-time twin of the q212
  * resolver, with the [[StreamingNearDupIndex]] disk-not-state trade:
  * redirect EDGES (demuxed HTTP metadata) accumulate as a persisted
  * parquet store with ZERO streaming state, and resolution is a VIEW
  * over the store ([[Redirects.resolve]], the batch operator verbatim).
  *
  * Why resolve-on-read and not per-batch emission: chain resolution is
  * NON-MONOTONE in edge arrival — a later-crawled hop REWRITES an
  * earlier URL's landing (url₁ → url₂ dangles until url₂'s 301 arrives,
  * then url₁'s final_uri changes) — so per-batch emission would need
  * retractions, which append-mode streaming cannot express. Near-dup
  * pairs (the [[StreamingNearDupIndex]] output) are monotone and can
  * stream; landings are not, so the landing TABLE is the materialized
  * view and the STORE is the stream. That split is exactly how a crawl
  * frontier consumes redirects anyway: the fetch loop appends, the
  * scheduler re-reads resolved landings per cycle.
  *
  * Semantics contract (IncrementalSpec: streamed ≡ batch): the store is
  * the UNION of per-batch [[Warc.extractHttpMeta]] rows — per-record
  * demux is arrival-order-independent — and [[resolveFromStore]] is a
  * pure function of the store, so for ANY partitioning of the blob set
  * into micro-batches, after the AvailableNow drain the resolution
  * equals the one-shot batch chain over the same blobs, row-for-row.
  *
  * The durable checkpoint lives under the store (`_graft_checkpoint`,
  * underscore-prefixed so parquet reads ignore it): a re-invocation
  * after new crawl files land appends exactly the new files' metadata —
  * without it, every re-run would duplicate the whole store (the
  * [[StreamingNearDupIndex]] lesson).
  *
  * Scale design: per micro-batch cost is one demux pass (map-side) plus
  * a three-column append; resolution cost is the batch resolver's and is
  * paid per READ, not per batch — the right side of the trade when
  * ingest is continuous and scheduling cycles are coarse. Appends go
  * through the batch-id transaction log ([[TxnSink]]): foreachBatch's
  * at-least-once delivery × the sink's idempotent isolated writes =
  * EXACTLY-ONCE visible store rows — a crash between append and
  * checkpoint commit replays the batch into its own subdirectory
  * instead of appending a second copy (IncrementalSpec replays every
  * crash window). */
object StreamingRedirects {

  /** Ingest a parquet WARC-blob stream (AvailableNow) into the metadata
    * store at `metaDir`: per batch, demux (uri, http_status, location)
    * rows and append. Returns the number of micro-batches processed. */
  def ingest(spark: SparkSession, blobsDir: String, metaDir: String,
             queryName: String = "stream_redirects",
             maxFilesPerTrigger: Option[Int] = None): Int = {
    import spark.implicits._
    FileStream.foreachBatch(FileStream.parquet(spark, blobsDir, maxFilesPerTrigger),
        Some(queryName), Some(s"$metaDir/_graft_checkpoint")) { (batch, batchId) =>
      val blobs = batch
        .selectExpr("CAST(blob_id AS BIGINT) AS blob_id", "warc")
        .as[(Long, Array[Byte])]
      TxnSink.append(
        Warc.extractHttpMeta(blobs).select("uri", "http_status", "location"),
        metaDir, batchId)
    }
  }

  /** The store's metadata rows (uri, http_status, location): the
    * transaction log's committed set, UNIONED with any root-level
    * parquet files — rows appended by the pre-TxnSink release's plain
    * `mode("append")` writes live at the store root and must stay
    * visible after the migration (the [[StreamingNearDupIndex.readIndex]]
    * pattern). New writes only ever land in committed batch
    * subdirectories. */
  def storeRows(spark: SparkSession, metaDir: String): DataFrame = {
    val fs = new Path(metaDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy =
      if (fs.exists(new Path(metaDir)) &&
          fs.listStatus(new Path(metaDir))
            .exists(_.getPath.getName.endsWith(".parquet")))
        Some(spark.read.parquet(metaDir)) // root files only; _txn/ ignored
      else None
    (legacy, TxnSink.read(spark, metaDir)) match {
      case (Some(l), Some(c)) => l.unionByName(c)
      case (Some(l), None) => l
      case (None, Some(c)) => c
      case (None, None) => throw new IllegalStateException(
        s"redirect meta store at $metaDir has no committed batches")
    }
  }

  /** The resolved-landings view over the store: the batch resolver
    * verbatim. (orig, final_uri, final_status, hops). */
  def resolveFromStore(spark: SparkSession, metaDir: String): DataFrame =
    Redirects.resolve(storeRows(spark, metaDir))
}
