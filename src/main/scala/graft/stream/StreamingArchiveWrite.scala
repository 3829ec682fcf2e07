package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Crawl, Warc}

/** Streaming archive WRITE — the arrival-time twin of the q243 capstone:
  * crawl blobs land as parquet files, each micro-batch runs the batch
  * chain VERBATIM (demux → 200 gate → extraction → the integer
  * boilerplate-share curation gate), serializes its kept pages as
  * record-per-member `.warc.gz` blobs WITH the as-written CDX extents
  * ([[Warc.synthesizeGzMembers]]), and appends (release blob + sidecar)
  * rows to a persisted store through the batch-id transaction log
  * ([[TxnSink]]) — exactly-once: a crash between append and checkpoint
  * replays the batch into its own subdirectory, never a second copy.
  *
  * Store row shape: (blob_key, warc, sidecar) — blob_key =
  * batchId·2^32 + per-batch ordinal (unique across the release without
  * any coordination between batches: id assignment is local to a batch,
  * the exactly-once sink de-duplicates redelivery), `warc` the
  * concatenated members, `sidecar` an array of (ordinal, offset, length)
  * structs measured AS WRITTEN.
  *
  * Semantics contract (IncrementalSpec: streamed ≡ batch): a page's
  * member bytes depend only on its own record — blob GROUPING differs
  * per batching (members pack per batch, not per doc_id÷8), which is
  * exactly why the law is stated at the RECORD level: seeking every
  * sidecar extent of the committed store ([[releaseRecords]], the q236
  * access pattern) must reproduce the SAME (doc_id, body mass, md5) set
  * as the one-shot batch chain, for ANY partitioning of the crawl into
  * micro-batches. The extents themselves are proven by the seek — a
  * one-byte error fails to inflate.
  *
  * Scale design: per micro-batch cost is extraction + one gzip pass over
  * the batch's kept pages (map-side after the per-batch pack); the store
  * is append-only parquet with metadata-scale commit markers, and the
  * release is CONSUMABLE mid-crawl — every committed batch is a valid
  * (blobs + sidecar) archive fragment, the property a 100 TB curation
  * run needs to ship output while still crawling. */
object StreamingArchiveWrite {

  /** Ingest a parquet WARC-blob stream (AvailableNow) into the release
    * store at `releaseDir`: per batch, curate and write the kept pages
    * as one or more record-per-member gz blobs (8 records per blob, the
    * release convention) plus sidecar extents. Returns the number of
    * micro-batches processed. */
  def ingest(spark: SparkSession, blobsDir: String, releaseDir: String,
             queryName: String = "stream_archive_write",
             maxFilesPerTrigger: Option[Int] = None): Int = {
    import spark.implicits._
    FileStream.foreachBatch(FileStream.parquet(spark, blobsDir, maxFilesPerTrigger),
        Some(queryName), Some(s"$releaseDir/_graft_checkpoint")) { (batch, batchId) =>
      val blobs = batch
        .selectExpr("CAST(blob_id AS BIGINT) AS blob_id", "warc")
        .as[(Long, Array[Byte])]
      val curated = Crawl.extract(blobs)
        .filter(col("kept_chars") * 2 >= col("total_chars"))
        .select(col("doc_id"), col("extracted"))
        .as[(Long, String)]
      // pack 8 records per release blob WITHIN the batch; blob ids
      // are batch-local (made globally unique with the batch id)
      val written = curated.groupByKey(_._1 / 8).mapGroups { (g, it) =>
        val ms = it.toArray.sortBy(_._1)
        val entries = ms.toSeq.map { case (id, ex) =>
          Warc.Entry("response", Some(s"https://example.org/doc/$id"),
            "application/http; msgtype=response",
            Warc.httpResponse("200 OK", ex))
        }
        val (blob, extents) = Warc.synthesizeGzMembers(entries)
        ((batchId << 32) | (g & 0xffffffffL), blob,
          extents.zipWithIndex.map { case ((off, len), ord) =>
            (ord.toLong, off, len)
          })
      }.toDF("blob_key", "warc", "sidecar")
      TxnSink.append(written, releaseDir, batchId)
    }
  }

  /** The committed release blobs + sidecars. */
  def store(spark: SparkSession, releaseDir: String): DataFrame =
    TxnSink.read(spark, releaseDir).getOrElse(
      throw new IllegalStateException(
        s"release store at $releaseDir has no committed batches"))

  /** Every record of the committed release, RANGE-READ back through its
    * own sidecar extents ([[Warc.seekRecord]] — identity from the sought
    * bytes): (doc_id, body_bytes, body_md5). The streamed ≡ batch law is
    * stated on this set. */
  def releaseRecords(spark: SparkSession, releaseDir: String): DataFrame = {
    import spark.implicits._
    store(spark, releaseDir)
      .select(col("blob_key"), explode(col("sidecar")).as("_s"), col("warc"))
      .select(col("blob_key"), col("_s._1").as("ordinal"),
        col("_s._2").as("offset"), col("_s._3").as("length"), col("warc"))
      .as[(Long, Long, Long, Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (_, _, off, len, gz) =>
        Warc.seekRecord(gz, off, len).map { case (uri, _, bb, md5) =>
          (uri, bb, md5)
        }
      })
      .toDF("uri", "body_bytes", "body_md5")
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("body_bytes"), col("body_md5"))
  }
}
