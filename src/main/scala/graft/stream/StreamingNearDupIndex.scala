package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.Dedup

/** Streaming near-dup ingest against the PERSISTED band index — the
  * arrival-time twin of [[graft.ext.Dedup.nearDupAgainstIndex]] (q200),
  * and the inverse of [[StreamingNearDup]]'s state trade: there, the
  * pairing horizon is watermark-BOUNDED because prior batches live in
  * executor state; here the horizon is UNBOUNDED with ZERO streaming
  * state, because prior corpus lives as the `(id, band)` parquet index.
  * Each micro-batch is audited by the batch operator verbatim (shard
  * bands vs index + shard-internal pairs), then its OWN bands append to
  * the index directory — so a later batch pairs against every earlier
  * document, exactly the deployment loop the persisted index was built
  * for (audit on ingest, index grows with the corpus, never re-banded).
  *
  * Semantics contract (IncrementalSpec: streamed ≡ batch as canonicalized
  * pair sets): band keys are pure per-row text functions, so for any
  * partitioning of the shard into micro-batches B₁…Bₙ, the union of
  * per-batch audits — Bᵢ internal pairs plus Bᵢ vs (index ∪ bands(B₁…Bᵢ₋₁))
  * — is exactly `nearDupAgainstIndex(index, B₁ ∪ … ∪ Bₙ)`: a cross-batch
  * pair (a ∈ Bᵢ, b ∈ Bⱼ, i < j) surfaces when Bⱼ arrives, oriented
  * (new = b, ref = a), where the one-shot batch orients it (min, max) —
  * hence the canonicalized comparison. Appending AFTER the audit keeps a
  * document from ever pairing with itself.
  *
  * Scale design: per micro-batch cost is the batch operator's — the
  * shard's bands are one map-side projection, the index side a bare
  * two-column parquet scan (no text, no MinHash), small batches
  * broadcast-promote under AQE. The append is the same `(id, band)`
  * projection written once, through the batch-id transaction log
  * ([[TxnSink]]): at-least-once delivery × idempotent isolated writes =
  * EXACTLY-ONCE visible index rows — a crash between append and
  * checkpoint commit can no longer duplicate bands in a store downstream
  * treats as ground truth (rows the batch-dedup semantics would survive,
  * but every audit would pay a phantom-cardinality index forever).
  * Ingest-rate sizing is direct: the loop keeps
  * up while (batch interval) > audit(batch) + append(batch).
  */
object StreamingNearDupIndex {

  /** The GROWN index: the standing corpus's flat parquet files at the
    * directory root (the batch build) plus every COMMITTED streaming
    * append ([[TxnSink]] — a half-appended batch is invisible here, so a
    * crashed run can never make a document pair against a partial copy
    * of a peer batch's bands). This is the store's only read path. */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val base = spark.read.parquet(indexDir)
    TxnSink.read(spark, indexDir).fold(base)(base.unionByName(_))
  }

  /** Audit a parquet document stream (AvailableNow) against — and fold it
    * into — the band index at `indexDir`; returns the accumulated
    * (new_id, ref_id) candidate pairs over all micro-batches. The index
    * directory must exist with at least one write (build it with
    * [[graft.ext.Dedup.nearDupBandIndex]] over the standing corpus).
    *
    * The streaming CHECKPOINT lives under the index directory
    * (`_graft_checkpoint` — underscore-prefixed, so parquet reads of the
    * index ignore it): the set of already-ingested files shares the
    * index's lifecycle. Without a durable checkpoint a second invocation
    * would re-read every file as new, audit each doc against an index
    * that already contains its OWN bands (self-pairs — downstream dedup
    * reads "drop this doc"), and append its bands a second time,
    * permanently duplicating index rows. With it, a re-run after new
    * files land processes exactly the new files. */
  def runToSnapshot(spark: SparkSession, docsDir: String, indexDir: String,
                    queryName: String = "stream_neardup_index",
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val raw = FileStream.parquet(spark, docsDir, maxFilesPerTrigger)
    // the no-arrival result: the audit over empty bands (this batch body
    // appends, so it cannot itself run on an empty frame)
    val noBands = Dedup.nearDupBandIndex(FileStream.emptyLike(raw), "doc_id", "text")
    FileStream.unionBatches(raw, Dedup.nearDupAuditBands(noBands, noBands, "doc_id"),
        Some(queryName), Some(s"$indexDir/_graft_checkpoint")) { (batch, batchId) =>
      // the index is RE-READ per batch: earlier batches' appends must
      // be visible (the fold is the point) — base + committed appends
      val index = readIndex(spark, indexDir)
      // the batch's bands are computed ONCE (kernel over the batch
      // text) and reused for both the audit and the append — and the
      // audit materializes BEFORE the append makes the batch visible
      // to itself
      val bands = Dedup.checkpointStripped(
        Dedup.nearDupBandIndex(batch, "doc_id", "text"))
      val audit = Dedup.nearDupAuditBands(index, bands, "doc_id").localCheckpoint(true)
      TxnSink.append(bands, indexDir, batchId)
      audit
    }.distinct()
  }
}
