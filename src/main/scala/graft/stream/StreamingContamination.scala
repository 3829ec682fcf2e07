package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ext.SuffixArray

/** Streaming contamination audit — the arrival-time twin of
  * [[graft.ext.SuffixArray.auditShard]] (q187): corpus shards land as
  * files, each micro-batch is audited against the PERSISTED benchmark
  * suffix index, and the verdicts append to the report sink. This is the
  * exact deployment shape the incremental audit was built for (index once,
  * audit on ingest), so the streaming layer is `Trigger.AvailableNow` +
  * `foreachBatch` over the batch operator — no streaming fork of the audit
  * logic exists to drift.
  *
  * Semantics contract (IncrementalSpec: streamed ≡ batch): a document's
  * verdict depends only on (its own suffixes, the index) — the
  * [[graft.ext.SuffixArray.auditShard]] independence law — so ANY
  * partitioning of the corpus into micro-batches yields exactly the batch
  * audit of the union, row-for-row. No state, no watermark: the audit is
  * per-document, and the index side is static by design (a benchmark
  * release; rebuilding it is the explicit, rare event).
  *
  * Scale design: per micro-batch cost is the batch operator's —
  * one range shuffle of |batch| + |index|, bounded carries — and batches
  * bound |shard|, so ingest-rate sizing is direct: the audit keeps up as
  * long as (batch interval) > audit(batch size). The index frame is the
  * caller's (read once from parquet, reused across batches).
  */
object StreamingContamination {

  /** Audit a parquet document stream (AvailableNow) against `index`;
    * returns the accumulated per-doc report over all micro-batches.
    * `pruned = true` swaps in [[graft.ext.SuffixArray.auditShardPruned]]
    * (q190) — the shape a mostly-clean ingest wants, since each
    * micro-batch then ships only broadcast-surviving candidate suffixes
    * into its range shuffle; output-identical by the pruned ≡ unpruned
    * law, so the streamed ≡ batch contract is unchanged (IncrementalSpec
    * pins both flavors against the same batch audit). */
  def runToSnapshot(spark: SparkSession, docsDir: String, index: DataFrame,
                    minLen: Int, k: Int = 64,
                    queryName: String = "stream_contamination",
                    maxFilesPerTrigger: Option[Int] = None,
                    pruned: Boolean = false): DataFrame = {
    def audit(shard: DataFrame): DataFrame =
      if (pruned) SuffixArray.auditShardPruned(index, shard, "doc_id", "text", minLen, k)
      else SuffixArray.auditShard(index, shard, "doc_id", "text", minLen, k)
    val raw = FileStream.parquet(spark, docsDir, maxFilesPerTrigger)
    FileStream.unionBatches(raw, audit(FileStream.emptyLike(raw)), Some(queryName)) {
      (batch, _) => audit(batch)
    }
  }
}
