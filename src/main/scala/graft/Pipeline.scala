package graft

import org.apache.spark.sql.DataFrame
import graft.etl.MergeWrite
import graft.star.{StarLoad, Warehouse}

/** The load half of the reference's lambda chain for one batch, shared by
  * the batch driver ([[AuctionPipelineDemo]]) and the stream path
  * ([[graft.stream.Incremental]]).
  */
object Pipeline {

  /** Merges `silver` into the processed layer at `processedDir`, then star-
    * loads through `wh` (owned by the caller) what the processed layer KEPT
    * for the dates the merge touched — never the incoming batch itself, as
    * the reference's load Lambda reads back the processed objects the
    * transform just wrote (`load_lambda/main.py:139-142`). A row the merge
    * rejected (an older or same-time re-scrape of an auction) therefore never
    * reaches the U2 vehicle upsert, whose incoming row wins. A batch with no
    * rows loads nothing. */
  def ingest(wh: Warehouse, processedDir: String, silver: DataFrame): Unit = {
    val touched = MergeWrite.mergeWrite(wh.spark, processedDir, silver)
    if (touched.nonEmpty) StarLoad.run(wh, MergeWrite.readProcessed(wh.spark, processedDir)
      .filter(MergeWrite.inPartitions(touched)).drop(MergeWrite.PartitionCol))
  }
}
