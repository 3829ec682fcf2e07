package graft.stream

import org.apache.spark.sql.SparkSession
import graft.Pipeline
import graft.etl.{Flatten, MergeWrite, Silver}
import graft.star.Warehouse

/** §2.9: the reference's file-arrival micro-batches (S3 ObjectCreated → one
  * state-machine run per object) as Structured Streaming —
  * `Trigger.AvailableNow` + `foreachBatch` merge into the processed layer
  * through the S5 keep-newest merge, the same step as the batch path.
  */
object Incremental {

  /** Process every raw file currently in `rawDir` (wholetext JSON, either
    * envelope), then stop — the AvailableNow analog of the reference's
    * per-object trigger. Returns once all available input is merged. When
    * `warehouseDir` is given, each micro-batch runs [[Pipeline.ingest]]
    * (the reference's full lambda chain raw → processed → warehouse) through
    * one [[Warehouse]] held for the whole drain and closed at its end.
    *
    * The rule that makes the stream and the batch path agree: the warehouse
    * loads the processed layer's kept rows for the dates a micro-batch
    * touched. A late correction wins only where the merge keeps it (a newer
    * `auction_date`; on a tie the existing row stays), so a stream of files
    * leaves the same processed layer and star as the same files loaded one
    * by one through the batch step. */
  def runAvailableNow(spark: SparkSession, rawDir: String, processedDir: String,
                      checkpointDir: String, warehouseDir: Option[String] = None): Unit = {
    val raw = spark.readStream
      .option("wholetext", "true")
      .text(rawDir)
    val wh = warehouseDir.map(new Warehouse(spark, _))
    try FileStream.foreachBatch(raw, checkpointDir = Some(checkpointDir)) { (batch, _) =>
      val silver = Silver.run(Flatten.bronze(batch))
      wh match {
        case Some(w) => Pipeline.ingest(w, processedDir, silver)
        case None => MergeWrite.mergeWrite(spark, processedDir, silver)
      }
    } finally wh.foreach(_.close())
  }
}
