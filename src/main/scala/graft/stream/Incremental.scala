package graft.stream

import org.apache.spark.sql.SparkSession
import graft.etl.{Flatten, MergeWrite, Silver}
import graft.star.{StarLoad, Warehouse}

/** §2.9: the reference's file-arrival micro-batches (S3 ObjectCreated → one
  * state-machine run per object) as Structured Streaming —
  * `Trigger.AvailableNow` + `foreachBatch` merge into the processed layer.
  * Late/duplicate records upsert via the S5 keep-newest merge, exactly the
  * reference's correction-loop semantics (re-scraped auctions win).
  */
object Incremental {

  /** Process every raw file currently in `rawDir` (wholetext JSON, either
    * envelope), then stop — the AvailableNow analog of the reference's
    * per-object trigger. Returns once all available input is merged; when
    * `warehouseDir` is given, each micro-batch also runs the star load (the
    * reference's full lambda chain raw → processed → warehouse). Per-batch
    * star loads are safe because every load step is idempotent — dims are
    * insert-only-new (U1), vehicle_dim is a keyed upsert (U2), the fact is
    * insert-only (U1) — so replays and late corrections converge. */
  def runAvailableNow(spark: SparkSession, rawDir: String, processedDir: String,
                      checkpointDir: String, warehouseDir: Option[String] = None): Unit = {
    import spark.implicits._
    val raw = spark.readStream
      .option("wholetext", "true")
      .text(rawDir)
    FileStream.foreachBatch(raw, checkpointDir = Some(checkpointDir)) { (batch, _) =>
      // Flatten expects the wholetext frame shape (one row per file).
      val bronze = Flatten.normalizeNames(Flatten.flatten(
        Flatten.parseEnvelopes(batch.select($"value"))))
      val silver = Silver.run(bronze)
      MergeWrite.mergeWrite(spark, processedDir, silver)
      warehouseDir.foreach { wd =>
        StarLoad.run(new Warehouse(spark, wd), silver)
      }
    }
  }
}
