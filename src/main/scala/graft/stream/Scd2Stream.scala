package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.ext.Scd

/** SCD Type-2 maintenance as a streaming sink: each micro-batch of
  * dimension updates merges into a parquet-backed version history via
  * [[Scd.scd2Merge]], with the micro-batch id (+1) as the validity clock —
  * the CDC-consumer shape of the batch operator (a Debezium-style feed of
  * changed dimension rows landing as files).
  *
  * Failure/replay semantics: Structured Streaming re-delivers a batch under
  * the SAME batch id after a crash-before-commit, and the merge is
  * idempotent under re-delivery — re-merging rows that already became the
  * current version is a no-op (attrs equal → no change), so the state
  * converges. The state write is staged-then-swapped, so readers (and the
  * next batch's merge) never see a half-written state.
  */
object Scd2Stream {

  /** Process every update file currently in `updatesDir` (parquet, schema
    * `schema`: key + attrs), merging each micro-batch into the SCD2 state
    * at `stateDir`. `maxFilesPerTrigger = Some(1)` gives per-file batches —
    * the deterministic-replay configuration the spec exercises. */
  def runAvailableNow(spark: SparkSession, updatesDir: String,
                      schema: StructType, stateDir: String,
                      checkpointDir: String, keyCol: String,
                      attrCols: Seq[String],
                      maxFilesPerTrigger: Option[Int] = None): Unit = {
    FileStream.foreachBatch(FileStream.parquet(spark, updatesDir, schema, maxFilesPerTrigger),
        checkpointDir = Some(checkpointDir)) { (batch, batchId) =>
      val merged = Scd.scd2Merge(readState(spark, stateDir, batch, keyCol, attrCols),
        batch, keyCol, attrCols, batchId + 1)
      publish(spark, stateDir, merged)
    }
  }

  /** Current state, or an empty zero-version state derived from the batch
    * schema on first contact. */
  def readState(spark: SparkSession, stateDir: String, batch: DataFrame,
                keyCol: String, attrCols: Seq[String]): DataFrame = {
    recoverIfInterrupted(spark, stateDir)
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(stateDir)
    else Scd.scd2Init(batch.limit(0), keyCol, attrCols, 0L)
  }

  /** Single-writer crash recovery (same contract as
    * [[MvStream.recoverIfInterrupted]]): a crash between [[publish]]'s two
    * renames leaves the primary missing with the previous history parked at
    * `._scd2_old`; reading "missing" as "empty" would drop the whole SCD2
    * history, so roll the `_old` dir back and let the re-delivered batch
    * re-merge (idempotent — attrs equal is a no-op). */
  private def recoverIfInterrupted(spark: SparkSession, stateDir: String): Unit = {
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(stateDir.stripSuffix("/") + "._scd2_old")
    if (!fs.exists(p) && fs.exists(old)) {
      require(fs.rename(old, p), s"scd2: could not roll back $old")
      fs.delete(new Path(stateDir.stripSuffix("/") + "._scd2_tmp"), true)
    }
  }

  /** Stage-and-swap overwrite: the merge READS the state it replaces, so a
    * direct overwrite would truncate its own input mid-plan; the rename
    * publishes only a fully-committed state (same idiom as
    * [[graft.etl.Compact]]). */
  private def publish(spark: SparkSession, stateDir: String, df: DataFrame): Unit = {
    val staged = stateDir.stripSuffix("/") + "._scd2_tmp"
    df.write.mode(SaveMode.Overwrite).parquet(staged)
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val old = new Path(stateDir.stripSuffix("/") + "._scd2_old")
      fs.delete(old, true)
      require(fs.rename(p, old), s"scd2: could not move $stateDir aside")
      require(fs.rename(new Path(staged), p), s"scd2: could not publish $staged")
      fs.delete(old, true)
    } else {
      require(fs.rename(new Path(staged), p), s"scd2: could not publish $staged")
    }
  }
}
