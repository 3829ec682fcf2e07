package graft.etl

import java.sql.Date
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S5 (SURVEY.md §2.1): the processed-layer partitioned merge-write.
  *
  * Reference (`transform_lambda/main.py:327-399`): one NDJSON object per
  * auction date; if the object exists, existing + new are concatenated,
  * sorted by auction_date desc (stable → EXISTING wins ties), deduped
  * keep-first by auction_id, and rewritten.
  *
  * Spark formulation (no Delta on the classpath): date-partitioned Parquet +
  * dynamic partition overwrite. Only the partitions present in the incoming
  * batch are read back and rewritten — the same object-granularity
  * read-modify-write as the reference, which at 100 TB means a merge touches
  * O(batch dates), never the table root.
  */
object MergeWrite {

  val PartitionCol = "auction_saving_date"

  /** Entry-time orphan-sweep age gate for durable mode: a staging-shaped
    * sibling dir (`<table>__staging` or `<table>__staging_<suffix>`) is
    * deleted only when its modification time is at least this old — old
    * enough that it can only be the leftover of a dead run, never the
    * in-flight staging data of a live concurrent merge. One hour covers
    * any realistic staging write; tests pass 0 to force the sweep. */
  val DefaultStagingTtlMs: Long = 3600L * 1000

  /** Merge `batch` (silver schema, with auction_date) into the
    * date-partitioned Parquet table at `processedDir`, and return the
    * `auction_saving_date` partitions it rewrote: the batch's distinct
    * dates (`None` for the null partition of an unparseable auction_date),
    * gathered in one driver collect before the merge. [[inPartitions]] of
    * them is also the static partition filter on the existing table's
    * read, so only those partitions are read back.
    *
    * `durable` picks the lineage-cut strategy for the overwrite-what-you-
    * read problem (Spark cannot overwrite a path a plan is reading):
    *
    *  - `false` (default): eager `localCheckpoint` — merged partitions are
    *    materialized as EXECUTOR-LOCAL blocks, then written once. One
    *    write of the data; strictly better on local[n] and the right
    *    default for this harness. The failure window: on a real cluster,
    *    losing an executor between checkpoint and commit loses blocks
    *    whose lineage was just severed — the job dies. SAFE but not
    *    durable: dynamic overwrite commits per partition and the source
    *    batch still exists, so the merge is simply re-run.
    *  - `true`: staging-dir double write — the merged partitions are
    *    written to a sibling staging dir (a normal fault-tolerant Spark
    *    job that survives executor loss and re-runs lost tasks from
    *    lineage), re-read from DURABLE files, and only then overwritten
    *    into the table. Costs one extra write+read of the touched
    *    partitions (O(batch dates), never the table root) — the price of
    *    running the merge unattended on a 1000-executor cluster.
    */
  def mergeWrite(spark: SparkSession, processedDir: String, batch: DataFrame,
                 durable: Boolean = false,
                 stagingTtlMs: Long = DefaultStagingTtlMs): Seq[Option[Date]] = {
    val dated = batch.withColumn(PartitionCol, to_date(col("auction_date")))
    val touched = dated.select(PartitionCol).distinct().collect()
      .map(r => Option(r.getDate(0))).toSeq
    val merged =
      if (tableExists(spark, processedDir)) {
        val existing = readProcessed(spark, processedDir).filter(inPartitions(touched))
        // stable-sort parity: existing rows outrank new ones on date ties
        val tagged = existing.withColumn("_src_rank", lit(0))
          .unionByName(dated.withColumn("_src_rank", lit(1)), allowMissingColumns = true)
        val w = Window.partitionBy(col("auction_id"))
          .orderBy(col("auction_date").desc_nulls_last, col("_src_rank").asc,
            col("auction_url").asc_nulls_last)
        tagged.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn", "_src_rank")
      } else dated
    def overwriteInto(df: DataFrame): Unit = df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic") // never static-overwrite the root
      .partitionBy(PartitionCol)
      .parquet(processedDir)
    if (durable) {
      // staging-dir double write (see scaladoc): merged rows land on the
      // table's own filesystem first, so the final overwrite reads durable
      // files — an executor loss at any point only re-runs tasks.
      // UNIQUE staging path per run (UUID-suffixed): two mergeWrite calls
      // against the same table never share a staging dir, so a concurrent
      // run cannot delete/overwrite this run's in-flight staging data.
      // Orphans from a driver death between the staging write and the
      // finally block are cleaned by the entry-time sweep below, which is
      // AGE-GATED on the NEWEST file anywhere under the staging dir — not
      // the dir's own mtime, which is set at creation and does not track
      // an in-flight write (Spark tasks keep producing files under
      // _temporary, so a live write reads fresh however long it runs).
      // Only staging-shaped siblings whose newest content is older than
      // `stagingTtlMs` are deleted; nothing that isn't named like a
      // staging dir is ever considered. Object-store caveat: where mtimes
      // aren't meaningful, pair the sweep with an external lease — the
      // TTL gate is a filesystem-semantics convenience, not a lock.
      val root = processedDir.stripSuffix("/")
      val staging = new org.apache.hadoop.fs.Path(
        root + "__staging_" + java.util.UUID.randomUUID().toString)
      val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stagingName = ("""__staging(_[0-9a-fA-F-]+)?$""").r
      val now = System.currentTimeMillis()
      def newestMtime(p: org.apache.hadoop.fs.Path): Long =
        scala.util.Try {
          var m = fs.getFileStatus(p).getModificationTime
          val it = fs.listFiles(p, true)
          while (it.hasNext) m = math.max(m, it.next().getModificationTime)
          m
        }.getOrElse(now) // listing race (dir vanished mid-sweep) → leave it
      val stale = fs.globStatus(new org.apache.hadoop.fs.Path(root + "__staging*"))
      if (stale != null) stale
        .filter(s => stagingName.findFirstIn(s.getPath.getName).isDefined)
        .filter(s => now - newestMtime(s.getPath) >= stagingTtlMs)
        .foreach(s => fs.delete(s.getPath, true))
      try {
        merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
        overwriteInto(spark.read.parquet(staging.toString))
      } finally fs.delete(staging, true)
    } else {
      // eager localCheckpoint lineage cut (executor-local blocks): each
      // affected partition is written to the table exactly once
      overwriteInto(merged.localCheckpoint())
    }
    touched
  }

  def readProcessed(spark: SparkSession, processedDir: String): DataFrame =
    spark.read.parquet(processedDir)

  /** Rows in the `dates` partitions of the processed layer, `None` naming
    * the null partition (a plain `isin` never matches it, so a merge would
    * overwrite that partition without reading back its rows). */
  def inPartitions(dates: Seq[Option[Date]]): Column = {
    val in = col(PartitionCol).isin(dates.flatten: _*)
    if (dates.contains(None)) in || col(PartitionCol).isNull else in
  }

  private def tableExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    graft.util.TableDir.holdsData(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
}
