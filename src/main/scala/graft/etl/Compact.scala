package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import graft.util.TableDir

/** Small-file compaction for parquet tables — the table-maintenance
  * operator every incremental sink eventually needs: repeated merge-writes
  * and micro-batch appends leave partitions holding many sliver files, and
  * at 100 TB the scan-side cost is per-FILE (open + footer + scheduler
  * task), not per-byte. Compaction rewrites a table's data into
  * `maxRecordsPerFile`-bounded files without changing its rows.
  *
  * Shape: read → AQE REBALANCE hint → write to a staging dir → atomic
  * directory swap. REBALANCE (not `coalesce`, not fixed `repartition`)
  * lets AQE size the output splits from the observed shuffle stats —
  * `coalesce(n)` merges without a shuffle but inherits upstream skew and
  * caps parallelism at n for the read too; a fixed `repartition(n)` needs
  * the row count known in advance (an extra action at best, a guess at
  * worst). Partition columns are preserved (`partitionBy` on the observed
  * partition spec), and only the swap ([[TableDir.publish]]) is
  * non-concurrent — the rewrite itself never blocks readers of the old
  * files. A run that crashed mid-swap is rolled back on the next run.
  */
object Compact {

  /** @return (files before, files after) under `dir` (data files only). */
  def compact(spark: SparkSession, dir: String,
              maxRecordsPerFile: Long,
              partitionCols: Seq[String] = Nil): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (staged, aside) = TableDir.siblings(p, "compact")
    TableDir.rollBack(fs, p, staged, aside)
    val before = dataFileCount(spark, dir)
    val df = spark.read.parquet(dir)
    val writer = df.hint("rebalance", partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(staged.toString)
    TableDir.publish(fs, p, staged, aside)
    (before, dataFileCount(spark, dir))
  }

  /** Number of parquet data files under `dir` (recursive, metadata
    * excluded). */
  def dataFileCount(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }
}
