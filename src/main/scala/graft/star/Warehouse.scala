package graft.star

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.util.TableDir

/** Parquet-backed warehouse: one directory per table under `dir`. Stands in
  * for the reference's Postgres schema (no JDBC target in this harness —
  * SURVEY.md §2.1 S6). Overwrites stage through a temp dir + rename so a
  * table can be rebuilt from a plan that reads it (vehicle_dim's U2 merge).
  */
final class Warehouse(val spark: SparkSession, val dir: String) {

  private def path(table: String) = new Path(s"$dir/$table")
  private def staged(table: String) = new Path(s"$dir/.${table}_tmp")
  private def aside(table: String) = new Path(s"$dir/.${table}_old")
  private def fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A table exists only if it holds data ([[TableDir.holdsData]]) — a dir
    * with just a `_SUCCESS` marker (an empty frame appended before the
    * table was ever loaded) or a killed write's `_temporary` would fail
    * schema inference. On a miss, an [[overwrite]] interrupted between its
    * renames is rolled back first. */
  def exists(table: String): Boolean = {
    val p = path(table)
    TableDir.holdsData(fs, p) ||
      (TableDir.rollBack(fs, p, staged(table), aside(table)) && TableDir.holdsData(fs, p))
  }

  // Table schemas as first inferred or last written: every
  // `spark.read.parquet` without a schema runs a one-task footer-inference
  // job, and a star load reads its tables ~13 times. Appends and partition
  // overwrites keep the columns, so they keep the entry; a full `overwrite`
  // records the schema it wrote. Per instance: a rewrite through another
  // Warehouse on the same dir is not seen.
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** Reads `table`, passing its remembered schema after the first read. */
  def read(table: String): DataFrame = {
    val p = path(table).toString
    schemas.get(table) match {
      case Some(s) => spark.read.schema(s).parquet(p)
      case None =>
        val df = spark.read.parquet(p)
        schemas.putIfAbsent(table, df.schema)
        df
    }
  }

  def readIfExists(table: String): Option[DataFrame] =
    if (exists(table)) Some(read(table)) else None

  // Small-dim read cache: one star load scans each lookup dim at several
  // join sites (resolution joins, anti-joins, maxId aggs). Caching makes
  // that one parquet scan + in-memory reuse per load; any write to the
  // table invalidates. Only true lookup dims belong here — fact-scale
  // tables (vehicle_dim, auction_fact, staging) must use `read`.
  private val dimCache = scala.collection.mutable.Map.empty[String, DataFrame]

  def readCached(table: String): DataFrame = synchronized {
    dimCache.getOrElseUpdate(table,
      read(table).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  def readIfExistsCached(table: String): Option[DataFrame] =
    if (exists(table)) Some(readCached(table)) else None

  private def invalidate(table: String): Unit = synchronized {
    dimCache.remove(table).foreach(_.unpersist())
    maxIds.remove(table)
    ()
  }

  /** Release every block this Warehouse pinned in the session: the
    * persisted dim caches. Without this, a temp warehouse that goes out of
    * scope leaks its storage blocks until a JVM GC cycle lets Spark's
    * ContextCleaner reap them — across a long session of many composed
    * loads that is a storage-memory leak that evicts LIVE caches mid-query.
    * Reads after close still work (the cache repopulates on demand). */
  def close(): Unit = synchronized {
    dimCache.valuesIterator.foreach(_.unpersist())
    dimCache.clear()
  }

  // Surrogate-id high-water marks: an incremental load re-derives each dim's
  // max(id) as a scalar agg — one driver action per dim per load. The
  // insert-only path KNOWS the new max (old max + rows appended), so it
  // records it and the next load skips the agg. Any other write to the table
  // drops the entry (computed lazily again).
  private val maxIds = scala.collection.mutable.Map.empty[String, Long]

  /** Cached max surrogate id for `table`, computing via `compute` on miss. */
  private[graft] def cachedMaxId(table: String)(compute: => Long): Long = {
    synchronized(maxIds.get(table)) match {
      case Some(v) => v
      case None =>
        val v = compute
        synchronized { maxIds(table) = v }
        v
    }
  }

  /** Record the known max id after an append of contiguous fresh ids. */
  private[graft] def recordMaxId(table: String, v: Long): Unit =
    synchronized { maxIds(table) = v }

  /** The cached high-water mark if known — lets batch callers fuse ALL
    * their miss computations into one action instead of one scalar agg per
    * table ([[Dims.loadSimpleDimsFused]]). */
  private[graft] def peekMaxId(table: String): Option[Long] =
    synchronized(maxIds.get(table))

  /** Append new rows (the U1 insert-only path — callers anti-join first),
    * after dropping a killed write's `_temporary` ([[TableDir.dropDeadWrite]]). */
  def append(table: String, df: DataFrame): Unit = {
    TableDir.dropDeadWrite(fs, path(table))
    df.write.mode(SaveMode.Append).parquet(path(table).toString)
    invalidate(table)
  }

  /** Append + row count in ONE action: an [[org.apache.spark.sql.Observation]]
    * on the write plan counts rows as they stream to the files. Replaces the
    * count-then-append double action — each of which re-runs the full input
    * plan (anti-join, resolution joins) at warehouse scale — and removes the
    * need to persist the input just to keep the two actions consistent.
    * Appending zero rows is safe but not free: Spark writes a schema-bearing
    * empty part file (so a table created by an empty append is readable with
    * zero rows, and [[exists]] guards against _SUCCESS-only dirs), and the
    * write still drops the table's read cache. Callers that know the delta
    * is empty ([[Dims.loadSimpleDimsFused]]) skip the append instead. */
  def appendCounted(table: String, df: DataFrame): Long = {
    TableDir.dropDeadWrite(fs, path(table))
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.mode(SaveMode.Append).parquet(path(table).toString)
    invalidate(table)
    obs.get("n").asInstanceOf[Long]
  }

  /** Full rewrite via a staged dir and [[TableDir.publish]] (safe when `df`'s
    * plan reads the table being replaced): the no-table window is two
    * metadata renames, not a recursive delete, and a crash mid-swap leaves
    * the previous data at `.<table>_old`, where [[exists]] rolls it back.
    * Remembers `df`'s schema as Parquet reads it back (every column
    * nullable), so the next [[read]] infers nothing. */
  def overwrite(table: String, df: DataFrame): Unit =
    overwriteWithProbe(table, df, _ => ())

  /** [[overwrite]] with a step-boundary callback so specs can assert the
    * table stays visible across the swap: "staged" once the new data is
    * written beside the table, "published" once [[TableDir.publish]] has
    * swapped it in and dropped the aside copy. */
  private[graft] def overwriteWithProbe(table: String, df: DataFrame,
                                        probe: String => Unit): Unit = {
    df.write.mode(SaveMode.Overwrite).parquet(staged(table).toString)
    probe("staged")
    TableDir.publish(fs, path(table), staged(table), aside(table))
    schemas.put(table, df.schema.toNullable)
    invalidate(table)
    probe("published")
  }

  /** Rewrite ONLY the partitions present in `df` (dynamic partition
    * overwrite) — files in untouched partitions are left as-is, so a keyed
    * upsert costs O(affected partitions), not O(table). The incoming plan may
    * read the target table itself: lineage is cut with an eager
    * `localCheckpoint` (executor-local blocks) instead of a staging-dir
    * round-trip, so the merged data is written to the table exactly once. */
  def overwritePartitions(table: String, df: DataFrame, partitionCol: String): Unit = {
    df.localCheckpoint().write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path(table).toString)
    invalidate(table)
  }
}
