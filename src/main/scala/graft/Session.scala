package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession conf set: every main and the test session are built
  * here, so a query runs under the same plan rules whatever tool drives it.
  *
  *  - `local[cpus]`, `shuffle.partitions` = cpus;
  *  - UTC session time zone (epoch functions over TIMESTAMP_NTZ rely on it);
  *  - [[graft.functions.GraftExtensions]], installed by the session builder
  *    once per session;
  *  - `legacy.parquet.nanosAsLong`: events.parquet's ts is TIMESTAMP(NANOS),
  *    unreadable without it (`graft.util.Tables.load` converts the long);
  *  - a 5000-entry generated-class cache;
  *  - UI off, log level WARN.
  *
  * Two conf values are deliberately left at Spark's default:
  *  - AQE's 1 MB `coalescePartitions.minPartitionSize` floor. A session-wide
  *    cut to 16k was A/B-measured in r19 and REJECTED: it parallelized the
  *    CPU-dense demux stages (q214 2.5->1.4 s) but cost the action-latency-
  *    bound composed loads more than it saved (q44 5.9->7.9 s, q198
  *    4.6->6.0 s — more tasks and more output files per driver action).
  *    Demux parallelism comes from explicit repartitions in the blob builders
  *    instead (`WebQueries.groupedBlobs`), which AQE never coalesces.
  *  - the Java serializer. KryoSerializer for the RDD tier (CC/BFS/PageRank
  *    loops) was A/B-measured in r19 and REJECTED: -0.2 s net over ten
  *    loop-bound queries, inside noise — local-mode shuffles of these small
  *    Tuple2 frames are not serialization-bound. */
object Session {

  /** Cores for `local[cpus]`: `SPARK_GRAFT_CPUS`, default 4. */
  private val envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The session on `local[cpus]`; `conf` adds static settings that differ
    * per caller (the test session's temporary warehouse dir). */
  def local(cpus: Int = envCpus,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf, must be set before the session exists: the default
      // 100-entry generated-class cache thrashes on a 100+-query run (a
      // single composed load emits >100 codegen units, so even its OWN
      // second attempt recompiled everything — Janino time, not query time)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
