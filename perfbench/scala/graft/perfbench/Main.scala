package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Flatten, MergeWrite, Silver, Validate}
import graft.sources.TextSources
import graft.star.{StarLoad, Warehouse}

/** The benchmark process: one client thread drives one in-process
  * `local[nproc]` session in a closed loop (the next op starts when the
  * previous one returns) and writes what it measured as JSON for `run.py`.
  *
  * Usage (run.py builds this command line):
  *   Main --workload W --seconds S --trace 0|1 --data DIR --work DIR
  *        --out FILE --t0 EPOCH_MS [--queries q1,q2,...]
  *
  * `--t0` is when the benchmark began setting up (before input
  * generation), so `setup_s` runs from there to the first timed op.
  */
object Main {

  final case class Op(name: String, s: Double, cpuS: Double, ok: Boolean, err: String)

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val work = a("work")
    val t0Ms = a("t0").toLong
    val spark = session(work)
    val tracer = new Tracer(spark, a("trace") == "1")
    val out = mutable.LinkedHashMap.empty[String, Any]
    val ops = ArrayBuffer.empty[Op]
    var setupS = 0.0
    // the window stays open while the timed ops add up to less than
    // `seconds`, and until two units (ingest ops, or passes of a query list)
    // are done, so one slow first unit does not leave a single sample
    def windowOpen(unitsDone: Int) = unitsDone < 2 || ops.map(_.s).sum < seconds

    /** Times `op` and records it; a thrown op counts as failed, never as a
      * timing. The window starts on a collected heap, so the warm-up's
      * garbage is not collected inside a timed op. Returns whether it
      * succeeded. */
    def timed(name: String)(op: => Unit): Boolean = {
      if (ops.isEmpty) {
        heldMb()
        setupS = (System.currentTimeMillis() - t0Ms) / 1e3
      }
      val (c0, n0) = (Clocks.cpuNs, System.nanoTime())
      val err = try { op; "" } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      val s = (System.nanoTime() - n0) / 1e9
      ops += Op(name, s, (Clocks.cpuNs - c0) / 1e9, err.isEmpty, err)
      err.isEmpty
    }

    if (workload == "ingest_batches") {
      val ingest = new Ingest(spark, tracer, a("data"), work)
      val truth = ingest.truth
      val warm = ingest.warmupBatches
      // untimed warm-up: the initial load, then incremental loads. A failed
      // warm-up batch leaves the layers wrong, so the check below fails
      // every timed op; it does not end the run.
      var warmErr = ""
      out("warmup_s") = truth.take(warm).map { b =>
        val n0 = System.nanoTime()
        try ingest.run(b)
        catch { case e: Throwable => if (warmErr.isEmpty) warmErr = s"warm-up ${b.name}: $e" }
        (System.nanoTime() - n0) / 1e9
      }
      tracer.clear()
      var i = warm
      while (i < truth.size && windowOpen(i - warm)) {
        val b = truth(i)
        timed(b.name)(ingest.run(b))
        i += 1
      }
      // output check after the window: every layer's state equals the
      // generator's ground truth; a mismatch fails every timed op, since
      // the state is cumulative and the check cannot tell which op broke it
      val bad = Seq(warmErr).filter(_.nonEmpty) ++
        (try ingest.check(truth.slice(warm, i)) catch { case e: Throwable => Seq(s"check: $e") })
      if (bad.nonEmpty) for (k <- ops.indices)
        ops(k) = ops(k).copy(ok = false, err = (ops(k).err +: bad).filter(_.nonEmpty).mkString("; "))
      out("rows_committed") = truth.slice(warm, i).zip(ops).collect {
        case (b, op) if op.ok => (b.records - b.rescrape).toDouble
      }.sum
    } else {
      val names = a("queries").split(",").toIndexedSeq
      val fns = SparkEntry.queries
      val warm = ArrayBuffer.empty[Double]
      def untimed(n: String)(body: => Unit): Boolean = {
        val n0 = System.nanoTime()
        try { body; true }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] $n failed in warm-up: ${e.getMessage}")
          false
        } finally {
          quiesce(spark)
          warm += (System.nanoTime() - n0) / 1e9
        }
      }
      // untimed warm-up pass, which is also the correctness dump the oracle
      // check reads: each result written once as parquet
      val dumpFailed = names.filterNot(n => untimed(n)(
        fns(n)(spark, a("data")).write.mode("overwrite").parquet(s"$work/verify/$n")))
      // a second warm-up pass, in the timed form: after one pass the JIT
      // was still compiling the hot paths, and how far it got varied from
      // run to run (curation_heavy latency_s 1.2 vs 1.7 s)
      names.filterNot(dumpFailed.contains).foreach(n => untimed(n)(
        fns(n)(spark, a("data")).write.format("noop").mode("overwrite").save()))
      out("warmup_s") = warm.toSeq
      out("dump_failed") = dumpFailed
      json.writeValue(new File(s"$work/verify/oracle_sql.json"),
        names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
      // whole passes over the (seed-ordered) list until the window closes
      var passes = 0
      while (windowOpen(passes)) {
        passes += 1
        names.foreach { n =>
          timed(n) {
            tracer.span("query", "op") {
              val df = tracer.span("queries.build", "build")(tracer.planned(fns(n)(spark, a("data"))))
              tracer.span("queries.execute", "execute")(
                df.write.format("noop").mode("overwrite").save())
            }
          }
          quiesce(spark)
        }
      }
    }

    // after the window and the ingest check (whose results are not kept)
    out("held_mb") = heldMb()
    out("setup_s") = setupS
    out("rss_hwm_mb") = rssHwmMb
    out("ops") = ops.toSeq.map(o =>
      Map("name" -> o.name, "s" -> o.s, "cpu_s" -> o.cpuS, "ok" -> o.ok, "err" -> o.err))
    if (tracer.enabled) {
      val cs = tracer.counters()
      out("spans") = tracer.allSpans.sortBy(_.id).map(s => Map(
        "id" -> s.id, "op" -> s.op, "parent" -> s.parent, "name" -> s.name, "role" -> s.role,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ cs(s.id).toMap)
    }
    json.writeValue(new File(a("out")), out)
    spark.stop()
    sys.exit(0)
  }

  /** The engine conf of the repository's bench, fixed here: no environment
    * overrides. Scratch state lives under `work`. */
  def session(work: String): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors.toString
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drops blocks a finished op left persisted, so one op's cache does not
    * pin memory under the next. Untimed. */
  def quiesce(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Memory the program holds: the used bytes of every memory pool (the
    * heap after a full collection, plus metaspace and code cache), in MB.
    * Unlike RSS it does not follow how far the heap happened to grow.
    * Spark frees the blocks of collected frames asynchronously (broadcasts,
    * shuffles, unpersisted caches), so it collects until the figure settles. */
  def heldMb(): Double = {
    def collected(): Long = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala.map(_.getUsage.getUsed).sum
    }
    var (prev, cur, rounds) = (Long.MaxValue, collected(), 1)
    while (rounds < 10 && prev - cur > (1L << 20)) {
      Thread.sleep(200)
      prev = cur
      cur = collected()
      rounds += 1
    }
    cur / 1048576.0
  }

  /** VmHWM of this process, in MB. */
  def rssHwmMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** One ingest op: a raw batch taken from file to visible fact. */
final class Ingest(spark: SparkSession, tracer: Tracer, data: String, work: String) {
  import Ingest._

  private val truthJson = Main.json.readTree(new File(s"$data/truth.json"))
  /** Batches the generator loads before the timed window. */
  val warmupBatches: Int = truthJson.get("warmup_batches").asInt
  val truth: IndexedSeq[Batch] = truthJson.get("batches").elements.asScala.map { b =>
    def n(k: String) = b.get(k).asLong
    Batch(b.get("batch").asText, n("records"), n("rescrape"), n("processed_rows"),
      n("fact_rows"), n("vehicle_rows"), n("processed_views"), n("fact_views"),
      n("vehicle_mileage"), b.get("dates").elements.asScala.map(_.asText).toSeq)
  }.toIndexedSeq
  private val processed = s"$work/processed"
  private val wh = new Warehouse(spark, s"$work/warehouse")

  def run(b: Batch): Unit = tracer.span("ingest.batch", "op") {
    val bronze = tracer.span("etl.flatten", "build")(
      tracer.planned(Flatten.bronze(spark, s"$data/${b.name}")))
    tracer.span("etl.rescrape", "execute")(
      TextSources.writeUrlList(Validate.rescrapeUrls(bronze), s"$work/rescrape/${b.name}"))
    val silver = tracer.span("etl.silver", "build")(tracer.planned(Silver.run(bronze)))
    tracer.span("etl.merge_write", "execute")(MergeWrite.mergeWrite(spark, processed, silver))
    // the load reads back the day partitions this batch wrote
    val fresh = tracer.span("etl.read_processed", "build")(tracer.planned(
      MergeWrite.readProcessed(spark, processed)
        .filter(col(MergeWrite.PartitionCol).isin(b.dates: _*))
        .drop(MergeWrite.PartitionCol)))
    tracer.span("star.load", "execute")(StarLoad.run(wh, fresh))
  }

  /** Compares the layers' state after the last of `batches` (and each
    * batch's rescrape list) with the generator's ground truth; returns the
    * mismatches. */
  def check(batches: Seq[Batch]): Seq[String] = batches.lastOption.toSeq.flatMap { last =>
    def pair(df: org.apache.spark.sql.DataFrame, c: String): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(sum(col(c)), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val rescrape = batches.map(b =>
      (s"rescrape[${b.name}]", TextSources.readUrlList(spark, s"$work/rescrape/${b.name}").count(), b.rescrape))
    val (pRows, pViews) = pair(MergeWrite.readProcessed(spark, processed), "view_count")
    val (fRows, fViews) = pair(wh.read("auction_fact"), "view_count")
    val (vRows, vMiles) = pair(wh.read("vehicle_dim"), "mileage")
    (rescrape ++ Seq(
      ("processed_rows", pRows, last.processedRows), ("processed_views", pViews, last.processedViews),
      ("fact_rows", fRows, last.factRows), ("fact_views", fViews, last.factViews),
      ("vehicle_rows", vRows, last.vehicleRows), ("vehicle_mileage", vMiles, last.vehicleMileage),
    )).collect { case (k, got, want) if got != want => s"$k=$got want $want" }
  }
}

object Ingest {
  final case class Batch(name: String, records: Long, rescrape: Long,
                         processedRows: Long, factRows: Long, vehicleRows: Long,
                         processedViews: Long, factViews: Long, vehicleMileage: Long,
                         dates: Seq[String])
}
