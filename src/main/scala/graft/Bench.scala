package graft
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
object Bench {
  /** One timed attempt of a query: wall seconds, the error message when it
    * threw, and its gc, process-cpu and jit seconds and machine steal %. */
  private[graft] final case class Attempt(wall: Double, err: Option[String],
      gc: Double, cpu: Double, steal: Double, jit: Double)

  /** A query's record: the reported attempt (wall −1 when none succeeded),
    * the first attempt's error when none succeeded, code-cache MB in use at
    * query end, every attempt in order, and whether the reported min came
    * from the contended fallback. */
  private[graft] final case class Run(name: String, best: Attempt,
      err: Option[String], codeCacheMb: Double, attempts: Seq[Attempt],
      contended: Boolean)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // untimed warmup: session/codegen/JIT bootstrap is not query cost —
    // without it the first query absorbs ~5s of one-time initialization
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = spark.read.parquet(s"$sfDir/region.parquet").limit(5)
      w.join(broadcast(w.select(col("r_regionkey").as("k"))),
          col("r_regionkey") === col("k"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("r_regionkey")).orderBy(col("k"))))
        .count()
      // typed-Aggregator (ObjectHashAggregate) serde bootstrap: the sketch
      // queries' per-attempt jit tail (NOTES r11, q108) is compile latency
      // on the ScalaUDAF/ExpressionEncoder path — burn those classes here,
      // on 5 rows, before any timed window
      graft.ext.Sketch.kmvRollup(w, "r_name", "r_regionkey", k = 8).count()
    } catch { case _: Throwable => () }
    // a failed query must surface as an error, never as a fast timing.
    // Each query runs twice and reports the min: single-run numbers at this
    // scale are dominated by page-cache/first-scanner noise (±0.5 s), which
    // drowned real plan deltas in round-over-round comparisons.
    // `noop`-format write, NOT count(): a count lets Catalyst prune every
    // unevaluated projection, so map-only expression queries would be timed
    // as bare row-count scans. The noop sink consumes full rows — the bench
    // times what the verify path actually executes. (Levels shifted up vs
    // r3 for projection-only queries; see NOTES.md.)
    // optional comma-separated query filter for local iteration, e.g.
    // SPARK_GRAFT_ONLY=q44_star_load — the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // per-query UNTIMED warmup AT THE BENCH SF (r10, VERDICT #1): the r9
    // sf0.001 warmup halved but did not remove in-window JIT for the
    // composed loads (BENCH_r09: q44 jit=21.0s, q49 16.5s inside the timed
    // windows) because the warm plan must BE the timed plan — at tiny SF
    // AQE picks different join/stage shapes, and queries that embed
    // data-derived literals (collected centroids, sampled caps) generate
    // different codegen SOURCE entirely, so Janino compiles classes the
    // sf0.1 attempts never reuse. Warming at the bench SF runs the exact
    // plan once, untimed (attempt 0, discarded): codegen-class compilation,
    // tiered-JIT seeding and page-cache priming all land before the clock
    // starts. Costs one extra execution per query — untimed, and partly
    // repaid because the adaptive re-attempt rule fires far less often when
    // attempt 1 is already steady-state.
    // UNTIMED inter-query hygiene, so query N's cost never bleeds into
    // query N+1's number (the cross-query contamination that made one
    // composed load 2× slower at position 50 of a full run than isolated):
    // drop every persisted RDD left over from the previous query — each
    // query builds its state from scratch, so at a query boundary every
    // still-persisted block (localCheckpoints, persists whose owner went
    // out of scope) is garbage that would otherwise pin storage memory
    // until a GC cycle lets the ContextCleaner reap it — then one explicit
    // GC so weak-ref cleanup and finalization run now, not mid-measurement.
    def quiesce(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      System.gc()
    }
    val runs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // total JVM GC wall across all collectors — per-query deltas are the
      // first thing to read when a driver-box number diverges from a local
      // one (the r7 story): a query whose gc share explains the gap is a
      // heap/contamination problem, not a plan problem
      def gcMillis: Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
      }
      // process CPU + machine steal around each attempt: a query whose wall
      // time inflates while its cpu/wall ratio collapses and steal_pct
      // rises is being starved by a co-tenant VM, not by its plan — the
      // one divergence mechanism gc telemetry can't see (r8: same code,
      // same box spec, 2× wall swings with gc ≈ 0 and vmstat steal 7–12%)
      def procCpuNanos: Long =
        java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
          case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
          case _ => -1L
        }
      // cumulative JIT compilation millis + JIT code-cache bytes in use: a
      // LATE query whose jit delta spikes while codecache sits at the
      // reserved ceiling is being hit by code-cache flushing (compiled
      // methods evicted -> interpreted re-runs -> recompilation churn) —
      // the r8 full-run-only 3-11x CPU blowups, invisible to gc/steal
      def jitMillis: Long =
        Option(java.lang.management.ManagementFactory.getCompilationMXBean)
          .map(_.getTotalCompilationTime).getOrElse(-1L)
      def codeCacheMb: Double = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getName.startsWith("CodeHeap"))
          .map(_.getUsage.getUsed).sum / 1e6
      }
      // (stealTicks, totalTicks) from /proc/stat's aggregate cpu line
      def cpuTicks: (Long, Long) = try {
        val f = scala.io.Source.fromFile("/proc/stat")
        val l = try f.getLines().next().trim.split("\\s+") finally f.close()
        val nums = l.drop(1).map(_.toLong)
        (if (nums.length > 7) nums(7) else -1L, nums.sum)
      } catch { case _: Throwable => (-1L, -1L) }
      // attempt 0: one untimed pass of the plan the timed attempts will run
      // (see the warmup note above); its debris is cleared by the attempt-1
      // quiesce
      spark.sparkContext.setJobDescription(s"$name#warmup")
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      def runAttempt(attempt: Int): Attempt = {
        // quiesce on QUERY boundaries only (attempt 1): that is where the
        // contamination vector lives — attempt 2 then measures steady
        // state, because an earlier A/B showed the gc's concurrent
        // aftershocks + async block removals land inside the next timed
        // region (~15% on composed loads on an unpressured box)
        if (attempt == 1) quiesce()
        // attribute every job of this attempt in the Spark event log / UI —
        // post-hoc per-query stage forensics (the r8 full-run-only CPU
        // blowups were only diagnosable by diffing a query's stage metrics
        // between a full run and an isolated one)
        spark.sparkContext.setJobDescription(s"$name#$attempt")
        val g0 = gcMillis
        val c0 = procCpuNanos
        val j0 = jitMillis
        val (s0, k0) = cpuTicks
        val t0 = System.nanoTime()
        val err = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None
        } catch {
          case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = if (c0 < 0) -1.0 else (procCpuNanos - c0) / 1e9
        val jit = if (j0 < 0) -1.0 else (jitMillis - j0) / 1e3
        val (s1, k1) = cpuTicks
        val steal = if (s0 < 0 || k1 <= k0) -1.0 else 100.0 * (s1 - s0) / (k1 - k0)
        Attempt(wall, err, (gcMillis - g0) / 1e3, cpu, steal, jit)
      }
      // adaptive attempts (r9, VERDICT #2b): min-of-2 is blind when BOTH
      // attempts sit inside a compile/contention storm — keep re-running
      // while the newest attempt improves the min-so-far by >20%, cap 4,
      // so one bad epoch can never be the reported floor. Errors stop the
      // loop after the second attempt exactly as min-of-2 did.
      val attempts = scala.collection.mutable.ArrayBuffer.empty[Attempt]
      var go = true
      while (go && attempts.length < 4) {
        val a = runAttempt(attempts.length + 1)
        attempts += a
        val walls = attempts.filter(_.err.isEmpty).map(_.wall)
        go = if (attempts.length < 2) true
             else if (a.err.isDefined || walls.length < 2) false
             else walls.last < 0.8 * walls.dropRight(1).min
      }
      val ccMb = codeCacheMb
      val ok = attempts.filter(_.err.isEmpty)
      // steal-aware min (r15 verdict #4): two rounds of steal-poisoned
      // epochs showed "wait for a quiet box" is not a strategy. Prefer the
      // min over attempts that ran at < 1% machine steal; only when NO
      // attempt was clean fall back to the global min and flag the query
      // `contended` so the number is visibly not like-for-like. Steal −1
      // means /proc/stat was unreadable — unknown, not contended: such
      // attempts stay eligible only for the fallback. Attempt counts,
      // warmup and the adaptive re-run rule are unchanged (the harness
      // stays comparable round-over-round).
      val clean = ok.filter(a => a.steal >= 0 && a.steal < 1.0)
      // r17 verdict nit: the <1% threshold is binary, so a barely-clean
      // SLOW attempt (e.g. q166's 7.06 s at 0.50% steal, with a 2.27 s
      // attempt at 1.39% in the same run) could masquerade as a
      // regression. When the clean min exceeds 2× the global min, the
      // clean label is doing more harm than the steal it guards against:
      // report the global min and flag `contended` so the number is
      // visibly not like-for-like.
      val cleanBest = clean.minByOption(_.wall)
      val globalBest = ok.minByOption(_.wall)
      val best = (cleanBest, globalBest) match {
        case (Some(c), Some(g)) if c.wall > 2.0 * g.wall => g
        case (Some(c), _) => c
        case (_, Some(g)) => g
        case _ => Attempt(-1.0, None, 0.0, -1.0, -1.0, -1.0)
      }
      val contended = ok.nonEmpty &&
        ((clean.isEmpty && ok.exists(_.steal >= 1.0)) ||
          cleanBest.exists(c => globalBest.exists(g => c.wall > 2.0 * g.wall)))
      // every attempt's wall + jit + steal ride along (ADVICE r9: the
      // variable-N min must be auditable — a reader can see how many
      // attempts ran, which one the reported floor came from, and whether
      // the clean-steal rule or the fallback picked it)
      Run(name, best, if (ok.isEmpty) attempts.head.err else None, ccMb,
        attempts.toSeq, contended)
    }
    val line = json(runs, sfDir)
    println(line)
    // the stdout line is >4 KB at 100+ queries and output-capture windows
    // truncate it — ALSO dump the same JSON whole to a file (overridable;
    // default lands in the repo cwd for the round artifacts)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }
    spark.stop()
  }

  /** The bench record as one JSON line, `"metric"` first (tools grep for
    * `{"metric"`). Per query: the reported wall (−1 on error), the error,
    * and for the reported attempt gc seconds, process cpu seconds, machine
    * steal share, jit compile seconds and code-cache MB in use at query end
    * — wall up with cpu flat + steal up = co-tenant contention; cpu up with
    * gc/steal flat + codecache at the ceiling = code-cache flushing (see
    * build.sbt's ReservedCodeCacheSize note). The per-attempt arrays are the
    * audit trail of the adaptive-attempt rule; `contended` lists only the
    * queries whose reported min came from the contended fallback. Telemetry
    * is rounded to 3 decimals to keep double noise out of the line. */
  private[graft] def json(runs: Seq[Run], sfDir: String): String = {
    val nodes = JsonNodeFactory.instance
    def r3(x: Double) = nodes.numberNode(math.round(x * 1000) / 1000.0)
    val line = nodes.objectNode()
    def byQuery(key: String, rs: Seq[Run])(value: Run => JsonNode): Unit = {
      val o = line.putObject(key)
      rs.foreach(r => o.set[JsonNode](r.name, value(r)))
    }
    def perAttempt(key: String)(value: Attempt => Double): Unit =
      byQuery(key, runs) { r =>
        val a = nodes.arrayNode()
        r.attempts.foreach(x => a.add(r3(value(x))))
        a
      }
    line.put("metric", "total")
    line.put("value", runs.filter(_.err.isEmpty).map(_.best.wall).sum)
    line.put("unit", "sec")
    byQuery("queries", runs)(r => nodes.numberNode(r.best.wall))
    byQuery("errors", runs.filter(_.err.isDefined))(r => nodes.textNode(r.err.get))
    byQuery("gc", runs)(r => r3(r.best.gc))
    byQuery("cpu", runs)(r => r3(r.best.cpu))
    byQuery("steal_pct", runs)(r => r3(r.best.steal))
    byQuery("jit", runs)(r => r3(r.best.jit))
    byQuery("codecache_mb", runs)(r => r3(r.codeCacheMb))
    // errored attempts log wall −1 but keep their real jit and steal
    perAttempt("attempt_walls")(a => if (a.err.isDefined) -1.0 else a.wall)
    perAttempt("attempt_jits")(_.jit)
    perAttempt("attempt_steals")(_.steal)
    byQuery("contended", runs.filter(_.contended))(_ => nodes.booleanNode(true))
    line.put("sf", sfDir)
    new ObjectMapper().writeValueAsString(line)
  }
}
