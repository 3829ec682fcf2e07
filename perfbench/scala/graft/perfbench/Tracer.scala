package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide clocks sampled at span boundaries. */
object Clocks {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = Option(ManagementFactory.getCompilationMXBean)

  /** Process CPU time of every thread, JIT and GC included. */
  def cpuNs: Long = os match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = jit.map(_.getTotalCompilationTime).getOrElse(0L)
  def codegenNs: Long = CodeGenerator.compileTime
}

/** One timed call into a layer. `role` is "op" for the root of an op, or
  * "build" / "execute" for a child: "build" spans construct plans (lazy
  * calls, plus any eager action the call makes), "execute" spans run
  * actions. */
final case class Span(id: Int, op: Int, parent: Int, name: String, role: String,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long,
                      gcMs: Long, jitMs: Long, codegenNs: Long)

/** Layer counters of one span, its descendants included. */
final case class Counters(
    s: Double, selfS: Double, jobs: Int, stages: Int, tasks: Int,
    taskRunS: Double, taskCpuS: Double, idleS: Double, busyFrac: Double,
    emptyTaskFrac: Double, planS: Double, codegenS: Double,
    shuffleMb: Double, spillMb: Double, inputMb: Double, outputMb: Double,
    gcS: Double, jitS: Double) {
  def toMap: Seq[(String, Double)] = Seq(
    "s" -> s, "self_s" -> selfS, "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "task_run_s" -> taskRunS, "task_cpu_s" -> taskCpuS,
    "idle_s" -> idleS, "busy_frac" -> busyFrac, "empty_task_frac" -> emptyTaskFrac,
    "plan_s" -> planS, "codegen_s" -> codegenS, "shuffle_mb" -> shuffleMb,
    "spill_mb" -> spillMb, "input_mb" -> inputMb, "output_mb" -> outputMb,
    "gc_s" -> gcS, "jit_s" -> jitS)
}

/** Spans around the benchmark's calls into the program's layers, plus a
  * SparkListener and a QueryExecutionListener whose events are attributed,
  * by timestamp, to the innermost span open at that moment. Spans and
  * events are kept in memory; [[counters]] attributes them after the run.
  * With `enabled = false` a span only runs its body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private val jobStarts = ArrayBuffer.empty[Long]
  private val stageStarts = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[TaskEv]
  private val phases = ArrayBuffer.empty[PhaseEv]
  private val seenQe = new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]()
  private val cores = spark.sparkContext.defaultParallelism

  private var nextId = 0
  private var nextOp = 0
  private var stack: List[(Int, Int)] = Nil // (span id, op id)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Tracer.this.synchronized(jobStarts += e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        e.stageInfo.submissionTime.foreach(t => Tracer.this.synchronized(stageStarts += t))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val recIn = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          val ev = TaskEv(e.taskInfo.launchTime, e.taskInfo.finishTime,
            m.executorRunTime, m.executorCpuTime, recIn == 0,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
          Tracer.this.synchronized(tasks += ev)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
  }

  /** Analysis, optimization and planning of `qe`. Counted once per
    * QueryExecution: the listener reports a frame executed twice twice. */
  private def record(qe: QueryExecution): Unit = synchronized {
    if (seenQe.put(qe, java.lang.Boolean.TRUE) == null)
      qe.tracker.phases.valuesIterator.foreach(p =>
        phases += PhaseEv(p.startTimeMs, p.durationMs))
  }

  /** Records the analysis of a frame a span built but did not execute (the
    * listener only sees executed plans); returns the frame. */
  def planned(df: DataFrame): DataFrame = {
    if (enabled) record(df.queryExecution)
    df
  }

  /** Runs `body` inside a span named `name`; with no span open it starts a
    * new op, and the span is that op's root. */
  def span[T](name: String, role: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val (parent, op) = stack match {
        case (p, o) :: _ => (p, o)
        case Nil => nextOp += 1; (-1, nextOp)
      }
      stack = (id, op) :: stack
      val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
      val (gc0, jit0, cg0) = (Clocks.gcMs, Clocks.jitMs, Clocks.codegenNs)
      try body
      finally {
        val (ms1, ns1) = (System.currentTimeMillis(), System.nanoTime())
        stack = stack.tail
        synchronized(spans += Span(id, op, parent, name, role, ms0, ms1, ns0, ns1,
          Clocks.gcMs - gc0, Clocks.jitMs - jit0, Clocks.codegenNs - cg0))
      }
    }

  /** Counters of every span, keyed by span id, after all events arrived. */
  def counters(): Map[Int, Counters] = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    synchronized {
      val byId = spans.map(s => s.id -> s).toMap
      val children = spans.groupBy(_.parent)
      // ids are handed out in start order, so spans sorted by id are sorted
      // by start; the innermost span open at wall time t is the last one
      // started by t, or the nearest of its ancestors still open at t
      val order = spans.sortBy(_.id).toIndexedSeq
      val starts = order.map(_.startMs).toArray
      def owner(t: Long): Option[Int] = {
        var i = java.util.Arrays.binarySearch(starts, t)
        if (i < 0) i = -i - 2
        else while (i + 1 < starts.length && starts(i + 1) == t) i += 1
        var cur = if (i >= 0) Option(order(i)) else None
        while (cur.exists(_.endMs < t)) cur = byId.get(cur.get.parent)
        cur.map(_.id)
      }
      val jobsOf = jobStarts.flatMap(owner).groupBy(identity).view.mapValues(_.size).toMap
      val stagesOf = stageStarts.flatMap(owner).groupBy(identity).view.mapValues(_.size).toMap
      val tasksOf = tasks.flatMap(t => owner(t.launch).map(_ -> t)).groupMap(_._1)(_._2)
      val planOf = phases.flatMap(p => owner(p.startMs).map(_ -> p.durMs))
        .groupMapReduce(_._1)(_._2)(_ + _)
      // wall time covered by at least one running task, as merged intervals
      val busy = {
        val iv = tasks.map(t => (t.launch, math.max(t.launch, t.finish))).sortBy(_._1)
        val out = ArrayBuffer.empty[(Long, Long)]
        iv.foreach { case (a, b) =>
          if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
          else out += ((a, b))
        }
        out.toIndexedSeq
      }
      def coveredMs(a: Long, b: Long): Long =
        busy.iterator.map { case (x, y) => math.max(0L, math.min(b, y) - math.max(a, x)) }.sum
      def subtree(id: Int): Seq[Int] =
        id +: children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSeq
      spans.map { sp =>
        val ids = subtree(sp.id)
        val ts = ids.flatMap(i => tasksOf.getOrElse(i, Nil))
        val s = (sp.endNs - sp.startNs) / 1e9
        val kids = children.getOrElse(sp.id, Nil).map(c => (c.endNs - c.startNs) / 1e9).sum
        val runS = ts.map(_.runMs).sum / 1e3
        val idle = ((sp.endMs - sp.startMs) - coveredMs(sp.startMs, sp.endMs)) / 1e3
        sp.id -> Counters(
          s = s, selfS = s - kids,
          jobs = ids.map(i => jobsOf.getOrElse(i, 0)).sum,
          stages = ids.map(i => stagesOf.getOrElse(i, 0)).sum,
          tasks = ts.size, taskRunS = runS, taskCpuS = ts.map(_.cpuNs).sum / 1e9,
          idleS = math.max(0.0, idle),
          busyFrac = if (s > 0) runS / (s * cores) else 0.0,
          emptyTaskFrac = if (ts.isEmpty) 0.0 else ts.count(_.empty).toDouble / ts.size,
          planS = ids.map(i => planOf.getOrElse(i, 0L)).sum / 1e3,
          codegenS = sp.codegenNs / 1e9,
          shuffleMb = ts.map(_.shuffleB).sum / 1e6, spillMb = ts.map(_.spillB).sum / 1e6,
          inputMb = ts.map(_.inB).sum / 1e6, outputMb = ts.map(_.outB).sum / 1e6,
          gcS = sp.gcMs / 1e3, jitS = sp.jitMs / 1e3)
      }.toMap
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  /** Forgets the spans so far (the untimed warm-up); events that arrive
    * for them later belong to no span and are dropped. */
  def clear(): Unit = synchronized(spans.clear())
}

object Tracer {
  private final case class TaskEv(launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                                  empty: Boolean, shuffleB: Long, spillB: Long,
                                  inB: Long, outB: Long)
  private final case class PhaseEv(startMs: Long, durMs: Long)
}
