package graft.util

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.ExecutionContext

/** Dedicated executor for overlapped Spark ACTIONS (dim append waves,
  * staging dumps, vehicle-write/fact overlap).
  *
  * Never run SQL actions on `ExecutionContext.global`: Spark local
  * properties (job group, description, and every session conf that
  * `SQLExecution.withSQLConfPropagated` pins for a running action) live in
  * an `InheritableThreadLocal`, and ForkJoinPool creates workers from
  * whatever thread triggers growth — including compensation threads spawned
  * from a worker that is BLOCKED mid-action. A worker born inside an
  * action inherits those properties and keeps them forever, so any later
  * action scheduled onto it reports — and propagates to its tasks — the
  * stale values.
  *
  * A plain cached ThreadPoolExecutor never self-spawns: threads are created
  * only at submit time, from the orchestration thread, which holds no
  * propagated conf — so workers start property-clean and per-action
  * propagation (set + restore on the same thread) cannot leak across tasks. */
object Exec {
  private val n = new AtomicLong(0)
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-load-${n.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  // Job-attribution keys re-propagated per task. A worker thread is BORN
  // with a copy of whatever the spawning thread held (InheritableThreadLocal
  // semantics), and a cached pool's threads live forever — so a worker born
  // while the bench had a per-query job description set would label every
  // later query's overlapped jobs with the stale description. Capturing the
  // caller's values at submit time and overwriting on the worker (null
  // clears) makes the event-log/UI attribution correct for every task, not
  // just the first.
  private val AttributionKeys =
    Seq("spark.job.description", "spark.jobGroup.id", "spark.job.interruptOnCancel")

  // the default session's context is process-global (getActiveSession is
  // itself a thread-local and would be unset on a fresh worker)
  private def activeSc: Option[org.apache.spark.SparkContext] =
    org.apache.spark.sql.SparkSession.getDefaultSession
      .orElse(org.apache.spark.sql.SparkSession.getActiveSession)
      .map(_.sparkContext)

  implicit val loadEc: ExecutionContext = new ExecutionContext {
    def execute(r: Runnable): Unit = {
      val captured = activeSc.map(sc =>
        AttributionKeys.map(k => k -> sc.getLocalProperty(k)))
      pool.execute { () =>
        for (sc <- activeSc;
             (k, v) <- captured.getOrElse(AttributionKeys.map(_ -> null)))
          sc.setLocalProperty(k, v)
        r.run()
      }
    }
    def reportFailure(cause: Throwable): Unit =
      ExecutionContext.defaultReporter(cause)
  }
}
