package graft

import java.util.UUID
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code ran, in job-id order. */
final case class JobCount(jobs: Seq[JobCount.Job]) {
  def count: Int = jobs.size
  def finalStages: Seq[String] = jobs.map(_.finalStage)

  /** Jobs a `DataFrameReader` ran to infer a file source's schema from its
    * footers — every job it submits except the parallel file listing. */
  def schemaInferences: Seq[JobCount.Job] = jobs.filter(j =>
    j.sparkMethod.contains(".DataFrameReader.") &&
      !j.description.startsWith("Listing leaf files"))
}

object JobCount {
  /** `finalStage`: the result stage's name, Spark's short call site
    * (`<last Spark method> at <File>.scala:<line>`), or [[NoStages]] for a
    * job over zero partitions, which Spark starts with no stage at all;
    * `sparkMethod`: the first line of its long call site, the Spark frame
    * the job came from (a read and a write both show `parquet at …` as the
    * short name);
    * `sqlConf`: the `spark.sql.*` properties the job started with — the
    * session conf Spark SQL pinned for it (only keys set on the session,
    * not defaults; empty for jobs run outside Spark SQL). */
  final case class Job(finalStage: String, sparkMethod: String, description: String,
                       sqlConf: Map[String, String])

  /** The `finalStage` of a job that has no stages. */
  val NoStages = "<no stages>"

  private val GroupKey = "spark.jobGroup.id"

  /** Runs `body` and returns the jobs it submitted. Jobs are told apart by
    * a fresh job group set on the calling thread — `graft.util.Exec`
    * carries it onto the load pool's threads, and Spark SQL onto its
    * broadcast and subquery threads — so jobs of anything else running in
    * the session are not counted. The listener bus is drained before the
    * jobs are read. */
  def during(spark: SparkSession)(body: => Any): JobCount = {
    val sc = spark.sparkContext
    val group = s"jobcount-${UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentSkipListMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty(GroupKey) == group)) {
          val last = js.stageInfos.maxByOption(_.stageId)
          val sqlConf = props.toSeq.flatMap(_.stringPropertyNames.asScala)
            .filter(_.startsWith("spark.sql.")).map(k => k -> props.get.getProperty(k)).toMap
          seen.put(js.jobId, Job(last.fold(NoStages)(_.name),
            last.flatMap(_.details.linesIterator.nextOption()).getOrElse(""),
            props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
            sqlConf))
        }
      }
    }
    val prev = sc.getLocalProperty(GroupKey)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(GroupKey, group)
      try body finally sc.setLocalProperty(GroupKey, prev)
      org.apache.spark.graft.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    JobCount(seen.values().asScala.toSeq)
  }
}
