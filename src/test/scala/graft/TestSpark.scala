package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test JVM (forked by sbt): the mains'
  * conf on a fixed `local[4]`, with a temporary warehouse dir. */
object TestSpark {
  lazy val spark: SparkSession = Session.local(4, Map("spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("graft_wh_tests").toString))
}
