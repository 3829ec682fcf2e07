package graft

import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Compact, MergeWrite}
import graft.star.Warehouse
import graft.util.TableDir

/** The shared table-directory rules: a swap interrupted between its two
  * renames rolls back instead of reading as "no table", and only entries
  * Spark's file index reads make a dir a table. */
class TableDirSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("id", "k").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
  private def hidden(dir: JPath): Seq[String] =
    dir.toFile.listFiles().map(_.getName).filter(_.startsWith(".")).sorted.toSeq

  test("publish over an interrupted swap keeps a copy at every step; rollBack undoes it") {
    val root = Files.createTempDirectory("graft_tabledir")
    def dirWith(name: String, file: String): Path = {
      Files.createDirectories(root.resolve(name))
      Files.createFile(root.resolve(name).resolve(file))
      new Path(root.resolve(name).toString)
    }
    val (target, staged, aside) =
      (new Path(root.resolve("t").toString), dirWith("t.tmp", "new"), dirWith("t.old", "old"))
    // target missing, previous data parked aside: publish restores it first,
    // so `aside` is never deleted while it is the only copy
    TableDir.publish(fs, target, staged, aside)
    assert(fs.exists(new Path(target, "new")) && !fs.exists(staged) && !fs.exists(aside))

    // rollBack restores only when target is missing
    val staged2 = dirWith("t.tmp", "half")
    assert(!TableDir.rollBack(fs, target, staged2, aside))
    assert(fs.exists(staged2))
    fs.rename(target, aside)
    assert(TableDir.rollBack(fs, target, staged2, aside))
    assert(fs.exists(new Path(target, "new")) && !fs.exists(staged2) && !fs.exists(aside))
  }

  test("Warehouse: an overwrite interrupted between its renames rolls back") {
    val dir = Files.createTempDirectory("graft_tabledir_wh")
    new Warehouse(spark, dir.toString)
      .overwrite("t", Seq((1L, "old"), (2L, "old")).toDF("id", "k"))
    // the crash window: live dir parked aside, new data half staged
    Files.move(dir.resolve("t"), dir.resolve(".t_old"))
    Files.createDirectories(dir.resolve(".t_tmp"))

    val wh = new Warehouse(spark, dir.toString) // a restarted driver
    assert(wh.exists("t"))
    assert(rows(wh.read("t")) == Seq((1L, "old"), (2L, "old")))
    assert(hidden(dir).isEmpty, s"swap dirs left behind: ${hidden(dir)}")
    wh.overwrite("t", Seq((3L, "new")).toDF("id", "k"))
    assert(rows(wh.read("t")) == Seq((3L, "new")))
  }

  test("Compact: a run that died mid-swap is rolled back and compacted on re-run") {
    val root = Files.createTempDirectory("graft_tabledir_compact")
    val dir = root.resolve("t").toString
    val df = (1 to 200).map(i => (i.toLong, s"row$i")).toDF("id", "k")
    df.repartition(20).write.parquet(dir)
    val before = rows(spark.read.parquet(dir))
    Files.move(root.resolve("t"), root.resolve("t._compact_old"))
    Files.createDirectories(root.resolve("t._compact_tmp"))

    val (n0, n1) = Compact.compact(spark, dir, maxRecordsPerFile = 10000)
    assert(n0 >= 10 && n1 < n0, s"files $n0 -> $n1")
    assert(rows(spark.read.parquet(dir)) == before)
    assert(root.toFile.list().toSeq == Seq("t"))
  }

  test("MergeWrite: a root holding only a killed write's .spark-staging dir is not a table") {
    val processed = Files.createTempDirectory("graft_tabledir_mw").resolve("processed")
    val batch = Seq(("a1", "2024-01-02 10:00:00", "u1"), ("a2", "2024-01-03 11:00:00", "u2"))
      .toDF("auction_id", "auction_date", "auction_url")
      .withColumn("auction_date", to_timestamp(col("auction_date")))
    // what dynamic partition overwrite stages before its job commits
    batch.withColumn("auction_id", lit("stale")).write.parquet(
      processed.resolve(".spark-staging-0").resolve("auction_saving_date=2024-01-02").toString)

    MergeWrite.mergeWrite(spark, processed.toString, batch)
    val back = MergeWrite.readProcessed(spark, processed.toString)
      .select("auction_id", "auction_url").as[(String, String)].collect().sorted.toSeq
    assert(back == Seq(("a1", "u1"), ("a2", "u2")))
  }

  test("Warehouse: a killed write's committed tasks are not a table and never reach an append") {
    val dir = Files.createTempDirectory("graft_tabledir_tmp")
    // a committed task of a write whose driver was killed before job commit:
    // the v1 committer merges every `_temporary/0/task_*` at the next commit
    def deadTask(task: String, id: Long): Unit = Seq((id, "stale")).toDF("id", "k")
      .write.parquet(dir.resolve(s"t/_temporary/0/$task").toString)
    deadTask("task_0", 9L)
    val wh = new Warehouse(spark, dir.toString)
    assert(!wh.exists("t"))
    assert(wh.readIfExists("t").isEmpty)
    wh.append("t", Seq((1L, "a")).toDF("id", "k"))
    assert(wh.exists("t"))
    assert(rows(wh.read("t")) == Seq((1L, "a")))

    // the same after a killed append into a table that holds data
    deadTask("task_1", 8L)
    assert(wh.appendCounted("t", Seq((2L, "b")).toDF("id", "k")) == 1L)
    assert(rows(wh.read("t")) == Seq((1L, "a"), (2L, "b")))
  }

  test("holdsData: partition dirs count, even _-prefixed ones; metadata does not") {
    val dir = Files.createTempDirectory("graft_tabledir_bucket")
    // a hash-bucketed layout (Sessionize's sessions table): one
    // `_bucket=N` dir per bucket
    Seq((1L, "a", 3)).toDF("id", "k", "_bucket")
      .write.partitionBy("_bucket").parquet(dir.resolve("v").toString)
    val wh = new Warehouse(spark, dir.toString)
    assert(wh.exists("v"))
    assert(rows(wh.read("v")) == Seq((1L, "a")))

    Files.createDirectories(dir.resolve("m/_temporary"))
    Files.createDirectories(dir.resolve("m/.spark-staging-0"))
    Files.createFile(dir.resolve("m/_SUCCESS"))
    assert(!TableDir.holdsData(fs, new Path(dir.resolve("m").toString)))
    assert(!TableDir.holdsData(fs, new Path(dir.resolve("missing").toString)))
  }
}
