package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.star.Warehouse

/** The Warehouse small-dim read cache: cached plans are reused between
  * writes, and EVERY write path (append, overwrite, overwritePartitions)
  * invalidates — a stale cached dim would silently corrupt later loads.
  */
class WarehouseCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("readCached reuses the plan; every write path invalidates") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_whcache").toString)

    wh.overwrite("d", Seq((1L, "a")).toDF("id", "k"))
    val first = wh.readCached("d")
    assert(first.count() == 1)
    assert(wh.readCached("d") eq first) // same cached DataFrame, no rescan

    wh.append("d", Seq((2L, "b")).toDF("id", "k"))
    val afterAppend = wh.readCached("d")
    assert(!(afterAppend eq first) && afterAppend.count() == 2)

    wh.overwrite("d", Seq((9L, "z")).toDF("id", "k"))
    assert(wh.readCached("d").count() == 1)

    wh.overwritePartitions("p",
      Seq((1L, 0), (2L, 1)).toDF("id", "part"), "part")
    val p1 = wh.readCached("p")
    assert(p1.count() == 2)
    wh.overwritePartitions("p", Seq((3L, 1)).toDF("id", "part"), "part")
    val p2 = wh.readCached("p")
    assert(!(p2 eq p1))
    // partition 0 untouched, partition 1 replaced
    assert(p2.count() == 2)
    assert(p2.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("overwrite keeps the table visible at every step boundary, leaves no staging dirs") {
    val dir = Files.createTempDirectory("graft_whswap").toString
    val wh = new Warehouse(spark, dir)
    wh.overwrite("t", Seq((1L, "old")).toDF("id", "k"))

    val steps = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Long)]
    wh.overwriteWithProbe("t", Seq((2L, "new"), (3L, "new")).toDF("id", "k"),
      step => steps += ((step, wh.exists("t"), wh.read("t").count())))

    assert(steps.map(_._1).toSeq == Seq("staged", "published"))
    assert(steps.forall(_._2), s"table vanished at a step boundary: $steps")
    // old data readable until the swap, new data from the swap on
    assert(steps.map(_._3).toSeq == Seq(1L, 2L))
    // swap artifacts are cleaned up
    val leftovers = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("."))
    assert(leftovers.isEmpty, s"staging dirs left behind: ${leftovers.toSeq}")
  }

  test("appendCounted: one action, exact count, empty append stays readable") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_whobs").toString)
    import org.apache.spark.sql.functions.col

    // empty append to a table that never existed: Spark writes one
    // schema-bearing empty part file, so the table may come into existence —
    // but then it MUST be readable (valid schema, zero rows), never a
    // _SUCCESS-only dir that fails schema inference
    val empty = Seq((1L, "a")).toDF("id", "k").filter(col("id") < 0)
    assert(wh.appendCounted("fresh", empty) == 0L)
    if (wh.exists("fresh")) {
      assert(wh.read("fresh").count() == 0L)
      assert(wh.read("fresh").schema.fieldNames.toSeq == Seq("id", "k"))
    }

    // count comes from the write's own observation, matches what landed
    assert(wh.appendCounted("t", Seq((1L, "a"), (2L, "b")).toDF("id", "k")) == 2L)
    assert(wh.appendCounted("t", Seq((3L, "c")).toDF("id", "k")) == 1L)
    assert(wh.appendCounted("t", empty) == 0L)
    assert(wh.read("t").count() == 3L)
  }

  test("remembered schemas: later reads infer nothing, and never hide a write") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_whschema").toString)
    import org.apache.spark.sql.functions.col

    wh.append("t", Seq((1L, "a")).toDF("id", "k"))
    assert(wh.read("t").count() == 1L)
    // positive control: the memo is live, so the checks below are not vacuous
    val reread = JobCount.during(spark)(wh.read("t"))
    assert(reread.schemaInferences.isEmpty, s"second read inferred: ${reread.jobs}")

    // append keeps the schema; the appended rows are visible
    wh.append("t", Seq((2L, "b")).toDF("id", "k"))
    assert(wh.read("t").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    // overwrite with another column set: the read returns the NEW columns
    wh.overwrite("t", Seq((3L, 4.5, true)).toDF("id", "score", "flag"))
    val after = wh.read("t")
    assert(after.columns.toSeq == Seq("id", "score", "flag"))
    assert(after.head() == org.apache.spark.sql.Row(3L, 4.5, true))

    // a partition overwrite adding a partition value: the new partition shows
    wh.overwritePartitions("p", Seq((1L, 0)).toDF("id", "part"), "part")
    assert(wh.read("p").count() == 1L)
    wh.overwritePartitions("p", Seq((2L, 7)).toDF("id", "part"), "part")
    val parts = wh.read("p")
    assert(parts.columns.toSeq == Seq("id", "part"))
    assert(parts.filter(col("part") === 7).select("id").as[Long].collect().toSeq == Seq(2L))
    assert(parts.count() == 2L)
  }

  test("overwrite remembers the schema Parquet reads back: the next read infers nothing") {
    val dir = Files.createTempDirectory("graft_whowschema").toString
    val wh = new Warehouse(spark, dir)
    // non-nullable columns and a nested non-null element type: the file
    // reads back with every level nullable
    wh.overwrite("t", Seq((1L, "a", Seq(1, 2))).toDF("id", "k", "xs"))
    val jobs = JobCount.during(spark)(wh.read("t"))
    assert(jobs.schemaInferences.isEmpty, s"read after overwrite inferred: ${jobs.jobs}")
    assert(wh.read("t").schema == spark.read.parquet(s"$dir/t").schema)
    assert(wh.read("t").collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Int](2)))
      .toSeq == Seq((1L, "a", Seq(1, 2))))
  }
}
