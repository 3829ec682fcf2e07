package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.{Flatten, MergeWrite, Silver}
import graft.star.Warehouse
import graft.stream.Incremental

/** The one ingest step, [[Pipeline.ingest]]: the warehouse loads the
  * processed layer's kept rows for the dates a batch touched, so the stream
  * path and the batch path leave the same star; and the S5 merge under it
  * returns exactly those dates. */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** One raw file (list envelope) holding auction `id` at `date` with
    * `miles` on the clock. */
  private def rawFile(date: String, miles: String, id: String = "S1"): String =
    s"""[{"auction_url": "https://x/auctions/$id/2015-a",
       |"auction_stats": {"reserve_status": "Reserve", "auction_status": "Sold",
       |  "highest_bid_value": "2,500", "bid_count": 3, "auction_date": "$date",
       |  "bids": ["$$1,000","$$2,500"]},
       |"auction_quick_facts": {"Make": "Ford", "Model": "F-150", "Mileage": "$miles",
       |  "VIN": "VINX", "Title Status": "Clean (CA)", "Location": "Dallas, TX",
       |  "Seller": "bob", "Engine": "V8", "Drivetrain": "RWD",
       |  "Transmission": "Manual", "Body Style": "Truck",
       |  "Exterior Color": "Red", "Interior Color": "Black", "Seller Type": "Dealer"}}]""".stripMargin

  /** `df`'s rows by their natural key, every column included. */
  private def byKey(df: DataFrame, key: String*): Map[Seq[Any], Row] = {
    val cols = df.columns.sorted
    df.select(cols.toIndexedSeq.map(col): _*).collect()
      .map(r => key.map(k => r.get(cols.indexOf(k))) -> r).toMap
  }

  private def mileageOf(df: DataFrame): Long =
    df.filter(col("auction_id") === "S1").head().getAs[Number]("mileage").longValue

  // file 1 then file 2 for the same auction; the merge keeps file 1 in both
  // cases (older time; on a tie the existing row stays), so the star must
  // hold file 1's 11,111 miles whichever path loaded it
  Seq(
    "an older correction" -> ("2024-05-01 11:00:00", "2024-05-01 10:00:00"),
    "an auction_date tie" -> ("2024-05-01 10:00:00", "2024-05-01 10:00:00"),
  ).foreach { case (name, (date1, date2)) =>
    test(s"stream and batch star-load the processed layer's kept row: $name") {
      val base = Files.createTempDirectory("graft_ingest")
      val rawDir = base.resolve("raw"); Files.createDirectories(rawDir)
      val (streamProcessed, batchProcessed) =
        (base.resolve("s_processed").toString, base.resolve("b_processed").toString)
      val streamWh = base.resolve("s_wh").toString
      val batchWh = new Warehouse(spark, base.resolve("b_wh").toString)
      Seq(rawFile(date1, "11,111"), rawFile(date2, "22,222")).zipWithIndex.foreach {
        case (body, i) =>
          val f = Files.writeString(rawDir.resolve(s"f$i.json"), body)
          Incremental.runAvailableNow(spark, rawDir.toString, streamProcessed,
            base.resolve("ckpt").toString, Some(streamWh))
          Pipeline.ingest(batchWh, batchProcessed, Silver.run(Flatten.bronze(spark, f.toString)))
      }

      for (p <- Seq(streamProcessed, batchProcessed))
        assert(mileageOf(MergeWrite.readProcessed(spark, p)) == 11111L, p)
      val kept = MergeWrite.readProcessed(spark, batchProcessed).head()
      val stream = new Warehouse(spark, streamWh)
      val vehicles = byKey(stream.read("vehicle_dim"), "vin", "auction_id")
      val facts = byKey(stream.read("auction_fact"), "auction_id")
      assert(vehicles == byKey(batchWh.read("vehicle_dim"), "vin", "auction_id"))
      assert(facts == byKey(batchWh.read("auction_fact"), "auction_id"))
      assert(facts.size == 1 && vehicles.size == 1)
      assert(mileageOf(stream.read("vehicle_dim")) == 11111L)
      assert(facts.values.head.getAs[Any]("auction_time") == kept.getAs[Any]("auction_date"))
    }
  }

  test("a warm merge of 3 of 28 date partitions runs at most 6 jobs and " +
    "returns exactly the dates it touched") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge_jobs").toString + "/t"
    val day0 = java.time.LocalDate.parse("2024-05-01")
    def at(day: Int, hour: Int) = Timestamp.valueOf(day0.plusDays(day.toLong).atTime(hour, 0))
    def rows(rs: Seq[(String, Timestamp, String)]): DataFrame =
      rs.map { case (id, ts, model) => (id, s"https://x/auctions/$id/x", ts, model) }
        .toDF("auction_id", "auction_url", "auction_date", "model")
    // two auctions on each of 28 dates
    val existing = (0 until 56).map(i => (s"A$i", at(i / 2, 10), "old"))
    MergeWrite.mergeWrite(spark, dir, rows(existing))
    // dates 0-2: a newer correction (wins), an older one (loses), a tie
    // (the existing row stays) and a brand-new auction
    val batch = Seq(("A0", at(0, 11), "newer"), ("A2", at(1, 9), "older"),
      ("A4", at(2, 10), "tie"), ("B1", at(2, 12), "new"))

    var touched = Seq.empty[Option[Date]]
    val jobs = JobCount.during(spark) {
      touched = MergeWrite.mergeWrite(spark, dir, rows(batch))
    }
    assert(jobs.count <= 6, s"jobs: ${jobs.jobs.map(_.finalStage)}")
    assert(touched.map(_.map(_.toLocalDate)).sortBy(_.toString) ==
      (0 to 2).map(d => Some(day0.plusDays(d.toLong))))

    // keep-newest with existing rows winning ties, computed by hand
    val want = (existing ++ batch).groupBy(_._1).values
      .map(_.reduceLeft((a, b) => if (b._2.after(a._2)) b else a))
      .map { case (id, ts, model) => (id, ts, model, Date.valueOf(ts.toLocalDateTime.toLocalDate)) }
      .toSeq.sortBy(_._1)
    val got = MergeWrite.readProcessed(spark, dir)
      .select("auction_id", "auction_date", "model", MergeWrite.PartitionCol)
      .as[(String, Timestamp, String, Date)].collect().toSeq.sortBy(_._1)
    assert(got == want)
  }

  test("an unparseable auction_date: a later merge keeps the null partition's " +
    "rows, and the step star-loads them") {
    val base = Files.createTempDirectory("graft_ingest_null")
    val processed = base.resolve("processed").toString
    val wh = new Warehouse(spark, base.resolve("wh").toString)
    Seq("N1" -> "not a date", "D1" -> "2024-05-01 10:00:00", "N2" -> "not a date either")
      .zipWithIndex.foreach { case ((id, date), i) =>
        val f = Files.writeString(base.resolve(s"f$i.json"), rawFile(date, "11,111", id))
        Pipeline.ingest(wh, processed, Silver.run(Flatten.bronze(spark, f.toString)))
      }

    def ids(df: DataFrame) = df.select("auction_id").collect().map(_.getString(0)).sorted.toSeq
    assert(ids(MergeWrite.readProcessed(spark, processed)) == Seq("D1", "N1", "N2"))
    assert(ids(wh.read("auction_fact")) == Seq("D1", "N1", "N2"))
  }
}
