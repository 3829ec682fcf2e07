package graft

import java.nio.file.{Files, Paths}
import graft.etl.{Flatten, MergeWrite, Silver, Validate}
import graft.star.Warehouse
import graft.stream.Incremental

/** End-to-end auction pipeline driver: raw JSON (both envelope vintages) →
  * bronze → validity split → silver → [[Pipeline.ingest]] (merged processed
  * layer → star schema), then the streaming AvailableNow path over the same
  * raw dir.
  *
  * Usage: runMain graft.AuctionPipelineDemo [rawDir] [workDir]
  * With no args, runs on a generated two-file fixture.
  */
object AuctionPipelineDemo {

  def main(args: Array[String]): Unit = {
    val spark = Session.local()

    val work = if (args.length > 1) args(1)
      else Files.createTempDirectory("graft_demo").toString
    val rawDir = if (args.nonEmpty) args(0) else writeFixture(s"$work/raw")

    // batch path
    val bronze = Flatten.bronze(spark, rawDir)
    // rescrape list goes through the distributed text sink (S8), not a
    // driver-side collect; the collect below is DEMO-ONLY (prints the tiny
    // fixture's URL list) — the engine path ends at writeUrlList
    graft.sources.TextSources.writeUrlList(Validate.rescrapeUrls(bronze), s"$work/rescrape")
    val rescrape = spark.read.text(s"$work/rescrape").collect().map(_.getString(0)).sorted
    val wh = new Warehouse(spark, s"$work/warehouse")
    Pipeline.ingest(wh, s"$work/processed", Silver.run(bronze))
    val processed = MergeWrite.readProcessed(spark, s"$work/processed")

    println(s"bronze_records=${bronze.count()}")
    println(s"rescrape_urls=${rescrape.mkString(",")}")
    println(s"processed_rows=${processed.count()}")
    println(s"fact_rows=${wh.read("auction_fact").count()}")
    println(s"vehicle_dim_rows=${wh.read("vehicle_dim").count()}")
    println("fact sample:")
    wh.read("auction_fact")
      .select("auction_id", "auction_time", "vehicle_id", "auction_status", "max_bid")
      .orderBy("auction_id").show(5, truncate = false)

    // streaming path over the same raw dir into a second processed layer
    Incremental.runAvailableNow(spark, rawDir, s"$work/processed_stream", s"$work/ckpt")
    println(s"stream_processed_rows=${MergeWrite.readProcessed(spark, s"$work/processed_stream").count()}")
    spark.stop()
  }

  private def writeFixture(dir: String): String = {
    Files.createDirectories(Paths.get(dir))
    def rec(url: String, status: String, date: String, model: String): String =
      s"""{"auction_url": "$url",
         |"auction_stats": {"reserve_status": "Reserve", "auction_status": "$status",
         |  "highest_bid_value": "2,500", "bid_count": 3, "auction_date": "$date",
         |  "bids": ["$$1,000","$$2,500","$$2,000"]},
         |"auction_quick_facts": {"Make": "Ford", "Model": "$model", "Mileage": "45,000 miles",
         |  "VIN": "VIN-$url", "Title Status": "Clean (CA)", "Location": "Dallas, TX",
         |  "Seller": "bob", "Engine": "V8", "Drivetrain": "Rear-wheel drive",
         |  "Transmission": "6-Speed Manual", "Body Style": "Truck",
         |  "Exterior Color": "Red", "Interior Color": "Black", "Seller Type": "Dealer"},
         |"auction_highlights": {"description": "hl", "bullet_points": ["a","b"]},
         |"known_flaws": ["f1"]}""".stripMargin
    Files.writeString(Paths.get(s"$dir/map.json"),
      s"""{"https://carsandbids.com/auctions/D1/2015-ford-f150": ${rec("ignored", "Sold to x", "2024-05-01 10:00:00", "F-150")},
         |"https://carsandbids.com/auctions/D2/2018-bmw-m3": ${rec("ignored", "pending", "2024-05-01 11:00:00", "M3")}}""".stripMargin)
    Files.writeString(Paths.get(s"$dir/list.json"),
      s"""[${rec("https://carsandbids.com/auctions/D3/2019-audi-rs3", "Reserve not met", "2024-05-02 09:00:00", "RS3")}]""".stripMargin)
    dir
  }
}
