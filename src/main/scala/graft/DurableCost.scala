package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.etl.MergeWrite

/** Cost harness for the S5 merge write's durable mode (the r13 verdict ask:
  * the staging-dir double write is proven ≡ default, but its price was
  * asserted, not measured). Synthesizes a merge-shaped batch from orders at
  * the given SF (30 distinct auction dates → 30 table partitions, the
  * realistic few-dates-per-batch shape), then times, per mode:
  *   create  — first write into an empty table (default: localCheckpoint +
  *             dynamic overwrite; durable: staging write + re-read + same
  *             overwrite)
  *   merge   — a 10 %-of-keys update batch merged into the existing table
  *             (the window-dedup union path both modes share)
  * Walls print per rep; quote the min (the JIT-warm figure) in NOTES.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.DurableCost [reps]
  */
object DurableCost {
  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(
        col("o_orderkey").cast("string").as("auction_id"),
        to_timestamp(date_add(lit("2024-01-01"),
          (col("o_orderkey") % 30).cast("int"))).as("auction_date"),
        concat(lit("https://auctions.example/"), col("o_orderkey"))
          .as("auction_url"),
        col("o_totalprice").cast("double").as("max_bid"),
        col("o_orderpriority").as("title"))
      .localCheckpoint() // charge modes for the WRITE, not the synth scan
    val update = base.filter(col("auction_id").cast("long") % 10 === 0)
      .withColumn("auction_date", col("auction_date") + expr("INTERVAL 1 HOUR"))
      .withColumn("max_bid", col("max_bid") + lit(1.0))
      .localCheckpoint()
    println(s"rows=${base.count()} update_rows=${update.count()} sf_dir=$sfDir")

    for (durable <- Seq(false, true); rep <- 1 to reps) {
      val dir = Files.createTempDirectory(s"graft_durcost_$durable").toString + "/t"
      val t0 = System.nanoTime()
      MergeWrite.mergeWrite(spark, dir, base, durable = durable)
      val t1 = System.nanoTime()
      MergeWrite.mergeWrite(spark, dir, update, durable = durable)
      val t2 = System.nanoTime()
      println(f"[durcost] durable=$durable rep$rep create=${(t1 - t0) / 1e9}%.2fs " +
        f"merge=${(t2 - t1) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
