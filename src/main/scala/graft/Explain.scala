package graft

/** Plan inspection: prints the formatted physical plan of selected queries
  * (usage: runMain graft.Explain [sfDir] [query ...]; default: headliners).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q05_star_revenue", "q04_keep_newest",
        "q21_minhash_signature", "q26_embedding_neardup", "q64_cube",
        "q65_moving_stats", "q55_decontaminate", "q90_cross_corpus",
        "q92_mv_refresh", "q95_anomaly_flags", "q218_crawl_curation")
    val spark = Session.local()
    names.foreach { n =>
      println(s"==================== $n ====================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
