package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Bucketing

/** Bucketed join runs without a shuffle exchange; results match the plain
  * join. */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bucketed-bucketed join has no shuffle and matches plain join") {
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 4)
    Bucketing.writeBucketed(o, "o_bucketed", "l_orderkey", 4)

    // disable broadcast so the decision is about shuffles, and AQE so the
    // plan is concrete (AdaptiveSparkPlanExec is a leaf — hides its inner
    // operators from plan traversal)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val bucketed = Bucketing.readTable(spark, "li_bucketed")
        .join(Bucketing.readTable(spark, "o_bucketed"), Seq("l_orderkey"))
        .groupBy("l_orderkey").count()
      assert(!Bucketing.hasShuffle(bucketed), "bucketed join should not shuffle")
      val plain = li.join(o, Seq("l_orderkey")).groupBy("l_orderkey").count()
      assert(Bucketing.hasShuffle(plain), "plain join expected to shuffle here")
      val a = bucketed.orderBy("l_orderkey").collect().toSeq
      val b = plain.orderBy("l_orderkey").collect().toSeq
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
