package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.star.{Facts, Warehouse, StarLoad}

/** Star-schema load: dim cardinalities, surrogate-key stability, U1
  * insert-only and U2 upsert semantics (SURVEY.md §2.10, §3.3).
  */
class StarLoadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def silverRow(id: String, vin: String, status: String, make: String,
                        city: String, state: String, mileage: Long): org.apache.spark.sql.Row =
    org.apache.spark.sql.Row(
      java.sql.Timestamp.valueOf("2024-05-01 10:00:00"), id, vin, "Dealer", "Reserve",
      status == "Sold", status, "t", "s", make, "M1", "Red", "Black", "Truck",
      mileage, "V8", "RWD", "6-Speed Manual", "Manual", 6, "Clean", state, city, state,
      3L, 10L, 5L, 2500.0, 2500L, 1000L, 1833.0, 2000.0, 1500L, Seq(1000L, 2500L),
      2, 1, 0, 3, 1, 1, 2, 2015, s"$city, $state", s"https://x/auctions/$id/2015-x", "bob")

  /** Jobs with stages of a warm load whose dims gain nothing, pinned from
    * the counts measured with vehicle_dim as one unpartitioned table: 29
    * in 19 of 24 runs and 30 in 5 (the extra one is one more job that
    * Spark SQL starts from its own thread pool, a broadcast or a query
    * stage, and shows or not from run to run), plus 2 zero-partition jobs
    * in every run, which have no stages and are not counted: the
    * delta-count `collect` of `Dims.appendDeltas` in each fused dim pass,
    * over an empty delta. */
  private val RepeatLoadJobBound = 30

  private def silverDf(rows: Seq[org.apache.spark.sql.Row]) =
    spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      graft.schema.Schemas.processed)

  test("star load: dims, fact, idempotence, upsert") {
    val whDir = Files.createTempDirectory("graft_wh").toString
    val wh = new Warehouse(spark, whDir)
    val batch1 = silverDf(Seq(
      silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 45000L),
      silverRow("A2", "VINB", "Reserve not met", "Mazda", "Austin", "TX", 60000L),
      silverRow("A3", "VINC", "Sold", "Ford", "Nowhere", "ZZ", 1000L)))
    StarLoad.run(wh, batch1)

    assert(wh.read("auction_status_dim").collect().map(_.getString(1)).sorted
      === Array("reserve not met", "sold"))
    assert(wh.read("vehicle_make_dim").count() == 2)
    assert(wh.read("city_dim").count() == 3)
    // unknown state ZZ → null state_id, city still present
    assert(wh.read("city_dim").filter(col("city_name") === "Nowhere")
      .head().isNullAt(wh.read("city_dim").schema.fieldIndex("state_id")))
    val fact1 = wh.read("auction_fact")
    assert(fact1.count() == 3)
    assert(fact1.select("auction_id").distinct().count() == 3)
    // every fact row resolved its vehicle + status surrogate
    assert(fact1.filter(col("vehicle_id").isNull || col("auction_status").isNull).count() == 0)

    val vehicleIds1 = wh.read("vehicle_dim")
      .select("vin", "vehicle_id").as[(String, Long)].collect().toMap

    // rerun with the same batch → nothing changes (U1 + idempotent U2).
    // city_dim/model_dim counts pin the NULL-KEY case: (Nowhere, NULL) must
    // NOT re-insert under a fresh id (null-safe anti-join — a plain
    // key-list anti-join silently duplicated every null-keyed dim row per
    // incremental load and shifted all later surrogate ids)
    StarLoad.run(wh, batch1)
    assert(wh.read("auction_fact").count() == 3)
    assert(wh.read("auction_status_dim").count() == 2)
    assert(wh.read("vehicle_dim").count() == 3)
    assert(wh.read("city_dim").count() == 3)
    val cityDups = wh.read("city_dim").groupBy("city_name", "state_id")
      .count().filter(col("count") > 1).count()
    assert(cityDups == 0, "null-keyed city re-inserted on re-load")

    // U2: changed mileage upserts the vehicle row, keeps its vehicle_id;
    // U1: fact does NOT change for existing auction_id
    val batch2 = silverDf(Seq(silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 99999L)))
    StarLoad.run(wh, batch2)
    val vd = wh.read("vehicle_dim")
    assert(vd.count() == 3)
    assert(vd.filter(col("vin") === "VINA").head().getAs[Long]("mileage") == 99999L)
    val vehicleIds2 = vd.select("vin", "vehicle_id").as[(String, Long)].collect().toMap
    assert(vehicleIds1 == vehicleIds2) // surrogate keys stable across loads
    assert(wh.read("auction_fact").count() == 3)

    // new auction → appended with a fresh, non-colliding vehicle_id
    val batch3 = silverDf(Seq(silverRow("A4", "VIND", "Sold", "Honda", "Reno", "NV", 5L)))
    StarLoad.run(wh, batch3)
    assert(wh.read("auction_fact").count() == 4)
    val ids = wh.read("vehicle_dim").select("vehicle_id").as[Long].collect()
    assert(ids.distinct.length == ids.length)
  }

  test("a load that adds no dim vocabulary appends no dim and infers no schema") {
    val whDir = Files.createTempDirectory("graft_wh_jobs").toString
    val wh = new Warehouse(spark, whDir)
    StarLoad.run(wh, silverDf(Seq(
      silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 45000L),
      silverRow("A2", "VINB", "Reserve not met", "Mazda", "Austin", "TX", 60000L))))
    // the first load only WROTE vehicle_dim and auction_fact; checking them
    // reads each once, which is the state every later load is in
    assert(wh.read("vehicle_dim").count() == 2 && wh.read("auction_fact").count() == 2)
    val simpleDims = graft.star.Dims.SimpleDimSpecs.map(_._1)
    def dataFiles(t: String): Int = new java.io.File(s"$whDir/$t").listFiles()
      .count(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val filesBefore = simpleDims.map(t => t -> dataFiles(t)).toMap
    val cachedBefore = simpleDims.map(t => t -> wh.readCached(t)).toMap

    // new auctions and vehicles over the first batch's vocabulary: every
    // dim delta is empty
    val jobs = JobCount.during(spark)(StarLoad.run(wh, silverDf(Seq(
      silverRow("A3", "VINC", "Sold", "Ford", "Dallas", "TX", 1000L),
      silverRow("A4", "VIND", "Reserve not met", "Mazda", "Austin", "TX", 2000L)))))

    simpleDims.foreach { t =>
      assert(dataFiles(t) == filesBefore(t), s"$t gained a file from an empty delta")
      assert(wh.readCached(t) eq cachedBefore(t), s"$t's cached frame was dropped")
    }
    assert(jobs.schemaInferences.isEmpty,
      s"schema-inference jobs in a warm load: ${jobs.schemaInferences}")
    // a zero-partition job has no stages and is not part of the bound
    val staged = jobs.jobs.filterNot(_.finalStage == JobCount.NoStages)
    assert(staged.size <= RepeatLoadJobBound,
      s"${staged.size} jobs > $RepeatLoadJobBound:\n${jobs.finalStages.mkString("\n")}")
    assert(wh.read("auction_fact").count() == 4 && wh.read("vehicle_dim").count() == 4)
  }

  test("U2 upsert republishes vehicle_dim as one flat table") {
    val whDir = Files.createTempDirectory("graft_wh_flat").toString
    val wh = new Warehouse(spark, whDir)
    StarLoad.run(wh, silverDf(Seq(
      silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 45000L),
      silverRow("A2", "VINB", "Reserve not met", "Mazda", "Austin", "TX", 60000L),
      silverRow("A3", "VINC", "Sold", "Ford", "Nowhere", "ZZ", 1000L))))
    def byVin(): Map[String, org.apache.spark.sql.Row] =
      wh.read("vehicle_dim").collect().map(r => r.getAs[String]("vin") -> r).toMap
    val before = byVin()

    StarLoad.run(wh, silverDf(Seq(silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 99999L))))

    // one table dir, no partition dirs, no staged or aside sibling left over
    assert(new java.io.File(whDir).list().filter(_.contains("vehicle_dim")).toSeq
      == Seq("vehicle_dim"))
    val parts = new java.io.File(s"$whDir/vehicle_dim").list().toSeq
    assert(!parts.exists(_.startsWith("_bucket=")), s"partition dirs: $parts")
    val after = byVin()
    assert(after.keySet == Set("VINA", "VINB", "VINC"))
    // untouched rows: every value and the vehicle_id as before
    assert(after("VINB") == before("VINB") && after("VINC") == before("VINC"))
    // the upserted row carries the incoming values under its old vehicle_id
    assert(after("VINA").getAs[Long]("mileage") == 99999L)
    assert(after("VINA").getAs[Long]("vehicle_id") == before("VINA").getAs[Long]("vehicle_id"))
  }

  test("a vehicle_dim left in the old _bucket=N layout is flattened by the next load") {
    val whDir = Files.createTempDirectory("graft_wh_oldlayout").toString
    val wh = new Warehouse(spark, whDir)
    StarLoad.run(wh, silverDf(Seq(
      silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 45000L),
      silverRow("A2", "VINB", "Reserve not met", "Mazda", "Austin", "TX", 60000L))))
    val columns = wh.read("vehicle_dim").columns.toSeq
    val before = wh.read("vehicle_dim").collect().map(r => r.getAs[String]("vin") -> r).toMap
    // rewrite the table in the hash-bucketed layout older builds wrote
    val vdPath = s"$whDir/vehicle_dim"
    spark.read.parquet(vdPath).localCheckpoint()
      .withColumn("_bucket", pmod(hash(col("vin"), col("auction_id")), lit(64)))
      .write.mode("overwrite").partitionBy("_bucket").parquet(vdPath)

    // a fresh Warehouse, as after an upgrade: it infers the old layout
    val wh2 = new Warehouse(spark, whDir)
    StarLoad.run(wh2, silverDf(Seq(
      silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 99999L),
      silverRow("A3", "VINC", "Sold", "Ford", "Dallas", "TX", 5L))))

    assert(!new java.io.File(vdPath).list().exists(_.startsWith("_bucket=")))
    val after = new Warehouse(spark, whDir).read("vehicle_dim")
    assert(after.columns.toSeq == columns)
    val rows = after.collect().map(r => r.getAs[String]("vin") -> r).toMap
    assert(rows.keySet == Set("VINA", "VINB", "VINC"))
    assert(rows("VINB") == before("VINB"))
    assert(rows("VINA").getAs[Long]("mileage") == 99999L &&
      rows("VINA").getAs[Long]("vehicle_id") == before("VINA").getAs[Long]("vehicle_id"))
    assert(rows("VINC").getAs[Long]("vehicle_id") == 3L)
  }

  test("a warm load over a many-key vehicle_dim runs no file-listing job") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_wh_list").toString)
    val keys = 240 // hashed into 64 buckets these filled > 32 dirs, past
                   // the parallel-listing threshold
    StarLoad.run(wh, silverDf((0 until keys).map(i =>
      silverRow(s"A$i", s"VIN$i", "Sold", "Ford", "Dallas", "TX", i.toLong))))
    assert(wh.read("vehicle_dim").count() == keys)

    val jobs = JobCount.during(spark)(StarLoad.run(wh, silverDf(Seq(
      silverRow("A0", "VIN0", "Sold", "Ford", "Dallas", "TX", 7L),
      silverRow(s"A$keys", s"VIN$keys", "Sold", "Ford", "Dallas", "TX", 8L)))))
    val listings = jobs.jobs.filter(_.description.startsWith("Listing leaf files"))
    assert(listings.isEmpty, s"listing jobs in a warm load: $listings")
    assert(wh.read("vehicle_dim").count() == keys + 1)
  }

  test("null-vin rows keep their surrogate id across loads (null-safe recovery)") {
    val whDir = Files.createTempDirectory("graft_wh_nullvin").toString
    val wh = new Warehouse(spark, whDir)
    val batch = silverDf(Seq(silverRow("A9", null, "Sold", "Ford", "Dallas", "TX", 1L)))
    StarLoad.run(wh, batch)
    val id1 = wh.read("vehicle_dim").filter(col("vin").isNull)
      .select("vehicle_id").as[Long].collect()
    assert(id1.length == 1)
    StarLoad.run(wh, batch)
    val vd2 = wh.read("vehicle_dim")
    assert(vd2.count() == 1)
    val id2 = vd2.filter(col("vin").isNull).select("vehicle_id").as[Long].collect()
    assert(id2.toSeq == id1.toSeq) // no re-keying on re-load
  }

  test("fact resolution: vehicle_dim degrades to a shuffle join; lookup dims stay broadcast") {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_wh_factplan").toString)
    val batch = silverDf(Seq(silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 1L)))
    StarLoad.run(wh, batch)
    // vehicle_dim is fact-scale: with fact-sized estimates (auto-broadcast
    // off) its join must shuffle on the key; the five true lookup dims keep
    // their broadcast hints
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Facts.resolveFact(wh, batch).queryExecution.sparkPlan.toString
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
      val shuffle = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).length
      assert(bhj == 5, s"expected the 5 hinted lookup-dim joins broadcast, got $bhj:\n$plan")
      assert(shuffle == 1, s"expected the vehicle_dim join to shuffle, got $shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("fused dim loads ≡ per-dim loads: fresh, incremental, null keys") {
    import graft.star.{Dims, PerDimLoads, StateSeed}
    val dimTables = Seq("auction_status_dim", "reserve_status_dim", "body_style_dim",
      "seller_type_dim", "drivetrain_dim", "transmission_dim",
      "vehicle_make_dim", "city_dim", "vehicle_model_dim")
    val whSeq = new Warehouse(spark, Files.createTempDirectory("graft_wh_seq").toString)
    val whFused = new Warehouse(spark, Files.createTempDirectory("graft_wh_fus").toString)
    StateSeed.ensureSeeded(whSeq)
    StateSeed.ensureSeeded(whFused)
    def perDim(staging: org.apache.spark.sql.DataFrame): Unit = {
      PerDimLoads.loadAllSimple(whSeq, staging)
      PerDimLoads.loadCityDim(whSeq, staging)
      PerDimLoads.loadMakeDim(whSeq, staging)
      PerDimLoads.loadModelDim(whSeq, staging)
    }
    def fused(staging: org.apache.spark.sql.DataFrame): Unit = {
      Dims.loadSimpleDimsFused(whFused, staging)
      Dims.loadCompoundDimsFused(whFused, staging)
      ()
    }
    def snapshot(wh: Warehouse, table: String): Seq[String] =
      wh.read(table).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    // batch 1: unknown state (null state_id city), null make (null make_id
    // model) — the null-key compound dims the U1 `<=>` anti-join protects
    val b1 = silverDf(Seq(
      silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 1L),
      silverRow("A2", "VINB", "Reserve not met", "Mazda", "Austin", "TX", 2L),
      silverRow("A3", "VINC", "Sold", null, "Nowhere", "ZZ", 3L)))
    perDim(b1); fused(b1)
    dimTables.foreach { t =>
      assert(snapshot(whSeq, t) == snapshot(whFused, t), s"fresh-load mismatch in $t")
    }
    // batch 2: overlap + new keys + the same null-keyed rows (must not
    // re-insert) — ids must continue from each dim's max identically
    val b2 = silverDf(Seq(
      silverRow("A4", "VIND", "Sold", "Ford", "Dallas", "TX", 4L),    // all-overlap
      silverRow("A5", "VINE", "Withdrawn", "Kia", "Reno", "NV", 5L),  // all-new
      silverRow("A6", "VINF", "Sold", null, "Nowhere", "ZZ", 6L)))    // null keys again
    perDim(b2); fused(b2)
    dimTables.foreach { t =>
      assert(snapshot(whSeq, t) == snapshot(whFused, t), s"incremental mismatch in $t")
    }
    // the null-key pairs exist exactly once
    assert(whFused.read("city_dim").filter(col("city_name") === "Nowhere").count() == 1)
    assert(whFused.read("vehicle_model_dim").filter(col("make_id").isNull).count() == 1)
  }

  test("a star load beside a conf-sensitive query keeps the session conf") {
    // Verify's pool runs the star-load queries beside other queries on one
    // session: the load must neither change the session conf nor run any
    // job under other values, and neither side's result may depend on the
    // other running
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    def sessionConf(): Map[String, String] = keys.map(k => k -> spark.conf.get(k)).toMap
    val before = sessionConf()
    // conf-sensitive: shuffle.partitions sets how many partitions the hash
    // repartition fans out to, and AQE coalesces them
    def probe(): Long = spark.range(0, 64, 1, 4).repartition(col("id"))
      .select(spark_partition_id().as("p")).distinct().count()
    val batch = silverDf(Seq(
      silverRow("A1", "VINA", "Sold", "Ford", "Dallas", "TX", 1L),
      silverRow("A2", "VINB", "Reserve not met", "Kia", "Reno", "NV", 2L),
      silverRow("A3", "VINC", "Sold", null, "Nowhere", "ZZ", 3L)))
    val serialProbe = probe()
    val whSerial = new Warehouse(spark, Files.createTempDirectory("graft_wh_serial").toString)
    StarLoad.run(whSerial, batch)

    val whConc = new Warehouse(spark, Files.createTempDirectory("graft_wh_conc").toString)
    val probes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, String])]()
    val jobs = JobCount.during(spark) {
      def task(f: => Unit): java.util.concurrent.Callable[Unit] = () => f
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val load = pool.submit(task(StarLoad.run(whConc, batch)))
        // probe until the load is done, reading the session conf each round
        pool.submit(task {
          var i = 0
          while (i == 0 || (!load.isDone && i < 200)) {
            probes.add(probe() -> sessionConf())
            i += 1
          }
        }).get()
        load.get()
      } finally pool.shutdown()
    }

    assert(sessionConf() == before, "the load left the session conf changed")
    probes.forEach { case (result, conf) =>
      assert(conf == before, s"session conf changed while the load ran: $conf")
      assert(result == serialProbe, s"probe gave $result beside the load, $serialProbe alone")
    }
    // every SQL job carries shuffle.partitions (the session sets it), so an
    // empty list would mean the job properties were not recorded
    val ran = jobs.jobs.flatMap(j => keys.flatMap(k => j.sqlConf.get(k).map(k -> _)))
    assert(ran.exists(_._1 == "spark.sql.shuffle.partitions"), s"no job recorded its conf: $jobs")
    ran.foreach { case (k, v) =>
      assert(v == before(k), s"a job ran with $k=$v, the session has ${before(k)}")
    }
    Seq("auction_status_dim", "reserve_status_dim", "body_style_dim", "seller_type_dim",
      "drivetrain_dim", "transmission_dim", "city_dim", "vehicle_make_dim",
      "vehicle_model_dim", "vehicle_dim", "auction_fact", "staging").foreach { t =>
      def rows(wh: Warehouse) = wh.read(t).collect().map(_.toSeq.mkString("|")).toSeq.sorted
      assert(rows(whConc) == rows(whSerial), s"$t differs from the serial load")
    }
  }

  test("J1 disjunctive rewrite ≡ OR-join on the state lookup") {
    val staging = Seq(("Dallas", "TX"), ("Austin", "Texas"), ("X", "ZZ"), ("Y", null))
      .toDF("city", "title_state")
    val stateDim = Seq((1L, "Texas", "TX"), (2L, "Nevada", "NV")).toDF("id", "state", "state_abbr")
    val rewritten = graft.star.Joins.disjunctiveLeftRewrite(staging, stateDim, col("title_state"))
      .select("city", "state_id").orderBy("city").collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getLong(1)))
    val orJoin = staging.join(stateDim,
        col("title_state") === col("state_abbr") || col("title_state") === col("state"), "left")
      .select("city", "id").orderBy("city").collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getLong(1)))
    assert(rewritten.toSeq == orJoin.toSeq)
  }
}
