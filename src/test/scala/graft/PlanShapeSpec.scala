package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.RelationalQueries

/** Physical-plan shape assertions — the 100 TB design claims, checked
  * against the plans Spark actually produces.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q05: fact-scale joins degrade to shuffle joins; only true dims stay broadcast") {
    // at test SF everything fits under autoBroadcastJoinThreshold and Spark
    // rightly broadcasts; simulate fact-scale size estimates by disabling
    // auto-broadcast — then ONLY the explicitly hinted dims (nation, region)
    // may build broadcast sides, and orders/customer must shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = RelationalQueries.q05StarRevenue(spark, dir)
        .queryExecution.sparkPlan.toString
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
      val shuffle = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).length
      assert(bhj == 2, s"expected exactly the 2 hinted dim joins broadcast, got $bhj:\n$plan")
      assert(shuffle == 2, s"expected 2 shuffle joins for orders/customer, got $shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q209 robots filter: prefix match rides the site equi-join as a " +
       "residual — BroadcastHashJoin, never a nested loop") {
    val plan = graft.queries.WebQueries.q209Stage(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"rules join must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"prefix predicate must not force a nested loop:\n$plan")
  }

  test("q252 site-template extract: the block frame materializes once — " +
       "no Generate in the final plan, host counts broadcast, no nested " +
       "loop anywhere (r19)") {
    // the posexplode + block-stats HOFs run eagerly into the blocks
    // checkpoint; if the final plan still contained a Generate, the
    // regex pipeline would re-execute under every consumer
    val pages = spark.read.parquet(s"$dir/documents.parquet")
      .select((org.apache.spark.sql.functions.col("doc_id") % 7).cast("string").as("host"),
        org.apache.spark.sql.functions.col("doc_id"),
        graft.ext.Html.synthPage(
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text")).as("html"))
    val plan = graft.ext.Crawl.siteTemplateExtract(pages)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"posexplode re-executes:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"host page counts must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in template extract:\n$plan")
  }

  test("q241 main-content extraction is map-side: no join, no aggregate — " +
       "the one exchange is the output sort's (r19)") {
    val plan = graft.queries.WebQueries.q241MainContent(spark, dir)
      .queryExecution.executedPlan.toString
    // the checkpoint truncates the upstream; the FINAL plan is the
    // sorted dump of checkpointed rows — nothing heavier may appear
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"extraction must be a pure per-row projection:\n$plan")
    // and the upstream stage (pre-checkpoint) shuffles nothing either:
    // documents scan -> two projections -> checkpoint
    val up = graft.queries.WebQueries.q241Stage(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!up.contains("Exchange") && !up.contains("Join"),
      s"the extraction pipeline itself must not shuffle:\n$up")
  }

  test("q242 gram poisoning: extraction text materializes ONCE — the final " +
       "plan has no HOF regex pipeline, joins are equi on gram/doc keys (r19)") {
    val plan = graft.queries.WebQueries.q242BoilerGrams(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents"),
      s"corpus rescanned past the extraction checkpoint:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in the gram join:\n$plan")
    // the sanctioned 1-row corpus-count broadcasts are the ONLY
    // nested-loop joins (one per variant)
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 2,
      s"a real join degraded to a nested loop:\n$plan")
  }

  test("q97 blocked fuzzy join: block-keyed equi-join, no BNLJ, levenshtein above the join") {
    // the entity-resolution shape claim: the expensive comparator may only
    // run INSIDE blocks — the self-join must be an equi-join on the block
    // key (hash/sort-merge/broadcast-HASH, never nested-loop), with the
    // a.name < b.name ordering and the distance filter applied after
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, "jon smith"), (2L, "john smith"), (3L, "jane doe"))
      .toDF("id", "name")
    val plan = graft.ext.Linkage
      .blockedFuzzyPairs(df, "id", "name",
        n => element_at(split(n, " "), -1), maxDist = 2)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"fuzzy join must stay an equi-join on the block key:\n$plan")
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(plan).nonEmpty,
      s"expected a hash/merge equi-join on the block key:\n$plan")
    assert(plan.contains("levenshtein"), s"comparator missing from plan:\n$plan")
  }

  test("column pruning reaches the parquet scan (q33: 3 of 5 event columns)") {
    val plan = RelationalQueries.q33SortDesc(spark, dir)
      .queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse(fail(s"no ReadSchema in:\n$plan"))
    val cols = readSchema.split(",").map(_.split(":")(0).trim).toSet
    assert(cols == Set("event_id", "user_id", "value"), s"scan reads: $readSchema")
  }

  test("literal-alternation RLIKE rewrites to Contains ORs; real regex keeps RLike") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // q02 itself (parquet-backed — a LocalRelation would be constant-folded):
    // pure literal alternation → no regex left in the plan
    val plan = RelationalQueries.q02RlikeFilter(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("RLIKE"), s"alternation not rewritten:\n$plan")
    assert(plan.contains("Contains"), plan)
    // semantics preserved, incl. metacharacter patterns staying on the
    // regex engine (else 'wid.et' could not match 'widget')
    val df = Seq("a widget here", "a bolt there", "neither", "wid.et").toDF("s")
    assert(df.filter(lower(col("s")).rlike("widget|bolt")).count() == 2)
    val regex = df.filter(col("s").rlike("wid.et"))
    val plan2 = spark.read.parquet(s"$dir/part.parquet")
      .filter(col("p_name").rlike("wid.et")).queryExecution.optimizedPlan.toString
    assert(plan2.contains("RLIKE"), s"unsafe pattern was rewritten:\n$plan2")
    assert(regex.count() == 2) // 'a widget here' and 'wid.et' both match wid.et
  }

  test("ANN re-ranks (q31 LSH, q43 IVF) use the bounded TopK aggregator, not a Window") {
    // the window form shuffles every in-bucket (query, candidate) pair; the
    // aggregator caps each partition's contribution at k rows per query
    Seq(graft.queries.SimilarityQueries.q31AnnLsh _,
        graft.queries.SimilarityQueries.q43AnnIvf _).foreach { q =>
      val plan = q(spark, dir).queryExecution.sparkPlan.toString
      assert(!plan.contains("Window"), s"window re-rank crept back in:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"expected the TopKAggregator's ObjectHashAggregate in:\n$plan")
    }
  }

  test("per-doc pair cap ranks via the bounded TopK aggregator, not a pair-scale window") {
    // the cap must never become a window over the full pair set — the
    // whole point is an O(docs·k) shuffle bound when a pathological crawl
    // makes pairs super-linear (r12 VERDICT #4)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val capped = graft.ext.Dedup.cosinePairs(docs, "doc_id", "text",
      maxPairsPerDoc = Some(4))
    val plan = capped.queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"), s"pair-scale window crept in:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected the TopKAggregator's ObjectHashAggregate in:\n$plan")
  }

  test("PQ family (q143 flat, q144 IVF-gated): broadcast query side, no window, no cartesian in the gated scan") {
    // the ADC scan must be a map-side projection against the broadcast LUT
    // frame (flat PQ deliberately pairs all queries × corpus — a broadcast
    // nested-loop on the TINY query side is that shape; the corpus side must
    // never shuffle before the bounded TopK), and the shortlist/re-rank must
    // be the aggregator, not a window
    // the public operator checkpoints the tiny re-rank frame (materialize-
    // once), so the scan stage is pinned on the private[graft] ADC frame
    val emb = graft.util.Tables.load(spark, dir, "embeddings")
    val qs = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    val flat = graft.ext.Similarity
      .pqAdcFrame(emb, qs, "vec_id", "embedding", m = 8, ksub = 16,
        nlist = 0, nprobe = 0)
      .queryExecution.sparkPlan.toString
    assert(flat.contains("BroadcastNestedLoopJoin BuildRight"),
      s"flat ADC scan should broadcast the tiny LUT side:\n$flat")
    assert(flat.contains("graft_pq_dist_matrix"),
      s"expected the fused PQ kernel (not unrolled literals) in:\n$flat")
    // gated: the list_id = probe equi-condition makes the scan a broadcast
    // HASH join — the all-pairs shape must be gone entirely
    val gated = graft.ext.Similarity
      .pqAdcFrame(emb, qs, "vec_id", "embedding", m = 8, ksub = 16,
        nlist = 16, nprobe = 4)
      .queryExecution.sparkPlan.toString
    assert(!gated.contains("CartesianProduct") &&
      !gated.contains("BroadcastNestedLoopJoin"),
      s"ungated all-pairs scan in IVF-PQ:\n$gated")
    assert(gated.contains("BroadcastHashJoin"),
      s"probe gate should be a broadcast hash join:\n$gated")
    // and the public operators' visible (post-checkpoint) plans keep the
    // bounded-aggregator re-rank: no window anywhere
    Seq(graft.queries.SimilarityQueries.q143AnnPq _,
        graft.queries.SimilarityQueries.q144AnnIvfPq _).foreach { qf =>
      val p = qf(spark, dir).queryExecution.sparkPlan.toString
      assert(!p.contains("Window"), s"window re-rank in PQ family:\n$p")
      assert(p.contains("ObjectHashAggregate"), s"expected TopK aggregator in:\n$p")
    }
  }

  test("q50 band-OR near-dup joins on buckets — no cartesian product anywhere") {
    // the whole point of banding is that candidates come from bucket
    // equi-joins; a cartesian (or broadcast nested loop) product would mean
    // the all-pairs shape leaked back in
    val plan = graft.queries.SimilarityQueries.q50BandedNearDup(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in banded near-dup:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop in banded near-dup:\n$plan")
  }

  test("q201 forest detector: ZERO joins — one bucket-keyed exchange into " +
       "mapGroups, never a pair-scale shuffle") {
    // the scale claim behind the spanning-forest swap: the full detector's
    // pair materialization (bucket self-join + two embedding joins) is
    // gone ENTIRELY — pair enumeration lives inside each bucket's task,
    // so the detector plan must contain no join node of any kind and
    // exactly the groupByKey exchange feeding MapGroups
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qe = graft.ext.Similarity.bandedNearDupForest(emb, "vec_id",
        "embedding", threshold = 0.35, bands = 3, planesPerBand = 6)
      .queryExecution
    val plan = qe.sparkPlan.toString
    assert(!("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|" +
        "BroadcastNestedLoopJoin|CartesianProduct").r.findAllIn(plan).hasNext,
      s"forest detector must not join:\n$plan")
    assert(plan.contains("MapGroups"), s"expected MapGroups:\n$plan")
    // exchanges only exist post-insertion (the r12 sparkPlan lesson)
    val exec = qe.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(exec).length == 1,
      s"expected exactly the bucket-keyed exchange:\n$exec")
  }

  test("q53 capstone: detector materializes once — final plan has no LSH, no embeddings scan") {
    // the near-dup detector + clustering run eagerly into the edge/label
    // checkpoints; if the final plan still contained a sign_buckets
    // expression or an embeddings file scan, the detector subtree would
    // re-execute under the write sink (and its sampling passes)
    val plan = graft.queries.CurationQueries.q53CurationPipeline(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("sign_buckets"), s"detector re-appears in final plan:\n$plan")
    assert(!plan.contains("embeddings"), s"embeddings rescanned in final plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in capstone:\n$plan")
    // exactly the one source-keyed running-total window survives (the
    // cluster_size window is pruned — q53 never references it)
    assert("Window".r.findAllIn(plan).length == 1, s"expected exactly 1 window:\n$plan")
  }

  test("q218 capstone: extraction AND detector materialize once — final " +
       "plan has no container walk, no HOF extraction, no LSH, no " +
       "embeddings scan") {
    // the crawl chain (blob mapGroups + WARC mapPartitions + block-stats
    // HOFs) runs eagerly into the extraction checkpoint; the forest
    // detector (groupByKey → MapGroups) into the edge checkpoint — if the
    // final plan contains ANY object operator, one of the two byte-scale
    // pipelines would re-execute under the write sink
    val plan = graft.queries.CurationQueries.q218CrawlCuration(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") && !plan.contains("MapGroups"),
      s"object operator leaked past a checkpoint:\n$plan")
    assert(!plan.toLowerCase.contains("sign_buckets"),
      s"detector re-appears in final plan:\n$plan")
    assert(!plan.contains("embeddings"), s"embeddings rescanned in final plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in capstone:\n$plan")
    // exactly the one source-keyed running-total window (q53's shape)
    assert("Window".r.findAllIn(plan).length == 1,
      s"expected exactly 1 window:\n$plan")
  }

  test("q229 hostile capstone: walk AND extraction AND detector " +
       "materialize once — final plan is object-operator-free; the only " +
       "nested-loop join is the single-row loss-totals broadcast") {
    // the hostile walk (member resync + record resync + body decode)
    // runs eagerly into the walked checkpoint and feeds BOTH consumers
    // (extraction chain + loss aggregate) from there; extraction and the
    // forest detector land in their own checkpoints (the q218 rule) — an
    // object operator in the final plan means one of the byte-scale
    // pipelines re-executes under the write sink
    val plan = graft.queries.CurationQueries.q229HostileCuration(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("MapPartitions") && !plan.contains("MapGroups"),
      s"object operator leaked past a checkpoint:\n$plan")
    assert(!plan.toLowerCase.contains("sign_buckets"),
      s"detector re-appears in final plan:\n$plan")
    assert(!plan.contains("embeddings"), s"embeddings rescanned in final plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian product:\n$plan")
    // exactly ONE nested-loop join: the broadcast of the 1-row loss
    // aggregate (bounded by construction — the sanctioned cross-join
    // shape); any second one means a real join degraded
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1,
      s"expected exactly the loss-totals broadcast join:\n$plan")
    assert("Window".r.findAllIn(plan).length == 1,
      s"expected exactly 1 window:\n$plan")
  }

  test("q243 archive-write capstone: ONE write feeding sidecar, re-walk " +
       "and seek — the curation chain never re-executes under the sink") {
    // the crawl→extract→write pipeline runs eagerly into the written-
    // blobs checkpoint; the final plan re-walks and seeks FROM that
    // checkpoint, so the only object operators left are the two
    // checkpoint consumers (cdxIndex demux + seekRecord read), never a
    // MapGroups (the write) or a documents scan (the curation chain)
    val plan = graft.queries.WebQueries.q243ArchiveWrite(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("MapGroups"),
      s"the archive write re-executes under the sink:\n$plan")
    assert(!plan.contains("documents"),
      s"curation chain rescanned in final plan:\n$plan")
    assert("MapPartitions".r.findAllIn(plan).length <= 2,
      s"more object consumers than the re-walk + seek:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in capstone:\n$plan")
  }

  test("q195 capstone: corpus work ends at the capped checkpoint — final " +
       "plan is survivor-sized (no corpus scan, no detector, no margin)") {
    // margins + WindowGroupLimit top-k run eagerly into the capped
    // checkpoint; the audit/detector/CC land in their own checkpoints; if
    // the final rollup plan still scanned documents or recomputed margins,
    // the corpus pass would re-execute under the write sink
    val plan = graft.queries.CurationQueries.q195CuratedRelease(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents") && !plan.contains("embeddings"),
      s"corpus rescanned in final plan:\n$plan")
    assert(!plan.contains("graft-ft"), s"margins recomputed in final plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in capstone:\n$plan")
  }

  test("q51 label-propagation round plan is O(1) nodes (checkpoint contract)") {
    // every round's frames must read materialized blocks, not the detector:
    // a round plan referencing parquet or LSH means lineage grew — the exact
    // regression that OOM'd sf0.1 before the localCheckpoint fix
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("vec_a", "vec_b")
    val labels = graft.ext.Dedup.duplicateClusters(pairs, "vec_a", "vec_b")
    val plan = labels.queryExecution.executedPlan.toString
    // "Scan[obj" = ExternalRDDScan over the loop's checkpoint-truncated
    // tuple RDD (the RDD formulation); the DF-loop spellings stay accepted
    assert(plan.contains("Scan ExistingRDD") || plan.contains("LocalTableScan")
        || plan.contains("Scan[obj"),
      s"labels must read checkpointed rows:\n$plan")
    assert(!plan.contains("Join"), s"final labels plan must be join-free (post-fixpoint):\n$plan")
    val got = labels.select("vec_id", "cluster_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L)), got.toString)
  }

  test("q52 sequence packing is a single source-keyed window shuffle") {
    val plan = graft.queries.CurationQueries.q52SequencePacking(spark, dir)
      .queryExecution.sparkPlan.toString
    val windows = "Window".r.findAllIn(plan).length
    assert(windows == 1, s"expected exactly 1 window:\n$plan")
    // the window is keyed on source — not an unpartitioned global window
    assert("Window.*partitionBy|Window \\[.*windowspecdefinition\\(source".r
      .findFirstIn(plan).isDefined || plan.contains("partitionBy"),
      s"window must be source-keyed:\n$plan")
  }

  test("q117 priority sample: global top-k is TakeOrdered, not a range sort") {
    // the top-(k+1) selection must plan as per-partition heaps merged on
    // one reducer (TakeOrderedAndProject) — a range-partitioned global
    // SortExec over the corpus would be the 100 TB scale-killer here
    val plan = graft.queries.CurationQueries
      .q117PrioritySample(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
    // the only repartition allowed is the bounded 20-row output dump's
    assert(!plan.contains("rangepartitioning"),
      s"range-partitioned sort leaked into:\n$plan")
  }

  test("filter pushdown reaches the parquet scan (q01: shipdate predicate)") {
    val plan = RelationalQueries.q01PricingSummary(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert("LessThanOrEqual\\(l_shipdate".r.findFirstIn(plan).isDefined,
      s"shipdate predicate not pushed:\n$plan")
  }

  test("fresh-id assignment has no single-partition Window and matches key order") {
    // on an initial bulk load the fresh set IS the whole fact table —
    // a no-partition row_number window would funnel it through one task.
    // assignFreshIds must (a) contain no WindowExec at all, (b) still
    // reproduce exactly the row_number-over-key-order ids the oracle expects.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val fresh = Seq(("VINB", 2L), ("VINA", 9L), (null.asInstanceOf[String], 1L), ("VINA", 3L))
      .toDF("vin", "auction_id")
      .withColumn("vehicle_id", lit(null).cast("long"))
      .repartition(4)
    val assigned = graft.star.Facts.assignFreshIds(fresh, maxId = 100L)
    assert(!assigned.queryExecution.sparkPlan.toString.contains("Window"),
      "fresh-id path must not use a Window")
    val got = assigned.select("vin", "auction_id", "vehicle_id")
      .as[(String, Long, Long)].collect().toSet
    // key order (vin asc nulls last, auction_id asc): VINA/3 → 101,
    // VINA/9 → 102, VINB/2 → 103, null/1 → 104
    assert(got == Set(("VINA", 3L, 101L), ("VINA", 9L, 102L),
      ("VINB", 2L, 103L), (null, 1L, 104L)), got.toString)
  }

  test("q61 hash split is map-side only before the dump sort: no Exchange, no join") {
    // the split must stay a per-row expression — any shuffle or join here
    // means the operator can't run at scan speed on 100 TB
    val plan = graft.ext.Sampling.hashSplit(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"hashSplit must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"hashSplit must not join:\n$plan")
  }

  test("q63 mixing: corpus path is scan + broadcast join + filter — the only " +
      "shuffle aggregates the per-source counts") {
    val plan = graft.queries.CurationQueries.q63LangMix(spark, dir)
      .queryExecution.sparkPlan.toString
    // the rates side joins back via broadcast — never a corpus-side shuffle join
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"equi-join expected:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus side must not shuffle-join:\n$plan")
    // aggregation shuffles exist only for the (bounded) per-lang counts —
    // they key on lang, never on doc_id
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"no corpus-keyed exchange allowed:\n$plan")
  }

  test("q64 cube expands the PREAGGREGATE, not the fact scan") {
    // grouping-set expansion multiplies its input 4×: Expand must sit above
    // the base (flag, status) aggregate — an Expand directly over the scan
    // means 4× the fact table through the shuffle at 100 TB
    val plan = graft.queries.AdvancedJoinQueries.q64Cube(spark, dir)
      .queryExecution.sparkPlan.toString
    val expandIdx = plan.indexOf("Expand")
    val scanIdx = plan.indexOf("Scan parquet")
    assert(expandIdx >= 0 && scanIdx >= 0, s"missing Expand/Scan:\n$plan")
    // plans print top-down: HashAggregate(s) … Expand … HashAggregate(base)
    // … Scan. The base aggregate must appear BETWEEN Expand and the scan.
    val between = plan.substring(expandIdx, scanIdx)
    assert(between.contains("HashAggregate"),
      s"no base aggregate between Expand and scan (cube runs over raw rows):\n$plan")
  }

  test("q66 heavy hitters: count is partial-aggregated; window keys on the group") {
    val plan = graft.ext.Corpus.heavyHitters(
        spark.read.parquet(s"$dir/documents.parquet"), "source", "text", 5)
      .queryExecution.sparkPlan.toString
    // map-side combine on (source, token) before the exchange
    assert("partial_count".r.findAllIn(plan).nonEmpty ||
      plan.contains("Partial"), s"no partial aggregation:\n$plan")
    // the ranking window partitions on source — never a global (empty-key)
    // window, which would funnel the vocabulary through one task
    assert(!plan.contains("Window [") ||
      plan.contains("windowspecdefinition(source"), s"window must key on source:\n$plan")
  }

  test("q69 deterministic shuffle has no single-partition Window") {
    val plan = graft.ext.Sampling.deterministicShuffle(
        spark.read.parquet(s"$dir/documents.parquet").select("doc_id"), "doc_id")
      .queryExecution.executedPlan.toString
    // dense positions come from the distributed sort + zipWithIndex path —
    // a row_number() over an empty partition spec would be the funnel
    assert(!plan.contains("Window"), s"no Window allowed in the id path:\n$plan")
    assert(!plan.contains("SinglePartition"), s"no single-partition exchange:\n$plan")
  }

  test("q79 bloom prefilter applies MAP-SIDE: below every shuffle, above the scan") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val plan = graft.queries.CurationQueries.q79BloomDecontaminate(spark, dir)
      .queryExecution.sparkPlan
    val bloomFilters = plan.collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    assert(bloomFilters.nonEmpty, s"no might_contain filter in:\n$plan")
    // the prefilter must cut the corpus gram stream BEFORE any exchange —
    // a bloom above the shuffle would ship every gram and filter late
    bloomFilters.foreach { f =>
      assert(f.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"bloom filter sits above a shuffle (late filtering):\n$plan")
    }
  }

  test("q76/q77 plans stay equi-join only: no cartesian, no nested-loop") {
    val scd2 = graft.queries.WarehouseQueries.q76Scd2(spark, dir)
      .queryExecution.sparkPlan.toString
    val span = graft.ext.Corpus.spanDedup(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 8)
      .queryExecution.sparkPlan.toString
    Seq("q76" -> scd2, "q77" -> span).foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$n has a non-equi join:\n$p")
    }
  }

  test("q90 cross-corpus LSH joins on the band key only: hash equi-join, no BNLJ") {
    // the incremental-dedup claim: new-crawl bands meet reference bands in
    // ONE equi-join on the 32-hex band key — any cartesian/nested-loop here
    // would be corpus × corpus at 100 TB
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    import org.apache.spark.sql.functions.col
    def sig(p: Int) = graft.ext.Dedup.minhashSignature(
      docs.filter(col("doc_id") % 2 === p), "doc_id", "text")
    val plan = graft.ext.Dedup.crossCorpusCandidates(sig(1), sig(0), "doc_id")
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus join is not an equi-join:\n$plan")
    assert(plan.contains("Join"), s"expected a band-key join:\n$plan")
  }

  test("q88/q89 map paths: line filter adds no shuffle; url dedup shuffles once") {
    // q88 is a pure per-row rewrite — its only exchange is the output sort's;
    // q89's single exchange is the canonical-key aggregation (tinySort's
    // 1-partition shuffle rides on top)
    val lf = graft.queries.CurationQueries.q88LineFilter(spark, dir)
      .queryExecution.sparkPlan.toString
    val beforeSort = lf.split("Sort", 2).last // plan prints leaves last
    assert("Exchange".r.findAllIn(beforeSort).length <= 1,
      s"q88 should only exchange for the final sort:\n$lf")
    val ud = graft.queries.CurationQueries.q89UrlDedup(spark, dir)
      .queryExecution.sparkPlan.toString
    val agg = "HashAggregate".r.findAllIn(ud).length
    assert(agg >= 2, s"q89 canonical dedup should partial-aggregate:\n$ud")
    assert(!ud.contains("Join"), s"q89 needs no join:\n$ud")
  }

  test("q81 scoring path is map-side only: vocab ships as a literal, no join, no explode") {
    // unigramLmScore collects the bounded vocabulary while BUILDING the
    // frame; the returned plan must score documents with a pure projection —
    // at 100 TB the corpus path adds zero shuffles
    val plan = graft.ext.Corpus.unigramLmScore(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 25)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Join"), s"scoring path must not join:\n$plan")
    assert(!plan.contains("Generate"), s"scoring path must not explode:\n$plan")
    assert(!plan.contains("Exchange"), s"scoring path must not shuffle:\n$plan")
  }

  test("q112 containment join: prefix-token equi-joins only — no cartesian, no BNLJ") {
    // the set-containment claim: candidate generation must be an equi-join
    // on the shingle key (prefix side × posting lists) — any nested-loop
    // here is corpus × corpus at 100 TB
    val plan = graft.ext.Dedup.containmentJoin(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q112 must stay equi-join only:\n$plan")
  }

  test("q110 CMS: cell counts partial-aggregate below the shuffle; probe join is broadcast") {
    // the long-form sketch claim: the d-way explode feeds a map-side
    // combined count (shuffle carries <= d*w cells per group, not events),
    // the probe side broadcasts, and nothing degenerates to a nested loop
    val plan = graft.queries.ProfilingQueries.q110CmsFreq(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q110 probe must be an equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q110 probe side should broadcast:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"q110 cell counts should partial-aggregate:\n$plan")
  }

  test("q113 quantile sketch: typed agg partial-aggregates; exact side broadcasts; no BNLJ") {
    // the bounded-state claim: the bottom-k pair aggregator runs with a
    // partial (map-side) phase so the shuffle carries <= k pairs per group
    // per partition, the vocabulary-sized exact-percentile frame broadcasts
    // onto the sketch frame, and no join degenerates
    val plan = graft.queries.ProfilingQueries.q113QuantileSketch(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q113 joins must stay equi:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q113 exact side should broadcast:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"q113 sketch agg should have a partial phase:\n$plan")
  }

  test("q115 winnow overlap: fingerprint selection is map-side — no Window, no Exchange") {
    // winnowing is document-local: the fingerprint subplan must be scan →
    // kernel → explode with NO shuffle and no window (a WindowExec means
    // the fused kernel regressed to the shuffled two-window spelling); the
    // full query checkpoints that set, so assert the kernel there
    val fpPlan = graft.ext.Dedup.winnowedFingerprints(
        graft.util.Tables.load(spark, dir, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(fpPlan.contains("graft_winnow_fingerprints"),
      s"fingerprints should come from the fused kernel:\n$fpPlan")
    assert(!fpPlan.contains("Exchange") && !fpPlan.contains("Window"),
      s"fingerprint selection must be map-side only:\n$fpPlan")
    val plan = graft.queries.DedupQueries.q115WinnowOverlap(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"q115 must have no window anywhere:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q115 pair join must stay equi:\n$plan")
  }

  test("q114 sketch overlap: day pairing and probe joins are broadcast equi-joins") {
    // the set-algebra claim: all post-sketch work happens on days-sized
    // frames via broadcast equi-joins (the consecutive-day pairing is a
    // precomputed next-day KEY, not a date-arithmetic theta join), and the
    // corpus-scale phase is only the partial-aggregated sketch build
    val plan = graft.queries.ProfilingQueries.q114SketchOverlap(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q114 pairing must be an equi-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"q114 small frames should broadcast:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"q114 sketch agg should have a partial phase:\n$plan")
  }

  test("q118/q130 shard assignment is map-only: one aggregation exchange, no join, no window") {
    // the re-shard claim for BOTH schemes (HRW and ring): assignment is a
    // pure per-row expression, so the whole transition matrix costs one
    // bounded aggregation exchange — nothing else may shuffle
    import org.apache.spark.sql.functions._
    val items = graft.util.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"))
    for (assign <- Seq(
        graft.ext.Layout.rendezvousShard(col("o_orderkey"), 8),
        graft.ext.Layout.ringShard(col("o_orderkey"), 8, 16))) {
      val plan = items.withColumn("s", assign)
        .groupBy(col("s")).agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Join") && !plan.contains("Window"), plan)
      val ex = "Exchange".r.findAllIn(plan).length
      assert(ex == 1, s"expected exactly the aggregation exchange, got $ex:\n$plan")
    }
  }

  test("q137 range assignment is map-only: boundary array rides as a literal, no join, no window") {
    // the planned-layout claim: once boundaries exist (one bounded sample
    // pass), assigning every row costs a scan-stage expression — the audit
    // aggregation is the ONLY exchange, and no per-row join/window appears
    import org.apache.spark.sql.functions._
    val orders = graft.util.Tables.load(spark, dir, "orders")
    val bounds = graft.ext.Layout.rangeBoundaries(orders,
      col("o_orderkey"), col("o_totalprice"), parts = 4, sampleK = 64)
    val arr = array(bounds.map(b => lit(b)): _*)
    val plan = orders.where(col("o_totalprice").isNotNull)
      .withColumn("p", size(filter(arr, b => col("o_totalprice") >= b)))
      .groupBy(col("p")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    val ex = "Exchange".r.findAllIn(plan).length
    assert(ex == 1, s"expected exactly the audit aggregation exchange, got $ex:\n$plan")
  }

  test("q138 reducer-balance audit runs on the key histogram: one corpus exchange, then bounded work") {
    // the planning-audit claim: the corpus is touched by ONE
    // map-side-combined aggregation; the candidate explosion and both
    // rollups operate on histogram rows (partial_count must appear below
    // the first exchange), with no join anywhere
    import org.apache.spark.sql.functions._
    val plan = graft.ext.Skew.reducerBalanceAudit(
        graft.util.Tables.load(spark, dir, "events"), col("user_id"),
        Seq(8, 16))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"key histogram must partial-aggregate below the shuffle:\n$plan")
  }

  test("q124 BPE encode pass is map-side only: fused kernel, no Exchange, no Join") {
    // the tokenizer-apply claim: with the merge table a codegen constant,
    // encoding is scan-stage work — the relational spelling's R rounds of
    // windows never appear
    import org.apache.spark.sql.functions._
    val plan = graft.util.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.ext.Bpe.encodeTokens(col("text"),
          Seq(("a", "b"), ("ab", " "))).as("toks"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bpe_encode"),
      s"tokens should come from the fused kernel:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Window") &&
      !plan.contains("Join"),
      s"encode must be map-side only:\n$plan")
  }

  test("q160 unigram encode pass is map-side only: fused kernel, no Exchange, no Join") {
    // the Kudo-tokenizer-apply claim: with the vocabulary a codegen
    // constant, the per-word Viterbi is scan-stage work — the relational
    // spelling's wordLenCap level joins never appear (they are the
    // ORACLE's shape, not the engine's)
    import org.apache.spark.sql.functions._
    val plan = graft.util.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.UnigramEncode.unigramEncode(col("text"),
          Seq(("a", 0.5), ("b", 0.25), ("ab", 0.25))).as("pieces"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_unigram_encode"),
      s"pieces should come from the fused kernel:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("Window") &&
      !plan.contains("Join"),
      s"encode must be map-side only:\n$plan")
  }

  test("q161 hamming near-dup: kernel hash + band equi-join, no cartesian, no window") {
    // the guaranteed-recall claim rides an EQUI-join on (band, value) —
    // a cartesian/BNLJ here would mean the banding silently degenerated
    val plan = graft.queries.DedupQueries.q161HammingNearDup(spark, dir)
      .queryExecution.sparkPlan.toString
    // the checkpoint hides the scan stage from the outer plan — pin the
    // kernel on the materialized-once hash frame itself
    import org.apache.spark.sql.functions.col
    val hashStage = graft.ext.Dedup.hammingHashFrame(
        graft.util.Tables.load(spark, dir, "documents").select(col("doc_id"),
          graft.functions.TextDHash.textDHash(col("text")).as("dhash")),
        "doc_id", "dhash")
      .queryExecution.sparkPlan.toString
    assert(hashStage.contains("graft_text_dhash"),
      s"hash should come from the fused kernel:\n$hashStage")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band join must stay equi:\n$plan")
    assert(!plan.contains("Window"), s"no window anywhere in q161:\n$plan")
  }

  test("q153 gopher rules are map-side only: no Exchange, no Join, no Window") {
    // the screening claim: a 100 TB corpus filters at scan speed — every
    // rule is a per-row expression, so the whole frame (before the dump
    // sort) must plan as a single scan stage
    val plan = graft.ext.TextOps.gopherRules(
        graft.util.Tables.load(spark, dir, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Window"),
      s"gopher rules must be map-side only:\n$plan")
  }

  test("q150 HLL: register build partial-aggregates below the shuffle; no window") {
    // the bounded-shuffle claim: the (group, bucket) register aggregation
    // must map-side combine (partial_max before the exchange), and no
    // window may appear anywhere in the sketch path
    val plan = graft.ext.Sketch.hllRollup(
        graft.util.Tables.load(spark, dir, "lineitem"),
        "l_returnflag", "l_partkey")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_max") || plan.contains("partial max") ||
      "HashAggregate.*max".r.findFirstIn(plan).nonEmpty,
      s"register max must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"), s"no window in the sketch path:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"exact-side join must stay broadcast-hash:\n$plan")
  }

  test("q151 vocab growth: one corpus scan, no ntile, bounds is the only nested-loop") {
    // the prefix-bucket claims: NO ntile/global row_number (equi-width on
    // the id instead); the (type, bucket) count materializes ONCE (cache)
    // so both derived views read it instead of re-tokenizing the corpus;
    // the only nested-loop join is the broadcast 1-row bounds frame
    val plan = graft.ext.Corpus.vocabGrowth(
        graft.util.Tables.load(spark, dir, "documents"), "doc_id", "text",
        buckets = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"the (type, bucket) count must materialize once for its two readers:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("NTile"), s"no ntile — equi-width on the id:\n$plan")
  }

  test("q163 BM25: df broadcasts, doc-length join shuffles, totals are the only nested-loop") {
    // the term-weighting scale claims under simulated fact-scale sizes:
    // the vocabulary-sized document-frequency side stays a broadcast hash
    // join, the doc-keyed (tf ⋈ dl) join degrades to a shuffle join, and
    // the single BroadcastNestedLoopJoin is the 1-row (N, Σdl) totals
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = graft.ext.Corpus.bm25TopK(
          graft.util.Tables.load(spark, dir, "documents"), "doc_id", "text", k = 3)
        .queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"df side must stay broadcast:\n$plan")
      assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(plan).nonEmpty,
        s"doc-length join must shuffle at fact scale:\n$plan")
      assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length == 1 &&
        !plan.contains("CartesianProduct"),
        s"only the 1-row totals may nested-loop:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q165 contamination audit: benchmark grams broadcast map-side, no cartesian") {
    // the corpus side must never shuffle its full gram set: the hinted
    // benchmark gram set builds the broadcast side of the only join the
    // 100 TB stream touches; everything downstream is benchmark-bounded
    import spark.implicits._
    val corpus = Seq((1L, "q w e r t")).toDF("doc_id", "text")
    val bench = Seq((2L, "q w e r")).toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = graft.queries.CurationQueries
        .contaminationAudit(corpus, bench, "doc_id", "text", n = 3)
        .queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"benchmark gram set must broadcast against the corpus stream:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"equi-joins only:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q171/q172 suffix array: range-partitioned rank, no unpartitioned window, " +
       "adjacency is an equi-join, LCP is the kernel") {
    val qe = graft.queries.DedupQueries.q171SuffixArray(spark, dir)
      .queryExecution
    val plan = qe.sparkPlan.toString
    // the suffix sort IS a range exchange — pinned on the pre-checkpoint
    // seam (the materialization that makes the _pid mapping consistent
    // across consumers hides the exchange behind a LogicalRDD scan in the
    // visible plan); ranking windows must all carry a partition key
    // (spark_partition_id / doc_id / the bounded constant-key offset
    // table) — an unpartitioned global window here would serialize the
    // corpus through one task
    val rangedPlan = graft.ext.SuffixArray.rangedWithPid(
        graft.util.Tables.load(spark, dir, "documents"),
        Seq(org.apache.spark.sql.functions.col("doc_id")))
      .queryExecution.sparkPlan.toString
    assert(rangedPlan.contains("rangepartitioning"),
      s"suffix order should come from a range exchange:\n$rangedPlan")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan\n"),
      s"ranked frame should read the one materialized partitioning:\n$plan")
    assert(plan.contains("graft_lcp"),
      s"adjacent LCP should be the codegen kernel:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"rank adjacency must be an equi-join:\n$plan")
    // the no-funnel-window invariant (QueriesSpec checks every query),
    // every WindowExec carries a non-empty partition spec
    val wins = "Window".r.findAllIn(plan).length
    assert(wins >= 1, s"expected ranking windows in the plan:\n$plan")
    assert(PlanWalk.unpartitionedWindows(qe.sparkPlan).isEmpty,
      s"unpartitioned WindowExec in the suffix rank:\n$plan")
  }

  test("q166/q167/q168: margin/vote layers windowless over checkpointed top-k; " +
       "IVF generator is a list-keyed hash join") {
    import org.apache.spark.sql.functions.col
    val emb = graft.util.Tables.load(spark, dir, "embeddings")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    // the visible (post-checkpoint) plans of the margin miner and the label
    // auditor: the rerank/vote layers must be equi-joins + the bounded TopK
    // aggregator — never a window, never a nested loop over pairs
    Seq(
      graft.ext.Similarity.marginMine(src, tgt, "vec_id", "embedding", 3),
      graft.ext.Similarity.knnClassify(src, tgt, "vec_id", "embedding", "label", 3),
      graft.ext.Similarity.marginMineIvf(src, tgt, "vec_id", "embedding", 3,
        nlist = 4, nprobe = 2)
    ).foreach { df =>
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("Window"), s"windowless layer expected:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"equi-joins only above the checkpointed top-k frames:\n$plan")
    }
    // the IVF generator itself (checkpoints hide it from the plans above):
    // candidate generation must key on list_id — a broadcast HASH join, not
    // the brute-force nested loop
    val gen = graft.ext.Similarity
      .ivfTopK(tgt, src, "vec_id", "embedding", 3, nlist = 4, nprobe = 2)
      .queryExecution.sparkPlan.toString
    assert(gen.contains("BroadcastHashJoin"),
      s"IVF candidates must come from the list-keyed hash join:\n$gen")
    assert(!gen.contains("BroadcastNestedLoopJoin") &&
      !gen.contains("CartesianProduct"),
      s"no all-pairs stage inside the IVF generator:\n$gen")
  }

  test("q177-q180: dedup/audit layers are equi-joins and map-side blocks — " +
       "no nested loops, no unpartitioned windows, q179 join-free") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.load(spark, dir, "documents")
    val emb = graft.util.Tables.load(spark, dir, "embeddings")
    val q177 = graft.ext.Dedup.paragraphDedup(docs, "doc_id", "text", 20)
      .queryExecution
    val p177 = q177.sparkPlan.toString
    assert(!p177.contains("BroadcastNestedLoopJoin") &&
      !p177.contains("CartesianProduct"),
      s"keeper join must be hash-keyed:\n$p177")
    assert(!p177.contains("Generate explode(split"),
      s"blocks must slice map-side, never explode per word:\n$p177")
    val q178 = graft.ext.Dedup.splitLeakageAudit(
        docs.withColumn("is_test", col("doc_id") % 10 === 0),
        "doc_id", "text", "is_test")
      .queryExecution
    val p178 = q178.sparkPlan.toString
    assert(!p178.contains("BroadcastNestedLoopJoin") &&
      !p178.contains("CartesianProduct"),
      s"band candidates + shingle verify are equi-joins only:\n$p178")
    val q179 = graft.ext.TextOps.codeSwitchAudit(docs, "doc_id", "text", 20)
      .queryExecution
    val p179 = q179.sparkPlan.toString
    assert(!p179.contains("Join"), s"q179 must be join-free:\n$p179")
    assert(PlanWalk.unpartitionedWindows(q179.sparkPlan).isEmpty)
    val q180 = graft.ext.Similarity.prototypicalityPrune(emb, "vec_id",
        "embedding", "label", 6000L)
      .queryExecution
    val p180 = q180.sparkPlan.toString
    assert(PlanWalk.unpartitionedWindows(q180.sparkPlan).isEmpty,
      s"the hardness rank must stay a per-label window:\n$p180")
    assert(!p180.contains("BroadcastNestedLoopJoin") &&
      !p180.contains("CartesianProduct"))
  }

  test("q187/q188/q189: incremental audits join only by hash/broadcast — " +
       "no nested loops, no unpartitioned windows in the corpus path") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.load(spark, dir, "documents")
    val emb = graft.util.Tables.load(spark, dir, "embeddings")
    val index = graft.ext.SuffixArray.contaminationIndex(
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 64)
    // auditShard: the only join is the BROADCAST carry on _pid; every
    // window is per-partition (the constant-key summary windows are over
    // the bounded partition-count frame, their partitionSpec is non-empty)
    val q187 = graft.ext.SuffixArray.auditShard(index,
        docs.filter(col("doc_id") % 5 === 1), "doc_id", "text", 20, 64)
      .queryExecution
    val p187 = q187.sparkPlan.toString
    assert(!p187.contains("BroadcastNestedLoopJoin") &&
      !p187.contains("CartesianProduct"), s"carry must broadcast-hash:\n$p187")
    assert(PlanWalk.unpartitionedWindows(q187.sparkPlan).isEmpty,
      s"no corpus-wide window in the audit:\n$p187")
    assert(p187.contains("BroadcastHashJoin"),
      s"the _pid carry join must be a broadcast hash join:\n$p187")
    val q189 = graft.ext.SuffixArray.exciseContaminated(index,
        docs.filter(col("doc_id") % 5 === 1), "doc_id", "text", 20, 64)
      .queryExecution
    val p189 = q189.sparkPlan.toString
    assert(!p189.contains("BroadcastNestedLoopJoin") &&
      !p189.contains("CartesianProduct"))
    assert(PlanWalk.unpartitionedWindows(q189.sparkPlan).isEmpty,
      s"island merge must stay per-doc windows:\n$p189")
    // q188: assignment is map-side against literal centroids — the plan
    // has NO join at all below the bounded nlist-row report frame except
    // the two occupancy hash joins
    val q188 = graft.ext.Similarity.ivfMaintenanceAudit(
        emb.filter(col("vec_id") % 4 =!= 0), emb.filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding", 8)
      .queryExecution
    val p188 = q188.sparkPlan.toString
    assert(!p188.contains("BroadcastNestedLoopJoin") &&
      !p188.contains("CartesianProduct"))
    assert(PlanWalk.unpartitionedWindows(q188.sparkPlan).isEmpty,
      s"totals must ride the constant-key bounded window:\n$p188")
  }

  test("q190 prune stage: broadcast LEFT-SEMI over the index prefix keys, " +
       "zero shuffle of the shard side") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.load(spark, dir, "documents")
    val index = graft.ext.SuffixArray.contaminationIndex(
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", 64)
    // the stage above suffixBest's eager checkpoint: clean suffixes must
    // drop map-side — a shard-side shuffle here means the prune shipped
    // the whole shard anyway and bought nothing at 100 TB
    val plan = graft.ext.SuffixArray.prunedCandidates(index,
        docs.filter(col("doc_id") % 5 === 2), "doc_id", "text", 20, 64)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"prune must be a broadcast left-semi hash join:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the shard side must never shuffle-join:\n$plan")
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"no shard-keyed exchange in the prune stage:\n$plan")
  }

  test("q194 domain cap: the rank filter rides WindowGroupLimit (local " +
       "top-k BEFORE the exchange); q193 curve windows only the bounded " +
       "bin frame") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p194 = graft.ext.TextOps.domainQualityCap(docs, "source", "doc_id",
        "text", 50)
      .queryExecution.executedPlan.toString
    // rank <= k must push a per-task top-k below the window exchange —
    // without it every row of a 100 TB source ships through the shuffle
    assert(p194.contains("WindowGroupLimit"),
      s"rank filter must compile to WindowGroupLimit pushdown:\n$p194")
    assert(!p194.contains("hashpartitioning(doc_id"),
      s"no doc-keyed exchange:\n$p194")
    val p193 = graft.ext.TextOps.classifierYieldCurve(docs, "text")
      .queryExecution.executedPlan.toString
    // the cumulative window must key on the constant-key BOUNDED bin
    // frame — windowing the corpus would funnel it through one task
    assert(!p193.contains("Window [") ||
      !p193.contains("SinglePartition"),
      s"cumulative sums must not single-partition the corpus:\n$p193")
    assert(!p193.contains("Join"), s"the curve is one scan + one window:\n$p193")
  }

  test("q192 hashed classifier: map-side margin fold, the only exchange " +
       "aggregates the bounded per-source rollup") {
    val plan = graft.ext.TextOps.hashedClassifierReport(
        spark.read.parquet(s"$dir/documents.parquet"), "source", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"scoring must not join:\n$plan")
    assert(!plan.contains("Generate"),
      s"margins fold over the token array — never a per-token explode:\n$plan")
    assert(plan.contains("hashpartitioning(source"),
      s"the rollup exchange keys on source:\n$plan")
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"no doc-keyed exchange:\n$plan")
  }
}
