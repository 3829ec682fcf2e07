package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Crawl, Graph}

/** Streaming LINK-GRAPH maintenance — the arrival-time twin of the
  * q246/q250 graph tier: pages arrive in micro-batches (a live crawl
  * discovering the web as it fetches), each batch's outlinks are
  * extracted with the batch operator VERBATIM ([[Crawl.linkEdgesFrom]] —
  * no streaming fork to drift) and appended to a [[TxnSink]]-committed
  * edge store, so a checkpoint-loss replay overwrites its own batch
  * subdirectories instead of appending duplicate edges (exactly-once,
  * the q200/q243 store discipline). The BFS horizon is computed FROM the
  * committed store ([[horizon]]).
  *
  * The semantics contract is the MONOTONE LAW: min-depth is monotone
  * under edge ADDITION — a new edge can only create or shorten paths —
  * so the horizon computed after any arrival prefix is an UPPER BOUND
  * of the final one (node-wise: depths only appear and only decrease),
  * and the post-stream horizon equals the batch BFS over the union
  * edge set exactly (IncrementalSpec pins both directions). That law is
  * also what makes the at-scale incremental formulation correct: a
  * production maintainer would not recompute per read but seed a delta
  * frontier at each new edge's source depth + 1 and propagate — pure
  * monotone refinement, the same fixpoint.
  */
object StreamingLinkGraph {

  /** Ingest a parquet documents stream (AvailableNow) into the edge
    * store at `storeDir`; `n` is the corpus size the page synthesis
    * closes the graph against (fixture detail — a real crawl's links
    * are just in the fetched bytes). Returns micro-batches processed. */
  def ingest(spark: SparkSession, docsDir: String, storeDir: String,
             n: Long, queryName: String = "stream_link_graph",
             maxFilesPerTrigger: Option[Int] = None): Int = {
    FileStream.foreachBatch(FileStream.parquet(spark, docsDir, maxFilesPerTrigger),
        Some(queryName), Some(s"$storeDir/_graft_checkpoint")) { (batch, batchId) =>
      val edges = Crawl.linkEdgesFrom(
        batch.selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text"), n)
      TxnSink.append(edges, storeDir, batchId)
    }
  }

  /** The committed edge set (empty two-column frame if nothing has
    * committed yet — a horizon over it is just the seeds at depth 0). */
  def edges(spark: SparkSession, storeDir: String): DataFrame =
    TxnSink.read(spark, storeDir).getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("src", "dst")
    }

  /** The BFS horizon over the committed store — the batch operator
    * ([[Graph.bfsDepth]]) on exactly-once maintained edges. */
  def horizon(spark: SparkSession, storeDir: String, seeds: DataFrame,
              maxDepth: Int): DataFrame =
    Graph.bfsDepth(edges(spark, storeDir), "src", "dst",
      seeds, "doc_id", maxDepth)

  /** INCREMENTAL ingest — the delta-frontier maintainer the monotone
    * law licenses: maintains an append-only edge log (exactly-once, as
    * [[ingest]]) AND a latest-frame depth SNAPSHOT per batch. Instead
    * of recomputing the horizon, each batch seeds a frontier with only
    * what changed — its new seed pages at depth 0, plus the head of
    * every new edge whose tail already has a depth (tentative depth
    * tail+1) — keeps the strict improvements, and lets
    * [[Graph.bfsRelax]] propagate them over the full committed edge
    * set. Monotonicity (new edges only create or shorten paths; depths
    * only decrease) is the whole correctness argument: relaxing only
    * the delta converges to exactly the from-scratch BFS of the union,
    * whatever the arrival batching — IncrementalSpec pins incremental ≡
    * recompute per arrival prefix and across crash replays. The depth
    * snapshot rides [[TxnSink]] too: a replayed batch's append
    * fast-skips on its existing marker, so replays can never fork the
    * snapshot history. */
  def ingestIncremental(spark: SparkSession, docsDir: String,
                        storeDir: String, n: Long, maxDepth: Int = 8,
                        queryName: String = "stream_link_graph_inc",
                        maxFilesPerTrigger: Option[Int] = None): Int = {
    FileStream.foreachBatch(FileStream.parquet(spark, docsDir, maxFilesPerTrigger),
        Some(queryName), Some(s"$storeDir/_graft_checkpoint")) { (batch, batchId) =>
      val newEdges = Crawl.linkEdgesFrom(
          batch.selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text"), n)
        .localCheckpoint() // feeds the append AND the candidate join
      TxnSink.append(newEdges, s"$storeDir/edges", batchId)
      val allEdges = edges(spark, s"$storeDir/edges")
      val prev = latestDepths(spark, storeDir)
      val newSeeds = batch
        .selectExpr("CAST(doc_id AS BIGINT) AS node")
        .filter(col("node") % 17 === 0).distinct()
        .withColumn("depth", lit(0L))
      val improved = prev match {
        case None => newSeeds
        case Some(d) =>
          // heads of new edges whose tail already has a depth — the
          // only places a new edge can improve anything
          val viaNew = newEdges
            .join(d.select(col("node").as("_t"), col("depth").as("_td")),
              col("src") === col("_t"))
            .select(col("dst").as("node"), (col("_td") + 1L).as("depth"))
            .filter(col("depth") <= maxDepth)
          newSeeds.unionByName(viaNew)
            .groupBy(col("node")).agg(min(col("depth")).as("depth"))
            .join(d.select(col("node").as("_o"), col("depth").as("_od")),
              col("node") === col("_o"), "left")
            .filter(col("_od").isNull || col("depth") < col("_od"))
            .select(col("node"), col("depth"))
      }
      val init = prev.map(_.unionByName(improved)).getOrElse(improved)
      val snapshot = Graph.bfsRelax(allEdges, "src", "dst",
        init, improved, maxRounds = maxDepth, maxDepth = maxDepth.toLong)
      TxnSink.append(snapshot, s"$storeDir/depths", batchId)
    }
  }

  /** The newest committed depth snapshot (None before any commits). */
  def latestDepths(spark: SparkSession, storeDir: String): Option[DataFrame] =
    TxnSink.committedIds(spark, s"$storeDir/depths").sorted.reverse.view
      .flatMap(id => TxnSink.readBatch(spark, s"$storeDir/depths", id))
      .headOption

  /** The incrementally maintained horizon (empty frame before any
    * commits — no edges, no seeds, nothing reached). */
  def incrementalHorizon(spark: SparkSession, storeDir: String): DataFrame =
    latestDepths(spark, storeDir).getOrElse {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("node", "depth")
    }
}
