package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Html
import graft.util.Output.tinySort
import graft.util.Tables.{load, loadFan}

/** Web-extraction operator surface (round 16): HTML boilerplate removal
  * and the anchor-text outlink corpus — the crawl-side front door of a
  * training-data pipeline ([[graft.ext.Html]]). Pages are synthesized
  * deterministically around the documents table so the DuckDB oracle can
  * replay every block's fate from the construction while Spark runs the
  * generic extractor over the actual markup (the q199 pattern).
  */
object WebQueries {

  /** q204 — block-level boilerplate extraction with the link-density
    * rule ([[Html.extractPage]]): per page, rendered/kept block counts,
    * char masses, boilerplate share in integer basis points, and the
    * extracted text itself (nav/footer/related-link blocks carry too
    * much anchor mass and drop; heads and the content paragraph
    * survive). Map-side work per page — the block-stats array
    * materializes in its own projection (HOFs get no CSE; see
    * [[Html.pageSummary]]), the summary reads it, and the O(input) dump
    * checkpoints the narrow rows before the global sort (the q54
    * pattern: the range partitioner's sampling pass must not re-run the
    * regex pipeline). */
  def q204HtmlExtract(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        Html.blockStats(Html.synthPage(col("doc_id"), col("text"))).as("_st"))
      .select(col("doc_id"), Html.pageSummary(col("_st")).as("_e"))
      .select(col("doc_id"),
        col("_e.n_blocks").as("n_blocks"),
        col("_e.n_kept").as("n_kept"),
        col("_e.kept_chars").as("kept_chars"),
        col("_e.total_chars").as("total_chars"),
        expr("CASE WHEN _e.total_chars > 0 THEN " +
          "(_e.total_chars - _e.kept_chars) * 10000L div _e.total_chars END")
          .as("boiler_bp"),
        col("_e.extracted").as("extracted"))
      .localCheckpoint()
      .orderBy(col("doc_id"))

  /** q205 — the anchor-text corpus ([[Html.anchorPairs]]): every (href,
    * anchor text) outlink on every page, aggregated per target href —
    * reference counts, citing-page counts, and the anchor-text value
    * range. The web-graph signal (in-degree + how the web DESCRIBES a
    * target) that seed-quality and query-relevance pipelines consume.
    * Extraction is map-side; the one shuffle is the per-href groupBy. */
  def q205AnchorCorpus(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(Html.anchorPairs(Html.synthPage(col("doc_id"), col("text"))))
          .as("_a"))
      .groupBy(col("_a.href").as("href"))
      .agg(count(lit(1)).as("n_refs"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("_a.anchor")).as("anchor_min"),
        max(col("_a.anchor")).as("anchor_max"))
      .transform(tinySort(_, col("href")))

  /** q207 — WARC record walk ([[graft.ext.Warc]]): documents pack eight
    * to a crawl blob (warcinfo + request/response pairs, real ISO-28500
    * framing with HTTP payloads), Spark demuxes the actual bytes —
    * bounded walk, complete-records-only, HTTP header split, body md5 —
    * while the oracle constructs the same payload STRINGS in SQL and
    * measures them (strlen bytes / md5), never parsing: a framing bug on
    * the Spark side cannot hide in a shared parser. Every 13th doc is a
    * 404 so the status column has to come from the HTTP status line, not
    * the record headers. Blob assembly is one groupBy; the demux is
    * mapPartitions batch work (the [[graft.ext.Avi]] shape). */
  def q207WarcRecords(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Warc.extractRecords(warcBlobs(spark, dir))
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("blob_id"), col("rec_idx")) // not re-run the demux (q204)

  /** q210 — the same record walk over `.warc.gz` blobs, the bytes
    * CommonCrawl actually distributes: each q207 blob is gzipped whole,
    * Spark gunzips under the ZIP-BOMB guard ([[graft.ext.Warc.gunzip]] —
    * inflation stops AT the cap, a hostile member cannot allocate past
    * it) and then runs the identical walk. The oracle is q207's SQL
    * VERBATIM (one shared definition): the compression layer must be
    * value-transparent for the hash to match. */
  def q210WarcGz(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gz = warcBlobs(spark, dir)
      .map { case (b, bytes) => (b, graft.ext.Warc.gzip(bytes)) }
    graft.ext.Warc.extractRecordsGz(gz)
      .localCheckpoint() // see q207 — one gunzip+walk, not two
      .orderBy(col("blob_id"), col("rec_idx"))
  }

  /** q211 — chunked Transfer-Encoding inside the WARC walk: odd docs'
    * responses ship their bodies in RFC 9112 chunked framing (two chunks,
    * split mid-body), even docs stay identity-encoded; every 13th doc
    * still 404s. The walk must detect the Transfer-Encoding header and
    * DE-CHUNK before measuring — body_bytes and body_md5 are over the
    * reassembled body, so they match the plain rows' values doc-for-doc,
    * while content_length exposes the framing overhead (the oracle
    * constructs the chunked payload string hex-size lines and all).
    * Transparency law as data: the encoding layer changes the payload,
    * never the content. */
  def q211WarcChunked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    val blobs = docs.groupedBlobs() { (b, it) =>
      val ms = it.toArray.sortBy(_._1)
      val entries = ms.toSeq.map { case (id, t) =>
        val status = if (id % 13 == 0) "404 Not Found" else "200 OK"
        val body = s"<html><body><p>$t</p></body></html>"
        val payload =
          if (id % 2 == 1) Warc.httpResponseChunked(status, body, body.length / 2)
          else Warc.httpResponse(status, body)
        Warc.Entry("response", Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response", payload)
      }
      (b, Warc.synthesize(entries))
    }
    Warc.extractRecords(blobs)
      .localCheckpoint() // see q207 — one de-chunk walk, not two
      .orderBy(col("blob_id"), col("rec_idx"))
  }

  /** q214 — `.warc.gz` in the RECORD-PER-MEMBER convention CommonCrawl
    * actually writes (one gzip member per record, so a reader can seek
    * straight to a record): the same entries as q207, each gzipped into
    * its OWN member and concatenated; Spark walks the member boundaries
    * with a manual header parse + raw-Inflater scan
    * ([[graft.ext.Warc.gzipMemberBounds]] — complete-members-only,
    * per-member bomb guard), inflates each, parses, and numbers records
    * globally per blob. Output-identical to the uncompressed blob —
    * q207's oracle VERBATIM, the q210 transparency argument one layer
    * deeper (member framing on top of compression on top of record
    * framing). */
  def q214WarcGzMembers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val blobs = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val members = warcEntries(it.toArray.sortBy(_._1))
        .map(e => Warc.gzip(Warc.synthesize(Seq(e))))
      val out = new java.io.ByteArrayOutputStream()
      members.foreach(out.write)
      (b, out.toByteArray)
    }
    Warc.extractRecordsGzMembers(blobs)
      .localCheckpoint() // see q207 — one member walk, not two
      .orderBy(col("blob_id"), col("rec_idx"))
  }

  /** q215 — WARC resync under PLANTED mid-blob corruption: the q207 blobs
    * with every id%5==2 doc's RESPONSE record magic-mangled in place
    * (`WARC/1.0` → `JUNK/1.0`, same byte length), walked by the
    * RECOVERING parser ([[graft.ext.Warc.parseResync]]) — survivors
    * re-anchor at the next `WARC/1.` magic, and the loss is EXACT output
    * columns (skipped_spans = corrupt records per blob, skipped_bytes =
    * their full serialized length including the record separator). The
    * oracle reconstructs both sides arithmetically: surviving rows are
    * the q207 construction minus the corrupt id class with rec_idx
    * re-ranked over survivors, and skipped_bytes is the strlen of each
    * corrupt record's serialization — so a resync that lands anywhere
    * but the exact next-record boundary, or loses/over-counts a single
    * byte, breaks the hash. Corruption hits blob tails too (ids ≡ 7
    * mod 8 ∧ ≡ 2 mod 5), exercising the scan-to-EOF branch. */
  def q215WarcResync(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val blobs = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val ms = it.toArray.sortBy(_._1)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Warc.synthesize(Seq(Warc.Entry("warcinfo", None,
        "application/warc-fields",
        "software: graft-crawler/1.0\r\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))))
      ms.foreach { case (id, t) =>
        val status = if (id % 13 == 0) "404 Not Found" else "200 OK"
        out.write(Warc.synthesize(Seq(
          Warc.Entry("request", Some(s"https://example.org/doc/$id"),
            "application/http; msgtype=request",
            Warc.httpRequest(s"/doc/$id")))))
        val resp = Warc.synthesize(Seq(
          Warc.Entry("response", Some(s"https://example.org/doc/$id"),
            "application/http; msgtype=response",
            Warc.httpResponse(status,
              s"<html><body><p>$t</p></body></html>"))))
        if (id % 5 == 2) // corrupt IN PLACE: same length, dead magic
          System.arraycopy("JUNK".getBytes(
            java.nio.charset.StandardCharsets.UTF_8), 0, resp, 0, 4)
        out.write(resp)
      }
      (b, out.toByteArray)
    }
    Warc.extractRecordsResync(blobs)
      .localCheckpoint() // see q207 — one resync walk, not two
      .orderBy(col("blob_id"), col("rec_idx"))
  }

  /** q217 — real-crawl BODY FIDELITY: Content-Encoding and charset
    * handling through the full byte path. Every body carries a non-ASCII
    * marker (é — a 2-byte UTF-8 / 1-byte latin-1 character), and doc
    * classes cycle the four encoding combinations: identity/UTF-8,
    * gzip/UTF-8, identity/ISO-8859-1 (charset parameter on the
    * Content-Type), gzip/ISO-8859-1. The engine must inflate the content
    * layer under the bomb guard and decode with the DECLARED charset —
    * the output is the decoded STRING, so a missed charset (0xE9 is
    * invalid UTF-8 → replacement char) or a skipped inflation breaks the
    * hash — while the oracle never touches bytes: it constructs the
    * expected strings directly (gzip output is not SQL-computable, which
    * is exactly why the output row is the decoded content, not the
    * compressed framing). */
  def q217BodyEncodings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val blobs = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val entries = it.toArray.sortBy(_._1).toSeq.map { case (id, t) =>
        val body = s"<html><body><p>$t caf\u00e9</p></body></html>"
        val payload = (id % 4) match {
          case 0 => Warc.httpResponse("200 OK", body)
          case 1 => Warc.httpResponseEnc("200 OK", body, None, gzipBody = true)
          case 2 => Warc.httpResponseEnc("200 OK", body, Some("ISO-8859-1"))
          case _ => Warc.httpResponseEnc("200 OK", body, Some("ISO-8859-1"),
            gzipBody = true)
        }
        Warc.Entry("response", Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response", payload)
      }
      (b, Warc.synthesize(entries))
    }
    Warc.extractResponseBodies(blobs)
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("http_status"), col("body"))
      .withColumn("enc", expr("""CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN 'plain' WHEN 1 THEN 'gzip'
        WHEN 2 THEN 'latin1' ELSE 'gzip+latin1' END"""))
      .select(col("doc_id"), col("enc"), col("http_status"), col("body"),
        length(col("body")).cast("long").as("body_chars"))
      .localCheckpoint() // O(input) dump: the sampling pass must not
      .orderBy(col("doc_id")) // re-run the demux/inflate (q204 pattern)
  }

  /** The q241/q242 shared page synthesis: [[Html.synthPage]]'s structure
    * PLUS a planted TAG-CLOUD block — boilerplate the link-density rule
    * cannot see (no anchors, plenty of characters, ZERO stopwords). The
    * tag vocabulary is fixed so every page ships the SAME cloud — the
    * cross-document gram-poisoning q242 measures. */
  private def navPage(docId: org.apache.spark.sql.Column,
                      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val id = docId.cast("string")
    concat(
      lit("<html><head><title>doc "), id, lit("</title></head><body>"),
      lit("<h1>doc "), id, lit(" report</h1>"),
      lit("<div class=\"nav\"><a href=\"/\">home</a> <a href=\"/about\">about us</a> <a href=\"/contact\">contact</a></div>"),
      lit("<div class=\"tags\">spark hash join filter sort merge window batch index scan</div>"),
      lit("<p>"), text, lit("</p>"),
      lit("<div class=\"footer\"><a href=\"/privacy\">privacy policy</a> <a href=\"/terms\">terms</a> (c) example.org</div>"),
      lit("</body></html>"))
  }

  /** q241 — MAIN-CONTENT extraction, the jusText-style block classifier
    * ([[Html.extractMainContent]]): link density alone cannot see a tag
    * cloud (no anchors, long enough, zero function words), so the page
    * plants one and the STOPWORD-DENSITY test has to kill it — along
    * with the heading — while the content paragraph survives iff its own
    * stopword density clears the bar (a data-dependent split the oracle
    * replays word-for-word from the text column). `n_kept_linkrule` is
    * the q204 rule over the SAME blocks: the two columns differ on every
    * page, which is the measurable point — the old rule ships the cloud
    * into the corpus. All three keep tests are integer
    * cross-multiplications; the block-stats array materializes in its
    * own projection (HOFs get no CSE — the q204 two-step). */
  def q241MainContent(spark: SparkSession, dir: String): DataFrame =
    q241Stage(spark, dir)
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("doc_id")) // not re-run the regex pipeline (q204)

  /** q241 before the dump checkpoint (PlanShapeSpec pins the map-side-
    * only law here — the checkpoint truncates the plan). */
  private[graft] def q241Stage(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        Html.blockStatsLex(navPage(col("doc_id"), col("text"))).as("_st"))
      .select(col("doc_id"),
        Html.mainContentSummary(col("_st")).as("_e"),
        Html.pageSummary(col("_st")).as("_l"))
      .select(col("doc_id"),
        col("_e.n_blocks").as("n_blocks"),
        col("_e.n_kept").as("n_kept"),
        col("_l.n_kept").as("n_kept_linkrule"),
        col("_e.kept_chars").as("kept_chars"),
        col("_e.total_chars").as("total_chars"),
        col("_e.extracted").as("extracted"))

  /** q245 — PER-LANGUAGE main-content extraction: jusText's stopword
    * lists are per-language in reality, and the corpus carries a `lang`
    * column — so the list is selected AS DATA per row
    * ([[Html.blockStatsLexCol]]: a lang→list map column +
    * `element_at`), never hard-wired. The fixture makes the selection
    * load-bearing both ways: each page's content paragraph is salted
    * with ITS OWN language's function words, so an es page evaluated
    * under the en list (or a broken lang route) flips its keep
    * decision; `zh` maps to the EMPTY list — the honest statement for
    * unsegmented text, where the density leg drops every block rather
    * than guessing — and unknown langs fall back to the en list. The
    * oracle recomputes every per-lang count word-for-word. */
  def q245LangContent(spark: SparkSession, dir: String): DataFrame = {
    val esList = Seq("el", "la", "de", "que", "y", "en", "un", "es", "se", "no")
    val deList = Seq("der", "die", "das", "und", "ist", "ein", "zu", "den",
      "nicht", "es")
    val lists = map(
      lit("en"), typedLit(Html.DefaultStopwords),
      lit("es"), typedLit(esList),
      lit("de"), typedLit(deList),
      lit("zh"), typedLit(Seq.empty[String]))
    val sw = coalesce(element_at(lists, col("lang")),
      typedLit(Html.DefaultStopwords))
    val salt = expr("""CASE lang WHEN 'es' THEN ' el la de que y en'
      WHEN 'de' THEN ' der die das und ist' WHEN 'zh' THEN ''
      ELSE ' the a of to' END""")
    loadFan(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        Html.blockStatsLexCol(
          navPage(col("doc_id"), concat(col("text"), salt)), sw).as("_st"))
      .select(col("doc_id"), col("lang"),
        Html.mainContentSummary(col("_st")).as("_e"))
      .select(col("doc_id"), col("lang"),
        col("_e.n_blocks").as("n_blocks"),
        col("_e.n_kept").as("n_kept"),
        col("_e.kept_chars").as("kept_chars"),
        col("_e.total_chars").as("total_chars"),
        col("_e.extracted").as("extracted"))
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("doc_id")) // not re-run the regex pipeline (q204)
  }

  /** The q246/q247 doc→doc link graph: [[Html.linkPage]] pages parsed by
    * the GENERIC anchor extractor ([[Html.anchorPairs]]), `/doc/K` hrefs
    * kept (nav/footer paths fail the pattern) and K parsed as the
    * destination node. The one `count()` is fixture-only — the synthesis
    * needs the corpus size to close the graph mod n; real crawls carry
    * real links and no such action exists. */
  private def linkEdges(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    graft.ext.Crawl.linkEdgesFrom(docs.select(col("doc_id"), col("text")),
      docs.count())
  }

  /** q246 — crawl DEPTH from the seed set ([[graft.ext.Graph.bfsDepth]]:
    * multi-source frontier BFS, 8 rounds): every 17th page is a trusted
    * seed (depth 0) and each page's depth is the minimum link distance
    * from any seed through the REAL extracted link graph — the
    * crawl-radius feature quality pipelines gate on (far-from-seed pages
    * are the spam/SEO tail). The monotone frontier loop fires each edge
    * exactly once across the whole run; the oracle replays it with a
    * depth-bounded recursive CTE in exact integers. */
  def q246CrawlDepth(spark: SparkSession, dir: String): DataFrame = {
    val seeds = load(spark, dir, "documents")
      .filter(col("doc_id") % 17 === 0).select(col("doc_id"))
    graft.ext.Graph
      .bfsDepth(linkEdges(spark, dir), "src", "dst", seeds, "doc_id", maxDepth = 8)
      .select(col("node").as("node_id"), col("depth"))
      .transform(tinySort(_, col("node_id")))
  }

  /** q247 — HyperBall neighborhood function over the link graph
    * ([[graft.ext.Graph.hyperBall]], radius 3): per page, the
    * HLL-sketched size of its 3-hop out-ball — the reachability profile
    * behind geometric centrality at archive scale, where per-source BFS
    * is quadratic. Registers and the exact-integer estimator are
    * byte-shared with q150's HLL rollup; the oracle rebuilds every ball
    * by bounded recursion and replays registers + estimate
    * bit-identically. */
  def q247HyperBall(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Graph.hyperBall(linkEdges(spark, dir), "src", "dst", radius = 3)
      .select(col("node").as("node_id"), col("n_zero_registers"),
        col("ball_estimate"))
      .transform(tinySort(_, col("node_id")))

  /** q248 — HARMONIC CENTRALITY from the HyperBall profile
    * ([[graft.ext.Graph.hyperBallProfile]] on the TRANSPOSE graph — the
    * Boldi–Vigna payoff): per page, in-ball estimates at radii 0–3 and
    * the truncated harmonic sum Σ_{r=1..3} (|B_r|−|B_{r−1}|)/r, scaled
    * by 6 (= lcm 1,2,3) so the weights 6/3/2 keep the whole chain in
    * exact BIGINTs. Register max is monotone, so the deltas are ≥ 0 by
    * construction; the oracle rebuilds every in-ball's min distance with
    * ONE bounded recursion and replays all four register sets from it. */
  def q248HarmonicCentrality(spark: SparkSession, dir: String): DataFrame = {
    val rev = linkEdges(spark, dir)
      .select(col("dst").as("src"), col("src").as("dst"))
    graft.ext.Graph.hyperBallProfile(rev, "src", "dst", radius = 3)
      .groupBy(col("node").as("node_id"))
      .agg(
        max(when(col("r") === 0, col("ball_estimate"))).as("b0"),
        max(when(col("r") === 1, col("ball_estimate"))).as("b1"),
        max(when(col("r") === 2, col("ball_estimate"))).as("b2"),
        max(when(col("r") === 3, col("ball_estimate"))).as("b3"))
      .select(col("node_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        (lit(6L) * (col("b1") - col("b0"))
          + lit(3L) * (col("b2") - col("b1"))
          + lit(2L) * (col("b3") - col("b2"))).as("harmonic_x6"))
      .transform(tinySort(_, col("node_id")))
  }

  /** q249 — TrustRank over the link graph
    * ([[graft.ext.Graph.trustRankInt]], 5 damped iterations): the q246
    * seed set (every 17th page) becomes the TELEPORT set, so endorsement
    * mass enters only at vetted pages and decays multiplicatively along
    * links — the spam-demotion companion to q246's hop-count gate, on
    * the same seeds and the same extracted graph. Integer fixed-point
    * end to end: a page unreachable from the seeds holds trust EXACTLY
    * 0, and the oracle's unrolled CTE chain replays every floor
    * division bit-identically (the q91 pattern with a seed-CASE
    * teleport). */
  def q249TrustRank(spark: SparkSession, dir: String): DataFrame = {
    val seeds = load(spark, dir, "documents")
      .filter(col("doc_id") % 17 === 0).select(col("doc_id"))
    graft.ext.Graph
      .trustRankInt(linkEdges(spark, dir), "src", "dst", seeds, "doc_id",
        iterations = 5)
      .select(col("node").as("node_id"), col("trust"))
      .transform(tinySort(_, col("node_id")))
  }

  /** q250 — the CRAWL-PRIORITY capstone: the graph tier composed into the
    * scheduler's scoring frame. ONE edge extraction (localCheckpoint —
    * materialized once) feeds all three signals: the 3-hop BFS horizon
    * ([[graft.ext.Graph.bfsDepth]]), the 5-round TrustRank
    * ([[graft.ext.Graph.trustRankInt]], same seeds), and the in-degree
    * rollup. Per page: hop distance (−1 past the horizon), trust,
    * in-degree, the integer priority `trust div (1+depth)`, and the
    * fetch class — horizon first (no known path, nothing to schedule,
    * whatever the trust), then endorsed/trusted/weak by trust mass; all
    * four classes carry rows at both SFs. Trust can exceed the horizon
    * (it flows 5 hops, the BFS stops at 3), so the precedence is
    * load-bearing, not cosmetic. */
  def q250CrawlPriority(spark: SparkSession, dir: String): DataFrame = {
    val edges = linkEdges(spark, dir).localCheckpoint()
    val seeds = load(spark, dir, "documents")
      .filter(col("doc_id") % 17 === 0).select(col("doc_id"))
    val trust = graft.ext.Graph
      .trustRankInt(edges, "src", "dst", seeds, "doc_id", iterations = 5)
    val depth = graft.ext.Graph
      .bfsDepth(edges, "src", "dst", seeds, "doc_id", maxDepth = 3)
      .withColumnRenamed("node", "d_node")
    val indeg = edges.groupBy(col("dst").as("i_node"))
      .agg(count(lit(1)).as("n_in"))
    trust.join(depth, col("node") === col("d_node"), "left")
      .join(indeg, col("node") === col("i_node"), "left")
      .select(
        col("node").as("node_id"),
        coalesce(col("depth"), lit(-1L)).as("depth"),
        col("trust"),
        coalesce(col("n_in"), lit(0L)).as("n_in"),
        when(col("depth").isNull, lit(0L))
          .otherwise(expr("trust div (1 + depth)")).as("priority"),
        when(col("depth").isNull, lit("beyond-horizon"))
          .when(col("trust") >= 150000000000L, lit("endorsed"))
          .when(col("trust") >= 40000000000L, lit("trusted"))
          .otherwise(lit("weak")).as("fetch_class"))
      .transform(tinySort(_, col("node_id")))
  }

  /** q253 — the BOWTIE decomposition around the seed set (Broder et al.,
    * "Graph structure in the web", WWW 2000 — the in/core/out anatomy),
    * bounded-radius: forward and backward 2-hop BFS from the same seeds
    * ([[graft.ext.Graph.bfsDepth]] on the graph and its transpose, ONE
    * shared edge extraction) classify every node — CORE (reaches AND is
    * reached), IN (feeds the seeds but is not reached), OUT (reached but
    * feeds nothing back), TENDRIL (neither, within the horizon). The
    * radius bound is the honest archive-scale form — full reachability
    * is a fixpoint nobody runs on 100 TB — and both depths ride along
    * (−1 past the horizon). All four classes carry rows at both SFs. */
  def q253Bowtie(spark: SparkSession, dir: String): DataFrame = {
    val edges = linkEdges(spark, dir).localCheckpoint()
    val seeds = load(spark, dir, "documents")
      .filter(col("doc_id") % 17 === 0).select(col("doc_id"))
    val fwd = graft.ext.Graph
      .bfsDepth(edges, "src", "dst", seeds, "doc_id", maxDepth = 2)
      .select(col("node").as("f_node"), col("depth").as("_fd"))
    val bwd = graft.ext.Graph
      .bfsDepth(edges.select(col("dst").as("src"), col("src").as("dst")),
        "src", "dst", seeds, "doc_id", maxDepth = 2)
      .select(col("node").as("b_node"), col("depth").as("_bd"))
    val nodes = edges.select(col("src").as("node_id"))
      .unionByName(edges.select(col("dst").as("node_id"))).distinct()
    nodes.join(fwd, col("node_id") === col("f_node"), "left")
      .join(bwd, col("node_id") === col("b_node"), "left")
      .select(col("node_id"),
        coalesce(col("_fd"), lit(-1L)).as("fwd_depth"),
        coalesce(col("_bd"), lit(-1L)).as("bwd_depth"),
        when(col("_fd").isNotNull && col("_bd").isNotNull, lit("core"))
          .when(col("_bd").isNotNull, lit("in"))
          .when(col("_fd").isNotNull, lit("out"))
          .otherwise(lit("tendril")).as("component"))
      .transform(tinySort(_, col("node_id")))
  }

  /** q254 — fixpoint CONVERGENCE audit
    * ([[graft.ext.Graph.trustRankResiduals]]): the per-round residual
    * curve of q249's TrustRank — L1 delta, max per-node delta, and the
    * count of still-moving nodes, in exact integers — the measurement
    * that sizes the iteration budget BEFORE a 100 TB run commits to it.
    * The oracle derives every row from consecutive levels of the shared
    * unrolled chain (TrustRankCtes), so a drifting loop shows up as a
    * wrong residual, not a vibe. */
  def q254TrustResiduals(spark: SparkSession, dir: String): DataFrame = {
    val seeds = load(spark, dir, "documents")
      .filter(col("doc_id") % 17 === 0).select(col("doc_id"))
    graft.ext.Graph
      .trustRankResiduals(linkEdges(spark, dir), "src", "dst", seeds,
        "doc_id", iterations = 5)
      .transform(tinySort(_, col("iteration")))
  }

  /** q255 — WEIGHTED PageRank over the link graph
    * ([[graft.ext.Graph.pageRankWeighted]], 5 damped iterations): each
    * edge carries its ANCHOR-TEXT mass as the weight (read from the real
    * markup — [[graft.ext.Crawl.linkEdgesWeighted]]), so a page's vote
    * splits proportionally to how much anchor text it spends on each
    * link — the q205 endorsement signal folded into the graph itself.
    * The per-edge floor ⌊r·w/W⌋ is computed 64-bit-exactly by the
    * split-multiply identity on the Spark side and replayed by DuckDB
    * as a DIRECT 128-bit `r·w // W` — two spellings, one value, so the
    * oracle cross-checks the identity on every edge of every round. */
  def q255WeightedPagerank(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    graft.ext.Graph.pageRankWeighted(
        graft.ext.Crawl.linkEdgesWeighted(
          docs.select(col("doc_id"), col("text")), docs.count()),
        "src", "dst", "w", iterations = 5)
      .select(col("node").as("node_id"), col("rank"))
      .transform(tinySort(_, col("node_id")))
  }

  /** q256 — bounded CLOSENESS from the same HyperBall profile (Lin's
    * reachability-squared-over-distance on the 3-hop in-ball): reached
    * mass b₃, estimated total in-distance Σ r·Δ_r, and Lin's index as
    * exact integer basis points reached²·10⁴ div dist (0 when nothing
    * beyond self is reachable). The q248 sibling: same transpose
    * profile, OPPOSITE weighting — harmonic rewards near mass
    * (1, ½, ⅓), dist_mass charges far mass (1, 2, 3) — so the pair
    * brackets the reachability geometry, and their oracles share the
    * profile chain verbatim. */
  def q256Closeness(spark: SparkSession, dir: String): DataFrame = {
    val rev = linkEdges(spark, dir)
      .select(col("dst").as("src"), col("src").as("dst"))
    graft.ext.Graph.hyperBallProfile(rev, "src", "dst", radius = 3)
      .groupBy(col("node").as("node_id"))
      .agg(
        max(when(col("r") === 0, col("ball_estimate"))).as("b0"),
        max(when(col("r") === 1, col("ball_estimate"))).as("b1"),
        max(when(col("r") === 2, col("ball_estimate"))).as("b2"),
        max(when(col("r") === 3, col("ball_estimate"))).as("b3"))
      .select(col("node_id"), col("b3").as("reached"),
        ((col("b1") - col("b0")) + lit(2L) * (col("b2") - col("b1"))
          + lit(3L) * (col("b3") - col("b2"))).as("dist_mass"))
      .select(col("node_id"), col("reached"), col("dist_mass"),
        when(col("dist_mass") > 0,
          expr("reached * reached * 10000L div dist_mass"))
          .otherwise(lit(0L)).as("lin_bp"))
      .transform(tinySort(_, col("node_id")))
  }

  /** q252 — SITE-TEMPLATE block removal
    * ([[graft.ext.Crawl.siteTemplateExtract]]): the frequency method —
    * a block recurring on a strict majority of its host's pages is site furniture,
    * whatever its length or link density. Cross-page evidence is the
    * third boilerplate axis after q204's link density and q241's
    * stopword density: on the shared [[Html.synthPage]] fixture it
    * convicts nav + footer from repetition ALONE (title/h1/content/
    * related survive — each contains the doc id), and the oracle
    * replays the whole frequency rollup from the construction, never
    * assuming which blocks repeat. */
  def q252TemplateBlocks(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Crawl.siteTemplateExtract(
        load(spark, dir, "documents")
          .select((col("doc_id") % 7).cast("string").as("host"), col("doc_id"),
            Html.synthPage(col("doc_id"), col("text")).as("html")))
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("doc_id")) // not re-run the block pipeline (q204)

  /** q242 — GRAM POISONING, measured: the same pages extracted under the
    * link-density-only rule (which keeps the planted tag cloud and the
    * heading on every page) and under [[Html.mainContentSummary]], each
    * variant shingled ([[graft.ext.Dedup.explodedShingles]], the dedup
    * tier's own gram basis) and scored for BOILERPLATE GRAMS — grams
    * whose document frequency reaches half the corpus. Under the old
    * rule every page carries the cloud's grams (df = corpus), poisoning
    * near-dup candidate generation and any LM trained on the packs;
    * under main-content extraction the boiler count drops to zero on
    * every row while the genuine text grams ride through — the
    * measurable drop the operator exists for. Scale shape: two map-side
    * shingle explodes, two groupBys on the gram key (the q70 novelty
    * shape), one broadcast 1-row corpus count; extraction text is
    * checkpointed once and feeds both variants. */
  def q242BoilerGrams(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Dedup
    val texts = loadFan(spark, dir, "documents")
      .select(col("doc_id"),
        Html.blockStatsLex(navPage(col("doc_id"), col("text"))).as("_st"))
      .select(col("doc_id"),
        Html.pageSummary(col("_st")).getField("extracted").as("link_text"),
        Html.mainContentSummary(col("_st")).getField("extracted").as("main_text"))
      .localCheckpoint() // two shingle consumers — materialize ONCE
    val nDocs = texts.agg(count(lit(1)).as("n_docs"))
    def perDoc(textCol: String, gramsName: String, boilerName: String) = {
      val sh = Dedup.explodedShingles(
        texts.select(col("doc_id"), col(textCol).as("text")),
        "doc_id", "text", 3)
      val dfreq = sh.groupBy(col("sg"))
        .agg(countDistinct(col("doc_id")).as("_df"))
      sh.join(dfreq, "sg").join(broadcast(nDocs))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as(gramsName),
          sum(when(col("_df") * 2 >= col("n_docs"), 1L).otherwise(0L))
            .as(boilerName))
    }
    texts.select(col("doc_id"))
      .join(perDoc("link_text", "n_grams_link", "boiler_link"),
        Seq("doc_id"), "left")
      .join(perDoc("main_text", "n_grams_main", "boiler_main"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams_link"), lit(0L)).as("n_grams_link"),
        coalesce(col("boiler_link"), lit(0L)).as("boiler_link"),
        coalesce(col("n_grams_main"), lit(0L)).as("n_grams_main"),
        coalesce(col("boiler_main"), lit(0L)).as("boiler_main"))
      .transform(tinySort(_, col("doc_id")))
  }

  /** q243 — the ARCHIVE-WRITE capstone, the direction q229 doesn't
    * cover: a curated release delivered as what a production curation
    * run actually ships — record-per-member `.warc.gz` blobs PLUS a CDX
    * sidecar with REAL byte extents — then proven by its own consumers
    * in the same dataflow. Stages:
    *
    *   1. CURATE: the q208 chain (crawl bytes → demux → 200 gate →
    *      extraction), gated on boilerplate share (kept_chars*2 >=
    *      total_chars — exact integer test, oracle-replayable);
    *   2. WRITE: each kept page becomes ONE gzip member holding one
    *      response record ([[graft.ext.Warc.synthesizeGzMembers]]); the
    *      sidecar extents are measured AS WRITTEN, never recomputed;
    *   3. RE-WALK: the generic [[graft.ext.Warc.cdxIndex]] over the
    *      written bytes must agree with the sidecar extent-for-extent
    *      (full outer join — a missing OR extra member both surface);
    *   4. SEEK: every record is range-read back through the SIDECAR
    *      extents ([[graft.ext.Warc.seekRecord]], the q236 access
    *      pattern) — identity comes from the sought bytes, so a
    *      one-byte extent error fails to inflate and breaks the hash.
    *
    * Closes the WARC/WAT/WET/CDX family's write side (q224 wrote WET,
    * q231 WAT; the CDX index was read-side only until now). The oracle
    * replays curation closed-form (the shared b/k/s CTEs) and pins
    * md5/mass per record; extents are proven by the seek, the q236
    * argument. Materialization: the written blobs checkpoint ONCE and
    * feed sidecar, re-walk, and seek (PlanShapeSpec pins it). */
  def q243ArchiveWrite(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val curated = graft.ext.Crawl.extract(crawlBlobs(spark, dir))
      .filter(col("kept_chars") * 2 >= col("total_chars"))
      .select(col("doc_id"), col("extracted"))
      .as[(Long, String)]
    val written = curated.groupedBlobs() { (b, it) =>
      val ms = it.toArray.sortBy(_._1)
      val entries = ms.toSeq.map { case (id, ex) =>
        Warc.Entry("response", Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response",
          Warc.httpResponse("200 OK", ex))
      }
      val (blob, extents) = Warc.synthesizeGzMembers(entries)
      (b, blob, extents.zipWithIndex.map { case ((off, len), ord) =>
        (ord.toLong, off, len)
      })
    }.toDF("blob_id", "warc", "sidecar")
      .localCheckpoint(true) // ONE write; feeds sidecar + re-walk + seek
    val sidecar = written
      .select(col("blob_id"), explode(col("sidecar")).as("_s"))
      .select(col("blob_id"), col("_s._1").as("ordinal"),
        col("_s._2").as("offset"), col("_s._3").as("length"))
    val rewalk = Warc.cdxIndex(
        written.select(col("blob_id"), col("warc")).as[(Long, Array[Byte])])
      .select(col("blob_id"), col("ordinal"),
        col("offset").as("rw_offset"), col("length").as("rw_length"))
    val verified = sidecar
      .join(rewalk, Seq("blob_id", "ordinal"), "full")
      .select(col("blob_id"), col("ordinal"), col("offset"), col("length"),
        (col("offset") === col("rw_offset") &&
          col("length") === col("rw_length")).as("extent_match"))
    verified
      .join(written.select(col("blob_id"), col("warc")), Seq("blob_id"))
      .select(col("blob_id"), col("ordinal"), col("extent_match"),
        col("offset"), col("length"), col("warc"))
      .as[(Long, Long, Boolean, Long, Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (b, ord, em, off, len, gz) =>
        Warc.seekRecord(gz, off, len).map { case (uri, st, bb, md5) =>
          (b, ord, em, uri, st, bb, md5)
        }
      })
      .toDF("blob_id", "ordinal", "extent_match", "uri", "http_status",
        "body_bytes", "body_md5")
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("blob_id"), col("ordinal"), col("extent_match"),
        col("http_status"), col("body_bytes"), col("body_md5"))
      .transform(tinySort(_, col("doc_id")))
  }

  /** q240 — `Content-Encoding: deflate`, the LAST JDK-decodable body
    * coding (q217 closed gzip): doc classes cycle both SERVER SPELLINGS
    * of the same header token — zlib-wrapped (RFC 1950, what the header
    * means per RFC 9110) and raw-deflate (RFC 1951, the broken-server
    * spelling every real client tolerates: [[graft.ext.Warc.inflate]]
    * tries zlib first and retries raw) — crossed with the charset layer
    * (latin-1 parameter under both spellings, the q217 composition).
    * Every body carries é, so a missed inflation (compressed bytes are
    * not valid UTF-8) or a wrong-spelling decode breaks the hash; the
    * oracle constructs the decoded strings directly, never touching
    * bytes (deflate output is not SQL-computable — the q217 argument).
    * `br`/`zstd` stay codec-less pass-throughs by scope (the JDK ships
    * no codec; documented in [[graft.ext.Warc.decodedBodyBytes]]). */
  def q240DeflateBodies(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val blobs = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val entries = it.toArray.sortBy(_._1).toSeq.map { case (id, t) =>
        val body = s"<html><body><p>$t caf\u00e9</p></body></html>"
        val payload = (id % 5) match {
          case 0 => Warc.httpResponse("200 OK", body)
          case 1 => Warc.httpResponseCoded("200 OK", body, None,
            Some("deflate"))
          case 2 => Warc.httpResponseCoded("200 OK", body, None,
            Some("deflate-raw"))
          case 3 => Warc.httpResponseCoded("200 OK", body,
            Some("ISO-8859-1"), Some("deflate"))
          case _ => Warc.httpResponseCoded("200 OK", body,
            Some("ISO-8859-1"), Some("deflate-raw"))
        }
        Warc.Entry("response", Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response", payload)
      }
      (b, Warc.synthesize(entries))
    }
    Warc.extractResponseBodies(blobs)
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("http_status"), col("body"))
      .withColumn("enc", expr("""CASE CAST(doc_id % 5 AS INT)
        WHEN 0 THEN 'plain' WHEN 1 THEN 'deflate-zlib'
        WHEN 2 THEN 'deflate-raw' WHEN 3 THEN 'deflate-zlib+latin1'
        ELSE 'deflate-raw+latin1' END"""))
      .select(col("doc_id"), col("enc"), col("http_status"), col("body"),
        length(col("body")).cast("long").as("body_chars"))
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("doc_id")) // not re-run the demux/inflate (q204 pattern)
  }

  /** q233 — HTML5 META-CHARSET PRESCAN ([[graft.ext.Warc.sniffCharset]]):
    * pages whose encoding is declared only in markup, the case q217's
    * header-parameter layer cannot cover. Five doc classes pin every
    * branch AND the precedence order: (0) header param PLUS a LYING
    * `<meta charset=utf-8>` — HTTP wins, latin-1 decodes; (1) header-less
    * `<meta charset="ISO-8859-1">` — the prescan is load-bearing, a
    * UTF-8 fallback would shred every é; (2) no declaration anywhere —
    * UTF-8 fallback; (3) the legacy `http-equiv` content spelling UNDER
    * a gzip content layer — prescan runs on content-decoded bytes;
    * (4) the meta pushed past the 1024-byte window by a comment — by
    * spec NOT honored, the é decodes to U+FFFD (the oracle constructs
    * exactly that replacement, so an over-wide window breaks the hash
    * as surely as a missing scan). */
  def q233MetaCharset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    import java.nio.charset.StandardCharsets.UTF_8
    val pad = "x" * 1100
    val blobs = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val entries = it.toArray.sortBy(_._1).toSeq.map { case (id, t) =>
        def body(meta: String) =
          s"<html><head>$meta</head><body><p>$t caf\u00e9</p></body></html>"
        def hdr(ct: String, gz: Boolean = false) =
          (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
            (if (gz) "Content-Encoding: gzip\r\n" else "") + "\r\n")
            .getBytes(UTF_8)
        val latin1 = "ISO-8859-1"
        val payload = (id % 5) match {
          case 0 => hdr(s"text/html; charset=$latin1") ++
            body("<meta charset=\"utf-8\">").getBytes(latin1)
          case 1 => hdr("text/html") ++
            body("<meta charset=\"ISO-8859-1\">").getBytes(latin1)
          case 2 => hdr("text/html") ++ body("").getBytes(UTF_8)
          case 3 => hdr("text/html", gz = true) ++ Warc.gzip(
            body("<meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset=ISO-8859-1\">").getBytes(latin1))
          case _ => hdr("text/html") ++
            body(s"<!--$pad--><meta charset=\"ISO-8859-1\">").getBytes(latin1)
        }
        Warc.Entry("response", Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response", payload)
      }
      (b, Warc.synthesize(entries))
    }
    Warc.extractResponseBodies(blobs)
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("http_status"), col("body"),
        length(col("body")).cast("long").as("body_chars"))
      .withColumn("mode", expr("""CASE CAST(doc_id % 5 AS INT)
        WHEN 0 THEN 'header-wins' WHEN 1 THEN 'meta-charset'
        WHEN 2 THEN 'utf8-fallback' WHEN 3 THEN 'http-equiv+gzip'
        ELSE 'beyond-window' END"""))
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("doc_id")) // not re-run the demux (q204 pattern)
  }

  /** The q235/q236 shared blob synthesis: one RESPONSE record per doc
    * (status per the %13 class), each record its own gzip member — the
    * record-per-member convention whose whole point is the CDX seek. */
  private def cdxBlobs(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    import graft.ext.Warc
    docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val out = new java.io.ByteArrayOutputStream()
      it.toArray.sortBy(_._1).foreach { case (id, t) =>
        val status = if (id % 13 == 0) "404 Not Found" else "200 OK"
        out.write(Warc.gzip(Warc.synthesize(Seq(Warc.Entry("response",
          Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response",
          Warc.httpResponse(status,
            s"<html><body><p>$t</p></body></html>"))))))
      }
      (b, out.toByteArray)
    }
  }

  /** q235 — CDX-style index generation ([[graft.ext.Warc.cdxIndex]]):
    * the FOURTH CommonCrawl artifact (WARC/WAT/WET/CDX done) — one row
    * per member with its byte extent in the compressed blob, the
    * member's ordinal, the SURT urlkey ([[graft.ext.Urls.surtKey]] —
    * host components reversed so one domain's pages sort together), and
    * the record's identity columns. The oracle replays everything
    * SQL-expressible (ordinal = rank within blob, urlkey closed-form,
    * status/mass/md5 from the construction); the byte extents are
    * gzip-length-dependent and are proven by q236's seek instead. */
  def q235CdxIndex(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Warc.cdxIndex(cdxBlobs(spark, dir))
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("ordinal"),
        graft.ext.Urls.surtKey(col("uri")).as("urlkey"),
        col("http_status"), col("body_bytes"), col("body_md5"))
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("doc_id")) // not re-run the demux (q204 pattern)

  /** q236 — RANDOM-ACCESS reads THROUGH the index
    * ([[graft.ext.Warc.seekRecord]]): the requested id class's rows are
    * looked up in the q235 index, joined back to the blob bytes, and
    * each member is range-read at exactly (offset, length) — no walk of
    * the members before it, the access pattern that makes a 100 TB
    * archive queryable (on a cluster the slice is an object-store range
    * GET; here the blob rides the join). Identity columns come from the
    * SOUGHT bytes, so a wrong extent — off by one byte anywhere — fails
    * to inflate or parses the wrong record and breaks the hash.
    * Materialization: the blob set is checkpointed ONCE (it feeds both
    * the index build and the seek join). */
  def q236CdxSeek(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val blobs = cdxBlobs(spark, dir).toDF("blob_id", "warc")
      .localCheckpoint(true)
    val idx = Warc.cdxIndex(blobs.as[(Long, Array[Byte])])
      .withColumn("doc_id",
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long"))
    val wanted = idx.filter(col("doc_id") % 7 === 3)
      .select(col("blob_id"), col("ordinal"), col("offset"), col("length"))
    wanted.join(blobs, Seq("blob_id"))
      .select(col("blob_id"), col("ordinal"), col("offset"), col("length"),
        col("warc"))
      .as[(Long, Long, Long, Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (blobId, ord, off, len, gz) =>
        Warc.seekRecord(gz, off, len).map { case (uri, st, bb, md5) =>
          (blobId, ord, uri, st, bb, md5)
        }
      })
      .toDF("blob_id", "ordinal", "uri", "http_status", "body_bytes",
        "body_md5")
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("ordinal"), graft.ext.Urls.surtKey(col("uri")).as("urlkey"),
        col("http_status"), col("body_bytes"), col("body_md5"))
      .transform(tinySort(_, col("doc_id")))
  }

  /** q234 — BYTE-ORDER-MARK sniffing, STEP ONE of the HTML5 encoding
    * algorithm (WHATWG §13.2.3.1 — the BOM outranks even the HTTP
    * header, because the byte pattern is unforgeable while headers
    * routinely lie): (0) no BOM control; (1) UTF-8 BOM — must be
    * CONSUMED, never leaked as U+FEFF into the text (the JDK does not
    * strip it on its own); (2) UTF-16LE BOM under a LYING
    * `charset=ISO-8859-1` header — BOM wins, a header-first decode
    * would shred every code unit; (3) UTF-16BE BOM under a gzip content
    * layer with a LYING in-body meta — BOM beats the prescan too, and
    * the sniff runs on content-decoded bytes. The oracle constructs the
    * exact decoded strings; é rides in every body so each wrong-branch
    * decode breaks the hash. */
  def q234BomCharset(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    import java.nio.charset.StandardCharsets.{UTF_8, UTF_16BE, UTF_16LE}
    val blobs = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val entries = it.toArray.sortBy(_._1).toSeq.map { case (id, t) =>
        val plainb = s"<html><body><p>$t caf\u00e9</p></body></html>"
        val metab = "<html><head><meta charset=\"ISO-8859-1\"></head>" +
          s"<body><p>$t caf\u00e9</p></body></html>"
        def hdr(ct: String, gz: Boolean = false) =
          (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
            (if (gz) "Content-Encoding: gzip\r\n" else "") + "\r\n")
            .getBytes(UTF_8)
        val bom8 = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
        val bomLE = Array(0xFF, 0xFE).map(_.toByte)
        val bomBE = Array(0xFE, 0xFF).map(_.toByte)
        val payload = (id % 4) match {
          case 0 => hdr("text/html") ++ plainb.getBytes(UTF_8)
          case 1 => hdr("text/html") ++ bom8 ++ plainb.getBytes(UTF_8)
          case 2 => hdr("text/html; charset=ISO-8859-1") ++ bomLE ++
            plainb.getBytes(UTF_16LE)
          case _ => hdr("text/html", gz = true) ++
            Warc.gzip(bomBE ++ metab.getBytes(UTF_16BE))
        }
        Warc.Entry("response", Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response", payload)
      }
      (b, Warc.synthesize(entries))
    }
    Warc.extractResponseBodies(blobs)
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("http_status"), col("body"),
        length(col("body")).cast("long").as("body_chars"))
      .withColumn("mode", expr("""CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN 'plain' WHEN 1 THEN 'bom-utf8'
        WHEN 2 THEN 'bom-utf16le-lying-header'
        ELSE 'bom-utf16be-gzip-lying-meta' END"""))
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("doc_id")) // not re-run the demux (q204 pattern)
  }

  /** Hostile record-per-member `.warc.gz` synthesis — the q228/q229
    * shared builder, every production failure layer planted at once:
    * each (id, status, body) becomes ONE gzip member holding one
    * response record with its id-class body encoding (the q217 cycle:
    * plain / Content-Encoding gzip / latin-1 charset / both), ids
    * ≡ 12 (mod 20) get their record magic mangled INSIDE an otherwise
    * valid member (dead record, valid CRC — the inflated-domain resync
    * tier), and ids ≡ 1 (mod 10) get their whole member REPLACED by 64
    * junk bytes (torn write — the compressed-domain resync tier, and 64
    * is what the oracle charges for it). The corrupt-record class is a
    * subset of the PLAIN encoding class (12 mod 4 = 0) so its serialized
    * length stays SQL-computable. */
  private def hostileMembers(ms: Seq[(Long, String, String)]): Array[Byte] = {
    import graft.ext.Warc
    val out = new java.io.ByteArrayOutputStream()
    ms.foreach { case (id, st, body) =>
      if (id % 10 == 1) {
        out.write(Array.fill[Byte](64)('X'))
      } else {
        val payload = (id % 4) match {
          case 0 => Warc.httpResponse(st, body)
          case 1 => Warc.httpResponseEnc(st, body, None, gzipBody = true)
          case 2 => Warc.httpResponseEnc(st, body, Some("ISO-8859-1"))
          case _ => Warc.httpResponseEnc(st, body, Some("ISO-8859-1"),
            gzipBody = true)
        }
        val rec = Warc.synthesize(Seq(Warc.Entry("response",
          Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response", payload)))
        if (id % 20 == 12) // dead record inside a CRC-valid member
          System.arraycopy("JUNK".getBytes(
            java.nio.charset.StandardCharsets.UTF_8), 0, rec, 0, 4)
        out.write(Warc.gzip(rec))
      }
    }
    out.toByteArray
  }

  /** q228 — the FULL production read path under hostile bytes
    * ([[graft.ext.Warc.extractHostile]]): record-per-member `.warc.gz`
    * blobs where corruption is planted at BOTH resync tiers at once
    * (torn members AND dead records inside valid members) and every
    * surviving record still has to run the q217 body-fidelity path
    * (gzip Content-Encoding, latin-1 charset). Loss is four exact output
    * columns per blob — compressed-domain (skipped_members /
    * skipped_member_bytes: 64 junk bytes per torn member) and
    * inflated-domain (skipped_spans / skipped_bytes: the corrupt
    * record's full serialization) — so the oracle reconstructs every
    * byte of the accounting arithmetically: a resync that lands anywhere
    * but the exact next boundary at EITHER tier, or a missed CRC
    * verification, breaks the hash. Blobs ≡ 3 (mod 25) are DESTROYED
    * WHOLESALE (512 junk bytes, nothing recoverable): each must still
    * emit its per-blob loss row — record fields NULL, the 512 bytes in
    * skipped_member_bytes — the r19 rule that loss accounting holds
    * exactly when corruption is worst. */
  def q228HostileWalk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobs = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val ms = it.toArray.sortBy(_._1)
      if (b % 25 == 3) (b, Array.fill[Byte](512)('X'))
      else (b, hostileMembers(ms.toSeq.map { case (id, t) =>
        (id, "200 OK", s"<html><body><p>$t caf\u00e9</p></body></html>")
      }))
    }
    graft.ext.Warc.extractHostile(blobs)
      .select(
        col("blob_id"), col("rec_idx"),
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("http_status"), col("body"),
        length(col("body")).cast("long").as("body_chars"),
        col("skipped_spans"), col("skipped_bytes"),
        col("skipped_members"), col("skipped_member_bytes"))
      .withColumn("enc", when(col("doc_id").isNotNull,
        expr("""CASE CAST(doc_id % 4 AS INT)
          WHEN 0 THEN 'plain' WHEN 1 THEN 'gzip'
          WHEN 2 THEN 'latin1' ELSE 'gzip+latin1' END""")))
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("blob_id"), col("rec_idx")) // not re-run the demux
  }

  /** The q229 synthesis: the q208 crawl pages (synthPage markup, every
    * 13th doc a 404 error page) shipped through the HOSTILE container —
    * [[hostileMembers]]' record-per-member gz with both corruption tiers
    * and the body-encoding cycle. Shared construction with q228; only
    * the page content differs (so the extraction oracle CTEs replay). */
  private[graft] def hostileCrawlBlobs(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val pages = load(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, lit("404 Not Found"))
          .otherwise(lit("200 OK")).as("st"),
        when(col("doc_id") % 13 === 0,
          lit("<html><body><p>not found</p></body></html>"))
          .otherwise(Html.synthPage(col("doc_id"), col("text"))).as("body"))
      .as[(Long, String, String)]
    pages.groupedBlobs() { (b, it) =>
      (b, hostileMembers(it.toArray.sortBy(_._1).toSeq))
    }
  }

  /** q213 — the CRAWL-FRONTIER capstone: the web tier's stages composed
    * into one fetch plan, the crawl-side mirror of the curation
    * capstones (q53/q195). Every page's outlinks ([[Html.anchorPairs]])
    * feed the frontier; the robots gate resolves each candidate under
    * the shared longest-match argmax ([[graft.ext.Robots]]) — evaluated
    * on the frontier's DISTINCT (site, path) vocabulary, not per link,
    * because thousands of pages cite the same href; survivors rank by
    * citing-page count (the q205 in-degree signal) and the top 3 per
    * site become the fetch list. Rules here: /doc/ subtree allowed
    * everywhere (longest match beats even-site root blocks), /about
    * blocked everywhere, everything else blocked on even sites and
    * default-allowed on odd ones — every REP branch shows up in the
    * output. Shuffles: one explode+groupBy for in-degree, one distinct
    * for the rule vocabulary, one bounded per-site rank window. */
  def q213CrawlFrontier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val links = load(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 7).cast("string").as("site"),
        explode(Html.anchorPairs(Html.synthPage(col("doc_id"), col("text"))))
          .as("_a"))
      .select(col("doc_id"), col("site"), col("_a.href").as("path"))
    val sites = spark.range(7)
    val shared = sites.select(col("id").cast("string").as("r_site"),
        explode(array(
          struct(lit("/doc/").as("r_path"), lit(1).as("r_allow")),
          struct(lit("/about").as("r_path"), lit(0).as("r_allow")))).as("r"))
      .select(col("r_site"), col("r.r_path").as("r_path"),
        col("r.r_allow").as("r_allow"))
    val rootBlock = sites.filter(col("id") % 2 === 0)
      .select(col("id").cast("string").as("r_site"),
        lit("/").as("r_path"), lit(0).as("r_allow"))
    val verdicts = graft.ext.Robots
      .resolveDistinct(links, shared.unionByName(rootBlock))
      .filter(col("allowed"))
      .select(col("site"), col("path"))
    val w = Window.partitionBy(col("site"))
      .orderBy(col("n_refs").desc, col("path").asc)
    links.join(verdicts, Seq("site", "path"))
      .groupBy(col("site"), col("path"))
      .agg(countDistinct(col("doc_id")).as("n_refs"))
      .withColumn("fetch_rank", row_number().over(w))
      .filter(col("fetch_rank") <= 3)
      .select(col("site"),
        concat(lit("https://site"), col("site"), lit(".example.org"),
          col("path")).as("url"),
        col("n_refs"), col("fetch_rank").cast("long").as("fetch_rank"))
      .transform(tinySort(_, col("site"), col("fetch_rank")))
  }

  /** q212 — HTTP redirect-chain resolution over the crawl: every third
    * and fourth URL class 301s to its successor (Location header — the
    * walk must surface it from the HTTP headers), and the resolver
    * follows each crawled URL to its landing page with a HARD 3-hop cap
    * (bounded unrolled left joins — a cycle or a hostile chain costs a
    * fixed number of shuffles, never an unbounded loop). Chains here
    * reach 2 hops (1-mod-4 → 2-mod-4 → 3-mod-4 lands); block-tail
    * targets that were never crawled resolve to a dangling final URL
    * with a NULL final status. The oracle resolves the same chains with
    * a recursive CTE — a genuinely different algorithm (fixpoint vs
    * unrolled), so agreement checks the semantics, not the spelling.
    * The resolver is [[graft.ext.Redirects.resolve]], shared VERBATIM
    * with [[graft.stream.StreamingRedirects]] (r17). Scale shape: the
    * per-URL frame joins the redirect EDGE subset (O(corpus/2) here,
    * usually far sparser) three times on the URL key; everything is
    * equi-join + one checkpoint of the demuxed metadata read four
    * ways. */
  def q212RedirectChains(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Warc
    graft.ext.Redirects.resolve(Warc.extractHttpMeta(redirectBlobs(spark, dir)))
      .select(
        regexp_extract(col("orig"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("final_uri"), col("final_status"), col("hops"))
      .transform(tinySort(_, col("doc_id")))
  }

  /** The q212 blob synthesis (every 1-mod-4 / 2-mod-4 doc 301s to its
    * successor, the rest serve 200s) — shared with the streaming
    * redirect twin's spec so the arrival-time loop ingests the SAME
    * bytes. */
  private[graft] def redirectBlobs(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    import graft.ext.Warc
    docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val ms = it.toArray.sortBy(_._1)
      val entries = ms.toSeq.map { case (id, t) =>
        val payload =
          if (id % 4 == 1 || id % 4 == 2)
            Warc.httpRedirect(s"https://example.org/doc/${id + 1}")
          else Warc.httpResponse("200 OK",
            s"<html><body><p>$t</p></body></html>")
        Warc.Entry("response", Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response", payload)
      }
      (b, Warc.synthesize(entries))
    }
  }

  /** The q207/q210/q214 shared blob entry list: warcinfo + request/
    * response pairs for the blob's docs in id order. */
  private def warcEntries(ms: Array[(Long, String)]): Seq[graft.ext.Warc.Entry] = {
    import graft.ext.Warc
    Warc.Entry("warcinfo", None, "application/warc-fields",
        "software: graft-crawler/1.0\r\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)) +:
      ms.toSeq.flatMap { case (id, t) =>
        val status = if (id % 13 == 0) "404 Not Found" else "200 OK"
        Seq(
          Warc.Entry("request", Some(s"https://example.org/doc/$id"),
            "application/http; msgtype=request",
            Warc.httpRequest(s"/doc/$id")),
          Warc.Entry("response", Some(s"https://example.org/doc/$id"),
            "application/http; msgtype=response",
            Warc.httpResponse(status,
              s"<html><body><p>$t</p></body></html>")))
      }
  }

  private def docPairs(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    import spark.implicits._
    load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
  }

  /** `groupByKey(_ / groupSize).mapGroups` with USER-CONTROLLED
    * parallelism — the blob-synthesis idiom of this file, de-serialized.
    *
    * AQE's partition coalescing sizes post-shuffle stages by shuffle
    * BYTES (parallelism-first target, 1 MB minPartitionSize floor), so
    * the sub-MB group-shuffle these builders feed collapsed to ONE
    * partition — and everything fused after it (gzip synthesis, member
    * walks, record parsing: ~1000x more CPU per byte than relational
    * work) ran on a single core at bench SF (measured: q214's demux
    * stage, 1 task, cpu/wall 1.0). Cutting the session-wide AQE floor
    * was A/B-rejected (see Bench.scala) — it taxes the action-latency-
    * bound load tier. A USER-specified repartition is exempt from
    * coalescing, so the fix lives here, where the CPU density is: hash
    * rows to defaultParallelism partitions (cores-derived at any scale,
    * never a local constant) by group id, sort within partitions by id,
    * and walk consecutive runs — exactly groupByKey's grouping contract
    * with the partitioning pinned. Groups arrive sorted by id; bodies
    * keep their defensive `.toArray.sortBy(_._1)` (a no-op on the ≤
    * groupSize-element array). */
  private def groupRuns[T, R: org.apache.spark.sql.Encoder](
      ds: org.apache.spark.sql.Dataset[T], groupSize: Long, id: T => Long)(
      f: (Long, Array[T]) => R)(
      implicit ct: scala.reflect.ClassTag[T]): org.apache.spark.sql.Dataset[R] = {
    val n = ds.sparkSession.sparkContext.defaultParallelism
    // INVARIANT (ADVICE r19): the head column IS the value `id` extracts —
    // both extension methods pass tuple._1 and the datasets are tuples whose
    // first column is that Long; assert it so a future caller that breaks it
    // fails loudly instead of silently splitting groups across partitions
    // and emitting duplicate partial groups. The repartition key (SQL `div`)
    // and the run splitter (Scala `/`) agree for every id, negative ones
    // included: both truncate toward zero, and the quotient never decreases
    // as the id grows, so each group's rows are one run after the sort.
    val idCol = ds.columns.head // the Long group-id component
    require(ds.schema.head.dataType == org.apache.spark.sql.types.LongType,
      s"groupRuns: head column `$idCol` must be the LongType group id " +
        s"the extractor reads (got ${ds.schema.head.dataType})")
    ds.repartition(n, expr(s"`$idCol` div $groupSize"))
      .sortWithinPartitions(col(idCol))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[R] {
          def hasNext: Boolean = buf.hasNext
          def next(): R = {
            val g = id(buf.head) / groupSize
            val arr = scala.collection.mutable.ArrayBuffer.empty[T]
            while (buf.hasNext && id(buf.head) / groupSize == g)
              arr += buf.next()
            f(g, arr.toArray)
          }
        }
      }
  }

  private[graft] implicit class GroupedBlobsOps[T](
      ds: org.apache.spark.sql.Dataset[(Long, T)])(
      implicit ct: scala.reflect.ClassTag[(Long, T)]) {
    def groupedBlobs[R: org.apache.spark.sql.Encoder](groupSize: Long = 8L)(
        f: (Long, Array[(Long, T)]) => R): org.apache.spark.sql.Dataset[R] =
      groupRuns(ds, groupSize, (t: (Long, T)) => t._1)(f)
  }

  private[graft] implicit class GroupedBlobs3Ops[A, B](
      ds: org.apache.spark.sql.Dataset[(Long, A, B)])(
      implicit ct: scala.reflect.ClassTag[(Long, A, B)]) {
    def groupedBlobs[R: org.apache.spark.sql.Encoder](groupSize: Long = 8L)(
        f: (Long, Array[(Long, A, B)]) => R): org.apache.spark.sql.Dataset[R] =
      groupRuns(ds, groupSize, (t: (Long, A, B)) => t._1)(f)
  }

  /** The q207/q210 shared blob synthesis: eight docs per blob. */
  private[graft] def warcBlobs(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    docPairs(spark, dir).groupedBlobs() { (b, it) =>
      (b, graft.ext.Warc.synthesize(warcEntries(it.toArray.sortBy(_._1))))
    }
  }

  /** q208 — the crawl-ingest chain END-TO-END: crawl bytes → WARC demux →
    * HTTP status gate → boilerplate extraction, every seam real. Pages
    * ([[Html.synthPage]] markup, built by the Column expression so there
    * is exactly ONE page definition in the codebase) are packed into WARC
    * response records (every 13th doc serves a 404 error page instead);
    * Spark walks the container, keeps the 200s, derives the doc id back
    * from the crawled URI — the pipeline never peeks at the source
    * table's key — and runs the q204 extractor over the recovered body
    * strings; the whole chain is [[graft.ext.Crawl.extract]], shared
    * verbatim with [[graft.stream.StreamingCrawl]]. The oracle is q204's CTE
    * chain restricted to the non-404 id class: the whole container/HTTP
    * layer must be value-transparent for the hash to match. */
  def q208CrawlExtract(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Crawl.extract(crawlBlobs(spark, dir))
      .localCheckpoint()
      .orderBy(col("doc_id"))

  /** The q208 crawl synthesis (pages → WARC response blobs, eight docs per
    * blob, every 13th doc a 404 error page) — shared with the streaming
    * twin's spec so the arrival-time loop ingests the SAME bytes. */
  private[graft] def crawlBlobs(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    import graft.ext.Warc
    val pages = load(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0,
          lit("<html><body><p>not found</p></body></html>"))
          .otherwise(Html.synthPage(col("doc_id"), col("text"))).as("body"),
        when(col("doc_id") % 13 === 0, lit("404 Not Found"))
          .otherwise(lit("200 OK")).as("st"))
      .as[(Long, String, String)]
    pages.groupedBlobs() { (b, it) =>
      val ms = it.toArray.sortBy(_._1)
      val entries = ms.toSeq.map { case (id, body, st) =>
        Warc.Entry("response", Some(s"https://example.org/doc/$id"),
          "application/http; msgtype=response", Warc.httpResponse(st, body))
      }
      (b, Warc.synthesize(entries))
    }
  }

  /** q209 — robots-rules URL filtering under the LONGEST-MATCH rule (the
    * Google robots.txt spec's core: among the group's rules whose path is
    * a prefix of the URL path, the longest wins; an allow/disallow TIE at
    * equal length resolves to allow; no match means allow). Wildcards are
    * out of scope — the deterministic prefix subset is what the REP RFC
    * 9309 requires of every implementation. Rules are a bounded per-site
    * table (five shared rules per site + a root disallow on even sites) —
    * broadcast; the corpus side is one prefix-predicate broadcast join +
    * one per-URL argmax via struct max, no window over the corpus. URL
    * paths cycle five shapes so every branch is exercised: nested allow
    * under a blocked root, a longer disallow overriding an allow, a pure
    * disallow subtree, the equal-length tie, and the no-match default. */
  def q209RobotsFilter(spark: SparkSession, dir: String): DataFrame =
    q209Stage(spark, dir)
      .localCheckpoint()
      .orderBy(col("doc_id"))

  /** q209 before the dump checkpoint (the checkpoint truncates the plan,
    * so PlanShapeSpec pins the join shape here). */
  private[graft] def q209Stage(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 7).cast("string").as("site"),
        expr("""CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN '/a/' || CAST(doc_id AS STRING)
          WHEN 1 THEN '/a/x' || CAST(doc_id AS STRING)
          WHEN 2 THEN '/tmp/' || CAST(doc_id AS STRING)
          WHEN 3 THEN '/b/p'
          ELSE '/c/' || CAST(doc_id AS STRING) END""").as("path"))
    val sites = spark.range(7)
    val shared = sites.select(col("id").cast("string").as("r_site"),
        explode(array(
          struct(lit("/a/").as("r_path"), lit(1).as("r_allow")),
          struct(lit("/a/x").as("r_path"), lit(0).as("r_allow")),
          struct(lit("/tmp/").as("r_path"), lit(0).as("r_allow")),
          struct(lit("/b/p").as("r_path"), lit(1).as("r_allow")),
          struct(lit("/b/p").as("r_path"), lit(0).as("r_allow")))).as("r"))
      .select(col("r_site"), col("r.r_path").as("r_path"),
        col("r.r_allow").as("r_allow"))
    val rootBlock = sites.filter(col("id") % 2 === 0)
      .select(col("id").cast("string").as("r_site"),
        lit("/").as("r_path"), lit(0).as("r_allow"))
    val rules = shared.unionByName(rootBlock)
    graft.ext.Robots.verdictPerRow(docs, rules,
      Seq("doc_id", "site", "path"))
  }

  /** q216 — robots filtering under FULL RFC 9309 special characters
    * ([[graft.ext.Robots.verdictPerRowWild]]): `*` runs, trailing `$`
    * anchors, specificity = pattern length as written, allow wins ties —
    * the same single argmax as q209, different match tier. The rule set
    * exercises every wildcard branch: star-suffix vs longer literal
    * (`/fish*` < `/fishheads`), the anchored extension rule (slash,
    * star, `.php$` — beats `/page/` on exact-.php paths, loses its grip
    * the moment the path continues), the equal-length allow/disallow tie, a LITERAL
    * dot that must not regex-match (`/files/doc.` must not claim
    * `/files/docs/...` — escaping is load-bearing), a mid-pattern star
    * (`/misc/` + star + `0` fires only when a 0 follows), and the even-site root
    * block underneath everything. The oracle replays each pattern as a
    * HAND-WRITTEN LIKE translation — the Scala regex compiler has no
    * counterpart on the DuckDB side to share a bug with. */
  def q216RobotsWildcards(spark: SparkSession, dir: String): DataFrame =
    q216Stage(spark, dir)
      .localCheckpoint()
      .orderBy(col("doc_id"))

  private[graft] def q216Stage(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 3).cast("string").as("site"),
        expr("""CASE CAST(doc_id % 7 AS INT)
          WHEN 0 THEN '/fish/' || CAST(doc_id AS STRING)
          WHEN 1 THEN '/fishheads/' || CAST(doc_id AS STRING)
          WHEN 2 THEN '/page/' || CAST(doc_id AS STRING) || '.php'
          WHEN 3 THEN '/page/' || CAST(doc_id AS STRING) || '.php/more'
          WHEN 4 THEN '/files/doc.' || CAST(doc_id AS STRING)
          WHEN 5 THEN '/misc/' || CAST(doc_id AS STRING)
          ELSE '/files/docs/' || CAST(doc_id AS STRING) END""").as("path"))
    val sites = spark.range(3)
    val shared = sites.select(col("id").cast("string").as("r_site"),
        explode(array(
          struct(lit("/fish*").as("r_path"), lit(0).as("r_allow")),
          struct(lit("/fishheads").as("r_path"), lit(1).as("r_allow")),
          struct(lit("/*.php$").as("r_path"), lit(0).as("r_allow")),
          struct(lit("/page/").as("r_path"), lit(1).as("r_allow")),
          struct(lit("/page/").as("r_path"), lit(0).as("r_allow")),
          struct(lit("/files/doc.").as("r_path"), lit(1).as("r_allow")),
          struct(lit("/misc/*0").as("r_path"), lit(0).as("r_allow")))).as("r"))
      .select(col("r_site"), col("r.r_path").as("r_path"),
        col("r.r_allow").as("r_allow"))
    val rootBlock = sites.filter(col("id") % 2 === 0)
      .select(col("id").cast("string").as("r_site"),
        lit("/").as("r_path"), lit(0).as("r_allow"))
    graft.ext.Robots.verdictPerRowWild(docs, shared.unionByName(rootBlock),
      Seq("doc_id", "site", "path"))
  }

  /** q219 — HTML entity decoding as an explicit layer
    * ([[Html.decodeEntities]]): sanitizer-escaped text (the five core
    * references, including a DOUBLE-escaped pair that must come out
    * single-decoded — one-pass semantics, amp last) is decoded back to
    * markup-literal text, with the reference count as an audit column.
    * The engine decodes with codegen'd literal replaces; the oracle
    * replays the same chain with DuckDB's replace() — plus ExtSpec's
    * hand-computed table (the &amp;lt; trap included) so the chain
    * order itself is pinned, not just engine agreement. */
  def q219EntityDecode(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(lit("A &lt;b&gt; said: &quot;"), col("text"),
      lit("&quot; &amp; that&#39;s &amp;lt;fine&amp;gt;"))
    load(spark, dir, "documents")
      .select(col("doc_id"), raw.as("_raw"))
      .select(col("doc_id"),
        Html.decodeEntities(col("_raw")).as("decoded"),
        size(regexp_extract_all(col("_raw"),
          lit("&(amp|lt|gt|quot|#39);"), lit(0))).cast("long").as("n_refs"))
      .localCheckpoint() // O(input) dump: the range sort's sampling pass
      .orderBy(col("doc_id")) // must not re-run the decode (q204 pattern)
  }

  /** q230 — NUMERIC character references ([[Html.decodeEntities]], now
    * the fused [[graft.functions.EntityDecode]] kernel): every numeric
    * branch of the HTML5 end-state rules planted in one fixture —
    * decimal, hex (both x/X spellings), leading zeros (value-capped, not
    * digit-capped), the C1 windows-1252 remap (`&#150;` must equal
    * `&#x2013;`), an astral codepoint, and the U+FFFD classes (NUL,
    * surrogate, above-ceiling in both radixes) — plus the one-pass law
    * (`&amp;#65;` stays `&#65;`) and the invalid-reference ride-throughs
    * (bad digits, empty body, bad hex, unterminated). The audit column
    * counts candidate numeric references in the RAW string with one
    * regex both engines run verbatim. */
  def q230NumericEntities(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      lit("caf&#233; &#x41;B &#X2013;&#150; &#x1F600; z&#48;&#x000000041;" +
        " bad&#0;&#xD800;&#x110000;&#1114112; amp&amp;#65; t&#zz; u&#;" +
        " v&#xG1; w&#12 "),
      col("text"))
    load(spark, dir, "documents")
      .select(col("doc_id"), raw.as("_raw"))
      .select(col("doc_id"),
        Html.decodeEntities(col("_raw")).as("decoded"),
        size(regexp_extract_all(col("_raw"),
          lit("&#[xX]?[0-9a-fA-F]+;"), lit(0))).cast("long").as("n_numeric"))
      .localCheckpoint() // O(input) dump: the range sort's sampling pass
      .orderBy(col("doc_id")) // must not re-run the decode (q204 pattern)
  }

  /** q220 — sitemap.xml walk: per-site sitemaps are SYNTHESIZED
    * (urlset/url/loc/lastmod, entries in doc order inside one XML string
    * per site), the engine extracts (loc, lastmod) pairs with ONE
    * two-group pattern (the aligned-extraction discipline q205 set —
    * a malformed url element drops from both arrays, it cannot shift
    * later pairs), recovers the doc id from each loc, and anti-joins the
    * ALREADY-CRAWLED frontier (every third doc) — the seed-discovery
    * step a crawler runs against robots' Sitemap: lines. The oracle
    * replays the construction arithmetically: survivors are exactly the
    * uncrawled id classes with their derived lastmod strings. Shuffles:
    * one per-site groupBy to assemble, one anti-join. */
  def q220SitemapWalk(spark: SparkSession, dir: String): DataFrame =
    sitemapTail(sitemapDocs(spark, dir), sitemapXmls(spark, dir))

  /** The q220/q226 shared doc frame: per doc its site, canonical URL,
    * and derived lastmod string. */
  private def sitemapDocs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 7).cast("string").as("site"),
        expr("""'https://site' || CAST(doc_id % 7 AS STRING) ||
          '.example.org/doc/' || CAST(doc_id AS STRING)""").as("url"),
        expr("""'2026-' || lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0') ||
          '-' || lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0')""")
          .as("lastmod"))

  /** The q220/q226 shared sitemap assembly: one urlset XML per site,
    * entries in doc order, keyed by the sitemap's own URL. */
  private def sitemapXmls(spark: SparkSession, dir: String): DataFrame =
    sitemapDocs(spark, dir)
      .groupBy(col("site"))
      .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"),
            concat(lit("<url><loc>"), col("url"), lit("</loc><lastmod>"),
              col("lastmod"), lit("</lastmod></url>")).as("entry")))),
          x => x.getField("entry")), ""),
        lit("</urlset>")).as("xml"))
      .withColumn("sitemap_url",
        concat(lit("https://site"), col("site"),
          lit(".example.org/sitemap.xml")))

  /** The q220/q226 shared extraction + frontier anti-join over an
    * (already discovery-filtered, for q226) sitemap set. */
  private def sitemapTail(docs: DataFrame, sitemaps: DataFrame): DataFrame = {
    val pat = "<url><loc>([^<]*)</loc><lastmod>([^<]*)</lastmod></url>"
    val entries = sitemaps
      .select(col("site"),
        explode(zip_with(
          regexp_extract_all(col("xml"), lit(pat), lit(1)),
          regexp_extract_all(col("xml"), lit(pat), lit(2)),
          (l, m) => struct(l.as("url"), m.as("lastmod")))).as("_e"))
      .select(col("site"), col("_e.url").as("url"),
        col("_e.lastmod").as("lastmod"))
    val crawled = docs.filter(col("doc_id") % 3 === 0).select(col("url"))
    entries
      .join(crawled, Seq("url"), "left_anti")
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("site"), col("url"), col("lastmod"))
      .transform(tinySort(_, col("doc_id")))
  }

  /** q232 — the CANONICAL-KEYED frontier ([[graft.ext.Urls.canonical]],
    * q89's operator routed into the crawl tier): sitemap candidates
    * arrive under mirror-variant spellings — scheme case (`HTTP://`),
    * `www.` prefixes, trailing slashes, tracking params, fragments, and
    * for every fifth doc a SECOND full spelling with a later lastmod —
    * while the already-crawled frontier holds the plain spelling. Both
    * sides of the anti-join key on the canonical form: a raw-string
    * anti-join (q220's, which is safe there only because its fixture is
    * single-spelling by construction) would drop NOTHING here and
    * double-fetch every crawled page; and the candidate set itself
    * dedupes by canonical key (n_spellings, latest lastmod, min raw
    * spelling — the crawl-scheduler's view). The oracle replays every
    * spelling class closed-form. Idempotence of the key is pinned
    * separately (PropertySpec's canonical fixpoint law). Shuffles: one
    * canonical-key groupBy + one anti-join — both on the dedup key, the
    * q89 scale shape. */
  def q232CanonicalFrontier(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Urls
    val base = load(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 7).cast("string").as("site"),
        expr("""'https://site' || CAST(doc_id % 7 AS STRING) ||
          '.example.org/doc/' || CAST(doc_id AS STRING)""").as("plain"),
        expr("""'2026-' || lpad(CAST(1 + doc_id % 12 AS STRING), 2, '0') ||
          '-' || lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0')""")
          .as("lastmod"))
    val spelled = base
      .withColumn("url", expr("""CASE CAST(doc_id % 5 AS INT)
        WHEN 1 THEN 'HTTP://WWW.' || substr(plain, 9)
        WHEN 2 THEN plain || '/'
        WHEN 3 THEN plain || '?utm_source=feed'
        WHEN 4 THEN plain || '#frag'
        ELSE plain END"""))
      .select(col("site"), col("url"), col("lastmod"))
    val dupes = base.filter(col("doc_id") % 5 === 0)
      .select(col("site"),
        expr("""'https://www.site' || CAST(doc_id % 7 AS STRING) ||
          '.example.org/doc/' || CAST(doc_id AS STRING) ||
          '?utm_source=x&ref=z'""").as("url"),
        lit("2027-01-01").as("lastmod"))
    val crawled = base.filter(col("doc_id") % 3 === 0)
      .select(Urls.canonical(col("plain")).as("canon"))
    spelled.unionByName(dupes)
      .select(col("site"), Urls.canonical(col("url")).as("canon"),
        col("url"), col("lastmod"))
      .groupBy(col("canon"))
      .agg(min(col("site")).as("site"),
        count(lit(1)).as("n_spellings"),
        min(col("url")).as("first_spelling"),
        max(col("lastmod")).as("lastmod"))
      .join(crawled, Seq("canon"), "left_anti")
      .select(
        regexp_extract(col("canon"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("site"), col("canon").as("canon_url"), col("n_spellings"),
        col("lastmod"), col("first_spelling"))
      .transform(tinySort(_, col("doc_id")))
  }

  /** q238 — SITEMAP INDEX recursion (`<sitemapindex>` — how large sites
    * actually ship their URL inventory: a sitemap-of-sitemaps whose
    * entries are CHILD sitemap URLs, each child a bounded urlset): two
    * extraction LEVELS compose — child locs from the index (one-group
    * pattern), then the q220 two-group (loc, lastmod) extraction over
    * exactly the children the index DECLARED (the fetch is a join on
    * the child URL, so an index loc addressing nothing — or a child the
    * index never declared — drops out, same load-bearing discovery as
    * q226), then the crawled-frontier anti-join. Each site's docs split
    * across two children by `doc_id div 7 % 2`, so both recursion
    * branches carry mass on every site. Shuffles: two bounded per-site
    * groupBys to assemble, one child-URL join, one anti-join. */
  /** The q238/q244 shared TWO-LEVEL walk: index XML → declared child
    * sitemaps → (site, child, url, lastmod) entries, both extraction
    * levels real (the fetch is a join on the child URL — an undeclared
    * child drops). */
  private def sitemapIndexEntries(spark: SparkSession, dir: String): DataFrame = {
    val docs = sitemapDocs(spark, dir)
      .withColumn("child", expr("doc_id div 7 % 2"))
    val childXml = docs
      .groupBy(col("site"), col("child"))
      .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"),
            concat(lit("<url><loc>"), col("url"), lit("</loc><lastmod>"),
              col("lastmod"), lit("</lastmod></url>")).as("entry")))),
          x => x.getField("entry")), ""),
        lit("</urlset>")).as("xml"))
      .withColumn("child_url",
        concat(lit("https://site"), col("site"),
          lit(".example.org/sitemap-"), col("child").cast("string"),
          lit(".xml")))
    val indexXml = childXml
      .groupBy(col("site"))
      .agg(concat(lit("<?xml version=\"1.0\"?><sitemapindex>"),
        array_join(transform(
          array_sort(collect_list(struct(col("child"),
            concat(lit("<sitemap><loc>"), col("child_url"),
              lit("</loc></sitemap>")).as("entry")))),
          x => x.getField("entry")), ""),
        lit("</sitemapindex>")).as("ixml"))
    val childLocs = indexXml.select(col("site"),
      explode(regexp_extract_all(col("ixml"),
        lit("<sitemap><loc>([^<]*)</loc></sitemap>"), lit(1)))
        .as("child_url"))
    val pat = "<url><loc>([^<]*)</loc><lastmod>([^<]*)</lastmod></url>"
    childLocs
      .join(childXml.select(col("child_url"), col("child"), col("xml")),
        Seq("child_url"))
      .select(col("site"), col("child"),
        explode(zip_with(
          regexp_extract_all(col("xml"), lit(pat), lit(1)),
          regexp_extract_all(col("xml"), lit(pat), lit(2)),
          (l, m) => struct(l.as("url"), m.as("lastmod")))).as("_e"))
      .select(col("site"), col("child"), col("_e.url").as("url"),
        col("_e.lastmod").as("lastmod"))
  }

  def q238SitemapIndex(spark: SparkSession, dir: String): DataFrame = {
    val entries = sitemapIndexEntries(spark, dir)
    val crawled = sitemapDocs(spark, dir)
      .filter(col("doc_id") % 3 === 0).select(col("url"))
    entries
      .join(crawled, Seq("url"), "left_anti")
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("site"), col("child"), col("url"), col("lastmod"))
      .transform(tinySort(_, col("doc_id")))
  }

  /** q244 — RECRAWL SCHEDULING: the join q238 and q237 were each one
    * half of — sitemap `lastmod` (freshness the SITE declares) against
    * the stored-capture frame (what the crawler HOLDS, with its cache
    * validator), emitting the per-URL fetch decision a real recrawler
    * makes:
    *
    *   - no stored capture → `fetch-new` (nothing to validate against);
    *   - lastmod AFTER the capture date → `fetch-modified`
    *     (unconditional fetch — the site says it changed);
    *   - else → `conditional` (an If-None-Match revalidation carrying
    *     the STORED ETag, which rides the output as cond_etag — the
    *     q237 validator flowing into the scheduling decision).
    *
    * Sitemap URLs+lastmod come through the REAL two-level index walk
    * (the q238 extraction, shared builder); stored captures come
    * through REAL container bytes with parsed validators
    * ([[graft.ext.Warc.extractValidators]], the q237 transport); the
    * comparison is ISO-date string order (exact, no date parsing).
    * Scale shape: one map-side demux + ONE left equi-join on the URL.
    * The oracle replays captures (md5-as-ETag), dates, and all three
    * decision classes closed-form. */
  def q244RecrawlSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(x => f"$x%02x").mkString
    }
    val entries = sitemapIndexEntries(spark, dir)
    val crawl1 = docPairs(spark, dir)
      .filter(_._1 % 3 == 0) // the stored (already-crawled) class
      .groupedBlobs() { (b, it) =>
        val recs = it.toArray.sortBy(_._1).toSeq.map { case (id, t) =>
          val body = s"<html><body><p>$t</p></body></html>"
          Warc.Entry("response",
            Some(s"https://site${id % 7}.example.org/doc/$id"),
            "application/http; msgtype=response",
            (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
              "ETag: \"" + md5hex(body) + "\"\r\n\r\n" + body)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        (b, Warc.synthesize(recs))
      }
    val captures = Warc.extractValidators(crawl1)
      .select(col("uri").as("url"), col("etag"),
        lit("2026-06-15").as("captured_at"))
    // plain equi-join: the capture store is corpus-sized at scale (AQE
    // still broadcasts it under the threshold at test SFs)
    entries.join(captures, Seq("url"), "left")
      .select(
        regexp_extract(col("url"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("site"), col("url"), col("lastmod"), col("captured_at"),
        when(col("etag").isNull, lit("fetch-new"))
          .when(col("lastmod") > col("captured_at"), lit("fetch-modified"))
          .otherwise(lit("conditional")).as("decision"),
        when(col("etag").isNotNull && !(col("lastmod") > col("captured_at")),
          col("etag")).as("cond_etag"))
      .transform(tinySort(_, col("doc_id")))
  }

  /** q226 — sitemap DISCOVERY through robots.txt: the `Sitemap:`
    * directive (RFC 9309 §2.3 — group-INDEPENDENT, typically written
    * above any group) is parsed by the same relational parser as the
    * rules ([[graft.ext.Robots.parseDirectives]] assigns pre-group lines
    * gid 0, and the sitemap consumer ignores gids entirely), and ONLY
    * declared sitemaps are fetched and walked: even sites declare, odd
    * sites' sitemaps exist but are never discovered, so their URLs are
    * absent from the fetch candidates — discovery is load-bearing, not
    * decorative. Downstream is q220's extraction + frontier anti-join
    * verbatim (shared tail). Closes the r17 NOTES seam (robots Sitemap
    * directives feeding the walk end-to-end). */
  def q226SitemapDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val txts = spark.range(7)
      .select(col("id").cast("string").as("site"), robotsTxt(col("id")).as("txt"))
    val declared = graft.ext.Robots.parseDirectives(txts)
      .filter(col("name") === "sitemap")
      .select(col("value").as("sitemap_url"))
    sitemapTail(sitemapDocs(spark, dir),
      sitemapXmls(spark, dir).join(broadcast(declared), Seq("sitemap_url")))
  }

  /** q221 — MIRROR DETECTION by body digest (the CommonCrawl
    * content-digest dedup idiom): every 8-mod-16 id class serves the
    * BODY of its id−8 twin from a different URL on a (usually)
    * different host — URL-distinct, byte-identical pages, the case URL
    * dedup can't see and text near-dup wastes work on. The engine walks
    * the real bytes, groups responses by body md5 (computed once in the
    * demux), and emits per mirror set the canonical (min) URL, URL and
    * host counts, and the body mass; natural exact-dup texts in the
    * corpus merge groups beyond the planted pairs, which the oracle
    * replays by grouping on the constructed body STRING (no digest on
    * the DuckDB side — a digest collision or a demux bug cannot hide).
    * Scale shape: one groupBy on the 16-byte digest — the exact-dedup
    * shuffle (A4/q20), never the bodies themselves. */
  def q221MirrorDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val docs = load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val src = docs.select(col("doc_id").as("src_id"), col("text").as("src_text"))
    val pages = docs
      .withColumn("src_id",
        col("doc_id") - when(col("doc_id") % 16 >= 8, 8).otherwise(0))
      .join(src, Seq("src_id"))
      .select(col("doc_id"), col("src_text"))
      .as[(Long, String)]
    val blobs = pages.groupedBlobs() { (b, it) =>
      val ms = it.toArray.sortBy(_._1)
      val entries = ms.toSeq.map { case (id, t) =>
        Warc.Entry("response",
          Some(s"https://site${id % 7}.example.org/doc/$id"),
          "application/http; msgtype=response",
          Warc.httpResponse("200 OK", s"<html><body><p>$t</p></body></html>"))
      }
      (b, Warc.synthesize(entries))
    }
    Warc.extractRecords(blobs)
      .filter(col("http_status") === 200)
      .groupBy(col("body_md5"))
      .agg(min(col("uri")).as("canonical_uri"),
        count(lit(1)).as("n_urls"),
        countDistinct(regexp_extract(col("uri"), "^https://([^/]+)/", 1))
          .as("n_hosts"),
        max(col("body_bytes")).as("body_bytes"))
      .select(col("canonical_uri"), col("n_urls"), col("n_hosts"),
        col("body_bytes"))
      .transform(tinySort(_, col("canonical_uri")))
  }

  /** The q222 per-site robots.txt TEXT — real file syntax: comments,
    * blank lines, a longer-token trap group (`graftbot-images`), an
    * `otherbot` group, a `*` fallback, and per site-class a `graftbot`
    * group (s%3==0, with Crawl-delay), a MULTI-TOKEN group whose second
    * UA line is `graftbot` (s%3==1 — consecutive User-agent lines share
    * one group), or none (s%3==2 — selection falls to `*`). */
  private def robotsTxt(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("# robots for site "), s.cast("string"), lit("\n\n"),
      // group-independent Sitemap declaration (q226) — EVEN sites only;
      // parses as a gid-0 (pre-group) directive, invisible to the
      // q222/q223 rule/delay consumers
      when(s % 2 === 0, concat(lit("Sitemap: https://site"), s.cast("string"),
        lit(".example.org/sitemap.xml\n\n"))).otherwise(lit("")),
      lit("User-agent: graftbot-images\nDisallow: /img/\n\n"),
      when(s % 3 === 0, concat(
        lit("User-agent: graftbot\nAllow: /a/x\nDisallow: /a/ # comment\nCrawl-delay: "),
        (s % 5 + 1).cast("string"), lit("\n\n"))).otherwise(lit("")),
      when(s % 3 === 1,
        lit("User-agent: webcrawler\nUser-agent: graftbot\nDisallow: /news/\n\n"))
        .otherwise(lit("")),
      lit("User-agent: otherbot\nDisallow: /\n\n"),
      lit("User-agent: *\nDisallow: /tmp/\n"))

  /** q222 — robots.txt FILE parsing + RFC 9309 group selection: the
    * missing layer between crawl bytes and the q209/q216 rule resolver.
    * Per-site robots.txt TEXTS (comments, blank lines, multi-token
    * groups) parse relationally ([[graft.ext.Robots.parseDirectives]] —
    * group-islands via one lag + one running-sum window), the crawler's
    * group is selected by longest-prefix user-agent match
    * ([[graft.ext.Robots.selectGroup]] — `graftbot-images` must NOT
    * capture UA `graftbot`; a multi-UA group matches through its second
    * token; sites without a graftbot group fall back to `*`), and ONLY
    * the selected group's rules reach the shared longest-match argmax —
    * group selection REPLACES, it never unions (the classic robots
    * gotcha: /tmp/ is blocked for strangers but NOT for graftbot on
    * sites that address graftbot explicitly). The oracle never parses:
    * it writes the per-site-class effective rule table arithmetically
    * and replays the q209 match, so a parser or selection bug cannot
    * hide. Output carries the selected group's Crawl-delay (NULL where
    * the group has none). */
  def q222RobotsParse(spark: SparkSession, dir: String): DataFrame =
    q222Stage(spark, dir)
      .localCheckpoint()
      .orderBy(col("doc_id"))

  private[graft] def q222Stage(spark: SparkSession, dir: String): DataFrame = {
    val txts = spark.range(7)
      .select(col("id").cast("string").as("site"), robotsTxt(col("id")).as("txt"))
    robotsVerdicts(spark, dir, txts)
  }

  /** The q222/q227 shared tail: parse → group selection → ONLY the
    * selected group's rules/delay → verdicts. `txts` is (site, txt) —
    * built as plain column values (q222) or recovered from WARC bytes
    * (q227): the policy semantics cannot drift between the two
    * transports. */
  /** The q222/q227/q239 shared fetch-candidate frame: per doc its site
    * and a path cycling the five REP branch shapes. */
  private def robotsCandidates(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 7).cast("string").as("site"),
        expr("""CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN '/a/x' || CAST(doc_id AS STRING)
          WHEN 1 THEN '/a/' || CAST(doc_id AS STRING)
          WHEN 2 THEN '/tmp/' || CAST(doc_id AS STRING)
          WHEN 3 THEN '/news/' || CAST(doc_id AS STRING)
          ELSE '/img/' || CAST(doc_id AS STRING) END""").as("path"))

  private def robotsVerdicts(spark: SparkSession, dir: String,
                             txts: DataFrame): DataFrame = {
    import graft.ext.Robots
    val docs = robotsCandidates(spark, dir)
    val dirs = Robots.parseDirectives(txts).localCheckpoint(true) // 3 consumers
    val sel = dirs.transform(Robots.selectGroup(_, "graftbot"))
    val rules = dirs.join(sel, Seq("site", "gid"))
      .filter(col("name").isin("allow", "disallow") && col("value") =!= "")
      .select(col("site").as("r_site"), col("value").as("r_path"),
        when(col("name") === "allow", 1).otherwise(0).as("r_allow"))
    val delays = dirs.join(sel, Seq("site", "gid"))
      .filter(col("name") === "crawl-delay")
      .select(col("site"), expr("try_cast(value AS BIGINT)").as("crawl_delay"))
    Robots.verdictPerRow(docs, rules, Seq("doc_id", "site", "path"))
      .join(broadcast(delays), Seq("site"), "left")
      .select(col("doc_id"), col("site"), col("path"), col("allowed"),
        col("matched_path"), col("crawl_delay"))
  }

  /** q227 — the robots stack FROM CONTAINER BYTES: each site's
    * robots.txt travels inside a WARC response record (fetched the way a
    * real crawler fetches it — `https://siteS.example.org/robots.txt`,
    * HTTP 200, the file as the body), the walk recovers the text through
    * the full demux/HTTP/charset path, and the SAME shared tail
    * (parse → group selection → verdicts + Crawl-delay) resolves the
    * q222 candidates. The oracle is q222's SQL VERBATIM: the container
    * transport must be value-transparent for the policy layer — the
    * q207/q210 transparency argument applied to CONFIG files rather
    * than content pages, closing the last synthetic seam in the crawl
    * stack (rules no longer appear from nowhere; they are parsed from
    * fetched bytes end-to-end). */
  def q227RobotsFromBytes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val blobs = spark.range(7)
      .select(col("id").cast("string").as("site"), robotsTxt(col("id")).as("txt"))
      .as[(String, String)]
      .map { case (site, txt) =>
        (site.toLong, Warc.synthesize(Seq(Warc.Entry("response",
          Some(s"https://site$site.example.org/robots.txt"),
          "application/http; msgtype=response",
          Warc.httpResponse("200 OK", txt)))))
      }
    val fetched = Warc.extractResponseBodies(blobs)
      .filter(col("http_status") === 200)
      .select(
        regexp_extract(col("uri"), "^https://site([0-9]+)\\.", 1).as("site"),
        col("body").as("txt"))
    robotsVerdicts(spark, dir, fetched)
      .localCheckpoint()
      .orderBy(col("doc_id"))
  }

  /** q239 — robots FETCH-STATUS semantics (RFC 9309 §2.3.1): what a
    * crawler must do when robots.txt itself doesn't come back 200 —
    * "unavailable" (4xx: the server says there IS no policy → crawler
    * MAY access any resource, allow-all) vs "unreachable" (5xx: the
    * policy exists but can't be read → MUST assume complete disallow).
    * Site classes cycle 200/404/503; 200 sites resolve through the
    * SHARED q222/q227 tail restricted to the sites whose file actually
    * arrived (the tail's no-rules default-allow must NOT swallow the
    * error classes — the restriction join is load-bearing), and each
    * verdict carries its source so the three regimes are separable
    * downstream. Fetches ride WARC bytes (the q227 transport). */
  def q239RobotsFetchStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val blobs = spark.range(7)
      .select(col("id").cast("string").as("site"), robotsTxt(col("id")).as("txt"))
      .as[(String, String)]
      .map { case (site, txt) =>
        val payload = (site.toLong % 3) match {
          case 0 => Warc.httpResponse("200 OK", txt)
          case 1 => Warc.httpResponse("404 Not Found", "no robots here")
          case _ => Warc.httpResponse("503 Service Unavailable", "try later")
        }
        (site.toLong, Warc.synthesize(Seq(Warc.Entry("response",
          Some(s"https://site$site.example.org/robots.txt"),
          "application/http; msgtype=response", payload))))
      }
    val fetched = Warc.extractResponseBodies(blobs)
      .select(
        regexp_extract(col("uri"), "^https://site([0-9]+)\\.", 1).as("site"),
        col("http_status"), col("body"))
    val ok = fetched.filter(col("http_status") === 200)
      .select(col("site"), col("body").as("txt"))
    val ruleVerdicts = robotsVerdicts(spark, dir, ok)
      .join(broadcast(ok.select(col("site"))), Seq("site"))
      .select(col("doc_id"), col("site"), col("path"), col("allowed"),
        lit("rules").as("verdict_source"))
    val errVerdicts = robotsCandidates(spark, dir)
      .join(broadcast(fetched.select(col("site"), col("http_status"))),
        Seq("site"))
      .filter(col("http_status") =!= 200)
      .select(col("doc_id"), col("site"), col("path"),
        (col("http_status") === 404).as("allowed"),
        when(col("http_status") === 404, lit("unavailable"))
          .otherwise(lit("unreachable")).as("verdict_source"))
    ruleVerdicts.unionByName(errVerdicts)
      .transform(tinySort(_, col("doc_id")))
  }

  /** q223 — the POLITENESS fetch schedule: q222's full stack (file parse
    * → group selection → rule verdicts → the group's Crawl-delay)
    * composed into per-host fetch timing, the piece a real fetcher runs
    * between the frontier and the wire. Allowed URLs queue per site in
    * doc order; slot k fetches at (k−1)·delay seconds (Crawl-delay where
    * the selected group declares one, the 1-second default where not) —
    * so a host that asked for 4-second spacing gets exactly that, and
    * the delay column's NULL/valued split flows straight from group
    * selection. One window over the site partition; everything upstream
    * is q222's stage verbatim (shared builder — no drift). */
  def q223FetchSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("site")).orderBy(col("doc_id"))
    q222Stage(spark, dir)
      .filter(col("allowed"))
      .withColumn("fetch_rank", row_number().over(w).cast("long"))
      .select(col("site"), col("doc_id"), col("path"), col("fetch_rank"),
        ((col("fetch_rank") - 1) * coalesce(col("crawl_delay"), lit(1L)))
          .as("fetch_at_s"))
      .transform(tinySort(_, col("site"), col("fetch_rank")))
  }

  /** q224 — WET SIDECAR generation, the derived-archive WRITE path:
    * crawl bytes → extraction (the q208 chain) → per-blob CONVERSION
    * records (WARC-Type: conversion, text/plain payload = the extracted
    * text, the format CommonCrawl ships as `.warc.wet`) → re-walked by
    * the generic parser. The engine both WRITES and RE-READS real
    * container bytes; the oracle reconstructs the extracted text
    * arithmetically (the shared b/k/s CTEs) and never sees a container —
    * so the whole write→read loop must be value-transparent, text,
    * byte-mass and record framing included. Completes the container
    * tier's missing direction: until now [[graft.ext.Warc.synthesize]]
    * produced only test inputs; here it is the distributed OUTPUT
    * format of a real derivation. */
  def q224WetSidecar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val pages = graft.ext.Crawl.extract(crawlBlobs(spark, dir))
      .select(col("doc_id"), col("extracted"))
      .as[(Long, String)]
    val wet = pages.groupedBlobs() { (b, it) =>
      val ms = it.toArray.sortBy(_._1)
      val entries = ms.toSeq.map { case (id, ex) =>
        Warc.Entry("conversion", Some(s"https://example.org/doc/$id"),
          "text/plain",
          ex.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      (b, Warc.synthesize(entries))
    }
    Warc.extractConversions(wet)
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("content_length").as("wet_bytes"), col("text"))
      .localCheckpoint()
      .orderBy(col("doc_id"))
  }

  /** q231 — WAT-style METADATA sidecar: the third member of the
    * WARC/WAT/WET derived-archive triplet CommonCrawl ships (q224 wrote
    * WET). Per response record of the q208 crawl — 404s included, WAT
    * covers every capture — the engine derives the capture's metadata
    * from the ACTUAL walked bytes (HTTP status from the status line,
    * title and outlink hrefs extracted from the body markup:
    * [[Html.anchorPairs]], the q224 write-path discipline), serializes
    * it as `application/warc-fields` lines inside `WARC-Type: metadata`
    * records ([[graft.ext.Warc.synthesize]]), RE-WALKS the sidecar
    * ([[graft.ext.Warc.extractMetadata]]), and parses the fields back —
    * so the write→read loop covers serialization, container framing, and
    * field recovery, and the re-walked sidecar must join back to the
    * source walk doc-for-doc. The oracle replays the construction
    * arithmetically (title/outlinks are closed-form in doc_id; wat_bytes
    * is the declared Content-Length of the fields payload). Shuffles:
    * the blob groupBys; everything else map-side demux. */
  def q231WatSidecar(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    val meta = Warc.extractResponseBodies(crawlBlobs(spark, dir))
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        col("http_status"),
        regexp_extract(col("body"), "<title>([^<]*)</title>", 1).as("_t"),
        Html.anchorPairs(col("body")).as("_ap"))
      .select(col("doc_id"),
        concat(
          lit("Status: "), col("http_status").cast("string"), lit("\r\n"),
          lit("Title: "), col("_t"), lit("\r\n"),
          lit("Outlinks: "),
          concat_ws(" ", expr("transform(_ap, a -> a.href)")), lit("\r\n"))
          .as("payload"))
      .as[(Long, String)]
    val wat = meta.groupedBlobs() { (b, it) =>
      val entries = it.toArray.sortBy(_._1).toSeq.map { case (id, p) =>
        Warc.Entry("metadata", Some(s"https://example.org/doc/$id"),
          "application/warc-fields",
          p.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      (b, Warc.synthesize(entries))
    }
    Warc.extractMetadata(wat)
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        regexp_extract(col("fields"), "Status: ([0-9]+)", 1).cast("long")
          .as("http_status"),
        regexp_extract(col("fields"), "Title: ([^\r]*)", 1).as("title"),
        regexp_extract(col("fields"), "Outlinks: ([^\r]*)", 1).as("outlinks"),
        col("content_length").as("wat_bytes"))
      .withColumn("n_links",
        when(col("outlinks") === "", lit(0L))
          .otherwise(size(split(col("outlinks"), " ")).cast("long")))
      .localCheckpoint() // O(input) dump: the sort's sampling pass must
      .orderBy(col("doc_id")) // not re-run the demux (q204 pattern)
  }

  /** q237 — CONDITIONAL-RECRAWL reconciliation through HTTP cache
    * validators ([[graft.ext.Warc.extractValidators]]): q225's sibling
    * one layer down — revisit records dedup STORAGE, ETags dedup
    * TRANSFER. Crawl 1 stores every page with its ETag (the md5 opaque
    * tag); crawl 2's conditional fetches come back 304 Not Modified
    * with the SAME validator and an EMPTY body (unchanged, even ids) or
    * 200 with a fresh body and a NEW validator (changed, odd ids). The
    * reconciler joins the two generations on URI and emits per doc: the
    * changed flag (from crawl 2's status line), the validator-agreement
    * law etag_match — the engine compares the PARSED tags, and the
    * oracle pins it to NOT changed, so a broken ETag parse cannot hide
    * — the authoritative body's mass + md5 (fresh when changed, cached
    * otherwise: a 304 must never overwrite the stored body with its
    * empty one), and bytes_saved (the cached mass the 304 avoided
    * re-transferring). Scale shape: two map-side demux passes + ONE
    * equi-join on the URI. */
  def q237ConditionalRecrawl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(x => f"$x%02x").mkString
    }
    def uri(id: Long) = s"https://example.org/doc/$id"
    def respond(status: String, etag: String, body: String) =
      (s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n" +
        s"ETag: \"$etag\"\r\n\r\n$body")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val crawl1 = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val entries = it.toArray.sortBy(_._1).toSeq.map { case (id, t) =>
        val body = s"<html><body><p>$t</p></body></html>"
        Warc.Entry("response", Some(uri(id)),
          "application/http; msgtype=response",
          respond("200 OK", md5hex(body), body))
      }
      (b, Warc.synthesize(entries))
    }
    val crawl2 = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val entries = it.toArray.sortBy(_._1).toSeq.map { case (id, t) =>
        val b1 = s"<html><body><p>$t</p></body></html>"
        val b2 = s"<html><body><p>$t v2</p></body></html>"
        val payload =
          if (id % 2 == 1) respond("200 OK", md5hex(b2), b2)
          else respond("304 Not Modified", md5hex(b1), "")
        Warc.Entry("response", Some(uri(id)),
          "application/http; msgtype=response", payload)
      }
      (b, Warc.synthesize(entries))
    }
    val c1 = Warc.extractValidators(crawl1)
      .select(col("uri"), col("etag").as("etag1"),
        col("body_bytes").as("bytes1"), col("body_md5").as("md51"))
    val c2 = Warc.extractValidators(crawl2)
      .select(col("uri"), col("http_status").as("status2"),
        col("etag").as("etag2"), col("body_bytes").as("bytes2"),
        col("body_md5").as("md52"))
    c1.join(c2, Seq("uri"))
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long")
          .as("doc_id"),
        (col("status2") === 200).as("changed"),
        (col("etag1") === col("etag2")).as("etag_match"),
        when(col("status2") === 200, col("md52")).otherwise(col("md51"))
          .as("authoritative_md5"),
        when(col("status2") === 200, col("bytes2")).otherwise(col("bytes1"))
          .as("authoritative_bytes"),
        when(col("status2") === 200, lit(0L)).otherwise(col("bytes1"))
          .as("bytes_saved"))
      .transform(tinySort(_, col("doc_id")))
  }

  /** q225 — REVISIT records and storage-dedup reconstruction: the
    * recrawl convention CommonCrawl actually ships. Crawl 1 stores every
    * page's body; on crawl 2, CHANGED pages (odd ids) store a fresh
    * response while UNCHANGED pages (even ids) store a bodiless
    * `WARC-Type: revisit` record whose WARC-Refers-To-Target-URI points
    * at the ORIGINAL capture (the recrawl URI itself differs — ?v=2 —
    * so the refers-to join is the ONLY way to recover the body).
    * Reconstructing the logical latest crawl = fresh responses UNION
    * (revisits ⋈ original bodies on refers_to): per doc, its change
    * status and the AUTHORITATIVE body's mass + md5. The oracle
    * constructs both generations' bodies and picks per id class —
    * a wrong join key, a missed extra header, or a revisit leaking into
    * the response set all break the hash. Scale shape: two demux passes
    * + one equi-join on the referred URI (O(unchanged)). */
  def q225RevisitDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ext.Warc
    def uri(id: Long) = s"https://example.org/doc/$id"
    val crawl1 = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val entries = it.toArray.sortBy(_._1).toSeq.map { case (id, t) =>
        Warc.Entry("response", Some(uri(id)),
          "application/http; msgtype=response",
          Warc.httpResponse("200 OK", s"<html><body><p>$t</p></body></html>"))
      }
      (b, Warc.synthesize(entries))
    }
    val crawl2 = docPairs(spark, dir).groupedBlobs() { (b, it) =>
      val entries = it.toArray.sortBy(_._1).toSeq.map { case (id, t) =>
        if (id % 2 == 1)
          Warc.Entry("response", Some(uri(id) + "?v=2"),
            "application/http; msgtype=response",
            Warc.httpResponse("200 OK",
              s"<html><body><p>$t v2</p></body></html>"))
        else
          Warc.Entry("revisit", Some(uri(id) + "?v=2"),
            "application/http; msgtype=response",
            Warc.httpResponse("304 Not Modified", ""),
            extraHeaders = Seq(
              "WARC-Refers-To-Target-URI" -> uri(id),
              "WARC-Profile" ->
                "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"))
      }
      (b, Warc.synthesize(entries))
    }
    val orig = Warc.extractRecords(crawl1)
      .filter(col("http_status") === 200)
      .select(col("uri").as("o_uri"), col("body_bytes"), col("body_md5"))
    val fresh = Warc.extractRecords(crawl2)
      .filter(col("rec_type") === "response" && col("http_status") === 200)
      .select(col("uri"), lit("changed").as("status"),
        col("body_bytes"), col("body_md5"))
    val unchanged = Warc.extractRevisits(crawl2)
      .select(col("uri"), col("refers_to"))
      .join(orig, col("refers_to") === col("o_uri"))
      .select(col("uri"), lit("unchanged").as("status"),
        col("body_bytes"), col("body_md5"))
    fresh.unionByName(unchanged)
      .select(
        regexp_extract(col("uri"), "/doc/([0-9]+)", 1).cast("long")
          .as("doc_id"),
        col("status"), col("body_bytes"), col("body_md5"))
      .transform(tinySort(_, col("doc_id")))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q204_html_extract" -> (q204HtmlExtract _),
    "q205_anchor_corpus" -> (q205AnchorCorpus _),
    "q207_warc_records" -> (q207WarcRecords _),
    "q208_crawl_extract" -> (q208CrawlExtract _),
    "q209_robots_filter" -> (q209RobotsFilter _),
    "q210_warc_gz" -> (q210WarcGz _),
    "q211_warc_chunked" -> (q211WarcChunked _),
    "q212_redirect_chains" -> (q212RedirectChains _),
    "q213_crawl_frontier" -> (q213CrawlFrontier _),
    "q214_warc_gz_members" -> (q214WarcGzMembers _),
    "q215_warc_resync" -> (q215WarcResync _),
    "q216_robots_wildcards" -> (q216RobotsWildcards _),
    "q217_body_encodings" -> (q217BodyEncodings _),
    "q219_entity_decode" -> (q219EntityDecode _),
    "q220_sitemap_walk" -> (q220SitemapWalk _),
    "q221_mirror_detect" -> (q221MirrorDetect _),
    "q222_robots_parse" -> (q222RobotsParse _),
    "q223_fetch_schedule" -> (q223FetchSchedule _),
    "q224_wet_sidecar" -> (q224WetSidecar _),
    "q225_revisit_dedup" -> (q225RevisitDedup _),
    "q226_sitemap_discovery" -> (q226SitemapDiscovery _),
    "q227_robots_from_bytes" -> (q227RobotsFromBytes _),
    "q228_hostile_walk" -> (q228HostileWalk _),
    "q230_numeric_entities" -> (q230NumericEntities _),
    "q231_wat_sidecar" -> (q231WatSidecar _),
    "q232_canonical_frontier" -> (q232CanonicalFrontier _),
    "q233_meta_charset" -> (q233MetaCharset _),
    "q234_bom_charset" -> (q234BomCharset _),
    "q235_cdx_index" -> (q235CdxIndex _),
    "q236_cdx_seek" -> (q236CdxSeek _),
    "q237_conditional_recrawl" -> (q237ConditionalRecrawl _),
    "q238_sitemap_index" -> (q238SitemapIndex _),
    "q239_robots_fetch_status" -> (q239RobotsFetchStatus _),
    "q240_deflate_bodies" -> (q240DeflateBodies _),
    "q241_main_content" -> (q241MainContent _),
    "q242_boiler_grams" -> (q242BoilerGrams _),
    "q243_archive_write" -> (q243ArchiveWrite _),
    "q244_recrawl_schedule" -> (q244RecrawlSchedule _),
    "q245_lang_content" -> (q245LangContent _),
    "q246_crawl_depth" -> (q246CrawlDepth _),
    "q247_hyperball" -> (q247HyperBall _),
    "q248_harmonic_centrality" -> (q248HarmonicCentrality _),
    "q249_trustrank" -> (q249TrustRank _),
    "q250_crawl_priority" -> (q250CrawlPriority _),
    "q252_template_blocks" -> (q252TemplateBlocks _),
    "q253_bowtie" -> (q253Bowtie _),
    "q254_trust_residuals" -> (q254TrustResiduals _),
    "q255_weighted_pagerank" -> (q255WeightedPagerank _),
    "q256_closeness" -> (q256Closeness _)
  )

  /** The q248/q256 oracle's transpose in-ball profile (ball recursion →
    * min distance → q150 registers per radius → estimates pivoted wide
    * as b0–b3) — shared verbatim so the two centrality weightings can
    * never drift on the profile itself. */
  private val InBallProfileCtes: String =
    s"""ball(src, node, d) AS (
       |   SELECT doc_id, doc_id, 0 FROM documents
       |   UNION
       |   SELECT b.src, e.src, b.d + 1 FROM ball b JOIN e ON e.dst = b.node
       |   WHERE b.d < 3),
       | mem AS (SELECT src, node, MIN(d) AS mind FROM ball
       |         GROUP BY src, node),
       | h AS (SELECT src, mind,
       |   ${ProfilingQueries.hex60("'hll:' || CAST(node AS VARCHAR)")} AS hv
       |   FROM mem),
       | bk AS (SELECT src, mind, hv % 64 AS bucket, hv // 64 AS rest FROM h),
       | rk AS (SELECT src, mind, bucket,
       |        CASE WHEN rest = 0 THEN 55
       |             ELSE length(bin(rest & (-rest))) END AS rho FROM bk),
       | rs AS (SELECT UNNEST([0, 1, 2, 3]) AS r),
       | regs AS (SELECT src, rs.r, bucket, MAX(rho) AS rho
       |          FROM rk, rs WHERE rk.mind <= rs.r
       |          GROUP BY src, rs.r, bucket),
       | z AS (SELECT src, r,
       |         CAST(64 - COUNT(*) AS HUGEINT) AS nz,
       |         SUM(CAST(1 AS HUGEINT) << (62 - rho)) AS zsum
       |       FROM regs GROUP BY src, r),
       | est AS (SELECT src, r,
       |   CAST((CAST(2904064 AS HUGEINT) * (CAST(1 AS HUGEINT) << 62))
       |     // (CAST(1000 AS HUGEINT) *
       |         (zsum + nz * (CAST(1 AS HUGEINT) << 62))) AS BIGINT) AS b
       |   FROM z),
       | w AS (SELECT src,
       |         MAX(CASE WHEN r = 0 THEN b END) AS b0,
       |         MAX(CASE WHEN r = 1 THEN b END) AS b1,
       |         MAX(CASE WHEN r = 2 THEN b END) AS b2,
       |         MAX(CASE WHEN r = 3 THEN b END) AS b3
       |       FROM est GROUP BY src)""".stripMargin

  /** The q249/q250 oracle's unrolled TrustRank chain (deg + r0…r5, seed
    * teleport as a CASE) — shared verbatim so the standalone ranking and
    * the capstone's trust leg can never drift. */
  private val TrustRankCtes: String = {
    val iters = (1 to 5).map { i =>
      s"""r$i AS (SELECT d.node,
         |   CAST(CASE WHEN d.node % 17 = 0 THEN 150000000000 ELSE 0 END
         |        + (85 * COALESCE(s.inflow, 0)) // 100 AS BIGINT) AS trust
         | FROM deg d LEFT JOIN (
         |   SELECT e.dst AS node, CAST(SUM(r.trust // g.outdeg) AS BIGINT) AS inflow
         |   FROM r${i - 1} r JOIN deg g ON r.node = g.node
         |   JOIN e ON r.node = e.src
         |   GROUP BY e.dst) s ON d.node = s.node)""".stripMargin
    }.mkString(",\n ")
    s"""deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src),
       | r0 AS (SELECT node,
       |   CAST(CASE WHEN node % 17 = 0 THEN 1000000000000 ELSE 0 END
       |        AS BIGINT) AS trust FROM deg),
       | $iters""".stripMargin
  }

  /** The q246/q247 oracle's closed-form replay of the [[Html.linkPage]]
    * link graph (src, dst) — shared by both so the two graph loops can
    * never drift from each other's edge set. */
  private val LinkEdgeCtes: String =
    """nn AS (SELECT COUNT(*) AS n FROM documents),
      | e AS (
      |   SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst FROM documents, nn
      |   UNION ALL
      |   SELECT doc_id, (doc_id * 7 + 3) % nn.n FROM documents, nn
      |   UNION ALL
      |   SELECT doc_id, (doc_id * 2 + 1) % nn.n FROM documents, nn
      |   WHERE doc_id % 3 = 0)""".stripMargin

  /** The q241/q242 oracle's stopword list — generated from the SAME
    * [[Html.DefaultStopwords]] the engine evaluates, so the differential
    * test pins the threshold/split/membership logic (the list itself is
    * shared data, not shared code — the q229 loss-constant pattern). */
  private val StopwordsSqlList: String =
    Html.DefaultStopwords.map(w => s"'$w'").mkString(", ")

  /** Both oracles replay [[Html.synthPage]]'s construction arithmetically:
    * each block's visible text and anchor mass are closed-form in
    * (doc_id, text), so the keep rule (vis >= 10 AND anchor*3 <= vis),
    * the char masses, and the join order reconstruct exactly — no HTML
    * parsing on the DuckDB side, which is the point: a parser bug on the
    * Spark side cannot hide in a shared parser. Constants: nav visible
    * "home about us contact" = 21 chars / anchors 19; footer visible
    * "privacy policy terms (c) example.org" = 36 chars / anchors 19 —
    * both fail anchor*3 <= vis for every page. */
  /** The q204 extraction replay (CTEs b → k → s), shared verbatim with
    * q208 — and with q218's container-bytes→packed-sequences capstone in
    * [[CurationQueries]] — so the standalone extractor and every
    * composition can never drift on the keep rule or the masses. */
  private[queries] val HtmlExtractCtes: String =
    """b AS (SELECT doc_id, text,
        |    'doc ' || CAST(doc_id AS VARCHAR) AS tvis,
        |    'doc ' || CAST(doc_id AS VARCHAR) || ' report' AS hvis,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'see also doc ' || CAST(doc_id + 1 AS VARCHAR) ||
        |      ' and doc ' || CAST(doc_id * 2 AS VARCHAR) END AS rvis,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      length('doc ' || CAST(doc_id + 1 AS VARCHAR)) +
        |      length('doc ' || CAST(doc_id * 2 AS VARCHAR)) END AS ranch
        |  FROM documents),
        | k AS (SELECT doc_id, text, tvis, hvis, rvis,
        |    (length(tvis) >= 10) AS keep_t,
        |    (length(hvis) >= 10) AS keep_h,
        |    (length(text) >= 10) AS keep_p,
        |    (rvis IS NOT NULL AND length(rvis) >= 10
        |      AND ranch * 3 <= length(rvis)) AS keep_r
        |  FROM b),
        | s AS (SELECT doc_id,
        |    CAST(5 + CASE WHEN rvis IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_blocks,
        |    CAST(CASE WHEN keep_t THEN 1 ELSE 0 END
        |       + CASE WHEN keep_h THEN 1 ELSE 0 END
        |       + CASE WHEN keep_p THEN 1 ELSE 0 END
        |       + CASE WHEN keep_r THEN 1 ELSE 0 END AS BIGINT) AS n_kept,
        |    CAST(CASE WHEN keep_t THEN length(tvis) ELSE 0 END
        |       + CASE WHEN keep_h THEN length(hvis) ELSE 0 END
        |       + CASE WHEN keep_p THEN length(text) ELSE 0 END
        |       + CASE WHEN keep_r THEN length(rvis) ELSE 0 END AS BIGINT) AS kept_chars,
        |    CAST(length(tvis) + length(hvis) + 21 + length(text)
        |       + COALESCE(length(rvis), 0) + 36 AS BIGINT) AS total_chars,
        |    concat_ws(chr(10),
        |      CASE WHEN keep_t THEN tvis END,
        |      CASE WHEN keep_h THEN hvis END,
        |      CASE WHEN keep_p THEN text END,
        |      CASE WHEN keep_r THEN rvis END) AS extracted
        |  FROM k)""".stripMargin

  val sql: Map[String, String] = Map(
    /* q224: the write→read loop must be value-transparent — the oracle
     * is the extraction construction itself, restricted to the crawled
     * (non-404) classes; wet_bytes = strlen of the extracted text (the
     * conversion record's declared Content-Length). */
    "q224_wet_sidecar" ->
      s"""WITH $HtmlExtractCtes
        |SELECT doc_id, CAST(strlen(extracted) AS BIGINT) AS wet_bytes,
        |  extracted AS text
        |FROM s WHERE doc_id % 13 <> 0 ORDER BY doc_id""".stripMargin,
    /* q231: the WAT construction replayed arithmetically — status by id
     * class, title/outlinks closed-form in doc_id (the synthPage anchor
     * set: nav + conditional related block + footer, in page order),
     * wat_bytes the strlen of the exact warc-fields payload. The 404
     * page has no title element and no anchors: empty fields, 0 links. */
    "q231_wat_sidecar" ->
      """WITH w AS (SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS code,
        |    CASE WHEN doc_id % 13 = 0 THEN ''
        |      ELSE 'doc ' || CAST(doc_id AS VARCHAR) END AS title,
        |    CASE WHEN doc_id % 13 = 0 THEN ''
        |      ELSE '/ /about /contact' ||
        |        CASE WHEN doc_id % 3 = 0 THEN
        |          ' /doc/' || CAST(doc_id + 1 AS VARCHAR) ||
        |          ' /doc/' || CAST(doc_id * 2 AS VARCHAR) ELSE '' END ||
        |        ' /privacy /terms' END AS outlinks
        |  FROM documents),
        | p AS (SELECT *,
        |    'Status: ' || CAST(code AS VARCHAR) || chr(13) || chr(10) ||
        |    'Title: ' || title || chr(13) || chr(10) ||
        |    'Outlinks: ' || outlinks || chr(13) || chr(10) AS payload
        |  FROM w)
        |SELECT doc_id, CAST(code AS BIGINT) AS http_status, title, outlinks,
        |  CAST(strlen(payload) AS BIGINT) AS wat_bytes,
        |  CAST(CASE WHEN outlinks = '' THEN 0
        |    ELSE len(string_split(outlinks, ' ')) END AS BIGINT) AS n_links
        |FROM p ORDER BY doc_id""".stripMargin,
    "q204_html_extract" ->
      s"""WITH $HtmlExtractCtes
        |SELECT doc_id, n_blocks, n_kept, kept_chars, total_chars,
        |  CAST(CASE WHEN total_chars > 0 THEN
        |    (total_chars - kept_chars) * 10000 // total_chars END AS BIGINT) AS boiler_bp,
        |  extracted
        |FROM s ORDER BY doc_id""".stripMargin,
    /* q208: the SAME extraction CTEs — the crawl chain only changes which
     * pages reach the extractor (every 13th doc 404s and is filtered by
     * status on the Spark side, by id class here) and adds the constant
     * status column the HTTP split produced. */
    "q208_crawl_extract" ->
      s"""WITH $HtmlExtractCtes
        |SELECT doc_id, CAST(200 AS BIGINT) AS http_status,
        |  n_blocks, n_kept, kept_chars, total_chars,
        |  CAST(CASE WHEN total_chars > 0 THEN
        |    (total_chars - kept_chars) * 10000 // total_chars END AS BIGINT) AS boiler_bp,
        |  extracted
        |FROM s WHERE doc_id % 13 <> 0 ORDER BY doc_id""".stripMargin,
    /* q209: the same rule table via UNION ALL selects over range(7), the
     * prefix match as LIKE p||'%' (rule paths carry no LIKE
     * metacharacters), the longest-match/tie argmax as a row_number over
     * (length DESC, allow DESC) — unique (length, allow) per URL, the
     * trailing p is a determinism belt. */
    "q209_robots_filter" ->
      """WITH u AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS site,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN '/a/' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN '/a/x' || CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
        |      WHEN 3 THEN '/b/p'
        |      ELSE '/c/' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents),
        | r AS (
        |  SELECT CAST(range AS VARCHAR) AS site, '/a/' AS p, 1 AS a FROM range(7)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/a/x', 0 FROM range(7)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/tmp/', 0 FROM range(7)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/b/p', 1 FROM range(7)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/b/p', 0 FROM range(7)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/', 0 FROM range(7)
        |    WHERE range % 2 = 0),
        | m AS (SELECT u.doc_id, r.p, r.a,
        |    row_number() OVER (PARTITION BY u.doc_id
        |      ORDER BY length(r.p) DESC, r.a DESC, r.p) AS rk
        |  FROM u JOIN r ON r.site = u.site AND u.path LIKE r.p || '%')
        |SELECT u.doc_id, u.site, u.path,
        |  COALESCE(m.a = 1, TRUE) AS allowed, m.p AS matched_path
        |FROM u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rk = 1
        |ORDER BY u.doc_id""".stripMargin,
    /* q216: each wildcard pattern replayed as a HAND-WRITTEN LIKE
     * translation (lk) — star → %, trailing $ → no trailing %, prefix
     * semantics → trailing % otherwise; specificity = length(p) of the
     * pattern AS WRITTEN; tie order (length DESC, allow DESC, p DESC)
     * mirrors the engine's struct max exactly. */
    "q216_robots_wildcards" ->
      """WITH u AS (SELECT doc_id, CAST(doc_id % 3 AS VARCHAR) AS site,
        |    CASE CAST(doc_id % 7 AS INT)
        |      WHEN 0 THEN '/fish/' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN '/fishheads/' || CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN '/page/' || CAST(doc_id AS VARCHAR) || '.php'
        |      WHEN 3 THEN '/page/' || CAST(doc_id AS VARCHAR) || '.php/more'
        |      WHEN 4 THEN '/files/doc.' || CAST(doc_id AS VARCHAR)
        |      WHEN 5 THEN '/misc/' || CAST(doc_id AS VARCHAR)
        |      ELSE '/files/docs/' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents),
        | r AS (
        |  SELECT CAST(range AS VARCHAR) AS site, '/fish*' AS p, '/fish%' AS lk, 0 AS a FROM range(3)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/fishheads', '/fishheads%', 1 FROM range(3)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/*.php$', '/%.php', 0 FROM range(3)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/page/', '/page/%', 1 FROM range(3)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/page/', '/page/%', 0 FROM range(3)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/files/doc.', '/files/doc.%', 1 FROM range(3)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/misc/*0', '/misc/%0%', 0 FROM range(3)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/', '/%', 0 FROM range(3)
        |    WHERE range % 2 = 0),
        | m AS (SELECT u.doc_id, r.p, r.a,
        |    row_number() OVER (PARTITION BY u.doc_id
        |      ORDER BY length(r.p) DESC, r.a DESC, r.p DESC) AS rk
        |  FROM u JOIN r ON r.site = u.site AND u.path LIKE r.lk)
        |SELECT u.doc_id, u.site, u.path,
        |  COALESCE(m.a = 1, TRUE) AS allowed, m.p AS matched_path
        |FROM u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rk = 1
        |ORDER BY u.doc_id""".stripMargin,
    /* q217: the oracle constructs the DECODED body strings directly —
     * chr(233) is é as a Unicode codepoint, exactly what the engine must
     * recover from the 1-byte latin-1 / 2-byte UTF-8 wire forms (and
     * from under the gzip content layer, whose output no SQL can
     * compute — hence the decoded-content row shape). */
    "q217_body_encodings" ->
      """WITH d AS (SELECT doc_id,
        |    '<html><body><p>' || text || ' caf' || chr(233) ||
        |      '</p></body></html>' AS body
        |  FROM documents)
        |SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'plain' WHEN 1 THEN 'gzip'
        |    WHEN 2 THEN 'latin1' ELSE 'gzip+latin1' END AS enc,
        |  CAST(200 AS BIGINT) AS http_status,
        |  body,
        |  CAST(length(body) AS BIGINT) AS body_chars
        |FROM d ORDER BY doc_id""".stripMargin,
    /* q243: curation replayed closed-form (the shared b/k/s CTEs with
     * the integer boilerplate gate), then per kept record: blob = id
     * div 8, ordinal = rank within blob over survivors, mass + md5 of
     * the response body the seek must reproduce. The byte extents are
     * gzip-length-dependent and not SQL-computable — they are proven by
     * the seek (a wrong extent cannot re-produce the right md5) and the
     * full-outer extent_match column (TRUE on every row or the hash
     * breaks), the q235/q236 argument applied to the WRITE side. */
    "q243_archive_write" ->
      s"""WITH $HtmlExtractCtes,
         |cur AS (SELECT doc_id, extracted FROM s
         |        WHERE doc_id % 13 <> 0 AND kept_chars * 2 >= total_chars),
         |o AS (SELECT doc_id, extracted,
         |        CAST(doc_id // 8 AS BIGINT) AS blob_id,
         |        CAST(row_number() OVER (PARTITION BY doc_id // 8
         |          ORDER BY doc_id) - 1 AS BIGINT) AS ordinal
         |      FROM cur)
         |SELECT doc_id, blob_id, ordinal,
         |  true AS extent_match,
         |  CAST(200 AS BIGINT) AS http_status,
         |  CAST(strlen(extracted) AS BIGINT) AS body_bytes,
         |  md5(extracted) AS body_md5
         |FROM o ORDER BY doc_id""".stripMargin,
    /* q245: the q241 replay with the lang axis — the salted text's
     * per-lang stopword count is recomputed word-for-word under the
     * SAME per-lang lists (zh = empty = always drop; unknown langs fall
     * to the en branch), so a broken lang route or a wrong list breaks
     * the hash on exactly the affected language class. */
    "q245_lang_content" ->
      s"""WITH w AS (SELECT doc_id, lang,
         |    text || CASE lang WHEN 'es' THEN ' el la de que y en'
         |      WHEN 'de' THEN ' der die das und ist' WHEN 'zh' THEN ''
         |      ELSE ' the a of to' END AS stext,
         |    len(CAST(doc_id AS VARCHAR)) AS L
         |  FROM documents),
         |c AS (SELECT doc_id, lang, stext, L,
         |    len(list_filter(string_split(stext, ' '), x -> x <> ''))
         |      AS wcnt,
         |    len(list_filter(string_split(stext, ' '), x -> x <> '' AND
         |      CASE lang
         |        WHEN 'es' THEN x IN ('el','la','de','que','y','en','un',
         |          'es','se','no')
         |        WHEN 'de' THEN x IN ('der','die','das','und','ist','ein',
         |          'zu','den','nicht','es')
         |        WHEN 'zh' THEN false
         |        ELSE x IN ($StopwordsSqlList) END)) AS scnt
         |  FROM w),
         |k AS (SELECT *,
         |    (length(stext) >= 10 AND scnt * 100 >= wcnt * 6) AS keep
         |  FROM c)
         |SELECT doc_id, lang,
         |  CAST(6 AS BIGINT) AS n_blocks,
         |  CAST(CASE WHEN keep THEN 1 ELSE 0 END AS BIGINT) AS n_kept,
         |  CAST(CASE WHEN keep THEN length(stext) ELSE 0 END AS BIGINT)
         |    AS kept_chars,
         |  CAST(129 + 2 * L + length(stext) AS BIGINT) AS total_chars,
         |  CASE WHEN keep THEN stext ELSE '' END AS extracted
         |FROM k ORDER BY doc_id""".stripMargin,
    /* q246: the frontier BFS replayed as a depth-bounded recursive CTE —
     * UNION (not UNION ALL) dedups (node, d) states so the recursion
     * terminates on the cyclic graph; MIN(d) per node is the BFS depth.
     * All-integer, so the replay is bit-identical. */
    "q246_crawl_depth" ->
      s"""WITH RECURSIVE $LinkEdgeCtes,
         | reach(node, d) AS (
         |   SELECT doc_id, 0 FROM documents WHERE doc_id % 17 = 0
         |   UNION
         |   SELECT e.dst, r.d + 1 FROM reach r JOIN e ON e.src = r.node
         |   WHERE r.d < 8)
         |SELECT node AS node_id, CAST(MIN(d) AS BIGINT) AS depth
         |FROM reach GROUP BY node ORDER BY node_id""".stripMargin,
    /* q247: every node's 3-hop out-ball rebuilt by bounded recursion,
     * then the q150 HLL register/estimator spelling verbatim (hash,
     * bucket split, FM rightmost-1 rank, HUGEINT raw estimator) grouped
     * per SOURCE node — a register or estimate that drifts from Spark's
     * sketch breaks the hash on exactly the affected ball. */
    "q247_hyperball" ->
      s"""WITH RECURSIVE $LinkEdgeCtes,
         | ball(src, node, d) AS (
         |   SELECT doc_id, doc_id, 0 FROM documents
         |   UNION
         |   SELECT b.src, e.dst, b.d + 1 FROM ball b JOIN e ON e.src = b.node
         |   WHERE b.d < 3),
         | mem AS (SELECT DISTINCT src, node FROM ball),
         | h AS (SELECT src,
         |   ${ProfilingQueries.hex60("'hll:' || CAST(node AS VARCHAR)")} AS hv
         |   FROM mem),
         | bk AS (SELECT src, hv % 64 AS bucket, hv // 64 AS rest FROM h),
         | rk AS (SELECT src, bucket,
         |        CASE WHEN rest = 0 THEN 55
         |             ELSE length(bin(rest & (-rest))) END AS rho FROM bk),
         | regs AS (SELECT src, bucket, MAX(rho) AS rho
         |          FROM rk GROUP BY src, bucket),
         | z AS (SELECT src,
         |         CAST(64 - COUNT(*) AS BIGINT) AS n_zero_registers,
         |         SUM(CAST(1 AS HUGEINT) << (62 - rho)) AS zsum
         |       FROM regs GROUP BY src)
         |SELECT src AS node_id, n_zero_registers,
         |  CAST((CAST(2904064 AS HUGEINT) * (CAST(1 AS HUGEINT) << 62))
         |    // (CAST(1000 AS HUGEINT) *
         |        (zsum + CAST(n_zero_registers AS HUGEINT)
         |                * (CAST(1 AS HUGEINT) << 62))) AS BIGINT)
         |    AS ball_estimate
         |FROM z ORDER BY node_id""".stripMargin,
    /* q248: ONE bounded recursion on the TRANSPOSE graph tracks every
     * in-ball member's minimum distance; the four radius register sets
     * all derive from it (member in B_r iff mind <= r), then the q150
     * estimator spelling per (src, r), pivoted wide, and the 6/3/2
     * harmonic weights in exact BIGINTs. The ball→profile chain is
     * InBallProfileCtes, shared verbatim with q256. */
    "q248_harmonic_centrality" ->
      s"""WITH RECURSIVE $LinkEdgeCtes,
         | $InBallProfileCtes
         |SELECT src AS node_id, b0, b1, b2, b3,
         |  6 * (b1 - b0) + 3 * (b2 - b1) + 2 * (b3 - b2) AS harmonic_x6
         |FROM w ORDER BY node_id""".stripMargin,
    /* q256: the SAME profile chain, the opposite weighting — dist_mass
     * charges far mass 1/2/3 where harmonic rewarded near mass, and
     * Lin's index lands as exact integer basis points. */
    "q256_closeness" ->
      s"""WITH RECURSIVE $LinkEdgeCtes,
         | $InBallProfileCtes,
         | m AS (SELECT src, b3 AS reached,
         |         (b1 - b0) + 2 * (b2 - b1) + 3 * (b3 - b2) AS dist_mass
         |       FROM w)
         |SELECT src AS node_id, reached, dist_mass,
         |  CAST(CASE WHEN dist_mass > 0
         |       THEN reached * reached * 10000 // dist_mass
         |       ELSE 0 END AS BIGINT) AS lin_bp
         |FROM m ORDER BY node_id""".stripMargin,
    /* q249: the q91 unrolled-CTE chain with a seed-CASE teleport — rank
     * rows exist for SOURCE nodes (the trustRankInt contract), seeds
     * start at the full scale and everything else at exact 0. */
    "q249_trustrank" ->
      s"""WITH $LinkEdgeCtes,
         | $TrustRankCtes
         |SELECT node AS node_id, trust FROM r5 ORDER BY node_id""".stripMargin,
    /* q250: the capstone replays all three legs from the SHARED edge
     * CTE — the trust chain verbatim (TrustRankCtes), the 3-hop BFS as
     * a bounded recursion, the in-degree as one groupBy — then the
     * priority floor-division and the precedence CASE. */
    "q250_crawl_priority" ->
      s"""WITH RECURSIVE $LinkEdgeCtes,
         | $TrustRankCtes,
         | reach(node, d) AS (
         |   SELECT doc_id, 0 FROM documents WHERE doc_id % 17 = 0
         |   UNION
         |   SELECT e.dst, r.d + 1 FROM reach r JOIN e ON e.src = r.node
         |   WHERE r.d < 3),
         | dp AS (SELECT node, MIN(d) AS depth FROM reach GROUP BY node),
         | ind AS (SELECT dst AS node, COUNT(*) AS n_in FROM e GROUP BY dst)
         |SELECT t.node AS node_id,
         |  CAST(COALESCE(dp.depth, -1) AS BIGINT) AS depth,
         |  t.trust,
         |  CAST(COALESCE(ind.n_in, 0) AS BIGINT) AS n_in,
         |  CAST(CASE WHEN dp.depth IS NULL THEN 0
         |            ELSE t.trust // (1 + dp.depth) END AS BIGINT) AS priority,
         |  CASE WHEN dp.depth IS NULL THEN 'beyond-horizon'
         |       WHEN t.trust >= 150000000000 THEN 'endorsed'
         |       WHEN t.trust >= 40000000000 THEN 'trusted'
         |       ELSE 'weak' END AS fetch_class
         |FROM r5 t LEFT JOIN dp ON t.node = dp.node
         |LEFT JOIN ind ON t.node = ind.node
         |ORDER BY node_id""".stripMargin,
    /* q255: the q91/q249 unrolled chain with WEIGHTED shares — anchor
     * mass w = length('doc ' || dst) closed-form, per-edge contribution
     * as the DIRECT 128-bit floor r·w // tot (Spark computes the same
     * value via the 64-bit split-multiply identity — the differential
     * test of the identity itself). */
    "q255_weighted_pagerank" -> {
      val iters = (1 to 5).map { i =>
        s"""r$i AS (SELECT d.node,
           |   CAST(150000000000 + (85 * COALESCE(s.inflow, 0)) // 100 AS BIGINT) AS rank
           | FROM tw d LEFT JOIN (
           |   SELECT we.dst AS node,
           |     CAST(SUM(CAST(r.rank AS HUGEINT) * we.w // g.tot) AS BIGINT) AS inflow
           |   FROM r${i - 1} r JOIN tw g ON r.node = g.node
           |   JOIN we ON r.node = we.src
           |   GROUP BY we.dst) s ON d.node = s.node)""".stripMargin
      }.mkString(",\n ")
      s"""WITH $LinkEdgeCtes,
         | we AS (SELECT src, dst,
         |   CAST(length('doc ' || CAST(dst AS VARCHAR)) AS BIGINT) AS w
         |   FROM e),
         | tw AS (SELECT src AS node, SUM(w) AS tot FROM we GROUP BY src),
         | r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS rank FROM tw),
         | $iters
         |SELECT node AS node_id, rank FROM r5 ORDER BY node_id""".stripMargin
    },
    /* q253: two bounded recursions (forward on e, backward by swapping
     * the join side) + the node universe. NOTE the node CTE uses an
     * explicit DISTINCT over UNION ALL: inside WITH RECURSIVE, DuckDB
     * does not apply set-union dedup semantics to a bare UNION in a
     * non-recursive CTE (observed: 2x rows), so the dedup is spelled
     * out. */
    "q253_bowtie" ->
      s"""WITH RECURSIVE $LinkEdgeCtes,
         | f(node, d) AS (
         |   SELECT doc_id, 0 FROM documents WHERE doc_id % 17 = 0
         |   UNION
         |   SELECT e.dst, r.d + 1 FROM f r JOIN e ON e.src = r.node
         |   WHERE r.d < 2),
         | b(node, d) AS (
         |   SELECT doc_id, 0 FROM documents WHERE doc_id % 17 = 0
         |   UNION
         |   SELECT e.src, r.d + 1 FROM b r JOIN e ON e.dst = r.node
         |   WHERE r.d < 2),
         | nodes AS (SELECT DISTINCT v FROM (
         |   SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
         | fm AS (SELECT node, MIN(d) AS fd FROM f GROUP BY node),
         | bm AS (SELECT node, MIN(d) AS bd FROM b GROUP BY node)
         |SELECT v AS node_id,
         |  CAST(COALESCE(fd, -1) AS BIGINT) AS fwd_depth,
         |  CAST(COALESCE(bd, -1) AS BIGINT) AS bwd_depth,
         |  CASE WHEN fd IS NOT NULL AND bd IS NOT NULL THEN 'core'
         |       WHEN bd IS NOT NULL THEN 'in'
         |       WHEN fd IS NOT NULL THEN 'out'
         |       ELSE 'tendril' END AS component
         |FROM nodes LEFT JOIN fm ON v = fm.node LEFT JOIN bm ON v = bm.node
         |ORDER BY node_id""".stripMargin,
    /* q254: each residual row derives from two consecutive levels of
     * the SAME unrolled chain q249 checks — exact integer deltas. */
    "q254_trust_residuals" -> {
      val lvls = (1 to 5).map { i =>
        s"""SELECT $i AS iteration, a.trust - b.trust AS dd
           | FROM r$i a JOIN r${i - 1} b ON a.node = b.node""".stripMargin
      }.mkString("\n UNION ALL\n")
      s"""WITH $LinkEdgeCtes,
         | $TrustRankCtes,
         | dd AS ($lvls)
         |SELECT CAST(iteration AS BIGINT) AS iteration,
         |  CAST(SUM(ABS(dd)) AS BIGINT) AS l1_delta,
         |  CAST(MAX(ABS(dd)) AS BIGINT) AS max_delta,
         |  CAST(SUM(CASE WHEN dd <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_changed
         |FROM dd GROUP BY iteration ORDER BY iteration""".stripMargin
    },
    /* q252: the synthPage blocks rebuilt as rows (same visible-string
     * constants as HtmlExtractCtes), then the GENERIC frequency rollup —
     * host page counts, per-(host, digest) page counts, the strict-majority rule —
     * replayed relationally: the oracle never assumes which blocks
     * repeat, so a frequency bug cannot hide in shared knowledge. */
    "q252_template_blocks" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS host, text
        |  FROM documents),
        | blk AS (
        |   SELECT doc_id, host, 0 AS ord,
        |     'doc ' || CAST(doc_id AS VARCHAR) AS visible FROM d
        |   UNION ALL SELECT doc_id, host, 1,
        |     'doc ' || CAST(doc_id AS VARCHAR) || ' report' FROM d
        |   UNION ALL SELECT doc_id, host, 2, 'home about us contact' FROM d
        |   UNION ALL SELECT doc_id, host, 3, text FROM d
        |   UNION ALL SELECT doc_id, host, 4,
        |     'see also doc ' || CAST(doc_id + 1 AS VARCHAR) ||
        |     ' and doc ' || CAST(doc_id * 2 AS VARCHAR)
        |     FROM d WHERE doc_id % 3 = 0
        |   UNION ALL SELECT doc_id, host, 5,
        |     'privacy policy terms (c) example.org' FROM d),
        | hp AS (SELECT host, COUNT(DISTINCT doc_id) AS host_pages
        |        FROM blk GROUP BY host),
        | fq AS (SELECT host, md5(visible) AS digest,
        |          COUNT(DISTINCT doc_id) AS n_pages
        |        FROM blk GROUP BY host, md5(visible)),
        | tm AS (SELECT fq.host, fq.digest,
        |          (fq.n_pages * 2 > hp.host_pages) AS is_t
        |        FROM fq JOIN hp ON fq.host = hp.host)
        |SELECT b.doc_id, b.host,
        |  CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |  CAST(SUM(CASE WHEN t.is_t THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_template,
        |  CAST(SUM(CASE WHEN t.is_t THEN 0 ELSE length(b.visible) END)
        |    AS BIGINT) AS kept_chars,
        |  string_agg(CASE WHEN NOT t.is_t THEN b.visible END, chr(10)
        |    ORDER BY b.ord) AS extracted
        |FROM blk b JOIN tm t ON b.host = t.host AND md5(b.visible) = t.digest
        |GROUP BY b.doc_id, b.host
        |ORDER BY b.doc_id""".stripMargin,
    /* q244: the three decision classes closed-form — the stored class
     * is id%3=0 with ETag '"'||md5(body)||'"' and a fixed mid-year
     * capture date; lastmod derives from the id; ISO string order IS
     * date order, so the class split is exact on both engines and the
     * conditional rows must carry the parsed validator through. */
    "q244_recrawl_schedule" ->
      """WITH d AS (SELECT doc_id, text, CAST(doc_id % 7 AS VARCHAR) AS site,
        |    'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
        |    '2026-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') ||
        |      '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS lastmod
        |  FROM documents),
        |c AS (SELECT url,
        |    '"' || md5('<html><body><p>' || text || '</p></body></html>')
        |      || '"' AS etag,
        |    '2026-06-15' AS captured_at
        |  FROM d WHERE doc_id % 3 = 0)
        |SELECT d.doc_id, d.site, d.url, d.lastmod, c.captured_at,
        |  CASE WHEN c.etag IS NULL THEN 'fetch-new'
        |       WHEN d.lastmod > c.captured_at THEN 'fetch-modified'
        |       ELSE 'conditional' END AS decision,
        |  CASE WHEN c.etag IS NOT NULL AND NOT d.lastmod > c.captured_at
        |       THEN c.etag END AS cond_etag
        |FROM d LEFT JOIN c USING (url)
        |ORDER BY d.doc_id""".stripMargin,
    /* q241: every block's fate replayed arithmetically from the
     * construction (the q204 oracle discipline): title/h1/nav/tags/
     * footer fates are closed-form, the content paragraph's stopword
     * test is recomputed word-for-word from the text column with the
     * SAME 20-word list the engine passes — so a drifted stopword set,
     * threshold, or word split breaks the hash. Constants: nav 21 vis /
     * 19 anchor, tags 57 vis / 0 anchor, footer 36 vis / 19 anchor. */
    "q241_main_content" ->
      s"""WITH w AS (SELECT doc_id, text,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS fws,
         |    len(CAST(doc_id AS VARCHAR)) AS L
         |  FROM documents),
         |c AS (SELECT doc_id, text, L, len(fws) AS wcnt,
         |    len(list_filter(fws, x -> x IN ($StopwordsSqlList))) AS scnt
         |  FROM w),
         |k AS (SELECT *,
         |    (length(text) >= 10 AND scnt * 100 >= wcnt * 6) AS keep
         |  FROM c)
         |SELECT doc_id,
         |  CAST(6 AS BIGINT) AS n_blocks,
         |  CAST(CASE WHEN keep THEN 1 ELSE 0 END AS BIGINT) AS n_kept,
         |  CAST(2 + CASE WHEN length(text) >= 10 THEN 1 ELSE 0 END
         |         + CASE WHEN 4 + L >= 10 THEN 1 ELSE 0 END AS BIGINT)
         |    AS n_kept_linkrule,
         |  CAST(CASE WHEN keep THEN length(text) ELSE 0 END AS BIGINT)
         |    AS kept_chars,
         |  CAST(129 + 2 * L + length(text) AS BIGINT) AS total_chars,
         |  CASE WHEN keep THEN text ELSE '' END AS extracted
         |FROM k ORDER BY doc_id""".stripMargin,
    /* q242: both extraction variants reconstructed closed-form (the
     * q241 keep laws), then shingled with the ShinglesCte spelling over
     * the derived strings — newline-joined blocks shingle as
     * space-split tokens on BOTH sides, so a drifted join or split
     * breaks the hash; boiler grams are df*2 >= corpus. */
    "q242_boiler_grams" ->
      s"""WITH w0 AS (SELECT doc_id, text,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS fws,
         |    len(CAST(doc_id AS VARCHAR)) AS L
         |  FROM documents),
         |cl AS (SELECT doc_id, text, L, len(fws) AS wcnt,
         |    len(list_filter(fws, x -> x IN ($StopwordsSqlList))) AS scnt
         |  FROM w0),
         |tx AS (SELECT doc_id,
         |    CASE WHEN 4 + L >= 10
         |      THEN 'doc ' || CAST(doc_id AS VARCHAR) || chr(10) ELSE '' END ||
         |    'doc ' || CAST(doc_id AS VARCHAR) || ' report' || chr(10) ||
         |    'spark hash join filter sort merge window batch index scan' ||
         |    CASE WHEN length(text) >= 10 THEN chr(10) || text ELSE '' END
         |      AS link_text,
         |    CASE WHEN length(text) >= 10 AND scnt * 100 >= wcnt * 6
         |      THEN text ELSE '' END AS main_text
         |  FROM cl),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |lw AS (SELECT doc_id, string_split(link_text, ' ') ws FROM tx),
         |lt AS (SELECT doc_id, unnest(ws) tok, generate_subscripts(ws, 1) i FROM lw),
         |lsh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sg
         |        FROM lt a JOIN lt b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |                  JOIN lt c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
         |ldf AS (SELECT sg, COUNT(DISTINCT doc_id) AS df FROM lsh GROUP BY sg),
         |lagg AS (SELECT s.doc_id, COUNT(*) AS g,
         |           SUM(CASE WHEN d.df * 2 >= (SELECT n_docs FROM n)
         |             THEN 1 ELSE 0 END) AS bl
         |         FROM lsh s JOIN ldf d ON s.sg = d.sg GROUP BY s.doc_id),
         |mw AS (SELECT doc_id, string_split(main_text, ' ') ws FROM tx),
         |mt AS (SELECT doc_id, unnest(ws) tok, generate_subscripts(ws, 1) i FROM mw),
         |msh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS sg
         |        FROM mt a JOIN mt b ON a.doc_id = b.doc_id AND b.i = a.i + 1
         |                  JOIN mt c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
         |mdf AS (SELECT sg, COUNT(DISTINCT doc_id) AS df FROM msh GROUP BY sg),
         |magg AS (SELECT s.doc_id, COUNT(*) AS g,
         |           SUM(CASE WHEN d.df * 2 >= (SELECT n_docs FROM n)
         |             THEN 1 ELSE 0 END) AS bm
         |         FROM msh s JOIN mdf d ON s.sg = d.sg GROUP BY s.doc_id)
         |SELECT t.doc_id,
         |  CAST(COALESCE(lagg.g, 0) AS BIGINT) AS n_grams_link,
         |  CAST(COALESCE(lagg.bl, 0) AS BIGINT) AS boiler_link,
         |  CAST(COALESCE(magg.g, 0) AS BIGINT) AS n_grams_main,
         |  CAST(COALESCE(magg.bm, 0) AS BIGINT) AS boiler_main
         |FROM tx t LEFT JOIN lagg ON t.doc_id = lagg.doc_id
         |          LEFT JOIN magg ON t.doc_id = magg.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    /* q240: the q217 argument one coding over — deflate output is not
     * SQL-computable, so the row shape is the decoded CONTENT and the
     * oracle constructs the expected strings directly; both server
     * spellings and both charsets must land on the same text. */
    "q240_deflate_bodies" ->
      """WITH d AS (SELECT doc_id,
        |    '<html><body><p>' || text || ' caf' || chr(233) ||
        |      '</p></body></html>' AS body
        |  FROM documents)
        |SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN 'plain'
        |    WHEN 1 THEN 'deflate-zlib' WHEN 2 THEN 'deflate-raw'
        |    WHEN 3 THEN 'deflate-zlib+latin1'
        |    ELSE 'deflate-raw+latin1' END AS enc,
        |  CAST(200 AS BIGINT) AS http_status,
        |  body,
        |  CAST(length(body) AS BIGINT) AS body_chars
        |FROM d ORDER BY doc_id""".stripMargin,
    /* q219: the same one-pass chain via DuckDB replace() — amp LAST, so
     * the double-escaped pair single-decodes; n_refs counts the
     * references in the RAW string (the &amp; inside &amp;lt; counts,
     * the lt; after it does not — both engines see the same matches). */
    "q219_entity_decode" ->
      """WITH r AS (SELECT doc_id,
        |    'A &lt;b&gt; said: &quot;' || text ||
        |    '&quot; &amp; that&#39;s &amp;lt;fine&amp;gt;' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  replace(replace(replace(replace(replace(raw,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |    '&amp;', '&') AS decoded,
        |  CAST(len(regexp_extract_all(raw, '&(amp|lt|gt|quot|#39);'))
        |    AS BIGINT) AS n_refs
        |FROM r ORDER BY doc_id""".stripMargin,
    /* q230: the oracle CONSTRUCTS the decoded string from the fixture's
     * known reference values (chr() per codepoint — numeric decoding has
     * no relational spelling, which is why the engine side is a kernel)
     * and counts candidate references with the same regex the engine
     * runs on the raw string. */
    "q230_numeric_entities" ->
      """WITH r AS (SELECT doc_id,
        |    'caf&#233; &#x41;B &#X2013;&#150; &#x1F600; z&#48;&#x000000041;' ||
        |      ' bad&#0;&#xD800;&#x110000;&#1114112; amp&amp;#65; t&#zz; u&#;' ||
        |      ' v&#xG1; w&#12 ' || text AS raw,
        |    'caf' || chr(233) || ' AB ' || chr(8211) || chr(8211) || ' ' ||
        |      chr(128512) || ' z0A bad' || repeat(chr(65533), 4) ||
        |      ' amp&#65; t&#zz; u&#; v&#xG1; w&#12 ' || text AS decoded
        |  FROM documents)
        |SELECT doc_id, decoded,
        |  CAST(len(regexp_extract_all(raw, '&#[xX]?[0-9a-fA-F]+;'))
        |    AS BIGINT) AS n_numeric
        |FROM r ORDER BY doc_id""".stripMargin,
    /* q232: every spelling class replayed closed-form — survivors are
     * the uncrawled ids, canon_url is host+path (scheme/www/slash/
     * params/fragment collapsed), duplicates count 2 spellings and take
     * the later lastmod, min raw spelling is the CASE form (the plain
     * spelling sorts below 'https://www.' for duplicated docs). */
    "q232_canonical_frontier" ->
      """WITH b AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS site,
        |    'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
        |      '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS plain,
        |    '2026-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') ||
        |      '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS lastmod
        |  FROM documents)
        |SELECT doc_id, site,
        |  'site' || site || '.example.org/doc/' || CAST(doc_id AS VARCHAR)
        |    AS canon_url,
        |  CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS BIGINT)
        |    AS n_spellings,
        |  CASE WHEN doc_id % 5 = 0 THEN '2027-01-01' ELSE lastmod END
        |    AS lastmod,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 1 THEN 'HTTP://WWW.' || substr(plain, 9)
        |    WHEN 2 THEN plain || '/'
        |    WHEN 3 THEN plain || '?utm_source=feed'
        |    WHEN 4 THEN plain || '#frag'
        |    ELSE plain END AS first_spelling
        |FROM b WHERE doc_id % 3 <> 0 ORDER BY doc_id""".stripMargin,
    /* q238: survivors are the uncrawled ids with their child assignment
     * and derived lastmod — the two-level XML round-trip (index → child
     * urlsets) must be value-transparent end-to-end. */
    "q238_sitemap_index" ->
      """SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS site,
        |  CAST((doc_id // 7) % 2 AS BIGINT) AS child,
        |  'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
        |  '2026-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') ||
        |    '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS lastmod
        |FROM documents WHERE doc_id % 3 <> 0 ORDER BY doc_id""".stripMargin,
    /* q220: survivors are the uncrawled id classes with their derived
     * lastmod strings — the XML assembly/extraction round-trip must be
     * value-transparent for the hash to match. */
    "q220_sitemap_walk" ->
      """SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS site,
        |  'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
        |  '2026-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') ||
        |    '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS lastmod
        |FROM documents WHERE doc_id % 3 <> 0
        |ORDER BY doc_id""".stripMargin,
    /* q222: the oracle writes the per-site-class EFFECTIVE rule table
     * arithmetically (what correct parsing + group selection must
     * produce) and replays the q209 LIKE match — no parsing, no group
     * logic on the DuckDB side.
     * q227 is the SAME string verbatim: fetching robots.txt through the
     * WARC/HTTP transport must be value-transparent for the policy. */
    "q222_robots_parse" -> RobotsVerdictSql,
    "q227_robots_from_bytes" -> RobotsVerdictSql,
    /* q239: the q222 rule table applies only to the 200 site class
     * (%3=0 — exactly the sites carrying graftbot groups there); 404
     * sites are allow-all 'unavailable', 503 sites disallow-all
     * 'unreachable' (RFC 9309 §2.3.1). */
    "q239_robots_fetch_status" ->
      """WITH u AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS site,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN '/a/x' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN '/a/' || CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
        |      WHEN 3 THEN '/news/' || CAST(doc_id AS VARCHAR)
        |      ELSE '/img/' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents),
        | r AS (
        |  SELECT CAST(range AS VARCHAR) AS site, '/a/x' AS p, 1 AS a
        |    FROM range(7) WHERE range % 3 = 0
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/a/', 0
        |    FROM range(7) WHERE range % 3 = 0),
        | m AS (SELECT u.doc_id, r.p, r.a,
        |    row_number() OVER (PARTITION BY u.doc_id
        |      ORDER BY length(r.p) DESC, r.a DESC, r.p DESC) AS rk
        |  FROM u JOIN r ON r.site = u.site AND u.path LIKE r.p || '%')
        |SELECT u.doc_id, u.site, u.path,
        |  CASE WHEN CAST(u.site AS INT) % 3 = 1 THEN TRUE
        |       WHEN CAST(u.site AS INT) % 3 = 2 THEN FALSE
        |       ELSE COALESCE(m.a = 1, TRUE) END AS allowed,
        |  CASE WHEN CAST(u.site AS INT) % 3 = 1 THEN 'unavailable'
        |       WHEN CAST(u.site AS INT) % 3 = 2 THEN 'unreachable'
        |       ELSE 'rules' END AS verdict_source
        |FROM u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rk = 1
        |ORDER BY u.doc_id""".stripMargin,
    /* q223: q222's effective rule table + delay, then the schedule
     * window in SQL — slot (k-1)·delay per site over allowed rows. */
    "q223_fetch_schedule" ->
      """WITH u AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS site,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN '/a/x' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN '/a/' || CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
        |      WHEN 3 THEN '/news/' || CAST(doc_id AS VARCHAR)
        |      ELSE '/img/' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents),
        | r AS (
        |  SELECT CAST(range AS VARCHAR) AS site, '/a/x' AS p, 1 AS a
        |    FROM range(7) WHERE range % 3 = 0
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/a/', 0
        |    FROM range(7) WHERE range % 3 = 0
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/news/', 0
        |    FROM range(7) WHERE range % 3 = 1
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/tmp/', 0
        |    FROM range(7) WHERE range % 3 = 2),
        | dl AS (SELECT CAST(range AS VARCHAR) AS site,
        |    CAST(range % 5 + 1 AS BIGINT) AS delay
        |  FROM range(7) WHERE range % 3 = 0),
        | m AS (SELECT u.doc_id, r.a,
        |    row_number() OVER (PARTITION BY u.doc_id
        |      ORDER BY length(r.p) DESC, r.a DESC, r.p DESC) AS rk
        |  FROM u JOIN r ON r.site = u.site AND u.path LIKE r.p || '%'),
        | v AS (SELECT u.doc_id, u.site, u.path,
        |    COALESCE(dl.delay, 1) AS delay
        |  FROM u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rk = 1
        |  LEFT JOIN dl ON dl.site = u.site
        |  WHERE COALESCE(m.a = 1, TRUE)),
        | s AS (SELECT site, doc_id, path,
        |    CAST(row_number() OVER (PARTITION BY site ORDER BY doc_id)
        |      AS BIGINT) AS fetch_rank, delay
        |  FROM v)
        |SELECT site, doc_id, path, fetch_rank,
        |  CAST((fetch_rank - 1) * delay AS BIGINT) AS fetch_at_s
        |FROM s ORDER BY site, fetch_rank""".stripMargin,
    /* q225: both generations' bodies constructed, the authoritative one
     * picked per id class — the engine must route changed docs to the
     * fresh capture and unchanged docs through the refers-to join. */
    "q225_revisit_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    '<html><body><p>' || text || '</p></body></html>' AS body1,
        |    '<html><body><p>' || text || ' v2</p></body></html>' AS body2
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 1 THEN 'changed' ELSE 'unchanged' END AS status,
        |  CAST(strlen(CASE WHEN doc_id % 2 = 1 THEN body2 ELSE body1 END)
        |    AS BIGINT) AS body_bytes,
        |  md5(CASE WHEN doc_id % 2 = 1 THEN body2 ELSE body1 END) AS body_md5
        |FROM d ORDER BY doc_id""".stripMargin,
    /* q221: mirror sets replayed by grouping on the constructed body
     * STRING — the engine's md5 grouping must agree set-for-set. */
    "q221_mirror_detect" ->
      """WITH d AS (SELECT doc_id,
        |    doc_id - CASE WHEN doc_id % 16 >= 8 THEN 8 ELSE 0 END AS src_id
        |  FROM documents),
        | p AS (SELECT d.doc_id,
        |    'https://site' || CAST(d.doc_id % 7 AS VARCHAR) ||
        |      '.example.org/doc/' || CAST(d.doc_id AS VARCHAR) AS uri,
        |    'site' || CAST(d.doc_id % 7 AS VARCHAR) || '.example.org' AS host,
        |    '<html><body><p>' || s.text || '</p></body></html>' AS body
        |  FROM d JOIN documents s ON s.doc_id = d.src_id)
        |SELECT MIN(uri) AS canonical_uri,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
        |  CAST(strlen(body) AS BIGINT) AS body_bytes
        |FROM p GROUP BY body ORDER BY canonical_uri""".stripMargin,
    /* q226: q220's replay restricted to the DECLARING sites (even) —
     * odd sites' sitemaps exist but are never discovered. */
    "q226_sitemap_discovery" ->
      """SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS site,
        |  'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
        |    '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url,
        |  '2026-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') ||
        |    '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') AS lastmod
        |FROM documents WHERE doc_id % 3 <> 0 AND (doc_id % 7) % 2 = 0
        |ORDER BY doc_id""".stripMargin,
    /* q213: the q205 pair construction carried with the citing site, the
     * q209-style rule table, longest-match on the DISTINCT (site, path)
     * vocabulary via row_number, survivors counted and ranked. */
    "q213_crawl_frontier" ->
      """WITH p AS (
        |  SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS site, '/' AS path FROM documents
        |  UNION ALL SELECT doc_id, CAST(doc_id % 7 AS VARCHAR), '/about' FROM documents
        |  UNION ALL SELECT doc_id, CAST(doc_id % 7 AS VARCHAR), '/contact' FROM documents
        |  UNION ALL SELECT doc_id, CAST(doc_id % 7 AS VARCHAR), '/privacy' FROM documents
        |  UNION ALL SELECT doc_id, CAST(doc_id % 7 AS VARCHAR), '/terms' FROM documents
        |  UNION ALL SELECT doc_id, CAST(doc_id % 7 AS VARCHAR),
        |      '/doc/' || CAST(doc_id + 1 AS VARCHAR)
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, CAST(doc_id % 7 AS VARCHAR),
        |      '/doc/' || CAST(doc_id * 2 AS VARCHAR)
        |    FROM documents WHERE doc_id % 3 = 0),
        | r AS (
        |  SELECT CAST(range AS VARCHAR) AS site, '/doc/' AS rp, 1 AS a FROM range(7)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/about', 0 FROM range(7)
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/', 0 FROM range(7)
        |    WHERE range % 2 = 0),
        | dp AS (SELECT DISTINCT site, path FROM p),
        | m AS (SELECT dp.site, dp.path, r.a,
        |    row_number() OVER (PARTITION BY dp.site, dp.path
        |      ORDER BY length(r.rp) DESC, r.a DESC, r.rp) AS rk
        |  FROM dp JOIN r ON r.site = dp.site AND dp.path LIKE r.rp || '%'),
        | v AS (SELECT dp.site, dp.path FROM dp
        |   LEFT JOIN m ON m.site = dp.site AND m.path = dp.path AND m.rk = 1
        |   WHERE COALESCE(m.a = 1, TRUE)),
        | c AS (SELECT p.site, p.path,
        |    CAST(COUNT(DISTINCT p.doc_id) AS BIGINT) AS n_refs
        |  FROM p JOIN v ON v.site = p.site AND v.path = p.path GROUP BY 1, 2),
        | k AS (SELECT *, row_number() OVER (PARTITION BY site
        |    ORDER BY n_refs DESC, path ASC) AS rnk FROM c)
        |SELECT site, 'https://site' || site || '.example.org' || path AS url,
        |  n_refs, CAST(rnk AS BIGINT) AS fetch_rank
        |FROM k WHERE rnk <= 3 ORDER BY site, rnk""".stripMargin,
    "q205_anchor_corpus" ->
      """WITH p AS (
        |  SELECT doc_id, '/' AS href, 'home' AS anchor FROM documents
        |  UNION ALL SELECT doc_id, '/about', 'about us' FROM documents
        |  UNION ALL SELECT doc_id, '/contact', 'contact' FROM documents
        |  UNION ALL SELECT doc_id, '/privacy', 'privacy policy' FROM documents
        |  UNION ALL SELECT doc_id, '/terms', 'terms' FROM documents
        |  UNION ALL SELECT doc_id, '/doc/' || CAST(doc_id + 1 AS VARCHAR),
        |      'doc ' || CAST(doc_id + 1 AS VARCHAR)
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id, '/doc/' || CAST(doc_id * 2 AS VARCHAR),
        |      'doc ' || CAST(doc_id * 2 AS VARCHAR)
        |    FROM documents WHERE doc_id % 3 = 0)
        |SELECT href, CAST(COUNT(*) AS BIGINT) AS n_refs,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  MIN(anchor) AS anchor_min, MAX(anchor) AS anchor_max
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    /* q207: the oracle CONSTRUCTS every record's payload string and
     * measures it (strlen bytes for the declared Content-Length, md5 of
     * the HTTP body) — no WARC parsing on the DuckDB side by design.
     * rec_idx replays the synthesis order: warcinfo 0, then the blob's
     * docs in doc_id order as (request 2r−1, response 2r).
     * q210 is the SAME string verbatim: gzip round-tripping the blobs
     * must be value-transparent. */
    "q207_warc_records" -> WarcRecordsSql,
    "q210_warc_gz" -> WarcRecordsSql,
    "q214_warc_gz_members" -> WarcRecordsSql,
    /* q215: survivors are the q207 construction MINUS the corrupt id
     * class, rec_idx re-ranked over survivors in original record order;
     * skipped_bytes per blob is the strlen of each corrupt response
     * record's FULL serialization (WARC header block + blank line +
     * HTTP payload + record separator) — the exact span the resync scan
     * steps over to reach the next record's magic. */
    "q215_warc_resync" ->
      """WITH d AS (SELECT doc_id, text, doc_id // 8 AS blob_id,
        |    row_number() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id) AS rn,
        |    'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |    '<html><body><p>' || text || '</p></body></html>' AS body,
        |    CASE WHEN doc_id % 13 = 0 THEN '404 Not Found' ELSE '200 OK' END AS st,
        |    CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS code,
        |    (doc_id % 5 = 2) AS corrupt
        |  FROM documents),
        | pay AS (SELECT *,
        |    'HTTP/1.1 ' || st || chr(13) || chr(10) ||
        |      'Content-Type: text/html' || chr(13) || chr(10) ||
        |      chr(13) || chr(10) || body AS payload
        |  FROM d),
        | skip AS (SELECT blob_id,
        |    CAST(COUNT(*) FILTER (WHERE corrupt) AS BIGINT) AS skipped_spans,
        |    CAST(COALESCE(SUM(CASE WHEN corrupt THEN
        |      strlen('WARC/1.0' || chr(13) || chr(10) ||
        |        'WARC-Type: response' || chr(13) || chr(10) ||
        |        'WARC-Target-URI: ' || uri || chr(13) || chr(10) ||
        |        'Content-Type: application/http; msgtype=response' || chr(13) || chr(10) ||
        |        'Content-Length: ' || CAST(strlen(payload) AS VARCHAR) ||
        |        chr(13) || chr(10) || chr(13) || chr(10)) +
        |      strlen(payload) + 4 END), 0) AS BIGINT) AS skipped_bytes
        |  FROM pay GROUP BY blob_id),
        | info AS (SELECT DISTINCT blob_id, 0 AS orig,
        |    'warcinfo' AS rec_type, CAST(NULL AS VARCHAR) AS uri,
        |    CAST(strlen('software: graft-crawler/1.0' || chr(13) || chr(10))
        |      AS BIGINT) AS content_length,
        |    CAST(NULL AS BIGINT) AS http_status,
        |    CAST(NULL AS BIGINT) AS body_bytes,
        |    CAST(NULL AS VARCHAR) AS body_md5 FROM pay),
        | req AS (SELECT blob_id, 2 * rn - 1 AS orig,
        |    'request' AS rec_type, uri,
        |    CAST(strlen('GET /doc/' || CAST(doc_id AS VARCHAR) ||
        |      ' HTTP/1.1' || chr(13) || chr(10) || 'Host: example.org' ||
        |      chr(13) || chr(10) || chr(13) || chr(10)) AS BIGINT) AS content_length,
        |    CAST(NULL AS BIGINT) AS http_status,
        |    CAST(NULL AS BIGINT) AS body_bytes,
        |    CAST(NULL AS VARCHAR) AS body_md5 FROM pay),
        | resp AS (SELECT blob_id, 2 * rn AS orig,
        |    'response' AS rec_type, uri,
        |    CAST(strlen(payload) AS BIGINT) AS content_length,
        |    CAST(code AS BIGINT) AS http_status,
        |    CAST(strlen(body) AS BIGINT) AS body_bytes,
        |    md5(body) AS body_md5 FROM pay WHERE NOT corrupt),
        | surv AS (SELECT * FROM info UNION ALL SELECT * FROM req
        |   UNION ALL SELECT * FROM resp),
        | n AS (SELECT *, CAST(row_number() OVER (PARTITION BY blob_id
        |    ORDER BY orig) - 1 AS BIGINT) AS rec_idx FROM surv)
        |SELECT n.blob_id, n.rec_idx, n.rec_type, n.uri, n.content_length,
        |  n.http_status, n.body_bytes, n.body_md5,
        |  s.skipped_spans, s.skipped_bytes
        |FROM n JOIN skip s USING (blob_id)
        |ORDER BY blob_id, rec_idx""".stripMargin,
    /* q228: survivors are the construction MINUS both corrupt classes
     * (rec_idx re-ranked per blob), bodies are the q217 decoded strings;
     * the accounting replays BOTH tiers arithmetically — skipped_bytes
     * is the corrupt record's full serialization (its class is plain-
     * encoded by construction, so strlen computes the wire bytes) and
     * skipped_member_bytes is 64 per torn member. */
    "q228_hostile_walk" ->
      """WITH d AS (SELECT doc_id, text, doc_id // 8 AS blob_id,
        |    'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |    '<html><body><p>' || text || ' caf' || chr(233) ||
        |      '</p></body></html>' AS body,
        |    (doc_id % 20 = 12) AS rec_corrupt,
        |    (doc_id % 10 = 1) AS mem_corrupt
        |  FROM documents),
        | pay AS (SELECT *,
        |    'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
        |      'Content-Type: text/html' || chr(13) || chr(10) ||
        |      chr(13) || chr(10) || body AS payload
        |  FROM d),
        | skip AS (SELECT blob_id,
        |    CAST(COUNT(*) FILTER (WHERE rec_corrupt) AS BIGINT) AS skipped_spans,
        |    CAST(COALESCE(SUM(CASE WHEN rec_corrupt THEN
        |      strlen('WARC/1.0' || chr(13) || chr(10) ||
        |        'WARC-Type: response' || chr(13) || chr(10) ||
        |        'WARC-Target-URI: ' || uri || chr(13) || chr(10) ||
        |        'Content-Type: application/http; msgtype=response' || chr(13) || chr(10) ||
        |        'Content-Length: ' || CAST(strlen(payload) AS VARCHAR) ||
        |        chr(13) || chr(10) || chr(13) || chr(10)) +
        |      strlen(payload) + 4 END), 0) AS BIGINT) AS skipped_bytes,
        |    CAST(COUNT(*) FILTER (WHERE mem_corrupt) AS BIGINT) AS skipped_members,
        |    CAST(64 * COUNT(*) FILTER (WHERE mem_corrupt) AS BIGINT) AS skipped_member_bytes
        |  FROM pay GROUP BY blob_id),
        | surv AS (SELECT blob_id, doc_id, body,
        |    CAST(row_number() OVER (PARTITION BY blob_id ORDER BY doc_id) - 1
        |      AS BIGINT) AS rec_idx
        |  FROM d WHERE NOT rec_corrupt AND NOT mem_corrupt
        |    AND blob_id % 25 <> 3)
        |SELECT s.blob_id, s.rec_idx, s.doc_id,
        |  CASE CAST(s.doc_id % 4 AS INT) WHEN 0 THEN 'plain' WHEN 1 THEN 'gzip'
        |    WHEN 2 THEN 'latin1' ELSE 'gzip+latin1' END AS enc,
        |  CAST(200 AS BIGINT) AS http_status, s.body,
        |  CAST(length(s.body) AS BIGINT) AS body_chars,
        |  k.skipped_spans, k.skipped_bytes, k.skipped_members,
        |  k.skipped_member_bytes
        |FROM surv s JOIN skip k USING (blob_id)
        |UNION ALL
        |SELECT blob_id, CAST(NULL AS BIGINT) AS rec_idx,
        |  CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS enc,
        |  CAST(NULL AS BIGINT) AS http_status, CAST(NULL AS VARCHAR) AS body,
        |  CAST(NULL AS BIGINT) AS body_chars,
        |  CAST(0 AS BIGINT) AS skipped_spans, CAST(0 AS BIGINT) AS skipped_bytes,
        |  CAST(1 AS BIGINT) AS skipped_members,
        |  CAST(512 AS BIGINT) AS skipped_member_bytes
        |FROM (SELECT DISTINCT doc_id // 8 AS blob_id FROM documents
        |      WHERE (doc_id // 8) % 25 = 3)
        |ORDER BY blob_id, rec_idx""".stripMargin,
    /* q233: the oracle constructs each class's decoded string — chr(233)
     * where a declaration (header or in-window meta) names latin-1,
     * chr(65533) where the spec says the declaration is OUT of reach
     * (beyond the 1024-byte prescan window) and the latin-1 é must shred
     * under the UTF-8 fallback. */
    "q233_meta_charset" ->
      """WITH d AS (SELECT doc_id, text,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN '<meta charset="utf-8">'
        |      WHEN 1 THEN '<meta charset="ISO-8859-1">'
        |      WHEN 2 THEN ''
        |      WHEN 3 THEN '<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">'
        |      ELSE '<!--' || repeat('x', 1100) || '--><meta charset="ISO-8859-1">' END AS meta,
        |    CASE WHEN doc_id % 5 = 4 THEN chr(65533) ELSE chr(233) END AS e
        |  FROM documents),
        | p AS (SELECT doc_id,
        |    '<html><head>' || meta || '</head><body><p>' || text ||
        |      ' caf' || e || '</p></body></html>' AS body
        |  FROM d)
        |SELECT doc_id,
        |  CASE CAST(doc_id % 5 AS INT)
        |    WHEN 0 THEN 'header-wins' WHEN 1 THEN 'meta-charset'
        |    WHEN 2 THEN 'utf8-fallback' WHEN 3 THEN 'http-equiv+gzip'
        |    ELSE 'beyond-window' END AS mode,
        |  CAST(200 AS BIGINT) AS http_status, body,
        |  CAST(length(body) AS BIGINT) AS body_chars
        |FROM p ORDER BY doc_id""".stripMargin,
    /* q234: the oracle constructs the decoded strings directly — the
     * BOM itself never appears in any expected body (consumed by the
     * sniff), and classes 2/3 only hash-match if the UTF-16 code units
     * decoded under the BOM's charset, not the lying header's/meta's. */
    "q234_bom_charset" ->
      """WITH d AS (SELECT doc_id,
        |    '<html><body><p>' || text || ' caf' || chr(233) ||
        |      '</p></body></html>' AS plainb,
        |    '<html><head><meta charset="ISO-8859-1"></head><body><p>' ||
        |      text || ' caf' || chr(233) || '</p></body></html>' AS metab
        |  FROM documents)
        |SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT)
        |    WHEN 0 THEN 'plain' WHEN 1 THEN 'bom-utf8'
        |    WHEN 2 THEN 'bom-utf16le-lying-header'
        |    ELSE 'bom-utf16be-gzip-lying-meta' END AS mode,
        |  CAST(200 AS BIGINT) AS http_status,
        |  CASE WHEN doc_id % 4 = 3 THEN metab ELSE plainb END AS body,
        |  CAST(length(CASE WHEN doc_id % 4 = 3 THEN metab ELSE plainb END)
        |    AS BIGINT) AS body_chars
        |FROM d ORDER BY doc_id""".stripMargin,
    /* q235/q236: ordinal = rank within blob, urlkey = SURT closed-form,
     * status/mass/md5 from the construction. q236 is q235 restricted to
     * the requested id class — identical expected rows is exactly the
     * seek law: range-reading (offset, length) must reproduce the
     * record the walk saw. */
    "q235_cdx_index" -> CdxSql("TRUE"),
    "q236_cdx_seek" -> CdxSql("doc_id % 7 = 3"),
    /* q237: both generations' bodies constructed; changed by id class;
     * etag_match pinned to NOT changed (the validator law — the engine
     * compares its PARSED tags, so a broken ETag parse breaks the
     * hash); authoritative mass/md5 pick the fresh or cached body;
     * bytes_saved is the cached mass the 304 avoided. */
    "q237_conditional_recrawl" ->
      """WITH d AS (SELECT doc_id,
        |    '<html><body><p>' || text || '</p></body></html>' AS b1,
        |    '<html><body><p>' || text || ' v2</p></body></html>' AS b2,
        |    (doc_id % 2 = 1) AS changed
        |  FROM documents)
        |SELECT doc_id, changed,
        |  (NOT changed) AS etag_match,
        |  CASE WHEN changed THEN md5(b2) ELSE md5(b1) END AS authoritative_md5,
        |  CAST(CASE WHEN changed THEN strlen(b2) ELSE strlen(b1) END
        |    AS BIGINT) AS authoritative_bytes,
        |  CAST(CASE WHEN changed THEN 0 ELSE strlen(b1) END
        |    AS BIGINT) AS bytes_saved
        |FROM d ORDER BY doc_id""".stripMargin,
    /* q212: the oracle resolves the chains by RECURSIVE fixpoint (vs the
     * engine's bounded unrolled joins — different algorithm, same
     * semantics) with the same 3-hop cap in the recursion guard; the
     * deepest row per origin is the landing. */
    "q212_redirect_chains" ->
      """WITH RECURSIVE u AS (SELECT doc_id,
        |    'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |    CASE WHEN doc_id % 4 IN (1, 2) THEN 301 ELSE 200 END AS st,
        |    CASE WHEN doc_id % 4 IN (1, 2) THEN
        |      'https://example.org/doc/' || CAST(doc_id + 1 AS VARCHAR) END AS loc
        |  FROM documents),
        | e AS (SELECT uri AS src, loc AS dst FROM u WHERE loc IS NOT NULL),
        | walk(orig, cur, hops) AS (
        |   SELECT uri, uri, 0 FROM u
        |   UNION ALL
        |   SELECT w.orig, e.dst, w.hops + 1 FROM walk w
        |   JOIN e ON e.src = w.cur WHERE w.hops < 3),
        | fin AS (SELECT orig, cur, hops,
        |    row_number() OVER (PARTITION BY orig ORDER BY hops DESC) AS rk
        |  FROM walk)
        |SELECT u.doc_id, f.cur AS final_uri,
        |  CAST(t.st AS BIGINT) AS final_status, CAST(f.hops AS BIGINT) AS hops
        |FROM fin f JOIN u ON u.uri = f.orig LEFT JOIN u t ON t.uri = f.cur
        |WHERE f.rk = 1 ORDER BY u.doc_id""".stripMargin,
    /* q211: body_bytes/body_md5 replay the DE-CHUNKED body — identical
     * expressions to the plain rows — while content_length replays the
     * chunked payload construction (hex size lines via lower(to_hex),
     * the exact Scala "%x" casing). Response-only blobs: rec_idx = rn−1. */
    "q211_warc_chunked" ->
      """WITH d AS (SELECT doc_id, text, doc_id // 8 AS blob_id,
        |    row_number() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id) AS rn,
        |    'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |    '<html><body><p>' || text || '</p></body></html>' AS body,
        |    CASE WHEN doc_id % 13 = 0 THEN '404 Not Found' ELSE '200 OK' END AS st,
        |    CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS code
        |  FROM documents),
        | p AS (SELECT *,
        |    substr(body, 1, length(body) // 2) AS p1,
        |    substr(body, length(body) // 2 + 1) AS p2
        |  FROM d),
        | r AS (SELECT blob_id, CAST(rn - 1 AS BIGINT) AS rec_idx,
        |    'response' AS rec_type, uri,
        |    CAST(CASE WHEN doc_id % 2 = 1 THEN
        |      strlen('HTTP/1.1 ' || st || chr(13) || chr(10) ||
        |        'Transfer-Encoding: chunked' || chr(13) || chr(10) ||
        |        chr(13) || chr(10) ||
        |        lower(to_hex(strlen(p1))) || chr(13) || chr(10) || p1 ||
        |        chr(13) || chr(10) ||
        |        lower(to_hex(strlen(p2))) || chr(13) || chr(10) || p2 ||
        |        chr(13) || chr(10) || '0' || chr(13) || chr(10) || chr(13) || chr(10))
        |    ELSE
        |      strlen('HTTP/1.1 ' || st || chr(13) || chr(10) ||
        |        'Content-Type: text/html' || chr(13) || chr(10) ||
        |        chr(13) || chr(10) || body)
        |    END AS BIGINT) AS content_length,
        |    CAST(code AS BIGINT) AS http_status,
        |    CAST(strlen(body) AS BIGINT) AS body_bytes,
        |    md5(body) AS body_md5
        |  FROM p)
        |SELECT * FROM r ORDER BY blob_id, rec_idx""".stripMargin
  )

  /** q222 ≡ q227: the effective per-site-class rule table + delay,
    * replayed through the q209 LIKE match. */
  private lazy val RobotsVerdictSql: String =
      """WITH u AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS site,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN '/a/x' || CAST(doc_id AS VARCHAR)
        |      WHEN 1 THEN '/a/' || CAST(doc_id AS VARCHAR)
        |      WHEN 2 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
        |      WHEN 3 THEN '/news/' || CAST(doc_id AS VARCHAR)
        |      ELSE '/img/' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM documents),
        | r AS (
        |  SELECT CAST(range AS VARCHAR) AS site, '/a/x' AS p, 1 AS a
        |    FROM range(7) WHERE range % 3 = 0
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/a/', 0
        |    FROM range(7) WHERE range % 3 = 0
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/news/', 0
        |    FROM range(7) WHERE range % 3 = 1
        |  UNION ALL SELECT CAST(range AS VARCHAR), '/tmp/', 0
        |    FROM range(7) WHERE range % 3 = 2),
        | dl AS (SELECT CAST(range AS VARCHAR) AS site,
        |    CAST(range % 5 + 1 AS BIGINT) AS delay
        |  FROM range(7) WHERE range % 3 = 0),
        | m AS (SELECT u.doc_id, r.p, r.a,
        |    row_number() OVER (PARTITION BY u.doc_id
        |      ORDER BY length(r.p) DESC, r.a DESC, r.p DESC) AS rk
        |  FROM u JOIN r ON r.site = u.site AND u.path LIKE r.p || '%')
        |SELECT u.doc_id, u.site, u.path,
        |  COALESCE(m.a = 1, TRUE) AS allowed, m.p AS matched_path,
        |  dl.delay AS crawl_delay
        |FROM u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rk = 1
        |LEFT JOIN dl ON dl.site = u.site
        |ORDER BY u.doc_id""".stripMargin

  /** The q235/q236 shared oracle shape — identical expected rows, q236
    * restricted to the requested class: the seek law as SQL. */
  private def CdxSql(pred: String): String =
    s"""WITH d AS (SELECT doc_id, text, doc_id // 8 AS blob_id,
       |    CAST(row_number() OVER (PARTITION BY doc_id // 8
       |      ORDER BY doc_id) - 1 AS BIGINT) AS ordinal,
       |    '<html><body><p>' || text || '</p></body></html>' AS body,
       |    CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS code
       |  FROM documents)
       |SELECT doc_id, ordinal,
       |  'org,example)/doc/' || CAST(doc_id AS VARCHAR) AS urlkey,
       |  CAST(code AS BIGINT) AS http_status,
       |  CAST(strlen(body) AS BIGINT) AS body_bytes,
       |  md5(body) AS body_md5
       |FROM d WHERE $pred ORDER BY doc_id""".stripMargin

  private lazy val WarcRecordsSql: String =
      """WITH d AS (SELECT doc_id, text, doc_id // 8 AS blob_id,
        |    row_number() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id) AS rn,
        |    'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS uri,
        |    '<html><body><p>' || text || '</p></body></html>' AS body,
        |    CASE WHEN doc_id % 13 = 0 THEN '404 Not Found' ELSE '200 OK' END AS st,
        |    CASE WHEN doc_id % 13 = 0 THEN 404 ELSE 200 END AS code
        |  FROM documents),
        | info AS (SELECT DISTINCT blob_id, CAST(0 AS BIGINT) AS rec_idx,
        |    'warcinfo' AS rec_type, CAST(NULL AS VARCHAR) AS uri,
        |    CAST(strlen('software: graft-crawler/1.0' || chr(13) || chr(10))
        |      AS BIGINT) AS content_length,
        |    CAST(NULL AS BIGINT) AS http_status,
        |    CAST(NULL AS BIGINT) AS body_bytes,
        |    CAST(NULL AS VARCHAR) AS body_md5 FROM d),
        | req AS (SELECT blob_id, CAST(2 * rn - 1 AS BIGINT) AS rec_idx,
        |    'request' AS rec_type, uri,
        |    CAST(strlen('GET /doc/' || CAST(doc_id AS VARCHAR) ||
        |      ' HTTP/1.1' || chr(13) || chr(10) || 'Host: example.org' ||
        |      chr(13) || chr(10) || chr(13) || chr(10)) AS BIGINT) AS content_length,
        |    CAST(NULL AS BIGINT) AS http_status,
        |    CAST(NULL AS BIGINT) AS body_bytes,
        |    CAST(NULL AS VARCHAR) AS body_md5 FROM d),
        | resp AS (SELECT blob_id, CAST(2 * rn AS BIGINT) AS rec_idx,
        |    'response' AS rec_type, uri,
        |    CAST(strlen('HTTP/1.1 ' || st || chr(13) || chr(10) ||
        |      'Content-Type: text/html' || chr(13) || chr(10) ||
        |      chr(13) || chr(10) || body) AS BIGINT) AS content_length,
        |    CAST(code AS BIGINT) AS http_status,
        |    CAST(strlen(body) AS BIGINT) AS body_bytes,
        |    md5(body) AS body_md5 FROM d)
        |SELECT * FROM info UNION ALL SELECT * FROM req
        |UNION ALL SELECT * FROM resp ORDER BY blob_id, rec_idx""".stripMargin
}
