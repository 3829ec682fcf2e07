package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash groupBy),
  * MinHash+LSH banding, SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - exact dedup is a single hash-shuffle on a 16-byte key (md5), the minimum
  *    possible shuffle width;
  *  - MinHash signatures are computed map-side (explode + partial min-agg —
  *    map-side combine keeps the shuffle at #docs × #hashes, independent of
  *    document length);
  *  - LSH banding turns all-pairs O(n²) into a self-equi-join on band keys —
  *    a plain shuffled hash join that AQE skew-splits if one bucket is hot;
  *  - all-pairs Jaccard is intentionally bounded (`maxId`) — at scale it is
  *    only ever run on LSH candidate pairs, never the full corpus.
  */
object Dedup {

  /** Eager-materialize a frame AND hand back a statistics-free leaf over
    * the checkpointed rows. `localCheckpoint(true)` alone is NOT enough for
    * an iterative loop on Spark 4: `Dataset.checkpoint` builds its
    * truncated `LogicalRDD` with `originStats = optimizedPlan.stats`
    * (SPARK-39748), and size-only stats estimate every join as the PRODUCT
    * of its children's sizeInBytes — so round r's leaf stats are round
    * r-1's raised to the number of joins per round. The BigInt exponent
    * compounds ~4× per round; by round 10 the planner multiplies
    * 10⁸-bit integers and a single checkpoint takes minutes (measured:
    * round 1 = 626 stats bits/0.5 s, round 10 = 1.9×10⁸ bits/105 s).
    * Rebuilding the frame from the materialized RDD through the public
    * `createDataFrame` API yields a LogicalRDD with NO origin stats
    * (leaves fall back to `defaultSizeInBytes`), keeping every round's
    * planning O(1). Cost: one extra InternalRow⇄Row map per downstream
    * read of the (small, two-long-column) label frame; broadcast choices
    * inside the loop are AQE's at runtime either way. */
  private[graft] def checkpointStripped(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  /** Distinct word n-gram shingles of a text column; null when the document
    * has fewer than n tokens (all-or-nothing guard in the spirit of
    * reference E10, transform_lambda/main.py:192-198 — and identical to an
    * empty array under the `explode` every consumer applies). Computed by
    * the fused codegen kernel [[graft.functions.WordShingles]]: the HOF
    * chain (`sequence`/`transform`/`array_distinct`) evaluates interpreted
    * and was the whole cost of the q55 scan stage (3.1 s of 3.5 s at
    * sf0.1). */
  def wordShingles(c: Column, n: Int): Column =
    graft.functions.WordShingles.wordShingles(c, n)

  /** (id, shingle) exploded pairs — the map-side input to MinHash/Jaccard. */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), explode(wordShingles(col(textCol), n)).as("sg"))

  /** N-gram novelty: for each document, the fraction of its DISTINCT word
    * n-grams that first appear in it (no smaller-id document contains them)
    * — the memorization/duplication profile a corpus report carries
    * (novelty → 0 as boilerplate takes over; the per-doc complement of
    * dedup). Processing-order semantics use ascending id as "earlier".
    *
    * Scale shape: shingles explode map-side ([[explodedShingles]] emits
    * distinct-per-doc pairs); first-seer is one map-side-combinable
    * min-aggregation keyed on the shingle; the join back is shuffle-on-
    * shingle (both sides already carry the key — at corpus scale the gram
    * table outgrows broadcast, so the equi-join is the right default and
    * AQE still broadcasts it under the threshold). The ratio is a single
    * exact division per doc — both engines see bit-identical doubles. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val sh = explodedShingles(docs, idCol, textCol, n)
    val firstSeer = sh.groupBy(col("sg")).agg(min(col(idCol)).as("_first"))
    sh.join(firstSeer, "sg")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("_first") === col(idCol), 1L).otherwise(0L)).as("novel_grams"))
      .withColumn("novelty",
        round(col("novel_grams").cast("double") / col("n_grams").cast("double"), 4))
  }

  /** MinHash signature: slot s takes the min over shingles of an 8-hex-char
    * (32-bit) slice of md5("⌊s/4⌋:" + shingle). Computed whole-signature per
    * row by the [[graft.functions.MinHashSlots]] kernel — a map-only
    * projection with NO explode and NO shuffle (the relational
    * explode+groupBy twin, kept in git history, cost a wide aggregation).
    * Docs with fewer than shingleN tokens have no shingles and are dropped,
    * matching the exploded formulation's semantics. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 8, shingleN: Int = 3,
                       carryCols: Seq[String] = Nil): DataFrame = {
    require(numHashes == graft.functions.MinHashKernel.NumSlots,
      s"kernel computes ${graft.functions.MinHashKernel.NumSlots} slots")
    // one kernel call per row: CollapseProject won't inline a non-cheap
    // expression into its 8 slot references (SPARK-36718), and the
    // short-document guard filters on token count — NOT on the kernel's
    // null result, which filter pushdown would duplicate below the project
    df.filter(size(split(col(textCol), " ")) >= shingleN) // kernel nulls exactly these
      .select(col(idCol) +: (graft.functions.MinHashSlots
        .minhashSlots(col(textCol), shingleN).as("_sig") +:
        carryCols.map(col)): _*)
      .select(col(idCol) +: ((0 until numHashes).map(s =>
        element_at(col("_sig"), s + 1).as(s"sig$s")) ++ carryCols.map(col)): _*)
  }

  /** LSH banding over a MinHash signature: hash each band of `rowsPerBand`
    * signature slots (salted with the band index), self-join on the band key,
    * emit distinct candidate pairs (doc_a < doc_b). */
  def lshCandidatePairs(sig: DataFrame, idCol: String,
                        numHashes: Int = 8, bands: Int = 2): DataFrame = {
    val all = bandKeys(sig, idCol, numHashes, bands)
    all.as("a").join(all.as("b"),
        col("a.band") === col("b.band") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
  }

  /** One (id, band-key) row per band per document: each band of `rowsPerBand`
    * signature slots hashed with the band index as salt. Shared by the
    * self-join ([[lshCandidatePairs]]) and cross-corpus
    * ([[crossCorpusCandidates]]) LSH paths. */
  private[graft] def bandKeys(sig: DataFrame, idCol: String,
                              numHashes: Int, bands: Int,
                              carryCols: Seq[String] = Nil): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    val bandDfs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"sig$i"))
      sig.select(col(idCol) +:
        (md5(concat_ws("|", lit(s"B$b") +: cols: _*).cast("binary")).as("band") +:
          carryCols.map(col)): _*)
    }
    bandDfs.reduce(_ unionByName _)
  }

  /** Cross-corpus LSH dedup — the INCREMENTAL-crawl operator: candidate
    * near-duplicate pairs between a NEW corpus and an existing REFERENCE
    * corpus (dedup the fresh crawl against everything already in the
    * training set, without re-pairing the reference against itself).
    * Both sides carry [[minhashSignature]] columns; emits distinct
    * (new_id, ref_id) candidates that share at least one LSH band.
    *
    * Scale shape: band keys are map-side projections of the signatures;
    * the single equi-join on the 32-hex band key shuffles each side ONCE
    * (at 100 TB the reference's band table is the big side — it shuffles
    * by band hash exactly like the self-join; when the new crawl increment
    * is small AQE broadcast-promotes it). No self-pairs are generated, so
    * a reference corpus that was already deduped never re-verifies its own
    * survivors. */
  def crossCorpusCandidates(newSig: DataFrame, refSig: DataFrame, idCol: String,
                            numHashes: Int = 8, bands: Int = 2): DataFrame =
    bandKeys(newSig, idCol, numHashes, bands).as("n")
      .join(bandKeys(refSig, idCol, numHashes, bands).as("r"), "band")
      .select(col(s"n.$idCol").as("new_id"), col(s"r.$idCol").as("ref_id"))
      .distinct()

  /** The PERSISTED near-dup band index (r15 verdict #6 — the near-dup twin
    * of [[SuffixArray.contaminationIndex]]): one `(id, band)` row per LSH
    * band per document. Build ONCE over the standing corpus, write to
    * parquet, audit every arriving shard against it with
    * [[nearDupAgainstIndex]] — and after the audit, APPEND the shard's own
    * rows (this same function over the shard) so the index tracks the
    * corpus without ever re-banding it. Band keys are pure per-row
    * functions of the text (salted md5 over signature slots), so rows
    * built at different times compose exactly. */
  def nearDupBandIndex(corpus: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 8, shingleN: Int = 3,
                       bands: Int = 2): DataFrame =
    bandKeys(minhashSignature(corpus, idCol, textCol, numHashes, shingleN),
      idCol, numHashes, bands)

  /** Arrival-time near-dup audit against a persisted band index: candidate
    * pairs between an arriving shard and everything already indexed,
    * PLUS the shard's internal pairs — together exactly the full-corpus
    * re-band restricted to pairs touching the shard (the ExtSpec law),
    * without recomputing a single corpus signature. `new_id` is always
    * the shard doc; `ref_id` is the indexed doc, or the larger id for a
    * shard-internal pair.
    *
    * Scale shape: q90's re-band runs the MinHash kernel over the FULL
    * corpus text per audit; here the corpus side is a bare `(id, band)`
    * parquet scan — no text read, no signature compute. The shard's bands
    * are one map-side projection feeding both joins on the same `band`
    * key; a small shard broadcast-promotes under AQE, so the index is
    * never shuffled at all. Audit cost scales with |shard| + the index
    * SCAN, never with re-banding the corpus (NOTES keeps the measurement
    * against the q90 shape). */
  def nearDupAgainstIndex(bandIndex: DataFrame, shard: DataFrame,
                          idCol: String, textCol: String,
                          numHashes: Int = 8, shingleN: Int = 3,
                          bands: Int = 2): DataFrame = {
    // materialize the shard bands ONCE: they feed three plan legs (the
    // index join + both sides of the self-join), and with a broadcast-
    // promoted shard there is no exchange for ReuseExchange to dedupe —
    // without this the MinHash kernel runs over the shard text 3× per
    // action (the dedupFunnel multi-consumer convention)
    val sb = checkpointStripped(
      nearDupBandIndex(shard, idCol, textCol, numHashes, shingleN, bands))
    nearDupAuditBands(bandIndex, sb, idCol)
  }

  /** The audit over ALREADY-MATERIALIZED shard bands — shared with
    * [[graft.stream.StreamingNearDupIndex]], which must append the SAME
    * band rows it audited with (recomputing them per stage would run the
    * kernel twice per micro-batch). */
  private[graft] def nearDupAuditBands(bandIndex: DataFrame, sb: DataFrame,
                                       idCol: String): DataFrame = {
    val vsIndex = sb.as("n").join(bandIndex.as("r"), "band")
      .select(col(s"n.$idCol").as("new_id"), col(s"r.$idCol").as("ref_id"))
    val within = sb.as("a").join(sb.as("b"),
        col("a.band") === col("b.band") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("new_id"), col(s"b.$idCol").as("ref_id"))
    vsIndex.unionByName(within).distinct()
  }

  /** Corpus snapshot diff — the release-delta table a versioned dataset
    * card reports (what changed between corpus v1 and v2): per source,
    * documents ADDED (id only in B), REMOVED (id only in A), CHANGED
    * (both, different normalized-text fingerprint — so
    * whitespace/case-only edits do NOT count as changes, the q20
    * normalization), UNCHANGED, plus the token delta (Σ tokens_B −
    * Σ tokens_A over the source).
    *
    * Scale shape: one full outer join on the id (both sides pre-projected
    * to (id, source, fingerprint, token count) — fingerprint and count
    * are map-side kernel expressions), one map-side-combined rollup on
    * the bounded source key. The source of a changed/unchanged doc is
    * B's (incoming-wins, the U2 upsert convention); removed docs report
    * under A's source. */
  def snapshotDiff(a: DataFrame, b: DataFrame, sourceCol: String,
                   idCol: String, textCol: String): DataFrame = {
    def proj(df: DataFrame, tag: String) = df.select(
      col(idCol).as("doc_id"), col(sourceCol).as(s"_src_$tag"),
      TextOps.fingerprintMd5(col(textCol)).as(s"_fp_$tag"),
      size(TextOps.tokens(col(textCol))).cast("long").as(s"_tk_$tag"))
    proj(a, "a").join(proj(b, "b"), Seq("doc_id"), "full_outer")
      .withColumn(sourceCol, coalesce(col("_src_b"), col("_src_a")))
      .withColumn("_state", when(col("_fp_a").isNull, lit("added"))
        .when(col("_fp_b").isNull, lit("removed"))
        .when(col("_fp_a") === col("_fp_b"), lit("unchanged"))
        .otherwise(lit("changed")))
      .groupBy(col(sourceCol))
      .agg(
        sum(when(col("_state") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("_state") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("_state") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("_state") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        (sum(coalesce(col("_tk_b"), lit(0L))) -
          sum(coalesce(col("_tk_a"), lit(0L)))).as("token_delta"))
  }

  /** Distribution-drift audit between two corpus versions — the
    * drift-monitor number a production data pipeline alarms on: per
    * group, the TOTAL-VARIATION distance between the two versions'
    * histograms of a numeric column (fixed-width bins, top bin open), in
    * exact basis points. TV = ½ Σ|p_i − q_i| over bins; with integer
    * counts that is Σ|cA_i·nB − cB_i·nA| div (2·nA·nB) — every term an
    * integer, products in DECIMAL(38,0) (count pairs overflow BIGINT
    * beyond ~3·10⁹ rows per side, the LshPlanner precedent), division
    * last, so the oracle replays exactly. Groups empty on one side read
    * TV = 10000 (all mass moved).
    *
    * Scale shape: two map-side bucketings, two map-side-combined
    * (group, bin) aggregations — the shuffled key space is groups·bins,
    * corpus-size-independent — one full outer join and per-group totals
    * via windows over the BOUNDED histogram frame. */
  def histogramDrift(a: DataFrame, b: DataFrame, groupCol: String,
                     valueCol: String, bins: Int, binWidth: Long): DataFrame = {
    require(bins >= 2 && binWidth >= 1, s"bad grid: bins=$bins width=$binWidth")
    // `div`, never `/`: Spark's `/` on integral types is DOUBLE division.
    // Values are clamped to 0 BEFORE binning (ADVICE r14): Spark's `div`
    // truncates toward zero while DuckDB's `//` floors, so a negative
    // value would bin differently across engines AND produce bin ids
    // outside [0, bins); clamping makes the grid [0, bins) well-defined
    // for any input — negatives land in bin 0 on both engines.
    def hist(df: DataFrame, out: String) = df
      .select(col(groupCol), expr(
        s"least(cast(${bins - 1} as bigint), " +
          s"greatest(cast(0 as bigint), cast($valueCol as bigint)) div $binWidth)").as("_b"))
      .groupBy(col(groupCol), col("_b")).agg(count(lit(1)).as(out))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val j = hist(a, "_ca").join(hist(b, "_cb"), Seq(groupCol, "_b"), "full_outer")
      .withColumn("_ca", coalesce(col("_ca"), lit(0L)))
      .withColumn("_cb", coalesce(col("_cb"), lit(0L)))
      .withColumn("_na", sum(col("_ca")).over(w))
      .withColumn("_nb", sum(col("_cb")).over(w))
    val dec = "decimal(38,0)"
    j.withColumn("_term", abs(col("_ca").cast(dec) * col("_nb") -
        col("_cb").cast(dec) * col("_na")))
      .groupBy(col(groupCol))
      .agg(max(col("_na")).as("n_a"), max(col("_nb")).as("n_b"),
        sum(col("_term")).as("_t"))
      // decimal `div` ≡ DuckDB HUGEINT `//` (the interleaveSchedule
      // parity note); decimal `/` would round at its result scale
      .withColumn("tv_bp", when(col("n_a") === 0L || col("n_b") === 0L,
          lit(10000L))
        .otherwise(expr("(cast(10000 as decimal(38,0)) * _t) div " +
          "(cast(2 as decimal(38,0)) * n_a * n_b)").cast("long")))
      .select(col(groupCol), col("n_a"), col("n_b"), col("tv_bp"))
  }

  /** The dedup funnel — the stage-by-stage ablation table a dataset card
    * reports (FineWeb's "what each dedup stage removed"): per source, doc
    * and token mass surviving each SEQUENTIAL stage:
    *
    *   raw → EXACT (q20 keeper: min id per normalized-text md5)
    *       → FUZZY (MinHash band keep-min-id: a survivor drops iff some
    *         band holds a smaller surviving id — the q26 keep-min-id rule,
    *         deliberately not transitive closure; docs too short to
    *         shingle carry no near-dup evidence and keep)
    *       → PARAGRAPH (q177 block dedup over the fuzzy survivors; the
    *         stage yield is TOKEN mass, the unit sub-document dedup
    *         actually removes)
    *
    * Scale shape: each stage is an established bounded shape (fingerprint
    * shuffle, band equi-join + per-doc min, block-hash shuffle), applied
    * to the previous stage's survivor frame; the rollup is one map-side-
    * combined aggregation per stage on the bounded source key, stitched
    * with broadcast left joins.
    *
    * `qualityCol` (round-14 verdict task #6) switches the FUZZY stage to
    * the keeper rule a real curation run ships ([[graft.ext.Similarity
    * .semDeDupKeepBest]]'s q169 convention, FineWeb practice): per band
    * the keeper is the member with the greatest (quality, −id) — best
    * quality, smallest id on an exact tie — and a doc drops iff some band
    * holds a strictly better member. CONSTANT quality degenerates to the
    * default keep-band-min verdict-for-verdict (the ExtSpec law), and a
    * NULL quality ranks strictly worst (coalesced below every real score
    * — the q169 ADVICE lesson applied from the start). The EXACT stage
    * applies the same (quality, −id) keeper (ADVICE r15: qualityCol is an
    * arbitrary user column, so exact twins — identical text — may still
    * carry different quality values, e.g. a source-level prior; keep-min-id
    * there could discard the best-quality twin before the fuzzy rule ever
    * ran). For TEXT-DERIVED quality (identical across exact twins, q186's
    * token count included) the keeper ties and degenerates to keep-min-id
    * exactly, so the oracle and the constant-quality law are unchanged.
    * The paragraph stage stays keeper-insensitive by construction (a
    * block's SURVIVAL does not depend on which twin keeps it). */
  def dedupFunnel(docs: DataFrame, sourceCol: String, idCol: String,
                  textCol: String, blockWords: Int = 20,
                  qualityCol: Option[String] = None): DataFrame = {
    val base = docs.select(col(sourceCol) +: col(idCol).as("doc_id") +:
      col(textCol).as("_text") +:
      TextOps.fingerprintMd5(col(textCol)).as("_fp") +:
      size(TextOps.tokens(col(textCol))).cast("long").as("_toks") +:
      qualityCol.toSeq.map(q =>
        coalesce(col(q).cast("double"),
          lit(Double.NegativeInfinity)).as("_q")): _*)
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy(col("_fp"))
    // each survivor frame feeds THREE consumers (its rollup + the next
    // stage's two branches); checkpoint per the multi-consumer convention
    // so the fingerprint window / band join run once, not once per branch.
    // With a qualityCol the exact keeper is max(quality, −id) per
    // fingerprint (see the scaladoc: arbitrary quality may differ across
    // exact twins; text-derived quality ties and this IS keep-min-id)
    val exactKeeper = qualityCol match {
      case None    => struct((-col("doc_id")).as("nid"))
      case Some(_) => struct(col("_q").as("q"), (-col("doc_id")).as("nid"))
    }
    val exact = checkpointStripped(
      base.withColumn("_kbest", max(exactKeeper).over(wFp))
        .filter(exactKeeper === col("_kbest")).drop("_kbest"))
    val sig = minhashSignature(
      exact.select(col("doc_id"), col("_text")), "doc_id", "_text")
    val bands = bandKeys(sig, "doc_id", numHashes = 8, bands = 2)
    val dropFuzzy = qualityCol match {
      case None =>
        val bandMin = bands.groupBy(col("band")).agg(min(col("doc_id")).as("_bmin"))
        bands.join(bandMin, Seq("band"))
          .groupBy(col("doc_id")).agg(min(col("_bmin")).as("_best"))
          .filter(col("_best") < col("doc_id"))
          .select(col("doc_id"))
      case Some(_) =>
        // keep-best: quality rides in via one doc_id-keyed hash join (the
        // q169 convention: no extra corpus pass), keeper = lexicographic
        // max of (quality, −id) per band, loser = any member some band
        // strictly dominates
        def rank(q: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column) =
          struct(q.as("q"), (-id).as("nid"))
        val qb = bands.join(exact.select(col("doc_id"), col("_q")), Seq("doc_id"))
        val bandBest = qb.groupBy(col("band"))
          .agg(max(rank(col("_q"), col("doc_id"))).as("_bb"))
        qb.join(bandBest, Seq("band"))
          .groupBy(col("doc_id"), col("_q"))
          .agg(max(col("_bb")).as("_best"))
          .filter(col("_best") > rank(col("_q"), col("doc_id")))
          .select(col("doc_id"))
    }
    val fuzzy = checkpointStripped(
      exact.join(dropFuzzy.withColumn("_drop", lit(1)),
          Seq("doc_id"), "left")
        .filter(col("_drop").isNull).drop("_drop"))
    val blocks = wordBlocks(fuzzy.select(col("doc_id"), col("_text")),
        "doc_id", "_text", blockWords)
      .withColumn("_h", md5(col("block").cast("binary")))
    val keep = blocks.groupBy(col("_h"))
      .agg(min(struct(col("doc_id"), col("bi"))).as("_k"))
    val paraToks = blocks.join(keep, Seq("_h"))
      .withColumn("_kept", col("_k.doc_id") === col("doc_id") &&
        col("_k.bi") === col("bi"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("_kept"),
        size(split(col("block"), " ")).cast("long")).otherwise(0L))
        .as("_ktoks"))
    def roll(df: DataFrame, docsAs: String, toksAs: String) =
      df.groupBy(col(sourceCol)).agg(count(lit(1)).as(docsAs),
        sum(col("_toks")).as(toksAs))
    val para = fuzzy.join(paraToks, Seq("doc_id"))
      .groupBy(col(sourceCol)).agg(sum(col("_ktoks")).as("tokens_para"))
    roll(base, "n_raw_docs", "tokens_raw")
      .join(broadcast(roll(exact, "n_exact_docs", "tokens_exact")),
        Seq(sourceCol), "left")
      .join(broadcast(roll(fuzzy, "n_fuzzy_docs", "tokens_fuzzy")),
        Seq(sourceCol), "left")
      .join(broadcast(para), Seq(sourceCol), "left")
      .na.fill(0L, Seq("n_exact_docs", "tokens_exact", "n_fuzzy_docs",
        "tokens_fuzzy", "tokens_para"))
      .withColumn("doc_yield_bp",
        expr("10000 * n_fuzzy_docs div greatest(n_raw_docs, 1)").cast("long"))
      .withColumn("token_yield_bp",
        expr("10000 * tokens_para div greatest(tokens_raw, 1)").cast("long"))
  }

  /** Train/eval split-leakage audit — the release-hygiene check a benchmark
    * or eval split needs before shipping (The Pile / FineWeb practice:
    * near-duplicates of eval documents inside the training split inflate
    * scores): per EVAL document, the LSH-candidate training documents and
    * how many verify as true near-dups at an exact rational Jaccard
    * threshold.
    *
    * Two tiers, both established shapes: candidates from the cross-corpus
    * MinHash band equi-join ([[crossCorpusCandidates]] — never all-pairs),
    * then EXACT distinct-shingle verification on the candidate set only,
    * with the accept test as integer cross-multiplication
    * (tDen·shared ≥ tNum·(na+nb−shared), the [[prefixJaccardJoin]]
    * convention — no float compare anywhere) and similarity reported in
    * exact basis points. Candidates with ZERO shared shingles stay in the
    * report (left join) — a banding false positive is itself information.
    *
    * Scale note: the distinct-shingle frame is consumed three times
    * (per-doc counts + both join sides); each pass is the map-side
    * codegen shingle kernel, so this trades two extra corpus scans for
    * not materializing a corpus×shingles frame — at cluster scale a
    * caller auditing MANY splits over one corpus should pre-materialize
    * [[explodedShingles]] once and inline this composition. */
  def splitLeakageAudit(docs: DataFrame, idCol: String, textCol: String,
                        isTestCol: String, shingleN: Int = 3,
                        numHashes: Int = 8, bands: Int = 2,
                        tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(tNum >= 0 && tDen >= 1, s"bad threshold $tNum/$tDen")
    // the candidate frame feeds BOTH the shared-shingle count and the
    // final left join, but deliberately WITHOUT a checkpoint: the two
    // consumer subtrees are canonically IDENTICAL, so ReuseExchange
    // computes the signature + band join once (and if reuse ever
    // declines, a recompute is merely slower, never wrong — minhash is
    // deterministic). An A/B probe showed no wall/cpu win for a
    // checkpoint here (cold-probe cpu is JIT-dominated either way; the
    // warm full-run record sits at 2.4 cpu-s). Contrast dedupFunnel,
    // whose stage consumers DIVERGE (different filters/windows), defeat
    // reuse, and genuinely need the materialization (8.07 → 2.83 s at
    // sf1 when it was added).
    val cand = crossCorpusCandidates(
      minhashSignature(docs.filter(col(isTestCol)), idCol, textCol),
      minhashSignature(docs.filter(!col(isTestCol)), idCol, textCol),
      idCol, numHashes, bands)
    val sh = explodedShingles(docs, idCol, textCol, shingleN)
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val shared = cand
      .join(sh.select(col(idCol).as("new_id"), col("sg")), "new_id")
      .join(sh.select(col(idCol).as("ref_id"), col("sg")), Seq("ref_id", "sg"))
      .groupBy(col("new_id"), col("ref_id"))
      .agg(count(lit(1)).as("shared"))
    cand.join(shared, Seq("new_id", "ref_id"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .join(counts.select(col(idCol).as("new_id"), col("n").as("na")), "new_id")
      .join(counts.select(col(idCol).as("ref_id"), col("n").as("nb")), "ref_id")
      .withColumn("jac_bp",
        expr("10000 * shared div (na + nb - shared)").cast("long"))
      .withColumn("_leak", lit(tDen) * col("shared") >=
        lit(tNum) * (col("na") + col("nb") - col("shared")))
      .groupBy(col("new_id").as("doc_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("_leak"), 1L).otherwise(0L)).as("n_leaks"),
        max(col("jac_bp")).as("max_jac_bp"))
  }

  /** 16-bit SimHash over whitespace tokens: per bit b, sum ±1 weighted by bit
    * b of hash16(token); bit set iff the sum is positive. Two map-side-combined
    * aggregations — no all-pairs stage. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .select(col(idCol), TextOps.hash16(col("tok")).as("h"))
    val sums = (0 until 16).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val sig = (0 until 16).map { b =>
      when(col(s"s$b") > 0, 1 << b).otherwise(0)
    }.reduce(_ + _)
    toks.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
      .select(col(idCol), sig.as("simhash"))
  }

  /** Hamming near-dup join over a 63-bit fingerprint column (the consumer
    * of [[graft.functions.TextDHash]] / [[Multimodal.imageDHash]] — and of
    * any simhash-family signature): pairs within Hamming distance
    * `maxDist`, found by a BANDED equi-join, never all pairs.
    *
    * Recall is GUARANTEED, not probabilistic: the hash splits into 4
    * disjoint bands (16+16+16+15 bits), and a pair differing in ≤ 3 bits
    * cannot touch all 4 bands (pigeonhole), so it collides on at least
    * one band key — the banding loses nothing at `maxDist` ≤ 3, which the
    * signature enforces by contract (the multi-index scheme of
    * Manku/Jain/Sarma, WWW '07 simhash dedup: d+1 bands catch ≤ d bits).
    *
    * Scale shape: one explode to 4 rows per doc, one (band, value)
    * equi-join (AQE-skew-safe, never cartesian), DISTINCT over the
    * bounded candidate set, then the exact bit_count(XOR) verify — all
    * integer arithmetic, so the oracle replays bit-for-bit. */
  /** The (id, hash) projection [[hammingNearDup]] checkpoints before its
    * self-join — exposed so PlanShapeSpec can pin the fused-kernel scan
    * stage the checkpoint hides from the outer plan. */
  private[graft] def hammingHashFrame(df: DataFrame, idCol: String,
                                      hashCol: String): DataFrame =
    df.select(col(idCol).as("_id"), col(hashCol).cast("long").as("_dh"))

  def hammingNearDup(df: DataFrame, idCol: String, hashCol: String,
                     maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"4-band pigeonhole guarantees recall only to 3, got $maxDist")
    // materialize the (id, hash) projection before the self-join: hashCol
    // is typically a kernel over the full document text (TextDHash /
    // imageDHash), and both join sides must read the computed rows, not
    // re-run the kernel (the cosinePairs multi-consumer convention)
    val h = checkpointStripped(hammingHashFrame(df, idCol, hashCol))
    val banded = h
      .select(col("_id"), col("_dh"),
        explode(array((0 until 4).map(lit(_)): _*)).as("b"))
      .withColumn("bv", expr(
        "CASE WHEN b < 3 THEN (_dh >> (16 * b)) & 65535 ELSE _dh >> 48 END"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x._id") < col("y._id"))
      .select(col("x._id").as("id_a"), col("y._id").as("id_b"),
        col("x._dh").as("_ha"), col("y._dh").as("_hb"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("_ha").bitwiseXOR(col("_hb"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact-duplicate groups by md5 fingerprint of normalized text: fingerprint,
    * group size, and the representative (minimum) id kept. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Corpus-level paragraph dedup — the CCNet/C4 shard-dedup semantics
    * (Wenzek '20 §3.1 dedups paragraph hashes across the whole shard;
    * C4 drops any repeated three-sentence span) at sub-document
    * granularity: documents split into consecutive `blockWords`-word
    * blocks (the pseudo-paragraph unit when the corpus carries no line
    * structure; trailing partial blocks participate, as CCNet hashes raw
    * paragraphs of any length), every block occurrence beyond the global
    * FIRST (lowest (doc, position)) removed, and the doc reassembled from
    * its kept blocks. Output per doc: block/removal counts and the md5 of
    * the kept text (the q120 rewrite-family convention).
    *
    * Scale shape: blocks form map-side (array slicing inside codegen — no
    * per-word explode); ONE corpus-scale shuffle on the block hash whose
    * aggregate keeps min(struct(doc, position)) — map-side partial
    * combine collapses hot boilerplate hashes BEFORE the exchange, which
    * is exactly the skew this operator hunts (a window-ranked keeper
    * would sort the hot key in one task) — then an equi-join back on the
    * hash (AQE skew-split applies) and one doc-keyed rollup. */
  /** (doc_id, bi, block): consecutive `w`-word blocks per doc, formed
    * map-side by list slicing (trailing partials included) — the shared
    * pseudo-paragraph builder of [[paragraphDedup]], the code-switch
    * audit and the dedup funnel. */
  private[graft] def wordBlocks(docs: DataFrame, idCol: String,
                                textCol: String, w: Int): DataFrame = {
    require(w >= 1, s"blockWords must be >= 1, got $w")
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_ws"))
      .withColumn("_nb", expr(s"(size(_ws) + ${w - 1}) div $w"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, int(_nb) - 1), i -> " +
          s"array_join(slice(_ws, i * $w + 1, $w), ' '))"))
        .as(Seq("bi", "block")))
  }

  /** Per-doc rollup of a (doc_id, bi, block, _kept) marked-block frame —
    * shared by the batch [[paragraphDedup]] and its streaming twin so the
    * two reports can never drift. */
  private[graft] def rollupParagraphBlocks(marked: DataFrame): DataFrame =
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("_kept"), 0L).otherwise(1L)).as("n_removed"),
        md5(array_join(transform(array_sort(collect_list(
            when(col("_kept"), struct(col("bi"), col("block"))))),
          x => x.getField("block")), " ").cast("binary")).as("kept_fp"))

  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     blockWords: Int): DataFrame = {
    val blocks = wordBlocks(docs, idCol, textCol, blockWords)
      .withColumn("_h", md5(col("block").cast("binary")))
    val keep = blocks.groupBy(col("_h"))
      .agg(min(struct(col("doc_id"), col("bi"))).as("_k"))
    rollupParagraphBlocks(blocks.join(keep, Seq("_h"))
      .withColumn("_kept", col("_k.doc_id") === col("doc_id") &&
        col("_k.bi") === col("bi")))
  }

  /** Deduplicated token-yield report — the dataset-card number every
    * released corpus states (how much actually survives exact dedup, and
    * where): per source domain, document/token totals next to the counts
    * surviving GLOBAL exact dedup (keeper = lowest doc id per normalized-
    * text fingerprint, credited to the keeper's source — cross-source
    * duplication therefore shows up as yield moving between domains), with
    * duplication rate and token yield in exact basis points.
    *
    * Scale shape: ONE corpus-scale shuffle on the 16-byte md5 fingerprint
    * (the [[exactDupGroups]] q20 shape) whose aggregate keeps the keeper
    * row as min(struct(id, source, tokens)) — lexicographic struct order
    * makes it the min-id doc with its payload, NO join back to the corpus
    * — and one map-side-combined rollup per side on the bounded source
    * key. */
  def dedupYield(docs: DataFrame, groupCol: String, idCol: String,
                 textCol: String): DataFrame = {
    val base = docs.select(col(groupCol), col(idCol),
      TextOps.fingerprintMd5(col(textCol)).as("_fp"),
      size(TextOps.tokens(col(textCol))).cast("long").as("_toks"))
    val all = base.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("_toks")).as("n_tokens"))
    val kept = base.groupBy(col("_fp"))
      .agg(min(struct(col(idCol), col(groupCol), col("_toks"))).as("_k"))
      .select(col(s"_k.$groupCol").as(groupCol), col("_k._toks").as("_toks"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("kept_docs"), sum(col("_toks")).as("kept_tokens"))
    // LEFT join: a source whose every doc lost to another source's keeper
    // has no kept row at all — it must still report, at zero yield
    all.join(broadcast(kept), Seq(groupCol), "left")
      .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
      .withColumn("kept_tokens", coalesce(col("kept_tokens"), lit(0L)))
      .withColumn("dup_doc_bp", expr(
        "(n_docs - kept_docs) * 10000 div greatest(n_docs, 1)").cast("bigint"))
      .withColumn("token_yield_bp", expr(
        "kept_tokens * 10000 div greatest(n_tokens, 1)").cast("bigint"))
  }

  /** All-pairs n-gram Jaccard similarity over ids < maxId (bounded — at scale
    * this runs on LSH candidates only), thresholded. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, maxId: Long = 350L,
                   threshold: Double = 0.8): DataFrame = {
    val sub = df.filter(col(idCol) < maxId)
    val s = explodedShingles(sub, idCol, textCol, shingleN)
    val counts = s.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val shared = s.as("a").join(s.as("b"),
        col("a.sg") === col("b.sg") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val j = shared
      .join(counts.select(col(idCol).as("doc_a"), col("n").as("na")), "doc_a")
      .join(counts.select(col(idCol).as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")).cast("double"))
    j.filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("na"), col("nb"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering (the
    * AllPairs/PPJoin family, Bayardo et al. WWW'07 / Xiao et al. WWW'08) —
    * the scale path for exact-threshold set-similarity: unlike MinHash/LSH
    * banding ([[lshBandPairs]]) it has ZERO false negatives, and unlike the
    * brute shingle self-join ([[jaccardPairs]], which must stay id-bounded)
    * its candidate join only explodes each document's PREFIX under a global
    * rarest-first token order: two sets with Jaccard ≥ t must share a token
    * in each other's first `n − ⌈t·n⌉ + 1` rarest tokens, so common
    * boilerplate shingles (the skew killers of the naive join) sort LAST
    * and never generate candidates.
    *
    * The threshold is the RATIONAL tNum/tDen and every pruning/acceptance
    * test is integer cross-multiplication — no float ceil/compare anywhere,
    * so DuckDB replays the construction bit-exactly:
    *   prefix length  L = n − ⌈tNum·n/tDen⌉ + 1   (integer ceil-div)
    *   length filter  tDen·min(na,nb) ≥ tNum·max(na,nb)
    *   accept         tDen·shared ≥ tNum·(na+nb−shared)
    *
    * Scale shape: shingle freq = one map-side-combined agg; per-doc ordered
    * token array = one shuffle-on-token join + one groupBy-doc collect
    * (sort_array is map-side); candidates = equi-join on prefix tokens +
    * DISTINCT (both shuffle-on-key, no window, no broadcast of anything
    * unbounded); verify = two joins pulling the pre-sorted arrays +
    * map-side array_intersect. Every stage is keyed shuffle or map-only —
    * no driver collects, nothing quadratic outside Σ|candidates|. */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, tNum: Int = 4, tDen: Int = 5): DataFrame = {
    val s = explodedShingles(df, idCol, textCol, shingleN)
    // global rarest-first order: (freq asc, token asc) — deterministic and
    // identical in both engines (plain string collation on hex-free tokens)
    val freq = s.groupBy(col("sg")).agg(count(lit(1)).as("_f"))
    val ordered = s.join(freq, "sg")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_f"), col("sg")))).as("_ts"))
      .select(col(idCol), transform(col("_ts"), t => t.getField("sg")).as("toks"),
        size(col("_ts")).as("n"))
      // L = n − ceil(tNum·n/tDen) + 1, all integer: ceil(a/b) = (a+b−1) div b
      .withColumn("_L",
        expr(s"n - (($tNum * n + ${tDen - 1}) div $tDen) + 1"))
    val prefixes = ordered.select(col(idCol), col("n"),
      explode(slice(col("toks"), lit(1), col("_L"))).as("sg"))
    val cand = prefixes.as("a").join(prefixes.as("b"),
        col("a.sg") === col("b.sg") && col(s"a.$idCol") < col(s"b.$idCol") &&
          // length filter: J ≥ t forces t·max(na,nb) ≤ min(na,nb)
          lit(tDen) * least(col("a.n"), col("b.n")) >=
            lit(tNum) * greatest(col("a.n"), col("b.n")))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
    cand
      .join(ordered.select(col(idCol).as("doc_a"), col("toks").as("_ta"),
        col("n").as("na")), "doc_a")
      .join(ordered.select(col(idCol).as("doc_b"), col("toks").as("_tb"),
        col("n").as("nb")), "doc_b")
      .withColumn("shared",
        size(array_intersect(col("_ta"), col("_tb"))).cast("long"))
      .filter(lit(tDen) * col("shared") >=
        lit(tNum) * (col("na") + col("nb") - col("shared")))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        round(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"), 4).as("jaccard"))
  }

  /** EXACT set-CONTAINMENT join (asymmetric Jaccard): ordered pairs
    * (doc_in, doc_out) with C(in, out) = |S_in ∩ S_out| / |S_in| ≥
    * tNum/tDen over distinct word shingles — the doc-inside-doc duplication
    * detector (quotation, boilerplate wrapping, near-subset re-posts) that
    * SYMMETRIC Jaccard ([[prefixJaccardJoin]]) structurally misses: a small
    * document fully quoted inside a large one has J ≈ n_in/n_out → 0 but
    * containment 1. The set-containment-join literature calls this the
    * PRETTI/prefix family; both filters below keep ZERO false negatives.
    *
    * Candidate generation joins the CONTAINED side's rarest-first prefix
    * (length n_in − ⌈t·n_in⌉ + 1 — pigeonhole: C ≥ t forces an
    * intersection token into the prefix) against the container side's FULL
    * posting lists, pruned by two integer tests:
    *   length filter      tDen·n_out ≥ tNum·n_in   (|∩| ≤ n_out)
    *   positional filter  j ≤ n_out − ⌈t·n_in⌉ + 1 — the globally-RAREST
    *     intersection token must sit within the container's first
    *     n_out − m + 1 positions (m = ⌈t·n_in⌉ of the m-sized intersection
    *     can't all hide in the last m − 1 slots), and that token is itself
    *     a generator, so dropping deep-position matches loses no pair.
    * Everything is integer cross-multiplication (⌈a/b⌉ = (a+b−1) div b);
    * the output ratio is integer basis points ((10000·shared) div n_in) so
    * no float rounding crosses the engine boundary anywhere.
    *
    * Scale shape: same keyed-shuffle tiers as [[prefixJaccardJoin]] — freq
    * agg, one groupBy-doc sorted-array build, candidate equi-join on the
    * (rare) prefix tokens + DISTINCT, verify via two array joins +
    * map-side array_intersect. The container side ships full posting lists
    * but only meets PREFIX tokens of contained docs: rarest-first ordering
    * keeps the hot boilerplate shingles out of every probe. */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, tNum: Int = 9, tDen: Int = 10): DataFrame = {
    val s = explodedShingles(df, idCol, textCol, shingleN)
    val freq = s.groupBy(col("sg")).agg(count(lit(1)).as("_f"))
    val ordered = s.join(freq, "sg")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_f"), col("sg")))).as("_ts"))
      .select(col(idCol), transform(col("_ts"), t => t.getField("sg")).as("toks"),
        size(col("_ts")).as("n"))
    val prefixes = ordered
      .withColumn("_L", expr(s"n - (($tNum * n + ${tDen - 1}) div $tDen) + 1"))
      .select(col(idCol), col("n"),
        explode(slice(col("toks"), lit(1), col("_L"))).as("sg"))
    val full = ordered
      .select(col(idCol), col("n"), posexplode(col("toks")).as(Seq("_j0", "sg")))
      .withColumn("_j", col("_j0") + 1).drop("_j0")
    val cand = prefixes.as("a").join(full.as("b"),
        col("a.sg") === col("b.sg") && col(s"a.$idCol") =!= col(s"b.$idCol") &&
          lit(tDen) * col("b.n") >= lit(tNum) * col("a.n") &&
          col("b._j") <= col("b.n") -
            expr(s"($tNum * a.n + ${tDen - 1}) div $tDen") + 1)
      .select(col(s"a.$idCol").as("doc_in"), col(s"b.$idCol").as("doc_out"))
      .distinct()
    cand
      .join(ordered.select(col(idCol).as("doc_in"), col("toks").as("_ta"),
        col("n").as("na")), "doc_in")
      .join(ordered.select(col(idCol).as("doc_out"), col("toks").as("_tb"),
        col("n").as("nb")), "doc_out")
      .withColumn("shared",
        size(array_intersect(col("_ta"), col("_tb"))).cast("long"))
      .filter(lit(tDen) * col("shared") >= lit(tNum) * col("na"))
      .select(col("doc_in"), col("doc_out"), col("shared"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
        expr("(10000 * shared) div na").as("containment_bp"))
  }

  /** LSH parameter evaluation: precision/recall of a CANDIDATE pair set
    * against a ground-truth pair set (both canonical `a < b` pairs on the
    * same id universe — here, exact Jaccard on the bounded audit slice).
    * This is the tuning loop every production dedup pipeline runs before
    * committing band/row parameters: recall tells you what the bands MISS,
    * precision what the verify stage must pay to filter.
    *
    * Returns one row: (n_candidates, n_truth, n_hits, precision, recall) —
    * each ratio ONE double division of two exact counts.
    *
    * Scale shape: one equi-join of two pair sets (both O(candidates), never
    * O(corpus²) — truth comes from a bounded audit sample), three 1-row
    * aggregates combined by broadcast cross join. */
  /** Set-cosine (Ochiai) similarity join over shingle sets — the third
    * member of the exact similarity-measure triad ([[prefixJaccardJoin]] =
    * Jaccard, [[containmentJoin]] = containment, this = cosine
    * |A∩B| / √(|A|·|B|), the measure that stays meaningful when the two
    * documents' sizes differ widely — Jaccard collapses on size ratio,
    * containment is asymmetric, cosine is the symmetric length-normalized
    * middle ground retrieval uses).
    *
    * Candidate tier: the classic inverted-index walk — post each doc's
    * DISTINCT shingles, equi-join postings on the shingle, count shared
    * shingles per pair. `maxDf` prunes postings of shingles appearing in
    * more than maxDf docs BEFORE the self-join (the df-cap that bounds
    * Σdf² fanout at corpus scale; boilerplate shingles contribute pair
    * volume quadratically but similarity evidence barely — the standard
    * DAAT guard). With maxDf above the corpus' true max df the join is
    * EXACT (the test-SF configuration, so the oracle replays equality,
    * not approximation).
    *
    * Arithmetic: intersection and set sizes are exact integers; the cosine
    * is one correctly-rounded sqrt per side, one multiply, one divide —
    * bit-identical in any IEEE engine, so the threshold filter agrees
    * everywhere.
    *
    * Scale shape: one shingle-keyed df aggregation, a posting equi-join on
    * the shingle key (bounded by the df cap), one pair aggregation, two
    * sizes joins. No BNLJ, no cartesian. */
  /** Per-document pair cap — the OUTPUT-bound for the pair detectors
    * (r12 VERDICT #4): the posting joins are df-capped, but the PAIR SET
    * itself grows with the corpus' duplicate structure (sf1 scale table:
    * 979× more true pairs on 10× duplicate-heavy data), and every
    * downstream consumer (span rewrite, cluster build, review queues)
    * pays it. This keeps, per document, only its `k` best incident pairs
    * — a pair survives iff it is inside BOTH endpoints' top-k (score
    * desc, partner-id asc), so the bound is strict: no document emits
    * more than k pairs, total output ≤ |docs|·k/2 regardless of how
    * pathological the crawl is.
    *
    * Scale shape: the ranking is the bounded map-side [[TopK]] aggregator
    * on the doubled (doc, partner, score) view — O(docs·k) shuffle, never
    * a pair-scale window — and two semi-joins back. The pair frame feeds
    * three consumers, so the caller materializes it first
    * ([[checkpointStripped]]). `scoreCol = None` ranks by partner id
    * ascending (score-free inputs keep their lowest-id partners —
    * deterministic on any engine).
    *
    * Truncation is ACCOUNTED, not silent: [[pairCapCurve]] reports, per
    * candidate k, exactly how many pairs and documents a cap would
    * truncate (q158's oracle surface). */
  private[graft] def capPairsPerDoc(pairs: DataFrame, aCol: String, bCol: String,
                                    k: Int, scoreCol: Option[String]): DataFrame = {
    require(k >= 1, s"maxPairsPerDoc must be positive, got $k")
    // the bounded TopK aggregator's Scored.id is LONG — the id-type
    // contract every pair detector in this codebase already meets; fail
    // at plan time (with a readable message) rather than mid-aggregation
    Seq(aCol, bCol).foreach { c =>
      require(Seq("bigint", "int", "smallint", "tinyint")
        .contains(pairs.schema(c).dataType.simpleString),
        s"capPairsPerDoc needs integral ids, got " +
          s"$c: ${pairs.schema(c).dataType.simpleString}")
    }
    val p = checkpointStripped(pairs)
    def sideScore(partner: Column): Column = scoreCol match {
      case Some(s) => col(s).cast("double")
      case None    => -partner.cast("double") // partner asc == score desc
    }
    val sided = p.select(col(aCol).as("_d"), col(bCol).as("_p"),
        sideScore(col(bCol)).as("_s"))
      .unionByName(p.select(col(bCol).as("_d"), col(aCol).as("_p"),
        sideScore(col(aCol)).as("_s")))
    val keep = TopK.topKPerGroup(sided, "_d", "_p", "_s", k)
    p.join(keep.select(col("_d").as(aCol), col("_p").as(bCol)),
        Seq(aCol, bCol), "left_semi")
      .join(keep.select(col("_d").as(bCol), col("_p").as(aCol)),
        Seq(aCol, bCol), "left_semi")
  }

  /** Cap-planning curve — the truncation ACCOUNTING for
    * [[capPairsPerDoc]]: for each candidate cap k, how many pairs the
    * both-endpoints top-k rule would keep/drop and how many documents
    * would lose at least one incident pair. Run this over a measured pair
    * set BEFORE committing a cap, exactly like the LSH banding planner
    * (q142) prices a band split before committing it.
    *
    * The ranks here are a row_number window partitioned per document over
    * the doubled pair view — pair-scale, the data being audited, never
    * corpus-scale — with the same (score desc, partner asc) order as the
    * operator's TopK aggregator, so curve and cap can never disagree. */
  def pairCapCurve(pairs: DataFrame, aCol: String, bCol: String,
                   scoreCol: String, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks.distinct.size == ks.size,
      s"ks must be positive and distinct, got $ks")
    val p = checkpointStripped(
      pairs.select(col(aCol), col(bCol), col(scoreCol).cast("double").as("_s")))
    val sided = p.select(col(aCol).as("_d"), col(bCol).as("_p"), col("_s"))
      .unionByName(p.select(col(bCol).as("_d"), col(aCol).as("_p"), col("_s")))
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_d")).orderBy(col("_s").desc, col("_p").asc)
    val ranked = sided.withColumn("_r", row_number().over(W))
    val pr = checkpointStripped(p
      .join(ranked.select(col("_d").as(aCol), col("_p").as(bCol),
        col("_r").as("_ra")), Seq(aCol, bCol))
      .join(ranked.select(col("_d").as(bCol), col("_p").as(aCol),
        col("_r").as("_rb")), Seq(aCol, bCol)))
    val withK = pr.withColumn("k", explode(array(ks.map(lit(_)): _*)))
      .withColumn("_dropped",
        (col("_ra") > col("k") || col("_rb") > col("k")).cast("int"))
    val pairAgg = withK.groupBy(col("k"))
      .agg(count(lit(1)).as("pairs_total"),
        sum(when(col("_dropped") === 0, 1L).otherwise(0L)).as("pairs_kept"))
      .withColumn("pairs_dropped", col("pairs_total") - col("pairs_kept"))
    val docAgg = withK
      .select(col("k"), col("_dropped"),
        explode(array(col(aCol), col(bCol))).as("_doc"))
      .groupBy(col("k"))
      .agg(count_distinct(when(col("_dropped") === 1, col("_doc")))
        .as("docs_truncated"))
    pairAgg.join(docAgg, Seq("k"))
      .select(col("k").cast("int").as("k"), col("pairs_total"),
        col("pairs_kept"), col("pairs_dropped"), col("docs_truncated"))
  }

  def cosinePairs(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, maxDf: Int = 1000,
                  minCos: Double = 0.5,
                  maxPairsPerDoc: Option[Int] = None): DataFrame = {
    // FOUR consumers (sizes, df counts, both posting-join sides) of the
    // kernel+explode — materialize once (unlike q131's cheap bigram
    // explode, the shingle kernel re-run 4× dominates; measured 2.36 s →
    // 1.16 s at sf0.1)
    val sg = checkpointStripped(explodedShingles(df, idCol, textCol, shingleN))
    val sizes = sg.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val dfc = sg.groupBy(col("sg")).agg(count(lit(1)).as("_df"))
    val kept = sg.join(dfc.filter(col("_df") <= maxDf).select(col("sg")), "sg")
    val pairs = kept.select(col(idCol).as("_ida"), col("sg"))
      .join(kept.select(col(idCol).as("_idb"), col("sg")),
        Seq("sg"))
      .filter(col("_ida") < col("_idb"))
      .groupBy(col("_ida"), col("_idb"))
      .agg(count(lit(1)).as("inter"))
    val scored = pairs
      .join(sizes.select(col(idCol).as("_ida"), col("_n").as("n_a")), Seq("_ida"))
      .join(sizes.select(col(idCol).as("_idb"), col("_n").as("n_b")), Seq("_idb"))
      .withColumn("cos", col("inter").cast("double") /
        (sqrt(col("n_a").cast("double")) * sqrt(col("n_b").cast("double"))))
      .filter(col("cos") >= minCos)
      .select(col("_ida").as("doc_a"), col("_idb").as("doc_b"),
        col("n_a"), col("n_b"), col("inter"), col("cos"))
    maxPairsPerDoc.fold(scored)(k =>
      capPairsPerDoc(scored, "doc_a", "doc_b", k, scoreCol = Some("cos")))
  }

  def lshEval(candidates: DataFrame, truth: DataFrame,
              aCol: String, bCol: String): DataFrame = {
    val c = candidates.select(col(aCol).as("a"), col(bCol).as("b"))
    val t = truth.select(col(aCol).as("a"), col(bCol).as("b"))
    val nC = c.agg(count(lit(1)).as("n_candidates"))
    val nT = t.agg(count(lit(1)).as("n_truth"))
    val nH = c.join(t, Seq("a", "b")).agg(count(lit(1)).as("n_hits"))
    nC.crossJoin(nT).crossJoin(nH)
      .select(col("n_candidates"), col("n_truth"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_candidates").cast("double"))
          .as("precision"),
        (col("n_hits").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
  }

  /** Duplicate clusters: connected components over a near-dup pair graph
    * (the step after any pairwise detector — exact, LSH, embedding — that
    * turns pairs into keep-one-per-cluster decisions). Labels are the MIN id
    * reachable in the component, so output is fully deterministic.
    *
    * Algorithm: min-label propagation with pointer jumping (label ←
    * label(label), path compression), so a diameter-d chain converges in
    * O(log d) rounds, not d.
    *
    * Implementation drops to the RDD API, as every iterative loop in
    * [[Graph]] does, and deliberately so: an iterative fixpoint wants a
    * hash partitioner that SURVIVES ACROSS ROUNDS — edges are shuffled
    * into place once, and every round's edge⋈label and label-update joins
    * are then narrow (co-partitioned), leaving one real shuffle (the
    * per-destination min) per propagation step. The Dataset twin of this loop (kept in git
    * history) cannot express that: every round re-planned through Catalyst
    * behind an eager checkpoint (whose plan STATS must be stripped or
    * planning compounds exponentially — [[checkpointStripped]], still the
    * contract for the DF loop in [[duplicateClustersStar]]), partitioning
    * info died at each checkpoint boundary so every round re-shuffled
    * everything, and a round cost ~10 AQE stage barriers of pure driver
    * latency (~1 s/round at local[32], measured) against the RDD round's
    * four narrow stages. Iterative graph fixpoints are exactly the workload
    * Spark itself routes around the DataFrame API (GraphX/Pregel are
    * RDD-based for this reason).
    *
    * Per round (ONE driver action): two propagation sub-steps (send labels
    * over edges, min per destination, fold into each node's label — two is
    * the measured latency optimum, NOTES r7) and one pointer jump (invert
    * to (label, node), look the label's label up in the same partitioned
    * frame, fold back). Convergence rides a LongAccumulator on the round's
    * single materializing count: a round whose propagations change no label
    * is the fixpoint — at it labels are constant per component and equal to
    * the component min, so the jump is provably a no-op too and needs no
    * separate check (retried tasks can only re-add to the accumulator,
    * which cannot turn a genuine zero nonzero). Every round's labels RDD is
    * localCheckpoint-truncated at materialization, keeping lineage O(1)
    * across rounds; the previous round's blocks drop as soon as the next is
    * materialized. (On a shared cluster where executor loss matters, swap
    * for reliable `checkpoint()` — local checkpoint blocks are
    * non-replicated.)
    *
    * Scale shape: every structure in the loop is O(pairs) and partitioned;
    * the jump's label-keyed lookup concentrates a huge component's nodes on
    * its root's partition — the hub caveat shared with the DF formulation —
    * and [[duplicateClustersStar]] remains the hub-safe fallback for
    * adversarial graphs.
    *
    * Output: one row per node appearing in `pairs` — (vec_id, cluster_id,
    * cluster_size); singleton docs never enter the pair graph. */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // symmetric edge list, materialized ONCE (localCheckpoint + the sizing
    // count below) — rounds read executor-local blocks, never the detector
    val sym = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long")).as[(Long, Long)]
      .rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
    sym.localCheckpoint()
    // SIZE-ADAPTIVE loop partitioning (Graph.loopPartitioner, the r20
    // hyperBall pattern): a constant shuffle.partitions partitioner runs
    // that many near-empty task waves per round at small pair graphs —
    // profiled at q191: 3–4 stages/round × 32 tasks × ~50 ms run with ~20 ms cpu, over
    // 10+ rounds. Size from the materialized edge count (~64k rows per
    // partition, ceilinged at the session constant, so production confs
    // keep the old partitioner); the count doubles as the detector's one
    // materializing action, which round 1 previously paid anyway.
    // Matched A/B (q191/q201/q51, two steal-clean pairs): 9.27/9.32 s at
    // the constant vs 8.05/8.55 s sized — every query faster both pairs.
    val p = Graph.loopPartitioner(spark, Some(sym.count()))
    val edges = sym.partitionBy(p)
    edges.localCheckpoint()
    // start from least(own id, min neighbour) — same first hop as the DF twin
    var labels = edges.reduceByKey(p, math.min(_: Long, _: Long))
      .mapPartitions(_.map { case (v, m) => (v, math.min(v, m)) },
        preservesPartitioning = true)
    def prop(l: org.apache.spark.rdd.RDD[(Long, Long)],
             acc: org.apache.spark.util.LongAccumulator) = {
      val msgs = edges.join(l, p) // narrow: both sides already partitioned by p
        .map { case (_, (dst, lab)) => (dst, lab) }
        .reduceByKey(p, math.min(_: Long, _: Long)) // the sub-step's one real shuffle
      l.leftOuterJoin(msgs, p).mapPartitions(_.map { case (v, (old, m)) =>
        val nl = m.fold(old)(math.min(old, _))
        if (nl < old) acc.add(1L)
        (v, nl)
      }, preservesPartitioning = true)
    }
    def jump(l: org.apache.spark.rdd.RDD[(Long, Long)]) =
      l.map { case (v, lab) => (lab, v) } // one shuffle: key by label
        .join(l, p) // narrow on the right: l IS the (node → label) lookup
        .map { case (lab, (v, ll)) => (v, math.min(lab, ll)) }
        .reduceByKey(p, math.min(_: Long, _: Long)) // v unique — a no-op that restores partitioning
    var round = 0
    var changed = 1L
    var firstChanged = -1L
    while (changed > 0) {
      val acc = spark.sparkContext.longAccumulator
      // double-propagation is the latency optimum while labels are moving in
      // bulk (NOTES r7); once the per-round delta collapses to a sliver of
      // round 1's (the long-tail chains), the second sub-step's shuffle buys
      // almost no extra convergence — drop to one prop per round. The
      // fixpoint is unaffected: a round whose SINGLE prop changes nothing
      // means every symmetric edge has equal labels on both ends (min over
      // neighbours >= own label, both directions), i.e. labels are already
      // constant per component and equal to the component min.
      val tail = round >= 2 && firstChanged > 0 &&
        changed < math.max(64L, firstChanged / 8)
      val stepped = if (tail) prop(labels, acc) else prop(prop(labels, acc), acc)
      val next = jump(stepped)
      next.localCheckpoint() // truncate lineage at materialization
      next.count() // the round's ONE action; also settles the accumulator
      // round 1's action ran the shuffle that builds `edges` from `sym` and
      // cached `edges`: nothing reads `sym` again, so drop that second
      // cached copy of the edge list now (not earlier — until that shuffle
      // has run, `edges` still needs `sym`'s blocks)
      if (round == 0) sym.unpersist(blocking = false)
      changed = acc.value
      if (firstChanged < 0) firstChanged = changed
      labels.unpersist(blocking = false)
      labels = next
      round += 1
    }
    edges.unpersist(blocking = false) // labels' lineage is checkpoint-truncated
    labels.toDF("vec_id", "label")
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("label"))))
      .select(col("vec_id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the hub-safe fallback to [[duplicateClusters]]: min-label
    * propagation's per-round cost concentrates on high-degree nodes (every
    * neighbour of a hub re-sends its label each round), while the star
    * operations REWIRE the graph itself, bounding any node's degree growth
    * and converging in O(log n) rounds on adversarial (hub-heavy,
    * long-chain) pair graphs.
    *
    * Each round over the canonical (a < b) edge set:
    *  - large-star: per node u (symmetric view), attach every LARGER
    *    neighbour to m(u) = min(Γ(u) ∪ {u}) — one groupBy-min + one
    *    equi-join, both keyed on the pair set;
    *  - small-star: orient edges child(=max) → parent(=min); per child,
    *    attach every parent and itself to the minimum parent.
    * Both steps preserve components; the fixpoint is one star per
    * component centred on its minimum id. Every round materializes through
    * an eager localCheckpoint (same plan-growth contract as
    * [[duplicateClusters]]; swap for reliable `checkpoint()` on a shared
    * cluster), and convergence is an edge-set equality check (count +
    * anti-join — both over the pair graph only).
    *
    * Output schema matches [[duplicateClusters]]: (vec_id, cluster_id,
    * cluster_size), one row per node in `pairs`. */
  def duplicateClustersStar(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    var canon = checkpointStripped(pairs
      .select(least(col(aCol), col(bCol)).as("a"), greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    var done = false
    while (!done) {
      val sym = canon.select(col("a").as("u"), col("b").as("v"))
        .unionByName(canon.select(col("b").as("u"), col("a").as("v")))
      // large-star: m(u) = least(u, min neighbour); larger neighbours attach to it
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("_mv"))
        .select(col("u"), least(col("u"), col("_mv")).as("m"))
      val ls = sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .distinct()
      // small-star on the large-star output: child(=b) → min parent
      val minParent = ls.groupBy(col("b").as("u")).agg(min(col("a")).as("m"))
      val ss = ls.join(minParent, ls("b") === minParent("u"))
        .select(col("a").as("v"), col("m"))
        .filter(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
        .unionByName(minParent.select(col("m").as("a"), col("u").as("b")))
        .distinct()
      val ssCp = checkpointStripped(ss)
      // fixpoint: the canonical edge set stopped changing
      done = ssCp.count() == canon.count() &&
        ssCp.join(canon, Seq("a", "b"), "left_anti").isEmpty
      canon = ssCp
    }
    // at the fixpoint each component is a star rooted at its min id
    val labels = canon.select(col("b").as("vec_id"), col("a").as("label"))
      .unionByName(canon.select(col("a").as("vec_id"), col("a").as("label")).distinct())
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("label"))))
      .select(col("vec_id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** WINNOWED document fingerprints (Schleimer, Wilkerson & Aiken, "Winnowing:
    * local algorithms for document fingerprinting", SIGMOD 2003 — the MOSS
    * algorithm): per document, the k-gram at position p is SELECTED iff its
    * hash is the minimum of some window of `w` consecutive k-gram hashes
    * covering p. Selection depends only on local CONTENT, never on position
    * — so two documents sharing any token run of length ≥ w + k − 1 share at
    * least one selected fingerprint REGARDLESS OF ALIGNMENT (the guarantee
    * [[spanDedup]]'s fixed-boundary chunks structurally lack), while only
    * ~2/(w+1) of all grams are kept.
    *
    * The selection rule compiles to TWO window functions instead of an
    * argmin join, via a max-of-window-mins identity: with
    * m_j = min(h_j .. h_{j+w−1}), every window j covering p has m_j ≤ h_p,
    * so  ∃j: m_j = h_p  ⟺  max(m_{p−w+1} .. m_p) = h_p. Ties select every
    * achieving position (robust-winnowing superset — deterministic and
    * engine-portable where a rightmost-tie argmin is not); truncated edge
    * frames only ever select MORE, preserving the guarantee.
    *
    * Scale shape: winnowing is document-local, so the ENTIRE selection —
    * gram hashing, window minima, the max-of-mins test, per-doc dedup —
    * runs inside ONE map-side codegen kernel
    * ([[graft.functions.WinnowFingerprints]]); the operator is a scan +
    * explode with ZERO shuffles, emitting the deduped (doc, 60-bit
    * fingerprint hash) set, O(tokens·2/(w+1)) rows. The fingerprint IS the
    * hash (the exact-dedup md5-key idiom; a 2⁻⁶⁰ collision is the accepted
    * trade everywhere in this engine). The equivalent DataFrame
    * formulation (gram HOF → posexplode → two doc-keyed window functions →
    * distinct) costs two shuffles and an interpreted lambda per gram —
    * measured 3.4 s vs ~0.3 s at sf0.1; ExtSpec pins kernel ≡ that
    * formulation. Returns (idCol, fp: bigint). */
  def winnowedFingerprints(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 4, w: Int = 8): DataFrame =
    df.select(col(idCol),
      explode(graft.functions.WinnowFingerprints
        .winnowFingerprints(col(textCol), k, w)).as("fp"))

  /** Cross-document repeated-span detection over winnowed fingerprints — the
    * ExactSubstr-family dedup screen at the fingerprint tier: document pairs
    * ranked by how many selected k-grams they share, with the fingerprint-set
    * Jaccard as integer basis points.
    *
    * Scale shape: fingerprints whose document frequency exceeds `maxDf` are
    * dropped BEFORE the pair join (boilerplate grams are the quadratic
    * blowup — the same hot-key discipline as the LSH band caps and the
    * prefix filter), so per-gram join fanout is bounded at maxDf²; the join
    * itself is a gram-keyed shuffled equi-join, never all-pairs. Pairs below
    * `minShared` fingerprints are noise and cut in the aggregate. */
  /** Exact longest-shared-token-run extraction for CANDIDATE pairs — the
    * verification/extraction tier above [[winnowOverlapPairs]]'s detection
    * tier (together they are the fingerprint-then-verify shape of the
    * ExactSubstr dedup family): for each (doc_a, doc_b) pair, the length of
    * the longest CONTIGUOUS run of tokens the two documents share, plus the
    * count of matched token-position PAIRS (a token matching at several
    * positions lands on several diagonals).
    *
    * The classical DP is quadratic per pair and engine-local; this is the
    * relational formulation both engines evaluate exactly: join the two
    * documents' (position, token) rows on token, put each match on its
    * DIAGONAL d = i − j (on a diagonal, j is a function of i, so (d, i) is
    * unique), and a shared run is an ISLAND of consecutive i within a
    * diagonal — the standard gaps-and-islands trick (i − row_number() is
    * constant exactly on an island). Longest run = max island size.
    *
    * Scale shape: candidate pairs come from a DETECTOR (winnowing/LSH) so
    * the position join is per-pair bounded, never corpus²; the islands
    * window partitions on (pair, diagonal). Token positions materialize
    * once for both join sides. `pairs` must carry (doc_a, doc_b). */
  /** (position, token) rows of `docs`, 1-based — materialized once because
    * every span consumer joins it on BOTH sides. */
  private def tokenPositions(docs: DataFrame, idCol: String,
                             textCol: String): DataFrame =
    docs
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("_p0", "tok")))
      .withColumn("_p", col("_p0") + 1).drop("_p0")
      .localCheckpoint()

  /** Matched token positions of candidate pairs on their diagonals:
    * (doc_a, doc_b, i, j, _d = i − j) — the shared prefix of
    * [[sharedSpanStats]] (stats) and [[removeSharedSpans]] (rewrite). */
  private def diagonalMatches(toks: DataFrame, pairs: DataFrame,
                              idCol: String): DataFrame = {
    val a = pairs.join(toks.select(col(idCol).as("doc_a"),
      col("_p").as("i"), col("tok")), Seq("doc_a"))
    a.join(toks.select(col(idCol).as("doc_b"),
        col("_p").as("j"), col("tok")), Seq("doc_b", "tok"))
      .select(col("doc_a"), col("doc_b"), col("i"), col("j"),
        (col("i") - col("j")).as("_d"))
  }

  def sharedSpanStats(docs: DataFrame, pairs: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val toks = tokenPositions(docs, idCol, textCol)
    val m = diagonalMatches(toks, pairs, idCol)
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("_d")).orderBy(col("i"))
    m.withColumn("_isl", col("i") - row_number().over(W))
      .groupBy(col("doc_a"), col("doc_b"), col("_d"), col("_isl"))
      .agg(count(lit(1)).as("_run"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("_run")).as("n_matched_positions"),
        max(col("_run")).as("longest_shared_run"))
  }

  /** Duplicated-span REMOVAL — the rewrite tier completing the
    * detect ([[winnowOverlapPairs]]) → verify ([[sharedSpanStats]]) →
    * rewrite shape of the ExactSubstr dedup family (Lee et al., ACL '22
    * "Deduplicating Training Data Makes Language Models Better": drop
    * every long-enough duplicated substring, keep its first occurrence):
    * for each candidate pair (doc_a < doc_b), token positions of the
    * LATER document lying on a shared diagonal run of ≥ `minRun` tokens
    * are removed; a document in several pairs loses the UNION of its
    * covered positions; the earlier document always keeps its copy.
    *
    * Output: one row per rewritten document — original token count,
    * removed token count, and md5 of the surviving tokens re-joined in
    * order (the rewritten text's fingerprint; the full text rides the
    * same aggregate in a real pipeline).
    *
    * Scale shape: inherits the per-pair-bounded position join and the
    * (pair, diagonal) windows from the stats tier; the removal union is
    * one distinct on matched positions; reassembly is one per-document
    * aggregate over affected docs only (doc-length bounded). */
  def removeSharedSpans(docs: DataFrame, pairs: DataFrame, idCol: String,
                        textCol: String, minRun: Int,
                        maxPairsPerDoc: Option[Int] = None): DataFrame = {
    require(minRun >= 1, s"minRun must be positive, got $minRun")
    val toks = tokenPositions(docs, idCol, textCol)
    // optional per-doc pair cap BEFORE the position join — the join's work
    // is per-pair-quadratic in doc length, so bounding incident pairs
    // bounds each document's rewrite cost regardless of its duplicate
    // family's size. Score-free inputs (q120 passes bare id pairs) rank by
    // partner id ascending; callers wanting overlap-priority should cap
    // the scored pair set upstream ([[capPairsPerDoc]], [[pairCapCurve]]).
    val boundedPairs = maxPairsPerDoc.fold(pairs)(k =>
      capPairsPerDoc(pairs, "doc_a", "doc_b", k, scoreCol = None))
    val m = diagonalMatches(toks, boundedPairs, idCol)
    val W = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("_d")).orderBy(col("i"))
    val WRun = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"), col("_d"), col("_isl"))
    val rem = m.withColumn("_isl", col("i") - row_number().over(W))
      .withColumn("_run", count(lit(1)).over(WRun))
      .filter(col("_run") >= minRun)
      .select(col("doc_b").as(idCol), col("j").as("_p"))
      .distinct()
    val affected = rem.select(col(idCol)).distinct()
    toks.join(affected, Seq(idCol))
      .join(rem.withColumn("_hit", lit(1)), Seq(idCol, "_p"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_hit").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        md5(array_join(transform(array_sort(collect_list(
            when(col("_hit").isNull, struct(col("_p"), col("tok"))))),
          x => x.getField("tok")), " ").cast("binary")).as("kept_fp"))
  }

  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 8, maxDf: Int = 64,
                         minShared: Int = 2): DataFrame = {
    // the fingerprint set feeds THREE consumers (df-count, then both sides
    // of the pair join) — materialize once so the corpus-scale gram/window
    // subtree never re-executes (it is O(tokens·2/(w+1)) rows, tiny)
    val fp = winnowedFingerprints(df, idCol, textCol, k, w).localCheckpoint()
    val dfq = fp.groupBy(col("fp")).agg(count(lit(1)).as("_df"))
    val kept = fp.join(dfq.filter(col("_df") <= maxDf), Seq("fp"))
    val n = kept.groupBy(col(idCol)).agg(count(lit(1)).as("_nf"))
    val pairs = kept.select(col(idCol).as("doc_a"), col("fp"))
      .join(kept.select(col(idCol).as("doc_b"), col("fp")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
    pairs
      .join(n.select(col(idCol).as("doc_a"), col("_nf").as("na_fp")), Seq("doc_a"))
      .join(n.select(col(idCol).as("doc_b"), col("_nf").as("nb_fp")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared_fp"),
        col("na_fp"), col("nb_fp"),
        expr("(10000 * shared_fp) div (na_fp + nb_fp - shared_fp)").as("overlap_bp"))
  }
}
