package graft.streaming

import graft.io.ParquetSchema
import graft.ops.Merge
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface. The reference's only streaming construct
  * is a scheduled micro-batch CDC loop (schedule.every(8).minutes,
  * etl2.py:462-467) — `microBatchMerge` reproduces it on a real streaming
  * engine; the event-time operators (tumbling/sliding windows, watermarks,
  * stateful sessionization) extend the surface the way SURVEY.md §7.2(5)
  * prescribes.
  *
  * All transforms here work identically on batch and streaming frames
  * (same Catalyst plans); watermarking only binds on streaming input.
  */
object EventStreams {

  /** Tumbling event-time window aggregation with a watermark bounding
    * state: counts + value sum per (window, event_type). Late rows beyond
    * `lateness` are dropped instead of growing state forever — the
    * scale-critical difference from a naive groupBy.
    */
  def hourlyCounts(events: DataFrame, tsCol: String = "ts",
                   lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))

  /** Streaming exact dedup by content hash with BOUNDED state: documents
    * whose hash was already seen within the watermark horizon are
    * dropped; hashes older than the horizon are evicted from state. This
    * is the only exact dedup an unbounded ingest stream can afford —
    * state is O(throughput × lateness), not O(corpus) — and it composes
    * with the batch `Dedup.exactDuplicateGroups` run over the stored
    * output for the full-corpus pass. The shuffle key is the 256-bit
    * hash, never document bytes.
    */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
                  lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash",
        graft.ext.Dedup.contentHash(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-stream interval join: each left row matches right rows with
    * the same key whose event time falls in
    * `[leftTime - lookback, leftTime]` — attribution / enrichment between
    * two live streams (purchase ← clicks in the last half hour).
    *
    * Both sides carry watermarks and the join condition bounds event time
    * in BOTH directions, which is what lets Spark evict buffered rows:
    * state per side is O(throughput × (watermark + lookback)), never
    * unbounded. Without the time bounds a stream-stream join must keep
    * every row forever — the difference between a service and a memory
    * leak. Column names must be disjoint across the two inputs (standard
    * stream-stream join constraint); the same plan joins two batch frames
    * identically, which is how the spec pins semantics.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTime: String, rightTime: String,
                   lookback: String,
                   leftLateness: String = "1 hour",
                   rightLateness: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTime, leftLateness)
    val r = right.withWatermark(rightTime, rightLateness)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $lookback") &&
        col(rightTime) <= col(leftTime),
      joinType)
  }

  /** Streaming benchmark decontamination: flag documents on an ingest
    * stream whose n-gram shingles overlap a STATIC held-out bench corpus
    * — so contaminated documents are caught at ingest time, not in a
    * later batch sweep.
    *
    * Shape: stream-static inner equi-join on the shingle key (stateless —
    * Structured Streaming re-plans the static side per micro-batch, no
    * stream state at all) followed by a per-document count aggregate.
    * The aggregate makes the sink run in update/complete mode; for an
    * append-only pipeline, run the join part alone and dedup downstream.
    * Semantics per micro-batch match the batch operator
    * [[graft.ext.Dedup.contaminationHits]] exactly (spec-pinned).
    */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, shingleN: Int = 8): DataFrame =
    // the batch operator's plan IS streaming-compatible (stateless
    // stream-static join + aggregate) — one definition, zero drift
    graft.ext.Dedup.contaminationHits(docs, idCol, textCol, bench, shingleN)

  /** Continuous-ingest near-duplicate probe: each micro-batch of
    * documents is checked against a PERSISTED MinHash index
    * ([[graft.ext.Dedup.writeMinhashIndex]]) and the verified pairs are
    * handed to `onBatch`. `foreachBatch` reuses the batch operator
    * VERBATIM (the probe's bucket-cap window cannot run inside a
    * streaming plan, and this way streaming and batch semantics cannot
    * drift — the [[MicroBatchMerge]] rationale). Results are per-document
    * against a static corpus, so the union of per-batch outputs equals
    * one batch probe over everything streamed (spec-pinned).
    *
    * Corpus growth belongs to the caller's `onBatch`: after sinking the
    * flagged pairs, append the batch's novel docs with
    * [[graft.ext.Dedup.appendToMinhashIndex]] so the NEXT cycle also
    * near-dup-checks against them — the near-dup analog of the
    * exact-dedup ingest loop (`dedupAgainstCorpus` + append).
    */
  /** Continuous maintenance of the shard distinct-sketch index
    * ([[graft.ext.Sketches]]): each micro-batch appends its O(shards)
    * KB-sized sketch rows — the corpus is scanned exactly once, at
    * ingest — and readers answer distinct-count questions from the index
    * alone, any time, with per-shard union at read. HLL union is
    * lossless, so the streamed index answers IDENTICALLY to a one-shot
    * sketch of everything ingested (spec-pinned), which is what makes
    * the 8-minute-cadence loop safe to run forever: accumulated rows per
    * shard grow by one per batch and compact away with any parquet
    * rewrite of the index.
    */
  def distinctSketchStream(docs: DataFrame, keyCol: String, shardCol: String,
                           indexPath: String,
                           lgK: Int = graft.ext.Sketches.DefaultLgK)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.Sketches.appendDistinctSketches(batch, keyCol, shardCol,
          indexPath, lgK)
      }
      .start()

  /** Continuous maintenance of the count-min frequency index — the
    * frequency twin of [[distinctSketchStream]]. CMS merge is counter
    * addition, so the streamed index's merged probe equals a one-shot
    * sketch of everything ingested BIT FOR BIT (spec-pinned), not just
    * estimate-equal.
    */
  def cmsSketchStream(docs: DataFrame, keyCol: String, shardCol: String,
                      indexPath: String, eps: Double = 0.001,
                      conf: Double = 0.999, seed: Int = 42)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.Sketches.appendCmsSketches(batch, keyCol, shardCol,
          indexPath, eps, conf, seed)
      }
      .start()

  /** Continuous maintenance of the persisted robots cache
    * ([[graft.ext.RobotsCache]]) — the crawl loop's robots-refetch
    * leg: each micro-batch of (host, fetched_at_micros, robots_body)
    * fetch results parses and appends via `RobotsCache.refresh`
    * (foreachBatch reuses the batch operator verbatim, the
    * [[MicroBatchMerge]] discipline), so the TTL gate and the
    * frontier read ages/rules that MOVE as refetches land: a host
    * whose gate said `refetch_robots_first` flips to `proceed` the
    * batch after its refetch arrives (spec-pinned). The cache is
    * append-only/latest-wins, so batch splits never change the live
    * edge — the newest fetch per host wins under any batching.
    *
    * `compactEvery > 0` runs the cadence maintenance INSIDE the loop:
    * every Nth batch ends with [[graft.ext.RobotsCache.compact]]
    * (keep the last `keepFetches` fetches per host, staged rewrite),
    * so a long-running refetch loop bounds its own history instead of
    * deferring to an external scheduler. Compaction keeps exactly the
    * window `policyDelta` reads, so reads between batches are
    * unaffected (spec-pinned).
    */
  def robotsFetchStream(fetches: DataFrame, hostCol: String,
                        fetchedAtCol: String, bodyCol: String,
                        table: String, agent: String = "*",
                        compactEvery: Int = 0, keepFetches: Int = 2)
      : org.apache.spark.sql.streaming.StreamingQuery =
    fetches.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.RobotsCache.refresh(batch, hostCol, fetchedAtCol,
          bodyCol, table, agent)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          graft.ext.RobotsCache.compact(batch.sparkSession, table,
            keepFetches)
      }
      .start()

  /** Continuous query serving against a PERSISTED BM25 index
    * ([[graft.ext.Retrieval.writeBm25Index]]): each micro-batch of
    * (query_id, text) rows is scored and ranked by
    * [[graft.ext.Retrieval.bm25ProbePerQuery]] and handed to `onBatch`.
    * `foreachBatch` reuses the batch operator VERBATIM (the
    * [[MicroBatchMerge]] rationale — streaming and batch ranking
    * cannot drift). While the index is static the union of per-batch
    * outputs equals one probe of every query streamed (spec-pinned).
    * Index growth rides the caller's cadence:
    * `Retrieval.appendToBm25Index` between micro-batches is picked up
    * by the NEXT batch — the probe re-resolves the postings table per
    * batch and df/meta are scan-time/meta-bump correct by
    * construction (spec-pinned), exactly like the near-dup probe's
    * corpus append.
    */
  def bm25QueryStream(queries: DataFrame, table: String,
                      queryIdCol: String, textCol: String, k: Int)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the micro-batch runs on a CLONED session with its own
        // relation cache; the probe refreshes both tables in it
        // whenever an append or meta bump has moved their files
        onBatch(graft.ext.Retrieval.bm25ProbePerQuery(batch.sparkSession,
          table, batch, queryIdCol, textCol, k), batchId)
      }
      .start()

  /** Continuous maintenance of the persisted BM25 index — the ingest
    * twin of [[bm25QueryStream]] (the `nearDupProbeStream` +
    * `appendToMinhashIndex` pairing, completed for the lexical
    * family): each micro-batch of new documents appends via
    * `Retrieval.appendToBm25Index` — a pure bucketed postings insert
    * plus an O(batch) meta bump, with probe-time df making nothing
    * stale (see `writeBm25Index`) — so a serving stream probing the
    * same table answers over the grown corpus from its next batch.
    * Batch ids must be new to the index (the ingest loop's dedup
    * contract); `auditBm25`'s uniqueness check is the backstop.
    */
  def bm25IngestStream(docs: DataFrame, idCol: String, textCol: String,
                       table: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ext.Retrieval.appendToBm25Index(batch, idCol, textCol,
          table)
      }
      .start()

  /** Continuous crawl ingest — the q149 funnel's PER-DOCUMENT stages
    * run on each micro-batch of raw (id, html) pages, reusing the
    * batch operators verbatim: [[graft.ext.TextOps.extractMainContent]]
    * → [[graft.ext.TextOps.repairMojibake]] over the extracted text →
    * [[graft.ext.QualityModel.qualityClassifierScore]] over the
    * repaired text. All three are stateless projections, so the stream
    * is pure by construction: the union of per-batch outputs equals
    * one batch pass over everything ingested (spec-pinned). The
    * CROSS-document funnel tail (dedup, canonical pick) is the
    * caller's `onBatch` — it composes with the existing incremental
    * machinery (`nearDupProbeStream` / `appendToMinhashIndex` for
    * near-dup, exact-hash anti-join against the accumulated corpus),
    * exactly how the release pipeline's micro-batch loop works.
    */
  def crawlIngestStream(pages: DataFrame, idCol: String, htmlCol: String)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ex = graft.ext.TextOps.extractMainContent(batch, htmlCol)
          .select(org.apache.spark.sql.functions.col(idCol),
            org.apache.spark.sql.functions.col("blocks_kept"),
            org.apache.spark.sql.functions.col("text_main"))
        val rep = graft.ext.TextOps.repairMojibake(ex, "text_main")
        onBatch(graft.ext.QualityModel.qualityClassifierScore(rep,
          "text_main_fixed"), batchId)
      }
      .start()

  /** Create the (empty) accumulated crawl corpus [[crawlCorpusStream]]
    * appends into: the q149 funnel's output schema — (id, blocks_kept,
    * chars_collapsed, text_main_fixed) — stored content-bucketed
    * ([[graft.ext.Dedup.writeBucketedByContent]]) so every future
    * ingest cycle's dedup anti-join consumes the bucket layout without
    * ever exchanging the corpus.
    */
  def initCrawlCorpus(spark: org.apache.spark.sql.SparkSession,
                      idCol: String, corpusTable: String,
                      nBuckets: Int = 32): Unit = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(idCol, LongType), StructField("blocks_kept", LongType),
      StructField("chars_collapsed", LongType),
      StructField("text_main_fixed", StringType)))
    graft.ext.Dedup.writeBucketedByContent(
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row], schema),
      "text_main_fixed", corpusTable, nBuckets)
  }

  /** The FULL incremental crawl→corpus loop as one operator — the
    * cross-document tail [[crawlIngestStream]] leaves to composition,
    * composed for real: each micro-batch of raw (id, html) pages runs
    * the per-document funnel stages (extract → repair → quality gate),
    * then the surviving documents exact-dedup against the ACCUMULATED
    * persisted corpus ([[graft.ext.Dedup.dedupAgainstCorpus]] — novel
    * content only, keep-first within the batch) and the canonical
    * survivors append into the content-bucketed corpus table, which is
    * exactly what the NEXT batch dedups against. `insertInto` honors
    * the table's bucket layout, so the loop never degrades it.
    *
    * Equivalence contract (spec-pinned): when page ids arrive in
    * id order — the crawl contract, ids assigned at fetch time — the
    * accumulated corpus after any number of micro-batches equals the
    * one-shot q149 canonical set (`is_canonical` rows) over the union
    * of everything ingested: per-document stages are pure projections,
    * and first-arrival keep-first equals global min-id keep-first
    * under ordered arrival.
    *
    * Scale shape, per cycle: funnel stages are zero-shuffle
    * projections; the dedup verdict computes on a thin (id, hash)
    * projection against the bucketed corpus scan (corpus never
    * exchanged — the [[graft.ext.Dedup.dedupAgainstCorpus]] contract);
    * only batch-sized relations shuffle. Driver state: none.
    */
  def crawlCorpusStream(pages: DataFrame, idCol: String, htmlCol: String,
                        corpusTable: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions.col
        val spark = batch.sparkSession
        val ex = graft.ext.TextOps.extractMainContent(batch, htmlCol)
          .select(col(idCol), col("blocks_kept"), col("text_main"))
        val rep = graft.ext.TextOps.repairMojibake(ex, "text_main")
        val kept = graft.ext.QualityModel
          .qualityClassifierScore(rep, "text_main_fixed")
          .filter(col("kept"))
          .select(col(idCol), col("blocks_kept"), col("chars_collapsed"),
            col("text_main_fixed"))
        graft.ext.Dedup.dedupAgainstCorpus(spark, kept, idCol,
            "text_main_fixed", corpusTable)
          .write.mode("append").insertInto(corpusTable)
      }
      .start()

  /** Create the (empty) accumulated seen-URL set [[frontierStream]]
    * appends into: one `url_canon` column, stored content-bucketed on
    * the URL string itself ([[graft.ext.Dedup.writeBucketedByContent]])
    * so every discovery cycle's novelty anti-join consumes the bucket
    * layout without ever exchanging the seen set — the
    * [[initCrawlCorpus]] discipline with the canonical URL as the
    * content. */
  def initFrontierSeen(spark: org.apache.spark.sql.SparkSession,
                       seenTable: String, nBuckets: Int = 32): Unit = {
    import org.apache.spark.sql.types._
    graft.ext.Dedup.writeBucketedByContent(
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("url_canon", StringType)))),
      "url_canon", seenTable, nBuckets)
  }

  /** The incremental frontier-discovery loop — q154's streaming twin:
    * each micro-batch of fetched (id, url, html) pages
    *   1. marks its own canonical URLs seen (idempotent under
    *      re-fetch — the append dedups against the seen set first),
    *   2. harvests, resolves and canonicalizes outlinks
    *      ([[graft.ext.UrlOps.extractOutlinks]] verbatim),
    *   3. keeps targets NOT in the accumulated seen set — first
    *      discovery wins, so `found_by` is the first-arrival
    *      discoverer (≡ global min id under ordered-id arrival, the
    *      [[crawlCorpusStream]] contract),
    *   4. runs the robots verdict ([[graft.ext.UrlOps.robotsVerdict]]
    *      verbatim), and
    *   5. hands the ALLOWED novel candidates to `onBatch` for
    *      scheduling while appending ALL novel targets — allowed or
    *      blocked — to the seen set so neither resurfaces.
    *
    * The per-host budget (q154's `graft_top_k`) stays with the
    * caller's scheduling cycle: a cumulative budget over a growing
    * frontier is not the union of per-batch budgets, so the operator
    * emits the verdicted candidate set and lets each cycle rank it.
    *
    * Equivalence contract (spec-pinned): as long as no batch fetches
    * a URL a previous batch discovered (each real fetch of a
    * scheduled URL lands in the seen set BEFORE its links are
    * harvested, so re-fetches are idempotent), the union of per-batch
    * emissions equals q154's pre-budget allowed set over one batch of
    * everything fetched. The contract survives foreachBatch's
    * at-least-once RETRIES: novel targets reach the seen set only
    * AFTER `onBatch` returns, so a batch that fails before or inside
    * `onBatch` recomputes the identical novel set on replay instead
    * of finding it already consumed (spec-pinned with a
    * fail-then-retry run).
    *
    * Scale shape, per cycle: harvest is projection+explode (page
    * HTML dies there); the novelty verdict computes on thin
    * (url, hash) rows against the bucketed seen scan (seen set never
    * exchanged — the [[graft.ext.Dedup.dedupAgainstCorpus]]
    * contract); the rule table broadcasts. Driver state: none.
    */
  def frontierStream(pages: DataFrame, idCol: String, urlCol: String,
                     htmlCol: String, rules: DataFrame, seenTable: String)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    frontierStreamWith(pages, idCol, urlCol, htmlCol,
      _ => rules, seenTable)(onBatch)

  /** [[frontierStream]] against the LIVE persisted robots cache
    * ([[graft.ext.RobotsCache]]): the rule table re-resolves from the
    * cache's latest fetches at every micro-batch, so a robots refetch
    * landed between batches ([[robotsFetchStream]]) changes the very
    * next batch's verdicts — the cache, the TTL gate, and the frontier
    * form one loop over one artifact (spec-pinned). */
  def frontierStream(pages: DataFrame, idCol: String, urlCol: String,
                     htmlCol: String, robotsCacheTable: String,
                     seenTable: String)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    frontierStreamWith(pages, idCol, urlCol, htmlCol,
      spark => graft.ext.RobotsCache.latestRules(spark, robotsCacheTable),
      seenTable)(onBatch)

  private def frontierStreamWith(pages: DataFrame, idCol: String,
      urlCol: String, htmlCol: String,
      rulesFor: SparkSession => DataFrame, seenTable: String)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.{col, min}
        val spark = batch.sparkSession
        val rules = rulesFor(spark)
        val canon = graft.ext.UrlOps.withCanonicalUrl(batch, urlCol)
        // fetched first: the batch's own pages must be seen before
        // their links are judged, or self-links would re-schedule them
        graft.ext.Dedup.dedupAgainstCorpus(spark,
            canon.select(col("url_canon")).distinct(),
            "url_canon", "url_canon", seenTable)
          .select(col("url_canon"), col("content_hash"))
          .write.mode("append").insertInto(seenTable)
        val links = graft.ext.UrlOps.extractOutlinks(
            canon, idCol, htmlCol, "url_canon", urlCol)
          .filter(col("link_canon").isNotNull)
        val cand = links.groupBy(col("link_canon"), col("link_host"))
          .agg(min(col(idCol)).as("found_by"))
        // tiny, and consumed three times (seen append, verdict thin
        // side, verdict join-back) — cut the harvest here (cf. q154)
        val novel = graft.ext.Dedup.dedupAgainstCorpus(spark, cand,
          "link_canon", "link_canon", seenTable).localCheckpoint()
        // REPLAY SAFETY (foreachBatch is at-least-once): hand the
        // candidates to onBatch BEFORE appending them to the seen set.
        // A batch that fails before/inside onBatch appended nothing,
        // so its retry recomputes the SAME novel set and re-emits it —
        // candidates are never silently consumed by a failed attempt.
        // (The old order appended first: a retry then found an empty
        // novel set and the allowed candidates were lost forever.)
        // A failure BETWEEN a successful onBatch and the append
        // re-emits the same candidates on retry — at-least-once,
        // idempotent for consumers keyed on url_canon. The batch's
        // OWN-page append above is dedupAgainstCorpus-idempotent.
        onBatch(graft.ext.UrlOps.robotsVerdict(novel.drop("content_hash"),
            "link_canon", "link_canon", rules)
          .filter(col("fetch_allowed")), batchId)
        novel.select(col("link_canon").as("url_canon"), col("content_hash"))
          .write.mode("append").insertInto(seenTable)
      }
      .start()

  /** Create the three state tables [[redirectStream]] maintains:
    * `{prefix}_edges` (one (src, dst) per redirect response,
    * content-bucketed on src so each batch's novelty anti-join
    * consumes the bucket layout — the [[initFrontierSeen]]
    * discipline), `{prefix}_terminals` (every non-redirect fetched
    * URL, same layout), and `{prefix}_pending` (chains whose cursor
    * is not yet fetched — small: only in-flight chains). */
  def initRedirectState(spark: SparkSession, prefix: String,
                        nBuckets: Int = 32): Unit = {
    import org.apache.spark.sql.types._
    graft.ext.Dedup.writeBucketedByContent(
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("src", StringType),
          StructField("dst", StringType)))),
      "src", s"${prefix}_edges", nBuckets)
    graft.ext.Dedup.writeBucketedByContent(
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("url_canon", StringType)))),
      "url_canon", s"${prefix}_terminals", nBuckets)
    spark.createDataFrame(spark.sparkContext
      .emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("start_url", StringType),
        StructField("cur", StringType), StructField("hops", LongType),
        StructField("seen", ArrayType(StringType)))))
      .write.mode("overwrite").saveAsTable(s"${prefix}_pending")
  }

  /** Incremental redirect-chain resolution —
    * [[graft.ext.UrlOps.resolveRedirects]]'s streaming twin, and the
    * cross-batch capability the one-shot cannot give: a chain whose
    * hops are FETCHED IN DIFFERENT MICRO-BATCHES (A answers 301→B
    * today, B is fetched tomorrow) resolves the moment its last hop
    * arrives, in either arrival order. Each batch of (url, status,
    * location) fetch responses:
    *   1. projects its redirect EDGES and its TERMINAL fetches (a
    *      non-redirect answer fixes that URL's disposition forever —
    *      the fetched-once crawl contract makes both monotone);
    *   2. opens one chain per new redirect response and advances it —
    *      together with every PENDING chain — through the accumulated
    *      edge set via [[graft.ext.UrlOps.redirectAdvance]], the SAME
    *      fold the batch operator iterates (one definition, so
    *      stream ≡ batch is structural, the `assignAndFold`
    *      discipline);
    *   3. emits chains that closed — `loop` (visited-set hit), `cap`
    *      (still redirecting at maxHops), `resolved` (cursor is a
    *      fetched terminal) — and keeps chains whose cursor is simply
    *      not fetched yet as pending.
    *
    * Equivalence contract (spec-pinned): after any number of batches,
    * the union of emissions plus [[redirectFlush]] (end-of-input:
    * still-unfetched cursors are the batch operator's dangling
    * `resolved` class) equals `resolveRedirects` over the union of
    * all batches — in any arrival order of a chain's hops.
    *
    * Replay safety (foreachBatch is at-least-once): emissions derive
    * from the PRIOR pending table plus append-idempotent edge/terminal
    * sets, and `onBatch` runs before any state write — a failed
    * attempt re-derives the identical emission set on retry; the
    * pending overwrite is last. Consumers key on `start_url`.
    *
    * Scale shape, per cycle: edges and terminals are thin string
    * relations behind bucketed novelty anti-joins (never exchanged —
    * the [[graft.ext.Dedup.dedupAgainstCorpus]] contract); the
    * advance rounds join the batch-plus-pending chain state (small:
    * in-flight chains only) against the edge scan on the uniform
    * canonical-URL key; no window, no driver state. */
  def redirectStream(responses: DataFrame, urlCol: String,
      statusCol: String, locationCol: String, prefix: String,
      maxHops: Int = 5)(onBatch: (DataFrame, Long) => Unit)
      : StreamingQuery =
    responses.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val edgesT = s"${prefix}_edges"
        val termT = s"${prefix}_terminals"
        val pendT = s"${prefix}_pending"
        // one edge per src even under a contract-violating re-fetch
        // (deterministic min-dst pick) — a duplicate src would fan
        // every joined chain row out
        val newEdges = graft.ext.UrlOps.redirectEdges(
            batch, urlCol, statusCol, locationCol)
          .groupBy(col("__src")).agg(min(col("__dst")).as("__dst"))
          .localCheckpoint()
        val newTerm = batch.select(col(urlCol).as("url_canon")).distinct()
          .join(newEdges.select(col("__src").as("url_canon")),
            Seq("url_canon"), "left_anti")
        // retry-idempotent: append only rows novel vs the accumulated
        // tables (a failed attempt may already have appended)
        val novelEdges = graft.ext.Dedup.dedupAgainstCorpus(spark,
          newEdges.select(col("__src").as("src"), col("__dst").as("dst")),
          "src", "src", edgesT).localCheckpoint()
        val novelTerm = graft.ext.Dedup.dedupAgainstCorpus(spark,
          newTerm, "url_canon", "url_canon", termT).localCheckpoint()
        val accEdges = spark.table(edgesT)
          .select(col("src").as("__cur"), col("dst").as("__nxt"))
          .unionByName(novelEdges
            .select(col("src").as("__cur"), col("dst").as("__nxt")))
        val accTerm = spark.table(termT)
          .select(col("url_canon").as("__cur"))
          .unionByName(novelTerm.select(col("url_canon").as("__cur")))
        var state = spark.table(pendT).select(col("start_url"),
            col("cur").as("__cur"), col("hops"),
            col("seen").as("__seen"), lit(false).as("__loop"))
          .unionByName(graft.ext.UrlOps.redirectInit(newEdges))
        for (_ <- 1 until maxHops) {
          state = graft.ext.UrlOps.redirectAdvance(state, accEdges,
            maxHops).localCheckpoint()
        }
        val cls = state
          .join(accEdges.select(col("__cur"),
            lit(true).as("__has_edge")), Seq("__cur"), "left")
          .join(accTerm.select(col("__cur"), lit(true).as("__term")),
            Seq("__cur"), "left")
          .localCheckpoint()
        val loopC = col("__loop")
        val capC = !loopC && coalesce(col("__has_edge"), lit(false)) &&
          col("hops") >= lit(maxHops.toLong)
        val resC = !loopC && !coalesce(col("__has_edge"), lit(false)) &&
          coalesce(col("__term"), lit(false))
        onBatch(cls.filter(loopC || capC || resC)
          .select(col("start_url"),
            when(!loopC, col("__cur")).as("final_url"), col("hops"),
            when(loopC, lit("loop")).when(capC, lit("cap"))
              .otherwise(lit("resolved")).as("status")), batchId)
        novelEdges.select(col("src"), col("dst"), col("content_hash"))
          .write.mode("append").insertInto(edgesT)
        novelTerm.select(col("url_canon"), col("content_hash"))
          .write.mode("append").insertInto(termT)
        cls.filter(!loopC && !capC && !resC)
          .select(col("start_url"), col("__cur").as("cur"), col("hops"),
            col("__seen").as("seen"))
          .localCheckpoint()
          .write.mode("overwrite").saveAsTable(pendT)
      }
      .start()

  /** End-of-input flush for [[redirectStream]]: chains whose cursor
    * was never fetched are the batch operator's dangling `resolved`
    * class — their final URL is the furthest known hop. Union with
    * the stream's emissions to equal `resolveRedirects` over
    * everything ingested (spec-pinned). */
  def redirectFlush(spark: SparkSession, prefix: String): DataFrame =
    spark.table(s"${prefix}_pending").select(col("start_url"),
      col("cur").as("final_url"), col("hops"),
      lit("resolved").as("status"))

  /** Continuous RAG serving over the persisted BM25 + IVF index pair:
    * each micro-batch of (query id, text, vector) rows is answered by
    * [[graft.ext.Retrieval.ragServeIndexed]] verbatim — the
    * composition twin of [[bm25QueryStream]] (one leg) on the same
    * foreachBatch-reuses-the-batch-operator rationale. Against static
    * indexes the serve is pure: the union of per-batch answers equals
    * one batch answer for all queries (spec-pinned) — every score,
    * fusion rank and snippet derives from index + corpus state alone,
    * so no batch can shift another's results.
    */
  def ragServeStream(queries: DataFrame, bm25Table: String,
                     ivfTable: String, docs: DataFrame, idCol: String,
                     textCol: String, queryIdCol: String,
                     queryTextCol: String, queryVecCol: String, k: Int,
                     legK: Int = 20, nProbe: Int = 4)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.ext.Retrieval.ragServeIndexed(batch.sparkSession,
          bm25Table, ivfTable, docs, idCol, textCol, batch, queryIdCol,
          queryTextCol, queryVecCol, k, legK, nProbe), batchId)
      }
      .start()

  /** Continuous-ingest PERCEPTUAL near-dup probe: each micro-batch of
    * media payloads is banded (real decode inside the payload-dropping
    * seam) and checked against a persisted dHash index
    * ([[graft.ext.Multimodal.writeDHashIndex]]); flagged
    * (probe, corpus, hamming) pairs go to `onBatch` — the media twin of
    * [[nearDupProbeStream]], same foreachBatch-reuses-the-batch-operator
    * rationale. Corpus growth belongs to the caller's `onBatch` via
    * [[graft.ext.Multimodal.appendToDHashIndex]], exactly like the
    * MinHash loop.
    */
  def mediaNearDupProbeStream(media: DataFrame, table: String,
                              idCol: String, payloadCol: String,
                              bander: Array[Byte] => Option[Array[Long]],
                              maxHamming: Int)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val banded = graft.ext.Multimodal.withDHashBands(batch, payloadCol,
          bander)
        onBatch(graft.ext.Multimodal.dhashProbeIndexed(batch.sparkSession,
          table, banded, idCol, maxHamming), batchId)
      }
      .start()

  /** Continuous quality-gate serving against a PERSISTED trained model
    * ([[graft.ext.QualityModel.writeQualityModel]]): each micro-batch of
    * (id, text) rows is scored by
    * [[graft.ext.QualityModel.qualityClassifierScoreIndexed]] and handed to
    * `onBatch` — the quality-model member of the serve-from-index
    * stream family (BM25 queries, media probes). foreachBatch reuses
    * the batch scorer VERBATIM and the model is static during serving,
    * so the union of per-batch outputs equals one scoring pass over
    * everything streamed (spec-pinned). Model refresh belongs to the
    * caller's cadence: retrain + `writeQualityModel` between serving
    * windows.
    */
  def qualityScoreStream(docs: DataFrame, table: String, textCol: String,
                         threshold: Double = 0.0)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.ext.QualityModel.qualityClassifierScoreIndexed(
          batch.sparkSession, table, batch, textCol, threshold), batchId)
      }
      .start()

  /** Continuous ANN serving against a PERSISTED IVF index
    * ([[graft.ext.Ivf.writeIndex]]): each micro-batch of (id, vector)
    * queries is answered by [[graft.ext.Ivf.ivfTopKIndexed]] and
    * handed to `onBatch` — the vector member of the serve-from-index
    * stream family (BM25 queries, media probes, quality scores). Same
    * foreachBatch-reuses-the-batch-operator rationale; against a
    * static index the union of per-batch outputs equals one probe of
    * every query streamed (spec-pinned). Corpus growth belongs to the
    * caller via [[graft.ext.Ivf.appendToIndex]] between serving
    * windows, exactly like the MinHash/dHash loops.
    */
  def annProbeStream(queries: DataFrame, table: String, idCol: String,
                     vecCol: String, k: Int, nProbe: Int = 4)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.ext.Ivf.ivfTopKIndexed(batch.sparkSession, table,
          batch, idCol, vecCol, k, nProbe), batchId)
      }
      .start()

  /** Continuous tokenization against a PERSISTED unigram model
    * ([[graft.ext.TextOps.writeUnigramModel]]) — the tokenizer twin of
    * [[qualityScoreStream]]: foreachBatch reuses the batch indexed
    * apply verbatim, and tokenization is a stateless per-document
    * projection, so the union of per-batch outputs equals one batch
    * pass over every document streamed (spec-pinned). Model refresh is
    * its own cadence (rewrite the artifact between serving windows).
    */
  def tokenizeStream(docs: DataFrame, table: String, textCol: String)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.ext.TextOps.withUnigramTokensIndexed(
          batch.sparkSession, table, batch, textCol), batchId)
      }
      .start()

  /** MONITORED index ingest: each micro-batch of arriving vectors
    * appends to a persisted IVF index under the FROZEN stored model
    * ([[graft.ext.Ivf.appendToIndex]] — probe results never shift
    * under readers), then recomputes the drift report
    * ([[graft.ext.IndexAudit.driftIvf]]) against the at-build
    * `<table>_health` reference — so the ingest loop ITSELF surfaces
    * the moment arrivals stop fitting the trained quantizer. This is
    * the streaming form of the build → append → drift → rebuild
    * cadence: `onBatch` receives the uniform (check, ok, observed,
    * expected) report per batch; the caller reacts to `ok = false` by
    * scheduling [[graft.ext.Ivf.rebuildIndex]] on the retrain cadence
    * (never inside the batch — readers keep a consistent index until
    * the swap). Appends are the batch operator verbatim, so streamed
    * ingest ≡ the same appends applied in batch (spec-pinned).
    */
  def indexIngestStream(vectors: DataFrame, table: String, idCol: String,
                        vecCol: String, tolMicro: Long = 20000L)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ext.Ivf.appendToIndex(batch, idCol, vecCol, table)
        onBatch(graft.ext.IndexAudit.driftIvf(batch.sparkSession, table,
          idCol, vecCol, tolMicro), batchId)
      }
      .start()

  /** Continuous ANN serving against a PERSISTED IVF-PQ index
    * ([[graft.ext.Pq.writeIndex]]) — the storage-tier twin of
    * [[annProbeStream]]: same foreachBatch reuse of the batch probe
    * ([[graft.ext.Pq.pqTopKIndexed]] — ADC over stored codes, exact
    * rerank), same union-of-batches ≡ one-shot purity against a static
    * index (spec-pinned).
    */
  def pqProbeStream(queries: DataFrame, table: String, idCol: String,
                    vecCol: String, k: Int, nProbe: Int = 4)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.ext.Pq.pqTopKIndexed(batch.sparkSession, table,
          batch, idCol, vecCol, k, nProbe), batchId)
      }
      .start()

  /** Continuous model retraining against a PERSISTED quality model:
    * each micro-batch of LABELED (id, text, label) rows warm-starts
    * the balanced trainer from the current lattice and writes the
    * refreshed model back
    * ([[graft.ext.QualityModel.refreshQualityModel]]) — the training-side
    * complement of [[qualityScoreStream]]'s serving loop. Deterministic
    * given the batch sequence (spec-pinned: a streamed refresh equals
    * the same refreshes applied sequentially in batch). `onBatch`
    * receives the updated lattice for monitoring.
    */
  def qualityModelRefreshStream(labeled: DataFrame, table: String,
                                idCol: String, textCol: String,
                                labelCol: String, steps: Int = 2,
                                lrPpm: Long = 200000L)(
      onBatch: (Array[Long], Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    labeled.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.ext.QualityModel.refreshQualityModel(batch.sparkSession,
          table, batch, idCol, textCol, labelCol, steps, lrPpm), batchId)
      }
      .start()

  /** Continuous-ingest VIDEO near-dup probe — the frame-banded twin of
    * [[mediaNearDupProbeStream]]: each micro-batch of clip payloads is
    * per-frame banded (real GIF decode inside the payload-dropping
    * seam) and probed against a persisted FRAME-level dHash index via
    * [[graft.ext.Multimodal.videoNearDupProbeIndexed]]; flagged
    * (probe, corpus, best_hamming, n_frame_matches) CLIP pairs go to
    * `onBatch`. Same foreachBatch-reuses-the-batch-operator rationale;
    * corpus growth belongs to the caller via `appendToDHashIndex` over
    * frame-banded rows.
    */
  def videoNearDupProbeStream(media: DataFrame, table: String,
                              idCol: String, payloadCol: String,
                              maxHamming: Int)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val banded = graft.ext.Multimodal.withFrameDHashBands(batch,
          payloadCol)
        onBatch(graft.ext.Multimodal.videoNearDupProbeIndexed(
          batch.sparkSession, table, banded, idCol, maxHamming), batchId)
      }
      .start()

  def nearDupProbeStream(docs: DataFrame, table: String, idCol: String,
                         textCol: String, minJaccard: Double,
                         shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                         maxBucketSize: Int = 1000,
                         portable: Boolean = false)(
      onBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(graft.ext.Dedup.minhashProbeIndexed(batch.sparkSession,
          table, batch, idCol, textCol, minJaccard, shingleN, k, bands,
          maxBucketSize, portable), batchId)
      }
      .start()
}

/** One metric observation for streaming anomaly detection. */
final case class MetricEvent(key: String, ts_micros: Long, value: Double)

/** Flagged observation: its z-score against the key's statistics over
  * all PRIOR observations, plus how many had been seen.
  */
final case class Anomaly(key: String, ts_micros: Long, value: Double,
                         z: Double, n_prior: Long)

/** Running per-key moments (count, Σx, Σx²) — O(1) state per key. */
final case class MomentState(n: Long, sum: Double, sumSq: Double)

/** Streaming per-key anomaly detection — the streaming analog of
  * [[graft.ext.Outliers.zscoreOutliers]]: each observation is scored
  * against the running mean/stddev of the observations BEFORE it (in
  * (ts, value) order), then folded into the state. Prequential scoring
  * means no reprocessing, a single pass, and an exactly reproducible
  * batch equivalent: the same fold over a sorted batch frame yields the
  * same alarms (spec-pinned).
  *
  * State per key is three numbers regardless of throughput; total state
  * is O(|keys|) — no watermark needed for boundedness (keys, unlike
  * sessions, are a fixed small population; for unbounded key spaces add
  * an event-time timeout the same way [[Sessionize]] does).
  *
  * Cold start: the first `minPrior` observations of a key never alarm —
  * a z-score against 1-2 samples is noise, and alarming on it would
  * page on every new key.
  *
  * Ordering contract: observations are scored in (ts, value) order
  * WITHIN a micro-batch and in arrival order across batches — the
  * standard online-scoring semantics. Streaming equals the batch fold
  * exactly when batches arrive time-ordered; a cross-batch straggler is
  * scored against the stats at its arrival (it cannot retroactively
  * change already-emitted alarms — no online detector can).
  */
object AnomalyDetect {

  /** Fold one key's time-sorted observations through the moment state,
    * emitting prequential alarms. Shared verbatim by the streaming
    * operator and the batch reference below — one definition, zero
    * semantic drift.
    */
  def scoreAndFold(key: String, sorted: Seq[(Long, Double)],
                   st0: MomentState, threshold: Double,
                   minPrior: Int): (List[Anomaly], MomentState) = {
    var st = st0
    var alarms = List.empty[Anomaly]
    sorted.foreach { case (ts, x) =>
      if (st.n >= minPrior) {
        val mean = st.sum / st.n
        val variance =
          (st.sumSq - st.sum * st.sum / st.n) / (st.n - 1)
        if (variance > 0) {
          val z = (x - mean) / math.sqrt(variance)
          if (math.abs(z) > threshold)
            alarms ::= Anomaly(key, ts, x, z, st.n)
        }
      }
      st = MomentState(st.n + 1, st.sum + x, st.sumSq + x * x)
    }
    (alarms.reverse, st)
  }

  /** The streaming operator: `flatMapGroupsWithState` carrying the
    * per-key moments across micro-batches.
    */
  def anomalies(events: Dataset[MetricEvent], threshold: Double = 3.0,
                minPrior: Int = 30): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[MomentState, Anomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[MomentState]) =>
          val sorted = rows.map(e => (e.ts_micros, e.value)).toSeq.sorted
          val (alarms, st) = scoreAndFold(key, sorted,
            state.getOption.getOrElse(MomentState(0L, 0.0, 0.0)),
            threshold, minPrior)
          state.update(st)
          alarms.iterator
      }
  }

  /** Batch reference semantics: the identical fold over a batch frame
    * (used by specs to pin streaming ≡ batch under any batch split).
    */
  def anomaliesBatch(events: Seq[MetricEvent], threshold: Double = 3.0,
                     minPrior: Int = 30): Seq[Anomaly] =
    events.groupBy(_.key).toSeq.sortBy(_._1).flatMap { case (k, evs) =>
      scoreAndFold(k, evs.map(e => (e.ts_micros, e.value)).sorted,
        MomentState(0L, 0.0, 0.0), threshold, minPrior)._1
    }
}

/** One frontier candidate entering the politeness scheduler: its host,
  * canonical URL, per-cycle rank (the q154 budget's ordering), and the
  * host's crawl delay in micros (join [[graft.ext.UrlOps.robotsCrawlDelay]]'s
  * pruned table upstream, defaulting absent hosts — the
  * [[graft.ext.UrlOps.politenessSchedule]] join, delay carried on the
  * row so the state function needs no side lookup). */
final case class FrontierCandidate(host: String, url_canon: String,
                                   rank: Long, delay_micros: Long)

/** One assigned fetch slot. */
final case class FetchSlot(host: String, url_canon: String, rank: Long,
                           fetch_at_micros: Long)

/** Per-host politeness state across micro-batches: the next free fetch
  * slot — O(1) per host, the whole crawl's state is one long per host.
  */
final case class HostSlotState(nextFreeMicros: Long)

/** CROSS-BATCH politeness scheduling — the streaming twin of
  * [[graft.ext.UrlOps.politenessSchedule]]: the batch operator assigns
  * slots `(rank−1)·delay` within ONE scheduling cycle, but a crawl
  * loop schedules cycle after cycle against the SAME hosts, and the
  * next cycle's first fetch must wait for the previous cycle's last
  * slot plus one delay. `flatMapGroupsWithState` carries exactly that:
  * one next-free-slot long per host.
  *
  * The fold is shared verbatim by the streaming operator and the batch
  * reference (the [[AnomalyDetect]] discipline — one definition, zero
  * semantic drift): a batch's candidates for a host are processed in
  * rank order from the host's next free slot, spaced one delay apart;
  * the state advances past the last assigned slot.
  *
  * Equivalence contract (spec-pinned): when one cycle's frontier is
  * split across micro-batches in rank order, the union of per-batch
  * slots equals the one-shot [[graft.ext.UrlOps.politenessSchedule]]
  * over the whole frontier; a SECOND cycle's slots start at
  * `n_prev · delay` — strictly after every first-cycle slot — which is
  * the cross-batch semantics the stateless batch operator cannot give.
  *
  * Scale shape: state is O(|hosts|) longs; each micro-batch shuffles
  * only its own candidates on the short host key; per-group work is a
  * sort of that HOST's batch candidates (bounded by the per-host
  * budget k, cf. q154 — not by frontier size). No watermark needed for
  * boundedness at crawl host counts; for unbounded host churn add an
  * event-time timeout the way [[Sessionize]] does. */
object PolitenessStream {

  /** Assign one host's batch, sorted by rank, from `st0` onward.
    * Shared by the streaming operator and the batch reference. */
  def assignAndFold(host: String, byRank: Seq[(Long, String, Long)],
                    st0: HostSlotState): (List[FetchSlot], HostSlotState) = {
    var next = st0.nextFreeMicros
    var out = List.empty[FetchSlot]
    byRank.foreach { case (rank, url, delay) =>
      out ::= FetchSlot(host, url, rank, next)
      next += delay
    }
    (out.reverse, HostSlotState(next))
  }

  /** Build the scheduler's input from a ranked frontier and the
    * crawl-delay table — the [[graft.ext.UrlOps.politenessSchedule]]
    * join (delays semi-join-pruned to the frontier's hosts before the
    * broadcast, `defaultDelayMicros` for hosts that declared none)
    * with the delay carried ON the row, so the stateful operator
    * needs no side lookup. */
  def candidates(frontier: DataFrame, hostCol: String, rankCol: String,
                 urlCol: String, delays: DataFrame,
                 defaultDelayMicros: Long): Dataset[FrontierCandidate] = {
    import frontier.sparkSession.implicits._
    val hostSet = frontier.select(col(hostCol)).distinct()
    val pruned = delays.select(col("host").as(hostCol),
        col("crawl_delay_micros").as("__delay"))
      .join(hostSet, Seq(hostCol), "left_semi")
    frontier.join(broadcast(pruned), Seq(hostCol), "left_outer")
      .select(col(hostCol).as("host"), col(urlCol).as("url_canon"),
        col(rankCol).cast("long").as("rank"),
        coalesce(col("__delay"), lit(defaultDelayMicros))
          .as("delay_micros"))
      .as[FrontierCandidate]
  }

  /** The streaming operator: per-host next-free-slot state across
    * micro-batches. */
  def slots(cands: Dataset[FrontierCandidate]): Dataset[FetchSlot] = {
    import cands.sparkSession.implicits._
    cands
      .groupByKey(_.host)
      .flatMapGroupsWithState[HostSlotState, FetchSlot](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (host, rows, state: GroupState[HostSlotState]) =>
          val byRank = rows.map(c => (c.rank, c.url_canon, c.delay_micros))
            .toSeq.sortBy(c => (c._1, c._2))
          val (slotsOut, st) = assignAndFold(host, byRank,
            state.getOption.getOrElse(HostSlotState(0L)))
          state.update(st)
          slotsOut.iterator
      }
  }

  /** Batch reference semantics: the identical fold over a batch
    * sequence (specs pin streaming ≡ batch under any batch split). */
  def slotsBatch(cands: Seq[FrontierCandidate]): Seq[FetchSlot] =
    cands.groupBy(_.host).toSeq.sortBy(_._1).flatMap { case (h, cs) =>
      assignAndFold(h,
        cs.map(c => (c.rank, c.url_canon, c.delay_micros))
          .sortBy(c => (c._1, c._2)),
        HostSlotState(0L))._1
    }
}

/** One HTTP response entering the throttle tracker: host, a per-host
  * monotone arrival sequence, the status, the parsed `Retry-After` in
  * micros (−1 when absent or malformed —
  * [[graft.ext.UrlOps.retryAfterMicros]]'s null), and the host's
  * crawl-delay floor carried ON the row (the [[FrontierCandidate]]
  * no-side-lookup discipline). */
final case class ThrottleEvent(host: String, seq: Long, status: Long,
                               retry_after_micros: Long,
                               delay_micros: Long)

/** The tracker's verdict after an event: the host's effective backoff
  * (never below its crawl-delay floor). */
final case class ThrottleVerdict(host: String, seq: Long,
                                 backoff_micros: Long)

/** Per-host throttle state across micro-batches: the armed
  * Retry-After component plus the high-water applied `seq` — a late
  * event with `seq <= hwSeq` arriving in a LATER micro-batch is
  * stale (e.g. a 503 re-arriving after the origin already attested
  * recovery) and is skipped, never folded as newest. */
final case class HostThrottleState(raMicros: Long, hwSeq: Long = -1L)

/** CROSS-BATCH throttle tracking — the streaming twin of q178's
  * Retry-After backoff: the batch query folds ONE response set into a
  * per-host `greatest(max Retry-After, crawl-delay)`, but a live crawl
  * sees throttles and recoveries interleaved across micro-batches, and
  * the effective backoff must ARM on a 429/503 (an explicit
  * `Retry-After` can only lengthen the polite gap; a throttle without
  * one arms at the crawl-delay floor) and COLLAPSE back to the floor
  * when the origin next answers healthy (2xx/3xx — it just attested
  * recovery). Other statuses (4xx errors, garbage) leave the throttle
  * armed: an error page is not evidence of recovered capacity.
  *
  * The fold is shared verbatim by the streaming operator and the batch
  * reference (the [[PolitenessStream]]/[[AnomalyDetect]] discipline),
  * so any batch split of the same seq-ordered responses yields the
  * same verdicts (spec-pinned).
  *
  * Scale shape: state is O(|hosts|) longs; each micro-batch shuffles
  * only its own responses on the short host key. No timeout needed at
  * crawl host counts; add an event-time timeout (the [[Sessionize]]
  * pattern) for unbounded host churn. */
object ThrottleStream {

  /** Fold one host's seq-sorted responses through the throttle state.
    * Shared by the streaming operator and the batch reference. */
  def foldHost(host: String, bySeq: Seq[(Long, Long, Long, Long)],
               st0: HostThrottleState)
      : (List[ThrottleVerdict], HostThrottleState) = {
    var ra = st0.raMicros
    var hw = st0.hwSeq
    var out = List.empty[ThrottleVerdict]
    bySeq.foreach { case (seq, status, raUs, delay) =>
      // seq <= high-water: a cross-batch straggler older than (or a
      // replay of) the last applied observation — stale, skip; the
      // in-batch sort makes in-batch application order-correct.
      if (seq > hw) {
        hw = seq
        if (status == 429L || status == 503L)
          ra = math.max(ra, if (raUs >= 0L) raUs else delay)
        else if (status >= 200L && status < 400L) ra = 0L
        out ::= ThrottleVerdict(host, seq, math.max(ra, delay))
      }
    }
    (out.reverse, HostThrottleState(ra, hw))
  }

  /** The streaming operator: per-host armed-throttle state across
    * micro-batches. */
  def verdicts(evs: Dataset[ThrottleEvent]): Dataset[ThrottleVerdict] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.host)
      .flatMapGroupsWithState[HostThrottleState, ThrottleVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (host, rows, state: GroupState[HostThrottleState]) =>
          val bySeq = rows
            .map(e => (e.seq, e.status, e.retry_after_micros,
              e.delay_micros))
            .toSeq.sortBy(_._1)
          val (out, st) = foldHost(host, bySeq,
            state.getOption.getOrElse(HostThrottleState(0L)))
          state.update(st)
          out.iterator
      }
  }

  /** Batch reference semantics: the identical fold over a response
    * sequence (specs pin streaming ≡ batch under any batch split). */
  def verdictsBatch(evs: Seq[ThrottleEvent]): Seq[ThrottleVerdict] =
    evs.groupBy(_.host).toSeq.sortBy(_._1).flatMap { case (h, es) =>
      foldHost(h,
        es.map(e => (e.seq, e.status, e.retry_after_micros,
          e.delay_micros)).sortBy(_._1),
        HostThrottleState(0L))._1
    }
}

/** One identity observation for a fetched URL: a per-URL monotone
  * arrival sequence and the PRE-PARSED alias signals riding the row
  * (the [[ThrottleEvent]] no-side-lookup discipline) — the resolved
  * redirect final (`""` when the response was not a resolved 3xx) and
  * the declared canonical with its in-host flag (`""`/false when
  * absent; cross-host declarations arrive flagged false and must
  * never win). */
final case class IdentityEvent(url_canon: String, seq: Long,
                               final_url: String, decl_canon: String,
                               decl_in_host: Boolean)

/** An identity CHANGE: the URL's new identity and the precedence tier
  * that set it (0 = redirect final, 1 = in-host declared canonical,
  * 2 = the URL's own canonical self). */
final case class IdentityChange(url_canon: String, seq: Long,
                                identity: String, tier: Int)

/** Per-URL identity state: current identity + its tier, plus the
  * high-water applied `seq` — a cross-batch straggler with
  * `seq <= hwSeq` (e.g. a stale tier-0 redirect observation arriving
  * after the origin recovered) is skipped, never folded as newest. */
final case class UrlIdentityState(identity: String, tier: Int,
                                  hwSeq: Long = -1L)

/** CROSS-BATCH identity tracking — the streaming twin of q186's URL
  * identity layer: a live crawl discovers a URL's aliases over TIME
  * (first a plain 200, later a canonical declaration, later still the
  * origin turns the URL into a redirect), and the identity must
  * follow q186's precedence WITHOUT replaying history: protocol-level
  * evidence (redirect, tier 0) beats the in-document hint (in-host
  * declared canonical, tier 1) beats spelling (tier 2). Stronger or
  * EQUAL tiers update (the origin re-pointing its redirect is real —
  * latest equal-tier observation wins); weaker evidence NEVER
  * downgrades; cross-host declarations never win. Emits only CHANGES
  * (the CDC discipline — downstream dedup re-keys exactly the URLs
  * whose identity moved).
  *
  * The fold is shared verbatim by the streaming operator and the
  * batch reference ([[PolitenessStream]]/[[ThrottleStream]]
  * discipline); any batch split of the same seq-ordered observations
  * yields the same change log (spec-pinned).
  *
  * Scale shape: state is O(|URLs|) short strings keyed by the uniform
  * canonical key; each micro-batch shuffles only its own rows. For
  * unbounded URL churn add an event-time timeout (the [[Sessionize]]
  * pattern). */
object IdentityStream {

  /** Fold one URL's seq-sorted observations; emit a change row
    * whenever identity or tier moves. Shared by the streaming
    * operator and the batch reference. */
  def foldUrl(url: String,
              bySeq: Seq[(Long, String, String, Boolean)],
              st0: Option[UrlIdentityState])
      : (List[IdentityChange], UrlIdentityState) = {
    var st = st0.getOrElse(UrlIdentityState(url, 2))
    var out = List.empty[IdentityChange]
    // a fresh key's first observation always announces (fresh state
    // is the weakest tier, so it is an upgrade-or-equal by
    // construction); a restored key never re-announces
    var first = st0.isEmpty
    bySeq.foreach { case (seq, finalUrl, declCanon, declInHost) =>
      // seq <= high-water: stale cross-batch straggler (or replay) —
      // skip rather than fold as newest (the equal-tier latest-wins
      // rule would otherwise let stale evidence overwrite fresh).
      if (seq > st.hwSeq) {
        val (cand, tier) =
          if (finalUrl.nonEmpty) (finalUrl, 0)
          else if (declCanon.nonEmpty && declInHost) (declCanon, 1)
          else (url, 2)
        if (tier < st.tier ||
            (tier == st.tier && (first || cand != st.identity))) {
          st = UrlIdentityState(cand, tier, seq)
          out ::= IdentityChange(url, seq, cand, tier)
        } else st = st.copy(hwSeq = seq)
        first = false
      }
    }
    (out.reverse, st)
  }

  /** The streaming operator: per-URL identity state across
    * micro-batches, emitting only changes. */
  def changes(evs: Dataset[IdentityEvent]): Dataset[IdentityChange] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.url_canon)
      .flatMapGroupsWithState[UrlIdentityState, IdentityChange](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (url, rows, state: GroupState[UrlIdentityState]) =>
          val bySeq = rows
            .map(e => (e.seq, e.final_url, e.decl_canon, e.decl_in_host))
            .toSeq.sortBy(_._1)
          val (out, st) = foldUrl(url, bySeq, state.getOption)
          state.update(st)
          out.iterator
      }
  }

  /** Batch reference semantics: the identical fold over an
    * observation sequence (specs pin streaming ≡ batch under any
    * batch split). */
  def changesBatch(evs: Seq[IdentityEvent]): Seq[IdentityChange] =
    evs.groupBy(_.url_canon).toSeq.sortBy(_._1).flatMap { case (u, es) =>
      foldUrl(u,
        es.map(e => (e.seq, e.final_url, e.decl_canon, e.decl_in_host))
          .sortBy(_._1),
        None)._1
    }
}

/** One event on a funnel stream. */
final case class FunnelEvent(user_id: Long, ts_micros: Long,
                             event_type: String)

/** A user advancing to funnel step `step` (1-based) at `ts_micros`. */
final case class FunnelAdvance(user_id: Long, step: Int, event_type: String,
                               ts_micros: Long)

/** Per-user funnel progress: 0-based index of the next step awaited and
  * the time of the last completed step (O(1) per user).
  */
final case class FunnelProgress(nextStep: Int, lastTs: Long)

/** Streaming twin of [[graft.ext.Funnel]]: per-user first-touch,
  * strictly-ordered step progression tracked in `flatMapGroupsWithState`
  * — each advance is emitted the moment the qualifying event arrives,
  * instead of in a retrospective batch scan. Processing events in time
  * order, the greedy advance ("first qualifying event while awaiting
  * step i") selects exactly the batch operator's earliest-qualifying
  * times (spec-pinned equal); the cross-batch ordering contract is the
  * same as [[AnomalyDetect]]'s, and so is the state story: O(1) per
  * user with no timeout — right for a bounded user population; add an
  * event-time timeout (as [[Sessionize]] does) to expire dormant users
  * on an unbounded one.
  */
object FunnelStream {

  /** Fold one user's time-sorted events through the progress state —
    * shared verbatim by the streaming operator and the batch reference.
    */
  def advance(user: Long, steps: IndexedSeq[String],
              sorted: Seq[(Long, String)],
              st0: FunnelProgress): (List[FunnelAdvance], FunnelProgress) = {
    var st = st0
    var out = List.empty[FunnelAdvance]
    sorted.foreach { case (ts, tpe) =>
      if (st.nextStep < steps.length && tpe == steps(st.nextStep) &&
          (st.nextStep == 0 || ts > st.lastTs)) {
        out ::= FunnelAdvance(user, st.nextStep + 1, tpe, ts)
        st = FunnelProgress(st.nextStep + 1, ts)
      }
    }
    (out.reverse, st)
  }

  def advances(events: Dataset[FunnelEvent],
               steps: Seq[String]): Dataset[FunnelAdvance] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val idx = steps.toIndexedSeq
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[FunnelProgress]) =>
          val sorted = rows.map(e => (e.ts_micros, e.event_type)).toSeq.sorted
          val (out, st) = advance(user, idx, sorted,
            state.getOption.getOrElse(FunnelProgress(0, Long.MinValue)))
          state.update(st)
          out.iterator
      }
  }
}

/** One scored row on a ranking stream. */
final case class ScoredEvent(key: String, ord: Double, payload: Long)

/** The current rank-`rank` member of `key`'s running top-k. `n_seen` =
  * rows merged into the key when this snapshot was produced — a
  * monotone version: the key's LATEST leaderboard is its max-`n_seen`
  * snapshot (which is how an Update-mode sink's reader finds it).
  */
final case class TopKSnapshot(key: String, rank: Int, ord: Double,
                              payload: Long, n_seen: Long)

/** Per-key running top-k — O(k) state. */
final case class TopKState(ords: List[Double], payloads: List[Long],
                           nSeen: Long)

/** One scored row with a struct payload: the (id, label) pair rides the
  * ranking whole, like `graft_top_k(ord, struct(id, label), k)`.
  */
final case class ScoredRecord(key: String, ord: Double, id: Long,
                              label: String)

/** [[TopKSnapshot]] with the struct payload's fields inlined. */
final case class TopKRecordSnapshot(key: String, rank: Int, ord: Double,
                                    id: Long, label: String, n_seen: Long)

/** Per-key running top-k over struct payloads — still O(k) state. */
final case class TopKRecordState(ords: List[Double], ids: List[Long],
                                 labels: List[String], nSeen: Long)

/** Streaming twin of [[graft.plans.TopKAgg]]: per-key running top-k
  * maintained in `flatMapGroupsWithState`, re-emitting a key's current
  * top-k snapshot whenever a micro-batch changes it (Update-mode
  * semantics — a leaderboard, not an append-only log). The merge is the
  * aggregate's exactly: ord DESC with ascending-payload tie-break, so
  * after any batch split the latest snapshot equals `graft_top_k` over
  * everything seen (spec-pinned). State per key is k (ord, payload)
  * pairs regardless of throughput; keys are assumed a bounded
  * population — add an event-time timeout (as [[Sessionize]] does) for
  * unbounded key spaces.
  */
object TopKStream {

  /** Merge incoming scored rows into a current top-k — shared by the
    * streaming operators and the spec's reference fold. The total order
    * is [[graft.plans.TopKOrder]] — the SAME object `graft_top_k` sorts
    * with (`Double.compare` descending, then payload ascending; Products
    * field-wise with null-first, strings in UTF-8 byte order), so the
    * aggregate and its streaming twin cannot drift. `P` may be a
    * Long/Int/Double/String or a Product of those (the struct-payload
    * leaderboard's (id, label) tuples).
    */
  def mergeTopK[P](current: Seq[(Double, P)], incoming: Seq[(Double, P)],
                   k: Int): List[(Double, P)] =
    (current ++ incoming).sortWith(
      graft.plans.TopKOrder.lessThan[P](
        (a, b) => graft.plans.TopKOrder.jvmCompare(a, b))
    ).take(k).toList

  def topk(events: Dataset[ScoredEvent], k: Int): Dataset[TopKSnapshot] = {
    require(k > 0, s"k must be positive, got $k")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[TopKState, TopKSnapshot](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[TopKState]) =>
          val st = state.getOption.getOrElse(TopKState(Nil, Nil, 0L))
          val current = st.ords.zip(st.payloads)
          val incoming = rows.map(e => (e.ord, e.payload)).toSeq
          val merged = mergeTopK(current, incoming, k)
          val nSeen = st.nSeen + incoming.size
          state.update(TopKState(merged.map(_._1), merged.map(_._2), nSeen))
          if (merged == current) Iterator.empty // unchanged: emit nothing
          else merged.iterator.zipWithIndex.map { case ((o, p), i) =>
            TopKSnapshot(key, i + 1, o, p, nSeen)
          }
      }
  }

  /** [[topk]] for struct payloads: the (id, label) pair rides the ranking
    * whole — the streaming twin of `graft_top_k(ord, struct(id, label),
    * k)`. Tie-breaks are the struct's field-wise lexicographic order with
    * null labels first, via the same shared [[graft.plans.TopKOrder]].
    */
  def topkRecords(events: Dataset[ScoredRecord],
                  k: Int): Dataset[TopKRecordSnapshot] = {
    require(k > 0, s"k must be positive, got $k")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[TopKRecordState, TopKRecordSnapshot](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[TopKRecordState]) =>
          val st = state.getOption
            .getOrElse(TopKRecordState(Nil, Nil, Nil, 0L))
          val current = st.ords.lazyZip(st.ids).lazyZip(st.labels)
            .map((o, i, l) => (o, (i, l)))
          val incoming = rows.map(e => (e.ord, (e.id, e.label))).toSeq
          val merged = mergeTopK(current, incoming, k)
          val nSeen = st.nSeen + incoming.size
          state.update(TopKRecordState(merged.map(_._1),
            merged.map(_._2._1), merged.map(_._2._2), nSeen))
          if (merged == current) Iterator.empty
          else merged.iterator.zipWithIndex.map { case ((o, (id, lb)), i) =>
            TopKRecordSnapshot(key, i + 1, o, id, lb, nSeen)
          }
      }
  }
}

/** One event for stateful sessionization (micros since epoch keeps the
  * state encoder trivial and comparison exact).
  */
final case class SessionEvent(user_id: Long, ts_micros: Long)

/** Closed session emitted by the stateful operator. */
final case class Session(user_id: Long, session_start_micros: Long,
                         session_end_micros: Long, n_events: Long)

/** Open-session state carried between micro-batches. */
final case class SessionState(start: Long, last: Long, n: Long)

object Sessionize {

  val GapMicros: Long = 30L * 60 * 1000000 // 30-minute inactivity gap

  /** Per-user gap sessionization over a stream, with
    * `flatMapGroupsWithState` custom state: events accumulate into an open
    * session; a gap larger than 30 min (or event-time timeout) closes it.
    * State per key is O(1) — start/last/count — so the operator holds
    * |active users| tiny records regardless of throughput.
    */
  def sessions(events: Dataset[SessionEvent]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("ts_micros")))
      .withWatermark("ts", "1 hour")
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, s.start, s.last, s.n))
          } else {
            val sorted = rows.map(_._2).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.last <= GapMicros =>
                  // a late-but-within-watermark event may PRECEDE the open
                  // session (cross-batch disorder): the session start must
                  // absorb it, or streaming drifts from batch ground truth
                  cur = Some(SessionState(math.min(s.start, t),
                    math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  closed ::= Session(user, s.start, s.last, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last / 1000 + GapMicros / 1000)
            }
            closed.reverseIterator
          }
      }
  }
}

/** The reference's scheduled incremental load (T1-T5, etl2.py:298-467) as
  * a Structured Streaming job: a file-source stream feeds `foreachBatch`,
  * each batch merging into parquet-backed state through the batch
  * `Merge.mergeFrame` — the frame `postState` and `scd2History` project
  * from — so streaming and batch semantics cannot drift apart.
  */
object MicroBatchMerge {

  /** Apply one incoming batch to the persistent state at `stateDir`,
    * appending superseded versions to `historyDir`.
    *
    * Crash safety:
    *  - the state swap is rename-ASIDE, never delete-then-rename: current
    *    state moves to `.old`, the fully-written `.tmp` moves in, then
    *    `.old` is dropped. A crash in any window leaves either the old
    *    state in place or recoverable at `.old`; [[resolveState]] runs the
    *    recovery on every entry, so a retried batch always sees complete
    *    pre-batch state (never silently re-initializes from nothing);
    *  - history is appended BEFORE the swap with the already-recorded
    *    history passed to `MergeFrame.history`, whose (pk, valid_from)
    *    anti-join drops rows a crashed-and-retried batch already wrote —
    *    append stays idempotent end to end.
    *
    * One pass: the batch's merge frame is pinned with `localCheckpoint`
    * (the [[RevisitStream.applyBatch]] idiom), so the history append and
    * the state write read one evaluation of its join, and `now` is one
    * instant read at the start of the batch ([[Merge.clock]]), so a
    * superseded version's `valid_to` equals its successor's `updated_at`.
    * The history append and the `.tmp` state write are independent, so
    * they run concurrently ([[graft.ext.Warehouse.inParallel]]); the swap
    * runs only after both have succeeded, and a failure of either
    * cancels the other and leaves the state as it was. The state and
    * history schemas are read from parquet footers
    * ([[graft.io.ParquetSchema]]), which starts no job.
    */
  def applyBatch(spark: SparkSession, batch: DataFrame, pk: Seq[String],
                 stateDir: String, historyDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(stateDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read(dir: String): Option[DataFrame] =
      if (fs.exists(new Path(dir)))
        Some(spark.read.schema(ParquetSchema.of(spark, dir)).parquet(dir))
      else None

    resolveState(spark, stateDir)
    val existing = read(stateDir)
    val recordedHistory = read(historyDir)

    val now = Merge.clock()
    existing match {
      case Some(ex) =>
        val m = Merge.mergeFrame(batch, ex, pk, now)
        val merged = m.copy(frame = m.frame.localCheckpoint())
        graft.ext.Warehouse.inParallel(
          merged.history(recordedHistory).write.mode("append").parquet(historyDir),
          writeTmp(stateDir, merged.postState))
        swapIn(spark, stateDir)
      case None =>
        swapState(spark, stateDir, batch.withColumn("updated_at", now)
          .withColumn("is_deleted", lit(false)))
    }
  }

  /** The rename-aside state swap shared by [[applyBatch]] and
    * [[RevisitStream.applyBatch]]: write `.tmp` fully, move current
    * state to `.old`, move `.tmp` in, drop `.old`. */
  private[streaming] def swapState(spark: SparkSession, stateDir: String,
                                   newState: DataFrame): Unit = {
    writeTmp(stateDir, newState)
    swapIn(spark, stateDir)
  }

  private def writeTmp(stateDir: String, newState: DataFrame): Unit =
    newState.write.mode("overwrite").parquet(stateDir + ".tmp")

  /** Move the fully-written `.tmp` in place of the state, current state
    * aside to `.old` first. */
  private def swapIn(spark: SparkSession, stateDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val statePath = new Path(stateDir)
    val oldPath = new Path(stateDir + ".old")
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(oldPath)) fs.delete(oldPath, true)
    if (fs.exists(statePath)) fs.rename(statePath, oldPath)
    fs.rename(new Path(stateDir + ".tmp"), statePath)
    fs.delete(oldPath, true)
  }

  /** Startup/entry recovery for the rename-aside swap: if a crash left no
    * live state but a `.old` exists, restore it. Called by every
    * `applyBatch`; safe to call any time.
    */
  def resolveState(spark: SparkSession, stateDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val statePath = new Path(stateDir)
    val oldPath = new Path(stateDir + ".old")
    val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statePath) && fs.exists(oldPath)) {
      fs.rename(oldPath, statePath)
    }
  }

  /** Start the streaming CDC loop: watch `sourceDir` for new parquet files,
    * merge each micro-batch into `stateDir` on the reference's 8-minute
    * cadence (configurable).
    */
  def start(spark: SparkSession, sourceDir: String, schemaSource: String,
            pk: Seq[String], stateDir: String, historyDir: String,
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("8 minutes")): StreamingQuery = {
    val schema = ParquetSchema.of(spark, schemaSource)
    spark.readStream
      .schema(schema)
      .parquet(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        applyBatch(spark, batch.toDF(), pk, stateDir, historyDir)
      }
      .start()
  }
}

/** The crawl-corpus REVISIT loop — [[graft.ext.UrlOps.revisitMerge]]'s
  * streaming twin, closing the reference's 8-minute micro-batch cadence
  * (reference `project/etl2.py:462-467`) over the crawl-side CDC merge
  * (q172): each micro-batch of re-fetch answers (url, status, new body)
  * applies its dispositions — 200 upsert/reactivate, 304 validate-only
  * reactivate, 404/410 tombstone, 5xx no-op — against the ACCUMULATED
  * corpus state, so a URL tombstoned in one cycle reactivates the cycle
  * its origin answers again (the 304-reactivation state a one-shot
  * merge cannot carry).
  *
  * One definition: each batch IS one [[graft.ext.UrlOps.revisitMerge]]
  * call against the current state (the `assignAndFold` discipline), so
  * stream ≡ batch is structural: under the fetched-once-per-cycle
  * contract (a URL appears in at most one batch per pass), any batch
  * split of a revisit set yields byte-identical end state to the
  * one-shot merge (spec-pinned).
  *
  * Replay safety (foreachBatch is at-least-once): the per-batch CDC
  * emission (`onBatch` — the merged rows of exactly the batch's URLs,
  * `body_changed` included, the downstream re-process trigger) derives
  * from the PRIOR state and the batch, and runs BEFORE the state swap;
  * the swap itself is [[MicroBatchMerge]]'s rename-aside (crash leaves
  * pre-batch state recoverable, a retried batch re-derives the same
  * emission and the same post state).
  *
  * Scale shape, per cycle: ONE full-outer equi-join of the corpus
  * against the batch on the uniform canonical URL key plus a
  * projection ([[graft.ext.UrlOps.revisitMerge]]'s shape). The state
  * rewrite is corpus-sized here (plain parquet swap — the
  * [[MicroBatchMerge]] storage discipline); at deployment scale the
  * state lives URL-bucketed and the swap becomes a partition-scoped
  * rewrite of the buckets the batch touched.
  */
object RevisitStream {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Seed the corpus state at `stateDir` with the initial crawl
    * corpus; `corpus` must carry (urlCol, bodyCol,
    * first_fetched/last_validated/is_active). */
  def initState(corpus: DataFrame, stateDir: String): Unit =
    corpus.write.mode("overwrite").parquet(stateDir)

  /** The accumulated corpus state (post any number of batches). */
  def state(spark: SparkSession, stateDir: String): DataFrame = {
    MicroBatchMerge.resolveState(spark, stateDir)
    spark.read.parquet(stateDir)
  }

  /** Apply ONE revisit batch: emit the batch's CDC rows, swap in the
    * merged state. */
  def applyBatch(spark: SparkSession, batch: DataFrame, urlCol: String,
                 statusCol: String, newBodyCol: String, bodyCol: String,
                 stateDir: String, now: Column,
                 onBatch: DataFrame => Unit = _ => ()): Unit = {
    MicroBatchMerge.resolveState(spark, stateDir)
    val corpus = spark.read.parquet(stateDir)
    val merged = graft.ext.UrlOps.revisitMerge(corpus, batch, urlCol,
      statusCol, newBodyCol, bodyCol, now)
    // CDC emission BEFORE the swap (replay safety): the post-merge
    // rows of exactly this batch's URLs — what downstream re-extract/
    // re-dedup/re-embed keys on. localCheckpoint pins the emission
    // AND the new state to one evaluation of the merge plan (the
    // emission must not re-read a swapped state dir lazily).
    val pinned = merged.localCheckpoint()
    onBatch(pinned.join(batch.select(col(urlCol)).distinct(),
      Seq(urlCol), "left_semi"))
    // body_changed is a PER-BATCH CDC fact (it compares against the
    // pre-batch body), not corpus state — emit it, never store it
    MicroBatchMerge.swapState(spark, stateDir,
      pinned.drop("body_changed"))
  }

  /** Start the loop: one [[applyBatch]] per micro-batch of revisit
    * answers. `nowFor` injects the per-cycle clock (batchId → now —
    * the F6 determinism discipline; wall-clock only if you ask). */
  def start(revisits: DataFrame, urlCol: String, statusCol: String,
            newBodyCol: String, bodyCol: String, stateDir: String,
            nowFor: Long => Column = _ => current_timestamp())(
      onBatch: DataFrame => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    revisits.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch.sparkSession, batch, urlCol, statusCol,
          newBodyCol, bodyCol, stateDir, nowFor(batchId), onBatch)
      }
      .start()

  // ------------------------------------------------------------------
  // The LOG-BACKED variant — the deployment-scale storage the plain
  // parquet swap above documents itself as standing in for: the corpus
  // lives as an APPEND-ONLY, URL-BUCKETED change log (one row per URL
  // version, stamped with the cycle seq), reads are latest-wins (max
  // seq per URL — a map-side-combining aggregate on the bucket key,
  // never an Exchange of the corpus), and a revisit batch costs ONE
  // batch-sized append: the merge runs against only the SLICE of
  // current state whose URLs the batch touched (semi-join pruned off
  // the bucketed scan), so nothing corpus-sized is rewritten OR
  // shuffled per cycle. `compactLog` is the maintenance rewrite that
  // folds history down to the live edge (run on the caller's cadence,
  // not per batch). Latest-wins state ≡ the swap-based state ≡ the
  // one-shot merge under the same batching (spec-pinned).
  // ------------------------------------------------------------------

  /** Seed the change log at `table` (url-bucketed) with the initial
    * corpus as seq-0 versions. */
  def initLog(corpus: DataFrame, urlCol: String, bodyCol: String,
              table: String, nBuckets: Int = 32): Unit = {
    graft.ext.Warehouse.resetTable(corpus.sparkSession, table)
    corpus.select(col(urlCol), col(bodyCol), col("first_fetched"),
        col("last_validated"), col("is_active"), lit(0L).as("__seq"))
      .write.format("parquet")
      .bucketBy(nBuckets, urlCol).sortBy(urlCol)
      .mode("overwrite").saveAsTable(table)
  }

  /** Latest-wins fold over a (pre-filtered) slice of the log: each
    * URL's highest-seq version. On the unfiltered log the aggregate
    * runs Exchange-free on the bucketed URL key; the struct max
    * orders by seq first (payload fields ride along). */
  private def latestWins(log: DataFrame, urlCol: String,
                         bodyCol: String): DataFrame =
    log.groupBy(col(urlCol))
      .agg(max(struct(col("__seq"), col(bodyCol).as("b"),
        col("first_fetched").as("ff"), col("last_validated").as("lv"),
        col("is_active").as("act"))).as("__v"))
      .select(col(urlCol), col("__v.b").as(bodyCol),
        col("__v.ff").as("first_fetched"),
        col("__v.lv").as("last_validated"),
        col("__v.act").as("is_active"))

  /** The live corpus: each URL's highest-seq version. */
  def logState(spark: SparkSession, table: String, urlCol: String,
               bodyCol: String): DataFrame = {
    spark.catalog.refreshTable(table)
    latestWins(spark.table(table), urlCol, bodyCol)
  }

  /** Apply ONE revisit batch to the log: merge against the CURRENT
    * state of only the batch's URLs, emit the CDC rows, append them
    * as seq-`seq` versions. `seq` must be strictly greater than any
    * applied seq (the streaming wrapper derives it; seq 0 is the
    * bootstrap). Replay contract: re-appending the same (urls, seq)
    * leaves latest-wins state unchanged — a duplicated version row
    * ties on seq with identical payload, so the max is stable — but
    * run [[compactLog]] to shed the dead rows. The contract REQUIRES
    * `now` deterministic per cycle (a fixed literal or a batchId
    * derivation, the F6 clock discipline): with wall-clock
    * `current_timestamp()` a retried cycle re-merges against its own
    * post-append state and appends a same-seq row whose
    * `last_validated` differs — the struct-max tie-break then picks an
    * arbitrary winner and [[graft.ext.IndexAudit.auditRevisitLog]]'s
    * `versions_consistent` check reads the legitimate at-least-once
    * retry as a writer race. */
  def applyBatchLog(spark: SparkSession, batch: DataFrame,
                    urlCol: String, statusCol: String,
                    newBodyCol: String, bodyCol: String, table: String,
                    seq: Long, now: Column,
                    onBatch: DataFrame => Unit = _ => ()): Unit = {
    // current state of ONLY the touched URLs: the batch's URL set
    // BROADCAST-semi-prunes the log scan BELOW the latest-wins fold,
    // so the per-cycle aggregate touches the touched URLs' version
    // rows, not the corpus — the log never exchanges and never folds
    // whole
    spark.catalog.refreshTable(table)
    val slice = latestWins(
      spark.table(table).join(
        broadcast(batch.select(col(urlCol)).distinct()),
        Seq(urlCol), "left_semi"),
      urlCol, bodyCol)
    val merged = graft.ext.UrlOps.revisitMerge(slice, batch, urlCol,
      statusCol, newBodyCol, bodyCol, now)
    val pinned = merged.localCheckpoint()
    onBatch(pinned)
    pinned.drop("body_changed").withColumn("__seq", lit(seq))
      .select(col(urlCol), col(bodyCol), col("first_fetched"),
        col("last_validated"), col("is_active"), col("__seq"))
      .write.mode("append").insertInto(table)
  }

  /** Start the log-backed loop: one [[applyBatchLog]] per micro-batch.
    *
    * Seq discipline — the "strictly greater than any applied seq"
    * contract must hold ACROSS RESTARTS, and batchId alone does not:
    * an uncheckpointed restart resets batchId to 0 while the log table
    * persists with higher seqs, and latest-wins would then silently
    * discard every fresh batch. Two restart-safe modes:
    *   - `checkpointLocation = Some(dir)` ([[MicroBatchMerge.start]]'s
    *     shape): batchId survives restarts in the stream checkpoint,
    *     so seq = batchId + 1 is monotone and a RETRIED batch
    *     re-appends under its own seq (latest-wins absorbs the
    *     duplicate — the at-least-once contract, given a
    *     deterministic `nowFor`, see [[applyBatchLog]]).
    *   - `checkpointLocation = None`: seq derives from the LOG ONCE at
    *     the first micro-batch (max stored `__seq` — one aggregate
    *     over the log's thin seq column; aggregate pushdown is off by
    *     default in Spark, so this IS a column scan of the log, which
    *     is why it runs once per stream, never per batch) and then
    *     increments in a driver-side counter — the single-writer
    *     contract already guarantees no other appender moves the max,
    *     so counter monotonicity ≡ stored monotonicity. A fresh
    *     stream over a persisted log therefore always appends ABOVE
    *     the applied history, including right after a [[compactLog]]
    *     (which resets stored seqs to 0; an in-loop compaction never
    *     lowers the counter, so later batches stay above it too).
    *     Single-writer-per-table is the append contract either way
    *     (the persisted-index family rule). */
  def startLog(revisits: DataFrame, urlCol: String, statusCol: String,
               newBodyCol: String, bodyCol: String, table: String,
               nowFor: Long => Column = _ => current_timestamp(),
               checkpointLocation: Option[String] = None,
               compactEvery: Int = 0)(
      onBatch: DataFrame => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // derived-seq mode's counter: initialized lazily from the log at
    // the FIRST batch (the table must exist by then — initLog seeds
    // it), bumped per batch after. foreachBatch bodies run serially on
    // the driver, so a plain var needs no synchronization.
    var derivedSeq: Long = -1L
    val w = revisits.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val seq =
          if (checkpointLocation.isDefined) batchId + 1
          else {
            if (derivedSeq < 0L) {
              spark.catalog.refreshTable(table)
              derivedSeq = spark.table(table)
                .agg(coalesce(max(col("__seq")), lit(0L))).head.getLong(0)
            }
            derivedSeq += 1
            derivedSeq
          }
        applyBatchLog(spark, batch, urlCol, statusCol,
          newBodyCol, bodyCol, table, seq, nowFor(batchId), onBatch)
        // cadence maintenance inside the loop: every Nth batch folds
        // the log to its live edge (staged rewrite, state unchanged).
        // Safe in both seq modes: derived seq reads max(__seq)+1 = 1
        // off the compacted log, and a checkpointed batchId+1 is
        // always > 0.
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactLog(spark, table, urlCol, bodyCol)
        ()
      }
    checkpointLocation
      .fold(w)(dir => w.option("checkpointLocation", dir))
      .start()
  }

  /** Fold the log down to its live edge (latest version per URL,
    * re-stamped seq 0) in the same bucket layout — the maintenance
    * rewrite a long-running loop schedules on its own cadence. State
    * before ≡ state after (spec-pinned). Staged through
    * `<table>__compact` ([[graft.ext.Warehouse.stagedOverwrite]]):
    * the live edge is CORPUS-sized, so it must never be pinned in
    * executor storage to dodge the read-own-input overwrite — the
    * stage table is the durable intermediate, and the rewrite
    * survives executor loss. `nBuckets = 0` (the default) keeps the
    * table's OWN bucket count — a maintenance rewrite must never
    * silently re-layout the table out from under its Exchange-free
    * readers. */
  def compactLog(spark: SparkSession, table: String, urlCol: String,
                 bodyCol: String, nBuckets: Int = 0): Unit = {
    val n =
      if (nBuckets > 0) nBuckets
      else spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
        .bucketSpec.map(_.numBuckets).getOrElse(32)
    graft.ext.Warehouse.stagedOverwrite(spark, table,
      logState(spark, table, urlCol, bodyCol)
        .withColumn("__seq", lit(0L))
        .select(col(urlCol), col(bodyCol), col("first_fetched"),
          col("last_validated"), col("is_active"), col("__seq")),
      n, Seq(urlCol), Seq(urlCol))
  }
}

/** The crawl CYCLE as a micro-batch loop — the composition q198 proves
  * as a batch fixpoint, lifted to the reference's scheduled cadence
  * (reference `project/etl2.py:462-467`): each micro-batch is one full
  * cycle against the SAME persisted artifacts the batch capstone reads
  * — the robots cache ([[graft.ext.RobotsCache]]: TTL gate, then the
  * gate's refetch order executed), the revisit change LOG
  * ([[RevisitStream.applyBatchLog]]: the cycle's fetch answers as one
  * seq-stamped append), and the per-cycle gate actions appended to a
  * GATES table so downstream consumers (and the parity spec) read the
  * cycle history as a relation. Cycle N+1 consumes nothing but what
  * cycle N stored — the fixpoint property — so a 2-cycle stream is
  * bit-identical to q198's one-plan batch replay over the same
  * schedule (spec-pinned, the ReleasePipeline discipline).
  *
  * Replay safety (foreachBatch is at-least-once): the log append
  * absorbs a retried cycle under latest-wins (same seq, same
  * deterministic `nowFor` — [[RevisitStream.applyBatchLog]]'s
  * contract); the robots refetch re-appends the same
  * (host, as-of) stamp, which leaves every latest-wins read unchanged
  * (the fsck's uniqueness check surfaces the replay for operators);
  * gates re-append under the same cycle id — readers take DISTINCT
  * (cycle_id, link_host, action), which the re-append cannot change.
  * Restart-safety rides the standard checkpointLocation path: a
  * committed cycle never re-fires.
  *
  * Scale shape, per cycle: the gate is a host-sized join against the
  * bucketed cache; the answers append is batch-sized against the
  * bucketed log (semi-pruned merge slice); compaction (every
  * `compactEvery` cycles) stages through `__compact` tables. Nothing
  * corpus-sized shuffles or rewrites outside the staged maintenance.
  */
object CrawlCycleStream {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** One crawl cycle per `cycles` row — `(cycle_id, as_of_micros)`,
    * cycle ids strictly increasing and ≥ 1 (they stamp the log's seq).
    * `frontier` is the static collapsed schedule
    * `(link_host, rank, url_canon)`; `statusFor(proceedSchedule,
    * cycleId)` simulates/performs the cycle's fetches and returns
    * `(url_canon, http_status, http_body)`; `robotsBody` is the body a
    * held host's robots refetch stores; `nowFor` is the injectable
    * per-cycle clock (the F6 discipline — deterministic per cycle, or
    * replay breaks [[RevisitStream.applyBatchLog]]'s contract).
    *
    * `compTable`/`prTable` opt the loop into the q204 scheduler
    * consumption — the cycle probing the same persisted artifacts the
    * batch decision row reads: with `compTable`
    * ([[graft.ext.Graph.writeComponents]]) a mirror-DUPLICATE host's
    * gate action records as `mirror_duplicate` and the host spends
    * nothing that cycle — no robots refetch, no fetches, no log rows
    * (an uncollapsed frontier can feed the loop directly; a rebuild of
    * the artifact changes the very next cycle's evictions); with
    * `prTable` ([[graft.ext.Graph.writePageRank]]) every gate row
    * additionally records the host's stored `authority_micro` (0 where
    * uncovered — the q203 drift condition written into cycle history),
    * so each cycle's dispatch order is reconstructible from the GATES
    * table alone. Both default off; the default path is byte-identical
    * to rounds 15–16 (the q198 parity pin). */
  def start(cycles: DataFrame, frontier: DataFrame, rtable: String,
            ltable: String, gtable: String, robotsBody: Column,
            statusFor: (DataFrame, Long) => DataFrame,
            nowFor: Long => Column, ttlHours: Long = 24L,
            compactEvery: Int = 0,
            checkpointLocation: Option[String] = None,
            compTable: Option[String] = None,
            prTable: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = cycles.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // bounded collect: one row per CYCLE (a scheduling tick), never
        // per URL; a batch may carry several ticks — run them in order
        val ticks = batch.select(col("cycle_id").cast("long"),
            col("as_of_micros").cast("long"))
          .collect().sortBy(_.getLong(0))
        ticks.foreach { tick =>
          val cid = tick.getLong(0)
          val asOf = tick.getLong(1)
          val budget = frontier.groupBy(col("link_host"))
            .agg(count(lit(1)).as("n_budgeted"))
          val gate0 = graft.ext.RobotsCache.ttlGate(spark, budget,
              "link_host", rtable, asOf, ttlHours)
            .select(col("link_host"), col("action"))
          // the components artifact consumed in-loop: a duplicate
          // host's budget dies HERE, before robots or fetches
          val gate = compTable.fold(gate0) { ct =>
            val meta = spark.table(s"${ct}_meta").head
            val idCol = meta.getString(meta.fieldIndex("id_col"))
            gate0.join(graft.ext.Graph.loadComponents(spark, ct)
                .select(col(idCol).as("link_host"), col("component")),
              Seq("link_host"), "left")
              .withColumn("action",
                when(coalesce(col("component"), col("link_host"))
                  =!= col("link_host"), lit("mirror_duplicate"))
                  .otherwise(col("action")))
              .drop("component")
          }.localCheckpoint() // host-sized; four consumers below
          // the authority artifact consumed in-loop: cycle history
          // carries the stored rank (0 = uncovered, the drift signal)
          val gateRow = prTable.fold(
            gate.select(lit(cid).as("cycle_id"), col("link_host"),
              col("action"))) { pt =>
            val idCol = graft.ext.Graph.pageRankIdCol(spark, pt)
            gate.join(graft.ext.Graph.loadPageRank(spark, pt)
                .select(col(idCol).as("link_host"), col("pr_micro")),
              Seq("link_host"), "left")
              .select(lit(cid).as("cycle_id"), col("link_host"),
                col("action"),
                coalesce(col("pr_micro"), lit(0L)).as("authority_micro"))
          }
          gateRow
            .write.mode("append").format("parquet").saveAsTable(gtable)
          val sch = frontier.join(gate, Seq("link_host"))
          val ans = statusFor(
            sch.filter(col("action") === "proceed"), cid)
          RevisitStream.applyBatchLog(spark, ans, "url_canon",
            "http_status", "http_body", "body", ltable, seq = cid,
            nowFor(cid))
          // the gate's order executed: held hosts refetch robots now
          graft.ext.RobotsCache.refresh(
            gate.filter(col("action") === "refetch_robots_first")
              .select(col("link_host").as("host"),
                lit(asOf).as("fetched_at_micros"),
                robotsBody.as("robots_body")),
            "host", "fetched_at_micros", "robots_body", rtable)
          if (compactEvery > 0 && cid % compactEvery == 0) {
            RevisitStream.compactLog(spark, ltable, "url_canon", "body")
            graft.ext.RobotsCache.compact(spark, rtable)
          }
        }
        ()
      }
    checkpointLocation
      .fold(w)(dir => w.option("checkpointLocation", dir))
      .start()
  }

  /** The recorded per-cycle gate actions, deduplicated (a retried
    * cycle re-appends identical rows): `(cycle_id, link_host,
    * action)`. */
  def gates(spark: SparkSession, gtable: String): DataFrame = {
    spark.catalog.refreshTable(gtable)
    spark.table(gtable).distinct()
  }

  /** Incremental mirror discovery inside the loop — the streaming
    * consumer of the persisted mirror-hash relation
    * ([[graft.ext.Dedup.writeMirrorHashes]]): each micro-batch of
    * fetched `(host, text)` pages APPENDS its new distinct
    * (host, content-hash) rows ([[graft.ext.Dedup.appendMirrorHashes]]
    * — batch-sized, bucket-semi-pruned; a re-fetched unchanged body
    * adds nothing, so the store stays the union's distinct and replay
    * is a no-op), then checks the components artifact for DRIFT
    * against the updated pair universe
    * ([[graft.ext.IndexAudit.driftComponents]]) and hands the report
    * to `onDrift` — the q201 rebuild trigger, surfaced per cycle
    * instead of per audit run.
    *
    * Scale shape: the pair lift probes the BATCH'S hosts only
    * ([[graft.ext.Dedup.mirrorPairsForHosts]] — bit-identical to the
    * full lift filtered to batch-involving pairs, at probe-sized cost
    * instead of a store-wide self-join per politeness window): a new
    * mirror member is by definition a host of the batch that
    * introduces it, so batch-scoped pairs surface every introduction
    * the cycle it lands; the periodic full
    * [[graft.ext.Dedup.mirrorPairsFromIndex]] + drift audit owns
    * completeness (the [[linkIngestStream]] split).
    */
  def mirrorIngestStream(pages: DataFrame, hostCol: String,
                         textCol: String, hashTable: String,
                         compTable: String, minShared: Long = 2L,
                         maxHostsPerHash: Int = 50)(
      onDrift: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    pages.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.ext.Dedup.appendMirrorHashes(batch, hostCol, textCol,
          hashTable)
        val pairs = graft.ext.Dedup.mirrorPairsForHosts(spark,
          hashTable, batch.select(col(hostCol)), hostCol,
          minShared, maxHostsPerHash)
        val nodes = pairs.select(col("host_a").as("host"))
          .union(pairs.select(col("host_b").as("host"))).distinct()
        onDrift(graft.ext.IndexAudit.driftComponents(spark, compTable,
          nodes, "host"), batchId)
        ()
      }
      .start()

  /** Incremental link discovery inside the loop — the
    * [[mirrorIngestStream]] discipline applied to the authority
    * family: each micro-batch of newly discovered `(src, dst)` links
    * APPENDS its new distinct pairs to the persisted link relation
    * ([[graft.ext.Graph.appendHostLinks]] — batch-sized,
    * bucket-semi-pruned; a re-crawled page re-emitting known links
    * adds nothing, so the store stays the union's distinct and replay
    * is a no-op), then checks the PageRank artifact for DRIFT against
    * the updated endpoint universe
    * ([[graft.ext.IndexAudit.driftPageRank]]) and hands the report to
    * `onDrift` — the q203 rebuild trigger
    * ([[graft.ext.Graph.rebuildPageRank]] from the stored relation),
    * surfaced per cycle instead of per audit run.
    *
    * Scale shape: the drift check probes the BATCH'S endpoints only —
    * a new host is by definition an endpoint of the batch that
    * introduces it, so batch-scoped coverage surfaces every
    * introduction the cycle it lands while keeping the per-batch cost
    * batch-sized (a store-wide endpoint distinct would re-scan the
    * 10⁷-edge relation every politeness window). A trigger the loop
    * drops anyway resurfaces on the next periodic
    * [[graft.ext.IndexAudit.driftPageRank]] audit over the full
    * store — the stream surfaces introductions, the fsck run owns
    * completeness. */
  def linkIngestStream(links: DataFrame, srcCol: String,
                       dstCol: String, linkTable: String,
                       prTable: String)(
      onDrift: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    links.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.ext.Graph.appendHostLinks(batch, srcCol, dstCol,
          linkTable)
        val nodes = batch.select(col(srcCol).cast("string").as("host"))
          .union(batch.select(col(dstCol).cast("string").as("host")))
          .distinct()
        onDrift(graft.ext.IndexAudit.driftPageRank(spark, prTable,
          nodes, "host"), batchId)
        ()
      }
      .start()
}
