package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical (BM25) retrieval and hybrid dense+lexical rank fusion — the
  * serving-side counterpart of the corpus-curation operators: the same
  * engine that deduplicates and scores a training corpus also has to
  * answer "which documents match this query" for decontamination
  * auditing, eval-set mining, and RAG-style selection.
  *
  * Numerics follow the bigram-LM convention (`TextOps.bigramLmScore`):
  * every per-term contribution is computed in INTEGER micro-units with
  * floor division (`div` here ≡ `//` in DuckDB), so the per-document
  * sum is exact long arithmetic — bit-identical in any engine and under
  * any partial-aggregation order. The only floating-point op is the ONE
  * `ln` per query term for IDF, rounded to micro on a query-terms-sized
  * relation before it ever meets the corpus. (Long micro-units bound
  * exactness at ~9·10¹² total tokens under the `1e6·dl·N` product;
  * ANSI mode fails loudly beyond — same contract as the LM scorer.)
  *
  * Scale shape: document length is a zero-shuffle projection; the
  * term-frequency aggregate runs AFTER an `isin(queryTerms)` filter, so
  * the only shuffle carries (doc, query-term) token instances — query
  * terms are a handful, so this is a sliver of the corpus token stream.
  * Corpus scalars (N docs, T tokens) and per-term IDF are tiny broadcast
  * relations. The final top-k is sort+limit (TakeOrderedAndProject),
  * never a global window over the scored relation.
  */
object Retrieval {

  /** Okapi BM25 with the Lucene-style non-negative IDF
    * `ln((N - df + 0.5)/(df + 0.5) + 1)` and the standard k1=1.2,
    * b=0.75 — fixed here as exact integer scaling constants (k1+1 →
    * 2_200_000 micro, k1·(1−b) → 300_000 micro, k1·b → 0.9 expressed as
    * `(9·x) div 10`) so the rational part of the score needs no floats.
    *
    * Returns one row per document that matches ≥1 query term:
    * (idCol, bm25_micro, bm25). Terms absent from the corpus simply
    * contribute nothing (df=0 rows never exist), matching the oracle.
    */
  def bm25Score(df: DataFrame, idCol: String, textCol: String,
                queryTerms: Seq[String]): DataFrame =
    bm25ScoreTokens(df.select(col(idCol),
        TextOps.tokens(lower(col(textCol))).as("__toks")),
      idCol, "__toks", queryTerms)

  /** [[bm25Score]] over a PRE-TOKENIZED (idCol, toksCol: array<string>)
    * relation — the form a caller uses when several scoring legs share
    * one materialized tokenization of the corpus instead of each
    * re-tokenizing (and, under a repartition head, re-shuffling) the
    * document payload. Numerics are byte-identical to [[bm25Score]]:
    * the token arrays are exactly `TextOps.tokens(lower(text))`. */
  def bm25ScoreTokens(tokArr: DataFrame, idCol: String, toksCol: String,
                      queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val toks = tokArr.select(col(idCol), explode(col(toksCol)).as("term"))
    val dl = tokArr.select(col(idCol),
      size(col(toksCol)).cast("long").as("dl"))
    // only query-term instances survive into the shuffle
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    bm25FromTf(tf, dl, idCol)
  }

  /** A term's micro-unit IDF from the `n` and `df` columns: the single
    * `ln` site of every BM25 scorer, rounded to micro before it meets
    * any document. */
  private def idfMicro: Column =
    round(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
      * 1000000L).cast("long")

  /** Each row's BM25 contribution `__contrib`, in micro-units, from its
    * `tf`, `dl`, the corpus scalars `n` and `t`, and `idf_micro`: every
    * BM25 scorer's one formula. dl/avgdl in micro is (1e6·dl·N) div T;
    * the tf-norm numerator and denominator are micro integers too. */
  private def withBm25Contrib(rows: DataFrame): DataFrame = rows
    .withColumn("__dlnorm", expr("(1000000 * dl * n) div t"))
    .withColumn("__denom",
      expr("1000000 * tf + 300000 + (9 * __dlnorm) div 10"))
    .withColumn("__tfnorm", expr("(1000000 * (2200000 * tf)) div __denom"))
    .withColumn("__contrib", expr("(idf_micro * __tfnorm) div 1000000"))

  /** The shared micro-integer BM25 tail over a prepared (id, term,
    * tf) relation and an (id, dl) length relation — [[bm25Score]]'s
    * single-field form and [[bm25FieldedScore]]'s weighted-field form
    * differ only in how they build these two inputs. */
  private def bm25FromTf(tf: DataFrame, dl: DataFrame, idCol: String)
      : DataFrame = {
    // corpus scalars: one partial-combinable aggregate, 1 row
    val corpus = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    // per-term document frequency + micro-IDF: |queryTerms| rows, the
    // single ln site, rounded to micro before touching the corpus
    val idf = tf.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("df"))
      .crossJoin(broadcast(corpus))
      .withColumn("idf_micro", idfMicro)
      .select(col("term"), col("idf_micro"))
    val contribs = withBm25Contrib(tf
      .join(dl, Seq(idCol))
      .join(broadcast(idf), Seq("term"))
      .crossJoin(broadcast(corpus)))
    contribs.groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("bm25_micro"))
      .withColumn("bm25", col("bm25_micro") / 1e6)
  }

  /** Fielded BM25 (BM25F-lite — Robertson/Zaragoza/Taylor 2004's
    * weighted-field simplification, the Lucene per-field-boost
    * shape): a document's searchable text is its BODY plus the
    * INBOUND ANCHOR TEXT the web wrote about it
    * ([[graft.ext.UrlOps.extractAnchorTexts]]' q179 rollup — anchor
    * text has ranked targets since the original PageRank paper).
    * Integer field weights fold into term frequency AND length
    * normalization before the shared BM25 tail:
    * `tf' = wB·tf_body + wA·Σ(n·tf_anchor)`,
    * `dl' = wB·dl_body + wA·Σ(n·len_anchor)`; IDF is the document
    * frequency of the MERGED field (a doc "contains" a term if either
    * field does). All longs — exact in any partial-agg order.
    *
    * `anchors`: an (idCol, anchorTextCol, weightCol) relation — one
    * row per (target, normalized text) with its mention count,
    * exactly q179's output shape keyed to the corpus.
    *
    * Scale: both token streams filter to query terms BEFORE their tf
    * aggregates; the field merge is a full-outer on (id, term) over
    * query-term rows only; dl' is one map-side-combining aggregate
    * per field; the anchor relation is corpus-shaped but thin. */
  def bm25FieldedScore(df: DataFrame, idCol: String, textCol: String,
      anchors: DataFrame, anchorTextCol: String, weightCol: String,
      queryTerms: Seq[String], wBody: Long = 1L, wAnchor: Long = 2L)
      : DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val bToks = df.select(col(idCol),
      explode(TextOps.tokens(lower(col(textCol)))).as("term"))
    val bTf = bToks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf_b"))
    val aToks = anchors.select(col(idCol),
      col(weightCol).cast("long").as("__w"),
      explode(TextOps.tokens(lower(col(anchorTextCol)))).as("term"))
    val aTf = aToks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(sum(col("__w")).as("tf_a"))
    val tf = bTf.join(aTf, Seq(idCol, "term"), "full_outer")
      .select(col(idCol), col("term"),
        (lit(wBody) * coalesce(col("tf_b"), lit(0L)) +
          lit(wAnchor) * coalesce(col("tf_a"), lit(0L))).as("tf"))
    val bDl = df.select(col(idCol),
      (size(TextOps.tokens(lower(col(textCol)))).cast("long") *
        wBody).as("dl_b"))
    val aDl = anchors.select(col(idCol),
        (col(weightCol).cast("long") *
          size(TextOps.tokens(lower(col(anchorTextCol)))).cast("long"))
          .as("__adl"))
      .groupBy(col(idCol)).agg(sum(col("__adl")).as("dl_a"))
    val dl = bDl.join(aDl, Seq(idCol), "left_outer")
      .select(col(idCol),
        (col("dl_b") + lit(wAnchor) * coalesce(col("dl_a"), lit(0L)))
          .as("dl"))
    bm25FromTf(tf, dl, idCol)
  }

  /** Top-k BM25 retrieval: score, then sort+limit (distributed
    * TakeOrderedAndProject) and attach ranks with a window over ONLY the
    * k surviving rows. Ties break on ascending id — total order, so the
    * output is hash-pinnable cross-engine.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val top = bm25Score(df, idCol, textCol, queryTerms)
      .orderBy(col("bm25_micro").desc, col(idCol))
      .limit(k)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("bm25_micro").desc, col(idCol))))
      .select(col(idCol), col("rank"), col("bm25_micro"), col("bm25"))
  }

  /** BM25 against a RELATION of per-query term sets — the
    * "more-like-this" form that powers hybrid retrieval: `queryTerms`
    * is a (queryCol, term) relation (e.g. the distinct tokens of each
    * query document), and every (query, document) pair sharing ≥1 term
    * gets a score. Same integer-micro numerics as [[bm25Score]]; IDF is
    * the corpus document frequency of each term (query-independent, as
    * BM25 defines it), computed once over the union of all query terms.
    *
    * Scale shape: the union of query terms and the per-query term sets
    * are broadcast (queries are few); the corpus token stream is
    * filtered to those terms BEFORE the tf aggregate, so the only
    * corpus-sized shuffle carries matching (doc, term) instances. The
    * scored relation is (queries × matching docs) — rank it with
    * [[rankTopK]]'s per-query window, which partitions by query.
    *
    * Returns (queryCol, idCol, bm25_micro, bm25).
    */
  def bm25ScorePerQuery(df: DataFrame, idCol: String, textCol: String,
                        queryTerms: DataFrame,
                        queryCol: String): DataFrame =
    bm25ScorePerQueryTokens(df.select(col(idCol),
        TextOps.tokens(lower(col(textCol))).as("__toks")),
      idCol, "__toks", queryTerms, queryCol)

  /** [[bm25ScorePerQuery]] over a PRE-TOKENIZED (idCol, toksCol:
    * array<string>) relation. The hybrid-retrieval queries feed their
    * lexical leg, qterms derivation AND passage extraction from ONE
    * materialized tokenization — without this form each leg re-scans
    * and (under a repartition head) re-shuffles the full document
    * payload: q124's r16 plan carried 8 independent full-corpus
    * REPARTITION_BY_NUM exchanges, one per consumer. Numerics are
    * byte-identical to [[bm25ScorePerQuery]]. */
  def bm25ScorePerQueryTokens(tokArr: DataFrame, idCol: String,
                              toksCol: String, queryTerms: DataFrame,
                              queryCol: String): DataFrame =
    bm25ScorePerQueryFromToks(
      tokArr.select(col(idCol), explode(col(toksCol)).as("term")),
      tokArr.select(col(idCol), size(col(toksCol)).cast("long").as("dl")),
      idCol, queryTerms, queryCol)

  /** [[bm25ScorePerQuery]] over PRE-EXPLODED token instances `toks`
    * (idCol, term) and a document-length relation `dl` (idCol, dl) —
    * the narrowest shared-head form: a caller materializes the flat
    * token stream ONCE (skinny string rows, cheap to rescan) and every
    * scoring leg aggregates from it. Equality contract: `toks` must
    * hold exactly the exploded `TextOps.tokens(lower(text))` instances
    * and `dl` each document's token count, which makes the output
    * byte-identical to [[bm25ScorePerQuery]]. */
  def bm25ScorePerQueryFromToks(toks: DataFrame, dl: DataFrame,
                                idCol: String, queryTerms: DataFrame,
                                queryCol: String): DataFrame = {
    val qt = queryTerms.select(col(queryCol), col("term")).distinct()
    val allTerms = qt.select(col("term")).distinct()
    val corpus = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    val tf = toks.join(broadcast(allTerms), Seq("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("df"))
      .crossJoin(broadcast(corpus))
      .withColumn("idf_micro", idfMicro)
      .select(col("term"), col("idf_micro"))
    withBm25Contrib(tf.join(broadcast(qt), Seq("term"))
        .join(dl, Seq(idCol))
        .join(broadcast(idf), Seq("term"))
        .crossJoin(broadcast(corpus)))
      .groupBy(col(queryCol), col(idCol))
      .agg(sum(col("__contrib")).as("bm25_micro"))
      .withColumn("bm25", col("bm25_micro") / 1e6)
  }

  /** Per-query top-k over a scored relation: row_number windowed BY
    * QUERY (never global) with the `(score desc, id asc)` total
    * tie-break every ranked operator in this repo uses. */
  def rankTopK(scored: DataFrame, queryCol: String, idCol: String,
               scoreCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Build the corpus ONCE into a persisted BM25 postings index — the
    * serving-side split of [[bm25TopK]], on the persisted-index pattern
    * of `Dedup.writeMinhashIndex` / `TextOps.writeBigramLm`: `table`
    * holds one posting row per (term, doc) with the PER-ROW facts
    * scoring needs — tf and the doc's length — bucketed+sorted by term
    * so a probe with an `isin` on the term column reads ONLY the
    * matching buckets (Spark bucket pruning) and needs no second
    * corpus join for lengths. `<table>_meta` holds the two corpus
    * scalars (N docs, T tokens) and the id column's name (so probes
    * never bind positionally).
    *
    * A term's document frequency is deliberately NOT denormalized onto
    * the rows: df is a CORPUS-level statistic that every append would
    * shift on rows already written (un-rewritable in a bucketed
    * table), and the probe gets it exactly and for free by counting
    * rows per term over the very scan it already makes — a window
    * partitioned by the bucket key, no extra Exchange. That is what
    * makes [[appendToBm25Index]] a pure postings-insert + meta bump,
    * with nothing stale left behind.
    *
    * dl/meta are derived from the SAVED postings so the artifacts can
    * never disagree with each other.
    */
  def writeBm25Index(df: DataFrame, idCol: String, textCol: String,
                     table: String, nBuckets: Int = 32): Unit = {
    bm25Postings(df, idCol, textCol)
      .write.format("parquet")
      .bucketBy(nBuckets, "term").sortBy("term", idCol)
      .mode("overwrite").saveAsTable(table)
    // corpus scalars from the SAVED postings (dl once per doc), plus
    // the id column's NAME — probes read it back rather than assuming
    // the postings' select order (a positional columns(1) would misbind
    // silently if the postings schema ever gained or moved a column)
    val saved = df.sparkSession.table(table)
    saved.groupBy(col(idCol)).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
      .withColumn("id_col", lit(idCol))
      .write.format("parquet").mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** One posting row per (term, doc): tf + the doc's token length —
    * the shared projection behind [[writeBm25Index]] and
    * [[appendToBm25Index]]. */
  private def bm25Postings(df: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(TextOps.tokens(lower(col(textCol)))).as("term"))
    val dl = df.select(col(idCol),
      size(TextOps.tokens(lower(col(textCol)))).cast("long").as("dl"))
    toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .join(dl, Seq(idCol))
      .select(col("term"), col(idCol), col("tf"), col("dl"))
  }

  /** Append a new document batch to a persisted BM25 index — the
    * incremental-maintenance half of the continuous-ingest retrieval
    * loop ([[graft.ext.Dedup.appendToMinhashIndex]]'s pattern): the
    * batch's postings land via `insertInto`, which honors the table's
    * term bucket spec, so appended files join the same bucket layout
    * the probe's pruned scan relies on; the meta scalars then bump by
    * the batch's own (n, t) — an O(batch) maintenance step, never an
    * index-sized scan. Because rows carry no corpus-level statistic
    * (see [[writeBm25Index]]), nothing previously written goes stale:
    * probe-time df counts span old and new postings alike, so an
    * append-then-probe is bit-identical to a one-shot build over the
    * union (spec-pinned).
    *
    * Append contract (hard requirement, like every persisted-index
    * append in this family): batch ids must be NEW to the index (the
    * ingest loop's dedup contract — same as the MinHash append); a
    * re-appended id would double its postings, which `auditBm25`'s
    * uniqueness check trips.
    *
    * Meta is RECOMPUTED FROM THE POSTINGS after the insert (the
    * `IndexAudit.repairBm25Meta` computation inlined — one aggregate
    * over the postings' thin (id, dl) projection), never bumped by a
    * read-modify-write: the postings are the single source of truth,
    * so meta cannot silently diverge from them. That also makes the
    * append SELF-HEALING — a crash between a previous insert and its
    * meta write leaves meta stale only until the next append (or an
    * explicit `repairBm25Meta`), and `auditBm25`
    * (`meta_n_docs`/`meta_total_tokens`) trips on the window in
    * between; run fsck-then-mount after any unclean shutdown (the
    * serving routes' discipline). Appends still serialize per table
    * (the persisted-index family's write discipline — streaming
    * ingest serializes micro-batches per query), but a lost meta
    * update no longer loses an increment forever.
    */
  def appendToBm25Index(df: DataFrame, idCol: String, textCol: String,
                        table: String): Unit = {
    val spark = df.sparkSession
    val metaIdCol = bm25Meta(spark, table).idCol
    require(metaIdCol == idCol,
      s"append to $table with id column '$idCol', but the index was " +
        s"built over '$metaIdCol' — postings would key two id spaces")
    bm25Postings(df, idCol, textCol).write.mode("append").insertInto(table)
    // the insert invalidated cached listings; re-list before the
    // recompute so the aggregate sees the appended files
    spark.catalog.refreshTable(table)
    val r = spark.table(table)
      .groupBy(col(idCol)).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("t")).head
    import spark.implicits._
    Seq((r.getLong(0), r.getLong(1), idCol))
      .toDF("n", "t", "id_col").coalesce(1)
      .write.format("parquet").mode("overwrite")
      .saveAsTable(s"${table}_meta")
    // in-flight readers (a serving stream's next micro-batch) must
    // re-list files: the meta OVERWRITE replaces its parquet file,
    // and a stale cached listing dies with FILE_NOT_EXIST
    spark.catalog.refreshTable(s"${table}_meta")
  }

  /** What a probe reads from `<table>_meta`: the indexed corpus' id
    * column and its two scalars, `n` documents and `t` tokens. */
  private final case class Bm25Meta(idCol: String, n: Long, t: Long)

  /** The [[Bm25Meta]] recorded by [[writeBm25Index]]; the id column falls
    * back to the postings' second column for indexes persisted before
    * the name was recorded, and an empty index's null `t` reads 0. Read
    * once per version of the postings and meta
    * ([[graft.io.VersionMemo]]), which also refreshes both tables in
    * this session whenever their files have moved: appends may land
    * from another session (a streaming ingest clone), and a probe that
    * calls this first serves the grown corpus. A warm call with unmoved
    * files runs no job and no refresh.
    */
  private def bm25Meta(spark: org.apache.spark.sql.SparkSession,
                       table: String): Bm25Meta =
    graft.io.VersionMemo.table(spark, "bm25-meta",
        Seq(table, s"${table}_meta")) {
      val meta = spark.table(s"${table}_meta")
      val named = meta.columns.contains("id_col")
      val r = meta.select(col("n"), coalesce(col("t"), lit(0L)),
        if (named) col("id_col") else lit(null).cast("string")).head
      Bm25Meta(if (named) r.getString(2) else spark.table(table).columns(1),
        r.getLong(0), r.getLong(1))
    }

  /** The postings of `terms` in the index at `table`, each row carrying
    * its term's document frequency `df` and the corpus scalars `n` and
    * `t` as literals, ready for [[withBm25Contrib]]. `df` is
    * `count(1) over (partition by term)` on the term-bucketed scan: one
    * posting row per (term, doc) makes the row count the document
    * frequency, exact across appends, and the window needs no exchange
    * while the scan keeps its buckets. A legacy denormalized `df` column
    * is dropped in its favor. */
  private def bm25Matched(spark: org.apache.spark.sql.SparkSession,
                          table: String, meta: Bm25Meta,
                          terms: Seq[String]): DataFrame =
    spark.table(table).drop("df")
      .filter(if (terms.isEmpty) lit(false) else col("term").isin(terms: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("n", lit(meta.n))
      .withColumn("t", lit(meta.t))
      .withColumn("idf_micro", idfMicro)

  /** Probe a PERSISTED BM25 index ([[writeBm25Index]]) with a query
    * term set — bit-identical scores to the one-shot [[bm25TopK]] over
    * the indexed corpus (spec-pinned). The probe plan touches only the
    * query terms' buckets: an `isin` filter on the bucketed term column
    * (bucket-pruned scan). `n` and `t` come from `<table>_meta` through
    * the version memo and enter the plan as literals; each term's `df`
    * is a window count over that same pruned scan ([[bm25Matched]]).
    * Nothing corpus-sized shuffles at query time: one exchange, of the
    * matched postings' contributions by document, for the per-doc sum.
    */
  def bm25ProbeTopK(spark: org.apache.spark.sql.SparkSession,
                    table: String, queryTerms: Seq[String],
                    k: Int): DataFrame = {
    require(queryTerms.nonEmpty && k > 0, "need query terms and k > 0")
    // first: re-lists both relations if another session appended
    val meta = bm25Meta(spark, table)
    val idCol = meta.idCol
    val top = withBm25Contrib(bm25Matched(spark, table, meta, queryTerms))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("bm25_micro"))
      .withColumn("bm25", col("bm25_micro") / 1e6)
      .orderBy(col("bm25_micro").desc, col(idCol))
      .limit(k)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("bm25_micro").desc, col(idCol))))
      .select(col(idCol), col("rank"), col("bm25_micro"), col("bm25"))
  }

  /** Probe a PERSISTED BM25 index with a BATCH OF QUERIES given as raw
    * text — the serving loop's inner operator (and the body of
    * `EventStreams.bm25QueryStream`): each query's distinct tokens form
    * its term set, scores come from the postings exactly as
    * [[bm25ProbeTopK]] (`n` and `t` from the memoized meta, per-term df
    * a window count over the pruned scan), ranked per query. The union
    * of the distinct terms is collected to drive an `isin` filter on the
    * bucketed term column — a BOUNDED collect (one micro-batch of
    * queries, each contributing its distinct tokens), which is what buys
    * the bucket-pruned scan; the per-(query, doc) scoring itself stays
    * fully distributed.
    *
    * Against a static index, probing queries in batches is pure: the
    * union of per-batch outputs equals one probe of all queries
    * (spec-pinned) — df/dl/meta live in the index, so no batch can
    * shift another's scores.
    */
  def bm25ProbePerQuery(spark: org.apache.spark.sql.SparkSession,
                        table: String, queries: DataFrame,
                        queryIdCol: String, textCol: String,
                        k: Int, excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // first: cross-session append visibility (see bm25Meta)
    val meta = bm25Meta(spark, table)
    val idCol = meta.idCol
    val qt = queries.select(col(queryIdCol),
        explode(array_distinct(TextOps.tokens(lower(col(textCol)))))
          .as("term"))
      .filter(length(col("term")) > 0)
    val terms = qt.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    // df is counted over the pruned scan BEFORE the query join, so a
    // term shared by many queries counts its postings once
    val scored = withBm25Contrib(bm25Matched(spark, table, meta, terms)
        .join(broadcast(qt), Seq("term")))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__contrib")).as("bm25_micro"))
    // self-exclusion BEFORE ranking (more-like-this serving, where
    // queries are corpus members — the q130 convention)
    val pool = if (excludeSelf) scored.filter(col(queryIdCol) =!= col(idCol))
      else scored
    rankTopK(pool, queryIdCol, idCol, "bm25_micro", k)
      .withColumn("bm25", col("bm25_micro") / 1e6)
      .select(col(queryIdCol), col("rank"), col(idCol),
        col("bm25_micro"), col("bm25"))
  }

  /** End-to-end RAG answering over PERSISTED artifacts only — q130's
    * retrieve → fuse → (optionally diversify) → snippet pipeline with
    * both retrieval legs served from their indexes instead of built
    * in-plan: the lexical leg probes a [[writeBm25Index]] postings
    * table (bucket-pruned term scan), the dense leg probes an
    * [[graft.ext.Ivf.writeIndex]] IVF table (Exchange-free corpus
    * side), [[rrfFuse]] combines the pre-truncated legs on the tiny
    * (queries × legK) lattice, [[mmrRerank]] diversifies the fused
    * shortlist (λ = 1e6 reduces MMR to pure relevance order, which is
    * exactly the q130 formulation — how the serving twin is
    * spec-pinned), and [[bestPassagePerQuery]] extracts each pair's
    * densest window. MMR pair similarities come from the IVF index's
    * own stored vectors — one broadcast-candidate join against the
    * index scan, never a corpus shuffle.
    *
    * `queries` carries (queryIdCol, queryTextCol, queryVecCol). `docs`
    * supplies snippet text by id (the corpus the indexes were built
    * over). Dense-only pairs with no lexical overlap drop at the
    * passage join — the documented q130 operator contract. Run
    * [[graft.ext.IndexAudit.auditBm25]] / `auditIvf` before promoting
    * the indexes this serves from — fsck-then-mount.
    */
  def ragServeIndexed(spark: org.apache.spark.sql.SparkSession,
                      bm25Table: String, ivfTable: String, docs: DataFrame,
                      idCol: String, textCol: String, queries: DataFrame,
                      queryIdCol: String, queryTextCol: String,
                      queryVecCol: String, k: Int = 5, legK: Int = 20,
                      nProbe: Int = 4, windowTokens: Int = 8,
                      lambdaMicro: Long = 1000000L,
                      excludeSelf: Boolean = false): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    // the index's own vector column name, read from the persisted model
    // (writeIndex stores it with the centroid matrix) — the query vector
    // renames onto it so the probe join lines up. Positional inference
    // ("the column that is not id or list") only remains as the fallback
    // for indexes written before the model carried the name: it misbinds
    // silently the moment the index table gains or reorders a column.
    val ivfVecCol = graft.ext.Ivf.loadVecCol(spark, ivfTable)
      .getOrElse(spark.table(ivfTable).columns
        .filterNot(c => c == idCol || c == "list").head)
    val qterms = queries.select(col(queryIdCol),
        explode(array_distinct(TextOps.tokens(lower(col(queryTextCol)))))
          .as("term"))
      .filter(length(col("term")) > 0)
    val lex = bm25ProbePerQuery(spark, bm25Table,
        queries.select(col(queryIdCol), col(queryTextCol)),
        queryIdCol, queryTextCol, legK, excludeSelf)
      .select(col(queryIdCol), col(idCol), col("rank"))
    val dense = graft.ext.Ivf.ivfTopKIndexed(spark, ivfTable,
        queries.select(col(queryIdCol).as(idCol),
          col(queryVecCol).as(ivfVecCol)),
        idCol, ivfVecCol, legK, nProbe)
      .select(col("query_id").as(queryIdCol),
        col("neighbor_id").as(idCol), col("rank"))
    // the fused shortlist feeds MMR pair-sims, the passage extractor
    // AND the final join — materialize the tiny relation once. With
    // diversification on, MMR picks k from the FULL legK fused pool
    // (diversify-from-N-to-k, the standard shape); relevance-only
    // serving truncates at fusion.
    val poolK = if (lambdaMicro >= 1000000L) k else legK
    val fused = rrfFuse(lex, dense, queryIdCol, idCol, poolK)
      .localCheckpoint()
    val selected =
      if (lambdaMicro >= 1000000L) fused
      else {
        val (dim, _) = graft.ext.Ivf.loadModel(spark, ivfTable)
        val cands = fused.select(col(queryIdCol), col(idCol))
        val vecs = spark.table(ivfTable)
          .join(broadcast(cands.select(col(idCol)).distinct()), Seq(idCol))
          .select(col(idCol), col(ivfVecCol))
        val va = Similarity.withVecNorm(vecs, idCol, ivfVecCol)
          .select(col(idCol).as("id_a"), col("v").as("va"),
            col("nrm").as("na"))
        val vb = va.select(col("id_a").as("id_b"), col("va").as("vb"),
          col("na").as("nb"))
        val pairSims = cands.select(col(queryIdCol), col(idCol).as("id_a"))
          .join(cands.select(col(queryIdCol), col(idCol).as("id_b")),
            Seq(queryIdCol))
          .filter(col("id_a") =!= col("id_b"))
          .join(broadcast(va), "id_a").join(broadcast(vb), "id_b")
          .select(col(queryIdCol), col("id_a"), col("id_b"),
            round(Similarity.dotNative(col("va"), col("vb"), dim) /
                (col("na") * col("nb")) *
              lit(1000000.0)).cast("long").as("sim_micro"))
        val reranked = mmrRerank(
          fused.select(col(queryIdCol), col(idCol),
            col("rrf_micro").as("rel_micro")),
          pairSims, queryIdCol, idCol, k, lambdaMicro)
        reranked.join(fused.drop("rank"), Seq(queryIdCol, idCol))
          .localCheckpoint()
      }
    val passages = bestPassagePerQuery(docs, idCol, textCol, selected,
      qterms, queryIdCol, windowTokens)
    selected.join(passages, Seq(queryIdCol, idCol))
      .select(col(queryIdCol), col("rank"), col(idCol), col("rrf_micro"),
        col("best_start"), col("n_hits"), col("snippet"))
      .orderBy(col(queryIdCol), col("rank"))
  }

  /** Pseudo-relevance-feedback query expansion (the RM3-lite recipe,
    * public): run the query, take the top `nDocs` documents as the
    * pseudo-relevant set R, and rank the terms of R by Σ_d∈R tf(d,t) ·
    * idf(t) — corpus-wide IDF, the same micro-integer as [[bm25Score]]
    * — excluding the original query terms. The top `nTerms` are the
    * expansion candidates a second retrieval round unions in.
    *
    * Everything after the first-round top-`nDocs` runs on R-bounded
    * relations: R's token stream (nDocs documents), its vocabulary, and
    * a corpus df lookup SEMI-JOINED to that vocabulary — the full
    * corpus is touched only by the first-round scorer and the df count,
    * both shuffling term keys, never documents.
    *
    * Returns (rank, term, weight_micro) — ties broken by ascending
    * term, so the expansion set is cross-engine-stable.
    */
  def prfExpansionTerms(df: DataFrame, idCol: String, textCol: String,
                        queryTerms: Seq[String], nDocs: Int,
                        nTerms: Int): DataFrame = {
    require(nDocs > 0 && nTerms > 0, s"bad nDocs/nTerms: $nDocs/$nTerms")
    // tokenize ONCE and materialize: the first-round scorer, R's term
    // frequencies and the corpus-df leg all derive from this relation —
    // without it each leg re-scans (and, under a repartition head,
    // re-shuffles) the full document payload
    val tokArr = df.select(col(idCol),
      TextOps.tokens(lower(col(textCol))).as("__toks"))
      .localCheckpoint(false)
    val topDocs = bm25ScoreTokens(tokArr, idCol, "__toks", queryTerms)
      .orderBy(col("bm25_micro").desc, col(idCol))
      .limit(nDocs)
      .select(col(idCol))
    val toks = tokArr.select(col(idCol), explode(col("__toks")).as("term"))
    // R's term frequencies (nDocs-bounded) minus the original terms
    val rTf = toks.join(broadcast(topDocs), Seq(idCol))
      .filter(!col("term").isin(queryTerms: _*))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf_r"))
    // corpus df ONLY for R's vocabulary, then the q123 micro-IDF
    val corpus = tokArr.agg(count(lit(1)).as("n"))
    val dfreq = toks.join(broadcast(rTf.select(col("term"))), Seq("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("df"))
    val weighted = rTf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("idf_micro", idfMicro)
      .withColumn("weight_micro", col("tf_r") * col("idf_micro"))
    weighted.orderBy(col("weight_micro").desc, col("term"))
      .limit(nTerms)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("weight_micro").desc, col("term"))))
      .select(col("rank"), col("term"), col("weight_micro"))
  }

  /** Rank-quality metrics of a system run against a per-query truth
    * set — the eval harness a retrieval stack runs at corpus scale
    * (recall@n and reciprocal rank, in exact integer micro-units).
    * `system` and `truth` are (queryCol, idCol, rank) relations, each
    * already truncated per query. Per query:
    *  - `rr_micro`: 1e6 div (system rank of the truth's rank-1 item),
    *    0 when the system missed it entirely — MRR's summand;
    *  - `n_overlap`: |system ∩ truth|;
    *  - `recall_micro`: (1e6 · n_overlap) div |truth| for that query.
    * Queries in `truth` with no system hits still appear (zeros), so a
    * silently-empty system run cannot inflate the mean. Both inputs are
    * tiny pre-truncated lattices — every join here broadcasts.
    */
  def rankEvalMetrics(system: DataFrame, truth: DataFrame,
                      queryCol: String, idCol: String): DataFrame = {
    val sys = system.select(col(queryCol), col(idCol), col("rank"))
    val tr = truth.select(col(queryCol), col(idCol))
    val perQuery = tr.groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_truth"))
    val top1 = truth.filter(col("rank") === 1)
      .select(col(queryCol), col(idCol))
    val rr = top1.join(sys, Seq(queryCol, idCol), "left")
      .select(col(queryCol),
        coalesce(expr("1000000 div rank"), lit(0L)).as("rr_micro"))
    val overlap = sys.join(broadcast(tr), Seq(queryCol, idCol), "left_semi")
      .groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_overlap"))
    perQuery.join(rr, Seq(queryCol))
      .join(overlap, Seq(queryCol), "left")
      .select(col(queryCol), col("rr_micro"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        expr("(1000000 * coalesce(n_overlap, 0)) div n_truth")
          .as("recall_micro"))
  }

  /** Best-passage extraction — the RAG serving step after document
    * retrieval: per document, the `windowTokens`-token window with the
    * most query-term hits, plus its text. Uses the classic candidate
    * reduction: a maximal-density window can always START at a hit
    * position, so candidates are hits × hits per document (a band
    * self-join on the hit-position relation, which holds ONLY
    * query-term positions — a sliver of the token stream; the shuffle
    * key is the document id). Argmax per document breaks ties toward
    * the EARLIEST window (hits desc, start asc) — a total order, so
    * the extracted passage is cross-engine-stable.
    *
    * Positions are 1-based token indices (`best_start`), matching
    * SQL's 1-based list indexing. Documents with zero hits are absent
    * — passage extraction runs on retrieved documents, and a retriever
    * never hands over a zero-hit document.
    *
    * Returns (idCol, best_start, n_hits, snippet).
    */
  def bestPassageWindow(df: DataFrame, idCol: String, textCol: String,
                        queryTerms: Seq[String],
                        windowTokens: Int): DataFrame = {
    require(queryTerms.nonEmpty && windowTokens > 0,
      s"need query terms and a positive window: $windowTokens")
    val arr = df.select(col(idCol),
      TextOps.tokens(lower(col(textCol))).as("__arr"))
    bestPassageFused(arr, hitPositions(col("__arr"),
      t => t.isin(queryTerms: _*)), Seq(col(idCol)), windowTokens)
  }

  /** 1-based positions of query-term hits in a token array — the
    * candidate window starts (a maximal-density window can always
    * start at a hit). */
  private def hitPositions(arr: Column, isHit: Column => Column): Column =
    filter(transform(arr, (t, i) => when(isHit(t), i + 1)),
      p => p.isNotNull)

  /** The passage argmax as ONE narrow projection over the per-row hit
    * list — replaces the band SELF-JOIN + per-doc rank window + re-join
    * shape (three exchanges and ~six stages of latency per call, r16
    * verdict item 3) with per-row array folds of identical semantics:
    * candidates are hit positions, each window [p, p+windowTokens)
    * counts its hits, argmax by (n_hits DESC, start ASC) via
    * `array_max` over (n, -p) structs — the same lexicographic struct
    * order the oracles' `list_max` replays, and the same total order
    * the old rank window used. The hit list is a per-document sliver
    * (query-term positions only), so the O(h²) in-row fold is the band
    * join's own work without its shuffle. */
  private def bestPassageFused(arr: DataFrame, hits: Column,
                               keyCols: Seq[Column],
                               windowTokens: Int): DataFrame = {
    val withBest = arr
      .withColumn("__hits", hits)
      .filter(size(col("__hits")) > 0)
      .withColumn("__best", array_max(transform(col("__hits"), p =>
        struct(
          size(filter(col("__hits"),
            h => h >= p && h < p + windowTokens)).as("n"),
          (-p).as("negp")))))
    withBest.select(keyCols ++ Seq(
      (-col("__best.negp")).as("best_start"),
      col("__best.n").cast("long").as("n_hits"),
      concat_ws(" ",
        slice(col("__arr"), -col("__best.negp"), lit(windowTokens)))
        .as("snippet")): _*)
  }

  /** Per-query passage extraction over a RETRIEVED (query, doc) pair
    * set — [[bestPassageWindow]]'s serving form: each retrieved pair
    * gets the `windowTokens`-token window of that document densest in
    * THAT query's terms ((queryCol, term) relation, the
    * [[bm25ScorePerQuery]] shape). Only retrieved documents are
    * tokenized (semi-join first), hit positions carry (query, doc)
    * keys, and the band self-join + argmax run per retrieved pair —
    * all pair-bounded relations; the corpus is touched once, for the
    * retrieved docs' tokens. Pairs whose document shares no term with
    * the query (a dense-only retrieval hit) are absent — there is no
    * lexical window to rank.
    *
    * Returns (queryCol, idCol, best_start, n_hits, snippet).
    */
  def bestPassagePerQuery(df: DataFrame, idCol: String, textCol: String,
                          pairs: DataFrame, queryTerms: DataFrame,
                          queryCol: String,
                          windowTokens: Int): DataFrame = {
    require(windowTokens > 0, s"window must be positive: $windowTokens")
    val keys = pairs.select(col(queryCol), col(idCol)).distinct()
    // semi-join FIRST so only retrieved documents are tokenized
    val arr = df
      .join(broadcast(keys.select(col(idCol)).distinct()), Seq(idCol))
      .select(col(idCol), TextOps.tokens(lower(col(textCol))).as("__arr"))
    // each retrieved (query, doc) pair carries ITS query's term set;
    // the per-row fused argmax then needs no band self-join, no per-pair
    // rank window and no re-join of the token arrays (three exchanges
    // fewer — r16 verdict item 3). Zero-hit pairs (dense-only retrieval
    // hits) drop exactly as before: their hit list is empty.
    val qsets = queryTerms.select(col(queryCol), col("term")).distinct()
      .groupBy(col(queryCol)).agg(collect_set(col("term")).as("__qset"))
    val rows = keys
      .join(broadcast(qsets), Seq(queryCol))
      .join(arr, Seq(idCol))
    bestPassageFused(rows,
      hitPositions(col("__arr"), t => array_contains(col("__qset"), t)),
      Seq(col(queryCol), col(idCol)), windowTokens)
  }

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein,
    * public): greedily pick `k` results per query maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)` — the standard
    * diversification pass over a retrieved shortlist, trading relevance
    * against redundancy with what is already shown.
    *
    * Exact-integer discipline: `rel_micro` and `sim_micro` arrive as
    * micro-unit longs; both MMR terms are computed over the inputs
    * SHIFTED by +1e6 (cosines can be negative, and floor/truncate
    * division disagree on negatives across engines — the shift adds a
    * per-term CONSTANT, preserving the argmax while keeping every
    * operand nonnegative, where Spark `div` ≡ SQL `//`). Ties break on
    * ascending id, so the greedy trace is cross-engine-reproducible and
    * the whole rerank oracle-checks as `k` unrolled selection stages.
    *
    * Scale shape: `candidates` and `pairSims` are post-retrieval
    * lattices ((queries × n) and (queries × n²)) — tiny at any corpus
    * scale; the k driver-loop rounds run joins on those lattices only,
    * localCheckpointed per round so lineage stays flat.
    *
    * `candidates`: (queryCol, idCol, rel_micro); `pairSims`: (queryCol,
    * id_a, id_b, sim_micro), both directions present. Returns
    * (queryCol, rank, idCol) — rank is selection order.
    */
  def mmrRerank(candidates: DataFrame, pairSims: DataFrame,
                queryCol: String, idCol: String, k: Int,
                lambdaMicro: Long = 700000L): DataFrame = {
    require(k > 0 && lambdaMicro >= 0 && lambdaMicro <= 1000000L,
      s"bad k/lambdaMicro: $k/$lambdaMicro")
    val lam = lambdaMicro
    val oneMinus = 1000000L - lambdaMicro
    var selected = candidates
      .select(col(queryCol), col(idCol), lit(0).as("rank"))
      .filter(lit(false))
    for (r <- 1 to k) {
      val maxSim = pairSims
        .join(selected.select(col(queryCol), col(idCol).as("id_b")),
          Seq(queryCol, "id_b"))
        .groupBy(col(queryCol), col("id_a"))
        .agg(max(col("sim_micro")).as("__maxsim"))
        .select(col(queryCol), col("id_a").as(idCol), col("__maxsim"))
      val scored = candidates
        .join(selected.select(col(queryCol), col(idCol)),
          Seq(queryCol, idCol), "left_anti")
        .join(maxSim, Seq(queryCol, idCol), "left")
        .withColumn("__mmr", expr(
          s"($lam * (rel_micro + 1000000)) div 1000000 - " +
            s"($oneMinus * (coalesce(__maxsim, -1000000) + 1000000)) " +
            "div 1000000"))
      val pick = rankTopK(scored, queryCol, idCol, "__mmr", 1)
        .select(col(queryCol), col(idCol), lit(r).as("rank"))
      selected = selected.union(pick).localCheckpoint()
    }
    selected.select(col(queryCol), col("rank"), col(idCol))
  }

  /** Hard-negative mining for retriever training (the DPR/ANCE recipe,
    * public): candidates a LEXICAL ranker scores highly that the DENSE
    * ranker does NOT retrieve — lexically plausible, semantically
    * non-matching, exactly the negatives that teach an embedding model
    * the most. Relationally it is a left-anti join of the lexical
    * top-n onto the dense top-n per query; each survivor keeps its
    * lexical rank (already cross-engine-stable integers). Both inputs
    * are pre-truncated per-leg top-n relations, so the anti-join runs
    * on the tiny (queries × n) lattice — a broadcast anti-join at any
    * corpus scale.
    */
  def hardNegatives(lex: DataFrame, dense: DataFrame, queryCol: String,
                    idCol: String): DataFrame =
    lex.join(broadcast(dense.select(col(queryCol), col(idCol))),
      Seq(queryCol, idCol), "left_anti")

  /** Reciprocal-rank fusion (Cormack et al.) of two ranked lists —
    * the standard hybrid-retrieval combiner for a lexical leg and a
    * dense leg, in EXACT integer arithmetic: each leg contributes
    * `1e6 div (k0 + rank)` micro-units (floor division, k0=60 by
    * convention), summed as longs, so fusion is bit-identical
    * cross-engine and needs no float comparisons.
    *
    * Inputs are (queryCol, idCol, rank) relations — already truncated to
    * their per-leg top-n, so both sides are (queries × n) small; the
    * full-outer join and the fused re-rank run on that tiny lattice.
    * Documents absent from one leg simply get that leg's contribution
    * as zero (the full-outer + coalesce), which is RRF's defined
    * behavior, not a null-propagation accident.
    *
    * Returns (queryCol, rank, idCol, rrf_micro, in_lex, in_dense), the
    * fused top-`k` per query, ties broken by ascending id.
    */
  def rrfFuse(lex: DataFrame, dense: DataFrame, queryCol: String,
              idCol: String, k: Int, k0: Int = 60): DataFrame = {
    require(k > 0 && k0 >= 0, s"bad k/k0: $k/$k0")
    def leg(df: DataFrame, name: String): DataFrame =
      df.select(col(queryCol), col(idCol),
        expr(s"1000000 div (${k0.toLong} + rank)").as(s"__c_$name"),
        lit(true).as(s"in_$name"))
    val fused = leg(lex, "lex")
      .join(leg(dense, "dense"), Seq(queryCol, idCol), "full_outer")
      .select(col(queryCol), col(idCol),
        (coalesce(col("__c_lex"), lit(0L)) +
          coalesce(col("__c_dense"), lit(0L))).as("rrf_micro"),
        coalesce(col("in_lex"), lit(false)).as("in_lex"),
        coalesce(col("in_dense"), lit(false)).as("in_dense"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_micro").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryCol), col("rank"), col(idCol),
        col("rrf_micro"), col("in_lex"), col("in_dense"))
  }
}
