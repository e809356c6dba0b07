package graft.entry

/** Lexical + dense retrieval: BM25, hybrid RRF,
  * PRF, eval metrics, passages, MaxSim, filtered ANN, MMR, RAG.
  *
  * One slice of [[graft.SparkEntry]]'s catalog: `queries` and the
  * matching DuckDB `oracleSql` live side by side so an edit to a
  * query and its oracle is always a same-file change.
  */
import graft.entry.EntryTables._
import graft.ext.{Dedup, Multimodal, Retrieval, Similarity, TextOps}
import graft.model.{ColumnSpec, FkRef, TableConfig}
import graft.ops.{Merge, Normalize, TemporalJoin}
import graft.rules.Rules
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

private[graft] object RetrievalQueries {

  /** ONE materialized tokenization of the spread corpus, shared by every
    * consumer of a hybrid-retrieval query (qterms derivation, the BM25
    * legs' tf/dl/idf). r16 spread the raw documents scan instead, and
    * because each BM25 leg re-derives its relations from that scan,
    * q124's plan carried EIGHT independent full-corpus
    * REPARTITION_BY_NUM exchanges (driver-measured 2.4× regression,
    * inverse core-scaling on the whole family). One par + tokenize +
    * localCheckpoint of the FLAT (doc_id, term) instances — skinny
    * string rows, cheap to rescan (checkpointing the token ARRAYS was
    * A/B'd first: deserialized object arrays cost more to rescan than
    * the regex they save) — plus the tiny materialized (doc_id, dl)
    * lengths give every leg the same in-memory relations: one exchange,
    * one tokenize pass, zero document-payload re-shuffles — guide §2.4
    * (share one exchange) and §8 (move heavy bytes once).
    *
    * `explode_outer` + `count(term)` keep dl value-identical to
    * `size(tokens(lower(text)))` even for NULL/empty text (no such rows
    * exist in any vintage; belt under the suspenders). */
  private def docToksDl(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val toks = par(t(s, dir, "documents"), "doc_id")
      .select(col("doc_id"),
        explode_outer(graft.ext.TextOps.tokens(lower(col("text"))))
          .as("term"))
      .localCheckpoint(false)
    val dl = toks.groupBy(col("doc_id"))
      .agg(count(col("term")).cast("long").as("dl"))
      .localCheckpoint(false)
    (toks, dl)
  }

  /** The hybrid family's query-term relation off the shared token
    * stream: each query doc's DISTINCT tokens — same rows as exploding
    * `array_distinct(tokens(lower(text)))` over the %100 filter. */
  private def hybridQterms(toks: DataFrame): DataFrame =
    toks.filter(col("doc_id") % 100 === 0 && col("term").isNotNull)
      .select(col("doc_id").as("query_id"), col("term"))
      .distinct()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- late-interaction MaxSim retrieval (oracle-checked): documents
    // as bags of 8 token vectors (doc = vec_id div 8), score =
    // Σ_q-token max_d-token cos — integer micro-units BEFORE max/sum so
    // the aggregates are exact in any partial-agg order. This is the
    // exact quadratic baseline; maxSimTopKPooled is the serving funnel
    // (spec-pinned equal under an everything-shortlist).
    "q122_maxsim_topk" -> ((s, dir) => {
      val toks = t(s, dir, "embeddings")
        .withColumn("doc", expr("vec_id div 8"))
      val queries = toks.filter(col("doc") % 10 === 0)
      graft.ext.MultiVector.maxSimTopK(toks, queries, "doc", "vec_id",
          "embedding", k = 5, dim = 64)
        .orderBy("query_doc", "rank")
    }),

    // ---- BM25 lexical retrieval (oracle-checked): Okapi BM25 with the
    // Lucene non-negative IDF, k1=1.2 / b=0.75 as exact integer scaling
    // constants — every per-term contribution is a micro-unit long
    // (floor division ≡ DuckDB //), so the per-doc sum is exact in any
    // partial-agg order; the ONE ln per query term is rounded to micro
    // on the |q|-row IDF relation before it meets the corpus. Only
    // query-term token instances reach the tf shuffle.
    "q123_bm25_topk" -> ((s, dir) => {
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          Seq("table", "window", "hash", "stream"), k = 10)
        .orderBy("rank")
    }),

    // ---- anchor-boosted fielded BM25 (oracle-checked): BM25F-lite —
    // a document's searchable text is its body PLUS the inbound
    // anchor text the web wrote about it (q179's rollup shape keyed
    // to the corpus), with integer field weights (body 1, anchor 2 —
    // anchor evidence is endorsement, the classic web-search boost)
    // folded into tf AND length normalization before the shared
    // micro-integer BM25 tail; IDF is the merged-field document
    // frequency. The "stream" query term lives in BOTH fields, so the
    // boost genuinely reorders against q123's body-only ranking.
    "q185_anchor_boosted_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = Retrieval.bm25FieldedScore(docs, "doc_id", "text",
        plantedAnchorField(docs), "anchor_norm", "n_anchors",
        Seq("table", "stream", "review", "trusted", "corpus"))
      scored.orderBy(col("bm25_micro").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25_micro").desc, col("doc_id"))))
        .select(col("doc_id"), col("rank"), col("bm25_micro"),
          col("bm25"))
        .orderBy("rank")
    }),

    // ---- hybrid dense+lexical retrieval, RRF-fused (oracle-checked):
    // the standard two-leg serving stack — a BM25 "more-like-this" leg
    // (query doc's distinct tokens as the term set) and a brute cosine
    // leg over the aligned embedding (vec_id ≡ doc_id, the catalog's
    // doc↔vector premise), each truncated to top-20, fused by
    // reciprocal-rank 1e6 div (60+rank) in exact longs. Both legs'
    // ranks are themselves cross-engine-stable (integer BM25 micro;
    // q30's rounded cosine), so the fusion is hash-checkable end to end.
    "q124_hybrid_rrf" -> ((s, dir) => {
      val (toks, dl) = docToksDl(s, dir)
      val emb = t(s, dir, "embeddings")
      val qterms = hybridQterms(toks)
      val lex = Retrieval.rankTopK(
          Retrieval.bm25ScorePerQueryFromToks(toks, dl, "doc_id",
              qterms, "query_id")
            .filter(col("query_id") =!= col("doc_id")),
          "query_id", "doc_id", "bm25_micro", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
          k = 20, dim = Some(64))
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    // ---- hard-negative mining (oracle-checked): q124's two legs,
    // anti-joined — lexical top-20 hits the dense leg does NOT retrieve,
    // the DPR/ANCE negatives recipe. Survivors keep their lexical rank;
    // the anti-join runs on the tiny pre-truncated (queries × 20)
    // lattice (broadcast at any corpus scale).
    "q126_hard_negatives" -> ((s, dir) => {
      val (toks, dl) = docToksDl(s, dir)
      val emb = t(s, dir, "embeddings")
      val qterms = hybridQterms(toks)
      val lex = Retrieval.rankTopK(
          Retrieval.bm25ScorePerQueryFromToks(toks, dl, "doc_id",
              qterms, "query_id")
            .filter(col("query_id") =!= col("doc_id")),
          "query_id", "doc_id", "bm25_micro", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"),
          col("bm25_micro"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
          k = 20, dim = Some(64))
        .select(col("query_id"), col("neighbor_id").as("doc_id"))
      Retrieval.hardNegatives(lex, dense, "query_id", "doc_id")
        .orderBy("query_id", "rank")
    }),

    // ---- PRF query expansion (oracle-checked): RM3-lite — q123's
    // top-10 as the pseudo-relevant set R, R's terms ranked by exact
    // integer tf_R · idf_micro (corpus IDF, q123's micro constant),
    // original terms excluded. Everything after the first round runs on
    // R-bounded relations; corpus df is computed only for R's vocab.
    "q127_prf_expansion" -> ((s, dir) => {
      // the par head feeds prfExpansionTerms' single materialized
      // tokenization (one spread exchange, not one per scoring leg)
      Retrieval.prfExpansionTerms(par(t(s, dir, "documents"), "doc_id"),
          "doc_id",
          "text", Seq("table", "window", "hash", "stream"),
          nDocs = 10, nTerms = 5)
        .orderBy("rank")
    }),

    // ---- retrieval eval metrics (oracle-checked): the lexical leg
    // scored against the dense leg as truth — recall@20 and reciprocal
    // rank per query in exact micro-integers, the eval harness shape
    // (swap in human qrels for the truth relation in production).
    "q128_retrieval_metrics" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // the metric joins read each tiny leg 2-3 times — materialize
      // once (queries × 20 rows) instead of recomputing the scorers;
      // the two legs are INDEPENDENT chains of eager materializations
      // (toks/dl/lex vs dense), so submit them concurrently (§2.6)
      // instead of paying their latencies back to back
      def lexLeg(): DataFrame = {
        val (toks, dl) = docToksDl(s, dir)
        val qterms = hybridQterms(toks)
        Retrieval.rankTopK(
            Retrieval.bm25ScorePerQueryFromToks(toks, dl, "doc_id",
                qterms, "query_id")
              .filter(col("query_id") =!= col("doc_id")),
            "query_id", "doc_id", "bm25_micro", k = 20)
          .select(col("query_id"), col("doc_id"), col("rank"))
          .localCheckpoint()
      }
      def denseLeg(): DataFrame =
        Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
            k = 20, dim = Some(64))
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rank"))
          .localCheckpoint()
      val (lex, dense) = graft.ext.Warehouse.inParallel(lexLeg(), denseLeg())
      Retrieval.rankEvalMetrics(lex, dense, "query_id", "doc_id")
        .orderBy("query_id")
    }),

    // ---- best-passage extraction (oracle-checked): per doc, the
    // 8-token window with the most query-term hits plus its text — the
    // RAG serving step after retrieval. Candidates reduce to hit
    // positions (a maximal window can start at a hit), so the band
    // self-join runs on the query-term sliver only; ties break to the
    // earliest window, a total order.
    "q129_best_passage" -> ((s, dir) => {
      Retrieval.bestPassageWindow(t(s, dir, "documents"), "doc_id",
          "text", Seq("table", "window", "hash", "stream"),
          windowTokens = 8)
        .orderBy("doc_id")
    }),

    // ---- end-to-end RAG serving (oracle-checked): q124's fused top-5
    // handed to per-query passage extraction — the full retrieval →
    // fusion → snippet path one plan. Dense-only hits with no lexical
    // overlap have no rankable window and drop at the passage join
    // (documented operator contract); ranks keep their fused values.
    "q130_rag_serving" -> ((s, dir) => {
      val (toks, dl) = docToksDl(s, dir)
      val emb = t(s, dir, "embeddings")
      val qterms = hybridQterms(toks)
      val lex = Retrieval.rankTopK(
          Retrieval.bm25ScorePerQueryFromToks(toks, dl, "doc_id",
              qterms, "query_id")
            .filter(col("query_id") =!= col("doc_id")),
          "query_id", "doc_id", "bm25_micro", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
          k = 20, dim = Some(64))
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      // the fused top-5 feeds BOTH the passage extractor and the final
      // join — localCheckpoint materializes the (queries × 5)-row
      // relation once so the retrieval legs don't recompute per use
      // (151 → ~60 exchanges, measured via PlanAudit)
      val fused = Retrieval.rrfFuse(lex, dense, "query_id", "doc_id",
        k = 5).localCheckpoint()
      val passages = Retrieval.bestPassagePerQuery(t(s, dir, "documents"),
        "doc_id", "text", fused, qterms, "query_id", windowTokens = 8)
      fused.join(passages, Seq("query_id", "doc_id"))
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("rrf_micro"), col("best_start"), col("n_hits"),
          col("snippet"))
        .orderBy("query_id", "rank")
    }),

    // ---- filtered vector search (oracle-checked): top-k cosine among
    // vectors whose aligned document passes a metadata predicate
    // (lang = 'en') — the PRE-FILTER strategy: restrict the corpus
    // before scoring, so recall is exact by construction (post-filtering
    // an ANN shortlist can starve below k; with an index, pre-filtering
    // composes as a semi-join on the candidate lists). The predicate
    // join is broadcast-sized metadata, never vectors.
    "q135_filtered_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val meta = t(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("lang"))
      val corpus = emb.join(meta, Seq("vec_id"))
        .filter(col("lang") === "en").drop("lang")
      val queries = emb.filter(col("vec_id") % 100 === 0)
      Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding",
          k = 5, dim = Some(64))
        .orderBy("query_id", "rank")
    }),

    // ---- filtered ANN over a shared index (oracle-checked): q85's
    // exemplar IVF with the q135 predicate applied as a candidate
    // semi-join before the exact rerank — one index, many predicates;
    // a probed list short on allowed members returns < k by design
    // (the documented trade vs q135's exact pre-filter).
    "q136_filtered_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val allowed = t(s, dir, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val queries = emb.filter(col("vec_id") % 100 === 0)
      graft.ext.Ivf.ivfFilteredTopKExemplar(emb, queries, "vec_id",
          "embedding", allowed, k = 5, nList = 8, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    // ---- filtered-ANN recall report (oracle-checked): q136's indexed
    // funnel scored against q135's exact pre-filter as truth via the
    // rank-eval harness — the recall regression gate a serving stack
    // runs when it swaps an exact scan for an index. Exact micro-integer
    // metrics; a starved query shows up as depressed recall, not a
    // silent absence.
    "q137_filtered_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val allowed = t(s, dir, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      val queries = emb.filter(col("vec_id") % 100 === 0)
      // truth and system are independent materialized legs — submit
      // them concurrently (§2.6) instead of back to back
      val (truth, system) = graft.ext.Warehouse.inParallel(
        Similarity.bruteForceTopK(
            emb.join(allowed, Seq("vec_id")), queries, "vec_id",
            "embedding", k = 5, dim = Some(64))
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .localCheckpoint(),
        graft.ext.Ivf.ivfFilteredTopKExemplar(emb, queries,
            "vec_id", "embedding", allowed, k = 5, nList = 8, nProbe = 2)
          .select(col("query_id"), col("neighbor_id"), col("rank"))
          .localCheckpoint())
      Retrieval.rankEvalMetrics(system, truth, "query_id", "neighbor_id")
        .orderBy("query_id")
    }),

    // ---- MMR diversified re-ranking (oracle-checked): greedy
    // λ·relevance − (1−λ)·max-sim-to-selected over the dense top-10
    // shortlist, k=5, λ=0.7 — exact-integer with the +1e6 shift so
    // every division is nonnegative (floor ≡ truncate), ties to the
    // lowest id; the greedy trace is reproducible enough to unroll as
    // five oracle selection stages.
    "q138_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
      val cands = Similarity.bruteForceTopK(emb, queries, "vec_id",
          "embedding", k = 10, dim = Some(64))
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim") * 1000000).cast("long").as("rel_micro"))
        .localCheckpoint()
      val vn = Similarity.withVecNorm(emb, "vec_id", "embedding")
      val pairs = cands.select(col("query_id"), col("neighbor_id")
          .as("id_a"))
        .join(cands.select(col("query_id"), col("neighbor_id")
          .as("id_b")), Seq("query_id"))
        .filter(col("id_a") =!= col("id_b"))
        .join(vn.select(col("vec_id").as("id_a"), col("v").as("va"),
          col("nrm").as("na")), Seq("id_a"))
        .join(vn.select(col("vec_id").as("id_b"), col("v").as("vb"),
          col("nrm").as("nb")), Seq("id_b"))
        .select(col("query_id"), col("id_a"), col("id_b"),
          round(Similarity.dotNative(col("va"), col("vb"), 64) /
            (col("na") * col("nb")) * 1000000)
            .cast("long").as("sim_micro"))
        .localCheckpoint()
      Retrieval.mmrRerank(cands, pairs, "query_id", "neighbor_id", k = 5)
        .orderBy("query_id", "rank")
    }),
  )

  /** q185's planted inbound-anchor field: per doc a language-flavored
    * review anchor with a varying mention count (1 + doc_id%3) and a
    * second anchor that is either the "trusted stream reference"
    * endorsement (%5 — carries the cross-field `stream` term) or a
    * no-query-term "misc link" (still counts toward the anchor field
    * LENGTH, so dl' normalization is exercised by non-matching
    * anchors too). q179's rollup shape: (target id, normalized text,
    * mention count). */
  private[graft] def plantedAnchorField(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    df.select(col("doc_id"), explode(array(
        struct(concat(lit("review of "), col("lang"),
          lit(" corpus")).as("a"), (lit(1L) + d % 3).as("n")),
        struct(when(d % 5 === 0, lit("trusted stream reference"))
          .otherwise(lit("misc link")).as("a"), lit(1L).as("n"))))
        .as("r"))
      .select(col("doc_id"), col("r.a").as("anchor_norm"),
        col("r.n").as("n_anchors"))
  }

  // ---- oracle fragments: SQL text only, each relation stated once for
  // every oracle of this family that shares it

  /** q123's whitespace tokens `toks(doc_id, term)`, per-doc lengths
    * `dl` and the corpus scalars `corpus(n, t)`. */
  private val bm25CorpusCtes: String =
    """toks AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      |       FROM toks GROUP BY doc_id),
      |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |                  CAST(sum(dl) AS BIGINT) AS t FROM dl)""".stripMargin

  /** Integer-micro idf over the term frequencies `tf(doc_id, term, tf)`. */
  private def bm25IdfCte(tf: String): String =
    s"""idf AS (
       |  SELECT term,
       |    CAST(round(ln((c.n - CAST(count(DISTINCT doc_id) AS BIGINT) + 0.5)
       |        / (CAST(count(DISTINCT doc_id) AS BIGINT) + 0.5) + 1.0)
       |      * 1000000) AS BIGINT) AS idf_micro
       |  FROM $tf CROSS JOIN corpus c GROUP BY term, c.n)""".stripMargin

  /** One term's BM25 contribution (k1 = 1.2, b = 0.75) in micro-units,
    * before the final `// 1000000`: `idf`, `dl` and `corpus c` joined. */
  private def bm25Micro(tf: String): String =
    s"""(idf.idf_micro * ((1000000 * (2200000 * $tf.tf))
       |       // (1000000 * $tf.tf + 300000
       |           + (9 * ((1000000 * dl.dl * c.n) // c.t)) // 10)))""".stripMargin

  /** Idf, per-term contributions and per-doc sums
    * `scored(doc_id, bm25_micro)` over `tf(doc_id, term, tf)`. */
  private def bm25ScoredCtes(tf: String): String =
    s"""${bm25IdfCte(tf)},
       |contrib AS (
       |  SELECT $tf.doc_id,
       |    ${bm25Micro(tf)}
       |      // 1000000 AS c_micro
       |  FROM $tf JOIN idf USING (term) JOIN dl USING (doc_id)
       |    CROSS JOIN corpus c),
       |scored AS (
       |  SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS bm25_micro
       |  FROM contrib GROUP BY doc_id)""".stripMargin

  /** q123's fixed four-term query scored over the whole corpus. */
  private val bm25FixedQueryCtes: String =
    s"""$bm25CorpusCtes,
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
       |  WHERE term IN ('table', 'window', 'hash', 'stream')
       |  GROUP BY doc_id, term),
       |${bm25ScoredCtes("tf")}""".stripMargin

  /** The hybrid family's two legs per query doc (doc_id % 100 = 0): the
    * q123 BM25 over the query's distinct tokens `qt(query_id, term)`,
    * top 20 as `lex(query_id, doc_id, bm25_micro, r)`, and q30's rounded
    * cosine, top 20 as `dense(query_id, doc_id, r)`. */
  private val hybridLegCtes: String =
    s"""$bm25CorpusCtes,
       |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM toks
       |       WHERE doc_id % 100 = 0),
       |allt AS (SELECT DISTINCT term FROM qt),
       |tf AS (
       |  SELECT toks.doc_id, toks.term, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks JOIN allt USING (term)
       |  GROUP BY toks.doc_id, toks.term),
       |${bm25IdfCte("tf")},
       |lexscore AS (
       |  SELECT qt.query_id, tf.doc_id, CAST(sum(
       |    ${bm25Micro("tf")}
       |    // 1000000) AS BIGINT) AS bm25_micro
       |  FROM tf JOIN qt USING (term) JOIN idf USING (term)
       |    JOIN dl ON tf.doc_id = dl.doc_id
       |    CROSS JOIN corpus c
       |  WHERE tf.doc_id <> qt.query_id
       |  GROUP BY qt.query_id, tf.doc_id),
       |lex AS (
       |  SELECT query_id, doc_id, bm25_micro,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY bm25_micro DESC, doc_id) AS r
       |  FROM lexscore
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY bm25_micro DESC, doc_id) <= 20),
       |${embNormCte("emb")},
       |dense AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6)
       |        DESC, e.vec_id) AS r
       |  FROM emb e
       |    CROSS JOIN (SELECT * FROM emb WHERE vec_id % 100 = 0) q
       |  WHERE e.vec_id <> q.vec_id
       |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY round(list_dot_product(q.v, e.v) / (q.nrm * e.nrm), 6)
       |      DESC, e.vec_id) <= 20)""".stripMargin

  /** `perq`/`rr`/`ov` and the closing select of the recall@k /
    * reciprocal-rank oracles: `truth` and `system` expose
    * (query_id, `id`, r). */
  private def recallMetricsSql(truth: String, system: String,
                               id: String): String =
    s"""perq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
       |         FROM $truth GROUP BY query_id),
       |top1 AS (SELECT query_id, $id FROM $truth WHERE r = 1),
       |rr AS (
       |  SELECT t.query_id,
       |    CAST(coalesce(1000000 // s.r, 0) AS BIGINT) AS rr_micro
       |  FROM top1 t LEFT JOIN $system s
       |    ON t.query_id = s.query_id AND t.$id = s.$id),
       |ov AS (
       |  SELECT s.query_id, CAST(count(*) AS BIGINT) AS n_overlap
       |  FROM $system s JOIN $truth t
       |    ON s.query_id = t.query_id AND s.$id = t.$id
       |  GROUP BY s.query_id)
       |SELECT p.query_id, rr.rr_micro,
       |  coalesce(ov.n_overlap, 0) AS n_overlap,
       |  (1000000 * coalesce(ov.n_overlap, 0)) // p.n_truth
       |    AS recall_micro
       |FROM perq p JOIN rr USING (query_id) LEFT JOIN ov USING (query_id)
       |ORDER BY p.query_id""".stripMargin

  /** q85's exemplar IVF over the `allowed` (lang = 'en') ids: `e`, the
    * centroids, assignment and 2-list probing, and `scored(query_id,
    * neighbor_id, sim)` — the probed, allowed candidates. */
  private val filteredIvfCtes: String =
    s"""${embNormCte("e")},
       |allowed AS (
       |  SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'),
       |${ivfExemplarCentroidsCte("c")},
       |${ivfAssignProbeCtes("c", nProbe = 2)},
       |scored AS (
       |  SELECT p.query_id, a.neighbor_id,
       |    round(list_dot_product(qe.v, ne.v) / (qe.nrm * ne.nrm), 6) AS sim
       |  FROM assigned a JOIN probes p USING (list)
       |  JOIN allowed al ON al.vec_id = a.neighbor_id
       |  JOIN e qe ON qe.vec_id = p.query_id
       |  JOIN e ne ON ne.vec_id = a.neighbor_id
       |  WHERE a.neighbor_id <> p.query_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // the q123 integer arithmetic with the fielded tf'/dl' built first:
    // weighted full-outer merge of body and anchor term frequencies,
    // weighted combined length, merged-field document frequency
    "q185_anchor_boosted_bm25" ->
      s"""WITH btk AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        |  FROM documents),
        |btf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf_b
        |  FROM btk WHERE term IN ('table','stream','review','trusted','corpus')
        |  GROUP BY 1, 2),
        |anc AS (SELECT doc_id, u.a AS anchor_norm, CAST(u.n AS BIGINT) AS n
        |  FROM (SELECT doc_id, unnest([
        |    {'a': 'review of ' || lang || ' corpus', 'n': 1 + doc_id % 3},
        |    {'a': CASE WHEN doc_id % 5 = 0 THEN 'trusted stream reference'
        |          ELSE 'misc link' END, 'n': 1}]) AS u
        |  FROM documents) t),
        |atk AS (SELECT doc_id, n,
        |    unnest(string_split_regex(trim(lower(anchor_norm)), '\\s+')) AS term
        |  FROM anc),
        |atf AS (SELECT doc_id, term, CAST(sum(n) AS BIGINT) AS tf_a
        |  FROM atk WHERE term IN ('table','stream','review','trusted','corpus')
        |  GROUP BY 1, 2),
        |tfm AS (SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |    coalesce(b.term, a.term) AS term,
        |    1 * coalesce(b.tf_b, 0) + 2 * coalesce(a.tf_a, 0) AS tf
        |  FROM btf b FULL OUTER JOIN atf a
        |    ON b.doc_id = a.doc_id AND b.term = a.term),
        |bdl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl_b
        |  FROM btk GROUP BY doc_id),
        |adl AS (SELECT doc_id, CAST(sum(n *
        |    len(string_split_regex(trim(lower(anchor_norm)), '\\s+')))
        |    AS BIGINT) AS dl_a FROM anc GROUP BY doc_id),
        |dl AS (SELECT b.doc_id, b.dl_b + 2 * coalesce(a.dl_a, 0) AS dl
        |  FROM bdl b LEFT JOIN adl a ON a.doc_id = b.doc_id),
        |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |                  CAST(sum(dl) AS BIGINT) AS t FROM dl),
        |${bm25ScoredCtes("tfm")}
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS "rank",
        |  bm25_micro, bm25_micro / 1000000.0 AS bm25
        |FROM scored
        |QUALIFY row_number() OVER (ORDER BY bm25_micro DESC, doc_id) <= 20
        |ORDER BY "rank"""".stripMargin,

    // integer micro-cosines before max/sum make every aggregate exact;
    // doc = vec_id // 8 mirrors the Spark div
    "q122_maxsim_topk" ->
      """WITH tok AS (
        |  SELECT vec_id // 8 AS doc, vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |q AS (SELECT * FROM tok WHERE doc % 10 = 0),
        |pair AS (
        |  SELECT q.doc AS query_doc, q.vec_id AS qtok, c.doc AS cand_doc,
        |    CAST(round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm)
        |      * 1000000) AS BIGINT) AS micro
        |  FROM tok c CROSS JOIN q WHERE c.doc <> q.doc),
        |mx AS (
        |  SELECT query_doc, cand_doc, qtok, max(micro) AS m
        |  FROM pair GROUP BY query_doc, cand_doc, qtok),
        |sc AS (
        |  SELECT query_doc, cand_doc, CAST(sum(m) AS BIGINT) AS maxsim_micro
        |  FROM mx GROUP BY query_doc, cand_doc)
        |SELECT query_doc,
        |  row_number() OVER (PARTITION BY query_doc
        |    ORDER BY maxsim_micro DESC, cand_doc) AS "rank",
        |  cand_doc, maxsim_micro
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY query_doc
        |  ORDER BY maxsim_micro DESC, cand_doc) <= 5
        |ORDER BY query_doc, "rank"""".stripMargin,

    // BM25 in the same integer micro-units as the Spark side: `//` is
    // DuckDB's floor division ≡ Spark's `div` on these all-positive
    // operands; sums CAST to BIGINT (DuckDB sums BIGINT into HUGEINT)
    "q123_bm25_topk" ->
      s"""WITH $bm25FixedQueryCtes
        |SELECT doc_id,
        |  row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS "rank",
        |  bm25_micro, bm25_micro / 1000000.0 AS bm25
        |FROM scored
        |QUALIFY row_number() OVER (ORDER BY bm25_micro DESC, doc_id) <= 10
        |ORDER BY "rank"""".stripMargin,

    // q123's integer BM25 re-used per query (the query doc's distinct
    // tokens as the term set), q30's rounded-cosine dense leg, fused by
    // integer reciprocal-rank — the full-outer + coalesce IS the RRF
    // "missing leg contributes zero" rule
    "q124_hybrid_rrf" ->
      s"""WITH $hybridLegCtes,
        |fused AS (
        |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
        |    coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    CAST(coalesce(1000000 // (60 + l.r), 0)
        |       + coalesce(1000000 // (60 + d.r), 0) AS BIGINT) AS rrf_micro,
        |    l.r IS NOT NULL AS in_lex, d.r IS NOT NULL AS in_dense
        |  FROM lex l FULL OUTER JOIN dense d
        |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
        |SELECT query_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_micro DESC, doc_id) AS "rank",
        |  doc_id, rrf_micro, in_lex, in_dense
        |FROM fused
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY rrf_micro DESC, doc_id) <= 5
        |ORDER BY query_id, "rank"""".stripMargin,

    // q123's BM25 CTEs feeding an R-bounded expansion ranking
    "q127_prf_expansion" ->
      s"""WITH $bm25FixedQueryCtes,
        |r AS (SELECT doc_id FROM scored
        |      ORDER BY bm25_micro DESC, doc_id LIMIT 10),
        |rtf AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS tf_r
        |  FROM toks JOIN r USING (doc_id)
        |  WHERE term NOT IN ('table', 'window', 'hash', 'stream')
        |  GROUP BY term),
        |dfreq AS (
        |  SELECT toks.term,
        |    CAST(count(DISTINCT toks.doc_id) AS BIGINT) AS df
        |  FROM toks JOIN (SELECT term FROM rtf) cand USING (term)
        |  GROUP BY toks.term),
        |w AS (
        |  SELECT rtf.term, rtf.tf_r *
        |    CAST(round(ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
        |      * 1000000) AS BIGINT) AS weight_micro
        |  FROM rtf JOIN dfreq d USING (term) CROSS JOIN corpus c)
        |SELECT row_number() OVER (ORDER BY weight_micro DESC, term)
        |    AS "rank",
        |  term, weight_micro
        |FROM w
        |QUALIFY row_number() OVER (ORDER BY weight_micro DESC, term) <= 5
        |ORDER BY "rank"""".stripMargin,

    // q124's legs feeding exact-integer recall@20 / reciprocal rank
    "q128_retrieval_metrics" ->
      s"""WITH $hybridLegCtes,
        |${recallMetricsSql("dense", "lex", "doc_id")}""".stripMargin,

    // q124's legs with the fusion replaced by NOT EXISTS — the anti-join
    // definition of hard negatives
    "q126_hard_negatives" ->
      s"""WITH $hybridLegCtes
        |SELECT l.query_id, l.doc_id, l.r AS "rank", l.bm25_micro
        |FROM lex l
        |WHERE NOT EXISTS (SELECT 1 FROM dense d
        |                  WHERE d.query_id = l.query_id
        |                    AND d.doc_id = l.doc_id)
        |ORDER BY l.query_id, l.r""".stripMargin,

    // q124's fusion CTEs + q129's passage CTEs, composed per query
    "q130_rag_serving" ->
      s"""WITH $hybridLegCtes,
        |fused AS (
        |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
        |    coalesce(l.doc_id, d.doc_id) AS doc_id,
        |    CAST(coalesce(1000000 // (60 + l.r), 0)
        |       + coalesce(1000000 // (60 + d.r), 0) AS BIGINT) AS rrf_micro
        |  FROM lex l FULL OUTER JOIN dense d
        |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
        |fusedtop AS (
        |  SELECT query_id, doc_id, rrf_micro,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_micro DESC, doc_id) AS rnk
        |  FROM fused
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_micro DESC, doc_id) <= 5),
        |base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\\s+') AS arr
        |  FROM documents
        |  WHERE doc_id IN (SELECT doc_id FROM fusedtop)),
        |pos AS (
        |  SELECT doc_id, pt.pos AS pos, pt.term AS term FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(arr) + 1),
        |      i -> {'pos': i, 'term': arr[i]})) AS pt
        |    FROM base)),
        |hits AS (
        |  SELECT f.query_id, p.doc_id, p.pos
        |  FROM pos p
        |    JOIN qt ON p.term = qt.term
        |    JOIN fusedtop f
        |      ON f.query_id = qt.query_id AND f.doc_id = p.doc_id),
        |wins AS (
        |  SELECT s.query_id, s.doc_id, s.pos AS best_start,
        |    CAST(count(*) AS BIGINT) AS n_hits
        |  FROM hits s JOIN hits h
        |    ON s.query_id = h.query_id AND s.doc_id = h.doc_id
        |    AND h.pos >= s.pos AND h.pos < s.pos + 8
        |  GROUP BY s.query_id, s.doc_id, s.pos),
        |best AS (
        |  SELECT query_id, doc_id, best_start, n_hits
        |  FROM wins
        |  QUALIFY row_number() OVER (PARTITION BY query_id, doc_id
        |    ORDER BY n_hits DESC, best_start) = 1)
        |SELECT f.query_id, f.rnk AS "rank", f.doc_id, f.rrf_micro,
        |  b.best_start, b.n_hits,
        |  array_to_string(a.arr[b.best_start : b.best_start + 7], ' ')
        |    AS snippet
        |FROM fusedtop f
        |  JOIN best b ON f.query_id = b.query_id AND f.doc_id = b.doc_id
        |  JOIN base a ON f.doc_id = a.doc_id
        |ORDER BY f.query_id, f.rnk""".stripMargin,

    // hit-position band self-join + earliest-window argmax; 1-based
    // positions match Spark's pos+1, list slicing is inclusive a:b
    "q129_best_passage" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS arr
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id,
        |    unnest(list_filter(list_transform(range(1, len(arr) + 1),
        |        i -> CASE WHEN arr[i] IN ('table', 'window', 'hash',
        |                                  'stream') THEN i END),
        |      x -> x IS NOT NULL)) AS pos
        |  FROM base),
        |wins AS (
        |  SELECT s.doc_id, s.pos AS best_start,
        |    CAST(count(*) AS BIGINT) AS n_hits
        |  FROM hits s JOIN hits h ON s.doc_id = h.doc_id
        |    AND h.pos >= s.pos AND h.pos < s.pos + 8
        |  GROUP BY s.doc_id, s.pos),
        |best AS (
        |  SELECT doc_id, best_start, n_hits
        |  FROM wins
        |  QUALIFY row_number() OVER (PARTITION BY doc_id
        |    ORDER BY n_hits DESC, best_start) = 1)
        |SELECT b.doc_id, b.best_start, b.n_hits,
        |  array_to_string(a.arr[b.best_start : b.best_start + 7], ' ')
        |    AS snippet
        |FROM best b JOIN base a USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // the greedy MMR trace unrolled as five selection stages; the +1e6
    // shift keeps every // nonnegative, matching Spark's div exactly
    "q138_mmr_rerank" -> {
      val pre =
        s"""WITH ${embNormCte("e")},
          |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
          |      FROM e WHERE vec_id % 100 = 0),
          |cands AS (
          |  SELECT query_id, neighbor_id,
          |    CAST(round(sim * 1000000) AS BIGINT) AS rel_micro
          |  FROM (
          |    SELECT q.query_id, e.vec_id AS neighbor_id,
          |      round(list_dot_product(q.qv, e.v) / (q.qn * e.nrm), 6) AS sim
          |    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
          |  QUALIFY row_number() OVER (PARTITION BY query_id
          |    ORDER BY sim DESC, neighbor_id) <= 10),
          |pairs AS (
          |  SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
          |    CAST(round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm)
          |      * 1000000) AS BIGINT) AS sim_micro
          |  FROM cands a JOIN cands b
          |    ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id
          |  JOIN e ea ON ea.vec_id = a.neighbor_id
          |  JOIN e eb ON eb.vec_id = b.neighbor_id),
          |sel1 AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      (700000 * (rel_micro + 1000000)) // 1000000 AS mmr
          |    FROM cands)
          |  QUALIFY row_number() OVER (PARTITION BY query_id
          |    ORDER BY mmr DESC, neighbor_id) = 1)""".stripMargin
      val stages = (2 to 5).map { r =>
        val prevUnion = (1 until r)
          .map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
        s"""prev$r AS ($prevUnion),
           |sel$r AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT c.query_id, c.neighbor_id,
           |      (700000 * (c.rel_micro + 1000000)) // 1000000
           |        - (300000 * (coalesce(m.maxsim, -1000000) + 1000000))
           |          // 1000000 AS mmr
           |    FROM cands c
           |    LEFT JOIN (
           |      SELECT p.query_id, p.id_a AS neighbor_id,
           |        max(p.sim_micro) AS maxsim
           |      FROM pairs p JOIN prev$r s
           |        ON p.query_id = s.query_id AND p.id_b = s.neighbor_id
           |      GROUP BY p.query_id, p.id_a) m
           |      ON m.query_id = c.query_id
           |      AND m.neighbor_id = c.neighbor_id
           |    WHERE NOT EXISTS (SELECT 1 FROM prev$r s
           |      WHERE s.query_id = c.query_id
           |        AND s.neighbor_id = c.neighbor_id))
           |  QUALIFY row_number() OVER (PARTITION BY query_id
           |    ORDER BY mmr DESC, neighbor_id) = 1)""".stripMargin
      }
      val out = (1 to 5)
        .map(r => s"SELECT query_id, $r AS \"rank\", neighbor_id FROM sel$r")
        .mkString("\n  UNION ALL ")
      (pre +: stages).mkString(",\n") +
        s"\nSELECT * FROM (\n  $out)\nORDER BY query_id, \"rank\""
    },

    // q135's exact filtered top-k as truth, q136's funnel as system,
    // fed through q128's metric CTEs
    "q137_filtered_recall" ->
      s"""WITH $filteredIvfCtes,
        |q AS (SELECT vec_id AS query_id, v AS qvec, nrm AS qn
        |      FROM e WHERE vec_id % 100 = 0),
        |truth AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS r
        |  FROM (
        |    SELECT q.query_id, e.vec_id AS neighbor_id,
        |      round(list_dot_product(q.qvec, e.v) / (q.qn * e.nrm), 6) AS sim
        |    FROM e JOIN allowed USING (vec_id) CROSS JOIN q
        |    WHERE e.vec_id <> q.query_id)
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) <= 5),
        |system AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS r
        |  FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY sim DESC, neighbor_id) <= 5),
        |${recallMetricsSql("truth", "system", "neighbor_id")}""".stripMargin,

    // q85's candidate CTEs + the allowed-id semi-join before rerank
    "q136_filtered_ivf" ->
      s"""WITH $filteredIvfCtes
        |${simTopKSelect(5)}""".stripMargin,

    // q30's scorer over the metadata-restricted corpus
    "q135_filtered_ann" ->
      s"""WITH corp AS (
        |  SELECT e.vec_id, e.embedding
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
        |  WHERE d.lang = 'en'),
        |${exactCosineCtes("q", "scored", corpus = "corp")}
        |${simTopKSelect(5)}""".stripMargin,
  )
}
