package graft.entry

/** Corpus curation: PII, contamination, splits,
  * sampling, mixing, sharding, and the release pipeline.
  *
  * One slice of [[graft.SparkEntry]]'s catalog: `queries` and the
  * matching DuckDB `oracleSql` live side by side so an edit to a
  * query and its oracle is always a same-file change.
  */
import graft.entry.EntryTables._
import graft.ext.{Dedup, Multimodal, QualityModel, Retrieval, Similarity, TextOps}
import graft.model.{ColumnSpec, FkRef, TableConfig}
import graft.ops.{Merge, Normalize, TemporalJoin}
import graft.rules.Rules
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

private[graft] object CurationQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- per-source frequency cap (oracle-checked): the corpus-
    // balancing stage of web-scale curation — keep the k best docs per
    // source, ranked by graft_top_k (O(k) state per key, map-side
    // combine; the relation is never window-sorted)
    "q90_source_cap" -> ((s, dir) => {
      graft.ext.TextOps.capPerKey(
          t(s, dir, "documents")
            .withColumn("len", col("n_chars").cast("double")),
          "source", "len", "doc_id", k = 10)
        .orderBy("source", "rank")
    }),

    // ---- temperature-scaled source mixing (oracle-checked): α=0.5
    // sampling over the skewed language mix — per-language keep rates
    // ∝ n^α/n, DECIMAL-exact Σn^α, deterministic md5 uniforms; the
    // documents themselves never shuffle (counts aggregate + broadcast
    // rates + pure-projection keep decision)
    "q92_temperature_mix" -> ((s, dir) => {
      TextOps.temperatureMixSample(t(s, dir, "documents"), "doc_id",
          "lang", budget = 400L, alpha = 0.5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }),

    // ---- PII redaction (oracle-checked): the transform counterpart of
    // q45's census — email → url → ipv4 placeholder rewrite, one
    // codegen'd regex chain, shuffle-free; result pinned cross-engine
    // by md5 of the redacted text
    "q93_pii_redact" -> ((s, dir) => {
      val aug = t(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" contact: user13@example.com" +
              " via https://ex.example/path from 10.0.0.1")))
            .otherwise(col("text")))
      TextOps.redactPii(aug, "text")
        .select(col("doc_id"), md5(col("text_redacted")).as("redacted_md5"),
          length(col("text_redacted")).cast("long").as("len_redacted"))
        .orderBy("doc_id")
    }),

    // ---- contamination fraction + drop verdict (oracle-checked): the
    // policy layer over q46 — per-doc distinct-8-gram count, overlap
    // count vs the held-out corpus, integer-exact ≥10% drop decision;
    // zero-hit docs stay in the relation via the left join
    "q94_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationReport(
          docs.filter(col("doc_id") % 31 =!= 0), "doc_id", "text",
          bench = docs.filter(col("doc_id") % 31 === 0),
          shingleN = 8, dropPct = 10)
        .orderBy("doc_id")
    }),

    // ---- deterministic shuffle-shard layout (oracle-checked): training-
    // order randomization — md5-prefix shard assignment + full-md5
    // within-shard order; one shuffle on the shard key, no global sort
    "q95_shuffle_shards" -> ((s, dir) => {
      TextOps.shuffleShards(t(s, dir, "documents"), "doc_id", nShards = 8)
        .select("shard", "pos", "doc_id")
        .orderBy("shard", "pos")
    }),

    // ---- corpus RELEASE pipeline end-to-end (oracle-checked): ONE lazy
    // plan composing the four new release-prep operators — implant PII
    // (observability aug) → contamination-fraction gate (drop ≥10%
    // benchmark overlap) → PII redaction → temperature-scaled mixing →
    // deterministic shuffle-shard layout. The integration query for the
    // release family, like q63 is for curation and q42 for the ETL.
    "q96_release_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 31 === 0)
      val aug = docs.filter(col("doc_id") % 31 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" contact: user13@example.com" +
              " via https://ex.example/path from 10.0.0.1")))
            .otherwise(col("text")))
      // batch and streaming share these stages VERBATIM: the same
      // curate/release pair runs incrementally in
      // streaming.ReleasePipeline's micro-batch loop, and
      // ReleasePipelineSpec pins two-micro-batches ≡ this one-batch plan
      val curated = graft.streaming.ReleasePipeline.curate(
        aug, "doc_id", "text", bench, shingleN = 8, dropPct = 10)
      graft.streaming.ReleasePipeline.release(curated, "doc_id", "lang",
        budget = 300L, nShards = 4)
    }),

    // ---- curation funnel report (oracle-checked): the per-stage
    // retention table a production curation pipeline monitors — quality
    // filter → exact dedup (keep-first) → benchmark decontamination,
    // each stage's in/out counts from ONE pass over per-doc flags.
    // Every 17th doc is implanted as an exact duplicate so the dedup
    // stage is exercised for real. Flags join on doc_id; the final
    // funnel is a 1-row aggregate unpivoted with stack().
    "q101_curation_funnel" -> ((s, dir) => {
      // par: q144's rationale - md5-per-token legs off one scan core.
      // localCheckpoint: the spread+implant head feeds FOUR legs
      // (quality scorer, dedup digest, contamination corpus AND bench) —
      // materialize it once so the plan carries ONE spread exchange, not
      // one full-payload re-shuffle per leg (the r16 regression shape).
      val withDups = withDupImplant(par(t(s, dir, "documents"), "doc_id"))
        .localCheckpoint()
      val bench = withDups.filter(col("doc_id") % 31 === 0)
      val corpus = withDups.filter(col("doc_id") % 31 =!= 0)
      val qf = QualityModel.qualityClassifierScore(corpus, "text")
        .select(col("doc_id"), col("kept").as("q_ok"))
      val df = funnelDedupStage(corpus)
      val cf = funnelContamStage(corpus, bench)
      qf.join(df, "doc_id").join(cf, "doc_id")
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("q_ok"), 1)).as("n_q"),
          count(when(col("q_ok") && col("d_ok"), 1)).as("n_qd"),
          count(when(col("q_ok") && col("d_ok") && col("c_ok"), 1))
            .as("n_qdc"))
        .select(expr(
          """stack(3,
            |  '1_quality',       n_total, n_q,
            |  '2_exact_dedup',   n_q,     n_qd,
            |  '3_decontaminate', n_qd,    n_qdc) AS (stage, n_in, n_out)"""
            .stripMargin))
        .withColumn("retention",
          floor(col("n_out") / (col("n_in") * lit(1.0)) * 1e6) / 1e6)
        .orderBy("stage")
    }),

    // ---- deterministic train/val/test split (oracle-checked): assignment
    // is a pure function of (salt, id) — stable under corpus growth
    "q49_stable_split" -> ((s, dir) => {
      TextOps.stableSplit(t(s, dir, "documents"), "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
        .orderBy("split")
    }),

    // ---- training-mixture report (oracle-checked): per-(source, lang)
    // document/token counts and each cell's share of the corpus token
    // budget — the table every data-mixing decision reads. One
    // partial-combinable aggregation; the share is a window over the
    // (tiny) aggregated result, never over raw rows.
    "q52_corpus_mixture" -> ((s, dir) => {
      // the global window rides the AGGREGATED relation (≤ |sources|×
      // |langs| rows — a mixture report is small-cardinality by
      // definition), not the corpus, so its single-partition exchange is
      // bounded at any data scale; PlanAudit's GLOBAL-WINDOW flag on this
      // query is expected and documented. The alternative (scalar total
      // cross-joined back) would recompute the aggregation subtree and
      // scan the corpus twice — strictly worse at 100 TB.
      t(s, dir, "documents")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextOps.tokens(col("text")))).as("n_tokens"))
        .withColumn("token_share",
          round(col("n_tokens") / sum(col("n_tokens")).over(Window.partitionBy()),
            6))
        .orderBy("source", "lang")
    }),

    // ---- token-budget mixture sampling (oracle-checked): downsample
    // each (source, lang) cell to a 120-token budget, consuming docs in
    // deterministic hash order — the reproducible mixture-construction
    // step between the q52 report and training
    "q57_budget_sample" -> ((s, dir) => {
      TextOps.sampleToTokenBudget(t(s, dir, "documents"), "doc_id", "text",
          groupCols = Seq("source", "lang"), budgetTokens = 120L)
        .select("doc_id", "source", "lang", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    }),

    // ---- sequence-packing layout (oracle-checked): per-source GPT-style
    // packing of the token stream into 512-token training sequences —
    // each doc mapped to the sequence span it lands in, deterministic
    // hash order, boundaries crossed mid-document as real packing does
    "q58_sequence_pack" -> ((s, dir) => {
      TextOps.packSequences(t(s, dir, "documents"), "doc_id", "text",
          groupCols = Seq("source"), windowTokens = 512)
        .select("doc_id", "source", "n_tokens", "start_tok",
          "seq_first", "seq_last")
        .orderBy("doc_id")
    }),

    // ---- deterministic weighted sample (oracle-checked): Efraimidis-
    // Spirakis priorities from (salt, id)-derived uniforms — sampling
    // ∝ n_chars per language, reproducible across engines and runs.
    "q78_weighted_sample" -> ((s, dir) => {
      TextOps.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars",
          Seq("lang"), k = 25)
        .select("lang", "doc_id", "n_chars", "sample_rank")
        .orderBy("lang", "sample_rank")
    }),

    // ---- deterministic stratified sample (oracle-checked): 20 docs per
    // language, ranked by md5(salt:id) — reproducible, engine-independent,
    // one shuffle on the stratum key
    "q62_stratified_sample" -> ((s, dir) => {
      TextOps.stratifiedSample(t(s, dir, "documents"), "lang", "doc_id",
          perStratum = 20)
        .select("lang", "doc_id", "rank")
        .orderBy("lang", "rank")
    }),

    // ---- LLM curation pipeline end-to-end (oracle-checked): ONE lazy
    // plan composing the whole pretraining-data flow — language filter →
    // quality gate (token count + integer-exact stopword threshold) →
    // exact dedup keep-first → 8-gram benchmark decontamination →
    // deterministic split → per-split census. The integration query for
    // the ext/ operator family, like q42 is for the reference's ETL.
    "q63_curation_e2e" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 31 === 0)
      val cleaned = docs
        .filter(col("doc_id") % 31 =!= 0 && col("lang") === "en")
        .withColumn("n_toks", TextOps.tokenCount(col("text")))
        .filter(col("n_toks").between(20, 2000))
        .withColumn("n_stop",
          TextOps.stopwordCount(col("text"), TextOps.Stopwords("en")))
        .filter(col("n_stop") * 25 > col("n_toks")) // ratio > 0.04, int-exact
      val contaminated = Dedup.contaminationHits(cleaned, "doc_id", "text",
          bench, shingleN = 8).select("doc_id")
      val kept = cleaned.withColumn("h", sha2(col("text"), 256))
        .groupBy("h")
        .agg(min(col("doc_id")).as("doc_id"), min(col("n_toks")).as("n_toks"))
        .join(contaminated, Seq("doc_id"), "left_anti")
      TextOps.stableSplit(kept, "doc_id")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("sum_tokens"),
          min(col("doc_id")).as("min_id"))
        .orderBy("split")
    }),

    // ---- decontamination at scale (oracle-checked): same relation as
    // q46, but the corpus side passes a distributed-built Bloom filter of
    // the bench shingles BEFORE any shuffle — only true hits + ~1% false
    // positives reach the exact verify join. No false negatives, so the
    // result — and the oracle — are exactly q46's.
    "q55_contamination_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationHitsBloom(
          docs.filter(col("doc_id") % 31 =!= 0), "doc_id", "text",
          bench = docs.filter(col("doc_id") % 31 === 0),
          shingleN = 8, expectedItems = 200000L, fpp = 0.01)
        .orderBy("doc_id")
    }),

    // ---- PII census (oracle-checked): engine-portable regex patterns,
    // synthetic injections so every counter exercises a non-zero path
    "q45_pii_scan" -> ((s, dir) => {
      val aug = t(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" contact: user13@example.com" +
              " via https://ex.example/path from 10.0.0.1")))
            .otherwise(col("text")))
      TextOps.withPiiCounts(aug, "text")
        .select(col("doc_id"), col("n_email").cast("long").as("n_email"),
          col("n_url").cast("long").as("n_url"),
          col("n_ipv4").cast("long").as("n_ipv4"), col("has_pii"))
        .orderBy("doc_id")
    }),

    // ---- benchmark decontamination (oracle-checked): docs sharing any
    // distinct 8-gram with the held-out corpus (doc_id % 31 = 0), with the
    // per-document overlap count. One shingle-key equi-join — shuffles
    // carry shingles, never documents.
    "q46_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminationHits(
          docs.filter(col("doc_id") % 31 =!= 0), "doc_id", "text",
          bench = docs.filter(col("doc_id") % 31 === 0),
          shingleN = 8)
        .orderBy("doc_id")
    }),

    // ---- the trained classifier DEPLOYED in the curation funnel
    // (oracle-checked): q101's stage report with stage 1 swapped from
    // the fixed md5-weight scorer to the IN-ENGINE-TRAINED model —
    // train on the corpus (teacher labels from the stock scorer),
    // serve through the stock inference operator, then dedup +
    // decontaminate as before. The full train→deploy loop inside one
    // e2e pipeline, with the training replayed in the oracle.
    "q144_trained_funnel" -> ((s, dir) => {
      // par: teacher scoring, trained inference and the shingle legs
      // are all md5-per-token folds off this one scan (q139's rationale).
      // localCheckpoint: those legs are FIVE consumers (teacher, trained
      // inference, dedup digest, contamination corpus and bench) — one
      // materialized spread instead of one full-payload shuffle per leg.
      val withDups = withDupImplant(par(t(s, dir, "documents"), "doc_id"))
        .localCheckpoint()
      val bench = withDups.filter(col("doc_id") % 31 === 0)
      val corpus = withDups.filter(col("doc_id") % 31 =!= 0)
      val teacher = QualityModel.qualityClassifierScore(corpus, "text",
          nBuckets = QtBuckets)
        .select(col("doc_id"), col("text"), col("kept").as("label"))
      val w = QualityModel.trainQualityClassifier(teacher, "doc_id", "text",
        "label", nBuckets = QtBuckets, steps = QtSteps, lrPpm = QtLrPpm)
      val qf = QualityModel.qualityClassifierScoreWith(corpus, "text", w.toSeq)
        .select(col("doc_id"), col("kept").as("q_ok"))
      val df = funnelDedupStage(corpus)
      val cf = funnelContamStage(corpus, bench)
      qf.join(df, "doc_id").join(cf, "doc_id")
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("q_ok"), 1)).as("n_q"),
          count(when(col("q_ok") && col("d_ok"), 1)).as("n_qd"),
          count(when(col("q_ok") && col("d_ok") && col("c_ok"), 1))
            .as("n_qdc"))
        .select(expr(
          """stack(3,
            |  '1_trained_quality', n_total, n_q,
            |  '2_exact_dedup',     n_q,     n_qd,
            |  '3_decontaminate',   n_qd,    n_qdc) AS (stage, n_in, n_out)"""
            .stripMargin))
        .withColumn("retention",
          floor(col("n_out") / (col("n_in") * lit(1.0)) * 1e6) / 1e6)
        .orderBy("stage")
    }),

    // ---- DSIR-weighted budget selection (oracle-checked): the
    // SELECTION step q125's importance weights exist for — per source,
    // keep the most target-like (en-like) documents until a token
    // budget fills. Greedy top-by-weight (the temperature→0 limit of
    // Xie et al.'s Gumbel sampling) stays integer-exact: the family's
    // only ln sites remain on the 256-row lattice, the running token
    // sum is an exact long, ties break by id.
    "q143_dsir_selection" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.dsirSelectBudget(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", "source", budgetTokens = 1000L, nBuckets = 256)
        .orderBy("source", "cum_tokens", "doc_id")
    }),
  )

  // ---- oracle fragments: SQL text only

  /** The held-out bench's distinct 8-shingles (doc_id % 31 = 0) as
    * `name(s)`. */
  private def benchShingleCte(name: String): String =
    s"""$name AS (
       |  SELECT DISTINCT unnest(${shingles8("toks")}) AS s
       |  FROM (SELECT string_split_regex(trim(text), '\\s+') AS toks
       |        FROM documents WHERE doc_id % 31 = 0))""".stripMargin

  /** q46: docs sharing any 8-shingle with the held-out bench
    * (doc_id % 31 = 0), with the per-doc hit count. */
  private val contaminationHitsOracleSql: String =
    s"""WITH ${shingleCte("sh", "toks", "documents")},
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 31 = 0)
       |SELECT doc_id, count(*) AS n_hits
       |FROM sh JOIN bench USING (s)
       |WHERE doc_id % 31 <> 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q90_source_cap" ->
      """SELECT source, CAST(row_number() OVER w AS BIGINT) AS "rank", doc_id,
        |  CAST(n_chars AS DOUBLE) AS len
        |FROM documents
        |WINDOW w AS (PARTITION BY source ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id)
        |QUALIFY row_number() OVER w <= 10
        |ORDER BY source, "rank"""".stripMargin,

    // same op order as the engine: ((budget * sqrt(n)) / total) / n,
    // DECIMAL-exact Σ sqrt(n), md5-derived uniform — bit-identical keep
    // decisions cross-engine
    "q92_temperature_mix" ->
      """WITH counts AS (
        |  SELECT lang, count(*) AS n_src FROM documents GROUP BY lang),
        |total AS (
        |  SELECT sum(CAST(sqrt(n_src) AS DECIMAL(30,10))) AS total_pow
        |  FROM counts),
        |rates AS (
        |  SELECT c.lang,
        |    least(CAST(1.0 AS DOUBLE),
        |      400.0 * sqrt(c.n_src) / CAST(t.total_pow AS DOUBLE) / c.n_src)
        |      AS keep_rate
        |  FROM counts c CROSS JOIN total t)
        |SELECT d.lang, d.doc_id
        |FROM documents d JOIN rates r USING (lang)
        |WHERE ((('0x' || substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
        |       / 4294967296.0) < r.keep_rate
        |ORDER BY lang, doc_id""".stripMargin,

    // redaction order is part of the contract: email, then url, then ipv4
    "q93_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0
        |         THEN text || ' contact: user13@example.com via https://ex.example/path from 10.0.0.1'
        |         ELSE text END AS text
        |  FROM documents),
        |red AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |        'https?://[^\s]+', '[URL]', 'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IPV4]', 'g')
        |      AS text_redacted
        |  FROM aug)
        |SELECT doc_id, md5(text_redacted) AS redacted_md5,
        |  CAST(len(text_redacted) AS BIGINT) AS len_redacted
        |FROM red ORDER BY doc_id""".stripMargin,

    // q46's shingle relation + the per-doc distinct-shingle count and
    // the integer-exact >= 10% drop verdict; left join keeps zero-hit docs
    "q94_contamination_report" ->
      s"""WITH ${shingleCte("sh", "toks", "documents")},
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 31 = 0),
        |nsh AS (SELECT doc_id, count(*) AS n_shingles FROM sh
        |        WHERE doc_id % 31 <> 0 GROUP BY doc_id),
        |hits AS (
        |  SELECT doc_id, count(*) AS n_hits
        |  FROM sh JOIN bench USING (s)
        |  WHERE doc_id % 31 <> 0
        |  GROUP BY doc_id)
        |SELECT n.doc_id, n.n_shingles,
        |  coalesce(h.n_hits, 0) AS n_hits,
        |  (n.n_shingles > 0 AND
        |   coalesce(h.n_hits, 0) * 100 >= n.n_shingles * 10) AS dropped
        |FROM nsh n LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q95_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5('graft:' || CAST(doc_id AS VARCHAR)) AS hx
        |  FROM documents)
        |SELECT CAST((('0x' || substr(hx, 1, 8))::BIGINT % 8) AS INT) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY ('0x' || substr(hx, 1, 8))::BIGINT % 8
        |    ORDER BY hx, doc_id) AS BIGINT) AS pos,
        |  doc_id
        |FROM h
        |ORDER BY shard, pos""".stripMargin,

    // the four release stages chained stage-by-stage, each mirroring its
    // standalone oracle (q94 gate on the augmented corpus, q93 redaction,
    // q92 mixing over the survivors' language counts, q95 layout)
    "q96_release_e2e" ->
      s"""WITH aug AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 13 = 0
        |         THEN text || ' contact: user13@example.com via https://ex.example/path from 10.0.0.1'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 31 <> 0),
        |${shingleCte("sh", "toks", "aug")},
        |${benchShingleCte("bsh")},
        |rep AS (
        |  SELECT sh.doc_id, count(*) AS n_shingles,
        |    count(b.s) AS n_hits
        |  FROM sh LEFT JOIN (SELECT s, s AS hit FROM bsh) b USING (s)
        |  GROUP BY sh.doc_id),
        |kept AS (
        |  SELECT a.doc_id, a.lang, a.text
        |  FROM aug a JOIN rep r USING (doc_id)
        |  WHERE NOT (r.n_shingles > 0 AND r.n_hits * 100 >= r.n_shingles * 10)),
        |red AS (
        |  SELECT doc_id, lang,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |        'https?://[^\\s]+', '[URL]', 'g'),
        |      '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '[IPV4]', 'g')
        |      AS text_redacted
        |  FROM kept),
        |counts AS (SELECT lang, count(*) AS n_src FROM red GROUP BY lang),
        |total AS (
        |  SELECT sum(CAST(sqrt(n_src) AS DECIMAL(30,10))) AS total_pow
        |  FROM counts),
        |rates AS (
        |  SELECT c.lang,
        |    least(CAST(1.0 AS DOUBLE),
        |      300.0 * sqrt(c.n_src) / CAST(t.total_pow AS DOUBLE) / c.n_src)
        |      AS keep_rate
        |  FROM counts c CROSS JOIN total t),
        |mixed AS (
        |  SELECT d.doc_id, d.text_redacted,
        |    md5('graft:' || CAST(d.doc_id AS VARCHAR)) AS hx
        |  FROM red d JOIN rates r USING (lang)
        |  WHERE ((('0x' || substr(md5('graft:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
        |         / 4294967296.0) < r.keep_rate)
        |SELECT CAST((('0x' || substr(hx, 1, 8))::BIGINT % 4) AS INT) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY ('0x' || substr(hx, 1, 8))::BIGINT % 4
        |    ORDER BY hx, doc_id) AS BIGINT) AS pos,
        |  doc_id, md5(text_redacted) AS redacted_md5
        |FROM mixed
        |ORDER BY shard, pos""".stripMargin,

    // each stage mirrors its standalone oracle (q99 logit, keep-first
    // min-window, q94 contamination verdict) over the dup-implanted corpus
    "q101_curation_funnel" ->
      s"""WITH $dupImplantCte,
        |corpus AS (SELECT doc_id, text FROM wd WHERE doc_id % 31 <> 0),
        |$funnelQualityCtes,
        |$funnelDedupCte,
        |$funnelContamCtes,
        |agg AS (
        |  SELECT count(*) AS n_total,
        |    count(CASE WHEN q_ok THEN 1 END) AS n_q,
        |    count(CASE WHEN q_ok AND d_ok THEN 1 END) AS n_qd,
        |    count(CASE WHEN q_ok AND d_ok AND c_ok THEN 1 END) AS n_qdc
        |  FROM qf JOIN df USING (doc_id) JOIN cf USING (doc_id)),
        |st AS (
        |  SELECT '1_quality' AS stage, n_total AS n_in, n_q AS n_out FROM agg
        |  UNION ALL SELECT '2_exact_dedup', n_q, n_qd FROM agg
        |  UNION ALL SELECT '3_decontaminate', n_qd, n_qdc FROM agg)
        |SELECT stage, n_in, n_out,
        |  floor(n_out / (n_in * 1.0) * 1e6) / 1e6 AS retention
        |FROM st ORDER BY stage""".stripMargin,

    "q49_stable_split" ->
      """SELECT CASE WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
        |            WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs, min(doc_id) AS min_id
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin,

    "q45_pii_scan" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0
        |         THEN text || ' contact: user13@example.com via https://ex.example/path from 10.0.0.1'
        |         ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
        |  len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ipv4,
        |  (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
        |   OR len(regexp_extract_all(text, 'https?://[^\s]+')) > 0
        |   OR len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) > 0) AS has_pii
        |FROM aug ORDER BY doc_id""".stripMargin,

    "q46_contamination" -> contaminationHitsOracleSql,

    // bloom prefilter + exact verify has no false negatives, so q55 IS
    // the q46 relation — same oracle
    "q55_contamination_bloom" -> contaminationHitsOracleSql,

    "q52_corpus_mixture" ->
      """WITH agg AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens,
        |  round(n_tokens / sum(n_tokens) OVER (), 6) AS token_share
        |FROM agg ORDER BY source, lang""".stripMargin,

    "q57_budget_sample" ->
      """WITH toks AS (
        |  SELECT doc_id, source, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    md5('graft:' || doc_id) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source, lang
        |      ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM toks)
        |SELECT doc_id, source, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 120 ORDER BY doc_id""".stripMargin,

    "q58_sequence_pack" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    md5('graft:' || doc_id) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
        |      AS BIGINT) AS start_tok
        |  FROM toks)
        |SELECT doc_id, source, n_tokens, start_tok,
        |  CAST(floor(start_tok / 512.0) AS BIGINT) AS seq_first,
        |  CAST(floor((start_tok + n_tokens - 1) / 512.0) AS BIGINT) AS seq_last
        |FROM c ORDER BY doc_id""".stripMargin,

    "q78_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT lang, doc_id, n_chars,
        |    -ln((('0x' || substr(md5('graft:' || doc_id), 1, 8))::BIGINT + 0.5)
        |        / 4294967296.0) / n_chars AS priority
        |  FROM documents WHERE n_chars > 0)
        |SELECT lang, doc_id, n_chars,
        |  CAST(row_number() OVER w AS BIGINT) AS sample_rank
        |FROM keyed
        |WINDOW w AS (PARTITION BY lang ORDER BY priority, doc_id)
        |QUALIFY row_number() OVER w <= 25
        |ORDER BY lang, sample_rank""".stripMargin,

    "q62_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('graft:' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS rank
        |  FROM documents)
        |SELECT lang, doc_id, rank FROM ranked WHERE rank <= 20
        |ORDER BY lang, rank""".stripMargin,

    // mirrors the engine's composition stage by stage; the stopword gate
    // uses the same integer-exact n_stop*25 > n_toks comparison
    "q63_curation_e2e" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text,
        |    len(string_split_regex(trim(text), '\\s+')) AS n_toks,
        |    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        |      x -> x IN ('the','a','of','and','to','in','is','it','that','for')))
        |      AS n_stop
        |  FROM documents WHERE doc_id % 31 <> 0 AND lang = 'en'),
        |quality AS (
        |  SELECT doc_id, text, n_toks FROM corpus
        |  WHERE n_toks BETWEEN 20 AND 2000 AND n_stop * 25 > n_toks),
        |${shingleCte("sh", "toks", "quality")},
        |${benchShingleCte("bench")},
        |contaminated AS (SELECT DISTINCT doc_id FROM sh JOIN bench USING (s)),
        |kept AS (
        |  SELECT min(doc_id) AS doc_id, min(n_toks) AS n_toks
        |  FROM quality GROUP BY sha256(text)),
        |survivors AS (
        |  SELECT doc_id, n_toks FROM kept
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |labeled AS (
        |  SELECT CASE
        |    WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
        |      THEN 'train'
        |    WHEN substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
        |      THEN 'val'
        |    ELSE 'test' END AS split, doc_id, n_toks
        |  FROM survivors)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS sum_tokens, min(doc_id) AS min_id
        |FROM labeled GROUP BY split ORDER BY split""".stripMargin,

    // the q139 training chain over the dup-implanted curation corpus,
    // scored to stage-1 keeps, then q101's dedup/decontaminate stages
    "q144_trained_funnel" -> {
      val corpusSql = "SELECT doc_id, CASE WHEN doc_id % 17 = 0 " +
        "THEN 'duplicate stanza alpha shared across documents' " +
        "ELSE text END AS text FROM documents WHERE doc_id % 31 <> 0"
      s"""${qualityTrainCtes(corpusSql)},
        |score AS (
        |  SELECT c.doc_id, CAST(sum(c.x * w.w) AS BIGINT) AS z
        |  FROM cnt c JOIN w$QtSteps w USING (b) GROUP BY 1),
        |qf AS (SELECT doc_id, z >= 0 AS q_ok FROM score),
        |corpus AS ($corpusSql),
        |$funnelDedupCte,
        |$dupImplantCte,
        |$funnelContamCtes,
        |agg AS (
        |  SELECT count(*) AS n_total,
        |    count(CASE WHEN q_ok THEN 1 END) AS n_q,
        |    count(CASE WHEN q_ok AND d_ok THEN 1 END) AS n_qd,
        |    count(CASE WHEN q_ok AND d_ok AND c_ok THEN 1 END) AS n_qdc
        |  FROM qf JOIN df USING (doc_id) JOIN cf USING (doc_id)),
        |st AS (
        |  SELECT '1_trained_quality' AS stage, n_total AS n_in, n_q AS n_out
        |  FROM agg
        |  UNION ALL SELECT '2_exact_dedup', n_q, n_qd FROM agg
        |  UNION ALL SELECT '3_decontaminate', n_qd, n_qdc FROM agg)
        |SELECT stage, n_in, n_out,
        |  floor(n_out / (n_in * 1.0) * 1e6) / 1e6 AS retention
        |FROM st ORDER BY stage""".stripMargin
    },

    // q125's lattice/scoring CTEs + a per-source greedy budget window —
    // integer running sums, (logw DESC, id) total order
    "q143_dsir_selection" ->
      s"""WITH $dsirLatticeCtes,
        |scored AS (
        |  SELECT d.source, d.doc_id,
        |    CAST(len(string_split_regex(trim(lower(d.text)), '\\s+'))
        |      AS BIGINT) AS n_tokens,
        |    coalesce(p.logw_micro, 0) AS logw_micro
        |  FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id),
        |cum AS (
        |  SELECT source, doc_id, n_tokens, logw_micro,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY logw_micro DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM scored)
        |SELECT source, doc_id, n_tokens, logw_micro, cum_tokens
        |FROM cum WHERE cum_tokens <= 1000
        |ORDER BY source, cum_tokens, doc_id""".stripMargin,
  )
}
