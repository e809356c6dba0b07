package graft.entry

/** Exact and near-duplicate detection: hash, Jaccard,
  * MinHash+LSH, SimHash, cosine/semantic, spans and clusters.
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

private[graft] object DedupQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- exact dedup by content hash ----------------------------------------
    "q24_exact_dedup" -> ((s, dir) => {
      Dedup.exactDuplicateGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- cross-host MIRROR detection (oracle-checked): exact content
    // equality lifted from document pairs to HOST pairs — full mirrors
    // and scraped republishers a crawler should stop double-fetching.
    // The plant: mirror content keys served by the four EVEN hosts
    // (the clique the detector must find), one boilerplate notice on
    // ALL eight hosts (dropped by the degenerate-hash cap — evidence
    // of site furniture, not mirroring), and per-document unique
    // bodies (no pairs). Capped self-join on the content hash, exact
    // integer-micro host-corpus Jaccard.
    "q195_mirror_detection" -> ((s, dir) => {
      val d = col("doc_id")
      val planted = t(s, dir, "documents").select(
        concat(lit("m"),
          when(d % 3 === 0, (d % 4) * 2).otherwise(d % 8)
            .cast("string"),
          lit(".example.org")).as("mhost"),
        when(d % 3 === 0, concat(lit("shared "), (d % 31).cast("string")))
          .when(d % 3 === 1, lit("boilerplate notice"))
          .otherwise(concat(lit("uniq "), d.cast("string")))
          .as("mtext"))
      Dedup.mirrorCandidates(planted, "mhost", "mtext",
          minShared = 2L, maxHostsPerHash = 6)
        .orderBy("host_a", "host_b")
    }),

    // ---- near-dup pairs: prefix-blocked n-gram Jaccard (oracle-checked;
    // native shingling — identical output, spec-pinned) ----------------------
    "q25_near_dup_jaccard" -> ((s, dir) => {
      Dedup.prefixBlockedNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
          prefixLen = 32, shingleN = 3, minJaccard = 0.5,
          maxBlockSize = 1000)
        .orderBy("id_a", "id_b")
    }),

    // ---- near-dup pairs: MinHash + LSH (oracle-checked): the PORTABLE
    // variant — md5-based shingle hash + md5-derived affine coefficients
    // (native MinHashMd5SigExpr, bit-identical to the HOF fold and the
    // DuckDB formulation), value-string band keys. The xxhash64 pipeline
    // stays spec-tested as the fastest in-Spark path.
    "q26_minhash_near_dup" -> ((s, dir) => {
      Dedup.minhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
          minJaccard = 0.5, shingleN = 3, k = 64, bands = 16,
          portable = true)
        .orderBy("id_a", "id_b")
    }),

    // ---- SimHash fingerprints (oracle-checked): the PORTABLE md5-based
    // variant (native SimHashMd5Expr, bit-identical to the HOF fold and
    // to the DuckDB bit-op formulation), emitted as hi/lo 32-bit halves.
    // The faster xxhash64 simhash64 stays spec-pinned (DedupSpec).
    "q27_simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Dedup.simhash64Portable(col("text")).as("s"))
        .select(col("doc_id"), col("s.simhash_hi").as("simhash_hi"),
          col("s.simhash_lo").as("simhash_lo"))
        .orderBy("doc_id")
    }),

    // ---- document fingerprint (oracle-checked): the portable md5-based
    // 60-bit variant, hash-verified against DuckDB computing the same
    // pipeline; the faster in-Spark xxhash64 variant is spec-pinned to
    // the same collision contract (TextOpsSpec).
    "q28_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.fingerprintPortable(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // ---- LSH near-dup, oracle-checked member (hash-checked): portable
    // ±1 planes, single-table buckets, exact cosine verify of
    // bucket-mate pairs; q38 keeps the multi-table Gaussian family
    "q88_near_dup_lsh_portable" -> ((s, dir) => {
      Dedup.cosineNearDupPairsLshPortable(t(s, dir, "embeddings"),
          "vec_id", "embedding", minCosine = 0.4, nPlanes = 4)
        .orderBy("id_a", "id_b")
    }),

    // ---- cross-document duplicated spans (oracle-checked): Lee et al.
    // 2021's exact-substring dedup signal — per-doc count of token
    // windows whose exact text recurs in another document, plus merged
    // coverage. The shuffles carry (md5(window), doc, start) only.
    "q100_dup_spans" -> ((s, dir) => {
      Dedup.duplicatedSpanStats(t(s, dir, "documents"), "doc_id", "text",
          n = 3)
        .orderBy("doc_id")
    }),

    // ---- CCNet-style normalized-key dedup (oracle-checked): paragraph
    // dedup under the aggressive public normalization (Wenzek et al.
    // 2020 — lowercase, de-accent, digits→0, punctuation→space). Three
    // surface-distinct suffix variants (decomposed uppercase, composed
    // lowercase, bare ASCII — different digits and punctuation) are
    // planted per doc_id%3 and MUST collapse to one key, so the
    // canonical-pick exercises real cross-variant collisions; the
    // shuffle carries only (key_md5, doc_id), never documents.
    "q110_ccnet_dedup" -> ((s, dir) => {
      val aug = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit("\n"),
          when(col("doc_id") % 3 === 0,
            lit("Re\u0301sume\u0301 CAFE\u0301 42!"))
          .when(col("doc_id") % 3 === 1,
            lit("r\u00E9sum\u00E9 caf\u00E9 13?"))
          .otherwise(lit("resume cafe 00"))))
      // canonical pick = min-id AGGREGATE on the normalized-key digest
      // + id-keyed join back (the q149-tail shape; selection identical
      // to the row_number-over-(key, doc_id) formulation it replaces,
      // doc_id being unique) — the key digest never partitions a
      // window, so a viral paragraph reduces map-side.
      val keyed = TextOps.withCcnetKey(aug, "text")
      val kThin = keyed.select(col("doc_id"), col("key_md5"))
        .localCheckpoint()
      val kWin = kThin.groupBy(col("key_md5"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("__c"))
      kThin.join(kWin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("key_md5"),
          coalesce(col("__c"), lit(false)).as("is_canonical"))
        .orderBy("doc_id")
    }),

    // ---- embedding-cosine near-dup: exact all-pairs (oracle-checked;
    // native DotExpr per pair — bit-identical, spec-pinned) -------------------
    "q37_cosine_near_dup" -> ((s, dir) => {
      Dedup.cosineNearDupPairsExact(t(s, dir, "embeddings"),
          "vec_id", "embedding", minCosine = 0.4)
        .orderBy("id_a", "id_b")
    }),

    // ---- embedding-cosine near-dup: LSH-blocked, ORACLE-CHECKED since
    // round 10 — the multi-table OR-construction derandomized (md5 ±1
    // planes per table, q31's sibling for the pair shape). The
    // seeded-Gaussian `cosineNearDupPairsLsh` stays the perf API
    // (spec-pinned); hyperparameters retuned 8×6 → 4×6 with the
    // conversion — deliberate-semantic-change protocol, old pin
    // 8ba6677469f22d5c4c17e4f37e5ed453 rows=15.
    "q38_cosine_near_dup_lsh" -> ((s, dir) => {
      Dedup.cosineNearDupPairsLshPortableMulti(t(s, dir, "embeddings"),
          "vec_id", "embedding", minCosine = 0.4, nTables = 4, nPlanes = 6)
        .orderBy("id_a", "id_b")
    }),

    // ---- corpus-wide line-level dedup (oracle-checked): the C4/
    // MassiveText hygiene pass — keep the globally FIRST occurrence of
    // every distinct line, reassemble documents from survivors. The
    // 3-line corpus is synthesized deterministically (full text + 50-char
    // prefix + a constant boilerplate line) so all three dedup regimes
    // occur: mostly-unique lines, heavily-shared prefixes, one
    // corpus-wide boilerplate line.
    "q50_line_dedup" -> ((s, dir) => {
      val multi = t(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n", col("text"), substring(col("text"), 1, 50),
          lit("graft boilerplate line")).as("text"))
      Dedup.dedupLines(multi, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- duplicate-cluster resolution (oracle-checked): connected
    // components over the q25 near-dup edge set — pairs say A~B and B~C,
    // but the drop decision needs the {A,B,C} cluster. Iterative min-label
    // propagation (checkpointed rounds, converges in diameter rounds);
    // the DuckDB oracle walks the same graph with a recursive CTE.
    "q53_dup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = Dedup.prefixBlockedNearDupPairs(docs, "doc_id", "text",
        prefixLen = 32, shingleN = 3, minJaccard = 0.5,
        maxBlockSize = 1000)
      graft.ext.Graph.connectedComponents(docs, "doc_id", edges, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy("cluster_id")))
        .orderBy("doc_id")
    }),

    // ---- canonical-document selection (oracle-checked): near-dup
    // clusters (q53's components) resolved to their highest-quality
    // member — the keep-best curation policy, composed from three
    // operators (blocked near-dup pairs → connected components →
    // windowed argmax pick).
    "q71_canonical_doc" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val edges = Dedup.prefixBlockedNearDupPairs(docs, "doc_id", "text",
        prefixLen = 32, shingleN = 3, minJaccard = 0.5,
        maxBlockSize = 1000)
      val scored = docs.withColumn("quality",
        TextOps.qualityScore(col("text")))
      Dedup.canonicalDocs(scored, "doc_id", "quality", edges, "id_a", "id_b")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("is_canonical"), col("canonical_id"), col("quality"))
        .orderBy("doc_id")
    }),

    // ---- semantic dedup, SemDeDup-style, ORACLE-CHECKED since
    // round 10: IVF-cluster the embedding space under the
    // md5-derandomized TRAINED quantizer (the q75/q43 shared oracle
    // prefix), drop vectors with a lower-id cluster-mate at
    // cosine >= 0.4 — the all-pairs rule's cost collapses from O(n²)
    // to Σ|cluster|². (`semanticDedupKeptIds`, the murmur3-sampled
    // driver trainer, stays the perf API — SemanticDedupSpec still
    // pins it; hyperparameters retuned 32 → 8 lists with the
    // conversion — deliberate-semantic-change protocol, old pin
    // f885d8ce276a7969d1165fc3111f74d8 rows=480.)
    "q56_semantic_dedup" -> ((s, dir) => {
      Dedup.semanticDedupKeptIdsSeeded(t(s, dir, "embeddings"), "vec_id",
          "embedding", minCosine = 0.4, nList = 8, iters = 2)
        .orderBy("vec_id")
    }),

    // ---- SemDeDup, oracle-checked member (hash-checked): exemplar
    // centroids (k lowest-id vectors, Forgy init without Lloyd) make
    // every stage plain relational algebra, so the cluster-then-
    // dedup-within-cluster shape itself is verified cross-engine; q56
    // is the trained-quantizer variant (itself oracle-checked since
    // round 10 via the seeded trainer)
    "q84_semantic_dedup_exemplar" -> ((s, dir) => {
      Dedup.semanticDedupKeptIdsExemplar(t(s, dir, "embeddings"), "vec_id",
          "embedding", minCosine = 0.4, k = 8)
        .orderBy("vec_id")
    }),
  )

  /** q53's near-dup components: blocked 3-shingle Jaccard ≥ 0.5 pairs
    * as undirected edges, every label walked to everything reachable —
    * `lab(doc_id, cluster_id)`, the min id per component. Needs
    * `WITH RECURSIVE`. */
  private val dupComponentCtes: String =
    """sh AS (
      |  SELECT doc_id, substr(text, 1, 32) AS block,
      |    list_distinct(CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |      ELSE [array_to_string(toks, ' ')] END) AS shingles
      |  FROM (SELECT doc_id, text,
      |        string_split_regex(trim(text), '\s+') AS toks FROM documents)
      |  QUALIFY count(*) OVER (PARTITION BY substr(text, 1, 32)) <= 1000),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
      |  WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
      |      (len(a.shingles) + len(b.shingles)
      |       - len(list_intersect(a.shingles, b.shingles))), 6) >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |walk (id, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.dst, w.label FROM walk w JOIN edges e ON w.id = e.src),
      |lab AS (SELECT id AS doc_id, min(label) AS cluster_id FROM walk GROUP BY id)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // q31's sibling for the pair shape: same shared multi-table ±1
    // signature CTEs, bucket-mate pairs unioned across tables, exact
    // cosine verify
    "q38_cosine_near_dup_lsh" ->
      s"""WITH ${EntryTables.rhpMultiSigCtes(nTables = 4, nPlanes = 6, dim = 64)},
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b
         |    ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b,
         |  round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) AS cosine
         |FROM pairs
         |JOIN e ea ON ea.vec_id = id_a
         |JOIN e eb ON eb.vec_id = id_b
         |WHERE round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    // the q75/q43 shared seeded-trainer prefix, then the q84 tail under
    // the TRAINED centroid relation instead of exemplar seeds
    "q56_semantic_dedup" ->
      s"""${EntryTables.kppLloydCtes(nList = 8, iters = 2, dim = 64)},
         |assigned AS (
         |  SELECT e.vec_id, c.cid, e.v, e.nrm
         |  FROM e CROSS JOIN l2n c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY round(list_dot_product(e.v, c.cvec) / (e.nrm * c.cnrm), 6) DESC,
         |             c.cid) = 1),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4)
         |SELECT vec_id FROM embeddings
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY vec_id""".stripMargin,

    "q24_exact_dedup" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id,
        |  count(*) AS dup_count
        |FROM documents GROUP BY sha256(text) ORDER BY doc_id""".stripMargin,

    // q195: the same lift replayed on raw text equality (md5 is
    // injective up to collision on both sides, so grouping by the text
    // itself is the same relation); the cap, the ordered pair join,
    // and the integer-micro Jaccard via DuckDB's truncating //
    "q195_mirror_detection" ->
      """WITH cls AS (SELECT
        |  'm' || CAST(CASE WHEN doc_id % 3 = 0 THEN (doc_id % 4) * 2
        |    ELSE doc_id % 8 END AS VARCHAR) || '.example.org' AS host,
        |  CASE WHEN doc_id % 3 = 0 THEN 'shared ' ||
        |      CAST(doc_id % 31 AS VARCHAR)
        |    WHEN doc_id % 3 = 1 THEN 'boilerplate notice'
        |    ELSE 'uniq ' || CAST(doc_id AS VARCHAR) END AS t
        |  FROM documents),
        |hx AS (SELECT DISTINCT host, t FROM cls),
        |cnt AS (SELECT t, count(*) AS n FROM hx GROUP BY t),
        |ok AS (SELECT hx.host, hx.t FROM hx JOIN cnt USING (t)
        |  WHERE n <= 6),
        |ph AS (SELECT host, CAST(count(*) AS BIGINT) AS nd FROM ok
        |  GROUP BY host),
        |pr AS (SELECT a.host AS host_a, b.host AS host_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |  FROM ok a JOIN ok b ON a.t = b.t AND a.host < b.host
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT host_a, host_b, n_shared, pa.nd AS n_a, pb.nd AS n_b,
        |  CAST((1000000 * n_shared) // (pa.nd + pb.nd - n_shared)
        |    AS BIGINT) AS jaccard_micro
        |FROM pr JOIN ph pa ON pa.host = host_a
        |JOIN ph pb ON pb.host = host_b
        |ORDER BY host_a, host_b""".stripMargin,

    "q25_near_dup_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, substr(text, 1, 32) AS block,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS shingles
        |  FROM (SELECT doc_id, text,
        |        string_split_regex(trim(text), '\s+') AS toks FROM documents)
        |  QUALIFY count(*) OVER (PARTITION BY substr(text, 1, 32)) <= 1000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |    (len(a.shingles) + len(b.shingles)
        |     - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |    (len(a.shingles) + len(b.shingles)
        |     - len(list_intersect(a.shingles, b.shingles))), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // the portable minhash, value for value: md5-32 shingle hash mod p,
    // md5-derived affine coefficients (closed formula, same on the Spark
    // side), min per hash family, 16 bands of 4 banded by the VALUE
    // string, bucket-capped, exact-jaccard verified — identical pair set
    // by construction since signatures are bit-equal across engines
    "q26_minhash_near_dup" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |      ELSE [array_to_string(toks, ' ')] END) AS shingles
        |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |        FROM documents)),
        |hs AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(s), 1, 8))::BIGINT % 2147483647 AS h
        |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
        |coef AS (
        |  SELECT i,
        |    1 + ('0x' || substr(md5('graft:mh:a:' || i), 1, 8))::BIGINT % 2147483646 AS a,
        |    ('0x' || substr(md5('graft:mh:b:' || i), 1, 8))::BIGINT % 2147483647 AS b
        |  FROM (SELECT unnest(range(0, 64)) AS i)),
        |sig AS (
        |  SELECT doc_id, i, min((a * h + b) % 2147483647) AS sig
        |  FROM hs CROSS JOIN coef GROUP BY doc_id, i),
        |bandkey AS (
        |  SELECT doc_id, i // 4 AS band,
        |    string_agg(sig::VARCHAR, ',' ORDER BY i) AS bucket
        |  FROM sig GROUP BY doc_id, i // 4),
        |capped AS (
        |  SELECT doc_id, band, bucket FROM bandkey
        |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 1000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM capped a JOIN capped b ON a.band = b.band AND a.bucket = b.bucket
        |  WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b,
        |  round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
        |    (len(sa.shingles) + len(sb.shingles)
        |      - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
        |FROM cand
        |JOIN sh sa ON sa.doc_id = cand.id_a
        |JOIN sh sb ON sb.doc_id = cand.id_b
        |WHERE round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
        |    (len(sa.shingles) + len(sb.shingles)
        |      - len(list_intersect(sa.shingles, sb.shingles))), 6) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // the portable simhash, bit for bit: per-token hash = md5 hex digits
    // 1-8 (hi) / 9-16 (lo), ±1 votes per bit over unnested tokens, strict
    // counter>0 sign rule, assembled per 32-bit half (no signed-64 shifts)
    "q27_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
        |    ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
        |  FROM toks),
        |votes AS (
        |  SELECT doc_id, b.b,
        |    sum(CASE WHEN b.b < 32 THEN (lo >> b.b) & 1
        |             ELSE (hi >> (b.b - 32)) & 1 END) AS ones,
        |    count(*) AS n
        |  FROM hashed, (SELECT unnest(range(0, 64)) AS b) b
        |  GROUP BY doc_id, b.b),
        |bits AS (
        |  SELECT doc_id, b,
        |    CASE WHEN 2 * ones > n THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM votes)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN b >= 32 THEN bit * (1::BIGINT << (b - 32))
        |      ELSE 0 END) AS BIGINT) AS simhash_hi,
        |  CAST(sum(CASE WHEN b < 32 THEN bit * (1::BIGINT << b)
        |      ELSE 0 END) AS BIGINT) AS simhash_lo
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same md5-over-token-sequence pipeline as fingerprintPortable: 15 hex
    // digits = 60 bits, always in signed-BIGINT range on both engines
    "q28_fingerprint" ->
      """SELECT doc_id,
        |  ('0x' || substr(md5(array_to_string(
        |      string_split_regex(trim(text), '\s+'), ' ')), 1, 15))::BIGINT
        |    AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    // strip_accents(lower(x)) is DuckDB's equivalent of graft's
    // lower→NFD→drop-combining-marks chain (verified char-for-char on the
    // planted set); the three regexes mirror TextOps.ccnetKey exactly —
    // whitespace classes written out because RE2's \s and Java's differ
    // on U+000B. chr(233)=é composed, chr(769)=combining acute.
    "q110_ccnet_dedup" ->
      """WITH aug AS (
        |  SELECT doc_id, text || chr(10) ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'Re' || chr(769) || 'sume' || chr(769) || ' CAFE' ||
        |              chr(769) || ' 42!'
        |         WHEN doc_id % 3 = 1
        |         THEN 'r' || chr(233) || 'sum' || chr(233) || ' caf' ||
        |              chr(233) || ' 13?'
        |         ELSE 'resume cafe 00' END AS text
        |  FROM documents),
        |k AS (SELECT doc_id,
        |  md5(trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(strip_accents(lower(text)), '[0-9]', '0', 'g'),
        |      '[^a-z0-9 \t\n\r\f]', ' ', 'g'),
        |    '[ \t\n\r\f]+', ' ', 'g'))) AS key_md5
        |  FROM aug)
        |SELECT doc_id, key_md5,
        |  row_number() OVER (PARTITION BY key_md5 ORDER BY doc_id) = 1
        |    AS is_canonical
        |FROM k ORDER BY doc_id""".stripMargin,

    "q37_cosine_near_dup" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "q84_semantic_dedup_exemplar" ->
      s"""WITH ${embNormCte("e")},
        |${ivfExemplarCentroidsCte("c")},
        |assigned AS (
        |  SELECT e.vec_id, c.cid, e.v, e.nrm
        |  FROM e CROSS JOIN c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY round(list_dot_product(e.v, c.cvec) / (e.nrm * c.cnrm), 6) DESC,
        |             c.cid) = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM assigned a JOIN assigned b
        |    ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.4)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY vec_id""".stripMargin,

    "q88_near_dup_lsh_portable" ->
      s"""WITH ${rhpSigCtes(nPlanes = 4, dim = 64)},
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) AS cosine
        |  FROM sigs a JOIN sigs b USING (sig)
        |  JOIN e ea ON ea.vec_id = a.vec_id
        |  JOIN e eb ON eb.vec_id = b.vec_id
        |  WHERE a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM pairs
        |WHERE cosine >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // merged-interval coverage via the sorted-starts lag identity; the
    // window key is the full md5 hex, identical in both engines
    "q100_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(range(1, CASE WHEN len(toks) >= 3 THEN len(toks) - 1
        |                        ELSE 1 END)) AS i,
        |    toks
        |  FROM t),
        |s AS (
        |  SELECT doc_id, i,
        |    md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])) AS k
        |  FROM w),
        |dup AS (SELECT k FROM s GROUP BY k HAVING count(DISTINCT doc_id) > 1),
        |d AS (SELECT s.doc_id, s.i FROM s JOIN dup USING (k)),
        |cov AS (
        |  SELECT doc_id, i,
        |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
        |         THEN 3
        |         ELSE least(3, i - lag(i) OVER (PARTITION BY doc_id ORDER BY i))
        |    END AS c
        |  FROM d),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_dup_windows,
        |    CAST(sum(c) AS BIGINT) AS dup_cov_tokens
        |  FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  coalesce(a.n_dup_windows, 0) AS n_dup_windows,
        |  coalesce(a.dup_cov_tokens, 0) AS dup_cov_tokens,
        |  floor(coalesce(a.dup_cov_tokens, 0) / (len(t.toks) * 1.0) * 1e6) / 1e6
        |    AS dup_ratio
        |FROM t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    // parallel unnest zips in DuckDB, mirroring posexplode's (idx, line);
    // keep-first = row_number over the line ordered by (doc_id, idx)
    "q50_line_dedup" ->
      """WITH lines AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, 2)) AS idx,
        |    unnest([text, substr(text, 1, 50), 'graft boilerplate line']) AS line
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, idx, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) = 1 AS kept
        |  FROM lines)
        |SELECT doc_id, count(*) AS n_lines,
        |  count(CASE WHEN kept THEN 1 END) AS n_kept,
        |  coalesce(string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY idx), '')
        |    AS text_kept
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same edge set as q25; the recursive walk propagates every label to
    // everything reachable, so min(label) per node = min id in component
    "q53_dup_clusters" ->
      s"""WITH RECURSIVE $dupComponentCtes
        |SELECT doc_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM lab ORDER BY doc_id""".stripMargin,

    // q53's recursive component walk + q23's quality formula + a
    // first_value window for the keep-best pick.
    "q71_canonical_doc" ->
      s"""WITH RECURSIVE $dupComponentCtes,
        |qual AS (
        |  SELECT doc_id,
        |    floor((
        |      (CASE WHEN length(text) BETWEEN 100 AND 10000 THEN 1.0
        |            WHEN length(text) BETWEEN 20 AND 99 THEN 0.5 ELSE 0.1 END) * 0.4
        |      + least(len(list_distinct(string_split_regex(trim(text), '\\s+')))::DOUBLE
        |           / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 1.0) * 0.3
        |      + (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
        |           / greatest(length(text), 1) * 5, 1.0)) * 0.2
        |      + least(round(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        |            x -> x IN ('the','a','of','and','to','in','is','it','that','for')))::DOUBLE
        |           / greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1), 6) * 5, 1.0) * 0.1
        |    ) * 1000000.0) / 1000000.0 AS quality
        |  FROM documents)
        |SELECT lab.doc_id, lab.cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |  (lab.doc_id = first_value(lab.doc_id) OVER w) AS is_canonical,
        |  first_value(lab.doc_id) OVER w AS canonical_id,
        |  qual.quality
        |FROM lab JOIN qual ON lab.doc_id = qual.doc_id
        |WINDOW w AS (PARTITION BY cluster_id ORDER BY quality DESC, lab.doc_id ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY lab.doc_id""".stripMargin,
  )
}
