package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** fsck for the persisted-index families: every artifact is a table
  * PAIR (postings + meta/bands/model) whose halves are derived from
  * one build pass — a partial write, a lost append, or a hand edit
  * leaves them internally inconsistent, and a probe over an
  * inconsistent index returns WRONG answers silently (scores shift,
  * candidates vanish) rather than failing. These audits recompute each
  * pair's cross-table invariants as distributed aggregates and report
  * one row per check: run them after ingest appends and before
  * promoting an index to serving, the way a filesystem fsck gates a
  * mount.
  *
  * Report schema (uniform across families): `(check, ok, observed,
  * expected)` with counts as longs — `ok = observed == expected`
  * everywhere, so a reader can alert on `ok = false` without knowing
  * the family. Scale shape: each check is one aggregation over the
  * index tables (never the source corpus); the only driver state is
  * the bounded model read the probe path already does.
  */
object IndexAudit {

  private def report(spark: SparkSession,
                     rows: Seq[(String, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.map { case (check, obs, exp) => (check, obs == exp, obs, exp) }
      .toDF("check", "ok", "observed", "expected")
  }

  /** BM25 pair ([[Retrieval.writeBm25Index]]): `<table>` postings vs
    * `<table>_meta` scalars.
    *  - `meta_n_docs`: meta's N equals the postings' distinct doc count
    *    (a postings-written/meta-not-bumped partial append drifts it);
    *  - `meta_total_tokens`: meta's T equals Σ dl over one row per doc
    *    (dl is denormalized onto every posting of a doc — same drift);
    *  - `postings_unique`: at most one posting row per (term, doc) —
    *    a re-appended document doubles its rows, which would double
    *    its tf weighting AND the probe's scan-time df (observed =
    *    violating pairs, expected 0);
    *  - `dl_consistent`: no doc carries two different dl values
    *    (observed = violating docs, expected 0).
    *
    * df is NOT a stored column ([[Retrieval.writeBm25Index]] computes
    * it at probe time from the pruned scan), so there is no stored-df
    * drift class to audit — by construction.
    */
  def auditBm25(spark: SparkSession, table: String): DataFrame = {
    val p = spark.table(table)
    val meta = spark.table(s"${table}_meta")
    val idCol = if (meta.columns.contains("id_col"))
      meta.select(col("id_col")).head.getString(0)
    else p.columns(1)
    val (metaN, metaT) =
      (meta.select(col("n")).head.getLong(0),
        meta.select(col("t")).head.getLong(0))
    val perDoc = p.groupBy(col(idCol))
      .agg(first(col("dl")).as("dl"),
        countDistinct(col("dl")).as("n_dl"))
    val nDocs = perDoc.count()
    val totT = perDoc.agg(sum(col("dl"))).head.getLong(0)
    val dlBad = perDoc.filter(col("n_dl") > 1).count()
    val dupBad = p.groupBy(col("term"), col(idCol))
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)
      .count()
    report(spark, Seq(
      ("meta_n_docs", nDocs, metaN),
      ("meta_total_tokens", totT, metaT),
      ("postings_unique", dupBad, 0L),
      ("dl_consistent", dlBad, 0L)))
  }

  /** dHash pair ([[Multimodal.writeDHashIndex]]): `<table>` band
    * postings vs `<table>_bands` verify sidecar.
    *  - `postings_without_bands`: postings ids missing from the bands
    *    sidecar (a candidate that can never verify — silently dropped
    *    hits), expected 0;
    *  - `bands_without_postings`: sidecar ids missing from the
    *    postings (rows that can never become candidates), expected 0;
    *  - `band_values_match`: postings (id, band_idx, val) triples that
    *    disagree with the stored band arrays, expected 0.
    */
  def auditDHash(spark: SparkSession, table: String,
                 idCol: String): DataFrame = {
    val p = spark.table(table)
    val b = spark.table(s"${table}_bands")
    val pIds = p.select(col(idCol)).distinct()
    val bIds = b.select(col(idCol)).distinct()
    val orphanP = pIds.join(bIds, Seq(idCol), "left_anti").count()
    val orphanB = bIds.join(pIds, Seq(idCol), "left_anti").count()
    val mismatch = p.join(b, Seq(idCol))
      .filter(element_at(col("bands"), col("band_idx") + 1)
        =!= col("val"))
      .count()
    report(spark, Seq(
      ("postings_without_bands", orphanP, 0L),
      ("bands_without_postings", orphanB, 0L),
      ("band_values_match", mismatch, 0L)))
  }

  /** MinHash pair ([[Dedup.writeMinhashIndex]]): `<table>` band
    * postings vs `<table>_shingles` verify sidecar. This audits
    * STRUCTURE: no orphans in either direction (a half-applied
    * append), and every id carries the same number of band rows
    * (observed = ids deviating from the modal band count, expected 0 —
    * a truncated posting write strands an id with fewer). The
    * signature-family hyperparameters are checked separately: they're
    * persisted in `<table>_meta` ([[Dedup.loadMinhashMeta]]) and
    * probes/appends/repairs fail loudly on mismatch.
    */
  def auditMinhash(spark: SparkSession, table: String,
                   idCol: String): DataFrame = {
    val p = spark.table(table)
    val s = spark.table(s"${table}_shingles")
    val pIds = p.select(col(idCol)).distinct()
    val sIds = s.select(col(idCol)).distinct()
    val orphanP = pIds.join(sIds, Seq(idCol), "left_anti").count()
    val orphanS = sIds.join(pIds, Seq(idCol), "left_anti").count()
    val counts = p.groupBy(col(idCol)).agg(count(lit(1)).as("nb"))
    val modal = counts.groupBy(col("nb")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("nb")).head.getLong(0)
    val nonModal = counts.filter(col("nb") =!= modal).count()
    report(spark, Seq(
      ("postings_without_shingles", orphanP, 0L),
      ("shingles_without_postings", orphanS, 0L),
      ("uniform_band_count", nonModal, 0L)))
  }

  /** Robots-cache pair ([[RobotsCache.refresh]]): `<table>` per-fetch
    * rules vs `<table>_fetches` fetch log.
    *  - `fetch_log_unique`: at most one fetch-log row per (host,
    *    fetched_at_micros) — a replayed refresh doubles the row and
    *    every rule under it (observed = violating pairs, expected 0);
    *  - `rules_have_fetch`: every rules (host, fetched_at_micros)
    *    exists in the fetch log — an orphan means half an append (rules
    *    written, log row lost): its rules can never be the live edge
    *    (observed = orphan pairs, expected 0);
    *  - `rule_rows_unique`: no duplicated full rule row under one fetch
    *    (observed = duplicated rows, expected 0).
    *
    * Rule-LESS fetch-log rows are healthy by design (an empty or
    * allow-all robots body), so no reverse-orphan check exists.
    */
  def auditRobotsCache(spark: SparkSession, table: String): DataFrame = {
    val rules = spark.table(table)
    val log = spark.table(s"${table}_fetches")
    val logDup = log.groupBy(col("host"), col("fetched_at_micros"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    val orphan = rules.select(col("host"), col("fetched_at_micros"))
      .distinct()
      .join(log, Seq("host", "fetched_at_micros"), "left_anti")
      .count()
    val ruleDup = rules.groupBy(rules.columns.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    report(spark, Seq(
      ("fetch_log_unique", logDup, 0L),
      ("rules_have_fetch", orphan, 0L),
      ("rule_rows_unique", ruleDup, 0L)))
  }

  /** PageRank artifact pair ([[Graph.writePageRank]]): `<table>` ranks
    * vs `<table>_meta` provenance.
    *  - `node_count`: stored rows equal the trained node universe
    *    (meta `n_nodes`) — a truncated write strands hosts rank-less,
    *    and the scheduler's left join silently zeroes them;
    *  - `ids_unique`: one rank per id (observed = duplicated ids,
    *    expected 0);
    *  - `mass_conserved`: Σ pr_micro equals the mass recorded at
    *    training time (meta `sum_pr_micro`) — PageRank mass is fixed
    *    once trained, so drift means tampering or a partial write.
    */
  def auditPageRank(spark: SparkSession, table: String): DataFrame = {
    val p = spark.table(table)
    val meta = spark.table(s"${table}_meta").head
    val idCol = meta.getString(meta.fieldIndex("id_col"))
    val nWant = meta.getLong(meta.fieldIndex("n_nodes"))
    val sumWant = meta.getLong(meta.fieldIndex("sum_pr_micro"))
    val n = p.count()
    val dup = p.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    val sum = p.agg(coalesce(org.apache.spark.sql.functions
      .sum(col("pr_micro")), lit(0L))).head.getLong(0)
    report(spark, Seq(
      ("node_count", n, nWant),
      ("ids_unique", dup, 0L),
      ("mass_conserved", sum, sumWant)))
  }

  /** Connected-components artifact pair ([[Graph.writeComponents]]):
    * `<table>` labels vs `<table>_meta` provenance.
    *  - `node_count`: stored rows equal the trained node universe
    *    (meta `n_nodes`);
    *  - `ids_unique`: one label per id (observed = duplicated ids,
    *    expected 0);
    *  - `component_count`: distinct stored labels equal meta
    *    `n_components`;
    *  - `labels_are_roots`: every label is itself a stored node whose
    *    OWN label is itself, and no label exceeds its id — min-label
    *    propagation's invariants; a dangling label, a non-root label,
    *    or a raised label means a half-written or hand-edited table
    *    (observed = violating rows, expected 0).
    */
  def auditComponents(spark: SparkSession, table: String): DataFrame = {
    val c = spark.table(table)
    val meta = spark.table(s"${table}_meta").head
    val idCol = meta.getString(meta.fieldIndex("id_col"))
    val nWant = meta.getLong(meta.fieldIndex("n_nodes"))
    val kWant = meta.getLong(meta.fieldIndex("n_components"))
    val n = c.count()
    val dup = c.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    val k = c.agg(countDistinct(col("component"))).head.getLong(0)
    val roots = c.filter(col("component") === col(idCol))
      .select(col(idCol).as("__root"))
    val badLabel = c.filter(col("component") > col(idCol)).count() +
      c.select(col("component").as("__root"))
        .join(roots, Seq("__root"), "left_anti").count()
    report(spark, Seq(
      ("node_count", n, nWant),
      ("ids_unique", dup, 0L),
      ("component_count", k, kWant),
      ("labels_are_roots", badLabel, 0L)))
  }

  /** Revisit change log ([[graft.streaming.RevisitStream.initLog]]):
    * the append-only url-bucketed version log latest-wins reads fold.
    *  - `versions_consistent`: no (url, seq) carries two DIFFERENT
    *    payloads — identical replay duplicates are benign (latest-wins
    *    absorbs them; compaction sheds them), but divergent rows at
    *    one seq mean two writers raced a cycle (observed = violating
    *    (url, seq) pairs, expected 0);
    *  - `bootstrap_present`: every URL's version history reaches back
    *    to a seq-0 bootstrap OR begins at an insert cycle (seq > 0 is
    *    fine for discovered URLs) — concretely, no URL has a MINIMUM
    *    seq that is negative (a stamp no writer issues; observed =
    *    violating urls, expected 0).
    */
  def auditRevisitLog(spark: SparkSession, table: String,
                      urlCol: String): DataFrame = {
    val log = spark.table(table)
    val divergent = log.groupBy(col(urlCol), col("__seq"))
      .agg(countDistinct(struct(log.columns.filterNot(c =>
        c == urlCol || c == "__seq").map(col): _*)).as("n"))
      .filter(col("n") > 1).count()
    val badSeq = log.groupBy(col(urlCol))
      .agg(min(col("__seq")).as("s0"))
      .filter(col("s0") < 0).count()
    report(spark, Seq(
      ("versions_consistent", divergent, 0L),
      ("bootstrap_present", badSeq, 0L)))
  }

  /** Quality-model pair ([[QualityModel.writeQualityModel]]): the lattice
    * must be DENSE — buckets exactly 0..n-1, no gaps or duplicates
    * (the scorer indexes by position; a gap silently misbinds every
    * bucket above it) — and the meta must carry exactly one salt.
    */
  def auditQualityModel(spark: SparkSession, table: String): DataFrame = {
    val m = spark.table(table)
    val n = m.count()
    val distinctInRange = m
      .filter(col("bucket") >= 0 && col("bucket") < n)
      .select(col("bucket")).distinct().count()
    val saltRows = spark.table(s"${table}_meta").count()
    report(spark, Seq(
      ("dense_contiguous_lattice", distinctInRange, n),
      ("single_salt", saltRows, 1L)))
  }

  /** IVF-PQ pair ([[Pq.writeIndex]]): `<table>` codes vs the
    * `<table>_model` matrices.
    *  - `model_matrix_shapes`: coarse length divides by m·dsub and the
    *    codebook length equals m·ksub·dsub (observed = violations);
    *  - `codes_shape_and_range`: every row carries exactly m codes,
    *    each in [0, ksub) (observed = violating rows, expected 0);
    *  - `assignments_match_model`: stored coarse lists equal the
    *    recomputed nearest-centroid assignment (the stale-model check,
    *    as in [[auditIvf]]).
    */
  def auditPq(spark: SparkSession, table: String, idCol: String,
              vecCol: String): DataFrame = {
    val (coarse, codebooks, m, dsub, ksub) = Pq.loadModel(spark, table)
    val dim = m * dsub
    val shapeBad =
      (if (coarse.nonEmpty && coarse.length % dim == 0) 0L else 1L) +
        (if (codebooks.length == m * ksub * dsub) 0L else 1L)
    val t = spark.table(table)
    val codesBad = t.filter(size(col("codes")) =!= m ||
        exists(col("codes"), c => c < 0 || c >= ksub))
      .count()
    val assignBad = t.filter(element_at(
        Ivf.assignLists(col(vecCol), coarse, dim, 1), 1) =!= col("list"))
      .count()
    report(spark, Seq(
      ("model_matrix_shapes", shapeBad, 0L),
      ("codes_shape_and_range", codesBad, 0L),
      ("assignments_match_model", assignBad, 0L)))
  }

  /** Unigram-model pair ([[TextOps.writeUnigramModel]]): the vocabulary
    * vs its `<table>_meta` window scalar.
    *  - `distinct_pieces`: no piece appears twice (a duplicate makes
    *    the cost map lookup nondeterministic across loads);
    *  - `closed_alphabet`: every character of every piece exists as a
    *    single-char piece (the invariant that keeps ANY word over the
    *    model's alphabet segmentable — a pruned char strands words);
    *  - `pieces_within_window`: no piece longer than the recorded
    *    `max_piece_len` (the Viterbi window would never choose it —
    *    dead weight that signals a meta/model mismatch);
    *  - `single_meta_row`: exactly one recorded window.
    */
  def auditUnigramModel(spark: SparkSession, table: String): DataFrame = {
    val m = spark.table(table)
    val n = m.count()
    val distinctPieces = m.select(col("piece")).distinct().count()
    val singles = m.filter(length(col("piece")) === 1).select(col("piece"))
    val orphanChars = m
      .select(explode(split(col("piece"), "")).as("piece"))
      .filter(length(col("piece")) === 1).distinct()
      .join(singles, Seq("piece"), "left_anti").count()
    val metaRows = spark.table(s"${table}_meta").count()
    val maxLen = spark.table(s"${table}_meta")
      .select(col("max_piece_len")).head.getInt(0)
    val oversized = m.filter(length(col("piece")) > maxLen).count()
    report(spark, Seq(
      ("distinct_pieces", distinctPieces, n),
      ("closed_alphabet", orphanChars, 0L),
      ("pieces_within_window", oversized, 0L),
      ("single_meta_row", metaRows, 1L)))
  }

  // ------------------------------------------------------------- repair

  /** Bucket layout of a catalog table — the repairs rebuild INTO the
    * same spec, since every probe's Exchange-free plan depends on it.
    */
  private[ext] def bucketSpecOf(spark: SparkSession,
                                table: String): (Int, Seq[String], Seq[String]) = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val spec = spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"$table has no bucket spec — not a graft index table"))
    (spec.numBuckets, spec.bucketColumnNames, spec.sortColumnNames)
  }

  private def writeBucketed(df: DataFrame, spark: SparkSession,
                            target: String, layoutOf: String): Unit = {
    val (n, bcols, scols) = bucketSpecOf(spark, layoutOf)
    val w = df.write.format("parquet")
      .bucketBy(n, bcols.head, bcols.tail: _*)
    (if (scols.nonEmpty) w.sortBy(scols.head, scols.tail: _*) else w)
      .mode("overwrite").saveAsTable(target)
  }

  /** Repair a stale/corrupt BM25 meta table by recomputing the corpus
    * scalars from the postings — the remedy for [[auditBm25]]'s
    * `meta_n_docs`/`meta_total_tokens` failures (the shape a
    * partial append leaves: postings written, meta not refreshed).
    * The postings are authoritative; the id-column NAME survives from
    * the old meta (collected before the overwrite). One aggregation
    * over the postings, a 1-row write.
    */
  def repairBm25Meta(spark: SparkSession, table: String): Unit = {
    val p = spark.table(table)
    val meta = spark.table(s"${table}_meta")
    val idCol = if (meta.columns.contains("id_col"))
      meta.select(col("id_col")).head.getString(0)
    else p.columns(1)
    val r = p.groupBy(col(idCol)).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).head
    import spark.implicits._
    Seq((r.getLong(0), r.getLong(1), idCol)).toDF("n", "t", "id_col")
      .coalesce(1)
      .write.format("parquet").mode("overwrite")
      .saveAsTable(s"${table}_meta")
  }

  /** Rebuild a dHash postings table from its bands sidecar — the
    * remedy for [[auditDHash]]'s orphan-posting / tampered-value
    * failures. The sidecar is authoritative (it is what the exact
    * hamming verify reads); the postings are by construction its
    * exploded view, so the rebuild is one projection written back into
    * the postings' own bucket layout. Ids present only in the postings
    * (unverifiable candidates) drop; ids present only in the sidecar
    * regain their postings.
    */
  def repairDHashPostings(spark: SparkSession, table: String,
                          idCol: String): Unit =
    writeBucketed(
      spark.table(s"${table}_bands")
        .select(col(idCol), posexplode(col("bands"))
          .as(Seq("band_idx", "val"))),
      spark, table, layoutOf = table)

  /** Rebuild a MinHash band-postings table from its shingle sidecar —
    * the remedy for [[auditMinhash]]'s truncated-posting / orphan
    * failures. The sidecar stores the shingle SETS (the exact-verify
    * input), so re-signaturing them under the index's hyperparameters
    * restores the postings half bit-for-bit. The supplied values are
    * checked against the `<table>_meta` sidecar
    * ([[Dedup.loadMinhashMeta]]) and a mismatch throws: a repair under
    * the wrong family would rewrite every posting with band keys no
    * probe can ever match, while [[auditMinhash]] sees a
    * self-consistent pair. One signature projection over the sidecar,
    * written back into the postings' bucket layout.
    */
  def repairMinhashPostings(spark: SparkSession, table: String,
                            idCol: String, k: Int = 64, bands: Int = 16,
                            portable: Boolean = false): Unit = {
    // shingleN lives only in the sidecar contents (already shingled),
    // so the repair checks the signature-family half of the meta
    Dedup.loadMinhashMeta(spark, table).foreach { m =>
      require(m.k == k && m.bands == bands && m.portable == portable,
        s"repair of $table under (k=$k, bands=$bands, " +
          s"portable=$portable), but the index " +
          s"was built with $m — the rewrite would be a silent " +
          s"signature-family corruption. Pass the build-time values.")
    }
    writeBucketed(
      spark.table(s"${table}_shingles")
        .select(col(idCol),
          Dedup.minhashSigExpr(col("sh"), k, portable).as("sig"))
        .select(col(idCol),
          posexplode(Dedup.minhashBandExpr(col("sig"), k, bands, portable))
            .as(Seq("band", "bucket")))
        .select(col(idCol),
          concat_ws(":", col("band"), col("bucket")).as("bucket_key")),
      spark, table, layoutOf = table)
  }

  /** Re-assign every IVF row under the STORED centroid model — the
    * remedy for [[auditIvf]]'s `assignments_match_model` failure (a
    * stale-model overwrite or a hand edit). The model is
    * authoritative; vectors live in the index table itself, so the
    * repair is one assignment projection. Staged through
    * `<table>__repair` because the rebuild reads the table it
    * replaces (Spark refuses an in-place overwrite of its own input);
    * the stage carries the same bucket layout, so the swap is
    * metadata-cheap and the probes' Exchange-free plan survives.
    */
  def repairIvfAssignments(spark: SparkSession, table: String,
                           idCol: String, vecCol: String): Unit = {
    graft.plans.GraftFunctions.register(spark)
    val (dim, centroids) = Ivf.loadModel(spark, table)
    val stage = s"${table}__repair"
    writeBucketed(
      spark.table(table).select(col(idCol), col(vecCol),
        element_at(Ivf.assignLists(col(vecCol), centroids, dim, 1), 1)
          .as("list")),
      spark, stage, layoutOf = table)
    writeBucketed(spark.table(stage), spark, table, layoutOf = stage)
    spark.sql(s"DROP TABLE $stage")
  }

  /** Re-encode every IVF-PQ row under the STORED model — the remedy
    * for [[auditPq]]'s `codes_shape_and_range` and
    * `assignments_match_model` failures (a stale-model overwrite, a
    * replayed append encoded against a different codebook, or a hand
    * edit). The model matrices are authoritative; the raw vectors live
    * in the index table itself (the rerank reads them), so the repair
    * is exactly the [[Pq.writeIndex]] projection re-run over the
    * table's own rows: assign the coarse list under the stored
    * centroids, encode the residual under the stored codebooks. Staged
    * through `<table>__repair` like [[repairIvfAssignments]] (Spark
    * refuses an in-place overwrite of its own input); the stage carries
    * the same bucket layout, so probes' Exchange-free plans survive.
    * One projection pass over codes+vectors — never the source corpus.
    */
  def repairPqCodes(spark: SparkSession, table: String,
                    idCol: String, vecCol: String): Unit = {
    graft.plans.GraftFunctions.register(spark)
    val (coarse, codebooks, m, dsub, ksub) = Pq.loadModel(spark, table)
    val dim = m * dsub
    val stage = s"${table}__repair"
    writeBucketed(
      spark.table(table).select(col(idCol), col(vecCol),
          element_at(Ivf.assignLists(col(vecCol), coarse, dim, 1), 1)
            .as("list"))
        .select(col(idCol), col(vecCol), col("list"),
          Pq.encode(col(vecCol), col("list"), codebooks, coarse, m, dsub,
            ksub).as("codes")),
      spark, stage, layoutOf = table)
    writeBucketed(spark.table(stage), spark, table, layoutOf = stage)
    spark.sql(s"DROP TABLE $stage")
  }

  /** Recompute a unigram model's meta window from the vocabulary — the
    * remedy for [[auditUnigramModel]]'s `pieces_within_window` /
    * `single_meta_row` failures (a meta refresh that never followed a
    * vocab overwrite, or a replayed meta write). The vocabulary is
    * authoritative: the Viterbi window must admit the longest piece or
    * that piece is silently unreachable dead weight, so the recorded
    * scalar is by construction `max(length(piece))`. One aggregation
    * over the (bounded, vocab-sized) model table, a 1-row write. The
    * alphabet-gap failure class is NOT recoverable here — a pruned
    * single-char piece's cost is lost information; retrain instead.
    */
  def repairUnigramMeta(spark: SparkSession, table: String): Unit = {
    val maxLen = spark.table(table)
      .agg(max(length(col("piece")))).head.getInt(0)
    import spark.implicits._
    Seq(maxLen).toDF("max_piece_len").coalesce(1)
      .write.format("parquet").mode("overwrite")
      .saveAsTable(s"${table}_meta")
  }

  /** Drift check for a persisted IVF index — the "retrain when drift
    * warrants it" cadence gets its measured trigger: recompute the
    * per-list mean fit ([[Ivf.distortionByList]]) over the CURRENT
    * rows (appends included — they assigned under the frozen model)
    * and compare against the at-build `<table>_health` reference.
    *  - `lists_within_drift_tolerance`: lists whose mean cosine to
    *    their own centroid decayed by more than `tolMicro` micro units
    *    since build — or that exist on only one side (a list that was
    *    empty at build filling up IS a structural shift). Observed =
    *    drifted lists, expected 0; on `ok = false`, rebuild with
    *    [[Ivf.writeIndex]] (consistency stays auditable meanwhile —
    *    drift is a QUALITY signal, not corruption: [[auditIvf]] stays
    *    green under drift because appends honestly used the stored
    *    model).
    * One aggregation over the index table + a ≤ nList-row join.
    */
  def driftIvf(spark: SparkSession, table: String, idCol: String,
               vecCol: String, tolMicro: Long = 20000L): DataFrame = {
    val (dim, cents) = Ivf.loadModel(spark, table)
    driftReport(spark, table,
      Ivf.distortionByList(spark, table, vecCol, dim, cents), tolMicro)
  }

  /** [[driftIvf]] for a persisted IVF-PQ index: same per-list coarse
    * fit under the stored coarse matrix from `<table>_model` (codebook
    * fit rides on coarse fit — residuals grow exactly when coarse fit
    * decays, so one signal covers the pair).
    */
  def driftPq(spark: SparkSession, table: String, idCol: String,
              vecCol: String, tolMicro: Long = 20000L): DataFrame = {
    val (coarse, _, m, dsub, _) = Pq.loadModel(spark, table)
    driftReport(spark, table,
      Ivf.distortionByList(spark, table, vecCol, m * dsub, coarse), tolMicro)
  }

  /** Drift check for the persisted PageRank artifact
    * ([[Graph.writePageRank]]): the scheduler LEFT-joins authority
    * onto current hosts, and every host absent from the stored node
    * universe silently ranks 0 — so coverage decay, not rank decay,
    * is the retrain trigger (rank decay is unobservable without
    * retraining, which would defeat the artifact).
    *  - `hosts_covered`: current hosts missing from the stored table
    *    (observed = missing count, expected 0; on `ok = false`,
    *    retrain via [[Graph.pageRankMicro]] + rewrite).
    * One distinct over the current host relation + an anti-join onto
    * the bucketed artifact scan.
    */
  def driftPageRank(spark: SparkSession, table: String,
                    currentHosts: DataFrame, hostCol: String)
      : DataFrame = {
    val meta = spark.table(s"${table}_meta").head
    val idCol = meta.getString(meta.fieldIndex("id_col"))
    val missing = currentHosts.select(col(hostCol).as(idCol)).distinct()
      .join(spark.table(table).select(col(idCol)), Seq(idCol),
        "left_anti")
      .count()
    report(spark, Seq(("hosts_covered", missing, 0L)))
  }

  /** Components-artifact drift — the same coverage contract as
    * [[driftPageRank]] (the meta records the id column, so the check
    * is artifact-generic): every node in the CURRENT mirror/identity
    * edge universe must be covered by the stored labeling
    * ([[Graph.writeComponents]]); a newly discovered member is the
    * retrain trigger — probing it against the stale artifact would
    * silently read "not mirrored". */
  def driftComponents(spark: SparkSession, table: String,
                      currentNodes: DataFrame, nodeCol: String)
      : DataFrame =
    driftPageRank(spark, table, currentNodes, nodeCol)

  private def driftReport(spark: SparkSession, table: String,
                          current: DataFrame, tolMicro: Long): DataFrame = {
    val health = spark.table(s"${table}_health")
      .select(col("list"), col("mean_cos_micro").as("__h"))
    val drifted = health
      .join(current.select(col("list"), col("mean_cos_micro").as("__c")),
        Seq("list"), "full_outer")
      .filter(col("__c").isNull || col("__h").isNull ||
        col("__c") < col("__h") - lit(tolMicro))
      .count()
    report(spark, Seq(("lists_within_drift_tolerance", drifted, 0L)))
  }

  /** IVF pair ([[Ivf.writeIndex]]): `<table>` assignments vs the
    * `<table>_centroids` model.
    *  - `centroid_matrix_shape`: the flat matrix length is a multiple
    *    of the recorded dim (observed = remainder, expected 0);
    *  - `assignments_match_model`: every stored list equals the
    *    nearest-centroid assignment recomputed under the stored model
    *    (observed = violating rows, expected 0) — the invariant
    *    [[Ivf.appendToIndex]] preserves and a stale-model overwrite
    *    breaks;
    *  - `ids_unique`: one stored row per id (observed = duplicated ids,
    *    expected 0) — the contract under which every probe shape
    *    ([[Ivf.ivfProbe]]) ranks each neighbor once, and which an
    *    append of already-indexed ids breaks.
    */
  def auditIvf(spark: SparkSession, table: String, idCol: String,
               vecCol: String): DataFrame = {
    val (dim, centroids) = Ivf.loadModel(spark, table)
    val shapeRem = (centroids.length % dim).toLong
    val bad = spark.table(table)
      .filter(element_at(
        Ivf.assignLists(col(vecCol), centroids, dim, 1), 1)
        =!= col("list"))
      .count()
    val dup = spark.table(table).groupBy(col(idCol))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).count()
    report(spark, Seq(
      ("centroid_matrix_shape", shapeRem, 0L),
      ("assignments_match_model", bad, 0L),
      ("ids_unique", dup, 0L)))
  }
}
