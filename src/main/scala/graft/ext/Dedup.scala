package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (content
  * hash), near-duplicate via MinHash+LSH, SimHash, and n-gram Jaccard
  * verification.
  *
  * Scale design: every stage is either a projection (signatures,
  * shingles — no shuffle) or an equi-join/aggregation on a hash key
  * (bucketing, pair generation — one shuffle, AQE-skew-safe). Nothing here
  * compares all pairs: candidate generation is always through a bucket
  * key, so cost is O(n · bands) + O(Σ bucket²) with bucket sizes capped.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** 256-bit content hash — grouping key for exact dedup. Hashing first
    * means the shuffle carries 64 hex chars per row instead of full
    * documents.
    */
  def contentHash(text: Column): Column = sha2(text, 256)

  /** Exact duplicate groups: one row per distinct content, with the kept
    * (minimum) id and the group size.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String,
                           textCol: String): DataFrame =
    df.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Exact dedup keeping the smallest id per content (deterministic, unlike
    * `dropDuplicates` which keeps an arbitrary row). `idCol` must identify
    * rows uniquely.
    *
    * Skew shape: the winner per content is [[exactDuplicateGroups]]'s
    * `min(id)` AGGREGATE on the content hash — map-side combining, so a
    * hot duplicate (one boilerplate page with millions of copies) reduces
    * to one row per input partition instead of sending every copy, text
    * attached, to a single reducer — which is exactly what the previous
    * `row_number() over (partition by hash)` formulation did. Survivors
    * then come back via a semi-join on the UNIFORM id key, so document
    * text only ever crosses an id-partitioned exchange.
    */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val winners = exactDuplicateGroups(df, idCol, textCol)
      .select(col(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Write a corpus bucketed by content hash (`bucketBy` + `sortBy` into
    * the table catalog): dedup/grouping re-runs on the stored table then
    * need NO shuffle at all — the scan's bucket partitioning already
    * satisfies the aggregation's distribution requirement. This is the
    * storage layout for a corpus that gets re-deduped every ingest cycle:
    * pay the shuffle once at write, never again at read.
    */
  def writeBucketedByContent(df: DataFrame, textCol: String, table: String,
                             nBuckets: Int = 32): Unit =
    df.withColumn("content_hash", contentHash(col(textCol)))
      .write.format("parquet")
      .bucketBy(nBuckets, "content_hash")
      .sortBy("content_hash")
      .mode("overwrite")
      .saveAsTable(table)

  /** Exact duplicate groups over a content-bucketed table — same result
    * as [[exactDuplicateGroups]], zero exchanges in the plan (spec-pinned).
    */
  def exactDuplicateGroupsBucketed(spark: org.apache.spark.sql.SparkSession,
                                   table: String, idCol: String): DataFrame =
    spark.table(table)
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Incremental ingest dedup: drop new-batch documents whose content
    * already exists in a stored corpus (written once with
    * [[writeBucketedByContent]]), then drop intra-batch duplicates
    * keeping the smallest id.
    *
    * This is THE shape for continuous ingest against a 100 TB corpus:
    * the anti-join's corpus side consumes the bucketed scan's existing
    * hash distribution, so every ingest cycle shuffles ONLY the new
    * batch (tiny) — the corpus is never exchanged again (spec-pinned).
    * The content-hash exchange carries thin (id, hash) rows; document
    * bytes cross only the final id-keyed semi-join. Output keeps the
    * batch's columns plus `content_hash`, ready to append to the
    * corpus table.
    */
  def dedupAgainstCorpus(spark: org.apache.spark.sql.SparkSession,
                         newDocs: DataFrame, idCol: String, textCol: String,
                         corpusTable: String): DataFrame = {
    val hashed = newDocs.withColumn("content_hash", contentHash(col(textCol)))
    // the whole verdict — novel against the corpus, keep-first within the
    // batch — computes on a THIN (id, hash) projection: the anti join
    // shuffles 40-byte rows onto the bucketed corpus layout, the winner
    // aggregate reuses its output distribution (no exchange, map-side
    // combining — not the content-keyed window this replaced), and the
    // full batch rows come back via ONE semi-join on the uniform id key.
    // Document bytes therefore never ride a content-keyed exchange, only
    // the id-keyed one.
    val thin = hashed.select(col(idCol), col("content_hash"))
    val novelThin = thin.join(
      spark.table(corpusTable).select(col("content_hash")),
      Seq("content_hash"), "left_anti")
    val winners = novelThin.groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol)).select(col(idCol))
    hashed.join(winners, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles (distinct). Documents shorter than `n` tokens
    * yield their whole token sequence as a single shingle.
    *
    * Runs as the native `graft.plans.WordShinglesExpr` (requires
    * `GraftFunctions.register`); [[wordShinglesHof]] is its reference
    * formulation (identical output incl. first-occurrence order —
    * spec-pinned). Tokenization stays in the codegen'd `split`.
    */
  def wordShingles(text: Column, n: Int): Column =
    call_function("graft_word_shingles", TextOps.tokens(text), lit(n))

  /** Reference formulation of [[wordShingles]] as a HOF over the token
    * array: it pays an interpreted lambda frame + slice allocation per
    * token position, the constant the native expression removes.
    */
  def wordShinglesHof(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    val grams = transform(sequence(lit(0), size(toks) - n),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))
    array_distinct(
      when(size(toks) >= n, grams).otherwise(array(concat_ws(" ", toks))))
  }

  /** Jaccard similarity of two (distinct-element) arrays, rounded to 6
    * decimals so float noise can't flip threshold comparisons.
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    round(inter / (size(a) + size(b) - inter), 6)
  }

  // -------------------------------------------------------------- minhash

  /** k-permutation MinHash signature over a shingle array.
    *
    * Each shingle is string-hashed ONCE (`xxhash64`), then the k hash
    * families are affine permutations `(a_i·h + b_i) mod p` over the
    * 31-bit residue — integer arithmetic instead of k string re-hashes
    * (~10× cheaper per shingle at k=64). Bounds keep every product under
    * 2^62, so ANSI mode cannot overflow. Still one projection: no explode,
    * no shuffle.
    */
  def minhashSignature(shingles: Column, k: Int): Column = {
    val p = 2147483647L // 2^31 - 1 (Mersenne prime)
    val rnd = new scala.util.Random(0x5eed)
    val coeffs = array(Seq.fill(k) {
      val a = 1 + rnd.nextLong(p - 1) // a in [1,p), b in [0,p)
      val b = rnd.nextLong(p)
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    // single fold over the hashed shingles: each step refreshes all k
    // minima (zip_with against the coefficient array; `h` captured from
    // the outer lambda). The shingle array is traversed exactly once.
    aggregate(
      transform(shingles, s => pmod(xxhash64(s), lit(p))),
      array_repeat(lit(p), k),
      (acc, h) => zip_with(acc, coeffs,
        (m, c) => least(m, (c("a") * h + c("b")) % p)))
  }

  /** LSH band keys: the signature is cut into `bands` bands of
    * `k / bands` rows each; each band hashes to one bucket key. Two
    * documents collide in a band iff that slice of their signatures is
    * identical.
    */
  def lshBandKeys(signature: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(signature, b * r + lit(1), lit(r)), b))
  }

  /** Native-expression MinHash signature (tier-(b) Catalyst extension,
    * `graft.plans.MinHashSigExpr`), the signature every xxhash64 MinHash
    * operator uses: bit-identical to its reference [[minhashSignature]]
    * but one JVM loop per row instead of k×|shingles| interpreted lambda
    * frames. Requires `GraftFunctions.register(spark)` (or the
    * `graft.plans.GraftExtensions` session extension).
    */
  def minhashSignatureNative(shingles: Column, k: Int): Column =
    call_function("graft_minhash_sig", shingles, lit(k))

  /** Cross-engine-PORTABLE MinHash signature: md5-based shingle hash and
    * md5-derived affine coefficients (closed formula — no PRNG stream),
    * so the exact signature reproduces in any engine with md5 + integer
    * arithmetic; this is what makes q26 DuckDB-oracle-checkable. Runs as
    * the native [[graft.plans.MinHashMd5SigExpr]]; the HOF fold
    * [[minhashSignaturePortableHof]] is its bit-identical reference
    * (spec-pinned). The xxhash64 [[minhashSignatureNative]] stays the
    * fastest in-Spark variant.
    */
  def minhashSignaturePortable(shingles: Column, k: Int): Column =
    call_function("graft_minhash_md5_sig", shingles, lit(k))

  /** Reference formulation of [[minhashSignaturePortable]]: the md5
    * shingle hash and affine permutations as a HOF fold. */
  def minhashSignaturePortableHof(shingles: Column, k: Int): Column = {
    val p = graft.plans.MinHashMd5SigExpr.P
    val (as, bs) = graft.plans.MinHashMd5SigExpr.coefficients(k)
    val coeffs = array((0 until k).map(i =>
      struct(lit(as(i)).as("a"), lit(bs(i)).as("b"))): _*)
    aggregate(
      transform(shingles,
        s => conv(substring(md5(s), 1, 8), 16, 10).cast("long") % p),
      array_repeat(lit(p), k),
      (acc, h) => zip_with(acc, coeffs,
        (m, c) => least(m, (c("a") * h + c("b")) % p)))
  }

  /** LSH band keys as PLAIN VALUE STRINGS (`"s1,s2,s3,s4"` per band)
    * instead of [[lshBandKeys]]'s xxhash64 band digests: zero collision
    * probability and engine-neutral, so an oracle banding on the same
    * signature values produces the identical candidate set. Costs a
    * wider join key (≈40 bytes vs 8) — the portable/checkable trade.
    */
  def lshBandKeysPortable(signature: Column, k: Int, bands: Int): Column = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat_ws(",",
        transform(slice(signature, b * r + lit(1), lit(r)),
          x => x.cast("string"))))
  }

  /** MinHash-LSH near-duplicate candidate pairs `(idA < idB)`.
    *
    * Pipeline: signature projection → posexplode to (band, bucket, id) →
    * self-equi-join on (band, bucket) → distinct pairs. The only shuffles
    * are the bucket join and the final distinct, both on hash keys.
    * `maxBucketSize` drops degenerate buckets (boilerplate-heavy corpora
    * produce a few huge buckets whose pair expansion is quadratic — the
    * standard LSH guard at scale).
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                            maxBucketSize: Int = 1000,
                            portable: Boolean = false): DataFrame = {
    val sig = df.select(col(idCol),
      minhashSigExpr(wordShingles(col(textCol), shingleN), k, portable)
        .as("sig"))
    // the thin (id, band, bucket) relation has three consumers (the
    // cap aggregate + both self-join branches) and sits on top of the
    // signature computation — cut the plan here so minhashing runs
    // ONCE (the localCheckpoint discipline; without it the cap's
    // aggregate side re-signatured the corpus, measured 1.85× on q26)
    val buckets = sig.select(col(idCol),
        posexplode(minhashBandExpr(col("sig"), k, bands, portable))
          .as(Seq("band", "bucket")))
      .localCheckpoint()
    // degenerate-bucket cap as a map-side-combining AGGREGATE over the
    // (band, bucket) key + semi-join back — never a count window: a
    // boilerplate mega-bucket is exactly the hot key the cap exists
    // for, and a window would buffer its every member on one task
    val capped = buckets.join(
      buckets.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucketSize)
        .select(col("band"), col("bucket")),
      Seq("band", "bucket"), "left_semi")
    val a = capped.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val b = capped.select(col("band"), col("bucket"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** MinHash-LSH near-duplicate pairs, verified: candidates from
    * `minhashCandidatePairs`, then exact shingle-Jaccard computed on the
    * pair (arrays joined in by id — two hash joins) and filtered to
    * `minJaccard`. This is the full production near-dup pipeline shape:
    * cheap candidate generation, exact verification on the tiny candidate
    * set only.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          minJaccard: Double, shingleN: Int = 3,
                          k: Int = 64, bands: Int = 16,
                          portable: Boolean = false): DataFrame = {
    val cands = minhashCandidatePairs(df, idCol, textCol, shingleN, k, bands,
      portable = portable)
    val sh = df.select(col(idCol),
      wordShingles(col(textCol), shingleN).as("sh"))
    cands
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  // ------------------------------------------------ persisted minhash index

  private[ext] def minhashSigExpr(sh: Column, k: Int,
                                  portable: Boolean): Column =
    if (portable) minhashSignaturePortable(sh, k)
    else minhashSignatureNative(sh, k)

  private[ext] def minhashBandExpr(sig: Column, k: Int, bands: Int,
                              portable: Boolean): Column =
    if (portable) lshBandKeysPortable(sig, k, bands)
    else lshBandKeys(sig, k, bands)

  /** Persist a MinHash-LSH band index for a corpus: `<table>` holds one
    * row per (doc, band) keyed by a SINGLE `bucket_key` column
    * (`"<band>:<band digest>"` — band folded into the key so the probe
    * is a one-column equi-join on exactly the bucketed column), written
    * `bucketBy(bucket_key)` so every future probe's bucket join consumes
    * the scan's distribution (the corpus side is never exchanged again),
    * and `<table>_shingles` holds `(idCol, sh)` bucketed by id for the
    * exact-Jaccard verify join. Same pay-the-shuffle-once rationale as
    * [[Ivf.writeIndex]]/[[Pq.writeIndex]], applied to the near-dup
    * family: a continuously-ingesting corpus signatures each document
    * exactly once, at index time — not once per ingest cycle.
    */
  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        table: String, shingleN: Int = 3, k: Int = 64,
                        bands: Int = 16, nBuckets: Int = 32,
                        portable: Boolean = false): Unit = {
    val based = df.select(col(idCol),
      wordShingles(col(textCol), shingleN).as("sh"))
    based
      .select(col(idCol), minhashSigExpr(col("sh"), k, portable)
        .as("sig"))
      .select(col(idCol),
        posexplode(minhashBandExpr(col("sig"), k, bands, portable))
          .as(Seq("band", "bucket")))
      .select(col(idCol),
        concat_ws(":", col("band"), col("bucket")).as("bucket_key"))
      .write.format("parquet")
      .bucketBy(nBuckets, "bucket_key").sortBy("bucket_key")
      .mode("overwrite").saveAsTable(table)
    based.write.format("parquet")
      .bucketBy(nBuckets, idCol).sortBy(idCol)
      .mode("overwrite").saveAsTable(s"${table}_shingles")
    val spark = df.sparkSession
    import spark.implicits._
    // the hyperparameters DEFINE the signature/band-key family: persist
    // them so probes/appends/repairs can fail loudly on a mismatch
    // instead of silently writing or matching under the wrong family
    Seq((shingleN, k, bands, portable))
      .toDF("shingle_n", "k", "bands", "portable")
      .coalesce(1)
      .write.mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** Hyperparameters a persisted MinHash index was written with —
    * reloaded from the `<table>_meta` sidecar. They define the
    * signature/band-key family, so every probe, append, and repair must
    * run under exactly these values; a mismatch produces band keys from
    * a DIFFERENT family that never error, just never match (or, for a
    * repair, postings that disagree with every future probe while the
    * structural audit stays self-consistently green). Native and
    * reference signatures are bit-identical, so how a signature is
    * computed is not part of the family.
    */
  final case class MinhashMeta(shingleN: Int, k: Int, bands: Int,
                               portable: Boolean)

  /** The [[MinhashMeta]] persisted with the index at `table`; `None`
    * for indexes written before the sidecar existed (callers then rely
    * on supplying the build-time values, the pre-meta contract).
    * Columns are read by name, so an older sidecar that also carries a
    * `use_native` column loads the same.
    */
  def loadMinhashMeta(spark: org.apache.spark.sql.SparkSession,
                      table: String): Option[MinhashMeta] =
    if (!spark.catalog.tableExists(s"${table}_meta")) None
    else {
      val r = spark.table(s"${table}_meta").head()
      Some(MinhashMeta(r.getAs[Int]("shingle_n"), r.getAs[Int]("k"),
        r.getAs[Int]("bands"), r.getAs[Boolean]("portable")))
    }

  /** Fail loudly when `supplied` doesn't match the index's persisted
    * build-time hyperparameters (no-op for pre-meta indexes). */
  private[graft] def requireMinhashMeta(
      spark: org.apache.spark.sql.SparkSession, table: String,
      supplied: MinhashMeta, op: String): Unit =
    loadMinhashMeta(spark, table).foreach { persisted =>
      require(persisted == supplied,
        s"$op on $table under $supplied, but the index was built with " +
          s"$persisted — band keys would come from a different signature " +
          s"family (wrong matches / silent corruption). Pass the " +
          s"build-time values (loadMinhashMeta).")
    }

  /** Append a new batch to a persisted MinHash index (both the band
    * table and the shingle sidecar): the incremental-maintenance half of
    * the continuous-ingest near-dup loop — probe the batch
    * ([[minhashProbeIndexed]]), sink the pairs, append the kept docs
    * here so the NEXT cycle also checks against them. `insertInto`
    * honors the tables' bucket spec, so appended files land in the same
    * bucket layout the probe join relies on; each ingest cycle
    * signatures only its own batch. Parameters must match the index's
    * write parameters.
    */
  def appendToMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                           table: String, shingleN: Int = 3, k: Int = 64,
                           bands: Int = 16,
                           portable: Boolean = false): Unit = {
    requireMinhashMeta(df.sparkSession, table,
      MinhashMeta(shingleN, k, bands, portable), "append")
    // This is the per-batch hot path of the continuous-ingest loop: the
    // shingled batch feeds BOTH writes, so cache it for their duration —
    // one source scan and one shingle computation per ingest cycle, not
    // two (the band write materializes the cache; the sidecar write
    // reads it back).
    val based = df.select(col(idCol),
        wordShingles(col(textCol), shingleN).as("sh"))
      .persist()
    try {
      based
        .select(col(idCol), minhashSigExpr(col("sh"), k, portable)
          .as("sig"))
        .select(col(idCol),
          posexplode(minhashBandExpr(col("sig"), k, bands, portable))
            .as(Seq("band", "bucket")))
        .select(col(idCol),
          concat_ws(":", col("band"), col("bucket")).as("bucket_key"))
        .write.mode("append").insertInto(table)
      based.write.mode("append").insertInto(s"${table}_shingles")
    } finally based.unpersist()
  }

  /** Probe a persisted MinHash index with a new batch: verified near-dup
    * pairs `(id_new, id_corpus, jaccard ≥ minJaccard)` between batch and
    * corpus documents. Only the BATCH is signatured and shuffled — the
    * index feeds the bucket join straight from its bucketed scan
    * (spec-pinned), corpus shingles come pre-shingled from the sidecar
    * table, and the degenerate-bucket cap applies on the index side.
    * `shingleN`/`k`/`bands` and the signature variant must match the
    * index's write parameters — they define the band keys.
    */
  def minhashProbeIndexed(spark: org.apache.spark.sql.SparkSession,
                          table: String, newDocs: DataFrame, idCol: String,
                          textCol: String, minJaccard: Double,
                          shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                          maxBucketSize: Int = 1000,
                          portable: Boolean = false): DataFrame = {
    requireMinhashMeta(spark, table,
      MinhashMeta(shingleN, k, bands, portable), "probe")
    val batch = newDocs.select(col(idCol).as("id_new"),
        wordShingles(col(textCol), shingleN).as("sh_new"))
      .select(col("id_new"), col("sh_new"),
        minhashSigExpr(col("sh_new"), k, portable).as("sig"))
    val batchBands = batch.select(col("id_new"),
      posexplode(minhashBandExpr(col("sig"), k, bands, portable))
        .as(Seq("band", "bucket")))
      .select(col("id_new"),
        concat_ws(":", col("band"), col("bucket")).as("bucket_key"))
    val idx = spark.table(table)
      .select(col(idCol).as("id_corpus"), col("bucket_key"))
    // boilerplate-heavy corpora put thousands of docs behind one band
    // bucket; the cap is a count AGGREGATE + semi-join whose
    // distribution requirement is met by the bucketed scan itself
    // (no corpus exchange, and no window buffering a mega-bucket's
    // members on one task)
    val capped = idx.join(
      idx.groupBy(col("bucket_key")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBucketSize).select(col("bucket_key")),
      Seq("bucket_key"), "left_semi")
    val cands = batchBands.join(capped, Seq("bucket_key"))
      .select("id_new", "id_corpus").distinct()
    val corpusSh = spark.table(s"${table}_shingles")
      .select(col(idCol).as("id_corpus"), col("sh").as("sh_corpus"))
    cands
      .join(batch.select(col("id_new"), col("sh_new")), "id_new")
      .join(corpusSh, "id_corpus")
      .select(col("id_new"), col("id_corpus"),
        jaccard(col("sh_new"), col("sh_corpus")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Prefix-blocked exact n-gram Jaccard pairs: candidates are documents
    * sharing their first `prefixLen` characters (an equi-join — scales),
    * verified with shingle Jaccard ≥ `minJaccard`. SQL-expressible, so it
    * doubles as the oracle-checked member of the near-dup family.
    *
    * `maxBlockSize` is the same degenerate-bucket guard minhash LSH has:
    * a boilerplate-heavy corpus (license headers, templated pages) can
    * put thousands of documents behind one shared prefix, making that
    * block's pair expansion quadratic. Blocks above the cap are dropped
    * (with recall loss on exactly those blocks — the standard trade at
    * scale), keeping worst-case cost O(n · cap). The DEFAULT is
    * uncapped (capping changes results — callers opt in explicitly);
    * every catalog call site (q25/q53/q71) passes `maxBlockSize = 1000`,
    * and their DuckDB oracles mirror the cap with the same windowed
    * block-count QUALIFY, so Spark and oracle agree at ANY block size.
    */
  def prefixBlockedNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                                prefixLen: Int, shingleN: Int,
                                minJaccard: Double,
                                maxBlockSize: Int = Int.MaxValue): DataFrame = {
    // shingles computed once per document BEFORE the pair join — a doc in
    // m pairs would otherwise re-shingle m times
    val keyed = df.select(col(idCol),
      substring(col(textCol), 1, prefixLen).as("block"),
      wordShingles(col(textCol), shingleN).as("sh"))
    // block sizes as a map-side-combining AGGREGATE over (block) alone
    // + semi-join back — never a count window, which would sort every
    // boilerplate block's rows WITH their shingle arrays on one task
    // (the SeededAnnSoak arrays-through-a-sort spill shape). The size
    // side projects the block key STRAIGHT off the source (no shingle
    // computation rides the count — Catalyst prunes, but only if the
    // projection never mentions sh). Null-key contract: a null text
    // yields a null block, which the null-rejecting semi-join drops —
    // observably identical to the window formulation because the pair
    // self-join on `block` below is equally null-rejecting; a null doc
    // can never pair either way (pinned in NullKeySemanticsSpec)
    val okBlocks = df
      .select(substring(col(textCol), 1, prefixLen).as("block"))
      .groupBy(col("block")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBlockSize).select(col("block"))
    val capped = keyed.join(okBlocks, Seq("block"), "left_semi")
    val a = capped.select(col("block"), col(idCol).as("id_a"),
      col("sh").as("sh_a"))
    val b = capped.select(col("block"), col(idCol).as("id_b"),
      col("sh").as("sh_b"))
    a.join(b, "block").filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Character-level near-duplicate pairs by bounded Levenshtein distance —
    * the edit-distance complement to the token-level families (Jaccard /
    * MinHash / SimHash): it catches small in-place edits (typo fixes,
    * template variable substitution) that keep most shingles intact but
    * also pairs whose differences are character- not token-shaped.
    *
    * Scale shape: identical blocking discipline to
    * [[prefixBlockedNearDupPairs]] — equi-join on a text prefix with a
    * per-block size cap, never all-pairs — plus a LENGTH BAND
    * (`abs(len_a − len_b) ≤ maxDist`, a Levenshtein lower bound) applied
    * before the O(len²) distance, and Spark's thresholded `levenshtein`
    * which abandons a pair's DP early once `maxDist` is exceeded.
    */
  def editDistanceNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                               prefixLen: Int, maxDist: Int,
                               maxBlockSize: Int = Int.MaxValue): DataFrame = {
    val keyed = df.select(col(idCol),
      substring(col(textCol), 1, prefixLen).as("block"),
      col(textCol).as("txt"), length(col(textCol)).as("len"))
    // same cap-as-aggregate shape as prefixBlockedNearDupPairs: the
    // count never rides a window that would sort full documents, and
    // the size side projects the block key straight off the source
    val okBlocks = df
      .select(substring(col(textCol), 1, prefixLen).as("block"))
      .groupBy(col("block")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBlockSize).select(col("block"))
    val capped = keyed.join(okBlocks, Seq("block"), "left_semi")
    val a = capped.select(col("block"), col(idCol).as("id_a"),
      col("txt").as("txt_a"), col("len").as("len_a"))
    val b = capped.select(col("block"), col(idCol).as("id_b"),
      col("txt").as("txt_b"), col("len").as("len_b"))
    a.join(b, "block").filter(col("id_a") < col("id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("txt_a"), col("txt_b"), maxDist))
      .filter(col("dist") >= 0) // thresholded form returns -1 above maxDist
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Canonical-document selection: resolve each near-duplicate CLUSTER
    * (connected components over a pair relation, e.g.
    * [[prefixBlockedNearDupPairs]] output) to its single best
    * representative — highest `scoreCol`, ties to the smallest id — the
    * curation step after clustering: near-dup groups should keep their
    * best-quality member, not an arbitrary one.
    *
    * Returns one row per document: its `cluster_id`, `cluster_size`,
    * `is_canonical` flag, and `canonical_id` (what a dedup pass keeps /
    * rewrites to). Scale shape: components via [[graft.ext.Graph]]'s
    * label propagation (O(log diameter) rounds); the pick is an
    * AGGREGATE over the thin `(id, cluster, score)` relation —
    * `max(score)` then `min(id)` among the maxima (`<=>` so an all-null
    * cluster still elects by id), both map-side-combinable, so a
    * mega-cluster reduces per input partition instead of one reducer
    * sorting it — the skew failure of the previous `row_number` window.
    * The per-cluster verdict joins back to `docs` on the UNIFORM id key:
    * document payloads never ride a cluster-keyed exchange, which this
    * formulation now guarantees structurally (the old window only got
    * there when the caller's projection let Catalyst prune the text).
    */
  def canonicalDocs(docs: DataFrame, idCol: String, scoreCol: String,
                    edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val comp = Graph.connectedComponents(docs.select(col(idCol)), idCol,
        edges, srcCol, dstCol)
      .select(col("id").as(idCol), col("component").as("cluster_id"))
    // three consumers below — materialize the tiny (id, score, cluster)
    // relation once instead of re-running the docs✕comp join per branch
    val thin = docs.select(col(idCol), col(scoreCol)).join(comp, idCol)
      .localCheckpoint()
    val best = thin.groupBy("cluster_id").agg(
      count(lit(1)).as("cluster_size"), max(col(scoreCol)).as("__best"))
    // <=> not ===: max() over an all-null cluster is null, and the
    // winner must still be elected (by smallest id) exactly as the old
    // desc-NULLS-LAST window did; NaN <=> NaN is also true, matching
    // NaN-first desc ordering
    val canon = thin.join(best.select("cluster_id", "__best"), "cluster_id")
      .filter(col(scoreCol) <=> col("__best"))
      .groupBy("cluster_id").agg(min(col(idCol)).as("canonical_id"))
    val perDoc = thin.select(col(idCol), col("cluster_id"))
      .join(best.select("cluster_id", "cluster_size"), "cluster_id")
      .join(canon, "cluster_id")
    docs.join(perDoc, idCol)
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
      .select(docs.columns.map(col) ++ Seq(col("cluster_id"),
        col("cluster_size"), col("is_canonical"), col("canonical_id")): _*)
  }

  /** Exact-dup canonical pick with the page's SELF-DECLARED canonical
    * as the pre-content-hash hint ([[graft.ext.UrlOps.withDeclaredCanonical]]):
    * within each content group, a member whose canonical URL is named
    * by some member's IN-HOST `<link rel="canonical">` declaration
    * wins over the min-id default — the site's own statement of which
    * variant is primary beats an id-order accident. Cross-host
    * declarations are ignored (a hijack vector), declarations naming
    * a non-member URL fall back to min-id (the hint names a page this
    * group doesn't contain), and ties among matched members break to
    * the smallest id.
    *
    * Returns one row per input doc: `canonical_id`, `cluster_size`,
    * `is_canonical`. Scale shape: the q149-tail discipline — the
    * whole verdict computes on THIN (id, url, decl, hash)
    * projections: in-host declared targets dedup per group
    * (map-side combining), match members by one equi-join on
    * (hash, url), winners are min() AGGREGATES, and full rows come
    * back via the uniform id key — document payloads never ride a
    * content-keyed exchange, and no window anywhere. */
  def declaredCanonicalPick(df: DataFrame, idCol: String, urlCol: String,
      declCol: String, hashCol: String): DataFrame = {
    def host(c: Column) =
      regexp_extract(c, "^[a-z][a-z0-9+.-]*://([^/?]*)", 1)
    // four consumers below (declared targets, members, group sizes,
    // per-doc verdict) — cut the plan here or each one re-runs the
    // caller's harvest/hash projection (the localCheckpoint
    // discipline; measured 3.5 s → ~1 s on q170 at sf0.1)
    val thin = df.select(col(idCol), col(urlCol), col(declCol),
        col(hashCol))
      .localCheckpoint()
    val declared = thin
      .filter(col(declCol).isNotNull &&
        host(col(declCol)) === host(col(urlCol)))
      .select(col(hashCol), col(declCol).as("__target"))
      .distinct()
    val members = thin.select(col(hashCol), col(urlCol).as("__target"),
      col(idCol))
    val matched = declared.join(members, Seq(hashCol, "__target"))
      .groupBy(col(hashCol)).agg(min(col(idCol)).as("__decl_winner"))
    val groups = thin.groupBy(col(hashCol))
      .agg(min(col(idCol)).as("__min_id"),
        count(lit(1)).as("cluster_size"))
    val winners = groups.join(matched, Seq(hashCol), "left")
      .select(col(hashCol),
        coalesce(col("__decl_winner"), col("__min_id"))
          .as("canonical_id"),
        col("cluster_size"))
    val perDoc = thin.select(col(idCol), col(hashCol))
      .join(winners, Seq(hashCol))
      .select(col(idCol), col("canonical_id"), col("cluster_size"))
    df.join(perDoc, Seq(idCol))
      .withColumn("is_canonical", col(idCol) === col("canonical_id"))
  }

  // ------------------------------------------------------- line-level dedup

  /** Corpus-wide line-level deduplication (the C4/MassiveText hygiene
    * pass): split every document on `sep`, keep only the globally FIRST
    * occurrence of each distinct line — first by (document id, line
    * index), fully deterministic — and reassemble each document from its
    * surviving lines in original order.
    *
    * Scale shape: one posexplode to (id, idx, line); the keep-first
    * winner per distinct line is a `min(struct(id, idx))` AGGREGATE on
    * the line's 256-bit content hash — partial-combinable, so a
    * boilerplate line with millions of copies map-side-combines to one
    * row per input partition instead of sending every copy to a single
    * reducer (the window-function formulation of keep-first has exactly
    * that skew failure; the standard guard is this agg + join-back).
    * Reassembly is one groupBy(id) whose input carries each line at most
    * twice (once as data, once as the joined winner key).
    *
    * Output per document: `n_lines`, `n_kept`, and `text_kept` (the
    * surviving lines re-joined with `sep`; empty string when every line
    * of a document had been seen before).
    */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n"): DataFrame = {
    // posexplode_OUTER + left join: a NULL text explodes to one
    // (null, null) row instead of vanishing, so the document still gets
    // its output row (0 lines kept) — a hygiene pass must never silently
    // lose documents
    val lines = df.select(col(idCol),
        posexplode_outer(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("idx", "line")))
      .withColumn("__h", contentHash(col("line")))
    val winners = lines.filter(col("__h").isNotNull)
      .groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("idx"))).as("__w"))
    lines.join(winners, Seq("__h"), "left")
      .withColumn("__kept",
        col("__w")(idCol) === col(idCol) && col("__w")("idx") === col("idx"))
      .groupBy(col(idCol))
      .agg(
        count(col("line")).as("n_lines"),
        count(when(col("__kept"), lit(1))).as("n_kept"),
        // collect_list skips the nulls `when` leaves on dropped lines;
        // array_sort on (idx, line) structs restores original order
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__kept"), struct(col("idx"), col("line"))))),
            x => x("line")),
          sep).as("text_kept"))
  }

  /** Cross-document duplicated-span coverage — the exact-substring dedup
    * signal of Lee et al. 2021 ("Deduplicating Training Data Makes
    * Language Models Better", public paper) re-expressed relationally:
    * a length-`n` token window is a duplicated span iff its exact text
    * occurs in MORE THAN ONE document; each document reports how many of
    * its windows are duplicated and what fraction of its tokens the
    * merged duplicated windows cover. (Within-document repetition is
    * q47/q97's domain and deliberately does NOT count here.)
    *
    * Coverage uses the classic merged-interval identity: with duplicated
    * window starts sorted, a window contributes `min(n, gap to previous
    * start)` tokens — integer math, no interval materialization.
    *
    * Scale shape: the reference implementation's suffix array is a
    * single-machine construct; here the corpus explodes ONCE and the
    * shuffles carry (md5(window), doc, start) — fixed-width keys, never
    * documents. Duplication is decided with a keyed window (`min(doc) ≠
    * max(doc)` over the window key ⟺ more than one distinct doc), which
    * costs one exchange on the key instead of a count-distinct aggregate
    * PLUS a semi-join back over a second explode; the per-doc coverage
    * window then shuffles only the DUPLICATED starts (tiny at realistic
    * dup rates). The 128-bit key makes collisions negligible and, being
    * deterministic, engine-portable for the oracle.
    *
    * Returns (id, n_tokens, n_dup_windows, dup_cov_tokens, dup_ratio
    * floor-truncated to 6 decimals); every input document appears.
    */
  /** The (id, start, md5-of-window) frame [[duplicatedSpanStats]] and
    * `DupSpanBench` share — ONE definition so the bench always measures
    * the shipped extraction.
    */
  private[graft] def spanWindows(docs: DataFrame, idCol: String,
                                 textCol: String, n: Int): DataFrame = {
    val base = docs.select(col(idCol),
      split(trim(col(textCol)), "\\s+").as("__toks"))
    val withLen = base.withColumn("__L", size(col("__toks")))
    val starts = when(col("__L") >= n,
      sequence(lit(1), col("__L") - (n - 1))).otherwise(array())
    withLen
      .select(col(idCol), col("__toks"), explode(starts).as("__i"))
      .select(col(idCol), col("__i"),
        md5(concat_ws(" ", slice(col("__toks"), col("__i"), lit(n))))
          .as("__k"))
  }

  /** The shipped dup decision over [[spanWindows]]: a span start is
    * duplicated iff its window key occurs in >1 distinct document —
    * `min(doc) ≠ max(doc)` as a map-side-combining AGGREGATE on the
    * key, semi-joined back. This replaced the keyed min/max WINDOW
    * (still measured as the baseline in `DupSpanBench`/`DupSpanSoak`):
    * the window buffered every instance of one key on ONE task, and
    * span keys have genuinely hot members — a common trigram is a
    * constant fraction of ALL spans in a real corpus, so the window's
    * per-key buffer is unbounded in corpus size (a 1%-hot trigram over
    * 10¹¹ spans is a 50 GB single-task buffer), while the aggregate's
    * reduce-side state is one (min,max) pair per key per partition.
    *
    * The price is a SECOND explode (the aggregate side prunes to
    * (key, id) with immediate partial aggregation; the probe side
    * re-derives the full (id, start, key) frame) — deliberately NOT
    * materialized away: a `localCheckpoint` of the ~80·n-row span
    * relation is a storage bomb that measured 12–30× WORSE than the
    * re-explode at 10⁶ docs (`DupSpanSoak`: 293 s checkpointed vs
    * 23.8 s re-exploded vs 9.1 s window), whereas the explode is
    * map-only, parallel and skew-free. Bit-parity of all forms is
    * asserted in both the bench and the soak.
    */
  /** Null-key contract: `__k` is an md5 over concat_ws output, never
    * null (a null text produces NO windows upstream — the start
    * sequence explodes empty), so the null-rejecting semi-join cannot
    * drop rows the old window retained (NullKeySemanticsSpec).
    */
  private[graft] def duplicatedStarts(windows: DataFrame,
                                      idCol: String): DataFrame = {
    val dupKeys = windows.groupBy(col("__k"))
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("__k"))
    windows.join(dupKeys, Seq("__k"), "left_semi")
  }

  def duplicatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                          n: Int = 3): DataFrame = {
    require(n >= 1, s"window length must be positive: $n")
    val withLen = docs.select(col(idCol),
        split(trim(col(textCol)), "\\s+").as("__toks"))
      .withColumn("__L", size(col("__toks")))
    val dupStarts = duplicatedStarts(
      spanWindows(docs, idCol, textCol, n), idCol)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__i"))
    val contrib = when(lag(col("__i"), 1).over(byDoc).isNull, lit(n))
      .otherwise(least(lit(n), col("__i") - lag(col("__i"), 1).over(byDoc)))
    val perDoc = dupStarts
      .withColumn("__c", contrib)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(col("__c")).as("dup_cov_tokens"))
    withLen.select(col(idCol), col("__L"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        col("__L").cast("long").as("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_cov_tokens"), lit(0L)).as("dup_cov_tokens"),
        (floor(coalesce(col("dup_cov_tokens"), lit(0L)) /
          (col("__L") * lit(1.0)) * 1e6) / 1e6).as("dup_ratio"))
  }

  /** Benchmark decontamination: per-document count of distinct word
    * n-grams shared with a held-out `bench` corpus (any hit usually means
    * the document is dropped from training data). Both sides shingle once
    * (distinct per document), the bench set deduplicates globally, and the
    * overlap is one equi-join on the shingle string — the shuffle carries
    * shingles + ids, never documents. Documents with zero overlap are
    * absent from the result (inner join), which is the useful direction:
    * at scale the contaminated set is tiny relative to the corpus.
    */
  def contaminationHits(docs: DataFrame, idCol: String, textCol: String,
                        bench: DataFrame, shingleN: Int = 8): DataFrame = {
    val docSh = docs.select(col(idCol),
      explode(wordShingles(col(textCol), shingleN)).as("sh"))
    val benchSh = bench
      .select(explode(wordShingles(col(textCol), shingleN)).as("sh"))
      .distinct()
    docSh.join(benchSh, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits")) // doc shingles are distinct already
  }

  /** Benchmark decontamination at 100 TB: identical relation to
    * [[contaminationHits]], but the corpus side is pre-filtered through a
    * Bloom filter of the bench shingles BEFORE any shuffle.
    *
    * Why this is the scale path: [[contaminationHits]] shuffles the FULL
    * corpus shingle relation (|docs| × shingles-per-doc rows) into the
    * equi-join even though almost nothing matches — at 100 TB that
    * shuffle dwarfs everything else. Here the bench sketch is built with
    * one distributed aggregation (`DataFrameStatFunctions.bloomFilter` —
    * a treeAggregate; only the serialized bitset, `numBits/8` bytes,
    * returns to the driver, the same shape as Spark's own runtime bloom
    * filters), probes run map-side via [[graft.plans.BloomContainsExpr]]
    * (zero shuffle, zero per-row deserialization), and only the tiny
    * surviving fraction (true hits + `fpp` false positives) enters the
    * exact verification join. Bloom filters have NO false negatives, so
    * after the verify join the result is exactly [[contaminationHits]] —
    * which keeps this operator oracle-checkable.
    *
    * Building the sketch materializes the bench side once (an action) —
    * the bench corpus is the small, fixed side by nature (an eval suite),
    * so this is a bounded, one-off cost per run.
    *
    * Requires `GraftFunctions.register(spark)`.
    */
  def contaminationHitsBloom(docs: DataFrame, idCol: String, textCol: String,
                             bench: DataFrame, shingleN: Int = 8,
                             expectedItems: Long = 100000L,
                             fpp: Double = 0.01): DataFrame = {
    // persisted: the sketch-building ACTION below materializes benchSh
    // once, and the exact verify join then reuses the cached blocks
    // instead of re-running the bench scan + shingle + distinct shuffle
    val benchSh = bench
      .select(explode(wordShingles(col(textCol), shingleN)).as("sh"))
      .distinct()
      .persist()
    val bf = benchSh.stat.bloomFilter("sh", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val docSh = docs.select(col(idCol),
        explode(wordShingles(col(textCol), shingleN)).as("sh"))
      .filter(call_function("graft_bloom_contains", col("sh"), lit(bytes)))
    docSh.join(benchSh, "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Per-document contamination FRACTION with a drop verdict — the
    * policy layer over [[contaminationHits]]: for every document (hit or
    * not), how many of its distinct `shingleN`-grams it has, how many
    * overlap the held-out benchmark, and whether the overlap crosses
    * `dropPct` percent. Real decontamination recipes drop on an overlap
    * *fraction*, not any-hit — a 10k-token page sharing one 8-gram with
    * a benchmark is noise; a page that is 40% benchmark text is a leak.
    *
    * The threshold compare is integer-exact (`n_hits · 100 ≥
    * n_shingles · dropPct` — no float division), so the verdict is
    * bit-reproducible cross-engine. Zero-hit documents stay in the
    * relation via the left join with `n_hits = 0`; documents too short
    * to have any shingle have `n_shingles = 0` and are never dropped.
    *
    * Scale shape: ONE corpus scan — the exploded shingle relation
    * left-joins the bench set and a single aggregation counts both the
    * total and the hits per document (a naive compose of
    * [[contaminationHits]] + a count projection would scan and shingle
    * the corpus twice and re-join on the id). The shuffle carries
    * shingles, never documents — the same discipline as
    * [[contaminationHits]]; put a [[contaminationHitsBloom]]-style
    * Bloom prefilter marker on the bench side under the same contract
    * when the bench set is too large to join raw.
    */
  def contaminationReport(docs: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, shingleN: Int = 8,
                          dropPct: Int = 10): DataFrame = {
    require(dropPct >= 0 && dropPct <= 100, s"dropPct in [0,100]: $dropPct")
    val docSh = docs.select(col(idCol),
      explode(wordShingles(col(textCol), shingleN)).as("sh"))
    val benchSh = bench
      .select(explode(wordShingles(col(textCol), shingleN))
        .as("sh"))
      .distinct()
      .withColumn("__hit", lit(1))
    docSh.join(benchSh, Seq("sh"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), // doc shingles are distinct
        count(col("__hit")).as("n_hits"))
      .withColumn("dropped",
        col("n_shingles") > 0 &&
          col("n_hits") * 100 >= col("n_shingles") * dropPct)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens: per-token `xxhash64` bits
    * vote +1/-1 into 64 counters; the sign vector folds into one long.
    * Near-duplicates land within small Hamming distance. One projection.
    *
    * Runs as the native `graft.plans.SimHash64Expr` (requires
    * `GraftFunctions.register(spark)`): one loop hashes each token once
    * into a local int[64]. [[simhash64Hof]] is its bit-identical
    * reference (spec-pinned). Tokenization stays in the codegen'd
    * `split`.
    */
  def simhash64(text: Column): Column =
    call_function("graft_simhash64", TextOps.tokens(text))

  /** Reference formulation of [[simhash64]] as a HOF vote fold: it
    * allocates a 64-element vote array and 64 interpreted lambda frames
    * PER TOKEN. */
  def simhash64Hof(text: Column): Column = {
    val bitsOf: Column => Column = t =>
      array((0 until 64).map(b =>
        when(shiftright(xxhash64(t), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)): _*)
    // null token = no vote (when(t.isNull, acc)): the MinHash null
    // no-op convention, bit-identical to the native expr's skip
    val counters = aggregate(
      TextOps.tokens(text),
      array_repeat(lit(0L), 64),
      (acc, t) => when(t.isNull, acc)
        .otherwise(zip_with(acc, bitsOf(t), (x, y) => x + y)))
    // assemble sign bits into one long with shift/OR (bit ops — no
    // ANSI-mode overflow checks, unlike a *2+bit fold)
    (0 until 64).map(i =>
      when(element_at(counters, i + 1) > 0, shiftleft(lit(1L), i))
        .otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Cross-engine-PORTABLE SimHash: per-token hash = first 64 bits of
    * md5 (engine-neutral) instead of xxhash64, emitted as a
    * `(simhash_hi, simhash_lo)` struct of the two 32-bit halves — both
    * always non-negative, so no engine's signed-64 shift/overflow rules
    * are in play. Same vote fold and strict `counter > 0` sign rule as
    * [[simhash64]]; Hamming distance = `hamming64(hi_a, hi_b) +
    * hamming64(lo_a, lo_b)`. Runs as the native
    * [[graft.plans.SimHashMd5Expr]], bit-identical to the reference
    * [[simhash64PortableHof]] (spec-pinned) and to the DuckDB
    * formulation (q27's oracle).
    */
  def simhash64Portable(text: Column): Column =
    call_function("graft_simhash_md5", TextOps.tokens(text))

  /** Reference formulation of [[simhash64Portable]] as a HOF vote fold. */
  def simhash64PortableHof(text: Column): Column = {
    // per-token (hi, lo): big-endian values of md5 hex digits 1-8 / 9-16
    val hashOf: Column => Column = t => {
      val m = md5(t)
      struct(conv(substring(m, 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(m, 9, 8), 16, 10).cast("long").as("lo"))
    }
    val bitsOf: Column => Column = h =>
      array(((0 until 32).map(b =>
        when(shiftright(h.getField("lo"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)) ++
        (0 until 32).map(b =>
          when(shiftright(h.getField("hi"), b).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L))): _*)
    // null token = no vote, same skip as the native SimHashMd5Expr and
    // any engine's unnest (which omits null rows)
    val counters = aggregate(
      TextOps.tokens(text),
      array_repeat(lit(0L), 64),
      (acc, t) => when(t.isNull, acc)
        .otherwise(zip_with(acc, bitsOf(hashOf(t)), (x, y) => x + y)))
    val loSig = (0 until 32).map(b =>
      when(element_at(counters, b + 1) > 0, shiftleft(lit(1L), b))
        .otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    val hiSig = (0 until 32).map(b =>
      when(element_at(counters, b + 33) > 0, shiftleft(lit(1L), b))
        .otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    struct(hiSig.as("simhash_hi"), loSig.as("simhash_lo"))
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Exact embedding near-duplicate pairs: all (id_a < id_b) pairs with
    * cosine ≥ `minCosine`. O(n²) all-pairs — the correctness baseline and
    * the oracle-checkable member of this family; use the LSH variant at
    * scale.
    */
  def cosineNearDupPairsExact(emb: DataFrame, idCol: String, vecCol: String,
                              minCosine: Double, dim: Int = 64): DataFrame = {
    // norms computed ONCE per vector (n rows), not once per pair (n²);
    // the per-pair work is a single unrolled codegen'd dot product.
    // The repartition is a deliberate optimization BARRIER, not a
    // distribution choice: without an Exchange, CollapseProject folds the
    // per-vector transform/norm into the per-PAIR join projection (the
    // unrolled dot references `v` 64×), re-upcasting both arrays and
    // re-deriving the norm for every one of the n² pairs — measured 6×
    // slower at 2k vectors (42 s vs 7 s for 2M pairs at sf0.1).
    val dbl = emb.select(col(idCol),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val withNorm = dbl.withColumn("nrm", Similarity.norm(col("v")))
      .repartition(col(idCol))
    val a = withNorm.select(col(idCol).as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = withNorm.select(col(idCol).as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dotNative(col("va"), col("vb"), dim) /
          (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the embedding space with the IVF coarse quantizer, then compare
    * vectors ONLY against their cluster-mates and drop every vector that
    * has a lower-id cluster-mate with cosine ≥ `minCosine` (keeping the
    * smallest id as the representative — deterministic, like the paper's
    * keep-one-per-group rule).
    *
    * Scale shape: this is THE way semantic dedup runs on web-scale
    * corpora — all-pairs cosine is O(n²) and dies first; clustering makes
    * the comparison cost Σ |cluster|² with |cluster| ≈ n/nList, an
    * nList-fold reduction, and the cluster-local pair join is a plain
    * equi-join on the list id. The trade (documented, spec-bounded) is
    * that near-duplicate pairs straddling a cluster boundary are missed —
    * so the kept set is a SUPERSET of the exact all-pairs rule's.
    *
    * Returns the KEPT rows (id column only). Requires
    * `GraftFunctions.register(spark)`.
    */
  def semanticDedupKeptIds(emb: DataFrame, idCol: String, vecCol: String,
                           minCosine: Double, nList: Int = 64,
                           dim: Int = 64, sampleSize: Int = 20000,
                           iters: Int = 10): DataFrame = {
    val centroids = Ivf.trainCentroids(emb, vecCol, nList, dim,
      sampleSize, iters)
    val assigned = emb.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("v"),
        element_at(
          Ivf.assignLists(col(vecCol), centroids, dim, 1), 1).as("list"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val a = assigned.select(col("list"), col(idCol).as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("list"), col(idCol).as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, "list")
      .filter(col("id_a") < col("id_b"))
      .filter(round(Similarity.dotNative(col("va"), col("vb"), dim) /
        (col("na") * col("nb")), 6) >= minCosine)
      .select(col("id_b").as(idCol)).distinct()
    emb.select(col(idCol)).join(dropped, Seq(idCol), "left_anti")
  }

  /** [[semanticDedupKeptIds]] with EXEMPLAR centroids — the `k` lowest-id
    * corpus vectors — instead of a trained coarse quantizer: identical
    * cluster-then-dedup-within-cluster shape and the same Σ|cluster|²
    * scale story, but with no trained model in the loop every stage is
    * plain relational algebra over the corpus itself, so THIS member of
    * the semantic-dedup family is cross-engine-checkable (q84's DuckDB
    * oracle mirrors it statement for statement). Assignment is argmax
    * cosine to the exemplars (rounded to 6 decimals like the whole
    * cosine family — q30/q37 — so last-ulp noise cannot flip an argmax
    * across engines) with smallest-exemplar-id tie-break.
    *
    * Exemplar seeding is the classic Forgy initialization without the
    * Lloyd refinement; cluster balance is whatever the first k vectors
    * give (fine for dedup, where clusters only bound the comparison set
    * and a miss only costs recall, never a wrong drop). Production runs
    * wanting tighter clusters use [[semanticDedupKeptIds]].
    */
  /** [[semanticDedupKeptIdsExemplar]] under the md5-derandomized
    * TRAINED quantizer — q56's ORACLE-CHECKED form since round 10: the
    * same [[Ivf.kppSeedIds]] + [[Ivf.lloydIterateFrom]] centroids as
    * q75/q43 (shared oracle prefix), then the identical
    * cluster-then-dedup-within-cluster tail. The trained model is a
    * tiny (≤ nList)-row relation, localCheckpointed once and broadcast
    * to the assignment argmax; scale shape unchanged (Σ|cluster|²).
    */
  def semanticDedupKeptIdsSeeded(emb: DataFrame, idCol: String,
                                 vecCol: String, minCosine: Double,
                                 nList: Int = 8, iters: Int = 2,
                                 dim: Int = 64): DataFrame = {
    val ids = Ivf.kppSeedIds(emb, idCol, vecCol, nList, dim)
    val withNorm = Similarity.withVecNorm(emb, idCol, vecCol)
      .repartition(col(idCol))
    val seeds = withNorm.filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("cid"), col("v").as("cvec"),
        col("nrm").as("cnrm"))
    val cents = Ivf.assembleCentroids(
        Ivf.lloydIterateFrom(withNorm, seeds, idCol, iters, dim))
      .localCheckpoint()
    semanticDedupWithCents(emb, withNorm, cents, idCol, minCosine, dim)
  }

  def semanticDedupKeptIdsExemplar(emb: DataFrame, idCol: String,
                                   vecCol: String, minCosine: Double,
                                   k: Int = 8, dim: Int = 64): DataFrame = {
    // same per-vector norm precompute + optimization barrier as
    // cosineNearDupPairsExact (the unrolled dot must not re-derive
    // norms per pair)
    val withNorm = Similarity.withVecNorm(emb, idCol, vecCol)
      .repartition(col(idCol))
    val cents = withNorm.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("cid"), col("v").as("cvec"),
        col("nrm").as("cnrm"))
    semanticDedupWithCents(emb, withNorm, cents, idCol, minCosine, dim)
  }

  /** The shared cluster-then-dedup-within-cluster tail under an
    * ARBITRARY `cents (cid, cvec, cnrm)` relation (exemplar and seeded
    * members both route here, so the drop rule cannot drift).
    */
  private def semanticDedupWithCents(emb: DataFrame, withNorm: DataFrame,
                                     cents: DataFrame, idCol: String,
                                     minCosine: Double, dim: Int): DataFrame = {
    val scored = withNorm.crossJoin(broadcast(cents))
      .select(col(idCol), col("v"), col("nrm"), col("cid"),
        round(Similarity.dotNative(col("v"), col("cvec"), dim) /
          (col("nrm") * col("cnrm")), 6).as("sim"))
    val wAssign = Window.partitionBy(idCol)
      .orderBy(col("sim").desc, col("cid"))
    val assigned = scored
      .withColumn("__rn", row_number().over(wAssign))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("cid"), col("v"), col("nrm"))
    val a = assigned.select(col("cid"), col(idCol).as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cid"), col(idCol).as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dropped = a.join(b, "cid")
      .filter(col("id_a") < col("id_b"))
      .filter(round(Similarity.dotNative(col("va"), col("vb"), dim) /
        (col("na") * col("nb")), 6) >= minCosine)
      .select(col("id_b").as(idCol)).distinct()
    emb.select(col(idCol)).join(dropped, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicate pairs at scale: multi-table random-hyperplane
    * LSH candidate generation (equi-join on (table, bucket) — linear in
    * corpus size for bounded buckets) followed by exact cosine
    * verification of candidates only. Same recall/cost dials as
    * `Similarity.lshTopK`.
    */
  def cosineNearDupPairsLsh(emb: DataFrame, idCol: String, vecCol: String,
                            minCosine: Double, nPlanes: Int = 6,
                            nTables: Int = 8, seed: Long = 42L,
                            dim: Int = 64): DataFrame = {
    val keys = array((0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        Similarity.rhpSignatureNative(col(vecCol), nPlanes, dim, seed + t)
          .as("bucket"))
    }: _*)
    val keyed = emb.select(col(idCol), col(vecCol), explode(keys).as("key"))
    val a = keyed.select(col("key"), col(idCol).as("id_a"))
    val b = keyed.select(col("key"), col(idCol).as("id_b"))
    val cands = a.join(b, "key").filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val vecs = emb.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    cands
      .join(vecs.select(col(idCol).as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(Similarity.dotNative(col("va"), col("vb"), dim) /
          (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** [[cosineNearDupPairsLsh]] with the PORTABLE plane family
    * ([[Similarity.portablePlanes]]) — the oracle-checkable member of
    * the LSH near-dup family (q88): single table, exact-signature
    * buckets, exact cosine verify of bucket-mate pairs. Same
    * bucket-join-verify scale shape; the md5-derived ±1 planes are
    * reproducible by any engine, so q88's DuckDB oracle mirrors every
    * stage. [[cosineNearDupPairsLsh]] keeps the multi-table Gaussian
    * family for production recall.
    */
  /** Multi-table portable LSH near-dup pairs — q38's ORACLE-CHECKED
    * form since round 10 (the OR-construction derandomized, the
    * [[Similarity.lshTopKPortableMulti]] sibling for the pair shape):
    * `nTables` md5-derived ±1 plane sets, a pair is a candidate iff
    * the two signatures agree in ANY table (union, deduplicated), then
    * the exact cosine verifies. [[cosineNearDupPairsLsh]] keeps the
    * seeded-Gaussian machinery as the perf API (spec-pinned).
    */
  def cosineNearDupPairsLshPortableMulti(emb: DataFrame, idCol: String,
                                         vecCol: String, minCosine: Double,
                                         nTables: Int = 4, nPlanes: Int = 6,
                                         dim: Int = 64)
      : DataFrame = {
    val base = Similarity.withVecNorm(emb, idCol, vecCol)
      .withColumn("sigs", array((0 until nTables).map(t =>
        Similarity.rhpSignature(col("v"),
          Similarity.portablePlanesTable(t, nPlanes, dim))): _*))
      .repartition(col(idCol))
    val sigs = base.select(col(idCol), col("v"), col("nrm"),
      posexplode(col("sigs")).as(Seq("tbl", "sig")))
    val a = sigs.select(col("tbl"), col("sig"), col(idCol).as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = sigs.select(col("tbl"), col("sig"), col(idCol).as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("tbl", "sig")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dotNative(col("va"), col("vb"), dim) /
          (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .distinct()
  }

  def cosineNearDupPairsLshPortable(emb: DataFrame, idCol: String,
                                    vecCol: String, minCosine: Double,
                                    nPlanes: Int = 4,
                                    dim: Int = 64): DataFrame = {
    val planes = Similarity.portablePlanes(nPlanes, dim)
    // norms + signature once per row behind an optimization barrier
    // (the exemplar-family pattern: a collapsed projection would
    // re-derive both per pair)
    val base = Similarity.withVecNorm(emb, idCol, vecCol)
      .withColumn("sig", Similarity.rhpSignature(col("v"), planes))
      .repartition(col(idCol))
    val a = base.select(col("sig"), col(idCol).as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = base.select(col("sig"), col(idCol).as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, "sig").filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dotNative(col("va"), col("vb"), dim) /
          (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }
  /** Cross-host MIRROR detection: hosts serving the SAME content under
    * different names — full mirrors, CDN aliases the identity layer
    * missed, scraped republishers. A crawler that detects a mirror
    * pair stops paying double fetch budget for one corpus; a training
    * pipeline stops double-counting its documents. Exact content
    * equality (md5 of the text — the [[dedupExact]] key), lifted from
    * document pairs to HOST pairs:
    *
    *   1. the distinct (host, content-hash) relation;
    *   2. hashes served by more than `maxHostsPerHash` hosts drop —
    *      site-furniture boilerplate (cookie banners, legal pages)
    *      appears on hundreds of hosts and is evidence of nothing
    *      (the LSH degenerate-bucket cap discipline, and what bounds
    *      the self-join: pair blowup is ≤ cap² per hash);
    *   3. host-pair co-occurrence counts over the capped relation
    *      (`host_a < host_b` — each unordered pair once), kept at
    *      `n_shared >= minShared`;
    *   4. per-host distinct-content totals join back for the exact
    *      integer-micro Jaccard `|A∩B| / |A∪B|` — 1e6 means the two
    *      hosts serve byte-identical corpora.
    *
    * Scale shape: the hash relation is thin (host + 32-hex), the cap
    * count and per-host totals are map-side-combining aggregates, and
    * the self-join shuffles on the content hash with per-hash
    * fan-out bounded by the cap. No window, no document bytes past
    * step 1.
    */
  def mirrorCandidates(docs: DataFrame, hostCol: String,
                       textCol: String, minShared: Long = 2L,
                       maxHostsPerHash: Int = 50): DataFrame = {
    require(minShared >= 1L && maxHostsPerHash >= 2,
      s"bad minShared/maxHostsPerHash: $minShared/$maxHostsPerHash")
    mirrorPairsFromHashes(
      docs.select(col(hostCol).as("host"), md5(col(textCol)).as("__h"))
        .distinct(),
      minShared, maxHostsPerHash)
  }

  /** Steps 2–4 of [[mirrorCandidates]] over an already-distinct
    * `(host, __h)` relation — shared with [[mirrorPairsFromIndex]],
    * whose relation is the PERSISTED one. `capSource`, when given,
    * supplies the relation the per-hash host counts are taken from
    * ([[mirrorPairsForHosts]] passes the store-backed counts so the
    * cap decision stays store-exact on a partial slice); the default
    * counts over `hashed` itself. */
  private def mirrorPairsFromHashes(hashed: DataFrame, minShared: Long,
                                    maxHostsPerHash: Int,
                                    capSource: DataFrame = null)
      : DataFrame = {
    val capBase = Option(capSource).getOrElse(hashed)
    val capped = hashed.join(
      capBase.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxHostsPerHash)
        .select(col("__h")),
      Seq("__h"), "left_semi")
    val perHost = capped.groupBy(col("host"))
      .agg(count(lit(1)).as("__nd"))
    val pairs = capped.as("a")
      .join(capped.as("b"),
        col("a.__h") === col("b.__h") && col("a.host") < col("b.host"))
      .groupBy(col("a.host").as("host_a"), col("b.host").as("host_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(perHost.select(col("host").as("host_a"),
        col("__nd").as("n_a")), Seq("host_a"))
      .join(perHost.select(col("host").as("host_b"),
        col("__nd").as("n_b")), Seq("host_b"))
      .withColumn("jaccard_micro",
        expr("(1000000 * n_shared) div (n_a + n_b - n_shared)"))
      .select(col("host_a"), col("host_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard_micro"))
  }

  /** Persist the mirror HOST-HASH relation — the incremental-discovery
    * half of [[mirrorCandidates]] (the [[appendToMinhashIndex]] /
    * `dedupAgainstCorpus` pattern applied to the mirror family): at
    * deployment scale the expensive per-cycle leg is HASHING THE
    * CORPUS, not the host-pair lift (the capped self-join runs over a
    * thin host×32-hex relation bounded by cap² fan-out), so the
    * distinct `(host, content_md5)` relation becomes maintained state
    * a crawl cycle APPENDS its new fetches into, and the pair
    * detection re-derives from the stored relation without ever
    * re-reading document bytes. Bucketed by `content_md5` — the
    * self-join and the append's semi-prune both key on it, so they run
    * Exchange-free on the corpus side. */
  def writeMirrorHashes(docs: DataFrame, hostCol: String,
                        textCol: String, table: String,
                        nBuckets: Int = 32): Unit = {
    Warehouse.resetTable(docs.sparkSession, table)
    docs.select(col(hostCol).cast("string").as("host"),
        md5(col(textCol)).as("content_md5"))
      .distinct()
      .write.format("parquet")
      .bucketBy(nBuckets, "content_md5").sortBy("content_md5", "host")
      .mode("overwrite").saveAsTable(table)
  }

  /** Append one batch of documents to a [[writeMirrorHashes]] relation:
    * only `(host, content_md5)` pairs NEW to the store land, so the
    * stored relation stays exactly the union's distinct — re-appended
    * duplicates (a retried cycle, a re-fetched unchanged body) add
    * nothing, and [[mirrorPairsFromIndex]] over the store stays
    * bit-identical to [[mirrorCandidates]] over the unioned documents
    * (spec-pinned). Scale shape: the batch's distinct hashes broadcast
    * to SEMI-PRUNE the bucketed store scan (only buckets containing
    * batch hashes are read — the [[graft.streaming.RevisitStream
    * .applyBatchLog]] slice pattern), then the anti-join of the batch
    * against that batch-sized slice decides what is new; nothing
    * corpus-sized shuffles per cycle. */
  def appendMirrorHashes(batch: DataFrame, hostCol: String,
                         textCol: String, table: String): Unit = {
    val spark = batch.sparkSession
    spark.catalog.refreshTable(table)
    val hashed = batch.select(col(hostCol).cast("string").as("host"),
        md5(col(textCol)).as("content_md5"))
      .distinct()
    val slice = spark.table(table).join(
      broadcast(hashed.select(col("content_md5")).distinct()),
      Seq("content_md5"), "left_semi")
    hashed.join(slice, Seq("host", "content_md5"), "left_anti")
      .select(col("host"), col("content_md5")) // insertInto is positional
      .write.mode("append").insertInto(table)
    spark.catalog.refreshTable(table)
  }

  /** [[mirrorCandidates]]' host-pair lift over the PERSISTED relation
    * ([[writeMirrorHashes]] + [[appendMirrorHashes]]) — same cap, same
    * co-occurrence counts, same exact integer-micro Jaccard, same
    * output shape; the store IS the distinct relation step 1 builds,
    * so the results are bit-identical to the batch operator over the
    * same document universe. */
  def mirrorPairsFromIndex(spark: SparkSession, table: String,
                           minShared: Long = 2L,
                           maxHostsPerHash: Int = 50): DataFrame = {
    require(minShared >= 1L && maxHostsPerHash >= 2,
      s"bad minShared/maxHostsPerHash: $minShared/$maxHostsPerHash")
    spark.catalog.refreshTable(table)
    mirrorPairsFromHashes(
      spark.table(table)
        .select(col("host"), col("content_md5").as("__h")),
      minShared, maxHostsPerHash)
  }

  /** [[mirrorPairsFromIndex]] restricted to pairs INVOLVING the given
    * probe hosts — bit-identical to the full lift filtered to those
    * pairs (spec-pinned), at probe-sized cost instead of a store-wide
    * self-join: (1) the probes' own rows land via a host semi-join;
    * (2) their hashes pull every co-occurring host's id through the
    * md5-bucket-pruned semi-join; (3) the co-hosts' FULL row sets land
    * via a second host semi-join, so within the expanded slice every
    * probe-adjacent hash carries its complete store host set (the cap
    * counts stay exact) and every candidate partner carries its
    * complete hash set (`n_a`/`n_b`/`jaccard_micro` stay exact).
    * Pairs between two non-probe hosts are dropped — their counts
    * are only complete in the full lift.
    *
    * The streaming consumer ([[graft.streaming.CrawlCycleStream
    * .mirrorIngestStream]]) probes each micro-batch's hosts: a new
    * mirror member is by definition a host of the batch that
    * introduces it, so batch-scoped pairs surface every introduction
    * the cycle it lands while the periodic full
    * [[mirrorPairsFromIndex]] + drift audit owns completeness. */
  def mirrorPairsForHosts(spark: SparkSession, table: String,
                          hosts: DataFrame, hostCol: String,
                          minShared: Long = 2L,
                          maxHostsPerHash: Int = 50): DataFrame = {
    require(minShared >= 1L && maxHostsPerHash >= 2,
      s"bad minShared/maxHostsPerHash: $minShared/$maxHostsPerHash")
    spark.catalog.refreshTable(table)
    val store = spark.table(table)
    val probes = hosts.select(col(hostCol).cast("string").as("host"))
      .distinct()
    val mine = store.join(broadcast(probes), Seq("host"), "left_semi")
    val coHosts = store.join(
        mine.select(col("content_md5")).distinct(),
        Seq("content_md5"), "left_semi")
      .select(col("host")).distinct()
    val slice = store.join(broadcast(coHosts), Seq("host"), "left_semi")
      .localCheckpoint() // probe-sized; feeds the lift AND the cap base
    // cap decisions must be STORE-exact: a partner's non-probe-adjacent
    // hash may be shared with hosts outside the slice, so its host
    // count (and with it the partner's n_a/n_b) comes from the store's
    // rows for the slice's hashes (md5-bucket-pruned), never the slice
    val capBase = store.join(
        slice.select(col("content_md5")).distinct(),
        Seq("content_md5"), "left_semi")
      .select(col("host"), col("content_md5").as("__h"))
    mirrorPairsFromHashes(
        slice.select(col("host"), col("content_md5").as("__h")),
        minShared, maxHostsPerHash, capBase)
      .join(broadcast(probes
          .select(col("host").as("host_a"), lit(1).as("__pa"))),
        Seq("host_a"), "left")
      .join(broadcast(probes
          .select(col("host").as("host_b"), lit(1).as("__pb"))),
        Seq("host_b"), "left")
      .filter(col("__pa").isNotNull || col("__pb").isNotNull)
      .drop("__pa", "__pb")
      .select(col("host_a"), col("host_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard_micro"))
  }
}
