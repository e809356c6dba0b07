package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared plumbing for the per-family catalog modules: table readers
  * (incl. the schema-adaptive `events` reader), the cross-engine money
  * convention, the relations several families share (merge
  * snapshots, the curation funnel stages) and the oracle fragments
  * several families' oracles interpolate (merge CTEs, the BPE merge
  * table, embedding norms, IVF/Lloyd steps, top-k selects).
  *
  * Behavior is pinned by the correctness gates (`EntryContractSpec`,
  * `CatalogDocSpec`, the DuckDB compare).
  */
private[graft] object EntryTables {

  /** One input table (`<dir>/<name>.parquet`), read with a declared
    * schema: the one inference would return, read from a parquet footer
    * on the driver ([[graft.io.ParquetSchema]]) once per version of the
    * files ([[graft.io.VersionMemo]]). Building a query therefore starts
    * no schema-inference job, not even on a cold read. The session's
    * settings that change what inference returns (the `events` reader's
    * `nanosAsLong` among them) are part of the key. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = graft.io.VersionMemo(s,
        ("parquet-schema", path, ParquetInferenceConfs.map(s.conf.getOption)),
        Seq(path)) {
      graft.io.ParquetSchema.of(s, path)
    }
    s.read.schema(schema).parquet(path)
  }

  private val ParquetInferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Spread a scan across the session's cores before a compute-heavy
    * narrow chain (regex extraction, language ID, per-char folds):
    * an EXPLICIT-N id-keyed repartition. The N matters: AQE never
    * coalesces a user-specified partition count, whereas a bare
    * `repartition(col)` at `spark.sql.shuffle.partitions` gets
    * coalesced back to ~1 partition on KB-scale inputs — and a small
    * parquet file is a single row group, so the scan itself can never
    * parallelize past 1 task no matter the split config (measured:
    * q149's extract→repair→quality chain ran 4.5 CPU-seconds on ONE
    * core, guide §2.6 stragglers). N = defaultParallelism scales with
    * the session (the driver's local[4] pass spreads 4-way, a cluster
    * by its cores); the exchange is keyed by the uniform id column —
    * never content — per the ContentKeyAudit discipline. */
  def par(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** q120's fixed BPE merge table — CONSISTENT (every operand is a base
    * character or an earlier merge's output), which is the condition
    * under which replay-in-rank-order equals the lowest-rank-present
    * loop the native expression runs, and what the oracle's nested
    * replace() chain implements.
    */
  val Q120Merges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "the" -> "</w>", "e" -> "r", "e" -> "</w>",
    "a" -> "n", "an" -> "d", "and" -> "</w>")

  /** The q120 oracle, generated from [[Q120Merges]] so table and SQL
    * cannot drift: each word becomes a chr(1)-framed symbol string
    * (one code point per symbol plus the `</w>` marker), each merge in
    * rank order is ONE global `replace` of `␁l␁r␁` with `␁lr␁` —
    * left-to-right non-overlapping, exactly the fusion order the native
    * expression uses — and the doc's subword sequence is the flattened
    * filtered split.
    */
  /** The DuckDB replace-chain that replays [[Q120Merges]] BPE
    * segmentation (rank-order replay ≡ lowest-rank-present loop for a
    * consistent table) — shared by the q120 and q141 oracles. */
  private def bpeChain: String = {
    val s0 = "regexp_replace(tok, '(.)', chr(1) || '\\1', 'g') || " +
      "chr(1) || '</w>' || chr(1)"
    Q120Merges.foldLeft(s0) { case (acc, (l, r)) =>
      s"replace($acc, chr(1) || '$l' || chr(1) || '$r' || chr(1), " +
        s"chr(1) || '$l$r' || chr(1))"
    }
  }

  def q120OracleSql: String = {
    val chain = bpeChain
    s"""WITH seg AS (
       |  SELECT doc_id,
       |    flatten(list_transform(
       |      string_split_regex(trim(lower(text)), '\\s+'),
       |      tok -> list_filter(string_split($chain, chr(1)),
       |                         x -> x <> ''))) AS flat
       |  FROM documents)
       |SELECT doc_id, CAST(len(flat) AS BIGINT) AS n_bpe_tokens,
       |  md5(array_to_string(flat, chr(1))) AS tokens_md5
       |FROM seg ORDER BY doc_id""".stripMargin
  }

  /** q141: chars-per-BPE-token compression under the same replayed
    * merge table — bottom 25 by (integer micro ratio, id). */
  def q141OracleSql: String = {
    val chain = bpeChain
    s"""WITH seg AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |    flatten(list_transform(
       |      string_split_regex(trim(lower(text)), '\\s+'),
       |      tok -> list_filter(string_split($chain, chr(1)),
       |                         x -> x <> ''))) AS flat
       |  FROM documents)
       |SELECT doc_id, n_chars, CAST(len(flat) AS BIGINT) AS n_bpe_tokens,
       |  (1000000 * n_chars) // len(flat) AS chars_per_token_micro
       |FROM seg
       |ORDER BY chars_per_token_micro, doc_id LIMIT 25""".stripMargin
  }

  /** Schema-adaptive events reader: some testdata vintages write `ts` as
    * TIMESTAMP(NANOS) parquet — which Spark's vectorized reader only accepts
    * as a long (`nanosAsLong`) — while newer vintages write plain
    * timestamp[us]. Branch on the file schema so either vintage surfaces the
    * same `ts: timestamp` column. The nanos branch converts with integer
    * division (a double division would lose precision at 1e18 magnitudes);
    * DuckDB truncates ns→µs the same way, keeping the oracle comparable.
    * This is the ONLY nanos-handling site in the repo — specs and Bench go
    * through it rather than re-deriving the conversion.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val nanosOnDisk = eventsTsIsNanos(s, dir)
    // The legacy conf is flipped ONLY for the nanos vintage — and must
    // then stay set through execution (the vectorized reader re-reads it
    // at scan time). Modern vintages leave session config untouched: a
    // reader that mutates session state unconditionally is the class of
    // spooky action the round-6 incident came from.
    if (nanosOnDisk) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case LongType if nanosOnDisk =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // plain timestamp[us] parquet surfaces as NTZ; cast to TimestampType
        // (identity on the stored micros ONLY under a UTC session timezone —
        // any other zone would silently shift every event, so fail fast
        // like the unhandled-vintage branch does)
        val tz = s.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts arrives as TIMESTAMP_NTZ; the TimestampType cast is " +
            s"micros-preserving only under spark.sql.session.timeZone=UTC " +
            s"(session has '$tz')")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        // fail FAST with the column named — a silent passthrough would
        // defer this to ten unrelated-looking downstream query errors
        // (the round-6 failure mode this reader exists to prevent).
        // A plain INT64 ts (no timestamp annotation) lands here too,
        // instead of being silently div-1000'd as if it were nanos.
        throw new IllegalArgumentException(
          s"events.ts: unhandled on-disk type $other — teach " +
            "EntryTables.events() this vintage")
    }
  }

  /** True iff the on-disk `events.ts` column is parquet TIMESTAMP(NANOS),
    * decided from the parquet FOOTER of one data file rather than by
    * attempting a Spark read — Spark only accepts the nanos vintage with
    * the session-wide `nanosAsLong` conf set, and `events()` must not
    * flip that conf for vintages that don't need it.
    */
  def eventsTsIsNanos(s: SparkSession, dir: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val root = new Path(s"$dir/events.parquet")
    val conf = s.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    // testdata ships a single file; Spark-written tables are directories
    val file =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_"))
          .sortBy(_.getName).headOption
          .getOrElse(throw new IllegalArgumentException(
            s"no parquet data files under $root"))
      else root
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val schema = reader.getFileMetaData.getSchema
      schema.containsField("ts") &&
        (schema.getType(schema.getFieldIndex("ts"))
          .getLogicalTypeAnnotation match {
          case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        })
    } finally reader.close()
  }

  val dec2 = DecimalType(18, 2)
  val dec4 = DecimalType(18, 4)
  def money(c: Column): Column = sum(c.cast(dec2)).cast("double")

  /** Two deterministic snapshots of `orders` used by the merge queries:
    * existing = keys ∤3, incoming = keys ∤5 with ~1/7 of prices changed —
    * yielding non-trivial insert/update/delete/unchanged classes from
    * read-only test data.
    */
  def mergeSnapshots(orders: DataFrame): (DataFrame, DataFrame) = {
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    val existing = base.filter(col("o_orderkey") % 3 =!= 0)
    val incoming = base.filter(col("o_orderkey") % 5 =!= 0)
      // * 2.0 is exact in IEEE double — unlike round(x*1.1, 2), whose
      // half-way cases round differently across engines
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2.0)
          .otherwise(col("o_totalprice")))
    (existing, incoming)
  }

  /** The curation funnel's dup-implanted corpus (q101, q144, q202):
    * every 17th document's text replaced by one shared stanza. */
  private[entry] def withDupImplant(docs: DataFrame): DataFrame =
    docs.withColumn("text",
      when(col("doc_id") % 17 === 0,
        lit("duplicate stanza alpha shared across documents"))
        .otherwise(col("text")))

  /** The funnel's keep-first exact dedup, `(doc_id, d_ok)`: the flag as
    * an AGGREGATE on the digest + id-keyed join back (the q149-tail
    * shape) — never a content-keyed window, so a hot duplicate group
    * reduces map-side instead of sorting on one task. The thin
    * (id, digest) relation has two consumers, so the plan is cut there. */
  private[entry] def funnelDedupStage(corpus: DataFrame): DataFrame = {
    val dThin = corpus.select(col("doc_id"), md5(col("text")).as("__h"))
      .localCheckpoint()
    val dWin = dThin.groupBy(col("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("__w"))
    dThin.join(dWin, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__w"), lit(false)).as("d_ok"))
  }

  /** The funnel's decontamination stage, `(doc_id, c_ok)`: q94's ≥10 %
    * 8-shingle overlap verdict against the held-out `bench`. */
  private[entry] def funnelContamStage(corpus: DataFrame,
                                       bench: DataFrame): DataFrame =
    graft.ext.Dedup.contaminationReport(corpus, "doc_id", "text", bench,
        shingleN = 8, dropPct = 10)
      .select(col("doc_id"), (!col("dropped")).as("c_ok"))

  // ============================================================== oracles

  /** Shared CTE prefix for the merge-family oracles (must mirror
    * `mergeSnapshots` exactly).
    */
  val mergeCtes: String =
    """WITH existing AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice,
      |         TIMESTAMP '2020-01-01 00:00:00' AS updated_at,
      |         (o_orderkey % 11 = 0) AS is_deleted
      |  FROM orders WHERE o_orderkey % 3 <> 0),
      |incoming AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2.0
      |              ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 5 <> 0),
      |updated AS (
      |  SELECT i.o_orderkey, i.o_orderstatus, i.o_totalprice, e.is_deleted
      |  FROM incoming i JOIN existing e USING (o_orderkey)
      |  WHERE (i.o_orderstatus IS DISTINCT FROM e.o_orderstatus)
      |     OR (i.o_totalprice IS DISTINCT FROM e.o_totalprice)),
      |deleted AS (
      |  SELECT e.* FROM existing e
      |  WHERE NOT EXISTS (SELECT 1 FROM incoming i
      |                    WHERE i.o_orderkey = e.o_orderkey)
      |    AND NOT e.is_deleted)
      |""".stripMargin

  /** DuckDB SQL for q72, generated so it mirrors
    * [[TextOps.charEntropy]] bucket-for-bucket: same [a-z0-9 space]
    * alphabet, same `length − length(replace(…))` counts, same
    * "other" bucket, and — critically for float parity — the same
    * left-to-right fold order over the 38 entropy terms.
    */
  lazy val entropyOracleSql: String = {
    val alphabet = (('a' to 'z') ++ ('0' to '9')).map(_.toString) :+ " "
    def cnt(ch: String) = s"(length(t) - length(replace(t, '$ch', '')))"
    val counts = alphabet.map(cnt)
    val other = s"(length(t) - (${counts.mkString(" + ")}))"
    def term(c: String) =
      s"(CASE WHEN $c > 0 THEN -($c::DOUBLE / length(t)) * ln($c::DOUBLE / length(t)) ELSE 0.0 END)"
    val sumTerms = (counts :+ other).map(term).mkString(" + ")
    s"""WITH lo AS (SELECT doc_id, lower(text) AS t FROM documents)
       |SELECT doc_id,
       |  CASE WHEN length(t) > 0 THEN round($sumTerms, 6) ELSE 0.0 END AS entropy
       |FROM lo ORDER BY doc_id""".stripMargin
  }


  /** q139/q140/q142/q144 training hyperparameters — shared between the
    * Spark queries and the generated oracle CTEs; a drift here IS the
    * bug the oracle exists to catch. */
  val QtBuckets = 1024
  val QtSteps = 6
  val QtLrPpm = 200000L

  /** The shared CTE chain replaying
    * [[graft.ext.QualityModel.trainQualityClassifier]] in DuckDB over the
    * corpus `docsSql` selects (default: the whole documents table —
    * q144 trains on its dup-implanted curation corpus instead):
    * teacher labels from the md5-weight formulas, the
    * (doc, bucket, count) census, then `QtSteps` unrolled
    * (z → err → gradient → weight) rounds. Every operation is integer
    * with division truncating toward zero on both sides (DuckDB
    * integer `//` ≡ Scala `/` ≡ Spark `div`), so the final lattice is
    * bit-identical to the engine's.
    */
  def qualityTrainCtes(
      docsSql: String = "SELECT doc_id, text FROM documents"): String = {
    val bucketOf = (t: String) =>
      s"('0x' || substr(md5('f:graft:' || $t), 1, 8))::BIGINT % $QtBuckets"
    val steps = (1 to QtSteps).map { k =>
      val lrK = QtLrPpm / k // harmonic decay, truncating like the engine
      s"""z$k AS (
         |  SELECT c.doc_id, CAST(sum(w.w * c.x) AS BIGINT) AS z
         |  FROM cnt c JOIN w${k - 1} w USING (b) GROUP BY 1),
         |e$k AS (
         |  SELECT z.doc_id,
         |    (y.y - greatest(0, least(1000000, 500000 + z.z // 4)))
         |      * CASE WHEN y.y = 1000000 THEN (SELECT cwp FROM cw)
         |             ELSE (SELECT cwn FROM cw) END AS err
         |  FROM z$k z JOIN y USING (doc_id)),
         |g$k AS (
         |  SELECT c.b, CAST(sum(e.err * c.x) AS BIGINT) AS g
         |  FROM cnt c JOIN e$k e USING (doc_id) GROUP BY 1),
         |w$k AS (
         |  SELECT w.b, w.w + coalesce(
         |    ($lrK * g.g) //
         |      (CAST(1000000000 AS BIGINT) * (SELECT nd FROM d)), 0) AS w
         |  FROM w${k - 1} w LEFT JOIN g$k g USING (b))""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
       |  FROM ($docsSql)),
       |y AS (
       |  SELECT doc_id,
       |    CASE WHEN CAST(list_sum(list_transform(ts, t ->
       |      ('0x' || substr(md5('w:graft:' ||
       |         CAST(${bucketOf("t")} AS VARCHAR)), 1, 8))::BIGINT
       |        % 2001 - 1000)) AS BIGINT) >= 0
       |      THEN 1000000 ELSE 0 END AS y
       |  FROM toks),
       |cnt AS (
       |  SELECT doc_id, ${bucketOf("t")} AS b, count(*) AS x
       |  FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
       |  GROUP BY 1, 2),
       |d AS (SELECT count(DISTINCT doc_id) AS nd FROM cnt),
       |cls AS (
       |  SELECT count(*) FILTER (WHERE y = 1000000) AS npos,
       |         count(*) FILTER (WHERE y = 0) AS nneg
       |  FROM y WHERE doc_id IN (SELECT DISTINCT doc_id FROM cnt)),
       |cw AS (
       |  SELECT (1000 * (npos + nneg)) // (2 * npos) AS cwp,
       |         (1000 * (npos + nneg)) // (2 * nneg) AS cwn
       |  FROM cls),
       |w0 AS (SELECT range AS b, CAST(0 AS BIGINT) AS w FROM range($QtBuckets)),
       |$steps""".stripMargin
  }

  /** Shared CTE block for the multi-table portable-LSH oracles
    * (q31/q38): per-table md5-derived ±1 planes under the
    * `graft:rhp:t<t>:<p>:<j>` salt (disjoint from q86/q88's
    * single-table salt space) and per-(table, vector) bit-string
    * signatures — any injective sign encoding yields the same
    * equality classes as the Spark side's integer fold.
    */
  private[entry] def rhpMultiSigCtes(nTables: Int, nPlanes: Int,
                                     dim: Int): String =
    s"""${embNormCte("e", materialized = true)},
       |pv AS (
       |  SELECT t.t, p.p, j.j,
       |    CASE WHEN strpos('89abcdef',
       |        substr(md5('graft:rhp:t' || t.t || ':' || p.p || ':' ||
       |                   (j.j - 1)), 1, 1)) > 0
       |      THEN 1.0 ELSE -1.0 END AS val
       |  FROM generate_series(0, ${nTables - 1}) t(t)
       |  CROSS JOIN generate_series(0, ${nPlanes - 1}) p(p)
       |  CROSS JOIN generate_series(1, $dim) j(j)),
       |planes AS (SELECT t, p, list(val ORDER BY j) AS pvec
       |           FROM pv GROUP BY t, p),
       |sigs AS MATERIALIZED (
       |  SELECT pl.t, e.vec_id,
       |    string_agg(CASE WHEN list_dot_product(e.v, pl.pvec) >= 0
       |        THEN '1' ELSE '0' END, '' ORDER BY pl.p) AS sig
       |  FROM e CROSS JOIN planes pl GROUP BY pl.t, e.vec_id)""".stripMargin

  /** q125's DSIR importance lattice: hashed 256-bucket token features
    * `tokf(doc_id, b)`, the add-one smoothed log-ratio of the en target
    * to the raw corpus per bucket in integer micro-nats
    * `lattice(b, lr_micro)`, and each doc's exact integer dot product
    * `perdoc(doc_id, logw_micro)`. */
  private[entry] val dsirLatticeCtes: String =
    """tok AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |tokf AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5('f:graft:' || term), 1, 8))::BIGINT % 256
      |      AS b
      |  FROM tok WHERE length(term) > 0),
      |ct AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
      |       FROM tokf JOIN documents USING (doc_id)
      |       WHERE lang = 'en' GROUP BY b),
      |cr AS (SELECT b, CAST(count(*) AS BIGINT) AS cr
      |       FROM tokf GROUP BY b),
      |tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM ct) AS tt,
      |               (SELECT CAST(sum(cr) AS BIGINT) FROM cr) AS tr),
      |lattice AS (
      |  SELECT coalesce(ct.b, cr.b) AS b,
      |    CAST(round((ln((coalesce(ct.ct, 0) + 1.0) / (tot.tt + 256))
      |              - ln((coalesce(cr.cr, 0) + 1.0) / (tot.tr + 256)))
      |      * 1000000) AS BIGINT) AS lr_micro
      |  FROM ct FULL OUTER JOIN cr ON ct.b = cr.b CROSS JOIN tot),
      |perdoc AS (
      |  SELECT doc_id, CAST(sum(c * lr_micro) AS BIGINT) AS logw_micro
      |  FROM (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
      |        FROM tokf GROUP BY doc_id, b) dbc
      |  JOIN lattice USING (b) GROUP BY doc_id)""".stripMargin

  /** The single-table portable-LSH CTEs (q86/q88): `e`, md5-derived ±1
    * planes under the `graft:rhp:<p>:<j>` salt and per-vector
    * bit-string signatures `sigs(vec_id, sig)`. */
  private[entry] def rhpSigCtes(nPlanes: Int, dim: Int): String =
    s"""${embNormCte("e")},
       |pv AS (
       |  SELECT p.p, j.j,
       |    CASE WHEN strpos('89abcdef',
       |        substr(md5('graft:rhp:' || p.p || ':' || (j.j - 1)), 1, 1)) > 0
       |      THEN 1.0 ELSE -1.0 END AS val
       |  FROM generate_series(0, ${nPlanes - 1}) AS p(p)
       |  CROSS JOIN generate_series(1, $dim) AS j(j)),
       |planes AS (SELECT p, list(val ORDER BY j) AS pvec FROM pv GROUP BY p),
       |sigs AS (
       |  SELECT e.vec_id,
       |    string_agg(CASE WHEN list_dot_product(e.v, pl.pvec) >= 0
       |        THEN '1' ELSE '0' END, '' ORDER BY pl.p) AS sig
       |  FROM e CROSS JOIN planes pl GROUP BY e.vec_id)""".stripMargin

  /** Shared CTE prefix for the seeded-k-means family oracles (q75 and
    * the q43 indexed probe): the md5-derandomized k-means++ draw chain
    * (`sel1..selK` — each step's D² weights in exact micro longs, the
    * inverse-CDF winner via a running integer window sum), then `iters`
    * unrolled [[lloydStepCtes]] from those seeds, ending with the
    * trained-centroid relation `l{iters}n (cid, cvec, cnrm)`.
    * `AS MATERIALIZED` on every multiply-referenced CTE (the q119
    * lesson — chained re-evaluation is exponential without it).
    */
  private[entry] def kppLloydCtes(nList: Int, iters: Int, dim: Int): String = {
    val simTo = (j: Int) =>
      s"CAST(round(list_dot_product(e.v, (SELECT v FROM c$j)) /\n" +
        s"      (e.nrm * (SELECT nrm FROM c$j)) * 1000000) AS BIGINT)"
    val seedCtes = (2 to nList).map { k =>
      val sims = (1 until k).map(simTo)
      val best = if (sims.size == 1) sims.head
        else s"greatest(${sims.mkString(",\n    ")})"
      val notIn = (1 until k).map(j => s"SELECT vec_id FROM sel$j")
        .mkString(" UNION ALL ")
      s"""d$k AS MATERIALIZED (
         |  SELECT e.vec_id, 2000000 - 2 * $best AS d2
         |  FROM e WHERE e.vec_id NOT IN ($notIn)),
         |sel$k AS MATERIALIZED (
         |  SELECT vec_id FROM (
         |    SELECT vec_id,
         |      sum(d2) OVER (ORDER BY vec_id ROWS UNBOUNDED PRECEDING) AS cum
         |    FROM d$k)
         |  WHERE cum > ('0x' || substr(md5('graft:kpp:draw:$k'), 1, 15))::BIGINT
         |              % (SELECT CAST(sum(d2) AS BIGINT) FROM d$k)
         |  ORDER BY vec_id LIMIT 1),
         |c$k AS MATERIALIZED (SELECT e.* FROM e JOIN sel$k USING (vec_id))""".stripMargin
    }.mkString(",\n")
    val allSeeds = (1 to nList).map(j => s"SELECT vec_id FROM sel$j")
      .mkString(" UNION ALL ")
    val lloydCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}n"
      s"""${lloydStepCtes(s"$i", s"$prev c", dim)},
         |l$i AS MATERIALIZED (
         |  SELECT m.list AS cid, list(m.m / n.mn ORDER BY m.pos) AS cvec
         |  FROM means$i m JOIN norms$i n USING (list) GROUP BY m.list),
         |l${i}n AS (SELECT cid, cvec, sqrt(list_dot_product(cvec, cvec)) AS cnrm
         |       FROM l$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${embNormCte("e", materialized = true)},
       |sel1 AS MATERIALIZED (
       |  SELECT vec_id FROM e
       |  ORDER BY md5('graft:kpp:1:' || vec_id), vec_id LIMIT 1),
       |c1 AS MATERIALIZED (SELECT e.* FROM e JOIN sel1 USING (vec_id)),
       |$seedCtes,
       |l0 AS (SELECT vec_id AS cid, v AS cvec, nrm AS cnrm FROM e
       |       WHERE vec_id IN ($allSeeds)),
       |$lloydCtes""".stripMargin
  }

  // ---- oracle fragments shared across families. SQL text only: no
  // fragment is built from Spark-side code, so every oracle that
  // interpolates one stays an independent reference.

  /** `name(vec_id, v, nrm)`: every embedding as DOUBLE[] with its L2
    * norm — the relation every cosine oracle scores against. */
  private[entry] def embNormCte(name: String,
                                materialized: Boolean = false): String =
    s"""$name AS${if (materialized) " MATERIALIZED" else ""} (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings)""".stripMargin

  /** The closing select of every cosine top-k oracle: per query the `k`
    * best of `scored(query_id, neighbor_id, sim)` by (sim DESC, id). */
  private[entry] def simTopKSelect(k: Int): String =
    s"""SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS "rank",
       |  neighbor_id, sim
       |FROM scored
       |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= $k
       |ORDER BY query_id, "rank"""".stripMargin

  /** The q30 exact cosine leg: queries `q(query_id, qvec)` (vec_id % 100
    * = 0) scored against every other vector of `corpus` (aliased `e`)
    * into `scored(query_id, neighbor_id, sim)`, 6-decimal rounded. */
  private[entry] def exactCosineCtes(q: String, scored: String,
                                     corpus: String = "embeddings"): String =
    s"""$q AS (SELECT vec_id AS query_id, embedding AS qvec
       |      FROM embeddings WHERE vec_id % 100 = 0),
       |$scored AS (
       |  SELECT $q.query_id, e.vec_id AS neighbor_id,
       |    round(list_dot_product($q.qvec::DOUBLE[], e.embedding::DOUBLE[]) /
       |      (sqrt(list_dot_product($q.qvec::DOUBLE[], $q.qvec::DOUBLE[])) *
       |       sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS sim
       |  FROM $corpus e CROSS JOIN $q WHERE e.vec_id <> $q.query_id)""".stripMargin

  /** The exemplar IVF coarse quantizer: the first 8 vectors of `e` as
    * centroids `name(cid, cvec, cnrm)`. */
  private[entry] def ivfExemplarCentroidsCte(name: String): String =
    s"""$name AS (SELECT vec_id AS cid, v AS cvec, nrm AS cnrm
       |      FROM e ORDER BY vec_id LIMIT 8)""".stripMargin

  /** IVF list assignment and probing against the centroids `cents`
    * (aliased `c`), by 6-decimal-rounded argmax cosine:
    * `assigned(neighbor_id, list)` for every vector of `e` and
    * `probes(query_id, list)`, the `nProbe` best lists of each query
    * (vec_id % 100 = 0). */
  private[entry] def ivfAssignProbeCtes(cents: String, nProbe: Int): String =
    s"""assigned AS (
       |  SELECT e.vec_id AS neighbor_id, c.cid AS list
       |  FROM e CROSS JOIN $cents
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(list_dot_product(e.v, c.cvec) / (e.nrm * c.cnrm), 6) DESC,
       |             c.cid) = 1),
       |probes AS (
       |  SELECT e.vec_id AS query_id, c.cid AS list
       |  FROM e CROSS JOIN $cents
       |  WHERE e.vec_id % 100 = 0
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(list_dot_product(e.v, c.cvec) / (e.nrm * c.cnrm), 6) DESC,
       |             c.cid) <= $nProbe)""".stripMargin

  /** One spherical Lloyd step of `e` against the centroids `cents`
    * (aliased `c`): argmax assignment `assigned$sfx(list, v, nrm)`,
    * unit-vector components `comp$sfx`, exact DECIMAL per-list means
    * `means$sfx(list, pos, m)` and their norms `norms$sfx(list, mn)`. */
  private[entry] def lloydStepCtes(sfx: String, cents: String,
                                   dim: Int): String =
    s"""assigned$sfx AS (
       |  SELECT c.cid AS list, e.v, e.nrm
       |  FROM e CROSS JOIN $cents
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY round(list_dot_product(e.v, c.cvec) / (e.nrm * c.cnrm), 6) DESC,
       |             c.cid) = 1),
       |comp$sfx AS (
       |  SELECT a.list, gs.pos - 1 AS pos,
       |    a.v[gs.pos] / (CASE WHEN a.nrm > 0 THEN a.nrm ELSE 1 END) AS ux
       |  FROM assigned$sfx a CROSS JOIN generate_series(1, $dim) AS gs(pos)),
       |means$sfx AS (
       |  SELECT list, pos,
       |    CAST(sum(CAST(ux AS DECIMAL(30,12))) AS DOUBLE) / count(*) AS m
       |  FROM comp$sfx GROUP BY 1, 2),
       |norms$sfx AS (
       |  SELECT list, sqrt(CAST(sum(CAST(m * m AS DECIMAL(30,12))) AS DOUBLE)) AS mn
       |  FROM means$sfx GROUP BY 1)""".stripMargin

  /** The distinct 8-word shingles of the token list `v` (the whole text
    * as one shingle when shorter) — q46's contamination unit. */
  private[entry] def shingles8(v: String): String =
    s"""list_distinct(CASE WHEN len($v) >= 8
       |      THEN list_transform(range(1, len($v) - 6),
       |           i -> concat_ws(' ', $v[i], $v[i+1], $v[i+2], $v[i+3],
       |                          $v[i+4], $v[i+5], $v[i+6], $v[i+7]))
       |      ELSE [array_to_string($v, ' ')] END)""".stripMargin

  /** `name(doc_id, s)`: one row per distinct 8-shingle of each document
    * of `src(doc_id, text)`, tokens split on whitespace as `v`. */
  private[entry] def shingleCte(name: String, v: String, src: String): String =
    s"""$name AS (
       |  SELECT doc_id, unnest(${shingles8(v)}) AS s
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS $v
       |        FROM $src))""".stripMargin

  /** The curation funnel's dup-implanted corpus `wd(doc_id, text)`: every
    * 17th document's text replaced by one shared stanza. */
  private[entry] val dupImplantCte: String =
    """wd AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 0
      |         THEN 'duplicate stanza alpha shared across documents'
      |         ELSE text END AS text
      |  FROM documents)""".stripMargin

  /** The funnel's fixed md5-weight quality stage (q99's logit) over
    * `corpus(doc_id, text)`: `qf(doc_id, q_ok)`. */
  private[entry] val funnelQualityCtes: String =
    """qt AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
      |  FROM corpus),
      |qf AS (
      |  SELECT doc_id,
      |    floor(CAST(list_sum(list_transform(ts, t ->
      |      ('0x' || substr(md5('w:graft:' ||
      |         CAST(('0x' || substr(md5('f:graft:' || t), 1, 8))::BIGINT % 1024
      |              AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000)) AS BIGINT)
      |      / (len(ts) * 1000.0) * 1e6) / 1e6 >= 0.0 AS q_ok
      |  FROM qt)""".stripMargin

  /** The funnel's keep-first exact dedup over `corpus(doc_id, text)`:
    * `df(doc_id, d_ok)`. */
  private[entry] val funnelDedupCte: String =
    """df AS (
      |  SELECT doc_id,
      |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS d_ok
      |  FROM corpus)""".stripMargin

  /** The funnel's decontamination stage — q94's ≥10 % 8-shingle overlap
    * verdict of `wd` against its held-out docs (doc_id % 31 = 0):
    * `cf(doc_id, c_ok)`. */
  private[entry] val funnelContamCtes: String =
    s"""${shingleCte("sh", "tk", "wd")},
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 31 = 0),
       |nsh AS (SELECT doc_id, count(*) AS n_shingles FROM sh
       |        WHERE doc_id % 31 <> 0 GROUP BY doc_id),
       |hits AS (
       |  SELECT doc_id, count(*) AS n_hits
       |  FROM sh JOIN bench USING (s)
       |  WHERE doc_id % 31 <> 0
       |  GROUP BY doc_id),
       |cf AS (
       |  SELECT n.doc_id,
       |    NOT (n.n_shingles > 0 AND
       |         coalesce(h.n_hits, 0) * 100 >= n.n_shingles * 10) AS c_ok
       |  FROM nsh n LEFT JOIN hits h USING (doc_id))""".stripMargin
}
