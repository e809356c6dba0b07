package graft.entry

/** Graph + mergeable-sketch operators: PageRank,
  * HLL shard sketches, count-min heavy keys, overlap census.
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

private[graft] object GraphSketchQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- PageRank link-graph quality (oracle-checked): 10 power
    // iterations in exact integer micro-units over a deterministic
    // synthetic link graph (3 affine out-links per doc, dedup'd, no
    // self-loops) — the URL-centrality signal crawl curation ranks by.
    // The bounded driver count() fixes N for the micro constants.
    "q134_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
          explode(array(
            (col("doc_id") * 7 + 1) % n,
            (col("doc_id") * 11 + 2) % n,
            (col("doc_id") * 13 + 3) % n)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      graft.ext.Graph.pageRankMicro(docs, edges, "doc_id", "src", "dst",
          nNodes = n, iters = 10)
        .orderBy("doc_id")
    }),

    // ---- cross-corpus overlap census from sketches (oracle-checked via
    // the q40 pattern): |A∩B| by inclusion-exclusion over HLL unions —
    // the decontamination census answered from two KB-sized indexes with
    // no join and no corpus re-scan. Overlap is planted (corpus B
    // re-includes sources 0-4) so the estimate has something to find;
    // the flag bounds it by 5% of the exact union.
    "q117_corpus_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("key", md5(col("text")))
      val srcNum = regexp_extract(col("source"), "\\d+", 0).cast("int")
      val aDocs = docs.filter(srcNum < 10)
      val bDocs = docs.filter(srcNum >= 10)
        .unionByName(docs.filter(srcNum < 5))
      val est = graft.ext.Sketches.overlapEstimate(
        graft.ext.Sketches.distinctSketches(aDocs, "key", "source"),
        graft.ext.Sketches.distinctSketches(bDocs, "key", "source"))
      val exactA = aDocs.agg(countDistinct(col("key")).as("exact_a"))
      val exactB = bDocs.agg(countDistinct(col("key")).as("exact_b"))
      val exactO = aDocs.select("key").distinct()
        .join(bDocs.select("key").distinct(), "key")
        .agg(count(lit(1)).as("exact_overlap"))
      exactA.crossJoin(exactB).crossJoin(exactO).crossJoin(est)
        .select(col("exact_a"), col("exact_b"), col("exact_overlap"),
          (abs(col("est_overlap") - col("exact_overlap")) <=
            ceil((col("exact_a") + col("exact_b") - col("exact_overlap")) *
              lit(0.05)).cast("long")).as("overlap_ok"))
    }),

    // ---- count-min frequency index (oracle-checked via the q40 tolerance
    // pattern): per-shard CMS sketches built by Spark's native aggregate,
    // merged driver-side (counter addition — EXACTLY the one-shot sketch,
    // SketchesSpec), probed by the native graft_cms_estimate projection.
    // The oracle predicts the exact counts and the one-sided error flag
    // (est in [exact, exact + ceil(eps·N)]), which CMS guarantees at
    // confidence 0.999 and which is deterministic at fixed seed/data.
    "q116_heavy_keys_cms" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val merged = graft.ext.Sketches.cmsCollectMerged(
        graft.ext.Sketches.cmsSketches(li, "l_partkey", "l_returnflag"))
      val totals = li.agg(count(lit(1)).as("n_total"))
      val cnt = li.groupBy("l_partkey").agg(count(lit(1)).as("exact_cnt"))
      // top-20 via sort+limit (distributed TakeOrderedAndProject — the
      // q123 discipline): the per-key relation scales with |partkey|,
      // so even the aggregated window was a one-task funnel at scale
      // (r16 verdict item 4); (cnt desc, key) is a total order, same
      // 20 rows
      val est = graft.ext.Sketches.cmsEstimate(col("l_partkey"), merged)
      cnt.orderBy(col("exact_cnt").desc, col("l_partkey")).limit(20)
        .crossJoin(totals)
        .select(col("l_partkey"), col("exact_cnt"),
          (est >= col("exact_cnt") &&
            est <= col("exact_cnt") +
              ceil(col("n_total") * lit(0.001)).cast("long")).as("est_ok"))
        .orderBy("l_partkey")
    }),

    // ---- persisted-shape shard distinct sketches (oracle-checked via the
    // q40 tolerance pattern): one DataSketches-HLL sketch per source shard
    // (the KB-sized persistable index — ext.Sketches), per-shard
    // estimates as pure projections, plus a "__all__" row whose estimate
    // comes from MERGING the shard sketches (hll_union_agg), never from
    // re-scanning keys — the mergeability that makes the index compose
    // across ingest batches at 100 TB (union ≡ one-shot, SketchesSpec).
    "q113_shard_distinct_sketch" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("key", md5(col("text")))
      val sk = graft.ext.Sketches.distinctSketches(docs, "key", "source")
      val exactShard = docs.groupBy(col("source"))
        .agg(countDistinct(col("key")).as("exact_distinct"))
      val shardRows = graft.ext.Sketches.estimatePerShard(sk)
        .join(exactShard, col("shard") === col("source"))
        .select(col("source"), col("exact_distinct"),
          (abs(col("est_distinct") - col("exact_distinct")) <=
            col("exact_distinct") * 0.05).as("est_within_5pct"))
      val totalRow = graft.ext.Sketches.estimateUnion(sk)
        .crossJoin(docs.agg(countDistinct(col("key")).as("exact_distinct")))
        .select(lit("__all__").as("source"), col("exact_distinct"),
          (abs(col("est_distinct") - col("exact_distinct")) <=
            col("exact_distinct") * 0.05).as("est_within_5pct"))
      shardRows.unionByName(totalRow).orderBy("source")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // the same micro-unit recurrence unrolled as 10 CTEs (floor
    // division loses mass identically in both engines)
    "q134_pagerank" -> {
      val pre =
        """WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
          |nodes AS (SELECT doc_id AS v FROM documents),
          |edges0 AS (
          |  SELECT doc_id AS u, (doc_id * 7 + 1) % nn.n AS v
          |  FROM documents, nn
          |  UNION ALL
          |  SELECT doc_id, (doc_id * 11 + 2) % nn.n FROM documents, nn
          |  UNION ALL
          |  SELECT doc_id, (doc_id * 13 + 3) % nn.n FROM documents, nn),
          |edges AS (SELECT DISTINCT u, v FROM edges0 WHERE u <> v),
          |outd AS (SELECT u, CAST(count(*) AS BIGINT) AS outd
          |         FROM edges GROUP BY u),
          |pr0 AS (SELECT nodes.v, CAST(1000000 // nn.n AS BIGINT)
          |          AS pr_micro FROM nodes, nn)""".stripMargin
      val iters = (1 to 10).map { k =>
        s"""pr$k AS (
           |  SELECT no.v,
           |    CAST(150000 // nn.n + coalesce(su.c, 0) AS BIGINT)
           |      AS pr_micro
           |  FROM nodes no CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT e.v,
           |      CAST(sum((85 * p.pr_micro) // (100 * o.outd)) AS BIGINT)
           |        AS c
           |    FROM edges e JOIN pr${k - 1} p ON p.v = e.u
           |      JOIN outd o ON o.u = e.u
           |    GROUP BY e.v) su ON su.v = no.v)""".stripMargin
      }
      (pre +: iters).mkString(",\n") +
        "\nSELECT v AS doc_id, pr_micro, pr_micro / 1000000.0 AS pr " +
        "FROM pr10 ORDER BY doc_id"
    },

    // the sketch value itself is engine-specific, but the exact count and
    // the rsd=1% error bound (≤5% with huge margin) are deterministic
    // the oracle predicts the exact cardinalities and the (sparse-mode
    // deterministic) inclusion-exclusion bound flag
    "q117_corpus_overlap" ->
      """WITH d AS (
        |  SELECT md5(text) AS k,
        |    CAST(regexp_extract(source, '\d+') AS INT) AS sn
        |  FROM documents),
        |a AS (SELECT DISTINCT k FROM d WHERE sn < 10),
        |b AS (SELECT DISTINCT k FROM d WHERE sn >= 10
        |      UNION SELECT k FROM d WHERE sn < 5)
        |SELECT (SELECT count(*) FROM a) AS exact_a,
        |  (SELECT count(*) FROM b) AS exact_b,
        |  (SELECT count(*) FROM a JOIN b USING (k)) AS exact_overlap,
        |  true AS overlap_ok
        |ORDER BY exact_a""".stripMargin,

    // the oracle predicts the exact heavy-key counts and the (CMS-
    // guaranteed, deterministic at fixed seed) error-bound flag
    "q116_heavy_keys_cms" ->
      """WITH cnt AS (
        |  SELECT l_partkey, count(*) AS exact_cnt FROM lineitem
        |  GROUP BY l_partkey)
        |SELECT l_partkey, exact_cnt, true AS est_ok FROM cnt
        |QUALIFY row_number() OVER (ORDER BY exact_cnt DESC, l_partkey) <= 20
        |ORDER BY l_partkey""".stripMargin,

    // q40-pattern tolerance gate: the oracle predicts the exact counts
    // and the (always-true at these cardinalities) error-bound flag; the
    // Spark side computes the flag from the live sketch estimates
    "q113_shard_distinct_sketch" ->
      """SELECT source, count(DISTINCT md5(text)) AS exact_distinct,
        |  true AS est_within_5pct
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT '__all__', count(DISTINCT md5(text)), true FROM documents
        |ORDER BY source""".stripMargin,
  )
}
