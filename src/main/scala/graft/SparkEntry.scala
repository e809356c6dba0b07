package graft

import graft.entry._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 inventory + the LLM-pipeline extensions), each paired —
  * where SQL-expressible — with DuckDB oracle SQL over the same tables.
  *
  * Cross-engine determinism conventions (SURVEY.md §7.4):
  *  - money/quantity sums go through DECIMAL (exact, order-independent),
  *    then surface as DOUBLE so both engines emit identical values;
  *  - similarity scores are rounded to 6 decimals before ranking or
  *    thresholding, so last-ulp float noise cannot flip results;
  *  - every result is deterministically ordered and ties are broken by id.
  *
  * The catalog itself lives in per-family modules under [[graft.entry]]
  * (ETL, analytics, text, dedup, similarity, retrieval, media, curation,
  * graph/sketch) — each holding its `queries` slice NEXT TO its
  * `oracleSql` slice, so a query edit and its oracle edit are always a
  * same-file change. This object only concatenates the slices; the
  * assembly is guarded by [[families]]' disjointness checks (run at
  * first access) plus the unchanged drift gates (`EntryContractSpec`,
  * `CatalogDocSpec`, `RowsOnlyPinSpec`, and the driver's DuckDB
  * compare).
  */
object SparkEntry {

  /** The catalog slices, in presentation order (q-number order within
    * each family is preserved from the original single-map catalog).
    */
  private val families: Seq[(String,
      Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = Seq(
    ("etl", EtlQueries.queries, EtlQueries.oracleSql),
    ("analytics", AnalyticsQueries.queries, AnalyticsQueries.oracleSql),
    ("text", TextQueries.queries, TextQueries.oracleSql),
    ("dedup", DedupQueries.queries, DedupQueries.oracleSql),
    ("similarity", SimilarityQueries.queries, SimilarityQueries.oracleSql),
    ("retrieval", RetrievalQueries.queries, RetrievalQueries.oracleSql),
    ("media", MediaQueries.queries, MediaQueries.oracleSql),
    ("curation", CurationQueries.queries, CurationQueries.oracleSql),
    ("graph", GraphSketchQueries.queries, GraphSketchQueries.oracleSql))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_revenue_nation")(spark, "/root/testdata/sf0.001")

  /** Every thunk adopts the session it is given ([[Sessions.adopt]]):
    * callers pass fresh `newSession()`s, which do not inherit runtime
    * registration, and some build their own session, whose tasks would
    * otherwise run under a class loader of their own. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val slices = families.map { case (name, qs, os) =>
      require((os.keySet -- qs.keySet).isEmpty,
        s"family $name has oracles without queries: ${os.keySet -- qs.keySet}")
      (name, qs)
    }
    // a key in two families would silently shadow under ++ — fail loudly
    val dups = slices.flatMap { case (n, qs) => qs.keys.map(_ -> n) }
      .groupBy(_._1).filter(_._2.size > 1)
    require(dups.isEmpty, s"query keys in multiple families: $dups")
    slices.map(_._2).reduce(_ ++ _).map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => {
        fn(Sessions.adopt(s), dir)
      })
    }
  }

  lazy val oracleSql: Map[String, String] =
    families.map(_._3).reduce(_ ++ _)
}
