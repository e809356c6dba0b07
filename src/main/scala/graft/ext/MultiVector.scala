package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Late-interaction (multi-vector) retrieval — the ColBERT scoring model
  * (Khattab & Zaharia 2020, public paper; no code consulted): a document
  * is a BAG of token vectors, and the query-document score is
  * `MaxSim = Σ_{q token} max_{doc token} cos(q, d)` — finer-grained than
  * single-vector cosine because each query token independently finds its
  * best-matching document token.
  *
  * Numeric discipline: the per-pair cosine converts to INTEGER
  * micro-units (`round(cos·10⁶)` as long) BEFORE the max/sum
  * aggregations, so the aggregate values are exact in any engine and any
  * partial-aggregation order — a double `sum()` here would be the
  * classic non-associativity hazard (q122's oracle reproduces the same
  * integers).
  */
object MultiVector {

  private def prepTokens(df: DataFrame, docCol: String, idCol: String,
                         vecCol: String, doc: String, tok: String,
                         v: String, n: String): DataFrame =
    df.select(col(docCol).as(doc), col(idCol).as(tok),
        transform(col(vecCol), x => x.cast("double")).as(v))
      .withColumn(n, Similarity.norm(col(v)))

  private def microCos(qv: Column, cv: Column, qn: Column, cn: Column,
                       dim: Int): Column =
    round(Similarity.dotNative(qv, cv, dim) / (qn * cn)
      * lit(1000000.0)).cast("long")

  /** Exact MaxSim top-k: every query token scores against every corpus
    * token (the quadratic baseline — the q30 analog for multi-vector),
    * max per (query doc, candidate doc, query token), exact long sum
    * per pair, top-k by (score desc, candidate doc). Self-matches
    * excluded at the document level.
    *
    * Scale path: [[maxSimTopKPooled]] — never run this shape over a
    * full web corpus.
    */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, docCol: String,
                 idCol: String, vecCol: String, k: Int, dim: Int): DataFrame = {
    val c = prepTokens(corpus, docCol, idCol, vecCol,
      "cand_doc", "ctok", "cv", "cn")
    val q = prepTokens(queries, docCol, idCol, vecCol,
      "query_doc", "qtok", "qv", "qn")
    val pair = c.crossJoin(broadcast(q))
      .filter(col("cand_doc") =!= col("query_doc"))
      .select(col("query_doc"), col("qtok"), col("cand_doc"),
        microCos(col("qv"), col("cv"), col("qn"), col("cn"), dim)
          .as("micro"))
    val mx = pair.groupBy("query_doc", "cand_doc", "qtok")
      .agg(max(col("micro")).as("m"))
    val sc = mx.groupBy("query_doc", "cand_doc")
      .agg(sum(col("m")).as("maxsim_micro"))
    val w = Window.partitionBy("query_doc")
      .orderBy(col("maxsim_micro").desc, col("cand_doc"))
    sc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_doc", "rank", "cand_doc", "maxsim_micro")
  }

  /** Mean-pooled single vector per document — the cheap document
    * representative the serving funnel prefilters on. Deterministic:
    * element-wise DECIMAL-free mean is avoided; the pooled vector is
    * only a CANDIDATE generator (never part of the verified score), so
    * plain double averaging per dimension is fine here.
    */
  def pooledVectors(df: DataFrame, docCol: String, vecCol: String,
                    dim: Int): DataFrame =
    df.groupBy(col(docCol).as("doc"))
      .agg(array((0 until dim).map(i =>
        avg(element_at(col(vecCol), i + 1).cast("double"))): _*).as("pooled"))

  /** The ColBERT serving funnel: pooled-vector cosine prefilters the
    * corpus to `candDocs` candidates per query doc (a single-vector ANN
    * problem — compose with the int8/IVF/LSH index families at scale),
    * and exact MaxSim reranks only those. With `candDocs` ≥ corpus size
    * the funnel degenerates to [[maxSimTopK]] exactly (spec-pinned).
    */
  def maxSimTopKPooled(corpus: DataFrame, queries: DataFrame, docCol: String,
                       idCol: String, vecCol: String, k: Int, dim: Int,
                       candDocs: Int = 50): DataFrame = {
    val cPool = pooledVectors(corpus, docCol, vecCol, dim)
      .select(col("doc").as("cand_doc"), col("pooled").as("cpv"))
      .withColumn("cpn", Similarity.norm(col("cpv")))
    val qPool = pooledVectors(queries, docCol, vecCol, dim)
      .select(col("doc").as("query_doc"), col("pooled").as("qpv"))
      .withColumn("qpn", Similarity.norm(col("qpv")))
    val scored = cPool.crossJoin(broadcast(qPool))
      .filter(col("cand_doc") =!= col("query_doc"))
      .select(col("query_doc"), col("cand_doc"),
        round(Similarity.dotNative(col("qpv"), col("cpv"), dim) /
          (col("qpn") * col("cpn")), 6).as("psim"))
    val w = Window.partitionBy("query_doc")
      .orderBy(col("psim").desc, col("cand_doc"))
    val cands = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= candDocs)
      .select("query_doc", "cand_doc")
    // exact MaxSim over the shortlist only: token pairs materialize for
    // |queries|·candDocs document pairs, not the whole corpus
    val c = prepTokens(corpus, docCol, idCol, vecCol,
      "cand_doc", "ctok", "cv", "cn")
    val q = prepTokens(queries, docCol, idCol, vecCol,
      "query_doc", "qtok", "qv", "qn")
    val pair = cands.join(q, "query_doc").join(c, "cand_doc")
      .select(col("query_doc"), col("qtok"), col("cand_doc"),
        microCos(col("qv"), col("cv"), col("qn"), col("cn"), dim)
          .as("micro"))
    val mx = pair.groupBy("query_doc", "cand_doc", "qtok")
      .agg(max(col("micro")).as("m"))
    val sc = mx.groupBy("query_doc", "cand_doc")
      .agg(sum(col("m")).as("maxsim_micro"))
    val w2 = Window.partitionBy("query_doc")
      .orderBy(col("maxsim_micro").desc, col("cand_doc"))
    sc.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select("query_doc", "rank", "cand_doc", "maxsim_micro")
  }
}
