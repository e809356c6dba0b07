package graft

import graft.ext.MultiVector
import org.apache.spark.sql.functions._

class MultiVectorSpec extends SparkSpec {
  import spark.implicits._

  test("maxSimTopK: hand-computed MaxSim on axis-aligned token bags") {
    // doc 0 (query): tokens e1, e2. doc 1: e1, e2 -> maxsim 1+1 = 2.
    // doc 2: e1, -e2 -> q-token e1 best-matches 1, e2 best-matches
    // max(0, -1) = 0 -> total 1. doc 3: orthogonal e3, e4 -> 0.
    val rows = Seq(
      (0L, 0L, Seq(1f, 0f, 0f, 0f)), (0L, 1L, Seq(0f, 1f, 0f, 0f)),
      (1L, 10L, Seq(1f, 0f, 0f, 0f)), (1L, 11L, Seq(0f, 1f, 0f, 0f)),
      (2L, 20L, Seq(1f, 0f, 0f, 0f)), (2L, 21L, Seq(0f, -1f, 0f, 0f)),
      (3L, 30L, Seq(0f, 0f, 1f, 0f)), (3L, 31L, Seq(0f, 0f, 0f, 1f)))
      .toDF("doc", "tok", "vec")
    val out = MultiVector.maxSimTopK(rows, rows.filter(col("doc") === 0L),
        "doc", "tok", "vec", k = 3, dim = 4)
      .select("rank", "cand_doc", "maxsim_micro")
      .as[(Int, Long, Long)].collect().toSeq
    assert(out == Seq((1, 1L, 2000000L), (2, 2L, 1000000L), (3, 3L, 0L)))
  }

  test("maxSimTopKPooled with an everything-shortlist equals exact MaxSim") {
    graft.plans.GraftFunctions.register(spark)
    val toks = CrossoverBench.syntheticEmbeddings(spark, 320, 64, seed = 41L)
      .withColumn("doc", expr("vec_id div 8"))
      .cache()
    val queries = toks.filter(col("doc") % 10 === 0)
    val got = MultiVector.maxSimTopKPooled(toks, queries, "doc", "vec_id",
        "embedding", k = 5, dim = 64, candDocs = 40)
      .select("query_doc", "rank", "cand_doc", "maxsim_micro")
      .as[(Long, Int, Long, Long)].collect().toSet
    val want = MultiVector.maxSimTopK(toks, queries, "doc", "vec_id",
        "embedding", k = 5, dim = 64)
      .select("query_doc", "rank", "cand_doc", "maxsim_micro")
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("pooled funnel recall at a tight shortlist on clustered docs") {
    graft.plans.GraftFunctions.register(spark)
    val toks = CrossoverBench.syntheticEmbeddings(spark, 800, 64, seed = 43L)
      .withColumn("doc", expr("vec_id div 8"))
      .cache()
    val queries = toks.filter(col("doc") % 20 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rank") <= 3).select("query_doc", "cand_doc")
        .as[(Long, Long)].collect().toSet
    val exact = pairs(MultiVector.maxSimTopK(toks, queries, "doc", "vec_id",
      "embedding", k = 3, dim = 64))
    val approx = pairs(MultiVector.maxSimTopKPooled(toks, queries, "doc",
      "vec_id", "embedding", k = 3, dim = 64, candDocs = 12))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.85, s"recall $recall too low")
  }
}
