package graft

import graft.ext.Dedup
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

class MinHashExprSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),
    (3L, "completely different content entirely here now"),
    (4L, "x"), // single-token doc -> whole-text shingle
    (5L, "")   // empty doc
  ).toDF("doc_id", "text")

  test("native expression is bit-identical to the HOF signature") {
    GraftFunctions.register(spark)
    val sh = Dedup.wordShingles(col("text"), 3)
    val both = docs.select(col("doc_id"),
        Dedup.minhashSignature(sh, 64).as("hof"),
        Dedup.minhashSignatureNative(sh, 64).as("native"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    both.foreach { case (id, hof, native) =>
      assert(hof == native, s"doc $id signatures diverge")
    }
  }

  test("native expression resolves in SQL after registration") {
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("mh_docs")
    val n = spark.sql(
      """SELECT doc_id, graft_minhash_sig(array(text), 16) AS sig
        |FROM mh_docs""".stripMargin)
      .selectExpr("size(sig)").as[Int].collect()
    assert(n.forall(_ == 16))
  }

  test("candidate pairs identical between native and HOF paths") {
    GraftFunctions.register(spark)
    val pairs = Dedup.minhashCandidatePairs(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    // reference: HOF shingles + HOF signature, banded (16 bands of 4
    // rows); a pair is a candidate iff some band slice is identical
    val sigs = docs.select(col("doc_id"),
        Dedup.minhashSignature(Dedup.wordShinglesHof(col("text"), 3), 64))
      .as[(Long, Seq[Long])].collect()
    val ref = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && sa.grouped(4).zip(sb.grouped(4)).exists { case (x, y) =>
        x == y }
    } yield (a, b)).toSet
    assert(pairs == ref)
    assert(pairs.contains((1L, 2L)))
  }
}
