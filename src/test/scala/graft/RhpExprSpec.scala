package graft

import graft.ext.Similarity
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** Pins bit-equality between the HOF RHP signature
  * (`Similarity.rhpSignature`) and the native expression
  * (`graft.plans.RhpSigExpr`) — including the degenerate inputs where the
  * two formulations could silently diverge: null vectors, null elements,
  * length-mismatched vectors, and NaN dots. The LSH operators run the
  * native signature; it must never change a candidate set.
  */
class RhpExprSpec extends SparkSpec {
  import spark.implicits._

  private val nPlanes = 12
  private val dim = 8
  private val seed = 7L

  private def hof(c: org.apache.spark.sql.Column) =
    Similarity.rhpSignature(c, Similarity.hyperplanes(nPlanes, dim, seed))
  private def native(c: org.apache.spark.sql.Column) =
    Similarity.rhpSignatureNative(c, nPlanes, dim, seed)

  private def assertAligned(df: org.apache.spark.sql.DataFrame): Unit = {
    GraftFunctions.register(spark)
    val rows = df.select(col("id"), hof(col("vec")).as("hof"),
        native(col("vec")).as("native"))
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (id, h, n) =>
      assert(h == n, s"row $id: hof=$h native=$n")
    }
    assert(rows.nonEmpty)
  }

  test("float vectors: native signature bit-identical to HOF") {
    val rnd = new scala.util.Random(123)
    val df = (1L to 50L).map(i =>
        (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "vec")
    assertAligned(df)
  }

  test("double vectors: native signature bit-identical to HOF") {
    val rnd = new scala.util.Random(321)
    val df = (1L to 50L).map(i =>
        (i, Array.fill(dim)(rnd.nextDouble() * 2 - 1)))
      .toDF("id", "vec")
    assertAligned(df)
  }

  test("edge vectors align: null vector, null element, short, long, NaN") {
    val full = Array.fill(dim)(0.5f)
    val withNaN = full.updated(3, Float.NaN)
    val df = Seq[(Long, Array[java.lang.Float])](
        (1L, null), // null vector -> 0L on both paths
        (2L, full.map(java.lang.Float.valueOf)
          .updated(2, null.asInstanceOf[java.lang.Float])), // null element
        (3L, Array.fill(dim - 3)(0.5f).map(java.lang.Float.valueOf)), // short
        (4L, Array.fill(dim + 3)(0.5f).map(java.lang.Float.valueOf)), // long
        (5L, withNaN.map(java.lang.Float.valueOf)) // NaN dot -> bit 1
      ).toDF("id", "vec")
    assertAligned(df)
    // degenerate inputs collapse to signature 0 (never a silent mismatch)
    GraftFunctions.register(spark)
    val zeros = df.filter(col("id") <= 4)
      .select(native(col("vec"))).as[Long].collect()
    assert(zeros.forall(_ == 0L))
  }

  test("lshTopK results identical between native and HOF paths") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(99)
    val emb = (1L to 300L).map(i =>
        (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 50 === 0)
    val got = Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = 3)
      .as[(Long, Int, Long, Double)].collect().toSet
    // reference: lshTopK's defaults (12 planes, 4 tables, seed 42) with
    // HOF signatures; candidates are bucket mates within one bit
    // (single-bit multi-probe), reranked by the shared exact rerank
    val sigs = emb.select(col("vec_id"), array((0 until 4).map(t =>
        Similarity.rhpSignature(col("embedding"),
          Similarity.hyperplanes(12, 64, 42L + t))): _*))
      .as[(Long, Seq[Long])].collect()
    val cands = (for {
      (q, sq) <- sigs if q % 50 == 0
      (c, sc) <- sigs
      if c != q && sq.zip(sc).exists { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) <= 1 }
    } yield (q, c)).toSeq.toDF("query_id", "neighbor_id")
    val ref = Similarity.rerankTopK(cands, emb, queries, "vec_id",
        "embedding", k = 3, dim = 64)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got.nonEmpty)
    assert(got == ref)
  }

  test("non-literal config argument fails with the intended message") {
    GraftFunctions.register(spark)
    val df = Seq((1L, Array.fill(dim)(0.1f), 4)).toDF("id", "vec", "n")
    val e = intercept[Throwable] {
      df.select(call_function("graft_rhp_sig", col("vec"), col("n"),
        lit(dim), lit(seed))).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("must be an integer literal")),
      s"unexpected error: $e")
  }
}
