package graft

import graft.ext.Similarity
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** Pins bit-equality between the unrolled element_at dot chain and the
  * native DotExpr — the two must be interchangeable under oracle
  * comparison (identical left-associated IEEE accumulation).
  */
class DotExprSpec extends SparkSpec {
  import spark.implicits._

  test("native dot bit-identical to unrolled chain (float and double)") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    val f = (1L to 40L).map(i => (i, Array.fill(16)(rnd.nextFloat() * 2 - 1),
      Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("id", "a", "b")
    val rowsF = f.select(col("id"),
        Similarity.dotUnrolled(col("a"), col("b"), 16).as("u"),
        Similarity.dotNative(col("a"), col("b"), 16).as("n"))
      .as[(Long, Double, Double)].collect()
    rowsF.foreach { case (id, u, n) =>
      assert(java.lang.Double.doubleToRawLongBits(u) ==
        java.lang.Double.doubleToRawLongBits(n), s"row $id: $u vs $n")
    }
    val d = (1L to 40L).map(i => (i, Array.fill(16)(rnd.nextDouble() * 2 - 1),
      Array.fill(16)(rnd.nextDouble() * 2 - 1))).toDF("id", "a", "b")
    val rowsD = d.select(col("id"),
        Similarity.dotUnrolled(col("a"), col("b"), 16).as("u"),
        Similarity.dotNative(col("a"), col("b"), 16).as("n"))
      .as[(Long, Double, Double)].collect()
    rowsD.foreach { case (id, u, n) =>
      assert(java.lang.Double.doubleToRawLongBits(u) ==
        java.lang.Double.doubleToRawLongBits(n), s"row $id: $u vs $n")
    }
  }

  test("null vector yields null; short vector errors (ANSI parity)") {
    GraftFunctions.register(spark)
    val df = Seq((1L, null.asInstanceOf[Array[Double]],
      Array.fill(8)(1.0))).toDF("id", "a", "b")
    val r = df.select(Similarity.dotNative(col("a"), col("b"), 8)).head()
    assert(r.isNullAt(0))
    // null ELEMENT null-propagates exactly like the unrolled chain —
    // never a fabricated 0.0 contribution
    val withNullElem = Seq((1L,
        Array.fill(8)(1.0).map(java.lang.Double.valueOf)
          .updated(3, null.asInstanceOf[java.lang.Double]),
        Array.fill(8)(1.0).map(java.lang.Double.valueOf)))
      .toDF("id", "a", "b")
    val both = withNullElem.select(
      Similarity.dotNative(col("a"), col("b"), 8).as("n"),
      Similarity.dotUnrolled(col("a"), col("b"), 8).as("u")).head()
    assert(both.isNullAt(0) && both.isNullAt(1))
    val short = Seq((1L, Array.fill(4)(1.0), Array.fill(8)(1.0)))
      .toDF("id", "a", "b")
    val e = intercept[Exception] {
      short.select(Similarity.dotNative(col("a"), col("b"), 8)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("shorter than dim")))
  }

  test("cosineNearDupPairsExact results identical native vs unrolled") {
    GraftFunctions.register(spark)
    val emb = CrossoverBench.syntheticEmbeddings(spark, 300, 64, seed = 3L)
    val pairs = graft.ext.Dedup.cosineNearDupPairsExact(emb, "vec_id",
        "embedding", minCosine = 0.4)
      .as[(Long, Long, Double)].collect().toSet
    // reference: the same all-pairs cosine over the unrolled dot
    val v = Similarity.withVecNorm(emb, "vec_id", "embedding")
    val ref = v.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"))
      .crossJoin(v.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.dotUnrolled(col("va"), col("vb"), 64) /
          (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == ref)
    assert(pairs.nonEmpty)
  }
}
