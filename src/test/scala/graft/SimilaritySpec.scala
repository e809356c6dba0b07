package graft

import graft.ext.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot / norm / cosine on known vectors") {
    val df = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 0.0, 0.0))).toDF("a", "b")
    val r = df.select(
      Similarity.dot(col("a"), col("b")),
      Similarity.norm(col("a")),
      Similarity.cosine(col("a"), col("b"))).head()
    assert(r.getDouble(0) == 2.0)
    assert(r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - 2.0 / (3.0 * 2.0)) < 1e-6)
  }

  test("cosine upcasts float vectors to double") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
    assert(df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0) == 1.0)
  }

  // tiny corpus where nearest neighbors are knowable by eye
  private val corpus = Seq(
    (0L, Seq(1.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f)),
    (2L, Seq(0.0f, 1.0f)),
    (3L, Seq(0.1f, 0.9f)),
    (4L, Seq(-1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK returns the true nearest neighbors, ranked") {
    val top = Similarity.bruteForceTopK(corpus,
        corpus.filter(col("vec_id") === 0L), "vec_id", "embedding", k = 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    // cos to (1,0): id1=.994, id3=.110, id2=0, id4=-1
    assert(top.toSeq == Seq(1L, 3L))
  }

  test("bruteForceTopK excludes self matches") {
    val out = Similarity.bruteForceTopK(corpus, corpus, "vec_id", "embedding", 4)
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
  }

  test("rerankTopK: an oversized query side degrades to an unhinted join " +
    "instead of a forced broadcast, same results") {
    val cands = corpus.select(col("vec_id").as("query_id"))
      .crossJoin(corpus.select(col("vec_id").as("neighbor_id")))
      .filter(col("query_id") =!= col("neighbor_id"))
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    def run(limit: Int) = Similarity.rerankTopK(cands, corpus, corpus,
      "vec_id", "embedding", k = 2, dim = 2, broadcastLimit = limit)
    // the broadcasts of qvec in the executed plan; with the planner's
    // own broadcasts off, every one left is a forced one
    def qvecBroadcasts(limit: Int): Int = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val df = run(limit)
        df.collect()
        Plans.collect(df.queryExecution.executedPlan) {
          case b: BroadcastExchangeExec
              if b.child.output.exists(_.name == "qvec") => b
        }.size
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    // gate open: the query side is force-broadcast
    assert(qvecBroadcasts(1000) == 1)
    // gate closed (limit 1 < 5 queries): qvec must NOT enter a forced
    // BroadcastExchange — the degrade path the public API promises for
    // caller-supplied query relations beyond the broadcast budget
    assert(qvecBroadcasts(1) == 0,
      "oversized query side was still force-broadcast")
    // and the two paths return identical rankings
    val a = run(1).orderBy("query_id", "rank").collect().toSeq
    val b = run(1000).orderBy("query_id", "rank").collect().toSeq
    assert(a == b)
  }

  test("lshTopK achieves high recall on clustered (near-dup) vectors") {
    // the ANN use case: clusters of near-identical embeddings. 40 clusters
    // x 5 members, cosine within a cluster ≈ 0.98+.
    val rnd = new scala.util.Random(7)
    val vecs = for {
      cl <- 0 until 40
      base = Array.fill(64)(rnd.nextGaussian().toFloat)
      m <- 0 until 5
    } yield ((cl * 5 + m).toLong,
      base.map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq)
    val emb = vecs.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 5 === 0) // one per cluster
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rank") <= 3).select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3))
    val approx = pairs(Similarity.lshTopK(emb, queries, "vec_id", "embedding", 3,
      nPlanes = 12, nTables = 4))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall too low")
  }

  test("withInt8 quantizes known vectors exactly (symmetric, half-away)") {
    val df = Seq((0L, Seq(2.0f, -1.0f, 0.5f)), (1L, Seq(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.withInt8(df, "vec_id", "embedding")
      .select(col("vec_id"), col("qmax"), col("qvec"))
      .as[(Long, Double, Seq[Long])].collect()
      .map { case (k, m, q) => k -> ((m, q)) }.toMap
    // scale 2.0: 2→127, -1→round(-63.5)=-64 (half away from zero),
    // 0.5→round(31.75)=32
    assert(out(0L) == (2.0, Seq(127L, -64L, 32L)))
    // all-zero vector quantizes to zero codes, not NaN/error
    assert(out(1L) == (0.0, Seq(0L, 0L, 0L)))
  }

  test("native graft_dot_i8 is bit-identical to the HOF long fold") {
    graft.plans.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(200)(
      (Seq.fill(64)(rnd.nextInt(255) - 127L), Seq.fill(64)(rnd.nextInt(255) - 127L)))
    val df = rows.toDF("a", "b")
    val mismatch = df.select(
        Similarity.dotInt8(col("a"), col("b")).as("hof"),
        call_function("graft_dot_i8", col("a"), col("b"), lit(64)).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(mismatch == 0)
    // null ELEMENT propagates to null, never a fabricated 0 contribution
    val nulled = Seq((Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 1L)))
      .toDF("a", "b")
      .select(call_function("graft_dot_i8", col("a"), col("b"), lit(2)))
      .head()
    assert(nulled.isNullAt(0))
  }

  test("int8TopK with an everything-shortlist equals brute force exactly") {
    // candK >= |corpus| makes the quantized scan pass everything through
    // to the exact rerank — the result must then BE bruteForceTopK, row
    // for row (same rank, same rounded sim): pins the rerank plumbing
    // independently of quantization quality
    graft.plans.GraftFunctions.register(spark)
    val emb = CrossoverBench.syntheticEmbeddings(spark, 500, 64, seed = 19L)
      .cache()
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val got = Similarity.int8TopK(emb, queries, "vec_id", "embedding",
        k = 5, dim = 64, candK = 500)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val want = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = 5, dim = Some(64))
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("int8TopK recall vs brute force at a tight shortlist") {
    // int8 quantization error on 64-dim vectors is ~1e-2 relative; with a
    // 4x shortlist the true top-3 should essentially always survive
    graft.plans.GraftFunctions.register(spark)
    val emb = CrossoverBench.syntheticEmbeddings(spark, 1000, 64, seed = 23L)
      .cache()
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rank") <= 3).select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 3, dim = Some(64)))
    val approx = pairs(Similarity.int8TopK(emb, queries, "vec_id",
      "embedding", k = 3, dim = 64, candK = 12))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall too low")
  }

  test("truncatedTopK with an everything-shortlist equals brute force exactly") {
    graft.plans.GraftFunctions.register(spark)
    val emb = CrossoverBench.syntheticEmbeddings(spark, 400, 64, seed = 29L)
      .cache()
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val got = Similarity.truncatedTopK(emb, queries, "vec_id", "embedding",
        k = 5, dim = 64, prefixDim = 16, candK = 400)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val want = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = 5, dim = Some(64))
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("truncatedTopK recall: near-perfect on front-loaded embeddings") {
    // matryoshka-trained embeddings concentrate energy in the prefix;
    // model that by scaling dims 17..64 down 10x — the prefix scan then
    // sees ~96% of each vector's energy and the true top-3 survive a 4x
    // shortlist
    graft.plans.GraftFunctions.register(spark)
    val raw = CrossoverBench.syntheticEmbeddings(spark, 1000, 64, seed = 31L)
    val emb = raw.select(col("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i < 16, x).otherwise(x * lit(0.1f))).as("embedding"))
      .cache()
    val queries = emb.filter(col("vec_id") % 50 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rank") <= 3).select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", 3, dim = Some(64)))
    val approx = pairs(Similarity.truncatedTopK(emb, queries, "vec_id",
      "embedding", k = 3, dim = 64, prefixDim = 16, candK = 12))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall $recall too low")
  }

  test("rhpSignature buckets identical vectors together") {
    val planes = Similarity.hyperplanes(nPlanes = 10, dim = 2)
    val sig = Seq((0L, Seq(0.5f, 0.5f)), (1L, Seq(0.5f, 0.5f)),
        (2L, Seq(-0.5f, -0.5f))).toDF("vec_id", "v")
      .select(col("vec_id"), Similarity.rhpSignature(col("v"), planes).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sig(0L) == sig(1L))
    assert(sig(0L) != sig(2L))
  }

  test("lshTopKPortable equals brute force restricted to reference buckets") {
    // independent reference: recompute the md5-derived ±1 planes and the
    // sign-of-dot signatures in plain Scala, then assert the operator's
    // result IS brute-force top-k filtered to reference bucket-mates —
    // pins the plane derivation, the bucketing, and the rerank order in
    // one contract with no shared code path
    graft.plans.GraftFunctions.register(spark)
    val emb = CrossoverBench.syntheticEmbeddings(spark, 1000, 64, seed = 11L)
      .cache()
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val planes = (0 until 4).map { p => (0 until 64).map { j =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:rhp:$p:$j".getBytes("UTF-8"))
      if ((h(0) & 0x80) != 0) 1.0 else -1.0 } }
    val sig = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect().map { case (id, v) =>
        id -> planes.map { p =>
          if (v.lazyZip(p).map(_ * _).sum >= 0) '1' else '0' }.mkString
      }.toMap
    val got = Similarity.lshTopKPortable(emb, queries, "vec_id", "embedding",
        k = 3, nPlanes = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    got.foreach { case (q, n) =>
      assert(sig(q) == sig(n), s"pair ($q, $n) not bucket-mates") }
    val expected = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 1000, dim = Some(64))
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)]
      .collect().groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(_._3).map(_._2).filter(n => sig(n) == sig(q))
          .take(3).map(q -> _)
      }.toSet
    assert(got.toSet == expected)
  }
}
