package graft

import graft.ext.{Ivf, Pq, Similarity}
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** IVF-PQ: codebook determinism, residual-encode contract (range,
  * degenerate inputs), native ADC ≡ driver-side gather, and end-to-end
  * recall against the exact baseline.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val M = 8; private val Ksub = 16; private val Dim = 64
  private val Dsub = Dim / M
  private val NoCoarse = Array.empty[Double] // plain-PQ mode for unit tests

  private lazy val emb =
    CrossoverBench.syntheticEmbeddings(spark, 2000, Dim, seed = 7L).cache()
  private lazy val queries = emb.filter(col("vec_id") % 100 === 0)

  test("trainCodebooks is deterministic with the declared shape") {
    def run() = Pq.trainCodebooks(emb, "embedding", NoCoarse, M, Ksub, Dim,
      sampleSize = 1000, iters = 4)
    val a = run()
    assert(a.length == M * Ksub * Dsub)
    assert(a.toSeq == run().toSeq)
  }

  test("residual codebooks differ from plain ones (residuals engage)") {
    val coarse = Ivf.trainCentroids(emb, "embedding", nList = 8, dim = Dim,
      sampleSize = 1000, iters = 4)
    val plain = Pq.trainCodebooks(emb, "embedding", NoCoarse, M, Ksub, Dim,
      sampleSize = 1000, iters = 4)
    val resid = Pq.trainCodebooks(emb, "embedding", coarse, M, Ksub, Dim,
      sampleSize = 1000, iters = 4)
    assert(plain.toSeq != resid.toSeq)
  }

  test("encode: codes in range, m per vector, degenerate inputs all-zero") {
    GraftFunctions.register(spark)
    val cb = Pq.trainCodebooks(emb, "embedding", NoCoarse, M, Ksub, Dim,
      sampleSize = 1000, iters = 4)
    val codes = emb.select(Pq.encode(col("embedding"), lit(0), cb, NoCoarse,
        M, Dsub, Ksub))
      .as[Seq[Int]].collect()
    assert(codes.length == 2000)
    codes.foreach { cs =>
      assert(cs.length == M)
      assert(cs.forall(c => c >= 0 && c < Ksub))
    }
    // at least two distinct codewords used somewhere (quantizer is alive)
    assert(codes.flatten.distinct.length > 1)
    val degen = Seq(
      (1L, null.asInstanceOf[Array[Float]]),
      (2L, Array.fill(10)(0.5f)),     // wrong dim
      (3L, Array.fill(Dim)(0.0f))     // zero norm
    ).toDF("id", "vec")
      .select(Pq.encode(col("vec"), lit(0), cb, NoCoarse, M, Dsub, Ksub))
      .as[Seq[Int]].collect()
    degen.foreach(cs => assert(cs == Seq.fill(M)(0)))
    // out-of-range coarse list id is degenerate too, not a crash
    val badList = Seq((1L, Array.fill(Dim)(0.5f))).toDF("id", "vec")
      .select(Pq.encode(col("vec"), lit(99), cb,
        Array.fill(4 * Dim)(0.1), M, Dsub, Ksub))
      .as[Seq[Int]].head()
    assert(badList == Seq.fill(M)(0))
  }

  test("native ADC equals the driver-side table gather") {
    GraftFunctions.register(spark)
    val cb = Pq.trainCodebooks(emb, "embedding", NoCoarse, M, Ksub, Dim,
      sampleSize = 1000, iters = 4)
    val q = emb.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")))
      .as[Seq[Double]].head().toArray
    val lut = Pq.lutFor(q, 0, cb, NoCoarse, M, Dsub, Ksub)
    val rows = emb.limit(50)
      .select(col("vec_id"),
        Pq.encode(col("embedding"), lit(0), cb, NoCoarse, M, Dsub, Ksub)
          .as("codes"))
      .withColumn("adc", call_function("graft_pq_adc", col("codes"),
        typedlit(lut.toSeq), lit(Ksub)))
      .as[(Long, Seq[Int], Double)].collect()
    rows.foreach { case (id, codes, adc) =>
      val manual = codes.zipWithIndex.map { case (c, s) => lut(s * Ksub + c) }.sum
      assert(math.abs(adc - manual) < 1e-12, s"ADC diverges on vec $id")
    }
  }

  test("ADC refuses malformed input with null, not a fabricated distance") {
    GraftFunctions.register(spark)
    val bad = Seq((Seq(0, 99), Seq.fill(2 * Ksub)(0.0)), // code out of range
      (Seq(0, 1), Seq.fill(5)(0.0)))                     // lut wrong length
      .toDF("codes", "lut")
      .select(call_function("graft_pq_adc", col("codes"), col("lut"),
        lit(Ksub)))
      .collect()
    assert(bad.forall(_.isNullAt(0)))
  }

  test("persisted index: model round-trip, probe parity, corpus unshuffled") {
    GraftFunctions.register(spark)
    val loc = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_pqdb LOCATION '$loc'")
    val table = "graft_pqdb.emb_pq"
    try {
      val coarse = Ivf.trainCentroids(emb, "embedding", nList = 16, dim = Dim,
        sampleSize = 2000, iters = 8)
      val cb = Pq.trainCodebooks(emb, "embedding", coarse, M, 32, Dim,
        sampleSize = 2000, iters = 8)
      Pq.writeIndex(emb, "vec_id", "embedding", coarse, cb, M, Dsub, 32,
        table, nBuckets = 8)
      // model round-trip is bit-exact
      val (c2, cb2, m2, d2, k2) = Pq.loadModel(spark, table)
      assert(c2.toSeq == coarse.toSeq && cb2.toSeq == cb.toSeq)
      assert((m2, d2, k2) == ((M, Dsub, 32)))
      // indexed probe equals the train-in-place path (training is
      // deterministic: same sample + iterations => same model)
      val indexed = Pq.pqTopKIndexed(spark, table, queries, "vec_id",
          "embedding", k = 5, nProbe = 8)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val direct = Pq.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5,
          nList = 16, nProbe = 8, m = M, ksub = 32, dim = Dim,
          sampleSize = 2000, iters = 8)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      assert(indexed.nonEmpty && indexed == direct)
      // candidate phase: with broadcast disabled, the bucketed corpus
      // side still never exchanges — only the query/LUT side moves
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val enc = spark.table(table)
          .select(col("vec_id").as("neighbor_id"), col("list"), col("codes"))
        val qSide = queries.select(col("vec_id").as("query_id"),
          explode(Ivf.assignLists(col("embedding"), coarse, Dim, 4))
            .as("list"))
        val joined = enc.join(qSide, "list")
        val plan = joined.queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
          s"expected only the query-side shuffle:\n$plan")
        assert(plan.contains("Bucketed: true"),
          s"corpus scan not using buckets:\n$plan")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
      // append under the STORED model: exact duplicates of three corpus
      // members under new ids — a re-probe resolves each to its source
      // (fixed coarse assignment + fixed codebooks => same list, same
      // codes, ADC distance 0 to the source's codes)
      val dup = emb.filter(col("vec_id").isin(5L, 123L, 900L))
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
      Pq.appendToIndex(dup, "vec_id", "embedding", table)
      val probe = spark.table(table)
        .filter(col("vec_id") >= 10000L)
        .select(col("vec_id"), col("embedding"))
      val hits = Pq.pqTopKIndexed(spark, table, probe, "vec_id",
          "embedding", k = 1, nProbe = 4)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
      assert(hits == Map(10005L -> 5L, 10123L -> 123L, 10900L -> 900L),
        s"appended members did not resolve to their sources: $hits")
      // streaming serve: union of 2 micro-batches ≡ one probe of
      // everything streamed, against the (now grown) static index
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Long]
      val acc = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      val query = graft.streaming.EventStreams.pqProbeStream(
          in.toDF().toDF("qid").join(emb, col("qid") === col("vec_id"))
            .select(col("vec_id"), col("embedding")),
          table, "vec_id", "embedding", k = 3, nProbe = 4) {
        (batch, _) => acc.synchronized { acc ++= batch.collect().map(_.toSeq) }
      }
      in.addData(0L, 50L)
      query.processAllAvailable()
      in.addData(150L)
      query.processAllAvailable()
      query.stop()
      val oneShot = Pq.pqTopKIndexed(spark, table,
          emb.filter(col("vec_id").isin(0L, 50L, 150L))
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 3, nProbe = 4)
        .collect().map(_.toSeq)
      assert(acc.toSet == oneShot.toSet && acc.nonEmpty)
    } finally {
      spark.sql("DROP DATABASE IF EXISTS graft_pqdb CASCADE")
    }
  }

  test("ivfPqTopK recall >= 0.8 vs brute force, deterministic run to run") {
    GraftFunctions.register(spark)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
        k = 5, dim = Some(Dim))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run() = Pq.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5,
        nList = 16, nProbe = 8, m = M, ksub = 32, dim = Dim,
        sampleSize = 2000, iters = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = run()
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF-PQ recall $recall below bound")
    assert(got == run(), "IVF-PQ must be deterministic")
  }

  test("exemplar PQ ADC with an everything-shortlist equals brute force") {
    // with k·rerankFactor >= |corpus| the ADC shortlist admits every
    // candidate, so the exact rerank must reproduce brute-force top-k
    // bit for bit — the same non-circular contract as exemplar IVF's
    // full-probe test: any bug that DROPS a candidate from the encode/
    // LUT/ADC join surfaces here, not just as a recall dip
    GraftFunctions.register(spark)
    val small = emb.filter(col("vec_id") < 500).cache()
    val q = small.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.bruteForceTopK(small, q, "vec_id", "embedding",
        k = 5, dim = Some(Dim))
      .as[(Long, Int, Long, Double)].collect().toSet
    val full = Pq.pqAdcTopKExemplar(small, q, "vec_id", "embedding",
        k = 5, m = M, ksub = Ksub, rerankFactor = 100)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full == exact)
  }

  test("exemplar PQ ADC shortlist carries signal at the default factor") {
    // exemplar codebooks without residuals trade recall for oracle-
    // checkability (q89); the bound only asserts the ADC ordering is
    // far from random (random shortlisting of 15/499 would give ~0.03)
    GraftFunctions.register(spark)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = 5, dim = Some(Dim))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Pq.pqAdcTopKExemplar(emb, queries, "vec_id", "embedding",
        k = 5, m = M, ksub = Ksub)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"exemplar PQ ADC recall $recall below bound")
  }
}
