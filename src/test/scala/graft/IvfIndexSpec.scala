package graft

import graft.ext.Ivf
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** Persisted IVF index: centroid round-trip, probe parity with the
  * in-memory path, and the zero-corpus-shuffle plan guarantee the
  * bucketed layout exists for.
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    CrossoverBench.syntheticEmbeddings(spark, 1000, 64, seed = 11L).cache()
  private lazy val queries = emb.filter(col("vec_id") % 100 === 0)

  private val table = "graft_ivfdb.emb_idx"

  private lazy val centroids: Array[Double] = {
    GraftFunctions.register(spark)
    val loc = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ivfdb LOCATION '$loc'")
    val c = Ivf.trainCentroids(emb, "embedding", nList = 16, dim = 64,
      sampleSize = 1000, iters = 5)
    Ivf.writeIndex(emb, "vec_id", "embedding", c, dim = 64, table,
      nBuckets = 8)
    c
  }

  test("centroids round-trip bit-exactly through the catalog") {
    val trained = centroids // forces the index write
    assert(Ivf.loadModel(spark, table) match {
      case (dim, c) => dim == 64 && c.toSeq == trained.toSeq
    })
  }

  test("loadModel equals the ordered (pos) read, whatever the stored " +
    "row order; an empty model fails its require") {
    centroids // force index write
    // the same model stored in descending pos order over several files
    val shuffled = "graft_ivfdb.shuffled_idx"
    spark.table(s"${table}_centroids").orderBy(col("pos").desc)
      .repartition(3)
      .write.mode("overwrite").saveAsTable(s"${shuffled}_centroids")
    def orderedRead(t: String): (Int, Seq[Double]) =
      (spark.table(s"${t}_centroids").select("dim").limit(1).as[Int].head(),
        spark.table(s"${t}_centroids").orderBy("pos").select("value")
          .as[Double].collect().toSeq)
    Seq(table, shuffled).foreach { t =>
      val (dim, c) = Ivf.loadModel(spark, t)
      assert((dim, c.toSeq) == orderedRead(t), t)
    }
    val empty = "graft_ivfdb.empty_idx"
    spark.table(s"${table}_centroids").limit(0)
      .write.mode("overwrite").saveAsTable(s"${empty}_centroids")
    val e = intercept[IllegalArgumentException](Ivf.loadModel(spark, empty))
    assert(e.getMessage == s"requirement failed: empty IVF model in $empty")
  }

  test("the model persists its column names: serving binds by name, " +
    "not position") {
    centroids // forces the index write
    assert(Ivf.loadVecCol(spark, table).contains("embedding"))
    val meta = spark.table(s"${table}_centroids")
      .select("id_col", "vec_col").distinct().collect()
    assert(meta.length == 1 && meta(0).getString(0) == "vec_id" &&
      meta(0).getString(1) == "embedding")
    // a model written before it carried the names: no vector column,
    // the same geometry
    val old = "graft_ivfdb.old_idx"
    spark.table(s"${table}_centroids").drop("id_col", "vec_col")
      .write.mode("overwrite").saveAsTable(s"${old}_centroids")
    assert(Ivf.loadVecCol(spark, old).isEmpty)
    assert(Ivf.loadModel(spark, old) match {
      case (dim, c) => dim == 64 && c.toSeq == centroids.toSeq
    })
  }

  test("indexed probe equals the train-in-place path on the same centroids") {
    centroids // force index write
    val indexed = Ivf.ivfTopKIndexed(spark, table, queries, "vec_id",
        "embedding", k = 5, nProbe = 4)
      .as[(Long, Int, Long, Double)].collect().toSet
    // ivfTopK retrains, but training is deterministic: same sample, same
    // iterations => same centroids => identical probe results
    val direct = Ivf.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
        nList = 16, nProbe = 4, sampleSize = 1000, iters = 5)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(indexed.nonEmpty)
    assert(indexed == direct)
  }

  test("append grows the corpus under the FIXED quantizer: a re-probe " +
    "finds appended exact-duplicate neighbors; streaming probe union " +
    "of 2 micro-batches equals the one-shot probe") {
    centroids // force index write
    // appended vectors: exact copies of three corpus members under new
    // ids — their nearest neighbor must be their source vector
    val dup = emb.filter(col("vec_id").isin(3L, 57L, 400L))
      .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    Ivf.appendToIndex(dup, "vec_id", "embedding", table)
    val probe = spark.table(table)
      .filter(col("vec_id") >= 10000L)
      .select(col("vec_id"), col("embedding"))
    val hits = Ivf.ivfTopKIndexed(spark, table, probe, "vec_id",
        "embedding", k = 1, nProbe = 2)
      .as[(Long, Int, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(hits == Map(10003L -> 3L, 10057L -> 57L, 10400L -> 400L),
      s"appended members did not resolve to their sources: $hits")

    // streaming serve over the (now grown) static index
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val acc = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val query = graft.streaming.EventStreams.annProbeStream(
        in.toDF().toDF("qid").join(emb, col("qid") === col("vec_id"))
          .select(col("vec_id"), col("embedding")),
        table, "vec_id", "embedding", k = 3) {
      (batch, _) => acc.synchronized { acc ++= batch.collect().map(_.toSeq) }
    }
    in.addData(0L, 100L)
    query.processAllAvailable()
    in.addData(200L)
    query.processAllAvailable()
    query.stop()
    val oneShot = Ivf.ivfTopKIndexed(spark, table,
        emb.filter(col("vec_id").isin(0L, 100L, 200L))
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", k = 3)
      .collect().map(_.toSeq)
    assert(acc.toSet == oneShot.toSet && acc.nonEmpty)
  }

  test("candidate join shuffles ONLY the query side (corpus is bucketed)") {
    centroids // force index write
    // a tiny query side broadcasts (zero shuffle — even better); the
    // bucketed layout is for the regime where it does NOT fit: force the
    // shuffle join and pin that the 100 TB corpus side still never moves
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val indexed = spark.table(table)
      val c = indexed.select(col("vec_id").as("neighbor_id"), col("list"))
      val q = queries.select(col("vec_id").as("query_id"),
        explode(Ivf.assignLists(col("embedding"),
          Ivf.loadModel(spark, table)._2, dim = 64, probes = 4)).as("list"))
      val cands = c.join(q, "list")
      val plan = cands.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected exactly the query-side shuffle, got $exchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"corpus scan not using buckets:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
  test("a query side whose probed-list rows exceed the broadcast limit " +
    "takes the rerank shape instead of the one-pass broadcast, same " +
    "answers") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    centroids // force index write
    object Plans extends AdaptiveSparkPlanHelper
    // 10 queries, 4 probed lists each: 40 one-pass broadcast rows
    assert(queries.count() == 10)
    def run(limit: Int) = Ivf.ivfProbe(spark, table, queries, "vec_id",
      "embedding", k = 5, nProbe = 4, queriesFitBroadcast = false,
      broadcastLimit = limit)
    // with the planner's own broadcasts off, every broadcast left is a
    // forced one
    def broadcastSides(limit: Int): Seq[Set[String]] = {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try Plans.collect(run(limit).queryExecution.executedPlan) {
          case b: BroadcastExchangeExec => b.child.output.map(_.name).toSet
        }.filter(_.contains("qvec"))
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    // within the limit: one broadcast of (query, probed list) rows
    assert(broadcastSides(40) == Seq(Set("query_id", "qvec", "list", "qn")))
    // 40 rows over the limit, 10 queries within it: the rerank shape,
    // the unexploded query side broadcast
    assert(broadcastSides(39) == Seq(Set("query_id", "qvec", "qn")))
    // the queries themselves over the limit: nothing force-broadcast
    assert(broadcastSides(9).isEmpty)
    def answer(limit: Int) =
      run(limit).as[(Long, Int, Long, Double)].collect().toSet
    val onePass = answer(40)
    assert(onePass.size == 50)
    assert(answer(39) == onePass)
    assert(answer(9) == onePass)
  }
}

