package graft

import graft.ext.{Ivf, IndexAudit, Retrieval, Similarity, TextOps}
import graft.io.HttpShim
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The round-10 RAG-serving story: q130's retrieve → fuse → snippet
  * pipeline answered ENTIRELY from persisted artifacts
  * ([[graft.ext.Retrieval.ragServeIndexed]]), pinned bit-identical to
  * the in-plan q130 formulation on the same corpus at full probe
  * width; plus the `/rag` HTTP route and the streaming foreachBatch
  * twin. Both indexes are fsck'd clean before serving — the
  * fsck-then-mount precondition the operator documents.
  */
class RagServeSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    .select("doc_id", "text")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select("vec_id", "embedding")

  private val NList = 4

  private lazy val tables: (String, String) = {
    graft.plans.GraftFunctions.register(spark)
    val loc = Files.createTempDirectory("graft_rag").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_ragdb LOCATION '$loc'")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_ragdb.bm25",
      nBuckets = 8)
    val cents = Ivf.trainCentroids(emb.withColumnRenamed("vec_id", "doc_id"),
      "embedding", nList = NList, dim = 64, sampleSize = 500, iters = 2)
    Ivf.writeIndex(emb.withColumnRenamed("vec_id", "doc_id"), "doc_id",
      "embedding", cents, dim = 64, table = "graft_ragdb.ivf", nBuckets = 4)
    ("graft_ragdb.bm25", "graft_ragdb.ivf")
  }

  private lazy val queries: DataFrame = docs
    .filter(col("doc_id") % 100 === 0)
    .select(col("doc_id").as("query_id"), col("text"))
    .join(emb.select(col("vec_id").as("query_id"), col("embedding")),
      "query_id")

  /** The in-plan q130 formulation over the same corpus (legs built
    * from scratch, no indexes) — the parity target.
    */
  private def inPlanRag(k: Int, legK: Int): Seq[Seq[Any]] = {
    graft.plans.GraftFunctions.register(spark)
    val qterms = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(TextOps.tokens(lower(col("text")))))
          .as("term"))
    val lex = Retrieval.rankTopK(
        Retrieval.bm25ScorePerQuery(docs, "doc_id", "text", qterms,
            "query_id")
          .filter(col("query_id") =!= col("doc_id")),
        "query_id", "doc_id", "bm25_micro", k = legK)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = legK, dim = Some(64))
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    val fused = Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", k)
      .localCheckpoint()
    val passages = Retrieval.bestPassagePerQuery(docs, "doc_id", "text",
      fused, qterms, "query_id", windowTokens = 8)
    fused.join(passages, Seq("query_id", "doc_id"))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_micro"), col("best_start"), col("n_hits"), col("snippet"))
      .orderBy("query_id", "rank")
      .collect().map(_.toSeq).toSeq
  }

  private def served(k: Int, legK: Int, lambdaMicro: Long = 1000000L)
      : DataFrame = {
    val (bm25T, ivfT) = tables
    Retrieval.ragServeIndexed(spark, bm25T, ivfT, docs, "doc_id", "text",
      queries, "query_id", "text", "embedding", k = k, legK = legK,
      nProbe = NList, lambdaMicro = lambdaMicro, excludeSelf = true)
  }

  test("serving precondition: both indexes fsck clean") {
    val (bm25T, ivfT) = tables
    assert(IndexAudit.auditBm25(spark, bm25T)
      .filter(!col("ok")).count() == 0)
    assert(IndexAudit.auditIvf(spark, ivfT, "doc_id", "embedding")
      .filter(!col("ok")).count() == 0)
  }

  test("served answer == the in-plan q130 formulation, bit for bit " +
    "(full probe width)") {
    val got = served(k = 5, legK = 20).collect().map(_.toSeq).toSeq
    val want = inPlanRag(k = 5, legK = 20)
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("diversified serving (MMR) picks k from the legK pool; first " +
    "pick is the relevance top-1") {
    val rel = served(k = 3, legK = 10).collect()
    val div = served(k = 3, legK = 10, lambdaMicro = 700000L).collect()
    assert(div.nonEmpty)
    val relTop1 = rel.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    div.filter(_.getInt(1) == 1).foreach { r =>
      assert(relTop1(r.getLong(0)) == r.getLong(2),
        s"MMR first pick must be the relevance top-1 for ${r.getLong(0)}")
    }
    // no query returns more than k pairs
    div.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length <= 3)
    }
  }

  test("streaming twin: union of 2 micro-batches == one-shot serve") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val (bm25T, ivfT) = tables
    val qRows = queries.collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Float](2).toSeq)).toSeq
    assert(qRows.size >= 2, "need at least 2 queries to split batches")
    val in = MemoryStream[(Long, String, Seq[Float])]
    val acc = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val query = graft.streaming.EventStreams.ragServeStream(
        in.toDF().toDF("query_id", "text", "embedding"), bm25T, ivfT,
        docs, "doc_id", "text", "query_id", "text", "embedding", k = 5,
        legK = 20, nProbe = NList) { (batch, _) =>
      acc.synchronized { acc ++= batch.collect().map(_.toSeq) }
    }
    in.addData(qRows.head)
    query.processAllAvailable()
    in.addData(qRows.tail: _*)
    query.processAllAvailable()
    query.stop()
    val oneShot = Retrieval.ragServeIndexed(spark, bm25T, ivfT, docs,
        "doc_id", "text", queries, "query_id", "text", "embedding",
        k = 5, legK = 20, nProbe = NList)
      .collect().map(_.toSeq)
    assert(acc.sortBy(_.toString) == oneShot.toSeq.sortBy(_.toString))
    assert(acc.nonEmpty)
  }

  test("/rag route serves the persisted pair: served JSON == the batch " +
    "operator; bad requests error as a JSON object") {
    val (bm25T, ivfT) = tables
    val shim = HttpShim.startDynamic(
      HttpShim.ragRoutes(spark, bm25T, ivfT, docs, "doc_id", "text",
        defaultK = 5, legK = 20, nProbe = NList))
    try {
      val (code, body) = get(shim.port, "/rag?id=0&k=5")
      assert(code == 200)
      val want = served(k = 5, legK = 20)
        .filter(col("query_id") === 0L)
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == want, s"served:\n$body\nbatch:\n$want")
      val (c2, b2) = get(shim.port, "/rag")
      assert(c2 == 200 && b2.contains("\"error\""))
      val (c3, b3) = get(shim.port, "/rag?id=999999")
      assert(c3 == 200 && b3.contains("\"error\""))
    } finally shim.stop()
  }

  test("a warm /rag request reads the IVF model from the memo: its " +
    "route starts no model read and at most 19 jobs before it returns") {
    import com.sun.net.httpserver.HttpExchange
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val (bm25T, ivfT) = tables
    val sc = spark.sparkContext
    val raw = HttpShim.ragRoutes(spark, bm25T, ivfT, docs, "doc_id", "text",
      defaultK = 5, legK = 20, nProbe = NList)("rag")
    // request n's route runs under build:n, its result under run
    val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    val route = { (ex: HttpExchange) =>
      sc.setJobGroup(s"build:${seq.incrementAndGet()}", "")
      val df = raw(ex)
      sc.setJobGroup("run", "")
      df
    }
    // (job group, SQL execution id) per job, and each execution's plan
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => jobs.add(
          (String.valueOf(p.getProperty("spark.jobGroup.id")),
            String.valueOf(p.getProperty("spark.sql.execution.id")))))
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.put(s.executionId.toString, s.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    val shim = HttpShim.startDynamic(Map("rag" -> route))
    try {
      val bodies = (1 to 2).map(_ => get(shim.port, "/rag?id=0&k=5")._2)
      bodies.foreach(b => assert(b.startsWith("[{"), b))
      assert(bodies(0) == bodies(1))
      org.apache.spark.GraftListenerBus.drain(sc)
      import scala.jdk.CollectionConverters._
      val warm = jobs.asScala.toSeq.filter(_._1 == "build:2").map(_._2)
      val modelReads = warm.distinct
        .filter(id => Option(plans.get(id)).exists(_.contains(s"${ivfT}_centroids")))
      assert(modelReads.isEmpty, modelReads.map(plans.get))
      // the id checks (`qtext.take(1)`, `qvec.take(1)`), the probe's
      // query-side size check and the fused shortlist's localCheckpoint
      assert(warm.nonEmpty && warm.size <= 19,
        s"warm /rag ran ${warm.size} jobs before its route returned")
    } finally {
      shim.stop()
      sc.removeSparkListener(listener)
    }
  }

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Option(is)
      .map(s => new String(s.readAllBytes(), StandardCharsets.UTF_8))
      .getOrElse("")
    conn.disconnect()
    (code, body)
  }
}
