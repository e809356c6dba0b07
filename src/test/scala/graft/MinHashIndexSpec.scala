package graft

import graft.ext.Dedup
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band index: probe parity with the in-place
  * pipeline, cross-batch semantics, and the Exchange-free corpus side
  * the bucketed layout exists for.
  */
class MinHashIndexSpec extends SparkSpec {
  import spark.implicits._

  graft.plans.GraftFunctions.register(spark)

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
    (3L, "completely unrelated corpus content with no shared trigrams at all"),
    (4L, "another distinct corpus document about something else entirely now")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    (10L, "the quick brown fox jumps over the lazy dog today"), // near-dup 1,2
    (11L, "fresh novel batch content sharing nothing with the corpus here")
  ).toDF("doc_id", "text")

  private lazy val table: String = {
    val loc = java.nio.file.Files.createTempDirectory("graft_mhidx").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mhdb LOCATION '$loc'")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "graft_mhdb.mh_idx",
      nBuckets = 4)
    "graft_mhdb.mh_idx"
  }

  test("probe finds cross near-dups, skips novel docs, jaccard verified") {
    val got = Dedup.minhashProbeIndexed(spark, table, batch, "doc_id",
        "text", minJaccard = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.keySet == Set((10L, 1L), (10L, 2L)))
    got.values.foreach(j => assert(j >= 0.5 && j < 1.0))
  }

  test("probe parity: indexed pairs equal the in-place pipeline's cross pairs") {
    val everything = corpus.unionByName(batch)
    val all = Dedup.minhashNearDupPairs(everything, "doc_id", "text",
        minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // restrict to (corpus, batch) cross pairs; the index probe reports
    // them as (id_new, id_corpus)
    val crossFromAll = all.collect {
      case (a, b, j) if a < 10L && b >= 10L => (b, a, j)
      case (a, b, j) if b < 10L && a >= 10L => (a, b, j)
    }
    val indexed = Dedup.minhashProbeIndexed(spark, table, batch, "doc_id",
        "text", minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed == crossFromAll,
      s"index probe diverged:\n$crossFromAll\nvs\n$indexed")
  }

  test("candidate bucket join shuffles ONLY the batch side (index is bucketed)") {
    table // force write
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val batchBands = batch.select(col("doc_id").as("id_new"),
          Dedup.wordShingles(col("text"), 3).as("sh"))
        .select(col("id_new"),
          Dedup.minhashSignatureNative(col("sh"), 64).as("sig"))
        .select(col("id_new"),
          posexplode(Dedup.lshBandKeys(col("sig"), 64, 16))
            .as(Seq("band", "bucket")))
        .select(col("id_new"),
          concat_ws(":", col("band"), col("bucket")).as("bucket_key"))
      val idx = spark.table(table)
        .select(col("doc_id").as("id_corpus"), col("bucket_key"))
      val cands = idx.join(batchBands, Seq("bucket_key"))
      val plan = cands.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges == 1,
        s"expected exactly the batch-side shuffle, got $exchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"index scan not using buckets:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("appendToMinhashIndex: later batches near-dup-check against appended docs") {
    val loc = java.nio.file.Files.createTempDirectory("graft_mhidx_a").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mhdb_a LOCATION '$loc'")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "graft_mhdb_a.mh_idx",
      nBuckets = 4)
    // ingest cycle 1: batch probes, novel docs appended
    Dedup.appendToMinhashIndex(batch, "doc_id", "text", "graft_mhdb_a.mh_idx")
    // ingest cycle 2: a near-dup of CYCLE-1 doc 11 (not of the original
    // corpus) must now be caught
    val batch2 = Seq(
      (20L, "fresh novel batch content sharing nothing with the corpus now")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashProbeIndexed(spark, "graft_mhdb_a.mh_idx", batch2,
        "doc_id", "text", minJaccard = 0.5)
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(got == Set((20L, 11L)))
    // the appended files honor the bucket layout: probe join still reads
    // the index without exchanging it
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probeBands = batch2.select(col("doc_id").as("id_new"),
          Dedup.wordShingles(col("text"), 3).as("sh"))
        .select(col("id_new"),
          Dedup.minhashSignatureNative(col("sh"), 64).as("sig"))
        .select(col("id_new"),
          posexplode(Dedup.lshBandKeys(col("sig"), 64, 16))
            .as(Seq("band", "bucket")))
        .select(col("id_new"),
          concat_ws(":", col("band"), col("bucket")).as("bucket_key"))
      val idx = spark.table("graft_mhdb_a.mh_idx")
        .select(col("doc_id").as("id_corpus"), col("bucket_key"))
      val plan = idx.join(probeBands, Seq("bucket_key"))
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("probe/append/repair under mismatched hyperparameters fail loudly " +
    "(meta sidecar)") {
    // the index was built with (shingleN=3, k=64, bands=16,
    // non-portable); any other family would produce band keys that never
    // match — the sidecar turns that silent corruption into a throw
    val m = Dedup.loadMinhashMeta(spark, table)
    assert(m.contains(Dedup.MinhashMeta(3, 64, 16, portable = false)))
    intercept[IllegalArgumentException] {
      Dedup.minhashProbeIndexed(spark, table, batch, "doc_id", "text",
        minJaccard = 0.3, k = 32)
    }
    intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(batch, "doc_id", "text", table,
        bands = 8)
    }
    intercept[IllegalArgumentException] {
      graft.ext.IndexAudit.repairMinhashPostings(spark, table, "doc_id",
        portable = true)
    }
    // the matching family still works after the failed attempts
    assert(Dedup.minhashProbeIndexed(spark, table, batch, "doc_id", "text",
      minJaccard = 0.3).count() > 0)
  }

  test("a sidecar that still carries use_native accepts probe and append") {
    // older sidecars persisted how signatures were computed as a fifth
    // column; native and reference signatures are bit-identical, so the
    // column must not make an index reject a matching family
    val loc = java.nio.file.Files.createTempDirectory("graft_mhidx_u").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mhdb_u LOCATION '$loc'")
    val t = "graft_mhdb_u.mh_idx"
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", t, nBuckets = 4)
    Seq((3, 64, 16, true, false))
      .toDF("shingle_n", "k", "bands", "use_native", "portable")
      .coalesce(1).write.mode("overwrite").saveAsTable(s"${t}_meta")
    assert(Dedup.loadMinhashMeta(spark, t)
      .contains(Dedup.MinhashMeta(3, 64, 16, portable = false)))
    val got = Dedup.minhashProbeIndexed(spark, t, batch, "doc_id", "text",
        minJaccard = 0.5)
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (10L, 2L)))
    Dedup.appendToMinhashIndex(batch, "doc_id", "text", t)
    assert(spark.table(s"${t}_shingles").count() == 6L)
  }

  test("append scans the batch once: both writes consume the shingle cache") {
    val loc = java.nio.file.Files.createTempDirectory("graft_mhidx_s").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mhdb_s LOCATION '$loc'")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "graft_mhdb_s.mh_idx",
      nBuckets = 4)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Dedup.appendToMinhashIndex(batch, "doc_id", "text",
        "graft_mhdb_s.mh_idx")
      // the execution-listener bus is async; wait for both write plans
      val deadline = System.nanoTime() + 10000000000L
      import scala.jdk.CollectionConverters._
      // writes only: the append's meta-sidecar compatibility probe also
      // touches mh_idx_meta and must not count as a write plan
      def writePlans = plans.asScala.filter(p =>
        p.contains("mh_idx") && p.contains("InsertInto")).toSeq
      while (writePlans.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val ps = writePlans
      assert(ps.size == 2, s"expected 2 append writes, saw ${ps.size}")
      // every append write reads the cached shingled batch — the source
      // is scanned (and shingled) exactly once, inside the first write's
      // cache materialization
      ps.foreach(p => assert(p.contains("InMemoryTableScan"),
        s"append write recomputed the batch instead of reading the cache:\n$p"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("streaming probe: union of per-batch pairs equals one batch probe") {
    import graft.streaming.EventStreams
    implicit val sqlCtx = spark.sqlContext
    table // force index write
    val allDocs = Seq(
      (30L, "the quick brown fox jumps over the lazy dog this morning"),
      (31L, "novel streamed content with no corpus overlap whatsoever at all"),
      (32L, "the quick brown fox jumps over the lazy dog every evening")
    )
    val expected = Dedup.minhashProbeIndexed(spark, table,
        allDocs.toDF("doc_id", "text"), "doc_id", "text",
        minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.nonEmpty)

    val collected = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = EventStreams.nearDupProbeStream(
        in.toDF().toDF("doc_id", "text"), table, "doc_id", "text",
        minJaccard = 0.5) { (pairs, _) =>
      collected ++= pairs.as[(Long, Long, Double)].collect()
    }
    try {
      in.addData(allDocs.take(1): _*); q.processAllAvailable()
      in.addData(allDocs.drop(1): _*); q.processAllAvailable()
      assert(collected.toSet == expected)
    } finally q.stop()
  }

  test("portable index round-trips with the portable signature variant") {
    val loc = java.nio.file.Files.createTempDirectory("graft_mhidx_p").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mhdb_p LOCATION '$loc'")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "graft_mhdb_p.mh_idx",
      nBuckets = 4, portable = true)
    val got = Dedup.minhashProbeIndexed(spark, "graft_mhdb_p.mh_idx", batch,
        "doc_id", "text", minJaccard = 0.5, portable = true)
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (10L, 2L)))
  }
}
