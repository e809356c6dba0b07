package graft

import graft.ext.Retrieval
import org.apache.spark.sql.functions._

/** Persisted BM25 postings index: probe parity with the one-shot
  * scorer, bucket-pruned probe plan, and the out-of-vocabulary /
  * batch-purity contracts serving depends on.
  */
class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "cat dog cat mouse"),
    (1L, "cat fish"),
    (2L, "dog dog dog"),
    (3L, "bird mouse cat dog fish"),
    (4L, "bird bird")
  ).toDF("doc_id", "text")

  private lazy val table: String = {
    val loc = java.nio.file.Files.createTempDirectory("graft_bm25").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bm25db LOCATION '$loc'")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_bm25db.idx",
      nBuckets = 4)
    "graft_bm25db.idx"
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

  test("probe is bit-identical to the one-shot scorer") {
    val probe = canon(Retrieval.bm25ProbeTopK(spark, table,
      Seq("cat", "mouse"), k = 10))
    val oneShot = canon(Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("cat", "mouse"), k = 10))
    assert(probe == oneShot && probe.nonEmpty)
  }

  test("probe scan is bucketed and bucket-pruned to the query terms") {
    val plan = Retrieval.bm25ProbeTopK(spark, table, Seq("cat"), k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"postings scan not bucketed:\n$plan")
    assert("SelectedBucketsCount: [123] out of 4".r
        .findFirstIn(plan).isDefined,
      s"no bucket pruning on the term filter:\n$plan")
    // n and t are literals and df a window over the bucketed scan: no
    // broadcast, and the only exchange is the per-document sum's
    assert(!plan.contains("BroadcastExchange") &&
      "Exchange hashpartitioning\\(term".r.findFirstIn(plan).isEmpty,
      s"the probe broadcasts or exchanges by term:\n$plan")
  }

  test("out-of-vocabulary terms contribute nothing; all-OOV probe is empty") {
    val withOov = canon(Retrieval.bm25ProbeTopK(spark, table,
      Seq("cat", "zebra"), k = 10))
    val base = canon(Retrieval.bm25ProbeTopK(spark, table, Seq("cat"), k = 10))
    assert(withOov == base)
    assert(Retrieval.bm25ProbeTopK(spark, table, Seq("zebra"), k = 10)
      .count() == 0)
  }

  test("probing in two term batches decomposes by term set (additive " +
    "micro scores for disjoint term sets)") {
    def scores(terms: Seq[String]): Map[Long, Long] =
      Retrieval.bm25ProbeTopK(spark, table, terms, k = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val both = scores(Seq("cat", "dog"))
    val cat = scores(Seq("cat"))
    val dog = scores(Seq("dog"))
    both.foreach { case (id, s) =>
      assert(s == cat.getOrElse(id, 0L) + dog.getOrElse(id, 0L),
        s"doc $id: $s != ${cat.getOrElse(id, 0L)} + ${dog.getOrElse(id, 0L)}")
    }
  }

  test("per-query text probe equals the literal-terms probe per query") {
    val queries = Seq((7L, "cat mouse"), (8L, "dog")).toDF("qid", "text")
    val got = graft.ext.Retrieval
      .bm25ProbePerQuery(spark, table, queries, "qid", "text", k = 10)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = Seq(7L -> Seq("cat", "mouse"), 8L -> Seq("dog")).flatMap {
      case (qid, terms) =>
        Retrieval.bm25ProbeTopK(spark, table, terms, k = 10).collect()
          .map(r => (qid, r.getInt(1), r.getLong(0), r.getLong(2)))
    }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaming query probe: union of micro-batches equals one probe " +
    "of all queries; empty-text queries yield no rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val query = graft.streaming.EventStreams.bm25QueryStream(
        in.toDF().toDF("qid", "text"), table, "qid", "text", k = 10) {
      (batch, _) => acc.synchronized { acc ++= batch.collect().map(_.toSeq) }
    }
    in.addData((7L, "cat mouse"), (9L, "   "))
    query.processAllAvailable()
    in.addData((8L, "dog"))
    query.processAllAvailable()
    query.stop()
    val oneShot = graft.ext.Retrieval.bm25ProbePerQuery(spark, table,
        Seq((7L, "cat mouse"), (8L, "dog"), (9L, "   "))
          .toDF("qid", "text"),
        "qid", "text", k = 10)
      .collect().map(_.toSeq)
    assert(acc.toSet == oneShot.toSet && acc.nonEmpty)
    assert(!acc.exists(_.head == 9L), "whitespace-only query produced rows")
  }

  test("append: probe after appendToBm25Index is bit-identical to a " +
    "one-shot build over the union (df/meta shift correctly), fsck " +
    "stays green, and the appended scan stays bucket-pruned") {
    val loc = java.nio.file.Files.createTempDirectory("graft_bm25a").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bm25adb LOCATION '$loc'")
    val first = docs.filter(col("doc_id") < 3)
    val more = docs.filter(col("doc_id") >= 3)
    Retrieval.writeBm25Index(first, "doc_id", "text",
      "graft_bm25adb.apx", nBuckets = 4)
    Retrieval.appendToBm25Index(more, "doc_id", "text",
      "graft_bm25adb.apx")
    Retrieval.writeBm25Index(docs, "doc_id", "text",
      "graft_bm25adb.one", nBuckets = 4)
    // "cat"/"dog" gain documents across the append (their df shifts),
    // "bird" exists ONLY in the appended batch — all three must score
    // exactly as the one-shot union build
    for (terms <- Seq(Seq("cat", "mouse"), Seq("dog"), Seq("bird", "fish"))) {
      val appended = canon(Retrieval.bm25ProbeTopK(
        spark, "graft_bm25adb.apx", terms, k = 10))
      val oneShot = canon(Retrieval.bm25ProbeTopK(
        spark, "graft_bm25adb.one", terms, k = 10))
      assert(appended == oneShot && appended.nonEmpty, s"terms=$terms")
    }
    // fsck green after the append; meta bumped to the union's scalars
    val audit = graft.ext.IndexAudit.auditBm25(spark, "graft_bm25adb.apx")
    assert(audit.filter(!col("ok")).count() == 0)
    val m = spark.table("graft_bm25adb.apx_meta").collect().head
    assert(m.getLong(0) == 5L && m.getLong(1) == 16L)
    // appended files join the same bucket layout: the probe still prunes
    val plan = Retrieval.bm25ProbeTopK(spark, "graft_bm25adb.apx",
        Seq("cat"), k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true") &&
      "SelectedBucketsCount: [123] out of 4".r.findFirstIn(plan).isDefined,
      s"appended index lost bucket pruning:\n$plan")
    // the id-space guard: appending under a different id column fails
    // loudly instead of keying two id spaces into one postings table
    val ex = intercept[IllegalArgumentException] {
      Retrieval.appendToBm25Index(
        more.withColumnRenamed("doc_id", "other_id"),
        "other_id", "text", "graft_bm25adb.apx")
    }
    assert(ex.getMessage.contains("id column"))
  }

  test("append is self-healing: a crash between a postings insert and " +
    "its meta write (meta left stale) is repaired by the NEXT append — " +
    "meta recomputes from the authoritative postings, probe parity and " +
    "fsck restore without an explicit repair call") {
    val loc = java.nio.file.Files.createTempDirectory("graft_bm25c").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bm25cdb LOCATION '$loc'")
    val t = "graft_bm25cdb.cr"
    Retrieval.writeBm25Index(docs.filter(col("doc_id") < 2), "doc_id",
      "text", t, nBuckets = 4)
    val staleMeta = spark.table(s"${t}_meta").collect().head
    // simulate the crash window: doc 2's postings land, then the
    // process dies before the meta write — replay by appending doc 2
    // and forcing meta back to the pre-append scalars
    Retrieval.appendToBm25Index(docs.filter(col("doc_id") === 2),
      "doc_id", "text", t)
    Seq((staleMeta.getLong(0), staleMeta.getLong(1),
        staleMeta.getString(2)))
      .toDF("n", "t", "id_col").coalesce(1)
      .write.format("parquet").mode("overwrite").saveAsTable(s"${t}_meta")
    spark.catalog.refreshTable(s"${t}_meta")
    // fsck sees the stale-meta window
    assert(graft.ext.IndexAudit.auditBm25(spark, t)
      .filter(!col("ok")).collect().map(_.getString(0)).toSet ==
      Set("meta_n_docs", "meta_total_tokens"))
    // the next append heals it: meta recomputes from the postings
    Retrieval.appendToBm25Index(docs.filter(col("doc_id") >= 3),
      "doc_id", "text", t)
    assert(graft.ext.IndexAudit.auditBm25(spark, t)
      .filter(!col("ok")).count() == 0)
    val m = spark.table(s"${t}_meta").collect().head
    assert(m.getLong(0) == 5L && m.getLong(1) == 16L)
    val healed = canon(Retrieval.bm25ProbeTopK(spark, t,
      Seq("cat", "bird"), k = 10))
    val oneShot = canon(Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("cat", "bird"), k = 10))
    assert(healed == oneShot && healed.nonEmpty)
  }

  test("streaming serving across an append: a micro-batch probed after " +
    "appendToBm25Index sees the appended documents and shifted df") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val loc = java.nio.file.Files.createTempDirectory("graft_bm25s").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bm25sdb LOCATION '$loc'")
    Retrieval.writeBm25Index(docs.filter(col("doc_id") < 3), "doc_id",
      "text", "graft_bm25sdb.sidx", nBuckets = 4)
    val in = MemoryStream[(Long, String)]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Seq[Any]])]
    var batchNo = 0L
    val query = graft.streaming.EventStreams.bm25QueryStream(
        in.toDF().toDF("qid", "text"), "graft_bm25sdb.sidx",
        "qid", "text", k = 10) { (batch, _) =>
      acc.synchronized {
        acc += ((batchNo, batch.collect().map(_.toSeq).toSeq))
        batchNo += 1
      }
    }
    in.addData((1L, "cat"))
    query.processAllAvailable()
    Retrieval.appendToBm25Index(docs.filter(col("doc_id") >= 3),
      "doc_id", "text", "graft_bm25sdb.sidx")
    in.addData((2L, "cat"), (3L, "bird"))
    query.processAllAvailable()
    query.stop()
    val pre = acc.find(_._1 == 0L).get._2
    val post = acc.find(_._1 == 1L).get._2
    // pre-append: only the 3 indexed docs can answer; doc 3 is invisible
    assert(pre.nonEmpty && !pre.exists(_(2) == 3L))
    // post-append: "cat" now surfaces doc 3, and its scores match a
    // cold probe of the appended index (same table, same df/meta)
    val want = Retrieval.bm25ProbePerQuery(spark, "graft_bm25sdb.sidx",
        Seq((2L, "cat"), (3L, "bird")).toDF("qid", "text"),
        "qid", "text", k = 10)
      .collect().map(_.toSeq).toSet
    assert(post.toSet == want && post.exists(_(2) == 3L))
    // "bird" lives only in the appended batch and is served
    assert(post.exists(r => r.head == 3L))
  }

  test("streaming ingest: two micro-batches through bm25IngestStream " +
    "equal a one-shot build over the union, fsck green") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val loc = java.nio.file.Files.createTempDirectory("graft_bm25i").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bm25idb LOCATION '$loc'")
    Retrieval.writeBm25Index(docs.filter(col("doc_id") < 1), "doc_id",
      "text", "graft_bm25idb.ing", nBuckets = 4)
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.EventStreams.bm25IngestStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      "graft_bm25idb.ing")
    try {
      in.addData((1L, "cat fish"), (2L, "dog dog dog"))
      q.processAllAvailable()
      in.addData((3L, "bird mouse cat dog fish"), (4L, "bird bird"))
      q.processAllAvailable()
    } finally q.stop()
    for (terms <- Seq(Seq("cat", "mouse"), Seq("bird"))) {
      val streamed = canon(Retrieval.bm25ProbeTopK(
        spark, "graft_bm25idb.ing", terms, k = 10))
      val oneShot = canon(Retrieval.bm25ProbeTopK(spark, table,
        terms, k = 10))
      assert(streamed == oneShot && streamed.nonEmpty, s"terms=$terms")
    }
    assert(graft.ext.IndexAudit.auditBm25(spark, "graft_bm25idb.ing")
      .filter(!col("ok")).count() == 0)
  }

  test("meta scalars match the corpus (N docs, T tokens) and record " +
    "the id column by NAME (probes must never bind positionally)") {
    val m = spark.table(s"${table}_meta").collect().head
    assert(m.getLong(0) == 5L && m.getLong(1) == 16L)
    assert(m.getString(m.fieldIndex("id_col")) == "doc_id")
  }
}
