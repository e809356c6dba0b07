package graft

import graft.ext.{IndexAudit, Ivf, Multimodal, QualityModel, Retrieval}
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** Index fsck: every audit passes on a freshly built healthy index,
  * and each planted corruption (the realistic partial-write / lost-
  * append / stale-model failures) trips exactly its check.
  */
class IndexAuditSpec extends SparkSpec {
  import spark.implicits._

  private def failures(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.filter(!col("ok")).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap

  test("BM25 audit: healthy index clean; a lost-append posting trips " +
    "df/dl consistency and the meta scalars") {
    val docs = Seq((0L, "cat dog cat"), (1L, "cat fish"), (2L, "dog dog"))
      .toDF("doc_id", "text")
    val loc = java.nio.file.Files.createTempDirectory("graft_audit1").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_auditdb LOCATION '$loc'")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_auditdb.bm25",
      nBuckets = 2)
    assert(failures(IndexAudit.auditBm25(spark, "graft_auditdb.bm25"))
      .isEmpty)
    // corruption 1: a posting for a NEW doc with a dl unseen by the
    // meta build — the shape a partial append (postings written, meta
    // not bumped) leaves behind
    Seq(("cat", 9L, 1L, 4L))
      .toDF("term", "doc_id", "tf", "dl")
      .write.mode("append").insertInto("graft_auditdb.bm25")
    // corruption 2: a RE-APPENDED posting for an existing (term, doc)
    // — the double-ingest shape the append contract forbids
    Seq(("cat", 0L, 2L, 3L))
      .toDF("term", "doc_id", "tf", "dl")
      .write.mode("append").insertInto("graft_auditdb.bm25")
    val bad = failures(IndexAudit.auditBm25(spark, "graft_auditdb.bm25"))
    assert(bad.contains("meta_n_docs"), bad)
    assert(bad.contains("meta_total_tokens"), bad)
    assert(bad.contains("postings_unique"), bad)
  }

  test("dHash audit: healthy index clean; orphan postings and tampered " +
    "band values trip their checks") {
    val media = Multimodal.syntheticRealPngNearDups(
      (0 until 16).map(_.toLong).toDF("doc_id"), "doc_id")
    val loc = java.nio.file.Files.createTempDirectory("graft_audit2").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_auditdb2 LOCATION '$loc'")
    Multimodal.writeDHashIndex(
      Multimodal.withImageDHashBands(media, "payload"), "doc_id",
      "graft_auditdb2.dh", nBuckets = 2)
    assert(failures(IndexAudit.auditDHash(spark, "graft_auditdb2.dh",
      "doc_id")).isEmpty)
    // corruption 1: a posting whose id has no bands row (half an append)
    Seq((999L, 0, 12345L)).toDF("doc_id", "band_idx", "val")
      .write.mode("append").insertInto("graft_auditdb2.dh")
    // corruption 2: a posting whose value disagrees with the stored bands
    Seq((0L, 1, -1L)).toDF("doc_id", "band_idx", "val")
      .write.mode("append").insertInto("graft_auditdb2.dh")
    val bad = failures(IndexAudit.auditDHash(spark, "graft_auditdb2.dh",
      "doc_id"))
    assert(bad.get("postings_without_bands").contains(1L), bad)
    assert(bad.get("band_values_match").contains(1L), bad)
  }

  test("MinHash audit: healthy index clean; a truncated posting write " +
    "and an orphan shingle row trip their checks") {
    import graft.ext.Dedup
    val docs = (0 until 20).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon token$i zeta eta"))
      .toDF("doc_id", "text")
    val loc = java.nio.file.Files.createTempDirectory("graft_audit4").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_auditdb4 LOCATION '$loc'")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", "graft_auditdb4.mh",
      nBuckets = 2)
    assert(failures(IndexAudit.auditMinhash(spark, "graft_auditdb4.mh",
      "doc_id")).isEmpty)
    // truncated write: an id with a single band row and no shingles
    Seq((777L, "0:123")).toDF("doc_id", "bucket_key")
      .write.mode("append").insertInto("graft_auditdb4.mh")
    val bad = failures(IndexAudit.auditMinhash(spark, "graft_auditdb4.mh",
      "doc_id"))
    assert(bad.get("postings_without_shingles").contains(1L), bad)
    assert(bad.get("uniform_band_count").contains(1L), bad)
  }

  test("quality-model audit: healthy lattice clean; a gap in the " +
    "bucket range trips density") {
    import graft.ext.TextOps
    val seed = Seq((0L, "alpha beta", true), (1L, "junk spam", false))
      .toDF("doc_id", "text", "label")
    val w = QualityModel.trainQualityClassifier(seed, "doc_id", "text", "label",
      nBuckets = 16, steps = 1, lrPpm = 400000L)
    val loc = java.nio.file.Files.createTempDirectory("graft_audit5").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_auditdb5 LOCATION '$loc'")
    QualityModel.writeQualityModel(spark, "graft_auditdb5.qm", w.toSeq)
    assert(failures(IndexAudit.auditQualityModel(spark,
      "graft_auditdb5.qm")).isEmpty)
    // a gap: drop bucket 3 (a lost row misbinds every bucket above it)
    spark.table("graft_auditdb5.qm").filter(col("bucket") =!= 3)
      .write.format("parquet").mode("overwrite")
      .saveAsTable("graft_auditdb5.qm_broken")
    Seq("graft").toDF("salt").write.format("parquet").mode("overwrite")
      .saveAsTable("graft_auditdb5.qm_broken_meta")
    val bad = failures(IndexAudit.auditQualityModel(spark,
      "graft_auditdb5.qm_broken"))
    assert(bad.contains("dense_contiguous_lattice"), bad)
  }

  test("PQ audit: healthy index clean; malformed codes and stale " +
    "assignments trip their checks") {
    import graft.ext.Pq
    GraftFunctions.register(spark)
    val emb = CrossoverBench.syntheticEmbeddings(spark, 300, 64, seed = 9L)
    val loc = java.nio.file.Files.createTempDirectory("graft_audit6").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_auditdb6 LOCATION '$loc'")
    val coarse = Ivf.trainCentroids(emb, "embedding", nList = 4, dim = 64,
      sampleSize = 300, iters = 2)
    val cb = Pq.trainCodebooks(emb, "embedding", coarse, 8, 16, 64,
      sampleSize = 300, iters = 2)
    Pq.writeIndex(emb, "vec_id", "embedding", coarse, cb, 8, 8, 16,
      "graft_auditdb6.pq", nBuckets = 2)
    assert(failures(IndexAudit.auditPq(spark, "graft_auditdb6.pq",
      "vec_id", "embedding")).isEmpty)
    // corruption: a row with too-few out-of-range codes on a shifted list
    val broken = spark.table("graft_auditdb6.pq").filter(col("vec_id") === 0)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"),
        ((col("list") + 1) % 4).as("list"),
        typedlit(Seq(99, 99)).as("codes"))
    broken.write.mode("append").insertInto("graft_auditdb6.pq")
    val bad = failures(IndexAudit.auditPq(spark, "graft_auditdb6.pq",
      "vec_id", "embedding"))
    assert(bad.get("codes_shape_and_range").contains(1L), bad)
    assert(bad.get("assignments_match_model").contains(1L), bad)
  }

  test("IVF audit: healthy index clean; rows assigned under a stale " +
    "model trip assignments_match_model") {
    GraftFunctions.register(spark)
    val emb = CrossoverBench.syntheticEmbeddings(spark, 400, 64, seed = 7L)
    val loc = java.nio.file.Files.createTempDirectory("graft_audit3").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_auditdb3 LOCATION '$loc'")
    val c = Ivf.trainCentroids(emb, "embedding", nList = 8, dim = 64,
      sampleSize = 400, iters = 3)
    Ivf.writeIndex(emb, "vec_id", "embedding", c, dim = 64,
      "graft_auditdb3.ivf", nBuckets = 2)
    assert(failures(IndexAudit.auditIvf(spark, "graft_auditdb3.ivf",
      "vec_id", "embedding")).isEmpty)
    // corruption: rows landed with a DIFFERENT model's assignments (the
    // stale-quantizer overwrite appendToIndex exists to prevent) — force
    // it by appending with every list shifted
    val stale = spark.table("graft_auditdb3.ivf")
      .filter(col("vec_id") < 5)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"),
        ((col("list") + 1) % 8).as("list"))
    stale.write.mode("append").insertInto("graft_auditdb3.ivf")
    val bad = failures(IndexAudit.auditIvf(spark, "graft_auditdb3.ivf",
      "vec_id", "embedding"))
    assert(bad.get("assignments_match_model").exists(_ >= 4L), bad)
  }
  test("IVF audit: an append of an already-indexed id trips ids_unique") {
    GraftFunctions.register(spark)
    val emb = CrossoverBench.syntheticEmbeddings(spark, 200, 64, seed = 5L)
    val loc = java.nio.file.Files.createTempDirectory("graft_audit7").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_auditdb7 LOCATION '$loc'")
    val c = Ivf.trainCentroids(emb, "embedding", nList = 4, dim = 64,
      sampleSize = 200, iters = 2)
    Ivf.writeIndex(emb, "vec_id", "embedding", c, dim = 64,
      "graft_auditdb7.ivf", nBuckets = 2)
    assert(failures(IndexAudit.auditIvf(spark, "graft_auditdb7.ivf",
      "vec_id", "embedding")).isEmpty)
    // the same two rows again, under the same model: every assignment
    // still matches, but ids 3 and 4 are now stored twice
    Ivf.appendToIndex(emb.filter(col("vec_id").isin(3L, 4L)), "vec_id",
      "embedding", "graft_auditdb7.ivf")
    val bad = failures(IndexAudit.auditIvf(spark, "graft_auditdb7.ivf",
      "vec_id", "embedding"))
    assert(bad == Map("ids_unique" -> 2L), bad)
  }
}

