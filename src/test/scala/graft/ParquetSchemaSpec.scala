package graft

import graft.io.ParquetSchema
import graft.streaming.MicroBatchMerge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

class ParquetSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** The value of `f` and the number of Spark jobs it started. */
  private def counted[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      org.apache.spark.GraftListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every catalog table: the footer schema is the inferred one, and " +
    "reading it starts no job") {
    for (t <- tables) {
      val path = s"$sf/$t.parquet"
      val (schema, jobs) = counted(ParquetSchema.of(spark, path))
      assert(jobs == 0, t)
      assert(schema == spark.read.parquet(path).schema, t)
    }
  }

  test("events: the footer schema follows nanosAsLong, on and off") {
    val path = s"$sf/events.parquet"
    for (v <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong", v) {
        assert(ParquetSchema.of(spark, path) == spark.read.parquet(path).schema, v)
      }
  }

  test("merge state and history directories after 3 batches") {
    val dir = Files.createTempDirectory("graft_footer_merge").toString
    val state = s"$dir/state"
    val hist = s"$dir/history"
    Seq(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)),
      Seq((1L, "a2", 10.0), (3L, "c", 30.0)),
      Seq((1L, "a3", 11.0), (2L, "b2", 21.0))).foreach { rows =>
      MicroBatchMerge.applyBatch(spark, rows.toDF("id", "name", "price"),
        Seq("id"), state, hist)
    }
    for (p <- Seq(state, hist)) {
      val (schema, jobs) = counted(ParquetSchema.of(spark, p))
      assert(jobs == 0, p)
      assert(schema == spark.read.parquet(p).schema, p)
    }
  }

  test("a partitioned directory and a mergeSchema read fall back to " +
    "spark.read.parquet") {
    val dir = Files.createTempDirectory("graft_footer_fallback").toString
    val parted = s"$dir/parted"
    Seq((1L, "x", 2020), (2L, "y", 2021)).toDF("id", "v", "year")
      .write.partitionBy("year").parquet(parted)
    val (schema, jobs) = counted(ParquetSchema.of(spark, parted))
    assert(jobs > 0)
    assert(schema == spark.read.parquet(parted).schema)
    assert(schema.fieldNames.contains("year"))

    val evolved = s"$dir/evolved"
    Seq((1L, "x")).toDF("id", "a").write.parquet(evolved)
    Seq((2L, 3.0)).toDF("id", "b").write.mode("append").parquet(evolved)
    // without merging, both read the first file in path order
    assert(ParquetSchema.of(spark, evolved) == spark.read.parquet(evolved).schema)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val (merged, jobs) = counted(ParquetSchema.of(spark, evolved))
      assert(jobs > 0)
      assert(merged == spark.read.parquet(evolved).schema)
      assert(merged.fieldNames.toSet == Set("id", "a", "b"))
    }
  }
}
