package graft

import graft.entry.EntryTables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Schema-drift canary: the driver regenerates /root/testdata between
  * rounds, and a silent column-type change (round 6: `events.ts` flipped
  * from TIMESTAMP(NANOS)-as-long to plain timestamp[us]) can take down
  * every query over a table while unit specs over synthetic frames stay
  * green. This spec fails FIRST — naming the table and column — whenever
  * the on-disk data drifts outside what the engine's readers accept.
  */
class TestDataCanarySpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def sfDirs: Seq[String] =
    Seq("sf0.001", "sf0.01", "sf0.1").map(s => s"/root/testdata/$s")
      .filter(d => Files.exists(Paths.get(d)))

  /** The ts vintages the schema-adaptive events() reader handles. A new
    * vintage (e.g. string, int32 days, decimal seconds) must fail HERE with
    * the column named, not as ten dead catalog queries.
    */
  private val tsVintages: Set[DataType] =
    Set(LongType, TimestampType, TimestampNTZType)

  /** Asserts the events reader accepts what's in `dir` and surfaces the
    * canonical `ts: timestamp` column with data in it.
    */
  private def checkEvents(dir: String, read: => DataFrame): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    assert(tsVintages.contains(onDisk),
      s"$dir events.ts: unhandled on-disk type $onDisk — teach " +
        "EntryTables.events() this vintage before any catalog query runs")
    val df = read
    assert(df.schema("ts").dataType == TimestampType,
      s"$dir events.ts surfaced as ${df.schema("ts").dataType}, " +
        "expected TIMESTAMP")
    assert(df.select(min(col("ts"))).first().get(0) != null,
      s"$dir events.ts: all-null after conversion")
  }

  test("every testdata table reads and materializes under the engine") {
    // the engine reads events with this conf set (EntryTables.events);
    // without it a TIMESTAMP(NANOS)-vintage events.parquet would fail
    // this plain read even though the engine handles it fine
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for (dir <- sfDirs; table <- tables) {
      val path = s"$dir/$table.parquet"
      assert(Files.exists(Paths.get(path)), s"missing table: $path")
      try spark.read.parquet(path).limit(1).collect()
      catch { case e: Throwable =>
        fail(s"$path: reader rejected schema — ${e.getMessage}", e)
      }
    }
  }

  test("events.ts vintage is handled by the schema-adaptive reader") {
    sfDirs.foreach { dir =>
      try checkEvents(dir, EntryTables.events(spark, dir))
      catch { case e: org.apache.spark.sql.AnalysisException =>
        fail(s"$dir events.ts: events() no longer analyzes — ${e.getMessage}", e)
      }
    }
  }

  test("timestamp columns across tables stay within known vintages") {
    val tsColumns = Seq("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
    for (dir <- sfDirs; (table, column) <- tsColumns) {
      val dt = spark.read.parquet(s"$dir/$table.parquet").schema(column).dataType
      assert(tsVintages.contains(dt),
        s"$dir $table.$column: unhandled on-disk type $dt")
    }
  }

  test("embeddings vector dimension matches the engine's configured 64") {
    // the ANN/IVF/PQ family passes dim = 64 explicitly and FILTERS rows
    // to that size — a regenerated corpus at another dim would silently
    // empty the trained operators instead of failing; catch it here
    sfDirs.foreach { dir =>
      val dims = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(size(col("embedding")).as("d"))
        .distinct().collect().map(_.getInt(0)).toSet
      assert(dims == Set(64), s"$dir embeddings dim drifted: $dims")
    }
  }

  test("events() leaves session config untouched on modern-vintage data") {
    // the reader flips nanosAsLong ONLY when the parquet footer carries
    // TIMESTAMP(NANOS); a modern timestamp[us] table must not have its
    // session mutated as a read side-effect
    val tmp = Files.createTempDirectory("canary-modern").toString
    try {
      spark.range(3)
        .selectExpr("id AS event_id", "timestamp_micros(id * 1000000) AS ts",
          "id AS user_id", "'x' AS event_type", "0.0 AS value", "'' AS props")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val s2 = spark.newSession()
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val before = s2.conf.getOption(key)
      val df = EntryTables.events(s2, tmp)
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.count() == 3)
      assert(s2.conf.getOption(key) == before,
        s"events() mutated $key on modern-vintage data: " +
          s"$before -> ${s2.conf.getOption(key)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("a deliberate ts-type flip is caught by the canary, not dead queries") {
    val tmp = Files.createTempDirectory("canary").toString
    try {
      // a vintage nobody handles: ts as string
      spark.range(3)
        .selectExpr("id AS event_id", "CAST(id AS STRING) AS ts",
          "id AS user_id", "'x' AS event_type", "0.0 AS value",
          "'' AS props")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      val caught = intercept[Throwable] {
        checkEvents(tmp, EntryTables.events(spark, tmp))
      }
      assert(caught.getMessage.contains("events.ts"),
        s"canary failure must name the column, got: ${caught.getMessage}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
