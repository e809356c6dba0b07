package graft

import graft.io.JdbcUpsert
import graft.model.{ColumnSpec, FkRef, TableConfig}
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeOlistDir(): String = {
    val dir = Files.createTempDirectory("graft_pipe").toFile
    Files.writeString(new java.io.File(dir, "olist_customers_dataset.csv").toPath,
      """customer_id,customer_city,customer_state
        |c1,sao paulo,SP
        |c2,rio,RJ
        |c2,rio,RJ
        |""".stripMargin) // duplicate PK row
    Files.writeString(new java.io.File(dir, "olist_orders_dataset.csv").toPath,
      """order_id,customer_id,order_purchase_timestamp
        |o1,c1,2020-01-01 10:00:00
        |o2,c9,2020-01-02 11:00:00
        |o3,,2020-01-03 12:00:00
        |""".stripMargin) // c9 dangling FK; null FK kept
    Files.writeString(new java.io.File(dir, "olist_geolocation_dataset.csv").toPath,
      """geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state
        |1001,-23.5,-46.6,sao paulo,SP
        |2002,-22.9,-43.2,rio,RJ
        |""".stripMargin)
    dir.getAbsolutePath
  }

  private val configs = Seq(
    TableConfig("customers", Seq(
      ColumnSpec("customer_id", StringType, primaryKey = true),
      ColumnSpec("customer_city", StringType),
      ColumnSpec("customer_state", StringType))),
    TableConfig("orders", Seq(
      ColumnSpec("order_id", StringType, primaryKey = true),
      ColumnSpec("customer_id", StringType),
      ColumnSpec("order_purchase_timestamp", TimestampType)),
      Seq(FkRef("customer_id", "customers", "customer_id"))))

  test("full pipeline: ingest, geo split, rules, FK-ordered initial merge") {
    val res = Pipeline.run(spark, writeOlistDir(), configs,
      now = lit("2021-01-01 00:00:00").cast("timestamp"))

    // geolocation replaced by 3NF tables
    assert(res.cleaned.keySet ==
      Set("customers", "orders", "geo_city_state", "geo_zip", "geo_coordinates"))
    // dup customer dropped
    assert(res.cleaned("customers").count() == 2)
    // dangling-FK order dropped, null-FK order kept
    assert(res.cleaned("orders").select("order_id").as[String].collect().sorted
      .toSeq == Seq("o1", "o3"))
    // violations: 1 dup PK + 1 dangling FK + 1 null FK + null census rows
    val byRule = res.violations.groupBy("rule").count()
      .as[(String, Long)].collect().toMap
    assert(byRule("primary_key") == 1)
    assert(byRule("foreign_key") == 2)
    // initial merge stamps bookkeeping
    val st = res.postStates("orders")
    assert(st.columns.contains("is_deleted") && st.columns.contains("updated_at"))
    assert(st.filter(col("is_deleted")).count() == 0)
  }

  test("incremental run: merge against previous post-state is idempotent") {
    val dir = writeOlistDir()
    val now1 = lit("2021-01-01 00:00:00").cast("timestamp")
    val r1 = Pipeline.run(spark, dir, configs, now = now1)
    val state1 = r1.postStates.map { case (k, v) => k -> v.cache() }
    val r2 = Pipeline.run(spark, dir, configs, existing = state1,
      now = lit("2021-02-01 00:00:00").cast("timestamp"))
    // same input re-applied: no row changes, no history
    assert(rowsOf(r2.postStates("customers").orderBy("customer_id")) ==
      rowsOf(state1("customers").orderBy("customer_id")))
    assert(r2.history.get("customers").forall(_.count() == 0))
  }

  test("mergeAll's default now stamps post-state and history alike") {
    val cfg = TableConfig("sellers", Seq(
      ColumnSpec("seller_id", StringType, primaryKey = true),
      ColumnSpec("seller_city", StringType)))
    val existing = Seq(("s1", "rio", false), ("s2", "sp", false))
      .toDF("seller_id", "seller_city", "is_deleted")
      .withColumn("updated_at", lit("2020-01-01 00:00:00").cast("timestamp"))
    val incoming = Seq(("s1", "recife")).toDF("seller_id", "seller_city")
    val (post, hist) = Pipeline.mergeAll(Map("sellers" -> incoming),
      Map("sellers" -> existing), Seq(cfg))
    // two separate actions, as two sinks would run them
    val updatedAt = post("sellers").select("seller_id", "updated_at")
      .as[(String, java.sql.Timestamp)].collect().toMap
    val validTo = hist("sellers").select("seller_id", "valid_to")
      .as[(String, java.sql.Timestamp)].collect().toMap
    assert(validTo.keySet == Set("s1", "s2"))
    assert(validTo == updatedAt)
  }

  test("an arrival folder without CSV files yields empty outputs") {
    val dir = Files.createTempDirectory("graft_empty").toString
    val res = Pipeline.run(spark, dir, configs)
    assert(res.cleaned.isEmpty && res.postStates.isEmpty)
    assert(res.violations.columns.toSeq == graft.rules.Violations.columns)
    assert(res.violations.isEmpty)
  }

  test("standard fold plan: one Window per report branch, none once pinned") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val dir = Files.createTempDirectory("graft_fold_plan").toString
    Seq((1L, "a", Some(10L)), (1L, "b", Some(11L)), (2L, "c", Some(99L)),
      (3L, "d", None)).toDF("id", "name", "ref").write.parquet(s"$dir/t")
    Seq(10L, 11L).toDF("pid").write.parquet(s"$dir/parent")
    val registry = Map("t" -> spark.read.parquet(s"$dir/t"),
      "parent" -> spark.read.parquet(s"$dir/parent"))
    val cfg = TableConfig("t",
      Seq(ColumnSpec("id", LongType, primaryKey = true),
        ColumnSpec("name", StringType), ColumnSpec("ref", LongType)),
      Seq(FkRef("ref", "parent", "pid")))
    def nodes(df: DataFrame)(p: LogicalPlan => Boolean): Int =
      df.queryExecution.optimizedPlan.collect { case n if p(n) => n }.size

    // lazy: the row-verdict branch and the census branch each hold the
    // fold's one PK window
    val lazyViolations = graft.rules.Rules.applyAll(registry("t"), cfg,
      registry).violations
    assert(nodes(lazyViolations)(_.isInstanceOf[Window]) <= 2,
      lazyViolations.queryExecution.optimizedPlan.toString)

    // pinned: both outputs read the checkpointed relation only
    val (cleaned, violations) = Pipeline.applyRules(registry, Seq(cfg))
    for (df <- Seq(cleaned("t"), violations)) {
      val plan = df.queryExecution.optimizedPlan
      assert(nodes(df)(n => n.isInstanceOf[Window] || n.isInstanceOf[Join] ||
        n.isInstanceOf[LogicalRelation]) == 0, plan.toString)
    }
    assertSameRows(cleaned("t"), Seq(Seq(1L, "a", 10L), Seq(3L, "d", null)))
    assert(violations.count() == 4) // duplicate, dangling, null FK, census
  }

  test("applyRules then writeViolations: the report is one job") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = Files.createTempDirectory("graft_report_jobs").toString
    Seq((1L, "a", Some(10L)), (1L, "b", Some(11L)), (2L, "c", Some(99L)),
      (3L, "d", None)).toDF("id", "name", "ref").write.parquet(s"$dir/t")
    Seq(10L, 11L).toDF("pid").write.parquet(s"$dir/parent")
    val registry = Map("t" -> spark.read.parquet(s"$dir/t"),
      "parent" -> spark.read.parquet(s"$dir/parent"))
    val cfg = TableConfig("t",
      Seq(ColumnSpec("id", LongType, primaryKey = true),
        ColumnSpec("name", StringType), ColumnSpec("ref", LongType)),
      Seq(FkRef("ref", "parent", "pid")))
    val (_, violations) = Pipeline.applyRules(registry, Seq(cfg))
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      graft.io.ReportSink.writeViolations(violations, s"$dir/report")
      org.apache.spark.GraftListenerBus.drain(sc)
      assert(jobs.get == 1)
    } finally sc.removeSparkListener(listener)
    val byRule = graft.io.ReportSink.readViolations(spark, s"$dir/report")
      .groupBy("rule").count().as[(String, Long)].collect().toMap
    assert(byRule == Map("primary_key" -> 1L, "foreign_key" -> 2L,
      "null_census" -> 1L))
  }

  test("an arrival with a non-numeric o_totalprice is reported under " +
    "column_types through ingest and applyRules") {
    // the arrival CSV's types are inferred, not declared: reading it with
    // the TableConfig schema would turn the bad price into a silent null
    val dir = Files.createTempDirectory("graft_arrival_types").toFile
    Files.writeString(new java.io.File(dir, "orders.csv").toPath,
      """o_orderkey,o_custkey,o_totalprice
        |1,10,100.5
        |2,10,n/a
        |""".stripMargin)
    val cfg = TableConfig("orders", Seq(
      ColumnSpec("o_orderkey", LongType, primaryKey = true),
      ColumnSpec("o_custkey", LongType),
      ColumnSpec("o_totalprice", DoubleType)))
    val (cleaned, violations) = Pipeline.applyRules(
      Pipeline.ingest(spark, dir.getAbsolutePath), Seq(cfg))
    assertSameRows(violations.filter(col("rule") === "column_types")
      .select("column", "detail"),
      Seq(Seq("o_totalprice", "type mismatch: declared DOUBLE, actual STRING")))
    assert(cleaned("orders").count() == 2)
  }

  test("jdbc SQL generation: update, tombstone, merge") {
    assert(JdbcUpsert.updateSql("t", Seq("a", "b"), Seq("id")) ==
      "UPDATE t SET a = ?, b = ? WHERE id = ?")
    assert(JdbcUpsert.tombstoneSql("t", Seq("id1", "id2")) ==
      "UPDATE t SET is_deleted = ?, updated_at = ? WHERE id1 = ? AND id2 = ?")
    val m = JdbcUpsert.mergeSql("t", "stg", Seq("id", "a"), Seq("id"))
    assert(m.contains("MERGE INTO t t USING stg s ON t.id = s.id"))
    assert(m.contains("UPDATE SET t.a = s.a"))
    assert(m.contains("INSERT (id, a) VALUES (s.id, s.a)"))
  }
}
