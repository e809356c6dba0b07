package perfbench

import graft.io.ReportSink
import graft.model.{ColumnSpec, FkRef, TableConfig}
import graft.pipeline.Pipeline
import graft.streaming.MicroBatchMerge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `cdc_loop`: the reference's loop (`etl2.py` `process()`), run back to
  * back as a closed loop. Each cycle ingests one CSV arrival folder of
  * `orders`, folds the standard rules over it and the full `customer`
  * table, merges the cleaned batch into parquet state plus SCD2 history,
  * and appends the violations report.
  */
object Cdc {
  import Main._

  val Configs: Seq[TableConfig] = Seq(
    TableConfig("customer", Seq(
      ColumnSpec("c_custkey", LongType, primaryKey = true),
      ColumnSpec("c_name", StringType), ColumnSpec("c_nationkey", IntegerType),
      ColumnSpec("c_acctbal", DoubleType), ColumnSpec("c_mktsegment", StringType))),
    TableConfig("orders", Seq(
      ColumnSpec("o_orderkey", LongType, primaryKey = true),
      ColumnSpec("o_custkey", LongType), ColumnSpec("o_orderstatus", StringType),
      ColumnSpec("o_totalprice", DoubleType),
      ColumnSpec("o_orderdate", TimestampType),
      ColumnSpec("o_orderpriority", StringType)),
      Seq(FkRef("o_custkey", "customer", "c_custkey"))))
  val Pk = Seq("o_orderkey")
  /** Untimed cycles before the window; they also fix the `dq.*` counts. */
  val WarmCycles = 2
  /** Timed cycles a window runs at least. */
  val MinCycles = 2

  def run(work: String, seconds: Double, tracer: Tracer, r: Result)
         (implicit spark: SparkSession): Unit = {
    val snapshots = new java.io.File(s"$work/cdc").list()
      .count(_.startsWith("cycle_"))
    val customer = () => spark.read.parquet(s"$work/data/customer.parquet")
    def rules(dir: String): (DataFrame, DataFrame) = {
      val registry = tracer.span("ingest", "cdc:ingest") {
        Pipeline.ingest(spark, dir)
      } + ("customer" -> customer())
      val (cleaned, violations) = tracer.span("rules", "cdc:rules") {
        Pipeline.applyRules(registry, Configs)
      }
      (cleaned("orders"), violations)
    }

    // set-up: load the base snapshot into fresh state
    val state = s"$work/cdc_state/orders"
    val history = s"$work/cdc_state/orders_history"
    val t0 = System.nanoTime()
    MicroBatchMerge.applyBatch(spark, rules(s"$work/cdc/base")._1, Pk, state,
      history)
    r.setupS = secondsSince(t0)
    tracer.spans.clear()
    r.phase("setup")
    val report = s"$work/cdc_state/report"

    def cycle(i: Int): Unit = {
      val dir = f"$work/cdc/cycle_$i%03d"
      val (cleaned, violations) = rules(dir)
      tracer.span("merge", "cdc:merge") {
        MicroBatchMerge.applyBatch(spark, cleaned, Pk, state, history)
      }
      tracer.span("report", "cdc:report") {
        ReportSink.writeViolations(violations, report)
      }
    }

    var done = 0
    def attempt(i: Int): Boolean = {
      r.attempted += 1
      val t0 = System.nanoTime()
      try {
        cycle(i)
        val s = secondsSince(t0)
        done = i
        if (i > WarmCycles) r.ops += Op("cycle", s)
        true
      } catch { case e: Throwable => r.fail(s"cycle $i", e); false }
    }

    var ok = (1 to WarmCycles).forall(attempt)
    r.phase("warm")
    if (tracer.meter.isDefined && ok) dqCounts(work, report, r)
    tracer.spans.clear()
    tracer.openWindow()
    val w0 = System.nanoTime()
    tracer.span("window") {
      var i = WarmCycles + 1
      while (ok && i <= snapshots &&
             (i <= WarmCycles + MinCycles || secondsSince(w0) < seconds)) {
        ok = attempt(i)
        i += 1
      }
    }
    r.windowS = secondsSince(w0)
    tracer.closeWindow()
    r.phase("window")
    r.unitOps = math.max(1, r.ops.size)

    // answers, outside the window: final state, history and report
    val st = spark.read.parquet(state)
    r.observed("cycles") = done
    r.observed("live") = st.filter(!col("is_deleted")).count()
    r.observed("tombstoned") = st.filter(col("is_deleted")).count()
    r.observed("history") = spark.read.parquet(history).count()
    r.observed("violations") = violationCounts(report)
    r.observed("state_bytes") = dirBytes(state)
  }

  def violationCounts(report: String)(implicit spark: SparkSession): Map[String, Long] =
    ReportSink.readViolations(spark, report).groupBy("rule").count()
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap

  /** Rows in, rows clean and per-rule violations over the warm-up cycles:
    * fixed for a seed, so they must repeat exactly. Counted with extra
    * jobs, outside every timed window, in the traced run only. */
  private def dqCounts(work: String, report: String, r: Result)
                      (implicit spark: SparkSession): Unit = {
    var in, clean = 0L
    (1 to WarmCycles).foreach { i =>
      val reg = Pipeline.ingest(spark, f"$work/cdc/cycle_$i%03d") +
        ("customer" -> spark.read.parquet(s"$work/data/customer.parquet"))
      in += reg("orders").count()
      clean += Pipeline.applyRules(reg, Configs)._1("orders").count()
    }
    r.layers("dq.rows_in") = in
    r.layers("dq.rows_clean") = clean
    val v = violationCounts(report)
    Seq("primary_key", "foreign_key", "column_types", "null_census", "emoji")
      .foreach(k => r.layers(s"dq.violations.$k") = v.getOrElse(k, 0L).toDouble)
    r.observed("dq_warm") = Map("rows_in" -> in, "rows_clean" -> clean,
      "violations" -> v)
  }

  def dirBytes(dir: String): Long = {
    import java.nio.file.{Files, Paths}
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def layers(tracer: Tracer, m: Meter, r: Result): Unit = {
    val spans = tracer.spans.toSeq
    val cycles = r.unitOps
    def of(name: String) = spans.filter(_.name == name)
    def sum(name: String, k: String) =
      of(name).map(s => m.attribute(s)(k)).sum / cycles
    r.layers("ingest.wall_s") = median(of("ingest").map(_.seconds))
    r.layers("ingest.jobs") = sum("ingest", "jobs")
    r.layers("rules.build_s") = median(of("rules").map(_.seconds))
    r.layers("merge.wall_s") = median(of("merge").map(_.seconds))
    r.layers("merge.jobs") = sum("merge", "jobs")
    r.layers("merge.task_s") = sum("merge", "task_s")
    r.layers("merge.shuffle_write_bytes") = sum("merge", "shuffle_write_bytes")
    r.layers("merge.output_bytes") = sum("merge", "output_bytes")
    r.layers("report.wall_s") = median(of("report").map(_.seconds))
    r.layers("report.jobs") = sum("report", "jobs")
    r.layers("report.task_s") = sum("report", "task_s")
    r.layers("state.rows") = (r.observed("live").asInstanceOf[Long] +
      r.observed("tombstoned").asInstanceOf[Long]).toDouble
    r.layers("state.bytes") = r.observed("state_bytes").asInstanceOf[Long].toDouble
    r.layers("history.rows") = r.observed("history").asInstanceOf[Long].toDouble
  }
}
