package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The benchmark's in-process runner. `run.py` generates the inputs,
  * starts this once per run, and turns what it writes into metrics.
  *
  * Usage: `perfbench.Main --workload W --work DIR --seed N --seconds S
  * --trace 0|1 --cpus N --out FILE`
  *
  * Every workload does the same four things: start the session, set up
  * its state once, cold (timed), run its operations in a closed loop for `seconds`
  * (each operation timed), then check its answers outside the timed
  * windows. With `--trace 1` a [[Meter]] listens to the engine and the
  * spans recorded around each call into the program are turned into
  * per-layer counters.
  */
object Main {

  /** One timed operation: a catalog query, a CDC cycle or a request. */
  final case class Op(kind: String, seconds: Double)

  /** What a workload hands back to [[main]]. */
  final class Result {
    var setupS = 0.0
    val ops = mutable.ArrayBuffer[Op]()
    var windowS = 0.0
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
    val observed = mutable.LinkedHashMap[String, Any]()
    val layers = mutable.LinkedHashMap[String, Double]()
    /** How many operations make one unit of the engine counters. */
    var unitOps = 1.0
    /** Wall seconds of each phase of the run, in order. */
    val phases = mutable.LinkedHashMap[String, Double]()
    private var last = System.nanoTime()

    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - last) / 1e9
      last = now
    }

    def fail(what: String, e: Throwable): Unit = synchronized {
      failed += 1
      if (errors.size < 20) errors += s"$what: $e"
      System.err.println(s"[perfbench] $what failed: $e")
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus")

    val t0 = System.nanoTime()
    implicit val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      // the configuration Bench and Verify run under
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val meter = if (trace) Some(new Meter) else None
    meter.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(meter)

    val r = new Result
    r.phase("session")
    workload match {
      case "catalog_mix" => Catalog.run(work, seconds, a("seed").toLong, tracer, r)
      case "cdc_loop" => Cdc.run(work, seconds, tracer, r)
      case "serve_mix" => Serve.run(work, seconds, tracer, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    r.phase("checks")
    meter.foreach { m =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      tracer.spans.find(_.name == "window").foreach { w =>
        val c = m.attribute(w)
        def per(k: String) = c(k) / r.unitOps
        r.layers ++= Seq(
          "spark.jobs" -> per("jobs"), "spark.stages" -> per("stages"),
          "spark.tasks" -> per("tasks"), "spark.task_s" -> per("task_s"),
          "spark.stage_wall_s" -> per("stage_wall_s"),
          "exchange.shuffle_write_bytes" -> per("shuffle_write_bytes"),
          "exchange.shuffle_read_bytes" -> per("shuffle_read_bytes"),
          "exchange.spill_bytes" -> per("spill_bytes"),
          "scan.input_bytes" -> per("input_bytes"),
          "materialize.block_bytes" -> per("block_bytes"),
          "artifact.output_bytes" -> per("output_bytes"))
      }
      workload match {
        case "catalog_mix" => Catalog.layers(tracer, m, r)
        case "cdc_loop" => Cdc.layers(tracer, m, r)
        case "serve_mix" => Serve.layers(tracer, m, r)
      }
      r.layers("trace.overhead_frac") = tracer.windowBusyS / r.windowS
    }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "session_start_s" -> sessionS,
      "setup_s" -> r.setupS,
      "ops" -> r.ops.map(o => Map("kind" -> o.kind, "seconds" -> o.seconds)),
      "window_s" -> r.windowS,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "errors" -> r.errors,
      "observed" -> r.observed,
      "layers" -> r.layers,
      "peak_rss_mb" -> peakRssMb(),
      "phases" -> r.phases,
      "conf" -> Seq("spark.master", "spark.sql.shuffle.partitions",
          "spark.sql.session.timeZone", "spark.sql.adaptive.enabled",
          "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
        .map(k => k -> spark.conf.get(k)).toMap)
    if (trace) out("spans") = tracer.spans.map(s => Map(
      "name" -> s.name, "group" -> s.group, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds))
    Files.write(Paths.get(a("out")),
      Json.render(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Timestamps surface as NTZ so written parquet reads back naive, the
    * way the DuckDB oracle sees them (as `graft.Verify` does). */
  def ntz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    df.select(df.schema.fields.map { f =>
      if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
      else col(f.name)
    }.toSeq: _*)
  }
}
