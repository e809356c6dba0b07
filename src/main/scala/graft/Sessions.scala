package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is configured. Every main, dev tool and
  * the test suite gets its session here, so the configuration the specs
  * pass under is the one `Bench` times and `Verify` checks.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session (or the JVM's existing one) with the graft
    * functions and optimizer rule registered on it. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE coalesce the output partitioning of cached plans too
      // (off by default only for compatibility): the trainer family
      // caches its feature relations, and without this every gradient
      // step fans 32 near-empty cached partitions into 32 tasks
      // (q139 measured 269 tasks / 61 task-seconds → 21 / 3 with it).
      // Scale-neutral: on real data AQE targets its advisory size.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftFunctions.register(spark)
    spark
  }
}
