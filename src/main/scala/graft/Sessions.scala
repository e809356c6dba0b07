package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

/** The one place a `SparkSession` is configured. Every main, dev tool and
  * the test suite gets its session here, so the configuration the specs
  * pass under is the one `Bench` times and `Verify` checks.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val ArtifactIsolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key

  /** A `local[cpus]` session (or the JVM's existing one), adopted. Its
    * `newSession()`s inherit the artifact setting from the context. */
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
      .config(ArtifactIsolation, "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    adopt(spark)
  }

  /** Make `s` a graft session: its tasks run under the application's
    * class loader, and the graft functions and optimizer rule are
    * registered on it.
    *
    * With artifact isolation on (Spark's default) every session's jobs
    * carry the session's own artifact state, and the executor gives each
    * new session a class loader of its own. Generated code is cached by
    * (class loader, source), so a fresh session recompiles every class
    * its plans generate. Graft adds no session artifact (jar, file or
    * REPL class), so the isolation buys nothing here. The session reads
    * the setting once, at its first action: adopt a session before it
    * runs anything. Returns `s`.
    */
  def adopt(s: SparkSession): SparkSession = {
    s.conf.set(ArtifactIsolation, "false")
    graft.plans.GraftFunctions.register(s)
    s
  }
}
