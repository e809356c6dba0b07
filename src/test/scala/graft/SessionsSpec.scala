package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.SQLConf

/** [[Sessions.adopt]]: the sessions graft builds or is handed run their
  * tasks under the application's class loader, so a fresh session reuses
  * the classes an earlier one compiled.
  */
class SessionsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val isolation = SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED

  test("Sessions.local turns artifact isolation off for its newSession()s") {
    assert(spark.conf.get(isolation.key) == "false")
    assert(spark.newSession().conf.get(isolation.key) == "false")
  }

  test("a catalog query run again in a fresh session compiles no class " +
    "and returns the same rows") {
    // a fresh session of a root session not built by Sessions.local: one
    // whose artifact isolation is at Spark's default (on)
    assert(isolation.defaultValue.contains(true))
    def fresh = {
      val s = spark.newSession()
      s.conf.set(isolation.key, isolation.defaultValueString)
      s
    }
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(): (Seq[String], Long) = {
      val c0 = compiled
      val rows = SparkEntry.queries("q03_join_revenue_nation")(fresh, dir)
        .collect().map(_.toString).toSeq
      (rows, compiled - c0)
    }
    val (first, _) = run()
    val (second, n) = run()
    assert(first.nonEmpty && second == first)
    assert(n == 0, s"the second fresh-session run compiled $n classes")
  }
}
