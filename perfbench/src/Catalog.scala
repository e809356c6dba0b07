package perfbench

import graft.SparkEntry
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** `catalog_mix`: the analyst's batch use. Four catalog queries from
  * four of the nine families, each written to the `noop` sink the way `graft.Bench`
  * times them. The seed sets the query order.
  */
object Catalog {
  import Main._

  val Queries: Seq[String] = Seq(
    "q03_join_revenue_nation", "q12_merge_post_state", "q42_pipeline_e2e",
    "q124_hybrid_rrf")
  /** Timed passes a window runs at least. */
  val MinPasses = 3
  /** Threads for the untimed pass that writes the answers. */
  val AnswerThreads = 4

  def run(work: String, seconds: Double, seed: Long, tracer: Tracer,
          r: Result)(implicit spark: SparkSession): Unit = {
    val dir = s"$work/data"
    val out = s"$work/out"
    Files.createDirectories(Paths.get(out))

    // set-up: one cold pass over every query, one at a time, into the
    // noop sink; it fills the per-JVM caches (codegen, JIT, artifact memos)
    val t0 = System.nanoTime()
    val cold = mutable.LinkedHashMap[String, Double]()
    Queries.foreach { q =>
      r.attempted += 1
      val q0 = System.nanoTime()
      try SparkEntry.queries(q)(spark.newSession(), dir).write
        .format("noop").mode("overwrite").save()
      catch { case e: Throwable => r.fail(s"$q (set-up pass)", e) }
      cold(q) = secondsSince(q0)
    }
    r.setupS = secondsSince(t0)
    r.observed("setup_query_s") = cold
    r.phase("setup")

    // answers for the oracle check (checks.py), untimed, so the queries
    // may overlap; one check per query, and a query that fails here
    // leaves no answer, which the check counts. It also warms the JIT
    // further before the window.
    r.attempted += Queries.size
    val pool = Executors.newFixedThreadPool(AnswerThreads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Queries.map { q => Future {
      try ntz(SparkEntry.queries(q)(spark.newSession(), dir))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $q (answer pass) failed: $e") }
    }}.foreach(Await.ready(_, Duration.Inf))
    finally pool.shutdown()
    Files.write(Paths.get(s"$out/oracle_sql.json"), Json.render(
      Queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, null)).toMap)
      .getBytes(StandardCharsets.UTF_8))
    r.phase("answers")

    // timed: whole passes in seeded order, at least MinPasses of them and
    // until `seconds` have elapsed
    val order = new scala.util.Random(seed).shuffle(Queries)
    tracer.openWindow()
    val w0 = System.nanoTime()
    var passes = 0
    tracer.span("window") {
      while (passes < MinPasses || secondsSince(w0) < seconds) {
        order.foreach { q =>
          val session = spark.newSession()
          System.gc()
          r.attempted += 1
          val q0 = System.nanoTime()
          try {
            val df = tracer.span(s"$q.build", parent = q) {
              SparkEntry.queries(q)(session, dir)
            }
            tracer.span(s"$q.exec", parent = q) {
              df.write.format("noop").mode("overwrite").save()
            }
            r.ops += Op(q, secondsSince(q0))
          } catch { case e: Throwable => r.fail(q, e) }
        }
        passes += 1
      }
    }
    r.windowS = secondsSince(w0)
    tracer.closeWindow()
    r.phase("window")
    r.unitOps = passes
    r.observed("passes") = passes
  }

  def layers(tracer: Tracer, m: Meter, r: Result): Unit = {
    val spans = tracer.spans.toSeq
    val passes = r.unitOps
    def total(suffix: String) =
      spans.filter(_.name.endsWith(suffix)).map(_.seconds).sum / passes
    r.layers("entry.build_s") = total(".build")
    r.layers("entry.exec_s") = total(".exec")
    r.layers("entry.eager_jobs") = spans.filter(_.name.endsWith(".build"))
      .map(s => m.attribute(s)("jobs")).sum / passes
    Queries.foreach { q =>
      r.layers(s"q.$q.wall_s") = median(r.ops.filter(_.kind == q).map(_.seconds))
      val mine = spans.filter(_.parent == q)
      r.layers(s"q.$q.task_s") = mine.map(s => m.attribute(s)("task_s")).sum /
        passes
    }
  }
}
