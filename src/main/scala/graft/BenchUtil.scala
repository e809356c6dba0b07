package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Shared helpers for the bench/soak mains (one timing convention,
  * one definition site — seven copies had accreted).
  */
private[graft] object BenchUtil {
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Blocks until the listener bus has delivered every queued event:
    * listener callbacks are asynchronous, so read a meter only after
    * draining. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.GraftListenerBus.drain(sc)

  /** Stage-level shuffle totals since construction (bytes written). */
  final class ShuffleMeter extends SparkListener {
    @volatile var writeBytes = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      writeBytes += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
  }

  /** The `SPARK_GRAFT_ONLY` dev-loop filter, shared by `Verify` and
    * `Bench` so the two mains can never drift: a comma-separated list
    * of query-name PREFIXES — `q75` selects exactly q75_kmeans,
    * `q13` selects the whole q130–q139 family, and a trailing `*`
    * (shell-glob habit, e.g. `q13*`) is tolerated and stripped.
    * Unset/blank selects everything; a filter matching NOTHING fails
    * loudly — a typo'd dev loop that silently verifies zero queries
    * would read as green.
    */
  def selectQueries[A](only: Option[String],
                       queries: Map[String, A]): Map[String, A] =
    only.map(_.split(",").map(_.trim.stripSuffix("*")).filter(_.nonEmpty))
        .filter(_.nonEmpty) match {
      case Some(prefixes) =>
        val selected = queries.filter { case (n, _) =>
          prefixes.exists(n.startsWith) }
        require(selected.nonEmpty,
          s"SPARK_GRAFT_ONLY matched no queries: ${prefixes.mkString(",")}")
        selected
      case None => queries
    }
}
