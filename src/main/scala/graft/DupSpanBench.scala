package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measures the duplicated-span dup-decision formulations against each
  * other on the real documents corpus: the SHIPPED form (min/max
  * aggregate on the span key + semi-join back, probe side re-exploded
  * — skew-immune: a hot trigram key reduces map-side, and the explode
  * is map-only parallel work; `DupSpanSoak` documents why it is NOT
  * checkpointed) vs the keyed-window form it replaced in round 12
  * (`min(doc) != max(doc)` over the window key — one explode and one
  * exchange, but every instance of a hot key buffers on ONE window
  * task, unbounded in the hottest key's frequency) vs the round-8
  * count-distinct join form (same shape, heavier aggregate). All
  * three produce the identical duplicated-start relation (asserted
  * every run); the difference is plan shape. Results in BASELINE.md.
  *
  * Usage: `sbt 'runMain graft.DupSpanBench [sfDir]'` (default sf0.1).
  */
object DupSpanBench {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local()

    val n = 3
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the SHIPPED extraction + dup decision, by reference — the bench
    // measures the operator's actual code, not a copy that can drift
    def windows: DataFrame =
      graft.ext.Dedup.spanWindows(docs, "doc_id", "text", n)
    def shippedForm: DataFrame =
      graft.ext.Dedup.duplicatedStarts(windows, "doc_id")

    // replaced (round 12): keyed min/max window — one explode, but a
    // hot span key buffers every instance on one window task
    def windowForm: DataFrame = {
      val byKey = Window.partitionBy(col("__k"))
      windows
        .withColumn("__dup",
          min(col("doc_id")).over(byKey) =!= max(col("doc_id")).over(byKey))
        .filter(col("__dup"))
        .drop("__dup")
    }

    // the round-8 candidate: count-distinct aggregate + semi-join back
    // (the shipped form's shape with a heavier aggregate)
    def joinForm: DataFrame = {
      val dupKeys = windows.groupBy(col("__k"))
        .agg(countDistinct(col("doc_id")).as("__nd"))
        .filter(col("__nd") > 1).select(col("__k"))
      windows.join(dupKeys, Seq("__k"), "left_semi")
    }

    def run(df: => DataFrame): Double = {
      val times = (1 to 3).map { _ =>
        System.gc()
        time(df.write.format("noop").mode("overwrite").save())._2
      }.sorted
      times(1) // median
    }

    // identical result relation (cheap count + anti-join emptiness probe)
    val s0 = shippedForm.select("doc_id", "__i")
    val w = windowForm.select("doc_id", "__i")
    val j = joinForm.select("doc_id", "__i")
    assert(s0.count() == w.count() && s0.count() == j.count() &&
      s0.except(w).isEmpty && w.except(s0).isEmpty &&
      s0.except(j).isEmpty && j.except(s0).isEmpty,
      "formulations disagree")

    val ts = run(shippedForm)
    val tw = run(windowForm)
    val tj = run(joinForm)
    println(f"""{"sf":"$sfDir","shipped_agg_semijoin_sec":$ts%.3f,"window_sec":$tw%.3f,"countdistinct_join_sec":$tj%.3f}""")
    spark.stop()
  }
}
