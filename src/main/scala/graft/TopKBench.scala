package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measures graft_top_k (bounded partial-combinable aggregate) against
  * the `row_number() OVER (...) <= k` window formulation it replaces, on
  * a synthetic scored fact table. Both produce the identical relation
  * (asserted every run); the difference is what crosses the shuffle —
  * ≤k candidates per (partition, group) for the aggregate vs every
  * scored row, fully sorted, for the window. Results recorded in
  * BASELINE.md ("Top-k-per-group crossover").
  *
  * Usage: `sbt 'runMain graft.TopKBench [rows...]'`
  * (default 2000000 8000000; 1000 groups, k=10).
  */
object TopKBench {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(2000000L, 8000000L)
    val spark = Sessions.local()
    import spark.implicits._

    val k = 10
    println("rows,groups,window_sec,agg_sec,speedup")
    // 1000 groups = the benign regime; 8 groups = the skewed one, where
    // the window funnels each group's full sort into one task while the
    // aggregate still combines map-side across all 32 partitions
    for (n <- sizes; groups <- Seq(1000, 8)) {
      // deterministic scored fact: group from id, score from a hash mix
      val df = spark.range(0, n, 1, 32)
        .select((col("id") % groups).as("g"), col("id"),
          (hash(col("id")) % 1000000).cast("double").as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      df.count()

      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
      val (winRows, winSec) = time {
        df.withColumn("r", row_number().over(w)).filter(col("r") <= k)
          .select("g", "r", "id", "v")
          .as[(Long, Int, Long, Double)].collect().toSet
      }
      val (aggRows, aggSec) = time {
        df.groupBy("g")
          .agg(call_function("graft_top_k", col("v"), col("id"), lit(k))
            .as("top"))
          .select(col("g"), posexplode(col("top")).as(Seq("pos", "s")))
          .select(col("g"), (col("pos") + 1).as("r"),
            col("s.payload").as("id"), col("s.ord").as("v"))
          .as[(Long, Int, Long, Double)].collect().toSet
      }
      require(winRows == aggRows,
        s"aggregate diverged from window at n=$n: " +
          s"${winRows.size} vs ${aggRows.size}")
      println(f"$n,$groups,$winSec%.2f,$aggSec%.2f,${winSec / aggSec}%.1fx")
      df.unpersist()
    }
    spark.stop()
  }
}
