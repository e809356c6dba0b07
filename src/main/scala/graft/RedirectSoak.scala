package graft

import org.apache.spark.sql.functions._

/** Scale soak for [[graft.ext.UrlOps.resolveRedirects]]: 10⁶ fetched
  * URLs with a realistic ~8% redirect share — single hops, 2-hop
  * chains, a planted HOT shared final (2% of the corpus redirecting
  * onto ONE landing URL — the consolidation-page regime; its fan-in
  * must die in map-side combines, never a hot task), and an A↔B loop
  * class. Asserts exact per-status counts and the hot final's
  * enqueue-once collapse, and prints wall times for the resolution
  * and the q168-shape final-URL aggregation.
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt 'runMain graft.RedirectSoak [nRows]'`
  */
object RedirectSoak {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = Sessions.local()

    def uof(x: org.apache.spark.sql.Column) = concat(
      lit("https://h"), (x % 50000).cast("string"),
      lit(".example.com/p/"), x.cast("string"))

    // classes by id%50: 0→1→2(200) two-hop chains; 2 is also a chain
    // TAIL target; 3 redirects to the ONE hot landing page; 4↔5 loop;
    // the rest answer 200. Redirect share = 5/50 = 10%.
    val c = col("id") % 50
    val responses = spark.range(n).select(
      uof(col("id")).as("url"),
      when(c.isin(0L, 1L, 3L, 4L, 5L), 301L).otherwise(200L)
        .as("status"),
      when(c === 0L, uof(col("id") + 1))
        .when(c === 1L, uof(col("id") + 1))
        .when(c === 3L, lit("https://hot.example.com/landing"))
        .when(c === 4L, uof(col("id") + 1))
        .when(c === 5L, uof(col("id") - 1))
        .otherwise(lit("")).as("location"))
      .localCheckpoint()

    val resolved = graft.ext.UrlOps.resolveRedirects(
      responses, "url", "status", "location", maxHops = 4)
    val (byStatus, tResolve) = time {
      resolved.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    println(f"[redirect-soak] resolveRedirects @ $n: $tResolve%.1f s " +
      s"byStatus=$byStatus")
    val nClass = n / 50 // ids per class (n a multiple of 50)
    // c=0 resolves in 2 hops, c=1 in 1 (its target c=2 is a 200),
    // c=3 in 1 (hot), c=4/c=5 loop — boundary ids (id+1 ≥ n) still
    // resolve, just dangling, so totals are exact
    assert(byStatus("resolved") == 3 * nClass,
      s"resolved=${byStatus.get("resolved")} want ${3 * nClass}")
    assert(byStatus("loop") == 2 * nClass,
      s"loop=${byStatus.get("loop")} want ${2 * nClass}")
    assert(!byStatus.contains("cap"), s"unexpected cap rows: $byStatus")

    // the q168 shape: finals grouped by target — the hot landing page
    // collapses 20k sources into ONE row via map-side combines
    val (hot, tAgg) = time {
      resolved.filter(col("status") === "resolved")
        .groupBy("final_url").count()
        .orderBy(desc("count")).limit(3).collect()
    }
    println(f"[redirect-soak] final-URL aggregation: $tAgg%.1f s")
    hot.foreach(r => println(s"[redirect-soak] top final: " +
      s"${r.getString(0)} <- ${r.getLong(1)} sources"))
    assert(hot.head.getString(0) == "https://hot.example.com/landing" &&
      hot.head.getLong(1) == nClass)
    println("[redirect-soak] PASS")
    spark.stop()
  }
}
