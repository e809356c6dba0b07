package graft

import graft.ext.UrlOps
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** Scale soak for the robots/politeness broadcast-ceiling discipline:
  * a CRAWL-WIDE rule table of 10⁶ hosts × 10 rules (10⁷ rows — the
  * shape that breaks a whole-table broadcast at Common-Crawl host
  * counts) verdicted against a frontier batch touching only 10⁴ of
  * those hosts, plus the politeness schedule over a crawl-wide delay
  * table at the same scale.
  *
  * ASSERTED, not narrated:
  *   - the broadcast that materializes is the PRUNED table — the
  *     runtime `numOutputRows` metric of every rule/delay
  *     BroadcastExchange equals the batch hosts' rows (10⁵ / 10⁴),
  *     1000× below the full tables;
  *   - the shuffled-hash fallback (`broadcastRules = false`) produces
  *     bit-identical verdict aggregates at this scale;
  *   - wall times for both paths (BASELINE.md "Round-12 robots/
  *     politeness soak").
  *
  * AQE is disabled in this session so the executed plan is static and
  * the exchange metrics are read directly off the plan nodes; the
  * shipped operators run unmodified.
  *
  * Usage: `sbt 'runMain graft.RobotsScaleSoak [nHosts] [nBatchHosts]'`
  * (defaults 1000000, 10000).
  */
object RobotsScaleSoak {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val nHosts = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nBatchHosts = args.lift(1).map(_.toLong).getOrElse(10000L)
    require(nBatchHosts <= nHosts)
    val spark = Sessions.local()
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    // crawl-wide rule table: 10 rules per host, alternating allow, the
    // longer /pK/deep prefixes re-allowing under the /pK disallows;
    // every FIFTH rule is a §2.2.3 WILDCARD (`/pK*page$` — star +
    // anchor), so 20% of the pruned candidates pay the per-row regex
    // and the soak measures that cost at scale, not just at spec scale
    val rules = spark.range(nHosts * 10).select(
      concat(lit("h"), expr("id div 10"), lit(".example.com")).as("host"),
      concat(lit("/p"), (col("id") % 10).cast("string"),
        when(col("id") % 5 === 0, lit("*page$"))
          .when(col("id") % 3 === 0, lit("/deep")).otherwise(lit("")))
        .as("path_prefix"),
      (col("id") % 2 === 0).as("allow"))
    // crawl-wide delay table: one directive per host
    val delays = spark.range(nHosts).select(
      concat(lit("h"), col("id"), lit(".example.com")).as("host"),
      ((col("id") % 30) + 1).cast("string").as("crawl_delay_raw"),
      (((col("id") % 30) + 1) * 1000000L).as("crawl_delay_micros"))
    // the frontier batch: 5 URLs on each of the first nBatchHosts hosts
    val batch = spark.range(nBatchHosts * 5).select(
      col("id"),
      concat(lit("https://h"), expr(s"id div 5"), lit(".example.com/p"),
        (col("id") % 10).cast("string"), lit("/deep/page"))
        .as("url_canon"))

    def broadcastRows(df: org.apache.spark.sql.DataFrame,
        marker: String): Long =
      df.queryExecution.executedPlan.collect {
        case e: BroadcastExchangeExec
          if e.output.exists(_.name == marker) =>
          e.metrics("numOutputRows").value
      }.sum

    // --- verdict, broadcast path (the default) ----------------------
    // metrics are read off the EXECUTED aggregation's plan (a child
    // DataFrame's own queryExecution never runs)
    val vAgg = UrlOps.robotsVerdict(batch, "id", "url_canon", rules)
      .agg(sum(when(col("fetch_allowed"), 1L).otherwise(0L)),
        sum(col("rule_match_len")), count(lit(1)))
    val (vb, tVb) = time { vAgg.collect()(0) }
    val ruleRows = broadcastRows(vAgg, "__rr_prefix")
    println(f"[soak] verdict broadcast path: $tVb%.1f s, " +
      s"allowed=${vb.getLong(0)} lensum=${vb.getLong(1)} n=${vb.getLong(2)}" +
      s" broadcast_rows=$ruleRows (full table ${nHosts * 10})")
    require(ruleRows == nBatchHosts * 10,
      s"rule broadcast must be the PRUNED table " +
        s"(${nBatchHosts * 10} rows), saw $ruleRows")

    // --- verdict, shuffled-hash fallback ≡ broadcast -----------------
    val (vs, tVs) = time {
      UrlOps.robotsVerdict(batch, "id", "url_canon", rules,
          broadcastRules = false)
        .agg(sum(when(col("fetch_allowed"), 1L).otherwise(0L)),
          sum(col("rule_match_len")), count(lit(1))).collect()(0)
    }
    println(f"[soak] verdict shuffled-hash path: $tVs%.1f s")
    require(vs.getLong(0) == vb.getLong(0) && vs.getLong(1) == vb.getLong(1)
      && vs.getLong(2) == vb.getLong(2), "fallback verdicts diverge")

    // --- politeness schedule over the crawl-wide delay table ---------
    val frontier = batch
      .select(regexp_extract(col("url_canon"),
          "^[a-z]+://([^/]*)", 1).as("link_host"),
        ((col("id") % 5) + 1).as("rank"), col("url_canon"))
    val sAgg = UrlOps.politenessSchedule(frontier, "link_host", "rank",
        delays, defaultDelayMicros = 1000000L)
      .agg(sum(col("fetch_at_micros")), count(lit(1)))
    val (sb, tSb) = time { sAgg.collect()(0) }
    val delayRows = broadcastRows(sAgg, "__delay")
    println(f"[soak] schedule broadcast path: $tSb%.1f s, " +
      s"slot_sum=${sb.getLong(0)} n=${sb.getLong(1)}" +
      s" broadcast_rows=$delayRows (full table $nHosts)")
    require(delayRows == nBatchHosts,
      s"delay broadcast must be the PRUNED table ($nBatchHosts rows), " +
        s"saw $delayRows")
    val (ss, _) = time {
      UrlOps.politenessSchedule(frontier, "link_host", "rank", delays,
          defaultDelayMicros = 1000000L, broadcastDelays = false)
        .agg(sum(col("fetch_at_micros")), count(lit(1))).collect()(0)
    }
    require(ss.getLong(0) == sb.getLong(0) && ss.getLong(1) == sb.getLong(1),
      "fallback schedule diverges")
    println("[soak] PASS")
    spark.stop()
  }
}
