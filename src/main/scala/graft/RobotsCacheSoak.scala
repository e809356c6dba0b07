package graft

import graft.ext.{IndexAudit, RobotsCache}
import org.apache.spark.sql.functions._

/** Scale soak for the PERSISTED robots cache: 10⁶ hosts bootstrapped
  * into the fetch-log + per-fetch-rules pair, a 10⁴-host refetch slice
  * appended, then the latest-wins read, the TTL gate over a 10⁴-host
  * budget, and the fsck — the maintenance cycle a long-running crawl
  * pays every politeness window, at Common-Crawl host counts.
  *
  * ASSERTED, not narrated:
  *   - latest-wins: after the refetch append, every refetched host
  *     serves EXACTLY its new rule (prefix `/v2-`), none of the 10⁶−10⁴
  *     untouched hosts changed, and the live rule count is exactly
  *     nHosts (one applicable rule per host by construction);
  *   - TTL gate: the budget's stale set flips to proceed for precisely
  *     the refetched hosts (their new fetch is fresh), stays
  *     refetch_robots_first for the stale unrefetched ones;
  *   - fsck: all three `auditRobotsCache` checks green at 10⁶;
  *   - wall times per leg (BASELINE.md records them).
  *
  * Usage: `sbt 'runMain graft.RobotsCacheSoak [nHosts] [nRefetch]'`
  * (defaults 1000000, 10000).
  */
object RobotsCacheSoak {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val nHosts = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nRefetch = args.lift(1).map(_.toLong).getOrElse(10000L)
    require(nRefetch * 4 <= nHosts,
      "need 4*nRefetch <= nHosts (the gate budget probes an " +
        "unrefetched even slice of equal size)")
    val spark = Sessions.local()
    import spark.implicits._

    val asOf = 1770681600000000L // 2026-02-10 00:00:00 UTC
    val H = 3600000000L
    val loc = java.nio.file.Files
      .createTempDirectory("graft_rcsoak").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_rcsoakdb " +
      s"LOCATION '$loc'")
    val table = "graft_rcsoakdb.cache"

    val host = concat(lit("h"), col("id").cast("string"),
      lit(".example.com"))
    val bootstrap = spark.range(0, nHosts, 1, 32)
      .select(host.as("host"),
        // even ids: fetched 30 h ago (stale); odd ids: 3 h ago (fresh)
        (lit(asOf) - when(col("id") % 2 === 0, 30L * H)
          .otherwise(3L * H)).as("fetched_at_micros"),
        concat(lit("User-agent: *\nDisallow: /v1-"),
          col("id").cast("string")).as("robots_body"))
    val (_, tBoot) = time {
      RobotsCache.rebuild(bootstrap, "host", "fetched_at_micros",
        "robots_body", table, nBuckets = 32)
    }
    println(f"[rc-soak] bootstrap @ $nHosts: $tBoot%.1f s")

    // the refetch slice: the first nRefetch EVEN (stale) ids answer
    // with a NEW exclusion and a fresh timestamp
    val refetch = spark.range(0, nRefetch * 2, 2, 32)
      .select(host.as("host"),
        lit(asOf - 1L * H).as("fetched_at_micros"),
        concat(lit("User-agent: *\nDisallow: /v2-"),
          col("id").cast("string")).as("robots_body"))
    val (_, tRef) = time {
      RobotsCache.refresh(refetch, "host", "fetched_at_micros",
        "robots_body", table)
    }
    println(f"[rc-soak] refetch append @ $nRefetch: $tRef%.1f s")

    // latest-wins read: exactly one applicable rule per host; the
    // refetched hosts serve v2, everyone else their v1
    val (liveAgg, tLive) = time {
      val live = RobotsCache.latestRules(spark, table)
      live.agg(count(lit(1)),
        sum(when(col("path_prefix").startsWith("/v2-"), 1L)
          .otherwise(0L)),
        sum(when(col("path_prefix").startsWith("/v1-"), 1L)
          .otherwise(0L))).head
    }
    println(f"[rc-soak] latest-wins read: $tLive%.1f s " +
      s"rules=${liveAgg.getLong(0)} v2=${liveAgg.getLong(1)} " +
      s"v1=${liveAgg.getLong(2)}")
    assert(liveAgg.getLong(0) == nHosts,
      s"live rule count ${liveAgg.getLong(0)} != $nHosts")
    assert(liveAgg.getLong(1) == nRefetch,
      s"v2 rules ${liveAgg.getLong(1)} != $nRefetch")
    assert(liveAgg.getLong(2) == nHosts - nRefetch)

    // TTL gate over a 2·nRefetch-host budget: the refetched evens and
    // an equal count of UNREFETCHED evens — the former proceed, the
    // latter stay gated
    val budget = spark.range(0, nRefetch * 4, 2, 32)
      .select(host.as("link_host"), lit(1L).as("n_budgeted"))
    val (gateAgg, tGate) = time {
      RobotsCache.ttlGate(spark, budget, "link_host", table, asOf)
        .agg(sum(when(col("action") === "proceed", 1L).otherwise(0L)),
          sum(when(col("action") === "refetch_robots_first", 1L)
            .otherwise(0L))).head
    }
    println(f"[rc-soak] ttl gate @ ${nRefetch * 2} budgeted hosts: " +
      f"$tGate%.1f s proceed=${gateAgg.getLong(0)} " +
      s"gated=${gateAgg.getLong(1)}")
    assert(gateAgg.getLong(0) == nRefetch &&
      gateAgg.getLong(1) == nRefetch,
      s"gate split ${gateAgg.getLong(0)}/${gateAgg.getLong(1)} != " +
        s"$nRefetch/$nRefetch")

    val (bad, tFsck) = time {
      IndexAudit.auditRobotsCache(spark, table)
        .filter(!col("ok")).count()
    }
    println(f"[rc-soak] fsck: $tFsck%.1f s failures=$bad")
    assert(bad == 0, s"fsck failures: $bad")

    // COMPACTION at host scale: a third fetch generation for the
    // refetched slice (so those hosts exceed policyDelta's two-fetch
    // window), then the staged keep-last-2 rewrite. Assert the delta
    // census is bit-identical across the rewrite (compaction keeps
    // exactly the window the delta reads), the live rules are
    // unchanged, the log truncates to ≤2 fetches per host, and no
    // stage table survives.
    RobotsCache.refresh(
      spark.range(0, nRefetch * 2, 2, 32)
        .select(host.as("host"), lit(asOf).as("fetched_at_micros"),
          concat(lit("User-agent: *\nDisallow: /v3-"),
            col("id").cast("string")).as("robots_body")),
      "host", "fetched_at_micros", "robots_body", table)
    def deltaCensus() = RobotsCache.policyDelta(spark, table)
      .agg(count(lit(1)), sum(col("n_added")), sum(col("n_removed")),
        sum(col("n_tightened"))).head
    def liveCensus() = RobotsCache.latestRules(spark, table)
      .agg(count(lit(1)),
        sum(when(col("path_prefix").startsWith("/v3-"), 1L)
          .otherwise(0L))).head
    val (dBefore, lBefore) = (deltaCensus(), liveCensus())
    val (_, tCompact) = time {
      RobotsCache.compact(spark, table)
    }
    println(f"[rc-soak] staged compaction @ ${nHosts + 2 * nRefetch} " +
      f"fetch rows: $tCompact%.1f s")
    assert(deltaCensus() == dBefore,
      s"policyDelta changed across compaction: $dBefore -> ${deltaCensus()}")
    assert(liveCensus() == lBefore,
      s"live rules changed across compaction: $lBefore -> ${liveCensus()}")
    // every thrice-fetched host truncated to the delta window
    val fetchRows = spark.table(s"${table}_fetches").count()
    assert(fetchRows == nHosts + nRefetch,
      s"fetch log $fetchRows != ${nHosts + nRefetch} after keep-2")
    assert(!spark.catalog.tableExists(s"${table}__compact") &&
      !spark.catalog.tableExists(s"${table}_fetches__compact"),
      "stage table left behind")
    println("[rc-soak] PASS")
    spark.stop()
  }
}
