package graft

import graft.ext.{Graph, IndexAudit}
import org.apache.spark.sql.functions._

/** Scale soak for the PERSISTED host-link relation + authority
  * maintenance cycle (round 16's incremental-discovery legs): a
  * 5·10⁶-edge link store over 10⁶ hosts bootstrapped and the PageRank
  * artifact trained from it (nano units — micro's teleport base
  * underflows past ~1.5·10⁵ nodes), then the cycle a long-running
  * crawl pays per politeness window: a 10⁴-edge discovery batch
  * appended ([[graft.ext.Graph.appendHostLinks]] — half genuinely new
  * links to 16 previously-unseen hub hosts, half replayed known
  * pairs), the drift check over the updated endpoint universe, and
  * the drift-driven [[graft.ext.Graph.rebuildPageRank]].
  *
  * ASSERTED, not narrated:
  *   - append Δ: the store grows by EXACTLY the new-pair count (the
  *     replayed half lands nothing), and a full replay of the same
  *     batch is a no-op — the retried-cycle contract at 5·10⁶ rows;
  *   - drift: [[graft.ext.IndexAudit.driftPageRank]] reports EXACTLY
  *     the 16 new hub hosts uncovered, none of the 10⁶ covered ones;
  *   - rebuild: drift clean after, `auditPageRank` all green (node
  *     count, id uniqueness, conserved mass), meta node universe =
  *     10⁶ + 16, and the hubs hold propagated in-link mass > base;
  *   - wall times per leg (BASELINE.md records them).
  *
  * Usage: `sbt 'runMain graft.LinkStoreSoak [nHosts] [deg] [nAppend]'`
  * (defaults 1000000, 5, 10000).
  */
object LinkStoreSoak {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val nHosts = args.headOption.map(_.toLong).getOrElse(1000000L)
    val deg = args.lift(1).map(_.toLong).getOrElse(5L)
    val nAppend = args.lift(2).map(_.toLong).getOrElse(10000L)
    val nHubs = 16L
    require(deg + 1 < nHosts && nAppend * 2 < nHosts,
      s"bad sizes: $nHosts/$deg/$nAppend")
    val spark = Sessions.local()

    val loc = java.nio.file.Files
      .createTempDirectory("graft_lssoak").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_lssoakdb " +
      s"LOCATION '$loc'")
    val lt = "graft_lssoakdb.links"
    val pt = "graft_lssoakdb.pr"

    def h(c: org.apache.spark.sql.Column) =
      concat(lit("h"), c.cast("string"), lit(".example.com"))
    val nEdges = nHosts * deg
    // per source s the dsts are s+1 .. s+deg (mod n): distinct pairs,
    // no self-loops, every host both source and sink
    val bootstrap = spark.range(0, nEdges, 1, 32)
      .select(h(col("id") % nHosts).as("src"),
        h(expr(s"(id % $nHosts + id div $nHosts + 1) % $nHosts"))
          .as("dst"))
    val (_, tBoot) = time {
      Graph.writeHostLinks(bootstrap, "src", "dst", lt, nBuckets = 32)
    }
    val stored0 = spark.table(lt).count()
    assert(stored0 == nEdges, s"bootstrap store $stored0 != $nEdges")
    println(f"[ls-soak] bootstrap @ $nEdges edges: $tBoot%.1f s")

    val (_, tTrain) = time {
      val stored = Graph.loadHostLinks(spark, lt)
      val nodes = stored.select(col("src").as("host"))
        .union(stored.select(col("dst").as("host"))).distinct()
      Graph.writePageRank(
        Graph.pageRankMicro(nodes, stored, "host", "src", "dst",
          nNodes = nHosts, iters = 5, unit = 1000000000L),
        "host", pt, iters = 5, nNodes = nHosts,
        unit = 1000000000L, nBuckets = 32)
    }
    println(f"[ls-soak] PR train @ $nHosts nodes (nano, 5 iters): " +
      f"$tTrain%.1f s")

    // the discovery batch: nAppend NEW links (host i → hub i%16, all
    // 16 hubs previously unseen) + nAppend REPLAYED known pairs
    val fresh = spark.range(0, nAppend, 1, 8)
      .select(h(col("id")).as("src"),
        concat(lit("hub"), (col("id") % nHubs).cast("string"),
          lit(".example.net")).as("dst"))
    val replayed = spark.range(0, nAppend, 1, 8)
      .select(h(col("id")).as("src"), h((col("id") + 1) % nHosts).as("dst"))
    val batch = fresh.union(replayed)
    val (_, tApp) = time { Graph.appendHostLinks(batch, "src", "dst", lt) }
    val stored1 = spark.table(lt).count()
    assert(stored1 == nEdges + nAppend,
      s"append delta ${stored1 - nEdges} != $nAppend (replayed half " +
        "must land nothing)")
    println(f"[ls-soak] append @ ${nAppend * 2}-row batch " +
      f"($nAppend new): $tApp%.1f s")

    val (_, tReplay) = time { Graph.appendHostLinks(batch, "src", "dst", lt) }
    val stored2 = spark.table(lt).count()
    assert(stored2 == stored1, "full-batch replay must be a no-op")
    println(f"[ls-soak] replay append (no-op): $tReplay%.1f s")

    val storedAll = Graph.loadHostLinks(spark, lt)
    val nodesAll = storedAll.select(col("src").as("host"))
      .union(storedAll.select(col("dst").as("host"))).distinct()
      .localCheckpoint()
    val (drift, tDrift) = time {
      IndexAudit.driftPageRank(spark, pt, nodesAll, "host")
        .filter(!col("ok")).collect()
    }
    assert(drift.length == 1 && drift.head.getLong(2) == nHubs,
      s"drift must report exactly $nHubs uncovered hubs: " +
        drift.toSeq.toString)
    println(f"[ls-soak] drift check @ ${nHosts + nHubs} hosts: " +
      f"$tDrift%.1f s (observed ${drift.head.getLong(2)})")

    val (_, tRebuild) = time {
      Graph.rebuildPageRank(spark, pt, nodesAll, "host",
        storedAll, "src", "dst")
    }
    assert(IndexAudit.driftPageRank(spark, pt, nodesAll, "host")
      .filter(!col("ok")).count() == 0, "drift must clear post-rebuild")
    assert(IndexAudit.auditPageRank(spark, pt)
      .filter(!col("ok")).count() == 0, "fsck must be green post-rebuild")
    val meta = spark.table(s"${pt}_meta").head
    assert(meta.getLong(meta.fieldIndex("n_nodes")) == nHosts + nHubs,
      "meta universe must be the union")
    // every hub carries propagated in-link mass above the teleport
    // base (nAppend/nHubs in-links each)
    val base = (15L * 1000000000L / 100L) / (nHosts + nHubs)
    val weakHubs = Graph.loadPageRank(spark, pt)
      .filter(col("host").startsWith("hub") &&
        col("pr_micro") <= lit(base))
      .count()
    assert(weakHubs == 0, s"$weakHubs hubs hold no propagated mass")
    println(f"[ls-soak] drift-driven rebuild @ ${nHosts + nHubs} " +
      f"nodes: $tRebuild%.1f s — drift clean, fsck green, hubs ranked")
    spark.stop()
  }
}
