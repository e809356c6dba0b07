package graft

import graft.ext.{Dedup, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale soak for the near-dup → connected-components family: runs the
  * q53 pipeline shape (prefix-blocked Jaccard edges → pointer-jumping
  * CC) on ~10^6 synthetic documents with a deliberately SKEWED prefix
  * distribution, recording wall time, CC rounds, edge counts, and
  * shuffle volume. Companion A/B measures the `maxBlockSize` cap's
  * effect on a boilerplate-heavy corpus (the 100 TB failure mode the
  * cap exists for). Results go to BASELINE.md ("Graph/dedup soak").
  *
  * Usage: `sbt 'runMain graft.GraphDedupSoak [soakN] [abN] [reliable]'`
  * (defaults 1000000 / 300000; any third argument switches CC round
  * state from executor-memory localCheckpoint to RELIABLE checkpoint()
  * files — the 100 TB configuration — so its overhead is measurable).
  *
  * Corpus shape per doc id:
  *   - id % 200 == 0 → "boilerplate": one SHARED 39-char prefix, random
  *     tail (blocks quadratically, contributes no true edges — the
  *     license-header pathology);
  *   - id % 10 ∈ {2,3} → near-dup PAIR: both members derive text from
  *     the even id, the odd member mutates one tail token (same block,
  *     Jaccard ≈ 0.96 → a true edge);
  *   - id % 100 ∈ {40..43} → 4-doc CHAIN cluster sharing one block
  *     (multi-hop component, exercises pointer jumping);
  *   - else → unique random text (its own block, no edges).
  */
object GraphDedupSoak {

  def soakDocs(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).select(col("id").as("doc_id"))
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          val grp = id % 100
          val text =
            if (id % 200 == 0) {
              val rnd = new scala.util.Random(seed ^ id)
              "licensed under the apache license version two " +
                Array.fill(40)("w" + rnd.nextInt(5000)).mkString(" ")
            } else if (id % 10 == 2 || id % 10 == 3) {
              val base = id - (id % 10 - 2) // both members seed from the even id
              val rnd = new scala.util.Random(seed ^ base)
              val toks = Array.fill(50)("w" + rnd.nextInt(5000))
              if (id % 10 == 3) toks(49) = "mutated"
              toks.mkString(" ")
            } else if (grp >= 40 && grp <= 43) {
              val base = id - (grp - 40)
              val rnd = new scala.util.Random(seed ^ base)
              val toks = Array.fill(50)("w" + rnd.nextInt(5000))
              // chain: member k mutates tail token 49-k, so adjacent
              // members overlap more than distant ones
              val k = (grp - 40).toInt
              if (k > 0) toks(49 - k) = "chain" + k
              toks.mkString(" ")
            } else {
              val rnd = new scala.util.Random(seed ^ id)
              Array.fill(50)("w" + rnd.nextInt(5000)).mkString(" ")
            }
          (id, text)
        }
      }.toDF("doc_id", "text")
  }

  import BenchUtil.{ShuffleMeter, drain, time}

  def main(args: Array[String]): Unit = {
    val soakN = if (args.length > 0) args(0).toLong else 1000000L
    val abN = if (args.length > 1) args(1).toLong else 300000L
    val spark = Sessions.local()

    def edgesOf(docs: DataFrame, cap: Int): DataFrame =
      Dedup.prefixBlockedNearDupPairs(docs, "doc_id", "text",
        prefixLen = 32, shingleN = 3, minJaccard = 0.5,
        maxBlockSize = cap)

    // ---- full soak: capped edges + CC at soakN --------------------------
    val docs = soakDocs(spark, soakN, seed = 11L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    docs.count() // materialize outside timed sections

    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)

    val (edgeCount, edgeSec) = time {
      edgesOf(docs, cap = 1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
        .count()
    }
    drain(spark.sparkContext)
    val edgeShuffle = meter.writeBytes
    val cachedEdges = edgesOf(docs, cap = 1000) // same plan → cache hit

    val ckptDir =
      if (args.length > 2)
        Some(java.nio.file.Files.createTempDirectory("graft-soak-ckpt")
          .toString)
      else None
    val ((labels, rounds), ccSec) = time {
      val (lab, r) = Graph.connectedComponentsWithRounds(
        docs, "doc_id", cachedEdges, "id_a", "id_b",
        checkpointDir = ckptDir)
      lab.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      lab.count()
      (lab, r)
    }
    drain(spark.sparkContext)
    val totalShuffle = meter.writeBytes
    val nClusters = labels.select("component").distinct().count()
    val multi = labels.groupBy("component").count()
      .filter(col("count") > 1).count()
    println(f"soak,n=$soakN,ckpt=${if (ckptDir.isDefined) "reliable" else "local"}," +
      f"edges=$edgeCount,edge_sec=$edgeSec%.1f," +
      f"cc_rounds=$rounds,cc_sec=$ccSec%.1f," +
      f"edge_shuffle_mb=${edgeShuffle / 1e6}%.0f," +
      f"total_shuffle_mb=${totalShuffle / 1e6}%.0f," +
      s"components=$nClusters,multi_doc_components=$multi")
    labels.unpersist(); docs.unpersist()

    // ---- cap A/B: same corpus shape at abN, capped vs uncapped ----------
    val abDocs = soakDocs(spark, abN, seed = 11L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    abDocs.count()
    val (capped, cappedSec) = time { edgesOf(abDocs, cap = 1000).count() }
    val (uncapped, uncappedSec) =
      time { edgesOf(abDocs, cap = Int.MaxValue).count() }
    println(f"cap_ab,n=$abN,capped_edges=$capped,capped_sec=$cappedSec%.1f," +
      f"uncapped_edges=$uncapped,uncapped_sec=$uncappedSec%.1f," +
      f"speedup=${uncappedSec / cappedSec}%.1fx")
    abDocs.unpersist()

    // ---- PageRank at soakN nodes (q134 shape, NANO units — micro's
    // base term underflows past ~1e5 nodes, the documented scale
    // switch): 10 integer power iterations over a 3-out-link synthetic
    // graph — the other iterative-join family next to CC, measured at
    // the same scale. Exactness asserted, not narrated: floors only
    // LOSE mass, so the total must sit in (0, 1e9]; and the recurrence
    // is deterministic, so two runs must agree bit-for-bit on a
    // sampled node.
    val prNodes = spark.range(0, soakN).toDF("doc_id")
    val prEdges = prNodes.select(col("doc_id").as("src"),
        explode(array(
          (col("doc_id") * 7 + 1) % soakN,
          (col("doc_id") * 11 + 2) % soakN,
          (col("doc_id") * 13 + 3) % soakN)).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    prEdges.count()
    val nano = 1000000000L
    val (prStats, prSec) = time {
      Graph.pageRankMicro(prNodes, prEdges, "doc_id", "src", "dst",
          nNodes = soakN, iters = 10, unit = nano)
        .agg(count(lit(1)).as("n"), sum(col("pr_micro")).as("mass"),
          max(col("pr_micro")).as("mx"))
        .head()
    }
    assert(prStats.getLong(0) == soakN)
    val mass = prStats.getLong(1)
    assert(mass > 0 && mass <= nano,
      s"PageRank mass $mass outside (0, 1e9] — a floor gained mass?")
    def probeRun() = Graph.pageRankMicro(prNodes, prEdges, "doc_id",
        "src", "dst", nNodes = soakN, iters = 10, unit = nano)
      .filter(col("doc_id") === 12345L % soakN).head().getLong(1)
    val (probe, probe2) = (probeRun(), probeRun())
    assert(probe == probe2, s"PageRank nondeterministic: $probe vs $probe2")
    println(f"pagerank,n=$soakN,iters=10,pr_sec=$prSec%.1f," +
      s"mass_nano=$mass,max_nano=${prStats.getLong(2)}")
    prEdges.unpersist()
    spark.stop()
  }
}
