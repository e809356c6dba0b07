package graft

import graft.streaming.RevisitStream
import org.apache.spark.sql.functions._

/** Scale soak for the revisit loop's two storage disciplines at a
  * 10⁶-URL corpus with a 10⁴-URL revisit cycle — the measurement
  * behind the log-backed variant's existence:
  *
  *   - SWAP (`applyBatch`): the merge is one full-outer join but the
  *     state rewrite is CORPUS-sized every cycle;
  *   - LOG (`applyBatchLog`): latest-wins bucketed change log; the
  *     cycle appends exactly its own merged rows.
  *
  * ASSERTED, not narrated:
  *   - both end states agree row-for-row with each other AND with the
  *     one-shot `revisitMerge` over the same batch (exact census via
  *     except-both-ways);
  *   - the log grew by EXACTLY the batch's mergeable row count;
  *   - per-cycle wall time for each variant (BASELINE.md records the
  *     ratio — the swap pays the corpus rewrite, the log does not).
  *
  * Usage: `sbt 'runMain graft.RevisitScaleSoak [nCorpus] [nBatch]'`
  * (defaults 1000000, 10000).
  */
object RevisitScaleSoak {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val nCorpus = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nBatch = args.lift(1).map(_.toLong).getOrElse(10000L)
    require(nBatch * 2 <= nCorpus)
    val spark = Sessions.local()

    val url = concat(lit("https://h"), (col("id") % 50000).cast("string"),
      lit(".example.com/p/"), col("id").cast("string"))
    val corpus = spark.range(0, nCorpus, 1, 32)
      .select(url.as("url_canon"),
        concat(lit("body v1 of "), col("id").cast("string")).as("body"),
        lit("2026-01-01").as("first_fetched"),
        lit("2026-01-15").as("last_validated"),
        (col("id") % 5 =!= 0).as("is_active"))
    // the revisit cycle: the first nBatch ids — a 200 with a CHANGED
    // body on evens, a 304 on ids ≡ 1 (mod 4) (reactivating the %5
    // tombstones among them), a 404 on the rest
    val batch = spark.range(0, nBatch, 1, 32)
      .select(url.as("url_canon"),
        when(col("id") % 2 === 0, 200L)
          .when(col("id") % 4 === 1, 304L)
          .otherwise(404L).as("http_status"),
        when(col("id") % 2 === 0,
          concat(lit("body v2 of "), col("id").cast("string")))
          .as("http_body"))
      .localCheckpoint()

    val swapDir = java.nio.file.Files
      .createTempDirectory("graft_rvsoak").toString + "/state"
    val loc = java.nio.file.Files
      .createTempDirectory("graft_rvsoakdb").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_rvsoakdb " +
      s"LOCATION '$loc'")
    val logTable = "graft_rvsoakdb.corpus_log"

    val (_, tInitSwap) = time {
      RevisitStream.initState(corpus, swapDir)
    }
    val (_, tInitLog) = time {
      RevisitStream.initLog(corpus, "url_canon", "body", logTable,
        nBuckets = 32)
    }
    println(f"[revisit-soak] init @ $nCorpus: swap $tInitSwap%.1f s, " +
      f"log $tInitLog%.1f s")

    val logRows0 = spark.table(logTable).count()
    val (_, tSwap) = time {
      RevisitStream.applyBatch(spark, batch, "url_canon",
        "http_status", "http_body", "body", swapDir, lit("2026-02-10"))
    }
    val (_, tLog) = time {
      RevisitStream.applyBatchLog(spark, batch, "url_canon",
        "http_status", "http_body", "body", logTable, seq = 1L,
        lit("2026-02-10"))
    }
    println(f"[revisit-soak] cycle @ $nBatch revisits: " +
      f"swap $tSwap%.1f s (corpus-sized rewrite), " +
      f"log $tLog%.1f s (batch-sized append)")
    val grew = spark.table(logTable).count() - logRows0
    assert(grew == nBatch,
      s"log grew $grew != $nBatch (every batch row is mergeable here)")

    // exact three-way census: swap state ≡ log state ≡ one-shot merge
    val (diffs, tCmp) = time {
      val a = RevisitStream.state(spark, swapDir)
        .select("url_canon", "body", "first_fetched", "last_validated",
          "is_active")
      val b = RevisitStream.logState(spark, logTable, "url_canon", "body")
        .select("url_canon", "body", "first_fetched", "last_validated",
          "is_active")
      val c = graft.ext.UrlOps.revisitMerge(corpus, batch, "url_canon",
          "http_status", "http_body", "body", lit("2026-02-10"))
        .select("url_canon", "body", "first_fetched", "last_validated",
          "is_active")
      (a.except(b).count() + b.except(a).count(),
        b.except(c).count() + c.except(b).count())
    }
    println(f"[revisit-soak] exact three-way census: $tCmp%.1f s " +
      s"swap-vs-log=${diffs._1} log-vs-oneshot=${diffs._2}")
    assert(diffs == ((0L, 0L)), s"states diverged: $diffs")

    // the STAGED compaction at corpus scale — the r14-verdict hazard's
    // remedy measured where it mattered: the live edge is corpus-sized,
    // and the rewrite must go through the durable stage table, never a
    // corpus-sized localCheckpoint pin
    val (_, tCompact) = time {
      RevisitStream.compactLog(spark, logTable, "url_canon", "body",
        nBuckets = 32)
    }
    println(f"[revisit-soak] staged compaction @ ${nCorpus + nBatch} " +
      f"log rows: $tCompact%.1f s")
    // history folded to the live edge (every batch URL was already in
    // the corpus, so the edge is exactly nCorpus rows), state unchanged
    val compactedRows = spark.table(logTable).count()
    assert(compactedRows == nCorpus,
      s"compacted log $compactedRows != $nCorpus live rows")
    assert(!spark.catalog.tableExists(s"${logTable}__compact"),
      "stage table left behind")
    val postDiff = {
      val b2 = RevisitStream.logState(spark, logTable, "url_canon",
          "body")
        .select("url_canon", "body", "first_fetched", "last_validated",
          "is_active")
      val c2 = graft.ext.UrlOps.revisitMerge(corpus, batch, "url_canon",
          "http_status", "http_body", "body", lit("2026-02-10"))
        .select("url_canon", "body", "first_fetched", "last_validated",
          "is_active")
      b2.except(c2).count() + c2.except(b2).count()
    }
    assert(postDiff == 0L, s"state changed across compaction: $postDiff")
    println("[revisit-soak] PASS")
    spark.stop()
  }
}
