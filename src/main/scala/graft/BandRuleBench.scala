package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measures what the `LevenshteinBandRule` optimizer rewrite is worth
  * on a blocked candidate-pair join: the same `levenshtein(a, b) <= k`
  * predicate evaluated (a) unbanded, on a session WITHOUT the rule
  * (plain full DP per pair), vs (b) on a session with the rule
  * (length-band prefilter + early-abandon thresholded DP).
  *
  * Synthetic corpus: groups of near-duplicate strings with varying
  * lengths, blocked into candidate pairs — the q70 shape at volume.
  * Results recorded in BASELINE.md.
  *
  * Usage: `sbt 'runMain graft.BandRuleBench [nDocs]'` (default 4000).
  */
object BandRuleBench {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 4000
    val spark = Sessions.local()
    import spark.implicits._

    // 50 docs per block: lengths spread 100-500 chars so the length band
    // has something to prune; every 5th doc is a 20-edit mutation of its
    // predecessor so the predicate has true matches to preserve
    def base(id: Long): Array[Char] = {
      val rnd = new scala.util.Random(id)
      val len = 100 + rnd.nextInt(400)
      Array.fill(len)(('a' + rnd.nextInt(26)).toChar)
    }
    val docs = spark.range(0, n, 1, 32).map { id =>
      val block = id / 50
      val body =
        if (id % 5 == 0 && id % 50 != 0) {
          val chars = base(id - 1)
          val rnd = new scala.util.Random(id)
          (0 until 20).foreach { _ =>
            chars(rnd.nextInt(chars.length)) = ('a' + rnd.nextInt(26)).toChar
          }
          new String(chars)
        } else new String(base(id))
      (id, s"blk$block", body)
    }.toDF("doc_id", "block", "text")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    docs.count()
    // the plain query must be BUILT on a session without the optimizer
    // rule — rebind via a global temp view (cache is shared state, so
    // both sessions hit it)
    docs.createOrReplaceGlobalTempView("bandbench_docs")

    def pairs(s: SparkSession) = {
      val d = s.table("global_temp.bandbench_docs")
      d.select(col("block"), col("doc_id").as("id_a"), col("text").as("a"))
        .join(d.select(col("block"), col("doc_id").as("id_b"),
          col("text").as("b")), "block")
        .filter(col("id_a") < col("id_b"))
    }

    // session WITHOUT the rule: plain levenshtein per surviving pair
    val plainSession = spark.newSession()
    val (nPlain, tPlain) = BenchUtil.time {
      pairs(plainSession).filter(expr("levenshtein(a, b) <= 40")).count()
    }
    // session WITH the rule: band prefilter + thresholded DP
    val (nBand, tBand) = BenchUtil.time {
      pairs(spark).filter(expr("levenshtein(a, b) <= 40")).count()
    }
    require(nPlain == nBand, s"rule changed results: $nPlain vs $nBand")
    println("docs,pairs_matched,plain_sec,banded_sec,speedup")
    println(f"$n,$nPlain,$tPlain%.2f,$tBand%.2f,${tPlain / tBand}%.1fx")
    spark.stop()
  }
}
