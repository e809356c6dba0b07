package graft

import graft.ext.{Dedup, Similarity}
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** SemDeDup-style cluster-local semantic dedup vs the exact all-pairs
  * rule: the kept set must be a superset (cluster blocking only MISSES
  * cross-cluster pairs, never invents them) and close to the exact set
  * on clustered data (near-dups land in the same cluster by construction).
  */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    CrossoverBench.syntheticEmbeddings(spark, 1500, 64, seed = 23L).cache()

  /** Exact all-pairs rule: drop ids with ANY lower-id neighbor at
    * cosine >= t.
    */
  private def exactKept(minCosine: Double): Set[Long] = {
    val dropped = Dedup.cosineNearDupPairsExact(emb, "vec_id", "embedding",
        minCosine)
      .select("id_b").as[Long].collect().toSet
    emb.select("vec_id").as[Long].collect().toSet -- dropped
  }

  test("kept set is a superset of the exact rule's and near-complete") {
    GraftFunctions.register(spark)
    val exact = exactKept(0.4)
    val kept = Dedup.semanticDedupKeptIds(emb, "vec_id", "embedding",
        minCosine = 0.4, nList = 16, sampleSize = 1500, iters = 8)
      .as[Long].collect().toSet
    val all = emb.select("vec_id").as[Long].collect().toSet
    assert(exact.size < all.size, "fixture must actually drop something")
    assert(exact.subsetOf(kept),
      "cluster blocking must never drop a vector the exact rule keeps")
    // on clustered embeddings, near-dup pairs share a cluster: the
    // cluster-local rule should find nearly all of them
    val extraKept = kept.size - exact.size
    val droppedExact = all.size - exact.size
    assert(extraKept <= droppedExact / 2,
      s"cluster-local missed too many pairs: kept ${kept.size} vs exact " +
        s"${exact.size} of ${all.size}")
  }

  test("deterministic run to run") {
    GraftFunctions.register(spark)
    def run() = Dedup.semanticDedupKeptIds(emb, "vec_id", "embedding",
        minCosine = 0.4, nList = 16, sampleSize = 1000, iters = 5)
      .as[Long].collect().toSet
    assert(run() == run())
  }

  test("threshold 1.01 keeps everything (cosine never exceeds 1)") {
    GraftFunctions.register(spark)
    val kept = Dedup.semanticDedupKeptIds(emb, "vec_id", "embedding",
        minCosine = 1.01, nList = 8, sampleSize = 500, iters = 3)
      .count()
    assert(kept == emb.count())
  }
}
