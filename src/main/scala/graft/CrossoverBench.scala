package graft

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Demonstrates the brute-force → LSH crossover for cosine top-k ANN.
  *
  * At catalog scale (2 000 vectors, 20 queries) brute force wins — the
  * LSH candidate join's fixed shuffle overhead dominates. This main
  * measures both paths on growing synthetic corpora (seeded Gaussian
  * embeddings, dim 64) and reports wall time plus LSH recall vs the exact
  * top-k, evidencing where the scale path starts paying for itself.
  * Results are recorded in BASELINE.md ("LSH crossover" section).
  *
  * Usage: `sbt 'runMain graft.CrossoverBench [sizes...]'`
  * (default sizes: 20000 50000 100000; queries = size/50, k = 10).
  */
object CrossoverBench {

  /** Clustered synthetic embeddings (center + noise), generated
    * DISTRIBUTED with per-row seeds — no driver-side materialization.
    * Clustering matters: on pure Gaussian noise the "nearest neighbors"
    * are near-orthogonal (cos ≈ 0.2 at dim 64) and NO hyperplane-LSH
    * configuration can recall them — real embedding corpora are
    * clustered, which is the regime the scale path exists for.
    */
  def syntheticEmbeddings(spark: SparkSession, n: Int, dim: Int,
                          seed: Long): DataFrame = {
    import spark.implicits._
    val numClusters = math.max(64, n / 200)
    spark.range(0, n, 1, 32).select(col("id").as("vec_id"))
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          val center = new scala.util.Random(seed ^ (id % numClusters))
          val noise = new scala.util.Random(seed ^ id | 0x100000000L)
          (id, Array.fill(dim)(
            (center.nextGaussian() + 0.5 * noise.nextGaussian()).toFloat))
        }
      }.toDF("vec_id", "embedding")
  }

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(20000, 50000, 100000)
    val spark = Sessions.local()
    import spark.implicits._

    val k = 10
    println("corpus,queries,brute_sec,lsh_sec,lsh_recall,ivf_sec,ivf_recall," +
      "ivfpq_sec,ivfpq_recall,int8_sec,int8_recall,trunc_sec,trunc_recall")
    sizes.foreach { n =>
      val emb = syntheticEmbeddings(spark, n, 64, seed = 42L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      emb.count() // materialize outside the timed sections
      val queries = emb.filter(col("vec_id") % 200 === 0)

      val (bruteRows, bruteSec) = time {
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k,
            dim = Some(64))
          .select("query_id", "neighbor_id")
          .as[(Long, Long)].collect().toSet
      }
      val (lshRows, lshSec) = time {
        Similarity.lshTopK(emb, queries, "vec_id", "embedding", k,
            nPlanes = 14, nTables = 6)
          .select("query_id", "neighbor_id")
          .as[(Long, Long)].collect().toSet
      }
      // IVF: lists ≈ data clusters; timing INCLUDES driver-side training
      val (ivfRows, ivfSec) = time {
        graft.ext.Ivf.ivfTopK(emb, queries, "vec_id", "embedding", k,
            nList = math.max(64, n / 200), nProbe = 4)
          .select("query_id", "neighbor_id")
          .as[(Long, Long)].collect().toSet
      }
      // IVF-PQ: same coarse lists, candidates scored from 8-int codes
      // (timing includes coarse + codebook training)
      val (pqRows, pqSec) = time {
        graft.ext.Pq.ivfPqTopK(emb, queries, "vec_id", "embedding", k,
            nList = math.max(64, n / 200), nProbe = 4, m = 8, ksub = 64,
            dim = 64)
          .select("query_id", "neighbor_id")
          .as[(Long, Long)].collect().toSet
      }
      // int8: still an O(n²) scan (no bucketing) but each pair costs a
      // long-dot over 4x-smaller codes; measures the quantized-scan
      // constant, not a crossover
      val (int8Rows, int8Sec) = time {
        Similarity.int8TopK(emb, queries, "vec_id", "embedding", k,
            dim = 64, candK = 4 * k)
          .select("query_id", "neighbor_id")
          .as[(Long, Long)].collect().toSet
      }
      // truncated: O(n²) over the first 16 of 64 dims (4x fewer FLOPs)
      val (truncRows, truncSec) = time {
        Similarity.truncatedTopK(emb, queries, "vec_id", "embedding", k,
            dim = 64, prefixDim = 16, candK = 4 * k)
          .select("query_id", "neighbor_id")
          .as[(Long, Long)].collect().toSet
      }
      def recall(rows: Set[(Long, Long)]) =
        rows.intersect(bruteRows).size.toDouble / bruteRows.size
      println(f"$n,${n / 200},$bruteSec%.2f,$lshSec%.2f,${recall(lshRows)}%.3f," +
        f"$ivfSec%.2f,${recall(ivfRows)}%.3f," +
        f"$pqSec%.2f,${recall(pqRows)}%.3f," +
        f"$int8Sec%.2f,${recall(int8Rows)}%.3f," +
        f"$truncSec%.2f,${recall(truncRows)}%.3f")
      emb.unpersist()
    }
    spark.stop()
  }
}
