package graft

import graft.ext.{Ivf, Pq, Similarity}
import org.apache.spark.sql.functions._

/** Scale soak for the md5-derandomized TRAINED ANN family — the q43
  * (seeded-IVF) and q79 (seeded IVF-PQ) catalog members at up to 200×
  * the sf0.1 corpus, with recall asserted against exact brute force on
  * the same query set. The conversions moved the full training loops
  * INTO the measured queries (BASELINE.md adjudication), so this soak
  * is the evidence that cost scales the way the scaladocs claim: the
  * k-means++ seeding is nList one-job draws over the corpus, each
  * Lloyd/codebook step is one broadcast join + one partial-aggregating
  * argmin/argmax (the max(struct) form — the shuffle carries one
  * combined row per id, never nList·ksub sorted candidates), and the
  * candidate phase joins ids+codes only. Driver state stays bounded:
  * nList seed ids, the ≤ nList×dim centroid relation, the ≤ m·ksub
  * codeword relation.
  *
  * Clustered synthetic embeddings ([[CrossoverBench.syntheticEmbeddings]]
  * — center + noise): the regime where ANN recall is meaningful; on
  * pure Gaussian noise nearest neighbors are near-orthogonal and no
  * bucketing scheme can recall them.
  *
  * Usage: `sbt 'runMain graft.SeededAnnSoak [n]'` (default 1000000).
  * Results go to BASELINE.md ("Round-10 seeded-trainer soak").
  */
object SeededAnnSoak {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = Sessions.local()

    val emb = CrossoverBench.syntheticEmbeddings(spark, n, 64, seed = 42L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    emb.count() // generation cost out of every timing window
    // ~n/2000 queries — enough for a stable recall estimate while the
    // brute-force truth stays one broadcast crossJoin
    val queries = emb.filter(col("vec_id") % 2000 === 0)
    val nq = queries.count()
    val k = 10

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // exact truth via graft_top_k, NOT the windowed bruteForceTopK: at
    // 10⁶ corpus × 500 queries the window formulation sort-spills the
    // 5·10⁸ scored rows to tens of GB of local disk (measured — it
    // exhausted this host), while the bounded aggregate keeps O(k)
    // state per query and shuffles ≤ k rows per (partition, query).
    // Tie semantics identical (ord DESC, payload ASC).
    val (truth, bruteSec) = BenchUtil.time {
      val c = emb.select(col("vec_id").as("neighbor_id"),
          transform(col("embedding"), x => x.cast("double")).as("cv"))
        .withColumn("cn", Similarity.norm(col("cv")))
      val q = queries.select(col("vec_id").as("query_id"),
          transform(col("embedding"), x => x.cast("double")).as("qv"))
        .withColumn("qn", Similarity.norm(col("qv")))
      val agg = c.crossJoin(broadcast(q))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(Similarity.dotNative(col("qv"), col("cv"), 64) /
            (col("qn") * col("cn")), 6).as("sim"))
        .groupBy("query_id")
        .agg(call_function("graft_top_k", col("sim"), col("neighbor_id"),
          lit(k)).as("t"))
        .select(col("query_id"), explode(col("t")).as("e"))
        .select(col("query_id").cast("long"),
          col("e.payload").cast("long").as("neighbor_id"))
      agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }

    val (ivfRows, ivfSec) = BenchUtil.time {
      pairs(Ivf.ivfTopKSeeded(emb, queries, "vec_id", "embedding", k,
        nList = 16, nProbe = 4, iters = 2))
    }
    val ivfRecall = (truth & ivfRows).size.toDouble / truth.size

    // codebook resolution scales with the corpus: m=8 subspaces of 32
    // codewords (40 ADC bits) where the sf0.1 catalog member runs 4×8 —
    // at 10⁵+ vectors the coarser books make ADC ordering noise and
    // recall collapses to ~0.2 (measured); candK widens with k the same
    // way the perf API's rerankFactor does
    val (pqRows, pqSec) = BenchUtil.time {
      pairs(Pq.ivfPqTopKSeeded(emb, queries, "vec_id", "embedding", k,
        nList = 16, nProbe = 4, iters = 2, m = 8, ksub = 32, cbIters = 2,
        candK = 10 * k))
    }
    val pqRecall = (truth & pqRows).size.toDouble / truth.size

    println(f"[soak] n=$n%d queries=$nq%d k=$k%d " +
      f"brute=$bruteSec%.1fs " +
      f"ivf_seeded=$ivfSec%.1fs recall=$ivfRecall%.3f " +
      f"ivfpq_seeded=$pqSec%.1fs recall=$pqRecall%.3f")
    assert(ivfRecall >= 0.6,
      f"seeded IVF recall $ivfRecall%.3f below floor on clustered corpus")
    assert(pqRecall >= 0.5,
      f"seeded IVF-PQ recall $pqRecall%.3f below floor on clustered corpus")
    spark.stop()
  }
}
