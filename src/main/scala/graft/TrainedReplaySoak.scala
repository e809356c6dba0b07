package graft

import graft.ext.{Ivf, Pq, QualityModel}
import org.apache.spark.sql.functions._

/** Scale soak for the TRAINED-REPLAY bench class (q75/q79/q139/q140 —
  * the seeded in-engine trainers whose catalog formulations unroll
  * training for oracle checkability): each trainer runs at TWO corpus
  * scales (n/4 and n, default n = 10⁶ — 100–200× the sf0.1 bench
  * corpus) and the soak ASSERTS, not narrates (the RobotsCacheSoak
  * discipline):
  *
  *   - the COST CURVE is corpus-bounded: wall(n) / wall(n/4) < 8 per
  *     trainer (linear-with-overhead; a quadratic trainer would show
  *     ~16) — the evidence that the replay class's bench cost is a
  *     fixed number of corpus passes, not a super-linear blowup;
  *   - the NUMERIC contract holds at scale: k-means++ covers the
  *     corpus exactly (Σ n over clusters = corpus size) and recovers
  *     the planted cluster structure (vector-weighted mean cosine to
  *     the trained centroid ≥ 0.70e6 micro — planted clusters are
  *     ~0.99-tight, so even two mis-seeded clusters of eight keep the
  *     weighted mean above this floor); the PQ codebook matrix
  *     has exactly m·ksub·dsub finite entries; the logistic trainer
  *     beats the majority-class baseline on its planted separable
  *     rule;
  *   - DRIVER STATE stays bounded: what the trainers return (8×64
  *     centroid stats, m·ksub·dsub codewords, nBuckets logits) is
  *     independent of n by construction — the soak prints the sizes
  *     next to the walls so the bound is on the record.
  *
  * Usage: `sbt 'runMain graft.TrainedReplaySoak [n]'` (default
  * 1000000). Results go to BASELINE.md ("Round-16 trained-replay
  * soak").
  */
object TrainedReplaySoak {

  private val Dim = 64
  private val NClusters = 8

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = Sessions.local()
    import spark.implicits._

    // clustered unit-ish vectors: cluster c lives on dims [8c, 8c+8)
    // with deterministic per-dim noise — members are ~0.99-cosine to
    // their center, near-orthogonal across clusters
    def vectors(rows: Long) = spark.range(0, rows, 1, 64).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val rnd = new scala.util.Random(0x5DEECE66DL ^ id)
          val c = (id % NClusters).toInt
          val v = Array.tabulate(Dim) { d =>
            val base = if (d >= c * 8 && d < c * 8 + 8) 1.0f else 0.0f
            base + (rnd.nextFloat() - 0.5f) * 0.1f
          }
          (id, v)
        }
      }.toDF("vec_id", "vec")
      .localCheckpoint() // generation cost out of the timing window

    // word-soup labeled docs over a planted separable rule (the
    // QualityTrainSoak teacher, 80/20 skew)
    def docs(rows: Long) = spark.range(0, rows, 1, 64).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val rnd = new scala.util.Random(0x9E3779B97F4A7C15L ^ id)
          val len = 30 + rnd.nextInt(60)
          val positive = rnd.nextInt(100) < 80
          val words = Array.fill(len) {
            if (positive && rnd.nextInt(4) == 0) "good" + rnd.nextInt(200)
            else if (!positive && rnd.nextInt(4) == 0) "bad" + rnd.nextInt(200)
            else "w" + rnd.nextInt(50000)
          }
          (id, words.mkString(" "), positive)
        }
      }.toDF("doc_id", "text", "label")
      .localCheckpoint()

    def kmeansLeg(rows: Long): Double = {
      val emb = vectors(rows)
      val (stats, sec) = BenchUtil.time {
        Ivf.kmeansPlusPlusStats(emb, "vec_id", "vec",
          nList = NClusters, iters = 2, dim = Dim).collect()
      }
      val total = stats.map(_.getLong(1)).sum
      assert(total == rows,
        s"kmeans census lost rows: $total != $rows")
      val wMean = stats.map(r => r.getLong(1) * r.getLong(2)).sum / total
      assert(wMean >= 700000L,
        s"kmeans failed to recover the planted clusters: " +
          s"weighted mean_cos_micro $wMean < 700000")
      println(f"[soak] kmeans++ n=$rows%d wall=$sec%.1fs " +
        f"clusters=${stats.length}%d weighted_mean_cos_micro=$wMean%d " +
        f"driver_state=${stats.length * 3}%d longs")
      sec
    }

    def pqLeg(rows: Long): Double = {
      val emb = vectors(rows)
      val m = 8; val ksub = 32
      val ((coarse, books), sec) = BenchUtil.time {
        val c = Ivf.trainCentroids(emb, "vec", NClusters, Dim)
        (c, Pq.trainCodebooks(emb, "vec", c, m, ksub, Dim))
      }
      assert(books.length == m * ksub * (Dim / m),
        s"codebook shape ${books.length} != ${m * ksub * (Dim / m)}")
      assert(books.forall(java.lang.Double.isFinite) &&
        coarse.forall(java.lang.Double.isFinite),
        "non-finite codebook/centroid entries")
      println(f"[soak] pq-codebooks n=$rows%d wall=$sec%.1fs " +
        f"driver_state=${coarse.length + books.length}%d doubles")
      sec
    }

    def logisticLeg(rows: Long): Double = {
      val d = docs(rows)
      val (w, sec) = BenchUtil.time {
        QualityModel.trainQualityClassifier(d, "doc_id", "text",
          "label", nBuckets = 4096, steps = 6, lrPpm = 200000L)
      }
      val scored = QualityModel.qualityClassifierScoreWith(d, "text",
          w.toSeq)
        .groupBy(col("label"), col("kept")).count()
        .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) ->
          r.getLong(2)).toMap
      val correct = scored.getOrElse((true, true), 0L) +
        scored.getOrElse((false, false), 0L)
      val pos = scored.getOrElse((true, true), 0L) +
        scored.getOrElse((true, false), 0L)
      val majority = math.max(pos, rows - pos)
      assert(correct > majority,
        s"logistic failed to beat majority: $correct <= $majority")
      println(f"[soak] logistic n=$rows%d wall=$sec%.1fs " +
        f"acc=${correct * 100.0 / rows}%.2f%% " +
        f"majority=${majority * 100.0 / rows}%.2f%% " +
        f"driver_state=${w.length}%d longs")
      sec
    }

    val quarter = n / 4
    val legs = Seq[(String, Long => Double)](
      ("kmeans++", kmeansLeg), ("pq-codebooks", pqLeg),
      ("logistic", logisticLeg))
    legs.foreach { case (name, leg) =>
      val small = leg(quarter)
      val large = leg(n)
      val ratio = large / small
      println(f"[soak] $name%s cost curve: $quarter%d -> $n%d = " +
        f"$ratio%.2fx (4x data)")
      assert(ratio < 8.0,
        s"$name cost curve super-linear: 4x data cost ${ratio}x (>= 8x)")
    }
    println("[soak] trained-replay soak PASSED")
    spark.stop()
  }
}
