package graft

import graft.ext.{QualityModel, TextOps}
import org.apache.spark.sql.functions._

/** Scale soak for in-engine classifier training (q139 shape): trains
  * the balanced hashed-linear model on ~10⁶ synthetic labeled
  * documents — 200× the sf0.1 corpus — recording the one-time feature
  * build, the per-step cost (the 100 TB lens: ONE corpus pass builds
  * the cached per-doc sparse vectors; each step is a projection + a
  * ≤nBuckets-key aggregate + an nBuckets-long driver fold), and
  * separability: labels come from a planted hidden rule over the same
  * hashed features, so trained accuracy is checked against the
  * all-positive majority baseline. Results go to BASELINE.md
  * ("Round-9 classifier-training soak").
  *
  * Usage: `sbt 'runMain graft.QualityTrainSoak [n]'` (default 1000000).
  */
object QualityTrainSoak {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = Sessions.local()
    import spark.implicits._

    // synthetic labeled corpus: word-soup docs over a 50k vocabulary;
    // the label is a hidden linear rule over a "signal" sub-vocabulary
    // (docs salted with good-words are positive) — separable in the
    // hashed feature space the trainer sees, like the q139 teacher
    val docs = spark.range(0, n, 1, 64).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val rnd = new scala.util.Random(0x9E3779B97F4A7C15L ^ id)
        val len = 30 + rnd.nextInt(60)
        val positive = rnd.nextInt(100) < 80 // realistic 80/20 skew
        val base = Array.fill(len) {
          if (positive && rnd.nextInt(4) == 0) "good" + rnd.nextInt(200)
          else if (!positive && rnd.nextInt(4) == 0) "bad" + rnd.nextInt(200)
          else "w" + rnd.nextInt(50000)
        }
        (id, base.mkString(" "), positive)
      }
    }.toDF("doc_id", "text", "label")
      .localCheckpoint() // generation cost out of the timing window

    val (w, trainSec) = BenchUtil.time {
      QualityModel.trainQualityClassifier(docs, "doc_id", "text",
        "label", nBuckets = 4096, steps = 6, lrPpm = 200000L)
    }

    val (scored, scoreSec) = BenchUtil.time {
      QualityModel.qualityClassifierScoreWith(docs, "text", w.toSeq)
        .select(col("label"), col("kept"))
        .groupBy(col("label"), col("kept")).count()
        .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2))
        .toMap
    }
    val correct = scored.getOrElse((true, true), 0L) +
      scored.getOrElse((false, false), 0L)
    val pos = scored.getOrElse((true, true), 0L) +
      scored.getOrElse((true, false), 0L)
    val majority = math.max(pos, n - pos)
    println(f"[soak] n=$n%d train(6 steps, 4096 buckets)=$trainSec%.1fs " +
      f"score=$scoreSec%.1fs acc=${correct * 100.0 / n}%.2f%% " +
      f"majority=${majority * 100.0 / n}%.2f%% " +
      f"driver_state=${w.length} longs")
    assert(correct > majority, "soak training failed to beat majority")
    spark.stop()
  }
}
