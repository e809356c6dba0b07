package graft

import graft.ext.Multimodal
import org.apache.spark.sql.functions._

/** Scale soak for the round-8 REAL media decode trio: encodes and
  * decodes ~10⁵ PNGs, WAVs, and multi-frame GIFs through the
  * payload-dropping `mapPartitions` seams (q106/q107/q108 shapes) at
  * `local[SPARK_GRAFT_CPUS]`, recording wall time and per-payload throughput. Every
  * leg's output is asserted against the closed-form planted formulas —
  * the decode is REAL (JDK ImageIO / javax.sound.sampled), so this is
  * codec throughput, not stub arithmetic. Results go to BASELINE.md
  * ("Round-8 media soak").
  *
  * Usage: `sbt 'runMain graft.MediaScaleSoak [n]'` (default 100000).
  */
object MediaScaleSoak {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(100000L)
    require(n > 0, s"payload count must be positive: $n")
    val cpus = Sessions.defaultCpus
    val spark = Sessions.local(cpus)

    val ids = spark.range(0, n, 1, cpus).toDF("doc_id")

    // ---- images: encode n real PNGs, decode pixels back ---------------
    val (img, tImg) = time {
      Multimodal.extractImageFeaturesReal(
          Multimodal.syntheticRealPng(ids, "doc_id"), "payload")
        .agg(count(lit(1)).as("n"), sum(col("width")).as("sw"),
          sum(col("height")).as("sh"), avg(col("mean_luma")).as("ml"))
        .head()
    }
    // dims follow the planted id formulas EXACTLY — a stub fallback
    // sneaking in would break these sums (stub dims are 64..1920)
    def sumOver(m: Long)(f: Long => Long): Long =
      (0L until m).map(r => (n / m + (if (r < n % m) 1L else 0L)) * f(r)).sum
    assert(img.getLong(0) == n)
    assert(img.getLong(1) == sumOver(5)(8 + _), s"width sum ${img.getLong(1)}")
    assert(img.getLong(2) == sumOver(3)(8 + _), s"height sum ${img.getLong(2)}")
    assert(img.getDouble(3) > 0.4 && img.getDouble(3) < 0.6,
      s"affine-mod luma should center near 0.5: ${img.getDouble(3)}")

    // ---- audio: encode n real WAVs, decode samples back ---------------
    val (aud, tAud) = time {
      Multimodal.extractAudioFeatures(
          Multimodal.syntheticRealWav(ids, "doc_id"), "payload")
        .agg(count(lit(1)).as("n"), sum(col("n_samples")).as("ss"),
          avg(col("mean_abs")).as("ma"))
        .head()
    }
    assert(aud.getLong(0) == n)
    assert(aud.getLong(1) == sumOver(3)(r => 400 + 200 * r),
      s"sample sum ${aud.getLong(1)}") // Σ(400 + (id%3)·200)
    assert(aud.getDouble(2) > 0.4 && aud.getDouble(2) < 0.6,
      s"affine-mod |amplitude| should center near 0.5: ${aud.getDouble(2)}")

    // ---- video: encode n animated GIFs, decode every frame ------------
    val (gif, tGif) = time {
      Multimodal.extractFrameFeatures(
          Multimodal.syntheticRealGif(ids, "doc_id"), "payload")
        .agg(count(lit(1)).as("frames"),
          countDistinct(col("doc_id")).as("docs"))
        .head()
    }
    assert(gif.getLong(1) == n)
    assert(gif.getLong(0) == sumOver(3)(2 + _), // Σ(2 + id%3)
      s"frame count ${gif.getLong(0)}")

    // ---- perceptual near-dup at scale: encode, REAL-decode, dHash,
    // band-join, verify — the q131 pipeline end to end. Planted pairs
    // (8k, 8k+1) must ALL surface; chance 16-bit band collisions admit
    // a small candidate overhead but no quadratic flood.
    val (dups, tDup) = time {
      val banded = Multimodal.withImageDHashBands(
        Multimodal.syntheticRealPngNearDups(ids, "doc_id"), "payload")
      Multimodal.imageNearDupPairs(banded, "doc_id", maxHamming = 10)
        .agg(count(lit(1)).as("pairs"),
          count(when(col("id_b") === col("id_a") + 1 &&
            col("id_a") % 8 === 0, 1)).as("planted"))
        .head()
    }
    val expectedPlanted = (n + 6) / 8 // ids ≡ 1 (mod 8) with partner
    assert(dups.getLong(1) == expectedPlanted,
      s"planted pairs found ${dups.getLong(1)}, expected $expectedPlanted")
    assert(dups.getLong(0) < expectedPlanted + n / 100,
      s"near-dup flood: ${dups.getLong(0)} pairs")

    def rate(t: Double): Long = math.rint(n / t).toLong
    println(
      s"""{"n":$n,"img_sec":${math.rint(tImg * 10) / 10},"img_per_sec":${rate(tImg)},"wav_sec":${math.rint(tAud * 10) / 10},"wav_per_sec":${rate(tAud)},"gif_sec":${math.rint(tGif * 10) / 10},"gif_per_sec":${rate(tGif)},"frames":${gif.getLong(0)},"dhash_sec":${math.rint(tDup * 10) / 10},"dhash_pairs":${dups.getLong(0)}}""")
    spark.stop()
  }
}
