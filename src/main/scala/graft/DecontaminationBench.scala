package graft

import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Demonstrates the exact → Bloom-prefiltered crossover for benchmark
  * decontamination (q46 vs q55 at catalog scale).
  *
  * The exact operator shuffles the FULL corpus shingle relation into the
  * overlap join; the Bloom variant drops non-matching shingles map-side
  * and shuffles only true hits + ~fpp false positives. Both return the
  * identical relation (asserted here on every run — Bloom filters have
  * no false negatives and the verify join removes false positives), so
  * the only question is cost versus corpus size. Results are recorded in
  * BASELINE.md ("Decontamination crossover" section).
  *
  * Usage: `sbt 'runMain graft.DecontaminationBench [sizes...]'`
  * (default sizes: 100000 300000; ~60-token docs, 200-doc bench corpus,
  * 1 in 97 documents implanted with a bench 8-gram).
  */
object DecontaminationBench {

  /** Synthetic corpus, generated DISTRIBUTED with per-row seeds: 60
    * random vocab tokens per document; every 97th document gets a bench
    * fragment spliced in (the ground-truth contamination).
    */
  def syntheticDocs(spark: SparkSession, n: Long, seed: Long,
                    fragments: IndexedSeq[String]): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 32).select(col("id").as("doc_id"))
      .as[Long].mapPartitions { ids =>
        ids.map { id =>
          val rnd = new scala.util.Random(seed ^ id)
          val base = Array.fill(60)("w" + rnd.nextInt(5000)).mkString(" ")
          val text =
            if (id % 97 == 0) base + " " + fragments(rnd.nextInt(fragments.size))
            else base
          (id, text)
        }
      }.toDF("doc_id", "text")
  }

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(100000L, 300000L)
    val spark = Sessions.local()
    import spark.implicits._

    // held-out bench corpus: 200 docs over the same vocab space (a
    // disjoint seed stream); fragments = each doc's first 8 tokens
    val benchRnd = new scala.util.Random(0xbe9c4)
    val benchDocs = (0 until 200).map { i =>
      (1000000000L + i, Array.fill(60)("w" + benchRnd.nextInt(5000)).mkString(" "))
    }
    val bench = benchDocs.toDF("doc_id", "text")
    val fragments = benchDocs
      .map(_._2.split(" ").take(8).mkString(" ")).toIndexedSeq

    println("corpus,exact_sec,bloom_sec,hits")
    sizes.foreach { n =>
      val docs = syntheticDocs(spark, n, seed = 7L, fragments)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      docs.count() // materialize outside the timed sections

      val (exactRows, exactSec) = time {
        Dedup.contaminationHits(docs, "doc_id", "text", bench,
            shingleN = 8)
          .as[(Long, Long)].collect().toSet
      }
      val (bloomRows, bloomSec) = time {
        Dedup.contaminationHitsBloom(docs, "doc_id", "text", bench,
            shingleN = 8, expectedItems = 20000L, fpp = 0.01)
          .as[(Long, Long)].collect().toSet
      }
      require(exactRows == bloomRows,
        s"bloom diverged from exact at n=$n: " +
          s"${exactRows.size} vs ${bloomRows.size}")
      println(f"$n,$exactSec%.2f,$bloomSec%.2f,${exactRows.size}")
      docs.unpersist()
    }
    spark.stop()
  }
}
