package graft

import org.apache.spark.sql.functions.col

/** The `SPARK_GRAFT_ONLY` dev-loop filter contract (round-10
  * directive): prefix and family-glob selection shared by Verify and
  * Bench through one definition site, with the no-match typo guard.
  */
class BenchUtilSpec extends SparkSpec {

  private val qs = Map(
    "q13_merge" -> 1, "q130_rag_serving" -> 2, "q131_image" -> 3,
    "q75_kmeans" -> 4, "q147_unigram_train" -> 5)

  test("unset or blank selects everything") {
    assert(BenchUtil.selectQueries(None, qs) == qs)
    assert(BenchUtil.selectQueries(Some(""), qs) == qs)
    assert(BenchUtil.selectQueries(Some(" , "), qs) == qs)
  }

  test("exact names and prefixes select their families") {
    assert(BenchUtil.selectQueries(Some("q75_kmeans"), qs).keySet ==
      Set("q75_kmeans"))
    assert(BenchUtil.selectQueries(Some("q13"), qs).keySet ==
      Set("q13_merge", "q130_rag_serving", "q131_image"))
    assert(BenchUtil.selectQueries(Some("q130"), qs).keySet ==
      Set("q130_rag_serving"))
  }

  test("trailing * (shell-glob habit) is tolerated and stripped") {
    assert(BenchUtil.selectQueries(Some("q13*"), qs).keySet ==
      Set("q13_merge", "q130_rag_serving", "q131_image"))
  }

  test("comma-separated entries union") {
    assert(BenchUtil.selectQueries(Some("q75, q147"), qs).keySet ==
      Set("q75_kmeans", "q147_unigram_train"))
  }

  test("a filter matching nothing fails loudly, not silently green") {
    assertThrows[IllegalArgumentException] {
      BenchUtil.selectQueries(Some("q999"), qs)
    }
  }

  test("prior adoption: a contended run never overwrites a clean " +
    "bench.json prior; it may replace a contended one or write first") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_prior")
    val prior = dir.resolve("bench.json")
    val aside = dir.resolve("bench_contended.json")
    // first run: no prior — adopt regardless of contention
    assert(Bench.benchOutPath(dir, contended = true) == prior)
    assert(Bench.benchOutPath(dir, contended = false) == prior)
    // clean prior: a contended run steps aside, a clean run adopts
    Files.write(prior, """{"contended":false,"value":1}""".getBytes)
    assert(Bench.benchOutPath(dir, contended = true) == aside)
    assert(Bench.benchOutPath(dir, contended = false) == prior)
    // contended prior: freshness wins between non-gate-grade records
    Files.write(prior, """{"contended":true,"value":1}""".getBytes)
    assert(Bench.benchOutPath(dir, contended = true) == prior)
    assert(Bench.benchOutPath(dir, contended = false) == prior)
  }

  test("drain: a meter read after an action sees its shuffle stages") {
    val meter = new BenchUtil.ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    try {
      spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .collect()
      BenchUtil.drain(spark.sparkContext)
      assert(meter.writeBytes > 0)
    } finally spark.sparkContext.removeSparkListener(meter)
  }
}
