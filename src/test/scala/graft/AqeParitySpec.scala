package graft

import org.apache.spark.sql.functions._

/** Adaptive Query Execution parity: the bench runs with AQE on, the
  * verify gate with session defaults, and a real cluster always has it
  * on — so results must be bit-identical either way. AQE re-plans
  * shuffles at runtime (coalesced partitions, skew splits, join
  * strategy swaps), which is exactly the kind of physical change that
  * smokes out order-dependent aggregation, partition-sensitive RNG, or
  * tie-breaks that only held under one partitioning. A drift here
  * would pass every DuckDB compare and still give wrong answers on a
  * 1000-executor cluster.
  *
  * The probe set leans on the queries most exposed to partitioning:
  * window-heavy (q64), global-shuffle layout (q95), per-group top-k
  * aggregate state (q83), LSH banding + connected components (q53),
  * the gradient-trained lattice (q139), and the
  * seeded IVF-PQ trainer (q79) — whose round-10 rework moved every
  * corpus-side argmin/argmax onto partial-aggregating min/max(struct),
  * the exact construct these gates exist to police.
  */
class AqeParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val probes = Seq("q64_window_battery", "q95_shuffle_shards",
    "q83_topk_per_group", "q53_dup_clusters", "q139_train_quality",
    "q79_topk_ivfpq",
    // round 11 moved these three canonical picks from content-keyed
    // windows onto partial-aggregating min-winner + id-join shapes —
    // the exact construct these gates police
    "q149_crawl_funnel", "q71_canonical_doc", "q24_exact_dedup",
    // q152's verdict is the same shape: an integer max winner per
    // uniform id over broadcast-joined rule candidates; q154 stacks
    // an anti join, that winner, and a graft_top_k budget
    "q152_robots_filter", "q154_crawl_frontier",
    // round 12: the wildcard verdict adds per-candidate regex
    // residuals over the pruned broadcast; q162 adds the sitemap
    // union + recency-packed graft_top_k ordinal; q100's dup decision
    // became the re-exploding aggregate + semi-join
    "q161_robots_wildcards", "q162_frontier_recency", "q100_dup_spans",
    // round 13: bounded-hop redirect resolution — iterative equi-joins
    // over a localCheckpointed edge relation, then (q168) an anti join
    // + final-URL aggregation on top; q172's full-outer revisit merge;
    // q173 stacks every discovery source into one anti-join + verdict
    // + budget plan
    "q167_redirect_chains", "q168_redirect_frontier",
    "q172_revisit_merge", "q173_unified_frontier",
    // round 13 (cont.): the robots-declared sitemap loop is the same
    // anti-join + verdict + budget stack over a new discovery source;
    // q178 folds a full-outer-ish host join of two aggregate tiers;
    // q179's rollup counts distinct hosts per (target, text) key
    "q176_robots_sitemap_frontier", "q178_retry_after_backoff",
    "q179_anchor_text", "q180_exclusion_frontier",
    // the reciprocity self-join + language attaches; the identity
    // left-join + distinct-hash census
    "q184_translation_pairs", "q190_identity_divergence",
    // round 16: the double component probe over the frontier budget
    // (two artifact left-joins + coalesce tie logic) and the CCNet
    // funnel's four intersected stage flags (shingle joins, digest
    // aggregate, map-literal perplexity fold)
    "q201_mirror_drift_rebuild", "q202_ccnet_funnel",
    // round 16 (cont.): the two-cycle authority rebuild's
    // before/after windowed orders, and the four-artifact scheduler
    // row (three left-joined probes + a global decision window)
    "q203_authority_drift_rebuild", "q204_scheduler_state")

  test("specs run under the Bench/Verify session configuration") {
    val conf = SparkSpec.session.conf
    assert(conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.parquet.outputTimestampType") ==
      "TIMESTAMP_MICROS")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("catalog queries register graft functions on a fresh session") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_word_shingles"))
    val rows = SparkEntry.queries("q25_near_dup_jaccard")(
      fresh, dir).collect()
    assert(rows.nonEmpty)
  }

  test("AQE on and off produce identical rows for partition-sensitive " +
    "queries") {
    for (name <- probes) {
      val fn = SparkEntry.queries(name)
      val off = {
        val s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")
        fn(s, dir).collect().map(_.toSeq).toSeq
      }
      val on = {
        val s = spark.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "true")
        // tiny advisory size forces AQE to actually coalesce/re-plan
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
          "1KB")
        fn(s, dir).collect().map(_.toSeq).toSeq
      }
      assert(on == off,
        s"$name drifted under AQE: ${on.diff(off).take(3)} vs ${
          off.diff(on).take(3)}")
    }
  }

  test("shuffle partition count never changes results (1, 5, 32)") {
    // a different cluster sizes its shuffles differently; results must
    // be a pure function of the data. 1 partition serializes every
    // shuffle (catching accidental reliance on parallel tie-breaks), a
    // prime count misaligns every hash boundary.
    for (name <- Seq("q83_topk_per_group", "q53_dup_clusters",
        "q139_train_quality", "q143_dsir_selection",
        "q79_topk_ivfpq", "q149_crawl_funnel", "q71_canonical_doc")) {
      val fn = SparkEntry.queries(name)
      val results = Seq("1", "5", "32").map { n =>
        val s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", n)
        fn(s, dir).collect().map(_.toSeq).toSeq
      }
      assert(results.distinct.size == 1,
        s"$name depends on shuffle partition count")
    }
  }
}
