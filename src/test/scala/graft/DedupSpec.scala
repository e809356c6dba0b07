package graft

import graft.ext.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup of 1
    (4L, "completely different content about spark engines and scale"),
    (5L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactDuplicateGroups keeps min id and counts the group") {
    val g = Dedup.exactDuplicateGroups(docs, "doc_id", "text")
      .select("doc_id", "dup_count").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == Map(1L -> 3L, 3L -> 1L, 4L -> 1L))
  }

  test("dedupExact keeps exactly the smallest id per content") {
    val kept = Dedup.dedupExact(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L))
  }

  test("wordShingles builds distinct n-grams; short docs fall back whole") {
    val sh = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.wordShingles(col("text"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(sh(0).toSet == Set("a b c", "b c d"))
    assert(sh(1) == Seq("a b"))
  }

  test("jaccard matches hand computation") {
    val j = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(math.abs(j - 0.5) < 1e-9)
  }

  test("minhash signature length is k and equal docs agree") {
    val sig = docs.select(col("doc_id"),
        Dedup.minhashSignature(Dedup.wordShingles(col("text"), 3), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sig(1L).size == 16)
    assert(sig(1L) == sig(2L)) // identical text -> identical signature
    assert(sig(1L) != sig(4L))
  }

  test("minhashNearDupPairs finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        minJaccard = 0.5, shingleN = 3, k = 64, bands = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // exact dup pairs must always collide in every band
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) &&
      pairs.contains((2L, 5L)))
    // doc 4 shares no shingles with anything
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("prefixBlockedNearDupPairs verifies with exact jaccard") {
    val pairs = Dedup.prefixBlockedNearDupPairs(docs, "doc_id", "text",
        prefixLen = 16, shingleN = 3, minJaccard = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == 1.0)
    assert(byPair.contains((1L, 3L)) && byPair((1L, 3L)) >= 0.5 &&
      byPair((1L, 3L)) < 1.0)
  }

  test("simhash: identical text -> distance 0; near dup closer than unrelated") {
    val fp = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(fp(a) ^ fp(b))
    assert(ham(1L, 2L) == 0)
    assert(ham(1L, 3L) < ham(1L, 4L))
  }

  test("portable md5 minhash: native ≡ HOF, single-shingle sig pinned, same dup pairs") {
    graft.plans.GraftFunctions.register(spark)
    val edge = Seq((40L, "a b c"), (41L, ""), (42L, "  spaced   out  "))
      .toDF("doc_id", "text")
    val both = docs.select(col("doc_id"), col("text")).unionByName(edge)
      .select(col("doc_id"),
        Dedup.minhashSignaturePortableHof(
          Dedup.wordShinglesHof(col("text"), 3), 64).as("hof"),
        Dedup.minhashSignaturePortable(
          Dedup.wordShingles(col("text"), 3), 64).as("nat"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    both.foreach { case (id, h, n) =>
      assert(h == n, s"doc $id portable sig: native != HOF")
      assert(h.size == 64)
    }
    // doc 40 has exactly one shingle "a b c": sig_j = (a_j·h + b_j) mod p,
    // pinned against an independent python md5 computation
    val single = both.find(_._1 == 40L).get._2
    assert(single.head == 416843587L)
    assert(single.last == 184801862L)
    // the portable pipeline finds the same dup structure the xxhash one
    // does on this corpus: exact dups always collide in every band
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        minJaccard = 0.5, shingleN = 3, k = 64, bands = 16,
        portable = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) &&
      pairs.contains((2L, 5L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("portable md5 simhash: native ≡ HOF, single-token doc pinned bit-exactly") {
    graft.plans.GraftFunctions.register(spark)
    val edge = Seq((30L, "hello"), (31L, ""), (32L, "  spaced   out  "),
      (33L, "rep rep rep unique tail here"),
      (34L, null: String)) // null text -> (0, 0), no vote cast
      .toDF("doc_id", "text")
    val both = docs.select(col("doc_id"), col("text")).unionByName(edge)
      .select(col("doc_id"),
        Dedup.simhash64PortableHof(col("text")).as("hof"),
        Dedup.simhash64Portable(col("text")).as("nat"))
      .collect()
    both.foreach { r =>
      assert(r.getStruct(1) == r.getStruct(2),
        s"doc ${r.getLong(0)}: ${r.getStruct(1)} vs ${r.getStruct(2)}")
    }
    // single token ⇒ simhash is the token's own md5 bits; expected values
    // computed independently (python hashlib): md5("hello") hex digits
    // 1-8 / 9-16 big-endian
    val hello = both.find(_.getLong(0) == 30L).get.getStruct(2)
    assert(hello.getLong(0) == 1564557354L) // simhash_hi
    assert(hello.getLong(1) == 3159042678L) // simhash_lo
    // halves always fit unsigned-32 (non-negative in signed-64)
    both.foreach { r =>
      assert(r.getStruct(2).getLong(0) >= 0L &&
        r.getStruct(2).getLong(0) <= 0xFFFFFFFFL)
      assert(r.getStruct(2).getLong(1) >= 0L &&
        r.getStruct(2).getLong(1) <= 0xFFFFFFFFL)
    }
  }

  test("prefixBlocked caps degenerate shared-prefix blocks at maxBlockSize") {
    // 60 docs sharing one 16-char prefix: uncapped would expand 1770 pairs
    // in a single block; the cap drops the block entirely (O(n·cap) bound)
    val boiler = (1L to 60L).map(i =>
      (i, s"common license header text variant $i unique tail"))
    val normal = Seq((100L, "totally distinct document alpha beta gamma"),
      (101L, "totally distinct document alpha beta gamma"))
    val df = (boiler ++ normal).toDF("doc_id", "text")
    val capped = Dedup.prefixBlockedNearDupPairs(df, "doc_id", "text",
      prefixLen = 16, shingleN = 3, minJaccard = 0.1, maxBlockSize = 10)
      .as[(Long, Long, Double)].collect()
    // the degenerate block contributes nothing; the small block survives
    assert(capped.map(p => (p._1, p._2)).toSet == Set((100L, 101L)))
    val uncapped = Dedup.prefixBlockedNearDupPairs(df, "doc_id", "text",
      prefixLen = 16, shingleN = 3, minJaccard = 0.1, maxBlockSize = 1000)
    assert(uncapped.count() > 1000) // proof the cap was doing the work
  }

  test("contaminationHits counts distinct shared n-grams per document") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words the quick brown fox jumps over the lazy dog suffix"),
      (2L, "the quick brown fox"), // shorter than n=8 -> whole-text shingle, no match
      (3L, "completely unrelated content with no overlap whatsoever here")
    ).toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(corpus, "doc_id", "text", bench,
        shingleN = 8)
      .as[(Long, Long)].collect().toMap
    // doc 1 contains the full 9-token bench text -> two distinct 8-grams
    assert(hits == Map(1L -> 2L))
  }

  test("contaminationReport: fraction verdict, zero-hit docs kept in relation") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim bench text: 2 shingles, 2 hits -> 100% -> dropped
      (1L, "the quick brown fox jumps over the lazy dog"),
      // 2 of its 20 distinct 8-grams overlap -> exactly 10% -> dropped (>=)
      (2L, ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 " +
        "the quick brown fox jumps over the lazy dog")),
      // 2 of 21 -> 9.52% -> kept
      (3L, ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 " +
        "the quick brown fox jumps over the lazy dog")),
      // no overlap at all -> present with n_hits = 0, kept
      (4L, "completely unrelated content with no overlap whatsoever in here")
    ).toDF("doc_id", "text")
    val rep = Dedup.contaminationReport(corpus, "doc_id", "text", bench,
        shingleN = 8, dropPct = 10)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rep(1L) == ((2L, 2L, true)))
    assert(rep(2L) == ((20L, 2L, true)))   // integer-exact boundary: 10% drops
    assert(rep(3L) == ((21L, 2L, false)))
    assert(rep(4L) == ((2L, 0L, false)))   // zero-hit doc survives the left join
    assert(rep.size == 4)
    // single-pass: the corpus is scanned ONCE (one relation each side) —
    // a naive hits-then-recount compose would read it twice
    val logical = Dedup.contaminationReport(corpus, "doc_id", "text", bench,
      shingleN = 8, dropPct = 10).queryExecution.optimizedPlan.toString
    val scans = "LocalRelation".r.findAllIn(logical).size
    assert(scans == 2, s"expected 2 scans (corpus + bench), got $scans:\n$logical")
  }

  test("native word shingles identical to the HOF formulation") {
    graft.plans.GraftFunctions.register(spark)
    val edge = Seq((20L, "one two"), (21L, ""), (22L, "a b c"),
      (23L, "  padded   tokens  here now  "),
      (24L, "rep rep rep rep rep"), // duplicate shingles -> distinct order
      (25L, null: String)) // null text -> one empty shingle
      .toDF("doc_id", "text")
    val both = docs.select(col("doc_id"), col("text")).unionByName(edge)
      .select(col("doc_id"),
        Dedup.wordShinglesHof(col("text"), 3).as("hof"),
        Dedup.wordShingles(col("text"), 3).as("nat"))
      .as[(Long, Seq[String], Seq[String])].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, h, n) =>
      assert(h == n, s"doc $id: $h vs $n") // incl. first-occurrence order
    }
    // full pipeline parity: the operator's prefix-blocked pairs equal the
    // same blocking + exact Jaccard over the reference shingles
    val pairs = Dedup.prefixBlockedNearDupPairs(docs, "doc_id", "text",
        prefixLen = 16, shingleN = 3, minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val ref = docs.select(col("doc_id"),
      substring(col("text"), 1, 16).as("block"),
      Dedup.wordShinglesHof(col("text"), 3).as("sh"))
    val refPairs = ref.select(col("block"), col("doc_id").as("id_a"),
        col("sh").as("sh_a"))
      .join(ref.select(col("block"), col("doc_id").as("id_b"),
        col("sh").as("sh_b")), "block")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.nonEmpty)
    assert(pairs == refPairs)
  }

  test("simhash native vote fold is bit-identical to the HOF fold") {
    graft.plans.GraftFunctions.register(spark)
    val edge = Seq((10L, "one"), (11L, ""), (12L, "  spaced   out  "),
      (13L, "the quick brown fox jumps over the lazy dog"),
      (14L, null: String)) // null text -> 0, no vote cast
      .toDF("doc_id", "text")
    val both = docs.select(col("doc_id"), col("text"))
      .unionByName(edge)
      .select(col("doc_id"),
        Dedup.simhash64Hof(col("text")).as("hof"),
        Dedup.simhash64(col("text")).as("native"))
      .as[(Long, Long, Long)].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, h, n) =>
      assert(h == n, s"doc $id: hof=$h native=$n")
    }
  }

  test("bucketed-by-content table dedups with ZERO exchanges in the plan") {
    val loc = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bdb LOCATION '$loc'")
    try {
      val corpus = Seq((1L, "alpha beta"), (2L, "alpha beta"),
        (3L, "gamma delta"), (4L, "alpha beta"), (5L, "epsilon"))
        .toDF("doc_id", "text")
      Dedup.writeBucketedByContent(corpus, "text", "graft_bdb.docs_b",
        nBuckets = 4)
      val grouped = Dedup.exactDuplicateGroupsBucketed(spark,
        "graft_bdb.docs_b", "doc_id")
      val rows = grouped.select("doc_id", "dup_count")
        .as[(Long, Long)].collect().toSet
      assert(rows == Set((1L, 3L), (3L, 1L), (5L, 1L)))
      // the whole point of the layout: scan partitioning satisfies the
      // aggregation — no Exchange anywhere in the executed plan
      val plan = grouped.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      // parity with the direct (shuffling) formulation
      val direct = Dedup.exactDuplicateGroups(corpus, "doc_id", "text")
        .select("doc_id", "dup_count").as[(Long, Long)].collect().toSet
      assert(direct == rows)
    } finally spark.sql("DROP DATABASE IF EXISTS graft_bdb CASCADE")
  }

  test("incremental dedup vs stored corpus: only the new batch shuffles") {
    val loc = java.nio.file.Files.createTempDirectory("graft_incr").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_idb LOCATION '$loc'")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // at real scale the corpus can never broadcast — pin the shuffle-join
    // regime the bucketed layout exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta"))
        .toDF("doc_id", "text")
      Dedup.writeBucketedByContent(corpus, "text", "graft_idb.corpus_b",
        nBuckets = 4)
      val batch = Seq(
        (10L, "alpha beta"),   // already in corpus -> dropped
        (11L, "new content"),  // novel -> kept
        (12L, "new content"),  // intra-batch dup of 11 -> dropped
        (13L, "also new")      // novel -> kept
      ).toDF("doc_id", "text")
      val novel = Dedup.dedupAgainstCorpus(spark, batch, "doc_id", "text",
        "graft_idb.corpus_b")
      assert(novel.select("doc_id").as[Long].collect().sorted.toSeq ==
        Seq(11L, 13L))
      // corpus side consumes the bucketed scan's distribution: every
      // hash exchange in the plan is batch-sized — one for the anti
      // join's batch side (the winner aggregate reuses its output
      // distribution, so it adds none) and two for the keep-first
      // semi-join on the uniform id key (batch + winners). The corpus
      // is never exchanged.
      val plan = novel.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 3, s"expected <=3 batch-side shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"corpus scan not using buckets:\n$plan")
      // and the keep-first pick is an aggregate, not a content-keyed
      // window (the dedupExact discipline)
      assert(!plan.contains("Window"),
        s"a window crept back into the intra-batch pick:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP DATABASE IF EXISTS graft_idb CASCADE")
    }
  }

  test("hamming64 column matches JVM bitCount") {
    val d = Seq((0x0FL, 0xF0L)).toDF("a", "b")
      .select(Dedup.hamming64(col("a"), col("b"))).head()
      .get(0).asInstanceOf[Number].longValue
    assert(d == 8)
  }

  test("editDistanceNearDupPairs finds in-threshold pairs within a block") {
    val prefix = "x" * 40 // all docs share the 32-char blocking prefix
    val docs = Seq(
      (1L, prefix + " the quick brown fox"),
      (2L, prefix + " the quick brown cat"),  // dist 3 from doc 1
      (3L, prefix + " something else entirely here"),
      (4L, "completely different prefix text")
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistanceNearDupPairs(docs, "doc_id", "text",
        prefixLen = 32, maxDist = 5)
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 3L)))
  }

  test("editDistanceNearDupPairs: identical docs at distance 0, band prunes") {
    val docs = Seq(
      (1L, "a" * 50),
      (2L, "a" * 50),            // identical -> dist 0
      (3L, "a" * 50 + "b" * 99) // same block, length band |50-149| > maxDist
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistanceNearDupPairs(docs, "doc_id", "text",
        prefixLen = 32, maxDist = 20)
      .select("id_a", "id_b", "dist").as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L)))
  }

  test("editDistanceNearDupPairs honors the per-block size cap") {
    val docs = (1L to 10L).map(i => (i, "shared prefix " + ("p" * 30) + i))
      .toDF("doc_id", "text")
    val capped = Dedup.editDistanceNearDupPairs(docs, "doc_id", "text",
      prefixLen = 32, maxDist = 5, maxBlockSize = 5)
    assert(capped.count() == 0L) // block of 10 > cap -> dropped entirely
  }

  test("canonicalDocs keeps the best-scored member per cluster") {
    val docs = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.7), // cluster {1,2,3} via edges 1-2, 2-3
      (4L, 0.2)                        // singleton
    ).toDF("doc_id", "quality")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.canonicalDocs(docs, "doc_id", "quality", edges,
        "id_a", "id_b")
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical",
        "canonical_id")
      .as[(Long, Long, Long, Boolean, Long)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3, r._4, r._5)).toSeq == Seq(
      (1L, 1L, 3L, false, 2L),
      (2L, 1L, 3L, true, 2L),  // highest quality wins
      (3L, 1L, 3L, false, 2L),
      (4L, 4L, 1L, true, 4L))) // singleton is its own canonical
  }

  test("canonicalDocs breaks score ties to the smallest id") {
    val docs = Seq((7L, 1.0), (9L, 1.0)).toDF("doc_id", "quality")
    val edges = Seq((7L, 9L)).toDF("id_a", "id_b")
    val canon = Dedup.canonicalDocs(docs, "doc_id", "quality", edges,
        "id_a", "id_b")
      .filter(col("is_canonical")).select("doc_id").as[Long].collect().toSeq
    assert(canon == Seq(7L))
  }

  test("simhash: null tokens are no-ops in both families, native and HOF") {
    graft.plans.GraftFunctions.register(spark)
    // a null token must not vote — the MinHash convention, and what any
    // engine unnesting the token array computes (unnest omits null rows)
    val row = spark.sql(
      """SELECT graft_simhash64(array('a','b','c'))                  AS x_plain,
                graft_simhash64(array('a',NULL,'b',NULL,'c'))        AS x_nulls,
                graft_simhash_md5(array('a','b','c'))                AS m_plain,
                graft_simhash_md5(array('a',NULL,'b',NULL,'c'))      AS m_nulls
      """).head()
    assert(row.get(0) == row.get(1), "xxhash64 simhash: null token voted")
    assert(row.get(2) == row.get(3), "md5 simhash: null token voted")
    // HOF folds share the skip: aggregate() with the isNull guard. The
    // HOF takes raw text (tokens from split are never null), so pin the
    // guard at the expression level via a lit array with a null element.
    import org.apache.spark.sql.functions.{array, lit}
    val hofDf = spark.range(1).select(
      graft.ext.Dedup.simhash64Hof(lit("a b c")).as("hof_text"))
    val natDf = spark.range(1).select(
      graft.ext.Dedup.simhash64(lit("a b c")).as("nat"))
    assert(hofDf.head().getLong(0) == natDf.head().getLong(0))
  }

  test("duplicatedSpanStats: cross-doc windows, merged coverage, zero-dup docs") {
    import spark.implicits._
    // d1 windows: abc bcd cde def; d2 shares abc; d3 shares bcd + cde.
    // So d1's duplicated starts are {1,2,3} → merged cover = 3+1+1 = 5 of
    // 6 tokens; d3's are {2,3} → 3+1 = 4 of 6; d4 shares nothing; a
    // short doc (< 3 tokens) yields zero windows but keeps its row.
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "z z a b c z"),
      (3L, "p b c d e p"),
      (4L, "q w e r t y"),
      (5L, "tiny doc")).toDF("doc_id", "text")
    val out = graft.ext.Dedup.duplicatedSpanStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((6L, 3L, 5L, math.floor(5.0 / 6 * 1e6) / 1e6)))
    assert(out(2L) == ((6L, 1L, 3L, 0.5)))
    assert(out(3L) == ((6L, 2L, 4L, math.floor(4.0 / 6 * 1e6) / 1e6)))
    assert(out(4L) == ((6L, 0L, 0L, 0.0)))
    assert(out(5L) == ((2L, 0L, 0L, 0.0)))
  }

  test("duplicatedSpanStats equals a brute-force interval union on random docs") {
    // non-circular pin of the sorted-starts lag identity: coverage
    // computed by literally materializing and unioning the [i, i+n-1]
    // position sets of duplicated windows, over a seeded random corpus
    // with a small vocabulary (dense genuine cross-doc repeats)
    import spark.implicits._
    val n = 3
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (1L to 40L).map { id =>
      val len = 3 + rnd.nextInt(10)
      (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val expected = {
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      def windows(id: Long): Seq[(Int, String)] = {
        val t = toks(id)
        (0 to t.length - n).map(i => (i + 1, t.slice(i, i + n).mkString(" ")))
      }
      val owners = docs.flatMap { case (id, _) =>
        windows(id).map { case (_, w) => (w, id) } }
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
      docs.map { case (id, _) =>
        val dup = windows(id).filter { case (_, w) => owners(w) > 1 }
        val covered = dup.flatMap { case (i, _) => i until i + n }.distinct.size
        id -> ((toks(id).length.toLong, dup.size.toLong, covered.toLong))
      }.toMap
    }
    val got = graft.ext.Dedup.duplicatedSpanStats(
        docs.toDF("doc_id", "text"), "doc_id", "text", n)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // sanity: the corpus really has duplicated spans to exercise the merge
    assert(expected.values.exists(_._2 > 1))
  }
  test("mirrorCandidates: mirror cliques surface with exact host-corpus " +
    "Jaccard, the degenerate-hash cap drops boilerplate, minShared " +
    "drops incidental overlap, per-doc duplicates collapse first") {
    import org.apache.spark.sql.functions._
    // hosts A and B mirror three pages (B serves one twice — the
    // DISTINCT (host, hash) lift must not double-count); A and C share
    // ONE page (below minShared); 'cookie notice' is on all four
    // hosts (capped out at maxHostsPerHash = 3); D adds unique pages.
    val rows = Seq(
      ("A", "page one"), ("A", "page two"), ("A", "page three"),
      ("B", "page one"), ("B", "page two"), ("B", "page three"),
      ("B", "page three"),
      ("C", "page one"), ("C", "c only"),
      ("D", "d only one"), ("D", "d only two"),
      ("A", "cookie notice"), ("B", "cookie notice"),
      ("C", "cookie notice"), ("D", "cookie notice"))
    val got = graft.ext.Dedup.mirrorCandidates(
        rows.toDF("host", "text"), "host", "text",
        minShared = 2L, maxHostsPerHash = 3)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // only the A-B mirror pair survives: 3 shared; A serves 3 capped
    // hashes, B serves 3 (the duplicate collapsed); J = 3/3 = 1e6
    assert(got == Map(("A", "B") -> ((3L, 3L, 3L, 1000000L))), got)
  }

  test("persisted mirror-hash index: append-then-pairs is bit-identical " +
    "to mirrorCandidates over the unioned documents, and a re-appended " +
    "duplicate batch adds nothing") {
    import org.apache.spark.sql.functions._
    val loc = java.nio.file.Files.createTempDirectory("graft_mhx").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mhxdb LOCATION '$loc'")
    val t = "graft_mhxdb.mirror_hashes"
    val c1 = Seq(
      ("A", "page one"), ("A", "page two"), ("A", "page three"),
      ("B", "page one"), ("B", "page two"), ("B", "page three"),
      ("C", "c only"), ("D", "d only"))
      .toDF("host", "text")
    // cycle 2: C starts mirroring A/B's corpus (the newly discovered
    // member), plus a replayed duplicate of an existing pair
    val c2 = Seq(
      ("C", "page one"), ("C", "page two"),
      ("A", "page one")) // re-fetch of an unchanged body: must no-op
      .toDF("host", "text")
    graft.ext.Dedup.writeMirrorHashes(c1, "host", "text", t, nBuckets = 2)
    graft.ext.Dedup.appendMirrorHashes(c2, "host", "text", t)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val fromIndex = pairSet(graft.ext.Dedup.mirrorPairsFromIndex(
      spark, t, minShared = 2L, maxHostsPerHash = 3))
    val fromBatch = pairSet(graft.ext.Dedup.mirrorCandidates(
      c1.union(c2), "host", "text", minShared = 2L, maxHostsPerHash = 3))
    assert(fromIndex == fromBatch, fromIndex)
    assert(fromIndex.map(p => (p._1, p._2)) == Set(("A", "B"), ("A", "C"),
      ("B", "C"))) // the appended member joined the mirror clique
    // the store stays the union's DISTINCT: the duplicate added no row
    val n = spark.table(t).count()
    graft.ext.Dedup.appendMirrorHashes(c2, "host", "text", t)
    assert(spark.table(t).count() == n)
    assert(pairSet(graft.ext.Dedup.mirrorPairsFromIndex(
      spark, t, minShared = 2L, maxHostsPerHash = 3)) == fromBatch)
  }

  test("mirrorPairsForHosts: probe-scoped pairs are bit-identical to " +
    "the full lift filtered to probe-involving pairs — including " +
    "store-exact cap decisions for a partner's out-of-slice hashes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("graft_mph").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_mphdb LOCATION '$loc'")
    val t = "graft_mphdb.mirror_hashes"
    // A/B/C a mirror clique; E/F a second clique the probe must NOT
    // surface; partner B additionally carries "boiler", shared by 4
    // hosts (over the cap of 3) NONE of which share anything with the
    // probe — the cap decision for it is only visible store-wide, so
    // a slice-counted cap would inflate B's n_b and drift the jaccard
    val docs = Seq(
      ("A", "page one"), ("A", "page two"),
      ("B", "page one"), ("B", "page two"),
      ("C", "page one"), ("C", "page two"), ("C", "c extra"),
      ("B", "boiler"), ("X", "boiler"), ("Y", "boiler"), ("Z", "boiler"),
      ("E", "e one"), ("E", "e two"),
      ("F", "e one"), ("F", "e two"))
      .toDF("host", "text")
    graft.ext.Dedup.writeMirrorHashes(docs, "host", "text", t,
      nBuckets = 2)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val probes = Seq("A").toDF("host")
    val scoped = pairSet(graft.ext.Dedup.mirrorPairsForHosts(
      spark, t, probes, "host", minShared = 2L, maxHostsPerHash = 3))
    val full = pairSet(graft.ext.Dedup.mirrorPairsFromIndex(
        spark, t, minShared = 2L, maxHostsPerHash = 3))
      .filter(p => p._1 == "A" || p._2 == "A")
    assert(scoped == full, s"scoped $scoped != full-filtered $full")
    // the probe surfaces its own clique only, with B's capped-out
    // boilerplate hash excluded from n_b exactly as in the full lift
    assert(scoped.map(p => (p._1, p._2)) == Set(("A", "B"), ("A", "C")))
    val ab = scoped.find(p => p._1 == "A" && p._2 == "B").get
    assert(ab._4 == 2L && ab._5 == 2L, ab) // n_a = n_b = 2, not 3
    // an unknown probe host (nothing stored) surfaces nothing
    assert(pairSet(graft.ext.Dedup.mirrorPairsForHosts(spark, t,
      Seq("nope").toDF("host"), "host", 2L, 3)).isEmpty)
  }
}
