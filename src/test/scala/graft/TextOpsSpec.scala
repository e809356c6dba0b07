package graft

import graft.ext.{QualityModel, TextOps}
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c).head().get(0)

  test("tokens splits on runs of whitespace and trims") {
    assert(one("  a  b\tc\nd ", size(TextOps.tokens(col("text")))) == 4)
  }

  test("tokenCount / distinctTokenCount") {
    val df = Seq("the cat and the hat").toDF("text")
    val r = df.select(TextOps.tokenCount(col("text")),
      TextOps.distinctTokenCount(col("text"))).head()
    assert(r.getInt(0) == 5 && r.getInt(1) == 4)
  }

  test("tokenEstimate counts words and single punctuation marks") {
    // "Hello, world!" -> Hello , world !  = 4
    assert(one("Hello, world!", TextOps.tokenEstimate(col("text"))) == 4)
  }

  test("stopwordRatio is hits/tokens, case-insensitive") {
    val r = one("The cat OF doom", TextOps.stopwordRatio(col("text"),
      TextOps.Stopwords("en"))).asInstanceOf[Double]
    assert(math.abs(r - 0.5) < 1e-9)
  }

  test("stopwordRatio of empty text is 0, not NaN") {
    val r = one("", TextOps.stopwordRatio(col("text"), TextOps.Stopwords("en")))
    assert(r.asInstanceOf[Double] == 0.0)
  }

  test("languageId identifies each stopword language and CJK") {
    val cases = Seq(
      "the cat is on the mat and it is happy" -> "en",
      "der Hund ist ein Tier und das ist gut" -> "de",
      "le chat est un animal et la vie est belle" -> "fr",
      "el perro es un animal y la vida es buena" -> "es",
      "这是一个中文句子" -> "zh",
      "xyzzy plugh qwerty" -> "und")
    val out = cases.map(_._1).toDF("text")
      .select(col("text"), TextOps.languageId(col("text")).as("lang"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (text, want) => assert(out(text) == want, text) }
  }

  test("qualityScore stays in [0,1] and rewards normal prose") {
    val good = "The quick brown fox jumps over the lazy dog near the river bank " * 4
    val bad = "@@@@ #### $$$$ %%%%"
    val df = Seq(good, bad).toDF("text")
      .select(col("text"), TextOps.qualityScore(col("text")).as("q"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(m(good) > m(bad))
  }

  test("fingerprint is whitespace-insensitive but order-sensitive") {
    val df = Seq("a b c", "a  b\tc", "c b a").toDF("text")
      .select(TextOps.fingerprint(col("text")).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("fingerprintPortable: same contract, bit-exact vs independent md5") {
    val df = Seq("a b c", "a  b\tc", "c b a").toDF("text")
      .select(TextOps.fingerprintPortable(col("text")).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(1)) // whitespace-insensitive
    assert(fps(0) != fps(2)) // order-sensitive
    // bit-exact pin against an independent JVM md5 of the canonical join —
    // the same 15-hex-digit prefix the DuckDB oracle reads
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("a b c".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(fps(0) == java.lang.Long.parseLong(hex.take(15), 16))
    assert(fps(0) >= 0L) // 60 bits: signed-BIGINT-safe on every engine
  }

  test("stableSplit: deterministic, growth-stable, roughly proportioned") {
    val base = (1L to 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s1 = TextOps.stableSplit(base, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // growing the corpus must never move an existing document's split
    val grown = (1L to 800L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val s2 = TextOps.stableSplit(grown, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1.forall { case (id, sp) => s2(id) == sp })
    // proportions near 12/2/2 sixteenths
    val n = s2.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > 500 && n("val") > 50 && n("test") > 50)
    // a different salt reshuffles assignments
    val salted = TextOps.stableSplit(base, "doc_id", salt = "other")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(base.count() > 0 && s1.exists { case (id, sp) => salted(id) != sp })
  }

  test("tfidfTopTerms ranks corpus-rare terms above ubiquitous ones") {
    val df = Seq(
      (1L, "shared quantum"),
      (2L, "shared words only"),
      (3L, "shared words again")
    ).toDF("doc_id", "text")
    val top = TextOps.tfidfTopTerms(df, "doc_id", "text", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    // equal tf, but "quantum" is unique to doc 1 (df=1) while "shared"
    // appears corpus-wide (df=3) -> higher idf wins
    assert(top(1L) == "quantum")
    // ranks are dense 1..k and scores positive
    val all = TextOps.tfidfTopTerms(df, "doc_id", "text", k = 3)
      .as[(Long, Int, String, Double)].collect()
    assert(all.forall(_._4 > 0))
    assert(all.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(1, 2))
    assert(all.filter(_._1 == 2L).map(_._2).sorted.toSeq == Seq(1, 2, 3))
  }

  test("tfidfTopTerms native top-k ranking equals the window formulation") {
    graft.plans.GraftFunctions.register(spark)
    // many docs over a small vocab: heavy tfidf ties exercise the
    // term-ascending tie-break in both paths
    val rnd = new scala.util.Random(3)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "shared", "rare")
    val df = (1L to 200L).map(i =>
        (i, Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text").repartition(8)
    // reference: every scored term of a document (k ≥ vocabulary size),
    // ranked per document by the window order (tfidf DESC, term ASC)
    // and cut at k
    val all = TextOps.tfidfTopTerms(df, "doc_id", "text", k = vocab.size)
      .as[(Long, Int, String, Double)].collect()
    val win = all.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (-r._4, r._3)).take(3).zipWithIndex
        .map { case (r, i) => (r._1, i + 1, r._3, r._4) }
    }.toSet
    val nat = TextOps.tfidfTopTerms(df, "doc_id", "text", k = 3)
      .as[(Long, Int, String, Double)].collect().toSet
    assert(nat == win)
    assert(nat.nonEmpty)
    // and the plan really has no window sort
    val plan = TextOps.tfidfTopTerms(df, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
  }

  test("repetitionStats: top-token share and duplicate-bigram fraction") {
    val df = Seq(
      (1L, "spam spam spam spam"),     // one token, all bigrams identical
      (2L, "all tokens fully distinct"),
      (3L, "one")                      // <2 tokens -> bigram fraction 0
    ).toDF("doc_id", "text")
    val rows = TextOps.repetitionStats(df, "doc_id", "text")
      .as[(Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(rows(1L) == ((1.0, round1(1.0 - 1.0 / 3))))
    assert(rows(2L) == ((0.25, 0.0)))
    assert(rows(3L) == ((1.0, 0.0)))
  }

  private def round1(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("withPiiCounts flags emails, urls, ips and nothing else") {
    val df = Seq(
      (1L, "write to a@b.io or c.d+x@e.org today"),
      (2L, "see https://x.y/z and http://p.q"),
      (3L, "host 192.168.1.1 responded"),
      (4L, "perfectly clean prose with no identifiers")
    ).toDF("id", "text")
    val rows = TextOps.withPiiCounts(df, "text")
      .select("id", "n_email", "n_url", "n_ipv4", "has_pii")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4))).toMap
    assert(rows(1L) == ((2, 0, 0, true)))
    assert(rows(2L) == ((0, 2, 0, true)))
    assert(rows(3L) == ((0, 0, 1, true)))
    assert(rows(4L) == ((0, 0, 0, false)))
  }

  test("withStats matches hand-computed values") {
    val r = TextOps.withStats(Seq(("d1", "aa bb aa")).toDF("id", "text"), "text")
      .select("n_chars_computed", "n_tokens", "n_distinct_tokens",
        "type_token_ratio", "avg_token_len").head()
    assert(r.getInt(0) == 8 && r.getInt(1) == 3 && r.getInt(2) == 2)
    assert(math.abs(r.getDouble(3) - 2.0 / 3) < 1e-6)
    assert(math.abs(r.getDouble(4) - 2.0) < 1e-6)
  }

  test("sampleToTokenBudget respects the budget in every group") {
    val docs = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd", ("w " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "grp", "text")
    val kept = TextOps.sampleToTokenBudget(docs, "doc_id", "text",
      Seq("grp"), budgetTokens = 10L)
    val perGroup = kept.groupBy("grp")
      .agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"))
      .as[(String, Long)].collect().toMap
    assert(perGroup.nonEmpty)
    assert(perGroup.values.forall(_ <= 10L), s"budget exceeded: $perGroup")
    assert(kept.count() < 40L, "sampling must actually drop documents")
  }

  test("sampleToTokenBudget is deterministic and salt-sensitive") {
    val docs = (1L to 30L).map(i => (i, "g", "a b c")).toDF("doc_id", "grp", "text")
    def ids(salt: String) = TextOps.sampleToTokenBudget(docs, "doc_id",
        "text", Seq("grp"), budgetTokens = 9L, salt = salt)
      .select("doc_id").as[Long].collect().toSet
    assert(ids("graft") == ids("graft")) // reproducible
    assert(ids("graft").size == 3)       // 3 docs × 3 tokens fill budget 9
    assert(ids("graft") != ids("other"), "different salt, different sample")
  }

  test("packSequences: contiguous stream, spans cross boundaries") {
    // 3 docs x 4 tokens in group g, window 5: the stream is 12 tokens ->
    // offsets 0,4,8; doc at offset 4 spans sequences 0 and 1
    val docs = Seq((1L, "g", "a b c d"), (2L, "g", "e f g h"),
      (3L, "g", "i j k l")).toDF("doc_id", "grp", "text")
    val rows = TextOps.packSequences(docs, "doc_id", "text", Seq("grp"),
        windowTokens = 5)
      .select("start_tok", "n_tokens", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0L, 4L, 8L)) // contiguous stream
    rows.foreach { case (start, n, sf, sl) =>
      assert(sf == start / 5 && sl == (start + n - 1) / 5)
    }
    assert(rows.exists { case (_, _, sf, sl) => sf != sl },
      "fixture must include a boundary-crossing document")
  }

  test("packSequences packs each group independently from offset zero") {
    val docs = Seq((1L, "x", "a b"), (2L, "y", "c d"))
      .toDF("doc_id", "grp", "text")
    val starts = TextOps.packSequences(docs, "doc_id", "text", Seq("grp"),
        windowTokens = 8)
      .select("grp", "start_tok").as[(String, Long)].collect().toMap
    assert(starts == Map("x" -> 0L, "y" -> 0L))
  }

  test("sampleToTokenBudget keeps nothing when the first doc overflows") {
    val docs = Seq((1L, "g", ("t " * 50).trim)).toDF("doc_id", "grp", "text")
    assert(TextOps.sampleToTokenBudget(docs, "doc_id", "text", Seq("grp"),
      budgetTokens = 10L).count() == 0L)
  }

  test("weightedSample: deterministic, biased to heavy weights, gated") {
    // 95 light docs (weight 1) vs 5 heavy (weight 10000): with
    // exponential-rank priorities the heavies all but surely take the 5
    // slots; one doc has weight 0 and must never appear
    val docs = (1L to 100L).map { i =>
      val w = if (i <= 5) 10000L else if (i == 100L) 0L else 1L
      (i, "g", w)
    }.toDF("doc_id", "grp", "w")
    def run() = TextOps.weightedSample(docs, "doc_id", "w", Seq("grp"), k = 5)
      .select("doc_id", "sample_rank").as[(Long, Long)].collect().sortBy(_._2)
    val a = run()
    assert(a.toSeq == run().toSeq, "sample must be reproducible")
    assert(a.length == 5)
    assert(a.count(_._1 <= 5) >= 4, s"heavy docs under-sampled: ${a.toSeq}")
    assert(!a.exists(_._1 == 100L), "zero-weight row sampled")
  }

  test("weightedSample samples per group independently") {
    val docs = Seq((1L, "x", 5L), (2L, "x", 5L), (3L, "y", 5L))
      .toDF("doc_id", "grp", "w")
    val out = TextOps.weightedSample(docs, "doc_id", "w", Seq("grp"), k = 1)
      .select("grp", "doc_id").as[(String, Long)].collect().toMap
    assert(out.keySet == Set("x", "y"))
    assert(out("y") == 3L)
  }

  test("chunkTokens covers every token with ceil(n/stride) overlapping chunks") {
    // 10 tokens, window 4, stride 3 -> starts 0,3,6,9; last chunk short
    val docs = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = TextOps.chunkTokens(docs, "doc_id", "text", window = 4,
        stride = 3)
      .select("chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(rows.length == 4)
    assert(rows(0) == ((0L, "t1 t2 t3 t4", 4L)))
    assert(rows(1) == ((1L, "t4 t5 t6 t7", 4L))) // overlap of window-stride=1
    assert(rows(3) == ((3L, "t10", 1L)))         // trailing partial chunk
    // every token appears in at least one chunk
    val covered = rows.flatMap(_._2.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
  }

  test("chunkTokens emits exactly one chunk when the doc fits the window") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val rows = TextOps.chunkTokens(docs, "doc_id", "text", window = 8,
        stride = 8)
      .select("chunk_idx", "chunk_text", "n_chunk_tokens")
      .as[(Long, String, Long)].collect().toSeq
    assert(rows == Seq((0L, "a b c", 3L)))
  }

  test("property: chunk count, content and coverage across shapes") {
    val shapes = Seq((4, 2), (8, 8), (16, 5), (3, 1))
    val lengths = Seq(1, 2, 3, 7, 16, 33, 100)
    shapes.foreach { case (window, stride) =>
      val docs = lengths.map { n =>
        (n.toLong, (1 to n).map(i => s"t$i").mkString(" "))
      }.toDF("doc_id", "text")
      val got = TextOps.chunkTokens(docs, "doc_id", "text", window, stride)
        .select("doc_id", "chunk_idx", "chunk_text")
        .as[(Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      lengths.foreach { n =>
        val toks = (1 to n).map(i => s"t$i")
        val want = (0 until n by stride)
          .map(s => toks.slice(s, s + window).mkString(" "))
        assert(got(n.toLong) == want,
          s"window=$window stride=$stride n=$n")
        assert(got(n.toLong).size == (n + stride - 1) / stride) // ceil
      }
    }
  }

  test("chunkTokens rejects a stride larger than the window") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextOps.chunkTokens(docs, "doc_id", "text", window = 2, stride = 3)
    }
  }

  test("charEntropy: degenerate and uniform distributions") {
    // single repeated char -> 0; "ab" -> ln 2; empty -> 0
    val e0 = one("aaaa", TextOps.charEntropy(col("text"))).asInstanceOf[Double]
    assert(e0 == 0.0)
    val e2 = one("ab", TextOps.charEntropy(col("text"))).asInstanceOf[Double]
    assert(math.abs(e2 - math.log(2)) < 1e-6)
    assert(one("", TextOps.charEntropy(col("text"))) == 0.0)
  }

  test("withCharEntropy matches the single-column charEntropy bit for bit") {
    val docs = Seq((1L, "The quick brown fox! 123"), (2L, "aaaa"),
      (3L, ""), (4L, "mixed £ CASE £ text 42")).toDF("doc_id", "text")
    val staged = TextOps.withCharEntropy(docs, "text")
      .select("doc_id", "entropy").as[(Long, Double)].collect().toMap
    val direct = docs.select(col("doc_id"),
        TextOps.charEntropy(col("text")).as("e"))
      .as[(Long, Double)].collect().toMap
    assert(staged == direct)
    // and the staged plan keeps the original columns
    assert(TextOps.withCharEntropy(docs, "text").columns.toSeq ==
      Seq("doc_id", "text", "entropy"))
  }

  test("charEntropy is case-insensitive and buckets unknown chars as other") {
    val a = one("AbAb", TextOps.charEntropy(col("text"))).asInstanceOf[Double]
    val b = one("abab", TextOps.charEntropy(col("text"))).asInstanceOf[Double]
    assert(a == b)
    // 2 distinct non-alphabet chars collapse into ONE other bucket:
    // "a£a€" has buckets {a:2, other:2} -> ln 2
    val o = one("a£a€", TextOps.charEntropy(col("text")))
      .asInstanceOf[Double]
    assert(math.abs(o - math.log(2)) < 1e-6)
  }

  test("capPerKey keeps the k best per key with deterministic ties") {
    graft.plans.GraftFunctions.register(spark)
    val df = Seq(
      ("a", 10L, 3.0), ("a", 11L, 5.0), ("a", 12L, 5.0), ("a", 13L, 1.0),
      ("b", 20L, 2.0),
      ("c", 30L, 7.0), ("c", 31L, 7.0), ("c", 32L, 7.0)
    ).toDF("src", "doc_id", "score").repartition(4)
    val kept = TextOps.capPerKey(df, "src", "score", "doc_id", k = 2)
      .as[(String, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    // ties rank by payload ASC; short groups keep everything
    assert(kept.toSeq == Seq(
      ("a", 1L, 11L, 5.0), ("a", 2L, 12L, 5.0),
      ("b", 1L, 20L, 2.0),
      ("c", 1L, 30L, 7.0), ("c", 2L, 31L, 7.0)))
  }

  // one big + one small source, enough rows that rate differences show
  private def mixCorpus = {
    val rows = (0L until 900L).map(i => (i, "big")) ++
      (900L until 1000L).map(i => (i, "small"))
    rows.toDF("doc_id", "src").repartition(4)
  }

  test("temperatureMixSample is deterministic and a subset of the input") {
    val a = TextOps.temperatureMixSample(mixCorpus, "doc_id", "src", 300L)
      .select("doc_id").as[Long].collect().sorted
    val b = TextOps.temperatureMixSample(mixCorpus, "doc_id", "src", 300L)
      .select("doc_id").as[Long].collect().sorted
    assert(a.sameElements(b) && a.nonEmpty)
    assert(a.toSet.subsetOf((0L until 1000L).toSet))
  }

  test("temperatureMixSample upweights small sources at alpha < 1") {
    val kept = TextOps.temperatureMixSample(mixCorpus, "doc_id", "src",
        budget = 300L, alpha = 0.5)
      .groupBy("src").count().as[(String, Long)].collect().toMap
    // expected keep rates: ∝ sqrt(n)/n, so small keeps sqrt(9)=3× the
    // RATE of big; with u uniform the realized rates concentrate there
    val rateBig = kept.getOrElse("big", 0L).toDouble / 900.0
    val rateSmall = kept.getOrElse("small", 0L).toDouble / 100.0
    assert(rateSmall > 2.0 * rateBig,
      s"small rate $rateSmall should be ~3x big rate $rateBig")
    // and alpha = 1 equalizes the rates (proportional sampling)
    val prop = TextOps.temperatureMixSample(mixCorpus, "doc_id", "src",
        budget = 300L, alpha = 1.0)
      .groupBy("src").count().as[(String, Long)].collect().toMap
    val pBig = prop.getOrElse("big", 0L).toDouble / 900.0
    val pSmall = prop.getOrElse("small", 0L).toDouble / 100.0
    assert(math.abs(pBig - pSmall) < 0.15,
      s"alpha=1 rates should match: $pBig vs $pSmall")
  }

  test("temperatureMixSample keeps everything when budget covers the corpus") {
    val kept = TextOps.temperatureMixSample(mixCorpus, "doc_id", "src",
      budget = 10000L).count()
    assert(kept == 1000L)
  }

  test("redactPii masks all three kinds; URL containment wins over ipv4") {
    val df = Seq(
      (1L, "mail bob@example.com and 10.0.0.1 end"),
      (2L, "see https://10.0.0.1/secret?x=1 now"),
      (3L, "clean text with no identifiers")
    ).toDF("doc_id", "text")
    val r = TextOps.redactPii(df, "text")
      .select("doc_id", "text_redacted").as[(Long, String)].collect().toMap
    assert(r(1L) == "mail [EMAIL] and [IPV4] end")
    // the address lives in the URL authority: redacted as part of [URL],
    // never double-redacted — order contract email -> url -> ipv4
    assert(r(2L) == "see [URL] now")
    assert(r(3L) == "clean text with no identifiers")
  }

  test("shuffleShards: contiguous 1-based positions, bounded shards, salt moves the order") {
    val df = (0L until 500L).toDF("doc_id").repartition(4)
    val out = TextOps.shuffleShards(df, "doc_id", nShards = 8)
      .select("shard", "pos", "doc_id").as[(Int, Long, Long)].collect()
    assert(out.length == 500)
    assert(out.map(_._3).sorted.sameElements(0L until 500L))
    assert(out.forall(r => r._1 >= 0 && r._1 < 8))
    // positions within each shard are exactly 1..|shard|
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.sameElements(1L to rows.length.toLong))
    }
    // reproducible; a different salt yields a different permutation
    val again = TextOps.shuffleShards(df, "doc_id", nShards = 8)
      .select("shard", "pos", "doc_id").as[(Int, Long, Long)].collect()
    assert(out.sortBy(_._3).sameElements(again.sortBy(_._3)))
    val other = TextOps.shuffleShards(df, "doc_id", nShards = 8,
        salt = "epoch2")
      .select("shard", "pos", "doc_id").as[(Int, Long, Long)].collect()
    assert(!out.sortBy(_._3).sameElements(other.sortBy(_._3)))
  }

  test("stripRepeatedLines keeps first occurrences in order; null survives") {
    val df = Seq(
      (1L, "a\nb\na\nc\nb\na"),
      (2L, "solo"),
      (3L, null.asInstanceOf[String])).toDF("id", "text")
    val rows = TextOps.stripRepeatedLines(df, "text")
      .select("id", "lines_total", "lines_kept", "text_unique")
      .collect().sortBy(_.getLong(0))
    assert((rows(0).getLong(1), rows(0).getLong(2), rows(0).getString(3))
      == ((6L, 3L, "a\nb\nc")))
    assert((rows(1).getLong(1), rows(1).getLong(2), rows(1).getString(3))
      == ((1L, 1L, "solo")))
    // a hygiene pass must never lose documents: NULL text → genuinely
    // NULL stats (asserted directly — a -1 sentinel would also accept
    // legacy size(NULL) = -1 and miss an ANSI-mode divergence), row present
    assert(rows(2).getLong(0) == 3L)
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2) && rows(2).isNullAt(3))
  }

  test("stripRepeatedLines: empty lines and custom separator") {
    val df = Seq((1L, "x||x|y|")).toDF("id", "text")
    val r = TextOps.stripRepeatedLines(df, "text", sep = "|")
      .select("lines_total", "lines_kept", "text_unique").head()
    // split keeps interior and trailing empties: [x, "", x, y, ""]
    assert(r.getLong(0) == 5L && r.getLong(1) == 3L)
    assert(r.getString(2) == "x||y")
  }

  test("cleanLines applies terminal-punct, min-words and blocklist rules") {
    val text = Seq(
      "A good long sentence stays here.",   // kept
      "Ends with a question, still fine?",  // kept
      "no terminal punctuation on this",    // dropped: punct
      "Too short.",                         // dropped: < 3 words
      "Please enable JavaScript right now.", // dropped: blocklist (ci)
      "  Trimmed line also counts words properly!  " // kept (trimmed)
    ).mkString("\n")
    val r = TextOps.cleanLines(Seq((1L, text)).toDF("id", "text"), "text")
      .select("lines_total", "lines_kept", "text_clean").head()
    assert(r.getLong(0) == 6L && r.getLong(1) == 3L)
    assert(r.getString(2) ==
      "A good long sentence stays here.\n" +
      "Ends with a question, still fine?\n" +
      "  Trimmed line also counts words properly!  ")
  }

  test("cleanLines: custom minWords and empty blocklist; all-junk doc") {
    val df = Seq((1L, "One two.\nall lowercase junk")).toDF("id", "text")
    val strict = TextOps.cleanLines(df, "text", minWords = 2,
        blocklist = Seq.empty)
      .select("lines_kept", "text_clean").head()
    assert(strict.getLong(0) == 1L && strict.getString(1) == "One two.")
    // every line junk → empty string, not a lost row
    val none = TextOps.cleanLines(Seq((1L, "junk")).toDF("id", "text"),
        "text").select("lines_kept", "text_clean").head()
    assert(none.getLong(0) == 0L && none.getString(1) == "")
    intercept[IllegalArgumentException] {
      TextOps.cleanLines(df, "text", minWords = 0)
    }
  }

  test("qualityClassifierScore matches a plain-Scala reference bit-for-bit") {
    // independent implementation of the md5 → bucket → milli-weight chain
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def weightMilli(tok: String): Long = {
      val bucket = java.lang.Long.parseLong(
        md5hex(s"f:graft:$tok").substring(0, 8), 16) % 1024
      java.lang.Long.parseLong(
        md5hex(s"w:graft:$bucket").substring(0, 8), 16) % 2001 - 1000
    }
    def expected(text: String): (Long, Long, Double, Boolean) = {
      val toks = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
      val z = toks.map(weightMilli).sum
      val score = math.floor(z / (toks.length * 1000.0) * 1e6) / 1e6
      (toks.length.toLong, z, score, score >= 0.0)
    }
    val texts = Seq(
      (1L, "Alpha beta gamma delta"),
      (2L, "alpha alpha alpha"),      // repeated token: 3 × one weight
      (3L, "The quick brown fox jumps over the lazy dog"))
    val out = QualityModel.qualityClassifierScore(
        texts.toDF("id", "text"), "text")
      .select("id", "n_tokens", "logit_milli", "quality_logit", "kept")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    texts.foreach { case (id, text) =>
      assert(out(id) == expected(text), s"doc $id: ${out(id)} vs ${expected(text)}")
    }
    // the repeated-token doc's logit is exactly 3× the single weight
    assert(out(2L)._2 == 3 * weightMilli("alpha"))
    // the mean weight is bounded by the weight range
    out.values.foreach(v => assert(v._3 >= -1.0 && v._3 <= 1.0))
  }

  test("bigramLmScore matches hand-computed add-one bigram probabilities") {
    // corpus: d1 = "a b a b", d2 = "a b c", d3 one token.
    // bigrams: d1 (a,b)(b,a)(a,b); d2 (a,b)(b,c)
    // c12: (a,b)=3 (b,a)=1 (b,c)=1; c1: a=3 b=2; V = |{a,b}| = 2
    // contribs (micro): (a,b) = 1e6*4/(3+2) = 800000
    //                   (b,a) = 1e6*2/(2+2) = 500000
    //                   (b,c) = 1e6*2/(2+2) = 500000
    // d1 mean = (800000+500000+800000)/3 = 700000 → 0.7
    // d2 mean = (800000+500000)/2       = 650000 → 0.65
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextOps.bigramLmScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((4L, 3L, 700000L, 0.7)))
    assert(out(2L) == ((3L, 2L, 650000L, 0.65)))
    // a doc too short for bigrams keeps its row with zero scores
    assert(out(3L) == ((1L, 0L, 0L, 0.0)))
  }

  test("persisted bigram LM: self-score parity and unseen smoothing") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo"))
      .toDF("doc_id", "text")
    // fresh-location database: the warehouse dir outlives the in-memory
    // catalog across JVMs, so a fixed default-db table name would collide
    // on the second run (MinHashIndexSpec convention)
    val loc = java.nio.file.Files.createTempDirectory("graft_lm").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_lmdb LOCATION '$loc'")
    TextOps.writeBigramLm(docs, "doc_id", "text", "graft_lmdb.lm_spec",
      nBuckets = 4)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    // scoring the training corpus against the persisted model is
    // bit-identical to the single-plan trainer-scorer
    assert(canon(TextOps.scoreAgainstBigramLm(spark, "graft_lmdb.lm_spec", docs,
        "doc_id", "text"))
      == canon(TextOps.bigramLmScore(docs, "doc_id", "text")))
    // unseen data hits the add-one floor: V = |{a, b}| = 2;
    // fully-unseen "x y" → (1e6·1) div (0+2) = 500000;
    // seen context "a" (c1 = 3) with unseen bigram → (1e6·1) div (3+2)
    val novel = Seq((10L, "x y"), (11L, "a z")).toDF("doc_id", "text")
    val got = TextOps.scoreAgainstBigramLm(spark, "graft_lmdb.lm_spec", novel,
        "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got(10L) == ((1L, 500000L)))
    assert(got(11L) == ((1L, 200000L)))
    // probe plan: the model tables read bucket-aligned (broadcast at this
    // size; bucket-joined when large) — the batch's bigrams never shuffle
    // for the model lookup, only the per-doc aggregate + re-attach keys do
    val plan = TextOps.scoreAgainstBigramLm(spark, "graft_lmdb.lm_spec", novel,
      "doc_id", "text").queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"model scan not bucketed:\n$plan")
    val ex = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(ex <= 3, s"$ex hash exchanges in probe plan:\n$plan")

    // per-doc purity against the STATIC model: scoring in two batches
    // unions to scoring everything at once, which is what lets the
    // persisted scorer run per micro-batch on an ingest stream (the
    // ReleasePipeline.curate property, for the LM)
    val all = Seq((1L, "a b a b"), (2L, "a b c"), (10L, "x y"),
      (11L, "a z")).toDF("doc_id", "text")
    def score(df: org.apache.spark.sql.DataFrame) =
      TextOps.scoreAgainstBigramLm(spark, "graft_lmdb.lm_spec", df,
        "doc_id", "text").collect().map(_.toSeq).toSet
    val perBatch = score(all.filter(col("doc_id") < 10)) ++
      score(all.filter(col("doc_id") >= 10))
    assert(perBatch == score(all))
  }

  test("qualityClassifierScore: NULL document scores NULL but kept is FALSE") {
    // the declared null policy: nothing to score (NULL n_tokens/logit/
    // quality_logit), but the document is decidedly NOT kept — so
    // filter(kept) drops it while filter(!kept) retains it, instead of
    // both filters silently discarding a NULL flag
    val out = QualityModel.qualityClassifierScore(
        Seq((1L, "alpha beta"), (2L, null)).toDF("id", "text"), "text")
    val nullDoc = out.filter(col("id") === 2L).head()
    assert(nullDoc.isNullAt(nullDoc.fieldIndex("n_tokens")))
    assert(nullDoc.isNullAt(nullDoc.fieldIndex("logit_milli")))
    assert(nullDoc.isNullAt(nullDoc.fieldIndex("quality_logit")))
    assert(nullDoc.getBoolean(nullDoc.fieldIndex("kept")) == false)
    assert(out.filter(col("kept")).count() +
      out.filter(!col("kept")).count() == 2, "every document must be decided")
  }

  test("histogramDrift handles column names that need backtick quoting") {
    // the bin expression is Column-built, so a name with spaces/dots
    // must bin identically to a plain name (a raw-string expr() parse
    // would either throw or resolve the wrong thing)
    val a = Seq(("k1", 10L), ("k1", 60L)).toDF("source", "my value.v2")
    val b = Seq(("k1", 10L)).toDF("source", "my value.v2")
    val rows = TextOps.histogramDrift(a, b, "source", "my value.v2",
        binWidth = 50L, nBins = 6)
      .select("source", "bin", "n_a", "n_b").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows(("k1", 0L)) == ((1L, 1L)))
    assert(rows(("k1", 1L)) == ((1L, 0L)))
  }

  test("histogramDrift: exact micro-shares, missing bins, capped top bin") {
    // A: key k1 values 10, 60, 310 → bins 0, 1, 5 (capped); k2 value 10
    // B: k1 values 10, 10, 60  → bins 0, 0, 1
    val a = Seq(("k1", 10L), ("k1", 60L), ("k1", 310L), ("k2", 10L))
      .toDF("source", "v")
    val b = Seq(("k1", 10L), ("k1", 10L), ("k1", 60L)).toDF("source", "v")
    val rows = TextOps.histogramDrift(a, b, "source", "v",
        binWidth = 50L, nBins = 6)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // k1 bin 0: A 1/3 = 333333μ, B 2/3 = 666666μ → drift 333333
    assert(rows(("k1", 0L)) == ((1L, 2L, 333333L, 666666L, 333333L)))
    // k1 bin 1: equal shares → zero drift
    assert(rows(("k1", 1L)) == ((1L, 1L, 333333L, 333333L, 0L)))
    // k1 bin 5 (capped): present only in A
    assert(rows(("k1", 5L)) == ((1L, 0L, 333333L, 0L, 333333L)))
    // k2 exists only in A: share 10⁶ vs 0 against an empty B total
    assert(rows(("k2", 0L)) == ((1L, 0L, 1000000L, 0L, 1000000L)))
    assert(rows.size == 4)
  }

  test("vocabularyCoverage: hand-computed ranks, counts, and ppm shares") {
    graft.plans.GraftFunctions.register(spark)
    // tokens: a×5, b×3, c×1, d×1  (total 10); case-folded, empty dropped
    val docs = Seq(
      (1L, "a a A b"), (2L, "a  a b B"), (3L, "c d")).toDF("doc_id", "text")
    val out = graft.ext.TextOps.vocabularyCoverage(docs, "text", topV = 3)
      .as[(Long, String, Long, Long)].collect().toSeq
    // ties at cnt=1 break by token asc → c outranks d; d excluded at V=3
    assert(out == Seq(
      (1L, "a", 5L, 500000L),   // 5/10
      (2L, "b", 3L, 800000L),   // 8/10
      (3L, "c", 1L, 900000L)))  // 9/10
  }

  test("vocabularyCoverage equals the window formulation on a tie-heavy corpus") {
    graft.plans.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(5)
    val docs = (1 to 200).map(i =>
      (i.toLong, Seq.fill(20)(s"t${rnd.nextInt(30)}").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.ext.TextOps.vocabularyCoverage(docs, "text", topV = 10)
      .as[(Long, String, Long, Long)].collect().toSeq
    val toks = docs.select(explode(split(trim(lower(col("text"))), "\\s+"))
      .as("token")).filter(col("token") =!= "")
    val cnt = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
    val total = cnt.agg(sum("cnt")).as[Long].head()
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("token"))
    val want = cnt.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .withColumn("cum", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.orderBy("rank")
          .rowsBetween(Long.MinValue, 0)))
      .select(col("rank").cast("long"), col("token"), col("cnt"),
        expr(s"cum * 1000000L div ${total}L"))
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("gopherRules: each rule fires on its boundary, integer-exact") {
    import org.apache.spark.sql.Row
    // a passing base: 50 words (boundary-inclusive), all alphabetic,
    // mean length in [3,10], two stop words, no symbols/bullets/ellipses
    val passing = (Seq("the", "with") ++ Seq.fill(48)("word")).mkString(" ")
    val docs = Seq(
      (0L, passing),                                  // everything passes
      (1L, (Seq("the", "with") ++ Seq.fill(47)("word")).mkString(" ")), // 49 words
      (2L, passing + " " + Seq.fill(5)("#").mkString(" ")), // 55 words, 5 '#' → 50<=55 passes; plus one more '#' fails
      (3L, passing + " ...... ..."),                  // 52 words, symbols: '......'→2 + '...'→1 = 3; 30<=52 pass
      (4L, (Seq("the", "with") ++ Seq.fill(48)("xx")).mkString(" ")), // mean len 2.24 <3 fails
      (5L, (Seq("the") ++ Seq.fill(49)("word")).mkString(" ")), // 1 stop word fails
      (6L, (Seq("the", "with") ++ Seq.fill(38)("word") ++ Seq.fill(10)("123")).mkString(" ")), // alpha 40/50 = exactly 80% passes
      (7L, (Seq("the", "with") ++ Seq.fill(37)("word") ++ Seq.fill(11)("123")).mkString(" ")), // 39/50 < 80% fails
      (8L, passing + "\n- b\n- b\n- b\n- b\n- b\n- b\n- b\n- b\n- b"), // 9 bullets / 10 lines = 90% passes
      (9L, passing + "\nok...\nfine…\nplain\nplain\nplain\nplain\nplain\nplain\nplain"), // 2 ellipsis-ended / 10 = 20% passes
      (10L, null.asInstanceOf[String])                // NULL propagates
    ).toDF("doc_id", "text")
    val out = graft.ext.TextOps.gopherRules(docs, "text")
      .orderBy("doc_id").collect()
    def flags(r: Row): Map[String, Any] =
      Seq("pass_word_count", "pass_mean_word_len", "pass_symbol_ratio",
        "pass_bullet", "pass_ellipsis", "pass_alpha", "pass_stopwords",
        "gopher_pass").map(f => f -> r.getAs[Any](f)).toMap
    assert(flags(out(0)).values.forall(_ == true))
    assert(flags(out(1))("pass_word_count") == false)
    assert(flags(out(2))("pass_symbol_ratio") == true)   // 5*10 <= 55
    assert(flags(out(3))("pass_symbol_ratio") == true)   // 3*10 <= 52
    assert(flags(out(4))("pass_mean_word_len") == false)
    assert(flags(out(5))("pass_stopwords") == false)
    assert(flags(out(6))("pass_alpha") == true)          // 40*5 == 50*4
    assert(flags(out(7))("pass_alpha") == false)
    assert(flags(out(8))("pass_bullet") == true)         // 9*10 == 10*9
    assert(flags(out(9))("pass_ellipsis") == true)       // 2*10 <= 10*3
    // NULL text → NULL flags (the stripRepeatedLines null contract):
    // neither kept nor dropped until the caller decides
    val nullRow = out(10)
    assert(nullRow.isNullAt(nullRow.fieldIndex("gopher_pass")))
    assert(nullRow.isNullAt(nullRow.fieldIndex("pass_alpha")))
  }

  test("gopherRules boundary flips: one past each threshold fails") {
    val base = (Seq("the", "with") ++ Seq.fill(48)("word")).mkString(" ")
    // 10 bullets / 11 lines > 90% → fails; 4 ellipsis / 12 > 30% → fails
    val docs = Seq(
      (0L, base + ("\n- b" * 10)),
      (1L, base + ("\nx..." * 4) + ("\nplain" * 7))
    ).toDF("doc_id", "text")
    val out = graft.ext.TextOps.gopherRules(docs, "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("pass_bullet") == false)  // 10*10 > 11*9
    assert(out(1).getAs[Boolean]("pass_ellipsis") == false) // 4*10 > 12*3
  }
}
