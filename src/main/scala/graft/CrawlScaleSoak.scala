package graft

import graft.ext.TextOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale soak for the round-10 crawl-stage operators: HTML
  * main-content extraction (q145 shape), mojibake repair (q146 shape),
  * and the unigram-LM tokenizer — training (q147) plus apply (q148) —
  * on ~10⁶ synthetic documents, 200× the sf0.1 corpus. Each document
  * wraps in the full planted page (chrome + junk blocks) and half
  * carry double-encoding damage, so every operator does real per-row
  * work; the trainer runs its complete seed + 2-EM-step loop on the
  * collapsed word relation. Wall times and output sanity go to
  * BASELINE.md ("Round-10 crawl-stage soak").
  *
  * Usage: `sbt 'runMain graft.CrawlScaleSoak [n]'` (default 1000000).
  */
object CrawlScaleSoak {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    require(n > 0, s"doc count must be positive: $n")
    val cpus = Sessions.defaultCpus
    val spark = Sessions.local(cpus)
    val docs = TextScaleSoak.soakDocs(spark, n, seed = 42L,
        parallelism = cpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"[soak] corpus: ${docs.count()} docs")

    // --- q145 shape: full planted page around every document --------
    val damaged = graft.entry.TextQueries.MojibakeDamaged
    val paged = docs.withColumn("html", concat(
      lit(graft.entry.TextQueries.HtmlPre), col("text"),
      lit(graft.entry.TextQueries.HtmlLinks),
      when(col("doc_id") % 2 === 0, lit(" " + damaged)).otherwise(lit("")),
      lit(graft.entry.TextQueries.HtmlTail)))
    val (ex, tEx) = time {
      TextOps.extractMainContent(paged, "html")
        .agg(sum(col("blocks_kept")), sum(length(col("text_main"))))
        .collect()(0)
    }
    println(f"[soak] html extract: $tEx%.1f s, " +
      s"kept_blocks=${ex.getLong(0)} main_chars=${ex.getLong(1)}")

    // --- q146 shape: mojibake repair over half-damaged corpus -------
    val moji = docs.withColumn("text", concat(col("text"), lit(" "),
      when(col("doc_id") % 2 === 0, lit(damaged))
        .otherwise(lit(graft.entry.TextQueries.MojibakeClean))))
    val (mj, tMj) = time {
      moji.transform(TextOps.repairMojibake(_, "text"))
        .agg(sum(col("chars_collapsed")),
          count(when(col("mojibake_changed"), 1)))
        .collect()(0)
    }
    println(f"[soak] mojibake repair: $tMj%.1f s, " +
      s"chars_collapsed=${mj.getLong(0)} changed=${mj.getLong(1)}")
    require(mj.getLong(1) == (n + 1) / 2,
      s"exactly the damaged half must change: ${mj.getLong(1)}")

    // --- FULL q149 tail: funnel + canonical pick with a PLANTED HOT
    // CLUSTER — every 5th page is the same text, so 20% of the corpus
    // lands in ONE content group. The row_number-window formulation
    // this replaced sends those 200k docs, payloads attached, to a
    // single reducer task; the shipped min-agg + id-join tail
    // (TextQueries.crawlCanonicalTail — the exact catalog code) must
    // reduce them map-side. Wall time here is the regression signal.
    val dupText = graft.entry.TextQueries.CrawlDupText
    val funnelPaged = docs.withColumn("html", concat(
      lit(graft.entry.TextQueries.HtmlPre),
      when(col("doc_id") % 5 === 0, lit(dupText)).otherwise(col("text")),
      when(col("doc_id") % 2 === 0, lit(" " + damaged))
        .otherwise(lit(" " + graft.entry.TextQueries.MojibakeClean)),
      lit(graft.entry.TextQueries.HtmlLinks),
      lit(graft.entry.TextQueries.HtmlTail)))
    val (fu, tFu) = time {
      val ex149 = TextOps.extractMainContent(funnelPaged, "html")
        .select(col("doc_id"), col("blocks_kept"), col("text_main"))
      val rep149 = TextOps.repairMojibake(ex149, "text_main")
      val scored = graft.ext.QualityModel
        .qualityClassifierScore(rep149, "text_main_fixed")
      graft.entry.TextQueries.crawlCanonicalTail(scored)
        .agg(count(lit(1)).as("rows"),
          count(when(col("is_canonical"), 1)).as("canonical"),
          count(when(col("kept"), 1)).as("kept"),
          // the hot cluster: every 5th doc, one shared content hash —
          // its canonical count must collapse to at most 1
          count(when(col("doc_id") % 5 === 0 && col("is_canonical"), 1))
            .as("hot_canon"))
        .collect()(0)
    }
    println(f"[soak] q149 funnel+canonical (20%% hot cluster): $tFu%.1f s, " +
      s"rows=${fu.getLong(0)} kept=${fu.getLong(2)} " +
      s"canonical=${fu.getLong(1)} hot_cluster_canonical=${fu.getLong(3)}")
    require(fu.getLong(0) == n, s"row per doc lost: ${fu.getLong(0)}")
    require(fu.getLong(3) <= 1,
      s"hot dup cluster kept ${fu.getLong(3)} canonicals, expected <=1")
    require(fu.getLong(1) <= fu.getLong(2),
      "canonicals must be a subset of kept docs")

    // --- q147/q148 shape: unigram train + tokenize -------------------
    val (vocab, tTrain) = time {
      val v = TextOps.trainUnigramLm(docs, "text", maxPieceLen = 4,
        seedMinCount = 1000L, pruneMinCount = 1000L, steps = 2)
      (v.count(), v.collect().map(r => (r.getString(0), r.getLong(2))).toSeq)
    }
    println(f"[soak] unigram train: $tTrain%.1f s, vocab=${vocab._1}")
    val (tok, tTok) = time {
      TextOps.withUnigramTokens(docs, "text", vocab._2, maxPieceLen = 4)
        .agg(sum(col("n_unigram_tokens"))).collect()(0).getLong(0)
    }
    println(f"[soak] unigram tokenize: $tTok%.1f s, tokens=$tok")
    require(tok > n, "tokenization must emit at least one piece per doc")

    // --- production-sized unigram trainer: maxPieceLen 8, ≥8k-piece
    // vocab, 10⁶ docs. The catalog's q147 trains at maxPieceLen 4 for
    // oracle tractability; this stage measures the gap to a
    // SentencePiece-realistic configuration — 8-letter words so the
    // piece window is binding, a 50k-word lexicon so the substring
    // census is corpus-bounded, and a prune threshold tuned to land a
    // vocabulary in the 8k–32k band. Asserts vocab size, single-char
    // alphabet closure, and a wall-time ceiling.
    val longDocs = longWordDocs(spark, n, seed = 99L,
        parallelism = cpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    longDocs.count()
    // thresholds scale with corpus size so a small-n smoke run keeps the
    // same vocab SHAPE; the 8k-piece assertion is the full-size contract.
    // 2000-per-10⁶-docs: EM repricing concentrates counts on the pieces
    // Viterbi actually uses, so a piece's post-EM count sits far below
    // its raw substring census — a census-calibrated threshold prunes
    // every 3-gram and collapses the vocab to bigrams+singles
    val prune8 = math.max(2L, 2000L * n / 1000000L)
    val (v8, tTrain8) = time {
      TextOps.trainUnigramLm(longDocs, "text", maxPieceLen = 8,
          seedMinCount = prune8, pruneMinCount = prune8, steps = 2)
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    }
    val singles = v8.map(_._1).filter(_.length == 1).toSet
    println(f"[soak] unigram train (maxPieceLen=8): $tTrain8%.1f s, " +
      s"vocab=${v8.size}, singles=${singles.size}")
    require(n < 1000000L || v8.size >= 8000,
      s"production-sized vocab must reach 8k pieces: ${v8.size}")
    require(('a' to 'z').forall(c => singles(c.toString)),
      s"alphabet closure lost — singles: ${singles.toSeq.sorted}")
    require(tTrain8 < 1800.0,
      f"production-sized trainer blew the 30-minute ceiling: $tTrain8%.1f s")
    val (tok8, tTok8) = time {
      TextOps.withUnigramTokens(longDocs, "text", v8, maxPieceLen = 8)
        .agg(sum(col("n_unigram_tokens"))).collect()(0).getLong(0)
    }
    println(f"[soak] unigram tokenize (8k-piece lattice): $tTok8%.1f s, " +
      s"tokens=$tok8")
    require(tok8 > n, "tokenization must emit at least one piece per doc")

    // --- round-11 URL family: canonicalize → outlink harvest → host
    // link graph → frontier, at 10⁶ pages with a planted HOT HOST
    // (30% of the corpus on one authority — the politeness hot key)
    // AND hot candidate URLs (each deep link target is re-discovered
    // by ~n/260 pages). Both hot keys hit aggregations that must
    // partial-combine: the harvest explode multiplies rows ~12× but
    // page HTML dies in the projection, and nothing wider than a URL
    // crosses an exchange.
    val urled = docs.withColumn("source",
      when(col("doc_id") % 10 < 3, lit("hothost"))
        .otherwise(concat(lit("src"),
          (col("doc_id") % 1000).cast("string"))))
    val canon155 = graft.ext.UrlOps.withCanonicalUrl(
      graft.entry.TextQueries.withPlantedUrl(urled), "url")
    val pages155 = graft.entry.TextQueries.withPlantedPage(canon155)
    val (lg, tLg) = time {
      val links = graft.ext.UrlOps.extractOutlinks(
          pages155, "doc_id", "html", "url_canon", "url")
        .withColumn("src_host",
          graft.ext.UrlOps.urlHost(col("base_canon")))
      graft.ext.UrlOps.hostLinkGraph(links, "src_host")
        .agg(count(lit(1)).as("edges"), sum(col("n_links")).as("links"))
        .collect()(0)
    }
    println(f"[soak] outlink harvest + host graph: $tLg%.1f s, " +
      s"edges=${lg.getLong(0)} links=${lg.getLong(1)}")
    require(lg.getLong(1) >= 10L * n,
      s"harvest must keep >=10 links/page: ${lg.getLong(1)}")
    val (fr, tFr) = time {
      val links = graft.ext.UrlOps.extractOutlinks(
          pages155, "doc_id", "html", "url_canon", "url")
        .filter(col("link_canon").isNotNull)
      val cand = links.groupBy(col("link_canon"), col("link_host"))
        .agg(min(col("doc_id")).as("found_by"))
      val fresh = cand.join(
          canon155.select(col("url_canon").as("link_canon")).distinct(),
          Seq("link_canon"), "left_anti")
        .localCheckpoint()
      val sched = graft.ext.UrlOps.robotsVerdict(fresh, "link_canon",
          "link_canon",
          graft.entry.TextQueries.plantedRobotsRules(urled))
        .filter(col("fetch_allowed"))
        .withColumn("path", regexp_extract(
          regexp_replace(col("link_canon"),
            "^[a-z][a-z0-9+.-]*://[^/?]*", ""), "^([^?]*)", 1))
        .withColumn("depth", size(filter(split(col("path"), "/"),
          seg => seg =!= "")).cast("long"))
      sched.groupBy(col("link_host"))
        .agg(call_function("graft_top_k", -col("depth").cast("double"),
          struct(col("link_canon"), col("found_by")), lit(3)).as("top"))
        .agg(count(lit(1)).as("hosts"), sum(size(col("top"))).as("urls"),
          max(size(col("top"))).as("max_per_host"))
        .collect()(0)
    }
    println(f"[soak] frontier (anti join + robots + budget): $tFr%.1f s, " +
      s"hosts=${fr.getLong(0)} urls=${fr.getLong(1)} " +
      s"max_per_host=${fr.getInt(2)}")
    require(fr.getLong(0) > 0 && fr.getInt(2) <= 3,
      s"per-host budget violated: ${fr.getInt(2)}")

    // --- q159 shape: WARC archives → records → HTTP bodies → the FULL
    // funnel, at 10⁶ archives (3 records each, response payloads carry
    // the q149-class pages incl. the 20% hot dup cluster). The parse
    // is per-row substring arithmetic and the record bodies must die
    // before any exchange — wall time here bounds the ingestion tier.
    // q149PageHtml swaps every 5th body for the shared dup text itself
    val warced = graft.entry.TextQueries.plantedWarc(urled,
      concat(lit(graft.entry.TextQueries.HttpHdr),
        graft.entry.TextQueries.q149PageHtml))
    val (wc, tWc) = time {
      val parsed = graft.io.WarcIngest.parseWarcRecords(
        warced, "doc_id", "txt")
      val pages = parsed
        .filter(col("warc_type") === "response" && col("length_matches"))
        .select(col("doc_id"),
          element_at(split(col("payload"), "\r\n\r\n"), 2).as("html"))
      graft.entry.TextQueries.funnelFromPages(pages)
        .agg(count(lit(1)).as("rows"),
          count(when(col("is_canonical"), 1)).as("canonical"),
          count(when(col("doc_id") % 5 === 0 && col("is_canonical"), 1))
            .as("hot_canon"))
        .collect()(0)
    }
    println(f"[soak] WARC → records → funnel (q159 shape): $tWc%.1f s, " +
      s"rows=${wc.getLong(0)} canonical=${wc.getLong(1)} " +
      s"hot_cluster_canonical=${wc.getLong(2)}")
    require(wc.getLong(0) == n, s"record per archive lost: ${wc.getLong(0)}")
    require(wc.getLong(2) <= 1,
      s"hot dup cluster kept ${wc.getLong(2)} canonicals through the " +
        "archive round trip")

    spark.stop()
  }

  /** 10⁶-doc corpus over a 50k-word lexicon of 8-LETTER words (each
    * word's spelling derived deterministically from its lexicon id), so
    * the unigram trainer's maxPieceLen-8 window is binding — soakDocs'
    * `wNNNNN` words cap pieces at 6 chars and would leave the
    * production window untested.
    */
  def longWordDocs(spark: SparkSession, n: Long, seed: Long,
                   parallelism: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, parallelism).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val rnd = new scala.util.Random(seed ^ id)
        val len = 40 + rnd.nextInt(80)
        val words = Array.fill(len) {
          val wr = new scala.util.Random(seed * 31 + rnd.nextInt(50000))
          (0 until 8).map(_ => ('a' + wr.nextInt(26)).toChar).mkString
        }
        (id, words.mkString(" "))
      }
    }.toDF("doc_id", "text")
  }
}
