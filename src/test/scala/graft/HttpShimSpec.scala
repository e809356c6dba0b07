package graft

import graft.io.HttpShim
import java.net.{HttpURLConnection, URI}
import org.apache.spark.sql.functions.col
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** S12 coverage: both reference routes served over a real ephemeral-port
  * HTTP server, JSON row-object shape, per-request re-read freshness, and
  * the reference's error-object behavior for a broken source.
  */
class HttpShimSpec extends SparkSpec {
  import spark.implicits._

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    // a server that drops a request fails the case instead of hanging it
    conn.setReadTimeout(120000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Option(is)
      .map(s => new String(s.readAllBytes(), StandardCharsets.UTF_8))
      .getOrElse("")
    conn.disconnect()
    (code, body)
  }

  /** 300 deterministic 64-dim float vectors, each component from its
    * own md5 digest, so they spread over the IVF lists. */
  private def embeddings: org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{array, concat_ws, conv, lit, md5,
      substring}
    spark.range(300).select(col("id").as("vec_id"),
      array((0 until 64).map(j =>
        (conv(substring(md5(concat_ws(":", col("id").cast("string"),
            lit(j.toString))), 1, 4), 16, 10).cast("double") / 65535.0 - 0.5)
          .cast("float")): _*).as("embedding"))
  }

  test("serves /payments and /reviews as JSON row arrays") {
    val payments = Seq((1L, "credit_card", 93.77), (2L, "boleto", 24.39))
      .toDF("order_id", "payment_type", "payment_value")
    val reviews = Seq((1L, 5), (2L, 1)).toDF("order_id", "review_score")
    val shim = HttpShim.start(Map(
      "payments" -> (() => payments), "reviews" -> (() => reviews)))
    try {
      val (code, body) = get(shim.port, "/payments")
      assert(code == 200)
      assert(body.startsWith("[") && body.endsWith("]"))
      assert(body.contains(""""payment_type":"credit_card""""))
      assert(body.contains(""""payment_value":93.77"""))
      val (code2, body2) = get(shim.port, "/reviews")
      assert(code2 == 200)
      assert(body2.contains(""""review_score":5"""))
      // unknown path → 404 from the server, not a silent empty 200
      assert(get(shim.port, "/nope")._1 == 404)
    } finally shim.stop()
  }

  test("retrieval route serves the persisted BM25 index: served JSON " +
    "== the batch probe, bad requests error as a JSON object") {
    import graft.ext.Retrieval
    val docs = Seq(
      (0L, "cat dog cat mouse"), (1L, "cat fish"), (2L, "dog dog dog"),
      (3L, "bird mouse cat dog fish"), (4L, "bird bird"))
      .toDF("doc_id", "text")
    val loc = Files.createTempDirectory("graft_httpbm25").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_httpdb LOCATION '$loc'")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_httpdb.idx",
      nBuckets = 4)
    val shim = HttpShim.startDynamic(
      HttpShim.retrievalRoutes(spark, "graft_httpdb.idx", defaultK = 10))
    try {
      // served answer ≡ the batch probe on the same index, bit for bit
      val (code, body) = get(shim.port, "/search?q=cat%20mouse&k=3")
      assert(code == 200, body)
      val served = body.stripPrefix("[").stripSuffix("]").split("\\},\\{")
        .toSeq.map(_.stripPrefix("{").stripSuffix("}"))
      val expect = Retrieval
        .bm25ProbeTopK(spark, "graft_httpdb.idx", Seq("cat", "mouse"), 3)
        .toJSON.collect().toSeq
        .map(_.stripPrefix("{").stripSuffix("}"))
      assert(served == expect, s"served=$served expect=$expect")
      // term-set semantics: duplicated + mixed-case request terms
      // collapse to the same answer
      assert(get(shim.port, "/search?q=CAT%20cat%20Mouse&k=3")._2 == body)
      // missing q → the shim's standard error object, HTTP 200
      val (c2, b2) = get(shim.port, "/search")
      assert(c2 == 200 && b2.startsWith("""{"error":"""), b2)
    } finally shim.stop()
  }

  test("ann route serves the persisted IVF index: served neighbors == " +
    "the batch probe, unknown id errors as JSON object") {
    import graft.ext.Ivf
    graft.plans.GraftFunctions.register(spark)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = 64
    val centroids = Ivf.trainCentroids(emb, "embedding", nList = 8,
      dim = dim, sampleSize = 500, iters = 2)
    val loc = Files.createTempDirectory("graft_httpann").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_httpanndb LOCATION '$loc'")
    Ivf.writeIndex(emb, "vec_id", "embedding", centroids, dim,
      "graft_httpanndb.idx", nBuckets = 4)
    val shim = HttpShim.startDynamic(HttpShim.annRoutes(spark,
      "graft_httpanndb.idx", "vec_id", "embedding", defaultK = 5))
    try {
      val probeId = emb.select("vec_id").orderBy("vec_id").head.getLong(0)
      val (code, body) = get(shim.port, s"/similar?id=$probeId&k=3")
      assert(code == 200, body)
      val expect = Ivf.ivfTopKIndexed(spark, "graft_httpanndb.idx",
          spark.table("graft_httpanndb.idx")
            .filter(col("vec_id") === probeId)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 3)
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == expect, s"served=$body expect=$expect")
      val (c2, b2) = get(shim.port, "/similar?id=999999999")
      assert(c2 == 200 &&
        b2 == """{"error":"id 999999999 not in index graft_httpanndb.idx"}""",
        b2)
      val (c3, b3) = get(shim.port, "/similar")
      assert(c3 == 200 && b3.startsWith("""{"error":"""), b3)
    } finally shim.stop()
  }

  test("quality route serves the persisted trained model: served " +
    "verdict == the batch scorer, missing text errors as JSON object") {
    import graft.ext.QualityModel
    val seedDocs = Seq(
      (0L, "alpha beta gamma alpha", true), (1L, "spam junk noise", false),
      (2L, "alpha delta beta", true), (3L, "junk spam clutter junk", false))
      .toDF("doc_id", "text", "label")
    val w = QualityModel.trainQualityClassifier(seedDocs, "doc_id", "text",
      "label", nBuckets = 32, steps = 3, lrPpm = 400000L)
    val loc = Files.createTempDirectory("graft_httpqm").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_httpqmdb LOCATION '$loc'")
    QualityModel.writeQualityModel(spark, "graft_httpqmdb.model", w.toSeq)
    val shim = HttpShim.startDynamic(
      HttpShim.qualityRoutes(spark, "graft_httpqmdb.model"))
    try {
      val probe = "alpha beta gamma"
      val (code, body) = get(shim.port,
        "/quality?text=" + java.net.URLEncoder.encode(probe, "UTF-8"))
      assert(code == 200, body)
      val expect = QualityModel.qualityClassifierScoreIndexed(spark,
          "graft_httpqmdb.model", Seq(probe).toDF("text"), "text")
        .toJSON.collect().mkString("[", ",", "]")
      assert(body == expect, s"served=$body expect=$expect")
      assert(body.contains("\"kept\":"))
      val (c2, b2) = get(shim.port, "/quality?text=%20%20")
      assert(c2 == 200 && b2.startsWith("""{"error":"""), b2)
    } finally shim.stop()
  }

  test("csv routes re-read per request and error as a JSON object") {
    val dir = Files.createTempDirectory("graft_http").toString
    val pay = s"$dir/payments.csv"
    Files.write(java.nio.file.Paths.get(pay),
      "order_id,payment_value\n1,10.5\n".getBytes(StandardCharsets.UTF_8))
    val shim = HttpShim.start(
      HttpShim.csvRoutes(spark, pay, s"$dir/missing_reviews.csv"))
    try {
      val (code, body) = get(shim.port, "/payments")
      assert(code == 200 && body.contains(""""order_id":"""))
      // per-request re-read: appended rows appear on the next GET
      Files.write(java.nio.file.Paths.get(pay),
        "2,99.0\n".getBytes(StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.APPEND)
      assert(get(shim.port, "/payments")._2.contains("99.0"))
      // missing source → {"error": ...} with HTTP 200 (main.py:14-15 parity)
      val (code3, body3) = get(shim.port, "/reviews")
      assert(code3 == 200 && body3.startsWith("""{"error":"""))
    } finally shim.stop()
  }

  test("/tokenize serves the persisted tokenizer artifacts: served " +
    "segmentation == batch apply for unigram AND bpe, errors as objects") {
    import graft.ext.TextOps
    val loc = Files.createTempDirectory("graft_httptok").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_tokdb LOCATION '$loc'")
    TextOps.writeUnigramModel(spark, "graft_tokdb.um",
      Seq(("a", 9L, 100L), ("b", 8L, 110L), ("c", 7L, 120L),
        ("ab", 5L, 150L), ("abc", 4L, 160L))
        .toDF("piece", "cnt", "cost_micro"),
      maxPieceLen = 3)
    TextOps.writeBpeModel(spark, "graft_tokdb.bpe",
      Seq(("a", "b", 9L), ("ab", "c", 5L)))
    val shim = HttpShim.startDynamic(HttpShim.tokenizerRoutes(spark,
      "graft_tokdb.um", "graft_tokdb.bpe"))
    try {
      val probe = "abc ab"
      val enc = java.net.URLEncoder.encode(probe, "UTF-8")
      val (code, body) = get(shim.port, s"/tokenize?text=$enc")
      assert(code == 200, body)
      val batchUni = TextOps.withUnigramTokensIndexed(spark,
          "graft_tokdb.um", Seq(probe).toDF("text"), "text")
        .select("unigram_tokens").head.getSeq[String](0)
      batchUni.foreach(t => assert(body.contains(s""""$t""""), s"$t / $body"))
      assert(body.contains(s""""n_tokens":${batchUni.size}"""), body)
      val (c2, b2) = get(shim.port, s"/tokenize?text=$enc&model=bpe")
      val batchBpe = TextOps.withBpeTokensIndexed(spark, "graft_tokdb.bpe",
          Seq(probe).toDF("text"), "text")
        .select("bpe_tokens").head.getSeq[String](0)
      assert(c2 == 200 && b2.contains(s""""n_tokens":${batchBpe.size}"""), b2)
      // error objects: blank text, unknown model
      assert(get(shim.port, "/tokenize")._2.startsWith("""{"error":"""))
      val bad = get(shim.port, s"/tokenize?text=$enc&model=wordpiece")._2
      assert(bad.startsWith("""{"error":""") && bad.contains("unigram"), bad)
    } finally shim.stop()
  }

  test("/fsck serves the mounted audits: served report == the batch " +
    "audit, corruption visible over HTTP, unknown artifact errors") {
    import graft.ext.{IndexAudit, Retrieval}
    val docs = Seq(
      (0L, "cat dog cat mouse"), (1L, "cat fish"), (2L, "dog dog dog"),
      (3L, "bird mouse cat dog fish"))
      .toDF("doc_id", "text")
    val loc = Files.createTempDirectory("graft_httpfsck").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_fsckdb LOCATION '$loc'")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_fsckdb.idx",
      nBuckets = 2)
    val shim = HttpShim.startDynamic(HttpShim.opsRoutes(Map(
      "bm25" -> (() => IndexAudit.auditBm25(spark, "graft_fsckdb.idx")))))
    try {
      val (code, body) = get(shim.port, "/fsck?name=bm25")
      assert(code == 200, body)
      assert(body.contains(""""check":"meta_n_docs"""") &&
        body.contains(""""ok":true""") && !body.contains(""""ok":false"""),
        body)
      // corruption becomes visible on the SAME route (per-request
      // re-evaluation, the shim's freshness contract)
      Seq((99L, 99L, "doc_id")).toDF("n", "t", "id_col")
        .write.format("parquet").mode("overwrite")
        .saveAsTable("graft_fsckdb.idx_meta")
      val after = get(shim.port, "/fsck?name=bm25")._2
      assert(after.contains(""""ok":false"""), after)
      // the served rows are the batch audit verbatim
      val batch = IndexAudit.auditBm25(spark, "graft_fsckdb.idx")
        .filter(!col("ok")).count()
      assert(batch > 0)
      // unknown artifact / missing name → error object naming the mounts
      val (c2, b2) = get(shim.port, "/fsck?name=nope")
      assert(c2 == 200 && b2.startsWith("""{"error":""") &&
        b2.contains("bm25"), b2)
      val (c3, b3) = get(shim.port, "/fsck")
      assert(c3 == 200 && b3.startsWith("""{"error":"""), b3)
    } finally shim.stop()
  }

  test("/robots serves the batch verdict from a persisted parsed rule " +
    "table") {
    import graft.ext.UrlOps
    val loc = Files.createTempDirectory("graft_httprob").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_robdb LOCATION '$loc'")
    // rules PARSED from a real robots.txt body, then persisted — the
    // full text→table→serve path
    UrlOps.parseRobotsTxt(
        Seq(("ex.com", "User-agent: *\nDisallow: /Docs/1\n" +
          "Allow: /Docs/12\nDisallow: /p*.pdf$\n")).toDF("host", "txt"),
        "host", "txt", "graftbot")
      .write.format("parquet").mode("overwrite")
      .saveAsTable("graft_robdb.rules")
    val shim = HttpShim.startDynamic(
      HttpShim.robotsRoutes(spark, "graft_robdb.rules"))
    try {
      // raw noisy URL: the route canonicalizes before judging
      val (c1, b1) = get(shim.port,
        "/robots?url=HTTPS%3A%2F%2FWWW.Ex.COM%2FDocs%2F12%2Fx%23frag")
      assert(c1 == 200 && b1.contains(""""fetch_allowed":true""") &&
        b1.contains(""""rule_match_len":8"""), b1)
      val (c2, b2) = get(shim.port,
        "/robots?url=https%3A%2F%2Fex.com%2FDocs%2F11")
      assert(c2 == 200 && b2.contains(""""fetch_allowed":false"""), b2)
      // served ≡ batch operator on the same rules
      import spark.implicits._
      val batch = UrlOps.robotsVerdict(
          UrlOps.withCanonicalUrl(
            Seq("https://ex.com/Docs/11").toDF("url"), "url")
            .select(col("url_canon")),
          "url_canon", "url_canon",
          spark.table("graft_robdb.rules")
            .select("host", "path_prefix", "allow"))
        .select("fetch_allowed", "rule_match_len").collect().head
      assert(!batch.getBoolean(0) && batch.getLong(1) == 7L)
      // a WILDCARD rule (RFC 9309 §2.2.3) serves through the same
      // route: /p*.pdf$ matches /paper.pdf and scores its PATTERN
      // length (8 octets — the de-facto ranking, round 13), not the
      // matched length
      val (cw, bw) = get(shim.port,
        "/robots?url=https%3A%2F%2Fex.com%2Fpaper.pdf")
      assert(cw == 200 && bw.contains(""""fetch_allowed":false""") &&
        bw.contains(""""rule_match_len":8"""), bw)
      // ...but not a path that merely starts like it
      val (cw2, bw2) = get(shim.port,
        "/robots?url=https%3A%2F%2Fex.com%2Fpaper.pdfx")
      assert(cw2 == 200 && bw2.contains(""""fetch_allowed":true"""), bw2)
      // an unknown host is allowed by default; blank url → error object
      val (c3, b3) = get(shim.port,
        "/robots?url=https%3A%2F%2Fother.org%2Fx")
      assert(c3 == 200 && b3.contains(""""fetch_allowed":true""") &&
        b3.contains(""""rule_match_len":0"""), b3)
      val (c4, b4) = get(shim.port, "/robots")
      assert(c4 == 200 && b4.startsWith("""{"error":"""), b4)
    } finally {
      shim.stop()
      spark.sql("DROP DATABASE IF EXISTS graft_robdb CASCADE")
    }
  }

  test("/robots from the LIVE persisted cache: age and TTL action ride " +
    "the verdict, and a refetch changes the served answer without a " +
    "remount") {
    import graft.ext.RobotsCache
    val asOf = 1770681600000000L
    val H = 3600000000L
    val loc = Files.createTempDirectory("graft_httprc").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_hrcdb LOCATION '$loc'")
    RobotsCache.rebuild(Seq(
        ("ex.com", asOf - 30 * H,
          "User-agent: *\nCrawl-delay: 2\nDisallow: /old"))
        .toDF("host", "fetched_at_micros", "robots_body"),
      "host", "fetched_at_micros", "robots_body",
      "graft_hrcdb.cache", nBuckets = 2)
    val shim = HttpShim.startDynamic(
      HttpShim.robotsCacheRoutes(spark, "graft_hrcdb.cache", () => asOf))
    try {
      // stale cache: the verdict still serves (old rules), but the
      // action tells the worker to refetch robots first
      val (c1, b1) = get(shim.port,
        "/robots?url=https%3A%2F%2Fex.com%2Fold%2Fx")
      assert(c1 == 200 && b1.contains(""""fetch_allowed":false""") &&
        b1.contains(""""robots_age_hours":30""") &&
        b1.contains(""""action":"refetch_robots_first"""") &&
        b1.contains(""""crawl_delay_micros":2000000"""), b1)
      // the refetch lands (no remount): rules, age AND delay move —
      // the new body drops the Crawl-delay line, so the served delay
      // reverts to null (the worker's default), never the stale 2 s
      RobotsCache.refresh(Seq(
          ("ex.com", asOf - 1 * H, "User-agent: *\nDisallow: /new"))
          .toDF("host", "fetched_at_micros", "robots_body"),
        "host", "fetched_at_micros", "robots_body", "graft_hrcdb.cache")
      val (c2, b2) = get(shim.port,
        "/robots?url=https%3A%2F%2Fex.com%2Fold%2Fx")
      assert(c2 == 200 && b2.contains(""""fetch_allowed":true""") &&
        b2.contains(""""robots_age_hours":1""") &&
        b2.contains(""""action":"proceed"""") &&
        !b2.contains(""""crawl_delay_micros":2000000"""), b2)
      val (c3, b3) = get(shim.port,
        "/robots?url=https%3A%2F%2Fex.com%2Fnew%2Fy")
      assert(c3 == 200 && b3.contains(""""fetch_allowed":false"""), b3)
      // never-cached host: allowed by rules-absence but the TTL action
      // says fetch robots first — no cached permissions exist
      val (c5, b5) = get(shim.port,
        "/robots?url=https%3A%2F%2Fnever.org%2Fz")
      assert(c5 == 200 && b5.contains(""""fetch_allowed":true""") &&
        b5.contains(""""action":"refetch_robots_first""""), b5)
    } finally {
      shim.stop()
      spark.sql("DROP DATABASE IF EXISTS graft_hrcdb CASCADE")
    }
  }

  test("/mirror serves the persisted components artifact: rep + dup " +
    "flag + coverage, and a rebuild changes the next answer without " +
    "a remount") {
    import graft.ext.Graph
    import org.apache.spark.sql.functions.col
    val loc = java.nio.file.Files.createTempDirectory("graft_hmr").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_hmrdb LOCATION '$loc'")
    val t = "graft_hmrdb.comp"
    val edges = Seq(("a.com", "b.com")).toDF("src", "dst")
    val nodes = edges.select(col("src").as("host"))
      .union(edges.select(col("dst").as("host"))).distinct()
    Graph.writeComponents(
      Graph.connectedComponents(nodes, "host", edges, "src", "dst"),
      "id", t, nBuckets = 2)
    val shim = HttpShim.startDynamic(HttpShim.mirrorRoutes(spark, t))
    try {
      val (c1, b1) = get(shim.port, "/mirror?host=b.com")
      assert(c1 == 200 && b1.contains(""""mirror_rep":"a.com"""") &&
        b1.contains(""""is_mirror_dup":true""") &&
        b1.contains(""""covered":true"""), b1)
      // an uncovered host reads not-mirrored AND flags the drift
      // condition — the q201 rebuild trigger, per request
      val (c2, b2) = get(shim.port, "/mirror?host=c.com")
      assert(c2 == 200 && b2.contains(""""mirror_rep":"c.com"""") &&
        b2.contains(""""is_mirror_dup":false""") &&
        b2.contains(""""covered":false"""), b2)
      // the rebuild lands (no remount): the next probe sees c covered
      val edges2 = edges.union(Seq(("b.com", "c.com")).toDF("src", "dst"))
      val nodes2 = edges2.select(col("src").as("host"))
        .union(edges2.select(col("dst").as("host"))).distinct()
      Graph.rebuildComponents(spark, t, nodes2, "host", edges2,
        "src", "dst")
      val (c3, b3) = get(shim.port, "/mirror?host=c.com")
      assert(c3 == 200 && b3.contains(""""mirror_rep":"a.com"""") &&
        b3.contains(""""is_mirror_dup":true""") &&
        b3.contains(""""covered":true"""), b3)
    } finally {
      shim.stop()
      spark.sql("DROP DATABASE IF EXISTS graft_hmrdb CASCADE")
    }
  }

  test("/authority serves the persisted PageRank artifact: rank + " +
    "coverage, and a rebuild changes the next answer without a " +
    "remount") {
    import graft.ext.Graph
    import org.apache.spark.sql.functions.col
    val loc = java.nio.file.Files.createTempDirectory("graft_hpr").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_hprdb LOCATION '$loc'")
    val t = "graft_hprdb.pr"
    val edges = Seq(("a.com", "b.com"), ("c.com", "b.com"),
      ("b.com", "a.com")).toDF("src", "dst")
    val nodes = edges.select(col("src").as("host"))
      .union(edges.select(col("dst").as("host"))).distinct()
    Graph.writePageRank(
      Graph.pageRankMicro(nodes, edges, "host", "src", "dst",
        nNodes = 3, iters = 5),
      "host", t, iters = 5, nNodes = 3, nBuckets = 2)
    val shim = HttpShim.startDynamic(HttpShim.authorityRoutes(spark, t))
    try {
      val (c1, b1) = get(shim.port, "/authority?host=b.com")
      assert(c1 == 200 && b1.contains(""""covered":true""") &&
        !b1.contains(""""pr_micro":0,"""), b1)
      // an uncovered host reads authority 0 AND flags the drift
      // condition — the q203 rebuild trigger, per request
      val (c2, b2) = get(shim.port, "/authority?host=hub.com")
      assert(c2 == 200 && b2.contains(""""pr_micro":0""") &&
        b2.contains(""""covered":false"""), b2)
      // the rebuild lands (no remount): the next probe sees the hub
      // covered with propagated in-link mass
      val edges2 = edges.union(Seq(("a.com", "hub.com"),
        ("b.com", "hub.com"), ("c.com", "hub.com")).toDF("src", "dst"))
      val nodes2 = edges2.select(col("src").as("host"))
        .union(edges2.select(col("dst").as("host"))).distinct()
      Graph.rebuildPageRank(spark, t, nodes2, "host", edges2,
        "src", "dst")
      val (c3, b3) = get(shim.port, "/authority?host=hub.com")
      assert(c3 == 200 && b3.contains(""""covered":true""") &&
        !b3.contains(""""pr_micro":0,"""), b3)
    } finally {
      shim.stop()
      spark.sql("DROP DATABASE IF EXISTS graft_hprdb CASCADE")
    }
  }

  test("requests are served on named daemon pool threads, and stop() " +
    "retires every one of them") {
    val servedBy = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val shim = HttpShim.start(Map("who" -> { () =>
      servedBy.add(Thread.currentThread())
      Seq(1).toDF("x")
    }))
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val clients = (1 to 4).map(_ => new Thread(() =>
        (1 to 3).foreach(_ => bodies.add(get(shim.port, "/who")._2))))
      clients.foreach(_.start()); clients.foreach(_.join())
    } finally shim.stop()
    assert(bodies.size == 12 &&
      bodies.toArray.forall(_ == """[{"x":1}]"""), bodies)
    val threads = servedBy.toArray(Array.empty[Thread]).toSeq
    assert(threads.nonEmpty)
    threads.foreach { t =>
      assert(t.getName.startsWith("graft-http-") && t.isDaemon, t.getName)
    }
    // a worker leaves the pool's books just before its thread ends
    val deadline = System.nanoTime() + 10000000000L
    while (threads.exists(_.isAlive) && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(!threads.exists(_.isAlive),
      threads.filter(_.isAlive).map(_.getName).mkString(", "))
  }

  test("a route that throws AssertionError answers the error object, " +
    "and the next request is still served") {
    val shim = HttpShim.start(Map(
      // Predef's assert (java.lang.AssertionError), as an operator's
      // assert throws; the suite's own assert throws an Exception
      "boom" -> { () => Predef.assert(1 + 1 == 3, "boom"); Seq(1).toDF("x") },
      "ok" -> (() => Seq(2).toDF("x"))))
    try {
      val (c1, b1) = get(shim.port, "/boom")
      assert(c1 == 200 && b1 == """{"error":"assertion failed: boom"}""", b1)
      val (c2, b2) = get(shim.port, "/ok")
      assert(c2 == 200 && b2 == """[{"x":2}]""", b2)
    } finally shim.stop()
  }

  test("each request runs under the job group http:<route>, a route's " +
    "own group wins, and no pooled thread keeps a group afterwards") {
    val sc = spark.sparkContext
    val atEntry = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
          .filter(g => g.startsWith("http:") || g == "mine")
          .foreach(jobGroups.add)
    }
    sc.addSparkListener(listener)
    val shim = HttpShim.startDynamic(Map(
      "seen" -> { _ =>
        atEntry.add(sc.getLocalProperty("spark.jobGroup.id") + " | " +
          sc.getLocalProperty("spark.job.description"))
        Seq(1).toDF("x").repartition(2)
      },
      "own" -> { _ =>
        sc.setJobGroup("mine", "set by the route")
        Seq(2).toDF("x").repartition(2)
      }))
    try {
      assert(get(shim.port, "/seen?a=1&b=x")._1 == 200)
      assert(atEntry.peek() == "http:seen | a=1&b=x", atEntry)
      assert(get(shim.port, "/own")._1 == 200)
      org.apache.spark.GraftListenerBus.drain(sc)
      val groups = jobGroups.toArray.toSeq.map(String.valueOf)
      assert(groups.contains("http:seen") && groups.contains("mine") &&
        !groups.contains("http:own"), groups)
      // occupy every pool thread at once: none carries a group
      val n = Runtime.getRuntime.availableProcessors
      val barrier = new java.util.concurrent.CyclicBarrier(n)
      val left = (1 to n).map(_ => shim.pool.submit(
        new java.util.concurrent.Callable[String] {
          override def call(): String = {
            barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
            sc.getLocalProperty("spark.jobGroup.id")
          }
        })).map(_.get())
      assert(left.forall(_ == null), left)
    } finally {
      shim.stop()
      sc.removeSparkListener(listener)
    }
  }

  test("concurrent requests over /search, /similar and /quality return " +
    "the bytes the same requests return served one at a time") {
    import graft.ext.{Ivf, QualityModel, Retrieval}
    graft.plans.GraftFunctions.register(spark)
    val loc = Files.createTempDirectory("graft_httpconc").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_concdb LOCATION '$loc'")
    val docs = Seq(
      (0L, "cat dog cat mouse", true), (1L, "cat fish", false),
      (2L, "dog dog dog", true), (3L, "bird mouse cat dog fish", true),
      (4L, "bird bird", false))
      .toDF("doc_id", "text", "label")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_concdb.bm25",
      nBuckets = 4)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    Ivf.writeIndex(emb, "vec_id", "embedding",
      Ivf.trainCentroids(emb, "embedding", nList = 8, dim = 64,
        sampleSize = 500, iters = 2),
      64, "graft_concdb.ivf", nBuckets = 4)
    QualityModel.writeQualityModel(spark, "graft_concdb.qm",
      QualityModel.trainQualityClassifier(docs, "doc_id", "text", "label",
        nBuckets = 32, steps = 3).toSeq)
    val ids = emb.select("vec_id").orderBy("vec_id").limit(3)
      .as[Long].collect().toSeq
    val paths = Seq("/search?q=cat%20mouse&k=3", "/search?q=dog&k=2",
        "/search?q=bird%20fish") ++
      ids.map(id => s"/similar?id=$id&k=3") ++
      Seq("/quality?text=cat%20dog", "/quality?text=bird%20bird%20fish")
    val shim = HttpShim.startDynamic(
      HttpShim.retrievalRoutes(spark, "graft_concdb.bm25") ++
        HttpShim.annRoutes(spark, "graft_concdb.ivf", "vec_id", "embedding") ++
        HttpShim.qualityRoutes(spark, "graft_concdb.qm"))
    try {
      val serial = paths.map(p => p -> get(shim.port, p)._2).toMap
      serial.foreach { case (p, b) =>
        assert(b.startsWith("[{"), s"$p -> $b")
      }
      val go = new java.util.concurrent.CountDownLatch(1)
      val served = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val clients = (0 until 4).map { c => new Thread(() => {
        go.await()
        (0 until 8).foreach { i =>
          val p = paths((c * 8 + i) % paths.size)
          served.add(p -> get(shim.port, p)._2)
        }
      })}
      clients.foreach(_.start())
      go.countDown()
      clients.foreach(_.join())
      val got = served.toArray(Array.empty[(String, String)]).toSeq
      assert(got.size == 32)
      got.foreach { case (p, b) =>
        assert(b == serial(p), s"$p: concurrent=$b serial=${serial(p)}")
      }
    } finally {
      shim.stop()
      spark.sql("DROP DATABASE IF EXISTS graft_concdb CASCADE")
    }
  }

  test("the next request serves an artifact's new version: " +
    "refreshQualityModel, appendToBm25Index and Ivf.appendToIndex, " +
    "each equal to the batch operator") {
    import graft.ext.{Ivf, QualityModel, Retrieval}
    graft.plans.GraftFunctions.register(spark)
    val loc = Files.createTempDirectory("graft_httpver").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_verdb LOCATION '$loc'")
    val docs = Seq(
      (0L, "cat dog cat mouse", true), (1L, "cat fish", false),
      (2L, "dog dog dog", true), (3L, "bird mouse cat dog fish", true))
      .toDF("doc_id", "text", "label")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_verdb.bm25",
      nBuckets = 4)
    val emb = embeddings
    Ivf.writeIndex(emb, "vec_id", "embedding",
      Ivf.trainCentroids(emb, "embedding", nList = 8, dim = 64,
        sampleSize = 500, iters = 2),
      64, "graft_verdb.ivf", nBuckets = 4)
    QualityModel.writeQualityModel(spark, "graft_verdb.qm",
      QualityModel.trainQualityClassifier(docs, "doc_id", "text", "label",
        nBuckets = 32, steps = 3).toSeq)
    val probeId = emb.select("vec_id").orderBy("vec_id").head.getLong(0)
    val copyId = 900000001L
    val shim = HttpShim.startDynamic(
      HttpShim.retrievalRoutes(spark, "graft_verdb.bm25") ++
        HttpShim.annRoutes(spark, "graft_verdb.ivf", "vec_id", "embedding") ++
        HttpShim.qualityRoutes(spark, "graft_verdb.qm"))
    def json(df: org.apache.spark.sql.DataFrame): String =
      df.toJSON.collect().mkString("[", ",", "]")
    try {
      // every route serves (and so loads) its artifact once first
      val q0 = get(shim.port, "/quality?text=cat%20dog")._2
      assert(q0.startsWith("[{"), q0)
      assert(get(shim.port, "/search?q=zebra%20cat&k=3")._2.startsWith("[{"))
      assert(get(shim.port, s"/similar?id=$probeId&k=3")._2.startsWith("[{"))
      assert(get(shim.port, s"/similar?id=$copyId&k=3")._2
        .startsWith("""{"error":"""))

      QualityModel.refreshQualityModel(spark, "graft_verdb.qm",
        Seq((9L, "cat dog cat dog", false), (8L, "fish", true))
          .toDF("doc_id", "text", "label"),
        "doc_id", "text", "label", steps = 3, lrPpm = 400000L)
      val q1 = get(shim.port, "/quality?text=cat%20dog")._2
      assert(q1 != q0, q1)
      assert(q1 == json(QualityModel.qualityClassifierScoreIndexed(spark,
        "graft_verdb.qm", Seq("cat dog").toDF("text"), "text")), q1)

      val appended = Seq((7L, "zebra zebra cat")).toDF("doc_id", "text")
      Retrieval.appendToBm25Index(appended, "doc_id", "text",
        "graft_verdb.bm25")
      val s1 = get(shim.port, "/search?q=zebra%20cat&k=3")._2
      assert(s1.contains(""""doc_id":7"""), s1)
      // against the one-shot scorer over the grown corpus, which reads
      // no index and no memo: a stale n, t or df would show here
      assert(s1 == json(Retrieval.bm25TopK(
        docs.select("doc_id", "text").unionByName(appended),
        "doc_id", "text", Seq("zebra", "cat"), 3)), s1)

      // an exact copy of the probe's vector under a new id: the copy is
      // now servable, and it is the probe's nearest neighbor
      Ivf.appendToIndex(emb.filter(col("vec_id") === probeId)
          .select(org.apache.spark.sql.functions.lit(copyId).as("vec_id"),
            col("embedding")),
        "vec_id", "embedding", "graft_verdb.ivf")
      val v1 = get(shim.port, s"/similar?id=$probeId&k=3")._2
      assert(v1.contains(s""""neighbor_id":$copyId"""), v1)
      assert(v1 == json(Ivf.ivfTopKIndexed(spark, "graft_verdb.ivf",
          spark.table("graft_verdb.ivf").filter(col("vec_id") === probeId)
            .select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 3)), v1)
      assert(get(shim.port, s"/similar?id=$copyId&k=3")._2.startsWith("[{"))
    } finally {
      shim.stop()
      spark.sql("DROP DATABASE IF EXISTS graft_verdb CASCADE")
    }
  }

  test("a CSV rewritten in place is served with its new columns on the " +
    "next request, as a fresh schema inference reads it") {
    import graft.io.CsvIngest
    val dir = Files.createTempDirectory("graft_httpcsv").toString
    val pay = java.nio.file.Paths.get(s"$dir/payments.csv")
    Files.write(pay,
      "order_id,payment_value\n1,10.5\n".getBytes(StandardCharsets.UTF_8))
    // the parent read: inferSchema on every call, no memo
    def fresh: String = CsvIngest.withHeuristicTimestamps(
        CsvIngest.sweepNullTokens(spark.read.option("header", "true")
          .option("nullValue", "nan")
          .option("timestampFormat", CsvIngest.TimestampFormat)
          .option("inferSchema", "true").csv(pay.toString)))
      .toJSON.collect().mkString("[", ",", "]")
    val shim = HttpShim.start(Map(
      "payments" -> (() => CsvIngest.readCsv(spark, pay.toString))))
    try {
      val b0 = get(shim.port, "/payments")._2
      assert(b0 == fresh && b0 == """[{"order_id":1,"payment_value":10.5}]""",
        b0)
      Files.write(pay, ("order_id,payment_value,payment_type\n" +
        "1,10.5,credit_card\n2,n/a,boleto\n").getBytes(StandardCharsets.UTF_8))
      val b1 = get(shim.port, "/payments")._2
      assert(b1 == fresh && b1.contains(""""payment_type":"credit_card"""") &&
        b1.contains(""""payment_value":"n/a""""), b1)
    } finally shim.stop()
  }

  /** The job groups `body` starts, as the listener bus reports them. */
  private def jobGroupsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    groups.toArray.toSeq.map(String.valueOf)
  }

  test("maxRows caps a multi-partition answer to its first rows in the " +
    "answer's own order, collected in one job") {
    // 10 partitions of 10 rows, more than the session's 4 cores, the
    // first one empty after the filter
    val rows = spark.range(0, 100, 1, 10).toDF("i").filter(col("i") >= 10)
    assert(rows.rdd.getNumPartitions == 10)
    val all = rows.toJSON.collect().toSeq
    // caps inside the first partition with rows, and across several
    Seq(15, 35, 75).foreach { cap =>
      val shim = HttpShim.start(Map("rows" -> (() => rows)), maxRows = cap)
      try {
        var body = ""
        val groups = jobGroupsOf { body = get(shim.port, "/rows")._2 }
        assert(body == all.take(cap).mkString("[", ",", "]"), s"$cap: $body")
        assert(groups.count(_ == "http:rows") == 1, groups)
      } finally shim.stop()
    }
    // a cap above the row count answers every row
    val wide = HttpShim.start(Map("rows" -> (() => rows)), maxRows = 100)
    try assert(get(wide.port, "/rows")._2 == all.mkString("[", ",", "]"))
    finally wide.stop()
  }

  test("served /search and /similar equal the batch operators over many " +
    "term sets and ids, and an absent id answers the error naming it") {
    import graft.ext.{Ivf, Retrieval, Similarity}
    import org.apache.spark.sql.functions.explode
    graft.plans.GraftFunctions.register(spark)
    val loc = Files.createTempDirectory("graft_httppar").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_pardb LOCATION '$loc'")
    val words = Seq("cat", "dog", "mouse", "fish", "bird", "owl", "fox")
    val docs = (0 until 60).map { d =>
      (d.toLong, (0 to d % 5).map(j => words((d * 3 + j * j) % 7))
        .mkString(" "))
    }.toDF("doc_id", "text")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_pardb.bm25",
      nBuckets = 4)
    val emb = embeddings
    Ivf.writeIndex(emb, "vec_id", "embedding",
      Ivf.trainCentroids(emb, "embedding", nList = 8, dim = 64,
        sampleSize = 500, iters = 2),
      64, "graft_pardb.ivf", nBuckets = 4)
    val shim = HttpShim.startDynamic(
      HttpShim.retrievalRoutes(spark, "graft_pardb.bm25") ++
        HttpShim.annRoutes(spark, "graft_pardb.ivf", "vec_id", "embedding"))
    def json(df: org.apache.spark.sql.DataFrame): String =
      df.toJSON.collect().mkString("[", ",", "]")
    try {
      // absent terms, repeated terms and mixed case among them
      val termSets = Seq(Seq("cat"), Seq("dog", "owl"), Seq("zebra", "fox"),
        Seq("cat", "cat", "mouse"), Seq("FISH", "bird", "fish"),
        Seq("owl", "fox", "dog", "cat", "bird"), Seq("zebra", "yak"))
      termSets.foreach { ts =>
        val served = get(shim.port,
          s"/search?q=${ts.mkString("%20")}&k=4")._2
        val terms = ts.map(_.toLowerCase).distinct
        assert(served == json(Retrieval.bm25TopK(docs, "doc_id", "text",
          terms, 4)), s"$ts: $served")
      }
      // the rerank shape (thin pairs, vectors joined back by id) over the
      // same lists: what the one-pass probe must equal
      val index = spark.table("graft_pardb.ivf")
      val (dim, cents) = Ivf.loadModel(spark, "graft_pardb.ivf")
      def reranked(q: org.apache.spark.sql.DataFrame, k: Int) =
        Similarity.rerankTopK(
          index.select(col("vec_id").as("neighbor_id"), col("list"))
            .join(q.select(col("vec_id").as("query_id"),
              explode(Ivf.assignLists(col("embedding"), cents, dim, 4))
                .as("list")), "list")
            .filter(col("neighbor_id") =!= col("query_id"))
            .select("query_id", "neighbor_id"),
          index, q, "vec_id", "embedding", k, dim)
      val ids = (0L until 300L by 23L)
      ids.foreach { id =>
        val served = get(shim.port, s"/similar?id=$id&k=5")._2
        val q = index.filter(col("vec_id") === id)
          .select(col("vec_id"), col("embedding"))
        assert(served == json(reranked(q, 5)), s"$id: $served")
        assert(served == json(Ivf.ivfTopKIndexed(spark, "graft_pardb.ivf", q,
          "vec_id", "embedding", k = 5)), s"$id: $served")
      }
      // many queries in one batch probe: the same per-query answers
      val batch = index.filter(col("vec_id").isin(ids: _*))
        .select(col("vec_id"), col("embedding"))
      assert(Ivf.ivfTopKIndexed(spark, "graft_pardb.ivf", batch, "vec_id",
          "embedding", k = 5).orderBy("query_id", "rank").collect().toSeq ==
        reranked(batch, 5).orderBy("query_id", "rank").collect().toSeq)
      var absent = ""
      val groups = jobGroupsOf {
        absent = get(shim.port, "/similar?id=424242&k=5")._2
      }
      assert(absent ==
        """{"error":"id 424242 not in index graft_pardb.ivf"}""", absent)
      assert(groups.count(_ == "http:similar") <= 3, groups)
    } finally {
      shim.stop()
      spark.sql("DROP DATABASE IF EXISTS graft_pardb CASCADE")
    }
  }

  test("a warm request to /search, /similar, /quality or /customers " +
    "starts no job before its route returns") {
    import com.sun.net.httpserver.HttpExchange
    import graft.ext.{Ivf, QualityModel, Retrieval}
    import graft.io.CsvIngest
    graft.plans.GraftFunctions.register(spark)
    val sc = spark.sparkContext
    val loc = Files.createTempDirectory("graft_httpwarm").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_warmdb LOCATION '$loc'")
    val docs = Seq(
      (0L, "cat dog cat mouse", true), (1L, "cat fish", false),
      (2L, "dog dog dog", true), (3L, "bird mouse cat dog fish", true))
      .toDF("doc_id", "text", "label")
    Retrieval.writeBm25Index(docs, "doc_id", "text", "graft_warmdb.bm25",
      nBuckets = 4)
    val emb = embeddings
    Ivf.writeIndex(emb, "vec_id", "embedding",
      Ivf.trainCentroids(emb, "embedding", nList = 8, dim = 64,
        sampleSize = 500, iters = 2),
      64, "graft_warmdb.ivf", nBuckets = 4)
    QualityModel.writeQualityModel(spark, "graft_warmdb.qm",
      QualityModel.trainQualityClassifier(docs, "doc_id", "text", "label",
        nBuckets = 32, steps = 3).toSeq)
    val csv = s"$loc/customers.csv"
    Files.write(java.nio.file.Paths.get(csv),
      "c_custkey,c_name\n1,alice\n2,bob\n".getBytes(StandardCharsets.UTF_8))
    val probeId = emb.select("vec_id").orderBy("vec_id").head.getLong(0)
    val raw: Map[String, HttpExchange => org.apache.spark.sql.DataFrame] =
      HttpShim.retrievalRoutes(spark, "graft_warmdb.bm25") ++
        HttpShim.annRoutes(spark, "graft_warmdb.ivf", "vec_id", "embedding") ++
        HttpShim.qualityRoutes(spark, "graft_warmdb.qm") +
        ("customers" -> ((_: HttpExchange) => CsvIngest.readCsv(spark, csv)))
    // each request's route runs under build:<route>:<n>, its result
    // under run:<route>:<n>
    val seq = new java.util.concurrent.atomic.AtomicInteger(0)
    val routes = raw.map { case (p, mk) => p -> { (ex: HttpExchange) =>
      val n = seq.incrementAndGet()
      sc.setJobGroup(s"build:$p:$n", "")
      val df = mk(ex)
      sc.setJobGroup(s"run:$p:$n", "")
      df
    }}
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id")))
          .filter(g => g.startsWith("build:") || g.startsWith("run:"))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    val shim = HttpShim.startDynamic(routes)
    val paths = Seq("/search?q=cat%20mouse&k=3", s"/similar?id=$probeId&k=3",
      "/quality?text=cat%20dog", "/customers")
    try {
      // cold, then warm: request n of path i is n = 1 + i (cold) and
      // 5 + i (warm)
      val bodies = (paths ++ paths).map(p => get(shim.port, p)._2)
      bodies.foreach(b => assert(b.startsWith("[{"), b))
      assert(bodies.take(4) == bodies.drop(4))
      org.apache.spark.GraftListenerBus.drain(sc)
      val seen = groups.toArray.toSeq.map(String.valueOf)
      def jobs(prefix: String) = seen.count(_.startsWith(prefix))
      val routeOf = paths.map(_.stripPrefix("/").takeWhile(_ != '?'))
      // the route's answer is collected in one job; the probes add
      // only what their plans need: /search one exchange by document,
      // /similar its query broadcast and one exchange by query
      val maxJobs = Map("customers" -> 1, "quality" -> 1, "search" -> 2,
        "similar" -> 3)
      routeOf.zipWithIndex.foreach { case (r, i) =>
        assert(jobs(s"build:$r:${5 + i}") == 0, s"warm $r: $seen")
        val run = jobs(s"run:$r:${5 + i}")
        assert(run > 0 && run <= maxJobs(r), s"warm $r ran $run jobs: $seen")
      }
      // the meter does see build jobs: the cold loads ran some
      assert(jobs("build:quality:3") > 0 && jobs("build:customers:4") > 0,
        seen)
    } finally {
      shim.stop()
      sc.removeSparkListener(listener)
      spark.sql("DROP DATABASE IF EXISTS graft_warmdb CASCADE")
    }
  }
}
