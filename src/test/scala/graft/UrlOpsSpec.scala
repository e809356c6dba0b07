package graft

import graft.ext.UrlOps
import org.apache.spark.sql.functions._

/** Gates for URL canonicalization (q150/q151): one spec case per
  * canonicalization rule in [[graft.ext.UrlOps.canonicalUrl]]'s
  * contract, plus equal-URL collapse and the host rollup's exact
  * integer arithmetic.
  */
class UrlOpsSpec extends SparkSpec {
  import spark.implicits._

  private def canon(u: String): String =
    Seq(u).toDF("url").select(UrlOps.canonicalUrl(col("url"))).head.getString(0)

  test("scheme and host lowercase; path case preserved") {
    assert(canon("HTTPS://Example.COM/Docs/A") === "https://example.com/Docs/A")
  }

  test("fragment dropped") {
    assert(canon("https://example.com/p#Section-2") === "https://example.com/p")
    assert(canon("https://example.com/#top") === "https://example.com/")
  }

  test("default port stripped, non-default kept, cross-scheme kept") {
    assert(canon("http://example.com:80/p") === "http://example.com/p")
    assert(canon("https://example.com:443/p") === "https://example.com/p")
    assert(canon("http://example.com:8080/p") === "http://example.com:8080/p")
    // :443 is NOT http's default — load-bearing, kept
    assert(canon("http://example.com:443/p") === "http://example.com:443/p")
  }

  test("leading www. label dropped — only as a whole label, only leading") {
    assert(canon("https://www.example.com/p") === "https://example.com/p")
    // 'wwwx' is not the www label; 'sub.www.x' is not leading
    assert(canon("https://wwwx.example.com/p") === "https://wwwx.example.com/p")
    assert(canon("https://sub.www.example.com/p")
      === "https://sub.www.example.com/p")
  }

  test("path: doubled slashes collapse, trailing slash drops, empty -> /") {
    assert(canon("https://example.com//a///b/") === "https://example.com/a/b")
    assert(canon("https://example.com") === "https://example.com/")
    assert(canon("https://example.com/") === "https://example.com/")
  }

  test("tracking params removed by prefix, rest sorted, empty query dropped") {
    assert(canon("https://example.com/p?b=2&utm_source=feed&a=1")
      === "https://example.com/p?a=1&b=2")
    assert(canon("https://example.com/p?gclid=X&fbclid=Y&msclkid=Z&ref=r")
      === "https://example.com/p")
    // prefix match is against 'name=': refresh=1 is NOT ref=
    assert(canon("https://example.com/p?refresh=1&ref=x")
      === "https://example.com/p?refresh=1")
    assert(canon("https://example.com/p?") === "https://example.com/p")
  }

  test("query-param order never splits a canonical group") {
    assert(canon("https://example.com/p?a=1&b=2&c=3")
      === canon("HTTPS://EXAMPLE.COM/p?c=3&b=2&a=1#frag"))
  }

  test("withCanonicalUrl flags: tracking and fragment presence") {
    val out = UrlOps.withCanonicalUrl(
      Seq("https://a.com/p?utm_x=1", "https://a.com/p#f", "https://a.com/p")
        .toDF("url"), "url")
      .select(col("url_had_tracking"), col("url_had_fragment"))
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1))).toSeq
    assert(out === Seq((true, false), (false, true), (false, false)))
  }

  test("hostRollup: exact counts and integer-micro dup rate") {
    // host a.com: 4 fetches over 2 canonical urls (2 syntactic variants
    // each) -> dup_rate = (4-2)*1e6 div 4 = 500000. host b.com: 3
    // fetches, 3 urls -> 0.
    val urls = Seq(
      "https://www.a.com/x?utm_s=1", "https://a.com/x",
      "HTTP://A.COM:80/y", "http://a.com/y/",
      "https://b.com/1", "https://b.com/2", "https://b.com/3").toDF("url")
    val roll = UrlOps.hostRollup(urls, "url")
      .select("url_host", "n_fetches", "n_urls", "n_tracking_fetches",
        "dup_rate_micro")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    assert(roll === Seq(("a.com", 4L, 2L, 1L, 500000L),
      ("b.com", 3L, 3L, 0L, 0L)))
  }

  private def robotsOut(urls: Seq[(Long, String)],
      rules: Seq[(String, String, Boolean)]): Map[Long, (Boolean, Long)] =
    UrlOps.robotsVerdict(
        urls.toDF("id", "url_canon"), "id", "url_canon",
        rules.toDF("host", "path_prefix", "allow"))
      .select("id", "fetch_allowed", "rule_match_len")
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2)))
      .toMap

  test("robots: longest matching prefix wins") {
    val out = robotsOut(
      Seq(1L -> "https://a.com/docs/1", 2L -> "https://a.com/docs/12",
        3L -> "https://a.com/other"),
      Seq(("a.com", "/docs/1", false), ("a.com", "/docs/12", true)))
    // /docs/1 and /docs/12 both prefix id=2's path; the longer allow wins.
    assert(out === Map(1L -> (false, 7L), 2L -> (true, 8L),
      3L -> (true, 0L)))
  }

  test("robots: a same-length tie goes to allow; no match defaults allow") {
    val out = robotsOut(
      Seq(1L -> "https://a.com/p", 2L -> "https://a.com/q"),
      Seq(("a.com", "/p", true), ("a.com", "/p", false)))
    assert(out === Map(1L -> (true, 2L), 2L -> (true, 0L)))
  }

  test("robots: disallow-all host overridden only by a longer allow") {
    val out = robotsOut(
      Seq(1L -> "https://a.com/x", 2L -> "https://a.com/keep/this",
        3L -> "https://b.com/x"),
      Seq(("a.com", "/", false), ("a.com", "/keep", true)))
    // b.com has no rules: its URLs stay allowed — a.com's "/" must not leak.
    assert(out === Map(1L -> (false, 1L), 2L -> (true, 5L),
      3L -> (true, 0L)))
  }

  test("robots: verdict joins back without dropping or duplicating rows") {
    val docs = Seq((1L, "https://a.com/p", "payload-1"),
      (2L, "https://a.com/p", "payload-2")).toDF("id", "url_canon", "body")
    val out = UrlOps.robotsVerdict(docs, "id", "url_canon",
        Seq(("a.com", "/p", false)).toDF("host", "path_prefix", "allow"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("body"),
        r.getAs[Boolean]("fetch_allowed"))).sortBy(_._1).toSeq
    // duplicate canonical URLs stay distinct rows; extra columns survive.
    assert(out === Seq((1L, "payload-1", false), (2L, "payload-2", false)))
  }

  private val linkPage =
    "<html><body><p>see <a href=\"/a\">a</a> and " +
      "<A HREF=\"HTTPS://WWW.Other.COM/X//Y/\">ext</A> and " +
      "<a class=\"z\" href=\"//cdn.com/lib\">proto</a> and " +
      "<a href=\"sub/page?b=2&a=1\">rel</a> and " +
      "<a href=\"../up\">dots</a> and " +
      "<a href=\"#frag\">frag</a> and " +
      "<a href=\"mailto:x@y.com\">mail</a></p></body></html>"

  private def outlinksOf(html: String, base: String,
      rawBase: String = null) =
    UrlOps.extractOutlinks(
        Seq((1L, html, base, Option(rawBase).getOrElse(base)))
          .toDF("id", "html", "base", "raw"),
        "id", "html", "base", "raw")
      .select("href_raw", "link_kind", "link_canon", "link_host")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3)))).toSeq

  test("outlinks: every href class resolves or drops per contract") {
    val out = outlinksOf(linkPage, "https://ex.com/Docs/7")
    assert(out === Seq(
      ("/a", "root_relative", Some("https://ex.com/a"), Some("ex.com")),
      // absolute link canonicalizes: case, www., doubled + trailing slash
      ("HTTPS://WWW.Other.COM/X//Y/", "absolute",
        Some("https://other.com/X/Y"), Some("other.com")),
      ("//cdn.com/lib", "protocol_relative",
        Some("https://cdn.com/lib"), Some("cdn.com")),
      // path-relative resolves against the base DIRECTORY (/Docs/)
      // and keeps its query params through canonicalization (sorted)
      ("sub/page?b=2&a=1", "path_relative",
        Some("https://ex.com/Docs/sub/page?a=1&b=2"), Some("ex.com")),
      ("../up", "dropped_dotseg", None, None),
      ("#frag", "dropped_fragment", None, None),
      ("mailto:x@y.com", "dropped_scheme", None, None)))
  }

  test("outlinks: path-relative merges against the AS-FETCHED directory " +
    "(RFC 3986 §5.2.3) — a trailing slash the canonical base dropped") {
    // directory page: raw .../Docs/7/ canonicalizes to .../Docs/7, but
    // 'intro.html' must resolve UNDER the directory, not beside it
    val dir = outlinksOf("<a href=\"intro.html\">i</a>",
      "https://ex.com/Docs/7", rawBase = "https://ex.com/Docs/7/")
    assert(dir === Seq(("intro.html", "path_relative",
      Some("https://ex.com/Docs/7/intro.html"), Some("ex.com"))))
    // file-style raw base: unchanged behavior (directory = /Docs/)
    val file = outlinksOf("<a href=\"intro.html\">i</a>",
      "https://ex.com/Docs/7", rawBase = "https://ex.com/Docs/7?x=1#f")
    assert(file === Seq(("intro.html", "path_relative",
      Some("https://ex.com/Docs/intro.html"), Some("ex.com"))))
    // empty raw path merges as '/'
    val bare = outlinksOf("<a href=\"p\">p</a>",
      "https://ex.com/", rawBase = "HTTPS://Ex.COM?q=1")
    assert(bare === Seq(("p", "path_relative",
      Some("https://ex.com/p"), Some("ex.com"))))
  }

  test("outlinks: absolute hrefs with path dot segments drop too") {
    val out = outlinksOf(
      "<a href=\"https://h.com/a/../b\">d</a>" +
        "<a href=\"HTTP://h.com/a/./c\">d2</a>" +
        // '..' in the QUERY is not a path dot segment — kept
        "<a href=\"https://h.com/ok?back=/a/../b\">q</a>",
      "https://ex.com/")
    assert(out === Seq(
      ("https://h.com/a/../b", "dropped_dotseg", None, None),
      ("HTTP://h.com/a/./c", "dropped_dotseg", None, None),
      ("https://h.com/ok?back=/a/../b", "absolute",
        Some("https://h.com/ok?back=/a/../b"), Some("h.com"))))
  }

  test("outlinks: unquoted hrefs and non-anchor tags are not harvested") {
    val html = "<a href=/bare>x</a> <link href=\"/css\"> " +
      "<a id=\"k\" href=\"/ok\">y</a>"
    val out = outlinksOf(html, "http://ex.com/")
    assert(out.map(_._1) === Seq("/ok"))
  }

  test("outlinks: a page with no anchors contributes no rows") {
    assert(outlinksOf("<p>plain</p>", "http://ex.com/").isEmpty)
  }

  test("host link graph: exact counts, distinct targets, internal flag") {
    val pages = Seq(
      (1L, "<a href=\"/a\">1</a><a href=\"/a\">2</a>" +
        "<a href=\"/b?utm_source=x\">3</a><a href=\"/b\">4</a>" +
        "<a href=\"https://o.com/z\">5</a>", "https://ex.com/"),
      (2L, "<a href=\"https://o.com/z#f\">6</a>", "https://ex.com/p"))
      .toDF("id", "html", "base")
    val links = UrlOps.extractOutlinks(pages, "id", "html", "base", "base")
      .withColumn("src_host", UrlOps.urlHost(col("base_canon")))
    val out = UrlOps.hostLinkGraph(links, "src_host")
      .orderBy("src_host", "dst_host")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSeq
    // /b?utm_source=x and /b collapse to ONE canonical target (2 links);
    // the o.com fragment variant collapses with the clean one.
    assert(out === Seq(("ex.com", "ex.com", 4L, 2L, true),
      ("ex.com", "o.com", 2L, 1L, false)))
  }

  private def parse(txt: String, agent: String = "graftbot") =
    UrlOps.parseRobotsTxt(
        Seq(("h.com", txt)).toDF("host", "txt"), "host", "txt", agent)
      .select("path_prefix", "allow", "from_specific")
      .collect().map(r => (r.getString(0), r.getBoolean(1),
        r.getBoolean(2))).toSeq

  test("robots.txt parse: comments, case, stacking, ignored directives") {
    val txt =
      "# preamble\n" +
        "Disallow: /orphan\n" + // before any group: dropped
        "User-Agent: BadBot\nDisallow: /tmp\n" + // other agent's group
        "\n" +
        "user-agent: Extra\n" + // stacked with * below
        "USER-AGENT: *\n" +
        "Crawl-delay: 5\n" + // ignored, must not detach the rules
        "Disallow: /Docs/1\n" +
        "ALLOW: /Docs/12 # trailing comment\n" +
        "Disallow:\n" + // empty pattern: no restriction, dropped
        "allow: /a\n"
    assert(parse(txt) === Seq(("/Docs/1", false, false),
      ("/Docs/12", true, false), ("/a", true, false)))
  }

  test("robots.txt parse: a specific group silences every * group") {
    val txt = "User-agent: *\nDisallow: /\n\n" +
      "User-agent: GraftBot\nAllow: /Docs/1\nDisallow: /private\n"
    assert(parse(txt) === Seq(("/Docs/1", true, true),
      ("/private", false, true)))
    // a different agent sees only the * group
    assert(parse(txt, agent = "otherbot") === Seq(("/", false, false)))
  }

  test("robots.txt parse: a group naming both * and the agent is specific") {
    val txt = "User-agent: graftbot\nUser-agent: *\nDisallow: /x\n"
    assert(parse(txt) === Seq(("/x", false, true)))
  }

  test("robots.txt parse: a rule line terminates a UA stack") {
    // the second User-agent starts a NEW group because a rule intervened
    val txt = "User-agent: a\nDisallow: /a\nUser-agent: *\nDisallow: /b\n"
    assert(parse(txt) === Seq(("/b", false, false)))
  }

  test("robots.txt parse: a repeated rule line is ONE logical rule " +
    "(fold-tail array_distinct) — within a group, across stacked " +
    "groups, and never across a genuine allow/disallow difference") {
    // hand-maintained files repeat lines; RFC 9309's rule set is a set
    assert(parse("User-agent: *\nDisallow: /a\nDisallow: /a\n")
      === Seq(("/a", false, false)))
    // the same rule in two applicable * groups: still one logical rule
    assert(parse("User-agent: *\nDisallow: /a\n\n" +
      "User-agent: *\nDisallow: /a\nDisallow: /b\n")
      === Seq(("/a", false, false), ("/b", false, false)))
    // allow vs disallow on one path is TWO rules (q152's tie class)
    assert(parse("User-agent: *\nAllow: /p\nDisallow: /p\nAllow: /p\n")
      .sorted === Seq(("/p", false, false), ("/p", true, false)))
  }

  test("robots.txt parse: CRLF bodies and tab whitespace (RFC 9309 §2.2)") {
    // CRLF line endings (what the WARC/HTTP tier yields) must not leave
    // a trailing \r on any value — '*\r' would match no group and every
    // rule would silently drop (fail-open).
    val crlf = "User-agent: *\r\nDisallow:\t/a\r\nAllow: /a/b\t\r\n"
    assert(parse(crlf) === Seq(("/a", false, false), ("/a/b", true, false)))
    // a CRLF body parses identically to its LF twin
    val lf = "# hdr\nUser-agent: graftbot\nDisallow: /x\nAllow: /x/y\n"
    assert(parse(lf.replace("\n", "\r\n")) === parse(lf))
    // bare-CR terminators (RFC-allowed) split too
    assert(parse("User-agent: *\rDisallow: /y\r")
      === Seq(("/y", false, false)))
  }

  test("crawl-delay: CRLF bodies and tab whitespace") {
    assert(delayOf("User-agent: *\r\nCrawl-delay:\t2.5\r\n")
      === Seq(("2.5", Some(2500000L))))
    val lf = "User-agent: graftbot\nCrawl-delay: 3\nDisallow: /x\n"
    assert(delayOf(lf.replace("\n", "\r\n")) === delayOf(lf))
  }

  test("robots.txt parse: no applicable rules emits no rows") {
    assert(parse("User-agent: BadBot\nDisallow: /\n").isEmpty)
    assert(parse("# nothing here\n").isEmpty)
  }

  test("robots.txt parse ∘ verdict ≡ the q152 rule-table semantics") {
    // parse a real body, feed the verdict: longest-match + allow tie
    val rules = UrlOps.parseRobotsTxt(
      Seq(("a.com", "User-agent: *\nDisallow: /Docs/1\nAllow: /Docs/12\n"))
        .toDF("host", "txt"), "host", "txt", "graftbot")
    val out = UrlOps.robotsVerdict(
        Seq(1L -> "https://a.com/Docs/12/x", 2L -> "https://a.com/Docs/11")
          .toDF("id", "url_canon"), "id", "url_canon", rules)
      .select("id", "fetch_allowed").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out === Map(1L -> true, 2L -> false))
  }

  test("parsing the planted robots.txt bodies reproduces q152's rule " +
    "table on the non-specific hosts") {
    // the q156 plant's * groups carry exactly the plantedRobotsRules
    // classes (plus the /w*card$ wildcard passthrough, compared
    // separately below); hosts ending '3' get a graftbot group and
    // leave the comparison (their * rules are silenced by design)
    val docs = (0L until 40L)
      .map(i => (i, s"t$i", "src" + (i % 20))).toDF("doc_id", "text", "source")
    val allParsed = UrlOps.parseRobotsTxt(
        graft.entry.TextQueries.plantedRobotsTxt(docs), "host", "txt",
        "graftbot")
      .filter(!col("host").startsWith("src3.") &&
        !col("host").startsWith("src13."))
    val parsed = allParsed.filter(!col("has_wildcard"))
      .select("host", "path_prefix", "allow")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getBoolean(2))).toSet
    val planted = graft.entry.TextQueries.plantedRobotsRules(docs)
      .filter(!col("host").startsWith("src3.") &&
        !col("host").startsWith("src13."))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getBoolean(2))).toSet
    assert(parsed === planted)
    // every non-silenced host parsed the wildcard rule, flagged
    val wc = allParsed.filter(col("has_wildcard"))
      .select("path_prefix", "allow")
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSet
    assert(wc === Set(("/w*card$", false)))
  }

  test("sitemap parse: blocks, missing lastmod, scope, canonicalization") {
    val xml = "<?xml version=\"1.0\"?><urlset>" +
      "<sitemap><loc>https://h.com/more.xml</loc></sitemap>" + // index: ignored
      "<url>\n  <loc> HTTPS://WWW.H.COM/A//B/?utm_source=map </loc>\n" +
      "  <lastmod>2026-01-15</lastmod>\n</url>" +
      "<url><loc>https://h.com/c?b=2</loc></url>" + // no lastmod
      "<url><lastmod>2026-02-02</lastmod></url>" + // no loc: dropped
      "<url><loc>https://other.com/x</loc><lastmod>2026-03-03</lastmod>" +
      "</url></urlset>"
    val out = UrlOps.parseSitemap(
        Seq(("h.com", xml)).toDF("host", "xml"), "host", "xml")
      .select("url_canon", "lastmod", "had_lastmod", "in_scope")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getBoolean(2), r.getBoolean(3))).toSeq
    assert(out === Seq(
      ("https://h.com/A/B", "2026-01-15", true, true),
      ("https://h.com/c?b=2", "", false, true),
      ("https://other.com/x", "2026-03-03", true, false)))
  }

  test("sitemap INDEX parse: child entries harvest, url entries ignored, " +
    "scope + lastmod + canonicalization") {
    val xml = "<?xml version=\"1.0\"?><sitemapindex>" +
      "<sitemap>\n  <loc> HTTPS://WWW.H.COM/maps//a.xml </loc>\n" +
      "  <lastmod>2026-02-11</lastmod>\n</sitemap>" +
      "<sitemap><loc>https://h.com/b.xml</loc></sitemap>" + // no lastmod
      "<sitemap><lastmod>2026-01-01</lastmod></sitemap>" + // no loc: drop
      "<sitemap><loc>https://cdn.net/sm.xml</loc></sitemap>" + // x-host
      "<url><loc>https://h.com/page</loc></url>" + // url tier: NOT ours
      "</sitemapindex>"
    val out = UrlOps.parseSitemapIndex(
        Seq(("h.com", xml)).toDF("host", "xml"), "host", "xml")
      .select("url_canon", "lastmod", "had_lastmod", "in_scope")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getBoolean(2), r.getBoolean(3))).toSeq
    assert(out === Seq(
      ("https://h.com/maps/a.xml", "2026-02-11", true, true),
      ("https://h.com/b.xml", "", false, true),
      ("https://cdn.net/sm.xml", "", false, false)))
    // and the <url> parser is blind to the index tier, symmetric
    val urls = UrlOps.parseSitemap(
        Seq(("h.com", xml)).toDF("host", "xml"), "host", "xml")
      .select("url_canon").collect().map(_.getString(0)).toSeq
    assert(urls === Seq("https://h.com/page"))
  }

  test("native url canonicalizer ≡ the column chain on generated URLs " +
    "and every planted shape") {
    // UrlCanonExpr transcribes the chain rule for rule; this pin makes
    // any future drift a red spec. Generator covers: mixed-case
    // schemes/hosts, www./wwwx edge, default and load-bearing ports,
    // doubled/trailing slashes, unsorted params with tracking mixed in,
    // empty params (a&&b), fragments, scheme-less junk, '?' inside the
    // fragment (the chain's regexp_replace no-match edge), bare hosts.
    val rnd = new scala.util.Random(4242L)
    val schemes = Seq("http", "HTTP", "https", "HtTpS", "ftp", "")
    val hosts = Seq("Ex.COM", "www.ex.com", "WWWx.ex.com", "sub.www.ex.com",
      "ex.com:80", "ex.com:443", "ex.com:8080", "EX.com:80", "")
    val paths = Seq("", "/", "//", "/A//b/", "/Docs/7", "/a/b/c//", "/x.y")
    val qss = Seq("", "?", "?b=2&a=1", "?utm_source=f&a=1", "?a&&b=1",
      "?ref=x&refresh=1", "?gclid=Z", "?z=%20&y=+")
    val frags = Seq("", "#f", "#Sec-2", "#?trap", "#a#b")
    val gen = (1 to 400).map { _ =>
      schemes(rnd.nextInt(schemes.size)) +
        (if (rnd.nextBoolean()) "://" else if (rnd.nextInt(4) == 0) ":/" else "://") +
        hosts(rnd.nextInt(hosts.size)) + paths(rnd.nextInt(paths.size)) +
        qss(rnd.nextInt(qss.size)) + frags(rnd.nextInt(frags.size))
    } ++ Seq("", "no-scheme/path?a=1", "HTTPS://WWW.Ex.COM:443//A//B/?b=2&utm_q=9&a=1#f",
      "mailto:x@y.z", "//proto.rel/x", "http://h.com#?y=utm_a")
    val df = gen.toDF("u")
    graft.plans.GraftFunctions.register(spark)
    val both = UrlOps.withCanonicalUrl(
        UrlOps.withCanonicalUrlChain(df, "u")
          .withColumnRenamed("url_canon", "c_ref")
          .withColumnRenamed("url_host", "h_ref")
          .withColumnRenamed("url_had_tracking", "t_ref")
          .drop("url_had_fragment"),
        "u")
      .select("u", "c_ref", "url_canon", "h_ref", "url_host",
        "t_ref", "url_had_tracking")
      .collect()
    both.foreach { r =>
      assert(r.getString(2) == r.getString(1),
        s"canon drift on '${r.getString(0)}': " +
          s"native=${r.getString(2)} chain=${r.getString(1)}")
      assert(r.getString(4) == r.getString(3),
        s"host drift on '${r.getString(0)}'")
      assert(r.getBoolean(6) == r.getBoolean(5),
        s"tracking-flag drift on '${r.getString(0)}'")
    }
  }

  test("native link resolver ≡ the column chain on generated " +
    "(href, base) combinations and every planted shape") {
    // LinkResolveExpr transcribes extractOutlinks' chain rule for
    // rule; this pin makes any future drift a red spec. Hrefs cover:
    // every kind class, case games in schemes, dot segments at every
    // boundary (leading/trailing/inner, single and double, in the
    // QUERY of an absolute href where they must NOT drop), multi-?,
    // fragments inside relative hrefs, empty authority, tracking
    // params; bases cover directory/file/bare/query+fragment raws
    // and a no-scheme junk base.
    val hrefs = Seq("", "#top", "#", "/a", "/a/b?b=2&a=1", "//cdn.net/x",
      "//", "p", "p/q.html", "more?b=2&utm_x=1&a=1", "p#frag", "?q=1",
      "sub/../up", "../up", "./", ".", "..", "a/.", "a/..b", "a/...b/c",
      "ok?back=/a/../b", "https://h.com/a/../b", "HTTPS://WWW.Ex.COM/X//Y/",
      "HTTP://h.com:80/p?z=1&utm_q=2", "http://h.com/ok?x=/../y",
      "https://h.com", "mailto:x@y.z", "javascript:void(0)", "ftp://f/x",
      "weird+scheme:op", "a1b:rel/ish", "http:/one-slash", "https:",
      "//host/./x", "/root/./x", "x:y:z")
    val bases = Seq(
      ("https://ex.com/Docs/7", "https://ex.com/Docs/7"),
      ("https://ex.com/Docs/7", "https://ex.com/Docs/7/"),
      ("https://ex.com/Docs/7", "HTTPS://WWW.Ex.COM/Docs/7?x=1#f"),
      ("https://ex.com/", "HTTPS://Ex.COM"),
      ("http://ex.com:8080/a/b", "http://ex.com:8080/a/b"),
      ("junk-no-scheme", "also junk"))
    val rows = for {
      (h, i) <- hrefs.zipWithIndex
      ((bc, br), j) <- bases.zipWithIndex
    } yield (i.toLong * 100 + j,
      "<a href=\"" + h.replace("\"", "") + "\">x</a>", bc, br)
    val df = rows.toDF("id", "html", "bc", "br")
    def run(native: Boolean) = (if (native) UrlOps.extractOutlinks(
        df, "id", "html", "bc", "br")
      else UrlOps.extractOutlinksChain(df, "id", "html", "bc", "br"))
      .select("id", "href_raw", "link_kind", "link_url", "link_canon",
        "link_host")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), Option(r.getString(4)),
        Option(r.getString(5)))).sortBy(_._1).toSeq
    val chain = run(native = false)
    val native = run(native = true)
    assert(chain.nonEmpty && chain.size === native.size)
    chain.zip(native).foreach { case (c, n) =>
      assert(n === c, s"native/chain drift: chain=$c native=$n")
    }
  }

  private def delayOf(txt: String, agent: String = "graftbot") =
    UrlOps.robotsCrawlDelay(
        Seq(("h.com", txt)).toDF("host", "txt"), "host", "txt", agent)
      .select("crawl_delay_raw", "crawl_delay_micros")
      .collect().map(r => (r.getString(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]))).toSeq

  test("crawl-delay: group attribution, last-wins, specific beats star") {
    val txt = "User-agent: BadBot\nCrawl-delay: 99\n\n" +
      "User-agent: *\nCrawl-delay: 2\nDisallow: /x\nCrawl-delay: 5\n"
    assert(delayOf(txt) === Seq(("5", Some(5000000L)))) // last * wins
    val withSpec = txt +
      "\nUser-agent: graftbot\nCrawl-delay: 0.5\nDisallow: /y\n"
    assert(delayOf(withSpec) === Seq(("0.5", Some(500000L))))
    // a specific group WITHOUT a delay silences the * delay entirely
    assert(delayOf(txt + "\nUser-agent: graftbot\nDisallow: /y\n")
      === Seq.empty)
  }

  test("crawl-delay: malformed values surface as null micros; no " +
    "directive emits no row") {
    assert(delayOf("User-agent: *\nCrawl-delay: fast\n")
      === Seq(("fast", None)))
    assert(delayOf("User-agent: *\nDisallow: /x\n") === Seq.empty)
  }

  test("politeness schedule: per-host slots from rank and delay") {
    val frontier = Seq(("a.com", 1L, "u1"), ("a.com", 2L, "u2"),
      ("b.com", 1L, "u3"), ("b.com", 3L, "u4"))
      .toDF("link_host", "rank", "url_canon")
    val delays = Seq(("a.com", "2", 2000000L))
      .toDF("host", "crawl_delay_raw", "crawl_delay_micros")
    val out = UrlOps.politenessSchedule(frontier, "link_host", "rank",
        delays, defaultDelayMicros = 1000000L)
      .select("link_host", "rank", "fetch_at_micros")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(out === Set(("a.com", 1L, 0L), ("a.com", 2L, 2000000L),
      ("b.com", 1L, 0L), ("b.com", 3L, 2000000L)))
  }

  test("graft_rx_match_len ≡ the rlike + regexp_extract(…,0) builtin " +
    "pair it fuses (the wildcard tier's pattern-caching probe)") {
    graft.plans.GraftFunctions.register(spark)
    val rows = for {
      s <- Seq("/Docs/12", "/a/b/c", "", "/p.pdf", "xyz", "/ÜÑ/é",
        "/Docs/52", "/😀x/y") // non-BMP: lengths are CODEPOINTS
      r <- Seq("^/Docs/.*2$", "^/a", "b/c$", "^$", "^/p\\.pdf$", "x.z",
        "^/ÜÑ", "^/D.*s/5", "^/😀x")
    } yield (s, r)
    val out = rows.toDF("s", "r").select(col("s"), col("r"),
        call_function("graft_rx_match_len", col("s"), col("r")).as("n"),
        expr("s rlike r").as("m"),
        length(expr("regexp_extract(s, r, 0)")).as("l"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { row =>
      val (n, m, l) = (row.getLong(2), row.getBoolean(3), row.getInt(4))
      if (m) assert(n == l,
        s"matched-length drift on ('${row.getString(0)}','${row.getString(1)}'): native=$n builtin=$l")
      else assert(n == -1L,
        s"no-match must be -1 on ('${row.getString(0)}','${row.getString(1)}'): $n")
    }
  }

  test("robots wildcard matching ≡ a plain-Scala RFC 9309 §2.2.3 " +
    "reference matcher over adversarial patterns and paths") {
    // reference matcher: the documented contract transcribed with
    // java.util.regex directly — the match target is PATH+QUERY;
    // wildcard iff '*' present or trailing '$'; escape every metachar
    // but '*'; '*' -> '.*'; trailing '$' -> anchor; the regex is the
    // match PREDICATE only and specificity is the PATTERN's length
    // (the de-facto pattern-length ranking, plain and wildcard alike).
    def refMatch(target: String, pat: String): Option[Long] = {
      val wc = pat.contains("*") || pat.endsWith("$")
      val hit =
        if (!wc) target.startsWith(pat)
        else {
          val esc = pat.replaceAll("([\\\\.\\[\\]{}()+?^$|])", "\\\\$1")
            .replace("*", ".*")
          val rx = "^" + (if (pat.endsWith("$"))
            esc.stripSuffix("\\$") + "$" else esc)
          java.util.regex.Pattern.compile(rx).matcher(target).find()
        }
      if (hit) Some(pat.length.toLong) else None
    }
    val pats = Seq("/Docs/*", "/Docs/12$", "/D*s/5$", "*", "/p", "/p$",
      "/a$b", "/x*y*z$", "/q*", "/*.php$", "/.d+[x]{2}(a)|b", "/Docs/1",
      "/s?k=", "/*?k=2$", "/s?*")
    val rules = pats.zipWithIndex
      .map { case (p, i) => ("w.com", p, i % 2 == 0) }
    val rnd = new scala.util.Random(1717L)
    val paths = (Seq("/Docs/12", "/Docs/1", "/Docs/5", "/p", "/pq", "/a$b/c",
      "/xAyBz", "/xyz", "/q", "/file.php", "/x.php.php", "/",
      "/.d+[x]{2}(a)|bZ", "/s?k=2", "/s?k=9", "/p?k=2", "/p$") ++
      (1 to 80).map(_ => "/" + (0 to rnd.nextInt(4))
        .map(_ => Seq("Docs", "a", "p", "5", "12", "x.y", "q$")(
          rnd.nextInt(7))).mkString("/"))).distinct
    def score(target: String): Long = {
      val s = rules.flatMap { case (_, pat, allow) =>
        refMatch(target, pat).map(l => 2L * l + (if (allow) 1L else 0L)) }
      if (s.isEmpty) 1L else s.max
    }
    val expected = paths.zipWithIndex.map { case (p, i) =>
      (i.toLong, score(p) % 2 == 1, score(p) / 2) }.toSet
    val urls = paths.zipWithIndex
      .map { case (p, i) => (i.toLong, "https://w.com" + p) }
    val got = UrlOps.robotsVerdict(urls.toDF("id", "url_canon"),
        "id", "url_canon", rules.toDF("host", "path_prefix", "allow"))
      .select("id", "fetch_allowed", "rule_match_len")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      .toSet
    assert(got === expected)
  }

  test("robots match target is path PLUS query: query-targeting rules " +
    "fire; a $-anchored path rule fails when a query follows") {
    val rules = Seq(
      ("w.com", "/Docs/*", false),
      ("w.com", "/*?sessionid=", false), // the classic §2.2.3 shape
      ("w.com", "/Docs/9$", true))       // longer allow, but $ ≠ query end
    val out = robotsOut(
      Seq(1L -> "https://w.com/page?sessionid=abc",
        2L -> "https://w.com/Docs/9?a=1",
        3L -> "https://w.com/Docs/9"),
      rules)
    // 1: only the query rule matches (len 13, disallow).
    // 2: /Docs/9$ does NOT match (query follows) -> blanket disallows.
    // 3: no query -> the $ rule matches, len 8 allow beats len 7.
    assert(out === Map(1L -> (false, 13L), 2L -> (false, 7L),
      3L -> (true, 8L)))
  }

  test("robots specificity is PATTERN length: a greedy 'Disallow: *' " +
    "never outranks a longer allow (the de-facto ranking)") {
    val out = robotsOut(
      Seq(1L -> "https://w.com/public/page", 2L -> "https://w.com/x"),
      Seq(("w.com", "*", false), ("w.com", "/public", true)))
    assert(out === Map(1L -> (true, 7L), 2L -> (false, 1L)))
  }

  test("robots verdict: shuffled-hash fallback ≡ broadcast path, and the " +
    "fallback really shuffles") {
    val urls = (1L to 40L).map(i =>
      (i, s"https://h${i % 7}.com/p${i % 5}/deep")).toDF("id", "url_canon")
    val rules = (0L until 7L).flatMap(h => Seq(
      (s"h$h.com", "/p1", false), (s"h$h.com", "/p1/deep", true),
      (s"h$h.com", "/p3", false))).toDF("host", "path_prefix", "allow")
    def out(bcast: Boolean) = UrlOps.robotsVerdict(
        urls, "id", "url_canon", rules, broadcastRules = bcast)
      .select("id", "fetch_allowed", "rule_match_len")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(out(bcast = false) === out(bcast = true))
    val shjPlan = UrlOps.robotsVerdict(urls, "id", "url_canon", rules,
      broadcastRules = false).queryExecution.executedPlan.toString
    assert(shjPlan.contains("ShuffledHashJoin"),
      s"fallback did not plan a shuffled hash join:\n$shjPlan")
  }

  test("politeness schedule: shuffled-hash fallback ≡ broadcast path") {
    val frontier = Seq(("a.com", 1L, "u1"), ("a.com", 2L, "u2"),
      ("b.com", 2L, "u3")).toDF("link_host", "rank", "url_canon")
    val delays = Seq(("a.com", "2", 2000000L), ("zzz.com", "9", 9000000L))
      .toDF("host", "crawl_delay_raw", "crawl_delay_micros")
    def out(bcast: Boolean) = UrlOps.politenessSchedule(frontier,
        "link_host", "rank", delays, defaultDelayMicros = 1000000L,
        broadcastDelays = bcast)
      .select("link_host", "rank", "fetch_at_micros")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out(bcast = false) === out(bcast = true))
  }

  test("recency bucket: 30-day lattice, year clamp, unknown stalest, " +
    "future clamps fresh") {
    val out = Seq("2026-02-10", "2026-02-09", "2026-01-12", "2026-01-11",
        "2020-03-15", "2027-01-01", "", "soon", "2026-99-99", "2026-1-5")
      .toDF("lastmod")
      .select(UrlOps.recencyBucket(col("lastmod"), "2026-02-10"))
      .collect().map(_.getLong(0)).toSeq
    // ages: 0, 1, 29, 30, >year, future(-), absent, junk, regex-valid
    // impossible date, non-strict format — buckets:
    assert(out === Seq(0L, 0L, 0L, 1L, 11L, 0L, 12L, 12L, 12L, 12L))
  }

  test("frontier recency ranking: fresh sitemap beats stale sitemap " +
    "beats unknown-age link discovery, regardless of depth") {
    // ordinal = bucket*2^20 + depth: a DEEP fresh URL must still beat
    // a SHALLOW unknown-age one — recency dominates depth
    val fresh = 0L * 1048576L + 5L
    val stale = 11L * 1048576L + 1L
    val unknown = 12L * 1048576L + 1L
    assert(fresh < stale && stale < unknown)
  }

  test("q162 output: recency live — per host ranks are bucket-monotone, " +
    "sitemap discoveries present and first where fresh") {
    val out = graft.SparkEntry.queries("q162_frontier_recency")(
        spark, "/root/testdata/sf0.001")
      .select("link_host", "rank", "recency_bucket", "found_by")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out.nonEmpty)
    // within each host, recency_bucket is non-decreasing in rank
    out.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.sortBy(_._2).map(_._3)
      assert(byRank === byRank.sorted, s"bucket order broken: $rows")
    }
    // sitemap-discovered candidates (found_by = -1) made the budget,
    // and all three age classes are live: fresh, stale (11), unknown (12)
    assert(out.exists(_._4 == -1L))
    val buckets = out.map(_._3).toSet
    assert(buckets.exists(_ <= 1L) && buckets.contains(11L) &&
      buckets.contains(12L), s"age classes missing: $buckets")
  }

  test("q171: the sitemap-index loop closes — child-discovered URLs " +
    "run the full frontier tail") {
    val out = SparkEntry.queries("q171_sitemap_recursion")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(4)))
    assert(out.nonEmpty)
    // disallow-all hosts (src10-19: name length ≡ 0 mod 5) never emit
    assert(out.forall(r => r._1.length < "src10.example.com".length))
    // per host: bucket-monotone ranks, and the stale 2020 child entry
    // is LIVE in the budget (bucket 11) behind the two fresh ones
    out.groupBy(_._1).values.foreach { rows =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._4).toSeq == Seq(0L, 0L, 11L), s"$rows")
    }
    // the messy seed-duplicate child entry canonicalized onto a
    // fetched seed and anti-joined away — no /Docs/ URL survives
    assert(out.forall(r => !r._3.contains("/Docs/")))
  }

  test("q173: the unified frontier ranks all discovery sources in one " +
    "budget — provenance classes live, ranks bucket-monotone") {
    val out = SparkEntry.queries("q173_unified_frontier")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4),
        r.getLong(5)))
    assert(out.nonEmpty)
    val classes = out.map(_._4)
    // child-sitemap (−3), sitemap (−1) and link (≥0) discoveries all
    // make budgets; redirect finals (−2) are unioned and verdicted but
    // rank behind age-attested candidates at k=3 (q168 owns their
    // enqueue demonstration)
    assert(classes.contains(-3L) && classes.contains(-1L) &&
      classes.exists(_ >= 0L), s"classes: ${classes.distinct.toSeq}")
    out.groupBy(_._1).values.foreach { rows =>
      val buckets = rows.sortBy(_._2).map(_._3)
      assert(buckets.toSeq == buckets.sorted.toSeq, s"$rows")
    }
  }

  test("parseRobotsSitemaps: case-insensitive directive, tab whitespace, " +
    "comment strip, canonicalization, mid-group harvest, cross-host " +
    "flag, relative drop") {
    import spark.implicits._
    val body = "# header\n" +
      "Sitemap: https://h.example.com/a.xml\n" +
      "SITEMAP:\tHTTPS://WWW.H.EXAMPLE.COM/maps//b.xml # primary\r\n" +
      "Sitemap: https://other.example.net/c.xml\n" +
      "Sitemap: /relative.xml\n" +
      "sitemap:\n" + // empty value: not an absolute URL, dropped
      "User-agent: *\n" +
      "Sitemap: https://h.example.com/mid.xml\n" +
      "Disallow: /x\n"
    val out = graft.ext.UrlOps.parseRobotsSitemaps(
        Seq(("h.example.com", body)).toDF("host", "txt"), "host", "txt")
      .orderBy("url_canon")
      .collect().map(r => (r.getString(1), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      ("https://h.example.com/a.xml", true),
      ("https://h.example.com/maps/b.xml", true),
      ("https://h.example.com/mid.xml", true),
      ("https://other.example.net/c.xml", false)))
  }

  test("canonicalization is idempotent") {
    val raw = Seq("HTTPS://WWW.Ex.COM:443//A//B/?b=2&utm_q=9&a=1#f")
    val once = canon(raw.head)
    assert(canon(once) === once)
  }

  test("httpDateToIso: strict IMF-fixdate only — every month maps, " +
    "obsolete/ISO/shifted forms convert to empty") {
    import spark.implicits._
    val months = Seq("Jan" -> "01", "Feb" -> "02", "Mar" -> "03",
      "Apr" -> "04", "May" -> "05", "Jun" -> "06", "Jul" -> "07",
      "Aug" -> "08", "Sep" -> "09", "Oct" -> "10", "Nov" -> "11",
      "Dec" -> "12")
    val good = months.map { case (m, _) =>
      s"Sun, 06 $m 1994 08:49:37 GMT" }
    val bad = Seq(
      "Sunday, 06-Nov-94 08:49:37 GMT", // RFC 850 (obsolete)
      "Sun Nov  6 08:49:37 1994",       // asctime (obsolete)
      "2026-02-01",                     // ISO, not IMF
      "Sun, 6 Nov 1994 08:49:37 GMT",   // 1-digit day
      "Sun, 06 Nov 1994 08:49:37 UTC",  // wrong zone token
      "")
    val out = (good ++ bad).toDF("lm")
      .select(graft.ext.UrlOps.httpDateToIso(col("lm")))
      .as[String].collect()
    assert(out.take(12).toSeq == months.map(p => s"1994-${p._2}-06"))
    assert(out.drop(12).forall(_ == ""))
  }

  test("httpDateToIso: shape-valid impossible dates fall to the " +
    "recency bucket's date gate (unknown age), real dates bucket") {
    import spark.implicits._
    val out = Seq(
      "Mon, 30 Feb 2026 00:00:00 GMT", // impossible, shape-valid
      "Mon, 02 Feb 2026 10:00:00 GMT") // 8 days before as-of
      .toDF("lm")
      .select(graft.ext.UrlOps.recencyBucket(
        graft.ext.UrlOps.httpDateToIso(col("lm")), "2026-02-10"))
      .as[Long].collect()
    assert(out.toSeq == Seq(12L, 0L))
  }

  test("extractOutlinksRel ≡ extractOutlinks on the (id, href) " +
    "multiset — the tag harvest drops exactly the href-less tags") {
    val docs = (0L until 200L)
      .map(i => (i, s"body of page $i", "src" + (i % 20)))
      .toDF("doc_id", "text", "source")
    val canon = UrlOps.withCanonicalUrl(
      graft.entry.TextQueries.withPlantedUrl(docs), "url")
    for (plant <- Seq(
        graft.entry.TextQueries.withPlantedPage(canon),
        graft.entry.TextQueries.withPlantedRelPage(canon))) {
      val viaHref = UrlOps.extractOutlinks(plant, "doc_id", "html",
          "url_canon", "url")
        .select("doc_id", "href_raw", "link_kind", "link_canon")
        .collect().map(_.toString).sorted.toSeq
      val viaTag = UrlOps.extractOutlinksRel(plant, "doc_id", "html",
          "url_canon", "url")
        .select("doc_id", "href_raw", "link_kind", "link_canon")
        .collect().map(_.toString).sorted.toSeq
      assert(viaTag === viaHref)
    }
  }

  test("rel nofollow is TOKEN membership: multi-token uppercase " +
    "matches, nofollowme does not, rel-before-href binds") {
    val base = Seq(("https://h.com/a/", "https://h.com/a/")).toDF(
      "url_canon", "url")
    val html =
      "<a rel=\"nofollow\" href=\"/x1\">a</a>" +
        "<A HREF=\"/x2\" REL=\"noopener NOFOLLOW ugc\">b</A>" +
        "<a rel=\"nofollowme\" href=\"/x3\">c</a>" +
        "<a href=\"/x4\">d</a>" +
        "<a name=\"no-href\">e</a>"
    val out = UrlOps.extractOutlinksRel(
        base.withColumn("doc_id", lit(1L)).withColumn("html", lit(html)),
        "doc_id", "html", "url_canon", "url")
      .select("href_raw", "link_nofollow")
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(out === Seq(("/x1", true), ("/x2", true), ("/x3", false),
      ("/x4", false)))
  }

  test("rel across pretty-printed whitespace: a newline (or CR/FF) " +
    "before the rel attribute still binds, and a newline inside the " +
    "token list still separates tokens") {
    val base = Seq(("https://h.com/a/", "https://h.com/a/")).toDF(
      "url_canon", "url")
    val html =
      "<a href=\"/n1\"\n   rel=\"nofollow\">a</a>" +
        "<a href=\"/n2\"\r\n\trel=\"sponsored\nnofollow\">b</a>" +
        "<a href=\"/n3\" rel=\"me\">c</a>"
    val out = UrlOps.extractOutlinksRel(
        base.withColumn("doc_id", lit(1L)).withColumn("html", lit(html)),
        "doc_id", "html", "url_canon", "url")
      .select("href_raw", "link_nofollow")
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(out === Seq(("/n1", true), ("/n2", true), ("/n3", false)))
  }

  test("withDocumentBase: absolute base redirects relative AND " +
    "root-relative hrefs; absolute hrefs are base-immune; a relative " +
    "base resolves against the fetched URL; a dropped-kind first base " +
    "falls back even when a valid second base follows") {
    val pages = Seq(
      ("<head><base href=\"https://tpl.example.net/t/3/\"></head>" +
        "<a href=\"page-rel\">p</a><a href=\"/root-a\">r</a>" +
        "<a href=\"https://fix.example.net/abs\">x</a>"),
      ("<head><base href=\"/newroot/sub/\"></head>" +
        "<a href=\"page-rel\">p</a>"),
      ("<head></head><a href=\"page-rel\">p</a>"),
      ("<head><base href=\"javascript:void(0)\">" +
        "<base href=\"https://second.example.net/x/\"></head>" +
        "<a href=\"page-rel\">p</a>"),
      ("<head><base href=\"sub/\"></head>" +
        "<a href=\"page-rel\">p</a>"))
      .zipWithIndex.map { case (h, i) => (i.toLong, h,
        "https://h.com/Docs/7/", "https://h.com/Docs/7") }
      .toDF("doc_id", "html", "url", "url_canon")
    val based = UrlOps.withDocumentBase(pages, "html", "url_canon", "url")
    val out = UrlOps.extractOutlinks(based, "doc_id", "html",
        "doc_base_canon", "doc_base_raw")
      .select("doc_id", "href_raw", "link_canon")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(
      (0L, "/root-a", "https://tpl.example.net/root-a"),
      (0L, "https://fix.example.net/abs", "https://fix.example.net/abs"),
      (0L, "page-rel", "https://tpl.example.net/t/3/page-rel"),
      (1L, "page-rel", "https://h.com/newroot/sub/page-rel"),
      (2L, "page-rel", "https://h.com/Docs/7/page-rel"),
      (3L, "page-rel", "https://h.com/Docs/7/page-rel"),
      // a PATH-RELATIVE base resolves against the fetched URL's
      // §5.2.3 merge directory, then relative hrefs resolve under it
      (4L, "page-rel", "https://h.com/Docs/7/sub/page-rel")))
  }

  test("q176: the robots-declared sitemap loop closes — declared " +
    "sitemaps' new URLs reach the frontier; disallowed and " +
    "cross-host entries do not") {
    val out = SparkEntry.queries("q176_robots_sitemap_frontier")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(4)))
    assert(out.nonEmpty)
    val urls = out.map(_._3)
    // new per-marker URLs from robots-declared sitemaps surface, and
    // the fresh lastmod ranks them bucket-0
    assert(urls.exists(_.contains("/rsm/")))
    out.groupBy(_._1).values.foreach { rows =>
      val buckets = rows.sortBy(_._2).map(_._4)
      assert(buckets.toSeq == buckets.sorted.toSeq, s"$rows")
    }
    // the robots-disallowed planted entry never passes the verdict
    assert(!urls.exists(_.endsWith("/Docs/1")))
    // cross-host cdn entries are dropped by the in-scope gate
    assert(!urls.exists(_.contains("example.net")))
    // disallow-all hosts (name length ≡ 0 mod 5): everything is
    // blocked EXCEPT the /Docs/3 allow-tie override — the planted
    // maybe-fetched spelling is the only candidate that can emit
    assert(out.filter(_._1.length >= "src10.example.com".length)
      .forall(_._3.contains("/Docs/3")))
  }

  test("retryAfterMicros: delta seconds verbatim, strict HTTP-date " +
    "differenced against the as-of, past dates clamp to 0, junk and " +
    "oversized deltas read null") {
    val out = Seq(
      "60",                                 // delta
      "0",                                  // zero delta
      "Sat, 14 Feb 2026 12:00:00 GMT",      // 4.5 days after as-of
      "Mon, 02 Feb 2026 10:00:00 GMT",      // past: clamp 0
      "Mon, 30 Feb 2026 00:00:00 GMT",      // impossible, shape-valid
      "soon",                               // junk
      "9999999999",                         // 10 digits: out of contract
      "")
      .toDF("ra")
      .select(UrlOps.retryAfterMicros(col("ra"), "2026-02-10 00:00:00"))
      .collect().map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(out === Seq(60000000L, 0L, 388800000000L, 0L, -1L, -1L,
      -1L, -1L))
  }

  test("extractAnchorTexts: plain-text units only — nested markup " +
    "carries no text row; whitespace collapses into the norm key; " +
    "empty text normalizes empty") {
    val html =
      "<a href=\"/a\">Hub   Portal</a>" +
        "<a href=\"/b\">Visit\nNow</a>" +
        "<a href=\"/c\"><b>bold</b></a>" + // nested: no unit
        "<a href=\"/d\"></a>" +            // empty text
        "<a name=\"x\">plain</a>"          // no href
    val out = UrlOps.extractAnchorTexts(
        Seq((1L, html, "https://h.com/p", "https://h.com/p"))
          .toDF("doc_id", "html", "url_canon", "url"),
        "doc_id", "html", "url_canon", "url")
      .select("href_raw", "anchor_norm")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out === Seq(("/a", "hub portal"), ("/b", "visit now"),
      ("/d", "")))
  }

  test("langPrimarySubtag: region subtags and case normalize, leading " +
    "whitespace skipped, malformed values read as undeclared") {
    val out = Seq("EN-US", "de", " fr", "\tES-419", "x-default",
        "123", "")
      .toDF("v").select(UrlOps.langPrimarySubtag(col("v")))
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("en", "de", "fr", "es", "x", "", ""))
  }

  test("extractHreflang: any attribute order, rel token membership, " +
    "x-default flagged, stylesheet and hreflang-less alternates drop") {
    val html =
      "<link rel=\"alternate\" hreflang=\"en\" href=\"/en\">" +
        "<LINK HREFLANG=\"DE-AT\" HREF=\"/de\" REL=\"alternate\">" +
        "<link rel=\"alternate nofollow\" hreflang=\"fr\" href=\"/fr\">" +
        "<link rel=\"alternate\" hreflang=\"x-default\" href=\"https://h.com/p\">" +
        "<link rel=\"stylesheet\" href=\"/css\">" +
        "<link rel=\"alternate\" type=\"application/rss+xml\" href=\"/feed\">" +
        // pretty-printed: newline-separated attributes still bind
        "<link rel=\"alternate\"\n  hreflang=\"pt-BR\"\n  href=\"/pt\">"
    val out = UrlOps.extractHreflang(
        Seq((1L, html, "https://h.com/p", "https://h.com/p"))
          .toDF("doc_id", "html", "url_canon", "url"),
        "doc_id", "html", "url_canon", "url")
      .select("hreflang", "hreflang_primary", "is_default", "alt_canon")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
        r.getString(3))).toSeq
    assert(out === Seq(
      ("en", "en", false, "https://h.com/en"),
      ("de-at", "de", false, "https://h.com/de"),
      ("fr", "fr", false, "https://h.com/fr"),
      ("x-default", "x", true, "https://h.com/p"),
      ("pt-br", "pt", false, "https://h.com/pt")))
  }

  test("withMetaRobots: both attribute orders, messy token list, " +
    "none expands to both, all/absent set neither") {
    val cases = Seq(
      "<meta name=\"robots\" content=\" NOINDEX ,\tnofollow \">" ->
        (true, true),
      "<META CONTENT=\"noindex\" NAME=\"robots\">" -> (true, false),
      "<meta name=\"robots\" content=\"none\">" -> (true, true),
      // newline inside the content value: the token trim covers the
      // full HTML whitespace set, so "\nnofollow" still reads
      "<meta name=\"robots\" content=\"noindex,\nnofollow\">" ->
        (true, true),
      "<meta name=\"robots\" content=\"all\">" -> (false, false),
      "<meta name=\"keywords\" content=\"noindex\">" -> (false, false),
      "<p>no meta at all</p>" -> (false, false))
    val out = UrlOps.withMetaRobots(
        cases.map(_._1).toDF("html"), "html")
      .select("meta_noindex", "meta_nofollow")
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1))).toSeq
    assert(out === cases.map(_._2))
  }
}
