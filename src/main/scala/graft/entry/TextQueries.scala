package graft.entry

/** Text statistics, quality scoring, language ID,
  * tokenization (incl. BPE), normalization, Gopher rules, DSIR.
  *
  * One slice of [[graft.SparkEntry]]'s catalog: `queries` and the
  * matching DuckDB `oracleSql` live side by side so an edit to a
  * query and its oracle is always a same-file change.
  */
import graft.entry.EntryTables._
import graft.ext.{Dedup, Multimodal, QualityModel, Retrieval, Similarity, TextOps}
import graft.model.{ColumnSpec, FkRef, TableConfig}
import graft.ops.{Merge, Normalize, TemporalJoin}
import graft.rules.Rules
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

private[graft] object TextQueries {

  /** The crawl family's injectable as-of clock (the F6 discipline):
    * `2026-02-10 00:00:00 UTC` in epoch micros — q178's Retry-After
    * differencing and q188's robots-cache ages both measure against
    * this instant, never the wall clock. */
  private[graft] val Q178AsOfMicros: Long = 1770681600000000L

  /** q145's planted page fragments — shared verbatim between the Spark
    * corpus builder and the DuckDB oracle so the plant cannot drift.
    * Single-quote-free by construction (they embed directly in SQL
    * string literals). Each fragment exercises a distinct rule:
    * head/style/script/nav/header/footer pruning, a too-short block, a
    * link-dense block, a short-but-stopwordy keeper (density branch), an
    * entity-bearing keeper, and a stopword-free short boilerplate drop.
    */
  private[graft] val HtmlPre: String =
    "<html><head><title>doc title words</title>" +
      "<style>body { color: #fff; }</style>" +
      "<script>var tracker = 9; var z = tracker * 2;</script></head>" +
      "<body><nav><a href=\"/\">home</a> <a href=\"/a\">about</a> " +
      "<a href=\"/b\">contact</a></nav>" +
      "<header><h1>site banner for the masthead</h1></header>" +
      "<div>tiny</div><p>"
  private[graft] val HtmlLinks: String =
    "</p><p>more links here: <a href=\"/x\">one link</a> " +
      "<a href=\"/y\">two links</a> <a href=\"/z\">three links</a></p>"
  private[graft] val HtmlStopwordy: String =
    "<p>it is the best of all the small ones.</p>"
  private[graft] val HtmlEntityBlock: String =
    "<p>entities &amp; such &lt;tag&gt; &quot;q&quot; &#39;s&#39;" +
      "&nbsp;marks are in the usual kind of test here.</p>"
  private[graft] val HtmlTail: String =
    "<div>copyright 2099 examplecorp rights reserved worldwide " +
      "press kit media room</div>" +
      "<footer><a href=\"/p\">privacy</a> <a href=\"/t\">terms</a>" +
      "</footer></body></html>"

  /** q146's plant: a clean sentence exercising every repairable class
    * (Latin-1 accents, NBSP-free punctuation, dash, curly quotes,
    * ellipsis, degree, euro) and its double-encoded twin GENERATED from
    * the same [[graft.ext.TextOps.mojibakeOf]] mapping the repair table
    * derives from — so plant and table cannot drift. ASCII chars map to
    * themselves (single-byte UTF-8), so only the marked chars scar.
    */
  private[graft] val MojibakeClean: String =
    "café déjà vu – naïve ‘q’ … " +
      "30° €9 and the final words of it."
  private[graft] val MojibakeDamaged: String =
    MojibakeClean.flatMap(c =>
      graft.ext.TextOps.mojibakeOf(c).getOrElse(c.toString))

  /** q148's FIXED unigram vocabulary (the q120 discipline: the APPLY
    * side verifies cross-engine under a constant model, independently
    * of the trainer): full a–z/0–9 single-char floor at 3·10⁶
    * micro-nats plus hand-placed multi-char pieces, including "ab" at
    * exactly cost(a)+cost(b) so the planted " abba" suffix exercises
    * the smallest-start tie-break in every document.
    */
  private[graft] val UnigramFixedVocab: Seq[(String, Long)] =
    (('a' to 'z') ++ ('0' to '9')).map(c => (c.toString, 3000000L)) ++ Seq(
      "ab" -> 6000000L, // tie with a+b → smallest start wins → "ab"
      "ke" -> 2000000L, "val" -> 2500000L, "ue" -> 2200000L,
      "ta" -> 2000000L, "ble" -> 2600000L, "sc" -> 2400000L,
      "an" -> 2000000L, "ro" -> 2100000L, "ha" -> 2000000L,
      "sh" -> 2000000L, "or" -> 2000000L, "der" -> 2700000L,
      "wind" -> 3900000L, "ow" -> 2300000L)

  /** q149's duplicated-page body: every fifth document's page carries
    * this text instead of its own, so the funnel's dedup stage has
    * real groups to collapse — and ONLY AFTER the mojibake repair ran
    * (even members arrive double-encoded, odd members clean; they
    * become byte-identical exactly when the repair restores the even
    * ones). Chosen to pass the q99 quality gate (logit +2319 milli
    * over 34 tokens with the clean plant appended).
    */
  private[graft] val CrawlDupText: String =
    "this duplicated page text appears many times across the crawl " +
      "and it is long enough to pass every filter"

  /** q149's dedup tail: the canonical pick over the scored funnel
    * output, WITHOUT a content-keyed window. Hash once, drop the text,
    * then the keep-first winner per content is a `min(doc_id)` AGGREGATE
    * on the digest (map-side combining — a 20%-of-corpus dup group
    * reduces per partition instead of one task sorting a fifth of the
    * corpus with document payloads attached) joined back on the UNIFORM
    * doc_id key. `localCheckpoint`: the thin relation has two consumers
    * and sits on top of the whole extract→repair→score funnel, which
    * must run once, not per branch. Shared by the q149 catalog entry and
    * `CrawlScaleSoak`'s 10⁶-doc planted-hot-cluster run so the soak
    * exercises exactly the shipped tail.
    */
  private[graft] def crawlCanonicalTail(scored: DataFrame): DataFrame = {
    val thin = scored
      .select(col("doc_id"), col("blocks_kept"), col("chars_collapsed"),
        col("kept"), md5(col("text_main_fixed")).as("fixed_md5"))
      .localCheckpoint()
    val canon = thin.filter(col("kept"))
      .groupBy(col("fixed_md5")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit(true).as("__canon"))
    thin.join(canon, Seq("doc_id"), "left")
      .withColumn("is_canonical", coalesce(col("__canon"), lit(false)))
      .select(col("doc_id"), col("blocks_kept"), col("chars_collapsed"),
        col("kept"), col("is_canonical"), col("fixed_md5"))
  }

  /** q150/q151's planted crawl URLs: one deterministic noisy URL per
    * document, each doc_id residue class exercising a distinct
    * canonicalization rule — mixed-case scheme+host with a `www.`
    * label (evens), a strippable default `:80` (doc_id%4=0) vs a
    * load-bearing `:8080` (doc_id%4=2), a doubled slash in every
    * path, a trailing slash (%5=0), unsorted query params with a
    * planted tracking pair (%3=0), and a fragment (%7=0). The path
    * bucket `doc_id % 13` makes distinct documents share canonical
    * URLs (the syntactic-variant collapse q151 measures). Shared
    * structure with the oracle via [[urlPlantSql]].
    */
  private[graft] def withPlantedUrl(df: DataFrame): DataFrame =
    df.withColumn("url", concat(
      when(col("doc_id") % 2 === 0,
        concat(lit("HTTP://WWW."), upper(col("source")), lit(".EXAMPLE.COM")))
        .otherwise(concat(lit("https://"), col("source"), lit(".example.com"))),
      when(col("doc_id") % 4 === 0, lit(":80"))
        .when(col("doc_id") % 4 === 2, lit(":8080")).otherwise(lit("")),
      lit("/Docs//"), (col("doc_id") % 13).cast("string"),
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
      lit("?b=2&a=1"),
      when(col("doc_id") % 3 === 0, lit("&utm_source=feed&gclid=XYZ"))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("#Section-2")).otherwise(lit(""))))

  /** q152's planted robots rules: every host disallows `/Docs/1`
    * (which also prefixes `/Docs/10`–`/Docs/12`), re-allows the
    * longer `/Docs/12`, and carries a same-length allow/disallow
    * TIE on `/Docs/3` (the RFC tie-break); hosts whose source name
    * has length ≡ 0 (mod 5) — src10–src19, half the corpus — add a
    * disallow-all `/` that only those longer allows override. The
    * `/Tab` allow and `/Cr` disallow are the q156 CRLF/tab plant's
    * rules (no planted path starts with either, so they change no
    * verdict — they exist so the parse-reproduces-rules spec covers
    * the RFC whitespace/line-break grammar). Shared structure with
    * the oracle via [[robotsOracleSql]]. */
  private[graft] def plantedRobotsRules(df: DataFrame): DataFrame = {
    val hosts = df.select(lower(col("source")).as("h")).distinct()
    val common = hosts.select(
        concat(col("h"), lit(".example.com")).as("host"),
        explode(array(
          struct(lit("/Docs/1").as("p"), lit(false).as("a")),
          struct(lit("/Docs/12").as("p"), lit(true).as("a")),
          struct(lit("/Docs/3").as("p"), lit(true).as("a")),
          struct(lit("/Docs/3").as("p"), lit(false).as("a")),
          struct(lit("/Tab").as("p"), lit(true).as("a")),
          struct(lit("/Cr").as("p"), lit(false).as("a")))).as("r"))
      .select(col("host"), col("r.p").as("path_prefix"), col("r.a").as("allow"))
    val blockAll = hosts.filter(length(col("h")) % 5 === 0)
      .select(concat(col("h"), lit(".example.com")).as("host"),
        lit("/").as("path_prefix"), lit(false).as("allow"))
    common.union(blockAll)
  }

  /** q161's planted WILDCARD rule table (RFC 9309 §2.2.3) — note the
    * star patterns here are spelled with a space before the star
    * because Scala block comments nest; the CODE carries them
    * verbatim. Under the round-13 contract (match against path+query,
    * specificity = PATTERN length), every planted canonical URL's
    * match target is `/Docs/N?a=1&b=2`, and every host plants:
    *   - `Disallow: *` (length 1) — the greedy trailing-star rule the
    *     de-facto ranking must keep WEAKEST (it matches every URL but
    *     never wins; matched-length scoring would have let it consume
    *     the whole target and dominate — the exact over-blocking the
    *     advisor flagged),
    *   - `Disallow: /Docs/ *` (7) — the family blanket,
    *   - `Allow: /Docs/12` (8, PLAIN) — plain-vs-star rank: 8 > 7,
    *   - `Allow: /Docs/3? *` (9, star after the query mark) — a
    *     QUERY-targeting wildcard, the dominant real-world §2.2.3
    *     shape, impossible under a query-stripped match,
    *   - `Disallow: /Docs/5 *` (8) vs `Allow: /Docs/5?` (8, plain
    *     prefix whose last octet is the query mark) — a same-length
    *     star-vs-plain TIE, allow wins,
    *   - `Allow: /Docs/7?a=1&b=2$` (16) — a `$` anchor that MATCHES
    *     (pattern reaches the end of path+query),
    *   - `Allow: /Docs/9$` (9) — a `$` anchor that FAILS because the
    *     query follows the path: /Docs/9 stays disallowed by the
    *     7-length blanket even though this allow is longer — the
    *     interop case real crawlers decide this way.
    * Shared structure with the oracle via
    * [[robotsWildcardOracleSql]]. */
  private[graft] def plantedWildcardRules(df: DataFrame): DataFrame =
    df.select(lower(col("source")).as("h")).distinct().select(
        concat(col("h"), lit(".example.com")).as("host"),
        explode(array(
          struct(lit("*").as("p"), lit(false).as("a")),
          struct(lit("/Docs/*").as("p"), lit(false).as("a")),
          struct(lit("/Docs/12").as("p"), lit(true).as("a")),
          struct(lit("/Docs/3?*").as("p"), lit(true).as("a")),
          struct(lit("/Docs/5*").as("p"), lit(false).as("a")),
          struct(lit("/Docs/5?").as("p"), lit(true).as("a")),
          struct(lit("/Docs/7?a=1&b=2$").as("p"), lit(true).as("a")),
          struct(lit("/Docs/9$").as("p"), lit(true).as("a")))).as("r"))
      .select(col("host"), col("r.p").as("path_prefix"),
        col("r.a").as("allow"))

  /** q156's planted robots.txt bodies: one per host, exercising every
    * grammar hazard — a comment header, an ORPHAN rule before any
    * group (dropped), another agent's group, a `*` group whose rules
    * sit behind an ignored `Crawl-delay` line, mixed-case directives,
    * a trailing comment, an empty `Disallow:` (no restriction), a
    * STACKED UA group (`Extra` + `*`) adding disallow-all on the
    * length≡0 (mod 5) hosts, a CRLF-terminated pair with RFC
    * whitespace hazards (`Allow:<TAB>/Tab<CRLF>` and a trailing-tab
    * `Disallow: /Cr<TAB><CRLF>` — the WARC/HTTP tier yields CRLF
    * bodies, so the parser's `\r\n|\r|\n` split and space+tab trim
    * are exercised by the catalog, not just specs), a WILDCARD rule
    * `/w*card$` (passes through verbatim with `has_wildcard` — the
    * §2.2.3 passthrough contract; q161 owns wildcard MATCHING), and a
    * graftbot-SPECIFIC group on hosts
    * ending in `3` that must silence the `*` groups entirely. The `*`
    * rules are the [[plantedRobotsRules]] classes, so a parse of
    * these bodies reproduces q152's rule table on the non-specific
    * hosts (spec-pinned). Shared structure with the oracle via
    * [[robotsParseOracleSql]]. */
  private[graft] def plantedRobotsTxt(df: DataFrame): DataFrame =
    df.select(lower(col("source")).as("h")).distinct().select(
      concat(col("h"), lit(".example.com")).as("host"),
      concat(
        lit("# robots for "), col("h"), lit("\n"),
        // round 13: `Sitemap:` directives — a clean absolute one, a
        // MESSY one (mixed-case name, tab whitespace, canonicalization
        // needed, trailing comment), a cross-host one on even-length
        // hosts (harvested, flagged out of scope), and a RELATIVE one
        // (dropped — sitemaps.org requires a full URL). All invisible
        // to the rule/delay parsers (q152/q156/q160 unchanged);
        // harvested only by q174's parseRobotsSitemaps.
        lit("Sitemap: https://"), col("h"),
        lit(".example.com/sitemap.xml\n"),
        lit("SITEMAP:\tHTTPS://WWW."), upper(col("h")),
        lit(".EXAMPLE.COM/maps//index.xml # primary\n"),
        when(length(col("h")) % 2 === 0,
          concat(lit("Sitemap: https://cdn"),
            regexp_extract(col("h"), "([0-9])$", 1),
            lit(".example.net/sm-root.xml\n"))).otherwise(lit("")),
        lit("Sitemap: /relative/sm.xml\n"),
        lit("Disallow: /orphan\n"),
        lit("User-Agent: BadBot\nDisallow: /tmp\n\n"),
        // a mid-group directive: group-independent for the harvest,
        // ignored-without-breaking-the-group for the rule parser
        lit("user-agent: *\nCrawl-delay: 5\n"),
        lit("Sitemap: https://"), col("h"),
        lit(".example.com/mid-group.xml\n"),
        // round 15: the SAME rule line repeated (common in hand-
        // maintained files) — one logical rule; the parser's
        // array_distinct tail must collapse it (q156 unchanged) and
        // the robots-cache fsck must stay green on it
        lit("Disallow: /Docs/1\nDisallow: /Docs/1\n" +
          "ALLOW: /Docs/12 # longest wins\n"),
        lit("Allow: /Docs/3\ndisallow: /Docs/3\nDisallow:\n"),
        lit("Allow:\t/Tab\r\nDisallow: /Cr\t\r\n"),
        lit("Disallow: /w*card$\n"),
        when(length(col("h")) % 5 === 0,
          lit("\nUser-agent: Extra\nuser-agent: *\nDisallow: /\n"))
          .otherwise(lit("")),
        when(col("h").endsWith("3"),
          lit("\nUser-agent: graftbot\nCrawl-delay: 0.5\n" +
            "Allow: /Docs/1\nDisallow: /private\n"))
          .otherwise(lit(""))).as("txt"))

  /** q157's planted sitemap bodies: one per host, exercising the
    * parser's hazards — a `<sitemap>` index entry (not a `<url>`,
    * ignored), a multi-line block whose `<loc>` needs trimming AND
    * full canonicalization (case, `www.`, doubled+trailing slash,
    * tracking param), an entry without `<lastmod>`, a loc-less entry
    * (dropped), on even-length hosts an out-of-scope CDN entry, and
    * on ODD-length hosts a STALE `/Docs/12/old-D` entry (lastmod
    * 2020-03-15 — under the `/Docs/12` allow so it SURVIVES those
    * hosts' disallow-all robots rule into the q162 budget;
    * the q162 recency ranking's planted stale class, bucket-clamped
    * to 11 and outranked by every fresh entry but still beating
    * unknown-age link discoveries). The per-host digit (`src7` → 7)
    * varies paths and dates. Since round 12 the plant also carries
    * the q164 INDEX tier: a multi-line `<sitemap>` child entry needing
    * full canonicalization with a lastmod, an out-of-scope CDN index
    * entry (even-length hosts), and a loc-less index entry (dropped)
    * — all invisible to the `<url>` parser, so q157/q162 are
    * unchanged. Shared structure with the oracle via
    * [[sitemapPlantCte]]. */
  private[graft] def plantedSitemaps(df: DataFrame): DataFrame = {
    val h = col("h")
    val dg = regexp_extract(h, "([0-9])$", 1)
    df.select(lower(col("source")).as("h")).distinct().select(
      concat(h, lit(".example.com")).as("host"),
      concat(
        lit("<?xml version=\"1.0\"?><urlset>"),
        lit("<sitemap><loc>https://"), h,
        lit(".example.com/more.xml</loc></sitemap>"),
        // q164's index tier: a multi-line child entry needing full
        // canonicalization WITH a lastmod (the child re-fetch signal),
        // an out-of-scope CDN index entry on even-length hosts, and a
        // loc-less index entry (dropped) — invisible to the <url>
        // parser (q157/q162 unchanged), harvested only by q164
        lit("<sitemap>\n  <loc> HTTPS://WWW."), upper(h),
        lit(".EXAMPLE.COM/maps//part-"), dg,
        lit(".xml </loc>\n  <lastmod>2026-02-1"), dg,
        lit("</lastmod>\n</sitemap>"),
        when(length(h) % 2 === 0,
          concat(lit("<sitemap><loc>https://cdn"), dg,
            lit(".example.net/sm.xml</loc></sitemap>")))
          .otherwise(lit("")),
        lit("<sitemap><lastmod>2026-01-01</lastmod></sitemap>"),
        lit("<url>\n  <loc> HTTPS://WWW."), upper(h),
        lit(".EXAMPLE.COM/Docs//"), dg,
        lit("/?utm_source=map </loc>\n  <lastmod>2026-01-1"), dg,
        lit("</lastmod>\n</url>"),
        lit("<url><loc>https://"), h, lit(".example.com/Docs/"), dg,
        lit("?b=2</loc></url>"),
        lit("<url><lastmod>2026-02-02</lastmod></url>"),
        when(length(h) % 2 === 0,
          concat(lit("<url><loc>https://cdn"), dg,
            lit(".example.net/lib</loc><lastmod>2026-03-03</lastmod>" +
              "</url>"))).otherwise(lit("")),
        when(length(h) % 2 === 1,
          concat(lit("<url><loc>https://"), h,
            lit(".example.com/Docs/12/old-"), dg,
            lit("</loc><lastmod>2020-03-15</lastmod></url>")))
          .otherwise(lit("")),
        lit("</urlset>")).as("xml"))
  }

  /** The q149 page as a column expression over (doc_id, text): the
    * plant chrome, every fifth document's body swapped for the shared
    * duplicate, mojibake damage on the evens. Shared by q149, the
    * q159 WARC round trip, and their oracles via [[q149HtmlSql]]. */
  private[graft] def q149PageHtml: org.apache.spark.sql.Column =
    concat(lit(HtmlPre),
      when(col("doc_id") % 5 === 0, lit(CrawlDupText))
        .otherwise(col("text")),
      when(col("doc_id") % 2 === 0, lit(" " + MojibakeDamaged))
        .otherwise(lit(" " + MojibakeClean)),
      lit(HtmlLinks), lit(HtmlTail))

  /** The crawl→curate funnel over (doc_id, html) pages: extract →
    * repair → quality gate → canonical pick (q149's stages, factored
    * so q159 runs them over WARC-recovered pages verbatim). */
  private[graft] def funnelFromPages(pages: DataFrame): DataFrame = {
    val ex = TextOps.extractMainContent(pages, "html")
      .select(col("doc_id"), col("blocks_kept"), col("text_main"))
    val rep = TextOps.repairMojibake(ex, "text_main")
    crawlCanonicalTail(
      QualityModel.qualityClassifierScore(rep, "text_main_fixed"))
  }

  /** The HTTP response prefix q158/q159's planted WARC payloads wrap
    * their bodies in — the embedded blank line that makes
    * terminator-search parsing wrong. */
  private[graft] val HttpHdr: String =
    "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"

  /** q158's planted WARC archives: one text-mode archive per document
    * — a `warcinfo` record, a `response` record whose target URI is
    * the q150 planted URL and whose payload is a full HTTP message
    * (so it EMBEDS the `\r\n\r\n` that breaks terminator-search
    * parsing — only Content-Length slicing survives), and a
    * `metadata` record whose declared length is WRONG on doc_id≡0
    * (mod 4) — the truncated-capture fsck case. Lengths computed with
    * `length()` in both engines over the shared construction. */
  private[graft] def plantedWarc(df: DataFrame,
      httpPayload: org.apache.spark.sql.Column = null): DataFrame = {
    val crlf = "\r\n"
    val http = Option(httpPayload).getOrElse(concat(
      lit(HttpHdr + "<html><body>doc "),
      col("doc_id").cast("string"), lit("</body></html>")))
    val p2 = concat(lit("fetchTimeMs: "), col("doc_id").cast("string"))
    val decl2 = when(col("doc_id") % 4 === 0, length(p2) + 5)
      .otherwise(length(p2))
    withPlantedUrl(df).select(col("doc_id"), concat(
      lit("WARC/1.0" + crlf + "WARC-Type: warcinfo" + crlf +
        "Content-Length: 15" + crlf + crlf + "software: graft" +
        crlf + crlf),
      lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
        "WARC-Target-URI: "), col("url"),
      lit(crlf + "Content-Length: "), length(http).cast("string"),
      lit(crlf + crlf), http, lit(crlf + crlf),
      lit("WARC/1.0" + crlf + "WARC-Type: metadata" + crlf +
        "Content-Length: "), decl2.cast("string"),
      lit(crlf + crlf), p2, lit(crlf + crlf)).as("txt"))
  }

  /** q153/q154's planted page HTML: the q145 chrome plus one anchor
    * per href class — the 8 root-relative chrome/footer links, a
    * self-link to the page's OWN raw URL (an absolute href that
    * canonicalizes back to the fetched seed — the anti-join's planted
    * hit), an uppercase cross-host deep absolute link (to the NEXT
    * source's host — real cross-site edges), a protocol-relative CDN
    * link (evens), a path-relative link carrying a tracking param
    * (%3) — whose resolution base is the AS-FETCHED URL's directory,
    * so the %15 class (trailing-slash raw path) resolves under
    * `/Docs/N/`, not `/Docs/` —, a relative dot-segment link (%5,
    * dropped), an ABSOLUTE link with a path dot segment (%11,
    * dropped — the drop-dot-segment policy applies to absolute hrefs
    * too), a mailto (%7, dropped), and a fragment-only link (always,
    * dropped). Shared structure with the oracle via [[linkCtes]]. */
  private[graft] def withPlantedPage(df: DataFrame): DataFrame =
    df.withColumn("html", concat(
      lit(HtmlPre), col("text"), lit(HtmlLinks),
      lit("<p><a href=\"#top\">top</a> <a href=\""), col("url"),
      lit("\">self</a> <A HREF=\"HTTPS://WWW.Src"),
      ((col("doc_id") + 1) % 20).cast("string"),
      lit(".EXAMPLE.COM/Docs/"), (col("doc_id") % 13).cast("string"),
      lit("/deep/page\">next</A> "),
      when(col("doc_id") % 2 === 0, concat(lit("<a href=\"//cdn"),
        (col("doc_id") % 3).cast("string"),
        lit(".example.net/lib/js\">cdn</a> "))).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        lit("<a href=\"more?b=2&utm_x=1&a=1\">read</a> "))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("<a href=\"../up\">up</a> "))
        .otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        lit("<a href=\"https://dotty.example.net/a/../b\">dot</a> "))
        .otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("<a href=\"mailto:bot@example.com\">mail</a>"))
        .otherwise(lit("")),
      lit("</p>"), lit(HtmlTail)))

  /** q175's planted pages: the exclusion-protocol surface — per
    * doc_id%5 a meta-robots class (a MESSY name-first
    * `" NOINDEX ,<TAB>nofollow "` needing token trim, a content-FIRST
    * `noindex`, a `none` shorthand ≡ noindex+nofollow, an explicit
    * `all` that must set NEITHER flag, and no meta at all), plus per
    * page: an always-followed root-relative link, an anchor-level
    * `rel="nofollow"` link (rel BEFORE href), an href-first
    * MULTI-TOKEN uppercase `REL="noopener NOFOLLOW ugc"` link (%2),
    * a `rel="nofollowme"` TRAP that must stay followed — token
    * membership, not substring (%3) —, an absolute cross-host
    * nofollow ad link (%7), and an href-LESS `<a name=...>` the tag
    * harvest must drop. Shared structure with the oracle via
    * [[nofollowOracleSql]]. */
  private[graft] def withPlantedRelPage(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    df.withColumn("html", concat(
      lit("<html><head>"),
      when(d % 5 === 0, lit("<meta name=\"robots\" content=\" NOINDEX" +
          " ,\tnofollow \">"))
        .when(d % 5 === 1, lit("<META CONTENT=\"noindex\" NAME=\"robots\">"))
        .when(d % 5 === 2, lit("<meta name=\"robots\" content=\"none\">"))
        .when(d % 5 === 3, lit("<meta name=\"robots\" content=\"all\">"))
        .otherwise(lit("")),
      lit("<title>t</title></head><body><p>"),
      lit("<a href=\"/keep/"), (d % 13).cast("string"),
      lit("\">keep</a> "),
      lit("<a rel=\"nofollow\" href=\"/nf/"), (d % 13).cast("string"),
      lit("\">nf</a> "),
      when(d % 2 === 0, concat(lit("<A HREF=\"/multi/"),
        (d % 3).cast("string"),
        lit("\" REL=\"noopener NOFOLLOW ugc\">m</A> "))).otherwise(lit("")),
      when(d % 3 === 0, concat(lit("<a rel=\"nofollowme\" href=\"/trap/"),
        (d % 7).cast("string"),
        lit("\">trap</a> "))).otherwise(lit("")),
      when(d % 7 === 0, concat(lit("<a rel=\"nofollow\" href=\"https://ads"),
        (d % 3).cast("string"),
        lit(".example.net/click\">ad</a> "))).otherwise(lit("")),
      lit("<a name=\"anchor-only\">x</a></p></body></html>")))
  }

  /** q177's planted pages: the document-base surface — per doc_id%5 a
    * base class (an ABSOLUTE cross-host template base ending in a
    * directory, a ROOT-RELATIVE base resolved against the fetched
    * URL's own authority, NO base at all — the fetched-URL control —
    * a DROPPED-KIND `javascript:` base that must fall back to the
    * fetched URL even though a second, valid base element follows:
    * first-base-wins — and a PATH-RELATIVE base (`sub/`) resolved
    * against the fetched URL's merge directory per RFC 3986 §5.2.3,
    * the class that pins the engine/oracle agreement on relative
    * base declarations); every page carries the same three links — a
    * path-relative one (the base-sensitive case), a root-relative one
    * (authority comes from the effective base), and an absolute one
    * (base-immune). Shared structure with the oracle via
    * [[baseHrefOracleSql]]. */
  private[graft] def withPlantedBasePage(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    df.withColumn("html", concat(
      lit("<html><head>"),
      when(d % 5 === 0, concat(lit("<base href=\"https://tpl"),
        (d % 3).cast("string"), lit(".example.net/t/"),
        (d % 7).cast("string"), lit("/\">")))
        .when(d % 5 === 1, lit("<base href=\"/newroot/sub/\">"))
        .when(d % 5 === 3, lit("<base href=\"javascript:void(0)\">" +
          "<base href=\"https://second.example.net/x/\">"))
        .when(d % 5 === 4, lit("<base href=\"sub/\">"))
        .otherwise(lit("")),
      lit("</head><body><a href=\"page-rel\">p</a> " +
        "<a href=\"/root-a\">r</a> " +
        "<a href=\"https://fix.example.net/abs\">x</a></body></html>")))
  }

  /** q179's planted pages: the anchor-text surface — a shared hub
    * target (doc_id%3 picks one of three) whose text VARIES in case
    * and whitespace but normalizes to one key (`hub portal`), a
    * second text for the same target on %4 docs (with an embedded
    * newline the collapse must flatten), a NOFOLLOW anchor on the hub
    * (its text must carry no weight), a per-host root-relative
    * section link with padded text, a nested-markup anchor (OUT of
    * the text contract — no row), and an EMPTY-text anchor on the hub
    * (normalizes to '' and is dropped). Shared structure with the
    * oracle via [[anchorTextOracleSql]]. */
  private[graft] def withPlantedAnchorPage(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    val hub = concat(lit("https://hub"), (d % 3).cast("string"),
      lit(".example.net/t"))
    df.withColumn("html", concat(
      lit("<html><body><a href=\""), hub, lit("\">"),
      when(d % 2 === 0, lit("Hub Portal")).otherwise(lit("hub   PORTAL")),
      lit("</a> "),
      when(d % 4 === 0, concat(lit("<a href=\""), hub,
        lit("\">Visit\nNow</a> "))).otherwise(lit("")),
      lit("<a rel=\"nofollow\" href=\""), hub,
      lit("\">sponsored</a> "),
      lit("<a href=\"/local/"), (d % 13).cast("string"),
      lit("\"> Section "), (d % 13).cast("string"), lit(" </a> "),
      lit("<a href=\"https://img.example.net/i\"><b>bold</b></a>"),
      lit("<a href=\""), hub, lit("\"></a>"),
      lit("</body></html>")))
  }

  /** q155's integer-micro host PageRank over the real cross-host edge
    * list, unordered — shared by q155 and q187's authority-weighted
    * fetch order. The tiny edge/node legs are localCheckpointed (the
    * iteration re-reads them 10×). */
  /** The q155/q134-class cross-host link universe — distinct external
    * (src, dst) host pairs from the real outlink extraction — shared
    * by [[hostPagerank]] and q203's two-cycle authority lifecycle. */
  private def hostLinkEdges(s: SparkSession, dir: String): DataFrame = {
    val canon = graft.ext.UrlOps.withCanonicalUrl(
      withPlantedUrl(t(s, dir, "documents")), "url")
    val links = graft.ext.UrlOps.extractOutlinks(
        withPlantedPage(canon), "doc_id", "html", "url_canon", "url")
      .withColumn("src_host", graft.ext.UrlOps.urlHost(col("base_canon")))
    graft.ext.UrlOps.hostLinkGraph(links, "src_host")
      .filter(!col("is_internal"))
      .select(col("src_host").as("src"), col("dst_host").as("dst"))
      .localCheckpoint()
  }

  private def hostPagerank(s: SparkSession, dir: String): DataFrame = {
    val edges = hostLinkEdges(s, dir)
    val nodes = edges.select(col("src").as("host"))
      .union(edges.select(col("dst").as("host")))
      .distinct().localCheckpoint()
    graft.ext.Graph.pageRankMicro(nodes, edges, "host", "src", "dst",
      nNodes = nodes.count(), iters = 10)
  }

  /** The q188/q192 robots-cache plant: one robots fetch per budgeted
    * host, fetched_at derived from the host digit against the
    * [[Q178AsOfMicros]] clock (hosts whose digit puts their cache past
    * the 24 h TTL must refetch robots before spending budget), written
    * through the REAL persisted artifact ([[graft.ext.RobotsCache]]) —
    * the gate then reads ages back from STORED timestamps. */
  private def rebuildRobotsCacheFor(budget: DataFrame,
      table: String): Unit = {
    val digit = regexp_extract(col("link_host"),
      "([0-9])\\.example\\.", 1)
    val ageHours = lit(5L) +
      coalesce(nullif(digit, lit("")), lit("0")).cast("long") * 5L
    val fetches = budget.select(col("link_host").as("host"),
      (lit(Q178AsOfMicros) - ageHours * 3600000000L)
        .as("fetched_at_micros"),
      // the duplicated Disallow line is ONE logical rule (the parse
      // fold's array_distinct) — planted so the stored cache and its
      // fsck exercise the duplicate-line class, not just specs
      lit("User-agent: *\nDisallow: /private\nDisallow: /private\n" +
        "Crawl-delay: 2").as("robots_body"))
    graft.ext.RobotsCache.rebuild(fetches, "host",
      "fetched_at_micros", "robots_body", table, nBuckets = 8)
  }

  /** Build-once memo for the robots-cache artifact (the
    * [[hostPagerankArtifact]] discipline): the cache is MAINTAINED
    * state — the crawl loop writes it, schedulers read it — so q188
    * and q192 share one per-data-dir build and every later probe
    * (and bench re-run) reads the stored tables. */
  private val robotsCaches =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def robotsCacheArtifact(s: SparkSession, dir: String): String =
    robotsCaches.computeIfAbsent(dir, _ => {
      val table = "graft_robots_cache_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      val budget = crawlFrontier(s, dir).groupBy(col("link_host"))
        .agg(count(lit(1)).as("n_budgeted"))
      rebuildRobotsCacheFor(budget, table)
      table
    })

  /** Train-once memo for the persisted host-authority artifact
    * ([[graft.ext.Graph.writePageRank]]): the first q187 probe in a
    * session trains q155's PageRank and persists it; every later
    * probe (and every bench re-run) reads the STORED table — the
    * production scheduler shape, where authority is a maintained
    * model, not a per-query retrain. Keyed by data dir so each scale
    * factor trains its own artifact. */
  private val prArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def hostPagerankArtifact(s: SparkSession, dir: String): String =
    prArtifacts.computeIfAbsent(dir, _ => {
      val table = "graft_host_pr_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      val pr = hostPagerank(s, dir).localCheckpoint()
      graft.ext.Graph.writePageRank(pr, "host", table,
        iters = 10, nNodes = pr.count(), nBuckets = 8)
      table
    })

  /** Train-once memo for the persisted mirror-component artifact
    * ([[graft.ext.Graph.writeComponents]] — the [[hostPagerankArtifact]]
    * discipline): the first q196/q198 probe in a session detects the
    * mirror pairs, closes them to components, and persists the
    * labeling; every later probe (and every bench re-run) joins the
    * STORED table — at deployment scale mirror components are
    * maintained state a scheduler probes, never a per-query retrain.
    * Keyed by data dir so each scale factor trains its own artifact. */
  private val mirrorCompArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mirrorComponentArtifact(s: SparkSession, dir: String)
      : String =
    mirrorCompArtifacts.computeIfAbsent(dir, _ => {
      val table = "graft_mirror_comp_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      val d = col("doc_id")
      val planted = t(s, dir, "documents").select(
        concat(lit("src"),
          when(d % 3 === 0, (d % 5) * 2).otherwise(d % 20)
            .cast("string"),
          lit(".example.com")).as("mhost"),
        when(d % 3 === 0,
          concat(lit("mirrored "), (d % 29).cast("string")))
          .otherwise(concat(lit("uniq "), d.cast("string")))
          .as("mtext"))
      val pairs = graft.ext.Dedup.mirrorCandidates(planted, "mhost",
        "mtext", minShared = 2L, maxHostsPerHash = 6)
      val edges = pairs
        .select(col("host_a").as("src"), col("host_b").as("dst"))
        .localCheckpoint()
      val nodes = edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host"))).distinct()
      val comp = graft.ext.Graph.connectedComponents(nodes, "host",
        edges, "src", "dst")
      graft.ext.Graph.writeComponents(comp, "id", table, nBuckets = 8)
      table
    })

  /** Train-once memo for q201's TWO-CYCLE component lifecycle — the
    * full drift-consumed rebuild loop run once per session over
    * PERSISTED artifacts (the directive q196's memo stops short of):
    * cycle 1 persists the mirror host-hash relation
    * ([[graft.ext.Dedup.writeMirrorHashes]]) and trains the component
    * labeling from its pairs (frozen as `<t>_pre` for the before/after
    * probe, live as `<t>`); cycle 2 APPENDS a newly-mirroring host's
    * fetches to the hash relation ([[graft.ext.Dedup
    * .appendMirrorHashes]] — batch-sized, bucket-semi-pruned, never a
    * corpus re-hash), re-derives the pair universe from the store,
    * and lets [[graft.ext.IndexAudit.driftComponents]] DRIVE the
    * retrain: the rebuild runs because the coverage check tripped on
    * the new member, not unconditionally
    * ([[graft.ext.Graph.rebuildComponents]] into the same layout).
    * Returns (preTable, liveTable). */
  private val mirrorRebuildArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def mirrorRebuildArtifact(s: SparkSession, dir: String)
      : (String, String) =
    mirrorRebuildArtifacts.computeIfAbsent(dir, _ => {
      val base = "graft_mirror_rb_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      val idx = s"${base}_hashes"
      val pre = s"${base}_pre"
      val live = base
      val d = col("doc_id")
      // cycle-1 corpus: the q196 plant (even src-hosts mirror a shared
      // corpus, everything else serves unique bodies)
      val planted1 = t(s, dir, "documents").select(
        concat(lit("src"),
          when(d % 3 === 0, (d % 5) * 2).otherwise(d % 20)
            .cast("string"),
          lit(".example.com")).as("mhost"),
        when(d % 3 === 0,
          concat(lit("mirrored "), (d % 29).cast("string")))
          .otherwise(concat(lit("uniq "), d.cast("string")))
          .as("mtext"))
      graft.ext.Dedup.writeMirrorHashes(planted1, "mhost", "mtext",
        idx, nBuckets = 8)
      val pairs1 = graft.ext.Dedup.mirrorPairsFromIndex(s, idx,
        minShared = 2L, maxHostsPerHash = 6)
      val edges1 = pairs1
        .select(col("host_a").as("src"), col("host_b").as("dst"))
        .localCheckpoint()
      val nodes1 = edges1.select(col("src").as("host"))
        .union(edges1.select(col("dst").as("host"))).distinct()
      val comp1 = graft.ext.Graph.connectedComponents(nodes1, "host",
        edges1, "src", "dst")
      // frozen BEFORE copy (the probe's baseline) + the live artifact
      // the drift loop rebuilds — same training, two tables
      graft.ext.Graph.writeComponents(comp1, "id", pre, nBuckets = 8)
      graft.ext.Graph.writeComponents(comp1, "id", live, nBuckets = 8)
      // cycle 2: src1 (previously all-unique, its own component rep)
      // starts serving the mirrored corpus — the newly discovered
      // mirror member. Its fetches APPEND to the persisted relation.
      val batch2 = t(s, dir, "documents")
        .filter(d % 3 === 1 && d % 20 === 1)
        .select(lit("src1.example.com").as("mhost"),
          concat(lit("mirrored "), (d % 29).cast("string")).as("mtext"))
      graft.ext.Dedup.appendMirrorHashes(batch2, "mhost", "mtext", idx)
      val pairs2 = graft.ext.Dedup.mirrorPairsFromIndex(s, idx,
          minShared = 2L, maxHostsPerHash = 6)
        .localCheckpoint() // host-pair-sized; feeds drift + retrain
      val nodes2 = pairs2.select(col("host_a").as("host"))
        .union(pairs2.select(col("host_b").as("host"))).distinct()
      // the drift check DRIVES the rebuild (the trigger consumed
      // in-loop, not a per-query unconditional retrain)
      val tripped = graft.ext.IndexAudit.driftComponents(s, live,
        nodes2, "host").filter(!col("ok")).count() > 0
      require(tripped,
        "q201 plant error: cycle 2 introduced no uncovered member")
      graft.ext.Graph.rebuildComponents(s, live, nodes2, "host",
        pairs2, "host_a", "host_b")
      (pre, live)
    })

  /** Train-once memo for q203's TWO-CYCLE authority lifecycle — the
    * [[mirrorRebuildArtifact]] discipline applied to the PageRank
    * family (the last persisted artifact whose drift check had no
    * consumed rebuild): cycle 1 trains q155's real host-graph
    * authority and persists it (frozen as `<t>_pre` for the
    * before/after probe, live as `<t>`); cycle 2 discovers every
    * source host linking to ONE new hub (`newhub.example.com` — the
    * hottest node in the union graph, absent from the stored
    * universe), [[graft.ext.IndexAudit.driftPageRank]] trips on the
    * uncovered host, and THAT trigger drives
    * [[graft.ext.Graph.rebuildPageRank]] (retrain over the union
    * universe under the trained iters/unit, into the same layout).
    * Until the rebuild, the scheduler's left join reads the hub as
    * authority 0 — scheduled dead last. Returns (preTable, liveTable). */
  private val authorityRebuildArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def authorityRebuildArtifact(s: SparkSession, dir: String)
      : (String, String) =
    authorityRebuildArtifacts.computeIfAbsent(dir, _ => {
      val base = "graft_authority_rb_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      val pre = s"${base}_pre"
      val live = base
      val edges1 = hostLinkEdges(s, dir)
      val nodes1 = edges1.select(col("src").as("host"))
        .union(edges1.select(col("dst").as("host")))
        .distinct().localCheckpoint()
      val n1 = nodes1.count()
      val pr1 = graft.ext.Graph.pageRankMicro(nodes1, edges1, "host",
        "src", "dst", nNodes = n1, iters = 10).localCheckpoint()
      // frozen BEFORE copy (the probe's baseline) + the live artifact
      // the drift loop rebuilds — same training, two tables
      graft.ext.Graph.writePageRank(pr1, "host", pre,
        iters = 10, nNodes = n1, nBuckets = 8)
      graft.ext.Graph.writePageRank(pr1, "host", live,
        iters = 10, nNodes = n1, nBuckets = 8)
      // cycle 2: the new hub's in-links — one edge per distinct
      // source host (host-sized, never a corpus recrawl)
      val edgesU = edges1.union(
          edges1.select(col("src")).distinct()
            .select(col("src"), lit("newhub.example.com").as("dst")))
        .distinct().localCheckpoint()
      val nodesU = edgesU.select(col("src").as("host"))
        .union(edgesU.select(col("dst").as("host")))
        .distinct().localCheckpoint()
      // the drift check DRIVES the rebuild (the trigger consumed
      // in-loop, not a per-query unconditional retrain)
      val tripped = graft.ext.IndexAudit.driftPageRank(s, live,
        nodesU, "host").filter(!col("ok")).count() > 0
      require(tripped,
        "q203 plant error: cycle 2 introduced no uncovered host")
      graft.ext.Graph.rebuildPageRank(s, live, nodesU, "host",
        edgesU, "src", "dst")
      (pre, live)
    })

  /** Persist-once memo for the unigram-LM artifact q200 scores under
    * (the q148 FIXED vocabulary written through
    * [[graft.ext.TextOps.writeUnigramModel]] — the persisted-tokenizer
    * family): the perplexity gate probes a STORED model, the
    * production shape where the LM is maintained state, not a
    * per-query literal. */
  private val unigramModelArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def unigramModelArtifact(s: SparkSession, dir: String): String =
    unigramModelArtifacts.computeIfAbsent(dir, _ => {
      val table = "graft_unigram_px_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      import s.implicits._
      TextOps.writeUnigramModel(s, table,
        UnigramFixedVocab.map { case (p, c) => (p, 1L, c) }
          .toDF("piece", "cnt", "cost_micro"),
        maxPieceLen = 4)
      table
    })

  /** q182's per-document language reconciliation — labeled, detected,
    * both declaration channels and the precedence pick — shared by
    * q182's census and q191's curation gate. */
  private def declaredLanguageRows(s: SparkSession, dir: String)
      : DataFrame = {
    val u = graft.ext.UrlOps
    val gated = graft.io.WarcIngest.withHttpResponse(
      withPlantedLangHttp(par(t(s, dir, "documents"), "doc_id")), "payload")
    val dHtml = u.langPrimarySubtag(regexp_extract(
      col("http_body"), u.HtmlLangPattern, 1))
    val dHttp = u.langPrimarySubtag(col("http_content_language"))
    gated.select(col("doc_id"), col("lang").as("labeled_lang"),
      graft.ext.TextOps.languageId(col("text")).as("predicted_lang"),
      dHtml.as("declared_html"), dHttp.as("declared_http"),
      when(dHtml =!= "", dHtml).otherwise(dHttp).as("declared_lang"))
  }

  /** q186's identity resolution, one row per fetched variant with the
    * `identity` key, the redirect/declaration evidence columns and a
    * `decl_ok` flag — shared by q186's census and q190's divergence
    * report. */
  private def urlIdentityRows(s: SparkSession, dir: String): DataFrame = {
    val canon = graft.ext.UrlOps.withCanonicalUrl(
      withPlantedIdentityHttp(t(s, dir, "documents")), "url")
    val gated = graft.io.WarcIngest.withHttpResponse(canon, "payload")
    val redir = graft.ext.UrlOps.resolveRedirects(gated, "url_canon",
        "http_status", "http_location", maxHops = 3)
      .filter(col("status") === "resolved")
      .select(col("start_url").as("url_canon"), col("final_url"))
    val withDecl = graft.ext.UrlOps.withDeclaredCanonical(
      gated, "http_body", "url_canon", "url")
    withDecl.join(redir, Seq("url_canon"), "left")
      .withColumn("decl_ok", col("decl_canon").isNotNull &&
        col("decl_host") === col("url_host"))
      .withColumn("identity", coalesce(col("final_url"),
        when(col("decl_ok"), col("decl_canon")), col("url_canon")))
  }

  /** q198's mirror-collapsed frontier — the q196 component artifact
    * applied as the eviction filter over [[crawlFrontier]]. Factored
    * so the streaming crawl-cycle twin (`CrawlCycleStreamSpec`) runs
    * its cycles over EXACTLY the schedule the batch capstone uses. */
  private[graft] def q198CollapsedFrontier(s: SparkSession,
                                           dir: String): DataFrame = {
    val comp = graft.ext.Graph.loadComponents(
        s, mirrorComponentArtifact(s, dir))
      .select(col("id").as("link_host"), col("component").as("__rep"))
    crawlFrontier(s, dir)
      .join(comp, Seq("link_host"), "left")
      .filter(col("__rep").isNull || col("__rep") === col("link_host"))
      .drop("__rep")
  }

  /** q154's frontier, unordered — discovered outlinks minus fetched
    * seeds, robots-verdicted, budgeted to the 3 shallowest per host
    * via graft_top_k. Shared by q154 and q160's politeness schedule.
    * `fresh` is tiny (one row per unseen URL) but sits on the whole
    * harvest + anti join and robotsVerdict consumes it TWICE, so the
    * plan is cut there (the localCheckpoint discipline, cf. q130). */
  private def crawlFrontier(s: SparkSession, dir: String): DataFrame = {
    // NO par here: the head is consumed by TWO chains (outlink
    // extraction and the fetched-set anti-join), and the r17 A/B of a
    // spread measured the whole frontier family 1.5-2.9× SLOWER
    // (q192 5.3→15.5 s) — the multiplied-exchange failure mode the
    // hybrid family's r16 spread had. The regex chain is short enough
    // that one core beats two full-payload shuffles.
    val docs = t(s, dir, "documents")
    val (canon, cand) = linkDiscovery(docs)
    val fresh = cand.join(fetchedSeen(canon).distinct(),
      Seq("link_canon"), "left_anti")
      .localCheckpoint()
    val verd = graft.ext.UrlOps.robotsVerdict(
      fresh, "link_canon", "link_canon", plantedRobotsRules(docs))
    val sched = verd.filter(col("fetch_allowed"))
      .withColumn("path", regexp_extract(
        regexp_replace(col("link_canon"),
          "^[a-z][a-z0-9+.-]*://[^/?]*", ""), "^([^?]*)", 1))
      .withColumn("depth", size(filter(split(col("path"), "/"),
        seg => seg =!= "")).cast("long"))
    sched.groupBy(col("link_host"))
      .agg(call_function("graft_top_k",
        -col("depth").cast("double"),
        struct(col("link_canon"), col("found_by")), lit(3)).as("top"))
      .select(col("link_host"),
        posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("link_host"),
        (col("pos") + 1).cast("long").as("rank"),
        col("s.payload.link_canon").as("url_canon"),
        (-col("s.ord")).cast("long").as("depth"),
        col("s.payload.found_by").as("found_by"))
  }

  /** The outlink discovery head of the link frontiers (q154, q162,
    * q173): the planted pages canonicalized — `canon`, whose URLs are
    * also the fetched seed set — and their outlinks grouped per target
    * with the lowest discovering doc id as
    * `(link_canon, link_host, found_by)`. */
  private def linkDiscovery(docs: DataFrame): (DataFrame, DataFrame) = {
    val canon = graft.ext.UrlOps.withCanonicalUrl(
      withPlantedUrl(docs), "url")
    val links = graft.ext.UrlOps.extractOutlinks(
        withPlantedPage(canon), "doc_id", "html", "url_canon", "url")
      .filter(col("link_canon").isNotNull)
    val cand = links.groupBy(col("link_canon"), col("link_host"))
      .agg(min(col("doc_id")).as("found_by"))
    (canon, cand)
  }

  /** The fetched seed URLs of `canon` as the frontier's seen set. */
  private def fetchedSeen(canon: DataFrame): DataFrame =
    canon.select(col("url_canon").as("link_canon"))

  /** q162's sitemap discoveries: the in-scope `<url>` entries as
    * candidates `(link_canon, link_host, found_by = −1, lastmod)`. */
  private def sitemapCand(docs: DataFrame): DataFrame =
    graft.ext.UrlOps.parseSitemap(plantedSitemaps(docs), "host", "xml")
      .filter(col("in_scope"))
      .select(col("url_canon").as("link_canon"),
        col("url_host").as("link_host"),
        lit(-1L).as("found_by"), col("lastmod"))

  /** q181's throttle-aware schedule over the q154 frontier: each slot
    * pushed past its host's Retry-After hold (max parsed delay over the
    * 429/503 responses, as of the fixed date), spaced by the robots
    * crawl-delay tier. Unordered. */
  private def throttledFrontier(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val delays = graft.ext.UrlOps.robotsCrawlDelay(
      plantedRobotsTxt(docs), "host", "txt", "graftbot")
    val backoff = graft.io.WarcIngest.withHttpResponse(
        withPlantedRetryHttp(docs), "payload")
      .filter(col("http_status").isin(429L, 503L))
      .withColumn("ra_us", graft.ext.UrlOps.retryAfterMicros(
        col("http_retry_after"), "2026-02-10 00:00:00"))
      .groupBy(col("host"))
      .agg(max(col("ra_us")).as("retry_after_micros"))
    graft.ext.UrlOps.throttledSchedule(
        crawlFrontier(s, dir), "link_host", "rank", delays, backoff,
        defaultDelayMicros = 1000000L)
  }

  /** The recency-budgeted frontier tail (q162, q171, q173, q176, q180):
    * candidates `(link_canon, link_host, lastmod, payload…)` minus the
    * `seen` URLs, robots-verdicted, then budgeted to 3 per host by
    * `graft_top_k` (recency_bucket ASC, depth ASC, url ASC) — the two
    * integer terms pack into ONE ordinal (`bucket·2²⁰ + min(depth,
    * 2²⁰−1)`, exact in a double far below 2⁵³), so the budget keeps
    * O(k) state per host with map-side partial combine. `fresh` is
    * tiny but sits on the whole discovery and robotsVerdict consumes it
    * twice, so the plan is cut there. The `payload` columns ride
    * through to the output after `recency_bucket`; `asOf` is a FIXED
    * date (determinism/oracle-replay — never wall-clock). */
  private def recencyBudget(docs: DataFrame, cand: DataFrame,
      seen: DataFrame, payload: Seq[String], asOf: String): DataFrame = {
    val fresh = cand.join(seen.distinct(), Seq("link_canon"), "left_anti")
      .localCheckpoint()
    val verd = graft.ext.UrlOps.robotsVerdict(
      fresh, "link_canon", "link_canon", plantedRobotsRules(docs))
    val sched = verd.filter(col("fetch_allowed"))
      .withColumn("path", regexp_extract(
        regexp_replace(col("link_canon"),
          "^[a-z][a-z0-9+.-]*://[^/?]*", ""), "^([^?]*)", 1))
      .withColumn("depth", size(filter(split(col("path"), "/"),
        seg => seg =!= "")).cast("long"))
      .withColumn("recency_bucket",
        graft.ext.UrlOps.recencyBucket(col("lastmod"), asOf))
    val carried = ("link_canon" +: payload) ++ Seq("recency_bucket", "depth")
    sched.groupBy(col("link_host"))
      .agg(call_function("graft_top_k",
        -(col("recency_bucket") * 1048576L +
          least(col("depth"), lit(1048575L))).cast("double"),
        struct(carried.map(col): _*), lit(3)).as("top"))
      .select(col("link_host"),
        posexplode(col("top")).as(Seq("pos", "s")))
      .select(Seq(col("link_host"),
        (col("pos") + 1).cast("long").as("rank"),
        col("s.payload.link_canon").as("url_canon"),
        col("s.payload.depth").as("depth"),
        col("s.payload.recency_bucket").as("recency_bucket")) ++
        payload.map(c => col(s"s.payload.$c").as(c)): _*)
  }

  /** q162's frontier with RECENCY live in the ranking (the r11
    * verdict's directive #6 — q157 parsed `lastmod`, q154 ranked by
    * depth alone): candidates are the q154 link discoveries UNIONED
    * with the in-scope sitemap entries (found_by = −1 marks
    * sitemap-discovered; a URL found both ways keeps min found_by and
    * its sitemap lastmod via `max` — ISO dates compare
    * chronologically as strings), anti-joined against the fetched
    * seeds, robots-verdicted, then recency-budgeted per host
    * ([[recencyBudget]]). Fresh sitemap entries outrank stale ones
    * outrank unknown-age link discoveries (bucket 12); the planted 2020
    * `/old/` entries land in bucket 11 — stale but still age-attested. */
  private def crawlFrontierRecency(s: SparkSession, dir: String,
      asOf: String = "2026-02-10"): DataFrame = {
    val docs = t(s, dir, "documents")
    val (canon, links) = linkDiscovery(docs)
    val linkCand = links.withColumn("lastmod", lit(""))
    val smCand = sitemapCand(docs)
    val cand = linkCand.unionByName(smCand)
      .groupBy(col("link_canon"), col("link_host"))
      .agg(min(col("found_by")).as("found_by"),
        max(col("lastmod")).as("lastmod"))
    recencyBudget(docs, cand, fetchedSeen(canon), Seq("found_by"), asOf)
  }

  /** q171's planted CHILD sitemap bodies — the simulated fetch of
    * q164's in-scope child queue, keyed by the child URL alone (a
    * deterministic body per child, so the oracle replays the fetch):
    * `more.xml` carries a fresh entry (bucket 0), a MESSY
    * seed-duplicate entry (uppercase www + doubled slash + unsorted
    * query — canonicalizes onto a fetched q150 seed, the anti-join's
    * planted hit), a stale 2020 entry (bucket 11), and an out-of-scope
    * CDN entry; `part-{dg}.xml` carries a dated deep entry, a loc-less
    * drop, and a lastmod-less entry (bucket 12, budget-excluded at
    * k=3). */
  private[graft] def plantedChildSitemaps(children: DataFrame)
      : DataFrame = {
    val host = col("url_host")
    val dg = regexp_extract(host, "([0-9])\\.example\\.com$", 1)
    val isMore = col("url_canon").endsWith("/more.xml")
    val moreBody = concat(
      lit("<?xml version=\"1.0\"?><urlset>"),
      lit("<url><loc>https://"), host, lit("/more/a-"), dg,
      lit("</loc><lastmod>2026-02-05</lastmod></url>"),
      lit("<url>\n  <loc> HTTPS://WWW."), upper(host), lit("/Docs//"),
      dg, lit("?b=2&a=1 </loc>\n</url>"),
      lit("<url><loc>https://"), host, lit("/more/old-"), dg,
      lit("</loc><lastmod>2020-01-01</lastmod></url>"),
      lit("<url><loc>https://cdn"), dg,
      lit(".example.net/x</loc></url>"),
      lit("</urlset>"))
    val partBody = concat(
      lit("<?xml version=\"1.0\"?><urlset>"),
      lit("<url><loc>https://"), host, lit("/part/"), dg,
      lit("/p1</loc><lastmod>2026-01-2"), dg, lit("</lastmod></url>"),
      lit("<url><lastmod>2026-01-01</lastmod></url>"),
      lit("<url><loc>https://"), host, lit("/part/"), dg,
      lit("/nolm</loc></url>"),
      lit("</urlset>"))
    children.select(host.as("host"),
      when(isMore, moreBody).otherwise(partBody).as("xml"))
  }

  /** q176's planted bodies for the sitemaps the ROBOTS files declare
    * (q174's in-scope harvest): one `<urlset>` per declared sitemap
    * URL, keyed by its path marker (`sitemap`/`index`/`mid-group` —
    * three bodies per host, so the candidate dedup does real work on
    * the shared entries). Each body plants: a NEW per-marker URL with
    * a fresh lastmod, the robots-DISALLOWED `/Docs/1`, a messy
    * whitespace/uppercase/dup-slash entry without lastmod, a possibly
    * ALREADY-FETCHED `/Docs/3` spelling (the anti-join's planted
    * hit — canonicalizes into the fetched universe where the host's
    * doc ids cover it), and a CROSS-HOST cdn entry the in-scope
    * filter drops. Shared structure with the oracle via
    * [[robotsSitemapFrontierOracleSql]]. */
  private[graft] def plantedRobotsSitemapBodies(declared: DataFrame)
      : DataFrame = {
    val host = col("url_host")
    val mk = regexp_extract(col("url_canon"), "/([a-z-]+)\\.xml$", 1)
    val dg = regexp_extract(host, "([0-9])\\.example\\.com$", 1)
    declared.select(host.as("sm_host"), concat(
      lit("<?xml version=\"1.0\"?><urlset>"),
      lit("<url><loc>https://"), host, lit("/rsm/"), mk,
      lit("-a</loc><lastmod>2026-02-03</lastmod></url>"),
      lit("<url><loc>https://"), host,
      lit("/Docs/1</loc><lastmod>2026-02-01</lastmod></url>"),
      lit("<url>\n  <loc> HTTPS://WWW."), upper(host), lit("/rsm//"),
      mk, lit("-b?b=2&a=1 </loc>\n</url>"),
      lit("<url><loc>https://"), host,
      lit("/Docs/3?b=2&a=1</loc></url>"),
      lit("<url><loc>https://cdn"), dg,
      lit(".example.net/rsm-x</loc></url>"),
      lit("</urlset>")).as("xml"))
  }

  /** q171: the sitemap-index LOOP closed in one plan — q164's
    * in-scope child queue → simulated child fetches → the SAME `<url>`
    * parser → frontier (anti join against fetched seeds, robots
    * verdict, recency-bucketed per-host budget). The q165 composition
    * discipline: every stage is the shipped operator, and the oracle
    * assembles the shared CTE generators. */
  private def sitemapRecursionFrontier(s: SparkSession, dir: String,
      asOf: String = "2026-02-10"): DataFrame = {
    val docs = t(s, dir, "documents")
    val canon = graft.ext.UrlOps.withCanonicalUrl(
      withPlantedUrl(docs), "url")
    val children = graft.ext.UrlOps.parseSitemapIndex(
        plantedSitemaps(docs), "host", "xml")
      .filter(col("in_scope"))
    val childUrls = graft.ext.UrlOps.parseSitemap(
        plantedChildSitemaps(children), "host", "xml")
      .filter(col("in_scope"))
    val cand = childUrls
      .groupBy(col("url_canon").as("link_canon"),
        col("url_host").as("link_host"))
      .agg(max(col("lastmod")).as("lastmod"))
    recencyBudget(docs, cand, fetchedSeen(canon), Nil, asOf)
      .orderBy("link_host", "rank")
  }

  /** q173: THE frontier — every discovery source the engine has in
    * ONE ranked queue: page outlinks (q154, found_by = discoverer
    * id), sitemap `<url>` entries (q162, −1), child-sitemap entries
    * through the index recursion (q171, −3), and resolved redirect
    * finals (q168, −2). One URL found several ways keeps min
    * found_by and its freshest lastmod; the seen set is BOTH fetched
    * universes (the /Docs/ seeds and the /d/ redirect plant); the
    * tail is the q162 shape — anti join, robots verdict, 30-day
    * recency bucket, packed-ordinal per-host `graft_top_k`. Every
    * union leg is the shipped operator; the oracle assembles the
    * shared generators of all four families. */
  private def unifiedFrontier(s: SparkSession, dir: String,
      asOf: String = "2026-02-10"): DataFrame = {
    val docs = t(s, dir, "documents")
    val (canon, links) = linkDiscovery(docs)
    val linkCand = links.withColumn("lastmod", lit(""))
    val smCand = sitemapCand(docs)
    val children = graft.ext.UrlOps.parseSitemapIndex(
        plantedSitemaps(docs), "host", "xml")
      .filter(col("in_scope"))
    val childCand = graft.ext.UrlOps.parseSitemap(
        plantedChildSitemaps(children), "host", "xml")
      .filter(col("in_scope"))
      .select(col("url_canon").as("link_canon"),
        col("url_host").as("link_host"),
        lit(-3L).as("found_by"), col("lastmod"))
    val gated = graft.io.WarcIngest.withHttpResponse(
      withPlantedRedirectHttp(docs), "payload")
    val redirCand = graft.ext.UrlOps.resolveRedirects(gated, "url",
        "http_status", "http_location", maxHops = 3)
      .filter(col("status") === "resolved")
      .select(col("final_url").as("link_canon"),
        regexp_extract(col("final_url"),
          "^[a-z][a-z0-9+.-]*://([^/?]*)", 1).as("link_host"),
        lit(-2L).as("found_by"), lit("").as("lastmod"))
    val cand = linkCand.unionByName(smCand).unionByName(childCand)
      .unionByName(redirCand)
      .groupBy(col("link_canon"), col("link_host"))
      .agg(min(col("found_by")).as("found_by"),
        max(col("lastmod")).as("lastmod"))
    val seen = fetchedSeen(canon)
      .unionByName(gated.select(col("url").as("link_canon")))
    recencyBudget(docs, cand, seen, Seq("found_by"), asOf)
      .orderBy("link_host", "rank")
  }

  /** q163's planted HTTP response payloads: one per document, the five
    * response classes a real crawl actually returns — a 404 WITHOUT a
    * Content-Type header (%5=0 — absent header must read as empty, not
    * null-poison the gate), a healthy `200` whose Content-Type arrives
    * UPPERCASED with a charset parameter (%5=1 — media types are
    * case-insensitive and parameters strip, RFC 9110 §8.3.1), a `301`
    * carrying a `Location` header (%5=2 — the redirect signal), a
    * `200 application/pdf` (%5=3 — right status, wrong media type:
    * must NOT pass the funnel gate), and a non-HTTP payload (%5=4 —
    * a truncated/garbage capture: null status, false gate). Shared
    * structure with the oracle via [[httpGateOracleSql]]. */
  private[graft] def withPlantedHttp(df: DataFrame): DataFrame =
    df.withColumn("payload",
      when(col("doc_id") % 5 === 0,
        concat(lit("HTTP/1.1 404 Not Found\r\n\r\n<html>gone "),
          col("doc_id").cast("string"), lit("</html>")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: TEXT/HTML; " +
          "charset=UTF-8\r\n\r\n<html>doc "),
          col("doc_id").cast("string"), lit("</html>")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("HTTP/1.1 301 Moved Permanently\r\nLocation: " +
          "https://"), col("source"), lit(".example.com/new/"),
          col("doc_id").cast("string"),
          lit("\r\nContent-Type: text/html\r\n\r\n<html>moved</html>")))
      .when(col("doc_id") % 5 === 3,
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: application/pdf" +
          "\r\n\r\n%PDF-fake "), col("doc_id").cast("string")))
      .otherwise(concat(lit("garbled capture "),
        col("doc_id").cast("string"))))

  /** q166's charset plant: three non-ASCII samples, one per decode
    * class — SampleU exercises 2-/3-/4-byte UTF-8 sequences (incl.
    * non-BMP), SampleL is Latin-1-encodable, SampleW sits in cp1252's
    * 0x80–0x9F window where it departs from Latin-1. The BYTE-VIEW
    * literals (each payload byte as one char — what the byte-view gz
    * seam yields) are DERIVED at class load from the samples via the
    * JDK encoders, so plant and decode contract cannot drift; the
    * oracle embeds the same views through [[sqlLit]] chr() chains
    * (transport-proof for the C1-control chars a raw literal would
    * carry). */
  private[graft] val CharsetSampleU: String = "héllo – café 😀"
  private[graft] val CharsetSampleL: String = "café naïve über"
  private[graft] val CharsetSampleW: String = "€uro – it’s"
  private[graft] val CharsetViewU: String = new String(
    CharsetSampleU.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    java.nio.charset.StandardCharsets.ISO_8859_1)
  private[graft] val CharsetViewW: String = new String(
    CharsetSampleW.getBytes(java.nio.charset.Charset.forName("windows-1252")),
    java.nio.charset.StandardCharsets.ISO_8859_1)

  /** A DuckDB string literal for `s` that never puts a non-ASCII or
    * control char in the SQL text: printable-ASCII runs stay quoted,
    * everything else becomes `chr(codepoint)`. */
  private def sqlLit(s: String): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val run = new StringBuilder
    def flush(): Unit =
      if (run.nonEmpty) { parts += "'" + run.toString + "'"; run.clear() }
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp >= 0x20 && cp <= 0x7e && cp != '\'') run.append(cp.toChar)
      else { flush(); parts += s"chr($cp)" }
      i += Character.charCount(cp)
    }
    flush()
    if (parts.isEmpty) "''" else parts.mkString(" || ")
  }

  /** q166's planted HTTP payloads in the BYTE VIEW: per doc_id%4 a
    * UTF-8-declared body (mixed-case declaration), a Latin-1-declared
    * one, a QUOTED windows-1252 declaration, and an UNDECLARED body
    * (defaults to UTF-8) — each view-encoded sample followed by a
    * printable-ASCII-sanitized slice of the document text (ASCII's
    * byte view is itself, so the slice needs no view transform and
    * the oracle can rebuild it relationally). */
  private[graft] def withPlantedCharsetHttp(df: DataFrame): DataFrame = {
    val safe = regexp_replace(
      substring(col("text"), 1, 60), "[^ -~]", "")
    def payload(decl: String, view: String) = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html" + decl +
        "\r\n\r\n" + view), safe)
    df.withColumn("payload",
      when(col("doc_id") % 4 === 0,
        payload("; charset=UTF-8", CharsetViewU))
        .when(col("doc_id") % 4 === 1,
          payload("; charset=ISO-8859-1", CharsetSampleL))
        .when(col("doc_id") % 4 === 2,
          payload("; charset=\"Windows-1252\"", CharsetViewW))
        .otherwise(payload("", CharsetViewU)))
  }

  /** q167/q168's planted redirect universe: one response per document
    * at the canonical URL `https://src{d%20}.example.com/d/{d}`, with
    * doc_id%10 picking the response class —
    *   - 0, 3: `200 text/html` (chain terminus classes);
    *   - 1 → 2 → 3: a 301-then-302 chain of absolute CROSS-HOST
    *     Locations (d%20 changes every step) landing on a fetched 200
    *     two hops from the head;
    *   - 4: `303` with a ROOT-RELATIVE `Location: /moved/home` — the
    *     RFC 9110 §10.2.2 relative form, resolving against the fetched
    *     URL's own host; every class-4 doc on a host lands on the SAME
    *     target (the enqueue-once demonstration);
    *   - 5 ↔ 6: a planted A→B→A cycle (301s, cross-host);
    *   - 7: a 308 SELF-redirect (loop at hop 1);
    *   - 8 → 9 → 1 → 2 → 3: a 4-hop 307 chain that exceeds the
    *     maxHops=3 cap from class 8 and resolves at exactly hop 3 from
    *     class 9 — except at the id boundary, where the overflowing
    *     Location (`/d/{maxid+2}`) names a never-fetched URL and both
    *     tails resolve DANGLING onto one shared final.
    * Shared structure with the oracle via [[redirectCtes]]. */
  private[graft] def withPlantedRedirectHttp(df: DataFrame): DataFrame = {
    def uof(x: Column): Column = concat(lit("https://src"),
      (x % 20).cast("string"), lit(".example.com/d/"), x.cast("string"))
    val d = col("doc_id")
    def redirect(status: String, loc: Column) = concat(
      lit("HTTP/1.1 " + status + "\r\nLocation: "), loc,
      lit("\r\nContent-Type: text/html\r\n\r\n<html>moved</html>"))
    df.withColumn("url", uof(d))
      .withColumn("payload",
        when(d % 10 === 1, redirect("301 Moved Permanently", uof(d + 1)))
          .when(d % 10 === 2, redirect("302 Found", uof(d + 1)))
          .when(d % 10 === 4, redirect("303 See Other", lit("/moved/home")))
          .when(d % 10 === 5, redirect("301 Moved Permanently", uof(d + 1)))
          .when(d % 10 === 6, redirect("301 Moved Permanently", uof(d - 1)))
          .when(d % 10 === 7, redirect("308 Permanent Redirect", uof(d)))
          .when(d % 10 === 8, redirect("307 Temporary Redirect", uof(d + 1)))
          .when(d % 10 === 9, redirect("307 Temporary Redirect", uof(d + 2)))
          .otherwise(concat(
            lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
              "<html>doc "), d.cast("string"), lit("</html>"))))
  }

  /** q169's planted conditional-fetch responses at the q167 URL
    * scheme: per doc_id%6 a fresh IMF-fixdate `Last-Modified` with a
    * strong `ETag` (bucket 0), a stale 2020 date without an ETag
    * (bucket 11, still validator-attested), a WEAK ETag with no date
    * (unknown age but conditional-eligible), a MALFORMED ISO-shaped
    * date the strict IMF gate must reject (bucket 12 — never
    * mis-parsed), neither header (the unconditional class), and a
    * ~100-day date (bucket 3). Odd hosts carry no class-0 docs
    * (gcd(20,6)=2), so their schedules lead with bucket 3 — the
    * budget output varies by host. Shared structure with the oracle
    * via [[refetchOracleSql]]. */
  private[graft] def withPlantedConditionalHttp(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    val etag = concat(lit("ETag: \"v"), d.cast("string"), lit("\"\r\n"))
    val weakEtag = concat(lit("ETag: W/\"v"), d.cast("string"),
      lit("\"\r\n"))
    def lm(s: String) = lit("Last-Modified: " + s + "\r\n")
    def ok(extra: Column) = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"), extra,
      lit("\r\n<html>page</html>"))
    df.withColumn("url", concat(lit("https://src"),
        (d % 20).cast("string"), lit(".example.com/d/"),
        d.cast("string")))
      .withColumn("payload",
        when(d % 6 === 0,
          ok(concat(etag, lm("Mon, 02 Feb 2026 10:00:00 GMT"))))
          .when(d % 6 === 1, ok(lm("Sun, 15 Mar 2020 08:49:37 GMT")))
          .when(d % 6 === 2, ok(weakEtag))
          .when(d % 6 === 3, ok(concat(etag, lm("2026-02-01"))))
          .when(d % 6 === 4, ok(lit("")))
          .otherwise(
            ok(concat(etag, lm("Sat, 01 Nov 2025 00:00:00 GMT")))))
  }

  /** q170's variant-URL plant: five URL variants per content group
    * (`/p/{g}/v0..v4`, one host per group), identical body text within
    * the group, and a per-group `<link rel="canonical">` class —
    * declare member v2 (relative href on g≡0 (mod 8), absolute
    * otherwise — the declared winner BEATS min-id v0), declare a
    * CROSS-HOST canonical (ignored — hijack vector), declare nothing,
    * or declare an in-host NON-member (`/master` — falls back to
    * min-id). Tag attribute order alternates by doc parity, and every
    * page carries a stylesheet `<link>` decoy the patterns must not
    * match. Shared structure with the oracle via
    * [[declaredCanonicalOracleSql]]. */
  private[graft] def withPlantedCanonicalDecl(df: DataFrame): DataFrame = {
    val g = expr("doc_id div 5")
    val v = col("doc_id") % 5
    val host = concat(lit("src"), (g % 20).cast("string"),
      lit(".example.com"))
    val content = concat(lit("canonical probe text for group "),
      g.cast("string"))
    val v2abs = concat(lit("https://"), host, lit("/p/"),
      g.cast("string"), lit("/v2"))
    val v2rel = concat(lit("/p/"), g.cast("string"), lit("/v2"))
    val declHref =
      when(g % 4 === 0, when(g % 8 === 0, v2rel).otherwise(v2abs))
        .when(g % 4 === 1, concat(lit("https://other.example.net/p/"),
          g.cast("string")))
        .when(g % 4 === 3, concat(lit("https://"), host, lit("/p/"),
          g.cast("string"), lit("/master")))
    val linkTag = when(declHref.isNull, lit(""))
      .when(col("doc_id") % 2 === 0,
        concat(lit("<link rel=\"canonical\" href=\""), declHref,
          lit("\">")))
      .otherwise(concat(lit("<link href=\""), declHref,
        lit("\" rel=\"canonical\">")))
    df.withColumn("url", concat(lit("https://"), host, lit("/p/"),
        g.cast("string"), lit("/v"), v.cast("string")))
      .withColumn("g_txt", content)
      .withColumn("html", concat(
        lit("<html><head>" +
          "<link rel=\"stylesheet\" href=\"/css/main.css\">"),
        linkTag, lit("</head><body><p>"), content,
        lit("</p></body></html>")))
  }

  /** q172's prior-corpus plant at the q167 URL scheme: every doc a
    * fetched page with v1 body and fixed bookkeeping dates; doc_id≡0
    * (mod 7) rows arrive TOMBSTONED (a 304 must reactivate them). */
  private[graft] def plantedRevisitCorpus(df: DataFrame): DataFrame =
    df.select(
      concat(lit("https://src"), (col("doc_id") % 20).cast("string"),
        lit(".example.com/d/"), col("doc_id").cast("string"))
        .as("url_canon"),
      concat(lit("body v1 of "), col("doc_id").cast("string"))
        .as("body"),
      lit("2026-01-01").as("first_fetched"),
      lit("2026-01-15").as("last_validated"),
      (col("doc_id") % 7 =!= 0).as("is_active"))

  /** q172's revisit responses: per doc_id%5 a `200` with a CHANGED
    * body, a `200` with the byte-identical v1 body (revalidated,
    * `body_changed` false), a `304 Not Modified` (the q169
    * If-None-Match payoff — headers only), a `404` (tombstone), or NO
    * revisit (class 4 — partial batch, state untouched); plus an
    * INSERT class — doc_id≡5 (mod 10) docs also revisit a `/new` URL
    * the corpus has never seen. */
  private[graft] def withPlantedRevisitHttp(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    val u = concat(lit("https://src"), (d % 20).cast("string"),
      lit(".example.com/d/"), d.cast("string"))
    def ok(body: Column) = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), body)
    val base = df.filter(d % 5 =!= 4).select(u.as("url"),
      when(d % 5 === 0,
        ok(concat(lit("body v2 of "), d.cast("string"))))
        .when(d % 5 === 1,
          ok(concat(lit("body v1 of "), d.cast("string"))))
        .when(d % 5 === 2, lit("HTTP/1.1 304 Not Modified\r\n\r\n"))
        .otherwise(concat(
          lit("HTTP/1.1 404 Not Found\r\n\r\ngone "),
          d.cast("string"))).as("payload"))
    val inserts = df.filter(d % 10 === 5).select(
      concat(u, lit("/new")).as("url"),
      ok(concat(lit("fresh body "), d.cast("string"))).as("payload"))
    base.unionByName(inserts)
  }

  /** q183's planted pages: a language-variant cluster per doc — an
    * in-host root-relative `en` alternate, an attribute-SHUFFLED
    * uppercase `DE-AT` (region subtag; hreflang/href/rel order), an
    * `x-default` SELF alternate (absolute — canonicalizes onto the
    * fetched URL), a cross-host `fr` alternate on %3 docs (flagged,
    * not followed blindly), a stylesheet decoy (rel token is not
    * `alternate`), and a FEED alternate without `hreflang` (dropped —
    * not a language variant). */
  private[graft] def withPlantedHreflangPage(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    val n = (d % 13).cast("string")
    df.withColumn("html", concat(
      lit("<html><head>"),
      lit("<link rel=\"alternate\" hreflang=\"en\" href=\"/intl/en/"),
      n, lit("\">"),
      lit("<LINK HREFLANG=\"DE-AT\" HREF=\"/intl/de/"), n,
      lit("\" REL=\"alternate\">"),
      lit("<link rel=\"alternate\" hreflang=\"x-default\" href=\""),
      col("url"), lit("\">"),
      when(d % 3 === 0, concat(
        lit("<link rel=\"alternate\" hreflang=\"fr\" " +
          "href=\"https://global"), (d % 2).cast("string"),
        lit(".example.net/fr/"), n, lit("\">"))).otherwise(lit("")),
      lit("<link rel=\"stylesheet\" href=\"/css/main.css\">"),
      lit("<link rel=\"alternate\" type=\"application/rss+xml\" " +
        "href=\"/feed\">"),
      lit("</head><body>x</body></html>")))
  }

  /** q184's planted variant pages: ONE page per (host, cluster,
    * language) — min-doc dedup over the corpus — at the canonical-by-
    * construction URL `https://{host}/v/{lang}/{k}`, each declaring
    * alternates for ALL FIVE languages of its cluster (root-relative,
    * the real-world template shape). Clusters only actually contain
    * the languages the corpus has documents for, so declarations
    * pointing at missing variants DANGLE — exactly what the
    * reciprocity join must reject. */
  private[graft] def withPlantedVariantPages(df: DataFrame): DataFrame = {
    val pages = df
      .select(lower(col("source")).as("h"),
        (col("doc_id") % 13).as("k"), col("lang"), col("doc_id"))
      .groupBy(col("h"), col("k"), col("lang"))
      .agg(min(col("doc_id")).as("doc_id"))
    val ks = col("k").cast("string")
    def alt(l: String) = concat(
      lit("<link rel=\"alternate\" hreflang=\"" + l + "\" href=\"/v/" +
        l + "/"), ks, lit("\">"))
    pages
      .withColumn("url", concat(lit("https://"), col("h"),
        lit(".example.com/v/"), col("lang"), lit("/"), ks))
      .withColumn("html", concat(
        lit("<html><head>"), alt("de"), alt("en"), alt("es"),
        alt("fr"), alt("zh"), lit("</head><body>v</body></html>")))
  }

  /** q186's planted identity clusters: every 4 consecutive doc_ids
    * form one RESOURCE headed by `t = doc_id - doc_id%4`, all on the
    * head's host — the head itself (a clean 200), a 301 REDIRECT
    * variant at `/moved/{d}` whose Location names the head, a
    * DECLARED-canonical variant at `/alt/{d}` whose html names the
    * head (except every OTHER such doc — d%8=6 — which declares a
    * CROSS-HOST canonical that must be ignored, the hijack trap), and
    * a SYNTACTIC variant (the head URL plus tracking params) whose
    * 200 body carries no signals. */
  private[graft] def withPlantedIdentityHttp(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    val t = d - (d % 4)
    val host = concat(lit("src"), (t % 20).cast("string"),
      lit(".example.com"))
    val head = concat(lit("https://"), host, lit("/p/"),
      t.cast("string"))
    val c = d % 4
    val url = when(c === 0, head)
      .when(c === 1, concat(lit("https://"), host, lit("/moved/"),
        d.cast("string")))
      .when(c === 2, concat(lit("https://"), host, lit("/alt/"),
        d.cast("string")))
      .otherwise(concat(head, lit("?utm_source=feed&ref="),
        d.cast("string")))
    val declTarget = when(d % 8 === 6,
      lit("https://evil.example.net/steal")).otherwise(head)
    val payload = when(c === 1, concat(
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: "), head,
        lit("\r\nContent-Type: text/html\r\n\r\n<html>moved</html>")))
      .when(c === 2, concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          "<html><head><link rel=\"canonical\" href=\""), declTarget,
        lit("\"></head><body>alt "), d.cast("string"),
        lit("</body></html>")))
      .otherwise(concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          "<html><body>content "), t.cast("string"),
        lit("</body></html>")))
    df.select(col("doc_id"), url.as("url"), payload.as("payload"))
  }

  /** q182's planted responses: per doc_id%4 a language-declaration
    * class — an in-document `<html lang>` matching the label (no
    * transport header), an UPPERCASED region-subtag form (`EN-XX`)
    * with a CONTRADICTING `Content-Language: zz` (the in-document
    * declaration must win), a header-ONLY declaration with trailing
    * RFC whitespace (the fallback channel + the trim), and no
    * declaration at all. The body carries a printable-ASCII slice of
    * the document text (the q166 plant discipline); detection runs on
    * the full `text` column riding the plant. */
  private[graft] def withPlantedLangHttp(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    val safe = regexp_replace(substring(col("text"), 1, 80), "[^ -~]", "")
    df.withColumn("payload",
      when(d % 4 === 0, concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          "<html lang=\""), col("lang"), lit("\"><body>"), safe,
        lit("</body></html>")))
      .when(d % 4 === 1, concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Content-Language: zz\r\n\r\n<HTML LANG=\""),
        upper(col("lang")), lit("-XX\"><body>"), safe,
        lit("</body></html>")))
      .when(d % 4 === 2, concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Content-Language: "), col("lang"),
        lit(" \r\n\r\n<html><body>"), safe, lit("</body></html>")))
      .otherwise(concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          "<html><body>"), safe, lit("</body></html>"))))
  }

  /** q178's planted responses: the five throttle classes a real crawl
    * meets, class-selected by `(doc_id % 100) div 20` so EVERY host
    * sees all five (host is `doc_id % 20`, and a plain `% 5` selector
    * would be constant within a host — 20 ≡ 0 mod 5): a `429` with a
    * DELTA-SECONDS `Retry-After` (value varies per doc so the
    * per-host max does real cross-class work), a `503` with an
    * HTTP-DATE `Retry-After` 4.5 days past the as-of, a `503` with a
    * MALFORMED value (`soon` — must parse to null and fall to the
    * crawl-delay tier, never to 0), a healthy `200` (not a throttle
    * even though header-bearing responses surround it), and a `429`
    * with NO `Retry-After` at all. */
  private[graft] def withPlantedRetryHttp(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    val c = expr("(doc_id % 100) div 20")
    df.select(col("doc_id"),
      concat(lower(col("source")), lit(".example.com")).as("host"),
      when(c === 0, concat(
        lit("HTTP/1.1 429 Too Many Requests\r\nRetry-After: "),
        ((d % 7) * 10 + 5).cast("string"), lit("\r\n\r\nslow down")))
      .when(c === 1, lit("HTTP/1.1 503 Service Unavailable\r\n" +
        "Retry-After: Sat, 14 Feb 2026 12:00:00 GMT\r\n\r\nmaint"))
      .when(c === 2, lit("HTTP/1.1 503 Service Unavailable\r\n" +
        "Retry-After: soon\r\n\r\nmaint"))
      .when(c === 3, concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          "<html>ok "), d.cast("string"), lit("</html>")))
      .otherwise(lit("HTTP/1.1 429 Too Many Requests\r\n\r\nslow"))
        .as("payload"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- robots.txt Sitemap directive harvest (oracle-checked): the
    // STANDARD discovery path for a site's sitemap URLs — RFC 9309
    // treats the line as unrecognized (the rule parser correctly
    // ignores it, q152/q156/q160 unchanged), but a crawler that only
    // ignores it never finds the sitemaps the whole sitemap tier
    // consumes. Group-independent, case-insensitive, comment-stripped,
    // absolute-URL-only, canonicalized, cross-host declarations
    // flagged (UrlOps.parseRobotsSitemaps — one projection + one
    // explode, bodies die in the harvest).
    "q174_robots_sitemaps" -> ((s, dir) =>
      graft.ext.UrlOps.parseRobotsSitemaps(
          plantedRobotsTxt(t(s, dir, "documents")), "host", "txt")
        .orderBy("host", "url_canon")),

    // ---- nofollow/meta-robots exclusion protocol (oracle-checked):
    // the IN-PAGE half of robots a real crawl must honor — anchors
    // whose rel TOKEN list contains nofollow, and pages whose
    // <meta name="robots"> declares nofollow (no links contributed to
    // discovery) or noindex (fetched but carries no index weight).
    // Token membership is a split, never a substring (the
    // rel="nofollowme" trap stays followed); `none` ≡ both; `all`
    // sets neither. One projection + one generator — the tag harvest
    // (UrlOps.extractOutlinksRel) is parity-pinned to the href
    // harvest, and the meta flags ride the projection (no join).
    "q175_nofollow_links" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        withPlantedUrl(docs), "url")
      val pages = graft.ext.UrlOps.withMetaRobots(
        withPlantedRelPage(canon), "html")
      graft.ext.UrlOps.extractOutlinksRel(pages, "doc_id", "html",
          "url_canon", "url", carry = Seq("meta_noindex", "meta_nofollow"))
        .filter(col("link_canon").isNotNull)
        .select(col("doc_id"), col("link_canon"), col("link_host"),
          col("link_nofollow"), col("meta_noindex"), col("meta_nofollow"),
          (!col("link_nofollow") && !col("meta_nofollow")).as("follow"))
        .orderBy("doc_id", "link_canon")
    }),

    // ---- robots-declared sitemap loop CLOSED (oracle-checked): the
    // q174 harvest consumed — in-scope declared sitemaps are fetched
    // (planted bodies), run through the SAME <url> parser as the XML
    // tiers, deduped across the three declarations per host, anti-
    // joined against the fetched universe, robots-verdicted (the
    // declared corpus's own /Docs/1 disallow kills a planted entry),
    // and recency-budgeted per host — the q171 composition discipline
    // for the robots discovery path. Every stage is the shipped
    // operator; the oracle assembles the shared CTE generators.
    "q176_robots_sitemap_frontier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        withPlantedUrl(docs), "url")
      val declared = graft.ext.UrlOps.parseRobotsSitemaps(
          plantedRobotsTxt(docs), "host", "txt")
        .filter(col("in_scope"))
      val urls = graft.ext.UrlOps.parseSitemap(
          plantedRobotsSitemapBodies(declared), "sm_host", "xml")
        .filter(col("in_scope"))
      val cand = urls
        .groupBy(col("url_canon").as("link_canon"),
          col("url_host").as("link_host"))
        .agg(max(col("lastmod")).as("lastmod"))
      recencyBudget(docs, cand, fetchedSeen(canon), Nil, "2026-02-10")
        .orderBy("link_host", "rank")
    }),

    // ---- <base href> document-base resolution (oracle-checked):
    // template-driven pages declare a base element and every relative
    // href resolves against IT, not the fetched URL — an extractor
    // that ignores it mints phantom frontier keys on such pages. The
    // effective base is the FIRST base element's href resolved
    // against the fetched URL (it may itself be relative), falling
    // back to the fetched URL when absent or of a dropped kind (the
    // javascript: plant — the second, valid base element must NOT
    // win). Two zero-shuffle projections: UrlOps.withDocumentBase
    // then the same native outlink walk with the base pair swapped.
    "q177_base_href_outlinks" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        withPlantedUrl(docs), "url")
      val based = graft.ext.UrlOps.withDocumentBase(
        withPlantedBasePage(canon), "html", "url_canon", "url")
      graft.ext.UrlOps.extractOutlinks(based, "doc_id", "html",
          "doc_base_canon", "doc_base_raw")
        .filter(col("link_canon").isNotNull)
        .select(col("doc_id"), col("href_raw"), col("link_kind"),
          col("link_canon"), col("link_host"))
        .orderBy("doc_id", "href_raw")
    }),

    // ---- Retry-After throttle backoff (oracle-checked): the 429/503
    // signal a polite crawler MUST honor — extracted by the HTTP gate,
    // parsed in both RFC 9110 forms (delta-seconds; strict HTTP-date
    // against the injectable as-of with past dates clamped to 0;
    // malformed values null, never 0), aggregated to the per-host MAX,
    // and folded with the robots crawl-delay tier into one effective
    // backoff (greatest of the two — the origin's explicit throttle
    // can only LENGTHEN the polite gap). One projection + one
    // map-side-combining aggregate + one join on the host key.
    "q178_retry_after_backoff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gated = graft.io.WarcIngest.withHttpResponse(
        withPlantedRetryHttp(docs), "payload")
      val ra = gated
        .filter(col("http_status").isin(429L, 503L))
        .withColumn("ra_us", graft.ext.UrlOps.retryAfterMicros(
          col("http_retry_after"), "2026-02-10 00:00:00"))
        .groupBy(col("host"))
        .agg(max(col("ra_us")).as("retry_after_micros"),
          count(lit(1)).as("n_throttled"))
      val delays = graft.ext.UrlOps.robotsCrawlDelay(
          plantedRobotsTxt(docs), "host", "txt", "graftbot")
        .select(col("host"), col("crawl_delay_micros"))
      ra.join(delays, Seq("host"), "left")
        .select(col("host"), col("n_throttled"),
          col("retry_after_micros"), col("crawl_delay_micros"),
          greatest(coalesce(col("retry_after_micros"), lit(0L)),
            coalesce(col("crawl_delay_micros"), lit(0L)))
            .as("backoff_micros"))
        .orderBy("host")
    }),

    // ---- inbound anchor-text aggregation (oracle-checked): what the
    // web CALLS each target — the classic ranking/description signal
    // (aggregated anchor text has ranked results since the PageRank
    // paper) and a training-pair text source for retrieval models.
    // Plain-text anchors only (nested markup carries no text signal),
    // NOFOLLOW anchors excluded (no endorsement weight), text
    // normalized (lowercase, whitespace collapsed) and aggregated per
    // (target, text): mention count + distinct endorsing hosts. One
    // projection + one generator, then ONE map-side-combining
    // aggregate over (target, norm, host) triples — pages die in the
    // harvest.
    "q179_anchor_text" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        withPlantedUrl(docs), "url")
      graft.ext.UrlOps.extractAnchorTexts(
          withPlantedAnchorPage(canon), "doc_id", "html",
          "url_canon", "url", carry = Seq("url_host"))
        .filter(col("link_canon").isNotNull &&
          !col("link_nofollow") && col("anchor_norm") =!= "")
        .groupBy(col("link_canon"), col("anchor_norm"))
        .agg(count(lit(1)).as("n_anchors"),
          countDistinct(col("url_host")).as("n_src_hosts"))
        .orderBy("link_canon", "anchor_norm")
    }),

    // ---- exclusion-aware discovery capstone (oracle-checked): this
    // round's sources and exclusions in ONE frontier — page outlinks
    // under the IN-PAGE exclusion protocol (anchor rel=nofollow and
    // page-level meta nofollow both silenced, q175's legs) unioned
    // with the robots-DECLARED sitemap loop's candidates (q176,
    // found_by −4), deduped on the canonical URL with min-found_by
    // provenance and freshest lastmod, anti-joined against the
    // fetched universe, robots-verdicted, and recency-budgeted per
    // host — the q173 composition discipline over the
    // exclusion-aware legs.
    "q180_exclusion_frontier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        withPlantedUrl(docs), "url")
      val pages = graft.ext.UrlOps.withMetaRobots(
        withPlantedRelPage(canon), "html")
      val links = graft.ext.UrlOps.extractOutlinksRel(pages, "doc_id",
          "html", "url_canon", "url", carry = Seq("meta_nofollow"))
        .filter(col("link_canon").isNotNull &&
          !col("link_nofollow") && !col("meta_nofollow"))
      val linkCand = links.groupBy(col("link_canon"), col("link_host"))
        .agg(min(col("doc_id")).as("found_by"))
        .withColumn("lastmod", lit(""))
      val declared = graft.ext.UrlOps.parseRobotsSitemaps(
          plantedRobotsTxt(docs), "host", "txt")
        .filter(col("in_scope"))
      val smCand = graft.ext.UrlOps.parseSitemap(
          plantedRobotsSitemapBodies(declared), "sm_host", "xml")
        .filter(col("in_scope"))
        .groupBy(col("url_canon").as("link_canon"),
          col("url_host").as("link_host"))
        .agg(max(col("lastmod")).as("lastmod"))
        .withColumn("found_by", lit(-4L))
      val cand = linkCand.unionByName(smCand)
        .groupBy(col("link_canon"), col("link_host"))
        .agg(min(col("found_by")).as("found_by"),
          max(col("lastmod")).as("lastmod"))
      recencyBudget(docs, cand, fetchedSeen(canon), Seq("found_by"),
          "2026-02-10")
        .orderBy("link_host", "rank")
    }),

    // ---- throttle-aware fetch schedule (oracle-checked): q178's
    // Retry-After aggregate CONSUMED — the q160 politeness slots
    // pushed past each host's armed hold: fetch_at = hold +
    // (rank−1)·delay. The first fetch waits out the origin's explicit
    // throttle; spacing stays at the crawl-delay tier; un-throttled
    // hosts (and hosts whose throttles were all malformed/bare) hold
    // 0. Both side tables pruned to the frontier's hosts before the
    // broadcast (UrlOps.throttledSchedule).
    "q181_throttled_schedule" -> ((s, dir) => {
      throttledFrontier(s, dir)
        .select(col("link_host"), col("rank"), col("url_canon"),
          col("depth"), col("found_by"), col("fetch_at_micros"))
        .orderBy("link_host", "rank")
    }),

    // ---- declared-vs-detected language census (oracle-checked): the
    // language-filtering tier of a training pipeline should not trust
    // any single channel — pages declare a language in-document
    // (<html lang>, BCP 47) and in transport (Content-Language), and
    // the engine detects one from the text. This census reconciles
    // all three per (labeled, declared, detected) cell: in-document
    // beats transport (the HTML-spec precedence), region subtags
    // normalize to the primary (`EN-XX` declares `en`), conflicts
    // between channels and declared-vs-detected disagreements are
    // counted — the cells a curation pass would route to review. One
    // projection + one map-side-combining aggregate.
    "q182_declared_language" -> ((s, dir) =>
      declaredLanguageRows(s, dir)
        .groupBy(col("labeled_lang"), col("declared_lang"),
          col("predicted_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("declared_html") =!= "" &&
            col("declared_http") =!= "" &&
            col("declared_html") =!= col("declared_http"), 1L)
            .otherwise(0L)).as("n_channel_conflicts"))
        .withColumn("declared_mismatch",
          col("declared_lang") =!= "" &&
            col("declared_lang") =!= col("predicted_lang"))
        .orderBy("labeled_lang", "declared_lang", "predicted_lang")),

    // ---- language-consistency curation gate (oracle-checked):
    // q182's verdicts CONSUMED as a keep/drop rule — a curation pass
    // keeps a document when nothing was declared (no channel to
    // disagree with) or the declaration matches the detector;
    // declared-vs-detected conflicts are exactly the mislabeled/
    // mojibake/template-misconfigured pages a multilingual corpus
    // must route out. Per labeled language: in/kept/dropped counts
    // and the integer-micro kept ratio.
    "q191_language_gate" -> ((s, dir) =>
      declaredLanguageRows(s, dir)
        .withColumn("keep", col("declared_lang") === "" ||
          col("declared_lang") === col("predicted_lang"))
        .groupBy(col("labeled_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
        .withColumn("kept_ratio_micro",
          expr("(1000000 * n_kept) div n_docs"))
        .orderBy("labeled_lang")),

    // ---- hreflang alternate clusters (oracle-checked): how
    // multilingual sites declare their translations — the standard
    // PARALLEL-CORPUS mining signal (aligned pairs come from exactly
    // these clusters) and a cross-language dedup hint. Whole-tag
    // harvest (attributes appear in any order), rel TOKEN membership,
    // hreflang lowercased with primary-subtag normalization (DE-AT
    // declares de), the x-default catch-all flagged (not a language),
    // targets resolved + canonicalized through the native walk,
    // cross-host alternates flagged (the sitemap scope discipline).
    // Stylesheet decoys and hreflang-less feed alternates contribute
    // nothing. One projection + one generator.
    "q183_hreflang_alternates" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        withPlantedUrl(docs), "url")
      graft.ext.UrlOps.extractHreflang(
          withPlantedHreflangPage(canon), "doc_id", "html",
          "url_canon", "url")
        .filter(col("alt_canon").isNotNull)
        .select(col("doc_id"), col("hreflang"),
          col("hreflang_primary"), col("is_default"), col("alt_canon"),
          (col("alt_host") === regexp_extract(col("base_canon"),
            "^[a-z][a-z0-9+.-]*://([^/?]*)", 1)).as("in_host"))
        .orderBy("doc_id", "hreflang", "alt_canon")
    }),

    // ---- reciprocal translation pairs (oracle-checked): q183's
    // signal CONSUMED — the actual parallel-corpus miner. A declared
    // alternate is only a translation-pair candidate when it's
    // VALIDATED: the target page exists and declares the source back
    // (the return-link rule real pipelines apply — anyone can claim
    // to be a translation of anyone). One distinct edge projection,
    // one self-equi-join for reciprocity (left_semi on the reversed
    // key pair), two joins to attach page languages, unordered pairs
    // emitted once. Dangling declarations (the cluster's missing
    // languages) and self-edges drop out structurally. 100 TB shape:
    // hash joins on uniform canonical-URL keys, no skew surface —
    // clusters are language-count-sized.
    "q184_translation_pairs" -> ((s, dir) => {
      // pages is consumed three times (edge harvest + both language
      // attaches) and edges twice (both reciprocity sides): cut the
      // plan at the TINY relations (≤ hosts×clusters×languages rows)
      // — the q170/q130 localCheckpoint discipline
      val pages = graft.ext.UrlOps.withCanonicalUrl(
          withPlantedVariantPages(t(s, dir, "documents")), "url")
        .localCheckpoint()
      val edges = graft.ext.UrlOps.extractHreflang(pages, "doc_id",
          "html", "url_canon", "url")
        .filter(col("alt_canon").isNotNull)
        .select(col("base_canon").as("src"), col("alt_canon").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint()
      val recip = edges.join(
        edges.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      val pg = pages.select(col("url_canon"), col("lang"))
      recip
        .join(pg.select(col("url_canon").as("src"),
          col("lang").as("src_lang")), Seq("src"))
        .join(pg.select(col("url_canon").as("dst"),
          col("lang").as("dst_lang")), Seq("dst"))
        .filter(col("src") < col("dst"))
        .select(col("src"), col("src_lang"), col("dst"),
          col("dst_lang"))
        .orderBy("src", "dst")
    }),

    // ---- authority-weighted fetch order (oracle-checked): q155's
    // PageRank CONSUMED by the scheduler — a budget-constrained
    // crawler spends its next fetches on the highest-authority hosts
    // first. Authority comes from the PERSISTED artifact
    // (graft.ext.Graph.writePageRank — trained once per session,
    // probed here; probe ≡ retrain is spec-pinned and fsck'd): the
    // per-host frontier budgets (q154) join the stored host PageRank
    // (hosts outside the link graph rank at 0), and the GLOBAL order
    // is (pr_micro desc, host, per-host rank) truncated to the crawl
    // budget via distributed TakeOrderedAndProject — the rank window
    // touches only the k survivors (the q123 discipline, no global
    // window over the frontier).
    "q187_authority_fetch_order" -> ((s, dir) => {
      val pr = graft.ext.Graph.loadPageRank(
          s, hostPagerankArtifact(s, dir))
        .select(col("host").as("link_host"), col("pr_micro"))
      crawlFrontier(s, dir)
        .join(pr, Seq("link_host"), "left")
        .withColumn("pr_micro", coalesce(col("pr_micro"), lit(0L)))
        .orderBy(col("pr_micro").desc, col("link_host"), col("rank"))
        .limit(20)
        .withColumn("global_rank", row_number().over(Window.orderBy(
          col("pr_micro").desc, col("link_host"), col("rank"))))
        .select(col("global_rank"), col("link_host"), col("pr_micro"),
          col("rank"), col("url_canon"))
        .orderBy("global_rank")
    }),

    // ---- robots-cache TTL gate (oracle-checked): RFC 9309 §2.4 —
    // cached robots.txt MAY be used up to 24 hours; a scheduler about
    // to spend budget on a host whose cached robots is OLDER must
    // refetch robots FIRST (fetching on expired permissions is the
    // compliance bug; refetching robots for hosts with no scheduled
    // work is waste). The age flows through the REAL persisted cache
    // (graft.ext.RobotsCache): per budgeted host a robots fetch event
    // (fetched_at planted deterministically per host digit against
    // the q178 as-of clock) is parsed+written to the cache tables,
    // and the gate reads the age back from the STORED fetch
    // timestamps — the artifact the crawl loop and frontierStream
    // maintain, not an in-plan replant. Per budgeted host: cache age,
    // stale flag, scheduled-fetch count, action. One aggregate over
    // the q154 budget + the host-sized cache read.
    "q188_robots_ttl_gate" -> ((s, dir) => {
      val fr = crawlFrontier(s, dir)
      val budget = fr.groupBy(col("link_host"))
        .agg(count(lit(1)).as("n_budgeted"))
      graft.ext.RobotsCache.ttlGate(s, budget, "link_host",
          robotsCacheArtifact(s, dir), Q178AsOfMicros)
        .select(col("link_host"), col("n_budgeted"),
          col("robots_age_hours"), col("robots_stale"), col("action"))
        .orderBy("link_host")
    }),

    // ---- THE CRAWL CYCLE, end to end (oracle-checked): one cycle of
    // a production crawl loop as ONE composed plan, every leg a
    // shipped operator — the q154 frontier ranked per host, the q181
    // throttle-aware schedule (robots crawl-delay floor + armed
    // Retry-After), the q188 robots-TTL gate read back from the REAL
    // persisted cache (stale hosts spend the cycle refetching robots;
    // their scheduled fetches hold), a deterministic fetch simulation
    // over the gated schedule (200/304/404/503 classes from the URL,
    // bodies the q149 page generator), the q172 revisit-CDC merge of
    // the answers into a cycle corpus (known URLs upsert/revalidate/
    // tombstone, unknown 200s insert, unknown errors merge nothing,
    // unvisited rows ride untouched), and the q149 extract→repair→
    // quality→canonical funnel over the fetched bodies. One row per
    // scheduled URL carrying every leg's verdict. The merge corpus is
    // seeded from the schedule itself (every third URL pre-known, every
    // sixth tombstoned) so all CDC classes are exercised on real keys.
    "q192_crawl_cycle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // legs 1+2: frontier → throttle-aware schedule (q181's)
      val sched = throttledFrontier(s, dir)
        .localCheckpoint() // feeds gate, corpus, sim AND the output
      // leg 3: the robots-TTL gate, ages from the persisted cache
      val budget = sched.groupBy(col("link_host"))
        .agg(count(lit(1)).as("n_budgeted"))
      val gate = graft.ext.RobotsCache.ttlGate(s, budget, "link_host",
          robotsCacheArtifact(s, dir), Q178AsOfMicros)
        .select(col("link_host"), col("robots_age_hours"), col("action"))
      val gs = sched.join(gate, Seq("link_host"))
      val len = length(col("url_canon")).cast("long")
      // the cycle corpus: every third scheduled URL is already known
      // (every sixth tombstoned) — gated hosts' rows ride unvisited
      val corpus = gs.filter(len % 3 === 0)
        .select(col("url_canon"),
          concat(lit("stale content of "), col("url_canon")).as("body"),
          lit("2026-01-01").as("first_fetched"),
          lit("2026-01-15").as("last_validated"),
          (len % 6 =!= 0).as("is_active"))
      // leg 4: deterministic fetch simulation, proceed hosts only.
      // fetch_id is the global url_canon rank assigned TWO-PHASE
      // (range partitions + per-partition row_number + offsets —
      // Normalize.globalRowNumberScalable): the old single Window over
      // every proceed URL was the engine's one corpus-sized
      // no-partition window (r16 verdict item 4 — a one-task funnel at
      // scale). url_canon is unique here (per-host ranked frontier
      // rows), so the two-phase ids are exactly the old ranks.
      val fetchable = graft.ops.Normalize.globalRowNumberScalable(
          gs.filter(col("action") === "proceed"), Seq("url_canon"),
          "fetch_id")
        .withColumn("known", len % 3 === 0)
        .withColumn("sim_status",
          when(col("known") && len % 7 === 2, 304L)
            .when(len % 7 === 0, 404L)
            .when(len % 7 === 1, 503L)
            .otherwise(200L))
        .localCheckpoint() // feeds bodies, answers AND the output
      val bodies = fetchable.filter(col("sim_status") === 200L)
        .select(col("fetch_id").as("doc_id"),
          concat(lit("crawl cycle fetch of "), col("url_canon"))
            .as("text"),
          col("url_canon"))
        .withColumn("html", q149PageHtml)
        .localCheckpoint() // feeds the merge answers AND the funnel
      // leg 5: the revisit-CDC merge (q172's shipped operator)
      val answers = fetchable
        .join(bodies.select(col("url_canon"), col("html")),
          Seq("url_canon"), "left")
        .select(col("url_canon"), col("sim_status").as("http_status"),
          when(col("sim_status") === 200L, col("html")).as("http_body"))
      val merged = graft.ext.UrlOps.revisitMerge(corpus, answers,
        "url_canon", "http_status", "http_body", "body",
        lit("2026-02-10"))
      // leg 6: the q149 funnel over the fetched bodies
      val fun = funnelFromPages(bodies.select(col("doc_id"), col("html")))
        .select(col("doc_id").as("fetch_id"), col("blocks_kept"),
          col("kept").as("funnel_kept"), col("is_canonical"))
      gs.join(fetchable.select(col("url_canon"), col("fetch_id"),
          col("sim_status")), Seq("url_canon"), "left")
        .join(merged.select(col("url_canon"), col("is_active"),
          col("body_changed"), col("last_validated"),
          md5(col("body")).as("body_md5")), Seq("url_canon"), "left")
        .join(fun, Seq("fetch_id"), "left")
        .select(col("link_host"), col("rank"), col("url_canon"),
          col("fetch_at_micros"), col("robots_age_hours"), col("action"),
          col("sim_status"), col("is_active"), col("body_changed"),
          col("last_validated"), col("body_md5"), col("blocks_kept"),
          col("funnel_kept"), col("is_canonical"))
        .orderBy("link_host", "rank")
    }),

    // ---- THE URL IDENTITY LAYER (oracle-checked): what dedup should
    // actually key on — ONE identity per resource, reconciling every
    // aliasing mechanism the engine extracts: 3xx redirect finals
    // (q167's resolution), in-host declared canonicals (q170's pull;
    // cross-host declarations ignored — the hijack vector), and
    // syntactic canonicalization (q150's tracking/port/www strip).
    // Precedence: the origin's protocol-level answer (redirect) beats
    // its in-document hint (canonical) beats spelling. At 100 TB this
    // is the layer content dedup keys on — without it each alias
    // class leaks duplicate fetches into the corpus. One left join of
    // the thin redirect relation + the canonical-pull projection +
    // one map-side-combining aggregate on the identity key.
    "q186_url_identity" -> ((s, dir) =>
      urlIdentityRows(s, dir)
        .groupBy(col("identity"))
        .agg(count(lit(1)).as("n_variants"),
          min(col("doc_id")).as("keeper_doc"),
          sum(when(col("final_url").isNotNull, 1L).otherwise(0L))
            .as("n_redirected"),
          sum(when(col("final_url").isNull && col("decl_ok"), 1L)
            .otherwise(0L)).as("n_declared"),
          sum(when(col("url_had_tracking"), 1L).otherwise(0L))
            .as("n_syntactic"))
        .orderBy("identity")),

    // ---- identity-divergence census (oracle-checked): q186's key
    // CONSUMED by content QA — aliases of one resource should serve
    // ONE content; an identity whose 200-variants carry different
    // body hashes signals canonical abuse, staleness between aliases,
    // or a soft-404 (the parked-page regime). Per identity: variant
    // count, distinct 200-body hashes (redirect members carry none),
    // and the divergence flag. The plant's in-host declared variants
    // serve different bodies than their heads (divergent clusters);
    // trap singletons and redirect-only pairs stay clean. Same legs +
    // one md5 projection + one map-side-combining aggregate.
    "q190_identity_divergence" -> ((s, dir) =>
      urlIdentityRows(s, dir)
        .withColumn("body_md5", when(col("http_status") === 200L,
          md5(col("http_body"))))
        .groupBy(col("identity"))
        .agg(count(lit(1)).as("n_variants"),
          countDistinct(col("body_md5")).as("n_content_hashes"))
        .withColumn("divergent", col("n_content_hashes") > 1L)
        .orderBy("identity")),

    // ---- THE unified frontier (oracle-checked): every discovery
    // source in ONE ranked queue — page outlinks, sitemap <url>
    // entries, child-sitemap entries via the index recursion, and
    // resolved redirect finals — deduped on the canonical URL with
    // min-found_by provenance and freshest lastmod, anti-joined
    // against BOTH fetched universes, robots-verdicted, and budgeted
    // per host by the recency-packed graft_top_k. The capstone of the
    // crawl family: every leg is the shipped operator and the oracle
    // assembles all four families' shared CTE generators.
    "q173_unified_frontier" -> ((s, dir) => unifiedFrontier(s, dir)),

    // ---- crawl-corpus revisit merge (oracle-checked): what the
    // re-fetch cycle does with its answers — the crawl-side CDC merge
    // with PARTIAL batches and EXPLICIT dispositions: 200 upserts (and
    // flags body_changed so downstream re-processing can skip
    // byte-identical refreshes), 304 keeps the body and advances only
    // last_validated (reactivating — the origin just attested the page
    // exists), 404 tombstones, unvisited rows stay untouched, and a
    // non-200 of an unknown URL merges nothing. One full-outer
    // equi-join on the canonical URL key (UrlOps.revisitMerge);
    // injectable now (the F6 determinism discipline).
    "q172_revisit_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gated = graft.io.WarcIngest.withHttpResponse(
          withPlantedRevisitHttp(docs), "payload")
        .select(col("url").as("url_canon"), col("http_status"),
          col("http_body"))
      graft.ext.UrlOps.revisitMerge(plantedRevisitCorpus(docs), gated,
          "url_canon", "http_status", "http_body", "body",
          lit("2026-02-10"))
        .select(col("url_canon"), col("is_active"),
          md5(col("body")).as("body_md5"), col("first_fetched"),
          col("last_validated"), col("body_changed"))
        .orderBy("url_canon")
    }),

    // ---- revisit LOG state (oracle-checked): the deployment-scale
    // storage for the crawl corpus exercised through the CATALOG — the
    // q172 corpus bootstraps an append-only url-bucketed change log
    // (RevisitStream.initLog), the q172 revisit answers split into TWO
    // cycles by url parity (each applied via applyBatchLog at its own
    // clock — a batch-sized append against the touched-URL state
    // slice, never a corpus rewrite), and the output is the log's
    // latest-wins read (max-seq version per URL off one bucket-key
    // aggregate). The oracle replays the RESULT: the q172 merge CASE
    // with the per-cycle clock keyed by the same parity.
    "q193_revisit_log_state" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gated = graft.io.WarcIngest.withHttpResponse(
          withPlantedRevisitHttp(docs), "payload")
        .select(col("url").as("url_canon"), col("http_status"),
          col("http_body"))
      val table = "graft_revisit_log_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      graft.streaming.RevisitStream.initLog(
        plantedRevisitCorpus(docs), "url_canon", "body", table,
        nBuckets = 8)
      graft.streaming.RevisitStream.applyBatchLog(s,
        gated.filter(length(col("url_canon")) % 2 === 0),
        "url_canon", "http_status", "http_body", "body", table,
        seq = 1L, lit("2026-02-10"))
      graft.streaming.RevisitStream.applyBatchLog(s,
        gated.filter(length(col("url_canon")) % 2 === 1),
        "url_canon", "http_status", "http_body", "body", table,
        seq = 2L, lit("2026-02-17"))
      graft.streaming.RevisitStream.logState(s, table, "url_canon",
          "body")
        .select(col("url_canon"), col("is_active"),
          md5(col("body")).as("body_md5"), col("first_fetched"),
          col("last_validated"))
        .orderBy("url_canon")
    }),

    // ---- robots POLICY-DELTA detection (oracle-checked): what the
    // cache's append-only history exists to answer — when a refetch
    // lands, did the origin CHANGE its policy, and in which direction?
    // Per host with two recorded fetches, the rule-set diff between
    // the latest and previous fetch: additions, removals, and
    // TIGHTENINGS (added disallows — the direction that invalidates
    // queued verdicts, the re-verdict trigger). Hosts never refetched
    // emit nothing. The plant: every src host bootstraps with one
    // policy; digit%3==0 hosts tighten (drop /a, add /c /d),
    // digit%3==1 hosts loosen (add an Allow carve-out), digit%3==2
    // hosts never refetch. Two bucket-key max-aggregates + one
    // (host, rule) full-outer over short strings.
    "q194_robots_policy_delta" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val hosts = docs.select(concat(lit("src"),
          (col("doc_id") % 20).cast("string"), lit(".example.com"))
          .as("host")).distinct()
        .withColumn("digit",
          regexp_extract(col("host"), "src([0-9]+)\\.", 1).cast("long"))
        .localCheckpoint()
      // /b repeated: one logical rule (parse-fold array_distinct) —
      // the delta must count LOGICAL rules, so expected counts are
      // unchanged by the duplicate line
      val bodyA = "User-agent: *\nDisallow: /a\nDisallow: /b\nDisallow: /b"
      val f1 = hosts.select(col("host"),
        lit(Q178AsOfMicros - 30L * 3600000000L).as("fetched_at_micros"),
        lit(bodyA).as("robots_body"))
      val f2 = hosts.filter(col("digit") % 3 =!= 2)
        .select(col("host"),
          lit(Q178AsOfMicros - 2L * 3600000000L).as("fetched_at_micros"),
          when(col("digit") % 3 === 0,
            lit("User-agent: *\nDisallow: /b\nDisallow: /c\n" +
              "Disallow: /d"))
            .otherwise(lit(bodyA + "\nAllow: /a/ok"))
            .as("robots_body"))
      val table = "graft_robots_hist_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      graft.ext.RobotsCache.rebuild(f1, "host", "fetched_at_micros",
        "robots_body", table, nBuckets = 8)
      graft.ext.RobotsCache.refresh(f2, "host", "fetched_at_micros",
        "robots_body", table)
      graft.ext.RobotsCache.policyDelta(s, table)
        .select(col("host"), col("n_added"), col("n_removed"),
          col("n_tightened"), col("policy_changed"))
        .orderBy("host")
    }),

    // ---- mirror-collapsed frontier (oracle-checked): q195's
    // cross-host mirror pairs CONSUMED by the scheduler — a crawler
    // that detects a mirror clique should spend ONE host's fetch
    // budget on it, not five. Mirror edges (exact content equality
    // lifted to host pairs, capped self-join — Dedup.mirrorCandidates)
    // lift to connected COMPONENTS (pointer-jumping label propagation,
    // Graph.connectedComponents — pairs are not transitive, so the
    // clique closure is a component, not a pair filter), each
    // component collapses onto its min-host representative, and the
    // q154 per-host budget folds against it: the representative keeps
    // its budget, every other member is flagged a mirror duplicate
    // (the eviction the budget applies before graft_top_k re-ranks).
    // The plant: even src-hosts serve a shared mirrored corpus (the
    // clique the collapse must find — one budgeted representative),
    // everything else serves per-document unique bodies. At 100 TB the
    // edge relation is host-pair-sized (the capped hash join never
    // explodes), the component propagation runs on the host graph,
    // never the corpus — and the labeling is a PERSISTED artifact
    // (Graph.writeComponents, trained once per session, fsck'd by
    // auditComponents): the scheduler probes stored state, it never
    // retrains components per scheduling query.
    "q196_mirror_collapse" -> ((s, dir) => {
      val comp = graft.ext.Graph.loadComponents(
          s, mirrorComponentArtifact(s, dir))
        .select(col("id").as("link_host"),
          col("component").as("mirror_rep"))
      crawlFrontier(s, dir)
        .groupBy(col("link_host")).agg(count(lit(1)).as("n_budgeted"))
        .join(comp, Seq("link_host"), "left")
        .withColumn("mirror_rep",
          coalesce(col("mirror_rep"), col("link_host")))
        .withColumn("is_mirror_dup",
          col("mirror_rep") =!= col("link_host"))
        .orderBy("link_host")
    }),

    // ---- component-artifact LIFECYCLE closed (oracle-checked): the
    // drift trigger CONSUMED in the crawl loop — q196 probes a
    // persisted labeling; this query is what happens when a later
    // cycle DISCOVERS a new mirror member. Cycle 1 persists the
    // mirror host-hash relation and trains the labeling; cycle 2's
    // fetches reveal src1 (previously unique, budgeted as its own
    // representative) serving the mirrored corpus — a batch-sized
    // APPEND to the hash relation, never a corpus re-hash
    // (Dedup.appendMirrorHashes, the dedupAgainstCorpus shape). The
    // coverage drift check trips on the uncovered member and DRIVES
    // Graph.rebuildComponents (same layout, one call — the
    // Ivf.rebuildIndex pattern); only the rebuilt artifact evicts the
    // member from the frontier. Output: per budgeted host, both
    // labelings' dispositions and the eviction the rebuild unlocked —
    // probing the STALE artifact (rep_pre) reads src1 "not mirrored",
    // which is exactly the wasted fetch budget the drift check
    // exists to reclaim. q196/q198's own artifact is untouched.
    "q201_mirror_drift_rebuild" -> ((s, dir) => {
      val (pre, live) = mirrorRebuildArtifact(s, dir)
      val cPre = graft.ext.Graph.loadComponents(s, pre)
        .select(col("id").as("link_host"), col("component").as("__rp"))
      val cPost = graft.ext.Graph.loadComponents(s, live)
        .select(col("id").as("link_host"), col("component").as("__rq"))
      crawlFrontier(s, dir)
        .groupBy(col("link_host")).agg(count(lit(1)).as("n_budgeted"))
        .join(cPre, Seq("link_host"), "left")
        .join(cPost, Seq("link_host"), "left")
        .withColumn("rep_pre", coalesce(col("__rp"), col("link_host")))
        .withColumn("rep_post", coalesce(col("__rq"), col("link_host")))
        .withColumn("is_mirror_dup_pre",
          col("rep_pre") =!= col("link_host"))
        .withColumn("is_mirror_dup_post",
          col("rep_post") =!= col("link_host"))
        .withColumn("evicted_by_rebuild",
          col("is_mirror_dup_post") && !col("is_mirror_dup_pre"))
        .select(col("link_host"), col("n_budgeted"), col("rep_pre"),
          col("rep_post"), col("is_mirror_dup_pre"),
          col("is_mirror_dup_post"), col("evicted_by_rebuild"))
        .orderBy("link_host")
    }),

    // ---- authority drift→REBUILD (oracle-checked): q201's
    // lifecycle close applied to the PageRank family — the last
    // persisted artifact whose drift check had no consumed rebuild.
    // Cycle 1 trains the real host-graph authority and persists it;
    // cycle 2 discovers every source host linking to ONE new hub,
    // driftPageRank trips on the uncovered host, and the rebuild runs
    // BECAUSE it tripped (Graph.rebuildPageRank — trained iters/unit
    // and layout preserved). Output: per host in the union universe
    // both artifacts' authority and fetch-order positions — the stale
    // artifact reads the hottest hub as authority 0 (scheduled dead
    // last, the wasted cycle the drift check exists to surface); only
    // the rebuilt one promotes it. The window is over the HOST
    // relation (bounded, scheduler-sized at any corpus scale), never
    // documents.
    "q203_authority_drift_rebuild" -> ((s, dir) => {
      val (pre, live) = authorityRebuildArtifact(s, dir)
      val pPre = graft.ext.Graph.loadPageRank(s, pre)
        .select(col("host"), col("pr_micro").as("__pa"))
      val pPost = graft.ext.Graph.loadPageRank(s, live)
        .select(col("host"), col("pr_micro").as("pr_micro_post"))
      pPost.join(pPre, Seq("host"), "left")
        .withColumn("covered_pre", col("__pa").isNotNull)
        .withColumn("pr_micro_pre", coalesce(col("__pa"), lit(0L)))
        .withColumn("order_pre", row_number().over(Window.orderBy(
          col("pr_micro_pre").desc, col("host"))).cast("long"))
        .withColumn("order_post", row_number().over(Window.orderBy(
          col("pr_micro_post").desc, col("host"))).cast("long"))
        .withColumn("promoted_by_rebuild",
          !col("covered_pre") && col("order_post") < col("order_pre"))
        .select(col("host"), col("pr_micro_pre"), col("pr_micro_post"),
          col("covered_pre"), col("order_pre"), col("order_post"),
          col("promoted_by_rebuild"))
        .orderBy("host")
    }),

    // ---- the SCHEDULER'S decision row (oracle-checked): every
    // persisted artifact family consumed in ONE plan — per budgeted
    // host the robots-TTL gate verdict + served crawl delay (the
    // q188/q199 cache artifact), the mirror disposition (q196's
    // components artifact), the authority rank (q187's PageRank
    // artifact), and the composed decision: dispatch = the gate
    // proceeds AND the host is not a mirror duplicate, fetch order =
    // dispatched hosts by stored authority. This is the row a
    // production crawl worker asks for before spending budget; every
    // column here is a bucketed probe of maintained state — zero
    // training, zero corpus reads, host-sized joins throughout.
    "q204_scheduler_state" -> ((s, dir) => {
      val budget = crawlFrontier(s, dir).groupBy(col("link_host"))
        .agg(count(lit(1)).as("n_budgeted"))
      val gated = graft.ext.RobotsCache.ttlGate(s, budget, "link_host",
        robotsCacheArtifact(s, dir), Q178AsOfMicros)
      val delays = graft.ext.RobotsCache.latestDelays(s,
          robotsCacheArtifact(s, dir))
        .select(col("host").as("link_host"), col("crawl_delay_micros"))
      val comp = graft.ext.Graph.loadComponents(s,
          mirrorComponentArtifact(s, dir))
        .select(col("id").as("link_host"), col("component"))
      val pr = graft.ext.Graph.loadPageRank(s,
          hostPagerankArtifact(s, dir))
        .select(col("host").as("link_host"), col("pr_micro"))
      gated
        .join(delays, Seq("link_host"), "left")
        .join(comp, Seq("link_host"), "left")
        .join(pr, Seq("link_host"), "left")
        .withColumn("mirror_rep",
          coalesce(col("component"), col("link_host")))
        .withColumn("is_mirror_dup",
          col("mirror_rep") =!= col("link_host"))
        .withColumn("authority_micro",
          coalesce(col("pr_micro"), lit(0L)))
        .withColumn("dispatch",
          col("action") === "proceed" && !col("is_mirror_dup"))
        .withColumn("fetch_order", row_number().over(Window.orderBy(
          col("dispatch").desc, col("authority_micro").desc,
          col("link_host"))).cast("long"))
        .select(col("link_host"), col("n_budgeted"),
          col("robots_age_hours"), col("action"),
          col("crawl_delay_micros"), col("mirror_rep"),
          col("is_mirror_dup"), col("authority_micro"),
          col("dispatch"), col("fetch_order"))
        .orderBy("link_host")
    }),

    // ---- tightening RE-VERDICT (oracle-checked): q194's n_tightened
    // CONSUMED — a policy delta that adds disallows must re-verdict
    // the QUEUED frontier for those hosts and evict now-forbidden
    // URLs (fetching them on the superseded permission is the
    // compliance bug n_tightened exists to prevent). Every budgeted
    // host bootstraps the persisted cache with one policy; hosts
    // whose digit % 3 == 0 refetch a TIGHTENED one (Disallow: /Docs
    // added — matching most of their budgeted URLs). The frontier
    // semi-joins against the delta's tightened hosts (host-sized
    // broadcast), ONLY those rows re-run robotsVerdict under the
    // cache's latest rules, and the eviction flag marks what the
    // queue drops. Untightened hosts' verdicts stand — no re-verdict
    // work where policy did not tighten.
    "q197_tightening_reverdict" -> ((s, dir) => {
      val fr = crawlFrontier(s, dir).localCheckpoint()
      val hosts = fr.select(col("link_host").as("host")).distinct()
        .withColumn("digit", regexp_extract(col("host"),
          "^src([0-9]+)\\.", 1))
        .localCheckpoint()
      val f1 = hosts.select(col("host"),
        lit(Q178AsOfMicros - 30L * 3600000000L).as("fetched_at_micros"),
        lit("User-agent: *\nDisallow: /private").as("robots_body"))
      val f2 = hosts
        .filter(col("digit") =!= "" &&
          col("digit").cast("long") % 3 === 0)
        .select(col("host"),
          lit(Q178AsOfMicros - 2L * 3600000000L).as("fetched_at_micros"),
          lit("User-agent: *\nDisallow: /private\nDisallow: /Docs")
            .as("robots_body"))
      val table = "graft_robots_tight_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      graft.ext.RobotsCache.rebuild(f1, "host", "fetched_at_micros",
        "robots_body", table, nBuckets = 8)
      graft.ext.RobotsCache.refresh(f2, "host", "fetched_at_micros",
        "robots_body", table)
      // host-sized and consumed three times (semi-join prune, the
      // output's left join, and inside the re-verdict's lineage) —
      // cut the plan here or the whole delta subtree triplicates
      val tightened = graft.ext.RobotsCache.policyDelta(s, table)
        .filter(col("n_tightened") > 0)
        .select(col("host").as("link_host"), col("n_tightened"))
        .localCheckpoint()
      val recheck = fr.join(broadcast(tightened), Seq("link_host"),
        "left_semi")
      val rev = graft.ext.UrlOps.robotsVerdict(recheck, "url_canon",
          "url_canon", graft.ext.RobotsCache.latestRules(s, table))
        .select(col("url_canon"), col("fetch_allowed"))
      fr.join(broadcast(tightened), Seq("link_host"), "left")
        .join(rev, Seq("url_canon"), "left")
        .withColumn("n_tightened", coalesce(col("n_tightened"), lit(0L)))
        .withColumn("re_verdicted", col("n_tightened") > 0)
        .withColumn("fetch_allowed",
          coalesce(col("fetch_allowed"), lit(true)))
        .withColumn("evicted",
          col("re_verdicted") && !col("fetch_allowed"))
        .select(col("link_host"), col("rank"), col("url_canon"),
          col("n_tightened"), col("re_verdicted"), col("fetch_allowed"),
          col("evicted"))
        .orderBy("link_host", "rank")
    }),

    // ---- CRAWL CYCLE TWO (oracle-checked): the loop is a FIXPOINT
    // over the persisted artifacts — cycle 2 consumes nothing but what
    // cycle 1 STORED. Legs: (1) the mirror-collapsed frontier (q196's
    // components evict duplicate hosts before any budget is spent);
    // (2) cycle 1's robots-TTL gate over a persisted cache — stale
    // hosts spend cycle 1 refetching robots, their fetches hold;
    // (3) cycle 1's fetch answers land in the q193 revisit LOG
    // (seq 1 — a batch-sized append, the storage that carries state
    // between cycles); (4) the held hosts' robots refetches land in
    // the cache (the action the gate ordered); (5) cycle 2 gates ONE
    // HOUR LATER against the refreshed cache — every host now
    // proceeds, including the formerly-stale ones; (6) cycle 2
    // revisits the whole collapsed schedule (fresh status classes:
    // 304 revalidations, 404 tombstones, 200 body changes, and
    // non-200s of unknown URLs that must merge nothing) as the log's
    // seq-2 append. Output: per scheduled URL both cycles' gate
    // actions, the cycle-2 disposition, and the LOG's latest-wins
    // state — every column a read of a persisted artifact or the
    // schedule that fed it.
    "q198_crawl_cycle2" -> ((s, dir) => {
      val dirkey = dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      // leg 1: the mirror-component ARTIFACT (q196's persisted
      // labeling) collapses the frontier
      val fr = q198CollapsedFrontier(s, dir)
        .localCheckpoint() // feeds cache plant, corpus, both cycles, output
      // leg 2: cycle-1 TTL gate over q198's OWN cache artifact (the
      // shared q188/q192 artifact must stay byte-identical)
      val rtable = s"graft_c2_robots_$dirkey"
      val budget = fr.groupBy(col("link_host"))
        .agg(count(lit(1)).as("n_budgeted"))
      val digit = regexp_extract(col("link_host"),
        "([0-9])\\.example\\.", 1)
      val ageHours = lit(5L) +
        coalesce(nullif(digit, lit("")), lit("0")).cast("long") * 5L
      graft.ext.RobotsCache.rebuild(
        budget.select(col("link_host").as("host"),
          (lit(Q178AsOfMicros) - ageHours * 3600000000L)
            .as("fetched_at_micros"),
          lit("User-agent: *\nDisallow: /private").as("robots_body")),
        "host", "fetched_at_micros", "robots_body", rtable, nBuckets = 8)
      val gate1 = graft.ext.RobotsCache.ttlGate(s, budget, "link_host",
          rtable, Q178AsOfMicros)
        .select(col("link_host"), col("action").as("action_c1"))
      val sch = fr.join(gate1, Seq("link_host")).localCheckpoint()
      // leg 3: cycle-1 fetch sim (q192's status classes) → the revisit
      // log bootstraps from the cycle corpus and takes seq 1
      val len = length(col("url_canon")).cast("long")
      val ltable = s"graft_c2_log_$dirkey"
      graft.streaming.RevisitStream.initLog(
        sch.filter(len % 3 === 0)
          .select(col("url_canon"),
            concat(lit("stale content of "), col("url_canon")).as("body"),
            lit("2026-01-01").as("first_fetched"),
            lit("2026-01-15").as("last_validated"),
            (len % 6 =!= 0).as("is_active")),
        "url_canon", "body", ltable, nBuckets = 8)
      val st1 = when(len % 3 === 0 && len % 7 === 2, 304L)
        .when(len % 7 === 0, 404L).when(len % 7 === 1, 503L)
        .otherwise(200L)
      val ans1 = sch.filter(col("action_c1") === "proceed")
        .select(col("url_canon"), st1.as("http_status"))
        .withColumn("http_body", when(col("http_status") === 200L,
          concat(lit("cycle one fetch of "), col("url_canon"))))
      // legs 3 and 4 touch DISJOINT artifacts (the revisit log vs the
      // robots cache) and share only the already-materialized sch/gate1
      // — submit the seq-1 log append and the robots refetch
      // concurrently (§2.6) instead of back to back; cycle 2 then waits
      // on both, exactly as before
      graft.ext.Warehouse.inParallel(
        graft.streaming.RevisitStream.applyBatchLog(s, ans1, "url_canon",
          "http_status", "http_body", "body", ltable, seq = 1L,
          lit("2026-02-10")),
        // leg 4: the gate's order executed — held hosts refetch robots
        graft.ext.RobotsCache.refresh(
          gate1.filter(col("action_c1") === "refetch_robots_first")
            .select(col("link_host").as("host"),
              lit(Q178AsOfMicros).as("fetched_at_micros"),
              lit("User-agent: *\nDisallow: /private").as("robots_body")),
          "host", "fetched_at_micros", "robots_body", rtable))
      // leg 5: cycle 2 gates an hour later against the refreshed cache
      val gate2 = graft.ext.RobotsCache.ttlGate(s, budget, "link_host",
          rtable, Q178AsOfMicros + 3600000000L)
        .select(col("link_host"), col("action").as("action_c2"))
      // leg 6: cycle-2 revisits (fresh classes) — the log's seq 2
      val st2 = when(len % 5 === 0, 304L).when(len % 5 === 1, 404L)
        .when(len % 5 === 2, 503L).otherwise(200L)
      val ans2 = sch.join(gate2, Seq("link_host"))
        .filter(col("action_c2") === "proceed")
        .select(col("url_canon"), st2.as("http_status"))
        .withColumn("http_body", when(col("http_status") === 200L,
          concat(lit("cycle two fetch of "), col("url_canon"))))
      graft.streaming.RevisitStream.applyBatchLog(s, ans2, "url_canon",
        "http_status", "http_body", "body", ltable, seq = 2L,
        lit("2026-02-17"))
      // the cycle-2 state of the corpus: the log's latest-wins read
      val state = graft.streaming.RevisitStream.logState(s, ltable,
        "url_canon", "body")
      sch.join(gate2, Seq("link_host"))
        .withColumn("sim_status_c2", st2)
        .join(state.select(col("url_canon"), col("is_active"),
          md5(col("body")).as("body_md5"), col("first_fetched"),
          col("last_validated")), Seq("url_canon"), "left")
        .select(col("link_host"), col("rank"), col("url_canon"),
          col("action_c1"), col("action_c2"), col("sim_status_c2"),
          col("is_active"), col("body_md5"), col("first_fetched"),
          col("last_validated"))
        .orderBy("link_host", "rank")
    }),

    // ---- sitemap-index RECURSION capstone (oracle-checked): the loop
    // q164 opened, closed — the in-scope child queue feeds simulated
    // child fetches whose bodies run back through the SAME <url>
    // parser, and the discovered URLs run the full frontier tail:
    // canonicalization (a messy child entry collapses onto a fetched
    // seed and anti-joins away), robots verdict (disallow-all hosts
    // drop out), and the recency-bucketed per-host graft_top_k budget.
    // q157/q162/q164 hashes unchanged — the child bodies are a new
    // generator over q164's output, not a plant edit.
    "q171_sitemap_recursion" -> ((s, dir) =>
      sitemapRecursionFrontier(s, dir)),

    // ---- declared-canonical dedup pick (oracle-checked): the
    // pre-content-hash dedup hint — variant URLs (session ids, print
    // views) declare one canonical via <link rel="canonical">, and the
    // exact-dup pick honors the site's own statement: an in-host
    // declaration naming a group member wins over min-id; cross-host
    // declarations are ignored and non-member targets fall back. The
    // verdict computes on thin (id, url, decl, hash) projections with
    // min() aggregates — no window, payloads never ride a
    // content-keyed exchange (UrlOps.withDeclaredCanonical +
    // Dedup.declaredCanonicalPick).
    "q170_declared_canonical" -> ((s, dir) => {
      val pages = withPlantedCanonicalDecl(t(s, dir, "documents"))
      val withDecl = graft.ext.UrlOps.withDeclaredCanonical(
        pages, "html", "url", "url")
      val hashed = withDecl.withColumn("content_hash", md5(col("g_txt")))
      graft.ext.Dedup.declaredCanonicalPick(hashed, "doc_id", "url",
          "decl_canon", "content_hash")
        .select(col("doc_id"), col("url").as("url_canon"),
          coalesce(col("decl_canon"), lit("")).as("decl_canon"),
          col("canonical_id"), col("cluster_size"), col("is_canonical"))
        .orderBy("doc_id")
    }),

    // ---- conditional re-fetch schedule (oracle-checked): the
    // consumer of the ETag/Last-Modified validators the HTTP gate now
    // extracts — a crawl's RE-fetch queue ranks already-fetched pages
    // by header-attested age (strict IMF-fixdate → ISO → the SAME
    // 30-day recencyBucket as sitemap lastmod; malformed dates rank
    // unknown, never mis-parse) and carries the ETag so the fetch can
    // send If-None-Match and spend a 304 instead of a body. Per-host
    // graft_top_k budget (O(k) state, map-side combine) ordered
    // (age bucket ASC, url ASC) — fresh pages re-crawl first.
    "q169_refetch_schedule" -> ((s, dir) => {
      val gated = graft.io.WarcIngest.withHttpResponse(
        withPlantedConditionalHttp(t(s, dir, "documents")), "payload")
      val sched = gated.filter(col("is_fetch_content"))
        .withColumn("lastmod_iso", graft.ext.UrlOps.httpDateToIso(
          col("http_last_modified")))
        .withColumn("age_bucket", graft.ext.UrlOps.recencyBucket(
          col("lastmod_iso"), "2026-02-10"))
        .withColumn("host", regexp_extract(col("url"),
          "^[a-z][a-z0-9+.-]*://([^/?]*)", 1))
        .withColumn("has_validator",
          // rides the budget payload as 0/1 (graft_top_k structs are
          // int/string-typed), back to boolean in the final select
          when(col("http_etag") =!= "" || col("lastmod_iso") =!= "",
            1L).otherwise(0L))
      sched.groupBy(col("host"))
        .agg(call_function("graft_top_k",
          -col("age_bucket").cast("double"),
          struct(col("url"), col("http_etag"), col("has_validator")),
          lit(3)).as("top"))
        .select(col("host"), posexplode(col("top")).as(Seq("pos", "s")))
        .select(col("host"),
          (col("pos") + 1).cast("long").as("rank"),
          col("s.payload.url").as("url_canon"),
          (-col("s.ord")).cast("long").as("age_bucket"),
          col("s.payload.http_etag").as("etag"),
          (col("s.payload.has_validator") === 1L).as("has_validator"))
        .orderBy("host", "rank")
    }),

    // ---- redirect-chain resolution (oracle-checked): the consumer of
    // q163's http_location signal — ~6% of real fetches answer 30x, and
    // a frontier that doesn't follow them dead-ends that share of the
    // crawl. Bounded-hop iterative resolution in canonical space
    // (relative Locations resolve through the same native walk as an
    // href), visited-set loop detection (A→B→A and self-redirects flag
    // without burning the cap), hop-cap give-up class
    // (UrlOps.resolveRedirects; thin (src,dst) edges localCheckpointed
    // once, each round one equi-join of the shrinking state).
    "q167_redirect_chains" -> ((s, dir) => {
      val gated = graft.io.WarcIngest.withHttpResponse(
        withPlantedRedirectHttp(t(s, dir, "documents")), "payload")
      graft.ext.UrlOps.resolveRedirects(gated, "url",
          "http_status", "http_location", maxHops = 3)
        .orderBy("start_url")
    }),

    // ---- redirect-fed frontier candidates (oracle-checked): resolved
    // redirect finals become frontier candidates keyed by their FINAL
    // canonical URL — many chains collapsing onto one target enqueue it
    // ONCE (n_sources counts the collapsed chains), and finals that are
    // already-fetched URLs anti-join away entirely, so the crawl never
    // re-enqueues a page under a pre-redirect alias. Only the dangling
    // finals (the per-host /moved/home target, the id-boundary
    // overflow) survive into the queue.
    "q168_redirect_frontier" -> ((s, dir) => {
      val gated = graft.io.WarcIngest.withHttpResponse(
        withPlantedRedirectHttp(t(s, dir, "documents")), "payload")
      val resolved = graft.ext.UrlOps.resolveRedirects(gated, "url",
          "http_status", "http_location", maxHops = 3)
        .filter(col("status") === "resolved")
      val cand = resolved
        .join(gated.select(col("url").as("start_url"), col("doc_id")),
          "start_url")
        .groupBy(col("final_url").as("url_canon"))
        .agg(min(col("doc_id")).as("found_by"),
          count(lit(1)).as("n_sources"))
      cand.join(gated.select(col("url").as("url_canon")).distinct(),
          Seq("url_canon"), "left_anti")
        .withColumn("link_host", regexp_extract(col("url_canon"),
          "^[a-z][a-z0-9+.-]*://([^/?]*)", 1))
        .select(col("link_host"), col("url_canon"), col("found_by"),
          col("n_sources"))
        .orderBy("link_host", "url_canon")
    }),

    // ---- DECLARED-charset decode (oracle-checked): the decode step
    // between the byte-view WARC tier and the text tier — http_charset
    // extracted from Content-Type (case-insensitive, optional quotes),
    // the body decoded per declaration (UTF-8 / ISO-8859-1 /
    // windows-1252; undeclared and unknown default to UTF-8) by the
    // native graft_charset_decode projection. The oracle independently
    // rebuilds the RAW byte view (raw_md5 pins the plant) and pins the
    // decode against the EXPECTED sample text (decoded_md5) — a decoder
    // that mangles any class hash-mismatches; roundtrip_ok carries the
    // assertion live in the output.
    "q166_charset_decode" -> ((s, dir) => {
      val safe = regexp_replace(
        substring(col("text"), 1, 60), "[^ -~]", "")
      val expected = concat(
        when(col("doc_id") % 4 === 1, lit(CharsetSampleL))
          .when(col("doc_id") % 4 === 2, lit(CharsetSampleW))
          .otherwise(lit(CharsetSampleU)), safe)
      val gated = graft.io.WarcIngest.withHttpResponse(
        withPlantedCharsetHttp(t(s, dir, "documents")), "payload")
      gated
        .withColumn("decoded", graft.io.WarcIngest.decodeBodyCharset(
          col("http_body"), col("http_charset")))
        .select(col("doc_id"), col("http_charset"),
          md5(col("http_body")).as("raw_md5"),
          md5(col("decoded")).as("decoded_md5"),
          (col("decoded") === expected).as("roundtrip_ok"))
        .orderBy("doc_id")
    }),

    // ---- HTTP response gate (oracle-checked): the admission check
    // between the WARC record tier and the crawl funnel — status-line
    // code, Content-Type media type (case-insensitive, parameters
    // stripped), Location (the redirect signal), the body split at the
    // first blank CRLF, and the funnel predicate 200 ∧ text/html.
    // q159 admits every response payload blindly; a real crawl's
    // responses are 404s, redirects, PDFs and garbage — this is the
    // operator that keeps them out (WarcIngest.withHttpResponse, one
    // zero-shuffle projection; bodies pruned wherever unused).
    "q163_http_response_gate" -> ((s, dir) => {
      graft.io.WarcIngest.withHttpResponse(
          withPlantedHttp(t(s, dir, "documents")), "payload")
        .select(col("doc_id"), col("http_status"),
          col("http_media_type"), col("http_location"),
          col("is_fetch_content"),
          when(col("http_body").isNotNull, md5(col("http_body")))
            .as("body_md5"))
        .orderBy("doc_id")
    }),

    // ---- sitemap INDEX parsing (oracle-checked): the <sitemap>
    // entries the <url> parser deliberately ignores are the CHILD
    // fetch queue — a large site's sitemap.xml is an index of
    // per-section child sitemaps; never parsing it means never seeing
    // the site's URLs. Same one-projection + one-explode harvest,
    // canonicalized child URLs, lastmod as the re-fetch signal,
    // cross-host entries scope-flagged (UrlOps.parseSitemapIndex).
    "q164_sitemap_index" -> ((s, dir) => {
      graft.ext.UrlOps.parseSitemapIndex(
          plantedSitemaps(t(s, dir, "documents")), "host", "xml")
        .select(col("sitemap_host"), col("url_canon"), col("url_host"),
          col("lastmod"), col("had_lastmod"), col("in_scope"))
        .orderBy("sitemap_host", "url_canon")
    }),

    // ---- crawl-health census from raw archives (oracle-checked):
    // q158's record parse feeding q163's HTTP gate in ONE plan — the
    // monitoring table a crawl operator actually watches: per (status,
    // media type) the response count and how many pass the funnel
    // gate. Planted archives wrap the five q163 response classes in
    // WARC framing (the declared-length metadata fault of q158 rides
    // along untouched); archives die in the split, payloads die in
    // the gate projection, the census is one map-side-combining agg
    // over two short strings.
    "q165_warc_health_census" -> ((s, dir) => {
      val parsed = graft.io.WarcIngest.parseWarcRecords(
        plantedWarc(withPlantedHttp(t(s, dir, "documents"))
            .withColumnRenamed("payload", "__http"),
          httpPayload = col("__http")), "doc_id", "txt")
      graft.io.WarcIngest.withHttpResponse(
          parsed.filter(col("warc_type") === "response" &&
            col("length_matches")), "payload")
        .groupBy(col("http_status"), col("http_media_type"))
        .agg(count(lit(1)).as("n_responses"),
          sum(when(col("is_fetch_content"), 1L).otherwise(0L))
            .as("n_fetchable"))
        .orderBy("http_status", "http_media_type")
    }),

    // ---- recency-ranked crawl frontier (oracle-checked): q154's
    // capstone with the sitemap tier LIVE — in-scope sitemap entries
    // join the link discoveries as candidates (found_by = −1), and the
    // per-host graft_top_k budget orders by (30-day lastmod age bucket,
    // depth, url): fresh sitemap URLs first, the planted stale 2020
    // entries in bucket 11, unknown-age link discoveries last
    // (bucket 12). Same O(k)-state map-side budget as q154 — the two
    // integer terms pack into one exact ordinal.
    "q162_frontier_recency" -> ((s, dir) =>
      crawlFrontierRecency(s, dir).orderBy("link_host", "rank")),

    // ---- crawl URL canonicalization (oracle-checked): the frontier/
    // dedup key normalization upstream of every content stage —
    // scheme+host lowercasing, www./default-port/fragment/tracking-param
    // stripping, slash collapse, bytewise param sort — as ONE
    // zero-shuffle codegen'd projection (UrlOps.withCanonicalUrl).
    "q150_url_canonicalize" -> ((s, dir) => {
      graft.ext.UrlOps.withCanonicalUrl(
          withPlantedUrl(t(s, dir, "documents")), "url")
        .select(col("doc_id"), col("url_canon"), col("url_host"),
          col("url_had_tracking"), col("url_had_fragment"))
        .orderBy("doc_id")
    }),

    // ---- host-level crawl rollup (oracle-checked): fetches, distinct
    // canonical URLs, and the exact integer-micro URL-duplication rate
    // per authority — the frontier's recrawl-waste feedback table.
    // Two map-side-combining hash aggs over (host, canon) short
    // strings; document payloads never enter the plan.
    "q151_host_rollup" -> ((s, dir) => {
      graft.ext.UrlOps.hostRollup(
          withPlantedUrl(t(s, dir, "documents")), "url")
        .orderBy("url_host")
    }),

    // ---- robots-exclusion filtering (oracle-checked): RFC 9309
    // longest-match verdicts over the canonical URLs — broadcast rule
    // table, candidates from a host-keyed BHJ with the prefix test as
    // residual predicate, winner a map-side-combining integer max on
    // the uniform doc_id key (UrlOps.robotsVerdict).
    "q152_robots_filter" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        withPlantedUrl(docs), "url")
      graft.ext.UrlOps.robotsVerdict(canon, "doc_id", "url_canon",
          plantedRobotsRules(docs))
        .select(col("doc_id"), col("url_canon"), col("fetch_allowed"),
          col("rule_match_len"))
        .orderBy("doc_id")
    }),

    // ---- robots WILDCARD matching (oracle-checked): RFC 9309 §2.2.3
    // special characters over the canonical URLs' path+query — `*`
    // spans any octets, trailing `$` anchors at the end of path+query,
    // specificity is the PATTERN's length (the de-facto ranking:
    // a greedy `Disallow: *` never outranks a longer allow), so
    // `2·pattern_len+allow` decides with a plain max and the regex is
    // a match predicate only, run once per candidate. Plain rules
    // keep the codegen'd startsWith path; only wildcard rules pay the
    // per-candidate regex, translated once per pruned rule on the
    // broadcast (UrlOps.robotsVerdict §2.2.3 contract).
    "q161_robots_wildcards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        withPlantedUrl(docs), "url")
      graft.ext.UrlOps.robotsVerdict(canon, "doc_id", "url_canon",
          plantedWildcardRules(docs))
        .select(col("doc_id"), col("url_canon"), col("fetch_allowed"),
          col("rule_match_len"))
        .orderBy("doc_id")
    }),

    // ---- outlink harvest + host link graph (oracle-checked): quoted
    // <a href> extraction from raw page HTML, resolution against the
    // canonical base URL (absolute / protocol-relative / root-relative
    // / path-relative; fragment, non-http scheme and dot-segment hrefs
    // dropped), canonicalization of every resolved link, then the
    // (src_host, dst_host) edge rollup — the crawl's graph feed. Page
    // HTML dies in the harvest projection; the rollup's exchanges
    // carry short URL strings only (UrlOps.extractOutlinks scaladoc).
    "q153_outlink_graph" -> ((s, dir) => {
      val canon = graft.ext.UrlOps.withCanonicalUrl(
        withPlantedUrl(t(s, dir, "documents")), "url")
      val pages = withPlantedPage(canon)
      val links = graft.ext.UrlOps.extractOutlinks(
          pages, "doc_id", "html", "url_canon", "url")
        .withColumn("src_host", graft.ext.UrlOps.urlHost(col("base_canon")))
      graft.ext.UrlOps.hostLinkGraph(links, "src_host")
        .orderBy("src_host", "dst_host")
    }),

    // ---- crawl frontier construction (oracle-checked): the capstone
    // of the URL family — discovered outlinks, minus already-fetched
    // seeds (left ANTI join on the canonical key), through the robots
    // verdict (q152's broadcast longest-match), budgeted to the k=3
    // shallowest URLs per host via the native graft_top_k aggregate
    // (O(k) state per host, map-side partial combine — NO window sort
    // of the frontier). Every planted page links to its own seed URL,
    // so the anti join removes real rows; src10–19's disallow-all
    // robots rule empties most of their budget.
    "q154_crawl_frontier" -> ((s, dir) =>
      crawlFrontier(s, dir).orderBy("link_host", "rank")),

    // ---- fetch scheduling (oracle-checked): the frontier with
    // POLITENESS slots — per-host crawl delays parsed from the raw
    // robots.txt bodies (UrlOps.robotsCrawlDelay: the directive the
    // rule parser deliberately ignores, last-wins within the
    // applicable class, specific group beats *) broadcast onto the
    // ranked budget; fetch_at = (rank−1)·delay, hosts without a
    // directive on the 1 s default. Pure projection + one broadcast
    // join over q154's output — no window, no re-shuffle.
    "q160_fetch_schedule" -> ((s, dir) => {
      val delays = graft.ext.UrlOps.robotsCrawlDelay(
        plantedRobotsTxt(t(s, dir, "documents")), "host", "txt",
        "graftbot")
      graft.ext.UrlOps.politenessSchedule(
          crawlFrontier(s, dir), "link_host", "rank", delays,
          defaultDelayMicros = 1000000L)
        .select(col("link_host"), col("rank"), col("url_canon"),
          col("depth"), col("found_by"), col("fetch_at_micros"))
        .orderBy("link_host", "rank")
    }),

    // ---- politeness served from the PERSISTED cache (oracle-checked):
    // the crawl-delay tier upgraded to cache-backed state — q160
    // parses raw bodies in-plan, but a production loop schedules
    // against the cache the refetch stream maintains, and a refetch
    // that CHANGES Crawl-delay must reschedule the host's slots the
    // next cycle with no raw-body re-parse anywhere downstream. The
    // fetch log stores each fetch's parsed delay winner
    // (RobotsCache.fetchLog), latestDelays serves strictly the newest
    // fetch's policy, and politenessSchedule consumes it in place of
    // the in-plan parse. The plant: the q156 bodies bootstrap (star
    // 5 s; graftbot-specific 0.5 s on hosts ending 3), then EVEN-digit
    // hosts refetch a body that slows the crawler to 10 s — their
    // slots spread 2×, odd hosts keep the bootstrap winners,
    // cache-less hosts (cdn/port variants) ride the 1 s default.
    "q199_delay_from_cache" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val table = "graft_robots_delay_" +
        dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
      val f1 = plantedRobotsTxt(docs).select(col("host"),
        lit(Q178AsOfMicros - 30L * 3600000000L).as("fetched_at_micros"),
        col("txt").as("robots_body"))
      graft.ext.RobotsCache.rebuild(f1, "host", "fetched_at_micros",
        "robots_body", table, agent = "graftbot", nBuckets = 8)
      val f2 = plantedRobotsTxt(docs)
        .filter(regexp_extract(col("host"), "([0-9])\\.example\\.", 1)
          .cast("long") % 2 === 0)
        .select(col("host"),
          lit(Q178AsOfMicros - 2L * 3600000000L).as("fetched_at_micros"),
          lit("User-agent: *\nCrawl-delay: 10\nDisallow: /private")
            .as("robots_body"))
      graft.ext.RobotsCache.refresh(f2, "host", "fetched_at_micros",
        "robots_body", table, agent = "graftbot")
      graft.ext.UrlOps.politenessSchedule(crawlFrontier(s, dir),
          "link_host", "rank",
          graft.ext.RobotsCache.latestDelays(s, table),
          defaultDelayMicros = 1000000L)
        .select(col("link_host"), col("rank"), col("url_canon"),
          col("depth"), col("found_by"), col("fetch_at_micros"))
        .orderBy("link_host", "rank")
    }),

    // ---- robots.txt parsing (oracle-checked): raw per-host bodies →
    // the rule table the verdict consumes, honoring the RFC 9309
    // grammar (comment stripping, UA-group stacking, ignored
    // directives that must not detach rules, empty-pattern drops,
    // specific-group-silences-star selection) — ONE aggregate
    // higher-order fold per host, no window, no shuffle, no explode
    // of intermediate lines (UrlOps.parseRobotsTxt).
    "q156_robots_parse" -> ((s, dir) => {
      graft.ext.UrlOps.parseRobotsTxt(
          plantedRobotsTxt(t(s, dir, "documents")), "host", "txt",
          "graftbot")
        .orderBy("host", "path_prefix", "allow")
    }),

    // ---- sitemap parsing (oracle-checked): per-host sitemaps.org XML
    // → one row per <url> entry with a non-empty <loc>, canonicalized
    // and scope-flagged — the frontier's seed source beside link
    // discovery. One projection + one explode; the XML dies in the
    // harvest like q153's HTML (UrlOps.parseSitemap).
    "q157_sitemap_parse" -> ((s, dir) => {
      graft.ext.UrlOps.parseSitemap(
          plantedSitemaps(t(s, dir, "documents")), "host", "xml")
        .select(col("sitemap_host"), col("url_canon"), col("url_host"),
          col("lastmod"), col("had_lastmod"), col("in_scope"))
        .orderBy("sitemap_host", "url_canon")
    }),

    // ---- WARC record parsing (oracle-checked): the raw-tier format a
    // crawl corpus arrives in (ISO 28500 / Common Crawl) — records
    // split on the version line, WARC headers to the first blank CRLF,
    // payloads sliced by the DECLARED Content-Length (response
    // payloads embed their own \r\n\r\n, so only the length is
    // authoritative), truncated captures flagged. Payload DIGESTS in
    // the output — record bodies never cross an exchange
    // (WarcIngest.parseWarcRecords).
    "q158_warc_parse" -> ((s, dir) => {
      graft.io.WarcIngest.parseWarcRecords(
          plantedWarc(t(s, dir, "documents")), "doc_id", "txt")
        .select(col("doc_id"), col("rec_no"), col("warc_type"),
          col("target_uri"), col("content_length"), col("payload_len"),
          col("length_matches"),
          when(col("payload").isNotNull, md5(col("payload")))
            .as("payload_md5"))
        .orderBy("doc_id", "rec_no")
    }),

    // ---- host-graph PageRank (oracle-checked): the crawl-priority
    // signal hostLinkGraph feeds — Graph.pageRankMicro's exact
    // integer-micro recurrence over the REAL cross-host edges q153
    // harvests (internal edges dropped: host self-reference is not
    // centrality). The edge list is tiny (one row per host pair) and
    // consumed by 10 iterations, so it's localCheckpointed — the
    // harvest runs once, not per iteration. Bounded driver count()
    // fixes N for the micro constants (the q134 discipline).
    "q155_host_pagerank" -> ((s, dir) => hostPagerank(s, dir)
      .orderBy("host")),

    // ---- the COMPLETE crawl→curate funnel in ONE plan
    // (oracle-checked): raw HTML pages → main-content extraction
    // (q145) → mojibake repair (q146) → model-based quality gate
    // (q99) → exact dedup with canonical pick — the capstone
    // composition of the round-10 crawl stages. The stage DEPENDENCY
    // is exercised for real: every fifth page is a duplicate whose
    // even members arrive double-encoded, so the dedup can only
    // collapse the group because the repair ran first.
    "q149_crawl_funnel" -> ((s, dir) => {
      // par: the extract→repair→quality chain is regex-bound (4.5
      // CPU-s at sf0.1) and the one-row-group scan pins it to ONE
      // core — spread it before the html synthesis (5.00 → 1.95 s,
      // the r16 A/B session's runs=3 medians at idle)
      funnelFromPages(par(t(s, dir, "documents"), "doc_id")
          .withColumn("html", q149PageHtml))
        .orderBy("doc_id")
    }),

    // ---- WARC → curate, the INGESTION capstone (oracle-checked):
    // q158's record parse feeding q149's funnel in ONE plan — planted
    // archives whose response payloads carry the q149 pages as full
    // HTTP messages, records sliced by declared length, HTTP bodies
    // split off, then extract → repair → quality → canonical pick.
    // The round-trip property is spec-pinned: this equals q149
    // bit-for-bit, so archive framing adds nothing and loses nothing.
    "q159_warc_funnel" -> ((s, dir) => {
      // par at the archive source: WARC slicing + the funnel chain are
      // regex/substr-bound and otherwise run on the scan's one core
      val parsed = graft.io.WarcIngest.parseWarcRecords(
        plantedWarc(par(t(s, dir, "documents"), "doc_id"),
          concat(lit(HttpHdr), q149PageHtml)), "doc_id", "txt")
      val pages = parsed
        .filter(col("warc_type") === "response" && col("length_matches"))
        .select(col("doc_id"),
          element_at(split(col("payload"), "\r\n\r\n"), 2).as("html"))
      funnelFromPages(pages).orderBy("doc_id")
    }),

    // ---- unigram-LM tokenizer TRAINING (oracle-checked): the
    // SentencePiece-style hard-EM trainer — seed substring census,
    // two Viterbi-segment-count-reprice EM steps, threshold pruning,
    // single-char floor — replayed in DuckDB via recursive-CTE Viterbi
    // (forward DP carries a maxPieceLen-wide best window; backtrack
    // re-derives each argmin with the same smallest-start tie-break on
    // exact longs). The BPE trainer's sibling, q119's discipline.
    "q147_unigram_train" -> ((s, dir) => {
      TextOps.trainUnigramLm(t(s, dir, "documents"), "text",
        maxPieceLen = 4, seedMinCount = 2L, pruneMinCount = 2L, steps = 2)
    }),

    // ---- unigram tokenization under the FIXED vocabulary
    // (oracle-checked): Viterbi segmentation of every document's words
    // + the planted tie word — the apply side verified independently of
    // the trainer, as q120 is for BPE.
    "q148_unigram_tokenize" -> ((s, dir) => {
      val aug = par(t(s, dir, "documents"), "doc_id")
        .withColumn("text", concat(col("text"), lit(" abba")))
      TextOps.withUnigramTokens(aug, "text", UnigramFixedVocab,
          maxPieceLen = 4)
        .select(col("doc_id"), col("n_unigram_tokens"),
          md5(concat_ws("\u0001", col("unigram_tokens"))).as("tokens_md5"))
        .orderBy("doc_id")
    }),

    // ---- perplexity filter under the PERSISTED unigram LM
    // (oracle-checked): CCNet's quality gate — score each document's
    // cross-entropy under a language model and drop the
    // high-perplexity tail (Wenzek et al. 2020; public recipe, no code
    // consulted). The model is the persisted unigram artifact
    // (TextOps.writeUnigramModel — the q148 fixed vocabulary, so the
    // apply side verifies cross-engine independently of the trainer):
    // Viterbi-segment every word against the STORED vocabulary
    // (withUnigramTokensIndexed), total the pieces' exact micro-nat
    // costs through a map-literal fold (zero shuffle, zero join — the
    // model is KB-sized), normalize per WORD CHARACTER (the
    // bits-per-character convention, integer-exact micro division),
    // and gate at the threshold. At 100 TB this is a pure projection
    // over the corpus — the model broadcasts inside the expression,
    // nothing document-sized ever exchanges.
    "q200_perplexity_filter" -> ((s, dir) => {
      val table = unigramModelArtifact(s, dir)
      val toks = TextOps.withUnigramTokensIndexed(s, table,
        t(s, dir, "documents"), "text")
      val costMap = typedlit(TextOps.loadUnigramModel(s, table)._1.toMap)
      toks.select(col("doc_id"), col("n_unigram_tokens"),
          aggregate(col("unigram_tokens"), lit(0L),
            (acc, tk) => acc + element_at(costMap, tk))
            .as("total_cost_micro"),
          aggregate(col("unigram_tokens"), lit(0L),
            (acc, tk) => acc + length(tk).cast("long"))
            .as("n_word_chars"))
        .withColumn("cost_per_char_micro",
          expr("total_cost_micro div nullif(n_word_chars, 0L)"))
        .withColumn("kept",
          coalesce(col("cost_per_char_micro") < 2400000L, lit(false)))
        .orderBy("doc_id")
    }),

    // ---- the CCNet curation funnel COMPOSED (oracle-checked): q200's
    // perplexity gate consumed as a funnel stage instead of shipping
    // standalone — the Wenzek et al. 2020 recipe is lid → perplexity →
    // dedup, and this is q101's per-stage retention table with the
    // persisted-unigram-LM gate in front: perplexity (stored model,
    // map-literal fold — a pure projection) → model-based quality
    // (q99) → exact dedup keep-first (aggregate-on-digest, no
    // content-keyed window) → benchmark decontamination (q94). Every
    // 17th doc carries the implanted duplicate so the dedup stage is
    // exercised; each stage's flag mirrors its standalone oracle, and
    // the funnel is ONE pass over the per-doc flags (the q101
    // discipline: flags computed independently, intersected in stage
    // order).
    "q202_ccnet_funnel" -> ((s, dir) => {
      // par: four gate legs (Viterbi tokenize, quality score, digest,
      // shingle decontamination) all fold over the text of the same
      // one-row-group scan — spread once at the source
      val docs = par(t(s, dir, "documents"), "doc_id")
      val withDups = withDupImplant(docs)
      val bench = withDups.filter(col("doc_id") % 31 === 0)
      val corpus = withDups.filter(col("doc_id") % 31 =!= 0)
      // stage 1: the CCNet perplexity gate under the PERSISTED LM
      val table = unigramModelArtifact(s, dir)
      val costMap = typedlit(TextOps.loadUnigramModel(s, table)._1.toMap)
      val pf = TextOps.withUnigramTokensIndexed(s, table, corpus, "text")
        .select(col("doc_id"),
          aggregate(col("unigram_tokens"), lit(0L),
            (acc, tk) => acc + element_at(costMap, tk)).as("__tc"),
          aggregate(col("unigram_tokens"), lit(0L),
            (acc, tk) => acc + length(tk).cast("long")).as("__nc"))
        .select(col("doc_id"),
          coalesce(expr("(__tc div nullif(__nc, 0L)) < 2400000L"),
            lit(false)).as("p_ok"))
      // stage 2: the trained quality gate (q99's flag)
      val qf = QualityModel.qualityClassifierScore(corpus, "text")
        .select(col("doc_id"), col("kept").as("q_ok"))
      val df = funnelDedupStage(corpus) // stage 3
      val cf = funnelContamStage(corpus, bench) // stage 4
      pf.join(qf, "doc_id").join(df, "doc_id").join(cf, "doc_id")
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("p_ok"), 1)).as("n_p"),
          count(when(col("p_ok") && col("q_ok"), 1)).as("n_pq"),
          count(when(col("p_ok") && col("q_ok") && col("d_ok"), 1))
            .as("n_pqd"),
          count(when(col("p_ok") && col("q_ok") && col("d_ok") &&
            col("c_ok"), 1)).as("n_pqdc"))
        .select(expr(
          """stack(4,
            |  '1_perplexity',    n_total, n_p,
            |  '2_quality',       n_p,     n_pq,
            |  '3_exact_dedup',   n_pq,    n_pqd,
            |  '4_decontaminate', n_pqd,   n_pqdc) AS (stage, n_in, n_out)"""
            .stripMargin))
        .withColumn("retention",
          floor(col("n_out") / (col("n_in") * lit(1.0)) * 1e6) / 1e6)
        .orderBy("stage")
    }),

    // ---- mojibake repair (oracle-checked): UTF-8-as-cp1252
    // double-encoding reversal — even docs get the damaged plant (must
    // restore to the clean twin exactly), odd docs the clean plant
    // (must pass through bit-unchanged; chars_collapsed = 0).
    "q146_mojibake_repair" -> ((s, dir) => {
      // par: the repair is a per-char fold over text on one scan core
      val aug = par(t(s, dir, "documents"), "doc_id")
        .withColumn("text", concat(col("text"), lit(" "),
          when(col("doc_id") % 2 === 0, lit(MojibakeDamaged))
            .otherwise(lit(MojibakeClean))))
      TextOps.repairMojibake(aug, "text")
        .select(col("doc_id"), col("chars_collapsed"),
          col("mojibake_changed"), md5(col("text_fixed")).as("fixed_md5"))
        .orderBy("doc_id")
    }),

    // ---- raw-crawl main-content extraction (oracle-checked): each
    // document wrapped in a deterministic full page — head/style/script/
    // nav/header/footer chrome, a too-short block, a link-dense block,
    // conditional stopwordy/entity keepers — then the jusText-class
    // extractor recovers the content blocks. The one pipeline stage
    // upstream of cleanLines (q98): crawl HTML in, text out.
    "q145_html_extract" -> ((s, dir) => {
      // par: jusText-class block extraction is regex-bound, one core
      val aug = par(t(s, dir, "documents"), "doc_id")
        .withColumn("html", concat(
          lit(HtmlPre), col("text"), lit(HtmlLinks),
          when(col("doc_id") % 3 === 0, lit(HtmlStopwordy))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(HtmlEntityBlock))
            .otherwise(lit("")),
          lit(HtmlTail)))
      TextOps.extractMainContent(aug, "html")
        .select(col("doc_id"), col("blocks_total"), col("blocks_kept"),
          length(col("text_main")).cast("long").as("main_chars"),
          md5(col("text_main")).as("main_md5"))
        .orderBy("doc_id")
    }),

    // ==== LLM-pipeline extensions =========================================
    // ---- text statistics ---------------------------------------------------
    "q20_text_stats" -> ((s, dir) => {
      TextOps.withStats(t(s, dir, "documents"), "text")
        .select("doc_id", "n_chars_computed", "n_tokens", "n_distinct_tokens",
          "type_token_ratio", "avg_token_len")
        .orderBy("doc_id")
    }),

    // ---- stopword-ratio scoring (language-evidence primitive) -------------
    "q21_stopword_ratio" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.stopwordRatio(col("text"), TextOps.Stopwords("en"))
            .as("en_stopword_ratio"))
        .orderBy("doc_id")
    }),

    // ---- heuristic language ID (argmax over evidence; rows-only check) ----
    "q22_language_id" -> ((s, dir) => {
      // par: languageId's evidence regexes run 1.9 s on the scan core
      par(t(s, dir, "documents"), "doc_id")
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          TextOps.languageId(col("text")).as("predicted_lang"))
        .orderBy("doc_id")
    }),

    // ---- composite quality score ------------------------------------------
    "q23_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // ---- BPE-ish token estimate (oracle-checked regex counting) ------------
    "q29_token_estimate" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.tokenEstimate(col("text")).cast("long").as("n_tokens_est"))
        .orderBy("doc_id")
    }),

    // ---- DSIR importance weights (oracle-checked): target = the 'en'
    // slice, raw = everything; hashed-bucket distributions (portable
    // 32-bit md5 prefixes), add-one smoothing, and per-bucket log-ratios
    // rounded to micro-nats on the ≤256-row lattice BEFORE scoring, so
    // each doc's log-weight is an exact long dot product of its bucket
    // counts with the lattice — deterministic in any agg order.
    "q125_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.dsirLogWeights(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", nBuckets = 256)
        .orderBy("doc_id")
    }),

    // ---- intra-document repeated-line strip (oracle-checked): the
    // WITHIN-document counterpart of q50's corpus-wide line dedup — keep
    // only the first occurrence of each line inside its own document.
    // Pure array-HOF projection, zero shuffle. Lines are derived by
    // breaking the text every 5 words; the word-soup corpus then repeats
    // lines within a document for real.
    "q97_line_strip" -> ((s, dir) => {
      val lined = t(s, dir, "documents")
        .withColumn("text",
          regexp_replace(col("text"), "((?:\\S+ ){4}\\S+) ", "$1\n"))
      TextOps.stripRepeatedLines(lined, "text")
        .select(col("doc_id"), col("lines_total"), col("lines_kept"),
          md5(col("text_unique")).as("unique_md5"))
        .orderBy("doc_id")
    }),

    // ---- C4-style line cleaning (oracle-checked): terminal-punctuation
    // + min-words + blocklist line filters (Raffel et al. 2020 §2.2,
    // public heuristics). Crafted lines appended per document exercise
    // every rule: one kept sentence, a blocklisted one, a too-short one,
    // an unpunctuated one, and (for doc_id % 4 == 0) a second keeper.
    "q98_line_clean" -> ((s, dir) => {
      val aug = t(s, dir, "documents")
        .withColumn("text", concat(
          col("text"),
          lit("\nDocument "), col("doc_id").cast("string"),
          lit(" retains this properly punctuated sentence."),
          lit("\nPlease enable javascript to continue."),
          lit("\nToo short."),
          lit("\nthis line has words but no terminal punctuation"),
          when(col("doc_id") % 4 === 0,
            lit("\nAn extra valid closing line appears here!"))
            .otherwise(lit(""))))
      TextOps.cleanLines(aug, "text", minWords = 3)
        .select(col("doc_id"), col("lines_total"), col("lines_kept"),
          col("text_clean"))
        .orderBy("doc_id")
    }),

    // ---- model-based quality filter (oracle-checked): fastText-style
    // hashed-linear classifier inference as a zero-shuffle projection —
    // md5-derived integer milli-weights make the logit exact in any
    // engine; the keep decision thresholds the truncated mean weight.
    "q99_quality_classifier" -> ((s, dir) => {
      QualityModel.qualityClassifierScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"), col("logit_milli"),
          col("quality_logit"), col("kept"))
        .orderBy("doc_id")
    }),

    // ---- corpus-trained bigram LM scoring (oracle-checked): the
    // KenLM-perplexity-filter analog with exact integer-micro numerics —
    // the trained model is the bigram-count RELATION, inference is one
    // token-keyed shuffle + a per-doc aggregate, zero driver state.
    "q103_bigram_lm_score" -> ((s, dir) => {
      TextOps.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- corpus drift report (oracle-checked): crawl-over-crawl
    // distribution monitoring — per-source token-count histograms of two
    // snapshots (B = A with every 7th doc grown by 60 tokens), compared
    // as exact integer micro-share L1 shifts, no ln()-based PSI hazard.
    "q104_drift_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withTok = (d: DataFrame) => d.select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      val snapA = withTok(docs)
      val snapB = withTok(docs.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" x" * 60))).otherwise(col("text"))))
      TextOps.histogramDrift(snapA, snapB, "source", "n_tok",
          binWidth = 50L, nBins = 6)
        .orderBy("source", "bin")
    }),

    // ---- unicode NFC normalization (oracle-checked): the normal-form-
    // first hygiene pass every byte-keyed operator depends on. Each
    // document gains a DECOMPOSED suffix (combining acute/ring/diaeresis
    // as separate codepoints) so the native graft_unicode_norm expression
    // does real composition work on every row; DuckDB's nfc_normalize is
    // the independent UAX #15 implementation the md5s must agree with.
    "q109_nfc_normalize" -> ((s, dir) => {
      val aug = t(s, dir, "documents")
        .withColumn("text", concat(col("text"),
          lit("\nCafe\u0301 A\u030A nai\u0308ve nr "),
          col("doc_id").cast("string")))
      TextOps.withNormalizedText(aug, "text", "NFC")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len_raw"),
          length(col("text_norm")).cast("long").as("len_nfc"),
          col("norm_changed"),
          md5(col("text_norm")).as("nfc_md5"))
        .orderBy("doc_id")
    }),

    // ---- control-char / zero-width cleanup (oracle-checked): the
    // encoding-damage census — C0 controls, DEL, zero-width set, U+FFFD
    // replacement scars — planted per doc (one extra ZWSP on even ids so
    // the removed-count varies) and stripped by one codegen'd regex
    // projection in both engines.
    "q111_control_clean" -> ((s, dir) => {
      val aug = t(s, dir, "documents")
        .withColumn("text", concat(col("text"), lit("\n"),
          lit("\u0007ok\u000Bzero\u200Bwidth\uFEFF end\u007F\uFFFD"),
          when(col("doc_id") % 2 === 0, lit("\u200B")).otherwise(lit(""))))
      TextOps.cleanControlChars(aug, "text")
        .select(col("doc_id"), col("n_ctl_removed"),
          length(col("text_clean")).cast("long").as("len_clean"),
          md5(col("text_clean")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // ---- BPE merge-table training (rows-only + RowsOnlyPinSpec hash
    // gate — the iterative trainer is not expressible in one SQL
    // statement): Sennrich-style dictionary BPE, ONE corpus collapse to
    // (word, freq) then one aggregation per merge step; exact-long
    // counts + lexicographic ties make the table bit-deterministic.
    // BpeSpec pins the trainer against an independent plain-Scala
    // reference (the Lloyd-step non-circularity discipline).
    "q119_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val merges = TextOps.trainBpeMerges(t(s, dir, "documents"), "text",
        nMerges = 16)
      merges.zipWithIndex
        .map { case ((l, r, c), i) => ((i + 1).toLong, l, r, c) }
        .toDF("rank", "left", "right", "cnt").orderBy("rank")
    }),

    // ---- BPE tokenization under a FIXED merge table (oracle-checked —
    // unlike q119's trainer, the APPLY side is one SQL statement: BPE
    // replay-in-rank-order over a delimiter-framed symbol string is a
    // chain of plain replace() calls, which the oracle builds literally;
    // the native BpeSegmentExpr must reproduce it hash-exact). Table is
    // consistent (each operand is a base char or an earlier merge's
    // output), where replay-in-order ≡ the lowest-rank-present loop.
    "q120_bpe_tokenize" -> ((s, dir) => {
      TextOps.withBpeTokens(par(t(s, dir, "documents"), "doc_id"),
          "text", Q120Merges)
        .select(col("doc_id"), col("n_bpe_tokens"),
          md5(concat_ws("\u0001", col("bpe_tokens"))).as("tokens_md5"))
        .orderBy("doc_id")
    }),

    // ---- vocabulary coverage report (oracle-checked): top-V corpus
    // tokens with cumulative ppm share — tokenizer-training precursor.
    // Top-V selection via the graft_top_k aggregate (O(V) state, no
    // global window over the distinct-token relation); the oracle uses
    // the window formulation, same contract as q48/q83/q90.
    "q118_vocab_coverage" -> ((s, dir) => {
      TextOps.vocabularyCoverage(t(s, dir, "documents"), "text", topV = 100)
        .orderBy("rank")
    }),

    // ---- Gopher quality-rule bundle (oracle-checked): the seven
    // document filters of Rae et al. 2021, each decided in exact integer
    // arithmetic (cross-multiplied thresholds — no float in any
    // decision). Structure is planted per doc-id class (bullet lines /
    // ellipsis endings / symbol runs) so every rule fires both ways.
    "q114_gopher_rules" -> ((s, dir) => {
      val aug = par(t(s, dir, "documents"), "doc_id")
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"),
              lit("\n- bullet one\n- bullet two\n* bullet three")))
          .when(col("doc_id") % 7 === 1,
            concat(col("text"), lit("\nto be continued...\nand then…")))
          .when(col("doc_id") % 7 === 2,
            concat(col("text"), lit(" ## ### #### ##")))
          .otherwise(col("text")))
      TextOps.gopherRules(aug, "text")
        .select(col("doc_id"), col("n_words"), col("pass_word_count"),
          col("pass_mean_word_len"), col("pass_symbol_ratio"),
          col("pass_bullet"), col("pass_ellipsis"), col("pass_alpha"),
          col("pass_stopwords"), col("gopher_pass"))
        .orderBy("doc_id")
    }),

    // ---- TF-IDF top terms per document (oracle-checked): corpus-level
    // statistics — the df/idf side aggregates over the whole corpus while
    // staying one lazy plan (broadcast 1-row N, term-keyed shuffles)
    "q48_tfidf_topk" -> ((s, dir) => {
      // graft_top_k ranking — no window sort of the scored term
      // relation (≡, spec-pinned)
      TextOps.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")
    }),

    // ---- repetition quality signals (oracle-checked): top-token share +
    // duplicate-bigram fraction, the Gopher-style repetition filters.
    // Native shingling (bit-identical, spec-pinned) — the HOF bigram path
    // was the catalog's slowest remaining constant (4.8 s at sf0.1).
    "q47_repetition" -> ((s, dir) => {
      TextOps.repetitionStats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- RAG chunking (oracle-checked): overlapping 64-token windows
    // every 48 tokens — narrow transform, no shuffle; the oracle walks
    // the same start sequence with range() + list slicing.
    "q69_chunk_overlap" -> ((s, dir) => {
      TextOps.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
          window = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")
    }),

    // ---- edit-distance near-dup pairs (oracle-checked): prefix-blocked
    // + length-band-prefiltered thresholded Levenshtein — the character-
    // level dedup family next to Jaccard/MinHash/SimHash.
    "q70_edit_distance" -> ((s, dir) => {
      Dedup.editDistanceNearDupPairs(t(s, dir, "documents"), "doc_id",
          "text", prefixLen = 32, maxDist = 40)
        .orderBy("id_a", "id_b")
    }),

    // ---- character-entropy quality signal (oracle-checked): bucketed
    // Shannon entropy as ONE codegen'd projection — no per-character
    // explode, no shuffle, fixed fold order for engine parity.
    "q72_char_entropy" -> ((s, dir) => {
      TextOps.withCharEntropy(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("entropy"))
        .orderBy("doc_id")
    }),

    // ---- IN-ENGINE classifier training (oracle-checked, the q134
    // unrolled-iteration pattern): logistic regression by integer-exact
    // full-batch gradient steps under a hard-sigmoid link, on labels the
    // EXISTING md5-weight scorer plants (separable by construction —
    // the teacher is itself linear in the same hashed feature space).
    // The DuckDB oracle replays all four steps as CTEs, so the
    // TRAINING loop — not just inference — is verified cross-engine.
    "q139_train_quality" -> ((s, dir) => {
      // par: teacher scoring + the feature build hash md5 per token —
      // CPU-bound work otherwise pinned to the one-row-group scan core
      val teacher = QualityModel.qualityClassifierScore(
          par(t(s, dir, "documents"), "doc_id"), "text",
          nBuckets = QtBuckets)
        .select(col("doc_id"), col("text"), col("kept").as("label"))
      val w = QualityModel.trainQualityClassifier(teacher, "doc_id", "text",
        "label", nBuckets = QtBuckets, steps = QtSteps, lrPpm = QtLrPpm)
      s.createDataFrame(
        s.sparkContext.parallelize(
          w.toSeq.zipWithIndex.map { case (wm, b) =>
            org.apache.spark.sql.Row(b.toLong, wm)
          }, 1),
        StructType(Seq(StructField("bucket", LongType),
          StructField("w_micro", LongType))))
        .orderBy("bucket")
    }),

    // ---- tokenizer-efficiency quality signal (oracle-checked): the
    // chars-per-BPE-token compression ratio — token-inefficient text
    // (boilerplate, code soup, non-language bytes) compresses WORSE
    // under a tokenizer than natural language, so real curation recipes
    // flag the least-compressible documents for review. Fixed consistent
    // merge table (the q120 discipline) keeps the whole pipeline
    // SQL-expressible; integer micro ratio, bottom-25 by (ratio, id).
    "q141_bpe_compression" -> ((s, dir) => {
      TextOps.withBpeTokens(t(s, dir, "documents"), "text", Q120Merges)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          col("n_bpe_tokens"))
        .withColumn("chars_per_token_micro",
          expr("(1000000 * n_chars) div n_bpe_tokens"))
        .orderBy(col("chars_per_token_micro"), col("doc_id"))
        .limit(25)
    }),

    // ---- trained-classifier calibration report (oracle-checked): the
    // reliability diagram of q139's model as a relation — predicted
    // hard-sigmoid probability deciles vs the empirical positive rate,
    // all integer micro (sum div n means, (1e6*npos) div n rates). The
    // production check run before trusting a quality model's scores.
    "q142_calibration_report" -> ((s, dir) => {
      // teacher has TWO consumers (the trainer's feature build and the
      // trained-weight serving pass) — materialize the spread+score once
      // instead of re-scoring the md5-per-token teacher per consumer
      val teacher = QualityModel.qualityClassifierScore(
          par(t(s, dir, "documents"), "doc_id"), "text",
          nBuckets = QtBuckets)
        .select(col("doc_id"), col("text"), col("kept").as("label"))
        .localCheckpoint()
      val w = QualityModel.trainQualityClassifier(teacher, "doc_id", "text",
        "label", nBuckets = QtBuckets, steps = QtSteps, lrPpm = QtLrPpm)
      QualityModel.qualityClassifierScoreWith(teacher, "text", w.toSeq)
        .withColumn("p_micro",
          greatest(lit(0L), least(lit(1000000L),
            lit(500000L) + expr("logit_micro div 4"))))
        .withColumn("bin", expr("least(p_micro div 100000, 9)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
          sum(col("p_micro")).as("__sp"))
        .select(col("bin"), col("n"), col("n_pos"),
          expr("__sp div n").as("mean_p_micro"),
          expr("(1000000 * n_pos) div n").as("emp_rate_micro"))
        .orderBy("bin")
    }),

    // ---- train → serve round-trip (oracle-checked): the lattice q139
    // trains, applied through the EXISTING inference operator
    // (qualityClassifierScoreWith — same tokenization, same feature
    // hash, same zero-shuffle projection), scored against the teacher
    // labels it was trained on.
    "q140_trained_scoring" -> ((s, dir) => {
      // teacher has TWO consumers (trainer feature build + trained
      // serving pass) — materialize the spread+score once (q142's shape)
      val teacher = QualityModel.qualityClassifierScore(
          par(t(s, dir, "documents"), "doc_id"), "text",
          nBuckets = QtBuckets)
        .select(col("doc_id"), col("text"), col("kept").as("label"))
        .localCheckpoint()
      val w = QualityModel.trainQualityClassifier(teacher, "doc_id", "text",
        "label", nBuckets = QtBuckets, steps = QtSteps, lrPpm = QtLrPpm)
      QualityModel.qualityClassifierScoreWith(teacher, "text", w.toSeq)
        .select(col("doc_id"), col("n_tokens"), col("logit_micro"),
          col("quality_logit"), col("kept"), col("label"))
        .orderBy("doc_id")
    }),
  )

  /** The q119 oracle: the BPE TRAINING loop replayed in DuckDB — 16
    * unrolled argmax-and-fuse rounds. Step k counts adjacent symbol
    * pairs (with multiplicity, weighted by word frequency) over the
    * step-(k-1) segmentation, takes the (cnt DESC, pair ASC) argmax as
    * a scalar CTE, and fuses it with ONE global left-to-right
    * `replace` of `␁l␁r␁` with `␁lr␁` — the q120 replay discipline
    * (rank-order replay ≡ the engine's lowest-rank-present loop for
    * the greedily-grown, hence consistent, table; left-to-right
    * non-overlapping replace ≡ the fuse loop). All-ASCII corpora make
    * the tie-break byte-order-identical across engines. Steps whose
    * best pair repeats fewer than 2 times emit nothing, mirroring the
    * trainer's early stop (never triggered on these corpora — counts
    * stay in the thousands — but the guard keeps the oracle honest).
    */
  private def q119OracleSql(nMerges: Int = 16): String = {
    def pairOf(k: Int, part: Int) =
      s"split_part((SELECT pair FROM m$k), ' ', $part)"
    val steps = (1 to nMerges).map { k =>
      s"""m$k AS MATERIALIZED (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq,
         |      unnest(list_transform(range(1, len(lst)),
         |        i -> lst[i] || ' ' || lst[i + 1])) AS pair
         |    FROM (SELECT freq,
         |            list_filter(string_split(sym, chr(1)), x -> x <> '')
         |              AS lst
         |          FROM w${k - 1}))
         |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT w, freq, replace(sym,
         |      chr(1) || ${pairOf(k, 1)} || chr(1) ||
         |        ${pairOf(k, 2)} || chr(1),
         |      chr(1) ||
         |        replace((SELECT pair FROM m$k), ' ', '') || chr(1)) AS sym
         |  FROM w${k - 1})""".stripMargin
    }.mkString(",\n")
    val rows = (1 to nMerges).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS rank,
         |  split_part(pair, ' ', 1) AS "left",
         |  split_part(pair, ' ', 2) AS "right", cnt
         |FROM m$k WHERE cnt >= 2""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |    regexp_replace(w, '(.)', chr(1) || '\\1', 'g')
       |      || chr(1) || '</w>' || chr(1) AS sym
       |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
       |          AS w FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |$steps
       |SELECT * FROM (
       |$rows)
       |ORDER BY rank""".stripMargin
  }

  /** The q145 oracle, GENERATED from the same constants the Spark side
    * uses ([[graft.ext.TextOps.PruneHtmlPatterns]] /
    * [[graft.ext.TextOps.BlockSplitPattern]] /
    * [[graft.ext.TextOps.HtmlEntities]], plus the plant fragments
    * above) so extractor and oracle cannot drift. All patterns are
    * RE2-safe (no lookarounds); the stopword count uses the q21
    * `list_filter(tokens, IN)` equivalence. Built by concatenation —
    * never stripMargin — because the generated SQL is pattern-heavy.
    */
  /** SQL fragments shared by the q145 and q149 oracle generators:
    * the prune fold, one block's visible text, and the jusText keep
    * CASE (text-or-NULL). */
  private def htmlPrunedSql(src: String): String =
    TextOps.PruneHtmlPatterns.foldLeft(src) {
      (acc, p) => s"regexp_replace($acc, '$p', ' ', 'g')"
    }

  private def htmlBlockTxtSql(b: String): String = {
    val stripped = s"regexp_replace($b, '<[^>]*>', ' ', 'g')"
    val decoded = TextOps.HtmlEntities.foldLeft(stripped) {
      case (acc, (e, r)) =>
        val rep = if (r == "'") "chr(39)" else "'" + r + "'"
        s"replace($acc, '$e', $rep)"
    }
    s"trim(regexp_replace($decoded, '[ \\t\\n\\r]+', ' ', 'g'))"
  }

  private def htmlKeepTxtSql(b: String): String = {
    val t0 = htmlBlockTxtSql(b)
    val stopList = TextOps.Stopwords("en").map(w => s"'$w'").mkString(", ")
    // coalesce: DuckDB array_to_string of an EMPTY list is NULL (a
    // link-free block must count 0 link chars, as Spark's array_join)
    val lc = s"coalesce(len(array_to_string(regexp_extract_all($b, " +
      "'" + TextOps.AnchorTextPattern + "', 1), '')), 0)"
    val nstop = s"len(list_filter(string_split(lower($t0), ' '), " +
      s"w -> w IN ($stopList)))"
    val nw = s"(CASE WHEN $t0 = '' THEN 0 ELSE len(string_split($t0, ' ')) END)"
    s"CASE WHEN length($t0) >= 25 AND 1000 * $lc <= 200 * length($t0) " +
      s"AND (1000 * $nstop >= 50 * $nw OR length($t0) >= 120) " +
      s"THEN $t0 ELSE NULL END"
  }

  private def htmlExtractOracleSql: String = {
    val ph = htmlPrunedSql("html")
    def keepTxt(b: String): String = htmlKeepTxtSql(b)
    "WITH aug AS (SELECT doc_id, '" + HtmlPre + "' || text || '" +
      HtmlLinks + "' || " +
      "CASE WHEN doc_id % 3 = 0 THEN '" + HtmlStopwordy +
      "' ELSE '' END || " +
      "CASE WHEN doc_id % 4 = 0 THEN '" + HtmlEntityBlock +
      "' ELSE '' END || '" + HtmlTail + "' AS html FROM documents),\n" +
      "bl AS (SELECT doc_id, string_split_regex(" + ph + ", '" +
      TextOps.BlockSplitPattern + "') AS blocks FROM aug),\n" +
      "k AS (SELECT doc_id, blocks, " +
      "list_filter(list_transform(blocks, b -> " + keepTxt("b") +
      "), v -> v IS NOT NULL) AS kept FROM bl)\n" +
      "SELECT doc_id, CAST(len(blocks) AS BIGINT) AS blocks_total, " +
      "CAST(len(kept) AS BIGINT) AS blocks_kept, " +
      "CAST(length(coalesce(array_to_string(kept, chr(10)), '')) AS BIGINT)" +
      " AS main_chars, " +
      "md5(coalesce(array_to_string(kept, chr(10)), '')) AS main_md5 " +
      "FROM k ORDER BY doc_id"
  }

  /** The q149 oracle: the q145 extraction CTEs (shared fragment
    * helpers), the q146 repair chain over the EXTRACTED text, the q99
    * logit formula over the REPAIRED text, and the canonical pick —
    * the full funnel replayed stage for stage.
    */
  /** The q149 page expression in SQL — the twin of [[q149PageHtml]],
    * over a relation exposing (doc_id, text). */
  private def q149HtmlSql: String =
    "'" + HtmlPre + "' || " +
      "(CASE WHEN doc_id % 5 = 0 THEN '" + CrawlDupText +
      "' ELSE text END) || " +
      "CASE WHEN doc_id % 2 = 0 THEN ' " + MojibakeDamaged +
      "' ELSE ' " + MojibakeClean + "' END || '" +
      HtmlLinks + "' || '" + HtmlTail + "'"

  private def crawlFunnelOracleSql: String =
    "WITH aug AS (SELECT doc_id, " + q149HtmlSql +
      " AS html FROM documents),\n" + funnelStagesSql

  /** The funnel's stage CTE chain (ending at `kd`), reading
    * `aug(doc_id, html)` — shared by q149, the q159 WARC round trip,
    * and the q192 crawl-cycle capstone (which composes it mid-query
    * instead of taking the final select). */
  private def funnelStageCtes: String = funnelStageCtes("aug")

  private def funnelStageCtes(srcRel: String): String = {
    val ph = htmlPrunedSql("html")
    val chain = TextOps.MojibakeRepairs.foldLeft("main") {
      case (acc, (m, r)) => s"replace($acc, '$m', '$r')"
    }
    val logit = "CAST(list_sum(list_transform(ts, t -> " +
      "('0x' || substr(md5('w:graft:' || " +
      "CAST(('0x' || substr(md5('f:graft:' || t), 1, 8))::BIGINT % 1024 " +
      "AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000)) AS BIGINT)"
    "bl AS (SELECT doc_id, string_split_regex(" + ph + ", '" +
      TextOps.BlockSplitPattern + "') AS blocks FROM " + srcRel + "),\n" +
      "k AS (SELECT doc_id, list_filter(list_transform(blocks, b -> " +
      htmlKeepTxtSql("b") + "), v -> v IS NOT NULL) AS kept FROM bl),\n" +
      "ext AS (SELECT doc_id, CAST(len(kept) AS BIGINT) AS blocks_kept, " +
      "coalesce(array_to_string(kept, chr(10)), '') AS main FROM k),\n" +
      "rep AS (SELECT doc_id, blocks_kept, length(main) AS ml, " +
      chain + " AS fixed FROM ext),\n" +
      "q AS (SELECT doc_id, blocks_kept, " +
      "CAST(ml - length(fixed) AS BIGINT) AS chars_collapsed, fixed, " +
      "string_split_regex(trim(lower(fixed)), '\\s+') AS ts FROM rep),\n" +
      "sc AS (SELECT doc_id, blocks_kept, chars_collapsed, fixed, " +
      logit + " AS logit_milli, len(ts) AS n_tokens FROM q),\n" +
      "kd AS (SELECT *, " +
      "floor(logit_milli / (n_tokens * 1000.0) * 1e6) / 1e6 >= 0.0 " +
      "AS kept FROM sc)"
  }

  /** The funnel's final select over `kd` — q149/q159's output shape. */
  private def funnelStagesSql: String =
    funnelStageCtes + "\n" +
      "SELECT doc_id, blocks_kept, chars_collapsed, kept, " +
      "kept AND row_number() OVER " +
      "(PARTITION BY kept, md5(fixed) ORDER BY doc_id) = 1 " +
      "AS is_canonical, md5(fixed) AS fixed_md5 " +
      "FROM kd ORDER BY doc_id"

  /** q192: the whole crawl cycle replayed — the q154 frontier CTEs,
    * the q181 schedule formula, the q188 digit-age TTL CASE, the
    * deterministic fetch classes, the q149 page generator + funnel
    * stage CTEs over the fetched set, and the q172 merge semantics as
    * a full-join CASE (the oracle replays RESULTS, not plumbing — the
    * engine's persisted robots cache and revisitMerge operator
    * produce exactly these relations). */
  private def crawlCycleOracleSql: String =
    "WITH " + frontierCtes + ",\n" + robotsTxtCtes + ",\n" +
      crawlDelayCtes + ",\n" + retryAfterCtes + ",\n" +
      "shd AS (SELECT f.link_host, CAST(f.rnk AS BIGINT) AS rank, " +
      "f.link_canon AS url_canon, " +
      "CAST(coalesce(g.retry_after_micros, 0) + " +
      "(f.rnk - 1) * coalesce(d.dmic, 1000000) AS BIGINT) " +
      "AS fetch_at_micros " +
      "FROM rk f LEFT JOIN dms d ON d.host = f.link_host " +
      "LEFT JOIN rag g ON g.host = f.link_host WHERE f.rnk <= 3),\n" +
      "rta2 AS (SELECT link_host, 5 + CAST(coalesce(nullif(" +
      "regexp_extract(link_host, '([0-9])\\.example\\.', 1), ''), '0') " +
      "AS BIGINT) * 5 AS robots_age_hours FROM " +
      "(SELECT DISTINCT link_host FROM shd) t),\n" +
      "cgs AS (SELECT shd.*, rta2.robots_age_hours, " +
      "CASE WHEN rta2.robots_age_hours > 24 THEN 'refetch_robots_first' " +
      "ELSE 'proceed' END AS action FROM shd JOIN rta2 " +
      "USING (link_host)),\n" +
      "corp AS (SELECT url_canon, " +
      "'stale content of ' || url_canon AS body, " +
      "'2026-01-01' AS first_fetched, '2026-01-15' AS last_validated, " +
      "length(url_canon) % 6 <> 0 AS is_active FROM cgs " +
      "WHERE length(url_canon) % 3 = 0),\n" +
      "fbl AS (SELECT *, CAST(row_number() OVER (ORDER BY url_canon) " +
      "AS BIGINT) AS fetch_id, length(url_canon) % 3 = 0 AS known " +
      "FROM cgs WHERE action = 'proceed'),\n" +
      "sim AS (SELECT *, CAST(CASE " +
      "WHEN known AND length(url_canon) % 7 = 2 THEN 304 " +
      "WHEN length(url_canon) % 7 = 0 THEN 404 " +
      "WHEN length(url_canon) % 7 = 1 THEN 503 " +
      "ELSE 200 END AS BIGINT) AS sim_status FROM fbl),\n" +
      "stx AS (SELECT fetch_id AS doc_id, " +
      "'crawl cycle fetch of ' || url_canon AS text, url_canon " +
      "FROM sim WHERE sim_status = 200),\n" +
      "fag AS (SELECT doc_id, " + q149HtmlSql +
      " AS html, url_canon FROM stx),\n" +
      funnelStageCtes("fag") + ",\n" +
      "fnl AS (SELECT doc_id AS fetch_id, blocks_kept, " +
      "kept AS funnel_kept, " +
      "kept AND row_number() OVER (PARTITION BY kept, md5(fixed) " +
      "ORDER BY doc_id) = 1 AS is_canonical FROM kd),\n" +
      "ans AS (SELECT s2.url_canon, s2.sim_status, g2.html " +
      "FROM sim s2 LEFT JOIN fag g2 USING (url_canon)),\n" +
      "mrg AS (SELECT coalesce(cc.url_canon, a.url_canon) AS url_canon, " +
      "CASE WHEN a.sim_status = 200 THEN a.html ELSE cc.body END " +
      "AS body, " +
      "coalesce(cc.first_fetched, '2026-02-10') AS first_fetched, " +
      "CASE WHEN a.sim_status IN (200, 304) THEN '2026-02-10' " +
      "ELSE cc.last_validated END AS last_validated, " +
      "CASE WHEN a.sim_status IN (200, 304) THEN true " +
      "WHEN a.sim_status IN (404, 410) THEN false " +
      "ELSE coalesce(cc.is_active, false) END AS is_active, " +
      "coalesce(a.sim_status = 200 AND cc.body IS NOT NULL " +
      "AND cc.body <> a.html, false) AS body_changed " +
      "FROM corp cc FULL JOIN ans a ON cc.url_canon = a.url_canon " +
      "WHERE cc.url_canon IS NOT NULL OR " +
      "(a.url_canon IS NOT NULL AND a.sim_status = 200 " +
      "AND a.html IS NOT NULL))\n" +
      "SELECT g.link_host, g.rank, g.url_canon, g.fetch_at_micros, " +
      "g.robots_age_hours, g.action, s.sim_status, m.is_active, " +
      "m.body_changed, m.last_validated, " +
      "CASE WHEN m.url_canon IS NOT NULL THEN md5(m.body) END " +
      "AS body_md5, " +
      "f.blocks_kept, f.funnel_kept, f.is_canonical " +
      "FROM cgs g " +
      "LEFT JOIN (SELECT url_canon, fetch_id, sim_status FROM sim) s " +
      "USING (url_canon) " +
      "LEFT JOIN mrg m ON m.url_canon = g.url_canon " +
      "LEFT JOIN fnl f ON f.fetch_id = s.fetch_id " +
      "ORDER BY link_host, rank"

  /** The q146 oracle: the SAME generated replace chain
    * ([[graft.ext.TextOps.MojibakeRepairs]]) over the same plant
    * constants — no scar or target contains an ASCII quote (all are
    * ≥ U+00A0), so they embed directly in SQL literals.
    */
  private def mojibakeOracleSql: String = {
    val chain = TextOps.MojibakeRepairs.foldLeft("text") {
      case (acc, (m, r)) => s"replace($acc, '$m', '$r')"
    }
    "WITH aug AS (SELECT doc_id, text || ' ' || " +
      "CASE WHEN doc_id % 2 = 0 THEN '" + MojibakeDamaged +
      "' ELSE '" + MojibakeClean + "' END AS text FROM documents),\n" +
      "f AS (SELECT doc_id, text, " + chain + " AS fixed FROM aug)\n" +
      "SELECT doc_id, " +
      "CAST(length(text) - length(fixed) AS BIGINT) AS chars_collapsed, " +
      "fixed <> text AS mojibake_changed, md5(fixed) AS fixed_md5 " +
      "FROM f ORDER BY doc_id"
  }

  /** Recursive-CTE Viterbi for the unigram oracles (q147/q148): the
    * forward DP carries a 4-wide best window per (word, i) — UTF-8
    * trail positions never arise since the corpus is whitespace-token
    * words — and the backtrack recursion re-derives each argmin as a
    * `list_min` over (total, start) structs: smallest total then
    * smallest start, exactly [[graft.plans.UnigramCore.segment]]'s
    * tie-break on exact longs. Invalid starts surface as NULL sums →
    * coalesced to 2⁶², never winners (single chars always segment).
    * `vocabCte` must expose (piece, cost_micro); `fwd$tag`/`bt$tag`
    * read the `words(word)` CTE.
    */
  private def unigramFwdBt(tag: String, vocabCte: String): String = {
    val big = "4611686018427387904"
    // every lookup is a LEFT JOIN, NEVER a correlated scalar subquery:
    // DuckDB 1.0.0 returns NULL from a correlated subquery on the FIRST
    // recursive iteration whenever the probed CTE's lineage contains a
    // generate_series/unnest table function (minimal repro in the
    // round-10 commit message); join formulations bind correctly.
    val fwdJoins = (1 to 4).map { l =>
      s"  LEFT JOIN $vocabCte w$l ON w$l.piece = " +
        s"substr(f.word, f.i + ${2 - l}, $l)"
    }.mkString("\n")
    val fwdTerms = (1 to 4)
      .map(l => s"coalesce(f.b$l + w$l.cost_micro, $big)")
      .mkString(",\n      ")
    val btJoins = (1 to 4).map { l =>
      s"""    LEFT JOIN fwd$tag f$l ON f$l.word = b.word
         |      AND f$l.i = b.pos - $l
         |    LEFT JOIN $vocabCte v$l ON v$l.piece =
         |      substr(b.word, b.pos - ${l - 1}, $l)""".stripMargin
    }.mkString("\n")
    val btCands = (1 to 4)
      .map(l => s"{'t': coalesce(f$l.b1 + v$l.cost_micro, $big), " +
        s"'j': b.pos - $l}")
      .mkString(",\n      ")
    s"""fwd$tag(word, i, b1, b2, b3, b4) AS (
       |  SELECT word, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
       |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
       |  FROM words
       |  UNION ALL
       |  SELECT f.word, f.i + 1,
       |    least(
       |      $fwdTerms),
       |    f.b1, f.b2, f.b3
       |  FROM fwd$tag f
       |$fwdJoins
       |  WHERE f.i < length(f.word)),
       |bt$tag(word, pos, piece) AS (
       |  SELECT word, length(word), CAST(NULL AS VARCHAR) FROM words
       |  UNION ALL
       |  SELECT word, (sel).j, substr(word, (sel).j + 1, pos - (sel).j)
       |  FROM (
       |    SELECT b.word, b.pos, list_min([
       |      $btCands]) AS sel
       |    FROM bt$tag b
       |$btJoins
       |    WHERE b.pos > 0))""".stripMargin
  }

  /** One vocab derivation (the trainer's M-step / seed rule): alphabet
    * singles floored at cnt 1, multi-char pieces thresholded, costs
    * `round(ln(total/cnt)·10⁶)` on the vocabulary lattice. The total
    * rides in its own CTE CROSS JOINed in — NOT as an embedded scalar
    * subquery: DuckDB 1.0.0 mis-evaluates a CTE carrying one when a
    * recursive CTE's correlated subqueries later read it (first
    * recursion step sees NULL lookups; minimal repro in the round-10
    * commit message).
    */
  private def unigramVocabCtes(tag: String, cntCte: String,
                               minCount: Long): String =
    s"""v${tag}all AS MATERIALIZED (
       |  SELECT a.piece, greatest(coalesce(c.cnt, 0), 1) AS cnt
       |  FROM alpha a LEFT JOIN $cntCte c USING (piece)
       |  UNION ALL
       |  SELECT piece, cnt FROM $cntCte
       |  WHERE length(piece) > 1 AND cnt >= $minCount),
       |t$tag AS MATERIALIZED (
       |  SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM v${tag}all),
       |v$tag AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(round(ln(t$tag.tot / cnt) * 1000000) AS BIGINT)
       |      AS cost_micro
       |  FROM v${tag}all CROSS JOIN t$tag)""".stripMargin

  /** The q147 oracle: seed census → v0 → (segment, count, reprice) × 2
    * as recursive-CTE Viterbi passes — the full hard-EM loop replayed.
    */
  private def unigramTrainOracleSql: String =
    s"""WITH RECURSIVE
       |words AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
       |      AS word
       |    FROM documents)
       |  WHERE length(word) > 0 GROUP BY word),
       |subs AS MATERIALIZED (
       |  SELECT substr(w.word, w.st, l.l) AS piece,
       |    CAST(sum(w.freq) AS BIGINT) AS cnt
       |  FROM (SELECT word, freq,
       |          unnest(generate_series(1, length(word))) AS st
       |        FROM words) w
       |  CROSS JOIN generate_series(1, 4) l(l)
       |  WHERE w.st + l.l - 1 <= length(w.word)
       |  GROUP BY 1),
       |alpha AS MATERIALIZED (
       |  SELECT piece FROM subs WHERE length(piece) = 1),
       |${unigramVocabCtes("0", "subs", 2L)},
       |${unigramFwdBt("1", "v0")},
       |cnt1 AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM bt1 JOIN words USING (word)
       |  WHERE piece IS NOT NULL GROUP BY piece),
       |${unigramVocabCtes("1", "cnt1", 2L)},
       |${unigramFwdBt("2", "v1")},
       |cnt2 AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM bt2 JOIN words USING (word)
       |  WHERE piece IS NOT NULL GROUP BY piece),
       |${unigramVocabCtes("2", "cnt2", 2L)}
       |SELECT piece, cnt, cost_micro FROM v2 ORDER BY piece""".stripMargin

  /** [[UnigramFixedVocab]] as SQL VALUES rows `(piece, cost_micro)`. */
  private def unigramFixedVocabValues: String = UnigramFixedVocab
    .map { case (p, c) => s"('$p', CAST($c AS BIGINT))" }.mkString(", ")

  /** The distinct non-empty lowercase words of `src(doc_id, text)` as
    * `words(word)` — the Viterbi recursion's input. */
  private def unigramWordsCte(src: String): String =
    s"""words AS MATERIALIZED (
       |  SELECT DISTINCT word FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), '\\s+'))
       |      AS word
       |    FROM $src)
       |  WHERE length(word) > 0)""".stripMargin

  /** Every non-empty word occurrence of `src(doc_id, text)` in order:
    * `docw(doc_id, wpos, word)`. */
  private def unigramDocWordsCte(src: String): String =
    s"""docw AS (
       |  SELECT doc_id, wpos, ws[wpos] AS word
       |  FROM (SELECT doc_id, ws,
       |          unnest(generate_series(1, len(ws))) AS wpos
       |        FROM (SELECT doc_id,
       |                string_split_regex(trim(lower(text)), '\\s+') AS ws
       |              FROM $src))
       |  WHERE length(ws[wpos]) > 0)""".stripMargin

  /** The perplexity oracles' (q200/q202) per-word Viterbi cost over
    * `src(doc_id, text)` under the fixed vocabulary `vpx`: exact micro
    * total and piece count `wcost(word, wc, wt)`, plus `docw`. */
  private def fixedVocabWordCostCtes(src: String): String =
    s"""${unigramWordsCte(src)},
       |vpx(piece, cost_micro) AS (VALUES $unigramFixedVocabValues),
       |${unigramFwdBt("px", "vpx")},
       |segp AS MATERIALIZED (
       |  SELECT word, piece FROM btpx WHERE piece IS NOT NULL),
       |wcost AS (
       |  SELECT p.word, CAST(sum(v.cost_micro) AS BIGINT) AS wc,
       |    CAST(count(*) AS BIGINT) AS wt
       |  FROM segp p JOIN vpx v USING (piece) GROUP BY p.word),
       |${unigramDocWordsCte(src)}""".stripMargin

  /** The q148 oracle: Viterbi under the FIXED vocabulary constant,
    * reassembled per document in word order. */
  private def unigramTokenizeOracleSql: String = {
    s"""WITH RECURSIVE
       |aug AS (SELECT doc_id, text || ' abba' AS text FROM documents),
       |${unigramWordsCte("aug")},
       |vq(piece, cost_micro) AS (VALUES $unigramFixedVocabValues),
       |${unigramFwdBt("q", "vq")},
       |segl AS MATERIALIZED (
       |  SELECT word, list(piece ORDER BY pos) AS pieces
       |  FROM btq WHERE piece IS NOT NULL GROUP BY word),
       |${unigramDocWordsCte("aug")},
       |tok AS (
       |  SELECT doc_id, flatten(list(pieces ORDER BY wpos)) AS toks
       |  FROM docw JOIN segl USING (word) GROUP BY doc_id)
       |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_unigram_tokens,
       |  md5(coalesce(array_to_string(toks, chr(1)), '')) AS tokens_md5
       |FROM tok ORDER BY doc_id""".stripMargin
  }

  /** The q200 oracle: the q148 Viterbi recursion under the same fixed
    * vocabulary over the RAW documents, per-word piece costs joined
    * back exactly (the forward DP's terminal best IS the word's total
    * cost, but the piece-count column needs the backtrack anyway),
    * per-doc exact micro totals with multiplicity, per-char integer
    * division, the same threshold. */
  private def perplexityFilterOracleSql: String = {
    s"""WITH RECURSIVE
       |aug AS (SELECT doc_id, text FROM documents),
       |${fixedVocabWordCostCtes("aug")},
       |agg AS (
       |  SELECT d.doc_id, CAST(sum(w.wt) AS BIGINT) AS n_toks,
       |    CAST(sum(w.wc) AS BIGINT) AS total_c,
       |    CAST(sum(length(d.word)) AS BIGINT) AS n_ch
       |  FROM docw d JOIN wcost w USING (word) GROUP BY d.doc_id)
       |SELECT doc_id,
       |  CAST(coalesce(a.n_toks, 0) AS BIGINT) AS n_unigram_tokens,
       |  CAST(coalesce(a.total_c, 0) AS BIGINT) AS total_cost_micro,
       |  CAST(coalesce(a.n_ch, 0) AS BIGINT) AS n_word_chars,
       |  a.total_c // nullif(a.n_ch, 0) AS cost_per_char_micro,
       |  coalesce(a.total_c // nullif(a.n_ch, 0) < 2400000, false)
       |    AS kept
       |FROM documents LEFT JOIN agg a USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q202: the q101 funnel oracle with the CCNet perplexity stage in
    * front — the same recursive-CTE Viterbi as q200's oracle, run over
    * the dup-implanted corpus text, each later stage the q101 oracle's
    * shared fragment (quality logit, keep-first min-window as a window
    * over the digest, q94 contamination verdict), intersected in stage
    * order. */
  private def ccnetFunnelOracleSql: String = {
    s"""WITH RECURSIVE
       |$dupImplantCte,
       |corpus AS MATERIALIZED (
       |  SELECT doc_id, text FROM wd WHERE doc_id % 31 <> 0),
       |${fixedVocabWordCostCtes("corpus")},
       |pagg AS (
       |  SELECT d.doc_id, CAST(sum(w.wc) AS BIGINT) AS total_c,
       |    CAST(sum(length(d.word)) AS BIGINT) AS n_ch
       |  FROM docw d JOIN wcost w USING (word) GROUP BY d.doc_id),
       |pf AS (
       |  SELECT corpus.doc_id,
       |    coalesce(a.total_c // nullif(a.n_ch, 0) < 2400000, false)
       |      AS p_ok
       |  FROM corpus LEFT JOIN pagg a USING (doc_id)),
       |$funnelQualityCtes,
       |$funnelDedupCte,
       |$funnelContamCtes,
       |agg AS (
       |  SELECT count(*) AS n_total,
       |    count(CASE WHEN p_ok THEN 1 END) AS n_p,
       |    count(CASE WHEN p_ok AND q_ok THEN 1 END) AS n_pq,
       |    count(CASE WHEN p_ok AND q_ok AND d_ok THEN 1 END) AS n_pqd,
       |    count(CASE WHEN p_ok AND q_ok AND d_ok AND c_ok THEN 1 END)
       |      AS n_pqdc
       |  FROM pf JOIN qf USING (doc_id) JOIN df USING (doc_id)
       |       JOIN cf USING (doc_id)),
       |st AS (
       |  SELECT '1_perplexity' AS stage, n_total AS n_in, n_p AS n_out
       |  FROM agg
       |  UNION ALL SELECT '2_quality', n_p, n_pq FROM agg
       |  UNION ALL SELECT '3_exact_dedup', n_pq, n_pqd FROM agg
       |  UNION ALL SELECT '4_decontaminate', n_pqd, n_pqdc FROM agg)
       |SELECT stage, n_in, n_out,
       |  floor(n_out / (n_in * 1.0) * 1e6) / 1e6 AS retention
       |FROM st ORDER BY stage""".stripMargin
  }

  /** The q150/q151 plant as a DuckDB SELECT body — the same residue
    * classes and URL-piece literals as [[withPlantedUrl]], kept
    * adjacent so a plant edit is a same-file two-site change (the
    * pieces embed in SQL literals; none contains a quote). */
  private def urlPlantSql: String =
    "SELECT doc_id, " +
      "(CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' || upper(source) || " +
      "'.EXAMPLE.COM' ELSE 'https://' || source || '.example.com' END) || " +
      "(CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 2 " +
      "THEN ':8080' ELSE '' END) || " +
      "'/Docs//' || CAST(doc_id % 13 AS VARCHAR) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) || " +
      "'?b=2&a=1' || " +
      "(CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed&gclid=XYZ' " +
      "ELSE '' END) || " +
      "(CASE WHEN doc_id % 7 = 0 THEN '#Section-2' ELSE '' END) AS url " +
      "FROM documents"

  /** DuckDB replay of [[graft.ext.UrlOps.canonicalUrl]] step for step
    * — each CTE is one rule, every regex RE2-safe and identical to
    * the Spark side's, the tracking-prefix predicate GENERATED from
    * the shared [[graft.ext.UrlOps.TrackingParamPrefixes]]. Reads
    * `src(carry..., url)`, emits CTEs `{p}1..{p}6` and a final
    * `{out}(carry..., url, url_host, url_canon, url_had_tracking,
    * url_had_fragment)` — parameterized so the q153/q154 oracles run
    * the SAME chain over resolved link URLs (carrying the source
    * host) that q150/q151 run over page URLs. */
  private def urlCanonChain(src: String, p: String, out: String,
      carry: Seq[String]): String = {
    val trk = graft.ext.UrlOps.TrackingParamPrefixes
      .map(pre => "starts_with(p, '" + pre + "')").mkString(" OR ")
    val cy = carry.map(_ + ", ").mkString
    s"${p}1 AS (SELECT $cy" + "url, " +
      s"regexp_replace(url, '#.*$$', '') AS nofrag FROM $src),\n" +
      s"${p}2 AS (SELECT $cy" + "url, " +
      "lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))" +
      " AS scheme, " +
      "regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest " +
      s"FROM ${p}1),\n" +
      s"${p}3 AS (SELECT $cy" + "url, scheme, rest, " +
      "regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), " +
      "'^www\\.', '') AS hostnw FROM " + s"${p}2),\n" +
      s"${p}4 AS (SELECT $cy" + "url, scheme, " +
      "CASE WHEN scheme = 'http' THEN regexp_replace(hostnw, ':80$', '') " +
      "WHEN scheme = 'https' THEN regexp_replace(hostnw, ':443$', '') " +
      "ELSE hostnw END AS host, " +
      "regexp_replace(rest, '^[^/?]*', '') AS pathq FROM " + s"${p}3),\n" +
      s"${p}5 AS (SELECT $cy" + "url, scheme, host, " +
      "regexp_replace(regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), " +
      "'//+', '/', 'g'), '/$', '') AS path0, " +
      "CASE WHEN contains(pathq, '?') THEN " +
      "regexp_replace(pathq, '^[^?]*\\?', '') ELSE '' END AS rawqs " +
      "FROM " + s"${p}4),\n" +
      s"${p}6 AS (SELECT $cy" + "url, scheme, host, " +
      "CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path, " +
      "list_sort(list_filter(string_split(rawqs, '&'), " +
      "p -> p <> '' AND NOT (" + trk + "))) AS kept, " +
      "len(list_filter(string_split(rawqs, '&'), " +
      "p -> p <> '' AND (" + trk + "))) > 0 AS had_trk FROM " + s"${p}5),\n" +
      s"$out AS (SELECT $cy" + "url, host AS url_host, " +
      "scheme || '://' || host || path || " +
      "CASE WHEN coalesce(array_to_string(kept, '&'), '') = '' THEN '' " +
      "ELSE '?' || array_to_string(kept, '&') END AS url_canon, " +
      "had_trk AS url_had_tracking, " +
      "contains(url, '#') AS url_had_fragment FROM " + s"${p}6)"
  }

  private def urlCanonCtes: String =
    urlCanonChain("aug", "u", "c", Seq("doc_id"))

  private def urlCanonicalizeOracleSql: String =
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + "\n" +
      "SELECT doc_id, url_canon, url_host, url_had_tracking, " +
      "url_had_fragment FROM c ORDER BY doc_id"

  private def hostRollupOracleSql: String =
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + "\n" +
      "SELECT url_host, CAST(count(*) AS BIGINT) AS n_fetches, " +
      "CAST(count(DISTINCT url_canon) AS BIGINT) AS n_urls, " +
      "CAST(sum(CASE WHEN url_had_tracking THEN 1 ELSE 0 END) AS BIGINT)" +
      " AS n_tracking_fetches, " +
      "(CAST(count(*) AS BIGINT) - CAST(count(DISTINCT url_canon) AS BIGINT))" +
      " * 1000000 // CAST(count(*) AS BIGINT) AS dup_rate_micro " +
      "FROM c GROUP BY url_host ORDER BY url_host"

  /** DuckDB replay of [[graft.ext.UrlOps.robotsVerdict]] over the
    * q150 plant: the rule table GENERATED from the same classes as
    * [[plantedRobotsRules]], candidates via the same host-equality +
    * `starts_with` predicate, and the winner the same
    * `max(2·len + allow)` integer encoding — longest prefix
    * dominates, allow wins the tie, unmatched encodes as 1. */
  /** The q152/q154 rule table as CTEs `hosts` + `rules(rhost,
    * rprefix, rallow)` — GENERATED from the same classes as
    * [[plantedRobotsRules]]. */
  private def robotsRulesCtes: String =
    "hosts AS (SELECT DISTINCT lower(source) AS h FROM documents),\n" +
      "rules AS (SELECT h || '.example.com' AS rhost, t.p AS rprefix, " +
      "t.a AS rallow FROM hosts, (VALUES ('/Docs/1', false), " +
      "('/Docs/12', true), ('/Docs/3', true), ('/Docs/3', false), " +
      "('/Tab', true), ('/Cr', false)) t(p, a) " +
      "UNION ALL SELECT h || '.example.com', '/', false FROM hosts " +
      "WHERE length(h) % 5 = 0)"

  private def robotsOracleSql: String =
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      robotsRulesCtes + ",\n" +
      // the match target is path + query (round-13 contract); the
      // planted prefixes decide identically either way
      "pth AS (SELECT doc_id, url_canon, url_host, " +
      "regexp_replace(url_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', '') AS path FROM c),\n" +
      "v AS (SELECT p.doc_id, p.url_canon, " +
      "max(coalesce(2 * length(r.rprefix) + " +
      "CASE WHEN r.rallow THEN 1 ELSE 0 END, 1)) AS score " +
      "FROM pth p LEFT JOIN rules r ON r.rhost = p.url_host " +
      "AND starts_with(p.path, r.rprefix) GROUP BY p.doc_id, p.url_canon)\n" +
      "SELECT doc_id, url_canon, score % 2 = 1 AS fetch_allowed, " +
      "CAST(score // 2 AS BIGINT) AS rule_match_len FROM v ORDER BY doc_id"

  /** DuckDB replay of the §2.2.3 WILDCARD verdict (q161): the rule
    * table from the same classes as [[plantedWildcardRules]], the
    * SAME pattern→regex translation as `UrlOps.robotsVerdict` (escape
    * every metachar but `*`, star → `.*`, trailing escaped `$` back
    * to the anchor), `regexp_matches` over PATH+QUERY for the
    * wildcard candidates / `starts_with` for the plain ones, and the
    * winner `max(2·pattern_len + allow)` — the de-facto pattern-
    * length ranking (spec-pinned against a plain-Scala matcher
    * too). */
  private def robotsWildcardOracleSql: String =
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      "hosts AS (SELECT DISTINCT lower(source) AS h FROM documents),\n" +
      "wrules AS (SELECT h || '.example.com' AS rhost, t.p AS rprefix, " +
      "t.a AS rallow FROM hosts, (VALUES ('*', false), " +
      "('/Docs/*', false), ('/Docs/12', true), ('/Docs/3?*', true), " +
      "('/Docs/5*', false), ('/Docs/5?', true), " +
      "('/Docs/7?a=1&b=2$', true), ('/Docs/9$', true)) " +
      "t(p, a)),\n" +
      "wrx AS (SELECT rhost, rprefix, rallow, " +
      "contains(rprefix, '*') OR ends_with(rprefix, '$') AS wc, " +
      "'^' || regexp_replace(regexp_replace(regexp_replace(rprefix, " +
      "'([\\\\.\\[\\]{}()+?^$|])', '\\\\\\1', 'g'), '\\*', '.*', 'g'), " +
      "'\\\\\\$$', '$') AS rx FROM wrules),\n" +
      "pth AS (SELECT doc_id, url_canon, url_host, " +
      "regexp_replace(url_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', '') AS path FROM c),\n" +
      "v AS (SELECT p.doc_id, p.url_canon, " +
      "max(coalesce(2 * CAST(length(r.rprefix) AS BIGINT) + " +
      "CASE WHEN r.rallow THEN 1 ELSE 0 END, 1)) AS score " +
      "FROM pth p LEFT JOIN wrx r ON r.rhost = p.url_host " +
      "AND (CASE WHEN r.wc THEN regexp_matches(p.path, r.rx) " +
      "ELSE starts_with(p.path, r.rprefix) END) " +
      "GROUP BY p.doc_id, p.url_canon)\n" +
      "SELECT doc_id, url_canon, score % 2 = 1 AS fetch_allowed, " +
      "CAST(score // 2 AS BIGINT) AS rule_match_len FROM v ORDER BY doc_id"

  /** DuckDB replay of [[withPlantedPage]] +
    * [[graft.ext.UrlOps.extractOutlinks]]: builds each page from the
    * SAME literal pieces, harvests hrefs with the shared
    * [[graft.ext.UrlOps.HrefPattern]], resolves each per the shared
    * classification (fragment / non-http scheme / dot-segment → NULL;
    * protocol-relative, root-relative, path-relative against the
    * canonical base), then runs the canonicalization chain over the
    * kept links. Ends in `lc(doc_id, src_host, url, url_host,
    * url_canon, ...)` — one row per kept link. Expects `aug` and the
    * page chain `c` upstream. */
  private def linkCtes: String = {
    val dotseg = graft.ext.UrlOps.DotSegPattern
    "pg AS (SELECT c.doc_id, c.url, c.url_host AS src_host, " +
      "c.url_canon AS base, d.text FROM c " +
      "JOIN documents d ON c.doc_id = d.doc_id),\n" +
      "hm AS (SELECT doc_id, src_host, base, url AS base_raw, '" +
      HtmlPre + "' || text || '" + HtmlLinks + "' || " +
      "'<p><a href=\"#top\">top</a> <a href=\"' || url || " +
      "'\">self</a> <A HREF=\"HTTPS://WWW.Src' || " +
      "CAST((doc_id + 1) % 20 AS VARCHAR) || '.EXAMPLE.COM/Docs/' || " +
      "CAST(doc_id % 13 AS VARCHAR) || '/deep/page\">next</A> ' || " +
      "(CASE WHEN doc_id % 2 = 0 THEN '<a href=\"//cdn' || " +
      "CAST(doc_id % 3 AS VARCHAR) || '.example.net/lib/js\">cdn</a> ' " +
      "ELSE '' END) || " +
      "(CASE WHEN doc_id % 3 = 0 THEN " +
      "'<a href=\"more?b=2&utm_x=1&a=1\">read</a> ' ELSE '' END) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN '<a href=\"../up\">up</a> ' " +
      "ELSE '' END) || " +
      "(CASE WHEN doc_id % 11 = 0 THEN " +
      "'<a href=\"https://dotty.example.net/a/../b\">dot</a> ' " +
      "ELSE '' END) || " +
      "(CASE WHEN doc_id % 7 = 0 THEN " +
      "'<a href=\"mailto:bot@example.com\">mail</a>' ELSE '' END) || " +
      "'</p>' || '" + HtmlTail + "' AS html FROM pg),\n" +
      "lx AS (SELECT doc_id, src_host, base, base_raw, " +
      "unnest(regexp_extract_all(html, '" +
      graft.ext.UrlOps.HrefPattern + "', 1)) AS href FROM hm),\n" +
      // scheme/authority from the CANONICAL base; the merge DIRECTORY
      // from the AS-FETCHED base path (trailing slash intact, '' -> '/')
      // — UrlOps.extractOutlinks's RFC 3986 §5.2.3 contract. An absolute
      // href's PATH (hpath) carries the dot-segment drop test.
      "bb AS (SELECT doc_id, src_host, href, " +
      "regexp_extract(base, '^([a-z][a-z0-9+.-]*)://', 1) AS bscheme, " +
      "regexp_extract(base, '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) AS bauth, " +
      "CASE WHEN rdir = '' THEN '/' ELSE rdir END AS bdir, " +
      "regexp_extract(regexp_replace(href, " +
      "'(?i)^[a-z][a-z0-9+.-]*://[^/?#]*', ''), '^([^?#]*)', 1) AS hpath " +
      "FROM (SELECT *, regexp_replace(regexp_extract(regexp_replace(" +
      "base_raw, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), " +
      "'^([^?#]*)', 1), '[^/]*$', '') AS rdir FROM lx) t),\n" +
      "rs AS (SELECT doc_id, src_host, " +
      "CASE WHEN href = '' OR starts_with(href, '#') THEN NULL " +
      "WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN " +
      "(CASE WHEN regexp_matches(href, '(?i)^https?://') THEN " +
      "(CASE WHEN regexp_matches(hpath, '" + dotseg + "') THEN NULL " +
      "ELSE href END) ELSE NULL END) " +
      "WHEN regexp_matches(href, '" + dotseg + "') THEN NULL " +
      "WHEN starts_with(href, '//') THEN bscheme || ':' || href " +
      "WHEN starts_with(href, '/') THEN bscheme || '://' || bauth || href " +
      "ELSE bscheme || '://' || bauth || bdir || href END AS url " +
      "FROM bb),\n" +
      "la AS (SELECT doc_id, src_host, url FROM rs WHERE url IS NOT NULL),\n" +
      urlCanonChain("la", "l", "lc", Seq("doc_id", "src_host"))
  }

  private def outlinkGraphOracleSql: String =
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      linkCtes + ",\n" +
      "ag AS (SELECT src_host, url_host AS dst_host, url_canon, " +
      "count(*) AS n FROM lc GROUP BY 1, 2, 3)\n" +
      "SELECT src_host, dst_host, CAST(sum(n) AS BIGINT) AS n_links, " +
      "CAST(count(*) AS BIGINT) AS n_distinct_targets, " +
      "src_host = dst_host AS is_internal " +
      "FROM ag GROUP BY src_host, dst_host ORDER BY src_host, dst_host"

  /** q154: discovered links minus fetched seeds (LEFT JOIN … IS NULL
    * ≡ the Spark anti join), the q152 robots `max(2·len+allow)`
    * winner per candidate, then the per-host budget — the window
    * formulation here replays graft_top_k's (ord DESC, payload ASC)
    * order as (depth ASC, url ASC). */
  private def frontierCtes: String =
    "aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      linkCtes + ",\n" + robotsRulesCtes + ",\n" +
      "cand AS (SELECT url_canon AS link_canon, url_host AS link_host, " +
      "min(doc_id) AS found_by FROM lc GROUP BY 1, 2),\n" +
      "seen AS (SELECT DISTINCT url_canon FROM c),\n" +
      "fresh AS (SELECT cand.* FROM cand LEFT JOIN seen " +
      "ON cand.link_canon = seen.url_canon WHERE seen.url_canon IS NULL),\n" +
      // mpath = the robots match target (path + query, round-13
      // contract); path stays query-stripped for the DEPTH count
      "pth AS (SELECT link_canon, link_host, found_by, " +
      "regexp_extract(regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', ''), '^([^?]*)', 1) AS path, " +
      "regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', '') AS mpath " +
      "FROM fresh),\n" +
      "v AS (SELECT p.link_canon, p.link_host, p.found_by, p.path, " +
      "max(coalesce(2 * length(r.rprefix) + " +
      "CASE WHEN r.rallow THEN 1 ELSE 0 END, 1)) AS score " +
      "FROM pth p LEFT JOIN rules r ON r.rhost = p.link_host " +
      "AND starts_with(p.mpath, r.rprefix) GROUP BY 1, 2, 3, 4),\n" +
      "al AS (SELECT link_canon, link_host, found_by, " +
      "CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) " +
      "AS BIGINT) AS depth FROM v WHERE score % 2 = 1),\n" +
      "rk AS (SELECT link_host, link_canon, depth, found_by, " +
      "row_number() OVER (PARTITION BY link_host " +
      "ORDER BY depth, link_canon, found_by) AS rnk FROM al)"

  private def frontierOracleSql: String =
    "WITH " + frontierCtes + "\n" +
      "SELECT link_host, CAST(rnk AS BIGINT) AS rank, " +
      "link_canon AS url_canon, depth, found_by " +
      "FROM rk WHERE rnk <= 3 ORDER BY link_host, rank"

  /** q155: the q134 micro-unit PageRank recurrence unrolled over the
    * REAL cross-host edge list from [[linkCtes]] (floor division
    * loses mass identically in both engines; string node keys). */
  /** q155's unrolled PageRank recurrence as CTEs (expects `lc` from
    * [[linkCtes]] upstream), ending in `pr10(v, pr_micro)`. Shared by
    * the q155 and q187 oracles. */
  private def hostPagerankIterCtes: String = {
    val pre =
      "eg AS (SELECT DISTINCT src_host AS u, url_host AS v FROM lc " +
        "WHERE src_host <> url_host),\n" +
        "nodes AS (SELECT DISTINCT h AS v FROM " +
        "(SELECT u AS h FROM eg UNION SELECT v FROM eg) t),\n" +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),\n" +
        "outd AS (SELECT u, CAST(count(*) AS BIGINT) AS outd " +
        "FROM eg GROUP BY u),\n" +
        "pr0 AS (SELECT nodes.v, CAST(1000000 // nn.n AS BIGINT) " +
        "AS pr_micro FROM nodes, nn)"
    val iters = (1 to 10).map { k =>
      s"pr$k AS (SELECT no.v, " +
        "CAST(150000 // nn.n + coalesce(su.c, 0) AS BIGINT) AS pr_micro " +
        "FROM nodes no CROSS JOIN nn LEFT JOIN (" +
        "SELECT e.v, CAST(sum((85 * p.pr_micro) // (100 * o.outd)) " +
        "AS BIGINT) AS c " +
        s"FROM eg e JOIN pr${k - 1} p ON p.v = e.u " +
        "JOIN outd o ON o.u = e.u GROUP BY e.v) su ON su.v = no.v)"
    }
    (pre +: iters).mkString(",\n")
  }

  private def hostPagerankOracleSql: String =
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      linkCtes + ",\n" + hostPagerankIterCtes +
      "\nSELECT v AS host, pr_micro, pr_micro / 1000000.0 AS pr " +
      "FROM pr10 ORDER BY host"

  /** q203's cycle-2 training: the [[hostPagerankIterCtes]] recurrence
    * re-unrolled over an arbitrary upstream edge CTE `egCte(u, v)`,
    * every CTE name prefixed `p` so both trainings coexist in one
    * statement; ends in `${p}pr10(v, pr_micro)`. */
  private def pageRankIterCtesOver(p: String, egCte: String): String = {
    val pre =
      s"${p}nodes AS (SELECT DISTINCT h AS v FROM " +
        s"(SELECT u AS h FROM $egCte UNION SELECT v FROM $egCte) t),\n" +
        s"${p}nn AS (SELECT CAST(count(*) AS BIGINT) AS n " +
        s"FROM ${p}nodes),\n" +
        s"${p}outd AS (SELECT u, CAST(count(*) AS BIGINT) AS outd " +
        s"FROM $egCte GROUP BY u),\n" +
        s"${p}pr0 AS (SELECT ${p}nodes.v, " +
        s"CAST(1000000 // ${p}nn.n AS BIGINT) AS pr_micro " +
        s"FROM ${p}nodes, ${p}nn)"
    val iters = (1 to 10).map { k =>
      s"${p}pr$k AS (SELECT no.v, " +
        s"CAST(150000 // nn.n + coalesce(su.c, 0) AS BIGINT) " +
        "AS pr_micro " +
        s"FROM ${p}nodes no CROSS JOIN ${p}nn nn LEFT JOIN (" +
        "SELECT e.v, CAST(sum((85 * p.pr_micro) // (100 * o.outd)) " +
        "AS BIGINT) AS c " +
        s"FROM $egCte e JOIN ${p}pr${k - 1} p ON p.v = e.u " +
        s"JOIN ${p}outd o ON o.u = e.u GROUP BY e.v) su ON su.v = no.v)"
    }
    (pre +: iters).mkString(",\n")
  }

  /** q187: the q154 frontier CTEs + the PageRank recurrence composed —
    * hosts outside the link graph coalesce to 0, global order
    * (pr desc, host, per-host rank), budget 20. */
  private def authorityFetchOrderOracleSql: String =
    "WITH " + frontierCtes + ",\n" + hostPagerankIterCtes + ",\n" +
      "afj AS (SELECT f.link_host, CAST(f.rnk AS BIGINT) AS rank, " +
      "f.link_canon AS url_canon, " +
      "coalesce(p.pr_micro, 0) AS pr_micro " +
      "FROM rk f LEFT JOIN pr10 p ON p.v = f.link_host " +
      "WHERE f.rnk <= 3)\n" +
      "SELECT CAST(row_number() OVER (ORDER BY pr_micro DESC, " +
      "link_host, rank) AS BIGINT) AS global_rank, link_host, " +
      "pr_micro, rank, url_canon FROM afj " +
      "QUALIFY row_number() OVER (ORDER BY pr_micro DESC, link_host, " +
      "rank) <= 20 ORDER BY global_rank"

  /** q156: the robots.txt parse replayed relationally — the fold's
    * sequential group state becomes gaps-and-islands windows: a UA
    * line's group id is the count of RULE lines before it (stacked UA
    * lines share it because no rule intervenes, and ignored lines are
    * filtered out before counting, exactly the fold's
    * inua-unchanged-on-other-lines behavior); a rule line's group is
    * the running max of preceding UA group ids. */
  /** The shared robots.txt chain (rb-prefixed so it composes with
    * [[frontierCtes]] in q160): plant, line split, relevant lines —
    * now INCLUDING `crawl-delay` as its own kind, attributed to
    * groups by the same islands but never counted as a boundary
    * (matching both folds' ignored-line stacking) — islands, group
    * flags, host specificity. Ends in `rg2`/`rgrp`/`rasp`. */
  private def robotsTxtCtes: String =
    "rbh AS (SELECT DISTINCT lower(source) AS h FROM documents),\n" +
      "rt AS (SELECT h || '.example.com' AS host, " +
      "'# robots for ' || h || chr(10) || " +
      "'Sitemap: https://' || h || '.example.com/sitemap.xml' || " +
      "chr(10) || " +
      "'SITEMAP:' || chr(9) || 'HTTPS://WWW.' || upper(h) || " +
      "'.EXAMPLE.COM/maps//index.xml # primary' || chr(10) || " +
      "(CASE WHEN length(h) % 2 = 0 THEN 'Sitemap: https://cdn' || " +
      "regexp_extract(h, '([0-9])$', 1) || '.example.net/sm-root.xml' " +
      "|| chr(10) ELSE '' END) || " +
      "'Sitemap: /relative/sm.xml' || chr(10) || " +
      "'Disallow: /orphan' || chr(10) || " +
      "'User-Agent: BadBot' || chr(10) || 'Disallow: /tmp' || chr(10) || " +
      "chr(10) || 'user-agent: *' || chr(10) || 'Crawl-delay: 5' || " +
      "chr(10) || " +
      "'Sitemap: https://' || h || '.example.com/mid-group.xml' || " +
      "chr(10) || 'Disallow: /Docs/1' || chr(10) || " +
      "'Disallow: /Docs/1' || chr(10) || " +
      "'ALLOW: /Docs/12 # longest wins' || chr(10) || " +
      "'Allow: /Docs/3' || chr(10) || 'disallow: /Docs/3' || chr(10) || " +
      "'Disallow:' || chr(10) || " +
      "'Allow:' || chr(9) || '/Tab' || chr(13) || chr(10) || " +
      "'Disallow: /Cr' || chr(9) || chr(13) || chr(10) || " +
      "'Disallow: /w*card$' || chr(10) || " +
      "(CASE WHEN length(h) % 5 = 0 THEN chr(10) || " +
      "'User-agent: Extra' || chr(10) || 'user-agent: *' || chr(10) || " +
      "'Disallow: /' || chr(10) ELSE '' END) || " +
      "(CASE WHEN h LIKE '%3' THEN chr(10) || " +
      "'User-agent: graftbot' || chr(10) || 'Crawl-delay: 0.5' || " +
      "chr(10) || 'Allow: /Docs/1' || " +
      "chr(10) || 'Disallow: /private' || chr(10) ELSE '' END) AS txt " +
      "FROM rbh),\n" +
      // line split + trim mirror UrlOps.RobotsLineBreak/RobotsWs: any
      // of CRLF/CR/LF terminates a line, space+tab trim around values
      "rls AS (SELECT host, " +
      "unnest(string_split_regex(txt, '\\r\\n|\\r|\\n')) AS l, " +
      "unnest(generate_series(1, " +
      "len(string_split_regex(txt, '\\r\\n|\\r|\\n')))) AS ln " +
      "FROM rt),\n" +
      "rc1 AS (SELECT host, ln, " +
      "trim(regexp_replace(l, '#.*$', ''), ' ' || chr(9)) AS line " +
      "FROM rls),\n" +
      "rc2 AS (SELECT host, ln, lower(line) AS low, " +
      "trim(regexp_replace(line, '^[^:]*:', ''), ' ' || chr(9)) AS val " +
      "FROM rc1),\n" +
      "rrel AS (SELECT host, ln, val, lower(val) AS vlc, " +
      "CASE WHEN low LIKE 'user-agent:%' THEN 'ua' " +
      "WHEN low LIKE 'crawl-delay:%' THEN 'delay' " +
      "ELSE 'rule' END AS kind, " +
      "low LIKE 'allow:%' AS is_allow FROM rc2 " +
      "WHERE low LIKE 'user-agent:%' OR low LIKE 'allow:%' " +
      "OR low LIKE 'disallow:%' OR low LIKE 'crawl-delay:%'),\n" +
      "rg AS (SELECT host, ln, val, vlc, kind, is_allow, " +
      "sum(CASE WHEN kind = 'rule' THEN 1 ELSE 0 END) OVER " +
      "(PARTITION BY host ORDER BY ln ROWS UNBOUNDED PRECEDING) AS rc " +
      "FROM rrel),\n" +
      "rg2 AS (SELECT host, ln, val, kind, is_allow, " +
      "max(CASE WHEN kind = 'ua' THEN rc END) OVER " +
      "(PARTITION BY host ORDER BY ln ROWS UNBOUNDED PRECEDING) AS gid " +
      "FROM rg),\n" +
      "rgrp AS (SELECT host, rc AS gid, bool_or(vlc = 'graftbot') AS m, " +
      "bool_or(vlc = '*') AS s FROM rg WHERE kind = 'ua' GROUP BY 1, 2),\n" +
      "rasp AS (SELECT host, bool_or(vlc = 'graftbot') AS any_sp FROM rg " +
      "WHERE kind = 'ua' GROUP BY 1)"

  private def robotsParseOracleSql: String =
    "WITH " + robotsTxtCtes + ",\n" +
      "em AS (SELECT r.host, r.val AS path_prefix, r.is_allow AS allow, " +
      "gr.m AS from_specific FROM rg2 r " +
      "JOIN rgrp gr ON gr.host = r.host AND gr.gid = r.gid " +
      "WHERE r.kind = 'rule' AND r.val <> '' AND (gr.m OR gr.s))\n" +
      // DISTINCT mirrors the fold's array_distinct tail: a repeated
      // rule line is one logical rule
      "SELECT DISTINCT e.host, e.path_prefix, e.allow, e.from_specific, " +
      "contains(e.path_prefix, '*') OR ends_with(e.path_prefix, '$') " +
      "AS has_wildcard " +
      "FROM em e JOIN rasp ON rasp.host = e.host " +
      "WHERE e.from_specific OR NOT rasp.any_sp " +
      "ORDER BY e.host, e.path_prefix, e.allow"

  /** The q195/q196 mirror plant + component closure as CTEs (reads
    * `documents`, ends in `mcomp(mhost, rep)` — min host per connected
    * mirror component): the exact-equality host-pair lift with the
    * degenerate-hash cap, symmetric edges, and a RECURSIVE transitive
    * reach folded to min label (requires a `WITH RECURSIVE` prefix).
    * Shared by the q196 and q198 oracles. */
  private def mirrorComponentCtes: String =
    "mcls AS (SELECT 'src' || CAST(CASE WHEN doc_id % 3 = 0 " +
      "THEN (doc_id % 5) * 2 ELSE doc_id % 20 END AS VARCHAR) || " +
      "'.example.com' AS mhost, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'mirrored ' || " +
      "CAST(doc_id % 29 AS VARCHAR) " +
      "ELSE 'uniq ' || CAST(doc_id AS VARCHAR) END AS mt " +
      "FROM documents),\n" +
      "mhx AS (SELECT DISTINCT mhost, mt FROM mcls),\n" +
      "mcnt AS (SELECT mt, count(*) AS n FROM mhx GROUP BY mt),\n" +
      "mok AS (SELECT mhx.mhost, mhx.mt FROM mhx " +
      "JOIN mcnt USING (mt) WHERE n <= 6),\n" +
      "mpr AS (SELECT a.mhost AS ha, b.mhost AS hb FROM mok a " +
      "JOIN mok b ON a.mt = b.mt AND a.mhost < b.mhost " +
      "GROUP BY 1, 2 HAVING count(*) >= 2),\n" +
      "medge AS (SELECT ha AS s, hb AS d FROM mpr " +
      "UNION ALL SELECT hb, ha FROM mpr),\n" +
      "mreach(h, r) AS (SELECT s, s FROM medge " +
      "UNION SELECT m.h, e.d FROM mreach m " +
      "JOIN medge e ON e.s = m.r),\n" +
      "mcomp AS (SELECT h AS mhost, min(r) AS rep FROM mreach " +
      "GROUP BY h)"

  /** q160: [[frontierCtes]] + [[robotsTxtCtes]] composed — the delay
    * winner replays the fold (specific class if the host named the
    * agent anywhere, else the `*` class; LAST line wins), micros
    * parsing shared, schedule arithmetic exact. */
  /** The crawl-delay winner replay over [[robotsTxtCtes]]' `rg2`/
    * `rgrp`/`rasp` — the fold's specific-class-if-named-anywhere,
    * LAST-line-wins selection and the shared micros parse — ending in
    * `dms(host, dmic)`. Shared by the q160 and q178 oracles. */
  private def crawlDelayCtes: String =
    "dl AS (SELECT r.host, r.val, r.ln, gr.m, gr.s FROM rg2 r " +
      "JOIN rgrp gr ON gr.host = r.host AND gr.gid = r.gid " +
      "WHERE r.kind = 'delay'),\n" +
      "dcl AS (SELECT host, val, ln, " +
      "CASE WHEN m THEN 'sp' ELSE 'st' END AS cls FROM dl " +
      "WHERE m OR s),\n" +
      "dw AS (SELECT d.host, d.val AS raw FROM dcl d " +
      "JOIN rasp a ON a.host = d.host " +
      "WHERE d.cls = (CASE WHEN a.any_sp THEN 'sp' ELSE 'st' END) " +
      "AND d.ln = (SELECT max(d2.ln) FROM dcl d2 " +
      "WHERE d2.host = d.host AND d2.cls = d.cls)),\n" +
      "dms AS (SELECT host, " +
      "CASE WHEN regexp_matches(raw, '^[0-9]+(\\.[0-9]{1,6})?$') THEN " +
      "CAST(regexp_extract(raw, '^([0-9]+)', 1) AS BIGINT) * 1000000 + " +
      "CAST(rpad(regexp_extract(raw, '^[0-9]+\\.([0-9]{1,6})$', 1), " +
      "6, '0') AS BIGINT) END AS dmic FROM dw)"

  private def fetchScheduleOracleSql: String =
    "WITH " + frontierCtes + ",\n" + robotsTxtCtes + ",\n" +
      crawlDelayCtes + "\n" +
      "SELECT f.link_host, CAST(f.rnk AS BIGINT) AS rank, " +
      "f.link_canon AS url_canon, f.depth, f.found_by, " +
      "CAST((f.rnk - 1) * coalesce(d.dmic, 1000000) AS BIGINT) " +
      "AS fetch_at_micros " +
      "FROM rk f LEFT JOIN dms d ON d.host = f.link_host " +
      "WHERE f.rnk <= 3 ORDER BY link_host, rank"

  /** The sitemap-body plant alone (reads `hosts(h)`, ends in
    * `sm(host, xml)`) — shared by the `<url>` tier ([[sitemapCtes]],
    * q157 + q162) and q164's `<sitemap>` index tier. */
  private def sitemapPlantCte: String =
    "sm AS (SELECT h || '.example.com' AS host, " +
      "'<?xml version=\"1.0\"?><urlset>' || " +
      "'<sitemap><loc>https://' || h || " +
      "'.example.com/more.xml</loc></sitemap>' || " +
      "'<sitemap>' || chr(10) || '  <loc> HTTPS://WWW.' || upper(h) || " +
      "'.EXAMPLE.COM/maps//part-' || regexp_extract(h, '([0-9])$', 1) || " +
      "'.xml </loc>' || chr(10) || '  <lastmod>2026-02-1' || " +
      "regexp_extract(h, '([0-9])$', 1) || '</lastmod>' || chr(10) || " +
      "'</sitemap>' || " +
      "(CASE WHEN length(h) % 2 = 0 THEN " +
      "'<sitemap><loc>https://cdn' || regexp_extract(h, '([0-9])$', 1) || " +
      "'.example.net/sm.xml</loc></sitemap>' ELSE '' END) || " +
      "'<sitemap><lastmod>2026-01-01</lastmod></sitemap>' || " +
      "'<url>' || chr(10) || '  <loc> HTTPS://WWW.' || upper(h) || " +
      "'.EXAMPLE.COM/Docs//' || regexp_extract(h, '([0-9])$', 1) || " +
      "'/?utm_source=map </loc>' || chr(10) || '  <lastmod>2026-01-1' || " +
      "regexp_extract(h, '([0-9])$', 1) || '</lastmod>' || chr(10) || " +
      "'</url>' || " +
      "'<url><loc>https://' || h || '.example.com/Docs/' || " +
      "regexp_extract(h, '([0-9])$', 1) || '?b=2</loc></url>' || " +
      "'<url><lastmod>2026-02-02</lastmod></url>' || " +
      "(CASE WHEN length(h) % 2 = 0 THEN " +
      "'<url><loc>https://cdn' || regexp_extract(h, '([0-9])$', 1) || " +
      "'.example.net/lib</loc><lastmod>2026-03-03</lastmod></url>' " +
      "ELSE '' END) || " +
      "(CASE WHEN length(h) % 2 = 1 THEN " +
      "'<url><loc>https://' || h || '.example.com/Docs/12/old-' || " +
      "regexp_extract(h, '([0-9])$', 1) || " +
      "'</loc><lastmod>2020-03-15</lastmod></url>' " +
      "ELSE '' END) || '</urlset>' AS xml FROM hosts)"

  /** The `<url>`-tier parse over the shared plant: reads `hosts(h)`,
    * ends in `sc(sitemap_host, lastmod, ..., url_canon, url_host)` —
    * used by q157's oracle and composed into q162's frontier oracle. */
  private def sitemapCtes: String =
    sitemapPlantCte + ",\n" +
      "bl AS (SELECT host AS sitemap_host, " +
      "unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS b " +
      "FROM sm),\n" +
      "li AS (SELECT sitemap_host, " +
      "trim(regexp_extract(b, '(?s)<lastmod>(.*?)</lastmod>', 1)) " +
      "AS lastmod, " +
      "trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)) AS url " +
      "FROM bl WHERE trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)) " +
      "<> ''),\n" +
      urlCanonChain("li", "s", "sc", Seq("sitemap_host", "lastmod"))

  /** q165: the q158 WARC framing around the q163 response classes,
    * the shared parse chain, the length gate, then the shared HTTP
    * extraction feeding the (status, media type) census. */
  private def warcHealthOracleSql: String = {
    "WITH aug AS (" + urlPlantSql + "),\n" + httpPlantCte + ",\n" +
      "pp AS (SELECT a.doc_id, a.url, pl.p AS http, " +
      "'fetchTimeMs: ' || CAST(a.doc_id AS VARCHAR) AS p2 " +
      "FROM aug a JOIN pl ON a.doc_id = pl.doc_id),\n" +
      warcFileCte + ",\n" + warcParseCtes + ",\n" +
      "hr AS (SELECT doc_id, payload AS p FROM r3 " +
      "WHERE warc_type = 'response' " +
      "AND coalesce(length(payload) = content_length, false)),\n" +
      httpParseCtes + "\n" +
      "SELECT http_status, http_media_type, " +
      "CAST(count(*) AS BIGINT) AS n_responses, " +
      "CAST(sum(CASE WHEN coalesce(http_status = 200 AND " +
      "http_media_type = 'text/html', false) THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_fetchable " +
      "FROM px GROUP BY 1, 2 " +
      "ORDER BY http_status NULLS FIRST, http_media_type"
  }

  /** q164: the `<sitemap>` index tier over the SAME plant — block
    * extraction on the sitemap tag, the same loc/lastmod pulls and
    * canonicalization chain as the `<url>` tier. */
  private def sitemapIndexOracleSql: String =
    "WITH hosts AS (SELECT DISTINCT lower(source) AS h FROM documents),\n" +
      sitemapPlantCte + ",\n" +
      "ib AS (SELECT host AS sitemap_host, " +
      "unnest(regexp_extract_all(xml, '(?s)<sitemap>(.*?)</sitemap>', 1)) " +
      "AS b FROM sm),\n" +
      "ii AS (SELECT sitemap_host, " +
      "trim(regexp_extract(b, '(?s)<lastmod>(.*?)</lastmod>', 1)) " +
      "AS lastmod, " +
      "trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)) AS url " +
      "FROM ib WHERE trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)) " +
      "<> ''),\n" +
      urlCanonChain("ii", "ix", "ic", Seq("sitemap_host", "lastmod")) + "\n" +
      "SELECT sitemap_host, url_canon, url_host, lastmod, " +
      "lastmod <> '' AS had_lastmod, " +
      "url_host = sitemap_host AS in_scope FROM ic " +
      "ORDER BY sitemap_host, url_canon"

  /** q174: the robots plant's line discipline replayed through the
    * SHARED comment-strip/trim CTEs (`rc1`), then the sitemap-line
    * filter, the absolute-URL gate, and the canonicalization chain.
    * The rule-parse CTEs riding along in [[robotsTxtCtes]] stay
    * unreferenced (and unevaluated). */
  // the carry column must NOT be named `host` — the canonicalization
  // chain derives its own `host` internally and the duplicate name
  // mis-binds (hit for real: the cdn row canonicalized under the
  // declaring host)
  /** q174's harvest as CTEs — robots line discipline, the
    * sitemap-line filter, absolute-URL gate, canonicalization chain —
    * ending in `smc(rb_host, url, url_canon, url_host)`. Shared by
    * the q174 and q176 oracles. */
  private def robotsSitemapHarvestCtes: String =
    robotsTxtCtes + ",\n" +
      "smf AS (SELECT host AS rb_host, line FROM rc1 " +
      "WHERE lower(line) LIKE 'sitemap:%'),\n" +
      "smv AS (SELECT rb_host, trim(regexp_replace(line, '^[^:]*:', " +
      "''), ' ' || chr(9)) AS v FROM smf),\n" +
      "sma AS (SELECT rb_host, v AS url FROM smv " +
      "WHERE regexp_matches(v, '(?i)^https?://')),\n" +
      urlCanonChain("sma", "sz", "smc", Seq("rb_host"))

  private def robotsSitemapsOracleSql: String =
    "WITH " + robotsSitemapHarvestCtes + "\n" +
      "SELECT rb_host AS host, url_canon, url_host, " +
      "url_host = rb_host AS in_scope " +
      "FROM smc ORDER BY host, url_canon"

  /** q175: the rel-page plant replayed — meta flags from the
    * name-first/content-first meta patterns' comma token lists, the
    * whole-tag harvest with the href presence filter and rel TOKEN
    * membership, plant-scoped resolution (root-relative + absolute,
    * the only planted classes), then the shared canonicalization
    * chain with the four flags carried through. */
  /** q175's plant + harvest as CTEs (expects `c` upstream): the
    * rel-page construction, meta token flags, the whole-tag harvest,
    * rel token membership, plant-scoped resolution, ending in the
    * chain output `nc(doc_id, link_nofollow, meta_noindex,
    * meta_nofollow, url, url_canon, url_host, …)`. Shared by the
    * q175 and q180 oracles. */
  private def nofollowLinkCtes: String = {
    val u = graft.ext.UrlOps
    "hm AS (SELECT doc_id, url AS base_raw, url_canon AS base, " +
      "'<html><head>' || " +
      "(CASE WHEN doc_id % 5 = 0 THEN " +
      "'<meta name=\"robots\" content=\" NOINDEX ,' || chr(9) || " +
      "'nofollow \">' " +
      "WHEN doc_id % 5 = 1 THEN " +
      "'<META CONTENT=\"noindex\" NAME=\"robots\">' " +
      "WHEN doc_id % 5 = 2 THEN " +
      "'<meta name=\"robots\" content=\"none\">' " +
      "WHEN doc_id % 5 = 3 THEN " +
      "'<meta name=\"robots\" content=\"all\">' ELSE '' END) || " +
      "'<title>t</title></head><body><p>' || " +
      "'<a href=\"/keep/' || CAST(doc_id % 13 AS VARCHAR) || " +
      "'\">keep</a> ' || " +
      "'<a rel=\"nofollow\" href=\"/nf/' || " +
      "CAST(doc_id % 13 AS VARCHAR) || '\">nf</a> ' || " +
      "(CASE WHEN doc_id % 2 = 0 THEN '<A HREF=\"/multi/' || " +
      "CAST(doc_id % 3 AS VARCHAR) || " +
      "'\" REL=\"noopener NOFOLLOW ugc\">m</A> ' ELSE '' END) || " +
      "(CASE WHEN doc_id % 3 = 0 THEN " +
      "'<a rel=\"nofollowme\" href=\"/trap/' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '\">trap</a> ' ELSE '' END) || " +
      "(CASE WHEN doc_id % 7 = 0 THEN " +
      "'<a rel=\"nofollow\" href=\"https://ads' || " +
      "CAST(doc_id % 3 AS VARCHAR) || " +
      "'.example.net/click\">ad</a> ' ELSE '' END) || " +
      "'<a name=\"anchor-only\">x</a></p></body></html>' AS html " +
      "FROM c),\n" +
      "mf AS (SELECT doc_id, base, base_raw, html, " +
      "list_contains(toks, 'noindex') OR list_contains(toks, 'none') " +
      "AS meta_noindex, " +
      "list_contains(toks, 'nofollow') OR list_contains(toks, 'none') " +
      "AS meta_nofollow FROM (SELECT *, " +
      "list_transform(string_split(lower(coalesce(" +
      "nullif(regexp_extract(html, '" + u.MetaRobotsNameFirstPattern +
      "', 1), ''), " +
      "nullif(regexp_extract(html, '" + u.MetaRobotsContentFirstPattern +
      "', 1), ''), '')), ','), x -> trim(x, ' ' || chr(9) || chr(10) || chr(13) || chr(12))) AS toks " +
      "FROM hm) t0),\n" +
      "tg AS (SELECT doc_id, base, base_raw, meta_noindex, " +
      "meta_nofollow, unnest(regexp_extract_all(html, '" +
      u.AnchorTagPattern + "', 0)) AS tag FROM mf),\n" +
      "th AS (SELECT doc_id, base, meta_noindex, meta_nofollow, " +
      "regexp_extract(tag, '" + u.TagHrefPattern + "', 1) AS href, " +
      "list_contains(string_split_regex(lower(regexp_extract(tag, '" +
      u.TagRelPattern + "', 1)), '" + graft.ext.UrlOps.HtmlWsClass + "+'), 'nofollow') " +
      "AS link_nofollow FROM tg " +
      "WHERE regexp_matches(tag, '(?i)href\\s*=\\s*\"')),\n" +
      "la AS (SELECT doc_id, meta_noindex, meta_nofollow, " +
      "link_nofollow, CASE WHEN starts_with(href, '/') THEN " +
      "regexp_extract(base, '^([a-z][a-z0-9+.-]*)://', 1) || '://' || " +
      "regexp_extract(base, '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) || " +
      "href WHEN regexp_matches(href, '(?i)^https?://') THEN href " +
      "END AS url FROM th),\n" +
      urlCanonChain("la", "n", "nc",
        Seq("doc_id", "link_nofollow", "meta_noindex", "meta_nofollow"))
  }

  private def nofollowOracleSql: String =
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      nofollowLinkCtes +
      "\nSELECT doc_id, url_canon AS link_canon, url_host AS link_host, " +
      "link_nofollow, meta_noindex, meta_nofollow, " +
      "NOT (link_nofollow OR meta_nofollow) AS follow " +
      "FROM nc ORDER BY doc_id, link_canon"

  /** q176's body-construction + `<url>`-pull + dedup as CTEs (expects
    * `smc` from [[robotsSitemapHarvestCtes]] upstream), ending in
    * `rcand(link_canon, link_host, lastmod)`. Shared by the q176 and
    * q180 oracles. */
  private def robotsSitemapCandCtes: String = {
    val nl = "chr(10)"
    "rsd AS (SELECT url_canon AS sm_url, url_host AS smh FROM smc " +
      "WHERE url_host = rb_host),\n" +
      "rsb AS (SELECT smh, " +
      "regexp_extract(sm_url, '/([a-z-]+)\\.xml$', 1) AS mk, " +
      "regexp_extract(smh, '([0-9])\\.example\\.com$', 1) AS dg " +
      "FROM rsd),\n" +
      "rbod AS (SELECT smh, '<?xml version=\"1.0\"?><urlset>' || " +
      "'<url><loc>https://' || smh || '/rsm/' || mk || " +
      "'-a</loc><lastmod>2026-02-03</lastmod></url>' || " +
      "'<url><loc>https://' || smh || " +
      "'/Docs/1</loc><lastmod>2026-02-01</lastmod></url>' || " +
      "'<url>' || " + nl + " || '  <loc> HTTPS://WWW.' || " +
      "upper(smh) || '/rsm//' || mk || '-b?b=2&a=1 </loc>' || " + nl +
      " || '</url>' || " +
      "'<url><loc>https://' || smh || '/Docs/3?b=2&a=1</loc></url>' || " +
      "'<url><loc>https://cdn' || dg || " +
      "'.example.net/rsm-x</loc></url>' || '</urlset>' AS xml " +
      "FROM rsb),\n" +
      "rbl AS (SELECT smh, unnest(regexp_extract_all(xml, " +
      "'(?s)<url>(.*?)</url>', 1)) AS b FROM rbod),\n" +
      "rli AS (SELECT smh, " +
      "trim(regexp_extract(b, '(?s)<lastmod>(.*?)</lastmod>', 1)) " +
      "AS lastmod, " +
      "trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)) AS url " +
      "FROM rbl WHERE trim(regexp_extract(b, " +
      "'(?s)<loc>(.*?)</loc>', 1)) <> ''),\n" +
      urlCanonChain("rli", "rz", "rlc", Seq("smh", "lastmod")) + ",\n" +
      "rcand AS (SELECT url_canon AS link_canon, url_host AS " +
      "link_host, max(lastmod) AS lastmod FROM rlc " +
      "WHERE url_host = smh GROUP BY 1, 2)"
  }

  /** q176: the q174 harvest CTEs, the body construction, then the
    * q162/q171 frontier tail — seen anti join, robots integer max,
    * recency bucket, packed-ordinal budget window. */
  private def robotsSitemapFrontierOracleSql: String = {
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      robotsRulesCtes + ",\n" + robotsSitemapHarvestCtes + ",\n" +
      robotsSitemapCandCtes + ",\n" +
      "seen AS (SELECT DISTINCT url_canon FROM c),\n" +
      "rfresh AS (SELECT rcand.* FROM rcand LEFT JOIN seen " +
      "ON rcand.link_canon = seen.url_canon " +
      "WHERE seen.url_canon IS NULL),\n" +
      "rpth AS (SELECT link_canon, link_host, lastmod, " +
      "regexp_extract(regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', ''), '^([^?]*)', 1) AS path, " +
      "regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', '') AS mpath FROM rfresh),\n" +
      "rv AS (SELECT p.link_canon, p.link_host, p.lastmod, p.path, " +
      "max(coalesce(2 * length(r.rprefix) + " +
      "CASE WHEN r.rallow THEN 1 ELSE 0 END, 1)) AS score " +
      "FROM rpth p LEFT JOIN rules r ON r.rhost = p.link_host " +
      "AND starts_with(p.mpath, r.rprefix) GROUP BY 1, 2, 3, 4),\n" +
      "ral AS (SELECT link_canon, link_host, lastmod, " +
      "CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) " +
      "AS BIGINT) AS depth FROM rv WHERE score % 2 = 1),\n" +
      "rrb AS (SELECT *, CAST(CASE WHEN " +
      "regexp_matches(lastmod, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') " +
      "AND try_cast(lastmod AS DATE) IS NOT NULL THEN " +
      "least(greatest(date_diff('day', try_cast(lastmod AS DATE), " +
      "DATE '2026-02-10'), 0) // 30, 11) ELSE 12 END AS BIGINT) " +
      "AS recency_bucket FROM ral),\n" +
      "rrk AS (SELECT link_host, link_canon, depth, recency_bucket, " +
      "row_number() OVER (PARTITION BY link_host " +
      "ORDER BY recency_bucket * 1048576 + least(depth, 1048575), " +
      "link_canon) AS rnk FROM rrb)\n" +
      "SELECT link_host, CAST(rnk AS BIGINT) AS rank, " +
      "link_canon AS url_canon, depth, recency_bucket " +
      "FROM rrk WHERE rnk <= 3 ORDER BY link_host, rank"
  }

  /** q177: the base-page plant replayed — first `<base href>` pull,
    * the effective-base CASE (absolute kept, root-relative resolved
    * against the fetched CANONICAL authority, path-relative resolved
    * through the fetched URL's §5.2.3 merge directory, dropped-kind/
    * absent falling back to the fetched URL), its canonicalization
    * chain,
    * then the href harvest resolved against the effective base (the
    * linkCtes discipline: scheme/authority from the canonical base,
    * merge directory from the RAW base) and the link chain. */
  private def baseHrefOracleSql: String = {
    val u = graft.ext.UrlOps
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      "bh AS (SELECT doc_id, url AS fraw, url_canon AS fc, " +
      "'<html><head>' || " +
      "(CASE WHEN doc_id % 5 = 0 THEN '<base href=\"https://tpl' || " +
      "CAST(doc_id % 3 AS VARCHAR) || '.example.net/t/' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '/\">' " +
      "WHEN doc_id % 5 = 1 THEN '<base href=\"/newroot/sub/\">' " +
      "WHEN doc_id % 5 = 3 THEN '<base href=\"javascript:void(0)\">' " +
      "|| '<base href=\"https://second.example.net/x/\">' " +
      "WHEN doc_id % 5 = 4 THEN '<base href=\"sub/\">' " +
      "ELSE '' END) || " +
      "'</head><body><a href=\"page-rel\">p</a> ' || " +
      "'<a href=\"/root-a\">r</a> ' || " +
      "'<a href=\"https://fix.example.net/abs\">x</a></body></html>' " +
      "AS html FROM c),\n" +
      "bx AS (SELECT *, nullif(regexp_extract(html, '" +
      u.BaseHrefPattern + "', 1), '') AS bhref, " +
      "regexp_extract(fc, '^([a-z][a-z0-9+.-]*)://', 1) AS fcs, " +
      "regexp_extract(fc, '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) AS fca, " +
      "regexp_replace(regexp_extract(regexp_replace(fraw, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '^([^?#]*)', 1), " +
      "'[^/]*$', '') AS fdir0 FROM bh),\n" +
      // Effective-base CASE: the exact graft_link_resolve kind ladder
      // (fragment / abs-with-dotseg / absolute / foreign scheme /
      // relative-with-dotseg / protocol- / root- / path-relative), so
      // every drop class falls back to the fetched URL and every
      // resolvable class resolves precisely as withDocumentBase does.
      "db2 AS (SELECT doc_id, html, CASE " +
      "WHEN bhref IS NULL THEN fraw " +
      "WHEN starts_with(bhref, '#') THEN fraw " +
      "WHEN regexp_matches(bhref, '(?i)^https?://') AND " +
      "regexp_matches(regexp_extract(regexp_replace(bhref, " +
      "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '^([^?#]*)', 1), " +
      "'(^|/)\\.\\.?(/|$)') THEN fraw " +
      "WHEN regexp_matches(bhref, '(?i)^https?://') THEN bhref " +
      "WHEN regexp_matches(bhref, '^[A-Za-z][A-Za-z0-9+.-]*:') " +
      "THEN fraw " +
      "WHEN regexp_matches(bhref, '(^|/)\\.\\.?(/|$)') THEN fraw " +
      "WHEN starts_with(bhref, '//') THEN fcs || ':' || bhref " +
      "WHEN starts_with(bhref, '/') THEN fcs || '://' || fca || bhref " +
      "ELSE fcs || '://' || fca || " +
      "(CASE WHEN fdir0 = '' THEN '/' ELSE fdir0 END) || bhref " +
      "END AS url FROM bx),\n" +
      urlCanonChain("db2", "dbz", "dbc", Seq("doc_id", "html")) + ",\n" +
      "bl0 AS (SELECT doc_id, html, url AS base_raw, url_canon AS " +
      "base FROM dbc),\n" +
      "blx AS (SELECT doc_id, base, base_raw, " +
      "unnest(regexp_extract_all(html, '" + u.HrefPattern +
      "', 1)) AS href FROM bl0),\n" +
      "bbb AS (SELECT doc_id, href, " +
      "regexp_extract(base, '^([a-z][a-z0-9+.-]*)://', 1) AS bscheme, " +
      "regexp_extract(base, '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) " +
      "AS bauth, CASE WHEN rdir = '' THEN '/' ELSE rdir END AS bdir " +
      "FROM (SELECT *, regexp_replace(regexp_extract(regexp_replace(" +
      "base_raw, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), " +
      "'^([^?#]*)', 1), '[^/]*$', '') AS rdir FROM blx) t),\n" +
      "brs AS (SELECT doc_id, href, " +
      "CASE WHEN starts_with(href, '/') THEN 'root_relative' " +
      "WHEN regexp_matches(href, '(?i)^https?://') THEN 'absolute' " +
      "ELSE 'path_relative' END AS link_kind, " +
      "CASE WHEN starts_with(href, '/') THEN " +
      "bscheme || '://' || bauth || href " +
      "WHEN regexp_matches(href, '(?i)^https?://') THEN href " +
      "ELSE bscheme || '://' || bauth || bdir || href END AS url " +
      "FROM bbb),\n" +
      urlCanonChain("brs", "bz", "blc",
        Seq("doc_id", "href", "link_kind")) +
      "\nSELECT doc_id, href AS href_raw, link_kind, " +
      "url_canon AS link_canon, url_host AS link_host " +
      "FROM blc ORDER BY doc_id, href_raw"
  }

  /** q178: the throttle plant, the (?mi) header pull, both
    * Retry-After forms (delta seconds verbatim; the strict
    * IMF-fixdate regex + CASE month map → second-level date_diff
    * against the as-of, clamped at 0, guarded by try_cast so a
    * shape-valid impossible date stays null), per-host max, then the
    * shared crawl-delay winner CTEs and the greatest() fold. */
  /** q178's plant + parse + per-host aggregate as CTEs ending in
    * `rag(host, retry_after_micros, n_throttled)`. Shared by the
    * q178 and q181 oracles. */
  private def retryAfterCtes: String = {
    val crlf = "chr(13) || chr(10)"
    val imfRx = "'^[A-Za-z]{3}, ([0-9]{2}) (Jan|Feb|Mar|Apr|May|Jun|" +
      "Jul|Aug|Sep|Oct|Nov|Dec) ([0-9]{4}) " +
      "[0-9]{2}:[0-9]{2}:[0-9]{2} GMT$'"
    val monthCase = "CASE regexp_extract(rav, " + imfRx + ", 2) " +
      "WHEN 'Jan' THEN '01' WHEN 'Feb' THEN '02' WHEN 'Mar' THEN '03' " +
      "WHEN 'Apr' THEN '04' WHEN 'May' THEN '05' WHEN 'Jun' THEN '06' " +
      "WHEN 'Jul' THEN '07' WHEN 'Aug' THEN '08' WHEN 'Sep' THEN '09' " +
      "WHEN 'Oct' THEN '10' WHEN 'Nov' THEN '11' ELSE '12' END"
    val isoTs = "regexp_extract(rav, " + imfRx + ", 3) || '-' || (" +
      monthCase + ") || '-' || regexp_extract(rav, " + imfRx +
      ", 1) || ' ' || regexp_extract(rav, " +
      "' ([0-9]{2}:[0-9]{2}:[0-9]{2}) GMT$', 1)"
    "rpl AS (SELECT doc_id, lower(source) || '.example.com' " +
      "AS host, CASE " +
      "WHEN (doc_id % 100) // 20 = 0 THEN 'HTTP/1.1 429 Too Many Requests' || " +
      crlf + " || 'Retry-After: ' || " +
      "CAST((doc_id % 7) * 10 + 5 AS VARCHAR) || " + crlf + " || " +
      crlf + " || 'slow down' " +
      "WHEN (doc_id % 100) // 20 = 1 THEN 'HTTP/1.1 503 Service Unavailable' " +
      "|| " + crlf + " || " +
      "'Retry-After: Sat, 14 Feb 2026 12:00:00 GMT' || " + crlf +
      " || " + crlf + " || 'maint' " +
      "WHEN (doc_id % 100) // 20 = 2 THEN 'HTTP/1.1 503 Service Unavailable' " +
      "|| " + crlf + " || 'Retry-After: soon' || " + crlf + " || " +
      crlf + " || 'maint' " +
      "WHEN (doc_id % 100) // 20 = 3 THEN 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: text/html' || " + crlf + " || " + crlf +
      " || '<html>ok ' || CAST(doc_id AS VARCHAR) || '</html>' " +
      "ELSE 'HTTP/1.1 429 Too Many Requests' || " + crlf + " || " +
      crlf + " || 'slow' END AS p FROM documents),\n" +
      "rhd AS (SELECT host, " +
      "CAST(regexp_extract(p, '^HTTP/[0-9.]+ ([0-9]{3})', 1) " +
      "AS BIGINT) AS st, " +
      "trim(regexp_extract(list_extract(string_split(p, " + crlf +
      " || " + crlf + "), 1), '(?mi)^Retry-After:([^\r]*)', 1), " +
      "' ' || chr(9)) AS rav FROM rpl),\n" +
      "rra AS (SELECT host, CASE " +
      "WHEN regexp_matches(rav, '^[0-9]{1,9}$') THEN " +
      "CAST(rav AS BIGINT) * 1000000 " +
      "WHEN regexp_matches(rav, " + imfRx + ") AND " +
      "try_cast((" + isoTs + ") AS TIMESTAMP) IS NOT NULL THEN " +
      "greatest(date_diff('second', " +
      "TIMESTAMP '2026-02-10 00:00:00', " +
      "try_cast((" + isoTs + ") AS TIMESTAMP)), 0) * 1000000 " +
      "END AS ra_us FROM rhd WHERE st IN (429, 503)),\n" +
      "rag AS (SELECT host, max(ra_us) AS retry_after_micros, " +
      "CAST(count(*) AS BIGINT) AS n_throttled FROM rra " +
      "GROUP BY host)"
  }

  private def retryAfterOracleSql: String =
    "WITH " + retryAfterCtes + ",\n" +
      robotsTxtCtes + ",\n" + crawlDelayCtes + "\n" +
      "SELECT g.host, g.n_throttled, g.retry_after_micros, " +
      "d.dmic AS crawl_delay_micros, " +
      "greatest(coalesce(g.retry_after_micros, 0), " +
      "coalesce(d.dmic, 0)) AS backoff_micros " +
      "FROM rag g LEFT JOIN dms d ON d.host = g.host ORDER BY g.host"

  /** q181: the q154 frontier + q160 delay winner + q178 throttle
    * aggregate composed — `hold + (rank−1)·delay` per slot. */
  private def throttledScheduleOracleSql: String =
    "WITH " + frontierCtes + ",\n" + robotsTxtCtes + ",\n" +
      crawlDelayCtes + ",\n" + retryAfterCtes + "\n" +
      "SELECT f.link_host, CAST(f.rnk AS BIGINT) AS rank, " +
      "f.link_canon AS url_canon, f.depth, f.found_by, " +
      "CAST(coalesce(g.retry_after_micros, 0) + " +
      "(f.rnk - 1) * coalesce(d.dmic, 1000000) AS BIGINT) " +
      "AS fetch_at_micros " +
      "FROM rk f LEFT JOIN dms d ON d.host = f.link_host " +
      "LEFT JOIN rag g ON g.host = f.link_host " +
      "WHERE f.rnk <= 3 ORDER BY link_host, rank"

  /** q179: the anchor plant replayed — the whole-unit harvest, the
    * href presence filter, rel token membership, the text pull +
    * normalization (global-flag regexp_replace — DuckDB replaces
    * first-only by default), plant-scoped resolution (absolute +
    * root-relative), the chain, then the (target, norm) rollup. */
  private def anchorTextOracleSql: String = {
    val u = graft.ext.UrlOps
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      "ahm AS (SELECT doc_id, url_canon AS base, url_host AS src_host, " +
      "'<html><body><a href=\"' || hub || '\">' || " +
      "(CASE WHEN doc_id % 2 = 0 THEN 'Hub Portal' " +
      "ELSE 'hub   PORTAL' END) || '</a> ' || " +
      "(CASE WHEN doc_id % 4 = 0 THEN '<a href=\"' || hub || " +
      "'\">Visit' || chr(10) || 'Now</a> ' ELSE '' END) || " +
      "'<a rel=\"nofollow\" href=\"' || hub || '\">sponsored</a> ' || " +
      "'<a href=\"/local/' || CAST(doc_id % 13 AS VARCHAR) || " +
      "'\"> Section ' || CAST(doc_id % 13 AS VARCHAR) || ' </a> ' || " +
      "'<a href=\"https://img.example.net/i\"><b>bold</b></a>' || " +
      "'<a href=\"' || hub || '\"></a>' || " +
      "'</body></html>' AS html FROM (SELECT *, " +
      "'https://hub' || CAST(doc_id % 3 AS VARCHAR) || " +
      "'.example.net/t' AS hub FROM c) c2),\n" +
      "aun AS (SELECT doc_id, base, src_host, " +
      "unnest(regexp_extract_all(html, '" + u.AnchorUnitPattern +
      "', 0)) AS un FROM ahm),\n" +
      "ath AS (SELECT doc_id, base, src_host, " +
      "regexp_extract(un, '" + u.TagHrefPattern + "', 1) AS href, " +
      "list_contains(string_split_regex(lower(regexp_extract(un, '" +
      u.TagRelPattern + "', 1)), '" + graft.ext.UrlOps.HtmlWsClass + "+'), 'nofollow') " +
      "AS link_nofollow, " +
      "trim(regexp_replace(lower(regexp_extract(un, " +
      "'(?i)>([^<]*)</a>$', 1)), '\\s+', ' ', 'g')) AS anchor_norm " +
      "FROM aun WHERE regexp_matches(un, '(?i)href\\s*=\\s*\"')),\n" +
      "ala AS (SELECT doc_id, src_host, link_nofollow, anchor_norm, " +
      "CASE WHEN starts_with(href, '/') THEN " +
      "regexp_extract(base, '^([a-z][a-z0-9+.-]*)://', 1) || '://' || " +
      "regexp_extract(base, '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) || " +
      "href WHEN regexp_matches(href, '(?i)^https?://') THEN href " +
      "END AS url FROM ath " +
      "WHERE NOT link_nofollow AND anchor_norm <> ''),\n" +
      urlCanonChain("ala", "az", "alc",
        Seq("doc_id", "src_host", "anchor_norm")) +
      "\nSELECT url_canon AS link_canon, anchor_norm, " +
      "CAST(count(*) AS BIGINT) AS n_anchors, " +
      "CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts " +
      "FROM alc GROUP BY 1, 2 ORDER BY link_canon, anchor_norm"
  }

  /** q180: the exclusion-aware legs assembled — the q175 link CTEs
    * (follow-filtered), the q174 harvest + q176 body CTEs, unioned
    * with per-source found_by markers, then the q173 frontier tail. */
  private def exclusionFrontierOracleSql: String =
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      robotsRulesCtes + ",\n" + nofollowLinkCtes + ",\n" +
      robotsSitemapHarvestCtes + ",\n" + robotsSitemapCandCtes + ",\n" +
      "xl AS (SELECT url_canon AS link_canon, url_host AS link_host, " +
      "min(doc_id) AS found_by, '' AS lastmod FROM nc " +
      "WHERE NOT link_nofollow AND NOT meta_nofollow GROUP BY 1, 2),\n" +
      "xa AS (SELECT * FROM xl UNION ALL " +
      "SELECT link_canon, link_host, -4 AS found_by, lastmod " +
      "FROM rcand),\n" +
      "xc AS (SELECT link_canon, link_host, " +
      "min(found_by) AS found_by, max(lastmod) AS lastmod FROM xa " +
      "GROUP BY 1, 2),\n" +
      "seen AS (SELECT DISTINCT url_canon FROM c),\n" +
      "xf AS (SELECT xc.* FROM xc LEFT JOIN seen " +
      "ON xc.link_canon = seen.url_canon " +
      "WHERE seen.url_canon IS NULL),\n" +
      "xp AS (SELECT link_canon, link_host, found_by, lastmod, " +
      "regexp_extract(regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', ''), '^([^?]*)', 1) AS path, " +
      "regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', '') AS mpath FROM xf),\n" +
      "xv AS (SELECT p.link_canon, p.link_host, p.found_by, " +
      "p.lastmod, p.path, max(coalesce(2 * length(r.rprefix) + " +
      "CASE WHEN r.rallow THEN 1 ELSE 0 END, 1)) AS score " +
      "FROM xp p LEFT JOIN rules r ON r.rhost = p.link_host " +
      "AND starts_with(p.mpath, r.rprefix) GROUP BY 1, 2, 3, 4, 5),\n" +
      "xal AS (SELECT link_canon, link_host, found_by, lastmod, " +
      "CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) " +
      "AS BIGINT) AS depth FROM xv WHERE score % 2 = 1),\n" +
      "xrb AS (SELECT *, CAST(CASE WHEN " +
      "regexp_matches(lastmod, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') " +
      "AND try_cast(lastmod AS DATE) IS NOT NULL THEN " +
      "least(greatest(date_diff('day', try_cast(lastmod AS DATE), " +
      "DATE '2026-02-10'), 0) // 30, 11) ELSE 12 END AS BIGINT) " +
      "AS recency_bucket FROM xal),\n" +
      "xrk AS (SELECT link_host, link_canon, depth, recency_bucket, " +
      "found_by, row_number() OVER (PARTITION BY link_host " +
      "ORDER BY recency_bucket * 1048576 + least(depth, 1048575), " +
      "link_canon) AS rnk FROM xrb)\n" +
      "SELECT link_host, CAST(rnk AS BIGINT) AS rank, " +
      "link_canon AS url_canon, depth, recency_bucket, found_by " +
      "FROM xrk WHERE rnk <= 3 ORDER BY link_host, rank"

  /** q182: the language plant, the header/body split, both
    * declaration pulls with primary-subtag normalization, the q22
    * languageId replay over the full text, then the census rollup. */
  /** q182's plant + parse + languageId replay as CTEs ending in
    * `lpr(doc_id, labeled_lang, declared_html, declared_http,
    * declared_lang, predicted_lang)`. Shared by the q182 and q191
    * oracles. */
  private def declaredLanguageCtes: String = {
    val crlf = "chr(13) || chr(10)"
    val u = graft.ext.UrlOps
    val prim = (e: String) => "lower(regexp_extract(" + e +
      ", '^[ \\t]*([A-Za-z]+)', 1))"
    "lpl AS (SELECT doc_id, lang, text, " +
      "regexp_replace(substring(text, 1, 80), '[^ -~]', '', 'g') " +
      "AS safe FROM documents),\n" +
      "lp2 AS (SELECT doc_id, lang, text, CASE " +
      "WHEN doc_id % 4 = 0 THEN 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: text/html' || " + crlf + " || " + crlf +
      " || '<html lang=\"' || lang || '\"><body>' || safe || " +
      "'</body></html>' " +
      "WHEN doc_id % 4 = 1 THEN 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: text/html' || " + crlf +
      " || 'Content-Language: zz' || " + crlf + " || " + crlf +
      " || '<HTML LANG=\"' || upper(lang) || '-XX\"><body>' || safe " +
      "|| '</body></html>' " +
      "WHEN doc_id % 4 = 2 THEN 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: text/html' || " + crlf +
      " || 'Content-Language: ' || lang || ' ' || " + crlf + " || " +
      crlf + " || '<html><body>' || safe || '</body></html>' " +
      "ELSE 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: text/html' || " + crlf + " || " + crlf +
      " || '<html><body>' || safe || '</body></html>' END AS p " +
      "FROM lpl),\n" +
      "lhx AS (SELECT doc_id, lang, text, " +
      "list_extract(string_split(p, " + crlf + " || " + crlf +
      "), 1) AS hdr, substring(p, length(list_extract(" +
      "string_split(p, " + crlf + " || " + crlf + "), 1)) + 5) " +
      "AS body FROM lp2),\n" +
      "lex AS (SELECT doc_id, lang AS labeled_lang, text, " +
      prim("regexp_extract(body, '" + u.HtmlLangPattern + "', 1)") +
      " AS declared_html, " +
      prim("trim(regexp_extract(hdr, " +
        "'(?mi)^Content-Language:([^\r]*)', 1), ' ' || chr(9))") +
      " AS declared_http FROM lhx),\n" +
      "ld AS (SELECT *, CASE WHEN declared_html <> '' THEN " +
      "declared_html ELSE declared_http END AS declared_lang " +
      "FROM lex),\n" +
      "ltk AS (SELECT *, string_split_regex(trim(lower(text)), " +
      "'\\s+') AS toks FROM ld),\n" +
      "lbs AS (SELECT doc_id, labeled_lang, declared_html, " +
      "declared_http, declared_lang, list_max([" +
      "{'score': len(list_filter(toks, x -> x IN ('der','die','das'," +
      "'und','ist','ein','zu','mit','den','von'))), 'lang': 'de'}, " +
      "{'score': len(list_filter(toks, x -> x IN ('the','a','of'," +
      "'and','to','in','is','it','that','for'))), 'lang': 'en'}, " +
      "{'score': len(list_filter(toks, x -> x IN ('el','la','los'," +
      "'y','es','un','una','de','que','por'))), 'lang': 'es'}, " +
      "{'score': len(list_filter(toks, x -> x IN ('le','la','les'," +
      "'et','est','un','une','de','que','pour'))), 'lang': 'fr'}, " +
      "{'score': 3*length(regexp_replace(text, " +
      "'[^\\x{4E00}-\\x{9FFF}]', '', 'g')), 'lang': 'zh'}]) AS best " +
      "FROM ltk),\n" +
      "lpr AS (SELECT *, CASE WHEN best.score > 0 THEN best.lang " +
      "ELSE 'und' END AS predicted_lang FROM lbs)"
  }

  private def declaredLanguageOracleSql: String =
    "WITH " + declaredLanguageCtes + "\n" +
      "SELECT labeled_lang, declared_lang, predicted_lang, " +
      "CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(CASE WHEN declared_html <> '' AND " +
      "declared_http <> '' AND declared_html <> declared_http " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS n_channel_conflicts, " +
      "(declared_lang <> '' AND declared_lang <> predicted_lang) " +
      "AS declared_mismatch " +
      "FROM lpr GROUP BY labeled_lang, declared_lang, predicted_lang " +
      "ORDER BY labeled_lang, declared_lang, predicted_lang"

  /** q191: the shared q182 CTEs + the curation gate — keep when the
    * channels can't disagree (nothing declared) or declared equals
    * detected; integer-micro kept ratio per labeled language. */
  private def languageGateOracleSql: String =
    "WITH " + declaredLanguageCtes + ",\n" +
      "lgk AS (SELECT labeled_lang, " +
      "(declared_lang = '' OR declared_lang = predicted_lang) " +
      "AS keep FROM lpr)\n" +
      "SELECT labeled_lang, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_kept, " +
      "CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) " +
      "AS n_dropped, " +
      "(1000000 * CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) " +
      "AS BIGINT)) // CAST(count(*) AS BIGINT) AS kept_ratio_micro " +
      "FROM lgk GROUP BY labeled_lang ORDER BY labeled_lang"

  /** q183: the hreflang plant replayed — the whole-link-tag harvest,
    * rel token membership, the hreflang/href pulls with primary-
    * subtag normalization, plant-scoped resolution (root-relative +
    * absolute), the chain, and the in-host flag. */
  private def hreflangOracleSql: String = {
    val u = graft.ext.UrlOps
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      "fhm AS (SELECT doc_id, url AS base_raw, url_canon AS base, " +
      "'<html><head>' || " +
      "'<link rel=\"alternate\" hreflang=\"en\" href=\"/intl/en/' || " +
      "CAST(doc_id % 13 AS VARCHAR) || '\">' || " +
      "'<LINK HREFLANG=\"DE-AT\" HREF=\"/intl/de/' || " +
      "CAST(doc_id % 13 AS VARCHAR) || '\" REL=\"alternate\">' || " +
      "'<link rel=\"alternate\" hreflang=\"x-default\" href=\"' || " +
      "url || '\">' || " +
      "(CASE WHEN doc_id % 3 = 0 THEN " +
      "'<link rel=\"alternate\" hreflang=\"fr\" href=\"https://global'" +
      " || CAST(doc_id % 2 AS VARCHAR) || '.example.net/fr/' || " +
      "CAST(doc_id % 13 AS VARCHAR) || '\">' ELSE '' END) || " +
      "'<link rel=\"stylesheet\" href=\"/css/main.css\">' || " +
      "'<link rel=\"alternate\" type=\"application/rss+xml\" " +
      "href=\"/feed\">' || " +
      "'</head><body>x</body></html>' AS html FROM c),\n" +
      "ftg AS (SELECT doc_id, base, base_raw, " +
      "unnest(regexp_extract_all(html, '" + u.LinkTagPattern +
      "', 0)) AS tag FROM fhm),\n" +
      "fal AS (SELECT doc_id, base, base_raw, " +
      "lower(regexp_extract(tag, '" + u.TagHreflangPattern +
      "', 1)) AS hreflang, " +
      "regexp_extract(tag, '" + u.TagHrefPattern + "', 1) AS href " +
      "FROM ftg WHERE list_contains(string_split_regex(lower(" +
      "regexp_extract(tag, '" + u.TagRelPattern + "', 1)), " +
      "'" + graft.ext.UrlOps.HtmlWsClass + "+'), 'alternate') " +
      "AND lower(regexp_extract(tag, '" + u.TagHreflangPattern +
      "', 1)) <> '' " +
      "AND regexp_matches(tag, '(?i)href\\s*=\\s*\"')),\n" +
      "fla AS (SELECT doc_id, hreflang, " +
      "lower(regexp_extract(hreflang, '^[ \\t]*([A-Za-z]+)', 1)) " +
      "AS hreflang_primary, hreflang = 'x-default' AS is_default, " +
      "regexp_extract(base, '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) " +
      "AS base_host, " +
      "CASE WHEN starts_with(href, '/') THEN " +
      "regexp_extract(base, '^([a-z][a-z0-9+.-]*)://', 1) || '://' || " +
      "regexp_extract(base, '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) || " +
      "href WHEN regexp_matches(href, '(?i)^https?://') THEN href " +
      "END AS url FROM fal),\n" +
      urlCanonChain("fla", "fz", "flc",
        Seq("doc_id", "hreflang", "hreflang_primary", "is_default",
          "base_host")) +
      "\nSELECT doc_id, hreflang, hreflang_primary, is_default, " +
      "url_canon AS alt_canon, url_host = base_host AS in_host " +
      "FROM flc ORDER BY doc_id, hreflang, alt_canon"
  }

  /** q184: the variant-page plant, the link-tag harvest, root-
    * relative resolution, the reciprocity self-join, and the language
    * attach. The canonicalization chain is IDENTITY on this plant by
    * construction (lowercase https, lowercase portless un-www'd host,
    * clean single-slash path, no query/fragment) so the oracle
    * resolves without the chain CTEs — the chain's identity on such
    * URLs is pinned by the q150 idempotence spec. */
  private def translationPairsOracleSql: String = {
    val u = graft.ext.UrlOps
    val alt = (l: String) =>
      "'<link rel=\"alternate\" hreflang=\"" + l + "\" href=\"/v/" +
        l + "/' || CAST(k AS VARCHAR) || '\">'"
    "WITH vp AS (SELECT lower(source) AS h, doc_id % 13 AS k, lang, " +
      "min(doc_id) AS doc_id FROM documents GROUP BY 1, 2, 3),\n" +
      "vpg AS (SELECT h, k, lang, doc_id, " +
      "'https://' || h || '.example.com/v/' || lang || '/' || " +
      "CAST(k AS VARCHAR) AS url, " +
      "'<html><head>' || " + alt("de") + " || " + alt("en") + " || " +
      alt("es") + " || " + alt("fr") + " || " + alt("zh") +
      " || '</head><body>v</body></html>' AS html FROM vp),\n" +
      "vtg AS (SELECT url, h, unnest(regexp_extract_all(html, '" +
      u.LinkTagPattern + "', 0)) AS tag FROM vpg),\n" +
      "ved0 AS (SELECT url AS src, 'https://' || h || " +
      "'.example.com' || regexp_extract(tag, '" + u.TagHrefPattern +
      "', 1) AS dst FROM vtg " +
      "WHERE list_contains(string_split_regex(lower(" +
      "regexp_extract(tag, '" + u.TagRelPattern + "', 1)), " +
      "'" + graft.ext.UrlOps.HtmlWsClass + "+'), 'alternate') " +
      "AND lower(regexp_extract(tag, '" + u.TagHreflangPattern +
      "', 1)) <> '' " +
      "AND regexp_matches(tag, '(?i)href\\s*=\\s*\"')),\n" +
      "ved AS (SELECT DISTINCT src, dst FROM ved0 WHERE src <> dst),\n" +
      "vrc AS (SELECT a.src, a.dst FROM ved a " +
      "JOIN ved b ON a.src = b.dst AND a.dst = b.src)\n" +
      "SELECT r.src, p1.lang AS src_lang, r.dst, p2.lang AS dst_lang " +
      "FROM vrc r JOIN vpg p1 ON p1.url = r.src " +
      "JOIN vpg p2 ON p2.url = r.dst " +
      "WHERE r.src < r.dst ORDER BY src, dst"
  }

  /** q186: the identity plant replayed — fetched URLs through the
    * canonicalization chain (the c3 tracking strip is real chain
    * work), then identity by class: the redirect Location and the
    * in-host declaration both name the HEAD (absolute canonical-by-
    * construction spellings — resolve/pull are identity on this
    * plant; the parses themselves are pinned by q163/q167/q170), the
    * cross-host declaration trap falls back to the own canon. */
  /** q186's identity replay as CTEs ending in `idn(doc_id, url_canon,
    * url_had_tracking, is_redir, is_decl, identity, body)` — `body`
    * is the class's 200 payload body (NULL for the 301 class), so
    * q190's divergence census rides the same chain. */
  private def urlIdentityCtes: String =
    "ipl AS (SELECT doc_id, doc_id % 4 AS c, " +
      "doc_id - (doc_id % 4) AS t FROM documents),\n" +
      "ip2 AS (SELECT doc_id, c, t, 'src' || CAST(t % 20 AS VARCHAR) " +
      "|| '.example.com' AS h FROM ipl),\n" +
      "ip3 AS (SELECT *, 'https://' || h || '/p/' || " +
      "CAST(t AS VARCHAR) AS head FROM ip2),\n" +
      "ip4 AS (SELECT doc_id, c, head, CASE " +
      "WHEN c = 0 THEN head " +
      "WHEN c = 1 THEN 'https://' || h || '/moved/' || " +
      "CAST(doc_id AS VARCHAR) " +
      "WHEN c = 2 THEN 'https://' || h || '/alt/' || " +
      "CAST(doc_id AS VARCHAR) " +
      "ELSE head || '?utm_source=feed&ref=' || " +
      "CAST(doc_id AS VARCHAR) END AS url, CASE " +
      "WHEN c = 1 THEN NULL " +
      "WHEN c = 2 THEN '<html><head><link rel=\"canonical\" " +
      "href=\"' || (CASE WHEN doc_id % 8 = 6 THEN " +
      "'https://evil.example.net/steal' ELSE head END) || " +
      "'\"></head><body>alt ' || CAST(doc_id AS VARCHAR) || " +
      "'</body></html>' " +
      "ELSE '<html><body>content ' || CAST(t AS VARCHAR) || " +
      "'</body></html>' END AS body FROM ip3),\n" +
      urlCanonChain("ip4", "iz", "icn",
        Seq("doc_id", "c", "head", "body")) + ",\n" +
      "idn AS (SELECT doc_id, url_canon, url_had_tracking, body, " +
      "(c = 1) AS is_redir, " +
      "(c = 2 AND doc_id % 8 <> 6) AS is_decl, " +
      "CASE WHEN c = 1 THEN head " +
      "WHEN c = 2 AND doc_id % 8 <> 6 THEN head " +
      "ELSE url_canon END AS identity FROM icn)"

  private def urlIdentityOracleSql: String =
    "WITH " + urlIdentityCtes + "\n" +
      "SELECT identity, CAST(count(*) AS BIGINT) AS n_variants, " +
      "min(doc_id) AS keeper_doc, " +
      "CAST(sum(CASE WHEN is_redir THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_redirected, " +
      "CAST(sum(CASE WHEN is_decl THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_declared, " +
      "CAST(sum(CASE WHEN url_had_tracking THEN 1 ELSE 0 END) " +
      "AS BIGINT) AS n_syntactic " +
      "FROM idn GROUP BY identity ORDER BY identity"

  /** q190: the shared identity CTEs + the body-hash census — md5 of
    * the 200 bodies (the 301 class carries NULL and drops out of the
    * distinct count), divergence when an identity serves >1 hash. */
  private def identityDivergenceOracleSql: String =
    "WITH " + urlIdentityCtes + "\n" +
      "SELECT identity, CAST(count(*) AS BIGINT) AS n_variants, " +
      "CAST(count(DISTINCT md5(body)) AS BIGINT) AS n_content_hashes, " +
      "count(DISTINCT md5(body)) > 1 AS divergent " +
      "FROM idn GROUP BY identity ORDER BY identity"

  /** q173: ALL FOUR families' shared generators assembled — the link
    * CTEs, the sitemap `<url>` tier, the child-sitemap loop, and the
    * redirect resolution — unioned with per-source found_by markers,
    * anti-joined against BOTH fetched universes, then the q162 tail
    * (robots max, recency bucket, packed-ordinal budget window). */
  private def unifiedFrontierOracleSql: String = {
    val hostRx = "'^[a-z][a-z0-9+.-]*://([^/?]*)'"
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      robotsRulesCtes + ",\n" + sitemapCtes + ",\n" +
      childSitemapCtes + ",\n" + linkCtes + ",\n" + redirectCtes + ",\n" +
      "lcand AS (SELECT url_canon AS link_canon, url_host AS " +
      "link_host, min(doc_id) AS found_by, '' AS lastmod FROM lc " +
      "GROUP BY 1, 2),\n" +
      "scand AS (SELECT url_canon AS link_canon, url_host AS " +
      "link_host, CAST(-1 AS BIGINT) AS found_by, lastmod FROM sc " +
      "WHERE url_host = sitemap_host),\n" +
      "kcand AS (SELECT url_canon AS link_canon, url_host AS " +
      "link_host, CAST(-3 AS BIGINT) AS found_by, lastmod FROM csc " +
      "WHERE url_host = sitemap_host),\n" +
      "dcand AS (SELECT cur AS link_canon, " +
      "regexp_extract(cur, " + hostRx + ", 1) AS link_host, " +
      "CAST(-2 AS BIGINT) AS found_by, '' AS lastmod FROM rf " +
      "WHERE NOT lp AND nxt IS NULL),\n" +
      "ucand AS (SELECT link_canon, link_host, min(found_by) AS " +
      "found_by, max(lastmod) AS lastmod FROM " +
      "(SELECT * FROM lcand UNION ALL SELECT * FROM scand " +
      "UNION ALL SELECT * FROM kcand UNION ALL SELECT * FROM dcand) " +
      "un GROUP BY 1, 2),\n" +
      "useen AS (SELECT url_canon AS link_canon FROM c " +
      "UNION SELECT u FROM ru),\n" +
      "ufresh AS (SELECT ucand.* FROM ucand LEFT JOIN useen " +
      "ON ucand.link_canon = useen.link_canon " +
      "WHERE useen.link_canon IS NULL),\n" +
      "upth AS (SELECT link_canon, link_host, found_by, lastmod, " +
      "regexp_extract(regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', ''), '^([^?]*)', 1) AS path, " +
      "regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', '') AS mpath FROM ufresh),\n" +
      "uv AS (SELECT p.link_canon, p.link_host, p.found_by, " +
      "p.lastmod, p.path, max(coalesce(2 * length(r.rprefix) + " +
      "CASE WHEN r.rallow THEN 1 ELSE 0 END, 1)) AS score " +
      "FROM upth p LEFT JOIN rules r ON r.rhost = p.link_host " +
      "AND starts_with(p.mpath, r.rprefix) GROUP BY 1, 2, 3, 4, 5),\n" +
      "ual AS (SELECT link_canon, link_host, found_by, lastmod, " +
      "CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) " +
      "AS BIGINT) AS depth FROM uv WHERE score % 2 = 1),\n" +
      "urb AS (SELECT *, CAST(CASE WHEN " +
      "regexp_matches(lastmod, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') " +
      "AND try_cast(lastmod AS DATE) IS NOT NULL THEN " +
      "least(greatest(date_diff('day', try_cast(lastmod AS DATE), " +
      "DATE '2026-02-10'), 0) // 30, 11) ELSE 12 END AS BIGINT) " +
      "AS recency_bucket FROM ual),\n" +
      "urk AS (SELECT link_host, link_canon, depth, recency_bucket, " +
      "found_by, row_number() OVER (PARTITION BY link_host " +
      "ORDER BY recency_bucket * 1048576 + least(depth, 1048575), " +
      "link_canon) AS rnk FROM urb)\n" +
      "SELECT link_host, CAST(rnk AS BIGINT) AS rank, " +
      "link_canon AS url_canon, depth, recency_bucket, found_by " +
      "FROM urk WHERE rnk <= 3 ORDER BY link_host, rank"
  }

  /** q172: the corpus/revisit plants, a compact status/body parse
    * carrying the URL, and the merge projection replayed — the same
    * CASE arms, null-condition-as-false CASE semantics matching
    * Spark's `when`, and `IS DISTINCT FROM` for the body compare. */
  private def revisitMergeOracleSql: String = {
    val crlf = "chr(13) || chr(10)"
    val uExpr = "'https://src' || CAST(doc_id % 20 AS VARCHAR) || " +
      "'.example.com/d/' || CAST(doc_id AS VARCHAR)"
    "WITH rpl AS (SELECT " + uExpr + " AS u, CASE " +
      "WHEN doc_id % 5 = 0 THEN 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: text/html' || " + crlf + " || " + crlf +
      " || 'body v2 of ' || CAST(doc_id AS VARCHAR) " +
      "WHEN doc_id % 5 = 1 THEN 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: text/html' || " + crlf + " || " + crlf +
      " || 'body v1 of ' || CAST(doc_id AS VARCHAR) " +
      "WHEN doc_id % 5 = 2 THEN 'HTTP/1.1 304 Not Modified' || " +
      crlf + " || " + crlf +
      " ELSE 'HTTP/1.1 404 Not Found' || " + crlf + " || " + crlf +
      " || 'gone ' || CAST(doc_id AS VARCHAR) END AS p " +
      "FROM documents WHERE doc_id % 5 <> 4 " +
      "UNION ALL SELECT " + uExpr + " || '/new' AS u, " +
      "'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: text/html' || " + crlf + " || " + crlf +
      " || 'fresh body ' || CAST(doc_id AS VARCHAR) AS p " +
      "FROM documents WHERE doc_id % 10 = 5),\n" +
      "rhx AS (SELECT u, p, list_extract(string_split(p, " + crlf +
      " || " + crlf + "), 1) AS hdr FROM rpl),\n" +
      "rpx AS (SELECT u, CAST(regexp_extract(p, " +
      "'^HTTP/[0-9.]+ ([0-9]{3})', 1) AS BIGINT) AS st, " +
      "substring(p, length(hdr) + 5) AS nb FROM rhx),\n" +
      "rcp AS (SELECT " + uExpr + " AS u, " +
      "'body v1 of ' || CAST(doc_id AS VARCHAR) AS body, " +
      "'2026-01-01' AS first_fetched, '2026-01-15' AS last_validated, " +
      "(doc_id % 7 <> 0) AS is_active FROM documents),\n" +
      "mj AS (SELECT rcp.u AS cu, rcp.body AS cb, rcp.first_fetched, " +
      "rcp.last_validated, rcp.is_active, rpx.u AS ru, rpx.st, rpx.nb " +
      "FROM rcp FULL OUTER JOIN rpx ON rcp.u = rpx.u),\n" +
      "mm AS (SELECT coalesce(cu, ru) AS url_canon, " +
      "CASE WHEN (st = 200 AND nb IS NOT NULL) THEN true " +
      "WHEN st = 304 THEN true WHEN st IN (404, 410) THEN false " +
      "ELSE coalesce(is_active, false) END AS is_active, " +
      "md5(CASE WHEN (st = 200 AND nb IS NOT NULL) THEN nb " +
      "ELSE cb END) AS body_md5, " +
      "coalesce(first_fetched, '2026-02-10') AS first_fetched, " +
      "CASE WHEN (st = 200 AND nb IS NOT NULL) OR st = 304 " +
      "THEN '2026-02-10' ELSE last_validated END AS last_validated, " +
      "((st = 200 AND nb IS NOT NULL) AND cb IS NOT NULL AND " +
      "(cb IS DISTINCT FROM nb)) AS body_changed " +
      "FROM mj WHERE cu IS NOT NULL OR " +
      "(ru IS NOT NULL AND (st = 200 AND nb IS NOT NULL)))\n" +
      "SELECT url_canon, is_active, body_md5, first_fetched, " +
      "last_validated, body_changed FROM mm ORDER BY url_canon"
  }

  /** q193: the q172 plant merged under the TWO-CYCLE clock — each
    * revisited URL's `now` keyed by the same length parity the engine
    * splits its log batches on; the oracle replays the latest-wins
    * RESULT, not the log plumbing (the q188 discipline). */
  private def revisitLogOracleSql: String = {
    val base = revisitMergeOracleSql
    val nowCase = "CASE WHEN length(coalesce(ru, cu)) % 2 = 0 " +
      "THEN '2026-02-10' ELSE '2026-02-17' END"
    val patched = base
      .replace("coalesce(first_fetched, '2026-02-10') AS first_fetched",
        "coalesce(first_fetched, " + nowCase + ") AS first_fetched")
      .replace("THEN '2026-02-10' ELSE last_validated END AS " +
        "last_validated",
        "THEN " + nowCase + " ELSE last_validated END AS " +
          "last_validated")
      .replace("SELECT url_canon, is_active, body_md5, " +
        "first_fetched, last_validated, body_changed FROM mm " +
        "ORDER BY url_canon",
        "SELECT url_canon, is_active, body_md5, first_fetched, " +
          "last_validated FROM mm ORDER BY url_canon")
    require(patched != base, "q193 oracle patch did not apply")
    patched
  }

  /** The child-sitemap fetch loop as CTEs — q164's index-tier parse
    * (`ib`/`ii`/`ic`), the child-body construction from the in-scope
    * children, and the `<url>`-tier pulls + canonicalization chain
    * over the child bodies, ending in `csc(sitemap_host, lastmod,
    * url_canon, url_host)`. Expects `sm` upstream; shared by the
    * q171 and q173 oracles. */
  private def childSitemapCtes: String = {
    val nl = "chr(10)"
    val dgx = "regexp_extract(url_host, '([0-9])\\.example\\.com$', 1)"
    "ib AS (SELECT host AS sitemap_host, " +
      "unnest(regexp_extract_all(xml, '(?s)<sitemap>(.*?)</sitemap>', " +
      "1)) AS b FROM sm),\n" +
      "ii AS (SELECT sitemap_host, " +
      "trim(regexp_extract(b, '(?s)<lastmod>(.*?)</lastmod>', 1)) " +
      "AS lastmod, " +
      "trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)) AS url " +
      "FROM ib WHERE trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', " +
      "1)) <> ''),\n" +
      urlCanonChain("ii", "ix", "ic", Seq("sitemap_host", "lastmod")) +
      ",\n" +
      "cbod AS (SELECT url_host, CASE WHEN url_canon LIKE " +
      "'%/more.xml' THEN " +
      "'<?xml version=\"1.0\"?><urlset>' || " +
      "'<url><loc>https://' || url_host || '/more/a-' || " + dgx +
      " || '</loc><lastmod>2026-02-05</lastmod></url>' || " +
      "'<url>' || " + nl + " || '  <loc> HTTPS://WWW.' || " +
      "upper(url_host) || '/Docs//' || " + dgx +
      " || '?b=2&a=1 </loc>' || " + nl + " || '</url>' || " +
      "'<url><loc>https://' || url_host || '/more/old-' || " + dgx +
      " || '</loc><lastmod>2020-01-01</lastmod></url>' || " +
      "'<url><loc>https://cdn' || " + dgx +
      " || '.example.net/x</loc></url>' || '</urlset>' " +
      "ELSE '<?xml version=\"1.0\"?><urlset>' || " +
      "'<url><loc>https://' || url_host || '/part/' || " + dgx +
      " || '/p1</loc><lastmod>2026-01-2' || " + dgx +
      " || '</lastmod></url>' || " +
      "'<url><lastmod>2026-01-01</lastmod></url>' || " +
      "'<url><loc>https://' || url_host || '/part/' || " + dgx +
      " || '/nolm</loc></url>' || '</urlset>' END AS cxml " +
      "FROM ic WHERE url_host = sitemap_host),\n" +
      "cbl AS (SELECT url_host AS sitemap_host, " +
      "unnest(regexp_extract_all(cxml, '(?s)<url>(.*?)</url>', 1)) " +
      "AS b FROM cbod),\n" +
      "cli AS (SELECT sitemap_host, " +
      "trim(regexp_extract(b, '(?s)<lastmod>(.*?)</lastmod>', 1)) " +
      "AS lastmod, " +
      "trim(regexp_extract(b, '(?s)<loc>(.*?)</loc>', 1)) AS url " +
      "FROM cbl WHERE trim(regexp_extract(b, " +
      "'(?s)<loc>(.*?)</loc>', 1)) <> ''),\n" +
      urlCanonChain("cli", "cs", "csc", Seq("sitemap_host", "lastmod"))
  }

  /** q171: the shared plant + child-loop CTEs, then the q162 frontier
    * tail — seen anti join, robots integer max, recency bucket,
    * packed-ordinal budget window. */
  private def sitemapRecursionOracleSql: String = {
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      robotsRulesCtes + ",\n" + sitemapPlantCte + ",\n" +
      childSitemapCtes + ",\n" +
      "ccand AS (SELECT url_canon AS link_canon, url_host AS " +
      "link_host, max(lastmod) AS lastmod FROM csc " +
      "WHERE url_host = sitemap_host GROUP BY 1, 2),\n" +
      "seen AS (SELECT DISTINCT url_canon FROM c),\n" +
      "cfresh AS (SELECT ccand.* FROM ccand LEFT JOIN seen " +
      "ON ccand.link_canon = seen.url_canon " +
      "WHERE seen.url_canon IS NULL),\n" +
      "cpth AS (SELECT link_canon, link_host, lastmod, " +
      "regexp_extract(regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', ''), '^([^?]*)', 1) AS path, " +
      "regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', '') AS mpath FROM cfresh),\n" +
      "cv AS (SELECT p.link_canon, p.link_host, p.lastmod, p.path, " +
      "max(coalesce(2 * length(r.rprefix) + " +
      "CASE WHEN r.rallow THEN 1 ELSE 0 END, 1)) AS score " +
      "FROM cpth p LEFT JOIN rules r ON r.rhost = p.link_host " +
      "AND starts_with(p.mpath, r.rprefix) GROUP BY 1, 2, 3, 4),\n" +
      "cal AS (SELECT link_canon, link_host, lastmod, " +
      "CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) " +
      "AS BIGINT) AS depth FROM cv WHERE score % 2 = 1),\n" +
      "crb AS (SELECT *, CAST(CASE WHEN " +
      "regexp_matches(lastmod, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') " +
      "AND try_cast(lastmod AS DATE) IS NOT NULL THEN " +
      "least(greatest(date_diff('day', try_cast(lastmod AS DATE), " +
      "DATE '2026-02-10'), 0) // 30, 11) ELSE 12 END AS BIGINT) " +
      "AS recency_bucket FROM cal),\n" +
      "crk AS (SELECT link_host, link_canon, depth, recency_bucket, " +
      "row_number() OVER (PARTITION BY link_host " +
      "ORDER BY recency_bucket * 1048576 + least(depth, 1048575), " +
      "link_canon) AS rnk FROM crb)\n" +
      "SELECT link_host, CAST(rnk AS BIGINT) AS rank, " +
      "link_canon AS url_canon, depth, recency_bucket " +
      "FROM crk WHERE rnk <= 3 ORDER BY link_host, rank"
  }

  /** q163: the plant and the HTTP parse replayed — the same status/
    * header/body extraction ((?mi) anchored header pulls, RE2-safe;
    * hdr = text to the first blank CRLF; body from hdr+5 to the end)
    * over the same five response classes. */
  /** The q163 response-class plant as a CTE `pl(doc_id, p)` reading
    * `documents` — shared by q163's oracle and q165's census. */
  private def httpPlantCte: String = {
    val crlf = "chr(13) || chr(10)"
    "pl AS (SELECT doc_id, CASE " +
      "WHEN doc_id % 5 = 0 THEN 'HTTP/1.1 404 Not Found' || " + crlf +
      " || " + crlf + " || '<html>gone ' || CAST(doc_id AS VARCHAR) || " +
      "'</html>' " +
      "WHEN doc_id % 5 = 1 THEN 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: TEXT/HTML; charset=UTF-8' || " + crlf +
      " || " + crlf + " || '<html>doc ' || CAST(doc_id AS VARCHAR) || " +
      "'</html>' " +
      "WHEN doc_id % 5 = 2 THEN 'HTTP/1.1 301 Moved Permanently' || " +
      crlf + " || 'Location: https://' || source || " +
      "'.example.com/new/' || CAST(doc_id AS VARCHAR) || " + crlf +
      " || 'Content-Type: text/html' || " + crlf + " || " + crlf +
      " || '<html>moved</html>' " +
      "WHEN doc_id % 5 = 3 THEN 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: application/pdf' || " + crlf + " || " + crlf +
      " || '%PDF-fake ' || CAST(doc_id AS VARCHAR) " +
      "ELSE 'garbled capture ' || CAST(doc_id AS VARCHAR) END AS p " +
      "FROM documents)"
  }

  /** The HTTP extraction over a relation `hr(doc_id, p)` — ends in
    * `px(doc_id, http_status, http_media_type, http_location,
    * http_body)`. Shared by q163 and q165. */
  private def httpParseCtes: String =
    "hx AS (SELECT doc_id, p, " +
      "regexp_matches(p, '^HTTP/[0-9.]+ [0-9]{3}') AS is_http, " +
      "list_extract(string_split(p, chr(13) || chr(10) || chr(13) || " +
      "chr(10)), 1) AS hdr FROM hr),\n" +
      "px AS (SELECT doc_id, " +
      "CASE WHEN is_http THEN CAST(regexp_extract(p, " +
      "'^HTTP/[0-9.]+ ([0-9]{3})', 1) AS BIGINT) END AS http_status, " +
      "CASE WHEN is_http THEN lower(trim(regexp_extract(hdr, " +
      "'(?mi)^Content-Type:([^\r;]*)', 1), ' ' || chr(9))) " +
      "ELSE '' END AS http_media_type, " +
      "CASE WHEN is_http THEN trim(regexp_extract(hdr, " +
      "'(?mi)^Location:([^\r]*)', 1), ' ' || chr(9)) " +
      "ELSE '' END AS http_location, " +
      "CASE WHEN is_http THEN substring(p, length(hdr) + 5) END " +
      "AS http_body FROM hx)"

  /** q166: the charset plant replayed — payloads rebuilt from the
    * SAME byte-view constants (as [[sqlLit]] chr() chains), the same
    * charset/body extraction regexes, raw_md5 from the independently
    * rebuilt view, decoded_md5 pinned to the EXPECTED sample text
    * (DuckDB cannot run the cp1252/UTF-8 decode itself — the expected
    * value IS the spec the native decoder must hit), roundtrip true
    * by construction. */
  private def charsetDecodeOracleSql: String = {
    val crlf = "chr(13) || chr(10)"
    def payload(decl: String, viewLit: String) =
      "'HTTP/1.1 200 OK' || " + crlf +
        " || 'Content-Type: text/html" + decl + "' || " + crlf +
        " || " + crlf + " || " + viewLit
    "WITH pl AS (SELECT doc_id, doc_id % 4 AS cls, " +
      "regexp_replace(substring(text, 1, 60), '[^ -~]', '', 'g') " +
      "AS safe FROM documents),\n" +
      "pp AS (SELECT doc_id, cls, safe, (CASE cls " +
      "WHEN 0 THEN " + payload("; charset=UTF-8", sqlLit(CharsetViewU)) +
      " WHEN 1 THEN " +
      payload("; charset=ISO-8859-1", sqlLit(CharsetSampleL)) +
      " WHEN 2 THEN " +
      payload("; charset=\"Windows-1252\"", sqlLit(CharsetViewW)) +
      " ELSE " + payload("", sqlLit(CharsetViewU)) +
      " END) || safe AS p FROM pl),\n" +
      "hx AS (SELECT doc_id, cls, safe, p, " +
      "list_extract(string_split(p, " + crlf + " || " + crlf + "), 1) " +
      "AS hdr FROM pp),\n" +
      "px AS (SELECT doc_id, cls, safe, " +
      "lower(trim(regexp_extract(hdr, " +
      "'(?mi)^Content-Type:[^\r]*?charset=\"?([A-Za-z0-9_.:-]*)', 1), " +
      "' ' || chr(9))) AS http_charset, " +
      "substring(p, length(hdr) + 5) AS http_body FROM hx)\n" +
      "SELECT doc_id, http_charset, md5(http_body) AS raw_md5, " +
      "md5((CASE cls WHEN 1 THEN " + sqlLit(CharsetSampleL) +
      " WHEN 2 THEN " + sqlLit(CharsetSampleW) +
      " ELSE " + sqlLit(CharsetSampleU) + " END) || safe) " +
      "AS decoded_md5, true AS roundtrip_ok " +
      "FROM px ORDER BY doc_id"
  }

  private def httpGateOracleSql: String =
    "WITH " + httpPlantCte + ",\n" +
      "hr AS (SELECT doc_id, p FROM pl),\n" +
      httpParseCtes + "\n" +
      "SELECT doc_id, http_status, http_media_type, http_location, " +
      "coalesce(http_status = 200 AND http_media_type = 'text/html', " +
      "false) AS is_fetch_content, " +
      "CASE WHEN http_body IS NOT NULL THEN md5(http_body) END " +
      "AS body_md5 FROM px ORDER BY doc_id"

  /** q167/q168: the redirect plant's EDGE relation and the unrolled
    * bounded-hop resolution (maxHops=3 → two advance rounds + the
    * final still-redirecting probe), replaying
    * `UrlOps.resolveRedirects` exactly — cur/hops/visited-list/loop
    * state per round, loop = membership in `seen ∪ {cur}` (so A→B→A
    * and self-redirects close without burning the cap). Ends in
    * `rf(start_url, cur, hops, lp, nxt)`. Shared by both oracles. */
  private def redirectCtes: String = {
    def uof(x: String): String =
      s"'https://src' || CAST(($x) % 20 AS VARCHAR) || " +
        s"'.example.com/d/' || CAST(($x) AS VARCHAR)"
    def advance(prev: String): String =
      s"SELECT start_url, " +
        "CASE WHEN NOT lp AND e.dst IS NOT NULL AND " +
        "NOT list_contains(list_append(seen, cur), e.dst) " +
        "THEN e.dst ELSE cur END AS cur, " +
        "hops + (CASE WHEN NOT lp AND e.dst IS NOT NULL " +
        "THEN 1 ELSE 0 END) AS hops, " +
        "CASE WHEN NOT lp AND e.dst IS NOT NULL AND " +
        "NOT list_contains(list_append(seen, cur), e.dst) " +
        "THEN list_append(seen, cur) ELSE seen END AS seen, " +
        "lp OR (NOT lp AND e.dst IS NOT NULL AND " +
        "list_contains(list_append(seen, cur), e.dst)) AS lp " +
        s"FROM $prev LEFT JOIN redges e ON $prev.cur = e.src"
    "ru AS (SELECT doc_id, doc_id % 10 AS c, " + uof("doc_id") +
      " AS u FROM documents),\n" +
      "redges AS (SELECT u AS src, CASE c " +
      "WHEN 1 THEN " + uof("doc_id + 1") +
      " WHEN 2 THEN " + uof("doc_id + 1") +
      " WHEN 4 THEN 'https://src' || CAST(doc_id % 20 AS VARCHAR) || " +
      "'.example.com/moved/home' " +
      "WHEN 5 THEN " + uof("doc_id + 1") +
      " WHEN 6 THEN " + uof("doc_id - 1") +
      " WHEN 7 THEN u " +
      "WHEN 8 THEN " + uof("doc_id + 1") +
      " WHEN 9 THEN " + uof("doc_id + 2") +
      " END AS dst FROM ru WHERE c IN (1, 2, 4, 5, 6, 7, 8, 9)),\n" +
      "r1 AS (SELECT src AS start_url, dst AS cur, " +
      "CAST(1 AS BIGINT) AS hops, [src] AS seen, dst = src AS lp " +
      "FROM redges),\n" +
      "r2 AS (" + advance("r1") + "),\n" +
      "r3 AS (" + advance("r2") + "),\n" +
      "rf AS (SELECT r3.start_url, r3.cur, r3.hops, r3.lp, " +
      "e.dst AS nxt FROM r3 LEFT JOIN redges e ON r3.cur = e.src)"
  }

  /** q167: one row per redirect response — final URL (null on loops),
    * hops followed (loop-closing hop included), and the
    * resolved/loop/cap verdict. */
  private def redirectChainsOracleSql: String =
    "WITH " + redirectCtes + "\n" +
      "SELECT start_url, CASE WHEN lp THEN NULL ELSE cur END " +
      "AS final_url, hops, " +
      "CASE WHEN lp THEN 'loop' WHEN nxt IS NOT NULL THEN 'cap' " +
      "ELSE 'resolved' END AS status " +
      "FROM rf ORDER BY start_url"

  /** q169: the conditional-fetch plant and schedule replayed — the
    * same (?mi) header pulls, the same strict IMF-fixdate regex with
    * a CASE month map, the q162 30-day bucket formulation over the
    * converted ISO date, and the per-host budget window ordered
    * (bucket, url) — graft_top_k's (ord DESC, payload ASC) replayed. */
  private def refetchOracleSql: String = {
    val crlf = "chr(13) || chr(10)"
    val imfRx = "'^[A-Za-z]{3}, ([0-9]{2}) (Jan|Feb|Mar|Apr|May|Jun|" +
      "Jul|Aug|Sep|Oct|Nov|Dec) ([0-9]{4}) " +
      "[0-9]{2}:[0-9]{2}:[0-9]{2} GMT$'"
    val monthCase = "CASE regexp_extract(lm, " + imfRx + ", 2) " +
      "WHEN 'Jan' THEN '01' WHEN 'Feb' THEN '02' WHEN 'Mar' THEN '03' " +
      "WHEN 'Apr' THEN '04' WHEN 'May' THEN '05' WHEN 'Jun' THEN '06' " +
      "WHEN 'Jul' THEN '07' WHEN 'Aug' THEN '08' WHEN 'Sep' THEN '09' " +
      "WHEN 'Oct' THEN '10' WHEN 'Nov' THEN '11' ELSE '12' END"
    "WITH pc AS (SELECT doc_id, doc_id % 6 AS c, " +
      "'https://src' || CAST(doc_id % 20 AS VARCHAR) || " +
      "'.example.com/d/' || CAST(doc_id AS VARCHAR) AS u, " +
      "'ETag: \"v' || CAST(doc_id AS VARCHAR) || '\"' || " + crlf +
      " AS et, " +
      "'ETag: W/\"v' || CAST(doc_id AS VARCHAR) || '\"' || " + crlf +
      " AS wet FROM documents),\n" +
      "pl2 AS (SELECT doc_id, u, 'HTTP/1.1 200 OK' || " + crlf +
      " || 'Content-Type: text/html' || " + crlf + " || (CASE c " +
      "WHEN 0 THEN et || " +
      "'Last-Modified: Mon, 02 Feb 2026 10:00:00 GMT' || " + crlf +
      " WHEN 1 THEN 'Last-Modified: Sun, 15 Mar 2020 08:49:37 GMT' || " +
      crlf +
      " WHEN 2 THEN wet " +
      "WHEN 3 THEN et || 'Last-Modified: 2026-02-01' || " + crlf +
      " WHEN 4 THEN '' " +
      "ELSE et || 'Last-Modified: Sat, 01 Nov 2025 00:00:00 GMT' || " +
      crlf + " END) || " + crlf +
      " || '<html>page</html>' AS p FROM pc),\n" +
      "hx2 AS (SELECT doc_id, u, list_extract(string_split(p, " +
      crlf + " || " + crlf + "), 1) AS hdr FROM pl2),\n" +
      "px2 AS (SELECT doc_id, u, " +
      "trim(regexp_extract(hdr, '(?mi)^ETag:([^\r]*)', 1), " +
      "' ' || chr(9)) AS etag, " +
      "trim(regexp_extract(hdr, '(?mi)^Last-Modified:([^\r]*)', 1), " +
      "' ' || chr(9)) AS lm FROM hx2),\n" +
      "iso AS (SELECT doc_id, u, etag, " +
      "CASE WHEN regexp_matches(lm, " + imfRx + ") THEN " +
      "regexp_extract(lm, " + imfRx + ", 3) || '-' || (" + monthCase +
      ") || '-' || regexp_extract(lm, " + imfRx + ", 1) " +
      "ELSE '' END AS lastmod_iso FROM px2),\n" +
      "rb2 AS (SELECT u, etag, lastmod_iso, " +
      "regexp_extract(u, '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) AS host, " +
      "CAST(CASE WHEN " +
      "regexp_matches(lastmod_iso, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') " +
      "AND try_cast(lastmod_iso AS DATE) IS NOT NULL THEN " +
      "least(greatest(date_diff('day', try_cast(lastmod_iso AS DATE), " +
      "DATE '2026-02-10'), 0) // 30, 11) ELSE 12 END AS BIGINT) " +
      "AS age_bucket, " +
      "(etag <> '' OR lastmod_iso <> '') AS has_validator FROM iso),\n" +
      "rk2 AS (SELECT *, row_number() OVER (PARTITION BY host " +
      "ORDER BY age_bucket, u) AS rnk FROM rb2)\n" +
      "SELECT host, CAST(rnk AS BIGINT) AS rank, u AS url_canon, " +
      "age_bucket, etag, has_validator FROM rk2 WHERE rnk <= 3 " +
      "ORDER BY host, rank"
  }

  /** q170: the variant-URL plant, the two-order `<link rel=canonical>`
    * pull (patterns shared verbatim), root-relative resolution against
    * the page's own host, and the pick replayed — in-host declared
    * targets matched to members by one join, min() winners, min-id
    * fallback. */
  private def declaredCanonicalOracleSql: String = {
    val hostRx = "'^[a-z][a-z0-9+.-]*://([^/?]*)'"
    "WITH cp AS (SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS v " +
      "FROM documents),\n" +
      "cb AS (SELECT doc_id, g, v, " +
      "'src' || CAST(g % 20 AS VARCHAR) || '.example.com' AS host, " +
      "'canonical probe text for group ' || CAST(g AS VARCHAR) " +
      "AS content FROM cp),\n" +
      "cu AS (SELECT doc_id, g, v, host, content, " +
      "'https://' || host || '/p/' || CAST(g AS VARCHAR) || '/v' || " +
      "CAST(v AS VARCHAR) AS u, " +
      "CASE WHEN g % 4 = 0 THEN (CASE WHEN g % 8 = 0 THEN " +
      "'/p/' || CAST(g AS VARCHAR) || '/v2' ELSE " +
      "'https://' || host || '/p/' || CAST(g AS VARCHAR) || '/v2' " +
      "END) WHEN g % 4 = 1 THEN " +
      "'https://other.example.net/p/' || CAST(g AS VARCHAR) " +
      "WHEN g % 4 = 3 THEN 'https://' || host || '/p/' || " +
      "CAST(g AS VARCHAR) || '/master' END AS dh FROM cb),\n" +
      "ch AS (SELECT doc_id, host, content, u, " +
      "'<html><head><link rel=\"stylesheet\" href=\"/css/main.css\">' " +
      "|| (CASE WHEN dh IS NULL THEN '' WHEN doc_id % 2 = 0 THEN " +
      "'<link rel=\"canonical\" href=\"' || dh || '\">' ELSE " +
      "'<link href=\"' || dh || '\" rel=\"canonical\">' END) || " +
      "'</head><body><p>' || content || '</p></body></html>' " +
      "AS html FROM cu),\n" +
      "cx AS (SELECT doc_id, host, u, md5(content) AS content_hash, " +
      "coalesce(nullif(regexp_extract(html, '" +
      graft.ext.UrlOps.CanonicalRelFirstPattern + "', 1), ''), " +
      "nullif(regexp_extract(html, '" +
      graft.ext.UrlOps.CanonicalHrefFirstPattern + "', 1), '')) " +
      "AS raw FROM ch),\n" +
      "cd AS (SELECT doc_id, u, content_hash, " +
      "CASE WHEN raw IS NULL THEN NULL WHEN starts_with(raw, '/') " +
      "THEN 'https://' || host || raw ELSE raw END AS decl_canon " +
      "FROM cx),\n" +
      "dcl AS (SELECT DISTINCT content_hash, decl_canon AS target " +
      "FROM cd WHERE decl_canon IS NOT NULL AND " +
      "regexp_extract(decl_canon, " + hostRx + ", 1) = " +
      "regexp_extract(u, " + hostRx + ", 1)),\n" +
      "mem AS (SELECT content_hash, u AS target, doc_id FROM cd),\n" +
      "mtc AS (SELECT d.content_hash, min(m.doc_id) AS decl_winner " +
      "FROM dcl d JOIN mem m ON d.content_hash = m.content_hash " +
      "AND d.target = m.target GROUP BY 1),\n" +
      "grp AS (SELECT content_hash, min(doc_id) AS min_id, " +
      "count(*) AS cluster_size FROM cd GROUP BY 1),\n" +
      "win AS (SELECT grp.content_hash, " +
      "coalesce(mtc.decl_winner, grp.min_id) AS canonical_id, " +
      "grp.cluster_size FROM grp LEFT JOIN mtc " +
      "ON grp.content_hash = mtc.content_hash)\n" +
      "SELECT cd.doc_id, cd.u AS url_canon, " +
      "coalesce(cd.decl_canon, '') AS decl_canon, win.canonical_id, " +
      "win.cluster_size, (cd.doc_id = win.canonical_id) " +
      "AS is_canonical FROM cd JOIN win " +
      "ON cd.content_hash = win.content_hash ORDER BY cd.doc_id"
  }

  /** q168: resolved finals grouped by FINAL canonical URL (enqueue
    * once; n_sources counts collapsed chains), anti-joined against the
    * fetched set — only dangling finals enter the queue. */
  private def redirectFrontierOracleSql: String =
    "WITH " + redirectCtes + ",\n" +
      "res AS (SELECT start_url, cur AS final_url FROM rf " +
      "WHERE NOT lp AND nxt IS NULL),\n" +
      "wsrc AS (SELECT res.final_url, ru.doc_id FROM res " +
      "JOIN ru ON res.start_url = ru.u),\n" +
      "rcand AS (SELECT final_url AS url_canon, min(doc_id) AS found_by, " +
      "count(*) AS n_sources FROM wsrc GROUP BY 1),\n" +
      "rfresh AS (SELECT rcand.* FROM rcand LEFT JOIN " +
      "(SELECT DISTINCT u FROM ru) fu ON rcand.url_canon = fu.u " +
      "WHERE fu.u IS NULL)\n" +
      "SELECT regexp_extract(url_canon, " +
      "'^[a-z][a-z0-9+.-]*://([^/?]*)', 1) AS link_host, url_canon, " +
      "found_by, n_sources FROM rfresh ORDER BY link_host, url_canon"

  /** q162: the recency frontier replayed — link candidates (shared
    * [[linkCtes]]) unioned with in-scope sitemap entries (shared
    * [[sitemapCtes]], found_by −1), the q154 anti join + robots max,
    * the 30-day age bucket gated by the SAME strict date regex
    * (`try_cast` covers regex-valid impossible dates in both
    * engines), and the budget window ordered by the SAME packed
    * ordinal `bucket·2²⁰ + min(depth, 2²⁰−1)` with url tie-break —
    * graft_top_k's (ord DESC, payload ASC) replayed exactly. */
  private def frontierRecencyOracleSql: String =
    "WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
      linkCtes + ",\n" + robotsRulesCtes + ",\n" + sitemapCtes + ",\n" +
      "lcand AS (SELECT url_canon AS link_canon, url_host AS link_host, " +
      "min(doc_id) AS found_by, '' AS lastmod FROM lc GROUP BY 1, 2),\n" +
      "scand AS (SELECT url_canon AS link_canon, url_host AS link_host, " +
      "CAST(-1 AS BIGINT) AS found_by, lastmod FROM sc " +
      "WHERE url_host = sitemap_host),\n" +
      "cand AS (SELECT link_canon, link_host, min(found_by) AS found_by, " +
      "max(lastmod) AS lastmod FROM " +
      "(SELECT * FROM lcand UNION ALL SELECT * FROM scand) un " +
      "GROUP BY 1, 2),\n" +
      "seen AS (SELECT DISTINCT url_canon FROM c),\n" +
      "fresh AS (SELECT cand.* FROM cand LEFT JOIN seen " +
      "ON cand.link_canon = seen.url_canon " +
      "WHERE seen.url_canon IS NULL),\n" +
      // mpath = path + query (the round-13 robots match target);
      // path stays query-stripped for the DEPTH count
      "pth AS (SELECT link_canon, link_host, found_by, lastmod, " +
      "regexp_extract(regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', ''), '^([^?]*)', 1) AS path, " +
      "regexp_replace(link_canon, " +
      "'^[a-z][a-z0-9+.-]*://[^/?]*', '') AS mpath " +
      "FROM fresh),\n" +
      "v AS (SELECT p.link_canon, p.link_host, p.found_by, p.lastmod, " +
      "p.path, max(coalesce(2 * length(r.rprefix) + " +
      "CASE WHEN r.rallow THEN 1 ELSE 0 END, 1)) AS score " +
      "FROM pth p LEFT JOIN rules r ON r.rhost = p.link_host " +
      "AND starts_with(p.mpath, r.rprefix) GROUP BY 1, 2, 3, 4, 5),\n" +
      "al AS (SELECT link_canon, link_host, found_by, lastmod, " +
      "CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) " +
      "AS BIGINT) AS depth FROM v WHERE score % 2 = 1),\n" +
      "rb AS (SELECT *, CAST(CASE WHEN " +
      "regexp_matches(lastmod, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$') " +
      "AND try_cast(lastmod AS DATE) IS NOT NULL THEN " +
      "least(greatest(date_diff('day', try_cast(lastmod AS DATE), " +
      "DATE '2026-02-10'), 0) // 30, 11) ELSE 12 END AS BIGINT) " +
      "AS recency_bucket FROM al),\n" +
      "rk AS (SELECT link_host, link_canon, depth, recency_bucket, " +
      "found_by, row_number() OVER (PARTITION BY link_host " +
      "ORDER BY recency_bucket * 1048576 + least(depth, 1048575), " +
      "link_canon) AS rnk FROM rb)\n" +
      "SELECT link_host, CAST(rnk AS BIGINT) AS rank, " +
      "link_canon AS url_canon, depth, recency_bucket, found_by " +
      "FROM rk WHERE rnk <= 3 ORDER BY link_host, rank"

  /** q157: the sitemap plant and parse replayed — block extraction,
    * loc/lastmod pulls and the canonicalization chain all from the
    * shared patterns. */
  private def sitemapOracleSql: String =
    "WITH hosts AS (SELECT DISTINCT lower(source) AS h FROM documents),\n" +
      sitemapCtes + "\n" +
      "SELECT sitemap_host, url_canon, url_host, lastmod, " +
      "lastmod <> '' AS had_lastmod, " +
      "url_host = sitemap_host AS in_scope FROM sc " +
      "ORDER BY sitemap_host, url_canon"

  /** The planted WARC file per doc of `pp(doc_id, url, http, p2)` as
    * `wf(doc_id, txt)`: a warcinfo record, the response record wrapping
    * `http`, and a metadata record carrying `p2` whose Content-Length
    * overstates every 4th doc's payload by 5. */
  private def warcFileCte: String = {
    val crlf = "chr(13) || chr(10)"
    "wf AS (SELECT doc_id, " +
      "'WARC/1.0' || " + crlf + " || 'WARC-Type: warcinfo' || " + crlf +
      " || 'Content-Length: 15' || " + crlf + " || " + crlf +
      " || 'software: graft' || " + crlf + " || " + crlf + " || " +
      "'WARC/1.0' || " + crlf + " || 'WARC-Type: response' || " + crlf +
      " || 'WARC-Target-URI: ' || url || " + crlf +
      " || 'Content-Length: ' || CAST(length(http) AS VARCHAR) || " +
      crlf + " || " + crlf + " || http || " + crlf + " || " + crlf +
      " || 'WARC/1.0' || " + crlf + " || 'WARC-Type: metadata' || " +
      crlf + " || 'Content-Length: ' || CAST(CASE WHEN doc_id % 4 = 0 " +
      "THEN length(p2) + 5 ELSE length(p2) END AS VARCHAR) || " +
      crlf + " || " + crlf + " || p2 || " + crlf + " || " + crlf +
      " AS txt FROM pp)"
  }

  /** q158: the WARC plant and parse replayed — same construction
    * (lengths via `length()` over shared pieces), same version-line
    * split, first-blank-line header bound, and Content-Length
    * substring slice. */
  private def warcOracleSql: String = {
    val crlf = "chr(13) || chr(10)"
    "WITH aug AS (" + urlPlantSql + "),\n" +
      "pp AS (SELECT doc_id, url, " +
      "'HTTP/1.1 200 OK' || " + crlf + " || 'Content-Type: text/html' || " +
      crlf + " || " + crlf + " || '<html><body>doc ' || " +
      "CAST(doc_id AS VARCHAR) || '</body></html>' AS http, " +
      "'fetchTimeMs: ' || CAST(doc_id AS VARCHAR) AS p2 FROM aug),\n" +
      warcFileCte + ",\n" + warcParseCtes + "\n" +
      "SELECT doc_id, rec_no, warc_type, target_uri, content_length, " +
      "CAST(length(payload) AS BIGINT) AS payload_len, " +
      "coalesce(length(payload) = content_length, false) " +
      "AS length_matches, " +
      "CASE WHEN payload IS NOT NULL THEN md5(payload) END AS payload_md5 " +
      "FROM r3 ORDER BY doc_id, rec_no"
  }

  /** The q158 parse replay reading `wf(doc_id, txt)` — version-line
    * split, first-blank-line header bound, Content-Length slice.
    * Ends in `r3(doc_id, rec_no, warc_type, target_uri,
    * content_length, payload)`. Shared by q158 and q159. */
  private def warcParseCtes: String = {
    val crlf = "chr(13) || chr(10)"
    "rx AS (SELECT doc_id, " +
      "unnest(string_split(txt, 'WARC/1.0' || " + crlf + ")) AS rec, " +
      "unnest(generate_series(1, " +
      "len(string_split(txt, 'WARC/1.0' || " + crlf + ")))) AS posn " +
      "FROM wf),\n" +
      "r1 AS (SELECT doc_id, CAST(posn - 1 AS BIGINT) AS rec_no, rec, " +
      "list_extract(string_split(rec, " + crlf + " || " + crlf + "), 1) " +
      "AS hdr FROM rx WHERE posn > 1),\n" +
      "r2 AS (SELECT doc_id, rec_no, rec, hdr, " +
      "regexp_extract(hdr, '(?m)^WARC-Type: ([^\r]*)', 1) AS warc_type, " +
      "regexp_extract(hdr, '(?m)^WARC-Target-URI: ([^\r]*)', 1) " +
      "AS target_uri, " +
      "CAST(nullif(regexp_extract(hdr, " +
      "'(?m)^Content-Length: ([0-9]+)', 1), '') AS BIGINT) " +
      "AS content_length FROM r1),\n" +
      "r3 AS (SELECT doc_id, rec_no, warc_type, target_uri, " +
      "content_length, substring(rec, length(hdr) + 5, " +
      "CAST(content_length AS INTEGER)) AS payload FROM r2)"
  }

  /** q159: the q158 archive construction with the q149 pages as HTTP
    * bodies, the shared parse chain, HTTP-body split-off, then the
    * shared funnel stages — the full archive→corpus replay. */
  private def warcFunnelOracleSql: String = {
    val crlf = "chr(13) || chr(10)"
    "WITH w0 AS (SELECT u.doc_id, u.url, d.text FROM (" + urlPlantSql +
      ") u JOIN documents d ON u.doc_id = d.doc_id),\n" +
      "pp AS (SELECT doc_id, url, " +
      "'HTTP/1.1 200 OK' || " + crlf + " || 'Content-Type: text/html' || " +
      crlf + " || " + crlf + " || " + q149HtmlSql + " AS http, " +
      "'fetchTimeMs: ' || CAST(doc_id AS VARCHAR) AS p2 FROM w0),\n" +
      warcFileCte + ",\n" + warcParseCtes + ",\n" +
      "aug AS (SELECT doc_id, list_extract(string_split(payload, " +
      crlf + " || " + crlf + "), 2) AS html FROM r3 " +
      "WHERE warc_type = 'response' " +
      "AND coalesce(length(payload) = content_length, false)),\n" +
      funnelStagesSql
  }

  val oracleSql: Map[String, String] = Map(

    "q150_url_canonicalize" -> urlCanonicalizeOracleSql,

    "q151_host_rollup" -> hostRollupOracleSql,

    "q152_robots_filter" -> robotsOracleSql,

    "q161_robots_wildcards" -> robotsWildcardOracleSql,

    "q162_frontier_recency" -> frontierRecencyOracleSql,

    "q163_http_response_gate" -> httpGateOracleSql,

    "q166_charset_decode" -> charsetDecodeOracleSql,

    "q167_redirect_chains" -> redirectChainsOracleSql,

    "q168_redirect_frontier" -> redirectFrontierOracleSql,

    "q169_refetch_schedule" -> refetchOracleSql,

    "q170_declared_canonical" -> declaredCanonicalOracleSql,

    "q171_sitemap_recursion" -> sitemapRecursionOracleSql,

    "q172_revisit_merge" -> revisitMergeOracleSql,

    "q193_revisit_log_state" -> revisitLogOracleSql,

    // q194: the plant's per-digit policy classes make the expected
    // deltas closed-form — the PARSE itself is pinned by q152 and
    // UrlOpsSpec, the delta arithmetic by RobotsCacheSpec; the oracle
    // states the per-class outcome (the q188 replays-results
    // discipline)
    "q194_robots_policy_delta" ->
      ("WITH h AS (SELECT DISTINCT 'src' || " +
        "CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host, " +
        "CAST(doc_id % 20 AS BIGINT) % 3 AS c FROM documents)\n" +
        "SELECT host, " +
        "CAST(CASE WHEN c = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_added, " +
        "CAST(CASE WHEN c = 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS n_removed, " +
        "CAST(CASE WHEN c = 0 THEN 2 ELSE 0 END AS BIGINT) " +
        "AS n_tightened, " +
        "true AS policy_changed " +
        "FROM h WHERE c <> 2 ORDER BY host"),

    "q173_unified_frontier" -> unifiedFrontierOracleSql,

    // q196: the mirror lift replayed on raw text equality (the q195
    // oracle's discipline), the component closure as a RECURSIVE
    // transitive reach with min-label fold (pairs → components), the
    // q154 budget CTEs, and the representative pick
    "q196_mirror_collapse" ->
      ("WITH RECURSIVE " + frontierCtes + ",\n" +
        mirrorComponentCtes + ",\n" +
        "mbud AS (SELECT link_host, CAST(count(*) AS BIGINT) " +
        "AS n_budgeted FROM rk WHERE rnk <= 3 GROUP BY link_host)\n" +
        "SELECT b.link_host, b.n_budgeted, " +
        "coalesce(c.rep, b.link_host) AS mirror_rep, " +
        "coalesce(c.rep, b.link_host) <> b.link_host AS is_mirror_dup " +
        "FROM mbud b LEFT JOIN mcomp c ON c.mhost = b.link_host " +
        "ORDER BY b.link_host"),

    // q201: the q196 component closure TWICE — the cycle-1 universe
    // (mcomp, the frozen PRE labeling) and the cycle-2 union with
    // src1's mirrored fetches (m2comp, what the drift-driven rebuild
    // retrains) — with the same cap/minShared lift on each; the
    // engine's persisted hash relation, drift check, and rebuild are
    // plumbing the oracle replays as relations (the q188
    // replays-results discipline)
    "q201_mirror_drift_rebuild" ->
      ("WITH RECURSIVE " + frontierCtes + ",\n" +
        mirrorComponentCtes + ",\n" +
        "b2 AS (SELECT 'src1.example.com' AS mhost, " +
        "'mirrored ' || CAST(doc_id % 29 AS VARCHAR) AS mt " +
        "FROM documents WHERE doc_id % 3 = 1 AND doc_id % 20 = 1),\n" +
        "m2hx AS (SELECT DISTINCT mhost, mt FROM " +
        "(SELECT mhost, mt FROM mcls " +
        "UNION ALL SELECT mhost, mt FROM b2)),\n" +
        "m2cnt AS (SELECT mt, count(*) AS n FROM m2hx GROUP BY mt),\n" +
        "m2ok AS (SELECT m2hx.mhost, m2hx.mt FROM m2hx " +
        "JOIN m2cnt USING (mt) WHERE n <= 6),\n" +
        "m2pr AS (SELECT a.mhost AS ha, b.mhost AS hb FROM m2ok a " +
        "JOIN m2ok b ON a.mt = b.mt AND a.mhost < b.mhost " +
        "GROUP BY 1, 2 HAVING count(*) >= 2),\n" +
        "m2edge AS (SELECT ha AS s, hb AS d FROM m2pr " +
        "UNION ALL SELECT hb, ha FROM m2pr),\n" +
        "m2reach(h, r) AS (SELECT s, s FROM m2edge " +
        "UNION SELECT m.h, e.d FROM m2reach m " +
        "JOIN m2edge e ON e.s = m.r),\n" +
        "m2comp AS (SELECT h AS mhost, min(r) AS rep FROM m2reach " +
        "GROUP BY h),\n" +
        "mbud AS (SELECT link_host, CAST(count(*) AS BIGINT) " +
        "AS n_budgeted FROM rk WHERE rnk <= 3 GROUP BY link_host)\n" +
        "SELECT b.link_host, b.n_budgeted, " +
        "coalesce(c1.rep, b.link_host) AS rep_pre, " +
        "coalesce(c2.rep, b.link_host) AS rep_post, " +
        "coalesce(c1.rep, b.link_host) <> b.link_host " +
        "AS is_mirror_dup_pre, " +
        "coalesce(c2.rep, b.link_host) <> b.link_host " +
        "AS is_mirror_dup_post, " +
        "coalesce(c2.rep, b.link_host) <> b.link_host AND " +
        "coalesce(c1.rep, b.link_host) = b.link_host " +
        "AS evicted_by_rebuild " +
        "FROM mbud b LEFT JOIN mcomp c1 ON c1.mhost = b.link_host " +
        "LEFT JOIN m2comp c2 ON c2.mhost = b.link_host " +
        "ORDER BY b.link_host"),

    // q203: BOTH trainings replayed — cycle 1 is q155's unroll over
    // the real edge list `eg`, cycle 2 the same recurrence over the
    // union graph (eg + one in-link to the new hub per distinct
    // source host); the output join replays the scheduler's
    // stale-vs-rebuilt read.
    "q203_authority_drift_rebuild" ->
      ("WITH aug AS (" + urlPlantSql + "),\n" + urlCanonCtes + ",\n" +
        linkCtes + ",\n" + hostPagerankIterCtes + ",\n" +
        "beg AS (SELECT u, v FROM eg UNION " +
        "SELECT DISTINCT u, 'newhub.example.com' AS v FROM eg),\n" +
        pageRankIterCtesOver("b", "beg") + ",\n" +
        "sel AS (SELECT n.v AS host, " +
        "coalesce(a.pr_micro, 0) AS pr_pre, " +
        "n.pr_micro AS pr_post, a.pr_micro IS NOT NULL AS cov " +
        "FROM bpr10 n LEFT JOIN pr10 a ON a.v = n.v),\n" +
        "ord AS (SELECT host, pr_pre, pr_post, cov, " +
        "CAST(row_number() OVER (ORDER BY pr_pre DESC, host) " +
        "AS BIGINT) AS order_pre, " +
        "CAST(row_number() OVER (ORDER BY pr_post DESC, host) " +
        "AS BIGINT) AS order_post FROM sel)\n" +
        "SELECT host, pr_pre AS pr_micro_pre, " +
        "pr_post AS pr_micro_post, cov AS covered_pre, " +
        "order_pre, order_post, " +
        "(NOT cov) AND order_post < order_pre AS promoted_by_rebuild " +
        "FROM ord ORDER BY host"),

    // q204: all four artifact replays composed — the q188 gate
    // arithmetic, the fixed planted delay (every budgeted host's
    // cached body carries Crawl-delay: 2), the q201 component
    // closure, the q155 PageRank unroll — joined per budgeted host
    // with the dispatch decision and authority order on top.
    "q204_scheduler_state" ->
      ("WITH RECURSIVE " + frontierCtes + ",\n" +
        hostPagerankIterCtes + ",\n" + mirrorComponentCtes + ",\n" +
        "sbud AS (SELECT link_host, CAST(count(*) AS BIGINT) " +
        "AS n_budgeted FROM rk WHERE rnk <= 3 GROUP BY link_host),\n" +
        "sage AS (SELECT *, 5 + CAST(coalesce(nullif(" +
        "regexp_extract(link_host, '([0-9])\\.example\\.', 1), ''), " +
        "'0') AS BIGINT) * 5 AS robots_age_hours FROM sbud),\n" +
        "srow AS (SELECT a.link_host, a.n_budgeted, " +
        "a.robots_age_hours, " +
        "CASE WHEN a.robots_age_hours > 24 " +
        "THEN 'refetch_robots_first' ELSE 'proceed' END AS action, " +
        "CAST(2000000 AS BIGINT) AS crawl_delay_micros, " +
        "coalesce(c.rep, a.link_host) AS mirror_rep, " +
        "coalesce(c.rep, a.link_host) <> a.link_host AS is_mirror_dup, " +
        "coalesce(p.pr_micro, 0) AS authority_micro " +
        "FROM sage a LEFT JOIN mcomp c ON c.mhost = a.link_host " +
        "LEFT JOIN pr10 p ON p.v = a.link_host),\n" +
        "sdec AS (SELECT *, action = 'proceed' AND NOT is_mirror_dup " +
        "AS dispatch FROM srow)\n" +
        "SELECT link_host, n_budgeted, robots_age_hours, action, " +
        "crawl_delay_micros, mirror_rep, is_mirror_dup, " +
        "authority_micro, dispatch, " +
        "CAST(row_number() OVER (ORDER BY dispatch DESC, " +
        "authority_micro DESC, link_host) AS BIGINT) AS fetch_order " +
        "FROM sdec ORDER BY link_host"),

    // q197: the q154 budget CTEs + the tightened-host class closed
    // form (the q194 oracle's discipline: the PARSE and the delta
    // arithmetic are pinned by q152/q156/q194 and RobotsCacheSpec;
    // this oracle replays the re-verdict over the latest rule set —
    // {/private, /Docs} all-disallow, so allowed = no prefix match)
    "q197_tightening_reverdict" ->
      ("WITH " + frontierCtes + ",\n" +
        "tg AS (SELECT DISTINCT link_host FROM rk WHERE rnk <= 3 " +
        "AND regexp_extract(link_host, '^src([0-9]+)\\.', 1) <> '' " +
        "AND CAST(regexp_extract(link_host, '^src([0-9]+)\\.', 1) " +
        "AS BIGINT) % 3 = 0),\n" +
        "fp AS (SELECT link_host, rnk, link_canon, " +
        "regexp_replace(link_canon, " +
        "'^[a-z][a-z0-9+.-]*://[^/?]*', '') AS mp " +
        "FROM rk WHERE rnk <= 3)\n" +
        "SELECT f.link_host, CAST(f.rnk AS BIGINT) AS rank, " +
        "f.link_canon AS url_canon, " +
        "CAST(CASE WHEN t.link_host IS NULL THEN 0 ELSE 1 END " +
        "AS BIGINT) AS n_tightened, " +
        "t.link_host IS NOT NULL AS re_verdicted, " +
        "CASE WHEN t.link_host IS NULL THEN true " +
        "ELSE NOT (starts_with(f.mp, '/Docs') " +
        "OR starts_with(f.mp, '/private')) END AS fetch_allowed, " +
        "t.link_host IS NOT NULL AND (starts_with(f.mp, '/Docs') " +
        "OR starts_with(f.mp, '/private')) AS evicted " +
        "FROM fp f LEFT JOIN tg t ON t.link_host = f.link_host " +
        "ORDER BY f.link_host, rank"),

    "q174_robots_sitemaps" -> robotsSitemapsOracleSql,

    "q175_nofollow_links" -> nofollowOracleSql,

    "q176_robots_sitemap_frontier" -> robotsSitemapFrontierOracleSql,

    "q177_base_href_outlinks" -> baseHrefOracleSql,

    "q178_retry_after_backoff" -> retryAfterOracleSql,

    "q179_anchor_text" -> anchorTextOracleSql,

    "q180_exclusion_frontier" -> exclusionFrontierOracleSql,

    "q181_throttled_schedule" -> throttledScheduleOracleSql,

    "q182_declared_language" -> declaredLanguageOracleSql,

    "q191_language_gate" -> languageGateOracleSql,

    "q183_hreflang_alternates" -> hreflangOracleSql,

    "q184_translation_pairs" -> translationPairsOracleSql,

    "q186_url_identity" -> urlIdentityOracleSql,

    "q190_identity_divergence" -> identityDivergenceOracleSql,

    "q187_authority_fetch_order" -> authorityFetchOrderOracleSql,

    "q188_robots_ttl_gate" ->
      ("WITH " + frontierCtes + ",\n" +
        "rtg AS (SELECT link_host, CAST(count(*) AS BIGINT) " +
        "AS n_budgeted FROM rk WHERE rnk <= 3 GROUP BY link_host),\n" +
        "rta AS (SELECT *, 5 + CAST(coalesce(nullif(" +
        "regexp_extract(link_host, '([0-9])\\.example\\.', 1), ''), " +
        "'0') AS BIGINT) * 5 AS robots_age_hours FROM rtg)\n" +
        "SELECT link_host, n_budgeted, robots_age_hours, " +
        "robots_age_hours > 24 AS robots_stale, " +
        "CASE WHEN robots_age_hours > 24 THEN 'refetch_robots_first' " +
        "ELSE 'proceed' END AS action FROM rta ORDER BY link_host"),

    "q192_crawl_cycle" -> crawlCycleOracleSql,

    // q198: cycle TWO replayed over the artifact loop — the collapsed
    // frontier (q154 CTEs minus mirror-dup hosts), the q188 digit-age
    // gate CASE for cycle 1, the q172 merge CASE applied TWICE (the
    // revisit log's seq-1 and seq-2 states), and the
    // all-hosts-proceed cycle-2 gate (every stale host refetched
    // robots in cycle 1, so its cycle-2 age is one hour — closed form,
    // the q194 oracle's replays-results discipline)
    "q198_crawl_cycle2" ->
      ("WITH RECURSIVE " + frontierCtes + ",\n" +
        mirrorComponentCtes + ",\n" +
        "cfr AS (SELECT f.link_host, CAST(f.rnk AS BIGINT) AS rank, " +
        "f.link_canon AS url_canon FROM rk f " +
        "LEFT JOIN mcomp c ON c.mhost = f.link_host " +
        "WHERE f.rnk <= 3 AND (c.rep IS NULL OR c.rep = f.link_host)),\n" +
        "g1 AS (SELECT link_host, CASE WHEN 5 + CAST(coalesce(nullif(" +
        "regexp_extract(link_host, '([0-9])\\.example\\.', 1), ''), " +
        "'0') AS BIGINT) * 5 > 24 THEN 'refetch_robots_first' " +
        "ELSE 'proceed' END AS action_c1 FROM " +
        "(SELECT DISTINCT link_host FROM cfr) t),\n" +
        "corp AS (SELECT url_canon, " +
        "'stale content of ' || url_canon AS body, " +
        "'2026-01-01' AS ff, '2026-01-15' AS lv, " +
        "length(url_canon) % 6 <> 0 AS act FROM cfr " +
        "WHERE length(url_canon) % 3 = 0),\n" +
        "a1 AS (SELECT c.url_canon, CAST(CASE " +
        "WHEN length(c.url_canon) % 3 = 0 " +
        "AND length(c.url_canon) % 7 = 2 THEN 304 " +
        "WHEN length(c.url_canon) % 7 = 0 THEN 404 " +
        "WHEN length(c.url_canon) % 7 = 1 THEN 503 " +
        "ELSE 200 END AS BIGINT) AS st FROM cfr c " +
        "JOIN g1 USING (link_host) WHERE g1.action_c1 = 'proceed'),\n" +
        "a1b AS (SELECT url_canon, st, CASE WHEN st = 200 THEN " +
        "'cycle one fetch of ' || url_canon END AS body FROM a1),\n" +
        "s1 AS (SELECT coalesce(c.url_canon, a.url_canon) AS url_canon, " +
        "CASE WHEN a.st = 200 THEN a.body ELSE c.body END AS body, " +
        "coalesce(c.ff, '2026-02-10') AS ff, " +
        "CASE WHEN a.st IN (200, 304) THEN '2026-02-10' ELSE c.lv END " +
        "AS lv, " +
        "CASE WHEN a.st IN (200, 304) THEN true " +
        "WHEN a.st IN (404, 410) THEN false " +
        "ELSE coalesce(c.act, false) END AS act " +
        "FROM corp c FULL JOIN a1b a ON c.url_canon = a.url_canon " +
        "WHERE c.url_canon IS NOT NULL " +
        "OR (a.st = 200 AND a.body IS NOT NULL)),\n" +
        "a2 AS (SELECT url_canon, CAST(CASE " +
        "WHEN length(url_canon) % 5 = 0 THEN 304 " +
        "WHEN length(url_canon) % 5 = 1 THEN 404 " +
        "WHEN length(url_canon) % 5 = 2 THEN 503 " +
        "ELSE 200 END AS BIGINT) AS st FROM cfr),\n" +
        "a2b AS (SELECT url_canon, st, CASE WHEN st = 200 THEN " +
        "'cycle two fetch of ' || url_canon END AS body FROM a2),\n" +
        "s2 AS (SELECT coalesce(c.url_canon, a.url_canon) AS url_canon, " +
        "CASE WHEN a.st = 200 THEN a.body ELSE c.body END AS body, " +
        "coalesce(c.ff, '2026-02-17') AS ff, " +
        "CASE WHEN a.st IN (200, 304) THEN '2026-02-17' ELSE c.lv END " +
        "AS lv, " +
        "CASE WHEN a.st IN (200, 304) THEN true " +
        "WHEN a.st IN (404, 410) THEN false " +
        "ELSE coalesce(c.act, false) END AS act " +
        "FROM s1 c FULL JOIN a2b a ON c.url_canon = a.url_canon " +
        "WHERE c.url_canon IS NOT NULL " +
        "OR (a.st = 200 AND a.body IS NOT NULL))\n" +
        "SELECT f.link_host, f.rank, f.url_canon, g1.action_c1, " +
        "'proceed' AS action_c2, a2.st AS sim_status_c2, " +
        "s.act AS is_active, " +
        "CASE WHEN s.url_canon IS NOT NULL THEN md5(s.body) END " +
        "AS body_md5, s.ff AS first_fetched, s.lv AS last_validated " +
        "FROM cfr f JOIN g1 USING (link_host) " +
        "JOIN a2 ON a2.url_canon = f.url_canon " +
        "LEFT JOIN s2 s ON s.url_canon = f.url_canon " +
        "ORDER BY f.link_host, f.rank"),

    "q164_sitemap_index" -> sitemapIndexOracleSql,

    "q165_warc_health_census" -> warcHealthOracleSql,

    "q153_outlink_graph" -> outlinkGraphOracleSql,

    "q154_crawl_frontier" -> frontierOracleSql,

    "q155_host_pagerank" -> hostPagerankOracleSql,

    "q156_robots_parse" -> robotsParseOracleSql,

    "q160_fetch_schedule" -> fetchScheduleOracleSql,

    // q199: the q160 schedule formula with the delay winner OVERRIDDEN
    // for the refetched even-digit hosts (their latest fetch declares
    // 10 s) — the bootstrap winners replay through the shared
    // crawl-delay CTEs, the refetch class is closed-form off the same
    // plant digits
    "q199_delay_from_cache" ->
      ("WITH " + frontierCtes + ",\n" + robotsTxtCtes + ",\n" +
        crawlDelayCtes + ",\n" +
        "rfc AS (SELECT h || '.example.com' AS host FROM rbh " +
        "WHERE CAST(regexp_extract(h, '([0-9])$', 1) AS BIGINT) " +
        "% 2 = 0),\n" +
        "dlv AS (SELECT d.host, CASE WHEN r.host IS NOT NULL " +
        "THEN 10000000 ELSE d.dmic END AS dmic " +
        "FROM dms d LEFT JOIN rfc r ON r.host = d.host)\n" +
        "SELECT f.link_host, CAST(f.rnk AS BIGINT) AS rank, " +
        "f.link_canon AS url_canon, f.depth, f.found_by, " +
        "CAST((f.rnk - 1) * coalesce(d.dmic, 1000000) AS BIGINT) " +
        "AS fetch_at_micros " +
        "FROM rk f LEFT JOIN dlv d ON d.host = f.link_host " +
        "WHERE f.rnk <= 3 ORDER BY link_host, rank"),

    "q157_sitemap_parse" -> sitemapOracleSql,

    "q158_warc_parse" -> warcOracleSql,

    "q159_warc_funnel" -> warcFunnelOracleSql,

    "q145_html_extract" -> htmlExtractOracleSql,

    "q149_crawl_funnel" -> crawlFunnelOracleSql,

    "q147_unigram_train" -> unigramTrainOracleSql,

    "q148_unigram_tokenize" -> unigramTokenizeOracleSql,

    "q200_perplexity_filter" -> perplexityFilterOracleSql,

    "q202_ccnet_funnel" -> ccnetFunnelOracleSql,

    "q146_mojibake_repair" -> mojibakeOracleSql,

    // the BPE TRAINING loop itself, unrolled — see q119OracleSql
    "q119_bpe_merges" -> q119OracleSql(),

    "q20_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars_computed,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_distinct_tokens,
        |  round(len(list_distinct(string_split_regex(trim(text), '\s+')))::DOUBLE
        |    / len(string_split_regex(trim(text), '\s+')), 6) AS type_token_ratio,
        |  round((length(text) - (len(string_split_regex(trim(text), '\s+')) - 1))::DOUBLE
        |    / len(string_split_regex(trim(text), '\s+')), 6) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q21_stopword_ratio" ->
      """SELECT doc_id,
        |  round(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is','it','that','for')))::DOUBLE
        |    / greatest(len(string_split_regex(trim(lower(text)), '\s+')), 1), 6)
        |    AS en_stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors TextOps.languageId exactly: per-language stopword-token counts
    // (the regex-count formulation equals token∩words counting, as pinned by
    // q21), CJK evidence ×3, argmax with (score, lang) lexicographic
    // tie-break — list_max over structs is DuckDB's struct-ordering max,
    // identical to Spark's array_max over structs.
    "q22_language_id" ->
      """WITH tk AS (
        |  SELECT doc_id, lang AS labeled_lang, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents)
        |SELECT doc_id, labeled_lang,
        |  CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS predicted_lang
        |FROM (
        |  SELECT doc_id, labeled_lang,
        |    list_max([
        |      {'score': len(list_filter(toks, x -> x IN ('der','die','das','und','ist','ein','zu','mit','den','von'))), 'lang': 'de'},
        |      {'score': len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','it','that','for'))), 'lang': 'en'},
        |      {'score': len(list_filter(toks, x -> x IN ('el','la','los','y','es','un','una','de','que','por'))), 'lang': 'es'},
        |      {'score': len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','de','que','pour'))), 'lang': 'fr'},
        |      {'score': 3*length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')), 'lang': 'zh'}
        |    ]) AS best
        |  FROM tk)
        |ORDER BY doc_id""".stripMargin,

    // Mirrors TextOps.qualityScore term by term (length band, capped lexical
    // diversity, punctuation penalty, stopword evidence with its inner
    // round-6, weights 0.4/0.3/0.2/0.1, outer round-6). Both engines fold
    // the weighted sum left-to-right over IEEE doubles.
    "q23_quality_score" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    string_split_regex(trim(lower(text)), '\s+') AS lotoks
        |  FROM documents)
        |SELECT doc_id,
        |  floor((
        |    (CASE WHEN length(text) BETWEEN 100 AND 10000 THEN 1.0
        |          WHEN length(text) BETWEEN 20 AND 99 THEN 0.5 ELSE 0.1 END) * 0.4
        |    + least(len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1), 1.0) * 0.3
        |    + (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
        |         / greatest(length(text), 1) * 5, 1.0)) * 0.2
        |    + least(round(len(list_filter(lotoks,
        |          x -> x IN ('the','a','of','and','to','in','is','it','that','for')))::DOUBLE
        |         / greatest(len(lotoks), 1), 6) * 5, 1.0) * 0.1
        |  ) * 1000000.0) / 1000000.0 AS quality
        |FROM tk ORDER BY doc_id""".stripMargin,

    "q29_token_estimate" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS n_tokens_est
        |FROM documents ORDER BY doc_id""".stripMargin,

    // chr() codepoints: 769=U+0301 combining acute, 778=U+030A combining
    // ring, 776=U+0308 combining diaeresis — the decomposed suffix the
    // Spark side plants; nfc_normalize is DuckDB's independent UAX #15
    "q109_nfc_normalize" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'Cafe' || chr(769) || ' A' || chr(778) ||
        |      ' nai' || chr(776) || 've nr ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |n AS (SELECT doc_id, text, nfc_normalize(text) AS t2 FROM aug)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS len_raw,
        |  CAST(length(t2) AS BIGINT) AS len_nfc,
        |  text <> t2 AS norm_changed,
        |  md5(t2) AS nfc_md5
        |FROM n ORDER BY doc_id""".stripMargin,

    // chr() codepoints: 7=BEL, 11=VT, 8203=U+200B ZWSP, 65279=U+FEFF
    // BOM/ZWNBSP, 127=DEL, 65533=U+FFFD replacement char — the planted
    // encoding damage; the class mirrors TextOps.cleanControlChars
    "q111_control_clean" ->
      """WITH aug AS (
        |  SELECT doc_id, text || chr(10) || chr(7) || 'ok' || chr(11) ||
        |    'zero' || chr(8203) || 'width' || chr(65279) || ' end' ||
        |    chr(127) || chr(65533) ||
        |    CASE WHEN doc_id % 2 = 0 THEN chr(8203) ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT doc_id, text,
        |  regexp_replace(text,
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}\x{200C}\x{200D}\x{FEFF}\x{FFFD}]',
        |    '', 'g') AS t2
        |  FROM aug)
        |SELECT doc_id, CAST(length(text) - length(t2) AS BIGINT) AS n_ctl_removed,
        |  CAST(length(t2) AS BIGINT) AS len_clean, md5(t2) AS clean_md5
        |FROM c ORDER BY doc_id""".stripMargin,

    // DSIR in the same micro-nat lattice discipline as the Spark side:
    // ln only on the ≤nBuckets lattice, doc scores are exact integer
    // dot products; ('0x'||hex)::BIGINT ≡ Spark conv(hex,16,10)
    "q125_dsir_weights" ->
      s"""WITH $dsirLatticeCtes
        |SELECT d.doc_id,
        |  CAST(len(string_split_regex(trim(lower(d.text)), '\\s+')) AS BIGINT)
        |    AS n_tokens,
        |  coalesce(p.logw_micro, 0) AS logw_micro,
        |  coalesce(p.logw_micro, 0) / 1000000.0 AS logw
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // intra-doc first-occurrence line filter: Spark's 0-based lambda
    // index pairs with 1-based array_position as i+1; DuckDB's lambda
    // index is already 1-based
    "q97_line_strip" ->
      """WITH lined AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '((?:\S+ ){4}\S+) ', '\1' || chr(10), 'g') AS text
        |  FROM documents),
        |arr AS (SELECT doc_id, string_split(text, chr(10)) AS lns FROM lined),
        |u AS (SELECT doc_id, lns,
        |        list_filter(lns, (x, i) -> list_position(lns, x) = i) AS uniq
        |      FROM arr)
        |SELECT doc_id,
        |  CAST(len(lns) AS BIGINT) AS lines_total,
        |  CAST(len(uniq) AS BIGINT) AS lines_kept,
        |  md5(array_to_string(uniq, chr(10))) AS unique_md5
        |FROM u ORDER BY doc_id""".stripMargin,

    "q98_line_clean" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'Document ' || CAST(doc_id AS VARCHAR) ||
        |      ' retains this properly punctuated sentence.' ||
        |      chr(10) || 'Please enable javascript to continue.' ||
        |      chr(10) || 'Too short.' ||
        |      chr(10) || 'this line has words but no terminal punctuation' ||
        |      CASE WHEN doc_id % 4 = 0
        |           THEN chr(10) || 'An extra valid closing line appears here!'
        |           ELSE '' END AS text
        |  FROM documents),
        |arr AS (SELECT doc_id, string_split(text, chr(10)) AS lns FROM aug),
        |c AS (SELECT doc_id, lns,
        |        list_filter(lns, x ->
        |          regexp_matches(trim(x), '[.!?"]$')
        |          AND len(regexp_split_to_array(trim(x), '\s+')) >= 3
        |          AND NOT contains(lower(trim(x)), 'javascript')
        |          AND NOT contains(lower(trim(x)), 'cookie policy')
        |          AND NOT contains(lower(trim(x)), 'terms of use')) AS kept
        |      FROM arr)
        |SELECT doc_id,
        |  CAST(len(lns) AS BIGINT) AS lines_total,
        |  CAST(len(kept) AS BIGINT) AS lines_kept,
        |  array_to_string(kept, chr(10)) AS text_clean
        |FROM c ORDER BY doc_id""".stripMargin,

    // integer milli-weight sums are exact in both engines; the one double
    // division is floor-truncated, so threshold boundaries cannot flip
    "q99_quality_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CAST(list_sum(list_transform(ts, t ->
        |      ('0x' || substr(md5('w:graft:' ||
        |         CAST(('0x' || substr(md5('f:graft:' || t), 1, 8))::BIGINT % 1024
        |              AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000))
        |      AS BIGINT) AS logit_milli
        |  FROM toks)
        |SELECT doc_id, n_tokens, logit_milli,
        |  floor(logit_milli / (n_tokens * 1000.0) * 1e6) / 1e6 AS quality_logit,
        |  floor(logit_milli / (n_tokens * 1000.0) * 1e6) / 1e6 >= 0.0 AS kept
        |FROM scored ORDER BY doc_id""".stripMargin,

    // integer micro-shares ((1e6*n) // total) and their L1 distance are
    // exact in both engines; bins via integer division, capped at nBins-1
    "q104_drift_report" ->
      """WITH a AS (
        |  SELECT source,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT source,
        |    len(string_split_regex(trim(
        |      CASE WHEN doc_id % 7 = 0 THEN text || repeat(' x', 60)
        |           ELSE text END), '\s+')) AS n_tok
        |  FROM documents),
        |ca AS (SELECT source, least(n_tok // 50, 5) AS bin, count(*) AS n_a
        |       FROM a GROUP BY 1, 2),
        |cb AS (SELECT source, least(n_tok // 50, 5) AS bin, count(*) AS n_b
        |       FROM b GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(ca.source, cb.source) AS source,
        |    coalesce(ca.bin, cb.bin) AS bin,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM ca FULL OUTER JOIN cb
        |    ON ca.source = cb.source AND ca.bin = cb.bin),
        |tot AS (
        |  SELECT source, CAST(sum(n_a) AS BIGINT) AS tot_a,
        |    CAST(sum(n_b) AS BIGINT) AS tot_b
        |  FROM j GROUP BY source)
        |SELECT j.source, j.bin, j.n_a, j.n_b,
        |  (1000000 * j.n_a) // greatest(tot_a, 1) AS share_a_micro,
        |  (1000000 * j.n_b) // greatest(tot_b, 1) AS share_b_micro,
        |  abs((1000000 * j.n_a) // greatest(tot_a, 1) -
        |      (1000000 * j.n_b) // greatest(tot_b, 1)) AS drift_micro
        |FROM j JOIN tot USING (source)
        |ORDER BY j.source, j.bin""".stripMargin,

    // integer micro-prob contributions ((1e6*(c12+1)) // (c1+V)) sum and
    // average exactly in both engines; the only double op is the final /1e6
    "q103_bigram_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i
        |        FROM t WHERE len(ts) >= 2)),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |v AS (SELECT count(DISTINCT w1) AS v FROM c12),
        |sc AS (
        |  SELECT b.doc_id,
        |    (1000000 * (c12.c12 + 1)) // (c1.c1 + v.v) AS contrib
        |  FROM b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
        |pd AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(contrib) AS BIGINT) AS s
        |  FROM sc GROUP BY doc_id),
        |base AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens FROM t)
        |SELECT base.doc_id, n_tokens,
        |  coalesce(pd.n_bigrams, 0) AS n_bigrams,
        |  coalesce(pd.s // pd.n_bigrams, 0) AS mean_prob_micro,
        |  coalesce(pd.s // pd.n_bigrams, 0) / 1e6 AS mean_prob
        |FROM base LEFT JOIN pd USING (doc_id) ORDER BY base.doc_id""".stripMargin,

    "q48_tfidf_topk" ->
      """WITH terms AS (
        |  SELECT doc_id, tok AS term, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        |        FROM documents)
        |  GROUP BY doc_id, tok),
        |dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |    round(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6)
        |      AS tfidf
        |  FROM terms t JOIN dfreq d USING (term) CROSS JOIN n)
        |SELECT doc_id,
        |  row_number() OVER (PARTITION BY doc_id
        |                     ORDER BY tfidf DESC, term) AS "rank",
        |  term, tfidf
        |FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY tfidf DESC, term) <= 5
        |ORDER BY doc_id, "rank"""".stripMargin,

    "q47_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |counts AS (
        |  SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
        |tops AS (
        |  SELECT doc_id, max(c) AS max_c, sum(c) AS total
        |  FROM counts GROUP BY doc_id),
        |bi AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents)
        |SELECT bi.doc_id,
        |  round(tops.max_c::DOUBLE / tops.total, 6) AS top_token_share,
        |  CASE WHEN len(bi.t) >= 2
        |       THEN round(1 - len(list_distinct(list_transform(
        |              range(1, len(bi.t)),
        |              i -> concat_ws(' ', bi.t[i], bi.t[i+1]))))::DOUBLE
        |            / (len(bi.t) - 1), 6)
        |       ELSE 0.0 END AS dup_bigram_fraction
        |FROM bi JOIN tops ON bi.doc_id = tops.doc_id
        |ORDER BY bi.doc_id""".stripMargin,

    // range(0, n, stride) = the same start set as Spark's
    // sequence(0, n-1, stride); DuckDB list slicing is 1-based
    // inclusive with clamping, mirroring slice(toks, start+1, window).
    "q69_chunk_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS cs
        |  FROM tk)
        |SELECT doc_id, cs // 48 AS chunk_idx,
        |  array_to_string(toks[cs+1:cs+64], ' ') AS chunk_text,
        |  len(toks[cs+1:cs+64]) AS n_chunk_tokens
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,

    "q70_edit_distance" ->
      """WITH d AS (
        |  SELECT doc_id, text, substr(text, 1, 32) AS block,
        |    length(text) AS len
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.text, b.text) AS dist
        |FROM d a JOIN d b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE abs(a.len - b.len) <= 40 AND levenshtein(a.text, b.text) <= 40
        |ORDER BY id_a, id_b""".stripMargin,

    // generated to mirror TextOps.charEntropy bucket-for-bucket in the
    // same fold order (see entropyOracleSql below the map)
    "q72_char_entropy" -> entropyOracleSql,

    // generated from Q120Merges (table and SQL cannot drift): framed-
    // string replace chain ≡ the native expression's fusion order
    "q120_bpe_tokenize" -> q120OracleSql,

    // window formulation of the graft_top_k selection (the q48/q83/q90
    // contract); cumulative share in integer ppm via floor division
    "q118_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT t.tok FROM documents,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS t(tok)
        |  WHERE t.tok <> ''),
        |cnt AS (SELECT tok AS token, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT sum(cnt) AS total FROM cnt),
        |top AS (
        |  SELECT token, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token) AS "rank"
        |  FROM cnt
        |  QUALIFY row_number() OVER (ORDER BY cnt DESC, token) <= 100)
        |SELECT "rank", token, cnt,
        |  CAST((sum(cnt) OVER (ORDER BY "rank")) * 1000000 // total AS BIGINT)
        |    AS cum_ppm
        |FROM top, tot
        |ORDER BY "rank"""".stripMargin,

    // every Gopher rule is an integer cross-multiplication — no float in
    // any decision, so the booleans are exact cross-engine; token split
    // ≡ Spark's (q21-pinned), line split via chr(10)
    "q114_gopher_rules" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || chr(10) || '- bullet one' ||
        |           chr(10) || '- bullet two' || chr(10) || '* bullet three'
        |         WHEN doc_id % 7 = 1 THEN text || chr(10) ||
        |           'to be continued...' || chr(10) || 'and then' || chr(8230)
        |         WHEN doc_id % 7 = 2 THEN text || ' ## ### #### ##'
        |         ELSE text END AS text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    string_split(text, chr(10)) AS lns,
        |    CAST(len(regexp_extract_all(text, '#|\.\.\.|' || chr(8230))) AS BIGINT) AS symbols
        |  FROM aug),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS word_chars,
        |    symbols,
        |    CAST(len(lns) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lns, x -> regexp_matches(x, '^[ \t]*[-*' || chr(8226) || ']'))) AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(lns, x -> regexp_matches(x, '(\.\.\.|' || chr(8230) || ')[ \t]*$'))) AS BIGINT) AS ellipsis_lines,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |    CAST(len(list_distinct(list_intersect(list_transform(toks, x -> lower(x)),
        |      ['the','be','to','of','and','that','have','with']))) AS BIGINT) AS stop_hits
        |  FROM f)
        |SELECT doc_id, n_words,
        |  n_words BETWEEN 50 AND 100000 AS pass_word_count,
        |  word_chars >= n_words * 3 AND word_chars <= n_words * 10 AS pass_mean_word_len,
        |  symbols * 10 <= n_words AS pass_symbol_ratio,
        |  bullet_lines * 10 <= n_lines * 9 AS pass_bullet,
        |  ellipsis_lines * 10 <= n_lines * 3 AS pass_ellipsis,
        |  alpha_words * 5 >= n_words * 4 AS pass_alpha,
        |  stop_hits >= 2 AS pass_stopwords,
        |  (n_words BETWEEN 50 AND 100000) AND
        |    (word_chars >= n_words * 3 AND word_chars <= n_words * 10) AND
        |    (symbols * 10 <= n_words) AND (bullet_lines * 10 <= n_lines * 9) AND
        |    (ellipsis_lines * 10 <= n_lines * 3) AND
        |    (alpha_words * 5 >= n_words * 4) AND (stop_hits >= 2) AS gopher_pass
        |FROM g ORDER BY doc_id""".stripMargin,

    // the q120 replace-chain replay, ranked by the integer micro ratio
    "q141_bpe_compression" -> q141OracleSql,

    // train (the q139 CTEs), hard-sigmoid probability per doc, decile
    // bins, integer-exact means and rates
    "q142_calibration_report" -> s"""${qualityTrainCtes()},
      |score AS (
      |  SELECT c.doc_id, CAST(sum(c.x * w.w) AS BIGINT) AS z
      |  FROM cnt c JOIN w$QtSteps w USING (b) GROUP BY 1),
      |pb AS (
      |  SELECT s.doc_id,
      |    greatest(0, least(1000000, 500000 + s.z // 4)) AS p_micro,
      |    y.y AS y
      |  FROM score s JOIN y USING (doc_id))
      |SELECT least(p_micro // 100000, 9) AS bin,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) FILTER (WHERE y = 1000000) AS BIGINT) AS n_pos,
      |  CAST(sum(p_micro) AS BIGINT) // count(*) AS mean_p_micro,
      |  (1000000 * CAST(count(*) FILTER (WHERE y = 1000000) AS BIGINT))
      |    // count(*) AS emp_rate_micro
      |FROM pb GROUP BY 1 ORDER BY bin""".stripMargin,

    // the whole training loop replayed as unrolled CTEs — integer-exact,
    // so the trained lattice must match bit-for-bit
    "q139_train_quality" -> s"""${qualityTrainCtes()}
      |SELECT b AS bucket, CAST(w AS BIGINT) AS w_micro
      |FROM w$QtSteps ORDER BY bucket""".stripMargin,

    // train (same CTEs) then score through the inference formula the
    // engine's qualityClassifierScoreWith pins
    "q140_trained_scoring" -> s"""${qualityTrainCtes()},
      |score AS (
      |  SELECT c.doc_id, CAST(sum(c.x * w.w) AS BIGINT) AS logit_micro
      |  FROM cnt c JOIN w$QtSteps w USING (b) GROUP BY 1)
      |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
      |  s.logit_micro,
      |  floor(s.logit_micro / (len(t.ts) * 1000000.0) * 1e6) / 1e6
      |    AS quality_logit,
      |  floor(s.logit_micro / (len(t.ts) * 1000000.0) * 1e6) / 1e6 >= 0.0
      |    AS kept,
      |  y.y = 1000000 AS label
      |FROM toks t JOIN score s USING (doc_id) JOIN y USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin,
  )
}
