package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization for the crawl front-end.
  *
  * The reference pipeline ingests rows whose provenance is a free-form
  * string column (reference `project/etl2.py:32` file-stem derivation is
  * its only provenance normalization); a crawl-scale corpus needs the
  * real thing: the frontier and the dedup layer both key on URLs, and
  * raw crawl URLs are noisy — mixed-case schemes and hosts, default
  * ports, tracking parameters, unsorted query strings, fragments,
  * doubled slashes, trailing slashes. Two fetches of the same resource
  * that differ only in that noise must collapse to ONE canonical key
  * BEFORE content dedup runs, or the corpus carries one redundant
  * fetch per syntactic variant (Common Crawl's own dedup keys on a
  * normalized URL for exactly this reason).
  *
  * Canonicalization rules (each pinned by a [[UrlOpsSpec]] case):
  *   1. scheme and host lowercase (RFC 3986 §6.2.2.1 — these are the
  *      case-insensitive components; the PATH KEEPS its case: `/Docs`
  *      and `/docs` are different resources),
  *   2. fragment dropped (never sent to the server),
  *   3. default port stripped (`:80` for http, `:443` for https; any
  *      other port is load-bearing and kept),
  *   4. a leading `www.` host label dropped (policy, not RFC — the
  *      dominant apex/www duplication in crawl frontiers),
  *   5. doubled slashes in the PATH collapsed, trailing slash dropped
  *      (empty path canonicalizes to `/`),
  *   6. tracking parameters removed ([[TrackingParamPrefixes]] —
  *      `utm_*` plus the click-id family, prefix-matched on
  *      `name=`), remaining parameters SORTED bytewise (order is
  *      almost never semantic; sorting makes equal param SETS equal
  *      strings), empty query dropped.
  *
  * 100 TB shape: one zero-shuffle projection — split/filter/sort run
  * per row over ≤ a few dozen query params (`array_sort` on a
  * handful of strings, not a relational sort), so the operator
  * composes into scan-side pipelines like the q145 extractor and
  * whole-stage codegen keeps it in one stage. Everything is built
  * from codegen'd `functions._` — no UDFs.
  */
object UrlOps {

  /** Query-parameter prefixes stripped as tracking noise. Matched
    * against `name=value` pairs, so `"ref="` removes exactly the
    * `ref` parameter while a legitimate `refresh=1` survives; the
    * `utm_` prefix covers the whole utm family. Shared verbatim with
    * the DuckDB oracle generator (q150/q151). */
  val TrackingParamPrefixes: Seq[String] =
    Seq("utm_", "gclid=", "fbclid=", "msclkid=", "ref=")

  /** The canonical URL of `u` per the rules above. Pure column
    * expression (codegen-friendly); `u` must be an absolute
    * `scheme://...` URL string. */
  def canonicalUrl(u: Column): Column = {
    // 1. fragment off first: everything downstream ignores it.
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    // authority = up to the first '/', '?' (fragment already gone).
    val authority = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val hostNoWww = regexp_replace(authority, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(hostNoWww, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostNoWww, ":443$", ""))
      .otherwise(hostNoWww)
    val pathQ = regexp_replace(rest, "^[^/?]*", "") // "", "/p?q", "?q", ...
    val rawPath = regexp_extract(pathQ, "^([^?]*)", 1)
    val path0 = regexp_replace(regexp_replace(rawPath, "//+", "/"), "/$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val rawQs = when(pathQ.contains("?"),
      regexp_replace(pathQ, "^[^?]*\\?", "")).otherwise(lit(""))
    val keptParams = array_sort(filter(split(rawQs, "&"), p =>
      p =!= "" && !TrackingParamPrefixes
        .map(pre => p.startsWith(pre)).reduce(_ || _)))
    val qs = array_join(keptParams, "&")
    concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
  }

  /** The lowercased, de-`www.`ed, port-stripped host of `u` — the
    * politeness/rollup key ([[canonicalUrl]] rule 3/4 component). */
  def urlHost(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val authority = lower(regexp_extract(rest, "^([^/?]*)", 1))
    val hostNoWww = regexp_replace(authority, "^www\\.", "")
    when(scheme === "http", regexp_replace(hostNoWww, ":80$", ""))
      .when(scheme === "https", regexp_replace(hostNoWww, ":443$", ""))
      .otherwise(hostNoWww)
  }

  /** Appends `url_canon`, `url_host`, `url_had_tracking` (a tracking
    * parameter was removed), `url_had_fragment` to `df`. One
    * projection, no shuffle.
    *
    * Runs as `graft.plans.UrlCanonExpr` — ONE string walk per URL
    * instead of the ~12 regex executions of the column chain (measured
    * 31 µs/link at sf0.1, BASELINE.md round 11; at 10¹¹ crawl links
    * the chain is ~860 CPU-hours). Output is bit-identical to the
    * reference [[withCanonicalUrlChain]] — each rule is transcribed,
    * and `UrlOpsSpec` property-pins native ≡ chain over generated URLs
    * plus every planted shape. */
  def withCanonicalUrl(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.withColumn("__uc", call_function("graft_url_canon", u))
      .withColumn("url_canon", col("__uc.canon"))
      .withColumn("url_host", col("__uc.host"))
      .withColumn("url_had_tracking", col("__uc.had_tracking"))
      .withColumn("url_had_fragment", u.contains("#"))
      .drop("__uc")
  }

  /** Reference formulation of [[withCanonicalUrl]]: the same four
    * columns from the column chain ([[canonicalUrl]]/[[urlHost]]) — the
    * parity oracle for the native walk. */
  def withCanonicalUrlChain(df: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    val rawQs = when(u.contains("?"),
      regexp_replace(regexp_replace(u, "#.*$", ""), "^[^?]*\\?", ""))
      .otherwise(lit(""))
    val hadTracking = exists(filter(split(rawQs, "&"), p => p =!= ""),
      p => TrackingParamPrefixes.map(pre => p.startsWith(pre))
        .reduce(_ || _))
    df.withColumn("url_canon", canonicalUrl(u))
      .withColumn("url_host", urlHost(u))
      .withColumn("url_had_tracking", hadTracking)
      .withColumn("url_had_fragment", u.contains("#"))
  }

  /** Host-level crawl rollup over canonicalized URLs: per host the
    * fetch count, the distinct canonical-URL count, and the
    * URL-level duplication rate in exact micro-units
    * (`(fetches − distinct) · 10⁶ div fetches` — the integer-div
    * trio, no doubles). This is the frontier's feedback table: a
    * host whose dup rate spikes is recrawling syntactic variants.
    *
    * 100 TB shape: ONE hash aggregation keyed by (host, canon) then a
    * host-keyed re-aggregation — both map-side combining; canonical
    * URLs are short strings, document payloads are NOT in the plan.
    */
  def hostRollup(df: DataFrame, urlCol: String): DataFrame = {
    val canon = withCanonicalUrl(df, urlCol)
      .select(col("url_host"), col("url_canon"), col("url_had_tracking"))
    canon
      .groupBy(col("url_host"), col("url_canon"))
      .agg(count(lit(1)).as("n_fetch"),
        sum(when(col("url_had_tracking"), 1L).otherwise(0L)).as("n_trk"))
      .groupBy(col("url_host"))
      .agg(sum(col("n_fetch")).as("n_fetches"),
        count(lit(1)).as("n_urls"),
        sum(col("n_trk")).as("n_tracking_fetches"))
      .withColumn("dup_rate_micro",
        expr("(n_fetches - n_urls) * 1000000 div n_fetches"))
  }

  /** Robots-exclusion verdict (RFC 9309 §2.2.2–2.2.3) over CANONICAL
    * URLs: for each row of `df`, the most specific rule in `rules`
    * (columns `host`, `path_prefix`, `allow`) that matches the URL
    * decides `fetch_allowed`; an allow rule wins a same-specificity
    * tie (the RFC's "least restrictive" tie-break), and a URL no rule
    * matches is allowed. Appends `fetch_allowed` and `rule_match_len`
    * (the WINNING PATTERN's length in characters, 0 for the no-match
    * default).
    *
    * Match target: the canonical URL's path PLUS its query string
    * (`/p?a=1` matches rules against the full `/p?a=1`) — RFC 9309's
    * de-facto implementations (Google's reference parser) match
    * against path+query, and the most common real-world §2.2.3 rules
    * target queries (`Disallow: / *?sessionid=` — star spaced here
    * because Scala block comments nest; the rule carries no space),
    * which a query-stripped match could never fire. (Round-13 change:
    * earlier rounds matched the query-stripped path.)
    *
    * §2.2.3 special characters are IN contract: a pattern containing
    * `*` (match any octet sequence) or ending in `$` (anchor at the
    * end of path+query) is a WILDCARD rule —
    *   - translated to an anchored regex (`*` → `.*`; a TRAILING `$`
    *     → the end anchor; every other regex metacharacter escaped; a
    *     NON-trailing `$` is a literal octet, matching the de-facto
    *     parsers),
    *   - used as the match PREDICATE only (leftmost-greedy; Java and
    *     RE2 agree on these constructs, so the oracle replays it
    *     exactly), evaluated exactly ONCE per candidate row — the
    *     [[graft.plans.RxMatchLenExpr]] probe sits only in the join
    *     residual; nothing downstream re-runs it.
    * Specificity is the PATTERN's character length for plain and
    * wildcard rules alike (`*` and `$` count as pattern characters) —
    * the de-facto RFC 9309 ranking (Google's parser ranks rules by
    * pattern length), so a greedy `Disallow: *` (length 1) can never
    * outrank a longer `Allow: /public` on `/public/page`. (Round-13
    * change: earlier rounds ranked wildcard rules by MATCHED-octet
    * length, which inverted `*`'s least-specific nature and
    * over-blocked relative to real crawlers.) Plain prefix rules keep
    * the codegen'd `startsWith` fast path; only wildcard rules (rare
    * in real robots corpora) pay the per-candidate regex, and the
    * translation itself is computed once per PRUNED rule, riding the
    * broadcast.
    *
    * The whole decision is ONE integer per candidate rule —
    * `2·pattern_len + allow` — so the winner is a plain `max`:
    * longest pattern dominates, the allow bit breaks ties, and the
    * unmatched default encodes as 1 (= len 0, allow). No structs, no
    * windows, bit-exact in any engine.
    *
    * 100 TB shape: a real host's rules are a few KB, but a
    * Common-Crawl-scale rule table (10⁷–10⁸ hosts × several rules) is
    * multiple GB — past sensible broadcast size and near Spark's hard
    * 8 GB relation limit. So the rule table is first SEMI-JOINED down
    * to the hosts actually present in `df` (a frontier batch's host
    * set is small by construction; the semi-join is left unhinted so
    * AQE picks broadcast/shuffled by the host set's real size), and
    * only the PRUNED table broadcasts — the full crawl-wide table
    * never materializes on the driver (soak-asserted at 10⁶ hosts ×
    * 10 rules in `RobotsScaleSoak`, plan-pinned on q152/q154/q160).
    * Candidates then come from a broadcast hash join on the SHORT
    * host key with the prefix test as its residual predicate, the
    * winner is a map-side-combining `max` on the UNIFORM id key, and
    * the verdict joins back id-keyed — URLs and rule prefixes are the
    * only strings in the plan. When even the pruned table exceeds the
    * broadcast threshold (a batch spanning ~every host of a huge
    * crawl), pass `broadcastRules = false`: the verdict joins with a
    * SHUFFLED HASH join on the same short host key instead —
    * bit-identical output, spec-pinned.
    */
  /** The `<a href="...">` harvest pattern: case-insensitive, quoted
    * hrefs only (the dominant form; unquoted attributes are out of
    * contract like the rest of tag-soup recovery — see
    * `TextOps.extractMainContent`'s charter). RE2-safe (no
    * lookarounds), shared verbatim with the DuckDB oracle (q153). */
  val HrefPattern: String = "(?i)<a\\s[^>]*?href\\s*=\\s*\"([^\"]*)\""

  /** Dot-segment detector: a path containing `.` or `..` segments is
    * DROPPED rather than resolved (`link_kind = 'dropped_dotseg'`) —
    * RFC 3986 §5.2.4 merge is iterative and the frontier re-discovers
    * such targets through their canonical spellings anyway. Shared
    * with the oracle. */
  val DotSegPattern: String = "(^|/)\\.\\.?(/|$)"

  /** `<link rel="canonical" href="…">` — both attribute orders, quoted
    * values only (the [[HrefPattern]] charter). `[^>]*?` cannot cross
    * `>`, so a stylesheet `<link>` next to the canonical one never
    * false-matches. RE2-safe (no lookarounds), shared verbatim with
    * the q170 oracle. */
  val CanonicalRelFirstPattern: String =
    "(?i)<link\\s[^>]*?rel\\s*=\\s*\"canonical\"[^>]*?" +
      "href\\s*=\\s*\"([^\"]*)\""
  val CanonicalHrefFirstPattern: String =
    "(?i)<link\\s[^>]*?href\\s*=\\s*\"([^\"]*)\"[^>]*?" +
      "rel\\s*=\\s*\"canonical\""

  /** The page's self-declared canonical URL (`<link rel="canonical">`)
    * — the standard PRE-content-hash dedup hint: variant URLs (session
    * ids, print views, pagination aliases) declare one canonical, and
    * a dedup pass that honors it keeps the member the SITE names
    * rather than an id-order accident. Appends `decl_canon` (the
    * declaration resolved against the fetched URL through the same
    * native walk as an href, canonicalized — null when absent or of a
    * dropped kind) and `decl_host`. One zero-shuffle projection; the
    * rel-first form wins when a page carries both orders. Consumed by
    * [[graft.ext.Dedup.declaredCanonicalPick]]. */
  def withDeclaredCanonical(df: DataFrame, htmlCol: String,
      baseCanonCol: String, baseRawCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val raw = coalesce(
      nullif(regexp_extract(col(htmlCol),
        CanonicalRelFirstPattern, 1), lit("")),
      nullif(regexp_extract(col(htmlCol),
        CanonicalHrefFirstPattern, 1), lit("")))
    val lr = call_function("graft_link_resolve", raw,
      col(baseCanonCol), col(baseRawCol))
    df.withColumn("decl_canon",
        when(raw.isNotNull, lr("canon")))
      .withColumn("decl_host",
        when(raw.isNotNull, lr("host")))
  }

  /** Outlink extraction + resolution over raw page HTML: harvests
    * every quoted `<a href>` ([[HrefPattern]]), resolves it against
    * the page's base URL, and classifies it:
    *
    *   - `absolute`: `http(s)://...` kept as-is — UNLESS its path
    *     carries a dot segment ([[DotSegPattern]]), which drops it
    *     like any other dot-segment link (the canonical spelling is
    *     re-discovered through clean links; keeping `/a/../b` would
    *     emit a frontier/dedup key that never matches the target's
    *     canonical form),
    *   - `protocol_relative`: `//host/p` → base scheme + href,
    *   - `root_relative`: `/p` → base scheme://authority + href,
    *   - `path_relative`: `p` → base scheme://authority + base
    *     directory + href,
    *   - `dropped_fragment` (empty or `#...`), `dropped_scheme`
    *     (`mailto:`/`javascript:`/any non-http scheme),
    *     `dropped_dotseg` ([[DotSegPattern]]) — `link_url` null.
    *
    * Resolution bases: scheme and authority come from the CANONICAL
    * base URL (`baseCanonCol` — run [[withCanonicalUrl]] first; both
    * components are case-insensitive so the canonical spelling is the
    * right one), but the base DIRECTORY for path-relative hrefs comes
    * from the URL AS FETCHED (`baseRawCol`): RFC 3986 §5.2.3 merges
    * against the base path up to its last `/`, and canonicalization
    * DROPS trailing slashes — a directory page `https://h/docs/`
    * resolving `intro.html` must yield `/docs/intro.html`, not the
    * `/intro.html` the canonical base (`…/docs`) would give.
    * Directory-style pages are ubiquitous, so this is load-bearing
    * for frontier/link-graph correctness. Only the RESOLVED link is
    * canonicalized. An empty raw path merges as `/` (RFC 3986
    * §5.2.3's authority-with-empty-path case).
    *
    * Kept links get `link_url` (resolved absolute), `link_canon`
    * ([[canonicalUrl]]) and `link_host` ([[urlHost]]). One projection
    * + one generator (explode) per page — no shuffle, no join: the
    * base URL rides the SAME row as the harvested array, so
    * resolution is a sibling-column expression. Pages with no anchor
    * tags contribute no rows (a link census, not a page census —
    * q151 is the per-page table).
    *
    * 100 TB shape: explode multiplies rows ~50× (links/page) but
    * every output column is a short string — the page HTML does NOT
    * survive the projection, so downstream exchanges (the
    * [[hostLinkGraph]] rollup, the q154 frontier) carry URLs only.
    *
    * The per-link classify→resolve→canonicalize runs as
    * `graft.plans.LinkResolveExpr` — ONE string walk per href instead
    * of the ~23 regex executions the collapsed column chain
    * [[extractOutlinksChain]] pays (classification whens inline into
    * the resolution whens under Catalyst's project collapse, re-running
    * their regexes — the q153 round-12 regression). Bit-identical
    * output, native ≡ chain property-pinned in `UrlOpsSpec`. */
  def extractOutlinks(df: DataFrame, idCol: String, htmlCol: String,
      baseCanonCol: String, baseRawCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol), col(baseCanonCol).as("base_canon"),
        col(baseRawCol).as("base_raw"),
        explode(regexp_extract_all(col(htmlCol), lit(HrefPattern),
          lit(1))).as("href_raw"))
      .withColumn("__lr", call_function("graft_link_resolve",
        col("href_raw"), col("base_canon"), col("base_raw")))
      .withColumn("link_kind", col("__lr.kind"))
      .withColumn("link_url", col("__lr.url"))
      .withColumn("link_canon", col("__lr.canon"))
      .withColumn("link_host", col("__lr.host"))
      .drop("__lr", "base_raw")
  }

  /** Reference formulation of [[extractOutlinks]]: classification and
    * resolution as a column chain (the oracle's shape), then one
    * native canonicalization per kept link. Same columns and rows. */
  def extractOutlinksChain(df: DataFrame, idCol: String, htmlCol: String,
      baseCanonCol: String, baseRawCol: String): DataFrame = {
    // all base pieces bind to the POST-select alias: the input column
    // name is the caller's and may collide with generated names.
    val base = col("base_canon")
    val scheme = regexp_extract(base, "^([a-z][a-z0-9+.-]*)://", 1)
    val auth = regexp_extract(base, "^[a-z][a-z0-9+.-]*://([^/?]*)", 1)
    // RFC 3986 §5.2.3 merge base: the AS-FETCHED path (trailing slash
    // intact — see the scaladoc), up to the first '?' or '#', with
    // its last segment cut ("/Docs/7/" -> "/Docs/7/", "/Docs/7" ->
    // "/Docs/"); an empty path merges as "/".
    val rawPath = regexp_extract(
      regexp_replace(col("base_raw"),
        "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""),
      "^([^?#]*)", 1)
    val rawDir = regexp_replace(rawPath, "[^/]*$", "")
    val baseDir = when(rawDir === "", lit("/")).otherwise(rawDir)
    val h = col("href_raw")
    // an absolute http(s) href's PATH (authority and query excluded —
    // a query value like ?back=/a/../b is not a path dot segment)
    val absPath = regexp_extract(
      regexp_replace(h, "(?i)^[a-z][a-z0-9+.-]*://[^/?#]*", ""),
      "^([^?#]*)", 1)
    val kind =
      when(h === "" || h.startsWith("#"), lit("dropped_fragment"))
        .when(h.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"),
          when(h.rlike("(?i)^https?://"),
            when(absPath.rlike(DotSegPattern), lit("dropped_dotseg"))
              .otherwise(lit("absolute")))
            .otherwise(lit("dropped_scheme")))
        .when(h.rlike(DotSegPattern), lit("dropped_dotseg"))
        .when(h.startsWith("//"), lit("protocol_relative"))
        .when(h.startsWith("/"), lit("root_relative"))
        .otherwise(lit("path_relative"))
    val resolved =
      when(col("link_kind") === "absolute", h)
        .when(col("link_kind") === "protocol_relative",
          concat(scheme, lit(":"), h))
        .when(col("link_kind") === "root_relative",
          concat(scheme, lit("://"), auth, h))
        .when(col("link_kind") === "path_relative",
          concat(scheme, lit("://"), auth, baseDir, h))
        .otherwise(lit(null).cast("string"))
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(col(idCol), col(baseCanonCol).as("base_canon"),
        col(baseRawCol).as("base_raw"),
        explode(regexp_extract_all(col(htmlCol), lit(HrefPattern), lit(1)))
          .as("href_raw"))
      .withColumn("link_kind", kind)
      .withColumn("link_url", resolved)
      // one native pass per kept link (chain ≡ native parity
      // spec-pinned; see withCanonicalUrl's scaladoc)
      .withColumn("__uc", when(col("link_url").isNotNull,
        call_function("graft_url_canon", col("link_url"))))
      .withColumn("link_canon", col("__uc.canon"))
      .withColumn("link_host", col("__uc.host"))
      .drop("__uc", "base_raw")
  }

  /** Whole-anchor-tag harvest pattern (group 0 = the full `<a ...>`
    * tag): the [[HrefPattern]] charter lifted to the tag so SIBLING
    * attributes (`rel`) are visible. `[^>]*` cannot cross `>`, so the
    * tag must close — the same well-formedness contract HrefPattern's
    * lazy run already implied. RE2-safe, shared verbatim with the
    * q175 oracle. */
  val AnchorTagPattern: String = "(?i)<a\\s[^>]*>"

  /** First quoted `href` inside a harvested tag — NO word boundary,
    * deliberately: [[HrefPattern]] has none either (`data-xhref=`
    * matches both), so the tag harvest stays row-for-row equal to the
    * href harvest (parity spec-pinned). The presence FILTER uses the
    * same spelling. */
  val TagHrefPattern: String = "(?i)href\\s*=\\s*\"([^\"]*)\""

  /** First quoted `rel` attribute inside a harvested tag — preceded
    * by HTML5 ASCII whitespace (space/tab/CR/LF/FF — pretty-printed
    * HTML routinely breaks attributes across lines) so `data-rel=`
    * never false-matches (`\b` is avoided for engine-portable
    * semantics; the explicit class is used instead of `\s` because
    * Java's `\s` includes VT where RE2's does not). The VALUE is an
    * ASCII-whitespace-separated token list per HTML — token
    * membership is decided by a split ([[HtmlWsClass]]), never a
    * substring test (`rel="nofollowme"` is NOT nofollow). */
  val TagRelPattern: String = "(?i)[ \\t\\r\\n\\f]rel\\s*=\\s*\"([^\"]*)\""

  /** HTML5 "ASCII whitespace" (space, tab, LF, FF, CR) as a regex
    * character class — the inter-attribute and rel-token-list
    * separator set. Spelled out (not `\s`) so Spark's Java regex and
    * the oracle's RE2 agree byte-for-byte. */
  val HtmlWsClass: String = "[ \\t\\r\\n\\f]"

  /** The same five characters as a raw trim set (for `trim(col,
    * trimStr)` / DuckDB `trim(x, chars)`). */
  val HtmlWs: String = " \t\r\n\f"

  /** `<meta name="robots" content="...">` — both attribute orders,
    * the [[CanonicalRelFirstPattern]] charter (quoted values, no
    * cross-`>` runs). The first matching meta element wins; name-first
    * form wins when a page carries both orders. */
  val MetaRobotsNameFirstPattern: String =
    "(?i)<meta\\s[^>]*?name\\s*=\\s*\"robots\"[^>]*?" +
      "content\\s*=\\s*\"([^\"]*)\""
  val MetaRobotsContentFirstPattern: String =
    "(?i)<meta\\s[^>]*?content\\s*=\\s*\"([^\"]*)\"[^>]*?" +
      "name\\s*=\\s*\"robots\""

  /** Page-level robots meta directives — the IN-PAGE half of the
    * exclusion protocol ([[parseRobotsTxt]] is the per-host half; the
    * reference has neither, `project/etl2.py` ingests trusted CSVs).
    * A real crawl must honor both: `noindex` pages may be FETCHED but
    * not indexed (they carry no weight in retrieval or the canonical
    * pick), and `nofollow` pages contribute NO outlinks to discovery.
    * Appends `meta_noindex` / `meta_nofollow` booleans from the first
    * `<meta name="robots">` content value: a comma-separated,
    * case-insensitive, whitespace-trimmed token list (the de-facto
    * grammar all engines parse), with `none` ≡ `noindex, nofollow`.
    * Absent meta, or unrecognized tokens (`all`, `index`), leave both
    * flags false. One zero-shuffle projection; tokenization is a
    * per-row split over a handful of tokens. */
  def withMetaRobots(df: DataFrame, htmlCol: String): DataFrame = {
    val content = coalesce(
      nullif(regexp_extract(col(htmlCol),
        MetaRobotsNameFirstPattern, 1), lit("")),
      nullif(regexp_extract(col(htmlCol),
        MetaRobotsContentFirstPattern, 1), lit("")))
    val toks = transform(
      split(lower(coalesce(content, lit(""))), ","),
      t => trim(t, HtmlWs))
    df.withColumn("meta_noindex",
        array_contains(toks, "noindex") || array_contains(toks, "none"))
      .withColumn("meta_nofollow",
        array_contains(toks, "nofollow") || array_contains(toks, "none"))
  }

  /** [[extractOutlinks]] with the anchor's `rel` attribute honored —
    * the link-level half of the exclusion protocol. Harvests whole
    * `<a>` tags ([[AnchorTagPattern]]), keeps those carrying an
    * `href` (same first-occurrence/no-boundary spelling as
    * [[HrefPattern]], so the (id, href) multiset is IDENTICAL to the
    * href-only harvest — parity spec-pinned in `UrlOpsSpec`), and
    * appends `link_nofollow`: true iff the tag's `rel` value contains
    * the `nofollow` TOKEN (space-separated list membership,
    * case-insensitive — `rel="noopener NOFOLLOW ugc"` is nofollow,
    * `rel="nofollowme"` is not). Resolution and classification are
    * the native one-pass walk of [[extractOutlinks]] (bit-identical
    * columns).
    *
    * `carry` names caller columns to ride the harvest projection
    * (page-level [[withMetaRobots]] flags, typically) — the page HTML
    * still dies in the harvest; carried columns should be scalars.
    *
    * 100 TB shape: identical to [[extractOutlinks]] — one projection
    * + one generator, no shuffle; the tag string (vs the bare href)
    * adds tens of bytes per link inside the projection and is dropped
    * before any exchange. */
  def extractOutlinksRel(df: DataFrame, idCol: String, htmlCol: String,
      baseCanonCol: String, baseRawCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val relv = regexp_extract(col("__tag"), TagRelPattern, 1)
    df.select(col(idCol) +: col(baseCanonCol).as("base_canon") +:
        col(baseRawCol).as("base_raw") +: carry.map(col) :+
        explode(regexp_extract_all(col(htmlCol),
          lit(AnchorTagPattern), lit(0))).as("__tag"): _*)
      .filter(col("__tag").rlike("(?i)href\\s*=\\s*\""))
      .withColumn("href_raw",
        regexp_extract(col("__tag"), TagHrefPattern, 1))
      .withColumn("link_nofollow",
        array_contains(split(lower(relv), HtmlWsClass + "+"), "nofollow"))
      .withColumn("__lr", call_function("graft_link_resolve",
        col("href_raw"), col("base_canon"), col("base_raw")))
      .withColumn("link_kind", col("__lr.kind"))
      .withColumn("link_url", col("__lr.url"))
      .withColumn("link_canon", col("__lr.canon"))
      .withColumn("link_host", col("__lr.host"))
      .drop("__lr", "base_raw", "__tag")
  }

  /** Whole plain-text anchor unit (group 0 = `<a ...>text</a>`): the
    * [[AnchorTagPattern]] charter plus the text run. `[^<]*` cannot
    * cross a nested tag, so anchors wrapping markup (`<a><img></a>`)
    * are OUT of the anchor-TEXT contract — they carry no text signal;
    * [[extractOutlinks]] still harvests their hrefs. RE2-safe, shared
    * verbatim with the q179 oracle. */
  val AnchorUnitPattern: String = "(?i)<a\\s[^>]*>[^<]*</a>"

  /** Anchor-TEXT harvest: the classic inbound-link description signal
    * (what the linking page CALLS the target — web search has ranked
    * on aggregated anchor text since the original PageRank paper, and
    * it doubles as training-pair text for retrieval models). One row
    * per plain-text anchor carrying an href: the resolved link
    * columns (same native walk as [[extractOutlinks]]), the
    * `link_nofollow` token flag ([[extractOutlinksRel]]'s discipline —
    * nofollow anchor text carries no endorsement weight), the raw
    * `anchor_text`, and `anchor_norm` (lowercased, whitespace runs
    * collapsed to one space, trimmed — the aggregation key).
    * `carry` rides caller columns (the source host, typically)
    * through the harvest. 100 TB shape: one projection + one
    * generator, no shuffle; downstream per-target aggregation
    * exchanges (target, norm, src_host) triples only. */
  def extractAnchorTexts(df: DataFrame, idCol: String, htmlCol: String,
      baseCanonCol: String, baseRawCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val relv = regexp_extract(col("__unit"), TagRelPattern, 1)
    df.select(col(idCol) +: col(baseCanonCol).as("base_canon") +:
        col(baseRawCol).as("base_raw") +: carry.map(col) :+
        explode(regexp_extract_all(col(htmlCol),
          lit(AnchorUnitPattern), lit(0))).as("__unit"): _*)
      .filter(col("__unit").rlike("(?i)href\\s*=\\s*\""))
      .withColumn("href_raw",
        regexp_extract(col("__unit"), TagHrefPattern, 1))
      .withColumn("link_nofollow",
        array_contains(split(lower(relv), HtmlWsClass + "+"), "nofollow"))
      .withColumn("anchor_text",
        regexp_extract(col("__unit"), "(?i)>([^<]*)</a>$", 1))
      .withColumn("anchor_norm",
        trim(regexp_replace(lower(col("anchor_text")), "\\s+", " ")))
      .withColumn("__lr", call_function("graft_link_resolve",
        col("href_raw"), col("base_canon"), col("base_raw")))
      .withColumn("link_kind", col("__lr.kind"))
      .withColumn("link_url", col("__lr.url"))
      .withColumn("link_canon", col("__lr.canon"))
      .withColumn("link_host", col("__lr.host"))
      .drop("__lr", "base_raw", "__unit")
  }

  /** `<html lang="…">` — the in-document language declaration (HTML's
    * `lang` attribute on the root element; BCP 47 value). Quoted
    * values, first match, the [[HrefPattern]] charter. RE2-safe,
    * shared verbatim with the q182 oracle. Normalize the harvested
    * value to its PRIMARY subtag (letters before the first `-`,
    * lowercased) before comparing — `en-US` and `EN` both declare
    * `en`. */
  val HtmlLangPattern: String =
    "(?i)<html\\s[^>]*?lang\\s*=\\s*\"([^\"]*)\""

  /** BCP 47 primary subtag of a language declaration: leading RFC
    * whitespace skipped, the first letter run, lowercased — `''` when
    * the value opens with anything else (a malformed declaration
    * reads as undeclared, never mis-parses). */
  def langPrimarySubtag(v: Column): Column =
    lower(regexp_extract(v, "^[ \\t]*([A-Za-z]+)", 1))

  /** Whole `<link ...>` tag harvest (group 0) — the
    * [[AnchorTagPattern]] charter for the link element, whose
    * attributes (`rel`, `hreflang`, `href`) appear in ANY order, so
    * the tag is harvested whole and each attribute pulled
    * independently. RE2-safe, shared verbatim with the q183 oracle. */
  val LinkTagPattern: String = "(?i)<link\\s[^>]*>"

  /** First quoted `hreflang` inside a harvested tag — the
    * [[TagRelPattern]] spelling (HTML5-whitespace-led, no `\b`). */
  val TagHreflangPattern: String =
    "(?i)[ \\t\\r\\n\\f]hreflang\\s*=\\s*\"([^\"]*)\""

  /** `hreflang` alternate harvest (`<link rel="alternate"
    * hreflang="…" href="…">`): the page's declared language variants —
    * how multilingual sites link their translations. For a training
    * pipeline this is the standard PARALLEL-CORPUS mining signal
    * (aligned translation pairs come from exactly these clusters) and
    * a cross-language dedup hint. One row per alternate: the
    * harvested `hreflang` lowercased, its primary subtag
    * ([[langPrimarySubtag]] — `DE-AT` declares `de`), the `x-default`
    * flag (the special catch-all value, not a language), the resolved
    * + canonicalized target (same native walk as an href), and the
    * in-host flag (cross-host alternates surface flagged, the
    * [[parseSitemap]] scope discipline). Tags whose `rel` token list
    * lacks `alternate`, or without an `hreflang` (feed alternates),
    * or without an `href`, contribute nothing. One projection + one
    * generator — pages die in the harvest. */
  def extractHreflang(df: DataFrame, idCol: String, htmlCol: String,
      baseCanonCol: String, baseRawCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val relv = regexp_extract(col("__tag"), TagRelPattern, 1)
    val hl = lower(regexp_extract(col("__tag"), TagHreflangPattern, 1))
    df.select(col(idCol), col(baseCanonCol).as("base_canon"),
        col(baseRawCol).as("base_raw"),
        explode(regexp_extract_all(col(htmlCol),
          lit(LinkTagPattern), lit(0))).as("__tag"))
      .filter(array_contains(split(lower(relv), HtmlWsClass + "+"), "alternate"))
      .withColumn("hreflang", hl)
      .filter(col("hreflang") =!= "")
      .filter(col("__tag").rlike("(?i)href\\s*=\\s*\""))
      .withColumn("href_raw",
        regexp_extract(col("__tag"), TagHrefPattern, 1))
      .withColumn("hreflang_primary",
        langPrimarySubtag(col("hreflang")))
      .withColumn("is_default", col("hreflang") === "x-default")
      .withColumn("__lr", call_function("graft_link_resolve",
        col("href_raw"), col("base_canon"), col("base_raw")))
      .withColumn("alt_canon", col("__lr.canon"))
      .withColumn("alt_host", col("__lr.host"))
      .drop("__lr", "base_raw", "__tag")
  }

  /** `<base href="…">` — the [[HrefPattern]] charter (quoted values,
    * first element wins per the HTML spec's "first base element with
    * an href" rule, no cross-`>` runs). RE2-safe, shared verbatim
    * with the q177 oracle. */
  val BaseHrefPattern: String =
    "(?i)<base\\s[^>]*?href\\s*=\\s*\"([^\"]*)\""

  /** Document-base resolution (HTML `<base href>`): pages that
    * declare a base element resolve their relative hrefs against IT,
    * not the fetched URL — template-driven sites (one shared chrome
    * under many paths) use this pervasively, and an extractor that
    * ignores it mis-resolves every relative link on such pages into
    * phantom frontier keys. Appends `doc_base_canon` / `doc_base_raw`:
    * the FIRST `<base href>` value resolved against the fetched URL
    * (the declaration may itself be relative — HTML resolves it
    * against the document's own URL), falling back to the fetched
    * base when absent or of a dropped kind (fragment-only,
    * non-http(s) scheme, dot-segmented — the [[extractOutlinks]]
    * drop classes; the HTML spec's fallback is likewise the
    * document URL). Feed the two columns to [[extractOutlinks]] /
    * [[extractOutlinksRel]] as the base pair. One zero-shuffle
    * projection — the resolve is the same native one-pass walk an
    * href pays. */
  def withDocumentBase(df: DataFrame, htmlCol: String,
      baseCanonCol: String, baseRawCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val raw = nullif(regexp_extract(col(htmlCol),
      BaseHrefPattern, 1), lit(""))
    val lr = call_function("graft_link_resolve", raw,
      col(baseCanonCol), col(baseRawCol))
    df.withColumn("doc_base_raw",
        coalesce(when(raw.isNotNull, lr("url")), col(baseRawCol)))
      .withColumn("doc_base_canon",
        coalesce(when(raw.isNotNull, lr("canon")), col(baseCanonCol)))
  }

  /** Host→host link-graph rollup over [[extractOutlinks]] output:
    * per (source host, target host) the raw link count, the distinct
    * canonical-target count, and an internal/external flag. The edge
    * list feeds the graph family (`Graph.pageRank` over hosts — the
    * crawl-prioritization signal) and the frontier (q154).
    *
    * 100 TB shape: same discipline as [[hostRollup]] — one hash
    * aggregation keyed by (src, dst, canon) then a (src, dst)
    * re-aggregation, both map-side combining, all columns short
    * strings. Dropped links never reach the aggregation. */
  def hostLinkGraph(outlinks: DataFrame, srcHostCol: String): DataFrame =
    outlinks.filter(col("link_canon").isNotNull)
      .groupBy(col(srcHostCol).as("src_host"), col("link_host").as("dst_host"),
        col("link_canon"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("src_host"), col("dst_host"))
      .agg(sum(col("n")).as("n_links"),
        count(lit(1)).as("n_distinct_targets"))
      .withColumn("is_internal", col("src_host") === col("dst_host"))

  /** RFC 9309 §2.2 line terminators: robots.txt lines end in CRLF, CR
    * or LF — split on any of the three so CRLF bodies (the WARC/HTTP
    * tier's native framing) never leave a trailing `\r` on values.
    * Shared with [[robotsCrawlDelay]] and the DuckDB oracle CTEs. */
  val RobotsLineBreak: String = "\r\n|\r|\n"

  /** RFC 9309 §2.2 whitespace around directive values: %x20 space or
    * %x09 tab — the trim set for lines and values in both folds. */
  val RobotsWs: String = " \t"

  /** RFC 9309 §2.1–2.2 robots.txt PARSER: raw per-host robots.txt
    * bodies → the parsed rule table [[robotsVerdict]] consumes
    * (`host`, `path_prefix`, `allow`, plus `from_specific`). Grammar
    * honored:
    *
    *   - comments stripped at `#`, lines trimmed, directive names
    *     case-insensitive;
    *   - consecutive `User-agent:` lines STACK into one group, and
    *     per the RFC unrecognized lines (crawl-delay, sitemap,
    *     blanks) are IGNORED — they neither break a UA stack nor
    *     detach later rules from their group;
    *   - `Allow:`/`Disallow:` lines attach to the most recent group;
    *     a rule before any group, or with an EMPTY pattern (RFC: no
    *     restriction), is dropped — but still terminates a UA stack;
    *   - group selection: if ANY group names `agent` (case-
    *     insensitive product-token equality), only those groups'
    *     rules apply (`from_specific = true`); otherwise the `*`
    *     groups' rules do. Hosts with no applicable rules emit no
    *     rows — [[robotsVerdict]]'s no-match default allows them.
    *   - `*`/`$` path wildcards (RFC 9309 §2.2.3) pass through
    *     VERBATIM, flagged via `has_wildcard` — [[robotsVerdict]]
    *     owns the wildcard match semantics; the parser only marks
    *     which patterns carry special characters.
    *
    * Line/whitespace discipline (RFC 9309 §2.2: lines end in CRLF,
    * CR or LF; whitespace around values is %x20 space or %x09 tab):
    * bodies split on `\r\n|\r|\n`, values trimmed of BOTH space and
    * tab — a CRLF body (what the WARC/HTTP tier actually yields) must
    * parse identically to its LF twin, and `Disallow:<TAB>/x` must
    * yield the prefix `/x`, not `\t/x`. Spec-pinned (CRLF/tab cases
    * in UrlOpsSpec) and mirrored in the DuckDB oracle CTEs.
    *
    * The whole parse is ONE `aggregate` higher-order fold over the
    * split lines — per-document sequential state (current group's
    * match flags, UA-stack bit, accumulated rules) without a window,
    * a shuffle, or an explode of intermediate lines. 100 TB shape: a
    * crawl's robots corpus is one KB-sized body per host; the parse
    * is a zero-shuffle projection and the output table is exactly
    * the broadcastable rule relation the verdict wants. */
  def parseRobotsTxt(df: DataFrame, hostCol: String, txtCol: String,
      agent: String, carry: Seq[String] = Nil): DataFrame = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val emptyRules =
      "CAST(array() AS array<struct<p: string, a: boolean, sp: boolean>>)"
    val init = expr("named_struct('m', false, 's', false, " +
      "'inua', false, 'asp', false, 'rules', " + emptyRules + ")")
    val parsed = aggregate(
      split(col(txtCol), RobotsLineBreak),
      init,
      (acc, l) => {
        val line = trim(regexp_replace(l, "#.*$", ""), RobotsWs)
        val low = lower(line)
        val isUa = low.startsWith("user-agent:")
        val isRule = low.startsWith("allow:") || low.startsWith("disallow:")
        val isAllow = low.startsWith("allow:")
        val v = trim(regexp_replace(line, "^[^:]*:", ""), RobotsWs)
        val vLc = lower(v)
        val m = acc.getField("m"); val s = acc.getField("s")
        val inua = acc.getField("inua"); val asp = acc.getField("asp")
        val rules = acc.getField("rules")
        val emit = isRule && v =!= "" && (m || s)
        struct(
          when(isUa, (when(inua, m).otherwise(lit(false))) ||
            (vLc === agentLc)).otherwise(m).as("m"),
          when(isUa, (when(inua, s).otherwise(lit(false))) ||
            (vLc === "*")).otherwise(s).as("s"),
          when(isUa, lit(true)).when(isRule, lit(false))
            .otherwise(inua).as("inua"),
          (asp || (isUa && vLc === agentLc)).as("asp"),
          when(emit, concat(rules, array(struct(v.as("p"),
            isAllow.as("a"), m.as("sp"))))).otherwise(rules).as("rules"))
      },
      // array_distinct at the fold tail: a hand-maintained robots.txt
      // that REPEATS a rule line (`Disallow: /a` twice in one group,
      // or the same rule in two applicable groups) states ONE logical
      // rule — RFC 9309's rule set is a set. Verdicts were already
      // duplicate-immune (max-based), but downstream SET consumers are
      // not: the robots-cache fsck's rule_rows_unique check would read
      // a legit duplicate as append corruption, and policyDelta's
      // full-outer rule diff would multiply it into phantom
      // adds/removes. Dedup at emission keeps both exact.
      acc => array_distinct(filter(acc.getField("rules"),
        r => !acc.getField("asp") || r.getField("sp"))))
    df.select(col(hostCol).as("host") +: carry.map(col) :+
        explode(parsed).as("r"): _*)
      .select(col("host") +: carry.map(col) :+
        col("r.p").as("path_prefix") :+
        col("r.a").as("allow") :+ col("r.sp").as("from_specific"): _*)
      .withColumn("has_wildcard",
        col("path_prefix").contains("*") ||
          col("path_prefix").endsWith("$"))
  }

  /** `Sitemap:` directive harvest from robots.txt — the STANDARD
    * discovery path for a site's sitemap URLs (sitemaps.org "Sitemap
    * location"; RFC 9309 treats the line as an unrecognized directive,
    * which is why [[parseRobotsTxt]] correctly ignores it — but a
    * crawler that only ignores it never finds the sitemaps this
    * engine's whole sitemap tier consumes). One row per directive:
    * the declaring `host`, the canonicalized sitemap URL + its host,
    * and the same cross-host `in_scope` flag as the XML tiers
    * (sitemaps.org scopes a sitemap to its own host; cross-host
    * declarations surface flagged, not silently followed).
    *
    * Grammar: the directive is GROUP-INDEPENDENT (harvested wherever
    * it appears, including inside a user-agent group, where the rule
    * parser must keep ignoring it), name case-insensitive, comments
    * stripped at `#`, RFC whitespace (space/tab) trimmed, and per
    * sitemaps.org the value must be a FULL absolute URL — relative
    * values are dropped. One projection + one explode; bodies die in
    * the harvest. Feeds [[parseSitemapIndex]]/[[parseSitemap]] — the
    * fetch loop q171 closes. */
  def parseRobotsSitemaps(df: DataFrame, hostCol: String,
      txtCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val lines = df.select(col(hostCol).as("host"),
      explode(split(col(txtCol), RobotsLineBreak)).as("__l"))
    val cleaned = trim(regexp_replace(col("__l"), "#.*$", ""), RobotsWs)
    val v = trim(regexp_replace(cleaned, "^[^:]*:", ""), RobotsWs)
    lines
      .withColumn("__line", cleaned)
      .filter(lower(col("__line")).startsWith("sitemap:"))
      .withColumn("__v", v)
      .filter(col("__v").rlike("(?i)^https?://"))
      .withColumn("__uc", call_function("graft_url_canon", col("__v")))
      .select(col("host"), col("__uc")("canon").as("url_canon"),
        col("__uc")("host").as("url_host"))
      .withColumn("in_scope", col("url_host") === col("host"))
  }

  /** Sitemap-protocol parser (sitemaps.org XML): per-host sitemap
    * bodies → one row per `<url>` entry with a non-empty `<loc>`,
    * carrying the canonicalized URL, its host, the `<lastmod>` value
    * (empty string when absent — sitemaps may omit it), and an
    * `in_scope` flag (a sitemap only has authority over its own
    * host's URLs — cross-host `<loc>`s are flagged, not silently
    * kept). `<sitemap>` index entries are not `<url>` entries and are
    * ignored; entity-escaping beyond the canonicalizer's charter and
    * nested sitemap fetching are the fetcher's job.
    *
    * One projection + one explode per body ((?s)-dotall non-greedy
    * block extraction, RE2-safe, shared with the oracle) — the XML
    * dies in the harvest projection exactly like
    * [[extractOutlinks]]'s HTML; downstream exchanges carry short
    * URL strings. Feeds the frontier as the seed source beside link
    * discovery (q154). */
  def parseSitemap(df: DataFrame, hostCol: String, xmlCol: String)
      : DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(col(hostCol).as("sitemap_host"),
        explode(regexp_extract_all(col(xmlCol),
          lit("(?s)<url>(.*?)</url>"), lit(1))).as("__block"))
      .withColumn("loc", trim(regexp_extract(col("__block"),
        "(?s)<loc>(.*?)</loc>", 1)))
      .filter(col("loc") =!= "")
      .withColumn("lastmod", trim(regexp_extract(col("__block"),
        "(?s)<lastmod>(.*?)</lastmod>", 1)))
      .withColumn("had_lastmod", col("lastmod") =!= "")
      .withColumn("__uc", call_function("graft_url_canon", col("loc")))
      .withColumn("url_canon", col("__uc.canon"))
      .withColumn("url_host", col("__uc.host"))
      .withColumn("in_scope", col("url_host") === col("sitemap_host"))
      .drop("__block", "__uc")
  }

  /** Exact integer day-age bucket of a sitemap `<lastmod>` value
    * against a FIXED as-of date (a parameter, never wall-clock — the
    * bucket must be deterministic and oracle-replayable): 30-day
    * buckets `0..11` clamped at 11 (≥ a year old), and `12` for an
    * absent or unparseable value — UNKNOWN age ranks stalest, so a
    * fresh sitemap entry always outranks a bare link discovery whose
    * age nothing attests. A strict `yyyy-MM-dd` regex gates the parse
    * so both engines agree on WHICH strings parse; a future-dated
    * lastmod clamps to bucket 0. Pure projection — composes into the
    * frontier ranking (q162) with no extra shuffle. */
  def recencyBucket(lastmod: Column, asOfDate: String): Column = {
    val parsed = when(lastmod.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
      try_to_timestamp(lastmod, lit("yyyy-MM-dd")).cast("date"))
    val age = datediff(to_date(lit(asOfDate)), parsed)
    when(age.isNull, lit(12L))
      .otherwise(least(
        floor(greatest(age.cast("long"), lit(0L)) / 30).cast("long"),
        lit(11L)))
  }

  /** Strict IMF-fixdate → ISO `yyyy-MM-dd` conversion for the
    * `Last-Modified` response header (RFC 9110 §5.6.7: `Sun, 06 Nov
    * 1994 08:49:37 GMT` — the only format a compliant server sends;
    * the obsolete RFC 850/asctime forms are deliberately NOT
    * accepted, same strict-format discipline as [[recencyBucket]]'s
    * date gate: anything non-conforming converts to `''` and ranks
    * as unknown age rather than mis-parsing). Pure zero-shuffle
    * projection; impossible dates that pass the shape regex (Feb 30)
    * fall to [[recencyBucket]]'s `try_to_timestamp` gate exactly as
    * sitemap lastmods do. */
  def httpDateToIso(httpDate: Column): Column = {
    val rx = "^[A-Za-z]{3}, ([0-9]{2}) (Jan|Feb|Mar|Apr|May|Jun|Jul|" +
      "Aug|Sep|Oct|Nov|Dec) ([0-9]{4}) " +
      "[0-9]{2}:[0-9]{2}:[0-9]{2} GMT$"
    val day = regexp_extract(httpDate, rx, 1)
    val mon = regexp_extract(httpDate, rx, 2)
    val yr = regexp_extract(httpDate, rx, 3)
    val mm = when(mon === "Jan", "01").when(mon === "Feb", "02")
      .when(mon === "Mar", "03").when(mon === "Apr", "04")
      .when(mon === "May", "05").when(mon === "Jun", "06")
      .when(mon === "Jul", "07").when(mon === "Aug", "08")
      .when(mon === "Sep", "09").when(mon === "Oct", "10")
      .when(mon === "Nov", "11").otherwise("12")
    when(yr === "", lit("")).otherwise(
      concat(yr, lit("-"), mm, lit("-"), day))
  }

  /** `Retry-After` (RFC 9110 §10.2.3) → microseconds of backoff from
    * a FIXED as-of instant (a parameter, never wall-clock — the
    * [[recencyBucket]] determinism discipline). The header's two
    * forms: delta-seconds (a non-negative integer — taken verbatim)
    * and HTTP-date (strict IMF-fixdate via [[httpDateToIso]] plus the
    * time-of-day field; a PAST date clamps to 0 — the origin says
    * "now"). Anything else (RFC 850/asctime forms, junk like `soon`)
    * is null — schedule callers fall back to the crawl-delay tier,
    * never mis-parse a throttle. Micros, not seconds, so the value
    * composes with [[robotsCrawlDelay]]/[[politenessSchedule]]
    * arithmetic directly. Zero-shuffle projection. */
  def retryAfterMicros(ra: Column, asOfTs: String): Column = {
    val delta = when(ra.rlike("^[0-9]{1,9}$"),
      ra.cast("long") * 1000000L)
    val iso = httpDateToIso(ra)
    val hms = regexp_extract(ra,
      " ([0-9]{2}:[0-9]{2}:[0-9]{2}) GMT$", 1)
    val ts = when(iso =!= "", try_to_timestamp(
      concat(iso, lit(" "), hms), lit("yyyy-MM-dd HH:mm:ss")))
    val secs = unix_timestamp(ts) -
      unix_timestamp(lit(asOfTs).cast("timestamp"))
    coalesce(delta,
      when(ts.isNotNull, greatest(secs, lit(0L)) * 1000000L))
  }

  /** Sitemap-INDEX parser (sitemaps.org `<sitemapindex>` tier): the
    * `<sitemap>` entries [[parseSitemap]] deliberately ignores are the
    * CHILD-sitemap fetch queue — a large site's sitemap.xml is an
    * index of per-section child sitemaps, and a crawler that never
    * parses the index never sees the site's URLs at all. One row per
    * `<sitemap>` block with a non-empty `<loc>`: the canonicalized
    * child-sitemap URL, its host, `<lastmod>` (empty when absent —
    * the re-fetch signal for a child that changed), and the same
    * `in_scope` cross-host flag as the `<url>` tier. Identical
    * one-projection + one-explode shape — the XML dies in the
    * harvest; the output is exactly the seed relation a fetch cycle
    * hands back to the frontier. */
  def parseSitemapIndex(df: DataFrame, hostCol: String, xmlCol: String)
      : DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.select(col(hostCol).as("sitemap_host"),
        explode(regexp_extract_all(col(xmlCol),
          lit("(?s)<sitemap>(.*?)</sitemap>"), lit(1))).as("__block"))
      .withColumn("loc", trim(regexp_extract(col("__block"),
        "(?s)<loc>(.*?)</loc>", 1)))
      .filter(col("loc") =!= "")
      .withColumn("lastmod", trim(regexp_extract(col("__block"),
        "(?s)<lastmod>(.*?)</lastmod>", 1)))
      .withColumn("had_lastmod", col("lastmod") =!= "")
      .withColumn("__uc", call_function("graft_url_canon", col("loc")))
      .withColumn("url_canon", col("__uc.canon"))
      .withColumn("url_host", col("__uc.host"))
      .withColumn("in_scope", col("url_host") === col("sitemap_host"))
      .drop("__block", "__uc")
  }

  /** Crawl-delay extraction from robots.txt bodies — the politeness
    * directive [[parseRobotsTxt]] deliberately ignores for RULE
    * grouping (it is not part of RFC 9309; de-facto semantics vary).
    * Contract here: a `Crawl-delay:` line belongs to the most recent
    * group exactly like a rule line would, EXCEPT it does not
    * terminate a UA stack (matching its ignored-line role in the
    * parser, so the two folds agree on group boundaries); within the
    * applicable class the LAST occurrence wins; a group naming
    * `agent` beats the `*` groups (the [[parseRobotsTxt]] selection);
    * hosts with no applicable directive emit no row (callers supply
    * the default) — unless `keepEmpty` is set, in which case every
    * input row survives 1:1 with an empty `crawl_delay_raw` and a
    * null `crawl_delay_micros` (the fetch-log projection shape:
    * [[RobotsCache]] logs one row per fetch whether or not the body
    * declared a delay, with no re-parse and no self-join). The value
    * is returned VERBATIM (`crawl_delay_raw`)
    * plus parsed to exact micros (`crawl_delay_micros` — nonnegative
    * integer or decimal with up to 6 fractional digits; anything else
    * parses to null, surfacing the malformed directive instead of
    * guessing). Same zero-shuffle `aggregate` fold as the parser, same
    * [[RobotsLineBreak]]/[[RobotsWs]] line/whitespace discipline. */
  def robotsCrawlDelay(df: DataFrame, hostCol: String, txtCol: String,
      agent: String, carry: Seq[String] = Nil,
      keepEmpty: Boolean = false): DataFrame = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val init = expr("named_struct('m', false, 's', false, " +
      "'inua', false, 'asp', false, 'dsp', '', 'dst', '')")
    val folded = aggregate(
      split(col(txtCol), RobotsLineBreak),
      init,
      (acc, l) => {
        val line = trim(regexp_replace(l, "#.*$", ""), RobotsWs)
        val low = lower(line)
        val isUa = low.startsWith("user-agent:")
        val isRule = low.startsWith("allow:") || low.startsWith("disallow:")
        val isDelay = low.startsWith("crawl-delay:")
        val v = trim(regexp_replace(line, "^[^:]*:", ""), RobotsWs)
        val vLc = lower(v)
        val m = acc.getField("m"); val s = acc.getField("s")
        val inua = acc.getField("inua")
        struct(
          when(isUa, (when(inua, m).otherwise(lit(false))) ||
            (vLc === agentLc)).otherwise(m).as("m"),
          when(isUa, (when(inua, s).otherwise(lit(false))) ||
            (vLc === "*")).otherwise(s).as("s"),
          when(isUa, lit(true)).when(isRule, lit(false))
            .otherwise(inua).as("inua"),
          (acc.getField("asp") || (isUa && vLc === agentLc)).as("asp"),
          when(isDelay && m, v).otherwise(acc.getField("dsp")).as("dsp"),
          when(isDelay && !m && s, v).otherwise(acc.getField("dst"))
            .as("dst"))
      },
      acc => when(acc.getField("asp"), acc.getField("dsp"))
        .otherwise(acc.getField("dst")))
    val projected = df.select(col(hostCol).as("host") +: carry.map(col) :+
      folded.as("crawl_delay_raw"): _*)
    (if (keepEmpty) projected
     else projected.filter(col("crawl_delay_raw") =!= ""))
      .withColumn("crawl_delay_micros",
        when(col("crawl_delay_raw").rlike("^[0-9]+(\\.[0-9]{1,6})?$"),
          regexp_extract(col("crawl_delay_raw"), "^([0-9]+)", 1)
            .cast("long") * 1000000L +
            rpad(regexp_extract(col("crawl_delay_raw"),
              "^[0-9]+\\.([0-9]{1,6})$", 1), 6, "0").cast("long")))
  }

  /** Politeness scheduling over a ranked frontier: fetch slot
    * `fetch_at_micros = (rank − 1) · delay` per host, the delay from
    * [[robotsCrawlDelay]]'s table with `defaultDelayMicros` for hosts
    * that declared none. Pure projection + one join; the frontier is
    * already ranked per host (q154's `graft_top_k`), so no window and
    * no re-shuffle of the frontier.
    *
    * Same broadcast-ceiling discipline as [[robotsVerdict]]: a
    * crawl-wide delay table (one row per host that declares one) is
    * semi-joined down to the frontier batch's hosts BEFORE the
    * broadcast, so the full table never materializes; past the
    * broadcast threshold `broadcastDelays = false` switches the
    * schedule join to a shuffled hash join on the short host key —
    * bit-identical output, spec-pinned. */
  def politenessSchedule(frontier: DataFrame, hostCol: String,
      rankCol: String, delays: DataFrame,
      defaultDelayMicros: Long, broadcastDelays: Boolean = true)
      : DataFrame = {
    val hostSet = frontier.select(col(hostCol)).distinct()
    val pruned = delays.select(col("host").as(hostCol),
        col("crawl_delay_micros").as("__delay"))
      .join(hostSet, Seq(hostCol), "left_semi")
    val d = if (broadcastDelays) broadcast(pruned)
            else pruned.hint("shuffle_hash")
    frontier.join(d, Seq(hostCol), "left_outer")
      .withColumn("fetch_at_micros",
        (col(rankCol) - 1) *
          coalesce(col("__delay"), lit(defaultDelayMicros)))
      .drop("__delay")
  }

  /** Throttle-aware fetch schedule: [[politenessSchedule]]'s slots
    * pushed past the host's armed `Retry-After` hold —
    * `fetch_at = hold + (rank−1)·delay`. The first fetch waits out
    * the origin's EXPLICIT throttle (q178's per-host max,
    * [[retryAfterMicros]]), subsequent fetches keep the crawl-delay
    * spacing; hosts with no armed throttle hold 0 (a null
    * `retry_after_micros` — all of the host's throttles were
    * malformed or bare — likewise falls to the crawl-delay tier
    * alone). `backoffs` is a (host, retry_after_micros) relation;
    * same prune-before-broadcast discipline (with the SHJ fallback)
    * as the delay join. */
  def throttledSchedule(frontier: DataFrame, hostCol: String,
      rankCol: String, delays: DataFrame, backoffs: DataFrame,
      defaultDelayMicros: Long, broadcastTables: Boolean = true)
      : DataFrame = {
    val base = politenessSchedule(frontier, hostCol, rankCol, delays,
      defaultDelayMicros, broadcastTables)
    val hostSet = frontier.select(col(hostCol)).distinct()
    val pruned = backoffs.select(col("host").as(hostCol),
        col("retry_after_micros").as("__hold"))
      .join(hostSet, Seq(hostCol), "left_semi")
    val b = if (broadcastTables) broadcast(pruned)
            else pruned.hint("shuffle_hash")
    base.join(b, Seq(hostCol), "left_outer")
      .withColumn("fetch_at_micros",
        col("fetch_at_micros") + coalesce(col("__hold"), lit(0L)))
      .drop("__hold")
  }

  def robotsVerdict(df: DataFrame, idCol: String, canonCol: String,
      rules: DataFrame, broadcastRules: Boolean = true): DataFrame = {
    // canonical form is scheme://host[/path][?qs] with scheme+host
    // already lowercased — host and the MATCH TARGET (path incl.
    // query, the de-facto RFC 9309 target) split off with anchored
    // regexes, no re-normalization.
    val thin = df.select(col(idCol),
      regexp_extract(col(canonCol), "^[a-z][a-z0-9+.-]*://([^/?]*)", 1)
        .as("__r_host"),
      regexp_replace(col(canonCol), "^[a-z][a-z0-9+.-]*://[^/?]*", "")
        .as("__r_path"))
    // prune the (possibly crawl-wide) rule table to the hosts actually
    // present in this batch BEFORE any broadcast — the distinct is
    // map-side combining over heavily repeated short host strings, and
    // the semi-join is unhinted so AQE sizes it at runtime
    val hostSet = thin.select(col("__r_host").as("__rr_host")).distinct()
    // wildcard machinery computed once per rule, BEFORE the prune (a
    // projection — the prune then carries it into the broadcast):
    // escape every regex metachar except '*', turn '*' into '.*', and
    // turn a trailing (escaped) '$' back into the end anchor.
    val p = col("path_prefix")
    val esc = regexp_replace(p, "([\\\\.\\[\\]{}()+?^$|])", "\\\\$1")
    val rx = concat(lit("^"), regexp_replace(
      regexp_replace(esc, "\\*", ".*"), "\\\\\\$$", "\\$"))
    val pruned = rules.select(col("host").as("__rr_host"),
        col("path_prefix").as("__rr_prefix"), col("allow").as("__rr_allow"),
        (p.contains("*") || p.endsWith("$")).as("__rr_wc"), rx.as("__rr_rx"))
      .join(hostSet, Seq("__rr_host"), "left_semi")
    // fallback for a batch whose pruned table still exceeds broadcast
    // size: a shuffled hash join on the same short host key
    val r = if (broadcastRules) broadcast(pruned)
            else pruned.hint("shuffle_hash")
    // the wildcard probe is the pattern-caching native expression
    // (plans/RxMatchLenExpr): Spark's rlike RECOMPILES a non-foldable
    // pattern per row; graft_rx_match_len compiles each of the pruned
    // table's few-hundred regexes once. It appears ONLY here, in the
    // join residual — specificity is the pattern's length, a
    // broadcast-side constant — so each candidate row runs exactly
    // one regex execution.
    graft.plans.GraftFunctions.register(df.sparkSession)
    val wcLen = call_function("graft_rx_match_len",
      col("__r_path"), col("__rr_rx"))
    val verdict = thin.join(r,
        col("__r_host") === col("__rr_host") &&
          when(col("__rr_wc"), wcLen >= 0L)
            .otherwise(col("__r_path").startsWith(col("__rr_prefix"))),
        "left_outer")
      .groupBy(col(idCol))
      .agg(max(coalesce(
        length(col("__rr_prefix")).cast("long") * 2 +
          when(col("__rr_allow"), 1L).otherwise(0L),
        lit(1L))).as("__score"))
    df.join(verdict, Seq(idCol))
      .withColumn("fetch_allowed", col("__score") % 2 === 1)
      .withColumn("rule_match_len", expr("__score div 2"))
      .drop("__score")
  }

  /** HTTP status codes whose `Location` header redirects the fetch
    * (RFC 9110 §15.4 — the 306/300 non-automatic classes excluded). */
  val RedirectStatuses: Seq[Long] = Seq(301L, 302L, 303L, 307L, 308L)

  /** Bounded-hop redirect-chain resolution — the consumer of the
    * `http_location` signal [[graft.io.WarcIngest.withHttpResponse]]
    * extracts (the reference pipeline has no fetch tier at all;
    * reference `project/etl2.py` ingests pre-fetched CSV): ~6% of real
    * fetches answer 30x, and a frontier that does not follow them to
    * their final URL dead-ends that share of the crawl and re-enqueues
    * targets it has already seen under their pre-redirect aliases.
    *
    * Input: one row per FETCHED URL (`urlCol`, already canonical),
    * with the response's `statusCol` and raw `locationCol` (empty/null
    * when absent). A `Location` may be relative (RFC 9110 §10.2.2) —
    * it resolves against the fetched URL through the same one-pass
    * native walk as an href (`graft_link_resolve`), so the chain is
    * followed in CANONICAL space and a target never enqueues twice
    * under trivially-different spellings.
    *
    * Output: one row per redirect RESPONSE (not just chain heads) —
    * `start_url`, `final_url` (null for loops), `hops` (Location
    * headers followed, the loop-closing hop included), and `status`:
    * `resolved` (final target answers non-30x or was never fetched),
    * `loop` (the chain revisited a URL — detected by membership in
    * the carried visited set, so an A→B→A cycle and a self-redirect
    * both flag without waiting for the hop cap), or `cap` (still
    * redirecting after `maxHops` — the crawler's give-up class, RFC
    * 9110's guard against infinite indirection).
    *
    * 100 TB shape: the edge relation is two short strings per
    * redirect response (~6% of fetches, payloads and headers die in
    * the projection) and is `localCheckpoint`ed once — each of the
    * `maxHops` rounds is then one equi-join of the shrinking
    * still-redirecting state against that materialized thin relation
    * on the uniform canonical-URL key, never a re-parse of the
    * response tier. State rows carry a visited array bounded by
    * `maxHops` entries; no window, no driver-side data, and loop rows
    * stop joining as soon as they flag. Iteration count is the hop
    * cap — a constant (browsers give up near 20; crawlers 3–5), not a
    * data-dependent fixpoint. */
  /** Crawl-corpus REVISIT merge — what a re-fetch cycle (q169's
    * schedule) does with its answers, the crawl-side counterpart of
    * the reference's CDC merge (`ops/Merge.postState`, reference
    * `project/etl2.py:340-401`) with the crucial difference that a
    * revisit batch is PARTIAL (only scheduled URLs were re-fetched —
    * absence means "not visited", never "deleted") and dispositions
    * are EXPLICIT in the HTTP status instead of inferred by diffing:
    *
    *   - `200` + body: upsert — new URLs insert, known URLs take the
    *     new body (and reactivate if tombstoned); `body_changed`
    *     compares old vs new so downstream re-processing (re-extract,
    *     re-dedup, re-embed) can skip byte-identical refreshes;
    *   - `304 Not Modified` (the q169 `If-None-Match` payoff): the
    *     body is KEPT, only `last_validated` advances — and the URL
    *     reactivates, since the origin just attested it exists;
    *   - `404`/`410`: tombstone (`is_active = false`), body retained
    *     for history exactly like the reference's soft delete;
    *   - any other status (5xx, garbage): no state change — a failed
    *     revisit must not corrupt the corpus;
    *   - a non-200 revisit of an UNKNOWN URL merges nothing.
    *
    * `corpus` must carry (urlCol, bodyCol, `first_fetched`,
    * `last_validated`, `is_active`); `revisits` carries (urlCol,
    * statusCol, newBodyCol). `now` is injectable (the `ops/Merge` F6
    * determinism discipline — never wall-clock in catalog queries).
    *
    * Scale shape: ONE full-outer equi-join on the uniform canonical
    * URL key plus a projection — no window, no skew surface (a URL
    * appears once per side under the fetched-once-per-cycle
    * contract). At deployment scale the corpus side lives
    * URL-bucketed (the [[graft.ext.Dedup.writeBucketedByContent]]
    * layout keyed on the URL), so the join consumes the bucket layout
    * and only the revisit batch exchanges. */
  def revisitMerge(corpus: DataFrame, revisits: DataFrame,
      urlCol: String, statusCol: String, newBodyCol: String,
      bodyCol: String, now: Column): DataFrame = {
    require(Seq("first_fetched", "last_validated", "is_active")
        .forall(corpus.columns.contains),
      "corpus must carry first_fetched/last_validated/is_active " +
        "bookkeeping")
    val c = corpus.alias("c")
    val r = revisits.alias("r")
    val joined = c.join(r, col(s"c.$urlCol") === col(s"r.$urlCol"),
      "full_outer")
    val is200 = col(s"r.$statusCol") === 200 &&
      col(s"r.$newBodyCol").isNotNull
    val is304 = col(s"r.$statusCol") === 304
    val isGone = col(s"r.$statusCol").isin(404L, 410L)
    joined
      // a non-200 revisit of an unknown URL has nothing to merge
      .filter(col(s"c.$urlCol").isNotNull ||
        (col(s"r.$urlCol").isNotNull && is200))
      .select(
        coalesce(col(s"c.$urlCol"), col(s"r.$urlCol")).as(urlCol),
        when(is200, col(s"r.$newBodyCol"))
          .otherwise(col(s"c.$bodyCol")).as(bodyCol),
        coalesce(col("c.first_fetched"), now).as("first_fetched"),
        when(is200 || is304, now)
          .otherwise(col("c.last_validated")).as("last_validated"),
        when(is200 || is304, lit(true))
          .when(isGone, lit(false))
          .otherwise(coalesce(col("c.is_active"), lit(false)))
          .as("is_active"),
        (is200 && col(s"c.$bodyCol").isNotNull &&
          !(col(s"c.$bodyCol") <=> col(s"r.$newBodyCol")))
          .as("body_changed"))
  }

  /** The redirect EDGE projection — (src, dst) per redirect response,
    * Location resolved against the fetched URL and canonicalized.
    * Shared by [[resolveRedirects]] and the streaming twin
    * (`EventStreams.redirectStream`). */
  private[graft] def redirectEdges(responses: DataFrame, urlCol: String,
      statusCol: String, locationCol: String): DataFrame = {
    graft.plans.GraftFunctions.register(responses.sparkSession)
    responses
      .filter(col(statusCol).isin(RedirectStatuses: _*) &&
        col(locationCol).isNotNull && col(locationCol) =!= "")
      .select(col(urlCol).as("__src"),
        call_function("graft_link_resolve", col(locationCol),
          col(urlCol), col(urlCol))("canon").as("__dst"))
      .filter(col("__dst").isNotNull)
  }

  /** Fresh chain state from an edge relation: one chain per redirect
    * response, first hop consumed, self-redirects flagged. Shared by
    * batch and stream. */
  private[graft] def redirectInit(edges: DataFrame): DataFrame =
    edges.select(
      col("__src").as("start_url"),
      col("__dst").as("__cur"),
      lit(1L).as("hops"),
      array(col("__src")).as("__seen"),
      (col("__dst") <=> col("__src")).as("__loop"))

  /** ONE advance round of the redirect fold — shared VERBATIM by
    * [[resolveRedirects]]'s loop and the streaming twin's per-batch
    * rounds (the `assignAndFold` one-definition discipline), so the
    * stream ≡ batch equivalence is structural. `nextHop` is
    * (__cur, __nxt); a chain advances only while un-looped, below the
    * hop cap, and its cursor has an outgoing edge; an advance into
    * the visited set (or in place) closes a loop at that hop. */
  private[graft] def redirectAdvance(state: DataFrame,
      nextHop: DataFrame, maxHops: Int): DataFrame = {
    val j = state.join(nextHop, Seq("__cur"), "left")
    val active = !col("__loop") && col("__nxt").isNotNull &&
      col("hops") < lit(maxHops.toLong)
    val closes = active &&
      (array_contains(col("__seen"), col("__nxt")) ||
        col("__nxt") <=> col("__cur"))
    j.select(
      col("start_url"),
      when(active && !closes, col("__nxt"))
        .otherwise(col("__cur")).as("__cur"),
      (col("hops") + when(active, 1L).otherwise(0L)).as("hops"),
      when(active && !closes,
        concat(col("__seen"), array(col("__cur"))))
        .otherwise(col("__seen")).as("__seen"),
      (col("__loop") || closes).as("__loop"))
  }

  def resolveRedirects(responses: DataFrame, urlCol: String,
      statusCol: String, locationCol: String,
      maxHops: Int = 5): DataFrame = {
    require(maxHops >= 1, s"maxHops must be positive: $maxHops")
    val edges = redirectEdges(responses, urlCol, statusCol, locationCol)
      .localCheckpoint()
    var state = redirectInit(edges)
    val nextHop = edges.select(col("__src").as("__cur"),
      col("__dst").as("__nxt"))
    for (_ <- 2 to maxHops) {
      state = redirectAdvance(state, nextHop, maxHops).localCheckpoint()
    }
    state.join(nextHop, Seq("__cur"), "left")
      .select(col("start_url"),
        when(!col("__loop"), col("__cur")).as("final_url"),
        col("hops"),
        when(col("__loop"), lit("loop"))
          .when(col("__nxt").isNotNull, lit("cap"))
          .otherwise(lit("resolved")).as("status"))
  }
}
