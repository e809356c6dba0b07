package graft

import org.apache.spark.sql.functions._

/** Scale soak for the q186 URL-identity layer: 10⁶ fetched URLs in
  * 4-variant alias clusters (head, 301 variant, declared-canonical
  * variant, tracking-param variant) plus two adversarial regimes —
  * a HOT identity (ids ≡ 7 mod 50, 2% of the corpus, all redirecting
  * onto ONE syndication landing page: its fan-in must die in
  * map-side combines, never a hot task) and the cross-host
  * declaration trap (ids ≡ 6 mod 8 declare a foreign canonical that
  * must be ignored). The check is EXACT and self-verifying: the
  * plant's class arithmetic predicts every row's identity, and the
  * pipeline's census (through the REAL parse: HTTP gate → redirect
  * resolution → canonical pull → coalesce) must equal the predicted
  * census row for row (`except` both ways).
  *
  * Usage: `SPARK_GRAFT_CPUS=32 sbt 'runMain graft.IdentitySoak [nRows]'`
  */
object IdentitySoak {

  import BenchUtil.time

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = Sessions.local()

    val d = col("id")
    val t = d - (d % 4)
    val host = concat(lit("h"), (t % 50000).cast("string"),
      lit(".example.com"))
    val head = concat(lit("https://"), host, lit("/p/"),
      t.cast("string"))
    val c = d % 4
    val isHot = d % 50 === 7
    val crossDecl = d % 8 === 6
    val hot = "https://hub.example.com/landing"
    // hot rows get their OWN path: a hot row is a c1/c3 cluster member
    // (ids ≡ 7 mod 50 are odd) and a c3 member's URL canonicalizes
    // onto the cluster head — a redirect from that spelling would
    // alias the head's join key
    val url = when(isHot, concat(lit("https://"), host, lit("/syn/"),
        d.cast("string")))
      .when(c === 0, head)
      .when(c === 1, concat(lit("https://"), host, lit("/moved/"),
        d.cast("string")))
      .when(c === 2, concat(lit("https://"), host, lit("/alt/"),
        d.cast("string")))
      .otherwise(concat(head, lit("?utm_source=feed&ref="),
        d.cast("string")))
    val declTarget = when(crossDecl,
      lit("https://evil.example.net/steal")).otherwise(head)
    val payload = when(isHot, concat(
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: " + hot +
          "\r\n\r\nmoved")))
      .when(c === 1, concat(
        lit("HTTP/1.1 301 Moved Permanently\r\nLocation: "), head,
        lit("\r\n\r\nmoved")))
      .when(c === 2, concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          "<html><head><link rel=\"canonical\" href=\""), declTarget,
        lit("\"></head><body>alt</body></html>")))
      .otherwise(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
          "<html><body>content</body></html>"))
    // the plant's own prediction of each row's identity — ground truth
    val predicted = when(isHot, lit(hot))
      .when(c === 1, head)
      .when(c === 2 && !crossDecl, head)
      .when(c === 2 && crossDecl, concat(lit("https://"), host,
        lit("/alt/"), d.cast("string")))
      .otherwise(head)
    val plant = spark.range(n)
      .select(d.as("doc_id"), url.as("url"), payload.as("payload"),
        predicted.as("predicted"))
      .localCheckpoint()

    val canon = graft.ext.UrlOps.withCanonicalUrl(plant, "url")
    val gated = graft.io.WarcIngest.withHttpResponse(canon, "payload")
    val redir = graft.ext.UrlOps.resolveRedirects(gated, "url_canon",
        "http_status", "http_location", maxHops = 3)
      .filter(col("status") === "resolved")
      .select(col("start_url").as("url_canon"), col("final_url"))
    val withDecl = graft.ext.UrlOps.withDeclaredCanonical(
      gated, "http_body", "url_canon", "url")
    val declOk = col("decl_canon").isNotNull &&
      col("decl_host") === col("url_host")
    val resolved = withDecl.join(redir, Seq("url_canon"), "left")
      .withColumn("identity", coalesce(col("final_url"),
        when(declOk, col("decl_canon")), col("url_canon")))

    val (census, tCensus) = time {
      resolved.groupBy("identity").count().localCheckpoint()
    }
    val total = census.agg(sum("count")).head.getLong(0)
    val hotN = census.filter(col("identity") === hot)
      .head.getLong(1)
    println(f"[identity-soak] census @ $n: $tCensus%.1f s " +
      s"identities=${census.count()} hot=$hotN total=$total")
    assert(total == n, s"census total $total != $n")
    // Planted hot ids are those ≡ 7 (mod 50) in [0, n): exactly
    // (n + 42) / 50 of them for n ≥ 8 — NOT n / 50, which only
    // coincides when n is a multiple of 50 (e.g. n = 60 has 2).
    val hotWant = if (n >= 8) (n + 42) / 50 else 0L
    assert(hotN == hotWant, s"hot identity $hotN != $hotWant")

    // EXACT: pipeline census ≡ plant-arithmetic census, row for row
    val (diff, tDiff) = time {
      val want = plant.groupBy(col("predicted").as("identity")).count()
      census.except(want).count() + want.except(census).count()
    }
    println(f"[identity-soak] exact census compare: $tDiff%.1f s " +
      s"diff=$diff")
    assert(diff == 0, s"identity census diverged from prediction: $diff")
    println("[identity-soak] PASS")
    spark.stop()
  }
}
