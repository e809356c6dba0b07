package graft

import org.apache.spark.sql.functions._

class WarcIngestSpec extends SparkSpec {
  import spark.implicits._
  import graft.io.WarcIngest

  private def rec(hdrs: Seq[(String, String)], payload: String,
      declaredLen: Option[Long] = None): String =
    "WARC/1.0\r\n" +
      (hdrs :+ ("Content-Length" ->
        declaredLen.getOrElse(payload.length.toLong).toString))
        .map { case (k, v) => s"$k: $v" }.mkString("\r\n") +
      "\r\n\r\n" + payload + "\r\n\r\n"

  private def parse(txt: String) =
    WarcIngest.parseWarcRecords(Seq((1L, txt)).toDF("id", "txt"), "id", "txt")
      .orderBy("rec_no")
      .select("rec_no", "warc_type", "target_uri", "content_length",
        "payload", "length_matches")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.getString(4)), r.getBoolean(5))).toSeq

  test("records split, headers bind, payloads slice by declared length") {
    val httpBody = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      "<html>x</html>" // payload with an EMBEDDED blank CRLF line
    val txt = rec(Seq("WARC-Type" -> "warcinfo"), "software: graft") +
      rec(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://a.com/p"), httpBody)
    assert(parse(txt) === Seq(
      (1L, "warcinfo", "", Some(15L), Some("software: graft"), true),
      (2L, "response", "https://a.com/p", Some(httpBody.length.toLong),
        Some(httpBody), true)))
  }

  test("a short capture flags length_matches=false; missing " +
    "Content-Length gives a null payload") {
    val txt = rec(Seq("WARC-Type" -> "metadata"), "abc",
        declaredLen = Some(10L)) + // declares 10, only 3+terminator remain
      "WARC/1.0\r\nWARC-Type: resource\r\n\r\nnolen\r\n\r\n"
    val out = parse(txt)
    assert(out(0)._4 === Some(10L) && !out(0)._6)
    assert(out(1)._2 == "resource" && out(1)._4.isEmpty &&
      out(1)._5.isEmpty && !out(1)._6)
  }

  test("preamble before the first version line is dropped") {
    val txt = "junk preamble\n" + rec(Seq("WARC-Type" -> "warcinfo"), "p")
    val out = parse(txt)
    assert(out.size == 1 && out.head._2 == "warcinfo")
  }

  test("a payload EMBEDDING the version line falsely splits — but the " +
    "truncation is flagged, never silent (the documented hazard)") {
    // a crawled page ABOUT the WARC format: its payload contains the
    // literal record delimiter. The parse splits there, so the true
    // record comes up short against its declared Content-Length and
    // length_matches=false marks it for the fsck tier; the fragment
    // after the false split is noise (also not length-clean here).
    val evil = "see the spec: WARC/1.0\r\nis the version line"
    val txt = rec(Seq("WARC-Type" -> "response",
      "WARC-Target-URI" -> "https://warc.example/doc"), evil)
    val out = parse(txt)
    assert(out.size == 2, s"expected the false split: $out")
    assert(!out(0)._6, "the truncated record must flag length_matches=false")
  }

  test("http response parse: status, case-insensitive headers, param " +
    "strip, first-wins, redirect location, embedded blank line, non-HTTP") {
    val rows = Seq(
      (1L, "HTTP/1.1 200 OK\r\ncontent-type: Text/HTML; charset=utf-8\r\n" +
        "\r\n<html>\r\n\r\nbody with blank line</html>"),
      (2L, "HTTP/1.0 301 Moved\r\nLocation: https://a.com/x\r\n" +
        "Content-Type: text/html\r\nContent-Type: text/plain\r\n\r\nmoved"),
      (3L, "HTTP/1.1 404 Not Found\r\n\r\ngone"),
      (4L, "HTTP/1.1 200 OK\r\nContent-Type:\ttext/html\r\n\r\nok"),
      (5L, "not http at all"))
      .toDF("id", "payload")
    val out = WarcIngest.withHttpResponse(rows, "payload")
      .orderBy("id")
      .select("http_status", "http_media_type", "http_location",
        "http_body", "is_fetch_content")
      .collect().map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getString(1), r.getString(2), Option(r.getString(3)),
        r.getBoolean(4))).toSeq
    assert(out === Seq(
      // media type lowercases, charset param strips, the body keeps its
      // OWN embedded blank line (split at the FIRST one only)
      (Some(200L), "text/html", "",
        Some("<html>\r\n\r\nbody with blank line</html>"), true),
      // first Content-Type occurrence wins; Location captured verbatim
      (Some(301L), "text/html", "https://a.com/x", Some("moved"), false),
      // absent header reads as empty, not null; 404 gates false
      (Some(404L), "", "", Some("gone"), false),
      // RFC tab whitespace after the colon trims
      (Some(200L), "text/html", "", Some("ok"), true),
      // a non-HTTP payload: null status/body, empty headers, false gate
      (None, "", "", None, false)))
  }

  test("http response parse: ETag and Last-Modified validators — " +
    "verbatim incl. weak tags, case-insensitive, empty when absent") {
    val rows = Seq(
      (1L, "HTTP/1.1 200 OK\r\netag: \"abc123\"\r\nlast-modified: " +
        "Sun, 06 Nov 1994 08:49:37 GMT\r\n\r\nbody"),
      (2L, "HTTP/1.1 200 OK\r\nETag: W/\"weak-1\"\r\n\r\nbody"),
      (3L, "HTTP/1.1 200 OK\r\n\r\nbody"),
      (4L, "not http"))
      .toDF("id", "payload")
    val out = WarcIngest.withHttpResponse(rows, "payload")
      .orderBy("id").select("http_etag", "http_last_modified")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out === Seq(
      ("\"abc123\"", "Sun, 06 Nov 1994 08:49:37 GMT"),
      ("W/\"weak-1\"", ""),
      ("", ""),
      ("", "")))
  }

  private def gzip(s: String): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gz.close()
    bo.toByteArray
  }

  test("gzip tier: multi-member and whole-archive gzip parse " +
    "row-for-row identical to the text tier") {
    val httpBody = "HTTP/1.1 200 OK\r\n\r\n<html>café ÿ</html>"
    val recs = Seq(
      rec(Seq("WARC-Type" -> "warcinfo"), "software: graft"),
      rec(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://a.com/p"), httpBody),
      rec(Seq("WARC-Type" -> "metadata"), "abc", declaredLen = Some(9L)))
    val txt = recs.mkString
    // Common Crawl's framing: one gzip member PER RECORD, concatenated;
    // plus the single-member whole-archive variant
    val perMember = recs.map(gzip).reduce(_ ++ _)
    val whole = gzip(txt)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("rec_no")
      .select("rec_no", "warc_type", "target_uri", "content_length",
        "payload", "payload_len", "length_matches")
      .collect().map(_.toSeq).toSeq
    val viaText = rows(WarcIngest.parseWarcRecords(
      Seq((1L, txt)).toDF("id", "txt"), "id", "txt"))
    val viaMembers = rows(WarcIngest.parseWarcRecordsGz(
      Seq((1L, perMember)).toDF("id", "bin"), "id", "bin"))
    val viaWhole = rows(WarcIngest.parseWarcRecordsGz(
      Seq((1L, whole)).toDF("id", "bin"), "id", "bin"))
    assert(viaText.nonEmpty && viaMembers === viaText &&
      viaWhole === viaText)
    // the non-ASCII chars round-tripped exactly through UTF-8
    assert(viaText.exists(_.toString.contains("café ÿ")))
  }

  test("http response parse: declared charset extracted — case, " +
    "quotes, absence, non-first parameter") {
    val rows = Seq(
      (1L, "HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
        "charset=ISO-8859-1\r\n\r\nx"),
      (2L, "HTTP/1.1 200 OK\r\nContent-Type: TEXT/HTML; " +
        "Charset=\"Windows-1252\"\r\n\r\nx"),
      (3L, "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nx"),
      (4L, "HTTP/1.1 200 OK\r\n\r\nx"),
      (5L, "HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
        "boundary=b; charset=utf-8\r\n\r\nx"),
      (6L, "not http"))
      .toDF("id", "payload")
    val out = WarcIngest.withHttpResponse(rows, "payload")
      .orderBy("id").select("http_charset")
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("iso-8859-1", "windows-1252", "", "", "utf-8", ""))
  }

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII
  private def recBytes(hdrs: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val head = "WARC/1.0\r\n" +
      (hdrs :+ ("Content-Length" -> payload.length.toString))
        .map { case (k, v) => s"$k: $v" }.mkString("\r\n") + "\r\n\r\n"
    head.getBytes(Ascii) ++ payload ++ "\r\n\r\n".getBytes(Ascii)
  }
  private def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(b); gz.close(); bo.toByteArray
  }
  private def httpBytes(charsetDecl: String, body: Array[Byte]) =
    ("HTTP/1.1 200 OK\r\nContent-Type: text/html" +
      (if (charsetDecl.isEmpty) "" else "; charset=" + charsetDecl) +
      "\r\n\r\n").getBytes(Ascii) ++ body

  test("byte-view gzip tier + declared-charset decode: Latin-1, " +
    "cp1252 and UTF-8 bodies all round-trip; Content-Length counts " +
    "BYTES (ISO 28500)") {
    graft.plans.GraftFunctions.register(spark)
    val latin1Text = "café naïve über"
    val cp1252Text = "€uro – it’s" // €, –, ’ — the 0x80–0x9F window
    val utf8Text = "héllo 😀"      // multibyte incl. non-BMP
    val archive = gzipBytes(
      recBytes(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://a.com/1"),
        httpBytes("ISO-8859-1", latin1Text.getBytes(
          java.nio.charset.StandardCharsets.ISO_8859_1))) ++
      recBytes(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://a.com/2"),
        httpBytes("Windows-1252",
          cp1252Text.getBytes(java.nio.charset.Charset.forName(
            "windows-1252")))) ++
      recBytes(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://a.com/3"),
        httpBytes("utf-8", utf8Text.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))) ++
      recBytes(Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://a.com/4"),
        httpBytes("", utf8Text.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))))
    val parsed = WarcIngest.parseWarcRecordsGz(
      Seq((1L, archive)).toDF("id", "bin"), "id", "bin", byteView = true)
    // byte-oriented Content-Length: every record is length-clean, the
    // multibyte UTF-8 bodies included (the char-oriented tier flags them)
    assert(parsed.select("length_matches").collect()
      .forall(_.getBoolean(0)))
    val out = WarcIngest.withHttpResponse(parsed, "payload")
      .withColumn("decoded", WarcIngest.decodeBodyCharset(
        col("http_body"), col("http_charset")))
      .orderBy("rec_no").select("http_charset", "decoded")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out === Seq(
      ("iso-8859-1", latin1Text),
      ("windows-1252", cp1252Text),
      ("utf-8", utf8Text),
      ("", utf8Text))) // undeclared defaults to UTF-8
    // the OLD UTF-8-only whole-archive decode mangles the Latin-1 body
    // (0xE9 is a malformed UTF-8 sequence -> U+FFFD) — the reason the
    // declared-charset tier exists
    val old = WarcIngest.parseWarcRecordsGz(
        Seq((1L, archive)).toDF("id", "bin"), "id", "bin")
      .filter(col("target_uri") === "https://a.com/1")
      .select("payload").head.getString(0)
    assert(old.contains("�") && !old.contains("café"))
  }

  test("charset decode: unknown declarations fall back to UTF-8; " +
    "malformed bytes surface as U+FFFD, never an exception") {
    graft.plans.GraftFunctions.register(spark)
    val out = Seq(
        ("ok", "koi8-r"),              // unknown -> utf-8 path
        ("é", "utf-8"),           // lone 0xE9 byte view: malformed
        ("é", "iso-8859-1"))      // same byte, declared latin-1: é
      .toDF("view", "cs")
      .select(WarcIngest.decodeBodyCharset(col("view"), col("cs")))
      .collect().map(_.getString(0)).toSeq
    assert(out === Seq("ok", "�", "é"))
  }

  test("gzip tier: archive bytes never cross an exchange — they die " +
    "in the mapPartitions seam") {
    val bin = gzip(rec(Seq("WARC-Type" -> "warcinfo"), "p"))
    val df = WarcIngest.parseWarcRecordsGz(
      (1L to 8L).map(i => (i, bin)).toDF("id", "bin"), "id", "bin")
      .groupBy("warc_type").count()
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === Seq(("warcinfo", 8L)))
    object Plans
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val exchanges = Plans.collect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }
    // the group-by's exchange is there, and it carries neither
    assert(exchanges.nonEmpty, df.queryExecution.executedPlan)
    val leaks = exchanges.filter(_.child.output.exists(a =>
      a.name == "bin" || a.name == "__gz_txt"))
    assert(leaks.isEmpty, s"archive bytes/text ride an exchange: $leaks")
  }
}
