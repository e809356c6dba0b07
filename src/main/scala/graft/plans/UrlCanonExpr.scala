package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass URL canonicalization — the hot-path twin of
  * `UrlOps.canonicalUrl`'s column chain. The chain is ~12 regex
  * executions per URL (measured 31 µs/link at sf0.1, BASELINE.md
  * round 11 —
  * at 10¹¹ crawl links that is ~860 CPU-hours of canonicalization
  * alone); this expression walks the string once with index
  * arithmetic and returns `struct<canon, host, had_tracking>` so the
  * host and tracking flag come out of the same pass.
  *
  * Semantics are BIT-IDENTICAL to the column chain by construction
  * (each rule transcribed, property-pinned in `UrlOpsSpec` over
  * generated URLs plus every planted shape): case-insensitive scheme
  * match `[A-Za-z][A-Za-z0-9+.-]*://` (ASCII classes, NOT
  * `Character.isLetter`), lowercasing through `UTF8String
  * .toLowerCase` (Spark's own `lower`), query-parameter sort in
  * UTF8String binary order (Spark's `array_sort` ordering), and the
  * `had_tracking` flag reproducing `withCanonicalUrl`'s exact
  * formulation (its `contains("?")` guard tests the ORIGINAL string,
  * fragment included). Single-line contract: callers feed URLs, not
  * text with newlines (the chain's `#.*$` fragment strip and this
  * first-`#` cut agree exactly on newline-free input).
  *
  * Implements `doGenCode` (reference-object method call, the
  * [[UnicodeNormExpr]] pattern) so canonicalization stays inside the
  * scan's whole-stage codegen.
  */
final case class UrlCanonExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = UrlCanonExpr.schema
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_url_canon expects string, got ${other.sql}")
  }

  /** Canonicalization entry point for generated code. */
  def canon(u: UTF8String): InternalRow = UrlCanonExpr.canonRow(u)

  override def nullSafeEval(input: Any): Any =
    UrlCanonExpr.canonRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftUrlCanon", this,
      classOf[UrlCanonExpr].getName)
    defineCodeGen(ctx, ev, c => s"$ref.canon($c)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): UrlCanonExpr = copy(child = newChild)

  override def prettyName: String = "graft_url_canon"
}

object UrlCanonExpr {
  val schema: StructType = StructType(Seq(
    StructField("canon", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("had_tracking", BooleanType, nullable = false)))

  private def lc(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString

  /** The one-pass canonicalization walk, shared with
    * [[LinkResolveExpr]] (which canonicalizes the RESOLVED link in
    * the same pass that classified and resolved it). */
  def canonRow(u: UTF8String): InternalRow = {
    val s = u.toString
    val hashIdx = s.indexOf('#')
    val noFrag = if (hashIdx >= 0) s.substring(0, hashIdx) else s
    // scheme:// — ASCII classes only, like the chain's regex
    var schemeEnd = -1
    if (noFrag.nonEmpty) {
      val c0 = noFrag.charAt(0)
      if ((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z')) {
        var i = 1
        while (i < noFrag.length && {
          val c = noFrag.charAt(i)
          (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
            (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
        }) i += 1
        if (noFrag.regionMatches(i, "://", 0, 3)) schemeEnd = i
      }
    }
    val scheme = if (schemeEnd >= 0) lc(noFrag.substring(0, schemeEnd)) else ""
    val rest = if (schemeEnd >= 0) noFrag.substring(schemeEnd + 3) else noFrag
    var aEnd = 0
    while (aEnd < rest.length && rest.charAt(aEnd) != '/' &&
      rest.charAt(aEnd) != '?') aEnd += 1
    val authority = lc(rest.substring(0, aEnd))
    val hostNoWww =
      if (authority.startsWith("www.")) authority.substring(4) else authority
    val host =
      if (scheme == "http" && hostNoWww.endsWith(":80"))
        hostNoWww.substring(0, hostNoWww.length - 3)
      else if (scheme == "https" && hostNoWww.endsWith(":443"))
        hostNoWww.substring(0, hostNoWww.length - 4)
      else hostNoWww
    val pathQ = rest.substring(aEnd)
    val qIdx = pathQ.indexOf('?')
    val rawPath = if (qIdx >= 0) pathQ.substring(0, qIdx) else pathQ
    val sb = new java.lang.StringBuilder(rawPath.length)
    var i = 0
    while (i < rawPath.length) {
      val c = rawPath.charAt(i)
      if (c == '/') {
        sb.append('/')
        while (i < rawPath.length && rawPath.charAt(i) == '/') i += 1
      } else { sb.append(c); i += 1 }
    }
    if (sb.length > 0 && sb.charAt(sb.length - 1) == '/')
      sb.setLength(sb.length - 1)
    val path = if (sb.length == 0) "/" else sb.toString
    val rawQs = if (qIdx >= 0) pathQ.substring(qIdx + 1) else ""
    val kept = rawQs.split("&", -1).iterator
      .filter(p => p.nonEmpty &&
        !graft.ext.UrlOps.TrackingParamPrefixes.exists(p.startsWith))
      .map(UTF8String.fromString).toArray
    java.util.Arrays.sort(kept,
      (a: UTF8String, b: UTF8String) => a.compareTo(b))
    val qs = kept.mkString("&")
    val canonStr = scheme + "://" + host + path +
      (if (qs.isEmpty) "" else "?" + qs)
    // withCanonicalUrl's exact had_tracking: guard on the ORIGINAL
    // string's '?', params from the de-fragmented string after its
    // first '?' — or the WHOLE de-fragmented string when the only '?'
    // sat inside the fragment (the chain's regexp_replace no-match)
    val hadTrk = s.indexOf('?') >= 0 && {
      val qi = noFrag.indexOf('?')
      val raw = if (qi >= 0) noFrag.substring(qi + 1) else noFrag
      raw.split("&", -1).exists(p => p.nonEmpty &&
        graft.ext.UrlOps.TrackingParamPrefixes.exists(p.startsWith))
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(canonStr), UTF8String.fromString(host),
      java.lang.Boolean.valueOf(hadTrk)))
  }
}
