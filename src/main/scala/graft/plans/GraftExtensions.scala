package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension injecting graft's native functions, usable either via
  * `spark.sql.extensions=graft.plans.GraftExtensions` at session build or
  * `GraftFunctions.register(spark)` at runtime. After registration the
  * functions resolve in SQL and through `call_function`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    ext.injectOptimizerRule(_ => LevenshteinBandRule)
  }
}

object GraftFunctions {

  /** A scalar config argument must be a foldable literal: `eval()` on a
    * non-foldable (e.g. an attribute reference) throws an opaque
    * unresolved-expression error during analysis — guard first and emit
    * the intended message instead.
    */
  private def intLit(children: Seq[Expression], i: Int, what: String): Int = {
    val c = children(i)
    if (!c.foldable) throw new IllegalArgumentException(
      s"$what must be an integer literal, got non-literal ${c.sql}")
    c.eval() match {
      case v: Int => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  private def longLit(children: Seq[Expression], i: Int, what: String): Long = {
    val c = children(i)
    if (!c.foldable) throw new IllegalArgumentException(
      s"$what must be an integer literal, got non-literal ${c.sql}")
    c.eval() match {
      case v: Long => v
      case v: Int => v.toLong
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
  }

  private def minhashBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_minhash_sig(shingles, k)")
    MinHashSigExpr(children.head, intLit(children, 1, "k"))
  }

  private def rhpBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 4,
      "graft_rhp_sig(vec, nPlanes, dim, seed)")
    RhpSigExpr(children.head, intLit(children, 1, "nPlanes"),
      intLit(children, 2, "dim"), longLit(children, 3, "seed"))
  }

  private def simhashBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 1, "graft_simhash64(tokens)")
    SimHash64Expr(children.head)
  }

  private def simhashMd5Builder(children: Seq[Expression]): Expression = {
    require(children.size == 1, "graft_simhash_md5(tokens)")
    SimHashMd5Expr(children.head)
  }

  private def minhashMd5Builder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_minhash_md5_sig(shingles, k)")
    MinHashMd5SigExpr(children.head, intLit(children, 1, "k"))
  }

  private def ivfBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 5,
      "graft_ivf_assign(vec, centroids, k, dim, nProbe)")
    val cLit = children(1)
    if (!cLit.foldable) throw new IllegalArgumentException(
      s"centroids must be an array literal, got non-literal ${cLit.sql}")
    // the literal centroid array is absorbed into the expression OBJECT —
    // it appears once pre-analysis, never in the resolved plan tree
    val centroids = cLit.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toDoubleArray()
      case other => throw new IllegalArgumentException(
        s"centroids must be an array<double> literal, got $other")
    }
    IvfAssignExpr(children.head, centroids, intLit(children, 2, "k"),
      intLit(children, 3, "dim"), intLit(children, 4, "nProbe"))
  }

  private def dotBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3, "graft_dot(vec_a, vec_b, dim)")
    DotExpr(children(0), children(1), intLit(children, 2, "dim"))
  }

  private def dotI8Builder(children: Seq[Expression]): Expression = {
    require(children.size == 3, "graft_dot_i8(vec_a, vec_b, dim)")
    Int8DotExpr(children(0), children(1), intLit(children, 2, "dim"))
  }

  private def shinglesBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_word_shingles(tokens, n)")
    WordShinglesExpr(children.head, intLit(children, 1, "n"))
  }

  private def bloomContainsBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_bloom_contains(value, bloomBytes)")
    val bLit = children(1)
    if (!bLit.foldable) throw new IllegalArgumentException(
      s"bloomBytes must be a binary literal, got non-literal ${bLit.sql}")
    // the serialized filter is absorbed into the expression OBJECT — it
    // appears once pre-analysis, never in the resolved plan tree
    val bytes = bLit.eval() match {
      case b: Array[Byte] => b
      case other => throw new IllegalArgumentException(
        s"bloomBytes must be a binary literal, got $other")
    }
    BloomContainsExpr(children.head, bytes)
  }

  private def stringArrayLit(children: Seq[Expression], i: Int,
                             what: String): Array[String] = {
    val c = children(i)
    if (!c.foldable) throw new IllegalArgumentException(
      s"$what must be an array<string> literal, got non-literal ${c.sql}")
    // the literal table is absorbed into the expression OBJECT
    c.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        a.toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType).map(_.toString)
      case other => throw new IllegalArgumentException(
        s"$what must be an array<string> literal, got $other")
    }
  }

  private def bpeSegmentBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_bpe_segment(word, merges)")
    BpeSegmentExpr(children.head, stringArrayLit(children, 1, "merges"))
  }

  private def bpePairsBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_bpe_pairs(word, merges)")
    BpePairsExpr(children.head, stringArrayLit(children, 1, "merges"))
  }

  private def unigramSegmentBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3, "graft_unigram_segment(word, vocab, maxLen)")
    UnigramSegmentExpr(children.head, stringArrayLit(children, 1, "vocab"),
      intLit(children, 2, "maxLen"))
  }

  private def cmsEstimateBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_cms_estimate(value, cmsBytes)")
    val bLit = children(1)
    if (!bLit.foldable) throw new IllegalArgumentException(
      s"cmsBytes must be a binary literal, got non-literal ${bLit.sql}")
    // the serialized sketch is absorbed into the expression OBJECT — it
    // appears once pre-analysis, never in the resolved plan tree
    val bytes = bLit.eval() match {
      case b: Array[Byte] => b
      case other => throw new IllegalArgumentException(
        s"cmsBytes must be a binary literal, got $other")
    }
    CmsEstimateExpr(children.head, bytes)
  }

  private def doubleArrayLit(children: Seq[Expression], i: Int,
                             what: String): Array[Double] = {
    val c = children(i)
    if (!c.foldable) throw new IllegalArgumentException(
      s"$what must be an array literal, got non-literal ${c.sql}")
    // the literal matrix is absorbed into the expression OBJECT
    c.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a.toDoubleArray()
      case other => throw new IllegalArgumentException(
        s"$what must be an array<double> literal, got $other")
    }
  }

  private def pqEncodeBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 7,
      "graft_pq_encode(vec, list, codebooks, coarse, m, dsub, ksub)")
    PqEncodeExpr(children(0), children(1),
      doubleArrayLit(children, 2, "codebooks"),
      doubleArrayLit(children, 3, "coarse"),
      intLit(children, 4, "m"), intLit(children, 5, "dsub"),
      intLit(children, 6, "ksub"))
  }

  private def pqAdcBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3, "graft_pq_adc(codes, lut, ksub)")
    PqAdcExpr(children(0), children(1), intLit(children, 2, "ksub"))
  }

  private def misraGriesBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_misra_gries(item, k)")
    MisraGriesAgg(children.head, intLit(children, 1, "k"))
  }

  private def topKBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 3, "graft_top_k(ord, payload, k)")
    TopKAgg(children(0), children(1), intLit(children, 2, "k"))
  }

  private def unicodeNormBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, "graft_unicode_norm(text, form)")
    val fLit = children(1)
    if (!fLit.foldable) throw new IllegalArgumentException(
      s"form must be a string literal, got non-literal ${fLit.sql}")
    val form = fLit.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"form must be a string literal, got $other")
    }
    UnicodeNormExpr(children.head, form)
  }

  private def urlCanonBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 1, "graft_url_canon(url)")
    UrlCanonExpr(children.head)
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotExpr].getName, "graft_dot"),
      dotBuilder),
    (FunctionIdentifier("graft_dot_i8"),
      new ExpressionInfo(classOf[Int8DotExpr].getName, "graft_dot_i8"),
      dotI8Builder),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash_sig"),
      minhashBuilder),
    (FunctionIdentifier("graft_rhp_sig"),
      new ExpressionInfo(classOf[RhpSigExpr].getName, "graft_rhp_sig"),
      rhpBuilder),
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[SimHash64Expr].getName, "graft_simhash64"),
      simhashBuilder),
    (FunctionIdentifier("graft_simhash_md5"),
      new ExpressionInfo(classOf[SimHashMd5Expr].getName, "graft_simhash_md5"),
      simhashMd5Builder),
    (FunctionIdentifier("graft_minhash_md5_sig"),
      new ExpressionInfo(classOf[MinHashMd5SigExpr].getName,
        "graft_minhash_md5_sig"),
      minhashMd5Builder),
    (FunctionIdentifier("graft_ivf_assign"),
      new ExpressionInfo(classOf[IvfAssignExpr].getName, "graft_ivf_assign"),
      ivfBuilder),
    (FunctionIdentifier("graft_word_shingles"),
      new ExpressionInfo(classOf[WordShinglesExpr].getName,
        "graft_word_shingles"),
      shinglesBuilder),
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContainsExpr].getName,
        "graft_bloom_contains"),
      bloomContainsBuilder),
    (FunctionIdentifier("graft_bpe_segment"),
      new ExpressionInfo(classOf[BpeSegmentExpr].getName, "graft_bpe_segment"),
      bpeSegmentBuilder),
    (FunctionIdentifier("graft_bpe_pairs"),
      new ExpressionInfo(classOf[BpePairsExpr].getName, "graft_bpe_pairs"),
      bpePairsBuilder),
    (FunctionIdentifier("graft_unigram_segment"),
      new ExpressionInfo(classOf[UnigramSegmentExpr].getName,
        "graft_unigram_segment"),
      unigramSegmentBuilder),
    (FunctionIdentifier("graft_cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimateExpr].getName,
        "graft_cms_estimate"),
      cmsEstimateBuilder),
    (FunctionIdentifier("graft_misra_gries"),
      new ExpressionInfo(classOf[MisraGriesAgg].getName,
        "graft_misra_gries"),
      misraGriesBuilder),
    (FunctionIdentifier("graft_top_k"),
      new ExpressionInfo(classOf[TopKAgg].getName, "graft_top_k"),
      topKBuilder),
    (FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncodeExpr].getName, "graft_pq_encode"),
      pqEncodeBuilder),
    (FunctionIdentifier("graft_pq_adc"),
      new ExpressionInfo(classOf[PqAdcExpr].getName, "graft_pq_adc"),
      pqAdcBuilder),
    (FunctionIdentifier("graft_unicode_norm"),
      new ExpressionInfo(classOf[UnicodeNormExpr].getName,
        "graft_unicode_norm"),
      unicodeNormBuilder),
    (FunctionIdentifier("graft_url_canon"),
      new ExpressionInfo(classOf[UrlCanonExpr].getName, "graft_url_canon"),
      urlCanonBuilder),
    (FunctionIdentifier("graft_rx_match_len"),
      new ExpressionInfo(classOf[RxMatchLenExpr].getName,
        "graft_rx_match_len"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_rx_match_len(str, rx)")
        RxMatchLenExpr(children.head, children(1))
      }),
    (FunctionIdentifier("graft_link_resolve"),
      new ExpressionInfo(classOf[LinkResolveExpr].getName,
        "graft_link_resolve"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_link_resolve(href, base_canon, base_raw)")
        LinkResolveExpr(children(0), children(1), children(2))
      }),
    (FunctionIdentifier("graft_charset_decode"),
      new ExpressionInfo(classOf[CharsetDecodeExpr].getName,
        "graft_charset_decode"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_charset_decode(byteView, charset)")
        CharsetDecodeExpr(children.head, children(1))
      }))

  /** Idempotent runtime registration on an existing session: the native
    * functions plus the [[LevenshteinBandRule]] optimizer rule. Safe to
    * call from concurrent requests: the rule's check-then-append is one
    * critical section, so it is never added twice.
    */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
    val methods = spark.experimental
    methods.synchronized {
      if (!methods.extraOptimizations.contains(LevenshteinBandRule))
        methods.extraOptimizations =
          methods.extraOptimizations :+ LevenshteinBandRule
    }
  }
}
