package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word-n-gram shingles over an `array<string>` of
  * tokens — the JVM-loop equivalent of `graft.ext.Dedup.wordShingles`'
  * HOF formulation (`transform(sequence…, slice + concat_ws)` then
  * `array_distinct`; same output including first-occurrence order, the
  * spec pins equality).
  *
  * Why: the HOF pays an interpreted lambda frame plus a slice allocation
  * per token position — the dominant remaining constant in the near-dup
  * family (q25/q26). Here each shingle is one `UTF8String.concatWs` over
  * a reused window, deduplicated with a LinkedHashSet (which preserves
  * exactly `array_distinct`'s keep-first order). Documents shorter than
  * `n` tokens yield their whole token sequence as a single shingle, like
  * the HOF's `otherwise` branch; a null token array (null text) yields
  * one empty shingle, as the HOF's `concat_ws` over a null array does.
  * Tokenization stays in the codegen'd `split` either way.
  * CodegenFallback: the eval loop IS the fast path.
  */
final case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"shingle size must be positive: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_word_shingles expects array<string>, got ${other.sql}")
    }
  }

  private val space = UTF8String.fromString(" ")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) new GenericArrayData(Array[AnyRef](UTF8String.EMPTY_UTF8))
    else nullSafeEval(arr)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val m = arr.numElements()
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      toks(i) = arr.getUTF8String(i)
      i += 1
    }
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (m >= n) {
      i = 0
      val window = new Array[UTF8String](n)
      while (i <= m - n) {
        System.arraycopy(toks, i, window, 0, n)
        out.add(UTF8String.concatWs(space, window: _*))
        i += 1
      }
    } else {
      out.add(UTF8String.concatWs(space, toks: _*))
    }
    val res = new Array[AnyRef](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { res(i) = it.next(); i += 1 }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_word_shingles"
}
