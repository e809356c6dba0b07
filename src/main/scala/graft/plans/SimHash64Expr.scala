package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression computing a 64-bit SimHash over an
  * `array<string>` of tokens — the JVM-loop equivalent of
  * `graft.ext.Dedup.simhash64`'s HOF fold (same per-token xxhash64 seed
  * 42, same ±1 bit votes, same `counter > 0 → bit set` sign rule;
  * bit-identical output, the spec asserts equality).
  *
  * Taking the token ARRAY (not raw text) as input keeps tokenization in
  * the codegen'd built-in `split` — identical by construction to the HOF
  * path — while replacing what is actually slow: the HOF fold allocates a
  * 64-element vote array per token and pays 64 interpreted `zip_with`
  * lambda frames per token (measured 9 s at sf0.1). Here each token is
  * hashed once and votes into a local int[64] — zero per-element
  * expression dispatch. CodegenFallback is deliberate: the eval loop IS
  * the fast path (same rationale as [[MinHashSigExpr]]). A null token
  * array (null text) casts no vote and yields 0, as the HOF fold does.
  */
final case class SimHash64Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash64 expects array<string>, got ${other.sql}")
    }
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) 0L else nullSafeEval(arr)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      // null token = no vote — the MinHash null no-op convention, shared
      // with [[SimHashMd5Expr]] and the HOF fold's isNull guard
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash64"
}
