package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

/** Cross-engine-PORTABLE SimHash over an `array<string>` of tokens: the
  * per-token hash is the first 64 bits of md5 (a published, engine-neutral
  * function), not xxhash64 — so the exact fingerprint is reproducible in
  * any engine with md5 + bit ops, and q27 becomes DuckDB-oracle-checkable.
  * [[SimHash64Expr]] (xxhash64) remains the fastest in-Spark variant; this
  * one trades a crypto hash per token for portability.
  *
  * Output is a STRUCT of two longs, `(simhash_hi, simhash_lo)` — the high
  * and low 32 bits as separate non-negative values. Deliberate: assembling
  * one 64-bit value whose top bit may be set requires signed-overflow
  * semantics that differ across engines (DuckDB errors on `1::BIGINT << 63`
  * where Spark's shiftleft wraps); two 32-bit halves stay comfortably in
  * signed range everywhere. Hamming distance over the pair is
  * `bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)` — identical metric.
  *
  * Bit convention (mirrored in the HOF fold and the DuckDB oracle):
  * `hi` = big-endian value of md5 bytes 0..3 (hex digits 1-8),
  * `lo` = bytes 4..7 (hex digits 9-16); vote counter per bit gets +1 when
  * the token's bit is 1, −1 otherwise; final bit set iff counter > 0
  * (the [[SimHash64Expr]] sign rule). Null tokens are SKIPPED — no vote —
  * matching both the MinHash null no-op convention and what any engine
  * unnesting the token array (the q27 oracle shape) computes, since
  * unnest simply omits null rows. A null token array (null text) casts
  * no vote and yields `(0, 0)`, as the HOF fold does.
  */
final case class SimHashMd5Expr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("simhash_hi", LongType, nullable = false),
    StructField("simhash_lo", LongType, nullable = false)))
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_simhash_md5 expects array<string>, got ${other.sql}")
    }
  }

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input)
    if (arr == null) InternalRow(0L, 0L) else nullSafeEval(arr)
  }

  override def nullSafeEval(input: Any): Any = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { // null token = no vote (MinHash convention)
        val d = md.digest(arr.getUTF8String(i).getBytes)
        val hi = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
          ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        val lo = ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
          ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
        md.reset()
        var b = 0
        while (b < 32) {
          if (((lo >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          if (((hi >>> b) & 1L) == 1L) counters(b + 32) += 1
          else counters(b + 32) -= 1
          b += 1
        }
      }
      i += 1
    }
    var hiSig = 0L
    var loSig = 0L
    var b = 0
    while (b < 32) {
      if (counters(b) > 0) loSig |= (1L << b)
      if (counters(b + 32) > 0) hiSig |= (1L << b)
      b += 1
    }
    InternalRow(hiSig, loSig)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5Expr =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash_md5"
}
