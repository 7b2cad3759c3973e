package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The native 64-bit SimHash family (Charikar rounding): one pass over the
  * element hashes with a 64-counter array, each kernel supplying only its
  * per-element hash. Signature bit i is set iff `2·ones(i) > n`, where n
  * counts EVERY element: a null element is skipped for the bit counts but
  * still raises the majority-vote denominator, matching the declarative
  * fold.
  */
abstract class SimHashKernel extends UnaryExpression with CodegenFallback with NativeKernel {

  /** Element `j` (non-null) of `arr`, hashed to 64 bits. */
  protected def hash(arr: ArrayData, j: Int): Long

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ones = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = hash(arr, j)
        var i = 0
        while (i < 64) {
          ones(i) += ((h >>> i) & 1L).toInt
          i += 1
        }
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (2L * ones(i) > n) sig |= (1L << i)
      i += 1
    }
    sig
  }
}

/** 64-bit SimHash over an array<string> of tokens, each hashed with
  * xxhash64(seed=42) — instead of 64 nested interpreted `aggregate` folds
  * (~17× wall-clock on the fixture corpus at sf0.1: 50.9s → ~3s).
  *
  * Bit-identical to the declarative composition kept as the executable spec
  * in [[graft.dedup.SimHashDedup.simhashRef]] (asserted in DedupSpec).
  */
case class SimHash64(child: Expression) extends SimHashKernel {
  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def prettyName: String = "simhash64"

  override protected def hash(arr: ArrayData, j: Int): Long =
    XxHash64Function.hash(arr.getUTF8String(j), StringType, 42L)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[SimHash64]] over PRE-FOLDED token hashes (array<bigint>) instead of raw
  * tokens — the hash family is supplied by the caller, which is what lets
  * the md5-based, DuckDB-mirrorable variant (60 useful bits from the top 15
  * md5 hex chars) share the counting kernel.
  */
case class SimHashFromHashes(child: Expression) extends SimHashKernel {
  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def prettyName: String = "simhash_h"

  override protected def hash(arr: ArrayData, j: Int): Long = arr.getLong(j)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
