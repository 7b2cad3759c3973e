package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The native k-minhash family: one affine-min loop over an array of
  * shingles, each kernel supplying only its per-element hash folded into
  * [0, P). Affine family (a_i·h + b_i) mod P with
  * a_i = (i·2654435761 mod 1048573)+1, b_i = i·40503, P = 2^31-1; null
  * elements are skipped, and an array with no non-null element gives the P
  * sentinel in every position.
  */
abstract class MinHashKernel extends UnaryExpression with CodegenFallback with NativeKernel {
  def numHashes: Int

  protected final val P = 2147483647L

  /** Element `j` (non-null) of `arr`, hashed and folded into [0, P). */
  protected def folded(arr: ArrayData, j: Int): Long

  @transient private lazy val coeffA: Array[Long] =
    Array.tabulate(numHashes)(i => (i.toLong * 2654435761L) % 1048573L + 1L)
  @transient private lazy val coeffB: Array[Long] =
    Array.tabulate(numHashes)(i => i.toLong * 40503L)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(P)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      if (!arr.isNullAt(j)) {
        val h = folded(arr, j)
        var i = 0
        while (i < numHashes) {
          val hv = (h * coeffA(i) + coeffB(i)) % P
          if (hv < mins(i)) mins(i) = hv
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** k-minhash signature over an array<string> of shingles — the hot loop of
  * MinHash dedup as one tight JVM kernel instead of ~k×n interpreted
  * higher-order-function lambda evaluations (~10× wall-clock on the fixture
  * corpus at sf0.1). Each shingle is hashed with xxhash64(seed=42) and
  * folded into [0, P).
  *
  * Bit-identical to the declarative composition in
  * [[graft.dedup.MinHashDedup.signatureRef]] (asserted in MinHashDedupSpec).
  */
case class MinHashSignature(child: Expression, numHashes: Int) extends MinHashKernel {
  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def prettyName: String = "minhash_sig"

  override protected def folded(arr: ArrayData, j: Int): Long = {
    val h = XxHash64Function.hash(arr.getUTF8String(j), StringType, 42L)
    ((h % P) + P) % P
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[MinHashSignature]] over PRE-FOLDED shingle hashes (array<bigint>, each
  * in [0, P)) instead of raw shingle strings: the string→[0,P) hash is
  * supplied by the caller. This is what lets the md5-based,
  * DuckDB-mirrorable hash family share the native kernel: the md5/conv fold
  * runs as codegen'd builtins and only the k-expansion loop lives here.
  */
case class MinHashFromHashes(child: Expression, numHashes: Int) extends MinHashKernel {
  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def prettyName: String = "minhash_sig_h"

  override protected def folded(arr: ArrayData, j: Int): Long = arr.getLong(j)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
