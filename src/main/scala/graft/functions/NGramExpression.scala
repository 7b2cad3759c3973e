package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram generator: array<string> tokens → array<string> of
  * space-joined n-grams — the shingle kernel feeding both the bigram text
  * queries and MinHash dedup. One tight loop instead of n× interpreted
  * higher-order lambdas; output strings are identical to the declarative
  * `transform(sequence(...), i -> concat_ws(" ", ...))` composition
  * (equality asserted in TextFunctionsSpec).
  */
case class WordNGrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with NativeKernel {

  require(n >= 1)

  private val space = UTF8String.fromString(" ")

  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[ArrayData]
    val sz = toks.numElements()
    if (sz < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](sz - n + 1)
      var i = 0
      while (i <= sz - n) {
        val parts = new Array[UTF8String](n)
        var k = 0
        while (k < n) { parts(k) = toks.getUTF8String(i + k); k += 1 }
        out(i) = UTF8String.concatWs(space, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
