package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Typed UDAF surface (SURVEY.md §2.12): element-wise vector sum/mean as an
  * `Aggregator` — a single-pass alternative to the posexplode+groupBy(pos)
  * composition (V4). At scale this avoids exploding dim× rows before the
  * shuffle: partial buffers are one fixed-width array per (group, partition),
  * merged tree-wise like any other partial aggregate.
  */
case class CentroidBuffer(sums: Array[Double], n: Long)

/** Input is `Array[Float]`, not `Seq[Float]` (r22, VERDICT #2 hardening):
  * the primitive-array encoder deserializes each row with one
  * `toFloatArray` copy, where the Seq encoder boxed every element into a
  * WrappedArray — per-row garbage that is exactly the churn a 32-thread
  * ObjectHashAggregate amplifies. Accumulation order and arithmetic are
  * unchanged (same index-ascending double adds), so results are
  * bit-identical per partition.
  *
  * Contract: every vector of a group has the same length and no null
  * element. A ragged group fails in `reduce`/`merge` instead of being
  * truncated or zero-padded; a null element fails in [[NonNullElements]]
  * before the primitive encoder could read it as 0.0.
  */
class CentroidAgg extends Aggregator[Array[Float], CentroidBuffer, Seq[Double]] {

  override def zero: CentroidBuffer = CentroidBuffer(Array.empty, 0L)

  override def reduce(b: CentroidBuffer, v: Array[Float]): CentroidBuffer = {
    val sums = if (b.n == 0) new Array[Double](v.length) else b.sums
    CentroidAgg.requireSameLength(sums.length, v.length)
    var i = 0
    while (i < v.length) { sums(i) += v(i); i += 1 }
    CentroidBuffer(sums, b.n + 1)
  }

  override def merge(a: CentroidBuffer, b: CentroidBuffer): CentroidBuffer = {
    if (a.n == 0) b
    else if (b.n == 0) a
    else {
      CentroidAgg.requireSameLength(a.sums.length, b.sums.length)
      var i = 0
      while (i < a.sums.length) { a.sums(i) += b.sums(i); i += 1 }
      CentroidBuffer(a.sums, a.n + b.n)
    }
  }

  override def finish(r: CentroidBuffer): Seq[Double] =
    if (r.n == 0) Seq.empty else r.sums.map(_ / r.n).toSeq

  override def bufferEncoder: Encoder[CentroidBuffer] = Encoders.product[CentroidBuffer]
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

object CentroidAgg {
  private lazy val fn = udaf(new CentroidAgg,
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Float]]())
  def centroid(vec: Column): Column =
    fn(GraftShim.column(NonNullElements(GraftShim.expression(vec))))

  private[functions] def requireSameLength(a: Int, b: Int): Unit =
    if (a != b) throw new IllegalArgumentException(
      s"centroid: vectors of length $a and $b in one group; " +
        "every vector of a group must have the same length")

  /** Public: [[NonNullElements]]'s generated code throws it. */
  def nullElement(i: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"centroid: vector element $i is null; vectors must have no null elements")
}

/** Passes an array through unchanged and fails on a null element. The
  * generated code loops only over an input whose `containsNull` is true.
  */
case class NonNullElements(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) throw CentroidAgg.nullElement(i)
      i += 1
    }
    a
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val check =
        if (!child.dataType.asInstanceOf[ArrayType].containsNull) ""
        else {
          val i = ctx.freshName("i")
          s"""for (int $i = 0; $i < $a.numElements(); $i++) {
             |  if ($a.isNullAt($i)) throw graft.functions.CentroidAgg.nullElement($i);
             |}
             |""".stripMargin
        }
      s"$check${ev.value} = $a;"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
