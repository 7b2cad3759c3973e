package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}

/** The operand check every graft kernel shares: each operand's type must be
  * one of `operandTypes`, where an array type matches an array of that
  * element type whatever its `containsNull`. A kernel reads its operand at a
  * fixed type (`getFloat`, `getDouble`, `getLong`, `getUTF8String`, a
  * UTF8String cast), so an operand of another type must fail analysis; left
  * unchecked, it passes analysis and the kernel either fails at run time (a
  * NullPointerException in generated code over a columnar scan, a
  * ClassCastException over literal arrays) or returns numbers read from the
  * wrong bytes (a string hash over an array<int>).
  */
trait NativeKernel extends Expression {
  protected def operandTypes: Seq[DataType]

  override def checkInputDataTypes(): TypeCheckResult = {
    def loose(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(e)
      case other => other
    }
    if (children.forall(c => operandTypes.contains(loose(c.dataType))))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${operandTypes.map(_.simpleString).mkString(" or ")} " +
        s"operands, got ${children.map(_.dataType.simpleString).mkString(" and ")}")
  }
}

/** The null-element contract of the numeric fold kernels ([[FloatVecDot]],
  * [[DoubleVecDot]], [[DoubleVecL2Sq]]): a null element among the first
  * min(len) positions of either operand makes the result null, as it does
  * in the higher-order fold each kernel replaces (`zip_with` yields null
  * there and `aggregate`'s sum stays null). Only an operand whose
  * `ArrayType.containsNull` is true is checked, so vectors typed non-null
  * keep the guard-free loop, and the result is nullable only when an
  * operand or an operand's element can be null.
  */
trait NullElementFold extends BinaryExpression {
  private def elementsNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }
  private lazy val checkLeft: Boolean = elementsNullable(left)
  private lazy val checkRight: Boolean = elementsNullable(right)

  override def nullable: Boolean = super.nullable || checkLeft || checkRight

  /** Interpreted check: a checked operand holds a null at position `i`. */
  protected def nullElementAt(x: ArrayData, y: ArrayData, i: Int): Boolean =
    (checkLeft && x.isNullAt(i)) || (checkRight && y.isNullAt(i))

  /** Generated check for the loop over `i`: marks the result null and
    * leaves the loop; empty when neither operand can hold a null. */
  protected def nullElementGuard(ev: ExprCode, a: String, b: String,
      i: String): String = {
    val checks = Seq(a -> checkLeft, b -> checkRight)
      .collect { case (v, true) => s"$v.isNullAt($i)" }
    if (checks.isEmpty) ""
    else s"if (${checks.mkString(" || ")}) { ${ev.isNull} = true; break; }"
  }
}

/** Native Catalyst expressions for the vector hot path (SURVEY.md §7.3's
  * optional perf tier): whole-stage-codegen'd float-array dot product
  * (squared L2 is [[DoubleVecL2Sq]] below). ~100× faster than the
  * interpreted higher-order-function fold at large pair counts, while
  * producing **bit-identical**
  * results to [[VectorFunctions.dot]]: float multiply → widen to double →
  * double accumulation in index order — the same IEEE op sequence the DuckDB
  * oracle replicates.
  *
  * Null contract: a null array, or a null element within the first
  * min(len) positions, gives a null result ([[NullElementFold]]).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends NullElementFold with NativeKernel {

  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (nullElementAt(x, y, i)) return null
      acc += (x.getFloat(i) * y.getFloat(i)).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${nullElementGuard(ev, a, b, i)}
         |  $acc += (double) ($a.getFloat($i) * $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 between two double- OR float-arrays — the native kernel
  * behind `Ann.l2sq` / `Pq.l2sqLit`'s centroid-assignment argmins (r21: the
  * interpreted `aggregate(zip_with)` fold evaluates one Catalyst lambda PER
  * ELEMENT, and assignment evaluates k folds per row — the same 30×-class
  * penalty the CharEntropySum scaladoc records). Determinism contract,
  * bit-identical to the fold it replaces: i-ascending, a float element is
  * widened BEFORE the double subtract (exactly `x.cast("double") - c`),
  * acc += d·d. Note d² = (−d)², so left/right orientation cannot change a
  * bit. Length mismatch truncates to min(len) like [[DoubleVecDot]] (the
  * HOF fold would yield NULL there — contracts deliberately diverge, and
  * every call site feeds fixed-width vectors). A null element within
  * min(len) gives null, like the fold ([[NullElementFold]]).
  *
  * Registered session-wide as SQL `vec_l2sq`, so the input contract is
  * enforced (r21 ADVICE #1): both sides must be array<double|float> —
  * before this check an array<float> LEFT operand silently read 8-byte
  * slots over 4-byte data (garbage distances, no error). Float is now
  * handled symmetrically on either side.
  */
case class DoubleVecL2Sq(left: Expression, right: Expression)
    extends NullElementFold with NativeKernel {

  override protected def operandTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2sq"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private lazy val leftIsFloat: Boolean = isFloat(left)
  private lazy val rightIsFloat: Boolean = isFloat(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (nullElementAt(x, y, i)) return null
      val d = (if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)) -
        (if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i))
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val getR = if (rightIsFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      val getL = if (leftIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${nullElementGuard(ev, a, b, i)}
         |  double $d = $getR - $getL;
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of index-positions where two long-arrays agree — the MinHash
  * signature-agreement kernel behind `MinHashDedup.estimateJaccard` (r21
  * VERDICT #3: the estimate ran an interpreted 64-element
  * `aggregate(zip_with(sa, sb, when(x===y,1).otherwise(0)))` fold — one
  * Catalyst lambda per element — on EVERY candidate pair of the whole
  * minhash family: d2_minhash_md5/lsh, d3/d10 LSH groups, i3/d13
  * incremental). Bit-identical to the fold: the fold counts matches over
  * the zip_with-padded max-length (pad → null → 0), which equals the count
  * of equal positions below min(len) — exactly this loop. Integer count;
  * the caller's `/ numHashes` division is unchanged. Null array → null,
  * like the fold (zip_with(null,·) → null → aggregate → null). A null
  * ELEMENT never counts as agreement, on either side and even against
  * another null — the fold's `x === y` is null there and lands in
  * `otherwise(0)`. The generated loop checks `isNullAt` only for an input
  * whose `ArrayType.containsNull` is true, so minhash signatures
  * (`containsNull = false`) keep the guard-free loop.
  */
case class LongVecAgree(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {

  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "vec_agree"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) acc += 1
      i += 1
    }
    acc
  }

  private def containsNull(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val guard = Seq(a -> left, b -> right).collect {
        case (v, e) if containsNull(e) => s"!$v.isNullAt($i) && "
      }.mkString
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $acc = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($guard$a.getLong($i) == $b.getLong($i)) $acc++;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Double-array dot product — the projected-space kernel of
  * `v20_random_projection` stage 1 (FloatVecDot's domain is array<float>;
  * the JL projection emits array<double>). Determinism contract:
  * index-ascending multiply-accumulate, bit-identical to the interpreted
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` fold it replaces — for
  * EQUAL-LENGTH inputs only. On length mismatch the kernel truncates to
  * min(len(a), len(b)) and returns a number (the same n = min(...) rule as
  * [[FloatVecProject]]), while `zip_with` null-pads the shorter side and
  * the fold yields NULL — the contracts deliberately diverge there. A null
  * element within min(len) gives null, like the fold ([[NullElementFold]]).
  */
case class DoubleVecDot(left: Expression, right: Expression)
    extends NullElementFold with NativeKernel {

  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "double_vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (nullElementAt(x, y, i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${nullElementGuard(ev, a, b, i)}
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Literal-matrix × float-vector projection — the stage-1 kernel of
  * `v20_random_projection` (JL / Achlioptas). out[j] = Σ_i (double)x[i] ·
  * m[j][i], i ascending — the exact IEEE sequence of the interpreted
  * higher-order `transform`/`aggregate` fold it replaces (bit-equality
  * pinned in EngineSpec), but inside whole-stage codegen: HOF expressions
  * have no doGenCode, so the fold otherwise drops the entire projection
  * out of the generated stage and pays a lambda invocation per
  * multiply-add (d_in × d_out per ROW). The matrix is a plan-time literal
  * (JL matrices are tiny by construction); it rides into the generated
  * class as one flat double[] reference.
  *
  * The matrix field is `Seq[Seq[Double]]`, NOT `Array[Array[Double]]`, on
  * purpose (ADVICE r17): arrays compare by reference, so an array-typed
  * case-class field would break equals/hashCode/semanticEquals across
  * instances and with them expression canonicalization, common-subexpression
  * elimination, and plan/exchange reuse for identical projections.
  */
case class FloatVecProject(child: Expression, matrix: Seq[Seq[Double]])
    extends UnaryExpression with NativeKernel {

  private val dOut = matrix.length
  private val dIn = if (dOut == 0) 0 else matrix.head.length
  require(matrix.forall(_.length == dIn), "ragged projection matrix")
  @transient private lazy val flat: Array[Double] = matrix.flatten.toArray

  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "float_vec_project"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), dIn)
    val out = new Array[Double](dOut)
    var j = 0
    while (j < dOut) {
      val off = j * dIn
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += x.getFloat(i).toDouble * flat(off + i)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("projMatrix", flat, "double[]")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val out = ctx.freshName("out")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $dIn);
         |double[] $out = new double[$dOut];
         |for (int $j = 0; $j < $dOut; $j++) {
         |  int $off = $j * $dIn;
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ((double) $a.getFloat($i)) * $m[$off + $i];
         |  }
         |  $out[$j] = $acc;
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of common elements between two SORTED, DUPLICATE-FREE string
  * arrays — the exact-verify kernel of the prefix-filter dedup family
  * (r22). The declarative `size(array_intersect(ta, tb))` builds a hash
  * set of one side and probes the other PER CANDIDATE PAIR (hashing ~|ta|
  * UTF8Strings and allocating the set each evaluation); on the d12 fixture
  * that is 7.5M candidate pairs × ~80 string hashes. Sorting each doc's
  * array ONCE (corpus-side, inside the broadcast projection:
  * `sort_array(array_distinct(...))`) lets every pair evaluation be a
  * single allocation-free merge over binary-ordered UTF8Strings.
  *
  * EXACTNESS: for sorted duplicate-free inputs the merge count equals
  * |A∩B| = `size(array_intersect(A, B))` — the oracle-pinned value.
  * `sort_array` orders strings by UTF8String binary comparison, the same
  * comparator this merge uses. Null contract: null array → null; elements
  * are assumed non-null (token arrays). Inputs that are NOT sorted or NOT
  * duplicate-free are out of contract (callers own the sort_array +
  * array_distinct composition).
  */
case class SortedStringIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with NativeKernel {

  override protected def operandTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "sorted_isect_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var acc = 0
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { acc += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val c = ctx.freshName("c")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $acc = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $acc++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SQL names of the graft kernels — the `spark.sql` surface only, registered
  * by [[graft.GraftCatalog.registerAll]]. The DataFrame API builds each
  * kernel as a typed Column (`GraftShim.column`, see the wrappers in
  * VectorFunctions, TextFunctions, MinHashDedup, SimHashDedup, IrcParser)
  * and never looks a name up. A kernel's literal parameter (hash count,
  * n-gram width, regex pattern, projection matrix) arrives here as a
  * foldable SQL argument and is evaluated once, at resolution.
  */
object NativeFunctions {
  private def const[T](e: Expression): T = {
    val v = if (e.foldable) e.eval() else null
    require(v != null, s"expected a non-null literal argument, got ${e.sql}")
    v.asInstanceOf[T]
  }

  val sql: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "float_vec_dot" -> (a => FloatVecDot(a(0), a(1))),
    "double_vec_dot" -> (a => DoubleVecDot(a(0), a(1))),
    "vec_l2sq" -> (a => DoubleVecL2Sq(a(0), a(1))),
    "vec_agree" -> (a => LongVecAgree(a(0), a(1))),
    "sorted_isect_count" -> (a => SortedStringIntersectCount(a(0), a(1))),
    "minhash_sig" -> (a => MinHashSignature(a(0), const[Int](a(1)))),
    "minhash_sig_h" -> (a => MinHashFromHashes(a(0), const[Int](a(1)))),
    "word_ngrams" -> (a => WordNGrams(a(0), const[Int](a(1)))),
    "simhash64" -> (a => SimHash64(a(0))),
    "simhash_h" -> (a => SimHashFromHashes(a(0))),
    "char_entropy_sum" -> (a => CharEntropySum(a(0))),
    "regexp_groups" -> (a => RegexpGroups(a(0), const[Any](a(1)).toString)),
    "float_vec_project" -> (a => FloatVecProject(a(0), {
      val rows = const[ArrayData](a(1))
      (0 until rows.numElements()).map(r => rows.getArray(r).toDoubleArray().toSeq)
    })))
}
