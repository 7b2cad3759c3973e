package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All capture groups of one regex match in ONE pass — the kernel behind
  * `IrcParser.parse` / `p1_regex_extract` (r21). The declarative form runs
  * `regexp_extract(line, pat, i)` once per group, and each call is a FULL
  * regex match of the same pattern over the same line — the 5-group message
  * parse paid five matches per line (three in the parse→stream path). This
  * expression runs the match once and returns `array<string>` of all
  * capture groups, with `regexp_extract`'s exact per-group semantics:
  * first-match (`find()`), unmatched optional group → "", no match at all →
  * all-"" (regexp_extract returns "" for both cases). Callers read groups
  * with `element_at(g, i)` — group i at array position i, 1-based, exactly
  * regexp_extract's numbering.
  *
  * The pattern is a constructor parameter, compiled once per expression
  * instance (like Spark's own RegExpExtract when the pattern is foldable).
  * CodegenFallback, like [[CharEntropySum]]: the regex engine dominates the
  * row cost; what matters is running it once, not inlining the call.
  *
  * NULL contract: null line → null array (standard null propagation), same
  * as regexp_extract's null → null.
  */
case class RegexpGroups(child: Expression, pattern: String)
    extends UnaryExpression with CodegenFallback with NativeKernel {

  override protected def operandTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "regexp_groups"

  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(pattern)

  override def nullSafeEval(s: Any): Any = {
    val m = compiled.matcher(s.asInstanceOf[UTF8String].toString)
    val n = m.groupCount()
    val out = new Array[Any](n)
    if (m.find()) {
      var i = 0
      while (i < n) {
        val g = m.group(i + 1)
        out(i) = UTF8String.fromString(if (g == null) "" else g)
        i += 1
      }
    } else {
      var i = 0
      while (i < n) { out(i) = UTF8String.fromString(""); i += 1 }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
