package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass multi-group regex extract: one `Matcher.find()` per row
  * returning ALL capture groups as a struct (g1..gN, matched flag).
  *
  * Why it exists: the built-in `regexp_extract(line, re, i)` executes the
  * regex once per requested group — a 6-field grok parse costs 6 regex
  * evaluations per row (SURVEY.md §4.3). The reference compiles each vendor
  * regex once and extracts all named groups in one pass
  * (/root/reference/src/parser/security_log.rs:128-139, OnceLock'd regexes
  * e.g. nginx.rs:14); this Expression restores that 1-pass cost inside
  * whole-stage codegen: the matcher runs once, groups copy out as
  * UTF8String. One body, [[extract]], serves the interpreted eval and the
  * generated code, which calls it on this expression as a reference object.
  *
  * Pattern is a compile-time constant (like the reference's static regexes),
  * so it lives in the plan, not in a child expression.
  */
case class RegexpExtractStruct(child: Expression, regex: String, numGroups: Int)
  extends UnaryExpression {

  @transient private lazy val pattern: Pattern = Pattern.compile(regex)

  override def dataType: DataType = StructType(
    (1 to numGroups).map(i => StructField(s"g$i", StringType, nullable = false)) :+
      StructField("matched", BooleanType, nullable = false))

  override def prettyName: String = "regexp_extract_struct"

  /** One `find()` and the group copy-out; called by both the interpreted
    * eval and the generated code, so the two paths cannot diverge.
    */
  def extract(input: UTF8String): GenericInternalRow = {
    val m = pattern.matcher(input.toString)
    val row = new GenericInternalRow(numGroups + 1)
    if (m.find()) {
      var i = 1
      while (i <= numGroups) {
        val g = m.group(i)
        row.update(i - 1, UTF8String.fromString(if (g == null) "" else g))
        i += 1
      }
      row.update(numGroups, true)
    } else {
      var i = 0
      while (i < numGroups) { row.update(i, UTF8String.EMPTY_UTF8); i += 1 }
      row.update(numGroups, false)
    }
    row
  }

  override protected def nullSafeEval(input: Any): Any =
    extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("regexpExtract", this, classOf[RegexpExtractStruct].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.extract($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexpExtractStruct =
    copy(child = newChild)
}

object RegexpExtractStruct {
  import org.apache.spark.sql.GraftColumnBridge

  /** Column API: one-pass extraction of all groups. */
  def of(line: Column, regex: String, numGroups: Int): Column =
    GraftColumnBridge.column(
      RegexpExtractStruct(GraftColumnBridge.expression(line), regex, numGroups))
}
