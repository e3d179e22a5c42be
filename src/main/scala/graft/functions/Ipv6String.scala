package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.NumberConverter
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.unsafe.types.UTF8String.LongWrapper

/** RFC-5952 IPv6 string from a field's 32 raw hex chars, matching Rust's
  * Ipv6Addr Display (the reference's Ipv6 render, packet.rs:595,631-634):
  * lowercase groups without leading zeros, the leftmost-longest run of ≥2
  * zero groups compressed to "::", and the IPv4-mapped form
  * ::ffff:a.b.c.d special-cased.
  *
  * One scan of the eight groups per row. The Catalyst form it replaces, a
  * `when` chain over all 28 (start, length) runs longest-first, generated
  * a NetFlow v9 render stage past Janino's 64 KB method limit, so the
  * stage always ran interpreted. Both paths call [[Ipv6String.render]].
  * On any ASCII string it gives what that form gave: group i is
  * `lower(substring(raw, 4i + 1, 4))` with up to three leading '0's cut,
  * a zero group is exactly "0000", and the mapped tail is
  * `conv(substring(raw, 25, 8), 16, 10)` cast to long, rendered as a
  * dotted quad (empty when null). A null input gives null.
  */
case class Ipv6String(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "ipv6_string"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs a string, got ${t.simpleString}")
  }

  override protected def nullSafeEval(raw: Any): Any = Ipv6String.render(raw.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, raw => s"${classOf[Ipv6String].getName}.render($raw)")

  override protected def withNewChildInternal(newChild: Expression): Ipv6String =
    copy(child = newChild)
}

object Ipv6String {
  private val Zero = UTF8String.fromString("0000")
  private val Mapped = UTF8String.fromString("ffff")

  /** The render of one non-null input (see [[Ipv6String]]). */
  def render(raw: UTF8String): UTF8String = {
    val groups = Array.tabulate(8)(i => raw.substringSQL(4 * i + 1, 4).toLowerCase)
    val zero = groups.map(_ == Zero)
    val out = new java.lang.StringBuilder
    if (zero.take(5).forall(identity) && groups(5) == Mapped) {
      out.append("::ffff:").append(ipv4(raw.substringSQL(25, 8)))
    } else {
      // the leftmost longest run of zero groups, compressed when ≥ 2
      var (start, len, i) = (-1, 1, 0)
      while (i < 8) {
        var j = i
        while (j < 8 && zero(j)) j += 1
        if (j - i > len) { start = i; len = j - i }
        i = math.max(j, i + 1)
      }
      def join(from: Int, until: Int): Unit = (from until until).foreach { g =>
        if (g > from) out.append(':')
        val h = groups(g).toString
        var k = 0
        while (k < 3 && k < h.length && h.charAt(k) == '0') k += 1
        out.append(h, k, h.length)
      }
      if (start < 0) join(0, 8)
      else { join(0, start); out.append("::"); join(start + len, 8) }
    }
    UTF8String.fromString(out.toString)
  }

  /** `ipv4String(conv(tail, 16, 10).cast("long"))`: at most eight hex
    * digits read as `conv` reads them, so the address is below 2^32 or null.
    */
  private def ipv4(tail: UTF8String): String = {
    val dec = NumberConverter.convert(tail.getBytes, 16, 10, false, null)
    val w = new LongWrapper
    if (dec == null || !dec.toLong(w)) ""
    else Seq(24, 16, 8, 0).map(s => (w.value >> s) & 0xffL).mkString(".")
  }

  /** Column API: the RFC-5952 render of a field's raw hex chars. */
  def of(raw: Column): Column =
    GraftColumnBridge.column(Ipv6String(GraftColumnBridge.expression(raw)))
}
