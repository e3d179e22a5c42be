package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native codegen'd rolling polynomial hash over an `array<int>` token
  * column: acc = (acc·31 + t) mod 1e9+7 — an order-sensitive document
  * fingerprint (the reference fingerprints records by full-struct equality
  * for consecutive-dup detection, /root/reference/src/collector/zeek.rs:115;
  * a rolling hash is the constant-space analog for token sequences).
  *
  * A Catalyst `UnaryExpression` that stays inside whole-stage codegen — no
  * UDF boxing, no iterator breaks. One body, [[TokenFingerprint.fingerprint]],
  * serves the interpreted eval and the generated code, which calls it.
  */
case class TokenFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "token_fingerprint"

  override protected def nullSafeEval(input: Any): Any =
    TokenFingerprint.fingerprint(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${classOf[TokenFingerprint].getName}.fingerprint($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenFingerprint =
    copy(child = newChild)
}

object TokenFingerprint {
  /** The fold of one non-null array; both evaluation paths call it. */
  def fingerprint(arr: ArrayData): Long = {
    var acc = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) { acc = (acc * 31L + arr.getInt(i)) % 1000000007L; i += 1 }
    acc
  }

  /** Column DSL: `TokenFingerprint.of(col("tokens"))` → bigint, with no
    * SQL function registration in the session.
    */
  def of(tokens: Column): Column =
    GraftColumnBridge.column(TokenFingerprint(GraftColumnBridge.expression(tokens)))
}

object GraftFunctions {
  /** Every graft SQL function, declared once: (name, expression class,
    * builder). Both entry points below register exactly this table.
    */
  private[functions] val fns: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("token_fingerprint", classOf[TokenFingerprint], children => TokenFingerprint(children.head)),
    ("window_hashes", classOf[WindowHashes], children => WindowHashes(children(0), children(1)))
  )

  /** Register into an existing session (the test sessions). */
  def register(spark: SparkSession): Unit = fns.foreach { case (name, _, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` for
  * spark-submit deployments.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.fns.foreach { case (name, cls, builder) =>
      ext.injectFunction((new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}
