package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Every n-char window hash of a string in ONE linear pass — the sliding
  * form of the per-window polynomial fold `acc = (acc·31 + cp) mod 1e9+7`
  * that d12/t11's substring-duplication signals are defined over. The
  * windowed Catalyst chain evaluates n substr+ascii nodes per POSITION
  * (O(len·n) expression work per document, the dominant cost of
  * d12_repeat_substr); the slide `h' = ((h − c_out·31^{n−1})·31 + c_in)
  * mod p` produces bit-identical values in O(len) — a pure strength
  * reduction, so the DuckDB oracle (which keeps the per-window fold at
  * gate scale) is untouched.
  *
  * All arithmetic stays in int64: h < p ≈ 1e9, code points ≤ 0x10FFFF, so
  * c·31^{n−1} mod p products peak near 1.1e15. Characters are Unicode CODE
  * POINTS on the full range including the supplementary planes — the same
  * unit Spark's `ascii(substr(...))` chain and DuckDB's fold use
  * (`ascii('😀')` = 128512 in both engines; pinned by the non-BMP case in
  * FingerprintPropSpec), never UTF-16 units. Strings shorter than n yield
  * an empty array — `explode` then drops them, matching the windowed
  * chain's `length ≥ n` guard.
  *
  * A Catalyst `BinaryExpression` that runs inside whole-stage codegen like
  * [[TokenFingerprint]]. One body, [[hashes]], serves the interpreted eval
  * and the generated code, which calls it on this expression as a
  * reference object, so the modulus stays out of the generated text.
  */
case class WindowHashes(left: Expression, right: Expression,
                        p: Long = 1000000007L) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  /** Every window hash of one string, the slide of the paragraph above;
    * called by both the interpreted eval and the generated code.
    */
  def hashes(text: UTF8String, n: Int): GenericArrayData = {
    val cps = text.toString.codePoints.toArray
    val m = cps.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](m)
    var h = 0L
    var j = 0
    while (j < n) { h = (h * 31L + cps(j)) % p; j += 1 }
    out(0) = h
    var pw = 1L
    j = 1
    while (j < n) { pw = pw * 31L % p; j += 1 }
    var i = 1
    while (i < m) {
      h = (h - cps(i - 1) * pw % p + p) % p
      h = (h * 31L + cps(i + n - 1)) % p
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(t: Any, nv: Any): Any =
    hashes(t.asInstanceOf[UTF8String], nv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("windowHashes", this, classOf[WindowHashes].getName)
    defineCodeGen(ctx, ev, (t, nv) => s"$ref.hashes($t, $nv)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): WindowHashes =
    copy(left = l, right = r)
}

object WindowHashes {
  /** Column DSL: `WindowHashes.of(col("text"), 24)` → array<long>. The
    * modulus defaults to 1e9+7 (the d12/t11 fold); the d-series shingles
    * pass 2^31−1. Stepwise mod equals the chains' single final mod for
    * either prime — mod is a ring homomorphism.
    *
    * The int64 arithmetic is exact only while `h·31 + c`, `c·pw` and
    * `h + p` stay below Long.MaxValue for every code point c ≤ 0x10FFFF;
    * `of` requires it. h and pw are below p, and never above their
    * unreduced values (the n-code-point polynomial, 31^(n−1)) — which is
    * what lets lmFamiliarity's n = 3 use a 1e18 modulus.
    */
  def of(text: Column, n: Int, p: Long = 1000000007L): Column = {
    require(fitsInt64(n, p), s"window_hashes(n = $n, p = $p) overflows int64: need " +
      "h*31 + 0x10FFFF, 0x10FFFF*pw and h + p below Long.MaxValue")
    GraftColumnBridge.column(WindowHashes(GraftColumnBridge.expression(text), Literal(n), p))
  }

  private def fitsInt64(n: Int, p: Long): Boolean = p > 1 && {
    val (c, m, max) = (BigInt(0x10FFFF), BigInt(p), BigInt(Long.MaxValue))
    val pow = BigInt(31).pow(math.max(n, 1) - 1)
    val h = (c * (pow * 31 - 1) / 30).min(m - 1) // Σ_{i<n} c·31^i, reduced below p
    val pw = pow.min(m - 1)
    h * 31 + c <= max && pw * 31 <= max && c * pw <= max && h + m <= max
  }
}
