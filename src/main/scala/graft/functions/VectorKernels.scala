package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** Per-row kProj int64 projection sketch of an `array<double>` vector —
  * the kernel behind the ANN sketch frames. For every non-null element x
  * at 1-based position i0 it adds `floor(x·1e6 + 0.5) · w(t, i0)` into
  * slot t, where w is `Ann.projWeight`'s LCG
  * `((i0·(2t+3)·2654435761 + (t+1)·1013904223) mod 1000003) mod 7 − 3`;
  * all int64 with Java's wrapping, so the slots equal the per-row `sum`s
  * of the `posexplode` form it replaced (and DuckDB's `SkCte`) bit for
  * bit. A null or empty array yields null — `posexplode` emitted no row
  * for it, so no sketch exists; an array whose elements are all null
  * yields kProj null slots, like a `sum` over nulls only.
  *
  * One tight loop over the unsafe array instead of a per-element
  * row explode, a 32-`sum` aggregate and its shuffle. One body, [[sketch]],
  * serves the interpreted eval and the generated code, which calls it on
  * this expression as a reference object.
  */
case class ProjSketch(child: Expression, kProj: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "proj_sketch"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) if kProj > 0 => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"proj_sketch needs array<double> and kProj > 0, got $dt and $kProj")
  }

  /** The sketch of one non-null array, or null for an empty one; called by
    * both the interpreted eval and the generated code.
    */
  def sketch(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val acc = new Array[Long](kProj)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val xi = math.floor(arr.getDouble(i) * 1000000.0 + 0.5).toLong
        val i0 = i + 1L
        var t = 0
        while (t < kProj) {
          val w = (i0 * ((2L * t + 3L) * 2654435761L) + (t + 1L) * 1013904223L) % 1000003L % 7L - 3L
          acc(t) += xi * w
          t += 1
        }
      }
      i += 1
    }
    if (any) new GenericArrayData(acc) else new GenericArrayData(new Array[Any](kProj))
  }

  override protected def nullSafeEval(input: Any): Any = sketch(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("projSketch", this, classOf[ProjSketch].getName)
    nullSafeCodeGen(ctx, ev, arr =>
      s"""${ev.value} = $ref.sketch($arr);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): ProjSketch = copy(child = c)
}

/** Dot product of two same-typed numeric arrays as ONE left-to-right
  * double fold from 0.0 — the kernel behind `Ann.dot` and the sketch
  * products. Each term is `a[i]·b[i]` in double (a bigint element is cast
  * to double first, as Catalyst's coercion of `cast(s AS double) * c`
  * does). A null array, a null element or unequal lengths give null —
  * `zip_with`'s null padding and null-propagating `+`; an empty pair is
  * 0.0.
  *
  * Over `array<double>` this is `aggregate(zip_with(a, b, x*y), 0.0,
  * acc + x)` bit for bit. Over the `array<bigint>` sketches it equals the
  * left-associated chain `p0 + p1 + …` that Ann's SQL twin builds, except
  * that an all-zero chain with a −0.0 product ends +0.0 here: the 0.0 seed
  * absorbs that sign. No sketch output can see it — every score and ce6
  * goes through `floor(…).cast(long)`, a self product is never −0.0, the
  * k-means argmax compares ±0.0 as equal, and products of int64 values are
  * never NaN.
  *
  * It stays inside whole-stage codegen, where the HOF form did not:
  * `ArrayAggregate` and `ZipWith` are `CodegenFallback`, so that form ran
  * interpreted lambdas per element. Both paths call the same two bodies,
  * [[ArrayDot.nullRule]] and [[ArrayDot.fold]], so the result stays a
  * primitive double.
  */
case class ArrayDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_fold"

  private def longs: Boolean = left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) |
         (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<double> or two array<bigint>, got $l and $r")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    if (ArrayDot.nullRule(a, b)) null else ArrayDot.fold(a, b, longs)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ArrayDot].getName
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.isNull} = $cls.nullRule($a, $b);
         |if (!${ev.isNull}) ${ev.value} = $cls.fold($a, $b, $longs);""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayDot =
    copy(left = l, right = r)
}

object ArrayDot {
  /** The null rule of the fold: unequal lengths or a null element. */
  def nullRule(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return true
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** The fold of two arrays that pass [[nullRule]]; `longs` reads each
    * element as a long widened to double.
    */
  def fold(a: ArrayData, b: ArrayData, longs: Boolean): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += (if (longs) a.getLong(i).toDouble * b.getLong(i).toDouble
              else a.getDouble(i) * b.getDouble(i))
      i += 1
    }
    acc
  }
}

/** The nearest centroid of an int64 sketch within a bounded model — the
  * k-means assignment as one per-row loop instead of a cross join with
  * the centroids and a per-vector `max(struct)` shuffle.
  *
  * `model` is the whole centroid table as one foldable value of
  * [[NearestCentroid.ModelType]], one `(cid, c, cn)` struct per centroid:
  * `c` its sum-sketch and `cn` its norm. As a literal it is a reference
  * object of the generated class, not part of its text, so every Lloyd
  * round compiles to the same code. For each centroid the score is
  * `d / cn`, with `d` the [[ArrayDot]] fold of sketch and `c`; the result
  * is the winner's `(cid, d, cn)`, the row that
  * `max(struct(d / cn, -cid))` over the cross join picked:
  *  - a null score (null `d` or `cn`, and a zero `cn`, as Spark's `/`
  *    gives null for a zero divisor) ranks below every other score;
  *  - scores compare as Spark orders doubles (`SQLOrderingUtil`): −0.0
  *    equals 0.0, NaN is the largest;
  *  - equal scores go to the larger `-cid`, i.e. the smallest cid.
  *
  * A null sketch scores null against every centroid, so it gets the
  * smallest cid, as the cross join gave it. An empty model gives null.
  *
  * The generated code evaluates both children, then calls the one body,
  * [[NearestCentroid.nearest]], which the interpreted eval calls too.
  */
case class NearestCentroid(sketch: Expression, model: Expression) extends BinaryExpression {
  override def left: Expression = sketch
  override def right: Expression = model
  override def dataType: DataType = NearestCentroid.WinnerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = (sketch.dataType, model.dataType) match {
    case (ArrayType(LongType, _), NearestCentroid.ModelType) if model.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case (s, m) => TypeCheckResult.TypeCheckFailure(s"$prettyName needs an array<bigint> " +
      s"sketch and a foldable ${NearestCentroid.ModelType.simpleString} model, got " +
      s"${s.simpleString} and ${m.simpleString}")
  }

  override def eval(input: InternalRow): Any = NearestCentroid.nearest(
    sketch.eval(input).asInstanceOf[ArrayData], model.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = sketch.genCode(ctx)
    val m = model.genCode(ctx)
    ev.copy(code = code"""
      |${m.code}
      |${s.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${classOf[NearestCentroid].getName}.nearest(
      |  ${s.isNull} ? null : ${s.value}, ${m.isNull} ? null : ${m.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCentroid =
    copy(sketch = l, model = r)
}

object NearestCentroid {
  /** One struct per centroid: its id, its int64 sum-sketch, its norm. */
  val ModelType: ArrayType = ArrayType(StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("c", ArrayType(LongType, containsNull = true)),
    StructField("cn", DoubleType))), containsNull = false)

  /** The winner: its cid, its product fold with the sketch and its norm. */
  val WinnerType: StructType = StructType(Seq(
    StructField("cid", LongType, nullable = false),
    StructField("d", DoubleType),
    StructField("cn", DoubleType)))

  /** The winner of a sketch (null allowed) against a model; null when the
    * model is null or empty. Both evaluation paths call it.
    */
  def nearest(s: ArrayData, m: ArrayData): InternalRow = {
    if (m == null || m.numElements() == 0) return null
    var best = -1
    var bestScore = 0.0
    var bestScoreNull = true
    var bestNc = 0L
    var bestD = 0.0
    var bestDNull = true
    var j = 0
    while (j < m.numElements()) {
      val cent = m.getStruct(j, 3)
      val nc = -cent.getLong(0)
      val c = if (cent.isNullAt(1)) null else cent.getArray(1)
      val dNull = s == null || c == null || ArrayDot.nullRule(s, c)
      val d = if (dNull) 0.0 else ArrayDot.fold(s, c, longs = true)
      val cnNull = cent.isNullAt(2)
      val cn = if (cnNull) 0.0 else cent.getDouble(2)
      val scoreNull = dNull || cnNull || cn == 0.0
      val score = if (scoreNull) 0.0 else d / cn
      val cmp =
        if (scoreNull) { if (bestScoreNull) 0 else -1 }
        else if (bestScoreNull) 1
        else SQLOrderingUtil.compareDoubles(score, bestScore)
      if (best < 0 || cmp > 0 || (cmp == 0 && nc > bestNc)) {
        best = j; bestScore = score; bestScoreNull = scoreNull; bestNc = nc
        bestD = d; bestDNull = dNull
      }
      j += 1
    }
    val win = m.getStruct(best, 3)
    new GenericInternalRow(Array[Any](-bestNc, if (bestDNull) null else bestD,
      if (win.isNullAt(2)) null else win.getDouble(2)))
  }
}

/** Column DSL for the vector kernels. Each casts its inputs to the array
  * type its kernel reads (a no-op cast is removed by the optimizer), so
  * an `array<float>` embedding needs no `transform` — and the plan no
  * higher-order function.
  */
object VectorKernels {
  private def expr(c: Column): Expression = GraftColumnBridge.expression(c)

  /** kProj-slot int64 projection sketch of a numeric vector ([[ProjSketch]]). */
  def sketch(v: Column, kProj: Int): Column =
    GraftColumnBridge.column(ProjSketch(expr(v.cast("array<double>")), kProj))

  /** Left-to-right double dot fold from 0.0 ([[ArrayDot]]). */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(ArrayDot(expr(a.cast("array<double>")), expr(b.cast("array<double>"))))

  /** The same fold over two int64 sketches, each element read as a long
    * and widened to double ([[ArrayDot]]).
    */
  def sketchDot(a: Column, b: Column): Column =
    GraftColumnBridge.column(ArrayDot(expr(a.cast("array<bigint>")), expr(b.cast("array<bigint>"))))

  /** The row type of a [[nearestCentroid]] model. */
  val CentroidModel: StructType = NearestCentroid.ModelType.elementType.asInstanceOf[StructType]

  /** The winning `(cid, d, cn)` of a sketch against a bounded centroid
    * model, given as rows of [[CentroidModel]] ([[NearestCentroid]]).
    */
  def nearestCentroid(sk: Column, model: Seq[Row]): Column =
    GraftColumnBridge.column(NearestCentroid(expr(sk.cast("array<bigint>")),
      Literal.create(model, NearestCentroid.ModelType)))
}
