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
  * row explode, a 32-`sum` aggregate and its shuffle.
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

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val any = ctx.freshName("any")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val i0 = ctx.freshName("i0")
      val t = ctx.freshName("t")
      val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
      s"""
         |int $n = $arr.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $acc = new long[$kProj];
         |  boolean $any = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$arr.isNullAt($i)) {
         |      $any = true;
         |      long $xi = (long) java.lang.Math.floor($arr.getDouble($i) * 1000000.0 + 0.5);
         |      long $i0 = $i + 1L;
         |      for (int $t = 0; $t < $kProj; $t++) {
         |        $acc[$t] += $xi * (($i0 * ((2L * $t + 3L) * 2654435761L)
         |          + ($t + 1L) * 1013904223L) % 1000003L % 7L - 3L);
         |      }
         |    }
         |  }
         |  ${ev.value} = $any ? new $gad($acc) : new $gad(new Object[$kProj]);
         |}
       """.stripMargin
    })

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
  * A compiled loop over the unsafe arrays: `ArrayAggregate` and `ZipWith`
  * are `CodegenFallback`, so the HOF form ran interpreted lambdas per
  * element.
  */
case class ArrayDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_fold"

  private def elemType = left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) |
         (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs two array<double> or two array<bigint>, got $l and $r")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val long = elemType == LongType
    def at(x: ArrayData, i: Int): Double = if (long) x.getLong(i).toDouble else x.getDouble(i)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += at(a, i) * at(b, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      def at(x: String): String =
        if (elemType == LongType) s"(double) $x.getLong($i)" else s"$x.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    ${ev.value} += ${at(a)} * ${at(b)};
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayDot =
    copy(left = l, right = r)
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

  override def eval(input: InternalRow): Any = {
    val m = model.eval(input).asInstanceOf[ArrayData]
    if (m == null || m.numElements() == 0) return null
    val s = sketch.eval(input).asInstanceOf[ArrayData]
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
      // the ArrayDot fold of the sketch and this centroid
      var dNull = s == null || cent.isNullAt(1)
      var d = 0.0
      if (!dNull) {
        val c = cent.getArray(1)
        val n = s.numElements()
        if (n != c.numElements()) dNull = true
        var i = 0
        while (!dNull && i < n) {
          if (s.isNullAt(i) || c.isNullAt(i)) dNull = true
          else d += s.getLong(i).toDouble * c.getLong(i).toDouble
          i += 1
        }
      }
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = sketch.genCode(ctx)
    val m = model.genCode(ctx)
    val Seq(best, bestScore, bestScoreNull, bestNc, bestD, bestDNull, j, cent, nc, d, dNull,
      c, n, i, cnNull, cn, scoreNull, score, cmp, win) = Seq("best", "bestScore",
      "bestScoreNull", "bestNc", "bestD", "bestDNull", "j", "cent", "nc", "d", "dNull", "c",
      "n", "i", "cnNull", "cn", "scoreNull", "score", "cmp", "win").map(ctx.freshName)
    val ord = "org.apache.spark.sql.catalyst.util.SQLOrderingUtil"
    val row = classOf[GenericInternalRow].getName
    ev.copy(code = code"""
      |${m.code}
      |${s.code}
      |boolean ${ev.isNull} = true;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${m.isNull} && ${m.value}.numElements() > 0) {
      |  int $best = -1;
      |  double $bestScore = 0.0;
      |  boolean $bestScoreNull = true;
      |  long $bestNc = 0L;
      |  double $bestD = 0.0;
      |  boolean $bestDNull = true;
      |  for (int $j = 0; $j < ${m.value}.numElements(); $j++) {
      |    InternalRow $cent = ${m.value}.getStruct($j, 3);
      |    long $nc = -$cent.getLong(0);
      |    boolean $dNull = ${s.isNull} || $cent.isNullAt(1);
      |    double $d = 0.0;
      |    if (!$dNull) {
      |      ArrayData $c = $cent.getArray(1);
      |      int $n = ${s.value}.numElements();
      |      if ($n != $c.numElements()) $dNull = true;
      |      for (int $i = 0; !$dNull && $i < $n; $i++) {
      |        if (${s.value}.isNullAt($i) || $c.isNullAt($i)) $dNull = true;
      |        else $d += (double) ${s.value}.getLong($i) * (double) $c.getLong($i);
      |      }
      |    }
      |    boolean $cnNull = $cent.isNullAt(2);
      |    double $cn = $cnNull ? 0.0 : $cent.getDouble(2);
      |    boolean $scoreNull = $dNull || $cnNull || $cn == 0.0;
      |    double $score = $scoreNull ? 0.0 : $d / $cn;
      |    int $cmp = $scoreNull ? ($bestScoreNull ? 0 : -1)
      |      : $bestScoreNull ? 1 : $ord.compareDoubles($score, $bestScore);
      |    if ($best < 0 || $cmp > 0 || ($cmp == 0 && $nc > $bestNc)) {
      |      $best = $j; $bestScore = $score; $bestScoreNull = $scoreNull; $bestNc = $nc;
      |      $bestD = $d; $bestDNull = $dNull;
      |    }
      |  }
      |  InternalRow $win = ${m.value}.getStruct($best, 3);
      |  ${ev.isNull} = false;
      |  ${ev.value} = new $row(new Object[] {-$bestNc, $bestDNull ? null : (Object) $bestD,
      |    $win.isNullAt(2) ? null : (Object) $win.getDouble(2)});
      |}
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
