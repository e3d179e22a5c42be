package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorKernels
import graft.ops.Ann

/** Each vector kernel equals, bit for bit, the Catalyst form it replaced:
  * the `posexplode` + `sum` sketch, the `aggregate(zip_with)` dot fold and
  * the k-means cross join + `max(struct)` argmax.
  * Over int64 sketches the fold is the 0.0-seeded left-to-right chain, and
  * the sketch scores built on it equal those of the `reduce(_ + _)` chain
  * it replaced. Doubles compare by their bits, so a flipped zero sign or a
  * reassociated sum shows.
  *
  * Inputs come from an RDD: over a local `Seq`, `ConvertToLocalRelation`
  * would evaluate the projection through `eval` and the generated code
  * would never run. The codegen leg forbids the interpreted fallback, the
  * interpreted leg forbids code generation, so each leg tests one path.
  */
class VectorKernelsSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20261017L)

  /** A vector element: ordinary values, ±0.0, NaN, ±∞, magnitudes near 1e8
    * microunits, exact half-microunit ties and nulls.
    */
  private def elem(): java.lang.Double = rnd.nextInt(20) match {
    case 0 => null
    case 1 => -0.0
    case 2 => 0.0
    case 3 => Double.NaN
    case 4 => if (rnd.nextBoolean()) Double.PositiveInfinity else Double.NegativeInfinity
    case 5 | 6 => (rnd.nextDouble() * 2 - 1) * 100.0 // |x·1e6| up to 1e8
    case 7 => (rnd.nextInt(2000001) - 1000000) / 1e6 + 0.5e-6 // a rounding tie
    case _ => rnd.nextGaussian() * 0.125
  }

  private def vec(n: Int, f: () => java.lang.Double = () => elem()): Seq[java.lang.Double] =
    Seq.fill(n)(f())

  /** A clean vector: no special values, the common case. */
  private def plain(n: Int): Seq[java.lang.Double] =
    vec(n, () => java.lang.Double.valueOf(rnd.nextGaussian() * 0.125))

  /** (id, a, b) pairs over the edge cases: null and empty arrays, unequal
    * lengths, all-null elements, a single −0.0 product, and random vectors.
    */
  private lazy val doubleRows: Seq[Row] = {
    val fixed: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (null, plain(4)), (plain(4), null), (null, null),
      (Seq(), Seq()), (Seq(), plain(1)), (plain(3), plain(5)),
      (Seq(null, null), Seq(1.0, 2.0)),
      (Seq(-0.0), Seq(1.0)), (Seq(-1.0, 0.0), Seq(0.0, 3.0)))
    val random = Seq.fill(300) {
      val n = rnd.nextInt(12)
      rnd.nextInt(6) match {
        case 0 => (vec(n), vec(n + 1 + rnd.nextInt(3)))
        case 1 | 2 => (plain(n), plain(n))
        case _ => (vec(n), vec(n))
      }
    }
    (fixed ++ random).zipWithIndex.map { case ((a, b), i) => Row(i.toLong, a, b) }
  }

  private def frame(rows: Seq[Row], elem: DataType): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("a", ArrayType(elem, containsNull = true)),
      StructField("b", ArrayType(elem, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** The bits of a double with every NaN collapsed to one: ±0.0 and all
    * finite values compare exactly, but which NaN an `inf − inf` or a
    * NaN-plus-NaN yields is not fixed by the JVM — the JIT may commute a
    * floating add, and x86 then propagates the other operand's NaN sign —
    * so raw NaN bits differ between runs of the same expression.
    */
  private def bits(v: Any): Option[Long] = Option(v).map(d =>
    java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))

  /** id → the bits of a double column, every NaN collapsed ([[bits]]). */
  private def doubles(df: DataFrame, c: Column): Map[Long, Option[Long]] =
    df.select(col("id"), c).collect().map(r => r.getLong(0) -> bits(r.get(1))).toMap

  /** Both legs of `run` against the reference values, per id; a failure
    * names every leg that diverged.
    */
  private def bothLegs[B](what: String)(run: => Map[Long, B])(want: Map[Long, B]): Unit = {
    def diverged(got: Map[Long, B], leg: String): Option[String] = {
      val bad = (got.keySet ++ want.keySet).toSeq.sorted.filter(id => got.get(id) != want.get(id))
      Option.when(bad.nonEmpty)(s"the $leg diverged at ${bad.size} ids, first " +
        bad.take(3).map(id => s"$id: got ${got.get(id)}, want ${want.get(id)}").mkString("; "))
    }
    val failures = Seq(diverged(compiled(run), "generated code"),
      diverged(interpreted(run), "interpreted path")).flatten
    if (failures.nonEmpty) fail(s"$what: ${failures.mkString(" | ")}")
  }

  test("dot fold == aggregate(zip_with) bit for bit, codegen AND interpreted") {
    val df = frame(doubleRows, DoubleType)
    val want = doubles(df,
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x))
    // the edge semantics the fold must keep
    assert(want(0L).isEmpty && want(2L).isEmpty, "a null array gives null")
    assert(want(3L) == bits(0.0), "an empty pair folds to 0.0")
    assert(want(5L).isEmpty, "unequal lengths give null")
    assert(want(6L).isEmpty, "a null element gives null")
    assert(want(7L) == bits(0.0), "the 0.0 seed turns a lone −0.0 product into +0.0")
    bothLegs("dot")(doubles(df, VectorKernels.dot(col("a"), col("b"))))(want)
    bothLegs("Ann.dot")(doubles(df, Ann.dot(col("a"), col("b"))))(want)
  }

  test("sketch dot == the 0.0-seeded chain, and its scores equal the reduce(_ + _) chain's, " +
    "codegen AND interpreted") {
    val l = 8
    def long(): java.lang.Long = rnd.nextInt(30) match {
      case 0 => null
      case 1 | 2 => 0L
      case 3 | 4 => -(rnd.nextInt(5).toLong + 1) // with a 0 on the other side: −0.0
      case 5 | 6 => (rnd.nextLong() >> 24) // ~2^39: products far past 2^53
      case _ => (rnd.nextGaussian() * 2e8).toLong // sketch-slot magnitudes
    }
    def lv(n: Int): Seq[java.lang.Long] = Seq.fill(n)(long())
    def fixed(xs: Long*): Seq[java.lang.Long] = xs.map(java.lang.Long.valueOf)
    val zeros = fixed(Seq.fill(l)(0L): _*)
    val negs = fixed(Seq.fill(l)(-3L): _*)
    // every product −0.0, both norms nonzero
    val (negZero, zeroNeg) = (fixed(-3, 0, -3, 0, -3, 0, -3, 0), fixed(0, -5, 0, -5, 0, -5, 0, -5))
    val rows = (Seq[(Seq[java.lang.Long], Seq[java.lang.Long])](
      (null, lv(l)), (lv(l), null), (lv(l), lv(l - 2)), (negs, zeros), (negZero, zeroNeg)) ++
      Seq.fill(300)(if (rnd.nextInt(8) == 0) (lv(l), lv(rnd.nextInt(l))) else (lv(l), lv(l))))
      .zipWithIndex.map { case ((a, b), i) => Row(i.toLong, a, b) }
    val df = frame(rows, LongType)
    def products(a: Column, b: Column): Seq[Column] =
      (0 until l).map(t => a.getItem(t).cast("double") * b.getItem(t))
    val (a, b) = (col("a"), col("b"))

    // the kernel is the left-to-right fold from 0.0, bit for bit
    val want = doubles(df, (lit(0.0) +: products(a, b)).reduce(_ + _))
    assert(want(0L).isEmpty && want(1L).isEmpty && want(2L).isEmpty)
    assert(want.values.count(_.nonEmpty) > 50)
    bothLegs("sketchDot")(doubles(df, VectorKernels.sketchDot(a, b)))(want)
    // no product at all: the empty pair is 0.0
    val empty = frame(Seq(Row(0L, Seq(), Seq())), LongType)
    bothLegs("empty sketchDot")(doubles(empty, VectorKernels.sketchDot(a, b)))(
      Map(0L -> bits(0.0)))

    // the replaced chain starts at the first product, so an all −0.0 chain
    // keeps its sign; the seeded fold does not
    val chain = doubles(df, products(a, b).reduce(_ + _))
    assert(chain(3L) == bits(-0.0) && chain(4L) == bits(-0.0))
    assert(want(3L) == bits(0.0) && want(4L) == bits(0.0))
    // ... and no sketch output can see that sign: the norms never are −0.0,
    // and the score (the k-means ce6 is the same tree) floors to a long
    def chainNorm(x: Column): Column = sqrt(products(x, x).reduce(_ + _))
    val oldScore = floor(products(a, b).reduce(_ + _) / (chainNorm(a) * chainNorm(b)) *
      lit(1e6)).cast("long")
    def scores(df: DataFrame, score: Column): Map[Long, Option[Long]] =
      df.select(col("id"), score).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val wantScores = scores(df, oldScore)
    assert(wantScores(4L).contains(0L))
    bothLegs("sketch score")(scores(df,
      Ann.sketchScore(a, Ann.sketchNorm(a), b, Ann.sketchNorm(b))))(wantScores)
    bothLegs("sketch norm")(doubles(df, Ann.sketchNorm(a)))(doubles(df, chainNorm(a)))
  }

  test("projection sketch == posexplode + per-slot sum, codegen AND interpreted") {
    val kProj = 32
    val allNull: Seq[java.lang.Double] = Seq(null, null, null)
    val rows = doubleRows :+ Row(doubleRows.size.toLong, allNull, null)
    val df = frame(rows, DoubleType)
    val px = df.select(col("id"), posexplode(col("a")).as(Seq("p", "x")))
      .select(col("id"), (col("p") + 1).cast("long").as("i0"),
        floor(col("x") * 1e6 + lit(0.5)).cast("long").as("xi"))
    val aggs = (0 until kProj).map(t => sum(col("xi") * Ann.projWeight(t, col("i0"))))
    val want: Map[Long, Seq[Option[Long]]] = px.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to kProj).map(i => Option(r.get(i)).map(_.asInstanceOf[Long]))).toMap
    // a null or empty vector has no posexplode row, hence no sketch; an
    // all-null vector has a row of null slots
    assert(!want.contains(0L) && !want.contains(3L))
    assert(want(rows.size - 1L) == Seq.fill(kProj)(None))
    def sketches: Map[Long, Seq[Option[Long]]] =
      df.select(col("id"), VectorKernels.sketch(col("a"), kProj)).collect()
        .filterNot(_.isNullAt(1))
        .map(r => r.getLong(0) -> r.getSeq[Any](1).map(v => Option(v).map(_.asInstanceOf[Long])))
        .toMap
    bothLegs("sketch")(sketches)(want)
  }
  test("nearest centroid == cross join + max(struct(d / cn, -cid)), codegen AND interpreted") {
    val l = 8
    def lv(n: Int, f: () => java.lang.Long): Seq[java.lang.Long] = Seq.fill(n)(f())
    def small(): java.lang.Long =
      if (rnd.nextInt(25) == 0) null else java.lang.Long.valueOf(rnd.nextInt(7) - 3L)
    def big(): java.lang.Long =
      if (rnd.nextInt(25) == 0) null else java.lang.Long.valueOf((rnd.nextGaussian() * 2e8).toLong)
    def fixed(xs: Long*): Seq[java.lang.Long] = xs.map(java.lang.Long.valueOf)
    val unit = fixed(1, 0, 0, 0, 0, 0, 0, 0)
    // sketches: null, all-null, short, zero, and random slots with nulls
    val sketches: Seq[Seq[java.lang.Long]] = Seq(null, Seq.fill(l)(null), lv(l - 2, small),
      fixed(Seq.fill(l)(0L): _*), unit, fixed(1, 1, 0, 0, 0, 0, 0, 0)) ++
      Seq.fill(300)(rnd.nextInt(3) match {
        case 0 => lv(l, big)
        case 1 => lv(if (rnd.nextInt(10) == 0) l + 1 else l, small)
        case _ => lv(l, () => java.lang.Long.valueOf(rnd.nextInt(3) - 1L))
      })
    val df = frame(sketches.zipWithIndex.map { case (a, i) => Row(i.toLong, a, null) }, LongType)

    def norm(c: Seq[java.lang.Long]): java.lang.Double =
      if (c.exists(_ == null)) null
      else math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
    def model(cs: (Long, Seq[java.lang.Long])*): Seq[Row] =
      cs.map { case (cid, c) => Row(cid, c, norm(c)) }
    val models: Seq[(String, Seq[Row])] = Seq(
      "trained-like" -> model((1 to 6).map(cid => cid.toLong -> lv(l, big)): _*),
      // equal scores: cid 9 and cid 4 are the same centroid, unit axes tie
      // on diagonal sketches; a zero centroid (cn 0.0, null score), a
      // null-slot centroid (null d and cn) and a short one (null d)
      "ties" -> model(9L -> fixed(2, 1, 0, 0, 0, 0, 0, 0), 4L -> fixed(2, 1, 0, 0, 0, 0, 0, 0),
        7L -> unit, 3L -> fixed(0, 1, 0, 0, 0, 0, 0, 0),
        1L -> fixed(Seq.fill(l)(0L): _*), 2L -> (null +: unit.tail),
        8L -> unit.take(l - 1), 6L -> fixed(-1, -1, 0, 0, 0, 0, 0, 0)),
      // norms the kernel must take as given: a negative one turns a zero
      // product into a −0.0 score, which must tie with +0.0 (cid 3 wins on
      // the zero sketch, where Double.compare would pick cid 5); a null or
      // ±0.0 norm gives a null score
      "given norms" -> Seq(Row(3L, unit, -2.0), Row(5L, unit, 2.0), Row(2L, unit, -0.0),
        Row(1L, unit, null), Row(6L, unit, 0.0)),
      // a NaN score ranks above every other
      "NaN norm" -> Seq(Row(8L, unit, Double.NaN), Row(1L, unit, 1.0)),
      "one centroid" -> model(11L -> lv(l, small)),
      "empty" -> Seq())

    for ((name, m) <- models) {
      val cents = spark.createDataFrame(java.util.Arrays.asList(m: _*), VectorKernels.CentroidModel)
      val want = df.crossJoin(cents)
        .select(col("id"), col("cid"), col("cn"), VectorKernels.sketchDot(col("a"), col("c")).as("d"))
        .groupBy("id").agg(max(struct((col("d") / col("cn")).as("score"), (-col("cid")).as("nc"),
          col("d"), col("cn"))).as("m"))
        .select(col("id"), (-col("m.nc")).as("cid"), col("m.d"), col("m.cn"))
      def winners(w: DataFrame): Map[Long, (Long, Option[Long], Option[Long])] =
        w.collect().map(r => r.getLong(0) -> ((r.getLong(1), bits(r.get(2)), bits(r.get(3))))).toMap
      val ref = winners(want)
      if (name == "empty") assert(ref.isEmpty)
      else assert(ref.size == sketches.size, s"$name: the reference lost a sketch")
      if (name == "ties") {
        assert(ref(4L)._1 == 7L && ref(5L)._1 == 4L, "equal scores go to the smallest cid")
        assert(ref(0L)._1 == 1L && ref(1L)._1 == 1L, "all null scores go to the smallest cid")
        assert(ref.values.exists(_._1 == 4L) && !ref.values.exists(_._1 == 9L))
      }
      if (name == "given norms") assert(ref(3L)._1 == 3L, "a −0.0 score ties with +0.0")
      if (name == "NaN norm") assert(ref(4L)._1 == 8L, "a NaN score wins")
      bothLegs(s"nearest centroid, $name model")(winners(df.select(col("id"),
        VectorKernels.nearestCentroid(col("a"), m).as("w"))
        .where(col("w").isNotNull).select(col("id"), col("w.cid"), col("w.d"), col("w.cn"))))(ref)
    }
  }
}
