package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.BinaryDecode

/** Render-class fidelity against the reference's parse_data
  * (/root/reference/src/parser/netflow/packet.rs:568-625 and its tests:
  * tcp_flags "SYN-ACK"/"None", text "abc", odd-width integer "0") plus
  * Rust Ipv6Addr Display semantics (RFC 5952) for the Ipv6 kind, and the
  * compiled IPv6 kernel against the Catalyst form it replaced.
  */
class V9RenderSpec extends SparkSpec {

  private def eval(c: Column): String =
    spark.range(1).select(c.as("r")).collect()(0).getString(0)

  test("TcpFlags: '-'-joined table order, None when empty, PSH-CWR share 0x08") {
    assert(eval(BinaryDecode.v9TcpFlagsString(lit(0x12L))) === "SYN-ACK")
    assert(eval(BinaryDecode.v9TcpFlagsString(lit(0L))) === "None")
    assert(eval(BinaryDecode.v9TcpFlagsString(lit(0x08L))) === "PSH-CWR")
    // 0x80 has no table row — renders None, not a phantom flag
    assert(eval(BinaryDecode.v9TcpFlagsString(lit(0x80L))) === "None")
  }

  test("Text: printable prefix before the first terminator; no terminator → '-'") {
    assert(eval(BinaryDecode.v9TextString(lit("61626300"))) === "abc")
    assert(eval(BinaryDecode.v9TextString(lit("73616d70"))) === "-") // all printable
    assert(eval(BinaryDecode.v9TextString(lit(""))) === "-")
    assert(eval(BinaryDecode.v9TextString(lit("0041"))) === "") // non-printable first
  }

  test("Ipv6: RFC-5952 compression — longest run, leftmost tie, mapped form") {
    def ip6(groups: Seq[Int]): Column =
      lit(groups.map(g => f"$g%04x").mkString)
    assert(eval(BinaryDecode.ipv6String(ip6(
      Seq(0x2001, 0xdb8, 0, 0, 0, 0, 0, 1)))) === "2001:db8::1")
    assert(eval(BinaryDecode.ipv6String(ip6(Seq(0, 0, 0, 0, 0, 0, 0, 0)))) === "::")
    assert(eval(BinaryDecode.ipv6String(ip6(Seq(0, 0, 0, 0, 0, 0, 0, 1)))) === "::1")
    // a SINGLE zero group is not compressed
    assert(eval(BinaryDecode.ipv6String(ip6(
      Seq(0x2001, 0xdb8, 0, 1, 1, 1, 1, 1)))) === "2001:db8:0:1:1:1:1:1")
    // leftmost wins among equal-length runs; a longer run beats an earlier
    // shorter one
    assert(eval(BinaryDecode.ipv6String(ip6(
      Seq(1, 0, 0, 1, 0, 0, 1, 1)))) === "1::1:0:0:1:1")
    assert(eval(BinaryDecode.ipv6String(ip6(
      Seq(1, 0, 0, 1, 0, 0, 0, 1)))) === "1:0:0:1::1")
    // IPv4-mapped special case (Rust Display)
    assert(eval(BinaryDecode.ipv6String(ip6(
      Seq(0, 0, 0, 0, 0, 0xffff, 0xc0a8, 1)))) === "::ffff:192.168.0.1")
  }

  test("Ascii (options scope fields): lowercase unpadded hex for 1/2/4/8-byte widths, else '0'") {
    assert(eval(BinaryDecode.v9AsciiString(lit(0xaaL), lit("00aa"))) === "aa")
    assert(eval(BinaryDecode.v9AsciiString(lit(0L), lit("010203"))) === "0")
  }

  test("Integer render honors wire width: odd widths render '0'") {
    assert(eval(BinaryDecode.v9Render(lit(999), lit(66051L), lit("010203"))) === "0")
    assert(eval(BinaryDecode.v9Render(lit(999), lit(258L), lit("0102"))) === "258")
    // unknown ForwardingStatus → decimal, not a synthetic label
    assert(eval(BinaryDecode.v9Render(lit(89), lit(77L), lit("4d"))) === "77")
  }

  /** The Catalyst form the IPv6 kernel replaced: a `when` over every
    * (start, length) zero run, longest first, then leftmost.
    */
  private def ipv6Catalyst(raw: Column): Column = {
    val hexes = (0 until 8).map(i => lower(substring(raw, 1 + 4 * i, 4)))
    val short = hexes.map(h => regexp_replace(h, "^0{1,3}", ""))
    val zero = hexes.map(_ === "0000")
    def allZero(s: Int, l: Int): Column = (s until s + l).map(zero).reduce(_ && _)
    def joined(hs: Seq[Column]): Seq[Column] = hs.flatMap(h => Seq(h, lit(":"))).dropRight(1)
    def compressed(s: Int, l: Int): Column =
      concat(joined(short.take(s)) ++ Seq(lit("::")) ++ joined(short.drop(s + l)): _*)
    val runs = for (l <- 8 to 2 by -1; s <- 0 to 8 - l) yield (s, l)
    val mapped = allZero(0, 5) && hexes(5) === "ffff"
    val v4 = BinaryDecode.ipv4String(conv(substring(raw, 25, 8), 16, 10).cast("long"))
    runs.foldLeft(when(mapped, concat(lit("::ffff:"), v4))) {
      case (acc, (s, l)) => acc.when(allZero(s, l), compressed(s, l))
    }.otherwise(concat(joined(short): _*))
  }

  test("Ipv6 kernel == the Catalyst when-chain on every input, codegen AND interpreted") {
    val rnd = new scala.util.Random(20261019L)
    def ip6(groups: Seq[Int]): String = groups.map(g => f"$g%04x").mkString
    def group(): Int = rnd.nextInt(6) match {
      case 0 | 1 | 2 => 0
      case 3 => rnd.nextInt(16)
      case 4 => 0xffff
      case _ => rnd.nextInt(0x10000)
    }
    val fixed: Seq[String] = Seq(
      null, "", "0", "0000", "00000000000000000000ffff", "00000000000000000000ffff1",
      ip6(Seq.fill(8)(0)), ip6(Seq(0, 0, 0, 0, 0, 0, 0, 1)), ip6(Seq(1, 0, 0, 0, 0, 0, 0, 0)),
      // IPv4-mapped, with edge addresses and a tail conv reads partially
      ip6(Seq(0, 0, 0, 0, 0, 0xffff, 0xc0a8, 1)), ip6(Seq(0, 0, 0, 0, 0, 0xffff, 0, 0)),
      ip6(Seq(0, 0, 0, 0, 0, 0xffff, 0xffff, 0xffff)), "00000000000000000000FFFFC0A80001",
      "00000000000000000000ffff12zz0001", "00000000000000000000ffff-0000001",
      // a single zero group stays; equal-length runs go to the leftmost
      ip6(Seq(0x2001, 0xdb8, 0, 1, 1, 1, 1, 1)), ip6(Seq(1, 0, 1, 0, 1, 0, 1, 0)),
      ip6(Seq(1, 0, 0, 1, 0, 0, 1, 1)), ip6(Seq(0, 0, 1, 0, 0, 1, 0, 0)),
      ip6(Seq(1, 0, 0, 1, 0, 0, 0, 1)), ip6(Seq(0, 0, 0, 0, 0, 0xfffe, 0, 0)),
      "2001:DB8", "0A0B0C0D0E0F00100011001200130014", "000000000000000000000000000000000")
    val random = Seq.fill(400) {
      val s = ip6(Seq.fill(8)(group()))
      if (rnd.nextBoolean()) s.toUpperCase else s
    }
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("raw", StringType)))
    // from an RDD: over a local Seq the optimizer would fold the projection
    // through `eval` and the generated code would never run
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      (fixed ++ random).zipWithIndex.map { case (r, i) => Row(i.toLong, r) }, 3), schema)
    def rendered(c: Column): Map[Long, String] =
      df.select(col("id"), c).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = rendered(ipv6Catalyst(col("raw")))
    assert(want(0L) === null && want(6L) === "::" && want(9L) === "::ffff:192.168.0.1")
    val compiled = withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(rendered(BinaryDecode.ipv6String(col("raw"))))
    val interpretedRun = interpreted(rendered(BinaryDecode.ipv6String(col("raw"))))
    for ((leg, got) <- Seq("generated code" -> compiled, "interpreted path" -> interpretedRun)) {
      val bad = want.keys.toSeq.sorted.filter(id => got.get(id) != want.get(id))
      assert(bad.isEmpty, s"the $leg diverged at ${bad.size} ids, first " +
        bad.take(3).map(id => s"$id: got ${got.get(id)}, want ${want(id)}").mkString("; "))
    }
  }

  test("p30/p31 render stages compile: no codegen fallback, the default run's rows") {
    for (q <- Seq("p30_netflow_v9_typed", "p31_netflow_v9_options_typed")) {
      val want = SparkEntry.queries(q)(spark, Sf)
      val got = withConfs("spark.sql.codegen.fallback" -> "false")(
        SparkEntry.queries(q)(spark, Sf).collect().toSeq)
      assert(got.nonEmpty, q)
      val gotDf = spark.createDataFrame(java.util.Arrays.asList(got: _*), want.schema)
      assert(gotDf.exceptAll(want).isEmpty && want.exceptAll(gotDf).isEmpty, q)
    }
  }
}
