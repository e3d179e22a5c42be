package graft

import org.apache.spark.sql.functions._

import graft.operators.BinaryDecode

/** Reference-compat v9 framing (`v9FlowsetWalkCompat`):
  * each test pins one emulated quirk of the reference binary's parser
  * against hand-derived expectations from packet.rs:305-400 and
  * netflow.rs:84-140. Where the packet is single-flowset and well-formed
  * the compat walk must equal the RFC walk exactly — the migrant walk
  * changes nothing on the overwhelming wire reality.
  */
class V9CompatSpec extends SparkSpec {
  import spark.implicits._

  private val hdr = "0009" + "0001" + "00000000" + "655fa1c0" + "00000001" + "0000002a"

  private def walk(pkts: Seq[String], compat: Boolean) = {
    val df = pkts.zipWithIndex.map { case (h, i) => (s"d$i", h) }
      .toDF("doc_id", "h")
      .select(col("doc_id"), unhex(col("h")).as("packet"))
    if (compat) BinaryDecode.v9FlowsetWalkCompat(df) else BinaryDecode.v9FlowsetWalk(df)
  }

  private def canon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("compat ≡ RFC walk on single-flowset well-formed packets") {
    val pkts = Seq(
      // trailing single-entry template (fsLen 16, entry cnt=2 fills it)
      hdr + "0000" + "0010" + "0101" + "0002" + "0008" + "0004" + "0007" + "0002",
      // data flowset exactly filling the buffer
      hdr + "0101" + "0010" + "0a010203" + "1f90" + "0a010204" + "1f91",
      // options template: 1 scope + 1 option pair, no padding
      hdr + "0001" + "0012" + "0103" + "0004" + "0004" +
        "0001" + "0002" + "0001" + "0004")
    assert(canon(walk(pkts, compat = true)) === canon(walk(pkts, compat = false)))
  }

  test("quirk: a trailing template flowset registers only its FIRST entry") {
    // fsLen 20 = two cnt=1 entries; after entry 1 the buffer holds 12 bytes
    // and the whole-buffer guard 12+4 < 20 stops the loop (packet.rs:336-340)
    val pkt = hdr + "0000" + "0014" +
      "0258" + "0001" + "0008" + "0004" + // entry 1: tid 600, IPv4SrcAddr/4B
      "0259" + "0001" + "0007" + "0002"   // entry 2: tid 601 — lost in compat
    val compat = walk(Seq(pkt), compat = true).collect()
    assert(compat.length === 1 && compat.head.getAs[Int]("template_id") === 600)
    assert(walk(Seq(pkt), compat = false).count() === 2L) // RFC keeps both
  }

  test("quirk: a non-trailing template flowset over-reads the next flowset as a garbage entry") {
    // template flowset (fsLen 12, one entry) followed by a data flowset
    // whose 8 bytes still satisfy the whole-buffer guard: the compat loop
    // mis-frames (dataFsId, dataFsLen) as (template_id, field_count) and
    // the payload bytes as (type, length) pairs, stopping PARTIAL at the
    // exact buffer end (read_type_value_pairs breaks on remained()=None,
    // packet.rs:323-326) — so a garbage template registers under the DATA
    // flowset's id
    val pkt = hdr + "0000" + "000c" + "01f4" + "0001" + "0008" + "0004" +
      "0102" + "0008" + "0a0b" + "0c0d" // data fs id 258, len 8, 4B payload
    val compat = walk(Seq(pkt), compat = true)
      .select("template_id", "is_template", "field_types", "widths")
      .collect().sortBy(_.getInt(0))
    assert(compat.length === 2)
    assert(compat(0).getInt(0) === 258 && compat(0).getBoolean(1)) // garbage tpl
    // one whole payload pair read, then remained()=None stops it partial
    assert(compat(0).getSeq[Int](2) === Seq(0x0a0b))
    assert(compat(0).getSeq[Int](3) === Seq(0x0c0d * 2))
    assert(compat(1).getInt(0) === 500)
    // RFC: one real template + the data flowset framed as data
    val rfc = walk(Seq(pkt), compat = false).collect()
    assert(rfc.count(_.getAs[Boolean]("is_template")) === 1)
    assert(rfc.count(!_.getAs[Boolean]("is_template")) === 1)
  }

  test("quirk: an EOF mid-entry drops EVERY entry of the packet (all-or-nothing)") {
    // same shape but two extra trailing bytes after the data flowset: the
    // garbage entry's SECOND pair read runs off the buffer mid-pair → Err →
    // the whole call's entries are lost (packet.rs:341-343 ? propagation)
    val pkt = hdr + "0000" + "000c" + "01f4" + "0001" + "0008" + "0004" +
      "0102" + "0008" + "0a0b" + "0c0d" + "00ee"
    assert(walk(Seq(pkt), compat = true).count() === 0L)
    // RFC keeps the complete template + the data flowset, then halts on the
    // cut trailing header
    val rfc = walk(Seq(pkt), compat = false).collect()
    assert(rfc.count(_.getAs[Boolean]("is_template")) === 1)
    assert(rfc.count(!_.getAs[Boolean]("is_template")) === 1)
  }

  test("quirk: a field_count=0 entry still reads one bogus (type,length) pair") {
    // read_type_value_pairs has do-while semantics (packet.rs:316-326):
    // len=0 still consumes 4 bytes and registers one pair
    val pkt = hdr + "0000" + "000c" + "02bc" + "0000" + "0008" + "0004"
    val compat = walk(Seq(pkt), compat = true).collect()
    assert(compat.length === 1 && compat.head.getAs[Int]("template_id") === 700)
    assert(compat.head.getAs[Seq[Int]]("field_types") === Seq(8))
    assert(compat.head.getAs[Seq[Int]]("widths") === Seq(8)) // 4 bytes = 8 hex
  }

  test("quirk: options entries read whole pairs past a ragged byte length and consume per-entry padding") {
    // scope length 6 → TWO whole pairs read (8 bytes, not 1.5 pairs);
    // option length 4 → one pair; padding = 24 - (10 + 3*4) = 2 consumed
    val pkt = hdr + "0001" + "0018" + "0384" + "0006" + "0004" +
      "0001" + "0002" + "0002" + "0004" + // scope pairs (2, ceil(6/4))
      "0001" + "0004" +                   // option pair
      "0000"                              // 2 pad bytes
    val compat = walk(Seq(pkt), compat = true).collect()
    assert(compat.length === 1)
    assert(compat.head.getAs[Int]("scope_cnt") === 2)
    assert(compat.head.getAs[Seq[Int]]("field_types") === Seq(1, 2, 1))
  }

  test("quirk: options padding underflow (u16 wrap) drops the call's entries") {
    // fsLen 20 < 10 + field_count*4 + pad → the reference's u16 subtraction
    // wraps (release), consume() runs past the end and the next header read
    // fails → all-or-nothing drop
    val pkt = hdr + "0001" + "0014" + "0385" + "0006" + "0004" +
      "0001" + "0002" + "0002" + "0004" + "0001" + "0004"
    assert(walk(Seq(pkt), compat = true).count() === 0L)
  }

  test("quirk: field_count >= 16384 wraps the u16 byte target — one pair read, loop continues") {
    // packet.rs:343 computes field_count * 4 in u16: 0x4000*4 wraps to 0,
    // so read_type_value_pairs reads exactly ONE pair (its do-while floor)
    // instead of 65536 bytes — the entry registers with a single pair
    val pkt = hdr + "0000" + "000c" + "0320" + "4000" + "0008" + "0004"
    val compat = walk(Seq(pkt), compat = true).collect()
    assert(compat.length === 1 && compat.head.getAs[Int]("template_id") === 800)
    assert(compat.head.getAs[Seq[Int]]("field_types") === Seq(8))
  }

  test("quirk: a header count of 0 makes zero template-parse calls") {
    // netflow.rs:92 `for _i in 0..header.count` — count=0 never invokes the
    // template parser, so a well-formed entry is dropped on the floor
    val hdr0 = "0009" + "0000" + "00000000" + "655fa1c0" + "00000001" + "0000002a"
    val pkt = hdr0 + "0000" + "0010" + "0101" + "0002" + "0008" + "0004" + "0007" + "0002"
    assert(walk(Seq(pkt), compat = true).count() === 0L)
    assert(walk(Seq(pkt), compat = false).count() === 1L)
  }

  test("quirk: only the FIRST flowset of a multi-flowset packet is parsed") {
    // the TemplatesSpec 8-flowset packet: template (fsLen 12) + 7 data
    // flowsets. Compat mis-frames the data flowsets as template entries
    // until the 6-pair stride runs off the buffer → EOF → zero rows; the
    // RFC walk decodes all 8 flowsets
    val tplFs = "0000" + "000c" + "0104" + "0001" + "0007" + "0002"
    val dataFs = (0 until 7).map(j => "0104" + "0006" + f"00${0xa0 + j}%02x").mkString
    val pkt = "0009" + "0007" + "00000000" + "655fa1c0" + "00000005" + "0000002a" +
      tplFs + dataFs
    assert(walk(Seq(pkt), compat = true).count() === 0L)
    assert(walk(Seq(pkt), compat = false).count() === 8L)
  }

  test("quirk: data payload runs to the BUFFER end, not the flowset end") {
    // data flowset claims len 8 (4B payload) but 4 more bytes trail it:
    // the reference's dataset loop reads on remained(), ignoring
    // flowset_length (packet.rs:471-476) — the compat payload carries all
    // 8 post-header bytes; the RFC walk stops at the flowset boundary
    val pkt = hdr + "012c" + "0008" + "0a0b0c0d" + "00ff00ee"
    val compat = walk(Seq(pkt), compat = true).collect()
    assert(compat.length === 1 && compat.head.getAs[String]("payload") === "0a0b0c0d00ff00ee")
    val rfc = walk(Seq(pkt), compat = false)
      .where(!col("is_template")).collect()
    assert(rfc.head.getAs[String]("payload") === "0a0b0c0d")
  }
}
