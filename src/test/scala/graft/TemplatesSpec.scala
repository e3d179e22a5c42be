package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.BinaryDecode
import graft.operators.BinaryDecode.V9Rec
import graft.streaming.Templates
import graft.streaming.Templates.NfRec

/** Template-driven stateful decode (NetFlow v9 TemplatesBox analog):
  * a secondary-sort fold per exporter, cross-run state via TemplateStore,
  * order within a group by seq, data-before-template emitted undecoded
  * (the reference counts and skips them — src/parser/netflow.rs:125-137).
  */
class TemplatesSpec extends SparkSpec {
  import spark.implicits._

  private def tpl(exp: String, tid: Int, seq: Long, widths: Seq[Int]) =
    NfRec(exp, tid, seq, isTemplate = true, widths, "")
  private def dat(exp: String, tid: Int, seq: Long, payload: String) =
    NfRec(exp, tid, seq, isTemplate = false, Seq.empty, payload)

  test("batch fold: template in force at each seq decodes; redefinition applies forward") {
    val recs = Seq(
      tpl("e1", 256, 1, Seq(4, 4)),            // u16,u16 as 4 hex chars each
      dat("e1", 256, 2, "00ff0010"),           // → 255, 16
      tpl("e1", 256, 3, Seq(8)),               // redefinition: one u32
      dat("e1", 256, 4, "000000ff"),           // → 255
      dat("e1", 999, 5, "dead"),               // unknown template → undecoded
      dat("e2", 256, 1, "beef")                // other exporter: no template yet
    )
    val out = Templates.decodeBatch(spark.createDataset(recs))
      .collect().map(d => (d.exporter, d.seq) -> (d.decoded, d.fields.toList)).toMap
    assert(out(("e1", 2L)) === (true, List(255L, 16L)))
    assert(out(("e1", 4L)) === (true, List(255L)))
    assert(out(("e1", 5L)) === (false, Nil))
    assert(out(("e2", 1L)) === (false, Nil))
  }

  test("batch fold streams one exporter's many flowsets (secondary sort, no group materialization)") {
    // one exporter, 20k flowsets, template redefinitions every 1000 seqs —
    // the single-router shape that used to hold the whole history in one
    // task's memory under groupByKey+flatMapGroups
    val recs = (0 until 20000).map { i =>
      if (i % 1000 == 0)
        tpl("e1", 500, i.toLong, if ((i / 1000) % 2 == 0) Seq(4) else Seq(2, 2))
      else dat("e1", 500, i.toLong, "0a0b")
    }
    val q = Templates.decodeBatch(spark.createDataset(recs))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Sort") && !plan.contains("MapGroups"),
      s"expected streamed secondary-sort fold, got:\n$plan")
    val out = q.collect()
    assert(out.length === 20000 - 20)
    val bySeq = out.map(d => d.seq -> d.fields.toList).toMap
    assert(bySeq(500L) === List(0x0a0bL))       // 1×4-hex template in force
    assert(bySeq(1500L) === List(0x0aL, 0x0bL)) // redefinition applies forward
  }

  test("decodeBatch is order-insensitive to input permutation (sorts by seq)") {
    val recs = Seq(
      tpl("e1", 7, 1, Seq(2, 2)),
      dat("e1", 7, 2, "0a0b"),
      tpl("e1", 7, 3, Seq(4)),       // redefinition and its data share seq 3:
      dat("e1", 7, 3, "0c0d"),       // the template applies first
      dat("e2", 7, 1, "0e0f"))       // other exporter: no template
    def decoded(in: Seq[NfRec]) = Templates.decodeBatch(spark.createDataset(in)).collect()
      .map(d => (d.exporter, d.seq, d.recIdx, d.decoded, d.fields.toList))
      .sortBy(d => (d._1, d._2, d._3)).toSeq
    val inOrder = decoded(recs)
    assert(decoded(recs.reverse) === inOrder)
    assert(inOrder === Seq(("e1", 2L, 0, true, List(10L, 11L)),
      ("e1", 3L, 0, true, List(0x0c0dL)), ("e2", 1L, 0, false, Nil)))
  }

  // four v9 wire packets, exporter 42:
  // A: template packet (seq 1): template 257 = (IPv4SrcAddr/4, L4SrcPort/2)
  private val pktA = "0009" + "0001" + "00000000" + "655fa1c0" + "00000001" + "0000002a" +
    "0000" + "0010" + "0101" + "0002" + "0008" + "0004" + "0007" + "0002"
  // B: data packet (seq 2, count=2): two 6-byte records for template 257
  private val pktB = "0009" + "0002" + "00000000" + "655fa1c0" + "00000002" + "0000002a" +
    "0101" + "0010" + "0a010203" + "1f90" + "0a010204" + "1f91"
  // C: ONE packet carrying template 258 (one u16 field) AND its data
  // flowset — exercises the dependent-offset flowset walk and the
  // same-seq template-first rule
  private val pktC = "0009" + "0001" + "00000000" + "655fa1c0" + "00000003" + "0000002a" +
    "0000" + "000c" + "0102" + "0001" + "0001" + "0002" +
    "0102" + "0006" + "beef"
  // D: count=1 but payload has 2 records — loop must stop at header bound
  private val pktD = "0009" + "0001" + "00000000" + "655fa1c0" + "00000004" + "0000002a" +
    "0101" + "0010" + "0a010205" + "1f92" + "0a010206" + "1f93"

  /** Hex packets → (doc_id d0, d1, …, packet) → the typed walk's framed rows. */
  private def walk(pkts: Seq[String]): DataFrame =
    BinaryDecode.v9FlowsetWalk(pkts.zipWithIndex.map { case (h, i) => (s"d$i", h) }
      .toDF("doc_id", "h").select(col("doc_id"), unhex(col("h")).as("packet")))

  private def nfRecs(framed: DataFrame) = framed
    .select(col("exporter"), col("template_id").as("templateId"), col("seq"),
      col("is_template").as("isTemplate"), col("widths"), col("payload"),
      col("max_recs").as("maxRecs"), col("field_types").as("types"),
      col("scope_cnt").as("scopeCnt"))
    .as[NfRec]

  test("real v9 wire bytes: framing + stateful decode, multi-flowset packet, count bound") {
    val out = Templates.decodeBatch(nfRecs(walk(Seq(pktA, pktB, pktC, pktD)))).collect()
      .map(d => (d.seq, d.recIdx) -> (d.decoded, d.templateId, d.fields.toList)).toMap
    assert(out((2L, 0)) === (true, 257, List(0x0a010203L, 8080L)))
    assert(out((2L, 1)) === (true, 257, List(0x0a010204L, 8081L)))
    assert(out((3L, 0)) === (true, 258, List(0xbeefL)))      // same-packet tpl+data
    assert(out((4L, 0)) === (true, 257, List(0x0a010205L, 8082L)))
    assert(!out.contains((4L, 1)), "record loop must stop at the header count")
  }

  test("typed walk frames each template entry and data flowset of the wire packets") {
    // rows hand-derived from the four packets' bytes: widths are hex chars
    // (2 × the wire byte length), payloads the data flowset body after its
    // 4-byte header, max_recs the packet header's count
    val framed = walk(Seq(pktA, pktB, pktC, pktD)).as[V9Rec].collect()
      .sortBy(r => (r.doc_id, !r.is_template)).toSeq
    assert(framed === Seq(
      V9Rec("d0", "42", 257, 1L, is_template = true, Seq(8, 7), Seq(8, 4), 0, "", 1),
      V9Rec("d1", "42", 257, 2L, is_template = false, Nil, Nil, 0,
        "0a0102031f900a0102041f91", 2),
      V9Rec("d2", "42", 258, 3L, is_template = true, Seq(1), Seq(4), 0, "", 1),
      V9Rec("d2", "42", 258, 3L, is_template = false, Nil, Nil, 0, "beef", 1),
      V9Rec("d3", "42", 257, 4L, is_template = false, Nil, Nil, 0,
        "0a0102051f920a0102061f93", 1)))
  }

  test("typed walk: an 8-flowset packet (template + 7 data) decodes fully, no truncation") {
    // one packet: header (count=7) + template flowset (260: one u16 field)
    // + 7 single-record data flowsets, all framed by the unbounded walk
    val tplFs = "0000" + "000c" + "0104" + "0001" + "0007" + "0002"
    val dataFs = (0 until 7).map(j => "0104" + "0006" + f"00${0xa0 + j}%02x").mkString
    val pkt = "0009" + "0007" + "00000000" + "655fa1c0" + "00000005" + "0000002a" +
      tplFs + dataFs
    val framed = walk(Seq(pkt))
    assert(framed.where(col("is_template")).count() === 1L)
    val out = Templates.decodeBatch(nfRecs(framed)).collect()
    assert(out.length === 7 && out.forall(_.decoded))
    assert(out.map(_.fields.head).sorted.toSeq === (0 until 7).map(j => 0xa0L + j))
  }

  test("v9 options template (flowset id 1): scope+option pairs define the widths") {
    // options template 259: scope (System/2B) = 1 pair, options (InBytes/4B)
    // = 1 pair → record = 6 bytes; then its data packet
    val pktT = "0009" + "0001" + "00000000" + "655fa1c0" + "00000001" + "0000002b" +
      "0001" + "0012" + "0103" + "0004" + "0004" +
      "0001" + "0002" + "0001" + "0004"
    val pktD = "0009" + "0001" + "00000000" + "655fa1c0" + "00000002" + "0000002b" +
      "0103" + "000a" + "00aa" + "000f4240"
    val out = Templates.decodeBatch(nfRecs(walk(Seq(pktT, pktD)))).collect()
      .map(d => d.seq -> (d.decoded, d.fields.toList)).toMap
    assert(out(2L) === (true, List(0xaaL, 1000000L)))
  }

  test("persisted template state survives batch runs (NETFLOW_TEMPLATES_PATH analog)") {
    import graft.streaming.TemplateStore
    val base = java.nio.file.Files.createTempDirectory("graft-tplstore").toString
    // run 1: template + data — data decodes, state saved
    val run1 = Seq(tpl("e1", 256, 10, Seq(4, 4)), dat("e1", 256, 11, "00ff0010"))
    val out1 = TemplateStore.decodeBatchResumable(spark.createDataset(run1), base)
      .collect().map(d => d.seq -> (d.decoded, d.fields.toList)).toMap
    assert(out1(11L) === (true, List(255L, 16L)))
    // run 2: DATA ONLY — cold decode would fail; the warm state decodes it
    val run2 = Seq(dat("e1", 256, 20, "00aa00bb"), dat("e2", 256, 21, "dead"))
    val out2 = TemplateStore.decodeBatchResumable(spark.createDataset(run2), base)
      .collect().map(d => d.seq -> (d.decoded, d.fields.toList)).toMap
    assert(out2(20L) === (true, List(0xaaL, 0xbbL)),
      "run 2 must decode with run 1's dictionary")
    assert(out2(21L) === (false, Nil), "unknown exporter still cold")
    // run 3: redefinition — supersedes the stored widths, and the state file
    // keeps ONE row per (exporter, template): the latest
    val run3 = Seq(tpl("e1", 256, 30, Seq(8)), dat("e1", 256, 31, "000000ff"))
    val out3 = TemplateStore.decodeBatchResumable(spark.createDataset(run3), base)
      .collect().map(d => d.seq -> (d.decoded, d.fields.toList)).toMap
    assert(out3(31L) === (true, List(255L)))
    val st = TemplateStore.load(spark, base).collect()
    assert(st.length === 1 && st.head.widths === Seq(8),
      s"state must hold the latest definition only, got ${st.toList}")
  }
}
