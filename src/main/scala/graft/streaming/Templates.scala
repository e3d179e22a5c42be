package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Template-driven decode with per-key mutable state — the Spark-native
  * re-expression of the reference's NetFlow v9 TemplatesBox: a cross-packet
  * dictionary keyed by (exporter, template id) that later data records need
  * to decode (/root/reference/src/parser/netflow/templates.rs:81-138; lookup
  * src/parser/netflow.rs:125-137; persisted across runs via
  * NETFLOW_TEMPLATES_PATH — src/collector/netflow.rs:51-57,95-106).
  *
  * This is the one genuinely stateful, order-dependent operator in the
  * reference (SURVEY.md §1.1): [[decodeBatch]] folds each exporter's records
  * in `seq` order, state = the latest field-width template per (exporter,
  * template id), and [[TemplateStore]] carries that state across runs. The
  * reference relies on packet arrival order; an explicit sequence number
  * makes replays deterministic.
  *
  * A data record arriving before any template is emitted as undecodable
  * (fields = empty) rather than dropped — mirroring the reference, which
  * counts and skips datasets with no matching template.
  */
object Templates {

  /** One exporter record: a template definition (widths, in hex chars per
    * field) or a data FLOWSET (payload = hex string holding up to `maxRecs`
    * back-to-back records to slice by the current template — the reference
    * bounds the record loop by the header count, packet.rs:474-476).
    */
  final case class NfRec(exporter: String, templateId: Int, seq: Long,
                         isTemplate: Boolean, widths: Seq[Int], payload: String,
                         maxRecs: Int = Int.MaxValue, types: Seq[Int] = Seq.empty,
                         scopeCnt: Int = 0)

  /** `types` carries the template's wire field-type codes alongside each
    * decoded value — the reference stores (type, length) pairs per template
    * and renders values type-aware (fields.rs get_types). `raws` carries
    * each field's raw hex chars (IPv6/Text/odd-width renders need the bytes,
    * and a 16-byte field doesn't fit the u64 in `fields`); `scopeCnt` is the
    * options-template scope-field count (the first scopeCnt fields render
    * with scope names + Ascii — packet.rs:484-497).
    */
  final case class NfDecoded(exporter: String, templateId: Int, seq: Long,
                             recIdx: Int, decoded: Boolean, fields: Seq[Long],
                             types: Seq[Int] = Seq.empty,
                             raws: Seq[String] = Seq.empty, scopeCnt: Int = 0)

  /** State: latest widths + field types + scope count per template id for
    * this exporter. [[register]] and [[decode]] are the two steps every
    * fold over it takes; the fold decides their order.
    */
  final case class TplState(widths: Map[Int, Seq[Int]],
                            types: Map[Int, Seq[Int]] = Map.empty,
                            scopes: Map[Int, Int] = Map.empty) {

    /** This state with template record `t` in force (a redefinition
      * replaces the previous one).
      */
    def register(t: NfRec): TplState =
      TplState(widths + (t.templateId -> t.widths), types + (t.templateId -> t.types),
        scopes + (t.templateId -> t.scopeCnt))

    /** Decode every record packed in data flowset `rec`'s payload with the
      * template in force: records of Σwidths hex chars, while payload
      * remains and the header count allows — the reference's dataset loop
      * (packet.rs:465-479). No template → one undecoded marker row
      * (counted-and-skipped semantics).
      */
    def decode(rec: NfRec): Seq[NfDecoded] = widths.get(rec.templateId) match {
      case Some(ws) if ws.nonEmpty =>
        val ts = types.getOrElse(rec.templateId, Seq.empty)
        val scopeCnt = scopes.getOrElse(rec.templateId, 0)
        val recLen = ws.sum
        val n = math.min(rec.payload.length / recLen, rec.maxRecs)
        (0 until n).map { r =>
          var off = r * recLen
          // parseUnsignedLong: an 8-byte field (16 hex chars) with the high
          // bit set is legal NetFlow v9 (64-bit counters) — signed parseLong
          // would throw and kill the task instead of decoding. Fields wider
          // than 8 bytes (IPv6 addrs, MACs-with-VLAN, text) don't fit a u64:
          // their value is 0 and consumers render from the raw hex.
          val raws = ws.map { w =>
            val raw = rec.payload.substring(off, off + w)
            off += w
            raw
          }
          val fields = raws.map { raw =>
            if (raw.length <= 16) java.lang.Long.parseUnsignedLong(raw, 16) else 0L
          }
          NfDecoded(rec.exporter, rec.templateId, rec.seq, r, decoded = true,
            fields, ts, raws, scopeCnt)
        }
      case _ =>
        Seq(NfDecoded(rec.exporter, rec.templateId, rec.seq, 0, decoded = false, Seq.empty))
    }
  }

  /** Batch form, memory-bounded via secondary sort: hash-partition by
    * exporter, sort each partition by (exporter, seq, templates-first), then
    * fold the iterator directly — group state is ONE template dictionary at
    * a time, never a materialized group. With few exporters (the common
    * case: one router) the old groupByKey+flatMapGroups form held an
    * exporter's whole flowset history in a single task's memory; this form
    * streams it. At equal seq, templates apply before data (the reference
    * registers a packet's template flowsets before decoding its data
    * flowsets), and the input's order does not matter.
    */
  def decodeBatch(ds: Dataset[NfRec]): Dataset[NfDecoded] = {
    import org.apache.spark.sql.functions.{col, when}
    implicit val encD = Encoders.product[NfDecoded]
    ds.repartition(col("exporter"))
      .sortWithinPartitions(col("exporter"), col("seq"),
        when(col("isTemplate"), 0).otherwise(1))
      .mapPartitions { it =>
        var cur: String = null
        var st = TplState(Map.empty)
        it.flatMap { r =>
          if (r.exporter != cur) { cur = r.exporter; st = TplState(Map.empty) }
          if (r.isTemplate) { st = st.register(r); Iterator.empty }
          else st.decode(r).iterator
        }
      }
  }
}
