package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.Base64

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Positional

/** Elasticsearch fetch — the live source behind the reference's sysmon dump
  * (`fetch_elastic_search`, /root/reference/src/parser/sysmon_csv.rs:77-305).
  * Per (index, event_code) it POSTs the reference's exact `_search` body and
  * pages by `search_after` on the `@timestamp` sort value: continue while a
  * page comes back FULL (data.len == size), carry the last hit's `sort[0]`
  * forward, stop on a short or empty page (fetch_data_from_es,
  * sysmon_csv.rs:168-205). Auth is the reference's Basic header
  * (build_elastic_client, sysmon_csv.rs:207-226).
  *
  * [[fetchAll]] is the reference's single-process shape for bounded dumps:
  * the page loop within one (index, event_code) is inherently sequential
  * (each request's search_after comes from the previous response), and
  * each pair pages independently from cursor 0.
  *
  * Divergence from the reference's pager, which loses hits a correct
  * pager keeps: a short
  * non-empty page `break`s there BEFORE `all_results.push(result)`, so each
  * index's trailing `total % size` hits never reach its dump; and its
  * `last_ts` lives outside `for index in config.indices`, so index B starts
  * from index A's final cursor and skips every B hit at or before it. Here
  * the short page is kept and the cursor restarts per index.
  *
  * Message → columns: sysmon's "Key: value" message lines are extracted in
  * one scan per row by [[graft.functions.KvLinesStruct]], and
  * [[rawColumns]] projects them into the column order of the RE-INGEST
  * layouts ([[Positional.sysmonCsv]]), so [[typed]] reuses the
  * oracle-verified decode unchanged. [[msgValue]] is the declarative
  * reference form of that extraction (the twin of `split_message_part`'s
  * split-on-first-colon-and-trim, sysmon_csv.rs:357, with last-occurrence
  * wins like the reference's match-arm assignment); ElasticSpec holds the
  * two forms equal.
  *
  * Documented reference bug (not reproduced): its ES dump structs write
  * `parent_process_id` BEFORE `parent_process_guid`
  * (sysmon_csv/process_create.rs:207-208) while its own CSV reader expects
  * guid at column 20 and id at 21 (process_create.rs:121-135) — an ES-dumped
  * process_create file re-ingests with the two swapped. This connector emits
  * the READER's order, i.e. the dump that round-trips.
  */
object Elastic {

  /** The reference's ES settings: endpoint, Basic `user:password`, the
    * indices and event codes to dump, the `@timestamp` range and the page
    * size.
    */
  final case class EsConfig(url: String, auth: String,
                            indices: Seq[String], eventCodes: Seq[String],
                            startTime: String, endTime: String, size: Int)

  /** One ES hit, reduced to what the dump consumes: the sort timestamp, the
    * two `_source.agent` fields, and the sysmon message text.
    */
  final case class EsHit(index: String, event_code: String, sort_ts: Long,
                         agent_name: String, agent_id: String, message: String)

  /** The reference's exact query body (build_query, sysmon_csv.rs:228-246):
    * bool musts on event.code / event.module=sysmon / @timestamp range,
    * size, ascending @timestamp sort, search_after [last].
    */
  def queryJson(eventCode: String, cfg: EsConfig, lastTs: Long): String = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    val must = root.putObject("query").putObject("bool").putArray("must")
    must.addObject().putObject("term").put("event.code", eventCode)
    must.addObject().putObject("term").put("event.module", "sysmon")
    val range = must.addObject().putObject("range").putObject("@timestamp")
    range.put("gt", cfg.startTime)
    range.put("lt", cfg.endTime)
    root.put("size", cfg.size)
    root.putArray("sort").addObject().put("@timestamp", "asc")
    root.putArray("search_after").add(lastTs)
    m.writeValueAsString(root)
  }

  private def basicAuth(auth: String): String =
    "Basic " + Base64.getEncoder.encodeToString(auth.getBytes(StandardCharsets.UTF_8))

  /** One shared client: each HttpClient instance owns a selector thread +
    * connection pool, so per-call construction would leak threads/sockets
    * across the (index × code) page walks.
    */
  private lazy val httpClient: HttpClient = HttpClient.newHttpClient()

  /** One (index, event_code) page walk from cursor 0: every hit, the
    * short last page included. Safety divergences from the reference, both
    * fail-safe not fail-spin: a missing/empty `hits.hits` ends the loop
    * (the reference would re-send the same query forever), and a FULL page
    * whose last hit lacks a forward-moving numeric `sort[0]` raises instead
    * of re-sending the same cursor forever.
    */
  private def pageWalk(cfg: EsConfig, index: String, eventCode: String): Seq[EsHit] = {
    require(cfg.size > 0, s"page size must be positive, got ${cfg.size}")
    val mapper = new ObjectMapper()
    val out = Seq.newBuilder[EsHit]
    var lastTs = 0L
    var done = false
    while (!done) {
      val req = HttpRequest.newBuilder(URI.create(s"${cfg.url}/$index/_search"))
        .header("Authorization", basicAuth(cfg.auth))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(queryJson(eventCode, cfg, lastTs)))
        .build()
      val body = httpClient.send(req, HttpResponse.BodyHandlers.ofString()).body()
      val hits = mapper.readTree(body).path("hits").path("hits")
      val n = if (hits.isArray) hits.size() else 0
      val full = n == cfg.size
      var k = 0
      while (k < n) {
        val h = hits.get(k)
        val src = h.path("_source")
        out += EsHit(index, eventCode, h.path("sort").path(0).asLong(),
          src.path("agent").path("name").asText(""),
          src.path("agent").path("id").asText(""),
          src.path("message").asText(""))
        k += 1
      }
      if (full) {
        val next = hits.get(n - 1).path("sort").path(0).asLong()
        if (next <= lastTs)
          throw new IllegalStateException(
            s"search_after cursor did not advance ($lastTs -> $next) on a full page: " +
              s"$index/$eventCode — aborting instead of re-sending the same query forever")
        lastTs = next
      } else done = true // short or empty page: the index is drained
    }
    out.result()
  }

  /** Driver-side eager dump over every (event_code, index) pair, each paged
    * from cursor 0 — the reference's single-process shape.
    */
  def fetchAll(cfg: EsConfig): Seq[EsHit] =
    for (code <- cfg.eventCodes; index <- cfg.indices; hit <- pageWalk(cfg, index, code))
      yield hit

  /** event code → (re-ingest layout name, the dump's constant event_action)
    * — the 14-arm match of fetch_elastic_search (sysmon_csv.rs:96-160) with
    * each struct's event_action literal.
    */
  val eventTypes: Map[Int, (String, String)] = Map(
    1 -> ("w_process_create", "Process Create"),
    2 -> ("w_file_create_time", "File creation time changed"),
    3 -> ("w_network_connect", "Network connection detected"),
    5 -> ("w_process_terminate", "Process terminated"),
    7 -> ("w_image_load", "Image loaded"),
    11 -> ("w_file_create", "File created"),
    13 -> ("w_registry_value_set", "Registry value set"),
    14 -> ("w_registry_key_rename", "Registry key rename"),
    15 -> ("w_file_create_stream_hash", "File stream created"),
    17 -> ("w_pipe_event", "Pipe Created"),
    22 -> ("w_dns_query", "Dns query"),
    23 -> ("w_file_delete", "File Delete archived,"),
    25 -> ("w_process_tamper", "Process Tampering,"),
    26 -> ("w_file_delete_detected", "File Delete logged,"))

  /** Layout field name → sysmon message key (the `match key` arms of the 14
    * EventToCsv impls). Snake→Camel covers all but the renamed fields.
    */
  def messageKey(field: String): String = field match {
    case "user_s" => "User"            // `user` is reserved in the layouts
    case "tamper_type" => "Type"       // process_tamper.rs key
    case "ts_ns" => "UtcTime"
    case other => other.split("_").map(w => w.head.toUpper + w.tail).mkString
  }

  /** Rust `str::trim` twin: strips ALL leading/trailing whitespace —
    * Spark's `trim` strips only U+0020, which would leave the `\r` of a
    * CRLF-terminated sysmon message on every value (and sysmon payloads
    * from Windows agents are CRLF in the wild). `\s` covers the ASCII
    * whitespace those messages contain.
    */
  private def wtrim(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** The value of `key` in a "Key: value" multi-line message —
    * split_message_part's semantics (split on the FIRST colon, trim both
    * sides, lines without a colon skipped, sysmon_csv.rs:357-360) with the
    * reference's LAST-occurrence-wins assignment (its match arms overwrite
    * per line). Deliberately not a map: building a map per row
    * (`str_to_map`) throws DUPLICATED_MAP_KEY under Spark's default dedup
    * policy, so one hostile message (a CommandLine containing
    * "\nUser: x") would kill the whole job. HOFs are fine here: a sysmon
    * message is a bounded ~25-line block.
    */
  def msgValue(message: Column, key: String): Column = {
    val lines = split(message, "\n")
    val matching = filter(lines, l =>
      instr(l, ":") > 0 && wtrim(substring_index(l, ":", 1)) === lit(key))
    val last = element_at(matching, -1)
    wtrim(last.substr(instr(last, ":") + lit(1), length(last)))
  }

  private def protoOf(code: Int) = {
    val name = eventTypes(code)._1
    Positional.sysmonCsv.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no layout $name"))
  }

  /** Hits → staged-CSV cells c0..cN in the RE-INGEST layout's column order:
    * agent fields from `_source.agent`, the constant event_action, then the
    * message keys — extracted in ONE scan per row by the codegen
    * [[graft.functions.KvLinesStruct]] (the HOF form in [[msgValue]] would
    * re-split the message once per field after project collapse; an
    * ElasticSpec law holds the two forms equal). Tab-joined, a row is one
    * line of the reference's event{code}_log.csv dump.
    */
  def rawColumns(hits: DataFrame, code: Int): DataFrame = {
    val (_, action) = eventTypes(code)
    val proto = protoOf(code)
    val msgKeys = proto.fields.collect {
      case f if f.name != "agent_name" && f.name != "agent_id" && f.name != "skip2" =>
        messageKey(f.name)
    }
    // a named intermediate column: multi-referenced and non-cheap, so
    // CollapseProject keeps it materialized — one scan per row
    val withKv = hits.withColumn("_kv",
      graft.functions.KvLinesStruct.of(col("message"), msgKeys))
    val cells = proto.fields.zipWithIndex.map { case (f, i) =>
      val c = f.name match {
        case "agent_name" => col("agent_name")
        case "agent_id" => col("agent_id")
        case "skip2" => lit(action)
        // a missing message key is an EMPTY cell in the reference's dump
        // (serde serializes None as ""), not a NULL
        case other => coalesce(col("_kv").getField(messageKey(other)), lit(""))
      }
      c.as(s"c$i")
    }
    withKv.select(cells: _*)
  }

  /** Hits → the typed frame, through the oracle-verified layout decode. */
  def typed(hits: DataFrame, code: Int): DataFrame =
    rawColumns(hits, code)
      .select(Positional.fromColumns(protoOf(code), i => s"c$i").as("o"))
}
