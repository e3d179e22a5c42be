package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Route

/** Readers + deterministic derivations over the driver-generated testdata.
  *
  * The north-rule input is a table of pre-tokenized sequences
  * `(doc_id string, tokens array<int>, n_tok int, source string)`. We derive
  * it deterministically from `documents.parquet` with expressions that have
  * exact DuckDB equivalents (see [[graft.Oracles]]), so the driver's oracle
  * can re-derive the same table: every function used here (split, ascii,
  * length, lpad, %, floor) is pure integer/string arithmetic with identical
  * semantics in both engines.
  *
  * The synthetic `raw_line` column reconstructs the reference's ingest shape
  * (reproduce tails log files and parses lines —
  * /root/reference/src/collector/zeek.rs:141-161): each row carries one log
  * line in one of four formats keyed by `source`, mirroring the reference's
  * format families (Zeek TSV positional, nginx access-log grok, Fortinet
  * key=value, operation-log level lines — SURVEY.md §2.2).
  */
object Tables {

  /** Pinned testdata schemas (TESTDATA.md contract, printed by
    * `graft.Diag schemas`): an explicit schema skips the per-read parquet
    * schema-inference resolution, which profiled as the single largest
    * analyzer cost across the 212-query bench (ResolveDataSource ≈ 42% of
    * total rule time — a footer read + resolution per `spark.read.parquet`
    * call, paid by every query). Tables outside this map (none today) fall
    * back to inference.
    */
  private[graft] val schemas: Map[String, String] = Map(
    "documents" -> "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT",
    "events" -> ("event_id BIGINT,ts TIMESTAMP_NTZ,user_id BIGINT," +
      "event_type STRING,value DOUBLE,props STRING"),
    "lineitem" -> ("l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT," +
      "l_linenumber INT,l_quantity DOUBLE,l_extendedprice DOUBLE," +
      "l_discount DOUBLE,l_tax DOUBLE,l_returnflag STRING,l_linestatus STRING," +
      "l_shipdate TIMESTAMP_NTZ"),
    "orders" -> ("o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING," +
      "o_totalprice DOUBLE,o_orderdate TIMESTAMP_NTZ,o_orderpriority STRING"),
    "customer" -> ("c_custkey BIGINT,c_name STRING,c_nationkey INT," +
      "c_acctbal DOUBLE,c_mktsegment STRING"),
    "nation" -> "n_nationkey INT,n_name STRING,n_regionkey INT",
    "region" -> "r_regionkey INT,r_name STRING",
    "supplier" -> "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING," +
      "p_size INT,p_retailprice DOUBLE"))

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    schemas.get(name) match {
      case Some(ddl) => spark.read.schema(ddl).parquet(s"$dir/$name.parquet")
      case None => spark.read.parquet(s"$dir/$name.parquet")
    }

  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
  def events(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "events")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")

  // --- portable integer helpers (exact DuckDB twins in Oracles.scala) ---

  /** Truncating integer division for non-negative operands: floor(a/b). */
  def idiv(a: Column, b: Long): Column = floor(a / lit(b)).cast("long")

  /** Lower-case hex of a non-negative integer, left-padded with zeros to
    * `width` digits (the fixture packets' big-endian wire fields).
    */
  def hexN(v: Column, width: Int): Column = lpad(lower(hex(v)), width, "0")

  /** Word → deterministic int32 token id. Pure arithmetic over the first
    * char, last char and length so DuckDB computes the identical id.
    */
  def wordToken(w: Column): Column =
    (((ascii(w) * lit(59) + ascii(w.substr(length(w), lit(1)))) * lit(31) +
      length(w)) % lit(32768)).cast("int")

  /** documents → words array (split on single space, drop empties). */
  def wordsCol(text: Column): Column =
    filter(split(text, " "), w => length(w) > lit(0))

  /** The north-rule tokens table:
    * (doc_id string, tokens array<int>, n_tok int, source string)
    * plus lineage columns (line_no, lang, n_chars) used by the
    * order-dependent dedup operators (SURVEY.md §2.3).
    */
  def tokens(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    val toks = transform(wordsCol(col("text")), wordToken _)
    d.select(
      concat(lit("doc-"), lpad(col("doc_id").cast("string"), 12, "0")).as("doc_id"),
      toks.as("tokens"),
      size(toks).as("n_tok"),
      col("source"),
      col("doc_id").as("line_no"),
      col("lang"),
      col("n_chars")
    )
  }

  // --- synthetic raw log lines (the parse-stage input) ---

  /** source "srcK" → K (int). */
  def sourceNum(source: Column): Column =
    source.substr(lit(4), lit(8)).cast("int")

  /** Format family for a source: 0=oplog 1=nginx 2=fgt 3=zeek. */
  def kindNum(source: Column): Column = sourceNum(source) % lit(4)

  /** Format family names, in [[kindNum]] order. */
  val KindNames: Seq[String] = Seq("oplog", "nginx", "fgt", "zeek")

  def kindName(source: Column): Column =
    element_at(array(KindNames.map(lit): _*), kindNum(source) + lit(1))

  /** Every sink the pipeline routes to: one per format family, plus
    * quarantine for lines that fail to parse. A SinkTable commit records one
    * report partial per sink in this list, and fails on a row routed elsewhere.
    */
  val SinkNames: Seq[String] = KindNames :+ Route.Quarantine

  /** One deterministic log line per document, format keyed by source.
    * Input columns required: doc_id (long), source, n_chars.
    */
  def rawLine(did: Column, source: Column, nChars: Column): Column = {
    // deliberately low-cardinality ts so the dedup window has real
    // collisions to resolve (reference: apply_timestamp_dedup uniquifies
    // equal-ts runs — src/collector/common.rs:8-24)
    val sec = lit(1700000000L) + (did % lit(1000L))
    val frac = lpad(((did % lit(7L)) * lit(125000L)).cast("string"), 6, "0")
    val level = element_at(array(lit("INFO"), lit("WARN"), lit("ERROR")), (did % lit(3)).cast("int") + lit(1))
    val ip = concat(lit("10."), (did % lit(250L)).cast("string"), lit("."),
      (idiv(did, 250L) % lit(250L)).cast("string"), lit("."), ((did % lit(200L)) + lit(1)).cast("string"))
    val port = (lit(1024L) + (did % lit(60000L))).cast("string")
    val status = element_at(array(lit("200"), lit("404"), lit("500"), lit("302")), (did % lit(4)).cast("int") + lit(1))
    val dur = when(did % lit(5) === lit(0), lit("-"))
      .otherwise(concat((did % lit(100L)).cast("string"), lit(".5")))
    val tab = lit("\t")
    val k = kindNum(source)
    // every 97th doc carries a malformed line: parse must drop-and-count,
    // never fail (reference semantics — src/collector/zeek.rs:118-139)
    when(did % lit(97) === lit(0), concat(lit("CORRUPT "), did.cast("string")))
      .when(k === 0, concat(sec.cast("string"), lit("."), frac, lit(" "), level,
        lit(" job-"), did.cast("string"), lit(" took "), nChars.cast("string"), lit("ms")))
      .when(k === 1, concat(ip, lit(" - - ["), sec.cast("string"), lit("] \"GET /p/"),
        did.cast("string"), lit(" HTTP/1.1\" "), status, lit(" "), nChars.cast("string")))
      .when(k === 2, concat(lit("date="), sec.cast("string"), lit(" srcip="), ip,
        lit(" dstip=10.0.0.1 proto=6 srcport="), port, lit(" dstport=443 action="), level))
      .otherwise(concat(sec.cast("string"), lit("."), frac, tab, lit("uid"), did.cast("string"),
        tab, ip, tab, port, tab, lit("10.0.0.2"), tab, lit("443"), tab, lit("tcp"), tab, dur))
  }

  /** tokens table + raw_line + kind: the full pipeline input. */
  def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    val toks = transform(wordsCol(col("text")), wordToken _)
    d.select(
      concat(lit("doc-"), lpad(col("doc_id").cast("string"), 12, "0")).as("doc_id"),
      toks.as("tokens"),
      size(toks).as("n_tok"),
      col("source"),
      col("doc_id").as("line_no"),
      rawLine(col("doc_id"), col("source"), col("n_chars")).as("raw_line"),
      kindName(col("source")).as("kind")
    )
  }

  // --- second raw-line family: vendor formats with real datetime parsing ---

  /** Deterministic datetime components for family-2 lines (all from did). */
  private def dtParts(did: Column) = (
    lpad((lit(1) + did % 12).cast("string"), 2, "0"),   // month 01..12
    lpad((lit(10) + did % 19).cast("string"), 2, "0"),  // day 10..28 (no pad ambiguity)
    lpad((did % 24).cast("string"), 2, "0"),            // hour
    lpad((did % 60).cast("string"), 2, "0"),            // minute
    lpad(((did * 7) % 60).cast("string"), 2, "0"))      // second

  val MonthNames: Seq[String] = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  /** Family-2 format for a doc: 0=wapples 1=ubuntu 2=sysmon. */
  def kind2Name(did: Column): Column =
    element_at(array(lit("wapples"), lit("ubuntu"), lit("sysmon")), (did % 3).cast("int") + lit(1))

  /** Vendor-format log line (family 2): quoted-datetime kv (wapples-style,
    * KST-offset — reference security_log/wapples.rs:17,22-28), month-name
    * syslog (ubuntu-style, year injected — ubuntu.rs:14,19-29), and
    * tab-CSV with hex id + comma-split hashes (sysmon process_create —
    * sysmon_csv/process_create.rs:87-96,113-120).
    */
  def rawLine2(did: Column): Column = {
    val (mo, dy, hh, mi, ss) = dtParts(did)
    val dt = concat(lit("2023-"), mo, lit("-"), dy, lit(" "), hh, lit(":"), mi, lit(":"), ss)
    val monName = element_at(array(MonthNames.map(lit): _*), (did % 12).cast("int") + lit(1))
    val sysDt = concat(dt, lit("."), lpad((did % 1000).cast("string"), 3, "0"))
    val act = element_at(array(lit("allow"), lit("block")), (did % 2).cast("int") + lit(1))
    val hexId = lpad((did % 100000).cast("string"), 5, "0") // decimal digits read as base-16
    val tab = lit("\t")
    val k = did % 3
    // wapples lines on the reference's own grammar (wapples.rs:17, fixture
    // lines :100-117): syslog prefix, WAPPLES tokens bracketed on odd docs,
    // `DETECTION TIME : <dt> <±hhmm>` with the offset IN THE TEXT (+0900 or
    // -0500 — the parser must read it, not assume KST), `RULE NAME :` with
    // a spaces-and-words name, `(client ip W) -> (server ip:port)`
    val w = when(did % 2 === 0, lit("WAPPLES")).otherwise(lit("[WAPPLES]"))
    val off = when(did % 4 < 2, lit("+0900")).otherwise(lit("-0500"))
    val wapplesLine = concat(
      lit("<182>Jan 9 09:26:09 penta wplogd: "), w, lit(" INTRUSION "),
      w, lit(" DETECTION TIME : "), dt, lit(" "), off,
      lit(" "), w, lit(" RULE NAME : Rule Filter "), (did % 50).cast("string"),
      lit(" "), w, lit(" (client 10.1.1."), (did % 200 + 1).cast("string"),
      lit(" "), w, lit(") -> (server 10.9."), (did % 250).cast("string"),
      lit("."), (did % 200 + 1).cast("string"), lit(":"),
      (lit(1L) + did % 65535L).cast("string"), lit(")"))
    when(k === 0, wapplesLine)
      .when(k === 1, concat(monName, lit(" "), dy, lit(" "), hh, lit(":"), mi, lit(":"), ss,
        lit(" host"), (did % 20).cast("string"), lit(" sshd["), (did % 9000 + 100).cast("string"),
        lit("]: Failed password for user"), did.cast("string"), lit(" from 10.0.0.5")))
      .otherwise(concat(sysDt, tab, lit("Microsoft-Windows-Sysmon"), tab, lit("1"), tab,
        lit("proc"), (did % 40).cast("string"), lit(".exe"), tab, lit("0x"), hexId, tab,
        lit("SHA1=s"), did.cast("string"), lit(",MD5=m"), did.cast("string")))
  }

  // --- third raw-line family: the 9 remaining security vendors ---

  /** Family-3 vendor for a doc: did % 9 →
    * mf2, sniper, aiwaf, tg, vforce, srx, sonicwall, shadowwall, axgate.
    */
  val Vendor3Names: Seq[String] = Seq("mf2", "sniper", "aiwaf", "tg",
    "vforce", "srx", "sonicwall", "shadowwall", "axgate")

  def kind3Name(did: Column): Column =
    element_at(array(Vendor3Names.map(lit): _*), (did % 9).cast("int") + lit(1))

  /** Vendor-format log line (family 3), one format per reference vendor
    * regex (security_log/{mf2,sniper_ips,aiwaf,tg,vforce,srx,sonic_wall,
    * shadow_wall,axgate}.rs). Address/port values are shared arithmetic so
    * the oracle re-derives them from did without re-parsing.
    */
  def rawLine3(did: Column): Column = {
    val (mo, dy, hh, mi, ss) = dtParts(did)
    val dtDash = concat(lit("2023-"), mo, lit("-"), dy, lit(" "), hh, lit(":"), mi, lit(":"), ss)
    val dtSlash = concat(lit("2023/"), mo, lit("/"), dy, lit(" "), hh, lit(":"), mi, lit(":"), ss)
    val dtCompact = concat(lit("2023"), mo, dy, lit("`"), hh, lit(":"), mi, lit(":"), ss)
    val monName = element_at(array(MonthNames.map(lit): _*), (did % 12).cast("int") + lit(1))
    val dtSyslog = concat(monName, lit(" "), dy, lit(" "), hh, lit(":"), mi, lit(":"), ss)
    val dtIso = concat(lit("2023-"), mo, lit("-"), dy, lit("T"), hh, lit(":"), mi, lit(":"), ss,
      lit("."), lpad((did % 1000).cast("string"), 3, "0"), lit("+09:00"))
    val epoch10 = (lit(1700000000L) + did % 1000L).cast("string")
    val sip = concat(lit("10.2."), (did % 250L).cast("string"), lit("."), (did % 200L + 1L).cast("string"))
    val dip = concat(lit("10.3."), ((did * 3) % 250L).cast("string"), lit("."), (did % 200L + 1L).cast("string"))
    val sport = (lit(1024L) + did % 60000L).cast("string")
    val dport = (lit(1L) + did % 50000L).cast("string")
    val junk = concat(lit("j"), (did % 5).cast("string"))
    val k = did % 9
    when(k === 0, concat(lit("[evt]"), dtDash, lit(","), junk, lit(","), sip, lit(","),
        sport, lit(","), dip, lit(","), dport, lit(",tcp,detail")))
      .when(k === 1, concat(lit("[Time="), dtSlash, lit("], [Hacker="), sip,
        lit("], [Victim="), dip, lit("], [Protocol=tcp/"), dport, lit("], ["), junk,
        lit("], [SrcPort="), sport, lit("]")))
      .when(k === 2, concat(dtDash, lit("|"), junk, lit("|"), sip, lit("|"), sport,
        lit("|"), dip, lit("|"), dport))
      .when(k === 3, concat(lit("`"), dtCompact, lit("`"), junk, lit("`6`"), sip,
        lit("`"), sport, lit("`"), dip, lit("`"), dport, lit("`")))
      .when(k === 4, concat(lit(">"), dtSyslog, lit(" "), junk, lit(" Src:"), sip,
        lit(", Dst:"), dip, lit(", Proto:6, Spt_c:"), sport, lit(", Dpt_t:"), dport, lit(",")))
      .when(k === 5, concat(dtIso, lit(" "), junk, lit(" source-address=\""), sip,
        lit("\" source-port=\""), sport, lit("\" destination-address=\""), dip,
        lit("\" destination-port=\""), dport, lit("\" protocol-name=\"tcp\"")))
      .when(k === 6, concat(lit("time=\""), dtDash, lit(" UTC\" "), junk, lit(" src="), sip,
        lit(":"), sport, lit(":X0 dst="), dip, lit(":"), dport, lit(" proto=tcp/")))
      .when(k === 7, concat(epoch10, lit("\t"), junk, lit("\t6\t"), sip, lit("\t"),
        sport, lit("\t"), dip, lit("\t"), dport))
      .otherwise(concat(lit("time:"), dtDash, lit(" "), junk, lit(" src:"), sip,
        lit(" dst:"), dip, lit(" sport:"), sport, lit(" dport:"), dport, lit(" proto:6")))
  }

  /** Family-3 raw events: (doc_id, did, line_no, raw_line, kind). */
  def rawEvents3(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    d.select(
      concat(lit("doc-"), lpad(col("doc_id").cast("string"), 12, "0")).as("doc_id"),
      col("doc_id").as("did"),
      col("doc_id").as("line_no"),
      rawLine3(col("doc_id")).as("raw_line"),
      kind3Name(col("doc_id")).as("kind"))
  }

  /** Family-2 raw events: (doc_id, did, line_no, source, raw_line, kind). */
  def rawEvents2(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    d.select(
      concat(lit("doc-"), lpad(col("doc_id").cast("string"), 12, "0")).as("doc_id"),
      col("doc_id").as("did"),
      col("doc_id").as("line_no"),
      col("source"),
      rawLine2(col("doc_id")).as("raw_line"),
      kind2Name(col("doc_id")).as("kind"))
  }

  /** Real NetFlow v5 24-byte header as hex, deterministic per doc — the
    * reference wire layout (/root/reference/src/parser/netflow/packet.rs:
    * 265-288): version, count, sys_uptime, unix_secs, unix_nsecs,
    * flow_sequence, engine_type, engine_id, sampling_interval. The interval
    * packs mode (top 2 bits) and rate (low 14) so the decoder's
    * sampling_mode = (si & 0xC000) >> 8 / sampling_rate = si & 0x3FFF
    * derivation is exercised on every packet.
    */
  private[sources] def nfV5HeaderHex(did: Column, cnt: Column): Column = {
    concat(
      hexN(lit(5L), 4), hexN(cnt, 4),
      hexN(did % 4294967296L, 8),                           // sys_uptime (carries did — the f03 scan recovers the doc key from it)
      hexN(lit(1700000000L) + did % 1000L, 8),              // unix_secs
      hexN((did % 999L) * 1000003L % 1000000000L, 8),       // unix_nsecs
      hexN((did + 10L) % 4294967296L, 8),                   // flow_sequence
      hexN(did % 4L, 2),                                    // engine_type
      hexN(did % 16L, 2),                                   // engine_id
      hexN((did % 4L) * 16384L + did % 16384L, 4))          // sampling_interval
  }

  /** One real 48-byte NetFlow v5 record as hex for (did, record j) — all 18
    * wire fields plus the two pad bytes at the reference's exact offsets
    * (packet.rs:402-463). Every value is derived (mod-first, so no engine
    * overflows at any doc count) for arithmetic oracle re-derivation.
    */
  private[sources] def nfV5RecordHex(did: Column, j: Int): Column = {
    val dm = did % 999983L
    concat(
      hexN((did % 1000003L * 2654435761L + j * 7919L) % 4294967296L, 8), // src_addr
      hexN((dm * 7919L + j * 104729L + 5L) % 4294967296L, 8),            // dst_addr
      hexN((dm * 31L + j * 97L) % 4294967296L, 8),                       // next_hop
      hexN((did + j) % 65536L, 4),                                       // input
      hexN((did * 3L + j) % 65536L, 4),                                  // output
      hexN((did + j) % 100000L, 8),                                      // d_pkts
      hexN((did + j) % 4294967296L, 8),                                  // d_octets
      hexN((dm * 5L + j) % 4294967296L, 8),                              // first
      hexN((dm * 5L + j + 1000L) % 4294967296L, 8),                      // last
      hexN(lit(1024L) + (did + j) % 60000L, 4),                          // src_port
      hexN(lit(443L), 4),                                                // dst_port
      lit("00"),                                                         // pad
      hexN((did + j) % 256L, 2),                                         // tcp_flags
      when(did % 2 === 0, lit("06")).otherwise(lit("11")),               // prot 6/17
      hexN((did * 3L) % 256L, 2),                                        // tos
      hexN(did % 65536L, 4),                                             // src_as
      hexN((did * 7L) % 65536L, 4),                                      // dst_as
      hexN(did % 33L, 2),                                                // src_mask
      hexN((did * 3L) % 33L, 2),                                         // dst_mask
      lit("0000"))                                                       // pad
  }

  /** Real-wire NetFlow v5 binary packets, one record each: the 24-byte
    * header + one 48-byte record (packet.rs:265-288,402-463). Built via
    * hex-string concat → unhex; decoded back with substring/conv.
    */
  def nfPackets(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val pkt = concat(nfV5HeaderHex(did, lit(1L)), nfV5RecordHex(did, 0))
    documents(spark, dir).select(
      concat(lit("doc-"), lpad(did.cast("string"), 12, "0")).as("doc_id"),
      did.as("did"),
      unhex(pkt).as("packet"))
  }

  /** Multi-record real-wire NetFlow v5 packets: count = 1 + did%3 records of
    * 48 bytes (variable-length payload, the shape the reference's record
    * loop decodes — packet.rs:402-463). Every did%5==2 packet has its LAST
    * record truncated 8 bytes short while the header still claims the full
    * count — the reference decodes the whole records that fit
    * (`remained < NETFLOW_V5_RECORD_LENGTH` break, packet.rs:408-411), so
    * the decoder must emit count−1 records there, not drop the packet.
    */
  def nfPacketsMulti(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val cnt = lit(1L) + did % 3L
    def rec(j: Int): Column =
      when(lit(j) < cnt, nfV5RecordHex(did, j)).otherwise(lit(""))
    val body = concat(rec(0), rec(1), rec(2))
    val trimmed = when(did % 5 === 2,
      substring(body, lit(1), ((cnt * 96L) - 16L).cast("int"))).otherwise(body)
    val pkt = concat(nfV5HeaderHex(did, cnt), trimmed)
    documents(spark, dir).select(
      concat(lit("doc-"), lpad(did.cast("string"), 12, "0")).as("doc_id"),
      did.as("did"),
      unhex(pkt).as("packet"))
  }

  /** NetFlow v9 packets on the real wire layout (packet.rs:289-310,330-355,
    * 465-479): 20-byte header (version, count, uptime, unix_secs,
    * flow_sequence, source_id) + one flowset.
    *
    * Exporter groups of 10 docs (source_id = ⌊did/10⌋):
    *  - did%10==0 → template packet: flowset id 0 defining template
    *    256+g%100 with fields (IPv4SrcAddr/4, L4SrcPort/2, L4DstPort/2,
    *    InBytes/4) — field type ids from the reference's table
    *    (fields.rs: InBytes=1, L4SrcPort=7, IPv4SrcAddr=8, L4DstPort=11)
    *  - did%10==1 → data packet whose flow_sequence predates the template
    *    (data-before-template ⇒ undecodable, counted-and-skipped)
    *  - did%10==5 → data flowset referencing a never-defined template id
    *  - did%10==7 → payload carries 2 records but header count=1 (the
    *    decode loop must stop at the header bound)
    *  - otherwise  → 1+did%2 records, all decodable
    */
  def nfV9Packets(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val g = idiv(did, 10L)
    // exporter = g (full u32 range, not g % 4096): with a narrower exporter
    // modulus, two groups g ≡ g' (mod lcm(4096, 100)) would share BOTH the
    // exporter and the template id, so a later group's data-before-template
    // packet would find the earlier group's registration and decode — while
    // the oracle pins it undecodable. Unique exporters hold the oracle
    // semantics at any doc count (and parallelize the stateful group-by)
    val exporter = g % 4294967296L
    val tid = lit(256L) + g % 100L
    val isTpl = did % 10 === 0
    val isOrphan = did % 10 === 5
    val isBounded = did % 10 === 7
    val isMulti = did % 10 === 9                // 8-flowset packet (walk case)
    val rc = lit(1L) + did % 2L                 // records actually in payload
    val hc = when(isTpl || isBounded, 1L).when(isMulti, 7L).otherwise(rc)
    // +10 keeps the data-before-template sequence unsigned for did=1
    // (u32 wire field; -1 would wrap and sort after its template)
    val seq = when(did % 10 === 1, did + 8).otherwise(did + 10)
    val header = concat(
      hexN(lit(9L), 4), hexN(hc, 4),
      hexN(did % 100000L, 8), hexN(lit(1700000000L) + did % 1000L, 8),
      hexN(seq, 8), hexN(exporter, 8))
    // template flowset: id 0, len 4 + 2·20 = 44 — TWO back-to-back template
    // entries in ONE flowset (the reference's parse_netflow_template loop,
    // packet.rs:330-355): the group's primary template `tid` and a
    // secondary `tid+200`, each tid(2) + field_count=4(2) + 4 (type,
    // byte-len) pairs. did%10==3 data references the SECONDARY — it only
    // decodes if the second entry registered.
    def tplEntry(id: Column): Column = concat(
      hexN(id, 4), hexN(lit(4L), 4),
      hexN(lit(8L), 4), hexN(lit(4L), 4),    // IPv4SrcAddr, 4 bytes
      hexN(lit(7L), 4), hexN(lit(2L), 4),    // L4SrcPort, 2
      hexN(lit(11L), 4), hexN(lit(2L), 4),   // L4DstPort, 2
      hexN(lit(1L), 4), hexN(lit(4L), 4))    // InBytes, 4
    val tplFs = concat(hexN(lit(0L), 4), hexN(lit(44L), 4),
      tplEntry(tid), tplEntry(tid + 200L))
    def recHex(j: Int): Column = concat(
      hexN((did % 1000003L * 2654435761L + j * 7919L) % 4294967296L, 8),
      hexN(lit(1024L) + (did + j) % 60000L, 4),
      hexN(lit(443L), 4),
      hexN((did + j) % 4294967296L, 8))
    def rec(j: Int): Column = when(lit(j) < rc, recHex(j)).otherwise(lit(""))
    val dataId = when(isOrphan, tid + 101L)
      .when(did % 10 === 3, tid + 200L).otherwise(tid)
    val dataFs = concat(hexN(dataId, 4), hexN(lit(4L) + rc * 12L, 4), rec(0), rec(1))
    // did%10==9: EIGHT flowsets in one packet — a self-contained template
    // flowset defining `tid+300` followed by 7 single-record data flowsets
    // referencing it (header count = 7). The reference parses only the
    // first flowset of a packet (its TODO, packet.rs:464); the typed walk
    // decodes all 8 with zero truncation — the walk's oracle-checked case.
    val multiBody = concat(
      (Seq(concat(hexN(lit(0L), 4), hexN(lit(24L), 4), tplEntry(tid + 300L))) ++
        (0 until 7).map(j =>
          concat(hexN(tid + 300L, 4), hexN(lit(16L), 4), recHex(j)))): _*)
    val pkt = concat(header,
      when(isTpl, tplFs).when(isMulti, multiBody).otherwise(dataFs))
    documents(spark, dir).select(
      concat(lit("doc-"), lpad(did.cast("string"), 12, "0")).as("doc_id"),
      did.as("did"),
      unhex(pkt).as("packet"))
  }

  /** NetFlow v9 OPTIONS-template packets (flowset id 1 — packet.rs:357-400):
    * doc pairs per exporter group g=⌊did/2⌋ — even did carries the options
    * template (1 scope pair System/2B + 1 option pair InBytes/4B), odd did
    * a 6-byte data record for it.
    */
  def nfV9OptionsPackets(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val g = idiv(did, 2L)
    val tid = lit(512L) + g % 50L
    val header = concat(
      hexN(lit(9L), 4), hexN(lit(1L), 4),
      hexN(did % 100000L, 8), hexN(lit(1700000000L) + did % 1000L, 8),
      // exporter = g, same reasoning as nfV9Packets: a narrower modulus
      // would alias (exporter, tid) across groups at lcm(1024, 50) groups
      hexN(did + 10L, 8), hexN(g % 4294967296L, 8))
    // options template flowset: id 1, len 32 = 4 + 2·14 — TWO back-to-back
    // options-template entries (the reference's options loop,
    // packet.rs:357-400): the group's primary `tid` and a secondary
    // `tidB = 600+g%50`, each tid(2) + scopeLen=4(2) + optLen=4(2) + scope
    // pair System/2B + option pair InBytes/4B. Half the data packets
    // (did%4==3) reference the secondary.
    val tidB = lit(600L) + g % 50L
    def optEntry(id: Column): Column = concat(
      hexN(id, 4), hexN(lit(4L), 4), hexN(lit(4L), 4),
      hexN(lit(1L), 4), hexN(lit(2L), 4),    // scope: System, 2 bytes
      hexN(lit(1L), 4), hexN(lit(4L), 4))    // option: InBytes, 4 bytes
    val tplFs = concat(hexN(lit(1L), 4), hexN(lit(32L), 4),
      optEntry(tid), optEntry(tidB))
    val dataId = when(did % 4 === 3, tidB).otherwise(tid)
    val dataFs = concat(hexN(dataId, 4), hexN(lit(10L), 4),
      hexN((did * 3) % 65536L, 4),
      hexN(did % 1000003L * 2654435761L % 4294967296L, 8))
    val pkt = concat(header, when(did % 2 === 0, tplFs).otherwise(dataFs))
    documents(spark, dir).select(
      concat(lit("doc-"), lpad(did.cast("string"), 12, "0")).as("doc_id"),
      did.as("did"),
      unhex(pkt).as("packet"))
  }

  /** NetFlow v9 packets with a TYPE-DIVERSE template, for the type-aware
    * rendering path (reference fields.rs): exporter groups of 2 docs —
    * even did carries template 700+g%50 whose 11 (type, byte-len) pairs
    * span every render kind (IPv4 addrs, L4 ports, protocol, TCP flags,
    * byte/packet counters, tos, forwarding status), odd did one 28-byte
    * data record for it.
    */
  def nfV9TypedPackets(spark: SparkSession, dir: String): DataFrame = {
    val did = col("doc_id")
    val g = idiv(did, 2L)
    val tid = lit(700L) + g % 50L
    val header = concat(
      hexN(lit(9L), 4), hexN(lit(1L), 4),
      hexN(did % 100000L, 8), hexN(lit(1700000000L) + did % 1000L, 8),
      hexN(did + 10L, 8), hexN(g % 4294967296L, 8))
    // the 16 (type, byte-len) pairs span EVERY render class of the
    // reference's parse_data (fields.rs get_types): Ipv4, Ipv6 (16-byte
    // field — exceeds u64, rendered from raw hex), TcpFlags, Integer in
    // every width incl. an odd 3-byte one ("0" render), Text (IfDesc with a
    // NUL terminator, SamplerName fully printable → "-"), ForwardingStatus
    // incl. an unknown status (decimal render), an unknown type code 999
    // ("Unknown" name), and a long-tail name (SrcVLAN)
    val pairs = Seq(8 -> 4, 12 -> 4, 7 -> 2, 11 -> 2, 4 -> 1, 6 -> 1,
      1 -> 4, 2 -> 4, 5 -> 1, 23 -> 4, 89 -> 1,
      27 -> 16, 83 -> 6, 84 -> 4, 999 -> 3, 58 -> 2) // Σ bytes = 59
    val tplFs = concat(
      (Seq(hexN(lit(0L), 4), hexN(lit(8L + pairs.length * 4L), 4),
        hexN(tid, 4), hexN(lit(pairs.length.toLong), 4)) ++
        pairs.flatMap { case (t, w) =>
          Seq(hexN(lit(t.toLong), 4), hexN(lit(w.toLong), 4))
        }): _*)
    val fwd = when(did % 5 === 0, 0L).when(did % 5 === 1, 64L)
      .when(did % 5 === 2, 65L).when(did % 5 === 3, 66L).otherwise(77L)
    // IPv6 value patterns by did%3, exercising RFC-5952: all-nonzero
    // groups (no compression), a middle 4-group zero run ("a:b::c:d"),
    // and 7 leading zero groups ("::x")
    def grp(i: Int): Column = (did * (i + 2)) % 64999L + 1L
    val ip6 = when(did % 3 === 0, concat((1 to 8).map(i => hexN(grp(i), 4)): _*))
      .when(did % 3 === 1, concat(hexN(grp(1), 4), hexN(grp(2), 4),
        lit("0000" * 4), hexN(grp(7), 4), hexN(grp(8), 4)))
      .otherwise(concat(lit("0000" * 7), hexN(grp(8), 4)))
    val recBytes = concat(
      hexN(did % 1000003L * 2654435761L % 4294967296L, 8), // IPv4SrcAddr
      hexN((did * 7919L + 5L) % 4294967296L, 8),  // IPv4DstAddr
      hexN(lit(1024L) + did % 60000L, 4),         // L4SrcPort
      hexN(lit(443L), 4),                         // L4DstPort
      hexN(lit(6L), 2),                           // Protocol
      hexN(did % 256L, 2),                        // TCPFlags
      hexN(did % 4294967296L, 8),                 // InBytes
      hexN(did % 1000L, 8),                       // InPackets
      hexN((did * 3L) % 256L, 2),                 // SrcTos
      hexN((did * 11L) % 4294967296L, 8),         // OutBytes
      hexN(fwd, 2),                               // ForwardingStatus
      ip6,                                        // IPv6SrcAddr
      concat(lit("657468"), hexN(lit(0x30L) + did % 10L, 2), lit("0041")), // IfDesc "eth<d>\0A"
      lit("73616d70"),                            // SamplerName "samp" (all printable → "-")
      hexN(did % 16777216L, 6),                   // unknown type 999, odd width
      hexN(did % 4096L, 4))                       // SrcVLAN
    val dataFs = concat(hexN(tid, 4), hexN(lit(63L), 4), recBytes)
    val pkt = concat(header, when(did % 2 === 0, tplFs).otherwise(dataFs))
    documents(spark, dir).select(
      concat(lit("doc-"), lpad(did.cast("string"), 12, "0")).as("doc_id"),
      did.as("did"),
      unhex(pkt).as("packet"))
  }

  /** Broadcast-side source dimension (analog of SecurityLogInfo —
    * /root/reference/src/parser/security_log.rs:54-87): one row per source,
    * derived deterministically so the oracle can rebuild it.
    */
  def sourceDim(spark: SparkSession, dir: String): DataFrame = {
    val source = col("source")
    documents(spark, dir).select(source).distinct().select(source +: sourceAttrs(source): _*)
  }

  /** The dimension's columns for `source` (vendor, log_type, version), each
    * a pure function of the source: null when the source is null or lacks
    * its numeric part, like a fact the dimension has no row for.
    */
  def sourceAttrs(source: Column): Seq[Column] = Seq(
    concat(lit("vendor-"), (sourceNum(source) % lit(7)).cast("string")).as("vendor"),
    kindName(source).as("log_type"),
    concat(lit("v"), (sourceNum(source) % lit(3) + lit(1)).cast("string")).as("version"))
}
