package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vendor security-log parsers, family 2 (SURVEY.md §2.2): each is a bank of
  * codegen'd regexp_extract / split / to_timestamp expressions — no UDFs —
  * modeled on the reference's 13 vendor grok parsers
  * (/root/reference/src/parser/security_log/) and the sysmon CSV
  * positional parser (/root/reference/src/parser/sysmon_csv/).
  *
  * Timestamp semantics preserved from the reference:
  *  - wapples-style: naive local datetime hardcoded +0900 → UTC ns
  *    (wapples.rs:22-28)
  *  - ubuntu-style syslog: no year in the line; a pinned year is injected
  *    (ubuntu.rs:19-29 uses current year — nondeterministic by design; we pin
  *    via parameter for reproducibility, SURVEY.md §7.4.3)
  *  - sysmon: UTC "yyyy-MM-dd HH:mm:ss.SSS" (sysmon_csv.rs:310-327), hex
  *    0x logon_id via conv (process_create.rs:87-96), comma-split hash list
  *    (process_create.rs:113-120)
  */
object ParseVendors {

  /** The reference's wapples grammar VERBATIM (wapples.rs:17: optional
    * brackets on every WAPPLES token, `DETECTION TIME :` / `RULE NAME :`
    * literals, a `[\w\s]+` rule name that is matched but not captured,
    * `(client ip [WAPPLES]) -> (server ip:port)`). The datetime carries its
    * own offset in the text (`%Y-%m-%d %H:%M:%S %z`, wapples.rs:22-28) —
    * NOT an assumed +0900.
    */
  val WapplesRe: String =
    "\\[?WAPPLES\\]? DETECTION TIME : (\\S+ \\S+ \\S+) \\[?WAPPLES\\]? RULE NAME : " +
      "[\\w\\s]+ \\[?WAPPLES\\]? \\(client (\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}) " +
      "\\[?WAPPLES\\]?\\) -> \\(server (\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}):(\\d+)\\)"
  val UbuntuRe = "^(\\w+ \\d+ \\d+:\\d+:\\d+) (\\S+) (\\w+)\\[(\\d+)\\]: (.*)$"

  private def nsOf(ts: Column): Column = unix_micros(ts) * lit(1000L)

  /** wapples: the reference's regex + strptime semantics, emitting the
    * SecuLog shape it builds (wapples.rs:62-75: orig/resp addr, resp port,
    * proto TCP, contents = the whole line) with `serial` added to the
    * timestamp like every security-log parse
    * (src/collector/security_log.rs serial 1..999).
    */
  def wapples(line: Column, serial: Column): Column = {
    // one-pass grok: all 4 groups in ONE regex execution per row
    // (RegexpExtractStruct, as Parse.oplog/nginx — the reference compiles the
    // regex once and reads all named groups from one Captures)
    val m = graft.functions.RegexpExtractStruct.of(line, WapplesRe, 4)
    // "yyyy-MM-dd HH:mm:ss Z" == the reference's %Y-%m-%d %H:%M:%S %z —
    // the ±HHmm offset is read from the text
    val ts = to_timestamp(m("g1"), "yyyy-MM-dd HH:mm:ss Z")
    struct(
      (nsOf(ts) + serial).as("ts_ns"),
      m("g2").as("src_ip"),
      m("g3").as("dst_ip"),
      m("g4").cast("int").as("dst_port"),
      lit("tcp").as("proto"),
      line.as("contents"),
      (m("matched") && ts.isNotNull).as("ok"))
  }

  /** The year injected into the syslog formats that omit it (ubuntu,
    * vforce). The reference injects the wall-clock year (ubuntu.rs:19-29,
    * vforce.rs:23-26), so its output depends on when it runs; pinned here
    * to the gate fixtures' year so a run is reproducible.
    */
  private val SyslogYear = 2025

  /** ubuntu-style syslog: month-name datetime without year; [[SyslogYear]]
    * is injected. `serial` (1..999 per line) uniquifies same-second lines,
    * as the reference adds it to every security-log ts
    * (src/collector/security_log.rs:105-109).
    */
  def ubuntu(line: Column, serial: Column): Column = {
    val m = graft.functions.RegexpExtractStruct.of(line, UbuntuRe, 5)
    val ts = to_timestamp(concat(lit(s"$SyslogYear "), m("g1")), "yyyy MMM dd HH:mm:ss")
    struct(
      (nsOf(ts) + serial).as("ts_ns"),
      m("g2").as("host"),
      m("g3").as("daemon"),
      m("g4").cast("int").as("pid"),
      m("g5").as("contents"),
      m("matched").as("ok"))
  }

  val DnsRe = "^(\\d+) q=(\\S+) answers=(\\S*) ttls=(\\S*) aa=([TF]) rd=([TF])$"

  /** Zeek-DNS-style line: comma-split string answers (Vec<String> —
    * reference network.rs:200-207), comma-split int TTLs (Vec<i32> —
    * network.rs:297-314), and T/F bool flags (network.rs:253-296).
    * `-` sentinel → empty arrays, matching the reference's default handling.
    */
  def dns(line: Column): Column = {
    val m = graft.functions.RegexpExtractStruct.of(line, DnsRe, 6)
    val answers = m("g3")
    val ttls = m("g4")
    struct(
      (m("g1").cast("long") * lit(1000000000L)).as("ts_ns"),
      m("g2").as("query"),
      when(answers === "-" || answers === "", array().cast("array<string>"))
        .otherwise(split(answers, ",")).as("answers"),
      when(ttls === "-" || ttls === "", array().cast("array<int>"))
        .otherwise(transform(split(ttls, ","), _.cast("int"))).as("ttls"),
      (m("g5") === "T").as("aa"),
      (m("g6") === "T").as("rd"),
      m("matched").as("ok"))
  }

  // =========================================================================
  // The 9 remaining security-log vendors (reference
  // /root/reference/src/parser/security_log/{mf2,sniper_ips,aiwaf,tg,vforce,
  // srx,sonic_wall,shadow_wall,axgate}.rs) — each is one regex + a strptime
  // variant. All SecuLog timestamps get the per-line serial added
  // (collector/security_log.rs:105-109). Expressed as a table: a vendor is a
  // (regex, capture-group map, timestamp builder) row; the parse bank is
  // generated — same codegen'd regexp_extract expressions for every vendor.
  // =========================================================================

  /** One vendor = regex + group indices (0 ⇒ constant "tcp", the reference's
    * PROTO_TCP default) + naive-datetime → UTC-ns builder.
    */
  final case class SecuVendor(name: String, re: String, tsNs: Column => Column,
                              gDt: Int = 1, gSip: Int = 2, gSport: Int = 3,
                              gDip: Int = 4, gDport: Int = 5, gProto: Int = 6)

  private def plus0900(fmt: String)(t: Column): Column =
    nsOf(to_utc_timestamp(to_timestamp(t, fmt), "+09:00"))

  /** srx carries its own +09:00 offset and milliseconds in the text
    * (srx.rs:23 `%Y-%m-%dT%H:%M:%S%.f%:z`).
    */
  private def isoOffset(t: Column): Column =
    nsOf(to_timestamp(t, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"))

  /** shadowwall is 10-digit epoch seconds (shadow_wall.rs:16,64). */
  private def epochSec(t: Column): Column = t.cast("long") * lit(1000000000L)

  /** vforce injects the current year (vforce.rs:23-26) — pinned to
    * [[SyslogYear]], like ubuntu.
    */
  private def yearInject0900(fmt: String)(t: Column): Column =
    plus0900(s"yyyy $fmt")(concat(lit(s"$SyslogYear "), t))

  /** The 9-vendor bank. vforce is the one vendor whose format omits the
    * year; it gets [[SyslogYear]].
    */
  val vendors: Seq[SecuVendor] = Seq(
    // mf2.rs:14-27: "](Y-m-d H:M:S),..,ip,port,ip,port,proto," +0900
    SecuVendor("mf2",
      "\\](\\d{4}-\\d{1,2}-\\d{1,2} \\d{2}:\\d{2}:\\d{2}),.*?,(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}),(\\d+),(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}),(\\d+),(\\w+),",
      plus0900("yyyy-MM-dd HH:mm:ss")),
    // sniper_ips.rs:14-27: bracketed [Time=Y/m/d H:M:S] [Hacker] [Victim]
    // [Protocol=w/dport] .. [SrcPort=n] +0900
    SecuVendor("sniper",
      "\\[Time=(\\d{4}/\\d{1,2}/\\d{1,2} \\d{2}:\\d{2}:\\d{2})\\], \\[Hacker=(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\\], \\[Victim=(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\\], \\[Protocol=(\\w+)/(\\d+)\\],.*\\[SrcPort=(\\d+)\\]",
      plus0900("yyyy/MM/dd HH:mm:ss"),
      gDt = 1, gSip = 2, gDip = 3, gProto = 4, gDport = 5, gSport = 6),
    // aiwaf.rs:12-25: pipe-separated, proto constant TCP, +0900
    SecuVendor("aiwaf",
      "(\\d{4}-\\d{1,2}-\\d{1,2} \\d{2}:\\d{2}:\\d{2})\\|.*?\\|(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\\|(\\d+)\\|(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\\|(\\d+)",
      plus0900("yyyy-MM-dd HH:mm:ss"), gProto = 0),
    // tg.rs:12-26: backtick-separated, datetime "Ymd`H:M:S" +0900
    SecuVendor("tg",
      "`(\\d{8}`\\d{2}:\\d{2}:\\d{2})`.*?`(\\d+)`(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})`(\\d+)`(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})`(\\d+)`",
      plus0900("yyyyMMdd'`'HH:mm:ss"),
      gDt = 1, gProto = 2, gSip = 3, gSport = 4, gDip = 5, gDport = 6),
    // vforce.rs:12-28: ">MMM d H:M:S .. Src: Dst: Proto: Spt_c: Dpt_t:",
    // current-year injection +0900
    SecuVendor("vforce",
      ">(\\w{3} \\d{1,2} \\d{2}:\\d{2}:\\d{2}).*?Src:(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}), Dst:(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}), Proto:(\\d+), Spt_c:(\\d+), Dpt_t:(\\d+),",
      yearInject0900("MMM dd HH:mm:ss"),
      gDt = 1, gSip = 2, gDip = 3, gProto = 4, gSport = 5, gDport = 6),
    // srx.rs:12-24: RFC3339 with millis and explicit +09:00 offset
    SecuVendor("srx",
      "(\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}.\\d{3}\\+\\d{2}:\\d{2}).*?source-address=\"(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\" source-port=\"(\\d+)\" destination-address=\"(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\" destination-port=\"(\\d+)\" protocol-name=\"(\\w+)\"",
      isoOffset),
    // sonic_wall.rs:12-26: time="Y-m-d H:M:S .. src=ip:port: dst=ip:port
    // proto=w/ +0900
    SecuVendor("sonicwall",
      "time=\"(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) .*?src=(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}):(\\d+):.*? dst=(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}):(\\d+).*?proto=(\\w+)/",
      plus0900("yyyy-MM-dd HH:mm:ss")),
    // shadow_wall.rs:11-16,64: 10-digit epoch seconds, tab-separated tuple
    SecuVendor("shadowwall",
      "(\\d{10}).*?(\\d+)\\t(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\\t(\\d+)\\t(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3})\\t(\\d+)",
      epochSec,
      gDt = 1, gProto = 2, gSip = 3, gSport = 4, gDip = 5, gDport = 6),
    // axgate.rs:12-25: key:value tokens, numeric proto, +0900
    SecuVendor("axgate",
      "time:(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}).*?src:(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}).*?dst:(\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}).*?sport:(\\d+).*?dport:(\\d+).*?proto:(\\d+)",
      plus0900("yyyy-MM-dd HH:mm:ss"),
      gDt = 1, gSip = 2, gDip = 3, gSport = 4, gDport = 5, gProto = 6))

  val vendorByName: Map[String, SecuVendor] = vendors.map(v => v.name -> v).toMap

  /** Generated SecuLog parse bank for a vendor: same struct shape as the
    * reference's SecuLog (orig/resp addr+port, proto, ts+serial).
    */
  def secuLog(v: SecuVendor)(line: Column, serial: Column): Column = {
    // ONE regex execution per row for the whole 6-field tuple
    // (RegexpExtractStruct — the built-in regexp_extract would re-run the
    // vendor regex once per captured field, 6× the matching cost)
    val nGroups = Seq(v.gDt, v.gSip, v.gSport, v.gDip, v.gDport, v.gProto).max
    val m = graft.functions.RegexpExtractStruct.of(line, v.re, nGroups)
    val proto = if (v.gProto == 0) lit("tcp") else m(s"g${v.gProto}")
    struct(
      (v.tsNs(m(s"g${v.gDt}")) + serial).as("ts_ns"),
      m(s"g${v.gSip}").as("src_ip"),
      m(s"g${v.gSport}").cast("int").as("src_port"),
      m(s"g${v.gDip}").as("dst_ip"),
      m(s"g${v.gDport}").cast("int").as("dst_port"),
      proto.as("proto_s"),
      m("matched").as("ok"))
  }

  /** sysmon-style tab CSV (positional): UTC ms datetime, hex 0x id via conv,
    * comma-split hash array.
    */
  def sysmon(line: Column): Column = {
    val f = split(line, "\t")
    val ts = to_timestamp(element_at(f, 1), "yyyy-MM-dd HH:mm:ss.SSS")
    struct(
      nsOf(ts).as("ts_ns"),
      element_at(f, 2).as("provider"),
      element_at(f, 3).cast("int").as("event_code"),
      element_at(f, 4).as("image"),
      conv(regexp_replace(element_at(f, 5), "^0x", ""), 16, 10).cast("long").as("logon_id"),
      split(element_at(f, 6), ",").as("hashes"),
      (size(f) >= 6).as("ok"))
  }
}
