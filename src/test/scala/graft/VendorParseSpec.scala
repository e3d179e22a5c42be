package graft

import java.time.{LocalDateTime, ZoneOffset}
import org.apache.spark.sql.functions._

import graft.operators.{BinaryDecode, ParseVendors}

/** Reference-style exact-value parse tests (SURVEY §5): one hand-written
  * line per format, expected timestamps cross-checked against java.time
  * (the reference cross-checks against chrono — e.g. wapples.rs:155).
  */
class VendorParseSpec extends SparkSpec {
  import spark.implicits._

  private def ns(dt: String, plusNanos: Long = 0L): Long =
    LocalDateTime.parse(dt).toEpochSecond(ZoneOffset.UTC) * 1000000000L + plusNanos

  test("ubuntu syslog: month name + injected year + serial; fields extracted") {
    val line = "Oct 15 04:05:06 host3 sshd[812]: Failed password for user9 from 10.0.0.5"
    val r = Seq(line).toDF("l")
      .select(ParseVendors.ubuntu($"l", lit(37L)).as("o"))
      .select("o.ts_ns", "o.host", "o.daemon", "o.pid", "o.contents")
      .as[(Long, String, String, Int, String)].head()
    assert(r._1 === ns("2025-10-15T04:05:06") + 37L)
    assert(r._2 === "host3" && r._3 === "sshd" && r._4 === 812)
    assert(r._5 === "Failed password for user9 from 10.0.0.5")
  }

  test("sysmon CSV: ms datetime, hex 0x logon via conv, comma-split hashes") {
    val line = "2023-10-15 04:05:06.123\tMicrosoft-Windows-Sysmon\t1\tproc7.exe\t0x3e8\tSHA1=abc,MD5=def"
    val r = Seq(line).toDF("l").select(ParseVendors.sysmon($"l").as("o"))
      .select("o.ts_ns", "o.event_code", "o.image", "o.logon_id", "o.hashes")
      .as[(Long, Int, String, Long, Seq[String])].head()
    assert(r._1 === ns("2023-10-15T04:05:06", 123000000L))
    assert(r._2 === 1 && r._3 === "proc7.exe")
    assert(r._4 === 0x3e8L) // 1000
    assert(r._5 === Seq("SHA1=abc", "MD5=def"))
  }

  test("dns: '-' sentinel -> empty arrays; T/F bools; int TTLs") {
    val full = "1700000500 q=host1.example.com answers=10.0.0.1,10.0.1.2 ttls=60,120 aa=T rd=F"
    val dash = "1700000500 q=host2.example.com answers=- ttls=- aa=F rd=T"
    val rows = Seq(full, dash).toDF("l").select(ParseVendors.dns($"l").as("o"))
      .select("o.query", "o.answers", "o.ttls", "o.aa", "o.rd")
      .as[(String, Seq[String], Seq[Int], Boolean, Boolean)].collect()
    assert(rows(0) === (("host1.example.com", Seq("10.0.0.1", "10.0.1.2"), Seq(60, 120), true, false)))
    assert(rows(1) === (("host2.example.com", Seq.empty, Seq.empty, false, true)))
  }

  test("netflow v5 binary: the reference's own v5_record.hex fixture decodes field-for-field") {
    // header mirrors the reference test's Netflow5Header
    // (packet.rs:888-912: flow_sequence=1, engine_type=2, engine_id=3,
    // sampling_interval=0x4001 → mode 64, rate 1); the record bytes are
    // /root/reference/tests/fixtures/netflow/v5_record.hex verbatim
    val header = "0005" + "0001" + "0001e240" + "655fa1c0" + "00000000" +
      "00000001" + "02" + "03" + "4001"
    val record = "0a000001" + "0a000002" + "0a0000fe" + "0001" + "0002" +
      "00000005" + "00000064" + "0000007b" + "000001c8" + "04d2" + "0050" +
      "00" + "12" + "06" + "00" + "fde8" + "fde9" + "18" + "18" + "0000"
    val df = Seq(header + record).toDF("h")
      .select(BinaryDecode.netflowV5(unhex($"h")).as("o"))
    val r1 = df.select("o.version", "o.flow_count", "o.sys_uptime", "o.unix_secs",
      "o.flow_sequence", "o.engine_type", "o.engine_id",
      "o.sampling_mode", "o.sampling_rate")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(r1 === ((5L, 1L, 123456L, 0x655fa1c0L, 1L, 2L, 3L, 64L, 1L)))
    val r2 = df.select("o.src_addr", "o.dst_addr", "o.next_hop", "o.input",
      "o.output", "o.d_pkts", "o.d_octets", "o.first_ms", "o.last_ms")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(r2 === ((0x0a000001L, 0x0a000002L, 0x0a0000feL, 1L, 2L, 5L, 100L, 123L, 456L)))
    val r3 = df.select("o.src_port", "o.dst_port", "o.tcp_flags", "o.prot",
      "o.tos", "o.src_as", "o.dst_as", "o.src_mask", "o.dst_mask", "o.ok")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Boolean)].head()
    assert(r3 === ((1234L, 80L, 0x12L, 6L, 0L, 65000L, 65001L, 24L, 24L, true)))
    // dotted-quad rendering matches the reference's IpAddr display
    val ips = df.select(
      BinaryDecode.ipv4String($"o.src_addr"), BinaryDecode.ipv4String($"o.next_hop"))
      .as[(String, String)].head()
    assert(ips === (("10.0.0.1", "10.0.0.254")))
  }

  test("netflow v5 truncated tail: whole records decode, partial tail dropped, never the packet") {
    // header claims 3 records; buffer holds 2 whole + a 40-byte partial —
    // the reference decodes the 2 that fit (packet.rs:408-411)
    val header = "0005" + "0003" + "00000000" + "00000000" + "00000000" +
      "00000001" + "00" + "00" + "0000"
    def rec(sp: Int) = "0a000001" + "0a000002" + "0a0000fe" + "0001" + "0002" +
      "00000005" + "00000064" + "0000007b" + "000001c8" +
      f"$sp%04x" + "0050" + "00" + "12" + "06" + "00" + "fde8" + "fde9" + "18" + "18" + "0000"
    val full = header + rec(1000) + rec(1001) + rec(1002).dropRight(16)
    val out = BinaryDecode.netflowV5AllRecords(
      Seq(("d0", full)).toDF("doc_id", "h").select($"doc_id", unhex($"h").as("packet")))
      .select("rec_idx", "src_port").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((0L, 1000L), (1L, 1001L)))
  }

  test("wapples: the reference's fixture lines parse field-for-field, both bracket variants") {
    // the two logs from the reference's parse_wapples_maps_fields_correctly
    // test (wapples.rs:100-117), verbatim
    val plain = "<182>Jan 9 09:26:09 penta wplogd: WAPPLES INTRUSION WAPPLES " +
      "DETECTION TIME : 2020-01-09 09:26:09 +0900 WAPPLES RULE NAME : " +
      "Extension Filtering WAPPLES (client 119.75.88.90 WAPPLES) -> " +
      "(server 210.99.177.16:1443)"
    val bracketed = "<182>Jan 9 09:26:09 penta wplogd: [WAPPLES] INTRUSION [WAPPLES] " +
      "DETECTION TIME : 2020-01-09 09:26:09 +0900 [WAPPLES] RULE NAME : " +
      "Extension Filtering [WAPPLES] (client 119.75.88.90 [WAPPLES]) -> " +
      "(server 210.99.177.16:1443)"
    val serial = 42L
    val rows = Seq(plain, bracketed).toDF("l")
      .select(ParseVendors.wapples($"l", lit(serial)).as("o"))
      .select("o.ts_ns", "o.src_ip", "o.dst_ip", "o.dst_port", "o.proto", "o.ok")
      .as[(Long, String, String, Int, String, Boolean)].collect()
    val want = java.time.OffsetDateTime
      .parse("2020-01-09T09:26:09+09:00").toInstant.getEpochSecond * 1000000000L + serial
    rows.foreach { r =>
      assert(r === ((want, "119.75.88.90", "210.99.177.16", 1443, "tcp", true)))
    }
    // a -0500 offset in the text shifts the other way (the %z is read, not
    // an assumed KST)
    val other = plain.replace("+0900", "-0500")
    val ts = Seq(other).toDF("l")
      .select(ParseVendors.wapples($"l", lit(0L))("ts_ns")).as[Long].head()
    assert(ts === java.time.OffsetDateTime
      .parse("2020-01-09T09:26:09-05:00").toInstant.getEpochSecond * 1000000000L)
    // the reference's truncated fixture (missing server part) must fail
    val truncated = "<182>Jan 9 09:26:09 penta wplogd: WAPPLES INTRUSION WAPPLES " +
      "DETECTION TIME : 2020-01-09 09:26:09 +0900 WAPPLES RULE NAME : " +
      "Extension Filtering WAPPLES (client 119.75.88.90 WAPPLES)"
    val ok = Seq(truncated).toDF("l")
      .select(ParseVendors.wapples($"l", lit(0L))("ok")).as[Boolean].head()
    assert(!ok)
  }

  test("non-matching lines fail closed (ok=false), never throw") {
    val junk = Seq("garbage", "", "[WAPPLES] nope").toDF("l")
    val oks = junk.select(
      ParseVendors.wapples($"l", lit(1L))("ok").as("w"),
      ParseVendors.ubuntu($"l", lit(1L))("ok").as("u"),
      ParseVendors.dns($"l")("ok").as("d"))
      .as[(Boolean, Boolean, Boolean)].collect()
    assert(oks.forall(t => !t._1 && !t._2 && !t._3))
  }

  private def secu(name: String, line: String, serial: Long = 1L) =
    Seq(line).toDF("l")
      .select(ParseVendors.secuLog(ParseVendors.vendorByName(name))($"l", lit(serial)).as("o"))
      .select("o.ts_ns", "o.src_ip", "o.src_port", "o.dst_ip", "o.dst_port", "o.proto_s", "o.ok")
      .as[(Long, String, Int, String, Int, String, Boolean)].head()

  test("vendor family: srx in-text offset+millis, shadowwall epoch, tg backtick dt") {
    // srx: 2023-01-10T09:00:00.250+09:00 == 2023-01-10T00:00:00.250Z
    val s = secu("srx", "2023-01-10T09:00:00.250+09:00 x source-address=\"10.2.0.1\" " +
      "source-port=\"1024\" destination-address=\"10.3.0.1\" destination-port=\"80\" protocol-name=\"tcp\"")
    assert(s._1 === 1673308800000000000L + 250000000L + 1L)
    assert(s._2 === "10.2.0.1" && s._3 === 1024 && s._5 === 80 && s._7)
    // shadowwall: 10-digit epoch seconds → ns (+serial)
    val w = secu("shadowwall", "1700000000 x\t6\t10.2.0.1\t1024\t10.3.0.1\t443", serial = 5L)
    assert(w._1 === 1700000000000000005L && w._6 === "6")
    // tg: yyyyMMdd`HH:mm:ss naive KST → 2023-01-10 00:00:00Z
    val t = secu("tg", "`20230110`09:00:00`j1`6`10.2.0.1`1024`10.3.0.1`443`")
    assert(t._1 === 1673308800000000001L && t._4 === "10.3.0.1")
  }

  test("vendor family: vforce pinned-year injection, aiwaf PROTO_TCP default") {
    // vforce: "Jan 10 09:00:00" +0900 with year 2025 → 2025-01-10T00:00:00Z
    val v = secu("vforce", ">Jan 10 09:00:00 x Src:10.2.0.1, Dst:10.3.0.1, Proto:6, Spt_c:1024, Dpt_t:443,")
    assert(v._1 === 1736467200000000001L && v._6 === "6")
    val a = secu("aiwaf", "2023-01-10 09:00:00|x|10.2.0.1|1024|10.3.0.1|443")
    assert(a._1 === 1673308800000000001L && a._6 === "tcp")
    // garbage fails closed for every vendor in the table (ok=false; other
    // fields may be NULL, which the pipeline filters on ok before reading)
    ParseVendors.vendors.foreach { vd =>
      val ok = Seq("garbage").toDF("l")
        .select(ParseVendors.secuLog(vd)($"l", lit(1L))("ok")).as[Boolean].head()
      assert(!ok, s"${vd.name} must fail closed")
    }
  }
}
