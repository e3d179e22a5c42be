package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.BinaryDecode

/** L2/L3 peel fidelity against hand-built captures — mirrors the
  * reference's packet tests (/root/reference/src/parser/netflow/packet.rs:
  * 1358 VLAN-tagged, 1385 DCE-encapsulated, 1433 minimum-IHL) plus the
  * IHL=6 option-skip case its boundary test motivates: the UDP header and
  * the NetFlow payload must be found at their true offsets under every
  * encapsulation, and non-cflow ports must be dropped.
  */
class PcapPeelSpec extends SparkSpec {

  private val GlobalHeader =
    "d4c3b2a1" + "0200" + "0400" + "00000000" + "00000000" + "ffff0000" + "01000000"

  /** UDP header (src 1000) + a recognizable 4-byte payload. */
  private def udpAndPayload(dstPort: Int): String =
    f"03e8" + f"$dstPort%04x" + "000c" + "0000" + "deadbeef"

  private def ipv4(ihl: Int, payloadLen: Int): String = {
    val optBytes = (ihl - 5) * 4
    val totalLen = ihl * 4 + payloadLen
    f"4$ihl%01x" + "00" + f"$totalLen%04x" + "1234" + "0000" + "40" + "11" +
      "0000" + "0a000001" + "0a000002" + "01010100".take(optBytes * 2)
  }

  private val EthPlain = "000000000000" + "010203040506" + "0800"
  private val EthVlan = "000000000000" + "010203040506" + "8100" + "0064" + "0800"
  private val EthDce = "000000000000" + "010203040506" + "8903" +
    "000000000000" + "0708090a0b0c" + "0800"

  private def pcapFile(packets: Seq[String]): Array[Byte] = {
    def le4(v: Int): String =
      f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"
    val recs = packets.map { p =>
      val n = p.length / 2
      le4(100) + le4(0) + le4(n) + le4(n) + p
    }
    (GlobalHeader + recs.mkString).grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray
  }

  private def peel(bytes: Array[Byte]): Seq[String] = {
    val dir = Files.createTempDirectory("graft-pcap-peel")
    Files.write(Paths.get(dir.toString, "t.pcap"), bytes)
    val files = spark.read.format("binaryFile").load(dir.toString)
    BinaryDecode.pcapNetflowV5Payloads(files, referenceCompat = false)
      .select(hex(col("nf"))).collect().map(_.getString(0).toLowerCase).toSeq
  }

  test("VLAN-tagged, DCE-encapsulated, and IHL=6 packets all yield the payload at its true offset") {
    val out = peel(pcapFile(Seq(
      EthPlain + ipv4(5, 12) + udpAndPayload(2055),
      EthVlan + ipv4(5, 12) + udpAndPayload(2055),
      EthDce + ipv4(5, 12) + udpAndPayload(2055),
      EthPlain + ipv4(6, 12) + udpAndPayload(2055))))
    assert(out === Seq.fill(4)("deadbeef"))
  }

  test("referenceCompat: IHL>5 packets are dropped like the reference binary drops them") {
    // packet.rs:211 `consume(ihl - 20)` wraps in release mode, rewinding
    // the cursor 14 bytes: parse_udp then reads (ttl<<8)|proto as dst_port
    // — always low byte 0x11, never cflow port 2055 — so the reference
    // rejects every IHL>5 packet as not-netflow; compat mode must too,
    // while keeping IHL=5 packets identical
    val dir = Files.createTempDirectory("graft-pcap-compat")
    Files.write(Paths.get(dir.toString, "t.pcap"), pcapFile(Seq(
      EthPlain + ipv4(5, 12) + udpAndPayload(2055),
      EthPlain + ipv4(6, 12) + udpAndPayload(2055))))
    val files = spark.read.format("binaryFile").load(dir.toString)
    val compat = BinaryDecode.pcapNetflowV5Payloads(files, referenceCompat = true)
      .select(hex(col("nf"))).collect().map(_.getString(0).toLowerCase).toSeq
    assert(compat === Seq("deadbeef")) // IHL=5 kept, IHL=6 dropped
  }

  test("big-endian and nanosecond-magic captures read identically (all four libpcap magics)") {
    def be4(v: Int): String = f"$v%08x"
    def file(magicHex: String, be: Boolean): Array[Byte] = {
      val pkt = EthPlain + ipv4(5, 12) + udpAndPayload(2055)
      val n = pkt.length / 2
      def w(v: Int): String =
        if (be) be4(v)
        else f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"
      val hdr = magicHex + (if (be) "00020004" else "02000400") +
        w(0) + w(0) + w(65535) + w(1)
      (hdr + w(100) + w(0) + w(n) + w(n) + pkt).grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    }
    assert(peel(file("a1b2c3d4", be = true)) === Seq("deadbeef"))   // BE µs
    assert(peel(file("4d3cb2a1", be = false)) === Seq("deadbeef"))  // LE ns
    assert(peel(file("a1b23c4d", be = true)) === Seq("deadbeef"))   // BE ns
    // pcapng type bytes with a garbage SHB (no byte-order magic) → skip
    assert(peel(file("0a0d0d0a", be = false)) === Seq())
  }

  test("pcapng: SHB/IDB/EPB walk yields the payloads; non-Ethernet interfaces skipped") {
    def le4(v: Long): String =
      f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"
    def be4(v: Long): String = f"$v%08x"
    def file(be: Boolean): Array[Byte] = {
      def w(v: Long) = if (be) be4(v) else le4(v)
      val shb = (if (be) "0a0d0d0a" else "0a0d0d0a") + w(28) +
        (if (be) "1a2b3c4d" else "4d3c2b1a") +
        (if (be) "00010000" else "01000000") + "ffffffffffffffff" + w(28)
      def idb(link: Int) = w(1) + w(20) +
        (if (be) f"$link%04x0000" else f"${link & 0xff}%02x${(link >> 8) & 0xff}%02x0000") +
        w(0) + w(20)
      val pkt = EthPlain + ipv4(5, 12) + udpAndPayload(2055)
      val n = pkt.length / 2 // 54 bytes → pad 2
      def epb(ifId: Int, tsSec: Long) = {
        val pad = (4 - n % 4) % 4
        val blen = 32 + n + pad
        val ts = tsSec * 1000000L
        w(6) + w(blen) + w(ifId) + w(ts >> 32) + w(ts & 0xffffffffL) +
          w(n) + w(n) + pkt + "00" * pad + w(blen)
      }
      // interface 0 = Ethernet, interface 1 = linktype 101 (raw IP): the
      // EPB on interface 1 must be skipped
      (shb + idb(1) + idb(101) + epb(0, 1700000123L) + epb(1, 1700000124L) +
        epb(0, 1700000125L)).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    }
    assert(peel(file(be = false)) === Seq("deadbeef", "deadbeef"))
    assert(peel(file(be = true)) === Seq("deadbeef", "deadbeef"))
    // cap_sec comes from the 64-bit µs timestamp
    val dir = Files.createTempDirectory("graft-pcapng-ts")
    Files.write(Paths.get(dir.toString, "t.pcapng"), file(be = false))
    val secs = BinaryDecode.pcapPackets(
      spark.read.format("binaryFile").load(dir.toString))
      .select("cap_sec").collect().map(_.getLong(0)).sorted.toSeq
    assert(secs === Seq(1700000123L, 1700000125L))
  }

  test("non-cflow ports, non-IPv4 ethertypes, and non-UDP protocols are dropped") {
    val tcp = EthPlain + ("45" + "00" + "0028" + "1234" + "0000" + "40" + "06" +
      "0000" + "0a000001" + "0a000002") + udpAndPayload(2055)
    val arp = "000000000000" + "010203040506" + "0806" + ipv4(5, 12) + udpAndPayload(2055)
    val out = peel(pcapFile(Seq(
      EthPlain + ipv4(5, 12) + udpAndPayload(9999),
      tcp, arp,
      EthVlan + ipv4(5, 12) + udpAndPayload(2055))))
    assert(out === Seq("deadbeef"))
  }
}
