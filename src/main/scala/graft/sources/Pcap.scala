package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real .pcap FILE staging for the pcap-scan coverage (reference
  * src/collector/netflow.rs:58-66 opens pcap files, Ethernet link type
  * only; its own test fixture writer :320-344 is the byte-layout source):
  * little-endian global header (magic a1b2c3d4, v2.4, snaplen, linktype=1)
  * then per packet (ts_sec, ts_usec, incl_len, orig_len LE) + L2/L3
  * encapsulation (plain Ethernet, 802.1Q VLAN-tagged, DCE, or IPv4 with
  * IHL=6 options — rotating per doc to exercise the reference's full peel)
  * + UDP(8, dst port 2055 = cflow) + the NetFlow payload. Every 13th
  * packet is addressed to a non-cflow port and must be skipped by the
  * reader (the reference's CFLOW_UDP_PORTS filter,
  * parser/netflow/packet.rs:253).
  *
  * The staging write (collect + Files.write) is FIXTURE GENERATION —
  * a handful of tiny files per scale factor; the measured operator is the
  * binaryFile read + Catalyst framing in BinaryDecode.pcapNetflowV5Payloads.
  */
object Pcap {

  import Tables.{hexN, idiv}

  /** Little-endian hex of a u32 value. */
  private def leHex4(v: Column): Column = concat(
    hexN(v % 256, 2), hexN(idiv(v, 256L) % 256, 2),
    hexN(idiv(v, 65536L) % 256, 2), hexN(idiv(v, 16777216L) % 256, 2))

  val GlobalHeaderHex: String =
    "d4c3b2a1" + "0200" + "0400" + "00000000" + "00000000" + "ffff0000" + "01000000"

  /** pcapng file prologue (little-endian): SHB (byte-order magic
    * 0x1A2B3C4D, v1.0, unknown section length) + one Ethernet IDB — the
    * modern capture format libpcap also reads; every 4th staged file uses
    * it so the same scan exercises both container walks.
    */
  val PcapngHeaderHex: String =
    "0a0d0d0a" + "1c000000" + "4d3c2b1a" + "0100" + "0000" +
      "ffffffffffffffff" + "1c000000" +                       // SHB (28 B)
      "01000000" + "14000000" + "0100" + "0000" + "00000000" + "14000000" // IDB linktype 1

  /** One captured packet (pcap record header + eth/ip/udp + a real-wire
    * NetFlow v5 payload: 24-byte header + one 48-byte record —
    * packet.rs:265-288,402-463), as hex, for doc `did`.
    */
  def packetHex(did: Column): Column = packetHex(did, pcapng = false)

  /** `pcapng = true` wraps the same captured bytes in an EPB (interface 0,
    * 64-bit µs timestamp, captured-len padding to 4) instead of a classic
    * record header.
    */
  def packetHex(did: Column, pcapng: Boolean): Column = {
    val secs = lit(1700000000L) + did % 1000L
    val nf = concat(Tables.nfV5HeaderHex(did, lit(1L)), Tables.nfV5RecordHex(did, 0))
    val dstPort = when(did % 13 === 0, lit(9999L)).otherwise(lit(2055L))
    // UDP length = 8 (header) + 72 (v5 payload) = 80 = 0x0050
    val udp = concat(lit("0c00"), hexN(dstPort, 4), lit("0050"), lit("0000"))
    // L2/L3 encapsulation variants exercising the reference's full peel
    // (packet.rs:175-211 and its tests :1358 VLAN, :1385 DCE, :1433 IHL):
    //   did%7==1 → 802.1Q VLAN tag (ethertype 0x8100, TCI, inner 0x0800)
    //   did%7==2 → IPv4 options: IHL=6, 4 option bytes (NOP,NOP,NOP,EOL)
    //   did%7==3 → DCE (0x8903): extra MAC pair before the inner ethertype
    //   otherwise → plain Ethernet + 20-byte IPv4
    val ipPlain = lit("45000064000000004011" + "0000" + "0a000001" + "0a000002")
    val ipOpts = lit("46000068000000004011" + "0000" + "0a000001" + "0a000002" + "01010100")
    val ethPlain = lit("000000000001" + "000000000002" + "0800")
    val ethVlan = lit("000000000001" + "000000000002" + "8100" + "0064" + "0800")
    val ethDce = lit("000000000001" + "000000000002" + "8903" +
      "000000000003" + "000000000004" + "0800")
    val l2l3 = when(did % 7 === 1, concat(ethVlan, ipPlain))
      .when(did % 7 === 2, concat(ethPlain, ipOpts))
      .when(did % 7 === 3, concat(ethDce, ipPlain))
      .otherwise(concat(ethPlain, ipPlain))
    // eth 14 + ip 20 + udp 8 + nf 72 = 114, plus the encapsulation extras
    val incl = lit(114L) + when(did % 7 === 1, 4L).when(did % 7 === 2, 4L)
      .when(did % 7 === 3, 14L).otherwise(0L)
    val body = concat(l2l3, udp, nf)
    if (!pcapng) {
      val recHdr = concat(leHex4(secs), leHex4(lit(0L)), leHex4(incl), leHex4(incl))
      concat(recHdr, body)
    } else {
      val pad = (lit(4L) - incl % 4L) % 4L
      val blockLen = lit(32L) + incl + pad
      val ts = secs * 1000000L // µs, the default if_tsresol
      concat(
        lit("06000000"), leHex4(blockLen), leHex4(lit(0L)),
        leHex4(idiv(ts, 4294967296L)), leHex4(ts % 4294967296L),
        leHex4(incl), leHex4(incl), body,
        repeat(lit("00"), pad.cast("int")), leHex4(blockLen))
    }
  }

  /** Stage .pcap files (64 packets per file — deep enough that the typed
    * per-file walk, not a bounded expression chain, is the only way to read
    * them) under target/stage and return the directory path.
    */
  def stage(spark: SparkSession, sfDir: String): String = {
    val dir = new java.io.File(graft.operators.RawLog.stagePath("pcap", sfDir))
    dir.mkdirs()
    // idempotent: skip the whole staging job when this layout version is
    // already on disk for this sf (the marker pins the synth version, so a
    // layout change invalidates stale fixtures; `_`-prefixed files are
    // hidden from Spark's file index, like _SUCCESS)
    val nDocs = Tables.documents(spark, sfDir).count()
    val spec = s"pcap-v6:${(nDocs + 63) / 64}"
    val marker = new java.io.File(dir, "_spec.txt")
    if (marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == spec)
      return dir.getPath
    dir.listFiles().foreach(f => if (f.getName.endsWith(".pcap")) f.delete())
    val did = col("doc_id")
    // every 4th file is staged as pcapng (SHB + IDB + EPBs); the rest as
    // classic libpcap — one scan, both container walks oracle-checked
    val isNg = idiv(did, 64L) % 4L === 3L
    val perFile = Tables.documents(spark, sfDir)
      .select(idiv(did, 64L).as("fid"), did.as("did"),
        when(isNg, packetHex(did, pcapng = true))
          .otherwise(packetHex(did)).as("ph"))
      .groupBy("fid")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("did"), col("ph")))),
        s => s.getField("ph")), "").as("body"))
      .select(col("fid"),
        concat(when(col("fid") % 4 === 3, lit(PcapngHeaderHex))
          .otherwise(lit(GlobalHeaderHex)), col("body")).as("fhex"))
    perFile.collect().foreach { r =>
      val bytes = r.getString(1).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      java.nio.file.Files.write(
        new java.io.File(dir, f"f${r.getLong(0)}%06d.pcap").toPath, bytes)
    }
    java.nio.file.Files.write(marker.toPath, spec.getBytes)
    dir.getPath
  }
}
