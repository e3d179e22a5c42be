package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.BinaryDecode

/** Fuzz laws for the typed binary walks (classic pcap, pcapng, NetFlow
  * v5/v9): malformed input must NEVER throw — the reference's collector
  * drops-and-counts bad packets and keeps reading (packet.rs decode
  * guards; netflow.rs warn-and-skip), so a capture byte that kills a Spark
  * task (and with retries, the job) would be a scale-stopper on a 100 TB
  * backlog where some corruption is a statistical certainty. Seeded
  * generators (no Random.setSeed ambiguity — explicit LCG), one Spark
  * action per law.
  */
class BinaryFuzzSpec extends SparkSpec {

  // explicit LCG so the byte stream is reproducible across JVMs
  private def lcgBytes(seed: Long, n: Int): Array[Byte] = {
    var x = seed
    Array.fill(n) { x = x * 6364136223846793005L + 1442695040888963407L; (x >>> 56).toByte }
  }

  private val EthPlain = "000000000000" + "010203040506" + "0800"
  private def ipv4(payloadLen: Int): String =
    "45" + "00" + f"${20 + payloadLen}%04x" + "1234" + "0000" + "40" + "11" +
      "0000" + "0a000001" + "0a000002"
  private def udp(payload: String): String =
    "03e8" + "0807" + f"${8 + payload.length / 2}%04x" + "0000" + payload

  private def le4(v: Long): String =
    f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"

  private def classicPcap(nPkts: Int): Array[Byte] = {
    val hdr = "d4c3b2a1" + "0200" + "0400" + "00000000" + "00000000" + "ffff0000" + "01000000"
    val recs = (0 until nPkts).map { i =>
      val pkt = EthPlain + ipv4(12) + udp(f"$i%08x")
      val n = pkt.length / 2
      le4(100 + i) + le4(0) + le4(n) + le4(n) + pkt
    }
    (hdr + recs.mkString).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  private def pcapngFile(nPkts: Int): Array[Byte] = {
    val shb = "0a0d0d0a" + "1c000000" + "4d3c2b1a" + "0100" + "0000" +
      "ffffffffffffffff" + "1c000000"
    val idb = "01000000" + "14000000" + "0100" + "0000" + "00000000" + "14000000"
    val epbs = (0 until nPkts).map { i =>
      val pkt = EthPlain + ipv4(12) + udp(f"$i%08x")
      val n = pkt.length / 2
      val pad = (4 - n % 4) % 4
      val blen = 32 + n + pad
      "06000000" + le4(blen) + le4(0) + le4(0) + le4(1000000L * (100 + i)) +
        le4(n) + le4(n) + pkt + "00" * pad + le4(blen)
    }
    (shb + idb + epbs.mkString).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
  }

  private def decodeDir(files: Seq[(String, Array[Byte])]): Map[String, Long] = {
    val dir = Files.createTempDirectory("graft-fuzz")
    files.foreach { case (n, b) => Files.write(Paths.get(dir.toString, n), b) }
    val in = spark.read.format("binaryFile").load(dir.toString)
    BinaryDecode.pcapPackets(in)
      .groupBy("path").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1))).toMap
  }

  test("pcap + pcapng: every truncation decodes a clean prefix, never throws") {
    val classic = classicPcap(6)
    val ng = pcapngFile(6)
    // every byte boundary of both containers (cheap: files are ~700 B)
    val cases =
      (0 to classic.length).map(i => (f"c$i%05d.pcap", classic.take(i))) ++
        (0 to ng.length).map(i => (f"g$i%05d.pcap", ng.take(i)))
    val counts = decodeDir(cases)
    assert(counts.getOrElse("c%05d.pcap".format(classic.length), 0L) === 6L)
    assert(counts.getOrElse("g%05d.pcap".format(ng.length), 0L) === 6L)
    // monotone: a longer prefix never yields FEWER packets (decode-what-fits)
    def mono(prefix: Char, len: Int): Unit = {
      var last = 0L
      (0 to len).foreach { i =>
        val n = counts.getOrElse(f"$prefix$i%05d.pcap", 0L)
        assert(n >= last, s"$prefix$i: $n < $last — truncation lost earlier packets")
        last = n
      }
      assert(last === 6L)
    }
    mono('c', classic.length); mono('g', ng.length)
  }

  test("pcap + pcapng: random byte mutations never throw") {
    val classic = classicPcap(4)
    val ng = pcapngFile(4)
    val cases = (0 until 150).map { i =>
      val base = if (i % 2 == 0) classic else ng
      val m = base.clone()
      // flip 1-4 bytes at LCG-chosen offsets (headers included)
      val noise = lcgBytes(0xF00D + i, 8)
      (0 until 1 + (i % 4)).foreach { j =>
        val off = math.abs(noise(j).toInt * 257 + i * 31) % m.length
        m(off) = noise(4 + (j % 4))
      }
      (f"m$i%04d.pcap", m)
    }
    // law: completes without throwing; per-file count stays <= intact count
    val counts = decodeDir(cases)
    counts.foreach { case (f, n) => assert(n <= 4L, s"$f fabricated packets: $n") }
  }

  test("v9 flowset walk and v5 record loop never throw on garbage or truncation") {
    import spark.implicits._
    // garbage packets: pure LCG noise at many lengths (some will read
    // version==9/5 by chance — the walks must still bound themselves)
    val garbage = (0 until 300).map(i => (i.toString, lcgBytes(0xBEEF + i, i % 97)))
    val g = garbage.toDF("doc_id", "packet")
    BinaryDecode.v9FlowsetWalk(g).count() // law: completes
    // compat walk: same law, plus all-or-nothing — a packet either yields
    // every entry of its one parse call or none, never a partial CALL (the
    // per-entry partial-pair case is in V9CompatSpec); here it must simply
    // bound itself on arbitrary bytes
    BinaryDecode.v9FlowsetWalkCompat(g).count() // law: completes
    BinaryDecode.netflowV5AllRecords(g).count() // law: completes

    // structured v5: header count=5, truncate at every byte — rows must be
    // exactly min(5, fit) whole records (decode-what-fits, packet.rs:408)
    val hdr = "0005" + "0005" + "00000064" + "65000000" + "00000000" + "00000001" +
      "01" + "02" + "0000"
    val rec = (0 until 5).map(i => f"0a0000$i%02x" * 2 + "0a000003" + "0001" + "0002" +
      "00000010" + "00000100" + "00000001" + "00000002" + "1389" + "01bb" +
      "00" + "1b" + "06" + "00" + "0064" + "0065" + "18" + "18" + "0000").mkString
    val full = (hdr + rec).grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val cuts = (0 to full.length).map(i => (i.toString, full.take(i))).toDF("doc_id", "packet")
    val got = BinaryDecode.netflowV5AllRecords(cuts)
      .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0).toInt, r.getLong(1))).toMap
    (0 to full.length).foreach { i =>
      val expect = if (i < 24) 0L else math.min(5L, (i - 24L) / 48L)
      assert(got.getOrElse(i, 0L) === expect,
        s"cut at $i: got ${got.getOrElse(i, 0L)}, want $expect")
    }
  }
}
