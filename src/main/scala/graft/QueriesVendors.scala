package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ParseVendors}
import graft.sources.Tables
import graft.Oracles._
import graft.SparkEntry.Q

/** One oracle-checked driver query per remaining security-log vendor
  * (v01..v09): mf2, sniper, aiwaf, tg, vforce, srx, sonicwall, shadowwall,
  * axgate. The oracle re-derives every output arithmetically from did (no
  * re-parse), including each vendor's timestamp quirk: hardcoded +0900,
  * year injection (vforce), in-text RFC3339 offset+millis (srx), and
  * 10-digit epoch seconds (shadowwall). All timestamps carry the 1..999
  * per-line serial the reference adds to every security log
  * (collector/security_log.rs:105-109).
  */
object QueriesVendors {

  private val Serial = "((did - 1) % 999) + 1"
  private val Base0900 =
    "(epoch_us(make_timestamp(2023, mo, dy, hh, mi, cast(ss AS double))) - 32400000000)*1000"

  /** Per-vendor (ts SQL, proto literal). */
  private val tsSql: Seq[(String, String)] = Seq(
    (s"$Base0900 + $Serial", "tcp"),                                    // mf2
    (s"$Base0900 + $Serial", "tcp"),                                    // sniper
    (s"$Base0900 + $Serial", "tcp"),                                    // aiwaf (PROTO_TCP const)
    (s"$Base0900 + $Serial", "6"),                                      // tg
    (s"(epoch_us(make_timestamp(2025, mo, dy, hh, mi, cast(ss AS double))) - 32400000000)*1000 + $Serial", "6"), // vforce (year injected)
    (s"$Base0900 + (did % 1000)*1000000 + $Serial", "tcp"),             // srx (.SSS millis)
    (s"$Base0900 + $Serial", "tcp"),                                    // sonicwall
    (s"(1700000000 + did % 1000)*1000000000 + $Serial", "6"),           // shadowwall (epoch secs)
    (s"$Base0900 + $Serial", "6"))                                      // axgate

  // after every strict val the oracle strings read: an object initializes
  // its vals in source order, so a later val would still be null here
  val registry: Seq[Q] =
    ParseVendors.vendors.zipWithIndex.map { case (v, k) =>
      val (ts, proto) = tsSql(k)
      Q(f"v${k + 1}%02d_parse_${v.name}", (s, dir) => {
        val r = Tables.rawEvents3(s, dir).where(col("did") % 9 === k)
          .withColumn("o", ParseVendors.secuLog(v)(col("raw_line"),
            Dedup.securitySerial(col("line_no"))))
        r.where(col("o.ok")).select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
          col("o.src_ip").as("src_ip"), col("o.src_port").as("src_port"),
          col("o.dst_ip").as("dst_ip"), col("o.dst_port").as("dst_port"),
          col("o.proto_s").as("proto_s"))
      },
        withCtes(V2Cte)(
          s"""SELECT doc_id, $ts AS ts_ns,
             |  '10.2.' || cast(did % 250 AS varchar) || '.' || cast(did % 200 + 1 AS varchar) AS src_ip,
             |  cast(1024 + did % 60000 AS int) AS src_port,
             |  '10.3.' || cast((did * 3) % 250 AS varchar) || '.' || cast(did % 200 + 1 AS varchar) AS dst_ip,
             |  cast(1 + did % 50000 AS int) AS dst_port,
             |  '$proto' AS proto_s
             |FROM v2 WHERE did % 9 = $k""".stripMargin))
    }
}
