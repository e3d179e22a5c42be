package graft

import org.apache.spark.sql.functions._

import graft.operators.{Positional, ProtoSynth}
import graft.sources.Tables
import graft.Oracles._
import graft.SparkEntry.Q

/** Mechanically generated protocol-breadth queries: one oracle-checked
  * driver query per registered layout — 20 giganto-export network protocols
  * (g01..g20), 14 sysmon event types (y01..y14), 12 Zeek TSV protocols
  * (z01..z12). Each query synthesizes deterministic TSV lines, parses them
  * with the schema-driven [[graft.operators.Positional]] generator, and is
  * checked against an independent arithmetic DuckDB re-derivation
  * ([[graft.operators.ProtoSynth]]).
  */
object QueriesProto {

  private def numbered(prefix: String, protos: Seq[Positional.Proto]): Seq[(String, Positional.Proto)] =
    protos.zipWithIndex.map { case (p, i) =>
      f"$prefix${i + 1}%02d_${p.name.drop(2)}" -> p
    }

  val registry: Seq[Q] =
    (numbered("g", Positional.giganto) ++
      numbered("y", Positional.sysmon14) ++
      numbered("z", Positional.zeekP) ++
      numbered("w", Positional.sysmonCsv)).map { case (qname, proto) =>
      Q(qname, (s, dir) =>
        ProtoSynth.query(proto)(
          Tables.rawEvents2(s, dir).select(col("doc_id"), col("did"))),
        withCtes(V2Cte)(ProtoSynth.oracleBody(proto)))
    }
}
