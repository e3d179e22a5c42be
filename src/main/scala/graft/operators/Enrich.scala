package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Enrichment = broadcast hash join against small lookup dimensions.
  *
  * The reference's analog is constant-attaching: SecurityLogInfo
  * {kind,log_type,version} split from the kind string
  * (/root/reference/src/parser/security_log.rs:54-87) and service_name
  * derived from the file name (main.rs:1312-1327) — literally a join against
  * a tiny dim. Spark-first: `broadcast(dim)` keeps it shuffle-free; the
  * fact side never moves.
  *
  * The pipeline's source dimension needs no join at all: each of its
  * columns is a pure function of `source` (`Tables.sourceAttrs`), so
  * [[withSourceAttrs]] projects them onto the facts. Over a dimension with a
  * row for every fact's source, [[withDim]] attaches the same values, and a
  * projection builds, collects and broadcasts nothing.
  *
  * Skew: at 10^12 rows hot `source` keys skew any shuffle join; broadcast
  * sidesteps it entirely (dims are ~1k rows). [[salted]] is provided for the
  * case where a dim outgrows broadcast: it splits hot keys across S salts.
  */
object Enrich {

  /** Left broadcast join — must not drop rows (every source present in dim;
    * header-even-if-empty invariant is the writer's job, not the join's).
    */
  def withDim(facts: DataFrame, dim: DataFrame, key: String): DataFrame =
    facts.join(broadcast(dim), Seq(key), "left")

  /** `facts` with the source dimension's columns (vendor, log_type,
    * version) computed from its `source` column: the rows of
    * `withDim(facts, Tables.sourceDim(..), "source")`, with no job.
    */
  def withSourceAttrs(facts: DataFrame): DataFrame =
    facts.select(col("*") +: Tables.sourceAttrs(col("source")): _*)

  /** Salted shuffle join for a too-big-to-broadcast dim with hot keys:
    * facts get a random-free deterministic salt from a row key, the dim is
    * exploded S ways. Deterministic (seeded by rowKey hash) so reruns are
    * byte-identical — the reference requires idempotent re-send
    * (src/controller.rs:104-141).
    */
  def salted(facts: DataFrame, dim: DataFrame, key: String, rowKey: Column, salts: Int): DataFrame = {
    val saltedFacts = facts.withColumn("__salt", pmod(hash(rowKey), lit(salts)))
    val saltedDim = dim.withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedFacts.join(saltedDim, Seq(key, "__salt"), "left").drop("__salt")
  }
}
