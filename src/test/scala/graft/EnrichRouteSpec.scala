package graft

import org.apache.spark.sql.functions._

import graft.operators.{Enrich, Route}
import graft.sources.Tables

class EnrichRouteSpec extends SparkSpec {
  import spark.implicits._

  test("broadcast enrich: left join never drops or duplicates fact rows") {
    val facts = Tables.tokens(spark, Sf)
    val dim = Tables.sourceDim(spark, Sf)
    val enriched = Enrich.withDim(facts, dim, "source")
    assert(enriched.count() === facts.count())
    assert(enriched.where(col("vendor").isNull).count() === 0) // every source present
  }

  test("enrich plan is a BroadcastHashJoin (no shuffle)") {
    val plan = Enrich.withDim(Tables.tokens(spark, Sf), Tables.sourceDim(spark, Sf), "source")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join, got:\n$plan")
  }

  test("source attributes by projection == the left join with a dimension of every source") {
    val odd = Seq[String](null, "src", "srcX1", "abc").toDF("source")
    val facts = Tables.tokens(spark, Sf).select("source").unionByName(odd)
    val dim = Tables.sourceDim(spark, Sf).unionByName(odd.where(col("source").isNotNull)
      .select(col("source") +: Tables.sourceAttrs(col("source")): _*))
    val cols = Seq("source", "vendor", "log_type", "version").map(col)
    val joined = Enrich.withDim(facts, dim, "source").select(cols: _*)
    val projected = Enrich.withSourceAttrs(facts)
    assert(projected.select(cols: _*).exceptAll(joined).isEmpty &&
      joined.exceptAll(projected.select(cols: _*)).isEmpty)
    assert(projected.where(col("vendor").isNotNull).count() === facts.count() - odd.count())
    val plan = projected.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("BroadcastExchange"), plan)
  }

  test("salted join equals plain join result") {
    val facts = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
    val dim = Seq(("a", "A"), ("b", "B")).toDF("k", "d")
    val plain = facts.join(dim, Seq("k"), "left").select("k", "v", "d")
    val salted = Enrich.salted(facts, dim, "k", col("v"), 4).select("k", "v", "d")
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("routing: quarantine iff parse failed; sinks partition the rows") {
    val routed = Route.routed(graft.operators.Parse.parsed(Tables.rawEvents(spark, Sf)))
    assert(routed.where(col("sink") === "quarantine" && col("parse_ok")).count() === 0)
    assert(routed.where(col("sink") =!= "quarantine" && !col("parse_ok")).count() === 0)
    val sinks = routed.select("sink").distinct().as[String].collect().toSet
    assert(sinks === Set("oplog", "nginx", "fgt", "zeek", "quarantine"))
  }
}
