package graft

/** Driver-contract guards: the correctness gate hashes (query, oracle)
  * pairs by NAME, so a rename or a missing twin silently weakens coverage —
  * these laws make drift a test failure instead.
  */
class ContractSpec extends SparkSpec {

  test("every driver query has a DuckDB oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
  }

  test("query names are unique across the family objects") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate query names: ${names.diff(names.distinct)}")
    assert(SparkEntry.queries.size == names.size && SparkEntry.oracleSql.size == names.size)
  }

  test("a registry with a repeated name fails at construction and names the duplicate") {
    import SparkEntry.Q
    val fn: SparkEntry.QFn = (s, _) => s.range(1).toDF()
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registryOf(Seq(Q("x01_a", fn, "SELECT 1"), Q("x02_b", fn, "SELECT 2"),
        Q("x01_a", fn, "SELECT 3")))
    }
    assert(e.getMessage.contains("duplicate query names: x01_a"), e.getMessage)
  }

  test("every query builds a plan against sf0.001 (no analysis errors)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      // schema forces full analysis without executing the plan
      val schema = fn(spark, Sf).schema
      assert(schema.nonEmpty, s"$name produced an empty schema")
    }
  }

  test("registry results do not depend on a graft.* session conf") {
    // the syslog year is a constant: a session conf must not shift the
    // ubuntu (p17) or vforce (v05) timestamps the oracles pin
    Seq("p17_parse_ubuntu", "v05_parse_vforce").foreach { name =>
      val q = SparkEntry.queries(name)
      // Seq.diff is exceptAll on the rows
      val plain = q(spark, Sf).collect().toSeq
      val withConf = withConfs("graft.syslog.pinYear" -> "2024")(q(spark, Sf).collect().toSeq)
      assert(plain.nonEmpty, s"$name returned no rows")
      assert(plain.diff(withConf).isEmpty && withConf.diff(plain).isEmpty,
        s"$name changed under graft.syslog.pinYear")
    }
  }

  test("a caller's checkpointed frame survives a registry query's build and run") {
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val mine = spark.range(1000).selectExpr("id % 7 AS k").localCheckpoint(true)
    val before = persistent
    SparkEntry.queries("d22_allpairs")(spark, Sf).collect()
    val built = persistent -- before
    assert(built.nonEmpty, "d22 checkpoints while it builds")
    assert(mine.count() === 1000L)
    // the next query's prep drops what d22 built, and only that
    SparkEntry.queries("p10_serial")(spark, Sf).collect()
    assert((persistent intersect built).isEmpty)
    assert(mine.groupBy("k").count().count() === 7L)
  }

  test("t04 runs in a fresh session and registers no SQL function there") {
    val fresh = spark.newSession()
    val t04 = SparkEntry.queries("t04_fingerprint_roll")
    val got = t04(fresh, Sf).collect().toSet
    assert(!fresh.catalog.functionExists("token_fingerprint"),
      "t04 registered token_fingerprint in the caller's session")
    assert(got.nonEmpty && got == t04(spark, Sf).collect().toSet)
  }
}
