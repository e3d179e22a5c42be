package graft

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.spark.sql.functions._

import graft.operators.Positional
import graft.sources.{Elastic, ElasticStub}
import graft.sources.Elastic.EsConfig
import graft.sources.ElasticStub.StubHit

/** The live-ES source: real HTTP paging client against the in-process
  * `_search` stub — auth header, query shape, search_after cursor walk,
  * short-page/empty-page termination, per-index cursor restart, and the
  * message→typed-layout parse including the reader-order emission
  * (parent_process_guid BEFORE parent_process_id — the reference's own dump
  * writes them swapped relative to its reader, sysmon_csv/process_create.rs
  * :207-208 vs :121-135).
  */
class ElasticSpec extends SparkSpec {
  import spark.implicits._

  private def msg(pairs: (String, String)*): String =
    pairs.map { case (k, v) => s"$k: $v" }.mkString("\n")

  private def procMsg(i: Int): String = msg(
    "UtcTime" -> "2023-01-10 01:02:03.004", "ProcessGuid" -> s"pg-$i",
    "ProcessId" -> i.toString, "Image" -> s"img-$i",
    "FileVersion" -> "1.0", "Description" -> "d", "Product" -> "p",
    "Company" -> "c", "OriginalFileName" -> s"orig-$i",
    "CommandLine" -> s"cmd -$i", "CurrentDirectory" -> "C:\\w",
    "User" -> s"u$i", "LogonGuid" -> "lg", "LogonId" -> "0x00042",
    "TerminalSessionId" -> "1", "IntegrityLevel" -> "High",
    "Hashes" -> "a1,b2", "ParentProcessGuid" -> s"PPG-$i",
    "ParentProcessId" -> "77", "ParentImage" -> "pimg",
    "ParentCommandLine" -> "pcmd", "ParentUser" -> "pu")

  private def hitsFor(n: Int, base: Long = 1000L): IndexedSeq[StubHit] =
    (0 until n).map(i => StubHit(base + i, s"agent$i", s"aid$i", procMsg(i)))

  private def cfg(url: String, size: Int, indices: Seq[String] = Seq("idx"),
                  codes: Seq[String] = Seq("1")): EsConfig =
    EsConfig(url, "elastic:changeme", indices, codes,
      "2023-01-01T00:00:00Z", "2023-12-31T00:00:00Z", size)

  test("paging: the search_after cursor walks full pages and stops on the short page; Basic auth on every request") {
    val stub = ElasticStub.start(Map(("idx", "1") -> hitsFor(25)))
    try {
      val got = Elastic.fetchAll(cfg(stub.url, 10))
      assert(got.length === 25)
      assert(got.map(_.sort_ts) === (0 until 25).map(1000L + _))
      assert(got.map(_.agent_name).take(2) === Seq("agent0", "agent1"))
      val reqs = stub.requests
      assert(reqs.length === 3) // 10 + 10 + 5(short → stop)
      assert(reqs.map(_.searchAfter) === Seq(0L, 1009L, 1019L))
      assert(reqs.map(_.size).distinct === Seq(10))
      val expectAuth = "Basic " + Base64.getEncoder.encodeToString(
        "elastic:changeme".getBytes(StandardCharsets.UTF_8))
      assert(reqs.map(_.auth).distinct === Seq(expectAuth))
      assert(reqs.map(_.eventCode).distinct === Seq("1"))
    } finally stub.stop()
  }

  test("a page-aligned total drains with one trailing empty page (the reference's loop rule)") {
    val stub = ElasticStub.start(Map(("idx", "1") -> hitsFor(20)))
    try {
      val got = Elastic.fetchAll(cfg(stub.url, 10))
      assert(got.length === 20)
      // 10 + 10(full → one more request) + 0(empty → stop)
      assert(stub.requests.map(_.searchAfter) === Seq(0L, 1009L, 1019L))
    } finally stub.stop()
  }

  test("message parse lands in the typed layout — reader order: parent_process_guid BEFORE parent_process_id") {
    val df = spark.createDataset(Seq(
      Elastic.EsHit("idx", "1", 1000L, "agent0", "aid0", procMsg(0)))).toDF()
    val o = Elastic.typed(df, 1).select(col("o.*")).collect().head
    assert(o.getAs[String]("process_guid") === "pg-0")
    assert(o.getAs[Long]("process_id") === 0L)
    assert(o.getAs[String]("parent_process_guid") === "PPG-0")
    assert(o.getAs[Long]("parent_process_id") === 77L)
    assert(o.getAs[String]("user_s") === "u0")
    assert(o.getAs[Seq[String]]("hashes") === Seq("a1", "b2"))
    assert(o.getAs[Long]("logon_id") === 0x42L)
    assert(o.getAs[Boolean]("ok"))
  }

  test("CRLF-terminated messages parse identically (Rust trim strips \\r, Spark's space-only trim would not)") {
    val crlf = procMsg(0).replace("\n", "\r\n")
    val df = spark.createDataset(Seq(
      Elastic.EsHit("idx", "1", 1000L, "agent0", "aid0", crlf))).toDF()
    val o = Elastic.typed(df, 1).select(col("o.*")).collect().head
    assert(o.getAs[String]("process_guid") === "pg-0")
    assert(o.getAs[Long]("process_id") === 0L)
    assert(o.getAs[Long]("ts_ns") > 0L, "CRLF timestamp must still parse")
    assert(o.getAs[Boolean]("ok"))
  }

  test("a repeated key takes the LAST occurrence (reference match-arm overwrite) and never throws") {
    // a hostile CommandLine can embed "\nUser: ..." — a map-building parse
    // would die on DUPLICATED_MAP_KEY; the reference just overwrites
    val hostile = procMsg(0) + "\nUser: evil"
    val df = spark.createDataset(Seq(
      Elastic.EsHit("idx", "1", 1000L, "agent0", "aid0", hostile))).toDF()
    val o = Elastic.typed(df, 1).select(col("o.*")).collect().head
    assert(o.getAs[String]("user_s") === "evil")
    assert(o.getAs[String]("process_guid") === "pg-0")
  }

  test("each index pages from cursor 0 and keeps its short page") {
    // idx-a: 25 hits (two full pages + a short page of 5)
    // idx-b: 10 hits, ALL below idx-a's final cursor — the reference's
    // pager drops idx-a's short page and starts idx-b at cursor 1019
    val data = Map(
      ("idx-a", "1") -> hitsFor(25, base = 1000),
      ("idx-b", "1") -> hitsFor(10, base = 500))
    val stub = ElasticStub.start(data)
    try {
      val base = cfg(stub.url, 10, indices = Seq("idx-a", "idx-b"))
      assert(Elastic.fetchAll(base).length === 35)
      assert(stub.requests.map(r => (r.index, r.searchAfter)) ===
        Seq(("idx-a", 0L), ("idx-a", 1009L), ("idx-a", 1019L), ("idx-b", 0L), ("idx-b", 509L)))
    } finally stub.stop()
  }

  test("KvLinesStruct one-pass extraction ≡ the msgValue HOF form over adversarial blocks") {
    val msgs = Seq(
      procMsg(0),
      procMsg(1).replace("\n", "\r\n"),          // CRLF payload
      procMsg(2) + "\nUser: evil",               // repeated key → last wins
      "Process Create:\n" + procMsg(3),          // event-header line, empty value
      "NoColonLine\n" + procMsg(4) + "\n\n",     // colonless + trailing empties
      "User:x\n  ProcessGuid  :  pg  \nImage:\t-\r", // no-space / padded / tabbed
      "")
    val keys = Positional.sysmonCsv.head.fields.drop(3)
      .map(f => Elastic.messageKey(f.name))
    val df = spark.createDataset(msgs.zipWithIndex.map(_.swap)).toDF("id", "message")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val onePass = canon(df.select(col("id"),
        graft.functions.KvLinesStruct.of(col("message"), keys).as("kv"))
      .select(col("id") +: keys.map(k => col("kv").getField(k).as(k)): _*)
      .collect())
    val hof = canon(df.select(
      col("id") +: keys.map(k => Elastic.msgValue(col("message"), k).as(k)): _*)
      .collect())
    assert(onePass === hof)
  }

  test("KvLinesStruct ≡ msgValue on 150 ScalaCheck-random blocks, codegen AND interpreted") {
    import org.scalacheck.Gen
    val keys = Seq("UtcTime", "ProcessGuid", "Image", "User", "Hashes")
    val keyPool = keys ++ Seq("CommandLine", "Utc", "ImageX", "") // near-misses
    val pad = Gen.oneOf("", " ", "  ", "\t", " \t ")
    val genLine = Gen.frequency(
      7 -> (for {
        k <- Gen.oneOf(keyPool); p1 <- pad; p2 <- pad; p3 <- pad
        v <- Gen.oneOf("", "v", "a:b:c", "x y", "-", "C:\\dir\\exe", "é☃😀")
      } yield s"$p1$k$p2:$p3$v"),
      2 -> Gen.oneOf("no colon here", "", "   ", "Process Create"),
      1 -> Gen.const(":")) // empty key, line splits at its first colon
    val genBlock = for {
      ls <- Gen.listOf(genLine)
      sep <- Gen.oneOf("\n", "\r\n")
    } yield ls.mkString(sep)
    val samples = Gen.listOfN(146, genBlock).sample.get ++
      Seq("", "\n", "User:x\nUser:y\nUser:z", "😀:😀")
    // an RDD, not a local Seq: the optimizer would evaluate projections over
    // a LocalRelation itself, through eval, and codegen would never run
    val df = spark.sparkContext.parallelize(samples.zipWithIndex.map(_.swap), 2).toDF("id", "message")
    def run(): (Seq[String], Seq[String]) = {
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val onePass = canon(df.select(col("id"),
          graft.functions.KvLinesStruct.of(col("message"), keys).as("kv"))
        .select(col("id") +: keys.map(k => col("kv").getField(k).as(k)): _*)
        .collect())
      val hof = canon(df.select(
        col("id") +: keys.map(k => Elastic.msgValue(col("message"), k).as(k)): _*)
        .collect())
      (onePass, hof)
    }
    val (a, b) = run()
    assert(a === b, "codegen path diverged")
    val (ai, bi) = interpreted(run())
    assert(ai === bi, "interpreted path diverged")
  }

  test("messageKey maps every field of all 14 layouts onto the reference's actual message keys") {
    // verbatim from the 14 EventToCsv match arms
    // (/root/reference/src/parser/sysmon_csv/*.rs)
    val refKeys: Map[Int, Set[String]] = Map(
      1 -> Set("UtcTime", "ProcessGuid", "ProcessId", "Image", "FileVersion",
        "Description", "Product", "Company", "OriginalFileName", "CommandLine",
        "CurrentDirectory", "User", "LogonGuid", "LogonId", "TerminalSessionId",
        "IntegrityLevel", "Hashes", "ParentProcessGuid", "ParentProcessId",
        "ParentImage", "ParentCommandLine", "ParentUser"),
      2 -> Set("UtcTime", "ProcessGuid", "ProcessId", "Image", "TargetFilename",
        "CreationUtcTime", "PreviousCreationUtcTime", "User"),
      3 -> Set("UtcTime", "ProcessGuid", "ProcessId", "Image", "User", "Protocol",
        "Initiated", "SourceIsIpv6", "SourceIp", "SourceHostname", "SourcePort",
        "SourcePortName", "DestinationIsIpv6", "DestinationIp",
        "DestinationHostname", "DestinationPort", "DestinationPortName"),
      5 -> Set("UtcTime", "ProcessGuid", "ProcessId", "Image", "User"),
      7 -> Set("UtcTime", "ProcessGuid", "ProcessId", "Image", "ImageLoaded",
        "FileVersion", "Description", "Product", "Company", "OriginalFileName",
        "Hashes", "Signed", "Signature", "SignatureStatus", "User"),
      11 -> Set("UtcTime", "ProcessGuid", "ProcessId", "Image", "TargetFilename",
        "CreationUtcTime", "User"),
      13 -> Set("UtcTime", "EventType", "ProcessGuid", "ProcessId", "Image",
        "TargetObject", "Details", "User"),
      14 -> Set("UtcTime", "EventType", "ProcessGuid", "ProcessId", "Image",
        "TargetObject", "NewName", "User"),
      15 -> Set("UtcTime", "ProcessGuid", "ProcessId", "Image", "TargetFilename",
        "CreationUtcTime", "Hash", "Contents", "User"),
      17 -> Set("UtcTime", "EventType", "ProcessGuid", "ProcessId", "PipeName",
        "Image", "User"),
      22 -> Set("UtcTime", "ProcessGuid", "ProcessId", "QueryName", "QueryStatus",
        "QueryResults", "Image", "User"),
      23 -> Set("UtcTime", "ProcessGuid", "ProcessId", "User", "Image",
        "TargetFilename", "Hashes", "IsExecutable", "Archived"),
      25 -> Set("UtcTime", "ProcessGuid", "ProcessId", "Image", "Type", "User"),
      26 -> Set("UtcTime", "ProcessGuid", "ProcessId", "User", "Image",
        "TargetFilename", "Hashes", "IsExecutable"))
    Elastic.eventTypes.foreach { case (code, (protoName, _)) =>
      val proto = Positional.sysmonCsv.find(_.name == protoName).get
      val mapped = proto.fields.drop(3).map(f => Elastic.messageKey(f.name)).toSet
      assert(mapped === refKeys(code), s"code $code ($protoName)")
    }
  }
}
