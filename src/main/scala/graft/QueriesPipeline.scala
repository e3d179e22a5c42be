package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{Dedup, Enrich, Parse, Report, Route}
import graft.Oracles._
import graft.SparkEntry.Q

/** North-rule pipeline queries (parse→dedup→enrich→route→aggregate) plus
  * relational coverage (joins, windows, rollup, set ops). Each registry
  * entry is one [[SparkEntry.Q]]: a Spark plan and its DuckDB oracle SQL,
  * with identical column names/types.
  */
object QueriesPipeline {

  /** Framed v9 flowset rows (from [[graft.operators.BinaryDecode.v9FlowsetWalk]]
    * or its reference-compat twin) → the stateful decode's NfRec shape.
    */
  private def nfRecsOf(s: SparkSession, recs: DataFrame) = {
    import s.implicits._
    recs.select(col("exporter"), col("template_id").as("templateId"),
      col("seq"), col("is_template").as("isTemplate"), col("widths"),
      col("payload"), col("max_recs").as("maxRecs"),
      col("field_types").as("types"), col("scope_cnt").as("scopeCnt"))
      .as[graft.streaming.Templates.NfRec]
  }

  /** The decoded-v9 row p27, p32 and p33 compare. */
  private def v9Rows(decoded: DataFrame): DataFrame =
    decoded.select(col("exporter").cast("long").as("exporter_id"),
      col("templateId").as("template_id"), col("seq"),
      col("recIdx").as("rec_idx"), col("decoded"),
      element_at(col("fields"), 1).as("srcaddr"),
      element_at(col("fields"), 2).as("src_port"),
      element_at(col("fields"), 3).as("dst_port"),
      element_at(col("fields"), 4).as("in_bytes"))

  /** f03/f05: the NetFlow v5 rows of the staged capture files, peeled by
    * the default or the reference-compat pcap walk.
    */
  private def pcapV5Rows(s: SparkSession, dir: String, referenceCompat: Boolean): DataFrame = {
    val path = graft.sources.Pcap.stage(s, dir)
    val files = s.read.format("binaryFile").load(path)
    graft.operators.BinaryDecode.pcapNetflowV5Payloads(files, referenceCompat)
      .withColumn("o5", graft.operators.BinaryDecode.netflowV5(col("nf")))
      .where(col("o5.ok"))
      .select(col("o5.sys_uptime").as("did"), col("o5.version").as("version"),
        col("cap_sec"), col("o5.unix_secs").as("unix_secs"),
        graft.operators.BinaryDecode.ipv4String(col("o5.src_addr")).as("src_ip"),
        graft.operators.BinaryDecode.ipv4String(col("o5.dst_addr")).as("dst_ip"),
        col("o5.src_port").as("src_port"), col("o5.dst_port").as("dst_port"),
        col("o5.d_octets").as("d_octets"), col("o5.prot").as("prot"),
        col("o5.tcp_flags").as("tcp_flags"),
        col("o5.sampling_mode").as("sampling_mode"),
        col("o5.sampling_rate").as("sampling_rate"))
  }

  /** f04/f06: the w_process_create columns they compare, from the rows of
    * a typed `o` struct that parsed.
    */
  private def sysmonPick(typed: DataFrame): DataFrame =
    typed.where(col("o.ok"))
      .select(col("o.ts_ns").as("ts_ns"), col("o.process_guid").as("process_guid"),
        col("o.process_id").as("process_id"), col("o.image").as("image"),
        col("o.logon_id").as("logon_id"),
        concat_ws(",", col("o.hashes")).as("hashes_csv"),
        col("o.parent_image").as("parent_image"))

  /** DuckDB twin of [[sysmonPick]]: each field re-derived from `did`. */
  private def sysmonPickSql: String = {
    val proto = graft.operators.Positional.sysmonCsv.head
    val want = Set("ts_ns", "process_guid", "process_id", "image",
      "logon_id", "hashes", "parent_image")
    val cols = proto.fields.zipWithIndex.collect { case (f, i) if want(f.name) =>
      graft.operators.ProtoSynth.parsedSql(f.t, i, f.name)
        .map { case (n, sql) => s"  $sql AS $n" }
    }.flatten
    withCtes(V2Cte)("SELECT\n" + cols.mkString(",\n") + "\nFROM v2")
  }

  private def toks(s: SparkSession, dir: String) = Tables.tokens(s, dir)
  private def raws(s: SparkSession, dir: String) = Tables.rawEvents(s, dir)
  private def parsed(s: SparkSession, dir: String) = Parse.parsed(raws(s, dir))
  private def events(s: SparkSession, dir: String) = Tables.events(s, dir)

  /** p14's plan: the pipeline's transform (parse, ts dedup, enrich, route)
    * with the windowed `(source, ts)` dedup its oracle pins. The committed
    * form, `Pipeline.transformedExact`, sequences by the reference's run
    * rule (p14x).
    */
  private def windowedPipeline(s: SparkSession, dir: String): DataFrame =
    Route.routed(Enrich.withSourceAttrs(
      Dedup.timestampDedup(parsed(s, dir), col("ts_raw_ns"), Seq(col("source")), col("line_no"))))

  /** DuckDB twin of `Dedup.timestampDedupExact` with no carry, part 1:
    * `parsedx` with `run_id`, the running sum of the lines where a run
    * starts (a source's first line with a ts, or a ts other than its
    * previous such line's). Lines with a null ts sit in partitions of their
    * own and join no run.
    */
  private val ExactRuns = {
    val w = "PARTITION BY source, ts_raw_ns IS NULL ORDER BY line_no"
    s"""(SELECT *, sum(brk) OVER ($w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
       |  FROM (SELECT *, CASE WHEN ts_raw_ns = lag(ts_raw_ns) OVER ($w) THEN 0 ELSE 1 END AS brk
       |    FROM parsedx))""".stripMargin
  }

  /** Part 2: ts plus the count of earlier lines in the line's run. */
  private val ExactTsNs =
    "ts_raw_ns + row_number() OVER (PARTITION BY source, ts_raw_ns IS NULL, run_id ORDER BY line_no) - 1 AS ts_ns"

  val registry: Seq[Q] = Seq(
    Q("p01_tokenize", (s, dir) =>
      toks(s, dir).select(
        col("doc_id"), col("n_tok"),
        aggregate(col("tokens"), lit(0L), (acc, t) => acc + t).as("tok_sum"),
        graft.ops.TextOps.positionalFingerprint(col("tokens")).as("tok_fp"),
        col("source")),
      withCtes(ToksCte)(
        """SELECT doc_id, cast(len(tokens) AS int) AS n_tok,
          |  coalesce(cast(list_sum(tokens) AS bigint), 0) AS tok_sum,
          |  coalesce(cast(list_sum(list_transform(tokens, (t, i) -> cast(t AS bigint) * i)) % 1000000007 AS bigint), 0) AS tok_fp,
          |  source FROM toks""".stripMargin)),

    // token array emitted csv-encoded: the driver gate's pandas sort cannot
    // hash raw arrays; the csv is order-sensitive so equality is as strong
    Q("p02_tokens_full", (s, dir) =>
      toks(s, dir).select(col("doc_id"),
        concat_ws(",", col("tokens")).as("tokens_csv"), col("n_tok"), col("source")),
      withCtes(ToksCte)(
        """SELECT doc_id,
          |  array_to_string(list_transform(tokens, t -> cast(t AS varchar)), ',') AS tokens_csv,
          |  cast(len(tokens) AS int) AS n_tok, source FROM toks""".stripMargin)),

    Q("p03_parse_oplog", (s, dir) => {
      val r = raws(s, dir).where(col("kind") === "oplog")
        .withColumn("o", Parse.oplog(col("raw_line")))
      r.where(col("o.ok")).select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
        col("o.level").as("level"), col("o.contents").as("contents"))
    },
      withCtes(ToksCte, RawCte)(
        s"""SELECT doc_id,
           |  try_cast(regexp_extract(raw_line, '$OplogRe', 1) AS bigint)*1000000000
           |    + try_cast(regexp_extract(raw_line, '$OplogRe', 2) AS bigint)*1000 AS ts_ns,
           |  regexp_extract(raw_line, '$OplogRe', 3) AS level,
           |  regexp_extract(raw_line, '$OplogRe', 4) AS contents
           |FROM rawx WHERE kind='oplog' AND regexp_extract(raw_line, '$OplogRe', 3) <> ''""".stripMargin)),

    Q("p04_parse_nginx", (s, dir) => {
      val r = raws(s, dir).where(col("kind") === "nginx")
        .withColumn("o", Parse.nginx(col("raw_line")))
      r.where(col("o.ok")).select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
        col("o.src_ip").as("src_ip"), col("o.method").as("method"),
        col("o.path").as("path"), col("o.status").as("status"),
        col("o.resp_bytes").as("resp_bytes"))
    },
      withCtes(ToksCte, RawCte)(
        s"""SELECT doc_id,
           |  try_cast(regexp_extract(raw_line, '$NginxRe', 2) AS bigint)*1000000000 AS ts_ns,
           |  regexp_extract(raw_line, '$NginxRe', 1) AS src_ip,
           |  regexp_extract(raw_line, '$NginxRe', 3) AS method,
           |  regexp_extract(raw_line, '$NginxRe', 4) AS path,
           |  try_cast(regexp_extract(raw_line, '$NginxRe', 5) AS int) AS status,
           |  try_cast(regexp_extract(raw_line, '$NginxRe', 6) AS bigint) AS resp_bytes
           |FROM rawx WHERE kind='nginx' AND regexp_extract(raw_line, '$NginxRe', 5) <> ''""".stripMargin)),

    Q("p05_parse_fgt", (s, dir) => {
      val r = raws(s, dir).where(col("kind") === "fgt")
        .withColumn("o", Parse.fgt(col("raw_line")))
      r.where(col("o.ok")).select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
        col("o.src_ip").as("src_ip"), col("o.dst_ip").as("dst_ip"),
        col("o.proto").as("proto"), col("o.src_port").as("src_port"),
        col("o.dst_port").as("dst_port"), col("o.action").as("action"))
    },
      withCtes(ToksCte, RawCte)(
        """SELECT doc_id,
          |  try_cast(regexp_extract(raw_line, 'date=(\d+)', 1) AS bigint)*1000000000 AS ts_ns,
          |  regexp_extract(raw_line, 'srcip=([0-9.]+)', 1) AS src_ip,
          |  regexp_extract(raw_line, 'dstip=([0-9.]+)', 1) AS dst_ip,
          |  try_cast(regexp_extract(raw_line, 'proto=(\d+)', 1) AS int) AS proto,
          |  try_cast(regexp_extract(raw_line, 'srcport=(\d+)', 1) AS int) AS src_port,
          |  try_cast(regexp_extract(raw_line, 'dstport=(\d+)', 1) AS int) AS dst_port,
          |  regexp_extract(raw_line, 'action=(\w+)', 1) AS action
          |FROM rawx WHERE kind='fgt' AND regexp_extract(raw_line, 'date=(\d+)', 1) <> ''""".stripMargin)),

    Q("p06_parse_zeek", (s, dir) => {
      val r = raws(s, dir).where(col("kind") === "zeek")
        .withColumn("o", Parse.zeek(col("raw_line")))
      r.where(col("o.ok")).select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
        col("o.uid").as("uid"), col("o.src_ip").as("src_ip"),
        col("o.src_port").as("src_port"), col("o.dst_ip").as("dst_ip"),
        col("o.dst_port").as("dst_port"), col("o.proto").as("proto"),
        col("o.duration_ns").as("duration_ns"))
    },
      withCtes(ToksCte, RawCte)(
        """SELECT doc_id,
          |  try_cast(string_split(f[1], '.')[1] AS bigint)*1000000000 + try_cast(string_split(f[1], '.')[2] AS bigint)*1000 AS ts_ns,
          |  f[2] AS uid, f[3] AS src_ip, try_cast(f[4] AS int) AS src_port,
          |  f[5] AS dst_ip, try_cast(f[6] AS int) AS dst_port, f[7] AS proto,
          |  CASE WHEN f[8]='-' THEN 0 ELSE cast(round(try_cast(f[8] AS double)*1000000000) AS bigint) END AS duration_ns
          |FROM (SELECT doc_id, string_split(raw_line, chr(9)) AS f FROM rawx WHERE kind='zeek')
          |WHERE len(f) >= 8""".stripMargin)),

    Q("p07_parse_stats", (s, dir) =>
      parsed(s, dir).groupBy("kind").agg(
        count(lit(1)).as("records"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("ok_cnt"),
        sum(when(!col("parse_ok"), 1L).otherwise(0L)).as("failed_cnt")),
      withCtes(ToksCte, RawCte, ParsedCte)(
        """SELECT kind, count(*) AS records,
          |  cast(sum(CASE WHEN parse_ok THEN 1 ELSE 0 END) AS bigint) AS ok_cnt,
          |  cast(sum(CASE WHEN parse_ok THEN 0 ELSE 1 END) AS bigint) AS failed_cnt
          |FROM parsedx GROUP BY kind""".stripMargin)),

    Q("p08_ts_dedup", (s, dir) =>
      Dedup.timestampDedup(parsed(s, dir).where(col("parse_ok")),
        col("ts_raw_ns"), Seq(col("source")), col("line_no"))
        .select(col("doc_id"), col("source"), col("ts_raw_ns").as("ts_raw"), col("ts_ns")),
      withCtes(ToksCte, RawCte, ParsedCte)(
        """SELECT doc_id, source, ts_raw_ns AS ts_raw,
          |  ts_raw_ns + row_number() OVER (PARTITION BY source, ts_raw_ns ORDER BY line_no) - 1 AS ts_ns
          |FROM parsedx WHERE parse_ok""".stripMargin)),

    Q("p08x_ts_dedup_exact", (s, dir) =>
      Dedup.timestampDedupExact(parsed(s, dir), col("ts_raw_ns"), col("source"), col("line_no"), Map.empty)
        .where(col("parse_ok"))
        .select(col("doc_id"), col("source"), col("ts_raw_ns").as("ts_raw"), col("ts_ns")),
      withCtes(ToksCte, RawCte, ParsedCte)(
        s"""SELECT doc_id, source, ts_raw, ts_ns
          |FROM (SELECT doc_id, source, parse_ok, ts_raw_ns AS ts_raw, $ExactTsNs FROM $ExactRuns)
          |WHERE parse_ok""".stripMargin)),

    Q("p09_consec_dedup", (s, dir) =>
      Dedup.dropConsecutiveDuplicates(events(s, dir),
        Seq(col("user_id")), col("event_id"), Seq(col("event_type")))
        .select("event_id", "user_id", "event_type"),
      """SELECT event_id, user_id, event_type FROM (
        |  SELECT event_id, user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev
        |  FROM events) WHERE prev IS NULL OR prev <> event_type""".stripMargin),

    Q("p10_serial", (s, dir) =>
      toks(s, dir).select(col("doc_id"),
        Dedup.securitySerial(col("line_no")).as("serial")),
      withCtes(ToksCte)(
        "SELECT doc_id, ((line_no - 1) % 999) + 1 AS serial FROM toks")),

    Q("p11_enrich", (s, dir) =>
      Enrich.withDim(toks(s, dir), Tables.sourceDim(s, dir), "source")
        .select("doc_id", "source", "vendor", "log_type", "version"),
      withCtes(ToksCte, DimCte)(
        """SELECT t.doc_id, t.source, d.vendor, d.log_type, d.version
          |FROM toks t LEFT JOIN dim d USING (source)""".stripMargin)),

    Q("p12_route", (s, dir) =>
      Route.routed(parsed(s, dir)).groupBy("sink")
        .agg(count(lit(1)).as("records")),
      withCtes(ToksCte, RawCte, ParsedCte)(
        """SELECT CASE WHEN NOT parse_ok THEN 'quarantine' ELSE kind END AS sink,
          |  count(*) AS records
          |FROM parsedx GROUP BY 1""".stripMargin)),

    Q("p13_report", (s, dir) =>
      Report.perSink(Route.routed(parsed(s, dir))),
      withCtes(ToksCte, RawCte, ParsedCte)(
        """SELECT CASE WHEN NOT parse_ok THEN 'quarantine' ELSE kind END AS sink,
          |  count(*) AS records,
          |  cast(sum(bytes) AS bigint) AS sum_bytes,
          |  min(bytes) AS min_bytes, max(bytes) AS max_bytes,
          |  cast(floor(sum(bytes)*1.0/count(*)) AS bigint) AS avg_bytes_floor,
          |  cast(sum(CASE WHEN parse_ok THEN 1 ELSE 0 END) AS bigint) AS success_cnt,
          |  cast(sum(CASE WHEN parse_ok THEN 0 ELSE 1 END) AS bigint) AS failed_cnt
          |FROM parsedx GROUP BY 1""".stripMargin)),

    Q("p14_pipeline", (s, dir) =>
      windowedPipeline(s, dir)
        .groupBy("sink", "vendor").agg(
          count(lit(1)).as("records"),
          sum(col("bytes")).as("sum_bytes"),
          sum(col("n_tok")).as("sum_n_tok"),
          min(col("ts_ns")).as("min_ts"),
          max(col("ts_ns")).as("max_ts")),
      withCtes(ToksCte, RawCte, ParsedCte, DimCte)(
        """SELECT sink, vendor, count(*) AS records,
          |  cast(sum(bytes) AS bigint) AS sum_bytes,
          |  cast(sum(n_tok) AS bigint) AS sum_n_tok,
          |  min(ts_ns) AS min_ts, max(ts_ns) AS max_ts
          |FROM (
          |  SELECT d.*, m.vendor,
          |    CASE WHEN NOT d.parse_ok THEN 'quarantine' ELSE d.kind END AS sink
          |  FROM (
          |    SELECT *, ts_raw_ns + row_number() OVER (PARTITION BY source, ts_raw_ns ORDER BY line_no) - 1 AS ts_ns
          |    FROM parsedx) d
          |  LEFT JOIN dim m USING (source))
          |GROUP BY 1, 2""".stripMargin)),

    Q("p14x_pipeline_exact", (s, dir) =>
      graft.plans.Pipeline.transformedExact(s, dir)
        .groupBy("sink", "vendor").agg(
          count(lit(1)).as("records"),
          sum(col("bytes")).as("sum_bytes"),
          sum(col("n_tok")).as("sum_n_tok"),
          min(col("ts_ns")).as("min_ts"),
          max(col("ts_ns")).as("max_ts")),
      withCtes(ToksCte, RawCte, ParsedCte, DimCte)(
        s"""SELECT sink, vendor, count(*) AS records,
          |  cast(sum(bytes) AS bigint) AS sum_bytes,
          |  cast(sum(n_tok) AS bigint) AS sum_n_tok,
          |  min(ts_ns) AS min_ts, max(ts_ns) AS max_ts
          |FROM (
          |  SELECT d.*, m.vendor,
          |    CASE WHEN NOT d.parse_ok THEN 'quarantine' ELSE d.kind END AS sink
          |  FROM (SELECT *, $ExactTsNs FROM $ExactRuns) d
          |  LEFT JOIN dim m USING (source))
          |GROUP BY 1, 2""".stripMargin)),

    Q("p15_intra_nanos", (s, dir) => {
      val e = events(s, dir).withColumn("sec",
        floor(unix_micros(col("ts").cast("timestamp")) / lit(1000000L)).cast("long"))
      Dedup.intraGroupNanos(e, Seq(col("user_id")), col("sec"), col("event_id"))
        .select("event_id", "user_id", "sec", "nanos")
    },
      """SELECT event_id, user_id,
        |  cast(floor(epoch_us(ts)/1000000) AS bigint) AS sec,
        |  row_number() OVER (PARTITION BY user_id, cast(floor(epoch_us(ts)/1000000) AS bigint) ORDER BY event_id) - 1 AS nanos
        |FROM events""".stripMargin),

    Q("e01_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir).select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(w) * 100).cast("long").as("run_cents"))
    },
      """SELECT event_id, user_id,
        |  cast(round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100) AS bigint) AS run_cents
        |FROM events""".stripMargin),

    Q("e02_top_purchasers", (s, dir) => {
      val agg = events(s, dir).where(col("event_type") === "purchase")
        .groupBy("user_id").agg(
          round(sum(col("value")) * 100).cast("long").as("spend_cents"),
          count(lit(1)).as("records"))
      // orderBy+limit compiles to TakeOrderedAndProject: each task computes a
      // partial top-5, the driver merges — no single-task global sort. The
      // unpartitioned rank window then runs over only the 5 survivors.
      val top = agg.orderBy(col("spend_cents").desc, col("user_id")).limit(5)
      val w = Window.orderBy(col("spend_cents").desc, col("user_id"))
      top.withColumn("rnk", row_number().over(w))
    },
      """SELECT user_id, spend_cents, records, rnk FROM (
        |  SELECT user_id, spend_cents, records,
        |    cast(row_number() OVER (ORDER BY spend_cents DESC, user_id) AS int) AS rnk
        |  FROM (
        |    SELECT user_id, cast(round(sum(value)*100) AS bigint) AS spend_cents,
        |      count(*) AS records
        |    FROM events WHERE event_type='purchase' GROUP BY user_id))
        |WHERE rnk <= 5""".stripMargin),

    Q("e03_json_extract", (s, dir) =>
      events(s, dir).select(col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k")),
      """SELECT event_id, try_cast(regexp_extract(props, '"k": (\d+)', 1) AS int) AS k FROM events"""),

    Q("e04_hourly_agg", (s, dir) =>
      events(s, dir).groupBy(
        floor(unix_micros(col("ts").cast("timestamp")) / lit(3600000000L)).cast("long").as("hour_bucket"),
        col("event_type")).agg(
          count(lit(1)).as("cnt"),
          round(sum(col("value")) * 100).cast("long").as("sum_cents")),
      """SELECT cast(floor(epoch_us(ts)/3600000000) AS bigint) AS hour_bucket, event_type,
        |  count(*) AS cnt, cast(round(sum(value)*100) AS bigint) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin),

    // gap-based sessionization (30-min gap): the session assignment every
    // behavioral-events pipeline runs; per-user window state only
    Q("e06_sessionize", (s, dir) =>
      graft.ops.CurationOps.sessionize(events(s, dir), gapSec = 1800),
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         cast(round(value*100) AS bigint) AS cents
        |  FROM events),
        |fl AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |                    > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM ev),
        |se AS (
        |  SELECT *, cast(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS sess
        |  FROM fl)
        |SELECT user_id, sess, min(us) AS start_us, max(us) AS end_us,
        |  count(*) AS n_events, cast(sum(cents) AS bigint) AS sum_cents
        |FROM se GROUP BY 1, 2""".stripMargin),

    Q("q01_agg", (s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag", "l_linestatus").agg(
        round(sum(col("l_quantity")) * 100).cast("long").as("sum_qty_c"),
        round(sum(col("l_extendedprice")) * 100).cast("long").as("sum_base_c"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) * 100).cast("long").as("sum_disc_c"),
        count(lit(1)).as("cnt")),
      """SELECT l_returnflag, l_linestatus,
        |  cast(round(sum(l_quantity)*100) AS bigint) AS sum_qty_c,
        |  cast(round(sum(l_extendedprice)*100) AS bigint) AS sum_base_c,
        |  cast(round(sum(l_extendedprice*(1-l_discount))*100) AS bigint) AS sum_disc_c,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin),

    // left-semi join (EXISTS): orders that contain at least one
    // high-discount line — completes the q-series relational coverage
    Q("q02_semi_join", (s, dir) =>
      Tables.orders(s, dir).join(
        Tables.lineitem(s, dir).where(col("l_discount") >= 0.09)
          .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("total_cents")),
      """SELECT o_orderkey, cast(round(o_totalprice*100) AS bigint) AS total_cents
        |FROM orders WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_discount >= 0.09)""".stripMargin),

    // grouping sets: per-source, per-lang, and per-(source,lang) aggregates
    // in one shuffle pass
    Q("q04_grouping_sets", (s, dir) =>
      Tables.documents(s, dir).groupingSets(
        Seq(Seq(col("source")), Seq(col("lang")), Seq(col("source"), col("lang"))),
        col("source"), col("lang"))
        .agg(count(lit(1)).as("records"), sum(col("n_chars")).as("sum_chars"))
        .select("source", "lang", "records", "sum_chars"),
      """SELECT source, lang, count(*) AS records, cast(sum(n_chars) AS bigint) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((source), (lang), (source, lang))""".stripMargin),

    Q("q03_join", (s, dir) =>
      // per-ROW integer cents before the sum: a rounded sum of doubles is
      // addition-order-dependent — at sf0.1 the parallel vs sequential
      // orders flipped 110 rows by one cent (sf0.01 happened to agree)
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "c_mktsegment").agg(
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("line_cnt")),
      """SELECT l_orderkey, c_mktsegment,
        |  cast(sum(cast(round(l_extendedprice*(1-l_discount)*100) AS bigint)) AS bigint) AS revenue_cents,
        |  count(*) AS line_cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin),

    Q("q05_broadcast", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name", "r_name").agg(
          // per-ROW integer cents before the sum (same as q04): rounding a
          // parallel double sum is addition-order-dependent — the 10x gate
          // caught this group sum off by one cent
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("cnt")),
      """SELECT n_name, r_name,
        |  cast(sum(cast(round(l_extendedprice*(1-l_discount)*100) AS bigint)) AS bigint) AS revenue_cents,
        |  count(*) AS cnt
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin),

    Q("q06_rollup", (s, dir) =>
      Tables.documents(s, dir).rollup("source", "lang")
        .agg(count(lit(1)).as("records")),
      "SELECT source, lang, count(*) AS records FROM documents GROUP BY ROLLUP (source, lang)"),

    Q("q07_except", (s, dir) => {
      val d = Tables.documents(s, dir)
      d.where(col("source") === "src0").select(col("doc_id").as("did"))
        .except(d.where(col("lang") === "en").select(col("doc_id").as("did")))
    },
      """SELECT doc_id AS did FROM documents WHERE source='src0'
        |EXCEPT
        |SELECT doc_id AS did FROM documents WHERE lang='en'""".stripMargin),

    // rate anomaly: 10-min buckets where a user's event count reaches 1.5×
    // their own average bucket rate — the threshold comparison is
    // cross-multiplied (2·cnt·n_buckets ≥ 3·total) so no division/doubles
    Q("e09_rate_anomaly", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        expr("unix_micros(cast(ts AS timestamp)) div 600000000").as("bucket"))
      val b = ev.groupBy("user_id", "bucket").agg(count(lit(1)).as("cnt"))
      val st = b.groupBy("user_id").agg(sum(col("cnt")).as("tot"), count(lit(1)).as("nb"))
      b.join(st, "user_id")
        .where(col("cnt") * col("nb") * 2 >= col("tot") * 3)
        .select("user_id", "bucket", "cnt", "tot", "nb")
    },
      """WITH b AS (
        |  SELECT user_id, epoch_us(ts) // 600000000 AS bucket, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT user_id, cast(sum(cnt) AS bigint) AS tot, count(*) AS nb
        |       FROM b GROUP BY 1)
        |SELECT b.user_id, b.bucket, b.cnt, st.tot, st.nb
        |FROM b JOIN st USING (user_id)
        |WHERE b.cnt * st.nb * 2 >= st.tot * 3""".stripMargin),

    // trailing-hour event rate per user via a RANGE window frame over the
    // event-time axis (the frame type nothing else exercises): peer rows
    // with equal timestamps are included on both engines, and frame state
    // is bounded by one user's events inside one hour, never the partition
    Q("e10_trailing_rate", (s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-3599999999L, 0)
      ev.withColumn("events_1h", count(lit(1)).over(w))
        .select("event_id", "user_id", "us", "events_1h")
    },
      """SELECT event_id, user_id, epoch_us(ts) AS us,
        |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS events_1h
        |FROM events""".stripMargin),

    // retention cohorts: users bucketed by first-seen day, counted in
    // each later day they return — the (cohort, offset) matrix every
    // behavioral pipeline reports. Two user-keyed aggregates, no windows
    Q("e08_retention", (s, dir) => {
      val day = 86400000000L // µs per day
      val ev = events(s, dir).select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      val first = ev.groupBy("user_id").agg(min(col("us")).as("first_us"))
        .withColumn("cohort", expr(s"first_us div $day"))
      ev.join(first, "user_id")
        .select(col("user_id"), col("cohort"),
          (expr(s"us div $day") - col("cohort")).as("day_offset"))
        .distinct()
        .groupBy("cohort", "day_offset").agg(count(lit(1)).as("users"))
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |first AS (SELECT user_id, min(us) // 86400000000 AS cohort FROM ev GROUP BY 1),
        |act AS (SELECT DISTINCT e.user_id, f.cohort,
        |    (e.us // 86400000000) - f.cohort AS day_offset
        |  FROM ev e JOIN first f USING (user_id))
        |SELECT cohort, day_offset, count(*) AS users FROM act GROUP BY 1, 2""".stripMargin),

    // funnel: ordered view→click→purchase conversion per user. Each stage
    // is a conditional min AFTER the previous stage's timestamp — three
    // user-keyed aggregates (no per-user sort, no window over event rows)
    Q("e07_funnel", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"), col("event_type"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("v_us"))
      val c = ev.join(v, "user_id")
        .where(col("event_type") === "click" && col("us") >= col("v_us"))
        .groupBy("user_id").agg(min(col("us")).as("c_us"))
      val p = ev.join(c, "user_id")
        .where(col("event_type") === "purchase" && col("us") >= col("c_us"))
        .groupBy("user_id").agg(min(col("us")).as("p_us"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("v_us"), col("c_us"), col("p_us"),
          when(col("p_us").isNotNull, 1L).otherwise(0L).as("converted"))
    },
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        |v AS (SELECT user_id, min(us) AS v_us FROM ev WHERE event_type='view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.us) AS c_us FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type='click' AND e.us >= v.v_us GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.us) AS p_us FROM ev e JOIN c USING (user_id)
        |      WHERE e.event_type='purchase' AND e.us >= c.c_us GROUP BY 1)
        |SELECT v.user_id, v.v_us, c.c_us, p.p_us,
        |  CASE WHEN p.p_us IS NOT NULL THEN 1 ELSE 0 END AS converted
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin),

    // pivot: hour × event_type count matrix (Spark's native pivot; the
    // twin is the equivalent conditional aggregation — one shuffle either
    // way, column set fixed by the explicit value list, never discovered
    // at runtime from data)
    Q("q10_pivot", (s, dir) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      events(s, dir)
        .groupBy(floor(unix_micros(col("ts").cast("timestamp")) / lit(3600000000L))
          .cast("long").as("hour_bucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
    },
      """SELECT cast(floor(epoch_us(ts)/3600000000) AS bigint) AS hour_bucket,
        |  cast(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS bigint) AS view,
        |  cast(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS bigint) AS click,
        |  cast(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS bigint) AS purchase,
        |  cast(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS bigint) AS signup,
        |  cast(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS bigint) AS error
        |FROM events GROUP BY 1""".stripMargin),

    // as-of join (operator Spark lacks natively): each event picks up the
    // latest config update with update.us <= event.us for its user —
    // union + last(ignoreNulls) window, one shuffle on the key, no
    // non-equi join; DuckDB's native ASOF LEFT JOIN is the twin
    Q("q08_asof_enrich", (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      val upd = ev.where(col("event_id") % 37 === 0)
        .groupBy("user_id", "us").agg(max(col("event_id")).as("cfg"))
      graft.operators.AsOf.asOf(ev, upd, "user_id", "us", "cfg", Seq("event_id"))
        .select("event_id", "user_id", "us", "asof_cfg")
    },
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |upd AS (SELECT user_id, us, max(event_id) AS cfg
        |        FROM ev WHERE event_id % 37 = 0 GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.us, b.cfg AS asof_cfg
        |FROM ev p ASOF LEFT JOIN upd b ON p.user_id = b.user_id AND p.us >= b.us""".stripMargin),

    // range join (interval containment): probes equi-join their block id
    // against block-exploded ranges, then filter the bound — O(1)
    // candidates per probe for bounded-width ranges; BETWEEN twin
    Q("q09_range_enrich", (s, dir) => {
      val d = Tables.documents(s, dir)
      val probe = d.select(col("doc_id").as("did"),
        (col("doc_id") * 7919 % 250000).as("k"))
      val ranges = d.where(col("doc_id") < 250)
        .select((col("doc_id") * 997).as("rs"), (col("doc_id") * 997 + 499).as("re"),
          concat(lit("org-"), col("doc_id")).as("org"))
      graft.operators.AsOf.rangeJoin(probe, ranges, "k", "rs", "re", "org",
        Seq("did"), blockSize = 512)
    },
      """WITH probe AS (SELECT doc_id AS did, (doc_id * 7919) % 250000 AS k FROM documents),
        |rng AS (SELECT doc_id*997 AS rs, doc_id*997+499 AS re,
        |               'org-' || cast(doc_id AS varchar) AS org
        |        FROM documents WHERE doc_id < 250)
        |SELECT p.k, p.did, r.org FROM probe p LEFT JOIN rng r ON p.k BETWEEN r.rs AND r.re""".stripMargin),

    // family-2 oracles: independent arithmetic re-derivation from doc_id
    // (the oracle does NOT re-parse the line — it computes what the parse
    // must produce, so a Spark-side parse bug cannot self-confirm)
    Q("p16_parse_wapples", (s, dir) => {
      val r = Tables.rawEvents2(s, dir).where(col("kind") === "wapples")
        .withColumn("o", graft.operators.ParseVendors.wapples(col("raw_line"),
          Dedup.securitySerial(col("line_no"))))
      r.where(col("o.ok")).select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
        col("o.src_ip").as("src_ip"), col("o.dst_ip").as("dst_ip"),
        col("o.dst_port").as("dst_port"), col("o.proto").as("proto"))
    },
      // offset read from the text: +0900 docs shift back 9h, -0500 forward 5h;
      // serial 1..999 added like the reference's security-log collector
      withCtes(V2Cte)(
        """SELECT doc_id,
          |  (epoch_us(make_timestamp(2023, mo, dy, hh, mi, cast(ss AS double)))
          |   - CASE WHEN did % 4 < 2 THEN 32400000000 ELSE -18000000000 END)*1000
          |   + ((did - 1) % 999) + 1 AS ts_ns,
          |  '10.1.1.' || cast(did % 200 + 1 AS varchar) AS src_ip,
          |  '10.9.' || cast(did % 250 AS varchar) || '.' || cast(did % 200 + 1 AS varchar) AS dst_ip,
          |  cast(1 + did % 65535 AS int) AS dst_port,
          |  'tcp' AS proto
          |FROM v2 WHERE did % 3 = 0""".stripMargin)),

    Q("p17_parse_ubuntu", (s, dir) => {
      val r = Tables.rawEvents2(s, dir).where(col("kind") === "ubuntu")
        .withColumn("o", graft.operators.ParseVendors.ubuntu(col("raw_line"),
          Dedup.securitySerial(col("line_no"))))
      r.where(col("o.ok")).select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
        col("o.host").as("host"), col("o.daemon").as("daemon"),
        col("o.pid").as("pid"), col("o.contents").as("contents"))
    },
      withCtes(V2Cte)(
        """SELECT doc_id,
          |  epoch_us(make_timestamp(2025, mo, dy, hh, mi, cast(ss AS double)))*1000 + ((did - 1) % 999) + 1 AS ts_ns,
          |  'host' || cast(did % 20 AS varchar) AS host, 'sshd' AS daemon,
          |  cast(did % 9000 + 100 AS int) AS pid,
          |  'Failed password for user' || cast(did AS varchar) || ' from 10.0.0.5' AS contents
          |FROM v2 WHERE did % 3 = 1""".stripMargin)),

    Q("p18_parse_sysmon", (s, dir) => {
      val r = Tables.rawEvents2(s, dir).where(col("kind") === "sysmon")
        .withColumn("o", graft.operators.ParseVendors.sysmon(col("raw_line")))
      r.where(col("o.ok")).select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
        col("o.provider").as("provider"), col("o.event_code").as("event_code"),
        col("o.image").as("image"), col("o.logon_id").as("logon_id"),
        concat_ws(",", col("o.hashes")).as("hashes_csv"))
    },
      withCtes(V2Cte)({
        val fold = (1 to 5).foldLeft("cast(0 AS bigint)") { (acc, i) =>
          s"($acc*16 + (ascii(substr(hx,$i,1))-48))"
        }
        s"""SELECT doc_id,
           |  (epoch_us(make_timestamp(2023, mo, dy, hh, mi, cast(ss AS double))) + (did % 1000)*1000)*1000 AS ts_ns,
           |  'Microsoft-Windows-Sysmon' AS provider, cast(1 AS int) AS event_code,
           |  'proc' || cast(did % 40 AS varchar) || '.exe' AS image,
           |  $fold AS logon_id,
           |  'SHA1=s' || cast(did AS varchar) || ',MD5=m' || cast(did AS varchar) AS hashes_csv
           |FROM (SELECT *, lpad(cast(did % 100000 AS varchar), 5, '0') AS hx FROM v2)
           |WHERE did % 3 = 2""".stripMargin
      })),

    // the REAL NetFlow v5 wire format end-to-end: 24-byte header (all 9
    // fields incl. unix_nsecs / flow_sequence / engine ids / sampling
    // interval with its mode/rate split) + a 48-byte 18-field record at the
    // reference's exact offsets (packet.rs:265-288,402-463)
    Q("p19_netflow_decode", (s, dir) => {
      val r = Tables.nfPackets(s, dir)
        .withColumn("o", graft.operators.BinaryDecode.netflowV5(col("packet")))
      r.where(col("o.ok")).select(col("doc_id"),
        col("o.version").as("version"), col("o.flow_count").as("flow_count"),
        col("o.sys_uptime").as("sys_uptime"), col("o.unix_secs").as("unix_secs"),
        col("o.unix_nsecs").as("unix_nsecs"),
        col("o.flow_sequence").as("flow_sequence"),
        col("o.engine_type").as("engine_type"), col("o.engine_id").as("engine_id"),
        col("o.sampling_mode").as("sampling_mode"),
        col("o.sampling_rate").as("sampling_rate"),
        graft.operators.BinaryDecode.ipv4String(col("o.src_addr")).as("src_ip"),
        graft.operators.BinaryDecode.ipv4String(col("o.dst_addr")).as("dst_ip"),
        graft.operators.BinaryDecode.ipv4String(col("o.next_hop")).as("next_hop_ip"),
        col("o.input").as("input"), col("o.output").as("output"),
        col("o.d_pkts").as("d_pkts"), col("o.d_octets").as("d_octets"),
        col("o.first_ms").as("first_ms"), col("o.last_ms").as("last_ms"),
        col("o.src_port").as("src_port"), col("o.dst_port").as("dst_port"),
        col("o.tcp_flags").as("tcp_flags"), col("o.prot").as("prot"),
        col("o.tos").as("tos"), col("o.src_as").as("src_as"),
        col("o.dst_as").as("dst_as"), col("o.src_mask").as("src_mask"),
        col("o.dst_mask").as("dst_mask"))
    },
      withCtes(V2Cte)(
        s"""SELECT doc_id, cast(5 AS bigint) AS version, cast(1 AS bigint) AS flow_count,
          |  cast(did % 4294967296 AS bigint) AS sys_uptime,
          |  cast(1700000000 + did % 1000 AS bigint) AS unix_secs,
          |  cast((did % 999) * 1000003 % 1000000000 AS bigint) AS unix_nsecs,
          |  cast((did + 10) % 4294967296 AS bigint) AS flow_sequence,
          |  cast(did % 4 AS bigint) AS engine_type,
          |  cast(did % 16 AS bigint) AS engine_id,
          |  cast((did % 4) * 64 AS bigint) AS sampling_mode,
          |  cast(did % 16384 AS bigint) AS sampling_rate,
          |  ${dottedSql("sa")} AS src_ip,
          |  ${dottedSql("da")} AS dst_ip,
          |  ${dottedSql("nh")} AS next_hop_ip,
          |  cast(did % 65536 AS bigint) AS input,
          |  cast((did * 3) % 65536 AS bigint) AS output,
          |  cast(did % 100000 AS bigint) AS d_pkts,
          |  cast(did % 4294967296 AS bigint) AS d_octets,
          |  cast((did % 999983) * 5 % 4294967296 AS bigint) AS first_ms,
          |  cast(((did % 999983) * 5 + 1000) % 4294967296 AS bigint) AS last_ms,
          |  cast(1024 + did % 60000 AS bigint) AS src_port, cast(443 AS bigint) AS dst_port,
          |  cast(did % 256 AS bigint) AS tcp_flags,
          |  cast(CASE WHEN did % 2 = 0 THEN 6 ELSE 17 END AS bigint) AS prot,
          |  cast((did * 3) % 256 AS bigint) AS tos,
          |  cast(did % 65536 AS bigint) AS src_as,
          |  cast((did * 7) % 65536 AS bigint) AS dst_as,
          |  cast(did % 33 AS bigint) AS src_mask,
          |  cast((did * 3) % 33 AS bigint) AS dst_mask
          |FROM (SELECT *, (did % 1000003) * 2654435761 % 4294967296 AS sa,
          |        ((did % 999983) * 7919 + 5) % 4294967296 AS da,
          |        (did % 999983) * 31 % 4294967296 AS nh FROM v2)""".stripMargin)),

    // parenthesized tuple lists "(a,b),(c,d)" → rows, the giganto-import
    // nested-collection parse (parse_parenthesized_tuples —
    // /root/reference/src/parser/giganto_import.rs:77-90; used for FTP
    // commands, DceRpc contexts, Kerberos tickets)
    Q("p20_tuple_list", (s, dir) => {
      val tupRe = "\\(([^,]+),([^)]+)\\)"
      val did = col("did")
      val line = concat(lit("(cmd"), did, lit(",arg"), did % 7, lit("),(cmd"),
        did + 1, lit(",arg"), (did + 1) % 7, lit(")"))
      Tables.rawEvents2(s, dir).select(col("doc_id"), line.as("tuples"))
        .select(col("doc_id"),
          posexplode(regexp_extract_all(col("tuples"), lit(tupRe), lit(0))))
        .select(col("doc_id"), col("pos").as("idx"),
          regexp_extract(col("col"), tupRe, 1).as("cmd"),
          regexp_extract(col("col"), tupRe, 2).as("arg"))
    },
      withCtes(V2Cte)(
        """SELECT doc_id, cast(0 AS int) AS idx,
          |  'cmd' || cast(did AS varchar) AS cmd, 'arg' || cast(did % 7 AS varchar) AS arg FROM v2
          |UNION ALL
          |SELECT doc_id, cast(1 AS int) AS idx,
          |  'cmd' || cast(did + 1 AS varchar) AS cmd, 'arg' || cast((did + 1) % 7 AS varchar) AS arg FROM v2""".stripMargin)),

    // transfer_skip_count / transfer_count semantics: skip counts records
    // read, limit counts successful parses (reference: skip
    // src/collector/zeek.rs:111-113, limit :178-181). Windows partition by
    // kind — the per-file sequential order the reference operates in; files
    // parallelize, lines within a file do not.
    Q("p21_skip_limit", (s, dir) => {
      val w = Window.partitionBy(col("kind")).orderBy(col("line_no"))
      val r = parsed(s, dir).where(col("kind") === "oplog")
        .withColumn("rn", row_number().over(w)).where(col("rn") > 10)
      r.where(col("parse_ok"))
        .withColumn("sn", row_number().over(w)).where(col("sn") <= 25)
        .select(col("doc_id"), col("line_no"), col("level"))
    },
      withCtes(ToksCte, RawCte, ParsedCte)(
        """SELECT doc_id, line_no, level FROM (
          |  SELECT *, row_number() OVER (PARTITION BY kind ORDER BY line_no) AS sn FROM (
          |    SELECT * FROM (
          |      SELECT *, row_number() OVER (PARTITION BY kind ORDER BY line_no) AS rn
          |      FROM parsedx WHERE kind = 'oplog') WHERE rn > 10) WHERE parse_ok)
          |WHERE sn <= 25""".stripMargin)),

    // the two remaining timestamp families (SURVEY §2.2): giganto
    // sec.9-digit-nanos (giganto_import.rs:28-47) and RFC3339
    // (giganto_import.rs:50-57) — both parsed from synthesized strings,
    // oracle re-derives arithmetically
    Q("p22_parse_ts_formats", (s, dir) => {
      val did = col("did")
      val sec = lit(1700000000L) + did % 1000L
      val nanos9 = lpad(((did % 999L) * 1000003L % 1000000000L).cast("string"), 9, "0")
      val (mo, dy, hh, mi, ss) = (
        lpad((lit(1) + did % 12).cast("string"), 2, "0"),
        lpad((lit(10) + did % 19).cast("string"), 2, "0"),
        lpad((did % 24).cast("string"), 2, "0"),
        lpad((did % 60).cast("string"), 2, "0"),
        lpad(((did * 7) % 60).cast("string"), 2, "0"))
      val base = Tables.rawEvents2(s, dir).select(col("doc_id"), col("did"),
        concat(sec.cast("string"), lit("."), nanos9).as("giganto_ts"),
        concat(lit("2023-"), mo, lit("-"), dy, lit("T"), hh, lit(":"), mi, lit(":"), ss, lit("Z")).as("rfc_ts"))
      val g = split(col("giganto_ts"), "\\.")
      base.select(col("doc_id"),
        (element_at(g, 1).cast("long") * lit(1000000000L) + element_at(g, 2).cast("long")).as("ts_giganto_ns"),
        (unix_micros(to_timestamp(col("rfc_ts"))) * lit(1000L)).as("ts_rfc_ns"))
    },
      withCtes(V2Cte)(
        """SELECT doc_id,
          |  (1700000000 + did % 1000)*1000000000 + ((did % 999) * 1000003 % 1000000000) AS ts_giganto_ns,
          |  epoch_us(make_timestamp(2023, mo, dy, hh, mi, cast(ss AS double)))*1000 AS ts_rfc_ns
          |FROM v2""".stripMargin)),

    // DNS-style parse: string-array answers, int-array TTLs, T/F bools,
    // '-' sentinel → empty arrays (SURVEY §1.2 type-family coverage)
    Q("p23_parse_dns", (s, dir) => {
      val did = col("did")
      val sec = (lit(1700000000L) + did % 1000L).cast("string")
      val ans = when(did % 5 === 0, lit("-")).otherwise(
        concat(lit("10.0.0."), (did % 9).cast("string"), lit(",10.0.1."), (did % 9).cast("string")))
      val ttl = when(did % 5 === 0, lit("-")).otherwise(
        concat((did % 300).cast("string"), lit(","), (did % 300 + 60).cast("string")))
      val aa = when(did % 2 === 0, lit("T")).otherwise(lit("F"))
      val rd = when(did % 3 === 0, lit("T")).otherwise(lit("F"))
      val line = concat(sec, lit(" q=host"), (did % 97).cast("string"), lit(".example.com"),
        lit(" answers="), ans, lit(" ttls="), ttl, lit(" aa="), aa, lit(" rd="), rd)
      val r = Tables.rawEvents2(s, dir).select(col("doc_id"), col("did"), line.as("raw"))
        .withColumn("o", graft.operators.ParseVendors.dns(col("raw")))
      r.where(col("o.ok")).select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
        col("o.query").as("query"),
        concat_ws(",", col("o.answers")).as("answers_csv"),
        concat_ws(",", col("o.ttls")).as("ttls_csv"),
        col("o.aa").as("aa"), col("o.rd").as("rd"))
    },
      withCtes(V2Cte)(
        """SELECT doc_id,
          |  (1700000000 + did % 1000)*1000000000 AS ts_ns,
          |  'host' || cast(did % 97 AS varchar) || '.example.com' AS query,
          |  CASE WHEN did % 5 = 0 THEN ''
          |       ELSE '10.0.0.' || cast(did % 9 AS varchar) || ',10.0.1.' || cast(did % 9 AS varchar) END AS answers_csv,
          |  CASE WHEN did % 5 = 0 THEN ''
          |       ELSE cast(did % 300 AS varchar) || ',' || cast(did % 300 + 60 AS varchar) END AS ttls_csv,
          |  did % 2 = 0 AS aa, did % 3 = 0 AS rd
          |FROM v2""".stripMargin)),

    // variable-length REAL v5 packet decode: one row per 48-byte record at
    // dynamic byte offsets, decode-what-fits on truncated tails (every
    // did%5==2 packet is cut 8 bytes short of its claimed count and must
    // still yield its whole records — packet.rs:408-411), header-derived
    // sequence/engine/sampling carried onto every record like the
    // reference's Netflow5 struct (packet.rs:445-460)
    Q("p26_netflow_multi", (s, dir) =>
      graft.operators.BinaryDecode.netflowV5AllRecords(
        Tables.nfPacketsMulti(s, dir).select("doc_id", "packet"))
        .select("doc_id", "flow_count", "unix_secs", "flow_sequence",
          "engine_type", "engine_id", "sampling_mode", "sampling_rate",
          "rec_idx", "src_addr", "dst_addr", "next_hop", "input", "output",
          "d_pkts", "d_octets", "first_ms", "last_ms", "src_port", "dst_port",
          "tcp_flags", "prot", "tos", "src_as", "dst_as", "src_mask",
          "dst_mask"),
      // decoded-record count: did%5==2 packets are truncated 8 bytes short of
      // their claimed 1+did%3 records → the last record doesn't fit and only
      // did%3 decode (decode-what-fits, packet.rs:408-411)
      withCtes(V2Cte)(
        """SELECT doc_id, cast(1 + did % 3 AS bigint) AS flow_count,
          |  cast(1700000000 + did % 1000 AS bigint) AS unix_secs,
          |  cast((did + 10) % 4294967296 AS bigint) AS flow_sequence,
          |  cast(did % 4 AS bigint) AS engine_type,
          |  cast(did % 16 AS bigint) AS engine_id,
          |  cast((did % 4) * 64 AS bigint) AS sampling_mode,
          |  cast(did % 16384 AS bigint) AS sampling_rate,
          |  cast(j AS bigint) AS rec_idx,
          |  ((did % 1000003) * 2654435761 + j * 7919) % 4294967296 AS src_addr,
          |  ((did % 999983) * 7919 + j * 104729 + 5) % 4294967296 AS dst_addr,
          |  ((did % 999983) * 31 + j * 97) % 4294967296 AS next_hop,
          |  cast((did + j) % 65536 AS bigint) AS input,
          |  cast((did * 3 + j) % 65536 AS bigint) AS output,
          |  cast((did + j) % 100000 AS bigint) AS d_pkts,
          |  (did + j) % 4294967296 AS d_octets,
          |  ((did % 999983) * 5 + j) % 4294967296 AS first_ms,
          |  ((did % 999983) * 5 + j + 1000) % 4294967296 AS last_ms,
          |  cast(1024 + (did + j) % 60000 AS bigint) AS src_port,
          |  cast(443 AS bigint) AS dst_port,
          |  cast((did + j) % 256 AS bigint) AS tcp_flags,
          |  cast(CASE WHEN did % 2 = 0 THEN 6 ELSE 17 END AS bigint) AS prot,
          |  cast((did * 3) % 256 AS bigint) AS tos,
          |  cast(did % 65536 AS bigint) AS src_as,
          |  cast((did * 7) % 65536 AS bigint) AS dst_as,
          |  cast(did % 33 AS bigint) AS src_mask,
          |  cast((did * 3) % 33 AS bigint) AS dst_mask
          |FROM (SELECT *, unnest(range(CASE WHEN did % 5 = 2 THEN did % 3
          |                              ELSE 1 + did % 3 END)) AS j FROM v2)""".stripMargin)),

    // schema-driven positional parse (operators/Positional): Conn layout,
    // '-' duration sentinel → 0, counters cast long
    Q("p24_parse_conn", (s, dir) => {
      val did = col("did")
      val t = lit("\t")
      val sec = (lit(1700000000L) + did % 1000L).cast("string")
      val frac = lpad(((did % 7L) * 125000L).cast("string"), 6, "0")
      val ip = concat(lit("10."), (did % 250L).cast("string"), lit(".0."), ((did % 200L) + 1L).cast("string"))
      val dur = when(did % 5 === 0, lit("-")).otherwise(concat((did % 100L).cast("string"), lit(".5")))
      val line = concat(sec, lit("."), frac, t, ip, t, (lit(1024L) + did % 60000L).cast("string"),
        t, lit("10.0.0.2"), t, lit("443"), t, lit("tcp"), t, dur,
        t, (did % 10000L).cast("string"), t, ((did * 3) % 10000L).cast("string"),
        t, (did % 100L).cast("string"), t, ((did * 7) % 100L).cast("string"))
      val o = graft.operators.Positional.parser(graft.operators.Positional.Conn)(line)
      Tables.rawEvents2(s, dir).select(col("doc_id"), col("did"), o.as("o"))
        .where(col("o.ok"))
        .select(col("doc_id"), col("o.ts_ns").as("ts_ns"), col("o.src_ip").as("src_ip"),
          col("o.src_port").as("src_port"), col("o.duration_ns").as("duration_ns"),
          col("o.orig_bytes").as("orig_bytes"), col("o.resp_bytes").as("resp_bytes"),
          col("o.orig_pkts").as("orig_pkts"), col("o.resp_pkts").as("resp_pkts"))
    },
      withCtes(V2Cte)(
        """SELECT doc_id,
          |  (1700000000 + did % 1000)*1000000000 + ((did % 7) * 125000)*1000 AS ts_ns,
          |  '10.' || cast(did % 250 AS varchar) || '.0.' || cast((did % 200) + 1 AS varchar) AS src_ip,
          |  cast(1024 + did % 60000 AS int) AS src_port,
          |  CASE WHEN did % 5 = 0 THEN 0 ELSE (did % 100)*1000000000 + 500000000 END AS duration_ns,
          |  did % 10000 AS orig_bytes, (did * 3) % 10000 AS resp_bytes,
          |  did % 100 AS orig_pkts, (did * 7) % 100 AS resp_pkts
          |FROM v2""".stripMargin)),

    // real NetFlow v9: wire-format flowset framing (typed per-packet walk —
    // unbounded flowset/template counts; did%10==9 packets carry 8
    // flowsets) feeding the template-stateful decode — cross-packet
    // template state per exporter, data-before-template and
    // never-defined-template packets emitted as undecodable
    // (counted-and-skipped), record loop bounded by the header count
    Q("p27_netflow_v9", (s, dir) => {
      val recs = graft.operators.BinaryDecode.v9FlowsetWalk(Tables.nfV9Packets(s, dir))
      v9Rows(graft.streaming.Templates.decodeBatch(nfRecsOf(s, recs)).toDF())
    },
      // did%10==9: the 8-flowset walk case — 7 single-record data flowsets
      // against the packet's own template (tid+300), each decoding at
      // rec_idx 0 with the j-th record's values
      withCtes(V2Cte)(
        """SELECT
          |  cast((did//10) % 4294967296 AS bigint) AS exporter_id,
          |  cast(CASE WHEN did % 10 = 5 THEN 256 + (did//10) % 100 + 101
          |            WHEN did % 10 = 3 THEN 256 + (did//10) % 100 + 200
          |            WHEN did % 10 = 9 THEN 256 + (did//10) % 100 + 300
          |            ELSE 256 + (did//10) % 100 END AS int) AS template_id,
          |  CASE WHEN did % 10 = 1 THEN did + 8 ELSE did + 10 END AS seq,
          |  cast(CASE WHEN did % 10 = 9 THEN 0 ELSE j END AS int) AS rec_idx,
          |  did % 10 NOT IN (1, 5) AS decoded,
          |  CASE WHEN did % 10 IN (1, 5) THEN NULL ELSE ((did % 1000003) * 2654435761 + j * 7919) % 4294967296 END AS srcaddr,
          |  CASE WHEN did % 10 IN (1, 5) THEN NULL ELSE 1024 + (did + j) % 60000 END AS src_port,
          |  CASE WHEN did % 10 IN (1, 5) THEN NULL ELSE 443 END AS dst_port,
          |  CASE WHEN did % 10 IN (1, 5) THEN NULL ELSE (did + j) % 4294967296 END AS in_bytes
          |FROM (SELECT *, unnest(range(CASE WHEN did % 10 = 9 THEN 7
          |                             WHEN did % 10 IN (1, 5, 7) THEN 1
          |                             ELSE 1 + did % 2 END)) AS j
          |      FROM v2 WHERE did % 10 <> 0)""".stripMargin)),

    // v9 OPTIONS templates end-to-end: scope+option pair widths define the
    // record layout across packets (reference packet.rs:357-400,484-505)
    Q("p29_netflow_v9_options", (s, dir) => {
      import s.implicits._
      val recs = graft.operators.BinaryDecode.v9FlowsetWalk(Tables.nfV9OptionsPackets(s, dir))
      val ds = nfRecsOf(s, recs)
      graft.streaming.Templates.decodeBatch(ds).toDF()
        .select(col("exporter").cast("long").as("exporter_id"),
          col("templateId").as("template_id"), col("seq"), col("decoded"),
          element_at(col("fields"), 1).as("scope_system"),
          element_at(col("fields"), 2).as("in_bytes"))
    },
      withCtes(V2Cte)(
        """SELECT cast((did//2) % 4294967296 AS bigint) AS exporter_id,
          |  cast(CASE WHEN did % 4 = 3 THEN 600 + (did//2) % 50
          |            ELSE 512 + (did//2) % 50 END AS int) AS template_id,
          |  did + 10 AS seq, true AS decoded,
          |  (did * 3) % 65536 AS scope_system,
          |  (did % 1000003) * 2654435761 % 4294967296 AS in_bytes
          |FROM v2 WHERE did % 2 = 1""".stripMargin)),

    // NetFlow v9 TYPE-AWARE rendering (reference fields.rs: FieldTypes enum,
    // get_types kind mapping, TCP_FLAGS/FORWARDING_STATUS tables): the
    // template's (type, len) pairs ride through the stateful decode, and
    // each decoded value renders by its wire type — dotted-quad IPv4,
    // |-joined TCP-flag names, forwarding-status text, decimal counters.
    // One output row per (record, field): (name, rendered).
    Q("p30_netflow_v9_typed", (s, dir) => {
      import s.implicits._
      val recs = graft.operators.BinaryDecode.v9FlowsetWalk(Tables.nfV9TypedPackets(s, dir))
      val ds = nfRecsOf(s, recs)
      graft.streaming.Templates.decodeBatch(ds).toDF().where(col("decoded"))
        .select(col("exporter").cast("long").as("exporter_id"), col("seq"),
          col("recIdx").as("rec_idx"),
          posexplode(arrays_zip(col("types"), col("fields"), col("raws"))))
        .select(col("exporter_id"), col("seq"), col("rec_idx"),
          col("pos").cast("int").as("field_idx"),
          graft.operators.BinaryDecode.v9TypeName(col("col.types")).as("field_name"),
          graft.operators.BinaryDecode.v9Render(col("col.types"), col("col.fields"),
            col("col.raws")).as("rendered"))
    },
      {
        def dotted(a: String): String =
          s"cast(cast(floor($a/16777216) AS bigint) % 256 AS varchar) || '.' || " +
            s"cast(cast(floor($a/65536) AS bigint) % 256 AS varchar) || '.' || " +
            s"cast(cast(floor($a/256) AS bigint) % 256 AS varchar) || '.' || " +
            s"cast($a % 256 AS varchar)"
        // TCP_FLAGS table order and masks verbatim (incl. CWR's 0x08, so 0x08
        // renders "PSH-CWR"); no flag in the table set → "None" (mask 0x80 is
        // absent from the table, hence the &127 emptiness test)
        val flags = Seq(1 -> "FIN", 2 -> "SYN", 4 -> "RST", 8 -> "PSH",
          16 -> "ACK", 32 -> "URG", 64 -> "ECE", 8 -> "CWR")
          .map { case (m, n) => s"CASE WHEN ((did % 256) & $m) = $m THEN '$n' END" }
          .mkString("concat_ws('-', ", ", ", ")")
        val flagsOrNone = s"CASE WHEN (did % 256) & 127 = 0 THEN 'None' ELSE $flags END"
        // group i (1-based) of the IPv6 fixture value; nonzero u16 by design
        def g6(i: Int): String = s"((did * ${i + 2}) % 64999 + 1)"
        def h6(i: Int): String = s"lower(to_hex(${g6(i)}))"
        val ip6 = s"CASE did % 3 WHEN 0 THEN ${(1 to 8).map(h6).mkString(" || ':' || ")} " +
          s"WHEN 1 THEN ${h6(1)} || ':' || ${h6(2)} || '::' || ${h6(7)} || ':' || ${h6(8)} " +
          s"ELSE '::' || ${h6(8)} END"
        val names = Seq("IPv4SrcAddr", "IPv4DstAddr", "L4SrcPort", "L4DstPort",
          "Protocol", "TCPFlags", "InBytes", "InPackets", "SrcTos", "OutBytes",
          "ForwardingStatus", "IPv6SrcAddr", "IfDesc", "SamplerName", "Unknown")
          .zipWithIndex.map { case (n, j) => s"WHEN $j THEN '$n'" }.mkString(" ")
        withCtes(V2Cte,
          """f AS (
            |  SELECT doc_id, did,
            |    (did % 1000003) * 2654435761 % 4294967296 AS a1,
            |    (did * 7919 + 5) % 4294967296 AS a2,
            |    unnest(range(16)) AS j
            |  FROM v2 WHERE did % 2 = 1)""".stripMargin)(
          s"""SELECT cast((did//2) % 4294967296 AS bigint) AS exporter_id,
             |  did + 10 AS seq, cast(0 AS int) AS rec_idx, cast(j AS int) AS field_idx,
             |  CASE j $names ELSE 'SrcVLAN' END AS field_name,
             |  CASE j
             |    WHEN 0 THEN ${dotted("a1")}
             |    WHEN 1 THEN ${dotted("a2")}
             |    WHEN 2 THEN cast(1024 + did % 60000 AS varchar)
             |    WHEN 3 THEN '443'
             |    WHEN 4 THEN '6'
             |    WHEN 5 THEN $flagsOrNone
             |    WHEN 6 THEN cast(did % 4294967296 AS varchar)
             |    WHEN 7 THEN cast(did % 1000 AS varchar)
             |    WHEN 8 THEN cast((did * 3) % 256 AS varchar)
             |    WHEN 9 THEN cast((did * 11) % 4294967296 AS varchar)
             |    WHEN 10 THEN CASE did % 5 WHEN 0 THEN 'Unknown'
             |         WHEN 1 THEN 'Forwarded (Unknown)'
             |         WHEN 2 THEN 'Forwarded (Fragmented)'
             |         WHEN 3 THEN 'Forwarded (Not Fragmented)' ELSE '77' END
             |    WHEN 11 THEN $ip6
             |    WHEN 12 THEN 'eth' || cast(did % 10 AS varchar)
             |    WHEN 13 THEN '-'
             |    WHEN 14 THEN '0'
             |    ELSE cast(did % 4096 AS varchar)
             |  END AS rendered
             |FROM f""".stripMargin)
      }),

    // v9 OPTIONS records rendered reference-style (packet.rs:484-505): the
    // first scope_cnt fields carry OptionsScopeFieldTypes names + the Ascii
    // (lowercase hex) render, the rest FieldTypes names + type-aware values
    Q("p31_netflow_v9_options_typed", (s, dir) => {
      import s.implicits._
      val recs = graft.operators.BinaryDecode.v9FlowsetWalk(Tables.nfV9OptionsPackets(s, dir))
      val ds = nfRecsOf(s, recs)
      graft.streaming.Templates.decodeBatch(ds).toDF().where(col("decoded"))
        .select(col("exporter").cast("long").as("exporter_id"), col("seq"),
          col("scopeCnt"),
          posexplode(arrays_zip(col("types"), col("fields"), col("raws"))))
        .select(col("exporter_id"), col("seq"),
          col("pos").cast("int").as("field_idx"),
          when(col("pos") < col("scopeCnt"),
            graft.operators.BinaryDecode.v9ScopeName(col("col.types")))
            .otherwise(graft.operators.BinaryDecode.v9TypeName(col("col.types")))
            .as("field_name"),
          when(col("pos") < col("scopeCnt"),
            graft.operators.BinaryDecode.v9AsciiString(col("col.fields"), col("col.raws")))
            .otherwise(graft.operators.BinaryDecode.v9Render(col("col.types"),
              col("col.fields"), col("col.raws"))).as("rendered"))
    },
      withCtes(V2Cte)(
        """SELECT cast((did//2) % 4294967296 AS bigint) AS exporter_id,
          |  did + 10 AS seq, cast(j AS int) AS field_idx,
          |  CASE j WHEN 0 THEN 'System' ELSE 'InBytes' END AS field_name,
          |  CASE j WHEN 0 THEN lower(to_hex((did * 3) % 65536))
          |         ELSE cast((did % 1000003) * 2654435761 % 4294967296 AS varchar)
          |  END AS rendered
          |FROM (SELECT *, unnest(range(2)) AS j FROM v2 WHERE did % 2 = 1)""".stripMargin)),

    // NetFlow stats counters (reference src/parser/netflow/statistics.rs):
    // flowset counts from the framing stage + record outcomes from the
    // stateful decode, one aggregate row
    Q("p28_netflow_stats", (s, dir) => {
      import s.implicits._
      val recs = graft.operators.BinaryDecode.v9FlowsetWalk(Tables.nfV9Packets(s, dir))
      val ds = nfRecsOf(s, recs)
      val fs = recs.agg(
        sum(when(col("is_template"), 1L).otherwise(0L)).as("template_flowsets"),
        sum(when(!col("is_template"), 1L).otherwise(0L)).as("data_flowsets"),
        // the walk has no flowset bound, so no flowset is ever cut short
        lit(0L).as("truncated_flowsets"))
      val ev = graft.streaming.Templates.decodeBatch(ds).toDF().agg(
        sum(when(col("decoded"), 1L).otherwise(0L)).as("decoded_records"),
        sum(when(!col("decoded"), 1L).otherwise(0L)).as("undecodable_flowsets"))
      fs.crossJoin(ev)
    },
      // template entries: 2 back-to-back per did%10==0 packet, 1 in the
      // multi-flowset did%10==9 packet; data flowsets: 7 per did%10==9;
      // truncated stays 0 — the typed walk has no flowset bound to hit
      withCtes(V2Cte)(
        """SELECT
          |  cast(sum(CASE WHEN did % 10 = 0 THEN 2 WHEN did % 10 = 9 THEN 1 ELSE 0 END) AS bigint) AS template_flowsets,
          |  cast(sum(CASE WHEN did % 10 = 0 THEN 0 WHEN did % 10 = 9 THEN 7 ELSE 1 END) AS bigint) AS data_flowsets,
          |  cast(0 AS bigint) AS truncated_flowsets,
          |  cast(sum(CASE WHEN did % 10 IN (0, 1, 5) THEN 0
          |                WHEN did % 10 = 7 THEN 1
          |                WHEN did % 10 = 9 THEN 7 ELSE 1 + did % 2 END) AS bigint) AS decoded_records,
          |  cast(sum(CASE WHEN did % 10 IN (1, 5) THEN 1 ELSE 0 END) AS bigint) AS undecodable_flowsets
          |FROM v2""".stripMargin)),

    // persisted template state across RUNS (the NETFLOW_TEMPLATES_PATH
    // analog, reference src/collector/netflow.rs:51-57,95-106) end-to-end:
    // run 1 sees ONLY the template packets and commits the dictionary
    // snapshot; run 2 decodes ONLY the data packets from a cold session —
    // every decode below therefore comes out of the persisted store. Warm
    // templates apply from the start of the run (seq = -inf), so even the
    // data-before-template packets (did%10==1) decode here, unlike p27;
    // only the never-defined template (did%10==5) stays undecodable.
    Q("p32_netflow_v9_resume", (s, dir) => {
      val base = graft.operators.RawLog.stagePath("tplstore", dir)
      // the two-run drill must start cold
      graft.streaming.TemplateStore.deleteTree(new java.io.File(base))
      // both runs filter the same walked frame — materialize it once or the
      // packet synth + typed walk execute twice (branch-recompute trap)
      val ds = nfRecsOf(s,
        graft.operators.BinaryDecode.v9FlowsetWalk(Tables.nfV9Packets(s, dir)))
        .localCheckpoint(true)
      // run 1: templates only (registers + saves; decodes nothing)
      graft.streaming.TemplateStore.decodeBatchResumable(
        ds.where(col("isTemplate")), base).count()
      // run 2: data only, warm-started from the snapshot
      v9Rows(graft.streaming.TemplateStore.decodeBatchResumable(
        ds.where(!col("isTemplate")), base).toDF())
    },
      // like p27 but warm-started from the persisted store: did%10==1
      // (data-before-template) NOW decodes — the snapshot's templates apply
      // from the start of the run; only the never-defined did%10==5 stays
      // undecodable
      withCtes(V2Cte)(
        """SELECT
          |  cast((did//10) % 4294967296 AS bigint) AS exporter_id,
          |  cast(CASE WHEN did % 10 = 5 THEN 256 + (did//10) % 100 + 101
          |            WHEN did % 10 = 3 THEN 256 + (did//10) % 100 + 200
          |            WHEN did % 10 = 9 THEN 256 + (did//10) % 100 + 300
          |            ELSE 256 + (did//10) % 100 END AS int) AS template_id,
          |  CASE WHEN did % 10 = 1 THEN did + 8 ELSE did + 10 END AS seq,
          |  cast(CASE WHEN did % 10 = 9 THEN 0 ELSE j END AS int) AS rec_idx,
          |  did % 10 <> 5 AS decoded,
          |  CASE WHEN did % 10 = 5 THEN NULL ELSE ((did % 1000003) * 2654435761 + j * 7919) % 4294967296 END AS srcaddr,
          |  CASE WHEN did % 10 = 5 THEN NULL ELSE 1024 + (did + j) % 60000 END AS src_port,
          |  CASE WHEN did % 10 = 5 THEN NULL ELSE 443 END AS dst_port,
          |  CASE WHEN did % 10 = 5 THEN NULL ELSE (did + j) % 4294967296 END AS in_bytes
          |FROM (SELECT *, unnest(range(CASE WHEN did % 10 = 9 THEN 7
          |                             WHEN did % 10 IN (5, 7) THEN 1
          |                             ELSE 1 + did % 2 END)) AS j
          |      FROM v2 WHERE did % 10 <> 0)""".stripMargin)),

    // REFERENCE-COMPAT v9 framing end-to-end (the migrant walk —
    // v9FlowsetWalkCompat): the same corpus as p27
    // through the reference binary's exact parse behavior. Two
    // oracle-visible consequences of the emulated quirks: the template
    // flowset's SECOND back-to-back entry (tid+200) never registers — the
    // whole-buffer loop guard stops a trailing flowset after one entry — so
    // did%10==3 data is undecodable here (decoded in p27); and did%10==9
    // multi-flowset packets contribute NO data rows at all (only their
    // first — template — flowset is parsed; its over-read garbage
    // registrations carry the group's highest seq, so they can't affect
    // any earlier data record). Everything single-flowset matches p27.
    Q("p33_netflow_v9_compat", (s, dir) => {
      val recs = graft.operators.BinaryDecode.v9FlowsetWalkCompat(Tables.nfV9Packets(s, dir))
      v9Rows(graft.streaming.Templates.decodeBatch(nfRecsOf(s, recs)).toDF())
    },
      // p27's twin under the reference's framing quirks: class 3 references
      // the template flowset's second entry, which the whole-buffer loop
      // guard never registers → one undecoded marker row; class 9's 7 data
      // flowsets follow its first flowset and are never framed → absent
      withCtes(V2Cte)(
        """SELECT
          |  cast((did//10) % 4294967296 AS bigint) AS exporter_id,
          |  cast(CASE WHEN did % 10 = 5 THEN 256 + (did//10) % 100 + 101
          |            WHEN did % 10 = 3 THEN 256 + (did//10) % 100 + 200
          |            ELSE 256 + (did//10) % 100 END AS int) AS template_id,
          |  CASE WHEN did % 10 = 1 THEN did + 8 ELSE did + 10 END AS seq,
          |  cast(j AS int) AS rec_idx,
          |  did % 10 NOT IN (1, 3, 5) AS decoded,
          |  CASE WHEN did % 10 IN (1, 3, 5) THEN NULL ELSE ((did % 1000003) * 2654435761 + j * 7919) % 4294967296 END AS srcaddr,
          |  CASE WHEN did % 10 IN (1, 3, 5) THEN NULL ELSE 1024 + (did + j) % 60000 END AS src_port,
          |  CASE WHEN did % 10 IN (1, 3, 5) THEN NULL ELSE 443 END AS dst_port,
          |  CASE WHEN did % 10 IN (1, 3, 5) THEN NULL ELSE (did + j) % 4294967296 END AS in_bytes
          |FROM (SELECT *, unnest(range(CASE WHEN did % 10 IN (1, 3, 5, 7) THEN 1
          |                             ELSE 1 + did % 2 END)) AS j
          |      FROM v2 WHERE did % 10 NOT IN (0, 9))""".stripMargin)),

    // REAL tab-separated file scan with '#' comment skipping (the §2.1 Zeek
    // reader config — reference src/parser/zeek.rs:71-79): a staged fixture
    // FILE is written, then read back through the csv reader; the oracle
    // re-derives every row arithmetically, so a reader-config bug (comment
    // rows leaking, wrong delimiter) breaks the row count or hash
    Q("f01_file_scan", (s, dir) => {
      val (mo, dy) = (lpad((lit(1) + col("did") % 12).cast("string"), 2, "0"),
        lpad((lit(10) + col("did") % 19).cast("string"), 2, "0"))
      val sec = (lit(1700000000L) + col("did") % 1000L).cast("string")
      val frac = lpad(((col("did") % 7L) * 125000L).cast("string"), 6, "0")
      val data = Tables.rawEvents2(s, dir).select(concat_ws("\t",
        col("did"), concat(sec, lit("."), frac),
        concat(lit("10.9."), (col("did") % 250L).cast("string"), lit("."),
          (col("did") % 200L + 1L).cast("string")),
        (lit(1024L) + col("did") % 60000L),
        concat(lit("m"), mo, dy)).as("value"))
      val comments = s.range(20)
        .select(concat(lit("# staged comment "), col("id")).as("value"))
      val path = graft.operators.RawLog.stage(data.unionByName(comments), "zeek_tsv", dir)
      s.read.option("sep", "\t").option("comment", "#")
        .schema("did LONG, ts STRING, ip STRING, port INT, msg STRING")
        .csv(path)
        .select(col("did"),
          (element_at(split(col("ts"), "\\."), 1).cast("long") * 1000000000L +
            element_at(split(col("ts"), "\\."), 2).cast("long") * 1000L).as("ts_ns"),
          col("ip"), col("port"), col("msg"))
    },
      withCtes(V2Cte)(
        """SELECT did,
          |  (1700000000 + did % 1000)*1000000000 + ((did % 7) * 125000)*1000 AS ts_ns,
          |  '10.9.' || cast(did % 250 AS varchar) || '.' || cast(did % 200 + 1 AS varchar) AS ip,
          |  cast(1024 + did % 60000 AS int) AS port,
          |  'm' || lpad(cast(1 + did % 12 AS varchar), 2, '0') || lpad(cast(10 + did % 19 AS varchar), 2, '0') AS msg
          |FROM v2""".stripMargin)),

    // raw-log binary fallback sink (reference log.rs:129-194): a staged file
    // WITH empty lines is read through the text source, empties skipped,
    // each surviving line wrapped as (kind, log bytes, ts_ns)
    Q("f02_raw_log_sink", (s, dir) => {
      val data = Tables.rawEvents2(s, dir).select(
        concat(lit("raw "), col("did"), lit(" payload-"), col("did") % 50).as("value"))
      val empties = s.range(25).select(lit("").as("value"))
      val path = graft.operators.RawLog.stage(data.unionByName(empties), "raw_log", dir)
      val lines = graft.operators.RawLog.readLines(s, path)
      val didFromLine = regexp_extract(col("value"), "^raw (\\d+) ", 1).cast("long")
      graft.operators.RawLog.wrap(lines, "applog",
        (lit(1700000000L) + didFromLine % 1000L) * 1000000000L)
        .select(col("kind"), decode(col("log"), "UTF-8").as("log_str"),
          length(col("log")).cast("long").as("n_bytes"), col("ts_ns"))
    },
      withCtes(V2Cte)(
        """SELECT 'applog' AS kind,
          |  'raw ' || cast(did AS varchar) || ' payload-' || cast(did % 50 AS varchar) AS log_str,
          |  cast(length('raw ' || cast(did AS varchar) || ' payload-' || cast(did % 50 AS varchar)) AS bigint) AS n_bytes,
          |  (1700000000 + did % 1000)*1000000000 AS ts_ns
          |FROM v2""".stripMargin)),

    // REAL .pcap file scan: staged capture files read through binaryFile,
    // pcap global-header validation + per-packet walk + eth/ip/udp peel +
    // cflow-port filter, then the NetFlow v5 byte decode — every 13th
    // packet targets a non-cflow port and must be dropped by the reader
    Q("f03_pcap_scan", (s, dir) =>
      pcapV5Rows(s, dir, referenceCompat = false),
      withCtes(V2Cte)(
        s"""SELECT did, cast(5 AS bigint) AS version,
          |  1700000000 + did % 1000 AS cap_sec,
          |  cast(1700000000 + did % 1000 AS bigint) AS unix_secs,
          |  ${dottedSql("sa")} AS src_ip,
          |  ${dottedSql("da")} AS dst_ip,
          |  cast(1024 + did % 60000 AS bigint) AS src_port,
          |  cast(443 AS bigint) AS dst_port,
          |  cast(did % 4294967296 AS bigint) AS d_octets,
          |  cast(CASE WHEN did % 2 = 0 THEN 6 ELSE 17 END AS bigint) AS prot,
          |  cast(did % 256 AS bigint) AS tcp_flags,
          |  cast((did % 4) * 64 AS bigint) AS sampling_mode,
          |  cast(did % 16384 AS bigint) AS sampling_rate
          |FROM (SELECT *, (did % 1000003) * 2654435761 % 4294967296 AS sa,
          |        ((did % 999983) * 7919 + 5) % 4294967296 AS da FROM v2)
          |WHERE did % 13 <> 0""".stripMargin)),

    // f03 through the REFERENCE-COMPAT pcap peel: the reference's IHL
    // option-skip bug (consume(ihl−20) wrapping, packet.rs:211) makes its
    // binary reject every IHL>5 packet as not-netflow — compat mode drops
    // the did%7==2 (IHL=6) packets the default peel decodes correctly;
    // everything else is byte-identical to f03
    Q("f05_pcap_scan_compat", (s, dir) =>
      pcapV5Rows(s, dir, referenceCompat = true),
      // f03's twin under the reference's IHL bug: did%7==2 packets carry
      // IPv4 options (IHL=6) and are dropped by the compat peel
      withCtes(V2Cte)(
        s"""SELECT did, cast(5 AS bigint) AS version,
          |  1700000000 + did % 1000 AS cap_sec,
          |  cast(1700000000 + did % 1000 AS bigint) AS unix_secs,
          |  ${dottedSql("sa")} AS src_ip,
          |  ${dottedSql("da")} AS dst_ip,
          |  cast(1024 + did % 60000 AS bigint) AS src_port,
          |  cast(443 AS bigint) AS dst_port,
          |  cast(did % 4294967296 AS bigint) AS d_octets,
          |  cast(CASE WHEN did % 2 = 0 THEN 6 ELSE 17 END AS bigint) AS prot,
          |  cast(did % 256 AS bigint) AS tcp_flags,
          |  cast((did % 4) * 64 AS bigint) AS sampling_mode,
          |  cast(did % 16384 AS bigint) AS sampling_rate
          |FROM (SELECT *, (did % 1000003) * 2654435761 % 4294967296 AS sa,
          |        ((did % 999983) * 7919 + 5) % 4294967296 AS da FROM v2)
          |WHERE did % 13 <> 0 AND did % 7 <> 2""".stripMargin)),

    // LIVE Elasticsearch fetch end-to-end (the reference's
    // fetch_elastic_search, sysmon_csv.rs:77-305) against an in-process
    // `_search` stub on an ephemeral localhost port: the REAL paging client
    // runs — Basic auth, the reference's exact bool-query body, search_after
    // cursor from each page's last sort value, short-page termination (size
    // 97 forces a ragged final page at every sf) — then the fetched sysmon
    // messages parse declaratively (str_to_map) into the same typed frame
    // f04 reads from disk. Fixture hits derive from the ProtoSynth
    // arithmetic, so the oracle re-derives every field from did, same as
    // f04: a paging bug (dropped/duplicated page) breaks the row count, a
    // message-parse bug breaks the hash.
    Q("f06_elastic_fetch", (s, dir) => {
      import s.implicits._
      import graft.operators.{Positional, ProtoSynth}
      import graft.sources.{Elastic, ElasticStub}
      val proto = Positional.sysmonCsv.head // w_process_create (code 1)
      val msgCol = concat_ws("\n",
        proto.fields.zipWithIndex.drop(3).map { case (f, i) =>
          concat(lit(Elastic.messageKey(f.name) + ": "),
            ProtoSynth.raw(f.t, i, col("did")))
        }: _*)
      val fixture = Tables.rawEvents2(s, dir)
        .select(col("did"),
          ProtoSynth.raw(Positional.PStr, 0, col("did")).as("an"),
          ProtoSynth.raw(Positional.PStr, 1, col("did")).as("ai"),
          msgCol.as("msg"))
        .collect()
        .map(r => ElasticStub.StubHit(1700000000000L + r.getLong(0),
          r.getString(1), r.getString(2), r.getString(3)))
        .sortBy(_.sortTs).toIndexedSeq
      val stub = ElasticStub.start(Map(("sysmon-2023", "1") -> fixture))
      val hits = try {
        Elastic.fetchAll(Elastic.EsConfig(stub.url, "elastic:changeme",
          Seq("sysmon-2023"), Seq("1"),
          "2023-01-01T00:00:00Z", "2023-12-31T00:00:00Z", size = 97))
      } finally stub.stop()
      sysmonPick(Elastic.typed(s.createDataset(hits).toDF(), 1))
    },
      // the ES fetch lands in the SAME typed frame the f04 file scan reads —
      // identical field arithmetic, so the twin is f04's construction
      sysmonPickSql),

    // REAL sysmon CSV file scan WITH a header row (the reference's reader
    // config: tab-separated, header present — sysmon_csv.rs:334-341): the
    // csv reader pre-splits and skips the header, then the schema-driven
    // typed decode runs over the pre-split columns
    Q("f04_file_sysmon", (s, dir) => {
      val proto = graft.operators.Positional.sysmonCsv.head // w_process_create
      val data = Tables.rawEvents2(s, dir)
        .select(graft.operators.ProtoSynth.line(proto, col("did")).as("value"))
      val n = proto.fields.length
      val header = (0 until n).map(i => s"c$i").mkString("\t")
      val path = graft.operators.RawLog.stageWithHeader(data, header, "sysmon_csv", dir)
      val schema = (0 until n).map(i => s"c$i STRING").mkString(", ")
      val o = graft.operators.Positional.fromColumns(proto, i => s"c$i")
      sysmonPick(s.read.option("sep", "\t").option("header", "true").schema(schema).csv(path)
        .select(o.as("o")))
    },
      sysmonPickSql),

    // Smtp layout: comma-split recipient array with '-' sentinel → []
    Q("p25_parse_smtp", (s, dir) => {
      val did = col("did")
      val t = lit("\t")
      val sec = (lit(1700000000L) + did % 1000L).cast("string")
      val frac = lpad(((did % 7L) * 125000L).cast("string"), 6, "0")
      val to = when(did % 4 === 0, lit("-")).otherwise(
        concat(lit("a"), did.cast("string"), lit("@x,b"), did.cast("string"), lit("@x")))
      val line = concat(sec, lit("."), frac, t, lit("10.0.0.3"), t, lit("25"), t,
        lit("10.0.0.4"), t, lit("25"), t, concat(lit("mf"), did.cast("string")), t,
        lit("-"), t, concat(lit("from"), (did % 50L).cast("string")), t, to, t,
        concat(lit("subj"), (did % 30L).cast("string")), t, lit("agent1"))
      val o = graft.operators.Positional.parser(graft.operators.Positional.Smtp)(line)
      Tables.rawEvents2(s, dir).select(col("doc_id"), col("did"), o.as("o"))
        .where(col("o.ok"))
        .select(col("doc_id"), col("o.ts_ns").as("ts_ns"),
          col("o.mailfrom").as("mailfrom"), col("o.date").as("date_s"),
          col("o.from").as("from_s"),
          concat_ws(",", col("o.to")).as("to_csv"),
          col("o.subject").as("subject"))
    },
      withCtes(V2Cte)(
        """SELECT doc_id,
          |  (1700000000 + did % 1000)*1000000000 + ((did % 7) * 125000)*1000 AS ts_ns,
          |  'mf' || cast(did AS varchar) AS mailfrom,
          |  '' AS date_s,
          |  'from' || cast(did % 50 AS varchar) AS from_s,
          |  CASE WHEN did % 4 = 0 THEN ''
          |       ELSE 'a' || cast(did AS varchar) || '@x,b' || cast(did AS varchar) || '@x' END AS to_csv,
          |  'subj' || cast(did % 30 AS varchar) AS subject
          |FROM v2""".stripMargin))
  )
}
