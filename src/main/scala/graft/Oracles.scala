package graft

/** Shared DuckDB SQL fragments for the driver's oracle. Each fragment is the
  * exact SQL twin of a Spark derivation in [[graft.sources.Tables]] /
  * [[graft.operators]] / [[graft.ops]] — same integer/string arithmetic, so
  * values match bit-for-bit. The hash, seeded-draw and sign-bit primitives
  * are not spelled here: their SQL twins sit beside the Spark forms in
  * [[graft.ops.Sketches]] (the MinHash fragments below call
  * `Sketches.permSql`), and the ANN candidate cut's twin is `Ann.cutSql`.
  * Conventions for engine parity:
  *   - every integer sum is cast to BIGINT (DuckDB sum → HUGEINT),
  *   - counts stay BIGINT (both engines),
  *   - doubles are emitted as round(x·1e6/1e2) BIGINT "cents"/"e6" columns,
  *   - try_cast mirrors Spark's non-ANSI cast-to-null on malformed input.
  */
object Oracles {

  /** Twin of Tables.tokens: documents → (doc_id, tokens array<int>, …). */
  val ToksCte: String =
    """toks AS (
      |  SELECT 'doc-' || lpad(cast(doc_id AS varchar), 12, '0') AS doc_id,
      |         doc_id AS did, doc_id AS line_no, source, lang, n_chars, text,
      |         cast(substr(source, 4) AS int) AS src_num,
      |         list_transform(list_filter(string_split(text, ' '), w -> length(w) > 0),
      |           w -> cast(((ascii(w)*59 + ascii(substr(w, cast(length(w) AS int), 1)))*31 + length(w)) % 32768 AS int)) AS tokens
      |  FROM documents)""".stripMargin

  /** Twin of Tables.rawEvents: adds kind + synthetic raw_line. */
  val RawCte: String =
    """rawx AS (
      |  SELECT doc_id, tokens, cast(len(tokens) AS int) AS n_tok, source, line_no, did, src_num,
      |    CASE WHEN (src_num % 4)=0 THEN 'oplog' WHEN (src_num % 4)=1 THEN 'nginx'
      |         WHEN (src_num % 4)=2 THEN 'fgt' ELSE 'zeek' END AS kind,
      |    CASE WHEN (did % 97)=0 THEN 'CORRUPT ' || cast(did AS varchar)
      |         WHEN (src_num % 4)=0 THEN secs || '.' || frac || ' ' || lvl || ' job-' || cast(did AS varchar) || ' took ' || cast(n_chars AS varchar) || 'ms'
      |         WHEN (src_num % 4)=1 THEN ip || ' - - [' || secs || '] "GET /p/' || cast(did AS varchar) || ' HTTP/1.1" ' || status || ' ' || cast(n_chars AS varchar)
      |         WHEN (src_num % 4)=2 THEN 'date=' || secs || ' srcip=' || ip || ' dstip=10.0.0.1 proto=6 srcport=' || port || ' dstport=443 action=' || lvl
      |         ELSE secs || '.' || frac || chr(9) || 'uid' || cast(did AS varchar) || chr(9) || ip || chr(9) || port || chr(9) || '10.0.0.2' || chr(9) || '443' || chr(9) || 'tcp' || chr(9) || dur
      |    END AS raw_line
      |  FROM (SELECT *,
      |    cast(1700000000 + (did % 1000) AS varchar) AS secs,
      |    lpad(cast((did % 7) * 125000 AS varchar), 6, '0') AS frac,
      |    CASE cast(did % 3 AS int) WHEN 0 THEN 'INFO' WHEN 1 THEN 'WARN' ELSE 'ERROR' END AS lvl,
      |    '10.' || cast(did % 250 AS varchar) || '.' || cast(cast(floor(did/250) AS bigint) % 250 AS varchar) || '.' || cast((did % 200) + 1 AS varchar) AS ip,
      |    cast(1024 + (did % 60000) AS varchar) AS port,
      |    CASE cast(did % 4 AS int) WHEN 0 THEN '200' WHEN 1 THEN '404' WHEN 2 THEN '500' ELSE '302' END AS status,
      |    CASE WHEN (did % 5)=0 THEN '-' ELSE cast(did % 100 AS varchar) || '.5' END AS dur
      |  FROM toks))""".stripMargin

  val OplogRe = "^(\\d+)\\.(\\d+) (INFO|WARN|ERROR) (.*)$"
  val NginxRe = "^(\\S+) - - \\[(\\d+)\\] \"(\\w+) ([^ \"]+) HTTP/[^\"]*\" (\\d+) (\\d+)$"

  /** Twin of Parse.parsed: flat common columns from raw_line per kind. */
  val ParsedCte: String =
    s"""parsedx AS (
       |  SELECT *, cast(length(raw_line) AS bigint) AS bytes,
       |    CASE WHEN kind='oplog' THEN try_cast(regexp_extract(raw_line, '$OplogRe', 1) AS bigint)*1000000000 + try_cast(regexp_extract(raw_line, '$OplogRe', 2) AS bigint)*1000
       |         WHEN kind='nginx' THEN try_cast(regexp_extract(raw_line, '$NginxRe', 2) AS bigint)*1000000000
       |         WHEN kind='fgt'   THEN try_cast(regexp_extract(raw_line, 'date=(\\d+)', 1) AS bigint)*1000000000
       |         ELSE try_cast(string_split(string_split(raw_line, chr(9))[1], '.')[1] AS bigint)*1000000000 + try_cast(string_split(string_split(raw_line, chr(9))[1], '.')[2] AS bigint)*1000
       |    END AS ts_raw_ns,
       |    CASE WHEN kind='oplog' THEN regexp_extract(raw_line, '$OplogRe', 3)
       |         WHEN kind='fgt'   THEN regexp_extract(raw_line, 'action=(\\w+)', 1)
       |         ELSE NULL END AS level,
       |    CASE WHEN kind='nginx' THEN regexp_extract(raw_line, '$NginxRe', 1)
       |         WHEN kind='fgt'   THEN regexp_extract(raw_line, 'srcip=([0-9.]+)', 1)
       |         WHEN kind='zeek'  THEN string_split(raw_line, chr(9))[3]
       |         ELSE NULL END AS src_ip,
       |    CASE WHEN kind='nginx' THEN try_cast(regexp_extract(raw_line, '$NginxRe', 5) AS int) ELSE NULL END AS status_code,
       |    CASE WHEN kind='oplog' THEN regexp_extract(raw_line, '$OplogRe', 3) <> ''
       |         WHEN kind='nginx' THEN regexp_extract(raw_line, '$NginxRe', 5) <> ''
       |         WHEN kind='fgt'   THEN regexp_extract(raw_line, 'date=(\\d+)', 1) <> ''
       |         ELSE len(string_split(raw_line, chr(9))) >= 8 END AS parse_ok
       |  FROM rawx)""".stripMargin

  /** Twin of Tables.sourceDim. */
  val DimCte: String =
    """dim AS (
      |  SELECT DISTINCT source,
      |    'vendor-' || cast((cast(substr(source, 4) AS int) % 7) AS varchar) AS vendor,
      |    CASE WHEN (cast(substr(source, 4) AS int) % 4)=0 THEN 'oplog'
      |         WHEN (cast(substr(source, 4) AS int) % 4)=1 THEN 'nginx'
      |         WHEN (cast(substr(source, 4) AS int) % 4)=2 THEN 'fgt' ELSE 'zeek' END AS log_type,
      |    'v' || cast((cast(substr(source, 4) AS int) % 3) + 1 AS varchar) AS version
      |  FROM documents)""".stripMargin

  /** Twin of DedupOps.shingleTokens(text, 8): distinct int32 8-gram hashes.
    * The base-31 fold is generated to guarantee paren balance with the
    * Spark side's foldLeft; the accumulator starts as BIGINT because the
    * 8-char fold exceeds int32 (31^7·127 ≈ 3.5e12). Width 8 keeps the LSH
    * candidate set proportional to true near-dups on this corpus (5-gram
    * shingles collide across ~38% of all doc pairs — measured at sf0.1 —
    * which would make the Jaccard verify stage quadratic).
    */
  def shingCteOver(table: String): String = {
    val hash = (0 until 8).foldLeft("cast(0 AS bigint)") { (acc, j) =>
      s"($acc*31 + ascii(substr(text, cast(i+$j AS int), 1)))"
    }
    s"""shingd AS (
       |  SELECT doc_id AS sid,
       |    list_distinct(list_transform(range(1, greatest(length(text)-7, 0)+1),
       |      i -> cast($hash % 2147483647 AS int))) AS stoks
       |  FROM $table)""".stripMargin
  }

  val ShingCte: String = shingCteOver("documents")

  /** Minhash m{j} over a list column: twin of DedupOps.minhash. */
  def mhSql(listCol: String, j: Int): String =
    s"list_min(list_transform($listCol, t -> ${graft.ops.Sketches.permSql(j, "t")}))"

  /** Twin of DedupOps.minhashSigRows(k=16) over shingles. */
  val SigCte: String = {
    val cols = (0 until 16).map(j => s"${mhSql("stoks", j)} AS m$j").mkString(",\n    ")
    s"ssig AS (\n  SELECT sid,\n    $cols\n  FROM shingd)"
  }

  /** Twin of DedupOps.bandRows(k=16, r=4): 4 band keys per doc. */
  val BandsCte: String = {
    val bands = (0 until 4).map { bi =>
      val key = (0 until 4).map(o => s"cast(m${bi * 4 + o} AS varchar)").mkString(" || '_' || ")
      s"SELECT sid, $bi AS band_idx, $key AS band_key FROM ssig"
    }.mkString(" UNION ALL ")
    s"sbands AS ($bands)"
  }

  /** Twin of DedupOps.bandPairs (lshCandidatesRows): distinct (doc_a<doc_b) band matches. */
  val PairsCte: String =
    """spairs AS (
      |  SELECT DISTINCT a.sid AS doc_a, b.sid AS doc_b
      |  FROM sbands a JOIN sbands b USING (band_idx, band_key)
      |  WHERE a.sid < b.sid)""".stripMargin

  /** Family-2 datetime components (twin of Tables.rawLine2's dtParts). */
  val V2Cte: String =
    """v2 AS (
      |  SELECT doc_id AS did,
      |    'doc-' || lpad(cast(doc_id AS varchar), 12, '0') AS doc_id,
      |    cast(1 + doc_id % 12 AS int) AS mo, cast(10 + doc_id % 19 AS int) AS dy,
      |    cast(doc_id % 24 AS int) AS hh, cast(doc_id % 60 AS int) AS mi,
      |    cast((doc_id*7) % 60 AS int) AS ss
      |  FROM documents)""".stripMargin

  /** Twin of Ann: embeddings as double vectors + cosine helpers. */
  val EmbCte: String =
    """edd AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> cast(x AS double)) AS v
      |  FROM embeddings)""".stripMargin

  /** dot(a,b) in SQL: ordered fold, same order as Ann.dot's fold. */
  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> ($a)[i] * ($b)[i]))"

  def normSql(a: String): String =
    s"sqrt(list_sum(list_transform($a, x -> x*x)))"

  def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}), 6)"

  def withCtes(ctes: String*)(body: String): String =
    "WITH " + ctes.mkString(",\n") + "\n" + body

  /** Dotted-quad IPv4 string from a u32 SQL expression (twin of
    * BinaryDecode.ipv4String).
    */
  def dottedSql(a: String): String =
    s"cast(cast(floor($a/16777216) AS bigint) % 256 AS varchar) || '.' || " +
      s"cast(cast(floor($a/65536) AS bigint) % 256 AS varchar) || '.' || " +
      s"cast(cast(floor($a/256) AS bigint) % 256 AS varchar) || '.' || " +
      s"cast($a % 256 AS varchar)"

  /** Twin of Ann.sketchFrame(kProj=32): exact int64 microunit projections
    * (floor(x·1e6 + 0.5) — the cross-engine-stable rounding), one column per
    * projection row.
    */
  val SkCte: String = {
    val cols = (0 until 32).map { t =>
      "list_sum(list_transform(range(1, len(v)+1), i -> " +
        s"cast(floor((v)[i]*1000000 + 0.5) AS bigint) * ${graft.ops.Ann.projWeightSql(t, "i")})) AS s$t"
    }.mkString(",\n    ")
    s"sk AS (\n  SELECT vec_id,\n    $cols\n  FROM edd)"
  }

  /** Twin of Ann's sketch cosine: left-associated double chains (the
    * VectorKernels.sketchDot fold) over the 32 sketch columns of aliases
    * `q` and `c`.
    */
  def skCosSql(q: String, c: String): String = {
    def chain(f: Int => String) = (0 until 32).map(f).mkString(" + ")
    val d = chain(t => s"cast($q.s$t AS double)*$c.s$t")
    val nq = chain(t => s"cast($q.s$t AS double)*$q.s$t")
    val nc = chain(t => s"cast($c.s$t AS double)*$c.s$t")
    s"($d) / (sqrt($nq) * sqrt($nc))"
  }

  /** Exact-cosine rerank tail over a `cand(q_id, c_id)` CTE — twin of
    * Ann.rerankExact(k=5).
    */
  val RerankSql: String =
    s"""SELECT q_id, c_id, cast(round(cos*1000000) AS bigint) AS cos_e6, rank FROM (
       |  SELECT q_id, c_id, cos,
       |    cast(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS int) AS rank
       |  FROM (SELECT q_id, c_id, ${cosSql("a.v", "b.v")} AS cos
       |        FROM cand JOIN edd a ON a.vec_id = q_id JOIN edd b ON b.vec_id = c_id))
       |WHERE rank <= 5""".stripMargin
}
