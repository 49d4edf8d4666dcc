package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.pipeline.TranscriptPipeline
import graft.sources.Transcripts

/** The query registry, [[SparkEntry.all]]: every query (a Spark plan)
  * carries its DuckDB oracle. Column names are aligned pairwise: the oracle
  * check sorts columns by name and compares values, so every computed
  * column is aliased identically on both sides.
  */
object SparkEntry {

  /** one registered query: `build` plans it over an sf directory, `oracle` is
    * the DuckDB SQL whose result it must equal over the same parquet
    * files (views named after them). */
  final case class Query(name: String, build: (SparkSession, String) => DataFrame,
                         oracle: String)

  /** Flagship: full parse→enrich→route over sf0.001-derived transcripts. */
  def entry(spark: SparkSession): DataFrame =
    TranscriptPipeline.routed(Transcripts.fromEvents(spark, "/root/testdata/sf0.001"))

  private def t(s: SparkSession, dir: String): DataFrame = Transcripts.fromEvents(s, dir)

  /** deterministic 5-variant syslog line built from transcript columns —
    * shared by q_parse_syslog and q_syslog_route; the DuckDB oracles predict
    * each variant's parse closed-form from the same integer pieces.
    * v = turn_idx%5: 0 = RFC3164 classic w/ program[pid]; 1 = RFC3164
    * rfc3339 ts +02:00; 2 = RFC5424 w/ structured data; 3 = message-only
    * (unparseable); 4 = RFC5424 with NIL hostname/proc-id/SD but a real
    * timestamp (the reference's format probe needs the 4-digit year). */
  private[graft] def syslogLine: Column = {
    val v = pmod(col("turn_idx"), lit(5))
    val pri = pmod(col("turn_idx") * 11, lit(192))
    val day = pmod(col("turn_idx"), lit(28)) + 1
    val hh2 = lpad(pmod(col("turn_idx"), lit(24)).cast("string"), 2, "0")
    val mi2 = lpad(pmod(col("turn_idx") * 7, lit(60)).cast("string"), 2, "0")
    val ss2 = lpad(pmod(col("turn_idx") * 13, lit(60)).cast("string"), 2, "0")
    val fr3 = lpad(pmod(col("turn_idx") * 17, lit(1000)).cast("string"), 3, "0")
    val host = concat(lit("h-"), col("conv_id"))
    val mid = concat(lit("MID"), pmod(col("turn_idx"), lit(100)).cast("string"))
    val app = concat(lit("app-"), col("role"))
    val priB = concat(lit("<"), pri.cast("string"), lit(">"))
    val time8 = concat(hh2, lit(":"), mi2, lit(":"), ss2)
    val iso = concat(lit("2024-03-"), lpad(day.cast("string"), 2, "0"),
      lit("T"), time8, lit("."), fr3)
    when(v === 0, concat(priB, lit("Oct "), day.cast("string"),
        lit(" "), time8, lit(" "), host, lit(" "), app,
        lit("["), col("turn_idx").cast("string"), lit("]: "), col("text")))
      .when(v === 1, concat(priB, iso, lit("+02:00 "), host, lit(" "), col("text")))
      .when(v === 2, concat(priB, lit("1 "), iso, lit("Z "), host, lit(" "),
        app, lit(" "), col("turn_idx").cast("string"), lit(" "), mid,
        lit(" [graft@1 role=\""), col("role"), lit("\" t=\"x"), col("tool"),
        lit("\"] "), col("text")))
      .when(v === 3, concat(lit("raw: "), col("text")))
      .otherwise(concat(priB, lit("1 "), iso, lit("Z - "), app, lit(" - "),
        mid, lit(" - "), col("text")))
  }

  /** deterministic 4-variant CEF line (standard / escaped / malformed+
    * recovery / headerless), the input of q_decode_cef. */
  private[graft] def cefLine: Column = {
    val v = pmod(col("turn_idx"), lit(4))
    val oct = pmod(col("turn_idx") * 7, lit(300)) // > 255 → invalid IP drop
    val port = pmod(col("turn_idx") * 13, lit(65536))
    when(v === 0, concat(
        lit("CEF:0|graft|router|1.0|E"), pmod(col("turn_idx"), lit(50)).cast("string"),
        lit("|evt-"), col("role"), lit("|"), pmod(col("turn_idx"), lit(11)).cast("string"),
        lit("|src=10.0.0."), oct.cast("string"), lit(" spt="), port.cast("string"),
        lit(" dhost=h-"), col("conv_id")))
      .when(v === 1, concat(lit("CEF:1|graft|pr\\|od|1.0|E1|evt-"), col("role"),
        lit("|Very-High|msg=a\\=b c\\\\d suser="), col("role")))
      .when(v === 2, concat(lit("CEF:0|graft|router|1.0|E2|evt-"), col("role"),
        lit("|3|k1=x =bad k2="), col("tool")))
      .otherwise(concat(lit("raw "), col("conv_id")))
  }

  /** deterministic 9-variant Windows-event XML (plain System enrichment /
    * RenderingInfo override / EventData pairs / malformed), the input of
    * q_decode_wineventlog. */
  private[graft] def winevtXml: Column = {
    val v = col("turn_idx") % 9
    val eid = (col("turn_idx") % 10 + 4600).cast("string")
    val kwHex = when(col("turn_idx") % 3 === 0, lit("0x8020000000000000"))
      .when(col("turn_idx") % 3 === 1, lit("0x8010000000000000"))
      .otherwise(lit("0x80000000000000"))
    val sys = concat(
      lit("<System><Provider Name='Prov' Guid='{g-1}'/><EventID>"), eid,
      lit("</EventID><Level>"), (col("turn_idx") % 8).cast("string"),
      lit("</Level><Task>0</Task><Opcode>"), (col("turn_idx") % 4).cast("string"),
      lit("</Opcode><Keywords>"), kwHex,
      lit("</Keywords><TimeCreated SystemTime='2021-03-23T09:56:13.137310000Z'/>" +
        "<EventRecordID>"), (col("turn_idx") + 1).cast("string"),
      lit("</EventRecordID><Execution ProcessID='"),
      (col("turn_idx") % 100 + 1).cast("string"),
      lit("' ThreadID='7'/><Channel>Security</Channel><Computer>host-"),
      col("conv_id"), lit("</Computer></System>"))
    val tail = when(v === 1, concat(
        lit("<RenderingInfo><Message>ok "), col("role"),
        lit("\n</Message><Level>Custom</Level><Task>T1</Task><Opcode>OpX</Opcode>" +
          "<Keywords><Keyword>RK</Keyword></Keywords></RenderingInfo>")))
      .when(v === 2, concat(
        lit("<EventData><Data Name='Role'>"), col("role"), lit("</Data><Data>"),
        col("tool"), lit("</Data></EventData>")))
      .otherwise(lit(""))
    when(v === 0, lit("<Event><broken>"))
      .otherwise(concat(lit("<Event>"), sys, tail, lit("</Event>")))
  }

  /** fixed demonstrative merge table for q_bpe_segment — shared by the
    * Spark query and the generated oracle so the two cannot drift. It is
    * rank-consistent, as `bpeSegment` requires. */
  private val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
    "an" -> "d", "e" -> "r", "o" -> "n", "r" -> "e")

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embeds(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** shared by q_dedup_clusters and q_dedup_clusters_lsh — star-edge
    * clustering resolves the SAME components as the all-pairs closure on
    * this corpus (DedupSpec pins the set-equality), so the exact
    * transitive-closure oracle applies to both. */
  private val clustersOracle: String =
    OracleCte.jaccardPairs.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, und AS (
        |  SELECT a_id AS u, b_id AS v FROM jpairs
        |  UNION SELECT b_id AS u, a_id AS v FROM jpairs
        |), reach(u, v) AS (
        |  SELECT u, v FROM und
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u AND e.v <> r.u
        |), comp AS (
        |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
        |)
        | SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
        |   COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS keep
        | FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin

  /** shared by the four ANN queries — each runs an exact-degenerate config
    * (brute force; full-probe LSH; IVF/IVF-PQ at nprobe=nlist with exact
    * rerank), so all four state the same brute-force top-k contract. */
  private val annBruteOracle: String =
    OracleCte.cosinePairs.replace(", cpairs AS (", ", cpairs_unused AS (") +
      """, q AS (SELECT * FROM e WHERE vec_id < 8),
        | scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
        |  FROM e c JOIN q ON q.vec_id <> c.vec_id
        | ), ranked AS (
        |  SELECT query_id,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank,
        |    neighbor_id, round(cos, 4) AS cos
        |  FROM scored)
        | SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 5""".stripMargin

  /** every query with its oracle, grouped by stage. */
  val all: Seq[Query] = Seq(
    // --- transcripts derivation (the shared input table) ---
    Query("q_transcripts", (s, dir) => t(s, dir),
      oracle = OracleCte.transcripts + " SELECT * FROM transcripts"),

    // --- parse stage (custom Catalyst expression, serverlog semantics) ---
    Query("q_parse_serverlog", (s, dir) =>
      TranscriptPipeline.parse(t(s, dir)).drop("extra"),
      oracle = OracleCte.parsed +
        """ SELECT conv_id, turn_idx, role, tool, ts, text, logtime, service,
          | hostname, level, thread, class, method, line, trace_id, span_id,
          | message, CAST(NULL AS VARCHAR) AS script_error, status
          | FROM parsed""".stripMargin),

    // --- enrich stage (the lookups as map literals, in codegen) ---
    // "broadcast" still holds: the dims reach every task inside the task
    // binary Spark broadcasts. No hash relation is built and there is no
    // join key, so there is nothing to salt.
    Query("q_enrich_broadcast", (s, dir) =>
      t(s, dir).select(Seq("conv_id", "turn_idx", "tool", "role").map(col) ++
        graft.enrich.Enrich.columns: _*),
      oracle = OracleCte.transcripts + "," + OracleCte.lookups +
        """ SELECT conv_id, turn_idx, t.tool AS tool, t.role AS role,
          | tool_kind, tool_team, role_class, role_priority
          | FROM transcripts t
          | LEFT JOIN tool_meta tm ON t.tool = tm.tool
          | LEFT JOIN role_meta rm ON t.role = rm.role""".stripMargin),

    // --- route stage: sink selection + metrics parity gates ---
    Query("q_route_sink_counts", (s, dir) =>
      TranscriptPipeline.transform(t(s, dir))
        .groupBy("sink").agg(count(lit(1)).as("events")),
      oracle = OracleCte.parsed +
        " SELECT sink, count(*) AS events FROM parsed GROUP BY sink"),

    Query("q_routed_rows", (s, dir) =>
      TranscriptPipeline.routed(t(s, dir))
        .select("conv_id", "turn_idx", "sink", "text", "doc_id"),
      oracle = OracleCte.parsed +
        """ SELECT conv_id, turn_idx, sink, text,
          | sha256(conv_id || '#' || CAST(turn_idx AS VARCHAR)) AS doc_id
          | FROM parsed WHERE sink <> 'filtered'""".stripMargin),

    // --- snapshot-table end-to-end: run the CHECKPOINTED pipeline (one
    //     staged fan-out and one staged offsets write for every group → per
    //     group: its sink and offsets slices moved in, then ONE commit of
    //     the root log) to a scratch root, then read the per-sink counts
    //     BACK through that log — the whole table-format protocol inside
    //     the oracle gate, not just the declarative plan ---
    Query("q_snapshot_sinks", (s, dir) => {
      val root = ScratchDir("graft-q-snap")
      graft.pipeline.PipelineRunner.run(t(s, dir), root, groups = 2)
      val reg = new graft.checkpoint.Registry(root, s)
      graft.model.Sinks.All.flatMap(k => reg.readSink(k))
        .map(_.groupBy("sink").agg(count(lit(1)).as("events")))
        .reduce(_ unionByName _)
    },
      // read-back through the snapshot tables must equal the declarative
      // route counts (filtered rows are counted but never written)
      oracle = OracleCte.parsed +
        " SELECT sink, count(*) AS events FROM parsed" +
        " WHERE sink <> 'filtered' GROUP BY sink"),

    // --- snapshot time travel: two committed batches, then read the table
    //     as of EACH version — history must not move under the second
    //     commit, and per-version contents are predicted closed-form ---
    Query("q_snapshot_timetravel", (s, dir) => {
      val root = ScratchDir("graft-q-tt")
      val tbl = new graft.checkpoint.SnapshotTable(root, s)
      val base = t(s, dir)
      val staging = tbl.stagingDir("batch")
      for ((txn, third) <- Seq("batch-a" -> true, "batch-b" -> false)) {
        val batch = base.filter((pmod(col("turn_idx"), lit(3)) === 0) === third)
        batch.write.options(graft.io.LocalFs.writeOptions).mode("overwrite").parquet(staging)
        tbl.commit(txn, None,
          Seq(graft.checkpoint.SnapshotTable.Slice("", tbl.moveIn(staging), Some(batch.schema))))
      }
      (1L to 2L).map { v =>
        tbl.stateAt(v).flatMap(tbl.readTable("", _)).get.groupBy("role")
          .agg(count(lit(1)).as("events"))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
    },
      // time travel: version 1 = the turn_idx%3=0 batch, version 2 = the
      // whole table — each version's per-role counts are closed-form
      oracle = OracleCte.transcripts +
        """ SELECT role, count(*) AS events, CAST(1 AS BIGINT) AS version
          | FROM transcripts WHERE turn_idx % 3 = 0 GROUP BY role
          | UNION ALL
          | SELECT role, count(*) AS events, CAST(2 AS BIGINT) AS version
          | FROM transcripts GROUP BY role""".stripMargin),

    Query("q_bucket_metrics", (s, dir) =>
      TranscriptPipeline.transform(t(s, dir))
        .withColumn("bucket", substring(col("conv_id"), 6, 8).cast("int") % 8)
        .groupBy("bucket", "sink").agg(count(lit(1)).as("events")),
      oracle = OracleCte.parsed +
        """ SELECT CAST(substr(conv_id, 6, 8) AS INTEGER) % 8 AS bucket,
          | sink, count(*) AS events FROM parsed GROUP BY 1, 2""".stripMargin),

    // --- text analysis over the documents table ---
    Query("q_text_stats", (s, dir) =>
      graft.textops.TextOps.stats(docs(s, dir)),
      oracle = OracleCte.docTokens +
        """, hits AS (
          |  SELECT doc_id, text, toks,
          |    CAST(len(list_filter(toks, t -> list_contains(['the','a','and','of','to','in','is','it'], lower(t)))) AS INTEGER) AS en_h,
          |    CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein'], lower(t)))) AS INTEGER) AS de_h,
          |    CAST(len(list_filter(toks, t -> list_contains(['le','la','et','les','des','une','est'], lower(t)))) AS INTEGER) AS fr_h,
          |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()]', '', 'g')) AS INTEGER) AS punct
          |  FROM sh)
          | SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS INTEGER) AS n_subwords,
          |  en_h AS stop_hits, punct AS punct_chars,
          |  CAST(floor(CAST(length(text) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 10000.0 + 0.5) AS INTEGER) AS avg_token_len_e4,
          |  CASE WHEN en_h + de_h + fr_h = 0 THEN 'und'
          |       WHEN en_h >= de_h AND en_h >= fr_h THEN 'en'
          |       WHEN de_h >= fr_h THEN 'de' ELSE 'fr' END AS lang,
          |  CAST(floor((0.5 * least(CAST(len(toks) AS DOUBLE) / 50.0, 1.0)
          |      + 0.3 * least(5.0 * (CAST(en_h AS DOUBLE) / CAST(len(toks) AS DOUBLE)), 1.0)
          |      + 0.2 * (1.0 - CAST(punct AS DOUBLE) / CAST(length(text) AS DOUBLE))) * 10000.0 + 0.5) AS INTEGER) AS quality_e4
          | FROM hits""".stripMargin),

    // --- Gopher quality gate: composed keep/drop with reason taxonomy ---
    Query("q_gopher_filter", (s, dir) =>
      graft.textops.TextOps.gopherFilter(docs(s, dir)),
      // Gopher quality gate: every rule mirrored closed-form; reason CASE
      // order identical to TextOps.gopherFilter (first failing rule wins)
      oracle = OracleCte.repetition +
        """, gop AS (
          |  SELECT d.doc_id,
          |    CAST(len(string_split_regex(trim(d.text), '\s+')) AS INTEGER) AS n_tokens,
          |    CAST(length(replace(d.text, ' ', '')) AS DOUBLE)
          |      / len(string_split_regex(trim(d.text), '\s+')) AS mean_len,
          |    CAST(len(list_filter(string_split_regex(trim(d.text), '\s+'),
          |      t -> list_contains(['the','a','and','of','to','in','is','it'], lower(t)))) AS INTEGER) AS stop_hits,
          |    CAST(length(d.text) - length(regexp_replace(d.text, '[.,!?;:''"()]', '', 'g')) AS DOUBLE)
          |      / length(d.text) AS punct_ratio,
          |    r.top_frac2, r.dup_frac3
          |  FROM documents d JOIN repetition r ON d.doc_id = r.doc_id
          |), gop2 AS (
          |  SELECT *, CASE WHEN n_tokens < 8 THEN 'too_short'
          |    WHEN n_tokens > 10000 THEN 'too_long'
          |    WHEN mean_len < 3.0 OR mean_len > 10.0 THEN 'word_length'
          |    WHEN stop_hits < 2 THEN 'stopwords'
          |    WHEN punct_ratio > 0.1 THEN 'symbols'
          |    WHEN top_frac2 > 0.20 THEN 'top_2gram'
          |    WHEN dup_frac3 > 0.18 THEN 'dup_3gram' END AS reason
          |  FROM gop)
          | SELECT doc_id, reason IS NULL AS keep, reason, n_tokens,
          |  CAST(floor(mean_len * 10000 + 0.5) AS INTEGER) AS mean_len_e4,
          |  stop_hits,
          |  CAST(floor(punct_ratio * 10000 + 0.5) AS INTEGER) AS punct_e4,
          |  CAST(floor(top_frac2 * 10000 + 0.5) AS INTEGER) AS top2_e4,
          |  CAST(floor(dup_frac3 * 10000 + 0.5) AS INTEGER) AS dup3_e4
          | FROM gop2""".stripMargin),

    // --- Gopher repetition filters: top/duplicate n-gram char fractions ---
    Query("q_repetition", (s, dir) =>
      docs(s, dir)
        .withColumn("_r2", graft.functions.ngram_char_fracs(col("text"), 2))
        .withColumn("_r3", graft.functions.ngram_char_fracs(col("text"), 3))
        .select(col("doc_id"),
          col("_r2.top_gram").as("top_gram2"),
          col("_r2.top_frac").as("top_frac2"),
          col("_r2.dup_frac").as("dup_frac2"),
          col("_r3.top_frac").as("top_frac3"),
          col("_r3.dup_frac").as("dup_frac3")),
      oracle = OracleCte.repetition +
        """ SELECT doc_id, top_gram2, top_frac2, dup_frac2, top_frac3, dup_frac3
          | FROM repetition""".stripMargin),

    // --- dedup family ---
    Query("q_dedup_exact", (s, dir) =>
      graft.textops.TextOps.dedupExact(docs(s, dir)),
      oracle = """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        | min(doc_id) AS keep_id, count(*) AS n_dupes
        | FROM documents GROUP BY 1""".stripMargin),

    // --- exact substring-duplication spans (Lee et al. ExactSubstr at
    //     window granularity): per-document duplicated-token profile ---
    Query("q_dedup_substring", (s, dir) =>
      graft.dedup.Dedup.substringDupSpans(docs(s, dir), w = 8),
      // substring spans: the oracle groups on the window STRING itself (the
      // Spark path shuffles an xxhash64 fingerprint of the same window — a
      // 64-bit collision is the only way the two can diverge), then mirrors
      // the gaps-and-islands merge with window functions.
      oracle = """WITH tok AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n_tok FROM tok
        |), wins AS (
        |  SELECT doc_id, u.pos AS pos, u.win AS win FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
        |      i -> {'pos': i, 'win': array_to_string(toks[i:i+7], ' ')})) AS u
        |    FROM tk WHERE len(toks) >= 8)
        |), dup AS (
        |  SELECT win FROM wins GROUP BY win HAVING count(*) >= 2
        |), d AS (
        |  SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (win)
        |), marks AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |         THEN 0 ELSE 1 END AS ni
        |  FROM d
        |), isl AS (
        |  SELECT doc_id, pos,
        |    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island_id
        |  FROM marks
        |), spans AS (
        |  SELECT doc_id, island_id, min(pos) AS s, max(pos) + 8 AS e
        |  FROM isl GROUP BY 1, 2
        |), per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(e - s) AS BIGINT) AS cov
        |  FROM spans GROUP BY 1
        |), nd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup FROM d GROUP BY 1
        |)
        | SELECT t.doc_id, t.n_tok,
        |  CAST(coalesce(nd.n_dup, 0) AS BIGINT) AS n_dup,
        |  CAST(coalesce(per.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(coalesce(per.cov, 0) AS BIGINT) AS cov,
        |  CAST(coalesce(per.cov, 0) AS DOUBLE) / t.n_tok AS dup_frac
        | FROM tk t
        | LEFT JOIN per ON t.doc_id = per.doc_id
        | LEFT JOIN nd ON t.doc_id = nd.doc_id""".stripMargin),

    // --- ExactSubstr removal: duplicated windows keep only their globally
    //     first occurrence; documents reassembled from surviving tokens ---
    Query("q_dedup_substring_rm", (s, dir) =>
      graft.dedup.Dedup.removeDupSpans(docs(s, dir), w = 8),
      // ExactSubstr removal: keep-first is row_number()=1 over (doc_id, pos)
      // per window STRING (the twin of Spark's min(struct) per xxhash64);
      // token indices of every loser window union into the deletion set and
      // the document reassembles as an ordered string_agg of survivors
      oracle = """WITH tok AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS raw,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, raw, toks, CAST(len(toks) AS INTEGER) AS n_tok FROM tok
        |), wins AS (
        |  SELECT doc_id, u.pos AS pos, u.win AS win FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 7),
        |      i -> {'pos': i, 'win': array_to_string(toks[i:i+7], ' ')})) AS u
        |    FROM tk WHERE len(toks) >= 8)
        |), dup AS (
        |  SELECT win FROM wins GROUP BY win HAVING count(*) >= 2
        |), dw AS (
        |  SELECT w.doc_id, w.pos,
        |    row_number() OVER (PARTITION BY w.win ORDER BY w.doc_id, w.pos) AS rn
        |  FROM wins w JOIN dup USING (win)
        |), del AS (
        |  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS i
        |  FROM dw WHERE rn > 1
        |), rtok AS (
        |  SELECT doc_id, unnest(raw) AS tkn, generate_subscripts(raw, 1) AS i FROM tk
        |), keptTok AS (
        |  SELECT r.doc_id, r.tkn, r.i
        |  FROM rtok r LEFT JOIN del d ON r.doc_id = d.doc_id AND r.i = d.i
        |  WHERE d.i IS NULL
        |)
        | SELECT t.doc_id,
        |  coalesce(string_agg(k.tkn, ' ' ORDER BY k.i), '') AS text,
        |  any_value(t.n_tok) AS n_tok,
        |  CAST(any_value(t.n_tok) - count(k.i) AS INTEGER) AS n_removed
        | FROM tk t LEFT JOIN keptTok k ON t.doc_id = k.doc_id
        | GROUP BY t.doc_id""".stripMargin),

    Query("q_dedup_jaccard", (s, dir) =>
      graft.dedup.Dedup.jaccardPairs(docs(s, dir), 80),
      oracle = OracleCte.jaccardPairs + " SELECT * FROM jpairs"),

    Query("q_dedup_minhash", (s, dir) =>
      graft.dedup.Dedup.minhashPairs(docs(s, dir), 80),
      // minhash LSH has effectively-perfect recall at τ=0.8 with bands=16/r=2
      // (DedupSpec pins set-equality vs brute force), so its oracle is the same
      // brute-force verified-pair SQL.
      oracle = OracleCte.jaccardPairs + " SELECT * FROM jpairs"),

    Query("q_dedup_simhash", (s, dir) =>
      graft.dedup.Dedup.simhashPairs(docs(s, dir), maxHamming = 3),
      // SimHash mirrored bit-exactly in DuckDB: FNV-1a-64 per token in HUGEINT
      // wrap-mod arithmetic, per-bit ±1 tallies, sign bits, then brute-force
      // hamming pairs (pigeonhole guarantees the Spark plan generates every
      // hamming≤3 candidate; maxBucket never binds at verify scale). The fold
      // walks UTF-8 BYTES (hex(encode(t)) pairs), exactly like the kernel —
      // an ord()-per-codepoint fold would silently diverge on non-ASCII text.
      oracle = """WITH tok AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents
        |), th AS (
        |  SELECT doc_id, unnest(list_transform(toks, t ->
        |    list_reduce(list_prepend(14695981039346656037::HUGEINT,
        |      list_transform(generate_series(1, strlen(t)), i ->
        |        (16 * (strpos('0123456789ABCDEF', substr(hex(encode(t)), 2*i-1, 1)) - 1)
        |           + strpos('0123456789ABCDEF', substr(hex(encode(t)), 2*i, 1)) - 1)::HUGEINT)),
        |      (h, c) -> (xor(h, c) * 1099511628211::HUGEINT)
        |                 % 18446744073709551616::HUGEINT))) AS h
        |  FROM tok
        |), bits AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
        |  FROM th CROSS JOIN range(64) r(b) GROUP BY doc_id, b
        |), sig AS (
        |  SELECT doc_id, list(cnt > 0 ORDER BY b) AS bits FROM bits GROUP BY doc_id
        |)
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(list_filter(generate_series(1, 64), i -> a.bits[i] <> b.bits[i])) AS INTEGER) AS hamming
        | FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        | WHERE len(list_filter(generate_series(1, 64), i -> a.bits[i] <> b.bits[i])) <= 3""".stripMargin),

    // dedup RESOLUTION: near-dup pairs → connected components → one row per
    // document with its cluster id and the keep/drop decision
    Query("q_dedup_clusters", (s, dir) =>
      graft.dedup.Dedup.dedupClusters(docs(s, dir),
        graft.dedup.Dedup.minhashPairs(docs(s, dir), 80)),
      // cluster resolution: the oracle computes true transitive closure over
      // the same verified pair set with a recursive CTE, then labels every
      // document with min(component); star-edge clustering resolves the SAME
      // components (DedupSpec pins the set-equality) → ONE shared oracle
      oracle = clustersOracle),

    // --- the linear-scale clustering path: one verified star edge per
    //     (bucket member → bucket representative) instead of all pairs —
    //     same resolved clusters, O(docs × bands) candidates even on a
    //     boilerplate corpus where every bucket is one clique ---
    Query("q_dedup_clusters_lsh", (s, dir) =>
      graft.dedup.Dedup.minhashClusters(docs(s, dir), 80),
      oracle = clustersOracle),

    // --- the composed curation pipeline: quality gate → exact dedup →
    //     near-dup clusters, with per-document drop-stage lineage ---
    Query("q_curation", (s, dir) =>
      graft.dedup.Dedup.curate(docs(s, dir)),
      // curation: each stage mirrored over the PREVIOUS stage's survivors —
      // quality keep = conjunction of the q_gopher_filter rule negations,
      // exact = md5(normalized) winners, near-dup = recursive closure over
      // τ=0.8 length-blocked jaccard pairs among unique survivors
      oracle = OracleCte.repetition.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, gq AS (
          |  SELECT d.doc_id, d.text FROM documents d JOIN repetition r ON d.doc_id = r.doc_id
          |  WHERE len(string_split_regex(trim(d.text), '\s+')) BETWEEN 8 AND 10000
          |    AND CAST(length(replace(d.text, ' ', '')) AS DOUBLE)
          |        / len(string_split_regex(trim(d.text), '\s+')) BETWEEN 3.0 AND 10.0
          |    AND len(list_filter(string_split_regex(trim(d.text), '\s+'),
          |        t -> list_contains(['the','a','and','of','to','in','is','it'], lower(t)))) >= 2
          |    AND CAST(length(d.text) - length(regexp_replace(d.text, '[.,!?;:''"()]', '', 'g')) AS DOUBLE)
          |        / length(d.text) <= 0.1
          |    AND r.top_frac2 <= 0.20 AND r.dup_frac3 <= 0.18
          |), fps AS (
          |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp FROM gq
          |), winners AS (
          |  SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp
          |), uniq AS (
          |  SELECT g.doc_id, g.text FROM gq g JOIN winners w ON g.doc_id = w.doc_id
          |), utok AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
          |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS unorm
          |  FROM uniq
          |), ush AS (
          |  SELECT doc_id,
          |    CASE WHEN len(string_split(unorm, ' ')) < 3 THEN [unorm]
          |         ELSE list_distinct(list_transform(
          |           generate_series(1, len(string_split(unorm, ' ')) - 2),
          |           i -> array_to_string((string_split(unorm, ' '))[i:i+2], ' ')))
          |    END AS sh, CAST(len(toks) AS INTEGER) AS n_tok
          |  FROM utok
          |), upairs AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM ush a JOIN ush b
          |    ON a.doc_id < b.doc_id AND abs(a.n_tok - b.n_tok) <= 40
          |   AND len(list_intersect(a.sh, b.sh)) * 100 >=
          |       (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 80
          |), und AS (
          |  SELECT a_id AS u, b_id AS v FROM upairs
          |  UNION SELECT b_id AS u, a_id AS v FROM upairs
          |), reach(u, v) AS (
          |  SELECT u, v FROM und
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u AND e.v <> r.u
          |), comp AS (
          |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
          |), staged AS (
          |  SELECT d.doc_id,
          |    CASE WHEN g.doc_id IS NULL THEN 'dropped_quality'
          |         WHEN w.doc_id IS NULL THEN 'dropped_exact'
          |         WHEN COALESCE(c.cluster_id, d.doc_id) <> d.doc_id THEN 'dropped_neardup'
          |         ELSE 'kept' END AS stage
          |  FROM documents d
          |  LEFT JOIN gq g ON d.doc_id = g.doc_id
          |  LEFT JOIN winners w ON d.doc_id = w.doc_id
          |  LEFT JOIN comp c ON d.doc_id = c.doc_id
          |)
          | SELECT doc_id, stage, stage = 'kept' AS kept FROM staged""".stripMargin),

    // --- the curation pipeline with the decontamination stage active:
    //     quality → benchmark-gram decontamination → exact → near-dup;
    //     bench = the doc_id % 17 == 3 split, corpus = the rest ---
    Query("q_curation_decon", (s, dir) => {
      val d = docs(s, dir)
      graft.dedup.Dedup.curate(d.filter(col("doc_id") % 17 =!= 3),
        bench = Some(d.filter(col("doc_id") % 17 === 3)), deconN = 4)
    },
      // the decontaminating curation chain: the q_curation mirror with (a) the
      // corpus restricted to doc_id % 17 <> 3, (b) a 4-gram benchmark probe
      // spliced between the quality gate and the exact stage, (c) the
      // dropped_contaminated lineage rung
      oracle = OracleCte.repetition.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, gq AS (
          |  SELECT d.doc_id, d.text FROM documents d JOIN repetition r ON d.doc_id = r.doc_id
          |  WHERE d.doc_id % 17 <> 3
          |    AND len(string_split_regex(trim(d.text), '\s+')) BETWEEN 8 AND 10000
          |    AND CAST(length(replace(d.text, ' ', '')) AS DOUBLE)
          |        / len(string_split_regex(trim(d.text), '\s+')) BETWEEN 3.0 AND 10.0
          |    AND len(list_filter(string_split_regex(trim(d.text), '\s+'),
          |        t -> list_contains(['the','a','and','of','to','in','is','it'], lower(t)))) >= 2
          |    AND CAST(length(d.text) - length(regexp_replace(d.text, '[.,!?;:''"()]', '', 'g')) AS DOUBLE)
          |        / length(d.text) <= 0.1
          |    AND r.top_frac2 <= 0.20 AND r.dup_frac3 <= 0.18
          |), bqt AS (
          |  SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
          |  FROM documents WHERE doc_id % 17 = 3
          |), bgrams AS (
          |  SELECT DISTINCT array_to_string(toks[i:i+3], ' ') AS g
          |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 3)) AS i
          |        FROM bqt WHERE len(toks) >= 4)
          |), gqt AS (
          |  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
          |  FROM gq
          |), cgrams AS (
          |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+3], ' ') AS g
          |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS i
          |        FROM gqt WHERE len(toks) >= 4)
          |), contam AS (
          |  SELECT DISTINCT doc_id FROM cgrams JOIN bgrams USING (g)
          |), clean AS (
          |  SELECT g.doc_id, g.text FROM gq g
          |  LEFT JOIN contam c ON g.doc_id = c.doc_id WHERE c.doc_id IS NULL
          |), fps AS (
          |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp FROM clean
          |), winners AS (
          |  SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp
          |), uniq AS (
          |  SELECT g.doc_id, g.text FROM clean g JOIN winners w ON g.doc_id = w.doc_id
          |), utok AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
          |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS unorm
          |  FROM uniq
          |), ush AS (
          |  SELECT doc_id,
          |    CASE WHEN len(string_split(unorm, ' ')) < 3 THEN [unorm]
          |         ELSE list_distinct(list_transform(
          |           generate_series(1, len(string_split(unorm, ' ')) - 2),
          |           i -> array_to_string((string_split(unorm, ' '))[i:i+2], ' ')))
          |    END AS sh, CAST(len(toks) AS INTEGER) AS n_tok
          |  FROM utok
          |), upairs AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
          |  FROM ush a JOIN ush b
          |    ON a.doc_id < b.doc_id AND abs(a.n_tok - b.n_tok) <= 40
          |   AND len(list_intersect(a.sh, b.sh)) * 100 >=
          |       (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 80
          |), und AS (
          |  SELECT a_id AS u, b_id AS v FROM upairs
          |  UNION SELECT b_id AS u, a_id AS v FROM upairs
          |), reach(u, v) AS (
          |  SELECT u, v FROM und
          |  UNION
          |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u AND e.v <> r.u
          |), comp AS (
          |  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
          |), staged AS (
          |  SELECT d.doc_id,
          |    CASE WHEN g.doc_id IS NULL THEN 'dropped_quality'
          |         WHEN ct.doc_id IS NOT NULL THEN 'dropped_contaminated'
          |         WHEN w.doc_id IS NULL THEN 'dropped_exact'
          |         WHEN COALESCE(c.cluster_id, d.doc_id) <> d.doc_id THEN 'dropped_neardup'
          |         ELSE 'kept' END AS stage
          |  FROM (SELECT doc_id FROM documents WHERE doc_id % 17 <> 3) d
          |  LEFT JOIN gq g ON d.doc_id = g.doc_id
          |  LEFT JOIN contam ct ON d.doc_id = ct.doc_id
          |  LEFT JOIN winners w ON d.doc_id = w.doc_id
          |  LEFT JOIN comp c ON d.doc_id = c.doc_id
          |)
          | SELECT doc_id, stage, stage = 'kept' AS kept FROM staged""".stripMargin),

    // --- benchmark decontamination: a deterministic eval split (doc_id %
    //     17 == 3) plays the benchmark corpus; 4-gram overlap marks leaks ---
    Query("q_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      graft.textops.CorpusOps.decontaminate(
        d.filter(col("doc_id") % 17 =!= 3),
        d.filter(col("doc_id") % 17 === 3), n = 4)
    },
      // decontamination: the oracle joins on the n-gram STRING itself (the
      // Spark path broadcasts xxhash64 fingerprints of the same grams — a
      // 64-bit collision is the only way the two can diverge)
      oracle = """WITH nt AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS i
        |        FROM nt WHERE len(toks) >= 4)
        |), bg AS (
        |  SELECT DISTINCT g FROM wins WHERE doc_id % 17 = 3
        |), tg AS (
        |  SELECT DISTINCT doc_id, g FROM wins WHERE doc_id % 17 <> 3
        |), ng AS (
        |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_grams FROM tg GROUP BY 1
        |), h AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS hits
        |  FROM tg JOIN bg USING (g) GROUP BY 1
        |)
        | SELECT t.doc_id, coalesce(ng.n_grams, 0) AS n_grams,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
        |  coalesce(h.hits, 0) >= 1 AS contaminated
        | FROM (SELECT doc_id FROM nt WHERE doc_id % 17 <> 3) t
        | LEFT JOIN ng USING (doc_id) LEFT JOIN h USING (doc_id)""".stripMargin),

    // --- PII redaction over deterministically-injected emails / IPv4s /
    //     phone numbers (built closed-form from doc_id so the oracle
    //     constructs the identical input) ---
    Query("q_pii_redact", (s, dir) =>
      graft.textops.CorpusOps.redactPii(
        docs(s, dir).select(col("doc_id"), when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id") % 50,
            lit("@ex"), col("doc_id") % 7, lit(".org or 10."),
            col("doc_id") % 256, lit("."), (col("doc_id") * 3) % 256,
            lit("."), (col("doc_id") * 7) % 256, lit(" now")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" call +1 555-0"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
              lit(" today")))
          .otherwise(col("text")).as("text"))),
      // PII redaction: identical injected input built closed-form from
      // doc_id, then the same three-stage regex cascade (the patterns live in
      // the Java∩RE2 agreement subset — CorpusOps.EmailRe/Ipv4Re/PhoneRe)
      oracle = """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' || CAST(doc_id % 50 AS VARCHAR) || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org or 10.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 3) % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' now'
        |         WHEN doc_id % 3 = 1 THEN text || ' call +1 555-0' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || ' today'
        |         ELSE text END AS t0
        |  FROM documents
        |), r1 AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
        |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM p
        |), r2 AS (
        |  SELECT doc_id, n_email,
        |    CAST(len(regexp_extract_all(t1, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS n_ip,
        |    regexp_replace(t1, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS t2
        |  FROM r1
        |), r3 AS (
        |  SELECT doc_id, n_email, n_ip,
        |    CAST(len(regexp_extract_all(t2, '\+[0-9][0-9 \-]{6,14}[0-9]')) AS INTEGER) AS n_phone,
        |    regexp_replace(t2, '\+[0-9][0-9 \-]{6,14}[0-9]', '<PHONE>', 'g') AS t3
        |  FROM r2
        |)
        | SELECT doc_id, t3 AS redacted, n_email, n_ip, n_phone,
        |  n_email + n_ip + n_phone > 0 AS had_pii
        | FROM r3""".stripMargin),

    // --- corpus mixing: per-source epoch schedule (down-sample src0, 2.25
    //     epochs of src1, drop src2, keep the rest) on the md5 coin ---
    Query("q_sample_mix", (s, dir) =>
      graft.textops.CorpusOps.mixStrata(docs(s, dir), col("source"),
        Map("src0" -> 0.5, "src1" -> 2.25, "src2" -> 0.0)),
      // corpus mixing: the md5 coin and the per-stratum thresholds are
      // closed-form (floor(frac·2³²) as 8-hex-digit strings: 0.5→'80000000',
      // 0.25→'40000000', frac 0→'00000000' which keeps nothing extra)
      oracle = """WITH base AS (
        |  SELECT doc_id, source AS stratum,
        |    substr(md5(CAST(doc_id AS VARCHAR) || ':mix1'), 1, 8) AS bucket,
        |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 2 WHEN 'src2' THEN 0 ELSE 1 END AS full_copies,
        |    CASE source WHEN 'src0' THEN '80000000' WHEN 'src1' THEN '40000000' WHEN 'src2' THEN '00000000' ELSE '00000000' END AS thr
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, stratum,
        |    full_copies + CASE WHEN bucket < thr THEN 1 ELSE 0 END AS copies
        |  FROM base
        |)
        | SELECT doc_id, stratum, CAST(unnest(generate_series(1, copies)) AS INTEGER) AS epoch
        | FROM c WHERE copies > 0""".stripMargin),

    // --- deterministic global corpus shuffle (pre-packing permutation) ---
    Query("q_shuffle_corpus", (s, dir) =>
      graft.textops.CorpusOps.shuffleCorpus(docs(s, dir)),
      oracle = """SELECT doc_id,
        | md5(CAST(doc_id AS VARCHAR) || ':shuf1') AS shuffle_key,
        | CAST(position(substr(md5(CAST(doc_id AS VARCHAR) || ':shuf1'), 1, 1)
        |   IN '0123456789abcdef') - 1 AS INTEGER) AS shard
        | FROM documents""".stripMargin),

    // --- per-(source, lang) token-budget accounting ---
    Query("q_token_budget", (s, dir) =>
      graft.textops.CorpusOps.tokenBudget(docs(s, dir)),
      oracle = """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        | CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0))) AS BIGINT) AS n_subwords
        | FROM documents GROUP BY 1, 2""".stripMargin),

    // --- HTML boilerplate strip over deterministically-wrapped documents
    //     (script/style blocks, tags, entities, whitespace collapse) ---
    Query("q_strip_html", (s, dir) =>
      graft.textops.CorpusOps.extractHtml(
        docs(s, dir).select(col("doc_id"), concat(
          lit("<html><head><style>p{color:red}</style><script>var x=1;</script></head><body><h1>Doc "),
          col("doc_id"), lit("</h1><p>"), col("text"),
          lit("</p><br/>&amp; &lt;tail&gt; &nbsp;ok</body></html>")).as("text"))),
      // HTML strip: identical wrapped input, then the same block-drop →
      // tag-strip → entity-decode (&amp; last) → whitespace-collapse cascade
      oracle = """WITH p AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style><script>var x=1;</script></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p><br/>&amp; &lt;tail&gt; &nbsp;ok</body></html>' AS h
        |  FROM documents
        |), nb AS (
        |  SELECT doc_id, h,
        |    regexp_replace(regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS b
        |  FROM p
        |), nt AS (
        |  SELECT doc_id, h, regexp_replace(b, '<[^>]+>', ' ', 'g') AS t0,
        |    CAST(len(regexp_extract_all(b, '<[^>]+>')) AS INTEGER) AS n_tags
        |  FROM nb
        |), de AS (
        |  SELECT doc_id, h, n_tags,
        |    replace(replace(replace(replace(replace(replace(t0,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS d
        |  FROM nt
        |), fin AS (
        |  SELECT doc_id, n_tags, h,
        |    trim(regexp_replace(d, '[ \t\r\n]+', ' ', 'g')) AS text
        |  FROM de
        |)
        | SELECT doc_id, text, n_tags,
        |  CAST(floor(CAST(length(text) AS DOUBLE) / length(h) * 10000.0 + 0.5) AS INTEGER) AS visible_e4
        | FROM fin""".stripMargin),

    // --- sequence packing: concat-and-chunk into 128-token training
    //     sequences, per-source corpus order ---
    Query("q_pack_sequences", (s, dir) =>
      graft.textops.CorpusOps.packSequences(docs(s, dir), seqLen = 128),
      // packing: the cumsum window + integer chunk arithmetic mirror exactly
      // (both engines: nonneg values < 2^53, so floor-division is exact)
      oracle = """WITH t AS (
        |  SELECT doc_id, source AS stratum,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, stratum, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY stratum ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM t
        |)
        | SELECT doc_id, stratum, n_tok, start_tok,
        |  start_tok // 128 AS first_seq,
        |  (start_tok + n_tok - 1) // 128 AS last_seq,
        |  (start_tok + n_tok - 1) // 128 - start_tok // 128 + 1 AS n_seqs
        | FROM c""".stripMargin),

    // --- vocabulary with min-count pruning over normalized tokens ---
    Query("q_vocabulary", (s, dir) =>
      graft.textops.CorpusOps.vocabulary(docs(s, dir), minCount = 5),
      oracle = """SELECT token, CAST(count(*) AS BIGINT) AS n
        | FROM (SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
        |       FROM documents)
        | GROUP BY token HAVING count(*) >= 5""".stripMargin),

    // --- CCNet-style unigram cross-entropy quality score: LM trained on
    //     the corpus itself (min-count 5), every document scored under it ---
    Query("q_cross_entropy", (s, dir) => {
      val d = docs(s, dir)
      graft.textops.CorpusOps.crossEntropy(d,
        graft.textops.CorpusOps.vocabulary(d, minCount = 5))
    },
      // cross-entropy: same tokenization as q_vocabulary; the ln/sum float
      // drift across engines (~1e-15 relative) is absorbed by the 1e-4 grid
      oracle = """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
        |  FROM documents
        |), lm AS (
        |  SELECT token, count(*) AS n FROM toks GROUP BY 1 HAVING count(*) >= 5
        |), mass AS (
        |  SELECT CAST(sum(n) AS DOUBLE) + 0.5 AS lm_mass FROM lm
        |)
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN lm.n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov,
        |  CAST(floor(sum(-ln(coalesce(CAST(lm.n AS DOUBLE), 0.5) / lm_mass))
        |    / count(*) * 10000.0 + 0.5) AS INTEGER) AS ce_e4
        | FROM toks LEFT JOIN lm USING (token), mass
        | GROUP BY doc_id""".stripMargin),

    // --- within-document line dedup (repeated boilerplate lines kept at
    //     first occurrence) over a closed-form multi-line synthesis ---
    Query("q_line_dedup", (s, dir) =>
      graft.textops.CorpusOps.dedupLines(
        docs(s, dir).select(col("doc_id"), concat(
          substring(col("text"), 1, 40), lit("\nSHARED FOOTER line\n"),
          substring(col("text"), 1, 40), lit("\nSHARED FOOTER line\n"),
          substring(col("text"), 41, 40)).as("text"))),
      // line dedup: keep-first is `list_position(lines, x) = i` — DuckDB's
      // 1-based lambda index states the identical rule as Spark's
      // `array_position(_l, x) = i + 1` over its 0-based filter index
      oracle = """WITH p AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || chr(10) || 'SHARED FOOTER line' || chr(10) ||
        |    substr(text, 1, 40) || chr(10) || 'SHARED FOOTER line' || chr(10) ||
        |    substr(text, 41, 40) AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, string_split(t, chr(10)) AS ls FROM p
        |), k AS (
        |  SELECT doc_id, ls,
        |    list_filter(ls, (x, i) -> list_position(ls, x) = i) AS ks
        |  FROM l
        |)
        | SELECT doc_id, array_to_string(ks, chr(10)) AS text,
        |  CAST(len(ls) AS INTEGER) AS n_lines,
        |  CAST(len(ls) - len(ks) AS INTEGER) AS n_dropped
        | FROM k""".stripMargin),

    // --- greedy merge-rank BPE segmentation under a fixed demonstrative
    //     merge table (per-word subword arrays; counts + first word) ---
    Query("q_bpe_segment", (s, dir) => {
      val segs = graft.textops.TextOps.bpeSegment(col("text"), BpeMerges)
      docs(s, dir).select(col("doc_id"), segs.as("segs"))
        .select(col("doc_id"),
          size(col("segs")).as("n_words"),
          size(flatten(col("segs"))).as("n_subwords"),
          array_join(element_at(col("segs"), 1), " ").as("first_seg"))
    },
      // BPE segmentation: the oracle rebuilds the identical fence-cell
      // rewrite (chr(1)-fenced symbols, plain non-overlapping replace) from
      // the SAME merge table the Spark query uses — generated, so the two
      // sides cannot drift; char split is the regex `.` (a full code point
      // in both Java and RE2). On this rank-consistent table the kernel's
      // min-rank loop states exactly this rank-order rewrite.
      oracle = {
        val cells = "array_to_string(list_transform(regexp_extract_all(w, '.', 0)," +
          " c -> chr(1)||c||chr(1)), '')"
        val chain = BpeMerges.foldLeft(cells) { case (acc, (a, b)) =>
          s"replace($acc, chr(1)||'$a'||chr(1)||chr(1)||'$b'||chr(1), chr(1)||'$a$b'||chr(1))"
        }
        s"""WITH w AS (
           |  SELECT doc_id,
           |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS words
           |  FROM documents
           |), seg AS (
           |  SELECT doc_id, list_transform(words, w ->
           |    string_split(trim($chain, chr(1)), chr(1)||chr(1))) AS segs
           |  FROM w
           |)
           | SELECT doc_id,
           |  CAST(len(segs) AS INTEGER) AS n_words,
           |  CAST(len(flatten(segs)) AS INTEGER) AS n_subwords,
           |  array_to_string(segs[1], ' ') AS first_seg
           | FROM seg""".stripMargin
      }),

    // --- CCNet perplexity tertiles: cross-entropy scores bucketed
    //     head/middle/tail per language ---
    Query("q_ppl_buckets", (s, dir) => {
      val d = docs(s, dir)
      val scored = graft.textops.CorpusOps.crossEntropy(d,
        graft.textops.CorpusOps.vocabulary(d, minCount = 5))
        .join(d.select(col("doc_id"), col("lang").as("stratum")), Seq("doc_id"))
      graft.textops.CorpusOps.perplexityBuckets(scored, buckets = 3)
    },
      // perplexity buckets: the same cross-entropy mirror, then standard-SQL
      // ntile over the deterministic (ce_e4, doc_id) order per language —
      // both engines give earlier tiles the extra rows
      oracle = """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
        |  FROM documents
        |), lm AS (
        |  SELECT token, count(*) AS n FROM toks GROUP BY 1 HAVING count(*) >= 5
        |), mass AS (
        |  SELECT CAST(sum(n) AS DOUBLE) + 0.5 AS lm_mass FROM lm
        |), ce AS (
        |  SELECT doc_id,
        |    CAST(floor(sum(-ln(coalesce(CAST(lm.n AS DOUBLE), 0.5) / lm_mass))
        |      / count(*) * 10000.0 + 0.5) AS INTEGER) AS ce_e4
        |  FROM toks LEFT JOIN lm USING (token), mass
        |  GROUP BY doc_id
        |)
        | SELECT c.doc_id, d.lang AS stratum, c.ce_e4,
        |  CAST(ntile(3) OVER (PARTITION BY d.lang ORDER BY c.ce_e4, c.doc_id) AS INTEGER) AS bucket
        | FROM ce c JOIN documents d USING (doc_id)""".stripMargin),

    // --- ftfy-style mojibake repair over closed-form injected
    //     double-encodings ---
    Query("q_fix_mojibake", (s, dir) =>
      graft.textops.CorpusOps.fixMojibake(
        docs(s, dir).select(col("doc_id"), concat(
          substring(col("text"), 1, 30),
          lit(" cafÃ© â€œquoteâ€¦ straÃŸe Ã¶l")).as("text"))),
      // mojibake repair: the oracle chains the IDENTICAL exact-string
      // replace table (generated from CorpusOps.MojibakeTable so the two
      // can never drift); chars_fixed is a codepoint-length delta, which
      // both engines count identically for BMP text
      oracle = {
        val chain = graft.textops.CorpusOps.MojibakeTable.foldLeft("t") {
          case (acc, (bad, good)) => s"replace($acc, '$bad', '$good')"
        }
        s"""WITH p AS (
           |  SELECT doc_id,
           |    substr(text, 1, 30) || ' cafÃ© â€œquoteâ€¦ straÃŸe Ã¶l' AS t
           |  FROM documents
           |)
           | SELECT doc_id, $chain AS text,
           |  CAST(length(t) - length($chain) AS INTEGER) AS chars_fixed,
           |  length(t) <> length($chain) AS changed
           | FROM p""".stripMargin
      }),

    // --- per-document n-gram novelty (data-pruning signal): fraction of a
    //     doc's distinct trigrams first seen in this doc ---
    Query("q_gram_novelty", (s, dir) =>
      graft.textops.CorpusOps.gramNovelty(docs(s, dir), n = 3),
      // novelty: first-seen is min(doc_id) per distinct trigram — the oracle
      // groups on the gram string itself (64-bit collision is the only
      // possible divergence from the hashed Spark path)
      oracle = """WITH tk AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents
        |), g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS gram
        |    FROM tk WHERE len(toks) >= 3)
        |), f AS (
        |  SELECT gram, min(doc_id) AS fd FROM g GROUP BY 1
        |), p AS (
        |  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM g JOIN f USING (gram) GROUP BY 1
        |)
        | SELECT d.doc_id,
        |  coalesce(p.n_grams, 0) AS n_grams,
        |  coalesce(p.n_novel, 0) AS n_novel,
        |  CASE WHEN coalesce(p.n_grams, 0) = 0 THEN NULL
        |       ELSE CAST(floor(CAST(p.n_novel AS DOUBLE) / p.n_grams * 10000.0 + 0.5) AS INTEGER)
        |  END AS novelty_e4
        | FROM documents d LEFT JOIN p USING (doc_id)""".stripMargin),

    // --- XLM-R temperature sampling: per-(source, lang) mix weights from
    //     the token budget at alpha=0.3, 1M-token target ---
    Query("q_temperature_mix", (s, dir) =>
      graft.textops.CorpusOps.temperatureWeights(
        graft.textops.CorpusOps.tokenBudget(docs(s, dir)),
        Seq("source", "lang"), alpha = 0.3, targetTokens = 1000000L),
      // temperature sampling: pow/division are the identical IEEE-double
      // trees on both engines (≤ 1 ulp) against the 1e-4 grid
      oracle = """WITH b AS (
        |  SELECT source, lang,
        |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1, 2
        |), tot AS (
        |  SELECT CAST(sum(n_tokens) AS DOUBLE) AS big_n FROM b
        |), num AS (
        |  SELECT source, lang, n_tokens,
        |    pow(CAST(n_tokens AS DOUBLE) / big_n, 0.3) AS nm
        |  FROM b, tot
        |), z AS (
        |  SELECT sum(nm) AS z FROM num
        |)
        | SELECT source, lang, n_tokens,
        |  CAST(floor(nm / z * 10000.0 + 0.5) AS INTEGER) AS q_e4,
        |  CAST(floor(nm / z * 1000000 / CAST(n_tokens AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS weight_e4
        | FROM num, z""".stripMargin),

    // --- CCNet cross-document paragraph dedup over a closed-form multi-
    //     paragraph synthesis (a boilerplate paragraph shared by every
    //     document plus the docs' own prefix/suffix paragraphs) ---
    Query("q_paragraph_dedup", (s, dir) =>
      graft.textops.CorpusOps.dedupParagraphs(
        docs(s, dir).select(col("doc_id"), concat(
          substring(col("text"), 1, 60),
          lit("\n\nSHARED BOILERPLATE PARAGRAPH.\n\n"),
          substring(col("text"), 61, 60)).as("text"))),
      // paragraph dedup: keep-first is row_number()=1 over (doc_id, pos)
      // within each normalized paragraph — the string-keyed twin of Spark's
      // min(struct(doc_id, pos)) per xxhash64(norm) (64-bit collision is the
      // only possible divergence); reassembly is ordered string_agg
      oracle = """WITH p0 AS (
        |  SELECT doc_id,
        |    substr(text, 1, 60) || chr(10) || chr(10) || 'SHARED BOILERPLATE PARAGRAPH.' ||
        |    chr(10) || chr(10) || substr(text, 61, 60) AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, string_split(t, chr(10) || chr(10)) AS ps FROM p0
        |), p AS (
        |  SELECT doc_id, unnest(ps) AS para, generate_subscripts(ps, 1) - 1 AS pos FROM l
        |), r AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (
        |      PARTITION BY lower(trim(regexp_replace(para, '\s+', ' ', 'g')))
        |      ORDER BY doc_id, pos) AS rn
        |  FROM p
        |), kept AS (
        |  SELECT doc_id, pos, para FROM r WHERE rn = 1
        |)
        | SELECT l.doc_id,
        |  coalesce(string_agg(kept.para, chr(10) || chr(10) ORDER BY kept.pos), '') AS text,
        |  CAST(any_value(len(l.ps)) AS INTEGER) AS n_paras,
        |  CAST(any_value(len(l.ps)) - count(kept.pos) AS INTEGER) AS n_dropped
        | FROM l LEFT JOIN kept ON l.doc_id = kept.doc_id
        | GROUP BY l.doc_id""".stripMargin),

    // --- bootstrapped quality classifier: multinomial NB with add-one
    //     smoothing, labels from the Gopher gate (the CCNet/Llama
    //     heuristic-bootstrap pattern), every document scored ---
    Query("q_quality_nb", (s, dir) => {
      val d = docs(s, dir)
      val labeled = d.select(col("doc_id"), col("text"),
        graft.textops.TextOps.gopherReason(col("text")).isNull.as("label"))
      graft.textops.CorpusOps.nbScore(d, labeled)
    },
      // NB classifier: labels are the q_curation gq conjunction (the Gopher
      // gate), the model/score math is the identical IEEE-double ln tree on
      // both engines; sum-order drift is absorbed by the 1e-4 grid
      oracle = OracleCte.repetition +
        """, lab AS (
          |  SELECT d.doc_id, d.text,
          |    (len(string_split_regex(trim(d.text), '\s+')) BETWEEN 8 AND 10000
          |     AND CAST(length(replace(d.text, ' ', '')) AS DOUBLE)
          |         / len(string_split_regex(trim(d.text), '\s+')) BETWEEN 3.0 AND 10.0
          |     AND len(list_filter(string_split_regex(trim(d.text), '\s+'),
          |         t -> list_contains(['the','a','and','of','to','in','is','it'], lower(t)))) >= 2
          |     AND CAST(length(d.text) - length(regexp_replace(d.text, '[.,!?;:''"()]', '', 'g')) AS DOUBLE)
          |         / length(d.text) <= 0.1
          |     AND r.top_frac2 <= 0.20 AND r.dup_frac3 <= 0.18) AS y
          |  FROM documents d JOIN repetition r ON d.doc_id = r.doc_id
          |), ltok AS (
          |  SELECT doc_id, y,
          |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
          |  FROM lab
          |), model AS (
          |  SELECT token,
          |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
          |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS n_neg
          |  FROM ltok GROUP BY 1
          |), consts AS (
          |  SELECT CAST(sum(n_pos) AS DOUBLE) AS t_pos,
          |         CAST(sum(n_neg) AS DOUBLE) AS t_neg,
          |         CAST(count(*) AS DOUBLE) AS v
          |  FROM model
          |), prior AS (
          |  SELECT ln(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)
          |       - ln(CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS DOUBLE) + 1.0) AS p
          |  FROM lab
          |), stok AS (
          |  SELECT doc_id,
          |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
          |  FROM documents
          |), scored AS (
          |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
          |    CAST(floor((any_value(prior.p) + sum(
          |      ln((coalesce(CAST(m.n_pos AS DOUBLE), 0.0) + 1.0) / (consts.t_pos + consts.v))
          |      - ln((coalesce(CAST(m.n_neg AS DOUBLE), 0.0) + 1.0) / (consts.t_neg + consts.v))
          |    )) * 10000.0 + 0.5) AS INTEGER) AS score_e4
          |  FROM stok s LEFT JOIN model m USING (token), consts, prior
          |  GROUP BY s.doc_id
          |)
          | SELECT doc_id, n_tokens, score_e4, score_e4 > 0 AS predict_hq
          | FROM scored""".stripMargin),

    Query("q_dedup_embedding", (s, dir) =>
      graft.dedup.Dedup.embeddingPairs(embeds(s, dir), 0.4),
      oracle = OracleCte.cosinePairs +
        """ SELECT a_id, b_id, round(cos, 4) AS cos
          | FROM cpairs WHERE cos >= 0.4""".stripMargin),

    // full-probe hyperplane LSH is exhaustive → the brute-force pair oracle
    // applies verbatim while the plan exercises the bucketed self-join
    // (real-config recall pinned in DedupSpec)
    Query("q_dedup_embedding_lsh", (s, dir) =>
      graft.dedup.Dedup.embeddingPairsLsh(embeds(s, dir), 0.4,
        planes = 3, tables = 2, probeHamming = 3),
      oracle = OracleCte.cosinePairs +
        """ SELECT a_id, b_id, round(cos, 4) AS cos
          | FROM cpairs WHERE cos >= 0.4""".stripMargin),

    // --- SemDeDup: cluster-bucketed semantic dedup with the keep-farthest-
    //     from-centroid rule; nlist=1 degenerates cell-pairing to brute
    //     force and the centroid to the global mean → closed-form oracle
    //     (real nlist/cell behavior pinned in DedupSpec) ---
    Query("q_dedup_semantic", (s, dir) =>
      graft.dedup.Dedup.semanticDedup(embeds(s, dir), 0.4, nlist = 1),
      // SemDeDup at nlist=1: τ-edges = brute-force cosine pairs, components =
      // recursive transitive closure, centroid = the global per-dim mean in
      // double, keep = row_number() over (rounded cent_cos, vec_id) — the
      // exact mirror of the keep-farthest-from-centroid rule
      oracle = OracleCte.cosinePairs.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, edges AS (SELECT a_id, b_id FROM cpairs WHERE cos >= 0.4
          |), und AS (
          |  SELECT a_id AS u, b_id AS v FROM edges
          |  UNION SELECT b_id AS u, a_id AS v FROM edges
          |), reach(u, v) AS (
          |  SELECT u, v FROM und
          |  UNION
          |  SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u AND e2.v <> r.u
          |), comp AS (
          |  SELECT u AS vec_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
          |), dims AS (
          |  SELECT vec_id, generate_subscripts(v, 1) AS d, unnest(v) AS x FROM e
          |), cent AS (SELECT d, avg(x) AS c FROM dims GROUP BY d
          |), cc AS (
          |  SELECT vec_id, sum(x * c) / (sqrt(sum(x * x)) * sqrt(sum(c * c))) AS cent_cos
          |  FROM dims JOIN cent USING (d) GROUP BY vec_id
          |), fullr AS (
          |  SELECT e.vec_id, COALESCE(comp.cluster_id, e.vec_id) AS cluster_id,
          |    round(cc.cent_cos, 4) AS cent_cos
          |  FROM e LEFT JOIN comp ON e.vec_id = comp.vec_id
          |  JOIN cc ON e.vec_id = cc.vec_id
          |), ranked AS (
          |  SELECT vec_id, cluster_id, cent_cos,
          |    row_number() OVER (PARTITION BY cluster_id ORDER BY cent_cos, vec_id) AS rn
          |  FROM fullr)
          | SELECT vec_id, cluster_id, cent_cos, rn = 1 AS keep FROM ranked""".stripMargin),

    // --- similarity search over embeddings ---
    Query("q_ann_topk", (s, dir) => {
      val e = embeds(s, dir)
      graft.similarity.Ann.bruteTopK(e, e.filter(col("vec_id") < 8), 5)
    },
      // the four ANN queries run exact-degenerate configs (brute force;
      // full-probe LSH; IVF/IVF-PQ at nprobe=nlist with exact rerank), so all
      // four share the ONE brute-force top-k oracle
      oracle = annBruteOracle),

    // full-probe multiprobe (probeHamming = planes) degenerates the LSH
    // search to exact brute force — the brute-force SQL oracle applies
    // verbatim while the plan still exercises banding, the multiprobe
    // explode, the bucket join, and cross-table dedup (recall at the real
    // probeHamming=0/tables=12 config is pinned in AnnSpec).
    Query("q_ann_lsh", (s, dir) => {
      val e = embeds(s, dir)
      graft.similarity.Ann.lshNeighbors(e, e.filter(col("vec_id") < 8), 5,
        planes = 3, tables = 2, probeHamming = 3)
    },
      // full-probe LSH (probeHamming = planes) is exact → brute-force oracle
      oracle = annBruteOracle),

    // probing every cell degenerates IVF to exact search, so the brute-force
    // SQL oracle applies verbatim (recall@nprobe<nlist pinned in AnnSpec)
    Query("q_ann_ivf", (s, dir) => {
      val e = embeds(s, dir)
      graft.similarity.Ann.ivfTopK(e, e.filter(col("vec_id") < 8), 5,
        nlist = 16, nprobe = 16)
    },
      oracle = annBruteOracle),

    // --- ANN, IVF-PQ (compressed index + ADC + exact rerank): full-probe +
    //     all-candidate rerank degrades to exact brute force = the oracle;
    //     real-config recall is pinned in AnnSpec ---
    Query("q_ann_ivfpq", (s, dir) => {
      val e = embeds(s, dir)
      // rerank must cover EVERY candidate for the brute-force equality to
      // hold — derive it from the corpus, never hardcode (ADC misranking
      // beyond a fixed pool would silently break the oracle at larger SFs)
      graft.similarity.Ann.ivfPqTopK(e, e.filter(col("vec_id") < 8), 5,
        nlist = 16, nprobe = 16, m = 8, ksub = 16, rerank = e.count().toInt)
    },
      oracle = annBruteOracle),

    // --- multiline/session assembly (reader/multiline as groupBy-fold) ---
    Query("q_sessions", (s, dir) =>
      graft.operators.Actions.sessionize(t(s, dir)),
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, count(*) AS n_turns,
          | string_agg(text, chr(10) ORDER BY turn_idx) AS session_text
          | FROM transcripts GROUP BY conv_id""".stripMargin),

    // salted variant: the opt-in hot-key mitigation — per-(conv, salt)
    // folds, order exact within each residue-class shard
    Query("q_sessions_salted", (s, dir) =>
      graft.operators.Actions.saltedSessionize(t(s, dir), salts = 4),
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, CAST(turn_idx % 4 AS INTEGER) AS salt,
          | count(*) AS n_turns,
          | string_agg(text, chr(10) ORDER BY turn_idx) AS session_text
          | FROM transcripts GROUP BY conv_id, salt""".stripMargin),

    // --- the actions processor family as one representative chain ---
    Query("q_actions_chain", (s, dir) => {
      import graft.operators.Actions
      t(s, dir).select(
        col("conv_id"), col("turn_idx"),
        Actions.truncateField(col("text"), 40).as("text_trunc"),
        Actions.replaceField(col("text"), "evt=", "event=").as("text_replaced"),
        upper(col("role")).as("role_upper"),
        Actions.convertField(col("turn_idx"), "long").as("turn_long"),
        date_format(col("ts"), "yyyy-MM-dd").as("ts_day"),
        Actions.fingerprint(Seq(col("conv_id"), col("turn_idx"), col("role"))).as("fp"),
        array_join(Actions.addTags(array(col("role")), Seq("graft", "beats")), ",").as("tags_str"),
        base64(col("role").cast("binary")).as("role_b64"))
    },
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, turn_idx,
          | substr(text, 1, 40) AS text_trunc,
          | regexp_replace(text, 'evt=', 'event=', 'g') AS text_replaced,
          | upper(role) AS role_upper,
          | CAST(turn_idx AS BIGINT) AS turn_long,
          | strftime(ts, '%Y-%m-%d') AS ts_day,
          | sha256(coalesce(CAST(strlen(conv_id) AS VARCHAR) || ':' || conv_id, '-') ||
          |   coalesce(CAST(strlen(CAST(turn_idx AS VARCHAR)) AS VARCHAR) || ':' ||
          |     CAST(turn_idx AS VARCHAR), '-') ||
          |   coalesce(CAST(strlen(role) AS VARCHAR) || ':' || role, '-')) AS fp,
          | array_to_string(list_sort(list_distinct([role, 'graft', 'beats'])), ',') AS tags_str,
          | to_base64(CAST(role AS BLOB)) AS role_b64
          | FROM transcripts""".stripMargin),

    // --- actions family round 2: copy/rename/labels/locale/data_stream,
    //     urldecode, base64+csv decode, extract_array, byte-truncate,
    //     Go-layout timestamps — every op oracle-gated in one chain ---
    Query("q_actions_chain2", (s, dir) => {
      import graft.operators.Actions
      val base = Actions.chain(t(s, dir), Seq(
        d => Actions.copyField(d, "role", "role_copy"),
        d => Actions.renameField(d, "tool", "tool_name"),
        d => Actions.addLabels(d, Map("env" -> "prod", "tier" -> Seq("a", "b"))),
        d => Actions.addLocale(d),
        d => Actions.addDataStream(d, "logs", dataset = col("role"),
          namespace = lit("default")),
        d => d.withColumn("arr", split(col("text"), " ")),
        d => Actions.extractArray(d, "arr", Map("w0" -> 0, "w2" -> 2))))
      base.select(
          col("conv_id"), col("turn_idx"), col("role_copy"), col("tool_name"),
          col("`labels.env`").as("label_env"),
          col("`labels.tier.0`").as("label_tier0"),
          col("`labels.tier.1`").as("label_tier1"),
          col("`event.timezone`").as("event_tz"),
          col("`data_stream.type`").as("ds_type"),
          col("raw_index"), col("w0"), col("w2"),
          Actions.urlDecode(concat(lit("msg%20"), col("role"), lit("%2Fx")))
            .as("url_dec"),
          Actions.decodeBase64(base64(col("text").cast("binary"))).as("b64_rt"),
          Actions.decodeCharset(encode(col("text"), "UTF-16LE"), "UTF-16LE")
            .as("utf16_rt"),
          Actions.truncateFieldBytes(concat(lit("héllo—"), col("text")), 16)
            .as("trunc16"),
          Actions.parseTimestampGoLayouts(
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"),
            Seq("01/02 15:04:05 2006", "2006-01-02 15:04:05")).as("ts_rt"),
          Actions.fingerprint(Seq(col("role"), col("conv_id")), "md5")
            .as("fp_md5"),
          Actions.convertField(
            when(col("turn_idx") % 3 === 0, lit("10.1.2.3"))
              .otherwise(lit("999.9.9.9")), "ip").as("ip_ok"),
          Actions.decodeCsv(
            concat(col("role"), lit(",\""), col("conv_id"), lit("\","),
              col("turn_idx").cast("string")),
            Seq("c1", "c2", "c3")).as("_csv"))
        .select(col("*"), col("_csv.c1").as("csv1"), col("_csv.c2").as("csv2"),
          col("_csv.c3").as("csv3"))
        .drop("_csv")
    },
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, turn_idx,
          | role AS role_copy, tool AS tool_name,
          | 'prod' AS label_env, 'a' AS label_tier0, 'b' AS label_tier1,
          | 'UTC' AS event_tz, 'logs' AS ds_type,
          | 'logs-' || role || '-default' AS raw_index,
          | string_split(text, ' ')[1] AS w0,
          | string_split(text, ' ')[3] AS w2,
          | 'msg ' || role || '/x' AS url_dec,
          | text AS b64_rt,
          | text AS utf16_rt,
          | 'héllo—' || substr(text, 1, 7) AS trunc16,
          | date_trunc('second', ts) AS ts_rt,
          | md5(coalesce(CAST(strlen(role) AS VARCHAR) || ':' || role, '-') ||
          |   coalesce(CAST(strlen(conv_id) AS VARCHAR) || ':' || conv_id, '-')) AS fp_md5,
          | CASE WHEN turn_idx % 3 = 0 THEN '10.1.2.3' END AS ip_ok,
          | role AS csv1, conv_id AS csv2,
          | CAST(turn_idx AS VARCHAR) AS csv3
          | FROM transcripts""".stripMargin),

    // --- kafka round_robin partitioner (per-producer rotation) ---
    Query("q_kafka_rr", (s, dir) =>
      graft.operators.Actions.kafkaPartitionRoundRobin(t(s, dir),
          "conv_id", "turn_idx", 7)
        .groupBy("part_id").agg(count(lit(1)).as("events")),
      oracle = OracleCte.transcripts +
        """, rn AS (
          |  SELECT conv_id,
          |    CAST((row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1) % 7 AS INTEGER) AS part_id
          |  FROM transcripts)
          | SELECT part_id, count(*) AS events FROM rn GROUP BY 1""".stripMargin),

    // --- count-mode multiline (type: count — fixed n-line groups) ---
    Query("q_multiline_count", (s, dir) =>
      graft.operators.Actions.multilineCount(t(s, dir), 4),
      oracle = OracleCte.transcripts +
        """, g AS (
          |  SELECT conv_id, turn_idx, text,
          |    CAST((row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1) // 4 AS INTEGER) AS event_idx
          |  FROM transcripts)
          | SELECT conv_id, event_idx, min(turn_idx) AS first_turn,
          |  count(*) AS n_lines,
          |  string_agg(text, chr(10) ORDER BY turn_idx) AS event_text
          | FROM g GROUP BY conv_id, event_idx""".stripMargin),

    // --- decode_xml_fields: structural decode + dotted-path flatten ---
    Query("q_decode_xml", (s, dir) => {
      val base = t(s, dir)
      val xml = when(col("turn_idx") % 11 === 0, lit("<ev><broken></ev>"))
        .otherwise(concat(lit("<ev id=\""), col("turn_idx").cast("string"),
          lit("\"><role>"), col("role"), lit("</role><t>"), col("tool"),
          lit("</t><t>x</t></ev>")))
      base.withColumn("m", graft.functions.decode_xml_map(xml))
        .select(col("conv_id"), col("turn_idx"),
          element_at(col("m"), "ev.id").as("xid"),
          element_at(col("m"), "ev.role").as("xrole"),
          element_at(col("m"), "ev.t.0").as("xt0"),
          element_at(col("m"), "ev.t.1").as("xt1"))
    },
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, turn_idx,
          |  CASE WHEN turn_idx % 11 = 0 THEN NULL ELSE CAST(turn_idx AS VARCHAR) END AS xid,
          |  CASE WHEN turn_idx % 11 = 0 THEN NULL ELSE role END AS xrole,
          |  CASE WHEN turn_idx % 11 = 0 THEN NULL ELSE tool END AS xt0,
          |  CASE WHEN turn_idx % 11 = 0 THEN NULL ELSE 'x' END AS xt1
          | FROM transcripts""".stripMargin),

    // --- decode_xml_wineventlog: Windows-event XML → typed winlog struct,
    //     covering every enrichment family (winmeta level/opcode/task,
    //     keyword-bit decode, audit outcome, RenderingInfo override,
    //     EventData Name/paramN pairs) plus the malformed-XML NULL path ---
    Query("q_decode_wineventlog", (s, dir) => {
      val base = t(s, dir)
      base.withColumn("w", graft.functions.decode_wineventlog(winevtXml)).select(
        col("conv_id"), col("turn_idx"),
        col("w.event_id").as("eid"),
        col("w.level").as("lvl"),
        col("w.outcome").as("outc"),
        array_join(col("w.keywords"), "|").as("kw"),
        col("w.opcode").as("opc"),
        col("w.task").as("tsk"),
        col("w.record_id").as("recid"),
        col("w.channel").as("ch"),
        col("w.computer_name").as("comp"),
        unix_micros(col("w.time_created")).as("tc_us"),
        col("w.message").as("msg"),
        element_at(col("w.event_data"), "Role").as("ed_role"),
        element_at(col("w.event_data"), "param2").as("ed_p2"),
        col("w.process_pid").as("pid"))
    },
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, turn_idx,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL
          |       ELSE CAST(4600 + turn_idx % 10 AS VARCHAR) END AS eid,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL
          |       WHEN turn_idx % 9 = 1 THEN 'custom'
          |       ELSE CASE turn_idx % 8 WHEN 0 THEN 'information' WHEN 1 THEN 'critical'
          |            WHEN 2 THEN 'error' WHEN 3 THEN 'warning' WHEN 4 THEN 'information'
          |            WHEN 5 THEN 'verbose' ELSE NULL END END AS lvl,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL
          |       WHEN turn_idx % 3 = 0 THEN 'success'
          |       WHEN turn_idx % 3 = 1 THEN 'failure' ELSE NULL END AS outc,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL
          |       WHEN turn_idx % 9 = 1 THEN 'RK'
          |       WHEN turn_idx % 3 = 0 THEN 'Audit Success'
          |       WHEN turn_idx % 3 = 1 THEN 'Audit Failure'
          |       ELSE 'Classic' END AS kw,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL
          |       WHEN turn_idx % 9 = 1 THEN 'OpX'
          |       ELSE CASE turn_idx % 4 WHEN 0 THEN 'Info' WHEN 1 THEN 'Start'
          |            WHEN 2 THEN 'Stop' ELSE 'DCStart' END END AS opc,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL
          |       WHEN turn_idx % 9 = 1 THEN 'T1' ELSE 'None' END AS tsk,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL
          |       ELSE CAST(turn_idx + 1 AS BIGINT) END AS recid,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL ELSE 'Security' END AS ch,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL ELSE 'host-' || conv_id END AS comp,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL
          |       ELSE epoch_us(TIMESTAMP '2021-03-23 09:56:13.137310') END AS tc_us,
          |  CASE WHEN turn_idx % 9 = 1 THEN 'ok ' || role ELSE NULL END AS msg,
          |  CASE WHEN turn_idx % 9 = 2 THEN role ELSE NULL END AS ed_role,
          |  CASE WHEN turn_idx % 9 = 2 AND tool <> '' THEN tool ELSE NULL END AS ed_p2,
          |  CASE WHEN turn_idx % 9 = 0 THEN NULL
          |       ELSE CAST(turn_idx % 100 + 1 AS BIGINT) END AS pid
          | FROM transcripts""".stripMargin),

    // --- container input read pipeline: docker-JSON + CRI lines (format
    //     per conversation), P/F partial runs of three joined into whole
    //     messages, first-piece identity, unterminated tails dropped ---
    Query("q_container", (s, dir) => {
      val base = t(s, dir)
      val cid = substring(col("conv_id"), 6, 10).cast("int")
      val isDocker = cid % 2 === 0
      val strm = when(col("turn_idx") % 7 === 0, lit("stderr")).otherwise(lit("stdout"))
      val full = col("turn_idx") % 3 === 2
      val piece = concat(lit("p"), col("turn_idx").cast("string"), lit("_"), col("role"))
      val dockerLine = concat(lit("{\"log\":\""), piece,
        when(full, lit("\\n")).otherwise(lit("")),
        lit("\",\"stream\":\""), strm,
        lit("\",\"time\":\"2024-01-01T10:00:00.123456789Z\"}"))
      val criLine = concat(lit("2024-01-01T10:00:00.123456789Z "), strm,
        when(full, lit(" F ")).otherwise(lit(" P ")), piece)
      val lines = base.withColumn("line", when(isDocker, dockerLine).otherwise(criLine))
      graft.operators.Container.assemble(lines, "conv_id", "turn_idx", "line")
        .select(col("conv_id"), col("first_turn_idx").as("first_turn"),
          col("format"), unix_micros(col("ts")).as("ts_us"), col("stream"),
          col("message"), col("n_pieces"))
    },
      // container assembly: groups are the %3 runs by construction (P,P,F),
      // so the oracle predicts each message closed-form; docker messages end
      // with the real newline the full piece carries, CRI ones do not.
      oracle = OracleCte.transcripts +
        """, g AS (
          |  SELECT conv_id,
          |    CAST(substr(conv_id, 6) AS INTEGER) % 2 AS fmtbit,
          |    turn_idx // 3 AS grp, turn_idx,
          |    CASE WHEN turn_idx % 7 = 0 THEN 'stderr' ELSE 'stdout' END AS stream,
          |    'p' || CAST(turn_idx AS VARCHAR) || '_' || role AS piece
          |  FROM transcripts
          |), full_g AS (
          |  SELECT conv_id, grp FROM g GROUP BY conv_id, grp HAVING count(*) = 3
          |), agg AS (
          |  SELECT g.conv_id, g.grp,
          |    any_value(fmtbit) AS fmtbit,
          |    min(turn_idx) AS first_turn,
          |    string_agg(piece, '' ORDER BY turn_idx) AS body,
          |    min(CASE WHEN turn_idx % 3 = 0 THEN stream END) AS stream0
          |  FROM g JOIN full_g USING (conv_id, grp) GROUP BY 1, 2
          |)
          | SELECT conv_id, first_turn,
          |  CASE WHEN fmtbit = 0 THEN 'docker' ELSE 'cri' END AS format,
          |  epoch_us(TIMESTAMP '2024-01-01 10:00:00.123456') AS ts_us,
          |  stream0 AS stream,
          |  body || CASE WHEN fmtbit = 0 THEN chr(10) ELSE '' END AS message,
          |  CAST(3 AS BIGINT) AS n_pieces
          | FROM agg""".stripMargin),

    // --- registered_domain: PSL eTLD+1 over synthesized domains covering
    //     exact, multi-label, private, wildcard, exception, and default
    //     rules plus the bare-suffix NULL case ---
    Query("q_registered_domain", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val e = col("event_id")
      val fam = (e % 8).cast("int")
      val x = (e % 50).cast("string")
      val domain = when(fam === 0, concat(lit("a"), x, lit(".example.com")))
        .when(fam === 1, concat(lit("svc"), x, lit(".co.uk")))
        .when(fam === 2, concat(lit("www.svc"), x, lit(".co.uk")))
        .when(fam === 3, concat(lit("app"), x, lit(".github.io")))
        .when(fam === 4, concat(lit("b"), x, lit(".foo.ck")))
        .when(fam === 5, lit("www.ck"))
        .when(fam === 6, concat(lit("host"), x, lit(".unknowntld")))
        .otherwise(lit("com"))
      ev.select(e.as("event_id"), domain.as("domain"),
        graft.functions.registered_domain(domain).as("rd"))
    },
      oracle = """WITH d AS (
        |  SELECT event_id, CAST(event_id % 8 AS INT) AS fam,
        |    CAST(event_id % 50 AS VARCHAR) AS x
        |  FROM events)
        | SELECT event_id,
        |  CASE fam WHEN 0 THEN 'a'||x||'.example.com' WHEN 1 THEN 'svc'||x||'.co.uk'
        |    WHEN 2 THEN 'www.svc'||x||'.co.uk' WHEN 3 THEN 'app'||x||'.github.io'
        |    WHEN 4 THEN 'b'||x||'.foo.ck' WHEN 5 THEN 'www.ck'
        |    WHEN 6 THEN 'host'||x||'.unknowntld' ELSE 'com' END AS domain,
        |  CASE fam WHEN 0 THEN 'example.com' WHEN 1 THEN 'svc'||x||'.co.uk'
        |    WHEN 2 THEN 'svc'||x||'.co.uk' WHEN 3 THEN 'app'||x||'.github.io'
        |    WHEN 4 THEN 'b'||x||'.foo.ck' WHEN 5 THEN 'www.ck'
        |    WHEN 6 THEN 'host'||x||'.unknowntld' ELSE NULL END AS rd
        | FROM d""".stripMargin),

    // --- Community ID v1 flow hash over the reference's golden flows
    //     (communityid_test.go:56-125): each family replays one published
    //     vector, so the oracle is the reference's own expected string —
    //     non-circular, and it pins ordering-invariance (fam 1 is fam 0
    //     reversed) and ICMP/IGMP port semantics at verify-data scale ---
    Query("q_communityid", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val e = col("event_id")
      val fam = (e % 5).cast("int")
      val src = when(fam === 1, lit("66.35.250.204"))
        .when(fam === 4, lit("not.an.ip"))
        .otherwise(lit("128.232.110.120"))
      val dst = when(fam === 1, lit("128.232.110.120"))
        .otherwise(lit("66.35.250.204"))
      val sp = when(fam === 0, lit(34855)).when(fam === 1, lit(80))
        .when(fam === 2, lit(3)).otherwise(lit(0))
      val dp = when(fam === 0, lit(80)).when(fam === 1, lit(34855))
        .when(fam === 2, lit(3)).otherwise(lit(0))
      val proto = when(fam === 2, lit(1)).when(fam === 3, lit(2)).otherwise(lit(6))
      ev.select(e.as("event_id"), fam.as("fam"),
        graft.functions.community_id(src, dst, sp, dp, proto).as("cid"))
    },
      // expected values are the published golden hashes from the reference's
      // communityid_test.go:56-125 — fam 4 is an unparseable address → NULL
      oracle = """SELECT event_id, CAST(event_id % 5 AS INT) AS fam,
        | CASE CAST(event_id % 5 AS INT)
        |   WHEN 0 THEN '1:LQU9qZlK+B5F3KDmev6m5PMibrg='
        |   WHEN 1 THEN '1:LQU9qZlK+B5F3KDmev6m5PMibrg='
        |   WHEN 2 THEN '1:KF3iG9XD24nhlSy4r1TcYIr5mfE='
        |   WHEN 3 THEN '1:D3t8Q1aFA6Ev0A/AO4i9PnU3AeI='
        |   ELSE NULL END AS cid
        | FROM events""".stripMargin),

    // --- script processor (beatEventV0 API as a typed Scala escape hatch):
    //     a deterministic script exercising Get/Put/Rename/Delete/Cancel/
    //     Tag/AppendTo, mirrored in SQL because the script is pure column
    //     logic — arbitrary scripts are spec-gated (ScriptSpec) ---
    Query("q_script", (s, dir) => {
      import graft.operators.Script
      val ev = Script.events(t(s, dir), "conv_id", "turn_idx", "role", "tool")
      val out = Script.run(ev) { e =>
        if (e.get("role") == "system") e.cancel()
        else {
          e.put("role_upper", e.get("role").toUpperCase(java.util.Locale.ROOT))
          e.rename("tool", "tool_name")
          if (e.get("tool_name") == null || e.get("tool_name").isEmpty) {
            e.delete("tool_name")
            e.tag("no_tool")
          }
          e.tag("scripted")
          e.appendTo("path", "stage1")
          e.appendTo("path", "stage1") // dedup: no-op
          e.appendTo("path", "stage2")
        }
      }
      out.toDF().select(
        element_at(col("fields"), "conv_id").as("conv_id"),
        element_at(col("fields"), "turn_idx").cast("int").as("turn_idx"),
        element_at(col("fields"), "role_upper").as("role_upper"),
        element_at(col("fields"), "tool_name").as("tool_name"),
        array_join(element_at(col("lists"), "tags"), ",").as("tags_str"),
        array_join(element_at(col("lists"), "path"), ",").as("path_str"))
    },
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, turn_idx, upper(role) AS role_upper,
          | CASE WHEN tool <> '' THEN tool END AS tool_name,
          | CASE WHEN tool = '' THEN 'no_tool,scripted' ELSE 'scripted' END AS tags_str,
          | 'stage1,stage2' AS path_str
          | FROM transcripts WHERE role <> 'system'""".stripMargin),

    // --- ratelimit (token-bucket batch analogue: first-N per key) ---
    Query("q_ratelimit", (s, dir) =>
      graft.operators.Actions.rateLimitCounts(t(s, dir), "conv_id", "turn_idx", 5),
      oracle = OracleCte.transcripts +
        """, rn AS (
          |  SELECT conv_id,
          |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS r
          |  FROM transcripts)
          | SELECT conv_id,
          |  CAST(sum(CASE WHEN r <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
          |  CAST(sum(CASE WHEN r > 5 THEN 1 ELSE 0 END) AS BIGINT) AS dropped
          | FROM rn GROUP BY conv_id""".stripMargin),

    // --- kafka fields-hash partitioner (FNV-1a-32 % n) ---
    Query("q_kafka_partition", (s, dir) =>
      t(s, dir)
        .select(graft.operators.Actions.kafkaPartition(col("conv_id"), 16).as("part_id"))
        .groupBy("part_id").agg(count(lit(1)).as("events")),
      // FNV-1a-32 folded over UTF-8 BYTES (hex(encode()) pairs), matching the
      // kernel exactly — same hardening as the simhash oracle; a per-codepoint
      // ord() fold would silently diverge on non-ASCII keys
      oracle = OracleCte.transcripts +
        """ SELECT CAST(list_reduce(
          |    list_prepend(2166136261::BIGINT,
          |      list_transform(generate_series(1, strlen(conv_id)), i ->
          |        (16 * (strpos('0123456789ABCDEF', substr(hex(encode(conv_id)), 2*i-1, 1)) - 1)
          |           + strpos('0123456789ABCDEF', substr(hex(encode(conv_id)), 2*i, 1)) - 1)::BIGINT)),
          |    (h, c) -> (xor(h, c) * 16777619) % 4294967296) % 16 AS INTEGER) AS part_id,
          |  count(*) AS events
          | FROM transcripts GROUP BY 1""".stripMargin),

    // --- dissect tokenizer over the serverlog-shaped text ---
    Query("q_dissect", (s, dir) =>
      t(s, dir)
        .withColumn("_d", graft.functions.dissect(col("text"),
          "%{date} %{time} %{service} %{host} %{level} [%{thread}] " +
            "%{class} %{method} [%{line|integer}] [%{trace}] [%{span}] %{body}"))
        .filter(col("_d").isNotNull)
        .select(col("conv_id"), col("turn_idx"), col("_d.service"), col("_d.host"),
          col("_d.level"), col("_d.thread"), col("_d.class"), col("_d.method"),
          col("_d.line"), col("_d.trace"), col("_d.span")),
      oracle = OracleCte.transcripts +
        """, d AS (
          |  SELECT conv_id, turn_idx, text,
          |    split_part(text, ' ', 3) AS service,
          |    split_part(text, ' ', 4) AS host,
          |    split_part(text, ' ', 5) AS level,
          |    split_part(text, ' ', 6) AS f6,
          |    split_part(text, ' ', 7) AS class,
          |    split_part(text, ' ', 8) AS method,
          |    split_part(text, ' ', 9) AS f9,
          |    split_part(text, ' ', 10) AS f10,
          |    split_part(text, ' ', 11) AS f11
          |  FROM transcripts
          |  WHERE (length(text) - length(replace(text, ' ', '')) + 1) >= 11)
          | SELECT conv_id, turn_idx, service, host, level,
          |  substr(f6, 2, length(f6) - 2) AS thread,
          |  class, method,
          |  CAST(substr(f9, 2, length(f9) - 2) AS INTEGER) AS line,
          |  substr(f10, 2, length(f10) - 2) AS trace,
          |  substr(f11, 2, length(f11) - 2) AS span
          | FROM d""".stripMargin),

    // --- dissect trim modes on the typed struct path (trim.go semantics:
    //     trimmer applied to every capture before conversion) ---
    Query("q_dissect_trim", (s, dir) =>
      t(s, dir)
        .withColumn("_padded", concat(lit(" "), col("role"), lit(" , "),
          col("conv_id"), lit(" , "), col("turn_idx").cast("string"), lit("  ")))
        .withColumn("_d", graft.functions.dissect(col("_padded"),
          "%{a},%{b},%{n|integer}", graft.functions.Dissect.TrimAll))
        .select(col("conv_id"), col("turn_idx"),
          col("_d.a").as("a"), col("_d.b").as("b"), col("_d.n").as("n")),
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, turn_idx,
          |  role AS a, conv_id AS b, CAST(turn_idx AS INTEGER) AS n
          | FROM transcripts""".stripMargin),

    // --- fingerprint with the reference's exact field encoding
    //     (|k|v|…| over name-sorted fields, fingerprint.go:91-115) ---
    Query("q_fingerprint_fields", (s, dir) =>
      t(s, dir).select(col("conv_id"), col("turn_idx"),
        graft.functions.fingerprint_fields(
          Seq("role" -> col("role"), "conv" -> col("conv_id")), "md5").as("fp")),
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, turn_idx,
          |  md5('|conv|' || conv_id || '|role|' || role || '|') AS fp
          | FROM transcripts""".stripMargin),

    // --- decode_json_fields over the embedded ##JIDU## envelope ---
    Query("q_decode_json", (s, dir) =>
      TranscriptPipeline.parse(t(s, dir))
        .filter(col("extra").isNotNull)
        .select(col("conv_id"), col("turn_idx"),
          element_at(col("extra"), "extra_k").as("extra_k")),
      oracle = OracleCte.parsed +
        """ SELECT conv_id, turn_idx,
          | json_extract_string(substr(message, 9, length(message) - 16), '$.extra_k') AS extra_k
          | FROM parsed WHERE message IS NOT NULL""".stripMargin),

    // --- multiline pattern folding (short lines continue previous event) ---
    Query("q_multiline", (s, dir) =>
      graft.operators.Actions.multilineFold(t(s, dir), "evt="),
      oracle = OracleCte.transcripts +
        """, lg AS (
          |  SELECT conv_id, turn_idx, text,
          |    CASE WHEN row_number() OVER w = 1
          |           OR regexp_matches(text, 'evt=') THEN 1 ELSE 0 END AS boundary
          |  FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
          |), g AS (
          |  SELECT conv_id, turn_idx, text,
          |    CAST(sum(boundary) OVER (PARTITION BY conv_id ORDER BY turn_idx
          |      ROWS UNBOUNDED PRECEDING) AS INTEGER) AS event_idx
          |  FROM lg)
          | SELECT conv_id, event_idx, min(turn_idx) AS first_turn,
          |  count(*) AS n_lines,
          |  string_agg(text, chr(10) ORDER BY turn_idx) AS event_text
          | FROM g GROUP BY conv_id, event_idx""".stripMargin),

    // --- multiline `match: before` (prev line signals continuation) ---
    Query("q_multiline_before", (s, dir) =>
      graft.operators.Actions.multilinePattern(t(s, dir), "evt=click",
        negate = false, matchMode = "before"),
      oracle = OracleCte.transcripts +
        """, lg AS (
          |  SELECT conv_id, turn_idx, text,
          |    CASE WHEN lag(text) OVER w IS NULL THEN 1
          |         WHEN NOT regexp_matches(lag(text) OVER w, 'evt=click') THEN 1
          |         ELSE 0 END AS boundary
          |  FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
          |), g AS (
          |  SELECT conv_id, turn_idx, text,
          |    CAST(sum(boundary) OVER (PARTITION BY conv_id ORDER BY turn_idx
          |      ROWS UNBOUNDED PRECEDING) AS INTEGER) AS event_idx
          |  FROM lg)
          | SELECT conv_id, event_idx, min(turn_idx) AS first_turn,
          |  count(*) AS n_lines,
          |  string_agg(text, chr(10) ORDER BY turn_idx) AS event_text
          | FROM g GROUP BY conv_id, event_idx""".stripMargin),

    // --- network condition + add_network_direction over synthesized IPs ---
    Query("q_network_direction", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      val e = col("event_id")
      def mkIp(fam: Column, x: Column): Column =
        when(fam === 0, concat(lit("10."), (x % 200).cast("string"), lit(".0.1")))
          .when(fam === 1, concat(lit("192.168."), (x % 250).cast("string"), lit(".9")))
          .when(fam === 2, concat(lit("172."), (lit(16) + x % 16).cast("string"), lit(".3.4")))
          .when(fam === 3, concat(lit("8.8."), (x % 200).cast("string"), lit(".1")))
          .when(fam === 4, concat(lit("203.0.113."), (x % 250).cast("string")))
          .when(fam === 5, concat(lit("fd00::"), (x % 9999).cast("string")))
          .otherwise(concat(lit("2001:db8::"), (x % 9999).cast("string")))
      val src = when(e % 23 === 0, lit("bad.ip")).otherwise(mkIp(e % 7, e))
      val dst = mkIp((e * 3 + 1) % 7, e + 13)
      ev.select(e.as("event_id"), src.as("src"), dst.as("dst"),
        graft.functions.network_direction(src, dst, Seq("private")).as("direction"))
    },
      oracle = """WITH d AS (
        |  SELECT event_id,
        |    CAST(event_id % 7 AS INT) AS sf,
        |    CAST((event_id * 3 + 1) % 7 AS INT) AS df,
        |    event_id % 23 = 0 AS bad
        |  FROM events
        |), ips AS (
        |  SELECT event_id, sf, df, bad,
        |    CASE WHEN bad THEN 'bad.ip'
        |         WHEN sf = 0 THEN '10.' || CAST(event_id % 200 AS VARCHAR) || '.0.1'
        |         WHEN sf = 1 THEN '192.168.' || CAST(event_id % 250 AS VARCHAR) || '.9'
        |         WHEN sf = 2 THEN '172.' || CAST(16 + event_id % 16 AS VARCHAR) || '.3.4'
        |         WHEN sf = 3 THEN '8.8.' || CAST(event_id % 200 AS VARCHAR) || '.1'
        |         WHEN sf = 4 THEN '203.0.113.' || CAST(event_id % 250 AS VARCHAR)
        |         WHEN sf = 5 THEN 'fd00::' || CAST(event_id % 9999 AS VARCHAR)
        |         ELSE '2001:db8::' || CAST(event_id % 9999 AS VARCHAR) END AS src,
        |    CASE WHEN df = 0 THEN '10.' || CAST((event_id + 13) % 200 AS VARCHAR) || '.0.1'
        |         WHEN df = 1 THEN '192.168.' || CAST((event_id + 13) % 250 AS VARCHAR) || '.9'
        |         WHEN df = 2 THEN '172.' || CAST(16 + (event_id + 13) % 16 AS VARCHAR) || '.3.4'
        |         WHEN df = 3 THEN '8.8.' || CAST((event_id + 13) % 200 AS VARCHAR) || '.1'
        |         WHEN df = 4 THEN '203.0.113.' || CAST((event_id + 13) % 250 AS VARCHAR)
        |         WHEN df = 5 THEN 'fd00::' || CAST((event_id + 13) % 9999 AS VARCHAR)
        |         ELSE '2001:db8::' || CAST((event_id + 13) % 9999 AS VARCHAR) END AS dst
        |  FROM d)
        | SELECT event_id, src, dst,
        |  CASE WHEN bad THEN NULL
        |       WHEN sf IN (0,1,2,5) AND df IN (0,1,2,5) THEN 'internal'
        |       WHEN sf IN (0,1,2,5) THEN 'outbound'
        |       WHEN df IN (0,1,2,5) THEN 'inbound'
        |       ELSE 'external' END AS direction
        | FROM ips""".stripMargin),

    // --- fmtstr selector tree: index-name selection over parsed rows ---
    Query("q_fmtstr_index", (s, dir) => {
      import graft.route._
      val sel = FmtStr.EventSelector(
        rules = Seq(
          FmtStr.Rule("%{[service]}-%{+yyyy.MM.dd}",
            when = Some(FieldEquals("status", "ok"))),
          FmtStr.Rule("%{[status]}", default = "other",
            mappings = Map("short" -> "deadletter-short",
              "bad_service" -> "deadletter-bad"))),
        fallback = "catchall", lowercase = true)
      TranscriptPipeline.parse(t(s, dir))
        .select(col("conv_id"), col("turn_idx"),
          sel.column(tsCol = col("ts")).as("idx"))
    },
      oracle = OracleCte.parsed +
        """ SELECT conv_id, turn_idx,
          |  lower(CASE WHEN status = 'ok' THEN service || '-' || strftime(ts, '%Y.%m.%d')
          |       WHEN status = 'short' THEN 'deadletter-short'
          |       WHEN status = 'bad_service' THEN 'deadletter-bad'
          |       ELSE 'other' END) AS idx
          | FROM parsed""".stripMargin),

    // --- serverlog envelope unwrap (parser.go:82-98) ---
    Query("q_parse_serverlog_envelope", (s, dir) => {
      val env = t(s, dir).withColumn("envelope", to_json(struct(
        struct(col("text").as("content")).as("contents"),
        array(col("role"), col("tool")).as("tags"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("time"))))
      graft.operators.Actions.unwrapEnvelope(env)
        .withColumn("_p", serverlog_parse(col("content")))
        .select(col("conv_id"), col("turn_idx"), col("content"),
          array_join(col("source_tags"), ",").as("source_tags_str"),
          col("source_time"), col("_p.logtime"), col("_p.service"),
          col("_p.status"))
    },
      oracle = OracleCte.parsed +
        """, env AS (
          |  SELECT conv_id, turn_idx,
          |    to_json({'contents': {'content': text}, 'tags': [role, tool],
          |             'time': strftime(ts, '%Y-%m-%dT%H:%M:%S')}) AS envelope
          |  FROM transcripts
          |), un AS (
          |  SELECT conv_id, turn_idx,
          |    json_extract_string(envelope, '$.contents.content') AS content,
          |    json_extract_string(envelope, '$.tags[0]') || ',' ||
          |      json_extract_string(envelope, '$.tags[1]') AS source_tags_str,
          |    json_extract_string(envelope, '$.time') AS source_time
          |  FROM env)
          | SELECT u.conv_id, u.turn_idx, u.content, u.source_tags_str,
          |  u.source_time, p.logtime, p.service, p.status
          | FROM un u JOIN parsed p
          |   ON u.conv_id = p.conv_id AND u.turn_idx = p.turn_idx""".stripMargin),

    // --- fork parse_filebeat_log: SplitN(msg, "\t", 4) family ---
    Query("q_parse_filebeat", (s, dir) => {
      import graft.sources.Transcripts.tstr
      val ev = s.read.parquet(s"$dir/events.parquet")
      val e = col("event_id")
      val tail = concat(col("event_type"), lit(" host-"),
        (col("user_id") % 5).cast("string"), lit(" evt="), col("event_type"),
        lit(" id="), e.cast("string"))
      // e%7==0 → the space-built tail stays space-separated → malformed
      // (ignore_malformed drop); the well-formed branch swaps those spaces
      // for the tabs the parser requires
      val line = when(e % 7 === 0, concat(tstr(e), lit(" "), tail))
        .otherwise(concat(tstr(e), lit("\t"),
          regexp_replace(tail, " ", "\t")))
      ev.select(e.as("event_id"),
          graft.functions.ForkParsers.filebeat_log_parse(line).as("_p"))
        .filter(col("_p").isNotNull)
        .select(col("event_id"), col("_p.time"), col("_p.level"),
          col("_p.hostname"), col("_p.message"))
    },
      // direct expected-output oracles for the two fork-parser families: the
      // input lines are deterministic constructions over `events`, so the
      // parse result is itself constructible in closed form.
      oracle = OracleCte.eventTime +
        """ SELECT event_id, t AS time, upper(event_type) AS level,
          |  'host-' || CAST(user_id % 5 AS VARCHAR) AS hostname,
          |  'evt=' || event_type || chr(9) || 'id=' || CAST(event_id AS VARCHAR) AS message
          | FROM et WHERE event_id % 7 <> 0""".stripMargin),

    // --- syslog parse: RFC3164 classic / RFC3164-rfc3339 / RFC5424 with
    //     structured data / message-only / RFC5424 NIL fields, auto-detected
    //     per row (filebeat/input/syslog grammar family) ---
    Query("q_parse_syslog", (s, dir) =>
      t(s, dir)
        .withColumn("_p", graft.functions.parse_syslog(syslogLine, "auto", 2024, 0))
        .select(col("conv_id"), col("turn_idx"),
          col("_p.format").as("fmt"),
          col("_p.severity").as("sev"), col("_p.facility").as("fac"),
          col("_p.severity_label").as("sev_label"),
          col("_p.facility_label").as("fac_label"),
          col("_p.hostname").as("host"), col("_p.program").as("prog"),
          col("_p.pid").as("pid"), col("_p.app_name").as("app"),
          col("_p.proc_id").as("proc_id"), col("_p.msg_id").as("msg_id"),
          col("_p.version").as("version"),
          unix_micros(col("_p.ts")).as("ts_us"),
          element_at(element_at(col("_p.sd"), "graft@1"), "role").as("sd_role"),
          col("_p.message").as("msg"), col("_p.valid").as("valid")),
      // syslog: the expected parse output is closed-form in the same integer
      // pieces the Spark side builds its lines from (DuckDB never parses —
      // it predicts what parsing each variant must yield)
      oracle = OracleCte.transcripts +
        """, syl AS (
          |  SELECT conv_id, turn_idx, role, tool, text,
          |    turn_idx % 5 AS v,
          |    (turn_idx * 11) % 192 AS pri,
          |    1 + (turn_idx % 28) AS day,
          |    turn_idx % 24 AS hh, (turn_idx * 7) % 60 AS mi,
          |    (turn_idx * 13) % 60 AS ss, (turn_idx * 17) % 1000 AS fr
          |  FROM transcripts)
          | SELECT conv_id, turn_idx,
          |  CASE WHEN v IN (2,4) THEN 'rfc5424' ELSE 'rfc3164' END AS fmt,
          |  CASE WHEN v <> 3 THEN pri % 8 END AS sev,
          |  CASE WHEN v <> 3 THEN pri // 8 END AS fac,
          |  CASE WHEN v <> 3 THEN array_extract(['Emergency','Alert','Critical','Error','Warning','Notice','Informational','Debug'], pri % 8 + 1) END AS sev_label,
          |  CASE WHEN v <> 3 THEN array_extract(['kernel','user-level','mail','system','security/authorization','syslogd','line printer','network news','UUCP','clock','security/authorization','FTP','NTP','log audit','log alert','clock','local0','local1','local2','local3','local4','local5','local6','local7'], pri // 8 + 1) END AS fac_label,
          |  CASE WHEN v = 4 THEN '-' WHEN v <> 3 THEN 'h-' || conv_id END AS host,
          |  CASE WHEN v = 0 THEN 'app-' || role END AS prog,
          |  CASE WHEN v = 0 THEN turn_idx END AS pid,
          |  CASE WHEN v IN (2,4) THEN 'app-' || role END AS app,
          |  CASE WHEN v = 2 THEN CAST(turn_idx AS VARCHAR) WHEN v = 4 THEN '-' END AS proc_id,
          |  CASE WHEN v IN (2,4) THEN 'MID' || CAST(turn_idx % 100 AS VARCHAR) END AS msg_id,
          |  CASE WHEN v IN (2,4) THEN 1 END AS version,
          |  CASE WHEN v = 0 THEN epoch_us(make_timestamp(2024, 10, day, hh, mi, CAST(ss AS DOUBLE)))
          |       WHEN v = 1 THEN epoch_us(make_timestamp(2024, 3, day, hh, mi, CAST(ss AS DOUBLE))) + fr * 1000 - 7200000000
          |       WHEN v IN (2,4) THEN epoch_us(make_timestamp(2024, 3, day, hh, mi, CAST(ss AS DOUBLE))) + fr * 1000
          |  END AS ts_us,
          |  CASE WHEN v = 2 THEN role END AS sd_role,
          |  CASE WHEN v = 3 THEN 'raw: ' || text ELSE text END AS msg,
          |  v IN (0,1,2,4) AS valid
          | FROM syl""".stripMargin),

    // --- RFC6587 TCP frame splitting (inputsource/common/streaming/
    //     scan.go): per-turn synthetic streams exercise octet counting,
    //     non-transparent framing, per-frame mode alternation, and the
    //     dropped-tail rules; the oracle predicts every frame closed-form ---
    Query("q_rfc6587", (s, dir) => {
      def octet(c: Column) =
        concat(octet_length(c).cast("string"), lit(" "), c)
      val safe = concat(lit("<"), regexp_replace(col("text"), "\n", " "))
      val v = pmod(col("turn_idx"), lit(4))
      val stream = when(v === 0,
          concat(octet(col("text")), octet(concat(lit("ack "), col("conv_id")))))
        .when(v === 1, concat(safe, lit("\n"), safe, lit(" again\n")))
        .when(v === 2, concat(octet(concat(col("text"), lit("\nx"))),
          safe, lit("\n"), lit("42 zz")))
        .otherwise(concat(octet(col("text")), lit("1")))
      t(s, dir)
        .select(col("conv_id"), col("turn_idx"), stream.as("s"))
        .select(col("conv_id"), col("turn_idx"),
          posexplode(graft.functions.frame_split(col("s")))
            .as(Seq("frame_idx", "frame")))
    },
      // RFC6587 framing: the streams are synthesized closed-form from the
      // transcript columns, so every emitted frame (and every DROPPED tail —
      // variant 2's short octet frame, variant 3's 1-byte tail) is predicted
      // without running a scanner
      oracle = OracleCte.transcripts +
        """, f AS (
          |  SELECT conv_id, turn_idx, turn_idx % 4 AS v, text,
          |    '<' || replace(text, chr(10), ' ') AS st
          |  FROM transcripts
          |)
          | SELECT conv_id, turn_idx, 0 AS frame_idx,
          |   CASE WHEN v = 1 THEN st
          |        WHEN v = 2 THEN text || chr(10) || 'x'
          |        ELSE text END AS frame
          | FROM f
          | UNION ALL
          | SELECT conv_id, turn_idx, 1 AS frame_idx,
          |   CASE WHEN v = 0 THEN 'ack ' || conv_id
          |        WHEN v = 1 THEN st || ' again'
          |        ELSE st END AS frame
          | FROM f WHERE v IN (0, 1, 2)""".stripMargin),

    // --- the composed syslog pipeline: parse → first-match-wins route →
    //     per-sink aggregate (the reference's syslog input + output selector
    //     shape, end to end) ---
    Query("q_syslog_route", (s, dir) => {
      import graft.route._
      val sel = Selector(Seq(
        SelectorRule(Range("sev", lte = Some(3)) && FieldEquals("valid", true), "sink_es"),
        SelectorRule(FieldEquals("valid", true), "sink_ls")), default = "dropped")
      t(s, dir)
        .withColumn("_p", graft.functions.parse_syslog(syslogLine, "auto", 2024, 0))
        .select(col("_p.severity").as("sev"), col("_p.valid").as("valid"),
          col("_p.hostname").as("host"))
        .withColumn("sink", sel.sinkColumn)
        .groupBy("sink")
        .agg(count(lit(1)).as("events"), countDistinct(col("host")).as("hosts"))
    },
      // the composed syslog pipeline: severity/validity per variant are
      // closed-form, so the routed per-sink aggregate is too. v=3 parses to
      // an invalid host-less event → dropped; everything else is valid with
      // sev = ((turn_idx*11)%192)%8 → es when ≤ 3 else ls.
      oracle = OracleCte.transcripts +
        """, routed AS (
          |  SELECT conv_id, turn_idx,
          |    CASE WHEN turn_idx % 5 = 3 THEN 'dropped'
          |         WHEN ((turn_idx * 11) % 192) % 8 <= 3 THEN 'sink_es'
          |         ELSE 'sink_ls' END AS sink,
          |    CASE WHEN turn_idx % 5 = 3 THEN NULL
          |         WHEN turn_idx % 5 = 4 THEN '-'
          |         ELSE 'h-' || conv_id END AS host
          |  FROM transcripts)
          | SELECT sink, count(*) AS events, count(DISTINCT host) AS hosts
          | FROM routed GROUP BY sink""".stripMargin),

    // --- CEF decode: header escapes, typed full-name extensions, IP
    //     validation drops, malformed-value recovery, headerless nulls ---
    Query("q_decode_cef", (s, dir) =>
      t(s, dir).withColumn("_c", graft.functions.decode_cef(cefLine))
        .select(col("conv_id"), col("turn_idx"),
          col("_c.version").as("version"),
          col("_c.device_vendor").as("vendor"),
          col("_c.device_product").as("product"),
          col("_c.name").as("cname"), col("_c.severity").as("sev"),
          element_at(col("_c.extensions"), "sourceAddress").as("src"),
          element_at(col("_c.extensions"), "sourcePort").as("spt"),
          element_at(col("_c.extensions"), "destinationHostName").as("dhost"),
          element_at(col("_c.extensions"), "message").as("msg"),
          element_at(col("_c.extensions"), "sourceUserName").as("suser"),
          element_at(col("_c.extensions"), "k2").as("k2"),
          size(col("_c.errors")).as("n_err")),
      // CEF: expected decode output closed-form per variant (v3 has no CEF
      // header → the struct is null → every projected field NULL)
      oracle = OracleCte.transcripts +
        """, cf AS (
          |  SELECT conv_id, turn_idx, role, tool,
          |    turn_idx % 4 AS v,
          |    (turn_idx * 7) % 300 AS oct,
          |    (turn_idx * 13) % 65536 AS port
          |  FROM transcripts)
          | SELECT conv_id, turn_idx,
          |  CASE WHEN v = 1 THEN 1 WHEN v <> 3 THEN 0 END AS version,
          |  CASE WHEN v <> 3 THEN 'graft' END AS vendor,
          |  CASE WHEN v = 1 THEN 'pr|od' WHEN v <> 3 THEN 'router' END AS product,
          |  CASE WHEN v <> 3 THEN 'evt-' || role END AS cname,
          |  CASE WHEN v = 0 THEN CAST(turn_idx % 11 AS VARCHAR)
          |       WHEN v = 1 THEN 'Very-High' WHEN v = 2 THEN '3' END AS sev,
          |  CASE WHEN v = 0 AND oct <= 255 THEN '10.0.0.' || CAST(oct AS VARCHAR) END AS src,
          |  CASE WHEN v = 0 THEN CAST(port AS VARCHAR) END AS spt,
          |  CASE WHEN v = 0 THEN 'h-' || conv_id END AS dhost,
          |  CASE WHEN v = 1 THEN 'a=b c\d' END AS msg,
          |  CASE WHEN v = 1 THEN role END AS suser,
          |  CASE WHEN v = 2 THEN tool END AS k2,
          |  CASE WHEN (v = 0 AND oct > 255) OR v = 2 THEN 1 END AS n_err
          | FROM cf""".stripMargin),

    // --- grok: one-pass compiled-regex extraction over text ---
    Query("q_grok", (s, dir) =>
      t(s, dir)
        .withColumn("_g", graft.functions.grok_struct(col("text"),
          "evt=(\\w+) id=(\\d+)", Seq("evt", "id")))
        .filter(col("_g").isNotNull)
        .select(col("conv_id"), col("turn_idx"), col("_g.evt"),
          col("_g.id").cast("long").as("id")),
      oracle = OracleCte.transcripts +
        """ SELECT conv_id, turn_idx,
          |  regexp_extract(text, 'evt=(\w+) id=(\d+)', 1) AS evt,
          |  CAST(regexp_extract(text, 'evt=(\w+) id=(\d+)', 2) AS BIGINT) AS id
          | FROM transcripts
          | WHERE regexp_matches(text, 'evt=(\w+) id=(\d+)')""".stripMargin),

    // --- condition algebra: compiled Cond AST as a selective filter ---
    Query("q_conditions", (s, dir) => {
      import graft.route._
      val cond = And(Seq(
        Or(Seq(Contains("text", "evt=click"), Contains("text", "evt=view"))),
        Range("turn_idx", gte = Some(2)),
        Not(Regexp("conv_id", "00$"))))
      t(s, dir).filter(cond.toColumn)
        .groupBy("role").agg(count(lit(1)).as("events"))
    },
      oracle = OracleCte.transcripts +
        """ SELECT role, count(*) AS events FROM transcripts
          | WHERE (contains(text, 'evt=click') OR contains(text, 'evt=view'))
          |   AND turn_idx >= 2
          |   AND NOT regexp_matches(conv_id, '00$')
          | GROUP BY role""".stripMargin),

    // --- multimodal: binary media column → typed header metadata ---
    Query("q_media_meta", (s, dir) => {
      import graft.multimodal.functions.media_meta
      graft.multimodal.Multimodal.synthesizeMedia(docs(s, dir)).toDF()
        .withColumn("m", media_meta(col("content")))
        .select(col("doc_id"), col("kind"), col("m.width"), col("m.height"),
          col("m.channels"), col("m.sample_rate"), col("m.n_frames"),
          col("m.payload_len"))
    },
      // multimodal header fields are closed-form in doc_id; payload length is
      // the BYTE length of text (strlen in DuckDB) capped at 256
      oracle = """SELECT doc_id,
        | CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        | CAST(64 + (doc_id % 32) * 16 AS INTEGER) AS width,
        | CAST(64 + (doc_id % 24) * 16 AS INTEGER) AS height,
        | CAST(1 + (doc_id % 2) * 2 AS INTEGER) AS channels,
        | CAST(CASE WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 5) * 4000 ELSE 0 END AS INTEGER) AS sample_rate,
        | CAST(CASE WHEN doc_id % 3 = 2 THEN 8 + (doc_id % 16) ELSE 1 END AS INTEGER) AS n_frames,
        | CAST(least(strlen(text), 256) AS INTEGER) AS payload_len
        | FROM documents""".stripMargin),

    // --- multimodal: REAL audio decode — a hand-rolled deterministic
    //     PCM16-LE RIFF/WAVE per doc (wav_pack) is decoded by the real JDK
    //     parser (javax.sound.sampled); every reported field, including the
    //     mean |amplitude| sample statistic, is closed-form in doc_id so
    //     the oracle predicts the decode without an audio stack ---
    Query("q_audio_meta", (s, dir) => {
      import graft.multimodal.functions.{audio_meta, wav_pack}
      val rate = lit(8000) + pmod(col("doc_id"), lit(5)).cast("int") * lit(4000)
      val ch = lit(1) + pmod(col("doc_id"), lit(2)).cast("int")
      val frames = lit(50) + pmod(col("doc_id"), lit(100)).cast("int")
      docs(s, dir)
        .select(col("doc_id"),
          audio_meta(wav_pack(col("doc_id"), rate, ch, frames)).as("a"))
        .select(col("doc_id"), col("a.encoding").as("encoding"),
          col("a.sample_rate").as("sample_rate"), col("a.channels").as("channels"),
          col("a.bits").as("bits"), col("a.frames").as("frames"),
          col("a.duration_ms").as("duration_ms"),
          graft.textops.TextOps.scaled4(col("a.mean_abs")).as("mean_abs_e4"))
    },
      // real audio decode: the WAV synthesis is closed-form in doc_id
      // (sample j = ((doc_id·31 + j·7919) mod 65536) − 32768), so the oracle
      // states the decoded metadata AND the sample statistic exactly — the
      // |sample| sum is an integer on both sides with ONE final double
      // division (summation-order-proof at the e4 grid)
      oracle = """WITH p AS (
        |  SELECT doc_id,
        |    CAST(8000 + (doc_id % 5) * 4000 AS INTEGER) AS sample_rate,
        |    CAST(1 + (doc_id % 2) AS INTEGER) AS channels,
        |    CAST(50 + (doc_id % 100) AS INTEGER) AS frames
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    sum(abs(((doc_id * 31 + j * 7919) % 65536) - 32768)) AS a,
        |    count(*) AS n
        |  FROM p, unnest(generate_series(0, frames * channels - 1)) AS t(j)
        |  GROUP BY doc_id
        |)
        | SELECT p.doc_id, 'PCM_SIGNED' AS encoding, p.sample_rate, p.channels,
        |  16 AS bits, CAST(p.frames AS BIGINT) AS frames,
        |  CAST(p.frames * 1000 // p.sample_rate AS BIGINT) AS duration_ms,
        |  CAST(floor(CAST(s.a AS DOUBLE) / (s.n * 32768.0) * 10000.0 + 0.5) AS INTEGER) AS mean_abs_e4
        | FROM p JOIN s ON p.doc_id = s.doc_id""".stripMargin),

    // --- multimodal: PCM sample EXTRACTION through the same real JDK
    //     decode — normalized doubles re-quantized to the raw 16-bit
    //     integers (exact: 1/32768 is dyadic), so the oracle states every
    //     sample closed-form ---
    Query("q_audio_samples", (s, dir) => {
      import graft.multimodal.functions.{audio_samples, wav_pack}
      docs(s, dir)
        .select(col("doc_id"),
          audio_samples(
            wav_pack(col("doc_id"), lit(8000), lit(1),
              lit(4) + pmod(col("doc_id"), lit(5)).cast("int")),
            maxSamples = 6).as("sm"))
        .select(col("doc_id"),
          transform(col("sm"), x => (x * 32768.0).cast("int")).as("raw"))
        .select(col("doc_id"), size(col("raw")).as("n"),
          array_join(transform(col("raw"), _.cast("string")), ",").as("samples"))
    },
      // PCM extraction: maxSamples=6 truncates the 4..8-frame mono WAVs;
      // sample j = ((doc_id·31 + j·7919) mod 65536) − 32768, restated exactly
      // after the normalize/re-quantize round trip (1/32768 is dyadic)
      oracle = """WITH p AS (
        |  SELECT doc_id,
        |    least(CAST(4 + doc_id % 5 AS INTEGER), 6) AS n
        |  FROM documents
        |)
        | SELECT doc_id, n,
        |  (SELECT string_agg(
        |     CAST(((doc_id * 31 + j * 7919) % 65536) - 32768 AS VARCHAR),
        |     ',' ORDER BY j)
        |   FROM unnest(generate_series(0, n - 1)) AS t(j)) AS samples
        | FROM p""".stripMargin),

    // --- multimodal: linear PCM RESAMPLE through the same real JDK decode
    //     (the 16 kHz-normalization training-pipeline step) — the kernel
    //     interpolates in exact unsigned-integer arithmetic, so the oracle
    //     states every resampled sample closed-form; 8 kHz sources upsample
    //     to a fixed 12 kHz target (m = ⌊(n−1)·3/2⌋ + 1 output frames) ---
    Query("q_audio_resample", (s, dir) => {
      import graft.multimodal.functions.{audio_resample, wav_pack}
      docs(s, dir)
        .select(col("doc_id"),
          audio_resample(
            wav_pack(col("doc_id"), lit(8000), lit(1),
              lit(4) + pmod(col("doc_id"), lit(5)).cast("int")), 12000).as("sm"))
        .select(col("doc_id"), size(col("sm")).as("n"),
          array_join(transform(col("sm"),
            x => (x * 32768.0).cast("int").cast("string")), ",").as("samples"))
    },
      // linear resample 8 kHz → 12 kHz: output frame k interpolates source
      // position k·8000/12000 over the biased-unsigned closed-form samples
      // u_j = (doc_id·31 + j·7919) mod 65536, ONE floor division of
      // non-negative integers — every output sample stated exactly
      oracle = """WITH p AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INTEGER) AS nf FROM documents
        |), ks AS (
        |  SELECT doc_id, nf, ((nf - 1) * 12000) // 8000 + 1 AS m,
        |    unnest(generate_series(0, ((nf - 1) * 12000) // 8000)) AS k
        |  FROM p
        |), interp AS (
        |  SELECT doc_id, m, k,
        |    (k * 8000) // 12000 AS j,
        |    least((k * 8000) // 12000 + 1, nf - 1) AS j1,
        |    (k * 8000) % 12000 AS rem
        |  FROM ks
        |), outs AS (
        |  SELECT doc_id, m, k,
        |    (((doc_id * 31 + j * 7919) % 65536) * (12000 - rem) +
        |     ((doc_id * 31 + j1 * 7919) % 65536) * rem) // 12000 - 32768 AS v
        |  FROM interp
        |)
        | SELECT doc_id, CAST(max(m) AS INTEGER) AS n,
        |  string_agg(CAST(v AS VARCHAR), ',' ORDER BY k) AS samples
        | FROM outs GROUP BY doc_id""".stripMargin),

    // --- multimodal: every-Nth frame sampling → exploded frames table;
    //     frames are byte slices of the deterministic payload, so the
    //     oracle reconstructs them as hex-string slices (byte-exact, no
    //     ASCII assumption) ---
    Query("q_media_frames", (s, dir) => {
      import graft.multimodal.functions.media_frames
      graft.multimodal.Multimodal.synthesizeMedia(docs(s, dir)).toDF()
        .select(col("doc_id"),
          posexplode(media_frames(col("content"), 2)).as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame")).as("frame_bytes"),
          lower(hex(col("frame"))).as("frame_hex"))
    },
      // frame sampling: payload = first ≤256 BYTES of text; n_frames and the
      // slice geometry are closed-form in doc_id; frames compared as hex
      // slices of encode(text) so multi-byte characters cannot diverge
      oracle = """WITH m AS (
        |  SELECT doc_id,
        |    least(strlen(text), 256) AS plen,
        |    substr(hex(encode(text)), 1, 2 * least(strlen(text), 256)) AS hx,
        |    CAST(CASE WHEN doc_id % 3 = 2 THEN 8 + doc_id % 16 ELSE 1 END AS INT) AS nf
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, plen, hx, nf,
        |    greatest(1, plen // nf) AS flen,
        |    unnest(generate_series(0, nf - 1)) AS f
        |  FROM m WHERE plen > 0
        |), kept AS (
        |  SELECT doc_id, f, f * flen AS start,
        |    least((f + 1) * flen, plen) - f * flen AS blen, hx
        |  FROM fr WHERE f % 2 = 0 AND f * flen < plen)
        | SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY f) - 1 AS INT) AS frame_idx,
        |  CAST(blen AS INT) AS frame_bytes,
        |  lower(substr(hx, 2 * start + 1, 2 * blen)) AS frame_hex
        | FROM kept""".stripMargin),

    // --- multimodal: REAL video container decode — a hand-rolled
    //     deterministic RIFF/AVI per doc (avi_pack) is walked by the real
    //     from-scratch container parser; every reported field (codec fourcc,
    //     dims, frame timing, movi chunk census) is closed-form in doc_id so
    //     the oracle predicts the decode without a media stack ---
    Query("q_video_meta", (s, dir) => {
      import graft.multimodal.functions.{video_meta, avi_pack}
      val w = lit(64) + pmod(col("doc_id"), lit(16)).cast("int") * lit(8)
      val h = lit(48) + pmod(col("doc_id"), lit(12)).cast("int") * lit(8)
      val fps = lit(10) + pmod(col("doc_id"), lit(4)).cast("int") * lit(5)
      val frames = lit(3) + pmod(col("doc_id"), lit(6)).cast("int")
      docs(s, dir)
        .select(col("doc_id"),
          video_meta(avi_pack(col("doc_id"), w, h, fps, frames)).as("v"))
        .select(col("doc_id"), col("v.codec").as("codec"),
          col("v.width").as("width"), col("v.height").as("height"),
          col("v.micro_sec_per_frame").as("uspf"),
          col("v.total_frames").as("total_frames"),
          col("v.n_chunks").as("n_chunks"),
          col("v.data_bytes").as("data_bytes"))
    },
      // real AVI container decode: the avi_pack synthesis is closed-form in
      // doc_id (codec MJPG, dims/fps from the header formulas, frame f has
      // 16 + (doc_id+f) mod 9 payload bytes), so the oracle states the whole
      // container walk — timing, frame census, data byte total — exactly
      oracle = """WITH p AS (
        |  SELECT doc_id,
        |    CAST(64 + (doc_id % 16) * 8 AS INTEGER) AS width,
        |    CAST(48 + (doc_id % 12) * 8 AS INTEGER) AS height,
        |    CAST(10 + (doc_id % 4) * 5 AS INTEGER) AS fps,
        |    CAST(3 + (doc_id % 6) AS INTEGER) AS frames
        |  FROM documents
        |)
        | SELECT doc_id, 'MJPG' AS codec, width, height,
        |  CAST(1000000 // fps AS INTEGER) AS uspf,
        |  frames AS total_frames, frames AS n_chunks,
        |  CAST((SELECT sum(16 + (doc_id + f) % 9)
        |        FROM unnest(generate_series(0, frames - 1)) AS t(f)) AS BIGINT)
        |    AS data_bytes
        | FROM p""".stripMargin),

    // --- multimodal: video frame EXTRACTION through the same real
    //     container walk — every-2nd movi chunk payload, restated by the
    //     oracle byte-for-byte as hex from the closed-form frame bytes ---
    Query("q_video_frames", (s, dir) => {
      import graft.multimodal.functions.{video_frames, avi_pack}
      docs(s, dir)
        .select(col("doc_id"),
          posexplode(video_frames(
            avi_pack(col("doc_id"), lit(64), lit(48), lit(10),
              lit(3) + pmod(col("doc_id"), lit(6)).cast("int")), 2))
            .as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame")).as("frame_bytes"),
          lower(hex(col("frame"))).as("frame_hex"))
    },
      // frame extraction: every-2nd movi payload; byte i of frame f is
      // (doc_id·31 + f·131 + i·7) mod 256, restated as lowercase hex
      oracle = """WITH p AS (
        |  SELECT doc_id, CAST(3 + doc_id % 6 AS INTEGER) AS frames
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, f, CAST(f // 2 AS INTEGER) AS frame_idx,
        |    CAST(16 + (doc_id + f) % 9 AS INTEGER) AS flen
        |  FROM p, unnest(generate_series(0, frames - 1)) AS t(f)
        |  WHERE f % 2 = 0
        |)
        | SELECT doc_id, frame_idx, flen AS frame_bytes,
        |  (SELECT string_agg(
        |     lpad(lower(to_hex((doc_id * 31 + f * 131 + i * 7) % 256)), 2, '0'),
        |     '' ORDER BY i)
        |   FROM unnest(generate_series(0, flen - 1)) AS t(i)) AS frame_hex
        | FROM k""".stripMargin),

    // --- fork parse_vehicle_trace2trace: anchored-regex + @-path family ---
    Query("q_parse_trace2trace", (s, dir) => {
      import graft.sources.Transcripts.tstr
      val ev = s.read.parquet(s"$dir/events.parquet")
      val e = col("event_id")
      val letter = expr("CASE CAST(event_id % 7 AS INT) WHEN 0 THEN 'V' WHEN 1 THEN 'D' " +
        "WHEN 2 THEN 'I' WHEN 3 THEN 'W' WHEN 4 THEN 'E' WHEN 5 THEN 'F' ELSE 'Q' END")
      val trace = when(e % 17 === 0, lit(""))
        .otherwise(concat(lit("tr"), (e % 10000).cast("string")))
      val msg = concat(
        tstr(e), lit(" "), (e % 100000).cast("string"), lit(" "),
        (e % 1000).cast("string"), lit(" "), letter,
        lit(" tag"), (e % 50).cast("string"), lit(": ##MSG## ["),
        trace, lit("] [sp"), (e % 777).cast("string"),
        lit("] [pa"), (e % 55).cast("string"),
        lit("] ["), when(e % 2 === 0, lit("wifi")).otherwise(lit("cellular")),
        lit("] [u"), (e % 9).cast("string"),
        lit("] payload evt="), col("event_type"),
        when(e % 3 === 0, lit(" ##MSG##")).otherwise(lit("")))
      val path = when(e % 19 === 0, lit("nopath"))
        .otherwise(concat(lit("/data/logs/f"), (e % 100).cast("string"),
          lit(".log@ecu"), (e % 3).cast("string"),
          lit("@vid"), (e % 50).cast("string"),
          lit("@T"), (e % 2).cast("string"),
          lit("@c"), (e % 9).cast("string"),
          lit("@u"), (e % 9).cast("string")))
      ev.select(e.as("event_id"),
          graft.functions.ForkParsers.trace2trace_parse(msg, path).as("_p"))
        .select(col("event_id"), col("_p.*"))
    },
      oracle = OracleCte.eventTime +
        """, x AS (
          |  SELECT event_id, user_id, event_type, t,
          |    event_id % 17 <> 0 AS matched,
          |    event_id % 19 <> 0 AS haspath,
          |    CASE CAST(event_id % 7 AS INT) WHEN 0 THEN 'V' WHEN 1 THEN 'D'
          |      WHEN 2 THEN 'I' WHEN 3 THEN 'W' WHEN 4 THEN 'E' WHEN 5 THEN 'F'
          |      ELSE 'Q' END AS letter,
          |    t || ' ' || CAST(event_id % 100000 AS VARCHAR) || ' ' ||
          |      CAST(event_id % 1000 AS VARCHAR) || ' ' ||
          |      CASE CAST(event_id % 7 AS INT) WHEN 0 THEN 'V' WHEN 1 THEN 'D'
          |        WHEN 2 THEN 'I' WHEN 3 THEN 'W' WHEN 4 THEN 'E' WHEN 5 THEN 'F'
          |        ELSE 'Q' END ||
          |      ' tag' || CAST(event_id % 50 AS VARCHAR) || ': ##MSG## [' ||
          |      CASE WHEN event_id % 17 = 0 THEN '' ELSE 'tr' || CAST(event_id % 10000 AS VARCHAR) END ||
          |      '] [sp' || CAST(event_id % 777 AS VARCHAR) ||
          |      '] [pa' || CAST(event_id % 55 AS VARCHAR) ||
          |      '] [' || CASE WHEN event_id % 2 = 0 THEN 'wifi' ELSE 'cellular' END ||
          |      '] [u' || CAST(event_id % 9 AS VARCHAR) ||
          |      '] payload evt=' || event_type ||
          |      CASE WHEN event_id % 3 = 0 THEN ' ##MSG##' ELSE '' END AS msg
          |  FROM et)
          | SELECT event_id,
          |  CASE WHEN haspath THEN 'f' || CAST(event_id % 100 AS VARCHAR) END AS "x-header_filename",
          |  CASE WHEN haspath THEN 'ecu' || CAST(event_id % 3 AS VARCHAR) END AS "x-header_ecu",
          |  CASE WHEN haspath THEN 'vid' || CAST(event_id % 50 AS VARCHAR) END AS "x-header_vid",
          |  CASE WHEN haspath THEN 'T' || CAST(event_id % 2 AS VARCHAR) END AS "x-header_log_type",
          |  CASE WHEN haspath THEN 'c' || CAST(event_id % 9 AS VARCHAR) END AS "x-header_created_at",
          |  CASE WHEN haspath THEN 'u' || CAST(event_id % 9 AS VARCHAR) END AS "x-header_uploaded_at",
          |  CASE WHEN matched THEN t END AS time,
          |  CASE WHEN matched THEN CAST(event_id % 100000 AS BIGINT) END AS pid,
          |  CASE WHEN matched THEN CAST(event_id % 1000 AS BIGINT) END AS tid,
          |  CASE WHEN matched THEN
          |    CASE letter WHEN 'V' THEN 'VERBOSE' WHEN 'D' THEN 'DEBUG'
          |      WHEN 'I' THEN 'INFO' WHEN 'W' THEN 'WARN' WHEN 'E' THEN 'ERROR'
          |      WHEN 'F' THEN 'FATAL' ELSE letter END END AS level,
          |  CASE WHEN matched THEN 'tag' || CAST(event_id % 50 AS VARCHAR) END AS tag,
          |  CASE WHEN matched THEN 'tr' || CAST(event_id % 10000 AS VARCHAR) END AS trace_id,
          |  CASE WHEN matched THEN 'sp' || CAST(event_id % 777 AS VARCHAR) END AS span_id,
          |  CASE WHEN matched THEN 'pa' || CAST(event_id % 55 AS VARCHAR) END AS parent_span_id,
          |  CASE WHEN matched THEN CASE WHEN event_id % 2 = 0 THEN 'wifi' ELSE 'cellular' END END AS network,
          |  CASE WHEN matched THEN 'u' || CAST(event_id % 9 AS VARCHAR) END AS user_id,
          |  CASE WHEN NOT matched THEN msg
          |       WHEN event_id % 3 = 0 THEN 'payload evt=' || event_type || ' '
          |       ELSE 'payload evt=' || event_type END AS message
          | FROM x""".stripMargin)
  )

  /** every query's plan, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap
}
