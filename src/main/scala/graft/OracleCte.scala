package graft

/** DuckDB-SQL twins of [[graft.sources.Transcripts.fromEvents]] and the
  * serverlog parse/route stages, used as WITH-prefixes for oracle queries.
  * Every expression here is the integer/string arithmetic mirror of the
  * Column expressions in Transcripts.scala / ServerlogRowWriter — keep the two
  * in lockstep.
  */
object OracleCte {

  /** `WITH ev AS (...), transcripts AS (...)` — the derived transcripts table. */
  val transcripts: String =
    """WITH ev AS (
      |  SELECT *,
      |    '2024-01-01 ' || lpad(CAST((event_id % 86400) // 3600 AS VARCHAR), 2, '0') || ':' ||
      |    lpad(CAST((event_id % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
      |    lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') || '.' ||
      |    lpad(CAST((event_id * 7) % 1000 AS VARCHAR), 3, '0') AS tstr,
      |    CASE event_type WHEN 'error' THEN 'error' WHEN 'purchase' THEN 'info' WHEN 'click' THEN 'debug' WHEN 'view' THEN 'verbose' ELSE 'warn' END AS lvl,
      |    CASE WHEN event_id % 17 = 0 THEN 'Svc-' || event_type
      |         WHEN event_id % 10 = 3 THEN 'svc-' || event_type || ','
      |         ELSE 'svc-' || event_type END AS svc,
      |    CASE WHEN event_id % 37 = 0 THEN '[000000001a' || lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0') || ']'
      |         ELSE '[t' || lpad(CAST((event_id * 31) % 100000 AS VARCHAR), 8, '0') || ']' END AS trace,
      |    CASE WHEN event_id % 5 = 0 THEN ' ##JIDU##{"extra_k": "v' || CAST(event_id % 100 AS VARCHAR) || '"}##JIDU##' ELSE '' END AS jidu
      |  FROM events
      |), transcripts AS (
      |  SELECT
      |    'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS INTEGER) AS turn_idx,
      |    CASE event_type WHEN 'click' THEN 'user' WHEN 'view' THEN 'user' WHEN 'signup' THEN 'system' WHEN 'purchase' THEN 'assistant' ELSE 'tool' END AS role,
      |    CASE WHEN event_id % 13 = 0 THEN tstr || ' short line only'
      |         ELSE tstr || ' ' || svc || ' host-' || CAST(user_id % 5 AS VARCHAR) || ' ' || lvl ||
      |              ' [t-' || CAST(event_id % 8 AS VARCHAR) || '] com.example.Cls' || CAST(event_id % 20 AS VARCHAR) ||
      |              ' run' || CAST(event_id % 7 AS VARCHAR) || ' [' || CAST(event_id % 1000 AS VARCHAR) || '] ' ||
      |              trace || ' [s' || CAST(event_id % 9999 AS VARCHAR) || '] evt=' || event_type || ' id=' || CAST(event_id AS VARCHAR) || jidu
      |         END AS text,
      |    CASE event_type WHEN 'purchase' THEN 'bash' WHEN 'error' THEN 'search' WHEN 'click' THEN 'editor' WHEN 'view' THEN 'browser' ELSE '' END AS tool,
      |    ts
      |  FROM ev
      |)""".stripMargin

  /** `parsed` CTE: the SQL mirror of ServerlogRowWriter.parse + routing sink. */
  val parsed: String = transcripts +
    """, items AS (
      |  SELECT *,
      |    (length(text) - length(replace(text, ' ', '')) + 1) AS n_items,
      |    replace(split_part(text, ' ', 3), ',', '') AS service_c,
      |    split_part(text, ' ', 10) AS trace_raw
      |  FROM transcripts
      |), statused AS (
      |  SELECT *,
      |    CASE WHEN n_items < 11 THEN 'short'
      |         WHEN NOT regexp_matches(service_c, '^[a-z]+[a-z0-9\-_.]+$') THEN 'bad_service'
      |         WHEN trace_raw <> '' AND regexp_matches(substr(trace_raw, 2, length(trace_raw) - 2), '^00000000[1-9a-f]') THEN 'benchmark'
      |         ELSE 'ok' END AS status
      |  FROM items
      |), parsed AS (
      |  SELECT conv_id, turn_idx, role, tool, ts, text, status,
      |    substr(text, 1, 23) AS logtime,
      |    CASE WHEN status IN ('ok','benchmark') THEN service_c END AS service,
      |    CASE WHEN status = 'ok' THEN split_part(text, ' ', 4) END AS hostname,
      |    CASE WHEN status = 'ok' THEN upper(split_part(text, ' ', 5)) END AS level,
      |    CASE WHEN status = 'ok' THEN substr(split_part(text, ' ', 6), 2, length(split_part(text, ' ', 6)) - 2) END AS thread,
      |    CASE WHEN status = 'ok' THEN split_part(text, ' ', 7) END AS class,
      |    CASE WHEN status = 'ok' THEN split_part(text, ' ', 8) END AS method,
      |    CASE WHEN status = 'ok' THEN TRY_CAST(substr(split_part(text, ' ', 9), 2, length(split_part(text, ' ', 9)) - 2) AS BIGINT) END AS line,
      |    CASE WHEN status = 'ok' THEN substr(trace_raw, 2, length(trace_raw) - 2) END AS trace_id,
      |    CASE WHEN status = 'ok' THEN substr(split_part(text, ' ', 11), 2, length(split_part(text, ' ', 11)) - 2) END AS span_id,
      |    CASE WHEN status = 'ok' AND strpos(text, '##JIDU##') > 0 THEN substr(text, strpos(text, '##JIDU##')) END AS message,
      |    CASE WHEN status = 'bad_service' THEN 'dropped'
      |         WHEN status = 'benchmark' THEN 'filtered'
      |         WHEN tool <> '' THEN 'sink_es'
      |         ELSE 'sink_ls' END AS sink
      |  FROM statused
      |)""".stripMargin

  /** DuckDB mirror of [[graft.textops.TextOps]] token/normalize primitives
    * over the `documents` table. Kept in lockstep with TextOps.scala: tokens
    * = regex-split of trimmed text; normalized = lower+trim+collapse-ws;
    * shingles = distinct trigram windows of normalized tokens (whole text
    * when shorter than w). */
  val docTokens: String =
    """WITH tok AS (
      |  SELECT doc_id, text,
      |    string_split_regex(trim(text), '\s+') AS toks,
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, text, toks, norm,
      |    CASE WHEN len(string_split(norm, ' ')) < 3 THEN [norm]
      |         ELSE list_distinct(list_transform(
      |           generate_series(1, len(string_split(norm, ' ')) - 2),
      |           i -> array_to_string((string_split(norm, ' '))[i:i+2], ' ')))
      |    END AS sh,
      |    CAST(len(toks) AS INTEGER) AS n_tok
      |  FROM tok
      |)""".stripMargin

  /** per-document Gopher repetition metrics — the DuckDB twin of
    * [[graft.functions.RepetitionKernel]] (identical normalization,
    * overlapping grams, cnt·len codepoint coverage, (cnt DESC, gram ASC)
    * tie-break); ends with a `repetition` CTE keyed by doc_id. */
  val repetition: String =
    """WITH nrm AS (
      |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents
      |), tk AS (
      |  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM nrm WHERE norm <> ''
      |), c2 AS (
      |  SELECT doc_id, norm, gram, count(*) AS cnt FROM (
      |    SELECT doc_id, norm, unnest(list_transform(generate_series(1, len(toks) - 1),
      |      i -> array_to_string(toks[i:i+1], ' '))) AS gram
      |    FROM tk WHERE len(toks) >= 2) GROUP BY 1, 2, 3
      |), c3 AS (
      |  SELECT doc_id, norm, gram, count(*) AS cnt FROM (
      |    SELECT doc_id, norm, unnest(list_transform(generate_series(1, len(toks) - 2),
      |      i -> array_to_string(toks[i:i+2], ' '))) AS gram
      |    FROM tk WHERE len(toks) >= 3) GROUP BY 1, 2, 3
      |), t2 AS (
      |  SELECT doc_id, gram AS g2, CAST(cnt AS BIGINT) * length(gram) / CAST(length(norm) AS DOUBLE) AS tf2,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
      |  FROM c2
      |), d2 AS (
      |  SELECT doc_id, sum(CASE WHEN cnt >= 2 THEN CAST(cnt AS BIGINT) * length(gram) ELSE 0 END)
      |      / CAST(any_value(length(norm)) AS DOUBLE) AS df2
      |  FROM c2 GROUP BY doc_id
      |), t3 AS (
      |  SELECT doc_id, CAST(cnt AS BIGINT) * length(gram) / CAST(length(norm) AS DOUBLE) AS tf3,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
      |  FROM c3
      |), d3 AS (
      |  SELECT doc_id, sum(CASE WHEN cnt >= 2 THEN CAST(cnt AS BIGINT) * length(gram) ELSE 0 END)
      |      / CAST(any_value(length(norm)) AS DOUBLE) AS df3
      |  FROM c3 GROUP BY doc_id
      |), repetition AS (
      |  SELECT d.doc_id,
      |    t2.g2 AS top_gram2,
      |    coalesce(t2.tf2, 0.0) AS top_frac2,
      |    coalesce(d2.df2, 0.0) AS dup_frac2,
      |    coalesce(t3.tf3, 0.0) AS top_frac3,
      |    coalesce(d3.df3, 0.0) AS dup_frac3
      |  FROM documents d
      |  LEFT JOIN t2 ON d.doc_id = t2.doc_id AND t2.rn = 1
      |  LEFT JOIN d2 ON d.doc_id = d2.doc_id
      |  LEFT JOIN t3 ON d.doc_id = t3.doc_id AND t3.rn = 1
      |  LEFT JOIN d3 ON d.doc_id = d3.doc_id
      |)""".stripMargin

  /** brute-force verified near-dup pairs (integer intersection/union math —
    * the SQL twin of Dedup.jaccardPairs AND of Dedup.minhashPairs, whose
    * banded-LSH candidate generation has effectively-1.0 recall at τ=0.8
    * with bands=16/r=2; DedupSpec pins the set equality). */
  val jaccardPairs: String = docTokens +
    """, pairs AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_inter,
      |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INTEGER) AS n_union
      |  FROM sh a JOIN sh b
      |    ON a.doc_id < b.doc_id AND abs(a.n_tok - b.n_tok) <= 40
      |), jpairs AS (
      |  SELECT a_id, b_id, n_inter, n_union FROM pairs
      |  WHERE n_inter * 100 >= n_union * 80
      |)""".stripMargin

  /** embeddings with double-precision cosine (mirror of VectorTextKernel
    * .cosine: float→double promotion, sequential accumulate, dot/(√na·√nb)). */
  val cosinePairs: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), cpairs AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |)""".stripMargin

  /** events + the 23-char integer-math timestamp string (the SQL twin of
    * Transcripts.tstr) — shared prefix for the fork-parser family oracles. */
  val eventTime: String =
    """WITH et AS (
      |  SELECT *,
      |    '2024-01-01 ' || lpad(CAST((event_id % 86400) // 3600 AS VARCHAR), 2, '0') || ':' ||
      |    lpad(CAST((event_id % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
      |    lpad(CAST(event_id % 60 AS VARCHAR), 2, '0') || '.' ||
      |    lpad(CAST((event_id * 7) % 1000 AS VARCHAR), 3, '0') AS t
      |  FROM events
      |)""".stripMargin

  /** inline lookup dims as VALUES, mirroring graft.model.Lookups. */
  val lookups: String =
    """ tool_meta(tool, tool_kind, tool_team) AS (
      |  SELECT * FROM (VALUES ('search','retrieval','infra'), ('bash','execution','runtime'),
      |                        ('editor','mutation','runtime'), ('browser','retrieval','web')) v
      |), role_meta(role, role_class, role_priority) AS (
      |  SELECT * FROM (VALUES ('user','human',1), ('assistant','model',2),
      |                        ('system','control',0), ('tool','machine',3)) v
      |)""".stripMargin
}
