package graft.model

import java.sql.Timestamp

/** Core data model for the transcript pipeline.
  *
  * The input row shape is fixed by the engine contract (see BASELINE input_hint):
  * an Iceberg/parquet table of multi-turn conversation / agent transcripts.
  * This mirrors the reference's `beat.Event` (libbeat/beat/event.go:40-46) with
  * the dynamic `Fields` MapStr replaced by a fixed, columnar schema — parsing
  * promotes text into typed columns instead of mutating a map.
  */
final case class TranscriptEvent(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

/** Result of the parse stage (≈ fork parse_serverlog output fields,
  * libbeat/processors/parse_serverlog/parser.go:98-151). `parse_status`
  * encodes the reference's three non-OK outcomes:
  *  - "short":      fewer than 11 positional items → event passes through
  *                  un-parsed (parser.go:101-103)
  *  - "bad_service": servicename fails `^[a-z]+[a-z0-9-_.]+$` → event dropped
  *                  (parser.go:106-108, returns nil)
  *  - "benchmark":  trace id matches `^00000000[1-9a-f]` → fields withheld
  *                  (parser.go:112-114)
  */
object ParseStatus {
  val Ok = "ok"
  val Short = "short"
  val BadService = "bad_service"
  val Benchmark = "benchmark"
}

/** Sink names for the fan-out router (≈ libbeat/outputs/outil selector targets
  * plus the elasticsearch dead-letter index,
  * libbeat/outputs/elasticsearch/non_indexable_policy.go:28-104). */
object Sinks {
  val Es = "sink_es"
  val Ls = "sink_ls"
  val Dropped = "dropped"
  val All: Seq[String] = Seq(Es, Ls, Dropped)
}

/** Static lookup data for the enrich stage (≈ translate_sid / add_fields,
  * libbeat/processors/translate_sid/translatesid.go:76-118), the dims'
  * one definition: `graft.enrich.Enrich.columns` compiles them into
  * per-row map lookups, and `OracleCte.lookups` states them in SQL.
  */
object Lookups {
  /** {V,D,I,W,E,F} → long level names
    * (libbeat/processors/parse_common/parser.go:34-42). */
  val LevelMap: Map[String, String] = Map(
    "V" -> "VERBOSE",
    "D" -> "DEBUG",
    "I" -> "INFO",
    "W" -> "WARN",
    "E" -> "ERROR",
    "F" -> "FATAL"
  )

  /** tool → (kind, team): enrich lookup #1, keyed on the `tool` column. */
  val ToolMeta: Seq[(String, String, String)] = Seq(
    ("search", "retrieval", "infra"),
    ("bash", "execution", "runtime"),
    ("editor", "mutation", "runtime"),
    ("browser", "retrieval", "web")
  )

  /** role → (class, priority): enrich lookup #2, keyed on `role`. */
  val RoleMeta: Seq[(String, String, Int)] = Seq(
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "control", 0),
    ("tool", "machine", 3)
  )
}
