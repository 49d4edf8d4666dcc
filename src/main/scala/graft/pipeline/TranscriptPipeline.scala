package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.model.{ParseStatus, Sinks}
import graft.route._

/** The flagship pipeline: parse → enrich → route, as one declarative
  * DataFrame transform (harvest → processors → publish in the reference,
  * libbeat/publisher/pipeline/client.go:84-146, re-expressed set-at-a-time).
  *
  * [[transform]] stays entirely inside whole-stage codegen: the enrich is
  * inline, not a join, and parse/route introduce no shuffle at all — at
  * 10^12 rows the only wide stages are the metric aggregations and the
  * optional pre-sink `sortWithinPartitions`.
  */
object TranscriptPipeline {

  /** pseudo-sink for rows removed by predicate (reference "filtered" counter,
    * libbeat/publisher/pipeline/monitoring.go:139): never written, counted. */
  val Filtered = "filtered"

  /** First-match-wins routing rules (libbeat outil selector semantics):
    *  1. bad service name       → dropped   (reference returns nil → drop,
    *                                          parse_serverlog/parser.go:106-108)
    *  2. benchmark trace id     → filtered  (reference's stated intent,
    *                                          parser.go:111-114)
    *  3. tool-call turns        → sink_es
    *  4. everything else        → sink_ls
    */
  def selector: Selector = Selector(
    rules = Seq(
      SelectorRule(FieldEquals("status", ParseStatus.BadService), Sinks.Dropped),
      SelectorRule(FieldEquals("status", ParseStatus.Benchmark), Filtered),
      SelectorRule(Not(FieldEquals("tool", "")), Sinks.Es)
    ),
    default = Sinks.Ls
  )

  /** The event as it arrives, and all a sink file stores of it: every
    * other column of [[transform]] is a pure function of these. */
  val EventColumns: Seq[String] = Seq("conv_id", "turn_idx", "role", "tool", "ts", "text")

  /** parse stage: flatten the serverlog struct next to the event columns. */
  def parse(df: DataFrame): DataFrame =
    df.withColumn("_p", serverlog_parse(col("text")))
      .select(EventColumns.map(col) :+ col("_p.*"): _*)

  /** full transform; adds `sink` and a deterministic `doc_id`. The enrich
    * lookups are map literals ([[graft.enrich.Enrich.columns]]), so they
    * stay inside whole-stage codegen with no join operator; EnrichSpec pins
    * them to a left join of the dims. */
  def transform(df: DataFrame): DataFrame =
    derive(df, selector.sinkColumn.as("sink"), docId)

  /** A sink table's rows from the events it stores: [[transform]]'s
    * columns by [[transform]]'s own expressions, with `doc_id` and then
    * `sink` (the table's name, not a route) last. Only the event columns
    * are read, so a stored copy of a derived column (older layouts) is
    * replaced by the derived, equal, value; a query that selects no parsed
    * field plans no parse. */
  def fromEvents(events: DataFrame, sink: String): DataFrame =
    derive(events, docId, lit(sink).as("sink"))

  private def docId = deterministic_id(col("conv_id"), col("turn_idx")).as("doc_id")

  /** [[parse]], then the enrich lookups and `last` in ONE projection: one
    * plan node, not a `withColumn` each, to analyse per read. */
  private def derive(df: DataFrame, last: Column*): DataFrame =
    parse(df).select((col("*") +: graft.enrich.Enrich.columns) ++ last: _*)

  /** routed rows destined for real sinks (excludes predicate-filtered). */
  def routed(df: DataFrame): DataFrame =
    transform(df).filter(col("sink") =!= Filtered)

  /** sink column via the allocation-free status fast path — identical
    * routing decision to [[transform]] (serverlog_status runs the parse's own
    * first phase, pinned by ServerlogStatusSpec) without the 13-field
    * extraction.
    * Count/metrics plans route 10^12 rows; they should never pay for fields
    * nobody reads. */
  def sinkFast(df: DataFrame): DataFrame =
    df.withColumn("status", serverlog_status(col("text")))
      .withColumn("sink", selector.sinkColumn)

  /** pipeline metrics, mirroring the reference observer's taxonomy
    * (libbeat/publisher/pipeline/monitoring.go:94-104):
    * total / published (es+ls) / dropped (dead-letter) / filtered. */
  def metrics(df: DataFrame): DataFrame = {
    sinkFast(df)
      .groupBy("sink").agg(count(lit(1)).as("events"))
  }
}
