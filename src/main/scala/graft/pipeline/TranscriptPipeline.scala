package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.model.{ParseStatus, Sinks}
import graft.route._

/** The flagship pipeline: parse → enrich → route, as one declarative
  * DataFrame transform (harvest → processors → publish in the reference,
  * libbeat/publisher/pipeline/client.go:84-146, re-expressed set-at-a-time).
  *
  * Stays entirely inside whole-stage codegen until the (broadcast) enrich
  * join; no shuffle is introduced by parse/route at all — at 10^12 rows the
  * only wide stages are the metric aggregations and the optional
  * pre-sink `sortWithinPartitions`.
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

  /** parse stage: flatten the serverlog struct next to the core columns. */
  def parse(df: DataFrame): DataFrame =
    df.withColumn("_p", serverlog_parse(col("text")))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("ts"), col("text"), col("_p.*"))

  /** full transform; adds `sink` and a deterministic `doc_id`. The enrich
    * step uses the inline (map-literal) path: the dims are static vocabulary
    * tables, so the lookup stays inside whole-stage codegen with no join
    * operator — semantics identical to the broadcast join (EnrichSpec). */
  def transform(df: DataFrame): DataFrame = {
    val parsed = parse(df)
    val enriched = graft.enrich.Enrich.enrichInline(parsed)
    enriched
      .withColumn("sink", selector.sinkColumn)
      .withColumn("doc_id", deterministic_id(col("conv_id"), col("turn_idx")))
  }

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

  /** per-conversation-bucket × sink counts (the north-rule parity grouping:
    * per conv_id partition). `buckets` bounds output cardinality at scale. */
  def bucketMetrics(df: DataFrame, buckets: Int = 32): DataFrame =
    sinkFast(df)
      .withColumn("bucket", pmod(hash(col("conv_id")), lit(buckets)))
      .groupBy("bucket", "sink").agg(count(lit(1)).as("events"))
}
