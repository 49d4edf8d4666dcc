package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.checkpoint.{Registry, SnapshotTable}
import graft.io.LocalFs
import graft.model.TranscriptEvent
import graft.pipeline.{PipelineRunner, TranscriptPipeline}

/** Structured Streaming surface of the same pipeline — the reference's
  * native shape (harvest → processors → publish is a standing stream,
  * filebeat/input/log/harvester.go:242-369). The batch Dataset pipeline is
  * the north-rule deliverable; this module shows the identical transform
  * running incrementally:
  *
  *  - parse/enrich/route are stateless narrow ops (the enrich is an inline
  *    lookup, not a join), so [[TranscriptPipeline.transform]] applies to a
  *    streaming DataFrame unchanged — one definition, two execution modes.
  *  - [[startSnapshotSinks]] routes each micro-batch through
  *    [[TranscriptPipeline.sinkFast]] (the status fast path, as the batch
  *    runner does) into the batch runner's fan-out and commit protocol,
  *    with the streaming checkpoint as the cursor (filebeat/registrar
  *    semantics: offsets only advance after the batch's one commit, its
  *    sink files and ack together).
  *  - [[windowedMetrics]] is the observer counter set as a watermarked
  *    windowed aggregation (libbeat/publisher/pipeline/monitoring.go:94-104),
  *    routed by [[TranscriptPipeline.sinkFast]] as the batch metrics are.
  *  - [[convOffsets]] mirrors the per-file State high-water mark
  *    (filebeat/input/file/state.go:29-43) with mapGroupsWithState.
  */
object StreamingPipeline {

  /** per-conversation high-water mark state (≈ file.State.Offset). */
  final case class ConvOffset(conv_id: String, max_turn_idx: Int, turns: Long)

  /** Streaming fan-out into the sink tables through the batch runner's own
    * protocol: each micro-batch is [[PipelineRunner.stage]] (one group) →
    * [[PipelineRunner.commit]] under txn key `batch-<id>-<hex>`, the batch
    * id PLUS an order-independent 64-bit fingerprint of its content observed
    * in the same job: ONE Spark job and ONE commit of the root log per
    * micro-batch, no persist, and the same ack as a batch group, so
    * `Registry.readSink` and `PipelineRunner.observedMetrics` read a
    * streaming root like a batch one. A replayed batch (checkpoint recovery,
    * or a fresh checkpoint over the same input, also after a crash before
    * its commit landed) carries the same key: its commit loses to the one
    * that landed, or lands the first time — exactly-once into the tables.
    * A batch that REUSES an id over grown input after checkpoint loss has
    * another fingerprint and appends — at-least-once, never silent loss (a
    * bare batch-id key would skip it; cf. Delta's txnAppId caveat). */
  def startSnapshotSinks(input: DataFrame, root: String, checkpoint: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val reg = new Registry(root, batch.sparkSession)
        // observed BEFORE stage drops `filtered` rows: the fingerprint
        // covers every routed row, the txn key format of earlier roots. It
        // and the fan-out need only the route, so the batch is routed by
        // the status fast path
        val sig = Observation()
        val routed = TranscriptPipeline.sinkFast(batch)
          .observe(sig, expr("bit_xor(xxhash64(conv_id, turn_idx, text, sink))").as("sig"))
          .withColumn("group", lit(0))
        try {
          val staged = PipelineRunner.stage(routed, reg, Seq(0))
          PipelineRunner.commit(reg, Registry.batchTxn(batchId, sig), 0, staged)
        } finally reg.cleanupRunStaging()
        ()
      }
      .start()
  }

  /** watermarked per-window × sink counts (observer metrics, streaming form).
    * The watermark bounds state: late rows beyond `lateness` are dropped the
    * same way the reference's close_timeout abandons stale harvesters. Like
    * [[TranscriptPipeline.metrics]], it routes by the status fast path: a
    * count reads no parsed field. */
  def windowedMetrics(input: DataFrame, windowLen: String = "1 hour",
                      lateness: String = "10 minutes"): DataFrame =
    TranscriptPipeline.sinkFast(input.withWatermark("ts", lateness))
      .groupBy(window(col("ts"), windowLen), col("sink"))
      .agg(count(lit(1)).as("events"))

  /** running per-conversation offsets via explicit state — the streaming
    * registry. State is one small record per live conv; timeout discards
    * convs idle past the processing-time horizon (≈ registry TTL cleanup,
    * filebeat/registrar/registrar.go:241-260). */
  def convOffsets(input: Dataset[TranscriptEvent],
                  idleTimeoutMs: Long = 3600000L): Dataset[ConvOffset] = {
    import input.sparkSession.implicits._
    input.groupByKey(_.conv_id)
      .mapGroupsWithState[ConvOffset, ConvOffset](
        GroupStateTimeout.ProcessingTimeTimeout()) {
        (convId: String, turns: Iterator[TranscriptEvent], state: GroupState[ConvOffset]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(ConvOffset(convId, -1, 0L))
            var maxIdx = prev.max_turn_idx
            var n = prev.turns
            turns.foreach { t => if (t.turn_idx > maxIdx) maxIdx = t.turn_idx; n += 1 }
            val next = ConvOffset(convId, maxIdx, n)
            state.update(next)
            state.setTimeoutDuration(idleTimeoutMs)
            next
          }
      }
  }

  /** one assembled multiline event (streaming form of
    * `Actions.multilinePattern` output). */
  final case class MultilineEvent(conv_id: String, first_turn: Int,
                                  n_lines: Long, event_text: String)

  /** in-flight buffer for one conversation. */
  final case class MultilineBuf(first_turn: Int, n_lines: Long,
                                lines: List[String])

  /** Streaming multiline assembly with EXPLICIT state — the reader's true
    * incremental semantics (multiline/pattern.go:104-236, `after`+negate
    * shape): a line matching `startPattern` flushes the previous buffer and
    * opens a new event; continuation lines append; `maxLines` truncates the
    * kept text (message_buffer cap) without changing grouping; an idle
    * conversation's dangling buffer flushes on processing-time timeout (the
    * reference's multiline timeout, pattern.go:161-175). Turns are ordered
    * within each trigger batch; the batch pipeline (`multilinePattern`) is
    * the replay/backfill twin of this operator. */
  def multilineStream(input: Dataset[TranscriptEvent], startPattern: String,
                      maxLines: Int = 1000,
                      idleTimeoutMs: Long = 60000L): Dataset[MultilineEvent] = {
    import input.sparkSession.implicits._
    // compiled ONCE here; java.util.regex.Pattern is Serializable, so the
    // closure ships the compiled form — no per-batch/per-group recompile
    val pattern = java.util.regex.Pattern.compile(startPattern)
    input.groupByKey(_.conv_id)
      .flatMapGroupsWithState[MultilineBuf, MultilineEvent](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (convId: String, turns: Iterator[TranscriptEvent],
         state: GroupState[MultilineBuf]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(b =>
              MultilineEvent(convId, b.first_turn, b.n_lines,
                b.lines.reverse.mkString("\n")))
            state.remove()
            out.iterator
          } else {
            val sorted = turns.toSeq.sortBy(_.turn_idx)
            val done = scala.collection.mutable.ArrayBuffer.empty[MultilineEvent]
            var buf = state.getOption
            for (t <- sorted) {
              val isStart = pattern.matcher(t.text).find()
              if (isStart) {
                buf.foreach(b => done += MultilineEvent(convId, b.first_turn,
                  b.n_lines, b.lines.reverse.mkString("\n")))
                buf = Some(MultilineBuf(t.turn_idx, 1L, List(t.text)))
              } else buf = buf match {
                case Some(b) =>
                  // maxLines caps the KEPT lines (we keep the first maxLines,
                  // so kept-count == min(n_lines, maxLines) — O(1) check, no
                  // O(length) list walk per line); the count stays exact
                  val kept = if (b.n_lines < maxLines) t.text :: b.lines else b.lines
                  Some(b.copy(n_lines = b.n_lines + 1, lines = kept))
                case None => Some(MultilineBuf(t.turn_idx, 1L, List(t.text)))
              }
            }
            buf match {
              case Some(b) =>
                state.update(b)
                state.setTimeoutDuration(idleTimeoutMs)
              case None => state.remove()
            }
            done.iterator
          }
      }
  }

  /** per-key token-bucket state (ratelimit/token_bucket.go:40-44). */
  final case class RateLimitBucket(tokens: Double, lastMs: Long)

  /** Streaming token-bucket rate limit — the reference's ACTUAL algorithm
    * (ratelimit/token_bucket.go:109-153: bucket starts at `depth` tokens,
    * withdraw 1 per event, replenish elapsed-seconds × rate on access, no
    * cap — an idle key accrues burst, faithfully), applied per conv_id with
    * EVENT-time replenishment so a replay of the same stream admits exactly
    * the same events (wall-clock replenishment would make recovery
    * non-deterministic). Emits only the admitted events; idle keys are
    * garbage-collected by processing-time timeout (≈ runGC,
    * token_bucket.go:155-170). The batch analogue is
    * [[graft.operators.Actions.rateLimitCounts]]. */
  def rateLimitStream(input: Dataset[TranscriptEvent], limitPerSec: Double,
                      depth: Double,
                      idleTimeoutMs: Long = 3600000L): Dataset[TranscriptEvent] = {
    import input.sparkSession.implicits._
    input.groupByKey(_.conv_id)
      .flatMapGroupsWithState[RateLimitBucket, TranscriptEvent](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (_: String, turns: Iterator[TranscriptEvent],
         state: GroupState[RateLimitBucket]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = turns.toSeq.sortBy(t => (t.ts.getTime, t.turn_idx))
            val out = scala.collection.mutable.ArrayBuffer.empty[TranscriptEvent]
            var bucket = state.getOption.getOrElse(
              RateLimitBucket(depth, sorted.headOption.map(_.ts.getTime).getOrElse(0L)))
            for (t <- sorted) {
              val nowMs = t.ts.getTime
              val replenished = bucket.tokens +
                math.max(0L, nowMs - bucket.lastMs) / 1000.0 * limitPerSec
              val allowed = replenished >= 1.0
              // the clock never rewinds: a late event (older than the
              // stored high-water mark, possible across micro-batches)
              // earns zero replenishment above AND must not reset lastMs
              // backward, or the next in-order event would re-replenish
              // the whole rewound interval and burst past the limit
              bucket = RateLimitBucket(
                if (allowed) replenished - 1.0 else replenished,
                math.max(bucket.lastMs, nowMs))
              if (allowed) out += t
            }
            state.update(bucket)
            state.setTimeoutDuration(idleTimeoutMs)
            out.iterator
          }
      }
  }

  /** Streaming exact dedup — ingest-time duplicate suppression, the
    * streaming form of [[graft.textops.TextOps.dedupExact]]: rows whose
    * normalized-text fingerprint was already seen are dropped, with state
    * bounded by the event-time watermark (a duplicate arriving later than
    * `lateness` after the original is no longer suppressible — the same
    * bounded-state trade as every watermarked operator here). The
    * fingerprint is the dedup key; the shuffle carries 32-hex-char keys,
    * never the text twice. */
  def dedupStream(input: DataFrame, lateness: String = "10 minutes"): DataFrame =
    input.withWatermark("ts", lateness)
      .withColumn("fp", graft.textops.TextOps.fingerprint(col("text")))
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming CURATION slice — the ingest-time analogue of
    * [[graft.dedup.Dedup.curate]]'s first two stages, composed as one
    * standing pipeline (the reference's whole posture is standing
    * pipelines; batch `curate` is this path's replay/backfill twin):
    *
    *   1. Gopher quality gate — stateless narrow filter, applied BEFORE any
    *      state so rejected rows never enter the dedup store;
    *   2. exact dedup on the normalized-content fingerprint
    *      ([[dedupStream]]) — watermark-bounded state, 32-hex shuffle keys;
    *   3. snapshot-table commits with the batch-id + content-fingerprint
    *      txn key of [[startSnapshotSinks]], the fingerprint observed on
    *      the staged write (one job per micro-batch, no persist) — a
    *      replayed micro-batch (checkpoint recovery OR total checkpoint
    *      loss over the same input) reconciles to a no-op: exactly-once
    *      into the curated table.
    *
    * The near-dup/CC stage stays batch-only BY DESIGN: connected components
    * is iterative global convergence, which has no bounded-state streaming
    * form — run it as a periodic compaction over the curated table. */
  def startCuratedIngest(input: DataFrame, root: String, checkpoint: String,
                         lateness: String = "10 minutes",
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val gated = input.filter(col("text").isNotNull &&
      graft.textops.TextOps.gopherReason(col("text")).isNull)
    dedupStream(gated, lateness).writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val table = new SnapshotTable(s"$root/curated", batch.sparkSession)
        val rows = batch.drop("fp")
        // the fingerprint is observed on the staged write itself: ONE job
        // per micro-batch, no persist
        val sig = Observation()
        val staging = table.stagingDir("curated")
        try {
          rows.observe(sig, expr("bit_xor(xxhash64(conv_id, turn_idx, text))").as("sig"))
            .sortWithinPartitions("conv_id", "turn_idx")
            .write.options(LocalFs.writeOptions).mode("overwrite").parquet(staging)
          table.commit(Registry.batchTxn(batchId, sig), None,
            Seq(SnapshotTable.Slice("", table.moveIn(staging), Some(rows.schema))))
        } finally {
          val dir = new org.apache.hadoop.fs.Path(staging)
          dir.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration).delete(dir, true)
        }
        ()
      }
      .start()
  }

  /** convenience: tail a directory of parquet transcript files as a stream
    * (the harvester/prospector analogue — the table format does the file
    * discovery and offset bookkeeping that prospector.go hand-rolls). `ts`
    * is declared `timestamp`, not the files' own `timestamp_ntz`: the
    * watermarks of `dedupStream` and `startCuratedIngest` need TIMESTAMP
    * (`EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE` otherwise). */
  def fromDirectory(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
      .parquet(dir)
}
