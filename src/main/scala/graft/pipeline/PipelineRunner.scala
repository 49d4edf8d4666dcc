package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.checkpoint.{Registry, SnapshotTable}
import graft.io.LocalFs
import graft.model.Sinks

/** Checkpointed, resumable execution of the transcript pipeline — the
  * publish plane of the reference (queue → batch → per-sink workers with
  * ACK → registrar) rebuilt on Spark's batch model:
  *
  *  - the input is split into `groups` conv_id-bucket groups (the analogue of
  *    queue batches, libbeat/publisher/queue/memqueue/broker.go:114-184).
  *    `groups` sets only the COMMIT granularity: every run reads the input a
  *    fixed number of times, however many groups it has, and each group then
  *    acks independently. A root's group count is fixed by its first run
  *    (each ack records it): another count would re-bucket conversations
  *    that acked groups already committed
  *  - per run, two input passes: ONE transform pass ([[stage]]) fans out
  *    every pending group to sink_es / sink_ls / dropped in one
  *    `partitionBy(group, sink)` parquet write with observe()-attached
  *    counters, never a global sort; and ONE status-only pass whose
  *    per-conversation offsets are staged per group. Sinks store no
  *    `doc_id`: [[graft.checkpoint.Registry.readSink]] derives it
  *  - per group: its sink and offsets slices move into their tables, then
  *    ONE commit of the root log lists them all under txn key `group-<g>`
  *    with the group's lineage (counts + per-sink write stats) as summary —
  *    the ACK, no Spark job ([[graft.checkpoint.Registry]] has the protocol)
  *  - a kill loses no acked group, and a kill inside a group's commit leaves
  *    only files no snapshot lists. Resume = rerun the same command; acked
  *    groups are skipped and only the pending buckets are read (filebeat
  *    registrar semantics: offsets visible only after ACK,
  *    filebeat/beater/acker.go:37-68) → exactly-once end-to-end
  *  - CONCURRENT runners on one root are safe: staged files carry run-unique
  *    names and the root log's CAS commit with txn-key idempotence decides
  *    each group's winner; the loser deletes its moved files
  *    (PipelineRunnerSpec races two runners)
  *
  * `groups` trades failure-domain granularity against per-group commit
  * overhead (reference flush-coalescing, registrar.go:160-190). A streaming
  * micro-batch ([[graft.streaming.StreamingPipeline.startSnapshotSinks]]) is
  * [[stage]] → [[commit]] under its batch txn key, into the same tables:
  * one commit per group or micro-batch.
  */
object PipelineRunner {

  final case class GroupResult(group: Int, counts: Map[String, Long],
                               writeBytes: Map[String, Long] = Map.empty)

  /** deterministic conv bucket in [0, groups) — NOT Spark's hash() so the
    * assignment is engine-independent and replay-stable. A null conv_id
    * buckets like the empty string: crc32(null) would null the bucket,
    * match NO group filter, and silently drop the row from every sink AND
    * every counter — the one failure mode an effectively-once pipeline
    * must not have. */
  private def bucketCol(groups: Int) =
    pmod(abs(crc32(coalesce(col("conv_id"), lit("")))), lit(groups.toLong)).cast("int")

  /** [[stage]]'s result: observed per-group, per-sink row counts (`filtered`
    * included, zeros left out) and the staged files' schema. */
  final case class Staged(counts: Map[Int, Map[String, Long]], schema: StructType)

  /** The fan-out: ONE job writes `routed` (transform output plus a `group`
    * column) as [[graft.checkpoint.Registry.stored]] rows into this run's
    * `reg.stagingRunDir`, partitioned by group and sink (outil selector
    * fan-out, libbeat/outputs/outil/select.go:90-93). The counts of each
    * (group in `groups`, sink) are observe() accumulators of the same job,
    * and nothing is persisted (at 100 TB a persist is a full extra copy).
    * `filtered` rows are counted, never written (monitoring.go:139). The
    * sort leads with (group, sink), the dynamic-partition writer's required
    * order, so no sort is added and files keep (conv_id, turn_idx) order. */
  def stage(routed: DataFrame, reg: Registry, groups: Seq[Int]): Staged = {
    val obs = org.apache.spark.sql.Observation()
    val sinkNames = Sinks.All :+ TranscriptPipeline.Filtered
    def counter(g: Int, s: String) = s"$g/$s"
    val countCols = for (g <- groups; s <- sinkNames) yield
      sum(when(col("group") === g && col("sink") === s, 1L).otherwise(0L))
        .as(counter(g, s))
    val fanout = Registry.stored(routed
        .observe(obs, countCols.head, countCols.tail: _*)
        .filter(col("sink") =!= TranscriptPipeline.Filtered))
      .sortWithinPartitions("group", "sink", "conv_id", "turn_idx")
    fanout.write.options(LocalFs.writeOptions).mode("overwrite").partitionBy("group", "sink")
      .parquet(reg.stagingRunDir)
    val observed = obs.get
    Staged(
      groups.map { g =>
        g -> sinkNames.map(s => s -> observed(counter(g, s)).asInstanceOf[Long])
          .filter(_._2 > 0).toMap
      }.toMap,
      // the staged files hold every column but the partition columns
      StructType(fanout.schema.filterNot(f => f.name == "group" || f.name == "sink")))
  }

  /** Commit one staged group under `txn`: move each sink's slice (and,
    * given the offsets' schema, the group's [[graft.checkpoint.Registry.stagedOffsets]]
    * slice) into its table, then ack them all in ONE commit with the
    * lineage, then drop the group's staging. None when a concurrent
    * runner's ack won. `groups`: a batch run's group count, recorded in the
    * lineage. */
  def commit(reg: Registry, txn: String, group: Int, staged: Staged,
             groups: Option[Int] = None, offsets: Option[StructType] = None): Option[GroupResult] = {
    val counts = staged.counts(group)
    val staging = reg.stagingGroupDir(group)
    val writes = Sinks.All.filter(s => counts.getOrElse(s, 0L) > 0).map { s =>
      val r = reg.moveIn(txn, Registry.sinkTable(s), s"$staging/sink=$s", Some(staged.schema))
      s -> ((r.addedBytes, r.addedFiles))
    }.toMap
    offsets.foreach(schema =>
      reg.moveIn(txn, Registry.OffsetsTable, reg.stagedOffsets(group), Some(schema)))

    // lineage, the ack's snapshot summary: counts + per-write output stats
    // of the sink files (bytes/files per sink — the reference's
    // per-output-worker metrics, libbeat/outputs/metrics.go, read straight
    // off the snapshot metadata; the offsets slice is not output)
    val lineage = counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val bytesJson = writes
      .map { case (k, (b, f)) => s""""$k":{"bytes":$b,"files":$f}""" }
      .mkString("{", ",", "}")
    val groupsJson = groups.fold("")(n => s""","groups":$n""")
    val won = reg.ack(txn, s"""{"group":$group$groupsJson,"counts":$lineage,"writes":$bytesJson}""")
    reg.cleanupStaging(group) // what is left of the staging is garbage
    if (won) Some(GroupResult(group, counts, writes.map { case (k, (b, _)) => k -> b }))
    else None
  }

  /** Run (or resume) the pipeline over `input`, writing under `root`.
    * Returns per-group sink counts for groups executed in THIS invocation. */
  def run(input: DataFrame, root: String, groups: Int = 4,
          failAfterGroup: Int = Int.MaxValue): Seq[GroupResult] = {
    val spark = input.sparkSession
    val reg = new Registry(root, spark)
    val log = reg.log()
    requireGroups(reg.root, log, groups)
    val pending = (0 until groups).filterNot(g => log.txnKeys.contains(Registry.groupTxn(g)))
    if (pending.isEmpty) return Seq.empty
    val pendingInput =
      if (pending.size == groups) input
      else input.filter(bucketCol(groups).isin(pending: _*))

    try {
      // pass 1 — ONE fan-out job over every pending group. The group column
      // is added AFTER transform (parse projects away extra columns).
      val staged = stage(
        TranscriptPipeline.transform(pendingInput).withColumn("group", bucketCol(groups)),
        reg, pending)

      // pass 2 — offsets rows (file.State analogue) for every pending group
      // via the status-only routing fast path — identical sink decision to
      // the full transform (pinned by PipelineSpec) without the 13-field
      // extraction — staged in ONE write; each group's slice rides that
      // group's commit.
      val offsets = TranscriptPipeline.sinkFast(pendingInput)
        .groupBy(col("conv_id").as("partition_key"), bucketCol(groups).as("group"))
        .agg(max("turn_idx").as("max_turn_idx"),
          count(lit(1)).as("row_count"),
          sum(when(col("sink") === TranscriptPipeline.Filtered, 1L).otherwise(0L)).as("filtered"),
          sum(when(col("sink") === Sinks.Dropped, 1L).otherwise(0L)).as("dropped"))
        .select("partition_key", "max_turn_idx", "row_count", "filtered",
          "dropped", "group")
        .withColumn("committed_at", current_timestamp())
      reg.stageOffsets(offsets)

      pending.zipWithIndex.flatMap { case (g, i) =>
        val result = commit(reg, Registry.groupTxn(g), g, staged, Some(groups), Some(offsets.schema))
        if (i >= failAfterGroup) // test hook: simulate a crash between group commits
          throw new RuntimeException(s"injected failure after group $g")
        result
      }
    } finally reg.cleanupRunStaging()
  }

  /** refuse a run whose `groups` differs from the count an acked batch
    * group recorded: conversations would move between buckets, and the
    * acked groups' conversations be ingested again. Acks that record no
    * count (written before counts were recorded) are not checked. */
  private def requireGroups(root: String, log: SnapshotTable.TableState, groups: Int): Unit =
    for (s <- log.snapshots if s.txn.exists(_.startsWith("group-"));
         json <- s.summary; n <- Option(Mapper.readTree(json).get("groups"))
         if n.asInt != groups)
      throw new IllegalArgumentException(
        s"checkpoint root $root was run with groups = ${n.asInt}, this run asks " +
          s"for groups = $groups: a root's group count is fixed by its first run")

  private val Mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Pipeline-level metric counters over all committed groups, mirroring the
    * reference observer names (libbeat/publisher/pipeline/monitoring.go:94-104).
    *
    * Read from the commit log's metadata alone — O(groups), not O(data):
    * each acked group's lineage holds the exact per-sink counts its fan-out
    * job observed and the bytes its sink files hold, so the metrics
    * are their sums (total = every routed row, filtered included). Runs no
    * Spark job. A fresh root (or one read before the first ack) reports
    * zeros; a root of the per-table layout is refused by
    * [[graft.checkpoint.Registry.log]]. */
  def observedMetrics(root: String, spark: SparkSession): Map[String, Long] = {
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var writeBytes = 0L
    new Registry(root, spark).lineage().values.foreach { json =>
      val doc = Mapper.readTree(json)
      doc.get("counts").properties().forEach(e => counts(e.getKey) += e.getValue.asLong())
      doc.get("writes").properties().forEach(e => writeBytes += e.getValue.get("bytes").asLong())
    }
    Map(
      "events.total" -> counts.values.sum,
      "events.published" -> (counts(Sinks.Es) + counts(Sinks.Ls)),
      "events.filtered" -> counts(TranscriptPipeline.Filtered),
      "events.dropped" -> counts(Sinks.Dropped),
      "output.write_bytes" -> writeBytes
    )
  }
}
