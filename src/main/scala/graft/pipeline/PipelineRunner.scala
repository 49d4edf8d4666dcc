package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.checkpoint.Registry
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
  *  - per group: its offsets slice commits as a SNAPSHOT of the registry
  *    table and each sink's staged slice as a SNAPSHOT of that sink's
  *    table, all under txn key `group-<g>`; then the group's lineage
  *    (counts + per-sink write stats + snapshot ids) commits to the commit
  *    log as the summary of a metadata-only snapshot — the ACK, which
  *    writes no data file and runs no Spark job (see
  *    [[graft.checkpoint.Registry]] for the protocol and
  *    [[graft.checkpoint.SnapshotTable]] for the table format)
  *  - a kill during the fan-out or the offsets pass loses that run's
  *    unacked work; a kill between group acks loses nothing acked. Resume =
  *    rerun the same command; acked groups are skipped and only the pending
  *    buckets are read (filebeat registrar semantics: offsets visible only
  *    after ACK, filebeat/beater/acker.go:37-68); a crash between a sink's
  *    snapshot commit and the group ack reconciles through the per-table txn
  *    keys — the re-append is a no-op returning the crashed run's snapshot
  *    id → effectively-once end-to-end, even across PARTIAL sink commits
  *  - CONCURRENT runners on the same root are safe: staged files carry
  *    run-unique names and every commit is an optimistic CAS with txn-key
  *    idempotence; the commit-log append decides the winner per group and
  *    the loser cleans its staging (PipelineRunnerSpec races two runners)
  *
  * Batches are cut from one harvest, not re-read per batch; `groups`
  * trades failure-domain granularity against per-group commit overhead
  * (reference flush-coalescing, registrar.go:160-190).
  *
  * [[run]] is [[stage]] → offsets staging → (offsets commit, [[commit]])
  * per pending group under txn key `group-<g>`; a streaming micro-batch
  * ([[graft.streaming.StreamingPipeline.startSnapshotSinks]]) is stage →
  * commit under its batch txn key, so both write the same tables and acks.
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
    fanout.write.mode("overwrite").partitionBy("group", "sink")
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

  /** Commit one staged group under `txn`: each sink's slice as a SNAPSHOT of
    * its table, then the lineage as the ACK, then drop the group's staging.
    * A crashed commit's sink snapshots reconcile to no-ops when `txn`
    * commits again. None when a concurrent runner's ack won. `groups`: a
    * batch run's group count, recorded in the lineage. */
  def commit(reg: Registry, txn: String, group: Int, staged: Staged,
             groups: Option[Int] = None): Option[GroupResult] = {
    val counts = staged.counts(group)
    val staging = reg.stagingGroupDir(group)
    val sinkSnaps = Sinks.All.flatMap { s =>
      if (counts.getOrElse(s, 0L) > 0)
        Some(s -> reg.commitSinkStaged(s, txn, s"$staging/sink=$s", Some(staged.schema)))
      else None
    }.toMap

    // lineage, the ack's snapshot summary: counts + per-write output
    // stats (bytes/files per sink — the reference's per-output-worker
    // metrics, libbeat/outputs/metrics.go, read straight off the
    // snapshot metadata) + the PER-SINK SNAPSHOT IDS this group
    // produced, so any historical pipeline state can be
    // reconstructed table-version by table-version
    val writeStats = sinkSnaps.map { case (s, r) => s -> ((r.addedBytes, r.addedFiles.toLong)) }
    val lineage = counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val bytesJson = writeStats
      .map { case (k, (b, f)) => s""""$k":{"bytes":$b,"files":$f}""" }
      .mkString("{", ",", "}")
    val snapsJson = sinkSnaps
      .map { case (s, r) => s""""$s":"${r.snapshotId}"""" }
      .mkString("{", ",", "}")
    val groupsJson = groups.fold("")(n => s""","groups":$n""")
    val won = reg.ack(txn, s"""{"group":$group$groupsJson,"counts":$lineage,""" +
      s""""writes":$bytesJson,"snapshots":$snapsJson}""")
    // staged files were either moved into tables or discarded by the
    // txn-key check; the scratch directory is garbage either way
    reg.cleanupStaging(group)
    if (won) Some(GroupResult(group, counts, writeStats.map { case (k, (b, _)) => k -> b }))
    else None
  }

  /** Run (or resume) the pipeline over `input`, writing under `root`.
    * Returns per-group sink counts for groups executed in THIS invocation. */
  def run(input: DataFrame, root: String, groups: Int = 4,
          failAfterGroup: Int = Int.MaxValue): Seq[GroupResult] = {
    val spark = input.sparkSession
    val reg = new Registry(root, spark)
    reg.requireAppendOnlyOffsets()
    requireGroups(reg, groups)
    val pending = (0 until groups).filterNot(reg.isCommitted)
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
      // extraction — staged in ONE write, then committed per group.
      // Invisible until each group's ack: Registry.registry() reads
      // through the commit log.
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
        reg.commitOffsets(g, offsets.schema)
        val result = commit(reg, Registry.groupTxn(g), g, staged, Some(groups))
        if (i >= failAfterGroup) // test hook: simulate a crash between commits
          throw new RuntimeException(s"injected failure after group $g")
        result
      }
    } finally reg.cleanupRunStaging()
  }

  /** refuse a run whose `groups` differs from the count an acked batch
    * group recorded: conversations would move between buckets, and the
    * acked groups' conversations be ingested again. Acks that record no
    * count (written before counts were recorded) are not checked. */
  private def requireGroups(reg: Registry, groups: Int): Unit =
    for (s <- reg.commitLog.state().snapshots if s.txn.exists(_.startsWith("group-"));
         json <- s.summary; n <- Option(Mapper.readTree(json).get("groups"))
         if n.asInt != groups)
      throw new IllegalArgumentException(
        s"checkpoint root ${reg.root} was run with groups = ${n.asInt}, this run asks " +
          s"for groups = $groups: a root's group count is fixed by its first run")

  private val Mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Pipeline-level metric counters over all committed groups, mirroring the
    * reference observer names (libbeat/publisher/pipeline/monitoring.go:94-104).
    *
    * Read from the commit log's metadata alone — O(groups), not O(data):
    * each acked group's lineage holds the exact per-sink counts its fan-out
    * job observed and the bytes its sink snapshots added, so the metrics
    * are their sums (total = every routed row, filtered included). Runs no
    * Spark job. A fresh root (or one read before the first ack) reports
    * zeros; a root whose acks predate lineage summaries is refused by
    * [[graft.checkpoint.Registry.lineage]]. */
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
