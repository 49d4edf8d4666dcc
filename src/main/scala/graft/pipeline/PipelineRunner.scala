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
  *  - per run, two input passes that run at the same time: ONE routing
  *    pass ([[stage]]) fans out every pending group to sink_es / sink_ls /
  *    dropped in one `partitionBy(group, sink)` parquet write with
  *    observe()-attached counters, never a global sort; and, on a thread
  *    of its own, ONE offsets pass whose per-conversation offsets are
  *    staged per group. Both route by the status-only fast path
  *    ([[TranscriptPipeline.sinkFast]]). Neither reads the other's output
  *    and they stage into disjoint dirs, so the two cost the longer of
  *    their walls, not the sum. Sinks store the event alone:
  *    [[graft.checkpoint.Registry.readSink]] derives the parse fields, the
  *    enrich columns and `doc_id`
  *  - per group: its sink and offsets slices move into their tables, then
  *    ONE commit of the root log lists them all under txn key `group-<g>`
  *    with the group's lineage (its counts) as summary — the ACK, no Spark
  *    job ([[graft.checkpoint.Registry]] has the protocol)
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

  final case class GroupResult(group: Int, counts: Map[String, Long])

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

  /** The fan-out: ONE job writes `routed` (events with a `sink` and a
    * `group` column) as [[graft.checkpoint.Registry.stored]] rows into this run's
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
    * lineage. None when a concurrent runner's ack won. The staging left
    * behind is dropped by the caller's `cleanupRunStaging`, once per run or
    * micro-batch. `groups`: a batch run's group count, recorded in the
    * lineage. */
  def commit(reg: Registry, txn: String, group: Int, staged: Staged,
             groups: Option[Int] = None, offsets: Option[StructType] = None): Option[GroupResult] = {
    val counts = staged.counts(group)
    val staging = reg.stagingGroupDir(group)
    for (s <- Sinks.All if counts.getOrElse(s, 0L) > 0)
      reg.moveIn(txn, Registry.sinkTable(s), s"$staging/sink=$s", Some(staged.schema))
    offsets.foreach(schema =>
      reg.moveIn(txn, Registry.OffsetsTable, reg.stagedOffsets(group), Some(schema)))

    // lineage, the ack's snapshot summary: the counts, and a batch run's
    // group count. The write stats (the reference's per-output-worker
    // metrics, libbeat/outputs/metrics.go) are not repeated here: the
    // snapshot's sink file entries carry their sizes.
    val lineage = counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val groupsJson = groups.fold("")(n => s""""groups":$n,""")
    if (reg.ack(txn, s"""{$groupsJson"counts":$lineage}""")) Some(GroupResult(group, counts))
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
      // the offsets pass — rows (file.State analogue) for every pending group
      // via the status-only routing fast path — identical sink decision to
      // the full transform (pinned by PipelineSpec) without the 13-field
      // extraction — staged in ONE write; each group's slice rides that
      // group's commit. The stamp is a udf's constant, not
      // current_timestamp(): that folds to a literal which codegen inlines,
      // so every run's plan would miss the codegen cache and compile anew.
      val now = java.time.Instant.now()
      val offsets = TranscriptPipeline.sinkFast(pendingInput)
        .groupBy(col("conv_id").as("partition_key"), bucketCol(groups).as("group"))
        .agg(max("turn_idx").as("max_turn_idx"),
          count(lit(1)).as("row_count"),
          sum(when(col("sink") === TranscriptPipeline.Filtered, 1L).otherwise(0L)).as("filtered"),
          sum(when(col("sink") === Sinks.Dropped, 1L).otherwise(0L)).as("dropped"))
        .select("partition_key", "max_turn_idx", "row_count", "filtered",
          "dropped", "group")
        .withColumn("committed_at", udf(() => now).asNondeterministic()())

      // the fan-out pass — ONE job over every pending group, run beside the
      // offsets pass: neither reads the other's output. It needs only the
      // route, so it plans neither the parse's field extraction nor the
      // enrich lookups; `stage` stores the event columns alone, which
      // projects away any other input column.
      val staged = alongside(reg.stageOffsets(offsets)) {
        stage(TranscriptPipeline.sinkFast(pendingInput).withColumn("group", bucketCol(groups)),
          reg, pending)
      }

      pending.zipWithIndex.flatMap { case (g, i) =>
        val result = commit(reg, Registry.groupTxn(g), g, staged, Some(groups), Some(offsets.schema))
        if (i >= failAfterGroup) // test hook: simulate a crash between group commits
          throw new RuntimeException(s"injected failure after group $g")
        result
      }
    } finally reg.cleanupRunStaging()
  }

  /** Runs `side` on a thread of its own while `main` runs on the caller's,
    * and returns `main`'s result once both have ended. A fresh thread
    * inherits the caller's Spark local properties (job group, scheduler
    * pool), so a cancel of the caller's job group reaches both; a shared
    * pool's thread would not. If either throws, the first error is
    * rethrown once both have ended, with the other's suppressed in it. */
  private def alongside[A](side: => Unit)(main: => A): A = {
    val first = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def failed(e: Throwable): Unit = if (!first.compareAndSet(null, e)) first.get.addSuppressed(e)
    val thread = new Thread(() => try side catch { case e: Throwable => failed(e) },
      "graft-offsets-pass")
    thread.start()
    val result = try Some(main) catch { case e: Throwable => failed(e); None }
    thread.join()
    Option(first.get).foreach(e => throw e)
    result.get
  }

  /** refuse a run whose `groups` differs from the count an acked batch
    * group recorded: conversations would move between buckets, and the
    * acked groups' conversations be ingested again. Acks that record no
    * count (written before counts were recorded) are not checked. */
  private def requireGroups(root: String, log: SnapshotTable.TableState, groups: Int): Unit =
    for (s <- log.snapshots if s.txn.exists(Registry.isGroupTxn);
         json <- s.summary; n <- Option(Mapper.readTree(json).get("groups"))
         if n.asInt != groups)
      throw new IllegalArgumentException(
        s"checkpoint root $root was run with groups = ${n.asInt}, this run asks " +
          s"for groups = $groups: a root's group count is fixed by its first run")

  private val Mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Pipeline-level metric counters over all committed groups, mirroring the
    * reference observer names (libbeat/publisher/pipeline/monitoring.go:94-104).
    *
    * Read from ONE read of the root log's metadata — O(groups), not O(data):
    * each ack's lineage holds the exact per-sink counts its fan-out job
    * observed, and the files the log lists under `sinks/` hold the bytes
    * written, so the metrics are their sums (total = every routed row,
    * filtered included). Runs no Spark job. A fresh root (or one read
    * before the first ack) reports zeros; a root of the per-table layout is
    * refused by [[graft.checkpoint.Registry.log]]. */
  def observedMetrics(root: String, spark: SparkSession): Map[String, Long] = {
    val log = new Registry(root, spark).log()
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (s <- log.snapshots; json <- s.summary)
      Mapper.readTree(json).get("counts").properties().forEach(e => counts(e.getKey) += e.getValue.asLong())
    Map(
      "events.total" -> counts.values.sum,
      "events.published" -> (counts(Sinks.Es) + counts(Sinks.Ls)),
      "events.filtered" -> counts(TranscriptPipeline.Filtered),
      "events.dropped" -> counts(Sinks.Dropped),
      "output.write_bytes" -> log.files.filter(_.path.startsWith(s"${Registry.SinksDir}/")).map(_.size).sum
    )
  }
}
