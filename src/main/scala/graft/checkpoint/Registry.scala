package graft.checkpoint

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.functions.deterministic_id
import graft.io.LocalFs

/** Checkpoint registry — the Spark-native rebuild of Filebeat's registrar
  * (filebeat/registrar/registrar.go:139-214) and the filestream cursor store
  * (filebeat/input/filestream/internal/input-logfile/store.go:37-300), now
  * layered on the real snapshot table format ([[SnapshotTable]]):
  *
  * {{{
  *   <root>/sinks/<sink>/     one snapshot table per sink (append-only),
  *                            rows in [[Registry.stored]] layout: no
  *                            `doc_id` (a pure function of conv_id and
  *                            turn_idx — [[readSink]] derives it)
  *   <root>/registry/         offsets table (append-only) — per-conversation
  *                            high-water marks, one snapshot per group under
  *                            the group's txn key `group-<g>`
  *   <root>/commits/          the pipeline commit log — NO data files: one
  *                            metadata-only snapshot per ack (txn key
  *                            `group-<g>` for a batch run's group,
  *                            `batch-<id>-<fingerprint>` for a streaming
  *                            micro-batch; run = the winner) whose summary
  *                            is the lineage JSON: counts, per-sink write
  *                            stats and the PER-SINK SNAPSHOT IDS produced
  * }}}
  *
  * Per run, the protocol is:
  *   1. stage every pending group's fan-out in ONE write under
  *      [[stagingRunDir]] (`group=<g>/sink=<s>` — each group's slice is
  *      [[stagingGroupDir]]), and every pending group's offsets in ONE
  *      more ([[stageOffsets]]);
  * then per group:
  *   2. append the group's offsets slice to the registry table with txn
  *      key `group-<g>` ([[commitOffsets]]). A conversation lives in
  *      exactly one group and a root's group count is fixed, so the slice
  *      never shares a key with committed rows: a plain append, never a
  *      MERGE;
  *   3. append the group's rows to each sink table with the same txn key
  *      `group-<g>` — idempotent: a retry or a racing runner gets
  *      `alreadyCommitted` with the original snapshot id, never a duplicate;
  *   4. commit the group's lineage to the commit log as a METADATA-ONLY
  *      snapshot (same txn key, lineage as the snapshot summary) — THE ack
  *      point (reference registrar persists offsets only after the output
  *      ACKs, filebeat/beater/acker.go:37-68), and, like the registrar's,
  *      a small state write: no data file, no Spark job. Exactly one
  *      runner's commit wins; the loser reports defeat and cleans its
  *      staging.
  *
  * Every table is append-only and every write is a staged append under a
  * txn key, so a retry or a racing runner of any step gets
  * `alreadyCommitted`.
  *
  * A streaming micro-batch runs steps 1, 3 and 4 (it keeps no offsets
  * table: the stream's checkpoint is its cursor) under its batch txn key.
  *
  * Crash between 3 and 4 (a PARTIAL sink commit) reconciles on resume: the
  * group is absent from the commit log so it re-runs, and each sink table's
  * txn key turns the re-append into a no-op returning the crashed run's
  * snapshot id — effectively-once without ever scanning data.
  *
  * Reads are snapshot-isolated per table, and [[readSink]] and [[registry]]
  * additionally resolve through the commit log (only snapshots whose txn
  * key is acked in the log are visible), so a partially-committed group is
  * invisible to consumers until its ack lands — the cross-table
  * read-committed view.
  *
  * Run bookkeeping is answered from the commit log's metadata alone:
  * [[lineage]] returns every ack's lineage in one metadata read,
  * which is what the pipeline's metrics sum (O(groups), not O(data)).
  *
  * On a `file:` root, the registry's staging cleanup, its tables and the
  * Spark writes that stage into the root ([[stageOffsets]] and the
  * pipeline's fan-out, with [[graft.io.LocalFs.writeOptions]]) all go
  * through [[graft.io.LocalFs]], so no file or directory under the root
  * costs a forked `chmod`: like the registrar's one file write per flush
  * (registrar.go:160-190), a commit is file I/O only. The filesystem is
  * built over the session's Hadoop conf without copying it, so opening a
  * `Registry` stays cheap ([[graft.pipeline.PipelineRunner.observedMetrics]]
  * opens one per call).
  */
final class Registry(val root: String, spark: SparkSession,
                     val runId: String = Registry.newRunId()) {

  private val fs: FileSystem =
    LocalFs.get(new Path(root), spark.sparkContext.hadoopConfiguration)

  def sinkTable(sink: String): SnapshotTable =
    new SnapshotTable(s"$root/sinks/$sink", spark, runId)
  val offsetsTable: SnapshotTable = new SnapshotTable(s"$root/registry", spark, runId)
  val commitLog: SnapshotTable = new SnapshotTable(s"$root/commits", spark, runId)

  def isCommitted(group: Int): Boolean =
    commitLog.state().txnKeys.contains(Registry.groupTxn(group))

  def committedGroups(): Seq[Int] =
    commitLog.state().txnKeys.keys
      .filter(_.startsWith("group-")).map(_.stripPrefix("group-").toInt)
      .toSeq.sorted

  /** The runId that won a group's commit-log append (the fence winner). */
  def markerRun(group: Int): Option[String] =
    commitLog.snapshotForTxn(Registry.groupTxn(group)).map(_.run)

  /** this runner's private staging dir: the run's single fan-out write
    * lands here, partitioned by group and sink. */
  def stagingRunDir: String = s"$root/_staging/run=$runId"

  /** one group's slice of the run's staged fan-out. */
  def stagingGroupDir(group: Int): String = s"$stagingRunDir/group=$group"

  /** step 3: commit one sink's staged slice of the group into its table
    * (`schema`: the staged files' schema, recorded so reads skip
    * inference). */
  def commitSinkStaged(sink: String, group: Int, stagedDir: String,
                       schema: Option[StructType] = None): SnapshotTable.CommitResult =
    commitSinkStaged(sink, Registry.groupTxn(group), stagedDir, schema)

  /** step 3 under any txn key (a micro-batch's: `batch-<id>-<hex>`). */
  def commitSinkStaged(sink: String, txn: String, stagedDir: String,
                       schema: Option[StructType]): SnapshotTable.CommitResult =
    sinkTable(sink).commitStagedDir(stagedDir, Some(txn), schema)

  /** step 1 (offsets): write the offsets rows of every pending group in
    * ONE job under [[stagingRunDir]]`/offsets`, sliced by a copy of their
    * `group` column (the rows keep `group`, a registry column). */
  def stageOffsets(offsets: DataFrame): Unit =
    offsets.withColumn("slice", col("group")).write.options(LocalFs.writeOptions).mode("overwrite")
      .partitionBy("slice").parquet(s"$stagingRunDir/offsets")

  /** step 2: commit one group's staged offsets slice into the registry
    * table under the group's txn key (`schema`: the staged rows' schema).
    * A resume or a racing runner gets `alreadyCommitted`. */
  def commitOffsets(group: Int, schema: StructType): SnapshotTable.CommitResult =
    offsetsTable.commitStagedDir(s"$stagingRunDir/offsets/slice=$group",
      Some(Registry.groupTxn(group)), Some(schema))

  /** one group's offsets appended under its txn key — a retry of the same
    * group is `alreadyCommitted`. The registry is append-only; the name
    * stays from when this was a MERGE because callers outside this
    * library (the production-path benchmark's per-group replay) call it. */
  def mergeOffsets(group: Int, offsets: DataFrame): SnapshotTable.CommitResult =
    offsetsTable.append(offsets, Some(Registry.groupTxn(group)))

  /** refuse a root whose offsets were written by copy-on-write MERGE (before
    * the registry was append-only): its merged rows carry no txn key, so a
    * resume would append group slices on top of them. */
  def requireAppendOnlyOffsets(): Unit =
    offsetsTable.state().snapshots.find(_.operation == "merge").foreach { s =>
      throw new IllegalStateException(
        s"checkpoint root $root predates append-only offsets: registry snapshot " +
          s"${s.id} is a copy-on-write merge; re-run the pipeline into a fresh root")
    }

  /** step 4 — the ACK: a metadata-only commit-log snapshot under the
    * group's txn key whose summary is `lineageJson` (counts + per-sink
    * write stats + snapshot ids, under this runner's fence). Writes no data
    * file and runs no Spark job. Returns true when THIS run owns the group
    * afterwards; false when a concurrent runner's commit won — the caller
    * lost and must not count the group. */
  def commitGroup(group: Int, lineageJson: String): Boolean =
    ack(Registry.groupTxn(group), lineageJson)

  /** step 4 under any txn key. */
  def ack(txn: String, lineageJson: String): Boolean = {
    val res = commitLog.commitSummary(txn, lineageJson)
    !res.alreadyCommitted || commitLog.snapshotForTxn(txn).exists(_.run == runId)
  }

  /** every ack's lineage JSON (the summary of its commit-log snapshot),
    * keyed by its txn key, from ONE metadata read. Empty on a fresh root. A
    * root whose acks were written before lineage summaries existed (one
    * parquet row per ack) is refused with a named error rather than read a
    * second way. */
  def lineage(): Map[String, String] =
    commitLog.state().snapshots.flatMap { s =>
      s.txn.map { t =>
        t -> s.summary.getOrElse(
          throw new IllegalStateException(
            s"checkpoint root $root predates lineage summaries: the commit-log " +
              s"snapshot ${s.id} acking $t carries no lineage summary; " +
              "re-run the pipeline into a fresh root"))
      }
    }.toMap

  /** drop this runner's staged files for a group (post-commit or defeat). */
  def cleanupStaging(group: Int): Unit = {
    fs.delete(new Path(stagingGroupDir(group)), true)
    dropEmptyScopes()
  }

  /** drop ALL of this runner's staging — the end of a run, finished or not
    * (the fan-out write's `_SUCCESS` marker keeps the run dir non-empty
    * after every group is cleaned, and a failed run leaves unacked groups). */
  def cleanupRunStaging(): Unit = {
    fs.delete(new Path(stagingRunDir), true)
    dropEmptyScopes()
  }

  /** drop the now-empty scope dirs so a finished runner leaves no residue.
    * The empty-check + non-recursive delete races a CONCURRENT runner
    * creating its own staging underneath (check-then-act); losing that race
    * just means the shared dir survives — never fail the finishing runner. */
  private def dropEmptyScopes(): Unit =
    Seq(new Path(stagingRunDir), new Path(s"$root/_staging")).foreach { d =>
      try if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
      catch { case _: java.io.IOException => () }
    }

  /** `table`'s snapshots whose txn key is acked in the commit log — the
    * one read-committed view of every table under the root */
  private def readCommitted(table: SnapshotTable): Option[DataFrame] = {
    val acked = commitLog.state().txnKeys.keySet
    table.readCommittedTxns(acked.contains)
  }

  /** All committed registry rows (the queryable "registrar state"): the
    * offsets snapshots of acked groups — offsets commit in step 2, the ack
    * lands in step 4, and a crash in between must not surface a group's
    * offsets before its sinks are acked (the registrar invariant: offsets
    * persist only after the output ACKs, filebeat/beater/acker.go:37-68). */
  def registry(): DataFrame = {
    requireAppendOnlyOffsets()
    readCommitted(offsetsTable).getOrElse(
      throw new IllegalArgumentException("no committed groups"))
  }

  /** Read-committed view of one sink table: snapshot-isolated AND resolved
    * through the commit log, so only acked groups are visible. `doc_id` is
    * derived here, not read (the table stores no copy of it); on files of
    * older roots that still hold one, the derived value replaces the
    * stored, equal, value. A query that never selects it computes no hash. */
  def readSink(sink: String): Option[DataFrame] =
    readCommitted(sinkTable(sink))
      .map(_.withColumn("doc_id", deterministic_id(col("conv_id"), col("turn_idx")))
        .withColumn("sink", lit(sink)))
}

object Registry {
  /** a batch run group's txn key (its offsets and sink snapshots, and its
    * ack). */
  def groupTxn(group: Int): String = s"group-$group"

  /** The layout every writer of a sink table stores: routed rows without
    * `doc_id`, which is 64 incompressible hex characters per row and a
    * pure function of two stored columns ([[Registry.readSink]] derives it
    * on read — as Beats keeps `_id` in `@metadata`, outside the stored
    * document, libbeat/beat/event.go:55-60). */
  def stored(routed: DataFrame): DataFrame = routed.drop("doc_id")

  /** process-unique fence id. The leading letter is LOAD-BEARING: the id
    * becomes a directory-name component, and a non-numeric first character
    * keeps every downstream parser (and Spark partition inference, should a
    * run id ever appear as a partition value) treating it as a string. */
  def newRunId(): String =
    "r" + java.util.UUID.randomUUID().toString.replace("-", "").take(15)
}
