package graft.checkpoint

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.functions.deterministic_id
import graft.io.LocalFs

/** Checkpoint registry — the Spark-native rebuild of Filebeat's registrar
  * (filebeat/registrar/registrar.go:139-214) and the filestream cursor store
  * (filebeat/input/filestream/internal/input-logfile/store.go:37-300) on the
  * snapshot table format ([[SnapshotTable]]). A checkpoint root is ONE
  * snapshot log whose tables are the sinks and the offsets:
  *
  * {{{
  *   <root>/metadata/v<N>.json   the root log ([[commitLog]]): one snapshot per
  *                               acked group (txn key `group-<g>`) or streaming
  *                               micro-batch (`batch-<id>-<fingerprint>`)
  *                               listing its files in every table, with its
  *                               lineage JSON (counts, per-sink write stats)
  *                               as the summary
  *   <root>/sinks/<sink>/data/   a table per sink, in [[Registry.stored]]
  *                               layout (no `doc_id`: [[readSink]] derives it)
  *   <root>/registry/data/       the offsets: per-conversation high-water marks
  * }}}
  *
  * Per run, the protocol is:
  *   1. stage every pending group's fan-out in ONE write under
  *      [[stagingRunDir]] (each group's slice is [[stagingGroupDir]]), and
  *      every pending group's offsets in ONE more ([[stageOffsets]]);
  * then per group:
  *   2. move its sink and offsets slices into their tables' data dirs
  *      ([[moveIn]]; [[commitSinkStaged]] and [[mergeOffsets]] are this step
  *      for one sink and for offsets given as a DataFrame). Moved files are
  *      collected under the group's txn key and listed nowhere yet;
  *   3. THE ACK ([[ack]], [[commitGroup]]): ONE CAS commit of the root log
  *      lists every collected file and carries the lineage, so the group
  *      lands in full or not at all (the reference registrar persists
  *      offsets only after the output ACKs, filebeat/beater/acker.go:37-68,
  *      once per flush, registrar.go:160-190). No Spark job runs. One
  *      runner wins a txn key; a loser's moved files are deleted.
  *
  * A streaming micro-batch runs the same steps without offsets (its
  * checkpoint is its cursor) under its batch txn key. A crash before step 3
  * leaves moved files no snapshot lists: invisible, re-run on resume, and
  * reclaimed by [[SnapshotTable.expireSnapshots]] on [[commitLog]] (which
  * sweeps nothing while the log has no version).
  *
  * [[readSink]], [[registry]] and [[lineage]] read the newest version of
  * the root log — one listing and one doc read, no manifest — so the
  * pipeline's metrics are O(groups), not O(data). A root of the per-table
  * layout that came before the one root log (each sink, the offsets and
  * the acks with a `metadata/` log of their own: `sinks/<sink>/metadata/`,
  * `registry/metadata/`, `commits/metadata/`) is refused by name, by every
  * read and before any write moves a file in.
  *
  * On a `file:` root, the staging cleanup, the log and the Spark writes
  * that stage into the root all go through [[graft.io.LocalFs]], so a
  * commit is file I/O only. Opening a `Registry` copies no Hadoop conf
  * ([[graft.pipeline.PipelineRunner.observedMetrics]] opens one per call).
  */
final class Registry(val root: String, spark: SparkSession,
                     val runId: String = Registry.newRunId()) {

  private val fs: FileSystem =
    LocalFs.get(new Path(root), spark.sparkContext.hadoopConfiguration)

  /** the root's one metadata log. It writes no manifests: its snapshot
    * history lists every file already, and a manifest would only add two
    * files (it and its `.crc`) to the listing every read of the log pays. */
  val commitLog: SnapshotTable =
    new SnapshotTable(root, spark, runId, inlineFileLimit = Int.MaxValue)

  /** by txn key, files moved in and not yet acked: the ack's snapshot id, the slices */
  private val moved = scala.collection.mutable.Map.empty[String, (String, Vector[SnapshotTable.Slice])]

  /** set by [[log]]: a root's layout does not change under a live writer,
    * so a write ([[moveIn]], [[ack]]) calls [[log]] first only until set. */
  @volatile private var layoutChecked = false

  /** the root log's newest version as written (one listing, one doc read).
    * An empty log may sit in a root of the per-table layout; that root is
    * refused by name. */
  def log(): SnapshotTable.TableState = {
    val st = commitLog.latest()
    if (st.version == 0)
      Option(fs.globStatus(new Path(root, s"{commits,${Registry.OffsetsTable},sinks/*}/metadata")))
        .flatMap(_.headOption).foreach { f =>
          throw new IllegalStateException(
            s"checkpoint root $root predates the one root log: ${f.getPath} is a per-table " +
              "metadata log; re-run the pipeline into a fresh root")
        }
    layoutChecked = true
    st
  }

  /** whether `group` is acked (the production-path benchmark's replay asks
    * before it runs a group). */
  def isCommitted(group: Int): Boolean = log().txnKeys.contains(Registry.groupTxn(group))

  /** this runner's private staging dir: the run's single fan-out write
    * lands here, partitioned by group and sink. */
  def stagingRunDir: String = s"$root/_staging/run=$runId"

  /** one group's slice of the run's staged fan-out. */
  def stagingGroupDir(group: Int): String = s"$stagingRunDir/group=$group"

  /** one group's slice of the run's staged offsets. */
  def stagedOffsets(group: Int): String = s"$stagingRunDir/offsets/slice=$group"

  /** step 2: move `stagedDir`'s files into `table` (`schema`: theirs,
    * recorded so reads skip inference) and collect them under `txn`, for
    * the [[ack]] of `txn` to publish. The result carries the snapshot id
    * that ack commits as. */
  def moveIn(txn: String, table: String, stagedDir: String,
             schema: Option[StructType]): SnapshotTable.CommitResult = {
    if (!layoutChecked) log()
    val files = commitLog.moveIn(stagedDir, table)
    val (id, slices) = moved.getOrElse(txn, (commitLog.newSnapshotId(), Vector.empty))
    moved(txn) = (id, slices :+ SnapshotTable.Slice(table, files, schema))
    SnapshotTable.CommitResult(id, alreadyCommitted = false, files.map(_.size).sum, files.size)
  }

  /** step 2 for one sink's staged slice of a batch group. */
  def commitSinkStaged(sink: String, group: Int, stagedDir: String,
                       schema: Option[StructType] = None): SnapshotTable.CommitResult =
    moveIn(Registry.groupTxn(group), Registry.sinkTable(sink), stagedDir, schema)

  /** step 1 (offsets): write the offsets rows of every pending group in
    * ONE job under [[stagingRunDir]]`/offsets`, sliced by a copy of their
    * `group` column (the rows keep `group`, a registry column) — each
    * group's slice is [[stagedOffsets]]. */
  def stageOffsets(offsets: DataFrame): Unit =
    offsets.withColumn("slice", col("group")).write.options(LocalFs.writeOptions).mode("overwrite")
      .partitionBy("slice").parquet(s"$stagingRunDir/offsets")

  /** steps 1 and 2 for one group's offsets, given as a DataFrame (the
    * production-path benchmark's per-group replay). The registry is
    * append-only; the name stays from when this was a MERGE. */
  def mergeOffsets(group: Int, offsets: DataFrame): SnapshotTable.CommitResult = {
    offsets.write.options(LocalFs.writeOptions).mode("overwrite").parquet(stagedOffsets(group))
    moveIn(Registry.groupTxn(group), Registry.OffsetsTable, stagedOffsets(group), Some(offsets.schema))
  }

  /** step 3 for a batch group: [[ack]] under `group-<g>`. */
  def commitGroup(group: Int, lineageJson: String): Boolean =
    ack(Registry.groupTxn(group), lineageJson)

  /** step 3 — the ACK: ONE commit of the root log listing every file
    * moved in under `txn` and carrying `lineageJson` (counts + per-sink
    * write stats) as its summary. Returns true when THIS run owns `txn`
    * afterwards; false when a concurrent runner's commit won — its moved
    * files are deleted, and the caller lost and must not count the group. */
  def ack(txn: String, lineageJson: String): Boolean = {
    if (!layoutChecked) log()
    val (id, slices) = moved.remove(txn).getOrElse((commitLog.newSnapshotId(), Vector.empty))
    val res = commitLog.commit(txn, lineageJson, slices, id)
    !res.alreadyCommitted || commitLog.snapshotForTxn(txn).exists(_.run == runId)
  }

  /** every ack's lineage JSON (the summary of its snapshot), keyed by its
    * txn key, from ONE metadata read. Empty on a fresh root. */
  def lineage(): Map[String, String] =
    (for (s <- log().snapshots; t <- s.txn; j <- s.summary) yield t -> j).toMap

  /** drop this runner's staged files for a group (post-commit or defeat). */
  def cleanupStaging(group: Int): Unit = {
    fs.delete(new Path(stagingGroupDir(group)), true)
    fs.delete(new Path(stagedOffsets(group)), true)
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
    Seq(new Path(s"$stagingRunDir/offsets"), new Path(stagingRunDir), new Path(s"$root/_staging")).foreach { d =>
      try if (fs.exists(d) && fs.listStatus(d).isEmpty) fs.delete(d, false)
      catch { case _: java.io.IOException => () }
    }

  /** All committed registry rows (the queryable "registrar state"): the
    * offsets of every acked group, which land in the same commit as the
    * group's sink rows. */
  def registry(): DataFrame =
    commitLog.readTable(Registry.OffsetsTable, log()).getOrElse(
      throw new IllegalArgumentException("no committed groups"))

  /** One sink's rows in the newest version of the root log: every acked
    * group's, no other. `doc_id` is derived here, not read (the table
    * stores no copy of it); on files of older roots that still hold one,
    * the derived value replaces the stored, equal, value. A query that
    * never selects it computes no hash. */
  def readSink(sink: String): Option[DataFrame] =
    commitLog.readTable(Registry.sinkTable(sink), log())
      .map(_.withColumn("doc_id", deterministic_id(col("conv_id"), col("turn_idx")))
        .withColumn("sink", lit(sink)))
}

object Registry {
  /** a batch run group's txn key (its snapshot in the root log). */
  def groupTxn(group: Int): String = s"group-$group"

  /** the offsets table, a dir under the root */
  val OffsetsTable = "registry"

  /** a sink's table, a dir under the root */
  def sinkTable(sink: String): String = s"sinks/$sink"

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
