package graft.checkpoint

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.io.LocalFs
import graft.pipeline.TranscriptPipeline

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
  *                               lineage JSON as the summary: the per-sink
  *                               counts, and a batch run's group count
  *                               (`{"groups":N,"counts":{…}}`); write stats
  *                               are the sizes of the files it lists
  *   <root>/sinks/<sink>/data/   a table per sink, in [[Registry.stored]]
  *                               layout: the event columns alone, from which
  *                               [[readSink]] derives the rest
  *   <root>/registry/data/       the offsets: per-conversation high-water marks
  *   <root>/_tmp-run-<id>/       a live run's staged fan-out (`group=<g>/sink=<s>`)
  *   <root>/_tmp-offsets-<id>/   and its staged offsets (`slice=<g>`), written
  *                               at the same time into a disjoint dir
  * }}}
  *
  * Per run, the protocol is:
  *   1. stage every pending group's fan-out in ONE write under
  *      [[stagingRunDir]] (each group's slice is [[stagingGroupDir]]) and,
  *      at the same time, every pending group's offsets in ONE more under
  *      the sibling [[stagingOffsetsDir]] ([[stageOffsets]]; each group's
  *      slice is [[stagedOffsets]]);
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
  * deletes no data file while the log has no version). A run killed
  * before its own cleanup leaves its staging dirs, whose `_tmp-` names the
  * same expiry sweeps once aged, first run or not. [[graft.Main]] runs
  * that expiry after each run, so a root it drives is reclaimed.
  *
  * [[readSink]], [[registry]] and [[log]] read the newest version of
  * the root log — one listing and one doc read — so the
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

  /** the root's one metadata log */
  val commitLog: SnapshotTable = new SnapshotTable(root, spark, runId)

  /** by txn key, files moved in and not yet acked: the ack's snapshot id, the slices */
  private val moved = scala.collection.mutable.Map.empty[String, (String, Vector[SnapshotTable.Slice])]

  /** set by [[log]]: a root's layout does not change under a live writer,
    * so a write ([[moveIn]], [[ack]]) calls [[log]] first only until set. */
  @volatile private var layoutChecked = false

  /** the root log's newest version as written (one listing, one doc read).
    * An empty log may sit in a root of the per-table layout; that root is
    * refused by name. */
  def log(): SnapshotTable.TableState = {
    val st = commitLog.state()
    if (st.version == 0)
      Option(fs.globStatus(new Path(root, s"{commits,${Registry.OffsetsTable},${Registry.SinksDir}/*}/metadata")))
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
    * lands here, partitioned by group and sink. [[SnapshotTable.stagingDir]]
    * names it, so [[SnapshotTable.expireSnapshots]] reclaims it once aged
    * when the run was killed before its cleanup. */
  val stagingRunDir: String = commitLog.stagingDir("run")

  /** one group's slice of the run's staged fan-out. */
  def stagingGroupDir(group: Int): String = s"$stagingRunDir/group=$group"

  /** this runner's offsets staging: a sibling of [[stagingRunDir]], not
    * inside it, since the fan-out write (which runs at the same time) clears
    * its whole output dir first. */
  val stagingOffsetsDir: String = commitLog.stagingDir("offsets")

  /** one group's slice of the run's staged offsets. */
  def stagedOffsets(group: Int): String = s"$stagingOffsetsDir/slice=$group"

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
    SnapshotTable.CommitResult(id, alreadyCommitted = false, files.map(_.size).sum, files.size, owned = true)
  }

  /** step 2 for one sink's staged slice of a batch group. */
  def commitSinkStaged(sink: String, group: Int, stagedDir: String,
                       schema: Option[StructType] = None): SnapshotTable.CommitResult =
    moveIn(Registry.groupTxn(group), Registry.sinkTable(sink), stagedDir, schema)

  /** step 1 (offsets): write the offsets rows of every pending group in
    * ONE job under [[stagingOffsetsDir]], sliced by a copy of their
    * `group` column (the rows keep `group`, a registry column) — each
    * group's slice is [[stagedOffsets]]. */
  def stageOffsets(offsets: DataFrame): Unit =
    offsets.withColumn("slice", col("group")).write.options(LocalFs.writeOptions).mode("overwrite")
      .partitionBy("slice").parquet(stagingOffsetsDir)

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
    * moved in under `txn` and carrying `lineageJson` (the counts) as its
    * summary. Returns true when THIS run owns `txn` afterwards; false when
    * a concurrent runner's commit won — its moved files are deleted, and
    * the caller lost and must not count the group. */
  def ack(txn: String, lineageJson: String): Boolean = {
    if (!layoutChecked) log()
    val (id, slices) = moved.remove(txn).getOrElse((commitLog.newSnapshotId(), Vector.empty))
    commitLog.commit(txn, Some(lineageJson), slices, id).owned
  }

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
    fs.delete(new Path(stagingOffsetsDir), true)
  }

  /** drop this runner's staging dirs once emptied, so a runner that cleans
    * every group ([[cleanupStaging]]) leaves no residue. A failure to drop
    * one leaves it to expiry — never fail the finishing runner. */
  private def dropEmptyScopes(): Unit =
    Seq(new Path(stagingOffsetsDir), new Path(stagingRunDir)).foreach { d =>
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
    * group's, no other, with [[TranscriptPipeline.transform]]'s columns
    * derived from the stored event ([[TranscriptPipeline.fromEvents]]).
    * Files of older roots that still hold copies of derived columns (24
    * or 25 columns, with or without a recorded schema) read the same. */
  def readSink(sink: String): Option[DataFrame] =
    commitLog.readTable(Registry.sinkTable(sink), log())
      .map(TranscriptPipeline.fromEvents(_, sink))
}

object Registry {
  private val GroupTxnPrefix = "group-"

  /** a batch run group's txn key (its snapshot in the root log). */
  def groupTxn(group: Int): String = s"$GroupTxnPrefix$group"

  /** whether `txn` is a batch run group's key ([[groupTxn]]) */
  def isGroupTxn(txn: String): Boolean = txn.startsWith(GroupTxnPrefix)

  /** a streaming micro-batch's txn key: its batch id and the content
    * fingerprint `observation` holds as `sig` (0 for an empty batch, whose
    * fingerprint is null). Old roots replay to no-ops only while this
    * format stays byte-identical. */
  def batchTxn(batchId: Long, observation: Observation): String = {
    val fp = Option(observation.get("sig")).fold(0L)(_.asInstanceOf[Long])
    s"batch-$batchId-${java.lang.Long.toHexString(fp)}"
  }

  /** the offsets table, a dir under the root */
  val OffsetsTable = "registry"

  /** the dir under the root that holds the sinks' tables */
  val SinksDir = "sinks"

  /** a sink's table, a dir under the root */
  def sinkTable(sink: String): String = s"$SinksDir/$sink"

  /** The layout every writer of a sink table stores: the routed rows'
    * event columns ([[TranscriptPipeline.EventColumns]]) and the `group`
    * and `sink` partition columns. The parse fields, the enrich lookups
    * and `doc_id` are pure functions of the event, which
    * [[Registry.readSink]] derives on read — as Beats keeps `_id` in
    * `@metadata`, outside the stored document, libbeat/beat/event.go:55-60. */
  def stored(routed: DataFrame): DataFrame =
    routed.select((TranscriptPipeline.EventColumns :+ "group" :+ "sink").map(col): _*)

  /** process-unique fence id. The leading letter is LOAD-BEARING: the id
    * becomes a directory-name component, and a non-numeric first character
    * keeps every downstream parser (and Spark partition inference, should a
    * run id ever appear as a partition value) treating it as a string. */
  def newRunId(): String =
    "r" + java.util.UUID.randomUUID().toString.replace("-", "").take(15)
}
