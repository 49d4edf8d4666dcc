package graft.checkpoint

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A minimal, from-scratch SNAPSHOT TABLE FORMAT — the Iceberg metadata
  * pattern (immutable data files + a versioned metadata pointer advanced by
  * an atomic compare-and-swap) implemented over any HDFS-compatible
  * filesystem with zero dependencies beyond Spark's own jars. This is the
  * storage layer under the pipeline's sinks and registry (the reference's
  * registrar/statestore role, filebeat/registrar/registrar.go:139-214 and
  * filebeat/input/filestream/internal/input-logfile/store.go:37-300, redone
  * as a table format rather than a mutable key-value store).
  *
  * Layout:
  * {{{
  *   <root>/data/f-<run>-<uuid>-<i>.parquet   immutable data files
  *   <root>/metadata/v<NNNNNN>.json           one complete metadata doc per
  *                                            version; the LARGEST version
  *                                            is the table state
  * }}}
  *
  * Commit protocol (optimistic concurrency, Iceberg-style):
  *   1. the writer stages parquet files and MOVES them under data/ with
  *      run-unique names — unreferenced files are invisible to every reader,
  *      so this step needs no coordination;
  *   2. it reads the current metadata version N and writes a candidate
  *      v(N+1).json to a temp name;
  *   3. an atomic create-if-absent publish of v(N+1).json is the commit
  *      point — rename-without-replace on HDFS-like filesystems, link(2) on
  *      `file:` URIs (POSIX rename REPLACES an existing destination; a hard
  *      link fails with EEXIST atomically) — so exactly one writer wins
  *      each version; a loser re-reads the new state, re-validates, and
  *      retries (bounded).
  *
  * Snapshot isolation: readers resolve the largest committed version and
  * read EXACTLY the files it lists — concurrent writers never perturb an
  * in-flight read, and a killed writer's staged files are garbage, not
  * corruption. Each version also records the files' Spark schema, and a
  * read of a version with one is LISTING-FREE: the recorded (path, size)
  * entries are the scan's file list, so planning makes no filesystem call
  * (no existence check, no directory listing, no schema-inference job) —
  * a stray file under data/ is never read, and a listed file deleted out
  * of band fails the read by name instead of shrinking it.
  *
  * Transactional idempotence: a commit may carry a `txn` key. The metadata
  * records every committed txn key; a commit whose key is already present
  * is rejected as `alreadyCommitted` (with the original snapshot id), which
  * is what makes job retries and multi-writer races effectively-once — the
  * same role as the reference's registrar ACK gate
  * (filebeat/beater/acker.go:37-68).
  *
  * Operations: `append` (adds files — a DataFrame staged through a temp
  * dir, or a caller-staged dir via [[commitStagedDir]]) and `commitSummary`
  * (a METADATA-ONLY commit: no files, just a txn key and a summary). Every
  * table is APPEND-ONLY: nothing is ever rewritten, so the newest version
  * lists every file ever committed, and every version's metadata is
  * retained, so any historical snapshot remains readable (time travel).
  *
  * Snapshot summaries: a snapshot may carry an optional `summary` string,
  * stored in the version doc next to its txn key (the role of Iceberg's
  * snapshot summary). A caller that records what a commit did there —
  * the pipeline's commit log stores each group's lineage this way — can
  * answer questions about the table from one metadata read, with no Spark
  * job and no pass over the data.
  *
  * Manifest splitting (the Iceberg manifest-file shape): up to
  * `inlineFileLimit` files the version doc carries the file list inline;
  * above it the list rides MANIFEST files (`metadata/m-*.json`) and the
  * version doc holds only (path, count, bytes) pointers. An append REUSES
  * the previous version's manifests untouched and writes ONE new manifest
  * for just its added files, so per-commit metadata cost is O(added), not
  * O(table) — the property that keeps a high-commit-rate 100 TB sink table
  * from rewriting a million-entry file list on every micro-batch. The
  * manifest list is coalesced back to one file when it exceeds
  * `manifestCoalesceAt` (Iceberg's merge-manifests), bounding read fan-out;
  * a CAS loser deletes the manifests it wrote, and [[expireSnapshots]]
  * reclaims manifests referenced only by expired versions plus aged
  * orphans. The embedded snapshot history and txn-key map still grow with
  * commit count (they must — [[readCommittedTxns]] and idempotence read
  * them); at sink commit-log rates that is KBs/day.
  */
final class SnapshotTable(val root: String, spark: SparkSession,
                          val runId: String = Registry.newRunId(),
                          val inlineFileLimit: Int = SnapshotTable.DefaultInlineFileLimit,
                          val manifestCoalesceAt: Int = SnapshotTable.DefaultManifestCoalesceAt) {

  import SnapshotTable._

  private val fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val metaDir = new Path(root, "metadata")
  private val dataDir = new Path(root, "data")

  // ------------------------------------------------------------- metadata

  /** current committed state; version 0 = the empty table. */
  def state(): TableState =
    liveVersions().lastOption.fold(TableState.Empty)(v => parseState(readBytes(fs, versionPath(v))))

  /** parse a version doc and RESOLVE its manifests (if any) into the full
    * file list — readers always see `files` complete either way. */
  private def parseState(bytes: Array[Byte]): TableState = {
    val st = parseMeta(bytes)
    if (st.manifestRefs.isEmpty) st
    else st.copy(files = st.manifestRefs.flatMap(m => readManifest(m.path)))
  }

  private def versionPath(v: Long): Path = new Path(metaDir, f"v$v%06d.json")

  /** CAS: write candidate metadata for version prev+1; true iff this writer
    * won the publish race. The atomic claim primitive is scheme-dependent:
    * HDFS-like filesystems reject a rename onto an existing destination at
    * the namenode, but POSIX rename(2) — what Hadoop's LocalFileSystem
    * ultimately calls — silently REPLACES it, which would let two racing
    * writers both "win" and lose one commit. On `file:` URIs we therefore
    * publish with link(2) (hard link), which fails with EEXIST atomically
    * at the syscall level. */
  private def casCommit(prev: TableState, doc: ObjectNode): Boolean = {
    fs.mkdirs(metaDir)
    val tmp = new Path(metaDir, s".tmp-$runId-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(Mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(doc))
    finally out.close()
    publishAtomic(fs, tmp, versionPath(prev.version + 1))
  }

  /** plan the next version's file-list layout: inline below
    * `inlineFileLimit`, manifest files above it. The previous version's
    * manifests are carried untouched and only (previous inline files +)
    * `added` spill into ONE new manifest. Coalesces to a single manifest
    * past `manifestCoalesceAt`. Returns (manifest refs, inline files,
    * manifest paths WRITTEN by this call — the caller deletes them if its
    * CAS loses, so racing writers leave no debris). */
  private def planFiles(prev: TableState,
                        added: Seq[FileEntry]): (Seq[ManifestRef], Seq[FileEntry], Seq[String]) = {
    val carried = prev.manifestRefs
    val pending = (if (carried.nonEmpty) Seq.empty else prev.files) ++ added
    if (carried.isEmpty && pending.size <= inlineFileLimit)
      return (Seq.empty, pending, Seq.empty)
    var written = List.empty[String]
    var refs = carried
    if (pending.nonEmpty) {
      val r = writeManifest(pending); written ::= r.path; refs = refs :+ r
    }
    if (refs.size > manifestCoalesceAt) {
      val one = writeManifest(refs.flatMap(m => readManifest(m.path)))
      written ::= one.path
      refs = Seq(one)
    }
    (refs, Seq.empty, written)
  }

  private def writeManifest(entries: Seq[FileEntry]): ManifestRef = {
    fs.mkdirs(metaDir)
    val name = s"m-$runId-${java.util.UUID.randomUUID().toString.take(8)}.json"
    val doc = Mapper.createObjectNode()
    putEntries(doc.putArray("entries"), entries)
    val out = fs.create(new Path(metaDir, name), false)
    try out.write(Mapper.writeValueAsBytes(doc)) finally out.close()
    ManifestRef(s"metadata/$name", entries.size, entries.map(_.size).sum)
  }

  private def readManifest(relPath: String): Seq[FileEntry] =
    parseManifest(readBytes(fs, new Path(root, relPath)))

  private def buildMeta(prev: TableState, snap: SnapshotInfo,
                        manifests: Seq[ManifestRef],
                        files: Seq[FileEntry],
                        schema: Option[StructType]): ObjectNode = {
    val doc = Mapper.createObjectNode()
    doc.put("format", "graft-snapshot-v1")
    doc.put("version", prev.version + 1)
    doc.put("snapshot_id", snap.id)
    prev.snapshotId.foreach(doc.put("parent_snapshot_id", _))
    schema.foreach(t => doc.put("schema", t.json))
    if (manifests.nonEmpty) {
      val mArr = doc.putArray("manifests")
      manifests.foreach { m =>
        val o = mArr.addObject()
        o.put("path", m.path); o.put("count", m.count); o.put("bytes", m.bytes)
      }
    }
    putEntries(doc.putArray("files"), files)
    val tk = doc.putObject("txn_keys")
    (prev.txnKeys ++ snap.txn.map(_ -> snap.id)).foreach { case (k, v) => tk.put(k, v) }
    val sArr = doc.putArray("snapshots")
    (prev.snapshots :+ snap).foreach { s =>
      val o = sArr.addObject()
      o.put("id", s.id); o.put("run", s.run); o.put("operation", s.operation)
      s.txn.foreach(o.put("txn", _))
      s.summary.foreach(o.put("summary", _))
      putEntries(o.putArray("added"), s.added)
    }
    doc
  }

  // ------------------------------------------------------------- reading

  /** read `files` as a DataFrame. With the version's recorded `schema` the
    * plan is built straight from the metadata — the recorded (path, size)
    * entries become the scan's file list ([[ListedFiles]]), so planning
    * makes no filesystem call: no existence check, no listing, no
    * schema-inference job (how Iceberg and Delta plan from manifests). A
    * file deleted out of band then fails the scan, naming the file. A
    * version without a schema (written before schemas were recorded, or
    * holding files of no known schema) falls back to `spark.read.parquet`,
    * which checks, lists and infers. */
  private def load(files: Seq[FileEntry], schema: Option[StructType]): DataFrame = {
    val paths = files.map(f => fs.makeQualified(new Path(root, f.path)))
    schema match {
      case Some(s) =>
        val index = ListedFiles(paths.zip(files).map { case (p, f) =>
          new FileStatus(f.size, false, 1, f.size, 0L, p)
        })
        spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(), s,
          None, new ParquetFileFormat, Map.empty)(spark))
      case None => spark.read.parquet(paths.map(_.toString): _*)
    }
  }

  /** snapshot-isolated read of the current table state. None when empty. */
  def read(): Option[DataFrame] = {
    val st = state()
    if (st.files.isEmpty) None else Some(load(st.files, st.schema))
  }

  /** read ONLY the files added by snapshots whose txn key passes `admit`
    * (plus untagged snapshots) — the cross-table read-committed view: a sink
    * table exposes a group's rows only once the pipeline-level commit log
    * admits that group, even though the sink's own append landed earlier. */
  def readCommittedTxns(admit: String => Boolean): Option[DataFrame] = {
    val st = state()
    val files = st.snapshots
      .filter(s => s.operation == "append" && s.txn.forall(admit))
      .flatMap(_.added)
    if (files.isEmpty) None else Some(load(files, st.schema))
  }

  def snapshotForTxn(txn: String): Option[SnapshotInfo] =
    state().snapshots.find(_.txn.contains(txn))

  // --------------------------------------------------------- time travel

  /** all metadata versions still on disk, ascending (1 = first commit).
    * Retention is [[expireSnapshots]]' `keepVersions` — expired versions
    * are no longer time-travelable, exactly like Iceberg's
    * `expire_snapshots`. */
  def liveVersions(): Seq[Long] = {
    if (!fs.exists(metaDir)) return Seq.empty
    fs.listStatus(metaDir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted.toSeq
  }

  /** committed state AT `version`; None once expired (or never committed). */
  def stateAt(version: Long): Option[TableState] = {
    val p = versionPath(version)
    if (version < 1 || !fs.exists(p)) None else Some(parseState(readBytes(fs, p)))
  }

  /** time-travel read: the table exactly as of `version`. None when the
    * version is expired/unknown or held no files. Every commit is one
    * version, so this is also
    * read-as-of-snapshot — resolve ids via [[readSnapshot]]. */
  def readVersion(version: Long): Option[DataFrame] =
    stateAt(version).filter(_.files.nonEmpty)
      .map(st => load(st.files, st.schema))

  /** read the table as of the commit that produced `snapshotId` (the id
    * recorded in sink lineage rows and [[CommitResult]]s). */
  def readSnapshot(snapshotId: String): Option[DataFrame] =
    liveVersions().reverse
      .find(v => stateAt(v).exists(_.snapshotId.contains(snapshotId)))
      .flatMap(readVersion)

  // ------------------------------------------------------------- writing

  /** move externally staged parquet files (e.g. one sink's slice of a
    * dynamic-partitioned write) into the table and commit them as one
    * append snapshot. Files become visible atomically at the CAS. The
    * txn pre-check runs BEFORE the move, so a resumed group's re-commit
    * never churns files through data/ (and cannot strand them if the
    * process dies before the already-committed branch cleans up).
    * `schema` is the staged files' Spark schema, when the caller knows it;
    * without it the table records none and reads infer. */
  def commitStagedDir(stagedDir: String, txn: Option[String],
                      schema: Option[StructType] = None): CommitResult = {
    val st = state()
    txn.filter(st.txnKeys.contains).foreach(t => return alreadyCommittedResult(st, t))
    val staged = listParquet(fs, new Path(stagedDir))
    commitMoved(moveIn(staged), txn, schema.map(asNullable))
  }

  /** metadata-only commit: one snapshot that adds no files and carries only
    * `txn` and `summary` (operation `metadata`). Same CAS loop and txn
    * idempotence as [[append]]: a key already committed returns
    * `alreadyCommitted` with the original snapshot id. No Spark job runs. */
  def commitSummary(txn: String, summary: String): CommitResult =
    commitMoved(Seq.empty, Some(txn), None, "metadata", Some(summary))

  /** a fresh private staging dir under the table root, for a caller to
    * write parquet into and hand to [[commitStagedDir]]. A dir left by a
    * writer that died is reclaimed by [[expireSnapshots]] once aged. */
  def stagingDir(): String =
    new Path(root, s"_tmp-append-$runId-${java.util.UUID.randomUUID()}").toString

  /** append a DataFrame as one snapshot: write it to a [[stagingDir]],
    * then [[commitStagedDir]]. A txn key already committed skips the
    * write. */
  def append(df: DataFrame, txn: Option[String]): CommitResult = {
    val st = state()
    txn.filter(st.txnKeys.contains).foreach(t => return alreadyCommittedResult(st, t))
    val tmp = stagingDir()
    try {
      df.write.mode("overwrite").parquet(tmp)
      commitStagedDir(tmp, txn, Some(df.schema))
    } finally fs.delete(new Path(tmp), true)
  }

  /** Maintenance: expire old table versions — the Iceberg expire_snapshots
    * analogue. Keeps the newest `keepVersions` metadata docs and deletes
    * older metadata files and the manifests only they reference. Data
    * files are never expired with a version: the table is append-only, so
    * the newest version lists every committed file. Unreferenced data
    * files (crash debris, or files stranded by the copy-on-write merges of
    * roots written before tables were append-only) go through the orphan
    * pass once older than `orphanGraceMs`. Returns the number of data
    * files deleted. Run as a maintenance job, never concurrently with
    * readers that may still be resolving an expired version; writers are
    * unaffected (they CAS against the newest version only, and a staging
    * dir survives while anything under it is younger than
    * `orphanGraceMs`). */
  def expireSnapshots(keepVersions: Int = 1,
                      orphanGraceMs: Long = 3600000L): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    if (!fs.exists(metaDir)) return 0
    val versions = liveVersions()
    val (drop, keep) = versions.splitAt(math.max(0, versions.length - keepVersions))
    val keptStates = keep.map(v => parseState(readBytes(fs, versionPath(v))))
    val retained: Set[String] = keptStates.flatMap(_.files.map(_.path)).toSet
    val retainedManifests: Set[String] =
      keptStates.flatMap(_.manifestRefs.map(_.path)).toSet
    var deleted = 0
    // read the dropped versions' manifest refs BEFORE deleting anything —
    // versions may share manifest files
    val dropManifests = drop.flatMap(v => parseMeta(readBytes(fs, versionPath(v))).manifestRefs)
    drop.foreach(v => fs.delete(versionPath(v), false))
    dropManifests.map(_.path).distinct.filterNot(retainedManifests)
      .foreach(p => fs.delete(new Path(root, p), false))
    // ORPHANS: data files referenced by NO retained version — crash debris
    // from a writer that died between moving files in and its CAS commit.
    // The age grace protects a LIVE concurrent writer's just-moved,
    // not-yet-committed files (Iceberg's remove_orphan_files guards the
    // same way); pass 0 only when no writers are running.
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).foreach { f =>
        val rel = s"data/${f.getPath.getName}"
        if (!f.getPath.getName.startsWith(".") && !retained.contains(rel) &&
            f.getModificationTime < cutoff &&
            fs.delete(f.getPath, false)) deleted += 1
      }
    }
    // orphan MANIFESTS: a writer that died between writeManifest and its CAS
    fs.listStatus(metaDir).foreach { f =>
      val n = f.getPath.getName
      if (n.startsWith("m-") && !retainedManifests.contains(s"metadata/$n") &&
          f.getModificationTime < cutoff)
        fs.delete(f.getPath, false)
    }
    // TEMP DEBRIS: a writer that died between creating its candidate
    // metadata (.tmp-*) and publishAtomic, or mid-append before its staging
    // directory (_tmp-*) was consumed. Never
    // referenced by any version, so only the age grace gates deletion —
    // without this pass a crashed writer's staged parquet (potentially the
    // size of a whole commit) accumulates forever. A staging DIRECTORY is
    // aged by the newest entry under it, not by its own mtime: a live
    // append keeps writing fresh files into a dir created long ago.
    fs.listStatus(metaDir).foreach { f =>
      if (f.getPath.getName.startsWith(".tmp-") && f.getModificationTime < cutoff)
        fs.delete(f.getPath, false)
    }
    fs.listStatus(new Path(root)).foreach { f =>
      if (f.getPath.getName.startsWith("_tmp-") && newestMtime(f) < cutoff)
        fs.delete(f.getPath, true)
    }
    deleted
  }

  /** newest modification time of `f` and everything under it. A path that
    * vanishes mid-walk belongs to a writer that just finished: report it as
    * fresh so the caller leaves it alone. */
  private def newestMtime(f: FileStatus): Long =
    if (!f.isDirectory) f.getModificationTime
    else try (f.getModificationTime +: fs.listStatus(f.getPath).map(newestMtime)).max
    catch { case _: java.io.FileNotFoundException => Long.MaxValue }

  // ------------------------------------------------------------- internals

  private def newSnapId(st: TableState): String =
    s"s-$runId-${st.version + 1}"

  private def alreadyCommittedResult(st: TableState, txn: String): CommitResult = {
    val snap = st.snapshots.find(_.txn.contains(txn)).get
    CommitResult(snap.id, alreadyCommitted = true,
      snap.added.map(_.size).sum, snap.added.size)
  }

  /** move staged files under data/ with run-unique names; returns entries
    * RELATIVE to the table root (invisible until some commit lists them). */
  private def moveIn(staged: Seq[(Path, Long)]): Seq[FileEntry] = {
    fs.mkdirs(dataDir)
    staged.zipWithIndex.map { case ((p, size), i) =>
      val name = s"f-$runId-${java.util.UUID.randomUUID().toString.take(8)}-$i.parquet"
      val dst = new Path(dataDir, name)
      if (!fs.rename(p, dst))
        throw new java.io.IOException(s"failed to move $p into $dst")
      FileEntry(s"data/$name", size)
    }
  }

  /** append pre-moved files with txn idempotence via the CAS loop. */
  private def commitMoved(moved: Seq[FileEntry], txn: Option[String],
                          movedSchema: Option[StructType],
                          operation: String = "append",
                          summary: Option[String] = None): CommitResult = {
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val st = state()
      txn.filter(st.txnKeys.contains).foreach { t =>
        // another writer (or a previous run of this job) already committed
        // this transaction: our files are redundant — remove and defer
        moved.foreach(f => fs.delete(new Path(root, f.path), false))
        return alreadyCommittedResult(st, t)
      }
      val snap = SnapshotInfo(newSnapId(st), runId, txn, operation, moved, summary)
      val (refs, inline, written) = planFiles(st, moved)
      val schema =
        if (moved.isEmpty) st.schema
        else if (st.files.isEmpty) movedSchema
        else unionSchema(st.schema, movedSchema)
      if (casCommit(st, buildMeta(st, snap, refs, inline, schema)))
        return CommitResult(snap.id, alreadyCommitted = false,
          moved.map(_.size).sum, moved.size)
      written.foreach(p => fs.delete(new Path(root, p), false))
    }
    throw new java.io.IOException(
      s"append into $root failed after $MaxCommitAttempts CAS attempts — " +
        "the metadata pointer is not advancing (filesystem fault?)")
  }
}

object SnapshotTable {

  /** CAS retry bound: a lost race always advances the observed version, so
    * a writer that exhausts this many attempts is fighting a filesystem
    * fault (rename/link returning false without progress), not contention —
    * fail loudly instead of spinning rewrite jobs forever. */
  private val MaxCommitAttempts = 50

  /** inline-file-list ceiling: past this many files the version doc points
    * at manifest files instead (64 entries ≈ 8 KB inline — registry-scale
    * docs stay single-read; sink tables split). */
  val DefaultInlineFileLimit = 64

  /** manifest-count ceiling: one append = one manifest, so unbounded
    * appends would mean unbounded reader fan-out; past this the commit
    * coalesces all manifests into one (Iceberg's merge-manifests). */
  val DefaultManifestCoalesceAt = 32

  /** the commit point's atomic claim primitive, publish-once semantics
    * ACROSS PROCESSES: exactly one caller of all concurrent callers (same
    * JVM or not) gets `true` per target; `tmp` is consumed either way.
    * On `file:` URIs this is link(2) — hard-link creation fails with
    * EEXIST atomically at the syscall level, where POSIX rename(2) (what
    * Hadoop's LocalFileSystem rename ultimately calls) silently REPLACES
    * an existing destination and would let two racing writers both "win"
    * and silently lose one commit. On HDFS-like schemes rename-without-
    * replace is atomic at the namenode. Exercised cross-process by
    * CasRaceSpec (two JVMs racing one version). */
  private[graft] def publishAtomic(fs: FileSystem, tmp: Path, target: Path): Boolean = {
    if (fs.getScheme == "file") {
      val won =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      fs.delete(tmp, false)
      won
    } else if (fs.rename(tmp, target)) true
    else { fs.delete(tmp, false); false }
  }

  final case class FileEntry(path: String, size: Long)

  /** pointer to a manifest file holding `count` [[FileEntry]] rows
    * totalling `bytes` (counts let planners size reads without opening
    * the manifest). */
  final case class ManifestRef(path: String, count: Int, bytes: Long)

  /** `summary`: free-form text the committer attached to the snapshot (the
    * role of Iceberg's snapshot summary), stored in the version doc. */
  final case class SnapshotInfo(id: String, run: String, txn: Option[String],
                                operation: String, added: Seq[FileEntry],
                                summary: Option[String] = None)

  /** `schema`: the data files' Spark schema, recorded at commit so reads
    * skip inference — the union of the files' columns when their column
    * sets differ; None when some listed file's schema is unknown or two
    * files disagree on a column's type. */
  final case class TableState(version: Long, snapshotId: Option[String],
                              files: Seq[FileEntry],
                              txnKeys: Map[String, String],
                              snapshots: Seq[SnapshotInfo],
                              manifestRefs: Seq[ManifestRef] = Seq.empty,
                              schema: Option[StructType] = None)
  object TableState {
    val Empty: TableState = TableState(0L, None, Seq.empty, Map.empty, Seq.empty)
  }

  final case class CommitResult(snapshotId: String, alreadyCommitted: Boolean,
                                addedBytes: Long, addedFiles: Int)

  private val Mapper = new ObjectMapper()

  /** the scan's file list, given rather than discovered: the entries of
    * one table version, so planning never touches the filesystem. A case
    * class, so two reads of the same files are the same relation (cache
    * lookups match, as with a listing index over the same paths). */
  private final case class ListedFiles(files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = files.map(_.getPath)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.toArray))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** the schema that reads every file of two file sets whose schemas are
    * `a` and `b`: `a`'s fields, then those of `b` that `a` lacks (a file
    * without a column reads it as null). None when either is unknown or a
    * column both hold differs in type — reads then infer. */
  private def unionSchema(a: Option[StructType], b: Option[StructType]): Option[StructType] =
    for (x <- a; y <- b if y.forall(f => x.find(_.name == f.name).forall(_ == f)))
      yield StructType(x.fields ++ y.fields.filterNot(f => x.fieldNames.contains(f.name)))

  /** the schema a parquet read infers for data written with schema `t`:
    * file reads make every field nullable, at every depth */
  private def asNullable(t: StructType): StructType = nullable(t).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  private def putEntries(arr: ArrayNode, entries: Seq[FileEntry]): Unit =
    entries.foreach { f => val o = arr.addObject(); o.put("path", f.path); o.put("size", f.size) }

  private def fileEntries(n: JsonNode): Seq[FileEntry] =
    n.elements().asScala.map(f => FileEntry(f.get("path").asText(), f.get("size").asLong())).toSeq

  private def parseMeta(bytes: Array[Byte]): TableState = {
    val doc = Mapper.readTree(bytes)
    val snaps = doc.get("snapshots").elements().asScala.map(s => SnapshotInfo(
      s.get("id").asText(), s.get("run").asText(), Option(s.get("txn")).map(_.asText()),
      s.get("operation").asText(), fileEntries(s.get("added")),
      Option(s.get("summary")).map(_.asText()))).toSeq
    val manifests = Option(doc.get("manifests")).toSeq.flatMap(_.elements().asScala.map(m =>
      ManifestRef(m.get("path").asText(), m.get("count").asInt(), m.get("bytes").asLong())))
    TableState(doc.get("version").asLong(),
      Option(doc.get("snapshot_id")).map(_.asText()),
      fileEntries(doc.get("files")),
      doc.get("txn_keys").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap,
      snaps, manifests,
      Option(doc.get("schema")).map(n => DataType.fromJson(n.asText()).asInstanceOf[StructType]))
  }

  /** parse a manifest file: {"entries":[{path,size}…]}. */
  private def parseManifest(bytes: Array[Byte]): Seq[FileEntry] =
    fileEntries(Mapper.readTree(bytes).get("entries"))

  private def listParquet(fs: FileSystem, dir: Path): Seq[(Path, Long)] = {
    if (!fs.exists(dir)) return Seq.empty
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet"))
        buf += ((f.getPath, f.getLen))
    }
    buf.toSeq
  }
}
