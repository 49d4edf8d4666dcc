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
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, Metadata, StructType}

import graft.io.LocalFs

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
  *                                            version; the LARGEST version is
  *                                            the table state
  * }}}
  *
  * One log, several tables: a log may list the files of TABLES under its
  * root, each with its own data dir (`<root>/<table>/data/`) and recorded
  * schema (table `""` is the root's own `data/`). One snapshot may add
  * files to any number of them, as an Iceberg append adds files to any
  * number of partitions: the pipeline's checkpoint root is such a log, and
  * a batch's outputs commit together or not at all ([[Registry]]).
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
  * Operations: `append` (a DataFrame staged through a temp dir, or a
  * caller-staged dir via [[commitStagedDir]]) and [[commit]] (files moved
  * in with [[moveIn]], of any of the log's tables, plus a txn key and a
  * `summary` string — Iceberg's snapshot summary, where the root log keeps
  * each group's lineage for metrics read with no Spark job; no files makes
  * it METADATA-ONLY). Every table is APPEND-ONLY, so the newest version
  * lists every file ever committed; every version's metadata is retained,
  * so any historical snapshot remains readable (time travel). Reads take
  * the files from the snapshot history the version doc embeds, so they
  * resolve no manifest.
  *
  * Manifest splitting (the Iceberg manifest-file shape): up to
  * `inlineFileLimit` files the version doc's snapshot history is the file
  * list; above it the list rides MANIFEST files (`metadata/m-*.json`) and
  * the version doc holds (path, count, bytes) pointers to them. An append REUSES
  * the previous version's manifests untouched and writes ONE new manifest
  * for just its added files, so per-commit metadata cost is O(added), not
  * O(table) — the property that keeps a high-commit-rate 100 TB sink table
  * from rewriting a million-entry file list on every micro-batch. The
  * manifest list is coalesced back to one file when it exceeds
  * `manifestCoalesceAt` (Iceberg's merge-manifests), bounding read fan-out;
  * a CAS loser deletes the manifests it wrote, and [[expireSnapshots]]
  * reclaims manifests referenced only by expired versions plus aged
  * orphans. The embedded snapshot history and txn-key map still grow with
  * commit count (they must — [[readTable]] and idempotence read them):
  * about 0.3 KB per commit, so the version doc of a table with 3000
  * commits is about 900 KB, rewritten by every commit.
  *
  * Local roots: on a `file:` root every metadata write, file move and
  * listing goes through [[graft.io.LocalFs]], so none forks a `chmod` or
  * `ls -ld` (the stock local filesystem's, without Hadoop's native library).
  */
final class SnapshotTable(val root: String, spark: SparkSession,
                          val runId: String = Registry.newRunId(),
                          val inlineFileLimit: Int = SnapshotTable.DefaultInlineFileLimit,
                          val manifestCoalesceAt: Int = SnapshotTable.DefaultManifestCoalesceAt) {

  import SnapshotTable._

  private val fs: FileSystem =
    LocalFs.get(new Path(root), spark.sparkContext.hadoopConfiguration)
  private val metaDir = new Path(root, LogDir)

  // ------------------------------------------------------------- metadata

  /** current committed state, its file list complete (manifests
    * resolved); version 0 = the empty table. */
  def state(): TableState = resolved(latest())

  /** the newest version doc as written: one listing and one read. Its
    * snapshot history, txn keys and schemas are complete; `files` is empty
    * when the file list rides manifests, which this does not read. */
  def latest(): TableState =
    liveVersions().lastOption.fold(TableState.Empty)(v => parseMeta(fs, versionPath(v)))

  private def resolved(st: TableState): TableState =
    if (st.manifestRefs.isEmpty) st
    else st.copy(files = st.manifestRefs.flatMap(m => readManifest(m.path)))

  private def versionPath(v: Long): Path = new Path(metaDir, f"v$v%06d.json")

  /** CAS: write candidate metadata for version prev+1; true iff this writer
    * won the publish race ([[SnapshotTable.publishAtomic]]). */
  private def casCommit(prev: TableState, doc: ObjectNode): Boolean = {
    fs.mkdirs(metaDir)
    val tmp = new Path(metaDir, s".tmp-$runId-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(Mapper.writeValueAsBytes(doc))
    finally out.close()
    publishAtomic(fs, tmp, versionPath(prev.version + 1))
  }

  /** plan the next version's file-list layout: none below
    * `inlineFileLimit` (the snapshot history lists the files), manifest
    * files above it. The previous version's manifests are carried untouched
    * and only (previous history files +) `added` spill into ONE new
    * manifest. Coalesces to a single manifest past `manifestCoalesceAt`.
    * Returns (manifest refs, manifest paths WRITTEN by this call — the
    * caller deletes them if its CAS loses, so racing writers leave no
    * debris). */
  private def planFiles(prev: TableState,
                        added: Seq[FileEntry]): (Seq[ManifestRef], Seq[String]) = {
    val carried = prev.manifestRefs
    val pending = (if (carried.nonEmpty) Seq.empty else prev.files) ++ added
    if (carried.isEmpty && pending.size <= inlineFileLimit)
      return (Seq.empty, Seq.empty)
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
    (refs, written)
  }

  private def writeManifest(entries: Seq[FileEntry]): ManifestRef = {
    fs.mkdirs(metaDir)
    val name = s"m-$runId-${java.util.UUID.randomUUID().toString.take(8)}.json"
    val doc = Mapper.createObjectNode()
    putEntries(doc.putArray("entries"), entries)
    val out = fs.create(new Path(metaDir, name), false)
    try out.write(Mapper.writeValueAsBytes(doc)) finally out.close()
    ManifestRef(s"$LogDir/$name", entries.size, entries.map(_.size).sum)
  }

  private def readManifest(relPath: String): Seq[FileEntry] =
    parseManifest(readBytes(fs, new Path(root, relPath)))

  private def buildMeta(prev: TableState, snap: SnapshotInfo,
                        manifests: Seq[ManifestRef],
                        schemas: Map[String, String]): ObjectNode = {
    val doc = Mapper.createObjectNode()
    doc.put("format", Format)
    doc.put("version", prev.version + 1)
    doc.put("snapshot_id", snap.id)
    prev.snapshotId.foreach(doc.put("parent_snapshot_id", _))
    val sc = doc.putObject("schemas")
    schemas.foreach { case (table, ddl) => sc.put(table, ddl) }
    if (manifests.nonEmpty) {
      val mArr = doc.putArray("manifests")
      manifests.foreach { m =>
        val o = mArr.addObject()
        o.put("path", m.path); o.put("count", m.count); o.put("bytes", m.bytes)
      }
    }
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
  def read(): Option[DataFrame] = readTable("")

  /** snapshot-isolated read of one of the log's tables in `st` (default:
    * the newest version): the files its snapshots added, with the table's
    * recorded schema. The history lists every file, so no manifest is
    * read. None when the table holds no file. */
  def readTable(table: String, st: TableState = latest()): Option[DataFrame] = {
    val files = st.snapshots.flatMap(_.added).filter(_.path.startsWith(dataPrefix(table)))
    if (files.isEmpty) None else Some(load(files, st.schemaOf(table)))
  }

  def snapshotForTxn(txn: String): Option[SnapshotInfo] =
    latest().snapshots.find(_.txn.contains(txn))

  // --------------------------------------------------------- time travel

  /** all metadata versions still on disk, ascending (1 = first commit).
    * Retention is [[expireSnapshots]]' `keepVersions` — expired versions
    * are no longer time-travelable, exactly like Iceberg's
    * `expire_snapshots`. */
  def liveVersions(): Seq[Long] =
    names(metaDir).filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toLong).sorted

  /** the entry names in `dir`, none when it is absent. On `file:` this is
    * one `File.list`: Hadoop's listing builds a qualified status per entry,
    * which is most of what reading a small log costs. */
  private def names(dir: Path): Seq[String] =
    if (fs.getScheme == "file") Option(new java.io.File(dir.toUri.getPath).list()).fold(Seq.empty[String])(_.toSeq)
    else if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath.getName).toSeq
    else Seq.empty

  /** committed state AT `version`; None once expired (or never committed). */
  def stateAt(version: Long): Option[TableState] = {
    val p = versionPath(version)
    if (version < 1 || !fs.exists(p)) None else Some(resolved(parseMeta(fs, p)))
  }

  /** time-travel read: the table exactly as of `version`. None when the
    * version is expired/unknown or held no files. Every commit is one
    * version, so this is also
    * read-as-of-snapshot — resolve ids via [[readSnapshot]]. */
  def readVersion(version: Long): Option[DataFrame] =
    stateAt(version).flatMap(readTable("", _))

  /** read the table as of the commit that produced `snapshotId` (the id
    * recorded in sink lineage rows and [[CommitResult]]s). */
  def readSnapshot(snapshotId: String): Option[DataFrame] =
    liveVersions().reverse
      .find(v => stateAt(v).exists(_.snapshotId.contains(snapshotId)))
      .flatMap(readVersion)

  // ------------------------------------------------------------- writing

  /** move externally staged parquet files into the table and commit them
    * as one append snapshot, against `st` (default: the newest version; a
    * caller may pass a state it read earlier). The txn pre-check runs
    * BEFORE the move, so a retried commit never churns files through data/;
    * a writer that committed since `st` owns v(N+1), so the first publish
    * fails and the retry re-reads. `schema` is the staged files' Spark
    * schema, when the caller knows it; without it the table records none
    * and reads infer. */
  def commitStagedDir(stagedDir: String, txn: Option[String],
                      schema: Option[StructType] = None,
                      st: TableState = latest()): CommitResult = {
    txn.filter(st.txnKeys.contains).foreach(t => return alreadyCommittedResult(st, t))
    commitMoved(st, Seq(Slice("", moveIn(stagedDir), schema)), txn, None, newSnapshotId())
  }

  /** Commit `slices` — files already moved into their tables with
    * [[moveIn]] — and `summary` as ONE snapshot with id `id` under `txn`:
    * every slice becomes visible at the same CAS, or none does. A txn key
    * already committed returns `alreadyCommitted` with the original
    * snapshot id and deletes the slices' files (a racing loser's copies).
    * No slices makes it a METADATA-ONLY commit (operation `metadata`). No
    * Spark job runs. */
  def commit(txn: String, summary: String, slices: Seq[Slice] = Seq.empty,
             id: String = newSnapshotId()): CommitResult =
    commitMoved(latest(), slices, Some(txn), Some(summary), id)

  /** a fresh snapshot id of this writer, for a caller that names a
    * [[commit]] before making it. */
  def newSnapshotId(): String = s"s-$runId-${java.util.UUID.randomUUID().toString.take(8)}"

  /** a fresh private staging dir under the table root, for a caller to
    * write parquet into and hand to [[commitStagedDir]]. A dir left by a
    * writer that died is reclaimed by [[expireSnapshots]] once aged. */
  def stagingDir(): String =
    new Path(root, s"_tmp-append-$runId-${java.util.UUID.randomUUID()}").toString

  /** append a DataFrame as one snapshot: write it to a [[stagingDir]],
    * then commit it against the state read before the write. A txn key
    * already committed skips the write. */
  def append(df: DataFrame, txn: Option[String]): CommitResult = {
    val st = latest()
    txn.filter(st.txnKeys.contains).foreach(t => return alreadyCommittedResult(st, t))
    val tmp = stagingDir()
    try {
      df.write.options(LocalFs.writeOptions).mode("overwrite").parquet(tmp)
      commitStagedDir(tmp, txn, Some(df.schema), st)
    } finally fs.delete(new Path(tmp), true)
  }

  /** move the `.parquet` files under `stagedDir` (at any depth) into
    * `table`'s data dir with run-unique names; returns their entries,
    * RELATIVE to the root, for a [[commit]]. Moved files are invisible
    * until a commit lists them; files no commit lists are orphans, which
    * [[expireSnapshots]] reclaims. */
  def moveIn(stagedDir: String, table: String = ""): Seq[FileEntry] = {
    val staged = listParquet(fs, new Path(stagedDir))
    val dataDir = new Path(root, dataPrefix(table))
    if (staged.nonEmpty) fs.mkdirs(dataDir)
    staged.zipWithIndex.map { case ((p, size), i) =>
      val name = s"f-$runId-${java.util.UUID.randomUUID().toString.take(8)}-$i.parquet"
      val dst = new Path(dataDir, name)
      if (!fs.rename(p, dst))
        throw new java.io.IOException(s"failed to move $p into $dst")
      FileEntry(dataPrefix(table) + name, size)
    }
  }

  /** Maintenance: expire old table versions — the Iceberg expire_snapshots
    * analogue. Keeps the newest `keepVersions` metadata docs and deletes
    * older metadata files and the manifests only they reference. Data
    * files are never expired with a version: the table is append-only, so
    * the newest version lists every committed file. Data files no kept
    * version lists, in any table's data dir (moved in by a writer that
    * never committed them), go through the orphan pass once older than
    * `orphanGraceMs`; a log with no version deletes nothing. Returns the
    * number of data files deleted. Run as a maintenance job, never concurrently with
    * readers that may still be resolving an expired version; writers are
    * unaffected (they CAS against the newest version only, and a staging
    * dir survives while anything under it is younger than
    * `orphanGraceMs`). */
  def expireSnapshots(keepVersions: Int = 1,
                      orphanGraceMs: Long = 3600000L): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    val versions = liveVersions()
    // no version vouches for any file (another layout's tables may sit here)
    if (versions.isEmpty) return 0
    val (drop, keep) = versions.splitAt(math.max(0, versions.length - keepVersions))
    val keptStates = keep.map(v => resolved(parseMeta(fs, versionPath(v))))
    val retained: Set[String] = keptStates.flatMap(_.files.map(_.path)).toSet
    val retainedManifests: Set[String] =
      keptStates.flatMap(_.manifestRefs.map(_.path)).toSet
    var deleted = 0
    // read the dropped versions' manifest refs BEFORE deleting anything —
    // versions may share manifest files
    val dropManifests = drop.flatMap(v => parseMeta(fs, versionPath(v)).manifestRefs)
    drop.foreach(v => fs.delete(versionPath(v), false))
    dropManifests.map(_.path).distinct.filterNot(retainedManifests)
      .foreach(p => fs.delete(new Path(root, p), false))
    // ORPHANS: data files referenced by NO retained version — crash debris
    // from a writer that died between moving files in and its CAS commit.
    // The age grace protects a LIVE concurrent writer's just-moved,
    // not-yet-committed files (Iceberg's remove_orphan_files guards the
    // same way); pass 0 only when no writers are running.
    // Every table's data dir is swept, whether or not a version lists it.
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    dataDirs().foreach { case (dir, rel) =>
      fs.listStatus(dir).foreach { f =>
        val n = f.getPath.getName
        if (!n.startsWith(".") && !retained.contains(s"$rel/$n") &&
            f.getModificationTime < cutoff &&
            fs.delete(f.getPath, false)) deleted += 1
      }
    }
    // orphan MANIFESTS (a writer that died between writeManifest and its
    // CAS) and TEMP DEBRIS: a writer that died between creating its
    // candidate metadata (.tmp-*) and publishAtomic, or mid-append before
    // its staging directory (_tmp-*) was consumed. Never referenced by any
    // version, so only the age grace gates deletion — without this pass a
    // crashed writer's staged parquet (potentially the size of a whole
    // commit) accumulates forever. A staging DIRECTORY is aged by the
    // newest entry under it, not by its own mtime: a live append keeps
    // writing fresh files into a dir created long ago.
    fs.listStatus(metaDir).foreach { f =>
      val n = f.getPath.getName
      if (f.getModificationTime < cutoff &&
          (n.startsWith(".tmp-") || n.startsWith("m-") && !retainedManifests.contains(s"$LogDir/$n")))
        fs.delete(f.getPath, false)
    }
    fs.listStatus(new Path(root)).foreach { f =>
      if (f.getPath.getName.startsWith("_tmp-") && newestMtime(f) < cutoff)
        fs.delete(f.getPath, true)
    }
    deleted
  }

  /** every table's data dir — `data/` of tables up to two levels under the
    * root (`sinks/<sink>/data/`) — with its path relative to the root. The
    * log dir and `_`- or `.`-prefixed (staging) dirs are not walked. */
  private def dataDirs(dir: Path = new Path(root), rel: String = "", depth: Int = 2): Seq[(Path, String)] =
    fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { f =>
      val n = f.getPath.getName
      val r = if (rel.isEmpty) n else s"$rel/$n"
      if (n.startsWith("_") || n.startsWith(".") || r == LogDir) Seq.empty
      else if (n == "data") Seq(f.getPath -> r)
      else if (depth > 0) dataDirs(f.getPath, r, depth - 1)
      else Seq.empty
    }

  /** newest modification time of `f` and everything under it. A path that
    * vanishes mid-walk belongs to a writer that just finished: report it as
    * fresh so the caller leaves it alone. */
  private def newestMtime(f: FileStatus): Long =
    if (!f.isDirectory) f.getModificationTime
    else try (f.getModificationTime +: fs.listStatus(f.getPath).map(newestMtime)).max
    catch { case _: java.io.FileNotFoundException => Long.MaxValue }

  // ------------------------------------------------------------- internals

  private def alreadyCommittedResult(st: TableState, txn: String): CommitResult = {
    val snap = st.snapshots.find(_.txn.contains(txn)).get
    CommitResult(snap.id, alreadyCommitted = true,
      snap.added.map(_.size).sum, snap.added.size)
  }

  /** the recorded schemas once `slices` land: a table's first files record
    * their schema, later files the union with it ([[unionSchema]]). A table
    * whose schema is unknown has no entry, and reads of it infer. */
  private def nextSchemas(st: TableState, slices: Seq[Slice]): Map[String, String] = {
    val written = slices.filter(_.files.nonEmpty)
    val fresh = written.map(_.table).toSet.filterNot(t =>
      st.snapshots.exists(_.added.exists(_.path.startsWith(dataPrefix(t)))))
    written.foldLeft((st.schemaDdl, fresh)) { case ((m, first), s) =>
      val t = s.schema.map(asNullable)
      val next = if (first(s.table)) t else unionSchema(m.get(s.table).map(parseSchema), t)
      (next.fold(m - s.table)(x => m.updated(s.table, x.toDDL)), first - s.table)
    }._1
  }

  /** commit pre-moved slices with txn idempotence via the CAS loop; the
    * first attempt commits against `current`, each retry re-reads. */
  private def commitMoved(current: TableState, slices: Seq[Slice], txn: Option[String],
                          summary: Option[String], id: String): CommitResult = {
    val moved = slices.flatMap(_.files)
    val operation = if (moved.isEmpty) "metadata" else "append"
    var st = current
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      if (attempt > 1) st = latest()
      txn.filter(st.txnKeys.contains).foreach { t =>
        // another writer (or a previous run of this job) already committed
        // this transaction: our files are redundant — remove and defer
        moved.foreach(f => fs.delete(new Path(root, f.path), false))
        return alreadyCommittedResult(st, t)
      }
      val snap = SnapshotInfo(id, runId, txn, operation, moved, summary)
      val (refs, written) = planFiles(st, moved)
      if (casCommit(st, buildMeta(st, snap, refs, nextSchemas(st, slices))))
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

  /** `schemaDdl`: each table's data files' Spark schema as DDL, by table
    * (`""` for the log's own), recorded at commit so reads skip inference —
    * the union of the files' columns when their column sets differ; no
    * entry when some listed file's schema is unknown or two files disagree
    * on a column's type. DDL, not JSON: escaped schema JSON was most of a
    * root log doc's bytes and parse time. Parsed only when asked for. */
  final case class TableState(version: Long, snapshotId: Option[String],
                              files: Seq[FileEntry],
                              txnKeys: Map[String, String],
                              snapshots: Seq[SnapshotInfo],
                              manifestRefs: Seq[ManifestRef] = Seq.empty,
                              schemaDdl: Map[String, String] = Map.empty) {
    def schemaOf(table: String): Option[StructType] = schemaDdl.get(table).map(parseSchema)
    def schema: Option[StructType] = schemaOf("")
  }

  private def parseSchema(ddl: String): StructType = StructType.fromDDL(ddl)
  object TableState {
    val Empty: TableState = TableState(0L, None, Seq.empty, Map.empty, Seq.empty)
  }

  /** files moved into `table` ([[SnapshotTable.moveIn]]) for one
    * [[SnapshotTable.commit]], with their Spark schema when known. */
  final case class Slice(table: String, files: Seq[FileEntry], schema: Option[StructType])

  /** where `table`'s data files live, relative to the log's root */
  private def dataPrefix(table: String): String =
    if (table.isEmpty) "data/" else s"$table/data/"

  final case class CommitResult(snapshotId: String, alreadyCommitted: Boolean,
                                addedBytes: Long, addedFiles: Int)

  private val Mapper = new ObjectMapper()

  /** the version-doc format this code writes, and the only one it reads */
  private val Format = "graft-snapshot-v2"

  /** the log's dir under the table root */
  private val LogDir = "metadata"

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
    * file reads make every field nullable, at every depth (and it is kept
    * with no field metadata, so its DDL form is exact) */
  private def asNullable(t: StructType): StructType = nullable(t).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true, metadata = Metadata.empty)))
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

  /** read the version doc at `path`; a doc of another format is refused by name */
  private def parseMeta(fs: FileSystem, path: Path): TableState = {
    val doc = Mapper.readTree(readBytes(fs, path))
    val format = Option(doc.get("format")).map(_.asText()).getOrElse("none")
    if (format != Format)
      throw new IllegalStateException(s"$path is a $format version doc; this reader reads $Format only")
    val snaps = doc.get("snapshots").elements().asScala.map(s => SnapshotInfo(
      s.get("id").asText(), s.get("run").asText(), Option(s.get("txn")).map(_.asText()),
      s.get("operation").asText(), fileEntries(s.get("added")),
      Option(s.get("summary")).map(_.asText()))).toSeq
    val manifests = Option(doc.get("manifests")).toSeq.flatMap(_.elements().asScala.map(m =>
      ManifestRef(m.get("path").asText(), m.get("count").asInt(), m.get("bytes").asLong())))
    TableState(doc.get("version").asLong(),
      Option(doc.get("snapshot_id")).map(_.asText()),
      if (manifests.isEmpty) snaps.flatMap(_.added) else Seq.empty,
      doc.get("txn_keys").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap,
      snaps, manifests,
      Option(doc.get("schemas")).toSeq.flatMap(_.properties().asScala)
        .map(e => e.getKey -> e.getValue.asText()).toMap)
  }

  /** parse a manifest file: {"entries":[{path,size}…]}. */
  private def parseManifest(bytes: Array[Byte]): Seq[FileEntry] =
    fileEntries(Mapper.readTree(bytes).get("entries"))

  /** the `.parquet` files at any depth under `dir`, as `listFiles(dir,
    * true)` finds them, but walked with `listStatus`: `listFiles` builds a
    * `LocatedFileStatus` per file, which loads the file's owner and mode —
    * a forked `ls -ld` per file on the local filesystem without Hadoop's
    * native library. */
  private def listParquet(fs: FileSystem, dir: Path): Seq[(Path, Long)] = {
    def walk(d: Path): Seq[(Path, Long)] = fs.listStatus(d).toSeq.flatMap { f =>
      val n = f.getPath.getName
      if (f.isDirectory) walk(f.getPath)
      else if (!n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet"))
        Seq((f.getPath, f.getLen))
      else Seq.empty
    }
    if (fs.exists(dir)) walk(dir) else Seq.empty
  }
}
