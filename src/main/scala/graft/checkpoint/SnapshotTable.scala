package graft.checkpoint

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
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
  * Transactional idempotence: a commit may carry a `txn` key, recorded on
  * its snapshot; a commit whose key some snapshot already holds is
  * rejected as `alreadyCommitted` (with the original snapshot id, and
  * whether this writer's run made it), which is what makes job retries
  * and multi-writer races effectively-once — the same role as the
  * reference's registrar ACK gate (filebeat/beater/acker.go:37-68).
  *
  * Operations: one write, one read. A writer stages parquet under a
  * [[stagingDir]], moves it into any of the log's tables with [[moveIn]],
  * then [[commit]]s the moved files with a txn key and an optional
  * `summary` string — Iceberg's snapshot summary, where the root log keeps
  * each group's counts for metrics read with no Spark job; no files makes
  * it METADATA-ONLY. A reader takes [[state]] or [[stateAt]] a version and
  * [[readTable]]s it. Every table is APPEND-ONLY, so the newest version
  * lists every file ever committed; every version's metadata is retained,
  * so any historical snapshot remains readable (time travel).
  *
  * The version doc (`graft-snapshot-v3`) records each fact once: it is
  * `{format, schemas, snapshots}`, each snapshot `{id, run, txn?, summary?,
  * added}`. As a Delta Lake commit records only its own actions, the rest
  * is derived on read: the version from the doc's name, the txn keys from
  * the snapshots, a snapshot's operation from whether it added files, a
  * version's files from what its snapshots added ([[readTable]] and
  * idempotence read nothing else). `graft-snapshot-v2` docs, which also
  * stored those derived keys, still read. The history grows with commit
  * count, and every commit rewrites the whole doc. Measured on a pipeline
  * root (groups = 4 over sf0.01 at local[4]):
  * each ack adds 512 bytes — about 0.19 KB of ids, txn key and counts
  * plus about 80 bytes per listed file, 4 files here — so the fourth
  * version doc is 3.4 KB (v2 docs: 725 bytes per ack, 4.4 KB).
  *
  * Local roots: on a `file:` root every metadata write, file move and
  * listing goes through [[graft.io.LocalFs]], so none forks a `chmod` or
  * `ls -ld` (the stock local filesystem's, without Hadoop's native library).
  */
final class SnapshotTable(val root: String, spark: SparkSession,
                          val runId: String = Registry.newRunId()) {

  import SnapshotTable._

  private val fs: FileSystem =
    LocalFs.get(new Path(root), spark.sparkContext.hadoopConfiguration)
  private val metaDir = new Path(root, LogDir)

  // ------------------------------------------------------------- metadata

  /** current committed state — the newest version doc: one listing and
    * one read. Version 0 = the empty table. */
  def state(): TableState =
    liveVersions().lastOption.fold(TableState.Empty)(readMeta)

  private def versionPath(v: Long): Path = new Path(metaDir, f"v$v%06d.json")

  private def readMeta(v: Long): TableState = parseMeta(fs, versionPath(v), v)

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

  private def buildMeta(prev: TableState, snap: SnapshotInfo,
                        schemas: Map[String, String]): ObjectNode = {
    val doc = Mapper.createObjectNode()
    doc.put("format", Format)
    val sc = doc.putObject("schemas")
    schemas.foreach { case (table, ddl) => sc.put(table, ddl) }
    val sArr = doc.putArray("snapshots")
    (prev.snapshots :+ snap).foreach { s =>
      val o = sArr.addObject()
      o.put("id", s.id); o.put("run", s.run)
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

  /** snapshot-isolated read of one of the log's tables in `st` (default:
    * the newest version): the files its snapshots added, with the table's
    * recorded schema. None when the table holds no file. */
  def readTable(table: String, st: TableState = state()): Option[DataFrame] = {
    val files = st.files.filter(_.path.startsWith(dataPrefix(table)))
    if (files.isEmpty) None else Some(load(files, st.schemaOf(table)))
  }

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

  /** committed state AT `version`; None once expired (or never committed).
    * A time-travel read is `stateAt(v).flatMap(readTable(t, _))`: every
    * commit is one version. */
  def stateAt(version: Long): Option[TableState] =
    if (version < 1 || !fs.exists(versionPath(version))) None else Some(readMeta(version))

  // ------------------------------------------------------------- writing

  /** Commit `slices` — files already moved into their tables with
    * [[moveIn]] — and `summary` as ONE snapshot with id `id` under `txn`:
    * every slice becomes visible at the same CAS, or none does. A txn key
    * already committed returns `alreadyCommitted` with the original
    * snapshot id and deletes the slices' files (a racing loser's copies).
    * No slices makes it a METADATA-ONLY commit (operation `metadata`). No
    * Spark job runs. Each attempt reads the newest state: a writer that
    * committed since owns v(N+1), so the publish fails and the next
    * attempt re-reads. */
  def commit(txn: String, summary: Option[String], slices: Seq[Slice] = Seq.empty,
             id: String = newSnapshotId()): CommitResult = {
    val moved = slices.flatMap(_.files)
    var attempt = 0
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val st = state()
      st.snapshotOf(txn).foreach { s =>
        // another writer (or a previous run of this job) already committed
        // this transaction: our files are redundant — remove and defer
        moved.foreach(f => fs.delete(new Path(root, f.path), false))
        return committed(s)
      }
      val snap = SnapshotInfo(id, runId, Some(txn), moved, summary)
      if (casCommit(st, buildMeta(st, snap, nextSchemas(st, slices))))
        return CommitResult(snap.id, alreadyCommitted = false,
          moved.map(_.size).sum, moved.size, owned = true)
    }
    throw new java.io.IOException(
      s"commit into $root failed after $MaxCommitAttempts CAS attempts — " +
        "the metadata pointer is not advancing (filesystem fault?)")
  }

  /** a fresh snapshot id of this writer, for a caller that names a
    * [[commit]] before making it. */
  def newSnapshotId(): String = s"s-$runId-${java.util.UUID.randomUUID().toString.take(8)}"

  /** this writer's private staging dir for `kind`, `<root>/_tmp-<kind>-<runId>`:
    * a caller writes parquet into it and [[moveIn]]s it. The one namer of
    * the `_tmp-` dirs that [[expireSnapshots]] reclaims once aged, when
    * the writer died before its cleanup. */
  def stagingDir(kind: String): String = new Path(root, s"$StagingPrefix$kind-$runId").toString

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
    * older ones. Data files are never expired with a version: the table
    * is append-only, so the newest version lists every committed file.
    * Temp debris (a dead writer's candidate docs and `_tmp-` staging dirs)
    * and data files the newest version does not list, in any table's data
    * dir (moved in by a writer that never committed them), are deleted
    * once older than `orphanGraceMs`; a log with no version deletes temp
    * debris only. Returns the number of data files deleted. Run as a
    * maintenance job, never concurrently with readers that may still be
    * resolving an expired version; writers are
    * unaffected (they CAS against the newest version only, and a staging
    * dir survives while anything under it is younger than
    * `orphanGraceMs`). */
  def expireSnapshots(keepVersions: Int = 1,
                      orphanGraceMs: Long = 3600000L): Int = {
    require(keepVersions >= 1, "must keep at least the current version")
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    // TEMP DEBRIS, with or without a version: a writer that died between
    // creating its candidate metadata (.tmp-*) and publishAtomic, or before
    // its staging dir (_tmp-*) was consumed; and the manifest files (m-*)
    // older writers kept beside the docs, which nothing reads now. No
    // version references them, so only the age grace gates deletion. A
    // staging DIRECTORY is aged by the newest entry under it, not by its
    // own mtime: a live write keeps adding fresh files into an old dir.
    for (f <- entries(metaDir, n => n.startsWith(".tmp-") || n.startsWith("m-"))
         if f.getModificationTime < cutoff) fs.delete(f.getPath, false)
    for (f <- entries(new Path(root), _.startsWith(StagingPrefix)) if newestMtime(f) < cutoff)
      fs.delete(f.getPath, true)
    val versions = liveVersions()
    // no version vouches for any file (another layout's tables may sit here)
    if (versions.isEmpty) return 0
    val (drop, keep) = versions.splitAt(math.max(0, versions.length - keepVersions))
    // append-only: the newest version lists every file an older one does
    val retained: Set[String] = readMeta(keep.last).files.map(_.path).toSet
    var deleted = 0
    drop.foreach(v => fs.delete(versionPath(v), false))
    // ORPHANS: data files referenced by NO retained version — crash debris
    // from a writer that died between moving files in and its CAS commit.
    // The age grace protects a LIVE concurrent writer's just-moved,
    // not-yet-committed files (Iceberg's remove_orphan_files guards the
    // same way); pass 0 only when no writers are running.
    // Every table's data dir is swept, whether or not a version lists it.
    dataDirs().foreach { case (dir, rel) =>
      fs.listStatus(dir).foreach { f =>
        val n = f.getPath.getName
        if (!n.startsWith(".") && !retained.contains(s"$rel/$n") &&
            f.getModificationTime < cutoff &&
            fs.delete(f.getPath, false)) deleted += 1
      }
    }
    deleted
  }

  /** the entries of `dir` whose names pass `keep` (none when `dir` is
    * absent), less any a live writer consumed before its status is read */
  private def entries(dir: Path, keep: String => Boolean): Seq[FileStatus] =
    names(dir).filter(keep).flatMap { n =>
      try Some(fs.getFileStatus(new Path(dir, n)))
      catch { case _: java.io.FileNotFoundException => None }
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

  /** the result of a commit whose txn key `snap` already holds */
  private def committed(snap: SnapshotInfo): CommitResult =
    CommitResult(snap.id, alreadyCommitted = true,
      snap.added.map(_.size).sum, snap.added.size, owned = snap.run == runId)

  /** the recorded schemas once `slices` land: a table's first files record
    * their schema, later files the union with it ([[unionSchema]]). A table
    * whose schema is unknown has no entry, and reads of it infer. */
  private def nextSchemas(st: TableState, slices: Seq[Slice]): Map[String, String] = {
    val written = slices.filter(_.files.nonEmpty)
    val fresh = written.map(_.table).toSet.filterNot(t =>
      st.files.exists(_.path.startsWith(dataPrefix(t))))
    written.foldLeft((st.schemaDdl, fresh)) { case ((m, first), s) =>
      val t = s.schema.map(asNullable)
      val next = if (first(s.table)) t else unionSchema(m.get(s.table).map(parseSchema), t)
      (next.fold(m - s.table)(x => m.updated(s.table, x.toDDL)), first - s.table)
    }._1
  }
}

object SnapshotTable {

  /** CAS retry bound: a lost race always advances the observed version, so
    * a writer that exhausts this many attempts is fighting a filesystem
    * fault (rename/link returning false without progress), not contention —
    * fail loudly instead of spinning rewrite jobs forever. */
  private val MaxCommitAttempts = 50

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

  /** `summary`: free-form text the committer attached to the snapshot (the
    * role of Iceberg's snapshot summary), stored in the version doc. */
  final case class SnapshotInfo(id: String, run: String, txn: Option[String],
                                added: Seq[FileEntry], summary: Option[String] = None) {
    /** `metadata` for a snapshot that added no file, else `append` */
    def operation: String = if (added.isEmpty) "metadata" else "append"
  }

  /** `schemaDdl`: each table's data files' Spark schema as DDL, by table
    * (`""` for the log's own), recorded at commit so reads skip inference —
    * the union of the files' columns when their column sets differ; no
    * entry when some listed file's schema is unknown or two files disagree
    * on a column's type. DDL, not JSON: escaped schema JSON was most of a
    * root log doc's bytes and parse time. Parsed only when asked for. */
  final case class TableState(version: Long, snapshots: Seq[SnapshotInfo],
                              schemaDdl: Map[String, String] = Map.empty) {
    /** every file the version lists: what its snapshots added */
    def files: Seq[FileEntry] = snapshots.flatMap(_.added)
    /** every committed txn key: what its snapshots carry */
    lazy val txnKeys: Set[String] = snapshots.flatMap(_.txn).toSet
    /** the snapshot that committed `txn` */
    def snapshotOf(txn: String): Option[SnapshotInfo] = snapshots.find(_.txn.contains(txn))
    def schemaOf(table: String): Option[StructType] = schemaDdl.get(table).map(parseSchema)
  }

  private def parseSchema(ddl: String): StructType = StructType.fromDDL(ddl)
  object TableState {
    val Empty: TableState = TableState(0L, Seq.empty)
  }

  /** files moved into `table` ([[SnapshotTable.moveIn]]) for one
    * [[SnapshotTable.commit]], with their Spark schema when known. */
  final case class Slice(table: String, files: Seq[FileEntry], schema: Option[StructType])

  /** where `table`'s data files live, relative to the log's root */
  private def dataPrefix(table: String): String =
    if (table.isEmpty) "data/" else s"$table/data/"

  /** `owned`: the snapshot holding the commit's txn key is this writer's
    * run's — false only when `alreadyCommitted` by another run. */
  final case class CommitResult(snapshotId: String, alreadyCommitted: Boolean,
                                addedBytes: Long, addedFiles: Int, owned: Boolean)

  private val Mapper = new ObjectMapper()

  /** the version-doc format this code writes */
  private val Format = "graft-snapshot-v3"

  /** the formats this code reads: its own, and v2, whose keys that v3
    * derives (`version`, `txn_keys`, snapshot ids, operations) are ignored */
  private val Readable = Seq("graft-snapshot-v2", Format)

  /** the log's dir under the table root */
  private val LogDir = "metadata"

  /** the name prefix of every staging dir under the root ([[SnapshotTable.stagingDir]]) */
  private val StagingPrefix = "_tmp-"

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

  /** read the version doc at `path`, version `version`; a doc of a format
    * not [[Readable]] is refused by name, and so is a torn one (empty, or
    * cut off mid-write). Unknown keys are ignored: v2's derived keys, and
    * the `manifests` that older writers pointed at (the snapshot history
    * lists every file). */
  private def parseMeta(fs: FileSystem, path: Path, version: Long): TableState = {
    val bytes = readBytes(fs, path)
    def torn(cause: Throwable) =
      new IllegalStateException(s"$path is a torn or truncated version doc (${bytes.length} bytes)", cause)
    val doc = try Mapper.readTree(bytes) catch { case e: JsonProcessingException => throw torn(e) }
    if (doc.isMissingNode) throw torn(null)
    val format = Option(doc.get("format")).map(_.asText()).getOrElse("none")
    if (!Readable.contains(format))
      throw new IllegalStateException(
        s"$path is a $format version doc; this reader reads ${Readable.mkString(" and ")}")
    val snaps = doc.get("snapshots").elements().asScala.map(s => SnapshotInfo(
      s.get("id").asText(), s.get("run").asText(), Option(s.get("txn")).map(_.asText()),
      fileEntries(s.get("added")), Option(s.get("summary")).map(_.asText()))).toSeq
    TableState(version, snaps,
      Option(doc.get("schemas")).toSeq.flatMap(_.properties().asScala)
        .map(e => e.getKey -> e.getValue.asText()).toMap)
  }

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
