package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem — `.crc` sidecars included — with
  * no forked process per file. Without Hadoop's native library,
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process, and
  * it is called on every `create` (the file and its `.crc`) and every
  * directory `mkdirs` makes. Here an rwx mode is set through
  * `Files.setPosixFilePermissions`. Two cases still go through Hadoop,
  * because NIO cannot give the mode `chmod` gives: a mode with the sticky
  * bit, and a directory that has setuid or setgid set (as a new directory
  * under a setgid one does), which `chmod` keeps and NIO would clear. The
  * modes on disk are the ones Hadoop's `LocalFileSystem` gives. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  private final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val file = pathToFile(p).toPath
      val current = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val setIdDir = (current & 0xf000) == 0x4000 && (current & 0xc00) != 0 // S_IFDIR, S_ISUID|S_ISGID
      if ((mode & ~0x1ff) != 0 || setIdDir) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posix(mode))
    }
  }

  // declared OWNER_READ … OTHERS_EXECUTE: mode bits 8 down to 0
  private val Perms = PosixFilePermission.values()

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Perms.indices if (mode & (1 << (8 - i))) != 0) s.add(Perms(i))
    s
  }

  private val Root = java.net.URI.create("file:///")

  /** the filesystem for a checkpoint root: a new [[LocalFs]] over `conf`
    * (shared, not copied) for `file:` paths, `path.getFileSystem(conf)`
    * for any other scheme. */
  def get(path: Path, conf: Configuration): FileSystem = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") path.getFileSystem(conf)
    else {
      val fs = new LocalFs
      fs.setConf(conf)
      fs.initialize(Root, conf)
      fs
    }
  }

  /** writer options that make a Spark write's tasks, Parquet writer and
    * committer use [[LocalFs]] for `file:` paths: Spark copies writer
    * options into the job's Hadoop conf. The cache is bypassed, or the
    * JVM-wide cached `file:` filesystem would be returned instead. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}
