package graft

/** Scratch directories under `java.io.tmpdir` that one exit hook deletes,
  * with everything under them, when the JVM exits. */
object ScratchDir {
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d): Unit)))

  /** a new directory `<prefix><random>`, deleted at JVM exit */
  def apply(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dirs.add(dir)
    dir.toString
  }
}
