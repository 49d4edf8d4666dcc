package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.checkpoint.Registry
import graft.io.LocalFs
import graft.model.Sinks
import graft.pipeline.PipelineRunner
import graft.sources.Transcripts

/** Hadoop's stock `LocalFileSystem` — a forked `chmod` per file — under
  * the scheme `stock:`, so that a run into a `stock:` root writes through
  * it (`LocalFs.get` hands every scheme but `file:` to Hadoop). */
class StockLocalFs extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("stock:///")
})

/** [[LocalFs]] leaves on disk what Hadoop's `LocalFileSystem` leaves: the
  * same modes, the same `.crc` sidecars, the same rows. */
class LocalFsSpec extends SparkSpec {

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def mode(p: String): Int = mode(Paths.get(p))

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  /** a conf whose `file:` filesystem is Hadoop's own LocalFileSystem */
  private def stockConf(umask: String = "022"): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", umask)
    conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    conf
  }

  test("files, .crc sidecars and nested dirs get the modes LocalFileSystem gives them") {
    for (umask <- Seq("022", "027", "077")) {
      val conf = stockConf(umask)
      val dir = scratchDir("graft-localfs")
      val stock = FileSystem.newInstance(URI.create("file:///"), conf)
      val ours = LocalFs.get(new Path(dir), conf)
      assert(stock.getClass == classOf[LocalFileSystem] && ours.isInstanceOf[LocalFs])
      try for ((name, fs) <- Seq("stock" -> stock, "ours" -> ours)) {
        assert(fs.mkdirs(new Path(s"$dir/$name/a/b/c")))
        val out = fs.create(new Path(s"$dir/$name/a/b/c/f.bin"))
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
      } finally stock.close()
      // mode() of a missing path throws: the .crc sidecars exist on both
      for (rel <- Seq("", "/a", "/a/b", "/a/b/c", "/a/b/c/f.bin", "/a/b/c/.f.bin.crc"))
        assert(mode(s"$dir/ours$rel") == mode(s"$dir/stock$rel"), s"umask $umask: $rel")
      for (rel <- Seq("f.bin", ".f.bin.crc"))
        assert(Files.readAllBytes(Paths.get(s"$dir/ours/a/b/c/$rel")).toSeq ==
          Files.readAllBytes(Paths.get(s"$dir/stock/a/b/c/$rel")).toSeq, rel)
      assert(mode(s"$dir/ours/a/b/c/f.bin") == (octal("666") & ~octal(umask)), umask)
      assert(mode(s"$dir/ours/a/b/c") == (octal("777") & ~octal(umask)), umask)
    }
  }

  test("a sticky mode goes through Hadoop and is applied; setgid dirs keep setgid") {
    val dir = scratchDir("graft-localfs-bits")
    val conf = stockConf()
    val ours = LocalFs.get(new Path(dir), conf)
    val sticky = new Path(s"$dir/sticky")
    assert(ours.mkdirs(sticky))
    ours.setPermission(sticky, new FsPermission(octal("1750").toShort))
    assert(mode(s"$dir/sticky") == octal("1750"))
    ours.setPermission(sticky, new FsPermission(octal("750").toShort))
    assert(mode(s"$dir/sticky") == octal("750"))
    // a directory made under a setgid one inherits setgid, which chmod(1)
    // keeps: both filesystems leave the same mode (Hadoop's FsPermission
    // cannot express setgid, so it is set here directly)
    assert(ours.mkdirs(new Path(s"$dir/shared")))
    Files.setAttribute(Paths.get(s"$dir/shared"), "unix:mode", Integer.valueOf(octal("2755")))
    assert(mode(s"$dir/shared") == octal("2755"))
    val stock = FileSystem.newInstance(URI.create("file:///"), conf)
    try {
      assert(stock.mkdirs(new Path(s"$dir/shared/stock/x")))
      assert(ours.mkdirs(new Path(s"$dir/shared/ours/x")))
    } finally stock.close()
    for (rel <- Seq("", "/x")) {
      assert(mode(s"$dir/shared/ours$rel") == mode(s"$dir/shared/stock$rel"), rel)
      assert((mode(s"$dir/shared/ours$rel") & octal("2000")) != 0, rel)
    }
  }

  test("a groups = 4 run root: LocalFileSystem's modes, and the rows a LocalFileSystem root holds") {
    val input = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
    val conf = spark.sparkContext.hadoopConfiguration
    val umask = "027" // not the process umask: a skipped mode change would show
    val saved = Option(conf.get("fs.permissions.umask-mode"))
    conf.set("fs.permissions.umask-mode", umask)
    conf.set("fs.stock.impl", classOf[StockLocalFs].getName)
    val ours = scratchDir("graft-localfs-run")
    val stockDir = scratchDir("graft-stockfs-run")
    try {
      PipelineRunner.run(input, ours, groups = 4)
      PipelineRunner.run(input, s"stock://$stockDir", groups = 4)
    } finally saved.fold(conf.unset("fs.permissions.umask-mode"))(conf.set("fs.permissions.umask-mode", _))

    def modes(root: String): Map[(Boolean, Int), Int] = {
      val under = Files.walk(Paths.get(root)).iterator().asScala.filter(_ != Paths.get(root)).toSeq
      assert(under.exists(_.getFileName.toString.endsWith(".crc")), root)
      under.groupBy(p => (Files.isDirectory(p), mode(p))).map { case (k, v) => k -> v.size }
    }
    val fileMode = octal("666") & ~octal(umask)
    val dirMode = octal("777") & ~octal(umask)
    for (root <- Seq(ours, stockDir))
      assert(modes(root).keySet == Set((false, fileMode), (true, dirMode)), s"$root: ${modes(root)}")
    assert(modes(ours) == modes(stockDir))

    def rows(root: String, sink: String) =
      new Registry(root, spark).readSink(sink).map(_.collect()
        .map(_.toSeq.mkString("\u0001")).sorted.toSeq).getOrElse(Seq.empty)
    for (s <- Sinks.All) {
      val r = rows(ours, s)
      assert(r == rows(s"stock://$stockDir", s), s)
      if (s != Sinks.Dropped) assert(r.nonEmpty, s)
    }
  }
}
