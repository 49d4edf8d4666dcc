package graft

import java.nio.file.{Files, Paths}
import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** CROSS-PROCESS gate for the snapshot commit point: separate JVMs racing
  * one version through `SnapshotTable.publishAtomic`. The in-process races
  * in SnapshotTableSpec cannot catch the one bug class this primitive
  * exists for — POSIX rename(2) silently REPLACING a concurrent winner's
  * metadata doc — because JVM-internal scheduling and shared FileSystem
  * state can mask it; only genuinely separate processes hammering the same
  * directory exercise the syscall-level EEXIST guarantee of link(2). */
class CasRaceSpec extends AnyFunSuite {

  test("three JVMs racing commits: every version claimed exactly once, " +
    "losers retry onto later versions, no commit silently replaced") {
    val root = ScratchDir("graft-casrace")
    val go = Paths.get(root, "go")
    val perChild = 6
    val children = Seq("A", "B", "C")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val outputs = scala.collection.mutable.Map.empty[String, String]
    val procs = children.map { id =>
      val buf = new StringBuilder
      val p = Process(Seq(javaBin, "-cp", cp, "graft.checkpoint.CasRaceChild",
        root, id, go.toString, perChild.toString))
        .run(ProcessLogger(line => buf.synchronized { buf ++= line += '\n' },
          _ => ()))
      (id, p, buf)
    }
    Thread.sleep(300) // let all three reach the barrier spin
    Files.createFile(go)
    procs.foreach { case (id, p, buf) =>
      val code = p.exitValue()
      outputs(id) = buf.synchronized(buf.toString)
      assert(code == 0, s"child $id failed (exit $code): ${outputs(id)}")
    }
    // each child claims exactly perChild versions
    val claims: Map[String, Seq[Long]] = children.map { id =>
      id -> outputs(id).linesIterator
        .filter(_.startsWith("WON ")).map(_.stripPrefix("WON ").toLong).toSeq
    }.toMap
    claims.foreach { case (id, vs) =>
      assert(vs.size == perChild, s"child $id claimed ${vs.size}")
    }
    // the claimed versions are EXACTLY 1..18 with no duplicates — a
    // rename-replace bug would give two claimants for one version (and a
    // gap elsewhere)
    val all = claims.values.flatten.toSeq
    assert(all.sorted == (1L to (children.size * perChild)).toSeq,
      s"claims not a permutation of 1..${children.size * perChild}: $all")
    // and every version doc on disk names the child that claimed it — the
    // winner's payload was never silently replaced by a racing loser
    claims.foreach { case (id, vs) =>
      vs.foreach { v =>
        val doc = new String(Files.readAllBytes(
          Paths.get(root, "metadata", f"v$v%06d.json")), "UTF-8")
        assert(doc.contains(s""""writer":"$id""""),
          s"v$v claimed by $id but doc is: $doc")
      }
    }
  }
}
