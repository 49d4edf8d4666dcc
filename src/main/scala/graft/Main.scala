package graft

import graft.pipeline.PipelineRunner
import graft.sources.Transcripts

/** spark-submit entry point: run (or resume) the checkpointed transcript
  * pipeline.
  *
  * Usage: graft.Main <sfDir|synth:N> <outRoot> [groups] [failAfterGroup]
  *   sfDir        directory with events.parquet (transcripts derived), or
  *   synth:N      synthesize N transcript turns (scale benchmarking)
  *   outRoot      checkpoint+sink root directory
  *   groups       batch-group count (default 4); a root's count is fixed
  *                by its first run, and a rerun with another is refused
  *   failAfterGroup  inject a crash after this many groups commit (testing)
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Main <sfDir|synth:N> <outRoot> [groups] [failAfterGroup]")
    val spark = LocalSession("graft-pipeline", LocalSession.cpus,
      master = sys.env.get("SPARK_GRAFT_MASTER"))

    val input =
      if (args(0).startsWith("synth:"))
        Transcripts.synthesize(spark, args(0).stripPrefix("synth:").toLong, nConvs = 100000L)
      else Transcripts.fromEvents(spark, args(0))
    val groups = if (args.length > 2) args(2).toInt else 4
    val failAfter = if (args.length > 3) args(3).toInt else Int.MaxValue

    val t0 = System.nanoTime()
    val ran = PipelineRunner.run(input, args(1), groups, failAfter)
    val secs = (System.nanoTime() - t0) / 1e9
    val m = PipelineRunner.observedMetrics(args(1), spark)
    println(s"[graft] groups run now: ${ran.map(_.group).mkString(",")} in ${f"$secs%.1f"}s")
    m.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"[graft] $k = $v") }
    spark.stop()
  }
}
