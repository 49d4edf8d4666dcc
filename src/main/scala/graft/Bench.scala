package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main. Writes the full report (every query's wall, every rep's
  * wall) to `target/bench/report.json` and prints a short summary as its
  * last stdout line:
  *   {"metric":...,"value":N,"unit":"sec","sf":...,"scaling":{...},
  *    "report":...}
  *
  * Two parts, over `SPARK_GRAFT_CPUS` cores (default: the host's):
  *  1. per-query wall time for every SparkEntry query over
  *     `SPARK_GRAFT_SF_DIR`: one uncounted warm-up query, then one timed
  *     pass per query; `value` is their sum.
  *  2. N→4N scaling of the read→parse→enrich→route→aggregate pipeline over
  *     a materialized `SPARK_GRAFT_BENCH_ROWS`-turn transcript parquet table
  *     (default 64M, written once from the deterministic generator) at the
  *     levels [[tiers]] derives from the core count. Each level gets one
  *     uncounted warm-up pass, then 3 timed passes interleaved across
  *     levels (so host drift hits every level alike), all of them reported.
  *     Each level reports the median, min and max/min spread of its walls,
  *     each adjacent pair its [[efficiency]] from the medians, unclamped.
  */
object Bench {

  private val Reps = 3
  private val ReportPath = "target/bench/report.json"

  /** cores, cores/4, cores/16 … while ≥ 1, at most three levels. */
  private[graft] def tiers(cores: Int): Seq[Int] =
    Iterator.iterate(cores)(_ / 4).takeWhile(_ >= 1).take(3).toSeq

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** max/min of a level's walls: 1.0 when every rep took the same time. */
  private[graft] def spread(xs: Seq[Double]): Double = xs.max / xs.min

  /** N→4N efficiency thr(4N) / (4 · thr(N)) over the same work, from the
    * two levels' wall seconds. */
  private[graft] def efficiency(secN: Double, sec4N: Double): Double =
    secN / (4.0 * sec4N)

  private def session(cpus: Int): SparkSession = {
    val s = LocalSession(s"graft-bench-$cpus", cpus, logLevel = "ERROR")
    // scan-task sizing: with the default 128 MB bins the ~12 MB bench files
    // pack into ≈ one task per core — a single wave with no load balancing,
    // so one straggler stretches the whole stage. 16 MB bins ⇒ ~1 file per
    // task ⇒ several waves at every parallelism level.
    s.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    s
  }

  /** Materialize the synthesized transcript table once (parquet, snappy) so
    * the measured job is read → parse → enrich → route → aggregate — the
    * north-rule shape — and generator cost/codegen never pollutes it. */
  private def inputPath(rows: Long, cpus: Int): String = {
    // v2: synthesize's conv-id hash and turn_idx width changed (independent
    // cold-path hash, collision-free (conv, turn) identity) — the version
    // segment forces stale caches from the old generator to regenerate
    val path = s"/tmp/graft_bench_input_v2_$rows"
    if (!new java.io.File(s"$path/_SUCCESS").exists()) {
      val s = session(cpus)
      sources.Transcripts.synthesize(s, rows, nConvs = rows / 50,
        hotFraction = 0.2, partitions = 256)
        .write.mode("overwrite").parquet(path)
      s.stop()
    }
    path
  }

  /** one full pipeline pass over the materialized input: the aggregation
    * touches parse fields (`service`), enrich output (`tool_kind`) and the
    * deterministic id, so Catalyst cannot prune the work down to the
    * status-only routing fast path — this measures the real
    * parse→enrich→route cost per turn. Returns (seconds, turns). */
  private def pipelinePass(spark: SparkSession, path: String): (Double, Long) = {
    val input = spark.read.parquet(path)
    val t0 = System.nanoTime()
    val row = pipeline.TranscriptPipeline.transform(input)
      .agg(count(lit(1)), count(col("service")), count(col("tool_kind")),
        count(col("doc_id"))).collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    (sec, row.getLong(0))
  }

  private def num(x: Double): String = f"$x%.3f"

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val benchRows = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROWS", "64000000").toLong

    // --- part 1: per-query timings over the sf dir ---
    // q_dedup_jaccard is excluded: it is the deliberately-quadratic
    // verification oracle for the sketch families (465 s on 5k docs where
    // q_dedup_minhash answers identically in ~10 s); benchmarking it would
    // only measure the oracle, not the engine.
    val spark = session(cores)
    // uncounted warm-up: the alphabetically-first query otherwise absorbs
    // several seconds of one-time session/classload/JIT cost
    try SparkEntry.queries("q_transcripts")(spark, sfDir).count()
    catch { case _: Throwable => }
    val queries = SparkEntry.all.sortBy(_.name)
      .filterNot(_.name == "q_dedup_jaccard")
      .map { q =>
        val t0 = System.nanoTime()
        try q.build(spark, sfDir).count() catch { case _: Throwable => -1L }
        q.name -> (System.nanoTime() - t0) / 1e9
      }
    val total = queries.map(_._2).sum
    spark.stop()

    // --- part 2: N vs 4N scaling over identical materialized input ---
    val path = inputPath(benchRows, cores)
    val levels = tiers(cores)
    val warmup = scala.collection.mutable.Map.empty[Int, Double]
    val walls = scala.collection.mutable.Map(levels.map(_ -> Vector.empty[Double]): _*)
    var turns = 0L
    for (rep <- 0 until Reps; cpus <- levels) {
      val s = session(cpus)
      if (rep == 0) {
        val (sec, n) = pipelinePass(s, path)
        warmup(cpus) = sec
        turns = n
      }
      walls(cpus) :+= pipelinePass(s, path)._1
      s.stop()
    }

    def level(cpus: Int, full: Boolean): String = {
      val w = walls(cpus)
      obj(Seq("median_s" -> num(median(w)), "min_s" -> num(w.min),
        "spread" -> num(spread(w)),
        "turns_per_sec" -> f"${turns / median(w)}%.0f") ++
        (if (full) Seq("warmup_s" -> num(warmup(cpus)),
          "walls" -> w.map(num).mkString("[", ",", "]"))
        else Nil))
    }
    // levels run high to low, so each adjacent pair is (4N, N)
    val efficiencies = obj(levels.zip(levels.drop(1)).map { case (hi, lo) =>
      s"${lo}_to_$hi" -> num(efficiency(median(walls(lo)), median(walls(hi))))
    })
    def scaling(full: Boolean): String = obj(Seq(
      "rows" -> benchRows.toString, "turns" -> turns.toString,
      "reps" -> Reps.toString,
      "levels" -> obj(levels.map(c => c.toString -> level(c, full))),
      "efficiency" -> efficiencies))

    val head = Seq("metric" -> "\"parse_enrich_route_throughput\"",
      "value" -> num(total), "unit" -> "\"sec\"", "sf" -> s""""$sfDir"""")
    val report = Paths.get(ReportPath).toAbsolutePath
    Files.createDirectories(report.getParent)
    Files.writeString(report, obj(head ++ Seq(
      "queries" -> obj(queries.map { case (k, v) => k -> num(v) }),
      "scaling" -> scaling(full = true))) + "\n")
    println(obj(head ++ Seq("scaling" -> scaling(full = false),
      "report" -> s""""$report"""")))
  }
}
