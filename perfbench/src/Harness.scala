package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checkpoint.Registry
import graft.model.Sinks
import graft.pipeline.{PipelineRunner, TranscriptPipeline}

/** Measures one workload of the production path and writes the raw samples,
  * spans, engine counters and correctness checks as one JSON document.
  * `analysis.py` reduces that document to the named metrics.
  *
  * {{{
  *   Harness --workload ingest_bulk --seed 1 --seconds 10 --trace 0 \
  *           --work <scratch dir> --out <raw json>
  * }}}
  *
  * Every call is one closed-loop request from a single caller. Every rep
  * runs and is reported; nothing is retried on its result.
  */
object Harness {

  /** one workload: the input's shape and PipelineRunner.run's group count */
  final case class Spec(shape: Gen.Shape, groups: Int)

  val Specs: Map[String, Spec] = Map(
    "ingest_bulk" -> Spec(Gen.Shape(120000, 50, 0.2, 16), groups = 1),
    "ingest_grouped" -> Spec(Gen.Shape(48000, 4, 0.0, 16), groups = 4))

  /** untimed reps before measuring: the JIT compiles the planner over the
    * first several calls, which calls on an input of 1/8 the size reach
    * sooner; then one call on the measured input, whose first call is slow
    * again while the JIT compiles the loops that only a large input makes hot */
  val SmallWarmupReps = 2
  val WarmupScale = 8
  /** cumulative-plan ladders per traced round: a step's self time is a
    * difference of two walls, so it needs more samples than the walls do */
  val PlanLadders = 2
  val MinReps = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val report = mutable.LinkedHashMap.empty[String, Any]
    val code =
      try {
        val spec = Specs.getOrElse(a("workload"),
          sys.error(s"unknown workload ${a("workload")}; known: ${Specs.keys.mkString(", ")}"))
        new Run(a("workload"), spec, a("seed").toLong, a("seconds").toDouble,
          a("trace") == "1", a("work"), report).apply()
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          report("error") = t.toString
          1
      }
    Files.write(Paths.get(a("out")), Json(report).getBytes("UTF-8"))
    System.exit(code)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, seconds(t0))
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Host-speed probe: fixed FNV-1a hashing of a 1 MiB buffer per thread on
    * `threads` threads, timed. The machine is shared, and its speed drifts by
    * tens of percent over minutes; the probe, taken between reps, lets the
    * report state times at a reference speed. It runs no program code. */
  def probe(threads: Int): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val out = new Array[Long](threads)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => {
        var h = 0xcbf29ce484222325L
        var r = 0
        while (r < 192) {
          var i = 0
          while (i < buf.length) { h = (h ^ buf(i)) * 0x100000001b3L; i += 1 }
          r += 1
        }
        out(t) = h
      })
      th.start()
      th
    }
    ts.foreach(_.join())
    seconds(t0)
  }

  def parquetBytes(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }
}

final class Run(workload: String, spec: Harness.Spec, seed: Long, budgetS: Double,
                traced: Boolean, work: String, report: mutable.Map[String, Any]) {
  import Harness._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val n1 = math.max(1, cores / 4)
  private val n4 = 4 * n1
  private var spark: SparkSession = _
  private var engine: Engine = _
  /** a generated input: its parquet path, turns, and (rows, fingerprint) per route */
  final case class Input(path: String, turns: Long, expected: Map[String, (Long, Long)]) {
    def rows(route: String): Long = expected.get(route).map(_._1).getOrElse(0L)
    def sinkTurns: Long = rows(Sinks.Es) + rows(Sinks.Ls) + rows(Sinks.Dropped)
  }
  private var input: Input = _
  private val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attempted = 0L
  private var failed = 0L
  private var oldGenPeakMb = 0.0
  private var rootSeq = 0
  private var lastRoot = ""

  private def sample(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  private def session(threads: Int): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    engine = new Engine
    spark.sparkContext.addSparkListener(engine)
  }

  private def stopSession(): Unit = { spark.stop(); spark = null }

  /** full GC between reps, outside every timed call: each rep starts from
    * the same heap, and the old generation's live size is sampled */
  private def settle(): Unit = {
    System.gc()
    val old = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Old Gen")).map(_.getUsage.getUsed).sum / 1048576.0
    oldGenPeakMb = math.max(oldGenPeakMb, old)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs(): Long = os.getProcessCpuTime
  private def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  private def check(name: String, ok: Boolean, detail: String): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    ok
  }

  /** one attempted call; it fails when it throws or `verify` rejects its result */
  private def call[T](series: String)(body: => T)(verify: T => Boolean): Unit = {
    attempted += 1
    try {
      val (c0, j0, g0) = (cpuNs(), jitMs(), gcMs())
      val (v, s) = timed(body)
      sample(series, s)
      sample(series + ".cpu", (cpuNs() - c0) / 1e9)
      sample(series + ".jit", (jitMs() - j0) / 1e3)
      sample(series + ".gc", (gcMs() - g0) / 1e3)
      if (!verify(v)) failed += 1
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        failed += 1
    }
  }

  private def readInput(): DataFrame = spark.read.parquet(input.path)

  private def generate(shape: Gen.Shape, seed: Long, path: String): Input =
    Input(path, shape.turns, Gen.materialize(spark, shape, seed, path))

  private def countsOk(in: Input)(m: Map[String, Long]): Boolean =
    m("events.total") == in.turns &&
      m("events.published") == in.rows(Sinks.Es) + in.rows(Sinks.Ls) &&
      m("events.filtered") == in.rows(TranscriptPipeline.Filtered) &&
      m("events.dropped") == in.rows(Sinks.Dropped)

  /** read-committed consumer query: per (sink, conv bucket) turn counts and
    * text bytes over every sink table */
  private def sinkScan(root: String): Long = {
    val reg = new Registry(root, spark)
    Sinks.All.flatMap(reg.readSink).map(_.select("sink", "conv_id", "text"))
      .reduce(_ unionByName _)
      .groupBy(col("sink"), pmod(xxhash64(col("conv_id")), lit(64)).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).as("text_chars"))
      .collect().map(_.getLong(2)).sum
  }

  def apply(): Unit = {
    report ++= Seq("workload" -> workload, "seed" -> seed, "seconds" -> budgetS,
      "trace" -> (if (traced) 1 else 0), "cores" -> cores, "threads_n" -> n1, "threads_4n" -> n4,
      "groups" -> spec.groups, "turns" -> spec.shape.turns)
    try {
      setup()
      if (traced) measureTraced() else measure()
      gate(lastRoot)
    } finally if (spark != null) stopSession()
    report ++= Seq("series" -> series, "checks" -> checks, "attempted" -> attempted,
      "failed" -> failed, "old_gen_peak_mb" -> oldGenPeakMb)
  }

  // ------------------------------------------------------------------ set-up

  /** session start; the warm-up input; the input built three times from
    * the seed (the last copy is kept); warm-up calls of the main operation */
  private def setup(): Unit = {
    val (_, sessionS) = timed(session(n4))
    val shape = spec.shape
    val (warmInput, warmGenS) = timed(generate(shape.copy(turns = shape.turns / WarmupScale),
      seed * 31 + 7, s"$work/warmup-input"))
    val genS = (1 to (if (traced) 1 else 3)).map { _ =>
      settle()
      timed { input = generate(shape, seed, s"$work/input") }._2
    }
    val (inBytes, inFiles) = parquetBytes(input.path)
    report ++= Seq("input_bytes" -> inBytes, "input_files" -> inFiles,
      "expected" -> input.expected.map { case (k, (n, fp)) => k -> Map("rows" -> n, "fingerprint" -> fp) })
    check("generator: every route present",
      Seq(Sinks.Es, Sinks.Ls, Sinks.Dropped, TranscriptPipeline.Filtered).forall(input.rows(_) > 0),
      input.expected.map { case (k, v) => s"$k=${v._1}" }.mkString(" "))
    val warmS = (Seq.fill(SmallWarmupReps)(warmInput) :+ input).map { in =>
      settle()
      sample("warmup.probe_s", probe(n4))
      timed(mainOp(in, "warmup."))._2
    }
    report("setup") = Map("session_start_s" -> sessionS, "warmup_input_s" -> warmGenS,
      "build_s" -> genS, "warmup_s" -> warmS)
  }

  /** the main operation: ingest `in` into a fresh root, read the metrics,
    * run the consumer query; walls go to the series named with prefix `tag` */
  private def mainOp(in: Input, tag: String): Unit = {
    newRoot()
    call(tag + "run_s")(PipelineRunner.run(spark.read.parquet(in.path), lastRoot, spec.groups))(_ => true)
    call(tag + "metrics_read_s")(PipelineRunner.observedMetrics(lastRoot, spark))(countsOk(in))
    call(tag + "sink_scan_s")(sinkScan(lastRoot))(_ == in.sinkTurns)
  }

  private def newRoot(): Unit = {
    if (lastRoot.nonEmpty) deleteTree(lastRoot)
    rootSeq += 1
    lastRoot = s"$work/root-$rootSeq"
  }

  // ------------------------------------------------------- untraced measure

  private def measure(): Unit = {
    val t0 = System.nanoTime()
    var reps = 0
    while (reps < MinReps || seconds(t0) < budgetS) {
      settle()
      sample("probe_s", probe(n4))
      mainOp(input, "")
      reps += 1
    }
    settle()
    report("measure_s") = seconds(t0)
  }

  // --------------------------------------------------------- traced measure

  /** rounds of (untraced main operation, traced replay, cumulative plans)
    * for most of the budget, then the ingest alone at N threads */
  private def measureTraced(): Unit = {
    val tracer = new Tracer(spark.sparkContext)
    val t0 = System.nanoTime()
    var round = 0
    while (round < 2 || seconds(t0) < budgetS * 0.7) {
      settle()
      mainOp(input, "")
      settle()
      newRoot()
      tracer.inTrace(s"rep$round") {
        tracer.span("ingest")(replay(tracer, lastRoot))
        tracer.span("metrics.observed")(PipelineRunner.observedMetrics(lastRoot, spark))
        tracer.span("metrics.sink_scan")(sinkScan(lastRoot))
      }
      for (k <- 0 until PlanLadders) {
        settle()
        tracer.inTrace(s"plans$round.$k")(plans(tracer))
      }
      round += 1
    }
    report ++= Seq("spans" -> tracer.toJson, "engine" -> engine.snapshot(spark.sparkContext))

    // the ingest at N threads, on the same input
    stopSession()
    session(n1)
    val tn = System.nanoTime()
    for (tag <- Seq("warmup.n.", "n.", "n.")) {
      settle()
      newRoot()
      call(tag + "run_s")(PipelineRunner.run(readInput(), lastRoot, spec.groups))(_ => true)
    }
    report("scaling_s") = seconds(tn)
  }

  /** PipelineRunner.run's per-group steps, through the same public calls */
  private def replay(tracer: Tracer, root: String): Unit = {
    val groups = spec.groups
    val reg = new Registry(root, spark)
    val bucketed = readInput().withColumn("_grp",
      pmod(abs(crc32(coalesce(col("conv_id"), lit("")))), lit(groups.toLong)).cast("int"))
    for (g <- 0 until groups) {
      val skip = tracer.span("checkpoint.state_read")(reg.isCommitted(g))
      if (!skip) tracer.span("group") {
        val slice = bucketed.filter(col("_grp") === g).drop("_grp")
        val obs = org.apache.spark.sql.Observation()
        val sinkNames = Sinks.All :+ TranscriptPipeline.Filtered
        val countCols = sinkNames.map(s => sum(when(col("sink") === s, 1L).otherwise(0L)).as(s))
        val staging = reg.stagingGroupDir(g)
        val counts = tracer.span("fanout_write") {
          TranscriptPipeline.transform(slice)
            .observe(obs, countCols.head, countCols.tail: _*)
            .filter(col("sink") =!= TranscriptPipeline.Filtered)
            .sortWithinPartitions("sink", "conv_id", "turn_idx")
            .write.mode("overwrite").partitionBy("sink")
            .parquet(staging)
          val m = obs.get
          sinkNames.map(s => s -> m(s).asInstanceOf[Long]).filter(_._2 > 0).toMap
        }
        val snaps = tracer.span("checkpoint.commit_sinks") {
          Sinks.All.filter(s => counts.getOrElse(s, 0L) > 0)
            .map(s => s -> reg.commitSinkStaged(s, g, s"$staging/sink=$s")).toMap
        }
        tracer.spanAttrs("checkpoint.merge_offsets") {
          val offsets = TranscriptPipeline.sinkFast(slice)
            .groupBy(col("conv_id").as("partition_key"))
            .agg(max("turn_idx").as("max_turn_idx"),
              count(lit(1)).as("row_count"),
              sum(when(col("sink") === TranscriptPipeline.Filtered, 1L).otherwise(0L)).as("filtered"),
              sum(when(col("sink") === Sinks.Dropped, 1L).otherwise(0L)).as("dropped"))
            .withColumn("group", lit(g))
            .withColumn("committed_at", current_timestamp())
          val res = reg.mergeOffsets(g, offsets)
          ((), Map("bytes_rewritten" -> res.addedBytes))
        }
        tracer.span("checkpoint.commit_group") {
          val lineage = counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
          val writes = snaps.map { case (s, r) =>
            s""""$s":{"bytes":${r.addedBytes},"files":${r.addedFiles}}""" }.mkString("{", ",", "}")
          val ids = snaps.map { case (s, r) => s""""$s":"${r.snapshotId}"""" }.mkString("{", ",", "}")
          reg.commitGroup(g, s"""{"group":$g,"counts":$lineage,"writes":$writes,"snapshots":$ids}""")
        }
        tracer.span("checkpoint.cleanup")(reg.cleanupStaging(g))
      }
    }
  }

  /** cumulative plans on the whole input: each adds one fan-out step to the
    * previous one, so a step's self time is the difference of two walls */
  private def plans(tracer: Tracer): Unit = {
    def in = readInput()
    val inCols = in.columns.toSeq.map(c => count(col(c)))
    val parseCols = inCols ++ Seq("service", "status", "message").map(c => count(col(c)))
    val routeCols = parseCols ++ Seq("tool_kind", "doc_id", "sink").map(c => count(col(c)))
    def routed = TranscriptPipeline.transform(in).filter(col("sink") =!= TranscriptPipeline.Filtered)
    tracer.span("plan.scan")(in.agg(count(lit(1)), inCols: _*).collect())
    tracer.span("plan.parse")(TranscriptPipeline.parse(in).agg(count(lit(1)), parseCols: _*).collect())
    tracer.span("plan.enrich_route")(
      TranscriptPipeline.transform(in).agg(count(lit(1)), routeCols: _*).collect())
    tracer.span("plan.materialize")(routed.write.format("noop").mode("overwrite").save())
    tracer.span("plan.sort")(routed.sortWithinPartitions("sink", "conv_id", "turn_idx")
      .write.format("noop").mode("overwrite").save())
    val dir = s"$work/plan-encode"
    tracer.spanAttrs("plan.encode") {
      routed.sortWithinPartitions("sink", "conv_id", "turn_idx")
        .write.mode("overwrite").partitionBy("sink").parquet(dir)
      val (bytes, files) = parquetBytes(dir)
      ((), Map("bytes_written" -> bytes, "files_written" -> files))
    }
    deleteTree(dir)
  }

  // ------------------------------------------------------ correctness gate

  /** after the measurement, outside every timed call */
  private def gate(root: String): Unit = {
    val m = PipelineRunner.observedMetrics(root, spark)
    report("write_bytes") = m("output.write_bytes")
    val reg = new Registry(root, spark)
    val plan = TranscriptPipeline.metrics(readInput()).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val in = readInput().agg(count(lit(1)), Gen.fingerprint).collect()(0)
    val sinks = Sinks.All.flatMap(reg.readSink).map(_.select("sink", "conv_id", "turn_idx", "text"))
      .reduce(_ unionByName _).groupBy("sink").agg(count(lit(1)), Gen.fingerprint).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def xor(fps: Iterable[Long]) = fps.foldLeft(0L)(_ ^ _)
    val expected = input.expected
    val nonFiltered = expected - TranscriptPipeline.Filtered
    val all = Seq(
      check("events.total = input turns", m("events.total") == input.turns,
        s"${m("events.total")} vs ${input.turns}"),
      check("published + filtered + dropped = total",
        m("events.published") + m("events.filtered") + m("events.dropped") == m("events.total"),
        m.toString),
      check("filtered = metrics plan = generator",
        m("events.filtered") == plan.getOrElse(TranscriptPipeline.Filtered, 0L) &&
          m("events.filtered") == input.rows(TranscriptPipeline.Filtered),
        s"${m("events.filtered")} ${plan.get(TranscriptPipeline.Filtered)} ${input.rows(TranscriptPipeline.Filtered)}"),
      check("input fingerprint = generator",
        in.getLong(0) == input.turns && in.getLong(1) == xor(expected.values.map(_._2)), "")
    ) ++ Sinks.All.map { s =>
      val got = sinks.getOrElse(s, (0L, 0L))
      check(s"$s rows = metrics plan = generator; fingerprint = generator",
        got._1 == plan.getOrElse(s, 0L) && got == expected.getOrElse(s, (0L, 0L)),
        s"rows ${got._1} plan ${plan.get(s)} expected ${expected.get(s)}")
    } :+ check("read-committed sinks fingerprint = input's non-filtered rows",
      sinks.values.map(_._1).sum == input.sinkTurns &&
        xor(sinks.values.map(_._2)) == xor(nonFiltered.values.map(_._2)), "")
    attempted += all.size
    failed += all.count(!_)
  }
}

/** minimal JSON rendering of maps, sequences, strings, numbers and booleans */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
