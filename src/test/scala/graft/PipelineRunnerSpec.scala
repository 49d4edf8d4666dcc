package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._

import graft.checkpoint.Registry
import graft.model.Sinks
import graft.pipeline.{PipelineRunner, TranscriptPipeline}
import graft.sources.Transcripts

/** E2E checkpoint/resume gates, mirroring the reference's registrar system
  * tests (filebeat/tests/system/test_registrar.py: offset equality after
  * restart, no duplicate publication). */
class PipelineRunnerSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-runner").toString

  private lazy val input = Transcripts.fromEvents(spark, "/root/testdata/sf0.001").cache()

  // the session is JVM-wide: a cached input left behind would stand in for
  // later specs' own scans of the same files
  override def afterAll(): Unit =
    try input.unpersist(blocking = true) finally super.afterAll()

  /** the runner's conv bucket, restated independently of its code */
  private def bucket(groups: Int) =
    pmod(abs(crc32(coalesce(col("conv_id"), lit("")))), lit(groups.toLong)).cast("int")

  /** per-group `counts` of every acked group's lineage in the commit log */
  private def lineageCounts(root: String): Map[Int, Map[String, Long]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    new Registry(root, spark).lineage().map { case (txn, json) =>
      txn.stripPrefix("group-").toInt -> mapper.readTree(json).get("counts").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap
    }
  }

  /** `observedMetrics`, read from lineage metadata alone, equals the data
    * itself: read-committed sink rows, the registry's offsets aggregate,
    * and the file sizes of the acked groups' sink snapshots. */
  private def assertMetricsMatchData(root: String): Unit = {
    val m = PipelineRunner.observedMetrics(root, spark)
    val reg = new Registry(root, spark)
    def rows(s: String) = reg.readSink(s).map(_.count()).getOrElse(0L)
    assert(m("events.published") == rows(Sinks.Es) + rows(Sinks.Ls), s"$m")
    assert(m("events.dropped") == rows(Sinks.Dropped), s"$m")
    val r = reg.registry().agg(sum("row_count"), sum("filtered")).collect()(0)
    assert(m("events.total") == r.getLong(0), s"$m")
    assert(m("events.filtered") == r.getLong(1), s"$m")
    val acked = reg.committedGroups().map(g => s"group-$g").toSet
    val snapshotBytes = Sinks.All.map(s => reg.sinkTable(s).state().snapshots
      .filter(_.txn.exists(acked)).flatMap(_.added).map(_.size).sum).sum
    assert(m("output.write_bytes") == snapshotBytes, s"$m")
  }

  test("full run: sink fan-out + atomic commits + observer metrics parity") {
    val root = tmpDir()
    val results = PipelineRunner.run(input, root, groups = 4)
    assert(results.map(_.group) == Seq(0, 1, 2, 3))

    val m = PipelineRunner.observedMetrics(root, spark)
    assert(m("events.total") == 1000)
    assert(m("events.published") + m("events.filtered") + m("events.dropped") == 1000)
    // per-write output stats (bytes landed across sinks) are recorded
    assert(m("output.write_bytes") > 0)
    assert(results.map(_.writeBytes.values.sum).sum == m("output.write_bytes"))

    // parity with the declarative route counts (the north-rule gate)
    val expected = TranscriptPipeline.transform(input)
      .groupBy("sink").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reg = new Registry(root, spark)
    assert(reg.readSink(Sinks.Es).get.count() == expected(Sinks.Es))
    assert(reg.readSink(Sinks.Ls).get.count() == expected(Sinks.Ls))
    assert(reg.readSink(Sinks.Dropped).map(_.count()).getOrElse(0L) ==
      expected.getOrElse(Sinks.Dropped, 0L))
    assertMetricsMatchData(root)
  }

  test("a null conv_id row is routed and counted, never silently lost") {
    import spark.implicits._
    val root = tmpDir()
    val withNull = input.limit(10).union(
      Seq(graft.model.TranscriptEvent(null, 1, "user", "evt=click id=1", "",
        new java.sql.Timestamp(1704067200000L))).toDS().toDF())
    PipelineRunner.run(withNull, root, groups = 4)
    val m = PipelineRunner.observedMetrics(root, spark)
    assert(m("events.total") == 11,
      s"the null-conv row must reach a group and be counted: $m")
    assert(m("events.published") + m("events.filtered") + m("events.dropped") == 11)
  }

  test("observedMetrics on a fresh (never-run) root reports zeros, not a throw") {
    val m = PipelineRunner.observedMetrics(tmpDir(), spark)
    assert(m.values.forall(_ == 0L), s"fresh root must be all-zero: $m")
  }

  test("kill between group commits → resume is exactly-once (no dupes, no loss)") {
    val rootCrash = tmpDir()
    // crash after the first group commits
    intercept[RuntimeException] {
      PipelineRunner.run(input, rootCrash, groups = 4, failAfterGroup = 0)
    }
    val reg = new Registry(rootCrash, spark)
    val committedBefore = reg.committedGroups()
    assert(committedBefore.nonEmpty && committedBefore.size < 4)
    // the failed run still dropped its staging (unacked groups included)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(rootCrash), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$rootCrash/_staging")))

    // resume: same command; previously committed groups must be skipped
    val resumed = PipelineRunner.run(input, rootCrash, groups = 4)
    assert(resumed.map(_.group).toSet == (0 until 4).toSet.diff(committedBefore.toSet))

    // compare against an uninterrupted reference run
    val rootClean = tmpDir()
    PipelineRunner.run(input, rootClean, groups = 4)
    val a = PipelineRunner.observedMetrics(rootCrash, spark)
    val b = PipelineRunner.observedMetrics(rootClean, spark)
    assert(a == b)
    assertMetricsMatchData(rootCrash)

    // no duplicate doc_ids across the resumed sinks
    val es = reg.readSink(Sinks.Es).get
    assert(es.select("doc_id").distinct().count() == es.count())

    // per-turn text equality under stable (conv_id, turn_idx) order vs input
    val back = reg.readSink(Sinks.Es).get.unionByName(reg.readSink(Sinks.Ls).get)
    val diff = back.alias("s")
      .join(input.alias("i"), Seq("conv_id", "turn_idx"))
      .filter(col("s.text") =!= col("i.text"))
    assert(diff.count() == 0)
  }

  test("registry offsets record per-conversation high-water marks") {
    val root = tmpDir()
    PipelineRunner.run(input, root, groups = 2)
    val reg = new Registry(root, spark).registry()
    val expected = input.groupBy("conv_id").agg(max("turn_idx")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val actual = reg.collect().map(r =>
      r.getAs[String]("partition_key") -> r.getAs[Int]("max_turn_idx")).toMap
    assert(actual == expected)
  }

  test("two concurrent runners on one root: fence decides, loser exits clean") {
    val root = tmpDir()
    // race two full runs of the SAME input over the same checkpoint root
    // (the reference's concurrent-access story: filestream store
    // ref-counting, input-logfile/store.go:37-300)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(PipelineRunner.run(input, root, groups = 4))
    val fb = Future(PipelineRunner.run(input, root, groups = 4))
    val (ra, rb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))

    // every group committed exactly once; each was WON by at most one runner
    // (a runner that saw the marker early skips; one that raced loses the
    // rename and abandons) — no group double-counted, none lost
    val reg = new Registry(root, spark)
    assert(reg.committedGroups() == Seq(0, 1, 2, 3))
    val wonGroups = (ra ++ rb).map(_.group)
    assert(wonGroups.distinct.size == wonGroups.size)
    assert(wonGroups.toSet.subsetOf((0 until 4).toSet))

    // the combined result equals a clean single-runner run: no dupes, right counts
    val rootClean = tmpDir()
    PipelineRunner.run(input, rootClean, groups = 4)
    assert(PipelineRunner.observedMetrics(root, spark) ==
      PipelineRunner.observedMetrics(rootClean, spark))
    val es = reg.readSink(Sinks.Es).get
    assert(es.select("doc_id").distinct().count() == es.count())
    assertMetricsMatchData(root)

    // losers left no residue: staging is gone, and every physical file in
    // each sink table's data/ dir is referenced by the table's current
    // snapshot (a CAS loser deletes the files it moved in)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_staging")))
    for (s <- Sinks.All) {
      val tbl = reg.sinkTable(s)
      val st = tbl.state()
      val dataDir = new org.apache.hadoop.fs.Path(s"${tbl.root}/data")
      if (fs.exists(dataDir)) {
        val onDisk = fs.listStatus(dataDir).map(_.getPath.getName)
          .filterNot(_.startsWith(".")) // LocalFileSystem .crc sidecars
          .map(n => s"data/$n").toSet
        assert(onDisk == st.files.map(_.path).toSet,
          s"unreferenced files in $s: ${onDisk.diff(st.files.map(_.path).toSet)}")
      }
    }
  }

  test("commit marker is the atomicity point: uncommitted output is invisible") {
    val root = tmpDir()
    intercept[RuntimeException] {
      PipelineRunner.run(input, root, groups = 4, failAfterGroup = 0)
    }
    val reg = new Registry(root, spark)
    // snapshot-isolated readers see only committed groups
    val visible = reg.readSink(Sinks.Ls).get
      .withColumn("g", pmod(abs(crc32(col("conv_id"))), lit(4L)).cast("int"))
    assert(visible.select("g").distinct().collect().map(_.getInt(0)).toSet
      .subsetOf(reg.committedGroups().toSet))
  }

  test("resume after a PARTIAL sink commit reconciles through txn keys") {
    val root = tmpDir()
    // simulate a run that died between its sink_es snapshot commit and the
    // group ack: stage group 0's fan-out, commit ONLY the es slice, crash.
    val crashed = new Registry(root, spark)
    val g0 = input
      .withColumn("_grp", pmod(abs(crc32(col("conv_id"))), lit(4L)).cast("int"))
      .filter(col("_grp") === 0).drop("_grp")
    val staging = crashed.stagingGroupDir(0)
    Registry.stored(TranscriptPipeline.transform(g0))
      .filter(col("sink") =!= TranscriptPipeline.Filtered)
      .write.mode("overwrite").partitionBy("sink").parquet(staging)
    val partial = crashed.commitSinkStaged(Sinks.Es, 0, s"$staging/sink=${Sinks.Es}")
    assert(!partial.alreadyCommitted)

    // BEFORE resume: the es append is durable in its table, but the
    // read-committed view hides it (group 0 has no ack in the commit log)
    assert(new Registry(root, spark).readSink(Sinks.Es).isEmpty)

    // resume: a fresh runner processes all four groups; its group-0 es
    // append must reconcile to the crashed run's snapshot, not duplicate it
    val resumed = PipelineRunner.run(input, root, groups = 4)
    assert(resumed.map(_.group) == Seq(0, 1, 2, 3))

    val reg = new Registry(root, spark)
    // the es table's group-0 snapshot belongs to the CRASHED run (reused);
    // the commit-log ack belongs to the resuming runner
    assert(reg.sinkTable(Sinks.Es).snapshotForTxn("group-0")
      .exists(_.run == crashed.runId))
    assert(reg.markerRun(0).exists(_ != crashed.runId))

    // end state identical to a clean uninterrupted run: no dupes, no loss
    val rootClean = tmpDir()
    PipelineRunner.run(input, rootClean, groups = 4)
    assert(PipelineRunner.observedMetrics(root, spark) ==
      PipelineRunner.observedMetrics(rootClean, spark))
    val es = reg.readSink(Sinks.Es).get
    assert(es.select("doc_id").distinct().count() == es.count())
    assertMetricsMatchData(root)
  }

  test("a groups = 4 run reads its input exactly twice") {
    // every row the input plan produces passes through the tap: one pass
    // for the fan-out, one for the offsets — not one pair per group
    val reads = spark.sparkContext.longAccumulator("runner-input-rows")
    val tap = udf { () => reads.add(1); true }.asNondeterministic()
    val results = PipelineRunner.run(input.filter(tap()), tmpDir(), groups = 4)
    assert(results.map(_.group) == Seq(0, 1, 2, 3))
    assert(reads.value == 2 * input.count(), s"input rows read: ${reads.value}")
  }

  test("empty buckets: fewer conversations than groups still ack every group") {
    val root = tmpDir()
    val conv = input.select("conv_id").where(col("conv_id").isNotNull).first().getString(0)
    val one = input.filter(col("conv_id") === conv)
    val n = one.count()
    val busy = one.select(bucket(4)).first().getInt(0)
    val results = PipelineRunner.run(one, root, groups = 4)
    assert(results.map(_.group) == Seq(0, 1, 2, 3))
    assert(new Registry(root, spark).committedGroups() == Seq(0, 1, 2, 3))
    val lineage = lineageCounts(root)
    for (g <- 0 until 4 if g != busy) {
      assert(lineage(g).values.forall(_ == 0L), s"group $g: ${lineage(g)}")
      assert(results(g).counts.values.forall(_ == 0L))
    }
    assert(lineage(busy).values.sum == n)
    val m = PipelineRunner.observedMetrics(root, spark)
    assert(m("events.total") == n)
    assert(m("events.published") + m("events.filtered") + m("events.dropped") == n)
  }

  test("lineage counts and registry offsets match per-bucket oracles, clean and resumed") {
    val expectedCounts: Map[Int, Map[String, Long]] = (0 until 4).map { g =>
      g -> TranscriptPipeline.metrics(input.filter(bucket(4) === g)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }.toMap
    val expectedOffsets = input.groupBy("conv_id")
      .agg(max("turn_idx"), count(lit(1))).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    def check(root: String): Unit = {
      assert(lineageCounts(root) == expectedCounts)
      val offsets = new Registry(root, spark).registry().collect().map(r =>
        r.getAs[String]("partition_key") ->
          ((r.getAs[Int]("max_turn_idx"), r.getAs[Long]("row_count")))).toMap
      assert(offsets == expectedOffsets)
    }

    val clean = tmpDir()
    PipelineRunner.run(input, clean, groups = 4)
    check(clean)

    // resume after a crash: only the pending buckets are read, and each
    // resumed group's counts are exactly its bucket's
    val crashed = tmpDir()
    intercept[RuntimeException] {
      PipelineRunner.run(input, crashed, groups = 4, failAfterGroup = 0)
    }
    val acked = new Registry(crashed, spark).committedGroups()
    assert(acked == Seq(0))
    val resumed = PipelineRunner.run(input, crashed, groups = 4)
    assert(resumed.map(_.group) == Seq(1, 2, 3))
    resumed.foreach(r => assert(r.counts == expectedCounts(r.group), s"group ${r.group}"))
    check(crashed)
  }

  test("observedMetrics starts no Spark job, and acks add none (groups = 4 vs 1)") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(body: => Any): Int = {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      jobs.set(0)
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      PipelineRunner.run(input, tmpDir(), groups = 1) // warm: the input cache is built
      val (one, four) = (tmpDir(), tmpDir())
      val oneJobs = jobsOf(PipelineRunner.run(input, one, groups = 1))
      val fourJobs = jobsOf(PipelineRunner.run(input, four, groups = 4))
      assert(oneJobs > 0)
      assert(fourJobs == oneJobs, s"groups = 4: $fourJobs jobs, groups = 1: $oneJobs")
      for (root <- Seq(one, four)) {
        var m = Map.empty[String, Long]
        assert(jobsOf { m = PipelineRunner.observedMetrics(root, spark) } == 0)
        assert(m("events.total") == 1000)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a commit log whose acks predate lineage summaries is refused by name") {
    import spark.implicits._
    val root = tmpDir()
    // an ack as roots written before lineage summaries hold it: one parquet
    // row appended under the group's txn key
    val reg = new Registry(root, spark)
    reg.commitLog.append(Seq((0, reg.runId, """{"group":0}""")).toDF("group", "run", "lineage"),
      Some("group-0"))
    assert(reg.committedGroups() == Seq(0))
    val errors = Seq(
      intercept[IllegalStateException](reg.lineage()),
      intercept[IllegalStateException](PipelineRunner.observedMetrics(root, spark)))
    errors.foreach(e => assert(e.getMessage.contains(s"root $root predates lineage summaries"),
      e.getMessage))
  }

  // --- sink layout: `doc_id` is derived on read, never stored ------------

  /** readSink's rows equal transform's rows of the same sink, as multisets,
    * `doc_id` included, and its columns are the transform's with `doc_id`
    * and `sink` last, in that order */
  private def assertSinksMatchTransform(root: String): Unit = {
    val routed = TranscriptPipeline.transform(input)
    val order = routed.columns.filterNot(Set("doc_id", "sink")).toSeq :+ "doc_id" :+ "sink"
    for (s <- Sinks.All if routed.filter(col("sink") === s).count() > 0) {
      val keys = Seq("conv_id", "turn_idx", "doc_id", "text").map(col)
      val want = routed.filter(col("sink") === s).select(keys: _*)
      val read = new Registry(root, spark).readSink(s).get
      val got = read.select(keys: _*)
      assert(got.count() == want.count(), s"$s rows")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$s rows differ")
      assert(read.columns.toSeq == order, s"$s columns")
    }
  }

  /** the column names in a parquet file's footer */
  private def footerColumns(file: String): Seq[String] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
    finally reader.close()
  }

  private def tableFiles(root: String, s: String): Seq[String] = {
    val tbl = new Registry(root, spark).sinkTable(s)
    tbl.state().files.map(f => s"${tbl.root}/${f.path}")
  }

  test("readSink derives doc_id equal to transform's, clean and resumed") {
    val clean = tmpDir()
    PipelineRunner.run(input, clean, groups = 4)
    assertSinksMatchTransform(clean)

    val resumed = tmpDir()
    intercept[RuntimeException] {
      PipelineRunner.run(input, resumed, groups = 4, failAfterGroup = 0)
    }
    PipelineRunner.run(input, resumed, groups = 4)
    assertSinksMatchTransform(resumed)
  }

  test("sink files store no doc_id: every committed file's footer lacks it") {
    val root = tmpDir()
    PipelineRunner.run(input, root, groups = 2)
    val files = Sinks.All.flatMap(tableFiles(root, _))
    assert(files.nonEmpty)
    files.foreach { f =>
      val cols = footerColumns(f)
      assert(cols.contains("conv_id") && cols.contains("turn_idx"), s"$f: $cols")
      assert(!cols.contains("doc_id"), s"$f stores doc_id: $cols")
    }
  }

  /** a root whose group 0 was committed the old way — its staged slices
    * still hold doc_id, its sink commits carry `recordSchema`'s schema (the
    * slices' own with `true`, none with `false`) and its ack the lineage of
    * exactly those rows — resumed by one run that writes groups 1-3 in the
    * new layout; returns the root and the sinks group 0 wrote */
  private def resumedOverOldLayout(recordSchema: Boolean): (String, Seq[String]) = {
    val root = tmpDir()
    val old = new Registry(root, spark)
    val g0 = TranscriptPipeline.transform(input.filter(bucket(4) === 0))
    val staging = old.stagingGroupDir(0)
    g0.filter(col("sink") =!= TranscriptPipeline.Filtered)
      .write.mode("overwrite").partitionBy("sink").parquet(staging)
    val schema =
      if (recordSchema) Some(org.apache.spark.sql.types.StructType(g0.schema.filterNot(_.name == "sink")))
      else None
    val counts = g0.groupBy("sink").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val written = Sinks.All.filter(s => counts.getOrElse(s, 0L) > 0)
    written.foreach(s => old.commitSinkStaged(s, 0, s"$staging/sink=$s", schema))
    val lineage = counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    assert(old.commitGroup(0, s"""{"group":0,"counts":$lineage,"writes":{},"snapshots":{}}"""))
    old.cleanupRunStaging()

    assert(PipelineRunner.run(input, root, groups = 4).map(_.group) == Seq(1, 2, 3))
    val layouts = tableFiles(root, Sinks.Ls).map(f => footerColumns(f).contains("doc_id")).toSet
    assert(layouts == Set(true, false), s"sink_ls must mix both layouts: $layouts")
    (root, written)
  }

  test("a root mixing the old (doc_id stored) and new layouts reads the same") {
    assertSinksMatchTransform(resumedOverOldLayout(recordSchema = false)._1)
  }

  test("resuming over an old-layout slice keeps a recorded sink schema") {
    val (root, written) = resumedOverOldLayout(recordSchema = true)
    // the new commits record the union of the two layouts, not "unknown"
    for (s <- written) {
      val schema = new Registry(root, spark).sinkTable(s).state().schema
      assert(schema.exists(_.fieldNames.contains("doc_id")), s"$s schema: $schema")
    }
    assertSinksMatchTransform(root)
  }

  test("plan pin: the fan-out and a sink scan compute no doc_id hash") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    def digests(plan: SparkPlan) = collect(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect { case d: graft.functions.DigestHex => d })
    // a private copy of the input: no plan another spec cached (a cached
    // transform would hide the hash in both directions) can match it
    val src = tmpDir()
    input.write.mode("overwrite").parquet(src)
    val fresh = spark.read.parquet(src)
    // positive control: the transform's doc_id is a DigestHex in the plan
    assert(digests(TranscriptPipeline.transform(fresh).select("doc_id")
      .queryExecution.executedPlan).nonEmpty)

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    val root = tmpDir()
    spark.listenerManager.register(listener)
    try {
      PipelineRunner.run(fresh, root, groups = 2)
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // the one write into the run's staging dir is the fan-out
    val fanout = plans.asScala.filter(p => collect(p) {
      case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _)
        if w.outputPath.toString.contains("/_staging/run=") => w
    }.nonEmpty)
    assert(fanout.size == 1, s"${fanout.size} fan-out plans")
    plans.asScala.foreach(p => assert(digests(p).isEmpty, s"hash in a run plan:\n$p"))

    val reg = new Registry(root, spark)
    for (s <- Sinks.All; df <- reg.readSink(s)) {
      val scan = df.select("sink", "conv_id", "text")
      scan.collect()
      assert(digests(scan.queryExecution.executedPlan).isEmpty, s"$s scan hashes")
      val withId = df.select("doc_id")
      withId.collect()
      assert(digests(withId.queryExecution.executedPlan).nonEmpty, s"$s doc_id is derived")
    }
  }

  test("streaming snapshot sinks store the batch runner's sink columns") {
    import org.apache.spark.sql.streaming.Trigger
    val src = tmpDir()
    val streamed = tmpDir()
    input.write.mode("overwrite").parquet(src)
    val stream = graft.streaming.StreamingPipeline.fromDirectory(spark, src)
    graft.streaming.StreamingPipeline.startSnapshotSinks(stream, streamed, tmpDir(),
      Trigger.AvailableNow()).awaitTermination(120000)
    // the batch run reads the same files under the stream's source schema
    val batch = tmpDir()
    PipelineRunner.run(spark.read.schema(stream.schema).parquet(src), batch, groups = 2)
    def fields(root: String, s: String) = new Registry(root, spark).sinkTable(s).read()
      .map(_.schema.fields.map(f => f.name -> f.dataType).toSeq)
    for (s <- Sinks.All) assert(fields(streamed, s) == fields(batch, s), s)
    assert(fields(batch, Sinks.Ls).exists(!_.map(_._1).contains("doc_id")))

    // the same read-committed rows per sink
    val keys = Seq("conv_id", "turn_idx", "doc_id", "text").map(col)
    def rows(root: String, s: String) =
      new Registry(root, spark).readSink(s).map(_.select(keys: _*))
    for (s <- Sinks.All) (rows(streamed, s), rows(batch, s)) match {
      case (Some(a), Some(b)) =>
        assert(a.count() == b.count(), s"$s rows")
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, s"$s rows differ")
      case (a, b) => assert(a.isEmpty && b.isEmpty, s"$s: only one root has rows")
    }
    // the same metrics, read from the acks' lineage
    val events = Set("events.total", "events.published", "events.filtered", "events.dropped")
    def metrics(root: String) =
      PipelineRunner.observedMetrics(root, spark).filter { case (k, _) => events(k) }
    assert(metrics(streamed) == metrics(batch))
    assert(metrics(streamed)("events.total") == 1000)

    // the txn key format is pinned: roots written before stay replayable
    val sig = TranscriptPipeline.transform(input)
      .agg(expr("bit_xor(xxhash64(conv_id, turn_idx, text, sink))")).first().getLong(0)
    val txn = s"batch-0-${java.lang.Long.toHexString(sig)}"
    val reg = new Registry(streamed, spark)
    val written = Sinks.All.map(reg.sinkTable(_).state()).filter(_.snapshots.nonEmpty)
    assert(written.nonEmpty)
    written.foreach(st => assert(st.txnKeys.keySet == Set(txn), st.txnKeys))
    assert(reg.lineage().keySet == Set(txn))
  }

  /** jobs started while `body` runs, counted by a listener on the session */
  private def jobsOf(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("a streaming micro-batch starts as many jobs as a direct stage call") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingPipeline
    val src = tmpDir()
    input.write.mode("overwrite").parquet(src)
    val stream = StreamingPipeline.fromDirectory(spark, src)
    val direct = jobsOf {
      val reg = new Registry(tmpDir(), spark)
      try PipelineRunner.stage(TranscriptPipeline.transform(
        spark.read.schema(stream.schema).parquet(src)).withColumn("group", lit(0)), reg, Seq(0))
      finally reg.cleanupRunStaging()
    }
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val streamed = jobsOf {
      q = StreamingPipeline.startSnapshotSinks(stream, tmpDir(), tmpDir(), Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    assert(q.recentProgress.count(_.numInputRows > 0) == 1, "one micro-batch")
    assert(direct > 0)
    assert(streamed == direct, s"micro-batch: $streamed jobs, stage: $direct")
  }

  test("streaming replay after a crash between sink commits and ack reconciles") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingPipeline
    val src = tmpDir()
    input.write.mode("overwrite").parquet(src)
    val stream = StreamingPipeline.fromDirectory(spark, src)
    val routed = TranscriptPipeline.transform(spark.read.schema(stream.schema).parquet(src))
    val sig = routed.agg(expr("bit_xor(xxhash64(conv_id, turn_idx, text, sink))"))
      .first().getLong(0)
    val txn = s"batch-0-${java.lang.Long.toHexString(sig)}"

    // micro-batch 0 died after committing every sink, before its ack
    val root = tmpDir()
    val crashed = new Registry(root, spark)
    val staged = PipelineRunner.stage(routed.withColumn("group", lit(0)), crashed, Seq(0))
    val sinks = Sinks.All.filter(s => staged.counts(0).getOrElse(s, 0L) > 0)
    assert(sinks.nonEmpty)
    for (s <- sinks) assert(!crashed.commitSinkStaged(s, txn,
      s"${crashed.stagingGroupDir(0)}/sink=$s", Some(staged.schema)).alreadyCommitted)
    crashed.cleanupRunStaging()
    assert(Sinks.All.forall(crashed.readSink(_).isEmpty), "unacked rows are invisible")
    val versions = Sinks.All.map(crashed.sinkTable(_).state().version)

    // a fresh checkpoint replays batch 0: no new rows or snapshots, the ack lands
    StreamingPipeline.startSnapshotSinks(stream, root, tmpDir(), Trigger.AvailableNow())
      .awaitTermination(120000)
    val reg = new Registry(root, spark)
    assert(Sinks.All.map(reg.sinkTable(_).state().version) == versions,
      "the replay must add no sink snapshot")
    for (s <- sinks)
      assert(reg.sinkTable(s).snapshotForTxn(txn).exists(_.run == crashed.runId), s)
    assert(reg.lineage().keySet == Set(txn))
    assert(reg.commitLog.snapshotForTxn(txn).exists(_.run != crashed.runId))
    val expected = routed.groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- Sinks.All)
      assert(reg.readSink(s).map(_.count()).getOrElse(0L) == expected.getOrElse(s, 0L), s)
    val m = PipelineRunner.observedMetrics(root, spark)
    assert(m("events.total") == 1000 && m("events.dropped") == expected.getOrElse(Sinks.Dropped, 0L))
  }
}
