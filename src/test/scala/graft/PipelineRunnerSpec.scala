package graft

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

  private def tmpDir(): String = scratchDir("graft-runner")

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
    (for (s <- new Registry(root, spark).log().snapshots; txn <- s.txn; json <- s.summary)
      yield txn.stripPrefix("group-").toInt -> mapper.readTree(json).get("counts").properties()
        .asScala.map(e => e.getKey -> e.getValue.asLong()).toMap).toMap
  }

  /** the txn keys of the root log's snapshots that carry a lineage */
  private def lineageTxns(reg: Registry): Set[String] =
    reg.log().snapshots.filter(_.summary.isDefined).flatMap(_.txn).toSet

  /** the groups of a `groups`-group root whose ack is in its log */
  private def acked(reg: Registry, groups: Int = 4): Seq[Int] = (0 until groups).filter(reg.isCommitted)

  /** the staging dirs (`_tmp-run-*`, `_tmp-offsets-*`) left under `root` */
  private def stagingLeft(root: String): Seq[String] =
    Option(new java.io.File(root).list()).toSeq.flatten.filter(_.startsWith("_tmp-"))

  /** the files the newest version of the root log lists in `table` */
  private def listed(reg: Registry, table: String): Seq[String] =
    reg.commitLog.state().files.map(_.path).filter(_.startsWith(s"$table/data/"))

  /** `observedMetrics`, read from lineage metadata alone, equals the data
    * itself: sink rows, the registry's offsets aggregate, and the on-disk
    * sizes of the sink files the root log lists. */
  private def assertMetricsMatchData(root: String): Unit = {
    val m = PipelineRunner.observedMetrics(root, spark)
    val reg = new Registry(root, spark)
    def rows(s: String) = reg.readSink(s).map(_.count()).getOrElse(0L)
    assert(m("events.published") == rows(Sinks.Es) + rows(Sinks.Ls), s"$m")
    assert(m("events.dropped") == rows(Sinks.Dropped), s"$m")
    val r = reg.registry().agg(sum("row_count"), sum("filtered")).collect()(0)
    assert(m("events.total") == r.getLong(0), s"$m")
    assert(m("events.filtered") == r.getLong(1), s"$m")
    val sinkBytes = reg.commitLog.state().files.filter(_.path.startsWith("sinks/"))
      .map(f => new java.io.File(s"$root/${f.path}").length).sum
    assert(m("output.write_bytes") == sinkBytes, s"$m")
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
    val committedBefore = acked(reg)
    assert(committedBefore.nonEmpty && committedBefore.size < 4)
    // the failed run still dropped its staging (unacked groups included)
    assert(stagingLeft(rootCrash).isEmpty, stagingLeft(rootCrash))

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
    assert(acked(reg) == Seq(0, 1, 2, 3))
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
    // each table's data/ dir is listed by the root log (a CAS loser deletes
    // the files it moved in)
    assert(stagingLeft(root).isEmpty, stagingLeft(root))
    assertEveryFileListed(reg)
  }

  /** every physical file in each table's data/ dir is listed by the root
    * log's newest version, and each table holds some */
  private def assertEveryFileListed(reg: Registry): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(reg.root), spark.sparkContext.hadoopConfiguration)
    for (t <- Registry.OffsetsTable +: Sinks.All.map(Registry.sinkTable)) {
      val dataDir = new org.apache.hadoop.fs.Path(s"${reg.root}/$t/data")
      val onDisk = if (!fs.exists(dataDir)) Set.empty[String] else
        fs.listStatus(dataDir).map(_.getPath.getName)
          .filterNot(_.startsWith(".")) // LocalFileSystem .crc sidecars
          .map(n => s"$t/data/$n").toSet
      assert(onDisk == listed(reg, t).toSet,
        s"unreferenced files in $t: ${onDisk.diff(listed(reg, t).toSet)}")
    }
  }

  test("two racing runners leave exactly one registry row per conversation") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmpDir()
    val runs = Seq.fill(2)(Future(PipelineRunner.run(input, root, groups = 4)))
    runs.foreach(Await.result(_, 5.minutes))
    val offsets = new Registry(root, spark).registry()
    val perKey = offsets.groupBy("partition_key").count()
    assert(perKey.filter(col("count") =!= 1).isEmpty, "a partition_key repeats")
    assert(perKey.count() == input.select("conv_id").distinct().count())
  }

  test("a resume appends registry files for pending groups only, keeping every earlier one") {
    val root = tmpDir()
    intercept[RuntimeException] {
      PipelineRunner.run(input, root, groups = 4, failAfterGroup = 0)
    }
    val reg = new Registry(root, spark)
    val before = reg.commitLog.state()
    assert(before.txnKeys == Set("group-0") && listed(reg, Registry.OffsetsTable).nonEmpty)
    PipelineRunner.run(input, root, groups = 4)
    val after = reg.commitLog.state()
    val added = after.snapshots.drop(before.snapshots.size)
    assert(added.forall(_.operation == "append"))
    assert(added.flatMap(_.txn) == Seq("group-1", "group-2", "group-3"))
    // nothing rewritten: the earlier files are all still listed
    assert(after.files.toSet == before.files.toSet ++ added.flatMap(_.added))
    // each group's snapshot holds that group's offsets rows only
    for (snap <- added) {
      val offsets = snap.added.filter(_.path.startsWith(s"${Registry.OffsetsTable}/data/"))
      assert(offsets.nonEmpty, snap.txn)
      val rows = spark.read.parquet(offsets.map(f => s"$root/${f.path}"): _*)
      assert(rows.select("group").distinct().collect().map(_.getInt(0)).toSeq ==
        Seq(snap.txn.get.stripPrefix("group-").toInt), snap.txn)
    }
  }

  test("a root in the per-table layout is refused by name: run, readSink, registry, metrics") {
    import spark.implicits._
    // the layout before the one root log: each sink, the offsets and the
    // acks kept a `metadata/` log of their own. Roots written up to their
    // first ack hold only table logs; later ones an ack log too.
    val sinksOnly = tmpDir()
    appendTo(new graft.checkpoint.SnapshotTable(s"$sinksOnly/sinks/${Sinks.Es}", spark),
      Seq(("c1", 1)).toDF("conv_id", "turn_idx"), Some("group-0"))
    val acked = tmpDir()
    appendTo(new graft.checkpoint.SnapshotTable(s"$acked/registry", spark),
      Seq(("c1", 1)).toDF("partition_key", "max_turn_idx"), Some("group-0"))
    new graft.checkpoint.SnapshotTable(s"$acked/commits", spark)
      .commit("group-0", Some("""{"group":0,"counts":{},"writes":{}}"""))
    for (root <- Seq(sinksOnly, acked)) {
      val reg = new Registry(root, spark)
      val errors = Seq(
        intercept[IllegalStateException](PipelineRunner.run(input, root, groups = 4)),
        intercept[IllegalStateException](reg.readSink(Sinks.Es)),
        intercept[IllegalStateException](reg.registry()),
        intercept[IllegalStateException](PipelineRunner.observedMetrics(root, spark)))
      errors.foreach(e => assert(e.getMessage.contains(s"root $root predates the one root log"),
        e.getMessage))
      // refused before any write
      assert(reg.commitLog.liveVersions().isEmpty && stagingLeft(root).isEmpty)
      // the root log has no version, so its expiry vouches for no file and
      // deletes none of the old tables'
      def parquet() = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
        .count(_.toString.endsWith(".parquet"))
      val files = parquet()
      assert(files > 0 && reg.commitLog.expireSnapshots(orphanGraceMs = 0) == 0 && parquet() == files)
    }
  }

  test("rerunning a root with another groups count is refused, sinks unchanged") {
    val root = tmpDir()
    PipelineRunner.run(input, root, groups = 4)
    val reg = new Registry(root, spark)
    def rows() = Sinks.All.map(s => s -> reg.readSink(s).map(_.count()).getOrElse(0L))
    val before = rows()
    val e = intercept[IllegalArgumentException](PipelineRunner.run(input, root, groups = 8))
    assert(e.getMessage.contains("groups = 4") && e.getMessage.contains("groups = 8"),
      e.getMessage)
    assert(rows() == before)
    assert(acked(reg) == Seq(0, 1, 2, 3))
    // the first run's count resumes as a no-op
    assert(PipelineRunner.run(input, root, groups = 4).isEmpty)
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
      .subsetOf(acked(reg).toSet))
  }

  test("a group killed after its file moves, before its commit: invisible, resumed " +
    "exactly-once, its files reclaimed") {
    val root = tmpDir()
    // a runner that died inside group 0's commit: every slice moved into its
    // table through the group's steps, then no commitGroup
    val crashed = new Registry(root, spark)
    val g0 = input.filter(bucket(4) === 0)
    val staging = crashed.stagingGroupDir(0)
    Registry.stored(TranscriptPipeline.sinkFast(g0).withColumn("group", lit(0)))
      .filter(col("sink") =!= TranscriptPipeline.Filtered)
      .write.mode("overwrite").partitionBy("group", "sink").parquet(crashed.stagingRunDir)
    val moved = Sinks.All.map(s => crashed.commitSinkStaged(s, 0, s"$staging/sink=$s")) :+
      crashed.mergeOffsets(0, g0.groupBy(col("conv_id").as("partition_key"))
        .agg(max("turn_idx").as("max_turn_idx"), count(lit(1)).as("row_count"))
        .withColumn("group", lit(0)))
    crashed.cleanupRunStaging()
    val movedFiles = moved.map(_.addedFiles).sum
    assert(moved.forall(!_.alreadyCommitted) && moved.map(_.snapshotId).distinct.size == 1)
    assert(Seq(Registry.sinkTable(Sinks.Es), Registry.sinkTable(Sinks.Ls), Registry.OffsetsTable)
      .forall(t => new java.io.File(s"$root/$t/data").list().exists(_.endsWith(".parquet"))),
      "the slices moved in")

    // BEFORE resume: nothing is visible, and the log holds no version
    val before = new Registry(root, spark)
    assert(Sinks.All.forall(before.readSink(_).isEmpty))
    intercept[IllegalArgumentException](before.registry())
    assert(PipelineRunner.observedMetrics(root, spark).values.forall(_ == 0L))
    assert(before.commitLog.liveVersions().isEmpty && !before.isCommitted(0))

    // resume: every group runs once, as on a clean root
    assert(PipelineRunner.run(input, root, groups = 4).map(_.group) == Seq(0, 1, 2, 3))
    val rootClean = tmpDir()
    PipelineRunner.run(input, rootClean, groups = 4)
    assert(PipelineRunner.observedMetrics(root, spark) ==
      PipelineRunner.observedMetrics(rootClean, spark))
    val reg = new Registry(root, spark)
    val es = reg.readSink(Sinks.Es).get
    assert(es.select("doc_id").distinct().count() == es.count())
    assertMetricsMatchData(root)

    // the crashed runner's files are orphans in every table's data dir; the
    // root log's expiry reclaims exactly them
    assert(reg.commitLog.expireSnapshots(orphanGraceMs = 0) == movedFiles)
    assertEveryFileListed(reg)
    assert(PipelineRunner.observedMetrics(root, spark) ==
      PipelineRunner.observedMetrics(rootClean, spark))
    assertMetricsMatchData(root)
  }

  test("one commit per group: a groups = 4 run adds 4 versions to the root log, " +
    "and no table keeps a log of its own") {
    val root = tmpDir()
    PipelineRunner.run(input, root, groups = 4)
    val reg = new Registry(root, spark)
    assert(reg.commitLog.liveVersions() == Seq(1L, 2L, 3L, 4L))
    assert(reg.commitLog.state().snapshots.map(_.txn.get) == (0 until 4).map(Registry.groupTxn))
    val logs = java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) && p.getFileName.toString == "metadata").toSeq
    assert(logs == Seq(java.nio.file.Paths.get(root, "metadata")), logs)
    // a resume with nothing pending commits nothing
    assert(PipelineRunner.run(input, root, groups = 4).isEmpty)
    assert(reg.commitLog.liveVersions() == Seq(1L, 2L, 3L, 4L))
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

  test("a failing run rethrows once every job it started has ended, and leaves no staging") {
    // the fan-out fails at its first row: only it reads `role`. The offsets
    // pass reads `text` too, slowly, so it is still running then
    val root = tmpDir()
    val slow = udf { (s: String) => Thread.sleep(1); s }.asNondeterministic()
    val boom = udf { (_: String) => throw new IllegalStateException("tap failed"); "" }
      .asNondeterministic()
    val tapped = input.withColumn("text", slow(col("text"))).withColumn("role", boom(col("role")))
    val started, ended = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.add(e.jobId)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    input.count() // the cached input is built before the listener counts jobs
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[Exception](PipelineRunner.run(tapped, root, groups = 4))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("tap failed"))), e)
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(started.size >= 2, s"jobs started: ${started.asScala}")
    assert(ended.asScala.toSet == started.asScala.toSet,
      s"jobs started ${started.asScala} ended ${ended.asScala}")
    assert(stagingLeft(root).isEmpty, stagingLeft(root))
    assert(new Registry(root, spark).commitLog.liveVersions().isEmpty)
  }

  test("both input passes carry the caller's job group") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("(none)"))
    }
    input.count()
    // two runs under two groups: a pass on a pooled thread would keep the
    // group of the run that created the thread
    for (group <- Seq("graft-runner-a", "graft-runner-b")) {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      seen.clear()
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "a run under the caller's job group")
      try {
        PipelineRunner.run(input, tmpDir(), groups = 4)
        org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(seen.size >= 2, s"jobs: ${seen.asScala}")
      assert(seen.asScala.forall(_ == group), s"job groups: ${seen.asScala}")
    }
  }

  test("a second run over the same input compiles no new class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    PipelineRunner.run(input, tmpDir(), groups = 4)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    PipelineRunner.run(input, tmpDir(), groups = 4)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the second run's plans missed the codegen cache")
  }

  test("empty buckets: fewer conversations than groups still ack every group") {
    val root = tmpDir()
    val conv = input.select("conv_id").where(col("conv_id").isNotNull).first().getString(0)
    val one = input.filter(col("conv_id") === conv)
    val n = one.count()
    val busy = one.select(bucket(4)).first().getInt(0)
    val results = PipelineRunner.run(one, root, groups = 4)
    assert(results.map(_.group) == Seq(0, 1, 2, 3))
    assert(acked(new Registry(root, spark)) == Seq(0, 1, 2, 3))
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
    assert(acked(new Registry(crashed, spark)) == Seq(0))
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

  // --- sink layout: a sink stores the event, the rest is derived on read --

  /** readSink's rows equal the rows transform routes to the same sink from
    * `source` (the root's input), as multisets over every column, and its
    * columns are the transform's, with their types, `doc_id` and `sink`
    * last, in that order */
  private def assertSinksMatchTransform(root: String,
                                        source: org.apache.spark.sql.DataFrame = input): Unit = {
    val routed = TranscriptPipeline.transform(source)
    val order = routed.columns.filterNot(Set("doc_id", "sink")).toSeq :+ "doc_id" :+ "sink"
    // set operations refuse a map column: compare its sorted entries
    def comparable(df: org.apache.spark.sql.DataFrame) = df.select(order.map(c =>
      df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.MapType => array_sort(map_entries(col(c))).as(c)
        case _ => col(c)
      }): _*)
    val reg = new Registry(root, spark)
    for (s <- Sinks.All) {
      val want = routed.filter(col("sink") === s)
      reg.readSink(s) match {
        case None => assert(want.isEmpty, s"$s: transform routes rows the root has no table for")
        case Some(read) =>
          assert(read.columns.toSeq == order, s"$s columns")
          assert(read.schema.map(_.dataType.catalogString) ==
            order.map(routed.schema(_).dataType.catalogString), s"$s types")
          val (got, exp) = (comparable(read), comparable(want))
          assert(got.count() == exp.count(), s"$s rows")
          assert(got.exceptAll(exp).isEmpty && exp.exceptAll(got).isEmpty, s"$s rows differ")
      }
    }
  }

  /** readSink(s) re-routed by the selector over its derived `status` and
    * `tool` gives `s` on every row: the stored routing and the reading
    * parser agree */
  private def assertDerivedRoutesAgree(root: String): Unit = {
    val reg = new Registry(root, spark)
    for (s <- Sinks.All; read <- reg.readSink(s)) {
      val strays = read.filter(TranscriptPipeline.selector.sinkColumn =!= s)
      assert(strays.isEmpty, s"$s holds rows the derived columns route elsewhere")
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

  private def tableFiles(root: String, s: String): Seq[String] =
    listed(new Registry(root, spark), Registry.sinkTable(s)).map(p => s"$root/$p")

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
    // the second input carries a column the event does not have
    for (in <- Seq(input, input.withColumn("source_host", lit("h1")))) {
      val root = tmpDir()
      PipelineRunner.run(in, root, groups = 2)
      val files = Sinks.All.flatMap(tableFiles(root, _))
      assert(files.nonEmpty)
      files.foreach { f =>
        val cols = footerColumns(f)
        assert(cols == TranscriptPipeline.EventColumns, s"$f stores more than the event: $cols")
      }
    }
  }

  /** commits groups `gs` of a groups = 4 root the way the production-path
    * benchmark's traced replay does, and as roots of older layouts hold
    * them: each group's transform rows (all 25 columns, or 24 without
    * `doc_id` with `docId = false`) staged per sink, moved in with
    * `recordSchema`'s schema (the slices' own with `true`, none with
    * `false`), then acked with the replay's lineage; returns the sinks
    * the groups wrote */
  private def commitOldLayout(root: String, gs: Seq[Int], recordSchema: Boolean,
                              docId: Boolean = true): Seq[String] = {
    val old = new Registry(root, spark)
    val written = gs.flatMap { g =>
      val all = TranscriptPipeline.transform(input.filter(bucket(4) === g))
      val rows = if (docId) all else all.drop("doc_id")
      val staging = old.stagingGroupDir(g)
      rows.filter(col("sink") =!= TranscriptPipeline.Filtered)
        .write.mode("overwrite").partitionBy("sink").parquet(staging)
      val schema =
        if (recordSchema) Some(org.apache.spark.sql.types.StructType(rows.schema.filterNot(_.name == "sink")))
        else None
      val counts = rows.groupBy("sink").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sinks = Sinks.All.filter(s => counts.getOrElse(s, 0L) > 0)
      sinks.foreach(s => old.commitSinkStaged(s, g, s"$staging/sink=$s", schema))
      val lineage = counts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      assert(old.commitGroup(g, s"""{"group":$g,"counts":$lineage,"writes":{},"snapshots":{}}"""))
      sinks
    }
    old.cleanupRunStaging()
    written.distinct
  }

  /** a root whose group 0 was committed in an older layout
    * ([[commitOldLayout]]), resumed by one run that writes groups 1-3 in
    * the event-only layout; returns the root and the sinks group 0 wrote */
  private def resumedOverOldLayout(recordSchema: Boolean, docId: Boolean = true): (String, Seq[String]) = {
    val root = tmpDir()
    val written = commitOldLayout(root, Seq(0), recordSchema, docId)
    assert(PipelineRunner.run(input, root, groups = 4).map(_.group) == Seq(1, 2, 3))
    val layouts = tableFiles(root, Sinks.Ls).map(f => footerColumns(f) == TranscriptPipeline.EventColumns).toSet
    assert(layouts == Set(true, false), s"sink_ls must mix both layouts: $layouts")
    (root, written)
  }

  test("a root mixing the old (doc_id stored) and new layouts reads the same") {
    assertSinksMatchTransform(resumedOverOldLayout(recordSchema = false)._1)
    // the layout before sinks stored the event alone: 24 columns, schema recorded
    assertSinksMatchTransform(resumedOverOldLayout(recordSchema = true, docId = false)._1)
  }

  test("resuming over an old-layout slice keeps a recorded sink schema") {
    val (root, written) = resumedOverOldLayout(recordSchema = true)
    // the new commits record the union of the two layouts, not "unknown"
    for (s <- written) {
      val schema = new Registry(root, spark).commitLog.state().schemaOf(Registry.sinkTable(s))
      assert(schema.exists(_.fieldNames.contains("doc_id")), s"$s schema: $schema")
    }
    assertSinksMatchTransform(root)
  }

  test("a root in the traced replay's shape (25 stored columns, no recorded schema) reads the same") {
    val root = tmpDir()
    commitOldLayout(root, 0 until 4, recordSchema = false)
    assert(Sinks.All.forall(s => new Registry(root, spark).commitLog.state()
      .schemaOf(Registry.sinkTable(s)).isEmpty), "no schema is recorded")
    assertSinksMatchTransform(root)
  }

  test("every row a sink holds re-routes to that sink through its derived columns") {
    val clean = tmpDir()
    PipelineRunner.run(input, clean, groups = 4)
    val replayed = tmpDir()
    commitOldLayout(replayed, 0 until 4, recordSchema = false)
    for (root <- Seq(clean, resumedOverOldLayout(recordSchema = true)._1, replayed))
      assertDerivedRoutesAgree(root)
  }

  test("plan pin: the fan-out and a sink scan compute no doc_id hash") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    def found(plan: SparkPlan)(pick: PartialFunction[Expression, Expression]) =
      collect(plan) { case p => p.expressions }.flatten.flatMap(_.collect(pick))
    def digests(plan: SparkPlan) = found(plan) { case d: graft.functions.DigestHex => d }
    def parses(plan: SparkPlan) = found(plan) { case p: graft.functions.ServerlogParse => p }
    def statuses(plan: SparkPlan) = found(plan) { case p: graft.functions.ServerlogStatus => p }
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
    // the one write into the run's staging dir itself is the fan-out (the
    // offsets write goes to a sibling of it)
    val writes = plans.asScala.toSeq.flatMap(p => collect(p) {
      case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _) => w.outputPath.toString -> p
    })
    val fanout = writes.filter(_._1.matches(".*/_tmp-run-[^/]+"))
    assert(fanout.size == 1, s"${fanout.size} fan-out plans")
    // the two staging writes run at once, and each clears its output dir
    // first: neither may hold the other
    assert(writes.size == 2, writes.map(_._1))
    for ((a, _) <- writes; (b, _) <- writes if a != b)
      assert(!s"$b/".startsWith(s"$a/"), s"$b is inside $a")
    plans.asScala.foreach(p => assert(digests(p).isEmpty, s"hash in a run plan:\n$p"))
    // the fan-out routes by the status fast path and extracts no field
    plans.asScala.foreach(p => assert(parses(p).isEmpty, s"parse in a run plan:\n$p"))
    assert(statuses(fanout.head._2).nonEmpty, s"the fan-out routes by status:\n${fanout.head._2}")

    val reg = new Registry(root, spark)
    for (s <- Sinks.All; df <- reg.readSink(s)) {
      val scan = df.select("sink", "conv_id", "text")
      scan.collect()
      assert(digests(scan.queryExecution.executedPlan).isEmpty, s"$s scan hashes")
      assert(parses(scan.queryExecution.executedPlan).isEmpty, s"$s scan parses")
      val withId = df.select("doc_id")
      withId.collect()
      assert(digests(withId.queryExecution.executedPlan).nonEmpty, s"$s doc_id is derived")
      val status = df.select("status")
      status.collect()
      assert(parses(status.queryExecution.executedPlan).size == 1, s"$s status is derived by one parse")
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
    def fields(root: String, s: String) =
      new Registry(root, spark).commitLog.readTable(Registry.sinkTable(s))
        .map(_.schema.fields.map(f => f.name -> f.dataType).toSeq)
    for (s <- Sinks.All) assert(fields(streamed, s) == fields(batch, s), s)
    assert(fields(batch, Sinks.Ls).exists(_.map(_._1) == TranscriptPipeline.EventColumns))
    assertSinksMatchTransform(streamed, spark.read.schema(stream.schema).parquet(src))

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
    assert(reg.commitLog.state().txnKeys == Set(txn))
    assert(lineageTxns(reg) == Set(txn))
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

  test("a micro-batch is one commit; its replay after a crash before that commit " +
    "is exactly-once") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingPipeline
    val src = tmpDir()
    input.write.mode("overwrite").parquet(src)
    val stream = StreamingPipeline.fromDirectory(spark, src)
    val routed = TranscriptPipeline.transform(spark.read.schema(stream.schema).parquet(src))
    val sig = routed.agg(expr("bit_xor(xxhash64(conv_id, turn_idx, text, sink))"))
      .first().getLong(0)
    val txn = s"batch-0-${java.lang.Long.toHexString(sig)}"

    // micro-batch 0 died after moving its sink slices in, before its commit
    val root = tmpDir()
    val crashed = new Registry(root, spark)
    val staged = PipelineRunner.stage(routed.withColumn("group", lit(0)), crashed, Seq(0))
    val sinks = Sinks.All.filter(s => staged.counts(0).getOrElse(s, 0L) > 0)
    assert(sinks.nonEmpty)
    for (s <- sinks) crashed.moveIn(txn, Registry.sinkTable(s),
      s"${crashed.stagingGroupDir(0)}/sink=$s", Some(staged.schema))
    crashed.cleanupRunStaging()
    assert(Sinks.All.forall(crashed.readSink(_).isEmpty), "moved rows are invisible")

    // a fresh checkpoint replays batch 0: ONE commit, the batch's rows once
    StreamingPipeline.startSnapshotSinks(stream, root, tmpDir(), Trigger.AvailableNow())
      .awaitTermination(120000)
    val reg = new Registry(root, spark)
    assert(reg.commitLog.liveVersions() == Seq(1L))
    assert(lineageTxns(reg) == Set(txn))
    assert(reg.log().snapshotOf(txn).exists(_.run != crashed.runId))
    val expected = routed.groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- Sinks.All)
      assert(reg.readSink(s).map(_.count()).getOrElse(0L) == expected.getOrElse(s, 0L), s)
    val m = PipelineRunner.observedMetrics(root, spark)
    assert(m("events.total") == 1000 && m("events.dropped") == expected.getOrElse(Sinks.Dropped, 0L))
    // the crashed batch's files are the only orphans
    assert(reg.commitLog.expireSnapshots(orphanGraceMs = 0) > 0)
    assertEveryFileListed(reg)
    for (s <- Sinks.All)
      assert(reg.readSink(s).map(_.count()).getOrElse(0L) == expected.getOrElse(s, 0L), s)
  }
}
