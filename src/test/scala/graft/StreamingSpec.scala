package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.checkpoint.Registry
import graft.model.Sinks
import graft.pipeline.TranscriptPipeline
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline

class StreamingSpec extends SparkSpec {

  private def tmpDir(prefix: String): String = scratchDir(prefix)

  lazy val input = Transcripts.fromEvents(spark, "/root/testdata/sf0.001")

  test("streaming fan-out matches the batch pipeline's per-sink counts") {
    val src = tmpDir("stream-src")
    val out = tmpDir("stream-out")
    val ckpt = tmpDir("stream-ckpt")
    input.write.mode("overwrite").parquet(src)

    val q = StreamingPipeline.startSnapshotSinks(
      StreamingPipeline.fromDirectory(spark, src), out, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(120000)

    val batchCounts = TranscriptPipeline.transform(input)
      .groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val reg = new Registry(out, spark)
    for (s <- Sinks.All) {
      val streamed = reg.readSink(s).map(_.count()).getOrElse(0L)
      assert(streamed == batchCounts.getOrElse(s, 0L),
        s"sink $s: streamed=$streamed batch=${batchCounts.get(s)}")
    }
  }

  test("streaming exact dedup suppresses duplicate fingerprints within the watermark") {
    val src = tmpDir("dedup-src")
    val out = tmpDir("dedup-out")
    val ckpt = tmpDir("dedup-ckpt")
    // every text appears at least twice: the stream must keep exactly one
    // row per distinct fingerprint
    val doubled = input.limit(500).unionByName(input.limit(500))
    doubled.write.mode("overwrite").parquet(src)

    val q = StreamingPipeline.dedupStream(
      StreamingPipeline.fromDirectory(spark, src))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
    val expected = doubled
      .select(graft.textops.TextOps.fingerprint(col("text")).as("fp"))
      .distinct().count()
    assert(streamed.count() == expected,
      s"streamed=${streamed.count()} expected=$expected")
    assert(streamed.select("fp").distinct().count() == expected)
  }

  test("streaming restart from checkpoint does not duplicate sink rows") {
    val src = tmpDir("stream-src2")
    val out = tmpDir("stream-out2")
    val ckpt = tmpDir("stream-ckpt2")
    input.write.mode("overwrite").parquet(src)

    StreamingPipeline.startSnapshotSinks(
      StreamingPipeline.fromDirectory(spark, src), out, ckpt,
      Trigger.AvailableNow()).awaitTermination(120000)
    val reg = new Registry(out, spark)
    def versions = reg.commitLog.liveVersions()
    val before = versions
    assert(before == Seq(1L), "one micro-batch, one commit")
    // second run, same checkpoint: no new input → no new output
    StreamingPipeline.startSnapshotSinks(
      StreamingPipeline.fromDirectory(spark, src), out, ckpt,
      Trigger.AvailableNow()).awaitTermination(120000)

    val total = Sinks.All.map(s => reg.readSink(s).map(_.count()).getOrElse(0L)).sum
    val expected = TranscriptPipeline.routed(input).count()
    assert(total == expected, s"dupes after restart: $total vs $expected")
    assert(versions == before, "the restart must commit no new snapshot")
  }

  test("snapshot-table streaming sink is exactly-once even across checkpoint loss") {
    val src = tmpDir("stream-src3")
    val out = tmpDir("stream-out3")
    input.write.mode("overwrite").parquet(src)

    StreamingPipeline.startSnapshotSinks(
      StreamingPipeline.fromDirectory(spark, src), out, tmpDir("stream-ckpt3a"),
      Trigger.AvailableNow()).awaitTermination(120000)

    val reg = new Registry(out, spark)
    def tableCount(s: String): Long = reg.readSink(s).map(_.count()).getOrElse(0L)
    val batchCounts = TranscriptPipeline.transform(input)
      .groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (s <- Sinks.All)
      assert(tableCount(s) == batchCounts.getOrElse(s, 0L), s"sink $s")

    // replay the SAME input with a FRESH checkpoint (total checkpoint loss —
    // the directory-overwrite sink would re-write, this one must no-op via
    // the batch txn keys) → no duplicates, no version churn
    val versionsBefore = reg.commitLog.liveVersions()
    StreamingPipeline.startSnapshotSinks(
      StreamingPipeline.fromDirectory(spark, src), out, tmpDir("stream-ckpt3b"),
      Trigger.AvailableNow()).awaitTermination(120000)
    for (s <- Sinks.All)
      assert(tableCount(s) == batchCounts.getOrElse(s, 0L), s"dupes in $s after replay")
    val versionsAfter = reg.commitLog.liveVersions()
    assert(versionsAfter == versionsBefore, "replayed batches must not commit new snapshots")
  }

  test("a streaming query on a root in the per-table layout is refused by name, before any move") {
    import spark.implicits._
    val src = tmpDir("stream-src4")
    val out = tmpDir("stream-out4")
    input.limit(200).write.mode("overwrite").parquet(src)
    // a root of the layout before the one root log: a sink with its own log
    new graft.checkpoint.SnapshotTable(s"$out/sinks/${Sinks.Es}", spark)
      .append(Seq(("c1", 1)).toDF("conv_id", "turn_idx"), Some("group-0"))
    def parquet() = java.nio.file.Files.walk(java.nio.file.Paths.get(out)).iterator()
      .asScala.count(_.toString.endsWith(".parquet"))
    val before = parquet()
    val q = StreamingPipeline.startSnapshotSinks(
      StreamingPipeline.fromDirectory(spark, src), out, tmpDir("stream-ckpt4"),
      Trigger.AvailableNow())
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination(120000))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains(s"root $out predates the one root log")), e)
    // no file moved in, no version of the root log, no staging left
    val reg = new Registry(out, spark)
    assert(reg.commitLog.liveVersions().isEmpty && parquet() == before)
    assert(!new java.io.File(s"$out/_staging").exists())
  }

  test("streaming curated ingest: quality-gated, deduped, exactly-once " +
    "into the snapshot table, replay-idempotent") {
    import spark.implicits._
    val src = tmpDir("curate-src")
    val out = tmpDir("curate-out")
    // real transcript turns (mostly short → quality-dropped) plus synthetic
    // passing documents, everything duplicated — the slice must keep exactly
    // one row per distinct fingerprint among quality survivors
    val prose = (1 to 20).map { i =>
      // every word 3-gram contains a per-sentence-unique token, so the
      // repetition fractions stay near zero and the gate PASSES these
      val text = (1 to 40).map(j =>
        s"qq${i}a$j the rr${i}b$j and ss${i}c$j to tt${i}d$j.").mkString(" ")
      (s"doc-$i", i, "user", text, null.asInstanceOf[String],
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val base = input.limit(300).unionByName(prose)
    base.unionByName(base).write.mode("overwrite").parquet(src)

    // a micro-batch persists nothing: no job of the stream computes a
    // cached RDD, and none is left behind
    val cachedStages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.storageLevel.isValid)) cachedStages.incrementAndGet()
    }
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.addSparkListener(listener)
    try {
      StreamingPipeline.startCuratedIngest(
        StreamingPipeline.fromDirectory(spark, src), out, tmpDir("curate-ckpt-a"),
        trigger = Trigger.AvailableNow()).awaitTermination(120000)
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(cachedStages.get == 0, "a micro-batch job computed a persisted RDD")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore)

    val table = new graft.checkpoint.SnapshotTable(s"$out/curated", spark)
    val curated = table.read().get
    // batch twin: quality survivors' distinct fingerprints
    val survivors = base.filter(col("text").isNotNull &&
      graft.textops.TextOps.gopherReason(col("text")).isNull)
    val expected = survivors
      .select(graft.textops.TextOps.fingerprint(col("text")).as("fp"))
      .distinct().count()
    assert(curated.count() == expected,
      s"curated=${curated.count()} expected=$expected")
    // the gate did real work in BOTH directions: synthetic prose passed,
    // short turns were dropped
    assert(curated.filter(col("conv_id").startsWith("doc-")).count() == 20)
    assert(expected < base.count(), "some rows must have been dropped")
    // schema is the transcript row, no dedup plumbing column leaks through
    assert(!curated.columns.contains("fp"))

    // total checkpoint loss over the same input → the content-fingerprint
    // txn keys reconcile every batch to a no-op: same rows, same versions
    val versionBefore = table.state().version
    StreamingPipeline.startCuratedIngest(
      StreamingPipeline.fromDirectory(spark, src), out, tmpDir("curate-ckpt-b"),
      trigger = Trigger.AvailableNow()).awaitTermination(120000)
    assert(table.read().get.count() == expected, "replay must not duplicate")
    assert(table.state().version == versionBefore,
      "replayed batches must not commit new snapshots")
  }

  test("the parser kernels run unchanged in streaming and match batch outputs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[graft.model.TranscriptEvent]
    val events = input.limit(300).as[graft.model.TranscriptEvent].collect().toSeq
    mem.addData(events)
    // the whole parse family is stateless per-row Catalyst expressions, so
    // the SAME columns work over readStream — this pins that no parser
    // accidentally grows a batch-only dependency (window, collect, etc.)
    def parsed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("sy", graft.functions.parse_syslog(SparkEntry.syslogLine, "auto", 2024, 0))
      .withColumn("cf", graft.functions.decode_cef(SparkEntry.cefLine))
      .withColumn("we", graft.functions.decode_wineventlog(SparkEntry.winevtXml))
      .select(col("conv_id"), col("turn_idx"), col("sy.format"),
        col("sy.severity"), col("cf.name"), col("cf.severity").as("cef_sev"),
        col("we.event_id"), col("we.level"), col("we.outcome"))
    val q = parsed(mem.toDS().toDF()).writeStream.format("memory")
      .queryName("parsed_stream").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    q.stop()
    val got = spark.table("parsed_stream").collect().map(_.toString).sorted.toSeq
    val want = parsed(events.toDS().toDF()).collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want)
  }

  test("convOffsets tracks per-conv high-water marks") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[graft.model.TranscriptEvent]
    val events = input.limit(200).as[graft.model.TranscriptEvent].collect()
    mem.addData(events.toSeq)

    val q = StreamingPipeline.convOffsets(mem.toDS())
      .writeStream.format("memory").queryName("offsets")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    // ProcessingTimeTimeout keeps scheduling wall-clock batches even under
    // AvailableNow — wait for the data batch, then stop explicitly.
    q.awaitTermination(30000)
    q.stop()

    val got = spark.table("offsets").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val expect = events.groupBy(_.conv_id).map { case (c, ts) => c -> ts.map(_.turn_idx).max }
    assert(got == expect)
  }

  test("streaming multiline assembles events across batches with explicit state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[graft.model.TranscriptEvent]
    def ev(conv: String, idx: Int, text: String) =
      graft.model.TranscriptEvent(conv, idx, "user", text, "",
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    // batch 1: one complete event + a dangling buffer
    mem.addData(ev("c1", 0, "START a"), ev("c1", 1, "cont1"),
      ev("c1", 2, "START b"), ev("c1", 3, "cont2"))
    val q = StreamingPipeline
      .multilineStream(mem.toDS(), "^START", idleTimeoutMs = 2000L)
      .writeStream.format("memory").queryName("mline")
      .outputMode("append").trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    // ProcessingTimeTimeout keeps scheduling wall-clock batches forever, so
    // processAllAvailable never returns (same caveat as convOffsets) — poll
    // the memory sink for expected row counts instead.
    def awaitRows(n: Long, ms: Long = 30000): Unit = {
      val deadline = System.currentTimeMillis() + ms
      while (spark.table("mline").count() < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(300)
      assert(spark.table("mline").count() >= n, s"expected $n rows in time")
    }
    try {
      awaitRows(1)
      val first = spark.table("mline").as[StreamingPipeline.MultilineEvent].collect()
      assert(first.map(e => (e.first_turn, e.event_text)).toSet
        .contains((0, "START a\ncont1"))) // "START b cont2" may still buffer
      // batch 2: a new start in the same conv flushes the buffered event
      mem.addData(ev("c1", 4, "START c"))
      awaitRows(2)
      val second = spark.table("mline").as[StreamingPipeline.MultilineEvent].collect()
      assert(second.map(e => (e.first_turn, e.event_text)).toSet
        .subsetOf(Set((0, "START a\ncont1"), (2, "START b\ncont2"), (4, "START c"))))
      // idle timeout flushes the dangling "START c" buffer
      awaitRows(3)
      val all = spark.table("mline").as[StreamingPipeline.MultilineEvent].collect()
      assert(all.map(e => (e.first_turn, e.event_text)).toSet ==
        Set((0, "START a\ncont1"), (2, "START b\ncont2"), (4, "START c")))
    } finally q.stop()
  }

  test("streaming token-bucket rate limit: depth burst, replenishment, determinism") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ev(idx: Int, tMs: Long) =
      graft.model.TranscriptEvent("c1", idx, "user", s"line$idx", "",
        new java.sql.Timestamp(1704067200000L + tMs))
    val mem = MemoryStream[graft.model.TranscriptEvent]
    // depth=2, rate=1/s: t=0ms and t=100ms spend the burst; t=200ms is
    // rejected (0.1 tokens); t=1500ms has replenished 1.3 → allowed;
    // t=1600ms rejected (0.4); t=3000ms has 1.8 → allowed
    mem.addData(ev(0, 0), ev(1, 100), ev(2, 200), ev(3, 1500),
      ev(4, 1600), ev(5, 3000))
    val q = StreamingPipeline.rateLimitStream(mem.toDS(), limitPerSec = 1.0, depth = 2.0)
      .writeStream.format("memory").queryName("rl")
      .outputMode("append").trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("rl").count() < 4 &&
        System.currentTimeMillis() < deadline) Thread.sleep(300)
      val got = spark.table("rl").select("turn_idx").as[Int].collect().sorted.toSeq
      assert(got == Seq(0, 1, 3, 5), s"admitted: $got")
    } finally q.stop()
  }

  test("rate limit: a late event across batches cannot rewind the bucket clock") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ev(idx: Int, tMs: Long) =
      graft.model.TranscriptEvent("c1", idx, "user", s"line$idx", "",
        new java.sql.Timestamp(1704067200000L + tMs))
    val mem = MemoryStream[graft.model.TranscriptEvent]
    val q = StreamingPipeline.rateLimitStream(mem.toDS(), limitPerSec = 1.0, depth = 2.0)
      .writeStream.format("memory").queryName("rl_late")
      .outputMode("append").trigger(Trigger.ProcessingTime("300 milliseconds"))
      .start()
    // processAllAvailable never latches on a ProcessingTimeTimeout stateful
    // query (timer checks keep another batch always warranted) — so every
    // stage below is designed to EMIT, and the waits poll the sink count;
    // batch SEPARATION between addData groups is what exercises the rewind
    def awaitCount(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("rl_late").count() < n &&
        System.currentTimeMillis() < deadline) Thread.sleep(150)
      assert(spark.table("rl_late").count() >= n, s"timed out waiting for $n rows")
    }
    try {
      // batch 1: t=100s spends one of two tokens; high-water mark = 100s
      mem.addData(ev(0, 100000)); awaitCount(1)
      // batch 2: a LATE event (t=10s) earns nothing (admitted on the stored
      // token) AND must not rewind lastMs — a rewind would let batch 3
      // re-replenish the whole 90 s gap
      mem.addData(ev(1, 10000)); awaitCount(2)
      // batch 3: t=101s replenished exactly 1 token → admitted and spent;
      // t=101.5s has 0.5 → rejected (the rewind bug banks ~90 tokens and
      // admits it — the sink would then show 4 rows in this same batch)
      mem.addData(ev(2, 101000), ev(3, 101500)); awaitCount(3)
      val got = spark.table("rl_late").select("turn_idx").as[Int].collect().sorted.toSeq
      assert(got == Seq(0, 1, 2), s"admitted: $got")
    } finally q.stop()
  }

  test("windowed metrics stream aggregates per window × sink") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[graft.model.TranscriptEvent]
    val events = input.limit(500).as[graft.model.TranscriptEvent].collect()
    mem.addData(events.toSeq)

    val q = StreamingPipeline.windowedMetrics(mem.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("winmetrics")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()

    val rows = spark.table("winmetrics").collect()
    assert(rows.map(_.getLong(2)).sum == events.length.toLong)
    assert(rows.map(_.getString(1)).toSet.subsetOf(
      Set(Sinks.Es, Sinks.Ls, Sinks.Dropped, TranscriptPipeline.Filtered)))
  }

  test("stateless parse expressions run under Structured Streaming: syslog + CEF") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(
      "<34>Oct 11 22:14:15 mymachine su[230]: 'su root' failed",
      "<165>1 2003-10-11T22:14:15.003Z host app - ID47 - body",
      "CEF:0|v|p|1.0|C1|name|5|src=10.0.0.1 spt=80",
      "not parseable at all")

    val q = mem.toDS().toDF("line")
      .select(
        graft.functions.parse_syslog(col("line"), "auto", 2020, 0).as("s"),
        graft.functions.decode_cef(col("line")).as("c"))
      .select(col("s.format"), col("s.program"), col("c.version"),
        element_at(col("c.extensions"), "sourceAddress").as("src"))
      .writeStream.format("memory").queryName("parsedstream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(30000)
    q.stop()

    val rows = spark.table("parsedstream").collect()
    assert(rows.length == 4)
    assert(rows.count(r => !r.isNullAt(0) && r.getString(0) == "rfc5424") == 1)
    assert(rows.count(r => !r.isNullAt(1) && r.getString(1) == "su") == 1)
    assert(rows.count(r => !r.isNullAt(3) && r.getString(3) == "10.0.0.1") == 1)
  }
}
