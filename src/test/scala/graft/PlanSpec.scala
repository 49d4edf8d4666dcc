package graft

import org.apache.spark.sql.functions._

import graft.pipeline.TranscriptPipeline

/** Physical-plan quality gates: the properties that make these plans hold at
  * 100 TB — filter/column pushdown reaching the scan, whole-stage codegen
  * covering the hot path, no shuffle where none is needed. A plan regression
  * here is a scale bug even when results stay correct. */
class PlanSpec extends SparkSpec {

  private def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private def events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  test("filters and column pruning reach the parquet scan") {
    val q = docs.filter(col("doc_id") > 100).select("doc_id", "text")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"columns not pruned:\n$plan")
  }

  test("text-stats plan reads only the columns it needs") {
    val plan = graft.textops.TextOps.stats(docs)
      .queryExecution.executedPlan.toString
    // doc_id + text, NOT the full document schema
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"stats should scan 2 columns:\n$plan")
  }

  test("the full transform is one whole-stage-codegen span over the scan — no shuffle, no UDF") {
    // transform over a materialized transcript table (no derivation window)
    val tdir = scratchDir("plan-transcripts")
    graft.sources.Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(tdir)
    val input = spark.read.parquet(tdir)
    val plan = TranscriptPipeline.transform(input).queryExecution.executedPlan.toString
    // `*(1)` is the compact WholeStageCodegen marker; ONE span id = the whole
    // transform fuses into a single generated loop over the scan
    assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
    assert(!plan.contains("*(2)"), s"transform should be ONE codegen span:\n$plan")
    assert(!plan.contains("Exchange"), s"transform must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"transform must not join:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "no UDFs on the hot path")
    // the parse expression is evaluated once and fields projected from it —
    // not re-evaluated per extracted field
    assert("serverlog_parse".r.findAllIn(plan).size == 1,
      s"serverlog_parse must appear exactly once:\n$plan")
  }

  test("round-3 parse kernels are shuffle-free single-pass maps") {
    val tdir = scratchDir("plan-transcripts3")
    graft.sources.Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(tdir)
    val input = spark.read.parquet(tdir)
    // syslog + CEF struct extraction: pure map over the scan, the parse
    // expression evaluated once with fields projected from it
    val p1 = input
      .withColumn("_p", graft.functions.parse_syslog(col("text")))
      .select(col("_p.format"), col("_p.hostname"), col("_p.severity"))
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Exchange"), s"syslog parse must not shuffle:\n$p1")
    assert("parse_syslog".r.findAllIn(p1).size == 1,
      s"parse_syslog must be evaluated once:\n$p1")
    val p2 = docs
      .withColumn("_r", graft.functions.ngram_char_fracs(col("text"), 2))
      .select(col("doc_id"), col("_r.top_frac"), col("_r.dup_frac"))
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"), s"repetition metrics must not shuffle:\n$p2")
    assert("ngram_char_fracs".r.findAllIn(p2).size == 1,
      s"kernel must be evaluated once:\n$p2")
    assert(p2.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"repetition should scan 2 columns:\n$p2")
    // wineventlog decode + ECS projection: still one kernel evaluation (the
    // ECS columns are struct-field reuse, collapsed by collapse-project/CSE)
    val p3 = graft.operators.Actions.decodeXmlWineventlog(input, "text")
      .select(col("winlog.event_id"), col("event_code"), col("log_level"),
        col("host_name"))
      .queryExecution.executedPlan.toString
    assert(!p3.contains("Exchange"), s"wineventlog decode must not shuffle:\n$p3")
    assert("decode_wineventlog".r.findAllIn(p3).size == 1,
      s"decode_wineventlog must be evaluated once:\n$p3")
    // video container walk + field projection: pure map over the scan, the
    // meta expression evaluated once (struct-field reuse collapses)
    import graft.multimodal.functions.{avi_pack, video_meta}
    val p4 = docs
      .withColumn("_v", video_meta(avi_pack(col("doc_id"),
        lit(64), lit(48), lit(10), lit(3))))
      .select(col("doc_id"), col("_v.codec"), col("_v.width"), col("_v.n_chunks"))
      .queryExecution.executedPlan.toString
    assert(!p4.contains("Exchange"), s"video meta must not shuffle:\n$p4")
    assert("video_meta".r.findAllIn(p4).size == 1,
      s"video_meta must be evaluated once:\n$p4")
  }

  test("route-only metrics plan prunes parse down to the status fast path") {
    val tdir = scratchDir("plan-transcripts2")
    graft.sources.Transcripts.fromEvents(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(tdir)
    val input = spark.read.parquet(tdir)
    val plan = TranscriptPipeline.metrics(input).queryExecution.executedPlan.toString
    assert(plan.contains("serverlog_status"), "metrics must use the status fast path")
    assert(!plan.contains("serverlog_parse"), "metrics must NOT run the full field extraction")
    // only the columns the router needs are read
    assert(plan.contains("ReadSchema: struct<text:string,tool:string>")
      || plan.contains("ReadSchema: struct<tool:string,text:string>"),
      s"metrics should scan (text, tool) only:\n$plan")
  }

  test("the actions chain (chain2 shape) stays one shuffle-free codegen span") {
    // copy/rename/labels/locale/data_stream + url/base64/csv decodes,
    // extract_array, byte truncate, Go-layout timestamp: all narrow
    // projections — the whole chain must fuse into a single generated loop
    // with no exchange, or per-processor overhead multiplies at 10^12 rows
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false") // unwrap AdaptiveSparkPlan
    val exec =
      try SparkEntry.queries("q_actions_chain2")(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val plan = exec.toString
    // the transcripts derivation itself carries one window (turn_idx); no
    // OTHER exchange may appear, and the action columns must be codegen'd.
    // Node-collect, not string-count: another suite may have cached the
    // derivation (InMemoryRelation), whose stored plan string would
    // double-count the window's own exchange.
    assert(plan.contains("*("), s"no codegen span:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "no UDFs in the actions chain")
    val exchanges = exec.collect { case e: ShuffleExchangeExec => e }.size
    assert(exchanges <= 1, // at most the derivation window's shuffle
      s"actions chain must not add shuffles beyond the source window:\n$plan")
  }

  test("ANN top-k plans contain no per-query window and no global sort") {
    // the per-query top-k must be the bounded TopKByScore aggregate: a
    // row_number window sorts EVERY candidate of a query in one task — a
    // straggler/spill at 10^12 corpus scale
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowExec
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plans = Seq(
        "brute" -> graft.similarity.Ann.bruteTopK(e, e.limit(4), 5),
        "lsh" -> graft.similarity.Ann.lshNeighbors(e, e.limit(4), 5),
        "ivf" -> graft.similarity.Ann.ivfTopK(e, e.limit(4), 5))
      for ((name, df) <- plans) {
        val p = df.queryExecution.executedPlan
        assert(p.collect { case w: WindowExec => w }.isEmpty,
          s"$name: window operator in ANN plan:\n$p")
        assert(p.collect { case s: SortExec if s.global => s }.isEmpty,
          s"$name: global sort in ANN plan:\n$p")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("minhash banding plan shuffles only (doc_id, band, bucket) — never text or arrays") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exchanges =
      try graft.dedup.Dedup.minhashPairs(docs, 80).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e.output.map(a => (a.name, a.dataType.simpleString)) }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(exchanges.nonEmpty)
    exchanges.foreach { cols =>
      cols.foreach { case (name, tpe) =>
        assert(name != "text" && name != "a_text" && name != "b_text",
          s"raw text crosses a shuffle: $cols")
        assert(!tpe.startsWith("array<string>"),
          s"a string array (shingles?) crosses a shuffle: $cols")
      }
    }
  }

  test("substring-span plan shuffles only scalar keys — never window text or token arrays") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exchanges =
      try graft.dedup.Dedup.substringDupSpans(docs, w = 8).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e.output.map(a => (a.name, a.dataType.simpleString)) }
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(exchanges.nonEmpty)
    exchanges.foreach { cols =>
      cols.foreach { case (name, tpe) =>
        assert(name != "text" && name != "win" && name != "toks",
          s"window text / tokens cross a shuffle: $cols")
        assert(!tpe.startsWith("array<"), s"an array crosses a shuffle: $cols")
        assert(tpe != "string" || name == "doc_id",
          s"a string column crosses a shuffle: $cols")
      }
    }
  }
}
