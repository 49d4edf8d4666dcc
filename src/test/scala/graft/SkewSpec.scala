package graft

import org.apache.spark.sql.functions._

import graft.sources.Transcripts

/** Hot-conversation skew handling: the synthesized corpus gives one conv
  * ~20% of all rows (Transcripts.synthesize hotFraction) — the shape that
  * stalls a naive repartition-by-key at cluster scale because one partition
  * receives the whole hot key.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("synthesized corpus is actually skewed (hot conv ≈ 20% of rows)") {
    val df = Transcripts.synthesize(spark, 20000L, 400L)
    val hot = df.groupBy("conv_id").count().orderBy(desc("count")).head()
    assert(hot.getLong(1) > 3000L, s"expected a hot conv, got $hot")
  }

  test("synthesize covers the whole conv space and keeps turn_idx unique per conv") {
    // conv assignment must use a hash INDEPENDENT of the hot-key gate —
    // a shared hash left whole residue classes empty when gcd(nConvs,
    // 1000) > 1 (nConvs=1000 never produced convs 1..199)
    val df = Transcripts.synthesize(spark, 50000L, 1000L).cache()
    val distinct = df.select("conv_id").distinct().count()
    assert(distinct > 950L, s"cold convs must spread over all 1000, got $distinct")
    // (conv_id, turn_idx) is the real table's identity — no collisions
    val dupes = df.groupBy("conv_id", "turn_idx").count()
      .filter(col("count") > 1).count()
    assert(dupes == 0L, s"$dupes colliding (conv, turn) pairs")
    df.unpersist(blocking = false)
  }

  test("repartition by conv_id alone concentrates the hot key in one partition") {
    val df = Transcripts.synthesize(spark, 20000L, 400L)
    val plain = df.repartition(8, col("conv_id"))
      .groupBy(spark_partition_id().as("pid")).count()
      .agg(max("count"), min("count")).head()
    // the hot conv (≈4k rows) lands whole in a single partition
    assert(plain.getLong(0) >= 4000L)
  }

  test("ordered_topk equals sorted collect_list when under the cap, truncates above it") {
    import graft.functions.ordered_topk
    val df = Transcripts.synthesize(spark, 5000L, 100L).repartition(16)
    val capped = df.groupBy("conv_id")
      .agg(ordered_topk(col("turn_idx"), col("text"), 100000).as("a"))
    val reference = df.groupBy("conv_id")
      .agg(expr("transform(array_sort(collect_list(struct(turn_idx, text)))," +
        " x -> x.text)").as("a"))
    assert(capped.exceptAll(reference).isEmpty && reference.exceptAll(capped).isEmpty)
    // cap binds: k smallest turn_idx values survive, in order
    val small = Seq(("c", 5, "e"), ("c", 1, "a"), ("c", 3, "c"), ("c", 2, "b"))
      .toDF("conv_id", "turn_idx", "text").repartition(4)
    val got = small.groupBy("conv_id")
      .agg(ordered_topk(col("turn_idx"), col("text"), 2).as("a"))
      .select("a").as[Seq[String]].head()
    assert(got == Seq("a", "b"))
  }

  test("sessionize is hot-conv-bounded: cap truncates text, n_turns stays exact") {
    val df = Transcripts.synthesize(spark, 20000L, 400L) // conv 0 ≈ 20%
    val sess = graft.operators.Actions.sessionize(df, maxTurns = 50)
    val hot = sess.orderBy(desc("n_turns")).head()
    assert(hot.getLong(1) > 3000L) // full count preserved
    assert(hot.getString(2).split("\n").length == 50) // buffer capped
  }

  test("saltedSessionize: hot key's largest fold group drops by the salt " +
    "factor; per-salt order exact; shard union = full conv") {
    val salts = 8
    val df = Transcripts.synthesize(spark, 20000L, 400L) // conv 0 ≈ 20%
    val plain = graft.operators.Actions.sessionize(df)
    val salted = graft.operators.Actions.saltedSessionize(df, salts)
    // the straggler driver at cluster scale is the max fold-group size:
    // salting divides the hot conv's group by exactly the salt factor
    val hotPlain = plain.agg(max("n_turns")).head().getLong(0)
    val hotSalted = salted.agg(max("n_turns")).head().getLong(0)
    assert(hotPlain > 3000L)
    assert(hotPlain.toDouble / hotSalted >= salts * 0.9,
      s"hot group $hotPlain split to $hotSalted — factor " +
        f"${hotPlain.toDouble / hotSalted}%.1f, want ≥ ${salts * 0.9}%.1f")
    // shard union = full conv: per-conv turn totals agree with the plain fold
    val totals = salted.groupBy("conv_id").agg(sum("n_turns").as("n"))
    assert(totals.join(plain, "conv_id")
      .filter(col("n") =!= col("n_turns")).isEmpty)
    // per-salt order is EXACT: shard s of a conv is its turn_idx ≡ s residue
    // class in ascending order
    val conv = plain.orderBy(desc("n_turns")).select("conv_id").head().getString(0)
    val turns = df.filter(col("conv_id") === conv)
      .select("turn_idx", "text").collect()
      .map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1)
    val shardTexts = salted.filter(col("conv_id") === conv)
      .select("salt", "session_text").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    (0 until salts).foreach { s =>
      val expect = turns.filter(_._1 % salts == s).map(_._2).mkString("\n")
      assert(shardTexts(s) == expect, s"shard $s order broken")
    }
  }

  test("per-key ordered window over the hot conv completes in bounded time " +
    "(wall-clock straggler documented in BASELINE.md; flaky-tolerant bound)") {
    // rateLimitCounts (like multilinePattern / kafka round_robin) windows
    // over partitionBy(conv_id): the hot conv's rows flow through ONE task.
    // Memory is safe (streaming window frame — no buffering), but the task
    // is an inherent wall-clock straggler of per-key ORDERED semantics.
    // This pin is a regression gate against the window going quadratic or
    // buffering; the bound is deliberately generous so host noise cannot
    // flake it, and the measured wall is recorded via info() + BASELINE.md.
    val df = Transcripts.synthesize(spark, 400000L, 4000L) // hot conv ≈ 20%
    val t0 = System.nanoTime()
    val n = graft.operators.Actions.rateLimitCounts(df, "conv_id", "turn_idx", 5).count()
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"rateLimitCounts over 400k rows, hot conv ~20%%: $sec%.2f s")
    assert(n > 0)
    assert(sec < 120.0, f"per-key ordered window went pathological: $sec%.1f s")
  }

  test("simhash degenerate-bucket guard drops mega-buckets instead of going quadratic") {
    // 50 identical docs → identical sigs → every chunk bucket has 50 members
    val docs = (0 until 50).map(i => (i.toLong, "the same boilerplate text"))
      .toDF("doc_id", "text")
    val guarded = graft.dedup.Dedup.simhashPairs(docs, maxHamming = 3, maxBucket = 10)
    assert(guarded.count() == 0) // dropped, not 50*49/2 pairs
    val unguarded = graft.dedup.Dedup.simhashPairs(docs, maxHamming = 3, maxBucket = 100)
    assert(unguarded.count() == 50L * 49 / 2)
  }

  test("topk_by_score: buffer stays ≤ k on a 1M-candidate group; agg equals the window") {
    import graft.functions.{topk_by_score, TopKByScore}
    // bound: 1M offers into a k=10 buffer never grow it past k entries
    // (serialized size proves it: 4-byte count + 16 bytes/entry)
    val buf = new TopKByScore.Buf(10)
    var i = 0
    while (i < 1000000) { buf.offer((i % 9973) / 9973.0, i.toLong); i += 1 }
    assert(buf.toBytes.length <= 4 + 10 * 16)

    // distributed equivalence: identical output to the row_number window it
    // replaced, on a skewed candidate set (one query holds 90% of rows)
    val cands = (0 until 20000).map { i =>
      val q = if (i % 10 == 0) ((i / 10) % 3 + 1).toLong else 0L
      (q, (i * 2654435761L % 100000) / 100000.0, i.toLong)
    }.toDF("query_id", "cos", "neighbor_id").repartition(16)
    val viaAgg = cands.groupBy("query_id")
      .agg(topk_by_score(col("cos"), col("neighbor_id"), 7).as("nb"))
      .select(col("query_id"), posexplode(col("nb")).as(Seq("pos", "s")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("s.neighbor_id").as("neighbor_id"), col("s.cos").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val viaWindow = cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 7)
      .select("query_id", "rank", "neighbor_id", "cos")
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty)
  }

  test("LSH dedup exchange carries scalars, not embedding vectors") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // disable AQE for the plan inspection: the adaptive wrapper hides the
    // exchange nodes from collect() until execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exchanges =
      try {
        val out = graft.similarity.Ann.lshNeighbors(e, e.limit(4), 3)
        out.queryExecution.executedPlan.collect {
          case ex: ShuffleExchangeExec => ex.output.map(_.name)
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(exchanges.nonEmpty)
    exchanges.foreach { cols =>
      assert(!cols.contains("q_v") && !cols.contains("c_v"),
        s"vector columns cross a shuffle: $cols")
    }
  }

  test("paragraph dedup's universal-boilerplate key stays a running min, not a buffer") {
    // the web-scale worst case: ONE paragraph (cookie banner / footer)
    // appears in EVERY document, making its hash the hottest possible key.
    // The winner aggregate is min(struct) — map-side combinable — so the
    // hot hash costs one running min per task, never a buffered group; the
    // plan must show a partial aggregation below the exchange.
    import graft.textops.CorpusOps
    val n = 20000L
    val docs = spark.range(1, n + 1).select(col("id").as("doc_id"),
      concat(lit("unique prefix "), col("id").cast("string"),
        lit("\n\nACCEPT ALL COOKIES TO CONTINUE\n\nunique tail "),
        col("id").cast("string")).as("text"))
    val out = CorpusOps.dedupParagraphs(docs)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min") || plan.contains("partial"),
      s"winner agg must partial-aggregate below the exchange:\n$plan")
    val rows = out.collect()
    assert(rows.length == n)
    // exactly one document (the minimum doc_id) keeps the boilerplate
    val keepers = rows.count(_.getString(1).contains("ACCEPT ALL COOKIES"))
    assert(keepers == 1, s"boilerplate kept $keepers times")
    assert(rows.count(r => r.getInt(3) == 1) == n - 1)
  }
}
