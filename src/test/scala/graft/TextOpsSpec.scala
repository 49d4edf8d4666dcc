package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.textops.TextOps

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("token count / stopword hits / punct on known strings") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog."),
      (2L, "der die das und ist!"),
      (3L, "x")
    ).toDF("doc_id", "text")
    val out = df.select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.stopwordHits(col("text"), TextOps.StopEn).as("en"),
      TextOps.stopwordHits(col("text"), TextOps.StopDe).as("de"),
      TextOps.punctChars(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(out(1L) == ((9, 2, 0, 1)))  // "The" + "the"; one '.'
    assert(out(2L) == ((5, 0, 4, 1)))  // "ist!" is not a bare stopword token
    assert(out(3L) == ((1, 0, 0, 0)))
  }

  test("langId votes correctly and falls back to 'und'") {
    val df = Seq(
      ("the cat is in the house", "en"),
      ("der hund ist nicht das problem", "de"),
      ("le chat est une merveille", "fr"),
      ("zzz qqq www", "und")
    ).toDF("text", "expect")
    val bad = df.withColumn("got", TextOps.langId(col("text")))
      .filter(col("got") =!= col("expect")).collect()
    assert(bad.isEmpty, bad.mkString(","))
  }

  test("quality score is bounded [0,1] over the corpus") {
    val qs = docs.select(TextOps.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).collect()(0)
    assert(qs.getDouble(0) >= 0.0 && qs.getDouble(1) <= 1.0)
  }

  test("scaled4 fixed-point: exact half-cases round up deterministically") {
    import spark.implicits._
    val vals = Seq(0.86875, 0.5, 0.12344999, 0.99995).toDF("x")
      .select(TextOps.scaled4(col("x")).as("s")).as[Int].collect().toSeq
    assert(vals == Seq(8687, 5000, 1234, 10000) || vals == Seq(8688, 5000, 1234, 10000))
    // whichever way the double for .86875 lands, it is ONE deterministic
    // IEEE sequence shared with the SQL oracle — that is the contract.
  }

  test("fingerprint is whitespace/case-insensitive, content-sensitive") {
    val df = Seq("A  b\tc", "a b c", "a b d").toDF("text")
      .select(TextOps.fingerprint(col("text")).as("fp")).as[String].collect()
    assert(df(0) == df(1) && df(1) != df(2))
  }

  test("bpeSegment applies merges in rank order with one-pass adjacent rewrites") {
    import spark.implicits._
    val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n")
    val out = Seq((1L, "the then bathe thth in")).toDF("doc_id", "text")
      .select(graft.textops.TextOps.bpeSegment(col("text"), merges).as("s"))
      .head().getSeq[scala.collection.Seq[String]](0).map(_.toList)
    assert(out(0) == Seq("the"))            // t+h then th+e chain
    assert(out(1) == Seq("the", "n"))       // no e+n merge
    assert(out(2) == Seq("b", "a", "the"))  // rank order: t+h before a+n? a is not adjacent n
    // the fence property: BOTH adjacent t-h pairs merge in ONE pass
    assert(out(3) == Seq("th", "th"))
    assert(out(4) == Seq("in"))
  }

  test("bpeSegment rejects a rank-inconsistent table by name, at plan time") {
    def reject(merges: Seq[(String, String)]): String =
      intercept[IllegalArgumentException](TextOps.bpeSegment(col("text"), merges)).getMessage
    // "th" is used by rule 0 but only rule 1 produces it
    val later = reject(Seq("th" -> "e", "t" -> "h"))
    assert(later.contains("not rank-consistent") &&
      later.contains("rule 0 ('th', 'e') uses 'th', which rule 1 produces"), later)
    // two splits of one symbol
    val twice = reject(Seq("a" -> "b", "ab" -> "c", "b" -> "c", "a" -> "bc"))
    assert(twice.contains("rules 1 and 3 both produce 'abc'"), twice)
    // a repeated rule produces its symbol twice
    assert(reject(Seq("a" -> "b", "a" -> "b")).contains("rules 0 and 1 both produce 'ab'"))
    // a side nothing produces is fine: the rule never fires
    TextOps.bpeSegment(col("text"), Seq("xy" -> "z", "a" -> "b"))
  }

  /** the rank-order rewrite stated as a chained-replace fold: one plain
    * `replace` per rule over U+0001-fenced cells ("\\u0001sym\\u0001"), so
    * adjacent rewrites never share boundary characters — "a b a b" merges
    * to "ab ab" in ONE pass — and any engine with left-to-right
    * non-overlapping replace() states the identical rewrite (the
    * q_bpe_segment oracle is this fold in DuckDB). Input chars split by the
    * regex `.` (a full code point in both Java and RE2); tokens must not
    * contain U+0001. This is the reference [[TextOps.bpeSegment]]'s kernel
    * is checked against. */
  private def bpeSegmentFold(text: Column, merges: Seq[(String, String)]): Column = {
    val F = "\u0001"
    def cell(s: String) = F + s + F
    transform(TextOps.tokens(TextOps.normalized(text)), w => {
      val cells = array_join(
        transform(regexp_extract_all(w, lit("."), lit(0)),
          c => concat(lit(F), c, lit(F))), "")
      val merged = merges.foldLeft(cells) { case (s, (a, b)) =>
        replace(s, lit(cell(a) + cell(b)), lit(cell(a + b)))
      }
      split(trim(merged, F), F + F)
    })
  }

  /** deterministic synthetic vocabulary for the tokenizer-scale tests:
    * `nWords` distinct random words (len 9–14, 26-letter alphabet), each
    * with frequency ≥ 2 so every internal pair clears minCount — the
    * saturation merge count is ≈ Σ(len−1) ≈ 11·nWords. */
  private def syntheticCorpus(nWords: Int, seed: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val words = (0 until nWords).map { _ =>
      val len = 9 + rnd.nextInt(6)
      (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    val stream = words.flatMap(w => Seq.fill(2 + rnd.nextInt(3))(w))
    val shuffled = rnd.shuffle(stream)
    shuffled.grouped(30).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
  }

  test("kernel and fold agree word-for-word on a 1k+-merge LEARNED table") {
    import spark.implicits._
    val corpus = syntheticCorpus(nWords = 140, seed = 7)
    val d = corpus.toDF("doc_id", "text")
    val merges = graft.textops.TextOps.trainBpe(d, numMerges = 1400)
    assert(merges.length >= 1024,
      s"corpus must support >= 1024 merges, learned ${merges.length}")
    // the fold at this depth: a >1k-deep chained-replace plan — the shape
    // that caps the fold in production, still evaluable here as the oracle
    val probe = d.limit(12)
    val fold = probe
      .select(col("doc_id"), bpeSegmentFold(col("text"), merges).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[scala.collection.Seq[String]](1).map(_.toList)).toMap
    val kern = probe
      .select(col("doc_id"), TextOps.bpeSegment(col("text"), merges).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[scala.collection.Seq[String]](1).map(_.toList)).toMap
    assert(kern == fold, "kernel must equal the fold on a rank-consistent table")
  }

  test("trainBpe learns 8k+ merges in bounded time; kernel roundtrips them") {
    import spark.implicits._
    val corpus = syntheticCorpus(nWords = 1600, seed = 13)
    val d = corpus.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val merges = graft.textops.TextOps.trainBpe(d, numMerges = 8000)
    val trainSec = (System.nanoTime() - t0) / 1e9
    assert(merges.length == 8000, s"expected 8000 merges, got ${merges.length}")
    assert(trainSec < 120.0, f"8k-merge train took $trainSec%.1f s — iteration cost regressed")
    // rank consistency by construction: every side referencing a merge
    // product appears after the producing rule
    val seen = scala.collection.mutable.Set.empty[String]
    merges.foreach { case (a, b) =>
      for (s <- Seq(a, b) if s.length > 1)
        assert(seen.contains(s), s"rule side '$s' used before being produced")
      seen += (a + b)
    }
    // apply the full 8k table through the kernel: subwords must concatenate
    // back to each word (lossless segmentation), and most distinct words
    // must have collapsed below their codepoint length (the table bites)
    val rows = d.select(
      split(lower(trim(col("text"))), "\\s+").as("ws"),
      TextOps.bpeSegment(col("text"), merges).as("ss"))
      .collect()
    var words = 0L; var collapsed = 0L
    rows.foreach { r =>
      val ws = r.getSeq[String](0)
      val ss = r.getSeq[scala.collection.Seq[String]](1)
      assert(ws.length == ss.length)
      ws.zip(ss).foreach { case (w, s) =>
        assert(s.mkString == w, s"subwords of '$w' reassemble to '${s.mkString}'")
        words += 1
        if (s.length < w.codePointCount(0, w.length)) collapsed += 1
      }
    }
    assert(words > 1000 && collapsed * 5 > words * 3,
      s"the 8k table must compress the vocabulary it was trained on ($collapsed/$words)")
  }

  test("trainBpe learns hand-computable merges and roundtrips through bpeSegment") {
    import spark.implicits._
    val d = Seq((1L, "the the the"), (2L, "then")).toDF("doc_id", "text")
    // pairs: (t,h)=4, (h,e)=4, (e,n)=1 → tie breaks pair-ASC → (h,e) first;
    // then (t,he)=4; then only (the,n)=1 < minCount → early stop
    val merges = graft.textops.TextOps.trainBpe(d, numMerges = 5)
    assert(merges == Seq("h" -> "e", "t" -> "he"))
    val seg = Seq((1L, "then zap")).toDF("doc_id", "text")
      .select(graft.textops.TextOps.bpeSegment(col("text"), merges).as("s"))
      .head().getSeq[scala.collection.Seq[String]](0).map(_.toList)
    assert(seg(0) == Seq("the", "n"))
    assert(seg(1) == Seq("z", "a", "p"))
  }

  test("trained tables never repeat a rule or rebuild a symbol; kernel equals fold") {
    import spark.implicits._
    // one- and two-letter words with runs of every parity: the shapes where
    // a merge's left-to-right pairing depends on the run around it, so the
    // same string could only ever be rebuilt from a second split here
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val words = Seq.fill(12) {
        Seq.fill(1 + rnd.nextInt(4))(
          (if (rnd.nextBoolean()) "a" else "b") * (1 + rnd.nextInt(5))).mkString
      }
      val d = words.zipWithIndex.map { case (w, i) =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(4))(w).mkString(" "))
      }.toDF("doc_id", "text")
      val merges = TextOps.trainBpe(d, numMerges = 48, minCount = 1)
      assert(merges.nonEmpty)
      assert(merges.distinct == merges, s"seed $seed: a rule was learned twice")
      val products = merges.groupBy { case (a, b) => a + b }
      assert(products.forall(_._2.size == 1),
        s"seed $seed: one symbol from two splits: ${products.filter(_._2.size > 1)}")
      val fold = d.select(bpeSegmentFold(col("text"), merges))
        .as[Seq[Seq[String]]].collect().toSeq
      val kern = d.select(TextOps.bpeSegment(col("text"), merges))
        .as[Seq[Seq[String]]].collect().toSeq
      assert(kern == fold, s"seed $seed")
    }
  }

  test("compressionRatio: boilerplate compresses far below prose; empty is null") {
    import spark.implicits._
    val d = Seq(
      (1L, "ACCEPT COOKIES " * 200),
      (2L, "The committee's findings, released after an eighteen-month " +
        "inquiry, traced the outage to a misconfigured failover path that " +
        "had silently shadowed production traffic since the spring rollout."),
      (3L, "")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
      graft.textops.TextOps.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(out(3L).isEmpty)
    val (boiler, prose) = (out(1L).get, out(2L).get)
    assert(boiler < prose / 5,
      s"repetition must compress far below prose: $boiler vs $prose")
    assert(prose > 3000 && prose < 10000, s"prose ratio sane: $prose")
    // determinism: fixed config → identical value on re-evaluation
    val again = d.where(col("doc_id") === 1)
      .select(graft.textops.TextOps.compressionRatio(col("text")))
      .head().getInt(0)
    assert(again == boiler)
  }

  test("stats frame has one row per doc and no null metrics") {
    val s = TextOps.stats(docs)
    assert(s.count() == docs.count())
    assert(s.filter(col("n_tokens").isNull || col("quality_e4").isNull ||
      col("lang").isNull).count() == 0)
  }
}
