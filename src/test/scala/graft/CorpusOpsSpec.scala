package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.textops.CorpusOps

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // --- ngramHashes ---

  test("ngramHashes: short docs contribute no grams; grams are distinct") {
    val out = docs(1L -> "a b", 2L -> "a b c d", 3L -> "x y x y x y")
      .select(col("doc_id"), CorpusOps.ngramHashes(col("text"), 3).as("g"))
      .withColumn("n", size(col("g")))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out(1L) == 0)      // 2 tokens < n=3
    assert(out(2L) == 2)      // "a b c", "b c d"
    assert(out(3L) == 2)      // "x y x" and "y x y", each repeated → distinct
  }

  // --- decontaminate ---

  test("decontaminate flags exactly the docs sharing an n-gram with bench") {
    val train = docs(
      1L -> "the quick brown fox jumps",     // shares "quick brown fox"
      2L -> "totally clean document here four",
      3L -> "ab cd",                         // too short for any 3-gram
      4L -> "quick brown fox quick brown fox")
    val bench = docs(100L -> "a quick brown fox ran")
    val out = CorpusOps.decontaminate(train, bench, n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((3, 1L, true)))
    assert(out(2L) == ((3, 0L, false)))
    assert(out(3L) == ((0, 0L, false)))
    // doc 4: grams {quick brown fox, brown fox quick, fox quick brown} —
    // only the first is in bench, counted ONCE despite repeating in-doc
    assert(out(4L) == ((3, 1L, true)))
    // every training doc gets a verdict row
    assert(out.size == 4)
  }

  test("decontaminate plans a broadcast join for the benchmark gram set") {
    val d = docs(1L -> "a b c d e", 2L -> "c d e f g")
    val plan = CorpusOps.decontaminate(d, d.filter(col("doc_id") === 1), n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"benchmark side must broadcast, not shuffle:\n$plan")
  }

  test("decontaminate minHits raises the contamination bar") {
    val train = docs(1L -> "a b c d e")          // grams: abc bcd cde
    val bench = docs(9L -> "a b c d")            // grams: abc bcd
    val one = CorpusOps.decontaminate(train, bench, n = 3, minHits = 3)
      .collect().head
    assert(one.getLong(2) == 2L && !one.getBoolean(3))
  }

  // --- redactPii ---

  test("redactPii masks emails, IPs, phones with counts") {
    val out = CorpusOps.redactPii(docs(
      1L -> "mail bob.smith+x@corp.example.com and alice@ex.org ok",
      2L -> "host 10.1.2.3 and 192.168.0.255 up",
      3L -> "call +1 555-0123 or +44 20 7946 0958 now",
      4L -> "no pii at all here"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5)))).toMap
    assert(out(1L) == (("mail <EMAIL> and <EMAIL> ok", 2, 0, 0, true)))
    assert(out(2L) == (("host <IP> and <IP> up", 0, 2, 0, true)))
    assert(out(3L) == (("call <PHONE> or <PHONE> now", 0, 0, 2, true)))
    assert(out(4L) == (("no pii at all here", 0, 0, 0, false)))
  }

  test("redactPii stage order: an email's dotted host never double-counts as IP") {
    val out = CorpusOps.redactPii(docs(1L -> "x u@10.1.2.3.example.com y"))
      .collect().head
    assert(out.getString(1) == "x <EMAIL> y")
    assert(out.getInt(2) == 1 && out.getInt(3) == 0)
  }

  test("redactPii is idempotent: a second pass changes nothing") {
    val once = CorpusOps.redactPii(docs(
      1L -> "a@b.co 1.2.3.4 +1 555-0100 end")).select(col("doc_id"), col("redacted").as("text"))
    val twice = CorpusOps.redactPii(once).collect().head
    assert(twice.getString(1) == "<EMAIL> <IP> <PHONE> end")
    assert(twice.getInt(2) == 0 && twice.getInt(3) == 0 && twice.getInt(4) == 0)
  }

  // --- stripHtml / extractHtml ---

  test("stripHtml drops blocks, strips tags, decodes entities, collapses space") {
    val out = CorpusOps.extractHtml(docs(
      1L -> "<html><head><style>p{x}</style><script>if(a<b){}</script></head><body><h1>T</h1><p>A &amp; B &lt;ok&gt;</p></body></html>",
      2L -> "plain text, no markup",
      3L -> "<ul><li>x</li><li>x</li></ul>&nbsp;&#39;q&quot;"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == (("T A & B <ok>", 10)))
    assert(out(2L) == (("plain text, no markup", 0)))
    assert(out(3L) == (("x x 'q\"", 6)))
  }

  test("stripHtml never double-decodes: &amp;lt; is the literal text &lt;") {
    val one = CorpusOps.extractHtml(docs(1L -> "a &amp;lt;script&amp;gt; b"))
      .collect().head
    assert(one.getString(1) == "a &lt;script&gt; b")
  }

  test("stripHtml lazy block match stops at the first close tag") {
    val one = CorpusOps.extractHtml(docs(
      1L -> "<script>x</script>keep<script>y</script>also")).collect().head
    assert(one.getString(1) == "keep also")
  }

  // --- dedupLines ---

  test("dedupLines keeps first occurrence of each repeated line") {
    val out = CorpusOps.dedupLines(docs(
      1L -> "alpha\nfooter\nbeta\nfooter\nalpha\ngamma",
      2L -> "only\none of each",
      3L -> "same\nsame\nsame"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("alpha\nfooter\nbeta\ngamma", 6, 2)))
    assert(out(2L) == (("only\none of each", 2, 0)))
    assert(out(3L) == (("same", 3, 2)))
  }

  test("dedupLines preserves empty lines' keep-first rule and is shuffle-free") {
    val d = docs(1L -> "a\n\nb\n\nc")
    val out = CorpusOps.dedupLines(d)
    val row = out.collect().head
    assert(row.getString(1) == "a\n\nb\nc")   // second empty line dropped
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  // --- curate with the decontamination stage ---

  test("curate with bench drops contaminated docs between quality and exact") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over a lazy dog today"),    // shares 4-grams with bench
      (2L, "the tall green tree stands near a quiet river bank"), // clean → kept
      (3L, "x y"))                                                // fails quality first
      .toDF("doc_id", "text")
    val bench = Seq((9L, "watch the quick brown fox jumps away")).toDF("doc_id", "text")
    val out = graft.dedup.Dedup.curate(corpus, bench = Some(bench), deconN = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "dropped_contaminated")
    assert(out(2L) == "kept")
    assert(out(3L) == "dropped_quality")
    // bench = None stays the three-stage pipeline: doc 1 is kept again
    val plain = graft.dedup.Dedup.curate(corpus)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(plain(1L) == "kept")
  }

  // --- packSequences ---

  test("packSequences: contiguous chunking with exact offsets and spans") {
    val d = Seq(
      (1L, ("a " * 10).trim, "s"),   // 10 tokens  → [0, 10)
      (2L, ("b " * 3).trim, "s"),    // 3 tokens   → [10, 13)
      (3L, ("c " * 7).trim, "s"),    // 7 tokens   → [13, 20)
      (9L, ("z " * 5).trim, "t"))    // other stratum restarts at 0
      .toDF("doc_id", "text", "source")
    val out = CorpusOps.packSequences(d, seqLen = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out(1L) == ((0L, 0L, 1L, 2L)))    // tokens 0..9 span seqs 0,1
    assert(out(2L) == ((10L, 1L, 1L, 1L)))   // tokens 10..12 inside seq 1
    assert(out(3L) == ((13L, 1L, 2L, 2L)))   // tokens 13..19 span seqs 1,2
    assert(out(9L) == ((0L, 0L, 0L, 1L)))    // stratum t: tokens 0..4
  }

  test("packSequences: a doc longer than seqLen spans ceil(n/seqLen) chunks") {
    val d = Seq((1L, ("x " * 100).trim, "s")).toDF("doc_id", "text", "source")
    val row = CorpusOps.packSequences(d, seqLen = 8).collect().head
    assert(row.getLong(5) == 12L && row.getLong(6) == 13L) // tokens 0..99
  }

  test("packSequences plans exactly one shuffle: the per-stratum window") {
    val d = Seq((1L, "a b", "s")).toDF("doc_id", "text", "source")
    val plan = CorpusOps.packSequences(d, seqLen = 8)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected the single window exchange:\n$plan")
  }

  // --- shuffleCorpus / tokenBudget ---

  test("shuffleCorpus: deterministic 16-way sharding, roughly uniform, narrow") {
    val d = Seq.tabulate(320)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val out = CorpusOps.shuffleCorpus(d)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(rows.sameElements(
      CorpusOps.shuffleCorpus(d).collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))))
    assert(rows.forall { case (_, k, s) => s >= 0 && s < 16 && k.length == 32 })
    // the key's first hex digit IS the shard
    assert(rows.forall { case (_, k, s) => Integer.parseInt(k.substring(0, 1), 16) == s })
    // rough uniformity over 320 docs: every shard non-empty
    assert(rows.map(_._3).distinct.length == 16)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("tokenBudget aggregates per-stratum token totals") {
    val d = Seq(
      (1L, "one two three", "s0", "en"),
      (2L, "four five", "s0", "en"),
      (3L, "六 七", "s1", "zh")).toDF("doc_id", "text", "source", "lang")
    val out = CorpusOps.tokenBudget(d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(("s0", "en")) == ((2L, 5L)))
    assert(out(("s1", "zh")) == ((1L, 2L)))
  }

  // --- vocabulary ---

  test("vocabulary counts normalized tokens and prunes below minCount") {
    val d = Seq(
      (1L, "The the THE cat"),
      (2L, "the cat cat dog")).toDF("doc_id", "text")
    val out = CorpusOps.vocabulary(d, minCount = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("the" -> 4L, "cat" -> 3L))   // dog pruned at n=1
  }

  // --- mixStrata ---

  private val mixed = docs((0L until 400L).map(i => i -> s"doc $i"): _*)
    .withColumn("source",
      concat(lit("s"), (col("doc_id") % 4).cast("string")))

  test("mixStrata: integer weights give exact copy counts; 0 drops") {
    val out = CorpusOps.mixStrata(mixed, col("source"),
      Map("s0" -> 2.0, "s1" -> 0.0), defaultWeight = 1.0)
      .groupBy("stratum").agg(countDistinct("doc_id").as("docs"),
        count(lit(1)).as("rows"), max("epoch").as("maxe"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out("s0") == ((100L, 200L, 2)))     // every doc exactly twice
    assert(!out.contains("s1"))                // dropped stratum
    assert(out("s2") == ((100L, 100L, 1)))     // default weight 1
    assert(out("s3") == ((100L, 100L, 1)))
  }

  test("mixStrata: fractional weights sample at the expected rate, deterministically") {
    def run() = CorpusOps.mixStrata(mixed, col("source"),
      Map("s0" -> 0.5, "s1" -> 2.25), defaultWeight = 1.0)
    val rows = run().collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted
    assert(rows.sameElements(run().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted))
    val byStratum = rows.groupBy(_._2)
    // s0 at w=0.5: kept docs ∈ (20%, 80%) of 100 (md5 coin, n=100)
    val s0 = byStratum("s0").map(_._1).distinct.size
    assert(s0 > 20 && s0 < 80, s"s0 kept $s0")
    // s1 at w=2.25: every doc has 2 or 3 copies
    val s1Copies = byStratum("s1").groupBy(_._1).map(_._2.size).toSet
    assert(s1Copies.subsetOf(Set(2, 3)))
    // epoch numbering is 1..copies
    assert(rows.filter(r => r._2 == "s1" && r._3 == 2).nonEmpty)
  }

  test("mixStrata: different salts give different samples, same rates") {
    def kept(salt: String) = CorpusOps.mixStrata(mixed, col("source"),
      Map("s0" -> 0.5), salt = salt)
      .filter(col("stratum") === "s0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val a = kept("mix1")
    val b = kept("other-seed")
    assert(a != b)
  }

  test("mixStrata plan is shuffle-free (narrow map + explode only)") {
    val plan = CorpusOps.mixStrata(mixed, col("source"), Map("s0" -> 2.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mixing must not shuffle:\n$plan")
  }

  test("fracHex thresholds are exact fixed-point") {
    assert(CorpusOps.fracHex(0.5) == "80000000")
    assert(CorpusOps.fracHex(0.25) == "40000000")
    assert(CorpusOps.fracHex(0.0) == "00000000")
    intercept[IllegalArgumentException](CorpusOps.fracHex(1.0))
  }

  // --- crossEntropy ---

  private def ce4(nlls: Double*): Int =
    math.floor(nlls.sum / nlls.size * 10000.0 + 0.5).toInt

  test("crossEntropy: closed-form unigram NLL, all tokens in-vocab") {
    val d = docs(1L -> "a a b", 2L -> "a z")
    // counts: a=3, b=1, z=1 → mass = 5 + 0.5
    val out = CorpusOps.crossEntropy(d, CorpusOps.vocabulary(d, minCount = 1))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    val (pa, p1) = (3.0 / 5.5, 1.0 / 5.5)
    assert(out(1L) == ((3L, 0L,
      ce4(-math.log(pa), -math.log(pa), -math.log(p1)))))
    assert(out(2L) == ((2L, 0L, ce4(-math.log(pa), -math.log(p1)))))
  }

  test("crossEntropy: OOV tokens take the smoothing mass and are counted") {
    val lm = CorpusOps.vocabulary(docs(1L -> "a a b"), minCount = 1)
    // LM: a=2, b=1 → mass 3.5; "q" is OOV → p = 0.5/3.5
    val out = CorpusOps.crossEntropy(docs(9L -> "a q"), lm).collect().head
    assert(out.getLong(1) == 2L && out.getLong(2) == 1L)
    assert(out.getInt(3) ==
      ce4(-math.log(2.0 / 3.5), -math.log(0.5 / 3.5)))
    // rarer-than-anything OOV: its NLL exceeds every in-vocab token's
    assert(-math.log(0.5 / 3.5) > -math.log(1.0 / 3.5))
  }

  test("crossEntropy: min-count pruning sends tail tokens to OOV") {
    val train = docs(1L -> "a a a a a b")
    val lm = CorpusOps.vocabulary(train, minCount = 5) // only "a" survives
    val out = CorpusOps.crossEntropy(train, lm).collect().head
    assert(out.getLong(2) == 1L) // "b" scored as OOV
  }

  test("crossEntropy: the LM probe is a broadcast join, never a sort-merge") {
    val d = docs(1L -> "a b c", 2L -> "b c d")
    val plan = CorpusOps.crossEntropy(d, CorpusOps.vocabulary(d, minCount = 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"LM side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-wide sort-merge:\n$plan")
  }

  // --- dedupParagraphs ---

  test("dedupParagraphs keeps each paragraph at its global first occurrence") {
    val d = docs(
      1L -> "alpha one\n\nSHARED FOOTER\n\nunique tail",
      2L -> "beta two\n\nSHARED FOOTER\n\nbeta close",
      3L -> "SHARED FOOTER\n\nSHARED FOOTER\n\ngamma end")
    val out = CorpusOps.dedupParagraphs(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // doc 1 is the global winner of SHARED FOOTER (min doc_id, pos 1)
    assert(out(1L) == (("alpha one\n\nSHARED FOOTER\n\nunique tail", 3, 0)))
    // doc 2 loses the shared paragraph, keeps its own
    assert(out(2L) == (("beta two\n\nbeta close", 3, 1)))
    // doc 3: both SHARED FOOTER copies lose (winner is doc 1) — within-doc
    // repetition is subsumed by the global rule
    assert(out(3L) == (("gamma end", 3, 2)))
  }

  test("dedupParagraphs: matching is on the normalized form; a doc can lose everything") {
    val d = docs(
      1L -> "Same  Para",
      2L -> "same para") // normalizes identically → doc 2 empties out
    val out = CorpusOps.dedupParagraphs(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("Same  Para", 1, 0)))
    assert(out(2L) == (("", 1, 1)))
  }

  test("dedupParagraphs: no wide stage carries paragraph text") {
    val d = docs(1L -> "a\n\nb", 2L -> "b\n\nc")
    val plan = CorpusOps.dedupParagraphs(d).queryExecution.executedPlan.toString
    // the h-aggregate and kept-position stages shuffle (h|doc_id, pos)
    // structs only; `para` strings must stay inside their map task
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("para")),
      s"paragraph text crossed a shuffle:\n$plan")
  }

  // --- perplexity buckets ---

  test("perplexityBuckets: tertiles per stratum, deterministic tie-break") {
    val scored = Seq(
      (1L, "en", 100), (2L, "en", 200), (3L, "en", 300),
      (4L, "en", 400), (5L, "en", 500), (6L, "en", 600),
      (7L, "de", 50), (8L, "de", 50), (9L, "de", 70)
    ).toDF("doc_id", "stratum", "ce_e4")
    val out = CorpusOps.perplexityBuckets(scored, buckets = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(out(1L) == 1 && out(2L) == 1)
    assert(out(3L) == 2 && out(4L) == 2)
    assert(out(5L) == 3 && out(6L) == 3)
    // de: tie on ce_e4=50 breaks by doc_id; 3 docs → one per tile
    assert(out(7L) == 1 && out(8L) == 2 && out(9L) == 3)
  }

  // --- mojibake repair ---

  test("fixMojibake repairs the table subset, counts codepoints, and is idempotent") {
    val d = docs(
      1L -> "cafÃ© â€™s straÃŸe",
      2L -> "perfectly clean ascii text")
    val out = CorpusOps.fixMojibake(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(out(1L) == (("café ’s straße", 4, true)))
    assert(out(2L) == (("perfectly clean ascii text", 0, false)))
    // idempotence: re-running the pass changes nothing
    val again = CorpusOps.fixMojibake(
      CorpusOps.fixMojibake(d).select(col("doc_id"), col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(again(1L) == 0 && again(2L) == 0)
  }

  // --- n-gram novelty ---

  test("gramNovelty: first-seen grams count for the earliest doc_id; short docs are null") {
    val d = docs(
      1L -> "a b c d",   // grams {a b c, b c d} — both first here
      2L -> "a b c x",   // {a b c} seen in doc 1, {b c x} novel
      3L -> "zz")        // too short for any trigram
    val out = CorpusOps.gramNovelty(d, n = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1 else r.getInt(3)))).toMap
    assert(out(1L) == ((2L, 2L, 10000)))
    assert(out(2L) == ((2L, 1L, 5000)))
    assert(out(3L) == ((0L, 0L, -1)))
  }

  // --- temperature sampling weights ---

  test("temperatureWeights: alpha=0.5 closed form; alpha=1 is proportional") {
    val budget = Seq(("a", 900L), ("b", 100L)).toDF("source", "n_tokens")
    // p = 0.9/0.1 → sqrt-num 3c/c → q = 0.75/0.25; w = q·1000/n
    val half = CorpusOps.temperatureWeights(budget, Seq("source"),
      alpha = 0.5, targetTokens = 1000L)
      .collect().map(r => r.getString(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    assert(half("a") == ((7500, 8333L)))
    assert(half("b") == ((2500, 25000L)))
    // alpha = 1 degenerates to token-share sampling: every stratum's
    // expected token draw equals its share → uniform weight T/N
    val prop = CorpusOps.temperatureWeights(budget, Seq("source"),
      alpha = 1.0, targetTokens = 1000L)
      .collect().map(r => r.getString(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    assert(prop("a") == ((9000, 10000L)))
    assert(prop("b") == ((1000, 10000L)))
    // a 1-token stratum under a large target lands beyond int range on the
    // 1e-4 grid — the column is long on both engines, never a saturating
    // int cast
    val tiny = CorpusOps.temperatureWeights(
      Seq(("a", 1L), ("b", 1000000L)).toDF("source", "n_tokens"),
      Seq("source"), alpha = 0.3, targetTokens = 1000000000L)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(tiny("a") > Int.MaxValue.toLong, s"expected >2^31, got ${tiny("a")}")
  }

  test("dedupParagraphs invariants hold on a seeded adversarial corpus") {
    val rnd = new scala.util.Random(7)
    val pool = Vector("alpha beta", "Ünïcodé pârä", "", "   ",
      "x y z w p q r s t", "shared line one", "tab\tsep", "emoji 🎉 done")
    val rows = (1L to 60L).map { id =>
      val n = rnd.nextInt(5)
      (id, (0 until n).map(_ => pool(rnd.nextInt(pool.size))).mkString("\n\n"))
    }
    val out = CorpusOps.dedupParagraphs(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    def norm(s: String) = s.replaceAll("\\s+", " ").trim.toLowerCase
    val inParas = rows.map { case (id, t) => id -> t.split("\n\n", -1).toSeq }.toMap
    // every distinct normalized paragraph survives exactly once corpus-wide
    val distinctNorms = inParas.values.flatten.map(norm).toSet.size
    val totalKept = out.values.map(v => v._2 - v._3).sum
    assert(totalKept == distinctNorms, s"kept=$totalKept distinct=$distinctNorms")
    // per doc: n_paras is the split length and the output is an in-order
    // subsequence of the input paragraphs
    def isSubseq(small: Seq[String], big: Seq[String]): Boolean = {
      var i = 0
      big.foreach(b => if (i < small.length && small(i) == b) i += 1)
      i == small.length
    }
    for ((id, (text, nParas, nDropped)) <- out) {
      assert(nParas == inParas(id).length)
      assert(nDropped >= 0 && nDropped <= nParas)
      val outParas = if (text.isEmpty) Nil else text.split("\n\n", -1).toSeq
      assert(outParas.size <= nParas - nDropped) // "" paragraphs collapse in join
      assert(isSubseq(outParas.filter(_.nonEmpty), inParas(id)),
        s"doc $id output is not a subsequence")
    }
  }

  // --- NB quality classifier ---

  test("nbScore separates classes on a toy corpus and handles OOV docs") {
    val labeled = Seq(
      (1L, "good clean prose text", true),
      (2L, "good solid prose lines", true),
      (3L, "spam spam junk junk", false),
      (4L, "junk noise spam words", false)).toDF("doc_id", "text", "label")
    val score = CorpusOps.nbScore(
      labeled.select(col("doc_id"), col("text")), labeled)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(score(1L)._3 && score(2L)._3, "positive-class docs must score > 0")
    assert(!score(3L)._3 && !score(4L)._3, "negative-class docs must score < 0")
    assert(score(1L)._1 == 4L)
    // an all-OOV doc falls back to the prior + V-smoothing constant: with a
    // balanced prior and balanced token totals the constant is 0 → score 0,
    // predict false (strict > 0)
    val oov = CorpusOps.nbScore(docs(9L -> "zzz qqq"), labeled).collect().head
    assert(oov.getLong(1) == 2L)
    assert(oov.getInt(2) == 0 && !oov.getBoolean(3))
    // totality: a single-class labeled frame yields finite scores (the
    // class prior is Laplace-smoothed; the absent class carries only its
    // +1 token smoothing mass)
    val oneClass = CorpusOps.nbScore(docs(1L -> "good text"),
      labeled.where(col("label"))).collect().head
    assert(!oneClass.isNullAt(2) && oneClass.getInt(2) > 0)
  }

  test("nbScore: the model probe broadcasts; the per-doc agg is map-side combinable") {
    val labeled = Seq((1L, "a b", true), (2L, "c d", false))
      .toDF("doc_id", "text", "label")
    val q = CorpusOps.nbScore(labeled.select(col("doc_id"), col("text")), labeled)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"model must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-wide sort-merge:\n$plan")
    assert(plan.contains("partial"), s"per-doc agg must have a partial phase:\n$plan")
  }
}
