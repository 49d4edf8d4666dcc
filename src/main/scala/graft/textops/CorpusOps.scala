package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level curation operators a pre-training data pipeline runs after
  * (or alongside) dedup: benchmark decontamination, PII redaction, and
  * per-stratum corpus mixing. Like the rest of the textops tier these are
  * pure DataFrame/Column compositions over codegen'd built-ins — the wide
  * stages are declared joins/aggregations Catalyst can plan (broadcast the
  * benchmark side, map-side-combine the per-doc hit counts), never
  * driver-side loops.
  *
  * The reference engine has no corpus-level analogue (its unit is one event
  * in flight, libbeat/processors); these extend the same per-document
  * column algebra (TextOps) to whole-corpus decisions.
  */
object CorpusOps {

  /** distinct xxhash64 fingerprints of the word n-grams of the normalized
    * text; a document shorter than `n` tokens contributes no n-grams. The
    * 8-byte hash — not the n-gram string — is what crosses every shuffle
    * and broadcast downstream (the [[Dedup.substringDupSpans]] contract: a
    * 64-bit collision is the only possible divergence from string grams). */
  def ngramHashes(text: Column, n: Int): Column = {
    // the token array is BOUND AS A LAMBDA VARIABLE (transform over a
    // 1-element array): a lambda body re-evaluates every non-variable
    // subexpression per element, so referencing the tokenizer subtree
    // directly from the window lambda re-ran two regexes per n-gram —
    // ~50× the whole operator's cost at 50 grams/doc (measured; the same
    // fix applies to Dedup.shingles)
    element_at(transform(array(TextOps.tokens(TextOps.normalized(text))), toks =>
      when(size(toks) < n, array().cast("array<bigint>"))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => xxhash64(array_join(slice(toks, i, lit(n)), " ")))))), 1)
  }

  /** Benchmark decontamination — the GPT-3/Gopher/Llama eval-leak gate:
    * a training document is CONTAMINATED when it shares at least `minHits`
    * distinct word n-grams with the evaluation corpus (they use 8–13-grams;
    * `n` is the caller's). Output: one row per training document with its
    * distinct-n-gram count, the number of benchmark-colliding n-grams, and
    * the verdict — `filter(!col("contaminated"))` is the clean corpus.
    *
    * 100 TB posture: the benchmark n-gram set is DISTINCT-aggregated and
    * broadcast (eval suites are MBs against a 100 TB corpus — the asymmetry
    * is the whole point of the design); the training side then probes it
    * map-side, so the only rows that reach the per-doc `groupBy(doc_id)`
    * are the matching (doc_id, gram) pairs — proportional to contamination,
    * not corpus size. No n-gram string ever leaves a task. The plan reads
    * the training corpus twice ((doc_id, text) pruned both times): once for
    * the probe, once for the verdict base — persist the gram projection
    * first when that scan dominates the job.
    *
    * This is the one decontamination plan; [[graft.dedup.Dedup.curate]]'s
    * decontamination stage calls it too. */
  def decontaminate(train: DataFrame, bench: DataFrame, n: Int = 8,
                    minHits: Int = 1): DataFrame = {
    val benchGrams = bench
      .select(explode(ngramHashes(col("text"), n)).as("g"))
      .distinct()
    val hits = train
      .select(col("doc_id"), explode(ngramHashes(col("text"), n)).as("g"))
      .join(broadcast(benchGrams), Seq("g"))
      // per-doc grams are array_distinct'd, so count(*) counts DISTINCT
      // colliding grams — map-side combinable, unlike a countDistinct
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    train.select(col("doc_id"), size(ngramHashes(col("text"), n)).as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .withColumn("contaminated", col("hits") >= minHits)
  }

  /** PII patterns — deliberately in the regex subset where Java and RE2
    * (DuckDB, Go, Hyperscan) agree byte-for-byte: character classes,
    * bounded quantifiers, `\b`, non-capturing groups; no lookaround, no
    * `\s`/`\p` (engines disagree on their members). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9][0-9 \\-]{6,14}[0-9]"

  /** PII redaction — masks emails, then IPv4 literals, then international
    * phone numbers with typed placeholders, counting each kind. Applied in
    * that fixed order ON THE PREVIOUS STAGE'S OUTPUT (an email's host part
    * could otherwise double-match the IP pattern), and the placeholders
    * contain no `@`, digit, or `+`, so the pass is idempotent. Pure narrow
    * map over codegen'd `regexp_replace`/`regexp_extract_all` — runs inside
    * the scan's codegen span at any scale. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val t1 = regexp_replace(t0, EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, Ipv4Re, "<IP>")
    val t3 = regexp_replace(t2, PhoneRe, "<PHONE>")
    val nEmail = size(regexp_extract_all(t0, lit(EmailRe), lit(0)))
    val nIp = size(regexp_extract_all(t1, lit(Ipv4Re), lit(0)))
    val nPhone = size(regexp_extract_all(t2, lit(PhoneRe), lit(0)))
    docs.select(col("doc_id"), t3.as("redacted"),
      nEmail.as("n_email"), nIp.as("n_ip"), nPhone.as("n_phone"),
      (nEmail + nIp + nPhone > 0).as("had_pii"))
  }

  /** first 8 md5 hex chars of `key:salt` — a uniform per-document bucket in
    * [0, 2³²) that ANY engine computes identically (md5 hex is canonical;
    * the comparison is plain string order on fixed-width lowercase hex).
    * This is the sampling coin: deterministic, seedable via `salt`,
    * independent of partitioning and row order. */
  def hashBucket(key: Column, salt: String): Column =
    substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 8)

  /** the keep-threshold for a fractional rate as an 8-hex-digit string:
    * bucket < threshold ⇔ keep, P(keep) = frac (frac must be in [0,1)). */
  private[graft] def fracHex(frac: Double): String = {
    require(frac >= 0.0 && frac < 1.0, s"fractional rate out of [0,1): $frac")
    f"${math.floor(frac * 4294967296.0).toLong}%08x"
  }

  /** HTML boilerplate stripping — the first step of every web-crawl corpus
    * pipeline (C4, RefinedWeb): drop `<script>`/`<style>` blocks wholesale,
    * replace every remaining tag with a space, decode the six entities that
    * dominate crawl text (`&amp;` LAST, so `&amp;lt;` decodes to the literal
    * text `&lt;` and never double-decodes), collapse whitespace. Pure narrow
    * map over codegen'd `regexp_replace`/`replace`; the regexes live in the
    * Java∩RE2 agreement subset (inline `(?is)` flags, lazy `.*?`, no
    * lookaround). */
  def stripHtml(html: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
    trim(regexp_replace(decoded, "[ \\t\\r\\n]+", " "))
  }

  /** count of non-block tags the strip removes — a cheap boilerplate-density
    * signal (markup-heavy pages score high). */
  def tagCount(html: Column): Column =
    size(regexp_extract_all(regexp_replace(
      regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " "), lit("<[^>]+>"), lit(0)))

  /** extraction frame: cleaned text, tag count, and the visible-text ratio
    * (cleaned length / raw length, 4-decimal fixed-point) — the standard
    * "is this page mostly markup" filter signal. */
  def extractHtml(docs: DataFrame, htmlCol: String = "text"): DataFrame = {
    val h = col(htmlCol)
    docs.select(col("doc_id"), stripHtml(h).as("text"),
      tagCount(h).as("n_tags"),
      TextOps.scaled4(length(stripHtml(h)).cast("double") /
        length(h).cast("double")).as("visible_e4"))
  }

  /** Within-document line dedup (RefinedWeb/CCNet boilerplate rule): a line
    * repeated inside one document (navigation, footers, cookie banners) is
    * kept at its FIRST occurrence only. Narrow per-row array algebra — the
    * keep-first rule is `array_position(lines, x) == i+1`, which any engine
    * with list lambdas states identically — no shuffle, no state. */
  def dedupLines(docs: DataFrame, textCol: String = "text"): DataFrame = {
    // lines and the kept subset are BOUND AS LAMBDA VARIABLES (the
    // ngramHashes trap: CollapseProject inlines a split alias into every
    // reference, and a lambda body re-evaluates non-variable subtrees per
    // ELEMENT — the keep-first filter referenced the line array from its
    // own body, re-splitting the document once per line)
    val s = element_at(transform(array(split(col(textCol), "\n")), l =>
      element_at(transform(
        array(filter(l, (x, i) => array_position(l, x) === i.cast("bigint") + 1)), k =>
        struct(array_join(k, "\n").as("text"), size(l).as("n_lines"),
          (size(l) - size(k)).as("n_dropped"))), 1)), 1)
    docs.select(col("doc_id"), s.getField("text").as("text"),
      s.getField("n_lines").as("n_lines"), s.getField("n_dropped").as("n_dropped"))
  }

  /** Sequence packing — the concat-and-chunk step that turns a curated
    * corpus into fixed-length training sequences: documents in a
    * deterministic corpus order (stratum, doc_id) are concatenated and cut
    * every `seqLen` tokens. Per document: its absolute token offset within
    * the stratum, the first/last sequence it lands in, and how many
    * sequences it spans — enough for a loader to materialize any sequence
    * by range-reading the docs that overlap it.
    *
    * 100 TB posture: ONE running-sum window per stratum — the same per-key
    * ordered-fold contract as sessionize (a stratum's cumsum goes through
    * one task; strata are the parallelism unit, so pack per (stratum,
    * shard) when a single stratum dominates). Everything after the cumsum
    * is narrow integer arithmetic. */
  def packSequences(docs: DataFrame, seqLen: Int,
                    stratum: Column = col("source")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen > 0, "seqLen must be positive")
    val w = Window.partitionBy("stratum").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    def seqOf(tok: Column): Column =
      floor(tok.cast("double") / seqLen).cast("long")
    docs
      .select(col("doc_id"), stratum.as("stratum"),
        TextOps.tokenCount(col("text")).as("n_tok"))
      .withColumn("start_tok",
        coalesce(sum("n_tok").over(w), lit(0)).cast("long"))
      .withColumn("first_seq", seqOf(col("start_tok")))
      .withColumn("last_seq", seqOf(col("start_tok") + col("n_tok") - 1))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }

  /** Vocabulary — corpus token counts with min-count pruning (the seed of
    * BPE/unigram vocab builds and a corpus-health report in its own right).
    * One map-side-combinable groupBy on the token itself; the min-count
    * filter prunes the long tail BEFORE anything downstream materializes
    * it. */
  def vocabulary(docs: DataFrame, minCount: Long = 5): DataFrame =
    docs
      .select(explode(TextOps.tokens(TextOps.normalized(col("text")))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)

  /** Deterministic global corpus shuffle — the step before [[packSequences]]
    * in a real run: every document gets a pseudo-random but deterministic
    * 128-bit sort key (the md5 coin again) and a 16-way shard from the
    * key's first hex digit; the loader range-reads shards and sorts within
    * them, giving a reproducible global permutation with zero coordination.
    * Narrow map — the shard column is a declared partition key downstream
    * (`repartitionByRange`/`partitionBy(shard)`), not a shuffle here. */
  def shuffleCorpus(docs: DataFrame, salt: String = "shuf1"): DataFrame =
    docs
      .select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit(":" + salt))).as("shuffle_key"))
      .withColumn("shard",
        (expr("position(substring(shuffle_key, 1, 1) IN '0123456789abcdef')")
          - 1).cast("int"))

  /** Token-budget report — per-(source, lang) document / whitespace-token /
    * subword totals: the accounting every mix design starts from. One
    * map-side-combinable groupBy on the two stratum columns. */
  def tokenBudget(docs: DataFrame): DataFrame =
    docs.groupBy("source", "lang").agg(
      count(lit(1)).as("n_docs"),
      sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
      sum(TextOps.subwordCount(col("text")).cast("long")).as("n_subwords"))

  /** CCNet perplexity bucketing — the step after [[crossEntropy]]: within
    * each stratum (CCNet: language), rank documents by their LM score and
    * cut the ranking into `buckets` equal tiles (CCNet keeps the head and
    * middle tertiles, drops the tail). Ties and tile boundaries are made
    * deterministic by the (ce_e4, doc_id) order. Input: a frame with
    * (doc_id, stratum, ce_e4); output adds `bucket` ∈ [1, buckets].
    *
    * 100 TB posture: ONE ntile window per stratum — the per-key ordered
    * fold contract ([[packSequences]], sessionize): a stratum's ranking
    * goes through one task, and strata (languages) are the parallelism
    * unit, exactly CCNet's sharding. For finer grain swap the exact ntile
    * for approx-quantile boundaries; the exact tile is what the published
    * pipeline specifies. */
  def perplexityBuckets(scored: DataFrame, buckets: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets > 0, "buckets must be positive")
    val w = Window.partitionBy("stratum").orderBy(col("ce_e4"), col("doc_id"))
    scored.select(col("doc_id"), col("stratum"), col("ce_e4"))
      .withColumn("bucket", ntile(buckets).over(w))
  }

  /** The mojibake repair table — the highest-frequency UTF-8-read-as-cp1252
    * double-encodings (the ftfy core cases), ORDERED longest-first so the
    * 3-byte `â€¦` family never half-matches after a 2-byte `Ã©`-family fix.
    * A fixed, documented subset (like [[EmailRe]]'s PII patterns): every
    * entry is an exact string replace any engine states identically. */
  val MojibakeTable: Seq[(String, String)] = Seq(
    "â€™" -> "’", "â€˜" -> "‘", "â€œ" -> "“",
    "â€¦" -> "…", "â€“" -> "–", "â€”" -> "—",
    "Ã©" -> "é", "Ã¨" -> "è", "Ãª" -> "ê", "Ã«" -> "ë",
    "Ã¡" -> "á", "Ã³" -> "ó", "Ãº" -> "ú", "Ã±" -> "ñ",
    "Ã§" -> "ç", "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü",
    "ÃŸ" -> "ß", "Ã…" -> "Å", "Ã˜" -> "Ø")

  /** Mojibake repair — the ftfy step of a crawl pipeline: undo the classic
    * UTF-8-bytes-read-as-cp1252 double encoding for the [[MojibakeTable]]
    * subset. Pure narrow map of exact `replace` calls (no regex), applied
    * in table order; each fix strictly shrinks the text, so
    * `chars_fixed = len(before) − len(after)` counts repaired code points
    * (2 per 3-byte sequence, 1 per 2-byte). Idempotent: no replacement
    * output re-matches any pattern. */
  def fixMojibake(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val fixed = MojibakeTable.foldLeft(col(textCol)) {
      case (c, (bad, good)) => replace(c, lit(bad), lit(good))
    }
    docs.select(col("doc_id"), fixed.as("text"),
      (length(col(textCol)) - length(fixed)).as("chars_fixed"),
      (length(col(textCol)) =!= length(fixed)).as("changed"))
  }

  /** Per-document n-gram novelty — the data-pruning signal for corpus-order
    * curation (D4/DoReMi-style selection asks "how much NEW content does
    * this document add?"): the fraction of a document's distinct n-grams
    * whose globally FIRST occurrence (min doc_id) is this document.
    * Output: (doc_id, n_grams, n_novel, novelty_e4) — novelty is null for
    * documents too short to have any n-gram.
    *
    * 100 TB posture: the same wide-stage contract as [[decontaminate]] —
    * the gram stream shuffles 8-byte hashes into a map-side-combinable
    * min aggregate, the first-doc join is co-partitioned on the gram key,
    * and the per-doc roll-up is combinable. No gram string leaves a task. */
  def gramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(ngramHashes(col("text"), n)).as("g"))
    val firstDoc = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    val per = grams.join(firstDoc, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(null).cast("int"))
          .otherwise(TextOps.scaled4(
            col("n_novel").cast("double") / col("n_grams").cast("double")))
          .as("novelty_e4"))
  }

  /** Temperature (alpha) sampling weights — the XLM-R rule (Conneau et al.
    * 2020 §3.1) that decides how much of each stratum a multilingual /
    * multi-source mix should see: stratum i with token share p_i = n_i/N is
    * sampled with probability q_i = p_i^alpha / Σ_j p_j^alpha (alpha < 1
    * up-weights the tail), and the per-stratum epoch weight that realizes a
    * `targetTokens` budget is w_i = q_i·T / n_i — exactly the `weights`
    * input of [[mixStrata]]. Output: the `budget` frame's key columns plus
    * (n_tokens, q_e4, weight_e4) on the engine-independent 1e-4 grid.
    *
    * 100 TB posture: `budget` is a per-stratum aggregate (a handful of
    * rows — the [[tokenBudget]] output), so both scalar reductions are
    * single-row broadcasts; nothing here touches the corpus. Float parity:
    * pow/division are fixed IEEE-double trees, ≤ 1 ulp across libms
    * against the 1e-4 grid. */
  def temperatureWeights(budget: DataFrame, keyCols: Seq[String],
                         alpha: Double = 0.3,
                         targetTokens: Long = 1000000L): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha out of (0,1]: $alpha")
    val tot = budget.agg(sum("n_tokens").cast("double").as("big_n"))
    val withP = budget.crossJoin(broadcast(tot))
      .withColumn("_num",
        pow(col("n_tokens").cast("double") / col("big_n"), lit(alpha)))
    val z = withP.agg(sum("_num").as("z"))
    withP.crossJoin(broadcast(z))
      .select(keyCols.map(col) ++ Seq(
        col("n_tokens"),
        TextOps.scaled4(col("_num") / col("z")).as("q_e4"),
        // weight can reach q·T/n ≈ 10^10 on the 1e-4 grid for a tiny
        // stratum under a large target — long, not int (int saturates in
        // Spark but ERRORS in ANSI engines: a silent cross-engine cliff)
        floor(col("_num") / col("z") * targetTokens /
          col("n_tokens").cast("double") * 10000.0 + 0.5)
          .cast("long").as("weight_e4")): _*)
  }

  /** Corpus mixing — the per-source epoch schedule of a training-data mix
    * (e.g. "3.5 epochs of Wikipedia, 0.3 of CommonCrawl"): each document's
    * stratum weight `w` yields `floor(w)` full copies plus one more with
    * probability `frac(w)`, decided by the deterministic md5 coin — so the
    * realized mix converges to the target weights with zero coordination.
    * Output: (doc_id, stratum, epoch) with epoch ∈ [1, copies]; weight 0
    * drops the stratum, weight ≤ 1 is plain stratified sampling.
    *
    * 100 TB posture: a narrow map (weight/coin/copies are per-row column
    * arithmetic) followed by an explode — no shuffle at all; downstream
    * consumers shuffle-free-read the mix in source order, and the epoch
    * column gives them a deterministic interleave key. */
  def mixStrata(docs: DataFrame, stratum: Column, weights: Map[String, Double],
                defaultWeight: Double = 1.0, salt: String = "mix1"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0.0),
      "stratum weights must be non-negative")
    def chain(f: Double => Column): Column =
      weights.toSeq.sortBy(_._1).foldRight(f(defaultWeight)) {
        case ((k, v), els) => when(stratum === k, f(v)).otherwise(els)
      }
    val fullCopies = chain(v => lit(math.floor(v).toInt))
    val fracThreshold = chain(v => lit(fracHex(v - math.floor(v))))
    val copies = fullCopies +
      when(hashBucket(col("doc_id"), salt) < fracThreshold, 1).otherwise(0)
    docs.select(col("doc_id"), stratum.as("stratum"), copies.as("copies"))
      .where(col("copies") > 0)
      .select(col("doc_id"), col("stratum"),
        explode(sequence(lit(1), col("copies"))).as("epoch"))
  }

  /** Cross-document paragraph dedup — CCNet's corpus-level dedup unit
    * (Wenzek et al. 2020 §3.2 dedup paragraphs by hash across shards;
    * RefinedWeb carries the same rule): every paragraph (a `\n\n`-separated
    * block) is kept at its GLOBALLY FIRST occurrence — the minimum
    * (doc_id, pos) over all occurrences of its normalized form — and
    * dropped everywhere else, which subsumes within-document paragraph
    * repeats. Documents are reassembled from their surviving paragraphs in
    * original order (a document whose every paragraph lost becomes "").
    *
    * Output: (doc_id, text, n_paras, n_dropped).
    *
    * 100 TB posture: the wide stages never carry paragraph text. Stage 1
    * shuffles (h=xxhash64(norm), doc_id, pos) — ~20 bytes per paragraph —
    * into a map-side-combinable min-struct aggregate; stage 2 shuffles the
    * winners' (doc_id, pos) ints into per-doc kept-position lists; stage 3
    * joins those lists back to the corpus on doc_id (the corpus's one
    * text-bearing shuffle — bucket the corpus by doc_id and it vanishes)
    * and rebuilds each document with narrow array algebra. The only
    * divergence from matching on the paragraph string itself is a 64-bit
    * hash collision (the [[ngramHashes]] contract). */
  def dedupParagraphs(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val paras = docs.select(col("doc_id"),
      posexplode(split(col(textCol), "\n\n")).as(Seq("pos", "para")))
    val winners = paras
      .select(col("doc_id"), col("pos"),
        xxhash64(TextOps.normalized(col("para"))).as("h"))
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val keptPos = winners
      .select(col("w.doc_id").as("doc_id"), col("w.pos").as("pos"))
      .groupBy("doc_id").agg(collect_list(col("pos")).as("kept"))
    // split bound as a lambda variable (the ngramHashes trap): the paragraph
    // array evaluates once per row across text/n_paras/n_dropped
    val s = element_at(transform(array(split(col(textCol), "\n\n")), l =>
      element_at(transform(
        array(filter(l, (x, i) => array_contains(col("kept"), i.cast("int")))), k =>
        struct(array_join(k, "\n\n").as("text"), size(l).as("n_paras"),
          (size(l) - size(k)).as("n_dropped"))), 1)), 1)
    docs.join(keptPos, Seq("doc_id"), "left")
      .withColumn("kept", coalesce(col("kept"), array().cast("array<int>")))
      .select(col("doc_id"), s.getField("text").as("text"),
        s.getField("n_paras").as("n_paras"),
        s.getField("n_dropped").as("n_dropped"))
  }

  /** Multinomial Naive Bayes token counts — the model half of the
    * fasttext-shaped quality classifier every modern corpus pipeline
    * bootstraps from a heuristic gate (CCNet trains a linear classifier on
    * "looks like Wikipedia"; Llama trains one on pages Wikipedia cites).
    * One map-side-combinable groupBy over the exploded token stream; the
    * model is (token, n_pos, n_neg) — vocabulary-sized, broadcastable. */
  def nbModel(labeled: DataFrame, labelCol: String = "label"): DataFrame =
    labeled
      .select(col(labelCol).as("_y"),
        explode(TextOps.tokens(TextOps.normalized(col("text")))).as("token"))
      .groupBy("token")
      .agg(sum(when(col("_y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(!col("_y"), 1L).otherwise(0L)).as("n_neg"))

  /** Score every document under a multinomial NB with add-one smoothing
    * trained on `labeled(doc_id, text, label)` — the bootstrap pattern:
    * `labeled` usually carries a heuristic verdict
    * ([[TextOps.gopherReason]] is null) as the label, and the learned
    * token-likelihood model then generalizes the gate. The class prior is
    * Laplace-smoothed, ln((N⁺+1)/(N⁻+1)), so the op is total even on a
    * single-class labeled frame (the token LLRs are already finite there:
    * an absent class contributes only its +1 smoothing mass).
    *
    * Per document: token count, the total log-odds
    * prior + Σ_t [ln((c⁺_t+1)/(T⁺+V)) − ln((c⁻_t+1)/(T⁻+V))] on the
    * engine-independent 1e-4 grid, and the sign verdict. Out-of-vocabulary
    * tokens take the smoothing mass (c_t = 0) so every document is
    * scorable.
    *
    * 100 TB posture: the model and the five scalar constants are
    * broadcast (a unigram vocab is MBs); the token stream probes them
    * map-side and the per-doc aggregation is map-side combinable — the
    * same plan shape as [[crossEntropy]]. Float parity: each token's
    * log-likelihood ratio is a fixed IEEE-double tree (ln ≤ 1 ulp across
    * libms) and sum-order drift is ~1e-15 relative against the 1e-4
    * grid. */
  def nbScore(docs: DataFrame, labeled: DataFrame,
              labelCol: String = "label"): DataFrame = {
    val model = nbModel(labeled, labelCol)
    val consts = model
      .agg(sum("n_pos").as("t_pos"), sum("n_neg").as("t_neg"),
        count(lit(1)).as("v"))
      .crossJoin(labeled.agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("d_pos"),
        sum(when(!col(labelCol), 1L).otherwise(0L)).as("d_neg")))
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(TextOps.normalized(col("text")))).as("token"))
    toks
      .join(broadcast(model), Seq("token"), "left")
      .crossJoin(broadcast(consts))
      .select(col("doc_id"),
        (log((coalesce(col("n_pos"), lit(0L)).cast("double") + 1.0) /
          (col("t_pos").cast("double") + col("v").cast("double"))) -
          log((coalesce(col("n_neg"), lit(0L)).cast("double") + 1.0) /
            (col("t_neg").cast("double") + col("v").cast("double")))).as("llr"),
        (log(col("d_pos").cast("double") + 1.0) -
          log(col("d_neg").cast("double") + 1.0)).as("prior"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        TextOps.scaled4(first(col("prior")) + sum(col("llr"))).as("score_e4"))
      .withColumn("predict_hq", col("score_e4") > 0)
  }

  /** Unigram cross-entropy score — the CCNet/Llama-pipeline quality signal:
    * score each document by the mean negative log-probability of its tokens
    * under a unigram language model `lm(token, n)` (the [[vocabulary]]
    * output, typically built from a trusted reference corpus). Low
    * cross-entropy ≈ looks like the reference corpus; the caller keeps the
    * head/middle of the distribution and drops the tail (CCNet buckets at
    * the per-stratum tertiles). Out-of-vocabulary tokens take the smoothing
    * mass `alpha` (one pseudo-count shared by all OOV), so every document
    * is scorable and the score is total.
    *
    * Output: (doc_id, n_tokens, oov, ce_e4) — ce_e4 is the mean NLL in
    * nats scaled by [[TextOps.scaled4]] for cross-engine comparison.
    *
    * 100 TB posture: the LM is min-count pruned and BROADCAST (a unigram
    * vocab is MBs against a 100 TB corpus); the exploded token stream
    * probes it map-side, and the per-doc aggregation is map-side
    * combinable — tokens of one document sit in one input partition, so
    * the shuffle carries ~one partial row per document, not per token.
    * Float parity: each token's NLL is a fixed IEEE-double expression tree
    * (ln differs ≤ 1 ulp across libm implementations) and the per-doc sum
    * order may differ across engines — both effects are ~1e-15 relative
    * against scaled4's 1e-4 grid, so the rounded score is stable. */
  def crossEntropy(docs: DataFrame, lm: DataFrame,
                   alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, "smoothing mass alpha must be positive")
    val tot = lm.agg((sum(col("n")).cast("double") + alpha).as("lm_mass"))
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(TextOps.normalized(col("text")))).as("token"))
    toks
      .join(broadcast(lm), Seq("token"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n").isNull.as("is_oov"),
        (-log(coalesce(col("n").cast("double"), lit(alpha)) / col("lm_mass")))
          .as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("is_oov"), 1L).otherwise(0L)).as("oov"),
        TextOps.scaled4(
          sum(col("nll")) / count(lit(1)).cast("double")).as("ce_e4"))
  }
}
