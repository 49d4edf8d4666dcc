package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language ID, quality scoring, fingerprinting, exact dedup.
  *
  * All of these are pure `Column` compositions over built-in (codegen'd)
  * functions — per-row narrow transforms with NO shuffle, so they scale
  * linearly with input size; the only wide operator in this file is the
  * dedup `groupBy`, which shuffles a 32-char fingerprint (never the full
  * document text) plus the ids it needs to keep.
  *
  * The reference engine's closest analogues are its per-event scalar
  * processors (libbeat/processors/actions, fingerprint/fingerprint.go:70-120);
  * the corpus-level operators (dedup, quality filtering) are the extensions a
  * training-data pipeline needs on top.
  */
object TextOps {

  /** tiny per-language stopword lists for the n-gram/stopword language
    * heuristic. Deterministic and ANSI-SQL-mirrorable by design. */
  val StopEn: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein")
  val StopFr: Seq[String] = Seq("le", "la", "et", "les", "des", "une", "est")

  /** whitespace tokenizer. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword counter for token budgeting: alpha runs, digit runs and
    * single punctuation marks each count as one token — the standard cheap
    * stand-in for a real BPE vocab when estimating training-token volume. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** count of tokens found in `words` (exact, lowercased). */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(tokens(text), t => array_contains(set, lower(t))))
  }

  /** punctuation characters removed by the fixed class (same class both in
    * Spark and the DuckDB oracle — do NOT use \p{Punct}, engines disagree). */
  def punctChars(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:'\"()]", ""))

  /** quality score in [0,1]: token-volume, stopword density, punctuation
    * sanity. Raw double — callers needing cross-engine equality use
    * [[scaled4]] (engine round() implementations disagree on half-cases). */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val stopRatio = stopwordHits(text, StopEn).cast("double") / nTok
    val punctRatio = punctChars(text).cast("double") / length(text).cast("double")
    lit(0.5) * least(nTok / lit(50.0), lit(1.0)) +
      lit(0.3) * least(lit(5.0) * stopRatio, lit(1.0)) +
      lit(0.2) * (lit(1.0) - punctRatio)
  }

  /** engine-independent 4-decimal fixed-point: floor(x·10⁴ + 0.5) as int.
    * Both Spark and any ANSI engine execute the identical IEEE sequence, so
    * results match bit-for-bit — unlike round(x, 4), whose half-case
    * behavior is implementation-defined. */
  def scaled4(x: Column): Column =
    floor(x * lit(10000.0) + lit(0.5)).cast("int")

  /** stopword-vote language ID: argmax of per-language stopword hits, with
    * first-listed language winning ties (en > de > fr), 'und' when no list
    * scores at all. */
  def langId(text: Column): Column = {
    val en = stopwordHits(text, StopEn)
    val de = stopwordHits(text, StopDe)
    val fr = stopwordHits(text, StopFr)
    when(en + de + fr === 0, lit("und"))
      .when(en >= de && en >= fr, lit("en"))
      .when(de >= fr, lit("de"))
      .otherwise(lit("fr"))
  }

  /** canonical form for near-identical-text matching: lowercase, trim,
    * collapse whitespace runs. */
  def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** 128-bit content fingerprint of the normalized text (hex). Shuffling /
    * joining on this instead of raw text keeps wide stages narrow-byte. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** per-document feature frame over `documents(doc_id, text, ...)`. */
  def stats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      subwordCount(col("text")).as("n_subwords"),
      stopwordHits(col("text"), StopEn).as("stop_hits"),
      punctChars(col("text")).as("punct_chars"),
      scaled4(length(col("text")).cast("double") / tokenCount(col("text")).cast("double"))
        .as("avg_token_len_e4"),
      langId(col("text")).as("lang"),
      scaled4(qualityScore(col("text"))).as("quality_e4"))

  // the Gopher rule chain — ONE definition of thresholds and reason
  // strings, parameterized on the metric columns so each caller controls
  // how often the repetition kernels are instantiated (Catalyst does not
  // CSE custom expressions across projections)
  private def gopherReasonFrom(nTok: Column, meanLen: Column, stopHits: Column,
                               punctRatio: Column, top2: Column,
                               dup3: Column): Column =
    when(nTok < 8, "too_short")
      .when(nTok > 10000, "too_long")
      .when(meanLen < 3.0 || meanLen > 10.0, "word_length")
      .when(stopHits < 2, "stopwords")
      .when(punctRatio > 0.1, "symbols")
      .when(top2 > 0.20, "top_2gram")
      .when(dup3 > 0.18, "dup_3gram")

  private def meanTokenLen(text: Column): Column =
    length(regexp_replace(text, " ", "")).cast("double") /
      tokenCount(text).cast("double")
  private def punctRatioOf(text: Column): Column =
    punctChars(text).cast("double") / length(text).cast("double")

  /** the [[gopherFilter]] rule chain as ONE inline verdict column (null =
    * keep) for pipelines that need no metric outputs — each repetition
    * kernel is instantiated exactly once, and there is no join back. */
  def gopherReason(text: Column): Column =
    gopherReasonFrom(tokenCount(text), meanTokenLen(text),
      stopwordHits(text, StopEn), punctRatioOf(text),
      graft.functions.ngram_char_fracs(text, 2).getField("top_frac"),
      graft.functions.ngram_char_fracs(text, 3).getField("dup_frac"))

  /** Gopher-style document quality gate (Rae et al. 2021 Table A1, adapted
    * to this engine's metrics): per-document keep/drop with a first-failing-
    * rule reason taxonomy — the standard pre-training corpus filter. Rules:
    * token count in [8, 10000]; mean token length (non-space chars / tokens)
    * in [3, 10]; ≥ 2 hits on the 8-word English stop list (the Gopher
    * "common English words" rule — same 8-word shape); punctuation ratio
    * ≤ 0.1; top 2-gram char fraction ≤ 0.20; duplicate 3-gram char fraction
    * ≤ 0.18. Pure narrow map — no shuffle; at 100 TB this runs inside the
    * same codegen span as the scan. */
  def gopherFilter(docs: DataFrame): DataFrame = {
    val nTok = tokenCount(col("text"))
    docs
      .withColumn("_r2", graft.functions.ngram_char_fracs(col("text"), 2))
      .withColumn("_r3", graft.functions.ngram_char_fracs(col("text"), 3))
      .withColumn("reason", gopherReasonFrom(nTok, meanTokenLen(col("text")),
        stopwordHits(col("text"), StopEn), punctRatioOf(col("text")),
        col("_r2.top_frac"), col("_r3.dup_frac")))
      .select(
        col("doc_id"),
        col("reason").isNull.as("keep"),
        col("reason"),
        nTok.as("n_tokens"),
        scaled4(meanTokenLen(col("text"))).as("mean_len_e4"),
        stopwordHits(col("text"), StopEn).as("stop_hits"),
        scaled4(punctRatioOf(col("text"))).as("punct_e4"),
        scaled4(col("_r2.top_frac")).as("top2_e4"),
        scaled4(col("_r3.dup_frac")).as("dup3_e4"))
  }

  /** Greedy merge-rank BPE apply (Sennrich et al. 2016's encode step):
    * each merge rule (a, b) → ab is applied in rank order as a
    * left-to-right non-overlapping pair rewrite over every word's symbol
    * sequence; returns per-word subword arrays. One plan at every table
    * size: the [[graft.functions.BpeEncodeWords]] kernel (one
    * reference-object merge-rank hash map, per-word min-rank adjacent-merge
    * loop, per-task word cache), whose per-word cost is independent of
    * table size (30k–100k-merge production tables). Pure narrow map — no
    * shuffle; at 100 TB this is linear scan CPU.
    *
    * The table must be rank-consistent: no rule may use a symbol that only
    * a later rule produces, and no two rules may produce the same symbol.
    * Under that condition the min-rank loop states exactly the rank-order
    * rewrite (see [[graft.functions.BpeKernel]]). Every table [[trainBpe]]
    * emits meets it (see [[BpeTrainer]]); a table that breaks it is
    * rejected at plan time with an `IllegalArgumentException` naming the
    * rule. */
  def bpeSegment(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.bpe_encode_words(tokens(normalized(text)), merges)

  /** BPE merge-table training (Sennrich et al. 2016's learn step) over a
    * corpus (pass a SAMPLE — SentencePiece-style pipelines train the
    * tokenizer on a sample, never the full 100 TB): ONE distributed pass
    * builds the distinct-word histogram (map-side-combinable groupBy;
    * `maxVocab` guards the collect — a natural-text sample's distinct-word
    * count is millions, not the corpus size), then the classic incremental
    * learner runs on the driver: count adjacent symbol pairs, merge the
    * most frequent with the deterministic (count DESC, pair ASC codepoint
    * order) tie-break, update only the words containing the merged pair.
    * Total cost is O(symbols + merges·log pairs) — iteration cost is FLAT,
    * not the k chained replaces per iteration of the former re-derive-
    * from-scratch shape — so tokenizer-real 8k+ merge tables train in
    * seconds (spec-pinned). Stops early when no pair reaches `minCount`. */
  def trainBpe(docs: DataFrame, numMerges: Int, minCount: Long = 2L,
               textCol: String = "text", maxVocab: Int = 1 << 22): Seq[(String, String)] = {
    // limit(maxVocab + 1) makes the guard run BEFORE the driver holds the
    // full histogram: a valid sample (≤ maxVocab distinct words) collects
    // completely, an oversized corpus collects one row past the bound and
    // fails fast instead of OOM-ing the driver first
    val hist = docs
      .select(explode(tokens(normalized(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .limit(maxVocab + 1)
      .collect()
    require(hist.length <= maxVocab,
      s"distinct-word histogram exceeds maxVocab=$maxVocab — " +
        "train the tokenizer on a sample, not the corpus")
    BpeTrainer.learn(hist.map(r => r.getString(0) -> r.getLong(1)),
      numMerges, minCount)
  }

  /** Compression-ratio quality signal (RedPajama-V2 filter column):
    * deflated bytes / raw UTF-8 bytes on the 1e-4 grid — repetitive
    * boilerplate compresses far below natural prose, so a LOW ratio flags
    * machine-generated or template text. Narrow codegen'd map; null for
    * empty text. Spec-gated (the DEFLATE byte count is zlib-build-specific,
    * not an ANSI-mirrorable value). */
  def compressionRatio(text: Column): Column = {
    val raw = encode(text, "UTF-8")
    when(octet_length(raw) === 0, lit(null).cast("int"))
      .otherwise(scaled4(
        graft.functions.deflate_len(raw).cast("double") /
          octet_length(raw).cast("double")))
  }

  /** exact near-identical dedup: group by content fingerprint, keep the
    * smallest doc_id of each group. One shuffle, keyed on the 32-char
    * fingerprint — at 10^12 docs this is the standard map-side-combinable
    * min/count aggregate, never an O(n²) compare. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.groupBy(fingerprint(col("text")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dupes"))

  /** the surviving rows after exact dedup (keeps full doc row of keepers). */
  def dedupedDocs(docs: DataFrame): DataFrame = {
    val keep = dedupExact(docs).select(col("keep_id").as("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }
}
