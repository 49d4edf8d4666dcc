package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gopher-style word n-gram repetition metrics (Rae et al. 2021, "Scaling
  * Language Models", Table A1 repetition filters) — the standard LLM
  * training-data quality signals for repetitious documents.
  *
  * Definitions (pinned; the DuckDB oracle mirrors them exactly):
  *  - `norm` = lowercase(trim(whitespace runs collapsed to one space))
  *    — the same canonical form as [[graft.textops.TextOps.normalized]]
  *  - grams  = OVERLAPPING word n-grams of `norm`'s space-split tokens,
  *    joined with a single space
  *  - top_frac = cnt(top) · len(top) / len(norm) where `top` is the most
  *    frequent gram (ties → smallest in codepoint order), 0.0 when the
  *    document has fewer than n tokens
  *  - dup_frac = Σ_{gram: cnt ≥ 2} cnt · len(gram) / len(norm)
  *  - all lengths are CODEPOINT counts and the tie-break is codepoint
  *    (UTF-8 binary) order — DuckDB `length()`/collation semantics, so the
  *    oracle agrees beyond ASCII (İ-style locale full-mappings and RE2's
  *    `\s` lacking VT are the residual, documented divergences)
  *
  * Character coverage is the overlap-counted upper bound (cnt × len), not
  * the positional union — simpler, deterministic, and monotone in the same
  * direction; thresholds are calibrated against THIS definition.
  *
  * Scale posture: a narrow per-row map — no shuffle, no state. Work is
  * O(tokens · n) per document with one small hash map; at 100 TB the cost
  * is linear scan CPU, exactly like the other parse kernels.
  */
object RepetitionKernel {

  val schema: StructType = StructType(Seq(
    StructField("top_gram", StringType),
    StructField("top_frac", DoubleType, nullable = false),
    StructField("dup_frac", DoubleType, nullable = false)
  ))

  /** whitespace per java/DuckDB regex `\s`: space, tab, LF, VT, FF, CR. */
  @inline private def ws(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  /** lowercase + trim + collapse interior whitespace runs to one space.
    * Codepoint-wise (`Character.toLowerCase(Int)`), matching DuckDB's
    * per-codepoint `lower()`; the locale-sensitive full mappings (Turkish
    * İ) are the one residual divergence, documented at the oracle. */
  private[graft] def normalize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp <= 0xffff && ws(cp.toChar)) { if (sb.length() > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.appendCodePoint(Character.toLowerCase(cp))
      }
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** codepoint count — DuckDB `length()` semantics (NOT UTF-16 units). */
  @inline private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** codepoint-order comparison — DuckDB's binary (UTF-8) collation; plain
    * String.compareTo would misorder [U+E000,U+FFFF] vs supplementary. */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  def eval(input: UTF8String, n: Int): InternalRow = {
    val norm = normalize(input.toString)
    val r = new GenericInternalRow(3)
    r.setNullAt(0); r.setDouble(1, 0.0); r.setDouble(2, 0.0)
    if (norm.isEmpty) return r
    // token start offsets in norm (single-space separated by construction)
    var ntok = 1
    var i = 0
    while (i < norm.length) { if (norm.charAt(i) == ' ') ntok += 1; i += 1 }
    if (ntok < n) return r
    val starts = new Array[Int](ntok + 1)
    var ti = 1
    i = 0
    while (i < norm.length) {
      if (norm.charAt(i) == ' ') { starts(ti) = i + 1; ti += 1 }
      i += 1
    }
    starts(ntok) = norm.length + 1 // sentinel: token t spans [starts(t), starts(t+1)-1)
    val counts = new java.util.HashMap[String, Integer](64)
    var w = 0
    while (w + n <= ntok) {
      val gram = norm.substring(starts(w), starts(w + n) - 1)
      counts.merge(gram, 1, (a: Integer, b: Integer) => a + b)
      w += 1
    }
    var topGram: String = null
    var topCnt = 0
    var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue.intValue()
      if (cnt > topCnt || (cnt == topCnt && (topGram == null || cpCompare(e.getKey, topGram) < 0))) {
        topCnt = cnt; topGram = e.getKey
      }
      if (cnt >= 2) dupChars += cnt.toLong * cpLen(e.getKey)
    }
    val denom = cpLen(norm).toDouble
    r.update(0, UTF8String.fromString(topGram))
    r.setDouble(1, topCnt.toLong * cpLen(topGram) / denom)
    r.setDouble(2, dupChars / denom)
    r
  }
}

/** `ngram_char_fracs(text, n)` → struct(top_gram, top_frac, dup_frac). */
case class NgramCharFracs(child: Expression, n: Int) extends UnaryKernelExpression[UTF8String] {
  require(n >= 1 && n <= 32, s"n-gram size out of range: $n")

  override def dataType: DataType = RepetitionKernel.schema
  override def nullable: Boolean = true
  override def prettyName: String = "ngram_char_fracs"

  def evalInput(input: UTF8String): InternalRow = RepetitionKernel.eval(input, n)

  override protected def withNewChildInternal(newChild: Expression): NgramCharFracs =
    copy(child = newChild)
}
