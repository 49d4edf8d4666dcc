package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Greedy merge-rank BPE encode at tokenizer-real vocabulary scale
  * (Sennrich et al. 2016's apply step, the GPT-2 `bpe()` loop shape): the
  * merge-rank table rides as ONE reference object into every task — a hash
  * map pair→rank — and each word is encoded by the standard adjacent-merge
  * loop (repeatedly merge the lowest-ranked adjacent symbol pair present,
  * left-to-right non-overlapping, until no table pair remains). Work is
  * O(len²) hash probes per DISTINCT word and independent of table size, so
  * a 100k-merge production table costs the same per word as a 10-rule one,
  * where a chained-`replace` fold (one string pass per rule, the shape the
  * DuckDB oracle states) is O(merges) passes per word and stops
  * codegenning past O(100) rules (64 KB method / constant-pool limits).
  *
  * PRECONDITION — rank-consistent table: any rule whose side is a merge
  * product must appear AFTER the rule producing it, and each symbol has one
  * producing rule ([[requireRankConsistent]] checks both; the
  * `bpe_encode_words` wrapper calls it at plan time). A trained table meets
  * the first because a symbol cannot be chosen before it exists, and the
  * second by the argument in [[graft.textops.BpeTrainer]] (a symbol's
  * derivation does not depend on its context). Under it the min-rank loop
  * is exactly the rank-order rewrite of the fold (a later merge can only
  * create pairs INVOLVING its new symbol, whose rules all rank later, so no
  * earlier rule's occurrence is ever created after its pass). Equivalence
  * with the fold is spec-pinned at 1k+ learned merges and on run-parity
  * corpora (TextOpsSpec, which keeps the fold as its reference).
  *
  * Zipf makes word frequencies extremely skewed, so each task keeps a
  * bounded per-thread word→subwords cache (the standard tokenizer-apply
  * trick); the hit rate on natural text is ~95%+.
  *
  * Scale posture: a narrow per-row map over the token array — no shuffle,
  * no state, table broadcast once per executor inside the serialized
  * expression. At 100 TB this is linear scan CPU in the same codegen span
  * as the scan.
  */
object BpeKernel {

  /** codepoint-order comparison (UTF-8 binary collation — the order Spark's
    * string sort and DuckDB share; String.compareTo would misorder
    * [U+E000,U+FFFF] vs supplementary planes). */
  def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** split a word into single-codepoint symbols (the fold's
    * `regexp_extract_all(w, '.')` — a full code point per cell). */
  def codepointSymbols(w: String): Array[String] = {
    val n = w.codePointCount(0, w.length)
    val out = new Array[String](n)
    var i = 0; var k = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val cc = Character.charCount(cp)
      out(k) = w.substring(i, i + cc)
      k += 1; i += cc
    }
    out
  }

  /** Throws an `IllegalArgumentException` naming the first rule that
    * breaks rank consistency: two rules that produce the same symbol, or a
    * rule with a side that only the same or a later rule produces. */
  def requireRankConsistent(merges: Seq[(String, String)]): Unit = {
    def fail(msg: String) =
      throw new IllegalArgumentException(s"BPE merge table is not rank-consistent: $msg")
    val producer = scala.collection.mutable.HashMap.empty[String, Int]
    merges.iterator.zipWithIndex.foreach { case ((a, b), r) =>
      producer.get(a + b).foreach(k => fail(s"rules $k and $r both produce '${a + b}'"))
      producer(a + b) = r
    }
    merges.iterator.zipWithIndex.foreach { case ((a, b), r) =>
      for (side <- Seq(a, b); k <- producer.get(side) if k >= r)
        fail(s"rule $r ('$a', '$b') uses '$side', which rule $k produces")
    }
  }

  /** pair key in the rank map: a NUL-fenced join would collide on symbols
    * containing NUL (crawl text can), so the key is length-prefixed. */
  @inline private[functions] def pairKey(a: String, b: String): String =
    a.length.toString + ":" + a + b

  /** The compiled merge table: pair→rank hash map + a per-thread bounded
    * encode cache. One instance per expression, shipped to executors as a
    * codegen reference object. */
  final class MergeTable(merges: Seq[(String, String)]) extends Serializable {
    private val ranks: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](merges.size * 2)
      var r = 0
      merges.foreach { case (a, b) =>
        // first occurrence wins, like the fold (a duplicate later rule is a
        // no-op there: its pair was already rewritten)
        m.putIfAbsent(pairKey(a, b), Integer.valueOf(r))
        r += 1
      }
      m
    }

    // bounded per-thread cache; cleared wholesale when full (simple and
    // allocation-free vs LRU bookkeeping — Zipf means the hot head refills
    // in a few thousand rows)
    private val CacheMax = 1 << 15
    @transient private lazy val cache =
      ThreadLocal.withInitial[java.util.HashMap[String, Array[UTF8String]]](
        () => new java.util.HashMap[String, Array[UTF8String]](1024))

    def rankOf(a: String, b: String): Int = {
      val r = ranks.get(pairKey(a, b))
      if (r == null) Int.MaxValue else r.intValue()
    }

    /** encode one word → subword symbols (uncached). */
    private def encodeUncached(w: String): Array[UTF8String] = {
      // the fold's empty-word shape: split("", F+F) = [""], one empty cell
      if (w.isEmpty) return Array(UTF8String.EMPTY_UTF8)
      var syms = codepointSymbols(w)
      var n = syms.length
      // ranks recorded during the min-scan and reused by the rewrite pass —
      // one table probe (and one pairKey allocation) per pair per iteration
      // instead of two in this O(len²) hot loop
      val rankBuf = new Array[Int](math.max(0, n - 1))
      while (n >= 2) {
        // lowest-ranked adjacent pair present
        var best = Int.MaxValue
        var i = 0
        while (i < n - 1) {
          val r = rankOf(syms(i), syms(i + 1))
          rankBuf(i) = r
          if (r < best) best = r
          i += 1
        }
        if (best == Int.MaxValue) n = -n // no table pair left — stop
        else {
          // merge ALL occurrences of the best pair, left-to-right
          // non-overlapping (the fold's one-pass replace semantics)
          val out = new Array[String](n)
          var k = 0
          i = 0
          while (i < n) {
            if (i < n - 1 && rankBuf(i) == best) {
              out(k) = syms(i) + syms(i + 1); i += 2
            } else { out(k) = syms(i); i += 1 }
            k += 1
          }
          syms = out
          n = k
        }
      }
      if (n < 0) n = -n
      val res = new Array[UTF8String](n)
      var k = 0
      while (k < n) { res(k) = UTF8String.fromString(syms(k)); k += 1 }
      res
    }

    def encode(w: String): Array[UTF8String] = {
      val c = cache.get()
      val hit = c.get(w)
      if (hit != null) return hit
      val res = encodeUncached(w)
      if (c.size() >= CacheMax) c.clear()
      c.put(w, res)
      res
    }
  }
}

/** `bpe_encode_words(words, merges)`: array<string> of words →
  * array<array<string>> of per-word subword sequences under the merge-rank
  * table (see [[BpeKernel]] for semantics and the rank-consistency
  * precondition). */
case class BpeEncodeWords(child: Expression, merges: Seq[(String, String)])
  extends UnaryKernelExpression[ArrayData] {

  override def dataType: DataType =
    ArrayType(ArrayType(StringType, containsNull = false), containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_encode_words"

  @transient private lazy val table = new BpeKernel.MergeTable(merges)

  def evalInput(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val out = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      val w = words.getUTF8String(i)
      out(i) = new GenericArrayData(
        table.encode(if (w == null) "" else w.toString).asInstanceOf[Array[Any]])
      i += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeWords =
    copy(child = newChild)
}
