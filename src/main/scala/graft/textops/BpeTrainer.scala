package graft.textops

import graft.functions.BpeKernel

/** The classic incremental BPE learner (Sennrich et al. 2016, learn_bpe)
  * over a distinct-word histogram — the driver-side half of
  * [[TextOps.trainBpe]]. The distributed pass reduces the sample to
  * (word, freq) pairs; from there the learner is pure in-memory state:
  *
  *  - `segs(i)`   — current symbol sequence of distinct word i
  *  - pair counts — freq-weighted adjacent-pair occurrence counts, kept in
  *    a hash map AND a tree set ordered by (count DESC, pair ASC in
  *    codepoint order) so each iteration's argmax is O(log P)
  *  - pair → word-index set — only words CONTAINING the chosen pair are
  *    re-segmented, so iteration cost is proportional to the pair's
  *    support, not the corpus: O(symbols + merges·log P) total, versus the
  *    O(k) chained replaces PER ITERATION (O(k²) total) of re-deriving
  *    segmentation from scratch each round.
  *
  * Chosen-merge semantics are EXACTLY the rank-order rewrite's: applying
  * rule k+1 to the rule-k segmentation is by definition the rule-(k+1)
  * segmentation, so the incremental state never diverges from what
  * [[TextOps.bpeSegment]] computes with the learned prefix — the
  * argmax each round therefore matches the former per-iteration Spark
  * aggregation row for row (count ties broken by pair codepoint order,
  * Spark's binary string sort).
  *
  * No pair is ever learned twice. A left-to-right pass of rule (p, q) only
  * reaches outside a span of the word by pairing the span's first (last)
  * symbol with its neighbour, which puts a merge across the span's edge for
  * good. So a span that ends up as one symbol s has evolved, rule by rule,
  * exactly as the word `s` alone would: every occurrence of s is built at
  * the same rank by the same rule, and the table has one split per symbol.
  * After rule (x, y) no x sits before a y; a later merge builds only
  * symbols that did not exist at (x, y)'s rank, and x and y both did, so
  * the pair never comes back and its count stays zero (spec-pinned on
  * run-parity corpora in TextOpsSpec). Both facts together are the rank
  * consistency that [[graft.functions.BpeKernel.requireRankConsistent]]
  * checks, so a learned table always passes it. */
private[textops] object BpeTrainer {

  private final case class Entry(count: Long, a: String, b: String)

  private val entryOrder: java.util.Comparator[Entry] =
    new java.util.Comparator[Entry] {
      def compare(x: Entry, y: Entry): Int = {
        if (x.count != y.count) return java.lang.Long.compare(y.count, x.count)
        val ca = BpeKernel.cpCompare(x.a, y.a)
        if (ca != 0) ca else BpeKernel.cpCompare(x.b, y.b)
      }
    }

  def learn(hist: Array[(String, Long)], numMerges: Int,
            minCount: Long): Seq[(String, String)] = {
    val segs = hist.map { case (w, _) => BpeKernel.codepointSymbols(w) }
    val freq = hist.map(_._2)

    val counts = new java.util.HashMap[(String, String), java.lang.Long]()
    val members = new java.util.HashMap[(String, String), java.util.BitSet]()
    val queue = new java.util.TreeSet[Entry](entryOrder)

    def bump(pair: (String, String), delta: Long): Unit = {
      val old = counts.get(pair)
      val oldV = if (old == null) 0L else old.longValue()
      if (oldV > 0) queue.remove(Entry(oldV, pair._1, pair._2))
      val nv = oldV + delta
      if (nv > 0) {
        counts.put(pair, java.lang.Long.valueOf(nv))
        queue.add(Entry(nv, pair._1, pair._2))
      } else counts.remove(pair)
    }

    def addWord(i: Int, sign: Long): Unit = {
      val s = segs(i)
      val f = freq(i) * sign
      var j = 0
      while (j < s.length - 1) {
        val pair = (s(j), s(j + 1))
        bump(pair, f)
        if (sign > 0)
          members.computeIfAbsent(pair, _ => new java.util.BitSet()).set(i)
        j += 1
      }
      // on removal, membership is cleaned lazily after re-segmentation
      // (addWord(+1) re-asserts the surviving pairs; stale bits are
      // filtered at use by re-checking the pair is still present)
    }

    var i = 0
    while (i < segs.length) { addWord(i, 1L); i += 1 }

    val merges = Vector.newBuilder[(String, String)]
    var learned = 0
    var done = false
    while (!done && learned < numMerges) {
      if (queue.isEmpty) done = true
      else {
        val best = queue.first()
        if (best.count < minCount) done = true
        else {
          val (a, b) = (best.a, best.b)
          merges += (a -> b)
          learned += 1
          val support = members.remove((a, b))
          if (support != null) {
            var w = support.nextSetBit(0)
            while (w >= 0) {
              // stale-bit guard: the word may have been re-segmented since
              if (containsPair(segs(w), a, b)) {
                addWord(w, -1L)
                segs(w) = mergePair(segs(w), a, b)
                addWord(w, 1L)
              }
              w = support.nextSetBit(w + 1)
            }
          }
        }
      }
    }
    merges.result()
  }

  private def containsPair(s: Array[String], a: String, b: String): Boolean = {
    var j = 0
    while (j < s.length - 1) {
      if (s(j) == a && s(j + 1) == b) return true
      j += 1
    }
    false
  }

  /** left-to-right non-overlapping merge of (a,b) → ab — the fold's
    * one-pass replace and the kernel's per-step rewrite. */
  private def mergePair(s: Array[String], a: String, b: String): Array[String] = {
    val out = new Array[String](s.length)
    var j = 0; var k = 0
    while (j < s.length) {
      if (j < s.length - 1 && s(j) == a && s(j + 1) == b) {
        out(k) = a + b; j += 2
      } else { out(k) = s(j); j += 1 }
      k += 1
    }
    java.util.Arrays.copyOf(out, k)
  }
}
