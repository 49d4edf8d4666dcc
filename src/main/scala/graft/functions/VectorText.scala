package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels for the vector/text similarity expressions; each
  * expression's `evalInput` is one call into them, which both the
  * interpreted and the generated path make ([[UnaryKernelExpression]]). The
  * per-row hot path allocates nothing beyond its result.
  */
object VectorTextKernel {

  /** FNV-1a 64-bit over UTF-8 bytes — self-contained, stable across JVMs. */
  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** FNV-1a 32-bit — the exact hash the reference kafka partitioner uses
    * (libbeat/outputs/kafka/partition.go:216-238, Go hash/fnv New32a). */
  def fnv1a32(s: UTF8String): Int = {
    val bytes = s.getBytes
    var h = 0x811c9dc5
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xff)
      h *= 0x01000193
      i += 1
    }
    h
  }

  /** 64-bit SimHash over a token array: per-token FNV-1a 64 hash votes ±1 on
    * each bit; the sign of each bit's tally forms the output. Null tokens are
    * skipped. */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv1a64(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** k-permutation MinHash signature over a shingle array, ONE pass over the
    * shingles for all k hash functions (vs k array_min(transform(...)) scans).
    * h_j(x) = (A_j * x + B_j) mod P with x = fnv1a64(shingle) folded into
    * [0, P), P = 2^31-1; A_j/B_j derived deterministically from j. */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    val P = 2147483647L
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val x = java.lang.Math.floorMod(fnv1a64(shingles.getUTF8String(i)), P)
        var j = 0
        while (j < k) {
          val a = 2L * j + 1L        // odd, < 2^31
          val b = 7919L * (j + 1L)
          val h = java.lang.Math.floorMod(a * x + b, P)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (n == 0) java.util.Arrays.fill(mins, 0L)
    new GenericArrayData(mins)
  }

  /** Banded-LSH bucket keys straight from the TOKEN array, in ONE pass:
    * word w-shingle hash → k-permutation MinHash → band fold, with NO shingle
    * strings ever materialized. FNV-1a is a sequential byte fold, so folding
    * `tok1, ' ', tok2, ' ', tok3` equals hashing the joined shingle string —
    * the 10M-shingle `array_join`/`array_distinct` allocation storm of the
    * column formulation disappears (and duplicates need no dedup: a min over
    * a multiset equals the min over its set). Also avoids the Catalyst
    * CollapseProject trap where a per-band `transform` lambda re-evaluates
    * the whole signature expression bands× per row (measured 16×). */
  /** FNV-1a-64 byte fold of token `i` into `h0`; null tokens fold nothing.
    * THE one shingle-hash kernel: banding (candidate generation) and
    * [[shingleHashes]] (verification) must agree bit-for-bit, so both call
    * this single definition. */
  @inline private def fnvFoldToken(tokens: ArrayData, h0: Long, i: Int): Long = {
    import org.apache.spark.unsafe.Platform
    if (tokens.isNullAt(i)) return h0
    val t = tokens.getUTF8String(i)
    var h = h0
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val nb = t.numBytes
    var j = 0
    while (j < nb) {
      h ^= (Platform.getByte(base, off + j) & 0xffL)
      h *= 0x100000001b3L
      j += 1
    }
    h
  }

  /** FNV-1a hash of the `w`-token window at `s`, space-joined — equals
    * hashing the joined shingle string, no materialization. */
  private def shingleWindowHash(tokens: ArrayData, s: Int, w: Int): Long = {
    var h = 0xcbf29ce484222325L
    var j = 0
    while (j < w) {
      if (j > 0) { h ^= 0x20L; h *= 0x100000001b3L }
      h = fnvFoldToken(tokens, h, s + j)
      j += 1
    }
    h
  }

  def minhashBandsTokens(tokens: ArrayData, w: Int, k: Int,
                         bands: Int): ArrayData = {
    val P = 2147483647L
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = tokens.numElements()

    @inline def updateMins(h: Long): Unit = {
      val x = java.lang.Math.floorMod(h, P)
      var j = 0
      while (j < k) {
        val a = 2L * j + 1L
        val b = 7919L * (j + 1L)
        val hj = java.lang.Math.floorMod(a * x + b, P)
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
    }

    if (n < w) {
      // short doc: one whole-text shingle (all tokens space-joined)
      updateMins(shingleWindowHash(tokens, 0, n))
    } else {
      var s = 0
      while (s + w <= n) {
        updateMins(shingleWindowHash(tokens, s, w))
        s += 1
      }
    }

    new GenericArrayData(foldBands(mins, bands))
  }

  /** distinct w-shingle window hashes of a token array, sorted — the hash-set
    * representation of the shingle set (collision probability ~(2k)²/2⁻⁶⁴:
    * negligible against the verify corpus). */
  private def shingleHashes(tokens: ArrayData, w: Int): Array[Long] = {
    val n = tokens.numElements()
    val out =
      if (n < w) Array(shingleWindowHash(tokens, 0, n))
      else {
        val a = new Array[Long](n - w + 1)
        var s = 0
        while (s + w <= n) {
          a(s) = shingleWindowHash(tokens, s, w)
          s += 1
        }
        a
      }
    java.util.Arrays.sort(out)
    // in-place dedup
    var m = 0
    var i = 0
    while (i < out.length) {
      if (m == 0 || out(i) != out(m - 1)) { out(m) = out(i); m += 1 }
      i += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  /** exact shingle-set Jaccard counts for a candidate pair, one kernel call:
    * (|A∩B| << 32) | |A∪B| packed into a long, so the whole verification is a
    * SINGLE cheap expression — the column formulation (shingle arrays +
    * array_intersect + three size() references) gets re-inlined by
    * CollapseProject / filter-pushdown into several evaluations per row. */
  def shingleJaccardPacked(a: ArrayData, b: ArrayData, w: Int): Long = {
    val ha = shingleHashes(a, w)
    val hb = shingleHashes(b, w)
    var i = 0
    var j = 0
    var inter = 0L
    while (i < ha.length && j < hb.length) {
      val c = java.lang.Long.compare(ha(i), hb(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = ha.length + hb.length - inter
    (inter << 32) | union
  }

  /** fold a k-slot signature into `bands` FNV-mixed band keys. */
  def foldBands(sig: Array[Long], bands: Int): Array[Long] = {
    val r = sig.length / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L ^ b.toLong
      var j = 0
      while (j < r) {
        val v = sig(b * r + j)
        var byteIdx = 0
        while (byteIdx < 8) {
          h ^= (v >>> (8 * byteIdx)) & 0xffL
          h *= 0x100000001b3L
          byteIdx += 1
        }
        j += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** cosine similarity of two float/double arrays, accumulated in double in
    * index order (bit-reproducible). Returns Double.NaN on length mismatch
    * or zero norm — callers filter. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return Double.NaN
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) Double.NaN
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** sign-bit bucket for random-hyperplane LSH: bit j of the result is the
    * sign of <v, p_j> where hyperplane component p_j[i] is a deterministic
    * pseudo-random value in [-0.5, 0.5) derived from (seed, j, i). `seed`
    * selects an independent hash table (multi-table LSH). */
  def hyperplaneBucket(v: ArrayData, planes: Int, seed: Int): Int = {
    val n = v.numElements()
    var bucket = 0
    var j = 0
    while (j < planes) {
      val row = seed.toLong * 1024L + j
      var dot = 0.0
      var i = 0
      while (i < n) {
        // LCG-ish mix of (seed, j, i) → [-0.5, 0.5)
        var h = (row * 0x9E3779B97F4A7C15L) ^ (i.toLong * 0xC2B2AE3D27D4EB4FL)
        h = (h ^ (h >>> 31)) * 0x7FB5D329728EA185L
        val comp = ((java.lang.Math.floorMod(h, 1000000L)).toDouble / 1000000.0) - 0.5
        dot += v.getFloat(i).toDouble * comp
        i += 1
      }
      if (dot >= 0) bucket |= (1 << j)
      j += 1
    }
    bucket
  }
}

/** `simhash64(tokens)` — 64-bit SimHash of an array<string> column. */
case class SimHash64(child: Expression) extends UnaryKernelExpression[ArrayData] {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  def evalInput(input: ArrayData): Long = VectorTextKernel.simhash64(input)
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `minhash_sig(shingles, k)` — array<long> MinHash signature. */
case class MinHashSig(child: Expression, k: Int) extends UnaryKernelExpression[ArrayData] {
  require(k > 0 && k <= 512, s"minhash k out of range: $k")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  def evalInput(input: ArrayData): ArrayData = VectorTextKernel.minhashSig(input, k)
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `minhash_bands_tokens(tokens, w, k, bands)` — array<long> of banded-LSH
  * bucket keys straight from a token array, one kernel pass (shingle hash +
  * signature + band fold, zero intermediate arrays). */
case class MinHashBandsTokens(child: Expression, w: Int, k: Int, bands: Int)
    extends UnaryKernelExpression[ArrayData] {
  require(w > 0 && k > 0 && k <= 512 && bands > 0 && k % bands == 0,
    s"minhash bands config invalid: w=$w k=$k bands=$bands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands_tokens"
  def evalInput(input: ArrayData): ArrayData =
    VectorTextKernel.minhashBandsTokens(input, w, k, bands)
  override protected def withNewChildInternal(newChild: Expression): MinHashBandsTokens =
    copy(child = newChild)
}

/** `shingle_jaccard_packed(a_tokens, b_tokens, w)` — exact shingle-set
  * intersection/union counts packed `(inter << 32) | union`. */
case class ShingleJaccardPacked(left: Expression, right: Expression, w: Int)
    extends BinaryKernelExpression[ArrayData, ArrayData] {
  require(w > 0, s"shingle width must be positive: $w")
  override def dataType: DataType = LongType
  override def prettyName: String = "shingle_jaccard_packed"
  def evalInput(a: ArrayData, b: ArrayData): Long =
    VectorTextKernel.shingleJaccardPacked(a, b, w)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ShingleJaccardPacked =
    copy(left = l, right = r)
}

/** `cosine_sim(a, b)` over array<float> columns — one fused loop, no
  * zip_with/aggregate intermediate arrays. NULL on NaN (mismatch/zero norm). */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val c = VectorTextKernel.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(c)) null else c
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.VectorTextKernel.cosine($a, $b);
      if (Double.isNaN(${ev.value})) { ${ev.isNull} = true; ${ev.value} = 0.0; }
    """)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** `hyperplane_bucket(vec, planes, seed)` — random-hyperplane LSH bucket id
  * in hash table `seed`. */
case class HyperplaneBucket(child: Expression, planes: Int, seed: Int = 0)
    extends UnaryKernelExpression[ArrayData] {
  require(planes > 0 && planes <= 30, s"planes out of range: $planes")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hyperplane_bucket"
  def evalInput(input: ArrayData): Int =
    VectorTextKernel.hyperplaneBucket(input, planes, seed)
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

/** `nearest_centroids(vec)` — indices of the `nprobe` nearest centroids by
  * cosine (ties → lower index). The centroid matrix is embedded in the plan
  * (an IVF coarse quantizer is small by definition: nlist × dim floats), so
  * assignment is a pure per-row computation — no join, no shuffle. */
case class NearestCentroids(child: Expression, centroids: Array[Array[Float]],
                            nprobe: Int) extends UnaryKernelExpression[ArrayData] {
  require(centroids.nonEmpty && nprobe > 0 && nprobe <= centroids.length)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  def evalInput(v: ArrayData): GenericArrayData = {
    val n = centroids.length
    val sims = new Array[Double](n)
    var ci = 0
    while (ci < n) {
      val c = centroids(ci)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val dim = math.min(v.numElements(), c.length)
      while (i < dim) {
        val x = v.getFloat(i).toDouble; val y = c(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      sims(ci) = if (na == 0.0 || nb == 0.0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      ci += 1
    }
    // selection of top nprobe by sim desc, index asc — nlist is small
    val out = new Array[Any](nprobe)
    val taken = new Array[Boolean](n)
    var p = 0
    while (p < nprobe) {
      var best = -1
      var bestSim = -3.0
      var j = 0
      while (j < n) {
        if (!taken(j) && sims(j) > bestSim) { best = j; bestSim = sims(j) }
        j += 1
      }
      if (best < 0) {
        // every remaining sim is NaN (a NaN component poisons all dot
        // products; NaN > x is always false) — fall back to the first
        // untaken cell deterministically instead of crashing on taken(-1);
        // downstream cosine scoring yields NaN for such a vector and ranks
        // it out anyway
        var k = 0
        while (best < 0 && k < n) { if (!taken(k)) best = k; k += 1 }
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** `fnv1a32(s)` — the reference kafka fields-hash partitioner's hash
  * (libbeat/outputs/kafka/partition.go:216-238). */
case class Fnv1a32(child: Expression) extends UnaryKernelExpression[UTF8String] {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "fnv1a32"
  def evalInput(input: UTF8String): Int = VectorTextKernel.fnv1a32(input)
  override protected def withNewChildInternal(newChild: Expression): Fnv1a32 =
    copy(child = newChild)
}
