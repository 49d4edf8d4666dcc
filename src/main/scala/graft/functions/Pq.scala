package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels for compressed ANN (Jégou et al. 2011,
  * "Product Quantization for Nearest Neighbor Search" — the FAISS IVF-PQ
  * shape). A d-dim vector splits into `m` subvectors of d/m dims; each
  * subvector is replaced by the index of its nearest codeword (L2) in a
  * per-subspace codebook of `ksub` entries. The index then stores m small
  * codes (≤ 1 byte each at ksub ≤ 256) instead of d floats — at 10^12
  * vectors that is the difference between a ~12 TB and a ~256 TB index.
  *
  * Search scores candidates with an asymmetric-distance (ADC) table: per
  * query, dot(q_j, codeword) is precomputed for every (subspace, codeword)
  * once, so scoring a candidate costs m table lookups instead of d
  * multiplies. Approximate cosine = Σ_j dot(q_j, cb_j(code_j)) /
  * (‖q‖ · ‖recon‖), with ‖recon‖² = Σ_j ‖cb_j(code_j)‖² — the codeword
  * norms are query-independent constants.
  */
object PqKernel {

  /** argmin-L2 code per subspace (tie → smallest code); null on a
    * dimension mismatch — a truncated comparison would tie every codeword
    * at the prefix and silently assign garbage codes. */
  def encode(v: ArrayData, cbs: Array[Array[Array[Float]]]): GenericArrayData = {
    val m = cbs.length
    val dsub = cbs(0)(0).length
    if (v.numElements() != m * dsub) return null
    val out = new Array[Any](m)
    var j = 0
    var off = 0
    while (j < m) {
      val book = cbs(j)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val w = book(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val diff = v.getFloat(off + i).toDouble - w(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
      off += dsub
    }
    new GenericArrayData(out)
  }

  /** per-query ADC dot table, flat m×ksub: entry j·ksub+c =
    * dot(q_j, cb_j(c)) / ‖q‖ (zero vector → all zeros; dimension
    * mismatch → null, same contract as [[encode]]). */
  def dotTable(q: ArrayData, cbs: Array[Array[Array[Float]]]): GenericArrayData = {
    val m = cbs.length
    val ksub = cbs(0).length
    if (q.numElements() != m * cbs(0)(0).length) return null
    var qn = 0.0
    var i = 0
    while (i < q.numElements()) { val x = q.getFloat(i).toDouble; qn += x * x; i += 1 }
    qn = math.sqrt(qn)
    val out = new Array[Any](m * ksub)
    var j = 0
    var off = 0
    while (j < m) {
      val book = cbs(j)
      val dsub = book(0).length
      var c = 0
      while (c < ksub) {
        val w = book(c)
        var dot = 0.0
        var d = 0
        while (d < dsub && off + d < q.numElements()) {
          dot += q.getFloat(off + d).toDouble * w(d)
          d += 1
        }
        out(j * ksub + c) = (if (qn == 0.0) 0.0f else (dot / qn).toFloat)
        c += 1
      }
      j += 1
      off += dsub
    }
    new GenericArrayData(out)
  }

  /** codeword squared norms, flat m×ksub (query-independent). */
  def norm2Table(cbs: Array[Array[Array[Float]]]): Array[Double] = {
    val m = cbs.length
    val ksub = cbs(0).length
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        var n = 0.0
        cbs(j)(c).foreach { x => n += x.toDouble * x }
        out(j * ksub + c) = n
        c += 1
      }
      j += 1
    }
    out
  }

  /** ADC approximate cosine: m table lookups + one sqrt. */
  def score(codes: ArrayData, table: ArrayData, n2: Array[Double], ksub: Int): Double = {
    val m = codes.numElements()
    var dot = 0.0
    var rn = 0.0
    var j = 0
    while (j < m) {
      val idx = j * ksub + codes.getInt(j)
      dot += table.getFloat(idx)
      rn += n2(idx)
      j += 1
    }
    if (rn == 0.0) 0.0 else dot / math.sqrt(rn)
  }
}

/** `pq_encode(vec)` → array<int> of m subspace codes. */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
  extends UnaryKernelExpression[ArrayData] {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  // returns null on a dimension mismatch even for a non-null input, so the
  // non-nullable-child shortcut must not constant-fold IsNotNull guards away
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  def evalInput(v: ArrayData): ArrayData = PqKernel.encode(v, codebooks)
  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** `pq_dot_table(q_vec)` → array<float> flat m×ksub ADC table. */
case class PqDotTable(child: Expression, codebooks: Array[Array[Array[Float]]])
  extends UnaryKernelExpression[ArrayData] {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  // null on dimension mismatch (same contract as PqEncode)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_dot_table"

  def evalInput(v: ArrayData): ArrayData = PqKernel.dotTable(v, codebooks)
  override protected def withNewChildInternal(newChild: Expression): PqDotTable =
    copy(child = newChild)
}

/** `pq_adc_score(codes, dot_table)` → double approximate cosine; the
  * codeword-norm table rides along as a plan-time constant. */
case class PqAdcScore(left: Expression, right: Expression,
                      norm2: Array[Double], ksub: Int)
    extends BinaryKernelExpression[ArrayData, ArrayData] {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  def evalInput(codes: ArrayData, table: ArrayData): Double =
    PqKernel.score(codes, table, norm2, ksub)
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}
