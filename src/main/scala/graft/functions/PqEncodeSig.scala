package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Whole PQ code vector of an embedding as ONE row-local expression: the
  * trained codebook rides inside the expression as a literal
  * (S × k × D/S doubles — a few KB), so encoding is SHUFFLE-FREE and a
  * 100 TB embedding corpus encodes inside its own scan. The relational
  * form ([[graft.ops.Pq.encode]]) pays a broadcast-join row
  * amplification of k per subspace plus a corpus-keyed (id, sub) argmin
  * window — an exchange of S × |corpus| rows that this expression
  * deletes outright; it stays as the in-repo oracle, bit-equality
  * pinned (PqEncodeFormSpec).
  *
  * Bit-compatibility is the load-bearing property, and it has one
  * subtlety: the relational argmin orders by the DOUBLE-cast distance
  * (ties then break on the code), so two sub-centroids whose exact
  * decimal distances differ but collapse to the same double must tie
  * here as well. The eval therefore mirrors
  * [[graft.ops.KMeans.sqDistDecimal]] exactly — per-dimension term
  * rounded once into decimal scale 9 via the shortest-decimal
  * double→BigDecimal route Spark's Cast uses, exact decimal sum, ONE
  * double conversion at the end — and compares those doubles.
  *
  * CodegenFallback: the per-row work is a fixed S×k×(D/S) arithmetic
  * loop; falling back costs the enclosing projection its whole-stage
  * fusion but removes a corpus exchange, which dominates at any scale
  * (the MinhashSig family precedent, measured per token in SCALE_r08).
  */
case class PqEncodeSig(child: Expression,
                       codebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]])
    extends UnaryExpression with CodegenFallback {
  require(codebook.nonEmpty && codebook.forall(_.nonEmpty),
    "codebook must have at least one subspace and one code")
  private val subspaces = codebook.length
  private val k = codebook(0).length
  private val sd = codebook(0)(0).length
  require(codebook.forall(s => s.length == k && s.forall(_.length == sd)),
    "codebook must be rectangular: same k and sub-dimension everywhere")
  // the codebook is held as nested IndexedSeq (Vector at the call
  // sites) so the case-class equals/hashCode are VALUE-based — with
  // raw arrays two semantically identical encode expressions never
  // compared equal, defeating canonicalization and common-subexpression
  // elimination; eval reads this flat array mirror (rebuilt per
  // executor after deserialization)
  @transient private lazy val cb: Array[Array[Double]] =
    codebook.map(_.flatten.toArray).toArray

  // Catalyst calls equals/hashCode repeatedly during analysis and
  // optimization (expression maps, semanticEquals, CSE); a naive
  // value hash would walk all S×k×(D/S) boxed doubles per call, so the
  // hash is computed once and equals checks it before the deep
  // codebook comparison (which then only runs on a true candidate
  // match or the vanishingly rare collision)
  @transient override lazy val hashCode: Int =
    scala.util.hashing.MurmurHash3.caseClassHash(this)
  override def equals(other: Any): Boolean = other match {
    case p: PqEncodeSig => (p eq this) ||
      (p.hashCode == hashCode && p.child == child && p.codebook == codebook)
    case _ => false
  }

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode_sig"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"$prettyName expects array<double>, got " +
            other.simpleString)
    }

  /** The exact decimal distance the relational form computes — the
    * bit-compatibility contract: per-dimension term rounded once into
    * decimal scale 9 via the shortest-decimal double->BigDecimal route
    * Spark's Cast uses, exact decimal sum, ONE double conversion at
    * the end. This is the DECIDER for every argmin this expression
    * returns; the binary prefilter below only narrows which codes it
    * must be run on. */
  private def exactD(arr: Array[Double], base: Int, flat: Array[Double],
                     cOff: Int): Double = {
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < sd) {
      val diff = arr(base + i) - flat(cOff + i)
      val term = diff * diff
      acc = acc.add(java.math.BigDecimal.valueOf(term)
        .setScale(9, java.math.RoundingMode.HALF_UP))
      i += 1
    }
    acc.doubleValue()
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData].toDoubleArray()
    if (arr.length != subspaces * sd)
      throw new IllegalArgumentException(
        s"$prettyName: vector has ${arr.length} dims, codebook expects " +
          s"${subspaces * sd}")
    // Binary prefilter with a rigorous error envelope (the output is
    // CODES only, so the exact decimal value is needed only where the
    // envelope cannot already separate the argmin): for each code, the
    // plain double sum b differs from the exact decimal-rounded d by
    //   |d - b| <= sd * 0.5e-9                (HALF_UP at 9 dp, per term)
    //            + b * 1.12e-16               (shortest-decimal repr of
    //                                          each term: ulp/2 <= x*2^-53)
    //            + b * sd * 2.23e-16          (double summation error)
    // so with B(b) doubled for safety, any code whose b - B lies above
    // min(b) + B(min(b)) can never win the exact argmin. In practice
    // the candidate set is a single code and ZERO BigDecimal work runs;
    // genuine near-ties (duplicate centroids, adversarial spacing) fall
    // through to [[exactD]], whose (d, code) order — ties to the
    // smaller code — remains the only decision procedure. Parity is
    // pinned by PqEncodeFormSpec plus the near-tie/duplicate-centroid
    // cases in PqEncodeSigFastPathSpec and a 20k-vector random sweep
    // (OPTIMIZATION_r16: 0 mismatches).
    def bound(b: Double): Double =
      2.0 * (sd * 0.5e-9 + b * (1.12e-16 + sd * 2.23e-16))
    val bsum = new Array[Double](k)
    val codes = new Array[Int](subspaces)
    var s = 0
    while (s < subspaces) {
      val base = s * sd
      val flat = cb(s)
      var bMin = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val cOff = c * sd
        var b = 0.0
        var i = 0
        while (i < sd) {
          val diff = arr(base + i) - flat(cOff + i)
          val term = diff * diff
          // the relational oracle's per-term cast to decimal(18,9)
          // OVERFLOWS (to null, which would then WIN its argmin via
          // NULLS FIRST) for terms >= 1e9 — outside the family's
          // declared distance domain. Unlimited BigDecimal here would
          // silently DIVERGE from that form instead of matching it, so
          // the domain is enforced loudly: scale embeddings (or pick
          // per-dimension spans) so |x - c| stays under ~31623.
          if (!(term < 1e9))
            throw new IllegalArgumentException(
              s"$prettyName: squared per-dimension distance $term " +
                "exceeds the decimal(18,9) domain (|diff| >= ~31623); " +
                "scale the embedding space")
          b += term
          i += 1
        }
        bsum(c) = b
        if (b < bMin) bMin = b
        c += 1
      }
      val cut = bMin + bound(bMin)
      var cand = -1
      var multi = false
      c = 0
      while (c < k && !multi) {
        if (bsum(c) - bound(bsum(c)) <= cut) {
          if (cand < 0) cand = c else multi = true
        }
        c += 1
      }
      if (!multi) codes(s) = cand
      else {
        // near-tie: the exact decimal kernel decides, (d, code) order
        var bestCode = 0
        var bestD = Double.PositiveInfinity
        c = 0
        while (c < k) {
          if (bsum(c) - bound(bsum(c)) <= cut) {
            val d = exactD(arr, base, flat, c * sd)
            if (d < bestD) { bestD = d; bestCode = c }
          }
          c += 1
        }
        codes(s) = bestCode
      }
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(c: Expression): PqEncodeSig =
    copy(child = c)
}
