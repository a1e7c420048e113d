package graft.ops

import org.apache.spark.sql.Column

import graft.functions.VectorExpressions.HouseholderRotate

/** OPQ-lite: rotate embeddings so the corpus' top principal direction
  * lies on the FIRST coordinate axis before the PQ subspace split —
  * the expressible slice of Optimized Product Quantization (Ge et al.
  * 2013; Jégou et al. 2011 §III's PCA-then-quantize pipeline) given
  * the repo's single staged PCA direction ([[Pca.fit]], already
  * bit-deterministic cross-engine).
  *
  * The rotation is ONE Householder reflection H = I − 2uu^T/(u^Tu)
  * with u = d − |d|·e1: orthogonal, so all pairwise L2 distances —
  * and therefore the exact nearest-neighbor ground truth — are
  * preserved to fp round-off, while the dominant variance direction
  * lands in subspace 0 where a codebook can model it explicitly
  * instead of smearing across all S subspaces. Whether that helps
  * ADC recall is MEASURED (SCALE_r10.md), not
  * assumed.
  *
  * Scale shape: `u` is driver arithmetic on D doubles (from the
  * staged fixed-point direction); the rotation itself is a row-local
  * codegen'd projection ([[HouseholderRotate]] — one generated loop,
  * no HOF, no shuffle) riding the corpus scan, exactly like
  * [[Pq.encodeLocal]].
  */
object Opq {

  /** Reflection vector u mapping the fixed-point `direction` (the
    * [[Pca.fit]] output: 1e6-scaled longs) onto +e1: u = d − |d|·e1.
    * Returns an EMPTY array when the direction already lies on ±e1 to
    * fp tolerance — the caller's rotation degenerates to the identity
    * (reflecting d = −|d|·e1 through u = d − |d|·e1 would be valid but
    * the identity is cheaper and numerically cleaner for the aligned
    * case that matters, d ≈ +e1). */
  def householderU(direction: Array[Long]): Array[Double] = {
    require(direction.nonEmpty, "empty direction")
    val d = direction.map(_.toDouble / 1e6)
    var nn = 0.0
    var i = 0
    while (i < d.length) { nn += d(i) * d(i); i += 1 }
    val norm = math.sqrt(nn)
    require(norm > 0.0, "zero direction")
    val u = d.clone()
    u(0) -= norm
    var uu = 0.0
    i = 0
    while (i < u.length) { uu += u(i) * u(i); i += 1 }
    // |u|^2 = 2|d|(|d| - d1) — vanishes only when d is already +|d|e1
    if (uu <= 1e-12 * nn) Array.emptyDoubleArray else u
  }

  /** The rotated vector H·v as a codegen'd column (identity when `u`
    * is empty). */
  def rotate(vec: Column, u: Array[Double]): Column = {
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    toCol(HouseholderRotate(toExpr(vec), u))
  }
}
