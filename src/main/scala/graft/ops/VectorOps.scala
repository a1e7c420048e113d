package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}

import graft.core.Pins
import graft.functions.VectorExpressions.{ArrayEqCount, CosineSim, DotProduct, LshBucket, RandomProject}

/** Dense-vector column operations over `array<double>` columns:
  * dot products, cosine similarity, brute-force and LSH-bucketed
  * nearest-neighbour search.
  *
  * The reference computes full-frame cosine similarity between the current
  * frame and the first/previous frames (pipeline.py:546-553, raveled float32
  * images). Here a frame/document embedding is a row with an array column
  * and similarity is a native codegen'd Catalyst expression
  * ([[graft.functions.VectorExpressions]]) — no UDF, no interpreted
  * higher-order function, no driver round-trip, so a 100 TB corpus streams
  * through whole-stage codegen.
  */
object VectorOps {

  /** Dot product of two array<double> columns — generated tight loop,
    * sequential accumulation (deterministic summation order). */
  def dot(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** One-pass codegen'd cosine similarity. */
  def cosine(a: Column, b: Column): Column =
    toCol(CosineSim(toExpr(a), toExpr(b)))

  /** Count of equal positions between two array<long> signature columns. */
  def eqCount(a: Column, b: Column): Column =
    toCol(ArrayEqCount(toExpr(a), toExpr(b)))

  /** Cast an array<float> embedding to array<double> for exact cross-engine
    * arithmetic parity. Native array cast — codegen'd, unlike a
    * `transform` lambda. */
  def toDouble(a: Column): Column = a.cast("array<double>")

  /** Similarity of each vector to its predecessor in `orderCol` order within
    * `partCols` — the reference's frame-vs-previous cosine series
    * (pipeline.py:506-553) without any filesystem re-read: a window lag.
    * First row compares to itself (reference edge rule pipeline.py:510-516).
    */
  def lagCosine(df: DataFrame, vec: String, partCols: Seq[String],
                orderCol: String): DataFrame = {
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(col(orderCol))
    val prev = coalesce(lag(col(vec), 1).over(w), col(vec))
    df.withColumn("csim_prev", cosine(col(vec), prev))
  }

  /** Brute-force top-k cosine neighbours of each query vector against the
    * whole candidate set. The query side is broadcast (queries << candidates)
    * so candidates never shuffle; ranking shuffles only (query, candidate,
    * sim) triples. Scale path: see [[lshBuckets]] to pre-bucket candidates.
    *
    * Ordering ties are broken by candidate id for determinism.
    */
  def topKCosine(queries: DataFrame, candidates: DataFrame,
                 idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = candidates.select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("sim"))
  }

  /** Johnson–Lindenstrauss random projection of a `dim`-long vector onto
    * `rDim` fixed pseudo-random directions:
    * `out[r] = Σ_i v[i] · sin(r·dim + i + 1)` — the SAME deterministic
    * sin-direction family as [[lshBuckets]] (direction r here = plane p
    * there), so the oracle re-derives the directions from the staged
    * `lsh_planes` aux table and the projection is engine-independent
    * (left-to-right accumulation on both sides, like the LshBucket
    * codegen loop). Row-local pure projection — zero shuffles, rides
    * the scan. The ANN use: shortlist in the reduced space (8 doubles
    * instead of 64 floats through the ranking path), then exact
    * re-rank only the shortlist in full dimension — the third classic
    * memory-reduction lever next to IVF (prune by cell) and PQ (prune
    * by code size). Runs as the codegen'd [[RandomProject]] expression
    * — one generated nested loop with the direction table shipped once,
    * replacing rDim interpreted `aggregate(zip_with(...))` folds per
    * row (the module's HOF-free hot-path convention); accumulation
    * order is identical, so projections are bit-identical to the HOF
    * form ON LENGTH-`dim` INPUT (every corpus here). A malformed
    * shorter vector now truncates per the DotProduct min-length rule
    * where the HOF's zip_with null-padding propagated null — validate
    * vector lengths upstream if malformed rows must surface. */
  def randomProject(vec: Column, dim: Int, rDim: Int): Column = {
    require(rDim > 0 && dim > 0, s"need dim > 0 and rDim > 0, got $dim/$rDim")
    toCol(RandomProject(toExpr(vec), dim, rDim))
  }

  /** [[randomProject]] with the length contract ENFORCED instead of
    * assumed: a vector whose length is not exactly `dim` fails loudly
    * naming the length, rather than silently truncating (the
    * DotProduct min-length rule) into a finite projection that flows
    * through shortlisting undetected. Use this form when the corpus
    * has not been validated upstream; the unguarded form when it has
    * (the guard is one branch per row — cheap, not free). */
  def randomProjectStrict(vec: Column, dim: Int, rDim: Int): Column = {
    require(rDim > 0 && dim > 0, s"need dim > 0 and rDim > 0, got $dim/$rDim")
    when(size(vec) =!= dim, raise_error(concat(
      lit(s"randomProjectStrict: expected length $dim, got "),
      size(vec).cast("string"))).cast("array<double>"))
      .otherwise(randomProject(vec, dim, rDim))
  }

  /** RP-shortlisted exact top-k: rank the whole corpus by cosine in the
    * [[randomProject]]-reduced space to a per-query shortlist, then
    * exact-cosine re-rank ONLY the shortlist in full dimension — the
    * shortlist-then-rerank contract of `Pq.searchRerank`, with JL
    * projection as the compressor instead of PQ codes. Scale shape: the
    * reduced scan carries (id, rDim doubles) — not the full vector —
    * and the shortlist runs on the bounded-pair aggregator
    * ([[TopK.topKByScore]]: map-side top-`shortlist` per query, pairs
    * not rows through the exchange, no skewed per-query window); the
    * re-rank is a second corpus scan pruned to (id, vec) against the
    * BROADCAST shortlist, so only `shortlist` full vectors per query
    * are ever scored. Recall is measured, not asserted
    * (RandomProjectionSpec). */
  def topKCosineRp(queries: DataFrame, candidates: DataFrame, idCol: String,
                   vecCol: String, dim: Int, rDim: Int, shortlist: Int,
                   k: Int): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val qr = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      randomProject(col(vecCol), dim, rDim).as("qrv"))
    // the reduced-space candidate table is a MATERIALIZED stage
    // boundary (narrow: id + rDim doubles — the staged projection a
    // production index persists): the shortlist's bounded-agg +
    // join-back phases both read it, and unpinned each re-derives the
    // projection from the corpus scan (SCALE_r09 §22)
    val cr = Pins.pin(candidates.select(col(idCol).as("cand_id"),
        randomProject(col(vecCol), dim, rDim).as("crv")))
    val scored = cr.join(broadcast(qr.select(col("query_id"), col("qrv"))),
        col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qrv"), col("crv")), 6).as("rsim"))
    val short = TopK.topKByScore(scored, col("query_id"), col("cand_id"),
        col("rsim"), shortlist)
      .select(col("query_id"), col("cand_id"))
    val rer = candidates
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"))
      .join(broadcast(short), "cand_id")
      .join(broadcast(qr.select(col("query_id"), col("qv"))), "query_id")
      .select(col("query_id"), col("cand_id"),
        round(cosine(col("qv"), col("cv")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cand_id"))
    rer.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("sim"))
  }

  /** Margin-based kNN bitext mining (Artetxe & Schwenk 2019,
    * arXiv:1811.01136 — the LASER/CCMatrix parallel-corpus recipe):
    * for every SOURCE-side vector, score each TARGET-side candidate by
    * the RATIO margin
    *
    *   margin(x, y) = cos(x, y) / ((fwd(x) + bwd(y)) / 2)
    *
    * where fwd(x) is the mean cosine of x to its k nearest candidate
    * targets and bwd(y) the mean of y to its k nearest candidate
    * sources — raw cosine over-selects hub vectors that are near
    * EVERYTHING; dividing by the neighborhood means cancels hubness,
    * which is the whole point of margin scoring.
    *
    * This is the ALL-PAIRS verification form (the in-repo oracle, like
    * `topKCosine` / `Dedup.containment`): candidates are the full
    * src × broadcast(tgt) id cross, fed to [[marginMineOverPairs]] —
    * ONE scorer behind both forms, so the equivalence spec is
    * delegation plus arithmetic, not two implementations. At corpus
    * scale NEVER call this (O(|src|·|tgt|) scored rows, the whole
    * target corpus broadcast): generate a bounded candidate pair table
    * — [[lshBuckets]] equi-joins, IVF cells via
    * [[graft.ops.Pq.probeCells]] — and feed [[marginMineOverPairs]]
    * directly, the `Dedup.containmentOverPairs` pattern. */
  def marginMine(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, k: Int, topM: Int = 1): DataFrame = {
    val pairs = src.select(col(idCol).as("src_id"))
      .crossJoin(broadcast(tgt.select(col(idCol).as("tgt_id"))))
    marginMineOverPairs(pairs, src, tgt, idCol, vecCol, k, topM)
  }

  /** The margin scorer over a CANDIDATE pair table — the scale form of
    * [[marginMine]]: `pairs` carries (src_id, tgt_id), typically from
    * an [[lshBuckets]] equi-join or [[graft.ops.Pq.probeCells]] cell
    * match, and margins are computed over candidate neighborhoods
    * (fwd/bwd means over each vector's k best CANDIDATES). On any
    * candidate set containing each vector's true k-neighborhood the
    * result is bit-identical to the all-pairs form (margins only ever
    * read the k-neighborhood; MarginMineSpec pins both the containment
    * case and the delegation identity).
    *
    * Determinism (the cross-engine rules): cosines are 6-dp-rounded
    * before ANY use; each k-neighborhood mean is an exact
    * decimal(18,6) sum of those rounded values divided by the ACTUAL
    * neighborhood size min(candidates, k) — the Artetxe & Schwenk
    * neighborhood mean; dividing by a constant k would underestimate
    * the means and inflate margins for sparsely-candidated vectors —
    * (so accumulation order cannot perturb a bit); the margin divides
    * exact-operand doubles and rounds to 6 dp; all ranks tie-break on
    * the candidate id. A degenerate all-orthogonal neighborhood
    * (denominator 0) scores margin 0 rather than NaN. Returns the
    * `topM` highest-margin target(s) per source with ≥1 candidate:
    * (src_id, rank, tgt_id, cos, margin).
    *
    * Scale shape: the pair table is candidate-bounded (LSH/IVF
    * generators emit O(corpus · bucket_occupancy), never all-pairs);
    * the two vector joins are plain hash equi-joins on the pair
    * endpoints (corpus never broadcast); the scored pair table is a
    * MATERIALIZED stage boundary — `localCheckpoint` PINS it because
    * three consumers read it (fwd means, bwd means, the final ranking)
    * and unpinned the cosine scoring would re-execute per consumer
    * (SCALE_r09 §22). The fwd/bwd mean tables are per-vector
    * (bounded by the endpoint counts) and broadcast back onto the
    * pinned pairs. A pair referencing a vector absent from src/tgt
    * FAILS LOUDLY naming the pair (the `containmentOverPairs` guard —
    * an inner join would silently drop candidates and a mined corpus
    * would ship holes). */
  def marginMineOverPairs(pairs: DataFrame, src: DataFrame, tgt: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          topM: Int = 1): DataFrame = {
    require(k > 0 && topM > 0, s"need k/topM > 0, got $k/$topM")
    val s = src.select(col(idCol).as("src_id"), col(vecCol).as("__mm_sv"))
    val t = tgt.select(col(idCol).as("tgt_id"), col(vecCol).as("__mm_tv"))
    def guarded(side: Column): Column =
      when(side.isNull, raise_error(concat(
        lit("marginMineOverPairs: pair ("), col("src_id").cast("string"),
        lit(", "), col("tgt_id").cast("string"),
        lit(") references a vector absent from src/tgt")))
        .cast("array<double>")).otherwise(side)
    val scored = Pins.pin(pairs.select(col("src_id"), col("tgt_id"))
      .distinct()
      .join(s, Seq("src_id"), "left")
      .join(t, Seq("tgt_id"), "left")
      .select(col("src_id"), col("tgt_id"),
        round(cosine(guarded(col("__mm_sv")), guarded(col("__mm_tv"))), 6)
          .as("cos")))
    def knnMean(key: String, other: String, out: String) = {
      val w = Window.partitionBy(col(key))
        .orderBy(col("cos").desc, col(other))
      scored.withColumn("__mm_r", row_number().over(w))
        .where(col("__mm_r") <= k)
        .groupBy(col(key))
        .agg((sum(col("cos").cast("decimal(18,6)")).cast("double") /
          least(count(lit(1)), lit(k))).as(out))
    }
    val fwd = knnMean("src_id", "tgt_id", "__mm_fwd")
    val bwd = knnMean("tgt_id", "src_id", "__mm_bwd")
    val denom = (col("__mm_fwd") + col("__mm_bwd")) / 2
    val wm = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id"))
    // no broadcast hint on the mean tables: they carry one row per
    // DISTINCT pair endpoint — corpus-sized at mining scale, exactly
    // what must not be forced onto the driver; plain equi-joins let
    // AQE broadcast them when (and only when) they are actually small
    scored
      .join(fwd, "src_id")
      .join(bwd, "tgt_id")
      .withColumn("margin",
        when(denom === 0, lit(0.0))
          .otherwise(round(col("cos") / denom, 6)))
      .withColumn("rank", row_number().over(wm))
      .where(col("rank") <= topM)
      .select(col("src_id"), col("rank"), col("tgt_id"), col("cos"),
        col("margin"))
  }

  /** Random-hyperplane LSH bucket id (SimHash over the embedding): sign bits
    * of dot products with `nPlanes` pseudo-random hyperplanes derived
    * deterministically from the element index — candidates sharing a bucket
    * are near in cosine. At scale: groupBy(bucket) co-locates probable
    * neighbours, turning O(n^2) search into per-bucket joins. */
  def lshBuckets(vec: Column, dim: Int, nPlanes: Int = 16): Column =
    // plane p component i = sin(1 + i + p * dim) — fixed, engine-independent;
    // the whole nPlanes x dim projection runs as one generated nested loop
    // with the plane table built once on the driver.
    toCol(LshBucket(toExpr(vec), dim, nPlanes))

  /** BANDED hyperplane-LSH candidate pairs — the minhash-banding recall
    * lever applied to embedding space: ONE [[lshBuckets]] projection of
    * `planesPerBand · bands` planes per row, split into
    * `planesPerBand`-bit bands; a (left, right) pair is a candidate iff
    * the two vectors agree on ALL planes of AT LEAST ONE band (union of
    * per-band equi-joins, deduplicated). More bands = higher recall at
    * linearly more candidate pairs (measured: B=1→4 lifts margin-mining
    * candidate recall@1 0.33 → 0.63 on adversarial cluster geometry,
    * SCALE_r11 §1); fewer planes per band = wider buckets. Feed the
    * result to [[marginMineOverPairs]] / `Dedup.containmentOverPairs` /
    * any pairs-fed scorer.
    *
    * Scale shape: the bucket projection is row-local codegen (zero
    * shuffles); each band is one equi-join on a `planesPerBand`-bit
    * key; the union's distinct is bounded by the candidate count —
    * never all-pairs. Returns (src_id, tgt_id). At bands > 1 the
    * returned table is a pin (`DataFrame.unpersist` does not drop it):
    * a caller done with the candidates — a loop sweeping band settings,
    * a long session running many mines — hands it to
    * `graft.core.Pins.release`; a one-shot caller leaves it to its
    * scope or the ContextCleaner. */
  def lshBandedPairs(left: DataFrame, right: DataFrame, idCol: String,
                     vecCol: String, dim: Int, planesPerBand: Int = 5,
                     bands: Int = 2): DataFrame = {
    require(planesPerBand > 0 && bands > 0,
      s"need planesPerBand/bands > 0, got $planesPerBand/$bands")
    require(planesPerBand * bands <= 62,
      s"planesPerBand * bands must fit a positive long, " +
        s"got ${planesPerBand * bands} bits")
    val mask = (1L << planesPerBand) - 1
    def bucketed(d: DataFrame, out: String) = d.select(
      col(idCol).as(out),
      lshBuckets(col(vecCol), dim, planesPerBand * bands).as("__lb_b"))
    // multi-band = multi-consumer: each band's equi-join reads both
    // bucketed projections, so unpinned the per-side corpus scan +
    // LshBucket projection re-runs B times per side (2·B scans at B
    // bands — negligible at B=2, real money at the B=4–8 recall
    // settings). Pinning the two narrow (id, bucket) tables makes the
    // leaf-scan count flat in B (the topKCosineRp multi-consumer rule;
    // SCALE_r09 §23). At B=1 there is exactly one consumer — skip the
    // materialization and let the projection ride the scan.
    def bandUnion(l: DataFrame, r: DataFrame) =
      (0 until bands).map { i =>
        val band = shiftright(col("__lb_b"), planesPerBand * i)
          .bitwiseAND(lit(mask))
        l.select(col("src_id"), band.as("__lb_k"))
          .join(r.select(col("tgt_id"), band.as("__lb_k")), "__lb_k")
          .select(col("src_id"), col("tgt_id"))
      }.reduce(_ unionByName _).distinct()
    if (bands == 1)
      bandUnion(bucketed(left, "src_id"), bucketed(right, "tgt_id"))
    else {
      // the two side pins exist only to serve the band joins, and
      // relying on the ContextCleaner to drop them accumulates
      // superseded corpus-projection blocks across repeated calls in a
      // long session. Materialize the (candidate-bounded) pair table,
      // then release the side pins; the single returned pin replaces
      // two corpus-sided ones and is the caller's to release.
      val l = Pins.pin(bucketed(left, "src_id"))
      val r = Pins.pin(bucketed(right, "tgt_id"))
      val pairs = Pins.pin(bandUnion(l, r))
      Pins.release(l, r)
      pairs
    }
  }
}
