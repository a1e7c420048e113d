package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Overlap, Pins}
import graft.ops.Pq

/** Staged PQ artifacts for the search queries — the separation a real
  * deployment has: codebook training and corpus encoding happen ONCE at
  * index-build time and persist; queries consume the staged artifacts
  * and pay only the search cost. Through round 8 the three PQ search
  * queries each re-trained their codebook inside the timed run (~17 s
  * of triple-redundant Lloyd in a 64 s bench — honest end-to-end, but
  * it buried the number a user cares about, and the oracle ALREADY
  * consumes a staged aux codebook), so the bench now mirrors the oracle:
  * one `pq_train` row carries the training cost, the `sim_pq_*` rows
  * time search against these staged artifacts.
  *
  * Staging idiom: the codebook is a LocalRelation after [[Pq.train]]'s
  * collect-route (S×k rows); the code table is the zero-shuffle
  * [[Pq.encodeLocal]] projection pinned with localCheckpoint — the
  * in-process analogue of the parquet code table a 100 TB index would
  * persist (N × S small ints, the 32× memory cut that makes PQ PQ).
  * Memoized per (session, sfDir); Verify and Bench each hold one
  * session, so training runs once per process however many PQ queries
  * execute. The `Staged.codesWithCell` variant (codes ⋈ coarse cell)
  * is the IVF-PQ index layout — cell resolved at build time, not per
  * query — and `Staged.cellCentroids` is the coarse-quantizer metadata
  * (one decimal-mean centroid per cell) that multi-probe ranks
  * against.
  *
  * Memo CONTRACT: `dir`'s parquet must be immutable for the session's
  * lifetime (true here — /root/testdata is read-only to the harness);
  * a rewritten embeddings table needs a fresh SparkSession, exactly as
  * a rebuilt production index needs re-staging — there is no content
  * fingerprinting, the memo IS the staged-index semantics. Retention
  * (the shared [[SessionMemo]] rule): stopped-context entries drop on
  * every call, and an LRU cap bounds entries for sessions discarded
  * while sharing a live context — so a long-lived multi-session JVM
  * (the test runner, an embedding host cycling `newSession()`) cannot
  * accumulate unbounded staged state, while concurrently live
  * sessions under the cap keep their artifacts without thrash.
  */
object PqStage {

  /** The family's shared parameters: 8 subspaces × 16 codes over the
    * 64-dim embeddings, 2 Lloyd iterations — byte codes, a 32× cut vs
    * float32 vectors. Single source of truth for the queries, the aux
    * codebook dump, and the oracles. */
  val Sub = 8
  val Dim = 64
  val K = 16
  val Iters = 2

  final case class Staged(codebook: DataFrame, codes: DataFrame,
                          codesWithCell: DataFrame,
                          cellCentroids: DataFrame)

  private val memo = new SessionMemo[Staged]

  /** The embeddings table in the family's canonical shape:
    * (vec_id, label, v: array<double>). */
  /** Fan-out rides the caller's [[OracleQueries.fanout]] gate: the
    * staging bodies below force it on (training is compute-bound); the
    * sim_* probe queries read this raw — a 5-row probe projection
    * gains nothing from an extra exchange (measured +0.2-0.3 s/row). */
  def embeddings(s: SparkSession, dir: String): DataFrame =
    OracleQueries.fanout(s, s.read.parquet(s"$dir/embeddings.parquet"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  /** Trained codebook + staged code tables for `dir`'s embeddings,
    * computed once per (session, sfDir); other sessions' entries are
    * evicted (see the retention contract above). */
  /** The whole PQ-family index build with its three independent
    * chains overlapped (guide §2.6): the plain-PQ chain (train →
    * encode → withCell), the OPQ chain (rotate → train → encode →
    * withCell; reads only PcaStage.fitted, which the bench charges to
    * pca_stage first), and the coarse-centroid table. Each chain is a
    * sequence of dependent actions with scheduling gaps and
    * single-partition checkpoint tails; submitted from three driver
    * threads they back-fill each other's idle cores, and their Janino
    * compiles overlap (most of the cold cost this row times).
    * staged()'s own trailing cellCentroids call lands on the memo the
    * third chain populated (or blocks on its lock — either way
    * computed once). Interleaved A/B (OPTIMIZATION_r17, one JVM,
    * alternating arms, fresh session per rep): warm seq 3.07–4.79 s
    * vs par 1.45–1.95 s; cold rep 24.7 → 3.9 s. Artifacts are
    * bit-identical — overlap changes when jobs run, never what each
    * deterministic chain computes. */
  def stageAll(s: SparkSession, dir: String): Unit =
    Overlap.par(
      () => { cellCentroids(s, dir); () },
      () => { staged(s, dir); () },
      () => { stagedOpq(s, dir); () })

  def staged(s: SparkSession, dir: String): Staged =
    memo(s, dir) {
      // fan out the training AND encode reads (the compute-bound
      // passes: Lloyd, and the S*k*(D/S) PqEncodeSig kernel per row);
      // the encode/cell ARTIFACTS are checkpointed ONCE and re-read by
      // every search row, so they are pinned back to ONE partition (the
      // raw scan's layout) before the checkpoint — a 32-way checkpoint
      // taxed each sub-second sim_* query with 32-task stages over
      // ~2000 rows (measured +0.2 s/row). The pin is a hash
      // repartition(1) on the id (deterministic, no sort-before-
      // repartition), an exchange of the tiny (id, 8-byte-codes) rows
      // only: the encode projection runs on the 32 map-side tasks and
      // the checkpoint materializes the single reduce partition.
      // Interleaved A/B (fan-out on/off): encode+checkpoint 1.26 s raw ->
      // 0.37 s fanned (min of 3 reps; throttled tail 7.88 -> 0.52).
      val eFan = OracleQueries.withFanout(embeddings(s, dir))
      val e = embeddings(s, dir)
      val (cb, _) = Pq.train(eFan, "vec_id", "v", Sub, Dim, K, Iters)
      val codes = Pins.pin(
        Pq.encodeLocal(eFan, "vec_id", "v", cb, Sub, Dim)
          .repartition(1, col("id")))
      val withCell = Pins.pin(codes
        .join(e.select(col("vec_id").as("id"), col("label")), "id"))
      Staged(cb, codes, withCell, cellCentroids(s, dir))
    }

  final case class StagedOpq(u: Array[Double], rotated: DataFrame,
                             codebook: DataFrame, codes: DataFrame,
                             codesWithCell: DataFrame)

  private val opqMemo = new SessionMemo[StagedOpq]

  /** OPQ-lite staged artifacts: the corpus rotated by the Householder
    * reflection that maps the staged PCA direction onto e1
    * ([[graft.ops.Opq]] — an isometry, so exact-neighbor ground truth
    * is unchanged), a codebook trained IN THE ROTATED SPACE, and the
    * rotated-space codes. Measured motive (SCALE_r10):
    * ADC recall@5 0.142 -> 0.292 on diagonal-variance geometry, where
    * an axis-aligned subspace split cannot see the dominant direction.
    * The rotation composes the two staged families: the reflection
    * vector derives from [[PcaStage.fitted]]'s fixed-point direction.
    * Unrounded doubles throughout — the oracle consumes the DUMPED
    * rotated vectors (exact binary doubles via parquet), so no
    * cross-engine float accumulation ever happens on the rotation. */
  def stagedOpq(s: SparkSession, dir: String): StagedOpq =
    opqMemo(s, dir) {
      val u = graft.ops.Opq.householderU(PcaStage.fitted(s, dir).direction)
      // the rotated corpus is computed on the FANNED read (the 64x64
      // Householder reflection is per-row compute serialized on one
      // core off the raw single-row-group scan), then pinned back to
      // one partition before its checkpoint — search probes filter this
      // artifact, so its partition count stays the raw scan's layout
      // (the staged() rule above)
      val rot = Pins.pin(OracleQueries.withFanout(embeddings(s, dir))
        .select(col("vec_id"), col("label"),
          graft.ops.Opq.rotate(col("v"), u).as("v"))
        .repartition(1, col("vec_id")))
      // train and encode read a fanned-out view of the pinned rotation
      // (compute-bound: Lloyd, PqEncodeSig); the checkpointed artifacts
      // keep the single partition
      val rotFan = OracleQueries.withFanout(OracleQueries.fanout(s, rot))
      val (cb, _) = Pq.train(rotFan, "vec_id", "v", Sub, Dim, K, Iters)
      val codes = Pins.pin(
        Pq.encodeLocal(rotFan, "vec_id", "v", cb, Sub, Dim)
          .repartition(1, col("id")))
      // the rotated-space IVF-PQ index layout: the coarse cell (the
      // label — a rotation-INVARIANT key, nothing geometric about it)
      // resolved at build time, riding next to the rotated-space codes
      val withCell = Pins.pin(codes
        .join(rot.select(col("vec_id").as("id"), col("label")), "id"))
      StagedOpq(u, rot, cb, codes, withCell)
    }

  private val centMemo = new SessionMemo[DataFrame]

  /** Per-cell centroid table (label, cv) — the coarse-quantizer
    * metadata a real IVF index stores: decimal-routed per-dim means,
    * one row per cell (the vector_centroids recipe, tiny and
    * broadcastable). Staged on its OWN memo so the plain-IVF probe
    * rankings (`sim_ivf_multiprobe`) consume it without paying PQ
    * codebook training; the IVF-PQ stage composes it. */
  def cellCentroids(s: SparkSession, dir: String): DataFrame =
    centMemo(s, dir) {
      Pins.pin(embeddings(s, dir)
        .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i"))
        .agg((sum(col("x").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("i"),
          col("c")))), s => s.getField("c")).as("cv")))
    }
}
