package graft.queries

import org.apache.spark.sql.SparkSession

import graft.core.Overlap
import graft.ops.Pca

/** One session-scoped memo: value computed once per (session, dir).
  * The eviction rule lives HERE, once — the fitted-direction and
  * dim-stats memos below (and any future staged artifact) share it
  * instead of copy-pasting it. Two retention mechanisms compose:
  *
  *  - entries whose session's CONTEXT is stopped are dropped on every
  *    call (their checkpointed blocks died with the context);
  *  - a small LRU cap (`maxEntries`) bounds everything the stopped
  *    check cannot see — sessions discarded while SHARING a live
  *    SparkContext (`newSession()`/`cloneSession()` cycling: Spark
  *    allows one active context per JVM, so "dead clone, live
  *    context" is the common leak shape) age out instead of pinning
  *    their checkpointed artifacts forever.
  *
  * Concurrently live sessions under the cap keep their staged
  * artifacts (no thrash — the pre-r10 form evicted every other
  * session's entries on each call); a tenant beyond the cap re-stages
  * on return, which is a bounded re-compute, never a wrong answer.
  * Calls are serialized (one driver-side lock per memo): staging is a
  * one-time cost and a duplicated concurrent compute of the same
  * artifacts would cost more than the serialization it avoids. */
private[queries] final class SessionMemo[A](maxEntries: Int = 8) {
  private val cache =
    new java.util.LinkedHashMap[(SparkSession, String), A](
      16, 0.75f, /* access-order = LRU */ true)
  def apply(s: SparkSession, dir: String)(compute: => A): A =
    synchronized {
      cache.keySet().removeIf { case (sess, _) =>
        sess.sparkContext.isStopped }
      val k = (s, dir)
      val hit = cache.get(k)
      if (hit != null) hit
      else {
        val v = compute
        cache.put(k, v)
        val it = cache.keySet().iterator()
        while (cache.size() > maxEntries && it.hasNext) {
          val eldest = it.next() // access-ordered head = LRU
          if (eldest != k) it.remove()
        }
        v
      }
    }
}

/** Staged PCA artifacts, computed once per (session, sf-dir) — the
  * PqStage pattern: a production pipeline fits once and persists;
  * queries that USE a fit (covariance presentation, projection,
  * standardization) read the staged artifacts, while the fit rows
  * (`embedding_pca`, `embedding_dim_stats`) deliberately re-fit fresh
  * so the rows that carry training cost in the bench report it
  * honestly (the pq_train convention). */
object PcaStage {

  /** Power-iteration count — single source of truth for the queries and
    * the oracle chain. */
  val Iters = 8

  final case class Fitted(mean: Array[Double], direction: Array[Long])

  private val fittedMemo = new SessionMemo[Fitted]

  def fitted(s: SparkSession, dir: String): Fitted =
    fittedMemo(s, dir) {
      // fan out the fit read (guide §2.5's unsplittable-input case): the
      // covariance pass floors D(D+1)/2 = 2080 products per row, and the
      // raw single-row-group test parquet otherwise serializes all of it
      // on one core. Interleaved A/B (StageFanoutAB, 3 reps, one JVM):
      // fanned fit 0.74x of raw at the healthiest rep and 0.17x at the
      // bus-throttled one (5.70 -> 0.94 s) — the exchange is one bounded
      // shuffle of the ~N x 64-double vectors, repaid 2080-fold by the
      // parallel product pass. dimStats stays RAW: its per-row work is a
      // single 64-group posexplode and the same probe measured the fan
      // arm LOSING (0.44 raw vs 0.78 fanned min) — exchange overhead
      // exceeds the compute it spreads.
      val e = OracleQueries.withFanout(OracleQueries.fanout(s,
        s.read.parquet(s"$dir/embeddings.parquet")))
      val (mean, d) = Pca.fit(e, "embedding", Iters)
      Fitted(mean, d)
    }

  /** Per-dimension (mean, sigma) — the standardization table. */
  final case class DimStats(mean: Array[Double], sigma: Array[Double])

  private val statsMemo = new SessionMemo[DimStats]

  /** Both PCA artifacts, built with the two independent chains
    * overlapped (guide §2.6): the fitted-direction power iteration is
    * 8 dependent collect-routed actions whose scheduling gaps and
    * single-partition tails leave most cores idle at bench scale, and
    * dimStats' two actions (mean collect + 64-row stats collect) ride
    * under them. Interleaved A/B (StageOverlapAB, one JVM, alternating
    * arms): warm seq 4.02–4.42 s vs par 3.03–3.19 s; the cold first
    * rep (what the bench row actually times) 49.3 → 7.7 s at a
    * throttled phase — the two chains' Janino compiles overlap. */
  def stageAll(s: SparkSession, dir: String): Unit =
    Overlap.par(
      () => { fitted(s, dir); () },
      () => { dimStats(s, dir); () })

  def dimStats(s: SparkSession, dir: String): DimStats =
    statsMemo(s, dir) {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
      val mean = Pca.meanVector(e, "embedding")
      val rows = Pca.dimStats(e, "embedding", mean)
        .orderBy("i").collect()
      DimStats(mean, rows.map(_.getDouble(2)))
    }
}
