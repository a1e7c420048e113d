package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deterministic Lloyd k-means over an embedding column — the corpus
  * clustering primitive (topic bucketing, diversity quotas, coreset
  * selection) built so the whole fit is REPRODUCIBLE and re-derivable by
  * an external SQL engine:
  *
  *  - init is data-deterministic (the k smallest-id vectors), not
  *    sampled;
  *  - every distance is an exact decimal sum of per-dimension squared
  *    differences (each term takes one deterministic double→decimal(18,9)
  *    rounding; the sum is then order-independent), so argmin sees
  *    IDENTICAL values on every engine/partitioning, with ties broken on
  *    the centroid id;
  *  - centroid updates are the repo's decimal-mean (exact sum / count).
  *
  * Scale shape per iteration: the corpus joins ONLY a broadcast k-row
  * centroid table (k-fold row amplification, no shuffle), folds the
  * distance row-locally, and one window per vec_id picks the argmin —
  * the single corpus-keyed exchange; the centroid update aggregates
  * k×dims rows. Iterations are a FIXED count (the caller's convergence
  * budget): data-dependent stopping would make the plan depend on the
  * data, which breaks rerun determinism and oracle replay. */
object KMeans {

  /** Exact squared-L2 distance: per-dim (a_i-b_i)^2 rounded once into
    * decimal(18,9), summed exactly (order-independent), then one cast to
    * double. Lambda bodies touch only lambda variables — no captured
    * expression re-evaluation (the interpreted-HOF pitfall). */
  def sqDistDecimal(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => ((x - y) * (x - y)).cast("decimal(18,9)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(28,9)"),
      (acc, t) => (acc + t).cast("decimal(28,9)"))
      .cast("double")

  /** Assign each vector to its nearest centroid. `vectors` must carry
    * (idCol, `v`: array<double>); `centroids` carries (cid, cv). Returns
    * (idCol, v, cid, d). This is the RELATIONAL form — the in-repo
    * oracle an external engine can replay; [[fit]]'s hot path rides
    * [[assignLocal]] instead (KMeansAssignFormSpec pins the two forms
    * row for row). */
  def assign(vectors: DataFrame, centroids: DataFrame,
             idCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("d"), col("cid"))
    vectors.crossJoin(broadcast(centroids))
      .select(col(idCol), col("v"), col("cid"),
        sqDistDecimal(col("v"), col("cv")).as("d"))
      .withColumn("_r", row_number().over(w))
      .where(col("_r") === 1)
      .drop("_r")
  }

  /** Row-local assignment against a LOCAL centroid table — the same
    * argmin as [[assign]] computed as ONE shuffle-free projection: the
    * centroids ride inside a [[graft.functions.PqEncodeSig]] literal
    * (one subspace spanning the whole vector), so the scan pays neither
    * the k-fold broadcast-join row amplification nor the
    * sort/WindowGroupLimit/exchange machinery, and the k distances per
    * row run in the expression's compiled decimal loop instead of k
    * interpreted zip_with/aggregate evaluations. Bit-equality is the
    * PqEncodeSig contract: it mirrors [[sqDistDecimal]] term for term,
    * compares the same doubles, and breaks ties on the entry INDEX —
    * here the rank of the centroid id, i.e. exactly the (d, cid) order
    * the window form uses. The winning distance is re-derived with
    * [[sqDistDecimal]] against the winner's centroid literal (one HOF
    * eval per row instead of k). One envelope difference, enforced
    * loudly upstream: a per-dimension squared difference beyond the
    * decimal(18,9) domain THROWS in the expression where the relational
    * form's overflow-to-null would silently win the argmin via NULLS
    * FIRST — out-of-domain vectors were never supported (the [[Pq]]
    * distance-domain contract). Returns (idCol, v, cid, d). */
  private[ops] def assignLocal(vectors: DataFrame, idCol: String,
                               cent: Seq[(Long, Seq[Double])]): DataFrame = {
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    val sorted = cent.sortBy(_._1)
    val cids = sorted.map(_._1)
    val cvs: Vector[Vector[Double]] = sorted.map(_._2.toVector).toVector
    val enc = graft.functions.PqEncodeSig(toExpr(col("v")), Vector(cvs))
    vectors
      .select(col(idCol), col("v"),
        element_at(toCol(enc), 1).as("__km_code"))
      .select(col(idCol), col("v"),
        element_at(typedLit(cids), col("__km_code") + 1).as("cid"),
        sqDistDecimal(col("v"),
          element_at(typedLit(cvs), col("__km_code") + 1)).as("d"))
  }

  /** Per-cluster decimal-mean centroids, re-assembled into dim-ordered
    * arrays (the sorted-collect idiom the IVF centroid table uses). */
  def recentroid(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("cid"), col("i"))
      .agg((sum(col("x").cast("decimal(18,9)")).cast("double") /
        count(lit(1))).as("c"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cv"))

  /** Run `iters` Lloyd iterations from the k smallest-id vectors and
    * return the final assignment (idCol, cid, d). A centroid whose
    * cluster EMPTIES (possible when init vectors duplicate — every tied
    * point breaks to the smaller cid) keeps its previous position
    * instead of silently vanishing: the k-cluster contract holds for
    * the whole fit, and an emptied cluster can re-acquire members in a
    * later iteration. */
  def fit(vectors: DataFrame, idCol: String, k: Int,
          iters: Int): DataFrame = {
    require(k > 0 && iters > 0, s"need k/iters > 0, got $k/$iters")
    // collect-route the k init centroids (<= k rows, the repo's
    // global-scalar idiom): ONE TakeOrdered pass both materializes the
    // init table as a LocalRelation (so iteration 1's broadcast never
    // re-scans the corpus for it) and guards the k-cluster contract —
    // with fewer than k vectors the limit(k) init would silently yield
    // fewer centroids
    val sel = vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("cid"), col("v").as("cv"))
    val initRows = sel.collect()
    require(initRows.length == k,
      s"k-means needs at least k=$k vectors, got ${initRows.length}")
    // every iteration's centroid table is COLLECT-ROUTED to the driver
    // (the init/PQ-codebook bounded-table idiom, k rows): without it the
    // returned assignment's lineage embeds the whole iteration chain, so
    // EVERY downstream consumer re-executes every Lloyd pass — the
    // SCALE_r09 §22 defect class (dedup_semantic re-scanned the corpus
    // 12x through exactly this). With it, training executes each pass
    // once; the values are bit-identical (collecting k rows changes
    // nothing numeric). The empty-cluster keep-previous rule — formerly
    // a unionByName + left_anti plan over the k-row table — is the same
    // driver-side merge by cid. Assignments ride [[assignLocal]] (the
    // shuffle-free expression form; bit-equality with [[assign]] pinned
    // by KMeansAssignFormSpec).
    var cent: Seq[(Long, Seq[Double])] =
      initRows.toSeq.map(r => r.getLong(0) -> r.getSeq[Double](1))
    (2 to iters).foreach { _ =>
      val updated = recentroid(assignLocal(vectors, idCol, cent))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      cent = cent.map { case (cid, cv) => cid -> updated.getOrElse(cid, cv) }
    }
    assignLocal(vectors, idCol, cent).select(col(idCol), col("cid"), col("d"))
  }
}
