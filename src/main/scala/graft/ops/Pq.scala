package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Product quantization for embedding-scale similarity search: split the
  * D-dim vector into S subspaces, train a tiny k-entry codebook per
  * subspace (grouped Lloyd — all subspaces in the SAME jobs), and
  * represent every vector by S small codes. At k <= 256 a 64-dim float
  * embedding (256 B) compresses to S = 8 single-byte codes — the 32×
  * memory cut that lets a 100 TB embedding corpus be scanned for
  * neighbours from RAM, which is the entire point of PQ (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search").
  *
  * Determinism contract (the [[KMeans]] rules, inherited operation for
  * operation): init is the k smallest-id vectors (collect-routed — one
  * bounded driver round-trip), every distance is the exact decimal sum
  * of per-dimension squared differences ([[KMeans.sqDistDecimal]]),
  * centroid updates are the repo decimal-mean, argmin ties break on the
  * code, and iteration count is fixed. The per-subspace equivalence
  * spec pins [[train]] to [[KMeans.fit]] run on the sliced vectors.
  *
  * Scale shape: training joins the corpus only against a BROADCAST
  * codebook (S×k rows) and aggregates to S×k×(D/S) rows per update —
  * bounded, map-side-combined; the one corpus-keyed exchange per
  * iteration is the (id, sub) argmin window, the same trade as
  * [[KMeans.assign]] (train on a [[Sampling]] sample at real scale —
  * PQ codebooks need thousands of vectors, not the corpus).
  * [[searchAdc]] is asymmetric-distance lookup: the query side becomes
  * an S×k distance table (broadcast), the corpus side streams its
  * CODES, and the only per-candidate work is S table lookups summed —
  * no floating-vector math touches the corpus at query time.
  *
  * `vecCol` must already be array<double> ([[VectorOps.toDouble]]),
  * non-null, and within the family's distance domain: every
  * per-dimension squared difference must stay under 1e9 (the
  * decimal(18,9) range) — beyond it the relational form's decimal cast
  * would overflow to null and corrupt its argmin, so [[encodeLocal]]'s
  * expression REJECTS such vectors loudly instead of silently
  * diverging from its pinned oracle.
  */
object Pq {

  /** Per-subspace slices of each vector: (id, sub, sv). */
  def subVectors(df: DataFrame, idCol: String, vecCol: String,
                 subspaces: Int, dim: Int): DataFrame = {
    require(subspaces > 0 && dim % subspaces == 0,
      s"dim $dim must divide into $subspaces subspaces")
    val sd = dim / subspaces
    df.select(col(idCol).as("id"), col(vecCol).as("__pq_v"))
      .select(col("id"),
        explode(sequence(lit(0), lit(subspaces - 1))).as("sub"),
        col("__pq_v"))
      .select(col("id"), col("sub"),
        slice(col("__pq_v"), col("sub") * sd + 1, lit(sd)).as("sv"))
  }

  /** Nearest codebook entry per (vector, subspace) — the KMeans.assign
    * shape grouped by subspace: broadcast codebook join (no corpus
    * shuffle for the distances), decimal-exact argmin, ties to the
    * smaller entry id. */
  private def assignG(sv: DataFrame, cent: DataFrame,
                      entry: String): DataFrame = {
    val w = Window.partitionBy(col("id"), col("sub"))
      .orderBy(col("d"), col(entry))
    sv.join(broadcast(cent), Seq("sub"))
      .select(col("id"), col("sub"), col("sv"), col(entry),
        KMeans.sqDistDecimal(col("sv"), col("cv")).as("d"))
      .withColumn("_r", row_number().over(w))
      .where(col("_r") === 1)
      .drop("_r")
  }

  /** Per-(subspace, entry) decimal-mean centroids — [[KMeans.recentroid]]
    * with the subspace riding in the key; the whole update is S×k×(D/S)
    * rows. `entry` names the entry-id column of `assigned`. */
  private def recentroidG(assigned: DataFrame, entry: String): DataFrame =
    assigned
      .select(col("sub"), col(entry), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy(col("sub"), col(entry), col("i"))
      .agg((sum(col("x").cast("decimal(18,9)")).cast("double") /
        count(lit(1))).as("c"))
      .groupBy(col("sub"), col(entry))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        s => s.getField("c")).as("cv"))

  /** Train all S codebooks in shared jobs. Returns
    * (codebook (sub, code, cv), assigned (id, sub, code, d)) with codes
    * densely relabelled 0..k-1 (rank of the init vector's id — byte-range
    * for k <= 256). Empty clusters keep their previous centroid, the
    * [[KMeans.fit]] rule.
    *
    * Hot path: every Lloyd assignment rides [[graft.functions.PqEncodeSig]]
    * with the iteration's codebook as the expression literal — the same
    * shuffle-free projection [[encodeLocal]] uses (bit-equality with the
    * relational argmin pinned by PqEncodeFormSpec/PqSpec), so a training
    * pass is scan → encode → one bounded S×k×(D/S) aggregation, with no
    * k-fold join amplification and no per-(row, entry) interpreted
    * decimal HOF. Codes are dense from the start (entry index = rank of
    * the init vector's id — exactly the (d, cid) tie order the window
    * form used, since ranking preserves id order); each iteration's
    * centroid update is collect-routed (S×k rows, the bounded-table
    * idiom [[KMeans.fit]] shares) and the keep-previous rule is a
    * driver-side merge. The returned assignment re-derives the winning
    * distance with [[KMeans.sqDistDecimal]] against the winner's
    * centroid literal — one HOF eval per row instead of k. */
  def train(vecs: DataFrame, idCol: String, vecCol: String, subspaces: Int,
            dim: Int, k: Int, iters: Int): (DataFrame, DataFrame) = {
    require(k > 0 && iters > 0, s"need k/iters > 0, got $k/$iters")
    val sd = dim / subspaces
    require(subspaces > 0 && dim % subspaces == 0,
      s"dim $dim must divide into $subspaces subspaces")
    // collect-route the k init vectors once (<= k rows); slicing them
    // into S×k sub-centroids is driver arithmetic
    val sel = vecs.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("v"))
    val initRows = sel.collect()
    require(initRows.length == k,
      s"PQ training needs at least k=$k vectors, got ${initRows.length}")
    val spark = vecs.sparkSession
    val byCid = initRows.map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
    val cidsSorted = byCid.keys.toSeq.sorted // code c <-> cidsSorted(c)
    var cbv: Vector[Vector[Vector[Double]]] =
      Vector.tabulate(subspaces)(s =>
        cidsSorted.map(cid => byCid(cid).slice(s * sd, (s + 1) * sd))
          .toVector)
    // (id, sub, code, sv) under codebook `cb` — one row-local projection
    def assignedOf(cb: Vector[Vector[Vector[Double]]]): DataFrame = {
      import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
      vecs.select(col(idCol).as("id"), col(vecCol).as("__pq_v"))
        .select(col("id"), col("__pq_v"),
          posexplode(toCol(graft.functions.PqEncodeSig(
            toExpr(col("__pq_v")), cb))).as(Seq("sub", "code")))
        .select(col("id"), col("sub"), col("code"),
          slice(col("__pq_v"), col("sub") * sd + 1, lit(sd)).as("sv"))
    }
    (2 to iters).foreach { _ =>
      val updated = recentroidG(assignedOf(cbv), "code").collect()
      val next = Array.tabulate(subspaces)(s => cbv(s).toArray)
      updated.foreach(r =>
        next(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toVector)
      cbv = next.map(_.toVector).toVector
    }
    val codebook = {
      import scala.jdk.CollectionConverters._
      val rows: Seq[org.apache.spark.sql.Row] =
        for { s <- 0 until subspaces; c <- 0 until k }
          yield org.apache.spark.sql.Row(s, c, cbv(s)(c))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sub",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("cv",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = true))))
      spark.createDataFrame(rows.asJava, schema)
    }
    val flat: Seq[Seq[Double]] =
      for { s <- 0 until subspaces; c <- 0 until k } yield cbv(s)(c)
    val assignedOut = assignedOf(cbv)
      .select(col("id"), col("sub"), col("code"),
        KMeans.sqDistDecimal(col("sv"),
          element_at(typedLit(flat), col("sub") * k + col("code") + 1))
          .as("d"))
    (codebook, assignedOut)
  }

  /** Encode vectors against a trained codebook: (id, codes) with
    * codes[s] = the subspace-s entry of smallest decimal-exact distance
    * (ties to the smaller code). Out-of-sample safe — any vector of the
    * right dimension encodes. */
  def encode(vecs: DataFrame, idCol: String, vecCol: String,
             codebook: DataFrame, subspaces: Int, dim: Int): DataFrame =
    assignG(subVectors(vecs, idCol, vecCol, subspaces, dim),
      codebook, "code")
      .groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** Asymmetric-distance (ADC) top-k search: queries become a broadcast
    * (query, sub, code) -> partial-distance table; candidates stream
    * their codes and pay S lookups + one exact decimal sum each.
    * Output (query_id, rank, cand_id, adist), self-matches excluded,
    * ties on the candidate id. */
  def searchAdc(queries: DataFrame, qIdCol: String, qVecCol: String,
                codes: DataFrame, codebook: DataFrame, subspaces: Int,
                dim: Int, topK: Int): DataFrame = {
    val lut = subVectors(queries, qIdCol, qVecCol, subspaces, dim)
      .join(broadcast(codebook), Seq("sub"))
      .select(col("id").as("query_id"), col("sub"), col("code"),
        KMeans.sqDistDecimal(col("sv"), col("cv")).as("pd"))
    val cx = codes.select(col("id").as("cand_id"),
      posexplode(col("codes")).as(Seq("sub", "code")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("cand_id"))
    cx.join(broadcast(lut), Seq("sub", "code"))
      .where(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("pd").cast("decimal(18,9)")).cast("double").as("adist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("adist"), 6).as("adist"))
  }

  /** Row-local encode — the scale path: the codebook (already a
    * LocalRelation after [[train]]'s collect-route) folds into a
    * [[graft.functions.PqEncodeSig]] literal, so the whole encoding is
    * one shuffle-FREE projection riding the corpus scan. [[encode]]
    * (broadcast-join + argmin window — an exchange of S × |corpus|
    * rows) stays as the in-repo oracle, bit-equality pinned by
    * PqEncodeFormSpec. Output identical: (id, codes). Measured
    * (SCALE_r08, interleaved, 1× and 10× ScaleGen corpora): the
    * expression runs at 0.38–0.55× the relational form's wall time AND
    * deletes the exchange. One known cost: under projection collapse a
    * downstream explode's pushed null/size filter re-evaluates the
    * expression per row (up to 3×) — bounded by the fixed S×k×(D/S)
    * kernel, far below the exchange it replaces. */
  def encodeLocal(vecs: DataFrame, idCol: String, vecCol: String,
                  codebook: DataFrame, subspaces: Int, dim: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    val sd = dim / subspaces
    val rows = codebook.select(col("sub"), col("code"), col("cv")).collect()
    val k = rows.length / subspaces
    val cb = Array.ofDim[Vector[Double]](subspaces, k)
    rows.foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toVector
    }
    require(cb.forall(_.forall(v => v != null && v.length == sd)),
      s"codebook must cover codes 0..${k - 1} for all $subspaces subspaces")
    // nested Vectors (value equality) — the expression's equals/hashCode
    // must compare codebook CONTENT for canonicalization to work
    val cbv = cb.map(_.toVector).toVector
    vecs.select(col(idCol).as("id"),
      toCol(graft.functions.PqEncodeSig(toExpr(col(vecCol)), cbv)).as("codes"))
  }

  /** IVF-PQ: ADC search restricted to each query's coarse cell — the
    * canonical large-corpus ANN index (coarse quantizer prunes the
    * candidate set, byte codes rank what remains; no float vector and
    * no out-of-cell candidate is ever touched). `codes` must carry the
    * cell alongside the codes; the cell RIDES IN THE JOIN KEY, so
    * out-of-cell candidates are dropped in the hash lookup itself, not
    * filtered after pairing. Delegates to [[searchAdcInProbedCells]]
    * with each query probing exactly its own cell. */
  def searchAdcInCells(queries: DataFrame, qIdCol: String, qVecCol: String,
                       qCellCol: String, codes: DataFrame, cellCol: String,
                       codebook: DataFrame, subspaces: Int, dim: Int,
                       topK: Int): DataFrame =
    searchAdcInProbedCells(queries, qIdCol, qVecCol,
      queries.select(col(qIdCol).as("id"), col(qCellCol).as("cell")),
      codes, cellCol, codebook, subspaces, dim, topK)

  /** The coarse-quantizer probe step of multi-probe IVF-PQ: rank cells
    * by exact decimal squared-L2 from the query to each CELL CENTROID
    * (ties to the smaller cell id — the [[KMeans]] argmin rules, so an
    * external engine replays the ranking bit-for-bit) and keep the top
    * `probes`. `centroids` carries (cellCol, cvCol) with the centroid
    * vector as array<double>. The centroid table is index metadata
    * (one row per cell — broadcast), so this is a scalar-product
    * projection over the queries; the corpus is never touched.
    * Returns (id, cell). */
  def probeCells(queries: DataFrame, qIdCol: String, qVecCol: String,
                 centroids: DataFrame, cellCol: String,
                 probes: Int, cvCol: String = "cv"): DataFrame = {
    require(probes > 0, s"need probes > 0, got $probes")
    val w = Window.partitionBy(col("id")).orderBy(col("d"), col("cell"))
    queries.select(col(qIdCol).as("id"), col(qVecCol).as("__pq_qv"))
      .crossJoin(broadcast(centroids.select(col(cellCol).as("cell"),
        col(cvCol).as("__pq_cc"))))
      .select(col("id"), col("cell"),
        KMeans.sqDistDecimal(col("__pq_qv"), col("__pq_cc")).as("d"))
      .withColumn("__pq_p", row_number().over(w))
      .where(col("__pq_p") <= probes)
      .select(col("id"), col("cell"))
  }

  /** Multi-probe IVF-PQ: ADC restricted to each query's probe cell SET
    * (from [[probeCells]] — the standard recall lever over single-probe
    * IVF: a true neighbour just across a cell boundary is recovered by
    * probing the runner-up cell, at P× the lookup cost and ZERO extra
    * corpus passes). `probesDf` carries (id, cell), one row per probed
    * cell; the broadcast LUT grows to P × S × k rows per query and the
    * cell STILL rides in the join key — a candidate lives in exactly
    * one cell, so each (query, candidate) pair forms at most once and
    * the per-pair sum stays exactly S partial distances. */
  def searchAdcInProbedCells(queries: DataFrame, qIdCol: String,
                             qVecCol: String, probesDf: DataFrame,
                             codes: DataFrame, cellCol: String,
                             codebook: DataFrame, subspaces: Int, dim: Int,
                             topK: Int): DataFrame = {
    val lut = subVectors(queries, qIdCol, qVecCol, subspaces, dim)
      .join(broadcast(probesDf.select(col("id"),
        col("cell").as("__pq_cell"))), Seq("id"))
      .join(broadcast(codebook), Seq("sub"))
      .select(col("id").as("query_id"), col("__pq_cell").as("cell"),
        col("sub"), col("code"),
        KMeans.sqDistDecimal(col("sv"), col("cv")).as("pd"))
    val cx = codes.select(col("id").as("cand_id"),
      col(cellCol).as("cell"),
      posexplode(col("codes")).as(Seq("sub", "code")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("cand_id"))
    cx.join(broadcast(lut), Seq("cell", "sub", "code"))
      .where(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("pd").cast("decimal(18,9)")).cast("double").as("adist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("adist"), 6).as("adist"))
  }

  /** The production PQ pattern: ADC builds a `shortlist`-sized candidate
    * set per query FROM CODES ALONE, then exact decimal distances re-rank
    * only that shortlist against the full vectors — the corpus's float
    * vectors are touched for |queries| × shortlist rows total, not per
    * scan. Quantization error costs RECALL INTO THE SHORTLIST only (a
    * true neighbour outside the shortlist stays lost — size the
    * shortlist for the measured recall, see PqRecallSpec); everything
    * inside it is ranked exactly. Output (query_id, rank, cand_id, dist),
    * ties on the candidate id. */
  def searchRerank(queries: DataFrame, qIdCol: String, qVecCol: String,
                   candidates: DataFrame, cIdCol: String, cVecCol: String,
                   codes: DataFrame, codebook: DataFrame, subspaces: Int,
                   dim: Int, shortlist: Int, topK: Int): DataFrame = {
    require(topK <= shortlist,
      s"topK $topK cannot exceed the shortlist $shortlist")
    val short = searchAdc(queries, qIdCol, qVecCol, codes, codebook,
        subspaces, dim, shortlist)
      .select(col("query_id"), col("cand_id"))
    val q = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).as("__pq_qv"))
    val c = candidates.select(col(cIdCol).as("cand_id"),
      col(cVecCol).as("__pq_cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("cand_id"))
    short.join(broadcast(q), Seq("query_id"))
      .join(c, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        KMeans.sqDistDecimal(col("__pq_qv"), col("__pq_cv")).as("dist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("dist"), 6).as("dist"))
  }
}
