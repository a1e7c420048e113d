package graft.stencil

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Distributed connected-component labeling over sparse pixel sets.
  *
  * Reference: scipy.ndimage.label / skimage.measure.label over the outlier
  * and gradient masks (classification.py:387,563; spottiness.py:31). Masked
  * pixels are a small fraction of the frame, so we label only the ACTIVE
  * rows (keys..., y, x), with an optional numeric frame key scoping many
  * frames in one pass.
  *
  * Algorithm (loop-free — two shuffles, no driver iteration):
  *  1. node id = y * width + x;
  *  2. edge list = 8- (or 4-) neighbour pairs among active pixels, built
  *     with equi-joins on shifted coordinates (no cartesian product);
  *  3. per frame, union-find over that frame's edge list inside a single
  *     `mapGroups` — masks are sparse (ring-outlier masks are a fraction
  *     of a percent of the frame), so a frame's edges are at most a few
  *     hundred thousand rows, microseconds of driver-free local work;
  *  4. broadcast-join the (label -> root) mapping back to the pixels.
  *
  * An earlier iterative min-label-propagation version converged linearly on
  * path-shaped clusters (powder arcs are exactly that) and accumulated plan
  * state per round; the per-frame union-find replaces O(diameter) Spark
  * rounds with one tiny sequential pass per frame, embedded in an
  * aggregation so frames still parallelize across executors. For DENSE
  * masks the escalation path is tile-local union-find first, then the same
  * per-frame merge on boundary edges only.
  *
  * Final labels are DETERMINISTIC: the min pixel id of the component
  * (property-tested against a single-node union-find oracle).
  *
  * Returns the input (keys..., y, x) rows + a `label` column (long).
  */
object CCL {

  /** Broadcast cap for the label-mapping join-back, mirroring
    * FramePipeline.flagOutliers: mapping rows scale with active pixels ×
    * frames-per-batch, so a 10k-frame backfill batch must not broadcast
    * them through the driver. */
  val MaxBroadcastMappingRows: Long = 1000000L

  /** Active pixels per frame above which [[labelAuto]] escalates to
    * [[labelDense]]: the sparse path's per-frame `mapGroups` pulls ~4
    * edge rows per active pixel into ONE task, fine for ring-outlier
    * masks (<1% of a frame) but not for a pathological threshold mask
    * selecting half a 2880² frame. */
  val DensePixelsPerFrame: Long = 500000L

  /** Density-gated dispatch: counts the busiest frame's active pixels
    * (one pass over the pinned input) and routes sparse masks to the
    * one-shuffle per-frame local path (shared with [[closeAndLabel]],
    * r = 0) or to [[labelDense]] when any frame exceeds
    * `densePixelsPerFrame`. Labels are identical on all paths (the
    * component's min pixel id), so callers never see which ran;
    * [[label]]'s edge-join form survives as the spec oracle. */
  def labelAuto(active: DataFrame, width: Int, height: Int,
                keys: Seq[String] = Nil, eightConnected: Boolean = true,
                densePixelsPerFrame: Long = DensePixelsPerFrame,
                maxBroadcastRows: Long = MaxBroadcastMappingRows)
      : DataFrame =
    // labeling IS closeAndLabel with the closing skipped — one shared
    // density-gate preamble (pin, busiest-frame count, route)
    closeAndLabel(active, 0, width, height, keys, eightConnected,
      densePixelsPerFrame, maxBroadcastRows)

  /** Fused closing (M2) + connected-component labeling (M1) for sparse
    * masks — the classify chain's opening moves in ONE shuffle.
    *
    * The relational chain (`Morphology.closing` then [[labelAuto]]) costs
    * a dilate-distinct, an erode-groupBy, four edge self-joins, a
    * mapGroups exchange and a label join-back — seven-plus small Spark
    * jobs per batch whose FIXED latency dominates the classify stage at
    * production frame sizes (SCALE_r03 profile). But the sparse gate
    * already guarantees a frame's active pixels fit one task, so the
    * entire composition is a per-frame local computation: ONE
    * `groupByKey(frame)` exchange of the active rows, then hash-set
    * closing and union-find in memory, emitting labeled pixels directly
    * (no join-back — the group holds every node).
    *
    * Semantics are identical to the chain (spec-asserted):
    * out-of-frame counts inactive for the closing (scipy border_value=0
    * convention, as in Morphology), labels are the component's min pixel
    * id. `r = 0` skips the closing — [[labelAuto]] routes its sparse path
    * here. Frames above `densePixelsPerFrame` active pixels fall back to
    * the relational closing + [[labelDense]] (per-task memory on the
    * sparse path is the dilated set, ≤ (2r+1)² × gate ≈ 4.5M entries
    * worst-case at the default gate — bounded, but worth routing around
    * for genuinely dense masks). */
  def closeAndLabel(active: DataFrame, r: Int, width: Int, height: Int,
                    keys: Seq[String] = Nil, eightConnected: Boolean = true,
                    densePixelsPerFrame: Long = DensePixelsPerFrame,
                    maxBroadcastRows: Long = MaxBroadcastMappingRows)
      : DataFrame = {
    val spark = active.sparkSession
    import spark.implicits._
    require(keys.size <= 1, "CCL supports at most one numeric frame key")
    val fkey0 = keys.headOption.map(col).getOrElse(lit(0))
    // the busiest-frame count is the pin's own materializing action
    val (pinned, maxRow) = Pins.pinWith(active)(
      _.groupBy(fkey0.as("_f")).count().agg(max(col("count"))).head())
    val maxPerFrame = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    if (maxPerFrame > densePixelsPerFrame) {
      // r == 0: `pinned` is already materialized — tell labelDense not to
      // re-pin the identical row set (one redundant 500k+-row
      // materialization otherwise). With a closing in between the result
      // is a new lazy relational plan with four consumers inside
      // labelDense, so there the pin stays.
      if (r == 0)
        labelDense(pinned, width, height, keys,
          eightConnected = eightConnected,
          maxBroadcastRows = maxBroadcastRows, inputPinned = true)
      else
        labelDense(Morphology.closing(pinned, r, keys, width, height),
          width, height, keys, eightConnected = eightConnected,
          maxBroadcastRows = maxBroadcastRows)
    } else localCloseLabel(pinned, r, width, height, keys, eightConnected)
  }

  /** Sparse-path body of [[closeAndLabel]] (input already pinned and
    * density-gated by the caller). */
  private def localCloseLabel(pinned: DataFrame, r: Int, width: Int,
                              height: Int, keys: Seq[String],
                              eightConnected: Boolean): DataFrame = {
    val spark = pinned.sparkSession
    import spark.implicits._
    val fkey = keys.headOption.map(k => col(k).cast("long"))
      .getOrElse(lit(0L))
    val keyType = keys.headOption.map(k => pinned.schema(k).dataType)
    // the group key round-trips through long — a fractional key (1.7)
    // would come back truncated in the OUTPUT rows, silently merging
    // frames; fail fast instead ([[label]]/[[labelDense]] preserve the
    // original values, so they keep accepting any long-castable key)
    keyType.foreach { dt =>
      import org.apache.spark.sql.types._
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"closeAndLabel/labelAuto sparse path requires an integral frame " +
          s"key; got ${keys.head}: ${dt.simpleString}")
    }
    val w = width; val h = height; val rr = r; val eight = eightConnected
    val labeled = pinned
      .select(fkey.as("_f"), col("y").cast("int"), col("x").cast("int"))
      .as[(Long, Int, Int)]
      .groupByKey(_._1)
      .flatMapGroups { (f, it) =>
        val pids = it.map(t => t._2.toLong * w + t._3).toArray
        closeLabelFrame(pids, w, h, rr, eight).map { case (p, root) =>
          (f, (p / w).toInt, (p % w).toInt, root)
        }
      }
      .toDF("_f", "y", "x", "label")
    keyType match {
      case Some(dt) => labeled.select(
        col("_f").cast(dt).as(keys.head), col("y"), col("x"), col("label"))
      case None => labeled.select(col("y"), col("x"), col("label"))
    }
  }

  /** Per-frame local kernel of [[closeAndLabel]]: binary closing of
    * radius `r` (0 = none) then min-root union-find, over pixel ids
    * (pid = y * width + x). Returns (pid, label) for the CLOSED set. */
  private def closeLabelFrame(pids: Array[Long], width: Int, height: Int,
                              r: Int, eightConnected: Boolean)
      : Iterator[(Long, Long)] = {
    import scala.collection.mutable.LongMap
    val closed: Array[Long] =
      if (r == 0) pids
      else {
        // dilation: every in-frame position within r of an active pixel
        val dil = new LongMap[Boolean](
          math.max(pids.length * (2 * r + 1), 64))
        var i = 0
        while (i < pids.length) {
          val p = pids(i)
          val y = (p / width).toInt; val x = (p % width).toInt
          var dy = -r
          while (dy <= r) {
            val ny = y + dy
            if (ny >= 0 && ny < height) {
              var dx = -r
              while (dx <= r) {
                val nx = x + dx
                if (nx >= 0 && nx < width) dil(ny.toLong * width + nx) = true
                dx += 1
              }
            }
            dy += 1
          }
          i += 1
        }
        // erosion of the dilated set: a position survives iff its whole
        // (2r+1)^2 neighbourhood is in-frame AND dilated (out-of-frame
        // counts inactive — Morphology.closing / scipy border_value=0)
        val out = Array.newBuilder[Long]
        dil.foreachKey { p =>
          val y = (p / width).toInt; val x = (p % width).toInt
          var ok = true
          var dy = -r
          while (ok && dy <= r) {
            val ny = y + dy
            if (ny < 0 || ny >= height) ok = false
            else {
              var dx = -r
              while (ok && dx <= r) {
                val nx = x + dx
                if (nx < 0 || nx >= width ||
                    !dil.contains(ny.toLong * width + nx)) ok = false
                dx += 1
              }
            }
            dy += 1
          }
          if (ok) out += p
        }
        out.result()
      }
    // min-root union-find over the closed set (labels = component's min
    // pixel id, exactly like [[label]]/[[labelDense]])
    val set = new LongMap[Boolean](math.max(closed.length * 2, 64))
    closed.foreach(p => set(p) = true)
    val parent = LongMap.empty[Long]
    def find(x0: Long): Long = {
      var root = x0
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var c = x0
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = root; c = nxt
      }
      root
    }
    def union(u: Long, v: Long): Unit = {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
    }
    val offs = if (eightConnected) Array((0, 1), (1, -1), (1, 0), (1, 1))
               else Array((0, 1), (1, 0))
    closed.foreach { p =>
      val y = (p / width).toInt; val x = (p % width).toInt
      offs.foreach { case (dy, dx) =>
        val ny = y + dy; val nx = x + dx
        if (ny >= 0 && ny < height && nx >= 0 && nx < width) {
          val q = ny.toLong * width + nx
          if (set.contains(q)) union(p, q)
        }
      }
    }
    closed.iterator.map(p => (p, find(p)))
  }

  def label(active: DataFrame, width: Int, keys: Seq[String] = Nil,
            eightConnected: Boolean = true,
            maxBroadcastRows: Long = MaxBroadcastMappingRows): DataFrame = {
    val spark = active.sparkSession
    import spark.implicits._
    require(keys.size <= 1, "CCL supports at most one numeric frame key")

    val kcols = keys.map(col)
    val pid = col("y").cast("long") * width + col("x")
    val fkey = keys.headOption.map(k => col(k).cast("long"))
      .getOrElse(lit(0L))

    val nodes = active.select(kcols ++ Seq(col("y"), col("x"),
      fkey.as("_f"), pid.as("id")): _*)

    // Neighbour edges among active pixels: equi-join on shifted coords,
    // scoped by the frame key. Forward offsets suffice for union-find.
    val offs = if (eightConnected) Seq((0, 1), (1, -1), (1, 0), (1, 1))
               else Seq((0, 1), (1, 0))
    val a = nodes.select(col("_f"), col("y"), col("x"), col("id").as("id_a"))
    val b = nodes.select(col("_f").as("_fb"), col("y").as("by"),
      col("x").as("bx"), col("id").as("id_b"))
    val edges = offs.map { case (dy, dx) =>
      a.join(b, col("_fb") === col("_f") &&
          col("by") === col("y") + dy && col("bx") === col("x") + dx)
        .select(col("_f"), col("id_a"), col("id_b"))
    }.reduce(_ union _)

    // Per-frame union-find (min root) over the edge list.
    val mapping = Pins.pin(edges.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent(c); parent(c) = r; c = nxt
          }
          r
        }
        it.foreach { case (_, u, v) =>
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) {
            if (ru < rv) parent(rv) = ru else parent(ru) = rv
          }
        }
        val out = parent.keys.map(k => (k, find(k))).toArray
        (f, out)
      }
      .toDF("_f", "m")
      .select(col("_f"), explode(col("m")).as("kv"))
      // materialized so the row count can gate the join strategy without
      // recomputing the union-find
      .select(col("_f"), col("kv._1").as("id"), col("kv._2").as("root")))

    // broadcast growth guard (same rationale as flagOutliers): mapping
    // rows ≤ active pixels, which scale with frames per batch
    val m = if (mapping.count() <= maxBroadcastRows) broadcast(mapping)
            else mapping
    nodes.join(m, Seq("_f", "id"), "left")
      .select(kcols ++ Seq(col("y"), col("x"),
        coalesce(col("root"), col("id")).as("label")): _*)
  }

  /** Dense-mask escalation path (SURVEY §7.4): when the active set is a
    * large fraction of the frame, [[label]]'s per-frame union-find would
    * pull a whole frame's edge list into one task. Here the union-find
    * runs TILE-LOCALLY first (each task sees one tile's pixels), and only
    * edges CROSSING tile boundaries — O(perimeter), not O(area) — feed
    * the per-frame merge. Labels are identical to [[label]]: the local
    * root is the min pixel id of the tile-component, the boundary merge
    * keeps the min across tiles, so the final label is the component's
    * global min pixel id.
    */
  def labelDense(active: DataFrame, width: Int, height: Int,
                 keys: Seq[String] = Nil, tile: Int = 256,
                 eightConnected: Boolean = true,
                 maxBroadcastRows: Long = MaxBroadcastMappingRows,
                 inputPinned: Boolean = false)
      : DataFrame = {
    val spark = active.sparkSession
    import spark.implicits._
    require(keys.size <= 1, "CCL supports at most one numeric frame key")

    val kcols = keys.map(col)
    val pid = col("y").cast("long") * width + col("x")
    val fkey = keys.headOption.map(k => col(k).cast("long"))
      .getOrElse(lit(0L))
    // `nodes` feeds four consumers (local union-find, both edge sides, the
    // final join) — pin unless the caller already materialized `active`,
    // in which case the re-projection over the checkpoint is free
    val nodes0 = active.select(kcols ++ Seq(col("y"), col("x"),
      fkey.as("_f"), pid.as("id")): _*)
    val nodes = if (inputPinned) nodes0 else Pins.pin(nodes0)

    val offs = if (eightConnected) Seq((0, 1), (1, -1), (1, 0), (1, 1))
               else Seq((0, 1), (1, 0))

    // ---- phase 1: tile-local union-find -------------------------------
    val localRoots = nodes
      .select(col("_f"), (col("y") / tile).cast("int").as("_ty"),
        (col("x") / tile).cast("int").as("_tx"), col("y"), col("x"),
        col("id"))
      .as[(Long, Int, Int, Int, Int, Long)]
      .groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (key, it) =>
        val px = it.map(t => (t._4, t._5, t._6)).toArray
        val byPos = px.map(p => (p._1.toLong << 32 | (p._2 & 0xffffffffL),
          p._3)).toMap
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent(c); parent(c) = r; c = nxt
          }
          r
        }
        def union(u: Long, v: Long): Unit = {
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
        }
        px.foreach { case (y, x, id) =>
          offs.foreach { case (dy, dx) =>
            byPos.get((y + dy).toLong << 32 | ((x + dx) & 0xffffffffL))
              .foreach(nid => union(id, nid))
          }
        }
        px.iterator.map { case (_, _, id) => (key._1, id, find(id)) }
      }
      .toDF("_f", "id", "lroot")

    // ---- phase 2: boundary edges between tiles, on local roots --------
    val a = nodes.select(col("_f"), col("y"), col("x"), col("id").as("id_a"))
    val b = nodes.select(col("_f").as("_fb"), col("y").as("by"),
      col("x").as("bx"), col("id").as("id_b"))
    val crossEdges = offs.map { case (dy, dx) =>
      a.join(b, col("_fb") === col("_f") &&
          col("by") === col("y") + dy && col("bx") === col("x") + dx &&
          // only pairs whose endpoints live in DIFFERENT tiles
          ((col("by") / tile).cast("int") =!= (col("y") / tile).cast("int") ||
           (col("bx") / tile).cast("int") =!= (col("x") / tile).cast("int")))
        .select(col("_f"), col("id_a"), col("id_b"))
    }.reduce(_ union _)
    val lr = localRoots
    val rootEdges = crossEdges
      .join(lr.select(col("_f"), col("id").as("id_a"),
        col("lroot").as("ra")), Seq("_f", "id_a"))
      .join(lr.select(col("_f"), col("id").as("id_b"),
        col("lroot").as("rb")), Seq("_f", "id_b"))
      .select(col("_f"), col("ra"), col("rb")).distinct()

    // ---- phase 3: per-frame merge over boundary root edges ------------
    val merge = Pins.pin(rootEdges.as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val nxt = parent(c); parent(c) = r; c = nxt
          }
          r
        }
        it.foreach { case (_, u, v) =>
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
        }
        (f, parent.keys.map(k => (k, find(k))).toArray)
      }
      .toDF("_f", "m")
      .select(col("_f"), explode(col("m")).as("kv"))
      .select(col("_f"), col("kv._1").as("lroot"),
        col("kv._2").as("groot")))

    // merge rows are O(boundary components) — usually tiny, but a
    // 10k-frame batch still multiplies them; same guard as [[label]]
    val mg = if (merge.count() <= maxBroadcastRows) broadcast(merge)
             else merge
    localRoots
      .join(mg, Seq("_f", "lroot"), "left")
      .withColumn("label", coalesce(col("groot"), col("lroot")))
      .join(nodes, Seq("_f", "id"))
      .select(kcols ++ Seq(col("y"), col("x"), col("label")): _*)
  }
}
