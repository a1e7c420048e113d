package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins
import graft.ops.RobustStats
import graft.stencil.{CCL, Stencil}

/** The spot/texture classification pipeline (reference
  * `current_splitting_method` classification.py:829-912) — the centerpiece
  * composition showing the whole stage DAG is relational:
  *
  *   outlier mask → closing (M2) → CCL (M1) → per-cluster shape aggregates
  *   (A3) → shape classifier (C2) → 2nd directional gradients (M5) →
  *   central-band percentile vs global threshold (A5) → gradient clusters
  *   (M1) → wedge cuts near the cluster's median azimuth (A6/M9) → final
  *   spot/arc pixel flags (C3).
  *
  * Every stage is a groupBy/join over the labeled pixel table; the only
  * non-relational pieces are the tile-stencil derivatives and CCL, both
  * from graft.stencil. Cluster aggregates are tiny relative to pixels, so
  * every join-back broadcasts (J2).
  */
object Classification {

  /** Tunables (reference defaults: qwidth classification.py:420-433, UI
    * shape_min default pipeline_queue.py:444-448). */
  final case class Params(
      qWidthMax: Double = 0.1,      // arcs are radially thin: dQ < 0.1
      azimSpanMin: Double = 3.5,    // and azimuthally long: dAzim > 3.5 deg
      shapeRatioMin: Double = 100,  // dAzim/dQ > 100
      minArcArea: Long = 100,       // drop tiny clusters before arc tests
      minSpotArea: Long = 10,
      centralBandQ: Double = 0.02,  // |q - medianQ| band for on_arc test
      gradPercentile: Double = 0.2, // per-cluster percentile of grad2
      globalPercentile: Double = 0.1, // global threshold percentile
      wedgeQWidthMul: Double = 5.0, // cut width = 5 * Qwidth
      // M6: Gaussian-interpolate masked pixels before gradient stages
      // (always-on in the reference's current path,
      // classification.py:466-468; sigma 1 -> 9x9 kernel)
      interpolate: Boolean = true,
      interpolateSigma: Double = 1.0)

  /** C2 — shape classifier. Input: labeled outlier pixels with geometry
    * columns (label, q, azim, azim_flipped). Output: per-label table
    * (label, area, dq, dazim, classifier) with classifier 0=small, 1=spot,
    * 2=arc (reference classification.py:373-444; the min-over-two-origins
    * span is the fliplr wraparound trick at :403-413). */
  def shapeClassify(px: DataFrame, keys: Seq[String],
                    p: Params = Params()): DataFrame = {
    val kcols = keys.map(col)
    val agg = px.groupBy(kcols :+ col("label"): _*)
      .agg(
        count(lit(1)).as("area"),
        // all three q-percentiles share ONE sort buffer (array form)
        percentile(col("q"), array(lit(0.1), lit(0.5), lit(0.9)))
          .as("_qp"),
        (max(col("azim")) - min(col("azim"))).as("span_raw"),
        (max(col("azim_flipped")) - min(col("azim_flipped")))
          .as("span_flip"))
      .withColumn("dq",
        element_at(col("_qp"), 3) - element_at(col("_qp"), 1))
      .withColumn("median_q", element_at(col("_qp"), 2))
      .withColumn("dazim", least(col("span_raw"), col("span_flip")))
      .drop("span_raw", "span_flip", "_qp")
    agg.withColumn("classifier",
      when(col("area") >= p.minArcArea &&
          col("dq") < p.qWidthMax && col("dazim") > p.azimSpanMin &&
          col("dazim") / col("dq") > p.shapeRatioMin, lit(2))
        .when(col("area") >= p.minSpotArea, lit(1))
        .otherwise(lit(0)))
  }

  /** C3 — gradient refinement of arc candidates. `allPx` is the FULL frame
    * pixel table (frame_no, y, x, q, azim, azim_flipped, rhat_y, rhat_x,
    * phat_y, phat_x, corr); `labeled` the outlier clusters with
    * `classifier` from [[shapeClassify]]. Returns per-pixel final flags
    * (frame_no, y, x, label, is_spot, is_arc).
    *
    * Faithful to the reference's structure (classification.py:447-608):
    * second radial derivative decides on_arc per cluster; spots are cut
    * out of arcs near the azimuthal-gradient clusters' median azimuth
    * within 5*Qwidth (the modulo_range wedge, classification.py:40-43).
    *
    * Scheduler-latency posture: every per-CLUSTER table here (the global
    * threshold, the on_arc verdicts, the wedge-cut stats) is
    * collect-routed — materialized once to the driver and re-fed as a
    * LocalRelation — the same routing percentileSelect applies to its
    * bucket tables. A plain broadcast of these tables re-executed their
    * whole lineage once per consuming join (globalThresh and onArc each
    * had two consumers), and each broadcast exchange is its own job:
    * at 1000 executors those scheduler round-trips are per-batch
    * latency, not CPU. The rows are cluster-scale (≤ a few hundred per
    * frame) — the identical driver-size bound the broadcast hints
    * already relied on. When no arc candidate survives the on_arc test
    * (the common frame), the whole wedge stage — azimuthal-gradient CCL
    * included — is skipped outright.
    *
    * `labeledRows = Some(n)` (both classify paths) asserts `labeled` is
    * built narrowly on a pinned table and has `n` rows — the caller read
    * the count off that pin's own materializing action — so the
    * redundant re-pin AND its count are skipped; the broadcast size gate
    * runs either way. Without it `labeled` is pinned here and the count
    * is that pin's action. Both are by-name and evaluated once, on the
    * driver thread that builds the labeled side (see the overlap below),
    * so a caller may hand in its cluster labeling still unevaluated.
    *
    * `labeled` must carry ONE classifier value per (keys, label) — the
    * shape [[shapeClassify]] produces (its output is per-label and
    * joined back on the label key). The wedge-stage routing reads
    * classifier evidence off the central-band rows, which is equivalent
    * to the any-pixel test exactly under that invariant. */
  def gradientRefine(allPx: DataFrame, labeled: => DataFrame, width: Int,
                     height: Int, keys: Seq[String],
                     p: Params = Params(),
                     d2Precomputed: Option[DataFrame] = None,
                     labeledRows: => Option[Long] = None): DataFrame = {
    val kcols = keys.map(col)
    val spark = allPx.sparkSession

    // collect-route: pin a tiny per-cluster table as a LocalRelation so
    // downstream broadcasts are free of lineage re-execution; the rows
    // come back too for call sites that also inspect them driver-side
    def collectLocal(df: DataFrame)
        : (Array[org.apache.spark.sql.Row], DataFrame) = {
      import scala.jdk.CollectionConverters._
      val rows = df.collect()
      (rows, spark.createDataFrame(rows.toSeq.asJava, df.schema))
    }
    def localized(df: DataFrame): DataFrame = collectLocal(df)._2

    // ---- 2nd directional (radial) derivative over the dense frame -----
    // (or the caller's pre-materialized field — FramePipeline.process
    // computes the radial and azimuthal d2 in ONE fused tile pass)
    val d2 = d2Precomputed
      .map(_.select(kcols ++ Seq(col("y"), col("x"), col("grad2_r")): _*))
      .getOrElse( // pinned: feeds the threshold, on_arc, wedge stages
        Pins.pin(secondDirectionalDeriv(allPx, width, height, keys,
          "rhat_y", "rhat_x").withColumnRenamed("grad2", "grad2_r")))

    // ---- A5: per-cluster central-band percentile vs global threshold --
    // d2 is the full frame; the labeled cluster side broadcasts so the
    // frame never shuffles. labeledRows skips the REDUNDANT re-pin (the
    // classify paths hand in a table built on their own checkpoint) but
    // NOT the size gate: a pathological dense mask (a threshold
    // selecting half the frame) makes the closed-cluster table
    // frame-sized, and a blind broadcast there would OOM the driver
    // where the gated form degrades to a shuffle join.
    lazy val withG = {
      val (labeledPinned, labeledN) = labeledRows match {
        case Some(n) => (labeled, n)
        case None =>
          val (pinned, n) = Pins.pinWith(labeled)(_.count())
          (pinned, n)
      }
      val labHint = if (labeledN <= 1000000L)
        broadcast(labeledPinned) else labeledPinned
      Pins.pin(d2.join(labHint, keys :+ "y" :+ "x"))
    }
    // distributed rank-selection percentile: the gather-and-sort
    // aggregator ran its final sort in ONE task per frame — the measured
    // hot critical-path stage at production frame size (SCALE_r06.md);
    // this form keeps every stage at data-partition parallelism.
    // Collect-routed: ≤ 1 row per frame.
    lazy val globalThresh = localized(
      graft.ops.PercentileAgg.percentileSelect(
        d2.select(kcols :+ col("grad2_r"): _*), keys, "grad2_r",
        p.globalPercentile, outCol = "g_thresh"))
    // the threshold reads only d2; the labeled side (with `classify`'s
    // closing, CCL and pin, which `labeled` and `labeledRows` evaluate
    // lazily) is independent of it: materialize both together from
    // driver threads, so neither chain of actions waits on the other
    graft.core.Overlap.par(() => withG, () => globalThresh)
    val central = withG.where(
      abs(col("q") - col("median_q")) < p.centralBandQ)
    // _arc2 rides along purely to route the wedge stage below: it marks
    // whether ANY classifier==2 pixel contributed to the cluster's
    // central band — no arc candidates ⇒ no cuts, skip the stage
    val onArcFull = central.groupBy(kcols :+ col("label"): _*)
      .agg(percentile(col("grad2_r"), lit(p.gradPercentile)).as("c_pct"),
        max(when(col("classifier") === 2, 1).otherwise(0)).as("_arc2"))
      .join(broadcast(globalThresh), keys)
      .withColumn("on_arc", col("c_pct") < col("g_thresh"))
      .select(kcols ++ Seq(col("label"), col("on_arc"), col("_arc2")): _*)
    // one round-trip serves route + join
    val (onArcRows, onArcLocal) = collectLocal(onArcFull)
    val anyArcCandidate = {
      val s = onArcFull.schema
      val ai = s.fieldIndex("on_arc"); val ci = s.fieldIndex("_arc2")
      onArcRows.exists(r => !r.isNullAt(ai) && r.getBoolean(ai) &&
        r.getInt(ci) == 1)
    }
    val onArc = onArcLocal.drop("_arc2")

    // ---- wedge cuts: azimuthal-gradient clusters inside arcs ----------
    // Strong 2nd-azim-gradient pixels within arc clusters mark spots
    // sitting on arcs; cut a wedge of width 5*Qwidth around each such
    // cluster's median azimuth. The whole stage (one CCL pass included)
    // runs ONLY when some cluster passed classifier==2 AND on_arc.
    val cutLocal: Option[DataFrame] = if (!anyArcCandidate) None else {
      val arcPx = withG.join(broadcast(onArc), keys :+ "label")
        .where(col("classifier") === 2 && col("on_arc"))
      val gradMaskPx = arcPx
        .join(broadcast(globalThresh), keys)
        .where(col("grad2_r") < col("g_thresh"))
        .select(kcols ++ Seq(col("y"), col("x")): _*)
      val gradClusters = CCL.labelAuto(gradMaskPx, width, height, keys)
        .withColumnRenamed("label", "cut_label")
      val cutStats = gradClusters.join(
          arcPx.select(kcols ++ Seq(col("y"), col("x"), col("azim"),
            col("dq")): _*), keys :+ "y" :+ "x")
        .groupBy(kcols :+ col("cut_label"): _*)
        .agg(percentile(col("azim"), lit(0.5)).as("cut_azim"),
          // off-mask cuts default to the reference's 0.1 Qwidth
          // (classification.py:243-275, :573)
          coalesce(first(col("dq"), ignoreNulls = true), lit(0.1))
            .as("cut_qw"))
      val (rows, local) = collectLocal(cutStats)
      if (rows.isEmpty) None else Some(local)
    }

    cutLocal match {
      case None =>
      // no cuts anywhere in the batch: in_cut ≡ 0, so the flags are a
      // pure projection of withG ⋈ onArc — no wedge join, no groupBy
      withG.join(broadcast(onArc), keys :+ "label", "left")
        .select(kcols ++ Seq(col("y"), col("x"), col("label"),
          (col("classifier") === 1).as("is_spot"),
          (col("classifier") === 2 &&
            coalesce(col("on_arc"), lit(false))).as("is_arc")): _*)
      case Some(cutStats) =>
      // wedge membership for every arc pixel vs every cut of its frame:
      // cuts per frame are few -> broadcast; wrap-aware modulo distance.
      val cuts = cutStats.select(keys.map(k => col(k).as(s"_c_$k")) ++
        Seq(col("cut_azim"), col("cut_qw")): _*)
      val keyCond = keys.map(k => col(k) === col(s"_c_$k"))
        .foldLeft(lit(true))(_ && _)
      val wedgeW = greatest(
        col("cut_qw") * p.wedgeQWidthMul * 30.0, lit(1.0)) // deg half-width
      val inCut = withG.join(broadcast(cuts), keyCond, "left")
        .withColumn("azdist",
          pmod(col("azim") - col("cut_azim"), lit(360.0)))
        .withColumn("hit", col("cut_azim").isNotNull &&
          (col("azdist") < wedgeW || col("azdist") > lit(360.0) - wedgeW))
        .groupBy(kcols ++ Seq(col("y"), col("x"), col("label"),
          col("classifier")): _*)
        .agg(max(when(col("hit"), 1).otherwise(0)).as("in_cut"))

      // ---- final flags (reference classification.py:587-597) ----------
      inCut.join(broadcast(onArc), keys :+ "label", "left")
        .select(kcols ++ Seq(col("y"), col("x"), col("label"),
          (col("classifier") === 1 ||
            (col("classifier") === 2 && col("in_cut") === 1))
            .as("is_spot"),
          (col("classifier") === 2 && coalesce(col("on_arc"), lit(false)) &&
            col("in_cut") === 0).as("is_arc")): _*)
    }
  }

  /** Sequential reference implementation of the shape classifier — a
    * direct transcription of the per-cluster rules (reference keeps its
    * legacy loop path alongside the groupby path as the readable spec,
    * classification.py:720-826 vs :373-444; SURVEY §2.10 C4). Used as the
    * oracle in equivalence tests against [[shapeClassify]]; never run on
    * real data. */
  def shapeClassifyReference(
      clusters: Map[Long, Seq[(Double, Double, Double)]], // label -> (q, azim, azimFlipped)
      p: Params = Params()): Map[Long, Int] = {
    def pct(vs: Seq[Double], f: Double): Double = {
      val s = vs.sorted
      val pos = (s.length - 1) * f
      val lo = pos.toInt
      if (lo + 1 >= s.length) s(lo)
      else s(lo) + (s(lo + 1) - s(lo)) * (pos - lo)
    }
    clusters.map { case (label, px) =>
      val area = px.length
      val qs = px.map(_._1)
      val dq = pct(qs, 0.9) - pct(qs, 0.1)
      val spanRaw = px.map(_._2).max - px.map(_._2).min
      val spanFlip = px.map(_._3).max - px.map(_._3).min
      val dazim = math.min(spanRaw, spanFlip)
      val cls =
        if (area >= p.minArcArea && dq < p.qWidthMax &&
            dazim > p.azimSpanMin && dazim / dq > p.shapeRatioMin) 2
        else if (area >= p.minSpotArea) 1
        else 0
      label -> cls
    }
  }

  /** Second directional derivative of `corr` along the (hatY, hatX) unit
    * vector field: two FUSED stencil passes (derivative + hat projection
    * inside the tile kernel, hats carried through —
    * [[Stencil.directionalDeriv]]), matching the reference
    * radial_and_azim_gradient applied twice (classification.py:474-496).
    * Returns (keys..., y, x, grad2). Join-free: the previous
    * convolve-then-join form sort-merged the full pixel table four
    * times. */
  def secondDirectionalDeriv(allPx: DataFrame, width: Int, height: Int,
                             keys: Seq[String], hatY: String,
                             hatX: String): DataFrame = {
    require(keys == Seq("frame_no"),
      "directional derivatives support the frame_no key")
    val in = allPx.select(col("frame_no"), col("y"), col("x"),
      col("corr").as("v"), col(hatY).as("hy"), col(hatX).as("hx"))
    val d1 = Stencil.directionalDeriv(in, width, height)
    Stencil.directionalDeriv(d1, width, height)
      .select(col("frame_no"), col("y"), col("x"), col("v").as("grad2"))
  }

  /** C1 — full composition: outlier pixel set → closing → CCL → shape
    * classifier → gradient refinement. `framePx` must carry (keys..., y,
    * x, q, azim, azim_flipped, rhat_y, rhat_x, corr) for all pixels and an
    * `is_outlier` flag. */
  def classify(framePx: DataFrame, width: Int, height: Int,
               keys: Seq[String], p: Params = Params(),
               d2Precomputed: Option[DataFrame] = None,
               cal: Option[graft.core.Calibration] = None): DataFrame = {
    val outlierPx = framePx.where(col("is_outlier"))
      .select(keys.map(col) ++ Seq(col("y"), col("x")): _*)
    // fused closing + CCL: one shuffle serves both (CCL.closeAndLabel);
    // density-gated so a pathological mask (e.g. threshold selecting half
    // the frame) still escalates to relational closing + tile-local CCL
    lazy val closed = CCL.closeAndLabel(outlierPx, 1, width, height, keys)
    // closing can add pixels outside the original outlier set; the
    // cluster stats need q/azim/azim_flipped for every CLOSED pixel.
    // With a calibration in hand those are a closed-form function of
    // (y, x) (Geometry.attach — bit-identical to both the geometry
    // table and the fused kernel's scalar mirror, and closing clips to
    // frame bounds so membership matches the join), computed directly
    // on the TINY cluster table; the join form re-scanned the 33M-row
    // frame to decorate ~1e3 rows (measured ~4 s/batch warm) and is
    // kept for callers without a calibration. Either way the decorated
    // table is pinned (reused by shape stats + refinement) and its row
    // count — the refinement's broadcast gate — is the pin's action.
    lazy val (labeled, labeledN) = Pins.pinWith(cal match {
      case Some(c) =>
        graft.geometry.Geometry.attach(closed, c)
          .select(keys.map(col) ++ Seq(col("y"), col("x"), col("q"),
            col("azim"), col("azim_flipped"), col("label")): _*)
      case None =>
        // count-gated broadcast: the full frame table never shuffles
        val (labeled0, n0) = Pins.pinWith(closed)(_.count())
        val lab0 = if (n0 <= 1000000L) broadcast(labeled0) else labeled0
        framePx.select(keys.map(col) ++
            Seq(col("y"), col("x"), col("q"), col("azim"),
              col("azim_flipped")): _*)
          .join(lab0, keys :+ "y" :+ "x")
    })(_.count())
    // one shape row per (keys, label) of `labeled`: the inner join keeps
    // every labeled row, so labeledFull has exactly labeledN rows
    lazy val labeledFull = labeled.join(
      broadcast(shapeClassify(labeled, keys, p)), keys :+ "label")
    // BOTH branches pin `labeled` above, so labeledFull recomputes as a
    // narrow broadcast-join over a checkpointed table in either path —
    // gradientRefine skips its redundant re-checkpoint and count (one
    // scheduler round-trip per batch, and a second run of the shape
    // join); the broadcast size gate still runs — see gradientRefine's
    // doc. Everything from the closing on is lazy: gradientRefine runs
    // it alongside its global-threshold percentile.
    gradientRefine(framePx, labeledFull, width, height, keys, p,
      d2Precomputed, labeledRows = Some(labeledN))
  }
}
