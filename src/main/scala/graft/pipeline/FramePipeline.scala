package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Calibration, Pins, SyntheticFrame}
import graft.geometry.Geometry
import graft.ops.{Corrections, Histogram, RobustStats}

/** The per-frame analytics plan (SURVEY §3.2) as one DataFrame lineage:
  *
  *   pixels ⋈ geometry → corrections → base mask → per-ring robust outlier
  *   mask → closing → CCL → shape + gradient classification → four masked
  *   azimuthal integrations (one shuffle) → per-spot / per-Q-bin stats.
  *
  * Reference: run_iteration pipeline.py:78-567. Catalyst fuses the
  * elementwise stages into generated code; shuffles appear only at the
  * grouped aggregations, CCL, and the stencil tile exchange. The geometry
  * side is produced once per calibration (Geometry.buildCached) and joined
  * per frame; many frames flow through the SAME plan concurrently, keyed by
  * frame_no — the parallelism the reference's serialized queue leaves on
  * the table (pipeline_queue.py:745-746).
  */
object FramePipeline {

  /** All sink tables of one processing pass. `gradStats` (A8) and
    * `spottiness` (A9) are projections of `qbinStats` — a consumer that
    * needs both (the streaming driver) should materialize `qbinStats`
    * ONCE and project via [[gradStatsOf]]/[[spottinessOf]] instead of
    * executing each branch separately. */
  final case class FrameOutputs(
      pixels: DataFrame,     // per-pixel flags (debug/mask sinks)
      integrals: DataFrame,  // (frame_no, tth_bin, tth, i_/n_ x 4 variants)
      spotStats: DataFrame,  // A7 per-spot stats
      qbinStats: DataFrame,  // A8+A9 shared one-pass per-(frame, q_bin) aggs
      gradStats: DataFrame,  // A8 per-Q-bin gradient stats
      spottiness: DataFrame) // A9 per-Q-bin masked fraction + spot count

  /** A8 view of the shared per-Q-bin aggregate (see [[FrameOutputs]]). */
  def gradStatsOf(qbinStats: DataFrame): DataFrame =
    qbinStats.select(col("frame_no").cast("long").as("frame_no"),
      col("q_bin").as("Qbin"), col("mean"), col("std"),
      col("med").as("median"),
      (col("mad") * RobustStats.MadToSigma).as("mad"))

  /** A9 view of the shared per-Q-bin aggregate (see [[FrameOutputs]]). */
  def spottinessOf(qbinStats: DataFrame): DataFrame =
    qbinStats.select(col("frame_no"), col("q_bin"), col("pct_masked"),
      col("n_spots"))

  /** The shared A8+A9 per-(frame, q_bin) aggregate over a pixel table
    * carrying (frame_no, q_bin, grad2_a, is_outlier, is_spot, is_arc,
    * label). The chained form ran FOUR heavy jobs over the table per
    * batch (gradient moments; two-stage MAD = two more scans plus a
    * join-back; spottiness with a distinct-agg expand). This runs TWO,
    * each in its best execution mode, plus one negligible filtered pass:
    *
    *  - moments + spottiness fraction in one whole-stage-codegen
    *    HashAggregate (no distinct, no imperative agg — mixing either in
    *    would downgrade every aggregate to the interpreted object path:
    *    a one-pass-everything variant measured SLOWER than chained,
    *    SCALE_r06);
    *  - exact median/MAD via the one-pass buffering aggregator on the
    *    narrow (frame, q_bin, grad2) projection — ObjectHashAggregate,
    *    one scan where the two-stage form took two plus a join;
    *  - distinct spot count over the (tiny) spot-pixel subset.
    *
    * The three outputs are per-bin-sized; they broadcast-join. */
  private[graft] def qbinAggregate(px: DataFrame): DataFrame = {
    val main = px.groupBy(col("frame_no"), col("q_bin"))
      .agg(
        (count(when(col("is_outlier") || col("is_spot") || col("is_arc"),
          1)).cast("double") / count(lit(1))).as("pct_masked"),
        avg(col("grad2_a")).as("mean"),
        stddev(col("grad2_a")).as("std"))
    // Median/MAD form DECIDED BY MEASUREMENT (QbinBench r7, dd-probed
    // windows, 4×2880² = 33 M rows / 2k groups, 7 interleaved pairs over
    // two runs): the value-buffering ObjectHashAggregate beat the
    // Tungsten-sort streaming kernel in EVERY pair — geomean 0.29–0.46×
    // (agg 5.8–17.5 s vs sorted 16.9–46.8 s). The kryo-shuffle cost the
    // sort form was built to avoid is smaller than the full-table
    // repartition+sort it pays instead, so the sorted kernel
    // (SortedMedianMad, 159 LoC) was DELETED rather than left as a
    // third unwired median implementation — see SCALE_r07.md; resurrect
    // from git history only with a measurement that says otherwise.
    val mmIn = px.select(col("frame_no"), col("q_bin"),
      col("grad2_a").as("g"))
    val mm = RobustStats.medianMadOnePass(mmIn, Seq("frame_no", "q_bin"), "g")
      .select(col("frame_no"), col("q_bin"), col("med"), col("mad"))
    val spotCounts = px.where(col("is_spot"))
      .groupBy(col("frame_no"), col("q_bin"))
      .agg(countDistinct(col("label")).as("_ns"))
    main.join(broadcast(mm), Seq("frame_no", "q_bin"))
      .join(broadcast(spotCounts), Seq("frame_no", "q_bin"), "left")
      .withColumn("n_spots", coalesce(col("_ns"), lit(0L))).drop("_ns")
  }

  /** Corrected intensity: flat-field (unity here), polarization divide,
    * solid-angle dist^1.5 multiply (reference pipeline.py:63-71,
    * corrections_and_maps.py:25-37). */
  def corrected(intensity: Column): Column =
    intensity / col("pol") * pow(col("dist_sq"), 1.5)

  /** Base mask: predefined shapes ∨ non-positive ∨ out-of-azimuth ∨
    * out-of-tth-range (reference pipeline.py:148-165; predef =
    * user-authored mask DSL, GSASII_imports.py:146-154). True = excluded.
    */
  def baseMask(intensity: Column,
               predef: Seq[graft.core.MaskShape] = Nil): Column =
    graft.core.MaskShape.combined(predef) ||
      intensity <= 0 || !col("in_azim_range") || !col("in_tth_range")

  /** Join pixels with geometry and flag base-mask + ring outliers (A1).
    * The correction bundle (P4/S10) applies to the RAW intensity before
    * anything else, exactly like the reference corrects the image on
    * load (pipeline.py:135-146) — so the non-positive mask, ring
    * statistics and outlier flags all see the corrected counts.
    * `corr_i` carries the flat-corrected raw value (the reference's
    * `_flatfield_correct.tif` content); `corr` adds the geometric
    * polarization/solid-angle factors on top. */
  def flagOutliers(pixels: DataFrame, geometry: DataFrame,
                   esdMul: Double = 3.0,
                   predef: Seq[graft.core.MaskShape] = Nil,
                   corrections: Corrections.Frames = Corrections.Frames(),
                   maxBroadcastStatsRows: Long = 1000000L): DataFrame =
    flagOutliersOn(
      Corrections.applyFrames(pixels, corrections).join(geometry,
        Seq("y", "x")),
      esdMul, predef, maxBroadcastStatsRows)

  /** Inline-geometry variant: the geometry columns are computed inside
    * the pixel scan's codegen ([[Geometry.attach]] — bit-identical
    * expressions) instead of joined from the persisted table, removing
    * the two-sided (y, x) shuffle entirely. This is the default path in
    * [[process]]; the join form above remains for explicit-join
    * consumers (J1) and is asserted result-identical in PipelineSpec. */
  def flagOutliersInline(pixels: DataFrame, cal: Calibration,
                         esdMul: Double = 3.0,
                         predef: Seq[graft.core.MaskShape] = Nil,
                         corrections: Corrections.Frames =
                           Corrections.Frames(),
                         maxBroadcastStatsRows: Long = 1000000L): DataFrame =
    flagOutliersOn(
      Geometry.attach(Corrections.applyFrames(pixels, corrections), cal),
      esdMul, predef, maxBroadcastStatsRows)

  private def flagOutliersOn(pixGeo: DataFrame, esdMul: Double,
                             predef: Seq[graft.core.MaskShape],
                             maxBroadcastStatsRows: Long): DataFrame = {
    val px = pixGeo
      .withColumn("corr", corrected(col("corr_i")))
      .withColumn("base_mask", baseMask(col("corr_i"), predef))
    val live = px.where(!col("base_mask"))
    // one-pass custom aggregator: ring stats in a single shuffle
    // (ring populations are bounded, SURVEY §2.12 item 3). Pinned so the
    // join below does not recompute the aggregate; the row count that
    // gates the join strategy is the pin's own materializing action.
    val (ringStats, ringRows) = Pins.pinWith(
      RobustStats.medianMadOnePass(
        live.select(col("frame_no"), col("tth_bin"),
          col("corr_i").as("ival")),
        Seq("frame_no", "tth_bin"), "ival"))(_.count())
    // Broadcast growth guard: ring-stat rows scale as frames x rings, so
    // a 10k-frame backfill batch would broadcast tens of millions of
    // rows and OOM the driver. Below the threshold the broadcast keeps
    // the fact side shuffle-free (the hot path for live batches); above
    // it the join falls back to a hash-partitioned shuffle.
    val stats = if (ringRows <= maxBroadcastStatsRows)
      broadcast(ringStats) else ringStats
    px.join(stats, Seq("frame_no", "tth_bin"), "left")
      .withColumn("is_outlier", coalesce(
        !col("base_mask") && col("n") >= 10 &&
        abs(col("corr_i") - col("med")) >
          lit(esdMul * RobustStats.MadToSigma) * col("mad"), lit(false)))
      .drop("med", "mad", "n")
  }

  /** Full plan over a (frame_no, y, x, intensity) pixel table.
    * `inlineGeometry = true` (default) computes the geometry columns
    * inside the pixel scan instead of joining `geometry` — same values,
    * no (y, x) shuffle; pass false to exercise the explicit join path. */
  def process(pixels: DataFrame, geometry: DataFrame, cal: Calibration,
              esdMul: Double = 3.0,
              params: Classification.Params = Classification.Params(),
              predef: Seq[graft.core.MaskShape] = Nil,
              referenceBinShift: Boolean = false,
              corrections: Corrections.Frames = Corrections.Frames(),
              inlineGeometry: Boolean = true)
      : FrameOutputs = {
    val (h, w) = cal.imageSize
    val keys = Seq("frame_no")
    val flagged0 =
      if (inlineGeometry)
        flagOutliersInline(pixels, cal, esdMul, predef, corrections)
      else flagOutliers(pixels, geometry, esdMul, predef, corrections)
    // M6 (reference classification.py:466-468): replace PREDEF-masked
    // pixels' corrected value with the Gaussian interpolation of their
    // valid neighbourhood BEFORE the gradient stages. The reference
    // interpolates exactly the user-drawn mask (and skips when none is
    // given); base-mask range/non-positive pixels keep their values.
    // Integrals exclude masked pixels either way, so .chi output is
    // untouched; only the gradient fields near mask edges change.
    val flaggedI = if (params.interpolate && predef.nonEmpty) {
      val pmask = graft.core.MaskShape.combined(predef)
      val vIn = flagged0.select(col("frame_no"), col("y"), col("x"),
        when(pmask, lit(Double.NaN)).otherwise(col("corr")).as("v"))
      val interp = graft.stencil.Stencil.interpolateMasked(vIn, w, h,
        sigma = params.interpolateSigma)
      flagged0.drop("corr")
        .join(interp.withColumnRenamed("v", "corr"),
          Seq("frame_no", "y", "x"))
    } else flagged0
    // Materialize once: every downstream stage (classification, four
    // integrals, grad stats, spottiness) re-reads this table; without a
    // persist the scan+join+ring-stats lineage would re-execute per
    // branch. On the inline path the checkpoint holds ONLY the seven
    // columns that cannot be recomputed from (y, x); the fused stencil
    // pass below re-derives the geometry columns in-kernel and emits the
    // narrow projection AND both gradients from its single exchange, so
    // the batch carries exactly TWO full-frame materializations (core +
    // fused) where the chained form carried three (core, gradients,
    // narrow — the third was a 33M-row job of its own, SCALE_r05's named
    // lever). The join path keeps the materialized geometry columns —
    // recomputing them there would mean re-running the join.
    //
    // Plan-shape rule (measured 25x, SCALE_r03, PlanInvariantsSpec): the
    // deep geometry trig must never share a codegen stage with the
    // downstream joins. On the fused path the trig runs as plain JVM code
    // inside the tile kernel and downstream stages read the fused
    // CHECKPOINT, so the rule holds with one materialization fewer.
    val (narrow, gradBoth) = if (inlineGeometry) {
      val core = Pins.pin(flaggedI.select(col("frame_no"), col("y"),
        col("x"), col("corr_i"), col("corr"), col("base_mask"),
        col("is_outlier")))
      val fused = Pins.pin(
        graft.stencil.Stencil.secondDirectionalDerivNarrowRaw(
          core, w, h, Geometry.scalarPixelGeoInto(cal),
          Geometry.scalarPixelHatsInto(cal), tile = 512))
      // the kernel's packed key widens frame_no to long; restore the
      // input's type so downstream output schemas are unchanged
      val fno = pixels.schema("frame_no").dataType
      // narrow keeps grad2_a: the shared A8+A9 aggregate below reads it
      // off the same checkpoint — zero extra materialization
      (fused.drop("grad2_r")
         .withColumn("frame_no", col("frame_no").cast(fno)),
       fused.select(col("frame_no"), col("y"), col("x"),
         col("grad2_r"), col("grad2_a"), col("q_bin")))
    } else {
      val flagged = Pins.pin(flaggedI.drop("pol", "dist_sq",
        "in_tth_range", "in_azim_range", "azim_band"))
      // Both second directional derivatives (radial for classification,
      // azimuthal for the A8 gradient stats) in ONE fused tile pass with
      // q_bin carried through. Only (key, y, x, corr) crosses the
      // exchange; hats and q_bin are recomputed in-kernel from the
      // scalar geometry mirror.
      val gb = Pins.pin(graft.stencil.Stencil.secondDirectionalDerivGeoRaw(
          flagged.select(col("frame_no"), col("y"), col("x"),
            col("corr").as("v")),
          w, h, Geometry.scalarPixelGeo(cal), tile = 512))
      val nr = Pins.pin(flagged.select(col("frame_no"), col("y"), col("x"),
          col("x_mm"), col("y_mm"), col("corr_i"), col("corr"),
          col("base_mask"), col("is_outlier"), col("tth_bin"),
          col("q_bin"), col("q"), col("azim"), col("azim_flipped")))
      // the shared A8+A9 aggregate reads grad2_a alongside the narrow
      // columns; on this (non-default, spec-pinned) path that takes an
      // explicit 1:1 join of the two checkpoints — the fused path gets
      // the column for free
      val fno = pixels.schema("frame_no").dataType
      (nr.join(gb.select(col("frame_no").cast(fno).as("frame_no"),
          col("y"), col("x"), col("grad2_a")), Seq("frame_no", "y", "x")),
       gb)
    }

    // C1-C3: spot/arc classification of outlier clusters. Pinned: the
    // classification tail (gradient refinement joins) otherwise
    // re-executes for EVERY output branch that reads the flag columns
    // (integrals, spot stats, spottiness, pixel sink) — measured 3x the
    // work at production frame sizes. The table is outlier-pixels-only,
    // so the checkpoint is tiny relative to the frame. classify reads
    // the narrow checkpoint (it needs q/azim/azim_flipped, all there);
    // passing cal lets it derive cluster geometry closed-form instead of
    // re-scanning that checkpoint for the label join.
    val (flags, flagRows) = Pins.pinWith(
      Classification.classify(narrow, w, h, keys, params,
        d2Precomputed = Some(gradBoth), cal = Some(cal)))(_.count())
    // flag rows are outlier-cluster pixels — orders of magnitude smaller
    // than the frame. Without the hint Catalyst plans a sort-merge that
    // shuffles the 33M-row fact side; count-gate it like flagOutliers so
    // a pathological dense mask still degrades gracefully (the count is
    // the pin's materializing action).
    val flagsSmall = flagRows <= 1000000L
    val flagsSel = flags.select(col("frame_no"), col("y"), col("x"),
      col("label"), col("is_spot"), col("is_arc"))
    val px = narrow.join(
        if (flagsSmall) broadcast(flagsSel) else flagsSel,
        Seq("frame_no", "y", "x"), "left")
      .withColumn("is_spot", coalesce(col("is_spot"), lit(false)))
      .withColumn("is_arc", coalesce(col("is_arc"), lit(false)))

    // A2: the four masked integrations of the reference
    // (pipeline.py:377-414) in ONE aggregation pass.
    //
    // Binning note (reference quirk, pipeline.py:69-72 +
    // cache_creation.py:42-52): the reference diverts masked pixels to
    // bin 0 and drops it with [1:], which ALSO discards the first real
    // channel and leaves its output labels one bin below their content
    // (verified against the committed golden .chi). This engine uses
    // self-consistent bins (bin k content = [lo+k*step, lo+(k+1)*step),
    // label = its own midpoint); pass referenceBinShift=true in
    // processWithOptions for label-compatible output.
    val variants = Seq(
      "base" -> !col("base_mask"),
      "om" -> (!col("base_mask") && !col("is_outlier")),
      "spotsmasked" -> (!col("base_mask") && !col("is_spot")),
      "arcsmasked" -> (!col("base_mask") && !col("is_arc")))
    val binCol = if (referenceBinShift) col("tth_bin") - 1 else col("tth_bin")
    val integrals = Histogram.integrate(
        px.where(binCol >= 0), binCol, col("corr"),
        variants, keys = Seq(col("frame_no")))
      .withColumnRenamed("bin", "tth_bin")
      .withColumn("tth",
        lit(cal.ioTth._1) + (col("tth_bin") + 0.5) * cal.tthStep)

    // A7: per-spot stats (reference spottiness_df_stats spottiness.py:30-46)
    val spotStats = px.where(col("is_spot"))
      .groupBy(col("frame_no"), col("label").as("spot_stat_label"))
      .agg(
        count(lit(1)).as("area"),
        percentile(col("q"), lit(0.5)).as("medianQ"),
        percentile(col("q_bin"), lit(0.5)).cast("int").as("Qbin"),
        sum(col("corr_i")).as("intensity_sum"),
        max(col("corr_i")).as("intensity_max"),
        avg(col("corr_i")).as("intensity_mean"),
        max(when(col("is_arc"), 1).otherwise(0)).as("on_arc"))

    // A8 (reference spottiness_azim_grad spottiness.py:49-61) and A9
    // (spottiness.py:16-27) share ONE aggregation pass over the pixel
    // table — the A2 trick applied to the stats families ([[qbinAggregate]];
    // q_bin rode through the tile shuffle, so no join-back is needed).
    val qbinStats = qbinAggregate(px)

    FrameOutputs(px.drop("grad2_a"), integrals, spotStats, qbinStats,
      gradStatsOf(qbinStats), spottinessOf(qbinStats))
  }

  /** A10 — h-maxima counts per Q bin (reference h_maxima_calc
    * spottiness.py:64-84): regional maxima of depth h = 0.05 * P99.9 of
    * the corrected frame, counted per Q bin, total and within the spot
    * mask. Multi-frame in one pass: each frame's pixels are normalized by
    * its own h (h-maxima commute with positive scaling), so a single
    * depth-1.0 reconstruction serves every frame. */
  def hMaximaStats(processedPx: DataFrame, cal: Calibration,
                   tile: Int = 256): DataFrame = {
    val (h, w) = cal.imageSize
    // distributed rank selection, not gather-sort: one frame's P99.9
    // otherwise sorts 8.3 M values in a single task (SCALE_r06.md)
    val thresholds = graft.ops.PercentileAgg.percentileSelect(
        processedPx.select(col("frame_no"), col("corr")),
        Seq("frame_no"), "corr", 0.999, outCol = "_p999")
      .select(col("frame_no"), (col("_p999") * 0.05).as("h_depth"))
    val normalized = processedPx
      .join(broadcast(thresholds), "frame_no")
      .select(col("frame_no"), col("y"), col("x"),
        (col("corr") / col("h_depth")).as("v"))
    // truncation observability: tiles where the geodesic-dilation cap cut
    // reconstruction short show up under this named accumulator in the UI
    val trunc = processedPx.sparkSession.sparkContext
      .longAccumulator("graft.hMaxima.truncatedTiles")
    val maxima = graft.stencil.Stencil.hMaxima(normalized, w, h, h = 1.0,
      tile = tile, truncated = Some(trunc))
    maxima.join(processedPx.select(col("frame_no"), col("y"), col("x"),
        col("q_bin"), col("is_spot")), Seq("frame_no", "y", "x"))
      .groupBy(col("frame_no"), col("q_bin"))
      .agg(count(lit(1)).as("n_maxima"),
        count(when(col("is_spot"), 1)).as("n_maxima_on_spots"))
  }

  /** Flagship demo: synthetic frame end-to-end, returning the integral
    * table (driver smoke-checks rows > 0). */
  def demo(spark: SparkSession): DataFrame = {
    val cal = SyntheticFrame.testCalibration(256)
    val geo = Geometry.build(spark, cal)
    val frame = SyntheticFrame.frame(spark, cal, frameNo = 1)
    process(frame, geo, cal).integrals.orderBy(col("tth_bin"))
  }
}
