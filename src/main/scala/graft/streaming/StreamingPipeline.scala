package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.jdk.CollectionConverters._

import graft.core.{Calibration, Overlap}
import graft.pipeline.FramePipeline
import graft.sinks.Sinks
import graft.sources.FrameSource

/** The streaming driver (reference pipeline_queue.py:631-942: watchdog +
  * deque + one worker thread, one frame in flight).
  *
  * Spark-first: a `binaryFile` stream feeds `foreachBatch`; every
  * micro-batch decodes and processes ALL its frames through the one
  * per-frame plan keyed by frame_no — frames parallelize across the
  * cluster, which the reference explicitly leaves on the table
  * (pipeline_queue.py:745-746 "Should set these up with a pool").
  * Checkpointing + transactional parquet sinks replace the reference's
  * mtime-debounce and drop-last-file consistency hacks (SURVEY §2.11).
  * Backfill of pre-existing files (reference S2) is the same query run
  * with Trigger.AvailableNow.
  *
  * A micro-batch is a short dependency graph, not a chain of actions:
  * each Spark action costs a fixed planning and scheduling latency
  * however little it computes, and that latency, not pixel work, bounds
  * a batch. So every driver read rides the action that already
  * materializes its table (`Pins.ckptWith`), and the batch runs as
  *
  *  1. the serial frame plan: decode + index, then
  *     [[FramePipeline.process]] (its size gates read their own pins);
  *  2. the four output pins (pixels, integrals, spot and q-bin stats)
  *     and the eight sink groups (integrals, .chi, masks, stats tables,
  *     stats CSVs, spottiness, csim, the once-per-dataset maps and
  *     q-bin edges) as one graph on driver threads: every sink group
  *     starts at once and waits only for the pins it reads, each pin
  *     materialized once by whichever group needs it first;
  *
  * then the A14 timing rows and the batch-level release of every pin.
  * Overlap changes when jobs run, never what any of them computes.
  */
object StreamingPipeline {

  /** Start the live pipeline over a detector directory. Pause/resume =
    * stop/start with the same checkpoint (reference pause button,
    * pipeline_queue.py:944-1062).
    *
    * `debounceSeconds` is the streaming form of the reference's mtime
    * debounce (S4, pipeline_queue.py:740): the micro-batch is HELD until
    * its youngest file is at least that old, then processed — a file
    * caught mid-write gets its final bytes (binaryFile reads content at
    * task execution, after the wait). A row-level drop like the batch
    * `FrameSource.debounceFilter` would lose young files permanently
    * here (the source marks files processed at listing), so the wait is
    * the only loss-free streaming semantics. With checkpointed
    * transactional sinks plus the decode quarantine it is strictly
    * optional — the reference needs its debounce only because its sinks
    * are not transactional. */
  def start(spark: SparkSession, inDir: String, outDir: String,
            cal: Calibration, geometry: DataFrame,
            availableNow: Boolean = false,
            maxFilesPerTrigger: Int = 32,
            predef: Seq[graft.core.MaskShape] = Nil,
            corrections: graft.ops.Corrections.Frames =
              graft.ops.Corrections.Frames(),
            referenceBinShift: Boolean = false,
            debounceSeconds: Option[Int] = None): StreamingQuery = {
    val frames = FrameSource.stream(spark, inDir,
      maxFilesPerTrigger = maxFilesPerTrigger)
    val writer = frames.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, outDir, cal, geometry, predef, corrections,
          referenceBinShift, debounceSeconds)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow())
     else writer.trigger(Trigger.ProcessingTime("1 second")))
      .start()
  }

  /** Milliseconds a batch whose youngest file has `newestMtimeMs` must
    * still wait to honor an S4 debounce of `seconds` (0 = old enough). */
  private[streaming] def debounceWaitMs(newestMtimeMs: Long, seconds: Int,
                                        nowMs: Long): Long =
    math.max(0L, newestMtimeMs + seconds * 1000L - nowMs)

  /** One micro-batch: decode → per-frame plan → pins → sinks. Datasets
    * are processed separately (frame_no is only unique within a
    * dataset).
    *
    * Batch shape (an action only where a later step needs its
    * result): ONE decode checkpoint for the whole batch, whose own
    * materializing action returns the per-dataset (bad, good) index —
    * emptiness, the dataset list and the quarantine test are read off
    * it; then per dataset the serial frame plan
    * ([[FramePipeline.process]]) and the pins-and-sinks graph on driver
    * threads ([[graft.core.Overlap]]). Every body finishes before the
    * batch releases its pins. */
  def processBatch(batch: DataFrame, outDir: String, cal: Calibration,
                   geometry: DataFrame,
                   predef: Seq[graft.core.MaskShape] = Nil,
                   corrections: graft.ops.Corrections.Frames =
                     graft.ops.Corrections.Frames(),
                   referenceBinShift: Boolean = false,
                   debounceSeconds: Option[Int] = None): Unit = {
    debounceSeconds.foreach { secs =>
      val newest = batch.agg(max(col("modificationTime"))).head()
      if (!newest.isNullAt(0)) {
        val wait = debounceWaitMs(newest.getTimestamp(0).getTime, secs,
          System.currentTimeMillis())
        if (wait > 0) Thread.sleep(wait)
      }
    }
    // Bounded executor storage across an unbounded stream: every
    // localCheckpoint this batch pins (decode, the process() interiors,
    // stats tables, csim state) is dead once its sinks committed. The
    // ContextCleaner would reclaim them eventually, but only after a
    // driver GC notices the weak references — under a large driver heap
    // that lag spans many batches of pinned full-frame blocks and shows
    // up as storage-eviction pressure. Releasing everything the batch
    // pinned (and nothing that predates it — the per-calibration
    // geometry checkpoint survives) keeps the steady-state footprint at
    // exactly one batch.
    val sc = batch.sparkSession.sparkContext
    val preexisting = sc.getPersistentRDDs.keySet
    try {
      // One decode pass per batch: quarantine sentinel rows (y = -1
      // marks an undecodable payload — e.g. a file caught mid-write)
      // split off per dataset below; the checkpoint bounds memory at
      // maxFilesPerTrigger frames. The index aggregation is the action
      // that materializes it.
      val t0 = System.nanoTime()
      val (pxAll, _, index) = graft.core.Pins.ckptWith(
          FrameSource.toPixels(batch))(
        _.groupBy(col("dataset"))
          .agg(max(col("y") < 0).as("bad"), max(col("y") >= 0).as("good"))
          .collect())
      val decodeS = (System.nanoTime() - t0) / 1e9
      index.filterNot(_.isNullAt(0)).sortBy(_.getString(0)).foreach { r =>
        processDataset(pxAll, r.getString(0), bad = r.getBoolean(1),
          good = r.getBoolean(2), decodeS, outDir, cal, geometry, predef,
          corrections, referenceBinShift)
      }
    } finally
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!preexisting.contains(id)) rdd.unpersist(blocking = false)
      }
  }

  /** Canonical parquet tables live under `outDir/tables/<name>`; the
    * reference-shaped text/TIFF tree (.chi files under `integrals`, mask
    * TIFFs under `masks`, csim text under `stats`) sits at `outDir` top
    * level exactly where the reference UI's globs expect it
    * (mainUI contour.py:170-186, csim.py:48-64), with every file named
    * `<dataset>-<number>_<suffix>` from the real acquisition stem. */
  private[streaming] def tablesDir(outDir: String): String = s"$outDir/tables"

  /** Per-frame plan → pins → sinks for one dataset of one micro-batch's
    * decoded pixels `pxAll`; `bad`/`good` say whether the dataset has
    * quarantined / decodable frames in this batch. */
  private def processDataset(pxAll: DataFrame, ds: String, bad: Boolean,
                             good: Boolean, decodeS: Double, outDir: String,
                             cal: Calibration, geometry: DataFrame,
                             predef: Seq[graft.core.MaskShape],
                             corrections: graft.ops.Corrections.Frames,
                             referenceBinShift: Boolean): Unit = {
      val spark = pxAll.sparkSession
      // A14: per-stage wall times for this batch, appended to the timing
      // table at the end (reference pipeline_queue.py:1010-1014). The
      // batch's one decode counts for each of its datasets.
      val times = new graft.ops.Timing.Buffer()
      times.add("decode" -> decodeS)
      def timed[T](stage: String)(f: => T): T =
        graft.ops.Timing.timed(stage, times)(f)
      val dsPx = pxAll.where(col("dataset") === ds).drop("dataset")
      if (bad)
        Sinks.writeTable(dsPx.where(col("y") === -1)
          .select(col("frame_no"), lit(ds).as("dataset")),
          tablesDir(outDir), "quarantine", Seq("dataset"))
      // A batch can contribute no decodable pixels at all — e.g. its only
      // file is caught mid-write (quarantined above). Skip the dataset for
      // this batch instead of running the pipeline on an empty frame set;
      // the reference simply never processes a frame it cannot read.
      if (!good) return
      val px = dsPx.where(col("y") >= 0)
      // referenceBinShift: opt-in label-compatible .chi binning for users
      // pointing the reference UI at this output (FramePipeline binning
      // note at the integrate stage)
      // EAGER inside (core/fused/flags checkpoints + the size gates): the
      // serial part of the batch, so time it (A14 parity: the
      // reference's corrections/outlier/closing/classification stage
      // block, pipeline_queue.py:1010-1014)
      val out = timed("frame_plan")(
        FramePipeline.process(px, geometry, cal, predef = predef,
          corrections = corrections, referenceBinShift = referenceBinShift))
      val tag = lit(ds).as("dataset")

      // ---- pins and sinks: one dependency graph ----------------------
      // The four output tables are pinned once each (lazily, by whichever
      // sink first needs them), and every sink group starts at once: a
      // sink waits only for the pins it reads, never for unrelated pins
      // or sinks. pixels feed two sinks (mask TIFFs + csim) and integrals
      // feed two (.chi + parquet): pin each once so the full per-frame
      // plan does not re-execute per sink. Only the columns the two pixel
      // sinks read — the full-width pixel table is ~3x this checkpoint's
      // footprint.
      lazy val pixels = timed("process")(out.pixels
        .select(col("frame_no"), col("y"), col("x"), col("corr"),
          col("base_mask"), col("is_outlier"), col("is_spot"),
          col("is_arc"))
        .localCheckpoint(true))
      // the frames with integral rows (every frame gets its stats CSVs)
      // come back from the pin's own materializing action
      lazy val (integrals, _, frameNos) = graft.core.Pins.ckptWith(
          out.integrals)(
        _.select(col("frame_no")).distinct().collect().map(_.getInt(0)).toSeq)
      // stats tables feed parquet + the reference's per-frame CSVs
      // (pipeline.py:491-492) — pin each so the plan runs once; the pins
      // are where the stats plans actually execute (A14 stage parity:
      // "Save stats" in the reference's printout). A8 and A9 are
      // projections of the SHARED per-(frame, q_bin) aggregate
      // (FrameOutputs.qbinStats): materializing that one table runs the
      // pixel scan once where pinning gradStats and spottiness separately
      // re-ran it per family.
      lazy val spotStats = out.spotStats.localCheckpoint(true)
      lazy val qbinStats = out.qbinStats.localCheckpoint(true)
      lazy val stats = timed("stats")(
        Overlap.par(() => spotStats, () => qbinStats))
      def gradStats = FramePipeline.gradStatsOf(qbinStats)
      val (imgH, imgW) = cal.imageSize
      Overlap.par(
        // S14: the q-bin-edges dimension table, once per dataset
        // (reference writes <dataset>_qbinedges once, pipeline.py:493-497);
        // per-calibration geometry map TIFFs under outDir/maps (reference
        // cache_creation.py:66-84 writes them once; the UI globs
        // maps/*_2thetamap.tif), keyed on the dataset stem
        () => {
          val hc = graft.core.Fs.conf(spark)
          if (!graft.core.Fs.exists(
              s"${tablesDir(outDir)}/q_bin_edges/dataset=$ds", hc))
            Sinks.writeQBinEdges(spark, cal, tablesDir(outDir), ds)
          if (!graft.core.Fs.exists(s"$outDir/maps/${ds}_2thetamap.tif", hc))
            timed("sink_maps_cache")(Sinks.writeMapTiffs(geometry, imgW,
              imgH, s"$outDir/maps", ds))
        },
        () => {
          integrals
          timed("sink_integrals")(
            Sinks.writeTable(integrals.withColumn("dataset", tag),
              tablesDir(outDir), "integrals", Seq("dataset")))
        },
        // S12: per-frame .chi files for the reference UI, executor-side —
        // all four variants like the reference (pipeline.py:421-449), in
        // one pass over the integrals
        () => {
          integrals
          timed("sink_chi")(
            Sinks.writeChiAll(integrals, s"$outDir/integrals",
              Seq("base", "om", "spotsmasked", "arcsmasked"),
              dense = Some((cal.outChannels, cal.ioTth._1, cal.tthStep)),
              dataset = ds))
        },
        // S11: per-frame mask TIFFs (reference pipeline.py:152-332)
        () => {
          pixels
          timed("sink_masks")(
            Sinks.writeMaskTiffs(pixels, imgW, imgH, s"$outDir/masks", Seq(
              "base" -> col("base_mask"),
              "outliermask" -> (col("base_mask") || col("is_outlier")),
              "spots" -> col("is_spot"),
              "arcs" -> col("is_arc")), dataset = ds))
        },
        () => {
          stats
          timed("sink_stats_tables") {
            Sinks.writeTable(spotStats.withColumn("dataset", tag),
              tablesDir(outDir), "spot_stats", Seq("dataset"))
            Sinks.writeTable(gradStats.withColumn("dataset", tag),
              tablesDir(outDir), "grad_stats", Seq("dataset"))
          }
        },
        // row order = the reference's pandas groupby key, so the 0-based
        // index column matches the reference CSVs
        () => {
          stats; frameNos
          timed("sink_stats_csv") {
            Sinks.writeFrameCsv(spotStats, s"$outDir/stats",
              "_spots_stats_df", ds, frameNos,
              orderCols = Seq("spot_stat_label"))
            Sinks.writeFrameCsv(gradStats, s"$outDir/stats",
              "_spots_stats_grad", ds, frameNos, orderCols = Seq("Qbin"))
          }
        },
        () => {
          stats
          timed("spottiness")(
            Sinks.writeTable(FramePipeline.spottinessOf(qbinStats)
              .withColumn("dataset", tag),
              tablesDir(outDir), "spottiness", Seq("dataset")))
        },
        // A11: similarity series vs the dataset's FIRST frame and the
        // immediately PREVIOUS frame, ACROSS micro-batches (reference
        // pipeline.py:506-557) — see writeCsimStateful
        () => {
          pixels
          timed("csim")(writeCsimStateful(pixels.where(!col("base_mask"))
            .select(lit(ds).as("dataset"), col("frame_no"), col("y"),
              col("x"), col("corr").as("v")), outDir, ds))
        })
      graft.ops.Timing.write(spark, tablesDir(outDir), ds,
        times.asScala.toSeq)
  }

  /** Compute and append this batch's csim rows using (and advancing) the
    * persisted first/prev frame state at `outDir/_state/csim/<ds>`.
    *
    * Cross-batch state = a tiny parquet table per dataset holding the
    * vectors of exactly two frames: the dataset's first and the last
    * frame seen so far. One [[graft.ops.Csim]] pass over state ∪ batch
    * (its single exchange plus a driver-side finish) yields every csim
    * row, the batch's own frame list and the union's first frame; the
    * rows for the batch's frames are written, and the state rolls
    * forward. Nothing else reads back to the driver. */
  private[streaming] def writeCsimStateful(vecs: DataFrame, outDir: String,
                                           ds: String): Unit = {
    val spark = vecs.sparkSession
    val statePath = s"$outDir/_state/csim/$ds"
    // state schema = the vectors' own (dataset, frame_no, y, x, v), so
    // the read needs no schema-inference job. Pinned LAZILY: the csim
    // pass reads every state partition and so materializes the pin, and
    // the overwrite below then reads the pinned copy, never the files it
    // replaces.
    val state =
      if (graft.core.Fs.exists(statePath, graft.core.Fs.conf(spark)))
        Some(spark.read.schema(vecs.schema).parquet(statePath)
          .localCheckpoint(eager = false))
      else None
    // state frames re-delivered in this batch (shouldn't happen under
    // exactly-once file semantics, but cheap to guard) lose to the
    // batch's own copy: src 0 = state, 1 = batch (Csim.Gram)
    val batchVecs = vecs.withColumn("src", lit(1))
    val gram = graft.ops.Csim.gram(state.fold(batchVecs)(
      _.withColumn("src", lit(0)).unionByName(batchVecs)))
    // A batch can contribute no vectors even when it had decodable files —
    // e.g. a shutter-closed frame whose every pixel is base-masked (all
    // non-positive). Skip csim for such a batch and leave state as-is
    // (an overwrite would wipe the retained first/prev frames).
    val batchFrames = gram.frames(src = 1).getOrElse(ds, Set.empty[Long])
    if (batchFrames.isEmpty) return
    val series = graft.ops.Csim.toFrame(spark,
      graft.ops.Csim.finish(gram).filter(r => batchFrames(r._2)),
      vecs.schema("frame_no").dataType)
    // roll state: keep the union's first frame + the batch's max frame
    // (a state frame the batch re-delivered comes from the batch)
    val firstNo = gram.instances(ds).map(_ >> 1).min
    val lastNo = batchFrames.max
    val fromBatch = vecs.where(col("frame_no").isin(firstNo, lastNo))
    val nextState = state.filter(_ => !batchFrames(firstNo))
      .fold(fromBatch)(_.where(col("frame_no") === firstNo)
        .unionByName(fromBatch))
    // the two csim sinks and the state roll read nothing of each other
    Overlap.par(
      () => Sinks.writeTable(series, tablesDir(outDir), "csim",
        Seq("dataset")),
      // S15: the per-frame text files the reference UI actually reads
      () => Sinks.writeCsimTxt(series, s"$outDir/stats"),
      () => nextState.write.mode("overwrite").parquet(statePath))
  }
}
