package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.core.{Calibration, Fs, SyntheticFrame}
import graft.geometry.Geometry
import graft.ops.Csim
import graft.pipeline.FramePipeline
import graft.queries.UiQueries
import graft.sinks.Sinks
import graft.sources.FrameSource
import graft.streaming.{PerfbenchAccess, StreamingPipeline}

/** `frames_backfill`: detector frames already on disk, run through
  * `StreamingPipeline.start(availableNow = true)` with every sink on —
  * the reference's backfill path. */
object Frames {

  val Dataset = "bf"
  val PerTrigger = 4
  /** Frame edge in pixels (the Eiger frame is 2880). */
  val Size = 128
  /** Frames for a run of `seconds`: one cold batch (set-up), then at
    * least two timed batches, about one per 10 s. */
  def frameCount(seconds: Int): Int = PerTrigger * (1 + math.max(2, seconds / 10))

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val cal = SyntheticFrame.testCalibration(Size)
    val t0 = System.nanoTime()
    val geo = span("geometry.build")(Geometry.build(spark, cal).localCheckpoint(true))
    val geometryS = (System.nanoTime() - t0) / 1e9

    val n = frameCount(args.seconds)
    val inDir = dir("frames")
    val tRender = System.nanoTime()
    Inputs.renderFrames(spark, cal, args.seed, Dataset, n, inDir, cpus)
    val renderS = (System.nanoTime() - tRender) / 1e9

    val outDir = dir("out")
    val r = Streams.run(spark, progress)(StreamingPipeline.start(spark,
      inDir.toString, outDir.toString, cal, geo, availableNow = true,
      maxFilesPerTrigger = PerTrigger))(_.awaitTermination())
    val peak = collector.storagePeakBytes

    // ---- checks, outside the clock ----
    val tCheck = System.nanoTime()
    val beforeChecks = pinned
    val frames = 1 to n
    val missing = Checks.missingFrameFiles(outDir, Dataset, frames)
    val tables = outDir.resolve("tables").toString
    val quarantined = if (Fs.exists(s"$tables/quarantine", Fs.conf(spark)))
      spark.read.parquet(s"$tables/quarantine").select(col("frame_no"))
        .collect().map(_.getInt(0)).toSet
    else Set.empty[Int]
    val committed = if (Fs.exists(s"$tables/integrals", Fs.conf(spark)))
      spark.read.parquet(s"$tables/integrals").where(col("dataset") === Dataset)
        .select(col("frame_no")).distinct().collect().map(_.getInt(0)).toSet
    else Set.empty[Int]
    val ok = frames.filter(f => committed(f) && !missing.contains(f) &&
      !quarantined(f))
    val problems = Seq.newBuilder[String]
    r.error.foreach(e => problems += s"backfill query failed: $e")
    if (r.batches.size != n / PerTrigger)
      problems += s"${r.batches.size} batches committed, ${n / PerTrigger} expected"
    missing.toSeq.sortBy(_._1).foreach { case (f, fs) =>
      problems += s"frame $f is missing ${fs.mkString(", ")}" }
    quarantined.foreach(f => problems += s"frame $f was quarantined")
    if (ok.size == n) {
      problems ++= recompute(ctx, cal, geo, inDir, tables, n)
      val (done, _) = uiRefresh(ctx, outDir, inDir)
      if (done != committed.size)
        problems += s"UiQueries.completedFrames reports $done frames, " +
          s"${committed.size} were committed"
      problems ++= Checks.ledger(args.ledger,
        s"frames_backfill-${args.seed}-$n-$Size", digest(spark, tables))
    }
    release(beforeChecks)
    val checkS = (System.nanoTime() - tCheck) / 1e9

    // files are taken oldest first, and frames were stamped in frame
    // order, so the cold first batch carries frames 1..PerTrigger
    val timed = Streams.Timed(r, ok.count(_ > PerTrigger))
    val e2e = Seq("setup_s" -> (sessionS + geometryS + timed.coldS),
      "items_per_s" -> timed.itemsPerS, "batch_p50_s" -> timed.batchP50S)
    val metrics = tracer match {
      case None => e2e
      case Some(t) =>
        layerPass(ctx, cal, geo, inDir, dir("layers"))
        if (ok.size == n) problems ++= layerParity(ctx, outDir, dir("layers"))
        Curation.sidePass(ctx)
        Main.spanMetrics(collector, t) ++
          Streams.layerMetrics(r, collector, cpus) ++
          Seq("core.peak_storage_bytes" -> peak.toDouble) ++
          e2e.map { case (k, v) => s"traced.$k" -> v }
    }
    Outcome(n, n - ok.size, metrics, problems.result(), Seq(
      "frame_size" -> Size, "frames" -> n, "frames_per_trigger" -> PerTrigger,
      "frames_ok" -> ok.size, "stream_wall_s" -> r.wallS, "peak_storage_mb" -> peak / 1e6,
      "batch_s" -> r.batches.map(_.triggerMs / 1e3),
      "batch_tail_s" -> Stats.tail(r.batches.map(_.triggerMs / 1e3)).map(t =>
        Map("value" -> t.value, "pct" -> t.pct, "n" -> t.n)),
      "setup_parts_s" -> Map("session" -> sessionS, "geometry" -> geometryS,
        "cold_batch" -> timed.coldS),
      "render_s" -> renderS, "check_s" -> checkS))
  }

  /** Batch recomputation of the first and last frame (and the last
    * one's predecessor, which its csim_prev needs) must match what the
    * stream wrote: integrals and csim. */
  private def recompute(ctx: Ctx, cal: Calibration, geo: DataFrame,
                        inDir: Path, tables: String, n: Int): Seq[String] = {
    val spark = ctx.spark
    val ends = Seq(1, n).distinct
    val px = FrameSource.toPixels(FrameSource.backfill(spark, inDir.toString,
        include = Some(namesRegex(Seq(1, n - 1, n).distinct.filter(_ >= 1)
          .map(no => f"$Dataset-$no%05d.tif")))))
      .drop("dataset").where(col("y") >= 0)
    val out = FramePipeline.process(px, geo, cal)
    val integrals = Checks.compareFrames(
      out.integrals.where(col("frame_no").isin(ends: _*)),
      spark.read.parquet(s"$tables/integrals").where(col("dataset") === Dataset &&
        col("frame_no").isin(ends: _*)), Seq("frame_no", "tth_bin"))
    val vecs = out.pixels.where(!col("base_mask")).select(lit(Dataset).as("dataset"),
      col("frame_no"), col("y"), col("x"), col("corr").as("v"))
    val csim = Checks.compareFrames(
      Csim.series(vecs).where(col("frame_no").isin(ends: _*))
        .select(col("frame_no"), col("csim_first"), col("csim_prev")),
      spark.read.parquet(s"$tables/csim").where(col("dataset") === Dataset &&
        col("frame_no").isin(ends: _*)), Seq("frame_no"))
    integrals.map("integrals: " + _) ++ csim.map("csim: " + _)
  }

  /** Exact per-frame figures that must repeat for a seed: the pixel
    * counts behind every integral variant and the spot-stat row count. */
  def digest(spark: SparkSession, tables: String): String = {
    val integrals = spark.read.parquet(s"$tables/integrals")
    val counts = integrals.schema.fields.filter(f => f.name.startsWith("n_") &&
      (f.dataType == IntegerType || f.dataType == LongType)).map(_.name).sorted
    val perFrame = integrals.groupBy(col("frame_no"))
      .agg(count(lit(1)).as("bins"), counts.map(c => sum(col(c)).as(c)): _*)
    val spots = spark.read.parquet(s"$tables/spot_stats").groupBy(col("frame_no"))
      .agg(count(lit(1)).as("spot_rows"))
    perFrame.join(spots, Seq("frame_no"), "left").orderBy(col("frame_no"))
      .collect().map(_.toSeq.mkString(":")).mkString(" ")
  }

  private def namesRegex(names: Seq[String]): String =
    names.map(java.util.regex.Pattern.quote).mkString("/(", "|", ")$")

  /** One refresh of the results UI over the sink tables: contour,
    * completed frames, gradient and spot views. Returns the completed
    * frame count and the parquet files the refresh scanned. */
  def uiRefresh(ctx: Ctx, outDir: Path, inDir: Path): (Long, Int) = {
    val spark = ctx.spark
    val tables = outDir.resolve("tables").toString
    val integrals = spark.read.parquet(s"$tables/integrals")
    val spot = spark.read.parquet(s"$tables/spot_stats")
    val grad = spark.read.parquet(s"$tables/grad_stats")
    val all = FrameSource.backfill(spark, inDir.toString)
      .select(col("dataset"), col("frame_no"))
    UiQueries.contour(integrals, "base").collect()
    val done = UiQueries.completedFrames(all, integrals).count()
    UiQueries.gradDerived(grad).collect()
    UiQueries.spotHistogram(spot).collect()
    (done, Seq(integrals, spot, grad).map(_.inputFiles.length).sum)
  }

  /** The traced layer pass: the stream's per-batch steps
    * (`StreamingPipeline.processDataset`) called one layer at a time over
    * the same files, `PerTrigger` frames a batch, each batch releasing
    * what it pinned as the stream does. */
  def layerPass(ctx: Ctx, cal: Calibration, geo: DataFrame, inDir: Path,
                out: Path): Unit = {
    import ctx._
    val (h, w) = cal.imageSize
    val outS = out.toString
    val tables = s"$outS/tables"
    val names = Files.list(inDir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".tif")).toSeq.sorted
    val ds = names.head.takeWhile(_ != '-')
    names.grouped(PerTrigger).zipWithIndex.foreach { case (chunk, i) =>
      val before = pinned
      val px = span("sources.decode")(FrameSource.toPixels(FrameSource
        .backfill(spark, inDir.toString, include = Some(namesRegex(chunk))))
        .drop("dataset").localCheckpoint(true))
      val good = px.where(col("y") >= 0)
      count("sources.decode", "pixels", good.count().toDouble)
      val res = span("pipeline.process")(FramePipeline.process(good, geo, cal))
      val (pixels, integrals, spotStats, qbinStats) = span("pipeline.outputs")((
        res.pixels.select(col("frame_no"), col("y"), col("x"), col("corr"),
          col("base_mask"), col("is_outlier"), col("is_spot"), col("is_arc"))
          .localCheckpoint(true),
        res.integrals.localCheckpoint(true), res.spotStats.localCheckpoint(true),
        res.qbinStats.localCheckpoint(true)))
      val gradStats = FramePipeline.gradStatsOf(qbinStats)
      val tag = lit(ds).as("dataset")
      span("sinks.tables") {
        if (i == 0) Sinks.writeQBinEdges(spark, cal, tables, ds)
        Seq("integrals" -> integrals, "spot_stats" -> spotStats,
          "grad_stats" -> gradStats,
          "spottiness" -> FramePipeline.spottinessOf(qbinStats)).foreach {
          case (t, df) => Sinks.writeTable(df.withColumn("dataset", tag), tables,
            t, Seq("dataset"))
        }
      }
      span("sinks.files") {
        if (i == 0) Sinks.writeMapTiffs(geo, w, h, s"$outS/maps", ds)
        Seq("base", "om", "spotsmasked", "arcsmasked").foreach { v =>
          Sinks.writeChi(integrals, s"$outS/integrals", v,
            dense = Some((cal.outChannels, cal.ioTth._1, cal.tthStep)), dataset = ds)
        }
        Sinks.writeMaskTiffs(pixels, w, h, s"$outS/masks", Seq(
          "base" -> col("base_mask"),
          "outliermask" -> (col("base_mask") || col("is_outlier")),
          "spots" -> col("is_spot"), "arcs" -> col("is_arc")), dataset = ds)
        val frameNos = integrals.select(col("frame_no")).distinct()
          .collect().map(_.getInt(0)).toSeq
        Sinks.writeFrameCsv(spotStats, s"$outS/stats", "_spots_stats_df", ds,
          frameNos, orderCols = Seq("spot_stat_label"))
        Sinks.writeFrameCsv(gradStats, s"$outS/stats", "_spots_stats_grad", ds,
          frameNos, orderCols = Seq("Qbin"))
      }
      // the engine's cross-batch csim step, with its csim table and text sinks
      span("ops.csim")(PerfbenchAccess.writeCsimStateful(pixels.where(!col("base_mask"))
        .select(lit(ds).as("dataset"), col("frame_no"), col("y"), col("x"),
          col("corr").as("v")), outS, ds))
      span("queries.ui")(count("queries.ui", "files_scanned",
        uiRefresh(ctx, out, inDir)._2.toDouble))
      release(before)
    }
    val (files, bytes) = Seq("integrals", "masks", "stats", "maps")
      .map(d => dirSize(out.resolve(d), _ => true))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    count("sinks.files", "files", files.toDouble)
    count("sinks.files", "bytes", bytes.toDouble)
    count("sinks.tables", "files",
      dirSize(out.resolve("tables"), _.endsWith(".parquet"))._1.toDouble)
  }

  /** The layer pass must reproduce what the stream wrote: every frame's
    * integrals and csim row. */
  def layerParity(ctx: Ctx, streamed: Path, layers: Path): Seq[String] = {
    val spark = ctx.spark
    def read(root: Path, t: String) =
      spark.read.parquet(root.resolve("tables").resolve(t).toString)
        .where(col("dataset") === Dataset)
    val integrals = read(layers, "integrals")
    val csim = read(layers, "csim")
    (Checks.compareFrames(integrals, read(streamed, "integrals"),
        Seq("frame_no", "tth_bin")).map("layer-pass integrals: " + _) ++
      Checks.compareFrames(csim, read(streamed, "csim"), Seq("frame_no"))
        .map("layer-pass csim: " + _)).take(20)
  }

  /** (files, bytes) under `dir` whose name passes `keep`. */
  def dirSize(dir: Path, keep: String => Boolean): (Long, Long) =
    if (!Files.isDirectory(dir)) (0L, 0L)
    else {
      val fs = Files.walk(dir).iterator().asScala.filter(p => Files.isRegularFile(p) &&
        keep(p.getFileName.toString)).toSeq
      (fs.size.toLong, fs.map(Files.size(_)).sum)
    }

  /** The frames half of a curation workload's traced run: the same layer
    * pass over two small frames, so every layer reports on every run. */
  def sidePass(ctx: Ctx): Unit = {
    import ctx._
    val cal = SyntheticFrame.testCalibration(Size)
    val geo = span("geometry.build")(Geometry.build(spark, cal).localCheckpoint(true))
    val in = dir("side_frames")
    Inputs.renderFrames(spark, cal, args.seed, "side", 2, in, cpus)
    layerPass(ctx, cal, geo, in, dir("side_frames_out"))
  }
}
