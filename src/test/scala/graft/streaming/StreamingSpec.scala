package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.SyntheticFrame
import graft.geometry.Geometry
import graft.sources.FrameSource

class FrameSourceSpec extends SparkSpec {

  test("TIFF round-trip: encode -> decode preserves the pixel matrix") {
    val m = Array.tabulate(16, 16)((y, x) => y * 100 + x)
    val decoded = FrameSource.decodeTiff(FrameSource.encodeTiff(m)).toSeq
    assert(decoded.size == 256)
    assert(decoded.forall { case (y, x, v) => v == y * 100 + x })
  }

  test("debounceFilter drops files younger than the window (batch S4)") {
    import spark.implicits._
    // window >> session-startup latency so "now" is still inside it when
    // the query actually runs
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val old = new java.sql.Timestamp(System.currentTimeMillis() - 600000)
    val df = Seq(("a.tif", now), ("b.tif", old))
      .toDF("path", "modificationTime")
    val kept = FrameSource.debounceFilter(df, 60).collect().map(_.getString(0))
    assert(kept.toSeq == Seq("b.tif"))
  }

  test("decodeTiffFloat rejects multi-strip TIFFs loudly instead of " +
      "returning garbage pixels") {
    val m = Array.tabulate(8, 8)((y, x) => (y * 8 + x).toFloat)
    val bytes = FrameSource.encodeTiffFloat(m)
    // round-trip still fine single-strip
    assert(FrameSource.decodeTiffFloat(bytes)(3)(5) == 29.0f)
    // patch StripOffsets (tag 273, index 5 in the encoder's tag order)
    // to count=2 — the shape PIL writes for large maps, where the value
    // field becomes a pointer to an offsets ARRAY
    val bb = java.nio.ByteBuffer.wrap(bytes.clone())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifdOff = bb.getInt(4)
    val base273 = ifdOff + 2 + 5 * 12
    assert(bb.getShort(base273) == 273)
    bb.putInt(base273 + 4, 2)
    val ex = intercept[IllegalArgumentException](
      FrameSource.decodeTiffFloat(bb.array()))
    assert(ex.getMessage.contains("multi-strip"))
    // RowsPerStrip < height (tag 278, index 7) is the other multi-strip
    // shape — also rejected
    val bb2 = java.nio.ByteBuffer.wrap(bytes.clone())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val base278 = ifdOff + 2 + 7 * 12
    assert(bb2.getShort(base278) == 278)
    bb2.putInt(base278 + 8, 4) // 4 rows per strip, height 8
    val ex2 = intercept[IllegalArgumentException](
      FrameSource.decodeTiffFloat(bb2.array()))
    assert(ex2.getMessage.contains("multi-strip"))
  }

  test("frame identity regex parses dataset and number") {
    import spark.implicits._
    val df = Seq("/data/MA2-00001.tif", "/data/run_b_00042.tif",
      "/data/skipme.txt").toDF("path")
    val out = FrameSource.withFrameIdentity(df)
      .where(col("frame_no").isNotNull)
      .select(col("dataset"), col("frame_no")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("MA2", 1), ("run_b", 42)))
  }
}

class StreamingPipelineSpec extends SparkSpec {

  /** Spark jobs measured per micro-batch of the job-budget test (two
    * frames of 96² each; the first batch also writes the geometry maps).
    * The chain of one action after another ran 105 and 109. */
  private val MeasuredJobs = Map(0 -> 67, 1 -> 64)

  /** Slack, in jobs, on each batch and on the two-batch total. A probe
    * re-added to the batch costs at least one job in EACH batch, so it
    * overruns the total. */
  private val JobSlack = 1

  /** Write `n` synthetic frames as TIFF files into a fresh temp dir. */
  private def writeFrames(cal: graft.core.Calibration, dir: String,
                          nums: Range): Unit =
    nums.foreach { no =>
      val px = SyntheticFrame.frame(spark, cal, no, nHotPer10k = 0)
        .collect()
      val m = Array.ofDim[Int](96, 96)
      px.foreach(r => m(r.getInt(1))(r.getInt(2)) = r.getInt(3))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dir/synth-${no}%05d.tif"),
        FrameSource.encodeTiff(m))
    }

  test("csim state: two micro-batches equal one batch (reference " +
      "vs-first/vs-prev semantics across batches)") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_in2").toString
    writeFrames(cal, tmpIn, 1 to 4)

    def run(maxFiles: Int): Map[Int, (Double, Double)] = {
      val out = java.nio.file.Files.createTempDirectory("graft_out2").toString
      val q = StreamingPipeline.start(spark, tmpIn, out, cal, geo,
        availableNow = true, maxFilesPerTrigger = maxFiles)
      q.awaitTermination(300000)
      spark.read.parquet(s"$out/tables/csim").collect().map(r =>
        r.getAs[Int]("frame_no") ->
          (r.getAs[Double]("csim_first"), r.getAs[Double]("csim_prev")))
        .toMap
    }

    val split = run(maxFiles = 2)   // 2 batches x 2 frames
    val whole = run(maxFiles = 32)  // single batch
    assert(split.keySet == Set(1, 2, 3, 4))
    assert(whole.keySet == Set(1, 2, 3, 4))
    (1 to 4).foreach { f =>
      assert(math.abs(split(f)._1 - whole(f)._1) < 1e-9,
        s"csim_first differs at frame $f: ${split(f)} vs ${whole(f)}")
      assert(math.abs(split(f)._2 - whole(f)._2) < 1e-9,
        s"csim_prev differs at frame $f: ${split(f)} vs ${whole(f)}")
    }
    // frames 3 and 4 must compare against frame 1 (previous batch), not
    // their own batch's min — i.e. csim_first strictly below 1 and equal
    // to the single-batch value (checked above), and csim_prev of frame 3
    // crosses the batch boundary without defaulting to the 1.0 edge rule
    assert(split(3)._1 < 1.0 - 1e-12)
    assert(split(3)._2 < 1.0 - 1e-12)
  }

  test("job budget: each frames micro-batch runs its measured Spark " +
      "jobs plus a one-job slack; its overlapped stages all reach the " +
      "A14 timing table") {
    // A deterministic counter, not a wall time: every driver read or
    // checkpoint added to the batch's chain shows up here as jobs. The
    // count is per (query id, batch id) — the local properties every job
    // of a micro-batch carries, including jobs submitted from the
    // batch's own driver threads.
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_injb").toString
    val out = java.nio.file.Files.createTempDirectory("graft_outjb").toString
    writeFrames(cal, tmpIn, 1 to 4)
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, String), Int]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("graft.jobBudget.marker") != null) marker.countDown()
          val q = p.getProperty("sql.streaming.queryId")
          val b = p.getProperty("streaming.sql.batchId")
          if (q != null && b != null) jobs.merge((q, b), 1, _ + _)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = StreamingPipeline.start(spark, tmpIn, out, cal, geo,
        availableNow = true, maxFilesPerTrigger = 2) // 2 batches x 2 frames
      q.awaitTermination(300000)
      // listener events arrive in order: once this marker job is seen,
      // every stream job has been counted
      spark.sparkContext.setLocalProperty("graft.jobBudget.marker", "1")
      try spark.sparkContext.parallelize(1 to 1, 1).count()
      finally spark.sparkContext.setLocalProperty("graft.jobBudget.marker", null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      val perBatch = jobs.asScala.collect {
        case ((qid, b), n) if qid == q.id.toString => b.toInt -> n }.toMap
      assert(perBatch.keySet == Set(0, 1), s"batches: $perBatch")
      info(s"jobs per micro-batch: $perBatch")
      perBatch.foreach { case (b, n) =>
        assert(n <= MeasuredJobs(b) + JobSlack,
          s"batch $b ran $n jobs, measured ${MeasuredJobs(b)}: $perBatch") }
      assert(perBatch.values.sum <= MeasuredJobs.values.sum + JobSlack,
        s"the two batches ran ${perBatch.values.sum} jobs, measured " +
          s"${MeasuredJobs.values.sum}: $perBatch")
      // each batch's stages, timed from overlapping driver threads, are
      // all in the timing table under their A14 names
      val stages = Seq("decode", "frame_plan", "process", "stats",
        "sink_integrals", "sink_chi", "sink_masks", "sink_stats_tables",
        "sink_stats_csv", "spottiness", "csim")
      val timing = spark.read.parquet(s"$out/tables/timing")
        .groupBy(col("stage")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      stages.foreach(st => assert(timing.get(st).contains(2L),
        s"stage $st: ${timing.get(st)} rows, want one per batch"))
      assert(timing.get("sink_maps_cache").contains(1L))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a micro-batch unpersists every RDD it pinned (bounded executor " +
      "storage across an unbounded stream); pre-batch pins survive") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    geo.count() // materialize the pre-batch pin the batch must NOT touch
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_inup").toString
    writeFrames(cal, tmpIn, 1 to 3)
    val out = java.nio.file.Files.createTempDirectory("graft_outup").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val q = StreamingPipeline.start(spark, tmpIn, out, cal, geo,
      availableNow = true, maxFilesPerTrigger = 2) // 2 batches
    q.awaitTermination(300000)
    // unpersistRDD drops the registry entry synchronously (only block
    // deletion is async), so this is deterministic
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"batch leaked pinned RDDs: ${(after -- before).toSeq.sorted}")
    assert(before.subsetOf(after), "batch released a pre-batch pin")
    // and the run actually processed frames (the release didn't starve
    // the sinks): csim rows exist for all three frames
    val csim = spark.read.parquet(s"$out/tables/csim")
      .select(col("frame_no")).collect().map(_.getInt(0)).toSet
    assert(csim == Set(1, 2, 3))
  }

  test("referenceBinShift threads through start(): .chi labels shift one " +
      "bin (reference drop-[1:] compatibility)") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_inS").toString
    writeFrames(cal, tmpIn, 1 to 1)

    def run(shift: Boolean): Map[Int, Double] = {
      val out = java.nio.file.Files.createTempDirectory("graft_outS").toString
      val q = StreamingPipeline.start(spark, tmpIn, out, cal, geo,
        availableNow = true, referenceBinShift = shift)
      q.awaitTermination(300000)
      spark.read.parquet(s"$out/tables/integrals")
        .where(org.apache.spark.sql.functions.col("frame_no") === 1)
        .collect()
        .map(r => r.getAs[Int]("tth_bin") -> r.getAs[Double]("i_base")).toMap
    }

    val plain = run(shift = false)
    val shifted = run(shift = true)
    // the shifted table's bin k carries what the self-consistent binning
    // calls bin k+1 (the reference's [1:] label shift)
    val common = shifted.keySet.intersect(plain.keySet.map(_ - 1))
    assert(common.nonEmpty)
    common.foreach { b =>
      assert(math.abs(shifted(b) - plain(b + 1)) < 1e-9,
        s"bin $b: shifted=${shifted(b)} plain(b+1)=${plain(b + 1)}")
    }
  }

  test("undecodable file is quarantined; good frames still process") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_in4").toString
    val tmpOut = java.nio.file.Files.createTempDirectory("graft_out4").toString
    writeFrames(cal, tmpIn, 1 to 2)
    // frame 3: garbage payload, as if caught mid-write
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmpIn/synth-00003.tif"),
      Array.fill[Byte](512)(42))
    val q = StreamingPipeline.start(spark, tmpIn, tmpOut, cal, geo,
      availableNow = true)
    q.awaitTermination(300000)
    val quarantined = spark.read.parquet(s"$tmpOut/tables/quarantine").collect()
    assert(quarantined.map(_.getAs[Int]("frame_no")).toSeq == Seq(3))
    assert(spark.read.parquet(s"$tmpOut/tables/integrals")
      .select(col("frame_no")).distinct().count() == 2)
  }

  test("a batch of ONLY undecodable files is quarantined, not a poison " +
      "pill; later frames keep reference gap semantics (csim_prev=1)") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_in7").toString
    val tmpOut = java.nio.file.Files.createTempDirectory("graft_out7").toString
    writeFrames(cal, tmpIn, 1 to 2)
    // frame 3: garbage payload — with maxFilesPerTrigger=1 it is the ONLY
    // file of its micro-batch, the case that used to NPE writeCsimStateful
    // and permanently poison the stream on replay
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmpIn/synth-00003.tif"),
      Array.fill[Byte](512)(42))
    writeFrames(cal, tmpIn, 4 to 4)
    val q = StreamingPipeline.start(spark, tmpIn, tmpOut, cal, geo,
      availableNow = true, maxFilesPerTrigger = 1)
    q.awaitTermination(300000)
    val quarantined = spark.read.parquet(s"$tmpOut/tables/quarantine").collect()
    assert(quarantined.map(_.getAs[Int]("frame_no")).toSeq == Seq(3))
    val csim = spark.read.parquet(s"$tmpOut/tables/csim").collect()
      .map(r => r.getAs[Int]("frame_no") ->
        (r.getAs[Double]("csim_first"), r.getAs[Double]("csim_prev")))
      .toMap
    assert(csim.keySet == Set(1, 2, 4), s"csim frames: ${csim.keySet}")
    // reference gap semantics (pipeline.py:508-523): frame 4's previous
    // file (3) is unreadable -> compare to self -> exactly 1.0, while
    // vs-first still crosses the gap through the persisted state
    assert(csim(4)._2 == 1.0)
    assert(csim(4)._1 < 1.0 - 1e-12)
  }

  test("writeCsimStateful: empty vector batch is a no-op, state survives") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_out8").toString
    val full = Seq(("d", 1, 0, 0, 2.0), ("d", 1, 0, 1, 3.0))
      .toDF("dataset", "frame_no", "y", "x", "v")
    StreamingPipeline.writeCsimStateful(full, out, "d")
    val stateBefore = spark.read.parquet(s"$out/_state/csim/d").collect()
    // an all-masked frame contributes zero vectors
    val empty = full.where(col("frame_no") === 999)
    StreamingPipeline.writeCsimStateful(empty, out, "d")
    val stateAfter = spark.read.parquet(s"$out/_state/csim/d").collect()
    assert(stateAfter.toSet == stateBefore.toSet, "empty batch moved state")
    assert(spark.read.parquet(s"$out/tables/csim").count() == 1)
  }

  test("corrections + predef mask + q-bin-edges flow through the stream") {
    import spark.implicits._
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_in6").toString
    writeFrames(cal, tmpIn, 1 to 1)
    val flat = (for (y <- 0 until 96; x <- 0 until 96) yield (y, x, 2.0))
      .toDF("y", "x", "value")
    val (pxX, _) = cal.pixelSize
    val predef = Seq(graft.core.MaskShape.Spot(
      48 * pxX / 1000.0, 48 * pxX / 1000.0, 8 * pxX / 1000.0))

    def run(corr: graft.ops.Corrections.Frames,
            masks: Seq[graft.core.MaskShape]) = {
      val out = java.nio.file.Files.createTempDirectory("graft_out6").toString
      val q = StreamingPipeline.start(spark, tmpIn, out, cal, geo,
        availableNow = true, predef = masks, corrections = corr)
      q.awaitTermination(300000)
      out
    }
    val plain = run(graft.ops.Corrections.Frames(), Nil)
    val treated = run(
      graft.ops.Corrections.Frames(flatField = Some(flat)), predef)

    def iBase(dir: String) = spark.read.parquet(s"$dir/tables/integrals")
      .agg(sum(col("i_base"))).head().getDouble(0)
    // 2x flat-field roughly doubles the summed base integral (predef mask
    // removes a few pixels, so compare with slack)
    assert(iBase(treated) > iBase(plain) * 1.8)
    // predef-masked pixels appear in the base-mask TIFF
    val base = FrameSource.decodeTiff(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$treated/masks/synth-00001_base.tif")))
      .filter(_._3 == 1).map(p => (p._1, p._2)).toSet
    assert(base.contains((48, 48)), "predef spot missing from base mask")
    // S14: q-bin-edges written once for the dataset
    val edges = spark.read.parquet(s"$treated/tables/q_bin_edges")
    assert(edges.count() == cal.outChannels + 1)
  }

  test("checkpoint restart: only new files process, csim state survives") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_in5").toString
    val tmpOut = java.nio.file.Files.createTempDirectory("graft_out5").toString
    writeFrames(cal, tmpIn, 1 to 2)
    val q1 = StreamingPipeline.start(spark, tmpIn, tmpOut, cal, geo,
      availableNow = true)
    q1.awaitTermination(300000)
    writeFrames(cal, tmpIn, 3 to 4)
    val q2 = StreamingPipeline.start(spark, tmpIn, tmpOut, cal, geo,
      availableNow = true)
    q2.awaitTermination(300000)

    // exactly one integrals row-set per frame, no re-processing dupes
    val perFrame = spark.read.parquet(s"$tmpOut/tables/integrals")
      .groupBy(col("frame_no"), col("tth_bin")).count()
      .where(col("count") > 1).count()
    assert(perFrame == 0, "restart reprocessed already-seen frames")
    assert(spark.read.parquet(s"$tmpOut/tables/integrals")
      .select(col("frame_no")).distinct().count() == 4)
    // csim of frames 3/4 references the TRUE first frame (vs-first < 1,
    // carried through the persisted state across the restart)
    val csim = spark.read.parquet(s"$tmpOut/tables/csim").collect()
      .map(r => r.getAs[Int]("frame_no") -> r.getAs[Double]("csim_first"))
      .toMap
    assert(csim.keySet == Set(1, 2, 3, 4))
    assert(csim(3) < 1.0 - 1e-12 && csim(4) < 1.0 - 1e-12)
  }

  test("live ProcessingTime trigger processes files as they arrive") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_in3").toString
    val tmpOut = java.nio.file.Files.createTempDirectory("graft_out3").toString
    writeFrames(cal, tmpIn, 1 to 2)
    val q = StreamingPipeline.start(spark, tmpIn, tmpOut, cal, geo,
      availableNow = false)
    try {
      val deadline = System.currentTimeMillis() + 240000
      var n = 0L
      while (n < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(2000)
        n = try {
          spark.read.parquet(s"$tmpOut/tables/csim").count()
        } catch { case _: Exception => 0L }
      }
      assert(n >= 2, s"live trigger produced $n csim rows")
    } finally q.stop()
  }

  test("streaming S4 debounce: a too-fresh file's batch is HELD until " +
      "the debounce age, then processed completely") {
    // wait math is exact and clock-injectable
    assert(StreamingPipeline.debounceWaitMs(10000L, 2, 10500L) == 1500L)
    assert(StreamingPipeline.debounceWaitMs(10000L, 2, 12000L) == 0L)
    assert(StreamingPipeline.debounceWaitMs(10000L, 2, 50000L) == 0L)

    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_in6").toString
    val tmpOut = java.nio.file.Files.createTempDirectory("graft_out6").toString
    writeFrames(cal, tmpIn, 1 to 1)
    // freshen mtime to "now": the only batch must then finish no earlier
    // than mtime + debounce
    val f = new java.io.File(s"$tmpIn/synth-00001.tif")
    val mtime = System.currentTimeMillis()
    assert(f.setLastModified(mtime))
    val q = StreamingPipeline.start(spark, tmpIn, tmpOut, cal, geo,
      availableNow = true, debounceSeconds = Some(3))
    q.awaitTermination(240000)
    val done = System.currentTimeMillis()
    val rows = spark.read.parquet(s"$tmpOut/tables/csim").count()
    assert(rows == 1, s"debounced batch lost rows: $rows")
    assert(done >= mtime + 3000,
      s"batch completed ${done - mtime} ms after mtime — debounce not held")
  }

  test("end-to-end: tiff files -> streaming backfill -> parquet sinks") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)

    // write 2 frames of a synthetic dataset as real TIFF files
    val tmpIn = java.nio.file.Files.createTempDirectory("graft_in").toString
    val tmpOut = java.nio.file.Files.createTempDirectory("graft_out").toString
    // no hot pixels: a single 50000-count outlier dominates the norms and
    // makes frame-to-frame cosine meaningless for this assertion
    (1 to 2).foreach { no =>
      val px = SyntheticFrame.frame(spark, cal, no, nHotPer10k = 0)
        .collect()
      val m = Array.ofDim[Int](96, 96)
      px.foreach(r => m(r.getInt(1))(r.getInt(2)) = r.getInt(3))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$tmpIn/synth-${no}%05d.tif"),
        FrameSource.encodeTiff(m))
    }

    val q = StreamingPipeline.start(spark, tmpIn, tmpOut, cal, geo,
      availableNow = true)
    q.awaitTermination(300000)

    val integrals = spark.read.parquet(s"$tmpOut/tables/integrals")
    assert(integrals.select(col("frame_no")).distinct().count() == 2)
    assert(integrals.where(col("i_base").isNotNull).count() > 100)
    assert(integrals.select(col("dataset")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq("synth"))
    val spotty = spark.read.parquet(s"$tmpOut/tables/spottiness")
    assert(spotty.count() > 0)
    val csim = spark.read.parquet(s"$tmpOut/tables/csim")
      .orderBy(col("frame_no")).collect()
    assert(csim.length == 2)
    assert(math.abs(csim(0).getAs[Double]("csim_prev") - 1.0) < 1e-9)
    // frame 2 differs from frame 1 only by noise/hot pixels: similar but
    // not identical
    assert(csim(1).getAs[Double]("csim_prev") < 1.0 + 1e-9)
    assert(csim(1).getAs[Double]("csim_first") > 0.5)

    // S12: four .chi variants per frame, dense (outChannels data rows),
    // written executor-side (reference pipeline.py:421-449)
    for (no <- 1 to 2;
         v <- Seq("base", "om", "spotsmasked", "arcsmasked")) {
      val chi = java.nio.file.Paths.get(
        f"$tmpOut/integrals/synth-$no%05d_$v.chi")
      assert(java.nio.file.Files.exists(chi), s"missing $chi")
      val lines = java.nio.file.Files.readAllLines(chi)
      assert(lines.get(3).trim.toInt == cal.outChannels)
      assert(lines.size == 4 + cal.outChannels)
    }
    // S15: per-frame csim text files under stats/, reference format
    // (pipeline.py:554-557), named from the acquisition stem so
    // mainUI/csim.py:48-64's glob "<stem>*_csim.txt" collects them
    (1 to 2).foreach { no =>
      val p = java.nio.file.Paths.get(f"$tmpOut/stats/synth-$no%05d_csim.txt")
      assert(java.nio.file.Files.exists(p), s"missing $p")
      val parts = java.nio.file.Files.readString(p).stripLineEnd.split("\t")
      assert(parts.length == 2 &&
        parts.forall(_.matches("\\d\\.\\d{9}")), s"bad csim body in $p")
    }
    // S13: per-frame stats CSVs under stats/ with the acquisition stem
    // (reference pipeline.py:491-492)
    (1 to 2).foreach { no =>
      Seq("_spots_stats_df", "_spots_stats_grad").foreach { sfx =>
        val p = java.nio.file.Paths.get(f"$tmpOut/stats/synth-$no%05d$sfx%s.csv")
        assert(java.nio.file.Files.exists(p), s"missing $p")
        val head = java.nio.file.Files.readAllLines(p).get(0)
        assert(head.startsWith(","), s"no pandas index header in $p")
      }
    }
    // S11: four mask TIFFs per frame, decodable, plausible content
    (1 to 2).foreach { no =>
      Seq("base", "outliermask", "spots", "arcs").foreach { m =>
        val p = java.nio.file.Paths.get(
          f"$tmpOut/masks/synth-$no%05d_$m.tif")
        assert(java.nio.file.Files.exists(p), s"missing $p")
        val px = FrameSource.decodeTiff(
          java.nio.file.Files.readAllBytes(p)).toSeq
        assert(px.size == 96 * 96)
        assert(px.forall { case (_, _, v) => v == 0 || v == 1 })
      }
      // base mask: out-of-range corners of the synthetic frame are masked
      val base = FrameSource.decodeTiff(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"$tmpOut/masks/synth-$no%05d_base.tif")))
        .count(_._3 == 1)
      assert(base > 0, "base mask empty")
    }
  }
}
