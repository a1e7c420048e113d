package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.SyntheticFrame
import graft.geometry.Geometry
import graft.ops.Csim

class ClassificationSpec extends SparkSpec {
  import spark.implicits._

  test("shapeClassify separates compact spots from thin long arcs") {
    // spot cluster: compact in q AND azim; arc: dq tiny, dazim large
    val spot = for { i <- 0 until 120 }
      yield (1, 10L, 5.0 + (i % 11) * 0.02, 100.0 + (i / 11) * 0.3)
    val arc = for { i <- 0 until 200 }
      yield (1, 20L, 7.0 + (i % 2) * 0.01, i * 1.5)
    val tiny = Seq((1, 30L, 3.0, 50.0), (1, 30L, 3.01, 50.5))
    val df = (spot ++ arc ++ tiny).toDF("frame_no", "label", "q", "azim")
      .withColumn("azim_flipped", pmod(col("azim") + 180.0, lit(360.0)))
    val out = Classification.shapeClassify(df, Seq("frame_no"))
      .collect().map(r => r.getLong(1) -> r.getAs[Int]("classifier")).toMap
    assert(out(20L) == 2, "arc not classified as arc")
    assert(out(10L) == 1, "spot not classified as spot")
    assert(out(30L) == 0, "tiny cluster not classified as small")
  }
}

class LegacyEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  test("distributed shape classifier equals the sequential reference " +
       "path on random clusters (C4 old-vs-new equivalence)") {
    val rnd = new scala.util.Random(99)
    (1 to 3).foreach { _ =>
      val clusters = (1L to 20L).map { label =>
        val n = 2 + rnd.nextInt(300)
        val qBase = rnd.nextDouble() * 10
        val qSpread = if (rnd.nextBoolean()) 0.02 else 2.0
        val aBase = rnd.nextDouble() * 360
        val aSpread = if (rnd.nextBoolean()) 2.0 else 120.0
        label -> Seq.fill(n) {
          val az = (aBase + rnd.nextDouble() * aSpread) % 360
          (qBase + rnd.nextDouble() * qSpread, az, (az + 180.0) % 360.0)
        }
      }.toMap
      val df = clusters.toSeq.flatMap { case (l, px) =>
        px.map { case (q, a, af) => (1, l, q, a, af) }
      }.toDF("frame_no", "label", "q", "azim", "azim_flipped")
      val dist = Classification.shapeClassify(df, Seq("frame_no"))
        .collect().map(r => r.getLong(1) -> r.getAs[Int]("classifier"))
        .toMap
      val ref = Classification.shapeClassifyReference(clusters)
      assert(dist == ref)
    }
  }
}

class FramePipelineSpec2 extends SparkSpec {

  test("full pipeline: planted spots detected, integrals mask correctly") {
    val cal = SyntheticFrame.testCalibration(192)
    val geo = Geometry.build(spark, cal).cache()
    // two fat planted spots on the 5.5-deg ring area + one planted arc
    val frame = SyntheticFrame.frame(spark, cal, frameNo = 1,
      nHotPer10k = 0,
      spots = Seq((60, 80, 20000.0, 2.0), (120, 40, 20000.0, 2.0)),
      arcs = Seq((8.0, 30.0, 150.0, 8000.0)))
    val out = FramePipeline.process(frame, geo, cal)

    val spots = out.spotStats.collect()
    assert(spots.nonEmpty, "no spots detected")

    val integ = out.integrals.cache()
    val n = integ.count()
    assert(n > 100)
    // spot-masked integral never exceeds base where spots were removed
    val worse = integ.where(col("i_spotsmasked") > col("i_base") + 1e-6)
      .count()
    assert(worse < n / 10)

    val grads = out.gradStats.collect()
    assert(grads.nonEmpty && grads.forall(r => !r.isNullAt(2)))

    val spotty = out.spottiness
      .agg(sum(when(col("n_spots") > 0, 1).otherwise(0))).collect()(0)
    assert(spotty.getLong(0) > 0, "spottiness never saw a spot")

    // A10: the two planted 20000-count spots are regional maxima far above
    // the h = 0.05 * P99.9 depth -> h-maxima stats see them
    val hmax = FramePipeline.hMaximaStats(out.pixels, cal, tile = 96)
    val onSpots = hmax.agg(sum(col("n_maxima_on_spots"))).collect()(0)
    assert(onSpots.getLong(0) > 0, "h-maxima missed the planted spots")
  }
}

class QbinStatsConsolidationSpec extends SparkSpec {
  import spark.implicits._
  import graft.ops.RobustStats

  test("consolidated A8+A9 pass equals the chained per-family formulas " +
      "bit-exactly (moments, 2-stage MAD, spottiness)") {
    // random pixel table with the exact columns the shared aggregate
    // reads; even AND odd group sizes so the median interpolation paths
    // (one-pass MedianMadAgg vs builtin two-stage median) both exercise
    val rnd = new scala.util.Random(7)
    val rows = for (f <- 1 to 2; i <- 0 until 5000) yield {
      val spot = rnd.nextDouble() < 0.05
      (f, rnd.nextInt(9) - 1, rnd.nextGaussian() * 50,
        rnd.nextDouble() < 0.1, spot, rnd.nextDouble() < 0.03,
        if (spot) rnd.nextInt(7).toLong else 0L)
    }
    val px = rows.toDF("frame_no", "q_bin", "grad2_a", "is_outlier",
      "is_spot", "is_arc", "label").localCheckpoint(true)

    // the consolidated pass process() actually runs
    val qbin = FramePipeline.qbinAggregate(px)
    val a8 = FramePipeline.gradStatsOf(qbin).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap

    // the chained pre-consolidation formulas
    val mm = RobustStats.medianMad(
      px.select(col("frame_no"), col("q_bin"), col("grad2_a").as("g")),
      Seq("frame_no", "q_bin"), "g")
    val moments = px.groupBy(col("frame_no"), col("q_bin"))
      .agg(avg(col("grad2_a")).as("mean"), stddev(col("grad2_a")).as("std"))
    val chained = moments.join(mm, Seq("frame_no", "q_bin"))
      .select(col("frame_no").cast("long"), col("q_bin"), col("mean"),
        col("std"), col("med"),
        (col("mad") * RobustStats.MadToSigma).as("mad"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(a8.keySet == chained.keySet)
    chained.foreach { case (k, v) =>
      assert(a8(k) == v, s"A8 diverges at $k: ${a8(k)} vs $v")
    }

    val a9 = FramePipeline.spottinessOf(qbin).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    val spottyChained = px.groupBy(col("frame_no"), col("q_bin"))
      .agg(
        (count(when(col("is_outlier") || col("is_spot") || col("is_arc"),
          1)).cast("double") / count(lit(1))).as("pct_masked"),
        countDistinct(when(col("is_spot"), col("label"))).as("n_spots"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(a9 == spottyChained, "A9 diverges from the chained form")
  }
}

class MultiFrameSpec extends SparkSpec {

  test("two frames process through ONE keyed plan with separated outputs") {
    val cal = SyntheticFrame.testCalibration(128)
    val geo = Geometry.build(spark, cal).localCheckpoint(true)
    // different planted spots per frame
    val f1 = SyntheticFrame.frame(spark, cal, 1, nHotPer10k = 0,
      spots = Seq((40, 50, 20000.0, 2.0)))
    val f2 = SyntheticFrame.frame(spark, cal, 2, nHotPer10k = 0,
      spots = Seq((80, 30, 20000.0, 2.0), (100, 90, 20000.0, 2.0)))
    val out = FramePipeline.process(f1.union(f2), geo, cal)

    val spotFrames = out.spotStats
      .groupBy(col("frame_no")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(spotFrames.keySet == Set(1, 2), s"got $spotFrames")
    // frame 2 planted more spots than frame 1
    assert(spotFrames(2) >= spotFrames(1))

    // per-frame integrals both present with full channel coverage
    val integFrames = out.integrals.groupBy(col("frame_no")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(integFrames.keySet == Set(1, 2))
    assert(integFrames.values.forall(_ > 50))
  }
}

class CsimSpec extends SparkSpec {
  import spark.implicits._

  test("csim series: first frame = 1.0, identical frames = 1.0, " +
       "changed frame < 1") {
    val f1 = for { y <- 0 until 8; x <- 0 until 8 }
      yield ("d", 1, y, x, (y * 8 + x + 1).toDouble)
    val f2 = f1.map { case (d, _, y, x, v) => (d, 2, y, x, v) } // identical
    val f3 = f1.map { case (d, _, y, x, v) =>
      (d, 3, y, x, if (x == 0) v * 10 else v) }                 // changed
    val px = (f1 ++ f2 ++ f3).toDF("dataset", "frame_no", "y", "x", "v")
    val out = Csim.series(px).orderBy(col("frame_no")).collect()
      .map(r => (r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(out(0)._1 == 1 && math.abs(out(0)._2 - 1.0) < 1e-9 && math.abs(out(0)._3 - 1.0) < 1e-9)
    assert(math.abs(out(1)._2 - 1.0) < 1e-9 &&
      math.abs(out(1)._3 - 1.0) < 1e-9)
    assert(out(2)._2 < 1.0 && out(2)._3 < 1.0)
  }
}

class InterpolatePipelineSpec extends SparkSpec {
  import spark.implicits._

  test("M6 wiring: predef-mask interpolation changes gradient stats, " +
      "never integrals") {
    val cal = SyntheticFrame.testCalibration(128)
    val geo = Geometry.build(spark, cal).cache()
    val frame = SyntheticFrame.frame(spark, cal, frameNo = 1,
      nHotPer10k = 0, spots = Seq((60, 60, 15000.0, 2.0)))
    // a user-drawn spot mask near the planted feature
    val (pxX, _) = cal.pixelSize
    val predef = Seq(graft.core.MaskShape.Spot(
      62 * pxX / 1000.0, 62 * pxX / 1000.0, 6 * pxX / 1000.0))

    val on = FramePipeline.process(frame, geo, cal, predef = predef)
    val off = FramePipeline.process(frame, geo, cal, predef = predef,
      params = Classification.Params(interpolate = false))

    // integrals identical: interpolation only rewrites masked pixels,
    // which every integral variant excludes
    def integMap(o: FramePipeline.FrameOutputs) =
      o.integrals.collect().map(r =>
        r.getAs[Int]("tth_bin") -> r.getAs[Double]("i_base")).toMap
    assert(integMap(on) == integMap(off))

    // masked pixels' corr is rewritten to the neighbourhood interpolation
    val pmask = graft.core.MaskShape.combined(predef)
    val corrOn = on.pixels.where(pmask).agg(sum($"corr")).head.getDouble(0)
    val corrOff = off.pixels.where(pmask).agg(sum($"corr")).head.getDouble(0)
    assert(math.abs(corrOn - corrOff) > 1e-6,
      "interpolation did not rewrite masked pixels")

    // gradient stats near the mask shift (the reference's motivation)
    val gOn = on.gradStats.agg(sum(abs($"mean"))).head.getDouble(0)
    val gOff = off.gradStats.agg(sum(abs($"mean"))).head.getDouble(0)
    assert(math.abs(gOn - gOff) > 1e-9, "gradients unaffected by M6")
  }
}

class CorrectionsPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("P1/S10 wiring: a 2x flat-field doubles every unmasked integral") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).cache()
    val frame = SyntheticFrame.frame(spark, cal, frameNo = 1,
      nHotPer10k = 0)
    val flat = (for (y <- 0 until 96; x <- 0 until 96) yield (y, x, 2.0))
      .toDF("y", "x", "value")

    val plain = FramePipeline.process(frame, geo, cal)
    val ff = FramePipeline.process(frame, geo, cal,
      corrections = graft.ops.Corrections.Frames(flatField = Some(flat)))

    def m(o: FramePipeline.FrameOutputs) = o.integrals.collect()
      .map(r => r.getAs[Int]("tth_bin") ->
        (r.getAs[Double]("i_base"), r.getAs[Long]("n_base"))).toMap
    val a = m(plain); val b = m(ff)
    // same bins survive (flat-field cannot change the nonpositive mask
    // for a positive multiplier), each base integral exactly doubles
    assert(a.keySet == b.keySet && a.nonEmpty)
    a.foreach { case (bin, (i0, n0)) =>
      val (i1, n1) = b(bin)
      assert(n0 == n1, s"bin $bin pixel count changed")
      assert(math.abs(i1 - 2 * i0) < 1e-6 * math.max(1.0, math.abs(i0)),
        s"bin $bin: $i1 != 2 * $i0")
    }
  }

  test("dark subtraction shifts the non-positive mask (reference order: " +
      "corrections before masking)") {
    val cal = SyntheticFrame.testCalibration(96)
    val geo = Geometry.build(spark, cal).cache()
    val frame = SyntheticFrame.frame(spark, cal, frameNo = 1,
      nHotPer10k = 0)
    // dark frame equal to a huge constant with scale -1 drives every
    // pixel non-positive -> everything base-masked
    val dark = (for (y <- 0 until 96; x <- 0 until 96) yield (y, x, 1e9))
      .toDF("y", "x", "value")
    val out = FramePipeline.process(frame, geo, cal,
      corrections = graft.ops.Corrections.Frames(dark = Some((dark, -1.0))))
    assert(out.pixels.where(!col("base_mask")).count() == 0)
  }
}

class BroadcastGuardSpec extends SparkSpec {

  test("ring-stats join broadcasts under the cap, shuffles above it, " +
      "same results") {
    val cal = SyntheticFrame.testCalibration(96)
    val frame = SyntheticFrame.frame(spark, cal, frameNo = 1,
      nHotPer10k = 20)
    // a 96² frame's ring stats are small enough for Spark's own
    // size-based broadcast, which would hide the guard's choice; with it
    // off, the plans show exactly what the guard decides
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      def run(cap: Long) = FramePipeline.flagOutliers(frame, cal,
        maxBroadcastStatsRows = cap)
      val bcast = run(1000000L)
      val shuffle = run(1L) // force the shuffle path
      val a = bcast.where(col("is_outlier")).select(col("y"), col("x"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val b = shuffle.where(col("is_outlier")).select(col("y"), col("x"))
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(a == b && a.nonEmpty)
      // the guard actually changes the physical join strategy: the
      // broadcast plan has one more broadcast join than the shuffle plan
      def nBroadcast(df: org.apache.spark.sql.DataFrame) =
        "BroadcastHashJoin".r.findAllIn(
          df.queryExecution.executedPlan.toString).length
      assert(nBroadcast(bcast) > nBroadcast(shuffle))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
