package graft.geometry

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.{Calibration, SyntheticFrame}

class GeometrySpec extends SparkSpec {

  val cal = SyntheticFrame.testCalibration(64)
  lazy val geo = Geometry.build(spark, cal).cache()

  // the two per-pixel mirrors the fused gradient kernel runs in place of
  // the geometry join: scalarPixelHatsInto fills its hat planes (phat is
  // (-rhat_x, rhat_y) by construction), scalarPixelGeoInto the columns
  // of every emitted pixel
  test("scalarPixelGeo mirrors the attach columns bit-exactly " +
      "(hats + q_bin), including the beam-center pixel") {
    val geoF = Geometry.scalarPixelGeoInto(cal)
    val hatsF = Geometry.scalarPixelHatsInto(cal)
    val g = new Geometry.PixelGeoHolder
    val hats = new Array[Double](2)
    val cols = geo.select(col("y"), col("x"), col("rhat_y"),
        col("rhat_x"), col("phat_y"), col("phat_x"), col("q_bin"))
      .collect()
    assert(cols.length == 64 * 64)
    cols.foreach { r =>
      val (y, x) = (r.getInt(0), r.getInt(1))
      hatsF(y, x, hats)
      assert(hats(0) == r.getDouble(2) && hats(1) == r.getDouble(3) &&
        -hats(1) == r.getDouble(4) && hats(0) == r.getDouble(5),
        s"scalarPixelHatsInto diverges at ($y, $x)")
      geoF(y, x, g)
      assert(g.rhatY == r.getDouble(2) && g.rhatX == r.getDouble(3) &&
        g.phatY == r.getDouble(4) && g.phatX == r.getDouble(5) &&
        g.qBin == r.getInt(6),
        s"scalarPixelGeoInto hats/q_bin diverge at ($y, $x)")
    }
  }

  test("scalarPixelGeoFull mirrors ALL narrow-projection attach columns " +
      "bit-exactly (x_mm/y_mm/tth_bin/q/azim/azim_flipped)") {
    val f = Geometry.scalarPixelGeoInto(cal)
    val g = new Geometry.PixelGeoHolder
    val cols = geo.select(col("y"), col("x"), col("x_mm"), col("y_mm"),
        col("tth_bin"), col("q"), col("azim"), col("azim_flipped"),
        col("rhat_y"), col("rhat_x"), col("phat_y"), col("phat_x"),
        col("q_bin"))
      .collect()
    assert(cols.length == 64 * 64)
    cols.foreach { r =>
      f(r.getInt(0), r.getInt(1), g)
      assert(g.xMm == r.getDouble(2) && g.yMm == r.getDouble(3) &&
        g.tthBin == r.getInt(4) && g.q == r.getDouble(5) &&
        g.azim == r.getDouble(6) && g.azimFlipped == r.getDouble(7) &&
        g.rhatY == r.getDouble(8) && g.rhatX == r.getDouble(9) &&
        g.phatY == r.getDouble(10) && g.phatX == r.getDouble(11) &&
        g.qBin == r.getInt(12),
        s"full scalar geo diverges at (${r.getInt(0)}, ${r.getInt(1)})")
    }
  }

  test("2-theta is ~0 at the beam center and grows with radius") {
    val cx = (cal.center._1 / (cal.pixelSize._1 / 1000.0) - 0.5).round.toInt
    val cy = (cal.center._2 / (cal.pixelSize._2 / 1000.0) - 0.5).round.toInt
    val centerTth = geo.where(col("x") === cx && col("y") === cy)
      .select(col("tth")).collect()(0).getDouble(0)
    assert(centerTth < 0.1)
    val cornerTth = geo.where(col("x") === 63 && col("y") === 63)
      .select(col("tth")).collect()(0).getDouble(0)
    assert(cornerTth > centerTth + 1.0)
  }

  test("azimuth spans all four quadrants and flipped is 180 deg offset") {
    val r = geo.agg(min(col("azim")), max(col("azim"))).collect()(0)
    assert(r.getDouble(0) >= 0.0 && r.getDouble(1) <= 360.0)
    assert(r.getDouble(1) - r.getDouble(0) > 270.0)
    val bad = geo.where(
      abs(pmod(col("azim") + 180.0, lit(360.0)) - col("azim_flipped")) > 1e-9)
      .count()
    assert(bad == 0)
  }

  test("q is monotonic in tth and matches the closed form") {
    val bad = geo.where(abs(col("q") -
      Geometry.tthToQ(col("tth"), cal.wavelength)) > 1e-9).count()
    assert(bad == 0)
  }

  test("tth bins: in-range pixels get [0, outChannels), others -1") {
    val r = geo.agg(min(col("tth_bin")), max(col("tth_bin"))).collect()(0)
    assert(r.getInt(0) == -1 || r.getInt(0) >= 0)
    assert(r.getInt(1) < cal.outChannels)
    val wrong = geo.where(col("in_tth_range") &&
      (col("tth_bin") < 0 || col("tth_bin") >= cal.outChannels)).count()
    assert(wrong == 0)
  }

  test("polarization factor is in (0, 1] and 1 at tth=0") {
    import spark.implicits._
    val p = Seq((0.0, 0.0), (10.0, 45.0), (45.0, 90.0))
      .toDF("tth", "azim")
      .select(Geometry.polarization(col("tth"), col("azim"), 0.99).as("p"))
      .collect().map(_.getDouble(0))
    assert(math.abs(p(0) - 1.0) < 1e-12)
    assert(p.forall(v => v > 0 && v <= 1.0 + 1e-12))
  }

  test("bucketed geometry table joins without shuffling the geometry side") {
    import spark.implicits._
    Geometry.saveBucketed(spark, cal, "geo_bucketed_test", buckets = 8)
    val geo = spark.table("geo_bucketed_test")
    val pixels = (for { y <- 0 until 64; x <- 0 until 64 }
      yield (1, y, x, 100)).toDF("frame_no", "y", "x", "intensity")
    val joined = pixels.hint("merge").join(geo, Seq("y", "x"))
    val plan = joined.queryExecution.executedPlan.toString
    // exactly one exchange: the pixel side; the bucketed scan feeds the
    // sort-merge join directly
    val nExchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(nExchanges == 1, s"expected 1 exchange, plan:\n$plan")
    assert(joined.count() == 64 * 64)
  }

  test("unit conversions round-trip") {
    import spark.implicits._
    val df = Seq(1.0, 5.0, 12.0).toDF("tth")
    val bad = df.select(abs(Geometry.qToTth(
      Geometry.tthToQ(col("tth"), 0.24), 0.24) - col("tth")).as("err"))
      .where(col("err") > 1e-9).count()
    assert(bad == 0)
  }
}

class CalibrationSpec extends SparkSpec {

  test("imctrl parser reads whitelisted keys, keeps defaults otherwise") {
    val cal = Calibration.fromImctrl(
      """wavelength:0.24087
        |distance:689.55
        |center:[214.787, 216.551]
        |tilt:-0.168
        |rotation:327.88
        |IOtth:[1.0, 12.7]
        |outChannels:2500
        |PolaVal:[0.99, False]
        |bogus_key:ignored
        |""".stripMargin.linesIterator)
    assert(cal.wavelength == 0.24087)
    assert(cal.center == ((214.787, 216.551)))
    assert(cal.tilt == -0.168 && cal.rotation == 327.88)
    assert(cal.outChannels == 2500 && cal.polaVal == 0.99)
    assert(cal.azmBands == 360) // default survives
  }

  test("imctrl correction keys: Flat Bkg, dark/background image, " +
      "fullIntegrate") {
    val cal = Calibration.fromImctrl(
      """wavelength:0.24087
        |Flat Bkg:12.5
        |dark image:['/data/dark_00001.tif', -1.0]
        |background image:[, 1.0]
        |fullIntegrate:True
        |LRazimuth:[10.0, 80.0]
        |""".stripMargin.linesIterator)
    assert(cal.flatBkg == 12.5)
    assert(cal.darkImage.contains(("/data/dark_00001.tif", -1.0)))
    assert(cal.backgroundImage.isEmpty) // empty path = not configured
    assert(cal.lrAzimuth == ((0.0, 360.0))) // fullIntegrate wins
  }

  test("Corrections.fromCalibration loads configured frames and flatBkg") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dk")
    val m = Array.tabulate(8, 8)((y, x) => 100 + y + x)
    java.nio.file.Files.write(dir.resolve("dark.tif"),
      graft.sources.FrameSource.encodeTiff(m))
    val cal = Calibration(flatBkg = 3.0,
      darkImage = Some((dir.toString + "/dark.tif", -1.0)))
    val frames = graft.ops.Corrections.fromCalibration(spark, cal)
    assert(frames.flatBkg == 3.0 && frames.background.isEmpty)
    val (df, scale) = frames.dark.get
    assert(scale == -1.0)
    assert(df.count() == 64)
  }

  test("poni conversion: untilted detector maps to tilt=0, mm units") {
    val cal = Calibration.fromPoni(
      """Distance: 0.68955
        |Poni1: 0.216551
        |Poni2: 0.214787
        |Rot1: 0.0
        |Rot2: 0.0
        |Rot3: 0.0
        |Wavelength: 2.4087e-11
        |""".stripMargin.linesIterator)
    assert(math.abs(cal.distance - 689.55) < 1e-9)
    assert(cal.tilt == 0.0)
    assert(math.abs(cal.wavelength - 0.24087) < 1e-12)
    assert(math.abs(cal.center._1 - 214.787) < 1e-9)
    assert(math.abs(cal.center._2 - 216.551) < 1e-9)
  }

  test("metadata sidecar overrides wavelength and pixel size") {
    val cal = Calibration.withMetadata(Calibration(),
      "wavelength=0.5\ndetectorxpixelsize=75\ndetectorypixelsize=75"
        .linesIterator)
    assert(cal.wavelength == 0.5 && cal.pixelSize == ((75.0, 75.0)))
  }

  test("q bin edges span the io range with outChannels+1 edges") {
    val cal = Calibration(outChannels = 100)
    val e = cal.qBinEdges
    assert(e.length == 101)
    assert(math.abs(e.head - cal.tthToQ(cal.ioTth._1)) < 1e-12)
    assert(math.abs(e.last - cal.tthToQ(cal.ioTth._2)) < 1e-12)
  }
}

class FramePipelineSpec extends SparkSpec {

  test("demo pipeline produces integrals and masks hot pixels") {
    val df = graft.pipeline.FramePipeline.demo(spark).cache()
    val n = df.count()
    assert(n > 100)
    // hot pixels (50000) are planted at ~3/10000: in well-populated rings
    // the outlier mask must remove them, so i_om <= i_base overall and
    // strictly smaller somewhere.
    val agg = df.agg(
      sum(when(col("i_om") > col("i_base") + 1e-9, 1).otherwise(0)),
      sum(when(col("i_om") < col("i_base") - 1e-9, 1).otherwise(0)))
      .collect()(0)
    assert(agg.getLong(1) > 0, "outlier mask never fired")
    // i_om can exceed i_base only where the ring guard skipped stats
    val upBins = agg.getLong(0)
    assert(upBins < n / 10)
  }
}

class NumChansSpec extends graft.SparkSpec {

  test("P11: untilted detector matches the closed-form circle radius") {
    val cal = graft.core.Calibration(tilt = 0.0, rotation = 0.0)
    def tand(d: Double) = math.tan(math.toRadians(d))
    val (lo, hi) = cal.ioTth
    val expected = (1000.0 * cal.distance * (tand(hi) - tand(lo)) /
      cal.pixelSize._1).toInt / 2
    val derived = Geometry.deriveNumChans(cal)
    assert(math.abs(derived - expected) <= 1,
      s"derived $derived vs closed-form $expected")
  }

  test("P11: tilted detector gives a positive count that grows with range") {
    val cal = graft.core.Calibration(tilt = 3.0, rotation = 30.0)
    val n1 = Geometry.deriveNumChans(cal)
    val wide = cal.copy(ioTth = (cal.ioTth._1, cal.ioTth._2 + 2.0))
    assert(n1 > 0 && Geometry.deriveNumChans(wide) > n1)
    // tilt shifts the count away from the untilted value but same scale
    val flat = Geometry.deriveNumChans(cal.copy(tilt = 0.0))
    assert(math.abs(n1 - flat).toDouble / flat < 0.1)
  }

  test("P11: hyperbola branch rejected") {
    val cal = graft.core.Calibration(tilt = 50.0,
      ioTth = (1.0, 45.0))
    intercept[IllegalArgumentException] {
      Geometry.deriveNumChans(cal)
    }
  }
}

class CorrectionFrameLoadSpec extends graft.SparkSpec {

  test("S10: correction TIFF loads as (y, x, value)") {
    val m = Array.tabulate(8, 8)((y, x) => y * 10 + x)
    val dir = java.nio.file.Files.createTempDirectory("graft_corr")
    java.nio.file.Files.write(dir.resolve("flat.tif"),
      graft.sources.FrameSource.encodeTiff(m))
    val df = graft.sources.FrameSource.loadCorrectionFrame(spark,
      dir.toString + "/flat.tif")
    val vals = df.collect().map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(vals.size == 64)
    assert(vals((3, 4)) == 34.0)
  }
}
