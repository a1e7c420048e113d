package graft.sinks

import graft.SparkSpec

class SinksSpec extends SparkSpec {

  test(".chi body matches the reference golden format byte-for-byte") {
    // golden bytes from docs/GuiliangJun25_tutorial_output/integrals/
    // MA2-00001_base.chi (Export_chi pipeline.py:44-52)
    val goldenHead = Seq(
      "MA2-00001.tif Azm= 0.00",
      "2-Theta Angle (Degrees)",
      "Intensity",
      "       2500",
      " 1.0023400e+00   7.8731575e+03",
      " 1.0070200e+00   7.8724905e+03")
    val rows = Seq((1.00234, 7873.1575), (1.00702, 7872.4905)) ++
      Seq.fill(2498)((2.0, 1.0))
    val body = Sinks.chiBody("MA2-00001.tif", rows)
    assert(body.linesIterator.take(6).toSeq == goldenHead)
  }

  test("writeChi densifies missing channels with zeros") {
    import spark.implicits._
    val integ = Seq((1, 0, 1.05, 10.0), (1, 2, 1.25, 30.0))
      .toDF("frame_no", "tth_bin", "tth", "i_base")
    val dir = java.nio.file.Files.createTempDirectory("graft_chi").toString
    Sinks.writeChi(integ, dir, "base", dense = Some((4, 1.0, 0.1)))
    val lines = scala.io.Source.fromFile(s"$dir/frame-00001_base.chi")
      .getLines().toSeq
    assert(lines(3).trim == "4")
    val vals = lines.drop(4).map(_.trim.split("\\s+")(1).toDouble)
    assert(vals == Seq(10.0, 0.0, 30.0, 0.0))
  }

  test("writeChiAll: one pass writes every variant's file of every frame") {
    import spark.implicits._
    val integ = Seq[(Int, Int, Double, Option[Double], Option[Double])](
        (1, 0, 1.05, Some(10.0), Some(9.0)), (1, 2, 1.25, Some(30.0), None),
        (2, 1, 1.15, Some(20.0), Some(19.0)))
      .toDF("frame_no", "tth_bin", "tth", "i_base", "i_om")
    val dir = java.nio.file.Files.createTempDirectory("graft_chiall").toString
    Sinks.writeChiAll(integ, dir, Seq("base", "om"),
      dense = Some((3, 1.0, 0.1)), dataset = "MA2")
    def expect(f: Int, vals: Seq[Double]) = Sinks.chiBody(
      f"MA2-$f%05d.tif", vals.zipWithIndex.map { case (v, b) =>
        (1.0 + (b + 0.5) * 0.1, v) })
    def read(f: Int, v: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(f"$dir/MA2-$f%05d_$v.chi"))
    assert(read(1, "base") == expect(1, Seq(10.0, 0.0, 30.0)))
    assert(read(1, "om") == expect(1, Seq(9.0, 0.0, 0.0))) // null -> 0
    assert(read(2, "base") == expect(2, Seq(0.0, 20.0, 0.0)))
    assert(read(2, "om") == expect(2, Seq(0.0, 19.0, 0.0)))
  }

  test("writeCsv emits headered csv readable back with the same rows") {
    import spark.implicits._
    val df = Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "s", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    Sinks.writeCsv(df, dir, "stats")
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$dir/stats")
    assert(back.columns.toSeq == Seq("id", "s", "v"))
    assert(back.orderBy($"id").collect().map(r =>
      (r.getInt(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1, "a", 1.5), (2, "b", 2.5)))
  }

  test("graft.sinks contains no driver-side collect") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/sinks/Sinks.scala")))
    assert(!src.contains(".collect()"), "driver collect in sink path")
  }

  test("writeFrameCsv: one pandas-shaped CSV per frame with the stem") {
    import spark.implicits._
    val df = Seq((1, 10L, 2.5), (1, 11L, 3.5), (2, 20L, 4.5))
      .toDF("frame_no", "spot_stat_label", "medianQ")
    val dir = java.nio.file.Files.createTempDirectory("graft_fcsv").toString
    Sinks.writeFrameCsv(df, dir, "_spots_stats_df", "MA2")
    val f1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/MA2-00001_spots_stats_df.csv"))
    assert(f1 ==
      ",spot_stat_label,medianQ\n0,10,2.5\n1,11,3.5\n")
    val f2 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/MA2-00002_spots_stats_df.csv"))
    assert(f2 == ",spot_stat_label,medianQ\n0,20,4.5\n")
  }

  test(".xye body matches the reference Export_xye layout") {
    val body = Sinks.xyeBody("MA2-00001.tif",
      Seq((1.00234, 7873.1575, Some(2.5)), (1.00702, 7872.0, None)))
    assert(body ==
      "/*\n# MA2-00001.tif\n*/\n" +
      "1.00234\t7873.1575\t2.5\n" +
      "1.00702\t7872.0\t0\n")
  }

  test("csim body format") {
    assert(Sinks.csimBody(0.999999999, 0.87654321999) ==
      "0.999999999\t0.876543220")
  }

  test("sink filenames carry the acquisition stem and round-trip the " +
      "reference UI's identity parsing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_stem").toString
    val integ = Seq((7, 0, 1.05, 10.0), (7, 1, 1.15, 20.0))
      .toDF("frame_no", "tth_bin", "tth", "i_base")
    Sinks.writeChi(integ, dir, "base", dataset = "MA2")
    // reference shape (pipeline.py:416-449): <name>-<number>_<variant>.chi
    // with the source image name in the header line
    val chi = new java.io.File(s"$dir/MA2-00007_base.chi")
    assert(chi.exists, "chi not named <name>-<number>_<variant>.chi")
    val head = scala.io.Source.fromFile(chi).getLines().next()
    assert(head == "MA2-00007.tif Azm= 0.00")
    // the header's source name parses back through the frame-identity
    // regex to the same (dataset, frame) — the UI's grouping key
    val m = java.util.regex.Pattern
      .compile(graft.sources.FrameSource.frameRegex).matcher("MA2-00007.tif")
    assert(m.matches && m.group(1) == "MA2" && m.group(2).toInt == 7)
    // the UI stem glob (mainUI/contour.py:170-186: filename up to the
    // first 5-digit group, + "*" + extension) selects the file
    assert(chi.getName.startsWith("MA2-") && chi.getName.endsWith("_base.chi"))

    // mask TIFFs and csim text carry the same stem
    val px = Seq((7, 0, 0, true)).toDF("frame_no", "y", "x", "flag")
    Sinks.writeMaskTiffs(px, 2, 2, dir, Seq("spots" -> col("flag")),
      dataset = "MA2")
    assert(new java.io.File(s"$dir/MA2-00007_spots.tif").exists)
    val series = Seq(("MA2", 7, 0.5, 0.25))
      .toDF("dataset", "frame_no", "csim_first", "csim_prev")
    Sinks.writeCsimTxt(series, dir)
    // body format: "%0.9f\t%0.9f\n" (pipeline.py:554-557)
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/MA2-00007_csim.txt"))
    assert(txt == "0.500000000\t0.250000000\n")
  }

  test("qbinedges table has outChannels+1 monotone edges") {
    val cal = graft.core.Calibration(outChannels = 50)
    val dir = java.nio.file.Files.createTempDirectory("graft_qe").toString
    Sinks.writeQBinEdges(spark, cal, dir, "ds1")
    val edges = spark.read.parquet(s"$dir/q_bin_edges")
      .orderBy(org.apache.spark.sql.functions.col("edge_idx"))
      .collect().map(_.getAs[Double]("q"))
    assert(edges.length == 51)
    assert(edges.sliding(2).forall(p => p(1) > p(0)))
  }

  test("mask TIFF sink: set-pixel filter keeps all-zero masks and " +
    "null flags writing correct files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mz").toString
    // frame 1: one spot pixel, arcs all-false; frame 2: NOTHING set
    // (must still write both files, all-zero); null flag = false
    val px = Seq(
      (1, 0, 1, Some(true), Some(false)),
      (1, 1, 0, Some(false), None),
      (2, 0, 0, Some(false), Some(false)),
      (2, 1, 1, None, None)).toDF("frame_no", "y", "x", "s", "a")
    Sinks.writeMaskTiffs(px, 2, 2, dir,
      Seq("spots" -> org.apache.spark.sql.functions.col("s"),
        "arcs" -> org.apache.spark.sql.functions.col("a")), dataset = "Z")
    def px00(name: String): Map[(Int, Int), Int] =
      graft.sources.FrameSource.decodeTiff(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$dir/$name"))).toSeq
        .map { case (y, x, v) => (y, x) -> v }.toMap
    val f1s = px00("Z-00001_spots.tif")
    assert(f1s((0, 1)) == 1 && f1s((1, 0)) == 0 && f1s((0, 0)) == 0)
    assert(px00("Z-00001_arcs.tif").values.forall(_ == 0))
    assert(px00("Z-00002_spots.tif").values.forall(_ == 0))
    assert(px00("Z-00002_arcs.tif").values.forall(_ == 0))
  }
}

class MapTiffSpec extends graft.SparkSpec {

  test("float32 TIFF encode/decode round-trips bit-exactly") {
    val m = Array.tabulate(5, 7)((y, x) => (y * 7 + x) * 1.25f - 3f)
    val back = graft.sources.FrameSource.decodeTiffFloat(
      graft.sources.FrameSource.encodeTiffFloat(m))
    assert(back.length == 5 && back(0).length == 7)
    assert(back.flatten.toSeq == m.flatten.toSeq)
  }

  test("writeMapTiffs emits the five reference map files matching the " +
      "geometry table") {
    val cal = graft.core.SyntheticFrame.testCalibration(16)
    val geo = graft.geometry.Geometry.build(spark, cal)
    val dir = java.nio.file.Files.createTempDirectory("graft_maps").toString
    Sinks.writeMapTiffs(geo, 16, 16, dir, "MA2")
    val expect = Map(
      "2thetamap" -> "tth", "azmmap" -> "azim",
      "pixelsampledistmap" -> "dist_sq", "polscalemap" -> "pol",
      "qmap" -> "q")
    expect.foreach { case (nm, colName) =>
      val f = new java.io.File(s"$dir/MA2_$nm.tif")
      assert(f.exists(), s"missing $nm")
      val mat = graft.sources.FrameSource.decodeTiffFloat(
        java.nio.file.Files.readAllBytes(f.toPath))
      val table = geo.select(
          org.apache.spark.sql.functions.col("y"),
          org.apache.spark.sql.functions.col("x"),
          org.apache.spark.sql.functions.col(colName).cast("float"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getFloat(2))
        .toMap
      table.foreach { case ((y, x), v) =>
        assert(mat(y)(x) == v, s"$nm($y,$x): ${mat(y)(x)} != $v")
      }
    }
  }
}

class TimingSpec extends graft.SparkSpec {

  test("A14 timing table: write + mean/std summary per stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tm").toString
    graft.ops.Timing.write(spark, dir, "ds1",
      Seq("decode" -> 1.0, "process" -> 3.0))
    graft.ops.Timing.write(spark, dir, "ds1",
      Seq("decode" -> 3.0, "process" -> 3.0))
    val s = graft.ops.Timing.summary(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(s("decode") == ((2L, 2.0, 1.0)))  // mean 2, std_pop 1
    assert(s("process") == ((2L, 3.0, 0.0)))
  }

  test("A14 stages timed from concurrent driver threads all reach the " +
      "timing table under their names") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tm2").toString
    // the streaming batch's overlapped pin and sink stages
    val stages = Seq("process", "stats", "sink_integrals", "sink_chi",
      "sink_masks", "sink_stats_tables", "sink_stats_csv", "spottiness",
      "csim")
    val reps = 200
    val buf = new graft.ops.Timing.Buffer()
    val start = new java.util.concurrent.CountDownLatch(stages.size)
    graft.core.Overlap.par(stages.map(st => () => {
      start.countDown(); start.await()
      (1 to reps).foreach(_ => graft.ops.Timing.timed(st, buf)(()))
    }): _*)
    import scala.jdk.CollectionConverters._
    graft.ops.Timing.write(spark, dir, "ds1", buf.asScala.toSeq)
    val n = graft.ops.Timing.summary(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == stages.map(_ -> reps.toLong).toMap)
  }
}
