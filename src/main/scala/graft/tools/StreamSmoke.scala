package graft.tools

import org.apache.spark.sql.SparkSession

import graft.core.{Pins, SyntheticFrame}
import graft.geometry.Geometry
import graft.sources.FrameSource
import graft.streaming.StreamingPipeline

/** End-to-end STREAMING-driver smoke: synthesize `nFrames` TIFF files on
  * disk, run the full `StreamingPipeline.start` backfill
  * (Trigger.AvailableNow) with every sink enabled — parquet tables,
  * per-frame .chi x4, mask TIFFs x4, stats CSVs, csim text, timing — and
  * report wall seconds per frame: the number a beamline user actually
  * experiences from "file appears" to "outputs on disk".
  *
  *   sbt "runMain graft.tools.StreamSmoke [nFrames] [size] [maxFilesPerTrigger]"
  *
  * Complements [[ScaleSmoke]] (which times the per-frame plan's stages in
  * isolation); this one includes decode-from-TIFF, the foreachBatch
  * orchestration, cross-batch csim state, and all compatibility sinks.
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val nFrames = if (args.length > 0) args(0).toInt else 100
    val size = if (args.length > 1) args(1).toInt else 512
    val maxFiles = if (args.length > 2) args(2).toInt else 32
    // GRAFT_MASTER overrides for multi-executor validation, e.g.
    // "local-cluster[2,12,28672]" (needs SPARK_HOME and
    // SPARK_SCALA_VERSION=2.13 in the env — see ClusterSmoke)
    val master = sys.env.getOrElse("GRAFT_MASTER", "local[32]")
    val b = SparkSession.builder().master(master)
      .appName("graft-stream-smoke")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // survive multi-minute GC stalls on the throttled sandbox host
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
    val spark = (if (!master.startsWith("local-cluster")) b
      else LocalClusterConf.executorConf(b,
        sys.env.getOrElse("GRAFT_EXEC_MEM", "24576m")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val cal = SyntheticFrame.testCalibration(size)
    val inDir = java.nio.file.Files
      .createTempDirectory("graft_stream_in").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft_stream_out").toString

    // synthesize input TIFFs (not timed — stands in for the detector)
    val t0 = System.nanoTime()
    (1 to nFrames).foreach { no =>
      val px = SyntheticFrame.frame(spark, cal, no, nHotPer10k = 2,
        spots = Seq((size / 3, size / 3, 30000.0, 3.0)),
        arcs = Seq((5.5, 20.0, 160.0, 9000.0))).collect()
      val m = Array.ofDim[Int](size, size)
      px.foreach(r => m(r.getInt(1))(r.getInt(2)) = r.getInt(3))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$inDir/synth-$no%05d.tif"),
        FrameSource.encodeTiff(m))
    }
    println(f"STREAM_SMOKE synth      ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
      f" ($nFrames x $size x $size)")

    val geo = Pins.pin(Geometry.build(spark, cal))
    val t1 = System.nanoTime()
    val q = StreamingPipeline.start(spark, inDir, outDir, cal, geo,
      availableNow = true, maxFilesPerTrigger = maxFiles)
    q.awaitTermination(3600000)
    val wall = (System.nanoTime() - t1) / 1e9
    println(f"STREAM_SMOKE backfill   $wall%8.2f s")
    println(f"STREAM_SMOKE per-frame  ${wall / nFrames}%8.3f s/frame " +
      f"(${nFrames / wall}%6.3f frames/s)")

    val nChi = new java.io.File(s"$outDir/integrals").list()
      .count(_.endsWith(".chi"))
    val nTif = new java.io.File(s"$outDir/masks").list()
      .count(_.endsWith(".tif"))
    val nCsv = new java.io.File(s"$outDir/stats").list()
      .count(_.endsWith(".csv"))
    println(s"STREAM_SMOKE sink files: $nChi chi, $nTif tif, $nCsv csv")
    val timing = graft.ops.Timing.summary(spark, s"$outDir/tables")
    timing.collect().foreach(r =>
      println(f"STREAM_SMOKE stage ${r.getString(0)}%-16s " +
        f"n=${r.getLong(1)}%3d mean=${r.getDouble(2)}%7.2f s " +
        f"std=${r.getDouble(3)}%6.2f"))
    spark.stop()
  }
}
