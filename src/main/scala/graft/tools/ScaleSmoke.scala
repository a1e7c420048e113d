package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{Pins, Session, SyntheticFrame}
import graft.geometry.Geometry
import graft.pipeline.FramePipeline

/** Production-frame-size smoke run: the full per-frame plan (geometry
  * join, ring stats, classification, four integrals, stats tables) over
  * synthetic frames at the REAL detector resolution (2880 x 2880 =
  * 8.3 M px/frame — the reference's Eiger-class frames), plus the
  * executor-side .chi and mask-TIFF sinks. Prints per-stage wall times;
  * exercises the memory/shuffle behavior the sf-scale unit tests cannot.
  *
  *   sbt "runMain graft.tools.ScaleSmoke [nFrames] [size]"
  *
  * Single-JVM scaling note: per-frame work parallelizes by frame_no, but
  * the materialized checkpoints (flagged pixels, gradient field) are
  * ~100 B/px, so an 8-frame batch carries ~7 GB of checkpoint state —
  * beyond a lone 24 GB heap's cache capacity the run turns disk-bound
  * (observed: 2 frames = 21 s/frame, 8 frames = 50 s/frame locally).
  * On a real cluster this state distributes across executors; locally,
  * size maxFilesPerTrigger so a batch's checkpoints fit in memory.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val nFrames = if (args.length > 0) args(0).toInt else 2
    val size = if (args.length > 1) args(1).toInt else 2880
    val spark = Session.builder("graft-scale-smoke", logLevel = "ERROR")
      // the sandbox host's GC pauses reach many minutes under throttled
      // memory bandwidth (SCALE_r05/r06); stock timeouts kill the in-JVM
      // executor mid-measurement ("unable to send heartbeats 60 times")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      .getOrCreate()

    // per-stage GC time rides along so every log self-adjudicates host
    // health (this box throttles its memory bus for minutes at a time —
    // SCALE_r06.md; a stage wall with ~0 GC and low CPU is throttle, a
    // stage wall dominated by GC is heap pressure, neither is the engine)
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def timed[T](stage: String)(f: => T): T = {
      val t0 = System.nanoTime(); val g0 = gcMs
      val r = f
      println(f"SCALE_SMOKE $stage%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
        f"  (gc ${(gcMs - g0) / 1000.0}%6.1f s)")
      r
    }

    val cal = SyntheticFrame.testCalibration(size)
    val geo = timed("geometry")(
      Pins.pin(Geometry.build(spark, cal)))
    val frames = (1 to nFrames).map(no =>
      SyntheticFrame.frame(spark, cal, no, nHotPer10k = 2,
        spots = Seq((size / 3, size / 3, 30000.0, 3.0)),
        arcs = Seq((5.5, 20.0, 160.0, 9000.0))))
      .reduce(_ unionByName _)
    val px = timed("frames")(Pins.pin(frames))
    println(s"SCALE_SMOKE pixels = ${px.count()} (${nFrames}x${size}x$size)")

    // process() eagerly materializes the flagged pixels and the
    // classification flags (both checkpointed inside), so the heavy
    // per-frame work lands here
    val out = timed("process")(FramePipeline.process(px, geo, cal))
    val integrals = timed("integrate")(
      Pins.pin(out.integrals))
    println(s"SCALE_SMOKE integral rows = ${integrals.count()}")
    val pixels = timed("pixel flags")(Pins.pin(out.pixels
      .select(col("frame_no"), col("y"), col("x"),
        col("base_mask"), col("is_outlier"), col("is_spot"), col("is_arc"))))

    val outDir = java.nio.file.Files
      .createTempDirectory("graft_smoke").toString
    timed("chi sink")(graft.sinks.Sinks.writeChi(integrals, outDir, "om",
      dense = Some((cal.outChannels, cal.ioTth._1, cal.tthStep))))
    timed("mask sink")(graft.sinks.Sinks.writeMaskTiffs(pixels, size, size,
      outDir, Seq("spots" -> col("is_spot"), "arcs" -> col("is_arc"))))
    timed("spot stats")(out.spotStats
      .write.format("noop").mode("overwrite").save())
    val nChi = new java.io.File(outDir).list().count(_.endsWith(".chi"))
    val nTif = new java.io.File(outDir).list().count(_.endsWith(".tif"))
    println(s"SCALE_SMOKE sink files: $nChi chi + $nTif tif")
    spark.stop()
  }
}
