package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Pins, SyntheticFrame}
import graft.geometry.Geometry
import graft.pipeline.FramePipeline

/** MULTI-EXECUTOR validation (round-6 verdict, Missing #1): runs the
  * production process() plan on Spark's `local-cluster[n, cores, mem]`
  * master — REAL separate executor JVMs talking to the driver over the
  * standalone protocol, the closest this sandbox gets to a cluster. Every
  * scale argument so far (frame-keyed stages shuffle-free on the fact
  * side, bounded broadcast gates, executor-side task state) was
  * code-audited on local[32] only, where executor and driver share one
  * JVM and broadcasts are free; this observes them across process
  * boundaries.
  *
  * Prints per-stage wall time plus, per stage: how many DISTINCT
  * executors ran its tasks (the scale-out claim — a stage pinned to one
  * executor at 2 executors would be serial at 1000), and a deterministic
  * decimal fingerprint of the outputs for comparison against a local[]
  * run of the same arguments.
  *
  *   sbt "runMain graft.tools.ClusterSmoke [execs] [coresPer] [memMb] [nFrames] [size]"
  *   execs=0 → plain local[32] (fingerprint baseline)
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val execs = if (args.length > 0) args(0).toInt else 2
    val coresPer = if (args.length > 1) args(1).toInt else 8
    val memMb = if (args.length > 2) args(2).toInt else 12288
    val nFrames = if (args.length > 3) args(3).toInt else 2
    val size = if (args.length > 4) args(4).toInt else 1440

    val master =
      if (execs <= 0) "local[32]"
      else s"local-cluster[$execs,$coresPer,$memMb]"
    val b = SparkSession.builder().master(master)
      .appName("graft-cluster-smoke")
      .config("spark.sql.shuffle.partitions",
        math.max(8, execs * coresPer).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
    val spark = (if (execs <= 0) b
      else LocalClusterConf.executorConf(b, s"${memMb - 1024}m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // stage → executors that ran its tasks
    val stageExecs = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[String]]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          stageExecs.computeIfAbsent(e.stageId,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
            .add(e.taskInfo.executorId)
        }
        override def onStageCompleted(
            e: org.apache.spark.scheduler
              .SparkListenerStageCompleted): Unit =
          stageNames.put(e.stageInfo.stageId, e.stageInfo.name)
      })

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[cluster] $name%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val cal = SyntheticFrame.testCalibration(size)
    val geo = t("geometry")(Pins.pin(Geometry.build(spark, cal)))
    val px = t("frames")(Pins.pin((1 to nFrames).map(no =>
        SyntheticFrame.frame(spark, cal, no, nHotPer10k = 2,
          spots = Seq((size / 3, size / 3, 30000.0, 3.0)),
          arcs = Seq((5.5, 20.0, 160.0, 9000.0))))
      .reduce(_ unionByName _)))
    println(s"[cluster] pixels = ${px.count()} on master $master")

    val out = t("process")(FramePipeline.process(px, geo, cal))
    // deterministic fingerprints (decimal sums are accumulation-order
    // independent) — must match a local[] run of the same args exactly
    val fp1 = t("integrals")(out.integrals
      .agg(sum(col("i_om").cast("decimal(28,6)")).as("s"),
        sum(col("n_base")).as("n")).collect()(0))
    val fp2 = t("qbinStats")(out.qbinStats
      .agg(sum(col("med").cast("decimal(28,6)")).as("s"),
        count(lit(1)).as("n")).collect()(0))
    val fp3 = t("spot flags")(out.pixels
      .agg(count(when(col("is_spot"), 1)).as("spots"),
        count(when(col("is_arc"), 1)).as("arcs")).collect()(0))
    println(s"[cluster] FINGERPRINT integrals=$fp1 qbin=$fp2 flags=$fp3")

    // scale-out evidence: distinct executors per stage, summarized
    import scala.jdk.CollectionConverters._
    val rows = stageExecs.asScala.toSeq.map { case (sid, q) =>
      val execSet = q.asScala.toSet
      (sid, q.size, execSet.size, execSet.toSeq.sorted.mkString(","))
    }.sortBy(_._1)
    val nExecsSeen = rows.flatMap(_._4.split(",")).toSet.size
    val multi = rows.count(_._3 > 1)
    val single = rows.count(r => r._3 == 1 && r._2 > 1)
    println(s"[cluster] executors seen: $nExecsSeen; stages: ${rows.size} " +
      s"(${multi} ran on >1 executor; $single multi-task stages pinned " +
      "to one executor)")
    rows.filter(r => r._2 > 1).foreach { case (sid, nt, ne, ex) =>
      println(f"[cluster]   stage $sid%4d tasks=$nt%4d execs=$ne  [$ex]")
    }
    spark.stop()
  }
}
