package graft.tools

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Pins, Session, SyntheticFrame}
import graft.geometry.Geometry
import graft.pipeline.FramePipeline

/** MULTI-EXECUTOR validation: runs the production frame plan or a set of
  * oracle queries on Spark's `local-cluster[n, cores, mem]` master —
  * REAL separate executor JVMs talking to the driver over the
  * standalone protocol, the closest a single host gets to a cluster.
  * Scale arguments audited on `local[]` (frame-keyed stages shuffle-free
  * on the fact side, bounded broadcast gates, executor-side task state)
  * share one JVM there, where broadcasts are free; this observes them
  * across process boundaries.
  *
  * Prints deterministic fingerprints of the outputs for comparison
  * against a `local[]` run of the same arguments (execs=0), and how many
  * DISTINCT executors ran each multi-task stage (a stage pinned to one
  * executor at 2 executors would be serial at 1000).
  *
  *   sbt "runMain graft.tools.ClusterSmoke frames [execs] [coresPer] [memMb] [nFrames] [size]"
  *   sbt "runMain graft.tools.ClusterSmoke queries [execs] [coresPer] [memMb] [sfDir] [names...]"
  *
  * frames: decimal sums over the `process()` outputs, plus per-stage
  * wall times. queries: an md5 over each query's ordered rows (every
  * oracle query ends with a total ORDER BY). execs=0 runs plain
  * `local[]`. Needs SPARK_HOME=/opt/spark and SPARK_SCALA_VERSION=2.13
  * for `local-cluster` (see [[LocalClusterConf]]).
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && Set("frames", "queries")(args(0)),
      "usage: frames|queries [execs] [coresPer] [memMb] ...")
    def arg(i: Int, default: String) =
      if (args.length > i) args(i) else default
    val execs = arg(1, "2").toInt
    val coresPer = arg(2, "2").toInt
    val memMb = arg(3, "4096").toInt

    val b = Session.builder("graft-cluster-smoke",
        cpus = if (execs <= 0) Session.cpus else execs * coresPer,
        logLevel = "ERROR")
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
    val spark = (if (execs <= 0) b
      else LocalClusterConf.executorConf(
        b.master(s"local-cluster[$execs,$coresPer,$memMb]"),
        s"${memMb - 1024}m"))
      .getOrCreate()
    println(s"[cluster] master ${spark.sparkContext.master}")

    // stage → executors that ran its tasks
    val stageExecs = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[String]]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          stageExecs.computeIfAbsent(e.stageId,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
            .add(e.taskInfo.executorId)
      })

    if (args(0) == "frames") frames(spark, arg(4, "2").toInt, arg(5, "1440").toInt)
    else queries(spark, arg(4, "/root/testdata/sf0.01"),
      if (args.length > 5) args.drop(5).toSeq else DefaultQueries)

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
      s"($multi ran on >1 executor; $single multi-task stages pinned " +
      "to one executor)")
    rows.filter(r => r._2 > 1).foreach { case (sid, nt, ne, ex) =>
      println(f"[cluster]   stage $sid%4d tasks=$nt%4d execs=$ne  [$ex]")
    }
    spark.stop()
  }

  val DefaultQueries: Seq[String] = Seq(
    "events_sessionize", "j8_asof", "j9_range_join", "text_topk_terms",
    "text_tfidf", "sample_stratified", "sample_topn", "dedup_canonical",
    "decontaminate", "dedup_groups", "text_winnow", "skew_salted_agg",
    "j10_bloom_join", "sketch_cms_heavy", "sketch_hll_distinct",
    "text_repetition", "text_redact", "sample_weighted",
    "cluster_kmeans", "text_tokens", "text_unigram_logprob")

  private def frames(spark: SparkSession, nFrames: Int, size: Int): Unit = {
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
    println(s"[cluster] pixels = ${px.count()}")

    val out = t("process")(FramePipeline.process(px, geo, cal))
    // decimal sums are accumulation-order independent, so these match a
    // local[] run of the same arguments exactly
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
  }

  private def queries(spark: SparkSession, sfDir: String,
                      names: Seq[String]): Unit =
    names.foreach { name =>
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(name)(spark, sfDir).collect()
      val digest = MessageDigest.getInstance("MD5")
      rows.foreach(r => digest.update(r.toString.getBytes("UTF-8")))
      val fp = digest.digest().map("%02x".format(_)).mkString.take(16)
      println(f"[cluster] $name%-22s rows=${rows.length}%-7d fp=$fp " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
}
