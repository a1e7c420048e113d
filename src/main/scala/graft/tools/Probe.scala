package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftshim.Internals

import graft.core.Session

/** Interleaved timing of oracle queries under two or more arms, inside
  * one session so a host-speed drift hits every arm alike.
  *
  *   sbt "runMain graft.tools.Probe <q1,q2|ALL> [arm ...] [reps]"
  *
  * An arm is a comma-separated list of `key=value` session confs and at
  * most one data directory; `-` is the session as built, on
  * `SPARK_GRAFT_SF_DIR` (default `/root/testdata/sf0.1`). Every key any
  * arm names is unset before each run, so an arm differs from the
  * defaults only by what it lists. Examples:
  *
  *   Probe a2_integrate - spark.graft.scan.fanoutMaxBytes=0 5
  *   Probe ALL - spark.sql.adaptive.enabled=false 2
  *   Probe dedup_groups tmp/scalegen/g01 tmp/scalegen/g1 3
  *
  * Each query runs once per arm untimed (codegen, shuffle files), then
  * `reps` rounds (default 3); round r rotates the arm order by r, so two
  * arms swap order every round. Each run prints its wall time and the
  * jobs and tasks it ran; each query ends with every arm's median and,
  * for two arms, how many rounds each arm won. A run that throws is
  * named and the probe exits 1. */
object Probe {

  private final case class Arm(label: String,
                               confs: Seq[(String, String)], dir: String)

  private def parseArm(spec: String, defaultDir: String): Arm = {
    val items = spec.split(",").map(_.trim).filter(i => i.nonEmpty && i != "-")
    val (kvs, dirs) = items.partition(_.contains("="))
    require(dirs.length <= 1, s"arm '$spec' names more than one directory")
    Arm(spec, kvs.toSeq.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) },
      dirs.headOption.getOrElse(defaultDir))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: <q1,q2|ALL> [arm ...] [reps]")
    val defaultDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (armArgs, reps) = args.drop(1) match {
      case a if a.nonEmpty && a.last.forall(_.isDigit) =>
        (a.dropRight(1).toSeq, a.last.toInt)
      case a => (a.toSeq, 3)
    }
    val arms = (if (armArgs.isEmpty) Seq("-") else armArgs)
      .map(parseArm(_, defaultDir))
    val keys = arms.flatMap(_.confs.map(_._1)).distinct
    val spark = Session.builder("graft-probe", logLevel = "ERROR")
      .getOrCreate()
    val names =
      if (args(0) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq

    val jobs = new AtomicLong(); val tasks = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })
    var failed = Seq.empty[String]
    /** Wall seconds of one run, or None when it throws. */
    def run(q: String, arm: Arm): Option[Double] = {
      keys.foreach(spark.conf.unset)
      arm.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      Internals.drainListeners(spark.sparkContext)
      jobs.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      try {
        graft.SparkEntry.queries(q)(spark, arm.dir)
          .write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[probe] $q [${arm.label}] failed: ${e.getMessage}")
        failed :+= s"$q [${arm.label}]"
        None
      }
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    names.foreach { q =>
      arms.foreach(run(q, _))
      val rounds = (0 until reps).map { r =>
        val order = arms.indices.drop(r % arms.size) ++
          arms.indices.take(r % arms.size)
        order.map { a =>
          val sec = run(q, arms(a))
          Internals.drainListeners(spark.sparkContext)
          sec.foreach(s => println(f"PROBE $q%-26s rep ${r + 1}%2d " +
            f"[${arms(a).label}] $s%8.3f s  jobs ${jobs.get}%4d  " +
            f"tasks ${tasks.get}%6d"))
          a -> sec
        }.toMap
      }
      val meds = arms.indices.map(a => median(rounds.flatMap(_(a))))
      val wins =
        if (arms.size != 2) ""
        else {
          val both = rounds.flatMap(m => m(0).zip(m(1)))
          s"  wins ${both.count(p => p._1 < p._2)}/${both.count(p => p._2 < p._1)}"
        }
      println(s"PROBE $q SUMMARY " + arms.indices.map(a =>
        f"[${arms(a).label}] ${meds(a)}%.3f s").mkString("  ") + wins)
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[probe] ${failed.size} runs failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
