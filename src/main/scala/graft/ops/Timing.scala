package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A14 — per-stage wall-time accounting (reference keeps a
  * list_of_times/list_of_time_names pair and prints mean +/- std per
  * stage on stop, pipeline_queue.py:1010-1014).
  *
  * Spark-native shape: stages append (dataset, stage, seconds) rows to a
  * `timing` parquet table as they run; the summary is a groupBy — so the
  * stats survive restarts and scale to any number of batches, instead of
  * living in driver memory.
  *
  * Stage times may OVERLAP within a batch: the streaming driver runs
  * its output pins and sinks from concurrent driver threads
  * ([[graft.core.Overlap]]), so each stage's seconds are its own wall
  * time and a batch's stage times can sum to more than the batch took.
  * The buffer is therefore a concurrent queue. */
object Timing {

  /** One batch's (stage, seconds) rows; safe to append from several
    * driver threads. */
  type Buffer = java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]

  /** Time a stage, recording into `buf`. */
  def timed[T](stage: String, buf: Buffer)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    buf.add(stage -> ((System.nanoTime() - t0) / 1e9))
    r
  }

  /** Append one batch's stage timings to `outDir/timing`. */
  def write(spark: SparkSession, outDir: String, dataset: String,
            rows: Seq[(String, Double)]): Unit = {
    import spark.implicits._
    if (rows.nonEmpty)
      // single-slice at the SOURCE (not a coalesce on the plan): the rows
      // are a driver-local handful of stage timings, so one task writes
      // one file instead of scattering ~5 rows across defaultParallelism
      // empty files. Revisit only if the table ever grows per-stage x
      // per-frame rows.
      spark.createDataset(spark.sparkContext.parallelize(
          rows.map { case (s, t) => (dataset, s, t) }, numSlices = 1))
        .toDF("dataset", "stage", "seconds")
        .write.mode("append").parquet(s"$outDir/timing")
  }

  /** Mean +/- std (and count) per stage — the reference's stop-button
    * printout as a query. */
  def summary(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/timing")
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n"),
        avg(col("seconds")).as("mean_s"),
        coalesce(stddev_pop(col("seconds")), lit(0.0)).as("std_s"))
      .orderBy(col("stage"))
}
