package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One micro-batch that carried input, from its progress event. */
final case class Batch(id: Long, rows: Long, startMs: Long, triggerMs: Long,
                       addBatchMs: Long) {
  def commitMs: Long = startMs + triggerMs
}

/** Collects micro-batch progress events of every query in the session. */
final class Progress extends StreamingQueryListener {
  private val byQuery = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[Batch]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      byQuery.getOrElseUpdate(p.id, mutable.ArrayBuffer.empty) += Batch(
        p.batchId, p.numInputRows, java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution"), ms("addBatch"))
    }
  }

  def batches(q: StreamingQuery): Seq[Batch] =
    synchronized(byQuery.get(q.id).map(_.toSeq).getOrElse(Nil)).sortBy(_.id)
}

object Streams {

  /** Run `start` to completion of its input and report the wall time and
    * any failure. `finish` blocks until the query has drained. */
  final case class Run(startMs: Long, wallS: Double, batches: Seq[Batch],
                       error: Option[Throwable])

  /** A stream's first batch is the cold one a user waits through before
    * any result, so it counts as set-up. The next `warmup` batches, still
    * warming up, are neither set-up nor timed; the batches after them are
    * timed, from the commit before the first of them to the last commit.
    * `items` is what the timed batches completed. */
  final case class Timed(coldS: Double, wallS: Double, items: Long,
                         batches: Seq[Batch]) {
    def itemsPerS: Double = if (wallS > 0) items / wallS else 0.0
    def batchP50S: Double =
      if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.triggerMs / 1e3))
  }
  object Timed {
    def apply(r: Run, items: Long, warmup: Int = 0): Timed = {
      val bs = r.batches
      if (bs.size < warmup + 2) Timed(r.wallS, 0.0, 0L, Nil)
      else {
        val timed = bs.drop(warmup + 1)
        Timed((bs.head.commitMs - r.startMs) / 1e3,
          (timed.last.commitMs - bs(warmup).commitMs) / 1e3, items, timed)
      }
    }
  }

  def run(spark: SparkSession, progress: Progress)(start: => StreamingQuery)
         (finish: StreamingQuery => Unit): Run = {
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val q = start
    val err =
      try { finish(q); q.exception }
      catch { case e: Throwable => Some(e) }
      finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    Collector.drain(spark.sparkContext)
    Run(startMs, wall, progress.batches(q), err)
  }

  /** Per-batch figures the traced run reports for a streaming run:
    * medians over its batches, and the most executor storage any batch
    * left pinned at its commit. */
  def layerMetrics(r: Run, c: Collector, cpus: Int): Seq[(String, Double)] = {
    val bs = r.batches
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq(
      "streaming.trigger_overhead_s" ->
        med(bs.map(b => (b.triggerMs - b.addBatchMs) / 1e3)),
      "streaming.batch_inputs" -> med(bs.map(_.rows.toDouble)),
      "streaming.jobs_per_batch" -> med(bs.map(b => c.batch(b.id).jobs.toDouble)),
      "streaming.cores_busy_frac" -> med(bs.map(b =>
        c.batch(b.id).runMs / (math.max(1L, b.triggerMs).toDouble * cpus))),
      "core.storage_after_batch_bytes" ->
        c.storageAfterBatches.maxOption.getOrElse(0L).toDouble)
  }
}
