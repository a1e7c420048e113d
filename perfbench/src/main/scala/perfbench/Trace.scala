package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around calls into the engine's layers, with the Spark jobs,
  * stages and tasks each call ran folded into it.
  *
  * A span opened on the driver thread adds a job tag
  * (`SparkContext.addJobTag`) for its lifetime, so every job submitted
  * inside it carries the tags of all spans open at that moment; a job
  * belongs to the innermost one (the highest span id among its tags).
  * Task metrics reach their span through the tags of the stage that ran
  * them. Everything is kept in memory and folded once at the end.
  */
object Trace {

  val TagPrefix = "perfbench-span-"
  def tagOf(span: Long): String = TagPrefix + span

  /** The innermost span among a job's tags, if it carries any. */
  def innermost(tags: Iterable[String]): Option[Long] =
    tags.iterator.filter(_.startsWith(TagPrefix))
      .flatMap(t => t.stripPrefix(TagPrefix).toLongOption).maxOption

  /** Task metrics summed over tasks (peak execution memory: maximum). */
  final case class Tasks(tasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0,
                         gcMs: Long = 0, shuffleBytes: Long = 0,
                         spillBytes: Long = 0, peakExecBytes: Long = 0) {
    def +(o: Tasks): Tasks = Tasks(tasks + o.tasks, cpuNs + o.cpuNs,
      runMs + o.runMs, gcMs + o.gcMs, shuffleBytes + o.shuffleBytes,
      spillBytes + o.spillBytes, math.max(peakExecBytes, o.peakExecBytes))
  }

  /** One call into a layer; times are epoch milliseconds. */
  final case class Span(id: Long, name: String, parent: Option[Long],
                        startMs: Long, endMs: Long)

  /** One Spark job, attributed to a span. */
  final case class Job(span: Long, startMs: Long, endMs: Long)

  /** All calls of one span name, folded. `selfS` is wall minus the time
    * covered by child spans; `driverGapS` is self time not covered by
    * the span's own jobs either (driver work and scheduling waits). */
  final case class Folded(calls: Int, wallS: Double, selfS: Double,
                          driverGapS: Double, jobs: Int, tasks: Tasks)

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo),
      math.min(b, hi)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def fold(spans: Seq[Span], jobs: Seq[Job],
           tasks: Map[Long, Tasks]): Map[String, Folded] = {
    val children = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    val jobsOf = jobs.groupBy(_.span)
    spans.groupBy(_.name).map { case (name, calls) =>
      val per = calls.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
        val own = jobsOf.getOrElse(s.id, Nil)
        val wall = s.endMs - s.startMs
        val self = wall - covered(kids, s.startMs, s.endMs)
        val gap = wall - covered(kids ++ own.map(j => (j.startMs, j.endMs)),
          s.startMs, s.endMs)
        (wall, self, gap, own.size, tasks.getOrElse(s.id, Tasks()))
      }
      name -> Folded(calls.size, per.map(_._1).sum / 1e3,
        per.map(_._2).sum / 1e3, per.map(_._3).sum / 1e3, per.map(_._4).sum,
        per.map(_._5).foldLeft(Tasks())(_ + _))
    }
  }

  /** One micro-batch as the scheduler saw it. */
  final case class BatchJobs(jobs: Int, runMs: Long)
}

/** The SparkListener side: job, stage and task events keyed by span tag
  * and by streaming batch id, plus executor storage held in RDD blocks
  * (current, high-water mark and at each micro-batch commit). Events arrive on the listener bus
  * thread; read only after [[Collector.drain]]. */
final class Collector extends SparkListener {
  import Trace._

  private val jobStart = mutable.Map.empty[Int, (Option[Long], Option[Long], Long)]
  private val jobsDone = mutable.ArrayBuffer.empty[Job]
  private val stageKey = mutable.Map.empty[Int, (Option[Long], Option[Long])]
  private val spanTasks = mutable.Map.empty[Long, Tasks].withDefaultValue(Tasks())
  private val batchJobs = mutable.Map.empty[Long, BatchJobs]
    .withDefaultValue(BatchJobs(0, 0))
  private val blocks = mutable.Map.empty[Int, mutable.Map[Int, Long]]
  private var storageNow = 0L
  private var storagePeak = 0L
  private val storageAtCommit = mutable.ArrayBuffer.empty[Long]

  private def keys(props: java.util.Properties): (Option[Long], Option[Long]) =
    if (props == null) (None, None)
    else (innermost(Option(props.getProperty("spark.job.tags"))
        .toSeq.flatMap(_.split(","))),
      Option(props.getProperty("streaming.sql.batchId")).flatMap(_.toLongOption))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (span, batch) = keys(e.properties)
    jobStart(e.jobId) = (span, batch, e.time)
    batch.foreach(b => batchJobs(b) = batchJobs(b).copy(jobs = batchJobs(b).jobs + 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, _, t0) =>
      span.foreach(s => jobsDone += Job(s, t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageKey(e.stageInfo.stageId) = keys(e.properties) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val (span, batch) = stageKey.getOrElse(e.stageId, (None, None))
      val t = Tasks(1, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
      span.foreach(s => spanTasks(s) = spanTasks(s) + t)
      batch.foreach(b => batchJobs(b) =
        batchJobs(b).copy(runMs = batchJobs(b).runMs + m.executorRunTime))
    }
  }

  // RDD blocks in executor memory. Unpersisting an RDD removes its blocks
  // without a block update per block, so its unpersist event drops them.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      val splits = blocks.getOrElseUpdate(b.rddId, mutable.Map.empty)
      storageNow -= splits.getOrElse(b.splitIndex, 0L)
      if (info.storageLevel.isValid && info.memSize > 0) {
        splits(b.splitIndex) = info.memSize
        storageNow += info.memSize
      } else splits.remove(b.splitIndex)
      storagePeak = math.max(storagePeak, storageNow)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.remove(e.rddId).foreach(splits => storageNow -= splits.values.sum)
  }

  // A micro-batch's progress event is posted after its batch function
  // returned, so storage at that event is what the batch left pinned.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent if p.progress.numInputRows > 0 =>
      synchronized(storageAtCommit += storageNow)
    case _ =>
  }

  def jobs: Seq[Job] = synchronized(jobsDone.toSeq)
  def tasks: Map[Long, Tasks] = synchronized(spanTasks.toMap)
  def batch(id: Long): BatchJobs = synchronized(batchJobs(id))
  def storagePeakBytes: Long = synchronized(storagePeak)
  /** Executor storage at each commit of a micro-batch that had input. */
  def storageAfterBatches: Seq[Long] = synchronized(storageAtCommit.toSeq)
}

object Collector {
  def attach(sc: SparkContext): Collector = {
    val c = new Collector
    sc.addSparkListener(c)
    c
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(sc)
}

/** Opens spans on the calling (driver) thread. */
final class Tracer(sc: SparkContext) {
  import Trace._
  private var nextId = 0L
  private val open = mutable.Stack.empty[Long]
  private val done = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.Map.empty[(String, String), Double]
    .withDefaultValue(0.0)

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = open.headOption
    val tag = tagOf(id)
    open.push(id)
    sc.addJobTag(tag)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      done += Span(id, name, parent, t0, System.currentTimeMillis())
      sc.removeJobTag(tag)
      open.pop()
    }
  }

  /** Add to a per-span-name counter reported beside the span's metrics. */
  def count(name: String, key: String, v: Double): Unit =
    counts((name, key)) += v

  def spans: Seq[Span] = done.toSeq
  def counters: Map[(String, String), Double] = counts.toMap
}
