package graft.core

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** localCheckpoint pins — the ONE way product code materializes a table
  * into executor storage, and the one way it gives that storage back.
  * A `localCheckpoint` pins blocks that only the ContextCleaner would
  * otherwise release, and only after a driver GC notices the dropped
  * reference: tight iterative loops and long streams pile up superseded
  * copies long before that.
  *
  * A pin IS its frame: the pinned frame's plan is a `LogicalRDD` leaf
  * over the persisted RDD, so [[release]] reads the RDD off the frame it
  * is handed and drops exactly that pin. Nothing another driver thread
  * pins at the same time can be caught up in it.
  *
  * SCOPE RULE: [[scope]] releases every pin made while its body runs —
  * on the calling thread and on threads the body starts (such as
  * [[Overlap.par]] bodies) — when the body exits, normally or by a
  * throw. Scopes wrap whole micro-batches (the frame batch, the
  * curation batch) and nothing smaller: an operator returns lazy frames
  * over its interior pins, so a scope inside one would free data its
  * caller still reads. A pin made outside any scope is the caller's to
  * [[release]] (or stays with the ContextCleaner — the session-lifetime
  * pins: geometry, the staging memos, the harness rows). No batch scope
  * may reach a session-lifetime pin's first build, or the scope would
  * release what the session keeps; no streaming batch reaches a staging
  * memo today. */
object Pins {

  /** Eagerly localCheckpoint `df`: the pinned frame. */
  def pin(df: DataFrame): DataFrame =
    record(df.localCheckpoint(eager = true))

  /** LAZILY localCheckpoint `df` and materialize it with the caller's
    * `action`, returning the pinned frame and the action's result: a
    * driver read that rides the job storing the blocks instead of a
    * second job over them (a loop's convergence count, BPE's argmax,
    * NB's vocabulary size, a batch's dataset index). CONTRACT: `action`
    * must compute EVERY partition of the frame it is given (any full
    * aggregation or collect does; a limit/take over the RAW frame does
    * NOT), or the checkpoint only pins the partitions the action
    * touched. */
  def pinWith[T](df: DataFrame)(action: DataFrame => T): (DataFrame, T) = {
    val pinned = record(df.localCheckpoint(eager = false))
    (pinned, action(pinned))
  }

  /** Release the pin at the top of each frame's plan (non-blocking). A
    * frame that is not a pin — derived from one, or never pinned — is
    * left alone, and so is a pin already released. */
  def release(pinned: DataFrame*): Unit =
    pinned.flatMap(rddOf).foreach(_.unpersist(blocking = false))

  /** Run `body`, then release every pin made inside it (the scope rule
    * above). Returns the body's result: a frame over the scope's pins
    * is dead once the scope exits. */
  def scope[T](body: => T): T = {
    val outer = current.get
    val pins = new ConcurrentLinkedQueue[RDD[_]]
    current.set(pins)
    try body
    finally {
      current.set(outer)
      pins.forEach(rdd => rdd.unpersist(blocking = false))
    }
  }

  /** The persisted RDD a pinned frame's plan reads, if `df` is a pin. */
  private[graft] def rddOf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD if l.rdd.getStorageLevel != StorageLevel.NONE =>
        Some(l.rdd)
      case _ => None
    }

  /** The innermost open scope's pins. Inheritable: a thread started
    * inside a scope pins into it. */
  private val current =
    new InheritableThreadLocal[ConcurrentLinkedQueue[RDD[_]]]

  private def record(pinned: DataFrame): DataFrame = {
    for (pins <- Option(current.get); rdd <- rddOf(pinned)) pins.add(rdd)
    pinned
  }
}
