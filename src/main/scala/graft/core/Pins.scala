package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Deterministic localCheckpoint pin hygiene — the ONE implementation
  * of the diff-and-release idiom (grown independently in
  * `Dedup.connectedGroups`, `Bpe`, and `VectorOps.lshBandedPairs`
  * before being hoisted here): `localCheckpoint` pins blocks that only
  * the ContextCleaner would otherwise release, and tight iterative
  * loops with little driver garbage accumulate superseded table copies
  * in executor storage before a GC ever runs. Tracking the context's
  * persistent-RDD set around each checkpoint lets the caller release
  * superseded pins deterministically.
  *
  * CONTRACT (documented once, here): the before/after diff assumes NO
  * CONCURRENT persist/checkpoint activity on the same SparkContext —
  * a parallel driver thread's checkpoint landing between the two
  * snapshots would be captured in this caller's id set and released
  * out from under it (a localCheckpoint'd RDD cannot recompute dropped
  * blocks). So: bodies run concurrently by [[Overlap.par]] may PIN
  * (their returned id sets may then include a sibling's pins) but must
  * never call [[release]]; whatever they pinned is released by the
  * caller once `par` has returned, i.e. after every body finished (the
  * streaming batch's release-everything-new `finally`). */
object Pins {

  /** Eagerly localCheckpoint `df`, returning the pinned frame and the
    * persistent-RDD ids the checkpoint added (pass to [[release]] once
    * the pin is superseded). */
  def ckpt(df: DataFrame): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val pinned = df.localCheckpoint(eager = true)
    (pinned, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  /** LAZILY localCheckpoint `df` and materialize it with ONE counting
    * action: returns the pinned frame, its pin ids, and the number of
    * pinned rows satisfying `pred`. For an iterate-until-no-change
    * loop this fuses the checkpoint job and the convergence probe —
    * the eager form pays a materialization pass PLUS a re-read of the
    * checkpointed table per iteration (at scale: one extra full
    * label-table scan every round; locally: one extra job's fixed
    * scheduling latency), where the count here rides the same job that
    * computes and stores the blocks. */
  def ckptCount(df: DataFrame,
                pred: org.apache.spark.sql.Column): (DataFrame, Set[Int], Long) =
    ckptWith(df)(_.where(pred).count())

  /** LAZILY localCheckpoint `df` and materialize it with the caller's
    * `action` — the generalization of [[ckptCount]] for loops whose
    * per-round driver read is not a predicate count (BPE's argmax,
    * NB's vocabulary size). CONTRACT: `action` must compute EVERY
    * partition of the frame it is given (any full aggregation or
    * collect does; a limit/take over the RAW frame does NOT), or the
    * checkpoint only pins the partitions the action touched. */
  def ckptWith[T](df: DataFrame)(
      action: DataFrame => T): (DataFrame, Set[Int], T) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val pinned = df.localCheckpoint(eager = false)
    val out = action(pinned)
    (pinned, sc.getPersistentRDDs.keySet.toSet -- before, out)
  }

  /** Release tracked pins (non-blocking; ids already gone are fine). */
  def release(sc: SparkContext, ids: Set[Int]): Unit =
    ids.foreach(id => sc.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = false)))
}
