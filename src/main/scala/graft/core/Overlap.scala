package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}

/** Driver-thread overlap for INDEPENDENT bodies of Spark work — the ONE
  * implementation (the PQ/PCA staging builds and the streaming frame
  * batch's pins and sinks all go through it). Actions are only
  * sequential because the driver calls them sequentially; jobs
  * submitted from separate threads back-fill idle cores under each
  * other's scheduling gaps and single-partition tails, and their Janino
  * codegen compiles overlap too.
  *
  * Only compose bodies with NO data dependency on each other. A shared
  * sub-build reached from two bodies must serialize itself (the staging
  * memos hold a per-memo lock).
  *
  * Threads are created per call, from the calling thread, so every body
  * inherits the caller's Spark local properties (job group, job tags,
  * the streaming batch id) — a reused pool would carry a previous
  * caller's properties instead.
  *
  * Failure: EVERY body runs to completion before `par` returns or
  * throws; the first failure (in argument order) is then rethrown with
  * its original exception, later ones attached as suppressed. A caller's
  * `finally` (e.g. releasing the batch's pins) therefore never runs
  * under a body that is still reading what it releases. That holds when
  * the calling thread is interrupted too (a streaming query stopped
  * mid-batch): `par` still waits, then restores the interrupt flag.
  * Bodies must not release pins themselves — see [[Pins]]. */
object Overlap {

  def par(bodies: (() => Unit)*): Unit = {
    val pool = Executors.newFixedThreadPool(math.max(1, bodies.size))
    val futures: Seq[Future[Unit]] =
      try bodies.map(b => pool.submit(new Callable[Unit] {
        def call(): Unit = b()
      }))
      finally pool.shutdown()
    val errors = futures.flatMap(awaitFailure)
    errors.headOption.foreach { first =>
      errors.tail.filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
  }

  /** Wait for `f` whatever interrupts arrive; its failure, if any. */
  private def awaitFailure(f: Future[Unit]): Option[Throwable] = {
    var interrupted = false
    try {
      var out: Option[Option[Throwable]] = None
      while (out.isEmpty)
        try { f.get(); out = Some(None) }
        catch {
          case e: ExecutionException => out = Some(Some(e.getCause))
          case _: InterruptedException => interrupted = true
        }
      out.get
    } finally if (interrupted) Thread.currentThread().interrupt()
  }
}
