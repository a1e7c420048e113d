package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class OverlapSpec extends AnyFunSuite {

  test("bodies run concurrently and all complete") {
    // three bodies that each wait for the other two: only a concurrent
    // run can get past the latch
    val latch = new CountDownLatch(3)
    val done = new ConcurrentLinkedQueue[Int]()
    Overlap.par((1 to 3).map(i => () => {
      latch.countDown()
      assert(latch.await(30, TimeUnit.SECONDS), "bodies did not overlap")
      done.add(i); ()
    }): _*)
    assert(done.asScala.toSet == Set(1, 2, 3))
  }

  test("a failing body surfaces only after the other bodies finished") {
    val finished = new ConcurrentLinkedQueue[String]()
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      Overlap.par(
        () => throw boom,
        () => { Thread.sleep(500); finished.add("slow"); () },
        () => { Thread.sleep(200); finished.add("medium"); () })
    }
    assert(e eq boom, "the original exception is rethrown")
    // by the time par throws, every other body has completed — a
    // caller's finally (e.g. releasing pins) never runs under them
    assert(finished.asScala.toSet == Set("slow", "medium"))
  }

  test("the first failure in argument order wins; later ones are " +
      "suppressed") {
    val first = new RuntimeException("first")
    val second = new RuntimeException("second")
    val e = intercept[RuntimeException] {
      Overlap.par(
        () => { Thread.sleep(300); throw first },
        () => throw second)
    }
    assert(e eq first)
    assert(e.getSuppressed.toSeq == Seq(second))
  }

  test("an interrupted caller still waits for every body, then keeps " +
      "its interrupt flag") {
    val finished = new ConcurrentLinkedQueue[String]()
    val caller = Thread.currentThread()
    Overlap.par(
      () => { caller.interrupt(); Thread.sleep(300); finished.add("slow"); () })
    assert(finished.asScala.toSeq == Seq("slow"))
    assert(Thread.interrupted(), "interrupt flag restored (and cleared here)")
  }

  test("bodies inherit the caller's Spark local properties") {
    val spark = graft.TestSession.spark
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.overlap.probe", "batch-7")
    try {
      val seen = new ConcurrentLinkedQueue[String]()
      Overlap.par(
        () => { seen.add(sc.getLocalProperty("graft.overlap.probe")); () },
        () => { seen.add(sc.getLocalProperty("graft.overlap.probe")); () })
      assert(seen.asScala.toSeq == Seq("batch-7", "batch-7"))
    } finally sc.setLocalProperty("graft.overlap.probe", null)
  }
}
