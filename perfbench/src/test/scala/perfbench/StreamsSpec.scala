package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StreamsSpec extends AnyFunSuite {

  // batches commit at 10 s, 16 s, 20 s and 23 s after a start at 0
  private val run = Streams.Run(0L, 24.0, Seq(
    Batch(0, 4, 0L, 10000L, 9000L), Batch(1, 4, 10000L, 6000L, 5500L),
    Batch(2, 4, 16000L, 4000L, 3600L), Batch(3, 4, 20000L, 3000L, 2700L)), None)

  test("the cold first batch is set-up and the rest are timed") {
    val t = Streams.Timed(run, 12)
    assert(t.coldS == 10.0 && t.wallS == 13.0)
    assert(t.batches.map(_.id) == Seq(1, 2, 3) && t.batchP50S == 4.0)
    assert(t.itemsPerS == 12 / 13.0)
  }

  test("warm-up batches are neither set-up nor timed") {
    val t = Streams.Timed(run, 8, warmup = 1)
    assert(t.coldS == 10.0 && t.wallS == 7.0)
    assert(t.batches.map(_.id) == Seq(2, 3) && t.batchP50S == 3.5)
  }

  test("a stream without a timed batch times nothing") {
    val t = Streams.Timed(run.copy(batches = run.batches.take(2)), 8, warmup = 1)
    assert(t.batches.isEmpty && t.itemsPerS == 0.0 && t.coldS == 24.0)
  }
}
