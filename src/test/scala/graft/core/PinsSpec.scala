package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Pins]]: a release drops exactly the pin at the top of the frame it
  * is handed, and a scope releases exactly the pins made inside it, on
  * every thread it starts. */
class PinsSpec extends SparkSpec {

  private def sc = spark.sparkContext
  private def small(n: Long): DataFrame =
    spark.range(0, n, 1, 2).toDF("v")
  private def idOf(pinned: DataFrame): Int = Pins.rddOf(pinned).get.id
  private def live(id: Int): Boolean = sc.getPersistentRDDs.contains(id)
  private def total(df: DataFrame): Long =
    df.agg(sum(col("v"))).head().getLong(0)

  test("releasing a lazy pin leaves a sibling pinned during its action " +
      "readable") {
    var sibling: DataFrame = null
    val (a, n) = Pins.pinWith(small(10)) { d =>
      sibling = Pins.pin(small(6).select((col("v") * 2).as("v")))
      d.count()
    }
    assert(n == 10L)
    val (aId, bId) = (idOf(a), idOf(sibling))
    Pins.release(a)
    assert(!live(aId), "release must drop the pin it is handed")
    assert(live(bId), "release dropped a sibling pin")
    assert(total(sibling) == 30L)
    Pins.release(sibling)
  }

  test("release leaves frames that are not pins alone") {
    val p = Pins.pin(small(4))
    Pins.release(p.where(col("v") > 1), small(3))
    assert(live(idOf(p)) && total(p) == 6L)
    Pins.release(p)
    Pins.release(p) // a second release is a no-op
  }

  test("two pin/release loops on parallel driver threads lose no block") {
    // 20 rounds a thread: enough for the id-set diff this API replaced
    // to catch a sibling's pin and drop it mid-read on every run tried
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    def loop(k: Int): Unit = {
      var p = Pins.pin(small(8))
      (1 to 20).foreach { _ =>
        val next = Pins.pin(p.select((col("v") + 1).as("v")))
        Pins.release(p)
        p = next
      }
      results.put(k, total(p))
      Pins.release(p)
    }
    Overlap.par(() => loop(0), () => loop(1))
    // 0..7 shifted by 20: 28 + 8 * 20
    assert(results.get(0) == 188L && results.get(1) == 188L)
  }

  test("a scope releases every pin made inside it, on its own and on " +
      "Overlap.par threads, when it returns or throws; earlier pins " +
      "survive") {
    val outer = Pins.pin(small(5))
    val inside = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val got = Pins.scope {
      val a = Pins.pin(small(3))
      inside.add(idOf(a))
      Overlap.par(
        () => { inside.add(idOf(Pins.pin(small(2)))); () },
        () => { inside.add(idOf(Pins.pinWith(small(2))(_.count())._1)); () })
      total(a)
    }
    assert(got == 3L && inside.size == 3)
    inside.forEach(id => assert(!live(id), s"scope leaked pin $id"))
    var thrown = -1
    intercept[IllegalStateException] {
      Pins.scope {
        thrown = idOf(Pins.pin(small(2)))
        throw new IllegalStateException("boom")
      }
    }
    assert(thrown >= 0 && !live(thrown), "a throwing scope leaked its pin")
    assert(live(idOf(outer)) && total(outer) == 10L,
      "a scope released a pin made before it")
    Pins.release(outer)
  }
}
