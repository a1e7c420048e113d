package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Banded hyperplane-LSH candidate pairs: band extraction matches the
  * whole-bucket join at B=1, OR-semantics across bands (recall grows
  * monotonically), band keys slice the SAME plane family the bucket
  * expression tabulates, and the guards. */
class LshBandedPairsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, parity: Int) =
    (0 until n).filter(_ % 2 == parity).map { i =>
      (i.toLong, Seq.tabulate(16)(j => math.sin(i * 16 + j + 1.0) +
        (if (j == i % 16) 2.0 else 0.0)))
    }.toDF("vec_id", "v")

  test("B=1 equals the plain whole-bucket equi-join") {
    val (l, r) = (vecs(40, 0), vecs(40, 1))
    val banded = VectorOps.lshBandedPairs(l, r, "vec_id", "v", dim = 16,
        planesPerBand = 5, bands = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    def b(d: org.apache.spark.sql.DataFrame, out: String) = d.select(
      col("vec_id").as(out),
      VectorOps.lshBuckets(col("v"), dim = 16, nPlanes = 5).as("bk"))
    val plain = b(l, "src_id").join(b(r, "tgt_id"), "bk")
      .select(col("src_id"), col("tgt_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(banded == plain && plain.nonEmpty)
  }

  test("bands OR: every B=1 pair survives at B=2, and each extra band's " +
      "pairs come from agreement on ITS plane slice") {
    val (l, r) = (vecs(60, 0), vecs(60, 1))
    def pairs(bands: Int) = VectorOps.lshBandedPairs(l, r, "vec_id", "v",
        dim = 16, planesPerBand = 4, bands = bands)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val p1 = pairs(1); val p2 = pairs(2)
    assert(p1.subsetOf(p2), "band 1's pairs must survive adding band 2")
    // reference: recompute both 4-bit band keys from the 8-plane bucket
    val all = l.select(col("vec_id").as("src_id"),
        VectorOps.lshBuckets(col("v"), 16, 8).as("lb"))
      .crossJoin(r.select(col("vec_id").as("tgt_id"),
        VectorOps.lshBuckets(col("v"), 16, 8).as("rb")))
      .collect().map { x =>
        // crossJoin column order: (src_id, lb, tgt_id, rb)
        val (s, lb, t, rb) =
          (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))
        ((s, t), (lb & 15) == (rb & 15) || (lb >> 4 & 15) == (rb >> 4 & 15))
      }.toMap
    val want = all.filter(_._2).keySet
    assert(p2 == want, s"B=2 diverged from the reference OR semantics")
  }

  test("bands>1 returns the pair table pinned for Pins.release (and B=1 " +
      "pins nothing)") {
    val sc = spark.sparkContext
    val (l, r) = (vecs(20, 0), vecs(20, 1))
    val pairs = VectorOps.lshBandedPairs(
      l, r, "vec_id", "v", dim = 16, planesPerBand = 4, bands = 2)
    val pin = graft.core.Pins.rddOf(pairs)
    assert(pin.nonEmpty, "bands>1 must return the pair table pinned")
    assert(sc.getPersistentRDDs.contains(pin.get.id),
      "the returned pin must be live")
    pairs.count() // consumable while pinned
    graft.core.Pins.release(pairs)
    assert(!sc.getPersistentRDDs.contains(pin.get.id),
      "release must drop the returned pin")
    val before = sc.getPersistentRDDs.keySet
    val one = VectorOps.lshBandedPairs(
      l, r, "vec_id", "v", dim = 16, planesPerBand = 4, bands = 1)
    one.count()
    assert(graft.core.Pins.rddOf(one).isEmpty &&
      (sc.getPersistentRDDs.keySet -- before).isEmpty, "B=1 pinned")
  }

  test("guards: zero bands / key wider than a long are rejected") {
    val d = vecs(4, 0)
    intercept[IllegalArgumentException] {
      VectorOps.lshBandedPairs(d, d, "vec_id", "v", 16, 5, 0)
    }
    intercept[IllegalArgumentException] {
      VectorOps.lshBandedPairs(d, d, "vec_id", "v", 16, 21, 3)
    }
  }
}
