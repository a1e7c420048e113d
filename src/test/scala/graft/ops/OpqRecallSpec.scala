package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Suite-pins the OPQ-lite VALUE claim (SCALE_r10 §4): on a geometry
  * whose dominant variance runs diagonally across every subspace —
  * the case an axis-aligned split cannot model — rotating the top PCA
  * direction onto e1 before the PQ split must measurably lift ADC
  * recall against the SAME exact-L2 ground truth (legitimate to share:
  * the rotation is an isometry, OpqSpec). The whole computation is
  * seeded and decimal-deterministic (DeterminismSpec-grade machinery
  * end to end), so the measured values (plain 0.313, rotated 0.375 at
  * this seed) are exact constants of the code — the floors sit under
  * them and fail only on a real change (a broken rotation, a codebook
  * trained in the wrong space), never on host variation. */
class OpqRecallSpec extends SparkSpec {
  import spark.implicits._

  test("rotation lifts ADC recall on diagonal-variance clusters") {
    val dim = 64; val sub = 8; val k = 16
    val rnd = new scala.util.Random(17)
    val diag = Array.fill(dim)(1.0 / math.sqrt(dim))
    val centers = (0 until 8).map { c =>
      val t = (c - 3.5) * 6.0
      Array.tabulate(dim)(i => diag(i) * t + rnd.nextGaussian() * 0.3)
    }
    val raw = centers.flatMap { c =>
      (0 until 40).map(_ => c.map(_ + rnd.nextGaussian() * 0.5).toSeq)
    }
    val vecs = rnd.shuffle(raw).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "v").localCheckpoint(true)
    val queries = vecs.where(col("vec_id") % 20 === 0)

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d"), col("cand_id"))
    val brute = vecs
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"),
        col("v").as("qv"))))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        VectorOps.dot(zip_with(col("qv"), col("v"), _ - _),
          zip_with(col("qv"), col("v"), _ - _)).as("d"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 5)
      .select(col("query_id"), col("cand_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def adcRecall(vv: DataFrame): Double = {
      val (cb, _) = Pq.train(vv, "vec_id", "v", sub, dim, k, 2)
      val codes = Pq.encodeLocal(vv, "vec_id", "v", cb, sub, dim)
        .localCheckpoint(true)
      val qs = vv.where(col("vec_id") % 20 === 0)
      val got = Pq.searchAdc(qs, "vec_id", "v", codes, cb, sub, dim, 5)
        .select(col("query_id"), col("cand_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (brute & got).size.toDouble / brute.size
    }

    val plain = adcRecall(vecs)
    val (_, dir) = Pca.fit(vecs, "v")
    val u = Opq.householderU(dir)
    assert(u.nonEmpty, "diagonal geometry must yield a real rotation")
    val rotated = adcRecall(
      vecs.select(col("vec_id"), Opq.rotate(col("v"), u).as("v"))
        .localCheckpoint(true))
    info(f"ADC recall@5 plain=$plain%.3f rotated=$rotated%.3f")
    assert(rotated >= plain + 0.05,
      f"rotation must measurably lift recall on diagonal variance " +
        f"(plain $plain%.3f, rotated $rotated%.3f)")
    assert(rotated >= 0.3,
      f"rotated-space ADC recall floor broken: $rotated%.3f")
  }
}
