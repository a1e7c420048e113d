package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Csim

/** The one-exchange csim pass against a brute-force driver-side
  * reference: plain Scala over the collected pixel vectors, straight
  * from the reference's definition (pipeline.py:506-557) — cosine vs the
  * dataset's first frame and vs frame `frame_no - 1`, 1.0 when that
  * frame is absent or shares no pixel. */
class CsimReferenceSpec extends SparkSpec {
  import spark.implicits._

  /** (dataset, frame_no) -> pixel (y, x) -> value. */
  type Frames = Map[(String, Int), Map[(Int, Int), Double]]

  private def reference(fr: Frames): Map[(String, Int), (Double, Double)] =
    fr.keys.groupBy(_._1).flatMap { case (ds, keys) =>
      val fs = keys.map(_._2).toSet
      val first = fs.min
      def cos(a: Int, b: Int): Option[Double] = {
        val pa = fr((ds, a)); val pb = fr((ds, b))
        val shared = pa.keySet.intersect(pb.keySet).toSeq
        def norm(p: Map[(Int, Int), Double]) =
          math.sqrt(p.values.map(v => v * v).sum)
        if (shared.isEmpty) None
        else Some(shared.map(k => pa(k) * pb(k)).sum / (norm(pa) * norm(pb)))
      }
      fs.map(f => (ds, f) -> (cos(f, first).getOrElse(1.0),
        (if (fs(f - 1)) cos(f, f - 1) else None).getOrElse(1.0)))
    }

  /** A 12x12 frame with ~20% of its pixels masked (absent), values in
    * (1, 100); `keep` restricts which pixels may be present. */
  private def frame(seed: Long, keep: (Int, Int) => Boolean = (_, _) => true)
      : Map[(Int, Int), Double] = {
    val rnd = new scala.util.Random(seed)
    (for (y <- 0 until 12; x <- 0 until 12
          if keep(y, x) && rnd.nextDouble() > 0.2)
      yield (y, x) -> (1.0 + 99.0 * rnd.nextDouble())).toMap
  }

  private def toDF(fr: Frames): DataFrame =
    fr.toSeq.flatMap { case ((ds, f), px) =>
      px.map { case ((y, x), v) => (ds, f, y, x, v) }
    }.toDF("dataset", "frame_no", "y", "x", "v")

  private def rows(df: DataFrame): Map[(String, Int), (Double, Double)] =
    df.collect().map(r => (r.getAs[String]("dataset"),
      r.getAs[Int]("frame_no")) -> (r.getAs[Double]("csim_first"),
      r.getAs[Double]("csim_prev"))).toMap

  private def assertClose(got: (Double, Double), want: (Double, Double),
                          what: String): Unit = {
    assert(math.abs(got._1 - want._1) < 1e-12, s"$what csim_first: $got vs $want")
    assert(math.abs(got._2 - want._2) < 1e-12, s"$what csim_prev: $got vs $want")
  }

  test("Csim.series equals the brute-force reference: two datasets, a " +
      "quarantined gap, an all-masked frame, a frame sharing no pixel " +
      "with the first") {
    val fr: Frames = Map(
      // dataset a: frame 3 quarantined (absent), frame 5 all-masked (no
      // vectors at all), so frames 4 and 6 have no previous frame
      ("a", 1) -> frame(1), ("a", 2) -> frame(2), ("a", 4) -> frame(4),
      ("a", 6) -> frame(6),
      // dataset b: frame 13 shares no pixel with the first frame 10
      ("b", 10) -> frame(10, (_, x) => x < 6), ("b", 11) -> frame(11),
      ("b", 12) -> frame(12), ("b", 13) -> frame(13, (_, x) => x >= 6))
    val got = rows(Csim.series(toDF(fr)))
    val want = reference(fr)
    assert(got.keySet == want.keySet, "one row per frame with vectors")
    want.foreach { case (k, w) => assertClose(got(k), w, k.toString) }
    // the edge rules the reference defines, spelled out
    assert(got(("a", 4))._2 == 1.0 && got(("a", 6))._2 == 1.0)
    assert(got(("b", 13))._1 == 1.0)
    assert(got(("a", 2))._2 < 1.0 && got(("b", 12))._1 < 1.0)
    assert(!got.contains(("a", 5)))
  }

  test("writeCsimStateful across batches equals the reference over the " +
      "carried first/previous frames; a re-delivered state frame loses " +
      "to the batch's copy") {
    val out = java.nio.file.Files.createTempDirectory("graft_csimref").toString
    def csimTable = spark.read.parquet(s"$out/tables/csim")
    def state = spark.read.parquet(s"$out/_state/csim/a")
      .select(col("frame_no")).distinct().collect().map(_.getInt(0)).toSet

    // batch 1: frames 1, 2
    val b1: Frames = Map(("a", 1) -> frame(1), ("a", 2) -> frame(2))
    StreamingPipeline.writeCsimStateful(toDF(b1), out, "a")
    val ref1 = reference(b1)
    rows(csimTable).foreach { case (k, g) => assertClose(g, ref1(k), s"b1 $k") }
    assert(state == Set(1, 2))

    // batch 2: frame 2 re-delivered with NEW values, frame 3 quarantined,
    // frame 5 all-masked; the state carries frames 1 and 2
    val b2: Frames = Map(("a", 2) -> frame(22), ("a", 4) -> frame(4),
      ("a", 6) -> frame(6))
    StreamingPipeline.writeCsimStateful(toDF(b2), out, "a")
    val ref2 = reference(b2 + (("a", 1) -> b1(("a", 1))))
    val all = csimTable.collect().map(r => (r.getAs[Int]("frame_no"),
      (r.getAs[Double]("csim_first"), r.getAs[Double]("csim_prev"))))
    assert(all.map(_._1).sorted.toSeq == Seq(1, 2, 2, 4, 6))
    Seq(4, 6).foreach { f =>
      assertClose(all.find(_._1 == f).get._2, ref2(("a", f)), s"b2 frame $f") }
    // frame 2 has its batch-1 row and its batch-2 row (the batch copy)
    val twos = all.filter(_._1 == 2).map(_._2)
    assert(twos.exists(g => math.abs(g._1 - ref1(("a", 2))._1) < 1e-12 &&
      math.abs(g._2 - ref1(("a", 2))._2) < 1e-12))
    assert(twos.exists(g => math.abs(g._1 - ref2(("a", 2))._1) < 1e-12 &&
      math.abs(g._2 - ref2(("a", 2))._2) < 1e-12))
    assert(ref2(("a", 2)) != ref1(("a", 2)), "fixture: copies must differ")
    assert(state == Set(1, 6))

    // batch 3: the FIRST frame re-delivered with new values, plus frame 7
    val b3: Frames = Map(("a", 1) -> frame(111), ("a", 7) -> frame(7))
    StreamingPipeline.writeCsimStateful(toDF(b3), out, "a")
    val ref3 = reference(b3 + (("a", 6) -> b2(("a", 6))))
    val last = csimTable.collect().map(r => (r.getAs[Int]("frame_no"),
      (r.getAs[Double]("csim_first"), r.getAs[Double]("csim_prev"))))
    assertClose(last.find(_._1 == 7).get._2, ref3(("a", 7)), "b3 frame 7")
    assert(last.count(_._1 == 1) == 2)
    assert(state == Set(1, 7))
    // the rolled state holds the batch's copy of frame 1
    val s1 = spark.read.parquet(s"$out/_state/csim/a")
      .where(col("frame_no") === 1).collect()
      .map(r => (r.getAs[Int]("y"), r.getAs[Int]("x")) -> r.getAs[Double]("v"))
      .toMap
    assert(s1 == b3(("a", 1)))
  }
}
