package graft.stencil

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.geometry.Geometry.{PixelGeoFn, PixelGeoHolder, PixelHatsFn}

/** Radial hats read from w-wide row-major tables: drives the fused
  * gradient kernel with a hat field no calibration mirror produces, or
  * with hats collected from the relational geometry table. */
final class TableHats(w: Int, ry: Array[Double], rx: Array[Double])
    extends PixelHatsFn {
  def apply(y: Int, x: Int, out: Array[Double]): Unit = {
    out(0) = ry(y * w + x); out(1) = rx(y * w + x)
  }
}

/** The per-pixel columns the fused kernel emits, read from w-wide
  * row-major tables instead of the calibration mirror. */
final class TableGeo(w: Int, xMm: Array[Double], yMm: Array[Double],
                     tthBin: Array[Int], qBin: Array[Int],
                     q: Array[Double], azim: Array[Double],
                     azimFlipped: Array[Double]) extends PixelGeoFn {
  def apply(y: Int, x: Int, out: PixelGeoHolder): Unit = {
    val i = y * w + x
    out.xMm = xMm(i); out.yMm = yMm(i); out.tthBin = tthBin(i)
    out.qBin = qBin(i); out.q = q(i); out.azim = azim(i)
    out.azimFlipped = azimFlipped(i)
  }
}

class MorphologySpec extends SparkSpec {
  import spark.implicits._

  test("dilate r=1 grows a point into a 3x3 block, clipped at borders") {
    val df = Seq((5, 5), (0, 0)).toDF("y", "x")
    val out = Morphology.dilate(df, 1, Nil, width = 32, height = 32)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val expect = (for { dy <- -1 to 1; dx <- -1 to 1 }
      yield (5 + dy, 5 + dx)).toSet ++
      Set((0, 0), (0, 1), (1, 0), (1, 1))
    assert(out == expect)
  }

  test("closing fills a 1-px hole in a solid blob") {
    val blob = for { y <- 2 to 8; x <- 2 to 8; if !(y == 5 && x == 5) }
      yield (y, x)
    val out = Morphology.closing(blob.toDF("y", "x"), 1, Nil, 32, 32)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(out.contains((5, 5)), "hole not filled")
    // interior preserved
    assert((for { y <- 3 to 7; x <- 3 to 7 } yield (y, x))
      .forall(out.contains))
  }

  test("erode removes isolated pixels entirely") {
    val df = Seq((5, 5), (10, 20)).toDF("y", "x")
    assert(Morphology.erode(df, 1, Nil, 32, 32).count() == 0)
  }
}

class CCLSpec extends SparkSpec {
  import spark.implicits._

  /** Single-node union-find oracle. */
  def oracle(pts: Set[(Int, Int)], eight: Boolean): Map[(Int, Int), Int] = {
    val idx = pts.toSeq.sorted.zipWithIndex.toMap
    val parent = Array.tabulate(idx.size)(identity)
    def find(i: Int): Int = { var r = i; while (parent(r) != r) r = parent(r)
      parent(i) = r; r }
    def union(i: Int, j: Int): Unit = {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj) }
    val offs = if (eight) Seq((0,1),(1,-1),(1,0),(1,1)) else Seq((0,1),(1,0))
    for { p <- pts; (dy, dx) <- offs
          q = (p._1 + dy, p._2 + dx) if pts(q) } union(idx(p), idx(q))
    pts.map(p => p -> find(idx(p))).toMap
  }

  def partitionOf(m: Map[(Int, Int), Int]): Set[Set[(Int, Int)]] =
    m.groupBy(_._2).values.map(_.keySet).toSet

  test("CCL matches union-find oracle on a random sparse mask") {
    val rnd = new scala.util.Random(7)
    val pts = (1 to 300).map(_ => (rnd.nextInt(40), rnd.nextInt(40))).toSet
    val out = CCL.label(pts.toSeq.toDF("y", "x"), width = 40)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(partitionOf(out.view.mapValues(_.toInt).toMap)
      == partitionOf(oracle(pts, eight = true)))
  }

  test("CCL labels are the min pixel id of each component") {
    val pts = Seq((1, 1), (1, 2), (2, 2), (10, 10))
    val out = CCL.label(pts.toDF("y", "x"), width = 16)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out((1, 1)) == 17L && out((1, 2)) == 17L && out((2, 2)) == 17L)
    assert(out((10, 10)) == 170L)
  }

  test("4-connectivity splits diagonal touches") {
    val pts = Seq((0, 0), (1, 1))
    val out8 = CCL.label(pts.toDF("y", "x"), 8, eightConnected = true)
      .select(countDistinct(col("label"))).collect()(0).getLong(0)
    val out4 = CCL.label(pts.toDF("y", "x"), 8, eightConnected = false)
      .select(countDistinct(col("label"))).collect()(0).getLong(0)
    assert(out8 == 1 && out4 == 2)
  }

  test("frame keys scope labeling: same coords in two frames stay separate") {
    val pts = Seq((1, (1, 1)), (1, (1, 2)), (2, (1, 2)), (2, (1, 3)))
      .map { case (f, (y, x)) => (f, y, x) }
    val out = CCL.label(pts.toDF("frame_no", "y", "x"), 16,
        keys = Seq("frame_no"))
      .groupBy(col("frame_no")).agg(countDistinct(col("label")).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(1 -> 1L, 2 -> 1L))
  }

  /** (y, x) -> label maps of the fused and chained closing+CCL forms. */
  private def fusedVsChained(pts: Seq[(Int, Int, Int)], w: Int, h: Int,
                             dense: Boolean = false)
      : (Map[(Int, Int, Int), Long], Map[(Int, Int, Int), Long]) = {
    val df = pts.toDF("frame_no", "y", "x")
    val fused = CCL.closeAndLabel(df, 1, w, h, Seq("frame_no"),
        densePixelsPerFrame = if (dense) 0L else CCL.DensePixelsPerFrame)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    val chained = CCL.label(
        Morphology.closing(df, 1, Seq("frame_no"), w, h),
        w, Seq("frame_no"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    (fused, chained)
  }

  test("closeAndLabel equals closing->label on random sparse masks " +
      "(pixels, labels, borders, multi-frame)") {
    val rnd = new scala.util.Random(11)
    // two frames, clustered blobs + scattered noise + border pixels
    val pts = ((1 to 150).map(_ => (1, rnd.nextInt(40), rnd.nextInt(40))) ++
      (1 to 150).map(_ => (2, rnd.nextInt(40), rnd.nextInt(40))) ++
      // a dense blob with holes (closing actually fills something)
      (for { y <- 10 to 20; x <- 10 to 20
             if (y + x) % 7 != 0 } yield (1, y, x)) ++
      // border-hugging pixels exercise the out-of-frame-inactive rule
      Seq((1, 0, 0), (1, 0, 1), (1, 1, 0), (2, 39, 39), (2, 39, 38)))
      .distinct
    val (fused, chained) = fusedVsChained(pts, 40, 40)
    assert(fused == chained)
  }

  test("closeAndLabel dense escalation (forced) agrees with the sparse " +
      "fused path") {
    val rnd = new scala.util.Random(13)
    val pts = ((1 to 200).map(_ => (1, rnd.nextInt(30), rnd.nextInt(30))) ++
      (for { y <- 5 to 12; x <- 18 to 25 } yield (1, y, x))).distinct
    val (viaDense, _) = fusedVsChained(pts, 30, 30, dense = true)
    val (viaSparse, chained) = fusedVsChained(pts, 30, 30)
    assert(viaDense == viaSparse)
    assert(viaSparse == chained)
  }

  test("closeAndLabel sparse path plans exactly ONE exchange (the fused " +
      "closing+CCL shuffle)") {
    val df = Seq((1, 2, 3), (1, 2, 4), (1, 9, 9)).toDF("frame_no", "y", "x")
    val out = CCL.closeAndLabel(df, 1, 16, 16, Seq("frame_no"))
    val exchanges = "Exchange".r
      .findAllIn(out.queryExecution.executedPlan.toString).length
    // the chained closing->CCL form planned 7+ (dilate-distinct,
    // erode-groupBy, 4 edge joins, mapGroups, join-back)
    assert(exchanges <= 1, s"fused closeAndLabel plans $exchanges exchanges")
  }

  test("closeAndLabel r=0 labels without closing (labelAuto sparse path)") {
    val pts = Seq((1, 1, 1), (1, 1, 2), (1, 5, 5))
    val out = CCL.closeAndLabel(pts.toDF("frame_no", "y", "x"), 0, 16, 16,
        Seq("frame_no"))
      .collect()
      .map(r => (r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    // no pixels added, labels = min pixel id
    assert(out == Map((1, 1) -> 17L, (1, 2) -> 17L, (5, 5) -> 85L))
  }
}

class StencilOpSpec extends SparkSpec {
  import spark.implicits._

  def ramp(n: Int): Seq[(Long, Int, Int, Double)] =
    for { y <- 0 until n; x <- 0 until n }
      yield (1L, y, x, 2.0 * x + 3.0 * y)

  test("derivative of a linear ramp is constant in the interior") {
    val px = ramp(24).toDF("frame_no", "y", "x", "v")
    val d = Stencil.derivatives(px, 24, 24, tile = 8)
      .where(col("y").between(1, 22) && col("x").between(1, 22))
    val bad = d.where(abs(col("ddx") - 2.0) > 1e-9 ||
      abs(col("ddy") - 3.0) > 1e-9).count()
    assert(bad == 0)
  }

  test("convolution is invariant to tile size (halo correctness)") {
    val rnd = new scala.util.Random(3)
    val img = for { y <- 0 until 20; x <- 0 until 20 }
      yield (1L, y, x, rnd.nextDouble() * 100)
    val px = img.toDF("frame_no", "y", "x", "v")
    val k = Array(Array(0.1, 0.2, 0.1), Array(0.2, 0.4, 0.2),
      Array(0.1, 0.2, 0.1))
    def run(tile: Int) = Stencil.convolve2d(px, 20, 20, k, tile)
      .collect().map(r => ((r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
    val a = run(5); val b = run(64)
    assert(a.keySet == b.keySet)
    assert(a.forall { case (k2, v) => math.abs(b(k2) - v) < 1e-9 })
  }

  test("hMaxima finds planted peaks of sufficient prominence") {
    // flat floor at 10, two tall peaks, one shallow bump
    val img = for { y <- 0 until 32; x <- 0 until 32 } yield {
      val v = if ((y, x) == (8, 8)) 100.0
        else if ((y, x) == (20, 25)) 80.0
        else if ((y, x) == (15, 3)) 12.0  // prominence 2 < h
        else 10.0
      (1L, y, x, v)
    }
    val px = img.toDF("frame_no", "y", "x", "v")
    val peaks = Stencil.hMaxima(px, 32, 32, h = 5.0, tile = 16, halo = 8)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(peaks.contains((8, 8)) && peaks.contains((20, 25)))
    assert(!peaks.contains((15, 3)))
  }

  test("hMaxima iteration-cap truncation is counted; convergent tiles " +
      "count zero") {
    // Pathological serpentine plateau: a width-1 snake over every other
    // column (separator columns empty = -inf fill), columns joined
    // alternately at bottom/top, values RISING along the path with a
    // TOTAL rise smaller than h — so no intermediate pixel dominates and
    // the reconstruction level (vmax - h) must propagate from the single
    // global peak back along the ENTIRE path. The in-place raster sweep
    // advances only ~1 row per sweep through the path-reversed "down"
    // columns (~(cols/2)*n sequential slow steps ≈ 1024 for n=64),
    // beyond the 10*side = 640 cap — the guard trips.
    val n = 64
    def snake(): Seq[(Long, Int, Int, Double)] = {
      var i = 0
      val cells = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Int, Double)]
      for (c <- 0 until n / 2) {
        val x = 2 * c
        val ys = if (c % 2 == 0) 0 until n else (n - 1) to 0 by -1
        for (y <- ys) { cells += ((1L, y, x, 1000.0 + 0.001 * i)); i += 1 }
        // connector to the next snake column at the current end
        if (x + 1 < n) {
          val yEnd = if (c % 2 == 0) n - 1 else 0
          cells += ((1L, yEnd, x + 1, 1000.0 + 0.001 * i)); i += 1
        }
      }
      cells.toSeq
    }
    val px = snake().toDF("frame_no", "y", "x", "v")
    val sc = spark.sparkContext
    val trunc = sc.longAccumulator("test.hMaxima.trunc")
    // one tile covers the image (halo 0): guard = 10 * 64 = 640 sweeps,
    // needed ~ 16 reversed columns * 64 rows ≈ 1024 — the cap trips and
    // the run still completes with the documented partial reconstruction
    val out = Stencil.hMaxima(px, n, n, h = 10.0, tile = n, halo = 0,
      truncated = Some(trunc))
    out.count() // force execution
    assert(trunc.value >= 1L,
      s"expected the serpentine plateau to trip the cap, got ${trunc.value}")

    // a well-behaved frame (the planted-peaks image) must not count
    val img = for { y <- 0 until 32; x <- 0 until 32 }
      yield (1L, y, x, if ((y, x) == (8, 8)) 100.0 else 10.0)
    val ok = sc.longAccumulator("test.hMaxima.ok")
    Stencil.hMaxima(img.toDF("frame_no", "y", "x", "v"), 32, 32, h = 5.0,
      tile = 16, halo = 8, truncated = Some(ok)).count()
    assert(ok.value == 0L)
  }
}

class InterpolateSpec extends SparkSpec {
  import spark.implicits._

  private def frame(n: Int, masked: Set[(Int, Int)],
                    f: (Int, Int) => Double) =
    (for (y <- 0 until n; x <- 0 until n) yield
      (1L, y, x, if (masked((y, x))) Double.NaN else f(y, x)))
      .toDF("frame_no", "y", "x", "v")

  /** Independent dense oracle: normalized 9x9 Gaussian convolution over
    * valid in-bounds neighbours (what astropy interpolate_replace_nans
    * computes away from the array border). */
  private def oracle(n: Int, masked: Set[(Int, Int)],
                     f: (Int, Int) => Double, sigma: Double = 1.0,
                     r: Int = 4)(y: Int, x: Int): Double = {
    var num = 0.0; var den = 0.0
    for (dy <- -r to r; dx <- -r to r) {
      val ny = y + dy; val nx = x + dx
      if (ny >= 0 && ny < n && nx >= 0 && nx < n && !masked((ny, nx))) {
        val w = math.exp(-(dy * dy + dx * dx) / (2 * sigma * sigma))
        num += w * f(ny, nx); den += w
      }
    }
    num / den
  }

  test("valid pixels pass through bit-identically") {
    val masked = Set((5, 5), (10, 3))
    val out = Stencil.interpolateMasked(
      frame(24, masked, (y, x) => y * 7.0 + x * 0.5), 24, 24)
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    for (y <- 0 until 24; x <- 0 until 24 if !masked((y, x)))
      assert(out((y, x)) == y * 7.0 + x * 0.5)
  }

  test("isolated masked pixel on a linear ramp recovers the ramp value") {
    // Gaussian weights are symmetric; on a linear field the weighted mean
    // of a full window equals the centre value exactly.
    val out = Stencil.interpolateMasked(
      frame(32, Set((16, 16)), (y, x) => 2.0 * y + 3.0 * x), 32, 32)
      .where($"y" === 16 && $"x" === 16).head.getDouble(3)
    assert(math.abs(out - (2.0 * 16 + 3.0 * 16)) < 1e-9)
  }

  test("clustered mask and border pixels match the dense oracle to 1e-9") {
    val masked = Set((0, 0), (0, 1), (1, 0), (7, 7), (7, 8), (8, 7), (8, 8),
      (20, 2))
    def f(y: Int, x: Int) = math.sin(y * 0.3) * 10 + math.cos(x * 0.2) * 5
    val out = Stencil.interpolateMasked(frame(24, masked, f), 24, 24)
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    masked.foreach { case (y, x) =>
      val exp = oracle(24, masked, f)(y, x)
      assert(math.abs(out((y, x)) - exp) < 1e-9,
        s"($y,$x): ${out((y, x))} vs $exp")
    }
  }

  test("interpolation is invariant to tile size (halo correctness)") {
    val masked = Set((7, 7), (8, 8), (15, 3), (3, 15))
    def f(y: Int, x: Int) = (y * 13 + x * 7 % 11).toDouble
    def run(tile: Int) = Stencil.interpolateMasked(
        frame(24, masked, f), 24, 24, tile = tile)
      .collect().map(r => ((r.getInt(1), r.getInt(2)), r.getDouble(3)))
      .sortBy(_._1).map(_._2)
    assert(run(8).zip(run(256)).forall { case (a, b) =>
      a == b || (a.isNaN && b.isNaN) })
  }

  // one (frame, y, x) -> (grad2_r, grad2_a, q_bin) map of the fused
  // narrow+gradient kernel's output
  private def gradMap(d: org.apache.spark.sql.DataFrame) = d.collect()
    .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
      (r.getDouble(14), r.getDouble(15), r.getInt(10))).toMap

  test("fused dual second directional derivative equals two chained " +
      "directionalDeriv passes bit-exactly, across tiles and frames") {
    // an arbitrary per-pixel hat field (not a calibration's) on a frame
    // that is no multiple of the tile; the chained reference is the
    // single-hat pass — first derivatives, hat join, projection — twice
    val w = 56; val h = 40
    val rnd = new scala.util.Random(11)
    val ang = Array.fill(w * h)(rnd.nextDouble() * math.Pi * 2)
    val ry = ang.map(math.sin); val rx = ang.map(math.cos)
    val hats = (for (y <- 0 until h; x <- 0 until w) yield {
      val i = y * w + x
      (y, x, ry(i), rx(i), -rx(i), ry(i))   // radial hat, azimuthal hat
    }).toDF("y", "x", "ry", "rx", "py", "px")
    val v = (for (f <- 1L to 2L; y <- 0 until h; x <- 0 until w)
      yield (f, y, x, rnd.nextDouble() * 100)).toDF("frame_no", "y", "x", "v")
    def chained(hy: String, hx: String) = {
      def pass(df: org.apache.spark.sql.DataFrame) =
        Stencil.derivatives(df, w, h, tile = 16)
          .join(hats, Seq("y", "x"))
          .select($"frame_no", $"y", $"x",
            ($"ddy" * col(hy) + $"ddx" * col(hx)).as("v"))
      pass(pass(v)).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
          r.getDouble(3)).toMap
    }
    val core = v.select($"frame_no", $"y", $"x", $"v".as("corr_i"),
      $"v".as("corr"), lit(false).as("base_mask"),
      lit(false).as("is_outlier"))
    val qBin = Array.tabulate(w * h)(i => (i % w) / 7 + 1)  // a fake q_bin
    val zeros = Array.fill(w * h)(0.0)
    val fused = gradMap(Stencil.secondDirectionalDerivNarrowRaw(core, w, h,
      new TableGeo(w, zeros, zeros, qBin, qBin, zeros, zeros, zeros),
      new TableHats(w, ry, rx), tile = 16))
    val cr = chained("ry", "rx"); val ca = chained("py", "px")
    assert(fused.keySet == cr.keySet)
    fused.foreach { case (k, (g2r, g2a, _)) =>
      assert(g2r == cr(k), s"grad2_r differs at $k")
      assert(g2a == ca(k), s"grad2_a differs at $k")
    }
    // q_bin rode through the tiles unchanged
    assert(fused.forall { case ((_, _, x), (_, _, qb)) => qb == (x / 7) + 1 })
  }

  test("slim-shuffle geo kernel equals the generic dual derivative " +
      "bit-exactly on a real calibration") {
    // slim: the kernel re-derives geometry in-task from the calibration
    // mirrors; generic: the same kernel fed the relational geometry
    // table's own columns
    val cal = graft.core.SyntheticFrame.testCalibration(64)
    val (h, w) = cal.imageSize
    val rnd = new scala.util.Random(5)
    val core = (for (f <- 1 to 2; y <- 0 until h; x <- 0 until w) yield {
      val v = rnd.nextDouble() * 100
      (f, y, x, v, v, false, false)
    }).toDF("frame_no", "y", "x", "corr_i", "corr", "base_mask",
      "is_outlier")
    val n = w * h
    val (xMm, yMm, q, azim, azimF, ry, rx) = (new Array[Double](n),
      new Array[Double](n), new Array[Double](n), new Array[Double](n),
      new Array[Double](n), new Array[Double](n), new Array[Double](n))
    val (tthBin, qBin) = (new Array[Int](n), new Array[Int](n))
    graft.geometry.Geometry.build(spark, cal)
      .select($"y", $"x", $"x_mm", $"y_mm", $"tth_bin", $"q_bin", $"q",
        $"azim", $"azim_flipped", $"rhat_y", $"rhat_x")
      .collect().foreach { r =>
        val i = r.getInt(0) * w + r.getInt(1)
        xMm(i) = r.getDouble(2); yMm(i) = r.getDouble(3)
        tthBin(i) = r.getInt(4); qBin(i) = r.getInt(5)
        q(i) = r.getDouble(6); azim(i) = r.getDouble(7)
        azimF(i) = r.getDouble(8); ry(i) = r.getDouble(9)
        rx(i) = r.getDouble(10)
      }
    def rows(geo: PixelGeoFn, hats: PixelHatsFn) =
      Stencil.secondDirectionalDerivNarrowRaw(core, w, h, geo, hats,
          tile = 16)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r.toSeq)
        .toMap
    val slim = rows(graft.geometry.Geometry.scalarPixelGeoInto(cal),
      graft.geometry.Geometry.scalarPixelHatsInto(cal))
    val generic = rows(
      new TableGeo(w, xMm, yMm, tthBin, qBin, q, azim, azimF),
      new TableHats(w, ry, rx))
    assert(slim.size == 2 * n)
    assert(slim == generic, "slim geo kernel diverges from generic")
  }

  test("fused narrow+gradient kernel equals the grad-only Raw kernel AND " +
      "the attach-based narrow projection, payload carried bit-exactly") {
    val cal = graft.core.SyntheticFrame.testCalibration(64)
    val (h, w) = cal.imageSize
    val rnd = new scala.util.Random(11)
    // dense frames with non-trivial payload: corr != corr_i, scattered
    // mask/outlier flags (including runs broken mid-row to exercise the
    // run-collector's payload splitting)
    val rows = for (f <- 1 to 2; y <- 0 until h; x <- 0 until w) yield {
      val ci = rnd.nextDouble() * 100
      (f, y, x, ci, ci * (0.5 + rnd.nextDouble()),
        rnd.nextDouble() < 0.07, rnd.nextDouble() < 0.11)
    }
    val core = rows.toDF("frame_no", "y", "x", "corr_i", "corr",
      "base_mask", "is_outlier")
    def run(df: org.apache.spark.sql.DataFrame) =
      Stencil.secondDirectionalDerivNarrowRaw(df, w, h,
        graft.geometry.Geometry.scalarPixelGeoInto(cal),
        graft.geometry.Geometry.scalarPixelHatsInto(cal), tile = 16)
    val fused = run(core).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r).toMap

    // gradients + q_bin: bit-equal to a grad-only run of the same kernel
    // (no payload: corr_i = corr, no flags set) — the payload riding
    // through the exchange never perturbs the derivative planes
    val gradOnly = gradMap(run(core.select($"frame_no", $"y", $"x",
      $"corr".as("corr_i"), $"corr", lit(false).as("base_mask"),
      lit(false).as("is_outlier"))))
    assert(fused.keySet == gradOnly.keySet)
    gradOnly.foreach { case (k, (g2r, g2a, qb)) =>
      val fr = fused(k)
      assert(fr.getDouble(14) == g2r && fr.getDouble(15) == g2a &&
        fr.getInt(10) == qb, s"fused gradients diverge at $k")
    }

    // payload + geometry columns: bit-equal to the relational narrow
    // projection (Geometry.attach over the same core table)
    val narrow = graft.geometry.Geometry.attach(core, cal)
      .select($"frame_no", $"y", $"x", $"x_mm", $"y_mm", $"corr_i",
        $"corr", $"base_mask", $"is_outlier", $"tth_bin", $"q_bin", $"q",
        $"azim", $"azim_flipped")
      .collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1), r.getInt(2)) -> r).toMap
    assert(fused.keySet == narrow.keySet)
    narrow.foreach { case (k, nr) =>
      val fr = fused(k)
      assert((3 until 14).forall(i => fr.get(i) == nr.get(i)),
        s"fused narrow columns diverge at $k: " +
          s"${(3 until 14).map(i => s"${fr.get(i)}|${nr.get(i)}")}")
    }
  }

  test("fully-isolated masked region stays NaN") {
    val n = 24
    val masked = (for (y <- 0 until n; x <- 0 until n
      if y >= 2 && y <= 20 && x >= 2 && x <= 20) yield (y, x)).toSet
    val out = Stencil.interpolateMasked(frame(n, masked, (_, _) => 1.0), n, n)
      .where($"y" === 11 && $"x" === 11).head.getDouble(3)
    assert(out.isNaN) // centre is > radius away from any valid pixel
  }
}

class DenseCCLSpec extends SparkSpec {
  import spark.implicits._

  private def compare(px: Seq[(Int, Int, Int)], width: Int, height: Int,
                      tile: Int): Unit = {
    val df = px.toDF("frame_no", "y", "x")
    def toMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    val sparse = toMap(CCL.label(df, width, Seq("frame_no")))
    val dense = toMap(CCL.labelDense(df, width, height, Seq("frame_no"),
      tile = tile))
    assert(dense == sparse, "dense escalation labels differ from sparse")
  }

  test("labelDense equals label on a 70%-fill random mask across tiles") {
    val rnd = new scala.util.Random(3)
    val px = for {
      f <- 1 to 2; y <- 0 until 48; x <- 0 until 64
      if rnd.nextDouble() < 0.7
    } yield (f, y, x)
    compare(px, width = 64, height = 48, tile = 16)
  }

  test("labelDense merges a component spanning 4+ tile boundaries") {
    // one thin snake crossing tiles horizontally and vertically
    val snake = (0 until 60).map(x => (1, 8, x)) ++
      (8 until 40).map(y => (1, y, 59)) ++
      (0 until 60).map(x => (1, 39, x))
    compare(snake.distinct, width = 64, height = 48, tile = 16)
    // single component expected
    val labels = CCL.labelDense(snake.distinct.toDF("frame_no", "y", "x"),
      64, 48, Seq("frame_no"), tile = 16)
      .select($"label").distinct().count()
    assert(labels == 1)
  }

  test("labelAuto routes by per-frame density; both routes agree") {
    val rnd = new scala.util.Random(7)
    val px = for { y <- 0 until 32; x <- 0 until 32
      if rnd.nextDouble() < 0.5 } yield (1, y, x)
    val df = px.toDF("frame_no", "y", "x")
    def toMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    // high threshold -> sparse path; tiny threshold -> dense escalation
    val sparse = toMap(CCL.labelAuto(df, 32, 32, Seq("frame_no"),
      densePixelsPerFrame = 1000000L))
    val dense = toMap(CCL.labelAuto(df, 32, 32, Seq("frame_no"),
      densePixelsPerFrame = 10L))
    assert(sparse == dense, "dense escalation changed labels")
    assert(sparse == toMap(CCL.label(df, 32, Seq("frame_no"))))
  }

  test("label-mapping join-back drops the FORCED broadcast above the " +
      "row cap (size-based auto-broadcast stays Catalyst's call)") {
    val px = Seq((1, 0, 0), (1, 0, 1), (1, 5, 5))
      .toDF("frame_no", "y", "x")
    // disable size-based auto-broadcast so the plan shows only what the
    // HINT forces — at scale the checkpointed mapping's real stats keep
    // Catalyst from broadcasting a huge mapping on its own
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, "-1"))
    try {
      val guarded = CCL.label(px, 16, Seq("frame_no"), maxBroadcastRows = 0L)
      val hinted = CCL.label(px, 16, Seq("frame_no"))
      assert(hinted.queryExecution.executedPlan.toString
        .contains("Broadcast"), "below the cap the mapping should broadcast")
      assert(!guarded.queryExecution.executedPlan.toString
        .contains("Broadcast"),
        "above the cap the mapping join must not force a broadcast")
      // the guarded plan still labels identically
      def toSet(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
        .toSet
      assert(toSet(guarded) == toSet(hinted))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("labelDense keeps frames separated and labels deterministic") {
    val px = Seq((1, 0, 0), (1, 0, 1), (2, 0, 0), (2, 0, 1), (2, 5, 5))
    val out = CCL.labelDense(px.toDF("frame_no", "y", "x"), 16, 16,
      Seq("frame_no"), tile = 4)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(out == Set((1, 0, 0, 0L), (1, 0, 1, 0L), (2, 0, 0, 0L),
      (2, 0, 1, 0L), (2, 5, 5, 85L)))
  }
}

class DirectionalDerivSpec extends SparkSpec {
  import spark.implicits._

  test("fused directional derivative equals convolve+join bit-exactly " +
      "through two chained passes") {
    // the fused narrow+gradient kernel against the round-1 formulation:
    // convolve2d first derivatives, hat join, projection — twice per hat
    // field — on a real calibration, two frames and 16 tiles a frame
    val cal = graft.core.SyntheticFrame.testCalibration(64)
    val (h, w) = cal.imageSize
    val rnd = new scala.util.Random(11)
    // dense frames with non-trivial payload: corr != corr_i, scattered
    // mask/outlier flags (including runs broken mid-row to exercise the
    // run-collector's payload splitting)
    val rows = for (f <- 1 to 2; y <- 0 until h; x <- 0 until w) yield {
      val ci = rnd.nextDouble() * 100
      (f, y, x, ci, ci * (0.5 + rnd.nextDouble()),
        rnd.nextDouble() < 0.07, rnd.nextDouble() < 0.11)
    }
    val core = rows.toDF("frame_no", "y", "x", "corr_i", "corr",
      "base_mask", "is_outlier")
    val fused = Stencil.secondDirectionalDerivNarrowRaw(core, w, h,
      graft.geometry.Geometry.scalarPixelGeoInto(cal),
      graft.geometry.Geometry.scalarPixelHatsInto(cal), tile = 16)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) -> r).toMap

    val attached = graft.geometry.Geometry.attach(core, cal)
      .withColumn("frame_no", $"frame_no".cast("long"))
    val hats = attached.select($"frame_no", $"y", $"x", $"rhat_y",
      $"rhat_x", $"phat_y", $"phat_x")
    def project(df: org.apache.spark.sql.DataFrame, hy: String,
                hx: String) =
      Stencil.derivatives(df, w, h, tile = 16)
        .join(hats, Seq("frame_no", "y", "x"))
        .select($"frame_no", $"y", $"x",
          ($"ddy" * col(hy) + $"ddx" * col(hx)).as("v"))
    def second(hy: String, hx: String) = {
      val v = attached.select($"frame_no", $"y", $"x", $"corr".as("v"))
      project(project(v, hy, hx), hy, hx).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
          r.getDouble(3)).toMap
    }
    val g2r = second("rhat_y", "rhat_x")
    val g2a = second("phat_y", "phat_x")
    val qBin = attached.select($"frame_no", $"y", $"x", $"q_bin")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        r.getInt(3)).toMap
    assert(fused.keySet == g2r.keySet && fused.keySet == g2a.keySet)
    fused.foreach { case (k, fr) =>
      assert(fr.getDouble(14) == g2r(k), s"grad2_r differs at $k")
      assert(fr.getDouble(15) == g2a(k), s"grad2_a differs at $k")
      assert(fr.getInt(10) == qBin(k), s"q_bin differs at $k")
    }
  }
}
