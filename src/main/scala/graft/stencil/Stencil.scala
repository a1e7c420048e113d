package graft.stencil

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dense tile-stencil execution: partition the pixel table into square
  * tiles, duplicate a halo ring of pixels to neighbouring tiles, run a
  * per-tile dense kernel, and emit only interior results.
  *
  * This is the Spark analogue of the reference's blocked execution
  * (MakeUseTA GSASII_imports.py:484-511 runs 128-512 px blocks) plus the
  * convolution stages (radial_and_azim_gradient classification.py:46-63,
  * kernels from gradient_cache cache_creation.py:108-197). Shuffle volume
  * is |pixels| * (1 + O(halo/tile)) — the halo overhead is a few percent
  * for tile=256, halo=1 — and each tile is a few MB of dense array, well
  * inside executor memory at any frame size.
  *
  * Input schema: (frame_no: long-castable, y: int, x: int, v: double).
  */
object Stencil {

  /** The packed tile key is `frame_no << 24 | ty << 12 | tx`: 12 bits per
    * tile axis and 39 bits of frame number (the sign bit must stay clear
    * for the arithmetic-shift decode). Violations would silently corrupt
    * keys — cross-frame/tile collisions producing wrong gradients — so
    * both bounds fail loudly instead. */
  private val MaxPackedFrame = 1L << 39

  private def requirePackable(width: Int, height: Int, tile: Int): Unit =
    require(height <= tile * 4096 && width <= tile * 4096,
      s"packed tile key holds 12 bits per tile axis: image ${width}x" +
        s"$height exceeds $tile*4096 tiles per side; raise `tile`")

  /** Run `kernel` over dense (tile+2*halo)^2 arrays assembled per tile.
    * `kernel(buf, w, h)` returns the transformed buffer (same shape,
    * row-major, y-major). Missing pixels are `fill`. Emits
    * (frame_no, y, x, v) for interior pixels only. */
  def mapTiles(px: DataFrame, width: Int, height: Int,
               tile: Int = 256, halo: Int = 1, fill: Double = 0.0)
              (kernel: (Array[Double], Int, Int) => Array[Double])
      : DataFrame = {
    val spark = px.sparkSession
    import spark.implicits._
    val side = tile + 2 * halo
    val nTx = (width + tile - 1) / tile

    val typed = px.select(col("frame_no").cast("long"), col("y").cast("int"),
      col("x").cast("int"), col("v").cast("double")).as[(Long, Int, Int, Double)]

    typed.flatMap { case (f, y, x, v) =>
      // home tile plus any neighbour tile whose halo covers this pixel
      val tys = ((y - halo) / tile) to ((y + halo) / tile)
      val txs = ((x - halo) / tile) to ((x + halo) / tile)
      for {
        ty <- tys if ty >= 0 && ty * tile < height
        tx <- txs if tx >= 0 && tx * tile < width
      } yield ((f, ty, tx), (y, x, v))
    }
    .groupByKey(_._1)
    .flatMapGroups { (key: (Long, Int, Int), it) =>
      val (f, ty, tx) = key
      val buf = Array.fill(side * side)(fill)
      val y0 = ty * tile - halo; val x0 = tx * tile - halo
      it.foreach { case (_, (y, x, v)) =>
        val ly = y - y0; val lx = x - x0
        if (ly >= 0 && ly < side && lx >= 0 && lx < side)
          buf(ly * side + lx) = v
      }
      val out = kernel(buf, side, side)
      val yMax = math.min(tile, height - ty * tile)
      val xMax = math.min(tile, width - tx * tile)
      for {
        ly <- (halo until halo + yMax).iterator
        lx <- halo until halo + xMax
      } yield (f, y0 + ly, x0 + lx, out(ly * side + lx))
    }
    .toDF("frame_no", "y", "x", "v")
  }

  /** 2-D correlation with a (2r+1)^2 kernel (row-major, y-major). */
  def convolve2d(px: DataFrame, width: Int, height: Int,
                 k: Array[Array[Double]], tile: Int = 256,
                 fill: Double = 0.0): DataFrame = {
    val r = k.length / 2
    mapTiles(px, width, height, tile, halo = r, fill = fill) {
      (buf, w, h) =>
        val out = new Array[Double](buf.length)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var s = 0.0
            var inBounds = y >= r && y < h - r && x >= r && x < w - r
            if (inBounds) {
              var dy = -r
              while (dy <= r) {
                var dx = -r
                while (dx <= r) {
                  s += k(dy + r)(dx + r) * buf((y + dy) * w + (x + dx))
                  dx += 1
                }
                dy += 1
              }
            }
            out(y * w + x) = s
            x += 1
          }
          y += 1
        }
        out
    }
  }

  /** Central-difference derivative kernels (y, x). */
  val dyKernel: Array[Array[Double]] = Array(
    Array(0.0, -0.5, 0.0), Array(0.0, 0.0, 0.0), Array(0.0, 0.5, 0.0))
  val dxKernel: Array[Array[Double]] = Array(
    Array(0.0, 0.0, 0.0), Array(-0.5, 0.0, 0.5), Array(0.0, 0.0, 0.0))

  /** First derivatives (dI/dy, dI/dx) of a dense value image — the inputs
    * to the reference's radial/azimuthal directional gradients
    * (classification.py:46-63): grad_r = d . r_hat, grad_phi = d . phi_hat
    * with the unit vectors as geometry columns, applied relationally by
    * the caller. This join-based form is the readable reference for the
    * fused [[secondDirectionalDerivNarrowRaw]] kernel (asserted
    * bit-identical in DirectionalDerivSpec). */
  def derivatives(px: DataFrame, width: Int, height: Int,
                  tile: Int = 256): DataFrame = {
    val dy = convolve2d(px, width, height, dyKernel, tile)
      .withColumnRenamed("v", "ddy")
    val dx = convolve2d(px, width, height, dxKernel, tile)
      .withColumnRenamed("v", "ddx")
    dy.join(dx, Seq("frame_no", "y", "x"))
  }

  /** Second directional derivatives along BOTH hat fields (radial for
    * classification, azimuthal for the A8 gradient stats) fused with the
    * pipeline's pinned narrow projection in ONE tile pass — the
    * per-frame plan's only derivative kernel. Per field the math is the
    * reference's radial_and_azim_gradient applied twice
    * (classification.py:46-63, 474-496): g1 = 0.5*(v[y+1]-v[y-1])*hy +
    * 0.5*(v[x+1]-v[x-1])*hx, then the same stencil over g1. A halo of 2
    * lets the first derivative be computed tile-locally into the halo-1
    * ring (zero outside the frame, as a zero-filled convolution gives),
    * then differentiated again for the tile interior; the result equals
    * the [[derivatives]] + hat-join formulation run twice, bit for bit
    * (DirectionalDerivSpec).
    *
    * Exchange: pixels are run-collected into LINE SEGMENTS before the
    * shuffle — one (packed tile key, y, x0, values[]) row per contiguous
    * x-run clipped to each overlapping tile window, so the shuffle moves
    * ~tile-width times fewer rows than a per-pixel form (out-of-order
    * input only shortens the runs). The per-pixel payload (corr_i and
    * the two mask flags, packed to a byte) rides each run alongside the
    * corrected values, ~9 B/px. The exchange is a hash repartition of
    * UnsafeRows sorted within partitions on the tile key, so the kernel
    * streams ONE tile buffer at a time — per-task memory is one tile
    * however many frames a batch carries — and reads and writes
    * InternalRows directly (no encoder round-trip). All geometry columns
    * are re-derived in-kernel from the scalar mirrors
    * ([[graft.geometry.Geometry.scalarPixelGeoInto]] and
    * [[graft.geometry.Geometry.scalarPixelHatsInto]], bit-identical to
    * the `attach` columns), so nothing else crosses the wire and the
    * downstream stages (classification, integrals, stats) read this one
    * checkpoint.
    *
    * Input (dense per frame): (frame_no, y, x, corr_i, corr, base_mask,
    * is_outlier). Output: (frame_no, y, x, x_mm, y_mm, corr_i, corr,
    * base_mask, is_outlier, tth_bin, q_bin, q, azim, azim_flipped,
    * grad2_r, grad2_a) for every in-frame pixel — the narrow projection's
    * exact columns plus both gradients. Pixels absent from the input
    * surface as zero-filled rows (the pipeline always feeds whole frames).
    */
  def secondDirectionalDerivNarrowRaw(px: DataFrame, width: Int,
                                      height: Int,
                                      geo: graft.geometry.Geometry
                                        .PixelGeoFn,
                                      hats: graft.geometry.Geometry
                                        .PixelHatsFn,
                                      tile: Int = 512): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow,
      UnsafeArrayData, UnsafeProjection}
    import org.apache.spark.sql.types._
    val spark = px.sparkSession
    val halo = 2
    val side = tile + 2 * halo
    val w = width; val h = height
    requirePackable(width, height, tile)

    val f = when(col("frame_no").cast("long").between(0, MaxPackedFrame - 1),
        col("frame_no").cast("long"))
      .otherwise(raise_error(concat(
        lit("frame_no outside the packed-tile-key range [0, 2^39): "),
        col("frame_no").cast("string"))))
    val flagsByte = (when(col("base_mask"), 1).otherwise(0) +
      when(col("is_outlier"), 2).otherwise(0)).cast("tinyint")
    val slim = px.select(f.as("f"), col("y").cast("int").as("y"),
      col("x").cast("int").as("x"), col("corr").cast("double").as("v"),
      col("corr_i").cast("double").as("ci"), flagsByte.as("fl"))

    // ---- stage 1: run-collect into per-tile segments, payload riding ---
    val segSchema = StructType(Seq(
      StructField("bk", LongType, nullable = false),
      StructField("y", IntegerType, nullable = false),
      StructField("x0", IntegerType, nullable = false),
      StructField("vs", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("cis", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("fls", ArrayType(ByteType, containsNull = false),
        nullable = false)))
    val segRdd = slim.queryExecution.toRdd.mapPartitions { it =>
      new Iterator[InternalRow] {
        private val proj = UnsafeProjection.create(Array[DataType](LongType,
          IntegerType, IntegerType, ArrayType(DoubleType, false),
          ArrayType(DoubleType, false), ArrayType(ByteType, false)))
        private val holder = new GenericInternalRow(6)
        private val pending =
          scala.collection.mutable.Queue.empty[InternalRow]
        private var runF = 0L; private var runY = 0; private var runX0 = 0
        private var runLen = 0
        private val runV = new Array[Double](w)
        private val runCi = new Array[Double](w)
        private val runFl = new Array[Byte](w)
        private def flushRun(): Unit = if (runLen > 0) {
          val x1 = runX0 + runLen - 1
          var ty = (runY - halo) / tile
          val tyHi = (runY + halo) / tile
          while (ty <= tyHi) {
            if (ty >= 0 && ty * tile < h) {
              var tx = (runX0 - halo) / tile
              val txHi = (x1 + halo) / tile
              while (tx <= txHi) {
                if (tx >= 0 && tx * tile < w) {
                  val wx0 = tx * tile - halo
                  val wx1 = tx * tile + tile + halo - 1
                  val cx0 = math.max(runX0, wx0)
                  val cx1 = math.min(x1, wx1)
                  if (cx0 <= cx1) {
                    holder.update(0,
                      (runF << 24) | (ty.toLong << 12) | tx.toLong)
                    holder.update(1, runY)
                    holder.update(2, cx0)
                    holder.update(3, UnsafeArrayData.fromPrimitiveArray(
                      java.util.Arrays.copyOfRange(runV,
                        cx0 - runX0, cx1 - runX0 + 1)))
                    holder.update(4, UnsafeArrayData.fromPrimitiveArray(
                      java.util.Arrays.copyOfRange(runCi,
                        cx0 - runX0, cx1 - runX0 + 1)))
                    holder.update(5, UnsafeArrayData.fromPrimitiveArray(
                      java.util.Arrays.copyOfRange(runFl,
                        cx0 - runX0, cx1 - runX0 + 1)))
                    pending.enqueue(proj(holder).copy())
                  }
                }
                tx += 1
              }
            }
            ty += 1
          }
          runLen = 0
        }
        private def fill(): Unit = {
          while (pending.isEmpty && it.hasNext) {
            val r = it.next()
            val rf = r.getLong(0); val ry = r.getInt(1)
            val rx = r.getInt(2)
            if (runLen > 0 && rf == runF && ry == runY &&
                rx == runX0 + runLen && runLen < w) {
              runV(runLen) = r.getDouble(3); runCi(runLen) = r.getDouble(4)
              runFl(runLen) = r.getByte(5); runLen += 1
            } else {
              flushRun()
              runF = rf; runY = ry; runX0 = rx
              runV(0) = r.getDouble(3); runCi(0) = r.getDouble(4)
              runFl(0) = r.getByte(5); runLen = 1
            }
          }
          if (pending.isEmpty) flushRun()
        }
        def hasNext: Boolean = { fill(); pending.nonEmpty }
        def next(): InternalRow = { fill(); pending.dequeue() }
      }
    }
    val parts = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val segs = org.apache.spark.sql.graftshim.Internals
      .internalCreateDataFrame(spark, segRdd, segSchema)
      .repartition(parts, col("bk"))
      .sortWithinPartitions("bk")

    // ---- stage 2: stream one sorted tile at a time through the kernel --
    val outTypes = Array[DataType](LongType, IntegerType, IntegerType,
      DoubleType, DoubleType, DoubleType, DoubleType, BooleanType,
      BooleanType, IntegerType, IntegerType, DoubleType, DoubleType,
      DoubleType, DoubleType, DoubleType)
    val outRdd = segs.queryExecution.toRdd.mapPartitions { it =>
      new Iterator[InternalRow] {
        private val proj = UnsafeProjection.create(outTypes)
        private val outRow = new org.apache.spark.sql.catalyst.expressions
          .SpecificInternalRow(outTypes)
        // ONE geometry holder per task — reused for every emitted pixel
        private val geoHolder =
          new graft.geometry.Geometry.PixelGeoHolder
        private val hatBuf = new Array[Double](2)
        private val n = side * side
        // PING-PONG accumulation planes: emitTile hands the CURRENT set
        // to its (lazily drained) output iterator and scattering for the
        // next tile continues into the other set — the former
        // clone-per-tile allocated three fresh planes (~4.5 MB) per tile
        // and left the old ones to the collector; the ~6 s of GC in this
        // stage's 10 s warm cost was the round-6 lever. Two fixed sets
        // per task replace clone+fill with swap+fill.
        private var vb = new Array[Double](n)
        private var cib = new Array[Double](n)
        private var flb = new Array[Byte](n)
        private var vbAlt = new Array[Double](n)
        private var cibAlt = new Array[Double](n)
        private var flbAlt = new Array[Byte](n)
        // work planes, allocated once per task. d1r/d1a are zero-filled
        // per tile (out-of-frame slots must read 0.0 in the second
        // stencil pass); the hat planes need NO clearing — only in-frame
        // slots are ever read, and those are rewritten every tile.
        private val ryb = new Array[Double](n)
        private val rxb = new Array[Double](n)
        private val pyb = new Array[Double](n)
        private val pxb = new Array[Double](n)
        private val d1r = new Array[Double](n)
        private val d1a = new Array[Double](n)
        private var curBk = Long.MinValue
        private var haveTile = false
        private var outIt: Iterator[InternalRow] = Iterator.empty

        private def scatter(r: InternalRow): Unit = {
          val bk = r.getLong(0)
          val ty = ((bk >> 12) & 0xfff).toInt; val tx = (bk & 0xfff).toInt
          val ly = r.getInt(1) - (ty * tile - halo)
          val lx0 = r.getInt(2) - (tx * tile - halo)
          val vs = r.getArray(3); val cis = r.getArray(4)
          val fls = r.getArray(5)
          val m = vs.numElements()
          var k = 0
          while (k < m) {
            val i = ly * side + lx0 + k
            vb(i) = vs.getDouble(k); cib(i) = cis.getDouble(k)
            flb(i) = fls.getByte(k)
            k += 1
          }
        }

        /** Stencil over the CURRENT planes, swapping the ping-pong sets
          * so the next tile accumulates into cleared planes while the
          * returned iterator lazily reads this tile's. Safe because
          * fill() fully drains the previous iterator before the next
          * emitTile, and at most one scatter targets the swapped-in set
          * while the iterator is live. */
        private def emitTile(bk: Long): Iterator[InternalRow] = {
          val fNo = bk >> 24
          val ty = ((bk >> 12) & 0xfff).toInt; val tx = (bk & 0xfff).toInt
          val y0 = ty * tile - halo; val x0 = tx * tile - halo
          val vT = vb; val ciT = cib; val flT = flb
          vb = vbAlt; cib = cibAlt; flb = flbAlt
          vbAlt = vT; cibAlt = ciT; flbAlt = flT
          java.util.Arrays.fill(vb, 0.0)
          java.util.Arrays.fill(cib, 0.0)
          java.util.Arrays.fill(flb, 0.toByte)
          java.util.Arrays.fill(d1r, 0.0)
          java.util.Arrays.fill(d1a, 0.0)
          // hat planes from the transcendental-free mirror — the full geo
          // closure runs only once per EMITTED pixel below, not per plane
          // slot (the former full-closure fill was ~2x the kernel's trig)
          var ly = 0
          while (ly < side) {
            val gy = y0 + ly
            if (gy >= 0 && gy < h) {
              var lx = 0
              while (lx < side) {
                val gx = x0 + lx
                if (gx >= 0 && gx < w) {
                  hats(gy, gx, hatBuf)
                  val i = ly * side + lx
                  ryb(i) = hatBuf(0); rxb(i) = hatBuf(1)
                  pyb(i) = -hatBuf(1); pxb(i) = hatBuf(0)
                }
                lx += 1
              }
            }
            ly += 1
          }
          ly = 1
          while (ly < side - 1) {
            val gy = y0 + ly
            var lx = 1
            while (lx < side - 1) {
              val gx = x0 + lx
              if (gy >= 0 && gy < h && gx >= 0 && gx < w) {
                val i = ly * side + lx
                val ddy = 0.5 * (vT(i + side) - vT(i - side))
                val ddx = 0.5 * (vT(i + 1) - vT(i - 1))
                d1r(i) = ddy * ryb(i) + ddx * rxb(i)
                d1a(i) = ddy * pyb(i) + ddx * pxb(i)
              }
              lx += 1
            }
            ly += 1
          }
          val yMax = math.min(tile, h - ty * tile)
          val xMax = math.min(tile, w - tx * tile)
          // hand-rolled emit iterator: the former Range
          // iterator.flatMap/map boxed both loop indices per pixel
          // (~4.7 GB/run of java.lang.Integer, r15 JFR §1) and
          // allocated one PixelGeo case object per emitted pixel
          // (~5.6 GB/run) — primitive int cursors plus the one
          // task-reused geometry holder bring the emit path's owned
          // churn to ~zero. Values bit-identical: same visit order,
          // same arithmetic.
          new Iterator[InternalRow] {
            private var oy = halo
            private var ox = halo
            private val oyEnd = halo + yMax
            private val oxEnd = halo + xMax
            def hasNext: Boolean = oy < oyEnd && ox < oxEnd
            def next(): InternalRow = {
              val i = oy * side + ox
              val gy = y0 + oy; val gx = x0 + ox
              geo(gy, gx, geoHolder)
              val g = geoHolder
              val d2r = 0.5 * (d1r(i + side) - d1r(i - side)) * ryb(i) +
                0.5 * (d1r(i + 1) - d1r(i - 1)) * rxb(i)
              val d2a = 0.5 * (d1a(i + side) - d1a(i - side)) * pyb(i) +
                0.5 * (d1a(i + 1) - d1a(i - 1)) * pxb(i)
              outRow.setLong(0, fNo)
              outRow.setInt(1, gy); outRow.setInt(2, gx)
              outRow.setDouble(3, g.xMm); outRow.setDouble(4, g.yMm)
              outRow.setDouble(5, ciT(i)); outRow.setDouble(6, vT(i))
              outRow.setBoolean(7, (flT(i) & 1) != 0)
              outRow.setBoolean(8, (flT(i) & 2) != 0)
              outRow.setInt(9, g.tthBin); outRow.setInt(10, g.qBin)
              outRow.setDouble(11, g.q); outRow.setDouble(12, g.azim)
              outRow.setDouble(13, g.azimFlipped)
              outRow.setDouble(14, d2r); outRow.setDouble(15, d2a)
              ox += 1
              if (ox >= oxEnd) { ox = halo; oy += 1 }
              // NO per-row copy: Spark's iterator contract makes the
              // consumer copy when it buffers (Dataset.localCheckpoint
              // maps _.copy() itself; collect/shuffle/sort serialize or
              // copy per row) — the former defensive copy was ~40 MB of
              // garbage per tile, the single largest allocation source
              // in the batch hot path (round-6 GC lever).
              proj(outRow): InternalRow
            }
          }
        }

        private def fill(): Unit = {
          while (!outIt.hasNext && it.hasNext) {
            val r = it.next()
            val bk = r.getLong(0)
            if (!haveTile) { curBk = bk; haveTile = true }
            else if (bk != curBk) {
              outIt = emitTile(curBk)
              curBk = bk
            }
            scatter(r)
          }
          if (!outIt.hasNext && !it.hasNext && haveTile) {
            outIt = emitTile(curBk)
            haveTile = false
          }
        }
        def hasNext: Boolean = { fill(); outIt.hasNext }
        def next(): InternalRow = { fill(); outIt.next() }
      }
    }
    val schema = StructType(Seq(
      StructField("frame_no", LongType, nullable = false),
      StructField("y", IntegerType, nullable = false),
      StructField("x", IntegerType, nullable = false),
      StructField("x_mm", DoubleType, nullable = false),
      StructField("y_mm", DoubleType, nullable = false),
      StructField("corr_i", DoubleType, nullable = false),
      StructField("corr", DoubleType, nullable = false),
      StructField("base_mask", BooleanType, nullable = false),
      StructField("is_outlier", BooleanType, nullable = false),
      StructField("tth_bin", IntegerType, nullable = false),
      StructField("q_bin", IntegerType, nullable = false),
      StructField("q", DoubleType, nullable = false),
      StructField("azim", DoubleType, nullable = false),
      StructField("azim_flipped", DoubleType, nullable = false),
      StructField("grad2_r", DoubleType, nullable = false),
      StructField("grad2_a", DoubleType, nullable = false)))
    org.apache.spark.sql.graftshim.Internals
      .internalCreateDataFrame(spark, outRdd, schema)
  }

  /** M6 — NaN interpolation (reference classification.py:466-468 via
    * astropy interpolate_replace_nans with Gaussian2DKernel(x_stddev=1)):
    * masked pixels (NaN in `v`) are replaced by the Gaussian-weighted
    * mean of VALID pixels in the (2r+1)^2 window — normalized
    * convolution, weights renormalized over the valid subset — while
    * valid pixels pass through untouched. A masked pixel with no valid
    * neighbour in the window stays NaN (astropy behavior). Out-of-frame
    * neighbours are excluded rather than zero-filled (interior behavior
    * matches astropy; the frame border differs from its boundary='fill'
    * zero padding, documented).
    *
    * astropy sizes the kernel at 8*stddev rounded up to odd = 9x9 for
    * the reference's stddev 1 — radius 4 below. */
  def interpolateMasked(px: DataFrame, width: Int, height: Int,
                        sigma: Double = 1.0, radius: Int = 4,
                        tile: Int = 256): DataFrame = {
    val r = radius
    val k = Array.tabulate(2 * r + 1, 2 * r + 1) { (dy, dx) =>
      val yy = dy - r; val xx = dx - r
      math.exp(-(yy * yy + xx * xx) / (2 * sigma * sigma))
    }
    mapTiles(px, width, height, tile, halo = r, fill = Double.NaN) {
      (buf, w, h) =>
        val out = new Array[Double](buf.length)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = buf(y * w + x)
            if (!v.isNaN) out(y * w + x) = v
            else {
              var num = 0.0; var den = 0.0
              var dy = -r
              while (dy <= r) {
                var dx = -r
                while (dx <= r) {
                  val ny = y + dy; val nx = x + dx
                  if (ny >= 0 && ny < h && nx >= 0 && nx < w) {
                    val nv = buf(ny * w + nx)
                    if (!nv.isNaN) {
                      val wgt = k(dy + r)(dx + r)
                      num += wgt * nv; den += wgt
                    }
                  }
                  dx += 1
                }
                dy += 1
              }
              out(y * w + x) = if (den > 0) num / den else Double.NaN
            }
            x += 1
          }
          y += 1
        }
        out
    }
  }

  /** h-maxima: pixels on regional maxima whose height over the surrounding
    * "sea level" exceeds h (reference spottiness.py:64-84). Computed by
    * tile-local morphological reconstruction of (image - h) under image,
    * with a generous halo; maxima whose plateau extends beyond
    * tile + halo are approximated (documented halo bound — SURVEY §7.4).
    *
    * TWO documented approximation bounds, both observable:
    *  - halo: reconstruction cannot see influence from beyond
    *    tile + halo pixels away (structure wider than the halo may be
    *    over-reported as maxima);
    *  - iteration cap: the geodesic dilation runs at most
    *    10 * max(side, side) raster sweeps per tile (worst case ~10 s of
    *    CPU on a pathological serpentine plateau) — if the cap trips,
    *    reconstruction is left PARTIAL for that tile, which can only
    *    over-report maxima (the marker is a lower bound of the true
    *    reconstruction, monotonically approached from below).
    * `truncated`, when supplied, counts the tiles whose cap tripped
    * (visible in the Spark UI as a named accumulator; zero on every
    * non-adversarial frame we have measured). The count is APPROXIMATE
    * with at-least-once semantics: it increments inside a transformation,
    * so speculative/retried tasks and re-execution of an unpinned plan
    * over-count, and FramePipeline registers a fresh accumulator per
    * process() call — read it as per-execution observability ("did the
    * cap trip, roughly how often"), never as an exact cumulative metric. */
  def hMaxima(px: DataFrame, width: Int, height: Int, h: Double,
              tile: Int = 256, halo: Int = 16,
              truncated: Option[org.apache.spark.util.LongAccumulator] =
                None): DataFrame = {
    val out = mapTiles(px, width, height, tile, halo,
      fill = Double.NegativeInfinity) { (buf, w, ht) =>
      val marker = buf.map(v => if (v.isNegInfinity) v else v - h)
      // iterative geodesic dilation of marker under buf until fixpoint
      var changed = true
      var guard = 0
      while (changed && guard < 10 * math.max(w, ht)) {
        changed = false
        var y = 0
        while (y < ht) {
          var x = 0
          while (x < w) {
            var m = marker(y * w + x)
            var dy = -1
            while (dy <= 1) {
              var dx = -1
              while (dx <= 1) {
                val ny = y + dy; val nx = x + dx
                if (ny >= 0 && ny < ht && nx >= 0 && nx < w) {
                  val cand = marker(ny * w + nx)
                  if (cand > m) m = cand
                }
                dx += 1
              }
              dy += 1
            }
            val lim = buf(y * w + x)
            val nv = if (m < lim) m else lim
            if (nv > marker(y * w + x)) { marker(y * w + x) = nv
              changed = true }
            x += 1
          }
          y += 1
        }
        guard += 1
      }
      // `changed` still true here means the cap cut reconstruction short
      if (changed) truncated.foreach(_.add(1L))
      // h-maxima mask: image - reconstruction >= h (within tolerance)
      buf.indices.map { i =>
        if (!buf(i).isNegInfinity && buf(i) - marker(i) >= h - 1e-9) 1.0
        else 0.0
      }.toArray
    }
    out.where(col("v") > 0.5).drop("v")
  }
}
