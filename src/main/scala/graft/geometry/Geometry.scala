package graft.geometry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Calibration

/** The static per-pixel geometry table — the engine's one big "dimension".
  *
  * Reference: per-calibration 2-theta/azimuth/distance/polarization maps and
  * bin-index maps, computed once and cached across frames
  * (Make2ThetaAzimuthMap GSASII_imports.py:515-554, prepare_qmaps
  * cache_creation.py:21-54, Polarization GSASII_imports.py:558-579,
  * CacheCreator pipeline_queue.py:182-343).
  *
  * Spark-first: the maps are closed-form Column math over (y, x)
  * ([[attach]]), so the frame plan computes them inside its own pixel
  * scan, and the fused stencil kernel through bit-identical scalar
  * mirrors ([[scalarPixelGeoInto]], [[scalarPixelHatsInto]]); no per-frame
  * join. Nothing here is a UDF — the whole map computation runs inside
  * whole-stage codegen. The table form ([[build]], one job over
  * `spark.range(ny*nx)`, optionally persisted per calibration hash)
  * feeds the map sinks.
  *
  * Geometry convention (documented, unit-tested; the reference's exact
  * rotation-composition is vendored GSAS-II code we deliberately re-derive):
  * pixel (x, y) sits at detector-plane offset d = ((x+0.5)*px - cx,
  * (y+0.5)*py - cy) mm; the detector plane is tilted by `tilt` degrees
  * about an axis at `rotation` degrees in the plane; lab-frame position is
  * P = Rz(rot) * Rx(tilt) * Rz(-rot) * (dx, dy, 0) + (0, 0, D);
  * 2theta = angle(P, z), azimuth = atan2(Py, Px) + azmthOff (mod 360).
  */
object Geometry {

  /** Build the geometry DataFrame:
    * (y, x, tth, azim, azim_flipped, q, dist_sq, pol, tth_bin, q_bin,
    *  azim_band, in_tth_range, in_azim_range).
    */
  /** 3x3 rotation matrix about `axis` (0=x, 2=z) by `deg` degrees —
    * the roll-based construction the reference uses (makeMat
    * GSASII_imports.py:1050-1059). */
  private[geometry] def rotMat(deg: Double, axis: Int): Array[Array[Double]] = {
    val c = math.cos(math.toRadians(deg)); val s = math.sin(math.toRadians(deg))
    val m = Array(Array(1.0, 0.0, 0.0), Array(0.0, c, -s), Array(0.0, s, c))
    Array.tabulate(3, 3)((i, j) =>
      m(((i - axis) % 3 + 3) % 3)(((j - axis) % 3 + 3) % 3))
  }

  def build(spark: SparkSession, cal: Calibration): DataFrame = {
    val (ny, nx) = cal.imageSize
    val base = spark.range(ny.toLong * nx)
      .select(
        (col("id") / nx).cast("int").as("y"),
        (col("id") % nx).cast("int").as("x"))
    attach(base, cal)
  }

  /** Append the geometry columns to ANY table carrying integer pixel
    * coordinates (y, x) — the inline form of [[build]]: the same Column
    * expressions, so every value is bit-identical to the persisted
    * table's, but computed inside the consumer's own whole-stage codegen
    * with ZERO shuffle and no join. This is the hot path at scale: the
    * geometry "dimension" is a closed-form function of its join key, so
    * re-deriving ~30 doubles of trig per pixel (sub-µs) beats
    * co-partitioning two 8M-row-per-frame tables on (y, x); the frame
    * plan takes this form. The table form ([[build]]) feeds the
    * per-calibration map sinks (Sinks.writeMapTiffs). */
  def attach(df: DataFrame, cal: Calibration): DataFrame = {
    val (pxX, pxY) = (cal.pixelSize._1 / 1000.0, cal.pixelSize._2 / 1000.0)
    // Reference pose math (GetTthAzmG2 GSASII_imports.py:1023-1046, the
    // detector-2theta = 0 path): effective distance D/cos(tilt); the
    // out-of-plane pixel offset dz comes from MN = -(Rz(rot) . Rx(tilt)^T);
    // 2-theta = atan2(sqrt(dx^2+dy^2-dz^2), dist - dz + penetration), with
    // the detector-penetration term peneCorr (GSASII_imports.py:1063-1065).
    val distEff = cal.distance / math.cos(math.toRadians(cal.tilt))
    val mz = rotMat(cal.rotation, 2); val mx = rotMat(cal.tilt, 0)
    // MN = -(Mz . Mx^T); only the z-column is needed for dz
    def mn(i: Int, k: Int): Double = -(0 until 3).map(j => mz(i)(j) * mx(k)(j)).sum
    val m02 = mn(0, 2); val m12 = mn(1, 2)

    val dx = (col("x") + lit(0.5)) * pxX - cal.center._1
    val dy = (col("y") + lit(0.5)) * pxY - cal.center._2
    val dz = dx * m02 + dy * m12
    val xyZ = dx * dx + dy * dy - dz * dz
    val tth0 = degrees(atan(sqrt(xyZ) / (lit(distEff) - dz)))
    val dzp = lit(cal.detDepth) * (lit(1.0) - cos(radians(tth0))) *
      (distEff * distEff / 1000.0)
    val tth = degrees(atan2(sqrt(xyZ), lit(distEff) - dz + dzp))
    val azim = pmod(degrees(atan2(dy, dx)) + cal.azmthOff + 720.0,
      lit(360.0))
    val q = lit(4.0 * math.Pi / cal.wavelength) * sin(radians(tth) / 2)
    // Geometric (solid-angle) correction G = dist^2/d0^2: the reference
    // stores this squared-distance map and the correction multiplies
    // G^1.5 (pipeline.py:63-65; G from GSASII_imports.py:1039-1045).
    val x0 = cal.distance * math.tan(math.toRadians(cal.tilt))
    val x0x = x0 * math.cos(math.toRadians(cal.rotation))
    val x0y = x0 * math.sin(math.toRadians(cal.rotation))
    val distSq = ((dx - x0x) * (dx - x0x) + (dy - x0y) * (dy - x0y) +
      cal.distance * cal.distance) / (cal.distance * cal.distance)
    // reference applies the polarization formula at azm - 90 deg
    // (Make2ThetaAzimuthMap GSASII_imports.py:553)
    val polaF = polarization(tth, azim - 90.0, cal.polaVal)

    val (tthLo, tthHi) = cal.ioTth
    val step = cal.tthStep
    val qEdges = cal.qBinEdges
    val qLo = qEdges.head
    val qStep = (qEdges.last - qEdges.head) / cal.outChannels

    // Radial / azimuthal unit vectors in pixel space (reference
    // r_and_phi_hat cache_creation.py:94-105): r_hat points away from the
    // beam center, phi_hat is its perpendicular; used to project stencil
    // derivatives onto radial/azimuthal directions.
    val rNorm = sqrt(dx * dx + dy * dy)
    val rhatY = when(rNorm > 0, dy / rNorm).otherwise(lit(0.0))
    val rhatX = when(rNorm > 0, dx / rNorm).otherwise(lit(0.0))

    df.select(
      col("*"),
      // detector-plane mm coordinates (mask DSL shapes are given in mm)
      ((col("x") + lit(0.5)) * pxX).as("x_mm"),
      ((col("y") + lit(0.5)) * pxY).as("y_mm"),
      tth.as("tth"), azim.as("azim"),
      rhatY.as("rhat_y"), rhatX.as("rhat_x"),
      (-rhatX).as("phat_y"), rhatY.as("phat_x"),
      // second azimuth origin so wedges crossing 0/360 measure correctly
      // (reference flipped-map trick, classification.py:386-393)
      pmod(azim + 180.0, lit(360.0)).as("azim_flipped"),
      q.as("q"), distSq.as("dist_sq"), polaF.as("pol"),
      binOf(tth, tthLo, step, cal.outChannels).as("tth_bin"),
      binOf(q, qLo, qStep, cal.outChannels).as("q_bin"),
      floor(azim / (360.0 / cal.azmBands)).cast("int").as("azim_band"),
      (tth >= tthLo && tth < tthHi).as("in_tth_range"),
      azimIn(azim, cal.lrAzimuth).as("in_azim_range"))
  }

  /** Scalar mirror of pmod(a, n) for doubles — the exact arithmetic of
    * Catalyst's Pmod (a % n, re-modded up by n when negative), so mirrored
    * azimuth values stay bit-identical to the Column form. */
  private def pmodD(a: Double, n: Double): Double = {
    val r = a % n
    if (r < 0) (r + n) % n else r
  }

  /** Hat-field-only scalar mirror of [[attach]]: writes (rhat_y, rhat_x)
    * for pixel (y, x), with phat = (-rhat_x, rhat_y) by construction.
    * Pure arithmetic — no transcendentals — so tile kernels can fill
    * their hat planes at a fraction of the full-geometry cost and reserve
    * [[scalarPixelGeoInto]] for the interior pixels they actually emit.
    * Bit-identical to the attach columns (same expression order,
    * asserted in GeometrySpec). */
  def scalarPixelHatsInto(cal: Calibration): PixelHatsFn = {
    val (pxX, pxY) = (cal.pixelSize._1 / 1000.0, cal.pixelSize._2 / 1000.0)
    val (cx, cy) = cal.center
    new PixelHatsFn {
      def apply(y: Int, x: Int, out: Array[Double]): Unit = {
        val dx = (x + 0.5) * pxX - cx
        val dy = (y + 0.5) * pxY - cy
        val rNorm = math.sqrt(dx * dx + dy * dy)
        if (rNorm > 0) { out(0) = dy / rNorm; out(1) = dx / rNorm }
        else { out(0) = 0.0; out(1) = 0.0 }
      }
    }
  }

  /** The per-pixel geometry values a fused stencil kernel re-derives
    * in-task instead of shipping through (or joining after) the tile
    * exchange — the [[attach]] columns the pipeline's pinned narrow
    * projection carries, minus the correction factors (pol/dist_sq stay
    * upstream: the corrected value itself crosses the exchange). Mutable,
    * filled in place by [[scalarPixelGeoInto]]: one holder per task
    * replaces one case object per emitted pixel (the r15 JFR allocation
    * profile charged ~5.6 GB/run of that churn to the fused gradient
    * kernel's emit path, SCALE_r15 §1). */
  final class PixelGeoHolder {
    var rhatY = 0.0; var rhatX = 0.0; var phatY = 0.0; var phatX = 0.0
    var qBin = 0; var xMm = 0.0; var yMm = 0.0; var tthBin = 0
    var q = 0.0; var azim = 0.0; var azimFlipped = 0.0
  }

  /** Boxing-free per-pixel mirror interfaces. A generic scala.FunctionN
    * apply boxes every Int argument (Function3 is unspecialized;
    * Function2 returning a non-specialized Tuple2 falls back to the
    * generic apply too) — one java.lang.Integer per argument per pixel
    * on the kernel hot path (r15 JFR: ~4.7 GB/run). Dedicated traits
    * with primitive signatures keep the loop allocation-free. */
  trait PixelGeoFn extends Serializable {
    def apply(y: Int, x: Int, out: PixelGeoHolder): Unit
  }

  /** Hat-field mirror, boxing-free: writes (rhat_y, rhat_x) into
    * `out(0)`, `out(1)`. */
  trait PixelHatsFn extends Serializable {
    def apply(y: Int, x: Int, out: Array[Double]): Unit
  }

  /** Full scalar mirror of [[attach]], allocation-free form: writes the
    * per-pixel geometry into a caller-owned [[PixelGeoHolder]]. THE one
    * implementation of the mirror arithmetic — every step in the Column
    * expressions' evaluation order so each field is bit-identical to
    * the geometry table's (asserted in GeometrySpec). Used by the fused
    * narrow+gradient tile kernel
    * (Stencil.secondDirectionalDerivNarrowRaw) to emit the pipeline's
    * pinned projection straight from the stencil pass. */
  def scalarPixelGeoInto(cal: Calibration): PixelGeoFn = {
    val (pxX, pxY) = (cal.pixelSize._1 / 1000.0, cal.pixelSize._2 / 1000.0)
    val (cx, cy) = cal.center
    val distEff = cal.distance / math.cos(math.toRadians(cal.tilt))
    val mz = rotMat(cal.rotation, 2); val mx = rotMat(cal.tilt, 0)
    def mn(i: Int, k: Int): Double =
      -(0 until 3).map(j => mz(i)(j) * mx(k)(j)).sum
    val m02 = mn(0, 2); val m12 = mn(1, 2)
    val detDepth = cal.detDepth
    val distK = distEff * distEff / 1000.0
    val qMul = 4.0 * math.Pi / cal.wavelength
    val qEdges = cal.qBinEdges
    val qLo = qEdges.head
    val qStep = (qEdges.last - qEdges.head) / cal.outChannels
    val nChan = cal.outChannels
    val azmthOff = cal.azmthOff
    val (tthLo, _) = cal.ioTth
    val tthStep = cal.tthStep

    new PixelGeoFn { def apply(y: Int, x: Int, out: PixelGeoHolder)
        : Unit = {
      val dx = (x + 0.5) * pxX - cx
      val dy = (y + 0.5) * pxY - cy
      val dz = dx * m02 + dy * m12
      val xyZ = dx * dx + dy * dy - dz * dz
      val tth0 = math.toDegrees(math.atan(math.sqrt(xyZ) / (distEff - dz)))
      val dzp = detDepth * (1.0 - math.cos(math.toRadians(tth0))) * distK
      val tth = math.toDegrees(
        math.atan2(math.sqrt(xyZ), distEff - dz + dzp))
      val azim = pmodD(
        math.toDegrees(math.atan2(dy, dx)) + azmthOff + 720.0, 360.0)
      val q = qMul * math.sin(math.toRadians(tth) / 2)
      val rawQ = math.floor((q - qLo) / qStep).toInt
      val qBin = if (rawQ >= 0 && rawQ < nChan) rawQ else -1
      val rawT = math.floor((tth - tthLo) / tthStep).toInt
      val tthBin = if (rawT >= 0 && rawT < nChan) rawT else -1
      val rNorm = math.sqrt(dx * dx + dy * dy)
      val ry = if (rNorm > 0) dy / rNorm else 0.0
      val rx = if (rNorm > 0) dx / rNorm else 0.0
      out.rhatY = ry; out.rhatX = rx; out.phatY = -rx; out.phatX = ry
      out.qBin = qBin; out.xMm = (x + 0.5) * pxX; out.yMm = (y + 0.5) * pxY
      out.tthBin = tthBin; out.q = q; out.azim = azim
      out.azimFlipped = pmodD(azim + 180.0, 360.0)
    } }
  }

  /** Channel index, -1 for out-of-range (reference clamps to the discard
    * bin, cache_creation.py:40-42). */
  private def binOf(v: Column, lo: Double, step: Double, n: Int): Column = {
    val raw = floor((v - lo) / step).cast("int")
    when(raw >= 0 && raw < n, raw).otherwise(lit(-1))
  }

  /** Wrap-aware azimuth-range predicate (reference pipeline_queue.py:287,
    * mask arcs GSASII_imports.py:147-149). */
  def azimIn(azim: Column, range: (Double, Double)): Column = {
    val (lo, hi) = range
    if (hi - lo >= 360.0) lit(true)
    else if (lo <= hi) azim >= lo && azim <= hi
    else azim >= lo || azim <= hi
  }

  /** Polarization factor (reference Polarization
    * GSASII_imports.py:558-579):
    * ((1-P) cos^2(az) + P sin^2(az)) cos^2(tth) + (1-P) sin^2(az)
    *   + P cos^2(az). */
  def polarization(tth: Column, azim: Column, p: Double): Column = {
    val ca2 = pow(cos(radians(azim)), 2)
    val sa2 = lit(1.0) - ca2
    val ct2 = pow(cos(radians(tth)), 2)
    (lit(1.0 - p) * ca2 + lit(p) * sa2) * ct2 + lit(1.0 - p) * sa2 +
      lit(p) * ca2
  }

  /** Unit conversion columns (reference corrections_and_maps.py:40-49),
    * registered for SQL use as well. */
  def tthToQ(tth: Column, wavelength: Double): Column =
    lit(4.0 * math.Pi / wavelength) * sin(radians(tth) / 2)
  def qToTth(q: Column, wavelength: Double): Column =
    degrees(asin(q * wavelength / (4.0 * math.Pi))) * 2
  def tthToD(tth: Column, wavelength: Double): Column =
    lit(wavelength) / (sin(radians(tth) / 2) * 2)

  /** P11 — derive the output channel count from the detector geometry
    * (reference pipeline_queue.py:302-312): the detector-plane X
    * positions of the two 2-theta limits at azimuth 0 are found from the
    * Dandelin-sphere ellipse of each diffraction cone (GetEllipse2 /
    * GetDetectorXY2, GSASII_imports.py:856-970), and the channel count is
    * half the pixel span between them. Pure driver-side scalar math, run
    * once per calibration. Only the ellipse branch (tth + |tilt| < 90,
    * every powder geometry in practice) is derived; the reference's
    * hyperbola branch raises at the same point we throw. */
  def deriveNumChans(cal: Calibration): Int = {
    def sind(d: Double) = math.sin(math.toRadians(d))
    def cosd(d: Double) = math.cos(math.toRadians(d))
    def tand(d: Double) = math.tan(math.toRadians(d))
    val tilt = cal.tilt; val dist = cal.distance
    val phi = cal.rotation - 90.0 // rotation of the ellipse major axis
    def detectorX(tth: Double): Double = {
      require(tth + math.abs(tilt) < 90.0,
        "hyperbola branch not supported (tth + |tilt| >= 90)")
      // detector-penetration shift (peneCorr, GSASII_imports.py:1062-1063)
      val dxy = cal.detDepth * (1.0 - cosd(tth)) * dist * dist / 1000.0
      val d = dist + dxy
      val stth = sind(tth); val cosb = cosd(tilt); val tanb = tand(tilt)
      val tbm = tand((tth - tilt) / 2.0); val tbp = tand((tth + tilt) / 2.0)
      val fplus = d * tanb * stth / (cosb + stth)
      val fminus = d * tanb * stth / (cosb - stth)
      val vplus = d * (tanb + (1 + tbm) / (1 - tbm)) * stth / (cosb + stth)
      val vminus = d * (tanb + (1 - tbp) / (1 + tbp)) * stth / (cosb - stth)
      val rMinor = math.sqrt((vplus + vminus) * (vplus + vminus) -
        (fplus + fminus) * (fplus + fminus)) / 2.0
      val rMajor = (vplus + vminus) / 2.0
      // GetDetectorXY2 recomputes f± for zdis from the PLAIN distance
      // (GSASII_imports.py:872-874); only the ellipse radii above use the
      // penetration-corrected d. With DetDepth != 0 the two differ, and
      // since numChans = int(1000*(x1-x0)/pix)/2 a mixed-up zdis can
      // shift the derived channel count by one.
      val fplusD = dist * tanb * stth / (cosb + stth)
      val fminusD = dist * tanb * stth / (cosb - stth)
      val zdis = (fplusD - fminusD) / 2.0
      // radius toward azimuth 0 (GetDetectorXY2's ellipse branch)
      val rsqPlus = rMinor * rMinor + rMajor * rMajor
      val rsqMinus = rMinor * rMinor - rMajor * rMajor
      val bigR = rsqMinus * cosd(-2.0 * phi) + rsqPlus
      val bigQ = math.sqrt(2.0) * rMinor * rMajor *
        math.sqrt(bigR - 2.0 * zdis * zdis * sind(-phi) * sind(-phi))
      val bigP = 2.0 * rMinor * rMinor * zdis * cosd(-phi)
      (bigP + bigQ) / bigR + cal.center._1
    }
    val x0 = detectorX(cal.ioTth._1)
    val x1 = detectorX(cal.ioTth._2)
    (1000.0 * (x1 - x0) / cal.pixelSize._1).toInt / 2
  }

  /** Persist+reload helper: geometry is content-addressed by calibration so
    * recomputation happens only when the calibration changes (reference
    * invalidates its cache on settings change, pipeline_queue.py:870-871).
    */
  def buildCached(spark: SparkSession, cal: Calibration,
                  cacheDir: String): DataFrame = {
    val path = s"$cacheDir/geometry_${contentKey(cal)}"
    // Hadoop-resolved existence check (graft.core.Fs): cacheDir may be a
    // local dir, hdfs:// or s3a:// — same URI semantics as the write below
    if (!graft.core.Fs.exists(path, graft.core.Fs.conf(spark)))
      build(spark, cal).write.mode("ignore").parquet(path)
    spark.read.parquet(path)
  }

  /** Collision-proof cache key: SHA-256 over the calibration's full field
    * string. A 32-bit `hashCode` key can collide across calibrations and
    * silently serve the wrong geometry; a 256-bit content hash cannot in
    * practice. */
  def contentKey(cal: Calibration): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(cal.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(32)
  }

  /** Persist the geometry table BUCKETED on (y, x): a consumer that
    * joins pixels with the table (the J1 shape; the frame plan itself
    * derives geometry inline) then reads the geometry side
    * pre-partitioned, so only the incoming pixel batch shuffles and the
    * geometry side never moves again across the life of a calibration.
    */
  def saveBucketed(spark: SparkSession, cal: Calibration, table: String,
                   buckets: Int = 32): Unit = {
    build(spark, cal).write.mode("overwrite")
      .bucketBy(buckets, "y", "x").sortBy("y", "x")
      .format("parquet")
      .saveAsTable(table)
  }
}
