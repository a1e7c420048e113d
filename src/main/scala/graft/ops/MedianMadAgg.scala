package graft.ops

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Single-pass exact (median, MAD, count) aggregator — the optional
  * one-shuffle form of the reference's per-ring robust statistics
  * (SURVEY §2.12 item 3; the reference computes both via quickselect in
  * one C pass, fmask.c:33-77,242-249).
  *
  * `RobustStats.medianMad` (two grouped stages + broadcast join-backs) is
  * the pure-builtin baseline; this Aggregator halves the scans and removes
  * the join-backs at the cost of buffering each group's values. Ring
  * populations are bounded (a 2880^2 frame has ~3k px per 2-theta ring),
  * so buffers stay small; for unbounded groups prefer the two-stage form.
  *
  * Median semantics match Spark's exact `median` (linear interpolation at
  * even counts, null values SKIPPED — `n` counts the non-null values the
  * median was computed over).
  */
object MedianMadAgg {

  final case class Result(med: Double, mad: Double, n: Long)

  private class Agg
      extends Aggregator[java.lang.Double, Array[Double], Result] {
    // growable buffer as a plain array; slot 0 holds the logical size
    def zero: Array[Double] = Array(0.0)

    // boxed input + null skip: a primitive-Double encoder silently
    // coerces null to 0.0 AND counts it — a divergence from the builtin
    // `median` caught by QbinMedianFormSpec the first time a nullable
    // column reached this aggregator
    def reduce(buf: Array[Double], boxed: java.lang.Double): Array[Double] = {
      if (boxed == null) return buf
      val v = boxed.doubleValue()
      val n = buf(0).toInt
      val out = if (n + 1 >= buf.length) {
        val grown = new Array[Double](math.max(4, buf.length * 2))
        System.arraycopy(buf, 0, grown, 0, buf.length)
        grown
      } else buf
      out(n + 1) = v
      out(0) = n + 1
      out
    }

    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      val na = a(0).toInt; val nb = b(0).toInt
      val out = new Array[Double](na + nb + 1)
      out(0) = na + nb
      System.arraycopy(a, 1, out, 1, na)
      System.arraycopy(b, 1, out, 1 + na, nb)
      out
    }

    /** Exact interpolated median of the first n slots (destructive). */
    private def medianOf(vs: Array[Double], n: Int): Double = {
      java.util.Arrays.sort(vs, 0, n)
      if (n % 2 == 1) vs(n / 2)
      else {
        val a = vs(n / 2 - 1); val b = vs(n / 2)
        a + (b - a) * 0.5 // matches Spark percentile interpolation
      }
    }

    def finish(buf: Array[Double]): Result = {
      val n = buf(0).toInt
      if (n == 0) return Result(Double.NaN, Double.NaN, 0L)
      val vs = java.util.Arrays.copyOfRange(buf, 1, n + 1)
      val med = medianOf(vs.clone(), n)
      var i = 0
      while (i < n) { vs(i) = math.abs(vs(i) - med); i += 1 }
      Result(med, medianOf(vs, n), n.toLong)
    }

    // native primitive-array encoder, NOT kryo: the buffer crosses the
    // partial→final shuffle as UnsafeArrayData (a length-prefixed
    // memcpy of the doubles) instead of a generic kryo object stream —
    // measured ~1.35× on the aggregate at the A8 shape, warm
    // clean-iteration best 4.27 s (kryo) → 3.16 s (native)
    // (interleaved cross-JVM pairs, SCALE_r07.md §1)
    def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Result] = Encoders.product[Result]
  }

  /** Column form: `medMad(value)` → struct(med, mad, n). */
  def medMad(value: Column): Column = udaf(new Agg).apply(value)
}
