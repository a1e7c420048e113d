package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Frame-to-frame cosine similarity series (reference pipeline.py:506-557:
  * csim vs the FIRST and the PREVIOUS frame of the dataset, first frame
  * comparing to itself).
  *
  * The reference re-reads the previous/first image from disk per frame
  * (J5); here ONE exchange co-locates every frame's value of a pixel
  * (group by (dataset, y, x)), each task folds its pixels into partial
  * dot products, and the driver adds the partials and finishes each
  * frame on the resulting k-by-3 Gram entries (k = frames per dataset).
  * Per pixel a frame pairs with itself (its squared norm), with frame
  * `frame_no - 1` and with the pixel's lowest frame: whenever the
  * dataset's first frame has a value at a pixel it IS that pixel's
  * lowest frame, so the first-frame dot products come out complete
  * while per-pixel work stays linear in k. Frames are identified by an
  * integer `frame_no` within a `dataset` column.
  *
  * Gap semantics are DELIBERATELY filename-arithmetic, like the reference:
  * `pipeline.py:508-523` reads file `number-1` and, when it does not exist
  * (a skipped/unreadable frame), falls back to comparing the current image
  * with ITSELF — csim_prev = 1.0. The finish below reproduces exactly
  * that, so after a quarantined frame N, frame N+1 reports 1.0 just as
  * the reference would. Do not "fix" this into last-processed-frame
  * semantics; that would diverge from the reference output.
  */
object Csim {

  /** Summed dot products of one pass, keyed (dataset, current, partner).
    * A frame INSTANCE packs `frame_no * 2 + src`: the stateful stream
    * tags carried-over state frames `src = 0` and its own batch's frames
    * `src = 1`, and a frame present as both is taken from the batch
    * ([[finish]]) — the frame-level "re-delivered state frame is
    * dropped" rule. Diagonal entries are the squared norms. */
  final case class Gram(dots: Map[(String, Long, Long), Double]) {

    /** Frame instances per dataset (the diagonal's keys). */
    lazy val instances: Map[String, Set[Long]] =
      dots.keySet.collect { case (ds, a, b) if a == b => ds -> a }
        .groupMap(_._1)(_._2)

    /** Frame numbers per dataset that have an instance from `src`. */
    def frames(src: Int): Map[String, Set[Long]] =
      instances.map { case (ds, is) =>
        ds -> is.collect { case i if (i & 1L) == src => i >> 1 }
      }.filter(_._2.nonEmpty)
  }

  /** One csim row: (dataset, frame_no, csim_first, csim_prev). */
  type Row = (String, Long, Double, Double)

  /** The single exchange and its partial dot products, summed on the
    * driver (ONE action). Input: (dataset, frame_no, src, y, x, v), at
    * most one row per (dataset, frame_no, src, y, x). */
  private[graft] def gram(px: DataFrame): Gram = {
    val spark = px.sparkSession
    import spark.implicits._
    val perPixel = px
      .groupBy(col("dataset"), col("y"), col("x"))
      .agg(collect_list(struct(
        (col("frame_no").cast("long") * 2 + col("src").cast("long")).as("_1"),
        col("v").cast("double").as("_2"))).as("e"))
      .select(col("dataset"), col("e"))
      .as[(String, Seq[(Long, Double)])]
    val partials = perPixel.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap.empty[(String, Long, Long), Double]
      def add(ds: String, a: (Long, Double), b: (Long, Double)): Unit = {
        val k = (ds, a._1, b._1)
        acc.update(k, acc.getOrElse(k, 0.0) + a._2 * b._2)
      }
      it.foreach { case (ds, e) =>
        val px = e.toArray.sortBy(_._1)
        val minF = px(0)._1 >> 1
        var i = 0
        while (i < px.length) {
          val a = px(i); val fa = a._1 >> 1
          add(ds, a, a)
          // instances of frame fa - 1 sit just below a in the sort order
          var j = i - 1
          while (j >= 0 && (px(j)._1 >> 1) >= fa - 1) {
            if ((px(j)._1 >> 1) == fa - 1) add(ds, a, px(j))
            j -= 1
          }
          // the pixel's lowest frame (already paired if it is fa - 1)
          if (minF != fa - 1) {
            var m = 0
            while (m < px.length && (px(m)._1 >> 1) == minF) {
              if (m != i) add(ds, a, px(m))
              m += 1
            }
          }
          i += 1
        }
      }
      acc.iterator.map { case ((ds, a, b), d) => (ds, a, b, d) }
    }.collect()
    val dots = scala.collection.mutable.HashMap.empty[(String, Long, Long), Double]
    partials.foreach { case (ds, a, b, d) =>
      dots.update((ds, a, b), dots.getOrElse((ds, a, b), 0.0) + d) }
    Gram(dots.toMap)
  }

  /** Per-frame finish on the Gram entries: one row per frame that has a
    * value at any pixel, taking the batch instance of a frame over its
    * state instance. A missing dot product (no previous frame, or no
    * shared pixel) is the reference's compare-to-itself 1.0. */
  private[graft] def finish(g: Gram): Seq[Row] =
    g.instances.toSeq.sortBy(_._1).flatMap { case (ds, is) =>
      // the batch instance (odd) of a frame wins over its state one
      val inst = is.groupMapReduce(_ >> 1)(identity)(math.max)
      def cos(a: Long, b: Long): Option[Double] =
        g.dots.get((ds, a, b)).map(d => d /
          (math.sqrt(g.dots((ds, a, a))) * math.sqrt(g.dots((ds, b, b)))))
      val first = inst(inst.keys.min)
      inst.toSeq.sortBy(_._1).map { case (f, a) =>
        (ds, f, cos(a, first).getOrElse(1.0),
          inst.get(f - 1).flatMap(cos(a, _)).getOrElse(1.0))
      }
    }

  /** csim rows as a one-partition table (dataset, frame_no, csim_first,
    * csim_prev), `frame_no` cast to `frameNoType`. */
  private[graft] def toFrame(spark: SparkSession, rows: Seq[Row],
                             frameNoType: DataType): DataFrame = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(rows, numSlices = 1))
      .toDF("dataset", "frame_no", "csim_first", "csim_prev")
      .withColumn("frame_no", col("frame_no").cast(frameNoType))
  }

  /** Input: (dataset, frame_no, y, x, v). Output per frame:
    * (dataset, frame_no, csim_first, csim_prev). Runs its one action
    * when called and returns the (k-row) series as a local table. */
  def series(px: DataFrame): DataFrame =
    toFrame(px.sparkSession, finish(gram(px.withColumn("src", lit(0)))),
      px.schema("frame_no").dataType)
}
