package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Pins

/** Exact interpolated percentile as a gather-and-sort Aggregator.
  *
  * Spark's builtin `percentile` aggregate maintains a value->count map
  * per group — measured ~26 s for one 8.3M-value frame group (the
  * classification global-threshold stage). Buffering the raw values and
  * running one primitive dual-pivot sort at finish is ~10x faster at
  * frame-group sizes and produces the SAME interpolated result (Spark /
  * numpy linear interpolation). Memory: one double per value per group,
  * spill-free — use only for groups known to fit a task (frames, rings);
  * the builtin remains the right choice for unbounded cardinality.
  */
object PercentileAgg {

  private class Agg(p: Double)
      extends Aggregator[java.lang.Double, Array[Double], Double] {
    def zero: Array[Double] = Array(0.0) // slot 0 = logical size

    // boxed input + null skip: the builtin `percentile` IGNORES nulls, and
    // a primitive-Double encoder would silently coerce them to 0.0 and
    // count them — a divergence waiting for the first nullable call site
    // (e.g. a left-join product)
    def reduce(buf: Array[Double], boxed: java.lang.Double): Array[Double] = {
      if (boxed == null) return buf
      val v = boxed.doubleValue()
      val n = buf(0).toInt
      val out = if (n + 1 >= buf.length) {
        val grown = new Array[Double](math.max(8, buf.length * 2))
        System.arraycopy(buf, 0, grown, 0, buf.length)
        grown
      } else buf
      out(n + 1) = v; out(0) = n + 1
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

    def finish(buf: Array[Double]): Double = {
      val n = buf(0).toInt
      if (n == 0) return Double.NaN
      java.util.Arrays.sort(buf, 1, n + 1)
      val pos = (n - 1) * p
      val lo = pos.toInt
      if (lo + 1 >= n) buf(n)
      else {
        // Spark's Percentile interpolation: symmetric convex combination
        // lower*(hi-pos) + higher*(pos-lo) — 1-ulp-identical to builtin
        val frac = pos - lo
        buf(lo + 1) * (1.0 - frac) + buf(lo + 2) * frac
      }
    }

    def bufferEncoder: Encoder[Array[Double]] = Encoders.kryo[Array[Double]]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Column form: exact interpolated p-quantile of `value`. */
  def percentileExact(value: Column, p: Double): Column =
    udaf(new Agg(p)).apply(value)

  /** Distributed exact interpolated p-quantile — the PARALLEL form of
    * [[percentileExact]] for groups the size of a whole frame.
    *
    * The gather-and-sort aggregator runs its final sort in ONE task per
    * group, so a 2-frame batch leaves 30 of 32 cores idle for the length
    * of an 8.3 M-value sort — measured as the hot critical-path stage of
    * the classify chain at production frame size (SCALE_r06.md). This
    * form never gathers a group: it finds the two order statistics the
    * interpolation needs by bucket-histogram rank selection —
    *
    *   1. per-group min/max/count (codegen HashAggregate);
    *   2. a 65536-bucket histogram of the value range (codegen);
    *   3. cumulative counts over the per-group histogram rows (a window
    *      over group x occupied-bucket rows — thousands per group, not
    *      millions) locate the bucket holding ranks ⌊pos⌋+1 and ⌊pos⌋+2;
    *   4. one filtered pass over just the target bucket(s), counted per
    *      DISTINCT value so heavy ties (the zero spike of a gradient
    *      field) cost one row, ranked by the same cumulative trick.
    *
    * Every stage is a codegen aggregate or a tiny window; parallelism is
    * data-partitions, independent of group count. Interpolation applies
    * the aggregator's exact formula — `vlo*(1-frac) + vhi*frac` with
    * `frac = pos - ⌊pos⌋`, `pos = (n-1)*p` — so results are bit-identical
    * to [[percentileExact]] on NaN-free input (asserted across ties,
    * all-equal and 1/2-element groups in PercentileSelectSpec; NaN-free
    * is the pipeline's regime — the aggregator remains the choice for
    * NaN-bearing or many-small-group data).
    *
    * Outlier robustness: a single extreme value (a hot pixel's gradient)
    * squeezes the bulk of a min/max-ranged histogram into one bucket.
    * When the rank-holding bucket's population exceeds `maxGather`, the
    * search RECURSES into that single bucket (span shrinks ÷buckets per
    * level), per group, until the distinct-value pass is bounded; when
    * the two ranks land in DIFFERENT buckets, their order statistics are
    * simply max(lower bucket) / min(upper bucket) — plain codegen
    * aggregates, no gather at all. Physical data resolves in 1-2 levels;
    * `maxLevels` caps adversarial nestings, falling back to the
    * distinct-value pass (heavy ties collapse there, so only data
    * engineered with distinct values nested across 8+ magnitude scales
    * could make that final pass large).
    *
    * This function is EAGER: it collects the per-level target-bucket
    * rows (tiny: ≤2 per group, already broadcast-bounded) to route each
    * group down its cheapest path — one driver round-trip per level.
    * Returns one row per group: (keys..., `outCol`).
    * Groups whose values are all null produce NO row (the aggregator
    * yields NaN instead); every caller joins the result back on the
    * keys, where a NaN threshold and an absent one behave alike.
    */
  def percentileSelect(df: DataFrame, keys: Seq[String], valueCol: String,
                       p: Double, outCol: String = "pct",
                       buckets: Int = 65536,
                       maxGather: Long = 1L << 18): DataFrame = {
    require(p >= 0.0 && p <= 1.0, s"percentile p out of [0,1]: $p")
    // global (no keys): run under a constant key so every internal join
    // is a broadcast HASH join — a crossJoin would plan a nested-loop,
    // which the plan invariants (rightly) forbid in query paths.
    //
    // The key must be NON-FOLDABLE: a plain lit(1) is constant-folded
    // out of the cumulative window's partition spec, so WindowExec logs
    // "No Partition Defined … moving all data to a single partition" on
    // every global call. A single partition is the DESIGN there, not an
    // accident — the windowed relation is the occupied-bucket histogram,
    // ≤ `buckets` (65,536) rows per group by construction — but the
    // warning reads like a scale bug. spark_partition_id() is
    // nondeterministic, hence never folded; ×0 makes it the constant 1
    // on every row while keeping the partition key visible to the
    // planner.
    if (keys.isEmpty)
      return percentileSelect(
        df.withColumn("_pk", spark_partition_id() * 0 + 1), Seq("_pk"),
        valueCol, p, outCol, buckets, maxGather).drop("_pk")
    val kcols = keys.map(col)
    val vdf = df.where(col(valueCol).isNotNull)
      .select(kcols :+ col(valueCol).as("_v"): _*)
    // ranks AND min/max in ONE aggregation pass: they were separate
    // (count here, min/max lazily inside the level), but the lazy form
    // re-executed its full-table scan in every downstream job that
    // broadcast it — fusing them into this checkpoint drops two of the
    // ~five scans a level-0 call made
    val ranks = Pins.pin(vdf.groupBy(kcols: _*)
      .agg(count(lit(1)).as("_n"), min(col("_v")).as("_mn"),
        max(col("_v")).as("_mx"))
      .withColumn("_pos", (col("_n") - 1).cast("double") * lit(p))
      .withColumn("_frac", col("_pos") - floor(col("_pos")))
      .withColumn("_klo", floor(col("_pos")).cast("long") + 1)
      .withColumn("_khi", least(col("_klo") + 1, col("_n")))
      .select(kcols :+ col("_n") :+ col("_klo") :+ col("_khi") :+
        col("_frac") :+ col("_mn") :+ col("_mx"): _*))
    if (gatherable(ranks, maxGather))
      return arrTable(vdf, kcols)
        .join(broadcast(ranks.select(kcols :+ col("_klo") :+
          col("_khi") :+ col("_frac"): _*)), keys)
        .select(kcols :+ gatherInterp.as(outCol): _*)
    selectLevel(vdf, ranks.drop("_n"), keys, outCol, buckets, maxGather,
      level = 0)
  }

  /** Gather fast path gate (shared by both select forms): when every
    * group fits a task (max group size ≤
    * `spark.graft.pct.gatherMaxGroupRows`, default 2^20 — an 8 MB task
    * buffer whose single-task sort costs about one scheduler action,
    * and 8× BELOW the measured single-task bottleneck this routing
    * operator exists to avoid: one 2880² frame's 8.3M values in one
    * task, SCALE_r06 / FramePipeline.hMaximaStats — production frame
    * groups therefore stay ROUTED) and one shuffle of the full value
    * table is trivially cheap
    * (`spark.graft.pct.gatherMaxRows`, default 32M 16-byte rows), the
    * 1-2 order statistics per (group, quantile) come from ONE
    * sorted-array aggregation instead of the multi-pass bucket routing
    * — measured ~15 scheduler round-trips (count/min/max, bucketing
    * join, 65536-bucket histogram + cumulative window, target-bucket
    * collect, per-class gathers) collapsing to two jobs. Above either
    * bound the routing path is the right shape (it moves (group,
    * bucket) COUNTS through the exchange, never values — a
    * billion-document per-language group can never gather) and runs
    * unchanged; the gate itself is one tiny aggregate over the pinned
    * per-group rank table. Results are bit-identical by construction:
    * arr[_klo]/arr[_khi] are the same order-statistic doubles the
    * routing's vlo/vhi resolve to, combined by the same interpolation
    * expression over the same `_frac`; the A/B spec pins it with the
    * gate forced off. */
  private def gatherable(ranks: DataFrame, maxGather: Long): Boolean = {
    val conf = ranks.sparkSession.conf
    val bound = conf.getOption("spark.graft.pct.gatherMaxRows")
      .map(_.toLong).getOrElse(1L << 25)
    val groupBound0 = conf.getOption("spark.graft.pct.gatherMaxGroupRows")
      .map(_.toLong).getOrElse(1L << 20)
    // a caller that EXPLICITLY tightens maxGather below its default is
    // bounding per-task gathered values (the parameter's contract for
    // the routing path's bucket gathers) — the fast path honors it; at
    // or above the default, maxGather governs routing recursion only
    // and the conf bound decides the fast path
    val groupBound =
      if (maxGather < (1L << 18)) math.min(groupBound0, maxGather)
      else groupBound0
    val g = ranks.agg(max(col("_n")), sum(col("_n"))).head()
    g.isNullAt(0) || (g.getLong(0) <= math.min(groupBound,
      Int.MaxValue - 8L) && g.getLong(1) <= bound)
  }

  /** One sorted value array per group (nulls already filtered by the
    * callers' `vdf`; sort_array's double ordering matches the
    * bucket-routing ordering on NaN-free data). */
  private def arrTable(vdf: DataFrame,
                       kcols: Seq[Column]): DataFrame =
    vdf.groupBy(kcols: _*)
      .agg(sort_array(collect_list(col("_v"))).as("_arr"))

  /** The routing paths' exact interpolation expression over the
    * gathered array's order statistics (element_at is 1-based, like
    * the ranks). */
  private def gatherInterp: Column =
    element_at(col("_arr"), col("_klo").cast("int")) *
      (lit(1.0) - col("_frac")) +
      element_at(col("_arr"), col("_khi").cast("int")) * col("_frac")

  /** Multi-quantile form of [[percentileSelect]]: ONE routing pass
    * returning every requested quantile per group.
    *
    * Two single-quantile calls over the same table pay the scan-heavy
    * stages twice — the per-group count/min/max aggregation, the
    * bucketing join, and the 65536-bucket histogram are IDENTICAL for
    * every quantile of a group (only the target rank differs). This form
    * runs those stages once and forks per-quantile only at the
    * bounded tail: the rank table carries one row per (group, quantile),
    * the cumulative-histogram join flags each quantile's target
    * bucket(s), and the final order-statistic passes key on
    * (group, quantile). The outlier-recursion path folds the quantile
    * index into the group key and delegates to the single-quantile
    * routing — each (group, quantile) recursing into an over-populated
    * bucket is an independent sub-problem.
    *
    * Interpolation is the exact formula of [[percentileSelect]], applied
    * per quantile — results are bit-identical to N single calls
    * (asserted in PercentileSelectSpec across ties, all-equal, and
    * 1/2-element groups). Same eager collect-route contract; same
    * all-null-group behavior (no row).
    *
    * Returns ONE row per group: (keys..., outCols...) — quantile i of
    * `ps` lands in column `outCols(i)`.
    */
  def percentileSelectMulti(df: DataFrame, keys: Seq[String],
                            valueCol: String, ps: Seq[Double],
                            outCols: Seq[String],
                            buckets: Int = 65536,
                            maxGather: Long = 1L << 18): DataFrame = {
    require(ps.nonEmpty && ps.size == outCols.size,
      s"need one output column per quantile: ${ps.size} vs ${outCols.size}")
    require(outCols.distinct.size == outCols.size,
      s"duplicate output columns: $outCols")
    ps.foreach(p => require(p >= 0.0 && p <= 1.0,
      s"percentile p out of [0,1]: $p"))
    // global path: same non-foldable constant key as percentileSelect
    if (keys.isEmpty)
      return percentileSelectMulti(
        df.withColumn("_pk", spark_partition_id() * 0 + 1), Seq("_pk"),
        valueCol, ps, outCols, buckets, maxGather).drop("_pk")
    val kcols = keys.map(col)
    val vdf = df.where(col(valueCol).isNotNull)
      .select(kcols :+ col(valueCol).as("_v"): _*)
    // the ONE shared aggregation pass (count/min/max per group)
    val ranks0 = Pins.pin(vdf.groupBy(kcols: _*)
      .agg(count(lit(1)).as("_n"), min(col("_v")).as("_mn"),
        max(col("_v")).as("_mx")))
    // fan the pinned per-group row out to one row per (group, quantile):
    // rank arithmetic matches percentileSelect exactly — (n-1)*p with the
    // SAME literal p, so _frac/_klo/_khi are bit-identical per quantile
    val qArr = array(ps.zipWithIndex.map { case (p, i) =>
      struct(lit(i).as("_qi"), lit(p).as("_p")) }: _*)
    val ranksQ = ranks0
      .select(kcols ++ Seq(col("_n"), col("_mn"), col("_mx"),
        explode(qArr).as("_q")): _*)
      .withColumn("_pos", (col("_n") - 1).cast("double") * col("_q._p"))
      .withColumn("_frac", col("_pos") - floor(col("_pos")))
      .withColumn("_klo", floor(col("_pos")).cast("long") + 1)
      .withColumn("_khi", least(col("_klo") + 1, col("_n")))
      .select(kcols :+ col("_q._qi").as("_qi") :+ col("_klo") :+
        col("_khi") :+ col("_frac") :+ col("_mn") :+ col("_mx"): _*)
    val qkeys = keys :+ "_qi"
    // pivot the bounded (keys, _qi, _out) long form to one row per
    // group — a conditional aggregate per requested quantile, never a
    // sort; ONE definition for the gather branch and the routing tail
    def pivot(long: DataFrame): DataFrame = long.groupBy(kcols: _*)
      .agg(max(when(col("_qi") === 0, col("_out"))).as(outCols.head),
        outCols.zipWithIndex.tail.map { case (name, i) =>
          max(when(col("_qi") === i, col("_out"))).as(name) }: _*)
    // gather fast path (see [[gatherable]]): one sorted-array
    // aggregation + the pivot, instead of the full routing
    if (gatherable(ranks0, maxGather)) {
      return pivot(arrTable(vdf, kcols)
        .join(broadcast(ranksQ.select(kcols :+ col("_qi") :+
          col("_klo") :+ col("_khi") :+ col("_frac"): _*)), keys)
        .select(kcols :+ col("_qi") :+ gatherInterp.as("_out"): _*))
    }
    val fracOf = ranksQ.select(kcols :+ col("_qi") :+ col("_frac"): _*)
    def interp(lohi: DataFrame): DataFrame =
      lohi.join(broadcast(fracOf), qkeys).select(kcols :+ col("_qi") :+
        (col("_vlo") * (lit(1.0) - col("_frac")) +
          col("_vhi") * col("_frac")).as("_out"): _*)

    // the ONE shared bucketing pass + histogram (quantile-independent)
    val mm = ranks0.select(kcols :+ col("_mn") :+ col("_mx"): _*)
    val bucketOf = when(col("_mx") <= col("_mn"), lit(0L)).otherwise(
      least(floor((col("_v") - col("_mn")) /
          (col("_mx") - col("_mn")) * buckets).cast("long"),
        lit((buckets - 1).toLong)))
    val bucketed = vdf.join(broadcast(mm), keys).withColumn("_b", bucketOf)
    val hist = bucketed.groupBy(kcols :+ col("_b"): _*)
      .agg(count(lit(1)).as("_c"))
    val wb = Window.partitionBy(kcols: _*).orderBy(col("_b"))
    // per (group, quantile): its 1-2 target buckets — same collect-route
    // bound as the single form, ×|ps|
    val tdf = hist.withColumn("_cumEnd", sum(col("_c")).over(wb))
      .withColumn("_cumStart", col("_cumEnd") - col("_c"))
      .join(broadcast(ranksQ.select(kcols :+ col("_qi") :+ col("_klo") :+
        col("_khi"): _*)), keys)
      .withColumn("_isLo", col("_klo") > col("_cumStart") &&
        col("_klo") <= col("_cumEnd"))
      .withColumn("_isHi", col("_khi") > col("_cumStart") &&
        col("_khi") <= col("_cumEnd"))
      .where(col("_isLo") || col("_isHi"))
      .select(kcols :+ col("_qi") :+ col("_b") :+ col("_c") :+
        col("_cumStart") :+ col("_isLo") :+ col("_isHi"): _*)
    val tschema = tdf.schema
    val targetRows = tdf.collect()
    val nk = keys.size // row layout: keys, _qi, _b, _c, _cumStart, _isLo, _isHi
    def rLo(r: Row) = r.getBoolean(nk + 4)
    def rHi(r: Row) = r.getBoolean(nk + 5)
    val (splitRows, oneBucketRows) =
      targetRows.partition(r => !(rLo(r) && rHi(r)))
    val (bigRows, smallRows) = oneBucketRows.partition(r =>
      r.getLong(nk + 2) > maxGather)
    def proj(rows: Array[Row], idxs: Seq[Int]): DataFrame = {
      import scala.jdk.CollectionConverters._
      vdf.sparkSession.createDataFrame(
        rows.map(r => Row.fromSeq(idxs.map(r.get))).toSeq.asJava,
        StructType(idxs.map(tschema.fields(_))))
    }
    val qkeyIdx = 0 to nk // keys plus _qi

    val parts = Seq.newBuilder[DataFrame]
    if (splitRows.nonEmpty) {
      // ranks in different buckets: vlo/vhi are plain bucket extremes.
      // The join is on (keys, _b) only — a bucket targeted by two
      // quantiles fans each value row out per _qi, then the (keys, _qi)
      // groupBy separates them
      val sel = proj(splitRows, qkeyIdx :+ (nk + 1) :+ (nk + 4) :+ (nk + 5))
      parts += interp(bucketed.join(broadcast(sel), keys :+ "_b")
        .groupBy(kcols :+ col("_qi"): _*)
        .agg(max(when(col("_isLo"), col("_v"))).as("_vlo"),
          min(when(col("_isHi"), col("_v"))).as("_vhi")))
    }
    if (smallRows.nonEmpty) {
      // both ranks in one bounded bucket: distinct-value rank selection,
      // windowed per (group, quantile, bucket)
      val sel = proj(smallRows, qkeyIdx :+ (nk + 1) :+ (nk + 3))
      val perValue = bucketed.join(broadcast(sel), keys :+ "_b")
        .groupBy(kcols :+ col("_qi") :+ col("_b") :+ col("_cumStart") :+
          col("_v"): _*)
        .agg(count(lit(1)).as("_vc"))
      val wv = Window.partitionBy(kcols :+ col("_qi") :+ col("_b"): _*)
        .orderBy(col("_v"))
      val ranked = perValue
        .withColumn("_vEnd", col("_cumStart") + sum(col("_vc")).over(wv))
        .join(broadcast(ranksQ.select(kcols :+ col("_qi") :+ col("_klo") :+
          col("_khi"): _*)), qkeys)
      val vlo = ranked.where(col("_klo") > col("_vEnd") - col("_vc") &&
          col("_klo") <= col("_vEnd"))
        .select(kcols :+ col("_qi") :+ col("_v").as("_vlo"): _*)
      val vhi = ranked.where(col("_khi") > col("_vEnd") - col("_vc") &&
          col("_khi") <= col("_vEnd"))
        .select(kcols :+ col("_qi") :+ col("_v").as("_vhi"): _*)
      parts += interp(vlo.join(broadcast(vhi), qkeys))
    }
    if (bigRows.nonEmpty) {
      // outlier-squeezed bucket: each (group, quantile) recurses
      // independently — fold _qi into the group key and delegate to the
      // single-quantile routing (its ranks table is already one row per
      // key, which (keys, _qi) now is)
      val sel = proj(bigRows, qkeyIdx :+ (nk + 1) :+ (nk + 3))
      val sub = Pins.pin(bucketed.join(broadcast(sel), keys :+ "_b")
        .select(kcols :+ col("_qi") :+ col("_v") :+ col("_cumStart"): _*))
      val nextVdf = sub.select(kcols :+ col("_qi") :+ col("_v"): _*)
      val nextRanks = Pins.pin(ranksQ
        .join(broadcast(sub.groupBy(kcols :+ col("_qi"): _*)
          .agg(first(col("_cumStart")).as("_off"),
            min(col("_v")).as("_smn"), max(col("_v")).as("_smx"))), qkeys)
        .select(kcols :+ col("_qi") :+
          (col("_klo") - col("_off")).as("_klo") :+
          (col("_khi") - col("_off")).as("_khi") :+ col("_frac") :+
          col("_smn").as("_mn") :+ col("_smx").as("_mx"): _*))
      parts += selectLevel(nextVdf, nextRanks, qkeys, "_out", buckets,
        maxGather, level = 1)
    }
    val built = parts.result()
    val long = // (keys, _qi, _out) — one row per (group, quantile)
      if (built.isEmpty)
        // empty input: keep the output schema (0 rows)
        interp(vdf.groupBy(kcols: _*)
          .agg(min(col("_v")).as("_vlo"), max(col("_v")).as("_vhi"))
          .withColumn("_qi", lit(0)))
      else built.reduce(_ unionByName _)
    pivot(long)
  }

  /** `ranks` carries one row per group: (_klo, _khi, _frac) plus the
    * group's value range (_mn, _mx) — already materialized, so no level
    * re-scans its table for bounds. */
  private def selectLevel(vdf: DataFrame, ranks: DataFrame,
                          keys: Seq[String], outCol: String, buckets: Int,
                          maxGather: Long, level: Int,
                          maxLevels: Int = 8): DataFrame = {
    val kcols = keys.map(col)
    val fracOf = ranks.select(kcols :+ col("_frac"): _*)
    def interp(lohi: DataFrame): DataFrame =
      lohi.join(broadcast(fracOf), keys).select(kcols :+
        (col("_vlo") * (lit(1.0) - col("_frac")) +
          col("_vhi") * col("_frac")).as(outCol): _*)

    val mm = ranks.select(kcols :+ col("_mn") :+ col("_mx"): _*)
    // monotone bucketing: v <= mx ⇒ (v-mn) <= (mx-mn) in FP, so the
    // ratio never exceeds 1 and the clamp only catches v == mx
    val bucketOf = when(col("_mx") <= col("_mn"), lit(0L)).otherwise(
      least(floor((col("_v") - col("_mn")) /
          (col("_mx") - col("_mn")) * buckets).cast("long"),
        lit((buckets - 1).toLong)))
    val bucketed = vdf.join(broadcast(mm), keys).withColumn("_b", bucketOf)

    val hist = bucketed.groupBy(kcols :+ col("_b"): _*)
      .agg(count(lit(1)).as("_c"))
    val wb = Window.partitionBy(kcols: _*).orderBy(col("_b"))
    // per group: the 1-2 occupied buckets holding ranks klo/khi — ≤2
    // rows per group, the same driver-size bound the broadcast hints
    // below already rely on, so ONE collect both materializes and routes
    // them (the earlier checkpoint + counting-aggregate form paid two
    // scheduler round-trips for the same information); the route tables
    // feed back as LocalRelations, which broadcast without a shuffle or
    // an extra job
    val tdf = hist.withColumn("_cumEnd", sum(col("_c")).over(wb))
      .withColumn("_cumStart", col("_cumEnd") - col("_c"))
      .join(broadcast(ranks.select(kcols :+ col("_klo") :+
        col("_khi"): _*)), keys)
      .withColumn("_isLo", col("_klo") > col("_cumStart") &&
        col("_klo") <= col("_cumEnd"))
      .withColumn("_isHi", col("_khi") > col("_cumStart") &&
        col("_khi") <= col("_cumEnd"))
      .where(col("_isLo") || col("_isHi"))
      .select(kcols :+ col("_b") :+ col("_c") :+ col("_cumStart") :+
        col("_isLo") :+ col("_isHi"): _*)
    val tschema = tdf.schema
    val targetRows = tdf.collect()
    val nk = keys.size
    def rLo(r: Row) = r.getBoolean(nk + 3)
    def rHi(r: Row) = r.getBoolean(nk + 4)
    val (splitRows, oneBucketRows) =
      targetRows.partition(r => !(rLo(r) && rHi(r)))
    val (bigRows, smallRows) = oneBucketRows.partition(r =>
      r.getLong(nk + 1) > maxGather && level < maxLevels)
    def proj(rows: Array[Row], idxs: Seq[Int]): DataFrame = {
      import scala.jdk.CollectionConverters._
      vdf.sparkSession.createDataFrame(
        rows.map(r => Row.fromSeq(idxs.map(r.get))).toSeq.asJava,
        StructType(idxs.map(tschema.fields(_))))
    }
    val keyIdx = 0 until nk

    val parts = Seq.newBuilder[DataFrame]
    if (splitRows.nonEmpty) {
      // ranks in different buckets ⇒ the bucket boundary falls exactly
      // between them: vlo = max(lower bucket), vhi = min(upper bucket) —
      // codegen aggregates, bucket population irrelevant
      val sel = proj(splitRows, keyIdx :+ nk :+ (nk + 3) :+ (nk + 4))
      parts += interp(bucketed.join(broadcast(sel), keys :+ "_b")
        .groupBy(kcols: _*)
        .agg(max(when(col("_isLo"), col("_v"))).as("_vlo"),
          min(when(col("_isHi"), col("_v"))).as("_vhi")))
    }
    if (smallRows.nonEmpty) {
      // both ranks in one bounded bucket: count per DISTINCT value (ties
      // collapse), rank by cumulative count within the bucket
      val sel = proj(smallRows, keyIdx :+ nk :+ (nk + 2))
      val perValue = bucketed.join(broadcast(sel), keys :+ "_b")
        .groupBy(kcols :+ col("_b") :+ col("_cumStart") :+ col("_v"): _*)
        .agg(count(lit(1)).as("_vc"))
      val wv = Window.partitionBy(kcols :+ col("_b"): _*).orderBy(col("_v"))
      val ranked = perValue
        .withColumn("_vEnd", col("_cumStart") + sum(col("_vc")).over(wv))
        .join(broadcast(ranks.select(kcols :+ col("_klo") :+
          col("_khi"): _*)), keys)
      val vlo = ranked.where(col("_klo") > col("_vEnd") - col("_vc") &&
          col("_klo") <= col("_vEnd"))
        .select(kcols :+ col("_v").as("_vlo"): _*)
      val vhi = ranked.where(col("_khi") > col("_vEnd") - col("_vc") &&
          col("_khi") <= col("_vEnd"))
        .select(kcols :+ col("_v").as("_vhi"): _*)
      // one row per group each side; the broadcast hint keeps the
      // constant-key global path on a 1-row broadcast nested loop
      // instead of a cartesian product after constant folding erases
      // the join condition
      parts += interp(vlo.join(broadcast(vhi), keys))
    }
    if (bigRows.nonEmpty) {
      // over-populated rank bucket (outlier-squeezed histogram): recurse
      // into just that bucket — span shrinks ÷buckets per level. The
      // sub-bucket's own min/max ride the rank table so the next level
      // never re-scans for bounds.
      val sel = proj(bigRows, keyIdx :+ nk :+ (nk + 2))
      val sub = Pins.pin(bucketed.join(broadcast(sel), keys :+ "_b")
        .select(kcols :+ col("_v") :+ col("_cumStart"): _*))
      val nextVdf = sub.select(kcols :+ col("_v"): _*)
      val nextRanks = Pins.pin(ranks
        .join(broadcast(sub.groupBy(kcols: _*)
          .agg(first(col("_cumStart")).as("_off"),
            min(col("_v")).as("_smn"), max(col("_v")).as("_smx"))), keys)
        .select(kcols :+ (col("_klo") - col("_off")).as("_klo") :+
          (col("_khi") - col("_off")).as("_khi") :+ col("_frac") :+
          col("_smn").as("_mn") :+ col("_smx").as("_mx"): _*))
      parts += selectLevel(nextVdf, nextRanks, keys, outCol, buckets,
        maxGather, level + 1, maxLevels)
    }
    val built = parts.result()
    if (built.isEmpty)
      // no groups at all (empty input): keep the output schema
      interp(vdf.groupBy(kcols: _*).agg(min(col("_v")).as("_vlo"),
        max(col("_v")).as("_vhi")))
    else built.reduce(_ unionByName _)
  }
}
