package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The distributed rank-selection percentile must be bit-identical to the
  * gather-and-sort aggregator (which itself matches Spark's builtin
  * `percentile` and DuckDB `quantile_cont` — a5 oracle) on NaN-free data:
  * random values, heavy ties (the gradient field's zero spike), all-equal
  * groups, 1/2-element groups, negative ranges, and p at both ends. */
class PercentileSelectSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260813)

  private def check(values: Seq[(String, Double)], p: Double,
                    clue: String, maxGather: Long = 1L << 18): Unit = {
    val df = values.toDF("k", "v")
    val agg = df.groupBy("k")
      .agg(PercentileAgg.percentileExact(col("v"), p).as("e"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sel = PercentileAgg.percentileSelect(df, Seq("k"), "v", p,
        maxGather = maxGather)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sel.keySet == agg.keySet, clue)
    agg.foreach { case (k, e) =>
      assert(java.lang.Double.compare(sel(k), e) == 0,
        s"$clue k=$k select=${sel(k)} agg=$e")
    }
  }

  test("percentileSelect == percentileExact on random multi-group data") {
    for (p <- Seq(0.001, 0.1, 0.5, 0.999)) {
      val data = for {
        k <- Seq("a", "b", "c")
        _ <- 1 to 500
      } yield (k, rnd.nextDouble() * 2000 - 1000)
      check(data, p, s"random p=$p")
    }
  }

  test("percentileSelect handles heavy ties (zero-spike gradient shape)") {
    // 80% exact zeros + two tails: the rank usually lands inside the
    // zero bucket, the degenerate case for naive bucket gathering
    val data = (1 to 4000).map(i => ("f", 0.0)) ++
      (1 to 500).map(i => ("f", -rnd.nextDouble() * 10)) ++
      (1 to 500).map(i => ("f", rnd.nextDouble() * 10))
    for (p <- Seq(0.05, 0.1, 0.5, 0.9)) check(data, p, s"ties p=$p")
  }

  test("percentileSelect edge groups: all-equal, single, pair, p ends") {
    val data = Seq.fill(100)(("eq", 42.5)) ++
      Seq(("one", 7.0)) ++ Seq(("two", 1.0), ("two", 2.0))
    for (p <- Seq(0.0, 0.1, 0.5, 1.0)) check(data, p, s"edge p=$p")
  }

  /** Force the bucket-routing path (gather gate off) so the recursion
    * tests keep exercising what they were written for — the gather
    * fast path would otherwise swallow their small groups. */
  private def routed[T](body: => T): T = {
    spark.conf.set("spark.graft.pct.gatherMaxRows", "0")
    try body finally spark.conf.unset("spark.graft.pct.gatherMaxRows")
  }

  test("recursive refinement: an outlier-squeezed histogram recurses " +
      "into the crowded bucket (tiny maxGather forces every level)") {
    // one extreme value squeezes all 2000 others into bucket 0 of the
    // min/max-ranged histogram; maxGather=8 forces the big-bucket
    // recursion at every level whose rank bucket holds > 8 values,
    // bottoming out either in a split or a <=8-value gather
    val data = (1 to 2000).map(_ => ("o", rnd.nextDouble())) :+
      ("o", 1e12)
    routed(for (p <- Seq(0.001, 0.1, 0.5, 0.999))
      check(data, p, s"outlier p=$p", maxGather = 8))
  }

  test("recursive refinement: groups routing three different ways in " +
      "one call (split / small-gather / recurse) agree with the oracle") {
    // "sp": ranks straddle a bucket boundary (2 values far apart, p=0.5
    //   interpolates between them -> split route)
    // "sm": all values equal -> single bucket, bounded -> small route
    // "bg": outlier + dense cluster -> over-populated bucket -> recurse
    val data = Seq(("sp", 0.0), ("sp", 1000.0)) ++
      Seq.fill(20)(("sm", 5.0)) ++
      ((1 to 200).map(_ => ("bg", rnd.nextDouble())) :+ ("bg", 1e9))
    routed(check(data, 0.5, "mixed routes", maxGather = 8))
  }

  test("percentileSelect skips nulls like the aggregator") {
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("a", Some(2.0)), ("b", None)).toDF("k", "v")
    val sel = PercentileAgg.percentileSelect(df, Seq("k"), "v", 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // group b is all-null: aggregator yields NaN, select yields no row —
    // documented: callers join on keys, where both behave alike
    assert(sel == Map("a" -> 2.0))
  }

  test("percentileSelect global (no keys) matches the aggregator") {
    val data = (1 to 3000).map(_ => rnd.nextDouble() * 100 - 50)
    val df = data.toDF("v")
    val e = df.agg(PercentileAgg.percentileExact(col("v"), 0.1))
      .collect()(0).getDouble(0)
    val s = PercentileAgg.percentileSelect(df, Nil, "v", 0.1)
      .collect()(0).getDouble(0)
    assert(java.lang.Double.compare(s, e) == 0)
  }

  test("global percentileSelect plans no Window without a partition key " +
      "(WindowExec's 'No Partition Defined' single-partition move)") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // both ranks of p = 0.9123 hold the tied value 912, i.e. one
    // bucket, so the routed path runs both of its windows: the
    // cumulative histogram and the in-bucket value ranking
    // (a range, not a local Seq: a LocalRelation input would carry the
    // key as a data column, whatever expression computed it)
    val df = spark.range(1, 100001).select(
      (col("id") % 1000).cast("double").as("v"))
    val e = df.agg(PercentileAgg.percentileExact(col("v"), 0.9123))
      .collect()(0).getDouble(0)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val s = try routed(PercentileAgg.percentileSelect(df, Nil, "v", 0.9123)
        .collect()(0).getDouble(0))
      finally {
        org.apache.spark.sql.graftshim.Internals
          .drainListeners(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert(java.lang.Double.compare(s, e) == 0)
    object Plans extends AdaptiveSparkPlanHelper
    import scala.jdk.CollectionConverters._
    val windows = plans.asScala.toSeq.flatMap(p =>
      Plans.collect(p) { case w: WindowExec => w })
    assert(windows.size >= 2, s"routed path ran ${windows.size} windows")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "a window with no partition key: " +
        windows.filter(_.partitionSpec.isEmpty).mkString("; "))
  }

  // ---- multi-quantile form: must be bit-identical to N single calls ----

  private def checkMulti(values: Seq[(String, Double)], ps: Seq[Double],
                         clue: String, maxGather: Long = 1L << 18): Unit = {
    val df = values.toDF("k", "v")
    val names = ps.indices.map(i => s"q$i")
    val multi = PercentileAgg.percentileSelectMulti(df, Seq("k"), "v",
        ps, names, maxGather = maxGather)
      .collect().map(r => r.getString(0) ->
        ps.indices.map(i => r.getDouble(1 + i))).toMap
    val singles = ps.map(p =>
      PercentileAgg.percentileSelect(df, Seq("k"), "v", p,
          maxGather = maxGather)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    assert(multi.keySet == singles.head.keySet, clue)
    multi.foreach { case (k, got) =>
      ps.indices.foreach { i =>
        assert(java.lang.Double.compare(got(i), singles(i)(k)) == 0,
          s"$clue k=$k q=${ps(i)} multi=${got(i)} single=${singles(i)(k)}")
      }
    }
  }

  test("percentileSelectMulti == N single calls on random multi-group " +
      "data (terciles and tails)") {
    val data = for {
      k <- Seq("a", "b", "c")
      _ <- 1 to 500
    } yield (k, rnd.nextDouble() * 2000 - 1000)
    checkMulti(data, Seq(1.0 / 3, 2.0 / 3), "terciles")
    checkMulti(data, Seq(0.05, 0.95), "tails")
    checkMulti(data, Seq(0.0, 0.001, 0.5, 0.999, 1.0), "five quantiles")
  }

  test("percentileSelectMulti heavy ties + edge groups") {
    val ties = (1 to 4000).map(_ => ("f", 0.0)) ++
      (1 to 500).map(_ => ("f", -rnd.nextDouble() * 10)) ++
      (1 to 500).map(_ => ("f", rnd.nextDouble() * 10))
    checkMulti(ties, Seq(0.05, 0.5, 0.9), "ties")
    val edges = Seq.fill(100)(("eq", 42.5)) ++
      Seq(("one", 7.0)) ++ Seq(("two", 1.0), ("two", 2.0))
    checkMulti(edges, Seq(0.0, 0.5, 1.0), "edges")
  }

  test("percentileSelectMulti routes quantiles of one group down " +
      "different paths (split/small/recurse) in one call") {
    // outlier group: low quantiles sit in the dense over-populated
    // bucket (recurse at maxGather=8), p=1.0 is the outlier itself;
    // plus a split-route pair group and an all-equal small group
    val data = ((1 to 200).map(_ => ("bg", rnd.nextDouble())) :+
      ("bg", 1e9)) ++ Seq(("sp", 0.0), ("sp", 1000.0)) ++
      Seq.fill(20)(("sm", 5.0))
    routed(
      checkMulti(data, Seq(0.1, 0.5, 1.0), "mixed routes", maxGather = 8))
  }

  test("percentileSelectMulti global (no keys) and null skipping") {
    val data = (1 to 3000).map(_ => rnd.nextDouble() * 100 - 50)
    val df = data.toDF("v")
    val m = PercentileAgg.percentileSelectMulti(df, Nil, "v",
      Seq(0.1, 0.9), Seq("lo", "hi")).collect()(0)
    for ((p, i) <- Seq(0.1 -> 0, 0.9 -> 1)) {
      val e = df.agg(PercentileAgg.percentileExact(col("v"), p))
        .collect()(0).getDouble(0)
      assert(java.lang.Double.compare(m.getDouble(i), e) == 0, s"p=$p")
    }
    val nulls = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)),
      ("a", Some(2.0)), ("b", None)).toDF("k", "v")
    val nm = PercentileAgg.percentileSelectMulti(nulls, Seq("k"), "v",
        Seq(0.0, 0.5, 1.0), Seq("a0", "a5", "a9"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // all-null group b: no row, like the single form
    assert(nm == Map("a" -> ((1.0, 2.0, 3.0))))
  }

  test("gather fast path == bucket routing, bit-exact (both forms)") {
    // the same call with the gather gate forced OFF
    // (spark.graft.pct.gatherMaxRows=0) must route through the bucket
    // histogram and produce bit-identical doubles — the fast path's
    // whole contract
    val data = for {
      k <- Seq("a", "b", "c", "d")
      i <- 1 to 400
    } yield (k, if (i % 7 == 0) 0.0 else rnd.nextDouble() * 1e5 - 5e4)
    val df = data.toDF("k", "v")
    val ps = Seq(0.05, 0.5, 0.95)
    def runSingle() = ps.map(p =>
      PercentileAgg.percentileSelect(df, Seq("k"), "v", p)
        .collect().map(r => (r.getString(0), p) -> r.getDouble(1)).toMap)
      .reduce(_ ++ _)
    def runMulti() =
      PercentileAgg.percentileSelectMulti(df, Seq("k"), "v", ps,
          Seq("p05", "p50", "p95"))
        .collect().flatMap(r => ps.indices.map(i =>
          (r.getString(0), ps(i)) -> r.getDouble(1 + i))).toMap
    val (gs, gm) = (runSingle(), runMulti())
    spark.conf.set("spark.graft.pct.gatherMaxRows", "0")
    try {
      val (rs, rm) = (runSingle(), runMulti())
      assert(gs.keySet == rs.keySet && gm.keySet == rm.keySet)
      gs.foreach { case (k, v) =>
        assert(java.lang.Double.compare(v, rs(k)) == 0,
          s"single $k gather=$v routed=${rs(k)}") }
      gm.foreach { case (k, v) =>
        assert(java.lang.Double.compare(v, rm(k)) == 0,
          s"multi $k gather=$v routed=${rm(k)}") }
    } finally spark.conf.unset("spark.graft.pct.gatherMaxRows")
  }

  test("percentileSelect matches builtin percentile (independent oracle)") {
    val data = (1 to 2000).map(i => ("g", rnd.nextDouble() * 1e6))
    val df = data.toDF("k", "v")
    val builtin = df.groupBy("k")
      .agg(percentile(col("v"), lit(0.1)).as("b"))
      .collect()(0).getDouble(1)
    val s = PercentileAgg.percentileSelect(df, Seq("k"), "v", 0.1)
      .collect()(0).getDouble(1)
    assert(math.abs(s - builtin) <= math.ulp(builtin) * 4)
  }
}
