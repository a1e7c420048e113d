package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen paths once so fixed startup cost is not
    // attributed to whichever query runs first
    try SparkEntry.queries("q1_pricing")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Index-build staging as EXPLICIT accounting rows. The sim_pq_* /
    // sim_ivfpq* and embedding_pca_project/standardize rows consume
    // session-memoized staged artifacts (PqStage/PcaStage); unstaged,
    // the one-time build cost lands inside whichever consumer's
    // iteration populates the memo first — visible in a cold artifact,
    // invisible in a steady-state one, so the two disagreed 12x on
    // sim_ivfpq in round 9. Staging eagerly HERE, timed cold, makes
    // every search row pure search in both artifacts and puts the build
    // cost on a row of its own: the family ledger reads
    // pq_stage (train+encode+checkpoint+cells, the index build) +
    // pq_train (the memo-free training benchmark row) + searches.
    // a FAILED staging row has no time (see the failure rule below): a
    // plausible number with an unpopulated memo would silently push the
    // build cost back inside the first consumer's timed iteration — the
    // exact misattribution these rows exist to fix
    def timed(body: => Unit): scala.util.Try[Double] = scala.util.Try {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // order matters: stagedOpq composes PcaStage.fitted, so the PCA fit
    // is staged (and charged) first — pq_stage then carries only the
    // PQ-family build (plain train+encode+cells, plus the OPQ rotation
    // and rotated-space train+encode)
    // each row stages the same artifact set as before; the builders
    // overlap their INDEPENDENT chains from driver threads (guide
    // §2.6 — see PqStage.stageAll/PcaStage.stageAll for the
    // interleaved A/B numbers). Timed quantity unchanged: same
    // artifacts, cold, one wall-clock region per row.
    val stagingRows = Seq(
      "pca_stage" -> timed {
        queries.PcaStage.stageAll(spark, sfDir) },
      "pq_stage" -> timed {
        queries.PqStage.stageAll(spark, sfDir) },
      // the BPE merge-table train + vocab build the encode/pack/
      // fertility rows consume (bpe_train itself stays memo-free —
      // it IS the training benchmark row, like pq_train)
      "bpe_stage" -> timed {
        queries.BpeStage.staged(spark, sfDir); () })
    // A row that throws has no time: it is listed under "failed", left
    // out of "queries" and the total, and the run exits non-zero.
    val timedQueries = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        // two iterations, report the SECOND: the first run pays Janino
        // codegen compilation and JIT warm-up, which made round-over-round
        // per-query deltas noise-dominated (cold-start variance is the
        // startup story, not the operator's steady-state cost)
        def once(): Double = {
          val t0 = System.nanoTime()
          // noop sink: materializes every output column (count() would
          // let the optimizer prune the aggregates away)
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        name -> scala.util.Try { once(); once() }
    }
    val rows = stagingRows ++ timedQueries
    val failed = rows.collect { case (name, scala.util.Failure(e)) =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      name
    }
    val results = rows.collect {
      case (name, scala.util.Success(sec)) => name -> sec }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Host-noise calibration: a fixed-cost, engine-independent probe
    // (pure codegen sum over a constant range — no I/O, no shuffle read,
    // CPU+memory-bandwidth bound) timed the same two-iteration way. The
    // sandbox host's memory bandwidth swings 10-50x between rounds
    // (SCALE_r05/r06); total/calibration is comparable across rounds
    // where raw totals are not.
    def calOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(500000000L).selectExpr("sum(id * 2 + 1) as s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calOnce()
    val calibration = calOnce()
    // Memory-STREAMING calibration leg: the codegen-sum probe above is
    // CPU-bound and proved blind to the host's dominant noise source —
    // the minutes-period memory-bus throttle that inflated a GC-clean
    // run 3.4x (SCALE_r06.md "The quiet-box absolute"). This leg streams
    // a 64 MiB per-task long array (one init pass + 12 timed read
    // passes) on every core simultaneously — aggregate traffic far
    // beyond LLC, so its wall time tracks DRAM bandwidth. Report both
    // legs: cal ≈ flat + mem inflated ⇒ bus throttle; both inflated ⇒
    // CPU contention.
    def memOnce(): Double = {
      val n = spark.sparkContext.defaultParallelism
      val t0 = System.nanoTime()
      val s = spark.sparkContext.parallelize(1 to n, n).map { _ =>
        val len = 8 << 20 // 8M longs = 64 MiB per task
        val a = new Array[Long](len)
        var i = 0
        while (i < len) { a(i) = i.toLong; i += 1 }
        var acc = 0L
        var pass = 0
        while (pass < 12) {
          i = 0
          while (i < len) { acc += a(i); i += 1 }
          pass += 1
        }
        acc
      }.reduce(_ + _)
      if (s == 42L) System.err.println("") // keep the sum observable
      (System.nanoTime() - t0) / 1e9
    }
    memOnce()
    val calMem = memOnce()
    // GB/s from the 12 READ passes only: the init pass's true traffic
    // (JVM zeroing + read-for-ownership on the stores) is
    // micro-architectural and unknowable from here, so it is excluded
    // from the accounting and amortized to ~8% noise by the pass count —
    // the reported number slightly UNDERSTATES bandwidth, consistently
    val memGBps =
      12.0 * 64 * 1024 * 1024 * spark.sparkContext.defaultParallelism /
        calMem / 1e9
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"calibration_sec":$calibration,"calibration_mem_sec":$calMem,"calibration_mem_gbps":$memGBps,"total_over_calibration":${total / calibration},"sf":"$sfDir"}"""
    println(json)
    // the driver's artifact pipeline head-truncates long stdout lines
    // (BENCH_r08.json lost ~14 of 77 query timings), so the full
    // per-query map is ALSO written to a file when asked — the copy
    // committed to bench/ each round keeps the round-over-round table
    // independent of /tmp surviving
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} rows failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
