package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its arguments, and the
  * trace (spans are recorded only in a traced run). */
final class Ctx(val spark: SparkSession, val args: Main.Args, val cpus: Int,
                val sessionS: Double) {
  val collector: Collector = Collector.attach(spark.sparkContext)
  val progress: Progress = new Progress
  spark.streams.addListener(progress)
  val tracer: Option[Tracer] =
    if (args.trace) Some(new Tracer(spark.sparkContext)) else None

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  def count(name: String, key: String, v: Double): Unit =
    tracer.foreach(_.count(name, key, v))

  def dir(name: String): Path = args.work.resolve(name)

  /** Release every RDD pinned since `before` (blocking), so executor
    * storage returns to what was pinned before the batch. */
  def release(before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
  def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
}

/** What a workload run produced. `metrics` are the end-to-end metrics of
  * an untraced run or the per-layer metrics of a traced one. */
final case class Outcome(attempted: Long, failed: Long,
                         metrics: Seq[(String, Double)], problems: Seq[String],
                         report: Seq[(String, Any)])

object Main {

  /** JSON for the report and result lines (Scala maps keep their order,
    * None is null). */
  val Json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, ledger: Path, heap: String,
                        source: String)

  /** End-to-end metrics (untraced run) with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "batch_p50_s" -> "s")

  private val spanNames = Seq("geometry.build", "sources.decode",
    "pipeline.process", "pipeline.outputs", "ops.csim", "sinks.tables",
    "sinks.files", "queries.ui", "sources.parse", "streaming.funnel",
    "streaming.dedup", "streaming.profile")

  /** Per-layer metrics (traced run) with their units. */
  val PerLayer: Seq[(String, String)] =
    spanNames.flatMap(s => Seq(s"$s.wall_s" -> "s", s"$s.jobs" -> "count",
      s"$s.tasks" -> "count", s"$s.task_cpu_s" -> "s",
      s"$s.shuffle_bytes" -> "bytes", s"$s.driver_gap_s" -> "s")) ++ Seq(
      "pipeline.process.gc_s" -> "s", "pipeline.process.spill_bytes" -> "bytes",
      "pipeline.process.peak_exec_bytes" -> "bytes",
      "sources.decode.pixels" -> "count", "sinks.files.files" -> "count",
      "sinks.files.bytes" -> "bytes", "sinks.tables.files" -> "count",
      "queries.ui.files_scanned" -> "count", "streaming.dedup.store_rows" -> "count",
      "streaming.dedup.store_bytes" -> "bytes",
      "streaming.trigger_overhead_s" -> "s", "streaming.batch_inputs" -> "count",
      "streaming.jobs_per_batch" -> "count", "streaming.cores_busy_frac" -> "fraction",
      "core.peak_storage_bytes" -> "bytes", "core.storage_after_batch_bytes" -> "bytes",
      "traced.setup_s" -> "s", "traced.items_per_s" -> "1/s",
      "traced.batch_p50_s" -> "s")

  /** The per-span metrics of a traced run. */
  def spanMetrics(c: Collector, t: Tracer): Seq[(String, Double)] = {
    val folded = Trace.fold(t.spans, c.jobs, c.tasks)
    val counters = t.counters
    spanNames.flatMap { s =>
      val f = folded.getOrElse(s, sys.error(s"no call traced for span $s"))
      Seq("wall_s" -> f.wallS, "jobs" -> f.jobs.toDouble,
        "tasks" -> f.tasks.tasks.toDouble, "task_cpu_s" -> f.tasks.cpuNs / 1e9,
        "shuffle_bytes" -> f.tasks.shuffleBytes.toDouble,
        "driver_gap_s" -> f.driverGapS).map { case (k, v) => s"$s.$k" -> v } ++
      (if (s == "pipeline.process") Seq(
        s"$s.gc_s" -> f.tasks.gcMs / 1e3,
        s"$s.spill_bytes" -> f.tasks.spillBytes.toDouble,
        s"$s.peak_exec_bytes" -> f.tasks.peakExecBytes.toDouble) else Nil)
    } ++ counters.toSeq.map { case ((s, k), v) => s"$s.$k" -> v }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("ledger")).toAbsolutePath, m.getOrElse("heap", "?"),
      m.getOrElse("source", "?"))
  }

  private def session(work: Path, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (steal, total) jiffies of all CPUs so far, where the kernel reports
    * them: time the hypervisor gave this machine's vCPUs to others. */
  private def cpuJiffies(): Option[(Long, Long)] =
    scala.util.Try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      (f(7), f.take(8).sum)
    }.toOption

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val jiffies0 = cpuJiffies()
    val args = parse(argv)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    Files.createDirectories(args.work)
    val spark = session(args.work, cpus)
    val ctx = new Ctx(spark, args, cpus, (System.nanoTime() - t0) / 1e9)
    val out = args.workload match {
      case "frames_backfill" => Frames.run(ctx)
      case "curate_stream" => Curation.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val expected = if (args.trace) PerLayer else EndToEnd
    val got = out.metrics.toMap
    val missing = expected.map(_._1).filterNot(got.contains)
    val problems = out.problems ++ missing.map(m => s"metric $m not measured")
    val steal = for ((s0, t0) <- jiffies0; (s1, t1) <- cpuJiffies() if t1 > t0)
      yield (s1 - s0).toDouble / (t1 - t0)
    val host = Seq("nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> cpus, "heap" -> args.heap, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"), "source" -> args.source,
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "traced" -> args.trace, "cpu_steal_frac" -> steal)
    problems.foreach(p => System.err.println(s"perfbench: CHECK FAILED: $p"))
    println(Json.writeValueAsString(collection.immutable.ListMap(
      (host ++ out.report :+ ("problems" -> problems)): _*)))
    val metrics = collection.immutable.ListMap(expected.map { case (n, u) =>
      n -> collection.immutable.ListMap("value" -> got.getOrElse(n, 0.0), "unit" -> u)
    }: _*)
    val correct = problems.isEmpty
    println(Json.writeValueAsString(collection.immutable.ListMap("correct" -> correct,
      "attempted" -> math.max(1L, out.attempted), "failed" -> out.failed,
      "metrics" -> metrics)))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct && out.failed == 0) 0 else 1)
  }
}
