package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.Fs
import graft.sources.JsonlSource
import graft.streaming.{StreamingCuration, StreamingDedup, StreamingFunnel}

/** `curate_stream`: `ScaleGen.documents(seed)` as JSONL files, streamed
  * one file per trigger through `StreamingCuration.start`'s base
  * composition (parse, rule admission, LSH near-dup store, profile). */
object Curation {

  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("lang", StringType), StructField("text", StringType)))
  /** The base composition over the synthetic corpus: its documents run
    * 8-100 tokens, so the Gopher minimum of 50 words would reject most of
    * them, and its own common words stand in for the stopword list. */
  val Cfg: StreamingCuration.Config = StreamingCuration.Config(minWords = 5,
    stopwords = Seq("small", "join", "filter", "order", "key", "stream",
      "line", "query"))
  val DocsPerFile = 4000
  /** Batches after the cold one that are still warming up: the second
    * batch runs 20-50% slower than the ones after it. */
  val Warmup = 1
  /** Files (one a micro-batch) for a run of `seconds`: the cold first
    * batch is set-up, the warm-up batches, then about a file per 5 s of
    * timed stream. */
  def fileCount(seconds: Int): Int = 1 + Warmup + math.max(2, seconds / 5)

  private def start(spark: SparkSession, in: Path, out: Path): StreamingQuery =
    StreamingCuration.start(spark, spark.readStream
        .schema(StructType(Seq(StructField("value", StringType))))
        .option("maxFilesPerTrigger", "1").text(in.toString),
      Schema, "doc_id", "text", out.toString, out.resolve("_checkpoint").toString,
      Cfg)

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val files = fileCount(args.seconds)
    val docsDir = dir("docs")
    val tRender = System.nanoTime()
    val n = Inputs.renderDocs(spark, files * DocsPerFile, args.seed, files, docsDir)
    val renderS = (System.nanoTime() - tRender) / 1e9

    val out = dir("out")
    val r = Streams.run(spark, progress)(start(spark, docsDir, out))(
      _.processAllAvailable())
    val peak = collector.storagePeakBytes

    // ---- checks, outside the clock ----
    val tCheck = System.nanoTime()
    val beforeChecks = pinned
    val problems = Seq.newBuilder[String]
    r.error.foreach(e => problems += s"curation query failed: $e")
    // documents that reached a committed batch: parsed (every one is
    // counted by the funnel) or quarantined at parse
    val quarantined = parquetCount(spark, out.resolve("quarantine"))
    val parsed = if (!Fs.hasParquetData(out.resolve("funnel").toString, Fs.conf(spark))) 0L
      else StreamingCuration.funnelTotals(spark, out.toString)
        .where(col("rule") === "all_rules").select(col("n_docs")).head().getLong(0)
    val streamed = parsed + quarantined
    if (streamed != n) problems += s"$streamed of $n documents reached a committed batch"
    if (quarantined > 0) problems += s"$quarantined documents quarantined at parse"
    val ok = if (r.error.isDefined) 0L else math.max(0L, streamed - quarantined)

    val (clean, bad) = JsonlSource.readWithQuarantine(spark, docsDir.toString, Schema)
    val featured = StreamingFunnel.withFeatures(clean, col("text"), Cfg.minWords,
      Cfg.maxWords, Cfg.stopwords).localCheckpoint(true)
    val totals = if (parsed == 0) Nil
      else funnel(StreamingCuration.funnelTotals(spark, out.toString))
    if (r.error.isEmpty && parsed > 0) {
      val batchTotals = funnel(StreamingFunnel.failCounters(featured, Cfg.minWords,
        Cfg.maxWords, Cfg.ngramMax))
      if (totals != batchTotals)
        problems += s"streamed funnel $totals != batch funnel $batchTotals"
      if (bad.count() > 0) problems += "batch parse quarantined documents"
      val admitted = spark.read.parquet(out.resolve("admitted").toString)
      val rules = StreamingFunnel.rulesOver(col("__qf_g"), col("__qf_r"),
        Cfg.minWords, Cfg.maxWords, Cfg.ngramMax)
      val ruleAdmitted = featured.where(rules.last._2).select(col("doc_id"))
      val nAdmitted = admitted.count()
      val outside = admitted.join(ruleAdmitted, Seq("doc_id"), "left_anti").count()
      val texts = admitted.select(col("text")).distinct().count()
      if (nAdmitted == 0) problems += "no document admitted"
      if (outside > 0) problems += s"$outside admitted documents fail the rules"
      if (texts != nAdmitted)
        problems += s"${nAdmitted - texts} admitted documents duplicate another's text"
      problems ++= Checks.ledger(args.ledger,
        s"curate_stream-${args.seed}-$files-$DocsPerFile",
        s"${totals.mkString(" ")} admitted=$nAdmitted")
    }

    release(beforeChecks)
    val checkS = (System.nanoTime() - tCheck) / 1e9
    // one file a batch, oldest first: the cold batch and the warm-up
    // batches carry the first files
    val timed = Streams.Timed(r, math.max(0L, ok - (1 + Warmup) * DocsPerFile),
      Warmup)
    val e2e = Seq("setup_s" -> (sessionS + timed.coldS),
      "items_per_s" -> timed.itemsPerS, "batch_p50_s" -> timed.batchP50S)
    val metrics = tracer match {
      case None => e2e
      case Some(t) =>
        val layerTotals = layerPass(ctx, docsDir, dir("layers"))
        if (layerTotals != totals)
          problems += s"layer-pass funnel $layerTotals != streamed funnel $totals"
        Frames.sidePass(ctx)
        Main.spanMetrics(collector, t) ++
          Streams.layerMetrics(r, collector, cpus) ++
          Seq("core.peak_storage_bytes" -> peak.toDouble) ++
          e2e.map { case (k, v) => s"traced.$k" -> v }
    }
    Outcome(n, n - ok, metrics, problems.result(), Seq(
      "docs" -> n, "files" -> files, "docs_ok" -> ok, "stream_wall_s" -> r.wallS,
      "peak_storage_mb" -> peak / 1e6,
      "funnel" -> totals, "batch_s" -> r.batches.map(_.triggerMs / 1e3),
      "batch_tail_s" -> Stats.tail(r.batches.map(_.triggerMs / 1e3)).map(t =>
        Map("value" -> t.value, "pct" -> t.pct, "n" -> t.n)),
      "setup_parts_s" -> Map("session" -> sessionS, "cold_batch" -> timed.coldS),
      "render_s" -> renderS, "check_s" -> checkS))
  }

  /** (rule, n_fail, n_docs) rows as sorted text, for exact comparison. */
  private def funnel(df: DataFrame): Seq[String] =
    df.select(col("rule"), col("n_fail"), col("n_docs")).collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}/${r.getLong(2)}").toSeq.sorted

  private def parquetCount(spark: SparkSession, p: Path): Long =
    if (Fs.hasParquetData(p.toString, Fs.conf(spark)))
      spark.read.parquet(p.toString).count()
    else 0L

  /** The traced layer pass: the composition's per-batch steps
    * (`StreamingCuration.processBatch`, base composition) called one
    * layer at a time, one file per batch in file order. Returns the
    * merged funnel totals. */
  def layerPass(ctx: Ctx, docsDir: Path, out: Path): Seq[String] = {
    import ctx._
    val o = out.toString
    val files = Files.list(docsDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".jsonl")).toSeq.sortBy(_.toString)
    val rules = StreamingFunnel.rulesOver(col("__qf_g"), col("__qf_r"),
      Cfg.minWords, Cfg.maxWords, Cfg.ngramMax)
    files.zipWithIndex.foreach { case (f, i) =>
      val lines = spark.read.schema(StructType(Seq(StructField("value", StringType))))
        .text(f.toString)
      val clean = span("sources.parse") {
        val (c, q) = JsonlSource.parseWithQuarantine(lines, Schema)
        q.write.mode("overwrite").parquet(s"$o/quarantine/batch=$i")
        c
      }
      val featured = span("streaming.funnel") {
        val fe = StreamingFunnel.withFeatures(clean, col("text"), Cfg.minWords,
          Cfg.maxWords, Cfg.stopwords).localCheckpoint(true)
        StreamingFunnel.failCounters(fe, Cfg.minWords, Cfg.maxWords, Cfg.ngramMax)
          .coalesce(1).write.mode("overwrite").parquet(s"$o/funnel/batch=$i")
        fe
      }
      val ruleAdmitted = featured.where(rules.last._2).drop("__qf_g", "__qf_r")
      val ids = span("streaming.dedup")(StreamingDedup.processBatch(spark,
        ruleAdmitted, i.toLong, "doc_id", "text", s"$o/store", s"$o/admitted",
        Cfg.shingleN, Cfg.sigK, Cfg.bands, Cfg.minAgree))
      span("streaming.profile") {
        import spark.implicits._
        val adm = ruleAdmitted.join(broadcast(ids.toDF("__adm_id")),
          col("doc_id") === col("__adm_id"), "left_semi")
        StreamingCuration.profileIncrement(adm, Cfg.hllP)
          .coalesce(1).write.mode("overwrite").parquet(s"$o/profile/batch=$i")
      }
    }
    count("streaming.dedup", "store_rows", parquetCount(spark, out.resolve("store")).toDouble)
    count("streaming.dedup", "store_bytes",
      Frames.dirSize(out.resolve("store"), _.endsWith(".parquet"))._2.toDouble)
    funnel(StreamingCuration.funnelTotals(spark, o))
  }

  /** The curation half of a frames workload's traced run: the same layer
    * pass over a small corpus, so every layer reports on every run. */
  def sidePass(ctx: Ctx): Unit = {
    val docs = ctx.dir("side_docs")
    Inputs.renderDocs(ctx.spark, 2 * 1000, ctx.args.seed, 2, docs)
    layerPass(ctx, docs, ctx.dir("side_docs_out"))
  }
}
