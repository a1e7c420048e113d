package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.Session
import graft.sources.WarcSource
import graft.streaming.StreamingCuration

/** Throughput probe for the COMPOSED streaming curation pipeline
  * (SCALE_r10 §6, SCALE_r12 §5b): the sf documents table rendered as
  * JSONL or WARC files, streamed through parse→rule-admission→
  * LSH-near-dedup→profile in `batches` micro-batches, wall-clocked end
  * to end. Reports docs/s through the whole composition plus the funnel
  * and admission outcomes (so the number is attributable: how much text
  * survived each stage). The corpus rendering happens BEFORE the clock
  * starts.
  *
  *   sbt "runMain graft.tools.CurateStreamBench [sfDir] [batches] [jsonl|warc] [base|full]"
  *
  * warc: one response record per document, `Session.cpus` segment files
  * per micro-batch. WARC parses at file grain (the format's own
  * parallelism, SCALE_r12 §5), so one file per core gives the parse the
  * parallelism JSONL gets from line splits; the warc/jsonl delta over
  * the same corpus is the record-parse + re-render cost.
  */
object CurateStreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val batches = if (args.length > 1) args(1).toInt else 4
    val source = if (args.length > 2) args(2) else "jsonl"
    val full = args.length > 3 && args(3) == "full"
    require(Set("jsonl", "warc")(source), s"source $source: jsonl|warc")
    // the WARC records carry no lang column for the budget stage
    require(!full || source == "jsonl", "full mode needs jsonl")
    val spark = Session.builder("graft-curate-stream", logLevel = "ERROR")
      .getOrCreate()

    val in = java.nio.file.Files.createTempDirectory("csb_in")
    val out = java.nio.file.Files.createTempDirectory("csb_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("csb_ck").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val nDocs = docs.count()

    val (lines, schema) = source match {
      case "jsonl" =>
        docs.select(to_json(struct(col("doc_id"), col("lang"), col("text")))
            .as("value"))
          .repartition(batches)
          .write.mode("overwrite").text(in.toString)
        (spark.readStream
          .schema(StructType(Seq(StructField("value", StringType))))
          .option("maxFilesPerTrigger", "1")
          .text(in.toString),
          StructType(Seq(StructField("doc_id", LongType),
            StructField("lang", StringType), StructField("text", StringType))))
      case "warc" =>
        val segsPerBatch = Session.cpus
        val rows = docs.select(col("doc_id"), col("text")).collect()
        val nSegs = batches * segsPerBatch
        rows.grouped(math.max(1, (rows.length + nSegs - 1) / nSegs))
          .zipWithIndex.foreach { case (grp, i) =>
            val seg = new java.io.ByteArrayOutputStream(1 << 20)
            grp.foreach { r =>
              val payload = r.getString(1)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              seg.write(WarcSource.render("WARC/1.0", Seq(
                WarcSource.Hdr("WARC-Type", "response"),
                WarcSource.Hdr("WARC-Record-ID",
                  s"<urn:graft:doc:${r.getLong(0)}>"),
                WarcSource.Hdr("WARC-Date", "2026-01-01T00:00:00Z"),
                WarcSource.Hdr("WARC-Target-URI",
                  s"http://corpus.example/doc/${r.getLong(0)}"),
                WarcSource.Hdr("Content-Type", "text/plain"),
                WarcSource.Hdr("Content-Length", payload.length.toString)),
                payload))
            }
            java.nio.file.Files.write(in.resolve(f"seg$i%03d.warc"),
              seg.toByteArray)
          }
        (WarcSource.streamDocumentLines(spark, in.toString,
          options = Map("maxFilesPerTrigger" -> segsPerBatch.toString)),
          StructType(Seq(StructField("doc_id", LongType),
            StructField("record_id", StringType),
            StructField("url", StringType), StructField("text", StringType))))
    }

    // minWords=5: the sf corpus runs 8-100 tokens/doc, the Gopher
    // default of 50 would reject most of it at the first rule and
    // starve the dedup stage the probe exists to measure. Stopwords:
    // the synthetic corpus has its own vocabulary register, so the
    // rule takes ITS common words (the gopherFlags contract — "looks
    // like running prose in the corpus language", not eight English
    // literals).
    val baseCfg = StreamingCuration.Config(minWords = 5,
      stopwords = Seq("small", "join", "filter", "order", "key",
        "stream", "line", "query"))
    // mode "full": the FIVE-stage composition — the base funnel plus
    // the learned NB keep-filter (trained before the clock on the
    // quality_nb weak-label shape) and per-language token budgets set
    // to ~60% of each language's token mass (so the budget stage
    // genuinely cuts). Model training and budget sizing are
    // BUILD-time artifacts, excluded from the wall like the corpus
    // rendering.
    val cfg = if (!full) baseCfg else {
      val label = when(graft.ops.TextMetrics.tokenCount(col("text")) >= 50
        && col("text").contains("the"), lit("keep")).otherwise(lit("drop"))
      val model = graft.ops.NaiveBayes.train(
        docs.withColumn("label", label), "text", "label")
      val budgets = docs.select(col("lang"),
          graft.ops.TextMetrics.tokenCount(col("text")).cast("long")
            .as("t"))
        .groupBy(col("lang")).agg(sum(col("t")).as("t"))
        .collect().map(r => r.getString(0) ->
          math.max(1L, (r.getLong(1) * 6) / 10)).toSeq
      baseCfg.copy(nbModel = Some(model), budgets = budgets)
    }
    val t0 = System.nanoTime()
    val q = StreamingCuration.start(spark, lines, schema, "doc_id",
      "text", out, ckpt, cfg)
    try q.processAllAvailable() finally q.stop()
    val sec = (System.nanoTime() - t0) / 1e9

    val admitted = spark.read.parquet(s"$out/admitted").count()
    val funnel = StreamingCuration.funnelTotals(spark, out)
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
      .sorted.mkString(" ")
    val mode = s"$source/${if (full) "full5" else "base3"}"
    println(f"CURATESTREAM[$mode] docs=$nDocs batches=$batches " +
      f"wall=$sec%.1f s  ${nDocs / sec}%.0f docs/s  admitted=$admitted")
    println(s"CURATESTREAM[$mode] fails: $funnel")
    if (full) {
      val nb = spark.read.parquet(s"$out/nbfunnel")
        .groupBy(col("predicted")).agg(sum(col("n")).as("n"))
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
        .sorted.mkString(" ")
      val curated = spark.read.parquet(s"$out/curated").count()
      val budgetAdm = spark.read.parquet(s"$out/budget")
        .where(col("admitted")).count()
      println(s"CURATESTREAM[$mode] nb: $nb  budget_admitted=$budgetAdm" +
        s"  curated=$curated")
    }
    spark.stop()
  }
}
