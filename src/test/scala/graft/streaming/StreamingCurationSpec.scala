package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.ops.{Dedup, Sketches}

/** Cross-batch == batch parity for the COMPOSED streaming curation
  * pipeline ([[StreamingCuration]]): after N micro-batches,
  *
  *  - the merged funnel counters equal the batch funnel over the union
  *    of all parsed inputs (sums commute across batch boundaries);
  *  - the quarantine volume equals the batch contract parse's;
  *  - the admitted set equals the BATCH near-dedup (LSH candidates →
  *    connected components → min-id canonical) over the union — exact
  *    on chain-free data, the documented equivalence domain;
  *  - the merged per-column profile equals the batch computation over
  *    the admitted union: scalars exactly, approx_distinct ==
  *    the batch HLL register sketch bit-for-bit.
  */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType)))

  private def jline(id: Long, lang: String, text: String): String =
    s"""{"doc_id": $id, "lang": "$lang", "text": "$text"}"""

  /** ~55 distinct alphabetic words incl. >= 2 Gopher stopwords, mean
    * length inside [3, 10] — passes every Gopher rule, and `salt`
    * makes documents mutually non-near-dup. */
  private def prose(salt: String): String = {
    val uniq = (1 to 46).map(i => s"$salt${('a' + i % 26).toChar}word$i")
    (Seq("the", "data", "that", "we", "have", "with", "good", "works",
      "fine") ++ uniq).mkString(" ")
  }

  test("composed stream == batch stages over the union, across batches") {
    val dir = java.nio.file.Files.createTempDirectory("curc_in").toString
    val out = java.nio.file.Files.createTempDirectory("curc_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("curc_ck").toString
    val cfg = StreamingCuration.Config()

    val d10 = prose("ax"); val d11 = prose("by"); val d20 = prose("cz")
    // near-dup of d10: one word mutated out of ~55
    val d21 = d10.replace("axkword10", "mutatedone")
    val b0 = Seq(
      jline(10, "en", d10),
      jline(11, "en", d11),
      """{"doc_id": 12, "lang": "en", "text": "trunca""", // quarantined
      jline(13, "en", "too few words here"), // fails words_in_range
      jline(14, "en", Seq.fill(60)("spam").mkString(" "))) // repetition
    val b1 = Seq(
      jline(20, "fr", d20),
      jline(21, "en", d21), // cross-batch near-dup of 10 -> rejected
      "not json at all") // quarantined
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "b0.jsonl"), b0.mkString("\n"))

    val lines = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(dir)
    // a pin made before the stream, which no batch may release
    val prePin = graft.core.Pins.pin(spark.range(4).toDF("k"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val q = StreamingCuration.start(spark, lines, schema, "doc_id",
      "text", out, ckpt, cfg)
    try {
      q.processAllAvailable()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "b1.jsonl"), b1.mkString("\n"))
      q.processAllAvailable()
    } finally q.stop()
    // bounded executor storage: nothing a batch pinned survives it
    // (unpersistRDD drops the registry entry synchronously), and the
    // pre-stream pin is still registered and readable
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"curation batches leaked pinned RDDs: ${leaked.toSeq.sorted}")
    assert(graft.core.Pins.rddOf(prePin).exists(r =>
      spark.sparkContext.getPersistentRDDs.contains(r.id)) &&
      prePin.count() == 4L, "a batch released a pre-stream pin")
    graft.core.Pins.release(prePin)

    // ---- batch legs over the UNION of all input lines ----------------
    val allLines = (b0 ++ b1).toDF("raw")
    val (clean, quar) =
      graft.sources.JsonlSource.parseWithQuarantine(allLines, schema)

    // funnel parity: merged counters == the batch funnel (same rule set)
    val streamFunnel = StreamingCuration.funnelTotals(spark, out)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val batchFunnel = StreamingFunnel.funnel(clean, col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(streamFunnel == batchFunnel,
      s"funnel diverged:\n stream $streamFunnel\n batch  $batchFunnel")
    // 6 parsed docs; all_rules fails: 13 (too few words), 14 (no
    // stopwords + repetition); the near-dup 21 PASSES quality (it is
    // dropped later, at admission)
    assert(streamFunnel.exists { case (r, f, n) =>
      r == "all_rules" && f == 2L && n == 6L },
      s"expected known funnel counts, got $streamFunnel")

    // quarantine parity
    val streamQuar = spark.read.parquet(s"$out/quarantine")
    assert(streamQuar.count() == quar.count() && quar.count() == 2L)

    // admission parity vs the BATCH near-dedup canonical (chain-free)
    val rules = StreamingFunnel.rulesOver(col("__qf_g"), col("__qf_r"),
      cfg.minWords, cfg.maxWords, cfg.ngramMax)
    val quality = StreamingFunnel.withFeatures(clean, col("text"),
        cfg.minWords, cfg.maxWords, cfg.stopwords)
      .where(rules.last._2).drop("__qf_g", "__qf_r")
    val sigs = Dedup.minhashSignatures(quality, "doc_id", "text",
      cfg.shingleN, cfg.sigK).localCheckpoint(true)
    val pairs = Dedup.candidatePairsFromSigs(sigs, cfg.sigK, cfg.bands)
      .where(col("agree") >= cfg.minAgree)
    val losers = Dedup.connectedGroups(pairs, "id_a", "id_b")
      .where(col("id") =!= col("group_id")) // canonical = min reachable id
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val batchAdmitted = quality.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet -- losers
    val streamAdmitted = spark.read.parquet(s"$out/admitted")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(streamAdmitted == batchAdmitted,
      s"admission diverged: stream $streamAdmitted batch $batchAdmitted")
    assert(streamAdmitted == Set(10L, 11L, 20L), s"got $streamAdmitted")

    // profile parity over the admitted union: scalars exact,
    // approx_distinct == the batch register sketch bit-for-bit
    val admUnion = spark.read.parquet(s"$out/admitted")
      .select(col("doc_id"), col("lang"), col("text"))
    val merged = StreamingCuration.mergedProfile(spark, out, cfg.hllP)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)),
          r.getDouble(4))).toMap
    for (c <- Seq("doc_id", "lang", "text")) {
      val vals = admUnion.select(col(c)).where(col(c).isNotNull)
      assert(merged(c)._1 == vals.count(), s"n_nonnull($c)")
      val batchRegs = Sketches.hllRegisters(vals, col(c).cast("string"),
          cfg.hllP)
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      val regs = new Array[Byte](1 << cfg.hllP)
      batchRegs.foreach { case (b, rk) =>
        if (rk > regs(b)) regs(b) = rk.toByte }
      val est = StreamingDistinct.estimateOf(regs, cfg.hllP)
      assert(java.lang.Double.compare(merged(c)._4, est) == 0,
        s"approx_distinct($c): ${merged(c)._4} vs $est")
    }
    // numeric min/max on the one numeric column
    assert(merged("doc_id")._2.contains(10.0) &&
      merged("doc_id")._3.contains(20.0), s"${merged("doc_id")}")
  }

  /** Spark jobs measured per micro-batch of the job-budget test. The
    * first batch finds no store to probe. The chain of one action after
    * another, reading the source twice, ran 21 and 26. */
  private val MeasuredJobs = Map(0 -> 19, 1 -> 21)

  /** Slack, in jobs, on each batch and on the two-batch total. A read
    * re-added to the batch costs at least one job in EACH batch, so it
    * overruns the total. */
  private val JobSlack = 1

  test("job budget: each curation micro-batch runs its measured Spark " +
      "jobs plus a one-job slack, and reads its source once") {
    // A deterministic counter, not a wall time: every driver read,
    // source scan or pin added to the batch shows up here as jobs. The
    // count is per (query id, batch id) — the local properties every job
    // of a micro-batch carries, including jobs submitted from the
    // batch's own driver threads.
    val dir = java.nio.file.Files.createTempDirectory("curjb_in").toString
    val out = java.nio.file.Files.createTempDirectory("curjb_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("curjb_ck").toString
    def batchLines(b: Int): Seq[String] =
      (0 until 12).map(i => jline(100L * b + i, "en", prose(s"j$b$i"))) ++
        Seq(jline(100L * b + 50, "en", prose(s"j${b}0")
          .replace(s"j${b}0kword10", "mutatedjb")), // near-dup
          jline(100L * b + 51, "en", "too few words"),
          """{"doc_id": 1, "lang": "en", "text": "trunc""")
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, String), Int]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("graft.jobBudget.marker") != null) marker.countDown()
          val q = p.getProperty("sql.streaming.queryId")
          val b = p.getProperty("streaming.sql.batchId")
          if (q != null && b != null) jobs.merge((q, b), 1, _ + _)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "b0.jsonl"),
        batchLines(0).mkString("\n"))
      val q = StreamingCuration.start(spark, spark.readStream
          .schema(StructType(Seq(StructField("value", StringType))))
          .text(dir), schema, "doc_id", "text", out, ckpt)
      val inputs = try {
        q.processAllAvailable()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(dir, "b1.jsonl"),
          batchLines(1).mkString("\n"))
        q.processAllAvailable()
        q.recentProgress.filter(_.numInputRows > 0)
          .map(p => p.batchId.toInt -> p.numInputRows).toMap
      } finally q.stop()
      // listener events arrive in order: once this marker job is seen,
      // every stream job has been counted
      spark.sparkContext.setLocalProperty("graft.jobBudget.marker", "1")
      try spark.sparkContext.parallelize(1 to 1, 1).count()
      finally spark.sparkContext.setLocalProperty("graft.jobBudget.marker", null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      val perBatch = jobs.asScala.collect {
        case ((qid, b), n) if qid == q.id.toString => b.toInt -> n }.toMap
      assert(perBatch.keySet == Set(0, 1), s"batches: $perBatch")
      info(s"jobs per micro-batch: $perBatch")
      perBatch.foreach { case (b, n) =>
        assert(n <= MeasuredJobs(b) + JobSlack,
          s"batch $b ran $n jobs, measured ${MeasuredJobs(b)}: $perBatch") }
      assert(perBatch.values.sum <= MeasuredJobs.values.sum + JobSlack,
        s"the two batches ran ${perBatch.values.sum} jobs, measured " +
          s"${MeasuredJobs.values.sum}: $perBatch")
      // the source's rows are counted once per read of the source
      assert(inputs == Map(0 -> 15L, 1 -> 15L), s"input rows: $inputs")
      // the batch's work all happened: nothing was skipped to save jobs
      assert(spark.read.parquet(s"$out/admitted").count() == 24L)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a failing branch is rethrown after every other branch of the " +
      "batch finishes, and the batch leaves no pin behind") {
    val out = java.nio.file.Files.createTempDirectory("curf_out").toString
    // the quarantine write's parent is a file: that branch fails at once
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out,
      "quarantine"), "not a directory")
    val lines = Seq(jline(10, "en", prose("fa")), jline(11, "en", prose("fb")),
      "broken json").toDF("raw")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception](StreamingCuration.processBatch(spark, lines,
      0L, schema, "doc_id", "text", out))
    // every other branch ran to its end before the failure surfaced
    val hc = graft.core.Fs.conf(spark)
    for (d <- Seq("funnel", "store", "admitted", "profile"))
      assert(graft.core.Fs.hasParquetData(s"$out/$d/batch=0", hc),
        s"$d was not written before the failure ($e)")
    assert(spark.read.parquet(s"$out/admitted").count() == 2L)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"the failed batch leaked pins: $leaked")
  }

  test("a replayed micro-batch rewrites its increments instead of " +
      "double-counting (funnel, quarantine, admitted, profile)") {
    val out = java.nio.file.Files.createTempDirectory("curr_out").toString
    val cfg = StreamingCuration.Config()
    val b0 = Seq(jline(10, "en", prose("rp")),
      """{"doc_id": 11, "lang": "en", "text": "trunc""",
      jline(12, "en", "short")).toDF("raw")
    val b1 = Seq(jline(20, "en", prose("rq"))).toDF("raw")

    def snapshot(): (Set[(String, Long, Long)], Long, Set[Long],
                     Seq[(String, Long, Double)]) = (
      StreamingCuration.funnelTotals(spark, out).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
      spark.read.parquet(s"$out/quarantine").count(),
      spark.read.parquet(s"$out/admitted")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet,
      StreamingCuration.mergedProfile(spark, out, cfg.hllP).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(4)))
        .sortBy(_._1).toSeq)

    StreamingCuration.processBatch(spark, b0, 0L, schema, "doc_id",
      "text", out, cfg)
    StreamingCuration.processBatch(spark, b1, 1L, schema, "doc_id",
      "text", out, cfg)
    val before = snapshot()
    // the post-crash scenario: batch 0 replays AFTER batch 1 committed
    StreamingCuration.processBatch(spark, b0, 0L, schema, "doc_id",
      "text", out, cfg)
    assert(snapshot() == before,
      "replaying batch 0 must leave every merged output unchanged")
    assert(before._3 == Set(10L, 20L))
  }

  test("merged outputs are batch-boundary-invariant on chain-free " +
      "input: one batch == two batches") {
    val cfg = StreamingCuration.Config()
    val l1 = jline(10, "en", prose("bv"))
    val l2 = jline(11, "en", prose("bw"))
    val l3 = jline(20, "en", prose("bv").replace("bvkword10", "varied"))
    val l4 = """broken json"""
    // near-dup pair (10, 20) with the duplicate's id larger and no
    // chains: the canonical min-id winner is boundary-independent
    def run(splits: Seq[Seq[String]]): (Set[(String, Long, Long)],
                                        Long, Set[Long],
                                        Seq[(String, Long, Double)]) = {
      val out = java.nio.file.Files.createTempDirectory("bvar").toString
      splits.zipWithIndex.foreach { case (lines, i) =>
        StreamingCuration.processBatch(spark, lines.toDF("raw"), i.toLong,
          schema, "doc_id", "text", out, cfg)
      }
      (StreamingCuration.funnelTotals(spark, out).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet,
        spark.read.parquet(s"$out/quarantine").count(),
        spark.read.parquet(s"$out/admitted")
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet,
        StreamingCuration.mergedProfile(spark, out, cfg.hllP).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(4)))
          .sortBy(_._1).toSeq)
    }
    val one = run(Seq(Seq(l1, l2, l3, l4)))
    val two = run(Seq(Seq(l1, l2), Seq(l3, l4)))
    assert(one == two,
      s"boundary split changed the merged outputs:\n one $one\n two $two")
    assert(one._3 == Set(10L, 11L))
  }

  // ---- the budget-capped pipeline (stage 3.5) -------------------------

  /** Five quality-passing, mutually non-dup docs: four en, one fr. */
  private def budgetLines: Seq[String] = Seq(
    jline(10, "en", prose("ba")), jline(11, "en", prose("bb")),
    jline(12, "en", prose("bc")), jline(13, "en", prose("bd")),
    jline(14, "fr", prose("be")))

  private def budgetCfg = StreamingCuration.Config(
    budgets = Seq("en" -> 120L), budgetStratum = "lang")

  private def budgetSnapshot(out: String): (Set[Long], Map[Long, String],
                                            Long, Long) = {
    val dec = spark.read.parquet(s"$out/budget")
    (dec.where(col("admitted")).select(col("order_id"))
       .collect().map(_.getLong(0)).toSet,
     dec.collect().map(r => r.getLong(1) -> r.getString(5)).toMap,
     spark.read.parquet(s"$out/budget_state")
       .agg(sum(col("tokens"))).collect()(0).getLong(0),
     StreamingCuration.mergedProfile(spark, out, budgetCfg.hllP)
       .where(col("col_name") === "doc_id").collect()(0).getLong(1))
  }

  test("budget stage: arrival-order prefix admission carries across " +
      "batches, boundary doc kept, unbudgeted stratum rejected, and " +
      "the profile watches the post-budget survivors") {
    // each prose doc is 55 tokens; en budget 120: 55 -> 110 -> 165
    // (boundary doc 12 CROSSES and is kept), 13 exhausted; fr: no
    // budget. Same walk whatever the batch split.
    val outs = scala.collection.mutable.Buffer.empty[String]
    def runT(splits: Seq[Seq[String]]) = {
      val out = java.nio.file.Files.createTempDirectory("bgt").toString
      outs += out
      splits.zipWithIndex.foreach { case (lines, i) =>
        StreamingCuration.processBatch(spark, lines.toDF("raw"), i.toLong,
          schema, "doc_id", "text", out, budgetCfg)
      }
      budgetSnapshot(out)
    }
    val one = runT(Seq(budgetLines))
    val two = runT(Seq(budgetLines.take(2), budgetLines.drop(2)))
    val three = runT(Seq(budgetLines.take(1), budgetLines.slice(1, 4),
      budgetLines.drop(4)))
    assert(one == two && two == three,
      s"batch split changed the budget outcome:\n $one\n $two\n $three")
    val (admitted, reasons, stateTotal, profiled) = one
    assert(admitted == Set(10L, 11L, 12L), s"admitted $admitted")
    assert(reasons(12L) == "admitted" && reasons(13L) == "budget_exhausted"
      && reasons(14L) == "no_budget", s"reasons $reasons")
    assert(stateTotal == 165L, s"state total $stateTotal")
    assert(profiled == 3L, s"profile must watch survivors, saw $profiled")
    // curated/ is the FINAL corpus output: exactly the budget survivors
    // (admitted/ still carries the pre-budget doc 13 — the stage-3
    // artifact, not the corpus a consumer should ship)
    for (out <- outs) {
      val curated = spark.read.parquet(s"$out/curated")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(curated == Set(10L, 11L, 12L), s"curated $curated in $out")
      val preBudget = spark.read.parquet(s"$out/admitted")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(preBudget.contains(13L),
        "stage-3 admitted/ should still hold the budget-rejected doc")
    }

    // ...and the outcome equals the GroupState transport's walk over
    // the union (one rule implementation, two transports)
    val docs = Seq((10L, 55L), (11L, 55L), (12L, 55L), (13L, 55L))
      .map { case (id, tk) => StreamingBudget.Doc("en", id, tk, true) }
    val (decs, total) = StreamingBudget.walk(Some(120L), 0L, "en", docs)
    assert(decs.filter(_.admitted).map(_.order_id).toSet == admitted)
    assert(total == 165L)
  }

  test("budget stage replay: a re-run batch rewrites its state " +
      "increment and decisions instead of double-counting the carry") {
    val out = java.nio.file.Files.createTempDirectory("bgtr").toString
    val (b0, b1) = (budgetLines.take(2), budgetLines.drop(2))
    StreamingCuration.processBatch(spark, b0.toDF("raw"), 0L, schema,
      "doc_id", "text", out, budgetCfg)
    StreamingCuration.processBatch(spark, b1.toDF("raw"), 1L, schema,
      "doc_id", "text", out, budgetCfg)
    val before = budgetSnapshot(out)
    // post-crash: batch 0 replays after batch 1 committed — its own
    // earlier increment must not inflate the carry it replays against
    StreamingCuration.processBatch(spark, b0.toDF("raw"), 0L, schema,
      "doc_id", "text", out, budgetCfg)
    assert(budgetSnapshot(out) == before,
      "replaying batch 0 must leave the budget ledger unchanged")
    assert(before._1 == Set(10L, 11L, 12L))
  }

  test("NB stage: learned keep-filter between rules and dedup, " +
      "batch-boundary invariant, per-class counts persisted") {
    // weak-label a training corpus exactly like the batch composition
    // spec (NaiveBayesSpec), then run the budget-free pipeline with the
    // model configured: docs whose text leans 'drop'-ish vocabulary
    // must be cut AFTER passing the structural rules
    // class marker words must be IN the training vocabulary when the
    // eval docs arrive (everything else in prose() is salt-unique, so
    // OOV at scoring — NB drops it): keep docs carry 'cleanword',
    // spam docs 'buybuy', at alternating positions (trigrams stay
    // distinct, so the repetition rule still passes and the cut is
    // genuinely the MODEL's, not a heuristic's)
    def doc(salt: String, spammy: Boolean): String = {
      val marker = if (spammy) "buybuy" else "cleanword"
      prose(salt).split(" ").zipWithIndex.map { case (w, i) =>
        if (i >= 9 && i <= 29 && i % 2 == 1) marker else w }.mkString(" ")
    }
    import graft.ops.NaiveBayes
    val trainDocs = (0 until 40).map { i =>
      val spammy = i % 2 == 1
      (i.toLong, doc(s"t$i", spammy), if (spammy) "drop" else "keep")
    }.toDF("doc_id", "text", "label")
    val model = NaiveBayes.train(trainDocs, "text", "label")
    val cfg = StreamingCuration.Config(nbModel = Some(model))

    val lines = Seq(
      jline(10, "en", doc("qa", spammy = false)),
      jline(11, "en", doc("qb", spammy = true)), // rules pass, NB cuts
      jline(12, "en", doc("qc", spammy = false)),
      jline(13, "en", "too few words")) // rules cut before NB
    def run(splits: Seq[Seq[String]]) = {
      val out = java.nio.file.Files.createTempDirectory("nbst").toString
      splits.zipWithIndex.foreach { case (ls, i) =>
        StreamingCuration.processBatch(spark, ls.toDF("raw"), i.toLong,
          schema, "doc_id", "text", out, cfg)
      }
      (spark.read.parquet(s"$out/admitted").select(col("doc_id"))
         .collect().map(_.getLong(0)).toSet,
       spark.read.parquet(s"$out/nbfunnel")
         .groupBy(col("predicted")).agg(sum(col("n")).as("n"))
         .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    }
    val one = run(Seq(lines))
    val two = run(Seq(lines.take(2), lines.drop(2)))
    assert(one == two, s"NB stage boundary-variant: $one vs $two")
    val (admitted, counts) = one
    assert(admitted == Set(10L, 12L), s"admitted $admitted")
    // 3 rule-surviving docs scored: 2 keep, 1 drop; the rules-cut doc
    // 13 never reaches the model
    assert(counts == Map("keep" -> 2L, "drop" -> 1L), s"counts $counts")
  }

  test("budget stage replay reads PRIOR batches only: a later batch's " +
      "increment must not flip a replayed batch's original decisions") {
    // prefix admission is order-sensitive: with a 150-token doc in
    // batch 1, a carry that (wrongly) summed ALL other batches would
    // read 150 >= the remaining headroom and rewrite batch 0's second
    // doc as budget_exhausted — rewriting history for a document
    // already emitted downstream. The carry must be Σ(batch < id).
    val big = (Seq("the", "data", "that", "we", "have", "with", "good",
      "works", "fine") ++ (1 to 141).map(i =>
        s"bz${('a' + i % 26).toChar}word$i")).mkString(" ") // 150 tokens
    val cfg = StreamingCuration.Config(
      budgets = Seq("en" -> 170L), budgetStratum = "lang")
    val out = java.nio.file.Files.createTempDirectory("bgtp").toString
    val b0 = Seq(jline(10, "en", prose("pa")), jline(11, "en", prose("pb")))
    val b1 = Seq(jline(20, "en", big))
    StreamingCuration.processBatch(spark, b0.toDF("raw"), 0L, schema,
      "doc_id", "text", out, cfg)
    StreamingCuration.processBatch(spark, b1.toDF("raw"), 1L, schema,
      "doc_id", "text", out, cfg)
    // walk: 10 (0<170, ->55), 11 (55<170, ->110), then 20 crosses the
    // boundary (110<170, ->260)
    val before = budgetSnapshot(out)
    assert(before._1 == Set(10L, 11L, 20L), s"got ${before._1}")
    StreamingCuration.processBatch(spark, b0.toDF("raw"), 0L, schema,
      "doc_id", "text", out, cfg)
    val after = budgetSnapshot(out)
    assert(after == before,
      s"replay flipped decisions under a future-batch carry:\n" +
        s" before $before\n after  $after")
  }
}
