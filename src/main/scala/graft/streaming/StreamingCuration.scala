package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.core.{Overlap, Pins}
import graft.ops.TextMetrics

/** The STREAMING curation pipeline as ONE foreachBatch composition — the
  * streaming twin of the batch `pipeline_curate` row's front half:
  *
  *   JSONL line stream → contract parse with quarantine
  *     → Gopher+repetition admission (the [[StreamingFunnel]] rule set,
  *       with per-rule fail COUNTERS persisted per batch)
  *     → learned-quality admission (when configured — the broadcast
  *       [[graft.ops.NaiveBayes]] model, per-class counts persisted)
  *     → online near-dup admission ([[StreamingDedup]]'s LSH store)
  *     → token-budget admission (when configured — [[StreamingBudget]]'s
  *       walk over a parquet-carried per-stratum total)
  *     → per-column PROFILE increments over the admitted output
  *       (the drop monitor).
  *
  * The stages are a dependency order, not a chain of actions: a batch
  * reads its source once, over every core, and the writes that read
  * nothing of each other run concurrently (the graph in
  * [[processBatch]]).
  *
  * Every stage's state is bounded or external-and-idempotent:
  *  - the parse and the rule evaluation are row-local projections (no
  *    state at all);
  *  - funnel counters are |rules| rows of two sums per batch, written
  *    as `batch=<id>` increments — sums are commutative/associative, so
  *    the merged totals equal the batch funnel over the union of all
  *    inputs EXACTLY, whatever the batch boundaries (the parity spec);
  *  - the near-dup store is the [[StreamingDedup]] contract (band-key
  *    parquet, per-batch overwrite increments — corpus-sized state
  *    deliberately lives OUTSIDE GroupState);
  *  - profile increments carry per-column (n_nonnull, min, max) plus
  *    HLL registers (≤ 2^p bounded rows per column per batch); every
  *    merge (sum, min, max, register max) commutes, so the merged
  *    profile equals the batch sketch over the admitted union
  *    bit-for-bit ([[StreamingDistinct.estimateOf]], the pinned JVM
  *    mirror).
  *
  * Replay idempotence: every per-batch artifact lands under its own
  * `batch=<id>` directory with overwrite — a post-crash replayed
  * micro-batch rewrites the same paths (the StreamingDedup idiom), so
  * nothing double-counts without a transactional table format.
  *
  * Admission-order caveat (inherited from [[StreamingDedup]] and pinned
  * there): within a batch, a document is rejected against any
  * smaller-id near-duplicate regardless of that document's own fate —
  * chains (A~B, B~C, A≁C) reject both B and C where the batch
  * pipeline's connected-components + canonical pick keeps C. On
  * chain-free corpora the two admission sets coincide exactly (the
  * parity spec constructs both cases' honest variant).
  */
object StreamingCuration {

  /** `budgets` non-empty switches on the token-budget admission stage
    * (stage 3.5): per-`budgetStratum` caps applied AFTER near-dup
    * admission, with arrival-order prefix semantics
    * ([[StreamingBudget]]'s rule — the boundary-crossing document is
    * kept) and the running totals carried across batches through
    * per-batch parquet increments (the [[StreamingDedup]] state idiom:
    * replays exclude and overwrite their own partition).
    *
    * `nbModel` set switches on the LEARNED quality filter (stage 2.5):
    * documents surviving the rule conjunction are additionally scored
    * by the [[graft.ops.NaiveBayes]] model and admitted only when the
    * argmax class is `nbKeepClass` — the fastText-class model stage a
    * production funnel runs between its heuristics and its dedup. The
    * model is a trained session artifact (vocabulary-sized pinned
    * tables — train it offline, batch-side); the stage itself is
    * STATELESS (pure scoring against the model), so batch-boundary
    * invariance is structural. Per-class decision counts persist under
    * `nbfunnel/batch=<id>` — a learned cut a monitor cannot see is a
    * silent data loss, same rule as the budget ledger. */
  final case class Config(minWords: Int = 50, maxWords: Int = 100000,
                          stopwords: Seq[String] =
                            TextMetrics.GopherStopwords,
                          ngramMax: Double = 0.3,
                          shingleN: Int = 3, sigK: Int = 32,
                          bands: Int = 8, minAgree: Int = 16,
                          hllP: Int = 8,
                          budgets: Seq[(String, Long)] = Nil,
                          budgetStratum: String = "lang",
                          nbModel: Option[graft.ops.NaiveBayes.Model] =
                            None,
                          nbKeepClass: String = "keep")

  /** One micro-batch of the composed pipeline (public so the parity
    * spec and a backfill driver can run it directly). `lines` carries
    * raw JSONL in its first column; `schema` is the ingest contract
    * and must contain `idCol` (long) and `textCol` (string). The batch
    * is one [[Pins.scope]]: every stage's output is written before its
    * pins are released.
    *
    * The batch runs as a short dependency graph, not a chain of
    * actions. Its lines are read once and pinned over
    * `defaultParallelism` partitions (a batch is often one file, so one
    * partition); every later stage reads that pin. Writes that read
    * nothing of each other then run concurrently ([[Overlap.par]]):
    * {{{
    *   lines pin ─┬─ quarantine write
    *              └─ featured pin ─┬─ funnel write
    *                               └─ [NB] → dedup judge ─┬─ store write
    *                                                      ├─ admitted write
    *                                                      └─ [budget] → profile write
    * }}}
    * The optional NB and budget stages keep their place in the chain.
    * A failing branch is rethrown after every other branch finishes. */
  def processBatch(spark: SparkSession, lines: DataFrame, batchId: Long,
                   schema: StructType, idCol: String, textCol: String,
                   outDir: String, cfg: Config = Config()): Unit = Pins.scope {
    // stage 1: contract parse over the batch's lines, read from the
    // source once; quarantined raw lines persist for replay
    val src = Pins.pin(lines.repartition(spark.sparkContext.defaultParallelism))
    val (clean, quarantined) =
      graft.sources.JsonlSource.parseWithQuarantine(src, schema)
    Overlap.par(
      () => quarantined.write.mode("overwrite")
        .parquet(s"$outDir/quarantine/batch=$batchId"),
      () => {
        // stage 2: rule features bound once; counters + admission share
        // the SAME rule columns (single-sourced — the funnel cannot
        // disagree with the filter). Pinned: the counter aggregation and
        // the admission filter both consume it.
        val featured = Pins.pin(StreamingFunnel.withFeatures(clean,
          col(textCol), cfg.minWords, cfg.maxWords, cfg.stopwords))
        Overlap.par(
          () => StreamingFunnel.failCounters(featured, cfg.minWords,
              cfg.maxWords, cfg.ngramMax)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/funnel/batch=$batchId"),
          () => admit(spark, featured, batchId, idCol, textCol, outDir, cfg))
      })
  }

  /** Stages 2.5 to 4 over the featured batch: the learned filter (when
    * configured), the near-dup judge, then the judge's two writes
    * alongside the budget stage (when configured) and the profile. */
  private def admit(spark: SparkSession, featured: DataFrame, batchId: Long,
                    idCol: String, textCol: String, outDir: String,
                    cfg: Config): Unit = {
    val rules = StreamingFunnel.rulesOver(col("__qf_g"), col("__qf_r"),
      cfg.minWords, cfg.maxWords, cfg.ngramMax)
    // stage 2.5 (when configured): the learned quality filter over the
    // rule survivors — NB argmax == keep class admits; per-class counts
    // persist so the cut is observable. Stateless: pure scoring
    // against the broadcast-sized model tables.
    val ruleAdmitted = featured.where(rules.last._2)
      .drop("__qf_g", "__qf_r")
    val admittedQ = cfg.nbModel match {
      case None => ruleAdmitted
      case Some(m) =>
        // pinned: two consumers, counts + admission
        val pred = Pins.pin(graft.ops.NaiveBayes
          .predict(ruleAdmitted, idCol, textCol, m))
        pred.groupBy(col("predicted")).agg(count(lit(1)).as("n"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/nbfunnel/batch=$batchId")
        ruleAdmitted.join(
          broadcast(pred.where(col("predicted") === cfg.nbKeepClass)
            .select(col(idCol))), Seq(idCol), "left_semi")
    }
    // stage 3: online near-dup admission against the persistent LSH
    // store
    val verdict = StreamingDedup.judge(spark, admittedQ, batchId, idCol,
      textCol, s"$outDir/store", s"$outDir/admitted", cfg.shingleN,
      cfg.sigK, cfg.bands, cfg.minAgree)

    // stage 4: profile increment over THIS batch's admitted output (the
    // drop monitor watches what survived, not what arrived). The
    // admitted rows come from the pinned featured table semi-joined
    // against the BOUNDED admitted-id list (one batch's worth — the
    // judge's contract), not from re-reading the just-written parquet:
    // an all-rejected batch would leave a fileless directory that a
    // read-back cannot infer a schema from.
    def profile(): Unit = {
      import spark.implicits._
      val admDf = admittedQ.join(
        broadcast(verdict.ids.toDF("__adm_id")),
        admittedQ(idCol).cast("long") === col("__adm_id"), "left_semi")
      // stage 3.5 (when configured): token-budget admission over the
      // near-dup survivors — the production shape is a budget-CAPPED
      // curation, and the profile must watch what survives the WHOLE
      // funnel, so the budget cut runs before the profile increment
      val surviving =
        if (cfg.budgets.isEmpty) admDf
        else budgetStage(spark, admDf, batchId, idCol, textCol, outDir, cfg)
      profileIncrement(surviving, cfg.hllP)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/profile/batch=$batchId")
    }
    Overlap.par(verdict.writes :+ (() => profile()): _*)
  }

  /** The token-budget admission stage: [[StreamingBudget.walk]] (the
    * SAME rule implementation the GroupState operator runs) driven
    * from a parquet-carried state — per-stratum admitted-token totals
    * accumulate as `budget_state/batch=<id>` increments; a batch's
    * carry is the sum over every OTHER batch's increment, so a
    * post-crash replay neither double-counts its own earlier attempt
    * nor loses the carry (the [[StreamingDedup]] replay rule). The
    * full decision log (admitted and rejected, with reasons) persists
    * under `budget/batch=<id>` — a budget cut a monitor cannot see is
    * a silent data loss — and the surviving DOCUMENTS land under
    * `curated/batch=<id>`, the final corpus output of a budget-capped
    * pipeline (`admitted/` is the pre-budget stage-3 artifact). State
    * and carry are bounded by |budgets| (only budgeted strata ever
    * admit, so only they ever write an increment). Returns the
    * surviving rows of `batch`. */
  private def budgetStage(spark: SparkSession, batch: DataFrame,
                          batchId: Long, idCol: String, textCol: String,
                          outDir: String, cfg: Config): DataFrame = {
    require(cfg.budgets.forall(_._2 > 0),
      s"budgets must be positive: ${cfg.budgets}")
    require(cfg.budgets.map(_._1).distinct.size == cfg.budgets.size,
      s"duplicate stratum in ${cfg.budgets}")
    require(cfg.budgets.forall(b => b._1 != null &&
      b._1 != StreamingBudget.NullStratumKey),
      "null is not a budgetable stratum")
    import spark.implicits._
    val stateDir = s"$outDir/budget_state"
    // carry = PRIOR batches only (batch < id, not batch != id): a
    // post-crash replay of batch N after batch N+1 committed must
    // reproduce N's ORIGINAL carry — prefix admission is
    // order-sensitive, so including a later batch's increment could
    // flip decisions already emitted downstream (the set-union
    // StreamingDedup store tolerates != because its membership test is
    // order-free; a running total does not)
    val carried: Map[String, Long] =
      if (!graft.core.Fs.hasParquetData(stateDir, graft.core.Fs.conf(spark)))
        Map.empty
      else spark.read.parquet(stateDir)
        .where(col("batch") < batchId)
        .groupBy(col("stratum")).agg(sum(col("tokens")).as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val budgets = cfg.budgets.toMap
    // the same NULL discipline as StreamingBudget.admit: Doc's fields
    // are primitive longs, so an un-coalesced NULL id/token count would
    // crash Dataset encoding BEFORE the valid flag could mark the row
    // invalid_row — reject-and-flow, never crash, even though upstream
    // stages currently drop such rows
    val oid = col(idCol).cast("long")
    val tok = TextMetrics.tokenCount(col(textCol)).cast("long")
    val docs = batch.select(
        coalesce(col(cfg.budgetStratum).cast("string"),
          lit(StreamingBudget.NullStratumKey)).as("stratum"),
        coalesce(oid, lit(Long.MinValue)).as("order_id"),
        coalesce(tok, lit(0L)).as("tokens"),
        (oid.isNotNull && tok.isNotNull).as("valid"))
      .as[StreamingBudget.Doc]
    // the walk runs per stratum on executors, STREAMING: repartition
    // co-locates each stratum, sortWithinPartitions imposes the walk's
    // pinned (order_id, tokens) order with the engine's sort (spills
    // under pressure), and the partition iterator folds the shared
    // per-doc rule (StreamingBudget.decide) over each contiguous
    // stratum run with O(1) state — the r12 shape materialized one
    // stratum's whole batch slice per task (it.toSeq + sortBy), which
    // a backfill-sized batch dominated by one stratum paid as O(slice)
    // task memory. The one-task WALL per stratum remains — prefix
    // admission is a sequential dependency by definition (each
    // decision needs the running total before it), so per-stratum
    // serialism is the semantics' own grain, not a plan defect; the
    // memory bound is what this shape fixes. Decisions are pinned:
    // three consumers (decision log, state increment, admission
    // filter).
    val dec = Pins.pin(docs
      .repartition(col("stratum"))
      .sortWithinPartitions(col("stratum"), col("order_id"), col("tokens"))
      .mapPartitions { it =>
        new Iterator[StreamingBudget.Decision] {
          private var cur: String = null
          private var open = false
          private var budget: Option[Long] = None
          private var admitted = 0L
          def hasNext: Boolean = it.hasNext
          def next(): StreamingBudget.Decision = {
            val d = it.next()
            if (!open || d.stratum != cur) {
              open = true; cur = d.stratum
              budget = budgets.get(cur)
              admitted = carried.getOrElse(cur, 0L)
            }
            val (decision, after) =
              StreamingBudget.decide(budget, admitted, cur, d)
            admitted = after
            decision
          }
        }
      }
      .toDF())
    // NO coalesce(1) here, unlike the funnel counters (|rules| rows)
    // and the state increments (|budgets| rows): the decision log
    // carries ONE ROW PER INPUT DOCUMENT, so a single writer would
    // serialize an O(batch) artifact — a backfill-sized micro-batch
    // pays a one-task wall for a monitor file. Content is pinned by
    // the spec; file count is not.
    dec.write.mode("overwrite")
      .parquet(s"$outDir/budget/batch=$batchId")
    dec.where(col("admitted"))
      .groupBy(col("stratum")).agg(sum(col("tokens")).as("tokens"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/batch=$batchId")
    // pinned: two consumers, curated + profile
    val surviving = Pins.pin(batch.join(
      broadcast(dec.where(col("admitted"))
        .select(col("order_id").as("__bg_id"))),
      batch(idCol).cast("long") === col("__bg_id"), "left_semi"))
    // the FINAL corpus output when budgets are configured: `admitted/`
    // is written at stage 3 (before this cut) and still carries
    // budget-rejected documents — a consumer reading it as the curated
    // corpus would ship over-budget docs, silently voiding the caps.
    // Replay-idempotent like every other per-batch artifact.
    surviving.write.mode("overwrite")
      .parquet(s"$outDir/curated/batch=$batchId")
    surviving
  }

  /** Bounded per-column profile partial of one batch: one row per
    * column WITH OBSERVED VALUES (a column all-null in this batch
    * contributes no increment — the merged profile reports columns as
    * of their first observed value, the drop monitor's need) —
    * (col_name, n_nonnull, min_v, max_v, regs) with `regs`
    * the column's occupied HLL registers as (bucket, rank) structs
    * (≤ 2^p entries). Numeric routing is the batch profiler's own
    * ([[graft.ops.Profile.numeric]]) — one contract, not two. */
  def profileIncrement(batch: DataFrame, p: Int): DataFrame = {
    // the observation projection is StreamingProfile's — ONE contract
    // (hashing, null routing, numeric typing) behind both profilers,
    // which is what makes the merged-estimate bit-parity claim hold
    batch
      .select(explode(array(
        StreamingProfile.obsStructs(batch, Nil, p): _*)).as("o"))
      .select(col("o.*"))
      .where(!col("is_null"))
      .groupBy(col("col_name"), col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("num")).as("mn"),
        max(col("num")).as("mx"), max(col("rank")).as("rk"))
      .groupBy(col("col_name"))
      .agg(sum(col("n")).as("n_nonnull"), min(col("mn")).as("min_v"),
        max(col("mx")).as("max_v"),
        collect_list(struct(col("bucket"), col("rk").as("rank")))
          .as("regs"))
  }

  /** Merged funnel totals over every batch increment: (rule, n_fail,
    * n_docs) — exactly the batch funnel over the union of all parsed
    * inputs (sums commute across batch boundaries). */
  def funnelTotals(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/funnel")
      .groupBy(col("rule"))
      .agg(sum(col("n_fail")).as("n_fail"), sum(col("n_docs")).as("n_docs"))

  /** Merged per-column profile over every batch increment:
    * (col_name, n_nonnull, min_v, max_v, approx_distinct). Register
    * merge is max-per-bucket — the HLL union — then the estimate is
    * [[StreamingDistinct.estimateOf]], so the merged number equals the
    * batch sketch over the union of admitted rows bit-for-bit. The
    * merge input is bounded (batches × columns × 2^p rows), so the
    * final estimate step collects only per-column register tables. */
  def mergedProfile(spark: SparkSession, outDir: String,
                    p: Int): DataFrame = {
    import spark.implicits._
    val inc = spark.read.parquet(s"$outDir/profile")
    val scalar = inc.groupBy(col("col_name"))
      .agg(sum(col("n_nonnull")).as("n_nonnull"),
        min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"))
    val regRows = inc
      .select(col("col_name"), explode(col("regs")).as("r"))
      .groupBy(col("col_name"), col("r.bucket"))
      .agg(max(col("r.rank")).as("rank"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    val est = regRows.groupBy(_._1).map { case (name, rows) =>
      val regs = new Array[Byte](1 << p)
      rows.foreach { case (_, b, rk) =>
        if (rk > regs(b)) regs(b) = rk.toByte }
      (name, StreamingDistinct.estimateOf(regs, p))
    }.toSeq.toDF("col_name", "approx_distinct")
    scalar.join(est, "col_name")
  }

  /** Wire the composed pipeline onto a streaming line source. */
  def start(spark: SparkSession, lines: DataFrame, schema: StructType,
            idCol: String, textCol: String, outDir: String,
            checkpointDir: String,
            cfg: Config = Config()): StreamingQuery =
    lines.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, schema, idCol, textCol,
          outDir, cfg)
      }
      .start()
}
