package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Pins

/** Deterministic multinomial Naive Bayes over unigram token counts —
  * the LEARNED complement to the rule-based quality filters
  * (`quality_gopher`, `text_repetition`): every production curation
  * stack runs a fastText-class model classifier next to its heuristics
  * (CCNet trains one against Wikipedia; Llama/GPT data notes describe
  * the same shape). Multinomial NB is the expressible-and-exact slice:
  * training is PURE AGGREGATION (token counts per class + class
  * totals), scoring is one corpus token pass against a broadcast
  * model, and every number is replayable cross-engine.
  *
  * Model (Laplace-smoothed):
  *   log_prior(c)  = ln(n_docs_c / n_docs)
  *   p(t | c)      = (count(t, c) + 1) / (n_tokens_c + V)
  * with V the training vocabulary size. Scoring uses the SPARSE
  * decomposition — only nonzero (token, class) counts are ever stored
  * or joined:
  *   score(d, c) = log_prior(c) − N_d · ln(n_tokens_c + V)
  *                 + Σ_{occurrences t ∈ d} ln(count(t, c) + 1)
  * (a zero-count pair contributes ln(0 + 1) = 0, so the missing rows
  * of the dense token × class matrix vanish from the sum — the model
  * table is vocabulary-sized, never vocabulary × classes dense).
  * Tokens outside the training vocabulary are DROPPED at scoring
  * (standard multinomial NB inference), which keeps N_d consistent
  * with the per-class norm.
  *
  * Determinism (the cross-engine rules): every ln is rounded to 6 dp
  * at the model table (so both engines sum IDENTICAL doubles); the
  * per-document likelihood sum routes through decimal(18,9) — exact,
  * order-independent; N_d · log_norm is one IEEE product of an integer
  * and a 6-dp double; the final score is one fixed-shape expression
  * rounded to 6 dp; the argmax tie-breaks on the class label.
  *
  * 100 TB shape: training = one corpus token scan into a
  * vocabulary-sized (token, class) rollup plus a |classes|-row stats
  * table (both pinned — they are the model artifact); scoring = one
  * corpus token scan hash-joined against the model (broadcast when it
  * fits, plain equi-join otherwise — Spark's call), one bounded
  * groupBy per document, and a |classes|-wide argmax. No all-pairs
  * anything, no iteration, no driver data. */
object NaiveBayes {

  /** The trained model: `classStats` (label, n_docs, n_tokens,
    * log_prior, log_norm) — one row per class — and `tokenCounts`
    * (token, label, c, log_lik) — nonzero counts only,
    * vocabulary-sized. `vocabSize` is V (collect-routed at train time;
    * it is baked into log_norm, carried for inspection). */
  case class Model(classStats: DataFrame, tokenCounts: DataFrame,
                   vocabSize: Long)

  private def toks(df: DataFrame, textCol: String, extra: Column*) =
    df.select(extra :+ explode(TextMetrics.tokens(col(textCol)))
        .as("token"): _*)
      .where(length(col("token")) > 0)

  /** Train on (textCol, labelCol). NULL labels are rejected loudly —
    * a silent drop would skew the priors against exactly the rows a
    * broken upstream labeler failed on. */
  def train(df: DataFrame, textCol: String, labelCol: String): Model = {
    val lab = df.select(
      when(col(labelCol).isNull, raise_error(
        lit("NaiveBayes.train: NULL label")).cast("string"))
        .otherwise(col(labelCol).cast("string")).as("label"),
      col(textCol).as("__nb_text"))
    val tk = toks(lab, "__nb_text", col("label"))
    // nonzero (token, class) counts — THE model table, pinned. This is
    // the ONE corpus token scan of training: the vocabulary size and
    // the per-class token totals both derive from this vocabulary-sized
    // table (V = its distinct tokens, n_tokens_c = Σ_t c), never from a
    // second pass over the corpus explode.
    // the vocabulary-size read rides the SAME job that materializes
    // the checkpoint (Pins.pinWith — the distinct-count aggregation
    // computes every partition): the eager-ckpt-then-count form paid
    // one extra scheduled action per train
    val (tokenCounts, vocab) = Pins.pinWith(
      tk.groupBy(col("token"), col("label"))
        .agg(count(lit(1)).as("c"))
        .withColumn("log_lik", round(log(col("c") + 1), 6)))(
      _.select(col("token")).distinct().count())
    // priors need one scan of the raw document table (not the token
    // explode); the doc total rides the pinning job the same way
    val (classDocs, totalRow0) = Pins.pinWith(
      lab.groupBy(col("label")).agg(count(lit(1)).as("n_docs")))(
      _.agg(sum(col("n_docs"))).collect())
    val totalRow = totalRow0(0)
    val totalDocs = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    require(totalDocs > 0, "NaiveBayes.train: empty corpus")
    val classStats = Pins.pin(classDocs
      .join(tokenCounts.groupBy(col("label"))
        .agg(sum(col("c")).as("n_tokens")), Seq("label"), "left")
      .select(col("label"), col("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(log(col("n_docs").cast("double") / totalDocs), 6)
          .as("log_prior"),
        round(log(coalesce(col("n_tokens"), lit(0L)) + vocab), 6)
          .as("log_norm")))
    Model(classStats, tokenCounts, vocab)
  }

  /** Per-document per-class scores: (idCol, label, score), every class
    * for EVERY document — a document with zero in-vocabulary tokens
    * (N_d = 0) scores its prior alone, the standard multinomial-NB
    * fallback. Dropping such documents instead would make a
    * composed admission stage cut them INVISIBLY (no decision row for
    * the monitor), exactly the silent-loss class the curation funnel
    * forbids.
    *
    * `idCol` must be UNIQUE per document and the guard is LOUD: a
    * duplicated id would merge both documents' in-vocab token streams
    * into one N_d and one likelihood sum — a single blended score
    * shipped as if it were a real document. The check rides the N_d
    * aggregation itself (the id rollup was already a groupBy), so it
    * costs no extra pass. */
  def scoreAll(df: DataFrame, idCol: String, textCol: String,
               model: Model): DataFrame = {
    // in-vocab occurrences only: semi-join against the vocabulary
    // (N_d must count exactly the occurrences the likelihood sum
    // sees, or the per-class norm term goes inconsistent). The table
    // is a MATERIALIZED stage boundary (narrow: id + token — the
    // topKCosineRp rule): the likelihood sum and the occurrence count
    // both read it, and unpinned each would re-execute the corpus
    // explode + vocabulary semi-join (SCALE_r09 §22)
    val tk = Pins.pin(toks(df, textCol, col(idCol))
      .join(model.tokenCounts.select(col("token")).distinct(),
        Seq("token"), "left_semi"))
    val s1 = tk.join(model.tokenCounts.select(col("token"), col("label"),
        col("log_lik")), Seq("token"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("log_lik").cast("decimal(18,9)")).cast("double")
        .as("__nb_s"))
    // N_d over ALL documents (a narrow id-projection scan of df, not
    // the token explode): zero for the all-OOV document, which then
    // rides the prior-only leg instead of vanishing from the output.
    // The duplicate-id guard rides the consumed __nb_n column — hung
    // off an unused column, Catalyst would prune it away with the
    // projection
    val nd = df.groupBy(col(idCol)).agg(count(lit(1)).as("__nb_dup"))
      .join(tk.groupBy(col(idCol)).agg(count(lit(1)).as("__nb_n0")),
        Seq(idCol), "left")
      .select(col(idCol),
        when(col("__nb_dup") > 1, raise_error(concat(
          lit("NaiveBayes.scoreAll: duplicate id: "),
          col(idCol).cast("string"))).cast("long"))
          .otherwise(coalesce(col("__nb_n0"), lit(0L))).as("__nb_n"))
    nd.crossJoin(broadcast(model.classStats
        .select(col("label"), col("log_prior"), col("log_norm"))))
      .join(s1, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        round(col("log_prior") - col("__nb_n") * col("log_norm") +
          coalesce(col("__nb_s"), lit(0.0)), 6).as("score"))
  }

  /** Argmax prediction: (idCol, predicted, score) — highest score,
    * ties to the smaller class label. */
  def predict(df: DataFrame, idCol: String, textCol: String,
              model: Model): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label"))
    scoreAll(df, idCol, textCol, model)
      .withColumn("__nb_r", row_number().over(w))
      .where(col("__nb_r") === 1)
      .select(col(idCol), col("label").as("predicted"), col("score"))
  }
}
