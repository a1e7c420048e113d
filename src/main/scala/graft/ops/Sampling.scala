package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Deterministic sampling for corpus curation. `rand()`-based sampling
  * is useless for a reproducible training-data pipeline (re-runs and
  * retries see different rows, and the sample can't be re-derived for
  * audit); everything here keys off a hash of a stable row id, so the
  * same row is in or out of the sample on every run, every partitioning,
  * every cluster size.
  *
  * Scale notes: [[stratifiedSample]] is a pure filter — no shuffle at
  * all, fully pushdown-friendly, the form to use at 100 TB.
  * [[smallestHashSample]] (exact-N per stratum) needs a per-stratum
  * order, i.e. one shuffle of the FULL data on the stratum key, and with
  * few large strata the window partitions are skewed.
  * [[smallestHashSampleTwoPhase]] removes both hazards: a bounded top-N
  * aggregate keeps at most N (hash, id) pairs per stratum per task
  * map-side, so the exchange moves pairs, not rows, and no partition
  * ever holds more than the merged pair lists — the form for huge data.
  * The two are equivalence-spec-pinned.
  */
object Sampling {

  /** Stable bucket in [0, buckets) from a row-id column. */
  def hashBucket(id: Column, buckets: Int): Column =
    pmod(xxhash64(id), lit(buckets.toLong))

  /** The id-hash folded to a 32-bit uniform — THE shared coin every
    * sampler's cross-engine determinism keys on (the oracles replay it
    * from the raw-hash aux table); one definition, three consumers. */
  private def unit32(id: Column): Column =
    pmod(xxhash64(id), lit(1L << 32))

  /** ln of the (0, 1]-mapped uniform, rounded to 6 dp — the log-space
    * coin shared by [[logWeightedSample]] and [[weightedSampleExactN]]. */
  private def lnUnit(id: Column): Column =
    round(log((unit32(id) + 1).cast("double") / lit(4294967296.0)), 6)

  /** Rate-based stratified sample: keep a row of stratum s iff
    * `hash(id) mod buckets < round(rates(s) * buckets)`. Unknown strata
    * get `defaultRate`. Deterministic, no shuffle, composable with any
    * downstream plan. The cutoff is computed as an INTEGER on the
    * driver — comparing against the raw double product would admit one
    * extra bucket whenever `rate * buckets` rounds a hair above the
    * intended integer (0.07 * 100 == 7.000000000000001).
    */
  def stratifiedSample(df: DataFrame, stratum: Column, id: Column,
                       rates: Map[String, Double], defaultRate: Double,
                       buckets: Int = 1000): DataFrame = {
    def cutoff(r: Double): Long = {
      require(r >= 0.0 && r <= 1.0, s"rate $r outside [0, 1]")
      math.round(r * buckets)
    }
    val threshold = rates.foldLeft(lit(cutoff(defaultRate))) {
      case (acc, (s, r)) => when(stratum === s, lit(cutoff(r))).otherwise(acc)
    }
    df.where(hashBucket(id, buckets) < threshold)
  }

  /** Exact-N-per-stratum sample: the N rows with the smallest id-hash in
    * each stratum — a uniform without-replacement draw that is stable
    * under reruns AND under data growth (a row only leaves the sample
    * when a smaller-hash row arrives). Adds `sample_rank` (1..N).
    * Hash ties (astronomically unlikely with xxhash64, but determinism
    * must not rest on luck) break on the id itself.
    */
  def smallestHashSample(df: DataFrame, stratum: Column, id: Column,
                         n: Int): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(xxhash64(id), id)
    df.withColumn("sample_rank", row_number().over(w))
      .where(col("sample_rank") <= n)
  }

  /** Two-phase exact-N-per-stratum sample — SAME result as
    * [[smallestHashSample]] (equivalence-spec-pinned), built for strata
    * far larger than a task: phase 1 is the bounded [[BoundedTopAgg]], whose
    * map-side partial aggregation keeps at most n (hash, id) pairs per
    * stratum per task — the per-partition top-N — so the exchange moves
    * ≤ tasks × strata × n 16-byte pairs whatever the data size, and the
    * reduce side merges pair lists instead of sorting a stratum; phase 2
    * joins the ≤ strata × n sampled ids back onto the data (an equi-join
    * the optimizer broadcasts at sane sample sizes). No window, no
    * full-data sort, no skew: a stratum's cost no longer depends on its
    * row count beyond the scan.
    *
    * `id` must be non-null, integral, and UNIQUE within its stratum
    * (the repo's doc_id/vec_id key convention — it rides the buffer as
    * a long; hash ties break on it). A duplicated id would fan out
    * through the join-back where the window form ranks each occurrence,
    * so the equivalence contract is scoped to key-like ids. A NULL
    * stratum is a stratum like any other (null-safe join), exactly as
    * the window form partitions it. Adds `sample_rank` (1..N),
    * REPLACING any existing column of that name as `withColumn` does in
    * the window form. */
  def smallestHashSampleTwoPhase(df: DataFrame, stratum: Column, id: Column,
                                 n: Int): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    val base = df.drop("sample_rank")
    // the bounded buffer is the shared BoundedTopAgg (also behind
    // TopK.topKByScore) with the signed ascending (hash, id) order the
    // window form's orderBy uses
    val less = (h1: Long, i1: Long, h2: Long, i2: Long) =>
      h1 < h2 || (h1 == h2 && i1 < i2)
    val top = base.groupBy(stratum.as("__tp_s"))
      .agg(udaf(new BoundedTopAgg(n, less), Encoders.product[(Long, Long)])
        .apply(xxhash64(id), id.cast("long")).as("__tp_top"))
      .select(col("__tp_s"),
        posexplode(col("__tp_top")).as(Seq("__tp_pos", "__tp_hi")))
      .select(col("__tp_s"),
        (col("__tp_pos") + 1).cast("int").as("sample_rank"),
        col("__tp_hi._2").as("__tp_i"))
    base.join(top, stratum <=> col("__tp_s") &&
        id.cast("long") === col("__tp_i"))
      .drop("__tp_s", "__tp_i")
  }

  /** Weighted Bernoulli sample: keep each row independently with
    * probability `prob` (a column in [0,1]; values outside are clamped,
    * and a NULL prob reads as 0 — the row is explicitly excluded rather
    * than silently dropped by a three-valued-logic filter),
    * deterministically — the "coin flip" is the id-hash folded to a
    * 32-bit uniform, compared against floor(prob * 2^32). Like
    * [[stratifiedSample]] this is a PURE FILTER (no shuffle, rerun- and
    * partitioning-stable, rides the scan at 100 TB), but the keep
    * probability can vary continuously per row — the quality-weighted
    * downsampling a curation pass wants. The float product takes exactly
    * one rounding before the integer floor, so the kept set reproduces
    * in any engine that computes `prob` with the same arithmetic. */
  def weightedSample(df: DataFrame, id: Column, prob: Column): DataFrame = {
    val unit = unit32(id)
    val cutoff = floor(
      least(greatest(coalesce(prob, lit(0.0)), lit(0.0)), lit(1.0)) *
        lit(4294967296.0))
    df.where(unit < cutoff)
  }

  /** [[weightedSample]] with the probability given in LOG space: keep
    * each row with probability min(1, e^logProb) — the form an
    * importance-resampling pass produces (a log-likelihood RATIO) —
    * WITHOUT ever calling exp: the coin compares in log space,
    * `round(ln((u+1)/2^32), 6) < logProb` with u the 32-bit id-hash
    * uniform. exp's cross-engine rounding is unpinned libm behaviour;
    * ln of a discrete hash value rounded to 6 dp is the single-ln form
    * the repo's other oracles already rely on. A NULL logProb excludes
    * the row explicitly. logProb >= 0 means min(1, e^lp) = 1: kept
    * UNCONDITIONALLY, matching [[weightedSample]] at prob = 1 (the
    * strict `<` alone would drop the one row whose hash maps to
    * u = 2^32-1, i.e. lnUnit = 0, at lp = 0 — an inconsistency between
    * the two coins, not a defensible probability). Still a PURE
    * FILTER — no shuffle, rides the scan. */
  def logWeightedSample(df: DataFrame, id: Column,
                        logProb: Column): DataFrame = {
    val lp = coalesce(logProb, lit(Double.NegativeInfinity))
    df.where(lp >= 0.0 || lnUnit(id) < lp)
  }

  /** Weighted exact-N sample without replacement per stratum — the
    * Efraimidis–Spirakis A-ES scheme, the canonical distributed form:
    * each row draws the key u^(1/w) (u uniform from the id hash, w its
    * weight) and the N largest keys per stratum win; a row's selection
    * probability is proportional to its weight. Everything stays in LOG
    * space (key ⇔ ln(u)/w — same argmax, no pow/exp libm call; ln of
    * the discrete hash value is rounded to 6 dp, the repo's single-ln
    * rule) and the per-stratum top-N runs on [[TopK.topKByScore]]'s
    * bounded two-phase aggregator — map-side ≤ N pairs per stratum per
    * task, pairs not rows through the exchange, no skewed window.
    * Weights must be strictly positive and non-null (fails loudly,
    * naming the id — a zero weight would divide ln(u) to -∞, which has
    * no defensible rank). Deterministic, rerun- and partitioning-
    * stable. Adds `sample_rank` (1..N) in key order. */
  def weightedSampleExactN(df: DataFrame, stratum: Column, id: Column,
                           weight: Column, n: Int): DataFrame = {
    require(n > 0, s"need n > 0, got $n")
    val w = weight.cast("double")
    val wGuarded = when(w.isNull || w <= 0.0 || isnan(w),
      raise_error(concat(
        lit("weightedSampleExactN: non-positive, NaN, or NULL weight "),
        lit("for id "), id.cast("string")))).otherwise(w)
    val lnU = lnUnit(id)
    // u = 2^32 maps to ln 1 = 0: score 0/w = 0 for every weight — a
    // harmless 2^-32 corner where that one row ranks first with ties
    // on the id, identically in any engine
    val key = lnU / wGuarded
    TopK.topKByScore(df.withColumn("__ws_key", key), stratum, id,
        col("__ws_key"), n)
      .withColumn("sample_rank", col("topk_rank"))
      .drop("topk_rank", "__ws_key")
  }

  /** Largest-remainder (Hamilton) apportionment of `total` sample slots
    * across target mixture weights: each stratum gets
    * `floor(total·w/Σw)` slots, and the leftover slots go to the
    * largest fractional remainders (ties on the stratum key — fully
    * deterministic, and replayable in SQL: Σw routes through
    * DECIMAL(8,4) so the normalizer is order-independent, then one
    * double multiply/divide per stratum exactly as an oracle computes
    * it). Driver-side arithmetic over the handful of mixture weights —
    * no data is touched.
    *
    * Because the normalizer is the 4-dp-ROUNDED sum, weights whose true
    * sum differs from their rounded sum (thirds, or weights below
    * 0.00005) would over- or under-draw `total` — largest-remainder
    * only conserves slots when the per-stratum quotients sum to ~total.
    * That inconsistency fails LOUDLY here (conservation guard below)
    * instead of silently misallocating: pass weights that sum to a
    * 4-dp-exact value (e.g. 0.3333/0.3333/0.3334 for thirds). When the
    * function returns, the quotas sum to exactly `total`. */
  def apportion(weights: Seq[(String, Double)], total: Int): Seq[(String, Int)] = {
    require(total >= 0, s"total must be >= 0, got $total")
    require(weights.nonEmpty, "need at least one stratum weight")
    require(weights.forall(_._2 > 0), s"weights must be positive: $weights")
    require(weights.map(_._1).distinct.size == weights.size,
      s"duplicate stratum in $weights")
    val sw = weights.map(w => BigDecimal(w._2).setScale(4,
      BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    require(sw > 0,
      s"weights round to a zero normalizer at 4 decimal places: $weights")
    val q = weights.map { case (k, w) => (k, total * w / sw) }
    val floors = q.map { case (k, x) => (k, math.floor(x).toInt) }
    val extra = total - floors.map(_._2).sum
    // conservation guard: with a consistent normalizer the floors leave
    // 0..(strata-1) slots to distribute (the classic Hamilton bound,
    // plus at most one slot of float slack); anything outside means the
    // rounded normalizer disagrees with the true weight sum and EVERY
    // stratum's quotient is biased — refuse rather than misallocate
    require(extra >= 0 && extra <= weights.size,
      s"apportionment imbalance (extra=$extra for ${weights.size} " +
        s"strata): the weight sum is not 4-dp-exact — renormalize " +
        s"the weights (e.g. thirds -> 0.3333/0.3333/0.3334): $weights")
    val bump = q.map { case (k, x) => (k, x - math.floor(x)) }
      .sortBy { case (k, rem) => (-rem, k) }
      .take(extra).map(_._1).toSet
    floors.map { case (k, f) => (k, f + (if (bump(k)) 1 else 0)) }
  }

  /** Per-stratum exact-N smallest-hash sampling with a DIFFERENT quota
    * per stratum — the domain-mixture draw ([[apportion]] turns target
    * proportions into the quota map). One bounded aggregation at the
    * LARGEST quota (the two-phase pair discipline unchanged), then each
    * stratum keeps its own rank prefix via a broadcast quota table —
    * per-stratum k inside the shared aggregator would buy nothing, the
    * buffer bound is already max(n). Strata absent from `quotas` are
    * excluded (inner join); a stratum with fewer rows than its quota
    * contributes everything it has. */
  def smallestHashSampleQuotas(df: DataFrame, stratum: Column, id: Column,
                               quotas: Seq[(String, Int)]): DataFrame = {
    require(quotas.nonEmpty, "need at least one quota")
    require(quotas.forall(_._2 >= 0), s"quotas must be >= 0: $quotas")
    val maxN = quotas.map(_._2).max
    require(maxN > 0, s"at least one quota must be positive: $quotas")
    val spark = df.sparkSession
    import spark.implicits._
    val qdf = quotas.toDF("__q_s", "__q_n")
    smallestHashSampleTwoPhase(df, stratum, id, maxN)
      .join(broadcast(qdf), stratum === col("__q_s"))
      .where(col("sample_rank") <= col("__q_n"))
      .drop("__q_s", "__q_n")
  }

  /** The guarded working columns shared by [[tokenBudgetSample]] and
    * [[tokenBudgetSampleByStratum]]: monotone priority bucket, positive
    * token count, the priority itself — with the loud guards riding
    * INSIDE columns phase 1 aggregates, so they fire on every row at
    * call time regardless of downstream pruning. */
  private def tokenBudgetBase(df: DataFrame, id: Column, priority: Column,
                              tokens: Column, buckets: Int): DataFrame = {
    val p = priority.cast("double")
    val pGuarded = when(p.isNull || isnan(p) || p < 0.0 || p > 1.0,
      raise_error(concat(
        lit("tokenBudgetSample: priority must be in [0, 1], got "),
        coalesce(p.cast("string"), lit("NULL")),
        lit(" for id "), id.cast("string"))).cast("double"))
      .otherwise(p)
    val tok = when(tokens.cast("long") > 0, tokens.cast("long"))
      .otherwise(raise_error(concat(
        lit("tokenBudgetSample: non-positive, NULL, or NaN token count "),
        lit("for id "), id.cast("string"))).cast("long"))
    df.withColumn("__tb_b",
        least(floor(pGuarded * buckets), lit(buckets - 1L)).cast("long"))
      .withColumn("__tb_tok", tok)
      .withColumn("__tb_p", pGuarded)
  }

  /** Priority-ordered TOKEN-BUDGET selection: walk the corpus in
    * descending `priority` order (ties broken on ascending id) and keep
    * every document whose strictly-preceding cumulative token count is
    * still `< budget` — so the selection is an exact, deterministic
    * function of (priority, id, tokens), the boundary document that
    * crosses the budget is kept, and re-runs reproduce it bit-for-bit.
    * This is the draw a pre-training mix actually wants ("the best B
    * tokens", not "the best N documents" — document counts don't bound
    * training cost, token counts do).
    *
    * Scale shape — the naive form is a single global-order window, i.e.
    * ONE partition holding the whole corpus. Two-phase instead:
    * phase 1 aggregates token totals per coarse priority bucket
    * (`buckets` rows reach the driver — the bounded-table idiom), the
    * driver prefix-sums them highest-bucket-first to locate the single
    * BOUNDARY bucket where the cumulative crosses the budget; phase 2
    * keeps every row above the boundary with a PURE FILTER (rides the
    * scan, no shuffle) and pays the exact ordered window only inside
    * the boundary bucket — 1/buckets of the corpus in expectation.
    * Priorities must lie in [0, 1] (the bucket map `floor(p·buckets)`
    * must be monotone; out-of-range, NULL, or NaN fails loudly naming
    * the id) and token counts must be positive (a non-positive count
    * would make the cumulative non-monotone). Both guards ride inside
    * columns phase 1 aggregates, so they fire on every row at call
    * time regardless of downstream pruning.
    *
    * The input lineage is deliberately NOT pinned: phase 1 and the two
    * phase-2 branches each re-execute it. At scale the input is a
    * staged table whose column-pruned, filter-pushed re-scan is far
    * cheaper than materializing the corpus (pinning here would BE a
    * corpus copy — the opposite of the hammingBandedPairs case, where
    * the pinned table is small and its lineage expensive). The
    * corollary, as everywhere in this module: `df` must be
    * rerun-deterministic, or the phase-1 boundary and the phase-2 rows
    * could disagree. Callers with an expensive non-staged upstream
    * should pin it themselves (`graft.core.Pins.pin`, the
    * pipeline_curate stage-boundary idiom). */
  def tokenBudgetSample(df: DataFrame, id: Column, priority: Column,
                        tokens: Column, budget: Long,
                        buckets: Int = 1024): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val base = tokenBudgetBase(df, id, priority, tokens, buckets)
    // phase 1: bounded per-bucket totals — at most `buckets` rows cross
    // the exchange and reach the driver, whatever the corpus size
    val totals = base.groupBy(col("__tb_b"))
      .agg(sum(col("__tb_tok")).as("__tb_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (boundary, remaining) = findBoundary(totals, budget)
    val kept =
      if (boundary == Long.MinValue) base // whole corpus fits
      else {
        val upper = base.where(col("__tb_b") > boundary)
        val w = Window.partitionBy(col("__tb_b"))
          .orderBy(col("__tb_p").desc, id.asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val edge = base.where(col("__tb_b") === boundary)
          .withColumn("__tb_before",
            coalesce(sum(col("__tb_tok")).over(w), lit(0L)))
          .where(col("__tb_before") < remaining)
          .drop("__tb_before")
        upper.unionByName(edge)
      }
    kept.drop("__tb_b", "__tb_tok", "__tb_p")
  }

  /** Walk (bucket, tokenTotal) pairs highest-bucket-first and locate the
    * bucket where the cumulative crosses `budget`. Returns (boundary,
    * remaining-within-boundary); boundary = Long.MinValue when the whole
    * set fits (every real bucket compares > MinValue, so the "fits"
    * case needs no special-casing at the filter). */
  private def findBoundary(totals: Seq[(Long, Long)],
                           budget: Long): (Long, Long) = {
    var above = 0L
    for ((b, t) <- totals.sortBy(-_._1)) {
      if (above + t >= budget) return (b, budget - above)
      above += t
    }
    (Long.MinValue, 0L)
  }

  /** [[tokenBudgetSample]] with a DIFFERENT token budget per stratum —
    * the token-denominated mixture draw ([[apportion]] over a total
    * token budget turns target proportions into the per-domain budget
    * map; training mixes are specified in tokens, not document counts).
    * Same two-phase shape, stratified: phase 1 aggregates per-(stratum,
    * bucket) totals (|strata|·buckets rows to the driver — still
    * bounded), the driver finds each stratum's boundary bucket, and
    * phase 2 joins the small broadcast boundary table so rows above
    * their OWN stratum's boundary pass as a pure filter while only each
    * stratum's boundary bucket pays the exact window (partitioned by
    * stratum — no global order ever forms). Strata absent from
    * `budgets` are excluded, as in [[smallestHashSampleQuotas]]; a NULL
    * stratum is likewise excluded (it can carry no budget).
    *
    * Guard scope, narrower than [[tokenBudgetSample]]'s: the stratum
    * filter is pushed BELOW the guard projections by Catalyst, so the
    * priority/token validity guards fire only on rows of BUDGETED
    * strata — an invalid priority or non-positive token count in an
    * excluded stratum passes silently (those rows contribute nothing to
    * any boundary or output, so nothing they carry can corrupt the
    * draw; validate the whole corpus with the unstratified form if
    * whole-input validation is the point). */
  def tokenBudgetSampleByStratum(df: DataFrame, stratum: Column, id: Column,
                                 priority: Column, tokens: Column,
                                 budgets: Seq[(String, Long)],
                                 buckets: Int = 1024): DataFrame = {
    require(budgets.nonEmpty, "need at least one stratum budget")
    require(budgets.forall(_._2 > 0), s"budgets must be positive: $budgets")
    require(budgets.map(_._1).distinct.size == budgets.size,
      s"duplicate stratum in $budgets")
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val budgetMap = budgets.toMap
    val base = tokenBudgetBase(df, id, priority, tokens, buckets)
      .withColumn("__tb_s", stratum.cast("string"))
      .where(col("__tb_s").isin(budgets.map(_._1): _*))
    val totals = base.groupBy(col("__tb_s"), col("__tb_b"))
      .agg(sum(col("__tb_tok")).as("__tb_t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bounds = totals.groupBy(_._1).toSeq.map { case (s, rows) =>
      val (b, rem) = findBoundary(rows.map(r => (r._2, r._3)).toSeq,
        budgetMap(s))
      (s, b, rem)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val joined = base.join(broadcast(bounds.toDF("__bd_s", "__bd_b",
      "__bd_r")), col("__tb_s") === col("__bd_s"))
    val upper = joined.where(col("__tb_b") > col("__bd_b"))
    val w = Window.partitionBy(col("__tb_s"))
      .orderBy(col("__tb_p").desc, id.asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val edge = joined.where(col("__tb_b") === col("__bd_b"))
      .withColumn("__tb_before",
        coalesce(sum(col("__tb_tok")).over(w), lit(0L)))
      .where(col("__tb_before") < col("__bd_r"))
      .drop("__tb_before")
    upper.unionByName(edge)
      .drop("__tb_b", "__tb_tok", "__tb_p", "__tb_s",
        "__bd_s", "__bd_b", "__bd_r")
  }

  /** Temperature-scaled mixture quotas (the multilingual-LM sampling
    * standard — mBERT/XLM-R's exponentiated-count smoothing, Conneau &
    * Lample 2019 §3.1): stratum weights proportional to `count^alpha`,
    * turned into integer quotas by [[apportion]]. `alpha = 1` reproduces
    * the corpus proportions, `alpha = 0` is uniform, and the usual
    * 0.2–0.7 range up-samples low-resource strata without letting the
    * head stratum drown them.
    *
    * One bounded aggregation (a single count per stratum — the
    * bounded-table collect idiom; strata cardinality is a mixture's
    * design parameter, never data-sized), driver-side weight arithmetic,
    * no data movement. Weights are rounded to 4 dp BEFORE apportionment
    * so the [[apportion]] normalizer is exact by construction (its
    * conservation guard cannot fire) and an external replay of
    * `round(pow(n, alpha), 4)` agrees: pow is within 1 ulp across
    * conforming libms, which a 4-dp rounding only exposes if the true
    * value sits within that ulp of a .00005 boundary — for integer
    * counts and the usual alphas that is the measure-zero corner, and
    * integral results (alpha 0, 1, or 0.5 on perfect squares) are exact
    * in every engine. Returns the per-stratum quotas, quota sum ==
    * `total`; feed [[smallestHashSampleQuotas]] for the draw. */
  def temperatureQuotas(df: DataFrame, stratum: Column, alpha: Double,
                        total: Int): Seq[(String, Int)] = {
    require(alpha >= 0.0 && alpha <= 1.0,
      s"alpha must be in [0, 1], got $alpha")
    val counts = df.groupBy(stratum.cast("string").as("__tq_s"))
      .agg(count(lit(1)).as("__tq_n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(counts.forall(_._1 != null),
      "NULL stratum value: a row's stratum column is NULL — filter or " +
        "coalesce it before computing temperature quotas")
    val sorted = counts.sortBy(_._1)
    require(sorted.nonEmpty, "no strata: input is empty")
    val weights = sorted.toSeq.map { case (s, n) =>
      (s, BigDecimal(math.pow(n.toDouble, alpha))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    apportion(weights, total)
  }
}
