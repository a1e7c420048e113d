package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming TOKEN-BUDGET admission — the online twin of
  * [[graft.ops.Sampling.tokenBudgetSampleByStratum]]: documents stream
  * in, each stratum holds a fixed token budget, and a document is
  * ADMITTED iff its stratum's running admitted-token total is still
  * strictly under budget when it arrives (so, like the batch walk, the
  * boundary document that crosses the budget is kept and everything
  * after is rejected). The batch form ranks by priority — "the best B
  * tokens"; a stream cannot rank what has not arrived, so the online
  * rule is arrival-order prefix admission — "the FIRST B tokens" —
  * which is the deployment semantics of a budget-capped ingest (stop
  * pulling a source once its quota fills). The two coincide exactly
  * when arrival order IS priority order (the spec pins this parity).
  *
  * Determinism: within a micro-batch, arrival order of a stratum's
  * rows is partition-dependent, so the operator imposes its OWN
  * deterministic order — ascending `order_id` (the caller's arrival
  * sequence: a file offset, an event time, a monotonic id) — before
  * the budget walk. Replays of the same batch therefore admit the
  * same set whatever the shuffle layout (the DeterminismSpec rule
  * applied to streaming state).
  *
  * State per BUDGETED stratum: ONE long (admitted tokens so far) —
  * the smallest possible admission state. Strata WITHOUT a configured
  * budget store nothing (they can never admit, so there is nothing to
  * carry), which is what makes total state bounded by |budgets| —
  * i.e. by configuration — rather than by the distinct (possibly
  * garbage, data-derived) stratum values the stream happens to emit.
  *
  * Output (Update mode): one row per input document —
  * (stratum, order_id, tokens, admitted, admitted_tokens_after,
  * reason) — so the caller both filters admissions and watches each
  * quota fill; `reason` distinguishes "admitted" / "no_budget"
  * (unknown or NULL stratum — it can carry no budget) /
  * "invalid_row" (NULL order_id or NULL/non-positive tokens — a
  * poisoned row must flow through observably, never crash the
  * stream) / "budget_exhausted".
  */
object StreamingBudget {

  case class Doc(stratum: String, order_id: Long, tokens: Long,
                 valid: Boolean)

  case class Decision(stratum: String, order_id: Long, tokens: Long,
                      admitted: Boolean, admitted_tokens_after: Long,
                      reason: String)

  /** The per-stratum state-update walk, factored out for the spec.
    * Docs are walked in ascending order_id; ties break on tokens then
    * the tuple itself for total determinism.
    *
    * State discipline: a stratum WITHOUT a configured budget never
    * admits, so it needs no running total — `state.update` is skipped
    * for it. Without the skip, every distinct (possibly garbage,
    * data-derived) stratum value ever seen would pin a GroupState
    * entry forever under NoTimeout, and the "state bounded by the
    * budget map" claim would be false on exactly the corpora that
    * need it (unbounded junk strata). With it, live state is at most
    * |budgets| longs — bounded by CONFIGURATION, not by data. */
  private[streaming] def update(budgets: Map[String, Long])(
      stratum: String, rows: Iterator[Doc],
      state: GroupState[Long]): Iterator[Decision] = {
    val budget = budgets.get(Option(stratum).getOrElse(NullStratumKey))
    val (out, admitted) =
      walk(budget, state.getOption.getOrElse(0L), stratum, rows.toSeq)
    if (budget.nonEmpty) state.update(admitted)
    out.iterator
  }

  /** ONE document's admission decision — THE rule implementation, the
    * single place both state transports and both walk shapes evaluate:
    * given the stratum's budget and its running admitted-token total,
    * returns the decision row and the total after it. The sentinel
    * stratum surfaces as NULL in decisions — transport only. */
  private[streaming] def decide(budget: Option[Long], admitted: Long,
                                stratum: String,
                                d: Doc): (Decision, Long) = {
    val outStratum = if (stratum == NullStratumKey) null else stratum
    val reason =
      if (!d.valid || d.tokens <= 0) "invalid_row"
      else if (budget.isEmpty) "no_budget"
      else if (admitted < budget.get) "admitted"
      else "budget_exhausted"
    val admit = reason == "admitted"
    val after = if (admit) admitted + d.tokens else admitted
    (Decision(outStratum, d.order_id, d.tokens, admit, after, reason),
      after)
  }

  /** The PURE admission walk — [[decide]] folded over one stratum's
    * rows, SORTING them first: [[update]] drives it from GroupState
    * (micro-batch groups, bounded by the trigger). The batch transport
    * ([[StreamingCuration]]'s parquet carry) instead pre-sorts with
    * the engine (`sortWithinPartitions`) and folds [[decide]] over the
    * partition iterator — same decisions, no per-group
    * materialization. `carried` is the stratum's admitted-token total
    * BEFORE this batch; returns the decisions and the total AFTER. */
  private[streaming] def walk(budget: Option[Long], carried: Long,
                              stratum: String,
                              rows: Seq[Doc]): (Seq[Decision], Long) = {
    var admitted = carried
    val out = rows.sortBy(d => (d.order_id, d.tokens)).map { d =>
      val (dec, after) = decide(budget, admitted, stratum, d)
      admitted = after
      dec
    }
    (out, admitted)
  }

  /** Group key NULL strata ride on. Rejected as a budget key in
    * [[admit]] (alongside the empty string it would otherwise collide
    * with after the string cast), so a NULL stratum can NEVER match a
    * configured budget — the documented "NULL stratum carries no
    * budget" contract holds even for a caller who budgets "". */
  private[streaming] val NullStratumKey = "\u0000__null_stratum__"

  /** Wire the admission walk onto a streaming document frame.
    * `budgets` must be non-empty with positive budgets (the batch
    * form's contract). NULL order_id / NULL or non-positive tokens /
    * NULL stratum are rejected observably with a `reason` (the batch
    * form guards them loudly; a stream must not crash on one poisoned
    * row — reject-and-flow is the streaming convention). A
    * null-order_id row sorts at Long.MinValue in the walk but can
    * never be admitted, so it cannot displace a valid row's budget. */
  def admit(stream: DataFrame, stratum: org.apache.spark.sql.Column,
            orderId: org.apache.spark.sql.Column,
            tokens: org.apache.spark.sql.Column,
            budgets: Seq[(String, Long)]): Dataset[Decision] = {
    require(budgets.nonEmpty, "need at least one stratum budget")
    require(budgets.forall(_._2 > 0), s"budgets must be positive: $budgets")
    require(budgets.map(_._1).distinct.size == budgets.size,
      s"duplicate stratum in $budgets")
    require(budgets.forall(b => b._1 != null && b._1 != NullStratumKey),
      "null is not a budgetable stratum (NULL strata carry no budget)")
    val spark = stream.sparkSession
    import spark.implicits._
    val oid = orderId.cast("long")
    val tok = tokens.cast("long")
    stream
      .select(
        coalesce(stratum.cast("string"), lit(NullStratumKey)).as("stratum"),
        coalesce(oid, lit(Long.MinValue)).as("order_id"),
        coalesce(tok, lit(0L)).as("tokens"),
        (oid.isNotNull && tok.isNotNull).as("valid"))
      .as[Doc]
      .groupByKey(_.stratum)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(update(budgets.toMap))
  }
}
