package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Distributed byte-pair-encoding tokenizer TRAINING (Sennrich et al.
  * 2016, arXiv:1508.07909 — the subword-nmt recipe): learn a merge
  * table by repeatedly counting adjacent symbol pairs over the corpus
  * vocabulary and merging the most frequent pair, lowest-pair
  * tie-break. The artifact the repo's tokenizer-planning rows
  * (`vocab_coverage`, `token_fertility`) evaluate but could not
  * previously produce.
  *
  * Scale shape (the whole point): BPE training NEVER iterates over the
  * corpus — it iterates over the WORD-FREQUENCY table, which is
  * vocabulary-sized (bounded: natural-language vocabularies grow
  * ~O(corpus^0.5), Heaps' law; worst case it is capped upstream). The
  * corpus is scanned EXACTLY ONCE (token explode → groupBy(word)); each
  * of the N merge iterations is then (a) one bounded groupBy over the
  * word table's adjacent-pair explosion, (b) a 1-row collect of the
  * argmax pair (the collect-route idiom — quantile boundaries and
  * k-means centroids ride the same way), and (c) a row-local fold
  * rewriting each word's symbol array. At 100 TB the corpus scan is
  * the cost; the iterations are noise.
  *
  * Merge-application semantics (pinned, cross-engine): ONE pair type
  * (l, r) is applied per iteration, greedy left-to-right
  * non-overlapping — walking the symbol sequence, (s_i, s_{i+1})
  * merges iff it equals (l, r) and s_i was not consumed by the
  * previous merge. This is subword-nmt's regex-substitution semantics.
  * Greedy needs no lookbehind flag in the fold: a just-merged symbol
  * is the string l+r, which can never equal l (r is non-empty), so
  * "last output element == l" already implies it was not merged this
  * round. The DuckDB oracle replays the same semantics positionally
  * (matched positions → runs of consecutive matches → keep even
  * offsets within each run; runs longer than 1 only arise for l == r,
  * where greedy keeps offsets 0, 2, 4, …).
  *
  * Determinism: all arithmetic is INTEGER (pair counts are sums of
  * word frequencies — no floats anywhere); the argmax tie-breaks on
  * (l, r) ascending, binary string order in both engines.
  */
object Bpe {

  /** One learned merge: at `step`, (lhs, rhs) was the most frequent
    * adjacent pair, occurring `pair_count` times (weighted by word
    * frequency, counting overlapping occurrences like subword-nmt). */
  case class Merge(step: Int, lhs: String, rhs: String, pair_count: Long)

  /** The vocabulary table the iterations run on: (word, freq, syms)
    * with syms the word split into single characters. One corpus scan;
    * empty tokens (consecutive separators) are dropped on both the
    * Spark and oracle sides identically. */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextMetrics.tokens(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** Adjacent symbol pairs of one symbol array as (l, r) structs —
    * row-local, the bigram slice-zip with overlapping counting (a run
    * of three identical symbols contributes TWO pairs, the subword-nmt
    * count). */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** Apply ONE merge (l, r) to a symbol array, greedy left-to-right —
    * the flag-free fold (see object doc for why no lookbehind state is
    * needed). try_element_at keeps the empty-accumulator probe null
    * (never an ANSI index error). */
  def applyMerge(syms: Column, l: String, r: String): Column =
    applyMerges(syms, Seq((l, r)))

  /** Apply a MUTUALLY-DISJOINT set of merges in ONE greedy
    * left-to-right fold pass — the batched-round rewrite.
    * Disjointness is [[selectRoundPairs]]' invariant (no member or
    * concatenation shared between pairs), which is what keeps the
    * single pass deterministic and the flag-free argument intact:
    *  - at any position, AT MOST ONE pair can match (the (left, right)
    *    string pair determines the rule);
    *  - a just-merged output symbol is some l+r, and no pair's left
    *    member equals any selected pair's concatenation, so "last
    *    output element == l" still implies it was not minted by a
    *    merge this pass — no lookbehind flag, no cascade where one
    *    pair's output feeds another pair in the same pass;
    *  - runs of consecutive matched positions still only arise for a
    *    single l == r pair (two adjacent matches from DIFFERENT pairs
    *    would force A.r == B.l, a shared member), so the oracle's
    *    keep-every-other-match replay carries over unchanged. */
  def applyMerges(syms: Column, pairs: Seq[(String, String)]): Column = {
    require(pairs.nonEmpty, "applyMerges: empty pair set")
    // the single-pass proof RESTS on this invariant — an unguarded
    // conflicting pair set (hand-built or reordered by a caller) would
    // silently produce order-dependent merges, so misuse fails loudly
    // like every other pinned precondition in the repo. Hash-set
    // membership, O(|pairs|) driver-side: two pairs conflict iff they
    // share a STRING among {l, r, l+r}, so one element→first-owner map
    // catches every pairwise intersection the old quadratic scan did —
    // linear keeps deep-merge batches (N≥256) off a driver wall.
    // Within ONE pair l == r is legal (an "aa" run rule), so only a
    // DIFFERENT prior owner trips the guard.
    val owner = scala.collection.mutable.HashMap.empty[String, Int]
    for (i <- pairs.indices) {
      val (l, r) = pairs(i)
      Seq(l, r, l + r).foreach { s =>
        owner.get(s) match {
          case Some(j) if j != i =>
            require(requirement = false,
              s"applyMerges: pairs ${pairs(j)} and ${pairs(i)} share a " +
                s"member or concatenation ($s) — a single pass over a " +
                "conflicting set is order-dependent")
          case _ => owner(s) = i
        }
      }
    }
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => {
        val last = try_element_at(acc, lit(-1))
        pairs.foldRight(concat(acc, array(s)): Column) {
          case ((l, r), els) =>
            when(last === lit(l) && s === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(lit(l + r)))).otherwise(els)
        }
      })
  }

  /** The per-round adjacent-pair count table over a word table —
    * (l, r, cnt), pair-vocabulary-sized, all-integer. */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  /** Learn `merges` BPE merge steps over the corpus. Stops early when
    * no adjacent pair remains (every word fully merged). Returns the
    * learned merge list (bounded: ≤ merges rows — driver-side by
    * design, it IS the tokenizer artifact) plus the final word table
    * (word, freq, syms) for fertility measurement.
    *
    * Merge-count envelope: each iteration is one Spark job plus a
    * vocabulary-sized checkpoint (superseded checkpoints released
    * explicitly — storage is bounded at two vocabulary-sized tables,
    * not O(merges)), so the per-merge cost is scheduler latency, not
    * data. That prices this loop for hundreds-to-low-thousands of
    * merges per call; a full 30k-merge production vocabulary runs
    * [[trainBatched]] (top-N disjoint merges per round — subword-nmt's
    * own fast path). The two learn DIFFERENT tables in general — this
    * one-pair-per-round form is the canonical semantics the
    * `bpe_train` oracle pins; the batched form carries its own oracle
    * row. */
  def train(df: DataFrame, textCol: String,
            merges: Int): (Seq[Merge], DataFrame) = {
    require(merges > 0, s"need merges > 0, got $merges")
    // each iteration's input is pinned: the pair count and the rewrite
    // both read it, and unpinned the whole lineage (corpus scan
    // included) would re-execute once per iteration. Each superseded
    // pin is released at once: a tight hundreds-of-merges loop would
    // otherwise accumulate vocabulary-sized tables in executor storage
    var words = Pins.pin(wordTable(df, textCol))
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    // NOTE (measured, 2026-08-19): folding each round's checkpoint
    // materialization into the NEXT round's argmax action (lazy ckpt +
    // the pair aggregation as the materializing job — the
    // Pins.pinWith lever) was tried and REVERTED: despite 30 -> 24
    // scheduler actions it measured consistently SLOWER on the 8-merge
    // row (interleaved worktree pairs, warm mins: 1.25/1.36/1.54 old
    // vs 1.44/1.50/1.74 new, still slower after exempting the final
    // budgeted round's wasted argmax) — the fused
    // rewrite+store+explode+agg pipeline beats the critical path of
    // two separate jobs only on scheduling latency, and loses more
    // than that inside the combined tasks. Two actions per round
    // stays.
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val best = pairCounts(words)
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += Merge(step, l, r, cnt)
        val next = Pins.pin(
          words.withColumn("syms", applyMerge(col("syms"), l, r)))
        Pins.release(words)
        words = next
        step += 1
      }
    }
    (out.toSeq, words)
  }

  /** One merge learned by [[trainBatched]]: global `step` (the id/
    * priority order), the `round_no` it was selected in, and
    * `pair_count` — the pair's frequency in the word table AS OF THE
    * START OF ITS ROUND (batched counts are per-round snapshots; a
    * same-round earlier merge cannot have changed them because the
    * selected pairs share no symbols). */
  case class BatchedMerge(step: Int, round_no: Int, lhs: String,
                          rhs: String, pair_count: Long)

  /** Greedy top-`n` MUTUALLY-DISJOINT pairs of one round, walking the
    * (cnt DESC, l, r) ranking: a pair is selected iff none of
    * {l, r, l+r} was already used by a higher-ranked selected pair,
    * where "used" accumulates the members AND the concatenation of
    * every selected pair. Members must be disjoint so the single-pass
    * fold is deterministic (at most one rule matches per position, no
    * run ambiguity); concatenations must stay out of the member set —
    * in BOTH directions — so no pair's output can feed another pair in
    * the same pass (a symbol like "abbc" minted earlier via ("a","bbc")
    * can coexist with a live pair ("ab","bc") whose concat collides
    * with it: selecting both would make the fold's output depend on
    * application order).
    *
    * Execution shape: ONE top-(8n) prefix collect (bounded — pairs
    * carry two symbols and a count) off the UNPINNED plan (the common
    * case pays exactly what sequential train's argmax job paid — no
    * materialization), walked greedily on the driver; the greedy walk
    * over a rank prefix equals pick-by-pick filtered argmax as long as
    * it completes inside the prefix (every argmax is the
    * highest-ranked non-conflicting candidate, which the walk visits
    * in rank order). Only when n picks cannot be filled from the
    * prefix AND the table may extend past it does it fall back to
    * per-pick filtered argmax jobs — the pair table is pinned ONCE at
    * fallback entry (multiple argmax consumers) and released on exit.
    * Exact either way, never an arbitrary candidate cap. Returns ≤ n
    * (lhs, rhs, cnt) triples in selection order; fewer than n means
    * every remaining pair conflicted or the table ran out. */
  def selectRoundPairs(pc: DataFrame,
                       n: Int): Seq[(String, String, Long)] = {
    require(n > 0, s"need n > 0, got $n")
    val ranked = pc.orderBy(col("cnt").desc, col("l"), col("r"))
    val prefixCap = 8 * n
    val prefix = ranked.limit(prefixCap).collect()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var used = Set.empty[String]
    def tryPick(l: String, r: String, cnt: Long): Unit =
      if (!used.contains(l) && !used.contains(r) &&
          !used.contains(l + r)) {
        out += ((l, r, cnt))
        used = used + l + r + (l + r)
      }
    prefix.iterator.takeWhile(_ => out.size < n).foreach(row =>
      tryPick(row.getString(0), row.getString(1), row.getLong(2)))
    // prefix shorter than the cap == the whole table was walked
    if (out.size < n && prefix.length == prefixCap) {
      val pinned = Pins.pin(pc)
      try {
        var mayHaveMore = true
        while (out.size < n && mayHaveMore) {
          val usedSeq = used.toSeq
          val next = pinned.where(!col("l").isInCollection(usedSeq) &&
              !col("r").isInCollection(usedSeq) &&
              !concat(col("l"), col("r")).isInCollection(usedSeq))
            .orderBy(col("cnt").desc, col("l"), col("r"))
            .limit(1).collect()
          if (next.isEmpty) mayHaveMore = false
          else tryPick(next(0).getString(0), next(0).getString(1),
            next(0).getLong(2))
        }
      } finally Pins.release(pinned)
    }
    out.toSeq
  }

  /** Batched-disjoint BPE training — the production fast path for real
    * 30k–50k-merge vocabularies, where [[train]]'s one-pair-per-round
    * loop prices out on scheduler latency: each round counts adjacent
    * pairs ONCE, selects the top-N mutually-disjoint pairs
    * ([[selectRoundPairs]] — subword-nmt's batched fast path), and
    * applies them all in ONE fold pass ([[applyMerges]]). Iterations
    * collapse from `merges` to ~`merges / batchN` (measured: SCALE_r12)
    * while every per-round cost stays what [[train]]'s was — one
    * bounded pair-count groupBy, one bounded argmax collect, one
    * row-local rewrite of the vocabulary-sized word table.
    *
    * The learned table DIFFERS from [[train]]'s in general (every pair
    * of a round is counted and ranked against the round-START word
    * table; sequential training re-counts after every single merge) —
    * the two coincide exactly when each round's selections cannot
    * affect each other's counts (disjoint pairs in disjoint words, or
    * batchN = 1, which reproduces [[train]] bit-for-bit; BpeSpec pins
    * both). The final round selects min(batchN, merges − done) pairs —
    * a PREFIX of the full-round selection, so an oracle replaying
    * whole rounds and cutting at `merges` steps sees identical rows.
    *
    * Returns the merge list (step = global priority order, round_no =
    * the selection round) plus the final word table. Stops early when
    * no adjacent pair remains. */
  def trainBatched(df: DataFrame, textCol: String, merges: Int,
                   batchN: Int): (Seq[BatchedMerge], DataFrame) = {
    require(merges > 0, s"need merges > 0, got $merges")
    require(batchN > 0, s"need batchN > 0, got $batchN")
    var words = Pins.pin(wordTable(df, textCol))
    val out = scala.collection.mutable.ArrayBuffer.empty[BatchedMerge]
    var round = 1
    var exhausted = false
    while (out.size < merges && !exhausted) {
      // the pair-count plan reads the PINNED word table, so the common
      // case (selection completes inside the prefix collect) pays ONE
      // bounded job per round — exactly sequential train's argmax
      // cost; selectRoundPairs pins the pair table itself only if its
      // multi-job fallback actually fires
      val pc = pairCounts(words)
      val picks = selectRoundPairs(pc, math.min(batchN, merges - out.size))
      if (picks.isEmpty) exhausted = true
      else {
        val base = out.size
        picks.zipWithIndex.foreach { case ((l, r, cnt), i) =>
          out += BatchedMerge(base + i + 1, round, l, r, cnt)
        }
        val next = Pins.pin(words.withColumn("syms",
          applyMerges(col("syms"), picks.map(p => (p._1, p._2)))))
        Pins.release(words)
        words = next
        round += 1
      }
    }
    (out.toSeq, words)
  }

  /** A batched merge list in [[Merge]] shape (step order = the global
    * priority order batched selection assigned) — the adapter that
    * lets a [[trainBatched]] artifact ride the id-numbering path
    * unchanged: [[vocabIdsFromWords]] needs only (step, lhs, rhs), and
    * duplicate-mint/first-introduction semantics carry over verbatim.
    * Do NOT feed the result to [[encodeWords]] — one-pair-at-a-time
    * replay is not equivalent for a batched table (a round's later
    * pair must not see its earlier pairs' outputs); word encoding for
    * batched tables is [[encodeWordsBatched]]. */
  def asMerges(batched: Seq[BatchedMerge]): Seq[Merge] =
    batched.map(b => Merge(b.step, b.lhs, b.rhs, b.pair_count))

  /** [[trainBatched]] as a query-shaped DataFrame: (step, round_no,
    * lhs, rhs, pair_count), ordered by step. */
  def trainBatchedDf(df: DataFrame, textCol: String, merges: Int,
                     batchN: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trainBatched(df, textCol, merges, batchN)._1.toDF()
      .select(col("step"), col("round_no"), col("lhs"), col("rhs"),
        col("pair_count"))
      .orderBy(col("step"))
  }

  /** Encode a word table against a BATCHED merge list: each round's
    * pairs are applied as ONE fold pass, rounds in order — exactly how
    * [[trainBatched]] built its table, so encoding the training
    * corpus's character-split words reproduces the final word table
    * bit-for-bit (the [[encodeWords]] replay property, batched form;
    * applying a batched table one pair at a time in step order is NOT
    * equivalent — a round's later pair must not see its earlier pairs'
    * outputs). Checkpoint-batched every `checkpointEvery` rounds. */
  def encodeWordsBatched(words: DataFrame, merges: Seq[BatchedMerge],
                         checkpointEvery: Int = 32): DataFrame = {
    require(checkpointEvery > 0,
      s"need checkpointEvery > 0, got $checkpointEvery")
    val rounds = merges.groupBy(_.round_no).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.step).map(m => (m.lhs, m.rhs)))
    val enc = rounds.grouped(checkpointEvery).foldLeft(words) {
      (d, grp) =>
        val next = Pins.pin(d.withColumn("syms",
          grp.foldLeft(col("syms"))((c, ps) => applyMerges(c, ps))))
        // release only OUR superseded checkpoints — the caller owns
        // the input table's pins
        if (d ne words) Pins.release(d)
        next
    }
    enc.withColumn("n_sub", size(col("syms")))
  }

  /** [[train]] as a query-shaped DataFrame: (step, lhs, rhs,
    * pair_count), one row per learned merge, ordered by step. */
  def trainDf(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    train(df, textCol, merges)._1.toDF()
      .select(col("step"), col("lhs"), col("rhs"), col("pair_count"))
      .orderBy(col("step"))
  }

  /** Encode a word table against a learned merge list: apply every
    * merge in training order (BPE's inference rule — training order IS
    * application priority under one-pair-per-pass greedy semantics).
    * Chained row-local folds over the vocabulary-sized table; the
    * corpus is never touched. Returns the input with `syms` rewritten
    * and `n_sub` = subtoken count — join documents' tokens against
    * this to measure fertility (mean subtokens per word) with the
    * LEARNED vocabulary instead of `TextMetrics.tokenCountBpe`'s fixed
    * regex heuristic.
    *
    * Feed CHARACTER-SPLIT symbol arrays ([[wordTable]]'s shape): on
    * those, the chained folds replay training exactly, so encoding the
    * training corpus reproduces [[train]]'s final table bit-for-bit
    * (BpeSpec). Do NOT re-encode an already-encoded table expecting a
    * no-op — a later merge can mint a symbol equal to an earlier
    * pair's member, so re-application may merge further.
    *
    * The fold chain is CHECKPOINT-BATCHED every `checkpointEvery`
    * merges: a single expression nesting one `aggregate()` per merge
    * would blow Catalyst analysis/codegen at real vocabulary sizes
    * (tens of thousands of merges); batching bounds expression depth
    * while each batch boundary pins a vocabulary-sized table only. */
  def encodeWords(words: DataFrame, merges: Seq[Merge],
                  checkpointEvery: Int = 32): DataFrame = {
    require(checkpointEvery > 0,
      s"need checkpointEvery > 0, got $checkpointEvery")
    val enc = merges.sortBy(_.step).grouped(checkpointEvery)
      .foldLeft(words) { (d, grp) =>
        val next = Pins.pin(d.withColumn("syms",
          grp.foldLeft(col("syms"))((c, m) => applyMerge(c, m.lhs, m.rhs))))
        // release only OUR superseded batch boundaries — the caller
        // owns the input table's pins
        if (d ne words) Pins.release(d)
        next
      }
    enc.withColumn("n_sub", size(col("syms")))
  }

  /** Token-id table of a learned vocabulary, numbered the way real BPE
    * vocabularies are (subword-nmt/GPT-2): base characters first
    * (sorted), then one id per merge IN TRAINING ORDER — no ranking
    * window anywhere, because the id source is DRIVER-SIZED by
    * construction (the alphabet is bounded, the merge list IS the
    * tokenizer artifact). Two merges can concat to the same string
    * (("ab","c") and ("a","bc") both mint "abc"); the FIRST
    * introduction keeps the id and ids stay dense. Returns
    * (symbol, token_id), broadcast-join it at encode time. */
  def vocabIds(df: DataFrame, textCol: String,
               merges: Seq[Merge]): DataFrame =
    vocabIdsFromWords(wordTable(df, textCol), merges)

  /** [[vocabIds]] from an already-built word table (any shape with a
    * `word` column — [[wordTable]]'s, or [[train]]'s final table) — the
    * staging path: the alphabet is the distinct CHARACTERS of the word
    * strings, so no corpus re-scan is ever needed to number a
    * vocabulary whose word table already exists (BpeStage pays zero
    * extra corpus passes).
    *
    * Base characters sort in UTF-8 BYTE order (unsigned), not Java's
    * UTF-16 code-unit order: byte order is what DuckDB's binary
    * collation and Spark's own UTF8String comparison use, and the two
    * orders diverge on supplementary-plane characters (a surrogate
    * pair's 0xD800 unit sorts below U+E000..U+FFFF while its UTF-8
    * bytes 0xF0.. sort above) — the repo's cross-engine tie-break
    * convention is binary order everywhere. */
  def vocabIdsFromWords(words: DataFrame,
                        merges: Seq[Merge]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val utf8 = Ordering.comparatorToOrdering(
      new java.util.Comparator[String] {
        def compare(a: String, b: String): Int =
          java.util.Arrays.compareUnsigned(
            a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
    val base = words
      .select(explode(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as("s")).distinct()
      .collect().map(_.getString(0)).sorted(utf8)
    val all = (base ++ merges.sortBy(_.step).map(m => m.lhs + m.rhs))
      .distinct
    all.toSeq.zipWithIndex.map { case (sym, i) => (sym, i.toLong) }
      .toDF("symbol", "token_id")
  }

  /** Encode documents to token-id sequences under a learned vocabulary
    * — the pretraining last mile before [[Packing.packSpans]]: one
    * corpus token scan, each word broadcast-joined to its trained
    * symbol split (the vocabulary-sized `words` table — encode NEVER
    * re-runs the merge folds per document; a word's split was fixed at
    * train time), symbols broadcast-joined to [[vocabIds]], and each
    * document's ids assembled row-locally (sort_array over
    * (wpos, spos, id) structs — no per-document window, no shuffle
    * beyond the final groupBy). Returns (idCol, ids: array<long>).
    *
    * A word ABSENT from `words` fails loudly naming it (the
    * containmentOverPairs guard class): an inner join would silently
    * drop OOV words from the training stream — truncated documents
    * shipped as if complete. Cover the corpus (train on it, or extend
    * the vocabulary) before encoding; [[fertility]]'s char-count
    * fallback is for MEASUREMENT, not for shipping ids that do not
    * exist. */
  def encodeDocs(df: DataFrame, idCol: String, textCol: String,
                 words: DataFrame, vocab: DataFrame): DataFrame = {
    val sy = df.select(col(idCol),
        posexplode(TextMetrics.tokens(col(textCol)))
          .as(Seq("__bp_wp", "__bp_w")))
      .where(length(col("__bp_w")) > 0)
      .join(broadcast(words.select(col("word").as("__bp_w"),
        col("syms").as("__bp_sy"))), Seq("__bp_w"), "left")
      .select(col(idCol), col("__bp_wp"),
        when(col("__bp_sy").isNull, raise_error(concat(
          lit("encodeDocs: word absent from the trained vocabulary: "),
          col("__bp_w"))).cast("array<string>"))
          .otherwise(col("__bp_sy")).as("__bp_sy"))
      .select(col(idCol), col("__bp_wp"),
        posexplode(col("__bp_sy")).as(Seq("__bp_sp", "symbol")))
      // LEFT join + loud guard, same rule as the word join above: an
      // inner join would silently drop a symbol absent from a
      // mismatched vocab table (one built over a different corpus than
      // the words table's), shipping ids missing mid-word
      .join(broadcast(vocab), Seq("symbol"), "left")
      .select(col(idCol), col("__bp_wp"), col("__bp_sp"),
        when(col("token_id").isNull, raise_error(concat(
          lit("encodeDocs: symbol absent from the vocab table: "),
          col("symbol"))).cast("long"))
          .otherwise(col("token_id")).as("token_id"))
    val grouped = sy.groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("__bp_wp"), col("__bp_sp"),
          col("token_id")))),
        x => x.getField("token_id")).as("ids"))
    // a token-less document (empty/whitespace text) emits ids = [],
    // never silently vanishes — downstream counts must reconcile
    df.select(col(idCol)).distinct()
      .join(grouped, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("ids"), array().cast("array<long>")).as("ids"))
  }

  /** Corpus fertility under a learned merge table: mean subtokens per
    * token occurrence, the number a tokenizer planner actually sizes
    * budgets with. One corpus token scan LEFT-joined (broadcast — the
    * word table is vocabulary-sized) against the encoded vocabulary;
    * out-of-vocabulary words count their CHARACTER length as pieces
    * (exactly what a char-fallback BPE tokenizer emits for an unseen
    * word) rather than silently vanishing from both numerator and
    * denominator — an inner join would bias fertility low on exactly
    * the held-out corpora with high OOV rates, under-provisioning the
    * planner. `n_oov` surfaces how much of the estimate rode the
    * fallback. */
  def fertility(df: DataFrame, textCol: String,
                encodedWords: DataFrame): DataFrame =
    df.select(explode(TextMetrics.tokens(col(textCol))).as("word"))
      .where(length(col("word")) > 0)
      .join(broadcast(encodedWords.select(col("word"), col("n_sub"))),
        Seq("word"), "left")
      .select(coalesce(col("n_sub"), length(col("word"))).as("__bp_p"),
        col("n_sub").isNull.cast("long").as("__bp_oov"))
      .agg(
        (sum(col("__bp_p").cast("decimal(18,0)")).cast("double") /
          count(lit(1))).as("fertility"),
        count(lit(1)).as("n_tokens"),
        sum(col("__bp_oov")).as("n_oov"))
}
