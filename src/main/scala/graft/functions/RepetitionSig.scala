package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Repetition-quality features as ONE row-local expression — the scale
  * path for the Gopher/C4 repetition filters, promoted from the
  * interpreted higher-order-function form on round-8 measurements
  * (SCALE_r08: the HOF form costs 740–1113 ns/token — 16× the
  * CodegenFallback fingerprint family at ~60–70 ns/token — and was the
  * hottest text operator by far; this expression replaces the per-row
  * array sort + three array_distinct passes with one hash-counting
  * loop, O(tokens) instead of O(tokens log tokens)).
  *
  * Semantics are BIT-IDENTICAL to the HOF form
  * ([[graft.ops.TextMetrics.repetitionFeaturesHof]], retained as the
  * in-repo oracle and spec-pinned):
  *  - tokens = literal single-space split keeping empties (the
  *    [[graft.ops.TextMetrics.tokens]] contract — NOT the lowercased
  *    `\s+` split the shingle family uses);
  *  - dup_token_frac  = round(1 - distinct/total, 6)
  *  - dup_ngram_frac  = round(1 - distinctGrams/nGrams, 6), 0.0 when
  *    the doc is shorter than one n-gram;
  *  - top_token_frac  = round(maxCount/total, 6)
  *  - a NULL document yields (null, 0.0, null) — what the HOF's
  *    null-propagating arithmetic produces (its ngram `otherwise(0.0)`
  *    branch fires on the null comparison) — not a null struct.
  * Rounding is Spark's `round` (BigDecimal HALF_UP), so results agree
  * to the last bit with both the HOF form and the DuckDB oracle. */
case class RepetitionSig(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = StructType(Seq(
    StructField("dup_token_frac", DoubleType, nullable = true),
    StructField("dup_ngram_frac", DoubleType, nullable = true),
    StructField("top_token_frac", DoubleType, nullable = true)))
  override def nullable: Boolean = false
  override def prettyName: String = "repetition_sig"
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string column")

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    // a NULL document propagates null through the token arithmetic but
    // the ngram branch's `otherwise(0.0)` still fires (null > 0 is
    // null): (null, 0.0, null), exactly as the HOF form computes it
    if (v == null) return InternalRow(null, 0.0, null)
    val toks = v.asInstanceOf[UTF8String].toString.split(" ", -1)
    val total = toks.length
    val counts = new java.util.HashMap[String, Integer]()
    var top = 0
    var i = 0
    while (i < total) {
      val c: Int = counts.merge(toks(i), Integer.valueOf(1),
        (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
      if (c > top) top = c
      i += 1
    }
    val dupTok = round6(1.0 - counts.size.toDouble / total)
    val nGrams = total - n + 1
    val dupGram = if (nGrams <= 0) 0.0 else {
      val grams = new java.util.HashSet[String]()
      val sb = new java.lang.StringBuilder
      i = 0
      while (i + n <= total) {
        sb.setLength(0)
        var j = i
        while (j < i + n) {
          if (j > i) sb.append(' ')
          sb.append(toks(j))
          j += 1
        }
        grams.add(sb.toString)
        i += 1
      }
      round6(1.0 - grams.size.toDouble / nGrams)
    }
    InternalRow(dupTok, dupGram, round6(top.toDouble / total))
  }

  override protected def withNewChildInternal(c: Expression): RepetitionSig =
    copy(child = c)
}
