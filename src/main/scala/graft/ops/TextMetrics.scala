package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Text-analysis column expressions for corpus pipelines: token counting,
  * quality scoring, marker-based language scoring, and document
  * fingerprinting. All pure codegen'd expressions — no UDFs — and each is
  * written with arithmetic that reproduces bit-identically in an external
  * SQL oracle (length/replace arithmetic instead of regex splits, whose
  * edge-case semantics differ between engines).
  */
object TextMetrics {

  /** Occurrences of `needle` in `text` via length arithmetic —
    * (len(text) - len(replace(text, needle, ''))) / len(needle). */
  def occurrences(text: Column, needle: String): Column =
    (length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), ""))) / needle.length

  /** Simple occurrences using literal replace (no regex). */
  def occ(text: Column, needle: String): Column =
    (length(text) - length(replace(text, lit(needle), lit("")))) / needle.length

  /** Whitespace normalization — the documented ingest contract for text
    * whose whitespace is not already single-space separated: collapse
    * every whitespace run to one space and trim the ends. After this,
    * the literal-space `tokens`/`tokenCount` family and the
    * `\s+`-splitting shingle builders tokenize IDENTICALLY (they differ
    * on raw tabs/newlines/doubled spaces), and no empty-string tokens
    * arise. Pure codegen'd projection; `string_trim(regexp_replace(...,
    * '\s+', ' ', 'g'))` replays it in an external SQL engine. */
  def normalizeWs(text: Column): Column =
    trim(regexp_replace(text, graft.core.Ws.Plus, " "))

  /** Whitespace token count: the element count of [[tokens]] — by
    * construction the SAME split whose exploded rows feed the
    * vocabulary/TF-IDF paths, so a count and the tokenization it
    * describes cannot drift on ANY input (on doubled spaces the split
    * keeps empty-string tokens and this count includes them, exactly as
    * the exploded rows do). Numerically equal to spaces+1. Apply
    * [[normalizeWs]] at ingest when the corpus is not single-space
    * normalized. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("double")

  /** BPE-ish subword count estimate: chars / 4 heuristic blended with word
    * count — a cheap, deterministic stand-in for a real tokenizer. */
  def tokenEstimate(text: Column): Column =
    round((length(text) / lit(4.0) + tokenCount(text)) / lit(2.0), 6)

  /** Regex piece pattern for [[tokenCountBpe]]: letter runs split greedily
    * into <=4-char pieces (the BPE-ish subword proxy), digit runs into
    * <=3-char pieces, any other non-whitespace char its own piece. The
    * whitespace class is spelled EXPLICITLY ([[graft.core.Ws]]) — Java's
    * `\s` includes `\x0B` where RE2's does not, so a bare `\s` here
    * would count vertical-tab characters differently across engines. */
  val BpePieceRe =
    s"[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9${graft.core.Ws.Body}]"

  /** Token count under the BPE-ish regex: the number of [[BpePieceRe]]
    * matches. Pure projection (regexp_count is codegen'd). A real
    * tokenizer's vocabulary is data-dependent; this fixed-piece proxy is
    * the deterministic budget estimator a curation pass can rely on
    * cross-engine and cross-run. */
  def tokenCountBpe(text: Column): Column =
    regexp_count(text, lit(BpePieceRe)).cast("long")

  /** Marker-word score for one language: summed occurrences of
    * space-delimited stopwords. */
  def langScore(text: Column, markers: Seq[String]): Column =
    markers.map(m => occ(text, " " + m + " ")).reduce(_ + _)

  /** Argmax language over marker tables; fixed tie-break order = seq order.
    */
  def langId(text: Column, tables: Seq[(String, Seq[String])]): Column = {
    val scores = tables.map { case (lang, ms) => (lang, langScore(text, ms)) }
    scores.tail.foldLeft[(Column, Column)]((lit(scores.head._1), scores.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
         when(score > bestScore, score).otherwise(bestScore))
    }._1
  }

  /** Quality features: mean word length, uppercase ratio, digit ratio,
    * stopword ratio. Returned as a struct column. */
  def qualityFeatures(text: Column, stopwords: Seq[String]): Column = {
    val nchars = length(text).cast("double")
    val words = tokenCount(text).cast("double")
    struct(
      (nchars / words).as("mean_word_len"),
      (langScore(text, stopwords).cast("double") / words).as("stopword_ratio"))
  }

  /** 64-bit rolling content fingerprint (xxhash64 of the text). */
  def fingerprint(text: Column): Column = xxhash64(text)

  /** Unicode NFC canonicalization — run BEFORE hash-based dedup or
    * fingerprinting (composed vs decomposed accents are different bytes
    * to xxhash64/MinHash); see [[graft.functions.NfcNormalize]].
    * Row-local, zero shuffles; DuckDB's `nfc_normalize` replays it. */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    toCol(graft.functions.NfcNormalize(toExpr(text)))
  }

  /** DEFLATE compression ratio (output/input bytes) — the
    * vocabulary-free boilerplate/spam/noise signal; see
    * [[graft.functions.DeflateRatio]] for the determinism contract
    * (rerun-stable, not cross-engine — spec-gated). Row-local, zero
    * shuffles. */
  def compressionRatio(text: Column): Column = {
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    toCol(graft.functions.DeflateRatio(toExpr(text)))
  }

  /** Tokens as an array column: literal single-space split. `split`
    * takes a regex; a lone space is regex-inert, and the same split
    * reproduces in SQL engines' `string_split(text, ' ')`. On
    * non-normalized whitespace (tabs, doubled spaces) this differs from
    * the `\s+` split the shingle builders use — [[normalizeWs]] at
    * ingest makes the two families agree. */
  def tokens(text: Column): Column = split(text, " ")

  /** Smoothed inverse document frequency, ln((N+1)/(df+1)) + 1, ROUNDED
    * to 6 dp so downstream products are cross-engine deterministic (the
    * one `ln` call is the only libm dependence; rounding pins it). */
  def idf(df: Column, nDocs: Column): Column =
    round(log((nDocs + 1).cast("double") / (df + 1)) + 1.0, 6)

  /** BM25's smoothed idf, ln(1 + (N - df + 0.5)/(df + 0.5)) (the
    * Robertson–Spärck Jones form with the +1 that keeps it positive),
    * ROUNDED to 6 dp — the [[idf]] convention: the single libm `ln` is
    * pinned before it enters any product, so the downstream BM25
    * arithmetic (pure IEEE +,*,/ in a fixed association order) replays
    * bit-exactly in an external engine. */
  def idfBm25(df: Column, nDocs: Column): Column =
    round(log(lit(1.0) + (nDocs - df + lit(0.5)) / (df + lit(0.5))), 6)

  /** One BM25 term contribution, k1 = 1.2, b = 0.75 (the Robertson
    * defaults): idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)). The
    * association order is FIXED — an external oracle must replay
    * `idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))`
    * verbatim; every step is then a single correctly-rounded IEEE op on
    * identical inputs, so the score is bit-deterministic cross-engine
    * without any intermediate rounding. */
  def bm25Term(tf: Column, df: Column, nDocs: Column,
               dl: Column, avgdl: Column): Column =
    idfBm25(df, nDocs) * (tf * lit(2.2)) /
      (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / avgdl))

  /** Per-stratum vocabulary coverage: fix the top-`v` corpus vocabulary
    * by total occurrence count (ties broken on the token), then measure
    * per stratum what fraction of token OCCURRENCES fall outside it —
    * the number that tells you whether a vocabulary size starves a
    * language before you train with it. Returns (stratum, total_tokens,
    * oov_tokens, oov_rate). ONE (stratum, token) count exchange feeds
    * BOTH the vocabulary (a second, vocabulary-sized aggregate into a
    * bounded top-`v` TakeOrdered) and the coverage join; the v-row
    * vocab broadcasts back; the rate is one double division of two
    * exact integer counts — bit-deterministic cross-engine. */
  def vocabCoverage(df: org.apache.spark.sql.DataFrame, stratum: Column,
                    text: Column, v: Int): org.apache.spark.sql.DataFrame = {
    require(v >= 1, s"vocabCoverage: v must be >= 1, got $v")
    // materialized stage boundary: lc is VOCABULARY-sized (strata ×
    // distinct tokens), and both consumers (the top-V vocabulary and
    // the coverage join) read it — without the pin, each consumer
    // re-executes the corpus scan + count exchange (ReuseExchange does
    // NOT fire across these subtrees; explain-verified), turning one
    // corpus pass into two
    val lc = Pins.pin(df
      .select(stratum.as("stratum"), explode(tokens(text)).as("token"))
      .groupBy(col("stratum"), col("token"))
      .agg(count(lit(1)).as("c")))
    val vocab = lc.groupBy(col("token")).agg(sum(col("c")).as("tc"))
      .orderBy(col("tc").desc, col("token"))
      .limit(v)
      .select(col("token"), lit(1).as("in_v"))
    lc.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("stratum"))
      .agg(sum(col("c")).as("total_tokens"),
        sum(when(col("in_v").isNull, col("c")).otherwise(lit(0L)))
          .as("oov_tokens"))
      .withColumn("oov_rate",
        col("oov_tokens").cast("double") / col("total_tokens"))
  }

  /** Repetition-based quality features (the Gopher/C4 family of filters):
    * fraction of repeated tokens, fraction of repeated n-grams, and the
    * corpus share of the single most frequent token — the signals that
    * catch boilerplate and degenerate generations in a pre-training
    * corpus. ENTIRELY row-local: zero shuffles, the whole filter rides
    * the scan at 100 TB. Since round 8 this is the native
    * [[graft.functions.RepetitionSig]] expression (one hash-counting
    * pass per row); SCALE_r08's per-token benchmark measured the HOF
    * form at 740–1113 ns/token vs ~60–70 for the expression family, making it
    * the hottest text operator — the same measurement-then-promotion
    * path the MinhashSig family took in round 7. Results are
    * bit-identical to [[repetitionFeaturesHof]], the retained in-repo
    * oracle (RepetitionFormSpec). Ratios are rounded to 6 dp
    * (cross-engine float rule). */
  def repetitionFeatures(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    toCol(graft.functions.RepetitionSig(toExpr(text), n))
  }

  /** The original higher-order-function form of [[repetitionFeatures]] —
    * retained as the in-repo oracle for the native expression (pure
    * Spark builtins, independently re-derivable in SQL). The
    * most-frequent-token count is a sort + longest-equal-run aggregate,
    * O(n log n) per row. */
  def repetitionFeaturesHof(text: Column, n: Int = 3): Column =
    // token array bound once per row (Cols.bound — the interpreted-HOF
    // re-evaluation pitfall); the most-frequent-token count is a sort +
    // single-pass longest-equal-run aggregate, O(n log n) per row
    // instead of O(distinct × n) re-scans
    Cols.bound(tokens(text)) { toks =>
      val nToks = size(toks)
      val grams = filter(
        transform(toks, (_, i) =>
          when(i + n <= nToks, concat_ws(" ", slice(toks, i + 1, lit(n))))),
        _.isNotNull)
      val nGrams = size(grams)
      val runInit = struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"))
      val topCount = aggregate(array_sort(toks), runInit,
        (acc, x) => {
          val run = when(x === acc.getField("prev"),
            acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        _.getField("best"))
      struct(
        round(lit(1.0) -
          size(array_distinct(toks)).cast("double") / nToks, 6)
          .as("dup_token_frac"),
        round(when(nGrams > 0,
            lit(1.0) - size(array_distinct(grams)).cast("double") / nGrams)
          .otherwise(lit(0.0)), 6).as("dup_ngram_frac"),
        round(topCount.cast("double") / nToks, 6).as("top_token_frac"))
    }

  /** Corpus-trained unigram language-model score per document — the
    * CCNet-style quality signal (a real LM scores with perplexity; the
    * unigram model is its deterministic, engine-replayable floor). One
    * pass builds the vocabulary (token → count, map-side combined), a
    * second joins it back onto the exploded tokens and averages
    * ln(count/total) per document. Each ln is rounded to 6 dp BEFORE
    * the per-document mean (the repo's cross-engine float rule) and the
    * mean routes through an exact decimal sum.
    *
    * Scale notes: the vocab join is left to Spark's own strategy — a
    * type-bounded vocabulary (the common case) auto-broadcasts under
    * the threshold, while a tokenizer whose distinct types grow with
    * the corpus (ids, URLs, glued punctuation) falls back to a hash
    * join rather than OOMing the driver through a forced broadcast
    * hint. The corpus token total is collect-routed like the engine's
    * other global scalars, from a count-only scan
    * (size(tokens(text)) per row — the SAME split whose exploded rows
    * build the vocabulary, so the denominator equals the vocab sum BY
    * CONSTRUCTION on any input; still no explode, no shuffle), so the
    * vocabulary aggregation itself runs exactly once, inside the
    * returned plan.
    *
    * Returns (idCol, avg_logprob, n_tokens); empty/all-null corpora
    * yield an empty result rather than a lookup error. */
  def unigramLogprob(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // tokenCount IS size(tokens(...)) — the same split the explode
    // above uses — so this equals sum(vocab.c) by construction,
    // without paying the explode+groupBy a second time
    val totalRow = df
      .agg(sum(tokenCount(col(textCol)).cast("long"))).collect()(0)
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    toks.join(vocab, "tok")
      .select(col(idCol),
        round(log(col("c") / lit(total)), 6).as("lp"))
      .groupBy(col(idCol))
      .agg(
        (sum(col("lp").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("avg_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** [[unigramLogprob]] scored against an EXTERNAL reference corpus:
    * the vocabulary and total come from `ref`, and tokens absent from
    * the reference take the smoothed floor ln(1/(total+1)) instead of
    * dropping out — the cross-corpus half of a DSIR-style importance
    * weight (Xie et al., "Data Selection for Language Models via
    * Importance Resampling": weight ∝ p_target(doc)/p_source(doc); the
    * per-token average of ln p_target comes from here, ln p_source from
    * [[unigramLogprob]]). Same determinism rules: each ln rounded to
    * 6 dp, decimal-exact mean, vocab join left to Spark's strategy,
    * reference total collect-routed from a count-only scan. Returns
    * (idCol, avg_logprob, n_tokens). */
  def unigramLogprobAgainst(df: org.apache.spark.sql.DataFrame,
                            idCol: String, textCol: String,
                            ref: org.apache.spark.sql.DataFrame,
                            refTextCol: String)
      : org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val vocab = ref.select(explode(tokens(col(refTextCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totalRow = ref
      .agg(sum(tokenCount(col(refTextCol)).cast("long"))).collect()(0)
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    toks.join(vocab, Seq("tok"), "left")
      .select(col(idCol),
        when(col("c").isNull,
          round(log(lit(1.0) / (total + 1.0)), 6))
          .otherwise(round(log(col("c") / lit(total)), 6)).as("lp"))
      .groupBy(col(idCol))
      .agg(
        (sum(col("lp").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("avg_logprob"),
        count(lit(1)).as("n_tokens"))
  }

  /** Both halves of the DSIR importance weight in ONE scoring pass:
    * per document, the source-model average ([[unigramLogprob]]'s
    * arithmetic — in-corpus vocabulary, no OOV possible by
    * construction) AND the target-model average
    * ([[unigramLogprobAgainst]]'s, smoothed-floor OOV) come from a
    * single token explode joined against BOTH vocabularies. The
    * separate two-call composition pays the corpus token pass twice
    * (SCALE_r09 §23); this pays it once — at 100 TB the corpus scan
    * IS the cost of DSIR. Every ln rounding, smoothing branch and
    * decimal-mean step is verbatim from the two parent functions, so
    * results are bit-identical to the composition. Returns
    * (idCol, lp_s, lp_t, n_tokens). */
  def unigramLogRatio(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, ref: org.apache.spark.sql.DataFrame,
                      refTextCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val svocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cs"))
    val tvocab = ref.select(explode(tokens(col(refTextCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("ct"))
    val sTotalRow = df
      .agg(sum(tokenCount(col(textCol)).cast("long"))).collect()(0)
    val sTotal = if (sTotalRow.isNullAt(0)) 0L else sTotalRow.getLong(0)
    val tTotalRow = ref
      .agg(sum(tokenCount(col(refTextCol)).cast("long"))).collect()(0)
    val tTotal = if (tTotalRow.isNullAt(0)) 0L else tTotalRow.getLong(0)
    toks
      .join(svocab, "tok")
      .join(tvocab, Seq("tok"), "left")
      .select(col(idCol),
        round(log(col("cs") / lit(sTotal)), 6).as("lps"),
        when(col("ct").isNull,
          round(log(lit(1.0) / (tTotal + 1.0)), 6))
          .otherwise(round(log(col("ct") / lit(tTotal)), 6)).as("lpt"))
      .groupBy(col(idCol))
      .agg(
        (sum(col("lps").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("lp_s"),
        (sum(col("lpt").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("lp_t"),
        count(lit(1)).as("n_tokens"))
  }

  /** Adjacent-token bigrams of a document as (bg = "w1 w2", w1) structs —
    * row-local (two shifted slices zipped; no per-document window, no
    * shuffle). A document of fewer than two tokens yields an empty
    * array. */
  def bigrams(text: Column): Column =
    Cols.bound(tokens(text)) { toks =>
      zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => struct(concat(a, lit(" "), b).as("bg"), a.as("w1")))
    }

  /** Corpus-trained BIGRAM language-model score per document: the mean
    * over a document's adjacent token pairs of ln p(w2 | w1), with the
    * conditional MLE p(w2|w1) = c(w1 w2) / cPrefix(w1), where cPrefix
    * counts w1's occurrences AS A PREFIX (= the sum of c(w1 ·) over the
    * bigram table — so numerator and denominator come from the same
    * aggregation and cannot drift). One step up the n-gram ladder from
    * [[unigramLogprob]] toward real perplexity, with the same
    * determinism rules: each ln rounded to 6 dp, decimal-exact mean,
    * vocabulary joins left to Spark's strategy (bounded by bigram TYPE
    * count). Documents with fewer than two tokens drop out (they have
    * no bigram to score). Returns (idCol, avg_logprob, n_bigrams). */
  def bigramLogprob(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val rows = df.select(col(idCol),
        explode(bigrams(col(textCol))).as("b"))
      .select(col(idCol), col("b.bg").as("bg"), col("b.w1").as("w1"))
    // the bigram count table IS the language model — a materialized
    // stage boundary (vocabulary-sized, the artifact a production LM
    // scorer persists): both the conditional denominator and the
    // scoring join read it, and unpinned each re-executed the corpus
    // explode+count (SCALE_r09 §22). The remaining TWO corpus passes
    // (count build, scoring) are the honest train-then-score shape.
    val c2 = Pins.pin(rows.groupBy(col("bg"), col("w1"))
      .agg(count(lit(1)).as("c2")))
    val cp = c2.groupBy(col("w1")).agg(sum(col("c2")).as("cp"))
    rows
      .join(c2.join(cp, "w1").select(col("bg"), col("c2"), col("cp")), "bg")
      .select(col(idCol), round(log(col("c2") / col("cp")), 6).as("lp"))
      .groupBy(col(idCol))
      .agg(
        (sum(col("lp").cast("decimal(18,9)")).cast("double") /
          count(lit(1))).as("avg_logprob"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Regex for email-shaped tokens — kept to a subset valid with IDENTICAL
    * semantics in Java regex and RE2 (no backrefs, no lookaround), so an
    * external-engine oracle can replay the redaction. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-shaped tokens: +D…D-DDD-DDDD with optional country digits. */
  val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  /** PII scrub: replace email- and phone-shaped spans with typed
    * placeholder tags. Pure projection (regexp_replace is codegen'd) —
    * the canonical per-row curation pass. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Count of email-/phone-shaped spans in `text` (pre-redaction audit
    * metric). */
  def piiCounts(text: Column): Column =
    struct(
      regexp_count(text, lit(EmailRe)).as("n_emails"),
      regexp_count(text, lit(PhoneRe)).as("n_phones"))

  /** Context-window chunking: split a document into token windows of
    * `chunkTokens` words starting every `chunkTokens - overlap` words
    * (the standard pre-training/RAG chunker). Returns an ARRAY of
    * (start_tok, chunk_text) structs — explode it for one row per
    * chunk. Pure codegen (sequence/transform/slice/concat_ws): no UDF,
    * no shuffle; the whole chunker is a projection, so at 100 TB it
    * rides the scan. A document shorter than one window yields exactly
    * one chunk; the final partial window is kept (slice clamps at the
    * end of the token list).
    */
  def chunks(text: Column, chunkTokens: Int, overlap: Int): Column = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap/$chunkTokens")
    val step = chunkTokens - overlap
    // token array bound once per row (Cols.bound — a captured split()
    // would re-run once per chunk window in the interpreted HOF path)
    Cols.bound(tokens(text)) { toks =>
      val starts = sequence(lit(0),
        greatest(size(toks) - 1, lit(0)), lit(step))
      transform(starts, s => struct(s.as("start_tok"),
        concat_ws(" ", slice(toks, s + 1, lit(chunkTokens)))
          .as("chunk_text")))
    }
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data"): each document is LM-scored ([[unigramLogprob]] —
    * higher average log-probability = lower perplexity = more fluent)
    * and split into per-LANGUAGE terciles — `head` (most fluent third),
    * `middle`, `tail` — because perplexity scales are not comparable
    * across languages, so a global cut would misfile whole languages.
    *
    * Determinism/plan shape: the scored table is pinned once
    * (localCheckpoint — it feeds the tercile boundary computation AND
    * the final projection; unpinned, the vocab join would re-execute
    * per consumer). BOTH tercile boundaries come from ONE
    * [[PercentileAgg.percentileSelectMulti]] routing (the bounded
    * multi-job rank selection — never a global sort; the shared
    * count/min/max, bucketing and histogram passes run once, not per
    * quantile), are rounded
    * to 6 dp, broadcast (one row per language), and compared against the
    * 6-dp-rounded score with `>=` — both sides rounded, so the bucket
    * edge is identical on every engine and partitioning. Returns one row
    * per document: (idCol, lang, score, bucket). */
  def qualityBuckets(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String,
                     langCol: String): org.apache.spark.sql.DataFrame = {
    val scored = Pins.pin(unigramLogprob(df, idCol, textCol)
      .join(df.select(col(idCol), col(langCol).as("lang")), idCol)
      .select(col(idCol), col("lang"),
        round(col("avg_logprob"), 6).as("score")))
    val terciles = PercentileAgg.percentileSelectMulti(scored, Seq("lang"),
      "score", Seq(1.0 / 3, 2.0 / 3), Seq("__qb_p33", "__qb_p67"))
    val bounds = broadcast(terciles
      .select(col("lang"), round(col("__qb_p33"), 6).as("__qb_lo"),
        round(col("__qb_p67"), 6).as("__qb_hi")))
    scored.join(bounds, "lang")
      .select(col(idCol), col("lang"), col("score"),
        when(col("score") >= col("__qb_hi"), "head")
          .when(col("score") >= col("__qb_lo"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Default C4 thresholds — hoisted to named constants so the DuckDB
    * twin interpolates THE SAME values instead of restating literals
    * (a tuned default desynchronizing the twins silently was the
    * r15-ADVICE hazard). */
  val C4MinSentences = 5
  val C4MinLineWords = 3

  /** Terminal-punctuation characters a surviving C4 line must end in
    * (`. ! ?` or a closing quote `"` `”` — the paper's "terminal
    * punctuation" reading), and the sentence-mark proxy class. Regex
    * class innards/source shared with the oracle twin. */
  val C4TerminalChars = ".!?\"”"
  val C4Terminal = s"[$C4TerminalChars]"
  val C4SentenceChars = ".!?"
  val C4SentenceMark = s"[$C4SentenceChars]"

  /** C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2 —
    * the most-cited crawl-cleaning recipe; the LINE- and PAGE-level
    * half that composes with this repo's other stages):
    *
    *  - LINE rules (a line survives iff ALL hold): its last
    *    non-(horizontal-whitespace) character is terminal punctuation
    *    ([[C4Terminal]]), it carries at least `minLineWords` (3)
    *    whitespace-separated words (maximal non-whitespace runs), and
    *    it does not contain the word "javascript" in any case (the
    *    boilerplate "enable JavaScript" banner rule);
    *  - PAGE rules: at least `minSentences` (5) sentences OVER THE
    *    SURVIVING TEXT (approximated as [[C4SentenceMark]]
    *    occurrences — the paper counts sentences; this pinned proxy
    *    is cross-engine exact), while the "lorem ipsum" (any case)
    *    and `{` (code filter) scans read the ORIGINAL page — a brace
    *    inside a dropped line still drops the page (spec-pinned).
    *
    * OUT OF SCOPE here by design: the paper's badword list (an
    * external artifact this repo does not ship), langdetect (the
    * `lang_id` operator), and the three-sentence-span dedup (the
    * `dedup_substring_spans` operator) — C4's full pipeline is the
    * COMPOSITION of those existing stages with these rules.
    *
    * Row-local and FULLY CODEGEN'D: the line rules run as ONE
    * byte-level pass ([[graft.functions.C4CleanLines]] — surviving
    * lines re-joined, the input object returned untouched when
    * nothing drops), replacing the former interpreted lambda filter
    * over the line array (SCALE_r15 §8's named lever). A pure-builtin
    * form exists — three whole-text `regexp_replace` line-deletion
    * passes plus a trailing-newline strip — but re-materializes the
    * page once per pass (measured ~3x the single-pass cost at sf0.1);
    * it survives as the SPEC-side reference implementation the
    * property test drives against this expression. The word-count
    * rule is pinned as "maximal non-whitespace runs" (the gopher
    * tokenization), not Java split-token counting — the former
    * lambda's split-with-limit -1 counted a leading tab as an empty
    * token ("\ta b." passed with two words); the terminal rule reads
    * through trailing tabs/CR the way it always read through trailing
    * spaces. Returns
    * (text_clean, n_lines_kept, n_sentences, has_lorem, has_brace,
    * keep). */
  def c4Flags(text: Column, minSentences: Int = C4MinSentences,
              minLineWords: Int = C4MinLineWords): Column = {
    require(minLineWords >= 1, s"minLineWords must be >= 1, got $minLineWords")
    import org.apache.spark.sql.graftshim.Internals
    val tc = Internals.column(graft.functions.C4CleanLines(
      Internals.expression(text), minLineWords))
    // NO lambda binding around the repeated `tc`/`text` references:
    // every use below is UNCONDITIONAL in one projection list, so
    // whole-stage codegen's subexpression elimination evaluates each
    // shared subtree once per row (the bind1 lesson applies to
    // CONDITIONAL fan-outs, which CSE does not merge) — where a
    // transform-array binding would drag the entire subtree through
    // the interpreted CodegenFallback path HigherOrderFunctions ride
    // (measured: the binding, not the former lambda line filter, was
    // this row's dominant cost)
    // counts as length deltas under `translate` (a codegen'd char-map
    // pass) — regexp_count would allocate every match via
    // RegExpExtractAll just to take its size
    val nk = when(length(tc) === 0, lit(0))
      .otherwise(length(tc) - length(translate(tc, "\n", "")) + 1)
    val nSent = length(tc) - length(translate(tc, C4SentenceChars, ""))
    val hasLorem = lower(text).contains("lorem ipsum")
    val hasBrace = text.contains("{")
    struct(
      tc.as("text_clean"),
      nk.cast("long").as("n_lines_kept"),
      nSent.cast("long").as("n_sentences"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      (nSent >= minSentences && !hasLorem && !hasBrace).as("keep"))
  }

  /** Words of [[GopherStopwords]] — the eight common-English-word list the
    * Gopher rules test membership against (Rae et al. 2021 §A1.1). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-rules document quality filter (Rae et al. 2021,
    * arXiv:2112.11446 Appendix A1.1 — the MassiveWeb heuristics, the
    * standard pre-LM hygiene pass): per-document rule flags plus the
    * conjunctive keep decision. Rules, with the paper's thresholds and
    * removal sides (a document is REMOVED strictly past each bound, so
    * keep is inclusive at the boundary):
    *
    *  - word count in [`minWords`, `maxWords`] (paper: 50..100,000);
    *  - mean word length in [3, 10] characters;
    *  - `#`-to-word ratio <= 0.1 AND `...`-to-word ratio <= 0.1 (the
    *    paper removes when EITHER symbol alone exceeds 0.1 — the two
    *    ratios are independent rules, not a sum);
    *  - <= 90% of lines start with a bullet ("- " or "* ") and <= 30%
    *    end with an ellipsis (the paper removes "more than 90%" /
    *    "more than 30%");
    *  - >= 80% of words contain at least one alphabetic character;
    *  - at least 2 of the 8 [[GopherStopwords]] occur as words.
    *
    * Everything is a pure projection. Word rules split on runs of ANY
    * whitespace (`\s+` on the trimmed text), so multi-line prose
    * tokenizes correctly — "sat\nthe" is two words, and a stopword at a
    * line start still counts; line rules split the same raw text on
    * newlines, so ONE call returns both rule families on raw document
    * text. The words-with-a-letter count uses `regexp_count` over
    * `(?:^|\s)[\S]*[A-Za-z][\S]*` — no lookarounds, identical leftmost
    * non-overlapping match semantics in Java regex and RE2, and
    * codegen'd (no higher-order filter in the per-word rule). The two
    * LINE rules do use a lambda filter over the (tiny) line array; lines
    * are bounded by document newlines, not corpus size. Ratios and the
    * mean are rounded to 6 dp before thresholding so the rule edges are
    * engine-exact. Returns a struct:
    * (n_words, mean_word_len, hash_ratio, ellipsis_ratio, alpha_frac,
    *  n_stopwords, bullet_frac, ellipsis_frac, keep).
    *
    * `stopwords` defaults to the paper's English list; a corpus in
    * another register (or language) passes its own common-word list —
    * the rule's intent is "looks like running prose in the corpus
    * language", not those eight literals. */
  def gopherFlags(text: Column, minWords: Int = 50,
                  maxWords: Int = 100000,
                  stopwords: Seq[String] = GopherStopwords): Column = {
    val ws = split(trim(text), graft.core.Ws.Plus)
    val n = size(ws).cast("double")
    val meanLen = round(
      length(regexp_replace(text, graft.core.Ws.Plus, ""))
        .cast("double") / n, 6)
    val hashRatio = round(occ(text, "#").cast("double") / n, 6)
    val ellipsisRatio = round(occ(text, "...").cast("double") / n, 6)
    val alphaFrac = round(
      regexp_count(text, lit(s"(?:^|${graft.core.Ws.One})" +
        s"${graft.core.Ws.Not}*[A-Za-z]${graft.core.Ws.Not}*")).cast("double")
        / n, 6)
    require(stopwords.nonEmpty, "stopword list must be non-empty")
    val nStops = size(array_intersect(ws, array(stopwords.map(lit): _*)))
    val lines = split(text, "\n")
    val nLines = size(lines).cast("double")
    val bulletFrac = round(size(filter(lines,
      l => l.startsWith("- ") || l.startsWith("* "))).cast("double")
      / nLines, 6)
    val ellipsisFrac = round(size(filter(lines,
      l => l.endsWith("..."))).cast("double") / nLines, 6)
    val keep = gopherRules(n, meanLen, hashRatio, ellipsisRatio,
      alphaFrac, nStops, bulletFrac, ellipsisFrac, minWords, maxWords)
      .map(_._2).reduce(_ && _)
    struct(
      n.cast("long").as("n_words"),
      meanLen.as("mean_word_len"),
      hashRatio.as("hash_ratio"),
      ellipsisRatio.as("ellipsis_ratio"),
      alphaFrac.as("alpha_frac"),
      nStops.cast("long").as("n_stopwords"),
      bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"),
      keep.as("keep"))
  }

  /** The named A1.1 rule predicates over [[gopherFlags]]' feature
    * columns — the SINGLE Spark-side source of the thresholds:
    * `gopherFlags.keep` is these rules' conjunction, and the
    * `quality_funnel` report evaluates them one by one over the struct
    * fields, so a tuned threshold cannot diverge between the filter a
    * pipeline applies and the funnel it reads. (The DuckDB oracles
    * restate the literals BY DESIGN — they are independent
    * re-derivations.) */
  def gopherRules(nWords: Column, meanLen: Column, hashRatio: Column,
                  ellipsisRatio: Column, alphaFrac: Column,
                  nStops: Column, bulletFrac: Column,
                  ellipsisFrac: Column, minWords: Int,
                  maxWords: Int): Seq[(String, Column)] = Seq(
    "words_in_range" -> (nWords >= minWords && nWords <= maxWords),
    "mean_word_len" -> (meanLen >= 3.0 && meanLen <= 10.0),
    "symbol_ratios" -> (hashRatio <= 0.1 && ellipsisRatio <= 0.1),
    "line_shapes" -> (bulletFrac <= 0.9 && ellipsisFrac <= 0.3),
    "alpha_words" -> (alphaFrac >= 0.8),
    "stopwords" -> (nStops >= 2))

  /** Duplicate-line repetition rules (Rae et al. 2021 A1.1, the
    * within-document half of the Gopher repetition family that
    * [[repetitionFeatures]]' token/n-gram fractions don't cover):
    *
    *  - dup_line_frac: fraction of lines that are repeats of an earlier
    *    equal line, 1 - distinct/total — removed above 0.30;
    *  - dup_line_char_frac: fraction of line characters inside those
    *    repeats, 1 - distinctChars/totalChars — removed above 0.20.
    *
    * The paper states the rules for both "lines" and "paragraphs"; this
    * corpus delimits prose blocks with single newlines, so lines ARE its
    * paragraphs and one pass covers both. Keep is inclusive at each
    * boundary (the paper removes strictly above — the gopherFlags
    * convention). ENTIRELY row-local and O(lines) past array_distinct's
    * hash set, with NO higher-order functions in the hot path (the
    * repo's measured ~10x interpreted-HOF penalty): character totals
    * come from `length(concat_ws("", ...))` over the line array and its
    * distinct image — fully codegen'd — so the filter rides the scan at
    * 100 TB. Fractions are rounded to 6 dp (cross-engine float rule); a
    * single-line document has no possible repeat and scores 0.
    * Returns (n_lines, dup_line_frac, dup_line_char_frac, keep). */
  def dupLineFeatures(text: Column): Column =
    dupLineFeaturesOfLines(split(text, "\n"))

  /** [[dupLineFeatures]] over an already-assembled line ARRAY — for
    * callers whose records arrive as rows (a crawl page's member
    * documents via collect_list, a pre-split ingest) rather than one
    * newline-joined text. Taking the array directly keeps the line
    * boundary authoritative: a member string that itself contains a
    * newline stays ONE line, where a join-then-split round trip would
    * fracture it. */
  def dupLineFeaturesOfLines(lines: Column): Column = {
    def totalChars(arr: Column): Column =
      length(concat_ws("", arr)).cast("long")
    val distinctLines = array_distinct(lines)
    val nLines = size(lines).cast("double")
    val dupLineFrac = round(
      (nLines - size(distinctLines)) / nLines, 6)
    val tot = totalChars(lines)
    // greatest(tot, 1): a document whose every line is empty has zero
    // line characters; its char fraction is 0, not 0/0
    val dupCharFrac = round(
      (tot - totalChars(distinctLines)).cast("double")
        / greatest(tot, lit(1L)), 6)
    val keep = (dupLineFrac <= 0.30) && (dupCharFrac <= 0.20)
    struct(
      nLines.cast("long").as("n_lines"),
      dupLineFrac.as("dup_line_frac"),
      dupCharFrac.as("dup_line_char_frac"),
      keep.as("keep"))
  }
}
