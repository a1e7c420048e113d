package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Pins
import graft.ops._

/** The driver-graded query inventory: every entry is one operator shape from
  * SURVEY.md §2 (or an LLM-pipeline extension) expressed over the synthetic
  * corpus at `/root/testdata/sf*`, paired — where SQL-expressible — with an
  * equivalent DuckDB oracle query.
  *
  * Cross-engine determinism rules used throughout (see SURVEY.md §7.4):
  *  - sums of doubles go through DECIMAL(18,4) (exact, order-independent),
  *    then back to double; means divide that exact sum by the count;
  *  - medians/percentiles are exact interpolating (Spark `median` /
  *    `percentile` vs DuckDB `median` / `quantile_cont`), rounded to 6 dp;
  *  - stddev uses the explicit decimal-sum formula (RobustStats.stddevDet)
  *    rather than accumulation-order-dependent `stddev_samp`;
  *  - ranking ties are broken on an id column after rounding scores;
  *  - every query ends with a total ORDER BY.
  */
object OracleQueries {

  case class Q(name: String, fn: (SparkSession, String) => DataFrame,
               sql: Option[String])

  // ---- table loaders -----------------------------------------------------

  /** Adaptive small-input fan-out (guide §2.5's unsplittable-input
    * case). The test corpus ships each table as ONE single-row-group
    * parquet file, which Spark cannot split below the row group — every
    * scan-rooted pipeline runs on one core however many the session
    * has, serializing all per-row work (decimal aggregation, text
    * metrics, distance arithmetic) onto 1/Nth of the machine. When a
    * table's total scan size is small enough for one bounded shuffle to
    * be trivially cheap (<= `spark.graft.scan.fanoutMaxBytes`, default
    * 256 MiB) and the session has parallelism to feed, a repartition
    * to defaultParallelism fans the rows out. The partition key is a
    * DETERMINISTIC content hash of the table's FIRST column (guide
    * §2.5's derive-the-synthetic-key-deterministically rule — every
    * corpus table leads with its high-cardinality id): retry-safe like
    * Spark's sort-before-repartition round-robin but WITHOUT that sort
    * (which would run single-threaded inside the one unsplit scan task,
    * i.e. exactly the serialization this helper removes), and
    * single-column so downstream column pruning still reaches the scan
    * — hashing the whole row was tried and REVERTED: it pinned every
    * column into the exchange and a 2-column query shuffled all 16. At
    * corpus scale the rule SELF-DISABLES: a real table exceeds the byte
    * bound — and arrives as many splittable files — so no production
    * plan pays the extra exchange. Row values are
    * partitioning-invariant repo-wide (the determinism contract every
    * oracle row pins: decimal order-independent sums, tie-broken ranks,
    * order-invariant array metrics), so results are bit-identical. */
  /** Per-query opt-in scope for [[fanout]]: the `queries` map sets it
    * from [[FanoutQueries]] around each query's plan construction (a
    * driver-side, synchronous region, so the DynamicVariable scope is
    * sound). Default false — a caller outside the map (tests, stage
    * builders) that wants fan-out opts in explicitly. */
  private[queries] val fanoutEnabled =
    new scala.util.DynamicVariable[Boolean](false)

  private[queries] def fanout(s: SparkSession, df: DataFrame): DataFrame = {
    val maxBytes = s.conf.getOption("spark.graft.scan.fanoutMaxBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val par = s.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (fanoutEnabled.value && par > 1 && bytes > 0 && bytes <= maxBytes)
      df.repartition(par, xxhash64(col(df.columns.head)))
    else df
  }

  /** Forces [[fanout]] on inside `body` — for the staged index
    * builders whose training reads are always per-row-compute-bound
    * (PQ/OPQ codebook training), independent of which query first
    * triggers the memo. */
  private[queries] def withFanout[T](body: => T): T =
    fanoutEnabled.withValue(true)(body)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    fanout(s, s.read.parquet(s"$dir/$name.parquet"))

  /** `ts` as epoch-nanos BIGINT whatever the parquet writer produced:
    * the driver's generator has emitted both timestamp[ns] (which Spark
    * reads as LongType under nanosAsLong) and timestamp[us] (read as
    * TIMESTAMP_NTZ). The NTZ branch measures microseconds from the naive
    * epoch with `timestampdiff` over NTZ operands — zone-FREE, so it
    * matches DuckDB's naive date_trunc/epoch_ns whatever
    * spark.sql.session.timeZone is set to (the earlier cast-through-
    * session-zone form was only correct under UTC). */
  private def tsNs(df: DataFrame): Column = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => col("ts")
    case org.apache.spark.sql.types.TimestampNTZType =>
      expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)") *
        lit(1000L)
    case _ => unix_micros(col("ts")) * lit(1000L)
  }

  /** Exact order-independent sum of a double column via decimal. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Deterministic mean = exact decimal sum / count of non-nulls. */
  private def dmean(c: Column): Column = dsum(c) / count(c)

  // SQL fragments mirroring the helpers above.
  private def sqlDsum(x: String) =
    s"CAST(SUM(CAST(($x) AS DECIMAL(18,4))) AS DOUBLE)"
  private def sqlDmean(x: String) = s"${sqlDsum(x)} / COUNT($x)"

  /** Concave test polygon in (quantity, tax*500) space — covers the
    * even-odd rule's re-entrant case. Slopes are finite (no horizontal
    * edges in y). Declared before `all` (referenced during init). */
  val testPolygon: Seq[(Double, Double)] = Seq(
    (5.0, 2.0), (45.0, 5.0), (40.0, 35.0), (25.0, 18.0), (10.0, 30.0))

  // ---- oracle auxiliary hash tables --------------------------------------
  // DuckDB has no xxhash64, so the MinHash / SimHash / LSH queries cannot
  // be oracled directly. What CAN be verified cross-engine is every step
  // ABOVE the raw hash primitive: min-per-seed signature construction, LSH
  // banding and candidate pairing, signature agreement scoring, bit-vote
  // fingerprinting, and hyperplane bucketing. Verify pre-materializes the
  // per-row hash values (computed ONCE, in Spark) to a fixed location and
  // the oracle SQL re-derives everything downstream from that table —
  // hashes identical by construction, logic checked in both engines.

  /** Placeholder interpolated into the oracle SQL below; [[oracleSqlFor]]
    * substitutes the real aux directory at dump time. A fixed /tmp path
    * would let concurrent Verify runs clobber each other's tables, and a
    * partially failed run would leave stale parquet the DuckDB compare
    * silently reads as current — so Verify derives the dir from its own
    * outDir instead (the driver runs DuckDB on the same host right after).
    */
  val AuxToken = "__GRAFT_AUX_DIR__"
  private def AuxDir = AuxToken

  /** Default aux dir for direct [[oracleSql]] consumers (the contract
    * map); Verify passes its outDir-derived location instead. */
  val DefaultAuxDir = "/tmp/graft_oracle_aux"

  /** Parameters shared by the dedup queries and their oracles. */
  private val MinhashK = 32
  private val MinhashBands = 8
  private val LshPlanes = 10
  private val LshDim = 64

  /** Parameters shared by the sketch queries and their oracles. */
  private val CmsDepth = 4
  private val CmsWidth = 1024
  private val HllP = 8 // m = 256 registers, saturated rank 65-p = 57

  /** The shared CTE chain replaying [[graft.ops.Pca.fit]] in DuckDB:
    * floor-fixed-point mean and covariance over identically-derived
    * doubles (floor at 1e-9 per element/product — floor is
    * bit-deterministic across engines where decimal half-boundary
    * rounding is not; the hazard was OBSERVED on both paths at sf0.1),
    * and `iters` UNROLLED exact-integer power steps
    * (the pq_train unrolled-Lloyd pattern; recursive CTEs cannot
    * aggregate): w = C·v as exact HUGEINT sums, renormalize by the
    * max-|component| with the sign split off so `//` only ever divides
    * non-negatives (floor == trunc, no engine ambiguity). Every stage is
    * AS MATERIALIZED: each v step references its w twice (value + the
    * MAX-|w| divisor), so DuckDB's default CTE inlining would re-execute
    * the whole upstream chain 2^iters times (measured: the un-hinted
    * 8-step chain runs minutes; materialized, 0.74 s). Ends with the
    * CTEs `m` (i, mu) and `v$iters` (i, v) in scope; iters = 0 emits
    * the covariance prefix only (no start vector, no steps — an
    * unreferenced MATERIALIZED CTE is NOT pruned by DuckDB, so dead
    * iteration SQL would actually execute). */
  /** The centering prefix shared by every PCA-family oracle: exploded
    * doubles `u` (vec_id, x, i), floor-fixed-point mean `m` (i, mu),
    * centered values `uc` (vec_id, i, cx). Kept separate from
    * [[pcaChainSql]] so oracles that need only the diagonal (dim
    * stats, standardization) don't drag the D(D+1)/2 outer-product CTE
    * along — MATERIALIZED CTEs execute even unreferenced. */
  private val pcaCenteredSql: String =
    """u AS MATERIALIZED (SELECT vec_id,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS i
          FROM embeddings),
        m AS MATERIALIZED (SELECT i,
            CAST(SUM(CAST(floor(x * 1000000000) AS HUGEINT)) AS DOUBLE)
              / 1000000000 / COUNT(*) AS mu
          FROM u GROUP BY i),
        uc AS MATERIALIZED (SELECT u.vec_id, u.i, u.x - m.mu AS cx
          FROM u JOIN m USING (i))"""

  /** Per-dimension sample-sigma CTEs over the centered prefix: `ss`
    * (i, ssf — the floor-fixed-point squared-deviation sums, i.e. the
    * covariance diagonal's arithmetic) and `sg` (i, sigma). The
    * denominator is the PER-DIMENSION exploded row count (exactly what
    * `Pca.dimStats` aggregates), NOT a global COUNT(*) over the table —
    * on a corpus with a null or ragged embedding row the two diverge
    * (the null row explodes to no rows in BOTH engines, so only the
    * per-dimension count stays consistent with the numerator). */
  private val pcaSigmaSql: String =
    """ss AS (SELECT i, SUM(CAST(floor(cx * cx * 1000000000) AS HUGEINT))
            AS ssf, COUNT(*) AS n
          FROM uc GROUP BY i),
        sg AS (SELECT ss.i,
            sqrt((CAST(ss.ssf AS DOUBLE) / 1000000000) / (ss.n - 1))
              AS sigma
          FROM ss)"""

  private def pcaChainSql(iters: Int): String = {
    val steps = (1 to iters).map { t =>
      val pv = if (t == 1) "v0" else s"v${t - 1}"
      s"""w$t AS MATERIALIZED (SELECT cf.i, SUM(cf.c * $pv.v) AS w
          FROM cf JOIN $pv ON $pv.i = cf.j GROUP BY cf.i),
        v$t AS MATERIALIZED (SELECT w.i, (CASE WHEN w.w < 0 THEN -1 ELSE 1 END)
            * ((abs(w.w) * 1000000) // (SELECT MAX(abs(w)) FROM w$t))
            AS v FROM w$t w)"""
    }.mkString(",\n        ")
    s"""$pcaCenteredSql,
        cu AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
            SUM(CAST(floor(a.cx * b.cx * 1000000000) AS HUGEINT)) AS c
          FROM uc a JOIN uc b ON b.vec_id = a.vec_id AND b.i >= a.i
          GROUP BY 1, 2),
        ${if (iters == 0) "cu_end AS (SELECT 1 AS one)" else s"""cf AS MATERIALIZED (SELECT i, j, c FROM cu
          UNION ALL SELECT j AS i, i AS j, c FROM cu WHERE i <> j),
        sd AS (SELECT i AS d FROM cu WHERE i = j ORDER BY c DESC, i
          LIMIT 1),
        v0 AS MATERIALIZED (SELECT dims.i, CASE WHEN dims.i = sd.d
              THEN CAST(1000000 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END
            AS v
          FROM (SELECT DISTINCT i FROM cu) dims CROSS JOIN sd),
        $steps"""}"""
  }

  /** Merge steps learned by the bpe_train row (and replayed by its
    * oracle chain — each step is one unrolled CTE block). Owned by
    * [[BpeStage]], which also stages the trained artifacts the
    * encode/pack/fertility rows consume. */
  private val BpeMerges = BpeStage.Merges

  /** The CTE chain replaying [[graft.ops.Bpe.train]] in DuckDB: w0 is
    * the word-frequency table with words split to character symbol
    * lists, then `steps` UNROLLED merge iterations (the pq_train
    * unrolled-Lloyd pattern — recursive CTEs cannot aggregate). Per
    * step t: e$t explodes symbols with positions; b$t is the argmax
    * adjacent pair (count DESC, pair ASC — all-integer, no float
    * anywhere); mt$t marks matched positions; kp$t keeps every other
    * match within each run of CONSECUTIVE matches (runs >1 only arise
    * for l == r; keeping even offsets is exactly greedy left-to-right
    * — the Spark fold's semantics, see Bpe.scala); w$t rebuilds each
    * word, dropping positions consumed by a kept left-neighbor match
    * and concatenating r onto kept positions (whose symbol IS l).
    * Every stage is MATERIALIZED — each w$t is read by four consumers
    * of step t+1, and DuckDB's default CTE inlining would re-execute
    * the whole upstream chain exponentially (the pcaChainSql lesson).
    * An exhausted corpus (no pairs left) leaves b$t empty, mt/kp
    * empty, and w$t = w$t-1 — matching the Spark side's early stop
    * with no special casing. Leaves b1..b$steps and w$steps in
    * scope. */
  private def bpeChainSql(steps: Int): String = {
    val stepSql = (1 to steps).map { t =>
      s"""e$t AS MATERIALIZED (SELECT word, freq, UNNEST(syms) AS s,
            UNNEST(range(len(syms))) AS i FROM w${t - 1}),
        b$t AS MATERIALIZED (SELECT a.s AS l, n.s AS r,
            CAST(SUM(a.freq) AS BIGINT) AS cnt
          FROM e$t a JOIN e$t n ON n.word = a.word AND n.i = a.i + 1
          GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
        mt$t AS (SELECT a.word, a.i
          FROM e$t a JOIN e$t n ON n.word = a.word AND n.i = a.i + 1
          JOIN b$t bb ON a.s = bb.l AND n.s = bb.r),
        kp$t AS MATERIALIZED (SELECT word, i FROM (
          SELECT word, i,
            ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY i) AS o
          FROM (SELECT word, i,
              i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
            FROM mt$t)) WHERE o % 2 = 1),
        w$t AS MATERIALIZED (SELECT e.word, ANY_VALUE(e.freq) AS freq,
            list(CASE WHEN k.i IS NOT NULL
                THEN e.s || (SELECT r FROM b$t) ELSE e.s END
              ORDER BY e.i) AS syms
          FROM e$t e
          LEFT JOIN kp$t k ON k.word = e.word AND k.i = e.i
          LEFT JOIN kp$t c ON c.word = e.word AND c.i = e.i - 1
          WHERE c.i IS NULL
          GROUP BY e.word)"""
    }.mkString(",\n        ")
    s"""w0 AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
            list_transform(range(1, len(word) + 1),
              i -> substr(word, i, 1)) AS syms
          FROM (SELECT UNNEST(string_split(text, ' ')) AS word
                FROM documents)
          WHERE len(word) > 0 GROUP BY word),
        $stepSql"""
  }

  /** Rounds and per-round pick width of the `bpe_train_batched` row —
    * 12 merges at batchN = 4. The oracle unrolls [[BpeBatchedRounds]]
    * WHOLE rounds and cuts the output at [[BpeBatchedMerges]] steps;
    * that replays Spark exactly because greedy disjoint selection is
    * prefix-consistent (the trainer's truncated final round selects a
    * prefix of the full round's picks — Bpe.trainBatched scaladoc).
    * Probed at sf0.001/0.01/0.1: every round fills all 4 picks, so 3
    * rounds cover 12 steps; were the data ever to conflict harder, the
    * oracle would come up SHORT of 12 rows — a loud rows mismatch,
    * never a silent wrong table. */
  private val BpeBatchedMerges = 12
  private val BpeBatchedN = 4
  private val BpeBatchedRounds = 3

  /** The CTE chain replaying [[graft.ops.Bpe.trainBatched]] in DuckDB —
    * the [[bpeChainSql]] pattern with each round carrying its greedy
    * disjoint SELECTION unrolled pick by pick: bp{t}_k is the
    * (cnt DESC, l, r) argmax over the round's pair counts EXCLUDING
    * any candidate that shares a member or a concatenation with a
    * higher pick (the NOT EXISTS re-derives Bpe.selectRoundPairs' used
    * set: members AND concats of every prior pick, checked against the
    * candidate's members AND concat). The apply half is the
    * single-pair chain's positional replay with the matched pair's
    * right member riding the keep table (runs of consecutive matches
    * still only arise for one l == r pair — selected pairs share no
    * members, so adjacent matches from two different pairs are
    * impossible). Leaves bsel1..bsel$rounds (rk, l, r, cnt) and
    * bw$rounds in scope. */
  private def bpeBatchedChainSql(rounds: Int, n: Int): String = {
    val roundSql = (1 to rounds).map { t =>
      val picks = (1 to n).map { k =>
        if (k == 1)
          s"""bp${t}_1 AS MATERIALIZED (SELECT l, r, cnt FROM bpc$t
          ORDER BY cnt DESC, l, r LIMIT 1)"""
        else {
          val prior = (1 until k).map(j => s"SELECT l, r FROM bp${t}_$j")
            .mkString("\n              UNION ALL ")
          s"""bp${t}_$k AS MATERIALIZED (SELECT c.l, c.r, c.cnt FROM bpc$t c
          WHERE NOT EXISTS (SELECT 1 FROM ($prior) p
            WHERE c.l IN (p.l, p.r, p.l || p.r)
               OR c.r IN (p.l, p.r, p.l || p.r)
               OR (c.l || c.r) IN (p.l, p.r, p.l || p.r))
          ORDER BY c.cnt DESC, c.l, c.r LIMIT 1)"""
        }
      }.mkString(",\n        ")
      val selUnion = (1 to n).map(k =>
        s"SELECT $k AS rk, l, r, cnt FROM bp${t}_$k")
        .mkString("\n          UNION ALL ")
      s"""be$t AS MATERIALIZED (SELECT word, freq, UNNEST(syms) AS s,
            UNNEST(range(len(syms))) AS i FROM bw${t - 1}),
        bpc$t AS MATERIALIZED (SELECT a.s AS l, n.s AS r,
            CAST(SUM(a.freq) AS BIGINT) AS cnt
          FROM be$t a JOIN be$t n ON n.word = a.word AND n.i = a.i + 1
          GROUP BY 1, 2),
        $picks,
        bsel$t AS MATERIALIZED ($selUnion),
        bmt$t AS (SELECT a.word, a.i, sel.r AS mr
          FROM be$t a JOIN be$t n ON n.word = a.word AND n.i = a.i + 1
          JOIN bsel$t sel ON a.s = sel.l AND n.s = sel.r),
        bkp$t AS MATERIALIZED (SELECT word, i, mr FROM (
          SELECT word, i, mr,
            ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY i) AS o
          FROM (SELECT word, i, mr,
              i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
            FROM bmt$t)) WHERE o % 2 = 1),
        bw$t AS MATERIALIZED (SELECT e.word, ANY_VALUE(e.freq) AS freq,
            list(CASE WHEN k.i IS NOT NULL THEN e.s || k.mr ELSE e.s END
              ORDER BY e.i) AS syms
          FROM be$t e
          LEFT JOIN bkp$t k ON k.word = e.word AND k.i = e.i
          LEFT JOIN bkp$t c ON c.word = e.word AND c.i = e.i - 1
          WHERE c.i IS NULL
          GROUP BY e.word)"""
    }.mkString(",\n        ")
    s"""bw0 AS MATERIALIZED (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
            list_transform(range(1, len(word) + 1),
              i -> substr(word, i, 1)) AS syms
          FROM (SELECT UNNEST(string_split(text, ' ')) AS word
                FROM documents)
          WHERE len(word) > 0 GROUP BY word),
        $roundSql"""
  }

  /** The token-id vocabulary CTEs appended after [[bpeChainSql]] —
    * real-BPE numbering (subword-nmt/GPT-2): base characters first
    * (sorted), then one id per merge in training order; a string two
    * merges both mint keeps its FIRST id and ids stay dense (the
    * min-insertion-rank + dense re-rank pair). Leaves `vocab`
    * (symbol, token_id) in scope. */
  private def bpeVocabSql(steps: Int): String =
    s"""mrg AS (${(1 to steps).map(t =>
          s"SELECT $t AS stp, l, r FROM b$t").mkString("\n          UNION ALL ")}),
        bases AS (SELECT DISTINCT UNNEST(syms) AS symbol FROM w0),
        intro AS (SELECT symbol, 0 AS grp, symbol AS bord, 0 AS stp
            FROM bases
          UNION ALL SELECT l || r AS symbol, 1 AS grp, '' AS bord, stp
            FROM mrg),
        irk AS (SELECT symbol,
            ROW_NUMBER() OVER (ORDER BY grp, bord, stp) AS rn FROM intro),
        ifirst AS (SELECT symbol, MIN(rn) AS frn FROM irk GROUP BY symbol),
        vocab AS (SELECT symbol,
            ROW_NUMBER() OVER (ORDER BY frn) - 1 AS token_id FROM ifirst)"""

  /** The deterministic weak-supervision label both NB rows train on:
    * ≥ 50 whitespace words AND contains "the" — a Gopher-lite rule,
    * the known-good/known-bad heuristic labeling production quality
    * classifiers actually bootstrap from (CCNet's fastText stage).
    * NULL text labels "drop" on both engines (CASE on NULL → ELSE). */
  private def nbWeakLabel: Column =
    when(TextMetrics.tokenCount(col("text")) >= 50 &&
      col("text").contains("the"), lit("keep")).otherwise(lit("drop"))

  /** Shared NB-model CTE prefix: `lab` (doc_id, label, text) with the
    * weak label re-derived in SQL ((len − len(replace))+1 counts
    * split fields exactly like size(split(text,' '))), `f2` the
    * non-empty token occurrences, `tc` the nonzero (token, class)
    * counts — the model table. */
  private val nbModelSql: String =
    """lab AS (SELECT doc_id,
          CASE WHEN (length(text) - length(replace(text, ' ', ''))) + 1 >= 50
            AND text LIKE '%the%' THEN 'keep' ELSE 'drop' END AS label,
          text FROM documents),
        ft AS (SELECT doc_id, label,
            UNNEST(string_split(text, ' ')) AS token FROM lab),
        f2 AS MATERIALIZED (SELECT doc_id, label, token FROM ft
          WHERE len(token) > 0),
        tc AS MATERIALIZED (SELECT token, label,
            CAST(COUNT(*) AS BIGINT) AS c
          FROM f2 GROUP BY 1, 2)"""

  /** Deterministic messy-URL column for the URL-ops rows (the corpus
    * carries no URL; both engines CONSTRUCT the identical raw string —
    * input prep, like mine_bitext's even/odd split — and then each
    * independently normalizes it, which is the operation under test).
    * The six variants cover the rule space: uppercase scheme/host +
    * default port + tracking param + trailing slash (0), second-level
    * public suffix + :443 + fragment + double slash (1), plain with
    * trailing slash (2), NON-default port kept + params kept (3),
    * empty path + fragment (4), unparseable (5). */
  private def rawUrl: Column = {
    val m = col("doc_id") % 6
    val id = col("doc_id").cast("string")
    when(m === 0, concat(lit("HTTP://WWW."), col("source"),
        lit(".COM:80/path/a/?utm_source=x&id="), id))
      .when(m === 1, concat(lit("https://Sub."), col("source"),
        lit(".co.uk:443/p//?gclid=g&q=1&utm_medium=m#frag")))
      .when(m === 2, concat(lit("http://"), col("source"),
        lit(".org/a/b/")))
      .when(m === 3, concat(lit("https://cdn."), col("source"),
        lit(".net:8443/x?a=1&b=2")))
      .when(m === 4, concat(lit("http://"), col("source"), lit(".com#top")))
      .otherwise(concat(lit("not a url "), id))
  }

  /** SQL twin of [[rawUrl]] + an independent re-derivation of the
    * [[graft.ops.UrlOps]] normalization/domain rules (CTEs `u` →
    * `res` (doc_id, url_norm, domain)). */
  // def, not val: it references urlChainSql below — a val here would
  // capture null during object init (declaration order)
  private def urlNormSql: String =
    """u AS (SELECT doc_id, CASE CAST(doc_id % 6 AS INTEGER)
          WHEN 0 THEN 'HTTP://WWW.' || source
            || '.COM:80/path/a/?utm_source=x&id=' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'https://Sub.' || source
            || '.co.uk:443/p//?gclid=g&q=1&utm_medium=m#frag'
          WHEN 2 THEN 'http://' || source || '.org/a/b/'
          WHEN 3 THEN 'https://cdn.' || source || '.net:8443/x?a=1&b=2'
          WHEN 4 THEN 'http://' || source || '.com#top'
          ELSE 'not a url ' || CAST(doc_id AS VARCHAR) END AS url
        FROM documents),
        """ + urlChainSql

  /** The parse/normalize/domain chain shared by every URL-ops oracle:
    * expects a CTE `u` (doc_id, url) in scope, leaves `parts` → `norm`
    * → `dom` (…, hp = the port- and trailing-dot-stripped lowercase
    * host) → `res` (doc_id, url_norm, domain). */
  private val urlChainSql: String =
    """parts AS (SELECT doc_id, url,
          lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
            AS sch,
          lower(regexp_extract(url,
            '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS auth,
          regexp_extract(url,
            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
          regexp_extract(url,
            '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*[^?#]*\?([^#]*)', 1) AS qry
        FROM u),
        norm AS (SELECT doc_id, sch,
          CASE WHEN sch = 'http' THEN regexp_replace(auth, ':80$', '')
               WHEN sch = 'https' THEN regexp_replace(auth, ':443$', '')
               ELSE auth END AS host,
          CASE WHEN regexp_replace(pth, '/+$', '') = '' THEN '/'
               ELSE regexp_replace(pth, '/+$', '') END AS pth2,
          CASE WHEN qry = '' THEN ''
               ELSE array_to_string(list_filter(string_split(qry, '&'),
                 p -> NOT regexp_matches(p,
                   '^(utm_[a-zA-Z0-9]+|gclid|fbclid)=')), '&') END AS q2
        FROM parts),
        dom AS (SELECT doc_id, sch, host, pth2, q2,
          regexp_replace(regexp_replace(host, ':[0-9]+$', ''), '\.+$', '')
            AS hp
        FROM norm),
        res AS (SELECT doc_id,
          CASE WHEN sch = '' THEN NULL
            ELSE sch || '://' || host || pth2 ||
              CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END END AS url_norm,
          CASE WHEN sch = '' THEN NULL
            WHEN hp = '' THEN NULL
            WHEN regexp_matches(hp, '^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$')
              THEN hp
            WHEN regexp_matches(hp,
                '\.(ac|co|com|edu|gov|net|org)\.(au|br|in|jp|kr|mx|nz|uk|za)$')
              THEN regexp_extract(hp, '([^.]+\.[^.]+\.[^.]+)$', 1)
            WHEN regexp_matches(hp, '\.')
              THEN regexp_extract(hp, '([^.]+\.[^.]+)$', 1)
            ELSE hp END AS domain
        FROM dom)"""

  /** Messy-URL column for the `url_psl_domain` row — a SEPARATE
    * generator from [[rawUrl]] (whose rows are already gated) covering
    * the rule classes only a real PSL resolves: a private multi-label
    * suffix (blogspot.com), wildcard (*.ck, *.kawasaki.jp), exception
    * (!www.ck, !city.kawasaki.jp), a 3-label private suffix
    * (s3.amazonaws.com), a trailing FQDN dot + port, an IPv4 literal,
    * an unlisted TLD (the PSL default rule), an unparseable string,
    * and an on-the-wire punycode IDN host (`xn--55qx5d.cn` = 公司.cn,
    * a real ICANN rule — resolved via the rule's inserted ACE twin). */
  private def rawUrlPsl: Column = {
    val m = col("doc_id") % 11
    val id = col("doc_id").cast("string")
    when(m === 0, concat(lit("https://"), col("source"),
        lit(".blogspot.com/post/"), id))
      .when(m === 1, concat(lit("http://shop."), col("source"),
        lit(".co.uk/x")))
      .when(m === 2, concat(lit("https://a.b."), col("source"),
        lit(".ck/x")))
      .when(m === 3, lit("http://www.ck/x"))
      .when(m === 4, lit("https://media.city.kawasaki.jp/x"))
      .when(m === 5, concat(lit("http://img."), col("source"),
        lit(".kawasaki.jp/x")))
      .when(m === 6, concat(lit("HTTP://CDN."), col("source"),
        lit(".COM.:80/x")))
      .when(m === 7, lit("http://10.2.3.4:8080/x"))
      .when(m === 8, concat(lit("https://assets."), col("source"),
        lit(".s3.amazonaws.com/k")))
      .when(m === 9, concat(lit("https://blog."), col("source"),
        lit(".xn--55qx5d.cn/p/"), id))
      .otherwise(concat(lit("not a url "), id))
  }

  /** The non-ASCII labels the [[rawUrlIdn]] generator embeds — the
    * vocabulary of the `idn_label_map` aux parquet (ulabel → UTS-46
    * ACE alabel, computed driver-side once by the SAME
    * IdnAscii.asciiLabel the engine evaluates; DuckDB has no IDNA
    * codec, so conversions ship precomputed while the per-label
    * split/map/reassemble and the whole PSL algorithm replay
    * engine-independently — the psl_lines twin-column precedent). */
  private val IdnGenLabels = Seq("中国", "公司", "faß")

  /** Messy-URL column for the `url_psl_domain_ascii` row: unicode-IRI,
    * on-the-wire punycode and MIXED spellings of the same registrable
    * domains (doc_id % 8) — cases 0/1 and 2/3 are spelling PAIRS that
    * must MERGE under the ACE key, case 4 is a mixed-form host, and
    * cases 5/6 pin the UTS-46 nontransitional deviation semantics
    * cross-engine: faß.de keys to xn--fa-hia.de, a DIFFERENT
    * registrable domain from fass.de (IDNA2003 would fold them). */
  private def rawUrlIdn: Column = {
    val m = col("doc_id") % 8
    val id = col("doc_id").cast("string")
    when(m === 0, concat(lit("https://news.中国/a/"), id))
      .when(m === 1, concat(lit("https://news.xn--fiqs8s/a/"), id))
      // cases 2/3 share the g<k> subdomain (k from doc_id >> 3, the
      // SAME value for a 2-row and its sibling 3-row) so each
      // g<k>.公司.cn domain genuinely carries BOTH spellings —
      // keying on `source` here left the two classes on disjoint
      // subdomains and the merge property unexercised
      .when(m === 2, concat(lit("http://blog.g"),
        (shiftright(col("doc_id"), 3) % 3).cast("string"),
        lit(".公司.cn/x")))
      .when(m === 3, concat(lit("http://blog.g"),
        (shiftright(col("doc_id"), 3) % 3).cast("string"),
        lit(".xn--55qx5d.cn/x")))
      .when(m === 4, lit("https://shop.公司.xn--fiqs8s/x"))
      .when(m === 5, concat(lit("https://faß.de/p/"), id))
      .when(m === 6, concat(lit("https://fass.de/p/"), id))
      .otherwise(concat(lit("not a url "), id))
  }

  /** SQL twin of [[rawUrlIdn]] (CTE `u`). */
  private def rawUrlIdnSql: String =
    """u AS (SELECT doc_id, CASE CAST(doc_id % 8 AS INTEGER)
          WHEN 0 THEN 'https://news.中国/a/' || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'https://news.xn--fiqs8s/a/'
            || CAST(doc_id AS VARCHAR)
          WHEN 2 THEN 'http://blog.g' || CAST((doc_id >> 3) % 3 AS VARCHAR)
            || '.公司.cn/x'
          WHEN 3 THEN 'http://blog.g' || CAST((doc_id >> 3) % 3 AS VARCHAR)
            || '.xn--55qx5d.cn/x'
          WHEN 4 THEN 'https://shop.公司.xn--fiqs8s/x'
          WHEN 5 THEN 'https://faß.de/p/' || CAST(doc_id AS VARCHAR)
          WHEN 6 THEN 'https://fass.de/p/' || CAST(doc_id AS VARCHAR)
          ELSE 'not a url ' || CAST(doc_id AS VARCHAR) END AS url
        FROM documents)"""

  /** SQL twin of [[rawUrlPsl]] (CTE `u`). */
  private val rawUrlPslSql: String =
    """u AS (SELECT doc_id, CASE CAST(doc_id % 11 AS INTEGER)
          WHEN 0 THEN 'https://' || source || '.blogspot.com/post/'
            || CAST(doc_id AS VARCHAR)
          WHEN 1 THEN 'http://shop.' || source || '.co.uk/x'
          WHEN 2 THEN 'https://a.b.' || source || '.ck/x'
          WHEN 3 THEN 'http://www.ck/x'
          WHEN 4 THEN 'https://media.city.kawasaki.jp/x'
          WHEN 5 THEN 'http://img.' || source || '.kawasaki.jp/x'
          WHEN 6 THEN 'HTTP://CDN.' || source || '.COM.:80/x'
          WHEN 7 THEN 'http://10.2.3.4:8080/x'
          WHEN 8 THEN 'https://assets.' || source || '.s3.amazonaws.com/k'
          WHEN 9 THEN 'https://blog.' || source || '.xn--55qx5d.cn/p/'
            || CAST(doc_id AS VARCHAR)
          ELSE 'not a url ' || CAST(doc_id AS VARCHAR) END AS url
        FROM documents)"""

  /** One token of a generated-HTML shell: a literal fragment, the
    * doc_id, the source column, or the document text. The shells are
    * DATA so the Spark generator and its SQL twin assemble from the
    * SAME fragments — the HtmlOps.Steps discipline applied to the
    * test harness too ([[rawHtml]]/[[rawHtmlSql]] and
    * [[rawHtmlLinks]]/[[rawHtmlLinksSql]] are all emitted from one
    * token list each by [[htokColumn]]/[[htokSql]]). */
  private sealed trait HTok
  private final case class HLit(s: String) extends HTok
  private case object HId extends HTok
  private case object HSrc extends HTok
  private case object HText extends HTok

  private def htokColumn(toks: Seq[HTok]): Column = concat(toks.map {
    case HLit(t) => lit(t)
    case HId => col("doc_id").cast("string")
    case HSrc => col("source")
    case HText => col("text")
  }: _*)

  private def htokSql(toks: Seq[HTok]): String = toks.map {
    case HLit(t) => HtmlOps.sqlLit(t)
    case HId => "CAST(doc_id AS VARCHAR)"
    case HSrc => "source"
    case HText => "text"
  }.mkString(" || ")

  /** The six shells of the `text_extract` generator, one per rule
    * class of the extraction chain: full page (script/style/comment,
    * title+h1 blocks), entity soup, bare passthrough prose, table
    * cells, uppercase tags with attribute runs + inline tags, and
    * whitespace abuse (leading/trailing/blank-run). */
  private def htmlShells: Seq[Seq[HTok]] = Seq(
    Seq(HLit("<!DOCTYPE html><html><head><title>Doc "), HId,
      HLit("</title><style type=\"text/css\">p { color: #fff; }" +
        "</style><script>var x = 1 < 2 && \"a&b\";</script></head>" +
        "<body><h1>Doc "), HId, HLit("</h1><p>"), HText,
      HLit("</p><!-- trailing comment --></body></html>")),
    Seq(HLit("<p>Fish &amp; chips &lt;tag&gt; &quot;quoted&quot; " +
      "&#39;s&nbsp;end</p><ul><li>"), HText,
      HLit("</li><li>two</li></ul>")),
    Seq(HText),
    Seq(HLit("<table><tr><td>"), HText,
      HLit("</td><td>x &gt; y</td></tr></table>")),
    Seq(HLit("<DIV CLASS=\"a\" data-x=\"1\">"), HText,
      HLit(" <B>bo</B>ld <a href=\"/x?a=1&b=2\">link</a></DIV>")),
    Seq(HLit("  <p>\n\n\n   "), HText,
      HLit("\t</p>\n\n\n\n<p>next   block</p>  ")))

  /** Messy-HTML column for the `text_extract` row. */
  private def rawHtml: Column = {
    val m = col("doc_id") % 6
    def of(i: Int): Column = htokColumn(htmlShells(i))
    when(m === 0, of(0)).when(m === 1, of(1)).when(m === 2, of(2))
      .when(m === 3, of(3)).when(m === 4, of(4)).otherwise(of(5))
  }

  /** SQL twin of [[rawHtml]], assembled from the same shell tokens
    * (literal newlines/tabs embed directly in the SQL literals). */
  private def rawHtmlSql: String =
    (0 to 4).map(i => s"WHEN $i THEN ${htokSql(htmlShells(i))}")
      .mkString("CASE CAST(doc_id % 6 AS INTEGER) ", " ",
        s" ELSE ${htokSql(htmlShells(5))} END")

  /** Anchor-soup shell for the `html_links` row: double-quoted,
    * single-quoted, relative (→ NULL quarantine), uppercase,
    * UNQUOTED (envelope: not harvested), and a data-href decoy
    * (envelope: a non-href attribute merely ENDING in "href" must not
    * harvest). ONE token list; both engines assemble from it. */
  private def linkShell: Seq[HTok] = Seq(
    HLit("<p>See <a href=\"https://www."), HSrc,
    HLit(".com/a?utm_source=z&id="), HId,
    HLit("\">one</a> and <a href='http://blog."), HSrc,
    HLit(".co.uk:80/x'>two</a>, plus <a class=\"x\" href=\"/rel/"), HId,
    HLit("\">rel</a> and <A HREF=\"HTTPS://CDN."), HSrc,
    HLit(".NET/y\">four</A> and <a href=/plain/"), HId,
    HLit(">skip</a> and <a data-href=\"https://tracker."), HSrc,
    HLit(".example/t\">decoy</a>.</p>"))

  private def rawHtmlLinks: Column = htokColumn(linkShell)

  /** SQL twin of [[rawHtmlLinks]] — same tokens, by construction. */
  private def rawHtmlLinksSql: String = htokSql(linkShell)

  /** Header-metadata shells for the `html_meta` row (doc_id % 5):
    * lang/title/robots in lowercase-dq, UPPERCASE-sq, absent (bare
    * prose), REVERSED meta attribute order, and a DECOY case
    * (data-lang, name="robotsx", robots text inside a description
    * content) that must extract NOTHING — the envelope
    * oracle-checked in both engines. */
  private def metaShells: Seq[Seq[HTok]] = Seq(
    Seq(HLit("<!DOCTYPE html><html lang=\"en\"><head><title>Doc "),
      HId, HLit(" of "), HSrc,
      HLit("</title><meta name=\"robots\" content=\"index, follow\">" +
        "</head><body><p>"), HText, HLit("</p></body></html>")),
    Seq(HLit("<html LANG='zh-CN'><head><TITLE>doc "), HId,
      HLit("</TITLE><META NAME=\"robots\" " +
        "CONTENT=\"noindex, nofollow\"></head><body>"), HText,
      HLit("</body></html>")),
    Seq(HText),
    Seq(HLit("<html lang=\"de\"><meta content=\"NOINDEX\" " +
      "name=\"robots\"><title>Titel "), HId, HLit("</title><div>"),
      HText, HLit("</div></html>")),
    Seq(HLit("<html data-lang=\"xx\"><meta name=\"robotsx\" " +
      "content=\"noindex\"><meta name=\"description\" " +
      "content=\"robots noindex here\"><p>"), HText,
      HLit("</p></html>")))

  /** Page shells for the `quality_c4` row (doc_id % 3): a clean page
    * (6 sentences across 4 surviving lines — the no-punct, <3-word
    * and javascript lines drop), the clean page PLUS a lorem-ipsum
    * line (line-level SURVIVES — it is a proper sentence — but the
    * page drops), and PLUS a code line (the `;`-terminated line drops
    * at line level AND its `{` drops the page). */
  private def c4Shells: Seq[Seq[HTok]] = {
    val base = Seq[HTok](
      HText, HLit(" is the opening line of this page.\n" +
        "short line\n" +
        "Please enable JavaScript to view the comments.\n" +
        "The second sentence carries enough words! Really!\n" +
        "Ok.\n" +
        "A fifth sentence lands here. And a sixth one too.\n"),
      HText, HLit(" closes the page with one more proper sentence?"))
    Seq(
      base,
      base :+ HLit("\nLorem ipsum dolor sit amet."),
      base :+ HLit("\nvar config = { debug: true };"))
  }

  /** Page shells for the `html_main` row (doc_id % 3): a nav/footer
    * page (all-link lines drop, the prose line survives), an
    * inline-link paragraph below the density threshold (survives,
    * with a FORGED U+0001 in the prose that must be stripped — spans
    * cannot be faked from content), and an anchor spanning a block
    * boundary (the open line is all-linked and drops; the carry-close
    * line's prefix counts as linked; plain lines around it stay). */
  private def mainShells: Seq[Seq[HTok]] = Seq(
    Seq(HLit("<html><body><div><a href=\"/\">Home</a> " +
      "<a href=\"/about\">About</a> <a href=\"/contact\">Contact</a>" +
      "</div><p>"), HText,
      HLit(" carries the real article prose of this page with plenty " +
        "of plain words beyond any anchors.</p><div>" +
        "<a href=\"/privacy\">Privacy</a> <a href=\"/terms\">Terms</a>" +
        "</div></body></html>")),
    Seq(HLit("<p>"), HText,
      HLit(" mentions <a href=\"/x\">a link</a> inside a long " +
        "paragraph of otherwise plain \u0001 prose text that stays." +
        "</p>")),
    Seq(HLit("<p>plain intro line of honest words.</p><p>" +
      "<a href=\"/y\">linked start"), HId,
      HLit("<div>marker-free interior words</div>ends</a></p><p>"),
      HText, HLit(" closes with one more plain prose line.</p>")))

  private def rawHtmlMain: Column = {
    val m = col("doc_id") % 3
    def of(i: Int): Column = htokColumn(mainShells(i))
    when(m === 0, of(0)).when(m === 1, of(1)).otherwise(of(2))
  }

  /** SQL twin of [[rawHtmlMain]] — same tokens, by construction. */
  private def rawHtmlMainSql: String =
    (0 to 1).map(i => s"WHEN $i THEN ${htokSql(mainShells(i))}")
      .mkString("CASE CAST(doc_id % 3 AS INTEGER) ", " ",
        s" ELSE ${htokSql(mainShells(2))} END")

  /** Charset-decode scenarios for the `warc_charset` row — ONE
    * constant table serving the Spark payload generator, the DuckDB
    * twin's detection replay, and WarcCharsetSpec's JVM pin of every
    * (tailHex, charset) -> tailText decode. Fields: HTTP content-type
    * header value (null = not an HTTP payload), ASCII body prefix
    * (meta tags, prose), non-ASCII tail as hex, the tail's decoded
    * text under the scenario's resolved charset. Scenarios: cp1252
    * header; shift_jis header; gb2312 meta (GBK alias); ISO-8859-1
    * http-equiv (windows-1252 alias); UTF-8 BOM beating a shift_jis
    * header; UTF-16LE BOM; unknown label falling through to UTF-8;
    * invalid UTF-8 replaced; header beating meta; meta beyond the
    * 1024-byte prescan window; a non-HTTP payload with meta only. */
  private[graft] final case class CsCase(header: String, prefix: String,
                                         tailHex: String, tailText: String,
                                         http: Boolean = true)
  private[graft] val CsEnvPre = "HTTP/1.1 200 OK\r\nContent-Type: "
  private[graft] val CsEnvHeadTail = "\r\nX-Served-By: graft"
  private[graft] val CsEnvPost = CsEnvHeadTail + "\r\n\r\n"
  private[graft] val CsCases: Seq[CsCase] = Seq(
    CsCase("text/html; charset=windows-1252", "<p>Smart punctuation ",
      "93949685", "\u201c\u201d\u2013\u2026"),
    CsCase("text/html; charset=shift_jis", "<p>Japanese ",
      "93FA967B8CEA", "\u65e5\u672c\u8a9e"),
    CsCase("text/html",
      "<html><head><meta charset=gb2312></head><body>Chinese ",
      "D6D0CEC4", "\u4e2d\u6587"),
    CsCase("text/html",
      "<meta http-equiv=\"Content-Type\" content=\"text/html; " +
        "charset=ISO-8859-1\"><p>Euro ", "80", "\u20ac"),
    CsCase("text/html; charset=shift_jis", "",
      "EFBBBF68C3A96C6C6F", "h\u00e9llo"),
    CsCase("text/html", "", "FFFE68006900", "hi"),
    CsCase("text/plain; charset=x-klingon", "plain ascii stays ",
      "6F6B", "ok"),
    CsCase("text/plain", "broken ", "FF", "\ufffd"),
    CsCase("text/html; charset=windows-1252",
      "<meta charset=\"shift_jis\"><p>quote ", "92", "\u2019"),
    CsCase("text/html", ("x" * 1040) + "<meta charset=\"shift_jis\">" +
      "<p>late ", "93FA", "\ufffd\ufffd"),
    CsCase(null, "<meta charset=windows-1252><p>dash ", "97",
      "\u2014", http = false))

  private def rawC4Page: Column = {
    val m = col("doc_id") % 3
    def of(i: Int): Column = htokColumn(c4Shells(i))
    when(m === 0, of(0)).when(m === 1, of(1)).otherwise(of(2))
  }

  /** SQL twin of [[rawC4Page]] — same tokens, by construction. */
  private def rawC4PageSql: String =
    (0 to 1).map(i => s"WHEN $i THEN ${htokSql(c4Shells(i))}")
      .mkString("CASE CAST(doc_id % 3 AS INTEGER) ", " ",
        s" ELSE ${htokSql(c4Shells(2))} END")

  /** The `robots_eval` universe — FOUR robots.txt documents (star
    * group with overlapping allow/disallow + wildcard/$ rules; an
    * exact graftbot group that SHADOWS a disallow-all star group; a
    * star group reached only because the named group is another
    * bot's; an empty-disallow allow-all) and FIVE paths, keyed by
    * doc_id % 4 / % 5 (coprime — every (host, path) pair occurs).
    * The texts also carry crawl-delay/sitemap lines — invisible to
    * `robots_eval` (both engines filter to the three matching keys),
    * harvested by `robots_directives`.
    * ONE constant table serves the Column generators and the SQL
    * twins ([[HtmlOps.sqlLit]]); the whole RFC 9309 pipeline — parse,
    * grouping, selection, pattern translation, longest-match,
    * tie-to-allow — replays independently in DuckDB. */
  private val RobotsTexts = Seq(
    "User-agent: *\nCrawl-delay: 2.5\nDisallow: /private/\n" +
      "Allow: /private/open/\n# note\nDisallow: /*.pdf$\n" +
      "Sitemap: https://h0.example/sitemap.xml\n" +
      "Sitemap: https://h0.example/news.xml\n",
    "User-agent: graftbot\nCrawl-delay: 1\nDisallow: /tmp/\n" +
      "User-agent: *\nCrawl-delay: 10\nDisallow: /\n",
    "User-Agent: other\nDisallow: /\n\nUser-agent: *\n" +
      "Allow: /public\nSitemap: /sm.xml\nCrawl-delay: fast\n" +
      "Disallow: /pub\n",
    "User-agent: *\nDisallow:\n")
  private val RobotsPaths = Seq(
    "/private/x.html", "/private/open/y", "/files/a.pdf",
    "/public/page.html", "/tmp/z")

  private def robotsHost: Column =
    concat(lit("h"), (col("doc_id") % 4).cast("string"), lit(".example"))
  private val robotsHostSql =
    "'h' || CAST(doc_id % 4 AS VARCHAR) || '.example'"

  private def rawRobotsTxt: Column = {
    val m = col("doc_id") % 4
    when(m === 0, lit(RobotsTexts(0))).when(m === 1, lit(RobotsTexts(1)))
      .when(m === 2, lit(RobotsTexts(2))).otherwise(lit(RobotsTexts(3)))
  }
  private def rawRobotsTxtSql: String =
    (0 to 2).map(i => s"WHEN $i THEN ${HtmlOps.sqlLit(RobotsTexts(i))}")
      .mkString("CASE CAST(doc_id % 4 AS INTEGER) ", " ",
        s" ELSE ${HtmlOps.sqlLit(RobotsTexts(3))} END")

  private def rawRobotsPath: Column = {
    val m = col("doc_id") % 5
    when(m === 0, lit(RobotsPaths(0))).when(m === 1, lit(RobotsPaths(1)))
      .when(m === 2, lit(RobotsPaths(2))).when(m === 3, lit(RobotsPaths(3)))
      .otherwise(lit(RobotsPaths(4)))
  }
  private def rawRobotsPathSql: String =
    (0 to 3).map(i => s"WHEN $i THEN ${HtmlOps.sqlLit(RobotsPaths(i))}")
      .mkString("CASE CAST(doc_id % 5 AS INTEGER) ", " ",
        s" ELSE ${HtmlOps.sqlLit(RobotsPaths(4))} END")

  private def rawHtmlMeta: Column = {
    val m = col("doc_id") % 5
    def of(i: Int): Column = htokColumn(metaShells(i))
    when(m === 0, of(0)).when(m === 1, of(1)).when(m === 2, of(2))
      .when(m === 3, of(3)).otherwise(of(4))
  }

  /** SQL twin of [[rawHtmlMeta]] — same tokens, by construction. */
  private def rawHtmlMetaSql: String =
    (0 to 3).map(i => s"WHEN $i THEN ${htokSql(metaShells(i))}")
      .mkString("CASE CAST(doc_id % 5 AS INTEGER) ", " ",
        s" ELSE ${htokSql(metaShells(4))} END")

  /** The FULL committed Public Suffix List, re-parsed by DuckDB from
    * the verbatim artifact lines (Verify dumps the classpath resource
    * line-split into `$AuxDir/psl_lines` parquet — one source of
    * truth, two independent rule parsers) — plus an independent replay
    * of the PSL algorithm over `dom.hp`. Each IDN rule's precomputed
    * punycode twin (`line_ascii`, the UrlOps.withPunycodeTwins form —
    * DuckDB has no IDNA codec) is unioned into the rule table so
    * on-the-wire `xn--` hosts resolve like their unicode twins. At
    * ~9.5k rules the r12 per-rule CROSS JOIN probe would
    * be |docs|·|rules| rows, so the replay is the SUFFIX-JOIN form:
    * every suffix of a host (≤ its label count) equi-joins the rule
    * table — a rule matches iff one of the host's suffixes IS the
    * rule's text, a wildcard additionally needs the suffix PROPER
    * (i > 1: the star consumed a real label). Exception prevails at
    * (labels − 1), else max labels (wildcard counting its star), else
    * the default rule's 1; registrable = suffix + one label, NULL when
    * the host IS a public suffix. Leaves `psl` (doc_id, psl_l) in
    * scope; expects `dom`. */
  private def pslChainSql: String =
    s"""psl_raw AS (SELECT trim(line) AS line, line_ascii
          FROM '$AuxDir/psl_lines/*.parquet'),
        rule_lines AS (
          SELECT line FROM psl_raw
            WHERE line <> '' AND line NOT LIKE '//%'
          UNION
          SELECT line_ascii AS line FROM psl_raw
            WHERE line_ascii IS NOT NULL),
        rules AS (SELECT
            CASE WHEN line LIKE '!%' THEN substr(line, 2)
                 WHEN line LIKE '*.%' THEN substr(line, 3)
                 ELSE line END AS rule,
            line LIKE '*.%' AS wild, line LIKE '!%' AS exc
          FROM rule_lines),
        rules2 AS (SELECT rule, len(string_split(rule, '.')) AS nlab,
            wild, exc FROM rules),
        hsuf AS (SELECT doc_id, i,
            array_to_string(list_slice(labs, i, nl), '.') AS suf
          FROM (SELECT doc_id, labs, nl, unnest(range(1, nl + 1)) AS i
                FROM (SELECT doc_id, string_split(hp, '.') AS labs,
                        len(string_split(hp, '.')) AS nl FROM dom))),
        probes AS (SELECT h.doc_id,
            MAX(CASE WHEN NOT r.exc AND NOT r.wild THEN r.nlab
                  WHEN r.wild AND h.i > 1 THEN r.nlab + 1
                  ELSE NULL END) AS norm_l,
            MAX(CASE WHEN r.exc THEN r.nlab - 1 ELSE NULL END) AS exc_l
          FROM hsuf h JOIN rules2 r ON h.suf = r.rule
          GROUP BY h.doc_id),
        psl AS (SELECT d.doc_id, COALESCE(p.exc_l, p.norm_l, 1) AS psl_l
          FROM dom d LEFT JOIN probes p USING (doc_id))"""

  /** Parameters shared by the PQ queries, their aux codebook, and the
    * oracles — owned by [[PqStage]], which also stages the trained
    * artifacts the search queries consume. */
  private val PqSub = PqStage.Sub
  private val PqDim = PqStage.Dim
  private val PqK = PqStage.K
  private val PqIters = PqStage.Iters

  /** Write the raw-hash aux tables for the current scale factor. Called by
    * Verify before the query dump; NOT part of any benched query. */
  def writeOracleAux(s: SparkSession, dir: String,
                     auxDir: String = DefaultAuxDir): Unit = {
    val AuxDir = auxDir // shadow the token for the writes below
    import s.implicits._
    // the full Public Suffix List, line-verbatim from the classpath
    // resource the Spark trie compiles from, as a one-row-per-line
    // parquet (every aux entry must BE parquet — the driver's aux
    // check scans the whole dir as parquet tables; a raw .dat here
    // errored the r13 oracle_aux row). The oracle re-parses the rule
    // syntax and re-derives the whole algorithm from these verbatim
    // lines; only the line split is done here. `line_ascii` is each
    // IDN rule line's punycode twin (None for ASCII/comment lines) —
    // DuckDB has no IDNA codec, so the twin ships precomputed like
    // the xxhash64 aux tables do, and the oracle unions both forms
    // exactly as UrlOps.withPunycodeTwins does.
    // the driver's aux check parquet-scans the WHOLE dir, so its
    // invariant is "AuxDir contains only parquet tables this run
    // wrote". EVERY aux artifact is written by THIS function, so the
    // robust form is to recreate the dir per run — any stale leftover
    // (the pre-r14 raw psl_list.dat, a renamed artifact, a _temporary
    // dir from a killed run) vanishes instead of needing its own
    // hardcoded delete
    locally {
      val root = new org.apache.hadoop.fs.Path(AuxDir)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
    }
    val pslIn = getClass.getResourceAsStream("/psl/public_suffix_list.dat")
    require(pslIn != null, "psl list resource missing")
    val pslText =
      try new String(pslIn.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      finally pslIn.close()
    pslText.split("\n", -1).toSeq
      .map(l => (l, UrlOps.punycodeTwinLine(l).orNull))
      .toDF("line", "line_ascii")
      .coalesce(1).write.mode("overwrite").parquet(s"$AuxDir/psl_lines")
    // the url_psl_domain_ascii generator's label vocabulary with each
    // label's UTS-46 ACE form — the ONE engine-side conversion the
    // oracle consumes; the per-label mapping, host reassembly and PSL
    // resolution all replay in DuckDB (see IdnGenLabels)
    IdnGenLabels.map(l => (l, graft.functions.IdnAscii.asciiLabel(l)))
      .toDF("ulabel", "alabel")
      .coalesce(1).write.mode("overwrite").parquet(s"$AuxDir/idn_label_map")
    val docs = t(s, dir, "documents")
    // minhash: one row per (doc, shingle occurrence, hash family) with the
    // family hash fh = xxhash64(xxhash64(shingle), seed) — exactly the
    // value Dedup.minhashSignatures aggregates with min()
    Dedup.shingleRows(docs, "doc_id", "text", 3, distinct = false)
      .select(col("id"), xxhash64(col("shingle")).as("h"))
      .select(col("id"),
        explode(array((0 until MinhashK).map(lit): _*)).as("seed"),
        col("h"))
      .select(col("id"), col("seed"),
        xxhash64(col("h"), col("seed")).as("fh"))
      .write.mode("overwrite").parquet(s"$AuxDir/minhash_family")
    // simhash: distinct shingle hashes per doc (the bit-vote input) for
    // the dedup_simhash slice, plus the whole-text fingerprints
    val sDocs = docs.where(col("doc_id") < 100)
    Dedup.shingleRows(sDocs, "doc_id", "text", 3)
      .select(col("id"), xxhash64(col("shingle")).as("h"))
      .write.mode("overwrite").parquet(s"$AuxDir/simhash_shingle_hashes")
    // unigram (bag-of-words) distinct hashes — the feature granularity
    // the SimHash PAIRING query runs at (dedup_simhash_pairs): this
    // corpus' near-dups are word-order shuffles, disjoint at trigram
    // level but near-identical as word SETS
    Dedup.shingleRows(sDocs, "doc_id", "text", 1)
      .select(col("id"), xxhash64(col("shingle")).as("h"))
      .write.mode("overwrite").parquet(s"$AuxDir/simhash_unigram_hashes")
    sDocs.select(col("doc_id"),
        TextMetrics.fingerprint(col("text")).as("fingerprint"))
      .write.mode("overwrite").parquet(s"$AuxDir/doc_fp")
    // winnowing: POSITIONAL shingle hashes (id, pos, h) — the oracle
    // re-derives the sliding-window min fingerprints from document order
    Dedup.shingleRowsPos(sDocs, "doc_id", "text", 3)
      .select(col("id"), col("pos"), xxhash64(col("shingle")).as("h"))
      .write.mode("overwrite").parquet(s"$AuxDir/winnow_hashes")
    // LSH hyperplanes: the deterministic sin-table the LshBucket
    // expression tabulates, written from the SAME Math.sin so the oracle
    // is independent of DuckDB's libm
    import s.implicits._
    (0 until LshPlanes).flatMap(p => (0 until LshDim).map(j =>
        (p, j, math.sin(p * LshDim + j + 1.0))))
      .toDF("p", "j", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$AuxDir/lsh_planes")
    // sampling: raw id hash + bucket per document, for the stratified
    // and smallest-hash sampling oracles
    docs.select(col("doc_id"), xxhash64(col("doc_id")).as("h"),
        Sampling.hashBucket(col("doc_id"), 1000).as("bucket"))
      .write.mode("overwrite").parquet(s"$AuxDir/doc_bucket")
    // the embedding-side twin, for the cluster-quota sampling oracle
    t(s, dir, "embeddings")
      .select(col("vec_id"), xxhash64(col("vec_id")).as("h"))
      .write.mode("overwrite").parquet(s"$AuxDir/vec_bucket")
    // epoch-salted permutation keys, for the train_order oracle —
    // xxhash64(doc_id, epoch), exactly what Layout.epochShuffle ranks
    docs.select(col("doc_id"),
        explode(array((0 until 3).map(lit): _*)).as("epoch"))
      .select(col("doc_id"), col("epoch"),
        xxhash64(col("doc_id"), col("epoch")).as("h"))
      .write.mode("overwrite").parquet(s"$AuxDir/epoch_hashes")
    // decontamination: distinct shingle hashes for EVERY document (the
    // simhash table above covers only doc_id < 100)
    Dedup.shingleRows(docs, "doc_id", "text", 3)
      .select(col("id"), xxhash64(col("shingle")).as("h")).distinct()
      .write.mode("overwrite").parquet(s"$AuxDir/all_shingle_hashes")
    // count-min sketch: the (depth-row, bucket) coordinates of every
    // distinct event user — the oracle rebuilds the whole sketch from
    // the raw events joined through this table, then probes it
    val ev = t(s, dir, "events")
    ev.select(col("user_id")).distinct()
      .select(col("user_id"),
        explode(Sketches.cmsBuckets(col("user_id"), CmsDepth, CmsWidth))
          .as("rb"))
      .select(col("user_id"), col("rb.row").as("rw"),
        col("rb.bucket").as("bkt"))
      .write.mode("overwrite").parquet(s"$AuxDir/cms_buckets")
    // hyperloglog: the raw 64-bit key hash per (event_type, user) — the
    // oracle re-derives bucket, rank, registers, AND the estimate from
    // these with its own integer arithmetic
    ev.select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), xxhash64(col("user_id")).as("h"))
      .write.mode("overwrite").parquet(s"$AuxDir/hll_hashes")
    // product quantization: the trained codebook, exploded to
    // (sub, code, gi, c) with gi the GLOBAL dimension index. Training
    // itself is oracle-gated END-TO-END by the pq_train query (DuckDB
    // replays the full unrolled Lloyd — the cluster_kmeans pattern with
    // the subspace in every key); ENCODING and ADC SEARCH are re-derived
    // by the sim_pq_* oracles from this table. The codebook comes from
    // PqStage — the same staged artifact the search queries consume.
    val pqCb = PqStage.staged(s, dir).codebook
    pqCb
      .select(col("sub"), col("code"), posexplode(col("cv")).as(Seq("i", "c")))
      .select(col("sub"), col("code"),
        (col("sub") * (PqDim / PqSub) + col("i")).as("gi"), col("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$AuxDir/pq_codebook")
    // OPQ-lite: the Householder-rotated corpus (exact binary doubles —
    // parquet round-trips them bit-for-bit, so the oracle starts from
    // the IDENTICAL rotated values with no cross-engine float
    // accumulation on the rotation; the rotation itself is pinned
    // bitwise by OpqSpec) and the rotated-space codebook. The
    // sim_pq_adc_opq oracle re-derives encoding argmin + the whole ADC
    // ranking from these, like sim_pq_adc does from pq_codebook.
    val opq = PqStage.stagedOpq(s, dir)
    opq.rotated
      .select(col("vec_id"), posexplode(col("v")).as(Seq("gi", "x")))
      .write.mode("overwrite").parquet(s"$AuxDir/opq_vecs")
    opq.codebook
      .select(col("sub"), col("code"), posexplode(col("cv")).as(Seq("i", "c")))
      .select(col("sub"), col("code"),
        (col("sub") * (PqDim / PqSub) + col("i")).as("gi"), col("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$AuxDir/opq_codebook")
  }

  // ---- the inventory -----------------------------------------------------
  val all: Seq[Q] = Seq(

    // ======================= headline relational ==========================

    // TPC-H Q1 shape: multi-aggregate scan (A2/A12 analogue).
    Q("q1_pricing",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("sum_disc_price"),
            (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlDsum("l_quantity")} AS sum_qty,
        ${sqlDsum("l_extendedprice")} AS sum_base_price,
        ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
        ${sqlDsum("l_discount")} / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // TPC-H Q3 shape: 3-way join + agg + deterministic top-k (J1/J5).
    Q("q3_top_orders",
      (s, dir) => {
        val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, order_date
        ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // ================== A1: per-ring robust outlier stats =================
    // The engine's core operator (reference fmask.c:79-293): ring =
    // computed bin key, per-ring exact median + MAD, count outliers at
    // esdMul=3.0 with the <10-px ring guard.
    Q("a1_ring_outlier",
      (s, dir) => {
        val px = t(s, dir, "lineitem").select(
          (col("l_partkey") % 64).as("ring"),
          col("l_extendedprice").as("x"))
        // one-pass custom Aggregator: exact median+MAD in a single
        // shuffle (equality with the two-stage form is spec-tested;
        // measured ~2.5x faster at sf0.1)
        val stats = RobustStats.medianMadOnePass(px, Seq("ring"), "x")
        px.join(broadcast(stats), "ring")
          .where(col("n") >= 10)
          .groupBy(col("ring"))
          .agg(
            first(col("n")).as("n"),
            round(first(col("med")), 6).as("med"),
            round(first(col("mad")), 6).as("mad"),
            count(when(abs(col("x") - col("med")) >
              lit(3.0 * RobustStats.MadToSigma) * col("mad"), 1))
              .as("n_outliers"))
          .orderBy(col("ring"))
      },
      Some("""WITH t AS (
          SELECT l_partkey % 64 AS ring, l_extendedprice AS x FROM lineitem),
        med AS (SELECT ring, median(x) AS med, COUNT(*) AS n
                FROM t GROUP BY ring),
        dev AS (SELECT t.ring, t.x, med.med, med.n, abs(t.x - med.med) AS ad
                FROM t JOIN med USING (ring)),
        stats AS (SELECT ring, any_value(med) AS med, any_value(n) AS n,
                         median(ad) AS mad
                  FROM dev GROUP BY ring)
        SELECT s.ring, any_value(s.n) AS n,
          ROUND(any_value(s.med), 6) AS med, ROUND(any_value(s.mad), 6) AS mad,
          COUNT(CASE WHEN abs(t.x - s.med) > 3.0 * 1.4826 * s.mad
                THEN 1 END) AS n_outliers
        FROM t JOIN stats s USING (ring) WHERE s.n >= 10
        GROUP BY s.ring ORDER BY s.ring""")),

    // ============ A2: binned integration, 4 variants in one pass ==========
    // Reference does four bincount passes (pipeline.py:377-414); here all
    // variants are conditional aggregates in a single shuffle.
    Q("a2_integrate",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val corrected = col("l_extendedprice") * (lit(1) - col("l_discount"))
        val base = !(col("l_returnflag") === "R")
        val om = base && !(col("l_tax") > 0.06)
        val spots = om && !(col("l_discount") > 0.08)
        val arcs = om && !(col("l_linestatus") === "F")
        Histogram.integrate(
            li.withColumn("tth_bin", floor(col("l_quantity")).cast("int")),
            col("tth_bin"), corrected,
            Seq("base" -> base, "om" -> om, "spots" -> spots, "arcs" -> arcs))
          .withColumnRenamed("bin", "tth_bin")
          .orderBy(col("tth_bin"))
      },
      Some {
        def v(name: String, cond: String) =
          s"""CAST(SUM(CASE WHEN $cond THEN CAST(
              l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) END)
              AS DOUBLE) / COUNT(CASE WHEN $cond THEN 1 END) AS i_$name,
              COUNT(CASE WHEN $cond THEN 1 END) AS n_$name"""
        val base = "NOT (l_returnflag = 'R')"
        val om = s"$base AND NOT (l_tax > 0.06)"
        s"""SELECT CAST(FLOOR(l_quantity) AS INT) AS tth_bin,
          ${v("base", base)}, ${v("om", om)},
          ${v("spots", s"$om AND NOT (l_discount > 0.08)")},
          ${v("arcs", s"$om AND NOT (l_linestatus = 'F')")}
          FROM lineitem GROUP BY tth_bin ORDER BY tth_bin"""
      }),

    // ========== A3: per-cluster shape aggregates + classifier (C2) ========
    // Reference classification.py:373-444: per-label area, extent and
    // percentile spread drive the spot/arc/small decision.
    Q("a3_cluster_shape",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val agg = li.groupBy(col("l_suppkey").as("label"))
          .agg(
            count(lit(1)).as("area"),
            // both percentiles from ONE sort buffer (array form) instead
            // of two independent percentile aggregates
            percentile(col("l_extendedprice"),
              array(lit(0.1), lit(0.9))).as("q_raw"),
            (max(col("l_quantity")) - min(col("l_quantity"))).as("span"))
          .select(col("label"), col("area"), col("span"),
            element_at(col("q_raw"), 1).as("qlo_raw"),
            element_at(col("q_raw"), 2).as("qhi_raw"))
        agg.select(
            col("label"), col("area"),
            round(col("qlo_raw"), 6).as("qlo"),
            round(col("qhi_raw"), 6).as("qhi"),
            round(col("qhi_raw") - col("qlo_raw"), 6).as("dq"),
            col("span"),
            when(col("qhi_raw") - col("qlo_raw") < 60000 && col("span") > 40,
              lit(2)).when(col("area") > 550, lit(1)).otherwise(lit(0))
              .as("classifier"))
          .orderBy(col("label"))
      },
      Some("""WITH agg AS (
          SELECT l_suppkey AS label, COUNT(*) AS area,
            quantile_cont(l_extendedprice, 0.1) AS qlo_raw,
            quantile_cont(l_extendedprice, 0.9) AS qhi_raw,
            MAX(l_quantity) - MIN(l_quantity) AS span
          FROM lineitem GROUP BY l_suppkey)
        SELECT label, area, ROUND(qlo_raw, 6) AS qlo, ROUND(qhi_raw, 6) AS qhi,
          ROUND(qhi_raw - qlo_raw, 6) AS dq, span,
          CASE WHEN qhi_raw - qlo_raw < 60000 AND span > 40 THEN 2
               WHEN area > 550 THEN 1 ELSE 0 END AS classifier
        FROM agg ORDER BY label""")),

    // ====== A4: per-cluster max/min/median extents ========================
    // Reference split_grad_with_Q_groupby classification.py:510-516.
    Q("a4_cluster_extent",
      (s, dir) => {
        t(s, dir, "lineitem")
          .groupBy(col("l_suppkey").as("label"))
          .agg(max(col("l_quantity")).as("max_q"),
            min(col("l_quantity")).as("min_q"),
            round(median(col("l_quantity")), 6).as("median_q"))
          .orderBy(col("label"))
      },
      Some("""SELECT l_suppkey AS label, MAX(l_quantity) AS max_q,
          MIN(l_quantity) AS min_q,
          ROUND(median(l_quantity), 6) AS median_q
        FROM lineitem GROUP BY label ORDER BY label""")),

    // ====== J2: cluster aggregates joined back to member rows =============
    // Reference classification.py:528 (medianQ.loc[df['label']]): group
    // stats broadcast back onto the fact rows.
    Q("j2_label_joinback",
      (s, dir) => {
        val li = t(s, dir, "lineitem").where(col("l_orderkey") < 1000)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_suppkey").as("label"), col("l_extendedprice").as("x"))
        val med = li.groupBy(col("label"))
          .agg(median(col("x")).as("med"))
        li.join(broadcast(med), "label")
          .select(col("l_orderkey"), col("l_linenumber"), col("label"),
            col("x"), round(col("med"), 6).as("med"),
            round(abs(col("x") - col("med")), 6).as("abs_dev"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      Some("""WITH li AS (SELECT l_orderkey, l_linenumber,
            l_suppkey AS label, l_extendedprice AS x
          FROM lineitem WHERE l_orderkey < 1000),
        med AS (SELECT label, median(x) AS med FROM li GROUP BY label)
        SELECT l_orderkey, l_linenumber, label, x,
          ROUND(med, 6) AS med, ROUND(abs(x - med), 6) AS abs_dev
        FROM li JOIN med USING (label)
        ORDER BY l_orderkey, l_linenumber""")),

    // ====== A13: histogram densified against the full bin dimension =======
    // Reference mainUI/stats.py:115-117: value_counts densified into the
    // complete bin range (empty bins present with 0).
    Q("a13_dense_histogram",
      (s, dir) => {
        val counts = t(s, dir, "lineitem")
          .groupBy(floor(col("l_quantity") / 5).cast("int").as("bin"))
          .agg(count(lit(1)).as("n"))
        val bins = s.range(0, 11).select(col("id").cast("int").as("bin"))
        bins.join(counts, Seq("bin"), "left")
          .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"))
          .orderBy(col("bin"))
      },
      Some("""SELECT b.bin, COALESCE(c.n, 0) AS n
        FROM (SELECT UNNEST(range(0, 11)) AS bin) b
        LEFT JOIN (SELECT CAST(FLOOR(l_quantity / 5) AS INT) AS bin,
            COUNT(*) AS n FROM lineitem GROUP BY 1) c
          ON b.bin = c.bin
        ORDER BY b.bin""")),

    // ====== A5/A12: grouped percentile vs global scalar threshold =========
    // Reference classification.py:534-548: per-label 20th percentile
    // compared against a whole-frame 10th-percentile threshold.
    Q("a5_global_threshold",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // two scans, not rollup: rollup duplicates every row into the
        // grand-total group, whose single-task exact-percentile buffer
        // becomes the bottleneck (measured 1.7x slower at sf0.1).
        // The global leg runs the distributed rank-selection form (the
        // production classify-threshold path) so DuckDB gates it; the
        // grouped leg keeps the gather-sort aggregator — both
        // percentile implementations stay oracle-checked.
        val global = PercentileAgg.percentileSelect(
          li.select(col("l_extendedprice")), Nil, "l_extendedprice", 0.1,
          outCol = "g10_raw")
        li.groupBy(col("l_returnflag"))
          .agg(PercentileAgg
            .percentileExact(col("l_extendedprice"), 0.2).as("p20_raw"))
          .crossJoin(broadcast(global))
          .select(
            col("l_returnflag"),
            round(col("p20_raw"), 6).as("p20"),
            round(col("g10_raw"), 6).as("g10"),
            (col("p20_raw") < col("g10_raw") * 2.0).as("below"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
          ROUND(quantile_cont(l_extendedprice, 0.2), 6) AS p20,
          ROUND(g.g10_raw, 6) AS g10,
          quantile_cont(l_extendedprice, 0.2) < g.g10_raw * 2.0 AS below
        FROM lineitem CROSS JOIN (
          SELECT quantile_cont(l_extendedprice, 0.1) AS g10_raw
          FROM lineitem) g
        GROUP BY l_returnflag, g.g10_raw ORDER BY l_returnflag""")),

    // ====== A12b: GROUPED distributed rank-selection percentile ===========
    // a5 oracle-gates percentileSelect's GLOBAL leg; this gates the
    // grouped routing (per-group bucket histograms, split / small-gather
    // / recurse decided per group) against DuckDB's native
    // quantile_cont — the per-group answers must interpolate
    // identically whatever route each group took.
    Q("a12_group_percentile",
      (s, dir) => {
        val ev = t(s, dir, "events")
        PercentileAgg.percentileSelect(
            ev.select(col("event_type"), col("value")),
            Seq("event_type"), "value", 0.9, outCol = "p90_raw")
          .select(col("event_type"), round(col("p90_raw"), 6).as("p90"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
          ROUND(quantile_cont(value, 0.9), 6) AS p90
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ========= A7 + J1: broadcast dim join + per-group spot stats =========
    // Reference spottiness.py:30-46 (per-spot area/medianQ/intensity stats)
    // over the pixel ⋈ geometry broadcast-join shape.
    Q("a7_spot_stats",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = t(s, dir, "part")
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(
            count(lit(1)).as("area"),
            round(median(col("l_quantity")), 6).as("median_qty"),
            dsum(col("l_extendedprice")).as("intensity_sum"),
            max(col("l_extendedprice")).as("intensity_max"),
            (dsum(col("l_extendedprice")) / count(lit(1)))
              .as("intensity_mean"),
            max(when(col("p_size") > 40, 1).otherwise(0)).as("on_arc"))
          .orderBy(col("p_brand"))
      },
      Some(s"""SELECT p_brand, COUNT(*) AS area,
          ROUND(median(l_quantity), 6) AS median_qty,
          ${sqlDsum("l_extendedprice")} AS intensity_sum,
          MAX(l_extendedprice) AS intensity_max,
          ${sqlDsum("l_extendedprice")} / COUNT(*) AS intensity_mean,
          MAX(CASE WHEN p_size > 40 THEN 1 ELSE 0 END) AS on_arc
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand ORDER BY p_brand""")),

    // ====== A8 + J4: per-bin mean/std/median/MAD (two-stage MAD) ==========
    // Reference spottiness.py:49-61.
    Q("a8_grad_stats",
      (s, dir) => {
        val px = t(s, dir, "lineitem").select(
          floor(col("l_tax") * 100).cast("int").as("qbin"),
          col("l_extendedprice").as("x"))
        val mm = RobustStats.medianMadOnePass(px, Seq("qbin"), "x")
        val more = px.groupBy(col("qbin")).agg(
          dmean(col("x")).as("imean"),
          round(RobustStats.stddevDet(col("x"), count(lit(1))), 6)
            .as("istd"))
        mm.join(more, "qbin")
          .select(col("qbin"), col("n"), col("imean"), col("istd"),
            round(col("med"), 6).as("imed"), round(col("mad"), 6).as("imad"))
          .orderBy(col("qbin"))
      },
      Some("""WITH t AS (SELECT CAST(FLOOR(l_tax * 100) AS INT) AS qbin,
            l_extendedprice AS x FROM lineitem),
        med AS (SELECT qbin, median(x) AS med, COUNT(*) AS n FROM t
                GROUP BY qbin),
        mm AS (SELECT t.qbin, any_value(med.med) AS med, any_value(med.n) AS n,
                 median(abs(t.x - med.med)) AS mad
               FROM t JOIN med USING (qbin) GROUP BY t.qbin),
        more AS (SELECT qbin,
            CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) / COUNT(x) AS imean,
            ROUND(SQRT((CAST(SUM(CAST(x*x AS DECIMAL(28,6))) AS DOUBLE)
              - CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
                * CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
              / (COUNT(*) - 1)), 6) AS istd
          FROM t GROUP BY qbin)
        SELECT mm.qbin, mm.n, more.imean, more.istd,
          ROUND(mm.med, 6) AS imed, ROUND(mm.mad, 6) AS imad
        FROM mm JOIN more USING (qbin) ORDER BY qbin""")),

    // ===== A9: masked fraction + distinct labels per bin ==================
    // Reference spottiness.py:16-27.
    Q("a9_spottiness",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.groupBy(floor(col("l_quantity") / 5).cast("int").as("qband"))
          .agg(
            (count(when(col("l_discount") > 0.05, 1)).cast("double") /
              count(lit(1))).as("pct_masked"),
            countDistinct(col("l_suppkey")).as("n_labels"))
          .orderBy(col("qband"))
      },
      Some("""SELECT CAST(FLOOR(l_quantity / 5) AS INT) AS qband,
          CAST(COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS DOUBLE)
            / COUNT(*) AS pct_masked,
          COUNT(DISTINCT l_suppkey) AS n_labels
        FROM lineitem GROUP BY qband ORDER BY qband""")),

    // ====== A11/J5: cosine similarity current vs next vector ==============
    // Reference pipeline.py:546-553 (frame vs previous frame), as an
    // equi-self-join on adjacent ids over array columns.
    Q("a11_csim",
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(
          col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        val nxt = e.select((col("vec_id") - 1).as("vec_id"),
          col("v").as("v2"))
        e.join(nxt, "vec_id")
          .select(col("vec_id"),
            round(VectorOps.cosine(col("v"), col("v2")), 6).as("csim"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        p AS (SELECT a.vec_id, a.v AS va, b.v AS vb
              FROM e a JOIN e b ON b.vec_id = a.vec_id + 1),
        u AS (SELECT vec_id, UNNEST(va) AS x, UNNEST(vb) AS y FROM p),
        s AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS na, SUM(y*y) AS nb
              FROM u GROUP BY vec_id)
        SELECT vec_id, ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS csim
        FROM s ORDER BY vec_id""")),

    // ===== W1 analogue on vectors: per-group lag cosine series ============
    Q("a11_csim_window",
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("label"),
          VectorOps.toDouble(col("embedding")).as("v"))
        VectorOps.lagCosine(e, "v", Seq("label"), "vec_id")
          .select(col("vec_id"), col("label"),
            round(col("csim_prev"), 6).as("csim_prev"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        p AS (SELECT vec_id, label, v,
            COALESCE(LAG(v) OVER (PARTITION BY label ORDER BY vec_id), v) AS pv
          FROM e),
        u AS (SELECT vec_id, label, UNNEST(v) AS x, UNNEST(pv) AS y FROM p),
        s AS (SELECT vec_id, any_value(label) AS label, SUM(x*y) AS dot,
            SUM(x*x) AS na, SUM(y*y) AS nb FROM u GROUP BY vec_id)
        SELECT vec_id, label, ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS csim_prev
        FROM s ORDER BY vec_id""")),

    // ============ similarity search: brute-force top-k cosine =============
    Q("sim_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(
          col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        VectorOps.topKCosine(e.where(col("vec_id") < 5), e, "vec_id", "v", 3)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        pairs AS (SELECT q.qid, e.vec_id AS cand_id, q.qv, e.v AS cv
                  FROM q CROSS JOIN e WHERE e.vec_id != q.qid),
        u AS (SELECT qid, cand_id, UNNEST(qv) AS x, UNNEST(cv) AS y
              FROM pairs),
        sc AS (SELECT qid, cand_id, SUM(x*y) AS dot, SUM(x*x) AS na,
                 SUM(y*y) AS nb FROM u GROUP BY qid, cand_id),
        r AS (SELECT qid, cand_id,
                ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS sim FROM sc),
        rk AS (SELECT qid AS query_id, cand_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY sim DESC, cand_id) AS rnk FROM r)
        SELECT query_id, rnk, cand_id, sim FROM rk WHERE rnk <= 3
        ORDER BY query_id, rnk""")),

    // ============== margin-based kNN bitext mining ========================
    // The parallel-corpus mining recipe (Artetxe & Schwenk 2019 — the
    // LASER/CCMatrix pipeline): even-id vectors play the source
    // language, odd-id the target; each source is paired with its
    // highest-MARGIN target, where margin = cos / (mean of the two
    // k-neighborhood cosines) — raw cosine over-selects hub vectors,
    // margin cancels hubness. k-neighborhood means are exact
    // decimal(18,6) sums of 6-dp-rounded cosines (order-independent
    // cross-engine); the oracle replays cosines, both kNN means, the
    // margin, and the argmax ranking.
    Q("mine_bitext",
      (s, dir) => {
        val e = t(s, dir, "embeddings").select(
          col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        VectorOps.marginMine(
            e.where(col("vec_id") % 2 === 0 && col("vec_id") < 200),
            e.where(col("vec_id") % 2 === 1 && col("vec_id") < 200),
            "vec_id", "v", k = 4, topM = 1)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("src_id"))
      },
      Some("""WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id < 200),
        s AS (SELECT vec_id AS src_id, v AS sv FROM e WHERE vec_id % 2 = 0),
        tg AS (SELECT vec_id AS tgt_id, v AS tv FROM e WHERE vec_id % 2 = 1),
        pairs AS (SELECT src_id, tgt_id, sv, tv FROM s CROSS JOIN tg),
        u AS (SELECT src_id, tgt_id, UNNEST(sv) AS x, UNNEST(tv) AS y
              FROM pairs),
        sc0 AS (SELECT src_id, tgt_id, SUM(x*y) AS dot, SUM(x*x) AS na,
                  SUM(y*y) AS nb FROM u GROUP BY src_id, tgt_id),
        sc AS (SELECT src_id, tgt_id,
                 ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS cos FROM sc0),
        fr AS (SELECT src_id, tgt_id, cos, ROW_NUMBER() OVER (
                 PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS r
               FROM sc),
        fwd AS (SELECT src_id,
                  CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
                    / LEAST(COUNT(*), 4)
                    AS f FROM fr WHERE r <= 4 GROUP BY src_id),
        br AS (SELECT src_id, tgt_id, cos, ROW_NUMBER() OVER (
                 PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS r
               FROM sc),
        bwd AS (SELECT tgt_id,
                  CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
                    / LEAST(COUNT(*), 4)
                    AS b FROM br WHERE r <= 4 GROUP BY tgt_id),
        m AS (SELECT sc.src_id, sc.tgt_id, sc.cos,
                CASE WHEN (f + b) / 2 = 0 THEN 0.0
                  ELSE ROUND(sc.cos / ((f + b) / 2), 6) END AS margin
              FROM sc JOIN fwd USING (src_id) JOIN bwd USING (tgt_id)),
        rk AS (SELECT src_id, tgt_id, cos, margin, ROW_NUMBER() OVER (
                 PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rnk
               FROM m)
        SELECT src_id, rnk, tgt_id, cos, margin FROM rk WHERE rnk <= 1
        ORDER BY src_id""")),

    // ====== margin mining, CANDIDATE-FED (the 100 TB form) ===============
    // The same margin scorer over an LSH-bounded candidate pair table —
    // what CCMatrix-scale mining actually runs (billions × billions can
    // never go all-pairs): both corpora are hyperplane-bucketed
    // (5 sin-planes → 32 buckets) and only bucket-mates are ever scored,
    // an equi-join, never a cross. Margins use the min(candidates, k)
    // neighborhood mean (the Artetxe & Schwenk formula; a constant-k
    // divisor would inflate margins for sparsely-candidated vectors).
    // The oracle re-derives the buckets from the staged sin-plane table
    // (left-to-right list_inner_product = the LshBucket codegen loop),
    // the candidate join, and the whole margin chain.
    Q("mine_bitext_lsh",
      (s, dir) => {
        val e = t(s, dir, "embeddings").where(col("vec_id") < 200)
          .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        val src = e.where(col("vec_id") % 2 === 0)
        val tgt = e.where(col("vec_id") % 2 === 1)
        // the library's banded candidate generator at B=1: one 5-bit
        // band == the plain 5-plane bucket equi-join the oracle replays
        val pairs = VectorOps.lshBandedPairs(src, tgt, "vec_id", "v",
          dim = 64, planesPerBand = 5, bands = 1)
        VectorOps.marginMineOverPairs(pairs, src, tgt, "vec_id", "v",
            k = 4, topM = 1)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("src_id"))
      },
      Some(s"""WITH pl AS (SELECT p, list(w ORDER BY j) AS plane
            FROM '$AuxDir/lsh_planes/*.parquet' WHERE p < 5 GROUP BY p),
        e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id < 200),
        bk AS (SELECT vec_id, ANY_VALUE(v) AS v,
            CAST(SUM(CASE WHEN list_inner_product(v, plane) >= 0
              THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
          FROM e CROSS JOIN pl GROUP BY vec_id),
        s AS (SELECT vec_id AS src_id, v AS sv, bucket FROM bk
          WHERE vec_id % 2 = 0),
        tg AS (SELECT vec_id AS tgt_id, v AS tv, bucket FROM bk
          WHERE vec_id % 2 = 1),
        pairs AS (SELECT src_id, tgt_id, sv, tv FROM s JOIN tg
          USING (bucket)),
        u AS (SELECT src_id, tgt_id, UNNEST(sv) AS x, UNNEST(tv) AS y
              FROM pairs),
        sc0 AS (SELECT src_id, tgt_id, SUM(x*y) AS dot, SUM(x*x) AS na,
                  SUM(y*y) AS nb FROM u GROUP BY src_id, tgt_id),
        sc AS (SELECT src_id, tgt_id,
                 ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS cos FROM sc0),
        fr AS (SELECT src_id, tgt_id, cos, ROW_NUMBER() OVER (
                 PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS r
               FROM sc),
        fwd AS (SELECT src_id,
                  CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
                    / LEAST(COUNT(*), 4)
                    AS f FROM fr WHERE r <= 4 GROUP BY src_id),
        br AS (SELECT src_id, tgt_id, cos, ROW_NUMBER() OVER (
                 PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS r
               FROM sc),
        bwd AS (SELECT tgt_id,
                  CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
                    / LEAST(COUNT(*), 4)
                    AS b FROM br WHERE r <= 4 GROUP BY tgt_id),
        m AS (SELECT sc.src_id, sc.tgt_id, sc.cos,
                CASE WHEN (f + b) / 2 = 0 THEN 0.0
                  ELSE ROUND(sc.cos / ((f + b) / 2), 6) END AS margin
              FROM sc JOIN fwd USING (src_id) JOIN bwd USING (tgt_id)),
        rk AS (SELECT src_id, tgt_id, cos, margin, ROW_NUMBER() OVER (
                 PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rnk
               FROM m)
        SELECT src_id, rnk, tgt_id, cos, margin FROM rk WHERE rnk <= 1
        ORDER BY src_id""")),

    // ======= margin mining over BANDED LSH candidates (B = 2) ============
    // The recall lever under the oracle gate: two independent 5-plane
    // bands OR-ed (lshBandedPairs — candidates agree on ALL planes of
    // AT LEAST ONE band; measured B=1→4 lifts candidate recall@1
    // 0.33→0.63, SCALE_r11 §1). One 10-plane bucket per row, split
    // into 5-bit bands; the oracle re-derives both band keys from the
    // staged sin-plane table, the OR-union candidate join, and the
    // full margin chain.
    Q("mine_bitext_lsh2",
      (s, dir) => {
        val e = t(s, dir, "embeddings").where(col("vec_id") < 200)
          .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        val src = e.where(col("vec_id") % 2 === 0)
        val tgt = e.where(col("vec_id") % 2 === 1)
        val pairs = VectorOps.lshBandedPairs(src, tgt, "vec_id", "v",
          dim = 64, planesPerBand = 5, bands = 2)
        VectorOps.marginMineOverPairs(pairs, src, tgt, "vec_id", "v",
            k = 4, topM = 1)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("src_id"))
      },
      Some(s"""WITH pl AS (SELECT p, list(w ORDER BY j) AS plane
            FROM '$AuxDir/lsh_planes/*.parquet' WHERE p < 10 GROUP BY p),
        e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id < 200),
        bk AS (SELECT vec_id, ANY_VALUE(v) AS v,
            CAST(SUM(CASE WHEN list_inner_product(v, plane) >= 0
              AND p < 5 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS b0,
            CAST(SUM(CASE WHEN list_inner_product(v, plane) >= 0
              AND p >= 5 THEN 1::BIGINT << (p - 5) ELSE 0 END)
              AS BIGINT) AS b1
          FROM e CROSS JOIN pl GROUP BY vec_id),
        s AS (SELECT vec_id AS src_id, v AS sv, b0, b1 FROM bk
          WHERE vec_id % 2 = 0),
        tg AS (SELECT vec_id AS tgt_id, v AS tv, b0, b1 FROM bk
          WHERE vec_id % 2 = 1),
        pairs AS (SELECT src_id, tgt_id, ANY_VALUE(sv) AS sv,
            ANY_VALUE(tv) AS tv FROM (
          SELECT s.src_id, tg.tgt_id, s.sv, tg.tv FROM s
            JOIN tg ON s.b0 = tg.b0
          UNION
          SELECT s.src_id, tg.tgt_id, s.sv, tg.tv FROM s
            JOIN tg ON s.b1 = tg.b1) GROUP BY 1, 2),
        u AS (SELECT src_id, tgt_id, UNNEST(sv) AS x, UNNEST(tv) AS y
              FROM pairs),
        sc0 AS (SELECT src_id, tgt_id, SUM(x*y) AS dot, SUM(x*x) AS na,
                  SUM(y*y) AS nb FROM u GROUP BY src_id, tgt_id),
        sc AS (SELECT src_id, tgt_id,
                 ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS cos FROM sc0),
        fr AS (SELECT src_id, tgt_id, cos, ROW_NUMBER() OVER (
                 PARTITION BY src_id ORDER BY cos DESC, tgt_id) AS r
               FROM sc),
        fwd AS (SELECT src_id,
                  CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
                    / LEAST(COUNT(*), 4)
                    AS f FROM fr WHERE r <= 4 GROUP BY src_id),
        br AS (SELECT src_id, tgt_id, cos, ROW_NUMBER() OVER (
                 PARTITION BY tgt_id ORDER BY cos DESC, src_id) AS r
               FROM sc),
        bwd AS (SELECT tgt_id,
                  CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE)
                    / LEAST(COUNT(*), 4)
                    AS b FROM br WHERE r <= 4 GROUP BY tgt_id),
        m AS (SELECT sc.src_id, sc.tgt_id, sc.cos,
                CASE WHEN (f + b) / 2 = 0 THEN 0.0
                  ELSE ROUND(sc.cos / ((f + b) / 2), 6) END AS margin
              FROM sc JOIN fwd USING (src_id) JOIN bwd USING (tgt_id)),
        rk AS (SELECT src_id, tgt_id, cos, margin, ROW_NUMBER() OVER (
                 PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rnk
               FROM m)
        SELECT src_id, rnk, tgt_id, cos, margin FROM rk WHERE rnk <= 1
        ORDER BY src_id""")),

    // ====== embedding near-dup pairs: top-k most similar pairs ============
    // The embedding-cosine near-duplicate sweep: brute-force pair scores on
    // a bounded candidate set, ranked deterministically.
    Q("sim_neardup_pairs",
      (s, dir) => {
        val e = t(s, dir, "embeddings").where(col("vec_id") < 200)
          .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(VectorOps.cosine(col("va"), col("vb")), 6).as("cos"))
          .orderBy(col("cos").desc, col("id_a"), col("id_b"))
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id < 200),
        pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            a.v AS va, b.v AS vb
          FROM e a JOIN e b ON a.vec_id < b.vec_id),
        u AS (SELECT id_a, id_b, UNNEST(va) AS x, UNNEST(vb) AS y
              FROM pairs),
        sc AS (SELECT id_a, id_b, SUM(x*y) AS dot, SUM(x*x) AS na,
                 SUM(y*y) AS nb FROM u GROUP BY id_a, id_b)
        SELECT id_a, id_b,
          ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS cos
        FROM sc ORDER BY cos DESC, id_a, id_b LIMIT 20""")),

    // ====== near-dup GROUPS: connected components over the pair graph ====
    // The step a dedup pipeline actually needs after candidate pairs:
    // keep ONE doc per component, not per pair. Spark side runs the
    // distributed min-label propagation (Dedup.connectedGroups — one
    // shuffle join per iteration, O(component diameter) iterations); the
    // oracle spells the same fixpoint as a DuckDB recursive CTE
    // (transitive closure → min reachable id). Edges: cosine ≥ 0.30 on
    // the bounded candidate set; singletons keep their own id.
    Q("dedup_groups",
      (s, dir) => {
        val e = t(s, dir, "embeddings").where(col("vec_id") < 200)
          .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        val pairs = a.join(b, col("id_a") < col("id_b"))
          .where(round(VectorOps.cosine(col("va"), col("vb")), 6) >= 0.30)
          .select(col("id_a"), col("id_b"))
        graft.ops.Dedup.connectedGroups(pairs, "id_a", "id_b",
            nodes = Some(e.select(col("vec_id").as("id"))))
          .orderBy(col("id"))
      },
      Some("""WITH RECURSIVE e AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id < 200),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va,
            b.v AS vb FROM e a JOIN e b ON a.vec_id < b.vec_id),
        u AS (SELECT id_a, id_b, UNNEST(va) AS x, UNNEST(vb) AS y FROM p),
        sc AS (SELECT id_a, id_b, SUM(x*y) AS dot, SUM(x*x) AS na,
            SUM(y*y) AS nb FROM u GROUP BY id_a, id_b),
        ed0 AS (SELECT id_a, id_b FROM sc
            WHERE ROUND(dot/(SQRT(na)*SQRT(nb)), 6) >= 0.30),
        edges AS (SELECT id_a AS s, id_b AS d FROM ed0
          UNION ALL SELECT id_b, id_a FROM ed0),
        reach(id, r) AS (
          SELECT vec_id, vec_id FROM e
          UNION
          SELECT re.id, ed.d FROM reach re JOIN edges ed ON ed.s = re.r)
        SELECT id, MIN(r) AS group_id FROM reach GROUP BY id
        ORDER BY id""")),

    // ====== IVF-style pruned ANN: search only the query's cell ============
    // The scale path for similarity search: vectors are pre-assigned to
    // cells (here the label column = the coarse quantizer) and each query
    // probes ONE cell — an equi-join on the cell key replaces the
    // all-pairs scan (per-cell work, shuffle on the cell key only).
    Q("sim_ivf_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            VectorOps.toDouble(col("embedding")).as("v"))
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("label"),
            col("v").as("qv"))
        val scored = e.join(broadcast(q), Seq("label"))
          .where(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("cand_id"),
            round(VectorOps.cosine(col("qv"), col("v")), 6).as("sim"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("cand_id"))
        scored.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select(col("query_id"), col("rnk"), col("cand_id"), col("sim"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, label, v AS qv FROM e
              WHERE vec_id < 5),
        pairs AS (SELECT q.query_id, e.vec_id AS cand_id, q.qv, e.v AS cv
                  FROM q JOIN e USING (label)
                  WHERE e.vec_id != q.query_id),
        u AS (SELECT query_id, cand_id, UNNEST(qv) AS x, UNNEST(cv) AS y
              FROM pairs),
        sc AS (SELECT query_id, cand_id, SUM(x*y) AS dot, SUM(x*x) AS na,
                 SUM(y*y) AS nb FROM u GROUP BY query_id, cand_id),
        r AS (SELECT query_id, cand_id,
                ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS sim FROM sc),
        rk AS (SELECT query_id, cand_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, cand_id) AS rnk FROM r)
        SELECT query_id, rnk, cand_id, sim FROM rk WHERE rnk <= 3
        ORDER BY query_id, rnk""")),

    // ====== IVF multi-probe: query its cell AND the next-nearest cell =====
    // The standard recall lever over single-probe IVF: rank cells by
    // query→centroid cosine (centroids = decimal-routed per-dim means,
    // the vector_centroids recipe), probe the top 2, then score only
    // those cells' members. The centroid table is tiny, so its
    // query-cross-centroid ranking is a broadcast scalar product — the
    // corpus side still only ever joins on the cell key.
    Q("sim_ivf_multiprobe",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            VectorOps.toDouble(col("embedding")).as("v"))
        // staged coarse-quantizer metadata (PqStage.cellCentroids, the
        // SAME decimal-mean recipe the inline derivation used — a real
        // IVF index stores this; the search row times SEARCH, and the
        // r9 scan census stops charging the metadata scan per run)
        val cent = PqStage.cellCentroids(s, dir)
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val wp = Window.partitionBy(col("query_id"))
          .orderBy(col("psim").desc, col("label"))
        val probes = q.crossJoin(broadcast(cent))
          .select(col("query_id"), col("label"),
            round(VectorOps.cosine(col("qv"), col("cv")), 6).as("psim"))
          .withColumn("p", row_number().over(wp))
          .where(col("p") <= 2)
          .select(col("query_id"), col("label"))
        val scored = e
          .join(broadcast(probes.join(q, "query_id")), "label")
          .where(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("cand_id"),
            round(VectorOps.cosine(col("qv"), col("v")), 6).as("sim"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("cand_id"))
        scored.withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select(col("query_id"), col("rnk"), col("cand_id"), col("sim"))
          .orderBy(col("query_id"), col("rnk"))
      },
      Some("""WITH e AS (SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        cent0 AS (SELECT label, i,
            CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
          FROM (SELECT label, UNNEST(v) AS x,
              UNNEST(range(len(v))) AS i FROM e)
          GROUP BY label, i),
        cent AS (SELECT label, list(c ORDER BY i) AS cv FROM cent0
          GROUP BY label),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        pu AS (SELECT query_id, label, UNNEST(qv) AS x, UNNEST(cv) AS y
          FROM q CROSS JOIN cent),
        psc AS (SELECT query_id, label, SUM(x*y) AS dot, SUM(x*x) AS na,
            SUM(y*y) AS nb FROM pu GROUP BY query_id, label),
        probes AS (SELECT query_id, label FROM (
          SELECT query_id, label, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ROUND(dot/(SQRT(na)*SQRT(nb)), 6) DESC, label) AS p
          FROM psc) WHERE p <= 2),
        pairs AS (SELECT p.query_id, e.vec_id AS cand_id, q.qv, e.v AS cv2
          FROM probes p JOIN q USING (query_id)
          JOIN e ON e.label = p.label
          WHERE e.vec_id != p.query_id),
        u AS (SELECT query_id, cand_id, UNNEST(qv) AS x, UNNEST(cv2) AS y
          FROM pairs),
        sc AS (SELECT query_id, cand_id, SUM(x*y) AS dot, SUM(x*x) AS na,
            SUM(y*y) AS nb FROM u GROUP BY query_id, cand_id),
        rk AS (SELECT query_id, cand_id,
            ROUND(dot/(SQRT(na)*SQRT(nb)), 6) AS sim,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ROUND(dot/(SQRT(na)*SQRT(nb)), 6) DESC, cand_id)
              AS rnk
          FROM sc)
        SELECT query_id, rnk, cand_id, sim FROM rk WHERE rnk <= 3
        ORDER BY query_id, rnk""")),

    // ==================== W1: previous-row lookup =========================
    // Reference pipeline.py:506-553 — lag + first-row-compares-to-itself.
    Q("w1_lag",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("value"),
            coalesce(lag(col("value"), 1).over(w), col("value"))
              .as("prev_value"))
          .withColumn("delta", col("value") - col("prev_value"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, value,
          COALESCE(LAG(value) OVER (PARTITION BY user_id
            ORDER BY ts, event_id), value) AS prev_value,
          value - COALESCE(LAG(value) OVER (PARTITION BY user_id
            ORDER BY ts, event_id), value) AS delta
        FROM events ORDER BY user_id, event_id""")),

    // ==================== W2: first-row lookup ============================
    Q("w2_first",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("value"),
            first(col("value")).over(w).as("first_value"))
          .withColumn("drift", col("value") - col("first_value"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, value,
          FIRST_VALUE(value) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS first_value,
          value - FIRST_VALUE(value) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS drift
        FROM events ORDER BY user_id, event_id""")),

    // ============== W5: stride sampling via row_number ====================
    // Reference mainUI/contour.py:208-225 (contour stride downsampling).
    Q("w5_stride",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .where((col("rn") - 1) % 10 === 0)
          .select(col("user_id"), col("rn"), col("event_id"), col("value"))
          .orderBy(col("user_id"), col("rn"))
      },
      Some("""SELECT user_id, rn, event_id, value FROM (
          SELECT user_id, event_id, value,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS rn
          FROM events) WHERE (rn - 1) % 10 = 0
        ORDER BY user_id, rn""")),

    // ============== J7: anti-join membership check ========================
    // Reference mainUI/main_window.py:348-366 (files without results).
    Q("j7_cust_no_orders",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val n = t(s, dir, "nation")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_cust"))
          .orderBy(col("n_name"))
      },
      Some("""SELECT n_name, COUNT(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY n_name ORDER BY n_name""")),

    // ========== F1-F8: boolean mask algebra as conditional counts =========
    // Reference pipeline.py:148-165 (mask union/intersect/complement).
    Q("f2_mask_algebra",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val posp = col("l_quantity") > 0
        val thresh = col("l_extendedprice").between(1000, 50000)
        val rangep = col("l_tax").between(0.02, 0.06)
        val linep = col("l_linenumber") === 1
        li.groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(when(thresh || rangep, 1)).as("n_union"),
            count(when(thresh && !linep, 1)).as("n_inter_not"),
            count(when(!(posp && thresh), 1)).as("n_base_excluded"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n_rows,
          COUNT(CASE WHEN l_extendedprice BETWEEN 1000 AND 50000
            OR l_tax BETWEEN 0.02 AND 0.06 THEN 1 END) AS n_union,
          COUNT(CASE WHEN l_extendedprice BETWEEN 1000 AND 50000
            AND NOT (l_linenumber = 1) THEN 1 END) AS n_inter_not,
          COUNT(CASE WHEN NOT (l_quantity > 0
            AND l_extendedprice BETWEEN 1000 AND 50000) THEN 1 END)
            AS n_base_excluded
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ====== F5: point-in-polygon (even-odd crossing) ======================
    // Reference polymask.for:22-42: per-point even-odd ray test against a
    // broadcast vertex list — here a pure XOR-fold column expression, with
    // the identical fold mirrored in SQL.
    Q("f5_polygon_mask",
      (s, dir) => {
        val poly = OracleQueries.testPolygon
        val li = t(s, dir, "lineitem")
          .withColumn("px", col("l_quantity"))
          .withColumn("py", col("l_tax") * 500)
        li.groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            count(when(graft.core.MaskShape.Polygon.contains(
              col("px"), col("py"), poly), 1)).as("n_inside"))
          .orderBy(col("l_returnflag"))
      },
      Some {
        val poly = OracleQueries.testPolygon
        val n = poly.length
        val terms = (0 until n).map { i =>
          val (xi, yi) = poly(i)
          val (xj, yj) = poly((i + n - 1) % n)
          val slope = (xj - xi) / (yj - yi)
          s"((($yi > py) <> ($yj > py)) AND (px < (py - $yi) * $slope + $xi))"
        }
        val xorChain = terms.reduce((a, b) => s"($a <> $b)")
        s"""WITH t AS (SELECT l_returnflag, l_quantity AS px,
            l_tax * 500 AS py FROM lineitem)
          SELECT l_returnflag, COUNT(*) AS n,
            COUNT(CASE WHEN $xorChain THEN 1 END) AS n_inside
          FROM t GROUP BY l_returnflag ORDER BY l_returnflag"""
      }),

    // ====== M9/M10: wrap-aware azimuth wedge membership ===================
    // Reference classification.py:40-43 (modulo_range).
    Q("m9_wedge",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("azim", (col("event_id") * 7) % 360)
        val wrapped = ((col("azim") - 10) % 360 + 360) % 360
        ev.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            count(when(wrapped < 30 || wrapped > 330, 1)).as("n_in_wedge"),
            min(col("azim")).as("min_azim"),
            max(col("azim")).as("max_azim"))
          .orderBy(col("event_type"))
      },
      Some("""WITH t AS (SELECT event_type, (event_id * 7) % 360 AS azim
          FROM events)
        SELECT event_type, COUNT(*) AS n,
          COUNT(CASE WHEN ((azim - 10) % 360 + 360) % 360 < 30
            OR ((azim - 10) % 360 + 360) % 360 > 330 THEN 1 END)
            AS n_in_wedge,
          MIN(azim) AS min_azim, MAX(azim) AS max_azim
        FROM t GROUP BY event_type ORDER BY event_type""")),

    // =============== S3: include/exclude regex source filters =============
    Q("s3_regex_filter",
      (s, dir) => {
        t(s, dir, "documents")
          .where(col("source").rlike("^src[0-9]+$") &&
            !col("source").contains("7"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, COUNT(*) AS n_docs FROM documents
        WHERE regexp_matches(source, '^src[0-9]+$')
          AND source NOT LIKE '%7%'
        GROUP BY source ORDER BY source""")),

    // =================== dedup: exact content hashing =====================
    Q("dedup_exact",
      (s, dir) => {
        t(s, dir, "documents")
          .groupBy(col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text"))).as("n_unique"),
            (count(lit(1)) - countDistinct(md5(col("text"))))
              .as("n_dups"))
          .orderBy(col("source"))
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
          COUNT(DISTINCT md5(text)) AS n_unique,
          COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dups
        FROM documents GROUP BY source ORDER BY source""")),

    // ============ dedup: exact n-gram Jaccard pair similarity =============
    Q("dedup_ngram_jaccard",
      (s, dir) => {
        // materialize the shingle arrays: the self-join would otherwise
        // re-inline the shingle expression into every pair comparison
        // (CollapseProject), turning O(n) shingling into O(n^2)
        val d = Pins.pin(t(s, dir, "documents").where(col("doc_id") < 50)
          .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh")))
        val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
          .where(col("jaccard") >= 0.02)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d AS (SELECT doc_id,
            list_distinct([array_to_string(w[i:i+2], ' ')
              FOR i IN range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS w
                FROM documents WHERE doc_id < 50)),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
          FROM d a JOIN d b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.02
        ORDER BY id_a, id_b""")),

    // ===== dedup: MinHash-LSH near-dup candidates (rows-only check) =======
    Q("dedup_minhash",
      (s, dir) => {
        Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
            n = 3, k = 32, bands = 8)
          .select(col("id_a"), col("id_b"),
            round(col("est_jaccard"), 6).as("est_jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      // the min-per-seed signatures, banding, candidate pairing and
      // agreement scoring all re-derived in DuckDB from the
      // pre-materialized family hashes (equal band keys <=> equal
      // signature slices, xxhash64 being injective-in-practice)
      Some(s"""WITH fam AS (SELECT id, seed, fh
            FROM '$AuxDir/minhash_family/*.parquet'),
          sig AS (SELECT id, seed, MIN(fh) AS m FROM fam GROUP BY id, seed),
          sigl AS (SELECT id, list(m ORDER BY seed) AS sig
            FROM sig GROUP BY id),
          bands AS (SELECT id, b, sig[b*4+1:b*4+4] AS slc
            FROM sigl CROSS JOIN range(0, 8) t(b)),
          pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.slc = b.slc AND a.id < b.id),
          scored AS (SELECT p.id_a, p.id_b,
              ROUND(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0, 6)
                AS est_jaccard
            FROM pairs p
            JOIN sig sa ON sa.id = p.id_a
            JOIN sig sb ON sb.id = p.id_b AND sb.seed = sa.seed
            GROUP BY p.id_a, p.id_b)
        SELECT id_a, id_b, est_jaccard FROM scored
        ORDER BY id_a, id_b""")),

    // ===== dedup: the CANONICAL end-to-end text pipeline ==================
    // shingles → MinHash signatures → LSH bands → candidate pairs →
    // agreement filter (≥ 16/32 — exact dyadic, no float boundary) →
    // connected components → duplicate GROUPS. This is the query a
    // training-data pipeline actually runs; every stage above the raw
    // hash primitive is re-derived in DuckDB (signatures/bands from the
    // aux family table, components as a recursive closure). Output: one
    // row per document that has at least one kept near-dup edge, with
    // its group id (= min doc_id reachable).
    Q("dedup_minhash_groups",
      (s, dir) => {
        val cand = Dedup.minhashCandidates(t(s, dir, "documents"),
            "doc_id", "text", n = 3, k = 32, bands = 8)
          .where(col("est_jaccard") >= 0.5)
        graft.ops.Dedup.connectedGroups(cand, "id_a", "id_b")
          .orderBy(col("id"))
      },
      Some(s"""WITH RECURSIVE fam AS (SELECT id, seed, fh
            FROM '$AuxDir/minhash_family/*.parquet'),
          sig AS (SELECT id, seed, MIN(fh) AS m FROM fam GROUP BY id, seed),
          sigl AS (SELECT id, list(m ORDER BY seed) AS sig
            FROM sig GROUP BY id),
          bands AS (SELECT id, b, sig[b*4+1:b*4+4] AS slc
            FROM sigl CROSS JOIN range(0, 8) t(b)),
          pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.slc = b.slc AND a.id < b.id),
          kept AS (SELECT p.id_a, p.id_b
            FROM pairs p
            JOIN sig sa ON sa.id = p.id_a
            JOIN sig sb ON sb.id = p.id_b AND sb.seed = sa.seed
            GROUP BY p.id_a, p.id_b
            HAVING SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) >= 16),
          edges AS (SELECT id_a AS src, id_b AS dst FROM kept
            UNION ALL SELECT id_b, id_a FROM kept),
          nodes AS (SELECT DISTINCT src AS id FROM edges),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT re.id, ed.dst FROM reach re
              JOIN edges ed ON ed.src = re.r)
        SELECT id, MIN(r) AS group_id FROM reach GROUP BY id
        ORDER BY id""")),

    // ============== text analysis: per-language quality metrics ===========
    Q("text_quality",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .withColumn("words", TextMetrics.tokenCount(col("text")))
          .withColumn("the_ratio",
            TextMetrics.occ(col("text"), " the ") / col("words"))
        d.groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            (sum(col("n_chars")).cast("double") / count(lit(1)))
              .as("avg_chars"),
            (sum(col("words").cast("decimal(18,9)")).cast("double") /
              count(lit(1))).as("avg_words"),
            (sum(col("the_ratio").cast("decimal(18,9)")).cast("double") /
              count(lit(1))).as("avg_the_ratio"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(col("lang"))
      },
      Some("""WITH d AS (SELECT lang, n_chars,
            (length(text) - length(replace(text, ' ', ''))) / 1 + 1 AS words,
            ((length(text) - length(replace(text, ' the ', ''))) / 5)
              / ((length(text) - length(replace(text, ' ', ''))) / 1 + 1)
              AS the_ratio
          FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
          CAST(SUM(CAST(words AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
            AS avg_words,
          CAST(SUM(CAST(the_ratio AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
            AS avg_the_ratio,
          MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM d GROUP BY lang ORDER BY lang""")),

    // ========= text analysis: winnowing document fingerprints =============
    // The MOSS scheme: min shingle-hash per sliding window, deduped — a
    // position-robust fingerprint set (any shared window+n-1-word run
    // shares a fingerprint). Spark runs Dedup.winnowFingerprints (window
    // min over positional shingle hashes, one doc-id shuffle); the oracle
    // re-derives the same frame min over the pre-materialized positional
    // hash table, so the hash primitive is shared and the window/dedup
    // logic is checked cross-engine. Summarized per doc (count + xor)
    // to keep the compared table small while pinning every fingerprint.
    Q("text_winnow",
      (s, dir) => {
        val fp = graft.ops.Dedup.winnowFingerprints(
          t(s, dir, "documents").where(col("doc_id") < 100),
          "doc_id", "text", n = 3, window = 4)
        // bit_xor, not sum: a 64-bit-hash sum overflows a long (ANSI
        // refuses) and the decimal→double route hit a real engine
        // divergence — DuckDB's HUGEINT→DOUBLE cast rounds off-by-one-ulp
        // vs the correctly-rounded Java conversion. XOR is
        // order-independent, exact in int64, and pins every fingerprint.
        fp.groupBy(col("id").as("doc_id"))
          .agg(count(lit(1)).as("n_fp"),
            expr("bit_xor(fp)").as("fp_xor"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH wm AS (SELECT id,
            MIN(h) OVER (PARTITION BY id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
            COUNT(h) OVER (PARTITION BY id ORDER BY pos
              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wc
          FROM '$AuxDir/winnow_hashes/*.parquet'),
        fps AS (SELECT DISTINCT id, fp FROM wm WHERE wc = 4)
        SELECT id AS doc_id, COUNT(*) AS n_fp, BIT_XOR(fp) AS fp_xor
        FROM fps GROUP BY id ORDER BY doc_id""")),

    // ========= text analysis: marker-based language id (confusion) ========
    Q("lang_id",
      (s, dir) => {
        val markers = Seq(
          "en" -> Seq("the", "and", "of"),
          "de" -> Seq("der", "und", "die"),
          "fr" -> Seq("le", "et", "la"),
          "es" -> Seq("el", "y", "los"))
        t(s, dir, "documents")
          .withColumn("pred", TextMetrics.langId(col("text"), markers))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("pred"))
      },
      Some {
        def sc(ms: Seq[String]) = ms.map(m =>
          s"(length(text) - length(replace(text, ' $m ', ''))) / ${m.length + 2}")
          .mkString(" + ")
        s"""WITH sc AS (SELECT lang,
            ${sc(Seq("the", "and", "of"))} AS s_en,
            ${sc(Seq("der", "und", "die"))} AS s_de,
            ${sc(Seq("le", "et", "la"))} AS s_fr,
            ${sc(Seq("el", "y", "los"))} AS s_es
          FROM documents)
        SELECT lang,
          CASE WHEN s_es > GREATEST(s_en, s_de, s_fr) THEN 'es'
               WHEN s_fr > GREATEST(s_en, s_de) THEN 'fr'
               WHEN s_de > s_en THEN 'de' ELSE 'en' END AS pred,
          COUNT(*) AS n
        FROM sc GROUP BY lang, pred ORDER BY lang, pred"""
      }),

    // ====== W3: sorted neighbor-diff azimuth wraparound span ==============
    // Reference classification.py:659-666: sort azimuths per label, find
    // the largest gap; if it exceeds 10 deg the wedge wraps and the true
    // span is 360 - gap.
    Q("w3_azim_wraparound",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), ((col("event_id") * 7) % 360).as("azim"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("azim"))
        val gaps = ev
          .withColumn("prev_azim", lag(col("azim"), 1).over(w))
          .withColumn("gap", col("azim") - col("prev_azim"))
        gaps.groupBy(col("event_type"))
          .agg(max(col("gap")).as("max_gap"),
            (max(col("azim")) - min(col("azim"))).as("raw_span"))
          .withColumn("span",
            when(col("max_gap") > 10, lit(360) - col("max_gap"))
              .otherwise(col("raw_span")))
          .orderBy(col("event_type"))
      },
      Some("""WITH t AS (SELECT event_type, (event_id * 7) % 360 AS azim
          FROM events),
        g AS (SELECT event_type, azim,
            azim - LAG(azim) OVER (PARTITION BY event_type ORDER BY azim)
              AS gap FROM t),
        agg AS (SELECT event_type, MAX(gap) AS max_gap,
            MAX(azim) - MIN(azim) AS raw_span FROM g GROUP BY event_type)
        SELECT event_type, max_gap, raw_span,
          CASE WHEN max_gap > 10 THEN 360 - max_gap ELSE raw_span END AS span
        FROM agg ORDER BY event_type""")),

    // ===== embedding centroids per label (clustering primitive) ===========
    Q("vector_centroids",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding"))
            .as(Seq("i", "x")))
        e.groupBy(col("label"), col("i"))
          .agg(
            (sum(col("x").cast("double").cast("decimal(18,9)"))
              .cast("double") / count(lit(1))).as("centroid"),
            count(lit(1)).as("n"))
          .where(col("i") < 8) // first 8 dims keep the output small
          .orderBy(col("label"), col("i"))
      },
      Some("""WITH u AS (SELECT label,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS i
          FROM embeddings)
        SELECT label, i,
          CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
            AS centroid,
          COUNT(*) AS n
        FROM u WHERE i < 8 GROUP BY label, i ORDER BY label, i""")),

    // ====== LSH-bucketed ANN (scale path; rows-only check) ================
    // Random-hyperplane buckets co-locate cosine neighbours; per-bucket
    // stats demonstrate the shuffle shape (groupBy bucket instead of an
    // all-pairs join). Deterministic planes -> deterministic buckets.
    Q("sim_lsh_buckets",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            VectorOps.toDouble(col("embedding")).as("v"))
          .withColumn("bucket", VectorOps.lshBuckets(col("v"), dim = 64,
            nPlanes = 10))
        e.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_vecs"),
            countDistinct(col("label")).as("n_labels"),
            min(col("vec_id")).as("min_vec_id"))
          .where(col("n_vecs") > 1)
          .orderBy(col("bucket"))
      },
      // hyperplane bucketing re-derived in DuckDB over the materialized
      // sin-plane table; list_inner_product accumulates left-to-right like
      // the LshBucket codegen loop, so the sign tests are bit-exact
      Some(s"""WITH pl AS (SELECT p, list(w ORDER BY j) AS plane
            FROM '$AuxDir/lsh_planes/*.parquet' GROUP BY p),
          d AS (SELECT vec_id, label,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          bk AS (SELECT vec_id, ANY_VALUE(label) AS label,
              CAST(SUM(CASE WHEN list_inner_product(v, plane) >= 0
                THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
            FROM d CROSS JOIN pl GROUP BY vec_id)
        SELECT bucket, COUNT(*) AS n_vecs,
          COUNT(DISTINCT label) AS n_labels, MIN(vec_id) AS min_vec_id
        FROM bk GROUP BY bucket HAVING COUNT(*) > 1 ORDER BY bucket""")),

    // ====== random-projection (JL) shortlist + exact re-rank ANN ==========
    // The third classic ANN compressor next to IVF (prune by cell) and PQ
    // (prune by code size): project 64-float vectors onto 8 fixed
    // sin-directions (the lsh_planes family, p < 8), shortlist by reduced
    // cosine on the bounded-pair aggregator, exact-rerank only the
    // shortlist in full dimension. The oracle re-derives the directions
    // from the staged plane table and replays projection (left-to-right
    // list_inner_product = the codegen loop), both cosines, and both
    // rankings.
    Q("sim_rp_topk",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        VectorOps.topKCosineRp(e.where(col("vec_id") < 5), e, "vec_id", "v",
            dim = 64, rDim = 8, shortlist = 20, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy(col("query_id"), col("rnk"))
      },
      Some(s"""WITH pl AS (SELECT p, list(w ORDER BY j) AS dir
            FROM '$AuxDir/lsh_planes/*.parquet' WHERE p < 8 GROUP BY p),
          d AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          proj AS (SELECT d.vec_id, pl.p,
              list_inner_product(d.v, pl.dir) AS y
            FROM d CROSS JOIN pl),
          rp AS (SELECT vec_id, list(y ORDER BY p) AS rv
            FROM proj GROUP BY vec_id),
          q AS (SELECT vec_id AS query_id, rv AS qrv FROM rp
            WHERE vec_id < 5),
          sc AS (SELECT q.query_id, c.vec_id AS cand_id,
              ROUND(list_inner_product(q.qrv, c.rv) /
                (SQRT(list_inner_product(q.qrv, q.qrv)) *
                 SQRT(list_inner_product(c.rv, c.rv))), 6) AS rsim
            FROM q JOIN rp c ON c.vec_id <> q.query_id),
          short AS (SELECT query_id, cand_id FROM (SELECT query_id, cand_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rsim DESC, cand_id) AS r FROM sc) WHERE r <= 20),
          ex AS (SELECT s.query_id, s.cand_id,
              ROUND(list_inner_product(dq.v, dc.v) /
                (SQRT(list_inner_product(dq.v, dq.v)) *
                 SQRT(list_inner_product(dc.v, dc.v))), 6) AS sim
            FROM short s JOIN d dq ON dq.vec_id = s.query_id
            JOIN d dc ON dc.vec_id = s.cand_id)
        SELECT query_id, rnk, cand_id, sim FROM (SELECT query_id, cand_id,
            sim, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY sim DESC, cand_id) AS rnk FROM ex)
        WHERE rnk <= 5 ORDER BY query_id, rnk""")),

    // ====== dedup: SimHash fingerprints (rows-only check) =================
    Q("dedup_simhash",
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("doc_id") < 100)
        Dedup.simhashSignatures(docs, "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .join(docs.select(col("doc_id"),
            TextMetrics.fingerprint(col("text")).as("fingerprint")),
            "doc_id")
          .orderBy(col("doc_id"))
      },
      // the 64 bit-votes and the fingerprint assembly re-derived in
      // DuckDB from the materialized distinct shingle hashes; bit 63 is
      // spelled as the long min-value because 1<<63 overflows BIGINT
      Some(s"""WITH sh AS (SELECT id, h
            FROM '$AuxDir/simhash_shingle_hashes/*.parquet'),
          votes AS (SELECT id, j,
              SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM sh CROSS JOIN range(0, 64) t(j) GROUP BY id, j),
          sim AS (SELECT id AS doc_id,
              CAST(SUM(CASE WHEN v > 0 THEN
                  CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                       ELSE CAST(1::BIGINT << j AS HUGEINT) END
                ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY id)
        SELECT s.doc_id, s.simhash, f.fingerprint
        FROM sim s JOIN '$AuxDir/doc_fp/*.parquet' f
          ON f.doc_id = s.doc_id
        ORDER BY s.doc_id""")),

    // ====== dedup: SimHash Hamming-banded near-dup pairs ==================
    // The pairing path over the SimHash fingerprints (the cosine-flavoured
    // sibling of dedup_minhash's Jaccard banding, and the text twin of the
    // image aHash path — one shared banded assembly): 4×16-bit bands,
    // exact Hamming filter BELOW the pair exchange, pigeonhole-complete at
    // maxDist <= 3. Feature granularity is UNIGRAMS here: this corpus'
    // near-dups are word-order shuffles — trigram-disjoint but
    // near-identical as word sets, which is exactly the editing class
    // bag-of-features SimHash exists to catch (the trigram form is the
    // sequence-sensitive plagiarism variant, fingerprinted by
    // dedup_simhash). The oracle re-derives the fingerprints from the
    // materialized unigram hashes, replays the banding ((h>>16b)&0xFFFF —
    // the mask makes arithmetic-vs-logical shift of the sign bit moot),
    // and checks the same Hamming cut on XOR bit counts.
    Q("dedup_simhash_pairs",
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("doc_id") < 100)
        Dedup.simhashNearDupPairs(docs, "doc_id", "text", n = 1, maxDist = 3)
          .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH sh AS (SELECT id, h
            FROM '$AuxDir/simhash_unigram_hashes/*.parquet'),
          votes AS (SELECT id, j,
              SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
            FROM sh CROSS JOIN range(0, 64) t(j) GROUP BY id, j),
          sim AS (SELECT id,
              CAST(SUM(CASE WHEN v > 0 THEN
                  CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                       ELSE CAST(1::BIGINT << j AS HUGEINT) END
                ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY id),
          bands AS (SELECT id, simhash, b,
              (simhash >> (b * 16)) & 65535 AS key
            FROM sim CROSS JOIN range(0, 4) t(b)),
          pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
              CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS dist
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.key = b.key AND a.id < b.id)
        SELECT id_a, id_b, dist FROM pairs WHERE dist <= 3
        ORDER BY id_a, id_b""")),

    // ============ token-budget priority sampling (two-phase) ==============
    // "The best B tokens", not "the best N documents": walk the corpus in
    // descending priority, keep a document iff the strictly-preceding
    // cumulative token count is < budget. The engine runs the two-phase
    // form (bounded per-bucket totals to the driver, pure filter above
    // the boundary bucket, exact window only inside it — 1/1024 of the
    // corpus); the oracle replays the SEMANTIC as one global window
    // cumsum. Priority is integer-derived ((n_chars mod 997)/997 — one
    // exact division, identical doubles in both engines); tokens are the
    // whitespace count of text_tokens.
    Q("sample_token_budget",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("_pri", (col("n_chars") % 997).cast("double") / 997.0)
          .withColumn("_tok", TextMetrics.tokenCount(col("text")).cast("long"))
        Sampling.tokenBudgetSample(docs, col("doc_id"), col("_pri"),
            col("_tok"), budget = 20000L)
          .select(col("doc_id"), col("_tok").as("n_tokens"),
            round(col("_pri"), 6).as("priority"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id,
            (length(text) - length(replace(text, ' ', ''))) + 1 AS n_tokens,
            (n_chars % 997) / 997.0 AS pri
          FROM documents),
        cum AS (SELECT doc_id, n_tokens, pri,
            COALESCE(SUM(n_tokens) OVER (ORDER BY pri DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
          FROM tk)
        SELECT doc_id, n_tokens, ROUND(pri, 6) AS priority
        FROM cum WHERE bef < 20000 ORDER BY doc_id""")),

    // ============ domain-mixture sampling (Hamilton apportionment) ========
    // The mixture draw a fine-tuning/pre-training blend wants: target
    // proportions per language turned into integer quotas by
    // largest-remainder apportionment (driver arithmetic over 5 weights;
    // the oracle replays it in SQL — Σw through DECIMAL so the
    // normalizer is order-independent, then the same double multiply/
    // divide/floor and the same remainder ranking), then ONE bounded
    // two-phase draw at the largest quota with each language keeping its
    // own rank prefix through a broadcast quota table.
    Q("mix_domains",
      (s, dir) => {
        val weights = Seq("en" -> 0.35, "es" -> 0.20, "de" -> 0.20,
          "fr" -> 0.15, "zh" -> 0.10)
        val quotas = Sampling.apportion(weights, total = 50)
        Sampling.smallestHashSampleQuotas(t(s, dir, "documents"),
            col("lang"), col("doc_id"), quotas)
          .select(col("lang"), col("sample_rank"), col("doc_id"))
          .orderBy(col("lang"), col("sample_rank"))
      },
      Some(s"""WITH w(lang, wt) AS (VALUES ('en', 0.35), ('es', 0.20),
            ('de', 0.20), ('fr', 0.15), ('zh', 0.10)),
          tot AS (SELECT CAST(SUM(CAST(wt AS DECIMAL(8,4))) AS DOUBLE)
              AS sw FROM w),
          q AS (SELECT lang, 50 * CAST(wt AS DOUBLE) / sw AS x
            FROM w CROSS JOIN tot),
          fl AS (SELECT lang, CAST(floor(x) AS INTEGER) AS fq,
              x - floor(x) AS rem FROM q),
          need AS (SELECT 50 - SUM(fq) AS extra FROM fl),
          rk AS (SELECT lang, fq,
              ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS r FROM fl),
          quota AS (SELECT lang, fq + CASE WHEN r <= (SELECT extra
              FROM need) THEN 1 ELSE 0 END AS n FROM rk),
          hx AS (SELECT doc_id, h FROM '$AuxDir/doc_bucket/*.parquet'),
          ranked AS (SELECT d.lang, d.doc_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY d.lang
                ORDER BY hx.h, d.doc_id) AS INTEGER) AS sample_rank
            FROM documents d JOIN hx USING (doc_id))
        SELECT r.lang, r.sample_rank, r.doc_id
        FROM ranked r JOIN quota q ON q.lang = r.lang
        WHERE r.sample_rank <= q.n ORDER BY r.lang, r.sample_rank""")),

    // ============ token-denominated mixture (apportion + per-stratum ======
    // ============ token budgets) ==========================================
    // Training mixes are specified in TOKENS, not document counts: a
    // 15000-token total budget is apportioned across the language target
    // weights (same Hamilton arithmetic as mix_domains), then each
    // language runs its own priority-ordered token-budget walk — the
    // stratified two-phase form (per-(lang, bucket) bounded totals, pure
    // filter above each stratum's own boundary, exact window only inside
    // the boundary buckets, partitioned by lang). The oracle replays
    // apportionment AND the per-lang cumsum semantic in one query.
    Q("mix_token_budget",
      (s, dir) => {
        val weights = Seq("en" -> 0.35, "es" -> 0.20, "de" -> 0.20,
          "fr" -> 0.15, "zh" -> 0.10)
        val budgets = Sampling.apportion(weights, total = 15000)
          .map { case (k, n) => (k, n.toLong) }
        val docs = t(s, dir, "documents")
          .withColumn("_pri", (col("n_chars") % 997).cast("double") / 997.0)
          .withColumn("_tok", TextMetrics.tokenCount(col("text")).cast("long"))
        Sampling.tokenBudgetSampleByStratum(docs, col("lang"),
            col("doc_id"), col("_pri"), col("_tok"), budgets)
          .select(col("lang"), col("doc_id"), col("_tok").as("n_tokens"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH w(lang, wt) AS (VALUES ('en', 0.35), ('es', 0.20),
            ('de', 0.20), ('fr', 0.15), ('zh', 0.10)),
          tot AS (SELECT CAST(SUM(CAST(wt AS DECIMAL(8,4))) AS DOUBLE)
              AS sw FROM w),
          q AS (SELECT lang, 15000 * CAST(wt AS DOUBLE) / sw AS x
            FROM w CROSS JOIN tot),
          fl AS (SELECT lang, CAST(floor(x) AS BIGINT) AS fq,
              x - floor(x) AS rem FROM q),
          need AS (SELECT 15000 - SUM(fq) AS extra FROM fl),
          rk AS (SELECT lang, fq,
              ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS r FROM fl),
          budget AS (SELECT lang, fq + CASE WHEN r <= (SELECT extra
              FROM need) THEN 1 ELSE 0 END AS bt FROM rk),
          tk AS (SELECT doc_id, lang,
              (length(text) - length(replace(text, ' ', ''))) + 1
                AS n_tokens,
              (n_chars % 997) / 997.0 AS pri FROM documents),
          cum AS (SELECT doc_id, lang, n_tokens,
              COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
                ORDER BY pri DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS bef FROM tk)
        SELECT c.lang, c.doc_id, c.n_tokens
        FROM cum c JOIN budget b ON b.lang = c.lang
        WHERE c.bef < b.bt ORDER BY c.lang, c.doc_id""")),

    // ========= streaming-analytics shape: hourly event rollup =============
    // ts is read as epoch-nanos long (nanosAsLong); truncate to the hour
    // with exact integer arithmetic, format in the UTC session zone — the
    // oracle's date_trunc over the naive ns timestamp lands on the same
    // wall-clock hour.
    Q("events_hourly",
      (s, dir) => {
        val ev0 = t(s, dir, "events")
        val ev = ev0.withColumn("_ts_ns", tsNs(ev0))
        val hourSec = expr("_ts_ns DIV 3600000000000") * 3600
        ev.groupBy(
            date_format(timestamp_seconds(hourSec), "yyyy-MM-dd HH:mm")
              .as("hour"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some(s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M')
            AS hour, event_type, COUNT(*) AS n,
          ${sqlDsum("value")} AS value_sum
        FROM events GROUP BY hour, event_type ORDER BY hour, event_type""")),

    // ============ W5b: contour PIVOT (stride sample -> wide matrix) =======
    // Reference contour display pivots sampled frames x channels into a
    // dense matrix (mainUI/contour.py:228-268). Spark's relational pivot
    // with an explicit value list stays a single hash aggregate; the
    // oracle spells the same matrix with conditional aggregation.
    Q("w5_contour_pivot",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val bucket = concat(lit("h"), expr("_ts_ns DIV 3600000000000") % 6)
        ev.withColumn("_ts_ns", tsNs(ev))
          .where(col("user_id") < 200)
          .withColumn("b", bucket)
          .groupBy(col("user_id"))
          .pivot("b", (0 until 6).map(i => s"h$i"))
          .agg(round(coalesce(dsum(col("value")), lit(0.0)), 6))
          .orderBy(col("user_id"))
      },
      Some((0 until 6).map(i =>
          s"""ROUND(COALESCE(CAST(SUM(CAST(CASE WHEN
             (CAST(epoch_ns(ts) AS BIGINT) // 3600000000000) % 6 = $i
             THEN value END AS DECIMAL(18,4))) AS DOUBLE), 0), 6) AS h$i""")
        .mkString("SELECT user_id, ", ", ",
          " FROM events WHERE user_id < 200 GROUP BY user_id" +
          " ORDER BY user_id"))),

    // ============ A6: grad-cluster medians + wedge bounds =================
    // Reference: per gradient-cluster median azimuth and the 5*Qwidth cut
    // wedge around it (classification.py:563-580). Cluster proxy: events
    // by (event_type, user band); median value = the cut centre, wedge =
    // +/- 0.1 * median; members inside the wedge counted by a join-back —
    // the exact two-stage shape of the pipeline's cut computation.
    Q("a6_cluster_median_wedge",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_type"),
          (col("user_id") % 8).as("band"), col("value"))
        val med = ev.groupBy(col("event_type"), col("band"))
          .agg(percentile(col("value"), lit(0.5)).as("cut_centre"),
            count(lit(1)).as("n"))
        ev.join(med, Seq("event_type", "band"))
          .groupBy(col("event_type"), col("band"))
          .agg(first(col("n")).as("n"),
            round(first(col("cut_centre")), 6).as("cut_centre"),
            sum(when(abs(col("value") - col("cut_centre")) <
              col("cut_centre") * 0.1, 1).otherwise(0)).as("n_in_wedge"))
          .orderBy(col("event_type"), col("band"))
      },
      Some("""WITH ev AS (SELECT event_type, user_id % 8 AS band, value
          FROM events),
        med AS (SELECT event_type, band, median(value) AS cut_centre,
            COUNT(*) AS n FROM ev GROUP BY event_type, band)
        SELECT ev.event_type, ev.band, any_value(med.n) AS n,
          ROUND(any_value(med.cut_centre), 6) AS cut_centre,
          CAST(SUM(CASE WHEN ABS(ev.value - med.cut_centre) <
            med.cut_centre * 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_wedge
        FROM ev JOIN med USING (event_type, band)
        GROUP BY ev.event_type, ev.band
        ORDER BY ev.event_type, ev.band""")),

    // ================ skew: salted two-stage aggregation ==================
    // The 100 TB pattern for a hot key: fold most keys into one giant
    // group (every user_id >= 1000 lands on key 0 here), then aggregate
    // in two stages — (key, salt) partials first, so the hot key's rows
    // spread over 16 tasks, then combine per key. Decimal-routed sums are
    // associative, so the result is bit-identical to the direct GROUP BY
    // the oracle runs.
    Q("skew_salted_agg",
      (s, dir) => {
        val ev = t(s, dir, "events").select(
          when(col("user_id") >= 1000, lit(0L)).otherwise(col("user_id"))
            .as("key"),
          (col("event_id") % 16).as("salt"), col("value"))
        val partial = ev.groupBy(col("key"), col("salt"))
          .agg(sum(col("value").cast("decimal(18,4)")).as("psum"),
            count(lit(1)).as("pn"))
        partial.groupBy(col("key"))
          .agg(sum(col("psum")).cast("double").as("value_sum"),
            sum(col("pn")).as("n"))
          .orderBy(col("key"))
      },
      Some(s"""SELECT CASE WHEN user_id >= 1000 THEN 0 ELSE user_id END
            AS key, ${sqlDsum("value")} AS value_sum,
          COUNT(*) AS n
        FROM events GROUP BY key ORDER BY key""")),

    // ================ sessionization (gap-based) ==========================
    // The event-stream curation primitive: group each user's events into
    // sessions separated by > 2 h of silence, then roll each session up.
    // One shuffle on user_id for BOTH window passes and (same leading
    // key) the rollup — the minimum any per-key ordering pays.
    Q("events_sessionize",
      (s, dir) => {
        val ev0 = t(s, dir, "events")
        val ev = ev0.withColumn("_ts_ns", tsNs(ev0))
        Sessions.sessionStats(ev, Seq("user_id"), col("_ts_ns"),
            gapNs = 2L * 3600 * 1000000000L, valueCol = col("value"),
            tiebreak = Seq(col("event_id")))
          .orderBy(col("user_id"), col("session_idx"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, value,
            CAST(epoch_ns(ts) AS BIGINT) AS t FROM events),
          m AS (SELECT *, CASE WHEN LAG(t) OVER w IS NULL
                OR t - LAG(t) OVER w > 7200000000000 THEN 1 ELSE 0 END
                AS is_new
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
          sn AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
                ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS session_idx FROM m)
        SELECT user_id, session_idx, COUNT(*) AS n, MIN(t) AS start_ns,
          MAX(t) AS end_ns, MAX(t) - MIN(t) AS duration_ns,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        FROM sn GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx""")),

    // ==================== J8: backward as-of join =========================
    // Every non-purchase event matched to the SAME user's most recent
    // purchase at-or-before it (nulls when none) — the "latest quote per
    // trade" shape. The engine runs the union-scan form (AsofJoin: one
    // key exchange, no row amplification); the oracle is DuckDB's native
    // ASOF LEFT JOIN, so the two implementations are fully independent.
    Q("j8_asof",
      (s, dir) => {
        val ev0 = t(s, dir, "events")
        val ev = ev0.withColumn("_ts_ns", tsNs(ev0))
        val left = ev.where(col("event_type") =!= "purchase")
          .select(col("event_id"), col("user_id"), col("_ts_ns").as("t"))
        val right = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("_ts_ns").as("pt"),
            col("event_id").as("purchase_id"),
            col("value").as("purchase_value"))
        AsofJoin.backward(left, right, Seq("user_id"), "t", "pt",
            payload = Seq("purchase_id", "purchase_value"))
          .select(col("event_id"), col("user_id"), col("purchase_id"),
            col("purchase_value"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type, value,
            CAST(epoch_ns(ts) AS BIGINT) AS t FROM events),
          l AS (SELECT event_id, user_id, t FROM e
            WHERE event_type <> 'purchase'),
          r AS (SELECT user_id AS r_user, t AS pt,
            event_id AS purchase_id, value AS purchase_value FROM e
            WHERE event_type = 'purchase')
        SELECT l.event_id, l.user_id, r.purchase_id, r.purchase_value
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.r_user AND l.t >= r.pt
        ORDER BY l.event_id""")),

    // ============ heavy hitters: top-k terms per language =================
    // Exact per-stratum top-k: explode tokens, two-stage count (partial
    // map-side combine is free on the groupBy), rank inside each
    // language. The window partitions by language (few, large) — at
    // 100 TB the count table it ranks is |vocab x lang|, already reduced
    // by the aggregate, so the skewed window sees vocabulary-sized not
    // corpus-sized data.
    Q("text_topk_terms",
      (s, dir) => {
        val counts = t(s, dir, "documents")
          .select(col("lang"),
            explode(TextMetrics.tokens(col("text"))).as("token"))
          .groupBy(col("lang"), col("token"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("c").desc, col("token"))
        counts.withColumn("rk", row_number().over(w))
          .where(col("rk") <= 10)
          .orderBy(col("lang"), col("rk"))
      },
      Some("""WITH toks AS (SELECT lang,
            unnest(string_split(text, ' ')) AS token FROM documents),
          counts AS (SELECT lang, token, COUNT(*) AS c FROM toks
            GROUP BY lang, token)
        SELECT lang, token, c, rk FROM (
          SELECT lang, token, c, ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY c DESC, token) AS rk FROM counts)
        WHERE rk <= 10 ORDER BY lang, rk""")),

    // ======================== TF-IDF scoring ==============================
    // Per-document TF-IDF over a fixed query-term set: tf from the
    // exploded tokens, df/N from two bounded aggregates that broadcast
    // back onto the tf table. Determinism: the one ln() is rounded to
    // 6 dp BEFORE the product (pinning the single libm call), products
    // are exact doubles, and the per-doc sum routes through decimal.
    Q("text_tfidf",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val terms = Seq("hash", "join", "scan", "customer", "batch")
        // ONE corpus scan via the staged narrow per-doc projection —
        // the text_bm25 shape (SCALE_r09 §22): tf, df and N all read
        // the pinned table instead of re-executing the scan
        val perDoc = Pins.pin(docs.select(col("doc_id"),
            filter(TextMetrics.tokens(col("text")),
              tk => tk.isin(terms: _*)).as("qtoks")))
        val tf = perDoc
          .select(col("doc_id"), explode(col("qtoks")).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        val n = perDoc.agg(count(lit(1)).as("n_docs"))
        tf.join(broadcast(dfreq), "token")
          .crossJoin(broadcast(n))
          .withColumn("w",
            col("tf") * TextMetrics.idf(col("df"), col("n_docs")))
          .groupBy(col("doc_id"))
          .agg(sum(col("w").cast("decimal(18,6)")).cast("double")
            .as("tfidf"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id,
            unnest(string_split(text, ' ')) AS token FROM documents),
          tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks
            WHERE token IN ('hash','join','scan','customer','batch')
            GROUP BY doc_id, token),
          dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
          n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT tf.doc_id,
          CAST(SUM(CAST(tf.tf * (ROUND(LN((n.n_docs + 1.0) / (dfreq.df + 1))
            + 1.0, 6)) AS DECIMAL(18,6))) AS DOUBLE) AS tfidf
        FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
        GROUP BY tf.doc_id ORDER BY tf.doc_id""")),

    // ========== deterministic stratified sampling (rate-based) ============
    // Reproducible curation sampling: keep a document iff
    // xxhash64(doc_id) mod 1000 falls under its language's rate — a pure
    // filter, no shuffle, rerun-stable. The oracle reads the
    // pre-materialized bucket (DuckDB has no xxhash64) and re-applies
    // the threshold logic independently.
    Q("sample_stratified",
      (s, dir) => {
        Sampling.stratifiedSample(t(s, dir, "documents"), col("lang"),
            col("doc_id"), Map("en" -> 0.1, "zh" -> 0.5),
            defaultRate = 0.25)
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT d.doc_id, d.lang FROM documents d
        JOIN '$AuxDir/doc_bucket/*.parquet' b USING (doc_id)
        WHERE b.bucket < CASE WHEN d.lang = 'en' THEN 100
          WHEN d.lang = 'zh' THEN 500 ELSE 250 END
        ORDER BY d.doc_id""")),

    // ========== deterministic exact-N sampling (smallest-hash) ============
    // Exactly N docs per language: the N smallest id-hashes per stratum —
    // a uniform without-replacement draw, stable under reruns AND data
    // growth. The oracle re-ranks from the raw aux hashes.
    Q("sample_topn",
      (s, dir) => {
        Sampling.smallestHashSample(t(s, dir, "documents"), col("lang"),
            col("doc_id"), n = 20)
          .select(col("lang"), col("sample_rank"), col("doc_id"))
          .orderBy(col("lang"), col("sample_rank"))
      },
      Some(s"""SELECT lang, sample_rank, doc_id FROM (
          SELECT d.lang, d.doc_id, ROW_NUMBER() OVER (PARTITION BY d.lang
              ORDER BY b.h, d.doc_id) AS sample_rank
          FROM documents d
          JOIN '$AuxDir/doc_bucket/*.parquet' b USING (doc_id))
        WHERE sample_rank <= 20 ORDER BY lang, sample_rank""")),

    // Two-phase (bounded top-N aggregate) form of the SAME draw — the
    // huge-strata scale path (r8): map-side partial aggregation keeps at
    // most n (hash, id) pairs per stratum per task, so the exchange
    // moves pairs, not rows. Equivalence with the window form is
    // spec-pinned (SamplingSpec); the identical DuckDB oracle gates it
    // end to end here.
    Q("sample_topn_twophase",
      (s, dir) => {
        Sampling.smallestHashSampleTwoPhase(t(s, dir, "documents"),
            col("lang"), col("doc_id"), n = 20)
          .select(col("lang"), col("sample_rank"), col("doc_id"))
          .orderBy(col("lang"), col("sample_rank"))
      },
      Some(s"""SELECT lang, sample_rank, doc_id FROM (
          SELECT d.lang, d.doc_id, ROW_NUMBER() OVER (PARTITION BY d.lang
              ORDER BY b.h, d.doc_id) AS sample_rank
          FROM documents d
          JOIN '$AuxDir/doc_bucket/*.parquet' b USING (doc_id))
        WHERE sample_rank <= 20 ORDER BY lang, sample_rank""")),

    // ============ dedup: canonical-document selection ====================
    // The step after grouping that a curation pipeline actually ships:
    // within each near-dup group keep ONE representative (longest text,
    // ties to the smallest id) and record the group size. Groups are a
    // tiny table by construction, so the doc join and the per-group
    // window cost nothing at any corpus size.
    Q("dedup_canonical",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
            n = 3, k = 32, bands = 8)
          .where(col("est_jaccard") >= 0.5)
        val groups = Dedup.connectedGroups(cand, "id_a", "id_b")
        val g = groups.join(
          docs.select(col("doc_id").as("id"), col("n_chars")), "id")
        val w = Window.partitionBy(col("group_id"))
          .orderBy(col("n_chars").desc, col("id"))
        g.withColumn("rn", row_number().over(w))
          .groupBy(col("group_id"))
          .agg(count(lit(1)).as("n_members"),
            max(when(col("rn") === 1, col("id"))).as("canonical_id"),
            max(when(col("rn") === 1, col("n_chars")))
              .as("canonical_chars"))
          .orderBy(col("group_id"))
      },
      Some(s"""WITH RECURSIVE fam AS (SELECT id, seed, fh
            FROM '$AuxDir/minhash_family/*.parquet'),
          sig AS (SELECT id, seed, MIN(fh) AS m FROM fam GROUP BY id, seed),
          sigl AS (SELECT id, list(m ORDER BY seed) AS sig
            FROM sig GROUP BY id),
          bands AS (SELECT id, b, sig[b*4+1:b*4+4] AS slc
            FROM sigl CROSS JOIN range(0, 8) t(b)),
          pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.slc = b.slc AND a.id < b.id),
          kept AS (SELECT p.id_a, p.id_b
            FROM pairs p
            JOIN sig sa ON sa.id = p.id_a
            JOIN sig sb ON sb.id = p.id_b AND sb.seed = sa.seed
            GROUP BY p.id_a, p.id_b
            HAVING SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) >= 16),
          edges AS (SELECT id_a AS src, id_b AS dst FROM kept
            UNION ALL SELECT id_b, id_a FROM kept),
          nodes AS (SELECT DISTINCT src AS id FROM edges),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT re.id, ed.dst FROM reach re
              JOIN edges ed ON ed.src = re.r),
          grp AS (SELECT id, MIN(r) AS group_id FROM reach GROUP BY id),
          gd AS (SELECT g.group_id, g.id, d.n_chars,
            ROW_NUMBER() OVER (PARTITION BY g.group_id
              ORDER BY d.n_chars DESC, g.id) AS rn
            FROM grp g JOIN documents d ON d.doc_id = g.id)
        SELECT group_id, COUNT(*) AS n_members,
          MAX(CASE WHEN rn = 1 THEN id END) AS canonical_id,
          MAX(CASE WHEN rn = 1 THEN n_chars END) AS canonical_chars
        FROM gd GROUP BY group_id ORDER BY group_id""")),

    // ================ decontamination (eval-set overlap) ==================
    // Benchmark leakage scan: flag corpus documents sharing >= 5 distinct
    // word-3-gram hashes with the eval set (here: doc_id < 50 plays the
    // benchmark). The eval side of the join is broadcast — benchmark
    // sets are small by construction — so at 100 TB this is a map-side
    // semi-join over the corpus shingle stream, no corpus shuffle before
    // the per-doc count.
    Q("decontaminate",
      (s, dir) => {
        import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
        def hashRows(d: org.apache.spark.sql.DataFrame) =
          // row-local distinct shingle-hash ARRAY exploded — no
          // per-document window shuffle (bit-compatible with the
          // relational builder; ShingleExpressionsSpec + this oracle)
          d.select(col("doc_id").as("id"), explode(toCol(
            graft.functions.DistinctShingleHashes(toExpr(col("text")), 3)))
            .as("h"))
        val docs = t(s, dir, "documents")
        val evalH = hashRows(docs.where(col("doc_id") < 50))
          .select(col("h")).distinct()
        val corpusH = hashRows(docs.where(col("doc_id") >= 50))
        corpusH.join(broadcast(evalH), "h")
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 5)
          .select(col("id").as("doc_id"), col("n_shared"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ev AS (SELECT DISTINCT h
            FROM '$AuxDir/all_shingle_hashes/*.parquet' WHERE id < 50),
          corp AS (SELECT id, h
            FROM '$AuxDir/all_shingle_hashes/*.parquet' WHERE id >= 50)
        SELECT c.id AS doc_id, COUNT(*) AS n_shared
        FROM corp c JOIN ev USING (h)
        GROUP BY c.id HAVING COUNT(*) >= 5 ORDER BY doc_id""")),

    // ==================== J9: bucketed range join =========================
    // Point-in-interval at scale: Spark plans a bare BETWEEN join as
    // nested-loop/cartesian; the engine bucketizes (explode intervals to
    // covered buckets, equi-join on bucket, re-check exactly). Intervals
    // here deliberately OVERLAP for the larger sizes, so events multi-
    // match — the oracle is DuckDB's native range join (IEJoin), fully
    // independent of the bucketing.
    Q("j9_range_join",
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("event_id"), col("value"))
        val iv = t(s, dir, "part").groupBy(col("p_size"))
          .agg(count(lit(1)).as("n_parts"))
          .withColumn("lo",
            col("p_size") * 10.0 - col("p_size") * 0.5)
          .withColumn("hi",
            col("p_size") * 10.0 + col("p_size") * 0.5)
        RangeJoin.pointInInterval(ev, "value", iv, "lo", "hi",
            bucketWidth = 10.0)
          .groupBy(col("p_size"))
          .agg(first(col("n_parts")).as("n_parts"),
            count(lit(1)).as("n_events"),
            dsum(col("value")).as("value_sum"))
          .orderBy(col("p_size"))
      },
      Some(s"""WITH iv AS (SELECT p_size, COUNT(*) AS n_parts,
            p_size * 10.0 - p_size * 0.5 AS lo,
            p_size * 10.0 + p_size * 0.5 AS hi
          FROM part GROUP BY p_size)
        SELECT iv.p_size, any_value(iv.n_parts) AS n_parts,
          COUNT(*) AS n_events, ${sqlDsum("e.value")} AS value_sum
        FROM events e JOIN iv ON e.value BETWEEN iv.lo AND iv.hi
        GROUP BY iv.p_size ORDER BY iv.p_size""")),

    // ================ context-window document chunking ====================
    // The pre-training/RAG chunker: 40-token windows every 30 tokens
    // (10-token overlap), one row per chunk with its start offset and
    // exact text. Pure projection — no shuffle — so it rides the scan at
    // any corpus size; the oracle re-derives the same windows from
    // DuckDB's list slicing, hash-matching every chunk string.
    Q("text_chunks",
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("doc_id") < 100)
        docs.select(col("doc_id"),
            posexplode(TextMetrics.chunks(col("text"),
              chunkTokens = 40, overlap = 10)))
          .select(col("doc_id"), col("pos").as("chunk_idx"),
            col("col.start_tok").as("start_tok"),
            col("col.chunk_text").as("chunk_text"))
          .withColumn("n_tokens",
            TextMetrics.tokenCount(col("chunk_text")).cast("long"))
          .orderBy(col("doc_id"), col("chunk_idx"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents WHERE doc_id < 100),
          s AS (SELECT doc_id, toks,
            unnest(range(0, greatest(len(toks), 1), 30)) AS start_tok
            FROM t)
        SELECT doc_id,
          CAST((start_tok // 30) AS BIGINT) AS chunk_idx,
          CAST(start_tok AS INTEGER) AS start_tok,
          array_to_string(toks[start_tok + 1 : start_tok + 40], ' ')
            AS chunk_text,
          len(toks[start_tok + 1 : start_tok + 40]) AS n_tokens
        FROM s ORDER BY doc_id, chunk_idx""")),

    // ================= unigram LM quality scoring =========================
    // The CCNet-style corpus-trained quality signal: per-document mean
    // unigram log-probability under the corpus's own token distribution.
    // Vocabulary broadcast (bounded by type count, not corpus size);
    // each ln rounded to 6 dp before the exact decimal mean.
    Q("text_unigram_logprob",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextMetrics.unigramLogprob(docs, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id,
            UNNEST(string_split(text, ' ')) AS tok FROM documents),
          vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
          tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vocab),
          scored AS (SELECT t.doc_id,
            round(ln(CAST(v.c AS DOUBLE) / (SELECT n FROM tot)), 6) AS lp
            FROM toks t JOIN vocab v USING (tok))
        SELECT doc_id,
          CAST(SUM(CAST(lp AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
            AS avg_logprob,
          COUNT(*) AS n_tokens
        FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // ============ CCNet-style quality buckets (head/middle/tail) ==========
    // Per-LANGUAGE perplexity terciles (Wenzek et al. 2020): LM scales
    // are not comparable across languages, so each language is cut at
    // its own 1/3 and 2/3 score quantiles. Boundaries ride the bounded
    // percentile routing (never a global sort) and broadcast one row per
    // language; both the score and the boundary are rounded to 6 dp
    // before the >= comparison, so the bucket edge is engine- and
    // partitioning-exact. The oracle replays the unigram scoring chain
    // and quantile_cont per language.
    Q("quality_buckets",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextMetrics.qualityBuckets(docs, "doc_id", "text", "lang")
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id,
            UNNEST(string_split(text, ' ')) AS tok FROM documents),
          vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
          tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM vocab),
          lp AS (SELECT t.doc_id,
            round(ln(CAST(v.c AS DOUBLE) / (SELECT n FROM tot)), 6) AS lp
            FROM toks t JOIN vocab v USING (tok)),
          scored AS (SELECT doc_id,
              ROUND(CAST(SUM(CAST(lp AS DECIMAL(18,9))) AS DOUBLE)
                / COUNT(*), 6) AS score
            FROM lp GROUP BY doc_id),
          sl AS (SELECT s.doc_id, d.lang, s.score
            FROM scored s JOIN documents d USING (doc_id)),
          b AS (SELECT lang,
              ROUND(quantile_cont(score, 1.0/3), 6) AS lo,
              ROUND(quantile_cont(score, 2.0/3), 6) AS hi
            FROM sl GROUP BY lang)
        SELECT sl.doc_id, sl.lang, sl.score,
          CASE WHEN sl.score >= b.hi THEN 'head'
               WHEN sl.score >= b.lo THEN 'middle'
               ELSE 'tail' END AS bucket
        FROM sl JOIN b USING (lang) ORDER BY sl.doc_id""")),

    // ======================= token counting ===============================
    // The budget arithmetic every curation pass starts from: whitespace
    // tokens, the BPE-ish regex-piece count (letter runs split into
    // <=4-char pieces, digits into <=3, other chars singly), and the
    // blended estimate — all pure projections; the oracle counts the
    // same RE2-compatible pieces.
    Q("text_tokens",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        docs.select(col("doc_id"),
            TextMetrics.tokenCount(col("text")).cast("long")
              .as("n_ws_tokens"),
            TextMetrics.tokenCountBpe(col("text")).as("n_bpe_tokens"),
            TextMetrics.tokenEstimate(col("text")).as("token_estimate"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
          (length(text) - length(replace(text, ' ', ''))) + 1
            AS n_ws_tokens,
          len(regexp_extract_all(text,
            '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS n_bpe_tokens,
          round((length(text) / 4.0 +
            ((length(text) - length(replace(text, ' ', ''))) + 1)) / 2.0,
            6) AS token_estimate
        FROM documents ORDER BY doc_id""")),

    // ==================== deterministic k-means clustering ================
    // Two Lloyd iterations over the embedding corpus, k=4, init = the k
    // smallest-id vectors — fully deterministic and engine-replayable:
    // every distance is an exact decimal sum of per-dim squared diffs
    // (argmin sees identical values everywhere, ties break on centroid
    // id) and centroid updates are decimal means. The oracle unrolls the
    // same two iterations in SQL. Per-iteration scale shape: corpus ×
    // broadcast k-row centroids (no shuffle for distances), one window
    // per vec_id, one bounded k×dims aggregation.
    Q("cluster_kmeans",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        KMeans.fit(e, "vec_id", k = 4, iters = 2)
          .select(col("vec_id"), col("cid"), round(col("d"), 6).as("d"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS i
          FROM embeddings),
        ids AS (SELECT vec_id FROM (SELECT vec_id,
            ROW_NUMBER() OVER (ORDER BY vec_id) AS r FROM embeddings)
          WHERE r <= 4),
        c0 AS (SELECT e.vec_id AS cid, e.i, e.x AS c
          FROM e JOIN ids USING (vec_id)),
        d1 AS (SELECT e.vec_id, c.cid,
            CAST(SUM(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN c0 c USING (i) GROUP BY 1, 2),
        a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
          FROM d1) WHERE r = 1),
        c1u AS (SELECT a.cid, e.i,
            CAST(SUM(CAST(e.x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
          FROM e JOIN a1 a USING (vec_id) GROUP BY 1, 2),
        c1 AS (SELECT * FROM c1u
          UNION ALL SELECT cid, i, c FROM c0
          WHERE cid NOT IN (SELECT DISTINCT cid FROM c1u)),
        d2 AS (SELECT e.vec_id, c.cid,
            CAST(SUM(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN c1 c USING (i) GROUP BY 1, 2)
        SELECT vec_id, cid, round(d, 6) AS d FROM (SELECT vec_id, cid, d,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
          FROM d2) WHERE r = 1 ORDER BY vec_id""")),

    // ==================== weighted Bernoulli sampling =====================
    // Quality-weighted downsampling: each document kept with probability
    // n_chars / max(n_chars) — longer documents proportionally more
    // likely — via the deterministic hash coin (32-bit uniform vs
    // floor(prob * 2^32)). Pure filter over the scan plus one broadcast
    // scalar (the corpus max); the oracle replays the identical division
    // and floor from the raw hash aux table.
    Q("sample_weighted",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // the corpus max is collect-routed (the repo's global-scalar
        // idiom — percentileSelect routes its bucket tables the same
        // way): one bounded driver round-trip, and the sample itself
        // stays a PURE FILTER instead of planning a 1-row broadcast
        // nested-loop join
        val maxc = docs.agg(max(col("n_chars"))).collect()(0).getLong(0)
        val withProb = docs
          .withColumn("_prob", col("n_chars") / lit(maxc))
        Sampling.weightedSample(withProb, col("doc_id"), col("_prob"))
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH mx AS (SELECT MAX(n_chars) AS maxc FROM documents),
          hx AS (SELECT doc_id,
            ((h % 4294967296) + 4294967296) % 4294967296 AS u
            FROM '$AuxDir/doc_bucket/*.parquet')
        SELECT d.doc_id, d.n_chars
        FROM documents d JOIN hx USING (doc_id) CROSS JOIN mx
        WHERE hx.u < CAST(floor(
          (CAST(d.n_chars AS DOUBLE) / mx.maxc) * 4294967296.0) AS BIGINT)
        ORDER BY d.doc_id""")),

    // ============ cluster-balanced (diversity-quota) sampling ============
    // The coreset/topic-balance draw a curation pass runs after
    // clustering: k-means assigns every embedding to a cluster, then a
    // deterministic exact-N smallest-hash sample is drawn PER CLUSTER —
    // so each topic contributes the same count regardless of its
    // population (the diversity quota that keeps a dominant topic from
    // swamping a fine-tuning mix). The per-cluster draw runs on the
    // bounded two-phase aggregator (pairs, not rows, cross the
    // exchange); the oracle replays the Lloyd assignment and ranks by
    // the aux-materialized id hash.
    Q("cluster_quota_sample",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        val fit = KMeans.fit(e, "vec_id", k = 4, iters = 2)
        Sampling.smallestHashSampleTwoPhase(fit, col("cid"),
            col("vec_id"), n = 8)
          .select(col("cid"), col("sample_rank"), col("vec_id"))
          .orderBy(col("cid"), col("sample_rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS i
          FROM embeddings),
        ids AS (SELECT vec_id FROM (SELECT vec_id,
            ROW_NUMBER() OVER (ORDER BY vec_id) AS r FROM embeddings)
          WHERE r <= 4),
        c0 AS (SELECT e.vec_id AS cid, e.i, e.x AS c
          FROM e JOIN ids USING (vec_id)),
        d1 AS (SELECT e.vec_id, c.cid,
            CAST(SUM(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN c0 c USING (i) GROUP BY 1, 2),
        a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
          FROM d1) WHERE r = 1),
        c1u AS (SELECT a.cid, e.i,
            CAST(SUM(CAST(e.x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
          FROM e JOIN a1 a USING (vec_id) GROUP BY 1, 2),
        c1 AS (SELECT * FROM c1u
          UNION ALL SELECT cid, i, c FROM c0
          WHERE cid NOT IN (SELECT DISTINCT cid FROM c1u)),
        d2 AS (SELECT e.vec_id, c.cid,
            CAST(SUM(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN c1 c USING (i) GROUP BY 1, 2),
        a2 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
          FROM d2) WHERE r = 1),
        hx AS (SELECT vec_id, h FROM '$AuxDir/vec_bucket/*.parquet'),
        rk AS (SELECT a2.cid, a2.vec_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY a2.cid
              ORDER BY hx.h, a2.vec_id) AS INTEGER) AS sample_rank
          FROM a2 JOIN hx USING (vec_id))
        SELECT cid, sample_rank, vec_id FROM rk WHERE sample_rank <= 8
        ORDER BY cid, sample_rank""")),

    // ============== SemDeDup: semantic (embedding-space) dedup ============
    // Near-duplicates no lexical signature catches — paraphrases,
    // templated rewrites — pruned in embedding space, cluster-bucketed so
    // pairwise cosine only ever runs WITHIN a k-means cluster (Abbas et
    // al. 2023). Rank = farthest-from-centroid first (round(d,6) DESC,
    // id tie-break); a vector is dropped iff some earlier-ranked cluster
    // member has cosine >= 0.40 with it, dup_of = the earliest-ranked
    // such dominator. The oracle replays the whole chain: the k=8 Lloyd
    // fit (same unrolled CTEs as cluster_kmeans), the rank, the
    // upper-triangular within-cluster cosine test, the arg-min pick.
    Q("dedup_semantic",
      (s, dir) => {
        val e = t(s, dir, "embeddings").where(col("vec_id") < 1000)
          .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
        val fit = KMeans.fit(e, "vec_id", k = 8, iters = 2)
        Dedup.semanticDedup(e, fit, "vec_id", tau = 0.40)
          .orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS i
          FROM embeddings WHERE vec_id < 1000),
        ids AS (SELECT vec_id FROM (SELECT vec_id,
            ROW_NUMBER() OVER (ORDER BY vec_id) AS r FROM embeddings
            WHERE vec_id < 1000) WHERE r <= 8),
        c0 AS (SELECT e.vec_id AS cid, e.i, e.x AS c
          FROM e JOIN ids USING (vec_id)),
        d1 AS (SELECT e.vec_id, c.cid,
            CAST(SUM(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN c0 c USING (i) GROUP BY 1, 2),
        a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
          FROM d1) WHERE r = 1),
        c1u AS (SELECT a.cid, e.i,
            CAST(SUM(CAST(e.x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
          FROM e JOIN a1 a USING (vec_id) GROUP BY 1, 2),
        c1 AS (SELECT * FROM c1u
          UNION ALL SELECT cid, i, c FROM c0
          WHERE cid NOT IN (SELECT DISTINCT cid FROM c1u)),
        d2 AS (SELECT e.vec_id, c.cid,
            CAST(SUM(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN c1 c USING (i) GROUP BY 1, 2),
        a2 AS (SELECT vec_id, cid, d FROM (SELECT vec_id, cid, d,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
          FROM d2) WHERE r = 1),
        rk AS (SELECT vec_id, cid,
            ROW_NUMBER() OVER (PARTITION BY cid
              ORDER BY round(d, 6) DESC, vec_id) AS r
          FROM a2),
        vv AS (SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE vec_id < 1000),
        pu AS (SELECT ra.vec_id AS ida, rb.vec_id AS idb, ra.r AS rra,
            UNNEST(va.v) AS x, UNNEST(vb.v) AS y
          FROM rk ra JOIN rk rb ON ra.cid = rb.cid AND ra.r < rb.r
          JOIN vv va ON va.vec_id = ra.vec_id
          JOIN vv vb ON vb.vec_id = rb.vec_id),
        sc AS (SELECT ida, idb, rra, SUM(x*y) AS dot, SUM(x*x) AS na,
            SUM(y*y) AS nb FROM pu GROUP BY 1, 2, 3),
        dom AS (SELECT idb AS vec_id, ida AS dup_of FROM (SELECT idb, ida,
            ROW_NUMBER() OVER (PARTITION BY idb ORDER BY rra) AS rr
          FROM sc WHERE ROUND(dot/(SQRT(na)*SQRT(nb)), 6) >= 0.40)
          WHERE rr = 1)
        SELECT r.vec_id, r.cid, dom.vec_id IS NULL AS kept,
          COALESCE(dom.dup_of, -1) AS dup_of
        FROM rk r LEFT JOIN dom ON dom.vec_id = r.vec_id
        ORDER BY r.vec_id""")),

    // ================ J10: Bloom-filter runtime join prune ================
    // The runtime-filter pattern Spark's own row-level filtering uses: the
    // small side's keys build an m-bit Bloom filter (bounded agg — at most
    // m/64 rows reach the driver whatever the key count), the bitset is
    // injected into the big side's scan as a LITERAL predicate (zero
    // joins, zero shuffles to prune), and the exact join afterwards
    // removes the false positives — so the result is IDENTICAL to the
    // plain join, which is the oracle. At 100 TB the prune drops ~90% of
    // orders before they ever enter the join exchange.
    Q("j10_bloom_join",
      (s, dir) => {
        val rich = t(s, dir, "customer").where(col("c_acctbal") > 9000)
          .select(col("c_custkey"), col("c_mktsegment"))
        val o = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_totalprice"))
        Sketches.prunedJoin(o, rich, "o_custkey", "c_custkey")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total_price"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c.c_mktsegment, COUNT(*) AS n_orders,
          ${sqlDsum("o.o_totalprice")} AS total_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_acctbal > 9000
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")),

    // ==================== Count-Min sketch heavy hitters ==================
    // Deterministic CMS (depth 4 × width 1024, xxhash64-seeded rows) over
    // event user ids, probed for the first 50 users, with the exact count
    // alongside (the CMS bound est >= exact is part of what the oracle
    // hash-checks). The sketch build is ONE aggregation whose key space is
    // bounded by depth×width — map-side combine collapses every partition
    // to <= 4096 rows before the shuffle, the property that makes the
    // sketch viable at any corpus size. The oracle rebuilds the identical
    // sketch in DuckDB from the raw events joined through the
    // pre-materialized bucket-coordinate aux table, then probes it with
    // the same min-over-rows rule.
    Q("sketch_cms_heavy",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val sketch = Sketches.cmsSketch(ev, col("user_id"),
          CmsDepth, CmsWidth)
        // bounded exact-reference table, pinned: the probe AND the
        // comparison join both read it (SCALE_r09 §22)
        val keys = Pins.pin(ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_exact"))
          .where(col("user_id") < 50))
        Sketches.cmsEstimate(sketch, keys.select(col("user_id")),
            "user_id", CmsDepth, CmsWidth)
          .join(keys, "user_id")
          .select(col("user_id"), col("cms_est"), col("n_exact"))
          .orderBy(col("user_id"))
      },
      Some(s"""WITH ub AS (SELECT user_id, rw, bkt
            FROM '$AuxDir/cms_buckets/*.parquet'),
          uc AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
          sk AS (SELECT b.rw, b.bkt, CAST(SUM(uc.n) AS BIGINT) AS cnt
            FROM uc JOIN ub b USING (user_id) GROUP BY 1, 2)
        SELECT u.user_id, MIN(sk.cnt) AS cms_est,
          any_value(u.n) AS n_exact
        FROM uc u JOIN ub b USING (user_id)
          JOIN sk ON sk.rw = b.rw AND sk.bkt = b.bkt
        WHERE u.user_id < 50
        GROUP BY u.user_id ORDER BY u.user_id""")),

    // ==================== HyperLogLog distinct estimate ===================
    // Per event type: HLL-estimated distinct users (p=8, 256 registers)
    // next to the exact count. The register table is ONE bounded
    // aggregation — |groups| × 256 rows max, map-side max — and is itself
    // the mergeable sketch. The oracle re-derives bucket, rank (lowest
    // set bit via log2 of the exact power-of-two isolate), registers, and
    // the full estimator (split-sum harmonic + linear-counting branch)
    // from the raw xxhash64 values in the aux table with its own integer
    // arithmetic — every step cross-checked, not just the max.
    Q("sketch_hll_distinct",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val regs = Sketches.hllRegisters(ev, col("user_id"), HllP,
          Seq(col("event_type")))
        val exact = ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact"))
        Sketches.hllEstimate(regs, HllP, Seq(col("event_type")))
          .join(exact, "event_type")
          .select(col("event_type"), col("hll_est"), col("n_exact"))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH hx AS (SELECT DISTINCT event_type, h
            FROM '$AuxDir/hll_hashes/*.parquet'),
          br AS (SELECT event_type,
            ((h % 256) + 256) % 256 AS bucket,
            CAST((CASE WHEN h < 0
                THEN CAST(h AS HUGEINT) + 18446744073709551616
                ELSE CAST(h AS HUGEINT) END) // 256 AS BIGINT) AS rest
            FROM hx),
          r AS (SELECT event_type, bucket,
            CASE WHEN rest = 0 THEN 57
              ELSE CAST(round(log2(rest & (-rest))) AS INTEGER) + 1
            END AS rnk FROM br),
          regs AS (SELECT event_type, bucket, MAX(rnk) AS register
            FROM r GROUP BY 1, 2),
          ag AS (SELECT event_type,
            CAST(SUM(CASE WHEN 57 - register >= 12
              THEN (1::BIGINT << (57 - register - 12)) ELSE 0 END)
              AS BIGINT) AS sum_high,
            CAST(SUM(CASE WHEN 57 - register < 12
              THEN (1::BIGINT << (57 - register)) ELSE 0 END)
              AS BIGINT) AS sum_low,
            COUNT(*) AS occupied FROM regs GROUP BY 1),
          e AS (SELECT event_type, occupied,
            (CAST(sum_high + (256 - occupied) * (1::BIGINT << 45)
                AS DOUBLE) * 4096.0 + CAST(sum_low AS DOUBLE))
              / 144115188075855872.0 AS harmonic FROM ag),
          est AS (SELECT event_type, occupied,
            (((0.7213 / (1.0 + 1.079 / 256.0)) * 256.0) * 256.0)
              / harmonic AS raw FROM e),
          ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
            FROM events GROUP BY 1)
        SELECT est.event_type,
          round(CASE WHEN (256 - occupied) > 0 AND raw <= 640.0
            THEN 256.0 * ln(256.0 / CAST(256 - occupied AS DOUBLE))
            ELSE raw END, 6) AS hll_est,
          ex.n_exact
        FROM est JOIN ex USING (event_type)
        ORDER BY event_type""")),

    // ================ repetition-based quality features ===================
    // The Gopher/C4 repetition filters: repeated-token fraction, repeated
    // 3-gram fraction, most-frequent-token share — all row-local array
    // expressions (ZERO shuffles; the filter rides the scan at 100 TB).
    // The oracle replays the same token/n-gram/count arithmetic through
    // DuckDB's list lambdas.
    Q("text_repetition",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        docs.select(col("doc_id"),
            TextMetrics.repetitionFeatures(col("text")).as("f"))
          .select(col("doc_id"), col("f.dup_token_frac"),
            col("f.dup_ngram_frac"), col("f.top_token_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
          g AS (SELECT doc_id, toks,
            list_transform(range(0, greatest(len(toks) - 2, 0)),
              i -> array_to_string(toks[i + 1 : i + 3], ' ')) AS grams
            FROM t)
        SELECT doc_id,
          round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
            / len(toks), 6) AS dup_token_frac,
          round(CASE WHEN len(grams) > 0
            THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
              / len(grams)
            ELSE 0.0 END, 6) AS dup_ngram_frac,
          round(CAST(list_max(list_transform(list_distinct(toks),
              u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
            / len(toks), 6) AS top_token_frac
        FROM g ORDER BY doc_id""")),

    // ======================== PII redaction ===============================
    // The per-row scrub pass every released corpus needs: email- and
    // phone-shaped spans replaced by typed tags, with pre-redaction audit
    // counts. The synthetic corpus carries no PII, so the query first
    // INJECTS deterministic spans (one email + one phone per doc, a
    // second email on even ids) with identical concat arithmetic in both
    // engines, then redacts; the patterns are restricted to the
    // Java-regex ∩ RE2 subset so the oracle replays them exactly. The
    // md5 of the redacted text is the hash-checked witness.
    Q("text_redact",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val injected = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit(" cc backup"), col("doc_id").cast("string"),
              lit("@mail.example.org"))).otherwise(lit("")))
        docs.select(col("doc_id"), injected.as("pii_text"))
          .select(col("doc_id"),
            md5(TextMetrics.redactPii(col("pii_text"))).as("redacted_md5"),
            TextMetrics.piiCounts(col("pii_text")).as("c"))
          .select(col("doc_id"), col("redacted_md5"),
            col("c.n_emails").cast("long").as("n_emails"),
            col("c.n_phones").cast("long").as("n_phones"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || CASE WHEN doc_id % 2 = 0
                THEN ' cc backup' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.org' ELSE '' END AS pii_text
            FROM documents)
        SELECT doc_id,
          md5(regexp_replace(regexp_replace(pii_text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
            'g'), '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))
            AS redacted_md5,
          len(regexp_extract_all(pii_text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            AS n_emails,
          len(regexp_extract_all(pii_text,
            '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS n_phones
        FROM p ORDER BY doc_id""")),

    // ===================== sequence packing ==============================
    // The pretraining layout step: documents laid end to end into
    // 64-token sequences per language shard, each document's exact spans
    // emitted. Pure integer arithmetic over one per-shard window cumsum
    // + a sequence() explode — bit-exact across engines. Sharding is the
    // scale story: packing is deterministic PER SHARD (the real-pipeline
    // contract), so 100 TB is one exchange on the shard key, never a
    // global order.
    Q("pack_sequences",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Packing.packSpans(docs, col("lang"), col("doc_id"), col("doc_id"),
            TextMetrics.tokenCount(col("text")), budget = 64)
          .orderBy(col("shard"), col("seq_id"), col("seq_offset"))
      },
      Some("""WITH d AS (SELECT lang, doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
            FROM documents),
          c AS (SELECT lang, doc_id, tok,
            CAST(COALESCE(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS st
            FROM d),
          e AS (SELECT lang, doc_id, tok, st,
            UNNEST(range(st // 64, (st + tok - 1) // 64 + 1)) AS seq_id
            FROM c)
        SELECT lang AS shard, seq_id,
          GREATEST(st, seq_id * 64) - seq_id * 64 AS seq_offset,
          doc_id,
          GREATEST(st, seq_id * 64) - st AS doc_offset,
          LEAST(st + tok, (seq_id + 1) * 64) - GREATEST(st, seq_id * 64)
            AS span_len
        FROM e ORDER BY shard, seq_id, seq_offset""")),

    // packing EFFICIENCY: per packed sequence, how many spans/documents
    // it holds and what fraction of the token budget is filled — the
    // padding-waste report that decides the budget (only each shard's
    // LAST sequence can underfill under concat-and-split; everything
    // else must read fill_frac = 1.0, and the gate pins exactly that).
    // One aggregate over the span table; same per-shard scale contract.
    Q("pack_efficiency",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val spans = Packing.packSpans(docs, col("lang"), col("doc_id"),
          col("doc_id"), TextMetrics.tokenCount(col("text")), budget = 64)
        Packing.seqStats(spans, budget = 64)
          .orderBy(col("shard"), col("seq_id"))
      },
      Some("""WITH d AS (SELECT lang, doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
            FROM documents),
          c AS (SELECT lang, doc_id, tok,
            CAST(COALESCE(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS st
            FROM d),
          e AS (SELECT lang, doc_id, tok, st,
            UNNEST(range(st // 64, (st + tok - 1) // 64 + 1)) AS seq_id
            FROM c),
          sp AS (SELECT lang AS shard, seq_id, doc_id,
            LEAST(st + tok, (seq_id + 1) * 64) - GREATEST(st, seq_id * 64)
              AS span_len
          FROM e)
        SELECT shard, seq_id,
          CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(SUM(span_len) AS BIGINT) AS filled_tokens,
          ROUND(CAST(CAST(SUM(span_len) AS BIGINT) AS DOUBLE) / 64, 6)
            AS fill_frac
        FROM sp GROUP BY shard, seq_id ORDER BY shard, seq_id""")),

    // ============== histogram quantile sketch ============================
    // The mergeable single-pass complement to a12's exact rank-selection
    // percentile: a 128-bucket equi-width histogram over l_extendedprice
    // (domain [0, 110000) — the sketch's declared parameter, not peeked
    // from data), quantiles interpolated inside the containing bucket.
    // The sketch shuffle is |groups| x 128 rows whatever the data size;
    // DuckDB rebuilds the identical histogram and interpolation.
    Q("sketch_hist_quantile",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"), col("l_extendedprice"))
        val counts = Sketches.histCounts(li, col("l_extendedprice"),
          lo = 0.0, hi = 110000.0, m = 128, groupCols = Seq(col("flag")))
        Sketches.histQuantiles(counts, Seq(0.5, 0.9, 0.99),
            lo = 0.0, hi = 110000.0, m = 128, groupCols = Seq(col("flag")))
          .orderBy(col("flag"), col("q"))
      },
      Some("""WITH b AS (SELECT l_returnflag AS flag,
            LEAST(GREATEST(CAST(FLOOR(l_extendedprice / 859.375) AS INTEGER),
              0), 127) AS bucket, COUNT(*) AS cnt
            FROM lineitem GROUP BY 1, 2),
          c AS (SELECT flag, bucket, cnt,
            SUM(cnt) OVER (PARTITION BY flag ORDER BY bucket
              ROWS UNBOUNDED PRECEDING) AS cum,
            SUM(cnt) OVER (PARTITION BY flag) AS n FROM b),
          qq AS (SELECT c.*, u.q,
            GREATEST(CAST(CEIL(u.q * n) AS BIGINT), 1) AS r
            FROM c, (SELECT CAST(UNNEST([0.5, 0.9, 0.99]) AS DOUBLE) AS q) u)
        SELECT flag, q,
          ROUND(859.375 * (bucket + CAST(r - (cum - cnt) AS DOUBLE) / cnt), 6)
            AS est
        FROM qq WHERE cum >= r AND cum - cnt < r
        ORDER BY flag, q""")),

    // ================ segment-level (C4-style) dedup =====================
    // Boilerplate stripping: every repeat of a 20-token segment across
    // the corpus is removed (global first occurrence kept, deterministic
    // by (doc_id, idx)), documents reassembled from the survivors. The
    // segmenter is caller-supplied (here the overlap-0 token chunker;
    // a real corpus passes split(text, '\n\n')). One bounded hash agg
    // keyed by the segment + one equi-join — no corpus window.
    Q("dedup_segments",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val segs = transform(
          TextMetrics.chunks(col("text"), chunkTokens = 20, overlap = 0),
          _.getField("chunk_text"))
        Dedup.segmentDedup(docs, "doc_id", segs)
          .select(col("id").as("doc_id"), col("clean_text"),
            col("n_segments"), col("n_removed"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
          s AS (SELECT doc_id, toks,
            UNNEST(range(0, greatest(len(toks), 1), 20)) AS st FROM t),
          seg AS (SELECT doc_id, st // 20 AS idx,
            array_to_string(toks[st + 1 : st + 20], ' ') AS seg FROM s),
          m AS (SELECT doc_id, idx, seg,
            ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
            FROM seg)
        SELECT doc_id,
          COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
            ORDER BY idx), '') AS clean_text,
          COUNT(*) AS n_segments,
          CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_removed
        FROM m GROUP BY doc_id ORDER BY doc_id""")),

    // ====== product quantization: codebook training, oracle-gated =======
    // The index-build step, timed and verified on its own row: grouped
    // Lloyd over all 8 subspaces in shared jobs (broadcast-codebook
    // assignment, bounded S×k×(D/S) decimal-mean updates, empty clusters
    // keep their previous centroid, codes densely relabelled by init-id
    // rank). The oracle replays the ENTIRE training — init, both
    // assignment argmins, the decimal-mean update, the empty-cluster
    // carry, the relabel — from the embeddings table alone (the
    // cluster_kmeans unrolled-Lloyd pattern with the subspace riding in
    // every key), so training is now gated end-to-end in DuckDB rather
    // than shipped as an aux artifact.
    Q("pq_train",
      (s, dir) => {
        val e = PqStage.embeddings(s, dir)
        // trains FRESH on purpose (not the PqStage memo): this row is
        // the one that carries the training cost in the bench, and a
        // memoized second iteration would report ~0
        val (cb, _) = Pq.train(e, "vec_id", "v", PqStage.Sub, PqStage.Dim,
          PqStage.K, PqStage.Iters)
        cb.select(col("sub"), col("code"),
            posexplode(col("cv")).as(Seq("i", "c")))
          .select(col("sub"), col("code"),
            (col("sub") * (PqStage.Dim / PqStage.Sub) + col("i")).as("gi"),
            round(col("c"), 6).as("c"))
          .orderBy(col("sub"), col("code"), col("gi"))
      },
      Some("""WITH e AS (SELECT vec_id,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS gi
          FROM embeddings),
        sv AS (SELECT vec_id, gi // 8 AS sub, gi % 8 AS i, x FROM e),
        ids AS (SELECT vec_id FROM (SELECT vec_id,
            ROW_NUMBER() OVER (ORDER BY vec_id) AS r FROM embeddings)
          WHERE r <= 16),
        c0 AS (SELECT s.sub, s.vec_id AS cid, s.i, s.x AS c
          FROM sv s JOIN ids USING (vec_id)),
        d1 AS (SELECT s.vec_id, c.sub, c.cid,
            CAST(SUM(CAST((s.x - c.c) * (s.x - c.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM sv s JOIN c0 c ON c.sub = s.sub AND c.i = s.i
          GROUP BY 1, 2, 3),
        a1 AS (SELECT vec_id, sub, cid FROM (SELECT vec_id, sub, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, cid)
              AS r FROM d1) WHERE r = 1),
        c1u AS (SELECT a.sub, a.cid, s.i,
            CAST(SUM(CAST(s.x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
          FROM sv s JOIN a1 a ON a.vec_id = s.vec_id AND a.sub = s.sub
          GROUP BY 1, 2, 3),
        c1 AS (SELECT * FROM c1u
          UNION ALL SELECT sub, cid, i, c FROM c0
          WHERE NOT EXISTS (SELECT 1 FROM c1u u
            WHERE u.sub = c0.sub AND u.cid = c0.cid)),
        codes AS (SELECT vec_id AS cid,
            ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code FROM ids)
        SELECT c1.sub, codes.code, c1.sub * 8 + c1.i AS gi,
          round(c1.c, 6) AS c
        FROM c1 JOIN codes ON codes.cid = c1.cid
        ORDER BY sub, code, gi""")),

    // =========== product quantization: encode + ADC top-k ================
    // The memory-bounded ANN scale path: 8 subspaces x 16 codes over the
    // 64-dim embeddings (byte codes — a 32x cut vs float32 vectors), ADC
    // search = S table lookups + one exact decimal sum per candidate.
    // Training and encoding are STAGED (PqStage — the deployment split:
    // pq_train carries the build cost, this row times the search); the
    // oracle re-derives the ENCODING argmin and the whole ADC ranking
    // from the aux codebook with the same decimal arithmetic.
    Q("sim_pq_adc",
      (s, dir) => {
        val st = PqStage.staged(s, dir)
        val q = PqStage.embeddings(s, dir).where(col("vec_id") < 5)
        Pq.searchAdc(q, "vec_id", "v", st.codes, st.codebook,
            PqStage.Sub, PqStage.Dim, topK = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS gi
          FROM embeddings),
        cb AS (SELECT sub, code, gi, c FROM '$AuxDir/pq_codebook/*.parquet'),
        dist AS (SELECT e.vec_id, cb.sub, cb.code,
            CAST(SUM(CAST((e.x - cb.c) * (e.x - cb.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN cb USING (gi) GROUP BY 1, 2, 3),
        enc AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code)
              AS r FROM dist) WHERE r = 1),
        lut AS (SELECT vec_id AS query_id, sub, code, d AS pd
          FROM dist WHERE vec_id < 5),
        ad AS (SELECT l.query_id, enc.vec_id AS cand_id,
            CAST(SUM(CAST(l.pd AS DECIMAL(18,9))) AS DOUBLE) AS adist
          FROM enc JOIN lut l USING (sub, code)
          WHERE l.query_id <> enc.vec_id GROUP BY 1, 2)
        SELECT query_id, rank, cand_id, round(adist, 6) AS adist
        FROM (SELECT query_id, cand_id, adist,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adist, cand_id) AS rank FROM ad)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ============= OPQ-lite: rotated-space encode + ADC ==================
    // The recall lever BEFORE quantization: one Householder reflection
    // maps the staged PCA direction onto e1 (Opq — an isometry, exact
    // ground truth unchanged), so the dominant variance direction lands
    // inside subspace 0 instead of smearing across all 8 axis-aligned
    // subspaces. Measured: ADC recall@5 0.142 -> 0.292 on
    // diagonal-variance geometry, 0.108 -> 0.125 on the sf0.1 corpus
    // (SCALE_r10.md). Rotation, training and encoding
    // are staged (PqStage.stagedOpq, composing PcaStage's direction);
    // the oracle starts from the DUMPED rotated vectors (parquet
    // round-trips doubles bit-for-bit; the rotation arithmetic itself
    // is pinned bitwise by OpqSpec) and re-derives the encoding argmin
    // and the whole ADC ranking with the same decimal machinery as
    // sim_pq_adc.
    Q("sim_pq_adc_opq",
      (s, dir) => {
        val st = PqStage.stagedOpq(s, dir)
        val q = st.rotated.where(col("vec_id") < 5)
        Pq.searchAdc(q, "vec_id", "v", st.codes, st.codebook,
            PqStage.Sub, PqStage.Dim, topK = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id, gi, x
            FROM '$AuxDir/opq_vecs/*.parquet'),
        cb AS (SELECT sub, code, gi, c FROM '$AuxDir/opq_codebook/*.parquet'),
        dist AS (SELECT e.vec_id, cb.sub, cb.code,
            CAST(SUM(CAST((e.x - cb.c) * (e.x - cb.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN cb USING (gi) GROUP BY 1, 2, 3),
        enc AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code)
              AS r FROM dist) WHERE r = 1),
        lut AS (SELECT vec_id AS query_id, sub, code, d AS pd
          FROM dist WHERE vec_id < 5),
        ad AS (SELECT l.query_id, enc.vec_id AS cand_id,
            CAST(SUM(CAST(l.pd AS DECIMAL(18,9))) AS DOUBLE) AS adist
          FROM enc JOIN lut l USING (sub, code)
          WHERE l.query_id <> enc.vec_id GROUP BY 1, 2)
        SELECT query_id, rank, cand_id, round(adist, 6) AS adist
        FROM (SELECT query_id, cand_id, adist,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adist, cand_id) AS rank FROM ad)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ================ OPQ-lite composed with IVF-PQ ======================
    // The full index stack in the rotated space: the coarse cell (the
    // label — a rotation-INVARIANT key) prunes candidates exactly as in
    // sim_ivfpq, and the rotated-space byte codes rank what remains.
    // Rotation composes with cell pruning for free because the cell is
    // categorical metadata, not geometry — the staged codesWithCell
    // resolved it at build time. Oracle: the sim_ivfpq re-derivation
    // over the dumped rotated corpus + rotated-space codebook, with
    // labels from the embeddings table (unchanged by rotation).
    Q("sim_ivfpq_opq",
      (s, dir) => {
        val st = PqStage.stagedOpq(s, dir)
        val q = st.rotated.where(col("vec_id") < 5)
        Pq.searchAdcInCells(q, "vec_id", "v", "label", st.codesWithCell,
            "label", st.codebook, PqStage.Sub, PqStage.Dim, topK = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id, gi, x
            FROM '$AuxDir/opq_vecs/*.parquet'),
        lab AS (SELECT vec_id, label FROM embeddings),
        cb AS (SELECT sub, code, gi, c FROM '$AuxDir/opq_codebook/*.parquet'),
        dist AS (SELECT e.vec_id, cb.sub, cb.code,
            CAST(SUM(CAST((e.x - cb.c) * (e.x - cb.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN cb USING (gi) GROUP BY 1, 2, 3),
        enc AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code)
              AS r FROM dist) WHERE r = 1),
        lut AS (SELECT d.vec_id AS query_id, ql.label, d.sub, d.code,
            d.d AS pd
          FROM dist d JOIN lab ql ON ql.vec_id = d.vec_id
          WHERE d.vec_id < 5),
        ad AS (SELECT l.query_id, enc.vec_id AS cand_id,
            CAST(SUM(CAST(l.pd AS DECIMAL(18,9))) AS DOUBLE) AS adist
          FROM enc
          JOIN lab cl ON cl.vec_id = enc.vec_id
          JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
            AND l.label = cl.label
          WHERE l.query_id <> enc.vec_id GROUP BY 1, 2)
        SELECT query_id, rank, cand_id, round(adist, 6) AS adist
        FROM (SELECT query_id, cand_id, adist,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adist, cand_id) AS rank FROM ad)
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    // ============ PQ shortlist + exact re-rank ===========================
    // The way PQ deploys: ADC (codes only) builds a 20-candidate
    // shortlist per query, exact decimal distances re-rank just those —
    // the corpus floats are touched for |queries| x 20 rows total.
    // Quantization error costs recall INTO the shortlist only; measured
    // in PqRecallSpec (shortlist recall 1.000 at 40 on clustered data).
    Q("sim_pq_rerank",
      (s, dir) => {
        val st = PqStage.staged(s, dir)
        val e = PqStage.embeddings(s, dir)
        val q = e.where(col("vec_id") < 5)
        Pq.searchRerank(q, "vec_id", "v", e, "vec_id", "v", st.codes,
            st.codebook, PqStage.Sub, PqStage.Dim,
            shortlist = 20, topK = 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS gi
          FROM embeddings),
        cb AS (SELECT sub, code, gi, c FROM '$AuxDir/pq_codebook/*.parquet'),
        dist AS (SELECT e.vec_id, cb.sub, cb.code,
            CAST(SUM(CAST((e.x - cb.c) * (e.x - cb.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN cb USING (gi) GROUP BY 1, 2, 3),
        enc AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code)
              AS r FROM dist) WHERE r = 1),
        lut AS (SELECT vec_id AS query_id, sub, code, d AS pd
          FROM dist WHERE vec_id < 5),
        ad AS (SELECT l.query_id, enc.vec_id AS cand_id,
            CAST(SUM(CAST(l.pd AS DECIMAL(18,9))) AS DOUBLE) AS adist
          FROM enc JOIN lut l USING (sub, code)
          WHERE l.query_id <> enc.vec_id GROUP BY 1, 2),
        short AS (SELECT query_id, cand_id FROM (SELECT query_id, cand_id,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adist, cand_id) AS r FROM ad) WHERE r <= 20),
        ex AS (SELECT sh.query_id, sh.cand_id,
            CAST(SUM(CAST((q.x - c.x) * (q.x - c.x) AS DECIMAL(18,9)))
              AS DOUBLE) AS dist
          FROM short sh
          JOIN e q ON q.vec_id = sh.query_id
          JOIN e c ON c.vec_id = sh.cand_id AND c.gi = q.gi
          GROUP BY 1, 2)
        SELECT query_id, rank, cand_id, round(dist, 6) AS dist
        FROM (SELECT query_id, cand_id, dist,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY dist, cand_id) AS rank FROM ex)
        WHERE rank <= 5 ORDER BY query_id, rank""")),

    // ====================== IVF-PQ composed ANN ==========================
    // The canonical large-corpus index: the coarse quantizer (the label
    // cell, as in sim_ivf_topk) prunes candidates, PQ byte codes rank
    // what remains — no float vector and no out-of-cell candidate is
    // touched at query time. The cell rides IN the ADC join key.
    Q("sim_ivfpq",
      (s, dir) => {
        val st = PqStage.staged(s, dir)
        val q = PqStage.embeddings(s, dir).where(col("vec_id") < 5)
        // codesWithCell is the staged IVF-PQ index layout: the coarse
        // cell was resolved at build time and rides next to the codes
        Pq.searchAdcInCells(q, "vec_id", "v", "label", st.codesWithCell,
            "label", st.codebook, PqStage.Sub, PqStage.Dim, topK = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS gi
          FROM embeddings),
        lab AS (SELECT vec_id, label FROM embeddings),
        cb AS (SELECT sub, code, gi, c FROM '$AuxDir/pq_codebook/*.parquet'),
        dist AS (SELECT e.vec_id, cb.sub, cb.code,
            CAST(SUM(CAST((e.x - cb.c) * (e.x - cb.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN cb USING (gi) GROUP BY 1, 2, 3),
        enc AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code)
              AS r FROM dist) WHERE r = 1),
        lut AS (SELECT d.vec_id AS query_id, ql.label, d.sub, d.code,
            d.d AS pd
          FROM dist d JOIN lab ql ON ql.vec_id = d.vec_id
          WHERE d.vec_id < 5),
        ad AS (SELECT l.query_id, enc.vec_id AS cand_id,
            CAST(SUM(CAST(l.pd AS DECIMAL(18,9))) AS DOUBLE) AS adist
          FROM enc
          JOIN lab cl ON cl.vec_id = enc.vec_id
          JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
            AND l.label = cl.label
          WHERE l.query_id <> enc.vec_id GROUP BY 1, 2)
        SELECT query_id, rank, cand_id, round(adist, 6) AS adist
        FROM (SELECT query_id, cand_id, adist,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adist, cand_id) AS rank FROM ad)
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    // =============== multi-probe IVF-PQ composed ANN =====================
    // The recall lever over single-probe IVF-PQ: rank cells by exact
    // decimal squared-L2 from the query to each staged CELL CENTROID
    // (index metadata — one broadcast row per cell), probe the top 2,
    // and run the same cell-keyed ADC over the probe set. A true
    // neighbour just across a cell boundary is recovered at 2x the
    // lookup cost and zero extra corpus passes; the oracle re-derives
    // centroids, probe ranking, encoding, and the ADC ranking.
    Q("sim_ivfpq_multiprobe",
      (s, dir) => {
        val st = PqStage.staged(s, dir)
        val q = PqStage.embeddings(s, dir).where(col("vec_id") < 5)
        val probes = Pq.probeCells(q, "vec_id", "v", st.cellCentroids,
          "label", probes = 2)
        Pq.searchAdcInProbedCells(q, "vec_id", "v", probes,
            st.codesWithCell, "label", st.codebook,
            PqStage.Sub, PqStage.Dim, topK = 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
            UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS x,
            UNNEST(range(len(embedding))) AS gi
          FROM embeddings),
        lab AS (SELECT vec_id, label FROM embeddings),
        cb AS (SELECT sub, code, gi, c FROM '$AuxDir/pq_codebook/*.parquet'),
        dist AS (SELECT e.vec_id, cb.sub, cb.code,
            CAST(SUM(CAST((e.x - cb.c) * (e.x - cb.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN cb USING (gi) GROUP BY 1, 2, 3),
        enc AS (SELECT vec_id, sub, code FROM (SELECT vec_id, sub, code,
            ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d, code)
              AS r FROM dist) WHERE r = 1),
        cent AS (SELECT l.label, e.gi,
            CAST(SUM(CAST(e.x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
          FROM e JOIN lab l USING (vec_id) GROUP BY 1, 2),
        qd AS (SELECT e.vec_id AS query_id, ct.label,
            CAST(SUM(CAST((e.x - ct.c) * (e.x - ct.c) AS DECIMAL(18,9)))
              AS DOUBLE) AS d
          FROM e JOIN cent ct USING (gi)
          WHERE e.vec_id < 5 GROUP BY 1, 2),
        probes AS (SELECT query_id, label FROM (SELECT query_id, label,
            ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, label)
              AS p FROM qd) WHERE p <= 2),
        lut AS (SELECT d.vec_id AS query_id, p.label, d.sub, d.code,
            d.d AS pd
          FROM dist d JOIN probes p ON p.query_id = d.vec_id
          WHERE d.vec_id < 5),
        ad AS (SELECT l.query_id, enc.vec_id AS cand_id,
            CAST(SUM(CAST(l.pd AS DECIMAL(18,9))) AS DOUBLE) AS adist
          FROM enc
          JOIN lab cl ON cl.vec_id = enc.vec_id
          JOIN lut l ON l.sub = enc.sub AND l.code = enc.code
            AND l.label = cl.label
          WHERE l.query_id <> enc.vec_id GROUP BY 1, 2)
        SELECT query_id, rank, cand_id, round(adist, 6) AS adist
        FROM (SELECT query_id, cand_id, adist,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adist, cand_id) AS rank FROM ad)
        WHERE rank <= 3 ORDER BY query_id, rank""")),

    // =========== DSIR-style importance resampling ========================
    // Data selection via importance resampling (Xie et al.): keep each
    // document with probability min(1, p_target(doc)/p_source(doc))
    // under unigram LMs — target = the English slice, source = the full
    // corpus. The DOCUMENT-level log-ratio (per-token average difference
    // × token count — the actual likelihood ratio, not its per-token
    // average) lives entirely in LOG space and so does the Bernoulli
    // coin (Sampling.logWeightedSample), so no engine ever calls exp.
    // Both scoring passes are bounded-vocab joins; the coin is a pure
    // filter. (This synthetic corpus shares most vocabulary across
    // languages, so the unigram ratio is mild by construction — the
    // gate verifies the machinery hash-exactly either way.)
    Q("dsir_resample",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val target = docs.where(col("lang") === "en")
        // one-pass log-ratio scorer (SCALE_r09 §23): the corpus token
        // pass runs ONCE for both models, bit-identical to the
        // unigramLogprob + unigramLogprobAgainst composition
        val scored = TextMetrics.unigramLogRatio(docs, "doc_id", "text",
            target, "text")
          .withColumn("lp_diff",
            round((col("lp_t") - col("lp_s")) * col("n_tokens"), 6))
        Sampling.logWeightedSample(scored, col("doc_id"), col("lp_diff"))
          .select(col("doc_id"), col("lp_diff"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH toks AS (SELECT doc_id,
            UNNEST(string_split(text, ' ')) AS tok FROM documents),
          svocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
          stot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM svocab),
          ttoks AS (SELECT UNNEST(string_split(text, ' ')) AS tok
            FROM documents WHERE lang = 'en'),
          tvocab AS (SELECT tok, COUNT(*) AS c FROM ttoks GROUP BY 1),
          ttot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM tvocab),
          ssc AS (SELECT t.doc_id,
              CAST(SUM(CAST(round(ln(CAST(v.c AS DOUBLE) /
                (SELECT n FROM stot)), 6) AS DECIMAL(18,9))) AS DOUBLE)
                / COUNT(*) AS lp_s,
              COUNT(*) AS n_tokens
            FROM toks t JOIN svocab v USING (tok) GROUP BY 1),
          tsc AS (SELECT t.doc_id,
              CAST(SUM(CAST(CASE WHEN v.c IS NULL
                THEN round(ln(1.0 / ((SELECT n FROM ttot) + 1)), 6)
                ELSE round(ln(CAST(v.c AS DOUBLE) /
                  (SELECT n FROM ttot)), 6) END AS DECIMAL(18,9)))
                AS DOUBLE) / COUNT(*) AS lp_t
            FROM toks t LEFT JOIN tvocab v USING (tok) GROUP BY 1),
          j AS (SELECT ssc.doc_id,
            round((lp_t - lp_s) * n_tokens, 6) AS lp_diff
            FROM ssc JOIN tsc USING (doc_id)),
          hx AS (SELECT doc_id,
            ((h % 4294967296) + 4294967296) % 4294967296 AS u
            FROM '$AuxDir/doc_bucket/*.parquet')
        SELECT j.doc_id, lp_diff FROM j JOIN hx USING (doc_id)
        WHERE lp_diff >= 0
           OR round(ln(CAST(u + 1 AS DOUBLE) / 4294967296.0), 6) < lp_diff
        ORDER BY doc_id""")),

    // ============= J11: interval-overlap join (bucketed) =================
    // Both sides are INTERVALS (event spans vs per-size windows) — the
    // join Spark would plan as a nested loop. Bucketized on both sides
    // with the first-shared-bucket rule, so each overlapping pair emits
    // exactly once with no distinct pass; DuckDB replays the plain
    // inequality join as the oracle.
    Q("j11_interval_overlap",
      (s, dir) => {
        val ev = t(s, dir, "events").where(col("event_id") < 5000)
          .select(col("event_id"), col("value").as("e_lo"),
            (col("value") + 2.5).as("e_hi"))
        val iv = t(s, dir, "part").groupBy(col("p_size"))
          .agg(count(lit(1)).as("n_parts"))
          .withColumn("lo", col("p_size") * 10.0 - col("p_size") * 0.5)
          .withColumn("hi", col("p_size") * 10.0 + col("p_size") * 0.5)
        RangeJoin.intervalOverlap(ev, "e_lo", "e_hi", iv, "lo", "hi",
            bucketWidth = 10.0)
          .groupBy(col("p_size"))
          .agg(count(lit(1)).as("n_pairs"), dsum(col("e_lo")).as("lo_sum"))
          .orderBy(col("p_size"))
      },
      Some(s"""WITH ev AS (SELECT event_id, value AS e_lo,
            value + 2.5 AS e_hi FROM events WHERE event_id < 5000),
          iv AS (SELECT p_size, COUNT(*) AS n_parts,
            p_size * 10.0 - p_size * 0.5 AS lo,
            p_size * 10.0 + p_size * 0.5 AS hi
          FROM part GROUP BY p_size)
        SELECT iv.p_size, COUNT(*) AS n_pairs,
          ${sqlDsum("e.e_lo")} AS lo_sum
        FROM ev e JOIN iv ON e.e_lo <= iv.hi AND iv.lo <= e.e_hi
        GROUP BY iv.p_size ORDER BY iv.p_size""")),

    // ============ skew-safe two-phase grouped top-k =======================
    // Top 10 documents per language by length — computed by the bounded
    // two-phase aggregator (map-side keeps <= k pairs per group per
    // task; the exchange moves 16-byte pairs, not rows), not the
    // hot-group window. The oracle replays the window form — the two
    // are row-identical by construction (equivalence-spec-pinned).
    Q("topk_two_phase",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TopK.topKByScore(docs, col("lang"), col("doc_id"),
            col("n_chars"), k = 10)
          .select(col("lang"), col("topk_rank"), col("doc_id"),
            col("n_chars"))
          .orderBy(col("lang"), col("topk_rank"))
      },
      Some("""SELECT lang, topk_rank, doc_id, n_chars FROM (
          SELECT lang, doc_id, n_chars,
            CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY n_chars DESC, doc_id) AS INTEGER) AS topk_rank
          FROM documents)
        WHERE topk_rank <= 10 ORDER BY lang, topk_rank""")),

    // ================ z-order layout key (Morton interleave) =============
    // The multi-dimensional data-skipping sort key: bit b of l_orderkey
    // at z-bit 2b, bit b of l_partkey at 2b+1 — a pure 62-term
    // shift/mask/or column tree fully inside whole-stage codegen.
    // LayoutSpec quantifies the skipping claim (worst-dimension chunk
    // span ~3x tighter than a one-column sort); this gate pins the
    // interleave arithmetic bit-for-bit against DuckDB's replay.
    Q("layout_zorder",
      (s, dir) => {
        val li = t(s, dir, "lineitem").where(col("l_orderkey") < 2000)
        li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            Layout.zOrder2(col("l_orderkey"), col("l_partkey")).as("z"))
          .orderBy(col("l_orderkey"), col("l_linenumber"))
      },
      // the interleave is unrolled to a 62-term expression (mirroring
      // the Spark column tree) rather than a series-join + GROUP BY: a
      // grouped form would silently MERGE duplicate
      // (orderkey, linenumber, partkey) triples, which sf0.1 contains
      Some(s"""SELECT l_orderkey, l_linenumber, l_partkey,
          ${(0 until 31).map(b =>
            s"(((l_orderkey >> $b) & 1) << ${2 * b}) | " +
            s"(((l_partkey >> $b) & 1) << ${2 * b + 1})").mkString(" | ")}
            AS z
        FROM lineitem WHERE l_orderkey < 2000
        ORDER BY l_orderkey, l_linenumber""")),

    // ============== deterministic epoch shuffle (training order) ==========
    // The ordering step after packing: every document gets an EXACT
    // position in a pseudorandom permutation keyed by
    // xxhash64(doc_id, epoch) — reproducible, RNG-free, a different
    // permutation per epoch. The rank is the two-phase range form
    // (bounded per-bucket counts → driver prefix-sum → per-bucket
    // window + offset), never a single-partition global window. The
    // oracle ranks the aux-materialized epoch-salted hashes with one
    // ROW_NUMBER — the semantic, exactly, minus the scale shape.
    Q("train_order",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Layout.epochShuffle(docs, col("doc_id"), epoch = 1)
          .select(col("doc_id"), col("train_pos"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id,
          ROW_NUMBER() OVER (ORDER BY h, doc_id) AS train_pos
        FROM '$AuxDir/epoch_hashes/*.parquet' WHERE epoch = 1
        ORDER BY doc_id""")),

    // =============== bigram LM quality scoring ============================
    // One rung up the n-gram ladder from text_unigram_logprob: the mean
    // conditional ln p(w2|w1) per document, MLE from the corpus's own
    // bigram table; the prefix denominator is the SUM of that same
    // table (numerator and denominator cannot drift). Bigrams extract
    // row-locally (two shifted slices zipped) — no per-document window.
    Q("text_bigram_logprob",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        TextMetrics.bigramLogprob(docs, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents),
          p AS (SELECT doc_id, toks,
            UNNEST(range(1, greatest(len(toks), 1))) AS i FROM t),
          rows_ AS (SELECT doc_id,
            toks[i] || ' ' || toks[i + 1] AS bg, toks[i] AS w1 FROM p),
          c2 AS (SELECT bg, w1, COUNT(*) AS c2 FROM rows_ GROUP BY 1, 2),
          cp AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS cp
            FROM c2 GROUP BY 1),
          scored AS (SELECT r.doc_id,
            round(ln(CAST(c2.c2 AS DOUBLE) / cp.cp), 6) AS lp
          FROM rows_ r JOIN c2 USING (bg) JOIN cp ON cp.w1 = c2.w1)
        SELECT doc_id,
          CAST(SUM(CAST(lp AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
            AS avg_logprob,
          COUNT(*) AS n_bigrams
        FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // ================== hierarchical rollup aggregation ==================
    // The OLAP subtotal surface: one pass produces per-(flag, status)
    // rows, per-flag subtotals, and the grand total, tagged by the
    // grouping bitmask — Spark's rollup == DuckDB's GROUP BY ROLLUP
    // with the same GROUPING bit convention (1 = aggregated level).
    Q("agg_rollup",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("gid"),
            count(lit(1)).as("n_rows"),
            dsum(col("l_quantity")).as("qty_sum"))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("gid").cast("long").as("gid"), col("n_rows"),
            col("qty_sum"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          COUNT(*) AS n_rows, ${sqlDsum("l_quantity")} AS qty_sum
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus""")),

    // rollup's sibling: CUBE — every grouping-set combination (per-pair,
    // per-flag, per-status, grand total) in the same one-pass
    // grouping-bitmask plan. Same Expand-based execution; the exchange
    // carries |sets| x |groups| bounded aggregate rows.
    Q("agg_cube",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.cube(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("gid"),
            count(lit(1)).as("n_rows"),
            dsum(col("l_quantity")).as("qty_sum"))
          .select(col("l_returnflag"), col("l_linestatus"),
            col("gid").cast("long").as("gid"), col("n_rows"),
            col("qty_sum"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          COUNT(*) AS n_rows, ${sqlDsum("l_quantity")} AS qty_sum
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag, l_linestatus""")),

    // ======== weighted exact-N sampling (Efraimidis–Spirakis) ============
    // The canonical distributed weighted without-replacement draw: the
    // N largest u^(1/w) keys per language win, probability proportional
    // to the weight (document length here). Log-space keys (no pow/exp
    // libm), per-stratum top-N on the bounded two-phase aggregator; the
    // oracle replays key arithmetic and ranking from the raw hash aux.
    Q("sample_weighted_topn",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Sampling.weightedSampleExactN(docs, col("lang"), col("doc_id"),
            col("n_chars"), n = 15)
          .select(col("lang"), col("sample_rank"), col("doc_id"),
            col("n_chars"))
          .orderBy(col("lang"), col("sample_rank"))
      },
      Some(s"""WITH hx AS (SELECT doc_id,
            ((h % 4294967296) + 4294967296) % 4294967296 AS u
            FROM '$AuxDir/doc_bucket/*.parquet'),
          k AS (SELECT d.lang, d.doc_id, d.n_chars,
            round(ln(CAST(u + 1 AS DOUBLE) / 4294967296.0), 6)
              / CAST(d.n_chars AS DOUBLE) AS key
            FROM documents d JOIN hx USING (doc_id)),
          r AS (SELECT lang, doc_id, n_chars,
            CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY key DESC, doc_id) AS INTEGER) AS sample_rank
            FROM k)
        SELECT lang, sample_rank, doc_id, n_chars FROM r
        WHERE sample_rank <= 15 ORDER BY lang, sample_rank""")),

    // ============ dedup: asymmetric containment pairs ====================
    // |A∩B|/|A| — the signal Jaccard misses at length skew: a short
    // document embedded in a long one contains ≈ 1 while Jaccard stays
    // near |A|/|B|. Both directions emitted per pair; the same
    // materialize-before-self-join rule as dedup_ngram_jaccard.
    Q("dedup_containment",
      (s, dir) => {
        val d = Pins.pin(t(s, dir, "documents").where(col("doc_id") < 50)
          .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh")))
        val a = d.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        val b = d.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(Dedup.containment(col("sh_a"), col("sh_b")), 6)
              .as("c_ab"),
            round(Dedup.containment(col("sh_b"), col("sh_a")), 6)
              .as("c_ba"))
          .where(greatest(col("c_ab"), col("c_ba")) >= 0.05)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d AS (SELECT doc_id,
            list_distinct([array_to_string(w[i:i+2], ' ')
              FOR i IN range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS w
                FROM documents WHERE doc_id < 50)),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CASE WHEN len(a.sh) > 0 THEN
              ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / len(a.sh), 6) ELSE 0.0 END AS c_ab,
            CASE WHEN len(b.sh) > 0 THEN
              ROUND(CAST(len(list_intersect(b.sh, a.sh)) AS DOUBLE)
                / len(b.sh), 6) ELSE 0.0 END AS c_ba
          FROM d a JOIN d b ON a.doc_id < b.doc_id)
        SELECT id_a, id_b, c_ab, c_ba FROM pairs
        WHERE GREATEST(c_ab, c_ba) >= 0.05
        ORDER BY id_a, id_b""")),

    // ========= dedup: containment over LSH candidates (production) =======
    // The composition a real corpus runs (the 50-doc sweep above is the
    // bounded demo): MinHash-LSH banding proposes candidate pairs over
    // the WHOLE corpus, and the asymmetric containment signal is scored
    // only for them — the length-skewed near-dups Jaccard-banded LSH
    // under-ranks (short doc inside a long one: containment ≈ 1,
    // Jaccard ≈ |A|/|B|) are recovered without going all-pairs. Only
    // candidate documents are ever shingled (LSH-bounded semi-join).
    // The oracle re-derives banding from the aux family hashes and the
    // intersection arithmetic from the raw text in list SQL.
    Q("dedup_containment_lsh",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cand = Dedup.minhashCandidates(docs, "doc_id", "text",
            n = 3, k = 32, bands = 8)
          .select(col("id_a"), col("id_b"))
        Dedup.containmentOverPairs(docs, "doc_id", "text", cand, n = 3)
          .select(col("id_a"), col("id_b"),
            round(col("c_ab"), 6).as("c_ab"),
            round(col("c_ba"), 6).as("c_ba"))
          .where(greatest(col("c_ab"), col("c_ba")) >= 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH fam AS (SELECT id, seed, fh
            FROM '$AuxDir/minhash_family/*.parquet'),
          sig AS (SELECT id, seed, MIN(fh) AS m FROM fam GROUP BY id, seed),
          sigl AS (SELECT id, list(m ORDER BY seed) AS sig
            FROM sig GROUP BY id),
          bands AS (SELECT id, b, sig[b*4+1:b*4+4] AS slc
            FROM sigl CROSS JOIN range(0, 8) t(b)),
          pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b
              ON a.b = b.b AND a.slc = b.slc AND a.id < b.id),
          cids AS (SELECT DISTINCT id FROM (
            SELECT id_a AS id FROM pairs
            UNION ALL SELECT id_b FROM pairs)),
          d AS (SELECT doc_id,
              list_distinct([array_to_string(w[i:i+2], ' ')
                FOR i IN range(1, len(w) - 1)]) AS sh
            FROM (SELECT doc_id, string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+') AS w
                  FROM documents
                  WHERE doc_id IN (SELECT id FROM cids))),
          sc AS (SELECT p.id_a, p.id_b,
              CASE WHEN len(a.sh) > 0 THEN
                ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(a.sh), 6) ELSE 0.0 END AS c_ab,
              CASE WHEN len(b.sh) > 0 THEN
                ROUND(CAST(len(list_intersect(b.sh, a.sh)) AS DOUBLE)
                  / len(b.sh), 6) ELSE 0.0 END AS c_ba
            FROM pairs p
            JOIN d a ON a.doc_id = p.id_a
            JOIN d b ON b.doc_id = p.id_b)
        SELECT id_a, id_b, c_ab, c_ba FROM sc
        WHERE GREATEST(c_ab, c_ba) >= 0.5
        ORDER BY id_a, id_b""")),

    // ============ the END-TO-END curation pipeline =======================
    // The composition a training-data pipeline actually ships, chained as
    // ONE plan: JSONL ingest with corrupt-line quarantine → token/
    // repetition quality filter → exact dedup (keep min-id per content
    // hash) → MinHash-LSH near-dedup (keep the canonical member of each
    // connected group) → eval-set decontamination (docs sharing >= 5
    // shingle hashes with the held-out doc_id < 50 slice) → weighted
    // exact-N sample per language (Efraimidis–Spirakis, weight =
    // n_chars) → sequence packing into 64-token training spans. Every
    // stage is individually oracle-gated elsewhere; this row gates the
    // COMPOSITION — the output spans only hash-match if every stage
    // passed exactly the right survivor set to the next.
    //
    // Plan shape (the scale audit lives in SCALE_r09.md): the ingest
    // parse and both quality predicates ride ONE text scan (from_json →
    // filters are projections), the exact dedup is a single min(struct)
    // hash aggregation — duplicates collapse MAP-SIDE, no keeper
    // join-back, no second scan — and the cleaned corpus is
    // materialized ONCE at the stage boundary (localCheckpoint here;
    // the parquet staging table a production pipeline writes): the
    // near-dedup signatures, both anti-joins, and the decontamination
    // explode all read that one artifact instead of re-executing the
    // scan lineage per reference. After decontamination only the four
    // small columns survive (text is dropped once its token count is
    // taken), so the sampler's two-phase agg + join-back and the
    // packing window touch a narrow table. The corrupt lines are
    // injected in-plan (a union of three literals) so the quarantine
    // path is exercised without a filesystem side effect; the eval side
    // of the decontamination join is broadcast; the sampler moves
    // bounded (key, id) pairs; packing is one per-language window.
    Q("pipeline_curate",
      (s, dir) => {
        import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
        val docs = t(s, dir, "documents")
        // 1-3. ingest + quarantine, quality filter, map-side exact
        // dedup — the shared CurateStages builder (also the plan
        // PlanInvariantsSpec asserts). The result is the
        // cleaned-corpus STAGE BOUNDARY: materialized once (a
        // production pipeline writes this table to parquet), because
        // four downstream consumers read it — the signature
        // projection, both anti-join left sides, and the
        // decontamination explode — and each would otherwise
        // re-execute the whole scan lineage
        // Fan-out measured OFF for this query in both forms
        // (OPTIMIZATION_r16, 2026-08-19): blanket 5.79 off / 5.90 on, and a
        // SELECTIVE fan of only this stage-1 corpus pass 6.03 off /
        // 6.39 on — the downstream shingle explodes and anti-joins
        // re-key everything anyway, so the extra exchange never pays.
        // The stage boundary is pinned FANNED: the exact-dedup
        // aggregation's output coalesces to one AQE partition at small
        // scale, so an unfanned checkpoint serializes all FOUR
        // downstream consumers (the 32-seed minhash signature
        // projection, both anti-join left sides, the decontamination
        // shingle explode) onto one core. One bounded hash exchange
        // inside the ckpt job (the fanout helper: size-gated,
        // deterministic doc_id key, self-disabling at scale where the
        // stage output is already many-partitioned) parallelizes every
        // consumer with no per-consumer exchange. Measured interleaved
        // (OPTIMIZATION_r17, this row is NOT whitelisted so the toggle isolates
        // this site): off 3.95/4.26, on 3.60/3.69 min/mean.
        // (The r16 probe that measured fan-out OFF for this query
        // fanned the stage-1 SCAN — re-keyed by every downstream agg —
        // not the pinned boundary itself.)
        val s1 = Pins.pin(
          withFanout(fanout(s, CurateStages.cleanedCorpus(s, docs))))
        // 4. near dedup: LSH candidates >= 0.5 est-Jaccard, connected
        // groups, drop every non-canonical (id != group_id) member
        val cand = Dedup.minhashCandidates(s1, "doc_id", "text",
            n = 3, k = 32, bands = 8)
          .where(col("est_jaccard") >= 0.5)
        val losers = Dedup.connectedGroups(cand, "id_a", "id_b")
          .where(col("id") =!= col("group_id"))
          .select(col("id").as("doc_id"))
        val s2 = s1.join(losers, Seq("doc_id"), "left_anti")
        // 5. decontaminate vs the held-out eval slice (doc_id < 50)
        def hashRows(d: DataFrame) = d.select(col("doc_id"), explode(toCol(
          graft.functions.DistinctShingleHashes(toExpr(col("text")), 3)))
          .as("h"))
        val evalH = hashRows(docs.where(col("doc_id") < 50))
          .select(col("h")).distinct()
        val contam = hashRows(s2)
          .join(broadcast(evalH), "h")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
          .where(col("n_shared") >= 5).select("doc_id")
        // text has served its last purpose (the token count); the
        // curated table carries only the four narrow columns into the
        // sampler/packer, and is materialized because the two-phase
        // top-k references its base twice (agg + join-back)
        val s3 = Pins.pin(s2.join(contam, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            TextMetrics.tokenCount(col("text")).cast("long").as("__pc_tok")))
        // 6. weighted exact-N per language (weight = document length)
        val samp = Sampling.weightedSampleExactN(s3, col("lang"),
          col("doc_id"), col("n_chars"), n = 10)
        // 7. pack the sampled docs into 64-token training sequences
        Packing.packSpans(samp, col("lang"), col("doc_id"), col("doc_id"),
            col("__pc_tok"), budget = 64)
          .orderBy(col("shard"), col("seq_id"), col("seq_offset"))
      },
      Some(s"""WITH RECURSIVE
        corpus AS (SELECT doc_id, lang, text, n_chars FROM documents
          WHERE doc_id >= 50),
        tokd AS (SELECT doc_id, lang, text, n_chars,
          string_split(text, ' ') AS toks FROM corpus),
        q AS (SELECT * FROM tokd WHERE len(toks) >= 5
          AND round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
            / len(toks), 6) <= 0.7),
        ex AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(text)),
        s1 AS (SELECT q.* FROM q JOIN ex USING (doc_id)),
        fam AS (SELECT id, seed, fh FROM '$AuxDir/minhash_family/*.parquet'
          WHERE id IN (SELECT doc_id FROM s1)),
        sig AS (SELECT id, seed, MIN(fh) AS m FROM fam GROUP BY id, seed),
        sigl AS (SELECT id, list(m ORDER BY seed) AS sig
          FROM sig GROUP BY id),
        bands AS (SELECT id, b, sig[b*4+1:b*4+4] AS slc
          FROM sigl CROSS JOIN range(0, 8) t(b)),
        pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.b = b.b AND a.slc = b.slc AND a.id < b.id),
        kept AS (SELECT p.id_a, p.id_b
          FROM pairs p
          JOIN sig sa ON sa.id = p.id_a
          JOIN sig sb ON sb.id = p.id_b AND sb.seed = sa.seed
          GROUP BY p.id_a, p.id_b
          HAVING SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) >= 16),
        edges AS (SELECT id_a AS src, id_b AS dst FROM kept
          UNION ALL SELECT id_b, id_a FROM kept),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT re.id, ed.dst FROM reach re JOIN edges ed ON ed.src = re.r),
        grp AS (SELECT id, MIN(r) AS group_id FROM reach GROUP BY id),
        s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN
          (SELECT id FROM grp WHERE id <> group_id)),
        ev AS (SELECT DISTINCT h
          FROM '$AuxDir/all_shingle_hashes/*.parquet' WHERE id < 50),
        contam AS (SELECT c.id FROM
            (SELECT id, h FROM '$AuxDir/all_shingle_hashes/*.parquet'
             WHERE id IN (SELECT doc_id FROM s2)) c
          JOIN ev USING (h) GROUP BY c.id HAVING COUNT(*) >= 5),
        s3 AS (SELECT * FROM s2
          WHERE doc_id NOT IN (SELECT id FROM contam)),
        hx AS (SELECT doc_id,
          ((h % 4294967296) + 4294967296) % 4294967296 AS u
          FROM '$AuxDir/doc_bucket/*.parquet'),
        keys AS (SELECT s3.lang, s3.doc_id, s3.toks,
            round(ln(CAST(u + 1 AS DOUBLE) / 4294967296.0), 6)
              / CAST(s3.n_chars AS DOUBLE) AS key
          FROM s3 JOIN hx USING (doc_id)),
        rk AS (SELECT lang, doc_id, toks,
            ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY key DESC, doc_id) AS rnk
          FROM keys),
        samp AS (SELECT lang, doc_id, CAST(len(toks) AS BIGINT) AS tk
          FROM rk WHERE rnk <= 10),
        cum AS (SELECT lang, doc_id, tk,
            CAST(COALESCE(SUM(tk) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS st
          FROM samp),
        sp AS (SELECT lang, doc_id, tk, st,
            UNNEST(range(st // 64, (st + tk - 1) // 64 + 1)) AS seq_id
          FROM cum)
        SELECT lang AS shard, seq_id,
          GREATEST(st, seq_id * 64) - seq_id * 64 AS seq_offset,
          doc_id,
          GREATEST(st, seq_id * 64) - st AS doc_offset,
          LEAST(st + tk, (seq_id + 1) * 64) - GREATEST(st, seq_id * 64)
            AS span_len
        FROM sp ORDER BY shard, seq_id, seq_offset""")),

    // ======= dedup: duplicated-substring spans (ExactSubstr approx) ======
    // Lee et al. 2021's removal criterion, distributed: maximal token
    // spans all of whose 8-grams occur in >= 2 distinct documents —
    // shingle-position index, one hash-partitioned shared-gram agg
    // (min(id) <> max(id), never count-distinct), gaps-and-islands merge
    // per document. The oracle groups on the raw GRAM STRING where Spark
    // groups on its xxhash64 — equal modulo a 64-bit collision, the
    // repo's standing injective-in-practice convention.
    Q("dedup_substring_spans",
      (s, dir) => {
        Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text",
            k = 8, minSpanTokens = 12)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some("""WITH w AS (SELECT doc_id,
            string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ts FROM documents),
        sh AS (SELECT doc_id, UNNEST(range(0, len(ts) - 7)) AS st, ts
          FROM w),
        g AS (SELECT doc_id, st,
            array_to_string(ts[st+1:st+8], ' ') AS gram FROM sh),
        dup AS (SELECT gram FROM g GROUP BY gram
          HAVING MIN(doc_id) <> MAX(doc_id)),
        hits AS (SELECT doc_id, st FROM g JOIN dup USING (gram)),
        isl AS (SELECT doc_id, st,
            st - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st)
              AS grp
          FROM hits)
        SELECT doc_id, CAST(MIN(st) AS BIGINT) AS span_start,
          CAST(MAX(st) + 7 AS BIGINT) AS span_end,
          CAST(MAX(st) - MIN(st) + 8 AS BIGINT) AS span_tokens
        FROM isl GROUP BY doc_id, grp
        HAVING CAST(MAX(st) - MIN(st) + 8 AS BIGINT) >= 12
        ORDER BY doc_id, span_start""")),

    // ============= quality: Gopher rules composite filter ================
    // Rae et al. 2021 A1.1 — per-document rule flags + the conjunctive
    // keep. minWords tuned to the corpus length distribution (10-127
    // words) so both outcomes occur; the stopword list is corpus-register
    // common words (the documented parameterization) for the same reason.
    Q("quality_gopher",
      (s, dir) => {
        val stops = Seq("the", "a", "value", "table", "key", "row",
          "data", "query")
        t(s, dir, "documents")
          .select(col("doc_id"),
            TextMetrics.gopherFlags(col("text"), minWords = 40,
              maxWords = 100000, stopwords = stops).as("g"))
          .select(col("doc_id"), col("g.n_words").as("n_words"),
            col("g.mean_word_len").as("mean_word_len"),
            col("g.hash_ratio").as("hash_ratio"),
            col("g.ellipsis_ratio").as("ellipsis_ratio"),
            col("g.alpha_frac").as("alpha_frac"),
            col("g.n_stopwords").as("n_stopwords"),
            col("g.bullet_frac").as("bullet_frac"),
            col("g.ellipsis_frac").as("ellipsis_frac"),
            col("g.keep").cast("int").as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (SELECT doc_id, text,
            string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws,
            string_split(text, chr(10)) AS ls FROM documents),
        f AS (SELECT doc_id,
            CAST(len(ws) AS BIGINT) AS n_words,
            round(length(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g'))
              / CAST(len(ws) AS DOUBLE), 6) AS mean_word_len,
            round((length(text) - length(replace(text, '#', ''))) / 1.0
              / len(ws), 6) AS hash_ratio,
            round((length(text) - length(replace(text, '...', ''))) / 3.0
              / len(ws), 6) AS ellipsis_ratio,
            round(len(regexp_extract_all(text,
              '(?:^|[ \t\n\x0B\f\r])[^ \t\n\x0B\f\r]*[A-Za-z][^ \t\n\x0B\f\r]*'))
              / CAST(len(ws) AS DOUBLE), 6) AS alpha_frac,
            CAST(len(list_intersect(ws,
              ['the', 'a', 'value', 'table', 'key', 'row', 'data',
               'query'])) AS BIGINT) AS n_stopwords,
            round(len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %'))
              / CAST(len(ls) AS DOUBLE), 6) AS bullet_frac,
            round(len(list_filter(ls, l -> l LIKE '%...'))
              / CAST(len(ls) AS DOUBLE), 6) AS ellipsis_frac
          FROM t)
        SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
          alpha_frac, n_stopwords, bullet_frac, ellipsis_frac,
          CAST(n_words >= 40 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
            AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
            AND alpha_frac >= 0.8
            AND n_stopwords >= 2 AS INTEGER) AS keep
        FROM f ORDER BY doc_id""")),

    // ============= percentile-tail length filtering =======================
    // The data-driven length rule (fixed thresholds misfit some
    // languages): per language, drop documents whose token count falls
    // outside [p05, p95] — BOTH boundaries from one multi-quantile
    // rank-selection routing (every stage at data-partition
    // parallelism; the scan-heavy passes run once, not per tail),
    // broadcast back onto the corpus as a BOUNDED
    // |lang|-row table, the filter riding the scan. Output is the
    // per-language survivor count + the boundaries (6-dp-rounded — the
    // a12 interpolation parity), so the gate pins boundary arithmetic
    // AND the filter semantics.
    Q("filter_length_tails",
      (s, dir) => {
        // the staged narrow per-doc projection (the text_bm25 idiom):
        // the routing's eager legs and the final filter all read
        // (doc_id, lang, n_tok) — 16-byte rows — instead of each
        // re-tokenizing the text column from the parquet scan
        val lens = Pins.pin(t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            TextMetrics.tokenCount(col("text")).cast("long").as("n_tok")))
        val bounds = PercentileAgg.percentileSelectMulti(
            lens.select(col("lang"), col("n_tok").cast("double")
              .as("v")), Seq("lang"), "v", Seq(0.05, 0.95),
            Seq("lo_raw", "hi_raw"))
          .select(col("lang"), round(col("lo_raw"), 6).as("lo"),
            round(col("hi_raw"), 6).as("hi"))
        lens.join(broadcast(bounds), "lang")
          .where(col("n_tok") >= col("lo") && col("n_tok") <= col("hi"))
          .groupBy(col("lang"), col("lo"), col("hi"))
          .agg(count(lit(1)).as("n_kept"))
          .select(col("lang"), col("lo"), col("hi"), col("n_kept"))
          .orderBy(col("lang"))
      },
      Some("""WITH lens AS (SELECT doc_id, lang,
            (length(text) - length(replace(text, ' ', ''))) + 1 AS n_tok
          FROM documents),
        b AS (SELECT lang,
            ROUND(quantile_cont(CAST(n_tok AS DOUBLE), 0.05), 6) AS lo,
            ROUND(quantile_cont(CAST(n_tok AS DOUBLE), 0.95), 6) AS hi
          FROM lens GROUP BY lang)
        SELECT l.lang, b.lo, b.hi,
          CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM lens l JOIN b ON l.lang = b.lang
        WHERE l.n_tok >= b.lo AND l.n_tok <= b.hi
        GROUP BY l.lang, b.lo, b.hi ORDER BY l.lang""")),

    // ===================== corpus snapshot diff ===========================
    // The incremental-crawl primitive: given two corpus versions, how
    // many documents were added / removed / changed / unchanged, with
    // character volume per class — what decides whether the next
    // pipeline run is incremental or full. v2 derives deterministically
    // from v1 here (modified text for doc_id%7==3, doc_id%11==0
    // dropped, %13==0 re-added as new ids). Scale shape: each side is
    // ONE scan projected to (doc_id, fingerprint, length) — 16-byte
    // rows, never full text — then one doc_id-keyed full outer join and
    // a 4-group aggregate. Fingerprint equality stands in for text
    // equality (xxhash64; a 2^-64 collision would misclass one doc as
    // unchanged — the standard trade); the DuckDB oracle compares the
    // TEXT itself, so the gate also certifies collision-freeness on
    // this corpus.
    Q("corpus_diff",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val v2 = docs
          .where(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 7 === 3, concat(col("text"), lit(" v2")))
              .otherwise(col("text")).as("text"))
          .unionAll(docs.where(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        val a = docs.select(col("doc_id"),
          xxhash64(col("text")).as("fp1"),
          length(col("text")).cast("long").as("len1"))
        val b = v2.select(col("doc_id"),
          xxhash64(col("text")).as("fp2"),
          length(col("text")).cast("long").as("len2"))
        a.join(b, Seq("doc_id"), "full_outer")
          .select(
            when(col("fp1").isNull, lit("added"))
              .when(col("fp2").isNull, lit("removed"))
              .when(col("fp1") =!= col("fp2"), lit("changed"))
              .otherwise(lit("unchanged")).as("status"),
            coalesce(col("len2"), col("len1")).as("len"))
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"))
          .orderBy(col("status"))
      },
      Some("""WITH v2 AS (
          SELECT doc_id,
            CASE WHEN doc_id % 7 = 3 THEN text || ' v2' ELSE text END
              AS text
          FROM documents WHERE doc_id % 11 <> 0
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text FROM documents
          WHERE doc_id % 13 = 0),
        d AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
            CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.text <> b.text THEN 'changed'
              ELSE 'unchanged' END AS status,
            COALESCE(length(b.text), length(a.text)) AS len
          FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(len) AS BIGINT) AS n_chars
        FROM d GROUP BY status ORDER BY status""")),

    // ================== NFC canonicalization audit ========================
    // The pre-dedup text-canonicalization check: how much of the corpus
    // is NOT in Unicode NFC (composed vs decomposed accents hash
    // differently, silently under-deduplicating mixed-source corpora)
    // — plus length totals of the normalized text, so the oracle pins
    // the NORMALIZATION OUTPUT cross-engine, not just the changed
    // count. One scan, one bounded aggregate, all row-local.
    Q("text_nfc",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // nfc computed ONCE per row (a nested select — CodegenFallback
        // expressions are not guaranteed subexpression elimination);
        // the changed flag routes NULL text to 0 via when/otherwise,
        // matching the oracle's CASE (a bare boolean cast would sum to
        // NULL on an all-null corpus where the oracle sums 0)
        docs.select(col("text"), TextMetrics.nfc(col("text")).as("nt"))
          .select(
            when(col("nt") =!= col("text"), lit(1L)).otherwise(lit(0L))
              .as("changed"),
            length(col("nt")).cast("long").as("nlen"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("changed")).as("n_changed"),
            sum(col("nlen")).as("nfc_chars"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN nfc_normalize(text) <> text
            THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          CAST(SUM(length(nfc_normalize(text))) AS BIGINT) AS nfc_chars
        FROM documents""")),

    // ===================== HTML → text extraction =========================
    // The stage between WARC ingest and the quality filters (VERDICT
    // r14 Missing #1): raw crawl responses are markup, and every
    // quality rule assumes prose. The generator wraps each document's
    // text in a deterministic HTML shell per rule class (full page
    // with script/style/comment, entity soup, passthrough prose,
    // table, uppercase-attrs + inline tags, whitespace abuse); BOTH
    // engines then run the SAME replacement chain — the DuckDB side is
    // GENERATED from HtmlOps.Steps (one source of truth, zero drift).
    // Row-local, codegen'd, zero shuffles — rides the scan at 100 TB.
    Q("text_extract",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          HtmlOps.htmlToText(rawHtml).as("text_plain"))
        .orderBy(col("doc_id")),
      Some(s"""WITH h AS (SELECT doc_id, $rawHtmlSql AS html
          FROM documents)
        SELECT doc_id, ${HtmlOps.htmlToTextSql("html")} AS text_plain
        FROM h ORDER BY doc_id""")),

    // ================= outlink extraction → link graph ===================
    // The crawl → link-graph seam (frontier building, per-domain
    // outlink counts, domain-authority scoring): harvest anchor hrefs
    // from RAW markup (two quote-form passes — RE2 has no backrefs),
    // key each link by its registrable domain, count. The relative
    // link (no scheme) quarantines as NULL — never keyed on garbage —
    // and the unquoted-href anchor pins the declared envelope (NOT
    // harvested) in both engines. Row-local extraction riding the
    // scan + one bounded group-by exchange; the oracle replays the
    // SAME patterns (generated from HtmlOps constants) through
    // DuckDB's regexp_extract_all + the independent URL-rule chain.
    Q("html_links",
      (s, dir) => t(s, dir, "documents")
        .select(explode(HtmlOps.extractLinks(rawHtmlLinks)).as("link"))
        .select(UrlOps.urlDomain(col("link")).as("link_domain"))
        .where(col("link_domain").isNotNull)
        .groupBy(col("link_domain"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy(col("link_domain")),
      Some(s"""WITH hsrc AS (SELECT doc_id, $rawHtmlLinksSql AS html
          FROM documents),
        u AS (SELECT doc_id,
            unnest(${HtmlOps.extractLinksSql("html")}) AS url
          FROM hsrc),
        $urlChainSql
        SELECT domain AS link_domain, CAST(COUNT(*) AS BIGINT) AS n_links
        FROM res WHERE domain IS NOT NULL
        GROUP BY domain ORDER BY link_domain""")),

    // ================== page-header metadata signals ======================
    // The three header signals a curation stack keys on BEFORE body
    // work: <html lang> (language routing ahead of content langid),
    // <title> presence (quality/dedup keys), meta-robots noindex
    // (exclusion compliance). Shells cover both quote forms, both
    // meta attribute orders, uppercase tags, and a decoy case
    // (data-lang / name="robotsx" / robots prose inside a description
    // content) that must extract NOTHING — so the envelope itself is
    // cross-engine data. Row-local regexp projections riding the
    // scan; one bounded group-by exchange.
    Q("html_meta",
      (s, dir) => t(s, dir, "documents")
        .select(rawHtmlMeta.as("h"))
        .select(HtmlOps.htmlLang(col("h")).as("lang"),
          HtmlOps.htmlNoindex(col("h")).cast("int").as("noindex"),
          when(HtmlOps.htmlTitle(col("h")) =!= "", lit(1L))
            .otherwise(lit(0L)).as("titled"))
        .groupBy(col("lang"), col("noindex"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("titled")).as("n_titled"))
        .orderBy(col("lang"), col("noindex")),
      Some(s"""WITH hm AS (SELECT $rawHtmlMetaSql AS h FROM documents),
        m AS (SELECT ${HtmlOps.htmlLangSql("h")} AS lang,
            CAST(${HtmlOps.htmlNoindexSql("h")} AS INTEGER) AS noindex,
            CASE WHEN ${HtmlOps.htmlTitleSql("h")} <> ''
              THEN 1 ELSE 0 END AS titled
          FROM hm)
        SELECT lang, noindex, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(titled) AS BIGINT) AS n_titled
        FROM m GROUP BY lang, noindex ORDER BY lang, noindex""")),

    // ================ main-content line-density selection =================
    // The boilerplate stage past tag-stripping (RefinedWeb/FineWeb
    // recipe class): anchor spans marked before extraction, per-line
    // link density = linked/total extracted chars, all-link nav and
    // footer lines drop, prose survives — including a line whose one
    // inline link sits below the threshold, an anchor spanning a block
    // boundary (open line all-linked, carry-close prefix linked), and
    // a forged U+0001 in page content (stripped — spans cannot be
    // faked). Scan-riding marked extraction, codegen'd per-line
    // projections after posexplode, ONE doc-keyed exchange to
    // re-assemble; the oracle replays marking, splitting, density and
    // re-assembly from the same constants.
    Q("html_main",
      (s, dir) => {
        val src = t(s, dir, "documents")
          .select(col("doc_id"), rawHtmlMain.as("h"))
        HtmlOps.mainContent(src, "doc_id", "h")
          .select(col("doc_id"), col("n_lines"), col("n_lines_kept"),
            col("text_chars"), col("link_chars"), col("text_main"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH hsrc AS (SELECT doc_id, $rawHtmlMainSql AS h
          FROM documents),
        mx AS (SELECT doc_id, ${HtmlOps.markedTextSql("h")} AS mt
          FROM hsrc),
        lx AS (SELECT doc_id, i - 1 AS pos, list_extract(ls, i) AS line
          FROM (SELECT doc_id, string_split(mt, chr(10)) AS ls,
                  unnest(range(1,
                    len(string_split(mt, chr(10))) + 1)) AS i
                FROM mx)),
        sx AS (SELECT doc_id, pos, line,
            length(translate(line,
              '${HtmlOps.MarkOpen}${HtmlOps.MarkClose}', '')) AS total,
            length(translate(regexp_replace(regexp_replace(line,
                ${HtmlOps.sqlLit(HtmlOps.CarryRe)}, '', 'g'),
                ${HtmlOps.sqlLit(HtmlOps.SpanRe)}, '', 'g'),
              '${HtmlOps.MarkOpen}${HtmlOps.MarkClose}', '')) AS unlinked
          FROM lx),
        kx AS (SELECT doc_id, pos, line, total,
            total - unlinked AS linked,
            (total >= ${HtmlOps.DefaultMinChars}
              AND CAST(total - unlinked AS DOUBLE)
                <= ${HtmlOps.DefaultMaxLinkDensity}
                   * CAST(total AS DOUBLE)) AS keep
          FROM sx)
        SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
            AS n_lines_kept,
          CAST(SUM(total) AS BIGINT) AS text_chars,
          CAST(SUM(linked) AS BIGINT) AS link_chars,
          COALESCE(string_agg(CASE WHEN keep THEN translate(line,
              '${HtmlOps.MarkOpen}${HtmlOps.MarkClose}', '') END,
            chr(10) ORDER BY pos), '') AS text_main
        FROM kx GROUP BY doc_id ORDER BY doc_id""")),

    // ================= charset-aware payload decoding =====================
    // The WARC ingest's non-UTF-8 web: BOM > HTTP header charset >
    // meta prescan > UTF-8, WHATWG alias table (ISO-8859-1 IS
    // windows-1252, gb2312 IS GBK), REPLACE on malformed bytes. The
    // DETECTION pipeline — BOM sniff over the generated payload blob's
    // hex, header/meta regexes (the shared pattern constants), the
    // alias CASE generated from HttpDecode.Aliases, precedence —
    // replays fully in DuckDB; the byte→text DECODE kernel is pinned
    // as shared constants (prefix + tailText per scenario), which
    // WarcCharsetSpec verifies against the JVM decoder byte-for-byte
    // (the idn_label_map precedent, constants instead of aux). The
    // scenario-label registry membership rides a generated IN list.
    Q("warc_charset",
      (s, dir) => {
        val n = CsCases.length
        val cid = (col("doc_id") % n).cast("int")
        def pay(c: CsCase): Column = {
          val body = concat(lit(c.prefix).cast("binary"),
            unhex(lit(c.tailHex)))
          if (c.http)
            concat(lit(CsEnvPre + c.header + CsEnvPost).cast("binary"),
              body)
          else body
        }
        val payload = CsCases.zipWithIndex.init.foldRight(
          pay(CsCases.last): Column) { case ((c, i), acc) =>
          when(cid === i, pay(c)).otherwise(acc)
        }
        val wct = CsCases.zipWithIndex.init.foldRight(
          lit(if (CsCases.last.http) "application/http; msgtype=response"
              else "application/octet-stream"): Column) {
          case ((c, i), acc) =>
            when(cid === i,
              lit(if (c.http) "application/http; msgtype=response"
                  else "application/octet-stream")).otherwise(acc)
        }
        val d = graft.sources.WarcSource.decodedPayload(wct, payload)
        t(s, dir, "documents")
          .select(col("doc_id"), cid.as("case_id"),
            d.getField("charset").as("charset"),
            d.getField("text").as("text"))
          .orderBy(col("doc_id"))
      },
      Some {
        import graft.functions.HttpDecode
        val n = CsCases.length
        def caseOver(f: CsCase => String): String =
          CsCases.zipWithIndex.init.map { case (c, i) =>
            s"WHEN $i THEN ${f(c)}"
          }.mkString("CASE case_id ", " ",
            s" ELSE ${f(CsCases.last)} END")
        val headSql = caseOver(c =>
          if (c.http) HtmlOps.sqlLit(CsEnvPre + c.header + CsEnvHeadTail)
          else "''")
        val prefixSql = caseOver(c => HtmlOps.sqlLit(c.prefix))
        val bodyHexSql = caseOver(c =>
          s"upper(hex(${HtmlOps.sqlLit(c.prefix)}::BLOB)) || " +
            s"'${c.tailHex.toUpperCase(java.util.Locale.ROOT)}'")
        val textSql = caseOver(c => HtmlOps.sqlLit(c.prefix + c.tailText))
        // the alias CASE + registry-membership filter, generated from
        // the SAME tables the engine resolves with
        def resolveSql(lab: String): String = {
          val aliased = HttpDecode.Aliases.toSeq.sortBy(_._1)
            .map { case (k, v) =>
              s"WHEN ${HtmlOps.sqlLit(k)} THEN " +
                HtmlOps.sqlLit(v.toLowerCase(java.util.Locale.ROOT))
            }.mkString(s"CASE lower($lab) ", " ", s" ELSE lower($lab) END")
          val known = Seq("windows-1252", "shift_jis", "gbk", "utf-8",
            "utf-16le", "utf-16be")
            .map(HtmlOps.sqlLit).mkString("(", ", ", ")")
          s"(SELECT CASE WHEN x.r IN $known THEN x.r END " +
            s"FROM (SELECT $aliased AS r) x)"
        }
        s"""WITH src AS (SELECT doc_id,
              CAST(doc_id % $n AS INTEGER) AS case_id FROM documents),
          gen AS (SELECT doc_id, case_id,
              $headSql AS head,
              $prefixSql AS prefix,
              $bodyHexSql AS body_hex,
              $textSql AS text
            FROM src),
          det AS (SELECT doc_id, case_id, text,
              CASE WHEN left(body_hex, 6) = 'EFBBBF' THEN 'utf-8'
                   WHEN left(body_hex, 4) = 'FEFF' THEN 'utf-16be'
                   WHEN left(body_hex, 4) = 'FFFE' THEN 'utf-16le'
              END AS bom_cs,
              regexp_extract(head,
                ${HtmlOps.sqlLit(HttpDecode.HeaderCharsetRe)}, 1)
                AS hdr_lab,
              regexp_extract(left(prefix, ${HttpDecode.PrescanBytes}),
                ${HtmlOps.sqlLit(HttpDecode.MetaCharsetRe)}, 1)
                AS meta_lab
            FROM gen)
          SELECT doc_id, case_id,
            COALESCE(bom_cs, ${resolveSql("hdr_lab")},
              ${resolveSql("meta_lab")}, 'utf-8') AS charset,
            text
          FROM det ORDER BY doc_id"""
      }),

    // ======================= C4 cleaning rules ============================
    // Raffel et al. 2020 §2.2, the most-cited crawl-cleaning recipe:
    // line rules (terminal punctuation, ≥3 words, no-javascript) and
    // page rules (≥5 sentences over the SURVIVING text, no lorem
    // ipsum, no curly brace). The generator's three shells pin the
    // interaction cases: a lorem line that SURVIVES line-level but
    // drops the page, and a code line that drops at BOTH levels. The
    // badword list / langdetect / span-dedup halves of C4 are the
    // composition with existing operators (documented in c4Flags).
    // Row-local; the oracle re-derives every rule independently.
    Q("quality_c4",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextMetrics.c4Flags(rawC4Page).as("c"))
        .select(col("doc_id"),
          col("c.n_lines_kept").as("n_lines_kept"),
          col("c.n_sentences").as("n_sentences"),
          length(col("c.text_clean")).cast("long").as("clean_chars"),
          col("c.has_lorem").cast("int").as("has_lorem"),
          col("c.has_brace").cast("int").as("has_brace"),
          col("c.keep").cast("int").as("keep"))
        .orderBy(col("doc_id")),
      Some(s"""WITH src AS (SELECT doc_id, $rawC4PageSql AS t
          FROM documents),
        k AS (SELECT doc_id, t,
            list_filter(string_split(t, chr(10)), l ->
              regexp_matches(l,
                '${TextMetrics.C4Terminal}${graft.core.Ws.HorizStar}$$')
              AND len(regexp_extract_all(l, '${graft.core.Ws.Not}+'))
                >= ${TextMetrics.C4MinLineWords}
              AND NOT contains(lower(l), 'javascript')) AS kept
          FROM src),
        c AS (SELECT doc_id,
            array_to_string(kept, chr(10)) AS tc, len(kept) AS nk,
            contains(lower(t), 'lorem ipsum') AS hl,
            contains(t, '{') AS hb
          FROM k)
        SELECT doc_id, CAST(nk AS BIGINT) AS n_lines_kept,
          CAST(len(regexp_extract_all(tc,
            '${TextMetrics.C4SentenceMark}')) AS BIGINT) AS n_sentences,
          CAST(length(tc) AS BIGINT) AS clean_chars,
          CAST(hl AS INTEGER) AS has_lorem,
          CAST(hb AS INTEGER) AS has_brace,
          CAST((len(regexp_extract_all(tc, '${TextMetrics.C4SentenceMark}'))
            >= ${TextMetrics.C4MinSentences}
            AND NOT hl AND NOT hb) AS INTEGER) AS keep
        FROM c ORDER BY doc_id""")),

    // ================ robots.txt evaluation (RFC 9309) ====================
    // The crawl-politeness gate: parse robots documents (comment
    // strip, key/value lines, consecutive user-agent lines heading
    // ONE group), select the crawler's group (exact token shadows *,
    // same-selector groups merge), translate patterns (* wildcard,
    // trailing $ anchor, regex specials literal), match paths, and
    // resolve by MOST-OCTETS precedence with allow winning ties;
    // unmatched URLs default allowed. Everything is relational —
    // explode + two windows for the parse, an equi-join on host with
    // the match as join condition, one bounded window per URL for
    // the argmax — so the ORACLE replays the ENTIRE RFC pipeline
    // independently in DuckDB (no aux data at all).
    Q("robots_eval",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val robots = docs
          .select(robotsHost.as("host"), rawRobotsTxt.as("txt"))
          .distinct()
        val urls = docs
          .select(robotsHost.as("host"), rawRobotsPath.as("path"))
          .distinct()
        RobotsOps.evaluate(urls, RobotsOps.rules(robots, "graftbot"))
          .select(col("host"), col("path"),
            col("allowed").cast("int").as("allowed"),
            coalesce(col("winner_pattern"), lit(""))
              .as("winner_pattern"))
          .orderBy(col("host"), col("path"))
      },
      Some(s"""WITH rsrc AS (SELECT DISTINCT $robotsHostSql AS host,
            $rawRobotsTxtSql AS txt FROM documents),
        usrc AS (SELECT DISTINCT $robotsHostSql AS host,
            $rawRobotsPathSql AS path FROM documents),
        rlines AS (SELECT host, i AS pos, list_extract(ls, i) AS line
          FROM (SELECT host, string_split_regex(txt, '\\r?\\n') AS ls,
                  unnest(range(1,
                    len(string_split_regex(txt, '\\r?\\n')) + 1)) AS i
                FROM rsrc)),
        kv AS (SELECT host, pos,
            lower(trim(regexp_extract(
              trim(regexp_replace(line, '#.*$$', '')),
              '^([^:]+):', 1))) AS k,
            trim(regexp_extract(
              trim(regexp_replace(line, '#.*$$', '')),
              '^[^:]+:(.*)$$', 1)) AS v
          FROM rlines),
        kept AS (SELECT * FROM kv
          WHERE k IN ('user-agent', 'allow', 'disallow')),
        g1 AS (SELECT host, pos, k, v,
            CASE WHEN k = 'user-agent' AND COALESCE(
                LAG(k) OVER (PARTITION BY host ORDER BY pos), '')
                <> 'user-agent' THEN 1 ELSE 0 END AS boundary
          FROM kept),
        g2 AS (SELECT host, pos, k, v,
            SUM(boundary) OVER (PARTITION BY host ORDER BY pos
              ROWS UNBOUNDED PRECEDING) AS grp
          FROM g1),
        agents AS (SELECT host, grp, lower(v) AS ua FROM g2
          WHERE k = 'user-agent'),
        hx AS (SELECT host, MAX(CASE WHEN ua = 'graftbot' THEN 1
            ELSE 0 END) AS has_exact
          FROM agents GROUP BY host),
        chosen AS (SELECT DISTINCT a.host, a.grp
          FROM agents a JOIN hx USING (host)
          WHERE (hx.has_exact = 1 AND a.ua = 'graftbot')
             OR (hx.has_exact = 0 AND a.ua = '*')),
        rrules AS (SELECT g2.host, g2.k AS directive, g2.v AS pattern,
            length(g2.v) AS pat_len,
            replace(regexp_replace(g2.v,
              '([\\\\.^$$+?(){}\\[\\]|])', '\\\\\\1', 'g'),
              '*', '.*') AS star
          FROM g2 JOIN chosen USING (host, grp)
          WHERE g2.k IN ('allow', 'disallow') AND g2.v <> ''),
        rx AS (SELECT host, directive, pattern, pat_len,
            '^' || CASE WHEN ends_with(star, '\\$$')
              THEN substring(star, 1, length(star) - 2) || '$$'
              ELSE star END AS rx
          FROM rrules),
        m AS (SELECT u.host, u.path, r.directive, r.pattern, r.pat_len
          FROM usrc u LEFT JOIN rx r
            ON u.host = r.host AND regexp_matches(u.path, r.rx)),
        vw AS (SELECT host, path, directive, pattern,
            ROW_NUMBER() OVER (PARTITION BY host, path
              ORDER BY pat_len DESC NULLS LAST,
                CASE WHEN directive = 'allow' THEN 0 ELSE 1 END,
                pattern) AS rn
          FROM m)
        SELECT host, path,
          CAST(COALESCE(directive = 'allow', TRUE) AS INTEGER) AS allowed,
          COALESCE(pattern, '') AS winner_pattern
        FROM vw WHERE rn = 1 ORDER BY host, path""")),

    // ============== robots.txt non-rule directives ========================
    // The politeness/discovery half of the same parse: crawl-delay
    // (group-scoped, de-facto standard — value from the §2.2.1-selected
    // groups, max of survivors, NULL when absent/unparseable) and
    // sitemap URLs (host-global per sitemaps.org — group-independent,
    // document order). The four-host universe covers: a star-group
    // delay with two ordered sitemaps; a named-group delay SHADOWING a
    // larger star delay; an unparseable delay ('fast' → NULL) plus a
    // mid-group sitemap; and a host with neither. The oracle replays
    // parse, grouping (crawl-delay lines split user-agent runs exactly
    // like rules), selection and both harvests independently in DuckDB.
    Q("robots_directives",
      (s, dir) => {
        val robots = t(s, dir, "documents")
          .select(robotsHost.as("host"), rawRobotsTxt.as("txt"))
          .distinct()
        RobotsOps.directives(robots, "graftbot").orderBy(col("host"))
      },
      Some(s"""WITH rsrc AS (SELECT DISTINCT $robotsHostSql AS host,
            $rawRobotsTxtSql AS txt FROM documents),
        rlines AS (SELECT host, i AS pos, list_extract(ls, i) AS line
          FROM (SELECT host, string_split_regex(txt, '\\r?\\n') AS ls,
                  unnest(range(1,
                    len(string_split_regex(txt, '\\r?\\n')) + 1)) AS i
                FROM rsrc)),
        kv AS (SELECT host, pos,
            lower(trim(regexp_extract(
              trim(regexp_replace(line, '#.*$$', '')),
              '^([^:]+):', 1))) AS k,
            trim(regexp_extract(
              trim(regexp_replace(line, '#.*$$', '')),
              '^[^:]+:(.*)$$', 1)) AS v
          FROM rlines),
        kept AS (SELECT * FROM kv WHERE k IN ('user-agent', 'allow',
          'disallow', 'crawl-delay', 'sitemap')),
        sm AS (SELECT host, string_agg(v, ' ' ORDER BY pos) AS sitemaps,
            CAST(COUNT(*) AS BIGINT) AS n_sitemaps
          FROM kept WHERE k = 'sitemap' AND v <> '' GROUP BY host),
        gl AS (SELECT * FROM kept WHERE k <> 'sitemap'),
        g1 AS (SELECT host, pos, k, v,
            CASE WHEN k = 'user-agent' AND COALESCE(
                LAG(k) OVER (PARTITION BY host ORDER BY pos), '')
                <> 'user-agent' THEN 1 ELSE 0 END AS boundary
          FROM gl),
        g2 AS (SELECT host, pos, k, v,
            SUM(boundary) OVER (PARTITION BY host ORDER BY pos
              ROWS UNBOUNDED PRECEDING) AS grp
          FROM g1),
        agents AS (SELECT host, grp, lower(v) AS ua FROM g2
          WHERE k = 'user-agent'),
        hx AS (SELECT host, MAX(CASE WHEN ua = 'graftbot' THEN 1
            ELSE 0 END) AS has_exact
          FROM agents GROUP BY host),
        chosen AS (SELECT DISTINCT a.host, a.grp
          FROM agents a JOIN hx USING (host)
          WHERE (hx.has_exact = 1 AND a.ua = 'graftbot')
             OR (hx.has_exact = 0 AND a.ua = '*')),
        cd AS (SELECT g2.host,
            MAX(TRY_CAST(g2.v AS DOUBLE)) AS crawl_delay
          FROM g2 JOIN chosen USING (host, grp)
          WHERE g2.k = 'crawl-delay' GROUP BY g2.host)
        SELECT r.host, cd.crawl_delay,
          COALESCE(sm.sitemaps, '') AS sitemaps,
          CAST(COALESCE(sm.n_sitemaps, 0) AS BIGINT) AS n_sitemaps
        FROM (SELECT DISTINCT host FROM rsrc) r
        LEFT JOIN cd USING (host) LEFT JOIN sm USING (host)
        ORDER BY host""")),

    // ===================== curation funnel report =========================
    // The dashboard a curation engineer reads before shipping a filter
    // config: per RULE, how many documents fail it (marginal counts —
    // which rule does the work, which is dead weight) plus the
    // all-rules conjunction. ONE scan, one single-row aggregate of
    // rule-failure sums (every rule is a row-local projection riding
    // the scan), exploded to long format driver-side. Fractions are
    // double divisions of exact integer counts.
    Q("quality_funnel",
      (s, dir) => {
        val stops = Seq("the", "a", "value", "table", "key", "row",
          "data", "query")
        val flagged = t(s, dir, "documents").select(
          TextMetrics.gopherFlags(col("text"), minWords = 40,
            maxWords = 100000, stopwords = stops).as("g"),
          TextMetrics.repetitionFeatures(col("text")).as("r"))
        // the SAME predicates gopherFlags.keep conjoins (single Spark-
        // side source — TextMetrics.gopherRules), evaluated per rule,
        // plus the repetition rule
        val rules: Seq[(String, Column)] = TextMetrics.gopherRules(
          col("g.n_words"), col("g.mean_word_len"), col("g.hash_ratio"),
          col("g.ellipsis_ratio"), col("g.alpha_frac"),
          col("g.n_stopwords"), col("g.bullet_frac"),
          col("g.ellipsis_frac"), minWords = 40, maxWords = 100000) :+
          ("repetition" -> (col("r.dup_ngram_frac") < 0.3))
        val allPass = rules.map(_._2).reduce(_ && _)
        // a NULL rule outcome (null text) counts as FAIL in both
        // engines: when/CASE route null conditions to the else branch
        val aggs = rules.map { case (n, c) =>
          sum(when(c, lit(0L)).otherwise(lit(1L))).as(s"${n}__f")
        } ++ Seq(
          sum(when(allPass, lit(0L)).otherwise(lit(1L)))
            .as("all_rules__f"),
          count(lit(1)).as("n_total"))
        val one = flagged.agg(aggs.head, aggs.tail: _*)
        val names = rules.map(_._1) :+ "all_rules"
        one.select(explode(array(names.map(n => struct(
            lit(n).as("rule"),
            col(s"${n}__f").as("n_fail"),
            col("n_total"),
            (col(s"${n}__f").cast("double") / col("n_total"))
              .as("fail_frac"))): _*)).as("p"))
          .select(col("p.*"))
          .orderBy(col("rule"))
      },
      Some("""WITH t AS (SELECT doc_id, text,
            string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS ws,
            string_split(text, chr(10)) AS ls,
            string_split(text, ' ') AS toks FROM documents),
        f AS (SELECT doc_id,
            CAST(len(ws) AS BIGINT) AS n_words,
            round(length(regexp_replace(text, '[ \t\n\x0B\f\r]+', '', 'g'))
              / CAST(len(ws) AS DOUBLE), 6) AS mean_word_len,
            round((length(text) - length(replace(text, '#', ''))) / 1.0
              / len(ws), 6) AS hash_ratio,
            round((length(text) - length(replace(text, '...', ''))) / 3.0
              / len(ws), 6) AS ellipsis_ratio,
            round(len(regexp_extract_all(text,
              '(?:^|[ \t\n\x0B\f\r])[^ \t\n\x0B\f\r]*[A-Za-z][^ \t\n\x0B\f\r]*'))
              / CAST(len(ws) AS DOUBLE), 6) AS alpha_frac,
            CAST(len(list_intersect(ws,
              ['the', 'a', 'value', 'table', 'key', 'row', 'data',
               'query'])) AS BIGINT) AS n_stopwords,
            round(len(list_filter(ls, l -> l LIKE '- %' OR l LIKE '* %'))
              / CAST(len(ls) AS DOUBLE), 6) AS bullet_frac,
            round(len(list_filter(ls, l -> l LIKE '%...'))
              / CAST(len(ls) AS DOUBLE), 6) AS ellipsis_frac,
            round(CASE WHEN len(toks) - 2 > 0
              THEN 1.0 - CAST(len(list_distinct(
                  list_transform(range(0, greatest(len(toks) - 2, 0)),
                    i -> array_to_string(toks[i + 1 : i + 3], ' '))))
                AS DOUBLE) / (len(toks) - 2)
              ELSE 0.0 END, 6) AS dup_ngram_frac
          FROM t),
        c AS (SELECT COUNT(*) AS n_total,
            SUM(CASE WHEN n_words >= 40 AND n_words <= 100000
              THEN 0 ELSE 1 END) AS r_words,
            SUM(CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
              THEN 0 ELSE 1 END) AS r_mwl,
            SUM(CASE WHEN hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
              THEN 0 ELSE 1 END) AS r_sym,
            SUM(CASE WHEN bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
              THEN 0 ELSE 1 END) AS r_lines,
            SUM(CASE WHEN alpha_frac >= 0.8 THEN 0 ELSE 1 END) AS r_alpha,
            SUM(CASE WHEN n_stopwords >= 2 THEN 0 ELSE 1 END) AS r_stop,
            SUM(CASE WHEN dup_ngram_frac < 0.3 THEN 0 ELSE 1 END) AS r_rep,
            SUM(CASE WHEN n_words >= 40 AND n_words <= 100000
              AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
              AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
              AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
              AND alpha_frac >= 0.8 AND n_stopwords >= 2
              AND dup_ngram_frac < 0.3 THEN 0 ELSE 1 END) AS r_all
          FROM f)
        SELECT rule, n_fail, n_total,
          CAST(n_fail AS DOUBLE) / n_total AS fail_frac FROM (
          SELECT 'words_in_range' AS rule, CAST(r_words AS BIGINT)
            AS n_fail, CAST(n_total AS BIGINT) AS n_total FROM c
          UNION ALL SELECT 'mean_word_len', CAST(r_mwl AS BIGINT),
            CAST(n_total AS BIGINT) FROM c
          UNION ALL SELECT 'symbol_ratios', CAST(r_sym AS BIGINT),
            CAST(n_total AS BIGINT) FROM c
          UNION ALL SELECT 'line_shapes', CAST(r_lines AS BIGINT),
            CAST(n_total AS BIGINT) FROM c
          UNION ALL SELECT 'alpha_words', CAST(r_alpha AS BIGINT),
            CAST(n_total AS BIGINT) FROM c
          UNION ALL SELECT 'stopwords', CAST(r_stop AS BIGINT),
            CAST(n_total AS BIGINT) FROM c
          UNION ALL SELECT 'repetition', CAST(r_rep AS BIGINT),
            CAST(n_total AS BIGINT) FROM c
          UNION ALL SELECT 'all_rules', CAST(r_all AS BIGINT),
            CAST(n_total AS BIGINT) FROM c)
        ORDER BY rule""")),

    // ========== temperature-scaled mixture (alpha-smoothed draw) =========
    // Conneau & Lample 2019's exponentiated-count language smoothing:
    // per-language weights count^0.5, rounded to 4 dp (so the Hamilton
    // normalizer is exact by construction), apportioned to 60 slots,
    // drawn with the per-stratum quota sampler. The oracle replays the
    // counts, the pow/round, the apportionment arithmetic, and the
    // hash-ranked draw from the aux bucket table.
    Q("mix_temperature",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val quotas = Sampling.temperatureQuotas(docs, col("lang"),
          alpha = 0.5, total = 60)
        Sampling.smallestHashSampleQuotas(docs, col("lang"),
            col("doc_id"), quotas)
          .select(col("lang"), col("sample_rank"), col("doc_id"))
          .orderBy(col("lang"), col("sample_rank"))
      },
      Some(s"""WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents
            GROUP BY lang),
          w AS (SELECT lang, round(pow(n, 0.5), 4) AS wt FROM cnt),
          tot AS (SELECT CAST(SUM(CAST(wt AS DECIMAL(18,4))) AS DOUBLE)
              AS sw FROM w),
          q AS (SELECT lang, 60 * wt / sw AS x FROM w CROSS JOIN tot),
          fl AS (SELECT lang, CAST(floor(x) AS INTEGER) AS fq,
              x - floor(x) AS rem FROM q),
          need AS (SELECT 60 - SUM(fq) AS extra FROM fl),
          rk AS (SELECT lang, fq,
              ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS r FROM fl),
          quota AS (SELECT lang, fq + CASE WHEN r <= (SELECT extra
              FROM need) THEN 1 ELSE 0 END AS n FROM rk),
          hx AS (SELECT doc_id, h FROM '$AuxDir/doc_bucket/*.parquet'),
          ranked AS (SELECT d.lang, d.doc_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY d.lang
                ORDER BY hx.h, d.doc_id) AS INTEGER) AS sample_rank
            FROM documents d JOIN hx USING (doc_id))
        SELECT r.lang, r.sample_rank, r.doc_id
        FROM ranked r JOIN quota q ON q.lang = r.lang
        WHERE r.sample_rank <= q.n ORDER BY r.lang, r.sample_rank""")),

    // ========== decontamination at SPAN granularity (ExactSubstr) ========
    // duplicatedSpans pointed at the held-out eval slice (doc_id < 50,
    // the decontaminate convention): the exact overlapping REGIONS of
    // training documents, so a pipeline can cut benchmark text out of a
    // document instead of discarding it whole. Eval gram hashes reduce to
    // a bounded DISTINCT set and broadcast; the corpus side never
    // shuffles before the island window. Same gram-string-vs-xxhash64
    // oracle convention as dedup_substring_spans.
    Q("decontaminate_spans",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.decontaminateSpans(
            docs.where(col("doc_id") >= 50),
            docs.where(col("doc_id") < 50),
            "doc_id", "text", k = 8, minSpanTokens = 8)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"), col("span_start"))
      },
      Some("""WITH w AS (SELECT doc_id,
            string_split_regex(lower(text), '[ \t\n\x0B\f\r]+') AS ts FROM documents),
        sh AS (SELECT doc_id, UNNEST(range(0, len(ts) - 7)) AS st, ts
          FROM w),
        g AS (SELECT doc_id, st,
            array_to_string(ts[st+1:st+8], ' ') AS gram FROM sh),
        ev AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50),
        hits AS (SELECT doc_id, st FROM g
          WHERE doc_id >= 50 AND gram IN (SELECT gram FROM ev)),
        isl AS (SELECT doc_id, st,
            st - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY st)
              AS grp
          FROM hits)
        SELECT doc_id, CAST(MIN(st) AS BIGINT) AS span_start,
          CAST(MAX(st) + 7 AS BIGINT) AS span_end,
          CAST(MAX(st) - MIN(st) + 8 AS BIGINT) AS span_tokens
        FROM isl GROUP BY doc_id, grp
        HAVING CAST(MAX(st) - MIN(st) + 8 AS BIGINT) >= 8
        ORDER BY doc_id, span_start""")),

    // ============ quality: duplicate-line repetition rules ===============
    // The within-document half of the Gopher repetition family. The
    // corpus stores one prose block per document (no newlines), so the
    // demonstration table is crawl-shaped: pages of 4 consecutive
    // documents in which every third record was re-served (appears
    // twice) — the page text then carries real duplicate lines, and the
    // 0.30/0.20 removal bounds produce both outcomes (a page with two
    // re-served records scores 2/6 = 0.333 > 0.30). The page's member
    // texts feed dupLineFeaturesOfLines as the ARRAY collect_list
    // built — the line boundary stays authoritative (a member text
    // containing a newline would stay one line, exactly like DuckDB's
    // list(text)), and the metrics are line-ORDER-invariant so the
    // unordered collect needs no sort for determinism.
    Q("text_dup_lines",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val recs = docs.unionAll(docs.where(col("doc_id") % 3 === 0))
        val pages = recs
          .groupBy(floor(col("doc_id") / 4.0).cast("long").as("page"))
          .agg(collect_list(col("text")).as("page_lines"))
        pages
          .select(col("page"),
            graft.ops.TextMetrics.dupLineFeaturesOfLines(col("page_lines"))
              .as("f"))
          .select(col("page"), col("f.n_lines").as("n_lines"),
            col("f.dup_line_frac").as("dup_line_frac"),
            col("f.dup_line_char_frac").as("dup_line_char_frac"),
            col("f.keep").cast("int").as("keep"))
          .orderBy(col("page"))
      },
      Some("""WITH recs AS (
          SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
        pg AS (SELECT CAST(floor(doc_id / 4.0) AS BIGINT) AS page,
            list(text) AS ls FROM recs GROUP BY 1),
        f AS (SELECT page,
            CAST(len(ls) AS BIGINT) AS n_lines,
            round((len(ls) - len(list_distinct(ls)))
              / CAST(len(ls) AS DOUBLE), 6) AS dup_line_frac,
            round((list_sum(list_transform(ls, l -> length(l)))
                - list_sum(list_transform(list_distinct(ls),
                    l -> length(l))))
              / CAST(greatest(list_sum(list_transform(ls,
                  l -> length(l))), 1) AS DOUBLE), 6)
              AS dup_line_char_frac
          FROM pg)
        SELECT page, n_lines, dup_line_frac, dup_line_char_frac,
          CAST(dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
            AS INTEGER) AS keep
        FROM f ORDER BY page""")),

    // ============ PCA: exact covariance of the embedding table ===========
    // The whitening/rotation primitive's distributed half: upper-triangle
    // second moments about the decimal-routed mean, each double product
    // rounded into decimal(18,9) BEFORE the order-independent sum. The
    // posexplode outer product partial-aggregates to <= D(D+1)/2 groups
    // per task before its one exchange.
    Q("embedding_covariance",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val mean = PcaStage.fitted(s, dir).mean
        Pca.covarianceUpper(e, "embedding", mean)
          .select(col("i").cast("long").as("i"),
            col("j").cast("long").as("j"),
            (col("cov_fp").cast("double") / lit(1e9)).as("cov"))
          .orderBy(col("i"), col("j"))
      },
      // the integer fixed point casts to double identically in both
      // engines (nearest double of the exact integer), then one shared
      // double division by 1e9
      Some(s"""WITH ${pcaChainSql(0)}
        SELECT i, j, CAST(c AS DOUBLE) / 1000000000 AS cov
        FROM cu ORDER BY i, j""")),

    // ======== PCA: top principal direction, exact-integer iteration ======
    // The ITERATIVE solve is oracle-gated end-to-end (the pq_train
    // unrolled-replay pattern): 8 power steps in exact integer
    // arithmetic — covariance at 1e9 fixed point, the vector at 1e6,
    // renormalization by max-|component| via sign-split truncating
    // division — so DuckDB reproduces every bit of every iterate, and
    // correctness never depends on convergence (which PcaSpec pins
    // separately against a double-arithmetic reference and a planted
    // spectrum).
    Q("embedding_pca",
      (s, dir) => {
        import s.implicits._
        // trains FRESH on purpose (not the PcaStage memo): this row
        // carries the fit cost in the bench (the pq_train convention)
        val (_, dirV) = Pca.fit(t(s, dir, "embeddings"), "embedding",
          PcaStage.Iters)
        dirV.zipWithIndex
          .map { case (v, i) => (i.toLong, v) }.toSeq
          .toDF("i", "v_fp")
          .orderBy(col("i"))
      },
      Some(s"""WITH ${pcaChainSql(PcaStage.Iters)}
        SELECT i, CAST(v AS BIGINT) AS v_fp FROM v${PcaStage.Iters}
        ORDER BY i""")),

    // ========= PCA: projection + most-extreme documents (use case) =======
    // Projection onto the fitted direction: codegen'd sequential dot of
    // the centered vector (DuckDB's list_inner_product accumulates
    // left-to-right like the DotProduct loop — the sim_lsh_buckets
    // precedent), 6-dp rounded, top-10 by |score| with vec_id
    // tie-break. The outlier-trimming / curriculum-ranking shape.
    Q("embedding_pca_project",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val f = PcaStage.fitted(s, dir)
        e.select(col("vec_id"), col("label"),
            Pca.projection(col("embedding"), f.mean, f.direction)
              .as("score"))
          .orderBy(abs(col("score")).desc, col("vec_id"))
          .limit(10)
      },
      Some(s"""WITH ${pcaChainSql(PcaStage.Iters)},
        ml AS (SELECT list(mu ORDER BY i) AS ml FROM m),
        dv AS (SELECT list(CAST(v AS DOUBLE) / 1000000 ORDER BY i) AS dv
          FROM v${PcaStage.Iters}),
        sc AS (SELECT vec_id, label,
            round(list_inner_product(
              list_transform(range(1, len(embedding) + 1),
                k -> CAST(embedding[k] AS DOUBLE) - ml[k]),
              dv), 6) AS score
          FROM embeddings CROSS JOIN ml CROSS JOIN dv)
        SELECT vec_id, label, score FROM sc
        ORDER BY abs(score) DESC, vec_id LIMIT 10""")),

    // ============ per-dimension embedding stats (fit table) ==============
    // The feature-standardization fit: per-dimension mean + sample
    // sigma. Two corpus passes (mean, squared deviations), each a
    // posexplode partial-aggregated to <= D groups per task before ONE
    // exchange — no outer product (that's the covariance row's price).
    // sqrt is IEEE-correctly-rounded in both engines, so sigma needs no
    // rounding pin. Trains FRESH (not the PcaStage memo): this row
    // carries the fit cost in the bench (the pq_train convention).
    Q("embedding_dim_stats",
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val mean = Pca.meanVector(e, "embedding")
        Pca.dimStats(e, "embedding", mean)
          .select(col("i").cast("long").as("i"), col("mu"), col("sigma"))
          .orderBy(col("i"))
      },
      Some(s"""WITH $pcaCenteredSql,
        $pcaSigmaSql
        SELECT m.i, m.mu, sg.sigma
        FROM m JOIN sg USING (i) ORDER BY m.i""")),

    // ================= embedding standardization (use) ====================
    // z-scoring against the staged fit table — what a pipeline runs on
    // every vector before clustering/quantization when dimensions have
    // wild scales. Pure zip_with projection (zero shuffles; the fit
    // table rides in as literals, the collect-route idiom); constant
    // dimensions standardize to 0 (the StandardScaler convention), not
    // NaN. Bounded 20-vector presentation slice; the oracle re-derives
    // mean, sigma AND z from the raw embeddings alone.
    Q("embedding_standardize",
      (s, dir) => {
        val st = PcaStage.dimStats(s, dir)
        t(s, dir, "embeddings")
          .where(col("vec_id") < 20)
          .select(col("vec_id"),
            posexplode(Pca.standardize(col("embedding"), st.mean,
              st.sigma)).as(Seq("i", "z")))
          .select(col("vec_id"), col("i").cast("long").as("i"), col("z"))
          .orderBy(col("vec_id"), col("i"))
      },
      Some(s"""WITH $pcaCenteredSql,
        $pcaSigmaSql
        SELECT uc.vec_id, uc.i,
          CASE WHEN sg.sigma = 0 THEN 0.0
            ELSE round(uc.cx / sg.sigma, 6) END AS z
        FROM uc JOIN sg USING (i) WHERE uc.vec_id < 20
        ORDER BY uc.vec_id, uc.i""")),

    // ======================= BM25 document ranking ========================
    // The retrieval-grade scorer over the same fixed query-term set as
    // text_tfidf: idf_bm25 * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl)),
    // k1=1.2, b=0.75. Scale shape: dl rides the tf GROUPING KEY
    // (functionally dependent on doc_id), so NO doc-sized join ever
    // forms — the only corpus-wide work is the scan and the one-row
    // (n_docs, sum_dl) aggregate, both partial-aggregated map-side; df
    // and the corpus scalars broadcast back onto the term-filtered tf
    // table. Determinism: the one ln is 6-dp-pinned (idfBm25), the rest
    // is IEEE +,*,/ in one fixed association order, and the per-doc sum
    // crosses engines in 1e-6 floor fixed point (the PCA idiom — a
    // decimal cast's half-boundary rounding is not cross-engine safe).
    Q("text_bm25",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val terms = Seq("hash", "join", "scan", "customer", "batch")
        // ONE corpus scan: the narrow per-doc projection (doc_id, dl,
        // query-term hits — the token array filtered ROW-LOCALLY to the
        // 5 terms, so it is tiny) is materialized once and feeds all
        // three consumers (tf, df, the corpus scalars). Without the pin
        // each consumer re-executes the scan — three corpus passes
        // (explain-verified; ReuseExchange does not fire here). At
        // 100 TB this stage boundary is the parquet staging table a
        // production ranker writes.
        val perDoc = Pins.pin(docs.select(col("doc_id"),
            TextMetrics.tokenCount(col("text")).as("dl"),
            filter(TextMetrics.tokens(col("text")),
              tk => tk.isin(terms: _*)).as("qtoks")))
        val tf = perDoc
          .select(col("doc_id"), col("dl"),
            explode(col("qtoks")).as("token"))
          .groupBy(col("doc_id"), col("dl"), col("token"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
        val n = perDoc.agg(count(lit(1)).as("n_docs"),
          sum(col("dl").cast("long")).as("sum_dl"))
        val score = TextMetrics.bm25Term(col("tf"), col("df"),
          col("n_docs"), col("dl"),
          col("sum_dl").cast("double") / col("n_docs"))
        tf.join(broadcast(dfreq), "token")
          .crossJoin(broadcast(n))
          .select(col("doc_id"),
            floor(score * lit(1000000L)).as("fp"))
          .groupBy(col("doc_id"))
          .agg((sum(col("fp")).cast("double") / lit(1000000L))
            .as("bm25"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id,
            len(string_split(text, ' ')) AS dl,
            unnest(string_split(text, ' ')) AS token FROM documents),
          tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf FROM toks
            WHERE token IN ('hash','join','scan','customer','batch')
            GROUP BY doc_id, dl, token),
          dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
          n AS (SELECT COUNT(*) AS n_docs,
            SUM(len(string_split(text, ' '))) AS sum_dl FROM documents)
        SELECT tf.doc_id,
          CAST(SUM(CAST(floor(
            ROUND(LN(1.0 + (n.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)), 6)
            * (tf.tf * 2.2)
            / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                / (CAST(n.sum_dl AS DOUBLE) / n.n_docs)))
            * 1000000) AS BIGINT)) AS DOUBLE) / 1000000 AS bm25
        FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
        GROUP BY tf.doc_id ORDER BY tf.doc_id""")),

    // ================ vocabulary coverage / OOV rate ======================
    // The tokenizer-planning metric: fix the top-V corpus vocabulary,
    // then measure per-language what fraction of token OCCURRENCES fall
    // outside it — the number that tells you whether a vocabulary size
    // starves a language before you train with it. One (lang, token)
    // exchange feeds BOTH the vocabulary (a second, vocabulary-sized
    // aggregate + bounded top-V TakeOrdered) and the coverage join; the
    // V-row vocab broadcasts back, so no corpus-sized side ever
    // shuffles twice. The rate is one double division of two exact
    // integer counts — bit-deterministic cross-engine.
    Q("vocab_coverage",
      (s, dir) =>
        TextMetrics.vocabCoverage(t(s, dir, "documents"), col("lang"),
            col("text"), v = 256)
          .withColumnRenamed("stratum", "lang")
          .orderBy(col("lang")),
      Some("""WITH toks AS (SELECT lang,
            unnest(string_split(text, ' ')) AS token FROM documents),
          lc AS (SELECT lang, token, COUNT(*) AS c FROM toks
            GROUP BY lang, token),
          vocab AS (SELECT token FROM (
            SELECT token, SUM(c) AS tc FROM lc GROUP BY token
            ORDER BY tc DESC, token LIMIT 256))
        SELECT lc.lang,
          CAST(SUM(lc.c) AS BIGINT) AS total_tokens,
          CAST(SUM(CASE WHEN vocab.token IS NULL THEN lc.c ELSE 0 END)
            AS BIGINT) AS oov_tokens,
          CAST(CAST(SUM(CASE WHEN vocab.token IS NULL THEN lc.c ELSE 0 END)
              AS BIGINT) AS DOUBLE)
            / CAST(SUM(lc.c) AS BIGINT) AS oov_rate
        FROM lc LEFT JOIN vocab ON lc.token = vocab.token
        GROUP BY lc.lang ORDER BY lc.lang""")),

    // ==================== tokenizer fertility per language ================
    // The OTHER tokenizer-planning number next to vocab_coverage:
    // fertility = subword pieces per whitespace word, and chars per
    // piece, per language — the signal that a fixed tokenizer
    // over-fragments some languages (high fertility = more compute per
    // sentence). Pure projections into ONE bounded aggregate (|lang|
    // groups); ratios are double divisions of exact integer sums.
    Q("token_fertility",
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("lang"),
            TextMetrics.tokenCountBpe(col("text")).as("p"),
            TextMetrics.tokenCount(col("text")).cast("long").as("w"),
            length(col("text")).cast("long").as("ch"))
          .groupBy(col("lang"))
          .agg(sum(col("p")).as("pieces"),
            sum(col("w")).as("words"),
            (sum(col("p")).cast("double") / sum(col("w")))
              .as("fertility"),
            (sum(col("ch")).cast("double") / sum(col("p")))
              .as("chars_per_piece"))
          .orderBy(col("lang"))
      },
      Some("""WITH f AS (SELECT lang,
            len(regexp_extract_all(text,
              '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS p,
            (length(text) - length(replace(text, ' ', ''))) + 1 AS w,
            length(text) AS ch
          FROM documents)
        SELECT lang,
          CAST(SUM(p) AS BIGINT) AS pieces,
          CAST(SUM(w) AS BIGINT) AS words,
          CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE)
            / CAST(SUM(w) AS BIGINT) AS fertility,
          CAST(CAST(SUM(ch) AS BIGINT) AS DOUBLE)
            / CAST(SUM(p) AS BIGINT) AS chars_per_piece
        FROM f GROUP BY lang ORDER BY lang""")),

    // ================= BPE tokenizer training (merge table) ===============
    // The artifact vocab_coverage/token_fertility evaluate but could not
    // produce: the learned merge list itself (Sennrich et al. 2016).
    // ONE corpus scan builds the word-frequency table; each of the 8
    // iterations is a bounded groupBy over the vocabulary's adjacent
    // pairs + a 1-row argmax collect + a row-local greedy rewrite — at
    // 100 TB the corpus scan is the cost, the iterations are noise.
    // All-integer arithmetic (pair counts = sums of word frequencies),
    // ties to the lexicographically smallest pair; the oracle replays
    // all 8 merge steps from raw tokens (the pq_train unrolled pattern).
    Q("bpe_train",
      (s, dir) => Bpe.trainDf(t(s, dir, "documents"), "text", BpeMerges),
      Some(s"""WITH ${bpeChainSql(BpeMerges)}
        SELECT * FROM (
          ${(1 to BpeMerges).map(t =>
            s"SELECT $t AS step, l AS lhs, r AS rhs, cnt AS pair_count FROM b$t")
            .mkString("\n          UNION ALL ")})
        ORDER BY step""")),

    // =============== batched-disjoint BPE tokenizer training ==============
    // The production fast path to a real 30k-merge vocabulary: each
    // round counts adjacent pairs ONCE, greedily selects the top-4
    // mutually-disjoint pairs (no shared member or concatenation —
    // subword-nmt's batched trick), and applies them all in one fold
    // pass — iterations collapse from `merges` to ~merges/4 while the
    // per-round cost stays one bounded groupBy + one bounded argmax +
    // one row-local rewrite. A DIFFERENT learned table from bpe_train's
    // canonical one-pair-per-round form (batched counts are round-start
    // snapshots), so it gates as its own row: the oracle replays all 3
    // rounds INCLUDING the greedy disjoint selection, pick by pick.
    Q("bpe_train_batched",
      (s, dir) => Bpe.trainBatchedDf(t(s, dir, "documents"), "text",
        BpeBatchedMerges, BpeBatchedN),
      Some(s"""WITH ${bpeBatchedChainSql(BpeBatchedRounds, BpeBatchedN)},
        sel AS (${(1 to BpeBatchedRounds).map(t =>
          s"SELECT $t AS round_no, rk, l, r, cnt FROM bsel$t")
          .mkString("\n          UNION ALL ")})
        SELECT * FROM (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY round_no, rk)
              AS INTEGER) AS step,
            round_no, l AS lhs, r AS rhs, cnt AS pair_count
          FROM sel)
        WHERE step <= $BpeBatchedMerges ORDER BY step""")),

    // ============= fertility under the LEARNED BPE vocabulary =============
    // token_fertility's pieces-per-word with the trained merge table in
    // place of the fixed regex heuristic — the number a tokenizer
    // planner actually sizes compute budgets with, measured per
    // language. Spark encodes the VOCABULARY once (row-local folds over
    // a bounded table, training order = application priority) and
    // broadcast-joins the corpus token scan against it; the oracle
    // reads the same final word table its bpe_train chain already
    // built (w8 IS the encoded vocabulary).
    Q("bpe_fertility",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // the training-final word table IS the encoded vocabulary (the
        // oracle reads its w8 the same way); re-running encodeWords
        // over it could merge FURTHER — a later step can mint a symbol
        // equal to an earlier pair's member, making re-application
        // non-idempotent (BpeSpec pins this asymmetry). Staged: the
        // one-time train cost lives on the bench's bpe_stage row.
        val words = BpeStage.staged(s, dir).words
        val enc = words.select(col("word"), size(col("syms")).as("n_sub"))
        // LEFT join + char-count fallback (Bpe.fertility's rule): an
        // OOV word counts its character length as pieces — what a
        // char-fallback tokenizer emits — instead of silently dropping
        // from numerator AND denominator (low-bias on held-out
        // corpora); n_oov surfaces how much rode the fallback (0 here:
        // the training corpus covers itself)
        docs.select(col("lang"),
            explode(TextMetrics.tokens(col("text"))).as("word"))
          .where(length(col("word")) > 0)
          .join(broadcast(enc), Seq("word"), "left")
          .select(col("lang"),
            coalesce(col("n_sub"), length(col("word"))).as("p"),
            col("n_sub").isNull.cast("long").as("oov"))
          .groupBy(col("lang"))
          .agg(sum(col("p").cast("decimal(18,0)")).cast("long")
              .as("pieces"),
            count(lit(1)).as("words"),
            (sum(col("p").cast("decimal(18,0)")).cast("double") /
              count(lit(1))).as("fertility"),
            sum(col("oov")).as("n_oov"))
          .orderBy(col("lang"))
      },
      Some(s"""WITH ${bpeChainSql(BpeMerges)},
        toks AS (SELECT lang, UNNEST(string_split(text, ' ')) AS word
          FROM documents),
        ft AS (SELECT lang, word FROM toks WHERE len(word) > 0),
        j AS (SELECT ft.lang,
            COALESCE(len(w$BpeMerges.syms), len(ft.word)) AS p,
            CASE WHEN w$BpeMerges.word IS NULL THEN 1 ELSE 0 END AS oov
          FROM ft LEFT JOIN w$BpeMerges ON ft.word = w$BpeMerges.word)
        SELECT lang,
          CAST(SUM(p) AS BIGINT) AS pieces,
          COUNT(*) AS words,
          CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE) / COUNT(*) AS fertility,
          CAST(SUM(oov) AS BIGINT) AS n_oov
        FROM j GROUP BY lang ORDER BY lang""")),

    // ============ BPE document encoding (tokens → vocab ids) ==============
    // The pretraining last mile's first half: every document becomes a
    // token-id sequence under the LEARNED vocabulary (real-BPE
    // numbering: base chars sorted, then merges in training order).
    // Encode never re-runs the merge folds — each word broadcast-joins
    // its trained split (the vocabulary-sized staged table), ids
    // assemble row-locally (sort_array, no per-document window). The
    // oracle replays the whole chain: 8 merge steps, the id numbering,
    // the per-word splits, and the position-ordered flattening.
    Q("bpe_encode",
      (s, dir) => {
        val st = BpeStage.staged(s, dir)
        Bpe.encodeDocs(
            t(s, dir, "documents").where(col("doc_id") < 40),
            "doc_id", "text", st.words, st.vocab)
          .select(col("doc_id"),
            posexplode(col("ids")).as(Seq("pos", "token_id")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("token_id"))
          .orderBy(col("doc_id"), col("pos"))
      },
      Some(s"""WITH ${bpeChainSql(BpeMerges)},
        ${bpeVocabSql(BpeMerges)},
        dw AS (SELECT doc_id, word, wpos FROM (
            SELECT doc_id, UNNEST(string_split(text, ' ')) AS word,
              UNNEST(range(len(string_split(text, ' ')))) AS wpos
            FROM documents WHERE doc_id < 40)
          WHERE len(word) > 0),
        ds AS (SELECT dw.doc_id, dw.wpos,
            UNNEST(w$BpeMerges.syms) AS symbol,
            UNNEST(range(len(w$BpeMerges.syms))) AS spos
          FROM dw JOIN w$BpeMerges ON dw.word = w$BpeMerges.word),
        enc AS (SELECT ds.doc_id, ds.wpos, ds.spos, v.token_id
          FROM ds JOIN vocab v USING (symbol))
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY wpos, spos) - 1 AS pos, token_id
        FROM enc ORDER BY doc_id, pos""")),

    // ====== BPE-aware sequence packing (the tokenize→pack composition) ====
    // The last mile's second half: per-document token counts under the
    // LEARNED vocabulary (not a whitespace heuristic) feed the
    // concat-and-split packer — per-language shards, 128-token budget,
    // exact span layout. Composition of two oracle-gated operators;
    // the oracle replays the learned counts AND the integer span
    // arithmetic end-to-end.
    Q("bpe_pack",
      (s, dir) => {
        val words = BpeStage.staged(s, dir).words
        val docTok = t(s, dir, "documents")
          .select(col("lang"), col("doc_id"),
            explode(TextMetrics.tokens(col("text"))).as("word"))
          .where(length(col("word")) > 0)
          .join(broadcast(words.select(col("word"),
            size(col("syms")).as("n_sub"))), Seq("word"))
          .groupBy(col("lang"), col("doc_id"))
          .agg(sum(col("n_sub")).as("tok"))
        Packing.packSpans(docTok, col("lang"), col("doc_id"),
            col("doc_id"), col("tok"), budget = 128)
          .orderBy(col("shard"), col("seq_id"), col("seq_offset"))
      },
      Some(s"""WITH ${bpeChainSql(BpeMerges)},
        dw AS (SELECT lang, doc_id, word FROM (
            SELECT lang, doc_id,
              UNNEST(string_split(text, ' ')) AS word FROM documents)
          WHERE len(word) > 0),
        d AS (SELECT dw.lang, dw.doc_id,
            CAST(SUM(len(w$BpeMerges.syms)) AS BIGINT) AS tok
          FROM dw JOIN w$BpeMerges ON dw.word = w$BpeMerges.word
          GROUP BY 1, 2),
        c AS (SELECT lang, doc_id, tok,
          CAST(COALESCE(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS st
          FROM d),
        e AS (SELECT lang, doc_id, tok, st,
          UNNEST(range(st // 128, (st + tok - 1) // 128 + 1)) AS seq_id
          FROM c)
        SELECT lang AS shard, seq_id,
          GREATEST(st, seq_id * 128) - seq_id * 128 AS seq_offset,
          doc_id,
          GREATEST(st, seq_id * 128) - st AS doc_offset,
          LEAST(st + tok, (seq_id + 1) * 128) - GREATEST(st, seq_id * 128)
            AS span_len
        FROM e ORDER BY shard, seq_id, seq_offset""")),

    // ======== model-based quality classifier: multinomial NB train ========
    // The learned complement to the rule-based filters (the
    // fastText-class stage every production curation stack runs next to
    // its heuristics). Weak supervision exactly as practiced: the label
    // comes from a deterministic rule (≥50 words and contains "the" —
    // Gopher-lite; splits this corpus 251/249), the model then
    // generalizes it. Training is pure aggregation — one corpus token
    // scan into a vocabulary-sized nonzero (token, class) rollup; this
    // row emits that rollup (the model table) with its 6-dp-rounded
    // Laplace log-likelihoods.
    Q("quality_nb_train",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val m = NaiveBayes.train(docs.withColumn("label", nbWeakLabel),
          "text", "label")
        m.tokenCounts.orderBy(col("token"), col("label"))
      },
      Some(s"""WITH $nbModelSql
        SELECT token, label, c, ROUND(LN(c + 1), 6) AS log_lik
        FROM tc ORDER BY token, label""")),

    // ================ NB quality classifier: score + argmax ===============
    // Scoring = one corpus token pass against the broadcast model, the
    // sparse decomposition (zero-count pairs contribute ln(1) = 0, so
    // only nonzero counts are ever joined):
    //   score(d,c) = log_prior(c) − N_d·ln(n_tokens_c + V)
    //                + Σ_occurrences ln(count(t,c)+1)
    // with the likelihood sum routed through decimal(18,9) and every ln
    // 6-dp-rounded at the model — the oracle replays priors, norms, the
    // per-document sums, and the tie-broken argmax.
    Q("quality_nb_score",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val m = NaiveBayes.train(docs.withColumn("label", nbWeakLabel),
          "text", "label")
        NaiveBayes.predict(docs, "doc_id", "text", m)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $nbModelSql,
        vs AS (SELECT COUNT(DISTINCT token) AS v FROM f2),
        td AS (SELECT COUNT(*) AS n FROM lab),
        cs AS (SELECT l.label,
            ROUND(LN(CAST(l.nd AS DOUBLE) / td.n), 6) AS log_prior,
            ROUND(LN(COALESCE(tt.nt, 0) + vs.v), 6) AS log_norm
          FROM (SELECT label, COUNT(*) AS nd FROM lab GROUP BY label) l
          LEFT JOIN (SELECT label, COUNT(*) AS nt FROM f2 GROUP BY label) tt
            USING (label)
          CROSS JOIN vs CROSS JOIN td),
        dt AS (SELECT f2.doc_id, f2.token FROM f2
          JOIN (SELECT DISTINCT token FROM tc) vt USING (token)),
        s1 AS (SELECT dt.doc_id, tc.label,
            CAST(SUM(CAST(ROUND(LN(tc.c + 1), 6) AS DECIMAL(18,9)))
              AS DOUBLE) AS s
          FROM dt JOIN tc USING (token) GROUP BY 1, 2),
        nd AS (SELECT lab.doc_id,
            CAST(COALESCE(n0.n, 0) AS BIGINT) AS n
          FROM lab LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM dt
            GROUP BY 1) n0 ON n0.doc_id = lab.doc_id),
        sc AS (SELECT nd.doc_id, cs.label,
            ROUND(cs.log_prior - nd.n * cs.log_norm
              + COALESCE(s1.s, 0.0), 6) AS score
          FROM nd CROSS JOIN cs
          LEFT JOIN s1 ON s1.doc_id = nd.doc_id AND s1.label = cs.label)
        SELECT doc_id, label AS predicted, score FROM (
          SELECT doc_id, label, score, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, label) AS r
          FROM sc) WHERE r = 1 ORDER BY doc_id""")),

    // ============== URL normalization + registrable domain ================
    // The keying layer before crawl-corpus dedup/mixing: scheme/host
    // case, default ports, tracking params, fragments and trailing
    // slashes all collapse (rules pinned in UrlOps.scala); the
    // registrable domain is the cap/mix key (PSL-lite: structural
    // last-two-labels plus the co.uk-class second-level suffixes).
    // Row-local regex projections in the Java∩RE2 subset — the oracle
    // re-derives every rule independently. Unparseable rows normalize
    // to NULL (surface, never key on garbage).
    Q("url_normalize",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), UrlOps.normalize(rawUrl).as("url_norm"),
          UrlOps.urlDomain(rawUrl).as("domain"))
        .orderBy(col("doc_id")),
      Some(s"""WITH $urlNormSql
        SELECT doc_id, url_norm, domain FROM res ORDER BY doc_id""")),

    // ===================== per-domain document caps ========================
    // The anti-domination rule of a crawl mix (a single crawled site
    // must not swamp the corpus): cap every registrable domain at N
    // documents via the deterministic smallest-hash draw — the bounded
    // two-phase aggregator (pairs through the exchange, never rows; no
    // per-domain window), keyed on the normalizer's domain. Malformed
    // URLs (NULL domain) are excluded — they quarantine, they do not
    // sample. The oracle replays the domain derivation and ranks by
    // the aux-materialized id hash.
    Q("mix_domain_caps",
      (s, dir) => {
        val withD = t(s, dir, "documents")
          .select(col("doc_id"), UrlOps.urlDomain(rawUrl).as("domain"))
          .where(col("domain").isNotNull)
        Sampling.smallestHashSampleTwoPhase(withD, col("domain"),
            col("doc_id"), n = 5)
          .select(col("domain"), col("sample_rank"), col("doc_id"))
          .orderBy(col("domain"), col("sample_rank"))
      },
      Some(s"""WITH $urlNormSql,
        hx AS (SELECT doc_id, h FROM '$AuxDir/doc_bucket/*.parquet'),
        rk AS (SELECT res.domain, res.doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY res.domain
              ORDER BY hx.h, res.doc_id) AS INTEGER) AS sample_rank
          FROM res JOIN hx USING (doc_id) WHERE res.domain IS NOT NULL)
        SELECT domain, sample_rank, doc_id FROM rk WHERE sample_rank <= 5
        ORDER BY domain, sample_rank""")),

    // ========== Public-Suffix-List registrable domains (exact) ============
    // The PSL-exact upgrade of the lite domain key, on the FULL
    // committed publicsuffix.org list (~9.5k rules): resolves the rule
    // classes the structural heuristic cannot — private multi-label
    // suffixes (blogspot.com, s3.amazonaws.com), wildcards (*.ck,
    // *.kawasaki.jp) and their exceptions (!www.ck, !city.kawasaki.jp),
    // bare-suffix hosts (NULL — quarantine, never key on a public
    // suffix). The rule set compiles driver-side into ONE trie-backed
    // row-local expression (zero joins/shuffles, rides the scan,
    // O(host labels) per row — the r12 generated form cliffed at full
    // rule count, SCALE_r13 §1); the oracle re-parses the same
    // verbatim artifact and re-derives the whole algorithm as a
    // host-suffix equi-join against the rule table. Both the lite and
    // the exact key are emitted — the rows where they diverge are the
    // list's reason to exist.
    Q("url_psl_domain",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          UrlOps.urlDomain(rawUrlPsl).as("domain_lite"),
          UrlOps.urlDomainPsl(rawUrlPsl).as("domain_psl"))
        .orderBy(col("doc_id")),
      Some(s"""WITH $rawUrlPslSql,
        $urlChainSql,
        $pslChainSql
        SELECT d.doc_id, res.domain AS domain_lite,
          CASE WHEN d.sch = '' THEN NULL
            WHEN d.hp = '' THEN NULL
            WHEN regexp_matches(d.hp,
              '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$$') THEN d.hp
            WHEN len(string_split(d.hp, '.')) <= p.psl_l THEN NULL
            ELSE array_to_string(list_slice(string_split(d.hp, '.'),
              len(string_split(d.hp, '.')) - p.psl_l,
              len(string_split(d.hp, '.'))), '.') END AS domain_psl
        FROM dom d JOIN psl p USING (doc_id) JOIN res USING (doc_id)
        ORDER BY doc_id""")),

    // =========== ACE-canonicalized PSL domains (one key per wire =========
    // =========== identity) — the IdnAscii oracle gate (r15) ==============
    // A crawl corpus carries the SAME IDN domain as unicode IRIs,
    // on-the-wire xn-- URLs, and mixed-form hosts; keying per spelling
    // under-merges per-domain caps/dedup. urlDomainPslAscii
    // canonicalizes each host label to its UTS-46 ACE form BEFORE the
    // trie — this row cross-engine-replays that whole path: DuckDB
    // re-splits the host, maps each label through the precomputed
    // idn_label_map aux parquet (conversion precomputed, algorithm
    // replayed — the psl_lines precedent), reassembles, and re-derives
    // the PSL resolution over the ASCII host. n_forms ≥ 2 rows ARE the
    // merge property (unicode + punycode spellings of one identity);
    // the faß.de / fass.de PAIR pins UTS-46 nontransitional deviation
    // semantics as data, not just spec (IDNA2003 would fold them to
    // one row). Spark side: one row-local codegen'd projection riding
    // the scan (IdnAscii + ONE trie reference), one bounded exchange
    // for the group-by — flat in |rules| and |labels| at 100 TB.
    Q("url_psl_domain_ascii",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          UrlOps.urlDomainPslAscii(rawUrlIdn).as("domain_ascii"),
          UrlOps.strippedUrlHost(rawUrlIdn).as("hp"))
        .where(col("domain_ascii").isNotNull)
        .groupBy(col("domain_ascii"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("hp")).as("n_forms"))
        .orderBy(col("domain_ascii")),
      Some(s"""WITH $rawUrlIdnSql,
        pr AS (SELECT doc_id,
            lower(regexp_extract(url,
              '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS sch,
            lower(regexp_extract(url,
              '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS auth
          FROM u),
        hostp AS (SELECT doc_id, sch,
            regexp_replace(regexp_replace(
              CASE WHEN sch = 'http' THEN regexp_replace(auth, ':80$$', '')
                   WHEN sch = 'https' THEN regexp_replace(auth, ':443$$', '')
                   ELSE auth END,
              ':[0-9]+$$', ''), '\\.+$$', '') AS hp0
          FROM pr WHERE sch <> ''),
        imap AS (SELECT ulabel, alabel
          FROM '$AuxDir/idn_label_map/*.parquet'),
        labs AS (SELECT doc_id, sch, hp0, i, list_extract(ls, i) AS lab
          FROM (SELECT doc_id, sch, hp0, string_split(hp0, '.') AS ls,
                  unnest(range(1, len(string_split(hp0, '.')) + 1)) AS i
                FROM hostp WHERE hp0 <> '')),
        amap AS (SELECT l.doc_id, l.sch, l.hp0, l.i,
            COALESCE(m.alabel, l.lab) AS alab
          FROM labs l LEFT JOIN imap m ON l.lab = m.ulabel),
        dom AS (SELECT doc_id, sch, hp0,
            string_agg(alab, '.' ORDER BY i) AS hp
          FROM amap GROUP BY doc_id, sch, hp0),
        $pslChainSql,
        pd AS (SELECT d.doc_id, d.hp0,
            CASE WHEN d.hp = '' THEN NULL
              WHEN regexp_matches(d.hp,
                '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$$') THEN d.hp
              WHEN len(string_split(d.hp, '.')) <= p.psl_l THEN NULL
              ELSE array_to_string(list_slice(string_split(d.hp, '.'),
                len(string_split(d.hp, '.')) - p.psl_l,
                len(string_split(d.hp, '.'))), '.') END AS domain_ascii
          FROM dom d JOIN psl p USING (doc_id))
        SELECT domain_ascii, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(COUNT(DISTINCT hp0) AS BIGINT) AS n_forms
        FROM pd WHERE domain_ascii IS NOT NULL
        GROUP BY domain_ascii ORDER BY domain_ascii""")),

    // ============== per-domain caps on the PSL-exact key ==================
    // mix_domain_caps re-keyed on the PSL registrable domain (the
    // VERDICT r11 #3 option): same bounded two-phase smallest-hash
    // sampler, but the cap key now resolves private suffixes and
    // wildcards — under the lite key every *.blogspot.com blog counts
    // against ONE domain's cap (the whole platform throttled as one
    // site); under PSL each blog is its own registrable domain, which
    // is the anti-domination rule's actual intent. NULL domains (bare
    // public suffixes, unparseable URLs) quarantine, never sample.
    Q("mix_domain_caps_psl",
      (s, dir) => {
        val withD = t(s, dir, "documents")
          .select(col("doc_id"), UrlOps.urlDomainPsl(rawUrlPsl).as("domain"))
          .where(col("domain").isNotNull)
        Sampling.smallestHashSampleTwoPhase(withD, col("domain"),
            col("doc_id"), n = 3)
          .select(col("domain"), col("sample_rank"), col("doc_id"))
          .orderBy(col("domain"), col("sample_rank"))
      },
      Some(s"""WITH $rawUrlPslSql,
        $urlChainSql,
        $pslChainSql,
        pd AS (SELECT d.doc_id,
            CASE WHEN d.sch = '' THEN NULL
              WHEN d.hp = '' THEN NULL
              WHEN regexp_matches(d.hp,
                '^[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+$$') THEN d.hp
              WHEN len(string_split(d.hp, '.')) <= p.psl_l THEN NULL
              ELSE array_to_string(list_slice(string_split(d.hp, '.'),
                len(string_split(d.hp, '.')) - p.psl_l,
                len(string_split(d.hp, '.'))), '.') END AS domain
          FROM dom d JOIN psl p USING (doc_id)),
        hx AS (SELECT doc_id, h FROM '$AuxDir/doc_bucket/*.parquet'),
        rk AS (SELECT pd.domain, pd.doc_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY pd.domain
              ORDER BY hx.h, pd.doc_id) AS INTEGER) AS sample_rank
          FROM pd JOIN hx USING (doc_id) WHERE pd.domain IS NOT NULL)
        SELECT domain, sample_rank, doc_id FROM rk WHERE sample_rank <= 3
        ORDER BY domain, sample_rank""")),

    // ===================== one-pass column profile ========================
    // The SUMMARIZE-style data-quality scan over a new drop: per column,
    // non-null count, exact distinct count, numeric/epoch min-max — ONE
    // aggregate over one scan (distinct counts via Catalyst's Expand;
    // the exchange carries per-task distinct values, not xK data rows —
    // see ops/Profile.scala for the approx_count_distinct trade at
    // 100 TB). min/max surface as doubles (exact below 2^53), never as
    // formatted strings (double->string is not cross-engine stable).
    Q("profile_stats",
      (s, dir) => Profile.profile(t(s, dir, "orders"))
        .orderBy(col("col_name")),
      Some("""SELECT * FROM (
          SELECT 'o_orderkey' AS col_name, COUNT(o_orderkey) AS n_nonnull,
            COUNT(DISTINCT o_orderkey) AS n_distinct,
            CAST(MIN(o_orderkey) AS DOUBLE) AS min_v,
            CAST(MAX(o_orderkey) AS DOUBLE) AS max_v FROM orders
          UNION ALL
          SELECT 'o_custkey', COUNT(o_custkey), COUNT(DISTINCT o_custkey),
            CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
          FROM orders
          UNION ALL
          SELECT 'o_orderstatus', COUNT(o_orderstatus),
            COUNT(DISTINCT o_orderstatus), NULL, NULL FROM orders
          UNION ALL
          SELECT 'o_totalprice', COUNT(o_totalprice),
            COUNT(DISTINCT o_totalprice),
            MIN(o_totalprice), MAX(o_totalprice) FROM orders
          UNION ALL
          SELECT 'o_orderdate', COUNT(o_orderdate),
            COUNT(DISTINCT o_orderdate),
            CAST(epoch_us(MIN(o_orderdate)) AS DOUBLE),
            CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE) FROM orders
          UNION ALL
          SELECT 'o_orderpriority', COUNT(o_orderpriority),
            COUNT(DISTINCT o_orderpriority), NULL, NULL FROM orders)
        ORDER BY col_name"""))
  )

  /** Queries that measurably BENEFIT from the small-input scan fan-out
    * (see [[fanout]]) — the per-query opt-in list. Re-measured on a
    * 4-vCPU, 15 GB host (2026-10-19) with `graft.tools.Probe` at sf0.1:
    * `spark.graft.scan.fanoutMaxBytes` default vs 0, 5 interleaved pairs
    * per row; a row stays only if fan-out won every pair (the table is
    * in CHANGES.md). Per-row compute dominates these (decimal
    * aggregation, text metrics, distance/encode arithmetic); on the
    * light rows an extra exchange is one more stage of fixed overhead
    * (OPTIMIZATION_r16 §2), so fan-out is off unless a query's own
    * measurement says otherwise. The staged index builders
    * (PqStage/PcaStage/BpeStage) opt in at their own read sites. */
  private val FanoutQueries: Set[String] = Set(
    "a8_grad_stats", "agg_cube", "cluster_kmeans", "dedup_containment_lsh",
    "dedup_minhash", "dedup_minhash_groups", "dedup_ngram_jaccard",
    "dedup_substring_spans", "embedding_covariance", "embedding_pca",
    "html_links", "html_main", "lang_id", "q1_pricing", "quality_c4",
    "quality_funnel", "quality_gopher", "text_bigram_logprob",
    "text_extract", "text_redact", "warc_charset")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> { (s: SparkSession, dir: String) =>
      fanoutEnabled.withValue(FanoutQueries.contains(q.name)) {
        q.fn(s, dir)
      }
    }).toMap

  /** Oracle SQL with the aux-table placeholder resolved to `auxDir`. */
  def oracleSqlFor(auxDir: String): Map[String, String] =
    all.flatMap(q =>
      q.sql.map(q.name -> _.replace(AuxToken, auxDir))).toMap

  val oracleSql: Map[String, String] = oracleSqlFor(DefaultAuxDir)
}
