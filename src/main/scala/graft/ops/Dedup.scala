package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Pins

/** Document deduplication operators for large-corpus pipelines: exact
  * (content-hash groupBy), MinHash/LSH near-dup, SimHash, and n-gram Jaccard.
  *
  * All paths follow the same scale shape as the engine's other operators:
  * compute a small key (hash / band / signature) per document with codegen'd
  * expressions, then hash-aggregate or equi-join on that key. No pairwise
  * O(n^2) comparison ever touches the full corpus — candidate pairs only
  * materialize inside a shared small bucket.
  */
object Dedup {

  /** Exact duplicate groups: md5(content) → (hash, count, keeper=min(id)).
    * One shuffle on the 128-bit hash; at 100 TB this is the canonical
    * hash-partitioned distinct. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper_id"))

  /** Word n-gram shingle set of a document, lowercase, as array<string>.
    * The split is bound once per row via [[Cols.bound]] (the
    * interpreted-HOF re-evaluation pitfall — the naive form re-ran the
    * split once per word per row). */
  def shingles(text: Column, n: Int = 3): Column =
    Cols.bound(split(lower(text), graft.core.Ws.Plus)) { words =>
      array_distinct(
        filter(
          transform(words, (_, i) =>
            when(i + n <= size(words),
              concat_ws(" ", slice(words, i + 1, lit(n))))),
          _.isNotNull))
    }

  /** LSH band keys from a MinHash signature: signature split into `bands`
    * rows-per-band groups, each hashed; docs sharing any band key are
    * near-dup candidates. Explode → groupBy(band_key) co-locates candidates.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(sig, b * rowsPerBand + 1, rowsPerBand)), lit(b)).as("key"))
    }: _*)

  /** Word n-gram shingles as POSITIONAL rows (id, pos, shingle) — pos is
    * the 0-based index of the shingle's LAST word, so consecutive
    * shingles have consecutive pos. The shared base of [[shingleRows]]
    * and [[winnowFingerprints]] (which needs document order). */
  def shingleRowsPos(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = df.select(col(idCol).as("id"),
      posexplode(split(lower(col(textCol)), graft.core.Ws.Plus))
        .as(Seq("pos", "w")))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val lags = (n - 1) to 1 by -1
    val parts = lags.map(i => lag(col("w"), i).over(w)) :+ col("w")
    // n = 1 has no lagged parts: every word is a full shingle (the
    // guard below would be an empty reduce)
    val full =
      if (lags.isEmpty) lit(true)
      else lags.map(i => lag(col("w"), i).over(w).isNotNull).reduce(_ && _)
    words.select(col("id"), col("pos"),
        concat_ws(" ", parts: _*).as("shingle"), full.as("_full"))
      .where(col("_full")).drop("_full")
  }

  /** Distinct word n-gram shingles as ROWS (id, shingle) — the scale path
    * for signature computation. posexplode + window-lag concatenation is
    * fully codegen'd; the array-lambda form ([[shingles]]) is interpreted
    * per row (higher-order functions bypass codegen) and measured ~10x
    * slower at corpus scale. One shuffle on the doc id. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, distinct: Boolean = true): DataFrame = {
    val rows = shingleRowsPos(df, idCol, textCol, n).drop("pos")
    if (distinct) rows.distinct() else rows
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    * MOSS scheme): hash every word n-gram, slide a `window`-shingle
    * window over the document, keep the MIN hash of each full window,
    * dedup — a position-robust fingerprint set whose size adapts to
    * document length (guarantee: any shared run of window+n-1 words
    * produces at least one shared fingerprint). Returns (id, fp) rows.
    *
    * All window-function + codegen: one shuffle on the doc id (the same
    * shuffle the shingle window already needs), a sliding min/count
    * frame, and a distinct. Documents shorter than n+window-1 words
    * yield no fingerprints. 64-bit hashes make min-ties negligible, so
    * the distinct-min simplification of the published rightmost-tie
    * rule is exact in practice. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, window: Int = 4): DataFrame = {
    // row-local expression: the whole fingerprint SET computes inside
    // the projection (zero shuffles; a null array for no-full-window
    // docs explodes to zero rows, matching the relational absent doc).
    // Set-equality vs the relational form is spec-pinned.
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    df.select(col(idCol).as("id"),
        explode(toCol(graft.functions.WinnowSig(toExpr(col(textCol)),
          n, window))).as("fp"))
  }

  /** The original positional-explode + sliding-window-min + distinct
    * form of [[winnowFingerprints]] — one exchange of the corpus
    * shingle rows. Kept as the independent oracle for the expression
    * form. */
  def winnowFingerprintsRelational(df: DataFrame, idCol: String,
                                   textCol: String, n: Int = 3,
                                   window: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleRowsPos(df, idCol, textCol, n)
      .select(col("id"), col("pos"), xxhash64(col("shingle")).as("h"))
    val frame = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(0, window - 1)
    sh.select(col("id"), min(col("h")).over(frame).as("fp"),
        count(col("h")).over(frame).as("_wc"))
      .where(col("_wc") === window)
      .select(col("id"), col("fp")).distinct()
  }

  /** MinHash signatures via shingle rows → groupBy: the signature is k
    * `min` aggregates in ONE shuffle on the doc id. This is the scale
    * form — a nested-array variant (k array_min(transform(...)) columns
    * over a shingle array, deleted after it lost) re-evaluates the
    * shingle expression per hash family in the interpreted
    * higher-order-function path, which blows up plan cost at any scale.
    *
    * Hash-family construction: the variable-length shingle STRING is
    * hashed once (the expensive part — string hashing dominated the
    * k-string-hash form at ~k x the cost), and the k families re-hash
    * that fixed 8-byte value with per-family seeds. Seeding a strong
    * 64-bit hash is the standard one-hash MinHash construction; each
    * family stays uniform and independent-enough for the Jaccard
    * estimator. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 32): DataFrame = {
    // row-local expression: the whole signature computes inside the
    // projection — ZERO shuffles (the relational form below pays two).
    // Bit-equality between the two forms is spec-pinned
    // (MinhashEquivalenceSpec); sub-shingle docs yield null -> filtered,
    // matching the relational form's absent row.
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    df.select(col(idCol).as("id"),
        toCol(graft.functions.MinhashSig(toExpr(col(textCol)), n, k))
          .as("sig"))
      .where(col("sig").isNotNull)
  }

  /** The original explode → per-doc-window shingle builder → groupBy
    * form of [[minhashSignatures]] — two exchanges of the corpus shingle
    * rows. Kept as the independent oracle for the expression form. */
  def minhashSignaturesRelational(df: DataFrame, idCol: String,
                                  textCol: String, n: Int = 3,
                                  k: Int = 32): DataFrame = {
    // min() is duplicate-insensitive: skip the distinct shuffle entirely
    shingleRows(df, idCol, textCol, n, distinct = false)
      .select(col("id"), xxhash64(col("shingle")).as("h"))
      .groupBy(col("id"))
      .agg(array((0 until k).map(seed =>
        min(xxhash64(col("h"), lit(seed)))): _*).as("sig"))
  }

  /** LSH band self-join over a signatures table (id, sig): candidate
    * pairs with their signature-agreement COUNT. Shared by the batch
    * candidate queries — the "dedupe bare id pairs FIRST, then score
    * each pair once" discipline (keeping the signature arrays out of the
    * distinct shuffle) lives here, in one place. */
  def candidatePairsFromSigs(sigs: DataFrame, k: Int,
                             bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val exploded = sigs
      .withColumn("bandkeys", lshBandKeys(col("sig"), bands, rowsPerBand))
      .select(col("id"), explode(col("bandkeys")).as("bk"))
    val a = exploded.select(col("bk"), col("id").as("id_a"))
    val b = exploded.select(col("bk"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("bk")).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        // codegen'd signature-agreement count (VectorExpressions) — the
        // zip_with/filter form was interpreted per pair
        VectorOps.eqCount(col("sig_a"), col("sig_b")).as("agree"))
  }

  /** Candidate near-dup pairs via MinHash LSH banding. Returns
    * (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard = fraction of
    * matching signature components. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, k: Int = 32, bands: Int = 8): DataFrame = {
    // pinned: reused for banding and for pair scoring
    val sigs = Pins.pin(minhashSignatures(df, idCol, textCol, n, k))
    candidatePairsFromSigs(sigs, k, bands)
      .select(col("id_a"), col("id_b"),
        (col("agree").cast("double") / k).as("est_jaccard"))
  }

  /** SimHash: 64-bit fingerprint whose Hamming distance approximates
    * cosine distance of the bag-of-shingles. Bit j = sign of the sum over
    * shingles of bit j of xxhash64(shingle). */
  def simhash(shingleArr: Column): Column = {
    val hashes = transform(shingleArr, s => xxhash64(s))
    val bits = (0 until 64).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** SimHash signatures via explode → groupBy (the scale form, like
    * [[minhashSignatures]]): one xxhash64 per shingle row, then ONE
    * custom Aggregator holding all 64 bit-votes in a single int[64]
    * buffer. The previous 64-separate-sums form generated so much code
    * that Janino compilation alone cost ~25 s on first use; the
    * Aggregator's buffer is one array update per row and a fixed-size
    * merge. */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3): DataFrame = {
    // row-local expression (zero shuffles); vote semantics identical to
    // SimHashAgg, spec-pinned against the relational form below
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    df.select(col(idCol).as("id"),
        toCol(graft.functions.SimhashSig(toExpr(col(textCol)), n))
          .as("simhash"))
      .where(col("simhash").isNotNull)
  }

  /** The original explode + SimHashAgg-groupBy form of
    * [[simhashSignatures]] — kept as the independent oracle for the
    * expression form (and as the reference user of [[SimHashAgg]]). */
  def simhashSignaturesRelational(df: DataFrame, idCol: String,
                                  textCol: String, n: Int = 3): DataFrame = {
    val sh = shingleRows(df, idCol, textCol, n)
      .select(col("id"), xxhash64(col("shingle")).as("h"))
    sh.groupBy(col("id"))
      .agg(SimHashAgg.simhash(col("h")).as("simhash"))
  }

  /** Hamming-banded near-dup pairing over 64-bit fingerprints — the
    * shared assembly behind text SimHash pairs ([[simhashNearDupPairs]])
    * and image aHash pairs ([[Multimodal.nearDupImagePairs]]). The hash
    * splits into four 16-bit bands and candidates must share at least
    * one band: the pigeonhole guarantee for `maxDist <= 3` (at most
    * three differing bits cannot touch all four bands), the banded-LSH
    * recall story for larger distances. Scale shape: one exploded
    * equi-join on (band, key) — never all-pairs — with the exact
    * Hamming check applied on the joined row BELOW the pair exchange
    * (16-bit band collisions between unrelated items are common at
    * corpus scale; far pairs must die before the shuffle), so the
    * per-pair groupBy only collapses multi-band duplicates of TRUE
    * near-dups. Input is pinned before the self-join (the
    * dedup_ngram_jaccard rule): both banded sides would otherwise
    * re-execute the upstream signature lineage — for images that is the
    * whole decode. Returns (id_a, id_b, dist) with id_a < id_b. */
  def hammingBandedPairs(sigs: DataFrame, idCol: String, hashCol: String,
                         maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    val pinned = Pins.pin(sigs)
    def banded(suffix: String): DataFrame =
      pinned.select(col(idCol).as(s"id_$suffix"),
          col(hashCol).as(s"h_$suffix"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"),
              shiftrightunsigned(col(hashCol), b * 16)
                .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
        .select(col(s"id_$suffix"), col(s"h_$suffix"),
          col("bk.band").as("band"), col("bk.key").as("key"))
    banded("a").join(banded("b"), Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .withColumn("dist", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .where(col("dist") <= maxDist)
      .groupBy(col("id_a"), col("id_b"))
      .agg(first(col("dist")).as("dist"))
  }

  /** Text SimHash near-dup candidate pairs: 64-bit [[simhashSignatures]]
    * fingerprints through [[hammingBandedPairs]] — the cosine-flavoured
    * sibling of [[minhashCandidates]]' Jaccard banding, and the text
    * twin of the image aHash path. Where MinHash-LSH recalls pairs by
    * set overlap, SimHash Hamming distance tracks the angular distance
    * of the weighted shingle bags, so lightly edited documents land
    * within a few bits. Zero shuffles to the signatures (row-local
    * expression), one banded equi-join to the pairs. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, maxDist: Int = 3): DataFrame =
    hammingBandedPairs(simhashSignatures(df, idCol, textCol, n),
      "id", "simhash", maxDist)

  /** Exact n-gram Jaccard similarity between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** Containment of `a` in `b`: |A ∩ B| / |A| over distinct-element
    * arrays. The ASYMMETRIC near-dup signal Jaccard misses at length
    * skew: a short document fully embedded in a long one scores
    * containment ≈ 1 while its Jaccard stays near |A|/|B| — the case
    * that matters for quote/boilerplate inclusion and for eval-set
    * leakage, where the contained side is the one to flag. An empty
    * `a` scores 0 (nothing to contain). */
  def containment(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val na = size(a).cast("double")
    when(na > 0, inter / na).otherwise(lit(0.0))
  }

  /** [[containment]] scored over a CANDIDATE-PAIR table — the production
    * composition (the bounded all-pairs sweep is a demo shape): pairs
    * come from [[minhashCandidates]] (or any LSH/banding source), and
    * the asymmetric signal is computed only for them. This is the pass
    * that catches length-skewed near-dups — a short document embedded in
    * a long one scores containment ≈ 1 while its Jaccard (what the
    * banded signatures estimate) stays near |A|/|B|, so Jaccard-banded
    * LSH under-RANKS them; scoring containment over the band-collision
    * candidates recovers the asymmetry without ever going all-pairs.
    *
    * Scale shape: the pair table's distinct endpoint ids semi-join the
    * corpus (only CANDIDATE documents are ever shingled — candidate
    * count is LSH-bounded, ≪ corpus), the shingle arrays are
    * materialized once (the dedup_ngram_jaccard rule: both pair sides
    * would otherwise re-execute the shingle expression per pair under
    * CollapseProject), and two hash equi-joins put (sh_a, sh_b) on each
    * pair row for a row-local intersection. No corpus shuffle, no
    * all-pairs anything.
    *
    * `pairs` must carry `id_a`/`id_b` (the candidate convention); both
    * directions are returned as `c_ab` = containment of a in b and
    * `c_ba`, alongside the pair's other columns. A pair referencing a
    * document ABSENT from `df` (stale candidate table, mismatched
    * upstream filters, an id-type drift breaking the equi-join) FAILS
    * LOUDLY, naming the pair — an inner join would silently drop it,
    * and a curation pipeline reading absence as "not a near-dup" would
    * ship the duplicate (the [[TopK.topKByScore]] silent-vanish class;
    * the guard rides the score columns, so it holds for any caller
    * that reads them). */
  def containmentOverPairs(df: DataFrame, idCol: String, textCol: String,
                           pairs: DataFrame, n: Int = 3): DataFrame = {
    val ids = pairs.select(col("id_a").as("__ct_id"))
      .unionByName(pairs.select(col("id_b").as("__ct_id"))).distinct()
    // a PRESENT document with NULL text gets an EMPTY shingle set (and
    // so scores 0, the [[containment]] empty-side rule and what the
    // oracle's len(sh) > 0 CASE yields) — without the coalesce its null
    // array would trip the absence guard below with a wrong diagnosis;
    // after this, a null in the joined sh column can ONLY mean the
    // left-join missed, i.e. the document truly is not in df
    val sh = Pins.pin(df.join(ids, col(idCol) === col("__ct_id"),
        "left_semi")
      .select(col(idCol).as("__ct_doc"),
        coalesce(shingles(col(textCol), n), lit(Array.empty[String]))
          .as("sh")))
    def guarded(side: Column): Column =
      when(side.isNull, raise_error(concat(
        lit("containmentOverPairs: pair ("), col("id_a").cast("string"),
        lit(", "), col("id_b").cast("string"),
        lit(") references a document absent from df")))
        .cast("array<string>")).otherwise(side)
    pairs
      .join(sh.select(col("__ct_doc").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"), "left")
      .join(sh.select(col("__ct_doc").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"), "left")
      .withColumn("c_ab",
        containment(guarded(col("sh_a")), guarded(col("sh_b"))))
      .withColumn("c_ba",
        containment(guarded(col("sh_b")), guarded(col("sh_a"))))
      .drop("sh_a", "sh_b")
  }

  /** Near-duplicate GROUPS: connected components over a candidate-pair
    * graph (the step after [[minhashCandidates]] / a cosine threshold —
    * dedup keeps one document per component, not per pair). Distributed
    * min-label propagation with POINTER JUMPING: every node starts as
    * its own label and each iteration (a) takes the min label over its
    * neighborhood, then (b) shortcuts through the label graph —
    *
    *   m(i)      = min(labels(i), min over neighbors of labels(i))
    *   labels(i+1) = m(i) shortcut: label of node m(i) under m(i)
    *
    * Step (b) is sound because a label is always the id of a node in
    * the same component (the min seen along some path), so adopting
    * THAT node's label stays inside the component; it doubles the
    * propagation horizon per iteration, giving O(log diameter)
    * convergence where plain propagation is O(diameter) — a 1M-node
    * chain resolves in ~20 iterations, not 1M. Per-iteration cost:
    * THREE shuffle joins (edges ⋈ labels, labels ⋈ neighbor-min, the
    * pointer-jump self-join) plus a grouped min, and the convergence
    * check adds one more join inside its count job — all
    * hash-partitioned on the node id, no driver-side graph state, so
    * the pattern holds at 100 TB edge lists. `maxIter` guards
    * pathological inputs — the call FAILS rather than returning a
    * partial clustering.
    *
    * Checkpoint hygiene: superseded label tables and the edge table are
    * released as the loop advances (only the RETURNED labels stay
    * pinned) — without this a deep component leaves O(iterations) full
    * label-table copies in executor storage for the life of the job.
    *
    * `nodes` (single id column) adds isolated nodes so singletons
    * surface with their own id as `group_id`; otherwise only nodes with
    * an edge appear. Returns (id, group_id = min node id reachable).
    */
  def connectedGroups(pairs: DataFrame, a: String, b: String,
                      nodes: Option[DataFrame] = None,
                      maxIter: Int = 25): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val half = pairs.select(col(a).cast("long").as("u"),
      col(b).cast("long").as("v"))
    // NOTE (measured, 2026-08-19): pre-partitioning this checkpoint on
    // the per-iteration join key (repartition(v) here, repartition(id)
    // on each label checkpoint) was tried and REVERTED — under AQE the
    // executed plan reports UnknownPartitioning at checkpoint-capture
    // time (the pinned LogicalRDD's outputPartitioning reads
    // UnknownPartitioning(0) even after an explicit repartition), so
    // the downstream joins re-exchange anyway and the extra
    // repartitions were pure cost (dedup_groups 110 -> 122 AQE stage
    // jobs). The edge table therefore IS re-shuffled per iteration;
    // with AQE off the elision would work, but AQE's runtime skew-join
    // splitting is worth more at real scale (a hot component's label
    // join is exactly the §2.5 skew case).
    val edges = Pins.pin(
      half.unionByName(half.select(col("v").as("u"), col("u").as("v")))
        .where(col("u") =!= col("v")).distinct())
    val ids = nodes match {
      case Some(n) =>
        val idsN =
          n.select(col(n.columns.head).cast("long").as("id")).distinct()
        // fail fast: an edge endpoint absent from `nodes` would be
        // silently ignored by the label joins, splitting its component
        // with no error (one bounded job; `edges` is checkpointed)
        val missing = edges.select(col("u").as("id")).distinct()
          .join(idsN, Seq("id"), "left_anti").count()
        require(missing == 0,
          s"$missing edge endpoint(s) not present in nodes")
        idsN
      // derive from the RAW pair columns, not `edges`: the self-loop
      // filter above must not make a (x, x)-only node vanish
      case None => half.select(col("u").as("id"))
        .unionByName(half.select(col("v").as("id"))).distinct()
    }
    // the pin's materializing action also counts null node ids (one
    // RDD job, like an eager pin): the RDD path re-attaches them below
    val (labels0, nNull) = Pins.pinWith(
      ids.withColumn("group_id", col("id")))(
      _.queryExecution.toRdd.filter(_.isNullAt(0)).count())
    var labels = labels0

    // Size-gated RDD fast path (guide §1.2 step 1 + §2.2). The
    // DataFrame loop below is latency-bound, not work-bound: each
    // iteration's pinWith action expands under AQE into ~9 stage
    // jobs (one per Exchange/broadcast materialization), each paying a
    // ~20 ms driver re-plan/schedule gap — measured 1.8 s of task work
    // inside 4.1 s of wall on the dedup_groups oracle graph. For a
    // BOUNDED candidate graph (the regime every consumer is in: banded
    // LSH emits bounded pair tables), the same fixpoint runs on
    // co-partitioned RDDs: every join below shares one HashPartitioner
    // so only three narrow shuffles exist per round, the whole round is
    // ONE count action (no per-stage re-planning), and the partition
    // count derives from the edge count, not the machine (a 200-node
    // oracle graph gets 1 partition; a 16M-edge near-dup graph gets 8).
    // Above the bound the AQE DataFrame loop keeps running — its
    // runtime skew-join splitting is what a 100 TB hot component needs
    // (the jump join keyed by a giant cluster's root is guide §2.5's
    // skew case, which a fixed HashPartitioner cannot split). The gate
    // costs one narrow count over the already-pinned edge blocks.
    val rddMaxEdges = pairs.sparkSession.conf
      .getOption("spark.graft.cc.rddLoopMaxEdges").map(_.toLong)
      .getOrElse(8L << 20)
    val edgeCount = edges.count()
    if (edgeCount <= rddMaxEdges) {
      import org.apache.spark.HashPartitioner
      import org.apache.spark.rdd.RDD
      import org.apache.spark.storage.StorageLevel
      val spark = pairs.sparkSession
      import spark.implicits._
      val p = math.max(1L, math.min(sc.defaultParallelism.toLong,
        edgeCount / (2L << 20) + 1)).toInt
      val part = new HashPartitioner(p)
      val eByV = edges.select(col("v"), col("u")).rdd
        .map(r => (r.getLong(0), r.getLong(1)))
        .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
      // null ids cannot reach the loop (edges drop them via the u=!=v
      // predicate; a null NODE id is isolated by construction) — their
      // presence is resolved once after convergence and re-attached as
      // a literal (null, null) row, exactly what the DataFrame loop
      // would emit
      var lab: RDD[(Long, Long)] = labels.where(col("id").isNotNull)
        .select(col("id")).rdd
        .map { r => val x = r.getLong(0); (x, x) }
        .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
      // same propagation step as the DataFrame loop: neighborhood min,
      // then one pointer jump on the POST-min labels (identical round
      // semantics, so maxIter bounds the same quantity on both paths)
      def step(cur: RDD[(Long, Long)]): RDD[(Long, Long)] = {
        val nbrMin = eByV.join(cur, part)
          .map { case (_, (u, lv)) => (u, lv) }
          .reduceByKey(part, math.min(_, _))
        val m = cur.leftOuterJoin(nbrMin, part).mapValues {
          case (old, nm) => math.min(old, nm.getOrElse(old)) }
        val byLabel = m.map { case (id, l) => (l, id) }.partitionBy(part)
        byLabel.join(m, part)
          .map { case (l, (id, ll)) => (id, math.min(l, ll)) }
          .partitionBy(part)
      }
      def nChanged(cur: RDD[(Long, Long)],
                   next: RDD[(Long, Long)]): Long =
        cur.join(next, part).filter { case (_, (o, n2)) => o != n2 }.count()
      var it = 0
      var conv = false
      while (!conv && it < maxIter) {
        val next = step(lab).persist(StorageLevel.MEMORY_AND_DISK)
        conv = nChanged(lab, next) == 0L
        lab.unpersist(blocking = false); lab = next
        it += 1
      }
      if (!conv) conv = nChanged(lab, step(lab)) == 0L
      eByV.unpersist(blocking = false)
      Pins.release(edges)
      if (!conv) {
        lab.unpersist(blocking = false)
        Pins.release(labels)
      }
      require(conv,
        s"connectedGroups did not converge in $maxIter iterations — " +
          "component diameter exceeds the near-dup regime this operator " +
          "targets; raise maxIter or use a star-contraction variant")
      Pins.release(labels)
      // a null node id (possible only when the caller's pair/node
      // columns carry one — it is isolated by construction) re-attaches
      // as the (null, null) row the DataFrame loop emits. The result is
      // returned as a pin, so Pins.release and a batch scope reach it;
      // the loop's persisted RDD is dropped once the pin holds the rows
      val labDf = lab.toDF("id", "group_id")
      val out = Pins.pin(if (nNull == 0L) labDf
        else labDf.unionByName(spark.createDataFrame(
          java.util.Arrays.asList(
            org.apache.spark.sql.Row(null, null)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("group_id",
              org.apache.spark.sql.types.LongType))))))
      lab.unpersist(blocking = false)
      return out
    }

    // one propagation step: neighborhood min, then the pointer jump —
    // adopt the label OF the label node (labels are node ids within the
    // component, so m has a row for every label target; the left-join
    // fallback only covers nodes outside the labels table, which cannot
    // occur for reachable targets). `_old` (the pre-step label) rides
    // through the jump so `_chg` (did THIS node's label move) lands in
    // the returned frame and convergence is a filter on the
    // already-checkpointed result — the separate next-vs-cur join (one
    // more full label-table shuffle per iteration) is gone. A second
    // jump per iteration was tried and REVERTED: every jump references
    // its input subtree twice, so nesting doubles the un-shared plan
    // tree per level and per-iteration Catalyst analysis time exploded
    // past any scheduling win (187 s vs 5 s on the bounded oracle
    // graph) — the plan-size pitfall of guide §3.3.
    def minStep(cur: DataFrame): DataFrame = {
      val nbrMin = edges
        .join(cur.select(col("id").as("v"), col("group_id").as("_nl")),
          "v")
        .groupBy(col("u")).agg(min(col("_nl")).as("_nmin"))
        .withColumnRenamed("u", "id")
      val m = cur.select(col("id"), col("group_id").as("_old"))
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("_old"),
          least(col("_old"), coalesce(col("_nmin"), col("_old")))
            .as("group_id"))
      m.join(m.select(col("id").as("group_id"),
          col("group_id").as("_jump")), Seq("group_id"), "left")
        .select(col("id"),
          least(col("group_id"), coalesce(col("_jump"), col("group_id")))
            .as("group_id"),
          (least(col("group_id"), coalesce(col("_jump"), col("group_id")))
            =!= col("_old")).as("_chg"))
    }

    // NOTE (measured, 2026-08-19): a pointer-compression pass between
    // propagation steps (label-table-only self-join jumps, run to
    // fixpoint over PINNED inputs — plan-size-safe, unlike the r16
    // nested-double-jump revert) was tried and REVERTED: on the
    // dedup_groups oracle graph every extra jump reported changed=0 —
    // the min-step's INTERNAL jump already keeps chains at depth <= 2
    // between rounds, so the convergence tail (8/5/2/2 changed nodes)
    // is genuine hop-by-hop propagation of new minima, not pointer
    // depth, and each wasted zero-change jump added a full pinWith
    // action per round (dedup_groups 4.2 -> 7.1 s).
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // the convergence count rides the SAME job that materializes the
      // checkpoint (Pins.pinWith): the eager-ckpt-then-isEmpty form
      // paid a second pass over the pinned labels every iteration —
      // at scale a full re-scan of the label table per round, locally
      // one-to-three extra take-jobs' scheduling latency.
      val (next, changed) = Pins.pinWith(
        minStep(labels.select(col("id"), col("group_id"))))(
        _.where(col("_chg")).count())
      converged = changed == 0L
      Pins.release(labels)
      labels = next
      i += 1
    }
    if (!converged) {
      // the loop may have REACHED the fixpoint on its final iteration
      // without the budget for the confirming zero-change pass — run
      // that one check (no update) before declaring failure, so
      // maxIter bounds propagation steps, not propagation+1
      converged = minStep(labels.select(col("id"), col("group_id")))
        .where(col("_chg")).isEmpty
    }
    // the returned labels are independently pinned; the (larger) edge
    // table is not needed past this point
    Pins.release(edges)
    if (!converged) Pins.release(labels)
    require(converged,
      s"connectedGroups did not converge in $maxIter iterations — " +
        "component diameter exceeds the near-dup regime this operator " +
        "targets; raise maxIter or use a star-contraction variant")
    labels.select(col("id"), col("group_id"))
  }

  /** C4-style segment-level exact dedup: remove every repeat of a
    * segment ACROSS the whole corpus (and within a document), keeping
    * only its globally first occurrence, then reassemble each document
    * from its surviving segments in original order. This is the
    * curation pass that strips boilerplate — cookie banners, license
    * headers, navigation text — which document-level dedup can never
    * catch because the surrounding text differs.
    *
    * The segmenter is the CALLER's: pass `split(col("text"), "\n\n")`
    * for paragraph dedup on a real corpus, a sentence splitter, or a
    * token-window chunker — this operator only needs the ordered
    * array<string>. "First occurrence" is deterministic: the minimum
    * (id, segment-index) pair over all occurrences, so reruns and
    * repartitionings keep the same survivor.
    *
    * Scale shape: posexplode → one hash aggregation keyed by the
    * segment itself (min(struct(id, idx)) combines map-side, so the
    * shuffle carries one (segment, pair) row per distinct segment per
    * partition — boilerplate collapses BEFORE the exchange) → one
    * equi-join of the exploded rows against that firsts table (both
    * sides hash-partitioned on the segment; no skew beyond the
    * segment's own duplication factor) → one groupBy(id) to
    * reassemble. No window over the corpus, no driver-side state.
    *
    * Output: (id, clean_text, n_segments, n_removed) — one row per
    * document that produced at least one segment (a document whose
    * segmenter returns an empty array contributes no exploded rows and
    * drops out; left-join the id list back if empty documents must
    * surface). A document whose every segment was seen earlier keeps
    * an empty `clean_text` — the downstream length filter's problem,
    * not silently dropped.
    */
  def segmentDedup(df: DataFrame, idCol: String, segments: Column,
                   sep: String = " "): DataFrame = {
    val seg = df.select(col(idCol).as("id"),
      posexplode(segments).as(Seq("idx", "seg")))
    val firsts = seg
      .groupBy(col("seg"))
      .agg(min(struct(col("id"), col("idx"))).as("first"))
    seg.join(firsts, "seg")
      .withColumn("__sd_keep",
        col("id") === col("first.id") && col("idx") === col("first.idx"))
      .groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(
            when(col("__sd_keep"), struct(col("idx"), col("seg"))))),
          _.getField("seg")), sep).as("clean_text"),
        count(lit(1)).as("n_segments"),
        sum(when(col("__sd_keep"), lit(0L)).otherwise(lit(1L)))
          .as("n_removed"))
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): near-duplicates in EMBEDDING space — paraphrases,
    * templated rewrites, translations back-translated — that no lexical
    * signature (MinHash/SimHash/shingles) can catch. The corpus is
    * k-means-clustered first (the caller runs [[KMeans.fit]] and passes
    * the assignment), and all pairwise cosine comparison happens WITHIN
    * a cluster only: the cluster id is the equi-join key, so candidate
    * pairs materialize per cluster, never corpus x corpus. That per-
    * cluster O(n_c^2) is the ALGORITHM's published cost model — SemDeDup
    * runs k large (tens of thousands at web scale) precisely so each
    * cluster stays small; the one-partition-per-cluster window below is
    * bounded by the same contract that bounds the pair matrix itself.
    *
    * Drop rule (the paper's practical one-pass form, made deterministic):
    * rank each cluster's members farthest-from-centroid first (the
    * keep-low-centroid-similarity choice, `round(d, 6)` DESC with the id
    * as tie-break — the repo's rounded-then-ranked idiom so the order is
    * identical on every engine and partitioning), then drop a vector iff
    * SOME earlier-ranked member of its cluster has cosine >= tau with it.
    * Deliberately NOT transitive-closure semantics: an already-dropped
    * vector still dominates later ones (this matches the reference
    * implementation's upper-triangular max-similarity test), and rank 1
    * of every cluster is always kept. Cosines are rounded to 6 dp before
    * the threshold, like every cross-engine cosine in this repo.
    *
    * Plan shape: the rank window partitions by `cid`, and that exchange
    * doubles as the self-join's required distribution on both sides —
    * the joined plan shows SortMergeJoin sitting directly on
    * Window/Sort/Exchange(cid), no additional exchange per side. The
    * cosine is computed on the joined row and filtered BELOW the
    * dominating-neighbor aggregation (only true near-dup pairs reach
    * it), and the final join-back keys on the id with AQE free to
    * broadcast the (usually small) dominated set.
    *
    * `vectors` carries (idCol, `v`: array<double>); `assigned` is
    * [[KMeans.fit]] output (idCol, cid, d). `idCol` must be a NUMERIC
    * (integral) column — validated up front, because the kept-row
    * sentinel `dup_of = -1` only means "no dominator" for numeric ids
    * (under a string id Spark's coercion would widen the sentinel to
    * "-1" silently). Returns one row per input vector:
    * (idCol, cid, kept, dup_of) with `dup_of` the EARLIEST-ranked
    * dominating neighbor, or -1 for kept rows. */
  def semanticDedup(vectors: DataFrame, assigned: DataFrame,
                    idCol: String, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val idType = vectors.schema(idCol).dataType
    val integral = idType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    require(integral,
      s"semanticDedup: idCol '$idCol' must be integral (the dup_of = -1 " +
        s"kept-row sentinel assumes a numeric id), got $idType")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cid"))
      .orderBy(round(col("d"), 6).desc, col(idCol))
    // materialized stage boundary: three consumers (both self-join
    // sides + the final join-back) read the ranked table — unpinned,
    // each re-executes the join + window lineage from the scan
    // (ReuseExchange does not fire; SCALE_r09 §22)
    val ranked = Pins.pin(vectors.join(assigned, idCol)
      .select(col(idCol), col("v"), col("cid"),
        row_number().over(w).as("__sd_r")))
    val a = ranked.select(col("cid"), col(idCol).as("__sd_ida"),
      col("v").as("__sd_va"), col("__sd_r").as("__sd_ra"))
    val b = ranked.select(col("cid"), col(idCol).as("__sd_idb"),
      col("v").as("__sd_vb"), col("__sd_r").as("__sd_rb"))
    val dominated = a.join(b, Seq("cid"))
      .where(col("__sd_ra") < col("__sd_rb") &&
        round(VectorOps.cosine(col("__sd_va"), col("__sd_vb")), 6)
          >= tau)
      .groupBy(col("__sd_idb").as(idCol))
      .agg(min_by(col("__sd_ida"), col("__sd_ra")).as("__sd_dom"))
    ranked.join(dominated, Seq(idCol), "left")
      .select(col(idCol), col("cid"),
        col("__sd_dom").isNull.as("kept"),
        coalesce(col("__sd_dom"), lit(-1L)).as("dup_of"))
  }

  /** Duplicated-substring SPAN detection (Lee et al. 2021,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better" — the ExactSubstr criterion, in its standard
    * distributed approximation): every maximal token span all of whose
    * `k`-token windows also occur in at least one OTHER document. The
    * paper builds a corpus suffix array; the scale-out equivalent is a
    * shingle-position index — k-gram rows with their start position,
    * one hash-partitioned aggregation marking k-grams present in >= 2
    * distinct documents (min(id) <> max(id): one pass with map-side
    * partials, never count(distinct)), a join-back, and a per-document
    * gaps-and-islands merge of consecutive duplicated window starts.
    * A span of length L >= k duplicated verbatim between two documents
    * produces L-k+1 consecutive duplicated starts and comes back as ONE
    * row; `minSpanTokens` (the paper uses 50) drops incidental short
    * matches.
    *
    * Two documented deltas from the exact suffix-array semantics, both
    * standard for the approximation: (1) CROSS-document duplication
    * only — a k-gram repeated twice inside one document does not mark
    * it (self-repetition is [[graft.functions.RepetitionSig]]'s
    * signal); (2) a merged span's windows may be shared with DIFFERENT
    * partner documents — the span is "every token of this region is
    * part of some cross-document duplicate", which is exactly the
    * removal criterion the paper applies.
    *
    * Plan shape: gram rows are ROW-LOCAL (posexplode of a positional
    * hash array — no window exchange of the token stream), so the only
    * exchanges are one on the k-gram hash for the shared-gram
    * aggregation, whose output partitioning the join-back reuses on the
    * build side, and one on the doc id for the island window, whose
    * partitioning the (id, island) groupBy reuses (subset-key
    * distribution). Nothing driver-side, no distinct, no all-pairs.
    *
    * Returns (id, span_start, span_end, span_tokens): 0-based token
    * positions, both ends inclusive. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, minSpanTokens: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minSpanTokens >= k,
      s"minSpanTokens must be >= k ($k), got $minSpanTokens")
    val rows = gramStartRows(df, idCol, textCol, k)
    val shared = rows.groupBy(col("h"))
      .agg(min(col("id")).as("__ds_a"), max(col("id")).as("__ds_b"))
      .where(col("__ds_a") =!= col("__ds_b"))
      .select(col("h"))
    val dup = rows.join(shared, "h").select(col("id"), col("start"))
    islandsToSpans(dup, k, minSpanTokens)
  }

  /** k-gram rows keyed by their 0-based START token position:
    * (id, start, h) with h = xxhash64 of the gram string. The shared
    * base of [[duplicatedSpans]] and [[decontaminateSpans]]. ROW-LOCAL:
    * posexplode of [[graft.functions.PositionalShingleHashes]] — no
    * per-document window exchange of the corpus token stream (the
    * relational `shingleRowsPos` route would shuffle every word row on
    * the doc id before the first filter); hash values bit-compatible
    * with xxhash64 over the `shingleRowsPos` gram strings
    * (spec-pinned). */
  private def gramStartRows(df: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame = {
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    df.select(col(idCol).as("id"), posexplode(toCol(
        graft.functions.PositionalShingleHashes(toExpr(col(textCol)), k)))
      .as(Seq("start", "h")))
  }

  /** Gaps-and-islands merge of consecutive duplicated k-gram starts into
    * maximal (id, span_start, span_end, span_tokens) rows. One doc-id
    * exchange for the island window, whose partitioning the (id, island)
    * groupBy reuses (subset-key distribution). */
  private def islandsToSpans(dup: DataFrame, k: Int,
                             minSpanTokens: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id")).orderBy(col("start"))
    dup.withColumn("__ds_isl", col("start") - row_number().over(w))
      .groupBy(col("id"), col("__ds_isl"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + lit(k - 1)).as("span_end"))
      .withColumn("span_tokens",
        col("span_end") - col("span_start") + lit(1))
      .where(col("span_tokens") >= minSpanTokens)
      .select(col("id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        col("span_tokens").cast("long").as("span_tokens"))
  }

  /** Span-level eval-set decontamination (the ExactSubstr criterion of
    * [[duplicatedSpans]] pointed at a HELD-OUT set instead of the corpus
    * itself — the GPT-3/PaLM-style n-gram overlap scrub, Brown et al.
    * 2020 appendix C, at span rather than whole-document granularity):
    * every maximal token span of a corpus document all of whose k-token
    * windows occur verbatim ANYWHERE in the eval set. Document-level
    * decontamination (the `decontaminate` query) drops whole documents
    * past a shared-shingle threshold; this returns the exact overlapping
    * REGIONS, so a pipeline can surgically cut benchmark text out of a
    * training document instead of discarding it.
    *
    * Plan shape for 100 TB corpus vs benchmark-sized eval set: the eval
    * grams collapse to per-document distinct hashes ROW-LOCALLY
    * ([[graft.functions.DistinctShingleHashes]], the `decontaminate`
    * query's idiom), reduce to one DISTINCT set (bounded by eval-set
    * size, never corpus size) and BROADCAST into a semi-join against
    * the corpus gram rows, which are themselves row-local (posexplode
    * of a positional hash array) — the corpus side's ONLY exchange is
    * the island window's doc-id exchange, and only contaminated grams
    * (a vanishing fraction) reach it. Same output contract as
    * [[duplicatedSpans]]. */
  def decontaminateSpans(corpus: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String,
                         k: Int = 8, minSpanTokens: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minSpanTokens >= k,
      s"minSpanTokens must be >= k ($k), got $minSpanTokens")
    import org.apache.spark.sql.graftshim.Internals.{column => toCol, expression => toExpr}
    val evalH = evalSet.select(explode(toCol(
        graft.functions.DistinctShingleHashes(toExpr(col(textCol)), k)))
      .as("h")).distinct()
    val hits = gramStartRows(corpus, idCol, textCol, k)
      .join(broadcast(evalH), Seq("h"), "leftsemi")
      .select(col("id"), col("start"))
    islandsToSpans(hits, k, minSpanTokens)
  }
}
