package graft.queries

import graft.SparkSpec

/** Physical-plan regression guards over the whole query inventory.
  * These encode the scale discipline the engine promises: no query may
  * silently regress into an all-pairs join, and the flagship aggregation
  * shapes keep their single-shuffle structure. Planning only — nothing
  * executes. */
class PlanInvariantsSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  // Deliberate nested-loop users: a broadcast-queries brute-force scorer
  // (the documented small-query-set baseline; candidates never shuffle),
  // the bounded demo pair sweeps built on it, and the single-row scalar
  // broadcasts (a5's global threshold, tfidf's corpus size N — a scalar
  // crossJoin, not an all-pairs).
  private val nestedLoopAllowed =
    Set("sim_topk", "sim_neardup_pairs", "dedup_ngram_jaccard",
      // the reduced-space scorer of the JL shortlist path: same
      // broadcast-queries brute-force shape as sim_topk, over 8-double
      // vectors instead of 64 — the re-rank side stays equi-join
      "sim_rp_topk",
      // the containment sibling of the jaccard exact-verify sweep:
      // same bounded 50-doc demo slice, same deliberate pair join
      "dedup_containment",
      "a5_global_threshold", "text_tfidf", "sim_ivf_multiprobe",
      // tfidf's sibling: the same single-row (n_docs, sum_dl) scalar
      // crossJoin onto the term-filtered tf table
      "text_bm25",
      // queries × broadcast per-cell centroid table (coarse-quantizer
      // metadata, one row per cell) — the probe ranking, deliberate
      "sim_ivfpq_multiprobe",
      // corpus × broadcast k-row centroid table, deliberate
      "cluster_kmeans",
      // same KMeans.fit assignment inside the quota-sampling composition
      "cluster_quota_sample",
      // same KMeans.fit assignment inside the SemDeDup composition — the
      // SemDeDup pair join itself is the cid equi-join (SortMergeJoin
      // Inner in this very plan), never all-pairs
      "dedup_semantic",
      // per-document scores × broadcast |classes|-row model stats (the
      // NB prior/norm table — 2 rows here, bounded by the label set) —
      // the scalar-broadcast class; the vocabulary joins in the same
      // plan are hash equi-joins
      "quality_nb_score")

  test("no query plans a cartesian product or unexpected nested loop") {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val offenders = names.filter { n =>
      val p = plan(n)
      p.contains("CartesianProduct") ||
        (!nestedLoopAllowed(n) && p.contains("BroadcastNestedLoopJoin"))
    }
    assert(offenders.isEmpty,
      s"all-pairs plans detected: ${offenders.mkString(", ")}")
  }

  test("a2_integrate keeps its one-aggregation-shuffle shape") {
    val p = plan("a2_integrate")
    val exchanges = "Exchange".r.findAllIn(p).length
    // one shuffle for the grouped aggregation + one range exchange for
    // the final orderBy (the query is off the scan fan-out list) —
    // anything more means the multi-variant integration regressed into
    // multiple passes
    assert(exchanges <= 2, s"a2_integrate plans $exchanges exchanges")
  }

  test("skew_salted_agg is exactly two aggregation stages") {
    val p = plan("skew_salted_agg")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"salted agg plans $exchanges exchanges")
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      "two-stage (partial+final x 2) aggregation shape lost")
  }

  test("events_sessionize: both window passes and the rollup share ONE " +
      "compute exchange on the key") {
    // exchange 1 = hash(user_id) feeding lag + running-sum windows AND
    // the (user_id, session_idx) groupBy (subset clustering satisfies
    // it); exchange 2 = the presentation orderBy. A third exchange
    // means the rollup stopped riding the window partitioning.
    val exchanges = "Exchange".r.findAllIn(plan("events_sessionize")).length
    assert(exchanges <= 2, s"events_sessionize plans $exchanges exchanges")
  }

  test("j8_asof: the union-scan as-of join is one key exchange, no " +
      "row amplification") {
    val p = plan("j8_asof")
    val exchanges = "Exchange".r.findAllIn(p).length
    // union + window = 1 exchange, orderBy = 1
    assert(exchanges <= 2, s"j8_asof plans $exchanges exchanges")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "as-of join regressed into an all-pairs form")
  }

  test("sample_stratified is a pure filter: zero compute shuffles") {
    // only the presentation orderBy may exchange
    val exchanges = "Exchange".r.findAllIn(plan("sample_stratified")).length
    assert(exchanges <= 1, s"sample_stratified plans $exchanges exchanges")
  }

  test("pipeline_curate stages 1-3 (CurateStages.cleanedCorpus): one " +
      "documents scan with doc_id >= 50 pushed, then one exchange") {
    // SCALE_r09 §2: parse, quarantine and both quality predicates ride
    // the scan as one Filter; exact dedup is one map-side-combining
    // min(struct) aggregation, so no keeper join-back and no second scan
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = CurateStages.cleanedCorpus(spark, docs)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet[^\n]*".r.findAllIn(p).toSeq
    assert(scans.size == 1, s"${scans.size} parquet scans:\n$p")
    assert(scans.head.contains("documents.parquet"), scans.head)
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(doc_id,50\\)".r
      .findFirstIn(scans.head).nonEmpty, s"doc_id >= 50 not pushed:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"$exchanges exchanges:\n$p")
  }

  test("a1_ring_outlier broadcasts ring stats back to the fact side") {
    val p = plan("a1_ring_outlier")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "ring-stats join-back no longer broadcasts — fact side would shuffle")
  }

  test("process() branches all read the ONE fused checkpoint: pixel " +
      "flags, integrals and the shared A8+A9 aggregate scan the same " +
      "RDDs (no separate narrow/gradient materialization survives)") {
    import graft.core.SyntheticFrame
    val cal = SyntheticFrame.testCalibration(96)
    val geo = graft.geometry.Geometry.build(spark, cal)
      .localCheckpoint(true)
    val frame = SyntheticFrame.frame(spark, cal, frameNo = 1,
      nHotPer10k = 2, spots = Seq((30, 40, 20000.0, 2.0)))
    val out = graft.pipeline.FramePipeline.process(frame, geo, cal)
    def leafRdds(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.optimizedPlan.collectLeaves().collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }.toSet
    val pixelLeaves = leafRdds(out.pixels)
    assert(pixelLeaves.nonEmpty)
    // A8 and A9 are projections of the SAME shared aggregate...
    assert(leafRdds(out.gradStats) == leafRdds(out.spottiness),
      "A8/A9 no longer share one aggregation pass")
    // ...and every branch reads the fused checkpoint + the flags
    // checkpoint — a third full-frame RDD here means the separate narrow
    // materialization crept back in
    assert(leafRdds(out.qbinStats) == pixelLeaves,
      "stats branch reads different RDDs than the pixel branch")
    assert(leafRdds(out.integrals) == pixelLeaves,
      "integrals read different RDDs than the pixel branch")
    assert(pixelLeaves.size == 2,
      s"expected exactly {fused, flags} checkpoints, got $pixelLeaves")
  }
}
