package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Dedup.connectedGroups]] — distributed min-label-propagation
  * connected components over a candidate-pair graph. Oracle: hand-walked
  * components, including a long chain (forces multiple propagation
  * iterations: min labels travel one hop per iteration) and singleton
  * isolation via the `nodes` parameter.
  */
class DedupGroupsSpec extends SparkSpec {
  import spark.implicits._

  private def groupsOf(pairs: Seq[(Long, Long)],
                       nodes: Option[Seq[Long]] = None): Map[Long, Long] = {
    val p = pairs.toDF("a", "b")
    val n = nodes.map(_.toDF("id"))
    Dedup.connectedGroups(p, "a", "b", n).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("two components plus a bridge-free pair") {
    // {1,2,3} via 1-2, 2-3; {5,6}; duplicate + reversed edges collapse
    val g = groupsOf(Seq((1L, 2L), (2L, 3L), (3L, 2L), (5L, 6L), (5L, 6L)))
    assert(g == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("nodes parameter surfaces singletons with their own id") {
    val g = groupsOf(Seq((2L, 4L)), nodes = Some(Seq(1L, 2L, 3L, 4L)))
    assert(g == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
  }

  test("a self-loop-only node still appears as its own singleton group") {
    val g = groupsOf(Seq((42L, 42L), (1L, 2L)))
    assert(g == Map(42L -> 42L, 1L -> 1L, 2L -> 1L))
  }

  test("edges touching ids absent from a supplied nodes set fail fast " +
      "instead of silently splitting the component") {
    val ex = intercept[IllegalArgumentException] {
      groupsOf(Seq((1L, 2L), (2L, 3L)), nodes = Some(Seq(1L, 2L)))
    }
    assert(ex.getMessage.contains("not present in nodes"))
  }

  test("long chain converges to the min end-label (multi-iteration)") {
    // 10-9-8-...-1-0: min label 0 must travel 10 hops
    val chain = (0L until 10L).map(i => (i, i + 1))
    val g = groupsOf(chain)
    assert(g == (0L to 10L).map(_ -> 0L).toMap)
  }

  test("star and clique components") {
    val star = Seq((100L, 101L), (100L, 102L), (100L, 103L))
    val clique = for {
      i <- 200L to 203L; j <- (i + 1) to 203L
    } yield (i, j)
    val g = groupsOf(star ++ clique)
    assert((101L to 103L).forall(g(_) == 100L) && g(100L) == 100L)
    assert((200L to 203L).forall(g(_) == 200L))
  }

  test("convergence landing exactly on maxIter succeeds (confirm pass)") {
    // with pointer jumping the 11-node chain still CHANGES labels in
    // iterations 1-3 and would only see changed==0 at iteration 4 —
    // maxIter=3 therefore exits the loop unconverged and must succeed
    // via the post-loop no-update confirm pass
    val chain = (0L until 10L).map(i => (i, i + 1))
    val g = Dedup.connectedGroups(chain.toDF("a", "b"), "a", "b",
        maxIter = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == (0L to 10L).map(_ -> 0L).toMap)
  }

  test("non-convergence within maxIter fails loudly") {
    // pointer jumping doubles the horizon per iteration, so a guard
    // test needs depth >> 2^maxIter
    val chain = (0L until 200L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedGroups(chain.toDF("a", "b"), "a", "b", maxIter = 2)
        .collect()
    }
    assert(e.getMessage.contains("converge"))
  }

  test("RDD fast path returns a pin: inside Pins.scope it leaves no " +
      "persistent RDD behind") {
    val sc = spark.sparkContext
    // a null node id exercises the (null, null) re-attach branch
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), Some(3L)),
      (Some(5L), Some(6L)), (None, Some(7L))).toDF("a", "b")
    val before = sc.getPersistentRDDs.keySet
    val g = graft.core.Pins.scope {
      val out = Dedup.connectedGroups(pairs, "a", "b")
      assert(graft.core.Pins.rddOf(out).isDefined,
        "connectedGroups' RDD path did not return a pin")
      out.collect().map(r =>
        Option(r.get(0)).map(_.asInstanceOf[Long]) ->
          Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    }
    assert(g == Map(Some(1L) -> Some(1L), Some(2L) -> Some(1L),
      Some(3L) -> Some(1L), Some(5L) -> Some(5L), Some(6L) -> Some(5L),
      Some(7L) -> Some(7L), None -> None))
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"persistent RDDs left behind: $leaked")
  }

  test("winnowFingerprints matches a brute-force scalar winnow") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "short doc"), // < n+window-1 words: no fingerprints
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "the quick brown fox jumps over the lazy dog again and again"))
    val out = Dedup.winnowFingerprints(docs.toDF("doc_id", "text"),
        "doc_id", "text", n = 3, window = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // scalar oracle: hash shingles with the engine's own xxhash64 (the
    // scheme under test is the WINDOWING, not the hash), then winnow
    val hashOf: Map[(Long, Int), Long] = Dedup
      .shingleRowsPos(docs.toDF("doc_id", "text"), "doc_id", "text", 3)
      .select(col("id"), col("pos"), xxhash64(col("shingle")).as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    val expected = docs.map { case (id, text) =>
      val n = text.split("\\s+").length
      val hs = ((3 - 1) until n).map(p => hashOf((id, p)))
      id -> hs.sliding(4).filter(_.size == 4).map(_.min).toSet
    }.filter(_._2.nonEmpty).toMap
    assert(out == expected)
    // identical docs fingerprint identically; overlap detection works
    assert(out(1L) == out(4L))
  }
}
