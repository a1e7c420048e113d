package graft.queries

import graft.SparkSpec

/** Partitioning determinism over the whole query inventory: every oracle
  * query is planned and run twice in one session, under two
  * `spark.sql.shuffle.partitions` values, and the sorted row sets must be
  * EQUAL. A different reduce-partition count moves aggregation and
  * window partition boundaries, i.e. float accumulation orders, which is
  * what the cross-engine determinism rules (decimal-routed sums,
  * rounded-then-ranked scores, id tie-breaks) exist to make irrelevant.
  * Per-operator specs pin this for single operators; this one keeps a
  * new query from shipping an accumulation-order dependence. */
class DeterminismSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("every oracle query returns the same rows under 8 and 7 shuffle " +
      "partitions (sf0.001)") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    def rows(fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, parts: Int): Seq[String] = {
      spark.conf.set(key, parts.toString)
      fn(spark, sfDir).collect().map(_.toString).sorted.toSeq
    }
    val failures = try graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val a = rows(fn, 8)
          val b = rows(fn, 7)
          if (a == b) None
          else Some(s"$name: ${a.length}/${b.length} rows; only at 8: " +
            a.diff(b).take(3).mkString(" | ") + "; only at 7: " +
            b.diff(a).take(3).mkString(" | "))
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    } finally spark.conf.set(key, before)
    assert(graft.SparkEntry.queries.size >= 135)
    assert(failures.isEmpty,
      s"${failures.size} queries differ:\n" + failures.mkString("\n"))
  }
}
