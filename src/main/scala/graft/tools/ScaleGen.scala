package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator for the round-8 scale-growth experiment
  * (VERDICT r7 "Next #1"): two corpora with IDENTICAL distributions at
  * 1× and 10× the sf0.1 row counts, so T(10×)/T(1×) is a clean data-
  * volume growth point — the sandbox's read-only testdata stops at
  * sf0.1, and replicating sf0.1 rows verbatim would distort the
  * near-dup group structure (every doc would gain 9 exact clones,
  * growing candidate pairs quadratically instead of linearly).
  *
  * Distributions mirror the driver corpus, measured from sf0.1:
  *  - documents: 31-word vocab, 8..100 tokens/doc (single-space), langs
  *    en 41% / es,fr,de,zh ~15% each, sources src0..19, ~4.7% of docs
  *    planted as 1-3-token mutations of a recent doc (the near-dup
  *    family LSH must find), ~0.16% exact duplicates;
  *  - embeddings: 64-dim float vectors around 10 per-label centroids
  *    (gaussian, sigma 0.35) — the IVF/k-means cluster structure;
  *  - lineitem (only the columns the percentile queries read, but the
  *    full 11-column schema so the readers are comparable): uniform
  *    cents prices in [900, 105000) (~all-distinct, like TPC-H),
  *    uniform N/A/R flags.
  *
  * BOTH scales are written with the SAME file count per table, so scans
  * see the same task count and the growth ratio isolates data volume
  * from layout parallelism. Everything derives from xxhash64/driver
  * Random with fixed seeds — rerunning regenerates byte-identical
  * corpora.
  *
  *   sbt "runMain graft.tools.ScaleGen [outBase]"   # default tmp/scalegen
  */
object ScaleGen {

  val Vocab: Seq[String] = Seq(
    "the", "a", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "batch", "window", "spark", "order", "data",
    "column", "join", "small", "line", "customer", "query", "filter",
    "sort", "group", "stream", "vector", "cache", "merge", "shard")

  val Langs: Seq[(String, Double)] = Seq(
    "en" -> 0.41, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14, "zh" -> 0.15)

  /** Documents: driver-generated (tens of thousands of rows — trivial),
    * written through Spark with a fixed file count. */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val langCdf = Langs.scanLeft(("", 0.0)) { case ((_, c), (l, p)) =>
      (l, c + p) }.tail
    def lang(): String = {
      val u = rnd.nextDouble()
      langCdf.find(_._2 >= u).map(_._1).getOrElse(Langs.last._1)
    }
    def freshText(): Array[String] =
      Array.fill(8 + rnd.nextInt(93))(Vocab(rnd.nextInt(Vocab.size)))
    val texts = new Array[Array[String]](n)
    val rows = (0 until n).map { i =>
      val toks: Array[String] = {
        val r = rnd.nextDouble()
        if (i > 10 && r < 0.0016) {
          // exact duplicate of a recent doc
          texts(i - 1 - rnd.nextInt(10)).clone()
        } else if (i > 10 && r < 0.047) {
          // near-dup: 1-3 token substitutions on a recent doc
          val base = texts(i - 1 - rnd.nextInt(10)).clone()
          (0 until 1 + rnd.nextInt(3)).foreach { _ =>
            base(rnd.nextInt(base.length)) =
              Vocab(rnd.nextInt(Vocab.size))
          }
          base
        } else freshText()
      }
      texts(i) = toks
      val text = toks.mkString(" ")
      (i.toLong, text, lang(), s"src${rnd.nextInt(20)}",
        text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Embeddings: 10 gaussian clusters in 64 dims, float-valued. */
  def embeddings(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val centroids = (0 until 10).map { label =>
      val r = new scala.util.Random(7000 + label)
      Array.fill(64)(r.nextDouble() * 2 - 1)
    }
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val label = rnd.nextInt(10)
      val v = centroids(label).map(c =>
        (c + rnd.nextGaussian() * 0.35).toFloat)
      (i.toLong, v, label)
    }.toDF("vec_id", "embedding", "label")
  }

  /** Lineitem-shaped table via spark.range — pure codegen projections,
    * so 6M rows generate in seconds. */
  def lineitem(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    def h(s: Int) = xxhash64(id, lit(s))
    spark.range(n).select(
      (id / 4).cast("long").as("l_orderkey"),
      pmod(h(1), lit(20000L)).as("l_partkey"),
      pmod(h(2), lit(1000L)).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(3), lit(50L)) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + pmod(h(4), lit(10410000L)) / lit(100.0), 2)
        .as("l_extendedprice"),
      (pmod(h(5), lit(11L)) / lit(100.0)).as("l_discount"),
      (pmod(h(6), lit(9L)) / lit(100.0)).as("l_tax"),
      element_at(typedLit(Seq("N", "A", "R")),
        (pmod(h(7), lit(3L)) + 1).cast("int")).as("l_returnflag"),
      element_at(typedLit(Seq("O", "F")),
        (pmod(h(8), lit(2L)) + 1).cast("int")).as("l_linestatus"),
      date_add(lit("1995-01-01").cast("date"),
        pmod(h(9), lit(2500L)).cast("int")).cast("timestamp")
        .as("l_shipdate"))
  }

  /** Events-shaped table (a12's percentile source): 5 uniform event
    * types, values ~uniform in [0, 100) with 4 dp (the sf0.1 shape),
    * ~66 events per user. */
  def events(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    def h(s: Int) = xxhash64(id, lit(s))
    spark.range(n).select(
      id.as("event_id"),
      timestamp_seconds(lit(1735689600L) +
        pmod(h(1), lit(86400L * 30))).as("ts"),
      pmod(h(2), lit(math.max(1L, n / 66))).as("user_id"),
      element_at(typedLit(Seq("click", "view", "purchase", "signup",
        "error")), (pmod(h(3), lit(5L)) + 1).cast("int")).as("event_type"),
      round(pmod(h(4), lit(1000000L)) / lit(10000.0), 4).as("value"),
      concat(lit("p="), pmod(h(5), lit(100L))).as("props"))
  }

  def writeScale(spark: SparkSession, dir: String, docs: Int, vecs: Int,
                 li: Long, seed: Long, files: Int): Unit = {
    documents(spark, docs, seed).repartition(files)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(spark, vecs, seed + 1).repartition(files)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    lineitem(spark, li).repartition(files)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    events(spark, li / 6).repartition(files)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    println(s"[scalegen] wrote $dir: docs=$docs vecs=$vecs li=$li " +
      s"ev=${li / 6}")
  }

  def main(args: Array[String]): Unit = {
    val outBase = if (args.length > 0) args(0) else "tmp/scalegen"
    val spark = graft.core.Session.builder("graft-scalegen", logLevel = "ERROR")
      .getOrCreate()
    // g01 mirrors sf0.1's row counts; g1 is exactly 10x every table
    writeScale(spark, s"$outBase/g01", docs = 5000, vecs = 2000,
      li = 600000L, seed = 4242L, files = 8)
    writeScale(spark, s"$outBase/g1", docs = 50000, vecs = 20000,
      li = 6000000L, seed = 4242L, files = 8)
    spark.stop()
  }
}
