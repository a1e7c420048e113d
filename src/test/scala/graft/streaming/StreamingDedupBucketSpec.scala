package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Fs
import graft.ops.{Dedup, VectorOps}

/** The pair-join form of the admission judge, kept as the independent
  * oracle for [[StreamingDedup.judge]]'s one-exchange bucket form:
  *
  *  - cross-store: batch band rows ⋈ store band rows on `(band, key)`
  *    gives distinct (id, sid) candidates; the candidates' store
  *    signatures are looked up by a second store read and re-checked;
  *  - in-batch: the LSH band self-join ([[Dedup.candidatePairsFromSigs]])
  *    rejects the larger id of every pair agreeing on `minAgree`
  *    positions;
  *  - admitted = the batch's distinct ids minus the union of both.
  *
  * Reads the store as the judge does (its own `batch=<id>` excluded) and
  * writes nothing. */
private object PairJoinJudge {
  def admitted(spark: SparkSession, batch: DataFrame, batchId: Long,
               idCol: String, textCol: String, storeDir: String,
               n: Int = 3, k: Int = 32, bands: Int = 8,
               minAgree: Int = 16): Seq[Long] = {
    val sigs = Dedup.minhashSignatures(batch, idCol, textCol, n, k)
    val bandRows = sigs
      .withColumn("bk", explode(Dedup.lshBandKeys(col("sig"), bands,
        k / bands)))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.key").as("key"), col("sig"))
    val storeDups =
      if (!Fs.hasParquetData(storeDir, Fs.conf(spark)))
        spark.emptyDataFrame.select(lit(0L).as("id")).limit(0)
      else {
        val store = spark.read.parquet(storeDir)
          .where(col("batch") =!= batchId)
          .select(col("id").as("sid"), col("band"), col("key"),
            col("sig").as("ssig"))
        val cand = bandRows.join(store, Seq("band", "key"))
          .select(col("id"), col("sid")).distinct()
        val candSigs = store.select(col("sid"), col("ssig"))
          .join(cand.select(col("sid")).distinct(), Seq("sid"), "left_semi")
          .dropDuplicates("sid")
        cand
          .join(sigs.select(col("id"), col("sig")), "id")
          .join(candSigs, "sid")
          .where(VectorOps.eqCount(col("sig"), col("ssig")) >= minAgree)
          .select(col("id")).distinct()
      }
    val internalDups = Dedup.candidatePairsFromSigs(sigs, k, bands)
      .where(col("agree") >= minAgree)
      .select(col("id_b").as("id")).distinct()
    val rejected = storeDups.unionByName(internalDups).distinct()
    batch.select(batch(idCol).cast("long").as("id")).distinct()
      .join(rejected, Seq("id"), "left_anti")
      .collect().map(_.getLong(0)).toSeq.sorted
  }
}

/** The bucket judge admits bit-identical id sets to the pair-join
  * oracle: cross-batch duplicates, an in-batch chain, a replayed batch,
  * signature-less short documents, repeated ids, a hot bucket, and
  * agreement exactly at and one below `minAgree`. Each batch is judged by
  * both forms against the same store, then committed with
  * [[StreamingDedup.processBatch]] so the next batch sees it.
  *
  * One case differs on purpose and is pinned as such: an id that
  * arrives with two texts is judged text by text, so a text is checked
  * only against the documents it shares a bucket with. The pair-join
  * form re-checked every text of an id once any of them had a
  * candidate. */
class StreamingDedupBucketSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val base = (0 until 60).map(i => s"tok$i")
  /** `base` with the words at `changeAt` replaced by `salt`-unique ones
    * (each changed word breaks three of the 58 shingles). */
  private def doc(salt: String, changeAt: Int*): String =
    mutate(base.mkString(" "), salt, changeAt: _*)
  private def mutate(text: String, salt: String, at: Int*): String =
    text.split(" ").zipWithIndex.map { case (w, i) =>
      if (at.contains(i)) s"$salt$i" else w }.mkString(" ")
  private def novel(salt: String): String =
    (1 to 24).map(i => s"${salt}w$i").mkString(" ")

  /** Judge `batches` in order with both forms; each batch's admitted
    * ids must match exactly. Returns the admitted ids per batch. */
  private def judgeBoth(batches: Seq[(Long, Seq[(Long, String)])],
                        minAgree: Int = 16): Seq[Seq[Long]] = {
    val store = tmp("bucket_store"); val adm = tmp("bucket_adm")
    batches.map { case (bid, rows) =>
      val b = rows.toDF("doc_id", "text")
      val want = PairJoinJudge.admitted(spark, b, bid, "doc_id", "text",
        store, minAgree = minAgree)
      val got = StreamingDedup.processBatch(spark, b, bid, "doc_id", "text",
        store, adm, minAgree = minAgree)
      assert(got == want, s"batch $bid: bucket judge $got, pair join $want")
      got
    }
  }

  /** Signature agreement of two texts, and whether they share a band. */
  private def agreement(a: String, b: String): (Int, Boolean) = {
    val s = Dedup.minhashSignatures(Seq((1L, a), (2L, b)).toDF("id", "t"),
      "id", "t").orderBy("id").collect().map(_.getSeq[Long](1))
    (s(0).zip(s(1)).count { case (x, y) => x == y },
      s(0).grouped(4).zip(s(1).grouped(4)).exists { case (x, y) => x == y })
  }

  test("cross-batch duplicates and distinct documents") {
    val out = judgeBoth(Seq(
      0L -> Seq((1L, doc("a")), (2L, novel("b"))),
      1L -> Seq((10L, doc("c", 7)), (11L, novel("d")), (12L, novel("b"))),
      2L -> Seq((20L, doc("e", 3)), (21L, novel("f")))))
    assert(out == Seq(Seq(1L, 2L), Seq(11L), Seq(21L)))
  }

  test("an in-batch chain A~B, B~C rejects both B and C") {
    // B changes five words of A, C five more of B: A and C are ten
    // words apart
    val a = doc("x"); val b = mutate(a, "y", 3, 15, 27, 39, 51)
    val c = mutate(b, "z", 9, 21, 33, 45, 57)
    val (ab, ac, bc) = (agreement(a, b), agreement(a, c), agreement(b, c))
    assert(ab._1 >= 16 && ab._2 && bc._1 >= 16 && bc._2 && ac._1 < 16,
      s"agreements A~B $ab, A~C $ac, B~C $bc")
    val out = judgeBoth(Seq(0L -> Seq((1L, a), (2L, b), (3L, c),
      (4L, novel("q")))))
    assert(out == Seq(Seq(1L, 4L)))
  }

  test("a replayed batch is judged without its own store partition") {
    val b0 = Seq((1L, doc("a")), (2L, novel("b")))
    val b1 = Seq((10L, doc("c", 5)), (11L, novel("d")))
    val out = judgeBoth(Seq(0L -> b0, 1L -> b1, 0L -> b0, 1L -> b1))
    assert(out == Seq(Seq(1L, 2L), Seq(11L), Seq(1L, 2L), Seq(11L)))
  }

  test("documents shorter than one shingle are admitted by both forms") {
    val out = judgeBoth(Seq(
      0L -> Seq((1L, "hi"), (2L, ""), (3L, "two words")),
      1L -> Seq((10L, "hi"), (11L, doc("a"))),
      2L -> Seq((20L, "two words"), (21L, doc("b", 4)))))
    assert(out == Seq(Seq(1L, 2L, 3L), Seq(10L, 11L), Seq(20L)))
  }

  test("repeated ids: a line delivered twice, and an id whose second " +
      "text near-dups the store") {
    val out = judgeBoth(Seq(
      0L -> Seq((1L, doc("a")), (2L, novel("b"))),
      1L -> Seq((5L, novel("c")), (5L, novel("c")),
        (7L, novel("d")), (7L, doc("e", 8)),
        (8L, novel("g")), (9L, novel("g")))))
    assert(out == Seq(Seq(1L, 2L), Seq(5L, 8L)))
  }

  test("a repeated id is judged text by text: its second text near-dups " +
      "a store document it shares no bucket with, and is admitted") {
    val t1 = doc("a"); val t2 = novel("d")
    val Array(s1, s2) = Dedup.minhashSignatures(
        Seq((1L, t1), (2L, t2)).toDF("id", "t"), "id", "t")
      .orderBy("id").collect().map(_.getSeq[Long](1).toArray)
    // store document S: band 0 is t1's (one shared bucket); bands 1-7
    // are t2's with the first position of each changed, so S agrees with
    // t2 on most positions yet shares none of its band keys
    val ss = s2.clone()
    (0 until 4).foreach(i => ss(i) = s1(i))
    (1 until 8).foreach(b => ss(b * 4) = s2(b * 4) + 1)
    def agree(a: Array[Long]) = a.zip(ss).count { case (x, y) => x == y }
    def sharesBand(a: Array[Long]) = a.grouped(4).zip(ss.grouped(4))
      .exists { case (x, y) => x.sameElements(y) }
    assert(sharesBand(s1) && agree(s1) < 16 && !sharesBand(s2) &&
      agree(s2) >= 16, s"t1 ${agree(s1)}, t2 ${agree(s2)}")
    val store = tmp("bucket_store"); val adm = tmp("bucket_adm")
    Seq((100L, ss.toSeq)).toDF("id", "sig")
      .select(col("id"), col("sig"),
        explode(Dedup.lshBandKeys(col("sig"), 8, 4)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"),
        col("sig"))
      .write.partitionBy("band").parquet(s"$store/batch=0")
    val b = Seq((7L, t1), (7L, t2), (8L, novel("e"))).toDF("doc_id", "text")
    assert(PairJoinJudge.admitted(spark, b, 1L, "doc_id", "text", store) ==
      Seq(8L))
    assert(StreamingDedup.processBatch(spark, b, 1L, "doc_id", "text",
      store, adm) == Seq(7L, 8L))
  }

  test("a hot bucket of many colliding documents, across the store " +
      "and the batch") {
    // every variant changes three of words 8-21 of one text, so many
    // share band keys; pairwise agreement spreads around the threshold
    def variant(i: Int): String =
      doc(s"h$i", 8 + i % 14, 8 + (i * 5) % 14, 8 + (i * 3) % 14)
    val out = judgeBoth(Seq(
      0L -> (0 until 15).map(i => (i.toLong, variant(i))),
      1L -> (15 until 45).map(i => (i.toLong, variant(i)))))
    assert(out.head.nonEmpty && out.head.size < 15, s"$out")
  }

  test("agreement exactly at minAgree rejects; one below admits, in " +
      "the batch and against the store") {
    val a = doc("a"); val b = doc("b", 4, 13)
    val (agree, shareBand) = agreement(a, b)
    assert(shareBand && agree > 1 && agree < 32, s"agreement $agree")
    for (m <- Seq(agree, agree + 1)) {
      val inBatch = judgeBoth(Seq(0L -> Seq((1L, a), (2L, b))), minAgree = m)
      val stored = judgeBoth(Seq(0L -> Seq((1L, a)), 1L -> Seq((2L, b))),
        minAgree = m)
      if (m == agree) {
        assert(inBatch == Seq(Seq(1L)) && stored == Seq(Seq(1L), Nil))
      } else {
        assert(inBatch == Seq(Seq(1L, 2L)) &&
          stored == Seq(Seq(1L), Seq(2L)))
      }
    }
  }
}
