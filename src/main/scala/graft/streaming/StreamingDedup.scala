package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Fs, Overlap, Pins}
import graft.ops.{Dedup, VectorOps}

/** Online near-dup admission: a streaming document source is filtered so
  * that each document is ADMITTED only if it near-duplicates neither the
  * previously-admitted corpus nor an earlier document of its own batch;
  * admitted documents' MinHash signatures append to a persistent store
  * that future batches check against.
  *
  * Why this shape and not executor state: the dedup "state" is the
  * whole admitted corpus — corpus-sized, unbounded, exactly what
  * `GroupState` must NOT hold. The store therefore lives as parquet
  * band rows on the shared filesystem (`batch=<id>/band=<b>`, one row
  * per (document, band) carrying the band key and the signature), and
  * each micro-batch ([[judge]]) runs ONE exchange keyed by
  * `(band, key)`:
  *
  *  - its input is the batch's band rows plus the store band rows whose
  *    `(band, key)` the batch hits — a broadcast semi-join of the batch's
  *    distinct band keys into the store scan, so the store is filtered
  *    where it is read and never shuffled whole;
  *  - in each bucket a batch document is REJECTED when a store member,
  *    or a batch member with a smaller id, agrees with its signature on
  *    at least `minAgree` positions ([[VectorOps.eqCount]], over the
  *    shorter signature). Two documents share a bucket exactly when
  *    they are an LSH candidate pair, so every pair is judged inside
  *    its buckets and no pair list is ever built;
  *  - the admitted ids are the batch ids no bucket rejected, pinned and
  *    collected by the same action.
  *
  * A bucket holds every member that hit its key, so its cost is
  * quadratic in its size, like the candidate pairs it stands for. The
  * store scan itself is still one read of the band rows per batch,
  * pruned to the hit keys by the broadcast.
  *
  * Idempotence: each batch writes its store increment and its admitted
  * output under `batch=<id>` subdirectories with overwrite, so a
  * replayed micro-batch (post-crash) rewrites the same paths instead of
  * double-appending — the store stays exactly-once without a
  * transactional table format. The judge excludes the batch's own
  * `batch=<id>` partition, so a replay is not rejected against its own
  * earlier increment.
  *
  * Admission rule inside a batch: a document is rejected if it
  * near-dups ANY smaller-id document of the same batch (regardless of
  * that document's own fate) — one deterministic pass, no iterative
  * chain resolution. Chains (A~B, B~C, A≁C) therefore reject both B
  * and C; the batch pipeline's `connectedGroups` + canonical selection
  * is the tool when chain-precise grouping matters. Rows are judged
  * against the rows they share a bucket with, so an id that arrives
  * twice with two different texts is judged text by text.
  *
  * Documents SHORTER than one shingle (fewer than `n` words) have no
  * MinHash signature, so LSH cannot judge them: they are ADMITTED
  * unconditionally (never silently dropped) and leave nothing in the
  * store. Route short documents through exact-hash dedup
  * ([[graft.ops.Dedup.exactGroups]]) upstream if exact short-text
  * duplicates matter.
  */
object StreamingDedup {

  /** A judged batch: its admitted ids and its two idempotent writes
    * (store increment, admitted output), which read nothing of each
    * other and may run concurrently ([[Overlap.par]]). The writes read
    * the batch's pins, so they run inside the caller's scope. */
  private[streaming] final case class Verdict(ids: Seq[Long],
                                              writes: Seq[() => Unit])

  /** One micro-batch of the admission filter (public so the spec and a
    * backfill driver can run it directly): [[judge]], then both writes.
    *
    * @param minAgree signature positions (of `k`) that must agree for a
    *                 candidate pair to count as a duplicate
    * @return admitted document ids (bounded: one batch's worth)
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   idCol: String, textCol: String, storeDir: String,
                   admittedDir: String, n: Int = 3, k: Int = 32,
                   bands: Int = 8, minAgree: Int = 16): Seq[Long] = {
    val v = judge(spark, batch, batchId, idCol, textCol, storeDir,
      admittedDir, n, k, bands, minAgree)
    Overlap.par(v.writes: _*)
    v.ids
  }

  /** Judge one batch against the store and itself (the bucket rule in
    * the object doc); the returned writes persist the verdict. */
  private[streaming] def judge(spark: SparkSession, batch: DataFrame,
                               batchId: Long, idCol: String,
                               textCol: String, storeDir: String,
                               admittedDir: String, n: Int = 3,
                               k: Int = 32, bands: Int = 8,
                               minAgree: Int = 16): Verdict = {
    // pinned: the judge reads it twice (members, the store probe's
    // keys) and the store increment once more
    val bandRows = Pins.pin(Dedup.minhashSignatures(batch, idCol, textCol,
        n, k)
      .select(col("id"), col("sig"), explode(
        Dedup.lshBandKeys(col("sig"), bands, k / bands)).as("bk"))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.key").as("key"), col("sig")))
    // "exists" = holds at least one parquet DATA file: a batch that
    // admitted nothing (or only signature-less short docs) leaves a
    // fileless batch=<id> directory, and a directory-name check alone
    // would send every later batch into an UNABLE_TO_INFER_SCHEMA crash
    val store =
      if (!Fs.hasParquetData(storeDir, Fs.conf(spark))) None
      else Some(spark.read.parquet(storeDir))

    val batchMembers = bandRows.withColumn("stored", lit(false))
    val members = store.fold(batchMembers)(s => batchMembers.unionByName(s
      // exclude THIS batch's own partition: on a post-crash replay the
      // batch's earlier increment is already in the store, and matching
      // against it would self-reject every admitted doc (and then
      // overwrite the increment with the empty set)
      .where(col("batch") =!= batchId)
      // the broadcast hash relation holds each hit key once
      .join(broadcast(bandRows.select(col("band"), col("key"))),
        Seq("band", "key"), "left_semi")
      .select(col("id"), col("band"), col("key"), col("sig"),
        lit(true).as("stored"))))

    // a bucket with one member judges nothing
    val rejected = members
      .groupBy(col("band"), col("key"))
      .agg(collect_list(struct(col("id"), col("sig"), col("stored")))
        .as("m"))
      .where(size(col("m")) > 1)
      .select(explode(col("m")).as("d"), col("m"))
      .where(!col("d.stored") && exists(col("m"), x =>
        (x("stored") || x("id") < col("d.id")) &&
          VectorOps.eqCount(x("sig"), col("d.sig")) >= minAgree))
      .select(col("d.id").cast("long").as("id"), lit(true).as("rejected"))
    // admitted derives from the BATCH ids, not the signature table: a
    // document shorter than one shingle has no signature and must be
    // admitted, not silently dropped. One exchange by id folds the
    // batch's distinct ids and the rejections together.
    val (admitted, ids) = Pins.pinWith(
      batch.select(batch(idCol).cast("long").as("id"),
          lit(false).as("rejected"))
        .unionByName(rejected)
        .groupBy(col("id")).agg(max(col("rejected")).as("rejected"))
        .where(!col("rejected")).select(col("id")))(
      _.collect().map(_.getLong(0)).toSeq.sorted)

    // ---- idempotent store increment + admitted output -----------------
    // band=<b> partition dirs under batch=<id>: replays overwrite
    Verdict(ids, Seq(
      // one file per band, as a single-partition batch wrote: every
      // later batch scans these files
      () => bandRows.join(broadcast(admitted), "id")
        .repartition(col("band"))
        .write.mode("overwrite").partitionBy("band")
        .parquet(s"$storeDir/batch=$batchId"),
      () => batch.join(broadcast(admitted), batch(idCol) === admitted("id"),
          "left_semi")
        .write.mode("overwrite").parquet(s"$admittedDir/batch=$batchId")))
  }

  /** Wire the filter onto a streaming document source. `checkpointDir`
    * carries the stream's offsets; `storeDir`/`admittedDir` receive one
    * `batch=<id>` increment per micro-batch. */
  def start(spark: SparkSession, docs: DataFrame, idCol: String,
            textCol: String, storeDir: String, admittedDir: String,
            checkpointDir: String, n: Int = 3, k: Int = 32,
            bands: Int = 8, minAgree: Int = 16): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one scope per micro-batch: its pins die with it
        Pins.scope(processBatch(spark, batch, batchId, idCol, textCol,
          storeDir, admittedDir, n, k, bands, minAgree))
        ()
      }
      .start()
}
