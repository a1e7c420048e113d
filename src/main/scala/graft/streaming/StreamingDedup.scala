package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.{Fs, Pins}
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
  * band-key rows on the shared filesystem and each micro-batch runs one
  * equi-join against it (`foreachBatch`), which is the standard
  * LSH-store deployment: the join's shuffle carries only colliding band
  * keys and no all-pairs comparison ever happens, and the signature
  * re-check is restricted to candidate store docs before any dedup
  * shuffle. Each batch does pay one scan of the store's band rows —
  * rows land under `band=<b>` directories so a production deployment
  * can prune/bucket that scan (or keep the store as a bucketed table).
  *
  * Idempotence: each batch writes its store increment and its admitted
  * output under `batch=<id>` subdirectories with overwrite, so a
  * replayed micro-batch (post-crash) rewrites the same paths instead of
  * double-appending — the store stays exactly-once without a
  * transactional table format.
  *
  * Admission rule inside a batch: a document is rejected if it
  * near-dups ANY smaller-id document of the same batch (regardless of
  * that document's own fate) — one deterministic pass, no iterative
  * chain resolution. Chains (A~B, B~C, A≁C) therefore reject both B
  * and C; the batch pipeline's `connectedGroups` + canonical selection
  * is the tool when chain-precise grouping matters.
  *
  * Documents SHORTER than one shingle (fewer than `n` words) have no
  * MinHash signature, so LSH cannot judge them: they are ADMITTED
  * unconditionally (never silently dropped) and leave nothing in the
  * store. Route short documents through exact-hash dedup
  * ([[graft.ops.Dedup.exactGroups]]) upstream if exact short-text
  * duplicates matter.
  */
object StreamingDedup {

  /** One micro-batch of the admission filter (public so the spec and a
    * backfill driver can run it directly).
    *
    * @param minAgree signature positions (of `k`) that must agree for a
    *                 candidate pair to count as a duplicate
    * @return admitted document ids (bounded: one batch's worth)
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   idCol: String, textCol: String, storeDir: String,
                   admittedDir: String, n: Int = 3, k: Int = 32,
                   bands: Int = 8, minAgree: Int = 16): Seq[Long] = {
    val rowsPerBand = k / bands
    // pinned: reused by banding, internal pairs, scoring
    val sigs = Pins.pin(Dedup.minhashSignatures(batch, idCol, textCol, n, k))
    val bandRows = sigs
      .withColumn("bk", explode(
        Dedup.lshBandKeys(col("sig"), bands, rowsPerBand)))
      .select(col("id"), col("bk.band").as("band"),
        col("bk.key").as("key"), col("sig"))

    // "exists" = holds at least one parquet DATA file: a batch that
    // admitted nothing (or only signature-less short docs) leaves a
    // fileless batch=<id> directory, and a directory-name check alone
    // would send every later batch into an UNABLE_TO_INFER_SCHEMA crash
    val storeExists = Fs.hasParquetData(storeDir, Fs.conf(spark))

    // ---- cross-store duplicates: batch band rows ⋈ store band rows ----
    val storeDups: DataFrame = if (!storeExists) {
      spark.emptyDataFrame.select(lit(0L).as("id")).limit(0)
    } else {
      // exclude THIS batch's own partition: on a post-crash replay the
      // batch's earlier increment is already in the store, and matching
      // against it would self-reject every admitted doc (and then
      // overwrite the increment with the empty set)
      val store = spark.read.parquet(storeDir)
        .where(col("batch") =!= batchId)
        .select(col("id").as("sid"), col("band"), col("key"),
          col("sig").as("ssig"))
      val cand = Pins.pin(bandRows.join(store, Seq("band", "key"))
        .select(col("id"), col("sid")).distinct())
      // signature lookup restricted to candidate store docs FIRST, so
      // the dedup of the 8x band duplication shuffles candidate-many
      // rows, not the whole store (the store scan itself is per-batch
      // cost; a production deployment buckets the store by band key)
      val candSigs = store.select(col("sid"), col("ssig"))
        .join(cand.select(col("sid")).distinct(), Seq("sid"), "left_semi")
        .dropDuplicates("sid")
      cand
        .join(sigs.select(col("id"), col("sig")), "id")
        .join(candSigs, "sid")
        .where(VectorOps.eqCount(col("sig"), col("ssig")) >= minAgree)
        .select(col("id")).distinct()
    }

    // ---- batch-internal duplicates: reject vs any smaller id ----------
    val internalDups = Dedup.candidatePairsFromSigs(sigs, k, bands)
      .where(col("agree") >= minAgree)
      .select(col("id_b").as("id")).distinct()

    val rejected = storeDups.unionByName(internalDups).distinct()
    // admitted derives from the BATCH ids, not the signature table: a
    // document shorter than one shingle has no signature and must be
    // admitted, not silently dropped
    val admitted = Pins.pin(batch.select(batch(idCol).cast("long").as("id"))
      .distinct()
      .join(rejected, Seq("id"), "left_anti"))

    // ---- idempotent store increment + admitted output -----------------
    // band=<b> partition dirs under batch=<id>: replays overwrite, and
    // candidate probes prune to colliding bands
    bandRows.join(admitted, "id")
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$storeDir/batch=$batchId")
    batch.join(admitted, batch(idCol) === admitted("id"), "left_semi")
      .write.mode("overwrite").parquet(s"$admittedDir/batch=$batchId")
    admitted.collect().map(_.getLong(0)).toSeq.sorted
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
