package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.TextMetrics

/** The curation pipeline's INGEST → QUALITY → EXACT-DEDUP stage as one
  * shared builder: the `pipeline_curate` query materializes it at the
  * stage boundary, and `PlanInvariantsSpec` asserts the SAME plan (an
  * audit of a hand-copied rebuild would silently drift from the code
  * that ships — the plan claims in SCALE_r09.md §2 are about THIS
  * builder). */
object CurateStages {

  /** The ingest contract: the four corpus fields, parsed as declared. */
  val IngestSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType), StructField("n_chars", LongType)))

  /** Stages 1–3 over the documents table, LAZY (callers put the stage
    * boundary where they need it):
    *  1. the doc_id >= 50 corpus slice rendered as JSONL lines in-plan,
    *     plus three injected corrupt lines, through the
    *     [[graft.sources.JsonlSource.parseWithQuarantine]] contract
    *     parse (the quarantine path exercised without a filesystem
    *     side effect);
    *  2. quality: >= 5 tokens and repeated-token fraction <= 0.7;
    *  3. exact dedup as ONE min(struct) hash aggregation — the min-id
    *     row of each content hash wins, duplicates collapse MAP-SIDE
    *     (the segmentDedup idiom), no keeper join-back, no second scan.
    */
  def cleanedCorpus(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val lines = docs.where(col("doc_id") >= 50)
      .select(to_json(struct(col("doc_id"), col("lang"), col("text"),
        col("n_chars"))).as("raw"))
      .unionByName(Seq(
        """{"doc_id": 999999, "lang": "xx", "text": "truncated""",
        "definitely not json", "").toDF("raw"))
    val (clean, _) =
      graft.sources.JsonlSource.parseWithQuarantine(lines, IngestSchema)
    qualityDedup(clean, "doc_id", "text")
  }

  /** Stages 2–3 alone, over ANY contract-parsed corpus (the ingest
    * seam is pluggable: the JSONL render above, a
    * [[graft.sources.WarcSource.documents]] view, a parquet slice):
    * quality admission (≥ 5 tokens, repeated-token fraction ≤ 0.7),
    * then exact dedup as ONE min(struct) hash aggregation with idCol
    * leading the struct — the min-id row of each content hash wins,
    * duplicates collapse MAP-SIDE, no keeper join-back, no second
    * scan. Column set is preserved. */
  def qualityDedup(clean: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val q = clean.where(
      TextMetrics.tokenCount(col(textCol)) >= 5 &&
        TextMetrics.repetitionFeatures(col(textCol))
          .getField("dup_token_frac") <= 0.7)
    val cols = idCol +: clean.columns.filterNot(_ == idCol).toSeq
    q.groupBy(md5(col(textCol)).as("__h"))
      .agg(min(struct(cols.map(col): _*)).as("__r"))
      .select(cols.map(c => col("__r").getField(c).as(c)): _*)
  }
}
