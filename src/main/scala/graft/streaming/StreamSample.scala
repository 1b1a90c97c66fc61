package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.textops.CurationOps

/** Streaming twin of [[CurationOps.stratifiedSample]] (q32) — a
  * maintained deterministic k-per-stratum sample over a document
  * stream.
  *
  * The batch operator keeps each stratum's k smallest salted md5 ranks
  * — a BOTTOM-K sketch, which is mergeable: the bottom-k of a union is
  * the bottom-k of the concatenated bottom-k's. So the stream state is
  * just the current sample itself (k·|strata| rows — control-plane
  * sized), every batch folds in associatively, and the maintained
  * sample is BIT-IDENTICAL to running the batch operator over
  * everything ingested (spec-pinned, rank column included). The md5
  * key depends only on (salt, id), so redelivered rows collapse in the
  * distinct and the fold is replay-idempotent.
  *
  * This is how a training-mix curator keeps a live balanced sample
  * (per-language eval hold-outs, inspection panels) without ever
  * re-scanning the corpus: per batch the work is the batch's OWN
  * rank-prune plus a merge over bounded state.
  *
  * Both sessions are one-part [[FoldSession]]s. [[SampleSession]]
  * folds each raw batch into its state (concat → distinct → rank).
  * [[DurableSampleSession]]'s delta is the batch's PRUNED candidates
  * (its own per-stratum bottom-k — only rows that could ever enter the
  * merged sample), committed to a [[DurableLedger]]; read folds directories by
  * concat → distinct → global rank, so compaction never changes the
  * sample, a replayed batch id is a no-op, and a restart resumes
  * exactly. Durable rows are `(doc_id, stratum, text)`-shaped like the
  * other durable document sessions.
  */
object StreamSample {
  import FoldSession.Part

  /** Rank-prune `df` to each stratum's bottom-k by the batch
    * operator's exact key (shared formula — `md5(salt || id)`).
    */
  private def pruneTopK(df: DataFrame, idCol: String, stratumCol: String,
      k: Int, salt: String): DataFrame = {
    val key = md5(concat(lit(salt), col(idCol).cast("string")))
    val w = Window.partitionBy(col(stratumCol)).orderBy(key, col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** In-memory session over arbitrary-schema frames: `ingest` folds a
    * batch, `currentSample` is the batch operator's output (with `rk`)
    * over everything ingested.
    */
  final class SampleSession(spark: SparkSession,
      idCol: String, stratumCol: String, k: Int, salt: String)
      extends FoldSession.InMemory("stratified sample",
        Part(identity, df => pruneTopK(df.dropDuplicates(stratumCol, idCol), idCol, stratumCol, k, salt))) {

    /** Seeds an empty state of the batch's schema, so the first batch
      * is folded (deduplicated and pruned) like every later one.
      */
    override protected def step(batch: DataFrame, batchId: Long): Unit = {
      if (state() == null) seed(0, batch.limit(0))
      super.step(batch, batchId)
    }

    /** The maintained sample WITHOUT ranks (state rows). */
    def sampleRows: Option[DataFrame] = Option(state())

    /** The maintained sample with the batch operator's `rk` column. */
    def currentSample: Option[DataFrame] =
      sampleRows.map(CurationOps.stratifiedSample(_, idCol, stratumCol, k, salt))

    def ingest(batch: DataFrame): DataFrame = {
      step(batch, 0L)
      CurationOps.stratifiedSample(state(), idCol, stratumCol, k, salt)
    }
  }

  /** Durable session over `(doc_id, stratum, text)` rows. */
  final class DurableSampleSession(spark: SparkSession, ledgerPath: String,
      k: Int, salt: String, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "stratified sample", ledgerPath, compactEvery,
        Part(batch => pruneTopK(
            batch.select(col("doc_id").cast("long").as("doc_id"),
              col("stratum").cast("string").as("stratum"),
              col("text").cast("string").as("text")),
            "doc_id", "stratum", k, salt),
          _.dropDuplicates("stratum", "doc_id"),
          schema = StructType.fromDDL("doc_id BIGINT, stratum STRING, text STRING"))) {

    /** The committed candidate rows (concat of per-batch bottom-k's). */
    def candidates: DataFrame = ledger()

    /** The maintained sample with ranks — the batch operator over the
      * folded, deduplicated candidates.
      */
    def currentSample: DataFrame =
      CurationOps.stratifiedSample(state(), "doc_id", "stratum", k, salt)

    def ingest(batch: DataFrame, batchId: Long): DataFrame = {
      step(batch, batchId)
      currentSample
    }
  }
}
