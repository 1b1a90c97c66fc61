package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.textops.CurationOps

/** Streaming twin of [[CurationOps.weightedSample]] (q132) — a
  * maintained Efraimidis-Spirakis weighted without-replacement sample
  * over a document stream.
  *
  * The batch operator keeps the k smallest `−ln(u)/w` keys — a
  * BOTTOM-K sketch like [[StreamSample]]'s, so the maintained state IS
  * the sample (k rows), every batch folds in associatively (bottom-k
  * of a union = bottom-k of concatenated bottom-k's), and the result
  * is BIT-IDENTICAL to the batch operator over everything ingested —
  * key doubles included, because `u` depends only on (salt, id) and
  * the key is the same fixed per-row nest. Redelivered rows collapse
  * in the id-dedup, so the fold is replay-idempotent.
  *
  * This is how a curator keeps a live token-mass-weighted inspection
  * panel or eval hold-out: per batch the work is the batch's OWN
  * bottom-k plus a merge over k rows of state.
  *
  * Both sessions are one-part [[FoldSession]]s.
  * [[DurableWeightedSampleSession]] commits each batch's pruned
  * bottom-k candidates `(id, weight, es_key)` to a [[DurableLedger]];
  * read folds by concat → id-dedup → global bottom-k, so compaction
  * never changes the sample, a replayed batch id is a no-op, and a
  * restart resumes exactly.
  */
object StreamWeightedSample {
  import FoldSession.Part

  /** In-memory session over `(idCol, weightCol)`-bearing frames. */
  final class WeightedSampleSession(spark: SparkSession,
      idCol: String, weightCol: String, k: Int, salt: String)
      extends FoldSession.InMemory("weighted sample",
        Part(CurationOps.weightedSample(_, idCol, weightCol, k, salt).drop("es_key"),
          _.dropDuplicates(idCol))) {

    /** The maintained sample (the batch operator over state). */
    def currentSample: DataFrame =
      CurationOps.weightedSample(required("sample"), idCol, weightCol, k, salt)

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  private val Schema = StructType.fromDDL("id BIGINT, weight BIGINT, es_key DOUBLE")

  /** Durable session over `(id, weight)` rows (long id/weight — the
    * durable document sessions' shape).
    */
  final class DurableWeightedSampleSession(spark: SparkSession,
      ledgerPath: String, k: Int, salt: String, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "weighted sample", ledgerPath, compactEvery,
        Part(batch => CurationOps.weightedSample(
            batch.select(col("id").cast("long").as("id"),
              col("weight").cast("long").as("weight")),
            "id", "weight", k, salt),
          _.dropDuplicates("id"), schema = Schema)) {

    /** The committed candidate rows (concat of per-batch bottom-k's). */
    def candidates: DataFrame = ledger()

    /** The maintained sample — the batch operator's selection over the
      * folded, deduplicated candidates (the stored `es_key` is the
      * deterministic recompute; keeping it makes the ledger
      * self-describing for audits).
      */
    def currentSample: DataFrame =
      CurationOps.weightedSample(state().drop("es_key"), "id", "weight", k, salt)

    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
