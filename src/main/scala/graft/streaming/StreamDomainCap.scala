package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.textops.CurationOps

/** Streaming twin of [[CurationOps.domainCapRetention]] (q110) — a
  * maintained per-domain quality budget over a document stream: at
  * any point, the retained set is the k BEST documents per eTLD+1
  * (quality desc, id tiebreak) of everything ingested so far.
  *
  * Same mergeable-state argument as [[StreamSample]]: top-k under a
  * TOTAL order is a bottom-k sketch over the ordering key
  * `(-quality, id)` — the top-k of a union is the top-k of the
  * concatenated per-part top-k's — so the stream state IS the
  * retained set (k·|domains| rows), every batch folds in its own
  * pruned top-k associatively, and the maintained retention is
  * BIT-IDENTICAL to the batch operator over everything ingested
  * (rank column included, spec-pinned). Redelivery contract: a
  * replayed batch reproduces identical rows, which collapse in the
  * (domain, id) dedup — same as the other document sessions.
  *
  * Both sessions are one-part [[FoldSession]]s. [[DomainCapSession]]
  * folds each raw batch into its state (concat → distinct → rank).
  * [[DurableDomainCapSession]]'s delta is the batch's pruned top-k,
  * committed to a [[DurableLedger]]; read folds by concat → distinct → rank, so
  * compaction never changes the retained set. Durable rows are
  * `(doc_id, domain, quality)` — the budget decision needs no text.
  */
object StreamDomainCap {
  import FoldSession.Part

  /** Rank-prune to each domain's top-k by the batch operator's exact
    * order.
    */
  private def pruneTopK(df: DataFrame, idCol: String, domainCol: String,
      qualityCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(domainCol))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** In-memory session over arbitrary-schema frames. */
  final class DomainCapSession(spark: SparkSession,
      idCol: String, domainCol: String, qualityCol: String, k: Int)
      extends FoldSession.InMemory("domain cap",
        Part(identity,
          df => pruneTopK(df.dropDuplicates(domainCol, idCol), idCol, domainCol, qualityCol, k))) {

    /** Seeds an empty state of the batch's schema, so the first batch
      * is folded (deduplicated and pruned) like every later one.
      */
    override protected def step(batch: DataFrame, batchId: Long): Unit = {
      if (state() == null) seed(0, batch.limit(0))
      super.step(batch, batchId)
    }

    /** Retained rows WITHOUT ranks. */
    def retainedRows: Option[DataFrame] = Option(state())

    /** The retained set with the batch operator's `rk` column. */
    def currentRetention: Option[DataFrame] =
      retainedRows.map(CurationOps.domainCapRetention(_, idCol, domainCol, qualityCol, k))

    def ingest(batch: DataFrame): DataFrame = {
      step(batch, 0L)
      CurationOps.domainCapRetention(state(), idCol, domainCol, qualityCol, k)
    }
  }

  /** Durable session over `(doc_id, domain, quality)` rows. */
  final class DurableDomainCapSession(spark: SparkSession, ledgerPath: String,
      k: Int, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "domain cap", ledgerPath, compactEvery,
        Part(batch => pruneTopK(
            batch.select(col("doc_id").cast("long").as("doc_id"),
              col("domain").cast("string").as("domain"),
              col("quality").cast("long").as("quality")),
            "doc_id", "domain", "quality", k),
          _.dropDuplicates("domain", "doc_id"),
          schema = StructType.fromDDL("doc_id BIGINT, domain STRING, quality BIGINT"))) {

    /** Committed candidate rows (concat of per-batch top-k's). */
    def candidates: DataFrame = ledger()

    /** The retained set with ranks. */
    def currentRetention: DataFrame =
      CurationOps.domainCapRetention(state(), "doc_id", "domain", "quality", k)

    def ingest(batch: DataFrame, batchId: Long): DataFrame = {
      step(batch, batchId)
      currentRetention
    }
  }
}
