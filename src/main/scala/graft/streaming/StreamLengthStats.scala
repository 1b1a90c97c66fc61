package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.textops.CurationOps

/** Streaming twin of [[CurationOps.lengthPercentilesByHistogram]]
  * (q111/q38's corpus length statistics) — incrementally-maintained
  * EXACT percentiles over a document stream.
  *
  * The whole point of the histogram reformulation is that the state is
  * a bounded associative table: per-batch `(stratum, length, count)`
  * deltas ([[CurationOps.lengthHistogram]] — the batch operator's own
  * phase) merge by integer addition, and
  * [[CurationOps.percentilesFromHistogram]] recovers `percentile_cont`
  * BIT-FOR-BIT from the merged table at any point in the stream.
  * `percentile_cont` itself could never stream — it needs every raw
  * value; the histogram needs one row per distinct length.
  *
  * Both sessions are [[FoldSession]]s over one sum-folded part.
  * [[LengthStatsSession]] keeps the merged histogram as a
  * localCheckpointed frame (at-least-once: a REDELIVERED batch double
  * counts — driver-memory sessions have no batch identity).
  * [[DurableLengthStatsSession]] commits each batch's delta rows to a
  * [[DurableLedger]] directory keyed by batchId: a replayed id is a
  * first-writer-wins no-op (exactly-once counts), a restart resumes
  * from disk, and compaction is free. Its read skips the fold — the
  * first aggregation in [[CurationOps.percentilesFromHistogram]]
  * re-combines the stacked delta rows, so no stage is added.
  */
object StreamLengthStats {
  import FoldSession.{Part, sumBy}

  /** In-memory session: `ingest` merges a batch's histogram delta,
    * `currentStats` returns the q38-shaped statistics as of the last
    * ingest (bit-identical to the batch operator over everything
    * ingested, spec-pinned).
    */
  final class LengthStatsSession(spark: SparkSession,
      stratumCol: String, textCol: String,
      initial: Option[DataFrame] = None)
      extends FoldSession.InMemory("length stats",
        Part(CurationOps.lengthHistogram(_, stratumCol, textCol), sumBy(stratumCol, "v")("cnt"))) {
    seed(0, initial.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], histSchema(stratumCol))))

    /** The merged `(stratum, v, cnt)` histogram. */
    def histogram: DataFrame = state()

    def currentStats: DataFrame =
      CurationOps.percentilesFromHistogram(state(), stratumCol)

    def ingest(batch: DataFrame): DataFrame = {
      step(batch, 0L)
      currentStats
    }
  }

  private def histSchema(stratumCol: String): StructType = StructType(Seq(
    StructField(stratumCol, StringType), StructField("v", IntegerType),
    StructField("cnt", LongType)))

  /** [[LengthStatsSession]] with the histogram deltas in a
    * [[DurableLedger]]: survives a restart, a replayed batch id is a
    * no-op (exactly-once), and `compactEvery` folds directories without
    * touching any count.
    */
  final class DurableLengthStatsSession(spark: SparkSession, ledgerPath: String,
      stratumCol: String, textCol: String, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "length stats", ledgerPath, compactEvery,
        Part(CurationOps.lengthHistogram(_, stratumCol, textCol)
            .select(col(stratumCol), col("v").cast("int").as("v"),
              col("cnt").cast("long").as("cnt")),
          schema = histSchema(stratumCol))) {

    /** The committed histogram (delta rows; duplicates by (stratum, v)
      * re-combine in the stats aggregation).
      */
    def histogram: DataFrame = ledger()

    def currentStats: DataFrame =
      CurationOps.percentilesFromHistogram(histogram, stratumCol)

    def ingest(batch: DataFrame, batchId: Long): DataFrame = {
      step(batch, batchId)
      currentStats
    }
  }
}
