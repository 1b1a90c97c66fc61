package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.temporal.Temporal

/** Streaming twin of [[Temporal.eventBursts]] (q117) — live burst
  * monitoring over an event stream: per-(type, hour) counts are
  * ADDITIVE integers, so the stream state is the bounded hourly table
  * ([[Temporal.hourlyCounts]], the batch operator's own phase) merged
  * by integer addition, and [[Temporal.burstsFromHourly]] recovers
  * the batch z-scores BIT-FOR-BIT at any stream point — the
  * [[StreamLengthStats]] histogram discipline applied to the event
  * log.
  *
  * Both sessions are one-part [[FoldSession]]s. The in-memory session
  * is at-least-once (a redelivered batch double counts — counts carry
  * no batch identity); the durable session commits each batch's delta
  * rows to a [[DurableLedger]] directory keyed by batch id, so a
  * replayed id is a first-writer-wins no-op (exactly-once counts),
  * restarts resume, and its read skips the fold: the stacked delta rows
  * re-combine in [[Temporal.burstsFromHourly]]'s own aggregation.
  */
object StreamEventBursts {
  import FoldSession.{Part, sumBy}

  private val HourlySchema = StructType.fromDDL("event_type STRING, hour TIMESTAMP, c BIGINT")

  /** In-memory session. */
  final class EventBurstsSession(spark: SparkSession,
      typeCol: String, tsCol: String,
      lookback: Int = 6, zThreshold: Double = 3.0)
      extends FoldSession.InMemory("event bursts",
        Part(Temporal.hourlyCounts(_, typeCol, tsCol), sumBy("event_type", "hour")("c"))) {
    seed(0, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], HourlySchema))

    /** The merged `(event_type, hour, c)` table. */
    def hourly: DataFrame = state()

    /** Batch-identical burst scores as of the last ingest. */
    def currentBursts: DataFrame =
      Temporal.burstsFromHourly(state(), lookback, zThreshold)

    def ingest(batch: DataFrame): DataFrame = {
      step(batch, 0L)
      currentBursts
    }
  }

  /** Durable session. */
  final class DurableEventBurstsSession(spark: SparkSession, ledgerPath: String,
      typeCol: String, tsCol: String,
      lookback: Int = 6, zThreshold: Double = 3.0, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "event bursts", ledgerPath, compactEvery,
        Part(Temporal.hourlyCounts(_, typeCol, tsCol)
            .select(col("event_type").cast("string").as("event_type"),
              col("hour").cast("timestamp").as("hour"), col("c").cast("long").as("c")),
          schema = HourlySchema)) {

    /** Committed delta rows. */
    def hourly: DataFrame = ledger()

    def currentBursts: DataFrame =
      Temporal.burstsFromHourly(hourly, lookback, zThreshold)

    def ingest(batch: DataFrame, batchId: Long): DataFrame = {
      step(batch, batchId)
      currentBursts
    }
  }
}
