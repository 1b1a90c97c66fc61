package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sketch.Sketches

/** Incrementally-maintained versions of the q118-q122 sketch trio —
  * the live corpus-telemetry panel (word frequencies, distinct counts,
  * benchmark membership) a continuously-ingesting pipeline keeps
  * current without ever rescanning the corpus. Each session holds the
  * SKETCH as its entire state — kilobytes, independent of corpus size
  * — and each batch contributes one bounded delta:
  *
  *  - Count-Min cells merge by SUM — additive, NOT idempotent, so the
  *    durable twin relies on [[DurableLedger]]'s first-writer-wins
  *    commit for exactly-once under replay (same discipline as the
  *    counters in [[StreamEventBursts]]).
  *  - HLL registers merge by MAX and Bloom bits by UNION — idempotent
  *    at the cell level, so even at-least-once delivery cannot drift
  *    the state (the ledger's replay hygiene is belt-and-braces).
  *
  * Streamed ≡ batch EXACTLY: because each merge law is the same fold
  * the batch operator computes in one pass, a session's state after
  * ingesting any partition of the corpus equals the batch sketch of
  * the whole — cell-for-cell, not within-epsilon (spec-pinned over
  * randomized splits in `StreamSketchesSpec`). Every session here is a
  * one-part [[FoldSession]].
  */
object StreamSketches {
  import FoldSession.{Part, sumBy}

  private val CmsSchema = StructType.fromDDL("sk_row BIGINT, bucket BIGINT, cnt BIGINT")
  private val HllSchema = StructType.fromDDL("idx BIGINT, r BIGINT")
  private val BloomSchema = StructType.fromDDL("pos BIGINT")

  private def cms(itemCol: String, depth: Int, width: Int) =
    Part(Sketches.cmsTable(_, itemCol, depth, width),
      sumBy("sk_row", "bucket")("cnt"), schema = CmsSchema)
  private def hll(itemCol: String, p: Int) =
    Part(Sketches.hllRegisters(_, itemCol, p),
      _.groupBy(col("idx")).agg(max(col("r")).as("r")), schema = HllSchema)
  private def bloom(itemCol: String, k: Int, mBits: Int) =
    Part(Sketches.bloomBits(_, itemCol, k, mBits), _.distinct(), schema = BloomSchema)

  /** In-memory Count-Min session over `itemCol` occurrences. */
  final class CmsSession(spark: SparkSession, itemCol: String,
      depth: Int = 4, width: Int = 512)
      extends FoldSession.InMemory("count-min", cms(itemCol, depth, width)) {

    /** Current `(sk_row, bucket, cnt)` cells. */
    def sketch: Option[DataFrame] = Option(state())

    def ingest(batch: DataFrame): DataFrame = { step(batch, 0L); state() }

    /** Point estimates for `probes` against the current state. */
    def estimates(probes: DataFrame, probeCol: String): DataFrame =
      Sketches.cmsEstimates(probes, probeCol,
        sketch.getOrElse(spark.emptyDataFrame
          .withColumn("sk_row", lit(0L)).withColumn("bucket", lit(0L))
          .withColumn("cnt", lit(0L))),
        depth, width)
  }

  /** In-memory HLL session: register-max state. */
  final class HllSession(spark: SparkSession, itemCol: String, p: Int = 8)
      extends FoldSession.InMemory("hll", hll(itemCol, p)) {

    /** Current `(idx, r)` registers. */
    def registers: Option[DataFrame] = Option(state())

    def ingest(batch: DataFrame): DataFrame = { step(batch, 0L); state() }

    /** One-row `(m, zeros, z_int, est_raw)` as of the last ingest. */
    def estimate: Option[DataFrame] = registers.map(Sketches.hllEstimate(_, p))
  }

  /** In-memory Bloom session: set-bit union state (the live
    * decontamination screen — benchmark shingles stream in, the bit
    * table is always probe-ready).
    */
  final class BloomSession(spark: SparkSession, itemCol: String,
      k: Int = 3, mBits: Int = 16384)
      extends FoldSession.InMemory("bloom", bloom(itemCol, k, mBits)) {

    /** Current `(pos)` set bits. */
    def bits: Option[DataFrame] = Option(state())

    def ingest(batch: DataFrame): DataFrame = { step(batch, 0L); state() }

    /** Membership counts of `probe` against the current bits. */
    def probe(df: DataFrame, idCol: String, probeCol: String): DataFrame =
      Sketches.bloomProbe(df, idCol, probeCol,
        bits.getOrElse(spark.emptyDataFrame.withColumn("pos", lit(0L))),
        k, mBits)
  }

  /** Durable Count-Min: per-batch DELTA cells in a [[DurableLedger]]
    * (a replayed batch id is a first-writer-wins no-op — the additive
    * merge stays exactly-once), read-time sum fold. Compaction folds
    * segments without changing the sum.
    */
  final class DurableCmsSession(spark: SparkSession, ledgerPath: String,
      itemCol: String, depth: Int = 4, width: Int = 512, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "count-min", ledgerPath, compactEvery,
        cms(itemCol, depth, width)) {

    /** Committed per-batch delta cells (pre-fold). */
    def committed: DataFrame = ledger()

    /** The folded `(sk_row, bucket, cnt)` sketch over all commits. */
    def sketch: DataFrame = state()

    def estimates(probes: DataFrame, probeCol: String): DataFrame =
      Sketches.cmsEstimates(probes, probeCol, sketch, depth, width)

    def ingest(batch: DataFrame, batchId: Long): DataFrame = {
      step(batch, batchId)
      sketch
    }
  }

  /** Durable HLL: per-batch register rows, read-time max fold
    * (idempotent — compaction and replay provably cannot change it).
    */
  final class DurableHllSession(spark: SparkSession, ledgerPath: String,
      itemCol: String, p: Int = 8, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "hll", ledgerPath, compactEvery, hll(itemCol, p)) {

    def committed: DataFrame = ledger()

    /** The folded `(idx, r)` registers over all commits. */
    def registers: DataFrame = state()

    def estimate: DataFrame = Sketches.hllEstimate(registers, p)

    def ingest(batch: DataFrame, batchId: Long): DataFrame = {
      step(batch, batchId)
      registers
    }
  }

  /** Durable Bloom: per-batch distinct set-bit rows, read-time distinct
    * fold (idempotent).
    */
  final class DurableBloomSession(spark: SparkSession, ledgerPath: String,
      itemCol: String, k: Int = 3, mBits: Int = 16384, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "bloom", ledgerPath, compactEvery,
        bloom(itemCol, k, mBits)) {

    def committed: DataFrame = ledger()

    /** The folded `(pos)` bit set over all commits. */
    def bits: DataFrame = state()

    def probe(df: DataFrame, idCol: String, probeCol: String): DataFrame =
      Sketches.bloomProbe(df, idCol, probeCol, bits, k, mBits)

    def ingest(batch: DataFrame, batchId: Long): DataFrame = {
      step(batch, batchId)
      bits
    }
  }
}
