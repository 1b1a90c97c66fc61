package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incrementally-maintained approximate distinct counts per stratum —
  * the "distinct URLs / domains / shingles per source" corpus stat a
  * 100 TB pipeline tracks continuously, where an exact COUNT(DISTINCT)
  * shuffles the full value set to produce one number.
  *
  * Built on Spark's native Apache DataSketches HLL aggregates
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate` — the
  * codegen'd built-ins, not a hand-rolled sketch): per batch ONE
  * map-side-combined aggregation produces a kilobyte-sized binary
  * sketch per stratum; sketches merge by register-max — associative,
  * commutative, and idempotent at the register level, so at-least-once
  * delivery never INFLATES an estimate the way additive counters do
  * (the durable ledger's first-writer-wins commit adds exactly-once
  * hygiene on top). One honest caveat the spec pins instead of hiding: a
  * DataSketches sketch below ~k distinct values sits in an EXACT
  * (list/set) mode, and a union promotes it to estimating HLL mode —
  * so a merged estimate need not equal the single-shot estimate
  * bit-for-bit; both sit inside the library's published error envelope
  * (RSE ≈ 1.04/√2^lgK — ~1.6 % at the default lgK=12), which is the
  * contract a consumer may rely on under ANY batching.
  *
  * [[DurableDistinctCountSession]] commits `(stratum, sketch)` rows
  * per batch; read folds with `hll_union_agg` over the concatenated
  * directories, so [[DurableLedger]] compaction adds no new sketches
  * to the fold and a replayed batch id is a no-op. Both sessions are
  * [[FoldSession]]s. Accuracy is spec-pinned against exact distinct
  * counts.
  */
object StreamDistinctCount {
  import FoldSession.Part

  /** Per-stratum `(stratum, sketch, estimate)` for one frame — the
    * batch operator (one map-side-combined aggregate; the shuffle
    * moves |strata| sketches, never values).
    */
  def distinctSketches(df: DataFrame, stratumCol: String, valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(col(stratumCol).as("stratum"))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
      .withColumn("estimate", hll_sketch_estimate(col("sketch")))

  private def sketches(stratumCol: String, valueCol: String, lgK: Int) =
    Part(distinctSketches(_, stratumCol, valueCol, lgK).select(col("stratum"), col("sketch")),
      _.groupBy(col("stratum")).agg(hll_union_agg(col("sketch")).as("sketch")),
      schema = StructType.fromDDL("stratum STRING, sketch BINARY"))

  private def estimatesOf(sketches: DataFrame): DataFrame =
    sketches.select(col("stratum"), hll_sketch_estimate(col("sketch")).as("estimate"))

  /** In-memory session: per-stratum sketch state folded by
    * `hll_union_agg` each ingest.
    */
  final class DistinctCountSession(spark: SparkSession,
      stratumCol: String, valueCol: String, lgK: Int = 12)
      extends FoldSession.InMemory("distinct count", sketches(stratumCol, valueCol, lgK)) {

    /** Current `(stratum, sketch)` state. */
    def sketches: Option[DataFrame] = Option(state())

    /** Current `(stratum, estimate)` — as of the last ingest. */
    def estimates: Option[DataFrame] = sketches.map(estimatesOf)

    def ingest(batch: DataFrame): DataFrame = {
      step(batch, 0L)
      estimatesOf(state())
    }
  }

  /** Durable session: per-batch `(stratum, sketch)` rows in a
    * [[DurableLedger]]; read-time `hll_union_agg` fold.
    */
  final class DurableDistinctCountSession(spark: SparkSession, ledgerPath: String,
      stratumCol: String, valueCol: String, lgK: Int = 12, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "distinct count", ledgerPath, compactEvery,
        sketches(stratumCol, valueCol, lgK)) {

    /** Committed per-batch sketch rows (pre-fold). */
    def committed: DataFrame = ledger()

    /** `(stratum, estimate)` over everything committed. */
    def estimates: DataFrame = estimatesOf(state())

    def ingest(batch: DataFrame, batchId: Long): DataFrame = {
      step(batch, batchId)
      estimates
    }
  }
}
