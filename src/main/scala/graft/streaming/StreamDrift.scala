package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.textops.CurationOps

/** Incrementally-maintained corpus-drift monitor (q127 as a live
  * panel): the chi-square "what changed vs the reference crawl" table,
  * kept current as the NEW crawl streams in — the drift alarm a
  * curation pipeline watches to catch a scraper regression or a
  * topical shift before it pollutes a training mix.
  *
  * Exactness by sufficient statistics (the [[StreamPmi]] argument):
  * the drift table is a function of per-side word counts `(w, na, nb)`
  * — ADDITIVE — so merging per-batch deltas of the streaming side
  * against the fixed reference side and deriving via
  * [[CurationOps.corpusDriftFromCounts]] equals the batch
  * [[CurationOps.corpusDrift]] over (reference, everything-ingested)
  * EXACTLY, chi-square doubles included: same integer count inputs,
  * same fixed per-row op nest, no cross-row float accumulation.
  *
  * The streaming side is a one-part [[FoldSession]]; the reference
  * side is fixed. The durable twin keeps the reference side's counts in
  * a `ref/` ledger (seeded once at first construction) and the
  * streaming side's per-batch deltas in `new/`. Counts are additive,
  * not idempotent: a replayed batch id is a no-op under the ledger's
  * first-writer-wins commit. `new/` compacts freely (sum-fold
  * preserving); `ref/` holds one batch.
  */
object StreamDrift {
  import FoldSession.{Part, sumBy}

  private def refCountsOf(ref: DataFrame, textCol: String): DataFrame =
    CurationOps.unigramCounts(ref, textCol)
      .select(col("w"), col("nu").as("na"))

  private def mergedCounts(refCnt: DataFrame, newCnt: DataFrame): DataFrame =
    refCnt.select(col("w"), col("na"), lit(0L).as("nb"))
      .unionByName(newCnt.select(col("w"), lit(0L).as("na"), col("nb")))
      .groupBy(col("w"))
      .agg(sum(col("na")).as("na"), sum(col("nb")).as("nb"))

  private val RefSchema = StructType.fromDDL("w STRING, na BIGINT")

  /** The streaming side's word counts. */
  private def newCounts(textCol: String) =
    Part(CurationOps.unigramCounts(_, textCol).select(col("w"), col("nu").as("nb")),
      sumBy("w")("nb"), "new", StructType.fromDDL("w STRING, nb BIGINT"))

  /** In-memory session: the reference corpus's counts are fixed at
    * construction; each ingested batch folds its word counts into the
    * streaming side.
    */
  final class DriftSession(spark: SparkSession, ref: DataFrame,
      textCol: String, minTotal: Long = 10, k: Int = 30)
      extends FoldSession.InMemory("drift", newCounts(textCol)) {
    private val refCnt = refCountsOf(ref, textCol).localCheckpoint()

    /** Current `(reference, streaming)` count state (`null` streaming
      * side before any ingest). */
    def currentCounts: (DataFrame, DataFrame) = (refCnt, state())

    /** The drift table as of the last ingest. */
    def currentDrift: DataFrame =
      CurationOps.corpusDriftFromCounts(mergedCounts(refCnt, required("drift")),
        minTotal, k)

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Durable session over `path` (`ref/` + `new/` ledgers). The
    * reference side is seeded ONCE — a restart over an already-seeded
    * root ignores the constructor's `ref` frame and reads the ledger,
    * so the monitor's baseline is stable across sessions by
    * construction.
    */
  final class DurableDriftSession(spark: SparkSession, path: String,
      ref: => DataFrame, textCol: String, minTotal: Long = 10, k: Int = 30,
      compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "drift", path, compactEvery, newCounts(textCol)) {
    seedFixed("ref", refCountsOf(ref, textCol))

    def currentRefCounts: DataFrame =
      sumBy("w")("na")(DurableLedger.load(spark, s"$path/ref", RefSchema))

    def currentNewCounts: DataFrame = state()

    def currentDrift: DataFrame =
      CurationOps.corpusDriftFromCounts(
        mergedCounts(currentRefCounts.localCheckpoint(),
          currentNewCounts.localCheckpoint()),
        minTotal, k)

    /** Commit one batch's OWN word-count deltas. */
    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
