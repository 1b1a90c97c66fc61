package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.textops.CurationOps

/** Incrementally-trained Kneser-Ney LMs (bigram AND trigram — the
  * order KenLM ships) for a document stream —
  * the continuously-retrained quality filter a live ingest pipeline
  * wants: as the curated corpus grows, the LM that scores NEW arrivals
  * ([[graft.textops.CurationOps.knDocFilter]]) keeps up without ever
  * re-reading history.
  *
  * Exactness by sufficient statistics: bigram COUNTS are additive, and
  * every KN quantity (context mass, fan-out, continuation counts, type
  * total, the smoothed probability) is a function of the count table —
  * so merging per-batch counts and deriving the LM
  * ([[CurationOps.knLmFromCounts]]) equals the batch
  * [[CurationOps.knBigramLm]] over the union EXACTLY, spec-pinned over
  * randomized splits. State is vocabulary²-bounded (bigram TYPES, not
  * tokens) and shrinks further in practice because merge collapses
  * repeats.
  *
  * Two session shapes, the engine's standard [[FoldSession]] pair:
  *
  *  - [[KnLmSession]] — driver-held localCheckpointed count frame;
  *  - [[DurableKnLmSession]] — per-batch count DELTAS in a
  *    [[DurableLedger]] (each directory holds one batch's own counts —
  *    deterministic from the batch alone; a replayed batch id is a
  *    first-writer-wins no-op), folded by `groupBy(w1, w2).sum(n)` at
  *    read; compactable freely ([[DurableLedger.compact]] preserves
  *    rows, and the fold is a sum over them).
  */
object StreamKnLm {
  import FoldSession.{Part, sumBy}

  private val TriSchema = StructType.fromDDL("w1 STRING, w2 STRING, w3 STRING, n BIGINT")
  private val BigSchema = StructType.fromDDL("w1 STRING, w2 STRING, n BIGINT")

  private def bigrams(textCol: String, dir: String) =
    Part(CurationOps.bigramCounts(_, textCol), sumBy("w1", "w2")("n"), dir, BigSchema)
  private def trigrams(textCol: String) =
    Part(CurationOps.trigramCounts(_, textCol), sumBy("w1", "w2", "w3")("n"), "tri", TriSchema)

  /** In-memory incremental LM session. */
  final class KnLmSession(spark: SparkSession, textCol: String, minCount: Int)
      extends FoldSession.InMemory("kn lm", bigrams(textCol, "")) {

    /** The current count state (null before any ingest). */
    def currentCounts: DataFrame = state()

    /** The LM as of the last ingest. */
    def currentLm: DataFrame = CurationOps.knLmFromCounts(required("LM"), minCount)

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Incrementally-trained TRIGRAM KN LM — the order KenLM ships and
    * q105 gates, so the deployed filter order retrains live. State is
    * the PAIR of sufficient statistics the batch derivation
    * ([[CurationOps.knTrigramLmFromCounts]]) consumes: trigram counts
    * and bigram counts, both additive.
    */
  final class KnTrigramLmSession(spark: SparkSession, textCol: String,
      minCount: Int)
      extends FoldSession.InMemory("kn trigram lm", trigrams(textCol), bigrams(textCol, "big")) {

    /** The current (trigram, bigram) count state (nulls before any
      * ingest).
      */
    def currentCounts: (DataFrame, DataFrame) = (state(0), state(1))

    /** The trigram LM as of the last ingest — EXACTLY the batch
      * [[CurationOps.knTrigramLm]] over everything ingested.
      */
    def currentLm: DataFrame = CurationOps.knTrigramLmFromCounts(required("LM"), state(1), minCount)

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** [[KnTrigramLmSession]] with both count tables as per-batch deltas
    * in TWO [[DurableLedger]]s (`<path>/tri`, `<path>/big`) — survives
    * restarts; each ledger's directory for a batch holds that batch's
    * own deterministic counts.
    */
  final class DurableKnTrigramLmSession(spark: SparkSession, path: String,
      textCol: String, minCount: Int, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "kn trigram lm", path, compactEvery,
        trigrams(textCol), bigrams(textCol, "big")) {

    def currentTriCounts: DataFrame = state(0)

    def currentBigCounts: DataFrame = state(1)

    def currentLm: DataFrame =
      CurationOps.knTrigramLmFromCounts(
        currentTriCounts, currentBigCounts, minCount)

    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }

  /** [[KnLmSession]] with per-batch count deltas in a
    * [[DurableLedger]] — survives restarts; `compactEvery > 0`
    * auto-folds the delta directories.
    */
  final class DurableKnLmSession(spark: SparkSession, path: String,
      textCol: String, minCount: Int, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "kn lm", path, compactEvery, bigrams(textCol, "")) {

    /** The committed count state: sum-fold over every delta. */
    def currentCounts: DataFrame = state()

    def currentLm: DataFrame =
      CurationOps.knLmFromCounts(currentCounts.localCheckpoint(), minCount)

    /** Commit one batch's OWN counts (deterministic from the batch
      * alone, so a replay would publish identical rows).
      */
    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
