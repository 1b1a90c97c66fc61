package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.textops.CurationOps

/** Incrementally-maintained PMI collocation table (q126 as a live
  * panel) — the phrase/compound watch-list a tokenizer-vocabulary or
  * boilerplate pipeline keeps current as the corpus streams in.
  *
  * Exactness by sufficient statistics, the [[StreamKnLm]] argument:
  * PMI is a function of bigram counts `(w1, w2, n)` and unigram counts
  * `(w, nu)`, both ADDITIVE — so merging per-batch deltas and deriving
  * via [[CurationOps.pmiFromCounts]] equals the batch
  * [[CurationOps.pmiCollocations]] over everything ingested EXACTLY
  * (ranking, counts, and the ratio doubles — same integer inputs, same
  * op nest). The durable twin keeps BOTH ledgers under one root
  * (`big/`, `uni/` — the [[StreamKnLm.DurableKnTrigramLmSession]]
  * two-ledger layout), one [[FoldSession]] part each. Counts are
  * additive, not idempotent: a replayed batch id is a no-op under the
  * ledger's first-writer-wins commit.
  */
object StreamPmi {
  import FoldSession.{Part, sumBy}

  private val BigSchema = StructType.fromDDL("w1 STRING, w2 STRING, n BIGINT")
  private val UniSchema = StructType.fromDDL("w STRING, nu BIGINT")

  private def parts(textCol: String) = Seq(
    Part(CurationOps.bigramCounts(_, textCol), sumBy("w1", "w2")("n"), "big", BigSchema),
    Part(CurationOps.unigramCounts(_, textCol), sumBy("w")("nu"), "uni", UniSchema))

  /** In-memory session: two localCheckpointed count frames. */
  final class PmiSession(spark: SparkSession, textCol: String,
      minCount: Int = 5, k: Int = 30)
      extends FoldSession.InMemory("pmi", parts(textCol): _*) {

    /** Current `(bigram, unigram)` count state (null before ingest). */
    def currentCounts: (DataFrame, DataFrame) = (state(0), state(1))

    /** The PMI table as of the last ingest. */
    def currentPmi: DataFrame = CurationOps.pmiFromCounts(required("PMI"), state(1), minCount, k)

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Durable session: per-batch count deltas in two ledgers under
    * `path` (`big/`, `uni/`), sum-folded at read; compactable freely.
    */
  final class DurablePmiSession(spark: SparkSession, path: String,
      textCol: String, minCount: Int = 5, k: Int = 30, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "pmi", path, compactEvery, parts(textCol): _*) {

    def currentBigCounts: DataFrame = state(0)

    def currentUniCounts: DataFrame = state(1)

    def currentPmi: DataFrame =
      CurationOps.pmiFromCounts(
        currentBigCounts.localCheckpoint(), currentUniCounts.localCheckpoint(),
        minCount, k)

    /** Commit one batch's OWN deltas to both ledgers. */
    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
