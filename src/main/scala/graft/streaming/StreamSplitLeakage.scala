package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.textops.CurationOps

/** Incrementally-maintained train/eval split-leakage audit (q147 as a
  * live monitor) — the release gate a continuously-growing corpus
  * wants open all the time: the moment a new crawl batch lands a
  * fingerprint on the other side of a split boundary, the key surfaces
  * without re-auditing the corpus.
  *
  * Exactness by sufficient statistics (the [[StreamPmi]] argument):
  * split assignment is a pure hash of (seed, group), so every batch
  * assigns its own rows identically, and the audit is a function of
  * the per-key per-split counts — ADDITIVE, so merged per-batch
  * [[CurationOps.splitKeyCounts]] deltas + the
  * [[CurationOps.splitLeakageFromCounts]] filter equal the batch
  * [[CurationOps.splitLeakage]] over everything ingested EXACTLY (all
  * columns integer counts; nothing floats). State is keyed by the
  * fingerprint — bounded by DISTINCT keys, the same asymptote the
  * batch op's groupBy shuffles. Counts are additive / NOT idempotent:
  * the durable twin's replay safety is [[FoldSession]]'s
  * first-writer-wins commit, and compaction is a free sum-fold.
  */
object StreamSplitLeakage {
  import FoldSession.{Part, sumBy}

  private val CountSchema = StructType.fromDDL(
    "h STRING, n_train BIGINT, n_val BIGINT, n_test BIGINT, n_docs BIGINT")

  private def counts(idCol: String, groupCol: String, keyCol: Column,
      seed: String, trainPct: Int, valPct: Int) =
    Part(CurationOps.splitKeyCounts(_, idCol, groupCol, keyCol, seed, trainPct, valPct),
      sumBy("h")("n_train", "n_val", "n_test", "n_docs"), schema = CountSchema)

  /** In-memory session: one localCheckpointed count frame. */
  final class LeakageSession(spark: SparkSession, idCol: String,
      groupCol: String, keyCol: Column, seed: String,
      trainPct: Int = 80, valPct: Int = 10)
      extends FoldSession.InMemory("split leakage",
        counts(idCol, groupCol, keyCol, seed, trainPct, valPct)) {

    /** Current merged (h, n_train, n_val, n_test, n_docs) state. */
    def currentCounts: DataFrame = state()

    /** The leaked-key table as of the last ingest. */
    def currentLeakage: DataFrame = CurationOps.splitLeakageFromCounts(required("leakage"))

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Durable session: per-batch count deltas in one ledger under
    * `path`, sum-folded at read; compactable freely (sum is
    * associative); restart resumes from disk.
    */
  final class DurableLeakageSession(spark: SparkSession, path: String,
      idCol: String, groupCol: String, keyCol: Column, seed: String,
      trainPct: Int = 80, valPct: Int = 10, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "split leakage", path, compactEvery,
        counts(idCol, groupCol, keyCol, seed, trainPct, valPct)) {

    def currentCounts: DataFrame = state()

    def currentLeakage: DataFrame =
      CurationOps.splitLeakageFromCounts(currentCounts.localCheckpoint())

    /** Commit one batch's OWN deltas. */
    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
