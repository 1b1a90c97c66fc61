package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.textops.CurationOps

/** Incrementally-maintained corpus-similarity matrix (q129 as a live
  * panel): the pairwise Jensen-Shannon divergence between per-group
  * (language/source/snapshot) unigram distributions, kept current as
  * the corpus streams in — the panel a mixing policy consults before
  * setting weights, and a drift alarm across EVERY group pair at once
  * (where [[StreamDrift]] watches one new-vs-reference axis).
  *
  * Exactness by sufficient statistics (the [[StreamPmi]] argument):
  * the matrix is a function of per-group word counts `(w, g, n)` —
  * ADDITIVE — so ledger-merged deltas derived through
  * [[CurationOps.jsDivergenceFromCounts]] equal the batch
  * [[CurationOps.jsDivergenceByGroup]] over everything ingested
  * EXACTLY: the per-word pair terms are rounded to micro fixed-point
  * BEFORE the cross-row sum, so even the doubles are reproduced
  * (exact long arithmetic from identical integer inputs).
  *
  * Durable twin: one `(w, g, n)` ledger of per-batch deltas (counts
  * are additive, not idempotent — a replayed batch id is a no-op under
  * [[FoldSession]]'s first-writer-wins commit), sum-folded at read;
  * compaction preserves the fold.
  */
object StreamJsd {
  import FoldSession.{Part, sumBy}

  private val CntSchema = StructType.fromDDL("w STRING, g STRING, n BIGINT")

  private def counts(groupCol: String, textCol: String) =
    Part(CurationOps.groupedUnigramCounts(_, groupCol, textCol),
      sumBy("w", "g")("n"), schema = CntSchema)

  /** In-memory session over a fixed group roster. */
  final class JsdSession(spark: SparkSession, groupCol: String,
      textCol: String, groupValues: Seq[String])
      extends FoldSession.InMemory("jsd", counts(groupCol, textCol)) {

    /** Current `(w, g, n)` count state (null before ingest). */
    def currentCounts: DataFrame = state()

    /** The divergence matrix as of the last ingest. */
    def currentJsd: DataFrame = CurationOps.jsDivergenceFromCounts(required("JSD"), groupValues)

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Durable session: per-batch `(w, g, n)` deltas under `path`. */
  final class DurableJsdSession(spark: SparkSession, path: String,
      groupCol: String, textCol: String, groupValues: Seq[String],
      compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "jsd", path, compactEvery,
        counts(groupCol, textCol)) {

    def currentCounts: DataFrame = state()

    def currentJsd: DataFrame =
      CurationOps.jsDivergenceFromCounts(
        currentCounts.localCheckpoint(), groupValues)

    /** Commit one batch's OWN deltas. */
    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
