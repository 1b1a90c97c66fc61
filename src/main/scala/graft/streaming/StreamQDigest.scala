package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sketch.QDigest

/** Incrementally-maintained q-digest (q155/q156 live) — the
  * percentile panel a pipeline watches while a corpus streams in
  * (doc-length drift is the first symptom of a scraper regression).
  *
  * Exactness by sufficient statistics, the strongest form available
  * for this sketch: the maintained state is the LEAF HISTOGRAM
  * (universe-bounded, ≤ 2^L keys — additive, so per-batch deltas merge
  * by sum), and the digest derives from it on read. That makes the
  * streamed digest EQUAL to the batch build over everything ingested —
  * bit-for-bit, not merely within the merge-error envelope that
  * digest-level folding ([[QDigest.merge]]) would give. State is the
  * universe size, not the corpus; a digest-level-state variant saves
  * nothing here because the histogram is already the smaller object.
  */
object StreamQDigest {
  import FoldSession.{Part, sumBy}

  /** Per-batch clamped leaf deltas `(v, cnt)`. */
  def leafDeltas(batch: DataFrame, valueCol: Column, logU: Int): DataFrame = {
    val u = 1L << logU
    batch
      .select(greatest(least(valueCol.cast("long"), lit(u - 1)), lit(0L)).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
  }

  private def digestFrom(spark: SparkSession, counts: DataFrame, logU: Int,
      k: Int): DataFrame = {
    import spark.implicits._
    val u = 1L << logU
    val leaves = counts.collect()
      .map(r => (u + r.getLong(0)) -> r.getLong(1)).toMap
    QDigest.compress(leaves, logU, k).toSeq.map { case (id, cnt) =>
      val (lo, hi) = QDigest.rangeOf(id, logU)
      (id, lo, hi, cnt)
    }.sortBy(_._1).toDF("id", "lo", "hi", "cnt")
  }

  private val CountSchema = StructType.fromDDL("v BIGINT, cnt BIGINT")

  private def leaves(valueCol: Column, logU: Int) =
    Part(leafDeltas(_, valueCol, logU), sumBy("v")("cnt"), schema = CountSchema)

  /** In-memory session: one localCheckpointed histogram frame. */
  final class QDigestSession(spark: SparkSession, valueCol: Column,
      logU: Int, k: Int) extends FoldSession.InMemory("q-digest", leaves(valueCol, logU)) {

    def currentCounts: DataFrame = state()

    /** The digest as of the last ingest — ≡ the batch
      * [[QDigest.digestTable]] over everything ingested.
      */
    def currentDigest: DataFrame = digestFrom(spark, required("digest"), logU, k)

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Per-batch clamped (group, leaf) deltas — the grouped session's
    * additive state unit.
    */
  def groupedLeafDeltas(batch: DataFrame, groupCol: Column,
      valueCol: Column, logU: Int): DataFrame = {
    val u = 1L << logU
    batch
      .select(groupCol.cast("string").as("g"),
        greatest(least(valueCol.cast("long"), lit(u - 1)), lit(0L)).as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
  }

  /** Grouped (per-host) session — q160 live: the state is the
    * (group, leaf) histogram (additive, so per-batch deltas merge by
    * sum; size ≤ hosts × 2^L keys and the DERIVATION never collects —
    * [[graft.sketch.QDigest.digestsFromGroupCounts]] compresses each
    * group where it sits). Streamed ≡ the batch
    * [[graft.sketch.QDigest.digestByGroup]] bit-for-bit, same
    * sufficient-statistics argument as the flat session, and the SAME
    * shared derivation code path.
    */
  final class GroupedQDigestSession(spark: SparkSession, groupCol: Column,
      valueCol: Column, logU: Int, k: Int)
      extends FoldSession.InMemory("q-digest by group",
        Part(groupedLeafDeltas(_, groupCol, valueCol, logU), sumBy("g", "v")("cnt"))) {

    def currentCounts: DataFrame = state()

    /** One digest per group ingested so far — ≡ the batch
      * [[graft.sketch.QDigest.digestByGroup]] over everything.
      */
    def currentDigests: DataFrame = {
      import spark.implicits._
      QDigest.digestsFromGroupCounts(
        required("digests").as[(String, Long, Long)], logU, k)
    }

    def ingest(batch: DataFrame): Unit = step(batch, 0L)
  }

  /** Durable session: per-batch histogram deltas in one sum-foldable
    * [[FoldSession]] ledger; compactable freely.
    */
  final class DurableQDigestSession(spark: SparkSession, path: String,
      valueCol: Column, logU: Int, k: Int, compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "q-digest", path, compactEvery,
        leaves(valueCol, logU)) {

    def currentCounts: DataFrame = state()

    def currentDigest: DataFrame =
      digestFrom(spark, currentCounts, logU, k)

    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)
  }
}
