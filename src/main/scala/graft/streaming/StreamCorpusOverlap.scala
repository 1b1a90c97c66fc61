package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.textops.NearDup

/** Streaming twin of [[graft.textops.CurationOps.corpusOverlapKmv]] —
  * a continuously-maintained bottom-k (KMV) sketch of the ingested
  * corpus's shingle-hash set, comparable at any batch boundary against
  * a reference corpus's sketch.
  *
  * Exactness, not approximation-of-an-approximation: for any h in the
  * bottom-k of A∪B, h ∈ A implies h is also in A's OWN bottom-k (were
  * k smaller elements of A to exist, they would all precede h in the
  * union too). So membership bits over the union sketch are fully
  * determined by the two per-corpus sketches, and [[estimate]] over
  * `(sketch(A), sketch(B))` equals the batch operator over (A, B)
  * EXACTLY — spec-pinned over randomized ingest splits. This is the
  * classic theta-sketch composability argument, and it is why per-dump
  * sketches can be archived and compared later without re-reading
  * anything.
  *
  * Scale shape: each micro-batch contributes at most k rows to the
  * driver (its own bottom-k via TakeOrdered after a
  * map-side-combined distinct); the session state is k longs. Merge is
  * union+sort+take — associative, commutative, idempotent, so replays
  * and out-of-order deliveries cannot corrupt it.
  * [[DurableOverlapSession]] persists it as a [[FoldSession]] ledger
  * for deployments that must survive restarts.
  */
object StreamCorpusOverlap {

  /** The overlap statistics row — identical fields, identical
    * fixed-order IEEE arithmetic to the batch operator's output.
    */
  final case class OverlapEstimate(
      sketchSize: Long, kthMin: Long, nBoth: Long, nA: Long, nB: Long,
      estJaccard: Double, estContainA: Double, estContainB: Double,
      estUnion: Double)

  private val TwoTo60 = 1.152921504606846976e18 // 2^60, exact in double

  /** Bottom-k distinct shingle hashes of a static frame, driver-side
    * sorted ascending (≤ k longs — control-plane sized by contract).
    */
  def sketch(df: DataFrame, textCol: String, k: Int,
      shingleWords: Int = 3): Vector[Long] =
    df.select(explode(NearDup.shinglesCol(col(textCol), shingleWords)).as("__s"))
      .select(NearDup.shingleHash60(col("__s")).as("h"))
      .distinct()
      .orderBy(col("h").asc)
      .limit(k)
      .collect().map(_.getLong(0)).toVector

  /** Union+re-min of two sketches (associative, commutative,
    * idempotent).
    */
  def merge(a: Vector[Long], b: Vector[Long], k: Int): Vector[Long] =
    (a ++ b).distinct.sorted.take(k)

  /** The KMV estimator over two per-corpus sketches — by the bottom-k
    * membership property this equals
    * [[graft.textops.CurationOps.corpusOverlapKmv]] over the full
    * corpora, field for field (same integer counts, same fixed-order
    * divisions).
    */
  def estimate(ka: Vector[Long], kb: Vector[Long], k: Int): OverlapEstimate = {
    val union = merge(ka, kb, k)
    val sa = ka.toSet
    val sb = kb.toSet
    val nBoth = union.count(h => sa(h) && sb(h)).toLong
    val nA = union.count(sa).toLong
    val nB = union.count(sb).toLong
    val size = union.size.toLong
    val kth = union.lastOption.getOrElse(0L)
    // zero-guard every division: comparing against an empty corpus (or
    // before any ingest) must yield defined 0.0 statistics, not 0/0 NaN
    def ratio(num: Long, den: Long): Double =
      if (den == 0L) 0.0 else num.toDouble / den.toDouble
    OverlapEstimate(
      sketchSize = size, kthMin = kth, nBoth = nBoth, nA = nA, nB = nB,
      estJaccard = ratio(nBoth, size),
      estContainA = ratio(nBoth, nA),
      estContainB = ratio(nBoth, nB),
      estUnion =
        if (size == k && kth != 0L) (size - 1).toDouble * TwoTo60 / kth.toDouble
        else size.toDouble)
  }

  /** Maintains the ingested corpus's sketch; compare against any
    * reference sketch at a batch boundary with [[overlapWith]]. The
    * state is a driver `Vector`, so the session only borrows
    * [[FoldSession]]'s `start`.
    */
  final class OverlapSession(textCol: String, k: Int, shingleWords: Int = 3)
      extends FoldSession {
    @volatile private var state: Vector[Long] = Vector.empty

    /** The corpus-so-far's bottom-k sketch (sorted ascending). */
    def currentSketch: Vector[Long] = state

    /** Fold one micro-batch's bottom-k into the state. */
    def ingest(batch: DataFrame): Unit =
      state = merge(state, sketch(batch, textCol, k, shingleWords), k)

    protected def step(batch: DataFrame, batchId: Long): Unit = ingest(batch)

    /** Overlap statistics vs a reference sketch (same k), exactly the
      * batch operator's row for (corpus-so-far, reference).
      */
    def overlapWith(reference: Vector[Long]): OverlapEstimate =
      estimate(state, reference, k)
  }

  private def sketchRows(spark: SparkSession, textCol: String, k: Int,
      shingleWords: Int)(batch: DataFrame): DataFrame = {
    import spark.implicits._
    sketch(batch, textCol, k, shingleWords).toDF("h")
  }

  /** [[OverlapSession]] with the sketch in a [[DurableLedger]] parquet
    * table — survives process restarts. Each batch commits its OWN
    * bottom-k contribution (a deterministic function of the batch
    * alone), and the current sketch is the re-min of every committed
    * directory — exact because merge is associative and idempotent,
    * which also means [[DurableLedger.compact]] folds these directories
    * freely (`compactEvery > 0` auto-folds at the end of each ingest).
    */
  final class DurableOverlapSession(spark: SparkSession,
      path: String, textCol: String, k: Int, shingleWords: Int = 3,
      compactEvery: Int = 0)
      extends FoldSession.Durable(spark, "corpus overlap", path, compactEvery,
        FoldSession.Part(sketchRows(spark, textCol, k, shingleWords),
          _.distinct().orderBy(col("h").asc).limit(k),
          schema = StructType.fromDDL("h BIGINT"))) {

    /** The committed corpus sketch: re-min over every batch directory. */
    def currentSketch: Vector[Long] =
      state().collect().map(_.getLong(0)).toVector

    def ingest(batch: DataFrame, batchId: Long): Unit = step(batch, batchId)

    def overlapWith(reference: Vector[Long]): OverlapEstimate =
      estimate(currentSketch, reference, k)
  }
}
